"""In-memory span tracer for the benchmark's traced run.

``Tracer.install`` wraps public functions of the engine in place
(module attributes and class methods, so internal calls through the
module are traced too). Each span records its inclusive wall time, its
self time (minus the traced spans it called), the *unit* it ran in (one
drop, one query pass, one maintenance round) and a Spark job group; a
nested span restores its parent's job group on exit. Job, stage and
task counts are read back per group through ``sc.statusTracker()`` once
the measured phase is over.
"""

from __future__ import annotations

import functools
import os
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager

_GROUP = "spark.jobGroup.id"


def disk_usage(root: str, sub: str | None = None) -> dict[tuple[int, int], int]:
    """``{(dev, inode): size}`` of every file under ``root[/sub]``."""
    out: dict[tuple[int, int], int] = {}
    top = os.path.join(root, sub) if sub else root
    for d, _dirs, files in os.walk(top):
        for f in files:
            try:
                st = os.stat(os.path.join(d, f))
            except FileNotFoundError:
                continue
            out[(st.st_dev, st.st_ino)] = st.st_size
    return out


def written(before: dict, after: dict) -> tuple[int, int]:
    """(bytes, files) new or grown between two ``disk_usage`` snapshots."""
    nbytes = files = 0
    for k, size in after.items():
        old = before.get(k)
        if old is None:
            nbytes += size
            files += 1
        elif size > old:
            nbytes += size - old
    return nbytes, files


class Tracer:
    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.units: list[tuple[str, str]] = []  # (kind, job group)
        self.unit_kind: str | None = None
        self.active: list[str] = []
        self._n = 0
        self._children: list[float] = []
        self._patches: list[tuple[object, str, object]] = []

    # -- job groups ----------------------------------------------------------

    def _enter_group(self, desc: str) -> tuple[str, str | None]:
        self._n += 1
        gid = f"cdcbench-{self._n}"
        parent = self.sc.getLocalProperty(_GROUP)
        self.sc.setJobGroup(gid, desc)
        return gid, parent

    def _exit_group(self, parent: str | None) -> None:
        self.sc.setLocalProperty(_GROUP, parent)

    @contextmanager
    def unit(self, kind: str):
        """Attribute every span and Spark job inside to one unit of ``kind``."""
        gid, parent = self._enter_group(kind)
        self.units.append((kind, gid))
        self.unit_kind = kind
        try:
            yield
        finally:
            self.unit_kind = None
            self._exit_group(parent)

    # -- spans ---------------------------------------------------------------

    def span(self, name: str, fn, disk=None):
        """Wrap ``fn``; ``disk(args, kwargs) -> (root, sub)`` adds written bytes/files."""

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if self.unit_kind is None:
                return fn(*args, **kwargs)
            t_in = time.perf_counter()
            where = disk(args, kwargs) if disk else None
            before = disk_usage(*where) if where and where[0] else None
            gid, parent = self._enter_group(name)
            rec = {
                "name": name,
                "unit": len(self.units) - 1,
                "group": gid,
                "outer": name not in self.active,
            }
            self.active.append(name)
            self._children.append(0.0)
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                t1 = time.perf_counter()
                self.active.pop()
                rec["s"] = t1 - t0
                rec["self_s"] = rec["s"] - self._children.pop()
                self._exit_group(parent)
                if before is not None:
                    rec["bytes"], rec["files"] = written(before, disk_usage(*where))
                t_out = time.perf_counter()
                rec["book_s"] = (t0 - t_in) + (t_out - t1)
                if self._children:  # the parent's self time excludes all of this call
                    self._children[-1] += t_out - t_in
                self.spans.append(rec)

        return wrapper

    def install(self, targets: list[tuple[object, str, str, object]]) -> None:
        """Patch ``(owner, attr, span name, disk)`` entries in place."""
        for owner, attr, name, disk in targets:
            orig = getattr(owner, attr)
            self._patches.append((owner, attr, orig))
            setattr(owner, attr, self.span(name, orig, disk))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    # -- read-back -----------------------------------------------------------

    def spark_counts(self, groups: list[str]) -> dict[str, int]:
        st = self.sc.statusTracker()
        jobs = stages = tasks = failed = 0
        for g in groups:
            for jid in st.getJobIdsForGroup(g):
                info = st.getJobInfo(jid)
                if info is None:
                    continue
                jobs += 1
                for sid in info.stageIds:
                    s = st.getStageInfo(sid)
                    if s is None:
                        continue
                    stages += 1
                    tasks += s.numTasks
                    failed += s.numFailedTasks
        return {"jobs": jobs, "stages": stages, "tasks": tasks, "failed_tasks": failed}

    def unit_counts(self, kind: str) -> list[dict[str, int]]:
        """Spark job/stage/task counts of every unit of ``kind``."""
        groups: dict[int, list[str]] = defaultdict(list)
        for i, (_k, g) in enumerate(self.units):
            groups[i].append(g)
        for rec in self.spans:
            groups[rec["unit"]].append(rec["group"])
        return [
            self.spark_counts(groups[i]) for i, (k, _g) in enumerate(self.units) if k == kind
        ]

    def bookkeeping(self, kind: str) -> list[float]:
        """Per unit of ``kind``: time spent in the wrappers outside wrapped calls."""
        sums: dict[int, float] = defaultdict(float)
        for rec in self.spans:
            sums[rec["unit"]] += rec["book_s"]
        return [sums.get(i, 0.0) for i, (k, _g) in enumerate(self.units) if k == kind]

    def per_unit(self, kind: str, names: set[str], field: str = "self_s") -> list[float]:
        """Per unit of ``kind``: summed ``field`` of the spans in ``names``.

        Self times add up over every span; inclusive fields (bytes, files)
        only over the outermost span of a name, so nesting counts once."""
        sums: dict[int, float] = defaultdict(float)
        idx = [i for i, (k, _g) in enumerate(self.units) if k == kind]
        for rec in self.spans:
            if rec["name"] in names and (field == "self_s" or rec["outer"]):
                sums[rec["unit"]] += rec.get(field, 0)
        return [sums.get(i, 0.0) for i in idx]

    def median(self, kind: str, names: set[str], field: str = "self_s") -> float:
        vals = self.per_unit(kind, names, field)
        return statistics.median(vals) if vals else 0.0

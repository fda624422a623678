#!/usr/bin/env python3
"""CDC-lake benchmark: the paper's pipeline end to end.

    python3 cdcbench/run.py --workload cdc_managed --seed 1 --seconds 15 --trace 0

Run from the root of a checkout that holds the engine package. One run:

1. set-up: start the Spark session, generate the seeded base table, warm
   up a small throwaway copy of every target (load, warm-up drops, one
   query pass, one maintenance round), then load the measured targets;
2. measure for ``--seconds``: whole cycles of CDC drops (each landed one
   at a time, then applied to every target) -> query pass -> maintenance,
   as many as fit (at least one);
3. check every target table against the DuckDB oracle over the same drops.

The last stdout line is the JSON result; a run record (drop-stream
shape, sample counts, load average, host CPU steal) goes to stderr.
``--trace 1`` wraps the engine's layer boundaries in spans
(``spans.py``) for the measured phase and prints the per-layer metrics
instead of the end-to-end ones. All files live under ``.cdcbench_work/``
in the checkout and are removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
from contextlib import nullcontext
from dataclasses import dataclass

import numpy as np

from drops import PROFILES, DropStream, scaled, write_parquet
from metrics import E2E, PER_LAYER
from oracle import COLS, expected, mismatches
from spans import Tracer, disk_usage, written

# The modules that import the engine (``targets`` and the engine itself)
# load only after ``_env`` has put the checkout on ``sys.path``.
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE = "automation_of_building_a_transactional_data_lake_spark"


@dataclass(frozen=True)
class Workload:
    drops_per_cycle: int
    # Warm-up drops per target: where per-drop time levelled off on a
    # 4-vCPU host (the run record keeps each warm-up drop's time).
    warmup_drops: int


WORKLOADS = {
    "cdc_managed": Workload(drops_per_cycle=3, warmup_drops=2),
    "cdc_foreign": Workload(drops_per_cycle=1, warmup_drops=1),
}


def _env(work: str) -> None:
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(work, "spark-warehouse")
    # Spark's Python workers (the interop writers' pandas UDFs) import the
    # engine by name.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # Every JVM (Spark's launcher too) keeps its temp files in the work dir
    # and writes no perf-data file under /tmp.
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    sys.path[:0] = [ROOT, HERE]


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _rss_mb(jvm_pid: int) -> float:
    def hwm(pid) -> int:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        return int(line.split()[1])
        except OSError:
            pass
        return 0

    return (hwm(os.getpid()) + hwm(jvm_pid)) / 1024.0


def _cpu_ticks() -> tuple[int, int]:
    """(steal, total) ticks of this machine's CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def _descendants(pid: int) -> set[int]:
    """Pids of every live process below ``pid``."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = set(), [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.add(c)
            todo.append(c)
    return out


class Bench:
    def __init__(self, name: str, seed: int, work: str, scale: float = 1.0) -> None:
        self.name = name
        self.wl = WORKLOADS[name]
        self.profile = scaled(PROFILES[name], scale)
        self.work = work
        self.stream = DropStream(self.profile, seed)
        # The warm-up lake is a tenth of the size: cold cost is per call, not per row.
        self.warm_stream = DropStream(scaled(self.profile, 0.1), seed + 7919)
        self.drop_dir = os.path.join(work, "drops")
        os.makedirs(self.drop_dir)
        self.applied: list[str] = []
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.tracer = None

    # -- set-up ----------------------------------------------------------------

    def start(self) -> None:
        t = time.perf_counter()
        from automation_of_building_a_transactional_data_lake_spark.session import (
            SessionFactory,
        )

        self.spark = SessionFactory(
            master="local[4]",
            shuffle_partitions=4,
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
                "spark.driver.memory": "1g",
                "spark.local.dir": os.environ["TMPDIR"],
                # The engine's default points java.io.tmpdir at /tmp; the
                # work dir's JAVA_TOOL_OPTIONS setting applies instead.
                "spark.driver.extraJavaOptions": "",
            },
        ).create()
        self.spark.sparkContext.setLogLevel("ERROR")
        self.start_s = time.perf_counter() - t
        from pyspark import SparkContext

        self.jvm = SparkContext._gateway.proc

    def targets(self, lake: str) -> list:
        from targets import ForeignTarget, ManagedTarget

        if self.name == "cdc_foreign":
            return [ForeignTarget(self.spark, f, lake) for f in ("delta", "iceberg", "hudi")]
        return [ManagedTarget(self.spark, f, lake) for f in ("cow", "mor")]

    def setup(self) -> None:
        """Everything before the measured phase; ``setup_s`` is its wall time."""
        t0 = time.perf_counter()
        self.base_file = os.path.join(self.work, "base.parquet")
        write_parquet(self.stream.base(), self.base_file)
        self.hot = int(0.75 * self.profile.base_rows)

        # Warm-up: the measured calls, on a small throwaway lake fed by its
        # own stream: the warm-up drops, then one query pass and one
        # maintenance round, so no measured call is the first of its kind.
        # Targets warm up one after another: concurrent warm-ups made the
        # set-up time bimodal.
        t = time.perf_counter()
        lake = os.path.join(self.work, "warm")
        warm_base = os.path.join(self.work, "warm-base.parquet")
        write_parquet(self.warm_stream.base(), warm_base)
        warm_drops = []
        for i in range(self.wl.warmup_drops):
            warm_drops.append(os.path.join(self.work, f"warm-{i:05d}.parquet"))
            write_parquet(self.warm_stream.next_batch(), warm_drops[-1])

        def warm_up(target) -> list[float]:
            target.load(warm_base)
            took = []
            for f in warm_drops:
                t_drop = time.perf_counter()
                target.land(f)
                target.apply()
                took.append(time.perf_counter() - t_drop)
            self._query_pass([target], lambda df: df.collect())
            target.maintain()
            return took

        self.warm_s = [warm_up(target) for target in self.targets(lake)]
        shutil.rmtree(lake)
        self.warmup_s = time.perf_counter() - t

        self.tg = self.targets(os.path.join(self.work, "lake"))
        for target in self.tg:
            target.load(self.base_file)
        self.setup_s = self.start_s + (time.perf_counter() - t0)

    # -- measured phase -------------------------------------------------------

    def _unit(self, kind: str):
        return self.tracer.unit(kind) if self.tracer else nullcontext()

    def measure(self, seconds: float) -> dict:
        """Whole cycles of drops -> query pass -> maintenance for ``seconds``."""
        m = {k: [] for k in ("batch_s", "rows_in", "rows_out", "query_s", "read_s",
                             "maintain_s", "space_amp", "deltas_live", "side")}
        m["written"] = m["drop_bytes"] = 0
        dirs = [d for t in self.tg for d in t.dirs]
        collect = (
            self.tracer.span("sql.exec", lambda df: df.collect())
            if self.tracer
            else (lambda df: df.collect())
        )
        t_start = time.perf_counter()
        while True:
            t_cycle = time.perf_counter()
            for _ in range(self.wl.drops_per_cycle):
                f = os.path.join(self.drop_dir, f"drop-{self.stream.batches:05d}.parquet")
                drop = self.stream.next_batch()
                size = write_parquet(drop, f)
                before = {d: disk_usage(d) for d in dirs}
                with self._unit("batch"):
                    t = time.perf_counter()
                    for target in self.tg:
                        target.land(f)
                    for target in self.tg:
                        self.attempted += 1
                        try:
                            m["rows_out"].append(target.apply())
                        except Exception as exc:  # noqa: BLE001 - counted, reported
                            self.failed += 1
                            self.errors.append(f"apply {f}: {exc!r}"[:300])
                    m["batch_s"].append(time.perf_counter() - t)
                self.applied.append(f)
                m["rows_in"].append(drop.num_rows)
                m["written"] += sum(written(before[d], disk_usage(d))[0] for d in dirs)
                m["drop_bytes"] += size * len(self.tg)
            with self._unit("query"):
                m["deltas_live"].append(sum(t.deltas_live() for t in self.tg))
                m["side"].append({k: v for t in self.tg for k, v in t.side_files().items()})
                results, files, read_s = self._query_pass(self.tg, collect)
                m["read_s"].append(read_s)
                m["query_s"].append(sum(read_s.values()))
            self._check_pass(results)
            live = sum(os.path.getsize(p.removeprefix("file:")) for p in files)
            on_disk = sum(sum(disk_usage(d).values()) for d in dirs)
            m["space_amp"].append(on_disk / max(1, live))
            with self._unit("maintain"):
                t = time.perf_counter()
                for target in self.tg:
                    target.maintain()
                m["maintain_s"].append(time.perf_counter() - t)
            # Whole cycles only: stop unless another one fits in ``seconds``.
            now = time.perf_counter()
            if now + (now - t_cycle) > t_start + seconds:
                return m

    def _query_pass(self, tg: list, collect) -> tuple[list, set, dict]:
        """Run the query set on every table.

        Returns the full-scan results, the files the snapshot reads, and per
        target the wall time to plan and collect its queries (the listing of
        input files is not timed)."""
        from targets import QUERIES

        first, files, took = [], set(), {}
        for target in tg:
            took[target.name] = 0.0
            for ref in target.refs.values():
                for i, q in enumerate(QUERIES):
                    t = time.perf_counter()
                    df = target.sql.sql(q.format(t=ref, hot=self.hot))
                    rows = collect(df)
                    took[target.name] += time.perf_counter() - t
                    if i == 0:
                        first.append((ref, rows))
                        files.update(df.inputFiles())
        return first, files, took

    def _check_pass(self, results) -> None:
        """The full-scan query must see exactly the stream's live rows."""
        s = self.stream
        live = s.alive[: s.next_key]
        n, total = int(live.sum()), float(np.round(s.price[: s.next_key][live].sum(), 2))
        for ref, rows in results:
            self.attempted += 1
            got_n, got_s = rows[0]["n"], float(rows[0]["s"])
            if got_n != n or abs(got_s - total) > 1e-9 * abs(total) + 0.02:
                self.failed += 1
                self.errors.append(f"query {ref}: ({got_n}, {got_s}) != ({n}, {total})")

    # -- correctness ------------------------------------------------------------

    def verify(self) -> list[dict]:
        want = expected(self.base_file, self.applied)
        out = []
        for target in self.tg:
            for name in target.refs:
                self.attempted += 1
                bad = mismatches(target.read(name).select(*COLS).toPandas(), want)
                out.append({"table": name, "rows": len(want), "mismatched_rows": bad})
                if bad:
                    self.failed += 1
                    self.errors.append(f"oracle {name}: {bad} rows differ")
        return out

    def stop(self) -> None:
        """Stop Spark and wait until the JVM and its Python workers have exited."""
        workers = _descendants(self.jvm.pid)
        self.spark.stop()
        from pyspark import SparkContext

        gw = SparkContext._gateway
        if gw is not None:
            gw.shutdown()
        self.jvm.stdin.close()
        self.jvm.wait(timeout=60)
        deadline = time.monotonic() + 30
        while any(os.path.exists(f"/proc/{p}") for p in workers):
            if time.monotonic() > deadline:
                raise TimeoutError(f"Spark workers still running: {sorted(workers)}")
            time.sleep(0.1)


def end_to_end(b: Bench, m: dict) -> dict:
    rows = sum(m["rows_in"])
    return {
        "setup_s": b.setup_s,
        "cdc_rows_per_s": rows / sum(m["batch_s"]),
        "cdc_batch_p50_s": _median(m["batch_s"]),
        "query_s": _median(m["query_s"]),
        "maintain_s": _median(m["maintain_s"]),
        "write_amp": m["written"] / max(1, m["drop_bytes"]),
        "space_amp": _median(m["space_amp"]),
        "peak_rss_mb": _rss_mb(b.jvm.pid),
    }


def per_layer(b: Bench, m: dict) -> dict:
    tr = b.tracer
    B, Q, M = "batch", "query", "maintain"
    # metric -> (unit kind, span names, span field); see metrics.PER_LAYER
    from_spans = {
        "ledger.new_files_s": (B, ["ledger.new_files"], "self_s"),
        "ledger.commit_s": (B, ["ledger.commit"], "self_s"),
        "cdc.dedup_s": (B, ["cdc.dedup"], "self_s"),
        "pipeline.cdc_load_self_s": (B, ["pipeline.cdc_load"], "self_s"),
        "delta.merge_s": (B, ["delta.merge"], "self_s"),
        "iceberg.merge_s": (B, ["iceberg.merge"], "self_s"),
        "hudi.write_s": (B, ["hudi.write"], "self_s"),
        "delta.metadata_bytes": (B, ["delta.merge"], "bytes"),
        "iceberg.metadata_bytes": (B, ["iceberg.merge"], "bytes"),
        "hudi.metadata_bytes": (B, ["hudi.write"], "bytes"),
        "sql.plan_s": (Q, ["sql.plan"], "self_s"),
        "sql.exec_s": (Q, ["sql.exec"], "self_s"),
    }
    for fmt in ("cow", "mor"):
        merges = [f"{fmt}.merge_upsert", f"{fmt}.merge_delete"]
        from_spans[f"{fmt}.bytes_written"] = (B, merges, "bytes")
        for op in ("merge_upsert", "merge_delete"):
            from_spans[f"{fmt}.{op}_s"] = (B, [f"{fmt}.{op}"], "self_s")
        for op in ("compact", "vacuum"):
            from_spans[f"{fmt}.{op}_s"] = (M, [f"{fmt}.{op}"], "self_s")
    from_spans["cow.files_written"] = (B, ["cow.merge_upsert", "cow.merge_delete"], "files")
    for fmt in ("delta", "iceberg", "hudi"):
        from_spans[f"{fmt}.maintain_s"] = (M, [f"{fmt}.maintain"], "self_s")

    out = {k: tr.median(kind, set(names), field) for k, (kind, names, field) in from_spans.items()}
    out.update(
        {
            "session.start_s": b.start_s,
            "session.warmup_s": b.warmup_s,
            "cdc.rows_in": _median(m["rows_in"]),
            "cdc.rows_out": _median(m["rows_out"]),
            "mor.deltas_live": _median(m["deltas_live"]),
            "trace.cdc_batch_p50_s": _median(m["batch_s"]),
            "trace.overhead_s": _median(tr.bookkeeping(B)),
        }
    )
    for fmt in ("cow", "mor", "delta", "iceberg", "hudi"):
        out[f"{fmt}.read_s"] = _median([r.get(fmt, 0.0) for r in m["read_s"]])
    for key in ("delta.dv_files", "iceberg.delete_files", "hudi.log_files"):
        out[key] = _median([s.get(key, 0) for s in m["side"]])
    counts = {kind: tr.unit_counts(kind) for kind in (B, Q, M)}
    for k in ("jobs", "stages", "tasks"):
        out[f"spark.{k}"] = _median([c[k] for c in counts[B]])
    out["spark.failed_tasks"] = sum(c["failed_tasks"] for cs in counts.values() for c in cs)
    out["spark.query_jobs"] = _median([c["jobs"] for c in counts[Q]])
    out["spark.maintain_jobs"] = _median([c["jobs"] for c in counts[M]])
    return out


def install_tracer(b: Bench):
    from automation_of_building_a_transactional_data_lake_spark import pipeline
    from automation_of_building_a_transactional_data_lake_spark.formats import interop
    from automation_of_building_a_transactional_data_lake_spark.formats.parquet_cow import (
        ParquetCowTable,
    )
    from automation_of_building_a_transactional_data_lake_spark.formats.parquet_mor import (
        ParquetMorTable,
    )
    from automation_of_building_a_transactional_data_lake_spark.operators import cdc
    from automation_of_building_a_transactional_data_lake_spark.sources.ledger import FileLedger
    from automation_of_building_a_transactional_data_lake_spark.sql import LakeSQL

    def table_dir(a, kw):
        return a[0].path, None

    def meta(sub):
        return lambda a, kw: (kw.get("table_path", a[1] if len(a) > 1 else None), sub)

    spans = [
        (FileLedger, "new_files", "ledger.new_files", None),
        (FileLedger, "commit", "ledger.commit", None),
        (pipeline, "op_telemetry", "cdc.dedup", None),
        (cdc, "op_telemetry", "cdc.dedup", None),
        (pipeline, "cdc_load", "pipeline.cdc_load", None),
        (LakeSQL, "sql", "sql.plan", None),
        (interop, "merge_delta", "delta.merge", meta("_delta_log")),
        (interop, "merge_iceberg", "iceberg.merge", meta("metadata")),
        (interop, "write_hudi", "hudi.write", meta(".hoodie")),
        (interop, "compact_delta", "delta.maintain", None),
        (interop, "vacuum_delta", "delta.maintain", None),
        (interop, "compact_iceberg", "iceberg.maintain", None),
        (interop, "expire_iceberg_snapshots", "iceberg.maintain", None),
        (interop, "compact_hudi", "hudi.maintain", None),
    ]
    for cls, fmt in ((ParquetCowTable, "cow"), (ParquetMorTable, "mor")):
        for attr in ("merge_upsert", "merge_delete"):
            spans.append((cls, attr, f"{fmt}.{attr}", table_dir))
        for attr in ("compact", "vacuum"):
            spans.append((cls, attr, f"{fmt}.{attr}", None))
    b.tracer = Tracer(b.spark)
    b.tracer.install(spans)


def run(args, work: str) -> tuple[dict, dict]:
    record = {"workload": args.workload, "seed": args.seed, "loadavg_1m": os.getloadavg()[0]}
    b = Bench(args.workload, args.seed, work, args.scale)
    b.start()
    try:
        b.setup()
        if args.trace:
            install_tracer(b)
        steal0, total0 = _cpu_ticks()
        m = b.measure(args.seconds)
        steal1, total1 = _cpu_ticks()
        # CPU time the hypervisor took from this machine while measuring:
        # a run with a high share was slowed by the host, not the code.
        record["host_steal_share"] = (steal1 - steal0) / max(1, total1 - total0)
        if args.trace:
            b.tracer.uninstall()
            values, defs = per_layer(b, m), PER_LAYER
        else:
            values, defs = end_to_end(b, m), E2E
        record["oracle"] = b.verify()
    finally:
        b.stop()
    record.update(
        stream=b.stream.stats(),
        setup={"start_s": b.start_s, "warmup_s": b.warmup_s, "warm_drop_s": b.warm_s},
        samples={
            "drops": len(m["batch_s"]),
            "query_passes": len(m["query_s"]),
            "maintenance_rounds": len(m["maintain_s"]),
        },
        batch_s=m["batch_s"],
        query_s=m["query_s"],
        maintain_s=m["maintain_s"],
        errors=b.errors,
    )
    result = {
        "correct": b.failed == 0,
        "attempted": b.attempted,
        "failed": b.failed,
        "metrics": {k: {"value": values[k], "unit": defs[k][0]} for k in defs},
    }
    return record, result


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # Shrinks base table and drops, for the benchmark's own tests.
    ap.add_argument("--scale", type=float, default=1.0, help=argparse.SUPPRESS)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, ENGINE)):
        print(f"cdcbench: no {ENGINE}/ beside cdcbench/; run from a checkout", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".cdcbench_work", str(os.getpid()))
    os.makedirs(work)
    try:
        _env(work)
        record, result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    print(json.dumps(record), file=sys.stderr)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())

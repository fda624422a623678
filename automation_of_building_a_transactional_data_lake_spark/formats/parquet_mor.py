"""Merge-on-read parquet table format (Hudi MoR semantics).

Where the CoW backend (``parquet_cow``) rewrites affected files on
every merge, MoR appends a small **delta log** per merge and defers the
reconciliation to read time:

- ``merge_upsert`` / ``merge_delete`` write only the batch rows (plus
  an op marker and a monotonically increasing sequence number) — write
  cost is O(batch), independent of table size.
- ``read`` reconciles base ∪ deltas with latest-sequence-wins per key
  (the same ``dedupe_latest`` machinery the CDC pipeline uses) and
  drops keys whose latest marker is a delete.
- ``compact`` folds all deltas into a new base — the read-cost debt is
  repaid in one bounded job (Hudi's compaction / the reference's
  missing maintenance story, SURVEY §4).

Layout and commit protocol (single-writer, atomic pointer, same as CoW):

```
<warehouse>/<db>/<table>/
  _LATEST              committed snapshot number (write-temp + rename)
  _snapshots/N.json    {"base": "b00000001", "deltas": ["d00000002", ...]}
  b00000001/           base parquet (full rows)
  d00000002/           delta parquet (batch rows + __mor_op/__mor_seq)
```

A crashed merge leaves an unreferenced delta directory; ``vacuum``
removes anything no retained snapshot references.

Scale: the write path is append-only (no read-modify-write shuffle at
all); the read path adds one hash shuffle on the primary key over
base+deltas, which AQE sizes. The CoW-vs-MoR trade is per-table: CDC
tables with hourly micro-batches want MoR + scheduled compaction;
read-heavy analytics tables want CoW. Both sit behind
``formats.base.TableFormat``, mirroring the reference's one-switch
format selection (``cdk.json:87``).
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.cdc import dedupe_latest
from ..session import local_frame
from ..spec import TableSpec
from .atomic import replace_file
from .parquet_cow import ConcurrentWriteError, ConstraintViolation, MergeError

_LATEST = "_LATEST"
_SNAP_DIR = "_snapshots"
_REFS = "_refs.json"
_OP = "__mor_op"
_SEQ = "__mor_seq"


class ParquetMorTable:
    """One managed merge-on-read table under a warehouse directory.

    ``deletion_vectors=True`` switches the table to POSITION-DELETE
    reconciliation (Iceberg v2 position deletes / Delta deletion
    vectors, r6 verdict #6): each merge records the file-relative row
    positions of the base rows it supersedes (one bounded semi-join
    scan of the base at WRITE time), and the read path drops those
    positions with an anti-join on (file, row_index) — the per-key
    latest-wins window then runs over the DELTAS ONLY, never the base.
    At 100 TB that turns read reconcile from an O(table) hash shuffle
    into a positional skip plus an O(deltas) window. ``None`` (default)
    re-opens an existing table in the mode that created it."""

    # Set on views returned by ``branch()``: commits/reads resolve
    # through the named branch ref instead of _LATEST (CoW parity —
    # r7 verdict #5 lifted the CoW-only restriction).
    _branch: str | None = None

    def __init__(
        self,
        spark: SparkSession,
        warehouse: str,
        spec: TableSpec,
        deletion_vectors: bool | None = None,
    ) -> None:
        if spec.partition_transform:
            raise NotImplementedError(
                f"{spec.qualified_name}: hidden partitioning (partition_transform) "
                "is CoW-only; use format='cow' or an identity partition_key"
            )
        self.spark = spark
        self.warehouse = warehouse
        self.spec = spec
        self.path = os.path.join(warehouse, spec.database, spec.table_name)
        meta_path = os.path.join(self.path, "_format.json")
        recorded: bool | None = None
        try:
            with open(meta_path, encoding="utf-8") as f:
                recorded = bool(json.load(f).get("deletion_vectors"))
        except (OSError, ValueError):
            recorded = None
        if deletion_vectors is None:
            deletion_vectors = recorded if recorded is not None else False
        elif recorded is not None and bool(deletion_vectors) != recorded:
            # The reconciliation mode is a PROPERTY OF THE TABLE'S DATA
            # (earlier deltas either recorded position deletes or they
            # did not); silently honoring a different constructor flag
            # would resurrect superseded base rows (r7 advisory).
            raise ValueError(
                f"{spec.qualified_name}: table was created with "
                f"deletion_vectors={recorded}; opening it with "
                f"deletion_vectors={bool(deletion_vectors)} would "
                "misreconcile existing deltas — omit the argument to use "
                "the recorded mode"
            )
        self.deletion_vectors = bool(deletion_vectors)

    # -- commit protocol ---------------------------------------------------

    def _latest_path(self) -> str:
        return os.path.join(self.path, _LATEST)

    def exists(self) -> bool:
        return os.path.isfile(self._latest_path())

    def _snapshot(self, n: int | None = None) -> dict:
        if n is None:
            if self._branch is not None:
                refs = self._read_refs()
                if self._branch not in refs["branches"]:
                    raise KeyError(
                        f"branch {self._branch!r} does not exist on "
                        f"{self.spec.qualified_name}"
                    )
                n = refs["branches"][self._branch]["head"]
            else:
                with open(self._latest_path(), encoding="ascii") as f:
                    n = int(f.read().strip())
        with open(os.path.join(self.path, _SNAP_DIR, f"{n}.json"), encoding="utf-8") as f:
            snap = json.load(f)
        snap["n"] = n
        return snap

    def current_snapshot(self) -> dict | None:
        if not self.exists():
            return None
        return self._snapshot()

    def _next_n(self) -> int:
        """Allocate from the GLOBAL sequence (snapshot jsons + data
        directory numbers): branch and main commits interleave without
        colliding, same as the CoW version allocation."""
        hi = 0
        snap_dir = os.path.join(self.path, _SNAP_DIR)
        if os.path.isdir(snap_dir):
            for fname in os.listdir(snap_dir):
                if fname.endswith(".json") and fname[:-5].isdigit():
                    hi = max(hi, int(fname[:-5]))
        if os.path.isdir(self.path):
            for entry in os.listdir(self.path):
                if entry[:1] in "bd" and entry[1:].isdigit():
                    hi = max(hi, int(entry[1:]))
        return hi + 1

    def _commit(self, snap: dict, n: int | None = None) -> int:
        if n is None:
            n = self._next_n()
        os.makedirs(os.path.join(self.path, _SNAP_DIR), exist_ok=True)
        spath = os.path.join(self.path, _SNAP_DIR, f"{n}.json")
        with open(spath, "w", encoding="utf-8") as f:
            json.dump({k: v for k, v in snap.items() if k != "n"}, f)
        if self._branch is not None:
            # Branch commits move only the branch head ref — main
            # readers never observe them until publish_branch.
            refs = self._read_refs()
            if self._branch not in refs["branches"]:
                raise KeyError(
                    f"branch {self._branch!r} does not exist on "
                    f"{self.spec.qualified_name}"
                )
            refs["branches"][self._branch]["head"] = n
            self._write_refs(refs)
            return n
        replace_file(self._latest_path(), str(n))
        return n

    # -- write path --------------------------------------------------------

    def _write_meta(self) -> None:
        """Record the owning format so a catalog with a different
        default still opens this table with MoR reconciliation."""
        os.makedirs(self.path, exist_ok=True)
        meta = {
            "table": self.spec.table_name,
            "database": self.spec.database,
            "primary_key": self.spec.primary_key,
            "partition_key": self.spec.partition_key,
            "format": "mor",
            "deletion_vectors": self.deletion_vectors,
        }
        # Persist write-side invariants so name-resolved writers enforce
        # them (same contract as the CoW meta; r7 advisory).
        if self.spec.version_key:
            meta["version_key"] = self.spec.version_key
        if self.spec.constraints:
            meta["constraints"] = list(self.spec.constraints)
        with open(os.path.join(self.path, "_format.json"), "w", encoding="utf-8") as f:
            json.dump(meta, f, indent=2)

    def _write_dir(self, df: DataFrame, name: str) -> str:
        d = os.path.join(self.path, name)
        df.sortWithinPartitions(self.spec.primary_key).write.mode("overwrite").parquet(d)
        return d

    def create(
        self, df: DataFrame, if_not_exists: bool = True, snapshot_meta: dict | None = None
    ) -> bool:
        if self.exists():
            if if_not_exists:
                return False
            raise FileExistsError(self.spec.qualified_name)
        self._check_constraints(df)
        self._write_meta()
        n = self._next_n()
        base = f"b{n:08d}"
        self._write_dir(df, base)
        self._commit(
            {"base": base, "deltas": [], "meta": snapshot_meta, "op": "create", "parent": 0},
            n,
        )
        return True

    def overwrite(self, df: DataFrame, snapshot_meta: dict | None = None) -> None:
        self._check_constraints(df)
        self._write_meta()
        cur = self.current_snapshot()
        n = self._next_n()
        base = f"b{n:08d}"
        self._write_dir(df, base)
        self._commit(
            {
                "base": base,
                "deltas": [],
                "meta": snapshot_meta,
                "op": "overwrite",
                "parent": cur["n"] if cur else 0,
            },
            n,
        )

    def snapshot_meta(self, version: int | None = None) -> dict | None:
        """Caller metadata committed atomically with the snapshot json
        (same contract as ParquetCowTable.snapshot_meta)."""
        if not self.exists():
            return None
        return self._snapshot(version).get("meta")

    def _check_unique_keys(self, src: DataFrame) -> None:
        pk = self.spec.primary_key
        dup = src.groupBy(pk).count().filter(F.col("count") > 1).limit(1).collect()
        if dup:
            raise MergeError(
                f"merge source has multiple rows for key {dup[0][pk]!r}; "
                "dedupe_latest the batch first"
            )

    def _check_constraints(self, df: DataFrame) -> None:
        """Same CHECK semantics as the CoW backend: reject before any
        delta/base is written."""
        if not self.spec.constraints:
            return
        violated = None
        for e in self.spec.constraints:
            v = ~F.expr(e)
            violated = v if violated is None else violated | v
        bad = df.filter(violated).limit(1).collect()
        if bad:
            raise ConstraintViolation(
                f"{self.spec.qualified_name}: CHECK constraint(s) "
                f"{list(self.spec.constraints)} violated by row {bad[0].asDict()!r}"
            )

    # Driver-side bound on per-merge position collection in DV mode:
    # positions are O(matched keys) = O(batch), the same order as the
    # CDC batch itself, but a pathological backfill should fail loudly
    # rather than balloon the driver.
    dv_collect_limit = 1_000_000

    def _base_positions(self, cur: dict, keys: DataFrame) -> dict[str, list[int]]:
        """File-relative row positions of base rows whose key appears in
        ``keys`` — the write-time scan that makes read-time reconcile
        positional (what an Iceberg v2 writer does to emit position
        deletes). One column-pruned semi-join over the base; collected
        rows are bounded by the batch's matched-key count."""
        pk = self.spec.primary_key
        base = self.spark.read.parquet(os.path.join(self.path, cur["base"])).select(
            F.col(pk),
            F.element_at(F.split(F.col("_metadata.file_path"), "/"), -1).alias("__f"),
            F.col("_metadata.row_index").alias("__i"),
        )
        hits = base.join(keys.select(pk).distinct(), pk, "left_semi").select("__f", "__i")
        rows = hits.limit(self.dv_collect_limit + 1).collect()
        if len(rows) > self.dv_collect_limit:
            raise MergeError(
                f"{self.spec.qualified_name}: deletion-vector merge matched more "
                f"than dv_collect_limit={self.dv_collect_limit} base rows; use a "
                "classic merge-on-read table (or compact first) for backfills "
                "this wide"
            )
        out: dict[str, list[int]] = {}
        for r in rows:
            out.setdefault(r["__f"], []).append(int(r["__i"]))
        return out

    def _append_delta(
        self, rows: DataFrame, op: str, snapshot_meta: dict | None = None
    ) -> None:
        cur = self.current_snapshot()
        if cur is None:
            raise FileNotFoundError(f"table {self.spec.qualified_name} does not exist")
        seq = self._next_n()
        delta = f"d{seq:08d}"
        self._write_dir(
            rows.withColumn(_OP, F.lit(op)).withColumn(_SEQ, F.lit(seq).cast("long")),
            delta,
        )
        snap = {
            "base": cur["base"],
            "deltas": cur["deltas"] + [delta],
            "meta": snapshot_meta if snapshot_meta is not None else cur.get("meta"),
            "op": "merge",
            "parent": cur["n"],
        }
        if self.deletion_vectors:
            # Superseded base rows become position deletes, committed
            # atomically with the delta in the snapshot json; earlier
            # DVs for the same files merge by position union.
            dvs = {k: set(v) for k, v in (cur.get("dvs") or {}).items()}
            for fname, pos in self._base_positions(cur, rows).items():
                dvs.setdefault(fname, set()).update(pos)
            snap["dvs"] = {k: sorted(v) for k, v in sorted(dvs.items())}
        self._commit(snap, seq)

    def merge_upsert(self, src: DataFrame, snapshot_meta: dict | None = None) -> None:
        """O(batch) append: the merge itself is deferred to read/compact."""
        self._check_constraints(src)
        self._check_unique_keys(src)
        self._append_delta(src, "U", snapshot_meta)

    def merge_delete(self, src: DataFrame, snapshot_meta: dict | None = None) -> None:
        pk = self.spec.primary_key
        self._append_delta(src.select(pk).distinct(), "D", snapshot_meta)

    # -- named refs (tags — CoW parity, r7 verdict #4) ---------------------

    def _read_refs(self) -> dict:
        try:
            with open(os.path.join(self.path, _REFS), encoding="utf-8") as f:
                raw = json.load(f)
        except (OSError, ValueError):
            raw = {}
        return {
            "tags": dict(raw.get("tags", {})),
            "branches": {k: dict(v) for k, v in raw.get("branches", {}).items()},
        }

    def _write_refs(self, refs: dict) -> None:
        replace_file(os.path.join(self.path, _REFS), json.dumps(refs))

    def tags(self) -> dict[str, int]:
        """All named tags: ``{name: snapshot}`` (same contract as the
        CoW backend's Iceberg-tag surface)."""
        return self._read_refs()["tags"]

    def create_tag(self, name: str, version: int | None = None) -> int:
        """Pin a committed snapshot under a name; tagged snapshots (and
        every base/delta directory they reference) survive ``vacuum``
        regardless of ``retain_last``. Returns the pinned snapshot."""
        self._require_main("create_tag")
        cur = self.current_snapshot()
        if cur is None:
            raise FileNotFoundError(f"table {self.spec.qualified_name} does not exist")
        v = cur["n"] if version is None else int(version)
        if v > cur["n"] or not os.path.isfile(
            os.path.join(self.path, _SNAP_DIR, f"{v}.json")
        ):
            raise FileNotFoundError(
                f"cannot tag snapshot {v} of {self.spec.qualified_name}: not a "
                f"committed snapshot (latest: {cur['n']})"
            )
        refs = self._read_refs()
        if name in refs["tags"]:
            raise ValueError(
                f"tag {name!r} already exists at snapshot {refs['tags'][name]}; "
                "delete_tag first (tags are immutable by design)"
            )
        refs["tags"][name] = v
        self._write_refs(refs)
        return v

    def delete_tag(self, name: str) -> None:
        refs = self._read_refs()
        if name not in refs["tags"]:
            raise KeyError(f"tag {name!r} does not exist")
        del refs["tags"][name]
        self._write_refs(refs)

    # -- branches (write-audit-publish — CoW parity, r7 verdict #5) --------

    def _require_main(self, op: str) -> None:
        if self._branch is not None:
            raise ValueError(
                f"{op} must run on the main table, not the "
                f"{self._branch!r} branch view"
            )

    def branches(self) -> dict[str, dict]:
        """All branches: ``{name: {"head": n, "base": n}}`` (``base``
        is the main snapshot the branch forked from)."""
        return self._read_refs()["branches"]

    def create_branch(self, name: str) -> int:
        """Fork a branch at the current main head: commits through the
        ``branch(name)`` view move only the branch head ref — main
        readers never observe them until ``publish_branch``. Returns
        the fork snapshot."""
        self._require_main("create_branch")
        cur = self.current_snapshot()
        if cur is None:
            raise FileNotFoundError(f"table {self.spec.qualified_name} does not exist")
        refs = self._read_refs()
        if name in refs["branches"]:
            raise ValueError(f"branch {name!r} already exists")
        refs["branches"][name] = {"head": cur["n"], "base": cur["n"]}
        self._write_refs(refs)
        return cur["n"]

    def branch(self, name: str) -> "ParquetMorTable":
        """A view of this table whose reads and commits resolve through
        the named branch ref. Every write path (merge, overwrite,
        compact) works unchanged; snapshot numbers come from the shared
        global sequence so branch and main commits never collide."""
        self._require_main("branch")
        if name not in self._read_refs()["branches"]:
            raise KeyError(
                f"branch {name!r} does not exist on {self.spec.qualified_name}"
            )
        view = object.__new__(type(self))
        view.__dict__.update(self.__dict__)
        view._branch = name
        return view

    def drop_branch(self, name: str) -> None:
        """Abandon a branch; its unpublished snapshots become
        vacuumable."""
        self._require_main("drop_branch")
        refs = self._read_refs()
        if name not in refs["branches"]:
            raise KeyError(f"branch {name!r} does not exist")
        del refs["branches"][name]
        self._write_refs(refs)

    def publish_branch(self, name: str) -> int:
        """Write-audit-publish: fast-forward main to the audited branch
        head and retire the branch — one atomic pointer move (Iceberg
        ``fast_forward``). Raises ``ConcurrentWriteError`` when main
        advanced past the fork point (publishing would silently drop
        those commits — re-branch and replay)."""
        self._require_main("publish_branch")
        refs = self._read_refs()
        if name not in refs["branches"]:
            raise KeyError(f"branch {name!r} does not exist")
        b = refs["branches"][name]
        cur = self.current_snapshot()
        if cur is None or cur["n"] != b["base"]:
            raise ConcurrentWriteError(
                f"{self.spec.qualified_name}: main advanced from "
                f"snapshot {b['base']} to {cur['n'] if cur else 0} since "
                f"branch {name!r} forked; publishing would drop those "
                "commits — re-branch and replay"
            )
        replace_file(self._latest_path(), str(b["head"]))
        del refs["branches"][name]
        self._write_refs(refs)
        return b["head"]

    # -- read path ---------------------------------------------------------

    def read(self, version: int | None = None, tag: str | None = None) -> DataFrame:
        """Reconcile base ∪ deltas: latest sequence wins per key;
        delete markers drop the key. One hash shuffle on the pk.
        ``version`` time-travels to any retained snapshot; ``tag``
        resolves a named ref (CoW-parity surface)."""
        if tag is not None:
            if version is not None:
                raise ValueError("pass version= or tag=, not both")
            known = self.tags()
            if tag not in known:
                raise KeyError(
                    f"tag {tag!r} does not exist on {self.spec.qualified_name} "
                    f"(known: {sorted(known)})"
                )
            version = known[tag]
        if not self.exists():
            raise FileNotFoundError(f"table {self.spec.qualified_name} does not exist")
        snap = self._snapshot(version)
        if self.deletion_vectors:
            return self._read_dv(snap)
        base = (
            self.spark.read.parquet(os.path.join(self.path, snap["base"]))
            .withColumn(_OP, F.lit("U"))
            .withColumn(_SEQ, F.lit(0).cast("long"))
        )
        merged = base
        for delta in snap["deltas"]:
            d = self.spark.read.parquet(os.path.join(self.path, delta))
            merged = merged.unionByName(d, allowMissingColumns=True)
        if snap["deltas"]:
            merged = dedupe_latest(merged, key=self.spec.primary_key, ts_col=_SEQ)
            merged = merged.filter(F.col(_OP) != "D")
        return merged.drop(_OP, _SEQ)

    def _read_dv(self, snap: dict) -> DataFrame:
        """Position-delete reconciliation: base rows at DV'd
        (file, row_index) positions are skipped with one broadcast
        anti-join — NO key hash of the base — and the latest-wins
        window runs over the deltas alone (every base row a delta
        supersedes is already position-deleted). Read cost: positional
        skip over the base + O(deltas) window, vs the classic path's
        O(base + deltas) shuffle."""
        base = self.spark.read.parquet(os.path.join(self.path, snap["base"]))
        dvs = snap.get("dvs") or {}
        if dvs:
            dv_rows = [(f, i) for f, ps in dvs.items() for i in ps]
            dv_df = local_frame(self.spark, dv_rows, "__f string, __i long")
            base = (
                base.withColumn(
                    "__f", F.element_at(F.split(F.col("_metadata.file_path"), "/"), -1)
                )
                .withColumn("__i", F.col("_metadata.row_index"))
                .join(F.broadcast(dv_df), ["__f", "__i"], "left_anti")
                .drop("__f", "__i")
            )
        if not snap["deltas"]:
            return base
        deltas = None
        for delta in snap["deltas"]:
            d = self.spark.read.parquet(os.path.join(self.path, delta))
            deltas = d if deltas is None else deltas.unionByName(d, allowMissingColumns=True)
        winners = (
            dedupe_latest(deltas, key=self.spec.primary_key, ts_col=_SEQ)
            .filter(F.col(_OP) != "D")
            .drop(_OP, _SEQ)
        )
        return base.unionByName(winners, allowMissingColumns=True)

    def dv_stats(self, version: int | None = None) -> dict:
        """Deletion-vector telemetry: how many base files carry DVs and
        the total positions skipped at read (the numRowsSkipped the
        operator watches to schedule compaction)."""
        snap = self._snapshot(version)
        dvs = snap.get("dvs") or {}
        return {"files": len(dvs), "positions": sum(len(v) for v in dvs.values())}

    def fsck(self, deep: bool = False) -> list[dict]:
        """Integrity audit (CoW twin's contract, MoR shape): every
        retained snapshot's base and delta directories must exist;
        ``deep=True`` additionally opens every referenced parquet
        footer. Returns findings [{"severity", "kind", "detail"}];
        empty = healthy. Never mutates."""
        findings: list[dict] = []

        def err(kind: str, detail: str) -> None:
            findings.append({"severity": "error", "kind": kind, "detail": detail})

        if not self.exists():
            err("missing_pointer", "table has no committed _LATEST pointer")
            return findings
        snap_dir = os.path.join(self.path, _SNAP_DIR)
        for fname in sorted(os.listdir(snap_dir)) if os.path.isdir(snap_dir) else []:
            if not fname.endswith(".json"):
                continue
            try:
                with open(os.path.join(snap_dir, fname), encoding="utf-8") as f:
                    snap = json.load(f)
            except (OSError, ValueError) as ex:
                err("unreadable_snapshot", f"{fname}: {ex}")
                continue
            for d in [snap.get("base"), *snap.get("deltas", [])]:
                full = os.path.join(self.path, d or "")
                if not d or not os.path.isdir(full):
                    err("dangling_dir", f"{fname} references missing {d!r}")
                elif deep:
                    import pyarrow.parquet as pq

                    for root, _dirs, files in os.walk(full):
                        for pf in files:
                            if not pf.endswith(".parquet") or pf.startswith(("_", ".")):
                                continue
                            try:
                                pq.ParquetFile(os.path.join(root, pf)).metadata
                            except Exception as ex:  # noqa: BLE001
                                err("unreadable_file", f"{d}/{pf}: {ex}")
        try:
            self.current_snapshot()
        except (OSError, ValueError) as ex:
            err("dangling_pointer", str(ex))
        return findings

    def register_temp_view(self, name: str | None = None) -> str:
        view = name or f"{self.spec.database}__{self.spec.table_name}"
        self.read().createOrReplaceTempView(view)
        return view

    # -- maintenance -------------------------------------------------------

    def compact(self) -> None:
        """Fold all deltas into a new base (Hudi compaction)."""
        cur = self.current_snapshot()
        if cur is None or not cur["deltas"]:
            return
        n = self._next_n()
        base = f"b{n:08d}"
        self._write_dir(self.read(), base)
        self._commit(
            {
                "base": base,
                "deltas": [],
                "meta": cur.get("meta"),
                "op": "compact",
                "parent": cur["n"],
            },
            n,
        )

    def history(self) -> list[dict]:
        """DESCRIBE HISTORY equivalent: retained snapshots with their
        base and delta references, oldest first."""
        cur = self.current_snapshot()
        if cur is None:
            return []
        out = []
        for n in range(1, cur["n"] + 1):
            try:
                s = self._snapshot(n)
            except FileNotFoundError:
                continue
            out.append(
                {
                    "version": n,
                    "base": s["base"],
                    "n_deltas": len(s["deltas"]),
                    "is_current": n == cur["n"],
                }
            )
        return out

    def row_count(self, version: int | None = None) -> int:
        """COUNT(*) — metadata-fast when the snapshot has NO deltas
        (sum of base footer row counts; compaction restores this state),
        exact reconcile otherwise. Honest contract: a merge-on-read
        snapshot's live row count is not derivable from footers alone —
        deltas overwrite and delete keys — so the fast path exists
        exactly when the read path is also cheapest."""
        import pyarrow.parquet as pq

        if not self.exists():
            raise FileNotFoundError(f"table {self.spec.qualified_name} does not exist")
        snap = self._snapshot(version)
        if not snap["deltas"] and not snap.get("dvs"):
            total = 0
            bdir = os.path.join(self.path, snap["base"])
            for root, _dirs, files in os.walk(bdir):
                for fname in files:
                    if fname.endswith(".parquet") and not fname.startswith(("_", ".")):
                        total += pq.ParquetFile(os.path.join(root, fname)).metadata.num_rows
            return total
        return self.read(version=version).count()

    def metadata_table(self, kind: str) -> DataFrame:
        """Queryable metadata (CoW parity, MoR shape): ``"files"`` lists
        the head snapshot's base AND delta parquet files with their role,
        ``"history"`` the retained snapshots, ``"refs"`` the tags."""
        if kind == "files":
            cur = self.current_snapshot()
            if cur is None:
                raise FileNotFoundError(
                    f"table {self.spec.qualified_name} does not exist"
                )
            import pyarrow.parquet as pq

            rows = []
            for d, role in [(cur["base"], "base")] + [
                (x, "delta") for x in cur["deltas"]
            ]:
                full = os.path.join(self.path, d)
                for root, _dirs, files in os.walk(full):
                    for fname in files:
                        if not fname.endswith(".parquet") or fname.startswith(("_", ".")):
                            continue
                        fpath = os.path.join(root, fname)
                        rows.append(
                            (
                                os.path.relpath(fpath, self.path),
                                role,
                                os.path.getsize(fpath),
                                pq.ParquetFile(fpath).metadata.num_rows,
                            )
                        )
            return local_frame(
                self.spark, rows, "path string, role string, bytes long, rows long"
            )
        if kind == "history":
            return local_frame(
                self.spark,
                [
                    (h["version"], h["base"], h["n_deltas"], h["is_current"])
                    for h in self.history()
                ],
                "version long, base string, n_deltas long, is_current boolean",
            )
        if kind == "refs":
            return local_frame(
                self.spark,
                [("tag", name, v) for name, v in sorted(self.tags().items())],
                "kind string, name string, version long",
            )
        raise ValueError(f"unknown metadata table {kind!r}; choose files|history|refs")

    def vacuum(self, retain_last: int = 1) -> list[str]:
        """Remove data directories no retained snapshot references.
        Tagged snapshots are pinned regardless of ``retain_last`` —
        their snapshot jsons stay readable and every base/delta
        directory they reference survives (CoW tag semantics)."""
        self._require_main("vacuum")
        cur = self.current_snapshot()
        if cur is None:
            return []
        keep_snaps = set(range(max(1, cur["n"] - retain_last + 1), cur["n"] + 1))
        keep_snaps |= set(self.tags().values())
        # Live branches pin their head (the readable state) and base
        # (the publish conflict check needs it to stay resolvable).
        for b in self.branches().values():
            keep_snaps |= {b["head"], b["base"]}
        referenced: set[str] = set()
        for n in sorted(keep_snaps):
            try:
                s = self._snapshot(n)
            except FileNotFoundError:
                continue
            referenced.add(s["base"])
            referenced.update(s["deltas"])
        removed: list[str] = []
        # Retire the snapshot JSONs of swept snapshots FIRST: a snapshot
        # whose base/delta dirs are gone is unreadable anyway, and a
        # lingering json would read as a dangling reference in fsck.
        snap_dir = os.path.join(self.path, _SNAP_DIR)
        for fname in sorted(os.listdir(snap_dir)) if os.path.isdir(snap_dir) else []:
            if not fname.endswith(".json"):
                continue
            try:
                n = int(fname[:-5])
            except ValueError:
                continue
            if n < cur["n"] and n not in keep_snaps:
                os.unlink(os.path.join(snap_dir, fname))
                removed.append(f"{_SNAP_DIR}/{fname}")
        for entry in sorted(os.listdir(self.path)):
            if entry[0] in "bd" and entry[1:].isdigit() and entry not in referenced:
                shutil.rmtree(os.path.join(self.path, entry))
                removed.append(entry)
        return removed

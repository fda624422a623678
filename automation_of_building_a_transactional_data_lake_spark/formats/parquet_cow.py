"""Versioned copy-on-write parquet table format.

The reference delegates transactional upsert/delete to an open table
format (Hudi CoW — ``src/hudi/hudi-initial-load.py:71``; Iceberg v2 —
``src/iceberg/iceberg-initial-load.py:64``; Delta —
``src/delta/delta-cdc-load.py:118-141``). None of those format jars are
available in this environment, so this module implements the same
capability surface natively on Spark + parquet:

- **W1/W2/W4** ``create`` / ``overwrite``: partitioned bulk write
  (reference ``src/delta/delta-initial-load.py:61-78``).
- **W3/O2** write clustering: repartition by partition key +
  ``sortWithinPartitions`` before write (reference
  ``src/iceberg/iceberg-initial-load.py:87-92``'s ``INSERT ... ORDER BY``).
- **W5/W6/J1** ``merge_upsert``: MERGE semantics ``WHEN MATCHED UPDATE
  SET * WHEN NOT MATCHED INSERT *`` (reference
  ``src/iceberg/iceberg-cdc-load.py:127-134``).
- **W7/W8** ``merge_delete``: ``WHEN MATCHED THEN DELETE`` (reference
  ``src/delta/delta-cdc-load.py:135-141``).
- **W10** ``generate_manifest``: symlink-style data-file manifest for
  external engines (reference ``cdk_stacks/glue_stack.py:262-279``).
- **S4** ``read``: snapshot read of the committed version.
- Maintenance: ``compact`` (small-file rewrite) and ``vacuum`` (drop
  unreferenced versions) — the reference's north-star gap (SURVEY §4).

Commit protocol (optimistic concurrency — stronger than the
reference, which simply serializes writers with
``max_concurrent_runs=1`` — ``cdk_stacks/glue_stack.py:156-158``):

```
<warehouse>/<db>/<table>/
  _LATEST            text file holding the committed version number;
                     published with ``atomic.replace_file`` (fsynced
                     temp file, then os.replace) — readers never
                     observe a partial commit
  _refs.json         named refs: tags pinning snapshot versions
                     (Iceberg tag semantics; vacuum never drops a
                     tagged version)
  v00000001/         immutable version directory of parquet data files
  v00000002/         (hive-partitioned subdirs when partition_key set)
  .staging-<uuid>/   writer-private staging; renamed to v<n> at commit
```

Every write stages into an anonymous ``.staging-*`` directory, then
``_promote`` — under an ``O_EXCL`` lock file — verifies the table head
still equals the snapshot the write was computed from, renames staging
to the next version, and advances the pointer. A stale writer gets
``ConcurrentWriteError`` and its staging is discarded: the
Delta ``ConcurrentModificationException`` / Iceberg commit-conflict
semantics. A crashed job leaves at most an orphaned staging directory
that ``_LATEST`` never references; the next ``vacuum`` removes it. On
S3 the same protocol works with a conditional PUT of the pointer
object.

Scale design (100 TB, 1000 executors):

- MERGE rewrites only **affected partitions**: the partitions that
  contain a matched key (found with a column-pruned scan of
  ``(pk, partition_key)`` joined against the source keys) plus the
  partitions the source rows land in. Unaffected partition files are
  carried into the new version via hard links — metadata-only, no data
  movement, exactly how Delta/Iceberg snapshots reference unchanged
  files. An update that *moves* a row across partitions is handled
  because its old partition contains a matched key and is therefore
  rewritten.
- The source side of a CDC merge is a deduped micro-batch — orders of
  magnitude smaller than the target — so the anti-join broadcasts
  (AQE decides; no hint needed).
- Unpartitioned tables fall back to full copy-on-write, the same
  behavior as Delta CoW on an unpartitioned table.
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile
import time
import uuid
from contextlib import contextmanager, suppress
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import local_frame
from ..spec import TableSpec
from .atomic import replace_file
from .transforms import parse_transform

# Version directories deliberately do NOT start with "_": Hadoop's path
# filter treats "_"/"." prefixes as hidden, which is exactly right for
# the metadata files (_LATEST, _format.json, _ledger) but would make
# data directories invisible to readers.
_LATEST = "_LATEST"
_REFS = "_refs.json"
_VERSION_PREFIX = "v"
_META = "_format.json"
_SNAPSHOT_META = "_snapshot.json"
_FILE_STATS = "_file_stats.json"
_BLOOM_FILE = "_bloom.json"
# Write-time change-data capture (Delta CDF's _change_data analog):
# every MERGE stages the deduped batch under <version>/_changelog/
# with a __change_op marker ('U'|'D'), committing atomically with the
# data — the streaming change feed then reads commits' changelogs like
# the MoR delta log, O(batch) extra write cost, no read-time diff.
# _commit_op.json records WHAT KIND of commit each version was so the
# feed can skip no-logical-change commits (create/compact/alter) and
# fail loudly on ones it cannot represent (overwrite).
_CHANGELOG_DIR = "_changelog"
_COMMIT_OP = "_commit_op.json"
_CHANGE_OP = "__change_op"
# Per-file, per-column bloom parameters: 8192 bits (1 KiB) / 5 hashes
# gives a false-positive rate of ~(n*k/m)^k ≈ 8e-5 at 250 distinct
# values per file and degrades gracefully for bigger files; a false
# positive only costs one extra file open, never a wrong result.
_BLOOM_M = 8192
_BLOOM_K = 5
_MANIFEST_DIR = "_symlink_manifest"
_COMMIT_LOCK = "_commit.lock"
# Per-version commit provenance: {"base": <version this commit was
# computed from>, "touched": [<partition dir segments rewritten>] | null}.
# null touched = the commit may have rewritten anything (full rewrite,
# unpartitioned merge, compaction) — it can neither be rebased nor be
# rebased over. Powers disjoint-partition concurrent commits (X82).
_TOUCHED = "_touched.json"
# Per-version logical schema mapping (Iceberg field-ID semantics without
# parquet field IDs): {"columns": [{"id", "name", "physical", "type"}],
# "dropped_physical": [...]}. The PHYSICAL name of a field is frozen at
# first write; ALTER RENAME moves only the logical name (metadata-only —
# old files keep serving the field), ALTER DROP removes the entry and
# tombstones the physical name so a later same-named column can never
# resurrect old bytes, ALTER ADD appends a null-backed entry. Each
# version carries ITS mapping, so time travel reads every snapshot under
# the schema it was committed with (X85).
_SCHEMA = "_schema.json"


class MergeError(RuntimeError):
    """Raised when a merge precondition fails (e.g. duplicate source
    keys — the condition Delta/Iceberg MERGE also rejects)."""


class ConstraintViolation(ValueError):
    """A written batch contains rows violating one of the table's
    CHECK constraints (Delta `delta.constraints.*` semantics: the
    whole transaction is rejected, nothing is staged)."""


class ConcurrentWriteError(RuntimeError):
    """Optimistic-concurrency conflict: another writer committed a
    version after this write's snapshot was read (or holds the commit
    lock right now). The caller's staged result was based on stale
    data and has been discarded — re-read and retry, exactly like a
    Delta ConcurrentModificationException / Iceberg commit conflict."""


@dataclass(frozen=True)
class TableVersion:
    version: int
    path: str


def _read_json_or_none(path: str):
    try:
        with open(path, encoding="utf-8") as f:
            return json.load(f)
    except (OSError, ValueError):
        return None


def _fmt_version(n: int) -> str:
    return f"{_VERSION_PREFIX}{n:08d}"


def _iter_data_files(top: str):
    """(root, fname) for every data parquet under ``top``, PRUNING
    hidden directories ("_"/"." prefixes — _changelog lives there) the
    same way Spark's file index does, so metadata walks and the scan
    agree on what "the data" is."""
    for root, dirs, files in os.walk(top):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        for fname in files:
            if fname.endswith(".parquet") and not fname.startswith(("_", ".")):
                yield root, fname


_HIVE_DEFAULT_PARTITION = "__HIVE_DEFAULT_PARTITION__"
# The character set Hive/Spark escape in partition path segments
# (ExternalCatalogUtils.escapePathName): these plus control chars.
_HIVE_ESCAPE_CHARS = set('"#%\'*/:=?\\{[]^')


def _escape_partition_value(v) -> str:
    """Render a partition value exactly as Spark names the hive
    directory segment: null -> __HIVE_DEFAULT_PARTITION__, booleans
    lowercase, reserved chars %XX-escaped. Needed so the link-forward
    skip set matches what is actually on disk."""
    if v is None:
        return _HIVE_DEFAULT_PARTITION
    if isinstance(v, bool):
        return "true" if v else "false"
    s = str(v)
    out = []
    for ch in s:
        if ch in _HIVE_ESCAPE_CHARS or ord(ch) < 0x20 or ord(ch) == 0x7F:
            out.append(f"%{ord(ch):02X}")
        else:
            out.append(ch)
    return "".join(out)


class ParquetCowTable:
    """One managed copy-on-write table under a warehouse directory."""

    #: A merge touching more distinct partitions than this falls back to
    #: a full rewrite: the partition-pruned path costs O(affected) on
    #: the driver (value list, isin literal filter, link-forward skip
    #: set) — right for a CDC batch hitting a handful of partitions,
    #: pathological for a year-wide backfill into a date-partitioned
    #: table (10k-literal IN plan + 10k-entry skip set, while rewriting
    #: ~everything anyway). Tune per table scale; Delta's equivalent
    #: trade is OPTIMIZE-style full rewrites vs file-level conflicts.
    max_affected_partitions: int = 1024

    def __init__(self, spark: SparkSession, warehouse: str, spec: TableSpec) -> None:
        self.spark = spark
        self.warehouse = warehouse
        self.spec = spec
        self.path = os.path.join(warehouse, spec.database, spec.table_name)
        # Iceberg-style hidden partitioning: the layout partitions on a
        # DERIVED column (days(ts), bucket(16, id), ...) that exists
        # only in hive directory names — never in data files or query
        # results. Identity partitioning (spec.partition_key) keeps its
        # existing behavior; the two are mutually exclusive (spec
        # validation).
        self._transform = (
            parse_transform(spec.partition_transform) if spec.partition_transform else None
        )

    @property
    def _part_name(self) -> str | None:
        """Physical partition column name: the identity key, the
        transform's derived name, or None (unpartitioned)."""
        if self._transform is not None:
            return self._transform.name
        return self.spec.partition_key

    @property
    def _hidden_part(self) -> bool:
        return self._transform is not None

    def _with_part_col(self, df: DataFrame) -> DataFrame:
        """Ensure the derived partition column is present (no-op for
        identity partitioning or when already derived)."""
        if self._transform is None or self._transform.name in df.columns:
            return df
        dtype = dict(df.dtypes).get(self._transform.source)
        if dtype is None:
            raise ValueError(
                f"{self.spec.qualified_name}: partition transform source "
                f"column {self._transform.source!r} missing from batch"
            )
        return df.withColumn(self._transform.name, self._transform.expr(dtype))

    # -- commit protocol ---------------------------------------------------

    # Set on views returned by ``branch()``: commits/reads resolve
    # through the named branch ref instead of _LATEST.
    _branch: str | None = None

    def _latest_path(self) -> str:
        return os.path.join(self.path, _LATEST)

    def exists(self) -> bool:
        """S5-style existence check (reference
        ``src/hudi/hudi-initial-load.py:114``): a table exists iff it has
        a committed version pointer."""
        return os.path.isfile(self._latest_path())

    def current_version(self) -> TableVersion | None:
        if self._branch is not None:
            b = self._read_refs()["branches"].get(self._branch)
            if b is None:
                raise KeyError(
                    f"branch {self._branch!r} does not exist on "
                    f"{self.spec.qualified_name}"
                )
            return TableVersion(
                b["head"], os.path.join(self.path, _fmt_version(b["head"]))
            )
        if not self.exists():
            return None
        with open(self._latest_path(), encoding="ascii") as f:
            n = int(f.read().strip())
        return TableVersion(n, os.path.join(self.path, _fmt_version(n)))

    def _commit(self, n: int) -> None:
        """Atomically advance the version pointer (write-temp + rename).
        On a branch view the branch head moves instead of _LATEST —
        main never observes branch commits until publish."""
        if self._branch is not None:
            refs = self._read_refs()
            if self._branch not in refs["branches"]:
                raise KeyError(
                    f"branch {self._branch!r} does not exist on "
                    f"{self.spec.qualified_name}"
                )
            refs["branches"][self._branch]["head"] = n
            self._write_refs(refs)
            return
        replace_file(self._latest_path(), str(n))

    def _write_staging(self, df: DataFrame, cluster: bool = True) -> str:
        """Write a full snapshot into an anonymous staging directory
        ('.'-prefixed: invisible to readers). The version number is
        assigned at promote time, never at write time — two concurrent
        writers can stage freely without touching each other.
        ``cluster=False`` lets callers that already shaped the
        partitioning (compact) skip the default write clustering.

        Schema mapping: the incoming frame carries LOGICAL names;
        renamed fields are written under their frozen PHYSICAL names,
        and the updated mapping (existing entries + new source-only
        columns) lands in the staging dir so it commits atomically
        with the data."""
        sdir = os.path.join(self.path, f".staging-{uuid.uuid4().hex}")
        mapping = self._schema_mapping()
        df = self._with_part_col(df)
        df = self._to_physical(df, mapping)
        out = self._cluster_for_write(df) if cluster else df
        writer = out.write.mode("overwrite")
        if self._part_name:
            writer = writer.partitionBy(self._part_name)
        writer.parquet(sdir)
        self._stage_schema_mapping(sdir, mapping, df)
        return sdir

    # -- logical schema mapping (ALTER TABLE surface, X85) -----------------

    def _schema_mapping(self, vdir: str | None = None) -> dict | None:
        """The schema mapping committed with a snapshot (default: the
        current head); None for tables created before the mapping
        existed (identity semantics)."""
        if vdir is None:
            cur = self.current_version()
            if cur is None:
                return None
            vdir = cur.path
        return _read_json_or_none(os.path.join(vdir, _SCHEMA))

    @staticmethod
    def _to_physical(df: DataFrame, mapping: dict | None) -> DataFrame:
        if not mapping:
            return df
        for e in mapping["columns"]:
            if e["name"] != e["physical"] and e["name"] in df.columns:
                df = df.withColumnRenamed(e["name"], e["physical"])
        return df

    def _to_logical(self, df: DataFrame, mapping: dict | None) -> DataFrame:
        """Project a physical frame to the mapping's logical schema:
        renamed fields read from their frozen physical column, fields
        absent from every underlying file (freshly ADDed, or pre-add
        snapshots' files) read as typed nulls, dropped fields vanish.
        Columns outside the mapping (the hidden-transform partition
        derivation) pass through for the internal read paths."""
        if not mapping:
            return df
        cols = []
        mapped_physical = set()
        for e in mapping["columns"]:
            mapped_physical.add(e["physical"])
            if e["physical"] in df.columns:
                cols.append(F.col(e["physical"]).alias(e["name"]))
            else:
                cols.append(F.lit(None).cast(e["type"]).alias(e["name"]))
        dropped = set(mapping.get("dropped_physical", ()))
        for name in df.columns:
            if name not in mapped_physical and name not in dropped:
                cols.append(F.col(name))
        return df.select(*cols)

    def _stage_schema_mapping(
        self, sdir: str, mapping: dict | None, physical_df: DataFrame
    ) -> None:
        """Extend the mapping with columns this write introduced (merge
        schema evolution: source-only columns become new fields with
        physical == logical name, or a tombstone-avoiding suffixed
        physical if a dropped field used the name) and stage it."""
        mapping = {
            "columns": [dict(e) for e in (mapping or {}).get("columns", [])],
            "dropped_physical": list((mapping or {}).get("dropped_physical", [])),
        }
        known_physical = {e["physical"] for e in mapping["columns"]}
        known_logical = {e["name"] for e in mapping["columns"]}
        next_id = 1 + max((e["id"] for e in mapping["columns"]), default=0)
        tr = self._transform
        for name, dtype in physical_df.dtypes:
            if name in known_physical or name in known_logical:
                continue
            if tr is not None and name == tr.name:
                continue  # hidden partition derivation: never user schema
            physical = name
            if physical in mapping["dropped_physical"]:
                # A dropped field's bytes still live in old files under
                # this name; give the new field a fresh physical name so
                # those bytes can never resurface.
                physical = f"{name}__f{next_id}"
            mapping["columns"].append(
                {"id": next_id, "name": name, "physical": physical, "type": dtype}
            )
            next_id += 1
        with open(os.path.join(sdir, _SCHEMA), "w", encoding="utf-8") as f:
            json.dump(mapping, f)

    def _physical_name(self, col: str) -> str:
        """Logical -> frozen physical column name (identity when the
        table has no mapping or the column is unmapped)."""
        mapping = self._schema_mapping()
        if mapping:
            for e in mapping["columns"]:
                if e["name"] == col:
                    return e["physical"]
        return col

    def _alter_metadata_commit(self, mutate) -> int:
        """Shared ALTER machinery: a METADATA-ONLY commit — every data
        file hard-links forward unchanged; only the schema mapping
        changes (exactly how Iceberg's ALTERs commit a new schema with
        the same data files). ``mutate(mapping) -> mapping``."""
        cur = self.current_version()
        if cur is None:
            raise FileNotFoundError(f"table {self.spec.qualified_name} does not exist")
        mapping = self._schema_mapping()
        if mapping is None:
            # Legacy table: synthesize the identity mapping first.
            mapping = {
                "columns": [
                    {"id": i + 1, "name": n, "physical": n, "type": t}
                    for i, (n, t) in enumerate(self.read().dtypes)
                ],
                "dropped_physical": [],
            }
        mapping = mutate(
            {
                "columns": [dict(e) for e in mapping["columns"]],
                "dropped_physical": list(mapping.get("dropped_physical", [])),
            }
        )
        sdir = os.path.join(self.path, f".staging-{uuid.uuid4().hex}")
        os.makedirs(sdir)
        for root, fname in _iter_data_files(cur.path):
            rel = os.path.relpath(root, cur.path)
            out_dir = sdir if rel == "." else os.path.join(sdir, rel)
            os.makedirs(out_dir, exist_ok=True)
            os.link(os.path.join(root, fname), os.path.join(out_dir, fname))
        with open(os.path.join(sdir, _SCHEMA), "w", encoding="utf-8") as f:
            json.dump(mapping, f)
        self._stage_snapshot_meta(sdir, self.snapshot_meta())
        self._stage_commit_op(sdir, "alter")
        return self._promote(sdir, expected_version=cur.version)

    def _guard_alter_col(self, col: str, op: str) -> None:
        protected = {self.spec.primary_key, self.spec.partition_key}
        tr = self._transform
        if tr is not None:
            protected.add(tr.source)
        if col in protected:
            raise ValueError(
                f"cannot {op} {col!r}: it is the primary key, partition "
                "column, or a partition-transform source"
            )

    def alter_add_column(self, name: str, dtype: str) -> int:
        """ALTER TABLE ADD COLUMN (metadata-only): existing rows read
        the new column as null; the first write that supplies it
        materializes values. Returns the committed version."""

        from pyspark.sql.types import StructType

        try:
            parsed = StructType.fromDDL(f"`{name}` {dtype}")
        except Exception as exc:  # noqa: BLE001 — surface the parse error
            raise ValueError(
                f"ADD COLUMN: cannot parse type {dtype!r}: {exc}"
            ) from exc
        if len(parsed) != 1:
            raise ValueError(
                f"ADD COLUMN takes one column; type {dtype!r} parsed as "
                f"{len(parsed)} fields — repeat the statement per column"
            )

        def mutate(m):
            if any(e["name"] == name for e in m["columns"]):
                raise ValueError(f"column {name!r} already exists")
            nid = 1 + max((e["id"] for e in m["columns"]), default=0)
            physical = name
            if physical in m["dropped_physical"] or any(
                e["physical"] == name for e in m["columns"]
            ):
                physical = f"{name}__f{nid}"
            m["columns"].append(
                {"id": nid, "name": name, "physical": physical, "type": dtype}
            )
            return m

        return self._alter_metadata_commit(mutate)

    def alter_rename_column(self, old: str, new: str) -> int:
        """ALTER TABLE RENAME COLUMN (metadata-only): the field's
        physical name stays frozen, so every existing file — and every
        retained snapshot via time travel — keeps serving it; only the
        logical name readers see changes. Returns the version."""
        self._guard_alter_col(old, "rename")

        def mutate(m):
            names = {e["name"] for e in m["columns"]}
            if old not in names:
                raise KeyError(f"column {old!r} does not exist")
            if new in names:
                raise ValueError(f"column {new!r} already exists")
            for e in m["columns"]:
                if e["name"] == old:
                    e["name"] = new
            return m

        return self._alter_metadata_commit(mutate)

    def alter_drop_column(self, col: str) -> int:
        """ALTER TABLE DROP COLUMN (metadata-only): the field leaves
        the logical schema and its physical name is tombstoned — a
        later ADD of the same name gets a fresh physical name, so the
        dropped bytes (still present in old files, visible via time
        travel) can never resurface in the live schema."""
        self._guard_alter_col(col, "drop")

        def mutate(m):
            entry = next((e for e in m["columns"] if e["name"] == col), None)
            if entry is None:
                raise KeyError(f"column {col!r} does not exist")
            m["columns"] = [e for e in m["columns"] if e["name"] != col]
            m["dropped_physical"].append(entry["physical"])
            return m

        return self._alter_metadata_commit(mutate)

    # -- file statistics (Delta-style data skipping) -----------------------

    @staticmethod
    def _stat_value(v):
        """JSON-storable, ordering-preserving form of a footer min/max:
        numbers and strings as-is, date/time as ISO strings (ISO string
        order == chronological order), bytes decoded best-effort."""
        if isinstance(v, bytes):
            try:
                return v.decode("utf-8")
            except UnicodeDecodeError:
                return None
        if isinstance(v, (int, float, str, bool)) or v is None:
            return v
        if hasattr(v, "isoformat"):
            return v.isoformat()
        return None

    def _collect_file_stats(self, vdir: str) -> dict:
        """Per-file column min/max/null_count from parquet FOOTERS
        (metadata-only reads, no data pages — the same stats Delta
        stores in its transaction log and Iceberg in manifest files).
        Runs driver-side over the version's file list; at real scale
        the identical footer read distributes as one map over file
        paths with a driver-side merge of k x cols tiny dicts."""
        import pyarrow.parquet as pq

        out: dict[str, dict] = {}
        for root, fname in _iter_data_files(vdir):
            fpath = os.path.join(root, fname)
            md = pq.ParquetFile(fpath).metadata
            # File-level row count beside the per-column entries
            # ("_"-prefixed: parquet column names can't collide —
            # readers hide leading-underscore fields). Powers the
            # metadata-only COUNT(*) fast path (`row_count`).
            cols: dict[str, dict] = {"_rows": md.num_rows}
            for rg in range(md.num_row_groups):
                row = md.row_group(rg)
                for ci in range(row.num_columns):
                    c = row.column(ci)
                    st = c.statistics
                    if st is None or not st.has_min_max:
                        continue
                    mn = self._stat_value(st.min)
                    mx = self._stat_value(st.max)
                    if mn is None or mx is None:
                        continue
                    name = c.path_in_schema
                    cur = cols.get(name)
                    if cur is None:
                        cols[name] = {"min": mn, "max": mx, "nulls": st.null_count or 0}
                    else:
                        cur["min"] = min(cur["min"], mn)
                        cur["max"] = max(cur["max"], mx)
                        cur["nulls"] += st.null_count or 0
            out[os.path.relpath(fpath, vdir)] = cols
        return out

    def file_stats(self, version: int | None = None) -> dict | None:
        """The committed per-file min/max stats of a snapshot (None for
        pre-stats versions)."""
        cur = self.current_version()
        if cur is None:
            return None
        vpath = cur.path if version is None else os.path.join(self.path, _fmt_version(version))
        spath = os.path.join(vpath, _FILE_STATS)
        if not os.path.isfile(spath):
            return None
        with open(spath, encoding="utf-8") as f:
            return json.load(f)

    def _read_blooms(self, vdir: str | None = None) -> dict:
        """The committed per-file bloom bitsets of a snapshot
        ({relpath: {"_file_size": n, col: hex}}), {} when absent."""
        if vdir is None:
            cur = self.current_version()
            if cur is None:
                return {}
            vdir = cur.path
        bpath = os.path.join(vdir, _BLOOM_FILE)
        if not os.path.isfile(bpath):
            return {}
        with open(bpath, encoding="utf-8") as f:
            return json.load(f)

    def _collect_blooms(self, staging: str) -> dict:
        """Per-file bloom bitsets for ``spec.bloom_filter_cols``.

        Hard-linked carry-forward files reuse the previous commit's
        bitsets byte-for-byte (matched on relpath + size — linked files
        ARE the same bytes), so the one Spark job here scans only the
        files this commit actually wrote, reading only the bloom
        columns. Positions come from ``pmod(xxhash64(col, seed), m)``
        — the same expression the probe side evaluates, so hash parity
        is by construction, not by reimplementation. The driver-side
        collect is bounded: (new files) x (cols) x (<= m positions).
        Nulls never enter a bloom — the index answers non-null
        equality only."""
        cols = list(self.spec.bloom_filter_cols)
        prev = self._read_blooms()
        out: dict[str, dict] = {}
        todo: dict[str, tuple[str, int]] = {}
        for root, fname in _iter_data_files(staging):
            full = os.path.join(root, fname)
            rel = os.path.relpath(full, staging)
            size = os.path.getsize(full)
            p = prev.get(rel)
            if p and p.get("_file_size") == size:
                out[rel] = p
            else:
                out[rel] = {"_file_size": size}
                todo[os.path.realpath(full)] = (rel, size)
        if not todo:
            return out
        df = self.spark.read.parquet(*todo)
        present = [c for c in cols if c in df.columns]
        sel = df.select(F.input_file_name().alias("__f"), *present)
        parts = None
        for c in present:
            pos = F.array(
                *[
                    F.pmod(F.xxhash64(F.col(c), F.lit(s)), F.lit(_BLOOM_M))
                    for s in range(_BLOOM_K)
                ]
            )
            piece = sel.filter(F.col(c).isNotNull()).select(
                "__f", F.lit(c).alias("__c"), F.explode(pos).alias("__p")
            )
            parts = piece if parts is None else parts.unionByName(piece)
        if parts is None:
            return out
        import urllib.parse

        agg = parts.distinct().groupBy("__f", "__c").agg(
            F.collect_set("__p").alias("__ps")
        )
        for r in agg.collect():
            path = urllib.parse.unquote(urllib.parse.urlparse(r["__f"]).path)
            rel, _size = todo[os.path.realpath(path)]
            bits = bytearray(_BLOOM_M // 8)
            for p in r["__ps"]:
                bits[p // 8] |= 1 << (p % 8)
            out[rel][r["__c"]] = bits.hex()
        return out

    def _bloom_probe_positions(self, col: str, value) -> list[int]:
        """The probe value's bit positions, evaluated by the ENGINE
        (one 1-row job) with the literal cast to the column's type —
        xxhash64 is physical-type-sensitive, so driver-side
        reimplementation would be a parity bug waiting to happen."""
        dtype = dict(self.read().dtypes).get(col)
        probe = F.lit(value).cast(dtype) if dtype else F.lit(value)
        row = self.spark.range(1).select(
            *[
                F.pmod(F.xxhash64(probe, F.lit(s)), F.lit(_BLOOM_M)).alias(f"p{s}")
                for s in range(_BLOOM_K)
            ]
        ).first()
        return [row[f"p{s}"] for s in range(_BLOOM_K)]

    def bloom_pruned_files(self, col: str, value) -> list[str]:
        """Equality data skipping: files that might contain
        ``col == value``, pruned by BOTH footer min/max (range check)
        and the bloom bitset (membership check). Files without either
        index for the column are conservatively kept. On a
        high-cardinality unclustered column — where every file's
        [min, max] spans the probe — the bloom is the only index that
        prunes, which is exactly why Delta/Parquet offer one."""
        if value is None:
            raise ValueError("bloom lookup is defined for non-null values only")
        cur = self.current_version()
        if cur is None:
            raise FileNotFoundError(f"table {self.spec.qualified_name} does not exist")
        stats = self.file_stats() or {}
        blooms = self._read_blooms()
        pos = self._bloom_probe_positions(col, value)
        # Footer stats and bloom bitsets key on the frozen PHYSICAL name.
        col = self._physical_name(col)
        v = self._stat_value(value)
        keep = []
        for f in self.data_files():
            rel = os.path.relpath(f, cur.path)
            s = stats.get(rel, {}).get(col)
            if s is not None and v is not None and not (s["min"] <= v <= s["max"]):
                continue
            b = blooms.get(rel, {}).get(col)
            if b is not None:
                bits = bytes.fromhex(b)
                if not all((bits[p // 8] >> (p % 8)) & 1 for p in pos):
                    continue
            keep.append(f)
        return keep

    def read_lookup_eq(self, col: str, value) -> DataFrame:
        """Point lookup through the bloom + stats index: scan only
        candidate files, then apply the exact equality predicate
        (bloom false positives die here). Equivalent to
        ``read().filter(col == value)`` — cheaper by the skipped
        files."""
        files = self.bloom_pruned_files(col, value)
        cur = self.current_version()
        if not files:
            return self.read().filter(F.lit(False))
        part = self._part_name
        reader = self.spark.read
        if part:
            reader = reader.option("basePath", cur.path)
        df = reader.parquet(*files)
        if part:
            ptype = self._read_meta().get("partition_type")
            if ptype:
                df = df.withColumn(part, F.col(part).cast(ptype))
            if self._hidden_part:
                df = df.drop(part)
        df = df.filter(F.col(self._physical_name(col)) == F.lit(value))
        return self._to_logical(df, self._schema_mapping(cur.path))

    def row_count(self, version: int | None = None) -> int:
        """COUNT(*) from committed footer stats — O(files) metadata,
        no data scan (the Delta-log/Iceberg-manifest fast path; at
        100 TB a bare count must never cost a table read). Falls back
        to an exact scan count for pre-stats snapshots."""
        cur = self.current_version()
        if cur is None:
            raise FileNotFoundError(f"table {self.spec.qualified_name} does not exist")
        stats = self.file_stats(version)
        if stats is not None and all("_rows" in s for s in stats.values()):
            return sum(s["_rows"] for s in stats.values())
        df = self.read(version=version) if version is not None else self.read()
        return df.count()

    def metadata_predicate_count(
        self, where, session_tz: str | None = None
    ) -> int | None:
        """COUNT(*) under a predicate from the committed footer-stats
        index ALONE (r13, the managed twin of the foreign formats'
        ``delta_row_count(where=)``): exact when every file is
        decidably all-in (null-free [min, max] containment) or all-out
        — one undecidable file and the answer is None, so callers run
        a real plan rather than guess. ``where`` uses the shared
        interop grammar; instant literals resolve through the same
        timezone rules Spark's own filter applies."""
        from .interop import (
            _ALL,
            _NONE,
            _SOME,
            _interval_op_state,
            _norm_where,
            _utc_instant_lit,
        )

        cur = self.current_version()
        if cur is None:
            raise FileNotFoundError(
                f"table {self.spec.qualified_name} does not exist"
            )
        stats = self.file_stats()
        if stats is None or not all("_rows" in s for s in stats.values()):
            return None
        where_n = _norm_where(where)
        if not where_n:
            return sum(s["_rows"] for s in stats.values())
        types = {f.name: f.dataType.typeName() for f in self.read().schema.fields}

        def _dom(col: str, lit):
            t = types.get(col)
            if t is None or lit is None:
                return None
            try:
                if t == "timestamp":
                    d = _utc_instant_lit(lit, session_tz)
                    return d.isoformat() if d is not None else None
                if t == "date":
                    import datetime as _dt

                    if isinstance(lit, str):
                        lit = _dt.date.fromisoformat(lit)
                    if isinstance(lit, _dt.datetime):
                        lit = lit.date()
                    return lit.isoformat()
                if t in ("long", "integer", "short", "byte"):
                    return int(lit)
                if t in ("double", "float", "decimal"):
                    return float(lit)
                if t == "string":
                    return str(lit) if isinstance(lit, str) else None
            except (ValueError, TypeError):
                return None
            return None

        doms = {}
        for disj in where_n:
            for col, op, lit in disj:
                if op not in ("is_null", "is_not_null"):
                    doms[(col, op, repr(lit))] = _dom(col, lit)

        def atom_state(s: dict, col: str, op: str, lit) -> int:
            ent = s.get(self._physical_name(col))
            nrec = s["_rows"]
            if op in ("is_null", "is_not_null"):
                if ent is None:
                    return _SOME
                nc = ent.get("nulls")
                if nc is None:
                    return _SOME
                if nc == 0:
                    return _NONE if op == "is_null" else _ALL
                if int(nc) >= int(nrec) > 0:
                    return _ALL if op == "is_null" else _NONE
                return _SOME
            dom = doms.get((col, op, repr(lit)))
            if ent is None or dom is None:
                return _SOME
            nc = ent.get("nulls")
            if nc is not None and int(nc) >= int(nrec) > 0:
                return _NONE  # all-null: no comparison matches
            mn, mx = ent.get("min"), ent.get("max")
            if mn is None or mx is None:
                return _SOME
            # Parquet footer string bounds may be writer-truncated
            # (valid bounds, but the =/!= single-valued inference
            # needs the actual value).
            if op in ("=", "!=") and isinstance(dom, str) and (
                len(str(mn)) >= 32 or len(str(mx)) >= 32
            ):
                return _SOME
            st = _interval_op_state(mn, mx, op, dom)
            if st == _ALL and nc != 0:
                return _SOME  # unknown/known nulls fail the comparison
            return st

        total = 0
        for _rel, s in stats.items():
            file_state = _ALL
            for disj in where_n:
                states = [atom_state(s, c, o, v) for c, o, v in disj]
                if any(x == _ALL for x in states):
                    continue
                if all(x == _NONE for x in states):
                    file_state = _NONE
                    break
                file_state = _SOME
            if file_state == _NONE:
                continue
            if file_state == _SOME:
                return None
            total += s["_rows"]
        return total

    def pruned_files(self, col: str, lower=None, upper=None) -> list[str]:
        """Data skipping: the subset of the snapshot's data files whose
        footer [min, max] range for ``col`` intersects [lower, upper].
        Files without stats for the column are conservatively kept.
        This is the Delta/Iceberg stats-skip: on a table clustered by
        the column, a narrow range opens O(range) files instead of
        O(table)."""
        cur = self.current_version()
        if cur is None:
            raise FileNotFoundError(f"table {self.spec.qualified_name} does not exist")
        stats = self.file_stats() or {}
        col = self._physical_name(col)  # footer stats key on physical names
        lo = self._stat_value(lower) if lower is not None else None
        hi = self._stat_value(upper) if upper is not None else None
        # Hidden partitioning: when the predicate column IS the
        # transform source (and the transform is monotonic), map the
        # bounds onto the partition domain and drop whole directories
        # BEFORE consulting footer stats — at scale this is a pure
        # directory-listing prune, no metadata reads at all.
        part_bounds = None
        tr = self._transform
        if (
            tr is not None
            and tr.monotonic
            and col == tr.source
            and (lower is not None or upper is not None)
        ):
            part_bounds = (
                tr.literal(lower) if lower is not None else None,
                tr.literal(upper) if upper is not None else None,
            )
        keep = []
        for f in self.data_files():
            rel = os.path.relpath(f, cur.path)
            if part_bounds is not None and self._dir_out_of_range(rel, *part_bounds):
                continue
            s = stats.get(rel, {}).get(col)
            if s is None:
                keep.append(f)
                continue
            if (lo is None or s["max"] >= lo) and (hi is None or s["min"] <= hi):
                keep.append(f)
        return keep

    def _dir_out_of_range(self, relpath: str, plo, phi) -> bool:
        """True when a data file's hidden-partition directory value
        provably falls outside the transformed [plo, phi] bounds. Null
        partitions (source column null) can never satisfy a range
        predicate, so they prune whenever any bound is set; unparseable
        segments are conservatively kept."""
        seg = relpath.split(os.sep, 1)[0]
        prefix = f"{self._transform.name}="
        if not seg.startswith(prefix):
            return False
        raw = seg[len(prefix):]
        if raw == _HIVE_DEFAULT_PARTITION:
            return True
        sample = plo if plo is not None else phi
        try:
            if isinstance(sample, int):
                val = int(raw)
            elif hasattr(sample, "isoformat") :
                import datetime as _dt

                val = _dt.date.fromisoformat(raw)
            else:
                val = raw
        except ValueError:
            return False
        return (plo is not None and val < plo) or (phi is not None and val > phi)

    def read_skipping(self, col: str, lower=None, upper=None) -> DataFrame:
        """Range read through the stats index: scan only intersecting
        files, then apply the exact residual predicate. Equivalent to
        ``read().filter(lower <= col <= upper)`` — cheaper by the
        skipped files."""
        files = self.pruned_files(col, lower, upper)
        cur = self.current_version()
        if not files:
            df = self.read()
            return df.filter(F.lit(False))
        part = self._part_name
        reader = self.spark.read
        if part:
            reader = reader.option("basePath", cur.path)
        df = reader.parquet(*files)
        if part:
            ptype = self._read_meta().get("partition_type")
            if ptype:
                df = df.withColumn(part, F.col(part).cast(ptype))
            if self._hidden_part:
                df = df.drop(part)
        ph = self._physical_name(col)
        if lower is not None:
            df = df.filter(F.col(ph) >= F.lit(lower))
        if upper is not None:
            df = df.filter(F.col(ph) <= F.lit(upper))
        return self._to_logical(df, self._schema_mapping(cur.path))

    def read_partitions(self, values: list) -> DataFrame:
        """IN-list partition-pruned read: scan only the snapshot's
        files under ``partition_key = v`` directories for the given
        values — driver-side directory-NAME pruning (O(files) string
        checks, no data or footer reads), the hive twin of Iceberg's
        partition-value manifest skip. Equivalent to
        ``read().filter(col(part).isin(values))`` but the pruning is
        engine-planned (``inputFiles()`` reflects it) instead of
        relying on Catalyst recovering a PartitionFilter through the
        declared-type cast ``read()`` applies.

        ``values`` must be in the PARTITION domain and the partition
        column's declared type (for hidden transforms: transformed
        values) — directory names are matched via the same
        ``_escape_partition_value`` rendering the writer used, and the
        identity-key residual ``isin`` repairs over-selection only,
        never a rendering miss."""
        part = self._part_name
        if not part:
            raise ValueError(
                f"{self.spec.qualified_name} is not partitioned — "
                "read_partitions needs a partition_key or transform"
            )
        cur = self.current_version()
        if cur is None:
            raise FileNotFoundError(f"table {self.spec.qualified_name} does not exist")
        vals = list(values)
        segs = {f"{part}={_escape_partition_value(v)}" for v in vals}
        files = [
            f
            for f in self.data_files()
            if os.path.relpath(f, cur.path).split(os.sep, 1)[0] in segs
        ]
        if not files:
            return self.read().filter(F.lit(False))
        df = self.spark.read.option("basePath", cur.path).parquet(*files)
        ptype = self._read_meta().get("partition_type")
        if ptype:
            df = df.withColumn(part, F.col(part).cast(ptype))
        if self._hidden_part:
            df = df.drop(part)
        else:
            non_null = [v for v in vals if v is not None]
            cond = F.col(part).isin(non_null) if non_null else F.lit(False)
            if len(non_null) < len(vals):
                cond = cond | F.col(part).isNull()
            df = df.filter(cond)
        return self._to_logical(df, self._schema_mapping(cur.path))

    def read_lookup(self, value) -> DataFrame:
        """Point lookup through the hidden partition layout: rows whose
        transform SOURCE column equals ``value``, scanning only the
        partition(s) that can hold it. Monotonic transforms route
        through the range path; ``bucket(N, col)`` filters the derived
        column against ``pmod(xxhash64(value), N)`` — a constant-folded
        literal, so Catalyst prunes to ONE of N directories
        (``PartitionFilters`` in the scan). This is the Iceberg
        bucket-lookup pattern: a 100 TB keyed table answers an equality
        probe by opening 1/N of its files."""
        tr = self._transform
        if tr is None:
            raise ValueError(
                f"{self.spec.qualified_name}: read_lookup requires a "
                "partition_transform spec"
            )
        if tr.monotonic:
            return self.read_skipping(tr.source, value, value).filter(
                F.col(tr.source) == F.lit(value)
            )
        cur = self.current_version()
        if cur is None:
            raise FileNotFoundError(f"table {self.spec.qualified_name} does not exist")
        df = self._read_physical(cur)
        # xxhash64 is physical-type-sensitive: hash the literal at the
        # SOURCE column's type or an int-vs-bigint probe would land in
        # the wrong bucket.
        dtype = dict(df.dtypes).get(tr.source)
        probe = F.lit(value).cast(dtype)
        bucket = F.pmod(F.xxhash64(probe), F.lit(tr.param)).cast("int")
        out = (
            df.filter(F.col(tr.name) == bucket)
            .drop(tr.name)
            .filter(F.col(tr.source) == probe)
        )
        return self._to_logical(out, self._schema_mapping(cur.path))

    def _promote(
        self,
        staging: str,
        expected_version: int,
        touched_segments: set[str] | None = None,
    ) -> int:
        """Optimistic-concurrency commit (the Delta/Iceberg protocol):
        under an exclusive lock file, verify the table head is still the
        snapshot this write was computed from, then atomically rename
        the staging directory to the next version and advance the
        pointer.

        ``touched_segments`` (partition directory names this write
        actually rewrote; None = potentially everything) enables
        Delta/Iceberg-style CONFLICT RESOLUTION: when the head moved but
        every concurrent commit since ``expected_version`` declared a
        touched set DISJOINT from ours, the staging snapshot is REBASED
        onto the new head (untouched partitions re-linked from the head,
        stats/bloom/meta patched) and committed — no recompute retry.
        At 100 TB with per-table hourly CDC plus compaction plus ANN
        refresh all landing on different partitions, this removes the
        single-head throughput ceiling. Any overlap, any concurrent
        commit without provenance, or an unpartitioned write still
        discards the staging result and raises ``ConcurrentWriteError``
        — a stale merge can never clobber a newer commit."""
        # Footer stats are computed OUTSIDE the lock (metadata-only
        # reads; linked-forward files are already in place) and land
        # inside the staging dir, so they commit atomically with the
        # data like snapshot_meta does.
        stats = self._collect_file_stats(staging)
        with open(os.path.join(staging, _FILE_STATS), "w", encoding="utf-8") as f:
            json.dump(stats, f)
        if self.spec.bloom_filter_cols:
            # Like the footer stats: computed OUTSIDE the lock, lands
            # inside the staging dir, commits atomically with the data.
            # Carried-forward files reuse the previous commit's bitsets,
            # so the scan covers only this commit's new files.
            with open(os.path.join(staging, _BLOOM_FILE), "w", encoding="utf-8") as f:
                json.dump(self._collect_blooms(staging), f)
        lock = os.path.join(self.path, _COMMIT_LOCK)
        try:
            fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        except FileExistsError:
            shutil.rmtree(staging, ignore_errors=True)
            raise ConcurrentWriteError(
                f"{self.spec.qualified_name}: another commit is in flight"
            ) from None
        try:
            cur = self.current_version()
            latest = cur.version if cur else 0
            base = expected_version
            if latest != expected_version:
                if not self._try_rebase_staging(
                    staging, expected_version, latest, touched_segments
                ):
                    shutil.rmtree(staging, ignore_errors=True)
                    raise ConcurrentWriteError(
                        f"{self.spec.qualified_name}: expected to commit on top "
                        f"of v{expected_version} but head is v{latest}, and the "
                        "concurrent commits touch overlapping or undeclared "
                        "partitions; re-read and retry"
                    )
                base = latest
            with open(os.path.join(staging, _TOUCHED), "w", encoding="utf-8") as f:
                json.dump(
                    {
                        "base": base,
                        "touched": sorted(touched_segments)
                        if touched_segments is not None
                        else None,
                    },
                    f,
                )
            # Version numbers are allocated from the GLOBAL directory
            # namespace, not head+1: branch commits interleave with
            # main commits (Iceberg snapshot ids share one sequence
            # across refs), and crash debris (renamed-but-uncommitted
            # directories) must never collide with a fresh rename.
            n = max(latest, self._max_version_dir()) + 1
            os.rename(staging, os.path.join(self.path, _fmt_version(n)))
            self._commit(n)
            return n
        finally:
            os.close(fd)
            # ENOENT tolerated: vacuum's stale-lock breaker has a brief
            # window (rename-out -> link-back restore) where this path
            # is unoccupied; a successful commit must not turn into an
            # exception because a breaker captured-and-restored the lock
            # mid-hold. Full closure needs fd-identity locking (flock),
            # not path-based locks — documented tradeoff.
            with suppress(FileNotFoundError):
                os.unlink(lock)

    def _read_touched(self, version: int) -> dict | None:
        return _read_json_or_none(
            os.path.join(self.path, _fmt_version(version), _TOUCHED)
        )

    def _try_rebase_staging(
        self,
        staging: str,
        expected: int,
        head: int,
        touched: set[str] | None,
    ) -> bool:
        """Attempt to rebase a staged snapshot computed from
        ``expected`` onto the moved ``head`` (runs INSIDE the commit
        lock, so the head is stable). Returns False — caller conflicts —
        unless:

        1. this write declared a touched-partition set, and
        2. walking the head's ``base`` provenance chain back to
           ``expected`` finds every concurrent commit declaring a
           touched set disjoint from ours.

        The rebase itself mirrors what Delta's commit-conflict checker
        achieves with file-level actions: every partition directory NOT
        in our touched set is replaced with hard links to the head's
        content (the concurrent commits' results), our rewritten
        partitions stay, and the stats/bloom indexes are patched from
        the head's committed entries (linked files ARE the head's
        bytes). Snapshot metadata merges head-first with our staged
        keys overlaid; per-app streaming txn markers take the per-app
        MAX so neither writer's replay protection regresses."""
        if touched is None:
            return False
        # Walk provenance head -> expected; collect concurrent touches.
        concurrent: set[str] = set()
        v = head
        while v != expected:
            info = self._read_touched(v)
            if info is None or info.get("touched") is None:
                return False  # undeclared writer in between: conflict
            if info["base"] >= v or info["base"] < expected:
                return False  # provenance does not reach our base
            concurrent.update(info["touched"])
            v = info["base"]
        if concurrent & touched:
            return False

        # Concurrent SCHEMA EVOLUTION cannot be rebased over (r7
        # advisory): our staged _schema.json was derived from the
        # expected base, and committing it would overwrite the head's
        # mapping — dropping the concurrent writer's new field entries
        # and letting a later write reuse their field ids. Conflict
        # unless the mapping is identical across the chain.
        head_schema = _read_json_or_none(
            os.path.join(self.path, _fmt_version(head), _SCHEMA)
        )
        base_schema = _read_json_or_none(
            os.path.join(self.path, _fmt_version(expected), _SCHEMA)
        )
        if head_schema != base_schema:
            return False

        part = self._part_name
        head_dir = os.path.join(self.path, _fmt_version(head))
        # Mirror the head for every partition we did not rewrite:
        # concurrent commits may have rewritten, added, or emptied them.
        segs = {
            e
            for d in (head_dir, staging)
            for e in os.listdir(d)
            if e.startswith(f"{part}=")
        }
        for seg in segs:
            if seg in touched:
                continue
            sdir = os.path.join(staging, seg)
            if os.path.isdir(sdir):
                shutil.rmtree(sdir)
            hdir = os.path.join(head_dir, seg)
            if os.path.isdir(hdir):
                os.makedirs(sdir, exist_ok=True)
                for fname in os.listdir(hdir):
                    if not fname.startswith(("_", ".")):
                        os.link(os.path.join(hdir, fname), os.path.join(sdir, fname))

        def _seg_of(rel: str) -> str:
            return rel.split(os.sep, 1)[0]

        # Patch the stats index: ours for our partitions, the head's
        # committed entries for everything re-linked (same bytes). A
        # pre-stats head can't be patched — recompute (footer-only).
        ours_stats = _read_json_or_none(os.path.join(staging, _FILE_STATS)) or {}
        head_stats = _read_json_or_none(os.path.join(head_dir, _FILE_STATS))
        if head_stats is None:
            merged_stats = self._collect_file_stats(staging)
        else:
            merged_stats = {
                rel: s for rel, s in ours_stats.items() if _seg_of(rel) in touched
            }
            merged_stats.update(
                {
                    rel: s
                    for rel, s in head_stats.items()
                    if _seg_of(rel) not in touched
                }
            )
        with open(os.path.join(staging, _FILE_STATS), "w", encoding="utf-8") as f:
            json.dump(merged_stats, f)
        if self.spec.bloom_filter_cols:
            ours_bloom = _read_json_or_none(os.path.join(staging, _BLOOM_FILE)) or {}
            head_bloom = _read_json_or_none(os.path.join(head_dir, _BLOOM_FILE)) or {}
            merged_bloom = {
                rel: b for rel, b in ours_bloom.items() if _seg_of(rel) in touched
            }
            merged_bloom.update(
                {rel: b for rel, b in head_bloom.items() if _seg_of(rel) not in touched}
            )
            with open(os.path.join(staging, _BLOOM_FILE), "w", encoding="utf-8") as f:
                json.dump(merged_bloom, f)

        # Merge snapshot metadata: the head's committed state is the
        # base (it includes the concurrent writers' markers); our staged
        # keys overlay it, except "txns" which merges per-app at the MAX
        # version so no consumer's replay guard moves backwards.
        head_meta = _read_json_or_none(os.path.join(head_dir, _SNAPSHOT_META))
        ours_meta = _read_json_or_none(os.path.join(staging, _SNAPSHOT_META))
        if head_meta is not None or ours_meta is not None:
            merged_meta = dict(head_meta or {})
            for k, val in (ours_meta or {}).items():
                if k == "txns" and isinstance(merged_meta.get("txns"), dict):
                    txns = dict(merged_meta["txns"])
                    for app, ver in (val or {}).items():
                        txns[app] = max(ver, txns.get(app, ver))
                    merged_meta["txns"] = txns
                else:
                    merged_meta[k] = val
            with open(os.path.join(staging, _SNAPSHOT_META), "w", encoding="utf-8") as f:
                json.dump(merged_meta, f)
        return True

    def _max_version_dir(self) -> int:
        """Highest materialized version directory number (0 if none) —
        the allocation floor shared by every ref."""
        hi = 0
        for entry in os.listdir(self.path):
            if entry.startswith(_VERSION_PREFIX):
                suffix = entry[len(_VERSION_PREFIX):]
                if suffix.isdigit():
                    hi = max(hi, int(suffix))
        return hi

    def _write_meta(self, df: DataFrame | None = None) -> None:
        meta = {
            "table": self.spec.table_name,
            "database": self.spec.database,
            "primary_key": self.spec.primary_key,
            "partition_key": self.spec.partition_key,
            "partition_transform": self.spec.partition_transform,
            "format": "cow",
        }
        # Write-side invariants PERSIST with the table: a later writer
        # that resolved the spec by NAME (catalog.resolve_spec — e.g. a
        # LakeSQL MERGE INTO) must enforce the same CHECK constraints,
        # bloom index columns, version guard, and z-order layout the
        # creator declared — not silently skip them (r7 advisory).
        if self.spec.version_key:
            meta["version_key"] = self.spec.version_key
        if self.spec.constraints:
            meta["constraints"] = list(self.spec.constraints)
        if self.spec.bloom_filter_cols:
            meta["bloom_filter_cols"] = list(self.spec.bloom_filter_cols)
        if self.spec.zorder_by:
            meta["zorder_by"] = list(self.spec.zorder_by)
        # Record the partition column's declared type: hive-layout reads
        # re-infer partition values from directory NAMES, so a string
        # column holding numeric-looking values ("1", "2") would come
        # back as int — schema instability a real table format never
        # exhibits (caught by the model-based merge property test).
        # For hidden partitioning the recorded type is the DERIVED
        # column's (date for days, string for months/..., int for
        # bucket) — it only ever backs internal physical reads.
        if df is not None and self.spec.partition_key:
            meta["partition_type"] = dict(df.dtypes).get(self.spec.partition_key)
        elif df is not None and self._transform is not None:
            meta["partition_type"] = dict(self._with_part_col(df).dtypes).get(
                self._transform.name
            )
        os.makedirs(self.path, exist_ok=True)
        with open(os.path.join(self.path, _META), "w", encoding="utf-8") as f:
            json.dump(meta, f, indent=2)

    def _read_meta(self) -> dict:
        mpath = os.path.join(self.path, _META)
        if not os.path.isfile(mpath):
            return {}
        with open(mpath, encoding="utf-8") as f:
            return json.load(f)

    # -- write path --------------------------------------------------------

    def _cluster_for_write(self, df: DataFrame) -> DataFrame:
        """W3/O2 write clustering: co-locate rows of one partition value
        into the same task and sort within, minimizing output file count
        per partition (reference ``INSERT ... ORDER BY partition_key``,
        ``src/iceberg/iceberg-initial-load.py:87-92``)."""
        part = self._part_name
        if part:
            return df.repartition(F.col(part)).sortWithinPartitions(
                part, self.spec.primary_key
            )
        return df.sortWithinPartitions(self.spec.primary_key)

    def _stage_snapshot_meta(self, staging: str, meta: dict | None) -> None:
        """Write caller metadata INTO the staging directory so it
        commits atomically with the data when staging is renamed to a
        version — the mechanism that gives IVM's processed-file set
        exactly-once semantics (no window where table and ledger
        disagree). '_'-prefixed: invisible to parquet readers."""
        if meta is None:
            return
        with open(os.path.join(staging, _SNAPSHOT_META), "w", encoding="utf-8") as f:
            json.dump(meta, f)

    def _stage_commit_op(self, staging: str, op: str) -> None:
        """Record the commit KIND in the staging dir (atomic with the
        data): the change feed skips no-logical-change commits
        (create/compact/alter) and rejects unrepresentable ones
        (overwrite) by this marker."""
        with open(os.path.join(staging, _COMMIT_OP), "w", encoding="utf-8") as f:
            json.dump({"op": op}, f)

    def _stage_changelog(self, staging: str, batch: DataFrame, op: str) -> None:
        """Write-time change-data capture (Delta CDF analog): stage the
        merge batch under ``<staging>/_changelog/`` with a
        ``__change_op`` marker so it commits atomically with the data.
        Cost is O(batch) — one extra parquet write of rows the merge
        already holds — and it is what makes the CoW change feed a
        LOG READ instead of a per-commit snapshot diff (which would
        re-report every carried-over row of each rewritten file)."""
        batch.withColumn(_CHANGE_OP, F.lit(op)).write.mode("overwrite").parquet(
            os.path.join(staging, _CHANGELOG_DIR)
        )

    def snapshot_meta(self, version: int | None = None) -> dict | None:
        """Caller metadata committed atomically with ``version``
        (default: the current head). None when that snapshot carried
        none."""
        cur = self.current_version()
        if cur is None:
            return None
        vpath = cur.path if version is None else os.path.join(self.path, _fmt_version(version))
        mpath = os.path.join(vpath, _SNAPSHOT_META)
        if not os.path.isfile(mpath):
            return None
        with open(mpath, encoding="utf-8") as f:
            return json.load(f)

    def create(
        self, df: DataFrame, if_not_exists: bool = True, snapshot_meta: dict | None = None
    ) -> bool:
        """W1/W2: initial bulk load. Returns False when skipped because
        the table already exists (idempotent-create, reference
        ``src/hudi/hudi-initial-load.py:109-110``)."""
        if self.exists():
            if if_not_exists:
                return False
            raise FileExistsError(self.spec.qualified_name)
        self._check_constraints(df)
        self._write_meta(df)
        staging = self._write_staging(df)
        self._stage_snapshot_meta(staging, snapshot_meta)
        self._stage_commit_op(staging, "create")
        self._promote(staging, expected_version=0)
        return True

    def overwrite(self, df: DataFrame, snapshot_meta: dict | None = None) -> None:
        """W4: replace table contents (reference
        ``src/delta/delta-initial-load.py:61-78`` overwrite mode)."""
        self._check_constraints(df)
        self._write_meta(df)
        cur = self.current_version()
        staging = self._write_staging(df)
        self._stage_snapshot_meta(staging, snapshot_meta)
        self._stage_commit_op(staging, "overwrite")
        self._promote(staging, expected_version=cur.version if cur else 0)

    # -- read path ---------------------------------------------------------

    # -- named refs (Iceberg tag semantics) --------------------------------

    def _refs_path(self) -> str:
        return os.path.join(self.path, _REFS)

    def _read_refs(self) -> dict:
        try:
            with open(self._refs_path(), encoding="utf-8") as f:
                raw = json.load(f)
        except FileNotFoundError:
            raw = {}
        return {
            "tags": dict(raw.get("tags", {})),
            "branches": {k: dict(v) for k, v in raw.get("branches", {}).items()},
        }

    def tags(self) -> dict[str, int]:
        """All named tags: ``{name: version}``."""
        return self._read_refs()["tags"]

    def _write_refs(self, refs: dict) -> None:
        replace_file(self._refs_path(), json.dumps(refs))

    def create_tag(self, name: str, version: int | None = None) -> int:
        """Pin a committed snapshot under a name (Iceberg
        ``ALTER TABLE ... CREATE TAG``): tagged versions survive
        ``vacuum`` regardless of ``retain_last``, so audits /
        reproductions / model-training datasets can name the exact
        table state they read. Runs under the commit lock — a tag can
        never race a concurrent vacuum into pinning a directory that
        is being deleted. Returns the pinned version."""
        self._require_main("create_tag")
        with self._commit_lock_held("create_tag"):
            cur = self.current_version()
            if cur is None:
                raise FileNotFoundError(
                    f"table {self.spec.qualified_name} does not exist"
                )
            v = cur.version if version is None else int(version)
            if v > cur.version or not os.path.isdir(
                os.path.join(self.path, _fmt_version(v))
            ):
                raise FileNotFoundError(
                    f"cannot tag version {v} of {self.spec.qualified_name}: "
                    f"not a committed snapshot (latest: {cur.version}; older "
                    "versions may have been vacuumed)"
                )
            refs = self._read_refs()
            if name in refs["tags"]:
                raise ValueError(
                    f"tag {name!r} already exists at v{refs['tags'][name]}; "
                    "delete_tag first (tags are immutable by design)"
                )
            refs["tags"][name] = v
            self._write_refs(refs)
            return v

    def delete_tag(self, name: str) -> None:
        self._require_main("delete_tag")
        with self._commit_lock_held("delete_tag"):
            refs = self._read_refs()
            if name not in refs["tags"]:
                raise KeyError(f"tag {name!r} does not exist")
            del refs["tags"][name]
            self._write_refs(refs)

    # -- branches (write-audit-publish) ------------------------------------

    def _require_main(self, op: str) -> None:
        if self._branch is not None:
            raise ValueError(
                f"{op} must run on the main table, not the "
                f"{self._branch!r} branch view"
            )

    def branches(self) -> dict[str, dict]:
        """All branches: ``{name: {"head": v, "base": v}}`` (``base``
        is the main version the branch forked from)."""
        return self._read_refs()["branches"]

    def create_branch(self, name: str) -> int:
        """Fork a branch at the current main head (Iceberg branch ref /
        the write-audit-publish staging pattern): commits through the
        ``branch(name)`` view move only the branch head — production
        readers on main never observe them until ``publish_branch``.
        Returns the fork version."""
        self._require_main("create_branch")
        with self._commit_lock_held("create_branch"):
            cur = self.current_version()
            if cur is None:
                raise FileNotFoundError(
                    f"table {self.spec.qualified_name} does not exist"
                )
            refs = self._read_refs()
            if name in refs["branches"]:
                raise ValueError(f"branch {name!r} already exists")
            refs["branches"][name] = {"head": cur.version, "base": cur.version}
            self._write_refs(refs)
            return cur.version

    def branch(self, name: str) -> "ParquetCowTable":
        """A view of this table whose reads and commits resolve through
        the named branch ref. Every write path (merge, overwrite,
        compact) works unchanged — the optimistic-concurrency protocol
        applies per ref, and version directories come from the shared
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
        """Abandon a branch; its unpublished versions become vacuumable."""
        self._require_main("drop_branch")
        with self._commit_lock_held("drop_branch"):
            refs = self._read_refs()
            if name not in refs["branches"]:
                raise KeyError(f"branch {name!r} does not exist")
            del refs["branches"][name]
            self._write_refs(refs)

    def publish_branch(self, name: str) -> int:
        """Write-audit-publish: fast-forward main to the audited branch
        head and retire the branch — one atomic pointer move, exactly
        the Iceberg ``fast_forward`` procedure. Conflicts like any
        optimistic commit: if main advanced past the branch's fork
        point, publishing would silently drop those commits, so it
        raises ``ConcurrentWriteError`` instead (re-branch and replay).
        """
        self._require_main("publish_branch")
        with self._commit_lock_held("publish_branch"):
            refs = self._read_refs()
            if name not in refs["branches"]:
                raise KeyError(f"branch {name!r} does not exist")
            b = refs["branches"][name]
            cur = self.current_version()
            if cur.version != b["base"]:
                raise ConcurrentWriteError(
                    f"{self.spec.qualified_name}: main advanced from "
                    f"v{b['base']} to v{cur.version} since branch {name!r} "
                    "forked; publishing would drop those commits — re-branch "
                    "and replay"
                )
            self._commit(b["head"])
            del refs["branches"][name]
            self._write_refs(refs)
            return b["head"]

    @contextmanager
    def _commit_lock_held(self, op: str, wait_s: float = 10.0):
        """Hold ``_COMMIT_LOCK`` for a short metadata operation,
        waiting out an in-flight commit up to ``wait_s``."""
        lock = os.path.join(self.path, _COMMIT_LOCK)
        deadline = time.monotonic() + wait_s
        while True:
            try:
                fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                break
            except FileExistsError:
                if time.monotonic() >= deadline:
                    raise ConcurrentWriteError(
                        f"{self.spec.qualified_name}: commit in flight; "
                        f"{op} timed out waiting for the commit lock"
                    ) from None
                time.sleep(0.05)
        try:
            yield
        finally:
            os.close(fd)
            # ENOENT tolerated — see _promote's finally.
            with suppress(FileNotFoundError):
                os.unlink(lock)

    def read(self, version: int | None = None, tag: str | None = None) -> DataFrame:
        """S4: snapshot read. ``version`` gives time travel to any
        retained snapshot (Delta ``VERSION AS OF`` / Iceberg
        snapshot-id reads); ``tag`` resolves a named ref created with
        ``create_tag``; default is the committed latest."""
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
        cur = self.current_version()
        if cur is None:
            raise FileNotFoundError(f"table {self.spec.qualified_name} does not exist")
        if version is not None:
            vpath = os.path.join(self.path, _fmt_version(version))
            if version > cur.version or not os.path.isdir(vpath):
                raise FileNotFoundError(
                    f"version {version} of {self.spec.qualified_name} does not "
                    f"exist (latest committed: {cur.version}; older versions "
                    "may have been vacuumed)"
                )
            cur = TableVersion(version, vpath)
        df = self._read_physical(cur)
        # Hidden partitioning: the derived column exists only in
        # directory names — strip it so query results carry the user's
        # schema, exactly like Iceberg's hidden partition fields.
        if self._hidden_part:
            df = df.drop(self._transform.name)
        # Apply THAT snapshot's logical schema mapping: every retained
        # version reads under the schema it was committed with (X85).
        return self._to_logical(df, self._schema_mapping(cur.path))

    def _read_physical(self, cur: TableVersion) -> DataFrame:
        """Snapshot read KEEPING the physical partition column (identity
        key or hidden-transform derivation) — the form merge internals
        filter and link-forward against."""
        reader = self.spark.read
        part = self._part_name
        if not any(True for _ in _iter_data_files(cur.path)):
            # A snapshot can be legitimately EMPTY: a merge that
            # deletes the last rows of a PARTITIONED table leaves no
            # parquet at all (every partition directory went with its
            # rows), and schema inference over zero files fails. Type
            # the empty frame from the snapshot's committed schema
            # mapping instead — same contract as read_iceberg's
            # empty-snapshot read. Pre-mapping legacy snapshots keep
            # the loud inference error (no schema exists to type them).
            mapping = self._schema_mapping(cur.path)
            if mapping:
                cols = [(e["physical"], e["type"]) for e in mapping["columns"]]
                if part and part not in {c for c, _t in cols}:
                    ptype = self._read_meta().get("partition_type") or "string"
                    cols.append((part, ptype))
                return local_frame(
                    self.spark, [], ", ".join(f"{c} {t}" for c, t in cols)
                )
        if not part:
            return reader.parquet(cur.path)
        # Hive-partitioned layout: recover the partition column, then
        # restore its DECLARED type — path-based inference would turn
        # numeric-looking string values into ints.
        df = reader.option("basePath", cur.path).parquet(cur.path)
        ptype = self._read_meta().get("partition_type")
        if ptype:
            df = df.withColumn(part, F.col(part).cast(ptype))
        return df

    def register_temp_view(self, name: str | None = None) -> str:
        """W11: stage the table as a SQL-visible view (reference
        ``df.createOrReplaceTempView`` at
        ``src/iceberg/iceberg-initial-load.py:77-78``)."""
        view = name or f"{self.spec.database}__{self.spec.table_name}"
        self.read().createOrReplaceTempView(view)
        return view

    # -- merge (the reference's core dataflow) -----------------------------

    def _check_constraints(self, df: DataFrame) -> None:
        """Reject a batch containing any row that violates a spec
        CHECK constraint — one column-pruned pass over the batch for
        ALL constraints (null predicate = pass, SQL-standard CHECK).
        Runs BEFORE staging: a rejected transaction writes nothing."""
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

    def _check_unique_keys(self, src: DataFrame) -> None:
        """Delta/Iceberg MERGE throws on multiple source rows per key;
        enforce the same contract so latent dedup bugs surface loudly."""
        pk = self.spec.primary_key
        dup = (
            src.groupBy(pk).count().filter(F.col("count") > 1).limit(1).collect()
        )
        if dup:
            raise MergeError(
                f"merge source has multiple rows for key {dup[0][pk]!r}; "
                "dedupe_latest the batch first"
            )

    def _affected_partitions(self, src: DataFrame, delete: bool) -> list | None:
        """Partitions that must be rewritten: those holding a matched
        key (column-pruned scan of (pk, partition_key)) plus — for
        upserts — those the source rows land in. A delete source only
        carries the key column (reference drops everything else,
        ``src/hudi/hudi-cdc-load.py:165``), so its landing partitions
        don't exist and aren't needed.

        The collect is bounded: at most ``max_affected_partitions + 1``
        values come back (LIMIT in the plan, not a driver truncation);
        when the merge touches more, returns None and the caller falls
        back to a full rewrite — the driver-side list and the isin
        literal plan never grow past the threshold no matter how many
        distinct partition values the batch spans."""
        pk, part = self.spec.primary_key, self._part_name
        tgt_parts = (
            self._read_physical(self.current_version())
            .select(pk, part)
            .join(src.select(pk).distinct(), pk, "left_semi")
            .select(part)
            .distinct()
        )
        if not delete:
            # Hidden partitioning: derive the landing partition from the
            # source rows' data column (no-op for identity keys).
            tgt_parts = tgt_parts.union(
                self._with_part_col(src).select(part).distinct()
            ).distinct()
        rows = tgt_parts.limit(self.max_affected_partitions + 1).collect()
        if len(rows) > self.max_affected_partitions:
            return None
        return [r[0] for r in rows]

    def _link_forward(
        self,
        old_dir: str,
        new_dir: str,
        skip_partitions: list = (),
        skip_segments: set | None = None,
    ) -> None:
        """Hard-link unaffected partition subdirectories from the
        previous version into the new one — metadata-only carry-forward
        of unchanged data files (what a real table format does by
        re-referencing files in the new snapshot). Skip-set entries are
        rendered with Hive path escaping (nulls ->
        __HIVE_DEFAULT_PARTITION__, reserved chars %XX) so they match
        the on-disk directory names Spark wrote; callers that already
        hold directory names (selective compaction walks the
        filesystem) pass them via ``skip_segments`` unescaped-free."""
        part = self._part_name
        skip = set(skip_segments or ()) | {
            f"{part}={_escape_partition_value(v)}" for v in skip_partitions
        }
        for entry in os.listdir(old_dir):
            src_sub = os.path.join(old_dir, entry)
            if not entry.startswith(f"{part}=") or entry in skip:
                continue
            dst_sub = os.path.join(new_dir, entry)
            os.makedirs(dst_sub, exist_ok=True)
            for fname in os.listdir(src_sub):
                if fname.startswith(("_", ".")):
                    continue
                os.link(os.path.join(src_sub, fname), os.path.join(dst_sub, fname))

    def _apply_upsert(self, tgt: DataFrame, src: DataFrame, guard_col: str | None) -> DataFrame:
        """Target-minus-matched ∪ source; with ``guard_col``, a matched
        target row survives unless the source row's guard value is
        strictly greater (``WHEN MATCHED AND s.guard > t.guard``)."""
        pk = self.spec.primary_key
        if guard_col is None:
            kept = tgt.join(src.select(pk).distinct(), pk, "left_anti")
            return kept.unionByName(src, allowMissingColumns=True)
        # Guarded variant: pick the per-key winner by (guard DESC,
        # is_source ASC) — on a guard tie the target wins, matching
        # "update only when strictly newer".
        from pyspark.sql.window import Window

        both = (
            tgt.withColumn("__is_src", F.lit(0))
            .unionByName(src.withColumn("__is_src", F.lit(1)), allowMissingColumns=True)
        )
        w = Window.partitionBy(pk).orderBy(F.col(guard_col).desc(), F.col("__is_src").asc())
        return (
            both.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn", "__is_src")
        )

    def _merge_partitioned(
        self,
        src: DataFrame,
        delete: bool,
        guard_col: str | None = None,
        snapshot_meta: dict | None = None,
    ) -> None:
        pk, part = self.spec.primary_key, self._part_name
        cur = self.current_version()
        affected = self._affected_partitions(src, delete)
        if affected is None:  # wide backfill: full rewrite beats pruning
            self._merge_full(src, delete, guard_col=guard_col, snapshot_meta=snapshot_meta)
            return

        # isin() is null-rejecting, so a null partition value in the
        # affected set needs an explicit isNull branch or its target
        # rows would silently survive in the linked-forward files.
        non_null = [v for v in affected if v is not None]
        cond = F.col(part).isin(non_null) if non_null else F.lit(False)
        if any(v is None for v in affected):
            cond = cond | F.col(part).isNull()
        # Filter on the PHYSICAL partition column (partition pruning on
        # the directory listing), then restore the logical schema —
        # staging re-derives the hidden column at write time.
        tgt_affected = self._read_physical(cur).filter(cond)
        if self._hidden_part:
            tgt_affected = tgt_affected.drop(part)
        # Logical schema for the combine: renamed fields align with the
        # source's names; staging maps back to physical at write.
        tgt_affected = self._to_logical(tgt_affected, self._schema_mapping(cur.path))
        if delete:
            merged = tgt_affected.join(src.select(pk).distinct(), pk, "left_anti")
        else:
            merged = self._apply_upsert(tgt_affected, src, guard_col)

        staging = self._write_staging(merged)
        self._link_forward(cur.path, staging, affected)
        # Carry the previous snapshot's metadata forward unless the
        # caller overrides it — a merge or compaction must never drop
        # state (e.g. IVM's processed-file set) committed earlier.
        self._stage_snapshot_meta(
            staging, snapshot_meta if snapshot_meta is not None else self.snapshot_meta()
        )
        self._stage_changelog(
            staging, src.select(pk).distinct() if delete else src, "D" if delete else "U"
        )
        self._stage_commit_op(staging, "merge")
        # Declare exactly which partition directories this merge
        # rewrote: a concurrent commit on DISJOINT partitions then
        # rebases instead of conflicting (X82).
        self._promote(
            staging,
            expected_version=cur.version,
            touched_segments={
                f"{part}={_escape_partition_value(v)}" for v in affected
            },
        )

    def _merge_full(
        self,
        src: DataFrame,
        delete: bool,
        guard_col: str | None = None,
        snapshot_meta: dict | None = None,
    ) -> None:
        pk = self.spec.primary_key
        cur = self.current_version()
        tgt = self.read()
        if delete:
            merged = tgt.join(src.select(pk).distinct(), pk, "left_anti")
        else:
            merged = self._apply_upsert(tgt, src, guard_col)
        staging = self._write_staging(merged)
        self._stage_snapshot_meta(
            staging, snapshot_meta if snapshot_meta is not None else self.snapshot_meta()
        )
        self._stage_changelog(
            staging, src.select(pk).distinct() if delete else src, "D" if delete else "U"
        )
        self._stage_commit_op(staging, "merge")
        self._promote(staging, expected_version=cur.version)

    def _merge_with_retries(
        self,
        src: DataFrame,
        delete: bool,
        guard_col: str | None,
        retries: int,
        snapshot_meta: dict | None = None,
    ) -> None:
        """Optimistic-concurrency retry loop (what Delta's commit
        service and Iceberg's commit.retry.num-retries do): on
        ``ConcurrentWriteError`` the merge is recomputed against the
        NEW table head — the previous attempt's staging was already
        discarded, so a retry never double-applies and MERGE semantics
        make replays idempotent per key. Conflicts from a lock held by
        an in-flight commit retry after a short backoff."""
        import time as _time

        attempt = 0
        while True:
            try:
                if self._part_name:
                    self._merge_partitioned(
                        src, delete=delete, guard_col=guard_col, snapshot_meta=snapshot_meta
                    )
                else:
                    self._merge_full(
                        src, delete=delete, guard_col=guard_col, snapshot_meta=snapshot_meta
                    )
                return
            except ConcurrentWriteError:
                if attempt >= retries:
                    raise
                attempt += 1
                _time.sleep(0.05 * attempt)

    def merge_upsert(
        self,
        src: DataFrame,
        guard_col: str | None = None,
        retries: int = 0,
        snapshot_meta: dict | None = None,
    ) -> None:
        """W5/W6/J1: ``MERGE INTO t USING s ON s.pk = t.pk WHEN MATCHED
        THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *`` (reference
        ``src/iceberg/iceberg-cdc-load.py:127-134``). Schema evolution:
        source-only columns (e.g. the CDC ``last_applied_date``) appear
        as null on untouched rows — the autoMerge semantics the
        reference enables (``src/delta/delta-initial-load.py:33``).

        ``guard_col``: optional late-data guard the reference lacks
        (SURVEY §2.10): update a matched row only when the source's
        guard value is strictly greater — a replayed or out-of-order
        batch can never regress a newer row.

        ``retries``: recompute-and-retry on commit conflict (0 =
        surface ``ConcurrentWriteError`` to the caller).
        """
        self._check_constraints(src)
        self._check_unique_keys(src)
        self._merge_with_retries(
            src, delete=False, guard_col=guard_col, retries=retries, snapshot_meta=snapshot_meta
        )

    def merge_delete(
        self, src: DataFrame, retries: int = 0, snapshot_meta: dict | None = None
    ) -> None:
        """W7/W8: ``MERGE INTO ... WHEN MATCHED THEN DELETE`` (reference
        ``src/delta/delta-cdc-load.py:135-141``). ``src`` only needs the
        primary-key column."""
        self._merge_with_retries(
            src, delete=True, guard_col=None, retries=retries, snapshot_meta=snapshot_meta
        )

    # -- maintenance / interchange ----------------------------------------

    def data_files(self) -> list[str]:
        cur = self.current_version()
        if cur is None:
            return []
        out = [os.path.join(root, fname) for root, fname in _iter_data_files(cur.path)]
        return sorted(out)

    def generate_manifest(self) -> str:
        """W10: symlink-format manifest — a text file listing the data
        files of the committed snapshot so external engines can read it
        (reference's Delta→Redshift manifest,
        ``cdk_stacks/glue_stack.py:262-279``)."""
        mdir = os.path.join(self.path, _MANIFEST_DIR)
        os.makedirs(mdir, exist_ok=True)
        mpath = os.path.join(mdir, "manifest")
        replace_file(mpath, "\n".join(self.data_files()) + "\n")
        return mpath

    def _zorder_numeric(self, df: DataFrame, c: str):
        """Order-preserving DOUBLE view of a z-order column — shared
        math in ``formats/zorder`` (late-r14: the foreign-path
        OPTIMIZE ZORDER rewrites use the same expression)."""
        from .zorder import zorder_numeric

        return zorder_numeric(df, c, self.spec.qualified_name)

    def _zorder_value(self, df: DataFrame, cols: list[str], bits: int = 10):
        """Z-value (Morton code) expression — shared math in
        ``formats/zorder`` (see there for the quantize-and-interleave
        design notes)."""
        from .zorder import zorder_value

        return zorder_value(df, cols, self.spec.qualified_name, bits)

    def _partition_layout(self, cur: TableVersion) -> dict[str, list[int]]:
        """Per-partition data-file sizes of a snapshot, keyed by the
        on-disk directory segment (``part=<escaped>``) — the metadata
        listing selective compaction decides from (filesystem only, no
        Spark job)."""
        part = self._part_name
        out: dict[str, list[int]] = {}
        for entry in os.listdir(cur.path):
            sub = os.path.join(cur.path, entry)
            if not entry.startswith(f"{part}=") or not os.path.isdir(sub):
                continue
            out[entry] = [
                os.path.getsize(os.path.join(sub, f))
                for f in os.listdir(sub)
                if f.endswith(".parquet") and not f.startswith(("_", "."))
            ]
        return out

    def _compact_partitions(
        self, cur: TableVersion, segments: list[str], target_file_mb: int
    ) -> None:
        """Rewrite ONLY the named partition directories (coalescing
        their small files) and hard-link every other partition forward
        — the merge path's partition-pruned rewrite, reused for
        maintenance."""
        pk, part = self.spec.primary_key, self._part_name
        paths = [os.path.join(cur.path, seg) for seg in segments]
        df = self.spark.read.option("basePath", cur.path).parquet(*paths)
        ptype = self._read_meta().get("partition_type")
        if ptype:
            df = df.withColumn(part, F.col(part).cast(ptype))
        sub_bytes = sum(
            os.path.getsize(os.path.join(p, f))
            for p in paths
            for f in os.listdir(p)
            if f.endswith(".parquet") and not f.startswith(("_", "."))
        )
        n_files = int(max(1, sub_bytes // (target_file_mb * 1024 * 1024)))
        compacted = df.repartition(n_files, F.col(part)).sortWithinPartitions(part, pk)
        staging = self._write_staging(compacted, cluster=False)
        self._link_forward(cur.path, staging, skip_segments=set(segments))
        self._stage_snapshot_meta(staging, self.snapshot_meta())  # carry forward
        self._stage_commit_op(staging, "compact")
        self._promote(staging, expected_version=cur.version)

    def compact(
        self,
        target_file_mb: int = 128,
        zorder: list[str] | None = None,
        n_files: int | None = None,
        selective: bool = True,
    ) -> str:
        """Small-file compaction (Delta OPTIMIZE / Iceberg
        rewrite_data_files equivalent). Returns what it did:
        ``"noop"`` | ``"selective"`` | ``"full"``.

        With ``selective=True`` (default) the full-table rewrite is the
        LAST resort, not the steady state — at 100 TB a maintenance
        loop that rewrites every byte every cycle is the bug:

        - A partition needs work only when it holds >= 2 files below
          half the target size; partitions already compact hard-link
          forward untouched (``_compact_partitions``), and when NO
          partition needs work the call is a metadata-only noop.
        - Unpartitioned tables noop by the same small-file test over
          the whole snapshot.
        - ``zorder=[cols...]`` (Delta ``OPTIMIZE ... ZORDER BY``) is an
          inherently GLOBAL re-layout (range-partition + sort by the
          Morton code so footer stats box every listed column), so
          selectivity instead comes from an idempotence marker: the
          compaction commit records (zorder, target, version) in its
          snapshot metadata, and a repeat call with the same layout
          against the same head noops. Any data commit moves the head
          past the marker and re-clustering runs again.

        ``n_files`` overrides the size-derived target and forces the
        full path (the caller is hand-shaping the layout)."""
        cur = self.current_version()
        pk, part = self.spec.primary_key, self._part_name
        small_bytes = target_file_mb * 1024 * 1024 // 2

        if selective and zorder and n_files is None:
            prev = (self.snapshot_meta() or {}).get("_compacted")
            if (
                prev
                and prev.get("zorder") == list(zorder)
                and prev.get("target_file_mb") == target_file_mb
                and prev.get("at_version") == cur.version
            ):
                return "noop"
        if selective and not zorder and n_files is None:
            if part:
                layout = self._partition_layout(cur)
                need = [
                    seg
                    for seg, sizes in layout.items()
                    if sum(1 for s in sizes if s < small_bytes) >= 2
                ]
                if not need:
                    return "noop"
                if len(need) <= self.max_affected_partitions and len(need) < len(layout):
                    self._compact_partitions(cur, need, target_file_mb)
                    return "selective"
                # Wide spread: the full rewrite below beats per-partition
                # bookkeeping (same reasoning as the merge fallback).
            else:
                sizes = [os.path.getsize(p) for p in self.data_files()]
                if sum(1 for s in sizes if s < small_bytes) < 2:
                    return "noop"

        df = self.read()
        total_bytes = sum(os.path.getsize(p) for p in self.data_files())
        if n_files is None:
            n_files = int(max(1, total_bytes // (target_file_mb * 1024 * 1024)))
        if zorder:
            z = self._zorder_value(df, zorder)
            compacted = (
                df.withColumn("__z", z)
                .repartitionByRange(n_files, F.col("__z"))
                .sortWithinPartitions("__z")
                .drop("__z")
            )
        elif part:
            compacted = (
                self._with_part_col(df)
                .repartition(n_files, F.col(part))
                .sortWithinPartitions(part, pk)
            )
        else:
            compacted = df.repartition(n_files).sortWithinPartitions(pk)
        staging = self._write_staging(compacted, cluster=False)
        meta = dict(self.snapshot_meta() or {})  # carry forward + marker
        meta["_compacted"] = {
            "zorder": list(zorder) if zorder else None,
            "target_file_mb": target_file_mb,
            # Predicted commit version (the number _promote allocates on
            # success against this head). A mispredict — possible only
            # if concurrent staging renames a higher directory in this
            # window — merely voids the marker, costing one redundant
            # re-cluster later; never a skipped-but-needed one.
            "at_version": max(cur.version, self._max_version_dir()) + 1,
        }
        self._stage_snapshot_meta(staging, meta)
        self._stage_commit_op(staging, "compact")
        self._promote(staging, expected_version=cur.version)
        return "full"

    def metadata_table(self, kind: str) -> DataFrame:
        """Iceberg-style queryable metadata (``SELECT * FROM t.files``
        equivalent): a small DataFrame over the committed metadata —
        joinable, filterable, SQL-visible via ``createOrReplaceTempView``
        — so operational questions (file sizes per partition, snapshot
        growth, ref inventory) are answered by queries, not scripts.

        Kinds: ``"files"`` (path, partition, bytes, rows per data file
        of the head snapshot — rows from the stats index, no data
        read), ``"history"`` (retained snapshots), ``"refs"`` (tags and
        branches with their pinned versions)."""
        if kind == "files":
            cur = self.current_version()
            if cur is None:
                raise FileNotFoundError(
                    f"table {self.spec.qualified_name} does not exist"
                )
            stats = self.file_stats() or {}
            part = self._part_name
            rows = []
            for f in self.data_files():
                rel = os.path.relpath(f, cur.path)
                seg = rel.split(os.sep, 1)[0] if part and os.sep in rel else None
                pval = seg.split("=", 1)[1] if seg and "=" in seg else None
                n = stats.get(rel, {}).get("_rows")
                rows.append((rel, pval, os.path.getsize(f), n))
            return local_frame(
                self.spark, rows, "path string, partition string, bytes long, rows long"
            )
        if kind == "history":
            return local_frame(
                self.spark,
                [(h["version"], h["n_files"], h["is_current"]) for h in self.history()],
                "version long, n_files long, is_current boolean",
            )
        if kind == "refs":
            refs = self._read_refs()
            rows = [("tag", name, v, None) for name, v in sorted(refs["tags"].items())]
            rows += [
                ("branch", name, b["head"], b["base"])
                for name, b in sorted(refs["branches"].items())
            ]
            return local_frame(
                self.spark, rows, "kind string, name string, version long, base long"
            )
        raise ValueError(f"unknown metadata table {kind!r}; choose files|history|refs")

    def fsck(self, staging_retention_s: float = 3600.0, deep: bool = False) -> list[dict]:
        """Integrity audit of the table's on-disk state — the
        operational check a format with hard links, refs, and crash
        debris owes its operators. Returns findings
        ``[{"severity": "error"|"warn", "kind": ..., "detail": ...}]``;
        an empty list means healthy. Never mutates anything (vacuum is
        the repair tool for debris findings).

        Checks: the committed pointer resolves to an existing version
        directory; every retained version's stats index covers exactly
        its data files; bloom coverage when the spec declares bloom
        columns; every tag and branch ref resolves to a retained
        version; stale staging directories and commit locks older than
        the retention window. ``deep=True`` additionally opens every
        data file's parquet footer (metadata-only read) to catch
        truncated/corrupt files."""
        findings: list[dict] = []

        def err(kind: str, detail: str) -> None:
            findings.append({"severity": "error", "kind": kind, "detail": detail})

        def warn(kind: str, detail: str) -> None:
            findings.append({"severity": "warn", "kind": kind, "detail": detail})

        if not self.exists():
            err("missing_pointer", "table has no committed _LATEST pointer")
            return findings
        cur = self.current_version()
        if not os.path.isdir(cur.path):
            err("dangling_pointer", f"head points at missing {os.path.basename(cur.path)}")

        retained: set[int] = set()
        for entry in sorted(os.listdir(self.path)):
            full = os.path.join(self.path, entry)
            if entry.startswith(_VERSION_PREFIX) and entry[len(_VERSION_PREFIX):].isdigit():
                retained.add(int(entry[len(_VERSION_PREFIX):]))
                files = {
                    os.path.relpath(os.path.join(root, f), full)
                    for root, f in _iter_data_files(full)
                }
                spath = os.path.join(full, _FILE_STATS)
                if os.path.isfile(spath):
                    with open(spath, encoding="utf-8") as fh:
                        covered = set(json.load(fh))
                    if files - covered:
                        err("stats_gap", f"{entry}: {len(files - covered)} data "
                            "files missing from the stats index")
                    if covered - files:
                        err("stats_orphan", f"{entry}: stats index lists "
                            f"{len(covered - files)} nonexistent files")
                else:
                    warn("no_stats", f"{entry}: no stats index (pre-stats snapshot)")
                if self.spec.bloom_filter_cols:
                    bcovered = set(self._read_blooms(full))
                    if not bcovered:
                        # No _bloom.json at all: a healthy snapshot
                        # committed before bloom_filter_cols entered the
                        # spec — the same upgrade situation as no_stats,
                        # so the same warn severity (reads fall back to
                        # stats-only pruning; an 'error' is reserved for
                        # a bloom file that EXISTS but misses files).
                        warn("no_blooms", f"{entry}: no bloom index "
                             "(pre-bloom snapshot)")
                    elif files - bcovered:
                        err("bloom_gap", f"{entry}: {len(files - bcovered)} data "
                            "files missing from the bloom index")
                if deep:
                    import pyarrow.parquet as pq

                    for rel in files:
                        try:
                            pq.ParquetFile(os.path.join(full, rel)).metadata
                        except Exception as ex:  # noqa: BLE001 — report, don't raise
                            err("unreadable_file", f"{entry}/{rel}: {ex}")
                continue
            if entry.startswith(".staging-"):
                try:
                    age = time.time() - os.path.getmtime(full)
                except OSError:
                    continue
                if age >= staging_retention_s:
                    warn("stale_staging", f"{entry} is {int(age)}s old (crash debris; "
                         "vacuum removes it)")
            if entry == _COMMIT_LOCK:
                try:
                    age = time.time() - os.path.getmtime(full)
                except OSError:
                    continue
                if age >= staging_retention_s:
                    warn("stale_lock", f"_commit.lock is {int(age)}s old (crashed "
                         "writer; vacuum breaks it)")

        refs = self._read_refs()
        for name, v in refs["tags"].items():
            if v not in retained:
                err("dangling_tag", f"tag {name!r} -> v{v} not retained")
        for name, b in refs["branches"].items():
            for what in ("head", "base"):
                if b[what] not in retained:
                    err("dangling_branch", f"branch {name!r} {what} -> v{b[what]} "
                        "not retained")
        return findings

    def history(self) -> list[dict]:
        """DESCRIBE HISTORY equivalent: retained snapshots, oldest
        first, with file counts and whether each is the committed
        head."""
        cur = self.current_version()
        if cur is None:
            return []
        out = []
        for entry in sorted(os.listdir(self.path)):
            if not entry.startswith(_VERSION_PREFIX) or not entry[len(_VERSION_PREFIX):].isdigit():
                continue
            v = int(entry[len(_VERSION_PREFIX):])
            vdir = os.path.join(self.path, entry)
            n_files = sum(1 for _root, _fname in _iter_data_files(vdir))
            out.append({"version": v, "n_files": n_files, "is_current": v == cur.version})
        return out

    def vacuum(
        self,
        retain_last: int = 1,
        staging_retention_s: float = 3600.0,
        lock_wait_s: float = 10.0,
    ) -> list[str]:
        """Delete version directories no longer referenced by the
        pointer (keeping ``retain_last`` most recent committed versions
        for time-travel/readers-in-flight). Hard links make this safe:
        files carried forward stay alive in newer versions.

        Concurrency: the sweep runs under ``_COMMIT_LOCK`` (waiting up
        to ``lock_wait_s`` for an in-flight commit, then raising
        ``ConcurrentWriteError``), so the ``v > cur.version`` branch can
        never observe — and delete — a staging directory ``_promote``
        has renamed to ``v(n+1)`` but not yet pointed ``_LATEST`` at.
        Staging directories are only removed once older than
        ``staging_retention_s`` (Delta VACUUM's retention-window idea):
        a fresh ``.staging-*`` may belong to a live writer between
        write and promote, and deleting it would fail that writer with
        ``FileNotFoundError`` instead of a retryable conflict.

        Stale-lock recovery: a writer killed between lock create and
        unlink leaves ``_commit.lock`` behind forever; ``_promote``
        never waits (it raises on a held lock), so without recovery the
        table would be permanently unwritable AND unvacuumable. A live
        commit holds the lock for seconds, so a lock older than
        ``staging_retention_s`` is crash debris by the same reasoning
        as stale staging dirs — vacuum breaks it and proceeds."""
        self._require_main("vacuum")
        cur = self.current_version()
        if cur is None:
            return []
        lock = os.path.join(self.path, _COMMIT_LOCK)
        deadline = time.monotonic() + lock_wait_s
        while True:
            try:
                fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                break
            except FileExistsError:
                try:
                    lock_age = time.time() - os.path.getmtime(lock)
                except OSError:
                    continue  # released between open and stat; retry now
                if lock_age >= staging_retention_s:
                    # Capture-then-verify break. A bare unlink(lock)
                    # here is NOT race-safe: between the mtime check
                    # and the unlink, another breaker may have removed
                    # the stale lock and a writer created a FRESH one
                    # at the same path — the unlink would then destroy
                    # the live lock and two holders would proceed
                    # (reintroducing the vacuum-vs-commit race this
                    # lock exists to prevent). Instead, atomically
                    # rename the lock to a unique name — only ONE
                    # breaker can win the rename of a given file — and
                    # re-check the mtime of the inode actually
                    # captured. Stale: discard it; the path is free.
                    # Fresh (path was swapped under us): restore it
                    # via link(), which atomically fails rather than
                    # clobbering any newer lock at the path.
                    captured = lock + ".breaking." + uuid.uuid4().hex
                    try:
                        os.rename(lock, captured)
                    except OSError:
                        continue  # another breaker won; re-acquire
                    try:
                        cap_age = time.time() - os.path.getmtime(captured)
                    except OSError:
                        continue
                    if cap_age >= staging_retention_s:
                        os.unlink(captured)
                        continue
                    try:
                        os.link(captured, lock)
                    except OSError:
                        pass  # path re-occupied; new holder stands
                    os.unlink(captured)
                    # Fresh lock restored — fall through to the
                    # deadline check below like any held lock, so a
                    # live commit can't starve vacuum into a spin.
                if time.monotonic() >= deadline:
                    raise ConcurrentWriteError(
                        f"{self.spec.qualified_name}: commit in flight; "
                        "vacuum timed out waiting for the commit lock"
                    ) from None
                time.sleep(0.05)
        try:
            cur = self.current_version()  # re-read under the lock
            removed: list[str] = []
            keep_from = cur.version - retain_last + 1
            # Ref'd snapshots are pinned regardless of retain_last
            # (Iceberg expire_snapshots never drops a ref'd snapshot):
            # tags, plus every live branch head — branch commits sit
            # ABOVE the main head in the shared version sequence, where
            # the debris sweep would otherwise take them.
            refs = self._read_refs()
            pinned = set(refs["tags"].values()) | {
                b["head"] for b in refs["branches"].values()
            }
            now = time.time()
            for entry in sorted(os.listdir(self.path)):
                full = os.path.join(self.path, entry)
                if entry.startswith(".staging-"):
                    # Orphaned staging from a crashed or conflict-losing
                    # writer is never referenced — but a FRESH one may be
                    # a live writer that hasn't called _promote yet.
                    try:
                        age = now - os.path.getmtime(full)
                    except OSError:
                        continue  # promoted/removed since listdir
                    if age < staging_retention_s:
                        continue
                    shutil.rmtree(full, ignore_errors=True)
                    removed.append(entry)
                    continue
                if not entry.startswith(_VERSION_PREFIX):
                    continue
                try:
                    v = int(entry[len(_VERSION_PREFIX):])
                except ValueError:
                    continue
                if v in pinned:
                    continue
                if v < keep_from or v > cur.version:  # uncommitted versions too
                    shutil.rmtree(full)
                    removed.append(entry)
            return removed
        finally:
            os.close(fd)
            # ENOENT tolerated — see _promote's finally.
            with suppress(FileNotFoundError):
                os.unlink(lock)


def temp_warehouse(prefix: str = "tdl_wh_") -> str:
    """A scratch warehouse directory for tests/demos."""
    return tempfile.mkdtemp(prefix=prefix)

"""Write path: parquet CoW format, catalog, ledger, pipeline lifecycles.

Mirrors the reference semantics per SURVEY §3.1/§3.2 and the e2e
strategy of §5: initial load + CDC batches, final table state compared
against a DuckDB oracle implementing latest-wins-then-delete.
"""

import os
import time
from datetime import datetime, timezone

import duckdb
import pytest

from automation_of_building_a_transactional_data_lake_spark.catalog import Catalog
from automation_of_building_a_transactional_data_lake_spark.formats.parquet_cow import (
    ConcurrentWriteError,
    MergeError,
    ParquetCowTable,
)
from automation_of_building_a_transactional_data_lake_spark.pipeline import (
    cdc_load,
    cdc_load_all,
    initial_load_all,
)
from automation_of_building_a_transactional_data_lake_spark.plans.demo_fixture import demo_root
from automation_of_building_a_transactional_data_lake_spark.sources.ledger import FileLedger
from automation_of_building_a_transactional_data_lake_spark.spec import GAME_SPECS, TableSpec

DEMO = demo_root()
CLOCK = datetime(2023, 9, 1, tzinfo=timezone.utc)

SPEC_PLAIN = TableSpec("t_plain", "id", None, None, "testdb")
SPEC_PART = TableSpec("t_part", "id", "cat", None, "testdb")


def _mk(spark, rows, schema="id long, val string, cat string"):
    return spark.createDataFrame(rows, schema)


# -- format unit tests -------------------------------------------------------


def test_create_read_roundtrip(spark, tmp_path):
    tbl = ParquetCowTable(spark, str(tmp_path), SPEC_PLAIN)
    assert not tbl.exists()
    df = _mk(spark, [(1, "a", "x"), (2, "b", "y")])
    assert tbl.create(df) is True
    got = {(r.id, r.val) for r in tbl.read().collect()}
    assert got == {(1, "a"), (2, "b")}


def test_idempotent_create_skips(spark, tmp_path):
    tbl = ParquetCowTable(spark, str(tmp_path), SPEC_PLAIN)
    tbl.create(_mk(spark, [(1, "a", "x")]))
    assert tbl.create(_mk(spark, [(9, "z", "z")])) is False  # skipped
    assert tbl.read().count() == 1


def test_merge_upsert_update_and_insert(spark, tmp_path):
    tbl = ParquetCowTable(spark, str(tmp_path), SPEC_PLAIN)
    tbl.create(_mk(spark, [(1, "a", "x"), (2, "b", "y")]))
    tbl.merge_upsert(_mk(spark, [(2, "B", "y"), (3, "c", "z")]))
    got = {(r.id, r.val) for r in tbl.read().collect()}
    assert got == {(1, "a"), (2, "B"), (3, "c")}


def test_merge_upsert_schema_evolution(spark, tmp_path):
    """Source-only column (the CDC audit stamp) must appear as null on
    untouched rows — reference autoMerge semantics."""
    tbl = ParquetCowTable(spark, str(tmp_path), SPEC_PLAIN)
    tbl.create(_mk(spark, [(1, "a", "x"), (2, "b", "y")]))
    src = _mk(spark, [(2, "B", "y")]).withColumn(
        "extra", __import__("pyspark.sql.functions", fromlist=["lit"]).lit("NEW")
    )
    tbl.merge_upsert(src)
    rows = {r.id: r.extra for r in tbl.read().collect()}
    assert rows == {1: None, 2: "NEW"}


def test_merge_delete(spark, tmp_path):
    tbl = ParquetCowTable(spark, str(tmp_path), SPEC_PLAIN)
    tbl.create(_mk(spark, [(1, "a", "x"), (2, "b", "y"), (3, "c", "z")]))
    tbl.merge_delete(spark.createDataFrame([(2,)], "id long"))
    assert {r.id for r in tbl.read().collect()} == {1, 3}


def test_merge_upsert_guard_col_rejects_stale_rows(spark, tmp_path):
    """Late-data guard (SURVEY §2.10): a source row only replaces a
    matched target row when its guard value is strictly greater."""
    spec = TableSpec("t_guard", "id", None, None, "testdb")
    tbl = ParquetCowTable(spark, str(tmp_path), spec)
    tbl.create(
        spark.createDataFrame(
            [(1, "cur", 5), (2, "cur", 5)], "id long, val string, ver long"
        )
    )
    src = spark.createDataFrame(
        [(1, "stale", 3), (2, "newer", 7), (3, "insert", 1)],
        "id long, val string, ver long",
    )
    tbl.merge_upsert(src, guard_col="ver")
    got = {(r.id, r.val) for r in tbl.read().collect()}
    assert got == {(1, "cur"), (2, "newer"), (3, "insert")}
    # Tie keeps the target ("strictly newer" contract).
    tbl.merge_upsert(
        spark.createDataFrame([(2, "tie", 7)], "id long, val string, ver long"),
        guard_col="ver",
    )
    assert {(r.id, r.val) for r in tbl.read().collect()} == {
        (1, "cur"), (2, "newer"), (3, "insert")
    }


def test_merge_rejects_duplicate_source_keys(spark, tmp_path):
    tbl = ParquetCowTable(spark, str(tmp_path), SPEC_PLAIN)
    tbl.create(_mk(spark, [(1, "a", "x")]))
    with pytest.raises(MergeError):
        tbl.merge_upsert(_mk(spark, [(1, "p", "x"), (1, "q", "x")]))


def test_partitioned_merge_prunes_and_handles_partition_move(spark, tmp_path):
    """An update that moves a key across partitions must remove the old
    row (old partition is rewritten because it holds a matched key)."""
    tbl = ParquetCowTable(spark, str(tmp_path), SPEC_PART)
    tbl.create(_mk(spark, [(1, "a", "x"), (2, "b", "y"), (3, "c", "z")]))
    v1_files = set(tbl.data_files())
    # Move key 2 from partition y -> x; partition z untouched.
    tbl.merge_upsert(_mk(spark, [(2, "B", "x")]))
    got = {(r.id, r.val, r.cat) for r in tbl.read().collect()}
    assert got == {(1, "a", "x"), (2, "B", "x"), (3, "c", "z")}
    # Partition z's file is carried forward (same inode, hard link).
    v2_files = set(tbl.data_files())
    z_old = [p for p in v1_files if "cat=z" in p]
    z_new = [p for p in v2_files if "cat=z" in p]
    assert len(z_old) == len(z_new)
    assert {os.stat(p).st_ino for p in z_old} == {os.stat(p).st_ino for p in z_new}


def test_versions_vacuum_compact_manifest(spark, tmp_path):
    tbl = ParquetCowTable(spark, str(tmp_path), SPEC_PLAIN)
    tbl.create(_mk(spark, [(1, "a", "x")]))
    tbl.merge_upsert(_mk(spark, [(2, "b", "y")]))
    assert tbl.current_version().version == 2
    tbl.compact()
    assert tbl.current_version().version == 3
    removed = tbl.vacuum(retain_last=1)
    assert removed == ["v00000001", "v00000002"]
    assert {r.id for r in tbl.read().collect()} == {1, 2}
    manifest = tbl.generate_manifest()
    listed = open(manifest).read().strip().splitlines()
    assert listed == tbl.data_files() and len(listed) >= 1


def test_concurrent_commit_conflict(spark, tmp_path):
    """Optimistic concurrency: a writer whose snapshot went stale gets
    ConcurrentWriteError, the winner's head is never clobbered, and the
    loser's staging directory is discarded (Delta
    ConcurrentModificationException / Iceberg commit-conflict
    semantics — stronger than the reference's max_concurrent_runs=1
    serialization, cdk_stacks/glue_stack.py:156-158)."""
    tbl = ParquetCowTable(spark, str(tmp_path), SPEC_PLAIN)
    tbl.create(_mk(spark, [(1, "a", "x")]))
    # Writer A stages a full rewrite computed against v1 ...
    staging = tbl._write_staging(_mk(spark, [(1, "A-stale", "x")]))
    # ... but writer B commits first (v2).
    tbl.merge_upsert(_mk(spark, [(2, "b", "y")]))
    assert tbl.current_version().version == 2
    with pytest.raises(ConcurrentWriteError):
        tbl._promote(staging, expected_version=1)
    # Winner's state intact; loser's staging gone; no version burned.
    assert tbl.current_version().version == 2
    assert {(r.id, r.val) for r in tbl.read().collect()} == {(1, "a"), (2, "b")}
    assert not os.path.isdir(staging)
    assert not [e for e in os.listdir(tbl.path) if e.startswith(".staging-")]


def test_commit_lock_in_flight_rejects_and_discards(spark, tmp_path):
    """A held commit lock fails the second writer fast and cleans up
    its staging; releasing the lock lets writes proceed again."""
    tbl = ParquetCowTable(spark, str(tmp_path), SPEC_PLAIN)
    tbl.create(_mk(spark, [(1, "a", "x")]))
    lock = os.path.join(tbl.path, "_commit.lock")
    open(lock, "w").close()
    with pytest.raises(ConcurrentWriteError):
        tbl.merge_upsert(_mk(spark, [(2, "b", "y")]))
    assert not [e for e in os.listdir(tbl.path) if e.startswith(".staging-")]
    os.unlink(lock)
    tbl.merge_upsert(_mk(spark, [(2, "b", "y")]))
    assert tbl.read().count() == 2


def test_concurrent_merges_converge_with_retries(spark, tmp_path):
    """Two writers merging disjoint keys concurrently, each with
    retries: whoever loses the head race recomputes against the new
    head and commits on retry — both merges land, no version is
    burned, no row is lost (Delta/Iceberg commit-retry semantics)."""
    import threading

    tbl = ParquetCowTable(spark, str(tmp_path), SPEC_PLAIN)
    tbl.create(_mk(spark, [(1, "a", "x")]))
    errs: list[Exception] = []

    def merge(rows):
        try:
            tbl.merge_upsert(_mk(spark, rows), retries=10)
        except Exception as ex:  # pragma: no cover - surfaced by assert
            errs.append(ex)

    threads = [
        threading.Thread(target=merge, args=([(2, "b", "y")],)),
        threading.Thread(target=merge, args=([(3, "c", "z")],)),
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs
    assert {(r.id, r.val) for r in tbl.read().collect()} == {(1, "a"), (2, "b"), (3, "c")}
    assert tbl.current_version().version == 3


def test_merge_retry_waits_out_held_lock(spark, tmp_path):
    """A merge with retries outlives a transiently-held commit lock."""
    import threading
    import time

    tbl = ParquetCowTable(spark, str(tmp_path), SPEC_PLAIN)
    tbl.create(_mk(spark, [(1, "a", "x")]))
    lock = os.path.join(tbl.path, "_commit.lock")
    open(lock, "w").close()
    done: list[bool] = []

    def merge():
        tbl.merge_upsert(_mk(spark, [(2, "b", "y")]), retries=50)
        done.append(True)

    t = threading.Thread(target=merge)
    t.start()
    time.sleep(0.5)
    os.unlink(lock)
    t.join(timeout=60)
    assert done and tbl.read().count() == 2


def test_vacuum_removes_orphaned_staging_after_retention(spark, tmp_path):
    """A FRESH .staging-* may belong to a live writer between write and
    promote — vacuum must spare it (r3 advisory: deleting it fails that
    writer with FileNotFoundError instead of a retryable conflict). Once
    older than the retention window it is an orphan and is removed."""
    tbl = ParquetCowTable(spark, str(tmp_path), SPEC_PLAIN)
    tbl.create(_mk(spark, [(1, "a", "x")]))
    orphan = os.path.join(tbl.path, ".staging-deadbeef")
    os.makedirs(orphan)
    # Within retention: spared.
    assert tbl.vacuum(retain_last=1) == []
    assert os.path.isdir(orphan)
    # Backdate past retention: removed.
    past = time.time() - 7200
    os.utime(orphan, (past, past))
    removed = tbl.vacuum(retain_last=1)
    assert ".staging-deadbeef" in removed and not os.path.isdir(orphan)


def test_vacuum_waits_for_commit_lock(spark, tmp_path):
    """vacuum's version sweep runs under _COMMIT_LOCK (r3 verdict #3):
    while a commit is in flight it waits, then surfaces a retryable
    ConcurrentWriteError — it can never sweep mid-promote."""
    tbl = ParquetCowTable(spark, str(tmp_path), SPEC_PLAIN)
    tbl.create(_mk(spark, [(1, "a", "x")]))
    tbl.merge_upsert(_mk(spark, [(2, "b", "y")]))
    lock = os.path.join(tbl.path, "_commit.lock")
    open(lock, "w").close()
    with pytest.raises(ConcurrentWriteError):
        tbl.vacuum(retain_last=1, lock_wait_s=0.2)
    os.unlink(lock)
    assert tbl.vacuum(retain_last=1) == ["v00000001"]


def test_tags_pin_snapshots_through_vacuum(spark, tmp_path):
    """Iceberg tag semantics: a tagged version survives vacuum
    regardless of retain_last, reads back bit-identically by name, and
    becomes reclaimable once the tag is dropped."""
    tbl = ParquetCowTable(spark, str(tmp_path), SPEC_PLAIN)
    tbl.create(_mk(spark, [(1, "a", "x")]))
    tbl.merge_upsert(_mk(spark, [(2, "b", "y")]))          # v2
    assert tbl.create_tag("train_cutoff") == 2             # default: head
    tbl.merge_upsert(_mk(spark, [(3, "c", "z")]))          # v3
    tbl.merge_upsert(_mk(spark, [(1, "a2", "x")]))         # v4

    removed = tbl.vacuum(retain_last=1)
    assert sorted(removed) == ["v00000001", "v00000003"]  # v2 pinned, v4 head
    assert {r.id for r in tbl.read(tag="train_cutoff").collect()} == {1, 2}
    # the same state via explicit time travel still works too
    assert tbl.read(version=2).count() == 2
    assert tbl.tags() == {"train_cutoff": 2}

    tbl.delete_tag("train_cutoff")
    assert tbl.vacuum(retain_last=1) == ["v00000002"]


def test_tag_validation_and_unknown_refs(spark, tmp_path):
    import pytest as _pytest

    tbl = ParquetCowTable(spark, str(tmp_path), SPEC_PLAIN)
    tbl.create(_mk(spark, [(1, "a", "x")]))
    tbl.create_tag("t1")
    with _pytest.raises(ValueError, match="already exists"):
        tbl.create_tag("t1")
    with _pytest.raises(FileNotFoundError, match="not a committed snapshot"):
        tbl.create_tag("future", version=99)
    with _pytest.raises(KeyError, match="does not exist"):
        tbl.read(tag="nope")
    with _pytest.raises(KeyError):
        tbl.delete_tag("nope")
    with _pytest.raises(ValueError, match="not both"):
        tbl.read(version=1, tag="t1")


@pytest.mark.parametrize("fmt", ["cow", "mor"])
def test_branch_write_audit_publish(spark, tmp_path, fmt):
    """WAP lifecycle on BOTH formats (r7 verdict #5 lifted the CoW-only
    restriction): branch commits are invisible to main until an atomic
    publish fast-forwards the pointer; the full merge machinery
    (upsert + delete) runs unchanged on the branch view."""
    from automation_of_building_a_transactional_data_lake_spark.formats.parquet_mor import (
        ParquetMorTable,
    )

    cls = ParquetCowTable if fmt == "cow" else ParquetMorTable
    tbl = cls(spark, str(tmp_path), SPEC_PLAIN)
    tbl.create(_mk(spark, [(1, "a", "x"), (2, "b", "y")]))   # v1
    assert tbl.create_branch("audit") == 1

    br = tbl.branch("audit")
    br.merge_upsert(_mk(spark, [(3, "c", "z")]))             # v2 on branch
    br.merge_delete(_mk(spark, [(2, "b", "y")]))             # v3 on branch
    # main is untouched; the branch sees its own lineage
    assert {r.id for r in tbl.read().collect()} == {1, 2}
    assert {r.id for r in br.read().collect()} == {1, 3}
    assert tbl.branches() == {"audit": {"head": 3, "base": 1}}

    published = tbl.publish_branch("audit")
    assert published == 3
    assert {r.id for r in tbl.read().collect()} == {1, 3}
    assert tbl.branches() == {}
    # vacuum after publish must not reclaim the published head's state
    removed = tbl.vacuum(retain_last=1)
    if fmt == "cow":
        assert "v00000003" not in removed
    assert {r.id for r in tbl.read().collect()} == {1, 3}


@pytest.mark.parametrize("fmt", ["cow", "mor"])
def test_branch_publish_conflicts_when_main_advances(spark, tmp_path, fmt):
    """Publishing after main moved past the fork point must conflict
    (the branch would silently drop main's commits), while dropping
    the branch leaves its versions to the debris sweep — both formats."""
    from automation_of_building_a_transactional_data_lake_spark.formats.parquet_mor import (
        ParquetMorTable,
    )

    cls = ParquetCowTable if fmt == "cow" else ParquetMorTable
    tbl = cls(spark, str(tmp_path), SPEC_PLAIN)
    tbl.create(_mk(spark, [(1, "a", "x")]))                  # v1
    tbl.create_branch("audit")
    br = tbl.branch("audit")
    br.merge_upsert(_mk(spark, [(3, "c", "z")]))             # v2 (branch)
    tbl.merge_upsert(_mk(spark, [(4, "d", "w")]))            # v3 (main: global seq skips v2)
    assert {r.id for r in tbl.read().collect()} == {1, 4}
    assert {r.id for r in br.read().collect()} == {1, 3}
    with pytest.raises(ConcurrentWriteError, match="re-branch"):
        tbl.publish_branch("audit")
    tbl.drop_branch("audit")
    # with the ref gone, the branch's v2 is debris above... below head:
    # v2 < main head v3 falls to the retain window instead
    removed = tbl.vacuum(retain_last=1)
    if fmt == "cow":
        assert "v00000002" in removed and "v00000001" in removed
    else:
        assert "d00000002" in removed  # abandoned branch delta reclaimed
    assert {r.id for r in tbl.read().collect()} == {1, 4}


def test_branch_view_guards(spark, tmp_path):
    tbl = ParquetCowTable(spark, str(tmp_path), SPEC_PLAIN)
    tbl.create(_mk(spark, [(1, "a", "x")]))
    tbl.create_branch("b1")
    br = tbl.branch("b1")
    for op in (
        lambda: br.vacuum(),
        lambda: br.create_tag("t"),
        lambda: br.create_branch("b2"),
        lambda: br.publish_branch("b1"),
        lambda: br.branch("b1"),
    ):
        with pytest.raises(ValueError, match="main table"):
            op()
    with pytest.raises(KeyError):
        tbl.branch("missing")
    with pytest.raises(ValueError, match="already exists"):
        tbl.create_branch("b1")


def test_vacuum_breaks_stale_commit_lock(spark, tmp_path):
    """A writer SIGKILLed between lock create and unlink leaves
    _commit.lock forever; _promote never waits, so every commit would
    raise and no maintenance could run. vacuum treats a lock older
    than staging_retention_s as crash debris (same reasoning as stale
    staging dirs), breaks it, and completes — while a FRESH lock still
    gets the in-flight-commit error."""
    tbl = ParquetCowTable(spark, str(tmp_path), SPEC_PLAIN)
    tbl.create(_mk(spark, [(1, "a", "x")]))
    tbl.merge_upsert(_mk(spark, [(2, "b", "y")]))
    lock = os.path.join(tbl.path, "_commit.lock")
    open(lock, "w").close()
    old = time.time() - 7200
    os.utime(lock, (old, old))  # crashed an hour+ ago
    # Stale: broken and swept in one call; commits work again after.
    assert tbl.vacuum(retain_last=1, staging_retention_s=3600.0) == ["v00000001"]
    assert not os.path.exists(lock)
    tbl.merge_upsert(_mk(spark, [(3, "c", "z")]))
    assert tbl.read().count() == 3


def test_vacuum_lock_break_restores_freshly_swapped_lock(spark, tmp_path, monkeypatch):
    """Race-safety of stale-lock breaking: if the lock observed as
    stale at the PATH turns out fresh once captured (another breaker
    removed the stale lock and a live writer re-created one between
    our stat and our rename), vacuum must restore the live lock
    instead of destroying it, leave no .breaking.* debris, and time
    out like any held-lock wait. Simulated deterministically by
    making the path-stat report stale while the captured-inode stat
    reports fresh."""
    tbl = ParquetCowTable(spark, str(tmp_path), SPEC_PLAIN)
    tbl.create(_mk(spark, [(1, "a", "x")]))
    lock = os.path.join(tbl.path, "_commit.lock")
    open(lock, "w").close()
    real_getmtime = os.path.getmtime

    def fake_getmtime(p):
        if ".breaking." in str(p):
            return time.time()  # the inode we captured is FRESH
        if str(p).endswith("_commit.lock"):
            return time.time() - 7200  # ... but the path looked stale
        return real_getmtime(p)

    monkeypatch.setattr(os.path, "getmtime", fake_getmtime)
    with pytest.raises(ConcurrentWriteError):
        tbl.vacuum(retain_last=1, staging_retention_s=3600.0, lock_wait_s=0.5)
    assert os.path.exists(lock)  # live lock restored, not destroyed
    assert not [e for e in os.listdir(tbl.path) if ".breaking." in e]


def test_vacuum_never_deletes_renamed_uncommitted_version(spark, tmp_path):
    """The exact race from the r3 verdict: _promote has renamed staging
    to v(n+1) but not yet advanced _LATEST — all under the lock. A
    concurrent vacuum must block on the lock (not delete v(n+1)), and
    once the commit completes the new head survives any later vacuum."""
    import threading

    tbl = ParquetCowTable(spark, str(tmp_path), SPEC_PLAIN)
    tbl.create(_mk(spark, [(1, "a", "x")]))
    lock = os.path.join(tbl.path, "_commit.lock")
    # Simulate mid-promote: lock held, v2 renamed into place, pointer
    # still at v1.
    open(lock, "w").close()
    staging = tbl._write_staging(_mk(spark, [(1, "a", "x"), (2, "b", "y")]))
    v2 = os.path.join(tbl.path, "v00000002")
    os.rename(staging, v2)
    results: list = []

    def run_vacuum():
        try:
            results.append(tbl.vacuum(retain_last=1, lock_wait_s=30))
        except Exception as ex:  # pragma: no cover - surfaced by assert
            results.append(ex)

    t = threading.Thread(target=run_vacuum)
    t.start()
    time.sleep(0.3)
    assert os.path.isdir(v2)  # blocked on the lock, nothing deleted
    tbl._commit(2)  # promote finishes: pointer -> v2 ...
    os.unlink(lock)  # ... and the lock is released
    t.join(timeout=30)
    assert results == [["v00000001"]]  # swept the stale v1, kept v2
    assert tbl.current_version().version == 2
    assert {r.id for r in tbl.read().collect()} == {1, 2}


def test_wide_backfill_merge_falls_back_to_full_rewrite(spark, tmp_path):
    """r3 verdict #8: a merge spanning more distinct partitions than
    ``max_affected_partitions`` must not build an O(partitions)
    driver-side value list / isin literal plan — it falls back to a
    full rewrite (the affected-partition collect is LIMIT-bounded in
    the plan itself). Final state identical; narrow merges keep the
    pruned path."""
    tbl = ParquetCowTable(spark, str(tmp_path), SPEC_PART)
    tbl.max_affected_partitions = 8
    tbl.create(_mk(spark, [(i, f"v{i}", f"c{i % 30}") for i in range(60)]))

    calls = []
    orig = tbl._merge_full

    def spy(*a, **k):
        calls.append(1)
        return orig(*a, **k)

    tbl._merge_full = spy
    # Year-wide-backfill shape: the batch touches 30 partitions > 8.
    tbl.merge_upsert(_mk(spark, [(i, f"V{i}", f"c{i % 30}") for i in range(0, 60, 2)]))
    assert calls, "wide merge should take the full-rewrite path"
    got = {(r.id, r.val) for r in tbl.read().collect()}
    assert got == {(i, f"V{i}" if i % 2 == 0 else f"v{i}") for i in range(60)}
    # Hive partition layout survives the full rewrite.
    assert all("cat=" in p for p in tbl.data_files())

    n = len(calls)
    tbl.merge_upsert(_mk(spark, [(0, "zz", "c0")]))
    assert len(calls) == n, "narrow merge should keep the pruned path"
    assert {r.val for r in tbl.read().filter("id = 0").collect()} == {"zz"}


def test_null_partition_merge_no_duplicates(spark, tmp_path):
    """Null partition values route through __HIVE_DEFAULT_PARTITION__:
    the affected-partition filter must include the isNull branch and
    link-forward must skip the hive-default dir, or the old row
    survives beside the new one (round-2 advisory)."""
    tbl = ParquetCowTable(spark, str(tmp_path), SPEC_PART)
    tbl.create(_mk(spark, [(1, "a", None), (2, "b", "y")]))
    tbl.merge_upsert(_mk(spark, [(1, "A", None), (3, "c", None)]))
    rows = [(r.id, r.val, r.cat) for r in tbl.read().collect()]
    assert sorted(rows) == [(1, "A", None), (2, "b", "y"), (3, "c", None)]
    tbl.merge_delete(spark.createDataFrame([(3,)], "id long"))
    assert sorted((r.id, r.cat) for r in tbl.read().collect()) == [(1, None), (2, "y")]


def test_escaped_partition_value_merge(spark, tmp_path):
    """Partition values containing Hive-reserved path chars (':' -> %3A
    on disk) must still dedupe on merge and carry forward correctly."""
    tbl = ParquetCowTable(spark, str(tmp_path), SPEC_PART)
    tbl.create(_mk(spark, [(1, "a", "p:q"), (2, "b", "y")]))
    tbl.merge_upsert(_mk(spark, [(1, "A", "p:q")]))
    rows = [(r.id, r.val, r.cat) for r in tbl.read().collect()]
    assert sorted(rows) == [(1, "A", "p:q"), (2, "b", "y")]


def test_compact_layout_and_content(spark, tmp_path):
    """Compaction must both preserve content and actually reduce the
    file count to the computed target (round-2: the plan carried a
    redundant exchange; now one repartition feeds the write)."""
    tbl = ParquetCowTable(spark, str(tmp_path), SPEC_PLAIN)
    df = spark.range(1000).selectExpr("id", "cast(id as string) AS val", "'x' AS cat")
    tbl.create(df.repartition(8))  # 8 small files in v1
    assert len(tbl.data_files()) == 8
    before = {(r.id, r.val) for r in tbl.read().collect()}
    tbl.compact(target_file_mb=128)  # tiny table -> 1 file
    assert len(tbl.data_files()) == 1
    assert {(r.id, r.val) for r in tbl.read().collect()} == before


def test_file_stats_data_skipping(spark, tmp_path):
    """Delta-style stats skipping: on a range-clustered table a narrow
    range predicate opens a strict subset of files via footer min/max,
    and the skipped read equals the full-scan filter exactly. Stats
    commit atomically with the version (inside the staged dir)."""
    tbl = ParquetCowTable(spark, str(tmp_path), SPEC_PLAIN)
    df = (
        spark.range(1000)
        .selectExpr("id", "cast(id as string) AS val", "'x' AS cat")
        .repartitionByRange(4, "id")
    )
    tbl.create(df)
    assert len(tbl.data_files()) == 4
    stats = tbl.file_stats()
    assert stats and all("id" in s for s in stats.values())

    pruned = tbl.pruned_files("id", 100, 120)
    assert 1 <= len(pruned) < 4
    got = {r.id for r in tbl.read_skipping("id", 100, 120).collect()}
    want = {r.id for r in tbl.read().filter("id BETWEEN 100 AND 120").collect()}
    assert got == want == set(range(100, 121))

    # Open-ended ranges and the no-match fast path.
    assert len(tbl.pruned_files("id", lower=900)) < 4
    assert tbl.read_skipping("id", lower=2000).count() == 0
    # Unknown column -> conservative, keeps everything, still correct.
    assert len(tbl.pruned_files("nope", 0, 1)) == 4


def test_file_stats_survive_merge_and_strings(spark, tmp_path):
    """Merges re-collect stats for the new snapshot (including files
    carried forward by hard link), and string columns skip too."""
    tbl = ParquetCowTable(spark, str(tmp_path), SPEC_PART)
    tbl.create(_mk(spark, [(1, "apple", "x"), (2, "mango", "y"), (3, "zebra", "z")]))
    tbl.merge_upsert(_mk(spark, [(2, "melon", "y")]))
    stats = tbl.file_stats()
    assert stats and all("val" in s for s in stats.values())
    pruned = tbl.pruned_files("val", "a", "b")
    assert len(pruned) < len(tbl.data_files())
    got = {(r.id, r.val) for r in tbl.read_skipping("val", "a", "b").collect()}
    assert got == {(1, "apple")}


def test_read_partitions_in_list_prune(spark, tmp_path):
    """read_partitions plans ONLY the named partitions' files (the
    engine-side IN-list directory prune the ANN-index probe rides):
    inputFiles reflects the prune, results equal the full-scan isin
    filter — including null partitions and hive-escaped values — and
    a no-match list returns an empty, correctly-typed frame."""
    tbl = ParquetCowTable(spark, str(tmp_path), SPEC_PART)
    rows = [(1, "a", "x"), (2, "b", "y"), (3, "c", "a:b"), (4, "d", None), (5, "e", "y")]
    tbl.create(_mk(spark, rows))
    all_files = set(tbl.data_files())

    got = tbl.read_partitions(["y"])
    assert {(r.id, r.cat) for r in got.collect()} == {(2, "y"), (5, "y")}
    assert set(got.inputFiles()) < {f"file:{p}" for p in all_files} or len(
        set(got.inputFiles())
    ) < len(all_files)

    # Escaped value (':' is hive-escaped in the directory name) and a
    # null partition (__HIVE_DEFAULT_PARTITION__) both resolve.
    assert {r.id for r in tbl.read_partitions(["a:b"]).collect()} == {3}
    assert {r.id for r in tbl.read_partitions([None]).collect()} == {4}
    assert {r.id for r in tbl.read_partitions([None, "x"]).collect()} == {1, 4}

    # No-match fast path: empty frame, full schema preserved.
    empty = tbl.read_partitions(["nope"])
    assert empty.count() == 0
    assert empty.columns == tbl.read().columns

    # Unpartitioned tables refuse loudly.
    plain = ParquetCowTable(spark, str(tmp_path / "p2"), SPEC_PLAIN)
    plain.create(_mk(spark, [(1, "a", "x")]))
    with pytest.raises(ValueError, match="not partitioned"):
        plain.read_partitions(["x"])


def test_file_stats_skip_on_date_column(spark, tmp_path):
    """Date min/max round-trip through the stats file as ISO strings
    (ISO order == chronological order), so date-range skipping works —
    the dominant 100-TB pattern (time-clustered fact tables)."""
    spec = TableSpec("t_dates", "id", None, None, "testdb")
    tbl = ParquetCowTable(spark, str(tmp_path), spec)
    df = spark.range(365).selectExpr(
        "id", "date_add(date'2023-01-01', cast(id AS int)) AS d"
    ).repartitionByRange(12, "d")
    tbl.create(df)
    assert len(tbl.data_files()) == 12
    import datetime as dt

    pruned = tbl.pruned_files("d", dt.date(2023, 3, 1), dt.date(2023, 3, 31))
    assert 1 <= len(pruned) <= 3
    got = {r.d for r in tbl.read_skipping("d", dt.date(2023, 3, 1), dt.date(2023, 3, 31)).collect()}
    assert len(got) == 31 and min(got) == dt.date(2023, 3, 1)


def test_compact_zorder_multi_column_skipping(spark, tmp_path):
    """OPTIMIZE ZORDER equivalent: after z-order compaction the footer
    stats prune on EVERY clustered column; a linear sort (control) only
    prunes on its leading column. 64x64 grid where id = b*64 + a, so
    sorting by pk orders by b and leaves a unprunable."""
    spec = TableSpec("t_z", "id", None, None, "testdb")
    tbl = ParquetCowTable(spark, str(tmp_path), spec)
    df = spark.range(4096).selectExpr("id", "id % 64 AS a", "id DIV 64 AS b")
    tbl.create(df.repartition(4))

    # Control: plain compaction round-robins rows across files (each
    # file spans the full range of every column) -> nothing prunes.
    tbl.compact(n_files=16)
    assert len(tbl.data_files()) == 16
    assert len(tbl.pruned_files("a", 0, 7)) == 16
    assert len(tbl.pruned_files("b", 0, 7)) == 16

    tbl.compact(zorder=["a", "b"], n_files=16)
    assert len(tbl.data_files()) == 16
    pa, pb = tbl.pruned_files("a", 0, 7), tbl.pruned_files("b", 0, 7)
    assert len(pa) < 16 and len(pb) < 16  # both dimensions prune now

    got = {r.id for r in tbl.read_skipping("a", 0, 7).collect()}
    want = {r.id for r in tbl.read().filter("a BETWEEN 0 AND 7").collect()}
    assert got == want and len(want) == 8 * 64


def test_compact_zorder_temporal_columns(spark, tmp_path):
    """ZORDER BY (event_date, user_id) — THE canonical 100-TB layout
    (r3 verdict #4): temporal columns quantize via epoch numerics, and
    after z-order compaction stats skipping prunes on the date range
    AND the id range. Also covers null dates (bucket 0, no crash)."""
    import datetime as dt

    spec = TableSpec("t_zt", "id", None, None, "testdb")
    tbl = ParquetCowTable(spark, str(tmp_path), spec)
    # 64 days x 64 users; id encodes (day, user) so a pk sort would
    # cluster only the date dimension.
    df = spark.range(4096).selectExpr(
        "id",
        "date_add(DATE'2023-01-01', CAST(id % 64 AS INT)) AS event_date",
        "id DIV 64 AS user_id",
        "CAST(timestampadd(HOUR, CAST(id % 64 AS INT), TIMESTAMP'2023-01-01 00:00:00') "
        "AS TIMESTAMP) AS ts",
    )
    tbl.create(df.repartition(4))
    tbl.compact(zorder=["event_date", "user_id"], n_files=16)
    assert len(tbl.data_files()) == 16
    pd_ = tbl.pruned_files("event_date", dt.date(2023, 1, 1), dt.date(2023, 1, 8))
    pu = tbl.pruned_files("user_id", 0, 7)
    assert len(pd_) < 16 and len(pu) < 16  # both dimensions prune
    got = {
        r.id
        for r in tbl.read_skipping(
            "event_date", dt.date(2023, 1, 1), dt.date(2023, 1, 8)
        ).collect()
    }
    want = {
        r.id
        for r in tbl.read().filter("event_date BETWEEN '2023-01-01' AND '2023-01-08'").collect()
    }
    assert got == want and len(want) == 8 * 64

    # Timestamp + null handling: z-order by (ts, user_id) with some
    # nulls must not crash and must keep every row.
    null_df = df.selectExpr(
        "id", "event_date", "user_id", "CASE WHEN id % 100 = 0 THEN NULL ELSE ts END AS ts"
    )
    tbl.overwrite(null_df)
    tbl.compact(zorder=["ts", "user_id"], n_files=8)
    assert tbl.read().count() == 4096

    # Unknown / unsupported columns fail loudly, not with a float()
    # TypeError at bounds-collect time.
    with pytest.raises(ValueError, match="not in table schema"):
        tbl.compact(zorder=["event_date", "no_such_column"])
    tbl.overwrite(null_df.selectExpr("id", "event_date", "user_id", "CAST(ts AS STRING) AS ts"))
    with pytest.raises(TypeError, match="cannot zorder"):
        tbl.compact(zorder=["ts", "user_id"])


def test_catalog_listing_and_views(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path))
    assert cat.list_tables("testdb") == []
    cat.table(SPEC_PLAIN).create(_mk(spark, [(1, "a", "x")]))
    assert cat.list_tables("testdb") == ["t_plain"]
    assert cat.table_exists(SPEC_PLAIN)
    view = cat.register_temp_view(SPEC_PLAIN)
    assert spark.sql(f"SELECT count(*) AS n FROM {view}").collect()[0].n == 1


def test_check_constraints_reject_bad_batches(spark, tmp_path):
    """Delta CHECK-constraint semantics: a batch with any violating
    row is rejected before staging (nothing written, version
    unchanged); conforming batches pass; a NULL predicate passes
    (SQL-standard CHECK)."""
    from automation_of_building_a_transactional_data_lake_spark.formats.parquet_cow import (
        ConstraintViolation,
    )

    spec = TableSpec(
        "t_check", "id", None, None, "testdb",
        constraints=("id > 0", "val IS NOT NULL"),
    )
    tbl = ParquetCowTable(spark, str(tmp_path), spec)
    with pytest.raises(ConstraintViolation):
        tbl.create(_mk(spark, [(1, "a", "x"), (-5, "b", "y")]))
    assert not tbl.exists()  # nothing staged or committed

    tbl.create(_mk(spark, [(1, "a", "x")]))
    v = tbl.current_version().version
    with pytest.raises(ConstraintViolation):
        tbl.merge_upsert(_mk(spark, [(2, None, "y")]))
    assert tbl.current_version().version == v
    assert tbl.read().count() == 1

    # NULL predicate result passes (constraint on a null comparison).
    spec2 = TableSpec("t_check2", "id", None, None, "testdb", constraints=("cat <> 'ban'",))
    tbl2 = ParquetCowTable(spark, str(tmp_path / "c2"), spec2)
    tbl2.create(_mk(spark, [(1, "a", None)]))  # cat NULL -> predicate NULL -> pass
    assert tbl2.read().count() == 1


def test_resolve_spec_rehydrates_write_invariants(spark, tmp_path):
    """r7 advisory: constraints/bloom/version-key/z-order persist into
    _format.json at create and rehydrate through resolve_spec — so a
    writer that addresses the table BY NAME (the LakeSQL MERGE path)
    enforces exactly what the creator declared instead of silently
    skipping validation."""
    from automation_of_building_a_transactional_data_lake_spark.formats.parquet_cow import (
        ConstraintViolation,
    )

    cat = Catalog(spark, str(tmp_path / "wh"))
    spec = TableSpec(
        "t_inv", "id", None, "ver", "testdb",
        zorder_by=("id",),
        constraints=("id > 0",),
        bloom_filter_cols=("val",),
    )
    cat.table(spec).create(
        spark.createDataFrame([(1, "a", 1)], "id long, val string, ver long")
    )
    resolved = cat.resolve_spec("testdb", "t_inv")
    assert resolved.constraints == ("id > 0",)
    assert resolved.bloom_filter_cols == ("val",)
    assert resolved.version_key == "ver"
    assert resolved.zorder_by == ("id",)
    # The name-resolved handle enforces the creator's CHECK constraint.
    with pytest.raises(ConstraintViolation):
        cat.table(resolved).merge_upsert(
            spark.createDataFrame([(-9, "bad", 2)], "id long, val string, ver long")
        )
    # MoR tables persist the same invariants.
    cat_m = Catalog(spark, str(tmp_path / "whm"), table_format="mor")
    cat_m.table(spec).create(
        spark.createDataFrame([(1, "a", 1)], "id long, val string, ver long")
    )
    rm = cat_m.resolve_spec("testdb", "t_inv")
    assert rm.constraints == ("id > 0",) and rm.version_key == "ver"


def test_mor_dv_mode_mismatch_errors(spark, tmp_path):
    """r7 advisory: opening an existing classic MoR table with
    deletion_vectors=True (or vice versa) must error — honoring the
    flag would resurrect base rows superseded by earlier deltas."""
    from automation_of_building_a_transactional_data_lake_spark.formats.parquet_mor import (
        ParquetMorTable,
    )

    spec = TableSpec("t_dvm", "id", None, None, "testdb")
    tbl = ParquetMorTable(spark, str(tmp_path), spec, deletion_vectors=False)
    tbl.create(_mk(spark, [(1, "a", "x")]))
    tbl.merge_upsert(_mk(spark, [(1, "a2", "x")]))
    with pytest.raises(ValueError, match="deletion_vectors"):
        ParquetMorTable(spark, str(tmp_path), spec, deletion_vectors=True)
    # Matching explicit flag and omitted flag both open fine.
    assert ParquetMorTable(spark, str(tmp_path), spec, deletion_vectors=False).read().count() == 1
    assert ParquetMorTable(spark, str(tmp_path), spec).read().count() == 1


def test_empty_edge_cases(spark, tmp_path):
    """Empty inputs must be safe everywhere: creating an empty table,
    reading it, merging an empty batch (no-op content), merging into
    an empty table, and compacting it."""
    empty = spark.createDataFrame([], "id long, val string, cat string")
    tbl = ParquetCowTable(spark, str(tmp_path / "e1"), SPEC_PLAIN)
    tbl.create(empty)
    assert tbl.read().count() == 0
    tbl.merge_upsert(_mk(spark, [(1, "a", "x")]))  # into empty table
    assert {(r.id, r.val) for r in tbl.read().collect()} == {(1, "a")}
    tbl.merge_upsert(empty)  # empty batch
    assert {(r.id, r.val) for r in tbl.read().collect()} == {(1, "a")}
    tbl.merge_delete(spark.createDataFrame([], "id long"))
    assert tbl.read().count() == 1
    tbl.compact()
    assert {(r.id, r.val) for r in tbl.read().collect()} == {(1, "a")}

    part = ParquetCowTable(spark, str(tmp_path / "e2"), SPEC_PART)
    part.create(_mk(spark, [(1, "a", "x")]))
    part.merge_upsert(empty)  # empty batch on partitioned table
    assert {(r.id, r.val) for r in part.read().collect()} == {(1, "a")}


def test_snapshot_changes_cdf(spark, tmp_path):
    """Change-data-feed between versions: create -> upsert -> delete,
    then diff v1..head classifies every row correctly; diffing
    adjacent versions isolates each transition; identical versions
    diff to empty. Also exercised through the MoR backend."""
    from automation_of_building_a_transactional_data_lake_spark.formats.changes import (
        snapshot_changes,
    )
    from automation_of_building_a_transactional_data_lake_spark.formats.parquet_mor import (
        ParquetMorTable,
    )

    for cls in (ParquetCowTable, ParquetMorTable):
        tbl = cls(spark, str(tmp_path / cls.__name__), SPEC_PLAIN)
        tbl.create(_mk(spark, [(1, "a", "x"), (2, "b", "y")]))       # v1
        tbl.merge_upsert(_mk(spark, [(2, "B", "y"), (3, "c", "z")]))  # v2
        tbl.merge_delete(spark.createDataFrame([(1,)], "id long"))    # v3

        got = {
            (r.id, r.val, r[-1])
            for r in snapshot_changes(tbl, 1).select("id", "val", "_change_type").collect()
        }
        assert got == {
            (3, "c", "insert"),
            (1, "a", "delete"),
            (2, "b", "update_preimage"),
            (2, "B", "update_postimage"),
        }, cls.__name__
        only_delete = {
            (r.id, r[-1])
            for r in snapshot_changes(tbl, 2, 3).select("id", "_change_type").collect()
        }
        assert only_delete == {(1, "delete")}, cls.__name__
        assert snapshot_changes(tbl, 1, 1).count() == 0, cls.__name__


# -- ledger ------------------------------------------------------------------


def test_ledger_only_new_files(tmp_path):
    raw = tmp_path / "raw"
    raw.mkdir()
    (raw / "a.parquet").write_bytes(b"x")
    (raw / "b.parquet").write_bytes(b"x")
    led = FileLedger(str(tmp_path / "tbl"))
    first = led.new_files(str(raw))
    assert [os.path.basename(p) for p in first] == ["a.parquet", "b.parquet"]
    led.commit(first)
    assert led.new_files(str(raw)) == []
    (raw / "c.parquet").write_bytes(b"x")
    assert [os.path.basename(p) for p in led.new_files(str(raw))] == ["c.parquet"]


# -- pipeline e2e against the reference demo data ----------------------------


@pytest.fixture(scope="module")
def loaded_game(spark, tmp_path_factory):
    wh = str(tmp_path_factory.mktemp("wh"))
    cat = Catalog(spark, wh)
    init_reports = initial_load_all(spark, cat, GAME_SPECS, DEMO)
    cdc_reports = cdc_load_all(spark, cat, GAME_SPECS, DEMO, clock=CLOCK)
    return cat, init_reports, cdc_reports


def test_initial_load_all_creates(loaded_game):
    _, init_reports, _ = loaded_game
    assert [r.action for r in init_reports] == ["created"] * 4


def test_cdc_load_all_merges_with_telemetry(loaded_game):
    _, _, cdc_reports = loaded_game
    by_table = {r.table: r for r in cdc_reports}
    assert by_table["user_data"].telemetry["I"] == 46
    assert by_table["user_data"].telemetry["D"] == 2
    # item_data has 13 in-batch duplicate keys: deduped telemetry counts
    # unique keys, total <= 100.
    assert by_table["item_data"].telemetry["total"] <= 100
    assert all(r.action == "merged" for r in cdc_reports)


def test_user_data_final_state_matches_duckdb_oracle(loaded_game):
    """End-to-end gate (SURVEY §5): latest-wins-then-delete applied by
    DuckDB over the same raw files must equal the managed table."""
    cat, _, _ = loaded_game
    spec = next(s for s in GAME_SPECS if s.table_name == "user_data")
    got = (
        cat.read_table(spec)
        .selectExpr("user_id", "email", "cur_level", "cast(last_login as date) AS ll")
        .toPandas()
        .sort_values("user_id")
        .reset_index(drop=True)
    )
    oracle = duckdb.sql(
        f"""
        WITH init AS (
          SELECT * FROM read_parquet('{DEMO}/initial-load/game/user_data/*.parquet')
        ), cdc AS (
          SELECT * FROM read_parquet('{DEMO}/cdc-load/game/user_data/*.parquet')
        ), latest AS (
          SELECT *, row_number() OVER (
            PARTITION BY user_id
            ORDER BY "timestamp" DESC,
                     (CASE Op WHEN 'D' THEN 2 WHEN 'U' THEN 1 ELSE 0 END) DESC
          ) AS rn FROM cdc
        ), dedup AS (SELECT * FROM latest WHERE rn = 1)
        SELECT user_id, email, cur_level, CAST(last_login AS DATE) AS ll
        FROM (
          SELECT * FROM init WHERE user_id NOT IN (SELECT user_id FROM dedup)
          UNION ALL BY NAME
          SELECT * EXCLUDE (Op, "timestamp", rn) FROM dedup WHERE Op <> 'D'
        ) ORDER BY user_id
        """
    ).df()
    assert len(got) == len(oracle)
    assert (got["user_id"].values == oracle["user_id"].values).all()
    assert (got["email"].values == oracle["email"].values).all()
    assert (got["cur_level"].values == oracle["cur_level"].values).all()
    assert (got["ll"].astype(str).values == oracle["ll"].astype(str).values).all()


def test_cdc_rerun_is_idempotent(spark, loaded_game):
    """Same batch applied twice -> identical state (ledger makes the
    second run a no-op; reference bookmark semantics)."""
    cat, _, _ = loaded_game
    spec = next(s for s in GAME_SPECS if s.table_name == "item_data")
    before = cat.table(spec).current_version().version
    rpt = cdc_load(spark, cat, spec, DEMO, clock=CLOCK)
    assert rpt.action == "skipped_empty"
    assert cat.table(spec).current_version().version == before


def test_cdc_missing_table_guard(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path))
    spec = next(s for s in GAME_SPECS if s.table_name == "user_data")
    rpt = cdc_load(spark, cat, spec, DEMO, clock=CLOCK)
    assert rpt.action == "skipped_missing"
    # Ledger must NOT have committed: files still pending.
    assert FileLedger(cat.table(spec).path).new_files(
        f"{DEMO}/cdc-load/game/user_data"
    ) == rpt.files


def test_audit_column_stamped_on_upserts_only(loaded_game):
    cat, _, _ = loaded_game
    spec = next(s for s in GAME_SPECS if s.table_name == "user_data")
    df = cat.read_table(spec)
    stamped = df.filter("last_applied_date IS NOT NULL").count()
    # 46 inserts + 52 updates - keys whose final op was D = upserted rows.
    assert stamped > 0
    assert df.filter("last_applied_date = timestamp'2023-09-01 00:00:00'").count() == stamped


def _scanned_files(df) -> int:
    """numFiles metric of the (single) file scan after an action ran."""
    scan = df._jdf.queryExecution().executedPlan().collectLeaves().head()
    return scan.metrics().apply("numFiles").value()


def test_partition_filter_is_physical(spark, tmp_path):
    """A partition-key predicate on a partitioned table must prune at
    the FILE level (PartitionFilters in the scan, fewer files opened),
    not as a post-scan row filter — the property that makes
    date-clustered 100 TB tables scannable. (inputFiles() is
    relation-level and reports pre-pruning files; the executed scan's
    numFiles metric is the honest signal.)"""
    tbl = ParquetCowTable(spark, str(tmp_path), SPEC_PART)
    tbl.create(_mk(spark, [(1, "a", "x"), (2, "b", "y"), (3, "c", "z")]))
    df = tbl.read().filter("cat = 'y'")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cat" in plan.split("PartitionFilters")[1][:120]
    assert {r.id for r in df.collect()} == {2}
    full = tbl.read()
    full.collect()
    assert _scanned_files(full) == 3  # one file per hive partition
    assert _scanned_files(df) == 1  # only cat=y opened


def test_play_data_case_sensitive_column_preserved(loaded_game):
    """SURVEY hard-part 6: play_data's `MultiPoints` column must keep
    its exact case through create + merge + read, and the final state
    must match the DuckDB latest-wins oracle (its CDC batch is all-I —
    pure inserts on top of the initial load)."""
    cat, _, _ = loaded_game
    spec = next(s for s in GAME_SPECS if s.table_name == "play_data")
    df = cat.read_table(spec)
    assert "MultiPoints" in df.columns  # exact case, not multipoints
    got = (
        df.selectExpr("play_id", "MultiPoints", "time_spent")
        .toPandas()
        .sort_values("play_id")
        .reset_index(drop=True)
    )
    oracle = duckdb.sql(
        f"""
        WITH init AS (
          SELECT * FROM read_parquet('{DEMO}/initial-load/game/play_data/*.parquet')
        ), cdc AS (
          SELECT * FROM read_parquet('{DEMO}/cdc-load/game/play_data/*.parquet')
        ), latest AS (
          SELECT *, row_number() OVER (
            PARTITION BY play_id
            ORDER BY "timestamp" DESC,
                     (CASE Op WHEN 'D' THEN 2 WHEN 'U' THEN 1 ELSE 0 END) DESC
          ) AS rn FROM cdc
        ), dedup AS (SELECT * FROM latest WHERE rn = 1)
        SELECT play_id, "MultiPoints", time_spent
        FROM (
          SELECT * FROM init WHERE play_id NOT IN (SELECT play_id FROM dedup)
          UNION ALL BY NAME
          SELECT * EXCLUDE (Op, "timestamp", rn) FROM dedup WHERE Op <> 'D'
        ) ORDER BY play_id
        """
    ).df()
    assert len(got) == len(oracle) > 100
    assert (got["play_id"].values == oracle["play_id"].values).all()
    assert (got["MultiPoints"].values == oracle["MultiPoints"].values).all()
    assert (got["time_spent"].values == oracle["time_spent"].values).all()


def test_compact_selective_rewrites_only_fragmented_partitions(spark, tmp_path):
    """At scale the maintenance loop must NOT rewrite the whole table
    every cycle: only partitions holding multiple small files rewrite;
    already-compact partitions hard-link forward (same inode), and a
    follow-up compact is a metadata-only noop."""
    tbl = ParquetCowTable(spark, str(tmp_path), SPEC_PART)
    rows = [(i, f"v{i}", "x") for i in range(600)] + [(9999, "solo", "y")]
    df = spark.createDataFrame(rows, "id long, val string, cat string")
    tbl.create(df)  # v1: write clustering -> 1 file per partition
    # Fragment ONLY cat=x: stage an unclustered rewrite (6 round-robin
    # tasks -> up to 6 files for x's 600 rows; y's single row stays 1).
    staging = tbl._write_staging(df.repartition(6), cluster=False)
    tbl._promote(staging, expected_version=1)
    layout = tbl._partition_layout(tbl.current_version())
    assert len(layout["cat=x"]) > 1 and len(layout["cat=y"]) == 1
    y_file = os.path.join(tbl.current_version().path, "cat=y")
    y_inodes = {os.stat(os.path.join(y_file, f)).st_ino
                for f in os.listdir(y_file) if f.endswith(".parquet")}
    before = {(r.id, r.val, r.cat) for r in tbl.read().collect()}

    assert tbl.compact(target_file_mb=128) == "selective"
    layout2 = tbl._partition_layout(tbl.current_version())
    assert len(layout2["cat=x"]) == 1  # coalesced
    y_dir2 = os.path.join(tbl.current_version().path, "cat=y")
    y_inodes2 = {os.stat(os.path.join(y_dir2, f)).st_ino
                 for f in os.listdir(y_dir2) if f.endswith(".parquet")}
    assert y_inodes2 == y_inodes  # carried forward by reference, not rewritten
    assert {(r.id, r.val, r.cat) for r in tbl.read().collect()} == before

    assert tbl.compact(target_file_mb=128) == "noop"  # steady state


def test_compact_noop_on_already_compact_unpartitioned(spark, tmp_path):
    tbl = ParquetCowTable(spark, str(tmp_path), SPEC_PLAIN)
    df = spark.range(500).selectExpr("id", "cast(id as string) AS val", "'x' AS cat")
    tbl.create(df.repartition(5))
    v_before = tbl.current_version().version
    assert tbl.compact(target_file_mb=128) == "full"
    assert tbl.compact(target_file_mb=128) == "noop"
    assert tbl.current_version().version == v_before + 1  # exactly one rewrite


def test_compact_zorder_marker_idempotent_until_data_changes(spark, tmp_path):
    """Z-order is a global re-layout, so selectivity is an idempotence
    marker: same layout against the same head noops; any data commit
    voids the marker and re-clustering runs."""
    tbl = ParquetCowTable(spark, str(tmp_path), SPEC_PLAIN)
    df = spark.range(1000).selectExpr(
        "id", "id * 7 % 13 AS val", "'x' AS cat"
    )
    tbl.create(df.repartition(4))
    assert tbl.compact(zorder=["id"]) == "full"
    assert tbl.compact(zorder=["id"]) == "noop"
    assert tbl.compact(zorder=["id", "val"]) == "full"  # different layout
    tbl.merge_upsert(spark.createDataFrame([(1, 99, "x")], "id long, val long, cat string"))
    assert tbl.compact(zorder=["id", "val"]) == "full"  # head moved past marker
    assert tbl.compact(zorder=["id", "val"]) == "noop"


SPEC_BLOOM = TableSpec(
    "t_bloom", "id", None, None, "testdb", bloom_filter_cols=("val",)
)


def test_bloom_index_prunes_equality_probes(spark, tmp_path):
    """On a high-cardinality column NOT clustered by value, footer
    min/max spans every file and prunes nothing — the bloom index is
    what turns an equality probe into an O(1-file) read. Present
    values must never be excluded (no false negatives); absent values
    prune to (almost) nothing; results equal the full-scan filter."""
    tbl = ParquetCowTable(spark, str(tmp_path), SPEC_BLOOM)
    # Range-clustered on id: val = f"user_{id}" is unique and spread
    # so every file's [min, max] on val covers nearly everything.
    df = spark.range(1000).selectExpr(
        "id", "concat('user_', id) AS val", "'x' AS cat"
    ).repartitionByRange(4, "id")
    tbl.create(df)
    all_files = tbl.data_files()
    assert len(all_files) == 4

    cand = tbl.bloom_pruned_files("val", "user_500")
    assert len(cand) < len(all_files)  # really pruned
    got = [(r.id, r.val) for r in tbl.read_lookup_eq("val", "user_500").collect()]
    assert got == [(500, "user_500")]

    # Absent value: near-total prune, exact-empty result.
    assert len(tbl.bloom_pruned_files("val", "user_nope")) <= 1
    assert tbl.read_lookup_eq("val", "user_nope").count() == 0

    # No false negatives anywhere: every present value must surface.
    for probe in (0, 1, 499, 999):
        assert tbl.read_lookup_eq("val", f"user_{probe}").count() == 1


def test_bloom_index_carries_forward_through_merge(spark, tmp_path):
    """Merges must not re-scan unchanged data for blooms: hard-linked
    carry-forward files reuse the previous commit's bitsets
    byte-for-byte, and lookups stay exact across the merge."""
    spec = TableSpec(
        "t_bloom_part", "id", "cat", None, "testdb", bloom_filter_cols=("val",)
    )
    tbl = ParquetCowTable(spark, str(tmp_path), spec)
    rows = [(i, f"user_{i}", "x" if i % 2 else "y") for i in range(400)]
    tbl.create(spark.createDataFrame(rows, "id long, val string, cat string"))
    before = tbl._read_blooms()

    # Merge touches only cat=x (odd ids): cat=y files carry forward.
    tbl.merge_upsert(
        spark.createDataFrame([(1, "user_1b", "x")], "id long, val string, cat string")
    )
    after = tbl._read_blooms()
    y_rels = [rel for rel in after if rel.startswith("cat=y")]
    assert y_rels and all(after[rel] == before[rel] for rel in y_rels)

    # New value findable, old value gone, untouched value findable.
    assert [r.id for r in tbl.read_lookup_eq("val", "user_1b").collect()] == [1]
    assert tbl.read_lookup_eq("val", "user_1").count() == 0
    assert [r.id for r in tbl.read_lookup_eq("val", "user_2").collect()] == [2]


def test_bloom_lookup_guards_and_fallback(spark, tmp_path):
    """Null probes are a clear error; columns without a bloom fall back
    to stats-only pruning (conservative, still correct)."""
    tbl = ParquetCowTable(spark, str(tmp_path), SPEC_BLOOM)
    df = spark.range(100).selectExpr("id", "concat('u', id) AS val", "'x' AS cat")
    tbl.create(df.repartitionByRange(2, "id"))
    with pytest.raises(ValueError, match="non-null"):
        tbl.bloom_pruned_files("val", None)
    # 'cat' has no bloom: stats still prune nothing ('x' everywhere),
    # result correct.
    assert tbl.read_lookup_eq("cat", "x").count() == 100


def test_row_count_metadata_only_tracks_every_write(spark, tmp_path):
    """COUNT(*) from footer stats must equal the scan count through the
    whole lifecycle (create, merge upsert/delete, selective compact,
    time travel) — the metadata fast path is only a fast path if it is
    never wrong."""
    tbl = ParquetCowTable(spark, str(tmp_path), SPEC_PART)
    rows = [(i, f"v{i}", "x" if i % 2 else "y") for i in range(300)]
    tbl.create(spark.createDataFrame(rows, "id long, val string, cat string"))
    assert tbl.row_count() == tbl.read().count() == 300
    tbl.merge_upsert(
        spark.createDataFrame([(1, "V", "x"), (300, "new", "y")],
                              "id long, val string, cat string")
    )
    assert tbl.row_count() == tbl.read().count() == 301
    tbl.merge_delete(spark.createDataFrame([(2,), (4,)], "id long"))
    assert tbl.row_count() == tbl.read().count() == 299
    tbl.compact()
    assert tbl.row_count() == tbl.read().count() == 299
    assert tbl.row_count(version=1) == 300  # time travel counts too


def test_fsck_healthy_then_finds_planted_damage(spark, tmp_path):
    """fsck returns [] on a healthy table and pinpoints planted damage:
    a dangling tag after manual version removal, a stats index gap, and
    stale crash debris — without mutating anything."""
    import json as _json
    import shutil as _shutil

    tbl = ParquetCowTable(spark, str(tmp_path), SPEC_PLAIN)
    tbl.create(_mk(spark, [(1, "a", "x")]))
    tbl.merge_upsert(_mk(spark, [(2, "b", "y")]))
    tbl.create_tag("pin", version=1)
    assert tbl.fsck(deep=True) == []

    # Damage 1: remove the tagged version behind the format's back.
    _shutil.rmtree(os.path.join(tbl.path, "v00000001"))
    kinds = {f["kind"] for f in tbl.fsck()}
    assert "dangling_tag" in kinds

    # Damage 2: drop a stats entry -> gap between index and files.
    spath = os.path.join(tbl.current_version().path, "_file_stats.json")
    stats = _json.load(open(spath))
    stats.pop(next(iter(stats)))
    _json.dump(stats, open(spath, "w"))
    kinds = {f["kind"] for f in tbl.fsck()}
    assert "stats_gap" in kinds

    # Damage 3: stale staging + stale lock -> warns, not errors.
    sdir = os.path.join(tbl.path, ".staging-deadbeef")
    os.makedirs(sdir)
    lock = os.path.join(tbl.path, "_commit.lock")
    open(lock, "w").close()
    old = time.time() - 7200
    os.utime(sdir, (old, old))
    os.utime(lock, (old, old))
    found = tbl.fsck()
    assert {f["kind"] for f in found} >= {"stale_staging", "stale_lock"}
    assert all(f["severity"] == "warn" for f in found
               if f["kind"] in ("stale_staging", "stale_lock"))
    os.unlink(lock)


def test_fsck_pre_bloom_snapshot_warns_not_errors(spark, tmp_path):
    """Upgrading a healthy table to bloom_filter_cols must not make its
    pre-bloom snapshots read as corrupt (r6 advisory): a version with NO
    bloom file at all is a 'no_blooms' warn (like the no_stats analogue);
    'bloom_gap' errors are reserved for a bloom file that exists but
    misses files."""
    import json as _json

    plain = TableSpec("t_upg", "id", None, None, "testdb")
    tbl = ParquetCowTable(spark, str(tmp_path), plain)
    tbl.create(spark.createDataFrame([(1, "a", "x")], "id long, val string, cat string"))

    upgraded_spec = TableSpec(
        "t_upg", "id", None, None, "testdb", bloom_filter_cols=("val",)
    )
    upgraded = ParquetCowTable(spark, str(tmp_path), upgraded_spec)
    found = upgraded.fsck()
    assert [f["kind"] for f in found] == ["no_blooms"]
    assert found[0]["severity"] == "warn"

    # A post-upgrade commit writes blooms; damaging THAT index is an error.
    upgraded.merge_upsert(
        spark.createDataFrame([(2, "b", "y")], "id long, val string, cat string")
    )
    bpath = os.path.join(upgraded.current_version().path, "_bloom.json")
    blooms = _json.load(open(bpath))
    blooms.pop(next(iter(blooms)))
    _json.dump(blooms, open(bpath, "w"))
    kinds = {(f["kind"], f["severity"]) for f in upgraded.fsck()}
    assert ("bloom_gap", "error") in kinds


def test_clone_table_shallow_shares_bytes_and_diverges(spark, tmp_path):
    """Shallow clone: zero data movement (same inodes), then fully
    independent lifecycles — mutating the clone never touches the
    source, and vacuuming the source never breaks the clone (hard
    links keep shared bytes alive)."""
    from automation_of_building_a_transactional_data_lake_spark.catalog import Catalog

    cat = Catalog(spark, str(tmp_path))
    src_spec = TableSpec("t_src", "id", "cat", None, "testdb")
    dst_spec = TableSpec("t_dev", "id", "cat", None, "testdb")
    src = cat.table(src_spec)
    src.create(_mk(spark, [(1, "a", "x"), (2, "b", "y")]))
    src.merge_upsert(_mk(spark, [(3, "c", "x")]))

    assert cat.clone_table(src_spec, dst_spec) == 1
    dst = cat.table(dst_spec)
    assert {r.id for r in dst.read().collect()} == {1, 2, 3}
    assert dst.current_version().version == 1  # fresh lineage
    src_inodes = {os.path.basename(p): os.stat(p).st_ino for p in src.data_files()}
    dst_inodes = {os.path.basename(p): os.stat(p).st_ino for p in dst.data_files()}
    assert src_inodes == dst_inodes  # shared bytes, no copy
    assert dst.row_count() == 3  # stats index traveled with the clone

    # Divergence: clone mutates; source untouched — and vice versa.
    dst.merge_upsert(_mk(spark, [(9, "z", "y")]))
    assert {r.id for r in src.read().collect()} == {1, 2, 3}
    src.merge_delete(spark.createDataFrame([(1,)], "id long"))
    assert {r.id for r in dst.read().collect()} == {1, 2, 3, 9}
    # Source vacuum drops its old versions; the clone keeps reading.
    src.vacuum(retain_last=1)
    assert {r.id for r in dst.read().collect()} == {1, 2, 3, 9}
    assert dst.fsck() == []
    assert "t_dev" in cat.list_tables("testdb")


def test_clone_table_versions_and_guards(spark, tmp_path):
    """Clones pin a chosen snapshot (version= / tag=); layout changes
    and existing destinations are rejected."""
    from automation_of_building_a_transactional_data_lake_spark.catalog import Catalog

    cat = Catalog(spark, str(tmp_path))
    src_spec = TableSpec("t_src2", "id", None, None, "testdb")
    src = cat.table(src_spec)
    src.create(_mk(spark, [(1, "a", "x")]))
    src.create_tag("v1pin")
    src.merge_upsert(_mk(spark, [(2, "b", "y")]))

    cat.clone_table(src_spec, TableSpec("t_at_tag", "id", None, None, "testdb"), tag="v1pin")
    assert {r.id for r in cat.read_table(
        TableSpec("t_at_tag", "id", None, None, "testdb")).collect()} == {1}

    deep_spec = TableSpec("t_deep", "id", None, None, "testdb")
    cat.clone_table(src_spec, deep_spec, deep=True)
    deep_inodes = {os.stat(p).st_ino for p in cat.table(deep_spec).data_files()}
    assert deep_inodes.isdisjoint({os.stat(p).st_ino for p in src.data_files()})

    with pytest.raises(FileExistsError):
        cat.clone_table(src_spec, deep_spec)
    with pytest.raises(ValueError, match="layout"):
        cat.clone_table(src_spec, TableSpec("t_bad", "id", "cat", None, "testdb"))


def test_metadata_tables_files_history_refs(spark, tmp_path):
    """Queryable metadata: files carries per-file partition/bytes/rows
    (rows from the stats index, no data read), history mirrors
    history(), refs lists tags and branches — all plain DataFrames a
    user can register and join."""
    tbl = ParquetCowTable(spark, str(tmp_path), SPEC_PART)
    tbl.create(_mk(spark, [(1, "a", "x"), (2, "b", "y"), (3, "c", "y")]))
    tbl.merge_upsert(_mk(spark, [(4, "d", "x")]))
    tbl.create_tag("pin", version=1)
    tbl.create_branch("dev")

    files = tbl.metadata_table("files")
    got = [(r.partition, r.rows) for r in files.orderBy("path").collect()]
    assert sum(r for _p, r in got) == 4  # stats-index rows cover all data
    assert {p for p, _r in got} == {"x", "y"}
    assert all(r.bytes > 0 for r in files.collect())

    hist = {(r.version, r.is_current) for r in tbl.metadata_table("history").collect()}
    assert (2, True) in hist and (1, False) in hist

    refs = {(r.kind, r.name, r.version) for r in tbl.metadata_table("refs").collect()}
    assert ("tag", "pin", 1) in refs and ("branch", "dev", 2) in refs

    with pytest.raises(ValueError, match="files|history|refs"):
        tbl.metadata_table("nope")


def _interleave_commit(monkeypatch, concurrent_fn):
    """Deterministically interleave two writers: run ``concurrent_fn``
    (the OTHER writer's full merge) between this writer's staging and
    its promote — the exact window where optimistic concurrency must
    decide rebase vs conflict."""
    orig = ParquetCowTable._promote
    state = {"fired": False}

    def hooked(self, staging, expected_version, touched_segments=None):
        if not state["fired"]:
            state["fired"] = True
            concurrent_fn()
        return orig(self, staging, expected_version, touched_segments)

    monkeypatch.setattr(ParquetCowTable, "_promote", hooked)


def test_disjoint_partition_merges_commit_without_retry(spark, tmp_path, monkeypatch):
    """r6 verdict #3: two writers merging DISJOINT partitions both
    commit with retries=0 — the second rebases onto the moved head
    under the lock (untouched partitions re-linked from the head)
    instead of recompute-retrying. State, stats index, row_count and
    fsck must all come out exactly as the serial schedule."""
    tbl = ParquetCowTable(spark, str(tmp_path), SPEC_PART)
    rows = [(i, f"v{i}", "x" if i % 2 else "y") for i in range(100)]
    tbl.create(_mk(spark, rows))

    batch_a = _mk(spark, [(1, "A1", "x"), (101, "A_new", "x")])   # touches cat=x
    batch_b = _mk(spark, [(2, "B2", "y"), (102, "B_new", "y")])   # touches cat=y

    _interleave_commit(monkeypatch, lambda: tbl.merge_upsert(batch_a))
    tbl.merge_upsert(batch_b)  # retries=0: any conflict would raise

    got = {r.id: (r.val, r.cat) for r in tbl.read().collect()}
    assert got[1] == ("A1", "x") and got[101] == ("A_new", "x")
    assert got[2] == ("B2", "y") and got[102] == ("B_new", "y")
    assert len(got) == 102
    # Provenance: B's commit rebased onto A's (base == A's version).
    assert tbl._read_touched(tbl.current_version().version)["base"] == 2
    # Metadata indexes stayed exact through the rebase.
    assert tbl.row_count() == tbl.read().count() == 102
    assert tbl.fsck(deep=True) == []
    # Stats-based pruning still works on both partitions' files.
    assert set(tbl.file_stats()) == {
        os.path.relpath(f, tbl.current_version().path) for f in tbl.data_files()
    }


def test_overlapping_partition_merges_still_conflict(spark, tmp_path, monkeypatch):
    tbl = ParquetCowTable(spark, str(tmp_path), SPEC_PART)
    tbl.create(_mk(spark, [(1, "a", "x"), (2, "b", "y")]))
    batch_a = _mk(spark, [(1, "A", "x")])
    batch_b = _mk(spark, [(3, "B", "x")])  # same partition as A
    _interleave_commit(monkeypatch, lambda: tbl.merge_upsert(batch_a))
    with pytest.raises(ConcurrentWriteError, match="overlapping|expected to commit"):
        tbl.merge_upsert(batch_b)
    # retries=1 recovers by recomputing against the new head.
    tbl.merge_upsert(batch_b, retries=1)
    got = {r.id: r.val for r in tbl.read().collect()}
    assert got == {1: "A", 2: "b", 3: "B"}


def test_full_rewrite_between_stage_and_commit_still_conflicts(
    spark, tmp_path, monkeypatch
):
    """A concurrent commit with NO touched declaration (unpartitioned
    shape: full rewrite / compaction) can never be rebased over."""
    tbl = ParquetCowTable(spark, str(tmp_path), SPEC_PART)
    tbl.create(_mk(spark, [(1, "a", "x"), (2, "b", "y")]))
    batch_b = _mk(spark, [(3, "B", "x")])
    _interleave_commit(monkeypatch, lambda: tbl.overwrite(_mk(spark, [(9, "z", "y")])))
    with pytest.raises(ConcurrentWriteError):
        tbl.merge_upsert(batch_b)


def test_rebase_conflicts_on_concurrent_schema_evolution(spark, tmp_path, monkeypatch):
    """r7 advisory: a concurrent merge that ADDED columns via merge
    schema evolution declares disjoint partitions, but its new
    _schema.json mapping must not be clobbered by a rebasing commit
    staged from the older base — the rebase now conflicts, and the
    retry (recomputed against the new head) preserves the evolved
    column."""
    tbl = ParquetCowTable(spark, str(tmp_path), SPEC_PART)
    tbl.create(_mk(spark, [(1, "a", "x"), (2, "b", "y")]))
    # Concurrent writer evolves the schema on partition x.
    batch_a = spark.createDataFrame(
        [(1, "A", "x", "evolved")], "id long, val string, cat string, note string"
    )
    batch_b = _mk(spark, [(3, "B", "y")])  # disjoint partition, old schema
    _interleave_commit(monkeypatch, lambda: tbl.merge_upsert(batch_a))
    with pytest.raises(ConcurrentWriteError):
        tbl.merge_upsert(batch_b)
    tbl.merge_upsert(batch_b, retries=1)
    got = {r.id: (r.val, r.note) for r in tbl.read().collect()}
    assert got == {1: ("A", "evolved"), 2: ("b", None), 3: ("B", None)}


def test_rebase_merges_txn_markers_per_app_max(spark, tmp_path, monkeypatch):
    """Two streaming consumers committing disjoint partitions: the
    rebased commit must merge the per-app txn map at the per-app MAX so
    neither consumer's replay protection regresses (X42/X46 semantics
    through the X82 rebase)."""
    tbl = ParquetCowTable(spark, str(tmp_path), SPEC_PART)
    tbl.create(
        _mk(spark, [(1, "a", "x"), (2, "b", "y")]),
        snapshot_meta={"txns": {"appA": 6, "appB": 3}},
    )
    _interleave_commit(
        monkeypatch,
        lambda: tbl.merge_upsert(
            _mk(spark, [(1, "A", "x")]), snapshot_meta={"txns": {"appA": 7, "appB": 3}}
        ),
    )
    tbl.merge_upsert(
        _mk(spark, [(2, "B", "y")]), snapshot_meta={"txns": {"appA": 6, "appB": 4}}
    )
    assert tbl.snapshot_meta() == {"txns": {"appA": 7, "appB": 4}}


def test_alter_add_rename_drop_columns_with_time_travel(spark, tmp_path):
    """r6 verdict #7: schema evolution surface. ADD/RENAME/DROP are
    metadata-only commits (data files hard-link forward, byte-identical);
    renames keep the frozen physical name so every existing file keeps
    serving the field; old snapshots still read correctly — under THEIR
    schema — via time travel; merging through the renamed schema stays
    green; a re-added name never resurrects dropped bytes."""
    tbl = ParquetCowTable(spark, str(tmp_path), SPEC_PLAIN)
    tbl.create(_mk(spark, [(1, "a", "x"), (2, "b", "y")]))
    v1_files = {f: os.stat(f).st_ino for f in tbl.data_files()}

    # ADD: nulls until written.
    tbl.alter_add_column("score", "double")
    assert {r.id: r.score for r in tbl.read().collect()} == {1: None, 2: None}
    # Metadata-only: same inodes.
    assert {os.path.basename(f) for f in tbl.data_files()} == {
        os.path.basename(f) for f in v1_files
    }

    # RENAME: logical-only; data still served from the old physical name.
    tbl.alter_rename_column("val", "label")
    got = {r.id: r.label for r in tbl.read().collect()}
    assert got == {1: "a", 2: "b"}
    assert "val" not in tbl.read().columns

    # Merge THROUGH the renamed schema: source uses the new name.
    tbl.merge_upsert(
        spark.createDataFrame(
            [(2, "B", "y", 0.5), (3, "c", "z", 0.9)],
            "id long, label string, cat string, score double",
        )
    )
    got = {r.id: (r.label, r.score) for r in tbl.read().collect()}
    assert got == {1: ("a", None), 2: ("B", 0.5), 3: ("c", 0.9)}

    # Time travel: v1 reads under ITS schema (val, no score).
    v1 = tbl.read(version=1)
    assert set(v1.columns) == {"id", "val", "cat"}
    assert {r.id: r.val for r in v1.collect()} == {1: "a", 2: "b"}

    # DROP then re-ADD same name: fresh field, old bytes never resurface.
    tbl.alter_drop_column("label")
    assert "label" not in tbl.read().columns
    tbl.alter_add_column("label", "string")
    assert {r.label for r in tbl.read().collect()} == {None}
    tbl.merge_upsert(
        spark.createDataFrame(
            [(1, "fresh", "x", 1.0)], "id long, label string, cat string, score double"
        )
    )
    got = {r.id: r.label for r in tbl.read().collect()}
    assert got == {1: "fresh", 2: None, 3: None}

    # Guards: identity/primary columns are not alterable; dup/missing
    # names error clearly.
    with pytest.raises(ValueError, match="primary key"):
        tbl.alter_rename_column("id", "uid")
    with pytest.raises(ValueError, match="already exists"):
        tbl.alter_add_column("score", "double")
    with pytest.raises(KeyError):
        tbl.alter_drop_column("nope")
    assert tbl.fsck(deep=True) == []


def test_alter_rename_keeps_stats_pruning_and_lookup(spark, tmp_path):
    """Footer stats key on the frozen physical name; pruning and
    point-lookup entry points must keep working when addressed by the
    NEW logical name after a rename."""
    spec = TableSpec("t_alter_stats", "id", None, None, "testdb")
    tbl = ParquetCowTable(spark, str(tmp_path), spec)
    df = spark.range(100).selectExpr("id", "concat('u', id) AS val", "'x' AS cat")
    tbl.create(df.repartitionByRange(4, "id"))
    tbl.alter_rename_column("val", "username")

    total = len(tbl.data_files())
    pruned = tbl.pruned_files("username", "u10", "u20")
    assert len(pruned) <= total  # addressed by logical name, no KeyError
    rows = tbl.read_skipping("username", "u10", "u10").collect()
    assert [r.username for r in rows] == ["u10"]
    assert "val" not in tbl.read_skipping("username", "u10", "u10").columns


def test_external_engine_reads_manifest_snapshot(spark, tmp_path):
    """External-engine interop (the reference's Redshift-Spectrum
    symlink-manifest story, W10): a non-Spark engine (DuckDB) reading
    exactly the manifest's file list must reproduce the committed
    snapshot — including after a merge + compaction rewrote the file
    set — without any engine-private metadata."""
    import duckdb

    tbl = ParquetCowTable(spark, str(tmp_path), SPEC_PART)
    rows = [(i, f"v{i}", "x" if i % 2 else "y") for i in range(50)]
    tbl.create(_mk(spark, rows))
    tbl.merge_upsert(_mk(spark, [(1, "V1", "x"), (50, "new", "y")]))
    tbl.merge_delete(spark.createDataFrame([(2,)], "id long"))
    tbl.compact()
    manifest = tbl.generate_manifest()

    files = open(manifest).read().strip().splitlines()
    con = duckdb.connect()
    got = con.sql(
        "SELECT id, val FROM read_parquet(?) ORDER BY id", params=[files]
    ).fetchall()
    want = sorted(
        (r.id, r.val) for r in tbl.read().select("id", "val").collect()
    )
    assert got == want and len(got) == 50


def test_disjoint_merges_race_under_real_threads(spark, tmp_path):
    """X82 under genuine concurrency: four threads each repeatedly
    merging into their OWN partition, racing freely. Rebase absorbs
    most collisions; a small retry budget covers lock-held windows.
    Afterwards: every thread's rows landed (nothing lost, nothing
    clobbered), row_count/stats exact, deep fsck clean."""
    import threading

    spec = TableSpec("t_race", "id", "cat", None, "testdb")
    tbl = ParquetCowTable(spark, str(tmp_path), spec)
    cats = ["a", "b", "c", "d"]
    tbl.create(
        _mk(spark, [(i, "seed", cats[i % 4]) for i in range(8)])
    )
    errors = []
    n_rounds = 3

    def writer(ti: int):
        try:
            for r in range(n_rounds):
                batch = _mk(
                    spark,
                    [(100 + ti * 10 + r, f"w{ti}r{r}", cats[ti])],
                )
                tbl.merge_upsert(batch, retries=8)
        except Exception as ex:  # noqa: BLE001
            errors.append((ti, ex))

    threads = [threading.Thread(target=writer, args=(i,)) for i in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert errors == []

    got = {r.id: (r.val, r.cat) for r in tbl.read().collect()}
    for ti in range(4):
        for r in range(n_rounds):
            assert got[100 + ti * 10 + r] == (f"w{ti}r{r}", cats[ti])
    assert len(got) == 8 + 4 * n_rounds
    assert tbl.row_count() == tbl.read().count() == len(got)
    assert tbl.fsck(deep=True) == []


def test_partitioned_table_merged_to_empty_reads_typed(spark, tmp_path):
    """A merge that deletes the LAST rows of a partitioned table leaves
    no parquet at all; the snapshot must still read as a typed EMPTY
    frame (from the committed schema mapping) and accept later upserts
    — found by the dedup-index fuzz (round 10)."""
    from automation_of_building_a_transactional_data_lake_spark.catalog import Catalog
    from automation_of_building_a_transactional_data_lake_spark.spec import TableSpec

    cat = Catalog(spark, str(tmp_path / "wh"))
    spec = TableSpec("pempty", "id", "cat", None, "db")
    tbl = cat.table(spec)
    tbl.create(
        spark.createDataFrame(
            [(1, "a", "x"), (2, "b", "y")], "id long, val string, cat string"
        )
    )
    tbl.merge_delete(spark.createDataFrame([(1,), (2,)], "id long"))
    df = tbl.read()
    assert df.count() == 0
    assert dict(df.dtypes) == {"id": "bigint", "val": "string", "cat": "string"}
    # Time travel to the populated snapshot still works...
    assert tbl.read(version=1).count() == 2
    # ...and the emptied table accepts a fresh upsert.
    tbl.merge_upsert(
        spark.createDataFrame([(3, "c", "z")], "id long, val string, cat string")
    )
    assert {(r.id, r.cat) for r in tbl.read().collect()} == {(3, "z")}

"""Merge-on-read backend: unit semantics, protocol conformance, and
full-pipeline equivalence with the copy-on-write backend."""

from datetime import datetime, timezone

import pytest

from automation_of_building_a_transactional_data_lake_spark.catalog import Catalog
from automation_of_building_a_transactional_data_lake_spark.formats.base import TableFormat
from automation_of_building_a_transactional_data_lake_spark.formats.parquet_cow import (
    MergeError,
    ParquetCowTable,
)
from automation_of_building_a_transactional_data_lake_spark.formats.parquet_mor import (
    ParquetMorTable,
)
from automation_of_building_a_transactional_data_lake_spark.pipeline import (
    cdc_load_all,
    initial_load_all,
)
from automation_of_building_a_transactional_data_lake_spark.plans.demo_fixture import demo_root
from automation_of_building_a_transactional_data_lake_spark.spec import GAME_SPECS, TableSpec

DEMO = demo_root()
CLOCK = datetime(2023, 9, 1, tzinfo=timezone.utc)
SPEC = TableSpec("t_mor", "id", None, None, "testdb")


def _mk(spark, rows):
    return spark.createDataFrame(rows, "id long, val string")


def test_protocol_conformance(spark, tmp_path):
    assert isinstance(ParquetCowTable(spark, str(tmp_path), SPEC), TableFormat)
    assert isinstance(ParquetMorTable(spark, str(tmp_path), SPEC), TableFormat)


def test_mor_upsert_delete_roundtrip(spark, tmp_path):
    tbl = ParquetMorTable(spark, str(tmp_path), SPEC)
    tbl.create(_mk(spark, [(1, "a"), (2, "b"), (3, "c")]))
    tbl.merge_upsert(_mk(spark, [(2, "B"), (4, "d")]))
    tbl.merge_delete(spark.createDataFrame([(1,)], "id long"))
    got = {(r.id, r.val) for r in tbl.read().collect()}
    assert got == {(2, "B"), (3, "c"), (4, "d")}
    # Writes were append-only: base + 2 deltas referenced.
    snap = tbl.current_snapshot()
    assert snap["base"] == "b00000001" and len(snap["deltas"]) == 2


def test_mor_compact_folds_deltas(spark, tmp_path):
    tbl = ParquetMorTable(spark, str(tmp_path), SPEC)
    tbl.create(_mk(spark, [(1, "a"), (2, "b")]))
    tbl.merge_upsert(_mk(spark, [(2, "B")]))
    before = {(r.id, r.val) for r in tbl.read().collect()}
    tbl.compact()
    snap = tbl.current_snapshot()
    assert snap["deltas"] == []
    assert {(r.id, r.val) for r in tbl.read().collect()} == before
    removed = tbl.vacuum(retain_last=1)
    assert "d00000002" in removed and "b00000001" in removed


def test_mor_rejects_duplicate_source_keys(spark, tmp_path):
    tbl = ParquetMorTable(spark, str(tmp_path), SPEC)
    tbl.create(_mk(spark, [(1, "a")]))
    with pytest.raises(MergeError):
        tbl.merge_upsert(_mk(spark, [(1, "x"), (1, "y")]))


def test_mor_upsert_wins_over_older_delete(spark, tmp_path):
    """Sequence ordering: delete then re-insert resurrects the key."""
    tbl = ParquetMorTable(spark, str(tmp_path), SPEC)
    tbl.create(_mk(spark, [(1, "a")]))
    tbl.merge_delete(spark.createDataFrame([(1,)], "id long"))
    assert tbl.read().count() == 0
    tbl.merge_upsert(_mk(spark, [(1, "back")]))
    assert [(r.id, r.val) for r in tbl.read().collect()] == [(1, "back")]


def test_mor_check_constraints(spark, tmp_path):
    """MoR enforces the same CHECK semantics: violating batches are
    rejected before any base or delta is written."""
    from automation_of_building_a_transactional_data_lake_spark.formats.parquet_cow import (
        ConstraintViolation,
    )

    spec = TableSpec("t_mor_chk", "id", None, None, "testdb", constraints=("id > 0",))
    tbl = ParquetMorTable(spark, str(tmp_path), spec)
    with pytest.raises(ConstraintViolation):
        tbl.create(spark.createDataFrame([(0, "a")], "id long, val string"))
    assert not tbl.exists()
    tbl.create(spark.createDataFrame([(1, "a")], "id long, val string"))
    with pytest.raises(ConstraintViolation):
        tbl.merge_upsert(spark.createDataFrame([(-2, "b")], "id long, val string"))
    assert tbl.current_snapshot()["deltas"] == []


def test_snapshot_meta_carries_through_deltas_and_compact(spark, tmp_path):
    """MoR snapshot_meta commits with the snapshot json and survives
    merge-appended deltas and compaction (same contract as CoW)."""
    tbl = ParquetMorTable(spark, str(tmp_path), SPEC)
    tbl.create(
        spark.createDataFrame([(1, "a")], "id long, val string"),
        snapshot_meta={"processed_files": ["w1"]},
    )
    assert tbl.snapshot_meta() == {"processed_files": ["w1"]}
    tbl.merge_upsert(spark.createDataFrame([(2, "b")], "id long, val string"))
    assert tbl.snapshot_meta() == {"processed_files": ["w1"]}  # carried
    tbl.compact()
    assert tbl.snapshot_meta() == {"processed_files": ["w1"]}
    tbl.overwrite(
        spark.createDataFrame([(9, "z")], "id long, val string"),
        snapshot_meta={"processed_files": ["w1", "w2"]},
    )
    assert tbl.snapshot_meta() == {"processed_files": ["w1", "w2"]}


def test_catalog_opens_table_with_writing_format(spark, tmp_path):
    """A warehouse can mix formats: an existing table opens with the
    backend that WROTE it (recorded in _format.json), not the catalog
    default — a CoW-default catalog must read a MoR table through
    delta reconciliation, and vice versa."""
    wh = str(tmp_path)
    mor_cat = Catalog(spark, wh, table_format="mor")
    mor_cat.table(SPEC).create(spark.createDataFrame([(1, "a")], "id long, val string"))
    mor_cat.table(SPEC).merge_upsert(
        spark.createDataFrame([(1, "A"), (2, "b")], "id long, val string")
    )

    cow_cat = Catalog(spark, wh)  # default "cow"
    opened = cow_cat.table(SPEC)
    assert isinstance(opened, ParquetMorTable)
    got = {(r.id, r.val) for r in cow_cat.read_table(SPEC).collect()}
    assert got == {(1, "A"), (2, "b")}  # deltas reconciled, not raw base

    cow_spec = TableSpec("t_cow_mixed", "id", None, None, "testdb")
    cow_cat.table(cow_spec).create(spark.createDataFrame([(7, "q")], "id long, val string"))
    assert isinstance(mor_cat.table(cow_spec), ParquetCowTable)


def test_full_pipeline_equivalence_cow_vs_mor(spark, tmp_path):
    """The ENTIRE game demo lifecycle (all tables: initial load + CDC
    merge, including item_data's in-batch duplicate keys and
    play_data's case-sensitive column) through both backends yields
    identical final state on every column — the format really is
    pluggable end-to-end, one catalog switch like the reference's
    cdk.json:87."""
    results = {}
    for fmt in ("cow", "mor"):
        cat = Catalog(spark, str(tmp_path / fmt), table_format=fmt)
        init = initial_load_all(spark, cat, GAME_SPECS, DEMO)
        assert [r.action for r in init] == ["created"] * len(GAME_SPECS)
        cdc_load_all(spark, cat, GAME_SPECS, DEMO, clock=CLOCK)
        per_table = {}
        for spec in GAME_SPECS:
            df = cat.read_table(spec)
            cols = sorted(df.columns)
            rows = [tuple(r) for r in df.select(*cols).collect()]
            # None-safe ordering: nulls (e.g. audit col on untouched
            # rows) sort before values without ever comparing across types.
            rows.sort(key=lambda t: tuple((v is not None, v) for v in t))
            per_table[spec.table_name] = (cols, rows)
        results[fmt] = per_table
    for spec in GAME_SPECS:
        cow_cols, cow_rows = results["cow"][spec.table_name]
        mor_cols, mor_rows = results["mor"][spec.table_name]
        assert cow_cols == mor_cols, spec.table_name
        assert cow_rows == mor_rows, spec.table_name
    assert len(results["cow"]["user_data"][1]) == 10044


def test_mor_tags_pin_snapshots_through_vacuum(spark, tmp_path):
    """CoW tag parity on MoR (r7 verdict #4): create_tag pins a
    snapshot — read(tag=) and Catalog.read_table(tag=) resolve it, an
    unknown tag is a KeyError naming the known set, duplicate creation
    is rejected, and vacuum never removes a base/delta directory a
    tagged snapshot references, regardless of retain_last."""
    cat = Catalog(spark, str(tmp_path), table_format="mor")
    tbl = cat.table(SPEC)
    tbl.create(_mk(spark, [(1, "a"), (2, "b")]))
    assert tbl.create_tag("v1pin") == 1
    tbl.merge_upsert(_mk(spark, [(2, "B"), (3, "c")]))
    tbl.merge_delete(_mk(spark, [(1, "a")]).select("id"))
    tbl.compact()

    assert {r.id for r in tbl.read().collect()} == {2, 3}
    assert {(r.id, r.val) for r in tbl.read(tag="v1pin").collect()} == {(1, "a"), (2, "b")}
    assert cat.read_table(SPEC, tag="v1pin").count() == 2
    with pytest.raises(KeyError, match="v1pin"):
        tbl.read(tag="nope")
    with pytest.raises(ValueError, match="immutable"):
        tbl.create_tag("v1pin")

    # Aggressive vacuum: the tagged snapshot's base must survive.
    tbl.vacuum(retain_last=1)
    assert {(r.id, r.val) for r in tbl.read(tag="v1pin").collect()} == {(1, "a"), (2, "b")}
    assert tbl.fsck(deep=True) == []
    tbl.delete_tag("v1pin")
    removed = tbl.vacuum(retain_last=1)
    assert removed  # un-pinned, the old base goes
    assert {r.id for r in tbl.read().collect()} == {2, 3}


def test_mor_metadata_tables_and_row_count(spark, tmp_path):
    """CoW metadata-table parity on MoR: files (base+delta roles),
    history, refs; row_count is footer-fast with no deltas and exact
    always."""
    cat = Catalog(spark, str(tmp_path), table_format="mor")
    tbl = cat.table(SPEC)
    tbl.create(_mk(spark, [(1, "a"), (2, "b"), (3, "c")]))
    assert tbl.row_count() == 3  # footer path (no deltas)
    tbl.merge_upsert(_mk(spark, [(2, "B"), (4, "d")]))
    tbl.merge_delete(_mk(spark, [(3, "c")]).select("id"))
    assert tbl.row_count() == tbl.read().count() == 3  # reconcile path

    files = tbl.metadata_table("files").collect()
    roles = {r.role for r in files}
    assert roles == {"base", "delta"}
    assert all(r.bytes > 0 and r.rows >= 0 for r in files)

    tbl.create_tag("pin")
    refs = [(r.kind, r.name, r.version) for r in tbl.metadata_table("refs").collect()]
    assert refs == [("tag", "pin", 3)]

    hist = tbl.metadata_table("history").collect()
    assert [h.version for h in hist] == [1, 2, 3]
    assert [h.is_current for h in hist] == [False, False, True]
    assert hist[-1].n_deltas == 2

    tbl.compact()
    assert tbl.row_count() == 3  # footer-fast again post-compaction
    with pytest.raises(ValueError, match="files\\|history\\|refs"):
        tbl.metadata_table("nope")


def test_mor_fsck_healthy_and_damaged(spark, tmp_path):
    """MoR fsck: [] on a healthy table (deep included); a manually
    removed delta directory surfaces as a dangling_dir error. The
    catalog passthrough works for either format."""
    import os
    import shutil as _shutil

    cat = Catalog(spark, str(tmp_path), table_format="mor")
    cat.table(SPEC).create(_mk(spark, [(1, "a"), (2, "b")]))
    cat.table(SPEC).merge_upsert(_mk(spark, [(3, "c")]))
    assert cat.fsck(SPEC, deep=True) == []

    _shutil.rmtree(os.path.join(cat.table(SPEC).path, "d00000002"))
    kinds = {f["kind"] for f in cat.fsck(SPEC)}
    assert "dangling_dir" in kinds


def test_dv_mode_equals_classic_and_skips_positions(spark, tmp_path):
    """r6 verdict #6: deletion-vector MoR. The SAME merge sequence
    driven through a classic table and a DV table must read
    identically; the DV snapshot records exactly the superseded base
    positions (numRowsSkipped) and its read plan never key-hashes the
    base (the window runs over deltas only); compaction clears the
    vectors; mode round-trips through _format.json; time travel sees
    per-snapshot vectors."""
    classic = ParquetMorTable(spark, str(tmp_path / "c"), SPEC)
    dv = ParquetMorTable(spark, str(tmp_path / "d"), SPEC, deletion_vectors=True)
    rows = [(i, f"v{i}") for i in range(20)]
    classic.create(_mk(spark, rows))
    dv.create(_mk(spark, rows))

    steps = [
        ("U", [(2, "B"), (21, "new")]),
        ("D", [(1,), (21,)]),
        ("U", [(2, "B2"), (1, "revived")]),
    ]
    for op, batch in steps:
        if op == "U":
            src = _mk(spark, batch)
            classic.merge_upsert(src)
            dv.merge_upsert(src)
        else:
            src = spark.createDataFrame(batch, "id long")
            classic.merge_delete(src)
            dv.merge_delete(src)

    a = sorted(map(tuple, classic.read().collect()))
    b = sorted(map(tuple, dv.read().collect()))
    assert a == b and len(a) == 20  # 20 - 1 del + 1 new - 1 del + 1 revive

    # numRowsSkipped: base rows superseded = ids 2 (upserted) and 1
    # (deleted); id 21 never existed in the base.
    stats = dv.dv_stats()
    assert stats["positions"] == 2
    # Raw base minus DV-filtered base == positions skipped.
    raw_base = spark.read.parquet(
        str(tmp_path / "d" / "testdb" / "t_mor" / dv.current_snapshot()["base"])
    ).count()
    survivors = dv._read_dv({**dv.current_snapshot(), "deltas": []}).count()
    assert raw_base - survivors == stats["positions"]

    # Mode survives re-open without the flag.
    reopened = ParquetMorTable(spark, str(tmp_path / "d"), SPEC)
    assert reopened.deletion_vectors is True
    assert sorted(map(tuple, reopened.read().collect())) == a

    # Time travel: snapshot 2 (after first upsert) has 1 position.
    assert dv.dv_stats(version=2)["positions"] == 1
    assert {r.id: r.val for r in dv.read(version=2).collect()}[2] == "B"

    # Compaction folds everything and clears the vectors.
    dv.compact()
    assert dv.dv_stats() == {"files": 0, "positions": 0}
    assert sorted(map(tuple, dv.read().collect())) == a
    assert dv.row_count() == 20  # footer-fast path valid again


def test_dv_read_plan_has_no_base_key_window(spark, tmp_path):
    """The scale claim, structurally: with deltas present, the classic
    plan windows base+deltas (base rows enter the pk hash), while the
    DV plan touches the base only through the positional anti-join —
    asserted by counting scans feeding the window stage."""
    def window_subtree(df):
        plan = df._jdf.queryExecution().executedPlan().toString()
        lines = plan.splitlines()
        start = next(i for i, ln in enumerate(lines) if "Window" in ln)
        indent = len(lines[start]) - len(lines[start].lstrip(" :+-*("))
        block = [lines[start]]
        for ln in lines[start + 1:]:
            if (len(ln) - len(ln.lstrip(" :+-*("))) <= indent and ln.strip():
                break
            block.append(ln)
        return "\n".join(block)

    spark.conf.set("spark.sql.maxMetadataStringLength", "2000")
    try:
        classic = ParquetMorTable(spark, str(tmp_path / "c"), SPEC)
        classic.create(_mk(spark, [(i, f"v{i}") for i in range(10)]))
        classic.merge_upsert(_mk(spark, [(1, "X")]))
        assert classic.current_snapshot()["base"] in window_subtree(classic.read())

        dv = ParquetMorTable(spark, str(tmp_path / "d"), SPEC, deletion_vectors=True)
        dv.create(_mk(spark, [(i, f"v{i}") for i in range(10)]))
        dv.merge_upsert(_mk(spark, [(1, "X")]))
        assert dv.current_snapshot()["base"] not in window_subtree(dv.read())
    finally:
        spark.conf.unset("spark.sql.maxMetadataStringLength")

"""Invariants every Iceberg snapshot producer keeps.

Each snapshot-producing Iceberg writer commits through one transaction
(``_IceTxn`` in ``formats/interop.py``). These tests drive every writer
once on a tiny table and check, after each commit:

- every manifest-list record's file and row counts and
  ``min_sequence_number`` against the manifest it points to;
- the header of every manifest the commit wrote: format version,
  partition spec id and content;
- no manifest carried from an earlier snapshot lists only deleted
  files;
- on format-version 3, the snapshot's ``first-row-id`` and the table's
  ``next-row-id``;
- ``read_iceberg`` against a pandas model of the table.
"""

import io
import json
import os

import pandas as pd

from automation_of_building_a_transactional_data_lake_spark.formats.avro_lite import (
    _decode,
    read_avro_file,
    write_avro_file,
)
from automation_of_building_a_transactional_data_lake_spark.formats.interop import (
    _iceberg_current_metadata,
    _iceberg_current_metadata_named,
    _iceberg_local_path,
    _mlist_carry,
    binpack_iceberg,
    compact_iceberg,
    delete_iceberg_where,
    merge_iceberg,
    read_iceberg,
    rewrite_iceberg_manifests,
    rollback_iceberg,
    truncate_iceberg,
    update_iceberg_where,
    upgrade_iceberg_v1_to_v2,
    upgrade_iceberg_v2_to_v3,
    write_iceberg,
    write_iceberg_deletion_vectors,
    write_iceberg_equality_deletes,
    zorder_iceberg,
)

SCHEMA = "id long, val string, n long"
COLS = ["id", "val", "n"]


def _header(path: str) -> dict:
    with open(path, "rb") as f:
        buf = io.BytesIO(f.read())
    assert buf.read(4) == b"Obj\x01"
    return _decode({"type": "map", "values": "bytes"}, buf, {})


class _Table:
    """A table under test and its pandas model."""

    def __init__(self, spark, root):
        self.spark, self.root = spark, root
        self.model = pd.DataFrame({c: pd.Series(dtype=t) for c, t in
                                   zip(COLS, ["int64", "object", "int64"])})
        self.meta: dict = {}

    def df(self, rows):
        return self.spark.createDataFrame(rows, SCHEMA).coalesce(1)

    def upsert(self, rows):
        new = pd.DataFrame(rows, columns=COLS)
        self.model = pd.concat(
            [self.model[~self.model.id.isin(new.id)], new], ignore_index=True
        )

    def check(self, added_rows: int = 0) -> dict:
        """Check the current snapshot; returns it."""
        before, meta = self.meta, _iceberg_current_metadata(self.root)
        self.meta = meta
        snap = next(
            s for s in meta["snapshots"]
            if s["snapshot-id"] == meta["current-snapshot-id"]
        )
        _s, mlist = read_avro_file(_iceberg_local_path(snap["manifest-list"], self.root))
        for r in mlist:
            path = _iceberg_local_path(r["manifest_path"], self.root)
            _s, entries = read_avro_file(path)
            for status, kind in ((0, "existing"), (1, "added"), (2, "deleted")):
                es = [e for e in entries if e["status"] == status]
                assert r[f"{kind}_files_count"] == len(es), (kind, r)
                assert r[f"{kind}_rows_count"] == sum(
                    e["data_file"]["record_count"] for e in es
                ), (kind, r)
            seqs = [
                r["sequence_number"] if e["sequence_number"] is None
                else e["sequence_number"]
                for e in entries
            ]
            assert r["min_sequence_number"] == min(seqs, default=r["sequence_number"])
            assert r["manifest_length"] == os.path.getsize(path)
            if r["added_snapshot_id"] != snap["snapshot-id"]:
                assert r["added_files_count"] + r["existing_files_count"] > 0, r
            else:
                hdr = _header(path)
                assert hdr["format-version"] == str(meta["format-version"]).encode()
                assert int(hdr["partition-spec-id"]) == r["partition_spec_id"]
                assert hdr["content"] == (b"deletes" if r["content"] else b"data")
        if meta["format-version"] == 3:
            assert snap["first-row-id"] == before["next-row-id"]
            assert meta["next-row-id"] == before["next-row-id"] + added_rows
        got = read_iceberg(self.spark, self.root).select(*COLS).toPandas()
        assert sorted(got.itertuples(index=False)) == sorted(
            self.model.itertuples(index=False)
        )
        return snap


def test_mlist_carry_reads_v1_names_and_fills_sparse_records():
    v1 = _mlist_carry(
        {
            "manifest_path": "file:///m.avro", "manifest_length": 10,
            "partition_spec_id": 0, "added_snapshot_id": 7,
            "added_data_files_count": 2, "existing_data_files_count": 3,
            "deleted_data_files_count": 1, "added_rows_count": 20,
            "existing_rows_count": 30, "deleted_rows_count": 5,
        }
    )
    assert v1 == {
        "manifest_path": "file:///m.avro", "manifest_length": 10,
        "partition_spec_id": 0, "content": 0, "sequence_number": 0,
        "min_sequence_number": 0, "added_snapshot_id": 7,
        "added_files_count": 2, "existing_files_count": 3,
        "deleted_files_count": 1, "added_rows_count": 20,
        "existing_rows_count": 30, "deleted_rows_count": 5,
    }
    sparse = _mlist_carry(
        {"manifest_path": "m.avro", "sequence_number": 4,
         "added_files_count": None, "content": 1}
    )
    assert sparse == {
        "manifest_path": "m.avro", "manifest_length": 0,
        "partition_spec_id": 0, "content": 1, "sequence_number": 4,
        "min_sequence_number": 4, "added_snapshot_id": 0,
        "added_files_count": 0, "existing_files_count": 0,
        "deleted_files_count": 0, "added_rows_count": 0,
        "existing_rows_count": 0, "deleted_rows_count": 0,
    }


def test_v1_upgrade_counts_each_manifests_entries(spark, tmp_path):
    """Upgrading a hand-built format-version 1 table (inline
    ``manifests`` list) writes manifest-list records whose file and row
    counts are their manifest's entry tallies by status: a native
    planner skips a data manifest counting no added and no existing
    files."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    root = str(tmp_path / "v1")
    mdir, ddir = os.path.join(root, "metadata"), os.path.join(root, "data")
    os.makedirs(mdir)
    os.makedirs(ddir)
    entry_schema = {
        "type": "record", "name": "manifest_entry",
        "fields": [
            {"name": "status", "type": "int"},
            {"name": "snapshot_id", "type": ["null", "long"]},
            {"name": "data_file", "type": {
                "type": "record", "name": "r2",
                "fields": [
                    {"name": "file_path", "type": "string"},
                    {"name": "file_format", "type": "string"},
                    {"name": "partition", "type": {
                        "type": "record", "name": "r102", "fields": []}},
                    {"name": "record_count", "type": "long"},
                    {"name": "file_size_in_bytes", "type": "long"},
                ]}},
        ],
    }

    def entry(status, name, ids):
        path = os.path.join(ddir, name)
        if status != 2:  # a deleted entry's file may be gone
            pq.write_table(pa.table({
                "id": pa.array(ids, pa.int64()),
                "val": [f"v{i}" for i in ids],
                "n": pa.array(ids, pa.int64()),
            }), path)
        return {
            "status": status, "snapshot_id": 7,
            "data_file": {
                "file_path": "file://" + path, "file_format": "PARQUET",
                "partition": {}, "record_count": len(ids),
                "file_size_in_bytes": (
                    os.path.getsize(path) if status != 2 else 1
                ),
            },
        }

    manifests = {
        "m-a.avro": [entry(1, "a1.parquet", [1, 2]),
                     entry(0, "a2.parquet", [3, 4, 5])],
        "m-b.avro": [entry(2, "b0.parquet", [6, 7, 8, 9]),
                     entry(1, "b1.parquet", [10])],
    }
    for name, entries in manifests.items():
        write_avro_file(os.path.join(mdir, name), entry_schema, entries)
    meta = {
        "format-version": 1,
        "location": "file://" + root,
        "last-column-id": 3,
        "schema": {"type": "struct", "fields": [
            {"id": 1, "name": "id", "required": False, "type": "long"},
            {"id": 2, "name": "val", "required": False, "type": "string"},
            {"id": 3, "name": "n", "required": False, "type": "long"},
        ]},
        "partition-spec": [],
        "current-snapshot-id": 7,
        "snapshots": [{
            "snapshot-id": 7, "timestamp-ms": 1700000000000,
            "manifests": ["file://" + os.path.join(mdir, n) for n in manifests],
            "summary": {"operation": "append"},
        }],
    }
    with open(os.path.join(mdir, "v1.metadata.json"), "w", encoding="utf-8") as f:
        json.dump(meta, f)
    with open(os.path.join(mdir, "version-hint.text"), "w", encoding="ascii") as f:
        f.write("1")

    assert upgrade_iceberg_v1_to_v2(root) == 2
    meta = _iceberg_current_metadata(root)
    (snap,) = meta["snapshots"]
    _s, mlist = read_avro_file(_iceberg_local_path(snap["manifest-list"], root))
    assert len(mlist) == len(manifests)
    for r in mlist:
        entries = manifests[os.path.basename(r["manifest_path"])]
        for status, kind in ((0, "existing"), (1, "added"), (2, "deleted")):
            es = [e for e in entries if e["status"] == status]
            assert r[f"{kind}_files_count"] == len(es), (kind, r)
            assert r[f"{kind}_rows_count"] == sum(
                e["data_file"]["record_count"] for e in es
            ), (kind, r)
    got = read_iceberg(spark, root).select(*COLS).toPandas()
    assert sorted(got.id) == [1, 2, 3, 4, 5, 10]


def test_every_v2_writer_keeps_snapshot_invariants(spark, tmp_path):
    t = _Table(spark, str(tmp_path / "ice"))
    rows = [(i, f"v{i}", i) for i in range(6)]
    write_iceberg(t.df(rows), t.root)
    t.upsert(rows)
    t.check()

    rows = [(i, f"v{i}", i) for i in range(6, 10)]
    write_iceberg(t.df(rows), t.root, mode="append")
    t.upsert(rows)
    t.check()

    rows = [(i, f"o{i}", 10 + i) for i in range(8)]
    write_iceberg(t.df(rows), t.root, mode="overwrite")
    t.model = t.model.iloc[0:0]
    t.upsert(rows)
    assert t.check()["summary"]["operation"] == "overwrite"
    # The overwrite's manifest of deleted files is not carried on.
    rows = [(50, "a50", 50)]
    write_iceberg(t.df(rows), t.root, mode="append")
    t.upsert(rows)
    t.check()

    rows = [(1, "c1", 1), (20, "c20", 20)]
    merge_iceberg(t.df(rows), t.root, key="id", strategy="cow")
    t.upsert(rows)
    t.check()

    rows = [(2, "m2", 2), (21, "m21", 21)]
    merge_iceberg(t.df(rows), t.root, key="id", strategy="mor")
    t.upsert(rows)
    assert t.check()["summary"]["added-position-deletes"] == "1"

    assert compact_iceberg(spark, t.root) is not None
    assert t.check()["summary"]["removed-delete-files"] == "1"

    _sid, stats = binpack_iceberg(spark, t.root)
    assert stats["removed"] >= 2 and stats["added"] == 1
    t.check()

    rows = [(30, "a30", 30)]
    write_iceberg(t.df(rows), t.root, mode="append")
    t.upsert(rows)
    t.check()
    _sid, stats = zorder_iceberg(spark, t.root, ["id", "n"])
    assert stats["removed"] == 2
    t.check()

    _sid, n = delete_iceberg_where(spark, t.root, [("n", ">=", 20)])
    assert n == int((t.model.n >= 20).sum())
    t.model = t.model[t.model.n < 20]
    t.check()

    _sid, n = update_iceberg_where(
        spark, t.root, [("id", "<", 3)], {"val": "concat(val, '!')"}
    )
    hit = t.model.id < 3
    assert n == int(hit.sum())
    t.model = t.model.assign(val=t.model.val.where(~hit, t.model.val + "!"))
    t.check()

    write_iceberg_equality_deletes(spark.createDataFrame([(4,)], "id long"), t.root, "id")
    t.model = t.model[t.model.id != 4]
    t.check()

    # Manifests of deleted files only are no longer carried, so the
    # second data manifest to merge comes from one more append.
    rows = [(60, "a60", 60)]
    write_iceberg(t.df(rows), t.root, mode="append")
    t.upsert(rows)
    t.check()
    _sid, stats = rewrite_iceberg_manifests(t.root)
    assert stats["merged"] >= 2 and stats["created"] == 1
    t.check()

    _sid, n = truncate_iceberg(t.root)
    assert n is None  # a live equality delete makes the count inexact
    t.model = t.model.iloc[0:0]
    t.check()


def test_v3_writers_keep_row_lineage_and_manifest_headers(spark, tmp_path):
    t = _Table(spark, str(tmp_path / "ice3"))
    rows = [(i, f"v{i}", i) for i in range(10)]
    write_iceberg(t.df(rows), t.root)
    t.upsert(rows)
    t.check()
    upgrade_iceberg_v2_to_v3(t.root)
    t.meta = _iceberg_current_metadata(t.root)

    rows = [(i, f"v{i}", i) for i in range(10, 15)]
    write_iceberg(t.df(rows), t.root, mode="append")
    t.upsert(rows)
    t.check(added_rows=5)

    write_iceberg_deletion_vectors(
        spark.createDataFrame([(2,), (11,)], "id long"), t.root, keys="id"
    )
    t.model = t.model[~t.model.id.isin([2, 11])]
    assert t.check()["summary"]["added-dvs"] == "2"

    # The rewritten data and retired delete manifests are v3-shaped and
    # say so in their headers.
    assert compact_iceberg(spark, t.root) is not None
    t.check()
    _sid, stats = binpack_iceberg(spark, t.root)
    assert stats == {"removed": 2, "added": 1}
    t.check()

    # Two files in one manifest, a deletion vector on the first: the
    # compaction rewrites that manifest and the second file keeps its
    # row lineage.
    rows = [(i, f"v{i}", i) for i in range(20, 24)]
    write_iceberg(
        spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), SCHEMA),
        t.root, mode="append",
    )
    t.upsert(rows)
    t.check(added_rows=4)
    write_iceberg_deletion_vectors(
        spark.createDataFrame([(20,)], "id long"), t.root, keys="id"
    )
    t.model = t.model[t.model.id != 20]
    t.check()
    lineage = _first_row_ids(t)
    assert compact_iceberg(spark, t.root) is not None
    t.check()
    kept = {p: r for p, r in _first_row_ids(t).items() if p in lineage}
    assert kept == {p: lineage[p] for p in kept}
    assert [r for r in kept.values() if r is not None]


def _first_row_ids(t: _Table) -> dict:
    """{data file path: first_row_id} of the current snapshot's live
    data files."""
    out = {}
    for r in read_avro_file(_iceberg_local_path(
        next(s for s in t.meta["snapshots"]
             if s["snapshot-id"] == t.meta["current-snapshot-id"])["manifest-list"],
        t.root,
    ))[1]:
        if r["content"] == 0:
            for e in read_avro_file(_iceberg_local_path(r["manifest_path"], t.root))[1]:
                if e["status"] != 2:
                    out[e["data_file"]["file_path"]] = e["data_file"]["first_row_id"]
    return out


def test_main_branch_ref_follows_every_commit(spark, tmp_path):
    """Native writers record the current snapshot as the ``main`` branch
    head as well, and native readers refuse metadata where the two
    disagree: every commit moves both."""
    root = str(tmp_path / "ice")
    write_iceberg(spark.createDataFrame([(1, "a", 1)], SCHEMA), root)
    chosen, meta = _iceberg_current_metadata_named(root)
    meta["refs"] = {
        "main": {"snapshot-id": meta["current-snapshot-id"], "type": "branch"}
    }
    with open(os.path.join(root, "metadata", chosen), "w", encoding="utf-8") as f:
        json.dump(meta, f)

    def main_ref():
        meta = _iceberg_current_metadata(root)
        assert meta["refs"]["main"]["snapshot-id"] == meta["current-snapshot-id"]
        assert meta["refs"]["main"]["type"] == "branch"
        return meta["current-snapshot-id"]

    s1 = write_iceberg(
        spark.createDataFrame([(2, "b", 2)], SCHEMA), root, mode="append"
    )
    assert main_ref() == s1
    s2 = merge_iceberg(spark.createDataFrame([(1, "A", 1)], SCHEMA), root, key="id")
    assert main_ref() == s2
    rollback_iceberg(root, s1)
    assert main_ref() == s1

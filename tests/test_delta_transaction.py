"""Invariants every Delta commit keeps.

Each Delta writer commits through one transaction (``_DeltaTxn`` in
``formats/interop.py``). These tests drive every writer on a tiny
deletion-vector table and check, after each commit:

- replaying the log the way the Delta protocol does, keyed on the
  logical file (path, deletion-vector id), every remove retires a live
  file, no path is live twice, and the live set is the one
  ``_delta_replay`` returns;
- every remove names the deletion vector of the add it retires;
- ``read_delta`` against a pandas model of the table.
"""

import json
import os
from collections import Counter

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from automation_of_building_a_transactional_data_lake_spark.formats.interop import (
    _delta_file_key,
    _delta_replay,
    add_delta_constraint,
    alter_delta_table,
    binpack_delta,
    compact_delta,
    delete_delta_where,
    drop_delta_constraint,
    merge_delta,
    read_delta,
    restore_delta,
    truncate_delta,
    update_delta_where,
    write_delta,
    zorder_delta,
)

SCHEMA = "id long, val string, n long, p int"
DV_CONF = {"delta.enableDeletionVectors": "true"}


def _commit(root: str, v: int) -> list[dict]:
    with open(os.path.join(root, "_delta_log", f"{v:020d}.json"), encoding="utf-8") as f:
        return [json.loads(line) for line in f if line.strip()]


class _Table:
    """A table under test and its pandas model."""

    def __init__(self, spark, root):
        self.spark, self.root = spark, root
        self.cols = ["id", "val", "n", "p"]
        self.model = pd.DataFrame(columns=self.cols)
        self.live: dict[tuple, dict] = {}  # logical-file key -> add
        self.version = -1

    def df(self, rows, schema=SCHEMA):
        return self.spark.createDataFrame(rows, schema).coalesce(1)

    def upsert(self, rows):
        new = pd.DataFrame(rows, columns=self.cols)
        self.model = pd.concat(
            [self.model[~self.model.id.isin(new.id)], new], ignore_index=True
        )

    def drop(self, keep):
        self.model = self.model[keep].reset_index(drop=True)

    def check(self) -> list[dict]:
        """Check every commit since the last check; returns the newest
        commit's actions."""
        head = _delta_replay(self.root, None)
        actions: list[dict] = []
        for v in range(self.version + 1, head["version"] + 1):
            actions = _commit(self.root, v)
            for a in actions:
                if "remove" in a:
                    rm = a["remove"]
                    prior = next(
                        (add for add in self.live.values() if add["path"] == rm["path"]),
                        None,
                    )
                    assert prior is not None, (v, rm)
                    assert rm.get("deletionVector") == prior.get("deletionVector"), (v, rm)
                    del self.live[_delta_file_key(rm)]
                elif "add" in a:
                    self.live[_delta_file_key(a["add"])] = a["add"]
            paths = Counter(add["path"] for add in self.live.values())
            assert max(paths.values(), default=1) == 1, (v, paths)
        self.version = head["version"]
        assert {_delta_file_key(a) for a in head["files"].values()} == set(self.live)
        got = read_delta(self.spark, self.root).select(*self.cols).toPandas()
        assert sorted(map(tuple, got.astype(object).values.tolist())) == sorted(
            map(tuple, self.model.astype(object).values.tolist())
        )
        return actions


def _rows(ids, tag="v"):
    return [(i, f"{tag}{i}", i, i % 2) for i in ids]


def _dvs(actions) -> int:
    return sum(bool(a.get("add", {}).get("deletionVector")) for a in actions)


def test_every_delta_writer_keeps_log_invariants(spark, tmp_path):
    t = _Table(spark, str(tmp_path / "delta"))
    write_delta(t.df(_rows(range(10))), t.root, partition_by=["p"], configuration=DV_CONF)
    t.upsert(_rows(range(10)))
    t.check()

    write_delta(t.df(_rows(range(10, 14))), t.root, mode="append")
    t.upsert(_rows(range(10, 14)))
    t.check()

    # A deletion vector on a clean file, then a second one on the same
    # file: its remove names the first.
    merge_delta(t.df([(1,)], "id long"), t.root, key="id", mode="delete", strategy="dv")
    t.drop(t.model.id != 1)
    assert _dvs(t.check()) == 1
    merge_delta(t.df(_rows([3], "u")), t.root, key="id", strategy="dv")
    t.upsert(_rows([3], "u"))
    assert _dvs(t.check()) == 1

    merge_delta(t.df(_rows([2, 20], "r")), t.root, key="id", strategy="rewrite")
    t.upsert(_rows([2, 20], "r"))
    t.check()
    before_dv = t.model.copy()
    restore_to = t.version

    merge_delta(t.df(_rows([4], "d")), t.root, key="id", strategy="dv")
    t.upsert(_rows([4], "d"))
    assert _dvs(t.check()) == 1

    # The file holding id 4 only gained a deletion vector since
    # ``restore_to``: the restore re-adds it without one.
    restore_delta(t.root, restore_to)
    t.model = before_dv
    t.check()

    merge_delta(t.df([(5,)], "id long"), t.root, key="id", mode="delete", strategy="dv")
    t.drop(t.model.id != 5)
    t.check()

    _v, n = delete_delta_where(spark, t.root, [("id", "=", 7)])
    assert n == 1
    t.drop(t.model.id != 7)
    t.check()

    _v, n = update_delta_where(spark, t.root, [("id", "<", 3)], {"val": "concat(val, '!')"})
    hit = t.model.id < 3
    assert n == int(hit.sum())
    t.model = t.model.assign(val=t.model.val.where(~hit, t.model.val + "!"))
    t.check()

    merge_delta(t.df(_rows([6], "w")), t.root, key="id", strategy="dv")
    t.upsert(_rows([6], "w"))
    t.check()
    assert compact_delta(spark, t.root) is not None
    removes = [a["remove"] for a in t.check() if "remove" in a]
    assert removes and all(rm.get("deletionVector") for rm in removes)
    assert compact_delta(spark, t.root) is None

    for ids in ([30, 31], [32, 33]):
        write_delta(t.df(_rows(ids)), t.root, mode="append")
        t.upsert(_rows(ids))
    _v, stats = binpack_delta(spark, t.root)
    assert stats["removed"] >= 4 and stats["added"] == 2
    t.check()
    write_delta(t.df(_rows([34, 35])), t.root, mode="append")
    t.upsert(_rows([34, 35]))
    _v, stats = zorder_delta(spark, t.root, ["id", "n"])
    assert stats == {"removed": 4, "added": 2}
    t.check()

    # An overwrite retires deletion-vector files too.
    merge_delta(t.df([(8,)], "id long"), t.root, key="id", mode="delete", strategy="dv")
    t.drop(t.model.id != 8)
    t.check()
    write_delta(t.df(_rows(range(40, 44), "o")), t.root, mode="overwrite")
    t.model = pd.DataFrame(_rows(range(40, 44), "o"), columns=t.cols)
    assert any(a["remove"].get("deletionVector") for a in t.check() if "remove" in a)

    alter_delta_table(t.root, add_columns=[("note", "string")])
    t.cols.append("note")
    t.model = t.model.assign(note=None)
    t.check()
    add_delta_constraint(spark, t.root, "nonneg", "n >= 0")
    assert "delta.constraints.nonneg" in _delta_replay(t.root, None)["metaData"]["configuration"]
    drop_delta_constraint(t.root, "nonneg")
    t.check()

    merge_delta(t.df([(41,)], "id long"), t.root, key="id", mode="delete", strategy="dv")
    t.drop(t.model.id != 41)
    t.check()
    _v, n = truncate_delta(t.root)
    assert n == 3
    t.model = t.model.iloc[0:0]
    t.check()


def test_merge_into_a_non_hive_partition_layout(spark, tmp_path):
    """A table whose data files do not sit under ``k=v`` directories
    merges like any other: its scans read each partition group with the
    partition values as literals."""
    root = str(tmp_path / "flat")
    os.makedirs(os.path.join(root, "_delta_log"))
    os.makedirs(os.path.join(root, "data"))
    adds = []
    for part, ids in (("0", [0, 2, 4, 6]), ("1", [1, 3, 5, 7])):
        rel = f"data/part{part}.parquet"
        pq.write_table(
            pa.table({"id": pa.array(ids, pa.int64()), "val": [f"v{i}" for i in ids]}),
            os.path.join(root, rel),
        )
        adds.append(
            {"add": {"path": rel, "partitionValues": {"p": part},
                     "size": os.path.getsize(os.path.join(root, rel)),
                     "modificationTime": 0, "dataChange": True}}
        )
    schema = spark.createDataFrame([], "id long, val string, p int").schema
    actions = [
        {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                      "readerFeatures": ["deletionVectors"],
                      "writerFeatures": ["deletionVectors"]}},
        {"metaData": {"id": "flat", "format": {"provider": "parquet", "options": {}},
                      "schemaString": schema.json(), "partitionColumns": ["p"],
                      "configuration": {}, "createdTime": 0}},
        *adds,
    ]
    with open(os.path.join(root, "_delta_log", f"{0:020d}.json"), "w", encoding="utf-8") as f:
        f.write("".join(json.dumps(a) + "\n" for a in actions))

    def rows():
        return sorted(tuple(r) for r in read_delta(spark, root).collect())

    state = {i: (i, f"v{i}", i % 2) for i in range(8)}
    src = spark.createDataFrame([(1, "X", 1), (8, "new", 0)], "id long, val string, p int")
    merge_delta(src, root, key="id", strategy="rewrite")
    state.update({1: (1, "X", 1), 8: (8, "new", 0)})
    assert rows() == sorted(state.values())

    merge_delta(spark.createDataFrame([(2,)], "id long"), root, key="id",
                mode="delete", strategy="dv")
    del state[2]
    assert rows() == sorted(state.values())
    assert compact_delta(spark, root) is not None
    assert rows() == sorted(state.values())


def test_restore_across_a_deletion_vector_change(spark, tmp_path):
    """A file that only gained a deletion vector since the restored
    version comes back without it."""
    root = str(tmp_path / "restore")
    write_delta(
        spark.createDataFrame([(i, f"v{i}") for i in range(100)], "id long, val string")
        .coalesce(1),
        root, configuration=DV_CONF,
    )
    merge_delta(spark.createDataFrame([(3,), (50,)], "id long"), root, key="id",
                mode="delete", strategy="dv")
    assert read_delta(spark, root).count() == 98
    assert restore_delta(root, 0) == 2
    assert read_delta(spark, root).count() == 100
    rm = [a["remove"] for a in _commit(root, 2) if "remove" in a]
    assert len(rm) == 1 and rm[0]["deletionVector"]["cardinality"] == 2

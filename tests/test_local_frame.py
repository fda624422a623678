"""Driver-built side tables plan as JVM local relations.

The interop readers and writers build metadata-sized frames on the
driver: file maps, deletion-vector pairs, log-slice descriptors and
metadata listings. ``spark.createDataFrame(<list>, ddl)`` makes each of
them an RDD of pickled rows, so every action over it runs
``defaultParallelism`` Python-worker tasks just to read it back.
``session.local_frame`` builds the same rows through a ``pyarrow.Table``,
which plans as a ``LocalRelation``. These tests pin the helper's
round trip, the absence of RDD scans from the foreign read and merge
plans, and the rule that every such frame goes through the helper.
"""

from __future__ import annotations

import datetime as dt
import os
import re
import time

from pyspark import StorageLevel
from pyspark.sql import DataFrame

from automation_of_building_a_transactional_data_lake_spark.formats.interop import (
    merge_delta,
    read_delta,
    read_hudi,
    write_delta,
    write_hudi,
)
from automation_of_building_a_transactional_data_lake_spark.session import local_frame

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "automation_of_building_a_transactional_data_lake_spark",
)

SCHEMA = "id long, v string, x double"


def _optimized(df: DataFrame) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def _no_rdd_scan(plan: str) -> bool:
    return "LogicalRDD" not in plan and "ExistingRDD" not in plan


def _rows(ids, tag):
    return [(i, f"{tag}{i}", float(i) / 2) for i in ids]


def test_local_frame_round_trips_like_the_list_path(spark):
    ddl = (
        "s string, l long, i int, b boolean, t timestamp, y binary, "
        "a array<string>"
    )
    rows = [
        ("x", 1 << 40, -2, True, dt.datetime(2024, 1, 2, 3, 4, 5, 6), b"\x00ab",
         ["p", None]),
        ("", 0, 0, False, dt.datetime(1999, 12, 31, 23, 59, 59), b"", []),
        (None, None, None, None, None, None, None),
    ]
    got = local_frame(spark, rows, ddl)
    want = spark.createDataFrame(rows, ddl)
    assert got.schema == want.schema
    assert got.collect() == want.collect()
    assert "LocalRelation" in _optimized(got)

    # A tz-aware timestamp is its instant, as on the list path.
    aware = [(dt.datetime(2024, 1, 2, 3, 4, 5, tzinfo=dt.timezone.utc),)]
    assert (
        local_frame(spark, aware, "t timestamp").selectExpr("cast(t as long)").first()
        == spark.createDataFrame(aware, "t timestamp")
        .selectExpr("cast(t as long)").first()
    )

    # Empty input keeps the schema and plans as an empty local relation,
    # from a DDL string or a StructType.
    for schema in (ddl, want.schema):
        empty = local_frame(spark, [], schema)
        assert empty.schema == want.schema
        assert empty.collect() == []
        assert "LocalRelation <empty>" in _optimized(empty)

    # A quoted column name survives the DDL parse.
    n = local_frame(spark, [(7,)], "`count(1)` long")
    assert n.columns == ["count(1)"] and n.first()[0] == 7


def test_foreign_reads_and_routed_merge_plan_no_rdd_scan(spark, tmp_path, monkeypatch):
    base = local_frame(spark, _rows(range(60), "b"), SCHEMA).repartition(3, "id")

    delta = str(tmp_path / "delta")
    write_delta(
        base, delta, mode="error",
        configuration={"delta.enableDeletionVectors": "true"},
    )
    merge_delta(
        local_frame(spark, [(k,) for k in range(0, 60, 7)], "id long"),
        delta, "id", mode="delete", strategy="dv",
    )
    assert any(f.startswith("deletion_vector_") for f in os.listdir(delta))
    dread = read_delta(spark, delta)
    assert _no_rdd_scan(_optimized(dread)), _optimized(dread)
    assert dread.count() == 60 - len(range(0, 60, 7))

    hudi = str(tmp_path / "hudi")
    write_hudi(base, hudi, record_key="id", table_type="MERGE_ON_READ")
    write_hudi(
        local_frame(spark, [(k,) for k in range(0, 60, 11)], "id long"),
        hudi, record_key="id", mode="delete",
    )
    assert any(".log." in f for _d, _s, fs in os.walk(hudi) for f in fs)
    hread = read_hudi(spark, hudi)
    assert _no_rdd_scan(_optimized(hread)), _optimized(hread)
    assert hread.count() == 60 - len(range(0, 60, 11))

    # The MoR upsert pins its routed frame (and the key pin) with
    # persist: record every pinned plan.
    pinned: list[str] = []
    frame_cls = type(base)
    persist = frame_cls.persist

    def recording_persist(self, storageLevel=StorageLevel.MEMORY_AND_DISK_DESER):
        pinned.append(_optimized(self))
        return persist(self, storageLevel)

    monkeypatch.setattr(frame_cls, "persist", recording_persist)
    write_hudi(
        local_frame(spark, _rows([3, 20, 59, 60, 61], "u"), SCHEMA),
        hudi, record_key="id", mode="upsert",
    )
    monkeypatch.undo()
    routed = [p for p in pinned if "__ver" in p]
    assert routed, pinned
    for plan in pinned:
        assert _no_rdd_scan(plan), plan
    assert read_hudi(spark, hudi).count() == 60 - len(range(0, 60, 11)) + 2


def test_side_tables_are_built_only_through_local_frame():
    """``createDataFrame(`` may appear nowhere in ``formats/`` or
    ``sql.py``: a list-built side table would bring back the per-read
    Python-worker tasks."""
    files = [os.path.join(PKG, "sql.py")] + [
        os.path.join(PKG, "formats", f)
        for f in sorted(os.listdir(os.path.join(PKG, "formats")))
        if f.endswith(".py")
    ]
    offenders = []
    for path in files:
        with open(path, encoding="utf-8") as fh:
            for n, line in enumerate(fh, 1):
                if re.search(r"\bcreateDataFrame\(", line):
                    offenders.append(f"{os.path.relpath(path, PKG)}:{n}")
    assert not offenders, offenders


def test_large_pair_frame_builds_no_slower_than_the_list_path(spark):
    """A 200k-row (file, position) frame, the shape of a deletion-vector
    pairs table, builds and counts at least as fast as the list path
    (min of three interleaved runs each)."""
    pairs = [(f"/lake/t/part-{i % 500:05d}.parquet", i) for i in range(200_000)]
    ddl = "__fp string, __ri long"

    def timed(build) -> float:
        t0 = time.perf_counter()
        assert build().count() == len(pairs)
        return time.perf_counter() - t0

    arrow, listed = [], []
    for _ in range(3):
        arrow.append(timed(lambda: local_frame(spark, pairs, ddl)))
        listed.append(timed(lambda: spark.createDataFrame(pairs, ddl)))
    assert min(arrow) <= min(listed), (arrow, listed)

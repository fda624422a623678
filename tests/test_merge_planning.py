"""Spark-action budget of the keyed merges into real Delta, Iceberg and
Hudi tables that already carry row-level deletes.

Each merge plans in one pass: the key pin's job also refuses duplicate
keys, one LIMIT-bounded grouped scan gives every affected file's live
and matched counts, prior deletes come from table metadata, and the
existing-delete frame decodes once per merge. The Hudi log write plans
its groups from one aggregate. Every call below runs under its own job
group, and its Spark jobs are counted through ``sc.statusTracker()``
(the mechanism of ``cdcbench/spans.py``); under AQE every shuffle or
broadcast stage is a job of its own. One-pass planning runs 14/13 jobs
for a Delta and an Iceberg upsert/delete here and 20/18 for Hudi (whose
routing scan reuses the schema it already inferred); the bounds are
those counts (the earlier planner ran Delta 26/23, Iceberg 26/23, Hudi
26/22), so a planning step or a schema inference split back out fails.
Each merged table is also checked against a pandas latest-wins oracle.
"""

from __future__ import annotations

import itertools
import os

import pandas as pd
import pytest

from automation_of_building_a_transactional_data_lake_spark.formats.interop import (
    merge_delta,
    merge_iceberg,
    read_delta,
    read_hudi,
    read_iceberg,
    write_delta,
    write_hudi,
    write_iceberg,
)

N = 300  # base rows, four files per table
SCHEMA = "id long, v string, x double"

_group_ids = itertools.count()


def _jobs(spark, fn) -> int:
    """Spark jobs ``fn()`` runs, counted under a fresh job group."""
    sc = spark.sparkContext
    gid = f"merge-planning-{next(_group_ids)}"
    sc.setJobGroup(gid, gid)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # Job-start events reach the status store through the listener bus.
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(gid))


def _rows(ids, tag):
    return [(i, f"{tag}{i}", float(i) / 2) for i in ids]


def _base(spark):
    return spark.createDataFrame(_rows(range(N), "b"), SCHEMA).repartition(4, "id")


def _oracle(ups, dels) -> pd.DataFrame:
    """Latest-wins: the base, overwritten by the upserts, minus the deletes."""
    state = {r[0]: r for r in _rows(range(N), "b")}
    state.update({r[0]: r for r in ups})
    for k in dels:
        state.pop(k, None)
    return _sorted(pd.DataFrame(list(state.values()), columns=["id", "v", "x"]))


def _sorted(pdf: pd.DataFrame) -> pd.DataFrame:
    return pdf[["id", "v", "x"]].sort_values("id").reset_index(drop=True)


# An upsert touching every file (updates plus fresh inserts), then a
# delete of keys the upsert left alone; the setup's deletes came first.
PRE_DELETED = list(range(0, N, 37))
UPSERT = _rows([3, 50, 120, 121, 250, 299] + list(range(N, N + 8)), "u")
DELETE = [7, 80, 160, 240, 17 + N]  # the last key is absent: no-op row


def _merge_and_check(spark, merge, read, bounds):
    up = spark.createDataFrame(UPSERT, SCHEMA)
    dl = spark.createDataFrame([(k,) for k in DELETE], "id long")
    counts = (
        _jobs(spark, lambda: merge(up, "upsert")),
        _jobs(spark, lambda: merge(dl, "delete")),
    )
    got = _sorted(read().select("id", "v", "x").toPandas())
    pd.testing.assert_frame_equal(got, _oracle(UPSERT, PRE_DELETED + DELETE))
    assert counts[0] <= bounds[0] and counts[1] <= bounds[1], counts


def test_merge_delta_plans_in_one_pass_over_deletion_vectors(spark, tmp_path):
    path = str(tmp_path / "delta")
    write_delta(
        _base(spark), path, mode="error",
        configuration={"delta.enableDeletionVectors": "true"},
    )
    merge_delta(
        spark.createDataFrame([(k,) for k in PRE_DELETED], "id long"),
        path, "id", mode="delete", strategy="dv",
    )
    assert any(
        f.startswith("deletion_vector_") for f in os.listdir(path)
    )  # the merges below start from a table carrying DVs

    def merge(df, mode):
        merge_delta(df, path, "id", mode=mode)

    _merge_and_check(spark, merge, lambda: read_delta(spark, path), (14, 13))


def test_merge_iceberg_plans_in_one_pass_over_position_deletes(spark, tmp_path):
    path = str(tmp_path / "iceberg")
    write_iceberg(_base(spark), path)
    merge_iceberg(
        spark.createDataFrame([(k,) for k in PRE_DELETED], "id long"),
        path, "id", mode="delete", strategy="mor",
    )
    assert any(
        f.endswith("-deletes.parquet")
        for f in os.listdir(os.path.join(path, "data"))
    )

    def merge(df, mode):
        merge_iceberg(df, path, "id", mode=mode)

    _merge_and_check(spark, merge, lambda: read_iceberg(spark, path), (14, 13))


def test_hudi_mor_log_write_plans_groups_in_one_aggregate(spark, tmp_path):
    path = str(tmp_path / "hudi")
    write_hudi(_base(spark), path, record_key="id", table_type="MERGE_ON_READ")
    pre = spark.createDataFrame([(k,) for k in PRE_DELETED], "id long")
    write_hudi(pre, path, record_key="id", mode="delete")

    assert any(".log." in f for _d, _s, fs in os.walk(path) for f in fs)

    def merge(df, mode):
        write_hudi(df, path, record_key="id", mode=mode)

    _merge_and_check(spark, merge, lambda: read_hudi(spark, path), (20, 18))


def test_merge_duplicate_keys_refused_by_the_key_pin(spark, tmp_path):
    """The duplicate check rides the key pin's job and still refuses
    before anything is written."""
    path = str(tmp_path / "dup")
    write_delta(_base(spark), path, mode="error")
    before = sorted(os.listdir(os.path.join(path, "_delta_log")))
    pins = spark.sparkContext._jsc.getPersistentRDDs().size()
    dup = spark.createDataFrame(_rows([5, 5, 6], "d"), SCHEMA)
    with pytest.raises(ValueError, match="duplicate key 5"):
        merge_delta(dup, path, "id", mode="upsert")
    assert sorted(os.listdir(os.path.join(path, "_delta_log"))) == before
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == pins

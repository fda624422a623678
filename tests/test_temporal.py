"""Temporal operators: asof_join against pandas merge_asof, and
bounded_range_join against a brute-force non-equi join."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from automation_of_building_a_transactional_data_lake_spark.functions.dates import (
    epoch_micros,
)
from automation_of_building_a_transactional_data_lake_spark.operators.temporal import (
    asof_join,
    bounded_range_join,
)
from automation_of_building_a_transactional_data_lake_spark.plans.testdata_queries import load

from .conftest import SF_SMOKE


@pytest.fixture(scope="module")
def events(spark):
    return load(spark, SF_SMOKE, "events").cache()


def test_asof_join_matches_pandas_merge_asof(spark, events):
    clicks = events.filter(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    got = (
        asof_join(
            clicks, purchases, on="user_id", left_time="ts", right_time="ts",
            right_cols=["event_id", "value"], tiebreak="event_id",
        )
        .select("event_id", "event_id_asof")
        .toPandas()
        .sort_values("event_id")
        .reset_index(drop=True)
    )

    cp = clicks.toPandas().sort_values("ts", kind="mergesort")
    pp = (
        purchases.toPandas()
        # merge_asof keeps the LAST right row at equal keys; sorting by
        # (ts, event_id) makes that the greatest event_id — our tiebreak.
        .sort_values(["ts", "event_id"], kind="mergesort")
        .rename(columns={"event_id": "event_id_asof"})[["user_id", "ts", "event_id_asof"]]
    )
    want = (
        pd.merge_asof(cp, pp, on="ts", by="user_id", direction="backward")
        .sort_values("event_id")
        .reset_index(drop=True)[["event_id", "event_id_asof"]]
    )
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_asof_join_no_match_keeps_nulls(spark):
    left = spark.createDataFrame([(1, "k", 100), (2, "k", 5)], ["id", "k", "t"])
    right = spark.createDataFrame([(7, "k", 50)], ["rid", "k", "t"])
    out = asof_join(
        left, right, on="k", left_time="t", right_time="t", right_cols=["rid"]
    ).toPandas().set_index("id")
    assert out.loc[1, "rid_asof"] == 7
    assert pd.isna(out.loc[2, "rid_asof"])  # t=5 precedes every right row


def test_bounded_range_join_matches_bruteforce(spark, events):
    clicks = events.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("c_id"), "user_id", F.col("ts").alias("c_ts")
    )
    errors = events.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("e_id"), "user_id", F.col("ts").alias("e_ts")
    )
    got = (
        bounded_range_join(
            clicks, errors, on="user_id", left_time="c_ts", right_time="e_ts",
            max_gap_seconds=3600, direction="both",
        )
        .select("c_id", "e_id")
        .toPandas()
        .sort_values(["c_id", "e_id"])
        .reset_index(drop=True)
    )
    brute = (
        clicks.join(errors, "user_id")
        .filter(
            F.abs(epoch_micros("e_ts") - epoch_micros("c_ts"))
            <= 3600 * 1_000_000
        )
        .select("c_id", "e_id")
        .toPandas()
        .sort_values(["c_id", "e_id"])
        .reset_index(drop=True)
    )
    assert len(got) > 0  # non-vacuous at sf0.001
    pd.testing.assert_frame_equal(got, brute)


def test_bounded_range_join_direction_validation(spark, events):
    clicks = events.limit(1).select(F.col("event_id").alias("c_id"), "user_id", "ts")
    with pytest.raises(ValueError, match="direction"):
        bounded_range_join(clicks, clicks, on="user_id", left_time="ts",
                           right_time="ts", max_gap_seconds=60, direction="sideways")


def test_epoch_micros_ntz_dst_safe(spark):
    """TIMESTAMP_NTZ micros must be session-timezone-independent: under
    a DST zone, the old cast-through-LTZ path maps the spring-forward
    wall clocks 01:59 -> 03:01 to instants only 2 real minutes apart
    (the 02:00-03:00 hour doesn't exist locally), collapsing a 62-minute
    wall-clock gap — sessionize would then glue two sessions together.
    The field-based ntz path must report the true wall-clock gap and
    split the sessions, identically under UTC and America/New_York."""
    from automation_of_building_a_transactional_data_lake_spark.functions.dates import (
        col_is_ntz,
    )
    from automation_of_building_a_transactional_data_lake_spark.operators.sessionize import (
        with_session_id,
    )

    df = (
        spark.createDataFrame(
            [(1, "2024-03-10 01:59:00"), (1, "2024-03-10 03:01:00")], "user_id long, w string"
        )
        .withColumn("ts", F.col("w").cast("timestamp_ntz"))
        .drop("w")
    )
    assert col_is_ntz(df, "ts")
    prev_tz = spark.conf.get("spark.sql.session.timeZone")
    results = {}
    try:
        for tz in ("UTC", "America/New_York"):
            spark.conf.set("spark.sql.session.timeZone", tz)
            us = sorted(
                r.us for r in df.select(epoch_micros("ts", ntz=True).alias("us")).collect()
            )
            sess = sorted(
                (r.user_id, r.session_id)
                for r in with_session_id(df, gap_seconds=1800).collect()
            )
            results[tz] = (us, sess)
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev_tz)
    assert results["UTC"] == results["America/New_York"]
    us, sess = results["UTC"]
    assert us[1] - us[0] == 62 * 60 * 1_000_000  # true wall-clock gap
    assert sess == [(1, 0), (1, 1)]  # 62 min > 30 min gap: two sessions


def test_with_session_id_keeps_a_caller_column_named_like_its_helper(spark):
    """with_session_id's epoch-micros helper column must not collide
    with an input column: a caller's own ``__sess_us`` (and a
    case-variant of the next candidate name) survive untouched, and the
    sessions still split on the real timestamps."""
    from automation_of_building_a_transactional_data_lake_spark.operators.sessionize import (
        with_session_id,
    )

    df = spark.createDataFrame(
        [
            (1, "2024-01-01 00:00:00", -1, "a"),
            (1, "2024-01-01 00:10:00", -2, "b"),
            (1, "2024-01-01 02:00:00", -3, "c"),
        ],
        "user_id long, w string, __sess_us long, ___SESS_US string",
    ).withColumn("ts", F.col("w").cast("timestamp")).drop("w")
    out = with_session_id(df, gap_seconds=1800)
    assert out.columns == df.columns + ["session_id"]
    got = sorted(
        (r["__sess_us"], r["___SESS_US"], r["session_id"]) for r in out.collect()
    )
    assert got == [(-3, "c", 1), (-2, "b", 0), (-1, "a", 0)]

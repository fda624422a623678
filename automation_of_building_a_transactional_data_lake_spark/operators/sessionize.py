"""Sessionization: split each key's event stream into sessions
separated by an inactivity gap.

The standard two-window formulation — no state machine, no UDF:

1. ``lag(ts)`` per key ordered by time → gap to the previous event;
2. session-start flag = (gap is null) or (gap > threshold);
3. running sum of the flag over the same window → session index;
4. (optional) aggregate per (key, session index).

Scale: both windows share ONE hash partition + sort on the key — one
shuffle total, and the running sum is O(1) state per row. The same
semantics in streaming is ``F.session_window`` (see
streaming/windows.py); this module is the batch/backfill path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.dates import col_is_ntz, epoch_micros


def with_session_id(
    df: DataFrame,
    key_col: str = "user_id",
    time_col: str = "ts",
    gap_seconds: int = 1800,
    out_col: str = "session_id",
) -> DataFrame:
    """Adds an integer per-key session index (0-based, ordered by
    time). Ties on ``time_col`` within a key stay in one session (gap
    0 <= threshold) regardless of sort order, so the result is
    deterministic without a tiebreaker."""
    w = Window.partitionBy(key_col).orderBy(time_col)
    ntz = col_is_ntz(df, time_col)
    # Decompose the timestamp to epoch micros ONCE per row, in its own
    # projection BELOW the window: inlining epoch_micros around
    # lag(ts) made Catalyst materialize one lag() copy per component
    # of the decomposition (the r17 plan carried 8 identical lag
    # windows) and re-run the date/hour/minute/second arithmetic per
    # reference. Lagging the long instead is arithmetically identical
    # (epoch_micros is monotone and null-preserving) and lags once
    # (r18, guide §1.2 per-task work). The helper column takes a name
    # the input lacks (Spark resolves names case-insensitively), so a
    # caller's own ``__sess_us`` is neither overwritten nor dropped.
    taken = {c.lower() for c in df.columns}
    us = "__sess_us"
    while us in taken:
        us = "_" + us
    d = df.withColumn(us, epoch_micros(F.col(time_col), ntz))
    gap_us = F.col(us) - F.lag(us).over(w)
    is_start = F.when(
        gap_us.isNull() | (gap_us > gap_seconds * 1_000_000), 1
    ).otherwise(0)
    return d.withColumn(
        out_col,
        F.sum(is_start).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        - 1,
    ).drop(us)


def session_stats(
    df: DataFrame,
    key_col: str = "user_id",
    time_col: str = "ts",
    gap_seconds: int = 1800,
) -> DataFrame:
    """Per-session aggregate: event count, duration, value sum."""
    s = with_session_id(df, key_col, time_col, gap_seconds)
    ntz = col_is_ntz(df, time_col)  # max/min preserve the input dtype
    return s.groupBy(key_col, "session_id").agg(
        F.count("*").alias("n_events"),
        (
            epoch_micros(F.max(time_col), ntz) - epoch_micros(F.min(time_col), ntz)
        ).alias("duration_us"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )

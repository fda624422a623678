"""DuckDB latest-wins-then-delete oracle over the same drops.

Per key, the winning change is the one with the greatest ``timestamp``;
a timestamp tie goes to the higher op rank I(0) < U(1) < D(2) (the
engine's tie-break, FIXTURES.md "tie-break batch"). A winning ``D``
removes the key; a winning ``I``/``U`` replaces the whole row. Drops
carry strictly later timestamps than every earlier drop, so the global
winner equals applying the drops one by one.
"""

from __future__ import annotations

import duckdb
import pandas as pd

from drops import BASE_SCHEMA, KEY

COLS = [f.name for f in BASE_SCHEMA]


def expected(base_file: str, drop_files: list[str]) -> pd.DataFrame:
    cols = ", ".join(COLS)
    con = duckdb.connect()
    try:
        con.execute("SET TimeZone = 'UTC'")
        if not drop_files:
            return con.sql(f"SELECT {cols} FROM read_parquet('{base_file}')").df()
        drops = ", ".join(f"'{f}'" for f in drop_files)
        return con.sql(
            f"""
            WITH latest AS (
                SELECT * FROM read_parquet([{drops}])
                QUALIFY row_number() OVER (
                    PARTITION BY {KEY}
                    ORDER BY "timestamp" DESC,
                             CASE "Op" WHEN 'D' THEN 2 WHEN 'U' THEN 1 ELSE 0 END DESC
                ) = 1
            )
            SELECT {cols} FROM read_parquet('{base_file}')
            WHERE {KEY} NOT IN (SELECT {KEY} FROM latest)
            UNION ALL
            SELECT {cols} FROM latest WHERE "Op" <> 'D'
            """
        ).df()
    finally:
        con.close()


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[COLS].sort_values(KEY, kind="stable").reset_index(drop=True)
    for c in ("o_orderdate",):
        df[c] = pd.to_datetime(df[c]).astype("datetime64[us]")
    for c in (KEY, "o_custkey"):
        df[c] = df[c].astype("int64")
    return df


def mismatches(actual: pd.DataFrame, want: pd.DataFrame) -> int:
    """Rows that differ between a table state and the oracle (0 = equal)."""
    a, w = _canon(actual), _canon(want)
    if len(a) == len(w) and a.equals(w):
        return 0
    m = a.merge(w, on=KEY, how="outer", suffixes=("_a", "_w"), indicator=True)
    bad = m["_merge"] != "both"
    for c in COLS:
        if c != KEY:
            bad |= (m[f"{c}_a"] != m[f"{c}_w"]) & m["_merge"].eq("both")
    return int(bad.sum())

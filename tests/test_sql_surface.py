"""sql.LakeSQL — the SQL text surface (r6 verdict #1/#2): SELECT by
``lake.db.table`` identifier (with FOR VERSION/TAG AS OF time travel)
and the reference's MERGE INTO statements as literal text
(src/iceberg/iceberg-cdc-load.py:127-159), executed through the same
transactional merge surface as the API path."""

import datetime as dt
import os
import time

import pytest
from pyspark.sql import functions as F

from automation_of_building_a_transactional_data_lake_spark.catalog import Catalog
from automation_of_building_a_transactional_data_lake_spark.pipeline import (
    cdc_load,
    initial_load,
)
from automation_of_building_a_transactional_data_lake_spark.plans.demo_fixture import demo_root
from automation_of_building_a_transactional_data_lake_spark.spec import (
    GAME_SPECS_BY_NAME,
    TableSpec,
)
from automation_of_building_a_transactional_data_lake_spark.sql import LakeSQL, MergeResult

DEMO = demo_root()


@pytest.fixture()
def user_lake(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path / "wh"))
    spec = GAME_SPECS_BY_NAME["user_data"]
    initial_load(spark, cat, spec, DEMO)
    return cat, spec, LakeSQL(cat)


def test_select_by_identifier_and_alias(user_lake, spark):
    cat, spec, lake = user_lake
    assert lake.sql("SELECT count(*) AS n FROM lake.game.user_data").first().n == 10000
    # Aliased, filtered, ordered — the rewrite must leave real SQL alone.
    rows = lake.sql(
        "SELECT u.user_id FROM lake.game.user_data u "
        "WHERE u.user_id <= 3 ORDER BY u.user_id"
    ).collect()
    assert [r.user_id for r in rows] == [1, 2, 3]
    # String literals are never rewritten.
    r = lake.sql("SELECT 'lake.game.user_data' AS s, count(*) AS n FROM lake.game.user_data").first()
    assert r.s == "lake.game.user_data" and r.n == 10000


def test_select_joins_two_managed_tables(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path / "wh"))
    for t in ("user_data", "purchase_data"):
        initial_load(spark, cat, GAME_SPECS_BY_NAME[t], DEMO)
    lake = LakeSQL(cat)
    got = lake.sql("""
        SELECT count(*) AS n
        FROM lake.game.user_data u JOIN lake.game.purchase_data p
          ON u.user_id = p.user_id
    """).first().n
    u = cat.read_table(GAME_SPECS_BY_NAME["user_data"])
    p = cat.read_table(GAME_SPECS_BY_NAME["purchase_data"])
    assert got == u.join(p, "user_id").count() > 0


def test_merge_upsert_sql_text_equals_api_path(user_lake, spark, tmp_path):
    """The reference's exact MERGE upsert statement must produce the
    same table state as merge_upsert on a twin table."""
    cat, spec, lake = user_lake
    twin = TableSpec("user_twin", "user_id", None, None, "game")
    cat.table(twin).create(cat.read_table(spec))

    src = (
        cat.read_table(spec)
        .filter(F.col("user_id") <= 5)
        .withColumn("email", F.concat(F.lit("u_"), F.col("email")))
        .unionByName(
            cat.read_table(spec).limit(0).unionByName(
                spark.createDataFrame(
                    cat.read_table(spec).filter("user_id = 1").withColumn(
                        "user_id", F.lit(99991).cast("long")
                    ).collect()
                )
            )
        )
    )
    src.createOrReplaceTempView("merge_src")

    r = lake.sql("""
        MERGE INTO lake.game.user_data t USING merge_src s
        ON s.user_id = t.user_id
        WHEN MATCHED THEN UPDATE SET *
        WHEN NOT MATCHED THEN INSERT *
    """)
    assert isinstance(r, MergeResult) and r.action == "upsert" and r.source_rows == 6
    cat.table(twin).merge_upsert(spark.table("merge_src"))

    cols = sorted(cat.read_table(spec).columns)
    a = sorted(map(tuple, cat.read_table(spec).select(*cols).collect()))
    b = sorted(map(tuple, cat.read_table(twin).select(*cols).collect()))
    assert a == b and len(a) == 10001


def test_merge_delete_and_guard_sql_text(user_lake, spark):
    cat, spec, lake = user_lake
    spark.createDataFrame([(1,), (2,)], "user_id long").createOrReplaceTempView("dels")
    r = lake.sql("""
        MERGE INTO lake.game.user_data t USING dels s
        ON t.user_id = s.user_id
        WHEN MATCHED THEN DELETE
    """)
    assert r.action == "delete" and r.source_rows == 2
    assert lake.sql(
        "SELECT count(*) AS n FROM lake.game.user_data WHERE user_id IN (1, 2)"
    ).first().n == 0

    # Strictly-newer guard: an older source row must NOT regress the target.
    guarded = TableSpec("g_t", "id", None, None, "game")
    cat.table(guarded).create(
        spark.createDataFrame([(1, "new", 10)], "id long, val string, ver long")
    )
    spark.createDataFrame(
        [(1, "stale", 5), (2, "fresh", 1)], "id long, val string, ver long"
    ).createOrReplaceTempView("gsrc")
    lake.sql("""
        MERGE INTO lake.game.g_t t USING gsrc s
        ON s.id = t.id
        WHEN MATCHED AND s.ver > t.ver THEN UPDATE SET *
        WHEN NOT MATCHED THEN INSERT *
    """)
    got = {r.id: r.val for r in cat.read_table(guarded).collect()}
    assert got == {1: "new", 2: "fresh"}


def test_merge_source_can_be_subquery_and_managed_identifier(user_lake, spark):
    cat, spec, lake = user_lake
    # Subquery source with a managed identifier INSIDE it.
    lake.sql("""
        MERGE INTO lake.game.user_data t
        USING (SELECT user_id FROM lake.game.user_data WHERE user_id IN (7, 8)) s
        ON s.user_id = t.user_id
        WHEN MATCHED THEN DELETE
    """)
    assert lake.sql(
        "SELECT count(*) AS n FROM lake.game.user_data WHERE user_id IN (7, 8)"
    ).first().n == 0


def test_time_travel_version_and_tag(user_lake, spark):
    cat, spec, lake = user_lake
    tbl = cat.table(spec)
    tbl.create_tag("pre_cdc")
    cdc_load(spark, cat, spec, DEMO, clock=dt.datetime(2023, 9, 1, tzinfo=dt.timezone.utc))
    assert lake.sql("SELECT count(*) AS n FROM lake.game.user_data").first().n == 10044
    assert lake.sql(
        "SELECT count(*) AS n FROM lake.game.user_data FOR VERSION AS OF 1"
    ).first().n == 10000
    assert lake.sql(
        "SELECT count(*) AS n FROM lake.game.user_data FOR TAG AS OF 'pre_cdc'"
    ).first().n == 10000


def test_merge_rejects_unsupported_shapes(user_lake, spark):
    cat, spec, lake = user_lake
    spark.createDataFrame([(1,)], "user_id long").createOrReplaceTempView("one")
    with pytest.raises(ValueError, match="primary key"):
        lake.sql(
            "MERGE INTO lake.game.user_data t USING one s ON s.user_id = t.email "
            "WHEN MATCHED THEN DELETE"
        )
    with pytest.raises(ValueError, match="target must be"):
        lake.sql(
            "MERGE INTO somewhere.user_data t USING one s ON s.user_id = t.user_id "
            "WHEN MATCHED THEN DELETE"
        )
    with pytest.raises(ValueError, match="WHEN combination|no WHEN"):
        lake.sql(
            "MERGE INTO lake.game.user_data t USING one s ON s.user_id = t.user_id "
            "WHEN NOT MATCHED THEN INSERT *"
        )
    with pytest.raises(FileNotFoundError):
        lake.sql("SELECT * FROM lake.game.nope")


def test_resolve_spec_roundtrip(user_lake):
    cat, spec, _lake = user_lake
    resolved = cat.resolve_spec("game", "user_data")
    assert resolved.primary_key == spec.primary_key
    assert resolved.partition_key == spec.partition_key
    assert resolved.database == "game"


def test_ddl_statements_end_to_end(spark, tmp_path):
    """The DDL/maintenance text surface: CTAS, ALTER ADD/RENAME/DROP,
    OPTIMIZE (+ZORDER), VACUUM, SHOW TABLES, DESCRIBE, DROP TABLE —
    each mapped onto the transactional table API."""
    cat = Catalog(spark, str(tmp_path / "wh"))
    lake = LakeSQL(cat)
    spark.range(100).selectExpr(
        "id", "concat('u', id) AS val", "CAST(id % 3 AS STRING) AS grp"
    ).createOrReplaceTempView("src_rows")

    r = lake.sql("CREATE TABLE lake.ddl.t1 AS SELECT * FROM src_rows")
    assert r == {"table": "ddl.t1", "action": "created"}
    assert lake.sql("SELECT count(*) AS n FROM lake.ddl.t1").first().n == 100

    # SHOW TABLES / DESCRIBE
    rows = lake.sql("SHOW TABLES IN lake.ddl").collect()
    assert [(x.database, x.table) for x in rows] == [("ddl", "t1")]
    desc = {x.col_name: x for x in lake.sql("DESCRIBE lake.ddl.t1").collect()}
    assert desc["id"].is_primary_key and desc["id"].data_type == "bigint"

    # ALTER: add, write through it, rename, drop.
    assert lake.sql("ALTER TABLE lake.ddl.t1 ADD COLUMN score double")["action"] == "add_column"
    spark.createDataFrame(
        [(1, "u1b", "1", 0.5)], "id long, val string, grp string, score double"
    ).createOrReplaceTempView("t1_up")
    lake.sql("""MERGE INTO lake.ddl.t1 t USING t1_up s ON s.id = t.id
                WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *""")
    lake.sql("ALTER TABLE lake.ddl.t1 RENAME COLUMN val TO username")
    got = lake.sql(
        "SELECT username, score FROM lake.ddl.t1 WHERE id = 1"
    ).first()
    assert (got.username, got.score) == ("u1b", 0.5)
    lake.sql("ALTER TABLE lake.ddl.t1 DROP COLUMN grp")
    assert "grp" not in lake.sql("SELECT * FROM lake.ddl.t1").columns

    # OPTIMIZE / VACUUM / DROP TABLE.
    assert lake.sql("OPTIMIZE lake.ddl.t1")["action"] == "optimize"
    assert lake.sql("OPTIMIZE lake.ddl.t1 ZORDER BY (id, score)")["mode"] in (
        "full", "noop", "selective",
    )
    out = lake.sql("VACUUM lake.ddl.t1 RETAIN 1 VERSIONS")
    assert out["action"] == "vacuum" and isinstance(out["removed"], list)
    assert lake.sql("DROP TABLE lake.ddl.t1") == {"action": "drop_table", "dropped": True}
    assert lake.sql("SHOW TABLES IN lake.ddl").count() == 0
    assert lake.sql("DROP TABLE IF EXISTS lake.ddl.t1")["dropped"] is False


def test_bare_count_star_answers_from_metadata(user_lake, spark):
    """SELECT count(*) FROM <ident> with no predicate answers from the
    footer-stats index (X75 through the SQL surface) — asserted by
    checking the returned plan is a LocalRelation (no file scan) while
    the value still matches the scan count; shapes with predicates fall
    through to a real plan."""
    cat, spec, lake = user_lake
    df = lake.sql("SELECT count(*) AS n FROM lake.game.user_data")
    assert df.first().n == 10000
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "Relation" not in plan or "LocalRelation" in plan  # no parquet scan
    # Predicated count: NOT the metadata path (real scan, exact result).
    filtered = lake.sql(
        "SELECT count(*) AS n FROM lake.game.user_data WHERE user_id <= 10"
    )
    assert filtered.first().n == 10
    assert "LocalRelation" not in filtered._jdf.queryExecution().optimizedPlan().toString()


def test_sql_reads_foreign_tables_by_path(spark, tmp_path):
    """The format.`path` idiom over the jar-less interop readers:
    delta.`/p` (and external.`/p` auto-sniff) resolve inside any read
    shape, joinable against managed lake.db.table identifiers."""
    from automation_of_building_a_transactional_data_lake_spark.formats.interop import (
        write_delta,
    )

    cat = Catalog(spark, str(tmp_path / "wh"))
    spec = TableSpec("dims", "id", None, None, "sqldb")
    cat.table(spec).create(
        spark.createDataFrame([(1, "one"), (2, "two")], "id long, name string")
    )
    dpath = str(tmp_path / "facts_delta")
    write_delta(
        spark.createDataFrame([(1, 10.0), (1, 5.0), (2, 2.5)], "id long, amt double"),
        dpath,
    )
    lake = LakeSQL(cat)
    out = lake.sql(f"""
        SELECT d.name, CAST(sum(f.amt) AS DOUBLE) AS total
        FROM delta.`{dpath}` f JOIN lake.sqldb.dims d ON f.id = d.id
        GROUP BY d.name ORDER BY d.name
    """)
    assert [tuple(r) for r in out.collect()] == [("one", 15.0), ("two", 2.5)]
    n = lake.sql(f"SELECT count(*) AS c FROM external.`{dpath}`").first().c
    assert n == 3


def test_table_changes_by_path_sql(spark, tmp_path):
    """Delta's CDF table function as SQL text: table_changes_by_path
    ('/p', start[, end]) resolves through the jar-less
    read_delta_changes — blind appends arrive as inserts with their
    commit versions, the window is inclusive, and the function
    composes with ordinary SQL (filters/aggregates)."""
    from automation_of_building_a_transactional_data_lake_spark.catalog import Catalog
    from automation_of_building_a_transactional_data_lake_spark.formats.interop import (
        write_delta,
    )
    from automation_of_building_a_transactional_data_lake_spark.sql import LakeSQL

    path = str(tmp_path / "fd")
    write_delta(
        spark.createDataFrame([(1, "a"), (2, "b")], "id long, val string"),
        path, mode="error",
    )
    write_delta(
        spark.createDataFrame([(3, "c")], "id long, val string"),
        path, mode="append",
    )
    sql = LakeSQL(Catalog(spark, str(tmp_path / "wh")))
    got = sorted(
        map(tuple, sql.sql(
            f"SELECT id, val, _change_type, _commit_version "
            f"FROM table_changes_by_path('{path}', 0) ORDER BY id"
        ).collect())
    )
    assert got == [
        (1, "a", "insert", 0), (2, "b", "insert", 0), (3, "c", "insert", 1),
    ]
    # Bounded window + aggregation through the same surface.
    n = sql.sql(
        f"SELECT count(*) AS n FROM table_changes_by_path('{path}', 1, 1)"
    ).collect()[0].n
    assert n == 1


def test_foreign_path_time_travel_as_text(spark, tmp_path):
    """r11: `FOR VERSION AS OF n` / `FOR TIMESTAMP AS OF '...'` on
    foreign paths — Delta by version and epoch-ms/ISO timestamp,
    Iceberg by snapshot id and timestamp, Hudi by timeline instant;
    external.`p` refuses pinning (format unknown until sniffed)."""
    import time as _time

    from automation_of_building_a_transactional_data_lake_spark.catalog import Catalog
    from automation_of_building_a_transactional_data_lake_spark.formats.interop import (
        _hudi_timeline,
        merge_delta,
        merge_iceberg,
        write_delta,
        write_hudi,
        write_iceberg,
    )
    from automation_of_building_a_transactional_data_lake_spark.sql import LakeSQL

    sql = LakeSQL(Catalog(spark, str(tmp_path / "wh")))
    dp, ip, hp = (str(tmp_path / x) for x in ("d", "i", "h"))

    write_delta(spark.createDataFrame([(1, "a")], "id long, val string"), dp)
    _time.sleep(0.05)
    t_mid = int(_time.time() * 1000)
    _time.sleep(0.05)
    merge_delta(
        spark.createDataFrame([(2, "b")], "id long, val string"),
        dp, key="id", mode="upsert",
    )
    n = sql.sql(f"SELECT count(*) AS n FROM delta.`{dp}` FOR VERSION AS OF 0")
    assert n.collect()[0]["n"] == 1
    n = sql.sql(
        f"SELECT count(*) AS n FROM delta.`{dp}` FOR TIMESTAMP AS OF '{t_mid}'"
    )
    assert n.collect()[0]["n"] == 1
    assert sql.sql(f"SELECT count(*) AS n FROM delta.`{dp}`").collect()[0]["n"] == 2

    write_iceberg(spark.createDataFrame([(1, "a")], "id long, val string"), ip)
    _time.sleep(0.05)
    it_mid = int(_time.time() * 1000)
    _time.sleep(0.05)
    merge_iceberg(
        spark.createDataFrame([(2, "b")], "id long, val string"),
        ip, key="id", mode="upsert",
    )
    n = sql.sql(
        f"SELECT count(*) AS n FROM iceberg.`{ip}` FOR TIMESTAMP AS OF '{it_mid}'"
    )
    assert n.collect()[0]["n"] == 1

    write_hudi(
        spark.createDataFrame([(1, "a")], "id long, val string"),
        hp, record_key="id",
    )
    first = max(_hudi_timeline(hp)[0])
    write_hudi(
        spark.createDataFrame([(2, "b")], "id long, val string"),
        hp, record_key="id", mode="upsert",
    )
    n = sql.sql(
        f"SELECT count(*) AS n FROM hudi.`{hp}` FOR TIMESTAMP AS OF '{first}'"
    )
    assert n.collect()[0]["n"] == 1
    with pytest.raises(ValueError, match="timeline instant"):
        sql.sql(f"SELECT count(*) FROM hudi.`{hp}` FOR VERSION AS OF 1")
    with pytest.raises(ValueError, match="sniffed"):
        sql.sql(f"SELECT count(*) FROM external.`{dp}` FOR VERSION AS OF 0")


def test_merge_into_foreign_delta_by_path(spark, tmp_path):
    """The reference's literal Delta MERGE statements run against a
    REAL Delta table by path: MERGE INTO delta.`/p` ... UPDATE SET * /
    INSERT * and the keyed DELETE, through interop.merge_delta."""
    from automation_of_building_a_transactional_data_lake_spark.catalog import Catalog
    from automation_of_building_a_transactional_data_lake_spark.formats.interop import (
        read_delta,
        write_delta,
    )
    from automation_of_building_a_transactional_data_lake_spark.sql import LakeSQL

    path = str(tmp_path / "fd")
    write_delta(
        spark.createDataFrame([(1, "a"), (2, "b")], "id long, val string"),
        path, mode="error",
    )
    sql = LakeSQL(Catalog(spark, str(tmp_path / "wh")))
    spark.createDataFrame(
        [(2, "B2"), (3, "c")], "id long, val string"
    ).createOrReplaceTempView("up_src")
    r = sql.sql(f"""MERGE INTO delta.`{path}` t USING up_src s
ON s.id = t.id
WHEN MATCHED THEN UPDATE SET *
WHEN NOT MATCHED THEN INSERT *""")
    assert r.action == "upsert"
    got = {x.id: x.val for x in read_delta(spark, path).collect()}
    assert got == {1: "a", 2: "B2", 3: "c"}

    # Partially-matching delete keys: the reported count is the rows
    # actually retired (1), never src.count() (2) — r10 verdict #5,
    # aligning this branch with the hudi one. Since r12 the count is
    # FREE (r11 advice): it comes from the merge planner's own
    # per-file matched counts, so sql.py performs ZERO extra table
    # reads — pinned by counting read_delta invocations.
    import automation_of_building_a_transactional_data_lake_spark.formats.interop as _im

    spark.createDataFrame([(1,), (99,)], "id long").createOrReplaceTempView(
        "del_src"
    )
    calls = {"n": 0}
    orig_rd = _im.read_delta

    def _counting_rd(*a, **k):
        calls["n"] += 1
        return orig_rd(*a, **k)

    _im.read_delta = _counting_rd
    try:
        r = sql.sql(f"""MERGE INTO delta.`{path}` t USING del_src s
ON s.id = t.id
WHEN MATCHED THEN DELETE""")
    finally:
        _im.read_delta = orig_rd
    assert calls["n"] == 0  # no pre-count scan: one fewer table read
    assert r.action == "delete"
    assert r.source_rows == 1
    assert {x.id for x in read_delta(spark, path).collect()} == {2, 3}
    # All-miss delete: count 0 and NO new commit (the emptiness gate
    # short-circuits before _apply).
    spark.createDataFrame([(42,)], "id long").createOrReplaceTempView(
        "del_miss"
    )
    r = sql.sql(f"""MERGE INTO delta.`{path}` t USING del_miss s
ON s.id = t.id
WHEN MATCHED THEN DELETE""")
    assert r.source_rows == 0
    assert {x.id for x in read_delta(spark, path).collect()} == {2, 3}


def test_merge_into_foreign_iceberg_and_hudi_by_path(spark, tmp_path):
    """The reference's literal MERGE statements against real Iceberg
    and Hudi tables by path (iceberg-cdc-load.py's exact SQL shape)."""
    from automation_of_building_a_transactional_data_lake_spark.catalog import Catalog
    from automation_of_building_a_transactional_data_lake_spark.formats.interop import (
        read_hudi,
        read_iceberg,
        write_hudi,
        write_iceberg,
    )
    from automation_of_building_a_transactional_data_lake_spark.sql import LakeSQL

    sql = LakeSQL(Catalog(spark, str(tmp_path / "wh")))
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, val string")
    spark.createDataFrame(
        [(2, "B2"), (3, "c")], "id long, val string"
    ).createOrReplaceTempView("m_src")
    spark.createDataFrame([(1,)], "id long").createOrReplaceTempView("m_del")

    ip = str(tmp_path / "ice")
    write_iceberg(df, ip, mode="error")
    sql.sql(f"""MERGE INTO iceberg.`{ip}` t USING m_src s
ON s.id = t.id
WHEN MATCHED THEN UPDATE SET *
WHEN NOT MATCHED THEN INSERT *""")
    spark.createDataFrame([(1,), (77,)], "id long").createOrReplaceTempView(
        "m_del_partial"
    )
    import automation_of_building_a_transactional_data_lake_spark.formats.interop as _im

    calls = {"n": 0}
    orig_ri = _im.read_iceberg

    def _counting_ri(*a, **k):
        calls["n"] += 1
        return orig_ri(*a, **k)

    _im.read_iceberg = _counting_ri
    try:
        r = sql.sql(f"""MERGE INTO iceberg.`{ip}` t USING m_del_partial s
ON s.id = t.id
WHEN MATCHED THEN DELETE""")
    finally:
        _im.read_iceberg = orig_ri
    # Honest count: one row matched (77 misses) — r10 verdict #5 —
    # and since r12 it is FREE: zero extra table reads (r11 advice).
    assert calls["n"] == 0
    assert r.source_rows == 1
    assert {r.id: r.val for r in read_iceberg(spark, ip).collect()} == {
        2: "B2", 3: "c"
    }

    hp = str(tmp_path / "hud")
    write_hudi(df, hp, record_key="id", mode="bulk_insert")
    sql.sql(f"""MERGE INTO hudi.`{hp}` t USING m_src s
ON s.id = t.id
WHEN MATCHED THEN UPDATE SET *
WHEN NOT MATCHED THEN INSERT *""")
    sql.sql(f"""MERGE INTO hudi.`{hp}` t USING m_del s
ON s.id = t.id
WHEN MATCHED THEN DELETE""")
    assert {r.id: r.val for r in read_hudi(spark, hp).collect()} == {
        2: "B2", 3: "c"
    }


def test_create_foreign_tables_as_text(spark, tmp_path):
    """r12: the reference's Iceberg DDL shape as text on REAL foreign
    paths — CREATE TABLE <fmt>.`/p` [PARTITIONED BY (...)] AS SELECT;
    the Iceberg form takes hidden-partitioning transforms, and the
    created table round-trips through the jar-less readers and a
    follow-up MERGE."""
    import datetime as _dt

    from automation_of_building_a_transactional_data_lake_spark.catalog import Catalog
    from automation_of_building_a_transactional_data_lake_spark.formats.interop import (
        _iceberg_current_metadata_named,
        read_delta,
        read_hudi,
        read_iceberg,
    )
    from automation_of_building_a_transactional_data_lake_spark.sql import LakeSQL

    sql = LakeSQL(Catalog(spark, str(tmp_path / "wh")))
    spark.createDataFrame(
        [
            (1, _dt.datetime(2023, 9, 1, 10), "a"),
            (2, _dt.datetime(2023, 9, 2, 11), "b"),
        ],
        "id long, ts timestamp, val string",
    ).createOrReplaceTempView("ctas_src")

    ip = str(tmp_path / "ice")
    r = sql.sql(
        f"CREATE TABLE iceberg.`{ip}` PARTITIONED BY (days(ts), bucket(4, id)) "
        "AS SELECT * FROM ctas_src"
    )
    assert r["action"] == "created" and r["format"] == "iceberg"
    _c, meta = _iceberg_current_metadata_named(ip)
    assert [
        (f["name"], f["transform"])
        for f in meta["partition-specs"][0]["fields"]
    ] == [("ts_day", "day"), ("id_bucket", "bucket[4]")]
    assert {x.id for x in read_iceberg(spark, ip).collect()} == {1, 2}
    # The created table accepts the reference's MERGE as text.
    spark.createDataFrame(
        [(2, _dt.datetime(2023, 9, 2, 12), "B2")],
        "id long, ts timestamp, val string",
    ).createOrReplaceTempView("ctas_up")
    sql.sql(f"""MERGE INTO iceberg.`{ip}` t USING ctas_up s
ON s.id = t.id
WHEN MATCHED THEN UPDATE SET *
WHEN NOT MATCHED THEN INSERT *""")
    assert {x.id: x.val for x in read_iceberg(spark, ip).collect()} == {
        1: "a", 2: "B2"
    }

    dp = str(tmp_path / "del")
    r = sql.sql(
        f"CREATE TABLE delta.`{dp}` PARTITIONED BY (val) AS SELECT * FROM ctas_src"
    )
    assert r["version"] == 0
    assert {x.id for x in read_delta(spark, dp).collect()} == {1, 2}
    with pytest.raises(ValueError, match="identity partition"):
        sql.sql(
            f"CREATE TABLE delta.`{tmp_path / 'dx'}` PARTITIONED BY "
            "(days(ts)) AS SELECT * FROM ctas_src"
        )

    hp = str(tmp_path / "hud")
    r = sql.sql(f"CREATE TABLE hudi.`{hp}` AS SELECT * FROM ctas_src")
    assert r["action"] == "created"
    assert {x.id for x in read_hudi(spark, hp).collect()} == {1, 2}


def test_vacuum_foreign_paths_as_text(spark, tmp_path):
    """The real-format storage lifecycle drives as SQL text: one
    uniform `VACUUM <fmt>.`/path`` RETAIN n ...` statement runs Delta
    VACUUM / Iceberg expire_snapshots / the Hudi cleaner, and the
    tables read back unchanged at head."""
    from automation_of_building_a_transactional_data_lake_spark.formats.interop import (
        merge_delta,
        read_delta,
        read_hudi,
        read_iceberg,
        write_delta,
        write_hudi,
        write_iceberg,
    )
    from automation_of_building_a_transactional_data_lake_spark.catalog import Catalog
    from automation_of_building_a_transactional_data_lake_spark.sql import LakeSQL

    lake = LakeSQL(Catalog(spark, str(tmp_path / "wh")))
    rows0 = [(1, "a"), (2, "b")]
    dp, ip, hp = (str(tmp_path / x) for x in ("d", "i", "h"))

    write_delta(spark.createDataFrame(rows0, "id long, val string"), dp)
    merge_delta(
        spark.createDataFrame([(1, "A")], "id long, val string"), dp,
        key="id", mode="upsert",
    )
    # The SQL surface keeps vacuum_delta's default GRACE window (young
    # unreferenced files may be a commit in flight) — age the data
    # files past it so the test still exercises real deletion.
    old = time.time() - 7200
    for root, dirs, files in os.walk(dp):
        dirs[:] = [d for d in dirs if d != "_delta_log"]
        for f in files:
            os.utime(os.path.join(root, f), (old, old))
    out = lake.sql(f"VACUUM delta.`{dp}` RETAIN 1 VERSIONS")
    assert out["action"] == "vacuum" and out["format"] == "delta"
    assert out["deleted_files"] >= 1
    assert {r.id: r.val for r in read_delta(spark, dp).collect()} == {1: "A", 2: "b"}

    write_iceberg(spark.createDataFrame(rows0, "id long, val string"), ip)
    write_iceberg(
        spark.createDataFrame([(3, "c")], "id long, val string"), ip,
        mode="overwrite",
    )
    out = lake.sql(f"VACUUM iceberg.`{ip}` RETAIN 1 SNAPSHOTS")
    assert out["format"] == "iceberg" and out["expired"] == 1
    assert {r.id: r.val for r in read_iceberg(spark, ip).collect()} == {3: "c"}

    write_hudi(
        spark.createDataFrame(rows0, "id long, val string"), hp,
        record_key="id", mode="bulk_insert", num_buckets=1,
    )
    write_hudi(
        spark.createDataFrame([(1, "A")], "id long, val string"), hp,
        record_key="id", mode="upsert",
    )
    out = lake.sql(f"VACUUM hudi.`{hp}` RETAIN 1 SLICES")
    assert out["format"] == "hudi" and out["deleted_files"] == 1
    assert {r.id: r.val for r in read_hudi(spark, hp).collect()} == {1: "A", 2: "b"}


def test_describe_history_and_restore_as_text(spark, tmp_path):
    """DESCRIBE HISTORY (managed + foreign Delta by path) and Delta
    RESTORE semantics as text: the restore lands a NEW version whose
    content equals the named snapshot — history stays intact and the
    restore itself is time-travelable."""
    from automation_of_building_a_transactional_data_lake_spark.catalog import Catalog
    from automation_of_building_a_transactional_data_lake_spark.formats.interop import (
        merge_delta,
        write_delta,
    )
    from automation_of_building_a_transactional_data_lake_spark.sql import LakeSQL

    lake = LakeSQL(Catalog(spark, str(tmp_path / "wh")))
    lake.sql(
        "CREATE TABLE lake.hx.t AS SELECT * FROM VALUES (1, 'a'), (2, 'b')"
        " AS v(id, val)"
    )
    lake.sql(
        "MERGE INTO lake.hx.t t USING (SELECT 1 AS id, 'A' AS val) s"
        " ON s.id = t.id WHEN MATCHED THEN UPDATE SET *"
        " WHEN NOT MATCHED THEN INSERT *"
    )
    hist = {r.version: r.is_current for r in lake.sql("DESCRIBE HISTORY lake.hx.t").collect()}
    assert hist == {1: False, 2: True}

    out = lake.sql("RESTORE TABLE lake.hx.t TO VERSION AS OF 1")
    assert out["restored_from"] == 1 and out["version"] == 3
    got = {r.id: r.val for r in lake.sql("SELECT * FROM lake.hx.t").collect()}
    assert got == {1: "a", 2: "b"}  # pre-merge content, new version
    # The merge snapshot is still reachable (history intact).
    v2 = lake.sql("SELECT * FROM lake.hx.t FOR VERSION AS OF 2")
    assert {r.id: r.val for r in v2.collect()} == {1: "A", 2: "b"}

    # Foreign Delta history by path.
    dp = str(tmp_path / "d")
    write_delta(spark.createDataFrame([(1, "a")], "id long, val string"), dp)
    merge_delta(
        spark.createDataFrame([(2, "b")], "id long, val string"), dp,
        key="id", mode="upsert",
    )
    fh = {r.version: r.operation for r in lake.sql(f"DESCRIBE HISTORY delta.`{dp}`").collect()}
    assert fh == {0: "WRITE", 1: "MERGE"}


def test_describe_history_iceberg_and_hudi_paths(spark, tmp_path):
    """DESCRIBE HISTORY for the other two foreign formats: Iceberg
    from the metadata snapshot list (current flagged), Hudi from the
    completed timeline (commit vs replacecommit actions)."""
    from automation_of_building_a_transactional_data_lake_spark.catalog import Catalog
    from automation_of_building_a_transactional_data_lake_spark.formats.interop import (
        write_hudi,
        write_iceberg,
    )
    from automation_of_building_a_transactional_data_lake_spark.sql import LakeSQL

    lake = LakeSQL(Catalog(spark, str(tmp_path / "wh")))
    ip = str(tmp_path / "i")
    s0 = write_iceberg(spark.createDataFrame([(1, "a")], "id long, val string"), ip)
    s1 = write_iceberg(
        spark.createDataFrame([(2, "b")], "id long, val string"), ip, mode="append"
    )
    hist = {r.snapshot_id: r.is_current for r in lake.sql(
        f"DESCRIBE HISTORY iceberg.`{ip}`"
    ).collect()}
    assert hist == {s0: False, s1: True}

    hp = str(tmp_path / "h")
    write_hudi(
        spark.createDataFrame([(1, "a")], "id long, val string"), hp,
        record_key="id", mode="bulk_insert",
    )
    write_hudi(
        spark.createDataFrame([(1, "A")], "id long, val string"), hp,
        record_key="id", mode="upsert", max_affected_file_groups=0,
    )
    rows = lake.sql(f"DESCRIBE HISTORY hudi.`{hp}`").collect()
    assert [r.action for r in rows] == ["commit", "replacecommit"]
    assert rows[0].operation == "BULK_INSERT" and rows[1].operation == "UPSERT"


# -- r13: SQL-text WHERE -> where= file-skipping derivation ------------------


def test_sql_where_clause_parser_units():
    """The derivation's clause parser: every supported conjunct shape
    maps into the where= grammar; anything else is skipped (never
    guessed)."""
    import datetime as _dt

    from automation_of_building_a_transactional_data_lake_spark.sql import (
        _mask_strings,
        _sql_parse_where_clause,
    )

    def parse(clause, alias=None):
        return _sql_parse_where_clause(clause, _mask_strings(clause), alias)

    assert parse("x = 5 AND y <> 'z'") == [("x", "=", 5), ("y", "!=", "z")]
    assert parse("d >= DATE '1996-01-01'") == [
        ("d", ">=", _dt.date(1996, 1, 1))
    ]
    # TIMESTAMP literals stay strings: the reader casts them in the
    # session timezone, exactly how Spark parses the SQL literal.
    assert parse("ts < TIMESTAMP '2024-01-01 00:00:00'") == [
        ("ts", "<", "2024-01-01 00:00:00")
    ]
    assert parse("x BETWEEN 3 AND 7") == [("x", ">=", 3), ("x", "<=", 7)]
    assert parse("y IN (1, 2) AND z NOT IN ('a', 'b')") == [
        ("y", "in", [1, 2]), ("z", "not in", ["a", "b"]),
    ]
    assert parse("x IS NULL AND y IS NOT NULL") == [
        ("x", "is null", None), ("y", "is not null", None),
    ]
    assert parse("(x = 1 OR x = 2) AND 10 > z") == [
        [("x", "=", 1), ("x", "=", 2)], ("z", "<", 10),
    ]
    # NOT IN inside an OR group parses since r14 (the normalizer
    # distributes it to CNF); BETWEEN in OR distributes since r15
    # (A OR (B AND C) = (A OR B) AND (A OR C), exact in Kleene logic).
    assert parse("x = 1 OR y NOT IN (2, 3)") == [
        [("x", "=", 1), ("y", "not in", [2, 3])],
    ]
    assert parse("x = 1 OR y BETWEEN 2 AND 3") == [
        [("x", "=", 1), ("y", ">=", 2)],
        [("x", "=", 1), ("y", "<=", 3)],
    ]
    # Qualified columns push only under the statement's alias.
    assert parse("t.x = 5", alias="t") == [("x", "=", 5)]
    assert parse("q.x = 5", alias="t") == []
    # NOT distributes by De Morgan into the same atom set (r16) —
    # exact in 3-valued logic, so negated predicates push down.
    assert parse("NOT x = 5") == [("x", "!=", 5)]
    assert parse("NOT (x < 5)") == [("x", ">=", 5)]
    assert parse("NOT (x = 1 OR y = 2)") == [("x", "!=", 1), ("y", "!=", 2)]
    assert parse("NOT (x = 1 AND y < 2)") == [
        [("x", "!=", 1), ("y", ">=", 2)],
    ]
    assert parse("NOT (x IN (1, 2))") == [("x", "not in", [1, 2])]
    assert parse("NOT x IS NULL") == [("x", "is not null", None)]
    assert parse("NOT (x BETWEEN 2 AND 3)") == [
        [("x", "<", 2), ("x", ">", 3)],
    ]
    assert parse("x NOT BETWEEN 2 AND 3") == [
        [("x", "<", 2), ("x", ">", 3)],
    ]
    assert parse("NOT (x NOT BETWEEN 2 AND 3)") == [
        ("x", ">=", 2), ("x", "<=", 3),
    ]
    assert parse("NOT NOT x = 5") == [("x", "=", 5)]
    # Nested parens + mixed AND/OR inside one conjunct (the recursive
    # grammar, r16): (A AND B) OR C distributes to CNF.
    assert parse("(x = 1 AND y = 2) OR z = 3") == [
        [("x", "=", 1), ("z", "=", 3)],
        [("y", "=", 2), ("z", "=", 3)],
    ]
    # A NOT over an unpushable leaf skips the conjunct, never guesses.
    assert parse("NOT (upper(x) = 'A')") == []
    # Unrecognized shapes skip — never a wrong translation.
    assert parse("upper(x) = 'A'") == []
    assert parse("x + 1 = 5") == []
    assert parse("x IN (SELECT id FROM t)") == []
    assert parse("x = NULL") == []


def test_sql_text_where_drives_file_skipping(spark, tmp_path):
    """A single-table SELECT over a foreign path gets manifest-level
    file skipping from its WHERE text on all three formats — exact
    results, strictly fewer files opened (r12 verdict next-#2)."""
    import datetime as _dt

    from automation_of_building_a_transactional_data_lake_spark.formats.interop import (
        read_delta,
        read_hudi,
        read_iceberg,
        write_delta,
        write_hudi,
        write_iceberg,
    )

    rows = [
        (i, _dt.datetime(2024, 1 + i % 6, 1 + i % 27), f"c{i % 3}")
        for i in range(60)
    ]
    df = spark.createDataFrame(rows, "id long, ts timestamp, cat string")
    lake = LakeSQL(Catalog(spark, str(tmp_path / "wh")))

    ice = str(tmp_path / "ice")
    write_iceberg(df, ice, partition_by=["months(ts)"])
    q = lake.sql(
        f"SELECT id FROM iceberg.`{ice}` "
        "WHERE ts >= TIMESTAMP '2024-05-01 00:00:00'"
    )
    assert {r.id for r in q.collect()} == {
        i for i, (_, ts, _c) in enumerate(rows)
        if ts >= _dt.datetime(2024, 5, 1)
    }
    assert 0 < len(q.inputFiles()) < len(read_iceberg(spark, ice).inputFiles())

    de = str(tmp_path / "de")
    write_delta(df.repartition(3), de, partition_by=["cat"])
    q = lake.sql(f"SELECT id FROM delta.`{de}` d WHERE d.cat IN ('c1')")
    assert {r.id for r in q.collect()} == {i for i in range(60) if i % 3 == 1}
    assert 0 < len(q.inputFiles()) < len(read_delta(spark, de).inputFiles())

    hu = str(tmp_path / "hu")
    write_hudi(df, hu, record_key="id", partition_by=["cat"])
    q = lake.sql(f"SELECT id FROM hudi.`{hu}` WHERE cat = 'c2'")
    assert {r.id for r in q.collect()} == {i for i in range(60) if i % 3 == 2}
    assert 0 < len(q.inputFiles()) < len(read_hudi(spark, hu).inputFiles())


def test_sql_not_predicate_drives_file_skipping(spark, tmp_path):
    """r16 (r15 verdict #8): the NOT-predicate twin of the sqltext
    pruning gate — a negated range disjunction over the
    months(ts)-partitioned Iceberg table De-Morgans into pushable
    range atoms, opens STRICTLY FEWER files than the full scan, and
    the rows hash-match the positive twin."""
    import datetime as _dt

    from automation_of_building_a_transactional_data_lake_spark.formats.interop import (
        read_iceberg,
        write_iceberg,
    )

    rows = [
        (i, _dt.datetime(2024, 1 + i % 6, 1 + i % 27), f"c{i % 3}")
        for i in range(60)
    ]
    df = spark.createDataFrame(rows, "id long, ts timestamp, cat string")
    lake = LakeSQL(Catalog(spark, str(tmp_path / "wh")))
    ice = str(tmp_path / "ice")
    write_iceberg(df, ice, partition_by=["months(ts)"])

    neg = lake.sql(
        f"SELECT id FROM iceberg.`{ice}` "
        "WHERE NOT (ts < TIMESTAMP '2024-03-01 00:00:00' "
        "OR ts >= TIMESTAMP '2024-05-01 00:00:00')"
    )
    pos = lake.sql(
        f"SELECT id FROM iceberg.`{ice}` "
        "WHERE ts >= TIMESTAMP '2024-03-01 00:00:00' "
        "AND ts < TIMESTAMP '2024-05-01 00:00:00'"
    )
    expect = {
        i for i, (_, ts, _c) in enumerate(rows)
        if _dt.datetime(2024, 3, 1) <= ts < _dt.datetime(2024, 5, 1)
    }
    assert {r.id for r in neg.collect()} == expect
    assert {r.id for r in pos.collect()} == expect
    n_all = len(read_iceberg(spark, ice).inputFiles())
    assert 0 < len(neg.inputFiles()) < n_all
    assert len(neg.inputFiles()) == len(pos.inputFiles())

    # NOT BETWEEN prunes too (the complement keeps both ends' months).
    nb = lake.sql(
        f"SELECT id FROM iceberg.`{ice}` "
        "WHERE ts NOT BETWEEN TIMESTAMP '2024-02-01 00:00:00' "
        "AND TIMESTAMP '2024-12-31 00:00:00'"
    )
    assert {r.id for r in nb.collect()} == {
        i for i, (_, ts, _c) in enumerate(rows)
        if ts < _dt.datetime(2024, 2, 1)
    }
    assert 0 < len(nb.inputFiles()) < n_all


def test_sql_text_where_pushdown_soundness_guards(spark, tmp_path):
    """Statements where pushing could be wrong do NOT push — joins
    (outer-join null-extension), set ops, subqueries, a second FROM
    source — and results stay exact; predicates on columns absent
    from the table degrade to no pushdown, never an error."""
    import datetime as _dt

    from automation_of_building_a_transactional_data_lake_spark.formats.interop import (
        write_delta,
        write_iceberg,
    )

    rows = [(i, _dt.datetime(2024, 1 + i % 6, 1), f"c{i % 3}") for i in range(12)]
    df = spark.createDataFrame(rows, "id long, ts timestamp, cat string")
    ice = str(tmp_path / "ice")
    write_iceberg(df, ice, partition_by=["months(ts)"])
    de = str(tmp_path / "de")
    write_delta(df, de, partition_by=["cat"])
    lake = LakeSQL(Catalog(spark, str(tmp_path / "wh")))

    # LEFT JOIN + IS NULL on the right side: the classic unsound push.
    left = lake.sql(
        f"SELECT a.id AS aid, b.id AS bid "
        f"FROM delta.`{de}` a LEFT JOIN iceberg.`{ice}` b "
        "ON a.id = b.id + 100 WHERE b.ts IS NULL"
    )
    assert left.count() == 12  # every a-row null-extends

    # Set op: no pushdown derived, result exact.
    u = lake.sql(
        f"SELECT id FROM iceberg.`{ice}` WHERE cat = 'c0' "
        f"UNION ALL SELECT id FROM iceberg.`{ice}` WHERE cat = 'c1'"
    )
    assert u.count() == 8

    # Unknown column in an OR group alongside a known one: the whole
    # group only pushes if every column resolves; here it must simply
    # not push (and certainly not raise).
    g = lake.sql(
        f"SELECT id FROM iceberg.`{ice}` "
        "WHERE (cat = 'c0' OR id < 0) AND ts IS NOT NULL"
    )
    assert {r.id for r in g.collect()} == {i for i in range(12) if i % 3 == 0}


def test_foreign_path_metadata_count(spark, tmp_path):
    """``SELECT count(*) FROM delta|iceberg|hudi.`/p``` answers from
    METADATA (zero data scan — inputFiles is empty on the result);
    shapes metadata cannot answer exactly (deletion vectors, live
    delete files, MoR log debt) fall through to the real plan and stay
    correct (r13, A2 at foreign scale)."""
    import datetime as _dt

    from automation_of_building_a_transactional_data_lake_spark.formats.interop import (
        merge_delta,
        merge_iceberg,
        write_delta,
        write_hudi,
        write_iceberg,
    )

    rows = [(i, f"v{i}", _dt.datetime(2024, 1 + i % 3, 5)) for i in range(40)]
    df = spark.createDataFrame(rows, "id long, v string, ts timestamp")
    lake = LakeSQL(Catalog(spark, str(tmp_path / "wh")))

    de, ice, hu = (str(tmp_path / n) for n in ("de", "ice", "hu"))
    write_delta(df.repartition(3), de)
    write_iceberg(df.repartition(3), ice, partition_by=["months(ts)"])
    write_hudi(df, hu, record_key="id")

    for fmt, path in (("delta", de), ("iceberg", ice), ("hudi", hu)):
        res = lake.sql(f"SELECT count(*) AS n FROM {fmt}.`{path}`")
        assert res.collect()[0].n == 40, fmt
        assert res.inputFiles() == [], f"{fmt}: count cost a scan"

    # A merge-on-read shape makes metadata inexact: the count must
    # fall through to a REAL plan and still be right.
    merge_iceberg(
        spark.createDataFrame([(1,)], "id long"), ice, key="id",
        mode="delete", strategy="mor",
    )
    res = lake.sql(f"SELECT count(*) AS n FROM iceberg.`{ice}`")
    assert res.collect()[0].n == 39
    assert res.inputFiles() != []  # honest fallback, not a guess

    # Delta deletion vectors: same contract.
    dv = str(tmp_path / "dv")
    write_delta(
        df.repartition(2), dv,
        configuration={"delta.enableDeletionVectors": "true"},
    )
    merge_delta(
        spark.createDataFrame([(2,)], "id long"), dv, key="id", mode="delete"
    )
    res = lake.sql(f"SELECT count(*) AS n FROM delta.`{dv}`")
    assert res.collect()[0].n == 39
    assert res.inputFiles() != []


def test_describe_detail_foreign_paths(spark, tmp_path):
    """``DESCRIBE DETAIL <fmt>.`/p``` reports file/byte totals,
    partitioning and the metadata-exact row count for all three
    formats — zero data scan; row count nulls honestly when MoR debt
    makes it inexact."""
    import datetime as _dt

    from automation_of_building_a_transactional_data_lake_spark.formats.interop import (
        merge_iceberg,
        write_delta,
        write_hudi,
        write_iceberg,
    )

    rows = [(i, f"c{i % 2}", _dt.datetime(2024, 1 + i % 3, 2)) for i in range(20)]
    df = spark.createDataFrame(rows, "id long, cat string, ts timestamp")
    lake = LakeSQL(Catalog(spark, str(tmp_path / "wh")))

    de, ice, hu = (str(tmp_path / n) for n in ("de", "ice", "hu"))
    write_delta(df, de, partition_by=["cat"])
    write_iceberg(df, ice, partition_by=["months(ts)"])
    write_hudi(df, hu, record_key="id")

    d = lake.sql(f"DESCRIBE DETAIL delta.`{de}`").collect()[0]
    assert d.format == "delta" and d.num_rows == 20
    assert d.partition_columns == ["cat"] and d.num_files > 0
    assert d.size_bytes > 0

    i = lake.sql(f"DESCRIBE DETAIL iceberg.`{ice}`").collect()[0]
    assert i.format == "iceberg" and i.num_rows == 20
    assert i.partition_columns == ["months(ts)"]

    h = lake.sql(f"DESCRIBE DETAIL hudi.`{hu}`").collect()[0]
    assert h.format == "hudi" and h.num_rows == 20 and h.current is not None

    # MoR debt nulls the row count honestly.
    merge_iceberg(
        spark.createDataFrame([(1,)], "id long"), ice, key="id",
        mode="delete", strategy="mor",
    )
    i2 = lake.sql(f"DESCRIBE DETAIL iceberg.`{ice}`").collect()[0]
    assert i2.num_rows is None


def test_sql_count_where_metadata_only(spark, tmp_path):
    """``SELECT count(*) FROM <fmt>.`/p`` WHERE <pred>`` answers from
    metadata when every file decides (zero-scan pin), falls through to
    a REAL plan when any file is mixed or the predicate doesn't fully
    translate — and is exact either way."""
    import datetime as _dt

    from automation_of_building_a_transactional_data_lake_spark.formats.interop import (
        write_delta,
        write_iceberg,
    )

    rows = [
        (i, _dt.datetime(2024, 1 + i % 6, 1 + i % 27), f"c{i % 3}")
        for i in range(300)
    ]
    df = spark.createDataFrame(rows, "id long, ts timestamp, cat string")
    ice, de = str(tmp_path / "ice"), str(tmp_path / "de")
    write_iceberg(df.repartition(3), ice, partition_by=["months(ts)"])
    write_delta(df.repartition(3), de, partition_by=["cat"])
    lake = LakeSQL(Catalog(spark, str(tmp_path / "wh")))

    q = lake.sql(
        f"SELECT count(*) AS n FROM iceberg.`{ice}` "
        "WHERE ts >= TIMESTAMP '2024-03-01 00:00:00' "
        "AND ts < TIMESTAMP '2024-05-01 00:00:00'"
    )
    want = len(
        [r for r in rows if _dt.datetime(2024, 3, 1) <= r[1] < _dt.datetime(2024, 5, 1)]
    )
    assert q.collect()[0].n == want
    assert q.inputFiles() == []  # metadata only

    q2 = lake.sql(
        f"SELECT count(*) AS n FROM delta.`{de}` WHERE cat IN ('c1', 'c2')"
    )
    assert q2.collect()[0].n == len([r for r in rows if r[2] != "c0"])
    assert q2.inputFiles() == []

    # Misaligned boundary: real plan, exact result.
    q3 = lake.sql(
        f"SELECT count(*) AS n FROM iceberg.`{ice}` "
        "WHERE ts >= TIMESTAMP '2024-03-15 00:00:00'"
    )
    assert q3.collect()[0].n == len(
        [r for r in rows if r[1] >= _dt.datetime(2024, 3, 15)]
    )
    assert q3.inputFiles() != []

    # An untranslatable conjunct: strict parse refuses the shortcut.
    q4 = lake.sql(
        f"SELECT count(*) AS n FROM delta.`{de}` "
        "WHERE cat = 'c1' AND length(cat) = 2"
    )
    assert q4.collect()[0].n == len([r for r in rows if r[2] == "c1"])
    assert q4.inputFiles() != []


def test_sql_count_where_managed_metadata_only(spark, user_lake):
    """The managed twin: ``count(*) FROM lake.db.tbl WHERE <pred>``
    answers from the footer-stats index when every file decides, falls
    through when mixed — exact either way."""
    _cat, _spec, lake = user_lake

    full = lake.sql("SELECT count(*) AS n FROM lake.game.user_data")
    total = full.collect()[0].n
    # A full-range predicate: every file decidably ALL (null-free
    # bounds containment) -> metadata-only.
    q = lake.sql(
        "SELECT count(*) AS n FROM lake.game.user_data WHERE user_id >= 0"
    )
    assert q.collect()[0].n == total
    assert q.inputFiles() == []
    # An out-of-range predicate: every file decidably NONE.
    z = lake.sql(
        "SELECT count(*) AS n FROM lake.game.user_data WHERE user_id < 0"
    )
    assert z.collect()[0].n == 0 and z.inputFiles() == []
    # A mid-range predicate crossing file bounds: honest real plan.
    mid = lake.sql(
        "SELECT count(*) AS n FROM lake.game.user_data "
        "WHERE user_id <= 5000"
    )
    want = lake.sql(
        "SELECT count(*) AS n FROM (SELECT * FROM lake.game.user_data) "
        "WHERE user_id <= 5000"
    ).collect()[0].n
    assert mid.collect()[0].n == want


def test_describe_detail_managed(spark, user_lake):
    """Managed DESCRIBE DETAIL: totals from the footer-stats index,
    zero data scan."""
    _cat, _spec, lake = user_lake
    d = lake.sql("DESCRIBE DETAIL lake.game.user_data")
    row = d.collect()[0]
    assert row.format == "managed" and row.num_rows == 10000
    assert row.num_files > 0 and row.size_bytes > 0
    assert d.inputFiles() == []


def test_sql_text_update_and_delete_predicates(user_lake, spark):
    """r14: predicate UPDATE / DELETE FROM as text (the Delta-SQL
    retention/correction statements) — exact row resolution through
    the table's own read, committed via the keyed transactional merge,
    so snapshot isolation, time travel and the change feed all apply.
    SQL semantics pinned: all SET expressions evaluate against the
    PRE-update row; expressions cast to the column's declared type;
    primary-key assignment refuses."""
    _cat, spec, lake = user_lake
    t = "lake.game.user_data"

    before = {r.user_id: r.cur_level for r in lake.sql(f"SELECT * FROM {t}").collect()}
    v0 = lake.sql(f"SELECT count(*) AS n FROM {t}").collect()[0].n

    # UPDATE with a row-referencing expression + string literal filter.
    res = lake.sql(
        f"UPDATE {t} SET cur_level = cur_level + 1000 "
        "WHERE marketing_agreement = 'y' AND cur_level < 5"
    )
    assert res.action == "update" and res.source_rows > 0
    after = {r.user_id: (r.cur_level, r.marketing_agreement) for r in lake.sql(f"SELECT * FROM {t}").collect()}
    changed = {k for k, (lvl, _m) in after.items() if lvl >= 1000}
    assert len(changed) == res.source_rows
    for k, (lvl, mk) in after.items():
        if k in changed:
            assert mk == "y" and lvl == before[k] + 1000  # pre-update RHS
        else:
            assert lvl == before[k]
    assert lake.sql(f"SELECT count(*) AS n FROM {t}").collect()[0].n == v0

    # All SETs see the PRE-update row: swapping via two assignments.
    cat2 = Catalog(spark, str(spark._sc._temp_dir) + "/swapwh")
    from automation_of_building_a_transactional_data_lake_spark.spec import TableSpec

    sp = TableSpec("sw", "id", None, None, "d")
    cat2.table(sp).create(spark.createDataFrame([(1, 10, 20)], "id long, a long, b long"))
    lk2 = LakeSQL(cat2)
    lk2.sql("UPDATE lake.d.sw SET a = b, b = a")
    r = lk2.sql("SELECT * FROM lake.d.sw").collect()[0]
    assert (r.a, r.b) == (20, 10)

    # DELETE with predicate; count drops exactly; version history grows.
    n_del = lake.sql(f"SELECT count(*) AS n FROM {t} WHERE cur_level >= 1000").collect()[0].n
    res = lake.sql(f"DELETE FROM {t} WHERE cur_level >= 1000")
    assert res.action == "delete" and res.source_rows == n_del
    assert lake.sql(f"SELECT count(*) AS n FROM {t}").collect()[0].n == v0 - n_del

    # No-match statements commit nothing (version count unchanged).
    hist0 = lake.sql(f"DESCRIBE HISTORY {t}").count()
    assert lake.sql(f"DELETE FROM {t} WHERE user_id < 0").source_rows == 0
    assert lake.sql(f"UPDATE {t} SET cur_level = 0 WHERE user_id < 0").source_rows == 0
    assert lake.sql(f"DESCRIBE HISTORY {t}").count() == hist0

    # Guards: unknown column, primary-key assignment.
    with pytest.raises(ValueError, match="unknown column"):
        lake.sql(f"UPDATE {t} SET nope = 1")
    with pytest.raises(ValueError, match="primary key"):
        lake.sql(f"UPDATE {t} SET user_id = 1 WHERE cur_level = 3")


def test_sql_text_update_delete_foreign_hudi_path(spark, tmp_path):
    """r14: predicate UPDATE / DELETE FROM against a REAL Hudi table by
    path — the record key comes from hoodie.properties, rows resolve
    through read_hudi, commits go through the real keyed merge.
    Delta/Iceberg paths declare no key and refuse toward MERGE."""
    from automation_of_building_a_transactional_data_lake_spark.formats.interop import (
        read_hudi,
        write_delta,
        write_hudi,
    )

    lake = LakeSQL(Catalog(spark, str(tmp_path / "wh")))
    hp = str(tmp_path / "h")
    write_hudi(
        spark.createDataFrame(
            [(i, f"v{i}", f"c{i % 2}") for i in range(10)],
            "id long, val string, cat string",
        ),
        hp, record_key="id", partition_by=["cat"],
    )
    r = lake.sql(f"UPDATE hudi.`{hp}` SET val = upper(val) WHERE cat = 'c1'")
    assert r.action == "update" and r.source_rows == 5
    got = {x.id: x.val for x in read_hudi(spark, hp).collect()}
    assert got == {i: (f"v{i}".upper() if i % 2 else f"v{i}") for i in range(10)}

    r = lake.sql(f"DELETE FROM hudi.`{hp}` WHERE id >= 8")
    assert r.action == "delete" and r.source_rows == 2
    assert {x.id for x in read_hudi(spark, hp).collect()} == set(range(8))

    # record-key assignment refuses; a delta-path UPDATE with a
    # predicate OUTSIDE the where= grammar refuses toward MERGE
    # (strict: a partial translation would update a superset).
    with pytest.raises(ValueError, match="record.key"):
        lake.sql(f"UPDATE hudi.`{hp}` SET id = 1")
    dp = str(tmp_path / "d")
    write_delta(spark.createDataFrame([(1, "a")], "id long, val string"), dp)
    with pytest.raises(NotImplementedError, match="MERGE"):
        lake.sql(f"UPDATE delta.`{dp}` SET val = 'b' WHERE upper(val) = 'A'")


def test_sql_text_update_foreign_delta_iceberg_path(spark, tmp_path):
    """late-r14: keyless predicate UPDATE as text on Delta AND Iceberg
    paths — the missing DML-matrix cell. The WHERE must translate
    WHOLLY into the where= grammar; SET expressions evaluate against
    the pre-update row and cast to the declared type; UPDATE without
    WHERE updates every row."""
    from automation_of_building_a_transactional_data_lake_spark.formats.interop import (
        read_delta,
        read_iceberg,
        write_delta,
        write_iceberg,
    )

    lake = LakeSQL(Catalog(spark, str(tmp_path / "wh")))
    dp = str(tmp_path / "d")
    write_delta(
        spark.createDataFrame(
            [(i, i * 10, f"c{i % 2}") for i in range(10)],
            "id long, n long, cat string",
        ),
        dp, partition_by=["cat"],
    )
    r = lake.sql(f"UPDATE delta.`{dp}` SET n = n + 1 WHERE cat = 'c1' AND id < 5")
    assert r.action == "update" and r.source_rows == 2  # ids 1, 3
    got = {x.id: x.n for x in read_delta(spark, dp).collect()}
    assert got[1] == 11 and got[3] == 31 and got[2] == 20
    # No WHERE: every row (legal SQL, unlike the guarded DELETE).
    r = lake.sql(f"UPDATE delta.`{dp}` SET n = 0")
    assert r.source_rows == 10
    assert {x.n for x in read_delta(spark, dp).collect()} == {0}
    # String-masked comma inside a SET expression stays one assignment.
    r = lake.sql(
        f"UPDATE delta.`{dp}` SET cat = concat(cat, ',x') WHERE id = 0"
    )
    assert r.source_rows == 1
    assert read_delta(spark, dp).filter("id = 0").collect()[0].cat == "c0,x"

    ip = str(tmp_path / "i")
    write_iceberg(
        spark.createDataFrame(
            [(i, i * 10, f"c{i % 2}") for i in range(10)],
            "id long, n long, cat string",
        ),
        ip, partition_by=["cat"],
    )
    r = lake.sql(
        f"UPDATE iceberg.`{ip}` SET n = n * 2 WHERE id BETWEEN 4 AND 6"
    )
    assert r.action == "update" and r.source_rows == 3
    got = {x.id: x.n for x in read_iceberg(spark, ip).collect()}
    assert got[4] == 80 and got[5] == 100 and got[6] == 120 and got[7] == 70
    # Untranslatable predicate refuses toward MERGE.
    with pytest.raises(NotImplementedError, match="MERGE"):
        lake.sql(f"UPDATE iceberg.`{ip}` SET n = 0 WHERE n % 2 = 0")


def test_sql_text_insert_into(user_lake, spark):
    """r14: INSERT INTO as text — keyed tables enforce primary-key
    semantics (an existing key refuses loudly; INSERT never silently
    updates), clean batches commit as a pure-insert merge. VALUES,
    SELECT (with managed identifiers inside), and a column list with
    null-filled omitted columns all work."""
    _cat, spec, lake = user_lake
    t = "lake.game.user_data"
    v0 = lake.sql(f"SELECT count(*) AS n FROM {t}").collect()[0].n
    cols = [r.col_name for r in lake.sql(f"DESCRIBE {t}").collect()]

    # SELECT-shaped insert derived from the table itself (new keys).
    r = lake.sql(
        f"INSERT INTO {t} SELECT user_id + 500000, {', '.join(c for c in cols if c != 'user_id')} "
        f"FROM {t} WHERE user_id <= 3"
    )
    assert r.action == "insert" and r.source_rows == 3
    assert lake.sql(f"SELECT count(*) AS n FROM {t}").collect()[0].n == v0 + 3

    # Column-list insert: omitted columns fill with null.
    r = lake.sql(f"INSERT INTO {t} (user_id, cur_level) VALUES (910001, 7)")
    assert r.source_rows == 1
    row = lake.sql(f"SELECT * FROM {t} WHERE user_id = 910001").collect()[0]
    assert row.cur_level == 7 and row.email is None

    # Duplicate key refuses loudly; nothing commits.
    hist0 = lake.sql(f"DESCRIBE HISTORY {t}").count()
    with pytest.raises(ValueError, match="existing"):
        lake.sql(f"INSERT INTO {t} (user_id, cur_level) VALUES (910001, 9)")
    assert lake.sql(f"DESCRIBE HISTORY {t}").count() == hist0

    # Arity mismatch refuses with guidance.
    with pytest.raises(ValueError, match="name the columns"):
        lake.sql(f"INSERT INTO {t} VALUES (1, 2)")
    with pytest.raises(ValueError, match="unknown columns"):
        lake.sql(f"INSERT INTO {t} (nope) VALUES (1)")


# (kind, key-seed, value-seed) — interpreted against the model below.
try:
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    _sql_op = st.tuples(
        st.sampled_from(["insert", "update", "delete"]),
        st.integers(0, 11),
        st.integers(-50, 50),
    )

    @settings(
        max_examples=6,
        deadline=None,
        suppress_health_check=[
            HealthCheck.function_scoped_fixture, HealthCheck.too_slow,
        ],
    )
    @given(ops=st.lists(_sql_op, min_size=1, max_size=5))
    def test_sql_statement_surface_model_fuzz(spark, tmp_path_factory, ops):
        """PROPERTY (r14): any sequence of INSERT / predicate-UPDATE /
        predicate-DELETE statements as TEXT matches a dict model —
        primary-key refusal on duplicate inserts included — and the
        table stays time-travel consistent (one version per effectful
        statement)."""
        cat = Catalog(spark, str(tmp_path_factory.mktemp("sqlfz") / "wh"))
        spec = TableSpec("m", "id", None, None, "d")
        cat.table(spec).create(
            spark.createDataFrame([(i, i * 10) for i in range(4)], "id long, v long")
        )
        lake = LakeSQL(cat)
        model = {i: i * 10 for i in range(4)}
        versions = 1
        for kind, k, val in ops:
            if kind == "insert":
                if k in model:
                    with pytest.raises(ValueError, match="existing"):
                        lake.sql(f"INSERT INTO lake.d.m VALUES ({k}, {val})")
                else:
                    r = lake.sql(f"INSERT INTO lake.d.m VALUES ({k}, {val})")
                    assert r.source_rows == 1
                    model[k] = val
                    versions += 1
            elif kind == "update":
                r = lake.sql(f"UPDATE lake.d.m SET v = v + {val} WHERE id >= {k}")
                hit = [i for i in model if i >= k]
                assert r.source_rows == len(hit)
                for i in hit:
                    model[i] += val
                versions += 1 if hit else 0
            else:
                r = lake.sql(f"DELETE FROM lake.d.m WHERE id = {k}")
                assert r.source_rows == (1 if k in model else 0)
                if k in model:
                    del model[k]
                    versions += 1
        got = {r.id: r.v for r in lake.sql("SELECT * FROM lake.d.m").collect()}
        assert got == model
        assert lake.sql("DESCRIBE HISTORY lake.d.m").count() == versions
except ImportError:  # pragma: no cover — hypothesis is baked in here
    pass


def test_sql_text_delete_foreign_delta_path(spark, tmp_path):
    """r14: keyless predicate DELETE FROM delta.`/p` as text — the
    predicate must translate WHOLLY into the where= grammar (strict;
    a partial translation would delete a superset); complex predicates
    refuse toward MERGE."""
    from automation_of_building_a_transactional_data_lake_spark.formats.interop import (
        read_delta,
        write_delta,
    )

    lake = LakeSQL(Catalog(spark, str(tmp_path / "wh")))
    p = str(tmp_path / "d")
    write_delta(
        spark.createDataFrame(
            [(i, f"v{i}", f"c{i % 2}") for i in range(10)],
            "id long, val string, cat string",
        ),
        p, partition_by=["cat"],
    )
    r = lake.sql(f"DELETE FROM delta.`{p}` WHERE cat = 'c1' AND id < 5")
    assert r.action == "delete" and r.source_rows == 2  # ids 1, 3
    assert {x.id for x in read_delta(spark, p).collect()} == set(range(10)) - {1, 3}
    # BETWEEN / IN translate too.
    r = lake.sql(f"DELETE FROM delta.`{p}` WHERE id IN (0, 2)")
    assert r.source_rows == 2
    # A predicate outside the grammar refuses toward MERGE (strict:
    # partial translation would delete a superset).
    with pytest.raises(NotImplementedError, match="simple conjuncts"):
        lake.sql(f"DELETE FROM delta.`{p}` WHERE upper(val) = 'V5'")
    assert {x.id for x in read_delta(spark, p).collect()} == {4, 5, 6, 7, 8, 9}

    # The Iceberg twin through the same statement shape.
    from automation_of_building_a_transactional_data_lake_spark.formats.interop import (
        read_iceberg,
        write_iceberg,
    )

    ip = str(tmp_path / "i")
    write_iceberg(
        spark.createDataFrame(
            [(i, f"c{i % 2}") for i in range(10)], "id long, cat string"
        ),
        ip, partition_by=["cat"],
    )
    r = lake.sql(f"DELETE FROM iceberg.`{ip}` WHERE cat = 'c0' AND id BETWEEN 2 AND 7")
    assert r.action == "delete" and r.source_rows == 3  # ids 2, 4, 6
    assert {x.id for x in read_iceberg(spark, ip).collect()} == {0, 1, 3, 5, 7, 8, 9}
    # BETWEEN inside an OR group distributes to exact CNF since r15.
    r2 = lake.sql(
        f"DELETE FROM iceberg.`{ip}` WHERE cat = 'c0' OR id BETWEEN 7 AND 8"
    )
    assert r2.source_rows == 3  # survivors 0 and 8 (c0) plus 7 (BETWEEN)
    assert {x.id for x in read_iceberg(spark, ip).collect()} == {1, 3, 5, 9}


def test_sql_alter_table_foreign_path(spark, tmp_path):
    """late-r14: ALTER TABLE on foreign paths as text — ONE
    metadata-only commit per statement; Iceberg RENAME and Hudi refuse
    loudly with the reason."""
    from automation_of_building_a_transactional_data_lake_spark.formats.interop import (
        read_delta,
        read_iceberg,
        write_delta,
        write_iceberg,
    )

    lake = LakeSQL(Catalog(spark, str(tmp_path / "wh")))
    dp = str(tmp_path / "d")
    write_delta(
        spark.createDataFrame([(1, "a")], "id long, val string"), dp,
        configuration={"delta.columnMapping.mode": "name"},
    )
    r = lake.sql(f"ALTER TABLE delta.`{dp}` ADD COLUMN score double")
    assert r["action"] == "alter_table" and r["version"] == 1
    assert read_delta(spark, dp).columns == ["id", "val", "score"]
    lake.sql(f"ALTER TABLE delta.`{dp}` RENAME COLUMN val TO label")
    assert {x.label for x in read_delta(spark, dp).collect()} == {"a"}
    lake.sql(f"ALTER TABLE delta.`{dp}` DROP COLUMN score")
    assert read_delta(spark, dp).columns == ["id", "label"]

    ip = str(tmp_path / "i")
    write_iceberg(spark.createDataFrame([(1, "a")], "id long, val string"), ip)
    r = lake.sql(f"ALTER TABLE iceberg.`{ip}` ADD COLUMN tags array<string>")
    assert r["action"] == "alter_table"
    assert read_iceberg(spark, ip).columns == ["id", "val", "tags"]
    lake.sql(f"ALTER TABLE iceberg.`{ip}` DROP COLUMN val")
    assert read_iceberg(spark, ip).columns == ["id", "tags"]
    with pytest.raises(NotImplementedError, match="field-id mapping"):
        lake.sql(f"ALTER TABLE iceberg.`{ip}` RENAME COLUMN id TO id2")
    # r15: hudi ADD COLUMN works (test_alter_hudi_table_add_column);
    # a missing table raises cleanly, DROP/RENAME keep their fence.
    with pytest.raises(FileNotFoundError, match="no Hudi table"):
        lake.sql("ALTER TABLE hudi.`/nope` ADD COLUMN x long")
    with pytest.raises(NotImplementedError, match="ADD COLUMN only"):
        lake.sql("ALTER TABLE hudi.`/nope` DROP COLUMN x")


def test_sql_truncate_table(spark, tmp_path, user_lake):
    """late-r14: TRUNCATE TABLE as text — metadata-only on foreign
    delta/iceberg paths, an empty typed overwrite on managed tables;
    Hudi refuses with the reason."""
    from automation_of_building_a_transactional_data_lake_spark.formats.interop import (
        read_delta,
        read_iceberg,
        write_delta,
        write_iceberg,
    )

    lake = LakeSQL(Catalog(spark, str(tmp_path / "wh")))
    dp = str(tmp_path / "d")
    write_delta(spark.createDataFrame([(i,) for i in range(5)], "id long"), dp)
    r = lake.sql(f"TRUNCATE TABLE delta.`{dp}`")
    assert r["action"] == "truncate" and r["rows"] == 5
    assert read_delta(spark, dp).count() == 0

    ip = str(tmp_path / "i")
    write_iceberg(spark.createDataFrame([(i,) for i in range(7)], "id long"), ip)
    r = lake.sql(f"TRUNCATE TABLE iceberg.`{ip}`")
    assert r["rows"] == 7 and read_iceberg(spark, ip).count() == 0

    # r15: TRUNCATE works on Hudi paths now (one metadata-only
    # replacecommit); a missing table still raises cleanly.
    with pytest.raises(FileNotFoundError, match="no Hudi table"):
        lake.sql("TRUNCATE TABLE hudi.`/nope`")

    # Managed: empty typed overwrite, time-travelable.
    _cat, _spec, ulake = user_lake
    before = ulake.sql(
        "SELECT count(*) AS n FROM lake.game.user_data"
    ).first().n
    assert before > 0
    r = ulake.sql("TRUNCATE TABLE lake.game.user_data")
    assert r["action"] == "truncate"
    assert ulake.sql(
        "SELECT count(*) AS n FROM lake.game.user_data"
    ).first().n == 0


def test_sql_optimize_binpack(spark, tmp_path):
    """late-r14: OPTIMIZE fmt.`p` BINPACK [TARGET n MB|KB] as text —
    small-file compaction; the bare OPTIMIZE stays debt compaction."""
    from automation_of_building_a_transactional_data_lake_spark.formats.interop import (
        read_delta,
        write_delta,
    )

    lake = LakeSQL(Catalog(spark, str(tmp_path / "wh")))
    dp = str(tmp_path / "d")
    write_delta(spark.createDataFrame([(0,)], "id long"), dp)
    for i in range(1, 5):
        write_delta(
            spark.createDataFrame([(i,)], "id long").coalesce(1),
            dp, mode="append",
        )
    n0 = len(read_delta(spark, dp).inputFiles())
    r = lake.sql(f"OPTIMIZE delta.`{dp}` BINPACK TARGET 64 MB")
    assert r["action"] == "binpack" and r["compacted"] and r["removed"] == n0
    assert len(read_delta(spark, dp).inputFiles()) < n0
    assert {x.id for x in read_delta(spark, dp).collect()} == set(range(5))
    # Idempotent second run.
    r2 = lake.sql(f"OPTIMIZE delta.`{dp}` BINPACK")
    assert r2["compacted"] is False
    # The Hudi form is the clustering service (gated in
    # test_interop.test_cluster_hudi_replacecommit).


def test_sql_optimize_binpack_hudi(spark, tmp_path):
    """late-r14: OPTIMIZE hudi.`p` BINPACK routes to the clustering
    replacecommit."""
    from automation_of_building_a_transactional_data_lake_spark.formats.interop import (
        _hudi_visible_groups,
        read_hudi,
        write_hudi,
    )

    lake = LakeSQL(Catalog(spark, str(tmp_path / "wh")))
    hp = str(tmp_path / "h")
    write_hudi(
        spark.createDataFrame(
            [(i, f"v{i}") for i in range(12)], "id long, val string"
        ),
        hp, record_key="id", num_buckets=4,
    )
    n0 = sum(len(v) for v in _hudi_visible_groups(hp).values())
    r = lake.sql(f"OPTIMIZE hudi.`{hp}` BINPACK TARGET 64 MB")
    assert r["action"] == "binpack" and r["compacted"]
    assert sum(len(v) for v in _hudi_visible_groups(hp).values()) < n0
    assert {x.id for x in read_hudi(spark, hp).collect()} == set(range(12))
    assert lake.sql(f"OPTIMIZE hudi.`{hp}` BINPACK")["compacted"] is False


def test_sql_alter_constraint_foreign_delta(spark, tmp_path):
    """late-r14: ADD/DROP CONSTRAINT as text on a foreign Delta path."""
    from automation_of_building_a_transactional_data_lake_spark.formats.interop import (
        write_delta,
    )

    lake = LakeSQL(Catalog(spark, str(tmp_path / "wh")))
    dp = str(tmp_path / "d")
    write_delta(spark.createDataFrame([(1, 5)], "id long, n long"), dp)
    r = lake.sql(f"ALTER TABLE delta.`{dp}` ADD CONSTRAINT nonneg CHECK (n >= 0)")
    assert r["action"] == "add_constraint"
    with pytest.raises(ValueError, match="nonneg"):
        lake.sql(f"UPDATE delta.`{dp}` SET n = -1 WHERE id = 1")
    r = lake.sql(f"ALTER TABLE delta.`{dp}` DROP CONSTRAINT nonneg")
    assert r["action"] == "drop_constraint"
    assert lake.sql(f"UPDATE delta.`{dp}` SET n = -1 WHERE id = 1").source_rows == 1
    with pytest.raises(NotImplementedError, match="delta"):
        lake.sql("ALTER TABLE iceberg.`/nope` ADD CONSTRAINT c CHECK (1 = 1)")


def test_sql_optimize_zorder_foreign(spark, tmp_path):
    """late-r14: OPTIMIZE fmt.`p` ZORDER BY (c, ...) as text."""
    from automation_of_building_a_transactional_data_lake_spark.formats.interop import (
        read_delta,
        write_delta,
    )

    lake = LakeSQL(Catalog(spark, str(tmp_path / "wh")))
    dp = str(tmp_path / "d")
    write_delta(
        spark.createDataFrame(
            [(i, (i * 37) % 50, (i * 61) % 50) for i in range(500)],
            "id long, x long, y long",
        ).repartition(4),
        dp,
    )
    r = lake.sql(f"OPTIMIZE delta.`{dp}` ZORDER BY (x, y)")
    assert r["action"] == "zorder" and r["compacted"] and r["columns"] == ["x", "y"]
    assert read_delta(spark, dp).count() == 500
    # r15: hudi ZORDER works (test_zorder_hudi_and_insert_sql); a
    # missing table raises cleanly.
    with pytest.raises(FileNotFoundError, match="hoodie"):
        lake.sql("OPTIMIZE hudi.`/nope` ZORDER BY (x)")


def test_sql_optimize_manifests_iceberg(spark, tmp_path):
    """late-r14: OPTIMIZE iceberg.`p` MANIFESTS as text — manifest
    compaction, metadata-only."""
    from automation_of_building_a_transactional_data_lake_spark.formats.interop import (
        read_iceberg,
        write_iceberg,
    )

    lake = LakeSQL(Catalog(spark, str(tmp_path / "wh")))
    ip = str(tmp_path / "i")
    write_iceberg(spark.createDataFrame([(0,)], "id long"), ip)
    for i in range(1, 4):
        write_iceberg(
            spark.createDataFrame([(i,)], "id long"), ip, mode="append"
        )
    files0 = set(read_iceberg(spark, ip).inputFiles())
    r = lake.sql(f"OPTIMIZE iceberg.`{ip}` MANIFESTS")
    assert r["action"] == "rewrite_manifests" and r["compacted"]
    assert r["merged"] == 4 and r["created"] == 1
    assert set(read_iceberg(spark, ip).inputFiles()) == files0
    assert {x.id for x in read_iceberg(spark, ip).collect()} == {0, 1, 2, 3}
    assert lake.sql(f"OPTIMIZE iceberg.`{ip}` MANIFESTS")["compacted"] is False


# -- r15: constraint + generated-column enforcement, SQL surface e2e --------

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st


def _gen_delta_with_generated(spark, k, root):
    """A foreign Delta table under ``root`` whose 'y' is generated as
    x * k (writer version 4), built the way a native writer leaves it."""
    import json as _json
    import os as _os

    from automation_of_building_a_transactional_data_lake_spark.formats.interop import write_delta

    p = _os.path.join(root, "t")
    write_delta(
        spark.createDataFrame([(0, 0)], "x long, y long"), p
    )
    log = _os.path.join(p, "_delta_log", f"{0:020d}.json")
    acts = [_json.loads(l) for l in open(log) if l.strip()]
    for a in acts:
        if "metaData" in a:
            sch = _json.loads(a["metaData"]["schemaString"])
            for f in sch["fields"]:
                if f["name"] == "y":
                    f["metadata"]["delta.generationExpression"] = f"x * {k}"
            a["metaData"]["schemaString"] = _json.dumps(sch)
        if "protocol" in a:
            a["protocol"]["minWriterVersion"] = 4
    with open(log, "w") as f:
        f.write("\n".join(_json.dumps(a) for a in acts) + "\n")
    return p


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[
        HealthCheck.function_scoped_fixture,
        HealthCheck.too_slow,
    ],
)
@given(
    k=st.integers(1, 5),
    xs0=st.lists(st.integers(1, 50), min_size=1, max_size=4, unique=True),
    t=st.integers(10, 60),
    xs1=st.lists(st.integers(51, 120), min_size=1, max_size=3, unique=True),
    d=st.integers(-10, 10),
)
def test_sql_constraint_generated_dml_property(spark, tmp_path, k, xs0, t, xs1, d):
    """r15 (verdict #7): the ALTER TABLE ADD CONSTRAINT → violating
    DML refuses → conforming DML passes sequence, as a property over
    generated expressions. The model: y is generated as x * k; a CHECK
    x <= t gates every path. ADD CONSTRAINT refuses iff existing rows
    violate; INSERT INTO the foreign path (column list omitting the
    generated column) refuses iff any new x > t and computes y = x*k
    otherwise; predicate UPDATE SET x refuses iff a post-image x > t
    and RECOMPUTES y otherwise. After every refusal the table is
    byte-identical to before (nothing staged, nothing committed); the
    final state always equals the Python fold of the accepted
    statements."""
    import pytest as _pytest

    from automation_of_building_a_transactional_data_lake_spark.catalog import Catalog
    from automation_of_building_a_transactional_data_lake_spark.formats.interop import read_delta
    from automation_of_building_a_transactional_data_lake_spark.sql import LakeSQL

    # tmp_path is shared by every generated example: each one takes
    # fresh directories under it.
    import tempfile

    lake = LakeSQL(Catalog(spark, tempfile.mkdtemp(prefix="wh_", dir=tmp_path)))
    p = _gen_delta_with_generated(
        spark, k, tempfile.mkdtemp(prefix="tdl_sqlprop_", dir=tmp_path)
    )
    # Seed rows (x=0 from creation is row zero; append the xs0 batch
    # through the surface, generated column computed).
    vals = ", ".join(f"({x})" for x in xs0)
    lake.sql(f"INSERT INTO delta.`{p}` (x) VALUES {vals}")
    model = {0: 0} | {x: x * k for x in xs0}
    assert {(r.x, r.y) for r in read_delta(spark, p).collect()} == set(
        model.items()
    )

    # ADD CONSTRAINT: refuses iff existing rows violate; after a
    # refusal a permissive constraint still lands.
    stmt = f"ALTER TABLE delta.`{p}` ADD CONSTRAINT xmax CHECK (x <= {t})"
    if max(model) > t:
        with _pytest.raises(ValueError, match="existing row"):
            lake.sql(stmt)
        t_eff = max(model) + 10
        lake.sql(
            f"ALTER TABLE delta.`{p}` ADD CONSTRAINT xmax CHECK (x <= {t_eff})"
        )
    else:
        lake.sql(stmt)
        t_eff = t

    # INSERT: refuses iff any new x violates; nothing commits then.
    vals1 = ", ".join(f"({x})" for x in xs1)
    ins = f"INSERT INTO delta.`{p}` (x) VALUES {vals1}"
    if max(xs1) > t_eff:
        with _pytest.raises(ValueError, match="xmax"):
            lake.sql(ins)
    else:
        lake.sql(ins)
        model |= {x: x * k for x in xs1}
    assert {(r.x, r.y) for r in read_delta(spark, p).collect()} == set(
        model.items()
    )

    # An INSERT carrying a value that CONTRADICTS the generated
    # expression refuses regardless of the constraint.
    bad_y = 1 * k + 1
    with _pytest.raises(ValueError, match="generated column"):
        lake.sql(f"INSERT INTO delta.`{p}` (x, y) VALUES (1, {bad_y})")

    # UPDATE SET x: refuses iff a post-image violates; recomputes the
    # generated column otherwise (nothing set it explicitly).
    lo = min(model)
    post = {x: (x + d if x >= lo else x) for x in model}
    upd = f"UPDATE delta.`{p}` SET x = x + {d} WHERE x >= {lo}"
    if any(v > t_eff for v in post.values()) and d != 0:
        with _pytest.raises(ValueError, match="xmax"):
            lake.sql(upd)
    elif d != 0:
        lake.sql(upd)
        model = {v: v * k for v in post.values()}
    assert {(r.x, r.y) for r in read_delta(spark, p).collect()} == set(
        model.items()
    )


def test_sql_between_inside_or_groups(spark, tmp_path):
    """r15 (closing the X149 note's leftover): BETWEEN inside an OR
    group distributes to exact CNF — A OR (B AND C) ≡ (A OR B) AND
    (A OR C) in Kleene logic — so strict translation succeeds and a
    predicate DELETE through the surgical path leaves exactly the
    anti-filter's rows; an over-wide expansion still abandons."""
    from automation_of_building_a_transactional_data_lake_spark.catalog import Catalog
    from automation_of_building_a_transactional_data_lake_spark.formats.interop import (
        read_delta,
        write_delta,
    )
    from automation_of_building_a_transactional_data_lake_spark.sql import (
        LakeSQL,
        _mask_strings,
        _sql_parse_where_clause,
    )

    w = "n BETWEEN 3 AND 6 OR cat = 'zz'"
    preds = _sql_parse_where_clause(w, _mask_strings(w), None, strict=True)
    assert preds == [
        [("n", ">=", 3), ("cat", "=", "zz")],
        [("n", "<=", 6), ("cat", "=", "zz")],
    ]
    # Two BETWEENs OR-ed: 2x2 cross product.
    w2 = "n BETWEEN 3 AND 6 OR n BETWEEN 20 AND 30"
    preds2 = _sql_parse_where_clause(w2, _mask_strings(w2), None, strict=True)
    assert len(preds2) == 4 and all(len(g) == 2 for g in preds2)

    p = str(tmp_path / "d")
    write_delta(
        spark.createDataFrame(
            [(i, "zz" if i == 9 else f"c{i}") for i in range(12)],
            "n long, cat string",
        ),
        p,
    )
    lake = LakeSQL(Catalog(spark, str(tmp_path / "wh")))
    r = lake.sql(
        f"DELETE FROM delta.`{p}` WHERE n BETWEEN 3 AND 6 OR cat = 'zz'"
    )
    assert r.source_rows == 5  # n in 3..6 plus the zz row
    assert {x.n for x in read_delta(spark, p).collect()} == {
        0, 1, 2, 7, 8, 10, 11
    }


def test_alter_iceberg_format_version_upgrade(user_lake, spark, tmp_path):
    """r17: the native upgrade statement — ALTER TABLE iceberg.`/p`
    SET TBLPROPERTIES ('format-version'='3') runs the v2->v3
    metadata-only upgrade; SELECT through the SQL path then reads the
    DV-carrying v3 table; invalid targets and non-Iceberg paths
    refuse."""
    from automation_of_building_a_transactional_data_lake_spark.formats.interop import (
        write_iceberg,
        write_iceberg_deletion_vectors,
    )

    cat, spec, lake = user_lake
    ip = str(tmp_path / "ice_v3")
    write_iceberg(
        spark.createDataFrame(
            [(i, f"v{i}") for i in range(6)], "id long, val string"
        ).coalesce(1),
        ip,
    )
    out = lake.sql(
        f"ALTER TABLE iceberg.`{ip}` SET TBLPROPERTIES "
        "('format-version'='3')"
    )
    assert out["action"] == "upgrade_format_version"
    assert out["format_version"] == 3
    write_iceberg_deletion_vectors(
        spark.createDataFrame([(2,)], "id long"), ip, keys="id"
    )
    assert lake.sql(
        f"SELECT count(*) AS n FROM iceberg.`{ip}`"
    ).first().n == 5
    with pytest.raises(ValueError, match="not a valid upgrade target"):
        lake.sql(
            f"ALTER TABLE iceberg.`{ip}` SET TBLPROPERTIES "
            "('format-version'='4')"
        )
    with pytest.raises(NotImplementedError, match="Iceberg's contract"):
        lake.sql(
            f"ALTER TABLE delta.`{ip}` SET TBLPROPERTIES "
            "('format-version'='3')"
        )

"""SparkSession construction for the engine.

The reference builds its session per table format with
format-specific extensions (reference ``src/hudi/hudi-initial-load.py:30-48``,
``src/iceberg/iceberg-initial-load.py:24-38``, ``src/delta/delta-initial-load.py:26-35``).
This engine centralizes that into one ``SessionFactory``: a single place
that owns scale-sensitive configuration (shuffle partitions, AQE, Arrow)
so tests, bench, and production jobs run on identically configured
sessions.

Scale notes (100 TB / 1000-executor design):
- AQE is always on: runtime coalescing of shuffle partitions and skew-join
  splitting replace hand-tuned partition counts when data volume moves
  100x between environments.
- ``spark.sql.shuffle.partitions`` is only the pre-AQE upper bound; we
  default it to ~2-3x the available parallelism locally and expect a
  cluster deployment to raise it (AQE coalesces down, never up).
- Session timezone is pinned to UTC so timestamp semantics are identical
  across driver, executors, and external oracles.
"""

from __future__ import annotations

import os
from datetime import timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType, TimestampType

DEFAULT_APP_NAME = "transactional_data_lake_spark"


def _default_parallelism() -> int:
    env = os.environ.get("SPARK_GRAFT_CPUS")
    if env:
        try:
            return max(1, int(env))
        except ValueError:
            pass
    return os.cpu_count() or 8


class SessionFactory:
    """Builds configured SparkSessions.

    Parameters
    ----------
    master:
        Spark master; default ``local[N]`` with N from ``SPARK_GRAFT_CPUS``
        or the machine's cpu count.
    shuffle_partitions:
        Pre-AQE shuffle partition count. Defaults to the local
        parallelism (AQE coalesces at runtime).
    extra_conf:
        Any additional ``spark.*`` settings, applied last (wins).
    """

    def __init__(
        self,
        master: str | None = None,
        app_name: str = DEFAULT_APP_NAME,
        shuffle_partitions: int | None = None,
        driver_memory: str | None = None,
        extra_conf: dict[str, str] | None = None,
    ) -> None:
        cpus = _default_parallelism()
        self.master = master or f"local[{cpus}]"
        self.app_name = app_name
        self.shuffle_partitions = shuffle_partitions or max(cpus, 8)
        self.driver_memory = driver_memory
        self.extra_conf = dict(extra_conf or {})

    def conf(self) -> dict[str, str]:
        c = {
            "spark.sql.shuffle.partitions": str(self.shuffle_partitions),
            "spark.sql.adaptive.enabled": "true",
            "spark.sql.adaptive.coalescePartitions.enabled": "true",
            "spark.sql.adaptive.skewJoin.enabled": "true",
            "spark.sql.session.timeZone": "UTC",
            # The driver testdata's events table stores ns-precision
            # timestamps, which Spark 4 otherwise refuses to read.
            "spark.sql.legacy.parquet.nanosAsLong": "true",
            "spark.sql.execution.arrow.pyspark.enabled": "true",
            # Wide aggregations (the 60-bit-vote SimHash, pivots) blow
            # past the default 100-field whole-stage-codegen cap and
            # silently fall back to interpreted evaluation — raise it.
            "spark.sql.codegen.maxFields": "300",
            "spark.sql.parquet.compression.codec": "snappy",
            # CDC/merge sources are re-read several times per batch; cap
            # in-memory relation size estimation surprises.
            "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
            "spark.ui.enabled": "false",
            "spark.driver.extraJavaOptions": "-Djava.io.tmpdir=/tmp",
            # Catalog-managed (bucketed) tables land here, not in cwd.
            # Static conf: set at create; existing sessions keep theirs.
            "spark.sql.warehouse.dir": os.environ.get(
                "SPARK_GRAFT_WAREHOUSE", "/tmp/tdl_spark_warehouse"
            ),
        }
        if self.driver_memory:
            c["spark.driver.memory"] = self.driver_memory
        c.update(self.extra_conf)
        return c

    def create(self) -> SparkSession:
        builder = SparkSession.builder.master(self.master).appName(self.app_name)
        for k, v in self.conf().items():
            builder = builder.config(k, v)
        spark = builder.getOrCreate()
        spark.sparkContext.setLogLevel("WARN")
        return spark


def get_session(**kwargs) -> SparkSession:
    """Convenience: build-or-get a session with engine defaults."""
    return SessionFactory(**kwargs).create()


def tune_for_oracle(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable conf needed for bit-exact oracle comparison
    on a session the engine did not create (e.g. the verify driver's).
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return spark


def local_frame(spark: SparkSession, rows, schema: StructType | str) -> DataFrame:
    """A driver-built side table (file maps, deletion-vector pairs,
    log-slice descriptors, metadata listings) as a JVM ``LocalRelation``.

    ``spark.createDataFrame(<list>, ddl)`` pickles the rows into an RDD,
    so every action over the frame runs ``defaultParallelism``
    Python-worker tasks just to read it back (~0.3-0.4 s for a 4-row
    frame on 4 cores). Built from a ``pyarrow.Table`` the rows ship to
    the JVM once and the frame plans as a ``LocalRelation``: no tasks
    to scan it, exact size statistics for the broadcast planner, and
    an empty frame that the optimizer prunes. ``schema`` is a DDL
    string or a ``StructType``; naive timestamps mean local time, as
    in ``createDataFrame``.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    struct = schema if isinstance(schema, StructType) else StructType.fromDDL(schema)
    arrow = to_arrow_schema(struct)
    rows = list(rows)
    cols = [list(c) for c in zip(*rows)] if rows else [[] for _ in struct.fields]
    for i, f in enumerate(struct.fields):
        if isinstance(f.dataType, TimestampType):
            cols[i] = [
                v.astimezone(timezone.utc) if v is not None and v.tzinfo is None else v
                for v in cols[i]
            ]
    table = pa.Table.from_arrays(
        [pa.array(c, type=t) for c, t in zip(cols, arrow.types)], schema=arrow
    )
    return spark.createDataFrame(table, struct)

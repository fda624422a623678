"""The tables a workload writes, behind one small interface.

``ManagedTarget`` drives the paper's pipeline itself (``initial_load``,
``cdc_load``, ``maintain_all``) against a managed CoW or MoR table.
``ForeignTarget`` is the reference's own job on a real Delta (deletion
vectors on), Iceberg v2 or Hudi merge-on-read table: the drop is read and
deduped with ``operators.cdc`` and merged with ``merge_delta`` /
``merge_iceberg`` / ``write_hudi``.
"""

from __future__ import annotations

import os
from datetime import datetime, timezone

from pyspark.sql import functions as F

from automation_of_building_a_transactional_data_lake_spark import pipeline
from automation_of_building_a_transactional_data_lake_spark.catalog import Catalog
from automation_of_building_a_transactional_data_lake_spark.formats import interop
from automation_of_building_a_transactional_data_lake_spark.operators import cdc
from automation_of_building_a_transactional_data_lake_spark.spec import (
    AUDIT_COL,
    OP_COL,
    TS_COL,
    TableSpec,
)
from automation_of_building_a_transactional_data_lake_spark.sql import LakeSQL

from drops import KEY

CLOCK = datetime(2023, 9, 1, tzinfo=timezone.utc)
DB = "bench"

# The query pass: a full scan, and a grouped aggregate over the newest
# orders. ``{t}`` is the table reference, ``{hot}`` the first key of the
# newest quarter of the base key space.
QUERIES = [
    "SELECT count(*) AS n, round(sum(o_totalprice), 2) AS s FROM {t}",
    "SELECT o_orderstatus, count(*) AS n, round(avg(o_totalprice), 2) AS a "
    "FROM {t} WHERE o_orderkey >= {hot} GROUP BY o_orderstatus",
]


def _link(src: str, dst_dir: str) -> str:
    os.makedirs(dst_dir, exist_ok=True)
    dst = os.path.join(dst_dir, os.path.basename(src))
    os.link(src, dst)
    return dst


class ManagedTarget:
    """One managed table (``fmt`` = ``cow`` | ``mor``) fed by the pipeline."""

    def __init__(self, spark, fmt: str, lake: str) -> None:
        self.name = fmt
        self.spark = spark
        self.spec = TableSpec(f"orders_{fmt}", primary_key=KEY, database=DB)
        self.raw = os.path.join(lake, "raw")
        self.catalog = Catalog(spark, os.path.join(lake, "wh"), table_format=fmt)
        self.sql = LakeSQL(self.catalog)
        self.refs = {fmt: f"lake.{DB}.{self.spec.table_name}"}
        self.dirs = [os.path.join(lake, "wh", DB, self.spec.table_name)]

    def _zone(self, zone: str) -> str:
        return os.path.join(self.raw, zone, DB, self.spec.table_name)

    def load(self, base_file: str) -> None:
        _link(base_file, self._zone(pipeline.INITIAL_ZONE))
        pipeline.initial_load(self.spark, self.catalog, self.spec, self.raw)

    def land(self, drop_file: str) -> None:
        _link(drop_file, self._zone(pipeline.CDC_ZONE))

    def apply(self) -> int:
        report = pipeline.cdc_load(self.spark, self.catalog, self.spec, self.raw, clock=CLOCK)
        if report.action != "merged":
            raise RuntimeError(f"{self.spec.qualified_name}: cdc_load {report.action}")
        return report.telemetry.get("total", 0)

    def maintain(self) -> None:
        pipeline.maintain_all(self.catalog, [self.spec])

    def read(self, name: str):
        return self.catalog.read_table(self.spec)

    def deltas_live(self) -> int:
        """Deltas a MoR read reconciles (0 on CoW)."""
        tbl = self.catalog.table(self.spec)
        snap = tbl.current_snapshot() if hasattr(tbl, "current_snapshot") else None
        return len(snap["deltas"]) if snap else 0

    def side_files(self) -> dict[str, int]:
        return {}


class ForeignTarget:
    """One real foreign table (``fmt`` = ``delta`` | ``iceberg`` | ``hudi``)
    fed by the reference's own job shape: read the drop, dedupe it with
    ``operators.cdc``, then the format's keyed upsert and delete."""

    def __init__(self, spark, fmt: str, lake: str) -> None:
        self.name = fmt
        self.spark = spark
        self.path = os.path.join(lake, fmt)
        self.dirs = [self.path]
        self.sql = LakeSQL(Catalog(spark, os.path.join(lake, "wh")))
        self.refs = {fmt: f"{fmt}.`{self.path}`"}
        self.cols: list[str] = []
        self.drop: str | None = None

    def load(self, base_file: str) -> None:
        init = self.spark.read.parquet(base_file).withColumn(
            AUDIT_COL, F.lit(None).cast("timestamp")
        )
        self.cols = init.columns
        if self.name == "delta":
            interop.write_delta(
                init, self.path, configuration={"delta.enableDeletionVectors": "true"}
            )
        elif self.name == "iceberg":
            interop.write_iceberg(init, self.path)
        else:
            interop.write_hudi(init, self.path, record_key=KEY, table_type="MERGE_ON_READ")

    def land(self, drop_file: str) -> None:
        self.drop = drop_file

    def apply(self) -> int:
        """Merge the landed drop; returns its row count after dedup."""
        batch = self.spark.read.parquet(self.drop)
        deduped = cdc.dedupe_latest(
            cdc.cast_envelope_timestamp(batch), key=KEY, ts_col=TS_COL, op_col=OP_COL
        ).cache()
        try:
            telemetry = cdc.op_telemetry(deduped)
            ups, dels = cdc.split_ops(deduped)
            ups = cdc.with_audit_column(ups.drop(OP_COL, TS_COL), CLOCK).select(*self.cols)
            has_dels = telemetry.get("D", 0) > 0
            if self.name == "delta":
                interop.merge_delta(ups, self.path, key=KEY, mode="upsert")
                if has_dels:
                    interop.merge_delta(dels.select(KEY), self.path, key=KEY, mode="delete")
            elif self.name == "iceberg":
                interop.merge_iceberg(ups, self.path, key=KEY, mode="upsert")
                if has_dels:
                    interop.merge_iceberg(dels.select(KEY), self.path, key=KEY, mode="delete")
            else:
                interop.write_hudi(ups, self.path, record_key=KEY, mode="upsert")
                if has_dels:
                    dels = cdc.with_audit_column(dels.drop(OP_COL, TS_COL), CLOCK)
                    interop.write_hudi(
                        dels.select(*self.cols), self.path, record_key=KEY, mode="delete"
                    )
        finally:
            deduped.unpersist()
        return telemetry.get("total", 0)

    def maintain(self) -> None:
        if self.name == "delta":
            interop.compact_delta(self.spark, self.path)
            interop.vacuum_delta(self.path, retain_versions=2, grace_seconds=0)
        elif self.name == "iceberg":
            interop.compact_iceberg(self.spark, self.path)
            interop.expire_iceberg_snapshots(self.path, keep_last=2)
        else:
            # The jar-less Hudi cleaner refuses merge-on-read tables, so the
            # Hudi side of maintenance is compaction alone.
            interop.compact_hudi(self.spark, self.path)

    def read(self, name: str):
        reader = {
            "delta": interop.read_delta,
            "iceberg": interop.read_iceberg,
            "hudi": interop.read_hudi,
        }[self.name]
        return reader(self.spark, self.path)

    def deltas_live(self) -> int:
        return 0

    def side_files(self) -> dict[str, int]:
        """Merge-on-read debt on disk: DV, position-delete or log files."""
        key, pred = {
            "delta": ("delta.dv_files", lambda f: f.startswith("deletion_vector_")),
            "iceberg": ("iceberg.delete_files", lambda f: f.endswith("-deletes.parquet")),
            "hudi": ("hudi.log_files", lambda f: ".log." in f),
        }[self.name]
        return {key: sum(pred(f) for _d, _s, fs in os.walk(self.path) for f in fs)}

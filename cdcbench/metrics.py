"""Every metric the benchmark prints: unit, numerator and denominator.

``E2E`` is what ``--trace 0`` prints, ``PER_LAYER`` what ``--trace 1``
prints; both must list exactly the names in ``BENCHMARK.json`` (the
benchmark's tests check this). A *drop* is one raw CDC parquet file; an
*apply* is one target table consuming one drop. "Per batch" means per
drop, summed over the workload's targets.
"""

from __future__ import annotations

# name -> (unit, definition)
E2E: dict[str, tuple[str, str]] = {
    "setup_s": (
        "s",
        "wall time before the measured phase: session start, data generation, warm-up "
        "of a small throwaway lake, initial load of the measured lake",
    ),
    "cdc_rows_per_s": (
        "1/s",
        "raw drop rows (duplicates included) / summed wall time from landing each "
        "timed drop to the commit on the workload's last target",
    ),
    "cdc_batch_p50_s": (
        "s",
        "median over timed drops of the wall time from drop landing to the commit "
        "on the workload's last target",
    ),
    "query_s": (
        "s",
        "median over query passes of the wall time to plan and collect the 2-query "
        "set against every target table (the sum of the per-layer <format>.read_s)",
    ),
    "maintain_s": (
        "s",
        "median over cycles of the summed compaction + vacuum/expire/clean wall time "
        "of every target",
    ),
    "write_amp": (
        "ratio",
        "bytes of new or grown files under the target table dirs during timed applies "
        "/ (drop file bytes x number of targets that applied it)",
    ),
    "space_amp": (
        "ratio",
        "median over cycles, taken just before maintenance, of bytes on disk under the "
        "target table dirs (hard links counted once) / bytes of the files the current "
        "snapshot reads",
    ),
    "peak_rss_mb": (
        "MB",
        "peak resident set (VmHWM) of the Python process plus the Spark JVM, read after "
        "the measured phase",
    ),
}

# Self time: a span's wall time minus the wall time of traced spans it called.
_B = "median over timed drops of the summed self time of"
_Q = "median over query passes of the summed self time of"
_M = "median over maintenance rounds of the summed self time of"
# The engine's read methods only build a lazy plan; the scan and the MoR
# reconcile run in the collect, so a read is timed per table instead.
_R = (
    "median over query passes of the wall time to plan (LakeSQL.sql) and collect the "
    "2-query set against the"
)

PER_LAYER: dict[str, tuple[str, str]] = {
    "session.start_s": ("s", "SessionFactory.create wall time"),
    "session.warmup_s": (
        "s",
        "wall time of warming up a throwaway lake a tenth of the size, one target after "
        "another: load, warm-up drops, one query pass, one maintenance round",
    ),
    "ledger.new_files_s": ("s", f"{_B} FileLedger.new_files"),
    "ledger.commit_s": ("s", f"{_B} FileLedger.commit"),
    "cdc.dedup_s": ("s", f"{_B} op_telemetry, the first action over the deduped batch"),
    "cdc.rows_in": ("count", "median raw rows per drop"),
    "cdc.rows_out": ("count", "median rows per apply after latest-wins dedup"),
    "pipeline.cdc_load_self_s": (
        "s",
        f"{_B} pipeline.cdc_load minus its traced child spans",
    ),
    "cow.merge_upsert_s": ("s", f"{_B} ParquetCowTable.merge_upsert"),
    "cow.merge_delete_s": ("s", f"{_B} ParquetCowTable.merge_delete"),
    "cow.bytes_written": ("bytes", "median per drop of bytes new under the CoW table dir"),
    "cow.files_written": ("count", "median per drop of files new under the CoW table dir"),
    "cow.read_s": ("s", f"{_R} CoW table"),
    "cow.compact_s": ("s", f"{_M} ParquetCowTable.compact"),
    "cow.vacuum_s": ("s", f"{_M} ParquetCowTable.vacuum"),
    "mor.merge_upsert_s": ("s", f"{_B} ParquetMorTable.merge_upsert"),
    "mor.merge_delete_s": ("s", f"{_B} ParquetMorTable.merge_delete"),
    "mor.bytes_written": ("bytes", "median per drop of bytes new under the MoR table dir"),
    "mor.read_s": ("s", f"{_R} MoR table, delta reconcile included"),
    "mor.deltas_live": ("count", "median deltas the MoR read reconciles per query pass"),
    "mor.compact_s": ("s", f"{_M} ParquetMorTable.compact"),
    "mor.vacuum_s": ("s", f"{_M} ParquetMorTable.vacuum"),
    "delta.merge_s": ("s", f"{_B} interop.merge_delta"),
    "iceberg.merge_s": ("s", f"{_B} interop.merge_iceberg"),
    "hudi.write_s": ("s", f"{_B} interop.write_hudi"),
    "delta.metadata_bytes": ("bytes", "median per drop of bytes new under _delta_log"),
    "iceberg.metadata_bytes": ("bytes", "median per drop of bytes new under metadata/"),
    "hudi.metadata_bytes": ("bytes", "median per drop of bytes new under .hoodie/"),
    "delta.read_s": ("s", f"{_R} Delta table"),
    "iceberg.read_s": ("s", f"{_R} Iceberg table"),
    "hudi.read_s": ("s", f"{_R} Hudi table"),
    "delta.dv_files": ("count", "median deletion-vector files on disk per query pass"),
    "iceberg.delete_files": ("count", "median position-delete files on disk per query pass"),
    "hudi.log_files": ("count", "median log files on disk per query pass"),
    "delta.maintain_s": ("s", f"{_M} compact_delta + vacuum_delta"),
    "iceberg.maintain_s": ("s", f"{_M} compact_iceberg + expire_iceberg_snapshots"),
    "hudi.maintain_s": ("s", f"{_M} compact_hudi (the cleaner refuses MoR tables)"),
    "sql.plan_s": ("s", f"{_Q} LakeSQL.sql"),
    "sql.exec_s": ("s", f"{_Q} collecting the planned queries"),
    "spark.jobs": ("count", "median Spark jobs per drop"),
    "spark.stages": ("count", "median executed Spark stages per drop"),
    "spark.tasks": ("count", "median Spark tasks per drop"),
    "spark.failed_tasks": ("count", "failed Spark tasks over the measured phase"),
    "spark.query_jobs": ("count", "median Spark jobs per query pass"),
    "spark.maintain_jobs": ("count", "median Spark jobs per maintenance round"),
    "trace.cdc_batch_p50_s": (
        "s",
        "cdc_batch_p50_s with tracing on; minus cdc_batch_p50_s of an untraced run of the "
        "same seed, it is the run-to-run tracing overhead",
    ),
    "trace.overhead_s": (
        "s",
        "median per drop of the time the tracer itself spends on the timed path (job "
        "groups, span records, disk walks), outside the calls it wraps",
    ),
}

"""CDC-maintained ANN index over a managed table's embedding column.

The missing operator the round-5 review named: ``ann_ivf``/``ann_pq``
build per-call, so at 100 TB every CDC merge would force a full index
rebuild. This module makes the index a MANAGED ARTIFACT with the same
lifecycle as the tables themselves:

- **The index IS a copy-on-write table** ``<source>_ann_idx`` keyed by
  the source primary key, hive-partitioned by ``cluster_id`` — so a
  probe is physical partition pruning (the ``ann_ivf`` design) and a
  refresh is a transactional MERGE that rewrites only the partitions
  holding changed clusters.
- **Quantizer state is frozen at build time**: the IVF centroids (and
  PQ codebooks when ``pq_m`` is set) live in ``_ann_meta.json`` beside
  the index table, together with ``indexed_version`` — the source
  snapshot the index reflects. Refreshes reuse the frozen state, so
  codes stay comparable across refreshes; only an EXPLICIT ``build()``
  retrains (the drift trigger is the operator's caller, e.g. when
  ``refresh()`` telemetry reports a large changed fraction).
- **Refresh encodes ONLY changed rows**: the change feed
  (``formats.changes.snapshot_changes``) between ``indexed_version``
  and the source head yields insert/update_postimage rows — the only
  rows the Arrow-batched assign/encode kernels touch — and delete keys,
  which MERGE-delete from the index. If ``indexed_version`` has been
  vacuumed away the refresh falls back to one full re-encode with the
  SAME frozen quantizer (never a silent retrain).

Crash safety: ``_ann_meta.json`` is written via temp+rename AFTER the
index merges commit. A crash in between leaves ``indexed_version``
pointing one snapshot back, so the next refresh recomputes that change
window and re-merges — MERGE upsert/delete are idempotent per key, so
the replay converges to the same state.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager, suppress

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..catalog import Catalog
from ..formats.atomic import replace_file
from ..formats.changes import CHANGE_TYPE_COL, snapshot_changes
from ..formats.parquet_cow import ConcurrentWriteError
from ..spec import TableSpec
from .ann_ivf import assign_clusters_vectorized, train_centroids
from .ann_pq import encode_pq, train_pq
from .similarity import as_double_vec, cosine_similarity_col

_META_FILE = "_ann_meta.json"
_MAINT_LOCK = "_ann_maintenance.lock"


class ManagedAnnIndex:
    """IVF (optionally IVF+PQ) index for ``source_spec``'s ``vec_col``,
    maintained incrementally from the table's change feed.

    ``pq_m=None`` stores the full vector beside ``cluster_id`` (probe
    = pruned scan + exact cosine, no join). ``pq_m=m`` stores m-byte
    PQ codes instead (memory-light ADC scan; exact re-rank joins the
    source for the shortlist only).
    """

    def __init__(
        self,
        catalog: Catalog,
        source_spec: TableSpec,
        vec_col: str = "embedding",
        ivf_k: int = 16,
        pq_m: int | None = None,
        iters: int = 4,
        sample_limit: int = 4096,
        index_name: str | None = None,
    ) -> None:
        self.catalog = catalog
        self.source_spec = source_spec
        self.vec_col = vec_col
        self.ivf_k = ivf_k
        self.pq_m = pq_m
        self.iters = iters
        self.sample_limit = sample_limit
        self.index_spec = TableSpec(
            table_name=index_name or f"{source_spec.table_name}_ann_idx",
            primary_key=source_spec.primary_key,
            partition_key="cluster_id",
            database=source_spec.database,
        )
        # Introspection hook for tests/audits: the analyzed plan of the
        # last refresh's encode input — proves the kernels ran over the
        # CDF-derived changed subset (LeftAnti/LeftSemi joins), not a
        # full corpus scan.
        self.last_refresh_encode_plan: str | None = None

    # -- state ------------------------------------------------------------

    def _table(self):
        return self.catalog.table(self.index_spec)

    def _source(self):
        return self.catalog.table(self.source_spec)

    def _meta_path(self) -> str:
        return os.path.join(self._table().path, _META_FILE)

    def _read_meta(self) -> dict:
        with open(self._meta_path(), encoding="utf-8") as f:
            return json.load(f)

    def _write_meta(self, meta: dict) -> None:
        replace_file(self._meta_path(), json.dumps(meta))

    def exists(self) -> bool:
        return self._table().exists() and os.path.isfile(self._meta_path())

    # -- encode -----------------------------------------------------------

    def _encode(self, df: DataFrame, meta: dict) -> DataFrame:
        """(pk, vec) rows -> index rows under the FROZEN quantizer
        state. One Arrow-batched assign pass (+ one PQ encode pass when
        configured); deterministic given the metadata."""
        pk = self.source_spec.primary_key
        d = as_double_vec(df.select(pk, self.vec_col), self.vec_col)
        out = assign_clusters_vectorized(d, meta["centroids"], self.vec_col)
        if meta.get("codebooks") is not None:
            out = encode_pq(out, meta["codebooks"], self.vec_col)
            return out.select(pk, "cluster_id", "pq_code")
        return out.select(pk, "cluster_id", self.vec_col)

    # -- lifecycle --------------------------------------------------------

    @contextmanager
    def _maintenance_lock(self, wait_s: float = 30.0, stale_s: float = 3600.0):
        """Serialize build/refresh per index. The index table's merges
        each commit under the table's own commit lock, but the
        merge+meta SEQUENCE in refresh is not atomic — two concurrent
        refreshes could interleave so ``indexed_version`` claims a head
        whose change window was applied under the other writer's meta.
        This is a SEPARATE lock file (reusing the table's commit lock
        would deadlock: the merges inside refresh acquire it).
        Locks older than ``stale_s`` are crash debris and broken, same
        reasoning as the table vacuum's stale-lock recovery."""
        os.makedirs(self._table().path, exist_ok=True)
        lock = os.path.join(self._table().path, _MAINT_LOCK)
        deadline = time.monotonic() + wait_s
        while True:
            try:
                fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                break
            except FileExistsError:
                try:
                    age = time.time() - os.path.getmtime(lock)
                except OSError:
                    continue  # released between open and stat; retry now
                if age >= stale_s:
                    with suppress(OSError):
                        os.unlink(lock)
                    continue
                if time.monotonic() >= deadline:
                    raise ConcurrentWriteError(
                        f"{self.index_spec.qualified_name}: another "
                        "build/refresh is in flight; timed out waiting "
                        "for the maintenance lock"
                    ) from None
                time.sleep(0.05)
        try:
            yield
        finally:
            os.close(fd)
            with suppress(FileNotFoundError):
                os.unlink(lock)

    def build(self) -> dict:
        """Full (re)train + full encode — creation AND the explicit
        drift trigger. Everything downstream of this call (refreshes,
        probes) reuses the quantizer trained here. Serialized per index
        via the maintenance lock."""
        with self._maintenance_lock():
            return self._build_locked()

    def _build_locked(self) -> dict:
        src = self._source()
        head = src.current_version().version
        df = src.read()
        centroids = train_centroids(
            df, self.ivf_k, self.source_spec.primary_key, self.vec_col,
            self.iters, self.sample_limit,
        )
        codebooks = (
            train_pq(
                df, self.pq_m, self.source_spec.primary_key, self.vec_col,
                self.iters, self.sample_limit,
            )
            if self.pq_m
            else None
        )
        meta = {
            "indexed_version": head,
            "centroids": centroids,
            "codebooks": codebooks,
            "vec_col": self.vec_col,
            "ivf_k": self.ivf_k,
            "pq_m": self.pq_m,
        }
        encoded = self._encode(df, meta)
        tbl = self._table()
        if tbl.exists():
            tbl.overwrite(encoded)
        else:
            tbl.create(encoded)
        self._write_meta(meta)
        return {"action": "built", "indexed_version": head}

    def refresh(self) -> dict:
        """Catch the index up to the source head by encoding ONLY the
        rows the change feed reports — the post-merge maintenance step
        ``pipeline.maintain_all`` schedules. Returns telemetry:
        ``encoded``/``deleted`` row counts, plus ``changed_fraction``
        (changed keys / index size) the caller can use as a drift
        trigger for a full ``build()``. Serialized per index via the
        maintenance lock, so concurrent refreshes can never interleave
        the merge+meta sequence."""
        with self._maintenance_lock():
            if not self.exists():
                return self._build_locked()
            return self._refresh_locked()

    def _refresh_locked(self) -> dict:
        meta = self._read_meta()
        src = self._source()
        head = src.current_version().version
        if head == meta["indexed_version"]:
            return {"action": "noop", "indexed_version": head}
        tbl = self._table()
        try:
            cdf = snapshot_changes(src, meta["indexed_version"], head)
        except FileNotFoundError:
            # indexed_version vacuumed: one full re-encode under the
            # SAME frozen quantizer (equivalent by determinism to
            # having refreshed incrementally all along — gated).
            encoded = self._encode(src.read(), meta)
            tbl.overwrite(encoded)
            meta["indexed_version"] = head
            self._write_meta(meta)
            return {"action": "reencoded_full", "indexed_version": head}

        pk = self.source_spec.primary_key
        # One slim projection of the change feed feeds both merge
        # halves; cached so the CDF's snapshot-diff joins run once.
        slim = cdf.select(pk, self.vec_col, CHANGE_TYPE_COL).cache()
        encoded = self._encode(
            slim.filter(
                F.col(CHANGE_TYPE_COL).isin("insert", "update_postimage")
            ).select(pk, self.vec_col),
            meta,
        ).cache()
        try:
            self.last_refresh_encode_plan = encoded._jdf.queryExecution().toString()
        except Exception:
            self.last_refresh_encode_plan = None
        try:
            deleted = slim.filter(F.col(CHANGE_TYPE_COL) == "delete").select(pk)
            n_up = encoded.count()
            if n_up:
                tbl.merge_upsert(encoded)
            n_del = deleted.count()
            if n_del:
                tbl.merge_delete(deleted)
        finally:
            encoded.unpersist()
            slim.unpersist()
        meta["indexed_version"] = head
        self._write_meta(meta)
        n_index = tbl.read().count()
        return {
            "action": "refreshed",
            "indexed_version": head,
            "encoded": n_up,
            "deleted": n_del,
            "changed_fraction": round((n_up + n_del) / max(n_index, 1), 6),
        }

    # -- search -----------------------------------------------------------

    def topk(
        self, query_vec: list[float], k: int = 10, nprobe: int = 4, rerank: int = 0
    ) -> DataFrame:
        """Top-k cosine neighbors through the maintained index.
        Vector-storing mode: partition-pruned scan of the probed
        clusters + exact cosine. PQ mode: ADC over the probed codes,
        then (``rerank>0``) exact re-rank joining the source for the
        shortlist only."""
        meta = self._read_meta()
        pk = self.source_spec.primary_key
        centroids = meta["centroids"]

        def sq(a, b):
            return sum((x - y) * (x - y) for x, y in zip(a, b))

        order = sorted(
            range(len(centroids)), key=lambda i: (sq(query_vec, centroids[i]), i)
        )
        probe = order[: max(1, min(nprobe, len(centroids)))]
        # Manifest-level prune: only the probed clusters' partition
        # files are planned (read_partitions), so the probe cost is
        # O(nprobe/ivf_k of the index) by construction — not an
        # optimizer outcome the declared-type cast could silently
        # defeat (and honestly visible in inputFiles()).
        cand = self._table().read_partitions(probe)

        if meta.get("codebooks") is None:
            qcol = F.array(*[F.lit(float(x)) for x in query_vec])
            return (
                cand.withColumn(
                    "cos_sim", cosine_similarity_col(F.col(self.vec_col), qcol)
                )
                .orderBy(F.col("cos_sim").desc(), pk)
                .limit(k)
                .select(pk, "cos_sim")
            )

        from .ann_pq import pq_topk

        if rerank > 0:
            # pq_topk's exact re-rank needs the full vectors: fetch
            # them for the probed candidates only (semi-joined scan).
            cand = cand.join(
                as_double_vec(
                    self._source().read().select(pk, self.vec_col), self.vec_col
                ),
                pk,
            )
        return pq_topk(
            cand, meta["codebooks"], query_vec, k=k, rerank=rerank,
            id_col=pk, vec_col=self.vec_col,
        )

"""CDC-maintained near-duplicate index over a managed documents table.

The 100-TB dedup shape the per-call operators cannot reach: at scale
the corpus is long-lived and new documents arrive in CDC batches, so
re-running ``minhash_near_dup_pairs`` over the whole corpus per batch
is O(corpus) every time. This module makes the MinHash-banded LSH
index a MANAGED ARTIFACT — the same design as
``operators.ann_index.ManagedAnnIndex``:

- **The index IS a copy-on-write table** ``<source>_dedup_idx``: one
  row per (document, band) keyed by ``entry_id = <doc_id>#<band>``,
  carrying the band's LSH ``bucket``, hive-partitioned by
  ``shard = pmod(bucket, n_shards)`` — so a QUERY prunes to the
  partitions its own buckets hash into, and a REFRESH is a
  transactional MERGE that rewrites only the partitions holding
  changed buckets.
- **Hash state is deterministic**: signatures depend only on
  (text, seed, num_perm), so refreshes never retrain anything; meta
  (``_dedup_meta.json``) records the LSH parameters and
  ``indexed_version`` — the source snapshot the index reflects.
- **Refresh hashes ONLY changed documents**: the change feed
  (``formats.changes.snapshot_changes``) between ``indexed_version``
  and head yields the documents to (re)hash; deletes derive their
  ``entry_id`` keys arithmetically (doc_id x every band — no index
  read needed). A vacuumed diff window falls back to one full rebuild,
  which is byte-equivalent by hash determinism.
- **Query = prune + band-join + exact verify**: incoming documents'
  buckets select index shards (partition pruning), the band-equality
  join yields candidates, and the exact shingle-Jaccard verify joins
  the SOURCE table for candidate texts only — the index never stores
  text. Banding at the threshold is effectively lossless (see
  ``minhash_near_dup_pairs``), so the result matches the brute-force
  answer — the same oracle gates both.

Crash safety mirrors the ANN index: ``_dedup_meta.json`` writes via
temp+rename AFTER the merges commit, and MERGE upsert/delete are
idempotent per key, so a replayed change window converges.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..catalog import Catalog
from ..formats.atomic import replace_file
from ..formats.changes import CHANGE_TYPE_COL, snapshot_changes
from ..spec import TableSpec
from .dedup import (
    band_buckets,
    jaccard_col,
    minhash_signature_udf,
    _with_shingle_tokens,
    shingles_from_tokens,
)

_META_FILE = "_dedup_meta.json"


class ManagedDedupIndex:
    """MinHash banded-LSH index for ``source_spec``'s ``text_col``,
    maintained incrementally from the table's change feed."""

    def __init__(
        self,
        catalog: Catalog,
        source_spec: TableSpec,
        text_col: str = "text",
        threshold: float = 0.8,
        shingle_n: int = 3,
        num_perm: int = 32,
        bands: int = 16,
        n_shards: int = 8,
        seed: int = 0x5EED,
        index_name: str | None = None,
    ) -> None:
        if num_perm % bands != 0:
            raise ValueError(f"num_perm={num_perm} must divide into bands={bands}")
        self.catalog = catalog
        self.source_spec = source_spec
        self.text_col = text_col
        self.threshold = threshold
        self.shingle_n = shingle_n
        self.num_perm = num_perm
        self.bands = bands
        self.n_shards = n_shards
        self.seed = seed
        self.index_spec = TableSpec(
            index_name or f"{source_spec.table_name}_dedup_idx",
            "entry_id",
            "shard",
            None,
            source_spec.database,
        )

    # -- plumbing (same shapes as ManagedAnnIndex) -------------------------

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

    # -- encode -------------------------------------------------------------

    def _banded(self, df: DataFrame, id_col: str) -> DataFrame:
        """(id, text) rows -> exploded (id, band, bucket) rows. One
        Arrow-batched signature pass; deterministic given the
        parameters, any partitioning."""
        rows_per_band = self.num_perm // self.bands
        sig = _with_shingle_tokens(df, self.text_col).select(
            F.col(id_col),
            minhash_signature_udf(self.num_perm, self.seed)(
                F.transform(
                    shingles_from_tokens(
                        F.col("__shingle_toks"), self.shingle_n
                    ),
                    lambda s: F.xxhash64(s),
                )
            ).alias("__sig"),
        )
        return (
            sig.select(
                id_col,
                F.explode(
                    band_buckets(F.col("__sig"), self.bands, rows_per_band)
                ).alias("__bb"),
            )
            .select(id_col, F.col("__bb.band").alias("band"), F.col("__bb.bucket").alias("bucket"))
        )

    def _index_rows(self, df: DataFrame) -> DataFrame:
        pk = self.source_spec.primary_key
        return self._banded(df.select(pk, self.text_col), pk).select(
            F.concat(F.col(pk).cast("string"), F.lit("#"), F.col("band").cast("string")).alias(
                "entry_id"
            ),
            F.col(pk).alias("doc_id"),
            "band",
            "bucket",
            F.pmod(F.col("bucket"), F.lit(self.n_shards)).cast("int").alias("shard"),
        )

    # -- lifecycle -----------------------------------------------------------

    def build(self) -> dict:
        """Full hash + full write — creation and the explicit rebuild
        path. Deterministic, so a rebuild is byte-equivalent to having
        refreshed incrementally all along."""
        src = self._source()
        head = src.current_version().version
        rows = self._index_rows(src.read())
        tbl = self._table()
        if tbl.exists():
            tbl.overwrite(rows)
        else:
            tbl.create(rows)
        self._write_meta(
            {
                "indexed_version": head,
                "threshold": self.threshold,
                "shingle_n": self.shingle_n,
                "num_perm": self.num_perm,
                "bands": self.bands,
                "n_shards": self.n_shards,
                "seed": self.seed,
            }
        )
        return {"action": "built", "indexed_version": head}

    def refresh(self) -> dict:
        """Catch the index up to the source head by hashing ONLY the
        documents the change feed reports. Delete keys derive their
        (doc x band) entry ids arithmetically — no index read."""
        if not self.exists():
            return self.build()
        meta = self._read_meta()
        src = self._source()
        head = src.current_version().version
        if head == meta["indexed_version"]:
            return {"action": "noop", "indexed_version": head}
        tbl = self._table()
        pk = self.source_spec.primary_key
        try:
            cdf = snapshot_changes(src, meta["indexed_version"], head)
        except FileNotFoundError:
            out = self.build()
            return {**out, "action": "rebuilt_full"}
        slim = cdf.select(pk, self.text_col, CHANGE_TYPE_COL).cache()
        try:
            ups = slim.filter(
                F.col(CHANGE_TYPE_COL).isin("insert", "update_postimage")
            ).select(pk, self.text_col)
            dels = slim.filter(F.col(CHANGE_TYPE_COL) == "delete").select(pk)
            n_up = ups.count()
            if n_up:
                tbl.merge_upsert(self._index_rows(ups))
            n_del = dels.count()
            if n_del:
                # entry ids are deterministic: doc x every band.
                keys = dels.crossJoin(
                    F.broadcast(
                        dels.sparkSession.range(self.bands).select(
                            F.col("id").alias("__band")
                        )
                    )
                ).select(
                    F.concat(
                        F.col(pk).cast("string"), F.lit("#"), F.col("__band").cast("string")
                    ).alias("entry_id")
                )
                tbl.merge_delete(keys)
        finally:
            slim.unpersist()
        meta["indexed_version"] = head
        self._write_meta(meta)
        n_index = tbl.read().count()
        return {
            "action": "refreshed",
            "indexed_version": head,
            "hashed": n_up,
            "deleted": n_del,
            "changed_fraction": round(
                (n_up + n_del) * self.bands / max(n_index, 1), 6
            ),
        }

    # -- query ----------------------------------------------------------------

    def near_duplicates(
        self, batch: DataFrame, id_col: str = "query_id"
    ) -> DataFrame:
        """Near-duplicate pairs between ``batch`` (id_col, text_col)
        and the indexed corpus: (query id, corpus doc_id, jaccard ≥
        threshold). The batch's buckets select index SHARDS first —
        the managed read prunes to those hive partitions — then the
        band-equality join yields candidates and the exact
        shingle-Jaccard verify joins the source for candidate texts
        only. A batch document that IS an indexed document (same id)
        is not its own duplicate."""
        meta = self._read_meta()
        if (
            meta["num_perm"] != self.num_perm
            or meta["bands"] != self.bands
            or meta["seed"] != self.seed
            or meta["shingle_n"] != self.shingle_n
        ):
            raise ValueError(
                "index was built with different LSH parameters "
                f"({meta}); construct ManagedDedupIndex with the same ones"
            )
        pk = self.source_spec.primary_key
        from .dedup import _materialize

        # The bucket frame feeds the shard collect AND the candidate
        # join — materialized once (localCheckpoint on local[*],
        # DISK_ONLY persist on a cluster; released via
        # dedup.release_similarity_cache, same policy as the
        # similarity joins).
        qb = _materialize(
            self._banded(batch.select(F.col(id_col), self.text_col), id_col)
            .withColumn(
                "shard", F.pmod(F.col("bucket"), F.lit(self.n_shards)).cast("int")
            ),
            None,
        )
        # Bounded collect: at most n_shards values — this is what lets
        # the managed read PRUNE to the shards the batch can touch.
        shards = [r["shard"] for r in qb.select("shard").distinct().collect()]
        idx = self._table().read().filter(F.col("shard").isin(shards))
        cand = (
            qb.join(idx, ["band", "bucket"])
            .filter(F.col(id_col).cast("string") != F.col("doc_id").cast("string"))
            .select(id_col, "doc_id")
            .distinct()
        )
        sh_q = _with_shingle_tokens(batch, self.text_col).select(
            F.col(id_col),
            shingles_from_tokens(F.col("__shingle_toks"), self.shingle_n).alias(
                "__sh_q"
            ),
        )
        sh_c = _with_shingle_tokens(self._source().read(), self.text_col).select(
            F.col(pk).alias("doc_id"),
            shingles_from_tokens(F.col("__shingle_toks"), self.shingle_n).alias(
                "__sh_c"
            ),
        )
        return (
            cand.join(sh_q, id_col)
            .join(sh_c, "doc_id")
            .withColumn(
                "jaccard", F.round(jaccard_col(F.col("__sh_q"), F.col("__sh_c")), 4)
            )
            .filter(F.col("jaccard") >= self.threshold)
            .select(id_col, "doc_id", "jaccard")
        )

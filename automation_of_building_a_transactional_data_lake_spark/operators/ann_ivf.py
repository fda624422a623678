"""IVF (inverted-file) approximate nearest neighbor over embedding
columns — the list-pruned scale path beside ``similarity.brute_force_topk``
(exact baseline) and ``similarity.lsh_near_pairs`` (all-pairs path).

Index = a coarse quantizer (k-means centroids) + a cluster-id column on
the vector table. Search probes only the ``nprobe`` lists whose
centroids are nearest to the query, scanning a ``nprobe/k`` fraction of
the data; ``nprobe == k`` degrades gracefully to exact brute force
(the property the correctness gate pins).

Design choices for Spark:

- **Centroids are driver-side metadata** (k x dim floats — a few KB),
  exactly like Spark ML's KMeans model. They ship to executors closed
  over an Arrow-batched UDF (or as literal arrays in the expression
  twin); no join, no shuffle.
- **Training is driver-side Lloyd's on a bounded sample** (faiss
  practice): one TakeOrdered sample-collect job whose size is
  independent of corpus scale, then numpy iterations. Deterministic
  and layout-independent — the sample is the smallest-``xxhash64(id)``
  vectors, whatever the partitioning.
- **Assignment is one Arrow-batched matmul+argmin per batch**
  (``assign_clusters_vectorized``) — the corpus-wide O(data) pass; an
  ``array_min``-of-structs expression twin (``assign_clusters``) keeps
  an engine-pure formulation for probe-scale frames.
- **At 100 TB** the assignment pass is a single map over the data; the
  cluster-id column is written back (or bucketed) once, and every query
  after that scans only its probed lists — partition pruning on
  ``cluster_id`` makes the scan fraction physical, not just logical
  (gated: ``test_ivf_probe_pruning_is_physical`` writes the index
  hive-partitioned by ``cluster_id`` and asserts the file-level prune).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .similarity import as_double_vec, cosine_similarity_col


def _sq_dist(vec: Column, centroid: list[float]) -> Column:
    c = F.array(*[F.lit(float(x)) for x in centroid])
    return F.aggregate(
        F.zip_with(vec, c, lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def assign_clusters(
    df: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
    out_col: str = "cluster_id",
) -> DataFrame:
    """Nearest-centroid assignment as one expression: argmin of
    (squared distance, index) structs. Engine-pure reference twin of
    ``assign_clusters_vectorized`` (higher-order functions evaluate
    interpreted — fine for probe-scale frames, not for the full-corpus
    assignment pass)."""
    d = as_double_vec(df, vec_col)
    pairs = F.array(
        *[
            F.struct(
                _sq_dist(F.col(vec_col), c).alias("dist"),
                F.lit(i).alias("idx"),
            )
            for i, c in enumerate(centroids)
        ]
    )
    return d.withColumn(out_col, F.array_min(pairs)["idx"])


def assign_clusters_vectorized(
    df: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
    out_col: str = "cluster_id",
) -> DataFrame:
    """Arrow-batched nearest-centroid assignment: per batch, one
    ``|x|^2 - 2 xC^T + |c|^2`` matmul and an argmin — the production
    path for the corpus-wide assignment that builds the index (the
    pass that is O(data) at 100 TB). Ties break to the lowest index,
    same as the expression twin (numpy argmin returns the first
    minimum)."""
    c = np.asarray(centroids, dtype=np.float64)
    c_sq = (c * c).sum(axis=1)

    @F.pandas_udf("int")
    def nearest(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype="int32")
        x = np.vstack(vecs.to_numpy())
        d2 = (x * x).sum(axis=1, keepdims=True) - 2.0 * (x @ c.T) + c_sq[None, :]
        return pd.Series(d2.argmin(axis=1).astype(np.int32))

    # The function is deterministic, but the marker stops the optimizer
    # DUPLICATING it: a downstream filter on the assignment (the batch
    # path's equi-join pushes isnotnull(cluster_id)) otherwise plans a
    # second ArrowEvalPython below the pushed filter, running the full
    # corpus matmul twice (guide §4.4; r18 — emb_ivf_batch_knn's plan
    # carried 2x ArrowEvalPython per side). Output values unchanged.
    nearest = nearest.asNondeterministic()

    d = as_double_vec(df, vec_col)
    return d.withColumn(out_col, nearest(F.col(vec_col)))


def train_centroids(
    df: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    iters: int = 4,
    sample_limit: int = 4096,
) -> list[list[float]]:
    """Deterministic Lloyd k-means for the coarse quantizer, trained
    DRIVER-SIDE on a bounded sample — the faiss practice: an IVF
    quantizer never trains on the corpus, it trains on a sample whose
    size is independent of data scale (``sample_limit`` x dim doubles,
    ~2 MB at the default). The sample is the ``sample_limit`` vectors
    with the smallest ``xxhash64(id)``: deterministic, **layout-
    independent** (same vectors whatever the partition count or row
    order — round-2 advisory replaced a layout-drifting
    ``monotonically_increasing_id`` filter), and planned as
    TakeOrderedAndProject (per-partition top-k + driver merge, no
    global sort). ONE Spark job total, regardless of ``iters`` — the
    previous formulation ran assign+groupBy jobs per iteration.
    Seeds = first k of the hash-ordered sample; empty clusters keep
    their previous centroid; numpy math is row-order-deterministic."""
    d = as_double_vec(df.select(id_col, vec_col), vec_col)
    rows = (
        d.orderBy(F.xxhash64(F.col(id_col)), F.col(id_col))
        .limit(sample_limit)
        .select(vec_col)
        .collect()
    )
    if not rows:
        raise ValueError("cannot train centroids on an empty table")
    x = np.asarray([r[0] for r in rows], dtype=np.float64)
    k = min(k, len(x))
    centroids = x[:k].copy()
    for _ in range(iters):
        # (n, k) squared distances via |x|^2 - 2 x.C^T + |c|^2.
        d2 = (
            (x * x).sum(axis=1, keepdims=True)
            - 2.0 * (x @ centroids.T)
            + (centroids * centroids).sum(axis=1)[None, :]
        )
        assign = d2.argmin(axis=1)
        for c in range(k):
            members = x[assign == c]
            if len(members):
                centroids[c] = members.mean(axis=0)
    return [[float(v) for v in row] for row in centroids]


# Analyzed-plan nodes that cannot change the scan's partitioning: a
# plan made only of these above a file relation arrives in exactly the
# scan's splits, so the split estimate below IS the frame's width.
# Anything else (Join, Aggregate, Repartition, Window, Generate, ...)
# may shuffle/coalesce, and the file list says nothing about the
# frame's actual partitioning (r18 advisory) — fall back to the exact
# RDD probe.
_NARROW_NODES = frozenset(
    {"Project", "Filter", "SubqueryAlias", "View", "LogicalRelation"}
)
# File formats Spark splits by byte range under any codec, so file
# sizes predict the scan's splits. A gzip JSON or CSV file is one split
# however large, and the size estimate would call it wide.
_SPLITTABLE_FORMATS = frozenset({"ParquetFileFormat", "OrcFileFormat"})


def _is_narrow_over_scan(df: DataFrame) -> bool:
    """True when the plan is only narrow nodes above splittable file
    scans (parquet/orc)."""
    stack = [df._jdf.queryExecution().analyzed()]
    while stack:
        node = stack.pop()
        name = node.getClass().getSimpleName()
        if name not in _NARROW_NODES:
            return False
        if name == "LogicalRelation":
            rel = node.relation()
            if (
                rel.getClass().getSimpleName() != "HadoopFsRelation"
                or rel.fileFormat().getClass().getSimpleName()
                not in _SPLITTABLE_FORMATS
            ):
                return False
        children = node.children()
        for i in range(children.size()):
            stack.append(children.apply(i))
    return True


def _spread(df: DataFrame) -> DataFrame:
    """Ensure the CPU-heavy distance expressions run cluster-wide: a
    table arriving in fewer file splits than cores would evaluate them
    serially inside the scan stage (same trap as the minhash shingle
    stage — measured 3x there). No-op when the input is already wide.

    Width is estimated with Spark's own split-packing math
    (``FilePartition.maxSplitBytes``): every file is charged
    ``openCostInBytes``, and padded bytes pack into bins of
    ``min(maxPartitionBytes, max(openCost, totalPadded/minPartitionNum))``
    (``spark.sql.files.minPartitionNum``, else ``defaultParallelism``)
    — so one huge file counts as many splits and many tiny files count
    as the few splits Spark will actually coalesce them into. The r17
    shortcut (``len(files) >= n_parts`` → already wide) got the tiny-
    file case wrong: 64 small files pack into far fewer splits than 64
    (r18 verdict #2). The estimate only applies when the plan is
    narrow-only above a local, splittable (parquet/orc) file scan
    (``_is_narrow_over_scan``) — joins/aggregates/repartitions change
    the partitioning, a non-splittable file is one split whatever its
    size, and remote filesystems would need per-file RPCs — everything
    else takes the exact (but physical-planning-cost) RDD probe, the
    pre-r17 behavior."""
    import os

    n_parts = df.sparkSession.sparkContext.defaultParallelism

    def _rdd_probe() -> DataFrame:
        wide = df.rdd.getNumPartitions() >= n_parts
        return df if wide else df.repartition(n_parts)

    files = df.inputFiles()
    if not files or not _is_narrow_over_scan(df):
        return _rdd_probe()
    total = 0
    for f in files:
        if "://" in f and not f.startswith("file:"):
            return _rdd_probe()
        try:
            total += os.path.getsize(f[5:] if f.startswith("file:") else f)
        except OSError:
            return _rdd_probe()
    jconf = df.sparkSession._jsparkSession.sessionState().conf()
    open_cost = int(jconf.filesOpenCostInBytes())
    padded = total + open_cost * len(files)
    min_parts = int(
        df.sparkSession.conf.get("spark.sql.files.minPartitionNum", None)
        or n_parts
    )
    bin_bytes = min(
        int(jconf.filesMaxPartitionBytes()),
        max(open_cost, padded // max(1, min_parts)),
    )
    est_splits = padded // max(1, bin_bytes)
    return df if est_splits >= n_parts else df.repartition(n_parts)


def build_ivf(
    df: DataFrame,
    k: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    iters: int = 4,
) -> tuple[DataFrame, list[list[float]]]:
    """Train the quantizer and return (table + cluster_id column,
    centroids). Write the returned frame partitioned by ``cluster_id``
    (or persist it) to make probing physical.

    Training is one sample-collect job (see ``train_centroids``), so
    no working-set cache is needed (round-2's persist — and its leak —
    are gone with the per-iteration Spark jobs they served). The
    returned assignment is a fresh lineage: one source scan at
    materialization, which a caller persisting or writing the index
    pays exactly once anyway."""
    d = _spread(as_double_vec(df, vec_col))
    centroids = train_centroids(d, k, id_col, vec_col, iters)
    return assign_clusters_vectorized(d, centroids, vec_col), centroids


def ivf_topk(
    indexed: DataFrame,
    centroids: list[list[float]],
    query_vec: list[float],
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-k cosine neighbors probing only the ``nprobe`` nearest
    lists. ``nprobe == len(centroids)`` is exhaustive (exactly equals
    brute force — the correctness gate). The centroid ranking runs
    driver-side in plain Python: k distances over metadata."""

    def sq(a: list[float], b: list[float]) -> float:
        return sum((x - y) * (x - y) for x, y in zip(a, b))

    order = sorted(range(len(centroids)), key=lambda i: (sq(query_vec, centroids[i]), i))
    probe = order[: max(1, min(nprobe, len(centroids)))]

    qcol = F.array(*[F.lit(float(x)) for x in query_vec])
    cand = indexed.filter(F.col("cluster_id").isin(probe))
    return (
        cand.withColumn("cos_sim", cosine_similarity_col(F.col(vec_col), qcol))
        .orderBy(F.col("cos_sim").desc(), F.col(id_col))
        .limit(k)
        .select(id_col, "cos_sim")
    )


def probe_clusters_vectorized(
    df: DataFrame,
    centroids: list[list[float]],
    nprobe: int,
    vec_col: str = "q_vec",
    out_col: str = "__probe",
) -> DataFrame:
    """Per-row ``nprobe`` nearest centroid ids as ``array<int>`` — the
    batch generalization of ``ivf_topk``'s driver-side centroid
    ranking, Arrow-batched for a query TABLE. Stable argsort keeps the
    tie order identical to the driver path (lowest index first)."""
    c = np.asarray(centroids, dtype=np.float64)
    c_sq = (c * c).sum(axis=1)
    n = max(1, min(nprobe, len(centroids)))

    @F.pandas_udf("array<int>")
    def nearest_n(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype=object)
        x = np.vstack(vecs.to_numpy())
        d2 = (x * x).sum(axis=1, keepdims=True) - 2.0 * (x @ c.T) + c_sq[None, :]
        order = np.argsort(d2, axis=1, kind="stable")[:, :n].astype(np.int32)
        return pd.Series(list(order))

    # Deterministic function, non-deterministic marker: the explode of
    # the probe array pushes a size(__probe)>0 filter below, which
    # otherwise duplicates the ArrowEvalPython (guide §4.4, as above).
    nearest_n = nearest_n.asNondeterministic()

    return as_double_vec(df, vec_col).withColumn(out_col, nearest_n(F.col(vec_col)))


def ivf_batch_topk(
    indexed: DataFrame,
    centroids: list[list[float]],
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    q_id_col: str = "q_id",
    q_vec_col: str = "q_vec",
) -> DataFrame:
    """Per-query top-k cosine neighbors for a whole QUERY TABLE through
    the IVF index — the scale path for dedup-against-seed-set and
    retrieval-eval jobs where ``emb_batch_knn``'s broadcast brute force
    would score |corpus| x |queries| pairs.

    Plan: each query row derives its ``nprobe`` nearest lists (one
    Arrow-batched argsort — no per-query driver work), explodes to
    (query, cluster_id), and equi-joins the index on ``cluster_id`` —
    so a corpus row is scored only against the queries that probe its
    list, a ``nprobe/k`` fraction of the pair space. Per-query top-k is
    one ranking window on the query id. ``nprobe == len(centroids)``
    is exhaustive and must equal the brute-force window plan (the
    correctness gate); real deployments pick nprobe << k and carry the
    recall-vs-cost tradeoff (gated by a recall floor in pytest).
    Returns (q_id, nn_id, cos_sim, rn<=k)."""
    from pyspark.sql.window import Window

    probed = probe_clusters_vectorized(queries, centroids, nprobe, q_vec_col).select(
        F.col(q_id_col),
        F.col(q_vec_col),
        F.explode(F.col("__probe")).alias("cluster_id"),
    )
    cand = indexed.join(probed, "cluster_id")
    w = Window.partitionBy(q_id_col).orderBy(F.col("__sim").desc(), F.col(id_col))
    return (
        cand.withColumn("__sim", cosine_similarity_col(F.col(vec_col), F.col(q_vec_col)))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select(
            q_id_col,
            F.col(id_col).alias("nn_id"),
            F.round(F.col("__sim"), 6).alias("cos_sim"),
            "rn",
        )
    )


def recall_at_k(found: list, exact: list) -> float:
    """Fraction of the exact top-k ids present in the approximate
    result — the standard ANN quality metric."""
    if not exact:
        return float("nan")
    return len(set(found) & set(exact)) / len(exact)

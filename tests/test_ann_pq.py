"""Product-quantization ANN gates: deterministic layout-independent
codes, byte-exact compression, an ADC recall floor against exact brute
force on the real embeddings, exact top-k under re-rank, the vectorized
Lloyd update, and the plan shape of the exact re-rank."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from automation_of_building_a_transactional_data_lake_spark.operators.ann_ivf import (
    recall_at_k,
)
from automation_of_building_a_transactional_data_lake_spark.operators.ann_pq import (
    _lloyd,
    _normalize,
    encode_pq,
    pq_topk,
    train_pq,
)
from automation_of_building_a_transactional_data_lake_spark.operators.similarity import (
    as_double_vec,
    cosine_similarity_col,
)

from .conftest import SF_SMOKE


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")


@pytest.fixture(scope="module")
def codebooks(spark, emb):
    return train_pq(emb, m=8)


def _formatted_plan(df) -> str:
    jvm = df.sparkSession._jvm
    return df._jdf.queryExecution().explainString(
        jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def _emb(spark):
    return spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )


def _exact_topk(emb, qvec, k=10):
    qcol = F.array(*[F.lit(float(v)) for v in qvec])
    return [
        r.vec_id
        for r in as_double_vec(emb, "embedding")
        .filter(F.col("vec_id") != 0)
        .withColumn("s", cosine_similarity_col(F.col("embedding"), qcol))
        .orderBy(F.col("s").desc(), F.col("vec_id"))
        .limit(k)
        .collect()
    ]


def test_pq_codes_are_m_bytes_and_layout_independent(spark, emb, codebooks):
    enc = encode_pq(emb, codebooks).select("vec_id", "pq_code")
    rows = {r.vec_id: bytes(r.pq_code) for r in enc.collect()}
    assert all(len(c) == 8 for c in rows.values())  # m=8 bytes vs 256+ raw
    # same codes whatever the partitioning
    reparted = encode_pq(emb.repartition(7), codebooks).select("vec_id", "pq_code")
    assert {r.vec_id: bytes(r.pq_code) for r in reparted.collect()} == rows


def test_pq_adc_recall_floor(spark, emb, codebooks):
    """Raw ADC (no re-rank, no full vectors read) must keep a usable
    recall@10 against exact brute force across several probe queries."""
    enc = encode_pq(emb, codebooks)
    queries = [r[0] for r in emb.filter(F.col("vec_id").isin(0, 1, 2)).select("embedding").collect()]
    recalls = []
    for qvec in queries:
        got = [
            r.vec_id
            for r in pq_topk(enc.filter(F.col("vec_id") != 0), codebooks, list(qvec), k=10).collect()
        ]
        recalls.append(recall_at_k(got, _exact_topk(emb, qvec)))
    assert sum(recalls) / len(recalls) >= 0.5, recalls


def test_pq_rerank_recovers_exact_topk(spark, emb, codebooks):
    """ADC shortlist + exact re-rank of 100 candidates must return the
    exact brute-force top-10 (the IVFPQ+refine contract) — and the
    re-ranked scores are the true cosines."""
    enc = encode_pq(emb, codebooks)
    qvec = [r[0] for r in emb.filter(F.col("vec_id") == 0).select("embedding").collect()][0]
    got = pq_topk(
        enc.filter(F.col("vec_id") != 0), codebooks, list(qvec), k=10, rerank=100
    ).collect()
    assert [r.vec_id for r in got] == _exact_topk(emb, qvec)


def test_pq_rejects_indivisible_dim(spark, emb):
    with pytest.raises(ValueError, match="not divisible"):
        train_pq(emb, m=7)


def test_lloyd_update_is_member_mean_and_deterministic():
    """The vectorized centroid update (bincount sums / counts) must
    agree with the definitional per-cluster member mean to float
    accumulation tolerance, keep empty-cluster centroids, and be
    bit-deterministic across calls."""
    rng = np.random.RandomState(7)
    x = _normalize(rng.randn(500, 8))
    got = _lloyd(x, 32, iters=1)
    # Recompute one definitional Lloyd step from the same seeds.
    seeds = x[:32].copy()
    d2 = (
        (x * x).sum(axis=1, keepdims=True)
        - 2.0 * (x @ seeds.T)
        + (seeds * seeds).sum(axis=1)[None, :]
    )
    assign = d2.argmin(axis=1)
    for c in range(32):
        members = x[assign == c]
        if len(members):
            assert np.allclose(got[c], members.mean(axis=0), atol=1e-12), c
        else:
            assert np.array_equal(got[c], seeds[c]), c
    assert np.array_equal(got, _lloyd(x, 32, iters=1))  # deterministic


def test_pq_topk_all_is_exact_and_plans_topk(spark):
    """rerank='all' (the exactness-gate setting) must (a) return the
    same rows as a rerank bound equal to the corpus size, (b) plan the
    exact re-rank as TakeOrderedAndProject — never the INT_MAX limit's
    single-partition global sort (rerank=(1<<31)-1 exceeded
    topKSortFallbackThreshold and planned Exchange SinglePartition +
    Sort + GlobalLimit over the whole corpus), and (c) keep the ADC
    stage in the plan (the gate proves the encode/ADC machinery;
    column pruning would otherwise reduce the gate to brute force)."""
    emb = _emb(spark)
    qvec = list(emb.filter(F.col("vec_id") == 0).select("embedding").first()[0])
    cand = emb.filter(F.col("vec_id") != 0)
    books = train_pq(cand, m=8)
    enc = encode_pq(cand, books)

    got_all = pq_topk(enc, books, qvec, k=10, rerank="all").collect()
    got_n = pq_topk(enc, books, qvec, k=10, rerank=cand.count()).collect()
    assert got_all == got_n

    plan = _formatted_plan(pq_topk(enc, books, qvec, k=10, rerank="all"))
    assert "TakeOrderedAndProject" in plan, plan
    assert "GlobalLimit" not in plan, plan
    assert "ArrowEvalPython" in plan, plan  # ADC stage not pruned

    with pytest.raises(ValueError, match="rerank"):
        pq_topk(enc, books, qvec, k=10, rerank="bogus")

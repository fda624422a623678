"""Round-18 optimization guards: pin the structural properties this
optimization round introduced (plan shape + numeric contracts, not
timings), so a later refactor can't silently regress them."""

import os
import re

import pytest
from pyspark.sql import functions as F


def _formatted_plan(df) -> str:
    jvm = df.sparkSession._jvm
    return df._jdf.queryExecution().explainString(
        jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def _emb(spark):
    return spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )


def test_pq_topk_all_is_exact_and_plans_topk(spark):
    """rerank='all' (the exactness-gate setting) must (a) return the
    same rows as a rerank bound equal to the corpus size, (b) plan the
    exact re-rank as TakeOrderedAndProject — never the INT_MAX limit's
    single-partition global sort (r18 advisory: rerank=(1<<31)-1
    exceeded topKSortFallbackThreshold and planned Exchange
    SinglePartition + Sort + GlobalLimit over the whole corpus), and
    (c) keep the ADC stage in the plan (the gate proves the
    encode/ADC machinery; column pruning would otherwise reduce the
    gate to brute force)."""
    from automation_of_building_a_transactional_data_lake_spark.operators.ann_pq import (
        encode_pq,
        pq_topk,
        train_pq,
    )

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


def test_spread_width_decision(spark, tmp_path):
    """_spread must judge width with Spark's split-packing math, not
    the raw file count (r18 verdict #2): a single tiny file estimates
    to one split and repartitions; the same file under a small
    maxPartitionBytes estimates to >= parallelism splits and is left
    alone (the one-huge-file case, scaled down)."""
    from automation_of_building_a_transactional_data_lake_spark.operators.ann_ivf import (
        _is_narrow_over_scan,
        _spread,
    )

    # Sized from the host's parallelism so both branches hold on any
    # core count: ~250 rows (~16 KB) per core keeps the one file far
    # below the 4 MB open cost (one split by default), and the
    # maxPartitionBytes below cuts it into >= 2x parallelism splits.
    par = spark.sparkContext.defaultParallelism
    tmp = str(tmp_path)
    spark.range(250 * max(8, par)).select(
        F.col("id").alias("vec_id"),
        F.array(*[F.rand(i) for i in range(8)]).alias("embedding"),
    ).coalesce(1).write.parquet(os.path.join(tmp, "one"))
    one = spark.read.parquet(os.path.join(tmp, "one"))

    assert "REPARTITION_BY_NUM" in _formatted_plan(_spread(one))

    # Same file, split into >= defaultParallelism scan partitions: the
    # estimate must say "already wide" and skip the repartition.
    size = sum(
        os.path.getsize(os.path.join(tmp, "one", f))
        for f in os.listdir(os.path.join(tmp, "one"))
        if f.endswith(".parquet")
    )
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(size // (2 * par)))
    spark.conf.set("spark.sql.files.openCostInBytes", "0")
    try:
        wide = spark.read.parquet(os.path.join(tmp, "one"))
        assert "REPARTITION_BY_NUM" not in _formatted_plan(_spread(wide))
        assert (
            wide.rdd.getNumPartitions()
            >= spark.sparkContext.defaultParallelism
        )  # the estimate matches Spark's actual split count

        # A gzip JSON file is one split whatever its size: the size
        # estimate does not apply to non-splittable scans.
        one.coalesce(1).write.option("compression", "gzip").json(
            os.path.join(tmp, "gz")
        )
        gz = spark.read.schema(one.schema).json(os.path.join(tmp, "gz"))
        assert gz.rdd.getNumPartitions() == 1
        assert "REPARTITION_BY_NUM" in _formatted_plan(_spread(gz))

        # spark.sql.files.minPartitionNum sets the bin size in place of
        # defaultParallelism: at 1, the whole file packs into one split.
        spark.conf.unset("spark.sql.files.maxPartitionBytes")
        spark.conf.set("spark.sql.files.minPartitionNum", "1")
        packed = spark.read.parquet(os.path.join(tmp, "one"))
        assert packed.rdd.getNumPartitions() == 1
        assert "REPARTITION_BY_NUM" in _formatted_plan(_spread(packed))
    finally:
        spark.conf.unset("spark.sql.files.maxPartitionBytes")
        spark.conf.unset("spark.sql.files.openCostInBytes")
        spark.conf.unset("spark.sql.files.minPartitionNum")

    # The file-based shortcut only applies to narrow-over-scan plans
    # (r18 advisory): a shuffle above the scan changes the frame's
    # partitioning, so those fall back to the exact RDD probe.
    narrow = one.filter("vec_id > 3").select("vec_id", "embedding")
    assert _is_narrow_over_scan(narrow)
    assert not _is_narrow_over_scan(one.groupBy("vec_id").count())
    assert not _is_narrow_over_scan(one.join(one.select("vec_id"), "vec_id"))


def test_ivf_batch_arrow_eval_once_per_side(spark):
    """The IVF batch path must evaluate each Arrow UDF exactly once:
    the equi-join's pushed isnotnull(cluster_id) filter and the
    explode's size(__probe)>0 filter used to duplicate the
    ArrowEvalPython below the pushed filter, running the full corpus
    matmul twice per side (guide §4.4; r17 after-plan carried 4 Arrow
    nodes). asNondeterministic pins single evaluation."""
    from automation_of_building_a_transactional_data_lake_spark.operators.ann_ivf import (
        build_ivf,
        ivf_batch_topk,
    )

    emb = _emb(spark)
    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    idx, cents = build_ivf(emb.filter(F.col("vec_id") >= 8), k=8, iters=2)
    plan = _formatted_plan(ivf_batch_topk(idx, cents, queries, k=3, nprobe=len(cents)))
    n_arrow = len(re.findall(r"\(\d+\) ArrowEvalPython", plan))
    assert n_arrow == 2, f"expected 2 Arrow nodes (assign + probe), got {n_arrow}"


def test_repetition_stats_replace_semantics(spark):
    """with_repetition_stats must REPLACE pre-existing stat columns
    (the public withColumn-style contract), not append duplicates
    (r18 advisory: the r17 select('*', ...) form made a chained call
    raise ambiguous-reference errors downstream)."""
    from automation_of_building_a_transactional_data_lake_spark.operators.textstats import (
        with_repetition_stats,
    )

    docs = spark.createDataFrame(
        [(1, "a a b"), (2, "x y z"), (3, "")], "doc_id long, text string"
    )
    once = with_repetition_stats(docs)
    twice = with_repetition_stats(once)
    assert len(twice.columns) == len(set(twice.columns))
    assert sorted(twice.columns) == sorted(once.columns)
    assert sorted(map(tuple, twice.collect())) == sorted(map(tuple, once.collect()))


def test_star_components_fixpoint_and_single_probe(spark):
    """The star fixpoint must stay exact after folding the two
    exceptAll probes into one symmetric-difference job (r18): the
    components on a chain + island graph are unchanged, and the probe
    is a single action per round."""
    from automation_of_building_a_transactional_data_lake_spark.operators.dedup import (
        connected_components,
    )

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "id_a long, id_b long"
    )
    rows = sorted(
        (r.doc_id, r.cluster_id)
        for r in connected_components(pairs, algorithm="star").collect()
    )
    assert rows == [(1, 1), (2, 1), (3, 1), (4, 1), (10, 10), (11, 10)]

    # The folded probe must launch strictly fewer jobs than the two
    # separate exceptAll probes it replaced (the incremental limit(1)
    # execution makes absolute counts Spark-internal; the RELATIVE
    # claim is the optimization: measured 4 vs 6 on Spark 4.1).
    tracker = spark.sparkContext.statusTracker()
    a = spark.range(5).select(F.col("id").alias("u"), (F.col("id") + 1).alias("v"))
    b = spark.range(5).select(F.col("id").alias("u"), (F.col("id") + 1).alias("v"))
    a, b = a.localCheckpoint(), b.localCheckpoint()
    before = len(tracker.getJobIdsForGroup(None))
    a.exceptAll(b).union(b.exceptAll(a)).limit(1).count()
    folded = len(tracker.getJobIdsForGroup(None)) - before
    before = len(tracker.getJobIdsForGroup(None))
    a.exceptAll(b).limit(1).count()
    b.exceptAll(a).limit(1).count()
    separate = len(tracker.getJobIdsForGroup(None)) - before
    assert folded < separate, (folded, separate)


def test_verify_repartition_survives_on_checkpointed_path(spark):
    """The exact-verify fan-out must survive the REAL (checkpointed)
    similarity path, not just the materialize='none' plan the r17
    guard pinned. distinct-then-repartition let the optimizer elide
    the user shuffle (the distinct's output was already hash-
    partitioned on the same keys), leaving an ENSURE_REQUIREMENTS
    exchange that AQE coalesced back to ~one task — re-serializing the
    CPU-heavy verify stage. The repartition now sits BELOW the
    distinct, so the plan must carry its REPARTITION_BY_NUM shuffle
    (AQE never coalesces a user-fixed partition count) and, once
    executed, no coalesced shuffle read may feed the verify stage."""
    from automation_of_building_a_transactional_data_lake_spark.operators.dedup import (
        minhash_near_dup_pairs,
        ngram_jaccard_prefix_pairs,
    )

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta epsilon zeta eta theta {i % 7}") for i in range(40)],
        "doc_id long, text string",
    )
    for fn in (ngram_jaccard_prefix_pairs, minhash_near_dup_pairs):
        df = fn(docs, threshold=0.7, materialize="local")
        df.collect()
        final = df._jdf.queryExecution().executedPlan().toString()
        assert "REPARTITION_BY_NUM" in final, final
        assert "AQEShuffleRead coalesced" not in final, final

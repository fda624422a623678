"""Unit tests for operators that the driver's oracle gate doesn't reach
directly: CDC helpers, text quality/lang/fingerprint, MinHash/SimHash
dedup, embedding LSH (planted near-dups)."""

import math
import os
import re
from datetime import datetime, timezone

from pyspark.sql import functions as F

from automation_of_building_a_transactional_data_lake_spark.operators.cdc import (
    op_telemetry,
    recombine_ops,
    split_ops,
    with_audit_column,
)
from automation_of_building_a_transactional_data_lake_spark.operators.dedup import (
    exact_ngram_jaccard_pairs,
    hamming_dist_col,
    minhash_near_dup_pairs,
    with_simhash,
)
from automation_of_building_a_transactional_data_lake_spark.operators.similarity import (
    lsh_near_pairs,
)
from automation_of_building_a_transactional_data_lake_spark.operators.textstats import (
    with_fingerprint,
    with_lang_id,
    with_quality_score,
)

from .conftest import SF_SMOKE


def _cdc_frame(spark):
    rows = [
        ("I", "2023-01-01 00:00:00", 1, "a"),
        ("U", "2023-01-02 00:00:00", 1, "a2"),
        ("I", "2023-01-01 00:00:00", 2, "b"),
        ("D", "2023-01-03 00:00:00", 2, "b"),
        ("I", "2023-01-01 00:00:00", 3, "c"),
    ]
    return spark.createDataFrame(rows, "Op string, timestamp string, id long, val string")


def test_op_telemetry_single_pass(spark):
    t = op_telemetry(_cdc_frame(spark))
    assert t == {"I": 3, "U": 1, "D": 1, "total": 5}


def test_split_and_recombine_ops(spark):
    df = _cdc_frame(spark)
    ups, dels = split_ops(df)
    assert ups.count() == 4 and dels.count() == 1
    # recombine is a partition-and-reassemble: same multiset of rows.
    assert sorted(recombine_ops(df).collect()) == sorted(df.collect())


def test_with_audit_column_injectable_clock(spark):
    clock = datetime(2024, 5, 6, 7, 8, 9, tzinfo=timezone.utc)
    out = with_audit_column(_cdc_frame(spark), clock=clock)
    vals = {r.last_applied_date for r in out.collect()}
    assert vals == {datetime(2024, 5, 6, 7, 8, 9)}


def test_quality_score_ratios(spark):
    df = spark.createDataFrame([("ab, cd 12",), ("",)], "text string")
    rows = with_quality_score(df).collect()
    r = rows[0]
    # 9 chars: 4 alpha, 1 punct, 2 space, 2 digit.
    assert (r.alpha_ratio, r.punct_ratio, r.space_ratio, r.digit_ratio) == (
        round(4 / 9, 4), round(1 / 9, 4), round(2 / 9, 4), round(2 / 9, 4))
    assert rows[1].alpha_ratio == 0.0  # empty doc: no division by zero


def test_lang_id_markers(spark):
    df = spark.createDataFrame(
        [("the cat and the dog is here",), ("der hund und die katze ist da",), ("zzz qqq",)],
        "text string",
    )
    got = [r.lang_pred for r in with_lang_id(df).collect()]
    assert got == ["en", "de", "und"]


def test_fingerprint_order_insensitive(spark):
    df = spark.createDataFrame(
        [("alpha beta gamma",), ("gamma  beta\talpha",), ("different words",)], "text string"
    )
    fps = [r.fingerprint for r in with_fingerprint(df).collect()]
    assert fps[0] == fps[1] and fps[0] != fps[2]


def test_minhash_matches_exact_on_real_docs(spark):
    """The LSH candidate stage must lose nothing above the threshold:
    banded-MinHash output == exact all-pairs output on the testdata."""
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    lsh = {(r.id_a, r.id_b, round(r.jaccard, 4))
           for r in minhash_near_dup_pairs(docs, threshold=0.8).collect()}
    exact = {(r.id_a, r.id_b, round(r.jaccard, 4))
             for r in exact_ngram_jaccard_pairs(docs, threshold=0.8).collect()}
    assert lsh == exact
    assert len(exact) > 0  # the fixture really contains near-dups


def test_release_similarity_cache_frees_disk_persists(spark):
    """materialize='disk' (the cluster default) pins DISK_ONLY frames
    for the session lifetime; release_similarity_cache() must free every
    one of them once the pair results are materialized (r6 advisory:
    repeated similarity joins in a long-lived session otherwise
    accumulate executor blocks until session end)."""
    from automation_of_building_a_transactional_data_lake_spark.operators.dedup import (
        release_similarity_cache,
    )

    release_similarity_cache()  # clean slate from earlier tests

    # Compare persistent-RDD ID SETS, not global counts: other suites'
    # localCheckpoint frames in this shared session get unpersisted
    # ASYNCHRONOUSLY by the ContextCleaner whenever their Python refs
    # are GC'd, so a count captured here can legitimately shrink
    # underneath an equality assert (observed flake, full-suite order).
    def persistent_ids() -> set[int]:
        jmap = spark.sparkContext._jsc.getPersistentRDDs()
        return {int(k) for k in jmap.keySet().toArray()}

    baseline = persistent_ids()
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    pairs = minhash_near_dup_pairs(docs, threshold=0.8, materialize="disk")
    assert pairs.count() > 0
    pinned = persistent_ids() - baseline
    assert len(pinned) >= 2  # shingles + buckets
    assert release_similarity_cache() >= 2
    assert not (persistent_ids() & pinned)  # OUR pins are gone
    # The returned frame stays valid: lineage was kept in disk mode.
    assert pairs.count() > 0


def test_prefix_filter_matches_exact_on_real_docs(spark):
    """The prefix-filter join is exact-complete by CONSTRUCTION (no LSH
    recall epsilon): its output must equal brute force at two
    thresholds, including 0.6 where prefixes get long and the size +
    positional filters do real pruning."""
    from automation_of_building_a_transactional_data_lake_spark.operators.dedup import (
        ngram_jaccard_prefix_pairs,
    )

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    for t in (0.8, 0.6):
        pf = {(r.id_a, r.id_b, round(r.jaccard, 4))
              for r in ngram_jaccard_prefix_pairs(docs, threshold=t).collect()}
        exact = {(r.id_a, r.id_b, round(r.jaccard, 4))
                 for r in exact_ngram_jaccard_pairs(docs, threshold=t).collect()}
        assert pf == exact, f"threshold {t}"
    assert len(pf) > 0


def test_prefix_filter_fuzz_equals_bruteforce(spark):
    """Hypothesis sweep over random corpora and thresholds: the prefix
    filter's pigeonhole math (prefix length, size filter, positional
    filter) must never lose a pair the brute-force join finds — the
    subtlest invariant in the operator, fuzzed rather than trusted."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from automation_of_building_a_transactional_data_lake_spark.operators.dedup import (
        ngram_jaccard_prefix_pairs,
    )

    token = st.sampled_from(["aa", "bb", "cc", "dd", "ee", "ff"])
    doc = st.lists(token, min_size=0, max_size=12).map(" ".join)

    @settings(
        max_examples=10,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(
        docs=st.lists(doc, min_size=2, max_size=10),
        threshold=st.sampled_from([0.5, 0.7, 0.9]),
        shingle_n=st.sampled_from([1, 2, 3]),
    )
    def run(docs, threshold, shingle_n):
        rows = [(i, d) for i, d in enumerate(docs)]
        frame = spark.createDataFrame(rows, ["doc_id", "text"])
        pf = {(r.id_a, r.id_b, round(r.jaccard, 6))
              for r in ngram_jaccard_prefix_pairs(
                  frame, threshold=threshold, shingle_n=shingle_n).collect()}
        exact = {(r.id_a, r.id_b, round(r.jaccard, 6))
                 for r in exact_ngram_jaccard_pairs(
                     frame, threshold=threshold, shingle_n=shingle_n).collect()}
        assert pf == exact, (docs, threshold, shingle_n)

    run()


def test_prefix_filter_tiny_and_identical_docs(spark):
    """Sub-shingle docs collapse to one whole-doc shingle; identical
    twins must pair at jaccard 1.0, disjoint docs must not pair."""
    from automation_of_building_a_transactional_data_lake_spark.operators.dedup import (
        ngram_jaccard_prefix_pairs,
    )

    rows = [
        (1, "tiny doc"),                       # < 3 tokens -> whole-doc shingle
        (2, "tiny doc"),                       # identical twin
        (3, "completely different words here entirely"),
        (4, "the quick brown fox jumps over the lazy dog again"),
        (5, "the quick brown fox jumps over the lazy dog again"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {(r.id_a, r.id_b, r.jaccard)
           for r in ngram_jaccard_prefix_pairs(docs, threshold=0.8).collect()}
    assert got == {(1, 2, 1.0), (4, 5, 1.0)}


def test_prefix_filter_float_boundary_pair_not_pruned(spark):
    """Regression: double-rounding in the filter bounds must never prune
    a TRUE boundary pair (Jaccard exactly = threshold).

    sa=31, sb=32, intersection=28 → J = 28/(31+32-28) = 28/35 = 0.8
    exactly, and the required-overlap bound t/(1+t)*(sa+sb) = 63*4/9 =
    28 exactly — but 0.8/1.8*63 evaluates to 28.000000000000004 in
    doubles, so a bare ceil() demands 29 shared tokens and the
    positional filter prunes the pair (best case 1+min(31-4, 32-5) =
    28). The unique tokens (df=1) deliberately outrank the shared ones
    (df=2) in the ascending-df prefix order so every shared prefix
    token sits deep enough to trigger the overshoot. Fixed by
    _safe_ceil's epsilon slack."""
    from automation_of_building_a_transactional_data_lake_spark.operators.dedup import (
        ngram_jaccard_prefix_pairs,
    )

    shared = " ".join(f"s{i:02d}" for i in range(28))
    doc_a = "ua1 ua2 ua3 " + shared                # 31 distinct tokens
    doc_b = "ub1 ub2 ub3 ub4 " + shared            # 32 distinct tokens
    docs = spark.createDataFrame([(1, doc_a), (2, doc_b)], ["doc_id", "text"])
    got = {(r.id_a, r.id_b, round(r.jaccard, 6))
           for r in ngram_jaccard_prefix_pairs(
               docs, threshold=0.8, shingle_n=1).collect()}
    exact = {(r.id_a, r.id_b, round(r.jaccard, 6))
             for r in exact_ngram_jaccard_pairs(
                 docs, threshold=0.8, shingle_n=1).collect()}
    assert got == exact == {(1, 2, 0.8)}


def test_simhash_near_dups_have_small_hamming(spark):
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    pairs = exact_ngram_jaccard_pairs(docs, threshold=0.9).select("id_a", "id_b")
    sh = with_simhash(docs.select("doc_id", "text"))
    a = sh.select(F.col("doc_id").alias("id_a"), F.col("simhash").alias("sh_a"))
    b = sh.select(F.col("doc_id").alias("id_b"), F.col("simhash").alias("sh_b"))
    dists = (
        pairs.join(a, "id_a").join(b, "id_b")
        .select(hamming_dist_col(F.col("sh_a"), F.col("sh_b")).alias("d"))
        .collect()
    )
    # Near-dups land well below the random-pair expectation of ~32 bits.
    assert dists and all(r.d <= 16 for r in dists)
    # And a random far pair is far: compare unrelated docs.
    far = (
        sh.alias("x").crossJoin(sh.alias("y"))
        .filter(F.col("x.doc_id") + 200 == F.col("y.doc_id"))
        .select(hamming_dist_col(F.col("x.simhash"), F.col("y.simhash")).alias("d"))
        .limit(5).collect()
    )
    assert far and all(r.d > 16 for r in far)


def test_lsh_near_pairs_planted_vectors(spark):
    """Plant two high-cosine pairs among random-ish vectors; multi-band
    LSH + exact verify must find exactly the planted pairs."""
    dim = 16
    base1 = [1.0 if i % 2 == 0 else 0.2 for i in range(dim)]
    near1 = [v + (0.01 if i == 3 else 0.0) for i, v in enumerate(base1)]
    base2 = [(-1.0) ** i * (i + 1) / dim for i in range(dim)]
    near2 = [v * 1.02 for v in base2]
    noise = [
        [math.sin(7.3 * i * (k + 1)) for i in range(dim)] for k in range(20)
    ]
    rows = (
        [(0, base1), (1, near1), (2, base2), (3, near2)]
        + [(10 + k, v) for k, v in enumerate(noise)]
    )
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {(r.id_a, r.id_b) for r in
           lsh_near_pairs(df, dim=dim, n_planes=8, n_bands=12, threshold=0.99).collect()}
    assert got == {(0, 1), (2, 3)}


def test_with_lsh_signature_buckets_by_direction(spark):
    """Single-band signature: collinear vectors land in the SAME
    bucket deterministically (sign-LSH depends only on direction);
    a far-apart vector lands elsewhere under the fixed seed."""
    from automation_of_building_a_transactional_data_lake_spark.operators.similarity import (
        with_lsh_signature)

    df = spark.createDataFrame(
        [
            (1, [1.0, 2.0, -3.0, 0.5]),
            (2, [2.0, 4.0, -6.0, 1.0]),   # 2x vector 1 — same direction
            (3, [-1.0, -2.0, 3.0, -0.5]),  # opposite direction
        ],
        "vec_id long, embedding array<double>",
    )
    got = {r.vec_id: r.lsh_bucket for r in with_lsh_signature(df, dim=4, n_planes=16).collect()}
    assert got[1] == got[2]
    assert got[3] != got[1]  # every sign flips for the negated vector


def test_lsh_near_pairs_empty_input(spark):
    df = spark.createDataFrame([], "vec_id long, embedding array<double>")
    assert lsh_near_pairs(df, dim=8).count() == 0  # no .first() crash


def test_ivf_partial_probe_recall_and_pruning(spark):
    """nprobe=2 of 8 lists must scan a fraction of the data yet keep
    decent top-10 recall; nprobe=8 must be exact (also the driver gate)."""
    from automation_of_building_a_transactional_data_lake_spark.operators.ann_ivf import (
        build_ivf, ivf_topk, recall_at_k)
    from pyspark.sql import functions as F

    emb = (
        spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
        .withColumn("embedding", F.col("embedding").cast("array<double>"))
    )
    qvec = list(emb.filter(F.col("vec_id") == 0).select("embedding").first()[0])
    cand = emb.filter(F.col("vec_id") != 0)
    indexed, centroids = build_ivf(cand, k=8, iters=2)
    indexed = indexed.cache()

    # Exact reference, independent of the IVF machinery.
    from automation_of_building_a_transactional_data_lake_spark.operators.similarity import (
        cosine_similarity_col)
    qcol = F.array(*[F.lit(float(x)) for x in qvec])
    exact = [
        r.vec_id
        for r in cand.withColumn("s", cosine_similarity_col(F.col("embedding"), qcol))
        .orderBy(F.col("s").desc(), "vec_id").limit(10).collect()
    ]
    full = [r.vec_id for r in ivf_topk(indexed, centroids, qvec, k=10, nprobe=8).collect()]
    assert full == exact  # exhaustive probe == brute force, exactly

    # Partial probes: recall is positive and monotone in nprobe. (On
    # near-random embeddings the true top-10 spreads across lists, so
    # absolute recall at nprobe=2/8 is intrinsically modest.)
    r2 = recall_at_k([r.vec_id for r in ivf_topk(indexed, centroids, qvec, 10, 2).collect()], exact)
    r4 = recall_at_k([r.vec_id for r in ivf_topk(indexed, centroids, qvec, 10, 4).collect()], exact)
    assert r2 > 0 and r4 >= r2

    # Pruning is real: vectors spread across several lists, so any
    # 2-list probe scans a strict subset of the data.
    sizes = {r.cluster_id: r["count"] for r in indexed.groupBy("cluster_id").count().collect()}
    assert len(sizes) >= 4  # clustering didn't collapse
    assert sum(sizes.values()) == cand.count()
    assert max(sizes.values()) < cand.count()
    indexed.unpersist()


def test_minhash_expression_twin_matches_per_perm_min(spark):
    """The engine-pure expression MinHash equals an explicit
    per-permutation min oracle and is shingle-ORDER-insensitive — the
    two properties that make it a faithful reference twin for the
    vectorized path."""
    from automation_of_building_a_transactional_data_lake_spark.operators.dedup import (
        minhash_signature)

    df = spark.createDataFrame(
        [(1, ["a b c", "d e f", "g h i"]), (2, ["zz", "a b c"])],
        "doc_id long, sh array<string>",
    )
    got = {r.doc_id: list(r.sig) for r in
           df.select("doc_id", minhash_signature(F.col("sh"), 8).alias("sig")).collect()}
    # Oracle: min over shingles of xxhash64(shingle, i), per permutation.
    ex = df.select("doc_id", F.explode("sh").alias("s"))
    want = {r.doc_id: [r[f"m{i}"] for i in range(8)] for r in
            ex.groupBy("doc_id").agg(
                *[F.min(F.xxhash64("s", F.lit(i))).alias(f"m{i}") for i in range(8)]
            ).collect()}
    assert got == want
    rev = df.select("doc_id", minhash_signature(F.reverse(F.col("sh")), 8).alias("sig"))
    assert {r.doc_id: list(r.sig) for r in rev.collect()} == got


def test_minhash_udf_empty_hash_arrays(spark):
    """The public vectorized path must handle empty per-row hash arrays
    (r3 advisory): a trailing empty row made reduceat raise IndexError,
    an interior one silently aliased the NEXT document's signature.
    Empty rows get the identity signature (the expression twin's fold
    init, LONG_MAX); non-empty rows are unaffected by their neighbors.

    Doc 4 deliberately has MULTIPLE hashes and is followed by a
    trailing empty row (r4 advisory): the earlier clip-starts guard
    truncated the LAST non-empty document's segment to its first
    shingle whenever trailing empties followed it."""
    from automation_of_building_a_transactional_data_lake_spark.operators.dedup import (
        _LONG_MAX,
        minhash_signature_udf,
    )

    sig = minhash_signature_udf(num_perm=8)
    df = spark.createDataFrame(
        [(1, []), (2, [123456789, -42]), (3, []), (4, [987654321, -7]), (5, [])],
        "doc_id long, hs array<long>",
    )
    one = df.repartition(1)  # single batch: interior AND trailing empties
    got = {r.doc_id: list(r.sig) for r in one.select("doc_id", sig("hs").alias("sig")).collect()}
    ident = [_LONG_MAX] * 8
    assert got[1] == ident and got[3] == ident and got[5] == ident
    solo = {
        r.doc_id: list(r.sig)
        for r in df.filter("doc_id IN (2, 4)")
        .repartition(1)
        .select("doc_id", sig("hs").alias("sig"))
        .collect()
    }
    assert got[2] == solo[2] and got[4] == solo[4]
    # A batch that is ALL empty arrays must also produce identities.
    all_empty = (
        df.filter("doc_id IN (1, 3)").repartition(1).select(sig("hs").alias("sig")).collect()
    )
    assert [list(r.sig) for r in all_empty] == [ident, ident]


def test_ivf_assignment_twins_agree(spark):
    """Expression argmin and Arrow-batched matmul argmin assign every
    real vector to the same cluster (tie-break: lowest index in both)."""
    from automation_of_building_a_transactional_data_lake_spark.operators.ann_ivf import (
        assign_clusters, assign_clusters_vectorized, train_centroids)

    emb = (
        spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
        .withColumn("embedding", F.col("embedding").cast("array<double>"))
    )
    cents = train_centroids(emb, k=5, iters=2)
    a = {r.vec_id: r.cluster_id for r in assign_clusters(emb, cents).collect()}
    b = {r.vec_id: r.cluster_id for r in assign_clusters_vectorized(emb, cents).collect()}
    assert a == b


def test_ivf_seeding_is_layout_independent(spark):
    """Centroid seeds (hence trained centroids) must be identical
    whatever the input partitioning — pins the xxhash64-based seed
    selection (round-2: monotonically_increasing_id seeding drifted
    with partition layout)."""
    from automation_of_building_a_transactional_data_lake_spark.operators.ann_ivf import (
        train_centroids)
    from pyspark.sql import functions as F

    emb = (
        spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
        .withColumn("embedding", F.col("embedding").cast("array<double>"))
    )
    c1 = train_centroids(emb.repartition(1), k=4, iters=1)
    c7 = train_centroids(emb.repartition(7, "vec_id"), k=4, iters=1)
    c13 = train_centroids(emb.orderBy(F.col("vec_id").desc()).repartition(13), k=4, iters=1)
    assert c1 == c7 == c13


def test_ivf_probe_pruning_is_physical(spark, tmp_path):
    """Writing the indexed table partitioned by cluster_id through the
    CoW format must make nprobe pruning a FILE-level partition filter:
    a 1-list probe opens fewer files than the full table holds — the
    property that turns nprobe/k into physical scan fraction at 100 TB."""
    from automation_of_building_a_transactional_data_lake_spark.formats.parquet_cow import (
        ParquetCowTable)
    from automation_of_building_a_transactional_data_lake_spark.operators.ann_ivf import (
        build_ivf, ivf_topk)
    from automation_of_building_a_transactional_data_lake_spark.spec import TableSpec
    from pyspark.sql import functions as F

    emb = (
        spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
        .withColumn("embedding", F.col("embedding").cast("array<double>"))
    )
    qvec = list(emb.filter(F.col("vec_id") == 0).select("embedding").first()[0])
    indexed, centroids = build_ivf(emb.filter(F.col("vec_id") != 0), k=4, iters=2)
    spec = TableSpec("ivf_index", "vec_id", "cluster_id", None, "testdb")
    tbl = ParquetCowTable(spark, str(tmp_path), spec)
    tbl.create(indexed)
    n_lists = len({os.path.dirname(p) for p in tbl.data_files()})
    assert n_lists >= 3  # several hive partitions exist

    probed = ivf_topk(tbl.read(), centroids, qvec, k=5, nprobe=1)
    probed.collect()
    scan = probed._jdf.queryExecution().executedPlan().collectLeaves().head()
    files_opened = scan.metrics().apply("numFiles").value()
    total_files = len(tbl.data_files())
    assert files_opened < total_files
    plan = probed._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan


def test_similarity_join_materialize_modes_agree(spark):
    """The materialize= knob changes ONLY how the twice-consumed
    intermediate frames are pinned (localCheckpoint vs lineage-keeping
    DISK_ONLY persist vs none), never the result: all modes must
    produce identical pair sets on both similarity joins. 'disk' is
    the cluster default because localCheckpoint's executor-local
    blocks are unrecoverable after executor loss."""
    from automation_of_building_a_transactional_data_lake_spark.operators.dedup import (
        minhash_near_dup_pairs,
        ngram_jaccard_prefix_pairs,
    )

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    for fn in (ngram_jaccard_prefix_pairs, minhash_near_dup_pairs):
        by_mode = {
            mode: {(r.id_a, r.id_b, round(r.jaccard, 6))
                   for r in fn(docs, threshold=0.8, materialize=mode).collect()}
            for mode in ("local", "disk", "none")
        }
        assert by_mode["local"] == by_mode["disk"] == by_mode["none"], fn.__name__
        assert len(by_mode["local"]) > 0, fn.__name__

    import pytest

    with pytest.raises(ValueError, match="materialize"):
        ngram_jaccard_prefix_pairs(docs, materialize="bogus").collect()


def test_prefix_filter_skew_gate_boilerplate_stays_out_of_prefixes(spark):
    """Skew gate for the planted-boilerplate corpus: one token appears
    in 30% of documents (web boilerplate). The rarest-first prefix
    order must keep that hot token OUT of every prefix — so no
    candidate bucket fans out with the boilerplate — while the join
    stays exact vs brute force. Asserted structurally on the prefix
    index itself, not just end-to-end."""
    from automation_of_building_a_transactional_data_lake_spark.operators.dedup import (
        _prefix_index,
        ngram_jaccard_prefix_pairs,
    )

    BOILER = "boilerplate_token"
    rows = []
    # 60 docs x 20 distinct tokens each: 19 unique + the boilerplate
    # token on 18 docs (30%). Three planted near-dup pairs share their
    # 19 uniques (J = 19/21 ~ 0.905 > 0.8).
    for i in range(60):
        if i in (1, 11, 21):  # twin of i-1: same uniques, own salt
            toks = [f"u{i-1}_{j}" for j in range(19)] + [f"salt{i}"]
        else:
            toks = [f"u{i}_{j}" for j in range(19)] + [f"salt{i}"]
        if i < 18:
            toks[-1] = BOILER  # 18/60 = 30% of docs carry it
        rows.append((i, " ".join(toks)))
    docs = spark.createDataFrame(rows, ["doc_id", "text"])

    # (a) exactness is untouched by the skew.
    got = {(r.id_a, r.id_b, round(r.jaccard, 6))
           for r in ngram_jaccard_prefix_pairs(docs, threshold=0.8, shingle_n=1).collect()}
    exact = {(r.id_a, r.id_b, round(r.jaccard, 6))
             for r in exact_ngram_jaccard_pairs(docs, threshold=0.8, shingle_n=1).collect()}
    assert got == exact
    assert {(a, b) for a, b, _ in got} == {(0, 1), (10, 11), (20, 21)}

    # (b) the structural claim: the hot token's hash never enters a
    # prefix (rank 20 of 20 by ascending df, prefix length 5 at
    # t=0.8/s=20), and every prefix bucket's fan-out is bounded by the
    # planted df<=2 tokens — so no candidate bucket explodes.
    _, prefix = _prefix_index(docs, "doc_id", "text", 0.8, 1, None)
    hot_hash = spark.range(1).select(F.xxhash64(F.lit(BOILER))).first()[0]
    per_tok = {r["__tok"]: r["n"] for r in
               prefix.groupBy("__tok").agg(F.count("*").alias("n")).collect()}
    assert hot_hash not in per_tok
    assert max(per_tok.values()) <= 2


def test_repetition_stats_edges(spark):
    """Gopher-style repetition signals on planted edges: empty doc (all
    zeros, no divide), single token, all-identical tokens (dup fracs ->
    1 - 1/n, top -> 1.0), and a half-repeated doc."""
    from automation_of_building_a_transactional_data_lake_spark.operators.textstats import (
        with_repetition_stats,
    )

    rows = [
        (0, ""),
        (1, "solo"),
        (2, "spam spam spam spam"),
        (3, "a b a b c"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        r.doc_id: (r.n_tokens, r.dup_token_frac, r.top_token_frac, r.dup_2gram_frac)
        for r in with_repetition_stats(docs).collect()
    }
    assert got[0] == (0, 0.0, 0.0, 0.0)
    assert got[1] == (1, 0.0, 1.0, 0.0)
    # 4x "spam": 3/4 dup tokens, top 1.0; 3 identical 2-grams -> 2/3 dup.
    assert got[2] == (4, 0.75, 1.0, round(2 / 3, 6))
    # "a b a b c": 5 tokens 3 distinct -> 0.4; top "a" (or "b") 2/5;
    # grams [a b, b a, a b, b c]: 4 total 3 distinct -> 0.25.
    assert got[3] == (5, 0.4, 0.4, 0.25)


def test_ivf_batch_topk_exhaustive_equals_brute_and_partial_prunes(spark):
    """Batch kNN through the IVF index: exhaustive probing must equal
    the broadcast brute-force window plan row-for-row for EVERY query;
    partial probing keeps positive per-query recall while each query
    scores only its probed lists."""
    from automation_of_building_a_transactional_data_lake_spark.operators.ann_ivf import (
        build_ivf, ivf_batch_topk, recall_at_k)
    from automation_of_building_a_transactional_data_lake_spark.operators.similarity import (
        cosine_similarity_col)
    from pyspark.sql.window import Window

    emb = (
        spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
        .withColumn("embedding", F.col("embedding").cast("array<double>"))
    )
    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec"))
    cand = emb.filter(F.col("vec_id") >= 8)
    indexed, centroids = build_ivf(cand, k=8, iters=2)
    indexed = indexed.cache()

    w = Window.partitionBy("q_id").orderBy(F.col("_s").desc(), F.col("vec_id"))
    brute = sorted(
        (r.q_id, r.vec_id, round(r._s, 6), r.rn)
        for r in cand.crossJoin(F.broadcast(queries))
        .withColumn("_s", cosine_similarity_col(F.col("embedding"), F.col("q_vec")))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .collect()
    )
    full = sorted(
        (r.q_id, r.nn_id, r.cos_sim, r.rn)
        for r in ivf_batch_topk(indexed, centroids, queries, k=3, nprobe=8).collect()
    )
    assert full == brute

    exact_by_q = {}
    for q_id, nn_id, _s, _rn in brute:
        exact_by_q.setdefault(q_id, []).append(nn_id)
    part = {}
    for r in ivf_batch_topk(indexed, centroids, queries, k=3, nprobe=3).collect():
        part.setdefault(r.q_id, []).append(r.nn_id)
    recalls = [recall_at_k(part.get(q, []), exact) for q, exact in exact_by_q.items()]
    assert sum(recalls) / len(recalls) > 0.3  # partial probe still finds most
    indexed.unpersist()


def test_masking_helpers_edges(spark):
    """Masking edges: nulls stay null (pseudonym and digit mask), short
    strings survive the prefix split, pseudonyms are deterministic and
    salt-sensitive, digit masking keeps separators."""
    from automation_of_building_a_transactional_data_lake_spark.operators.masking import (
        mask_digits,
        pseudonymize,
        redact_pattern,
    )

    df = spark.createDataFrame(
        [("25-989-741-2988",), ("1",), ("",), (None,)], "s string"
    )
    got = [r.m for r in df.select(mask_digits(F.col("s"), 3).alias("m")).collect()]
    assert got == ["25-***-***-****", "1", "", None]

    p = spark.createDataFrame([("alice",), ("alice",), (None,)], "s string")
    tok = [r.t for r in p.select(pseudonymize(F.col("s"), "k1").alias("t")).collect()]
    assert tok[0] == tok[1] and tok[2] is None
    tok2 = [r.t for r in p.select(pseudonymize(F.col("s"), "k2").alias("t")).collect()]
    assert tok2[0] != tok[0]  # salt rotation unlinks releases

    e = spark.createDataFrame([("mail bob@x.io now",)], "s string")
    red = e.select(
        redact_pattern(F.col("s"), r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}").alias("r")
    ).first().r
    assert red == "mail [REDACTED] now"


def test_connected_components_shapes(spark):
    """Min-label propagation must reach the exact fixpoint on the graph
    shapes near-dup graphs exhibit: chains (worst diameter), cliques,
    multiple components, and isolated pairs — cluster_id is always the
    component minimum."""
    from automation_of_building_a_transactional_data_lake_spark.operators.dedup import (
        connected_components,
    )

    # chain 1-2-3-4-5, clique {10,11,12}, pair {20,21}
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5),
         (10, 11), (10, 12), (11, 12),
         (20, 21)],
        "id_a long, id_b long",
    )
    got = {r.doc_id: r.cluster_id for r in connected_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1,
                   10: 10, 11: 10, 12: 10,
                   20: 20, 21: 20}
    # Large-star/small-star must produce the identical labeling.
    star = {
        r.doc_id: r.cluster_id
        for r in connected_components(pairs, algorithm="star").collect()
    }
    assert star == got


def test_connected_components_long_chain_escalates(spark):
    """An adversarial long-chain graph (diameter > max_iterations):
    algorithm='label' must RAISE rather than return a silently
    unconverged labeling; 'auto' escalates to large-star/small-star
    and still reaches the exact fixpoint; 'star' converges directly in
    O(log^2 n) rounds."""
    import pytest as _pytest

    from automation_of_building_a_transactional_data_lake_spark.operators.dedup import (
        ConvergenceError,
        connected_components,
    )

    n = 60  # path 0-1-...-59: diameter 59 > max_iterations=10
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long"
    )
    with _pytest.raises(ConvergenceError, match="star"):
        connected_components(pairs, max_iterations=10, algorithm="label")

    want = {i: 0 for i in range(n)}
    for algo in ("auto", "star"):
        got = {
            r.doc_id: r.cluster_id
            for r in connected_components(
                pairs, max_iterations=10, algorithm=algo
            ).collect()
        }
        assert got == want, algo


def test_connected_components_materialize_modes_agree(spark):
    """The cluster-recovery materialization policy threads through the
    iterative fixpoint exactly as it does through the similarity joins:
    every mode yields the identical labeling (local is the local[*]
    default; disk is the cluster-safe persist; none recomputes)."""
    from automation_of_building_a_transactional_data_lake_spark.operators.dedup import (
        connected_components,
        release_similarity_cache,
    )

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (20, 21)],
        "id_a long, id_b long",
    )
    try:
        results = {
            mode: {
                r.doc_id: r.cluster_id
                for r in connected_components(pairs, materialize=mode).collect()
            }
            for mode in ("local", "disk", "none")
        }
    finally:
        release_similarity_cache()
    assert results["local"] == results["disk"] == results["none"]
    assert results["local"] == {1: 1, 2: 1, 3: 1, 4: 1,
                                10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


def test_bm25_ranking_properties(spark):
    """BM25 sanity on a controlled corpus: a doc containing all query
    terms outranks partial matches; rarer terms contribute more than
    common ones; docs without query terms never appear; empty query is
    a clear error."""
    import pytest as _pytest

    from automation_of_building_a_transactional_data_lake_spark.operators.retrieval import (
        bm25_topk,
    )

    docs = spark.createDataFrame(
        [
            (1, "spark merge fast window"),       # all terms
            (2, "spark spark spark common words"),  # common term, repeated
            (3, "window rare thing"),              # one rarer term
            (4, "nothing relevant here"),
            (5, "spark text"),
        ],
        "doc_id long, text string",
    )
    got = bm25_topk(docs, "spark window", k=10).collect()
    ids = [r.doc_id for r in got]
    assert ids[0] == 1                 # both terms wins
    assert 4 not in ids                # no query term -> absent
    assert len(ids) == 4
    # 'window' (df=2) is rarer than 'spark' (df=3): single-'window'
    # doc 3 outscores single-'spark' doc 5.
    scores = {r.doc_id: r.bm25 for r in got}
    assert scores[3] > scores[5]
    with _pytest.raises(ValueError, match="no terms"):
        bm25_topk(docs, "   ")


def test_trigram_lm_scores_short_docs_and_model(spark):
    """Short docs (< 3 chars) are excluded, repeated-structure docs
    score higher than corpus-atypical ones, and n_trigrams equals
    len(text) - 2."""
    from automation_of_building_a_transactional_data_lake_spark.operators.textstats import (
        trigram_lm_scores,
    )

    docs = spark.createDataFrame(
        [(1, "abcabcabcabc"), (2, "abcabcabcabd"), (3, "zq"), (4, "xyzw")],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in trigram_lm_scores(docs).collect()}
    assert 3 not in got  # too short for any trigram
    assert got[1].n_trigrams == 10 and got[4].n_trigrams == 2
    # Doc 1 is pure corpus-modal structure; doc 2 ends atypically.
    assert got[1].avg_logprob > got[2].avg_logprob


def _initial_plan(df) -> str:
    """Pre-execution physical plan text (what the operator ASKED the
    planner for, before AQE's runtime rewrites)."""
    return df._jdf.queryExecution().executedPlan().toString()


def test_trigram_lm_scores_size_gated_model_join(spark):
    """The trigram model join must not FORCE a broadcast of the model
    frame: on a wide-alphabet corpus (millions of distinct trigrams at
    100 TB — CJK) a forced broadcast OOMs. The gate counts the model
    and falls back to a shuffle join on the trigram key; both
    strategies must agree exactly, and the shuffle path's initial plan
    must carry NO BroadcastExchange (AQE may still convert at runtime
    when the model turns out tiny — that is the desired behavior, a
    runtime decision instead of a hardcoded one)."""
    from automation_of_building_a_transactional_data_lake_spark.operators.textstats import (
        trigram_lm_scores,
    )

    # Planted wide-alphabet corpus: BMP codepoints spread far apart so
    # nearly every trigram is distinct (the multilingual-crawl shape).
    rows = [
        (i, "".join(chr(0x4E00 + (i * 97 + j * 13) % 20000) for j in range(40)))
        for i in range(30)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    forced_bc = trigram_lm_scores(docs, broadcast_model=True)
    shuffled = trigram_lm_scores(docs, broadcast_model=False)
    assert "BroadcastExchange" in _initial_plan(forced_bc)
    assert "BroadcastExchange" not in _initial_plan(shuffled)

    # The auto gate picks the shuffle strategy once the model exceeds
    # the row cap — same plan shape as the explicit broadcast_model=False.
    auto_wide = trigram_lm_scores(docs, max_broadcast_model_rows=10)
    assert "BroadcastExchange" not in _initial_plan(auto_wide)

    a = {r.doc_id: r for r in forced_bc.collect()}
    b = {r.doc_id: r for r in shuffled.collect()}
    c = {r.doc_id: r for r in auto_wide.collect()}
    assert set(a) == set(b) == set(c) == set(range(30))
    for i in a:
        assert a[i].n_trigrams == b[i].n_trigrams == c[i].n_trigrams
        assert a[i].avg_logprob == b[i].avg_logprob == c[i].avg_logprob


def test_connected_components_fuzz_vs_union_find(spark):
    """Hypothesis sweep over random edge lists: min-label propagation's
    fixpoint must equal a pure-python union-find ground truth on every
    graph shape (cycles, stars, long paths, dense blobs)."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from automation_of_building_a_transactional_data_lake_spark.operators.dedup import (
        connected_components,
    )

    edge = st.tuples(st.integers(0, 14), st.integers(0, 14)).filter(
        lambda e: e[0] != e[1]
    )

    @settings(
        max_examples=8,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(edges=st.lists(edge, min_size=1, max_size=25))
    def run(edges):
        parent = {}

        def find(x):
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for u, v in edges:
            ru, rv = find(u), find(v)
            if ru != rv:
                parent[max(ru, rv)] = min(ru, rv)
        want = {n: find(n) for n in parent}

        pairs = spark.createDataFrame(edges, "id_a long, id_b long")
        got = {r.doc_id: r.cluster_id for r in connected_components(pairs).collect()}
        assert got == want, edges

    run()


def test_bm25_batch_agrees_with_single_query(spark):
    """bm25_topk_batch must reproduce bm25_topk exactly per query (same
    formula, tokenization, rounding, and tie-break), and never leak a
    doc with no terms of THAT query into its ranking."""
    from automation_of_building_a_transactional_data_lake_spark.operators.retrieval import (
        bm25_topk,
        bm25_topk_batch,
    )

    docs = spark.createDataFrame(
        [
            (1, "spark merge fast window"),
            (2, "spark spark spark common words"),
            (3, "window rare thing"),
            (4, "nothing relevant here"),
            (5, "spark text merge"),
        ],
        "doc_id long, text string",
    )
    queries = spark.createDataFrame(
        [(1, "spark window"), (2, "merge text"), (3, "absentterm")],
        "query_id long, query string",
    )
    batch = bm25_topk_batch(docs, queries, k=10).collect()
    by_q = {}
    for r in batch:
        by_q.setdefault(r.query_id, []).append((r.doc_id, r.bm25))
    for qid, qtext in [(1, "spark window"), (2, "merge text")]:
        single = [(r.doc_id, r.bm25) for r in bm25_topk(docs, qtext, k=10).collect()]
        got = sorted(by_q[qid], key=lambda x: (-x[1], x[0]))
        assert got == single, qid
    assert 3 not in by_q  # no doc matches -> query absent, never a 0-score row


def test_synthesize_media_roundtrips_through_decode(spark):
    """synthesize_media builds REAL file bytes: the dependency-free
    header decoders must recover exactly the parameters the synthesizer
    was given, through the full Arrow-batched plumbing."""
    from automation_of_building_a_transactional_data_lake_spark.operators.multimodal import (
        decode_media,
        synthesize_media,
    )

    params = spark.createDataFrame(
        [
            (1, "bmp", 7, 5, 1, 8000, 0),
            (2, "bmp", 64, 1, 1, 8000, 0),
            (3, "wav", 0, 0, 2, 44100, 44100 * 2 * 2),  # 1 s stereo 16-bit
            (4, "wav", 0, 0, 1, 8000, 16000),           # 1 s mono 16-bit
        ],
        "media_id long, kind string, width long, height long, "
        "n_channels long, sample_rate long, data_size long",
    )
    media = synthesize_media(params).select("media_id", "payload")
    got = {r.media_id: r for r in decode_media(media, decoder="auto").collect()}
    assert (got[1].format, got[1].width, got[1].height) == ("bmp", 7, 5)
    assert (got[2].format, got[2].width, got[2].height) == ("bmp", 64, 1)
    assert (got[3].format, got[3].n_channels, got[3].sample_rate, got[3].duration_ms) == (
        "wav", 2, 44100, 1000
    )
    assert (got[4].format, got[4].n_channels, got[4].duration_ms) == ("wav", 1, 1000)
    assert got[4].bits_per_sample == 16


def test_ngram_contamination_exact_pairs(spark):
    """Exact n-gram decontamination: a corpus doc pairs with an eval
    doc iff they share a full length-n token n-gram; n_shared counts
    DISTINCT shared grams; sub-n docs match only as whole sequences;
    contaminated_ids is exactly the distinct id set of the pair view."""
    from automation_of_building_a_transactional_data_lake_spark.operators.decontam import (
        contaminated_ids,
        ngram_contamination,
    )

    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps"),    # shares 'quick brown fox' with eval 10
            (2, "quick brown wolf runs fast"),   # bigram overlap only -> clean at n=3
            (3, "tiny doc"),                     # sub-n whole-sequence: matches eval 11
            (4, "the quick brown fox sleeps"),   # same shared gram as doc 1
            (5, "completely unrelated words"),
        ],
        "doc_id long, text string",
    )
    evals = spark.createDataFrame(
        [(10, "a quick brown fox appeared"), (11, "tiny doc"), (12, "nothing here")],
        "eval_id long, text string",
    )
    got = {
        (r.doc_id, r.eval_id): r.n_shared
        for r in ngram_contamination(corpus, evals, n=3).collect()
    }
    assert got == {(1, 10): 1, (4, 10): 1, (3, 11): 1}
    ids = {r.doc_id for r in contaminated_ids(corpus, evals, n=3).collect()}
    assert ids == {1, 3, 4}
    # Two shared grams count as 2: overlapping 4-token run shares two
    # distinct trigrams.
    c2 = spark.createDataFrame([(1, "alpha beta gamma delta x")], "doc_id long, text string")
    e2 = spark.createDataFrame([(9, "alpha beta gamma delta y")], "eval_id long, text string")
    got2 = ngram_contamination(c2, e2, n=3).collect()
    assert [(r.doc_id, r.eval_id, r.n_shared) for r in got2] == [(1, 9, 2)]


def test_simhash_md5_near_dup_property(spark):
    """The portable SimHash preserves the fingerprint's defining
    property: near-duplicate documents land within small Hamming
    distance, unrelated documents far apart; identical docs get
    identical fingerprints."""
    from automation_of_building_a_transactional_data_lake_spark.operators.dedup import (
        SIMHASH_MD5_BITS,
        simhash_md5,
    )

    base = "the quick brown fox jumps over the lazy dog again and again today"
    near = base.replace("today", "tonight")
    docs = spark.createDataFrame(
        [(1, base), (2, near), (3, base),
         (4, "completely different subject matter entirely unrelated words here now")],
        "doc_id long, text string",
    )
    fp = {r.doc_id: r.simhash for r in simhash_md5(docs).collect()}
    assert fp[1] == fp[3]
    assert all(0 <= v < (1 << SIMHASH_MD5_BITS) for v in fp.values())
    ham = lambda a, b: bin(a ^ b).count("1")  # noqa: E731
    assert ham(fp[1], fp[2]) < ham(fp[1], fp[4])
    assert ham(fp[1], fp[2]) <= 12  # one-token edit: few flipped bits


def test_normalize_text_canonicalization(spark):
    """NFC composition, control strip, whitespace squash, trim — and
    the defining property: decomposed and composed renderings of the
    same text normalize to the SAME canonical string; nulls pass
    through."""
    from automation_of_building_a_transactional_data_lake_spark.operators.textstats import (
        normalize_text,
    )

    composed = "caf\u00e9 na\u00efve"
    decomposed = "cafe\u0301 nai\u0308ve"
    docs = spark.createDataFrame(
        [(1, "  a\t\tb \x07c  "), (2, decomposed), (3, composed), (4, None)],
        "doc_id long, text string",
    )
    got = {r.doc_id: r.text_norm for r in normalize_text(docs).collect()}
    assert got[1] == "a b c"
    assert got[2] == got[3] == composed  # NFC canonical form
    assert got[4] is None
    import pytest as _pytest

    with _pytest.raises(ValueError, match="NFC"):
        normalize_text(docs, form="bogus")


def test_compression_ratio_orders_boilerplate_below_prose(spark):
    """The information-density property the filter relies on: heavily
    repetitive text compresses to a much smaller ratio than varied
    prose; empty/null docs yield null; values are deterministic."""
    from automation_of_building_a_transactional_data_lake_spark.operators.textstats import (
        with_compression_ratio,
    )

    docs = spark.createDataFrame(
        [
            (1, "spam " * 200),
            (2, "The quick brown fox jumps over the lazy dog while seventeen "
                "violet zeppelins quietly hummed beyond frozen jagged cliffs."),
            (3, ""),
            (4, None),
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r.compression_ratio for r in with_compression_ratio(docs).collect()}
    assert got[3] is None and got[4] is None
    assert got[1] < 0.1 < got[2] <= 1.2
    got2 = {r.doc_id: r.compression_ratio for r in with_compression_ratio(docs).collect()}
    assert got == got2  # deterministic


def test_pca_project_matches_numpy_subspace(spark):
    """PCA projection agreement with a pure-numpy ground truth on the
    full (small) dataset: same component subspace (|cosine| ≈ 1 per
    component), variance concentrated in the leading dims, projected
    width k, deterministic across calls, and layout-independent."""
    import numpy as np

    from automation_of_building_a_transactional_data_lake_spark.operators.similarity import (
        pca_project,
    )

    rng = np.random.RandomState(3)
    # Anisotropic cloud: variance mostly in two planted directions.
    basis = rng.randn(2, 8)
    raw = rng.randn(200, 2) * np.array([10.0, 4.0]) @ basis + rng.randn(200, 8) * 0.1
    df = spark.createDataFrame(
        [(i, [float(x) for x in raw[i]]) for i in range(200)],
        "vec_id long, embedding array<double>",
    )
    proj, comps, mean = pca_project(df, k=2, sample_rows=1000)
    rows = {r.vec_id: r.embedding for r in proj.collect()}
    assert all(len(v) == 2 for v in rows.values())

    # numpy ground truth over the same data.
    mat = raw - raw.mean(axis=0)
    _u, s, vt = np.linalg.svd(mat, full_matrices=False)
    for i in range(2):
        cos = abs(float(comps[i] @ vt[i]) / (np.linalg.norm(comps[i]) * np.linalg.norm(vt[i])))
        assert cos > 0.999, i
    # Projection reproduces numpy's up to the canonical signs.
    want = mat @ comps.T
    got = np.array([rows[i] for i in range(200)])
    assert np.allclose(got, want, atol=1e-8)
    # Deterministic + layout-independent.
    proj2, comps2, _m2 = pca_project(df.repartition(5), k=2, sample_rows=1000)
    assert np.allclose(comps, comps2)
    import pytest as _pytest

    with _pytest.raises(ValueError, match="k must be"):
        pca_project(df, k=99)


def test_embedding_near_dup_clusters_compose(spark):
    """The dedup CLUSTERING stage composes with the EMBEDDING near-dup
    family exactly as with text: hyperplane-LSH cosine pairs feed
    connected_components, and the resulting clusters equal a
    pure-python union-find over the exact pair set."""
    import numpy as np

    from automation_of_building_a_transactional_data_lake_spark.operators.dedup import (
        connected_components,
    )
    from automation_of_building_a_transactional_data_lake_spark.operators.similarity import (
        lsh_near_pairs,
    )

    rng = np.random.RandomState(11)
    dim = 16
    base = rng.randn(6, dim)
    rows = []
    vid = 0
    groups = []
    for g in range(6):
        members = []
        for _ in range(3):  # three near-identical copies per group
            v = base[g] + rng.randn(dim) * 0.01
            rows.append((vid, [float(x) for x in v / np.linalg.norm(v)]))
            members.append(vid)
            vid += 1
        groups.append(members)
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    pairs = lsh_near_pairs(df, dim=dim, threshold=0.95)
    clusters = {
        r.doc_id: r.cluster_id for r in connected_components(pairs).collect()
    }
    for members in groups:
        labels = {clusters[m] for m in members}
        assert labels == {min(members)}, members
    # No cross-group merges: 6 distinct cluster labels.
    assert len(set(clusters.values())) == 6


def test_winnow_fingerprints_twin_agreement_and_guarantee(spark):
    """Winnowing (rolling-hash fingerprinting): the Arrow UDF path is
    BIT-IDENTICAL to the pure-expression reference twin; the selection
    guarantee holds (two docs sharing a passage of length >= k+w-1
    share a fingerprint); the pair report finds the planted overlap
    without all-pairs work; tiny docs never drop out."""
    from pyspark.sql import functions as F

    from automation_of_building_a_transactional_data_lake_spark.operators.dedup import (
        winnow_fingerprints,
        winnow_fingerprints_col,
        winnow_shared_pairs,
    )

    shared = "the identical plagiarized passage travels verbatim here"
    docs = spark.createDataFrame(
        [
            (1, f"alpha opening words. {shared} and an ending one"),
            (2, f"totally different start! {shared} closing remarks"),
            (3, "unrelated text with no overlap whatsoever in it"),
            (4, "tiny"),  # shorter than k: whole-text fingerprint
        ],
        "doc_id long, text string",
    )
    udf_rows = sorted(
        map(tuple, winnow_fingerprints(docs).collect())
    )
    ref_rows = sorted(
        map(
            tuple,
            docs.select(
                "doc_id",
                F.explode(winnow_fingerprints_col(F.col("text"))).alias(
                    "fingerprint"
                ),
            ).collect(),
        )
    )
    assert udf_rows == ref_rows  # production twin is bit-identical
    assert any(d == 4 for d, _ in udf_rows)  # tiny doc kept

    pairs = {
        (r.id_a, r.id_b): r.n_shared
        for r in winnow_shared_pairs(docs, min_shared=2).collect()
    }
    assert (1, 2) in pairs and pairs[(1, 2)] >= 2  # planted overlap found
    assert all(3 not in p for p in pairs)  # no false pair with doc 3


def test_winnow_fast_twin_guarantee_and_determinism(spark):
    """The vectorized rolling-hash scale path (hash='fast', r10
    verdict #4): its own hash family, so no bit-parity with md5 — the
    gates are the winnowing GUARANTEE (planted shared passage of
    >= k+w-1 bytes shares a fingerprint; disjoint docs share none),
    determinism across runs, tiny-doc retention, and non-negative
    long-safe values."""
    from automation_of_building_a_transactional_data_lake_spark.operators.dedup import (
        winnow_fingerprints,
    )

    shared = "the identical plagiarized passage travels verbatim here"
    docs = spark.createDataFrame(
        [
            (1, f"alpha opening words. {shared} and an ending one"),
            (2, f"totally different start! {shared} closing remarks"),
            (3, "unrelated text with no overlap whatsoever in it"),
            (4, "tiny"),
        ],
        "doc_id long, text string",
    )
    fp = winnow_fingerprints(docs, hash="fast")
    rows1 = sorted(map(tuple, fp.collect()))
    rows2 = sorted(map(tuple, winnow_fingerprints(docs, hash="fast").collect()))
    assert rows1 == rows2  # deterministic
    assert all(v >= 0 for _d, v in rows1)  # >>1 keeps long non-negative
    by_doc: dict[int, set] = {}
    for d, v in rows1:
        by_doc.setdefault(d, set()).add(v)
    assert by_doc[1] & by_doc[2]           # guarantee: shared passage
    assert not (by_doc[1] & by_doc[3])     # disjoint docs: no collision
    assert by_doc[4]                       # tiny doc kept
    import pytest as _pytest

    with _pytest.raises(ValueError, match="md5|fast"):
        winnow_fingerprints(docs, hash="sha1")


# -- r15: document chunking ------------------------------------------------

def test_chunk_documents_boundaries_and_reconstruction(spark):
    """Chunk i covers [i*stride, i*stride + size); stripping the
    overlap from every chunk but the first and concatenating
    reconstructs the original text exactly (the invariant RAG
    pipelines rely on); empty text yields one empty chunk; null text
    yields no rows; parameter guards refuse."""
    import pytest as _pytest

    from automation_of_building_a_transactional_data_lake_spark.operators.chunking import chunk_documents

    docs = spark.createDataFrame(
        [
            (1, "a" * 10),          # shorter than one chunk
            (2, "x" * 200),         # exactly one chunk
            (3, "".join(chr(97 + i % 26) for i in range(553))),
            (4, ""),                # empty: one empty chunk
            (5, None),              # null: no rows
            (6, "y" * 360),         # len == size + stride: exactly 2
        ],
        "doc_id long, text string",
    )
    ch = chunk_documents(docs, "text", size=200, overlap=40)
    rows = sorted(
        ((r.doc_id, r.chunk_id, r.chunk) for r in ch.collect())
    )
    by_doc: dict[int, list[str]] = {}
    for did, cid, chunk in rows:
        assert cid == len(by_doc.get(did, []))  # dense 0-based ids
        by_doc.setdefault(did, []).append(chunk)
    assert len(by_doc[1]) == 1 and by_doc[1][0] == "a" * 10
    assert len(by_doc[2]) == 1 and by_doc[2][0] == "x" * 200
    assert len(by_doc[6]) == 2 and by_doc[6][1] == "y" * 200
    assert by_doc[4] == [""]
    assert 5 not in by_doc
    # 553 chars -> 1 + ceil(353/160) = 4 chunks; reconstruction.
    assert len(by_doc[3]) == 4
    originals = {r.doc_id: r.text for r in docs.collect() if r.text is not None}
    for did, chunks in by_doc.items():
        rebuilt = chunks[0] + "".join(c[40:] for c in chunks[1:])
        assert rebuilt == originals[did], f"doc {did} reconstruction"
        # every chunk but the last is full-size
        assert all(len(c) == 200 for c in chunks[:-1])
    with _pytest.raises(ValueError, match="overlap"):
        chunk_documents(docs, "text", size=100, overlap=100)
    with _pytest.raises(ValueError, match="size"):
        chunk_documents(docs, "text", size=0)


def test_semantic_dedup_matches_numpy_model(spark):
    """semantic_dedup ≡ the keep-first model: drop v iff a lower-id
    same-cluster vector has cosine >= t; assignment is argmax cosine
    with ties to the lowest centroid id; single-cluster mode prunes
    globally; guards refuse bad thresholds."""
    import numpy as np
    import pytest as _pytest

    from automation_of_building_a_transactional_data_lake_spark.operators.semdedup import semantic_dedup

    rng = np.random.default_rng(7)
    base = rng.normal(size=(6, 8))
    vecs = [base[i % 6] + rng.normal(scale=0.05, size=8) for i in range(48)]
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = df.filter("vec_id < 3").selectExpr(
        "vec_id AS c_id", "embedding AS c_vec"
    )

    def cos(a, b):
        return float(np.dot(a, b) / (np.linalg.norm(a) * np.linalg.norm(b)))

    t = 0.8
    # Model: assignment then keep-first.
    cvecs = {i: np.array(vecs[i]) for i in range(3)}
    assign = {}
    for i, v in enumerate(vecs):
        sims = sorted(
            ((cos(np.array(v), cv), -c) for c, cv in cvecs.items()),
            reverse=True,
        )
        assign[i] = -sims[0][1]
    expect = {}
    for i in range(len(vecs)):
        dropped = any(
            assign[j] == assign[i]
            and cos(np.array(vecs[j]), np.array(vecs[i])) >= t
            for j in range(i)
        )
        if not dropped:
            expect[i] = assign[i]

    kept = semantic_dedup(df, threshold=t, centroids=cents)
    got = {r.vec_id: r.cluster for r in kept.collect()}
    assert got == expect

    # Single-cluster mode: global keep-first.
    expect_g = [
        i for i in range(len(vecs))
        if not any(cos(np.array(vecs[j]), np.array(vecs[i])) >= t
                   for j in range(i))
    ]
    kept_g = semantic_dedup(df, threshold=t)
    assert sorted(r.vec_id for r in kept_g.collect()) == expect_g
    # The clustered run can only keep MORE (pairs across clusters are
    # never compared) — SemDeDup's approximation direction.
    assert set(expect_g) <= set(expect)

    with _pytest.raises(ValueError, match="threshold"):
        semantic_dedup(df, threshold=1.5)


def test_html_extract_spec(spark):
    """r16: HTML boilerplate removal — the published SPEC on
    adversarial shapes: script/style/comment content gone, block
    closers become newlines, entities decode in the double-decode-safe
    order (&amp;lt; stays &lt;), malformed '<' passes through, title
    extracts entity-decoded, and the DuckDB oracle restatement
    (html_oracle_sql) agrees byte-for-byte on every case."""
    import duckdb

    from automation_of_building_a_transactional_data_lake_spark.operators.html import (
        extract_html_text,
        extract_html_title,
        html_oracle_sql,
    )
    from pyspark.sql import functions as F

    cases = [
        "<html><head><title>T &amp; t</title><style>p{}</style></head>"
        "<body><p>Hello &lt;world&gt;</p><script>x()</script>"
        "<div>A  B</div><ul><li>i1</li><li>i2</li></ul></body></html>",
        "plain text no tags",
        "<p>broken < not a tag</p>",
        "a<br/>b<BR>c",
        "&amp;lt; stays",
        "<!-- c --><P>x</P>",
        "<div>multi\n\n\n\nnewlines</div><p>tail</p>",
        "<TABLE><tr><td>a</td></tr><tr><td>b</td></tr></TABLE>",
        "<script>a</script in weird places",
        "",
        # r16 review: U+017F folds to 's' under RE2's (?i) but not
        # Java's — explicit [sS] classes keep BOTH engines from
        # treating <ſcript> as a script element (its tags strip
        # as generic tags; its content stays).
        "<ſcript>x()</ſcript><p>kept</p>",
        # \x0B sits inside Java's \s but outside RE2's — the explicit
        # whitespace class keeps it literal in BOTH engines.
        "<title>a\x0bb</title><p>c\x0bd</p>",
    ]
    df = spark.createDataFrame(
        [(i, c) for i, c in enumerate(cases)], "i int, h string"
    )
    got = {
        r.i: (r.t, r.ti)
        for r in df.select(
            "i",
            extract_html_text("h").alias("t"),
            extract_html_title("h").alias("ti"),
        ).collect()
    }
    assert got[0][0] == "T & t\nHello <world>\nA B\ni1\ni2"
    assert got[0][1] == "T & t"
    assert got[1][0] == "plain text no tags"
    assert got[2][0] == "broken < not a tag"
    assert got[3][0] == "a\nb\nc"
    assert got[4][0] == "&lt; stays"
    assert got[5][0] == "x"
    assert got[7][0] == "a\nb"
    assert got[9] == ("", "")
    assert got[10][0] == "x()kept"  # NOT stripped as a script element
    assert got[11] == ("a\x0bb\nc\x0bd", "a\x0bb")  # \x0B stays literal

    from automation_of_building_a_transactional_data_lake_spark.operators.html import (
        html_title_oracle_sql,
    )

    con = duckdb.connect()
    expr = html_oracle_sql("h")
    texpr = html_title_oracle_sql("h")
    for i, c in enumerate(cases):
        want_t, want_ti = con.sql(
            f"SELECT {expr} AS t, {texpr} AS ti FROM (SELECT ? AS h)",
            params=[c],
        ).fetchone()
        assert got[i][0] == want_t, (i, got[i][0], want_t)
        assert got[i][1] == want_ti, (i, got[i][1], want_ti)


# -- Plan-shape and numeric guards of the operator optimizations ----------


def _formatted_plan(df) -> str:
    jvm = df.sparkSession._jvm
    return df._jdf.queryExecution().explainString(
        jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def _emb(spark):
    return spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )


def test_similarity_verify_stage_is_repartitioned(spark):
    """The exact-verify stage of the prefix join must fan out across
    the session parallelism: candidate pairs are tiny in bytes but
    CPU-heavy per row, and AQE's byte-based coalescing would otherwise
    verify on ~one task (1.6 s -> 0.2 s at sf0.1). Pinned by the
    explicit hashpartitioning(id_a, id_b) exchange in the plan."""
    from automation_of_building_a_transactional_data_lake_spark.operators.dedup import (
        ngram_jaccard_prefix_pairs,
    )

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta epsilon zeta {i}") for i in range(30)],
        "doc_id long, text string",
    )
    plan = _formatted_plan(
        ngram_jaccard_prefix_pairs(docs, threshold=0.7, materialize="none")
    )
    assert "hashpartitioning(id_a" in plan and "REPARTITION_BY_NUM" in plan, plan


def test_tokenize_evaluates_once_per_projection(spark):
    """Higher-order-function lambdas defeat Catalyst CSE, so a stat
    column that inlines the tokenize re-runs it per use; the operators
    alias the token array into its own projection instead. Guard: the
    lang-id plan carries exactly one tokenize of the text column (the
    formatted plan prints the tree and the operator details, so the
    split expression may appear at most twice)."""
    docs = spark.createDataFrame(
        [(1, "the quick brown fox und der baum")], "doc_id long, text string"
    )
    plan = _formatted_plan(with_lang_id(docs).select("doc_id", "lang_pred"))
    assert 1 <= plan.count("split(lower(text") <= 2, plan


def test_materialize_local_is_lazy(spark):
    """_materialize(mode='local') must not launch its own job — the
    first consuming action computes and stores the frame in one pass
    (one job launch saved per materialize point)."""
    from automation_of_building_a_transactional_data_lake_spark.operators.dedup import (
        _materialize,
    )

    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    m = _materialize(spark.range(100).select((F.col("id") * 2).alias("v")), "local")
    assert set(tracker.getJobIdsForGroup(None)) == before  # no eager job
    assert m.count() == 100  # consuming action materializes it


def test_spread_width_decision(spark, tmp_path):
    """_spread must judge width with Spark's split-packing math, not
    the raw file count: a single tiny file estimates to one split and
    repartitions; the same file under a small maxPartitionBytes
    estimates to >= parallelism splits and is left alone (the
    one-huge-file case, scaled down)."""
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

    # The file-based shortcut only applies to narrow-over-scan plans:
    # a shuffle above the scan changes the frame's partitioning, so
    # those fall back to the exact RDD probe.
    narrow = one.filter("vec_id > 3").select("vec_id", "embedding")
    assert _is_narrow_over_scan(narrow)
    assert not _is_narrow_over_scan(one.groupBy("vec_id").count())
    assert not _is_narrow_over_scan(one.join(one.select("vec_id"), "vec_id"))


def test_ivf_batch_arrow_eval_once_per_side(spark):
    """The IVF batch path must evaluate each Arrow UDF exactly once:
    the equi-join's pushed isnotnull(cluster_id) filter and the
    explode's size(__probe)>0 filter used to duplicate the
    ArrowEvalPython below the pushed filter, running the full corpus
    matmul twice per side (the earlier plan carried 4 Arrow nodes).
    asNondeterministic pins single evaluation."""
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
    (a select('*', ...) form made a chained call raise
    ambiguous-reference errors downstream)."""
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
    exceptAll probes into one symmetric-difference job: the
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
    similarity path, not just the materialize='none' plan pinned
    above. distinct-then-repartition let the optimizer elide
    the user shuffle (the distinct's output was already hash-
    partitioned on the same keys), leaving an ENSURE_REQUIREMENTS
    exchange that AQE coalesced back to ~one task — re-serializing the
    CPU-heavy verify stage. The repartition now sits BELOW the
    distinct, so the plan must carry its REPARTITION_BY_NUM shuffle
    (AQE never coalesces a user-fixed partition count) and, once
    executed, no coalesced shuffle read may feed the verify stage."""
    from automation_of_building_a_transactional_data_lake_spark.operators.dedup import (
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

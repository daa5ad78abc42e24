"""HLL sketch: accuracy within the published error bound and the
linear-counting branch for sparse registers."""
import pytest


@pytest.mark.parametrize("n", [40, 400, 4000])
def test_hll_accuracy(spark, n):
    from pyproj_spark.operators.sketch import hll_distinct, M
    df = spark.range(n * 3).selectExpr("'g' AS g",
                                       f"id % {n} AS v")
    got = hll_distinct(df, "g", "v").toPandas()
    est = got["hll_est"][0]
    # 3 sigma of HLL's 1.04/sqrt(m) standard error, plus small-n slack
    assert abs(est - n) / n < 3 * 1.04 / (M ** 0.5) + 0.02
    if n < M:  # sparse registers must take the linear-counting branch
        assert got["zeros"][0] > 0


def test_hll_deterministic_across_partitionings(spark):
    """Register max is associative/commutative: the estimate must not
    depend on how the input is partitioned (the merge property that
    makes the sketch shippable across executors/days)."""
    from pyproj_spark.operators.sketch import hll_distinct
    base = spark.range(2000).selectExpr("'g' AS g", "id % 700 AS v")
    a = hll_distinct(base.repartition(1), "g", "v").toPandas()
    b = hll_distinct(base.repartition(13, "v"), "g", "v").toPandas()
    assert a["hll_est"][0] == b["hll_est"][0]
    assert a["zeros"][0] == b["zeros"][0]


def test_cm_overcounts_only(spark):
    """Count-Min estimates are one-sided: est >= true count for every
    item, and equals it when no collision occurred."""
    from pyproj_spark.operators.sketch import cm_topk
    rows = [(f"tok{i % 37}",) for i in range(1000)] + [("rare",)]
    df = spark.createDataFrame(rows, ["token"])
    got = cm_topk(df, "token", k=50).toPandas()
    import collections
    true = collections.Counter(t for t, in rows)
    for _, r in got.iterrows():
        assert r["est"] >= true[r["value"]]


def test_bloom_no_false_negatives(spark):
    """Every reference member must probe true (bloom's hard
    guarantee), including duplicated probe values."""
    from pyproj_spark.operators.sketch import bloom_probe
    ref = spark.createDataFrame([(f"m{i}",) for i in range(50)], ["v"])
    probe = spark.createDataFrame(
        [(i, f"m{i % 80}") for i in range(400)], ["pid", "v"])
    got = bloom_probe(ref, probe, "v").toPandas()
    members = got[got["v"].str[1:].astype(int) < 50]
    assert members["bloom_hit"].all()


def test_bloom_nulls_are_never_members(spark):
    """A NULL reference value sets no bit, and a NULL probe value is
    a miss (False, not NULL)."""
    from pyproj_spark.operators.sketch import bloom_probe
    ref = spark.createDataFrame([("a",), (None,)], "v string")
    probe = spark.createDataFrame([("a",), ("b",), (None,)], "v string")
    got = [tuple(r) for r in bloom_probe(ref, probe, "v").collect()]
    assert got == [("a", True), ("b", False), (None, False)]


def test_bottomk_quantiles_accuracy_and_invariance(spark):
    """Sketch quantiles must land within O(1/sqrt(k)) rank error of
    the exact quantiles and be identical across partitionings
    (bottom-k merges like a sketch)."""
    from pyproj_spark.operators.sketch import bottomk_quantiles
    n = 20000
    df = spark.range(n).selectExpr("id AS event_id",
                                   "CAST(id AS DOUBLE) AS value")
    got = bottomk_quantiles(df, "value", "event_id").toPandas() \
        .set_index("q")
    for q in (0.5, 0.9, 0.99):
        rank_err = abs(got.loc[q, "est"] / (n - 1) - q)
        assert rank_err < 0.06, (q, got.loc[q, "est"])
    got2 = bottomk_quantiles(df.repartition(17), "value",
                             "event_id").toPandas().set_index("q")
    assert (got["est"] == got2["est"]).all()


def test_weighted_sample_prefers_heavy_rows(spark):
    """A-Res: a row with overwhelming weight must always be kept; the
    kept set is exactly k per stratum and partitioning-invariant."""
    from pyproj_spark.operators.sampling import weighted_sample
    rows = [(i, "a", 1.0) for i in range(200)] + [(999, "a", 1e9)]
    df = spark.createDataFrame(rows, ["doc_id", "lang", "w"])
    got = weighted_sample(df, k=10, weight_col="w",
                          stratum_col="lang").toPandas()
    assert len(got) == 10
    assert 999 in set(got["doc_id"])
    got2 = weighted_sample(df.repartition(7), k=10, weight_col="w",
                           stratum_col="lang").toPandas()
    assert set(got["doc_id"]) == set(got2["doc_id"])


def test_sq8_quantized_topk_recall(spark):
    """int8 scalar quantization must preserve neighborhood structure:
    SQ8 top-5 by integer dot overlaps the exact float-dot top-5 for
    most queries, and codes stay in [-128, 127]."""
    from pyspark.sql import functions as F
    from pyproj_spark.operators.similarity import (sq8_codes,
                                                   sq8_stats, sq8_topk)
    emb = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 8).withColumnRenamed(
        "vec_id", "qid")

    codes = sq8_codes(emb, sq8_stats(emb), "vec_id")
    rng = codes.select(
        F.min(F.array_min("codes")).alias("lo"),
        F.max(F.array_max("codes")).alias("hi")).collect()[0]
    assert rng.lo >= -128 and rng.hi <= 127

    got = sq8_topk(emb, q, k=5).collect()
    import numpy as np
    vecs = {r.vec_id: np.array(r.embedding, dtype=np.float64)
            for r in emb.collect()}
    hits = total = 0
    for qid in range(8):
        exact = sorted(((float(vecs[i] @ vecs[qid]), i)
                        for i in vecs if i != qid), reverse=True)[:5]
        exact_ids = {i for _, i in exact}
        got_ids = {r.vec_id for r in got if r.qid == qid}
        assert len(got_ids) == 5
        hits += len(exact_ids & got_ids)
        total += 5
    assert hits / total >= 0.8


def test_pq_adc_approximates_true_distance(spark):
    """Trained-codebook PQ must (a) emit valid 0-based codes, (b)
    use all/most codebook entries (training worked), and (c) recall
    most of the true-nearest set through 64x-compressed codes."""
    from pyspark.sql import functions as F
    from pyproj_spark.operators.similarity import (
        PQ_K, PQ_M, pq_adc_topk, pq_codes, pq_train)
    emb = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 8).withColumnRenamed(
        "vec_id", "qid")

    cbs = pq_train(emb)
    codes = pq_codes(emb, cbs, "vec_id").collect()
    import collections
    for m in range(PQ_M):
        vals = [r[f"code{m}"] for r in codes]
        assert all(0 <= v < PQ_K for v in vals)
        # Lloyd-trained codebooks must actually spread the data
        assert len(collections.Counter(vals)) >= PQ_K // 2

    got = pq_adc_topk(emb, q, k=5).collect()
    import numpy as np
    vecs = {r.vec_id: np.array(r.embedding, dtype=np.float64)
            for r in emb.collect()}
    hits = total = 0
    for qid in range(8):
        true = sorted(((float(((vecs[i] - vecs[qid]) ** 2).sum()), i)
                       for i in vecs if i != qid))[:20]
        true_ids = {i for _, i in true}
        got_ids = {r.vec_id for r in got if r.qid == qid}
        assert len(got_ids) == 5
        hits += len(true_ids & got_ids)
        total += 5
    # one-pass-Lloyd PQ at 64x compression: top-5 should mostly land
    # inside the true top-20 neighborhood
    assert hits / total >= 0.5


def test_ivfpq_candidates_come_from_probed_cells(spark):
    """IVF-PQ soundness: every returned neighbor belongs to one of
    the query's nprobe coarse cells (pruning is real), and results
    within the probed cells equal a brute ADC over those cells."""
    from pyspark.sql import functions as F
    from pyproj_spark.operators.similarity import (
        _dot_const, _plane_components_py, ivfpq_topk)
    import numpy as np
    emb = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 8).withColumnRenamed(
        "vec_id", "qid")
    got = ivfpq_topk(emb, q, k=5, n_centroids=8, nprobe=2).collect()

    cents = np.array([_plane_components_py(j, 64) for j in range(8)])
    vecs = {r.vec_id: np.array(r.embedding, dtype=np.float64)
            for r in emb.collect()}
    cell = {i: int(np.argmax(cents @ v)) for i, v in vecs.items()}
    for qid in range(8):
        scores = cents @ vecs[qid]
        order = sorted(range(8), key=lambda j: (-scores[j], j))
        probed = set(order[:2])
        got_ids = [r.vec_id for r in got if r.qid == qid]
        assert len(got_ids) == 5
        for i in got_ids:
            assert cell[i] in probed
        # pruning is real: some corpus vectors are OUTSIDE the probes
        assert sum(1 for i in vecs if cell[i] in probed) < len(vecs)

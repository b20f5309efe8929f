"""SemDeDup (operators/semdedup.py): the kept-verdicts must equal a
pure-Python replay of the rule (cluster -> within-cluster cosine >= tau
-> dominated-by-(farther-from-centroid, then lower-id) pruning), be
partition-count independent, and actually drop something on the fixture
(which carries planted near-dups)."""

from __future__ import annotations

import math
from collections import defaultdict

import pytest
from pyspark.sql import functions as F

from conftest import SF_DIR

from etl_pipeline_mini_project_01_spark.catalog import load_table
from etl_pipeline_mini_project_01_spark.operators.kmeans import (
    kmeans_fit,
    kmeans_transform,
)
from etl_pipeline_mini_project_01_spark.operators.semdedup import semdedup

K, ITERS, TAU = 4, 1, 0.3


@pytest.fixture(scope="module")
def emb(spark):
    return load_table(spark, SF_DIR, "embeddings")


def _cos(a, b):
    # Same arithmetic as the operator: per-component normalization
    # (one IEEE division each), then a sequential dot fold.
    na = math.sqrt(sum(x * x for x in a))
    nb = math.sqrt(sum(y * y for y in b))
    return sum((x / na) * (y / nb) for x, y in zip(a, b))


def _rule_replay(by_cluster, tau):
    """{vec_id: kept} from {cluster: [(vec_id, centroid_dist, vec)]}:
    a member is dropped when a same-cluster neighbor with cosine >= tau
    dominates it (farther from the centroid; ties -> lower id)."""
    kept = {}
    for members in by_cluster.values():
        for vid, dist, vec in members:
            dominated = any(
                _cos(vec, ovec) >= tau
                and (odist > dist or (odist == dist and ovid < vid))
                for ovid, odist, ovec in members if ovid != vid)
            kept[vid] = not dominated
    return kept


def _python_model(spark, emb, k=K, iters=ITERS, tau=TAU):
    """Replay the rule in plain Python from the fitted assignment:
    ({vec_id: kept}, {vec_id: cluster})."""
    cents, dim = kmeans_fit(emb, k=k, iters=iters)
    rows = (kmeans_transform(emb, cents, dim)
            .join(emb.select("vec_id", "embedding"), "vec_id")
            .collect())
    by_cluster = defaultdict(list)
    for r in rows:
        by_cluster[r.cluster].append(
            (r.vec_id, r.centroid_dist, [float(v) for v in r.embedding]))
    return (_rule_replay(by_cluster, tau),
            {r.vec_id: r.cluster for r in rows})


def test_matches_python_model(spark, emb):
    got = {r.vec_id: r.kept
           for r in semdedup(emb, k=K, iters=ITERS, threshold=TAU).collect()}
    want, _ = _python_model(spark, emb)
    assert got == want
    assert not all(got.values()), "fixture's planted near-dups must prune"
    assert any(got.values())


def test_partition_count_invariant(spark, emb):
    outs = [
        sorted((r.vec_id, r.cluster, r.kept)
               for r in semdedup(emb.repartition(p), k=K, iters=ITERS,
                                 threshold=TAU).collect())
        for p in (1, 6)
    ]
    assert outs[0] == outs[1]


def test_strategies_bit_identical(spark, emb):
    """At the registered row's operating point (k=8, iters=2,
    tau=0.35) the grouped verdict kernel must reproduce the dominance
    rule replayed in Python from the engine's own assignment, verdict
    AND cluster for every row: fold-order norms and dots
    (operators/foldmath.py) make every cosine - and therefore every
    threshold and dominance outcome - bit-equal to the replay's."""
    k, iters, tau = 8, 2, 0.35
    got = {r.vec_id: (r.cluster, r.kept)
           for r in semdedup(emb, k=k, iters=iters,
                             threshold=tau).collect()}
    kept, cluster = _python_model(spark, emb, k, iters, tau)
    assert got == {vid: (cluster[vid], kept[vid]) for vid in kept}
    assert not all(kept.values())


def test_grouped_strategy_blockwise_matches_single_block(spark, emb):
    """The blockwise dot must not change verdicts at block boundaries."""
    from etl_pipeline_mini_project_01_spark.operators import semdedup as sd

    orig = sd.PAIR_BLOCK
    try:
        sd.PAIR_BLOCK = 7  # force many partial blocks
        small = sorted((r.vec_id, r.kept) for r in
                       semdedup(emb, k=K, iters=ITERS,
                                threshold=TAU).collect())
    finally:
        sd.PAIR_BLOCK = orig
    big = sorted((r.vec_id, r.kept) for r in
                 semdedup(emb, k=K, iters=ITERS, threshold=TAU).collect())
    assert small == big


def test_cluster_balanced_sample_quota(spark, emb):
    """sample_cluster_balanced: exactly min(quota, cluster_size) kept
    per cluster, ranks dense from 1, verdicts deterministic."""
    from etl_pipeline_mini_project_01_spark.plans.registry import (
        QUERIES,
        load_all_plans,
    )

    load_all_plans()
    rows = QUERIES["sample_cluster_balanced"](spark, SF_DIR).collect()
    by_cluster = defaultdict(list)
    for r in rows:
        by_cluster[r.cluster].append(r)
    for members in by_cluster.values():
        kept = [r for r in members if r.kept]
        assert len(kept) == min(30, len(members))
        ranks = sorted(r.pick_rank for r in members)
        assert ranks == list(range(1, len(members) + 1))


def test_twolevel_semdedup_matches_rule_replay(spark, emb):
    """semdedup_twolevel: the dominance rule replayed in Python from the
    engine's OWN two-level assignment (leaf = cluster, fine_dist =
    centroid distance) must reproduce every verdict - proving the
    composition changed the bounding device, not the dedup rule."""
    from etl_pipeline_mini_project_01_spark.operators.kmeans import (
        kmeans_fit_twolevel,
        kmeans_transform_twolevel,
    )
    from etl_pipeline_mini_project_01_spark.operators.semdedup import (
        semdedup_twolevel,
    )

    k1, k2 = 3, 2
    coarse, fine, dim = kmeans_fit_twolevel(emb, k1=k1, k2=k2)
    rows = (kmeans_transform_twolevel(emb, coarse, fine, dim)
            .join(emb.select("vec_id", "embedding"), "vec_id")
            .collect())
    by_leaf = defaultdict(list)
    for r in rows:
        by_leaf[r.coarse * k2 + r.fine].append(
            (r.vec_id, r.fine_dist, [float(v) for v in r.embedding]))
    expect = _rule_replay(by_leaf, TAU)

    got = {r.vec_id: r.kept
           for r in semdedup_twolevel(emb, k1=k1, k2=k2,
                                      threshold=TAU).collect()}
    assert got == expect


def test_miss_audit_blind_spot_is_exactly_cross_cluster(spark, emb):
    """Cross-operator consistency between SemDeDup (E33) and the miss
    audit (E42), at the registered-query operating point (k=8, iters=2,
    tau=0.35): for every ground-truth pair (brute-force cosine >= tau),
    if both members share a cluster the dominance rule MUST have
    dropped at least one of them (the more-peripheral member always
    dominates the other), while pairs that straddle clusters can keep
    both members - and on the fixture some do, which is precisely the
    blind-spot fraction semdedup_miss_audit reports."""
    from etl_pipeline_mini_project_01_spark.operators.semdedup import (
        normalized_vectors,
        pair_dot,
    )

    k, iters, tau = 8, 2, 0.35
    sd = semdedup(emb, k=k, iters=iters, threshold=tau)
    nv = normalized_vectors(emb)
    a = nv.select(F.col("vec_id").alias("id_a"), F.col("nv").alias("nv_a"))
    b = nv.select(F.col("vec_id").alias("id_b"), F.col("nv").alias("nv_b"))
    pairs = (a.join(b, F.col("id_a") < F.col("id_b"))
             .withColumn("_dot", pair_dot("nv_a", "nv_b"))
             .filter(F.col("_dot") >= tau)
             .select("id_a", "id_b"))
    j = (pairs
         .join(sd.select(F.col("vec_id").alias("id_a"),
                         F.col("cluster").alias("cl_a"),
                         F.col("kept").alias("kept_a")), "id_a")
         .join(sd.select(F.col("vec_id").alias("id_b"),
                         F.col("cluster").alias("cl_b"),
                         F.col("kept").alias("kept_b")), "id_b"))
    same_both_kept = j.filter(
        (F.col("cl_a") == F.col("cl_b"))
        & F.col("kept_a") & F.col("kept_b")).count()
    assert same_both_kept == 0
    # The blind spot is real on the fixture: straddling near-dup pairs
    # survive whole (else the audit would be measuring nothing).
    straddle_both_kept = j.filter(
        (F.col("cl_a") != F.col("cl_b"))
        & F.col("kept_a") & F.col("kept_b")).count()
    assert straddle_both_kept > 0


def test_miss_audit_sampled_mode_is_deterministic_subset(spark):
    """The 100 TB QA-sample mode (plans/similarity.miss_audit_sampled):
    md5-threshold vector sampling is deterministic (same rows across
    partitionings), the sampled pair count can only shrink, the output
    contract is unchanged, and sample_frac=1.0 reproduces the
    registered row exactly."""
    from etl_pipeline_mini_project_01_spark.plans.similarity import (
        miss_audit_sampled,
        semdedup_miss_audit,
    )

    full = {r.model: r for r in semdedup_miss_audit(spark, SF_DIR).collect()}
    again = {r.model: tuple(r)
             for r in miss_audit_sampled(spark, SF_DIR, 1.0).collect()}
    assert again == {m: tuple(r) for m, r in full.items()}

    half = {r.model: r
            for r in miss_audit_sampled(spark, SF_DIR, 0.5).collect()}
    rerun = {r.model: tuple(r)
             for r in miss_audit_sampled(spark, SF_DIR, 0.5).collect()}
    assert rerun == {m: tuple(r) for m, r in half.items()}  # deterministic
    for m in ("flat", "twolevel"):
        assert half[m].n_pairs <= full[m].n_pairs
        assert half[m].n_straddle <= half[m].n_pairs
        assert set(half[m].asDict()) == set(full[m].asDict())


def test_norm_dot_fuses_bit_identically(spark, emb):
    """The fused Arrow norm+dot kernel (r14, the ANN-probe / rerank
    scoring tail) must be bit-identical to the expression chain it
    replaced (_n2 HOF fold -> transform divide -> pair_dot), and the
    vectorized normalized_vectors kernel to its expression form -
    repr-level equality so even last-ulp drift fails."""
    from pyspark.sql import functions as F

    from etl_pipeline_mini_project_01_spark.operators.semdedup import (
        norm_dot, normalized_vectors, pair_dot)

    q = (normalized_vectors(emb.filter("vec_id < 3"))
         .select(F.col("vec_id").alias("query_id"),
                 F.col("nv").alias("qnv")))
    pairs = emb.crossJoin(F.broadcast(q))
    old = {(r[0], r[1]): repr(r[2]) for r in (
        pairs
        .withColumn("_n2", F.aggregate(
            "embedding", F.lit(0.0),
            lambda a, v: a + v.cast("double") * v.cast("double")))
        .withColumn("nv", F.transform(
            "embedding", lambda x: x.cast("double") / F.sqrt("_n2")))
        .withColumn("score", pair_dot("qnv", "nv"))
        .select("query_id", "vec_id", "score").collect())}
    new = {(r[0], r[1]): repr(r[2]) for r in (
        pairs.withColumn("score", norm_dot("embedding", "qnv"))
        .select("query_id", "vec_id", "score").collect())}
    assert old == new and len(old) > 0

    nv_expr = {r[0]: tuple(map(repr, r[1]))
               for r in normalized_vectors(emb).collect()}
    nv_kern = {r[0]: tuple(map(repr, r[1]))
               for r in normalized_vectors(
                   emb, kernel="vectorized").collect()}
    assert nv_expr == nv_kern

"""E43 incremental SemDeDup (operators/semdedup.py
semdedup_incremental): frozen standing model + cluster-local
delta-vs-keepers dedup. Pins the VERDICT r5 #3 contract - standing
keepers are evicted ONLY when a near-dup delta row dominates them -
plus the structural equivalence that makes the incremental rule
well-founded: because no standing keeper dominates another keeper
(it would have been dropped in the standing pass), the incremental
verdicts equal a full batch _semdedup_grouped over (keepers UNION
delta) under the frozen assignment."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from conftest import SF_DIR

from etl_pipeline_mini_project_01_spark.catalog import load_table
from etl_pipeline_mini_project_01_spark.operators.kmeans import (
    kmeans_fit,
    kmeans_transform,
)
from etl_pipeline_mini_project_01_spark.operators.semdedup import (
    _semdedup_grouped,
    semdedup_incremental,
)

K, ITERS, TAU = 4, 1, 0.3
PRED = "vec_id % 5 = 0"


@pytest.fixture(scope="module")
def split(spark):
    emb = load_table(spark, SF_DIR, "embeddings")
    return emb.filter(f"NOT ({PRED})"), emb.filter(PRED)


def _collect(df):
    return sorted((r.vec_id, r.cluster, r.is_delta, r.kept)
                  for r in df.collect())


def test_equals_batch_over_keepers_plus_delta(spark, split):
    """Structural equivalence: keepers carry no keeper-keeper dominance
    pairs, so batch-running the grouped kernel on (keepers UNION delta)
    with the frozen assignments must reproduce the incremental verdicts
    exactly - delta drops AND keeper evictions."""
    standing, delta = split
    got = _collect(semdedup_incremental(standing, delta, k=K,
                                        iters=ITERS, threshold=TAU))

    cents, dim = kmeans_fit(standing, k=K, iters=ITERS)
    s_asg = kmeans_transform(standing, cents, dim)
    s_verd = _semdedup_grouped(
        s_asg.join(standing.select("vec_id", "embedding"), "vec_id"),
        TAU, "vec_id", "embedding")
    keeper_ids = {r.vec_id for r in s_verd.filter("kept").collect()}
    keepers = (s_asg.filter(F.col("vec_id").isin(list(keeper_ids)))
               .join(standing.select("vec_id", "embedding"), "vec_id"))
    d_asg = (kmeans_transform(delta, cents, dim)
             .join(delta.select("vec_id", "embedding"), "vec_id"))
    cols = ["vec_id", "cluster", "centroid_dist", "embedding"]
    batch = _semdedup_grouped(
        keepers.select(*cols).unionByName(d_asg.select(*cols)),
        TAU, "vec_id", "embedding")
    want = sorted((r.vec_id, r.cluster, r.vec_id % 5 == 0, r.kept)
                  for r in batch.collect())
    assert got == want
    # the fixture's planted near-dups must exercise both verdict kinds
    assert any(k for (_, _, d, k) in got if d)
    assert not all(k for (_, _, d, k) in got if d)


def test_keeper_evicted_only_when_dominated(spark):
    """The hand-crafted VERDICT r5 #3 case, k=1 so geometry is exact:
    standing s1=(10,0) and s2=(-10,0) are both keepers (cosine -1,
    centroid = the exact integer mean (0,0), dist 100 each). Delta
    d1=(12,0) is a near-dup of s1 and FARTHER from the centroid
    (144 > 100) -> it dominates: s1 is evicted, d1 kept. Delta
    d2=(-8,0) is a near-dup of s2 but CLOSER (64 < 100) -> s2
    dominates: s2 stays kept, d2 dropped. A delta near-dup that does
    NOT dominate never evicts."""
    standing = spark.createDataFrame(
        [(1, [10.0, 0.0]), (2, [-10.0, 0.0])],
        "vec_id bigint, embedding array<double>")
    delta = spark.createDataFrame(
        [(11, [12.0, 0.0]), (12, [-8.0, 0.0])],
        "vec_id bigint, embedding array<double>")
    got = {r.vec_id: (r.is_delta, r.kept)
           for r in semdedup_incremental(standing, delta, k=1, iters=1,
                                         threshold=TAU).collect()}
    assert got == {1: (False, False),   # evicted by dominating d1
                   2: (False, True),    # d2 is nearer: no eviction
                   11: (True, True),
                   12: (True, False)}   # dominated by keeper s2


def test_standing_state_passthrough(spark, split):
    """Production shape: the standing verdicts are a persisted artifact
    passed in, not recomputed - results must be identical."""
    standing, delta = split
    cents, dim = kmeans_fit(standing, k=K, iters=ITERS)
    s_asg = kmeans_transform(standing, cents, dim)
    s_verd = _semdedup_grouped(
        s_asg.join(standing.select("vec_id", "embedding"), "vec_id"),
        TAU, "vec_id", "embedding")
    via_state = _collect(semdedup_incremental(
        standing, delta, k=K, iters=ITERS, threshold=TAU,
        standing_verdicts=s_verd))
    recomputed = _collect(semdedup_incremental(
        standing, delta, k=K, iters=ITERS, threshold=TAU))
    assert via_state == recomputed


def test_partition_count_invariant(spark, split):
    standing, delta = split
    outs = [
        _collect(semdedup_incremental(standing.repartition(p),
                                      delta.repartition(p), k=K,
                                      iters=ITERS, threshold=TAU))
        for p in (1, 6)
    ]
    assert outs[0] == outs[1]

"""E47 product quantization: codebook shapes, encode determinism, the
ADC kernel pinned to its numpy replay, recall floor vs exact cosine,
the exactness limit (rerank = corpus => recall 1.0), and re-rank
monotonicity. Fixture = the sf0.001 embeddings (500 x 64)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from conftest import SF_DIR

from etl_pipeline_mini_project_01_spark.catalog import load_table
from etl_pipeline_mini_project_01_spark.operators.pq import (
    _book_mats,
    pq_adc_topk,
    pq_encode,
    pq_train,
)

# m=16/ksub=16 on the 500x64 fixture: measured plain recall 0.43,
# rerank-50 recall 0.83 (m=8 halves storage again but reads 0.25/0.65
# here - the fixture's neighbors sit near cosine 0.4, so coarse
# subspaces blur them; production shapes re-rank regardless).
M, KSUB, TOPK = 16, 16, 10


@pytest.fixture(scope="module")
def pq_model(spark):
    emb = load_table(spark, SF_DIR, "embeddings")
    # cosine parity: encode the NORMALIZED corpus so ADC's inner
    # product ranks like cosine (queries need no normalization - the
    # rank is scale-invariant in the query)
    nemb = (emb
            .withColumn("_n2", F.aggregate(
                "embedding", F.lit(0.0),
                lambda a, v: a + v.cast("double") * v.cast("double")))
            .select("vec_id", F.transform(
                "embedding",
                lambda x: (x.cast("double") / F.sqrt("_n2"))
                .cast("float")).alias("embedding"))
            .localCheckpoint())
    books = pq_train(nemb, m=M, ksub=KSUB, iters=2)
    codes = pq_encode(nemb, books).localCheckpoint()
    return emb, nemb, books, codes


def _exact_topk(spark, nemb, queries, k):
    """Ground truth: exact cosine top-k (dot of normalized vectors)."""
    from pyspark.sql import Window

    from etl_pipeline_mini_project_01_spark.operators.semdedup import (
        normalized_vectors,
        pair_dot,
    )
    qv = (normalized_vectors(queries, "vec_id", "embedding")
          .select(F.col("vec_id").alias("query_id"),
                  F.col("nv").alias("qnv")))
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "vec_id")
    return (normalized_vectors(nemb, "vec_id", "embedding")
            .crossJoin(F.broadcast(qv))
            .filter(F.col("vec_id") != F.col("query_id"))
            .withColumn("cosine", pair_dot("qnv", "nv"))
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "vec_id"))


def test_train_shapes_and_encode_range(spark, pq_model):
    emb, nemb, books, codes = pq_model
    assert len(books) == M
    assert all(len(b) == KSUB for b in books)
    assert all(len(c) == 64 // M for b in books for c in b)
    rows = codes.collect()
    assert len(rows) == nemb.count()
    for r in rows:
        assert len(r.codes) == M
        assert all(0 <= c < KSUB for c in r.codes)


def test_encode_is_deterministic_and_matches_numpy_argmin(spark,
                                                          pq_model):
    emb, nemb, books, codes = pq_model
    again = {r.vec_id: list(r.codes)
             for r in pq_encode(nemb, books).collect()}
    first = {r.vec_id: list(r.codes) for r in codes.collect()}
    assert first == again
    mats = _book_mats(books)
    dsub = 64 // M
    sample = nemb.filter("vec_id < 20").collect()
    for r in sample:
        x = np.asarray([float(v) for v in r.embedding], dtype=np.float64)
        want = []
        for s in range(M):
            sub = x[s * dsub:(s + 1) * dsub]
            cm = mats[s]
            d = ((sub * sub).sum() - 2.0 * (cm @ sub)
                 + (cm * cm).sum(axis=1))
            want.append(int(np.argmin(d)))
        assert first[r.vec_id] == want


def test_adc_scores_match_lut_replay(spark, pq_model):
    """The distributed ADC score of every (query, row) pair equals the
    driver-side LUT replay - same float ops, same s-ascending sum."""
    emb, nemb, books, codes = pq_model
    queries = (nemb.filter("vec_id < 3")
               .select("vec_id", "embedding").localCheckpoint())
    got = {(r.query_id, r.vec_id): r.score
           for r in pq_adc_topk(codes, queries, books,
                                k=TOPK).collect()}
    mats = _book_mats(books)
    dsub = 64 // M
    code_map = {r.vec_id: list(r.codes) for r in codes.collect()}
    for qr in queries.collect():
        q = np.asarray([float(v) for v in qr.embedding],
                       dtype=np.float64)
        luts = [mats[s] @ q[s * dsub:(s + 1) * dsub] for s in range(M)]
        for (qid, vid), score in got.items():
            if qid != qr.vec_id:
                continue
            acc = np.float64(0.0)
            for s in range(M):
                acc = acc + luts[s][code_map[vid][s]]
            assert repr(float(acc)) == repr(score), (qid, vid)


def test_pq_recall_floor_and_rerank_monotone(spark, pq_model):
    emb, nemb, books, codes = pq_model
    queries = (nemb.filter("vec_id < 10")
               .select("vec_id", "embedding").localCheckpoint())
    truth = {}
    for r in _exact_topk(spark, nemb, queries, TOPK).collect():
        truth.setdefault(r.query_id, set()).add(r.vec_id)

    def recall(df):
        by_q = {}
        for r in df.collect():
            by_q.setdefault(r.query_id, set()).add(r.vec_id)
        return sum(len(by_q.get(q, set()) & truth[q]) / TOPK
                   for q in truth) / len(truth)

    plain = recall(pq_adc_topk(codes, queries, books, k=TOPK))
    rr = recall(pq_adc_topk(codes, queries, books, k=TOPK,
                            rerank=50, emb=nemb))
    assert plain >= 0.4, plain
    assert rr >= 0.6, rr
    assert rr >= plain - 1e-9, (rr, plain)


def test_rerank_whole_corpus_is_exact(spark, pq_model):
    """Exactness limit: rerank >= corpus size makes the candidate set
    the whole corpus, so the final ranking IS the exact cosine top-k -
    quantization can then only affect nothing."""
    emb, nemb, books, codes = pq_model
    queries = (nemb.filter("vec_id < 5")
               .select("vec_id", "embedding").localCheckpoint())
    n = nemb.count()
    got = sorted((r.query_id, r.rank, r.vec_id) for r in
                 pq_adc_topk(codes, queries, books, k=TOPK,
                             rerank=n, emb=nemb).collect())
    want = sorted((r.query_id, r.rank, r.vec_id) for r in
                  _exact_topk_ranked(spark, nemb, queries).collect())
    assert got == want


def _exact_topk_ranked(spark, nemb, queries):
    from pyspark.sql import Window

    from etl_pipeline_mini_project_01_spark.operators.semdedup import (
        normalized_vectors,
        pair_dot,
    )
    qv = (normalized_vectors(queries, "vec_id", "embedding")
          .select(F.col("vec_id").alias("query_id"),
                  F.col("nv").alias("qnv")))
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "vec_id")
    return (normalized_vectors(nemb, "vec_id", "embedding")
            .crossJoin(F.broadcast(qv))
            .filter(F.col("vec_id") != F.col("query_id"))
            .withColumn("cosine", pair_dot("qnv", "nv"))
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= TOPK)
            .select("query_id", "vec_id", "rank"))


def test_compression_ratio_on_disk(spark, pq_model, tmp_path):
    """The codes relation must be an order of magnitude smaller than
    the float vectors on disk - the property that makes the corpus
    memory-resident at 100 TB."""
    import os
    emb, nemb, books, codes = pq_model
    vdir, cdir = str(tmp_path / "v"), str(tmp_path / "c")
    nemb.write.parquet(vdir)
    codes.write.parquet(cdir)

    def size(d):
        return sum(os.path.getsize(os.path.join(r, f))
                   for r, _, fs in os.walk(d) for f in fs
                   if f.endswith(".parquet"))

    assert size(vdir) / size(cdir) > 4, (size(vdir), size(cdir))


def test_train_rejects_indivisible_m(spark):
    emb = load_table(spark, SF_DIR, "embeddings")
    with pytest.raises(ValueError, match="not divisible"):
        pq_train(emb, m=7, ksub=4, iters=1)


def test_ivf_pq_composition_pruned_adc_rerank(spark, pq_model,
                                              tmp_path):
    """The standard IVF-PQ assembly from the three existing pieces:
    the corpus (codes AND float vectors as payload columns) written
    cluster-partitioned (E44), the probe scan pruned to the probed
    partitions via literal IN, ADC ranking over the pruned CODE column
    (E47), and the exact re-rank tail over the pruned float column.
    With rerank = pool size the result must be BIT-EQUAL to the exact
    cosine top-k over the probed pool - pruning and quantization
    compose without changing the exact tail's answers - and the scan's
    executed numPartitions must equal the probed-cluster union."""
    import re

    from etl_pipeline_mini_project_01_spark.operators.ivf_layout import (
        probe_clusters,
        write_ivf_layout,
    )
    from etl_pipeline_mini_project_01_spark.operators.kmeans import (
        kmeans_fit,
        kmeans_transform,
    )

    emb, nemb, books, codes = pq_model
    cents, dim = kmeans_fit(nemb, k=8, iters=1)
    path = str(tmp_path / "ivfpq")
    write_ivf_layout(nemb.join(codes, "vec_id"), cents, dim, path)

    queries = (nemb.filter("vec_id < 5")
               .select("vec_id", "embedding").localCheckpoint())
    probed = sorted({c for r in queries.collect()
                     for c in probe_clusters(list(r.embedding),
                                             cents, 3)})

    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        lay = (spark.read.parquet(path)
               .filter(F.col("cluster").isin(probed)))
        pool_n = lay.count()
        got_df = pq_adc_topk(lay.select("vec_id", "codes"), queries,
                             books, k=TOPK, rerank=pool_n,
                             emb=lay.select("vec_id", "embedding"))
        got_df.collect()
        jplan = got_df._jdf.queryExecution().executedPlan()
        plan = jplan.toString()
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    m = re.search(r"PartitionFilters: \[[^\]]*\]", plan)
    assert m and "IN" in m.group(0), plan

    got = sorted((r.query_id, r.rank, r.vec_id, repr(r.score))
                 for r in got_df.collect())
    pool = (kmeans_transform(nemb, cents, dim)
            .filter(F.col("cluster").isin(probed))
            .select("vec_id").join(nemb, "vec_id"))
    want = sorted((r.query_id, r.rank, r.vec_id, repr(r.cosine))
                  for r in _exact_topk_ranked_scored(
                      spark, pool, queries).collect())
    assert got == want and len(got) == 5 * TOPK


def _exact_topk_ranked_scored(spark, pool, queries):
    from pyspark.sql import Window

    from etl_pipeline_mini_project_01_spark.operators.semdedup import (
        normalized_vectors,
        pair_dot,
    )
    qv = (normalized_vectors(queries, "vec_id", "embedding")
          .select(F.col("vec_id").alias("query_id"),
                  F.col("nv").alias("qnv")))
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "vec_id")
    return (normalized_vectors(pool, "vec_id", "embedding")
            .crossJoin(F.broadcast(qv))
            .filter(F.col("vec_id") != F.col("query_id"))
            .withColumn("cosine", pair_dot("qnv", "nv"))
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= TOPK)
            .select("query_id", "vec_id", "cosine", "rank"))


def test_adc_partial_topk_invariant_to_batch_boundaries(spark, pq_model):
    """VERDICT r7 #5: the ADC kernel now emits a per-Arrow-batch
    partial top-take per query instead of exploding n x |Q| rows. The
    union of per-batch top-takes must be a superset of the global
    top-take, so the final rows are IDENTICAL however the corpus is
    batched - and the plan must carry no posexplode Generate node
    (the old n x |Q| exchange)."""
    emb, nemb, books, codes = pq_model
    queries = nemb.filter("vec_id < 5").localCheckpoint()

    def _rows(df):
        return sorted((r.query_id, r.vec_id, repr(r.score), r.rank)
                      for r in df.collect())

    one = pq_adc_topk(codes.coalesce(1), queries, books, k=TOPK)
    many = pq_adc_topk(codes.repartition(16), queries, books, k=TOPK)
    assert _rows(one) == _rows(many) and len(_rows(one)) == 5 * TOPK

    many.collect()
    plan = many._jdf.queryExecution().executedPlan().toString()
    assert "Generate" not in plan, plan       # no posexplode explosion
    assert "MapInPandas" in plan, plan

    # rerank tail: same invariance through the exact re-rank join
    r_one = pq_adc_topk(codes.coalesce(1), queries, books, k=TOPK,
                        rerank=50, emb=nemb)
    r_many = pq_adc_topk(codes.repartition(16), queries, books, k=TOPK,
                         rerank=50, emb=nemb)
    assert _rows(r_one) == _rows(r_many)


def test_ivf_pq_stored_layout_probe_per_query_pruning(spark, pq_model,
                                                      tmp_path):
    """The STORED IVF-PQ index (VERDICT r7 #6): write_ivf_pq_layout
    materializes cluster directories holding codes only; ivf_pq_probe
    prunes the scan to the probed union (planning-time IN), masks each
    query in-kernel to ITS OWN probed clusters (stricter than the
    union-pool composition test above), ADC-ranks, and re-ranks
    exactly. With rerank >= corpus the per-query result must be
    BIT-EQUAL to the exact cosine top-k over that query's own probed
    pool."""
    import re

    from pyspark.sql import Window

    from etl_pipeline_mini_project_01_spark.operators.ivf_layout import (
        probe_clusters,
    )
    from etl_pipeline_mini_project_01_spark.operators.kmeans import (
        kmeans_fit,
        kmeans_transform,
    )
    from etl_pipeline_mini_project_01_spark.operators.pq import (
        ivf_pq_probe,
        write_ivf_pq_layout,
    )
    from etl_pipeline_mini_project_01_spark.operators.semdedup import (
        normalized_vectors,
        pair_dot,
    )

    emb, nemb, books, codes = pq_model
    cents, dim = kmeans_fit(nemb, k=8, iters=1)
    path = str(tmp_path / "ivfpq_codes")
    write_ivf_pq_layout(nemb, cents, dim, books, path)
    stored = spark.read.parquet(path)
    assert set(stored.columns) == {"vec_id", "codes", "cluster"}

    queries = (nemb.filter("vec_id < 5")
               .select("vec_id", "embedding").localCheckpoint())
    n = nemb.count()
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        got_df = ivf_pq_probe(spark, path, queries, cents, books,
                              nprobe=3, k=TOPK, rerank=n, emb=nemb)
        got_df.collect()
        plan = got_df._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    union = sorted({c for r in queries.collect()
                    for c in probe_clusters(list(r.embedding), cents, 3)})
    pushed = re.search(r"PartitionFilters: \[cluster#\d+ IN \(([\d,]+)\)",
                       plan)
    assert pushed, plan
    assert {int(x) for x in pushed.group(1).split(",")} == set(union)

    got = sorted((r.query_id, r.rank, r.vec_id, repr(r.score))
                 for r in got_df.collect())
    # ground truth: per-query probed pool (NOT the union), exact cosine
    pairs = [(r.vec_id, c) for r in queries.collect()
             for c in probe_clusters(list(r.embedding), cents, 3)]
    cand = spark.createDataFrame(pairs, "query_id bigint, cluster bigint")
    qv = (normalized_vectors(queries, "vec_id", "embedding")
          .select(F.col("vec_id").alias("query_id"),
                  F.col("nv").alias("qnv")))
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), "vec_id")
    want_df = (kmeans_transform(nemb, cents, dim)
               .select("vec_id", "cluster")
               .join(F.broadcast(cand), "cluster")
               .filter(F.col("vec_id") != F.col("query_id"))
               .join(nemb.select("vec_id", "embedding"), "vec_id")
               .withColumn("_n2", F.aggregate(
                   "embedding", F.lit(0.0),
                   lambda a, v: a + v.cast("double") * v.cast("double")))
               .withColumn("nv", F.transform(
                   "embedding", lambda x: x.cast("double") / F.sqrt("_n2")))
               .join(F.broadcast(qv), "query_id")
               .withColumn("score", pair_dot("qnv", "nv"))
               .withColumn("rank", F.row_number().over(w))
               .filter(F.col("rank") <= TOPK)
               .select("query_id", "vec_id", "score", "rank"))
    want = sorted((r.query_id, r.rank, r.vec_id, repr(r.score))
                  for r in want_df.collect())
    assert got == want and len(got) == 5 * TOPK


def test_ivf_pq_twolevel_stored_probe_per_query_pruning(spark, pq_model,
                                                        tmp_path):
    """The full E46 x E47 composition: the stored IVF-PQ index under a
    HIERARCHICAL quantizer (O(n*sqrt(k)*dim) build) must serve exactly
    like the flat-quantizer recipe - probed union pushed as the
    planning-time IN, per-query in-kernel leaf masks, and at
    rerank >= corpus the result bit-equal to exact cosine over each
    query's own probed (two-level) pool."""
    import re

    from pyspark.sql import Window

    from etl_pipeline_mini_project_01_spark.operators.ivf_layout import (
        probe_clusters_twolevel,
    )
    from etl_pipeline_mini_project_01_spark.operators.kmeans import (
        kmeans_fit_twolevel,
        kmeans_transform_twolevel,
    )
    from etl_pipeline_mini_project_01_spark.operators.pq import (
        ivf_pq_probe_twolevel,
        write_ivf_pq_layout_twolevel,
    )
    from etl_pipeline_mini_project_01_spark.operators.semdedup import (
        normalized_vectors,
        pair_dot,
    )

    emb, nemb, books, codes = pq_model
    k1 = k2 = 3
    cc, fi, dim = kmeans_fit_twolevel(nemb, k1, k2, 1, 1)
    path = str(tmp_path / "ivfpq2_codes")
    write_ivf_pq_layout_twolevel(nemb, cc, fi, k2, dim, books, path)
    stored = spark.read.parquet(path)
    assert set(stored.columns) == {"vec_id", "codes", "cluster"}

    queries = (nemb.filter("vec_id < 5")
               .select("vec_id", "embedding").localCheckpoint())
    n = nemb.count()
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        got_df = ivf_pq_probe_twolevel(spark, path, queries, cc, fi, k2,
                                       books, nprobe=4, k=TOPK,
                                       nprobe_coarse=2, rerank=n,
                                       emb=nemb)
        got_df.collect()
        plan = got_df._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    probes = {q.vec_id: probe_clusters_twolevel(list(q.embedding), cc,
                                                fi, k2, 4, 2)
              for q in queries.collect()}
    union = sorted({lf for lfs in probes.values() for lf in lfs})
    pushed = re.search(r"PartitionFilters: \[cluster#\d+ IN \(([\d,]+)\)",
                       plan)
    assert pushed, plan
    assert {int(x) for x in pushed.group(1).split(",")} == set(union)

    got = sorted((r.query_id, r.rank, r.vec_id, repr(r.score))
                 for r in got_df.collect())
    pairs = [(q, lf) for q, lfs in probes.items() for lf in lfs]
    cand = spark.createDataFrame(pairs, "query_id bigint, cluster bigint")
    qv = (normalized_vectors(queries, "vec_id", "embedding")
          .select(F.col("vec_id").alias("query_id"),
                  F.col("nv").alias("qnv")))
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), "vec_id")
    want_df = (kmeans_transform_twolevel(nemb, cc, fi, dim)
               .withColumn("cluster",
                           (F.col("coarse") * k2 + F.col("fine"))
                           .cast("bigint"))
               .select("vec_id", "cluster")
               .join(F.broadcast(cand), "cluster")
               .filter(F.col("vec_id") != F.col("query_id"))
               .join(nemb.select("vec_id", "embedding"), "vec_id")
               .withColumn("_n2", F.aggregate(
                   "embedding", F.lit(0.0),
                   lambda a, v: a + v.cast("double") * v.cast("double")))
               .withColumn("nv", F.transform(
                   "embedding", lambda x: x.cast("double") / F.sqrt("_n2")))
               .join(F.broadcast(qv), "query_id")
               .withColumn("score", pair_dot("qnv", "nv"))
               .withColumn("rank", F.row_number().over(w))
               .filter(F.col("rank") <= TOPK)
               .select("query_id", "vec_id", "score", "rank"))
    want = sorted((r.query_id, r.rank, r.vec_id, repr(r.score))
                  for r in want_df.collect())
    assert got == want and len(got) == 5 * TOPK


def test_ivf_pq_plan_mode_equals_literal_across_threshold(spark, pq_model,
                                                          tmp_path):
    """The large-batch planning path for the stored IVF-PQ index: plan
    mode (distributed candidates + the pair-wise per-(batch, query)
    LUT kernel - zero |Q|-sized driver state) must return the EXACT
    rows of literal mode, auto must flip at literal_max, and the same
    holds through the exact re-rank tail and for the two-level
    variant."""
    from etl_pipeline_mini_project_01_spark.operators.kmeans import (
        kmeans_fit,
        kmeans_fit_twolevel,
    )
    from etl_pipeline_mini_project_01_spark.operators.pq import (
        ivf_pq_probe,
        ivf_pq_probe_twolevel,
        write_ivf_pq_layout,
        write_ivf_pq_layout_twolevel,
    )

    emb, nemb, books, codes = pq_model
    queries = (nemb.filter("vec_id < 5")
               .select("vec_id", "embedding").localCheckpoint())

    def _rows(df):
        return sorted((r.query_id, r.vec_id, repr(r.score), r.rank)
                      for r in df.collect())

    cents, dim = kmeans_fit(nemb, k=8, iters=1)
    fpath = str(tmp_path / "flat_codes")
    write_ivf_pq_layout(nemb, cents, dim, books, fpath)
    for rr in (0, 50):
        kw = dict(rerank=rr, emb=nemb if rr else None)
        lit = ivf_pq_probe(spark, fpath, queries, cents, books, 3, TOPK,
                           probe_lists="literal", **kw)
        pln = ivf_pq_probe(spark, fpath, queries, cents, books, 3, TOPK,
                           probe_lists="plan", **kw)
        assert _rows(lit) == _rows(pln) and _rows(lit), rr
        below = ivf_pq_probe(spark, fpath, queries, cents, books, 3,
                             TOPK, literal_max=5, **kw)
        above = ivf_pq_probe(spark, fpath, queries, cents, books, 3,
                             TOPK, literal_max=4, **kw)
        assert _rows(below) == _rows(above) == _rows(lit), rr

    k1 = k2 = 3
    cc, fi, dim2 = kmeans_fit_twolevel(nemb, k1, k2, 1, 1)
    hpath = str(tmp_path / "hier_codes")
    write_ivf_pq_layout_twolevel(nemb, cc, fi, k2, dim2, books, hpath)
    lit2 = ivf_pq_probe_twolevel(spark, hpath, queries, cc, fi, k2,
                                 books, nprobe=4, k=TOPK,
                                 nprobe_coarse=2, rerank=50, emb=nemb,
                                 probe_lists="literal")
    pln2 = ivf_pq_probe_twolevel(spark, hpath, queries, cc, fi, k2,
                                 books, nprobe=4, k=TOPK,
                                 nprobe_coarse=2, rerank=50, emb=nemb,
                                 probe_lists="plan")
    assert _rows(lit2) == _rows(pln2) and _rows(lit2)


def test_build_plan_has_no_corpus_join(spark, pq_model):
    """VERDICT r8 #2: the stored IVF-PQ BUILD must not re-attach the
    cluster id via a corpus-sized self-join on vec_id - the cluster
    rides the encode projection, so the plan has ZERO joins, ONE
    corpus scan, and exactly one Exchange (the intentional cluster
    routing). Both quantizer shapes."""
    from etl_pipeline_mini_project_01_spark.operators.kmeans import (
        kmeans_fit,
        kmeans_fit_twolevel,
    )
    from etl_pipeline_mini_project_01_spark.operators.pq import (
        _ivf_pq_routed,
        _ivf_pq_routed_twolevel,
    )

    emb, nemb, books, codes = pq_model
    cents, dim = kmeans_fit(nemb, k=8, iters=1)
    flat = _ivf_pq_routed(nemb, cents, dim, books, "vec_id",
                          "embedding", 1)
    cc, fi, dim2 = kmeans_fit_twolevel(nemb, 3, 3, 1, 1)
    hier = _ivf_pq_routed_twolevel(nemb, cc, fi, 3, dim2, books,
                                   "vec_id", "embedding", 1)
    for routed in (flat, hier):
        plan = routed._jdf.queryExecution().sparkPlan().toString()
        assert "Join" not in plan, plan
        assert plan.count("Exchange") == 1, plan
        # layout content unchanged by the refactor: every row carries
        # (vec_id, cluster, codes) and the codes match pq_encode's
        got = {r["vec_id"]: (int(r["cluster"]), list(r["codes"]))
               for r in routed.collect()}
        assert len(got) == nemb.count()
    want_codes = {r["vec_id"]: list(r["codes"]) for r in codes.collect()}
    assert {k: v[1] for k, v in
            ((r["vec_id"], (0, list(r["codes"])))
             for r in flat.select("vec_id", "codes").collect())} \
        == want_codes


def test_plan_mode_no_broadcast_on_query_side(spark, pq_model, tmp_path):
    """VERDICT r8 #3: plan mode must not carry broadcast HINTS on the
    |Q|-sized relations (query vectors / candidates / re-rank ids) - a
    broadcast is still a driver-side collect, so hinting it would
    defeat the no-|Q|-driver-state contract. With auto-broadcast
    disabled, the only BroadcastExchange allowed is the distinct-
    cluster semi-join of the manifest-less fallback; the manifested
    path has NONE."""
    import os
    import shutil as sh

    from etl_pipeline_mini_project_01_spark.operators.ivf_layout import (
        MANIFEST_SUBDIR,
    )
    from etl_pipeline_mini_project_01_spark.operators.kmeans import (
        kmeans_fit,
    )
    from etl_pipeline_mini_project_01_spark.operators.pq import (
        ivf_pq_probe,
        write_ivf_pq_layout,
    )

    emb, nemb, books, codes = pq_model
    queries = (nemb.filter("vec_id < 5")
               .select("vec_id", "embedding").localCheckpoint())
    cents, dim = kmeans_fit(nemb, k=8, iters=1)
    path = str(tmp_path / "guard_codes")
    write_ivf_pq_layout(nemb, cents, dim, books, path)

    conf = spark.conf
    saved = {k: conf.get(k, None) for k in
             ("spark.sql.autoBroadcastJoinThreshold",
              "spark.sql.adaptive.autoBroadcastJoinThreshold")}
    try:
        conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        pln = ivf_pq_probe(spark, path, queries, cents, books, 3, TOPK,
                           rerank=20, emb=nemb, probe_lists="plan")
        plan = pln._jdf.queryExecution().sparkPlan().toString()
        assert "Broadcast" not in plan, plan           # manifested path

        bare = str(tmp_path / "guard_codes_bare")
        sh.copytree(path, bare)
        sh.rmtree(os.path.join(bare, MANIFEST_SUBDIR))
        pln2 = ivf_pq_probe(spark, bare, queries, cents, books, 3, TOPK,
                            rerank=20, emb=nemb, probe_lists="plan")
        plan2 = pln2._jdf.queryExecution().sparkPlan().toString()
        assert plan2.count("BroadcastHashJoin") == 1, plan2
        assert "LeftSemi" in plan2, plan2              # ...the DPP seed
    finally:
        for k, v in saved.items():
            if v is None:
                conf.unset(k)
            else:
                conf.set(k, v)

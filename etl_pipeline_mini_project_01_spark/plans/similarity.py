"""Similarity search over the `embeddings` table (north-star operators):
brute-force cosine top-k baseline + LSH-bucketed scale path + embedding
near-dup pairs.

Float determinism: embeddings are float32; both engines widen each element
to float64 before multiplying, and every dot product and squared norm is a
*sequential left fold* over the array (the engine's Arrow kernels through
operators/foldmath.py, DuckDB `list_reduce`) - identical operation order
=> bit-identical doubles => hashable across engines.

Scale design (100 TB):
  * brute force is the correctness baseline: queries x corpus equi-free
    join - Spark broadcasts the (small) query set so the corpus never
    shuffles; per-partition top-k then global merge via window;
  * the bucketed variant (sign-LSH on leading components) turns ANN into
    an equi-join on bucket id - the same candidate-pruning shape as
    MinHash LSH, linear in corpus size;
  * at real scale the corpus side would be IVF-partitioned parquet
    (cluster id = partition key) - the bucket column here is that
    partition key in miniature.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from ..catalog import load_table, steps_frame
from ..operators.foldmath import norm2, outer_dots, row_dots
from ..session import scratch_dir
from .registry import register

N_QUERIES = 5
TOP_K = 10
LSH_BITS = 8


def _cosine(a: Column, b: Column) -> Column:
    """Arrow-batched cosine dot / (sqrt(n2a) * sqrt(n2b)): the dot and
    both squared norms are foldmath.row_dots / norm2 (widen
    float32->float64 exactly, multiply, add in dim order from 0.0) - the
    operation sequence the _SQL_DOT / _SQL_NORM2 oracle twins replay -
    batched across rows in ONE Arrow pass."""
    @pandas_udf("double")
    def cos(av: pd.Series, bv: pd.Series) -> pd.Series:
        amat = np.stack(av.to_numpy()).astype(np.float64, copy=False)
        bmat = np.stack(bv.to_numpy()).astype(np.float64, copy=False)
        return pd.Series(row_dots(amat, bmat)
                         / (np.sqrt(norm2(amat)) * np.sqrt(norm2(bmat))))

    return cos(a, b)


_SQL_DOT = ("list_reduce(list_transform(list_zip({a}, {b}), "
            "p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), (x, y) -> x + y)")
_SQL_NORM2 = ("list_reduce(list_transform({a}, "
              "p -> CAST(p AS DOUBLE) * CAST(p AS DOUBLE)), (x, y) -> x + y)")


@register(
    "sim_cosine_topk",
    oracle=f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
           WHERE vec_id < {N_QUERIES}),
c AS (SELECT vec_id, embedding, label FROM embeddings),
scored AS (
    SELECT q.query_id, c.vec_id, c.label,
           {_SQL_DOT.format(a='q.qv', b='c.embedding')}
             / (sqrt({_SQL_NORM2.format(a='q.qv')})
                * sqrt({_SQL_NORM2.format(a='c.embedding')})) AS cosine
    FROM q JOIN c ON q.query_id <> c.vec_id
),
ranked AS (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY cosine DESC, vec_id) AS rank
    FROM scored
)
SELECT query_id, vec_id, label, cosine, rank
FROM ranked WHERE rank <= {TOP_K}
ORDER BY query_id, rank
""",
)
def sim_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k: the first N vectors are the query set
    (broadcast); every corpus partition scores locally, then a per-query
    window takes the top-k. The corpus never shuffles - only the tiny
    scored set does."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = F.broadcast(
        emb.filter(F.col("vec_id") < N_QUERIES)
        .select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")))
    scored = (
        q.join(emb, F.col("query_id") != F.col("vec_id"))
        .select(
            "query_id", "vec_id", "label",
            _cosine(F.col("qv"), F.col("embedding")).alias("cosine"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "vec_id")
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= TOP_K)
            .orderBy("query_id", "rank"))


@register(
    "sim_lsh_buckets",
    oracle=f"""
WITH sig AS (
    SELECT vec_id, label,
           list_reduce(
               list_transform(range(1, {LSH_BITS} + 1),
                   i -> CASE WHEN embedding[i] >= 0
                             THEN (CAST(1 AS BIGINT) << (i - 1)) ELSE 0 END),
               (a, b) -> a + b) AS bucket
    FROM embeddings
)
SELECT bucket,
       COUNT(*) AS n_vectors,
       COUNT(DISTINCT label) AS n_labels,
       MIN(vec_id) AS min_vec_id
FROM sig
GROUP BY bucket
ORDER BY bucket
""",
)
def sim_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-LSH bucketing (hyperplanes = first 8 coordinate axes,
    deterministic): bucket id = sign bits of the leading components.
    ANN then probes only the query's bucket (+ neighbors) - the equi-join
    scale path; this query materializes the bucket histogram."""
    emb = load_table(spark, sf_dir, "embeddings")
    bucket = F.expr(f"""
        aggregate(
            transform(sequence(1, {LSH_BITS}),
                      i -> IF(element_at(embedding, i) >= 0,
                              shiftleft(CAST(1 AS BIGINT), i - 1),
                              CAST(0 AS BIGINT))),
            CAST(0 AS BIGINT), (a, b) -> a + b)
    """)
    return (
        emb.select("vec_id", "label", bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_vectors"),
             F.countDistinct("label").alias("n_labels"),
             F.min("vec_id").alias("min_vec_id"))
        .orderBy("bucket")
    )


@register(
    "sim_embedding_near_dups",
    oracle=f"""
WITH c AS (SELECT vec_id, embedding, label FROM embeddings),
pairs AS (
    SELECT a.label, a.vec_id AS vec_a, b.vec_id AS vec_b,
           {_SQL_DOT.format(a='a.embedding', b='b.embedding')}
             / (sqrt({_SQL_NORM2.format(a='a.embedding')})
                * sqrt({_SQL_NORM2.format(a='b.embedding')})) AS cosine
    FROM c a JOIN c b ON a.label = b.label AND a.vec_id < b.vec_id
)
SELECT label, vec_a, vec_b, cosine
FROM pairs
ORDER BY cosine DESC, vec_a, vec_b
LIMIT 100
""",
)
def sim_embedding_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, blocked by label (the
    blocking key stands in for an IVF cluster id at scale): top-100 most
    similar same-label pairs."""
    emb = load_table(spark, sf_dir, "embeddings")
    a, b = emb.alias("a"), emb.alias("b")
    cosine = _cosine(F.col("a.embedding"), F.col("b.embedding"))
    return (
        a.join(b, (F.col("a.label") == F.col("b.label"))
               & (F.col("a.vec_id") < F.col("b.vec_id")))
        .select(F.col("a.label").alias("label"),
                F.col("a.vec_id").alias("vec_a"),
                F.col("b.vec_id").alias("vec_b"),
                cosine.alias("cosine"))
        .orderBy(F.desc("cosine"), "vec_a", "vec_b")
        .limit(100)
    )


_BUCKET_SQL = f"""list_reduce(
               list_transform(range(1, {LSH_BITS} + 1),
                   i -> CASE WHEN {{v}}[i] >= 0
                             THEN (CAST(1 AS BIGINT) << (i - 1)) ELSE 0 END),
               (a, b) -> a + b)"""


# ---------------------------------------------------------------------------
# Multi-table random-hyperplane LSH - the RECALL path for ANN.
#
# A single K-bit signature match has P = (1 - theta/pi)^K per neighbor:
# for the harness embeddings (planted near-dups at cosine ~0.4, theta ~66
# degrees, bit-agreement p ~0.63) that is ~2.5% at K=8 - near-zero recall,
# as for any single-table scheme on weakly-clustered data. The standard
# fix (Indyk-Motwani) is L independent tables of K bits each: candidate
# iff ANY table matches, P = 1-(1-p^K)^L. Measured on the harness data
# (tests/test_sim_quality.py): K=4, L=8 gives ~0.7 recall@5 scanning
# ~40% of the corpus; K=6, L=12 ~0.46 recall at ~19% scanned.
#
# Scale shape: signatures are L extra bigint columns computed in one
# map-side pass (K*L sequential-fold dot products per row); candidates
# form via L equi-joins on (table, signature) unioned before dedup - the
# same shuffle-partitionable bucket-join shape as MinHash LSH, linear in
# corpus size. Hyperplane coefficients are md5-derived literals, so the
# whole scheme is deterministic across engines, retries, and SFs.
# ---------------------------------------------------------------------------

def _hyperplane_coeff(table: int, bit: int, dim: int) -> list[float]:
    """Deterministic pseudo-random hyperplane in [-1, 1]^dim."""
    import hashlib

    out = []
    for j in range(dim):
        h = int(hashlib.md5(f"hp|{table}|{bit}|{j}".encode())
                .hexdigest()[:8], 16)
        out.append((h / 0x7FFFFFFF) - 1.0)
    return out


def multitable_signatures(emb: DataFrame, k_bits: int = 4,
                          n_tables: int = 8, dim: int = 64) -> DataFrame:
    """Add sig_0..sig_{L-1} bigint signature columns (one per table):
    bit k of sig_t = sign of the dot product with hyperplane (t, k).

    One Arrow-batched pandas_udf computes all L*K hyperplane dots per
    row with foldmath.outer_dots against a closure-held coefficient
    matrix (never shipped per row), so the signatures are bit-identical
    to the SQL replay in _ann_recall_oracle."""
    cmat = np.array([_hyperplane_coeff(t, k, dim)
                     for t in range(n_tables) for k in range(k_bits)],
                    dtype=np.float64)            # row t*K + k
    shifts = np.arange(k_bits, dtype=np.int64)

    @pandas_udf("array<bigint>")
    def sigs(ev: pd.Series) -> pd.Series:
        emat = np.stack(ev.to_numpy()).astype(np.float64, copy=False)
        # >= 0 matches the oracle's `dot >= 0`: -0.0 compares >= 0 in
        # numpy exactly as in SQL.
        pos = (outer_dots(emat, cmat) >= 0).reshape(-1, n_tables, k_bits)
        return pd.Series(list((pos.astype(np.int64) << shifts).sum(axis=2)))

    return (emb.withColumn("_sigs", sigs("embedding"))
            .select("vec_id", "label", "embedding",
                    *[F.element_at("_sigs", t + 1).alias(f"sig_{t}")
                      for t in range(n_tables)]))


def ann_multitable_topk(emb: DataFrame, n_queries: int = N_QUERIES,
                        top_k: int = 5, k_bits: int = 4,
                        n_tables: int = 8) -> DataFrame:
    """ANN top-k via multi-table LSH: candidates = vectors matching the
    query in ANY table (L unioned equi-joins, deduped), scored with the
    exact cosine, per-query window top-k. Same output shape as
    sim_ivf_probe_topk; recall/scan tradeoff measured in
    tests/test_sim_quality.py."""
    sigs = multitable_signatures(emb, k_bits, n_tables)
    # (table, signature) pairs via ONE posexplode per side instead of L
    # unioned joins: the union form re-executed the corpus scan + the
    # signature kernel once PER TABLE (L=8 executions of the most
    # expensive stage); exploding multiplies rows after a single
    # execution and the broadcast-hash probe on (table, sig) yields the
    # IDENTICAL candidate set - "candidate iff ANY table matches" is an
    # equi-join on the exploded pairs followed by the same
    # (query_id, vec_id) dedup.
    sig_arr = F.array(*[F.col(f"sig_{t}") for t in range(n_tables)])
    q = F.broadcast(
        sigs.filter(F.col("vec_id") < n_queries)
        .select(F.col("vec_id").alias("query_id"),
                F.col("embedding").alias("qv"),
                F.posexplode(sig_arr).alias("_qt", "_qsig")))
    cpairs = sigs.select(
        "vec_id", "label", "embedding",
        F.posexplode(sig_arr).alias("_ct", "_csig"))
    cands = (q.join(cpairs, (F.col("_qt") == F.col("_ct"))
                    & (F.col("_qsig") == F.col("_csig"))
                    & (F.col("query_id") != F.col("vec_id")))
             .select("query_id", "qv", "vec_id", "label", "embedding")
             .dropDuplicates(["query_id", "vec_id"]))
    scored = cands.select(
        "query_id", "vec_id", "label",
        _cosine(F.col("qv"), F.col("embedding")).alias("cosine"))
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "vec_id")
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= top_k)
            .orderBy("query_id", "rank"))


_ANN_K_BITS = 4
_ANN_TABLES = 8
_ANN_TOP_K = 5
#: Per-query recall@5 floor. Deterministic (md5 hyperplanes, no RNG):
#: measured per-query minima are 0.6 at sf0.001 and 0.4 at sf0.01 for
#: K=4, L=8, so 0.4 holds on every harness SF. The oracle REPLAYS the
#: whole ANN (signatures, candidate union, exact-cosine rank, recall),
#: so the floor verdict is computed - not asserted - on both sides.
_ANN_RECALL_FLOOR = 0.4


def _sql_coeff_list(table: int, bit: int, dim: int) -> str:
    """The hyperplane (t, k) as a DuckDB DOUBLE[] literal. repr() of a
    Python float round-trips through decimal to the identical double in
    both engines (the signature kernel holds the same Python floats)."""
    return ("CAST([" + ", ".join(
        repr(v) for v in _hyperplane_coeff(table, bit, dim))
        + "] AS DOUBLE[])")


def _ann_recall_oracle(dim: int = 64) -> str:
    """Full SQL replay of ann_multitable_topk + brute-force truth +
    per-query recall. Signature bit k of table t = sign of the fold-dot
    with the md5-derived hyperplane literal - the same float64 operation
    sequence as multitable_signatures, so the BIGINT signatures (and
    hence the candidate sets, cosines, ranks, and recall) are
    engine-identical."""
    sig_exprs = []
    for t in range(_ANN_TABLES):
        bits = " + ".join(
            f"CASE WHEN {_SQL_DOT.format(a='embedding', b=_sql_coeff_list(t, k, dim))}"
            f" >= 0 THEN CAST({1 << k} AS BIGINT) ELSE CAST(0 AS BIGINT) END"
            for k in range(_ANN_K_BITS))
        sig_exprs.append(f"({bits}) AS sig_{t}")
    cand_union = "\n    UNION\n".join(
        f"    SELECT q.query_id, s.vec_id FROM q JOIN sigs s"
        f" ON q.qsig_{t} = s.sig_{t} AND q.query_id <> s.vec_id"
        for t in range(_ANN_TABLES))
    qsig_cols = ", ".join(f"sig_{t} AS qsig_{t}" for t in range(_ANN_TABLES))
    cos = (f"{_SQL_DOT.format(a='q.qv', b='s.embedding')}"
           f" / (sqrt({_SQL_NORM2.format(a='q.qv')})"
           f" * sqrt({_SQL_NORM2.format(a='s.embedding')}))")
    return f"""
WITH sigs AS (
    SELECT vec_id, embedding, {', '.join(sig_exprs)}
    FROM embeddings
),
q AS (SELECT vec_id AS query_id, embedding AS qv, {qsig_cols}
      FROM sigs WHERE vec_id < {N_QUERIES}),
cand AS (
{cand_union}
),
ann AS (
    SELECT query_id, vec_id FROM (
        SELECT c.query_id, c.vec_id,
               row_number() OVER (PARTITION BY c.query_id
                                  ORDER BY {cos.replace('q.qv', 'qq.qv')} DESC,
                                           c.vec_id) AS rank
        FROM cand c
        JOIN q qq ON c.query_id = qq.query_id
        JOIN sigs s ON c.vec_id = s.vec_id)
    WHERE rank <= {_ANN_TOP_K}
),
brute AS (
    SELECT query_id, vec_id FROM (
        SELECT q.query_id, s.vec_id,
               row_number() OVER (PARTITION BY q.query_id
                                  ORDER BY {cos} DESC, s.vec_id) AS rank
        FROM q JOIN sigs s ON q.query_id <> s.vec_id)
    WHERE rank <= {_ANN_TOP_K}
),
hits AS (
    SELECT b.query_id,
           CAST(COUNT(a.vec_id) AS BIGINT) AS n_hits
    FROM brute b
    LEFT JOIN ann a ON b.query_id = a.query_id AND b.vec_id = a.vec_id
    GROUP BY b.query_id
)
SELECT query_id, n_hits,
       CAST(n_hits AS DOUBLE) / {_ANN_TOP_K} AS recall_at_5,
       CAST(n_hits AS DOUBLE) / {_ANN_TOP_K} >= {_ANN_RECALL_FLOOR}
           AS meets_floor
FROM hits
ORDER BY query_id
"""


@register("ann_multitable_recall", oracle=_ann_recall_oracle())
def ann_multitable_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of the multi-table LSH ANN against brute-force truth
    (VERDICT r3 #3: E24's driver row). Per query: how many of the exact
    cosine top-5 the L=8/K=4 LSH candidates recovered, the recall ratio,
    and the >= {floor} verdict. Both the ANN path and the truth are
    deterministic (md5 hyperplanes), so the oracle replays EVERYTHING -
    signatures, candidate union, ranks, recall - rather than accepting
    the engine's number on faith; quality floors are additionally pinned
    in tests/test_sim_quality.py."""
    emb = load_table(spark, sf_dir, "embeddings")
    ann = (ann_multitable_topk(emb, n_queries=N_QUERIES, top_k=_ANN_TOP_K,
                               k_bits=_ANN_K_BITS, n_tables=_ANN_TABLES)
           .select("query_id", "vec_id"))
    truth = (sim_cosine_topk(spark, sf_dir)
             .where(F.col("rank") <= _ANN_TOP_K)
             .select("query_id", "vec_id"))
    ann_k = ann.select(F.col("query_id").alias("_aq"),
                       F.col("vec_id").alias("_av"))
    hits = (truth
            .join(ann_k, (F.col("query_id") == F.col("_aq"))
                  & (F.col("vec_id") == F.col("_av")), "left")
            .groupBy("query_id")
            .agg(F.count("_av").alias("n_hits")))
    recall = F.col("n_hits").cast("double") / _ANN_TOP_K
    return (hits.select(
        "query_id", F.col("n_hits").cast("bigint").alias("n_hits"),
        recall.alias("recall_at_5"),
        (recall >= _ANN_RECALL_FLOOR).alias("meets_floor"))
        .orderBy("query_id"))


@register(
    "sim_ivf_probe_topk",
    oracle=f"""
WITH c AS (
    SELECT vec_id, embedding, label,
           {_BUCKET_SQL.format(v='embedding')} AS bucket
    FROM embeddings
),
q AS (SELECT vec_id AS query_id, embedding AS qv, bucket FROM c
      WHERE vec_id < {N_QUERIES}),
scored AS (
    SELECT q.query_id, c.vec_id, c.label,
           {_SQL_DOT.format(a='q.qv', b='c.embedding')}
             / (sqrt({_SQL_NORM2.format(a='q.qv')})
                * sqrt({_SQL_NORM2.format(a='c.embedding')})) AS cosine
    FROM q JOIN c ON q.bucket = c.bucket AND q.query_id <> c.vec_id
),
ranked AS (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY cosine DESC, vec_id) AS rank
    FROM scored
)
SELECT query_id, vec_id, label, cosine, rank
FROM ranked WHERE rank <= 5
ORDER BY query_id, rank
""",
)
def sim_ivf_probe_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style probed ANN: score only candidates in the query's LSH
    bucket (vs sim_cosine_topk's full scan) - the equi-join candidate
    pruning that makes ANN linear at corpus scale; at 100 TB the bucket is
    the parquet partition key, so the probe is a partition-pruned scan."""
    emb = load_table(spark, sf_dir, "embeddings")
    bucket = F.expr(f"""
        aggregate(
            transform(sequence(1, {LSH_BITS}),
                      i -> IF(element_at(embedding, i) >= 0,
                              shiftleft(CAST(1 AS BIGINT), i - 1),
                              CAST(0 AS BIGINT))),
            CAST(0 AS BIGINT), (a, b) -> a + b)
    """)
    c = emb.withColumn("bucket", bucket)
    q = F.broadcast(
        c.filter(F.col("vec_id") < N_QUERIES)
        .select(F.col("vec_id").alias("query_id"),
                F.col("embedding").alias("qv"),
                F.col("bucket").alias("qbucket")))
    scored = (
        q.join(c, (F.col("qbucket") == F.col("bucket"))
               & (F.col("query_id") != F.col("vec_id")))
        .select("query_id", "vec_id", "label",
                _cosine(F.col("qv"), F.col("embedding")).alias("cosine")))
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "vec_id")
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= 5)
            .orderBy("query_id", "rank"))


# ---------------------------------------------------------------------------
# k-means embedding clustering (operators/kmeans.py)
# ---------------------------------------------------------------------------

_KM_K = 8
_KM_DIM = 64
_KM_SCALE = 1 << 20

#: One assignment pass as SQL: squared euclidean to each centroid in
#: relation {cents}, folded over dims in index order from a 0.0
#: accumulator (list_reduce(list_prepend(...)) - the same operation
#: sequence as the engine's foldmath.sq_dists), argmin tie-broken on the
#: lowest centroid id.
#: `{pred}` restricts which rows get assigned (TRUE = all) - the
#: incremental variant fits on the standing corpus and assigns the
#: delta with the frozen model.
_KM_ASSIGN = """
SELECT vec_id, cid AS cluster, dist AS centroid_dist
FROM (
    SELECT vec_id, cid, dist,
           row_number() OVER (
               PARTITION BY vec_id ORDER BY dist, cid) AS rn
    FROM (
        SELECT x.vec_id, c.cid,
               list_reduce(list_prepend(CAST(0 AS DOUBLE),
                   list_transform(range(1, {dim1}),
                       i -> (x.xd[i] - c.c[i]) * (x.xd[i] - c.c[i]))),
                   (a, b) -> a + b) AS dist
        FROM xd x, {cents} c
        WHERE {pred}))
WHERE rn = 1
"""

_KM_ITERS = 2


def _km_oracle(iters: int, k: int = _KM_K, fit_pred: str = "TRUE") -> str:
    """The full k-means replay as SQL: init from the first-k rows, then
    `iters` (assign -> exact integer-sum update -> COALESCE empty
    clusters) blocks, then the final assignment - mirroring
    kmeans_assign's loop structure one CTE per phase. `fit_pred`
    restricts which rows the model is FIT on (seeds, per-iteration
    assignment + sums, and the afinal assignment) - TRUE = the whole
    table; the incremental variant fits on the standing corpus only."""
    dim1, scale = _KM_DIM + 1, _KM_SCALE
    parts = [f"""
WITH x AS (
    SELECT vec_id,
           list_transform(embedding,
               v -> CAST(floor(CAST(v AS DOUBLE)
                               * CAST({scale} AS DOUBLE)) AS BIGINT))
               AS xi
    FROM embeddings
),
xd AS (
    SELECT vec_id, xi,
           list_transform(xi, v -> CAST(v AS DOUBLE)
                                   / CAST({scale} AS DOUBLE)) AS xd
    FROM x
),
dims AS (SELECT unnest(range(1, {dim1})) AS i),
c0 AS (
    SELECT cid, c FROM (
        SELECT row_number() OVER (
                   ORDER BY md5('seed|' || CAST(vec_id AS VARCHAR)), vec_id)
               - 1 AS cid,
               xd AS c
        FROM xd WHERE {fit_pred})
    WHERE cid < {k})"""]
    cents = "c0"
    for t in range(1, iters + 1):
        assign = _KM_ASSIGN.format(dim1=dim1, cents=cents, pred=fit_pred)
        parts.append(f""",
a{t} AS ({assign}),
s{t} AS (
    SELECT a.cluster AS cid, d.i,
           SUM(x.xi[d.i]) AS s, COUNT(*) AS n
    FROM a{t} a JOIN xd x USING (vec_id) CROSS JOIN dims d
    GROUP BY 1, 2
),
m{t} AS (
    SELECT cid,
           list(CAST(s AS DOUBLE)
                / (CAST(n AS DOUBLE) * CAST({scale} AS DOUBLE))
                ORDER BY i) AS c
    FROM s{t} GROUP BY cid
),
c{t} AS (
    SELECT p.cid, COALESCE(m{t}.c, p.c) AS c
    FROM {cents} p LEFT JOIN m{t} USING (cid)
)""")
        cents = f"c{t}"
    final = _KM_ASSIGN.format(dim1=dim1, cents=cents, pred=fit_pred)
    parts.append(f""",
afinal AS ({final})
SELECT vec_id, cluster,
       CAST(COUNT(*) OVER (PARTITION BY cluster) AS BIGINT) AS cluster_size
FROM afinal
ORDER BY vec_id
""")
    return "".join(parts)


_KM_ORACLE = _km_oracle(_KM_ITERS)


@register("kmeans_embedding_clusters", oracle=_KM_ORACLE)
def kmeans_embedding_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Lloyd's k-means over the embeddings table
    (operators/kmeans.py): k={k} clusters, 2 fixed centroid updates,
    k-smallest-md5(id) init (works on any id space, no contiguity
    assumption). The SemDeDup/domain-discovery primitive; the oracle
    replays both iterations in SQL - possible only because every
    arithmetic step is integer-exact or a single correctly-rounded IEEE
    op (see the operator docstring)."""
    from ..operators.kmeans import kmeans_assign

    emb = load_table(spark, sf_dir, "embeddings")
    return (kmeans_assign(emb, k=_KM_K, iters=_KM_ITERS)
            .orderBy("vec_id"))


# ---------------------------------------------------------------------------
# Incremental k-means assignment: frozen model over a delta batch
# ---------------------------------------------------------------------------

#: Every 5th vector plays the incoming batch; the rest are the standing
#: corpus the model was fit on (same fixture convention as the
#: incremental near-dup's doc split, plans/dedup.py _INCR_PRED).
_INCR_VEC_PRED = "vec_id % 5 = 0"


def _km_incr_oracle() -> str:
    """Fit replayed on the standing corpus only (fit_pred), then ONE
    extra assignment CTE applies the frozen final centroids to the
    delta."""
    prefix = (_km_oracle(_KM_ITERS, fit_pred=f"NOT ({_INCR_VEC_PRED})")
              .rsplit("SELECT vec_id, cluster,", 1)[0])
    assign_delta = _KM_ASSIGN.format(dim1=_KM_DIM + 1,
                                     cents=f"c{_KM_ITERS}",
                                     pred=_INCR_VEC_PRED)
    return prefix + f""",
adelta AS ({assign_delta})
SELECT vec_id,
       CAST(cluster AS BIGINT) AS cluster,
       centroid_dist
FROM adelta
ORDER BY vec_id
"""


@register("kmeans_incremental_assign", oracle=_km_incr_oracle())
def kmeans_incremental_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The daily-ingest clustering shape (the model-reuse counterpart of
    `dedup_incremental`): k-means is FIT on the standing corpus only,
    then the incoming batch is assigned with the FROZEN model - one
    map-side pass over the delta, no refit, no shuffle of either
    relation. At 100 TB the standing model is a persisted k x dim
    artifact; daily cost is |delta| x k x dim, independent of corpus
    size. The oracle replays the standing-only fit (fit_pred) plus the
    delta assignment."""
    from ..operators.kmeans import kmeans_fit, kmeans_transform

    emb = load_table(spark, sf_dir, "embeddings")
    standing = emb.filter(f"NOT ({_INCR_VEC_PRED})")
    delta = emb.filter(_INCR_VEC_PRED)
    cents, dim = kmeans_fit(standing, k=_KM_K, iters=_KM_ITERS)
    return (kmeans_transform(delta, cents, dim)
            .select("vec_id", "cluster", "centroid_dist")
            .orderBy("vec_id"))


# ---------------------------------------------------------------------------
# IVF ANN over the k-means coarse quantizer (E32 + E24 composed)
# ---------------------------------------------------------------------------

_IVF_NPROBE = 2
_IVF_FLOOR = 0.2


def _ivf_recall_oracle() -> str:
    """Full replay: the flat k-means chain (same model as
    kmeans_embedding_clusters), per-query top-nprobe lists by the SAME
    fold distance, exact-cosine rank within the probed candidates,
    recall vs brute-force - every number recomputed by DuckDB."""
    dim1, k, npb = _KM_DIM + 1, _ANN_TOP_K, _IVF_NPROBE
    prefix = _km_oracle(_KM_ITERS).rsplit("SELECT vec_id, cluster,", 1)[0]
    cos = (f"{_SQL_DOT.format(a='q.qv', b='s.embedding')}"
           f" / (sqrt({_SQL_NORM2.format(a='q.qv')})"
           f" * sqrt({_SQL_NORM2.format(a='s.embedding')}))")
    return prefix + f""",
qp AS (
    SELECT query_id, cid FROM (
        SELECT query_id, cid, dist,
               row_number() OVER (
                   PARTITION BY query_id ORDER BY dist, cid) AS rn
        FROM (
            SELECT x.vec_id AS query_id, c.cid,
                   list_reduce(list_prepend(CAST(0 AS DOUBLE),
                       list_transform(range(1, {dim1}),
                           i -> (x.xd[i] - c.c[i]) * (x.xd[i] - c.c[i]))),
                       (p, q) -> p + q) AS dist
            FROM xd x, c{_KM_ITERS} c
            WHERE x.vec_id < {N_QUERIES}))
    WHERE rn <= {npb}),
cand AS (
    SELECT p.query_id, a.vec_id
    FROM qp p JOIN afinal a ON a.cluster = p.cid
    WHERE a.vec_id <> p.query_id),
q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
      WHERE vec_id < {N_QUERIES}),
ann AS (
    SELECT query_id, vec_id FROM (
        SELECT c.query_id, c.vec_id,
               row_number() OVER (PARTITION BY c.query_id
                                  ORDER BY {cos} DESC, c.vec_id) AS rank
        FROM cand c
        JOIN q ON c.query_id = q.query_id
        JOIN embeddings s ON c.vec_id = s.vec_id)
    WHERE rank <= {k}),
brute AS (
    SELECT query_id, vec_id FROM (
        SELECT q.query_id, s.vec_id,
               row_number() OVER (PARTITION BY q.query_id
                                  ORDER BY {cos} DESC, s.vec_id) AS rank
        FROM q JOIN embeddings s ON q.query_id <> s.vec_id)
    WHERE rank <= {k}),
hits AS (
    SELECT b.query_id, CAST(COUNT(a.vec_id) AS BIGINT) AS n_hits
    FROM brute b
    LEFT JOIN ann a ON b.query_id = a.query_id AND b.vec_id = a.vec_id
    GROUP BY b.query_id)
SELECT query_id, n_hits,
       CAST(n_hits AS DOUBLE) / {k} AS recall_at_5,
       CAST(n_hits AS DOUBLE) / {k} >= {_IVF_FLOOR} AS meets_floor
FROM hits
ORDER BY query_id
"""


@register("ann_ivf_kmeans_recall", oracle=_ivf_recall_oracle())
def ann_ivf_kmeans_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """True IVF ANN: the k-means model IS the inverted-file quantizer
    (faiss IVF-Flat shape) - each query probes its nprobe={np} nearest
    of the k={k} lists by the SAME fold distance the assignment uses,
    exact cosine ranks only the probed lists (~nprobe/k of the corpus
    scanned), recall measured against brute-force truth. At 100 TB the
    cluster id is the parquet partition key, so the probe prunes
    partitions at the scan. All arithmetic deterministic -> the oracle
    replays the model, the probe, both rankings, and the recall; the
    verdict is computed identically on both sides (floor {fl})."""
    return ivf_kmeans_recall(spark, sf_dir, nprobe=_IVF_NPROBE)


def ivf_kmeans_recall(spark: SparkSession, sf_dir: str,
                      nprobe: int = _IVF_NPROBE) -> DataFrame:
    from ..operators.kmeans import (kmeans_fit, kmeans_transform,
                                    kmeans_transform_topn)

    emb = load_table(spark, sf_dir, "embeddings")
    cents, dim = kmeans_fit(emb, k=_KM_K, iters=_KM_ITERS)
    assigned = (kmeans_transform(emb, cents, dim)
                .select("vec_id", "cluster"))

    # Per-query probed lists through the DISTRIBUTED top-n kernel
    # (operators/kmeans.py kmeans_transform_topn): one map-side Arrow
    # batch pass over the query relation, bit-exact fold-order
    # distances, stable (dist, cid) ranking - so a production batch of
    # 1e6 queries never routes through the driver (the VERDICT-r4 fix;
    # the pure-Python replay survives only in tests/test_kmeans.py and
    # the DuckDB oracle's qp CTE).
    probed_df = (kmeans_transform_topn(
        emb.filter(F.col("vec_id") < N_QUERIES), cents, dim, nprobe)
        .select(F.col("vec_id").alias("query_id"), "cluster"))

    q = (emb.filter(F.col("vec_id") < N_QUERIES)
         .select(F.col("vec_id").alias("query_id"),
                 F.col("embedding").alias("qv")))
    cand = (assigned.join(F.broadcast(probed_df), "cluster")
            .where(F.col("vec_id") != F.col("query_id"))
            .select("query_id", "vec_id"))
    w = Window.partitionBy("query_id").orderBy(F.desc("_cos"), "vec_id")
    ann = (cand.join(F.broadcast(q), "query_id")
           .join(emb.select("vec_id", "embedding"), "vec_id")
           .withColumn("_cos", _cosine("qv", "embedding"))
           .withColumn("_rank", F.row_number().over(w))
           .where(F.col("_rank") <= _ANN_TOP_K)
           .select(F.col("query_id").alias("_aq"),
                   F.col("vec_id").alias("_av")))
    truth = (sim_cosine_topk(spark, sf_dir)
             .where(F.col("rank") <= _ANN_TOP_K)
             .select("query_id", "vec_id"))
    hits = (truth
            .join(ann, (F.col("query_id") == F.col("_aq"))
                  & (F.col("vec_id") == F.col("_av")), "left")
            .groupBy("query_id")
            .agg(F.count("_av").alias("n_hits")))
    recall = F.col("n_hits").cast("double") / _ANN_TOP_K
    return (hits.select(
        "query_id", F.col("n_hits").cast("bigint").alias("n_hits"),
        recall.alias("recall_at_5"),
        (recall >= _IVF_FLOOR).alias("meets_floor"))
        .orderBy("query_id"))


# ---------------------------------------------------------------------------
# IVF layout probe: the cluster-partitioned parquet serving path as a
# driver row (operators/ivf_layout.py; VERDICT r5 #2 made the layout and
# the plan guards - this row makes the END-TO-END path oracle-checked)
# ---------------------------------------------------------------------------


def _ivf_layout_probe_oracle() -> str:
    """Full replay of the layout serving path: the flat k-means chain
    (the layout's frozen model == kmeans_embedding_clusters' model), the
    per-query top-nprobe probe lists by the same fold distance, then
    cosine-of-normalized-vectors rank restricted to the probed clusters
    - the dot/normalization twins are the SemDeDup oracle's (`nrm` +
    `_SQL_DOT` on nv), so ulp-level agreement is already proven."""
    dim1, npb, k = _KM_DIM + 1, _IVF_NPROBE, _ANN_TOP_K
    prefix = _km_oracle(_KM_ITERS).rsplit("SELECT vec_id, cluster,", 1)[0]
    return prefix + f""",
qp AS (
    SELECT query_id, cid FROM (
        SELECT query_id, cid, dist,
               row_number() OVER (
                   PARTITION BY query_id ORDER BY dist, cid) AS rn
        FROM (
            SELECT x.vec_id AS query_id, c.cid,
                   list_reduce(list_prepend(CAST(0 AS DOUBLE),
                       list_transform(range(1, {dim1}),
                           i -> (x.xd[i] - c.c[i]) * (x.xd[i] - c.c[i]))),
                       (p, q) -> p + q) AS dist
            FROM xd x, c{_KM_ITERS} c
            WHERE x.vec_id < {N_QUERIES}))
    WHERE rn <= {npb}),
nrm AS (
    SELECT vec_id,
           list_transform(embedding,
               x -> CAST(x AS DOUBLE)
                    / sqrt({_SQL_NORM2.format(a='embedding')})) AS nv
    FROM embeddings),
probed AS (
    SELECT p.query_id, a.vec_id, a.cluster,
           {_SQL_DOT.format(a='qn.nv', b='cn.nv')} AS cosine
    FROM qp p
    JOIN afinal a ON a.cluster = p.cid
    JOIN nrm qn ON qn.vec_id = p.query_id
    JOIN nrm cn ON cn.vec_id = a.vec_id
    WHERE a.vec_id <> p.query_id),
ranked AS (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY cosine DESC, vec_id) AS rank
    FROM probed)
SELECT query_id, vec_id, CAST(cluster AS BIGINT) AS cluster, cosine, rank
FROM ranked WHERE rank <= {k}
ORDER BY query_id, rank
"""


@register("ann_ivf_layout_probe", oracle=_ivf_layout_probe_oracle())
def ann_ivf_layout_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF STORAGE layout end-to-end (operators/ivf_layout.py): the
    corpus is written as cluster-id-partitioned parquet under the frozen
    k-means model, then a query batch probes it - probe lists from the
    distributed kmeans_transform_topn kernel, the layout scan gated by a
    runtime (dynamic-partition-pruning) filter so only nprobe of the k
    directories are read, cosine ranked within the probed candidates.
    At 100 TB this IS the ANN serving path: the scan cost is
    |probed partitions|, not |corpus| (pruning plan-guarded in
    tests/test_ivf_partition_pruning.py; this row proves the VALUES).
    Per-run scratch layout dir, overwrite mode, catalog-free (the s4
    isolation convention)."""
    from ..operators.ivf_layout import (ivf_probe_pruned_batch,
                                        write_ivf_layout)
    from ..operators.kmeans import kmeans_fit

    emb = load_table(spark, sf_dir, "embeddings")
    cents, dim = kmeans_fit(emb, k=_KM_K, iters=_KM_ITERS)
    path = os.path.join(scratch_dir("ivf", sf_dir), "embeddings_by_cluster")
    write_ivf_layout(emb, cents, dim, path)
    queries = (emb.filter(F.col("vec_id") < N_QUERIES)
               .select("vec_id", "embedding"))
    out = ivf_probe_pruned_batch(spark, path, queries, cents, dim,
                                 nprobe=_IVF_NPROBE, k=_ANN_TOP_K)
    return (out.withColumn("cluster", F.col("cluster").cast("bigint"))
            .orderBy("query_id", "rank"))


# ---------------------------------------------------------------------------
# Two-level (coarse -> fine) k-means (operators/kmeans.py)
# ---------------------------------------------------------------------------

_KM2_K1, _KM2_K2 = 4, 3
_KM2_ITERS1, _KM2_ITERS2 = 1, 1

#: One FINE assignment pass: argmin over the k2 sub-centroids of the
#: row's OWN coarse cluster (the IVF-style partition-constrained
#: argmin), fold-order distance, ties -> lowest fid. `{cents}` carries
#: (coarse, fid, c).
_KM2_ASSIGN = """
SELECT vec_id, coarse, fid AS fine, dist AS fine_dist
FROM (
    SELECT vec_id, coarse, fid, dist,
           row_number() OVER (
               PARTITION BY vec_id ORDER BY dist, fid) AS rn
    FROM (
        SELECT x.vec_id, a.cluster AS coarse, c.fid,
               list_reduce(list_prepend(CAST(0 AS DOUBLE),
                   list_transform(range(1, {dim1}),
                       i -> (x.xd[i] - c.c[i]) * (x.xd[i] - c.c[i]))),
                   (p, q) -> p + q) AS dist
        FROM xd x
        JOIN afinal a USING (vec_id)
        JOIN {cents} c ON c.coarse = a.cluster))
WHERE rn = 1
"""


def _km2_oracle(iters1: int, iters2: int) -> str:
    """Two-level replay: the flat replay (k1, iters1) up to its final
    coarse assignment CTE (`afinal`), then per-coarse md5 seeding,
    `iters2` fine (assign -> integer-sum update -> COALESCE) blocks,
    and the final leaf assignment."""
    dim1, k2, scale = _KM_DIM + 1, _KM2_K2, _KM_SCALE
    parts = [_km_oracle(iters1, k=_KM2_K1)
             .rsplit("SELECT vec_id, cluster,", 1)[0]]
    parts.append(f""",
f0 AS (
    SELECT coarse, fid, c FROM (
        SELECT a.cluster AS coarse,
               row_number() OVER (
                   PARTITION BY a.cluster
                   ORDER BY md5('seed|' || CAST(x.vec_id AS VARCHAR)),
                            x.vec_id) - 1 AS fid,
               x.xd AS c
        FROM afinal a JOIN xd x USING (vec_id))
    WHERE fid < {k2})""")
    cents = "f0"
    for t in range(1, iters2 + 1):
        assign = _KM2_ASSIGN.format(dim1=dim1, cents=cents)
        parts.append(f""",
b{t} AS ({assign}),
fs{t} AS (
    SELECT b.coarse, b.fine AS fid, d.i,
           SUM(x.xi[d.i]) AS s, COUNT(*) AS n
    FROM b{t} b JOIN xd x USING (vec_id) CROSS JOIN dims d
    GROUP BY 1, 2, 3
),
fm{t} AS (
    SELECT coarse, fid,
           list(CAST(s AS DOUBLE)
                / (CAST(n AS DOUBLE) * CAST({scale} AS DOUBLE))
                ORDER BY i) AS c
    FROM fs{t} GROUP BY coarse, fid
),
f{t} AS (
    SELECT p.coarse, p.fid, COALESCE(m.c, p.c) AS c
    FROM {cents} p
    LEFT JOIN fm{t} m ON m.coarse = p.coarse AND m.fid = p.fid
)""")
        cents = f"f{t}"
    final = _KM2_ASSIGN.format(dim1=dim1, cents=cents)
    parts.append(f""",
bfinal AS ({final})
SELECT vec_id,
       CAST(coarse AS BIGINT) AS coarse,
       CAST(fine AS BIGINT) AS fine,
       CAST(coarse * {k2} + fine AS BIGINT) AS leaf,
       CAST(COUNT(*) OVER (PARTITION BY coarse, fine) AS BIGINT)
           AS leaf_size
FROM bfinal
ORDER BY vec_id
""")
    return "".join(parts)


@register("kmeans_twolevel_clusters",
          oracle=_km2_oracle(_KM2_ITERS1, _KM2_ITERS2))
def kmeans_twolevel_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical k-means (operators/kmeans.py kmeans_assign_twolevel):
    k1={k1} coarse clusters then k2={k2} sub-clusters within each - the
    O(n*(k1+k2)*dim) route to SemDeDup's k ~ 1e5 operating point, where
    flat assignment is O(n*k*dim) per pass (the IVF coarse-quantizer
    shape). Fully deterministic (md5 seeding per level, integer-exact
    sums), so the oracle replays BOTH levels in SQL."""
    from ..operators.kmeans import kmeans_assign_twolevel

    emb = load_table(spark, sf_dir, "embeddings")
    return (kmeans_assign_twolevel(
        emb, k1=_KM2_K1, k2=_KM2_K2,
        iters1=_KM2_ITERS1, iters2=_KM2_ITERS2)
        .orderBy("vec_id"))


# ---------------------------------------------------------------------------
# SemDeDup: semantic dedup over the k-means clusters (operators/semdedup.py)
# ---------------------------------------------------------------------------

_SEMDEDUP_TAU = 0.35

#: Cosine via L2-normalized vectors (dot of nv) - the engine
#: pre-normalizes once per row so the per-pair fold is a single dot;
#: the oracle mirrors the SAME arithmetic (one correctly-rounded IEEE
#: division per component, then the fixed-order dot fold) so verdicts at
#: the threshold cannot diverge at the ulp level.
_SEMDEDUP_ORACLE = (
    _km_oracle(_KM_ITERS).rsplit("SELECT vec_id, cluster,", 1)[0]
    + f""",
nrm AS (
    SELECT vec_id,
           list_transform(embedding,
               x -> CAST(x AS DOUBLE)
                    / sqrt({_SQL_NORM2.format(a='embedding')})) AS nv
    FROM embeddings
),
sc AS (
    SELECT a.vec_id, a.cluster, a.centroid_dist, n.nv
    FROM afinal a JOIN nrm n USING (vec_id)
),
dropped AS (
    SELECT DISTINCT x.vec_id
    FROM sc x JOIN sc y
      ON x.cluster = y.cluster AND x.vec_id <> y.vec_id
     AND (y.centroid_dist > x.centroid_dist
          OR (y.centroid_dist = x.centroid_dist AND y.vec_id < x.vec_id))
     AND {_SQL_DOT.format(a='x.nv', b='y.nv')} >= {_SEMDEDUP_TAU}
)
SELECT s.vec_id, s.cluster, d.vec_id IS NULL AS kept
FROM sc s LEFT JOIN dropped d USING (vec_id)
ORDER BY s.vec_id
""")


@register("semdedup_prune", oracle=_SEMDEDUP_ORACLE)
def semdedup_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023) as a driver row: k-means-bounded
    within-cluster cosine dedup keeping each neighborhood's most
    peripheral member (operators/semdedup.py). The oracle replays the
    whole pipeline - both Lloyd's iterations, the final assignment WITH
    its centroid distance, and the dominance prune - in SQL, which the
    integer-exact kmeans arithmetic and fixed-order cosine folds make
    bit-identical."""
    from ..operators.semdedup import semdedup

    emb = load_table(spark, sf_dir, "embeddings")
    return (semdedup(emb, k=_KM_K, iters=_KM_ITERS,
                     threshold=_SEMDEDUP_TAU)
            .orderBy("vec_id"))


# ---------------------------------------------------------------------------
# Cluster-balanced diversity sampling over the k-means clusters
# ---------------------------------------------------------------------------

_DIV_QUOTA = 30


def _div_oracle() -> str:
    from .curation import md5_32_sql
    h = md5_32_sql("'div|' || CAST(vec_id AS VARCHAR)")
    return (
        _km_oracle(_KM_ITERS).rsplit("SELECT vec_id, cluster,", 1)[0]
        + f""",
ranked AS (
    SELECT vec_id, cluster,
           row_number() OVER (
               PARTITION BY cluster ORDER BY {h}, vec_id) AS pick_rank
    FROM afinal
)
SELECT vec_id, cluster,
       CAST(pick_rank AS BIGINT) AS pick_rank,
       pick_rank <= {_DIV_QUOTA} AS kept
FROM ranked
ORDER BY vec_id
""")


@register("sample_cluster_balanced", oracle=_div_oracle())
def sample_cluster_balanced(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diversity sampling: an equal quota per k-means cluster, members
    picked by salted-md5 order (deterministic across engines/retries/
    partitionings - no RNG state; same contract as the curation splits).
    Head clusters are capped at the quota while tail clusters keep
    everything - the cluster-balanced counterpart to sqrt-temperature
    domain mixing. Per-cluster rank is a window over the cluster
    partition: at 100 TB k is chosen so clusters are ~1e5 rows, so the
    sort is per-cluster-local and parallel across clusters."""
    from pyspark.sql.window import Window as W

    from ..operators.kmeans import kmeans_fit, kmeans_transform
    from .curation import md5_32

    emb = load_table(spark, sf_dir, "embeddings")
    cents, dim = kmeans_fit(emb, k=_KM_K, iters=_KM_ITERS)
    h = md5_32(F.concat(F.lit("div|"), F.col("vec_id").cast("string")))
    w = W.partitionBy("cluster").orderBy(h.asc(), F.col("vec_id").asc())
    return (kmeans_transform(emb, cents, dim)
            .select("vec_id", "cluster")
            .withColumn("pick_rank", F.row_number().over(w).cast("bigint"))
            .withColumn("kept", F.col("pick_rank") <= _DIV_QUOTA)
            .orderBy("vec_id"))


# ---------------------------------------------------------------------------
# E42: SemDeDup cross-cluster miss audit (flat vs two-level)
# ---------------------------------------------------------------------------

#: Straddle-fraction ceiling for the verdict column (computed
#: identically on both sides, so the row hash-matches regardless - the
#: ceiling DOCUMENTS the acceptable quality cost, recall-floor style;
#: it is informational, not an oracle trip-wire). ADVICE r5 asked for a
#: value the fixture MEANINGFULLY clears: measured straddle_frac on the
#: driver fixtures is flat 0.654/0.694/0.700 and twolevel
#: 0.700/0.720/0.773 at sf0.001/0.01/0.1, so 0.85 sits ~10% above the
#: worst measured point instead of the former near-vacuous 0.9.
_MISS_CEIL = 0.85


def _miss_audit_oracle() -> str:
    """Composed replay of BOTH cluster models over ONE pair ground
    truth: the flat k={k} chain (afinal - the exact semdedup_prune /
    kmeans_embedding_clusters model) plus the two-level k1={k1}xk2={k2}
    chain (bfinal - the exact kmeans_twolevel_clusters model), whose
    colliding CTE names (c0/a1/s1/m1/c1/afinal - both chains are
    _km_oracle products) are word-boundary-renamed with a tl_ prefix;
    the WITH x/xd/dims head is byte-identical in both generators, so
    the flat chain's copy is shared. Brute-force cosine>=tau pairs are
    the ground truth; the straddle fraction per model is the quality
    cost SemDeDup's cluster bounding pays (Abbas et al.'s known caveat,
    compounded by the hierarchy's partition-constrained argmin)."""
    import re

    flat_prefix = _km_oracle(_KM_ITERS).rsplit(
        "SELECT vec_id, cluster,", 1)[0]
    two_prefix = _km2_oracle(_KM2_ITERS1, _KM2_ITERS2).rsplit(
        "\nSELECT vec_id,\n", 1)[0]
    chain = "c0 AS (" + two_prefix.split("c0 AS (", 1)[1]
    # ADVICE r5: derive the rename targets from the chain's actual CTE
    # grammar instead of hardcoding the iters1=1 set - _km_oracle emits
    # c0 + a{i}/s{i}/m{i}/c{i} per iteration + afinal, so raising
    # _KM2_ITERS1 adds a2/s2/m2/c2... and this pattern still catches
    # them (the shared x/xd/dims head is deliberately NOT matched).
    chain = re.sub(r"\b(afinal|[acsm]\d+|c0)\b", r"tl_\1", chain)
    dot = _SQL_DOT.format(a="a.nv", b="b.nv")
    return flat_prefix + ",\n" + chain + f""",
nrm AS (
    SELECT vec_id,
           list_transform(embedding,
               x -> CAST(x AS DOUBLE)
                    / sqrt({_SQL_NORM2.format(a='embedding')})) AS nv
    FROM embeddings
),
pairs AS (
    SELECT a.vec_id AS id_a, b.vec_id AS id_b
    FROM nrm a JOIN nrm b ON a.vec_id < b.vec_id
    WHERE {dot} >= {_SEMDEDUP_TAU}
),
leaves AS (
    SELECT vec_id, coarse * {_KM2_K2} + fine AS leaf FROM bfinal
),
audits AS (
    SELECT 'flat' AS model,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(COALESCE(SUM(CASE WHEN x.cluster <> y.cluster
                                  THEN 1 ELSE 0 END), 0) AS BIGINT)
               AS n_straddle
    FROM pairs p
    JOIN afinal x ON p.id_a = x.vec_id
    JOIN afinal y ON p.id_b = y.vec_id
    UNION ALL
    SELECT 'twolevel' AS model,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(COALESCE(SUM(CASE WHEN x.leaf <> y.leaf
                                  THEN 1 ELSE 0 END), 0) AS BIGINT)
               AS n_straddle
    FROM pairs p
    JOIN leaves x ON p.id_a = x.vec_id
    JOIN leaves y ON p.id_b = y.vec_id
)
SELECT model, n_pairs, n_straddle,
       CASE WHEN n_pairs > 0
            THEN CAST(n_straddle AS DOUBLE) / n_pairs
            ELSE 0.0 END AS straddle_frac,
       CASE WHEN n_pairs > 0
            THEN CAST(n_straddle AS DOUBLE) / n_pairs
            ELSE 0.0 END <= {_MISS_CEIL} AS within_ceiling
FROM audits
ORDER BY model
"""


@register("semdedup_miss_audit", oracle=_miss_audit_oracle())
def semdedup_miss_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E42 (VERDICT r4 #4): SemDeDup by construction cannot drop a
    near-duplicate pair whose members land in DIFFERENT clusters - this
    row MEASURES that blind spot. Ground truth is the brute-force set of
    cosine>=tau pairs; for each cluster model (the flat k-means semdedup
    runs on, and the two-level hierarchy the scale curve justified) the
    audit reports how many ground-truth pairs straddle a cluster/leaf
    boundary, with a ceiling verdict computed identically on both sides
    (the `ann_multitable_recall` pattern). Quadratic BY DESIGN - ground
    truth requires it - so at 100 TB this runs on a ~1e5-row QA sample,
    not the corpus (:func:`miss_audit_sampled` is that mode - a
    deterministic md5-threshold vector sample; here the fixture is the
    sample, sample_frac=1.0). One flat model fit + one two-level fit +
    a broadcast-NLJ pair scan with the Arrow-batched pair-dot kernel -
    no pair relation is ever shuffled."""
    return miss_audit_frame(load_table(spark, sf_dir, "embeddings"))


def miss_audit_sampled(spark: SparkSession, sf_dir: str,
                       sample_frac: float) -> DataFrame:
    """The 100 TB mode of the miss audit: the pair ground truth is
    quadratic, so run it on a DETERMINISTIC md5-threshold sample of the
    corpus vectors (same salted-hash device as the curation splits - no
    RNG state, reproducible across engines/retries/partitionings). Both
    members of every counted pair come from the sample, so the straddle
    FRACTION is an unbiased estimate of the full audit's; model fits
    stay corpus-wide (sampling the QA measurement, not the models).
    The registered `semdedup_miss_audit` row is this with
    sample_frac=1.0 (the fixture IS the sample)."""
    from .curation import md5_32

    emb = load_table(spark, sf_dir, "embeddings")
    if sample_frac < 1.0:
        bound = int(sample_frac * (1 << 32))
        keep = md5_32(F.concat(F.lit("miss|"),
                               F.col("vec_id").cast("string"))) < bound
        return miss_audit_frame(emb, pair_pred=keep)
    return miss_audit_frame(emb)


def miss_audit_frame(emb: DataFrame, pair_pred=None) -> DataFrame:
    """Shared audit body over an embeddings relation; `pair_pred`
    restricts which vectors enter the PAIR ground truth (the sampled
    mode) while both cluster models are always fit on the full input."""
    from ..operators.kmeans import kmeans_assign, kmeans_assign_twolevel
    from ..operators.semdedup import normalized_vectors, pair_dot

    pool = emb.filter(pair_pred) if pair_pred is not None else emb
    # pool-sized: the Arrow normalization kernel (r14; bit-identical)
    nv = normalized_vectors(pool, kernel="vectorized")
    a = nv.select(F.col("vec_id").alias("id_a"), F.col("nv").alias("nv_a"))
    b = nv.select(F.col("vec_id").alias("id_b"), F.col("nv").alias("nv_b"))
    pairs = (a.join(b, F.col("id_a") < F.col("id_b"))
             .withColumn("_dot", pair_dot("nv_a", "nv_b"))
             .filter(F.col("_dot") >= _SEMDEDUP_TAU)
             .select("id_a", "id_b")
             .localCheckpoint())

    flat = (kmeans_assign(emb, k=_KM_K, iters=_KM_ITERS)
            .select("vec_id", F.col("cluster").alias("part")))
    two = (kmeans_assign_twolevel(emb, k1=_KM2_K1, k2=_KM2_K2,
                                  iters1=_KM2_ITERS1, iters2=_KM2_ITERS2)
           .select("vec_id", F.col("leaf").alias("part")))

    def audit(assign: DataFrame, model: str) -> DataFrame:
        x = assign.select(F.col("vec_id").alias("id_a"),
                          F.col("part").alias("part_a"))
        y = assign.select(F.col("vec_id").alias("id_b"),
                          F.col("part").alias("part_b"))
        return (pairs.join(x, "id_a").join(y, "id_b")
                .agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
                     F.coalesce(
                         F.sum((F.col("part_a") != F.col("part_b"))
                               .cast("bigint")), F.lit(0))
                     .cast("bigint").alias("n_straddle"))
                .select(F.lit(model).alias("model"),
                        "n_pairs", "n_straddle"))

    frac = (F.when(F.col("n_pairs") > 0,
                   F.col("n_straddle").cast("double") / F.col("n_pairs"))
            .otherwise(F.lit(0.0)))
    return (audit(flat, "flat").unionByName(audit(two, "twolevel"))
            .select("model", "n_pairs", "n_straddle",
                    frac.alias("straddle_frac"),
                    (frac <= _MISS_CEIL).alias("within_ceiling"))
            .orderBy("model"))


# ---------------------------------------------------------------------------
# E43: incremental SemDeDup - frozen standing model + cluster-local
# delta-vs-keepers dedup (VERDICT r5 #3)
# ---------------------------------------------------------------------------


def _semdedup_incr_oracle() -> str:
    """Full replay of the incremental pipeline: the standing-only fit
    (the `_km_oracle` fit_pred parametrization, exactly as the
    kmeans_incremental_assign oracle), one frozen-model delta
    assignment CTE, the standing batch prune (the semdedup_prune
    dominance SQL restricted to standing rows), then the two
    |delta|-sided verdicts - delta rows against the keeper+delta pool,
    and keeper evictions by dominating delta rows."""
    pred = _INCR_VEC_PRED
    prefix = (_km_oracle(_KM_ITERS, fit_pred=f"NOT ({pred})")
              .rsplit("SELECT vec_id, cluster,", 1)[0])
    assign_delta = _KM_ASSIGN.format(dim1=_KM_DIM + 1,
                                     cents=f"c{_KM_ITERS}", pred=pred)
    dom = ("({y}.centroid_dist > {x}.centroid_dist"
           " OR ({y}.centroid_dist = {x}.centroid_dist"
           " AND {y}.vec_id < {x}.vec_id))")
    return prefix + f""",
adelta AS ({assign_delta}),
nrm AS (
    SELECT vec_id,
           list_transform(embedding,
               x -> CAST(x AS DOUBLE)
                    / sqrt({_SQL_NORM2.format(a='embedding')})) AS nv
    FROM embeddings
),
ssc AS (
    SELECT a.vec_id, a.cluster, a.centroid_dist, n.nv
    FROM afinal a JOIN nrm n USING (vec_id)
),
sdropped AS (
    SELECT DISTINCT x.vec_id
    FROM ssc x JOIN ssc y
      ON x.cluster = y.cluster AND x.vec_id <> y.vec_id
     AND {dom.format(x='x', y='y')}
     AND {_SQL_DOT.format(a='x.nv', b='y.nv')} >= {_SEMDEDUP_TAU}
),
skeep AS (
    SELECT s.vec_id, s.cluster, s.centroid_dist, s.nv
    FROM ssc s LEFT JOIN sdropped d USING (vec_id)
    WHERE d.vec_id IS NULL
),
dsc AS (
    SELECT a.vec_id, a.cluster, a.centroid_dist, n.nv
    FROM adelta a JOIN nrm n USING (vec_id)
),
pool AS (
    SELECT * FROM skeep UNION ALL SELECT * FROM dsc
),
ddropped AS (
    SELECT DISTINCT x.vec_id
    FROM dsc x JOIN pool y
      ON x.cluster = y.cluster AND x.vec_id <> y.vec_id
     AND {dom.format(x='x', y='y')}
     AND {_SQL_DOT.format(a='x.nv', b='y.nv')} >= {_SEMDEDUP_TAU}
),
evicted AS (
    SELECT DISTINCT s.vec_id
    FROM skeep s JOIN dsc y
      ON s.cluster = y.cluster
     AND {dom.format(x='s', y='y')}
     AND {_SQL_DOT.format(a='s.nv', b='y.nv')} >= {_SEMDEDUP_TAU}
)
SELECT vec_id, cluster, is_delta, kept FROM (
    SELECT s.vec_id, s.cluster, FALSE AS is_delta,
           e.vec_id IS NULL AS kept
    FROM skeep s LEFT JOIN evicted e USING (vec_id)
    UNION ALL
    SELECT x.vec_id, x.cluster, TRUE AS is_delta,
           d.vec_id IS NULL AS kept
    FROM dsc x LEFT JOIN ddropped d USING (vec_id))
ORDER BY vec_id
"""


@register("semdedup_incremental", oracle=_semdedup_incr_oracle())
def semdedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E43 (VERDICT r5 #3): the daily-ingest shape of SemDeDup -
    `kmeans_incremental_assign`'s frozen standing model composed with
    `semdedup_prune`'s dominance rule (operators/semdedup.py
    semdedup_incremental). The delta batch (every 5th vector, the
    _INCR_VEC_PRED fixture convention shared with dedup_incremental)
    is assigned map-side with the model fit on the standing corpus
    only, then deduped cluster-locally against the standing KEEPERS +
    fellow delta rows: |delta| x cluster_size work, corpus-size-
    independent, and standing keepers are evicted ONLY when a near-dup
    delta row dominates them (farther from the frozen centroid; ties ->
    lower id). The oracle replays the standing-only fit, the delta
    assignment, the standing prune, and both |delta|-sided verdict
    sets in SQL."""
    from ..operators.semdedup import semdedup_incremental as _incr

    emb = load_table(spark, sf_dir, "embeddings")
    standing = emb.filter(f"NOT ({_INCR_VEC_PRED})")
    delta = emb.filter(_INCR_VEC_PRED)
    return (_incr(standing, delta, k=_KM_K, iters=_KM_ITERS,
                  threshold=_SEMDEDUP_TAU)
            .orderBy("vec_id"))


# ---------------------------------------------------------------------------
# E46: hierarchical IVF layout + distributed two-level probe (driver row,
# VERDICT r7 #2) - operators/ivf_layout.py write_ivf_layout_twolevel +
# ivf_probe_pruned_batch_twolevel(probe_lists="plan")
# ---------------------------------------------------------------------------

_HIER_NPROBE = 4          # leaves probed per query
_HIER_NPC = 2             # coarse cells visited per query

#: Fold-order squared euclidean of a query's xd to a centroid list
#: column - the same list_reduce spec as _KM_ASSIGN, parameterized on
#: the centroid expression.
_Q_FOLD = ("list_reduce(list_prepend(CAST(0 AS DOUBLE), "
           "list_transform(range(1, {dim1}), "
           "i -> (x.xd[i] - {c}[i]) * (x.xd[i] - {c}[i]))), "
           "(p, q) -> p + q)")


def _twolevel_probe_ctes() -> str:
    """The two-level PROBE replay as a reusable CTE block (leading
    comma, appended after a _km2_oracle prefix ending at bfinal):
    leaf materialization (leaves), the fine-centroid relation with the
    empty-coarse-cell fallback (fcents), and the per-query two-level
    probe - nprobe_coarse nearest coarse cells by fold distance (qc),
    then nprobe nearest fine leaves across those cells' lists (qf).
    Shared by the float hier-layout row and the stored IVF-PQ row."""
    dim1, k2 = _KM_DIM + 1, _KM2_K2
    t1, t2 = _KM2_ITERS1, _KM2_ITERS2
    cfold = _Q_FOLD.format(dim1=dim1, c="cc.c")
    ffold = _Q_FOLD.format(dim1=dim1, c="f.c")
    return f""",
leaves AS (
    SELECT vec_id, coarse * {k2} + fine AS cluster FROM bfinal
),
fcents AS (
    SELECT coarse, fid, c FROM f{t2}
    UNION ALL
    SELECT cc.cid AS coarse, 0 AS fid, cc.c
    FROM c{t1} cc
    LEFT JOIN (SELECT DISTINCT coarse FROM f{t2}) h ON h.coarse = cc.cid
    WHERE h.coarse IS NULL
),
qc AS (
    SELECT query_id, coarse FROM (
        SELECT x.vec_id AS query_id, cc.cid AS coarse,
               {cfold} AS dist,
               row_number() OVER (PARTITION BY x.vec_id
                                  ORDER BY dist, cc.cid) AS rn
        FROM xd x, c{t1} cc
        WHERE x.vec_id < {N_QUERIES})
    WHERE rn <= {_HIER_NPC}
),
qf AS (
    SELECT query_id, leaf FROM (
        SELECT q.query_id, f.coarse * {k2} + f.fid AS leaf,
               {ffold} AS dist,
               row_number() OVER (
                   PARTITION BY q.query_id
                   ORDER BY dist, f.coarse * {k2} + f.fid) AS rn
        FROM qc q
        JOIN fcents f ON f.coarse = q.coarse
        JOIN xd x ON x.vec_id = q.query_id)
    WHERE rn <= {_HIER_NPROBE}
)"""


def _hier_layout_probe_oracle() -> str:
    """Full replay of the hierarchical serving path: the two-level
    k-means chain (byte-identical to kmeans_twolevel_clusters' oracle
    through `bfinal`), leaf materialization, the per-query two-level
    probe - nprobe_coarse nearest coarse cells by fold distance, then
    nprobe nearest fine leaves across those cells' lists (a fit-time-
    empty coarse cell contributes its own centroid as a fine=0 leaf,
    the build's fallback) - and the cosine rank restricted to the
    probed leaves (the flat layout oracle's dot/normalization twins)."""
    k = _ANN_TOP_K
    prefix = _km2_oracle(_KM2_ITERS1, _KM2_ITERS2).rsplit(
        "\nSELECT vec_id,\n", 1)[0]
    return prefix + _twolevel_probe_ctes() + f""",
nrm AS (
    SELECT vec_id,
           list_transform(embedding,
               x -> CAST(x AS DOUBLE)
                    / sqrt({_SQL_NORM2.format(a='embedding')})) AS nv
    FROM embeddings
),
probed AS (
    SELECT p.query_id, l.vec_id, l.cluster,
           {_SQL_DOT.format(a='qn.nv', b='cn.nv')} AS cosine
    FROM qf p
    JOIN leaves l ON l.cluster = p.leaf
    JOIN nrm qn ON qn.vec_id = p.query_id
    JOIN nrm cn ON cn.vec_id = l.vec_id
    WHERE l.vec_id <> p.query_id
),
hranked AS (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY cosine DESC, vec_id) AS rank
    FROM probed
)
SELECT query_id, vec_id, CAST(cluster AS BIGINT) AS cluster, cosine, rank
FROM hranked WHERE rank <= {k}
ORDER BY query_id, rank
"""


@register("ann_ivf_hier_layout_probe", oracle=_hier_layout_probe_oracle())
def ann_ivf_hier_layout_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E46 end-to-end (operators/ivf_layout.py): the corpus stored as
    LEAF-partitioned parquet under a frozen two-level k-means model
    (k1={k1} x k2={k2} - the O(n*sqrt(k)*dim) build for corpus-scaled
    k), probed by the DISTRIBUTED two-level planner
    (kmeans_transform_topn_twolevel, probe_lists='plan' - the VERDICT
    r7 #4 path: query vectors never land on the driver; the layout
    scan prunes at runtime via dynamic partition pruning), cosine
    ranked within the probed leaves only. The oracle replays the full
    two-level fit, the probe's both levels, and the restricted rank.
    Per-run scratch dir, overwrite mode, catalog-free."""
    from ..operators.ivf_layout import (ivf_probe_pruned_batch_twolevel,
                                        write_ivf_layout_twolevel)
    from ..operators.kmeans import kmeans_fit_twolevel

    emb = load_table(spark, sf_dir, "embeddings")
    # r15: the fit hands back its checkpointed coarse assignment (the
    # raw vector rides via carry=), so the layout build skips the
    # second corpus scan + coarse-kernel pass it used to re-run.
    cc, fi, dim, assigned = kmeans_fit_twolevel(
        emb, k1=_KM2_K1, k2=_KM2_K2,
        iters1=_KM2_ITERS1, iters2=_KM2_ITERS2,
        return_assigned=True, carry=("embedding",))
    path = os.path.join(scratch_dir("ivf", sf_dir), "embeddings_hier")
    write_ivf_layout_twolevel(emb, cc, fi, _KM2_K2, dim, path,
                              coarse_assigned=assigned)
    queries = (emb.filter(F.col("vec_id") < N_QUERIES)
               .select("vec_id", "embedding"))
    out = ivf_probe_pruned_batch_twolevel(
        spark, path, queries, cc, fi, _KM2_K2, dim,
        nprobe=_HIER_NPROBE, k=_ANN_TOP_K, nprobe_coarse=_HIER_NPC,
        probe_lists="plan")
    return (out.withColumn("cluster", F.col("cluster").cast("bigint"))
            .orderBy("query_id", "rank"))


# ---------------------------------------------------------------------------
# E47: product quantization (driver row, VERDICT r7 #2) - operators/pq.py
# pq_train + pq_encode + pq_adc_topk(rerank=corpus)
# ---------------------------------------------------------------------------

_PQ_M, _PQ_KSUB, _PQ_ITERS = 8, 16, 2    # dim 64 -> dsub 8


def _pq_codes_oracle() -> str:
    """Composite replay of the PQ pipeline as one tall relation:

    * 'code' rows - the full grouped codebook training (the kmeans
      recipe over the exploded (s, subvector) relation: md5-seeded,
      integer-scaled exact sums, {iters} fixed iterations, empty codes
      keep their previous centroid) followed by the per-subspace
      argmin encode. Checks pq_train AND pq_encode end-to-end, since
      every code depends on its trained codebook.
    * 'topk' rows - the exactness-limit identity: with rerank = corpus
      the ADC candidate set is every non-self row, so the exact
      re-rank tail must reproduce the brute-force cosine top-k
      bit-for-bit (the flat oracle's dot/normalization twins). Checks
      the ADC kernel's candidate plumbing + the re-rank join without
      requiring SQL to replay dgemm rounding.

    Razor-tie caveat (module docstring of operators/pq.py): the engine
    encodes by expanded-form argmin while this replay folds in dim
    order - equal except within ~1 ulp ties, absent in the fixtures
    (the accepted tradeoff for PQ's dgemm encode)."""
    k = _ANN_TOP_K
    return f"""
WITH{_pq_train_chain()},
nrm AS (
    SELECT vec_id,
           list_transform(embedding,
               x -> CAST(x AS DOUBLE)
                    / sqrt({_SQL_NORM2.format(a='embedding')})) AS nv
    FROM embeddings
),
exact AS (
    SELECT q.vec_id AS query_id, c.vec_id,
           {_SQL_DOT.format(a='q.nv', b='c.nv')} AS score
    FROM nrm q JOIN nrm c ON q.vec_id <> c.vec_id
    WHERE q.vec_id < {N_QUERIES}
),
etop AS (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY score DESC, vec_id) AS rank
    FROM exact
)
SELECT 'code' AS row_kind,
       vec_id AS id1, CAST(s AS BIGINT) AS id2,
       CAST(code AS BIGINT) AS ival, CAST(NULL AS DOUBLE) AS dval
FROM cfinal
UNION ALL
SELECT 'topk' AS row_kind,
       query_id AS id1, vec_id AS id2,
       CAST(rank AS BIGINT) AS ival, score AS dval
FROM etop WHERE rank <= {k}
ORDER BY row_kind, id1, id2
"""


def _pq_train_chain(bp: str = "b") -> str:
    """The pq_train + final-encode replay as a REUSABLE CTE chain
    (no leading WITH): the exploded (s, subvector) relation (xs), the
    md5-smallest-ids seeding shared by every subspace (seeds), the
    {bp}0..{bp}N codebook iterations (assign pa / integer-exact sums
    ps / update pm / COALESCE), and the final RAW-vector encode
    (cfinal). `bp` prefixes the codebook CTE names so the chain
    composes into oracles whose own prefix already uses b1.. (the
    two-level k-means fine blocks in the stored-IVF-PQ row)."""
    m, ksub, iters, scale = _PQ_M, _PQ_KSUB, _PQ_ITERS, _KM_SCALE
    dsub = _KM_DIM // m
    dsub1 = dsub + 1
    # {vc} parameterizes the vector form: training assigns the
    # integer-scaled xd (kmeans_fit's exact-replay contract), while the
    # final ENCODE scores the raw double subvector sd - pq_encode
    # quantizes raw vectors, the faiss convention.
    sfold = ("list_reduce(list_prepend(CAST(0 AS DOUBLE), "
             "list_transform(range(1, {d1}), "
             "i -> (x.{{vc}}[i] - b.c[i]) * (x.{{vc}}[i] - b.c[i]))), "
             "(p, q) -> p + q)").format(d1=dsub1)
    assign = f"""
    SELECT vec_id, s, code FROM (
        SELECT x.vec_id, x.s, b.code, {sfold} AS dist,
               row_number() OVER (PARTITION BY x.vec_id, x.s
                                  ORDER BY dist, b.code) AS rn
        FROM xs x JOIN {{books}} b ON b.s = x.s)
    WHERE rn = 1
"""
    parts = [f"""
xs AS (
    SELECT vec_id, s,
           list_transform(sv,
               v -> CAST(floor(CAST(v AS DOUBLE)
                               * CAST({scale} AS DOUBLE)) AS BIGINT))
               AS xi,
           list_transform(sv,
               v -> CAST(floor(CAST(v AS DOUBLE)
                               * CAST({scale} AS DOUBLE)) AS BIGINT)
                    / CAST({scale} AS DOUBLE)) AS xd,
           list_transform(sv, v -> CAST(v AS DOUBLE)) AS sd
    FROM (
        SELECT vec_id, g.s,
               list_slice(embedding, g.s * {dsub} + 1,
                          (g.s + 1) * {dsub}) AS sv
        FROM embeddings
        CROSS JOIN (SELECT unnest(range(0, {m})) AS s) g)
),
sdims AS (SELECT unnest(range(1, {dsub1})) AS i),
seeds AS (
    SELECT vec_id, code FROM (
        SELECT vec_id,
               row_number() OVER (
                   ORDER BY md5('seed|' || CAST(vec_id AS VARCHAR)),
                            vec_id) - 1 AS code
        FROM embeddings)
    WHERE code < {ksub}
),
{bp}0 AS (
    SELECT x.s, sd.code, x.xd AS c
    FROM xs x JOIN seeds sd USING (vec_id)
)"""]
    books = f"{bp}0"
    for t in range(1, iters + 1):
        parts.append(f""",
pa{t} AS ({assign.format(books=books, vc="xd")}),
ps{t} AS (
    SELECT a.s, a.code, d.i, SUM(x.xi[d.i]) AS sm, COUNT(*) AS n
    FROM pa{t} a
    JOIN xs x ON x.vec_id = a.vec_id AND x.s = a.s
    CROSS JOIN sdims d
    GROUP BY 1, 2, 3
),
pm{t} AS (
    SELECT s, code,
           list(CAST(sm AS DOUBLE)
                / (CAST(n AS DOUBLE) * CAST({scale} AS DOUBLE))
                ORDER BY i) AS c
    FROM ps{t} GROUP BY s, code
),
{bp}{t} AS (
    SELECT p.s, p.code, COALESCE(m.c, p.c) AS c
    FROM {books} p
    LEFT JOIN pm{t} m ON m.s = p.s AND m.code = p.code
)""")
        books = f"{bp}{t}"
    parts.append(f""",
cfinal AS ({assign.format(books=books, vc="sd")})""")
    return "".join(parts)


@register("pq_codes_rerank_topk", oracle=_pq_codes_oracle())
def pq_codes_rerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E47 as a driver row (operators/pq.py), one tall composite
    relation: every vector's m={m} PQ codes (codebooks trained by the
    grouped Lloyd's over the exploded (s, subvector) relation -
    oracle-replayed including both integer-exact iterations) plus the
    per-query top-{k} from the FULL pipeline (encode -> ADC candidate
    kernel -> exact re-rank) run at rerank = corpus, the exactness
    limit where the result is pinned bit-equal to brute-force cosine.
    The bounded-shuffle ADC kernel and the candidate-sized re-rank
    join are exactly the 100 TB serving shapes (VERDICT r7 #5)."""
    from ..operators.pq import pq_adc_topk, pq_encode, pq_train

    emb = load_table(spark, sf_dir, "embeddings")
    books = pq_train(emb, m=_PQ_M, ksub=_PQ_KSUB, iters=_PQ_ITERS)
    # The codes relation feeds BOTH output halves (the exploded 'code'
    # rows and the ADC scan); pin it once so the encode kernel runs one
    # pass, not one per branch. Control-plane sized (n x m smallints).
    codes = pq_encode(emb, books).localCheckpoint()
    queries = (emb.filter(F.col("vec_id") < N_QUERIES)
               .select("vec_id", "embedding"))
    n = emb.count()
    topk = pq_adc_topk(codes, queries, books, k=_ANN_TOP_K,
                       rerank=n, emb=emb)
    code_rows = (codes
                 .select(F.col("vec_id").alias("id1"),
                         F.posexplode("codes").alias("id2", "ival"))
                 .select(F.lit("code").alias("row_kind"), "id1",
                         F.col("id2").cast("bigint").alias("id2"),
                         F.col("ival").cast("bigint").alias("ival"),
                         F.lit(None).cast("double").alias("dval")))
    topk_rows = topk.select(
        F.lit("topk").alias("row_kind"),
        F.col("query_id").alias("id1"),
        F.col("vec_id").alias("id2"),
        F.col("rank").cast("bigint").alias("ival"),
        F.col("score").alias("dval"))
    return code_rows.unionByName(topk_rows).orderBy("row_kind", "id1",
                                                    "id2")


# ---------------------------------------------------------------------------
# E44 x E46 x E47: the STORED IVF-PQ index, served (driver row, VERDICT
# r8 #4) - operators/pq.py write_ivf_pq_layout_twolevel + ivf_pq_probe_twolevel
# ---------------------------------------------------------------------------


def _ivfpq_stored_oracle() -> str:
    """Composite replay of the full stored-index serve path, one tall
    relation:

    * 'leaf' rows - every vector's stored leaf id: the two-level
      k-means chain (byte-identical to kmeans_twolevel_clusters'
      oracle through `bfinal`) materialized as cluster = coarse*k2 +
      fine. Checks the BUILD's directory routing as read back from
      the layout.
    * 'code' rows - the stored PQ codes: the grouped codebook training
      replay (_pq_train_chain, codebook CTEs prefixed qb* to coexist
      with the k-means chain's b* fine blocks) + the raw-vector argmin
      encode. Checks that the build stored pq_encode's codes.
    * 'topk' rows - the serve contract at the exactness limit: with
      rerank = corpus every probed row is a candidate, so the exact
      re-rank tail must reproduce the exact cosine top-k over each
      query's PROBED POOL (the two-level probe replay `qf` restricted
      rank) - pinning probe planning, per-query leaf masks, the
      bounded file discovery, and the re-rank join, without asking SQL
      to replay ADC dgemm rounding (same division of labor as
      pq_codes_rerank_topk)."""
    k = _ANN_TOP_K
    prefix = _km2_oracle(_KM2_ITERS1, _KM2_ITERS2).rsplit(
        "\nSELECT vec_id,\n", 1)[0]
    return (prefix + _twolevel_probe_ctes() + ","
            + _pq_train_chain("qb") + f""",
nrm AS (
    SELECT vec_id,
           list_transform(embedding,
               x -> CAST(x AS DOUBLE)
                    / sqrt({_SQL_NORM2.format(a='embedding')})) AS nv
    FROM embeddings
),
probed AS (
    SELECT p.query_id, l.vec_id,
           {_SQL_DOT.format(a='qn.nv', b='cn.nv')} AS cosine
    FROM qf p
    JOIN leaves l ON l.cluster = p.leaf
    JOIN nrm qn ON qn.vec_id = p.query_id
    JOIN nrm cn ON cn.vec_id = l.vec_id
    WHERE l.vec_id <> p.query_id
),
hranked AS (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY cosine DESC, vec_id) AS rank
    FROM probed
)
SELECT 'leaf' AS row_kind,
       vec_id AS id1, CAST(0 AS BIGINT) AS id2,
       CAST(cluster AS BIGINT) AS ival, CAST(NULL AS DOUBLE) AS dval
FROM leaves
UNION ALL
SELECT 'code' AS row_kind,
       vec_id AS id1, CAST(s AS BIGINT) AS id2,
       CAST(code AS BIGINT) AS ival, CAST(NULL AS DOUBLE) AS dval
FROM cfinal
UNION ALL
SELECT 'topk' AS row_kind,
       query_id AS id1, vec_id AS id2,
       CAST(rank AS BIGINT) AS ival, cosine AS dval
FROM hranked WHERE rank <= {k}
ORDER BY row_kind, id1, id2
""")


@register("ann_ivfpq_stored_probe", oracle=_ivfpq_stored_oracle())
def ann_ivfpq_stored_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The stored IVF-PQ index end-to-end (VERDICT r8 #4,
    operators/pq.py): the corpus PQ-encoded and stored as
    leaf-partitioned CODES under a frozen two-level quantizer
    (write_ivf_pq_layout_twolevel - the O(n*sqrt(k)*dim) build whose
    cluster id rides the encode projection, no corpus self-join), then
    SERVED by ivf_pq_probe_twolevel in literal mode: one narrow query
    collect feeds both the ADC LUTs and the driver-side two-level
    probe planning, the probed leaf union bounds the file discovery
    (manifest-first), per-query leaf masks run in-kernel, and the
    exact re-rank tail (rerank = corpus, the exactness limit) restores
    fold-order cosine over each query's probed pool. Output = stored
    leaf ids + stored codes + the per-query top-{k}; the oracle
    replays fit, training, encode, probe planning, and the restricted
    exact rank. At 100 TB this is the serving shape the scale curve
    measures: prune directories x read m-byte codes x ADC x
    candidate-sized re-rank."""
    from ..operators.kmeans import kmeans_fit_twolevel
    from ..operators.pq import (ivf_pq_probe_twolevel, pq_train,
                                write_ivf_pq_layout_twolevel)

    emb = load_table(spark, sf_dir, "embeddings")
    # r15 driver-sequencing cuts: PQ training is INDEPENDENT of the
    # two-level fit (both are pure functions of the corpus), so it runs
    # in a driver thread and its 3 sequential jobs overlap the fit's 4
    # (guide SS2.6 - actions are only sequential because the driver
    # calls them sequentially); the fit returns its checkpointed coarse
    # assignment (vector carried through) so the layout build skips its
    # coarse re-run; and the corpus count for the rerank=corpus
    # exactness limit rides the layout write as an Observation instead
    # of a separate count job.
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=1) as pool:
        books_fut = pool.submit(pq_train, emb, m=_PQ_M, ksub=_PQ_KSUB,
                                iters=_PQ_ITERS)
        cc, fi, dim, assigned = kmeans_fit_twolevel(
            emb, k1=_KM2_K1, k2=_KM2_K2,
            iters1=_KM2_ITERS1, iters2=_KM2_ITERS2,
            return_assigned=True, carry=("embedding",))
        books = books_fut.result()
    path = os.path.join(scratch_dir("ivf", sf_dir), "embeddings_ivfpq")
    n = write_ivf_pq_layout_twolevel(emb, cc, fi, _KM2_K2, dim, books,
                                     path, coarse_assigned=assigned)

    lay = spark.read.parquet(path).select("vec_id", "codes", "cluster")
    queries = (emb.filter(F.col("vec_id") < N_QUERIES)
               .select("vec_id", "embedding"))
    topk = ivf_pq_probe_twolevel(
        spark, path, queries, cc, fi, _KM2_K2, books,
        nprobe=_HIER_NPROBE, k=_ANN_TOP_K, nprobe_coarse=_HIER_NPC,
        rerank=n, emb=emb, probe_lists="literal")

    leaf_rows = lay.select(
        F.lit("leaf").alias("row_kind"),
        F.col("vec_id").alias("id1"),
        F.lit(0).cast("bigint").alias("id2"),
        F.col("cluster").cast("bigint").alias("ival"),
        F.lit(None).cast("double").alias("dval"))
    code_rows = (lay
                 .select(F.col("vec_id").alias("id1"),
                         F.posexplode("codes").alias("id2", "ival"))
                 .select(F.lit("code").alias("row_kind"), "id1",
                         F.col("id2").cast("bigint").alias("id2"),
                         F.col("ival").cast("bigint").alias("ival"),
                         F.lit(None).cast("double").alias("dval")))
    topk_rows = topk.select(
        F.lit("topk").alias("row_kind"),
        F.col("query_id").alias("id1"),
        F.col("vec_id").alias("id2"),
        F.col("rank").cast("bigint").alias("ival"),
        F.col("score").alias("dval"))
    return (leaf_rows.unionByName(code_rows).unionByName(topk_rows)
            .orderBy("row_kind", "id1", "id2"))


# ---------------------------------------------------------------------------
# E49: generation-versioned layout - the lock-free index swap (driver row)
# operators/ivf_layout.py write_ivf_layout_generation / read_layout_manifest
# ---------------------------------------------------------------------------

_GEN_SWAP_ORACLE = """
WITH h AS (SELECT CAST(COUNT(*) AS BIGINT) AS c FROM embeddings
           WHERE vec_id % 2 = 0),
a AS (SELECT CAST(COUNT(*) AS BIGINT) AS c FROM embeddings)
SELECT s.step, s.value
FROM h, a, LATERAL (VALUES
    ('1_v1_rows', h.c),
    ('2_v2_rows', a.c),
    ('3_latest_version', CAST(2 AS BIGINT)),
    ('4_pinned_probe_drift_rows', CAST(0 AS BIGINT)),
    ('5_latest_distinct_ids', a.c),
    ('6_latest_total_rows', a.c),
    ('7_vacuum_removed_gens', CAST(1 AS BIGINT)),
    ('8_v1_survives_vacuum', CAST(0 AS BIGINT)),
    ('9_latest_rows_after_vacuum', a.c)) s(step, value)
ORDER BY s.step
"""


@register("ivf_generation_swap", oracle=_GEN_SWAP_ORACLE)
def ivf_generation_swap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E49 as a driver row: the IMMUTABLE-GENERATION index rebuild
    (operators/ivf_layout.py write_ivf_layout_generation - each rebuild
    stages its own gen=<uuid> tree and CAS-commits one manifest version
    naming exactly its files; readers resolve files through the
    manifest). The row RUNS the lock-free swap and emits its
    invariants as (step, value) rows, every value stated by the oracle
    from the input alone:

      * generation content: v1 = the even-vec_id half, v2 = the full
        corpus (manifest-resolved row counts);
      * the swap is lock-free: a probe PINNED to v1 returns
        bit-identical rows before and after v2 lands (drift count 0 -
        old files are immutable and the pinned manifest still names
        them);
      * no generation mixing: the latest read holds exactly the full
        corpus, by distinct ids AND by total rows (a listing-based
        read would double-count every even id);
      * vacuum keep_last=1 reclaims exactly one generation, pinned v1
        reads then raise, and the latest read is untouched.

    The reference rebuilds its tables in place per run
    (/root/reference/src/loader/bronze_loader.py) - an in-flight
    reader can observe the teardown; this layer is the
    snapshot-isolated index swap a 100 TB serving fleet needs."""
    import shutil

    from ..operators.ivf_layout import (ivf_probe_pruned,
                                        read_layout_manifest,
                                        vacuum_layout_generations,
                                        write_ivf_layout_generation)
    from ..operators.kmeans import kmeans_fit

    root = scratch_dir("ivfgen", sf_dir)
    shutil.rmtree(root, ignore_errors=True)
    path = os.path.join(root, "embeddings")

    emb = load_table(spark, sf_dir, "embeddings")
    cents, dim = kmeans_fit(emb, k=_KM_K, iters=1)
    # r15: ONE assignment pass serves both generation writes - the
    # model is frozen, so v1's even-id half is a filter of the
    # full-corpus assignment (assign-then-filter == filter-then-assign
    # per row). Lazy checkpoint: v1's stage job materializes it, v2
    # reads the blocks - the O(n*k*dim) kernel runs once, not 1.5x.
    from ..operators.kmeans import _assign, _scaled

    assigned = (_assign(_scaled(emb.select("vec_id", "embedding"),
                                "embedding"), cents, dim)
                .drop("xi", "xd", "centroid_dist")
                .localCheckpoint(eager=False))
    half = assigned.filter(F.col("vec_id") % 2 == 0)
    v1 = write_ivf_layout_generation(emb, cents, dim, path,
                                     assigned=half)
    qv = [float(v) for v in
          emb.filter("vec_id = 1").select("embedding").first()[0]]

    def _probe(ver):
        return sorted((r["vec_id"], int(r["cluster"]), repr(r["cosine"]))
                      for r in ivf_probe_pruned(
                          spark, path, qv, cents, nprobe=2, k=5,
                          index_version=ver).collect())

    before = _probe(v1)
    v2 = write_ivf_layout_generation(emb, cents, dim, path,
                                     assigned=assigned)
    after = _probe(v1)
    drift = sum(1 for x, y in zip(before, after) if x != y) \
        + abs(len(before) - len(after))

    # ONE job states all three read invariants (r14 - previously three
    # driver actions paid three job latencies for KB-sized counts): the
    # pinned v1 read, the pinned v2 read, and the LATEST read (still
    # three distinct reader code paths - version pin vs head resolution
    # - unioned under tags, not a shared scan). A listing-based latest
    # read would double-count every even id: total != distinct.
    latest = read_layout_manifest(spark, path)
    tagged = (read_layout_manifest(spark, path, version=v1)
              .select(F.lit("v1").alias("_t"), "vec_id")
              .unionByName(read_layout_manifest(spark, path, version=v2)
                           .select(F.lit("v2").alias("_t"), "vec_id"))
              .unionByName(latest
                           .select(F.lit("latest").alias("_t"),
                                   "vec_id")))
    stats = {r["_t"]: r for r in
             (tagged.groupBy("_t")
              .agg(F.count(F.lit(1)).alias("n"),
                   F.countDistinct("vec_id").alias("d")).collect())}
    v1_rows, v2_rows = int(stats["v1"]["n"]), int(stats["v2"]["n"])
    total_rows = int(stats["latest"]["n"])
    distinct_ids = int(stats["latest"]["d"])
    removed = vacuum_layout_generations(path, keep_last=1,
                                        stage_retention_sec=0.0)
    try:
        read_layout_manifest(spark, path, version=v1)
        v1_survives = 1
    except FileNotFoundError:
        v1_survives = 0
    rows_after = read_layout_manifest(spark, path).count()

    steps = [
        ("1_v1_rows", int(v1_rows)),
        ("2_v2_rows", int(v2_rows)),
        ("3_latest_version", int(v2)),
        ("4_pinned_probe_drift_rows", int(drift)),
        ("5_latest_distinct_ids", int(distinct_ids)),
        ("6_latest_total_rows", int(total_rows)),
        ("7_vacuum_removed_gens", len(removed)),
        ("8_v1_survives_vacuum", v1_survives),
        ("9_latest_rows_after_vacuum", int(rows_after)),
    ]
    return (steps_frame(spark, steps, "step string, value bigint")
            .orderBy("step"))

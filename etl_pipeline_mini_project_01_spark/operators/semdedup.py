"""SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
deduplication of an embedding corpus - k-means-cluster the embeddings,
then inside each cluster drop every member that has a near-duplicate
neighbor (cosine >= threshold) farther from the centroid than itself,
so each semantic-duplicate neighborhood keeps its single most
"peripheral" example (the paper's keep-lowest-centroid-similarity rule:
peripheral examples carry more signal than the cluster-mode ones).

Scale shape: the quadratic pairwise stage is BOUNDED BY THE CLUSTER -
that is the entire point of the k-means stage (choose k so clusters are
~1e5 rows and the within-cluster work is tractable at 100 TB); the
centroids are a driver-resident literal model (operators/kmeans.py).
The within-cluster stage is ONE applyInPandas over the cluster
partition: the corpus shuffles once (n rows, keyed on cluster) and all
pair dots happen blockwise in numpy inside the group - no pair relation
ever exists (a pair relation shuffles ~n x cluster_size (pair, vec,
vec) rows). Vectors are L2-normalized once per row inside the group, so
the per-pair cosine is a single dot product instead of dot + two norms.
The DuckDB oracle (semdedup_prune) states the same rule as an
equi-join over the pair relation.

Determinism: the kept-set depends only on (cluster assignment, pairwise
normalized dots, centroid distances, ids) - all bit-identical
cross-engine: the kmeans module's integer-exact arithmetic; one
correctly-rounded IEEE division per normalized component; the
fold-order norms and dots of operators/foldmath.py. Dominance is the
strict total order (centroid_dist DESC, id ASC), so ties cannot flap.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from .foldmath import norm2, outer_dots, row_dots
from .kmeans import kmeans_fit, kmeans_transform


def normalized_vectors(emb: DataFrame, id_col: str = "vec_id",
                       vec_col: str = "embedding",
                       kernel: str | None = None) -> DataFrame:
    """(id_col, nv): L2-normalized float64 vectors. The squared norm is
    projected into a column FIRST so the per-element division does not
    re-run the fold per element (the HOF-lambda CSE pitfall).

    Default is the expression form - right for the query-batch call
    sites (a handful of rows; no Arrow round-trip). kernel='vectorized'
    runs ONE Arrow kernel instead (r14): the HOF expressions are
    CodegenFallback (interpreted per element, ~0.35 ms/row measured),
    so corpus- or candidate-sized normalization pays seconds that the
    batched numpy twin does not. Bit-identical: the n2 accumulation
    is foldmath.norm2, and each element's double widening /
    divide-by-sqrt are single correctly-rounded IEEE ops either way
    (pinned in tests/test_semdedup.py)."""
    if kernel == "vectorized":
        @pandas_udf("array<double>")
        def nvec(rv: pd.Series) -> pd.Series:
            x = np.stack(rv.to_numpy()).astype(np.float64)
            return pd.Series(list(x / np.sqrt(norm2(x))[:, None]))

        return emb.select(id_col, nvec(vec_col).alias("nv"))
    return (emb
            .withColumn("_n2", F.aggregate(
                vec_col, F.lit(0.0),
                lambda a, v: a + v.cast("double") * v.cast("double")))
            .select(id_col,
                    F.transform(vec_col,
                                lambda x: x.cast("double") / F.sqrt("_n2"))
                    .alias("nv")))


def norm_dot(raw: str, qnv: str) -> Column:
    """score = <qnv, raw/||raw||> fused into ONE Arrow kernel - the
    candidate-scoring tail shared by the ANN probes and the exact
    re-rank. Replaces the interpreted chain (_n2 HOF fold -> transform
    divide -> pair_dot) whose CodegenFallback evaluation dominated the
    candidate-sized tails (r14, guide SS4.1: ~0.35 ms/row interpreted
    vs one batched kernel). Bit-identical to that chain: n2 and the
    dot are foldmath.norm2 / row_dots, the divide is one IEEE op per
    element, and the dot consumes the SAME divided
    doubles the transform would have produced (Arrow transport of
    float64 is lossless, so fusing skips only the round-trip, not any
    rounding step). Pinned in tests/test_semdedup.py."""
    @pandas_udf("double")
    def nd(rv: pd.Series, qv: pd.Series) -> pd.Series:
        x = np.stack(rv.to_numpy()).astype(np.float64)
        q = np.stack(qv.to_numpy()).astype(np.float64)
        nv = x / np.sqrt(norm2(x))[:, None]
        return pd.Series(row_dots(q, nv))

    return nd(raw, qnv)


def pair_dot(a: str, b: str) -> Column:
    """Arrow-batched dot of two double-array columns: foldmath.row_dots,
    batched across pairs."""
    @pandas_udf("double")
    def dot(av: pd.Series, bv: pd.Series) -> pd.Series:
        return pd.Series(row_dots(np.stack(av.to_numpy()),
                                  np.stack(bv.to_numpy())))

    return dot(a, b)


#: Rows per block in the grouped kernel's blockwise dot (memory is
#: PAIR_BLOCK x cluster_size doubles per group).
PAIR_BLOCK = 1024


def _semdedup_grouped(assigned_emb: DataFrame, threshold: float,
                      id_col: str, vec_col: str,
                      emit_pool: bool = False) -> DataFrame:
    """Per-cluster applyInPandas verdict kernel. `assigned_emb` carries
    (id_col, cluster, centroid_dist, vec_col). Bit-exactness with the
    SQL oracle: foldmath.norm2 squared norms; each normalized component
    is one IEEE division; foldmath.outer_dots pair dots.

    `emit_pool=True` additionally passes (centroid_dist, vec_col)
    through the output (r14, guide SS2.1): the incremental bootstrap
    consumes keeper rows WITH their assignment and vector, and
    re-attaching them cost two id equi-joins (one of which re-executed
    the whole assignment kernel) for columns this kernel already holds
    in its group frame. Verdict arithmetic is untouched."""
    vec_type = dict(assigned_emb.dtypes)[vec_col]

    def verdicts(pdf: pd.DataFrame) -> pd.DataFrame:
        x = np.stack(pdf[vec_col].to_numpy()).astype(np.float64,
                                                     copy=False)
        m = x.shape[0]
        nv = x / np.sqrt(norm2(x))[:, None]
        dist = pdf["centroid_dist"].to_numpy()
        ids = pdf[id_col].to_numpy()
        kept = np.ones(m, dtype=bool)
        for s in range(0, m, PAIR_BLOCK):
            blk = slice(s, min(s + PAIR_BLOCK, m))
            near = outer_dots(nv[blk], nv) >= threshold
            dom = ((dist[None, :] > dist[blk, None])
                   | ((dist[None, :] == dist[blk, None])
                      & (ids[None, :] < ids[blk, None])))
            other = ids[None, :] != ids[blk, None]
            kept[blk] = ~np.any(near & dom & other, axis=1)
        out = {id_col: ids, "cluster": pdf["cluster"].to_numpy()}
        if emit_pool:
            out["centroid_dist"] = dist
            out[vec_col] = pdf[vec_col].to_numpy()
        out["kept"] = kept
        return pd.DataFrame(out)

    extra = (f"centroid_dist double, {vec_col} {vec_type}, "
             if emit_pool else "")
    return (assigned_emb
            .groupBy("cluster")
            .applyInPandas(verdicts,
                           schema=f"{id_col} bigint, cluster bigint, "
                                  f"{extra}kept boolean"))


def _semdedup_incremental_grouped(pool_emb: DataFrame, threshold: float,
                                  id_col: str, vec_col: str) -> DataFrame:
    """Per-cluster applyInPandas kernel for the INCREMENTAL stage:
    `pool_emb` carries (id_col, cluster, centroid_dist, vec_col,
    is_delta) where is_delta=False rows are the standing corpus's
    surviving keepers and is_delta=True rows are the incoming batch.
    Only delta-rows-x-pool dots are computed (blockwise numpy, block x
    group - never group^2), so per-cluster work is O(|delta| *
    cluster_size):
      * a delta row is dropped when ANY near neighbor in the pool
        (keeper or fellow delta row) dominates it (farther from the
        frozen centroid; ties -> lower id) - the batch SemDeDup rule
        verbatim;
      * a standing keeper is evicted (kept=False) only when a near
        delta row dominates IT - the transpose of the same dot block.
    Because no keeper dominates another keeper (it would have been
    dropped in the standing pass), this equals _semdedup_grouped over
    (keepers UNION delta) under the frozen assignment - the equivalence
    tests/test_semdedup_incremental.py pins. Arithmetic is bit-identical
    to _semdedup_grouped: foldmath norms, one IEEE division per
    component, foldmath outer-product dots."""
    def verdicts(pdf: pd.DataFrame) -> pd.DataFrame:
        x = np.stack(pdf[vec_col].to_numpy()).astype(np.float64,
                                                     copy=False)
        m = x.shape[0]
        nv = x / np.sqrt(norm2(x))[:, None]
        dist = pdf["centroid_dist"].to_numpy()
        ids = pdf[id_col].to_numpy()
        is_delta = pdf["is_delta"].to_numpy().astype(bool)
        kept = np.ones(m, dtype=bool)
        didx = np.flatnonzero(is_delta)
        for s in range(0, didx.size, PAIR_BLOCK):
            bi = didx[s:s + PAIR_BLOCK]
            near = outer_dots(nv[bi], nv) >= threshold
            other = ids[None, :] != ids[bi, None]
            # pool member y (cols) dominates delta row x (block rows)
            dom_y = ((dist[None, :] > dist[bi, None])
                     | ((dist[None, :] == dist[bi, None])
                        & (ids[None, :] < ids[bi, None])))
            kept[bi] = kept[bi] & ~np.any(near & dom_y & other, axis=1)
            # delta row x (block rows) dominates standing keeper y (cols)
            dom_x = ((dist[bi, None] > dist[None, :])
                     | ((dist[bi, None] == dist[None, :])
                        & (ids[bi, None] < ids[None, :])))
            evicted = np.any(near & dom_x & other, axis=0) & ~is_delta
            kept = kept & ~evicted
        return pd.DataFrame({id_col: ids,
                             "cluster": pdf["cluster"].to_numpy(),
                             "is_delta": is_delta,
                             "kept": kept})

    return (pool_emb
            .groupBy("cluster")
            .applyInPandas(verdicts,
                           schema=f"{id_col} bigint, cluster bigint, "
                                  f"is_delta boolean, kept boolean"))


def semdedup_incremental(standing: DataFrame, delta: DataFrame,
                         k: int = 8, iters: int = 2,
                         threshold: float = 0.35,
                         id_col: str = "vec_id",
                         vec_col: str = "embedding",
                         standing_verdicts: DataFrame | None = None,
                         model: tuple[list[list[float]], int] | None = None
                         ) -> DataFrame:
    """E43: incremental SemDeDup - the semantic sibling of the
    MinHash-family `dedup_incremental` and the model-reuse sibling of
    `kmeans_incremental_assign`. The k-means model is FIT on the
    standing corpus only and FROZEN; the incoming `delta` batch is
    assigned map-side with that model and deduped CLUSTER-LOCALLY
    against the pool of standing keepers + fellow delta rows, so daily
    cost is O(|delta| * cluster_size * dim) - independent of corpus
    size, like the exact-hash incremental path.

    `standing_verdicts` is the persisted standing state
    ((id_col, cluster, kept) - a prior semdedup() output over
    `standing`); at 100 TB it is a stored artifact read back each day,
    NOT recomputed. When None (fixture/driver-row mode) it is derived
    here with the same frozen model, which is the batch-sized
    bootstrap, not the steady-state cost. `model` is the matching
    (centroids, dim) artifact: pass BOTH and the remaining cost is one
    map-side scan of the keeper corpus (re-attaching assignment +
    vector to keepers - at 100 TB, read from the stored enriched
    artifact instead) plus the |delta| x cluster_size kernel; no fit
    collect-loop, no quadratic standing component (the shape the scale
    curve times; see tools/scale_curve.py).

    Output: one row per standing KEEPER (is_delta=False; kept=False
    means a dominating near-dup delta row evicted it) plus one row per
    delta member (is_delta=True; the batch rule verbatim). Dropped
    standing rows are not re-emitted - they left the corpus when the
    standing state was built."""
    cents, dim = model if model is not None else kmeans_fit(
        standing, k, iters, id_col, vec_col)
    s_pool = kmeans_transform(standing, cents, dim, id_col, vec_col,
                              keep_vec=True)
    if standing_verdicts is None:
        # Bootstrap (r14, guide SS2.1): ONE verdict-kernel pass emits
        # assignment + vector + verdict together (emit_pool), so the
        # keeper pool needs zero re-attach joins - the former shape
        # joined verdict ids back to a SECOND execution of the
        # assignment kernel and a third standing scan.
        keepers = (_semdedup_grouped(s_pool, threshold, id_col, vec_col,
                                     emit_pool=True)
                   .filter(F.col("kept")).drop("kept")
                   .withColumn("is_delta", F.lit(False)))
    else:
        keepers = (standing_verdicts.filter(F.col("kept"))
                   .select(id_col)
                   .join(s_pool, id_col)
                   .withColumn("is_delta", F.lit(False)))
    d_pool = (kmeans_transform(delta, cents, dim, id_col, vec_col,
                               keep_vec=True)
              .withColumn("is_delta", F.lit(True)))
    cols = [id_col, "cluster", "centroid_dist", vec_col, "is_delta"]
    pool = keepers.select(*cols).unionByName(d_pool.select(*cols))
    return _semdedup_incremental_grouped(pool, threshold, id_col, vec_col)


def semdedup_twolevel(emb: DataFrame, k1: int = 8, k2: int = 8,
                      iters1: int = 1, iters2: int = 1,
                      threshold: float = 0.35, id_col: str = "vec_id",
                      vec_col: str = "embedding") -> DataFrame:
    """(id_col, cluster, kept): SemDeDup with the TWO-LEVEL k-means as
    the bounding device - cluster = the k1*k2 leaf, centroid_dist = the
    distance to the LEAF sub-centroid. This is the composed 100 TB
    path: at the cluster-size-constant rule the leaf count k grows with
    the corpus, and the hierarchy keeps the assignment stage at
    O(n*(k1+k2)*dim) where flat SemDeDup pays O(n*k*dim) (see
    operators/kmeans.py kmeans_assign_twolevel). The pairwise stage is
    unchanged - grouped applyInPandas per leaf, quadratic only within
    the leaf. Verdict semantics are the paper's, against the leaf
    centroid; leaf boundaries differ from flat k-means' (clustering is
    a bounding device, not part of the dedup contract)."""
    from .kmeans import kmeans_fit_twolevel, kmeans_transform_twolevel

    coarse_cents, fine, dim = kmeans_fit_twolevel(
        emb, k1, k2, iters1, iters2, id_col, vec_col)
    assigned_emb = (kmeans_transform_twolevel(emb, coarse_cents, fine,
                                              dim, id_col, vec_col,
                                              keep_vec=True)
                    .select(id_col, vec_col,
                            (F.col("coarse") * k2 + F.col("fine"))
                            .alias("cluster"),
                            F.col("fine_dist").alias("centroid_dist")))
    return _semdedup_grouped(assigned_emb, threshold, id_col, vec_col)


def semdedup(emb: DataFrame, k: int = 8, iters: int = 2,
             threshold: float = 0.35, id_col: str = "vec_id",
             vec_col: str = "embedding") -> DataFrame:
    """(id_col, cluster, kept): kept=False for every member dominated by
    a same-cluster neighbor with cosine >= threshold that sits farther
    from the centroid (ties: lower id dominates). Keep-filtering is
    `WHERE kept` downstream; emitting the verdict per row keeps the
    relation auditable."""
    cents, dim = kmeans_fit(emb, k, iters, id_col, vec_col)
    # keep_vec (r14): the assignment pass carries the vector through
    # instead of a corpus-wide id equi-join re-attaching it.
    assigned_emb = kmeans_transform(emb, cents, dim, id_col, vec_col,
                                    keep_vec=True)
    return _semdedup_grouped(assigned_emb, threshold, id_col, vec_col)

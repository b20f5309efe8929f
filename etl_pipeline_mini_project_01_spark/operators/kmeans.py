"""Distributed k-means over an embedding column (Lloyd's algorithm with
broadcast centroids) - the clustering primitive behind SemDeDup-style
semantic dedup, domain discovery, and diversity-balanced sampling in
LLM data pipelines.

Scale shape (MLlib's own): centroids are control-plane (k x dim doubles,
driver-resident between iterations); each iteration is one map-side
assignment pass (every row scores k literal centroids - no join, no
shuffle of the data) plus ONE partial-aggregated shuffle of k x dim sum
rows. At 100 TB the per-iteration network cost is k x dim values, not
the corpus.

Cross-engine determinism (what makes a DuckDB oracle possible, unlike
float-mean k-means which diverges at the ulp level under reordered
partial sums):
  * components are integer-scaled up front: xi = floor(x * 2^20) -
    float->double cast, multiply by a power of two, and floor are all
    EXACT, so xi is engine-identical;
  * per-cluster component sums are BIGINT - exact and order-insensitive
    (the reduction order a shuffle cannot pin down never touches a
    float);
  * centroid components mu = s / (n * 2^20) are ONE correctly-rounded
    IEEE division of exactly-representable integers - bit-identical in
    Python, Spark, and DuckDB while |s| < 2^53 (see SCALE note on the
    module constant below);
  * distances are the fold-order squared euclidean distances of
    operators/foldmath.py (dims ascending from a 0.0 accumulator - the
    sequence the oracle replays with list_reduce(list_prepend(0.0,
    ...))); argmin ties break on the lowest centroid id. One kernel
    computes them: an Arrow-batched pandas_udf that vectorizes the fold
    ACROSS rows and keeps it sequential ACROSS dims, so every row's
    float64 rounding sequence is the oracle's.

Deterministic seeding: the k initial centroids are the rows with the k
smallest md5('seed|' || id) digests (ties -> lowest id), numbered
0..k-1 in that hash order. Hash-keyed (not positional), so seeding
works on any id distribution - sparse, negative, non-contiguous - and
is reproducible across engines, retries, and partitionings; the oracle
replays the same TOP-k-by-md5 selection in SQL.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from .foldmath import sq_dists

#: 2^20: multiplying a double by it only shifts the exponent (exact).
#: BIGINT component sums are exact up to ~2^43 rows per cluster; the
#: stricter ORACLE-parity bound is |sum| < 2^53 (~2^33 rows at unit-scale
#: components), because the DuckDB twin casts the BIGINT sum to DOUBLE
#: before dividing - exact only below 2^53 - while kmeans_fit divides the
#: Python ints exactly. Inside 2^53 both are the same single correctly-
#: rounded division; beyond it the engine is still exact but the oracle
#: would drift, so driver-checked fixtures must stay under that bound.
SCALE = 1 << 20

def _scaled(emb: DataFrame, vec_col: str) -> DataFrame:
    """Adds xi (bigint-scaled components) and xd (their exact double
    form, xi / 2^20 - a power-of-two division, no rounding)."""
    return (emb
            .withColumn("xi", F.transform(
                vec_col,
                lambda v: F.floor(v.cast("double") * SCALE).cast("bigint")))
            .withColumn("xd", F.transform(
                "xi", lambda v: v.cast("double") / SCALE)))


def _seed_key(id_col: str):
    """md5-derived seed-selection key (hex strings order identically in
    Spark, Python, and DuckDB - plain ASCII lexicographic)."""
    return F.md5(F.concat(F.lit("seed|"), F.col(id_col).cast("string")))


def _assign(df: DataFrame, cents: list[list[float]],
            dim: int) -> DataFrame:
    """Adds `cluster` (argmin centroid, ties -> lowest id) and
    `centroid_dist` (the winning squared distance) to a _scaled frame:
    one Arrow-batched pandas_udf call per batch scoring all k literal
    centroids with foldmath.sq_dists (np.argmin's first minimum is the
    lowest-id tie-break)."""
    cmat = np.array([[float(v) for v in c] for c in cents],
                    dtype=np.float64)

    @pandas_udf("cluster bigint, centroid_dist double")
    def assign(xd: pd.Series) -> pd.DataFrame:
        mat = np.stack(xd.to_numpy())            # n x dim float64
        dmat = sq_dists(mat, cmat)
        cluster = np.argmin(dmat, axis=1)        # first min == lowest cid
        return pd.DataFrame({
            "cluster": cluster.astype(np.int64),
            "centroid_dist": dmat[np.arange(mat.shape[0]), cluster]})

    return (df.withColumn("_a", assign("xd"))
            .withColumn("cluster", F.col("_a.cluster"))
            .withColumn("centroid_dist", F.col("_a.centroid_dist"))
            .drop("_a"))


def _scale_list(vs) -> list[float]:
    """Driver-side twin of _scaled for one collected vector: xd =
    floor(double(v) * 2^20) / 2^20. float->double widening, the
    power-of-two multiply, floor, and the power-of-two divide are all
    exact IEEE ops, so the result is bit-identical to collecting the
    Spark-computed xd column (pinned in tests/test_kmeans.py)."""
    a = np.asarray([float(v) for v in vs], dtype=np.float64)
    return [float(v) for v in np.floor(a * SCALE) / SCALE]


def _iter_partial_sums(vecs: DataFrame, cents: list[list[float]],
                       dim: int, vec_col: str
                       ) -> dict[int, tuple[int, list[int]]]:
    """One Lloyd's iteration's {cluster: (n, [component sums])} via an
    Arrow kernel that assigns AND partially aggregates per batch
    (guide SS2.3 "aggregate before you shuffle" / SS4.2): the exchange
    carries k x dim integer partial-sum rows per batch instead of n
    assigned rows, and the downstream plan is a plain 2-key/2-agg sum
    - replacing the dim-wide Sum(ElementAt(xi, i)) aggregate whose
    Catalyst analysis + codegen dominated the fit wall (r14 measured:
    ~1.8 s to plan+run a fresh dim=64 agg plan vs 0.16 s to re-run it,
    on 2000 rows - the data work was 9% of the job).

    Arithmetic is bit-identical to _assign + the bigint groupBy: same
    float64 cast, exact *2^20 + floor scaling, foldmath.sq_dists,
    first-min argmin; int64 partial sums of xi are exact and
    order-insensitive, so the merged totals equal the flat bigint sums
    for any batching."""
    cmat = np.array([[float(v) for v in c] for c in cents],
                    dtype=np.float64)

    def partial(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            raw = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            xi = np.floor(raw * SCALE).astype(np.int64)
            mat = xi / SCALE                     # exact: 2^20 divide
            cl = np.argmin(sq_dists(mat, cmat), axis=1)  # lowest cid
            outs = []
            for c in np.unique(cl):
                msk = cl == c
                outs.append(pd.DataFrame({
                    "cluster": np.int64(c),
                    "i": np.arange(dim, dtype=np.int64),
                    "s": xi[msk].sum(axis=0),
                    "n": np.int64(int(msk.sum()))}))
            yield pd.concat(outs, ignore_index=True)

    sums = (vecs.mapInPandas(
        partial, "cluster bigint, i bigint, s bigint, n bigint")
        .groupBy("cluster", "i")
        .agg(F.sum("s").alias("s"), F.sum("n").alias("n")))
    got: dict[int, tuple[int, list[int]]] = {}
    for r in sums.collect():
        c, i = int(r["cluster"]), int(r["i"])
        slot = got.setdefault(c, (0, [0] * dim))
        got[c] = (int(r["n"]), slot[1])
        slot[1][i] = int(r["s"])
    return got


def kmeans_fit(emb: DataFrame, k: int = 8, iters: int = 2,
               id_col: str = "vec_id", vec_col: str = "embedding"
               ) -> tuple[list[list[float]], int]:
    """Run `iters` Lloyd's updates and return (centroids, dim) - the
    driver-resident model. Deterministic: init centroids are the k rows
    with the smallest md5('seed|' || id) digests (ties -> lowest id,
    numbered 0..k-1 in hash order - no assumption about the id space),
    the iteration count is fixed (no data-dependent convergence branch),
    and every arithmetic step is engine-exact per the module docstring.
    Empty clusters keep their previous centroid.

    Seeds come from ONE collect of raw vectors scaled driver-side
    (_scale_list), and each iteration is the partially-aggregating
    Arrow kernel (_iter_partial_sums) - a dim-wide agg plan costs more
    to PLAN than to run at this size."""
    init = (emb.select(id_col, vec_col, _seed_key(id_col).alias("_sk"))
            .orderBy("_sk", id_col).limit(k).collect())
    if len(init) != k:
        raise ValueError(f"k={k} seeds need >= k rows, got {len(init)}")
    cents = [_scale_list(r[vec_col]) for r in init]
    dim = len(cents[0])
    vecs = emb.select(vec_col)
    for _ in range(iters):
        got = _iter_partial_sums(vecs, cents, dim, vec_col)
        cents = [
            [got[j][1][i] / (got[j][0] * SCALE) for i in range(dim)]
            if j in got else cents[j]
            for j in range(k)
        ]
    return cents, dim


def kmeans_transform(emb: DataFrame, cents: list[list[float]], dim: int,
                     id_col: str = "vec_id", vec_col: str = "embedding",
                     keep_vec: bool = False) -> DataFrame:
    """(id_col, cluster, centroid_dist) for a fitted model: one map-side
    pass, no shuffle. Because `cents` are plain literals, every call
    builds an INDEPENDENT plan - so two transforms of the same input can
    be self-joined without tripping Spark's lambda-variable rebinding on
    deduplicated higher-order-function subplans.

    `keep_vec=True` passes `vec_col` through the output (r14, guide
    SS2.1): consumers that need (assignment, vector) together - the
    SemDeDup pair stage - previously re-attached the vector with an
    id equi-join, i.e. a full corpus shuffle to recover a column the
    assignment pass had just read and dropped."""
    x = _scaled(emb.select(id_col, vec_col), vec_col)
    cols = [id_col] + ([vec_col] if keep_vec else []) \
        + ["cluster", "centroid_dist"]
    return _assign(x, cents, dim).select(*cols)


def kmeans_transform_topn(emb: DataFrame, cents: list[list[float]],
                          dim: int, n: int, id_col: str = "vec_id",
                          vec_col: str = "embedding") -> DataFrame:
    """(id_col, probe_rank, cluster): each row's `n` nearest centroids in
    distance order - the IVF probe-list assignment (faiss's
    `quantizer.search(x, nprobe)`), distributed. One map-side pass, no
    shuffle, no driver-side scoring: the VERDICT-r4 fix for the
    collect()-and-loop probe assignment, which at a production query
    batch of 1e6 rows is the classic driver bottleneck.

    Distances are _assign's (foldmath.sq_dists, bit-identical to the
    oracle arithmetic); ranking is a STABLE argsort (ties -> lowest
    cid), matching the oracle's ROW_NUMBER() OVER (ORDER BY dist, cid).
    """
    if not 1 <= n <= len(cents):
        raise ValueError(f"n={n} must be in [1, k={len(cents)}]")
    cmat = np.array([[float(v) for v in c] for c in cents],
                    dtype=np.float64)

    @pandas_udf("array<bigint>")
    def topn(xd: pd.Series) -> pd.Series:
        mat = np.stack(xd.to_numpy())            # rows x dim float64
        # stable sort: equal distances keep ascending-cid order
        probes = np.argsort(sq_dists(mat, cmat), axis=1,
                            kind="stable")[:, :n]
        return pd.Series(list(probes.astype(np.int64)))

    x = _scaled(emb.select(id_col, vec_col), vec_col)
    return (x.withColumn("_p", topn("xd"))
            .select(id_col,
                    F.posexplode("_p").alias("probe_rank", "cluster"))
            .withColumn("probe_rank", F.col("probe_rank").cast("bigint")))


def kmeans_assign(emb: DataFrame, k: int = 8, iters: int = 2,
                  id_col: str = "vec_id", vec_col: str = "embedding"
                  ) -> DataFrame:
    """(id_col, cluster, cluster_size): fit + final assignment."""
    cents, dim = kmeans_fit(emb, k, iters, id_col, vec_col)
    w = Window.partitionBy("cluster")
    return (kmeans_transform(emb, cents, dim, id_col, vec_col)
            .select(id_col, "cluster",
                    F.count(F.lit(1)).over(w).alias("cluster_size"))
            )


# ---------------------------------------------------------------------------
# Two-level (coarse -> fine) k-means: the k ~ 1e5 operating point
# ---------------------------------------------------------------------------

def _assign_fine(assigned: DataFrame, fine: list[list[list[float]]],
                 dim: int,
                 coarse_cents: list[list[float]] | None = None) -> DataFrame:
    """Adds `fine` (argmin over the k2 sub-centroids OF THE ROW'S coarse
    cluster; ties -> lowest fid) and `fine_dist` to a frame carrying
    (coarse, xd). Per-row cost is k2 x dim, NOT k1*k2 x dim - the whole
    point of the hierarchy. foldmath.sq_dists per coarse group.

    Empty-fine guard (ADVICE r4): a frozen two-level model applied to
    NEW data can route a row to a coarse cluster that had zero rows at
    fit time - `fine[c]` is empty there. With `coarse_cents` given, such
    rows fall back to fine=0 with the distance computed against the
    coarse centroid itself (the IVF convention: an empty list's
    representative is its quantizer cell center); without it the empty
    case raises a clear error instead of crashing on None.T."""
    fmats = [np.array(c, dtype=np.float64) if c else None for c in fine]
    if coarse_cents is not None:
        fmats = [m if m is not None
                 else np.array([coarse_cents[c]], dtype=np.float64)
                 for c, m in enumerate(fmats)]

    @pandas_udf("fine bigint, fine_dist double")
    def assign(coarse: pd.Series, xd: pd.Series) -> pd.DataFrame:
        mat = np.stack(xd.to_numpy())
        co = coarse.to_numpy(dtype=np.int64)
        out_f = np.zeros(len(co), dtype=np.int64)
        out_d = np.zeros(len(co), dtype=np.float64)
        for c in np.unique(co):
            m = co == c
            cm = fmats[c]
            if cm is None:
                raise ValueError(
                    f"coarse cluster {c} has no fine centroids (empty at "
                    "fit time) and no coarse_cents fallback was provided")
            dmat = sq_dists(mat[m], cm)
            sel = np.argmin(dmat, axis=1)        # first min == lowest fid
            out_f[m] = sel
            out_d[m] = dmat[np.arange(dmat.shape[0]), sel]
        return pd.DataFrame({"fine": out_f, "fine_dist": out_d})

    return (assigned.withColumn("_a", assign("coarse", "xd"))
            .withColumn("fine", F.col("_a.fine"))
            .withColumn("fine_dist", F.col("_a.fine_dist"))
            .drop("_a"))


def kmeans_assign_twolevel(emb: DataFrame, k1: int = 4, k2: int = 3,
                           iters1: int = 1, iters2: int = 1,
                           id_col: str = "vec_id",
                           vec_col: str = "embedding") -> DataFrame:
    """Hierarchical Lloyd's: fit k1 coarse centroids on the corpus, then
    k2 sub-centroids WITHIN each coarse cluster (joint distributed
    iterations - one shuffle of k1*k2 x dim integer sums per pass, same
    as flat fit), and emit (id_col, coarse, fine, leaf, leaf_size) with
    leaf = coarse*k2 + fine.

    Why it exists: flat assignment is O(n*k*dim) per pass, and under
    SemDeDup's cluster-size-constant rule k grows with the corpus - at
    k ~ 1e5 (the Abbas et al. operating point for 1e9-row corpora) even
    one dgemm per batch is ~1.5 TFLOP per 10k rows. Two levels cut the
    per-row cost to (k1 + k2) x dim; k1 = k2 = sqrt(k) gives the
    classic IVF shape (faiss's coarse quantizer + per-list refinement)
    at O(n*sqrt(k)*dim). The tradeoff is a partition-constrained argmin
    (a row can only join leaves of its own coarse cluster) - standard
    for IVF, and exactly what bounds SemDeDup's pair stage anyway.

    Determinism contract is unchanged: integer-scaled sums, md5-keyed
    seeding per level (fine seeds = the k2 smallest md5('seed|'||id)
    WITHIN each coarse cluster), fixed iteration counts, empty leaves
    keep their previous centroid - the full two-level run replays in
    SQL (plans/similarity.py _km2_oracle)."""
    coarse_cents, fine, dim = kmeans_fit_twolevel(
        emb, k1, k2, iters1, iters2, id_col, vec_col)
    w = Window.partitionBy("leaf")
    return (kmeans_transform_twolevel(emb, coarse_cents, fine, dim,
                                      id_col, vec_col)
            .withColumn("leaf", F.col("coarse") * k2 + F.col("fine"))
            .select(id_col, "coarse", "fine", "leaf",
                    F.count(F.lit(1)).over(w).alias("leaf_size"))
            )


def _iter_partial_sums_fine(assigned: DataFrame,
                            fine: list[list[list[float]]], dim: int
                            ) -> dict[tuple[int, int],
                                      tuple[int, list[int]]]:
    """One fine-level Lloyd's iteration's {(coarse, fine): (n, [sums])}
    from a frame carrying (coarse, xi) - the two-level twin of
    _iter_partial_sums, same bit-exactness argument: xd = xi / 2^20 is
    an exact power-of-two divide, distances are foldmath.sq_dists per
    coarse group exactly as in _assign_fine, and int64 partial sums are
    order-insensitive."""
    fmats = [np.array(c, dtype=np.float64) if c else None for c in fine]

    def partial(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            xi = np.stack(pdf["xi"].to_numpy()).astype(np.int64)
            mat = xi / SCALE                     # exact: 2^20 divide
            co = pdf["coarse"].to_numpy(dtype=np.int64)
            outs = []
            for c in np.unique(co):
                m = co == c
                cm = fmats[c]
                if cm is None:
                    raise ValueError(
                        f"coarse cluster {c} has no fine centroids "
                        "(empty at fit time) and no coarse_cents "
                        "fallback was provided")
                sxi = xi[m]
                sel = np.argmin(sq_dists(mat[m], cm), axis=1)  # lowest fid
                for f in np.unique(sel):
                    fm = sel == f
                    outs.append(pd.DataFrame({
                        "coarse": np.int64(c),
                        "fine": np.int64(f),
                        "i": np.arange(dim, dtype=np.int64),
                        "s": sxi[fm].sum(axis=0),
                        "n": np.int64(int(fm.sum()))}))
            yield pd.concat(outs, ignore_index=True)

    sums = (assigned.select("coarse", "xi").mapInPandas(
        partial,
        "coarse bigint, fine bigint, i bigint, s bigint, n bigint")
        .groupBy("coarse", "fine", "i")
        .agg(F.sum("s").alias("s"), F.sum("n").alias("n")))
    got: dict[tuple[int, int], tuple[int, list[int]]] = {}
    for r in sums.collect():
        key = (int(r["coarse"]), int(r["fine"]))
        i = int(r["i"])
        slot = got.setdefault(key, (0, [0] * dim))
        got[key] = (int(r["n"]), slot[1])
        slot[1][i] = int(r["s"])
    return got


def kmeans_fit_twolevel(emb: DataFrame, k1: int = 4, k2: int = 3,
                        iters1: int = 1, iters2: int = 1,
                        id_col: str = "vec_id",
                        vec_col: str = "embedding",
                        return_assigned: bool = False,
                        carry: tuple[str, ...] = (),
                        ):
    """(coarse_cents, fine, dim): the driver-resident two-level model -
    fine[c] holds the k2 sub-centroids of coarse cluster c (fewer when
    the cluster has < k2 rows). See kmeans_assign_twolevel for the
    algorithm and determinism contract.

    `return_assigned=True` returns a 4th element: the checkpointed
    coarse assignment (id_col, *carry, xi, xd, coarse) this fit already
    materialized - so a layout BUILD under the returned model can skip
    re-scanning the corpus and re-running the k1 x dim coarse kernel it
    just paid for (r15, guide SS1.2 step 1: the two-level build chain
    ran the coarse assignment twice - once inside the fit, once inside
    the write). `carry` names payload columns (typically the raw
    vector) to ride the checkpoint for that reuse; it widens the
    checkpoint blocks, so callers opt in only when a build follows."""
    coarse_cents, dim = kmeans_fit(emb, k1, iters1, id_col, vec_col)
    keep = [c for c in carry if c not in (id_col, vec_col)]
    x = _scaled(emb.select(id_col, *keep, vec_col), vec_col)
    sel = [id_col, *keep] + ([vec_col] if vec_col in carry else [])
    # The coarse assignment feeds every fine phase (seeds, each
    # iteration's sums, the final assignment): pin it once instead of
    # re-evaluating the k1 x dim argmin per phase (the same
    # materialization decision as SemDeDup's assignment checkpoint).
    # LAZY checkpoint (r15, guide SS1.4/SS5): the fine-seed collect
    # below is the first action, so ONE job assigns the corpus,
    # materializes the checkpoint blocks, AND returns the seed
    # candidates - previously the eager checkpoint and the seed window
    # were two sequential jobs, and the window shuffled the whole
    # corpus by coarse id just to pick <= k1*k2 seed rows.
    assigned = (_assign(x, coarse_cents, dim)
                .select(*sel, "xi", "xd",
                        F.col("cluster").alias("coarse"))
                .localCheckpoint(eager=False))

    # Fine seeds: the per-coarse (_sk, id) window over the checkpointed
    # assignment. An Arrow per-batch partial-top-k2 variant (no corpus
    # exchange - only batches x k1 x k2 candidate rows shuffle) was
    # prototyped and REJECTED on measurement (r15): the two extra
    # corpus Arrow hops it adds (assign kernel -> JVM -> seed kernel)
    # cost more here than the window's memory-speed exchange saves
    # (interleaved same-JVM A/B: 1.85 -> 2.02 s median on the
    # kmeans_twolevel_clusters row) - the same local-measurement
    # verdict as r14's text-HOF rejection. The window rides the lazy
    # checkpoint's materialization job either way.
    wseed = Window.partitionBy("coarse").orderBy("_sk", id_col)
    seed_rows = (assigned
                 .select("coarse", "xd", id_col,
                         _seed_key(id_col).alias("_sk"))
                 .withColumn("_rn", F.row_number().over(wseed))
                 .where(F.col("_rn") <= k2)
                 .select("coarse", "_rn", "xd")
                 .collect())
    fine: list[list[list[float]]] = [[] for _ in range(k1)]
    for r in sorted(seed_rows, key=lambda r: (r["coarse"], r["_rn"])):
        fine[int(r["coarse"])].append(list(r["xd"]))

    # Each iteration is the partially-aggregating Arrow kernel, same as
    # kmeans_fit's - see _iter_partial_sums_fine.
    for _ in range(iters2):
        got = _iter_partial_sums_fine(assigned, fine, dim)
        fine = [
            [[got[(c, f)][1][i] / (got[(c, f)][0] * SCALE)
              for i in range(dim)]
             if (c, f) in got else fine[c][f]
             for f in range(len(fine[c]))]
            for c in range(k1)
        ]
    if return_assigned:
        return coarse_cents, fine, dim, assigned
    return coarse_cents, fine, dim


def kmeans_transform_topn_twolevel(emb: DataFrame,
                                   coarse_cents: list[list[float]],
                                   fine: list[list[list[float]]],
                                   k2: int, dim: int, n: int,
                                   nprobe_coarse: int,
                                   id_col: str = "vec_id",
                                   vec_col: str = "embedding"
                                   ) -> DataFrame:
    """(id_col, probe_rank, cluster): each row's `n` nearest LEAVES
    (leaf = coarse*k2 + fine) under a frozen two-level model,
    restricted to its `nprobe_coarse` nearest coarse cells - the
    distributed twin of ivf_layout.probe_clusters_twolevel (VERDICT r7
    #4: the two-level batch probe previously had only the driver-side
    literal path, so a whole-eval-split query batch collect()ed its
    vectors). One map-side Arrow pass, no shuffle, no driver hop; per
    row (k1 + nprobe_coarse*k2)*dim work, never the flat kernel's
    k*dim.

    Arithmetic mirrors probe_clusters_twolevel exactly: foldmath.sq_dists
    for both levels, stable argsort (coarse ties -> lowest cid; leaf
    ties -> lowest leaf id, because leaves are enumerated in ascending
    (coarse, fine) order before the stable sort), and a fit-time-empty
    coarse cell contributes its own
    centroid as a fine=0 leaf. Rows sharing a visited-cells signature
    are scored together (one vectorized pass per distinct signature
    per batch - at most C(k1, nprobe_coarse) groups, typically a
    handful)."""
    cmat = np.array([[float(v) for v in c] for c in coarse_cents],
                    dtype=np.float64)
    k1 = cmat.shape[0]
    if not 1 <= nprobe_coarse <= k1:
        raise ValueError(f"nprobe_coarse={nprobe_coarse} must be in "
                         f"[1, k1={k1}]")
    fmats = [np.array(fl, dtype=np.float64) if fl else cmat[c:c + 1]
             for c, fl in enumerate(fine)]
    leaf_ids = [np.arange(m.shape[0], dtype=np.int64) + c * k2
                if fine[c] else np.array([c * k2], dtype=np.int64)
                for c, m in enumerate(fmats)]

    @pandas_udf("array<bigint>")
    def topn(xd: pd.Series) -> pd.Series:
        mat = np.stack(xd.to_numpy())            # rows x dim float64
        rows = mat.shape[0]
        coarse_d = sq_dists(mat, cmat)
        visit = np.sort(np.argsort(coarse_d, axis=1,
                                   kind="stable")[:, :nprobe_coarse],
                        axis=1)                  # ascending cell ids
        out: list[list[int] | None] = [None] * rows
        sigs, inv = np.unique(visit, axis=0, return_inverse=True)
        for g in range(sigs.shape[0]):
            idxs = np.nonzero(inv == g)[0]
            cells = [int(c) for c in sigs[g]]
            leaves = np.concatenate([leaf_ids[c] for c in cells])
            fmat = np.concatenate([fmats[c] for c in cells])
            fd = sq_dists(mat[idxs], fmat)
            # ragged guard: visited cells can hold < n leaves total
            take = min(n, leaves.shape[0])
            order = np.argsort(fd, axis=1, kind="stable")[:, :take]
            sel = leaves[order]
            for t, ri in enumerate(idxs):
                out[ri] = sel[t].tolist()
        return pd.Series(out)

    x = _scaled(emb.select(id_col, vec_col), vec_col)
    return (x.withColumn("_p", topn("xd"))
            .select(id_col,
                    F.posexplode("_p").alias("probe_rank", "cluster"))
            .withColumn("probe_rank", F.col("probe_rank").cast("bigint")))


def kmeans_transform_twolevel(emb: DataFrame,
                              coarse_cents: list[list[float]],
                              fine: list[list[list[float]]], dim: int,
                              id_col: str = "vec_id",
                              vec_col: str = "embedding",
                              keep_vec: bool = False) -> DataFrame:
    """(id_col, coarse, fine, fine_dist) for a fitted two-level model:
    one coarse pass + one partition-constrained fine pass, both
    map-side. `keep_vec` passes `vec_col` through, same rationale as
    kmeans_transform's."""
    x = _scaled(emb.select(id_col, vec_col), vec_col)
    keep = [vec_col] if keep_vec else []
    assigned = (_assign(x, coarse_cents, dim)
                .select(id_col, *keep, "xd",
                        F.col("cluster").alias("coarse")))
    return (_assign_fine(assigned, fine, dim, coarse_cents=coarse_cents)
            .select(id_col, *keep, "coarse", "fine", "fine_dist"))

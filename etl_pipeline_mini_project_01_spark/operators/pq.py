"""Product quantization (PQ) for ANN at corpus scale - the MEMORY half
of the IVF story (ivf_layout.py is the I/O half).

Jegou, Douze, Schmid, "Product Quantization for Nearest Neighbor
Search" (TPAMI 2011): split the dim-d vector into m contiguous
subspaces of d/m dims, k-means each subspace to `ksub` code centroids,
and store each vector as m small integer codes. At dim=64 float32 and
m=8/ksub=256 that is 8 bytes per vector instead of 256 - a 32x
compression that turns a 25 TB embedding column into a ~780 GB code
column an executor fleet can hold IN MEMORY. Scoring is ADC
(asymmetric distance computation): per query, precompute an m x ksub
lookup table of partial inner products against the UNquantized query,
then a corpus row's approximate dot is m table lookups + a sum - no
float multiply per dimension, and the scan reads 8-byte codes, not
256-byte vectors.

Spark mapping (all public API):
  * training runs the m independent subspace k-means as ONE grouped
    Lloyd's over the (id, subspace, subvector) explosion - one
    assignment kernel + one groupBy(s, code) integer-sum shuffle per
    iteration, 2 + iters jobs total (see pq_train); the model is
    m x ksub x d/m floats, driver-resident control-plane
    (m*ksub*dsub = 16k floats at the default shape);
  * encoding is ONE map-side Arrow pass (argmin per subspace over
    expanded-form ||x||^2 - 2 x.C^T + ||c||^2 distances, one dgemm per
    batch and subspace);
  * ADC scoring broadcasts the codebooks + the query batch, builds the
    per-query LUTs inside the kernel once per Arrow batch, and scores
    with numpy fancy-indexing - no shuffle until the per-query top-k;
  * optional exact RE-RANK: take the PQ top `rerank` candidates per
    query (a candidate set ~rerank/n of the corpus), join back to the
    full-precision vectors, and re-score exactly - the standard
    recall-restoring tail, and the join is candidate-sized, never
    corpus-sized.

Determinism: codebook training inherits kmeans_fit's contract
(md5-seeded, integer-scaled sums, fixed iters); encoding and ADC both
use plain expanded-form numpy arithmetic (one dgemm per batch/
subspace) - deterministic as a fixed numpy-ops replay, which is what
the tests pin them to, but NOT fold-order: the expanded form rounds
differently than the operators/foldmath.py fold, so a razor tie
between two codes can resolve differently than fold arithmetic would
(why k-means assignment keeps the fold instead). ADC scores are
approximations by construction; the exact re-rank tail restores
fold-order cosine for the final ranking.

Reference: /root/reference has no vector search at all; this extends
SURVEY.md SS2-E (E47). Driver row since round 8: `pq_codes_rerank_topk`
(plans/similarity.py) oracle-checks training + encode + the
rerank=corpus exactness limit; tests/test_pq.py and the scale-curve
`pq` stage vouch the approximation quality and the stored IVF-PQ
composition."""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf


def pq_train(emb: DataFrame, m: int = 8, ksub: int = 16,
             iters: int = 2, id_col: str = "vec_id",
             vec_col: str = "embedding") -> list[list[list[float]]]:
    """m per-subspace codebooks, each ksub x (dim/m). The m k-means
    problems are independent, so they train as ONE grouped Lloyd's:
    every iteration is a single Arrow kernel pass over the raw vectors
    that scales, slices, assigns (per-subspace dgemm) and PARTIALLY
    AGGREGATES the int64 component sums in-batch, followed by a tiny
    groupBy(s, code, i) merge of m*ksub*dsub partial rows (r14: the
    earlier exploded-relation formulation shuffled assigned corpus
    rows and paid a dsub-wide Sum(ElementAt) plan per iteration whose
    Catalyst analysis+codegen outweighed the data work at harness
    scale). Job count is 1 + iters, NOT m*(1 + iters) - the
    per-subspace-sequential formulation spent ~m job latencies
    training 16 KB of model (measured 26 s at sf0.1 for m=16;
    grouped: ~2 s; partial-agg kernel: see OPTIMIZATION_r14.md).

    Determinism mirrors kmeans_fit exactly: seeds are the ksub rows
    with the smallest md5('seed|'||id) digests (the SAME ids seed
    every subspace - identical to what m independent kmeans_fit calls
    over the slices would pick), components integer-scale through
    SCALE, sums are exact bigints, empty codes keep their previous
    centroid, fixed iteration count. dim must divide evenly by m
    (PQ's standard constraint). ksub is FIXED (256 at production
    shape), so training is linear in the corpus, unlike an IVF list
    count that grows with it. At 100 TB: train on a bounded sample
    (pass emb.sample(...) or a .limit() slice; the codebook does not
    need the tail of the distribution)."""
    from .kmeans import SCALE, _scale_list, _seed_key

    # Seeds: ONE collect of the ksub hash-smallest raw vectors, scaled
    # and sliced driver-side (r14 - the previous two-job seed phase
    # collected ids, then re-scanned with an IN filter for their
    # exploded slices; _scale_list is bit-identical to the Spark-side
    # scaling, and slicing before or after the elementwise scale is the
    # same values). dim comes from the seed rows themselves (r15 -
    # the separate `first()` probe paid one extra job per training run
    # to read a value the seed collect already holds).
    seed_rows = (emb.select(id_col, vec_col,
                            _seed_key(id_col).alias("_sk"))
                 .orderBy("_sk", id_col).limit(ksub).collect())
    if not seed_rows:
        raise ValueError("pq_train needs a non-empty corpus")
    if len(seed_rows) != ksub:
        raise ValueError(f"ksub={ksub} seeds need >= ksub rows, "
                         f"got {len(seed_rows)}")
    dim = len(seed_rows[0][vec_col])
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    dsub = dim // m
    books: list[list[list[float]]] = [
        [_scale_list(r[vec_col])[s * dsub:(s + 1) * dsub]
         for r in seed_rows]
        for s in range(m)
    ]

    # Each iteration: ONE Arrow kernel that scales, slices, assigns
    # per subspace (expanded-form distances, exactly _assign_subspace's
    # arithmetic) and partially aggregates int64 component sums per
    # (s, code) in-batch - the exchange carries m x ksub x dsub
    # partial-sum rows per batch instead of the m-exploded corpus, and
    # the plan replaces the dsub-wide Sum(ElementAt(...)) aggregate
    # whose analysis+codegen dominated training wall at harness scale
    # (guide SS2.3 / SS4.2; same shape as kmeans._iter_partial_sums).
    vecs = emb.select(vec_col)
    for _ in range(iters):
        mats = _book_mats(books)

        def partial(batches, mats=mats):
            for pdf in batches:
                if not len(pdf):
                    continue
                raw = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
                xi = np.floor(raw * SCALE).astype(np.int64)
                xd = xi / SCALE                  # exact: 2^20 divide
                outs = []
                for s in range(m):
                    sub = xd[:, s * dsub:(s + 1) * dsub]
                    sxi = xi[:, s * dsub:(s + 1) * dsub]
                    cm = mats[s]
                    d = ((sub * sub).sum(axis=1)[:, None]
                         - 2.0 * (sub @ cm.T)
                         + (cm * cm).sum(axis=1)[None, :])
                    code = np.argmin(d, axis=1)  # first min == lowest code
                    for c in np.unique(code):
                        msk = code == c
                        outs.append(pd.DataFrame({
                            "s": np.int64(s),
                            "code": np.int64(c),
                            "i": np.arange(dsub, dtype=np.int64),
                            "sm": sxi[msk].sum(axis=0),
                            "n": np.int64(int(msk.sum()))}))
                yield pd.concat(outs, ignore_index=True)

        sums = (vecs.mapInPandas(
            partial, "s bigint, code bigint, i bigint, sm bigint, n bigint")
            .groupBy("s", "code", "i")
            .agg(F.sum("sm").alias("sm"), F.sum("n").alias("n")))
        got: dict[tuple[int, int], tuple[int, list[int]]] = {}
        for r in sums.collect():
            key = (int(r["s"]), int(r["code"]))
            slot = got.setdefault(key, (0, [0] * dsub))
            got[key] = (int(r["n"]), slot[1])
            slot[1][int(r["i"])] = int(r["sm"])
        books = [
            [[got[(s, c)][1][i] / (got[(s, c)][0] * SCALE)
              for i in range(dsub)]
             if (s, c) in got else books[s][c]
             for c in range(ksub)]
            for s in range(m)
        ]
    return books


def _book_mats(codebooks) -> list[np.ndarray]:
    return [np.asarray([[float(v) for v in c] for c in book],
                       dtype=np.float64) for book in codebooks]


def pq_encode(emb: DataFrame, codebooks: list[list[list[float]]],
              id_col: str = "vec_id", vec_col: str = "embedding",
              passthrough: tuple[str, ...] = ()) -> DataFrame:
    """(id_col, *passthrough, codes array<smallint>): one map-side
    Arrow pass; per subspace the argmin code by expanded-form distances
    with the same first-min==lowest-code tie rule as the k-means
    kernels. codes[s] indexes codebooks[s]; the stored row costs m
    small ints (m bytes at ksub<=256 in parquet's packed encoding)
    instead of dim floats. `passthrough` columns (e.g. the cluster id
    an upstream assignment pass already attached) ride the SAME
    projection - the encode is a plain column expression, so callers
    never need a corpus-sized self-join on id_col to re-attach them
    (VERDICT r8 #2, the same contract as write_ivf_layout's
    carry-through at ivf_layout.py)."""
    mats = _book_mats(codebooks)
    m = len(mats)
    dsub = mats[0].shape[1]

    @pandas_udf("array<smallint>")
    def encode(vec: pd.Series) -> pd.Series:
        x = np.stack(vec.to_numpy()).astype(np.float64)
        out = np.empty((x.shape[0], m), dtype=np.int16)
        for s in range(m):
            sub = x[:, s * dsub:(s + 1) * dsub]
            cm = mats[s]
            d = ((sub * sub).sum(axis=1)[:, None]
                 - 2.0 * (sub @ cm.T)
                 + (cm * cm).sum(axis=1)[None, :])
            out[:, s] = np.argmin(d, axis=1)
        return pd.Series(list(out))

    return emb.select(id_col, *passthrough, encode(vec_col).alias("codes"))


def pq_adc_topk(codes: DataFrame, queries: DataFrame,
                codebooks: list[list[list[float]]], k: int,
                id_col: str = "vec_id", vec_col: str = "embedding",
                rerank: int = 0, emb: DataFrame | None = None
                ) -> DataFrame:
    """Per-query approximate top-k over the CODES relation via ADC
    inner product: (query_id, vec_id, score, rank). The kernel
    broadcasts the query batch + codebooks, builds each query's
    m x ksub partial-dot LUT once per Arrow batch, and scores every
    corpus row with m fancy-indexed lookups - the scan reads m-byte
    codes, never the float vectors. Scores are INNER PRODUCTS of the
    quantized corpus row with the raw query (the ADC convention; on
    normalized queries this ranks like cosine up to corpus-row norm
    quantization).

    `rerank` > 0 switches on the exact tail: the PQ top-`rerank`
    candidates per query join back to the full-precision vectors
    (`emb` required) and are re-scored with the exact fold-order
    cosine, then the final top-k ranks those. The join is
    candidate-sized (|queries| x rerank rows vs the corpus) - the
    recall-restoring step costs a bounded lookup, not a scan.

    Shuffle shape (VERDICT r7 #5): the kernel keeps a per-Arrow-batch
    partial top-`take` per query (ties pinned by (score desc, id), the
    same order the global window uses) and filters self-matches
    in-kernel, so the exchange feeding the window carries at most
    |Q| x take x num_batches rows - never the n x |Q| explosion the
    posexplode formulation shuffled. The union of per-batch top-takes
    is a superset of the global top-take, so results are bit-equal
    (pinned in tests/test_pq.py)."""
    if rerank and emb is None:
        raise ValueError("rerank > 0 needs the full-precision `emb`")
    q_ids, _, luts = _query_luts(queries, codebooks, id_col, vec_col)
    take = max(k, rerank)
    top = _adc_candidate_topk(codes, q_ids, luts, take, id_col)
    if not rerank:
        return top.select("query_id", id_col, "score", "rank")
    return _exact_rerank(top, queries, emb, k, id_col, vec_col)


def _query_luts(queries: DataFrame, codebooks: list[list[list[float]]],
                id_col: str, vec_col: str
                ) -> tuple[list, np.ndarray, np.ndarray]:
    """(q_ids, q_mat, luts) for an ADC kernel: luts[qi][s][code] =
    <query subvector, code centroid> - |Q| x m x ksub floats,
    control-plane sized, shipped to executors inside the kernel
    closure. The raw query vectors (q_mat) come back too, from the
    SAME collect - callers that also need them (the IVF-PQ probes'
    driver-side probe planning) must not pay a second driver job for
    the same small batch (VERDICT r8 #6)."""
    mats = _book_mats(codebooks)
    m = len(mats)
    dsub = mats[0].shape[1]
    qrows = queries.select(id_col, vec_col).collect()
    if not qrows:
        raise ValueError("empty query batch")
    q_ids = [r[id_col] for r in qrows]
    q_mat = np.asarray([[float(v) for v in r[vec_col]] for r in qrows],
                       dtype=np.float64)
    luts = np.stack([
        np.stack([mats[s] @ q_mat[qi, s * dsub:(s + 1) * dsub]
                  for s in range(m)])
        for qi in range(len(q_ids))])
    return q_ids, q_mat, luts


def _adc_candidate_topk(codes: DataFrame, q_ids: list, luts: np.ndarray,
                        take: int, id_col: str,
                        cluster_sets: list[frozenset] | None = None
                        ) -> DataFrame:
    """The bounded-shuffle ADC rank: per-Arrow-batch partial top-`take`
    per query (ties pinned by (score desc, id), the same order the
    global window uses; self-matches filtered in-kernel), then the
    global window. With `cluster_sets` given (the IVF-PQ composition),
    each query only scores rows of ITS probed clusters - the
    per-query membership mask runs inside the kernel against the
    layout's `cluster` column, so rows of a directory probed by query
    A but not query B never become B-candidates."""
    from pyspark.sql import Window
    from pyspark.sql.types import (DoubleType, IntegerType, StructField,
                                   StructType)

    nq = len(q_ids)
    m = luts.shape[1]
    masked = cluster_sets is not None
    cols = [id_col, "codes"] + (["cluster"] if masked else [])
    out_schema = StructType([codes.schema[id_col],
                             StructField("_qi", IntegerType()),
                             StructField("score", DoubleType())])

    def adc_partial_topk(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            c = np.stack(pdf["codes"].to_numpy()).astype(np.int64)
            n = c.shape[0]
            scores = np.zeros((n, nq), dtype=np.float64)
            for s in range(m):
                # luts[:, s, :] is |Q| x ksub; index by batch codes
                scores += luts[:, s, :][:, c[:, s]].T
            parts = []
            ids = pdf[id_col]
            clus = (pdf["cluster"].to_numpy(dtype=np.int64)
                    if masked else None)
            for qi in range(nq):
                part = pd.DataFrame({id_col: ids.to_numpy(),
                                     "_qi": np.int32(qi),
                                     "score": scores[:, qi]})
                keep = part[id_col] != q_ids[qi]
                if masked:
                    allowed = np.isin(
                        clus, np.fromiter(cluster_sets[qi], dtype=np.int64))
                    keep &= pd.Series(allowed, index=part.index)
                part = part[keep]
                # per-batch partial top-take by the global window's
                # exact order (score desc, id asc) - mergesort keeps
                # the two-key ordering deterministic
                parts.append(part.sort_values(
                    ["score", id_col], ascending=[False, True],
                    kind="mergesort").head(take))
            yield pd.concat(parts, ignore_index=True)

    qmap = F.array(*[F.lit(q) for q in q_ids])
    cand = (codes.select(*cols)
            .mapInPandas(adc_partial_topk, out_schema)
            .withColumn("query_id",
                        F.element_at(qmap, F.col("_qi") + 1))
            .drop("_qi"))
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), id_col)
    return (cand.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= take))


def _exact_rerank(top: DataFrame, queries: DataFrame, emb: DataFrame,
                  k: int, id_col: str, vec_col: str,
                  hint_broadcast: bool = True) -> DataFrame:
    """Exact re-rank tail: candidate-sized join back to full vectors.
    The candidate relation joins the raw corpus FIRST (|queries| x
    rerank ids - the corpus never shuffles when that side broadcasts)
    and the normalization expressions run on the surviving rows only;
    putting normalized_vectors upstream of the join would compute the
    per-row norm fold for the WHOLE corpus (measured 69 s vs 9 s at
    the 100x curve point).

    `hint_broadcast=False` (the plan-mode probes, VERDICT r8 #3): the
    candidate and query-vector relations are |Q|-sized, and a broadcast
    relation is still collected to the driver before torrent
    distribution - so for whole-eval-split batches the hints come OFF
    and the joins form by shuffle; AQE still broadcasts small sides at
    runtime from their true sizes."""
    from pyspark.sql import Window

    from .semdedup import norm_dot, normalized_vectors

    maybe_bcast = F.broadcast if hint_broadcast else (lambda df: df)
    qv = (normalized_vectors(queries, id_col, vec_col)
          .select(F.col(id_col).alias("query_id"),
                  F.col("nv").alias("qnv")))
    wr = Window.partitionBy("query_id").orderBy(F.desc("score"), id_col)
    # norm_dot fuses the candidate rows' normalization + dot into one
    # Arrow kernel (r14) - the previous HOF chain (_n2 fold, transform
    # divide, pair_dot) evaluated interpreted per element and was the
    # measured wall of the rerank tail (~3.5 s on a 10k-candidate
    # relation vs ~0.1 s batched; bit-equality pinned).
    return (emb.select(id_col, vec_col)
            .join(maybe_bcast(top.select("query_id", id_col)), id_col)
            .join(maybe_bcast(qv), "query_id")
            .withColumn("score", norm_dot(vec_col, "qnv"))
            .withColumn("rank", F.row_number().over(wr))
            .filter(F.col("rank") <= k)
            .select("query_id", id_col, "score", "rank"))


def write_ivf_pq_layout(emb: DataFrame, cents: list[list[float]],
                        dim: int, codebooks: list[list[list[float]]],
                        path: str, id_col: str = "vec_id",
                        vec_col: str = "embedding",
                        mode: str = "overwrite",
                        files_per_cluster: int = 1) -> None:
    """The stored IVF-PQ index (VERDICT r7 #6): cluster directories
    holding CODES - the E44 partition-pruned layout crossed with the
    E47 compression. Each row is assigned its coarse cluster (frozen
    `cents`, one map-side pass) and PQ-encoded (one more map-side
    Arrow pass), then (id, codes) lands under `cluster=` directories
    via the same single-shuffle routing as `write_ivf_layout`. At
    100 TB this is the index an executor fleet actually serves from:
    the probe prunes to nprobe directories AND each directory is
    m bytes/row instead of dim floats - the scan cost multiplies both
    savings. The full-precision vectors stay in the source table,
    touched only by the candidate-sized re-rank join."""
    if files_per_cluster < 1:
        raise ValueError(f"files_per_cluster must be >= 1, "
                         f"got {files_per_cluster}")
    _ivf_pq_routed(emb, cents, dim, codebooks, id_col, vec_col,
                   files_per_cluster) \
        .write.partitionBy("cluster").mode(mode).parquet(path)
    from .ivf_layout import commit_layout_manifest
    commit_layout_manifest(emb.sparkSession, path)


def _ivf_pq_routed(emb: DataFrame, cents: list[list[float]], dim: int,
                   codebooks: list[list[list[float]]], id_col: str,
                   vec_col: str,
                   files_per_cluster: int) -> DataFrame:
    """The flat IVF-PQ build plan, exposed for the no-self-join plan
    guard (tests/test_pq.py): cluster rides the encode projection
    (pq_encode passthrough), so the assignment kernel runs ONCE and the
    only shuffle is the intentional cluster routing - no corpus-sized
    join on id_col anywhere in the build (VERDICT r8 #2)."""
    from .kmeans import _assign, _scaled

    assigned = (_assign(_scaled(emb.select(id_col, vec_col), vec_col),
                        cents, dim)
                .drop("xi", "xd", "centroid_dist"))
    coded = pq_encode(assigned, codebooks, id_col, vec_col,
                      passthrough=("cluster",))
    return _route_coded(coded, id_col, files_per_cluster)


def write_ivf_pq_layout_generation(emb: DataFrame,
                                   cents: list[list[float]], dim: int,
                                   codebooks: list[list[list[float]]],
                                   path: str, id_col: str = "vec_id",
                                   vec_col: str = "embedding",
                                   files_per_cluster: int = 1,
                                   max_retries: int = 5) -> int:
    """E49 for the PRODUCTION index: an immutable-generation rebuild of
    the stored IVF-PQ layout (the lock-free swap of
    ivf_layout.write_ivf_layout_generation, staging CODES instead of
    float payloads). A model refresh - new coarse centroids AND new
    codebooks - stages a complete gen=<uuid> tree and CAS-commits one
    manifest version; probes pinned to the old version keep serving
    the old quantization bit-identically (the caller pins the MODEL
    alongside the version - the manifest versions the files, the
    caller's model registry versions the centroids/codebooks they were
    encoded under). Returns the committed manifest version."""
    import os
    import uuid as _uuid

    from .ivf_layout import commit_generation_manifest

    gen = f"gen={_uuid.uuid4().hex[:12]}"
    stage = os.path.join(path, gen)
    _ivf_pq_routed(emb, cents, dim, codebooks, id_col, vec_col,
                   files_per_cluster) \
        .write.partitionBy("cluster").mode("errorifexists").parquet(stage)
    return commit_generation_manifest(emb.sparkSession, path, gen,
                                      max_retries)


def write_ivf_pq_layout_generation_twolevel(
        emb: DataFrame, coarse_cents: list[list[float]],
        fine: list[list[list[float]]], k2: int, dim: int,
        codebooks: list[list[list[float]]], path: str,
        id_col: str = "vec_id", vec_col: str = "embedding",
        files_per_cluster: int = 1, max_retries: int = 5) -> int:
    """The two-level-quantizer generation rebuild - same contract as
    :func:`write_ivf_pq_layout_generation` with the O(n*sqrt(k)*dim)
    assignment (the build-scale half at corpus-scaled k)."""
    import os
    import uuid as _uuid

    from .ivf_layout import commit_generation_manifest

    if any(len(fl) > k2 for fl in fine):
        raise ValueError("a fine list exceeds the nominal k2 "
                         f"({max(len(fl) for fl in fine)} > {k2})")
    gen = f"gen={_uuid.uuid4().hex[:12]}"
    stage = os.path.join(path, gen)
    _ivf_pq_routed_twolevel(emb, coarse_cents, fine, k2, dim, codebooks,
                            id_col, vec_col, files_per_cluster) \
        .write.partitionBy("cluster").mode("errorifexists").parquet(stage)
    return commit_generation_manifest(emb.sparkSession, path, gen,
                                      max_retries)


def _route_coded(coded: DataFrame, id_col: str,
                 files_per_cluster: int) -> DataFrame:
    """Delegates to ivf_layout.route_by_cluster - ONE routing rule for
    every layout builder (a drifted copy lived here before)."""
    from .ivf_layout import route_by_cluster

    return route_by_cluster(coded, id_col, files_per_cluster)


def ivf_pq_probe(spark, path: str, queries: DataFrame,
                 cents: list[list[float]],
                 codebooks: list[list[list[float]]],
                 nprobe: int, k: int,
                 id_col: str = "vec_id", vec_col: str = "embedding",
                 rerank: int = 0, emb: DataFrame | None = None,
                 probe_lists: str = "auto",
                 literal_max: int | None = None,
                 index_version: int | None = None) -> DataFrame:
    """Serve from the stored IVF-PQ index: (query_id, vec_id, score,
    rank). Probe-list planning carries the float layout's contract:

    * "literal" (small-batch serving): query vectors visit the driver
      (`probe_clusters` fold math per query), the probed union lands
      as a planning-time `IN` so the scan's file index never lists
      unprobed directories, and the ADC kernel broadcasts the
      |Q| x m x ksub LUTs in its closure with per-query cluster masks.
    * "plan" (large batches): NOTHING is |Q|-sized on the driver -
      candidates come from the distributed `kmeans_transform_topn`
      kernel, join the pruned scan on `cluster` (runtime partition
      pruning), the query vectors join back broadcast, and the
      pair-wise ADC kernel builds each query's LUT per (batch, query)
      group from the qv column. Scores bit-equal to literal (equality
      pinned in tests/test_pq.py).
    * "auto" (default): literal at or below `literal_max` (the
      ivf_layout module default), plan above.

    Either way the scan reads m-byte codes only, and `rerank` > 0
    re-scores the top candidates exactly against the full-precision
    `emb` (candidate-sized join)."""
    from .ivf_layout import LITERAL_PROBE_MAX, probe_clusters
    from .kmeans import kmeans_transform_topn

    if rerank and emb is None:
        raise ValueError("rerank > 0 needs the full-precision `emb`")
    if probe_lists not in ("auto", "plan", "literal"):
        raise ValueError(f"probe_lists must be 'auto', 'plan' or "
                         f"'literal', got {probe_lists!r}")
    literal_max = LITERAL_PROBE_MAX if literal_max is None else literal_max
    if probe_lists == "auto":
        n_q = queries.select(id_col).limit(literal_max + 1).count()
        probe_lists = "literal" if n_q <= literal_max else "plan"
    if probe_lists == "plan":
        dim = len(cents[0])
        cand = (kmeans_transform_topn(queries, cents, dim, n=nprobe,
                                      id_col=id_col, vec_col=vec_col)
                .select(F.col(id_col).alias("query_id"),
                        F.col("cluster").cast("int").alias("cluster")))
        return _ivf_pq_plan_probe(spark, path, queries, cand, codebooks,
                                  k, rerank, id_col, vec_col, emb,
                                  version=index_version)
    # ONE narrow driver job serves both the LUTs and the probe planning
    # (VERDICT r8 #6) - q_mat rows feed probe_clusters directly.
    q_ids, q_mat, luts = _query_luts(queries, codebooks, id_col, vec_col)
    cluster_sets = [frozenset(probe_clusters(list(qv), cents, nprobe))
                    for qv in q_mat]
    union = sorted({c for s in cluster_sets for c in s})
    from .ivf_layout import _read_probed_dirs
    lay = (_read_probed_dirs(spark, path, union, index_version)
           .select(id_col, "codes", "cluster")
           .filter(F.col("cluster").isin(union)))
    take = max(k, rerank)
    top = _adc_candidate_topk(lay, q_ids, luts, take, id_col,
                              cluster_sets=cluster_sets)
    if not rerank:
        return top.select("query_id", id_col, "score", "rank")
    return _exact_rerank(top, queries, emb, k, id_col, vec_col)


def write_ivf_pq_layout_twolevel(emb: DataFrame,
                                 coarse_cents: list[list[float]],
                                 fine: list[list[list[float]]],
                                 k2: int, dim: int,
                                 codebooks: list[list[list[float]]],
                                 path: str, id_col: str = "vec_id",
                                 vec_col: str = "embedding",
                                 mode: str = "overwrite",
                                 files_per_cluster: int = 1,
                                 coarse_assigned: DataFrame | None = None
                                 ) -> int:
    """The stored IVF-PQ index under a HIERARCHICAL quantizer - the
    full E46 x E47 composition. The flat-quantizer build
    (`write_ivf_pq_layout`) pays O(n*k*dim) in its coarse assignment,
    which at corpus-scaled k is the measured build wall (613 s at the
    300x curve point); the two-level quantizer assigns at
    O(n*sqrt(k)*dim) (coarse pass + partition-constrained fine pass,
    leaf = coarse*k2 + fine - same numbering as
    `write_ivf_layout_twolevel`) and the PQ encode stays one map-side
    pass. Directory contract is unchanged: `cluster=` partitions of
    (id, codes), so `ivf_pq_probe_twolevel` prunes them with the same
    planning-time IN.

    `coarse_assigned` (r15): build from the fit's CHECKPOINTED coarse
    assignment instead of re-running the coarse kernel - the same
    reuse contract as `write_ivf_layout_twolevel`. Returns the number
    of rows written, observed for free on the write job itself (an
    Observation aggregate rides the write) - callers that need the
    corpus count (the rerank=corpus exactness-limit rows) read it here
    instead of paying a separate count job (guide SS1.4)."""
    from pyspark.sql import Observation

    if files_per_cluster < 1:
        raise ValueError(f"files_per_cluster must be >= 1, "
                         f"got {files_per_cluster}")
    if any(len(fl) > k2 for fl in fine):
        raise ValueError("a fine list exceeds the nominal k2 "
                         f"({max(len(fl) for fl in fine)} > {k2})")
    routed = _ivf_pq_routed_twolevel(emb, coarse_cents, fine, k2, dim,
                                     codebooks, id_col, vec_col,
                                     files_per_cluster, coarse_assigned)
    obs = Observation()
    (routed.observe(obs, F.count(F.lit(1)).alias("rows"))
     .write.partitionBy("cluster").mode(mode).parquet(path))
    from .ivf_layout import commit_layout_manifest
    commit_layout_manifest(emb.sparkSession, path)
    return int(obs.get["rows"])


def _ivf_pq_routed_twolevel(emb: DataFrame,
                            coarse_cents: list[list[float]],
                            fine: list[list[list[float]]], k2: int,
                            dim: int,
                            codebooks: list[list[list[float]]],
                            id_col: str, vec_col: str,
                            files_per_cluster: int,
                            coarse_assigned: DataFrame | None = None
                            ) -> DataFrame:
    """The two-level IVF-PQ build plan, exposed for the no-self-join
    plan guard: same single-pass contract as the flat build - cluster
    rides the encode projection, no corpus join (VERDICT r8 #2).
    `coarse_assigned` swaps the coarse pass for the fit's checkpointed
    assignment (see write_ivf_pq_layout_twolevel)."""
    from .kmeans import _assign, _assign_fine, _scaled

    if coarse_assigned is not None:
        assigned = coarse_assigned
    else:
        assigned = (_assign(_scaled(emb.select(id_col, vec_col), vec_col),
                            coarse_cents, dim)
                    .withColumnRenamed("cluster", "coarse")
                    .drop("centroid_dist"))
    fined = (_assign_fine(assigned, fine, dim, coarse_cents=coarse_cents)
             .withColumn("cluster",
                         F.col("coarse") * k2 + F.col("fine"))
             .drop("xi", "xd", "coarse", "fine", "fine_dist"))
    coded = pq_encode(fined, codebooks, id_col, vec_col,
                      passthrough=("cluster",))
    return _route_coded(coded, id_col, files_per_cluster)


def ivf_pq_probe_twolevel(spark, path: str, queries: DataFrame,
                          coarse_cents: list[list[float]],
                          fine: list[list[list[float]]], k2: int,
                          codebooks: list[list[list[float]]],
                          nprobe: int, k: int, nprobe_coarse: int = 4,
                          id_col: str = "vec_id",
                          vec_col: str = "embedding",
                          rerank: int = 0, emb: DataFrame | None = None,
                          probe_lists: str = "auto",
                          literal_max: int | None = None,
                          index_version: int | None = None) -> DataFrame:
    """Serve from the two-level IVF-PQ index. Literal mode plans probe
    lists driver-side at (k1 + nprobe_coarse*k2)*dim per query
    (`probe_clusters_twolevel` - never the flat planner's k*dim scan
    at corpus-scaled k) and pushes the leaf union as a planning-time
    IN with per-query in-kernel leaf masks; plan mode (large batches)
    routes candidates through the distributed
    `kmeans_transform_topn_twolevel` kernel into the shared pair-wise
    ADC tail - no |Q|-sized driver state. Auto picks literal at or
    below `literal_max`. Optional exact re-rank against the
    full-precision source either way."""
    from .ivf_layout import LITERAL_PROBE_MAX, probe_clusters_twolevel
    from .kmeans import kmeans_transform_topn_twolevel

    if rerank and emb is None:
        raise ValueError("rerank > 0 needs the full-precision `emb`")
    if probe_lists not in ("auto", "plan", "literal"):
        raise ValueError(f"probe_lists must be 'auto', 'plan' or "
                         f"'literal', got {probe_lists!r}")
    literal_max = LITERAL_PROBE_MAX if literal_max is None else literal_max
    if probe_lists == "auto":
        n_q = queries.select(id_col).limit(literal_max + 1).count()
        probe_lists = "literal" if n_q <= literal_max else "plan"
    if probe_lists == "plan":
        dim = len(coarse_cents[0])
        cand = (kmeans_transform_topn_twolevel(
            queries, coarse_cents, fine, k2, dim, n=nprobe,
            nprobe_coarse=nprobe_coarse, id_col=id_col, vec_col=vec_col)
            .select(F.col(id_col).alias("query_id"),
                    F.col("cluster").cast("int").alias("cluster")))
        return _ivf_pq_plan_probe(spark, path, queries, cand, codebooks,
                                  k, rerank, id_col, vec_col, emb,
                                  version=index_version)
    # ONE narrow driver job serves both the LUTs and the probe planning
    # (VERDICT r8 #6) - q_mat rows feed probe_clusters_twolevel directly.
    q_ids, q_mat, luts = _query_luts(queries, codebooks, id_col, vec_col)
    cluster_sets = [
        frozenset(probe_clusters_twolevel(list(qv), coarse_cents, fine,
                                          k2, nprobe, nprobe_coarse))
        for qv in q_mat]
    union = sorted({c for s in cluster_sets for c in s})
    from .ivf_layout import _read_probed_dirs
    lay = (_read_probed_dirs(spark, path, union, index_version)
           .select(id_col, "codes", "cluster")
           .filter(F.col("cluster").isin(union)))
    take = max(k, rerank)
    top = _adc_candidate_topk(lay, q_ids, luts, take, id_col,
                              cluster_sets=cluster_sets)
    if not rerank:
        return top.select("query_id", id_col, "score", "rank")
    return _exact_rerank(top, queries, emb, k, id_col, vec_col)


def _adc_pairwise_topk(pairs: DataFrame, take: int, id_col: str,
                       codebooks: list[list[list[float]]]) -> DataFrame:
    """ADC over a (query_id, qv, id, codes) PAIR relation - the
    large-batch planning path. Unlike `_adc_candidate_topk`, NOTHING
    here is |Q|-sized driver state: no collected query vectors, no
    |Q| x m x ksub LUT closure, no per-query cluster sets. Each Arrow
    batch groups its rows by query_id, builds that query's m x ksub
    LUT once per (batch, query) from the qv column (m small matvecs -
    the same float64 dgemv arithmetic as `_query_luts`, so scores are
    bit-equal to the literal path), scores the group's codes by m
    fancy-indexed lookups, and emits the per-batch partial top-`take`
    by the global window's (score desc, id) order with self-matches
    dropped in-kernel. The candidate join upstream already restricted
    each query to its probed clusters, so no membership mask is
    needed."""
    from pyspark.sql import Window
    from pyspark.sql.types import DoubleType, StructField, StructType

    mats = _book_mats(codebooks)
    m = len(mats)
    dsub = mats[0].shape[1]
    out_schema = StructType([
        StructField("query_id", pairs.schema["query_id"].dataType),
        pairs.schema[id_col],
        StructField("score", DoubleType())])

    def adc_pairs(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            parts = []
            for q, grp in pdf.groupby("query_id", sort=False):
                qv = np.asarray(grp["qv"].iloc[0], dtype=np.float64)
                c = np.stack(grp["codes"].to_numpy()).astype(np.int64)
                scores = np.zeros(c.shape[0], dtype=np.float64)
                for s in range(m):
                    lut = mats[s] @ qv[s * dsub:(s + 1) * dsub]
                    scores += lut[c[:, s]]
                part = pd.DataFrame({"query_id": q,
                                     id_col: grp[id_col].to_numpy(),
                                     "score": scores})
                part = part[part[id_col] != q]
                parts.append(part.sort_values(
                    ["score", id_col], ascending=[False, True],
                    kind="mergesort").head(take))
            yield pd.concat(parts, ignore_index=True)

    cand = (pairs.select("query_id", "qv", id_col, "codes")
            .mapInPandas(adc_pairs, out_schema))
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), id_col)
    return (cand.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= take))


def _ivf_pq_plan_probe(spark, path: str, queries: DataFrame,
                       cand: DataFrame, codebooks, k: int, rerank: int,
                       id_col: str, vec_col: str,
                       emb: DataFrame | None,
                       version: int | None = None) -> DataFrame:
    """Shared plan-mode tail for both IVF-PQ probes. NOTHING |Q|-sized
    carries a broadcast hint (VERDICT r8 #3 - a broadcast relation is
    still collected to the driver, so hinting the query batch defeats
    plan mode's no-|Q|-driver-state contract through the back door):

    * partition pruning is seeded by the DISTINCT probed clusters -
      bounded by k, the same order as the centroid model, genuinely
      control-plane - broadcast into a left-semi join the scan prunes
      against at runtime (dynamic partition pruning);
    * the (query_id, cluster) candidate relation and the (query_id,
      qv) vectors join WITHOUT hints: the pair relation forms by
      shuffle on cluster / query_id, and AQE still broadcasts small
      batches at runtime from their true sizes (plan-guarded in
      tests/test_pq.py: with auto-broadcast off, no BroadcastExchange
      touches the query side).

    The pair relation's size is exactly the ADC work (sum over queries
    of their probed posting lists) - rows of a directory probed by A
    but not B never pair with B."""
    from .ivf_layout import _read_probed_dirs, manifest_clusters

    # File discovery: with a committed manifest the probed directories
    # are known from ONE small driver-side read seeded by the distinct
    # candidate clusters (<= k ints - one tiny collect of an agg, not
    # the query batch), so plan build never lists all k directories.
    # Without a manifest, fall back to the full listing + DPP.
    if version is not None or manifest_clusters(path) is not None:
        # The candidate relation feeds both the distinct-cluster seed
        # and the pair join; pin it so the distributed assignment
        # kernel runs once (executor-resident, never on the driver).
        # LAZY (r15): the distinct collect below materializes the
        # blocks in the same job - the eager pin was one extra job per
        # probe for the identical result.
        cand = cand.localCheckpoint(eager=False)
        union = sorted(int(r["cluster"]) for r in
                       cand.select("cluster").distinct().collect())
        lay = (_read_probed_dirs(spark, path, union, version)
               .select(id_col, "codes", "cluster")
               .filter(F.col("cluster").isin(union)))
    else:
        clus = cand.select("cluster").distinct()
        lay = (spark.read.parquet(path)
               .select(id_col, "codes", "cluster")
               .join(F.broadcast(clus), "cluster", "left_semi"))
    qv = queries.select(F.col(id_col).alias("query_id"),
                        F.col(vec_col).alias("qv"))
    pairs = lay.join(cand, "cluster").join(qv, "query_id")
    take = max(k, rerank)
    top = _adc_pairwise_topk(pairs, take, id_col, codebooks)
    if not rerank:
        return top.select("query_id", id_col, "score", "rank")
    return _exact_rerank(top, queries, emb, k, id_col, vec_col,
                         hint_broadcast=False)

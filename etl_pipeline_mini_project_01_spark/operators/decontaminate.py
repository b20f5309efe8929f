"""Benchmark decontamination: flag/remove training documents that
contain verbatim n-gram overlap with an evaluation benchmark - standard
pre-training hygiene (the GPT-3/Gopher-style 13-gram collision rule)
so that held-out benchmarks stay held out.

Scale shape (100 TB corpus vs MB-scale benchmark):
  * both sides reduce to DISTINCT hashed word n-grams (xxhash64 - a
    64-bit JVM hash, no string shuffle: collisions at benchmark scale
    ~1e-9, and a collision only costs one extra flagged doc);
  * the overlap is an equi-join on the hash. The benchmark side is
    usually broadcast-sized, but no broadcast is FORCED - AQE picks
    broadcast when the runtime size allows, shuffled hash join
    otherwise (a 100 TB-safe default, same policy as plans/dedup.py);
  * per-doc counts aggregate map-side; removal is a broadcast-able
    anti/semi join back against the corpus.

Docs with fewer than n tokens produce zero n-grams and are never
flagged (vacuously clean), mirroring the short-doc shingle guard in
plans/dedup.py:156-162.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from ..functions.text import word_array

#: GPT-3 appendix C / Gopher use 13-gram collisions; 8-13 is the common
#: range. Tunable per call.
DEFAULT_N = 13

#: Bloom prefilter sizing: m bits / k hashes; fill = 1-exp(-n*k/m) for
#: n distinct grams, FP ~ fill^k. The default 2^22 bits (512 KiB
#: packed broadcast) suits benchmarks up to ~3e5 distinct grams (~25%
#: fill -> FP ~0.4%); for a 1e6-gram suite use 2^25 (4 MiB, ~11% fill,
#: FP ~1.6e-4) - the standard rule m ~ 10*n keeps FP near 1%.
BLOOM_BITS = 1 << 22
BLOOM_K = 4


def _ngram_hashes(df: DataFrame, n: int, id_col: str,
                  text_col: str) -> DataFrame:
    """(id_col, gram_hash): distinct xxhash64 of each word n-gram."""
    toks = df.select(id_col, word_array(text_col).alias("_w"))
    idx = F.when(F.size("_w") >= n,
                 F.sequence(F.lit(1), F.size("_w") - (n - 1))
                 ).otherwise(F.array().cast("array<int>"))
    return (toks.select(
        id_col,
        F.explode(F.transform(
            idx, lambda i: F.xxhash64(F.array_join(F.slice("_w", i, n), " "))
        )).alias("gram_hash"))
        .distinct())


def _gram_hash_pairs(df: DataFrame, n: int, id_col: str,
                     text_col: str) -> DataFrame:
    """(id_col, gram_hash, h2): distinct double-hash pairs of each word
    n-gram - gram_hash is the UNSEEDED xxhash64 (the exact-join key the
    rest of the pipeline already consumes), h2 a seeded sibling. The
    r15 arrow-probe shape (VERDICT r14 #6): both hashes project
    MAP-SIDE from the gram text, so the gram-distinct exchange carries
    16-byte pairs instead of ~100-byte n-gram strings (~10x fewer
    exchange bytes at n=13, guide SS2.2/SS2.3); every Bloom position
    derives from the pair via Kirsch-Mitzenmacher double hashing
    (_bloom_mask), so the gram string never needs to survive a
    shuffle. Dedup collisions need BOTH 64-bit hashes to collide -
    strictly rarer than the single-hash collision the exact path
    already documents, and the oracle string-counts the registered
    rows, so a collision would surface as a driver mismatch."""
    toks = df.select(id_col, word_array(text_col).alias("_w"))
    idx = F.when(F.size("_w") >= n,
                 F.sequence(F.lit(1), F.size("_w") - (n - 1))
                 ).otherwise(F.array().cast("array<int>"))
    return (toks.select(
        id_col,
        F.explode(F.transform(
            idx, lambda i: F.array_join(F.slice("_w", i, n), " ")
        )).alias("gram"))
        .select(id_col,
                F.xxhash64("gram").alias("gram_hash"),
                F.xxhash64(F.lit(1), "gram").alias("h2"))
        .distinct())


def _bloom_mask(bm: np.ndarray, h1: np.ndarray, h2: np.ndarray,
                bits: int, k: int) -> np.ndarray:
    """All-k-positions-set mask over an unpacked bool bitmap, positions
    by double hashing: pos_i = (h1 + i*h2) mod bits in uint64
    wrap-around arithmetic (Kirsch & Mitzenmacher 2006: two hashes
    simulate k with the same asymptotic FP rate). The ONE position
    function both the build (bloom_bitmap) and the probe evaluate -
    identical inputs (the int64 xxhash64 pair reinterpreted as uint64)
    on both sides, so no false negative is possible by construction."""
    u1 = h1.astype(np.int64).view(np.uint64)
    u2 = h2.astype(np.int64).view(np.uint64)
    out = np.ones(u1.shape[0], dtype=bool)
    for i in range(k):
        pos = ((u1 + np.uint64(i) * u2) % np.uint64(bits)).astype(np.int64)
        out &= bm[pos]
    return out


def _jvm_expr_tools(spark):
    """(ExpressionUtils, jvm) for building catalyst expressions that
    have no public PySpark binding. Version-pinned internals (Spark
    4.x classic): used ONLY by the probe='jvm' bloom path below, and
    failures surface as a clear RuntimeError naming the supported
    fallback."""
    try:
        jvm = spark._jvm
        # resolve the class eagerly so a missing internal fails HERE
        # with the clear message, not mid-plan (py4j package wrappers
        # are lazy)
        jvm.java.lang.Class.forName(
            "org.apache.spark.sql.classic.ExpressionUtils")
        return jvm.org.apache.spark.sql.classic.ExpressionUtils, jvm
    except Exception as exc:  # pragma: no cover - version-drift gate
        raise RuntimeError(
            "probe='jvm' needs Spark's internal BloomFilter expressions "
            "(org.apache.spark.sql.classic.ExpressionUtils); this Spark "
            f"build does not expose them ({exc!r}). Use probe='arrow'."
        ) from exc


def bloom_filter_jvm(benchmark: DataFrame, n: int = DEFAULT_N,
                     text_col: str = "text", bits: int = BLOOM_BITS,
                     expected_items: int | None = None) -> bytes | None:
    """Serialized JVM bloom filter (org.apache.spark.util.sketch) of
    the benchmark's n-grams, built DISTRIBUTED by the same
    BloomFilterAggregate expression Spark's runtime-filter optimizer
    uses - no Python hop anywhere: each partition folds xxhash64(gram)
    longs into a local filter, partials merge up the aggregation tree,
    and the one collect is the `bits`/8-byte filter itself
    (control-plane sized). The function is registry-internal in Spark
    (not callable from SQL), so the expression is constructed through
    the catalyst API directly (VERDICT r6 #3 - the recorded JVM
    attempt). Returns None for a benchmark with zero n-grams (the
    aggregate's null - callers treat it as nothing-matches).

    `expected_items` sizes the optimal hash count k = m/n * ln2;
    default bits/10 mirrors the m ~ 10n rule the Arrow path documents."""
    from pyspark.sql.classic.column import Column as CColumn

    spark = benchmark.sparkSession
    eu, jvm = _jvm_expr_tools(spark)
    if expected_items is None:
        expected_items = max(1, bits // 10)
    bench = benchmark.select(
        F.monotonically_increasing_id().alias("_bid"), F.col(text_col))
    # hash-distinct, not string-distinct: the aggregate folds xxhash64
    # longs, so the gram strings never need to survive a shuffle (r14)
    grams = (_ngram_hashes(bench, n, "_bid", text_col)
             .select(F.col("gram_hash").alias("h")).distinct())
    agg = jvm.org.apache.spark.sql.catalyst.expressions.aggregate \
        .BloomFilterAggregate(
            eu.expression(F.col("h")._jc),
            eu.expression(F.lit(expected_items).cast("long")._jc),
            eu.expression(F.lit(bits).cast("long")._jc)
        ).toAggregateExpression()
    row = grams.agg(CColumn(eu.column(agg)).alias("bf")).collect()[0]
    return bytes(row["bf"]) if row["bf"] is not None else None


def jvm_might_contain(spark, bf: bytes, value_col):
    """Column: BloomFilterMightContain(<literal serialized filter>,
    value_col) - the pure-JVM probe, evaluated inline during the scan
    with zero Arrow transfer. `value_col` must be the SAME xxhash64
    the filter was built over."""
    from pyspark.sql.classic.column import Column as CColumn

    eu, jvm = _jvm_expr_tools(spark)
    mc = jvm.org.apache.spark.sql.catalyst.expressions \
        .BloomFilterMightContain(
            eu.expression(F.lit(bytearray(bf))._jc),
            eu.expression(value_col._jc))
    return CColumn(eu.column(mc))


def bloom_bitmap(benchmark: DataFrame, n: int = DEFAULT_N,
                 text_col: str = "text", bits: int = BLOOM_BITS,
                 k: int = BLOOM_K) -> np.ndarray:
    """Packed (np.packbits) Bloom bitmap of the benchmark's n-grams,
    built distributed and collected as DISTINCT double-hash pairs
    (|grams| x 16 bytes - MB-scale for any benchmark-sized input; the
    corpus side never collects anything). Positions derive driver-side
    through the SAME _bloom_mask double-hash arithmetic the probe
    kernel evaluates (r15) - one position function, zero false
    negatives by construction, and the benchmark gram strings stop
    surviving their distinct exchange too."""
    bench = benchmark.select(
        F.monotonically_increasing_id().alias("_bid"), F.col(text_col))
    pairs = (_gram_hash_pairs(bench, n, "_bid", text_col)
             .select("gram_hash", "h2").distinct().collect())
    bm = np.zeros(bits, dtype=bool)
    if pairs:
        h1 = np.fromiter((r["gram_hash"] for r in pairs), dtype=np.int64)
        h2 = np.fromiter((r["h2"] for r in pairs), dtype=np.int64)
        u1 = h1.view(np.uint64)
        u2 = h2.view(np.uint64)
        for i in range(k):
            bm[((u1 + np.uint64(i) * u2)
                % np.uint64(bits)).astype(np.int64)] = True
    return np.packbits(bm)


def bloom_contamination_scores(docs: DataFrame, benchmark: DataFrame,
                               n: int = DEFAULT_N, id_col: str = "doc_id",
                               text_col: str = "text",
                               bits: int = BLOOM_BITS,
                               k: int = BLOOM_K,
                               audit: bool = True,
                               bitmap: np.ndarray | bytes | None = None,
                               cache_handles: list | None = None,
                               probe: str = "arrow") -> DataFrame:
    """Two-phase decontamination, the 100 TB shape: phase 1 probes every
    corpus n-gram against a BROADCAST Bloom bitmap of the benchmark - an
    Arrow-batched numpy gather evaluated during the scan - and phase 2
    runs the exact hash equi-join ONLY on the bloom-surviving grams
    (benchmark-FP-rate of the corpus, not the corpus). Phase 1 still
    pays the corpus-local gram DISTINCT and the per-doc groupBy (both
    shuffles exist identically in the one-phase exact path); what the
    bitmap removes is the corpus-vs-benchmark JOIN shuffle for the
    ~99% clean gram majority, which at 100 TB is the dominant exchange.
    MEASURED caveat (round-6 curve, SCALE.md): on local[32] the exact
    JVM hash join beats this path at every scale up to 100x - even
    forced to shuffle - because the probe's Arrow round-trip costs
    more than a memory-speed shuffle saves; the bitmap's win condition
    is a NETWORK-bound gram exchange. Size `bits` ~20x the benchmark's
    distinct grams: the 512 KiB default saturates near ~700k grams.

    `audit=True` (the driver-row configuration) makes `bloom_no_miss` a
    REAL zero-false-negative check: per doc, the bloom-gated hit count
    is compared for EQUALITY against an exact join over ALL of the
    doc's grams, so a build/probe hash mismatch that silently dropped
    grams reports FALSE (ADVICE r4: the former `_bloom_ngrams >=
    hit_ngrams` form was true by construction). The audit costs the
    one-phase exact join it certifies, so it is computed as ONE pass:
    every gram left-joins the benchmark set and a single per-doc
    aggregation yields total grams, exact hits, and bloom-gated hits
    together - no consumer re-descends the tokenize/probe lineage.
    Run audit in tests/QA samples; production sets audit=False
    (bloom_no_miss = NULL) and relies on the guarantee the audit row
    proved. In that mode the probed relation feeds two consumers
    (per-doc counts + the survivor join), so it is persist()ed rather
    than recomputed (at cluster scale: DISK-backed or a staged table).
    Because the returned DataFrame is lazy, the cache cannot be
    released inside this function - the CALLER owns its lifetime: pass
    `cache_handles` (a list) and the persisted relation is appended to
    it; unpersist each handle once the output is materialized. Without
    the list, the cache lives until the session evicts it.

    `bitmap` lets a caller reuse a persisted benchmark bitmap artifact
    (the production shape: build once, decontaminate many corpora) -
    and lets tests inject a deliberately corrupted one to prove the
    audit reports FALSE on real gram loss. Its type follows `probe`:
    packed numpy bits for "arrow", the serialized JVM filter bytes for
    "jvm".

    `probe` picks the phase-1 membership kernel (VERDICT r6 #3):
      * "arrow" - the k-seeded-hash numpy bitmap gather in an
        Arrow-batched pandas_udf (the original path; its round-trip is
        what the r6 curve measured losing to the exact join locally);
      * "jvm" - Spark's own BloomFilterMightContain against a filter
        built distributed by BloomFilterAggregate (bloom_filter_jvm):
        the probe is a codegen-inlined JVM expression during the scan,
        zero Python/Arrow transfer - the variant that isolates whether
        the Arrow hop or the bitmap idea itself was losing the race.
        ANSWERED (r7 curve, SCALE_CURVE.json r7 decon_isolated): the
        Arrow hop was the entire gap - at 100x the JVM probe ties the
        exact join (85.3 vs 86.7 s) where the Arrow probe lost 2.2x
        (184.8 s). Locally the race is a dead heat because the join
        shuffle the bitmap avoids is memory-speed; the win condition
        remains a network-bound gram exchange, now with a measured
        ~zero-overhead probe kernel on this side of it.
    Verdicts are IDENTICAL across probes (no false negatives either
    way; FP-rate differences only change phase-2 work, never a count) -
    pinned in tests/test_decontaminate.py.

    Output: (id_col, doc_ngrams, hit_ngrams, contamination,
    bloom_no_miss)."""
    if probe not in ("arrow", "jvm"):
        raise ValueError(f"probe must be 'arrow' or 'jvm', got {probe!r}")
    spark = docs.sparkSession
    if probe == "jvm" and bitmap is None:
        # ADVICE r7: the jvm kernel rides version-pinned Spark internals
        # (classic.ExpressionUtils + BloomFilterAggregate). If a Spark
        # upgrade moves them, degrade to the public-API arrow kernel
        # instead of erroring - counts are probe-invariant (zero false
        # negatives both ways), only the probe's cost profile changes.
        # Skipped when the caller handed us a prebuilt JVM bitmap: that
        # bytes payload is not an arrow bitmap, and its existence proves
        # the internals resolved moments ago anyway.
        try:
            _jvm_expr_tools(spark)
        except RuntimeError:
            probe = "arrow"
    if probe == "jvm":
        # The JVM probe and the audit join both consume ONLY
        # xxhash64(gram) (the filter is built over those longs), so
        # hash per gram map-side and DISTINCT on (id, hash) - an
        # 8-byte key - instead of deduping the n-gram STRINGS (~100
        # bytes each) and hashing afterwards (r14, guide SS2.2
        # "shuffle narrower types"). Count parity with the
        # string-distinct is the same xxhash64-collision argument the
        # exact path (contamination_scores) already documents, and the
        # oracle string-counts both rows, so a collision would surface
        # as a driver mismatch. The arrow probe shuffles the 16-byte
        # double-hash pair since r15 (see _gram_hash_pairs).
        grams = _ngram_hashes(docs, n, id_col, text_col)
        bf = bitmap if bitmap is not None else \
            bloom_filter_jvm(benchmark, n, text_col, bits)
        is_hit = (F.lit(False) if bf is None
                  else jvm_might_contain(spark, bf, F.col("gram_hash")))
        probed = grams.withColumn("_bloom", is_hit)
    else:
        # r15 (VERDICT r14 #6): the probe consumes the 16-byte
        # double-hash pair - map-side hashed, hash-distinct - so no
        # gram STRING ever crosses an exchange on this path either;
        # the k positions derive in-kernel via _bloom_mask, the same
        # arithmetic the bitmap build ran.
        grams = _gram_hash_pairs(docs, n, id_col, text_col)
        if bitmap is None:
            bitmap = bloom_bitmap(benchmark, n, text_col, bits, k)
        bc = spark.sparkContext.broadcast(bitmap)
        memo: dict[int, np.ndarray] = {}

        @pandas_udf("boolean")
        def _bloom_all_set(h1: pd.Series, h2: pd.Series) -> pd.Series:
            bm = memo.get(0)
            if bm is None:
                bm = memo[0] = np.unpackbits(bc.value).view(bool)
            return pd.Series(_bloom_mask(
                bm, h1.to_numpy(dtype=np.int64),
                h2.to_numpy(dtype=np.int64), bits, k))

        probed = (grams
                  .withColumn("_bloom",
                              _bloom_all_set("gram_hash", "h2"))
                  .drop("h2"))
    bench = (_ngram_hashes(
        benchmark.select(F.monotonically_increasing_id().alias("_bid"),
                         F.col(text_col)), n, "_bid", text_col)
        .select("gram_hash").distinct())
    if audit:
        joined = probed.join(bench.withColumn("_bench", F.lit(True)),
                             "gram_hash", "left")
        per_doc = joined.groupBy(id_col).agg(
            F.count(F.lit(1)).alias("doc_ngrams"),
            F.sum(F.when(F.col("_bench") & F.col("_bloom"), 1).otherwise(0))
            .alias("hit_ngrams"),
            F.sum(F.when(F.col("_bench"), 1).otherwise(0))
            .alias("_exact_ngrams"))
        out = (docs.select(id_col)
               .join(per_doc, id_col, "left")
               .select(
                   id_col,
                   F.coalesce("doc_ngrams", F.lit(0)).alias("doc_ngrams"),
                   F.coalesce("hit_ngrams", F.lit(0)).alias("hit_ngrams"),
                   (F.coalesce("hit_ngrams", F.lit(0))
                    == F.coalesce("_exact_ngrams", F.lit(0)))
                   .alias("_no_miss")))
    else:
        probed = probed.persist()
        if cache_handles is not None:
            cache_handles.append(probed)
        per_doc = probed.groupBy(id_col).agg(
            F.count(F.lit(1)).alias("doc_ngrams"))
        hits = (probed.filter(F.col("_bloom"))
                .select(id_col, "gram_hash")
                .join(bench, "gram_hash")
                .groupBy(id_col).agg(F.count(F.lit(1)).alias("hit_ngrams")))
        out = (docs.select(id_col)
               .join(per_doc, id_col, "left")
               .join(hits, id_col, "left")
               .select(
                   id_col,
                   F.coalesce("doc_ngrams", F.lit(0)).alias("doc_ngrams"),
                   F.coalesce("hit_ngrams", F.lit(0)).alias("hit_ngrams"),
                   F.lit(None).cast("boolean").alias("_no_miss")))
    return out.select(
        id_col, "doc_ngrams", "hit_ngrams",
        F.when(F.col("doc_ngrams") > 0,
               F.col("hit_ngrams") / F.col("doc_ngrams"))
        .otherwise(F.lit(0.0)).cast("double").alias("contamination"),
        F.col("_no_miss").alias("bloom_no_miss"))


def contamination_scores(docs: DataFrame, benchmark: DataFrame,
                         n: int = DEFAULT_N, id_col: str = "doc_id",
                         text_col: str = "text") -> DataFrame:
    """Per-document contamination report against `benchmark` (any relation
    with `text_col`): (id_col, doc_ngrams, hit_ngrams, contamination)
    where contamination = hit_ngrams / doc_ngrams (0.0 for docs with no
    n-grams). One row per input document, including clean ones."""
    grams = _ngram_hashes(docs, n, id_col, text_col)
    bench = (_ngram_hashes(
        benchmark.select(F.monotonically_increasing_id().alias("_bid"),
                         F.col(text_col)), n, "_bid", text_col)
        .select("gram_hash").distinct())
    per_doc = grams.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("doc_ngrams"))
    hits = (grams.join(bench, "gram_hash")
            .groupBy(id_col).agg(F.count(F.lit(1)).alias("hit_ngrams")))
    return (docs.select(id_col)
            .join(per_doc, id_col, "left")
            .join(hits, id_col, "left")
            .select(
                id_col,
                F.coalesce("doc_ngrams", F.lit(0)).alias("doc_ngrams"),
                F.coalesce("hit_ngrams", F.lit(0)).alias("hit_ngrams"))
            .withColumn(
                "contamination",
                F.when(F.col("doc_ngrams") > 0,
                       F.col("hit_ngrams") / F.col("doc_ngrams"))
                .otherwise(F.lit(0.0)).cast("double")))


def decontaminate(docs: DataFrame, benchmark: DataFrame,
                  n: int = DEFAULT_N, max_hits: int = 0,
                  id_col: str = "doc_id",
                  text_col: str = "text") -> DataFrame:
    """Docs with at most `max_hits` overlapping n-grams (default: zero
    tolerance), all original columns preserved. Left-semi against the
    clean id set so the corpus relation itself is never widened."""
    clean = (contamination_scores(docs, benchmark, n, id_col, text_col)
             .filter(F.col("hit_ngrams") <= max_hits)
             .select(id_col))
    return docs.join(clean, id_col, "left_semi")

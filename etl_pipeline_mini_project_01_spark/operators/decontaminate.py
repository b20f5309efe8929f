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

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import word_array

#: GPT-3 appendix C / Gopher use 13-gram collisions; 8-13 is the common
#: range. Tunable per call.
DEFAULT_N = 13

#: Bloom prefilter size in bits. The JVM filter derives its hash count
#: from `expected_items` and `bits` (k = round(bits/expected_items *
#: ln2), Spark's BloomFilter.create rule; 7 at the default
#: expected_items = bits/10), so FP ~ (1-exp(-k*n/bits))^k for n
#: distinct benchmark grams: ~0.8% at n = bits/10, i.e. ~4e5 grams for
#: the default 2^22 bits (a 512 KiB serialized filter). Size `bits` ~10x
#: the benchmark's distinct grams - a 1e6-gram suite wants 2^24.
BLOOM_BITS = 1 << 22


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


def _jvm_expr_tools(spark):
    """(ExpressionUtils, jvm) for building catalyst expressions that
    have no public PySpark binding. Version-pinned internals (Spark
    4.x classic), used by the Bloom build and probe below; a Spark
    build that does not expose them fails here with a clear
    RuntimeError instead of an opaque py4j error mid-plan."""
    try:
        jvm = spark._jvm
        # resolve the class eagerly so a missing internal fails HERE
        # with the clear message, not mid-plan (py4j package wrappers
        # are lazy)
        jvm.java.lang.Class.forName(
            "org.apache.spark.sql.classic.ExpressionUtils")
        return jvm.org.apache.spark.sql.classic.ExpressionUtils, jvm
    except Exception as exc:
        raise RuntimeError(
            "the Bloom decontamination probe needs Spark's internal "
            "BloomFilter expressions "
            "(org.apache.spark.sql.classic.ExpressionUtils); this Spark "
            f"build does not expose them ({exc!r}). contamination_scores "
            "computes the same counts with public APIs only."
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
    the catalyst API directly. Returns None for a benchmark with zero
    n-grams (the aggregate's null - callers treat it as
    nothing-matches).

    `expected_items` sizes the optimal hash count k = m/n * ln2;
    default bits/10 is the m ~ 10n rule (see BLOOM_BITS)."""
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


def bloom_contamination_scores(docs: DataFrame, benchmark: DataFrame,
                               n: int = DEFAULT_N, id_col: str = "doc_id",
                               text_col: str = "text",
                               bits: int = BLOOM_BITS,
                               audit: bool = True,
                               bitmap: bytes | None = None,
                               cache_handles: list | None = None
                               ) -> DataFrame:
    """Two-phase decontamination, the 100 TB shape: phase 1 probes every
    corpus n-gram against a Bloom filter of the benchmark, and phase 2
    runs the exact hash equi-join ONLY on the bloom-surviving grams
    (benchmark-FP-rate of the corpus, not the corpus). Phase 1 still
    pays the corpus-local gram DISTINCT and the per-doc groupBy (both
    shuffles exist identically in the one-phase exact path); what the
    filter removes is the corpus-vs-benchmark JOIN shuffle for the
    ~99% clean gram majority, which at 100 TB is the dominant exchange.

    The filter is built distributed by Spark's own BloomFilterAggregate
    (bloom_filter_jvm) and probed by BloomFilterMightContain
    (jvm_might_contain): a codegen-inlined JVM expression during the
    scan, with no Python round trip per batch. MEASURED (r7 curve,
    SCALE_CURVE.json decon_isolated): at 100x on local[32] the probe
    ties the exact join (85.3 vs 86.7 s) - locally the join shuffle it
    avoids is memory-speed, so the win condition is a network-bound
    gram exchange. A Spark build without these internals raises
    _jvm_expr_tools' RuntimeError; contamination_scores is the
    public-API path.

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

    `bitmap` lets a caller reuse serialized filter bytes from
    bloom_filter_jvm (the production shape: build once, decontaminate
    many corpora) - and lets tests inject a deliberately dead filter to
    prove the audit reports FALSE on real gram loss.

    Output: (id_col, doc_ngrams, hit_ngrams, contamination,
    bloom_no_miss)."""
    # The probe and the audit join both consume ONLY xxhash64(gram)
    # (the filter is built over those longs), so grams are hashed
    # map-side and DISTINCT on the 8-byte (id, hash) key, never on the
    # ~100-byte n-gram strings (guide SS2.2 "shuffle narrower types").
    # Count parity with a string-distinct is the xxhash64-collision
    # argument contamination_scores documents, and the oracle
    # string-counts the registered row, so a collision would surface as
    # a driver mismatch.
    grams = _ngram_hashes(docs, n, id_col, text_col)
    bf = bitmap if bitmap is not None else \
        bloom_filter_jvm(benchmark, n, text_col, bits)
    is_hit = (F.lit(False) if bf is None
              else jvm_might_contain(docs.sparkSession, bf,
                                     F.col("gram_hash")))
    probed = grams.withColumn("_bloom", is_hit)
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

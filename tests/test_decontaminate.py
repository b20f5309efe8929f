"""Decontamination contract: planted benchmark overlap is detected
exactly (the flagged set IS the planted set), clean docs survive with
all columns, short docs are vacuously clean, and the report covers
every input row."""

from __future__ import annotations

from pyspark.sql import functions as F

from conftest import SF_DIR

from etl_pipeline_mini_project_01_spark.catalog import load_table
from etl_pipeline_mini_project_01_spark.operators.decontaminate import (
    contamination_scores,
    decontaminate,
)

N = 5  # small n so the sf0.001 fixture docs carry plenty of n-grams


def _fixture(spark):
    """(docs, benchmark, planted): benchmark built from verbatim windows
    of every 7th fixture doc - those docs are contaminated by
    construction, everything else should come back clean."""
    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    toks = docs.select(
        "doc_id", F.filter(F.split(F.lower("text"), r"\s+"),
                           lambda t: t != "").alias("w"))
    planted_rows = (toks.filter((F.crc32(F.col("doc_id").cast("string")) % 7
                                 == 0) & (F.size("w") >= N))
                    .select("doc_id",
                            F.array_join(F.slice("w", 1, N + 2), " ")
                            .alias("text")))
    planted = {r.doc_id for r in planted_rows.select("doc_id").collect()}
    benchmark = planted_rows.select("text")
    return docs, benchmark, planted


def _py_ngrams(text: str, n: int) -> set[str]:
    w = [t for t in text.lower().split() if t]
    return {" ".join(w[i:i + n]) for i in range(len(w) - n + 1)}


def test_planted_contamination_matches_python_ground_truth(spark):
    """Exact oracle: recompute per-doc overlap counts in pure Python.
    The corpus carries planted near-duplicates, so benchmark windows
    legitimately hit sibling docs too - ground truth, not the planted
    id set, is the comparison."""
    docs, benchmark, planted = _fixture(spark)
    assert len(planted) >= 3, "fixture should plant several docs"
    bench_grams = set()
    for r in benchmark.collect():
        bench_grams |= _py_ngrams(r.text, N)
    truth = {}
    for r in docs.collect():
        grams = _py_ngrams(r.text, N)
        truth[r.doc_id] = (len(grams), len(grams & bench_grams))
    scores = contamination_scores(docs, benchmark, n=N).collect()
    got = {r.doc_id: (r.doc_ngrams, r.hit_ngrams) for r in scores}
    assert got == truth
    flagged = {d for d, (_, h) in got.items() if h > 0}
    assert planted <= flagged
    for r in scores:
        if r.hit_ngrams:
            assert 0 < r.contamination <= 1.0


def test_report_covers_every_doc(spark):
    docs, benchmark, _ = _fixture(spark)
    assert contamination_scores(docs, benchmark, n=N).count() == docs.count()


def test_decontaminate_removes_flagged_keeps_rest(spark):
    docs, benchmark, planted = _fixture(spark)
    flagged = {r.doc_id
               for r in contamination_scores(docs, benchmark, n=N).collect()
               if r.hit_ngrams > 0}
    assert planted <= flagged
    kept = decontaminate(docs, benchmark, n=N)
    assert kept.columns == docs.columns
    kept_ids = {r.doc_id for r in kept.select("doc_id").collect()}
    all_ids = {r.doc_id for r in docs.select("doc_id").collect()}
    assert kept_ids == all_ids - flagged


def test_short_docs_vacuously_clean(spark):
    docs = spark.createDataFrame(
        [("s1", "too short"), ("s2", "")],
        "doc_id string, text string")
    benchmark = spark.createDataFrame([("too short indeed it is",)],
                                      ["text"])
    rows = {r.doc_id: r
            for r in contamination_scores(docs, benchmark, n=N).collect()}
    assert rows["s1"].doc_ngrams == 0 and rows["s1"].hit_ngrams == 0
    assert rows["s1"].contamination == 0.0
    assert rows["s2"].hit_ngrams == 0
    assert decontaminate(docs, benchmark, n=N).count() == 2


def test_no_forced_broadcast_and_no_cartesian(spark):
    docs, benchmark, _ = _fixture(spark)
    plan = (contamination_scores(docs, benchmark, n=N)
            ._jdf.queryExecution().executedPlan().toString())
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_bloom_two_phase_equals_one_phase_exact(spark):
    """The Bloom prefilter must lose nothing: per-doc (doc_ngrams,
    hit_ngrams) out of the two-phase pipeline equal the one-phase exact
    computation, and every per-doc superset verdict holds - the
    zero-false-negative contract that makes the prefilter safe."""
    from etl_pipeline_mini_project_01_spark.operators.decontaminate import (
        bloom_contamination_scores,
    )
    docs, benchmark, planted = _fixture(spark)
    exact = {r.doc_id: (r.doc_ngrams, r.hit_ngrams)
             for r in contamination_scores(docs, benchmark, n=N).collect()}
    rows = bloom_contamination_scores(docs, benchmark, n=N).collect()
    got = {r.doc_id: (r.doc_ngrams, r.hit_ngrams) for r in rows}
    assert got == exact
    assert all(r.bloom_no_miss for r in rows)
    flagged = {d for d, (_, h) in got.items() if h > 0}
    assert planted <= flagged


def test_bloom_audit_off_returns_null_verdict(spark):
    from etl_pipeline_mini_project_01_spark.operators.decontaminate import (
        bloom_contamination_scores,
    )
    docs, benchmark, _ = _fixture(spark)
    exact = {r.doc_id: (r.doc_ngrams, r.hit_ngrams)
             for r in contamination_scores(docs, benchmark, n=N).collect()}
    handles: list = []
    rows = bloom_contamination_scores(docs, benchmark, n=N, audit=False,
                                      cache_handles=handles).collect()
    assert {r.doc_id: (r.doc_ngrams, r.hit_ngrams) for r in rows} == exact
    assert all(r.bloom_no_miss is None for r in rows)
    # ADVICE r5: audit=False persist()s the probed relation; the caller
    # owns the cache lifetime via cache_handles and must release it.
    assert len(handles) == 1 and handles[0].is_cached
    handles[0].unpersist()
    assert not handles[0].is_cached


def test_bloom_prefilter_actually_prunes(spark):
    """On a corpus where most grams are clean, the bloom stage must pass
    only a small fraction into the exact join: probe the gram relation
    directly with the JVM filter and bound the survivor share."""
    from etl_pipeline_mini_project_01_spark.operators.decontaminate import (
        _ngram_hashes,
        bloom_filter_jvm,
        jvm_might_contain,
    )

    docs, benchmark, _ = _fixture(spark)
    bf = bloom_filter_jvm(benchmark, n=N)
    jvm = spark._jvm
    fpp = jvm.org.apache.spark.util.sketch.BloomFilter.readFrom(
        jvm.java.io.ByteArrayInputStream(bytearray(bf))).expectedFpp()
    survivor_share = (_ngram_hashes(docs, N, "doc_id", "text")
                      .select(F.avg(jvm_might_contain(
                          spark, bf, F.col("gram_hash")).cast("double")))
                      .first()[0])
    # planted contamination is ~1/7 of docs; FPs add ~expectedFpp on top
    # of the true-hit share - with the fixture's tiny benchmark the
    # filter is nearly empty, so the FP tax is negligible.
    assert fpp < 0.01
    assert survivor_share < 0.5, (fpp, survivor_share)


def test_bloom_jvm_audit_catches_lossy_filter(spark):
    """bloom_no_miss must be a REAL check (ADVICE r4): a dead filter
    (structurally valid, zero bits set - every gram wrongly 'clean')
    must flip bloom_no_miss to FALSE exactly for docs with nonzero
    exact hits, instead of reporting TRUE by construction."""
    from etl_pipeline_mini_project_01_spark.operators.decontaminate import (
        BLOOM_BITS,
        bloom_contamination_scores,
    )
    docs, benchmark, _ = _fixture(spark)
    exact = {r.doc_id: r.hit_ngrams
             for r in contamination_scores(docs, benchmark, n=N).collect()}
    jvm = spark._jvm
    empty = jvm.org.apache.spark.util.sketch.BloomFilter.create(
        BLOOM_BITS // 10, BLOOM_BITS)
    baos = jvm.java.io.ByteArrayOutputStream()
    empty.writeTo(baos)
    dead = bytes(baos.toByteArray())
    rows = bloom_contamination_scores(docs, benchmark, n=N,
                                      bitmap=dead).collect()
    assert any(h > 0 for h in exact.values())
    for r in rows:
        assert r.hit_ngrams == 0
        assert r.bloom_no_miss == (exact[r.doc_id] == 0), r


def test_bloom_jvm_filter_empty_benchmark(spark):
    """Zero-gram benchmark: bloom_filter_jvm returns None and the probe
    treats it as nothing-matches (all docs clean, audit TRUE)."""
    from etl_pipeline_mini_project_01_spark.operators.decontaminate import (
        bloom_contamination_scores,
        bloom_filter_jvm,
    )
    docs, _, _ = _fixture(spark)
    empty = spark.createDataFrame([("tiny",)], "text string")  # < N words
    assert bloom_filter_jvm(empty, n=N) is None
    rows = bloom_contamination_scores(docs, empty, n=N).collect()
    assert rows and all(r.hit_ngrams == 0 and r.bloom_no_miss
                        for r in rows)


def test_bloom_raises_clearly_on_internal_drift(spark, monkeypatch):
    """The probe rides version-pinned Spark internals
    (classic.ExpressionUtils). When the class stops resolving - a Spark
    upgrade that moves it - the call must fail up front with the
    RuntimeError that names it, not with an opaque py4j error mid-plan
    and not by silently running some other kernel."""
    from types import SimpleNamespace

    import pytest

    from etl_pipeline_mini_project_01_spark.operators.decontaminate import (
        bloom_contamination_scores,
    )

    docs, benchmark, _ = _fixture(spark)
    session = docs.sparkSession
    real = session._jvm

    class DriftedJvm:
        """The session's JVM view, with every class lookup missing."""
        java = SimpleNamespace(lang=SimpleNamespace(Class=SimpleNamespace(
            forName=lambda name: real.java.lang.Class.forName(
                name + "Moved"))))

        def __getattr__(self, name):
            return getattr(real, name)

    monkeypatch.setattr(session, "_jvm", DriftedJvm())
    with pytest.raises(RuntimeError, match="ExpressionUtils") as err:
        bloom_contamination_scores(docs, benchmark, n=N)
    cause = err.value.__cause__
    assert (cause.java_exception.getClass().getName()
            == "java.lang.ClassNotFoundException"), cause

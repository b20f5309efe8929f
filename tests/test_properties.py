"""Property-based invariants (hypothesis) for the stateful operators:
whatever snapshots arrive, SCD2 keeps exactly one current row per key and
full history; upserts are idempotent."""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from conftest import SF_DIR

from etl_pipeline_mini_project_01_spark.operators.scd import (
    idempotent_append,
    scd2_initial,
    scd2_merge,
    upsert_latest,
)

KEYS = st.integers(min_value=0, max_value=6)
VALS = st.integers(min_value=0, max_value=3)

snapshot = st.dictionaries(KEYS, VALS, min_size=1, max_size=7)

_SETTINGS = dict(max_examples=8, deadline=None,
                 suppress_health_check=[HealthCheck.function_scoped_fixture])


def _df(spark, d: dict[int, int]):
    return spark.createDataFrame(
        [(k, f"v{v}") for k, v in sorted(d.items())], "k int, attr string")


@given(s1=snapshot, s2=snapshot)
@settings(**_SETTINGS)
def test_scd2_one_current_row_per_key(spark, s1, s2):
    dim = scd2_initial(_df(spark, s1), "2024-01-01 00:00:00")
    merged = scd2_merge(dim, _df(spark, s2), "k", ["attr"],
                        "2024-01-15 00:00:00")
    current_counts = (merged.filter("is_current").groupBy("k").count()
                      .filter(F.col("count") != 1).count())
    assert current_counts == 0
    # every key ever seen still has at least one row (history never lost)
    seen = set(s1) | set(s2)
    assert {r.k for r in merged.select("k").distinct().collect()} == seen
    # changed keys carry exactly 2 rows: expired + new version
    changed = {k for k in set(s1) & set(s2) if s1[k] != s2[k]}
    two_rows = {r.k: r.n for r in
                merged.groupBy("k").agg(F.count(F.lit(1)).alias("n")).collect()}
    for k in changed:
        assert two_rows[k] == 2


@given(s1=snapshot, s2=snapshot)
@settings(**_SETTINGS)
def test_idempotent_append_is_idempotent(spark, s1, s2):
    a, b = _df(spark, s1), _df(spark, s2)
    once = idempotent_append(a, b, "k")
    twice = idempotent_append(once, b, "k")
    assert sorted(map(tuple, once.collect())) == sorted(map(tuple, twice.collect()))
    # first-wins: keys of a keep a's attr
    got = {r.k: r.attr for r in once.collect()}
    for k, v in s1.items():
        assert got[k] == f"v{v}"


@given(s1=snapshot, s2=snapshot)
@settings(**_SETTINGS)
def test_upsert_latest_is_idempotent_and_latest_wins(spark, s1, s2):
    a = _df(spark, s1).withColumn("ver", F.lit(1))
    b = _df(spark, s2).withColumn("ver", F.lit(2))
    once = upsert_latest(a, b, "k", ["ver"])
    twice = upsert_latest(once, b, "k", ["ver"])
    assert sorted(map(tuple, once.collect())) == sorted(map(tuple, twice.collect()))
    got = {r.k: r.attr for r in once.collect()}
    for k, v in s2.items():
        assert got[k] == f"v{v}"  # newest version wins


# ---------------------------------------------------------------------------
# Bloom-prefilter decontamination: no-loss property on arbitrary corpora
# ---------------------------------------------------------------------------

_WORDS = st.sampled_from(["alpha", "beta", "gamma", "delta", "eps",
                          "zeta", "eta", "theta"])
_DOC = st.lists(_WORDS, min_size=0, max_size=12).map(" ".join)
_CORPUS = st.lists(_DOC, min_size=1, max_size=8)
_BENCH = st.lists(_DOC, min_size=1, max_size=3)


@pytest.mark.parametrize("audit", [True, False])
@given(corpus=_CORPUS, bench=_BENCH)
@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_bloom_two_phase_never_loses_hits(spark, audit, corpus, bench):
    """For ANY corpus/benchmark over a tiny vocabulary (engineered for
    heavy n-gram collisions), the two-phase bloom pipeline's per-doc
    exact hit counts equal the one-phase computation - zero false
    negatives regardless of content - in both audit modes: audit=False
    is the survivor-only join production runs."""
    from etl_pipeline_mini_project_01_spark.operators.decontaminate import (
        bloom_contamination_scores,
        contamination_scores,
    )

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(corpus)], "doc_id long, text string")
    benchmark = spark.createDataFrame([(t,) for t in bench], ["text"])
    n = 3
    exact = {r.doc_id: (r.doc_ngrams, r.hit_ngrams)
             for r in contamination_scores(docs, benchmark, n=n).collect()}
    handles: list = []
    rows = bloom_contamination_scores(docs, benchmark, n=n, audit=audit,
                                      cache_handles=handles).collect()
    for h in handles:
        h.unpersist()
    got = {r.doc_id: (r.doc_ngrams, r.hit_ngrams) for r in rows}
    assert got == exact
    assert all(r.bloom_no_miss is (True if audit else None) for r in rows)


def test_fixtures_contain_no_vertical_tab(spark):
    """Latent cross-engine tokenizer divergence, pinned as a fixture
    invariant: Java regex \\s includes U+000B (vertical tab), DuckDB's
    RE2 \\s does not - a document containing VT would split differently
    in the engine vs every tokenizer oracle (token counts, shingles,
    MinHash, TF-IDF, chunking). No fixture text carries VT today; this
    guard makes a future testdata generation that does fail HERE with
    a named cause instead of as ~20 opaque hash mismatches. (The
    unification - an explicit [ \\t\\n\\x0B\\f\\r] class on both sides -
    is scheduled with the r11 text-row rotation.)"""
    from etl_pipeline_mini_project_01_spark.catalog import load_table

    docs = load_table(spark, SF_DIR, "documents")
    n = docs.filter(F.col("text").contains("\x0b")).count()
    assert n == 0


def test_steps_frame_handles_parameterized_types(spark):
    """steps_frame's schema split must respect commas inside
    parameterized/nested types."""
    from etl_pipeline_mini_project_01_spark.catalog import steps_frame

    from decimal import Decimal

    df = steps_frame(spark, [("a", Decimal("1.50"))],
                     "step string, value decimal(10,2)")
    assert df.columns == ["step", "value"]
    assert df.dtypes[1][1] == "decimal(10,2)"


def test_scratch_dir_one_root_sweeps_aged_siblings(tmp_path, monkeypatch):
    """scratch_dir: the first call makes ONE per-process root under
    tempfile.gettempdir() with one owner marker, and sweeps aged
    spark_graft_* siblings (crashed runs, older builds' roots included)
    once; fresh siblings (possibly a live concurrent process) survive.
    Leaves are keyed on (name, input dir) under that one root."""
    import os
    import tempfile
    import time

    from etl_pipeline_mini_project_01_spark import session

    old = tmp_path / "spark_graft_ivf_deadbeef"
    old.mkdir()
    os.utime(old, (time.time() - 10 * 3600, time.time() - 10 * 3600))
    fresh = tmp_path / "spark_graft_live"
    fresh.mkdir()

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    monkeypatch.setattr(session, "_SCRATCH_ROOT", None)
    leaf = session.scratch_dir("day2", "/data/sf1")
    root = os.path.dirname(leaf)
    assert os.path.dirname(root) == str(tmp_path)
    assert os.listdir(root) == [".owner_pid"]
    assert not old.exists()                  # aged: swept
    assert fresh.exists()                    # fresh: spared
    assert session.scratch_dir("day2", "/data/sf1") == leaf
    assert session.scratch_dir("day2", "/data/sf2") != leaf
    assert os.path.dirname(session.scratch_dir("ivf", "/data/sf1")) == root


def test_scratch_root_removed_at_process_exit(tmp_path):
    """The per-process root (and every leaf under it) is gone once the
    process that made it exits."""
    import os
    import subprocess
    import sys

    code = ("import os\n"
            "from etl_pipeline_mini_project_01_spark import session\n"
            "leaf = session.scratch_dir('x', '/d')\n"
            "os.makedirs(leaf)\n"
            "print(leaf)\n")
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run([sys.executable, "-c", code], cwd=repo,
                         env={**os.environ, "TMPDIR": str(tmp_path)},
                         capture_output=True, text=True, check=True)
    leaf = out.stdout.strip()
    assert os.path.dirname(os.path.dirname(leaf)) == str(tmp_path)
    assert not os.path.exists(leaf)
    assert not os.path.exists(os.path.dirname(leaf))


def test_session_is_the_only_scratch_seam():
    """No package file but session.py names a scratch root or keeps its
    own run tag: every scratch path comes from session.scratch_dir."""
    import pathlib

    pkg = pathlib.Path(__file__).resolve().parents[1] / \
        "etl_pipeline_mini_project_01_spark"
    banned = (b"/tmp/spark_graft", b"register_scratch", b"_run_tag",
              b"_RUN_TAG")
    files = [p for p in sorted(pkg.rglob("*")) if p.is_file()
             and p.name != "session.py" and "__pycache__" not in p.parts]
    hits = [f"{path.relative_to(pkg)}: {word.decode()}"
            for path in files for word in banned if word in path.read_bytes()]
    assert not hits, hits


def test_owner_alive_pid_reuse_eperm_and_legacy_markers(tmp_path):
    """_owner_alive's incarnation semantics (VERDICT r11 #7 + ADVICE
    r11): a live (pid, start) pair is alive; the same pid with a
    DIFFERENT recorded start is a recycled pid -> dead; an EPERM probe
    (process exists, another user) is ALIVE, not dead; a dead pid,
    a missing marker, and garbage are dead; a pre-r12 bare-pid marker
    still works pid-only."""
    import json
    import os
    import subprocess

    from etl_pipeline_mini_project_01_spark import session

    def mk(name, content):
        d = tmp_path / name
        d.mkdir()
        (d / ".owner_pid").write_text(content)
        return str(d)

    me = os.getpid()
    start = session._proc_start_ticks(me)
    assert start is not None                 # Linux container
    assert session._owner_alive(
        mk("live", json.dumps({"pid": me, "start": start})))
    assert not session._owner_alive(
        mk("recycled", json.dumps({"pid": me, "start": start - 7})))
    assert session._owner_alive(mk("legacy", str(me)))   # bare pid
    # a genuinely dead pid: spawn-and-reap gives one that was just live
    proc = subprocess.Popen(["true"])
    proc.wait()
    assert not session._owner_alive(
        mk("dead", json.dumps({"pid": proc.pid, "start": 1})))
    nomark = tmp_path / "bare"
    nomark.mkdir()
    assert not session._owner_alive(str(nomark))
    assert not session._owner_alive(mk("garbage", "not-a-pid"))
    # EPERM: kill raises PermissionError -> the process EXISTS -> alive
    real_kill = os.kill

    def eperm_kill(pid, sig):
        raise PermissionError("operation not permitted")

    os.kill = eperm_kill
    try:
        assert session._owner_alive(
            mk("other_user", json.dumps({"pid": me, "start": start})))
    finally:
        os.kill = real_kill


@given(s1=snapshot, s2=snapshot)
@settings(**_SETTINGS)
def test_upsert_latest_matches_reference_model(spark, s1, s2):
    """r11 tie-break pin as a property: upsert_latest over any pair of
    snapshots (version = the value itself, so equal-version ties are
    COMMON here) equals the Python reference model 'incoming wins ties,
    otherwise the larger version wins' - deterministically, whatever
    the partitioning happened to be."""
    existing = spark.createDataFrame(
        [(k, f"e{v}", v) for k, v in sorted(s1.items())],
        "k int, src string, ver int")
    incoming = spark.createDataFrame(
        [(k, f"i{v}", v) for k, v in sorted(s2.items())],
        "k int, src string, ver int")
    got = {(r.k, r.src, r.ver) for r in
           upsert_latest(existing, incoming, "k", ["ver"]).collect()}
    want = {}
    for k, v in s1.items():
        want[k] = (k, f"e{v}", v)
    for k, v in s2.items():
        if k not in want or v >= want[k][2]:     # incoming wins ties
            want[k] = (k, f"i{v}", v)
    assert got == set(want.values())


@given(s2=snapshot)
@settings(**_SETTINGS)
def test_idempotent_append_null_keys_all_append(spark, s2):
    """NULL keys never conflict (Postgres semantics, r11): however many
    NULL-key rows arrive, all of them append, while keyed rows still
    dedup to one-per-unseen-key."""
    existing = spark.createDataFrame([(1, "a")], "k int, v string")
    n_nulls = 1 + len(s2) % 3
    rows = [(None, f"n{i}") for i in range(n_nulls)]
    rows += [(k, f"v{v}") for k, v in sorted(s2.items())]
    incoming = spark.createDataFrame(rows, "k int, v string")
    out = idempotent_append(existing, incoming, "k").collect()
    assert sum(1 for r in out if r.k is None) == n_nulls
    keyed = [r for r in out if r.k is not None]
    assert len(keyed) == len({r.k for r in keyed})   # unique non-null keys
    assert {r.k for r in keyed} == {1} | set(s2)

"""Property-based tests (hypothesis) + randomized batched invariants.

The reference planned property tests for aggregations and fuzzing
(tests/README.md:5-16, SURVEY §5 level 4) but never wrote them. Pure-Python
components (lexer, compat translator) get per-example hypothesis runs; Spark
invariants run as ONE batched job over a seeded random frame (per-example
Spark jobs would be prohibitively slow).
"""

from __future__ import annotations

import random

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from sydradb_spark.compat.translator import CompatStats, translate
from sydradb_spark.functions.fill import fill_buckets
from sydradb_spark.functions.timeseries import time_bucket
from sydradb_spark.sydraql.lexer import tokenize
from sydradb_spark.sydraql.parser import parse


# --- lexer properties (pure python, many examples) ---------------------------
@given(
    h=st.integers(min_value=0, max_value=100),
    m=st.integers(min_value=0, max_value=59),
    s=st.integers(min_value=0, max_value=59),
)
def test_duration_literal_seconds(h, m, s):
    text = ""
    if h:
        text += f"{h}h"
    if m:
        text += f"{m}m"
    if s or not text:
        text += f"{s}s"
    toks = tokenize(f"select time_bucket({text}, time) from x where time > 0")
    dur = next(t for t in toks if t.kind.name == "DURATION")
    assert dur.value == h * 3600 + m * 60 + s


@given(
    cols=st.lists(
        st.text(alphabet="abcdefgh", min_size=1, max_size=6), min_size=1, max_size=4
    ),
    table=st.text(alphabet="xyz", min_size=1, max_size=5),
)
def test_compat_select_roundtrip(cols, table):
    """Any SELECT cols FROM t the translator accepts must itself be a string
    our own parser tokenizes without error (closed-loop sanity)."""
    sql = f"SELECT {', '.join(cols)} FROM {table}"
    out = translate(sql, CompatStats())
    assert out.ok
    tokenize(out.sydraql)  # must not raise


@given(st.integers(min_value=0, max_value=2**31), st.integers(min_value=1, max_value=10**6))
@settings(max_examples=50)
def test_parser_roundtrips_time_bounds(ts, span):
    stmt = parse(f"select value from a.b where time >= {ts} and time < {ts + span}")
    from sydradb_spark.sydraql.translator import time_bounds_from_where

    assert time_bounds_from_where(stmt.where) == (ts, ts + span)


# --- batched Spark invariants (seeded random, single job each) ---------------
@pytest.fixture(scope="module")
def rnd_rows(spark):
    rng = random.Random(42)
    rows = [
        (
            rng.randrange(0, 2**40),  # ts
            rng.choice([60, 300, 3600, 86400]),  # step
            rng.choice([0, 900, 1800]),  # origin
        )
        for _ in range(500)
    ]
    return spark.createDataFrame(rows, "ts long, step long, origin long").cache()


def test_time_bucket_half_open_property(rnd_rows):
    df = rnd_rows.withColumn(
        "b", time_bucket(F.col("step"), F.col("ts"), F.col("origin"))
    )
    violations = df.where(
        ~(
            (F.col("b") <= F.col("ts"))
            & (F.col("ts") < F.col("b") + F.col("step"))
            & ((F.col("b") - F.col("origin")) % F.col("step") == 0)
        )
    )
    assert violations.count() == 0


def test_fill_previous_no_gaps_property(spark):
    """After fill(previous), the only nulls are buckets before the group's
    first value — and the spine is exactly dense min..max per group."""
    rng = random.Random(7)
    rows = []
    for g in range(8):
        for b in sorted(rng.sample(range(100), rng.randint(2, 20))):
            rows.append((f"g{g}", b * 60, float(rng.randint(0, 100))))
    agg = spark.createDataFrame(rows, "k string, bucket long, v double")
    filled = fill_buckets(
        agg, bucket_col="bucket", step_s=60, keys=["k"], value_cols=["v"],
        strategy="previous",
    ).cache()
    # dense spine
    per_group = filled.groupBy("k").agg(
        F.count("*").alias("n"),
        ((F.max("bucket") - F.min("bucket")) / 60 + 1).alias("expected"),
    )
    assert per_group.where(F.col("n") != F.col("expected")).count() == 0
    # previous-fill never yields a null at/after the first bucket (the first
    # spine bucket is the group's min present bucket, which has a value)
    assert filled.where(F.col("v").isNull()).count() == 0


def test_fill_linear_bounded_property(spark):
    """Linear interpolation stays within [min(prev,next), max(prev,next)] —
    checked by asserting global bounds hold for all filled cells."""
    rng = random.Random(13)
    rows = [
        ("k", b * 60, float(rng.randint(10, 20)))
        for b in sorted(rng.sample(range(200), 25))
    ]
    agg = spark.createDataFrame(rows, "k string, bucket long, v double")
    filled = fill_buckets(
        agg, bucket_col="bucket", step_s=60, keys=["k"], value_cols=["v"],
        strategy="linear",
    )
    assert filled.where((F.col("v") < 10) | (F.col("v") > 20)).count() == 0


def test_sort_matches_python(spark):
    from sydradb_spark.model import with_identity
    from sydradb_spark.sydraql.engine import SydraQLEngine

    rng = random.Random(99)
    rows = [
        ("p.q", {}, rng.randrange(0, 10_000), float(rng.randint(-50, 50)))
        for _ in range(300)
    ]
    pts = with_identity(
        spark.createDataFrame(rows, "series string, tags map<string,string>, ts long, value double")
    )
    eng = SydraQLEngine(spark, pts)
    got = [
        (r["value"], r["time"])
        for r in eng.query(
            "select value, time from p.q where time >= 0 and time < 10000 "
            "order by value desc, time limit 50"
        ).df.collect()
    ]
    expected = sorted(((v, t) for _, _, t, v in rows), key=lambda x: (-x[0], x[1]))[:50]
    assert got == expected


@given(st.text(max_size=80))
@settings(max_examples=300)
def test_parser_never_crashes(text):
    """Fuzz: arbitrary input either parses or raises a SydraQLError subclass —
    never an unhandled exception (reference plans fuzzing, tests/README.md)."""
    from sydradb_spark.errors import SydraQLError

    try:
        parse(text)
    except SydraQLError:
        pass


@given(
    st.lists(
        st.sampled_from(
            ["select", "value", "time", "from", "a.b", "where", ">=", "<", "1h",
             "and", "avg", "(", ")", ",", "group", "by", "order", "limit", "5",
             "time_bucket", "fill", "previous", "'s'", "=~", "%", "*", "1.5"]
        ),
        max_size=14,
    )
)
@settings(max_examples=300)
def test_parser_token_soup(parts):
    from sydradb_spark.errors import SydraQLError

    try:
        parse(" ".join(parts))
    except SydraQLError:
        pass


def test_compaction_idempotent(spark, points):
    from sydradb_spark.storage import compact_points

    once = compact_points(points).select("series_id", "ts", "value")
    twice = compact_points(compact_points(points)).select("series_id", "ts", "value")
    assert once.count() == twice.count()
    assert once.exceptAll(twice).count() == 0


def test_fill_spine_guard_raises(spark, monkeypatch):
    """The MAX_SPINE_BUCKETS guard must actually fire (it is folded into the
    spine's __mn so Catalyst cannot prune it away)."""
    import pytest as _pytest

    from sydradb_spark.functions import fill as fill_mod

    monkeypatch.setattr(fill_mod, "MAX_SPINE_BUCKETS", 100)
    agg = spark.createDataFrame(
        [(0, 1.0), (100_000, 2.0)], "bucket long, v double"
    )
    dense = fill_mod.fill_buckets(agg, "bucket", 1, [], ["v"], "previous")
    with _pytest.raises(Exception, match="FILL spine exceeds"):
        dense.collect()


# --- curation operator properties --------------------------------------------
@settings(max_examples=8, deadline=None)
@given(
    st.lists(st.integers(min_value=0, max_value=40), min_size=1, max_size=30),
    st.integers(min_value=1, max_value=50),
)
def test_pack_sequences_never_overfills(spark, token_counts, budget):
    from sydradb_spark.pipeline.curation import pack_sequences

    rows = [("g", i, n) for i, n in enumerate(token_counts)]
    df = spark.createDataFrame(rows, "source string, doc_id long, n long")
    out = pack_sequences(df, budget=budget, tokens_col="n").collect()
    assert len(out) == len(token_counts)  # every doc assigned exactly once
    fills: dict = {}
    for r in out:
        fills.setdefault(r["bin_id"], []).append((r["doc_id"], r["n_tokens"]))
    for bin_id, members in fills.items():
        total = sum(n for _, n in members)
        # a bin only exceeds budget when a single oversized doc owns it
        assert total <= budget or len(members) == 1
    # bins are consecutive from 0
    assert sorted(fills) == list(range(len(fills)))


@settings(max_examples=6, deadline=None)
@given(
    st.dictionaries(
        st.sampled_from(["s0", "s1", "s2"]),
        st.floats(min_value=0.0, max_value=3.0, allow_nan=False),
        min_size=1,
    )
)
def test_mix_corpus_counts_bounded(spark, weights):
    from sydradb_spark.pipeline.curation import mix_corpus

    n_per = 60
    rows = [(s_i * n_per + i, f"s{s_i}") for s_i in range(3) for i in range(n_per)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    per = {
        r["source"]: r["n"]
        for r in mix_corpus(df, weights, salt="prop")
        .groupBy("source")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    for s in ("s0", "s1", "s2"):
        w = weights.get(s, 1.0)
        got = per.get(s, 0)
        import math

        full = math.floor(w)
        frac = w - full
        # exact epochs are deterministic; the fractional tail is a
        # hash-binomial — allow generous slack around its mean
        lo = full * n_per + max(0, int(frac * n_per) - 25)
        hi = full * n_per + min(n_per, int(frac * n_per) + 25)
        assert lo <= got <= hi, (s, w, got)


@settings(max_examples=6, deadline=None)
@given(
    st.lists(
        st.integers(min_value=0, max_value=120), min_size=1, max_size=12
    ),
    st.integers(min_value=2, max_value=16),
    st.integers(min_value=0, max_value=8),
)
def test_chunk_documents_covers_every_token(spark, doc_sizes, chunk, overlap):
    """Every token of every doc appears in some chunk at its position, and
    concatenating each chunk's non-overlap suffix reconstructs the doc."""
    from sydradb_spark.pipeline.text import chunk_documents

    if overlap >= chunk:
        overlap = chunk - 1
    stride = chunk - overlap
    rows = [
        (i, " ".join(f"t{i}_{j}" for j in range(n))) for i, n in enumerate(doc_sizes)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = chunk_documents(df, chunk_size=chunk, overlap=overlap)
    got = {}
    for r in out.collect():
        got.setdefault(r["doc_id"], []).append(
            (r["chunk_idx"], r["chunk_start"], r["chunk_text"].split())
        )
    for i, n in enumerate(doc_sizes):
        toks = [f"t{i}_{j}" for j in range(n)]
        chunks = sorted(got.get(i, []))
        if n == 0:
            assert chunks == []
            continue
        # positions: chunk c starts at c*stride and matches the doc slice
        for c, start, words in chunks:
            assert start == c * stride
            assert words == toks[start : start + chunk]
        # coverage: union of chunk ranges is exactly [0, n)
        covered = set()
        for _, start, words in chunks:
            covered.update(range(start, start + len(words)))
        assert covered == set(range(n))


@settings(max_examples=5, deadline=None)
@given(st.lists(st.text(max_size=60), min_size=1, max_size=16))
def test_normalize_docs_idempotent(spark, texts):
    """normalize(normalize(x)) == normalize(x) — the regex chain and NFC are
    a closure; re-cleaning clean text changes nothing."""
    from sydradb_spark.pipeline.curation import normalize_docs

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    once = normalize_docs(df).select("doc_id", "text")
    twice = normalize_docs(once).select("doc_id", "text", "changed")
    rows = twice.collect()
    assert all(not r["changed"] for r in rows)


@settings(max_examples=60, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=15),   # ts (small range → ties)
            st.sampled_from(["a", "b", "c"]),
        ),
        min_size=0,
        max_size=12,
    ),
    st.integers(min_value=1, max_value=8),            # within
)
def test_funnel_dp_matches_feasible_set_oracle(seq, within):
    """The two-max DP in _funnel_dp is exact: equals the full feasible-SET
    DP on random event sequences with heavy timestamp ties — pure-Python
    property (no Spark), so hypothesis can hammer it."""
    from sydradb_spark.pipeline.events import _funnel_dp

    steps = ["a", "b", "c"]
    seq = sorted(seq)  # events arrive ts-ascending, ties in type order

    def exact_stage(seq):
        reach = [set() for _ in range(len(steps) + 1)]
        idx = {s: i for i, s in enumerate(steps)}
        for ts, ty in seq:
            i = idx[ty]
            if i == 0:
                reach[1].add(ts)
            elif any(t < ts <= t + within for t in reach[i]):
                reach[i + 1].add(ts)
        for i in range(len(steps), 0, -1):
            if reach[i]:
                return i
        return 0

    stage, _, _ = _funnel_dp([(float(ts), ty) for ts, ty in seq], steps, float(within))
    assert stage == exact_stage(seq), (seq, within)


def test_bpe_merge_fold_matches_python(spark):
    """The Spark HOF merge fold (_merge_col) equals the sequential Python
    merge on 300 random symbol sequences — including overlap-heavy shapes
    like aaa/abab — checked in ONE batched job."""
    from sydradb_spark.pipeline.bpe import _merge_col

    rng = random.Random(17)
    alphabet = ["a", "b", "ab", "aa", "</w>"]
    seqs = [
        [rng.choice(alphabet) for _ in range(rng.randint(0, 10))] for _ in range(300)
    ]
    merges = [("a", "a"), ("a", "b"), ("aa", "</w>"), ("ab", "ab")]

    def apply_one(syms, l, r):
        out, i = [], 0
        while i < len(syms):
            if i + 1 < len(syms) and syms[i] == l and syms[i + 1] == r:
                out.append(l + r)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        return out

    df = spark.createDataFrame(
        [(i, s) for i, s in enumerate(seqs)], "id long, syms array<string>"
    )
    col = F.col("syms")
    expect = list(seqs)
    for l, r in merges:
        col = _merge_col(col, l, r)
        expect = [apply_one(s, l, r) for s in expect]
    got = {r["id"]: r["out"] for r in df.select("id", col.alias("out")).collect()}
    assert all(got[i] == expect[i] for i in range(len(seqs)))


@given(
    st.lists(
        st.one_of(
            # append-commit, optionally txn'd by one of two apps
            st.tuples(
                st.just("commit"),
                st.sampled_from(["appA", "appB", None]),
                st.integers(min_value=0, max_value=6),
            ),
            st.tuples(st.just("vacuum"), st.just(None), st.integers(1, 3)),
        ),
        min_size=1,
        max_size=24,
    )
)
@settings(max_examples=60, deadline=None)
def test_manifest_txn_protocol_model(tmp_path_factory, ops):
    """Random interleavings of txn'd/untxn'd commits and vacuums against a
    pure-Python model: the file list is never corrupted, the per-app
    ledger is monotone and carried through every commit and vacuum, and a
    replayed (already-ledgered) txn never commits."""
    from sydradb_spark import manifest as mf
    from sydradb_spark import storage

    path = str(tmp_path_factory.mktemp("txnprop") / "t")
    model_files: list = []
    model_txn: dict = {}
    seq = 0
    for kind, app, arg in ops:
        if kind == "commit":
            f = f"f{seq}.parquet"
            seq += 1
            txn = None if app is None else (app, arg)
            expect_noop = txn is not None and model_txn.get(app, -1) >= arg
            got = mf.commit(path, mutate=lambda old, f=f: old + [f], txn=txn)
            if expect_noop:
                assert got is None
            else:
                assert isinstance(got, int)
                model_files.append(f)
                if txn is not None:
                    model_txn[app] = arg
        else:  # vacuum
            storage.vacuum_points(path, keep_versions=arg, min_age_seconds=0)
        if mf.latest_version(path) is not None:
            assert sorted(mf.read_files(path)) == sorted(model_files)
            for a, v in model_txn.items():
                assert mf.read_txn(path, a) == v


@given(
    st.lists(
        st.tuples(
            st.text(alphabet="abcd", min_size=1, max_size=3),
            st.text(alphabet="abcd", min_size=1, max_size=3),
            st.integers(min_value=2, max_value=100),
        ),
        max_size=24,
    ),
    st.integers(min_value=1, max_value=8),
)
@settings(deadline=None, max_examples=200)
def test_select_disjoint_batch_is_non_interfering(cands, m):
    """Property (ADVICE r11 low, generalized): within a selected batch, no
    pair's symbol equals another pair's symbol OR concatenated output, and
    no output collides with another output — so the single sequential
    rewrite pass cannot chain one taken merge into another."""
    from sydradb_spark.pipeline.bpe import _select_disjoint

    rows = sorted(
        ((f"{left} {right}", c) for left, right, c in cands),
        key=lambda r: (-r[1], r[0]),
    )
    taken = _select_disjoint(rows, m)
    assert len(taken) <= m
    syms: set = set()
    outs: set = set()
    for left, right in taken:
        out = left + right
        assert left not in syms and right not in syms
        assert left not in outs and right not in outs
        assert out not in syms and out not in outs
        syms.update((left, right))
        outs.add(out)

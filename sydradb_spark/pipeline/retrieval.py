"""BM25 full-text retrieval over a documents table — the keyword-search
half of a training-data engine (find contaminated docs, pull topical
subsets, spot-check dedup candidates by query).

Scale design:
- ``bm25_index`` materializes the classic postings layout ONCE: a
  (term, doc_id, tf) table plus per-doc lengths — one tokenize pass, one
  combining shuffle on (doc_id, term), then one on term when the postings
  are written partitioned/bucketed by term. At 100 TB the index is written
  to parquet partitioned by a term-hash prefix, and every query below
  reads only its query-terms' buckets (partition pruning does the
  inverted-index seek; no index server needed).
- ``bm25_search`` is query-term-bounded end to end: the postings scan is
  filtered with an ``isin`` literal over the (tiny) tokenized query —
  pushed to the parquet scan — document frequencies are a ≤ |query|-row
  aggregate broadcast back onto the hits with idf computed in-column,
  and the final ranking is a TakeOrdered top-k, never a full sort.
- Scoring is Lucene-classic BM25 (k1=1.2, b=0.75,
  idf = ln(1 + (N - df + 0.5)/(df + 0.5))), all pure column arithmetic.

Tokenization is the pipeline's standard lowercase-whitespace split (same
shape the text-stats oracles mirror) so a DuckDB twin reproduces scores
bit-for-bit; swap a real analyzer in at ``_terms`` if needed.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

BM25_K1 = 1.2
BM25_B = 0.75

# Fixed modulus for the term-hash partition layout. FIXED on purpose: the
# query side recomputes each query term's bucket with the same expression,
# so writer and reader must agree without carrying metadata — changing it
# means rebuilding written indexes.
BM25_TERM_BUCKETS = 64


def _terms(text: Column) -> Column:
    """Lowercased whitespace terms; empty/whitespace-only text → empty array.

    The trim is a REGEX trim of all ``\\s`` (F.trim strips only ASCII
    spaces, so a trailing newline — near-universal in real text — would
    leave ``split`` emitting an empty-string token, inflating dl/avgdl
    and creating phantom ``''`` postings)."""
    t = F.regexp_replace(F.lower(text), r"^\s+|\s+$", "")
    return F.when(F.length(t) == 0, F.array().cast("array<string>")).otherwise(
        F.split(t, r"\s+")
    )


def query_terms(spark, query: str) -> list[str]:
    """Distinct query terms, tokenized with the ENGINE'S OWN analyzer —
    ``_terms`` over a one-row literal (an empty LocalRelation job, no
    table scan). This is exact index/query parity by construction: same
    JVM regex ``\\s`` class (Python's ``str.split()`` also splits Unicode
    whitespace, which the index does not) AND same JVM/locale lowercasing
    (Python ``str.lower()`` can disagree with Java ``toLowerCase`` on
    non-ASCII — Turkish dotless-i, Unicode-version skew — silently
    scoring an exact-match doc 0)."""
    row = spark.range(1).select(_terms(F.lit(query)).alias("tk")).first()
    return sorted(set(row["tk"])) if row is not None else []


def query_term_freqs(spark, query: str) -> list[tuple[str, int]]:
    """(term, query-term-frequency) pairs, sorted by term, through the same
    engine analyzer as ``query_terms``. A term repeated in the query is one
    entry with qtf > 1 — scoring weights its contribution per occurrence
    (Lucene-classic semantics: a duplicated query term is a duplicated
    BooleanQuery clause, so it scores twice)."""
    row = spark.range(1).select(_terms(F.lit(query)).alias("tk")).first()
    if row is None:
        return []
    from collections import Counter

    return sorted(Counter(row["tk"]).items())


def bm25_index(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(term, doc_id, tf, dl) postings with per-doc length attached —
    self-contained for scoring (dl rides each posting, so search needs no
    doc-table join). One explode + one combining groupBy.

    The token array is materialized in its own projection BEFORE the
    explode: placing ``size(_terms(text))`` beside the generator makes
    Spark evaluate the regex split once per OUTPUT token (O(tokens x
    doc_length) per doc — measured 405 s for a 500k-doc index build;
    8.4 s built this way)."""
    base = docs.select("doc_id", _terms(F.col(text_col)).alias("__tk"))
    with_dl = base.select("doc_id", "__tk", F.size("__tk").alias("dl"))
    toks = with_dl.select("doc_id", "dl", F.explode("__tk").alias("term"))
    return toks.groupBy("term", "doc_id", "dl").agg(F.count("*").alias("tf"))


def term_bucket(term: Column) -> Column:
    """Term-hash partition key: pmod(xxhash64(term), BM25_TERM_BUCKETS)."""
    return F.pmod(F.xxhash64(term), F.lit(BM25_TERM_BUCKETS)).cast("int")


# On-disk layout version of bm25_write_index, written to its
# ``_INDEX_VERSION`` commit marker.
BM25_INDEX_VERSION = 1


def bm25_write_index(docs: DataFrame, path: str, text_col: str = "text") -> None:
    """Write the postings TERM-HASH-PARTITIONED — the default written
    layout at scale: ``{path}/tb=<bucket>/part-*.parquet``. A search then
    reads only its query terms' buckets (directory-level partition
    pruning does the inverted-index seek; ``bm25_scores`` adds the bucket
    filter automatically when it sees the ``tb`` column). Postings are
    doc-local, so append-only maintenance (``bm25_index(new).withColumn(
    'tb', term_bucket(...)).write.mode('append')``) stays exact.

    The ``_INDEX_VERSION`` sidecar is the commit marker: removed before
    the postings are written and written last, so an interrupted build
    leaves an index ``bm25_read_index`` refuses."""
    import os

    from sydradb_spark.util import write_marker

    marker = os.path.join(path, "_INDEX_VERSION")
    if os.path.exists(marker):
        os.remove(marker)
    idx = bm25_index(docs, text_col).withColumn("tb", term_bucket(F.col("term")))
    # cluster by the partition column before the partitioned write (r16,
    # guide §6 small files): unshuffled, every upstream task writes into
    # every term bucket it sees — tasks × buckets files. One narrow
    # shuffle keyed on tb makes it one file per bucket; the (tb, term)
    # sort satisfies the dynamic-partition writer's required ordering
    # (otherwise it stacks its own Sort and drops ours) and gives the
    # postings row-group min/max stats on term.
    n_tasks = int(idx.sparkSession.conf.get("spark.sql.shuffle.partitions", "200"))
    (
        idx.repartition(n_tasks, F.col("tb"))
        .sortWithinPartitions("tb", "term")
        .write.mode("overwrite")
        .partitionBy("tb")
        .parquet(path)
    )
    write_marker(marker, f"{BM25_INDEX_VERSION}\n")


def bm25_read_index(spark, path: str) -> DataFrame:
    """Read a ``bm25_write_index`` layout (carries the ``tb`` partition
    column that activates pruning in ``bm25_scores``). Fails fast when the
    commit marker is missing (an interrupted or pre-marker build) or names
    a layout this build doesn't read."""
    import os

    marker = os.path.join(path, "_INDEX_VERSION")
    if not os.path.exists(marker):
        raise FileNotFoundError(
            f"bm25 index at {path} has no commit marker (_INDEX_VERSION): "
            "its build did not finish — rebuild it with bm25_write_index"
        )
    with open(marker) as fh:
        ver = fh.read().strip()
    if ver != str(BM25_INDEX_VERSION):
        raise ValueError(
            f"bm25 index at {path} has layout version {ver}, this build "
            f"reads version {BM25_INDEX_VERSION} — rebuild it with "
            "bm25_write_index"
        )
    return spark.read.parquet(path)


def bm25_corpus_stats(index: DataFrame) -> tuple[int, float]:
    """(N docs, average doc length) from a postings frame — one aggregate.

    N counts documents WITH at least one term (token-less docs have no
    postings), matching Lucene's per-field docCount convention for the
    idf numerator rather than raw corpus size."""
    row = index.select("doc_id", "dl").distinct().agg(
        F.count("*").alias("n"), F.avg("dl").alias("avgdl")
    ).first()
    assert row is not None
    return int(row["n"]), float(row["avgdl"] or 0.0)


def bm25_scores(
    index: DataFrame,
    query: str,
    n_docs: int | None = None,
    avgdl: float | None = None,
) -> DataFrame:
    """(doc_id, score) for EVERY document matching ≥ 1 query term — the
    un-truncated scoring core ``bm25_search`` ranks. Pass ``n_docs``/
    ``avgdl`` (from ``bm25_corpus_stats``, computed once per index) to
    skip the stats aggregate per query.

    Every step is query-term-bounded: the postings filter is an ``isin``
    literal (pushed to the scan of a term-partitioned index), df is a
    ≤ |query|-row aggregate broadcast back onto the hits (no driver
    collect), and idf is computed in-column with the N literal — no join
    wider than the candidate doc set. The filtered postings are traversed
    twice (df aggregate + scoring probe); against a term-partitioned
    index both traversals are pruned scans, so this stays cheaper than
    caching the hit set per query. A term repeated in the query weights
    its contribution by its query-term frequency (Lucene-classic: a
    duplicated term is a duplicated BooleanQuery clause)."""
    qtf = query_term_freqs(index.sparkSession, query)
    if not qtf:
        # keep the index's doc_id type so callers can union empty and
        # non-empty query results without a schema mismatch
        return index.select("doc_id", F.lit(0.0).alias("score")).limit(0)
    if n_docs is None or avgdl is None:
        n_docs, avgdl = bm25_corpus_stats(index)
    hits = index.where(F.col("term").isin([t for t, _ in qtf]))
    if "tb" in index.columns:
        # term-hash-partitioned layout: add the bucket filter so the scan
        # prunes to ≤ |query| partitions (the term isin alone is only a
        # row-group filter; the tb isin is a directory-level prune). The
        # buckets are computed with the ENGINE's xxhash64 over a one-row
        # local relation — same parity rationale as query_terms.
        bks = sorted(
            {
                r["b"]
                for r in index.sparkSession.createDataFrame(
                    [(t,) for t, _ in qtf], "term string"
                )
                .select(term_bucket(F.col("term")).alias("b"))
                .collect()
            }
        )
        hits = hits.where(F.col("tb").isin(bks))
    dfreq = hits.groupBy("term").agg(F.count_distinct("doc_id").alias("df"))
    idf = F.log(
        1.0
        + (F.lit(float(n_docs)) - F.col("df").cast("double") + 0.5)
        / (F.col("df").cast("double") + 0.5)
    )
    tf = F.col("tf").cast("double")
    denom = tf + BM25_K1 * (
        1.0 - BM25_B + BM25_B * F.col("dl").cast("double") / F.lit(float(avgdl or 1.0))
    )
    # per-occurrence weight: a CASE over the (tiny) query term list stays a
    # pure column expression — no extra join
    w = F.lit(1.0)
    if any(n > 1 for _, n in qtf):
        w = F.lit(None).cast("double")
        for t, n in qtf:
            w = F.when(F.col("term") == t, float(n)).otherwise(w)
    contrib = w * idf * tf * (BM25_K1 + 1.0) / denom
    return (
        hits.join(F.broadcast(dfreq), on="term")
        .select("doc_id", contrib.alias("c"))
        .groupBy("doc_id")
        .agg(F.sum("c").alias("score"))
    )


def bm25_search(
    index: DataFrame,
    query: str,
    k: int = 10,
    n_docs: int | None = None,
    avgdl: float | None = None,
) -> DataFrame:
    """Top-``k`` (doc_id, score) for ``query`` against a ``bm25_index``
    frame: ``bm25_scores`` ranked by (score desc, doc_id) — a TakeOrdered
    top-k, never a full sort."""
    return (
        bm25_scores(index, query, n_docs=n_docs, avgdl=avgdl)
        .orderBy(F.col("score").desc(), F.col("doc_id").asc())
        .limit(k)
    )

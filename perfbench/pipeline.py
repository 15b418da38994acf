"""The pipeline pass of the traced run: eight ``__spark_entry__`` entries over
seeded ``documents`` and ``embeddings`` tables, each into the noop sink as
``bench.py`` runs them, after an untimed pass that collects every entry
and checks it against its ``oracle_sql()`` DuckDB twin (row count and the
rows, order-insensitive). That pass also pays the entries' first-use costs.
"""

from __future__ import annotations

import math
import os
from pathlib import Path

from perfbench import gen

ENTRIES = (
    "corpus_curation",
    "dedup_exact",
    "minhash_lsh_pairs",
    "near_dup_scores",
    "knn_cosine_brute",
    "ann_lsh_cosine",
    "text_stats",
    "doc_chunking",
)
DOCS = 300
EMBEDDINGS = 120
TABLES = ("documents", "embeddings")


def write_inputs(seed: int, root: Path) -> Path:
    """Write the seeded tables as parquet under ``root``, in the column types
    of the contract's test data; returns the directory the entries read."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    root.mkdir(parents=True)
    docs = pa.schema([
        ("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
        ("source", pa.string()), ("n_chars", pa.int64()),
    ])
    embs = pa.schema([
        ("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32())), ("label", pa.int32()),
    ])
    pq.write_table(pa.table(gen.documents(seed, DOCS), schema=docs), root / "documents.parquet")
    pq.write_table(pa.table(gen.embeddings(seed, EMBEDDINGS), schema=embs),
                   root / "embeddings.parquet")
    return root


def _cell(v):
    """One value in a comparable form: numpy scalars and arrays become
    Python values and tuples, NaN becomes None."""
    if hasattr(v, "tolist"):
        v = v.tolist()
    if isinstance(v, (list, tuple)):
        return tuple(_cell(x) for x in v)
    if isinstance(v, float) and math.isnan(v):
        return None
    return v


def frame_rows(df) -> tuple[list[str], list[tuple]]:
    """(sorted column names, rows in that column order) of a pandas frame."""
    cols = sorted(df.columns)
    rows = [tuple(_cell(v) for v in r) for r in df[cols].itertuples(index=False)]
    return cols, rows


def compare(got, want) -> str | None:
    """Order-insensitive compare of two pandas frames; the first difference
    as text, or None."""
    from perfbench.oracle import compare_rows

    (gcols, grows), (wcols, wrows) = frame_rows(got), frame_rows(want)
    if gcols != wcols:
        return f"columns {gcols}, expected {wcols}"
    if not wrows:
        return "empty expected answer"
    return compare_rows(grows, wrows)


def check(spark, data_dir: Path) -> dict[str, str | None]:
    """Collect every entry and compare it with its DuckDB twin."""
    import duckdb

    from sydradb_spark.contract import all_oracles, all_queries

    # generated oracles read the same tables the entries run on
    os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = str(data_dir)
    queries, oracles = all_queries(), all_oracles(only=set(ENTRIES))
    con = duckdb.connect(config={"autoinstall_known_extensions": False})
    try:
        for t in TABLES:
            con.execute(f"create view {t} as select * from '{data_dir}/{t}.parquet'")
        return {
            name: compare(queries[name](spark, str(data_dir)).toPandas(),
                          con.execute(oracles[name]).df())
            for name in ENTRIES
        }
    finally:
        con.close()


def timed_pass(spark, data_dir: Path, span) -> None:
    """Run every entry once into the noop sink, each under ``span(name)``."""
    from sydradb_spark.contract import all_queries

    queries = all_queries()
    for name in ENTRIES:
        with span(f"pipeline.{name}"):
            queries[name](spark, str(data_dir)).write.format("noop").mode("overwrite").save()

"""Commit markers of the materialized BM25 and IVF indexes: written last,
so a build interrupted between its data write and its marker leaves an
index the reader refuses instead of one it half-reads."""

from __future__ import annotations

import os

import pytest

from sydradb_spark import util
from sydradb_spark.pipeline import retrieval, similarity


class _Crash(Exception):
    pass


def _crash_before_marker(monkeypatch):
    def crash(path, text):
        raise _Crash(path)

    monkeypatch.setattr(util, "write_marker", crash)


@pytest.fixture()
def docs(spark):
    rows = [(i, f"doc {i} about data systems and model {i % 3}") for i in range(30)]
    return spark.createDataFrame(rows, "doc_id long, text string")


@pytest.fixture()
def vectors(spark):
    rows = [(i, [float(i % 3 == d) * 8.0 + i * 1e-3 for d in range(4)]) for i in range(60)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_bm25_index_reads_only_when_committed(spark, tmp_path, docs, monkeypatch):
    path = str(tmp_path / "bm25")
    retrieval.bm25_write_index(docs, path)
    assert retrieval.bm25_read_index(spark, path).count() > 0

    # a rebuild that dies after the postings, before the marker
    _crash_before_marker(monkeypatch)
    with pytest.raises(_Crash):
        retrieval.bm25_write_index(docs, path)
    assert any(p.startswith("tb=") for p in os.listdir(path))  # data written
    with pytest.raises(FileNotFoundError, match="commit marker"):
        retrieval.bm25_read_index(spark, path)

    monkeypatch.undo()
    retrieval.bm25_write_index(docs, path)
    assert retrieval.bm25_read_index(spark, path).count() > 0


def test_bm25_index_refuses_another_layout_version(spark, tmp_path, docs):
    path = str(tmp_path / "bm25")
    retrieval.bm25_write_index(docs, path)
    with open(os.path.join(path, "_INDEX_VERSION"), "w") as fh:
        fh.write("0\n")
    with pytest.raises(ValueError, match="layout version 0"):
        retrieval.bm25_read_index(spark, path)


def test_ivf_index_reads_only_when_committed(spark, tmp_path, vectors, monkeypatch):
    path = str(tmp_path / "ivf")
    cents = similarity.write_ivf_index(vectors, path, k=3, sample=32)
    assert similarity.read_ivf_index(spark, path)[1] == cents
    assert not [f for f in os.listdir(path) if ".tmp-" in f]  # no temp left

    # a rebuild that dies after the assignments, before the centroids: the
    # old centroids must not be served beside the new assignments
    _crash_before_marker(monkeypatch)
    with pytest.raises(_Crash):
        similarity.write_ivf_index(vectors, path, k=2, sample=32)
    assert os.path.isdir(os.path.join(path, "assignments"))
    with pytest.raises(FileNotFoundError, match="commit marker"):
        similarity.read_ivf_index(spark, path)

    monkeypatch.undo()
    cents = similarity.write_ivf_index(vectors, path, k=2, sample=32)
    idx, loaded = similarity.read_ivf_index(spark, path)
    assert loaded == cents and len(loaded) == 2
    assert {r["cluster"] for r in idx.select("cluster").distinct().collect()} <= {0, 1}

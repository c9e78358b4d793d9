"""Quality monitor tests (SURVEY.md §2.7 A1–A12) against numpy ground truth."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from vectordb_etl_spark import quality
from vectordb_etl_spark.functions import text as T


@pytest.fixture(scope="module")
def chunks(spark, docs_tiny):
    return docs_tiny.select(
        F.col("doc_id").cast("string").alias("chunk_id"),
        F.col("text"),
        F.col("lang").alias("language"),
        F.col("n_chars").alias("chunk_size_chars"),
        T.estimate_tokens_col("text").alias("chunk_size_tokens"),
        F.col("source").alias("filename"),
    ).cache()


def test_chunk_distribution_matches_numpy(chunks):
    row = quality.chunk_distribution(chunks).first()
    sizes = np.array([r[0] for r in chunks.select("chunk_size_chars").collect()])
    assert row["n_chunks"] == len(sizes)
    assert row["chars_min"] == sizes.min()
    assert row["chars_max"] == sizes.max()
    assert row["chars_mean"] == pytest.approx(sizes.mean(), abs=1e-4)
    # population std, matching the reference's np.std (quality_monitor.py:37)
    assert row["chars_std"] == pytest.approx(sizes.std(), abs=1e-4)
    assert row["chars_median"] == pytest.approx(np.median(sizes), abs=1e-4)


def test_histogram_buckets_cover_all_rows(chunks):
    hist = quality.size_histogram(chunks, bins=30).collect()
    assert sum(r["n"] for r in hist) == chunks.count()
    assert all(0 <= r["bucket"] <= 29 for r in hist)
    # bucket edges ascend
    assert all(r["lo"] < r["hi"] for r in hist)


def test_histogram_degenerate_bounds(spark):
    """Bucket-edge rule for corpora numpy.histogram can't bin naturally:
    min == max (single-value sizes) pins width=1 with every row in bucket
    0 spanning [v, v+1); an empty frame yields no buckets; a single row
    behaves like min==max. Property: counts always cover all rows and
    edges always ascend."""
    single = spark.createDataFrame([(200,)] * 7, ["chunk_size_chars"])
    hist = quality.size_histogram(single, bins=30).collect()
    assert len(hist) == 1
    assert hist[0]["bucket"] == 0 and hist[0]["n"] == 7
    assert (hist[0]["lo"], hist[0]["hi"]) == (200.0, 201.0)

    one = spark.createDataFrame([(5,)], ["chunk_size_chars"])
    hist1 = quality.size_histogram(one, bins=30).collect()
    assert len(hist1) == 1 and hist1[0]["n"] == 1
    assert (hist1[0]["lo"], hist1[0]["hi"]) == (5.0, 6.0)

    empty = spark.createDataFrame([], "chunk_size_chars int")
    assert quality.size_histogram(empty, bins=30).collect() == []


def test_language_distribution_sums_to_100(chunks):
    rows = quality.language_distribution(chunks).collect()
    assert sum(r["pct"] for r in rows) == pytest.approx(100.0, abs=1e-3)
    assert sum(r["n"] for r in rows) == chunks.count()


def test_top_sources_ordering(chunks):
    rows = quality.top_sources(chunks, n=5).collect()
    counts = [r["n"] for r in rows]
    assert counts == sorted(counts, reverse=True)
    assert len(rows) <= 5


def test_recommendations_thresholds():
    assert any("70%" in r for r in quality.recommendations(50.0, 10.0))
    assert any("variation" in r for r in quality.recommendations(90.0, 80.0))
    assert quality.recommendations(90.0, 10.0) == [
        "chunk distribution within quality thresholds"
    ]


def test_sample_chunks_deterministic(chunks):
    a = [r["chunk_id"] for r in quality.sample_chunks(chunks).collect()]
    b = [r["chunk_id"] for r in quality.sample_chunks(chunks).collect()]
    assert a == b and len(a) == 5


def test_validate_pipeline_report(chunks, tmp_path):
    rep = quality.validate_pipeline(chunks)
    assert rep.total_chunks == chunks.count()
    assert rep.avg_token_size is not None and rep.avg_token_size > 0
    assert rep.language_distribution  # non-empty
    assert rep.recommendations
    out = rep.write_json(tmp_path / "report.json")
    import json

    loaded = json.loads(out.read_text())
    assert loaded["total_chunks"] == rep.total_chunks


def test_token_report(chunks):
    row = quality.token_report(chunks).first()
    assert row["n_docs"] == chunks.count()
    assert row["total_ws_tokens"] > 0
    assert row["total_bpeish_tokens"] >= row["total_ws_tokens"]


def test_plot_distribution_renders_buckets(spark, tmp_path):
    from vectordb_etl_spark.quality import plot_distribution

    df = spark.createDataFrame(
        [(i % 97 + 10, i % 53 + 5) for i in range(300)],
        ["chunk_size_chars", "chunk_size_tokens"],
    )
    path = plot_distribution(df, str(tmp_path / "dist"))
    assert path.endswith((".png", ".txt"))
    import os

    assert os.path.getsize(path) > 0
    if path.endswith(".txt"):
        text = open(path).read()
        assert "chunk size (chars)" in text and "#" in text


_REPORT_SCHEMA = "chunk_id string, text string, language string, " \
    "chunk_size_chars int, chunk_size_tokens int"
_REPORT_ROWS = [
    ("a", "x", "korean", 100, 350),
    ("b", "x", None, 50, 20),
    ("c", "x", "english", 10, 400),
    ("d", "x", None, 7, 3),
    ("e", "x", "korean", 33, 301),
]
# the report of _REPORT_ROWS from a Column-API agg plus a groupBy collect
_REPORT = {
    "total_chunks": 5,
    "vector_count": 5,
    "avg_char_size": 40.0,
    "avg_token_size": 214.8,
    "in_range_pct": 60.0,
    "cv_pct": 78.680539,
    "language_distribution": {None: 2, "korean": 2, "english": 1},
    "recommendations": [
        "in-target-range ratio below 70% — revisit chunk_size/overlap",
        "token-size coefficient of variation above 50% — uneven chunks",
    ],
}


def test_validate_keeps_a_null_language_group(spark, tmp_path):
    """A stored NULL language is a group of its own; the rollup's grand
    total (also NULL in its language column) is told apart by
    grouping_id()."""
    from vectordb_etl_spark.config import StoreConfig
    from vectordb_etl_spark.store.collections import CollectionStore

    store = CollectionStore(spark, StoreConfig(warehouse_dir=str(tmp_path / "w")))
    store.insert_documents(
        spark.createDataFrame(_REPORT_ROWS, _REPORT_SCHEMA),
        split_by_folder=False, embed=False,
    )
    assert quality.validate_pipeline(store.read()).to_dict() == _REPORT


def test_validate_of_no_chunks_and_of_no_language_column(spark):
    empty = quality.validate_pipeline(spark.createDataFrame([], _REPORT_SCHEMA))
    assert empty.to_dict() == {
        "total_chunks": 0,
        "vector_count": 0,
        "avg_char_size": None,
        "avg_token_size": None,
        "in_range_pct": None,
        "cv_pct": None,
        "language_distribution": {},
        "recommendations": ["chunk distribution within quality thresholds"],
    }
    frame = spark.createDataFrame(_REPORT_ROWS, _REPORT_SCHEMA).drop("language")
    assert quality.validate_pipeline(frame).to_dict() == {
        **_REPORT, "language_distribution": {},
    }

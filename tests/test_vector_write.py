"""Vector-column writes: every writer of a frame that carries vectors skips
parquet's dictionary attempt on the vector column and writes the bytes the
plain writer's PLAIN fallback writes."""

from __future__ import annotations

from pathlib import Path

import pyarrow.parquet as pq
import pytest

from vectordb_etl_spark.config import EmbeddingConfig, StoreConfig
from vectordb_etl_spark.embeddings import with_embeddings
from vectordb_etl_spark.operators.ann import IVFIndex
from vectordb_etl_spark.operators.graph_ann import GraphANNIndex
from vectordb_etl_spark.store.collections import (
    CollectionStore,
    vector_write_options,
)

EMB = EmbeddingConfig(dimension=16)


def dictionary_pages(root) -> dict[str, bool]:
    """Per leaf column path, whether any column chunk of any data file
    under ``root`` has a dictionary page."""
    seen: dict[str, bool] = {}
    files = [
        f for f in Path(root).rglob("*.parquet")
        if not any(p.startswith((".", "_")) for p in f.relative_to(root).parts)
    ]
    assert files, root
    for f in files:
        meta = pq.ParquetFile(f).metadata
        for g in range(meta.num_row_groups):
            for c in range(meta.num_columns):
                col = meta.row_group(g).column(c)
                seen[col.path_in_schema] = (
                    seen.get(col.path_in_schema, False) or col.has_dictionary_page
                )
    return seen


def chunk_rows(spark, n: int, start: int = 0, texts: int = 8):
    """``n`` chunk rows over two folders with ``texts`` distinct texts.
    ``language`` repeats, so a dictionary pays off on it; with few
    distinct texts it would pay off on the vectors too, so only the
    writer's hint keeps them plain."""
    return spark.createDataFrame(
        [
            (f"c{i}", f"chunk text {i % texts}", ("hr", "eng")[i % 2],
             ("korean", "english")[i % 2])
            for i in range(start, start + n)
        ],
        "chunk_id string, text string, folder_name string, language string",
    )


def assert_vectors_plain(root, vector="embedding.list.element"):
    pages = dictionary_pages(root)
    assert pages[vector] is False, pages
    assert pages["language"] is True, pages


@pytest.fixture()
def store(spark, tmp_path):
    return CollectionStore(spark, StoreConfig(warehouse_dir=str(tmp_path / "wh")))


def test_insert_and_upsert_write_vectors_without_a_dictionary(store):
    store.insert_documents(chunk_rows(store.spark, 60), embedding_config=EMB)
    assert_vectors_plain(store._data_dir)
    store.upsert_documents(chunk_rows(store.spark, 10, start=55), embedding_config=EMB)
    names = store.list_collections()
    assert len(names) == 2
    for name in names:
        assert_vectors_plain(f"{store._data_dir}/collection={name}")


def test_index_layouts_write_vectors_without_a_dictionary(store):
    store.insert_documents(chunk_rows(store.spark, 60), embedding_config=EMB)
    df = store.read().select("chunk_id", "language", "embedding")
    ivf = IVFIndex(store.spark, f"{store._root}/ivf").build(df, nlist=2)
    assert_vectors_plain(f"{ivf.path}/data")
    graph = GraphANNIndex(store.spark, f"{store._root}/graph")
    graph.build(df.limit(40), id_col="chunk_id", passthrough=["language"])
    before = set(Path(graph.path).rglob("*.parquet"))
    graph.add(
        with_embeddings(chunk_rows(store.spark, 20, start=100), config=EMB),
        id_col="chunk_id", passthrough=["language"],
    )
    assert set(Path(graph.path).rglob("*.parquet")) > before
    # adjacency is not a vector column: it keeps parquet's default
    assert_vectors_plain(graph.path)


def test_vector_write_options_keep_the_plain_writers_bytes(spark, tmp_path):
    """Unique vectors: the plain writer's dictionary attempt falls back to
    PLAIN, so skipping it writes the same bytes. Repeating vectors: the
    plain writer keeps a dictionary, the hinted one does not."""

    def write_both(name, texts):
        df = with_embeddings(chunk_rows(spark, 300, texts=texts), config=EMB)
        df = df.coalesce(1).withColumn("wide", df["embedding"].cast("array<double>"))
        df.write.parquet(str(tmp_path / name / "plain"))
        df.write.options(**vector_write_options(df)).parquet(
            str(tmp_path / name / "hinted")
        )
        return [
            (
                sum(f.stat().st_size for f in (tmp_path / name / w).glob("*.parquet")),
                dictionary_pages(tmp_path / name / w),
            )
            for w in ("plain", "hinted")
        ]

    plain, hinted = write_both("unique", texts=300)
    assert plain == hinted
    assert hinted[1]["wide.list.element"] is False
    plain, hinted = write_both("repeating", texts=4)
    for col in ("embedding.list.element", "wide.list.element"):
        assert plain[1][col] is True and hinted[1][col] is False
    assert hinted[1]["language"] is True

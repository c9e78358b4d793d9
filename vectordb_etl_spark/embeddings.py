"""Embedding operators E1–E3 (SURVEY.md §2.4).

Pluggable backends behind one pandas-UDF harness:

- :class:`HashEmbedder` — deterministic pseudo-embedder (md5-seeded normal
  vector, L2-normalized). Same signature as the real model; used by every
  test so no model download is needed (SURVEY.md §7.1).
- :class:`SentenceTransformerEmbedder` — BGE-M3 path (reference:
  modules/embeddings.py:32-48), gated behind an import-try because the model
  stack isn't available in this environment.

The Spark shape mirrors the reference's lazy singleton (embeddings.py:20-30):
an **iterator** pandas UDF initializes the encoder once per executor/python
worker and streams Arrow batches through it — the idiomatic
``predict_batch_udf`` pattern without the spark.ml dependency.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, FloatType

from vectordb_etl_spark.config import EmbeddingConfig
from vectordb_etl_spark.functions.vector import vector_lit


class HashEmbedder:
    """Deterministic 1024-d (configurable) embedder.

    embed(text) = L2-normalized standard-normal vector seeded from md5(text).
    Identical texts ⇒ identical vectors (so dedup/search tests are exact);
    normalization matches normalize_embeddings=True (embeddings.py:36)."""

    def __init__(self, dimension: int = 1024, normalize: bool = True):
        self.dimension = dimension
        self.normalize = normalize

    def embed_one(self, text: str) -> np.ndarray:
        seed = int.from_bytes(hashlib.md5(text.encode()).digest()[:4], "big")
        vec = np.random.RandomState(seed).standard_normal(self.dimension)
        if self.normalize:
            n = np.linalg.norm(vec)
            if n > 0:
                vec = vec / n
        return vec.astype(np.float32)

    def embed_documents(self, texts: list[str]) -> list[list[float]]:
        """E1 — batch embedding (reference: embeddings.py:32-40)."""
        return [self.embed_one(t).tolist() for t in texts]

    def embed_query(self, text: str) -> list[float]:
        """E2 — single query embedding (reference: embeddings.py:42-48)."""
        return self.embed_one(text).tolist()


class SentenceTransformerEmbedder:
    """BGE-M3 production path (reference: modules/embeddings.py). Lazy model
    init; raises a clear error when sentence-transformers is unavailable."""

    def __init__(self, config: EmbeddingConfig | None = None):
        self.config = config or EmbeddingConfig(backend="sentence-transformer")
        self._model = None

    @property
    def dimension(self) -> int:
        return self.config.dimension

    def _get_model(self):
        if self._model is None:
            try:
                from sentence_transformers import SentenceTransformer
            except ImportError as e:  # pragma: no cover - env without torch
                raise NotImplementedError(
                    "sentence-transformers not installed in this environment; "
                    "use EmbeddingConfig(backend='hash') for tests"
                ) from e
            self._model = SentenceTransformer(self.config.model_name)
        return self._model

    def embed_documents(self, texts: list[str]) -> list[list[float]]:
        model = self._get_model()
        vecs = model.encode(
            texts,
            batch_size=self.config.batch_size,
            normalize_embeddings=self.config.normalize,
        )
        return [v.tolist() for v in vecs]

    def embed_query(self, text: str) -> list[float]:
        return self.embed_documents([text])[0]


def get_embedder(config: EmbeddingConfig | None = None):
    config = config or EmbeddingConfig()
    if config.backend == "hash":
        return HashEmbedder(config.dimension, config.normalize)
    if config.backend == "sentence-transformer":
        return SentenceTransformerEmbedder(config)
    raise ValueError(f"unknown embedding backend {config.backend!r}")


def embed_udf(config: EmbeddingConfig | None = None):
    """E1 as an iterator pandas UDF: one encoder init per python worker,
    Arrow-batched transfer, vectorized encode — the UDF is the only Python
    hop in the write path."""
    cfg = config or EmbeddingConfig()

    @F.pandas_udf(ArrayType(FloatType()))
    def _embed(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        embedder = get_embedder(cfg)  # lazy, once per worker
        for batch in batches:
            yield pd.Series(embedder.embed_documents(batch.fillna("").tolist()))

    return _embed


def with_embeddings(
    df, text_col: str = "text", out_col: str = "embedding",
    config: EmbeddingConfig | None = None,
) -> "pyspark.sql.DataFrame":  # noqa: F821
    return df.withColumn(out_col, embed_udf(config)(F.col(text_col)))


def query_vector(text: str, config: EmbeddingConfig | None = None) -> list[float]:
    """E2 — embed once on the driver; becomes a plan literal broadcast to the
    scan (the reference re-embeds per collection probed, milvus_store.py:271 —
    embedding once is a deliberate improvement, SURVEY.md §3.2)."""
    return get_embedder(config).embed_query(text)


def query_vector_col(text: str, config: EmbeddingConfig | None = None) -> Column:
    return vector_lit(query_vector(text, config), elem="float")

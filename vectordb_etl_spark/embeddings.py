"""Embedding operators E1–E3 (SURVEY.md §2.4).

Pluggable backends behind one Arrow-UDF harness. Each backend embeds a
batch as one ``(n, dimension)`` float32 matrix (``embed_matrix``), as the
reference embeds a batch with one ``encode`` call and L2-normalises it
(reference modules/embeddings.py:32-40); ``embed_documents`` and
``embed_query`` are the reference's list API on top of it.

- :class:`HashEmbedder` — deterministic pseudo-embedder (md5-seeded normal
  vector, L2-normalized). Same signature as the real model; used by every
  test so no model download is needed (SURVEY.md §7.1).
- :class:`SentenceTransformerEmbedder` — BGE-M3 path (reference:
  modules/embeddings.py:32-48), gated behind an import-try because the model
  stack isn't available in this environment.

The Spark shape mirrors the reference's lazy singleton (embeddings.py:20-30):
an **iterator** Arrow UDF initializes the encoder once per python worker
and hands each batch's matrix to Arrow as one flat float32 buffer — the
idiomatic ``predict_batch_udf`` pattern without the spark.ml dependency.
"""

from __future__ import annotations

import hashlib
import threading
from collections.abc import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, FloatType

from vectordb_etl_spark.config import EmbeddingConfig
from vectordb_etl_spark.functions.vector import vector_lit

# one legacy generator per thread, re-seeded for each text: constructing a
# RandomState draws OS entropy before the seed overwrites it, which costs
# several times the draw itself, while ``seed`` gives the same stream
_generators = threading.local()


class _MatrixEmbedder:
    """The list API of an embedder, on top of its ``embed_matrix``."""

    def embed_matrix(self, texts: list[str]) -> np.ndarray:
        raise NotImplementedError

    def embed_documents(self, texts: list[str]) -> list[list[float]]:
        """E1 — batch embedding (reference: embeddings.py:32-40)."""
        return self.embed_matrix(texts).tolist()

    def embed_query(self, text: str) -> list[float]:
        """E2 — single query embedding (reference: embeddings.py:42-48)."""
        return self.embed_matrix([text])[0].tolist()


class HashEmbedder(_MatrixEmbedder):
    """Deterministic 1024-d (configurable) embedder.

    embed(text) = L2-normalized standard-normal vector seeded from md5(text).
    Identical texts ⇒ identical vectors (so dedup/search tests are exact);
    normalization matches normalize_embeddings=True (embeddings.py:36).
    Safe to share between threads: each thread draws from its own
    generator."""

    def __init__(self, dimension: int = 1024, normalize: bool = True):
        self.dimension = dimension
        self.normalize = normalize

    def embed_matrix(self, texts: list[str]) -> np.ndarray:
        out = np.empty((len(texts), self.dimension), dtype=np.float32)
        rng = getattr(_generators, "rng", None)
        if rng is None:
            rng = _generators.rng = np.random.RandomState()
        for i, text in enumerate(texts):
            rng.seed(int.from_bytes(hashlib.md5(text.encode()).digest()[:4], "big"))
            vec = rng.standard_normal(self.dimension)
            if self.normalize:
                n = np.linalg.norm(vec)
                if n > 0:
                    vec = vec / n
            out[i] = vec
        return out

    def embed_one(self, text: str) -> np.ndarray:
        return self.embed_matrix([text])[0]


class SentenceTransformerEmbedder(_MatrixEmbedder):
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

    def embed_matrix(self, texts: list[str]) -> np.ndarray:
        if not texts:
            return np.empty((0, self.dimension), dtype=np.float32)
        vecs = self._get_model().encode(
            texts,
            batch_size=self.config.batch_size,
            normalize_embeddings=self.config.normalize,
        )
        return np.asarray(vecs, dtype=np.float32)


def get_embedder(config: EmbeddingConfig | None = None):
    config = config or EmbeddingConfig()
    if config.backend == "hash":
        return HashEmbedder(config.dimension, config.normalize)
    if config.backend == "sentence-transformer":
        return SentenceTransformerEmbedder(config)
    raise ValueError(f"unknown embedding backend {config.backend!r}")


def embed_udf(config: EmbeddingConfig | None = None):
    """E1 as an iterator Arrow UDF — the only Python hop in the write path.
    The encoder is built once per python worker; each Arrow batch of texts
    (a null embeds as ``""``) becomes one ``embed_matrix`` call, and the
    matrix's flat float32 buffer becomes the values of the output list
    array, so no vector element passes through a Python float."""
    cfg = config or EmbeddingConfig()

    @F.arrow_udf(ArrayType(FloatType()))
    def _embed(batches: Iterator[pa.Array]) -> Iterator[pa.Array]:
        embedder = get_embedder(cfg)  # lazy, once per worker
        for batch in batches:
            m = embedder.embed_matrix(batch.fill_null("").to_pylist())
            offsets = np.arange(len(m) + 1, dtype=np.int32) * m.shape[1]
            yield pa.ListArray.from_arrays(offsets, m.reshape(-1))

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

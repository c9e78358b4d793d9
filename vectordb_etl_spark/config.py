"""Configuration dataclasses.

Mirrors the reference's config surface (reference: modules/config.py) with
Spark-native storage/search settings instead of Milvus connection settings.
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass
class ChunkerConfig:
    """Chunking parameters (reference: modules/config.py:76-92)."""

    chunk_size: int = 300
    chunk_overlap: int = 60
    min_chunk_size: int = 100
    max_chunk_size: int = 500
    # reference separator cascade (modules/config.py:81-92)
    separators: tuple[str, ...] = (
        "\n\n\n",
        "\n\n",
        "\n",
        ". ",
        "? ",
        "! ",
        "; ",
        ", ",
        " ",
        "",
    )
    # 'hybrid' = semantic then character (reference default); 'character_only'
    # skips the embedding-driven stage (reference fallback, chunker.py:47-63).
    chunking_mode: str = "character_only"
    semantic_breakpoint_percentile: float = 70.0


@dataclass
class EmbeddingConfig:
    """Embedding parameters (reference: modules/config.py:52-60)."""

    model_name: str = "BAAI/bge-m3"
    dimension: int = 1024
    batch_size: int = 32
    normalize: bool = True  # reference: embeddings.py:36 (=> COSINE ≡ dot)
    # 'hash' = deterministic test embedder; 'sentence-transformer' = real model
    backend: str = "hash"


@dataclass
class StoreConfig:
    """Collection store settings (replaces reference MilvusConfig,
    modules/config.py:10-43). Collections are directories of parquet under a
    warehouse root, partitioned by the ``collection`` column — the 100 TB
    layout picked in SURVEY.md §1.4.
    """

    warehouse_dir: str = "data/warehouse"
    collection_prefix: str = "html"  # name rule: collection_name() (config.py:37-43)
    metric_type: str = "COSINE"  # COSINE | IP | L2
    # what build_index builds: HNSW builds the 'graph' tier; any other
    # value, NONE included, builds IVF
    index_type: str = "IVF_FLAT"
    nlist: int = 128
    nprobe: int = 16
    ef_construction: int = 200  # HNSW build beam (reference config.py:26)
    ef_search: int = 100        # HNSW serve beam (reference config.py:27)
    text_max_len: int = 65535  # varchar truncation (milvus_store.py:207-211)
    source_max_len: int = 512
    filename_max_len: int = 256
    language_max_len: int = 32

    def collection_name(self, folder: str | None = None) -> str:
        """Reference name rule (modules/config.py:37-43, main.py:390):
        folder names are lowercased with '-'/' ' replaced by '_'; the
        'root' folder (top-level files) and None fall back to the default
        '<prefix>_documents' collection — exactly
        MilvusConfig.get_collection_name."""
        if folder and folder != "root":
            clean = folder.lower().replace("-", "_").replace(" ", "_")
            return f"{self.collection_prefix}_{clean}"
        return f"{self.collection_prefix}_documents"


@dataclass
class PipelineConfig:
    """Top-level pipeline config (reference: modules/config.py:95-126)."""

    input_dir: str = "data/input"
    checkpoint_dir: str = "data/checkpoints"
    chunker: ChunkerConfig = field(default_factory=ChunkerConfig)
    embedding: EmbeddingConfig = field(default_factory=EmbeddingConfig)
    store: StoreConfig = field(default_factory=StoreConfig)

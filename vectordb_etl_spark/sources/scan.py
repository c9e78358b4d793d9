"""Directory scans + document assembly — operators S1/S6/P8 (SURVEY.md §2.1,
§2.2; reference modules/html_loader.py:38-67, 88-109 and
modules/hwp_loader.py:338-371).

The reference walks directories with ``rglob`` one file at a time; here the
scan is Spark's ``binaryFile`` source — distributed listing, partitioned
reads, and (at 100 TB) executor-parallel parsing. File metadata (P8) is pure
column expressions over the source's ``path/length/modificationTime``;
parsing is the sanctioned pandas UDFs from :mod:`sources.html` /
:mod:`sources.hwp`.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from vectordb_etl_spark.functions import language
from vectordb_etl_spark.sources.html import html_from_binary, parse_html_udf
from vectordb_etl_spark.sources.hwp import extract_hwp_udf

MIN_VIABLE_CHARS = 10  # S6: hwp_loader.py:338-346


def scan_files(
    spark: SparkSession,
    root: str,
    glob: str = "*.{html,jsp}",
    recursive: bool = True,
) -> DataFrame:
    """S1 — recursive binary scan. Emits path/modificationTime/length/content.
    Driver-side listing is parallelized by Spark; on object stores the same
    code scales to millions of files (maxPartitionBytes governs split size)."""
    return (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", glob)
        .option("recursiveFileLookup", str(recursive).lower())
        .load(root)
    )


def file_metadata_cols(path_col: Column | str = "path") -> dict[str, Column]:
    """P8 — source path, filename, parent-folder name ('root' at top level
    is resolved by the caller since the scan root isn't visible here),
    lowercased extension, size, ISO mtime (html_loader.py:88-109)."""
    p = F.col(path_col) if isinstance(path_col, str) else path_col
    parts = F.split(p, "/")
    return {
        "source": p,
        "filename": F.element_at(parts, -1),
        "folder_name": F.element_at(parts, -2),
        "file_type": F.lower(F.regexp_extract(F.element_at(parts, -1), r"\.([^.]+)$", 1)),
        "file_size": F.col("length"),
        "modified_time": F.date_format(
            F.col("modificationTime"), "yyyy-MM-dd'T'HH:mm:ss"
        ),
    }


def _with_metadata(df: DataFrame, root: str) -> DataFrame:
    meta = file_metadata_cols()
    out = df
    for name, col in meta.items():
        out = out.withColumn(name, col)
    # top-level files get folder 'root' (html_loader.py:92-95)
    root_name = root.rstrip("/").rsplit("/", 1)[-1]
    return out.withColumn(
        "folder_name",
        F.when(F.col("folder_name") == root_name, F.lit("root")).otherwise(
            F.col("folder_name")
        ),
    )


def dynamic_meta_col(extra_meta: dict[str, Column | str]) -> Column:
    """Build the ``meta: map<string,string>`` dynamic-field column from
    loader-specific expressions (reference enable_dynamic_field,
    milvus_store.py:62-66 — loaders attach arbitrary extra metadata that
    the fixed schema doesn't declare). Values stringify; the filter
    surface casts back for numeric comparison (functions/filter_expr.py).
    """
    entries = []
    for name, col in extra_meta.items():
        c = F.col(col) if isinstance(col, str) else col
        entries += [F.lit(name), c.cast("string")]
    return F.create_map(*entries)


def _load_documents(
    spark: SparkSession,
    root: str,
    glob: str,
    parsed: Column,
    fields: tuple[str, ...],
    extra_meta: dict[str, Column | str] | None,
) -> DataFrame:
    """Scan → parse (one UDF projection, ``parsed``, a struct with the
    parser's ``fields``) → metadata + language columns → min-viable
    filter: the documents schema of SURVEY.md §1.4, shared by both
    loaders."""
    scanned = _with_metadata(scan_files(spark, root, glob), root)
    return (
        scanned.withColumn("parsed", parsed)
        .select(
            "source",
            "filename",
            "folder_name",
            "file_type",
            "file_size",
            "modified_time",
            *(F.col(f"parsed.{f}").alias(f) for f in fields),
            *(
                [dynamic_meta_col(extra_meta).alias("meta")]
                if extra_meta
                else []
            ),
        )
        .withColumn("char_count", F.length("text"))
        .withColumn("language", language.detect_language_content_col("text"))
        .filter(F.length(F.trim(F.col("text"))) >= MIN_VIABLE_CHARS)
    )


def load_html_documents(
    spark: SparkSession,
    root: str,
    extra_meta: dict[str, Column | str] | None = None,
) -> DataFrame:
    """S1+S2+S3+P3+S6 composed: scan → parse (one pandas-UDF projection) →
    metadata + language columns → min-viable filter. Returns the documents
    schema of SURVEY.md §1.4.

    ``extra_meta`` maps dynamic-field names to column expressions over the
    scan/parse columns; they land in the ``meta`` map column and ride the
    chunker passthrough into the store (enable_dynamic_field parity)."""
    return _load_documents(
        spark, root, "*.{html,jsp}",
        parse_html_udf(html_from_binary("content")),
        ("text", "title", "heading_count", "paragraph_count", "table_count",
         "list_count"),
        extra_meta,
    )


def load_hwp_documents(
    spark: SparkSession,
    root: str,
    extra_meta: dict[str, Column | str] | None = None,
) -> DataFrame:
    """S1+S4/S5+P3+S6 composed for HWP/HWPX trees (hwp_loader.py:241-371).
    ``extra_meta`` as in :func:`load_html_documents`."""
    return _load_documents(
        spark, root, "*.{hwp,hwpx}",
        extract_hwp_udf(F.col("content")),
        ("text", "title", "author", "subject", "keywords", "n_sections"),
        extra_meta,
    )

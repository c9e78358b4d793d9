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
from vectordb_etl_spark.functions.sqltext import (
    select_sql,
    sql_col,
    sql_name,
    sql_of,
    sql_string,
)
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


def file_metadata_spark_sql(
    path: str = "`path`", root: str | None = None
) -> dict[str, str]:
    """P8 — Spark SQL texts of the file metadata over the path expression
    ``path``: source path, filename, parent-folder name, lowercased
    extension, size, ISO mtime (html_loader.py:88-109). Given the scan
    ``root``, a file directly under it gets the folder 'root'
    (html_loader.py:92-95); without it the folder is the parent's name."""
    parts = f"split({path}, '/')"
    filename, folder = f"element_at({parts}, -1)", f"element_at({parts}, -2)"
    if root is not None:
        root_name = root.rstrip("/").rsplit("/", 1)[-1]
        folder = (
            f"CASE WHEN {folder} = {sql_string(root_name)} THEN 'root' "
            f"ELSE {folder} END"
        )
    extension = f"regexp_extract({filename}, '\\\\.([^.]+)$', 1)"
    return {
        "source": path,
        "filename": filename,
        "folder_name": folder,
        "file_type": f"lower({extension})",
        "file_size": "`length`",
        "modified_time": "date_format(`modificationTime`, 'yyyy-MM-dd\\'T\\'HH:mm:ss')",
    }


def file_metadata_cols(path_col: Column | str = "path") -> dict[str, Column]:
    """P8 — :func:`file_metadata_spark_sql` as Columns ('root' at top
    level is resolved by the caller since the scan root isn't visible
    here)."""
    return {k: sql_col(t) for k, t in file_metadata_spark_sql(sql_of(path_col)).items()}


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
    meta = file_metadata_spark_sql(root=root)
    scanned = select_sql(
        scan_files(spark, root, glob).withColumn("parsed", parsed),
        ["*", *(f"{t} AS {sql_name(c)}" for c, t in meta.items())],
    )
    if extra_meta:
        scanned = scanned.withColumn("meta", dynamic_meta_col(extra_meta))
    text = "`parsed`.`text`"
    return select_sql(scanned, [
        *map(sql_name, meta),
        *(f"`parsed`.{sql_name(f)} AS {sql_name(f)}" for f in fields),
        *(["`meta`"] if extra_meta else []),
        f"length({text}) AS `char_count`",
        f"{language.detect_language_content_spark_sql(text)} AS `language`",
    ]).filter(f"length(trim(`text`)) >= {MIN_VIABLE_CHARS}")


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

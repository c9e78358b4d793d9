"""Language detection (operators P3/P4 of SURVEY.md §2.2).

Two detectors that intentionally disagree (see SURVEY.md §7.4):

- P3 content detector (reference: modules/html_loader.py:116-150, duplicated
  at modules/hwp_loader.py:462-492): Hangul>10% → korean; Vietnamese
  diacritics>2% → vietnamese; ASCII alpha>30% → english; else argmax with
  korean ≥ vietnamese > english tie order; empty → korean.
- P4 query detector (reference: modules/search_utils.py:13-33): Hangul>10% →
  korean; Vietnamese (broader class, lowercased text)>5% → vietnamese; else
  english; empty → english.

All counting is ``length(x) - length(regexp_replace(x, class, ''))`` — pure
column expressions, identical in Spark and the DuckDB oracle.
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

from vectordb_etl_spark.functions.sqltext import count_matches_sql, sql_col, sql_of

# ASCII letters (reference counts c.isalpha() and ord(c) < 128)
_ENGLISH_CLASS = "[a-zA-Z]"
_KOREAN_CLASS = "[가-힣]"  # U+AC00..U+D7A3 (html_loader.py:121)
# content-detector set (html_loader.py:123)
_VIET_CONTENT_CLASS = "[ăâđêôơưĂÂĐÊÔƠƯàáảãạèéẻẽẹìíỉĩịòóỏõọùúủũụỳýỷỹỵ]"
# query-detector set, applied to lowercased text (search_utils.py:16-19)
_VIET_QUERY_CLASS = (
    "[àáạảãâầấậẩẫăằắặẳẵèéẹẻẽêềếệểễìíịỉĩòóọỏõôồốộổỗơờớợởỡùúụủũưừứựửữỳýỵỷỹđ]"
)


def _count_col(c: Column, cls: str) -> Column:
    return F.length(c) - F.length(F.regexp_replace(c, cls, ""))


def _count_sql(expr: str, cls: str) -> str:
    return f"(length({expr}) - length(regexp_replace({expr}, '{cls}', '', 'g')))"


def detect_language_content_spark_sql(expr: str) -> str:
    """Spark SQL text of the P3 content detector over the expression
    ``expr``; :func:`detect_language_content_sql` is its DuckDB twin."""
    total = f"CAST(length({expr}) AS DOUBLE)"
    kr, vi, en = (
        f"(CAST({count_matches_sql(expr, cls)} AS DOUBLE) / {total})"
        for cls in (_KOREAN_CLASS, _VIET_CONTENT_CLASS, _ENGLISH_CLASS)
    )
    return (
        f"CASE WHEN length({expr}) = 0 THEN 'korean' "
        f"WHEN {kr} > 0.1D THEN 'korean' "
        f"WHEN {vi} > 0.02D THEN 'vietnamese' "
        f"WHEN {en} > 0.3D THEN 'english' "
        f"WHEN {kr} >= {vi} AND {kr} >= {en} THEN 'korean' "
        f"WHEN {vi} >= {en} THEN 'vietnamese' "
        f"ELSE 'english' END"
    )


def detect_language_content_col(col: Column | str) -> Column:
    """P3 — content-based detector (loader flavor)."""
    return sql_col(detect_language_content_spark_sql(sql_of(col)))


def detect_language_content_sql(expr: str) -> str:
    total = f"CAST(length({expr}) AS DOUBLE)"
    kr = f"(CAST({_count_sql(expr, _KOREAN_CLASS)} AS DOUBLE) / {total})"
    vi = f"(CAST({_count_sql(expr, _VIET_CONTENT_CLASS)} AS DOUBLE) / {total})"
    en = f"(CAST({_count_sql(expr, _ENGLISH_CLASS)} AS DOUBLE) / {total})"
    return (
        f"CASE WHEN length({expr}) = 0 THEN 'korean' "
        f"WHEN {kr} > 0.10 THEN 'korean' "
        f"WHEN {vi} > 0.02 THEN 'vietnamese' "
        f"WHEN {en} > 0.30 THEN 'english' "
        f"WHEN {kr} >= {vi} AND {kr} >= {en} THEN 'korean' "
        f"WHEN {vi} >= {en} THEN 'vietnamese' "
        f"ELSE 'english' END"
    )


def detect_language_query_col(col: Column | str) -> Column:
    """P4 — query detector (search flavor; different thresholds/default)."""
    c = F.col(col) if isinstance(col, str) else col
    total = F.length(c).cast("double")
    kr = _count_col(c, _KOREAN_CLASS).cast("double") / total
    vi = _count_col(F.lower(c), _VIET_QUERY_CLASS).cast("double") / total
    return (
        F.when(F.length(c) == 0, F.lit("english"))
        .when(kr > 0.1, F.lit("korean"))
        .when(vi > 0.05, F.lit("vietnamese"))
        .otherwise(F.lit("english"))
    )


def detect_language_query_sql(expr: str) -> str:
    total = f"CAST(length({expr}) AS DOUBLE)"
    kr = f"(CAST({_count_sql(expr, _KOREAN_CLASS)} AS DOUBLE) / {total})"
    vi = f"(CAST({_count_sql(f'lower({expr})', _VIET_QUERY_CLASS)} AS DOUBLE) / {total})"
    return (
        f"CASE WHEN length({expr}) = 0 THEN 'english' "
        f"WHEN {kr} > 0.1 THEN 'korean' "
        f"WHEN {vi} > 0.05 THEN 'vietnamese' "
        f"ELSE 'english' END"
    )


def detect_language_query(text: str) -> str:
    """Driver-side P4 (used when routing a single interactive query —
    reference: search_utils.py:13-33)."""
    if len(text) == 0:
        return "english"
    kr = len(re.findall(_KOREAN_CLASS, text))
    vi = len(re.findall(_VIET_QUERY_CLASS, text.lower()))
    if kr / len(text) > 0.1:
        return "korean"
    if vi / len(text) > 0.05:
        return "vietnamese"
    return "english"

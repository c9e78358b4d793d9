"""Vector math as higher-order column expressions (operators E3/Q1 support,
SURVEY.md §2.4-2.5).

All JVM-side — `zip_with`/`aggregate` over `array<double>`; no Python in
the scoring hot path. Arrays are cast to double so Spark and the DuckDB
oracle (`list_dot_product` on `DOUBLE[]`) accumulate in the same
precision; score comparisons round to 6 dp to absorb summation-order ULPs.

Every score is built by ONE text builder, :func:`score_sql`, and parsed in
the JVM (functions/sqltext.py): a PySpark lambda costs several py4j round
trips each, the parsed text one at any dimension.

Metric-aware scoring fixes the reference's desc-only assumption
(milvus_store.py:324): COSINE/IP sort descending, L2 ascending.
"""

from __future__ import annotations

import math
import struct

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from vectordb_etl_spark.functions.sqltext import (
    jvm_static,
    sql_col,
    sql_double,
    sql_name,
    sql_of,
)

# the column that carries a query literal into a frame's score text; it
# lives for one projection (with_score) and CollapseProject inlines it
QUERY_COL = "__q"


def _as_col(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def _as_double_array(col: Column | str) -> Column:
    return _as_col(col).cast("array<double>")


def _dot_sql(a: str, b: str) -> str:
    return (
        f"aggregate(zip_with(CAST({a} AS ARRAY<DOUBLE>), "
        f"CAST({b} AS ARRAY<DOUBLE>), (x, y) -> x * y), 0.0D, (acc, x) -> acc + x)"
    )


def _norm_sql(a: str) -> str:
    return (
        f"sqrt(aggregate(CAST({a} AS ARRAY<DOUBLE>), 0.0D, "
        "(acc, x) -> acc + x * x))"
    )


def score_sql(
    emb: str, query: str, metric: str = "COSINE", query_norm: str | None = None
) -> str:
    """The similarity of the stored vectors ``emb`` to the query ``query``
    (both SQL expressions, e.g. backquoted column names) as ONE SQL text.

    Every fold is a left fold in element order, so the bits match the
    per-row formula: dot = ``aggregate(zip_with(e, q, x*y), 0.0, acc +
    x)``, norm = ``sqrt(aggregate(e, 0.0, acc + x*x))``, COSINE = ``dot /
    (norm(e) * query_norm)`` with ``query_norm`` defaulting to
    ``norm(q)``, L2 = ``sqrt`` of the left fold of squared differences.
    The optimizer removes a cast of an ``array<double>`` to itself."""
    m = metric.upper()
    if m == "COSINE":
        qn = query_norm if query_norm is not None else _norm_sql(query)
        return f"{_dot_sql(emb, query)} / ({_norm_sql(emb)} * {qn})"
    if m == "IP":
        return _dot_sql(emb, query)
    if m == "L2":
        return (
            f"sqrt(aggregate(zip_with(CAST({emb} AS ARRAY<DOUBLE>), "
            f"CAST({query} AS ARRAY<DOUBLE>), (x, y) -> x - y), 0.0D, "
            "(acc, x) -> acc + x * x))"
        )
    raise ValueError(f"unknown metric {metric!r}")


def dot_col(a: Column | str, b: Column | str) -> Column:
    """Dot product — `aggregate(zip_with(a, b, *), 0.0, +)`."""
    return sql_col(_dot_sql(sql_of(a), sql_of(b)))


def norm_col(a: Column | str) -> Column:
    """L2 norm — `sqrt(aggregate(a, 0.0, acc + x*x))`: the same left fold
    of rounded squares as `dot_col(a, a)`, without the `zip_with`."""
    return sql_col(_norm_sql(sql_of(a)))


def vector_norm(vec) -> float:
    """The L2 norm of a driver-side vector, bit-identical to
    :func:`norm_col` over the same values: the same left fold in IEEE
    doubles (no FMA, no pairwise sum), then a correctly rounded sqrt."""
    acc = 0.0
    for x in vec:
        x = float(x)
        acc = acc + x * x
    return math.sqrt(acc)


def cosine_col(
    a: Column | str, b: Column | str, b_norm: Column | float | None = None
) -> Column:
    """COSINE similarity. For L2-normalized inputs this equals dot product
    (reference relies on that: embeddings.py:36, config.py:23).

    ``b_norm`` is ``b``'s norm when the caller already has it — a driver
    float from :func:`vector_norm` for a query literal, or a column of
    per-query norms — so a query's norm is never recomputed per row."""
    if b_norm is not None:
        b_norm = sql_of(b_norm) if isinstance(b_norm, Column) else sql_double(b_norm)
    return sql_col(score_sql(sql_of(a), sql_of(b), "COSINE", b_norm))


def l2_distance_col(a: Column | str, b: Column | str) -> Column:
    return sql_col(score_sql(sql_of(a), sql_of(b), "L2"))


def l2_normalize_col(a: Column | str) -> Column:
    """E3 — mirror of normalize_embeddings=True (embeddings.py:36,46)."""
    arr = _as_double_array(a)
    n = norm_col(arr)
    return F.transform(arr, lambda x: x / n)


def vector_lit(vec, elem: str = "double") -> Column:
    """A vector as ONE Catalyst ``Literal`` of ``array<double>`` (cast to
    ``array<elem>`` when ``elem`` is not ``"double"``).

    ``F.lit(list)`` costs one py4j call per element and yields a
    ``CreateArray`` with one child per element that the analyzer walks
    again on every plan; at embedding dimensions that dominates a
    search's planning time. Here the
    values cross py4j as one big-endian byte string, are copied into a
    JVM ``double[]`` through a ``DoubleBuffer`` view and become one
    literal: five py4j calls at any dimension, through handles resolved
    once. The IEEE bits are copied exactly (``-0.0``, subnormals, NaN
    and ±inf included), so scores are unchanged.

    The JVM comes from the active SparkContext, not the active session:
    the session is thread-local and is unset in serving threads that did
    not create it."""
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    if sc is None:
        raise RuntimeError("vector_lit needs a running SparkContext")
    n = len(vec)
    arr = sc._gateway.new_array(jvm_static("double"), n)
    if n:
        jvm_static("java.nio.ByteBuffer", "wrap")(
            struct.pack(f">{n}d", *vec)
        ).asDoubleBuffer().get(arr)
    col = Column(jvm_static("org.apache.spark.sql.functions", "lit")(arr))
    return col if elem == "double" else col.cast(f"array<{elem}>")


def score_col(
    emb: Column | str,
    query: list[float] | Column,
    metric: str = "COSINE",
    query_norm: Column | None = None,
) -> Column:
    """Similarity of a stored vector against a query vector, as a Column
    that stands alone (:func:`score_sql` parsed once). A literal query is
    rendered into the text with its exact bits (:func:`sql_double`) and
    its COSINE norm folded on the driver (:func:`vector_norm`); a query
    Column (a batched search's per-row query) takes its norm from
    ``query_norm``. A frame search scores with :func:`with_score`
    instead, which carries the query as one literal. `metric` ∈ {COSINE,
    IP, L2}."""
    if isinstance(query, Column):
        q = sql_of(query)
        qn = sql_of(query_norm) if query_norm is not None else None
    else:
        q = "array({})".format(", ".join(sql_double(x) for x in query))
        qn = sql_double(vector_norm(query))
    return sql_col(score_sql(sql_of(emb), q, metric, qn))


def with_score(
    df: DataFrame,
    query: list[float],
    metric: str = "COSINE",
    emb_col: str = "embedding",
    score_name: str = "score",
    round_dp: int = 6,
) -> DataFrame:
    """``df`` plus ``score_name``: the :func:`score_sql` of ``emb_col``
    against ``query`` rounded to ``round_dp``. The query enters as one
    :func:`vector_lit` column that the score text names and the same
    projection drops; CollapseProject inlines the literal, so the
    physical plan is the single scored projection. Its COSINE norm is
    folded on the driver. Nine py4j round trips at any dimension."""
    text = score_sql(
        sql_name(emb_col), sql_name(QUERY_COL), metric,
        sql_double(vector_norm(query)),
    )
    jdf = (
        df._jdf.withColumn(QUERY_COL, vector_lit(query)._jc)
        .withColumn(score_name, sql_col(f"round({text}, {int(round_dp)})")._jc)
        .drop(QUERY_COL)
    )
    return DataFrame(jdf, df.sparkSession)


def metric_ascending(metric: str) -> bool:
    """Sort direction per metric — L2 is a distance (smaller is better)."""
    return metric.upper() == "L2"


# ---- DuckDB oracle renderings -------------------------------------------


def dot_sql(a: str, b: str) -> str:
    return f"list_dot_product(CAST({a} AS DOUBLE[]), CAST({b} AS DOUBLE[]))"


def cosine_sql(a: str, b: str) -> str:
    return f"list_cosine_similarity(CAST({a} AS DOUBLE[]), CAST({b} AS DOUBLE[]))"


# ---- SQ8 scalar quantization (Milvus SQ8 analog; storage tier) -----------
#
# Per-vector min/max int8 quantization: 1 byte per dimension instead of 8
# (array<tinyint> in parquet), dequantize + exact re-score at query time.
# Pure column expressions — deterministic, so the whole
# quantize→dequantize→score path is oracle-checkable in DuckDB with the
# same arithmetic (unlike model-based compression). Max reconstruction
# error per element is step/2 = (max-min)/510.


def sq8_quantize_col(a: Column | str) -> Column:
    """struct(codes array<tinyint>, lo double, step double). Codes are
    shifted by -128 so they store as real 1-byte TINYINTs. Constant vectors
    (step=0) encode as all-zero codes and dequantize to lo."""
    arr = _as_double_array(a)
    lo = F.array_min(arr)
    step = (F.array_max(arr) - lo) / F.lit(255.0)
    codes = F.transform(
        arr,
        lambda x: (
            F.when(step == 0, F.lit(0.0)).otherwise(F.round((x - lo) / step))
        ).cast("int")
        - 128,
    )
    return F.struct(
        codes.cast("array<tinyint>").alias("codes"),
        lo.alias("lo"),
        step.alias("step"),
    )


def sq8_dequantize_col(q: Column | str) -> Column:
    """Inverse: lo + (code+128)*step, as array<double>."""
    c = _as_col(q)
    return F.transform(
        c["codes"], lambda v: c["lo"] + (v.cast("double") + 128.0) * c["step"]
    )


def sq8_roundtrip_sql(expr: str) -> str:
    """DuckDB rendering of dequantize(quantize(expr)) — identical
    arithmetic (round() is half-away-from-zero in both engines for the
    non-negative operands here)."""
    e = f"CAST({expr} AS DOUBLE[])"
    lo = f"list_aggregate({e}, 'min')"
    step = f"((list_aggregate({e}, 'max') - {lo}) / 255.0)"
    code = (
        f"(CAST(round(CASE WHEN {step} = 0 THEN 0.0 ELSE (x - {lo}) / {step} END) "
        f"AS INTEGER) - 128)"
    )
    return (
        f"list_transform({e}, x -> {lo} + (CAST({code} AS DOUBLE) + 128.0) * {step})"
    )

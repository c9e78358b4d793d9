"""Vector math as higher-order column expressions (operators E3/Q1 support,
SURVEY.md §2.4-2.5).

All JVM-side — `zip_with`/`aggregate`/`transform` over `array<double>`; no
Python in the scoring hot path. Arrays are cast to double so Spark and the
DuckDB oracle (`list_dot_product` on `DOUBLE[]`) accumulate in the same
precision; score comparisons round to 6 dp to absorb summation-order ULPs.

Metric-aware scoring fixes the reference's desc-only assumption
(milvus_store.py:324): COSINE/IP sort descending, L2 ascending.
"""

from __future__ import annotations

import math
import struct

from pyspark import SparkContext
from pyspark.sql import Column
from pyspark.sql import functions as F


def _as_col(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def _as_double_array(col: Column | str) -> Column:
    return _as_col(col).cast("array<double>")


def dot_col(a: Column | str, b: Column | str) -> Column:
    """Dot product — `aggregate(zip_with(a, b, *), 0.0, +)`."""
    return F.aggregate(
        F.zip_with(_as_double_array(a), _as_double_array(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm_col(a: Column | str) -> Column:
    """L2 norm — `sqrt(aggregate(a, 0.0, acc + x*x))`: the same left fold
    of rounded squares as `dot_col(a, a)`, without the `zip_with`."""
    return F.sqrt(
        F.aggregate(_as_double_array(a), F.lit(0.0), lambda acc, x: acc + x * x)
    )


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
    per-query norms — so a query's norm is never recomputed per row. The
    stored side ``a`` is cast once and costs one `zip_with` (the dot) and
    two `aggregate`s; the score's bits equal the three-fold formula's."""
    arr = _as_double_array(a)
    if b_norm is None:
        b_norm = norm_col(b)
    elif not isinstance(b_norm, Column):
        b_norm = F.lit(float(b_norm))
    return dot_col(arr, b) / (norm_col(arr) * b_norm)


def l2_distance_col(a: Column | str, b: Column | str) -> Column:
    diff = F.zip_with(_as_double_array(a), _as_double_array(b), lambda x, y: x - y)
    return F.sqrt(
        F.aggregate(diff, F.lit(0.0), lambda acc, x: acc + x * x)
    )


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
    literal: a constant number of py4j calls at any dimension. The IEEE
    bits are copied exactly (``-0.0``, subnormals, NaN and ±inf included,
    which a parsed SQL string cannot express), so scores are unchanged.

    The JVM comes from the active SparkContext, not the active session:
    the session is thread-local and is unset in serving threads that did
    not create it."""
    sc = SparkContext._active_spark_context
    if sc is None:
        raise RuntimeError("vector_lit needs a running SparkContext")
    jvm = sc._jvm
    n = len(vec)
    arr = sc._gateway.new_array(jvm.double, n)
    if n:
        jvm.java.nio.ByteBuffer.wrap(
            struct.pack(f">{n}d", *vec)
        ).asDoubleBuffer().get(arr)
    col = Column(jvm.org.apache.spark.sql.functions.lit(arr))
    return col if elem == "double" else col.cast(f"array<{elem}>")


def score_col(
    emb: Column | str,
    query: list[float] | Column,
    metric: str = "COSINE",
    query_norm: Column | None = None,
) -> Column:
    """Similarity of a stored vector against a query vector.

    A literal query is one plan literal (:func:`vector_lit` — broadcast
    with the plan, no shuffle, no join) whose COSINE norm comes from the
    driver (:func:`vector_norm`), so each row pays only its own norm and
    the dot product: 1 `zip_with` and 2 `aggregate`s, with scores
    bit-identical to ``dot(e, q) / (norm(e) * norm(q))`` evaluated per
    row. A query Column (a batched search's per-row query) takes its norm
    from ``query_norm``. `metric` ∈ {COSINE, IP, L2}.
    """
    if isinstance(query, Column):
        q, q_norm = query, query_norm
    else:
        q, q_norm = vector_lit(query), vector_norm(query)
    m = metric.upper()
    if m == "COSINE":
        return cosine_col(emb, q, q_norm)
    if m == "IP":
        return dot_col(emb, q)
    if m == "L2":
        return l2_distance_col(emb, q)
    raise ValueError(f"unknown metric {metric!r}")


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

"""Deterministic, engine-portable cardinality sketches (HyperLogLog).

Beyond-reference tier: the reference engine has no sketch surface, but a
100 TB pipeline needs mergeable distinct counts (users per day, unique
grams per shard, vocabulary growth) where exact ``count(distinct)``
shuffles every value. Spark ships ``approx_count_distinct`` (HLL++), but
its register layout is JVM-private: the result can't be re-derived by
another engine, so it can't be oracle-checked and its sketches can't be
merged outside Spark. This module instead builds HLL from first
principles as PURE column expressions — ``md5``-derived 60-bit hashes,
integer bucket/rank arithmetic — so the identical formula runs on Spark
and DuckDB and produces BIT-IDENTICAL registers and estimates (the
estimator's one float step is authored with an explicit cast/operation
order both engines execute IEEE-identically; see ``hll_estimate_expr``).

Flajolet et al., "HyperLogLog: the analysis of a near-optimal cardinality
estimation algorithm" (AofA 2007); bias constant alpha_m from the paper.
The small-range linear-counting correction is deliberately omitted — it
needs ``ln``, whose low-order bits are libm-version-dependent, which
would break cross-engine hash parity. Raw-HLL error holds once
n ≳ 2.5·m; below that the estimate is deterministic but biased high
(documented, tested).

Scale shape: the sketch is ONE map-side-combined aggregation to at most
``groups × m`` register rows (m = 2^p, default 256) — partial ``max``
per (group, bucket) collapses inside each task before the exchange, so
the shuffle carries registers, never values. Registers merge by ``max``:
per-partition / per-day sketches union into global ones without touching
raw data again — the property exact distinct counting fundamentally
lacks.

Reference parity note: no counterpart in gudwls215/vectordb-etl (checked
modules/ and queries/ — distinct counts there are exact and single-node).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# 60-bit hash budget: 15 md5 hex chars (conv(...,16,10) stays exact well
# under the bigint boundary). p bucket bits leave W = 60 - p rank bits.
_HASH_HEX_CHARS = 15
_HASH_BITS = 4 * _HASH_HEX_CHARS


def _alpha_ppm(m: int) -> int:
    """HLL bias constant alpha_m in parts-per-million, hard-coded into
    BOTH engines' expressions as the same integer literal so the float
    estimator starts from identical operands."""
    if m < 128:
        # paper gives dedicated constants below 128; restrict instead of
        # silently mis-correcting
        raise ValueError(f"hll: p must be >= 7 (m >= 128); got m={m}")
    return round(1_000_000 * 0.7213 / (1 + 1.079 / m))


def hll_register_cols(value: Column | str, p: int = 8) -> tuple[Column, Column]:
    """(bucket, rho) columns for one value: bucket = low p bits of the
    60-bit md5 hash, rho = leading-zero count of the remaining W bits
    plus one (the HLL rank). Pure JVM expressions — ``conv``/``bin``
    string ops and integer arithmetic, no UDF."""
    m = 1 << p
    w = _HASH_BITS - p
    v = F.col(value) if isinstance(value, str) else value
    h = F.conv(
        F.substring(F.md5(v.cast("string")), 1, _HASH_HEX_CHARS), 16, 10
    ).cast("bigint")
    bucket = (h % m).cast("int").alias("__hll_bucket")
    # h >> p, NOT (h - h%m)/m: Spark's `/` routes bigints through double,
    # which rounds above 2^53 — the shift is exact integer arithmetic and
    # equals DuckDB's `h // m` for the non-negative h here
    rem = F.shiftright(h, p).cast("bigint")
    # bit length via bin(): rem > 0 -> length of its binary string;
    # rem = 0 -> rank saturates at W + 1
    rho = (
        F.when(rem == 0, F.lit(w + 1))
        .otherwise(F.lit(w + 1) - F.length(F.bin(rem)))
        .cast("int")
        .alias("__hll_rho")
    )
    return bucket, rho


def hll_registers(
    df: DataFrame,
    value_col: str,
    group_cols: list[str] | None = None,
    p: int = 8,
) -> DataFrame:
    """The sketch itself: one row per (group, bucket) with the max rank.
    This is the mergeable artifact — union register tables from any
    partitioning of the data and take ``max(max_rho)`` per (group,
    bucket) to get the sketch of the union (tested property)."""
    group_cols = group_cols or []
    bucket, rho = hll_register_cols(value_col, p)
    base = df.filter(F.col(value_col).isNotNull()).select(
        *group_cols, bucket, rho
    )
    return base.groupBy(*group_cols, "__hll_bucket").agg(
        F.max("__hll_rho").alias("max_rho")
    )


def hll_merge(registers: DataFrame, group_cols: list[str] | None = None) -> DataFrame:
    """Merge register tables (max per bucket) — the union-sketch op."""
    group_cols = group_cols or []
    return registers.groupBy(*group_cols, "__hll_bucket").agg(
        F.max("max_rho").alias("max_rho")
    )


def hll_estimate_expr(p: int = 8) -> Column:
    """Aggregate Column turning grouped registers into the estimate.

    Integer part first: S_scaled = sum over present buckets of
    2^(W+1 - max_rho) plus 2^(W+1) per EMPTY bucket (empty contributes
    2^-0 = 1 to the harmonic sum) — exact bigint, max m·2^(W+1) = 2^61.
    The accumulator is scaled by 2^(W+1), not 2^W, so the saturated
    rank rho = W+1 (all rank bits zero, ~2^-52/value) shifts by 0
    instead of the illegal -1 — this IS the canonical textbook
    2^-rho sum with no clamp (a greatest(...,0) clamp would map rho=W+1
    to the rho=W contribution, a tiny downward-variance bias). For every
    non-saturated register S_scaled is exactly 2x the 2^W-scaled sum —
    a power-of-two scale that cancels in the divide — so the two scalings
    differ only in the saturated case.
    Then the one float step, authored operation-for-operation the same
    in :func:`hll_estimate_sql_exprs`: S = S_scaled / 2^(W+1) (double;
    the bigint→double cast and the power-of-two divide are
    IEEE-identical cross-engine), estimate =
    floor(alpha_ppm · m · m / 1e6 / S), all left-associated double ops
    on identical operands → identical bits → identical floor."""
    m = 1 << p
    w = _HASH_BITS - p
    two_w1 = 1 << (w + 1)
    alpha = _alpha_ppm(m)
    s_scaled = (
        # rho ∈ [1, W+1] by construction, so the shift W+1-rho ∈ [0, W]
        F.sum(
            F.expr(
                f"shiftleft(CAST(1 AS BIGINT),"
                f" CAST({w + 1} - max_rho AS INT))"
            )
        )
        + (F.lit(m) - F.count("*")).cast("bigint") * F.lit(two_w1)
    )
    s = s_scaled.cast("double") / F.lit(float(two_w1))
    est = F.floor(
        F.lit(float(alpha)) * F.lit(float(m)) * F.lit(float(m))
        / F.lit(1000000.0)
        / s
    ).cast("bigint")
    return est


def hll_distinct(
    df: DataFrame,
    value_col: str,
    group_cols: list[str] | None = None,
    p: int = 8,
) -> DataFrame:
    """Per-group approximate distinct count: ``(group..., n_buckets_used,
    hll_est)``. Two map-side-combined aggregations; the exchange carries
    at most groups × m register rows."""
    group_cols = group_cols or []
    regs = hll_registers(df, value_col, group_cols, p)
    return regs.groupBy(*group_cols).agg(
        F.count("*").cast("bigint").alias("n_buckets_used"),
        hll_estimate_expr(p).alias("hll_est"),
    )


# --------------------------------------------------------------------------
# DuckDB oracle twins — same formula, rendered as SQL text
# --------------------------------------------------------------------------


def hll_registers_sql(
    source_sql: str,
    value_col: str,
    group_cols: list[str] | None = None,
    p: int = 8,
) -> str:
    """Register-table oracle: identical hash/bucket/rank arithmetic.
    DuckDB's ``CAST('0x'||hex AS BIGINT)`` equals Spark's
    ``conv(hex, 16, 10)`` for 15 hex chars (both exact under 2^60)."""
    m = 1 << p
    w = _HASH_BITS - p
    gs = group_cols or []
    gsel = "".join(f"{g}, " for g in gs)
    gby = "".join(f", {g}" for g in gs)
    return f"""
WITH hashed AS (
  SELECT {gsel}
         CAST('0x' || substring(md5(CAST({value_col} AS VARCHAR)), 1,
                                {_HASH_HEX_CHARS}) AS BIGINT) AS h
  FROM ({source_sql}) WHERE {value_col} IS NOT NULL
), br AS (
  SELECT {gsel}
         CAST(h % {m} AS INT) AS __hll_bucket,
         CAST(CASE WHEN h // {m} = 0 THEN {w + 1}
              ELSE {w + 1} - length(bin(h // {m})) END AS INT) AS rho
  FROM hashed
)
SELECT {gsel}__hll_bucket, max(rho) AS max_rho
FROM br GROUP BY __hll_bucket{gby}
"""


def hll_distinct_sql(
    source_sql: str,
    value_col: str,
    group_cols: list[str] | None = None,
    p: int = 8,
) -> str:
    """Estimate oracle — the same integer S_scaled and the same
    cast/operation order for the single float step (see
    :func:`hll_estimate_expr`); every numeric literal is CAST to DOUBLE
    explicitly because bare decimal literals parse as DECIMAL in DuckDB,
    which would change the arithmetic type and the bits."""
    gs = group_cols or []
    gsel = "".join(f"{g}, " for g in gs)
    gby_cols = ", ".join(gs)
    gby = f" GROUP BY {gby_cols}" if gs else ""
    regs = hll_registers_sql(source_sql, value_col, gs, p)
    return f"""
WITH regs AS ({regs})
SELECT {gsel}
       {hll_estimate_sql_exprs(p)}
FROM regs{gby}
"""


def hll_estimate_sql_exprs(p: int = 8) -> str:
    """The two estimator select expressions (``n_buckets_used``,
    ``hll_est``) over a GROUPED register relation exposing ``max_rho`` —
    reusable wherever registers come from something other than raw rows
    (merged/rolled-up/streamed register tables)."""
    m = 1 << p
    w = _HASH_BITS - p
    two_w1 = 1 << (w + 1)
    alpha = _alpha_ppm(m)
    # 2^(W+1) accumulator scaling — rho <= W+1 keeps the shift
    # non-negative with no clamp (the canonical 2^-rho sum; see
    # hll_estimate_expr)
    return f"""CAST(count(*) AS BIGINT) AS n_buckets_used,
       CAST(floor(
         CAST({alpha} AS DOUBLE) * CAST({m} AS DOUBLE) * CAST({m} AS DOUBLE)
         / CAST(1000000 AS DOUBLE)
         / (CAST(sum(CAST(1 AS BIGINT) << ({w + 1} - max_rho))
                 + ({m} - count(*)) * CAST({two_w1} AS BIGINT) AS DOUBLE)
            / CAST({two_w1} AS DOUBLE))
       ) AS BIGINT) AS hll_est"""


# --------------------------------------------------------------------------
# KMV (k minimum values) — distinct-count + set-overlap sketch
# --------------------------------------------------------------------------
#
# HLL above answers "how many distinct"; KMV additionally answers "how much
# do two sets OVERLAP" (Jaccard / intersection), which HLL registers cannot
# (Beyer et al., "On synopses for distinct-value estimation under multiset
# operations", SIGMOD 2007). The sketch is simply the k smallest distinct
# 60-bit md5 hash values — order statistics, so:
#   * union-merge = k smallest of the concatenated registers,
#   * J(A, B) ≈ |K(A∪B) ∩ K(A) ∩ K(B)| / k  (pure integer counting),
#   * n_distinct ≈ (k-1) · 2^60 / h_(k)  (one pinned-order float step).
# The k-smallest-distinct computation is TakeOrdered-shaped in Spark (per-
# partition top-k, then merge — no full sort, no full shuffle of values).


def kmv_registers(
    df: DataFrame,
    value_col: str,
    k: int = 256,
) -> DataFrame:
    """The sketch: k smallest DISTINCT 60-bit hashes of ``value_col`` as
    one column ``h``. Plan shape: hash projection → partial distinct →
    TakeOrderedAndProject (per-partition k-smallest, single merge) — the
    values themselves never shuffle."""
    if k < 2:
        raise ValueError(f"kmv: k must be >= 2; got {k}")
    v = F.col(value_col)
    h = F.conv(
        F.substring(F.md5(v.cast("string")), 1, _HASH_HEX_CHARS), 16, 10
    ).cast("bigint")
    return (
        df.filter(v.isNotNull())
        .select(h.alias("h"))
        .distinct()
        .orderBy("h")
        .limit(k)
    )


def kmv_merge(a: DataFrame, b: DataFrame, k: int = 256) -> DataFrame:
    """Union sketch: k smallest of the combined registers."""
    return a.unionByName(b).distinct().orderBy("h").limit(k)


def kmv_estimate_cols(k: int):
    """Aggregate columns over a register set: ``n_regs`` (may be < k for
    small sets — then the count IS exact) and ``n_distinct_est`` via the
    (k-1)·2^60/h_(k) order-statistic estimator, float step pinned the
    same way as the HLL estimator (explicit casts, fixed operation
    order). When the set has fewer than k distinct values the estimator
    is bypassed — the register count is the exact answer."""
    n = F.count("*").cast("bigint")
    kth = F.max("h")
    est = F.floor(
        F.lit(float(k - 1))
        * F.lit(float(1 << _HASH_BITS))
        / kth.cast("double")
    ).cast("bigint")
    return [
        n.alias("n_regs"),
        F.when(n < k, n).otherwise(est).alias("n_distinct_est"),
    ]


def kmv_jaccard(
    a: DataFrame,
    b: DataFrame,
    k: int = 256,
) -> DataFrame:
    """Jaccard similarity estimate between two register sets: the
    fraction of the union's k smallest hashes present in BOTH sides —
    integer counting, ``jaccard_ppm = 1e6 · matches // |K(A∪B)|``.
    Returns one row: (n_union_regs, n_both, jaccard_ppm).

    ``a``/``b`` are consumed by THREE plan branches (union + two
    semi-joins): when they are lazy register pipelines over big inputs,
    ``localCheckpoint(eager=True)`` them first so the TakeOrdered scan
    runs once per side, not once per consumer (the registered
    kmv_corpus_overlap query does exactly this)."""
    merged = kmv_merge(a, b, k)
    both = merged.join(a, "h", "left_semi").join(b, "h", "left_semi")
    m = merged.agg(F.count("*").alias("n_union_regs"))
    nb = both.agg(F.count("*").alias("n_both"))
    return (
        m.crossJoin(nb)
        .select(
            "n_union_regs",
            "n_both",
            F.expr("(1000000 * n_both) DIV n_union_regs").alias(
                "jaccard_ppm"
            ),
        )
    )


def kmv_difference(
    a: DataFrame,
    b: DataFrame,
    k: int = 256,
) -> DataFrame:
    """Distinct-count estimate of the set DIFFERENCE |A \\ B| — the
    multiset operation HLL registers cannot answer and KMV order
    statistics can (Beyer et al. 2007): among the union's k smallest
    hashes, the fraction present in A but NOT in B, scaled by the
    union-cardinality estimate. Returns one row
    ``(n_union_regs, n_only_a, diff_est)`` with
    ``diff_est = (n_only_a · est(|A∪B|)) DIV n_union_regs`` — the one
    float step is inside the union estimator (pinned as everywhere);
    the rest is integer counting, hash-exact cross-engine.

    Same consumer caveat as :func:`kmv_jaccard`: ``a``/``b`` feed three
    plan branches — localCheckpoint lazy register pipelines first."""
    merged = kmv_merge(a, b, k)
    only_a = merged.join(a, "h", "left_semi").join(b, "h", "left_anti")
    u = merged.agg(*kmv_estimate_cols(k))
    na = only_a.agg(F.count("*").cast("bigint").alias("n_only_a"))
    return u.crossJoin(na).select(
        F.col("n_regs").alias("n_union_regs"),
        "n_only_a",
        F.expr("(n_only_a * n_distinct_est) DIV n_regs").alias("diff_est"),
    )


def kmv_hash_sql(value_expr: str) -> str:
    """The hash expression as DuckDB SQL (identical to Spark's conv)."""
    return (
        f"CAST('0x' || substring(md5(CAST({value_expr} AS VARCHAR)), 1, "
        f"{_HASH_HEX_CHARS}) AS BIGINT)"
    )


def kmv_registers_sql(source_sql: str, value_col: str, k: int = 256) -> str:
    if k < 2:
        raise ValueError(f"kmv: k must be >= 2; got {k}")
    return (
        f"SELECT DISTINCT {kmv_hash_sql(value_col)} AS h "
        f"FROM ({source_sql}) WHERE {value_col} IS NOT NULL "
        f"ORDER BY h LIMIT {k}"
    )


# --------------------------------------------------------------------------
# Count-Min sketch — frequency estimation / heavy hitters
# --------------------------------------------------------------------------
#
# Third leg of the sketch suite: HLL = how many distinct, KMV = how much
# overlap, Count-Min = how OFTEN each value occurs (Cormode & Muthukrishnan,
# "An improved data stream summary: the count-min sketch and its
# applications", J. Algorithms 2005). d independent hash rows × w counters;
# point estimate = min over rows of the hit counter — always an
# OVERestimate, within eps·N with probability 1-delta for w = e/eps,
# d = ln(1/delta). Counters are exact integer sums of md5-derived
# positions, so sketch AND estimates are bit-identical cross-engine, and
# sketches merge by plain counter addition (the property that lets per-day
# token-frequency sketches roll up into corpus heavy-hitter tables without
# rescanning — the vocabulary-building shape at 100 TB).


def _cm_pos_expr(value_sql_or_col, row: int, w: int):
    """Counter column for hash row ``row``: md5 of 'row|value', low 60
    bits mod w. Returned as a Spark Column; the SQL twin renders the
    identical arithmetic."""
    v = (
        F.col(value_sql_or_col)
        if isinstance(value_sql_or_col, str)
        else value_sql_or_col
    )
    h = F.conv(
        F.substring(
            F.md5(F.concat_ws("|", F.lit(str(row)), v.cast("string"))),
            1,
            _HASH_HEX_CHARS,
        ),
        16,
        10,
    ).cast("bigint")
    return (h % w).cast("int")


def cm_sketch(
    df: DataFrame,
    value_col: str,
    d: int = 4,
    w: int = 256,
) -> DataFrame:
    """The sketch: ``(row, pos, cnt)`` counters — one map-side-combined
    aggregation over d exploded hash rows per value (shuffle carries ≤
    d·w counter rows after partial combine). Merge two sketches by
    unioning and summing ``cnt`` per (row, pos)."""
    if d < 1 or w < 2:
        raise ValueError(f"cm_sketch: need d >= 1, w >= 2; got d={d}, w={w}")
    pairs = F.array(
        *[
            F.struct(
                F.lit(i).alias("row"), _cm_pos_expr(value_col, i, w).alias("pos")
            )
            for i in range(d)
        ]
    )
    ex = (
        df.filter(F.col(value_col).isNotNull())
        .select(F.explode(pairs).alias("rp"))
        .select("rp.row", "rp.pos")
    )
    return ex.groupBy("row", "pos").agg(F.count("*").cast("bigint").alias("cnt"))


def cm_merge(a: DataFrame, b: DataFrame) -> DataFrame:
    """Merged sketch: counter-wise sum."""
    return (
        a.unionByName(b)
        .groupBy("row", "pos")
        .agg(F.sum("cnt").cast("bigint").alias("cnt"))
    )


def cm_lookup(
    sketch: DataFrame,
    candidates: DataFrame,
    value_col: str,
    d: int = 4,
    w: int = 256,
) -> DataFrame:
    """Point estimates for a candidate-value table: each candidate joins
    its d counters (candidates broadcast — they are the small side by
    construction) and takes the min; absent counters count 0. Returns the
    candidate rows plus ``cm_est``."""
    pairs = F.array(
        *[
            F.struct(
                F.lit(i).alias("row"), _cm_pos_expr(value_col, i, w).alias("pos")
            )
            for i in range(d)
        ]
    )
    ex = candidates.select(
        F.col(value_col), F.explode(pairs).alias("rp")
    ).select(value_col, "rp.row", "rp.pos")
    hit = ex.join(F.broadcast(sketch), ["row", "pos"], "left").select(
        value_col, F.coalesce(F.col("cnt"), F.lit(0).cast("bigint")).alias("c")
    )
    est = hit.groupBy(value_col).agg(F.min("c").alias("cm_est"))
    # join the estimates back so every candidate column survives — the
    # declared contract, and the shape cm_lookup_sql's `c.*, cm_est`
    # returns; est is ≤ one row per candidate value, so broadcast it.
    # LEFT join + coalesce: a NULL candidate value never equi-joins (and
    # the sketch never counted NULLs), but the row itself must survive
    # with cm_est = 0 — one output row per candidate row, no silent drop
    return candidates.join(F.broadcast(est), value_col, "left").withColumn(
        "cm_est", F.coalesce(F.col("cm_est"), F.lit(0).cast("bigint"))
    )


def cm_sketch_sql(source_sql: str, value_col: str, d: int = 4, w: int = 256) -> str:
    """DuckDB twin of :func:`cm_sketch` (union-all of the d hash rows)."""
    if d < 1 or w < 2:
        raise ValueError(f"cm_sketch: need d >= 1, w >= 2; got d={d}, w={w}")
    rows = " UNION ALL ".join(
        f"SELECT {i} AS row, CAST({_cm_pos_sql(value_col, i, w)} AS INT) AS pos "
        f"FROM ({source_sql}) WHERE {value_col} IS NOT NULL"
        for i in range(d)
    )
    return (
        f"SELECT row, pos, CAST(count(*) AS BIGINT) AS cnt FROM ({rows}) "
        "GROUP BY row, pos"
    )


def _cm_pos_sql(value_expr: str, row: int, w: int) -> str:
    return (
        f"(CAST('0x' || substring(md5('{row}' || '|' || "
        f"CAST({value_expr} AS VARCHAR)), 1, {_HASH_HEX_CHARS}) AS BIGINT) "
        f"% {w})"
    )


def cm_lookup_sql(
    sketch_sql: str,
    candidates_sql: str,
    value_col: str,
    d: int = 4,
    w: int = 256,
) -> str:
    """DuckDB twin of :func:`cm_lookup`: candidates (must expose
    ``value_col``) keep their other columns; adds ``cm_est``."""
    probes = " UNION ALL ".join(
        f"SELECT {value_col}, {i} AS row, "
        f"CAST({_cm_pos_sql(value_col, i, w)} AS INT) AS pos "
        f"FROM cands"
        for i in range(d)
    )
    return f"""
WITH cands AS MATERIALIZED ({candidates_sql}),
sk AS MATERIALIZED ({sketch_sql}),
probe AS ({probes}),
est AS (
  SELECT {value_col}, CAST(min(coalesce(sk.cnt, 0)) AS BIGINT) AS cm_est
  FROM probe LEFT JOIN sk ON sk.row = probe.row AND sk.pos = probe.pos
  GROUP BY {value_col}
)
SELECT c.{value_col}, c.* EXCLUDE ({value_col}),
       CAST(coalesce(est.cm_est, 0) AS BIGINT) AS cm_est
FROM cands c LEFT JOIN est USING ({value_col})
"""


def cm_join_size(a: DataFrame, b: DataFrame, d: int = 4) -> DataFrame:
    """Equi-join CARDINALITY estimate from two Count-Min sketches built
    over the two join-key columns (same d/w): |A ⋈ B| = Σ_v fA(v)·fB(v),
    estimated as min over hash rows of the counter inner product
    (Cormode & Muthukrishnan §4.2 — each row's product OVERestimates by
    collision mass, so the min is the tightest). The query-planning
    primitive: decide broadcast vs shuffle vs salt BEFORE running a
    100 TB join, from two d·w-row sketches. Returns one row
    ``(join_size_est)``; exact when no row has collisions. Pure integer,
    so it hash-matches the SQL twin."""
    prod = (
        a.select("row", "pos", F.col("cnt").alias("ca"))
        .join(
            b.select("row", "pos", F.col("cnt").alias("cb")),
            ["row", "pos"],
        )
        .groupBy("row")
        .agg(F.sum(F.col("ca") * F.col("cb")).cast("bigint").alias("ip"))
    )
    # rows with NO overlapping counters contribute inner product 0 — the
    # min must see them, so reinstate absent rows as 0
    rows = a.sparkSession.range(d).select(F.col("id").cast("int").alias("row"))
    full = rows.join(prod, "row", "left").select(
        F.coalesce("ip", F.lit(0).cast("bigint")).alias("ip")
    )
    return full.agg(F.min("ip").alias("join_size_est"))


def cm_join_size_sql(
    sketch_a_sql: str, sketch_b_sql: str, d: int = 4
) -> str:
    """DuckDB twin of :func:`cm_join_size`."""
    return f"""
WITH a AS MATERIALIZED ({sketch_a_sql}),
b AS MATERIALIZED ({sketch_b_sql}),
prod AS (
  SELECT a.row, CAST(sum(a.cnt * b.cnt) AS BIGINT) AS ip
  FROM a JOIN b ON a.row = b.row AND a.pos = b.pos
  GROUP BY a.row
), rows AS (SELECT unnest(range({d})) AS row)
SELECT CAST(min(coalesce(prod.ip, 0)) AS BIGINT) AS join_size_est
FROM rows LEFT JOIN prod ON prod.row = rows.row
"""


# -- Misra-Gries heavy hitters -------------------------------------------


def misra_gries_partials(
    df: DataFrame, value_col: str, capacity: int
) -> DataFrame:
    """Per-partition Misra-Gries summaries: ≤ ``capacity`` ``(item, w)``
    rows per partition, where ``w`` underestimates the partition count
    by at most ``n_p/(capacity+1)`` (Misra & Gries 1982; batch-merge
    reduction per Agarwal et al., "Mergeable Summaries", PODS 2012:
    fold each Arrow batch's exact value_counts into the summary, then
    shrink over capacity by subtracting the (capacity+1)-th largest
    weight from all and dropping non-positives — the vectorized
    equivalent of the classic decrement loop, no per-row Python).

    The guarantee that matters downstream: any item with GLOBAL count
    > n/capacity must, by pigeonhole, exceed n_p/(capacity+1) in some
    partition and therefore survives that partition's summary — the
    union of partials is a complete candidate set for
    :func:`heavy_hitters`'s exact verification pass. Summary CONTENT
    beyond that set may vary with row order; the final operator output
    never does."""
    import pandas as pd

    from pyspark.sql.types import LongType, StructField, StructType

    field = df.schema[value_col]
    schema = StructType(
        [StructField("item", field.dataType), StructField("w", LongType())]
    )

    def summarize(batches):
        acc = None
        for pdf in batches:
            vc = pdf[value_col].value_counts()  # exact, vectorized
            acc = vc if acc is None else acc.add(vc, fill_value=0)
            if len(acc) > capacity:
                cut = acc.nlargest(capacity + 1).iloc[-1]
                acc = acc - cut
                acc = acc[acc > 0]
        if acc is None or acc.empty:
            return
        yield pd.DataFrame(
            {"item": acc.index, "w": acc.values.astype("int64")}
        )

    return df.select(value_col).mapInPandas(summarize, schema)


def heavy_hitters(df: DataFrame, value_col: str, k: int) -> DataFrame:
    """EXACT frequent items — every value with count > n/k — in two
    bounded passes, never a full groupBy over the value domain:

    1. candidate discovery: :func:`misra_gries_partials` with capacity
       ``k`` reduces each partition to ≤ k rows map-side; the distinct
       union (≤ k·partitions rows, a sliver) is a guaranteed superset
       of the answer.
    2. exact verify: a broadcast semi join prunes the corpus to
       candidate rows only, then one small groupBy counts them exactly;
       ``cnt·k > n`` keeps the true heavy hitters.

    At 100 TB this is the difference between shuffling a billion-key
    vocabulary and shuffling ≤ k·partitions candidate rows + the pruned
    counts: the heavy-key scan stays map-side both passes. Output
    ``(item, cnt)`` is exact and deterministic (candidate-set variance
    cannot leak: verification counts are exact and the threshold is a
    pure integer predicate), so a plain GROUP BY/HAVING oracle
    hash-matches. Ties need no breaking — output is a set with exact
    counts, ordered (cnt desc, item asc)."""
    # NULL keys are excluded on both engines (value_counts drops them;
    # the oracle filters them) — a NULL "item" is not a vocabulary member
    vals = df.select(value_col).where(F.col(value_col).isNotNull())
    cands = (
        misra_gries_partials(vals, value_col, k)
        .select(F.col("item").alias(value_col))
        .distinct()
    )
    total = vals.agg(F.count("*").cast("bigint").alias("__n"))
    exact = (
        vals.join(F.broadcast(cands), [value_col], "left_semi")
        .groupBy(value_col)
        .agg(F.count("*").cast("bigint").alias("cnt"))
    )
    return (
        exact.crossJoin(F.broadcast(total))
        .filter(F.col("cnt") * k > F.col("__n"))
        .select(F.col(value_col).alias("item"), "cnt")
        .orderBy(F.desc("cnt"), F.asc("item"))
    )


def heavy_hitters_sql(source_sql: str, value_col: str, k: int) -> str:
    """DuckDB twin of :func:`heavy_hitters` — the semantics stated
    directly: GROUP BY + HAVING against the total."""
    return f"""
WITH hh_src AS MATERIALIZED (
  SELECT {value_col} AS item FROM ({source_sql})
  WHERE {value_col} IS NOT NULL),
hh_n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM hh_src)
SELECT item, CAST(count(*) AS BIGINT) AS cnt
FROM hh_src CROSS JOIN hh_n
GROUP BY item, n HAVING count(*) * {k} > n
ORDER BY cnt DESC, item ASC
"""


# --------------------------------------------------------------------------
# Fixed-domain bitmap — EXACT distinct counting
# --------------------------------------------------------------------------
#
# The exact sibling of the HLL register table, for the case where the
# value domain is bounded non-negative integers (surrogate user/order
# ids): set bit v in a word table, count bits. Same lifecycle as the
# sketches — mergeable (bit_or), persistable as parquet, streamable —
# but zero error. The 100 TB trade: COUNT(DISTINCT) shuffles every
# (group, value) pair; the bitmap shuffles at most the TOUCHED words per
# group after map-side combine (domain/63 worst case, dense-domain ids
# in practice collapse thousands of values into one word row each), and
# unlike exact-distinct state it re-aggregates across grains for free.
# Words carry 63 bits — bit 63 is the bigint sign bit and DuckDB errors
# on 1<<63 (see operators/bloom.py) — keeping every engine bit-equal.


def bitmap_registers(
    df: DataFrame,
    value_col: str,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """(group_cols..., word, bits) word table with bit ``v mod 63`` of
    word ``v div 63`` set for every distinct NON-NEGATIVE integer value
    v (a negative value raises at execution — a bitmap cannot represent
    it). NULLs contribute nothing, matching COUNT(DISTINCT)."""
    group_cols = group_cols or []
    v = F.col(value_col)
    checked = F.when(
        v < 0,
        F.raise_error(
            F.concat(
                F.lit("bitmap_registers: negative value "), v.cast("string")
            )
        ).cast("bigint"),
    ).otherwise(v.cast("bigint"))
    return (
        df.where(v.isNotNull())
        .select(*group_cols, checked.alias("__v"))
        .select(
            *group_cols,
            F.expr("__v DIV 63").alias("word"),
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(__v % 63 AS INT))").alias("b"),
        )
        .groupBy(*group_cols, "word")
        .agg(F.bit_or("b").alias("bits"))
    )


def bitmap_merge(
    registers: DataFrame, group_cols: list[str] | None = None
) -> DataFrame:
    """Merge word tables built by :func:`bitmap_registers` (union of the
    underlying value sets): word-wise bit_or — commutative, associative,
    idempotent, so incremental/streamed maintenance absorbs replays."""
    group_cols = group_cols or []
    return registers.groupBy(*group_cols, "word").agg(
        F.bit_or("bits").alias("bits")
    )


def bitmap_distinct(
    df: DataFrame,
    value_col: str,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """EXACT distinct count per group via the word bitmap: build
    registers, then sum bit_count(word). Result column ``n_distinct``
    (bigint) equals COUNT(DISTINCT value_col) — the registered oracle
    states exactly that, an independent restatement rather than the same
    arithmetic twice."""
    group_cols = group_cols or []
    regs = bitmap_registers(df, value_col, group_cols)
    return regs.groupBy(*group_cols).agg(
        F.sum(F.bit_count("bits")).cast("bigint").alias("n_distinct")
    )

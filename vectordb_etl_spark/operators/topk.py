"""Top-k similarity search — operators Q1/Q2/Q3 (SURVEY.md §2.5).

Exact tier: score every (filtered) vector against a literal query vector and
take the global top-k. The Catalyst plan is the one you want at 100 TB:

    parquet scan (language/collection predicates pushed down, columns pruned)
      → whole-stage-codegen projection computing the score (zip_with/aggregate)
        → TakeOrderedAndProject (per-partition heap top-k, then driver merge
          of k·num_partitions rows — no global sort, no shuffle)

The query vector is a plan literal (broadcast with the task binaries) and
the score one parsed SQL text (functions/vector.py:with_score), so the
plan costs a constant number of py4j round trips at any dimension. The
Q2 fan-out (reference modules/milvus_store.py:301-325) is ``topk_search``
over the store scan without a collection filter: one job, the query
embedded once, the ``collection`` column kept as the hit's tag. The
approximate tier (IVF partition pruning) is in operators/ann.py.

Determinism: ties on score are broken by ``tie_break`` columns so the same
k rows are selected on any partitioning (and by the DuckDB oracle).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from vectordb_etl_spark.functions.sqltext import select_names, sort_limit
from vectordb_etl_spark.functions.vector import metric_ascending, with_score


def topk_search(
    df: DataFrame,
    query: list[float],
    k: int = 3,
    metric: str = "COSINE",
    predicate: Column | None = None,
    emb_col: str = "embedding",
    score_name: str = "score",
    tie_break: list[str] | None = None,
    output_cols: list[str] | None = None,
    round_dp: int = 6,
) -> DataFrame:
    """Q1 — exact top-k vector search with optional scalar predicate
    (reference: modules/milvus_store.py:254-299; filter composition at 295).

    ``round_dp`` rounds the score so ordering/selection is reproducible
    across engines and partitionings.
    """
    if predicate is not None:
        df = df.filter(predicate)
    scored = with_score(df, query, metric, emb_col, score_name, round_dp)
    out = sort_limit(
        scored,
        [(score_name, metric_ascending(metric))]
        + [(c, True) for c in tie_break or []],
        k,
    )
    if output_cols is not None:
        out = select_names(out, [*output_cols, score_name])
    return out


def search_per_group_topk(
    df: DataFrame,
    query: list[float],
    k: int = 3,
    metric: str = "COSINE",
    group_col: str = "collection",
    emb_col: str = "embedding",
    score_name: str = "score",
    tie_break: list[str] | None = None,
    round_dp: int = 6,
) -> DataFrame:
    """Top-k *within each* group (per-collection hit lists before the global
    merge — what the reference's per-collection loop produces at
    milvus_store.py:314-317). Window rank per group; one shuffle on the
    group key."""
    from pyspark.sql.window import Window

    scored = with_score(df, query, metric, emb_col, score_name, round_dp)
    order = [
        F.col(score_name).asc() if metric_ascending(metric) else F.col(score_name).desc()
    ]
    for c in tie_break or []:
        order.append(F.col(c).asc())
    w = Window.partitionBy(group_col).orderBy(*order)
    return (
        scored.withColumn("__rank", F.row_number().over(w))
        .filter(F.col("__rank") <= k)
        .drop("__rank")
    )


def hybrid_rrf_search(
    df: DataFrame,
    query_terms: list[str],
    query_vec: list[float],
    k: int = 10,
    rrf_k: int = 60,
    pool_factor: int = 20,
    text_col: str = "text",
    emb_col: str = "embedding",
    id_col: str = "doc_id",
) -> DataFrame:
    """Hybrid retrieval — keyword rank ⊕ vector rank fused with Reciprocal
    Rank Fusion: rrf = Σ 1/(rrf_k + rank_i) over the branches where the
    document appears. The standard fusion for vector databases that serve
    both lexical and semantic recall (RRF is rank-only, so the two score
    scales never need calibration).

    Scale shape: each branch is first CUT to a bounded candidate pool of
    ``k * pool_factor`` rows via orderBy().limit() — TakeOrderedAndProject,
    a per-partition heap top-N with a driver merge, never a global sort.
    Within-pool row_number equals the branch's global rank for every pool
    member (the pool IS the global top-N in rank order), so the fusion is
    exact over the pooled candidates; documents outside a branch's pool
    carry a NULL rank there and contribute nothing for that branch — the
    standard candidate-list RRF semantics. Ranking runs over the unioned
    pools with a window PARTITIONED BY branch (never an empty partition
    spec), and its input is ≤ 2·k·pool_factor rows regardless of corpus
    size. Deterministic ties: (score, id) within branches, (rrf, id) on
    the fused output."""
    import re

    from pyspark.sql.window import Window

    def _term_pattern(term: str) -> str:
        # re.escape: terms like "c++" or "a.b" must match literally
        # (backslash-escaped punctuation is Java-regex compatible). A \b
        # anchor is only valid against a WORD-character edge — "\bc\+\+\b"
        # can never match because no boundary exists between '+' and a
        # space — AND the edge test must use JAVA's word-char set
        # ([A-Za-z0-9_], ASCII-only by default), not Python's Unicode \w:
        # a Hangul/CJK term edge is a non-word char to java.util.regex, so
        # anchoring it would make the term unmatchable; unanchored
        # substring match is the correct semantic there (no space-delimited
        # words in CJK text anyway).
        lead = r"\b" if re.match(r"[A-Za-z0-9_]", term) else ""
        trail = r"\b" if re.search(r"[A-Za-z0-9_]$", term) else ""
        return lead + re.escape(term) + trail

    kw = sum(
        (
            F.regexp_count(
                F.lower(F.col(text_col)), F.lit(_term_pattern(t.lower()))
            )
            for t in query_terms
        ),
        F.lit(0),
    )
    scored = with_score(
        df.withColumn("kw_score", kw), query_vec, "COSINE", emb_col, "vec_score"
    )
    pool_n = k * pool_factor
    kw_pool = (
        scored.orderBy(F.desc("kw_score"), F.asc(id_col))
        .limit(pool_n)
        .select(id_col, F.lit("kw").alias("branch"),
                F.col("kw_score").cast("double").alias("bscore"))
    )
    vec_pool = (
        scored.orderBy(F.desc("vec_score"), F.asc(id_col))
        .limit(pool_n)
        .select(id_col, F.lit("vec").alias("branch"),
                F.col("vec_score").cast("double").alias("bscore"))
    )
    w = Window.partitionBy("branch").orderBy(F.desc("bscore"), F.asc(id_col))
    ranked = kw_pool.unionByName(vec_pool).withColumn(
        "rank", F.row_number().over(w)
    )
    fused = ranked.groupBy(id_col).agg(
        F.max(F.when(F.col("branch") == "kw", F.col("rank"))).alias("kw_rank"),
        F.max(F.when(F.col("branch") == "vec", F.col("rank"))).alias("vec_rank"),
        F.round(F.sum(1.0 / (F.lit(rrf_k) + F.col("rank"))), 8).alias("rrf"),
    )
    return (
        fused.orderBy(F.desc("rrf"), F.asc(id_col))
        .limit(k)
        .select(id_col, "kw_rank", "vec_rank", "rrf")
    )

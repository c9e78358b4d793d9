"""Quality monitor — the reference's analytics workload (SURVEY.md §2.7,
A1–A12; reference modules/quality_monitor.py:25-243) as one aggregation
module of pure DataFrame expressions.

Design notes (scale):
- Every aggregate here is a partial+final hash aggregate in Spark — one
  shuffle on the group key, map-side combine for free. No collects except at
  the report edge (A12 returns driver-side scalars by contract).
- ``stddev_pop`` everywhere: the reference uses numpy ``np.std`` which is the
  POPULATION sigma (quality_monitor.py:37,41); Spark's default ``stddev`` is
  sample — a documented divergence trap (SURVEY.md §7.4).
- The histogram (A2) uses fixed-width buckets, computed as one groupBy — at
  100 TB this is a single shuffle of ≤n_buckets rows per partition.
- Sampling (A9) is deterministic: order by md5(key) — reproducible across
  runs and engines, unlike ``random.sample`` (quality_monitor.py:149).
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field
from pathlib import Path

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from vectordb_etl_spark.functions import text as T
from vectordb_etl_spark.functions.sqltext import sql_col, sql_name


# --------------------------------------------------------------------------
# A1 — chunk-size distribution stats (quality_monitor.py:25-47)
# --------------------------------------------------------------------------


def chunk_distribution(
    chunks: DataFrame,
    char_col: str = "chunk_size_chars",
    token_col: str = "chunk_size_tokens",
) -> DataFrame:
    """count/min/max/mean/median/population-std for char and token sizes.
    One row out; single partial+final aggregate, no extra shuffle."""

    def stats(col: str, prefix: str) -> list:
        c = F.col(col).cast("double")
        return [
            F.min(c).alias(f"{prefix}_min"),
            F.max(c).alias(f"{prefix}_max"),
            F.round(F.avg(c), 6).alias(f"{prefix}_mean"),
            F.round(F.expr(f"percentile({col}, 0.5)"), 6).alias(f"{prefix}_median"),
            F.round(F.stddev_pop(c), 6).alias(f"{prefix}_std"),
        ]

    return chunks.agg(
        F.count("*").alias("n_chunks"),
        *stats(char_col, "chars"),
        *stats(token_col, "tokens"),
    )


# --------------------------------------------------------------------------
# A2 — histogram, 30 fixed-width bins (quality_monitor.py:49-77). The
# matplotlib plot becomes the bucket table it was drawn from.
# --------------------------------------------------------------------------


def size_histogram(
    chunks: DataFrame, col: str = "chunk_size_chars", bins: int = 30
) -> DataFrame:
    """Equal-width buckets over [min, max] like numpy.histogram(bins=30).
    min/max come from the same scan via a window-free two-pass (cheap scalar
    agg first); bucket index clamped so x==max lands in the last bin."""
    lo, hi = chunks.agg(F.min(col), F.max(col)).first()
    if lo is None or hi is None or hi == lo:
        width = 1.0
        hi = (lo or 0) + 1
    else:
        width = (hi - lo) / bins
    bucket = F.least(
        F.floor((F.col(col) - F.lit(lo)) / F.lit(width)).cast("int"),
        F.lit(bins - 1),
    )
    return (
        chunks.groupBy(bucket.alias("bucket"))
        .agg(F.count("*").alias("n"))
        .withColumn("lo", F.round(F.lit(lo) + F.col("bucket") * F.lit(width), 6))
        .withColumn("hi", F.round(F.lit(lo) + (F.col("bucket") + 1) * F.lit(width), 6))
        .orderBy("bucket")
    )


def plot_distribution(
    chunks: DataFrame,
    out_path: str,
    char_col: str = "chunk_size_chars",
    token_col: str = "chunk_size_tokens",
    bins: int = 30,
) -> str:
    """A2 rendering tier (reference quality_monitor.py:49-77 draws a
    matplotlib PNG of the char/token histograms). The DISTRIBUTED work is
    :func:`size_histogram` — rendering consumes the ≤2·bins bucket rows on
    the driver. With matplotlib importable this writes the PNG the
    reference writes; otherwise (this runtime has no plotting libs) it
    writes a text rendering of the same buckets, so the operator is always
    exercisable and the png path stays a thin env-gated shell. Returns the
    path written."""
    panels = [
        ("chunk size (chars)", size_histogram(chunks, char_col, bins).collect()),
        ("chunk size (tokens)", size_histogram(chunks, token_col, bins).collect()),
    ]
    try:
        import matplotlib  # noqa: F401

        matplotlib.use("Agg")
        import matplotlib.pyplot as plt

        fig, axes = plt.subplots(1, 2, figsize=(12, 4))
        for ax, (title, rows) in zip(axes, panels):
            ax.bar(
                [r["lo"] for r in rows],
                [r["n"] for r in rows],
                width=[max(r["hi"] - r["lo"], 1e-9) for r in rows],
                align="edge",
            )
            ax.set_title(title)
        path = out_path if out_path.endswith(".png") else out_path + ".png"
        fig.savefig(path)
        plt.close(fig)
        return path
    except ImportError:
        path = out_path if out_path.endswith(".txt") else out_path + ".txt"
        lines = []
        for title, rows in panels:
            lines.append(title)
            peak = max((r["n"] for r in rows), default=1)
            for r in rows:
                bar = "#" * max(1, round(40 * r["n"] / peak))
                lines.append(f"[{r['lo']:>10.1f}, {r['hi']:>10.1f}) {r['n']:>8d} {bar}")
            lines.append("")
        with open(path, "w") as f:
            f.write("\n".join(lines))
        return path


# --------------------------------------------------------------------------
# A3 — language distribution with share % (quality_monitor.py:86-90)
# --------------------------------------------------------------------------


def language_distribution(chunks: DataFrame, col: str = "language") -> DataFrame:
    return (
        chunks.groupBy(col)
        .agg(F.count("*").alias("n"))
        .withColumn(
            "pct",
            F.round(F.col("n") * 100.0 / F.sum("n").over(Window.partitionBy()), 6),
        )
        .orderBy(F.desc("n"), F.asc(col))
    )


# --------------------------------------------------------------------------
# A4 — top-N source files by chunk count (quality_monitor.py:93-97)
# --------------------------------------------------------------------------


def top_sources(chunks: DataFrame, col: str = "filename", n: int = 10) -> DataFrame:
    """Top-k aggregate: Catalyst plans orderBy().limit() as
    TakeOrderedAndProject — no global sort materialization."""
    return (
        chunks.groupBy(col)
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc(col))
        .limit(n)
    )


# --------------------------------------------------------------------------
# A5 — per-folder counts (html_loader.py:51-57; main.py:296-303)
# --------------------------------------------------------------------------


def folder_counts(df: DataFrame, col: str = "folder_name") -> DataFrame:
    return df.groupBy(col).agg(F.count("*").alias("n")).orderBy(col)


# --------------------------------------------------------------------------
# A6/A7 — in-range ratio + coefficient of variation (quality_monitor.py:176-184)
# --------------------------------------------------------------------------


def range_and_cv(
    chunks: DataFrame,
    token_col: str = "chunk_size_tokens",
    target_lo: int = 300,
    target_hi: int = 500,
) -> DataFrame:
    tok = F.col(token_col).cast("double")
    return chunks.agg(
        F.round(
            F.avg(F.when(tok.between(target_lo, target_hi), 1.0).otherwise(0.0))
            * 100.0,
            6,
        ).alias("in_range_pct"),
        F.round(F.stddev_pop(tok) / F.avg(tok) * 100.0, 6).alias("cv_pct"),
        F.round(F.avg(tok), 6).alias("avg_tokens"),
    )


# --------------------------------------------------------------------------
# A8 — rule-based recommendations (quality_monitor.py:187-206): driver-side
# thresholds on the A6/A7 scalars, same rules as the reference.
# --------------------------------------------------------------------------


def recommendations(in_range_pct: float, cv_pct: float) -> list[str]:
    recs: list[str] = []
    if in_range_pct is not None and in_range_pct < 70.0:
        recs.append(
            "in-target-range ratio below 70% — revisit chunk_size/overlap"
        )
    if cv_pct is not None and cv_pct > 50.0:
        recs.append("token-size coefficient of variation above 50% — uneven chunks")
    if not recs:
        recs.append("chunk distribution within quality thresholds")
    return recs


# --------------------------------------------------------------------------
# A9 — deterministic sample review (quality_monitor.py:143-158, made
# reproducible: md5-order instead of random.sample)
# --------------------------------------------------------------------------


def sample_chunks(chunks: DataFrame, key_col: str = "chunk_id", n: int = 5) -> DataFrame:
    return chunks.orderBy(F.md5(F.col(key_col).cast("string"))).limit(n)


# --------------------------------------------------------------------------
# A10 — search-quality probes (quality_monitor.py:101-141): run the standard
# probe queries through the search facade; returns {query: DataFrame}.
# --------------------------------------------------------------------------

PROBE_QUERIES = ("서울 사무실 주소", "수강신청방법", "Seoul office address")


def search_quality_probes(store, k: int = 3, queries: tuple[str, ...] = PROBE_QUERIES):
    from vectordb_etl_spark.search import search_with_scores

    return {q: search_with_scores(store, q, k=k) for q in queries}


# --------------------------------------------------------------------------
# A12 — validation report (quality_monitor.py:207-243 + main.py:209-212)
# --------------------------------------------------------------------------


@dataclass
class QualityReport:
    total_chunks: int
    vector_count: int
    avg_char_size: float | None
    avg_token_size: float | None
    in_range_pct: float | None
    cv_pct: float | None
    language_distribution: dict[str, int] = field(default_factory=dict)
    recommendations: list[str] = field(default_factory=list)

    def to_dict(self) -> dict:
        return dict(self.__dict__)

    def write_json(self, path: str | Path) -> Path:
        p = Path(path)
        p.parent.mkdir(parents=True, exist_ok=True)
        p.write_text(json.dumps(self.to_dict(), ensure_ascii=False, indent=2))
        return p


def validate_pipeline(
    chunks: DataFrame,
    token_col: str = "chunk_size_tokens",
    char_col: str = "chunk_size_chars",
    target_lo: int = 300,
    target_hi: int = 500,
) -> QualityReport:
    """The report in one aggregate action: the scalar aggregates and the
    per-language counts are one rollup over ``language`` (grouping sets
    (language) and ()), collected in one job plus the job of its shuffle.
    ``grouping_id()`` tells the grand total from a group whose language
    is NULL, which keeps its own ``None`` entry. Without a ``language``
    column the report has no distribution. An empty frame gives the
    report of no chunks: zero counts and no averages. The reference runs
    five separate passes over Python lists."""
    tok = f"CAST({sql_name(token_col)} AS DOUBLE)"
    in_range = (
        f"CASE WHEN {tok} BETWEEN {int(target_lo)} AND {int(target_hi)} "
        "THEN 1.0D ELSE 0.0D END"
    )
    has_language = "language" in chunks.columns
    report = sql_col(
        "struct("
        f"{'grouping_id()' if has_language else '1'} AS total_row, "
        "count(*) AS total, "
        f"round(avg(CAST({sql_name(char_col)} AS DOUBLE)), 6) AS avg_chars, "
        f"round(avg({tok}), 6) AS avg_tokens, "
        f"round(avg({in_range}) * 100.0D, 6) AS in_range_pct, "
        f"round(stddev_pop({tok}) / avg({tok}) * 100.0D, 6) AS cv_pct"
        ") AS r"
    )
    grouped = chunks.rollup("language") if has_language else chunks.groupBy()
    total, langs = None, {}
    for row in grouped.agg(report).collect():
        if row["r"]["total_row"]:
            total = row["r"]
        else:
            langs[row["language"]] = row["r"]["total"]
    if total is None:  # no rows: the rollup has no grand-total group
        total = {"total": 0, "avg_chars": None, "avg_tokens": None,
                 "in_range_pct": None, "cv_pct": None}
    return QualityReport(
        total_chunks=total["total"],
        vector_count=total["total"],
        avg_char_size=total["avg_chars"],
        avg_token_size=total["avg_tokens"],
        in_range_pct=total["in_range_pct"],
        cv_pct=total["cv_pct"],
        language_distribution=langs,
        recommendations=recommendations(total["in_range_pct"], total["cv_pct"]),
    )


def token_report(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Beyond-reference: corpus token accounting for training-data budgeting —
    whitespace + BPE-ish token totals and approx distinct docs, one pass."""
    counts = T.token_count_cols(text_col)
    return docs.agg(
        F.count("*").alias("n_docs"),
        F.sum(counts["ws_tokens"]).alias("total_ws_tokens"),
        F.sum(counts["bpeish_tokens"]).alias("total_bpeish_tokens"),
        F.approx_count_distinct(text_col).alias("approx_distinct_texts"),
    )

"""Scalar text functions: token estimate, ids, truncation, training-data
quality/fingerprint metrics (operators P5–P8 of SURVEY.md §2.2 plus the
beyond-reference text-analysis tier).

Every function has a Spark Column rendering and a DuckDB SQL rendering for
the oracle. Both engines truncate (FLOOR) rather than round so the integer
casts agree (DuckDB CAST(double AS int) rounds; Spark truncates).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from vectordb_etl_spark.functions.sqltext import (
    count_matches_sql,
    sql_col,
    sql_name,
    sql_of,
)

_HANGUL = "[가-힣]"


def _as_col(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


# --------------------------------------------------------------------------
# P5 token estimate: int(hangul/1.5 + other/4)  (reference: chunker.py:65-69)
# --------------------------------------------------------------------------


def estimate_tokens_spark_sql(expr: str) -> str:
    """Spark SQL text of the P5 token estimate over ``expr``;
    :func:`estimate_tokens_sql` is its DuckDB twin."""
    hangul = f"CAST({count_matches_sql(expr, _HANGUL)} AS DOUBLE)"
    other = f"(CAST(length({expr}) AS DOUBLE) - {hangul})"
    return f"CAST(floor({hangul} / 1.5D + {other} / 4.0D) AS INT)"


def estimate_tokens_col(col: Column | str) -> Column:
    return sql_col(estimate_tokens_spark_sql(sql_of(col)))


def estimate_tokens_sql(expr: str) -> str:
    hangul = f"CAST(length({expr}) - length(regexp_replace({expr}, '{_HANGUL}', '', 'g')) AS DOUBLE)"
    other = f"(CAST(length({expr}) AS DOUBLE) - {hangul})"
    return f"CAST(FLOOR({hangul} / 1.5 + {other} / 4.0) AS INT)"


# --------------------------------------------------------------------------
# P6 chunk id: md5(f"{source}_{i}_{text[:50]}")[:12]  (chunker.py:168-171)
# --------------------------------------------------------------------------


def chunk_id_spark_sql(source: str, index: str, text: str) -> str:
    """Spark SQL text of the P6 chunk id; :func:`chunk_id_sql` is its
    DuckDB twin."""
    key = f"concat_ws('_', {source}, CAST({index} AS STRING), substring({text}, 1, 50))"
    return f"substring(md5({key}), 1, 12)"


def chunk_id_col(source: Column | str, index: Column | str, text: Column | str) -> Column:
    return sql_col(chunk_id_spark_sql(sql_of(source), sql_of(index), sql_of(text)))


def chunk_id_sql(source: str, index: str, text: str) -> str:
    key = f"concat_ws('_', {source}, CAST({index} AS VARCHAR), substring({text}, 1, 50))"
    return f"substring(md5({key}), 1, 12)"


# --------------------------------------------------------------------------
# P7 varchar truncation at the sink  (milvus_store.py:207-211)
# --------------------------------------------------------------------------


def truncate_spark_sql(
    text_max: int = 65535,
    source_max: int = 512,
    filename_max: int = 256,
    language_max: int = 32,
) -> dict[str, str]:
    """Spark SQL texts enforcing the collection schema's varchar limits,
    by the column each one replaces."""
    widths = {
        "text": text_max, "source": source_max,
        "filename": filename_max, "language": language_max,
    }
    return {c: f"substring({sql_name(c)}, 1, {int(n)})" for c, n in widths.items()}


def truncate_cols(
    text_max: int = 65535,
    source_max: int = 512,
    filename_max: int = 256,
    language_max: int = 32,
) -> dict[str, Column]:
    """Projection map enforcing the collection schema's varchar limits."""
    return {
        c: sql_col(t)
        for c, t in truncate_spark_sql(
            text_max, source_max, filename_max, language_max
        ).items()
    }


# --------------------------------------------------------------------------
# beyond-reference: document fingerprint — min-hash over character 8-gram
# shingles (winnowing-lite). Deterministic, portable: md5 hex strings compare
# lexicographically in both engines.
# --------------------------------------------------------------------------

FINGERPRINT_NGRAM = 8


def doc_fingerprint_col(col: Column | str, n: int = FINGERPRINT_NGRAM) -> Column:
    c = _as_col(col)
    upper = F.greatest(F.length(c) - F.lit(n - 1), F.lit(1))
    shingles = F.transform(
        F.sequence(F.lit(1), upper), lambda i: F.md5(F.substring(c, i, n))
    )
    return F.array_min(shingles)


def doc_fingerprint_sql(expr: str, n: int = FINGERPRINT_NGRAM) -> str:
    upper = f"greatest(length({expr}) - {n - 1}, 1)"
    return (
        f"list_aggregate(list_transform(range(1, {upper} + 1), "
        f"i -> md5(substring({expr}, i, {n}))), 'min')"
    )


# --------------------------------------------------------------------------
# beyond-reference: text-quality scoring for training-data curation.
# Pure ratios — length, punctuation, stopword, digit, uppercase, mean word
# length — each a Column; SQL renderings inline in __spark_entry__.
# --------------------------------------------------------------------------

STOPWORDS = ("the", "a", "an", "and", "or", "of", "to", "in", "is", "it")


def quality_score_cols(col: Column | str) -> dict[str, Column]:
    c = _as_col(col)
    n = F.length(c).cast("double")
    words = F.split(F.trim(c), r"\s+")
    word_count = F.size(words)
    stop_hits = F.size(F.filter(words, lambda w: F.lower(w).isin(*STOPWORDS)))
    punct = F.length(c) - F.length(F.regexp_replace(c, r"[.,!?;:]", ""))
    digits = F.length(c) - F.length(F.regexp_replace(c, "[0-9]", ""))
    uppers = F.length(c) - F.length(F.regexp_replace(c, "[A-Z]", ""))
    return {
        "char_len": F.length(c),
        "word_count": word_count,
        "punct_ratio": F.round(punct.cast("double") / n, 6),
        "digit_ratio": F.round(digits.cast("double") / n, 6),
        "upper_ratio": F.round(uppers.cast("double") / n, 6),
        "stopword_ratio": F.round(
            stop_hits.cast("double") / word_count.cast("double"), 6
        ),
        "avg_word_len": F.round(
            F.aggregate(
                words, F.lit(0.0), lambda acc, w: acc + F.length(w).cast("double")
            )
            / word_count.cast("double"),
            6,
        ),
    }


def quality_score_sql(expr: str) -> dict[str, str]:
    n = f"CAST(length({expr}) AS DOUBLE)"
    words = f"string_split_regex(trim({expr}), '\\s+')"
    wc = f"len({words})"
    stop_list = ", ".join(f"'{w}'" for w in STOPWORDS)
    stop_hits = f"len(list_filter({words}, w -> lower(w) IN ({stop_list})))"
    punct = f"(length({expr}) - length(regexp_replace({expr}, '[.,!?;:]', '', 'g')))"
    digits = f"(length({expr}) - length(regexp_replace({expr}, '[0-9]', '', 'g')))"
    uppers = f"(length({expr}) - length(regexp_replace({expr}, '[A-Z]', '', 'g')))"
    return {
        "char_len": f"length({expr})",
        "word_count": f"CAST({wc} AS INT)",
        "punct_ratio": f"round(CAST({punct} AS DOUBLE) / {n}, 6)",
        "digit_ratio": f"round(CAST({digits} AS DOUBLE) / {n}, 6)",
        "upper_ratio": f"round(CAST({uppers} AS DOUBLE) / {n}, 6)",
        "stopword_ratio": f"round(CAST({stop_hits} AS DOUBLE) / CAST({wc} AS DOUBLE), 6)",
        "avg_word_len": (
            f"round(list_aggregate(list_transform({words}, w -> CAST(length(w) AS DOUBLE)), 'sum')"
            f" / CAST({wc} AS DOUBLE), 6)"
        ),
    }


# token counting (training-data token accounting): whitespace tokens and a
# BPE-ish count = alphanumeric runs + standalone non-space symbols. Both
# portable: regexp_extract_all exists in Spark (3.1+) and DuckDB.
_BPEISH_PATTERN = r"[a-zA-Z0-9]+|[^a-zA-Z0-9\s]"


def token_count_cols(col: Column | str) -> dict[str, Column]:
    c = _as_col(col)
    ws = F.size(F.split(F.trim(c), r"\s+"))
    bpe = F.size(F.regexp_extract_all(c, F.lit(_BPEISH_PATTERN), 0))
    return {"ws_tokens": ws, "bpeish_tokens": bpe}


def token_count_sql(expr: str) -> dict[str, str]:
    return {
        "ws_tokens": f"CAST(len(string_split_regex(trim({expr}), '\\s+')) AS INT)",
        "bpeish_tokens": f"CAST(len(regexp_extract_all({expr}, '{_BPEISH_PATTERN}')) AS INT)",
    }


# --------------------------------------------------------------------------
# beyond-reference: Gopher-style document quality signals (public rules from
# Rae et al., "Scaling Language Models: ... Gopher", 2021, §A1.1 — the
# standard pre-training repetition/format filters, also used by
# RefinedWeb/Dolma). Pure higher-order-function column expressions with
# DuckDB renderings, so the whole filter is oracle-checkable and runs
# JVM-side at 100 TB (no Python in the path).
# --------------------------------------------------------------------------

GOPHER_BULLET_PREFIXES = ("-", "*", "•")
# one regex class, derived once, consumed by BOTH renderings (Column and
# DuckDB SQL) so the bullet set cannot drift between engines
_BULLET_CLASS = "^[" + "".join(GOPHER_BULLET_PREFIXES) + "]"


def gopher_signal_cols(col: Column | str) -> dict[str, Column]:
    c = _as_col(col)
    words = F.filter(F.split(F.trim(c), r"\s+"), lambda w: w != F.lit(""))
    wc = F.size(words).cast("double")
    lines = F.filter(
        F.transform(F.split(c, "\n"), lambda ln: F.trim(ln)),
        lambda ln: ln != F.lit(""),
    )
    nl = F.size(lines).cast("double")
    hashes = F.length(c) - F.length(F.regexp_replace(c, "#", ""))
    ellipses = F.size(F.regexp_extract_all(c, F.lit(r"\.\.\."), 0))
    bullet_re = _BULLET_CLASS
    signals = {
        "word_count": F.size(words),
        "mean_word_len": F.round(
            F.aggregate(
                words, F.lit(0.0), lambda a, w: a + F.length(w).cast("double")
            )
            / F.nullif(wc, F.lit(0.0)),
            6,
        ),
        "symbol_word_ratio": F.round(
            (hashes + ellipses).cast("double") / F.nullif(wc, F.lit(0.0)), 6
        ),
        "alpha_word_frac": F.round(
            F.size(F.filter(words, lambda w: w.rlike("[a-zA-Z]"))).cast("double")
            / F.nullif(wc, F.lit(0.0)),
            6,
        ),
        "bullet_line_frac": F.round(
            F.size(F.filter(lines, lambda ln: ln.rlike(bullet_re))).cast("double")
            / F.nullif(nl, F.lit(0.0)),
            6,
        ),
        "ellipsis_line_frac": F.round(
            F.size(F.filter(lines, lambda ln: ln.endswith("..."))).cast("double")
            / F.nullif(nl, F.lit(0.0)),
            6,
        ),
        "dup_line_frac": F.round(
            F.lit(1.0)
            - F.size(F.array_distinct(lines)).cast("double")
            / F.nullif(nl, F.lit(0.0)),
            6,
        ),
    }
    return signals


def gopher_pass_col(signals: dict[str, Column]) -> Column:
    """The Gopher keep-rule over the signal columns — paper §A1.1
    thresholds (mean word length in [3,10], ≥80% alphabetic words, symbol
    ratio ≤0.1, ≤90% bullet lines, ≤30% ellipsis lines, ≤30% duplicate
    lines), with ONE disclosed deviation: the word-count band is widened
    from the paper's [50, 100k] to [10, 100k] because this engine filters
    chunk-sized units (300-char chunks ≈ 40-60 words) as well as whole
    documents."""
    return (
        signals["word_count"].between(10, 100_000)
        & signals["mean_word_len"].between(3.0, 10.0)
        & (signals["symbol_word_ratio"] <= 0.1)
        & (signals["alpha_word_frac"] >= 0.8)
        & (signals["bullet_line_frac"] <= 0.9)
        & (signals["ellipsis_line_frac"] <= 0.3)
        & (signals["dup_line_frac"] <= 0.3)
    )


def gopher_signal_sql(expr: str) -> dict[str, str]:
    words = f"list_filter(string_split_regex(trim({expr}), '\\s+'), w -> w <> '')"
    wc = f"CAST(len({words}) AS DOUBLE)"
    lines = (
        f"list_filter(list_transform(string_split({expr}, chr(10)), "
        f"ln -> trim(ln)), ln -> ln <> '')"
    )
    nl = f"CAST(len({lines}) AS DOUBLE)"
    hashes = f"(length({expr}) - length(replace({expr}, '#', '')))"
    ellipses = f"len(regexp_extract_all({expr}, '\\.\\.\\.'))"
    return {
        "word_count": f"CAST(len({words}) AS INT)",
        "mean_word_len": (
            f"round(list_aggregate(list_transform({words}, "
            f"w -> CAST(length(w) AS DOUBLE)), 'sum') / nullif({wc}, 0.0), 6)"
        ),
        "symbol_word_ratio": (
            f"round(CAST({hashes} + {ellipses} AS DOUBLE) / nullif({wc}, 0.0), 6)"
        ),
        "alpha_word_frac": (
            f"round(CAST(len(list_filter({words}, w -> regexp_matches(w, '[a-zA-Z]'))) "
            f"AS DOUBLE) / nullif({wc}, 0.0), 6)"
        ),
        "bullet_line_frac": (
            f"round(CAST(len(list_filter({lines}, ln -> regexp_matches(ln, '{_BULLET_CLASS}'))) "
            f"AS DOUBLE) / nullif({nl}, 0.0), 6)"
        ),
        "ellipsis_line_frac": (
            f"round(CAST(len(list_filter({lines}, ln -> ln LIKE '%...')) "
            f"AS DOUBLE) / nullif({nl}, 0.0), 6)"
        ),
        "dup_line_frac": (
            f"round(1.0 - CAST(len(list_distinct({lines})) AS DOUBLE) "
            f"/ nullif({nl}, 0.0), 6)"
        ),
    }


def gopher_pass_sql(sig: dict[str, str]) -> str:
    return (
        f"({sig['word_count']} BETWEEN 10 AND 100000 "
        f"AND {sig['mean_word_len']} BETWEEN 3.0 AND 10.0 "
        f"AND {sig['symbol_word_ratio']} <= 0.1 "
        f"AND {sig['alpha_word_frac']} >= 0.8 "
        f"AND {sig['bullet_line_frac']} <= 0.9 "
        f"AND {sig['ellipsis_line_frac']} <= 0.3 "
        f"AND {sig['dup_line_frac']} <= 0.3)"
    )


# --------------------------------------------------------------------------
# beyond-reference: TF-IDF keyword extraction — per-doc top-k terms by
# tf·ln(N/df). Classic corpus-prep signal (topic tagging, index keywords)
# built entirely from JVM-side ops: explode → two aggregates → one join →
# one window. N ships as a broadcast single-row aggregate, never a
# driver collect.
# --------------------------------------------------------------------------


def tfidf_top_terms(
    df,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
):
    """Top-``k`` terms per document by TF-IDF. idf = ln(N/df) with df the
    DISTINCT-document frequency; ties rank by term ascending so both
    engines pick identical sets. Returns
    (id, term, tf bigint, df bigint, tfidf rounded 6dp).

    Scale shape: term frequencies aggregate map-side before their exchange;
    df comes from per-doc-distinct terms so ``count(*)`` is the document
    frequency (no count_distinct state); N joins in as a broadcast 1-row
    aggregate; the final per-doc top-k is one window over the id key. Three
    exchanges total, no cross product, nothing on the driver."""
    from pyspark.sql.window import Window

    words = df.select(
        F.col(id_col),
        F.explode(F.split(F.lower(F.col(text_col)), r"\s+")).alias("term"),
    ).filter(F.col("term") != "")
    tf = words.groupBy(id_col, "term").agg(F.count("*").alias("tf"))
    docfreq = (
        words.select(id_col, "term")
        .distinct()
        .groupBy("term")
        .agg(F.count("*").alias("df"))
    )
    n_docs = df.select(
        F.countDistinct(id_col).alias("__n")
    )
    scored = (
        tf.join(docfreq, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "__tfidf",
            F.col("tf").cast("double")
            * F.log(F.col("__n").cast("double") / F.col("df").cast("double")),
        )
    )
    w = Window.partitionBy(id_col).orderBy(
        F.desc("__tfidf"), F.asc("term")
    )
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .select(
            id_col,
            "term",
            "tf",
            "df",
            F.round("__tfidf", 6).alias("tfidf"),
        )
    )


def tfidf_top_terms_sql(
    table: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
) -> str:
    """Oracle: identical tokenization, counts, and ln arithmetic."""
    return f"""
WITH words AS MATERIALIZED (
  SELECT {id_col}, unnest(regexp_split_to_array(lower({text_col}), '\\s+')) AS term
  FROM {table}
), w2 AS (SELECT * FROM words WHERE term <> ''),
tf AS (SELECT {id_col}, term, count(*) AS tf FROM w2 GROUP BY 1, 2),
docfreq AS (
  SELECT term, count(*) AS df FROM (SELECT DISTINCT {id_col}, term FROM w2)
  GROUP BY term
),
n AS (SELECT count(DISTINCT {id_col}) AS nd FROM {table}),
scored AS (
  SELECT tf.{id_col}, tf.term, tf.tf, docfreq.df,
         CAST(tf.tf AS DOUBLE) * ln(CAST(n.nd AS DOUBLE) / CAST(docfreq.df AS DOUBLE)) AS tfidf
  FROM tf JOIN docfreq USING (term) CROSS JOIN n
)
SELECT {id_col}, term, tf, df, round(tfidf, 6) AS tfidf FROM (
  SELECT *, row_number() OVER (
    PARTITION BY {id_col} ORDER BY tfidf DESC, term ASC) AS rn
  FROM scored
) WHERE rn <= {k}
"""


# --------------------------------------------------------------------------
# corpus bigram language model — CCNet-style LM quality scoring (Wenzek et
# al. 2020, "CCNet: Extracting High Quality Monolingual Datasets from Web
# Crawl Data" — public paper; CCNet scores docs with a KenLM perplexity,
# here the LM is an add-one-smoothed word-bigram model trained on the
# corpus itself, which keeps train+score one Spark job)
# --------------------------------------------------------------------------


def bigram_logprob_scores(
    df,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """Per-doc average negative log-probability under a corpus-trained
    add-one word-bigram model — the low-resource twin of CCNet's KenLM
    perplexity filter (docs scoring far above the corpus median read as
    boilerplate/garble; far below as templated repetition). Returns
    ``(id, n_bigrams, avg_neg_logprob)`` with the score rounded to 6 dp;
    docs with <2 tokens keep a NULL score.

    Model: P(w2|w1) = (C(w1 w2) + 1) / (C(w1) + V), counts over the whole
    corpus, V = distinct-token vocabulary size.

    Scale shape: tokens and bigram instances come from one split+slice
    transform per doc (no position self-join, no Python); C2/C1 are
    map-side-combined aggregates; the score join shuffles on the bigram
    key (Zipf-skewed — the heaviest bigram key carries its count row only,
    the INSTANCE side is what shuffles, same volume as the corpus itself);
    V rides in as a broadcast 1-row aggregate. Everything whole-stage
    codegen except the final per-doc avg.
    """
    toks_arr = F.filter(
        F.split(F.lower(F.col(text_col)), r"\s+"), lambda x: x != F.lit("")
    )
    base = df.select(F.col(id_col).alias("id"), toks_arr.alias("__l"))
    big = (
        base.filter(F.size("__l") >= 2)
        .select(
            "id",
            F.explode(
                F.expr(
                    "transform(slice(__l, 2, size(__l) - 1), "
                    "(x, i) -> struct(__l[i] AS w1, x AS w2))"
                )
            ).alias("__b"),
        )
        .select("id", F.col("__b.w1").alias("w1"), F.col("__b.w2").alias("w2"))
    )
    c2 = big.groupBy("w1", "w2").agg(F.count("*").alias("__n2"))
    toks = base.select(F.explode("__l").alias("tok"))
    c1 = toks.groupBy("tok").agg(F.count("*").alias("__n1"))
    vocab = toks.agg(F.count_distinct("tok").alias("__v"))
    scored = (
        big.join(c2, ["w1", "w2"])
        .join(c1, big["w1"] == c1["tok"])
        .crossJoin(F.broadcast(vocab))
        .withColumn(
            "__lp",
            -F.log(
                (F.col("__n2") + F.lit(1.0))
                / (F.col("__n1") + F.col("__v")).cast("double")
            ),
        )
        .groupBy("id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.round(F.avg("__lp"), 6).alias("avg_neg_logprob"),
        )
    )
    return (
        base.select("id")
        .join(scored, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce("n_bigrams", F.lit(0)).alias("n_bigrams"),
            "avg_neg_logprob",
        )
    )


def bigram_logprob_scores_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    """Oracle: identical tokenization (split on whitespace runs, empties
    dropped BEFORE adjacency), counts, smoothing, and rounding."""
    return f"""
WITH base AS MATERIALIZED (
  SELECT {id_col} AS id,
         list_filter(string_split_regex(lower({text_col}), '\\s+'),
                     x -> x <> '') AS l
  FROM {table}
), pairs AS MATERIALIZED (
  SELECT id, z[1] AS w1, z[2] AS w2
  FROM (SELECT id, unnest(list_zip(l[1:len(l) - 1], l[2:len(l)])) AS z
        FROM base WHERE len(l) >= 2)
), c2 AS (
  SELECT w1, w2, count(*) AS n2 FROM pairs GROUP BY w1, w2
), toks AS MATERIALIZED (
  SELECT unnest(l) AS tok FROM base
), c1 AS (
  SELECT tok AS w1, count(*) AS n1 FROM toks GROUP BY tok
), v AS (
  SELECT count(DISTINCT tok) AS vsz FROM toks
), scored AS (
  SELECT p.id, count(*) AS n_bigrams,
         round(avg(-ln((c2.n2 + 1.0) / (c1.n1 + v.vsz))), 6)
           AS avg_neg_logprob
  FROM pairs p
  JOIN c2 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN v
  GROUP BY p.id
)
SELECT b.id AS {id_col},
       CAST(coalesce(s.n_bigrams, 0) AS BIGINT) AS n_bigrams,
       s.avg_neg_logprob
FROM base b LEFT JOIN scored s USING (id)
"""


# --------------------------------------------------------------------------
# BPE merge statistics — tokenizer-training prep
# --------------------------------------------------------------------------


def bpe_pair_counts(
    df: DataFrame, text_col: str = "text", top_n: int = 30
) -> DataFrame:
    """Adjacent-symbol pair frequencies at the CHARACTER level — the
    statistic behind the first BPE merge (Sennrich et al. 2016: the
    most frequent adjacent pair becomes the first learned merge), and
    the corpus-level histogram a tokenizer-training pipeline materializes
    before any merge round. Returns the ``top_n`` pairs as
    ``(pair, n)``, count-desc then pair-asc (total order — LIMIT is
    deterministic cross-engine).

    Spark shape: house whitespace tokenization (lower + split, the same
    rule as vocab_top_terms), then each token emits its length-1
    two-char windows via ``transform(sequence(...))`` — one map-local
    explode, no Python, no self-join on positions; the only exchange is
    the map-side-combined pair count, whose key space is bounded by the
    symbol alphabet squared, not by corpus size. Tokens shorter than 2
    chars contribute nothing (sequence(1, 0) would run DESCENDING in
    Spark — the length filter is load-bearing, not cosmetic)."""
    if top_n < 1:
        raise ValueError(f"top_n must be >= 1; got {top_n}")
    toks = (
        df.select(
            F.explode(F.split(F.lower(F.col(text_col)), r"\s+")).alias("tok")
        )
        .filter(F.length("tok") >= 2)
    )
    pairs = toks.select(
        F.explode(
            F.expr("transform(sequence(1, length(tok) - 1), "
                   "i -> substring(tok, i, 2))")
        ).alias("pair")
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count("*").cast("bigint").alias("n"))
        .orderBy(F.desc("n"), F.asc("pair"))
        .limit(top_n)
    )


def bpe_pair_counts_sql(
    source_sql: str, text_col: str = "text", top_n: int = 30
) -> str:
    """DuckDB twin of :func:`bpe_pair_counts`: identical tokenization,
    windows via zipped ``unnest(range(length - 1))`` (DuckDB 1.0 has no
    lateral range), identical total order."""
    if top_n < 1:
        raise ValueError(f"top_n must be >= 1; got {top_n}")
    return f"""
WITH toks AS (
  SELECT unnest(regexp_split_to_array(lower({text_col}), '\\s+')) AS tok
  FROM ({source_sql})),
long_toks AS (SELECT tok FROM toks WHERE length(tok) >= 2),
win AS (
  SELECT tok, unnest(range(length(tok) - 1)) AS i FROM long_toks),
pairs AS (SELECT substr(tok, CAST(i + 1 AS BIGINT), 2) AS pair FROM win)
SELECT pair, CAST(count(*) AS BIGINT) AS n
FROM pairs GROUP BY pair ORDER BY n DESC, pair ASC LIMIT {top_n}"""

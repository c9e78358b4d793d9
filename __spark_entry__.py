"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship end-to-end pipeline (SURVEY.md §7.3) on sf0.001.
``queries()`` — one entry per implemented operator from SURVEY.md §2, each a
callable ``(spark, sf_dir) -> DataFrame``.
``oracle_sql()`` — DuckDB-equivalent SQL per query (the correctness gate).

Column names are aliased identically on both sides; float results are rounded
(6 dp) on both sides so value hashes agree; LIMIT/top-k queries carry explicit
tie-breakers so the selected rows are deterministic.
"""

from __future__ import annotations

import json
import os
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from vectordb_etl_spark.config import ChunkerConfig, EmbeddingConfig, StoreConfig
from vectordb_etl_spark.functions import cleaning, language
from vectordb_etl_spark.functions import text as T
from vectordb_etl_spark.functions import vector as V
from vectordb_etl_spark.operators import chunker


def _detach(spark: SparkSession, df: DataFrame) -> DataFrame:
    """Collect a SMALL result and rebuild it as a bounded-slice local
    DataFrame, detaching it from temp dirs / memory sinks that go away
    when the query function returns. One slice instead of
    ``createDataFrame``'s defaultParallelism pickled slices — 32
    near-empty tasks (~0.3 s pure scheduling on local[32]) per detach
    otherwise; identical data and schema."""
    from vectordb_etl_spark.session import local_rows_df

    return local_rows_df(spark, df.collect(), df.schema)


# Shuffle width of the registered stream queries. Their state is bounded per
# key by contract (window × group counts, sketch registers, one session or
# dedup key per entity), so a scan-sized width only adds state-store
# instances and near-empty tasks to every micro-batch. A stream bakes the
# width into its checkpoint when it starts.
_STREAM_WIDTH = 4


def _scratch(
    spark: SparkSession,
    body: Callable[[str], DataFrame],
    stream_width: int | None = None,
) -> DataFrame:
    """Run ``body(tmp)`` with a fresh temp dir and return its result
    detached (``_detach``); the rows are collected BEFORE the dir goes, so
    index files, landing dirs and checkpoints live exactly as long as the
    query. ``stream_width`` pins ``spark.sql.shuffle.partitions`` over the
    whole scope, collection included, and ``finally`` restores the session
    value. The memory-sink view of ``_drain_to_memory``, and the sink rows
    it holds on the driver, are dropped on the way out. The query leaves no
    conf, view or file behind, also when the body fails."""
    import tempfile

    prev = spark.conf.get("spark.sql.shuffle.partitions") if stream_width else None
    with tempfile.TemporaryDirectory() as tmp:
        try:
            if stream_width:
                spark.conf.set("spark.sql.shuffle.partitions", str(stream_width))
            return _detach(spark, body(tmp))
        finally:
            if prev is not None:
                spark.conf.set("spark.sql.shuffle.partitions", prev)
            spark.catalog.dropTempView(_sink_view(tmp))


def _sink_view(tmp: str) -> str:
    # temp dir names are [a-z0-9_]: a valid view name, unique per scope
    return f"stream_{os.path.basename(tmp)}"


def _drain_to_memory(stream: DataFrame, tmp: str, mode: str = "append") -> DataFrame:
    """Run ``stream`` to completion into a memory sink checkpointed under
    ``tmp`` and return the sink's table. The view is named after ``tmp``,
    so the enclosing ``_scratch`` drops it."""
    from vectordb_etl_spark.streaming.ingest import run_available_now

    name = _sink_view(tmp)
    run_available_now(
        stream.writeStream.outputMode(mode)
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", f"{tmp}/ckpt")
    )
    return stream.sparkSession.table(name)


def _land(
    df: DataFrame, tmp: str, files: int | None = 1, per_trigger: int | None = None
) -> DataFrame:
    """Write ``df`` to ``tmp/landing`` as ``files`` parquet files (its own
    layout when None) and return a file-source stream over that dir that
    reads ``per_trigger`` files per micro-batch (all of them when None).
    One file gives each micro-batch one scan task and, for the
    order-sensitive stateful queries, one upstream order."""
    (df if files is None else df.repartition(files)).write.parquet(f"{tmp}/landing")
    reader = df.sparkSession.readStream.schema(df.schema)
    if per_trigger:
        reader = reader.option("maxFilesPerTrigger", per_trigger)
    return reader.parquet(f"{tmp}/landing")


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents feeds map-heavy expression pipelines (cleaning, shingling,
    hashing); the testdata is a single parquet file = a single partition, so
    without a spread every one of those runs on one core."""
    from vectordb_etl_spark.session import ensure_min_partitions

    return ensure_min_partitions(
        spark.read.parquet(f"{sf_dir}/documents.parquet")
    )


def _norm_ts(spark: SparkSession, df: DataFrame) -> DataFrame:
    """The testdata's timestamp columns are tz-less parquet TIMESTAMP(MICROS),
    which Spark 4 reads as TIMESTAMP_NTZ by default — a type ``unix_micros``
    (and any epoch arithmetic) rejects. Pin the session to UTC and cast NTZ →
    instant, which interprets the naive values as UTC: exactly DuckDB's
    ``epoch_us`` semantics on naive timestamps, independent of whatever
    session/timezone configs the calling driver uses."""
    ntz = [
        f.name
        for f in df.schema.fields
        if f.dataType.typeName() == "timestamp_ntz"
    ]
    if ntz:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        for c in ntz:
            df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


def _table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    df = _norm_ts(spark, spark.read.parquet(f"{sf_dir}/{name}.parquet"))
    if name == "embeddings":
        # vector scoring / pair joins are map-heavy too (see _docs)
        from vectordb_etl_spark.session import ensure_min_partitions

        df = ensure_min_partitions(df)
    return df


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.parquet has carried TIMESTAMP(NANOS) in some generations (which
    Spark's parquet reader rejects — read nanos as long, truncate to micros
    exactly like DuckDB's reader) and tz-less TIMESTAMP(MICROS) in others
    (normalized by ``_norm_ts``); handle both."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(f"{sf_dir}/events.parquet")
    if dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    return _norm_ts(spark, df)


# ---------------------------------------------------------------------------
# flagship: clean → chunk → dedup → hash-embed → write collection → search
# ---------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship E2E slice (SURVEY.md §7.3) on /root/testdata/sf0.001."""
    from vectordb_etl_spark.embeddings import query_vector
    from vectordb_etl_spark.operators.topk import topk_search

    sf_dir = "/root/testdata/sf0.001"
    emb_cfg = EmbeddingConfig(dimension=64)
    docs = _docs(spark, sf_dir).select(
        "doc_id",
        "source",
        cleaning.clean_text_col("text").alias("text"),
        language.detect_language_content_col("text").alias("language"),
    )
    chunks = chunker.chunk_documents(docs, ChunkerConfig())
    deduped = chunker.remove_duplicate_chunks(chunks)
    from vectordb_etl_spark.embeddings import with_embeddings

    embedded = with_embeddings(deduped, config=emb_cfg)
    q = query_vector("Seoul office address", emb_cfg)
    return topk_search(
        embedded,
        q,
        k=3,
        metric="COSINE",
        predicate=F.col("language") == "english",
        tie_break=["chunk_id"],
        output_cols=["doc_id", "chunk_id", "chunk_index", "language", "text"],
    )


# ---------------------------------------------------------------------------
# queries + oracles (kept adjacent per operator so they evolve together)
# ---------------------------------------------------------------------------

_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
_ORACLES: dict[str, str] = {}


def _register(name: str, fn: Callable[[SparkSession, str], DataFrame], sql: str | None):
    _QUERIES[name] = fn
    if sql is not None:
        _ORACLES[name] = sql


# -- P1/P2: cleaning ---------------------------------------------------------

_register(
    "clean_text",
    lambda spark, sf: _docs(spark, sf).select(
        "doc_id", cleaning.clean_text_col("text").alias("clean")
    ),
    f"SELECT doc_id, {cleaning.clean_text_sql('text')} AS clean FROM documents",
)

_register(
    "clean_hwp_text",
    lambda spark, sf: _docs(spark, sf).select(
        "doc_id", cleaning.clean_hwp_text_col("text").alias("clean")
    ),
    f"SELECT doc_id, {cleaning.clean_hwp_text_sql('text')} AS clean FROM documents",
)

# -- P3/P4: language detection ------------------------------------------------

_register(
    "detect_language",
    lambda spark, sf: _docs(spark, sf).select(
        "doc_id",
        language.detect_language_content_col("text").alias("lang_content"),
        language.detect_language_query_col("text").alias("lang_query"),
    ),
    "SELECT doc_id, "
    f"{language.detect_language_content_sql('text')} AS lang_content, "
    f"{language.detect_language_query_sql('text')} AS lang_query FROM documents",
)

# -- P5: token estimate -------------------------------------------------------

_register(
    "token_estimate",
    lambda spark, sf: _docs(spark, sf).select(
        "doc_id", T.estimate_tokens_col("text").alias("est_tokens")
    ),
    f"SELECT doc_id, {T.estimate_tokens_sql('text')} AS est_tokens FROM documents",
)

# -- P6: chunk id --------------------------------------------------------------

_register(
    "chunk_id",
    lambda spark, sf: _docs(spark, sf).select(
        "doc_id",
        T.chunk_id_col("source", F.lit(0), "text").alias("chunk_id"),
    ),
    f"SELECT doc_id, {T.chunk_id_sql('source', '0', 'text')} AS chunk_id FROM documents",
)

# -- P7: varchar truncation -----------------------------------------------------

_register(
    "varchar_truncate",
    lambda spark, sf: _docs(spark, sf).select(
        "doc_id",
        F.substring("text", 1, 100).alias("text_t"),
        F.substring("source", 1, 4).alias("source_t"),
    ),
    "SELECT doc_id, substring(text, 1, 100) AS text_t, "
    "substring(source, 1, 4) AS source_t FROM documents",
)

# -- beyond-reference text analysis ---------------------------------------------

_register(
    "doc_fingerprint",
    lambda spark, sf: _docs(spark, sf).select(
        "doc_id", T.doc_fingerprint_col("text").alias("fingerprint")
    ),
    f"SELECT doc_id, {T.doc_fingerprint_sql('text')} AS fingerprint FROM documents",
)


def _quality_spark(spark: SparkSession, sf: str) -> DataFrame:
    cols = T.quality_score_cols("text")
    return _docs(spark, sf).select(
        "doc_id", *[c.alias(n) for n, c in cols.items()]
    )


_quality_sql_cols = ", ".join(
    f"{sql} AS {name}" for name, sql in T.quality_score_sql("text").items()
)
_register(
    "text_quality",
    _quality_spark,
    f"SELECT doc_id, {_quality_sql_cols} FROM documents",
)


def _tokens_spark(spark: SparkSession, sf: str) -> DataFrame:
    cols = T.token_count_cols("text")
    return _docs(spark, sf).select("doc_id", *[c.alias(n) for n, c in cols.items()])


_token_sql_cols = ", ".join(
    f"{sql} AS {name}" for name, sql in T.token_count_sql("text").items()
)
_register(
    "token_counts",
    _tokens_spark,
    f"SELECT doc_id, {_token_sql_cols} FROM documents",
)

# -- C6: exact dedup (first-wins) -------------------------------------------------

_register(
    "exact_dedup",
    lambda spark, sf: chunker.remove_duplicate_chunks(
        _docs(spark, sf), order_cols=["doc_id"]
    ).select("doc_id", chunker.normalized_hash_col("text").alias("text_hash")),
    f"SELECT doc_id, {chunker.normalized_hash_sql('text')} AS text_hash "
    "FROM documents "
    f"QUALIFY row_number() OVER (PARTITION BY {chunker.normalized_hash_sql('text')} "
    "ORDER BY doc_id) = 1",
)

# -- A1: distribution stats --------------------------------------------------------

_register(
    "chunk_stats",
    lambda spark, sf: _docs(spark, sf)
    .groupBy("lang")
    .agg(
        F.count("*").alias("n"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
        F.round(F.avg("n_chars"), 6).alias("avg_chars"),
        F.round(F.expr("percentile(n_chars, 0.5)"), 6).alias("median_chars"),
        F.round(F.stddev_pop("n_chars"), 6).alias("std_chars"),
    ),
    "SELECT lang, count(*) AS n, min(n_chars) AS min_chars, "
    "max(n_chars) AS max_chars, round(avg(n_chars), 6) AS avg_chars, "
    "round(CAST(quantile_cont(n_chars, 0.5) AS DOUBLE), 6) AS median_chars, "
    "round(stddev_pop(n_chars), 6) AS std_chars FROM documents GROUP BY lang",
)

# -- A2: histogram (fixed-width buckets) ----------------------------------------------

_register(
    "size_histogram",
    lambda spark, sf: _docs(spark, sf)
    .select(F.least(F.floor(F.col("n_chars") / 100), F.lit(49)).alias("bucket"))
    .groupBy("bucket")
    .count()
    .select("bucket", F.col("count").alias("n")),
    "SELECT least(CAST(floor(n_chars / 100) AS BIGINT), 49) AS bucket, "
    "count(*) AS n FROM documents GROUP BY 1",
)

# -- A3: language distribution ----------------------------------------------------------

_register(
    "language_distribution",
    lambda spark, sf: _docs(spark, sf)
    .groupBy("lang")
    .agg(F.count("*").alias("n"))
    .withColumn(
        "pct",
        F.round(F.col("n") * 100.0 / F.sum("n").over(Window.partitionBy()), 6),
    ),
    "SELECT lang, count(*) AS n, "
    "round(count(*) * 100.0 / sum(count(*)) OVER (), 6) AS pct "
    "FROM documents GROUP BY lang",
)

# -- A4: top sources by doc count ----------------------------------------------------------

_register(
    "top_sources",
    lambda spark, sf: _docs(spark, sf)
    .groupBy("source")
    .agg(F.count("*").alias("n"))
    .orderBy(F.desc("n"), F.asc("source"))
    .limit(10),
    "SELECT source, count(*) AS n FROM documents GROUP BY source "
    "ORDER BY n DESC, source ASC LIMIT 10",
)

# -- A6/A7/A12: quality report -----------------------------------------------------------


def _report_spark(spark: SparkSession, sf: str) -> DataFrame:
    docs = _docs(spark, sf)
    tok = T.estimate_tokens_col("text")
    return docs.agg(
        F.count("*").alias("total_docs"),
        F.round(F.avg("n_chars"), 6).alias("avg_char_size"),
        F.round(F.avg(tok.cast("double")), 6).alias("avg_token_size"),
        F.round(
            F.avg(F.when(tok.between(30, 100), 1.0).otherwise(0.0)) * 100.0, 6
        ).alias("in_range_pct"),
        F.round(
            F.stddev_pop(tok.cast("double")) / F.avg(tok.cast("double")) * 100.0, 6
        ).alias("cv_pct"),
    )


_tok_sql = T.estimate_tokens_sql("text")
_register(
    "quality_report",
    _report_spark,
    f"SELECT count(*) AS total_docs, round(avg(n_chars), 6) AS avg_char_size, "
    f"round(avg(CAST({_tok_sql} AS DOUBLE)), 6) AS avg_token_size, "
    f"round(avg(CASE WHEN {_tok_sql} BETWEEN 30 AND 100 THEN 1.0 ELSE 0.0 END) * 100.0, 6) AS in_range_pct, "
    f"round(stddev_pop(CAST({_tok_sql} AS DOUBLE)) / avg(CAST({_tok_sql} AS DOUBLE)) * 100.0, 6) AS cv_pct "
    "FROM documents",
)

# -- A9: deterministic sample review -------------------------------------------------------

_register(
    "sample_review",
    lambda spark, sf: _docs(spark, sf)
    .select("doc_id", F.md5(F.col("doc_id").cast("string")).alias("h"))
    .orderBy("h")
    .limit(5)
    .select("doc_id"),
    "SELECT doc_id FROM documents ORDER BY md5(CAST(doc_id AS VARCHAR)) LIMIT 5",
)

# -- Q1: exact top-k vector search -----------------------------------------------------------


def _vector_topk(spark: SparkSession, sf: str) -> DataFrame:
    from vectordb_etl_spark.operators.topk import topk_search

    emb = _table(spark, sf, "embeddings")
    q = emb.filter(F.col("vec_id") == 0).select("embedding").head()[0]
    return topk_search(
        emb, list(q), k=10, metric="COSINE", tie_break=["vec_id"],
        output_cols=["vec_id", "label"],
    )


_register(
    "vector_topk",
    _vector_topk,
    "SELECT vec_id, label, "
    "round(list_cosine_similarity(CAST(embedding AS DOUBLE[]), "
    "(SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 0)), 6) AS score "
    "FROM embeddings ORDER BY score DESC, vec_id ASC LIMIT 10",
)


def _vector_topk_filtered(spark: SparkSession, sf: str) -> DataFrame:
    from vectordb_etl_spark.operators.topk import topk_search

    emb = _table(spark, sf, "embeddings")
    q = emb.filter(F.col("vec_id") == 0).select("embedding").head()[0]
    return topk_search(
        emb, list(q), k=10, metric="COSINE",
        predicate=F.col("label") == 1, tie_break=["vec_id"],
        output_cols=["vec_id", "label"],
    )


_register(
    "vector_topk_filtered",
    _vector_topk_filtered,
    "SELECT vec_id, label, "
    "round(list_cosine_similarity(CAST(embedding AS DOUBLE[]), "
    "(SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 0)), 6) AS score "
    "FROM embeddings WHERE label = 1 ORDER BY score DESC, vec_id ASC LIMIT 10",
)


def _fanout_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Q2 analog: per-label top-3 hit lists (window rank per group)."""
    from vectordb_etl_spark.operators.topk import search_per_group_topk

    emb = _table(spark, sf, "embeddings")
    q = emb.filter(F.col("vec_id") == 0).select("embedding").head()[0]
    return search_per_group_topk(
        emb, list(q), k=3, metric="COSINE", group_col="label",
        tie_break=["vec_id"],
    ).select("vec_id", "label", "score")


_register(
    "fanout_topk_per_label",
    _fanout_topk,
    "SELECT vec_id, label, score FROM ("
    "SELECT vec_id, label, "
    "round(list_cosine_similarity(CAST(embedding AS DOUBLE[]), "
    "(SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 0)), 6) AS score, "
    "row_number() OVER (PARTITION BY label ORDER BY "
    "round(list_cosine_similarity(CAST(embedding AS DOUBLE[]), "
    "(SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 0)), 6) DESC, "
    "vec_id ASC) AS rnk FROM embeddings) WHERE rnk <= 3",
)

_register(
    "embedding_norms",
    lambda spark, sf: _table(spark, sf, "embeddings").select(
        "vec_id", F.round(V.norm_col("embedding"), 6).alias("norm")
    ),
    "SELECT vec_id, round(sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), "
    "CAST(embedding AS DOUBLE[]))), 6) AS norm FROM embeddings",
)

# -- star-schema analytics (generic OLAP tier, SURVEY.md §2.7-2.8) ------------------------------

_register(
    "pricing_summary",
    lambda spark, sf: _table(spark, sf, "lineitem")
    .groupBy("l_returnflag", "l_linestatus")
    .agg(
        F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("sum_qty"),
        F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).alias("sum_base_price"),
        F.round(F.avg("l_discount"), 6).alias("avg_disc"),
        F.count("*").alias("count_order"),
    )
    .select(
        "l_returnflag", "l_linestatus",
        F.col("sum_qty").cast("double").alias("sum_qty"),
        F.col("sum_base_price").cast("double").alias("sum_base_price"),
        "avg_disc", "count_order",
    ),
    "SELECT l_returnflag, l_linestatus, "
    "CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty, "
    "CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price, "
    "round(avg(l_discount), 6) AS avg_disc, count(*) AS count_order "
    "FROM lineitem GROUP BY l_returnflag, l_linestatus",
)


def _top_customers(spark: SparkSession, sf: str) -> DataFrame:
    orders = _table(spark, sf, "orders")
    cust = _table(spark, sf, "customer")
    return (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("c_custkey", "c_name")
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("revenue"),
            F.count("*").alias("order_count"),
        )
        .select(
            "c_custkey", "c_name",
            F.col("revenue").cast("double").alias("revenue"), "order_count",
        )
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(10)
    )


_register(
    "top_customers",
    _top_customers,
    "SELECT c_custkey, c_name, "
    "CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue, "
    "count(*) AS order_count FROM orders JOIN customer ON o_custkey = c_custkey "
    "GROUP BY c_custkey, c_name ORDER BY revenue DESC, c_custkey ASC LIMIT 10",
)


def _regional_revenue(spark: SparkSession, sf: str) -> DataFrame:
    li = _table(spark, sf, "lineitem")
    orders = _table(spark, sf, "orders")
    cust = _table(spark, sf, "customer")
    nation = _table(spark, sf, "nation")
    region = _table(spark, sf, "region")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.sum(rev.cast("decimal(18,4)")).alias("revenue"),
            F.count("*").alias("n_items"),
        )
        .select("r_name", F.col("revenue").cast("double").alias("revenue"), "n_items")
    )


_register(
    "regional_revenue",
    _regional_revenue,
    "SELECT r_name, "
    "CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue, "
    "count(*) AS n_items "
    "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
    "JOIN customer ON o_custkey = c_custkey "
    "JOIN nation ON c_nationkey = n_nationkey "
    "JOIN region ON n_regionkey = r_regionkey GROUP BY r_name",
)


def _priority_window(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql.window import Window

    orders = _table(spark, sf, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        orders.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("o_orderpriority", "o_orderkey", "o_totalprice", "rnk")
    )


_register(
    "order_priority_window",
    _priority_window,
    "SELECT o_orderpriority, o_orderkey, o_totalprice, "
    "row_number() OVER (PARTITION BY o_orderpriority "
    "ORDER BY o_totalprice DESC, o_orderkey ASC) AS rnk FROM orders "
    "QUALIFY rnk <= 3",
)


def _sessionize(spark: SparkSession, sf: str) -> DataFrame:
    """Sessionization: 30-min-gap rule via lag + running sum (the batch twin
    of the streaming session-window operator). Gaps are compared in integer
    MICROSECONDS (unix_micros ≡ DuckDB epoch_us) — unix_timestamp truncates
    to whole seconds, so a 1800.4 s gap would not open a new session while
    the micros-exact rule (and any wall-clock reading of ">30 min") says it
    must. Integer micros also sidesteps float rounding between engines."""
    from pyspark.sql.window import Window

    ev = _events(spark, sf)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))
    new_session = F.when(gap.isNull() | (gap > 1800 * 1_000_000), 1).otherwise(0)
    sessions = ev.withColumn("new_s", new_session).withColumn(
        "session_id", F.sum("new_s").over(w)
    )
    return (
        sessions.groupBy("user_id")
        .agg(
            F.max("session_id").alias("n_sessions"),
            F.count("*").alias("n_events"),
        )
    )


_register(
    "events_sessionize",
    _sessionize,
    # CAST: DuckDB's windowed sum() yields HUGEINT, which pandas canonicalizes
    # as float64 (3.0) while Spark emits int (3) — same values, different hash
    "SELECT user_id, CAST(max(session_id) AS BIGINT) AS n_sessions, count(*) AS n_events FROM ("
    "SELECT user_id, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS session_id "
    "FROM (SELECT user_id, ts, event_id, "
    "CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL "
    "OR epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) "
    "> 1800000000 THEN 1 ELSE 0 END AS new_s FROM events)) GROUP BY user_id",
)

def _session_window_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Spark's NATIVE session-window operator (F.session_window — the
    merging-interval aggregate Catalyst plans without any manual
    lag/cumsum) checked against the gaps-and-islands restatement: per
    (user, session) the window START (= first event ts) and event
    count. Boundary semantics differ from events_sessionize's lag rule
    in exactly one place — a session window is END-EXCLUSIVE, so a gap
    of EXACTLY 30:00.000000 starts a new session (the oracle's >= where
    the lag rule says >) — which is precisely what a cross-engine
    hash check pins down."""
    ev = _events(spark, sf)
    return (
        ev.groupBy(
            "user_id", F.session_window("ts", "30 minutes").alias("w")
        )
        .agg(F.count("*").cast("bigint").alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            "n_events",
        )
        .orderBy("user_id", "session_start")
    )


_register(
    "session_window_stats",
    _session_window_stats,
    # gaps-and-islands with the END-EXCLUSIVE rule (>=): new session
    # when the micro-exact gap reaches 30 minutes
    "WITH marked AS (SELECT user_id, ts, "
    "CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL "
    "OR epoch_us(ts) - epoch_us(lag(ts) OVER "
    "(PARTITION BY user_id ORDER BY ts)) >= 1800000000 "
    "THEN 1 ELSE 0 END AS new_s FROM events), "
    "sess AS (SELECT user_id, ts, sum(new_s) OVER "
    "(PARTITION BY user_id ORDER BY ts "
    "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid "
    "FROM marked) "
    "SELECT user_id, CAST(min(ts) AS TIMESTAMP) AS session_start, "
    "CAST(count(*) AS BIGINT) AS n_events "
    "FROM sess GROUP BY user_id, sid ORDER BY user_id, session_start",
)


def _conversion_funnel(spark: SparkSession, sf: str) -> DataFrame:
    """Ordered conversion funnel on first occurrences: signup → view →
    click → purchase, a stage counting only users whose first event of
    that type happened strictly AFTER their first event of the previous
    stage. ONE aggregate job: per-user first-occurrence times via
    conditional min (map-side partial agg), then a single global roll-up —
    the whole funnel is two exchanges regardless of corpus size, vs the
    per-stage self-joins naive funnel SQL runs."""
    ev = _events(spark, sf)

    def first_ts(kind: str):
        return F.min(F.when(F.col("event_type") == kind, F.col("ts")))

    per_user = ev.groupBy("user_id").agg(
        first_ts("signup").alias("t_signup"),
        first_ts("view").alias("t_view"),
        first_ts("click").alias("t_click"),
        first_ts("purchase").alias("t_purchase"),
    )
    signed = F.col("t_signup").isNotNull()
    viewed = signed & (F.col("t_view") > F.col("t_signup"))
    clicked = viewed & (F.col("t_click") > F.col("t_view"))
    purchased = clicked & (F.col("t_purchase") > F.col("t_click"))
    return per_user.agg(
        F.count(F.when(signed, 1)).alias("signed_up"),
        F.count(F.when(viewed, 1)).alias("viewed_after_signup"),
        F.count(F.when(clicked, 1)).alias("clicked_after_view"),
        F.count(F.when(purchased, 1)).alias("purchased_after_click"),
    )


_register(
    "conversion_funnel",
    _conversion_funnel,
    "WITH per_user AS ("
    "  SELECT user_id,"
    "    min(CASE WHEN event_type = 'signup' THEN ts END) AS t_signup,"
    "    min(CASE WHEN event_type = 'view' THEN ts END) AS t_view,"
    "    min(CASE WHEN event_type = 'click' THEN ts END) AS t_click,"
    "    min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase"
    "  FROM events GROUP BY user_id"
    ") "
    "SELECT "
    "count(*) FILTER (t_signup IS NOT NULL) AS signed_up, "
    "count(*) FILTER (t_signup IS NOT NULL AND t_view > t_signup) "
    "AS viewed_after_signup, "
    "count(*) FILTER (t_signup IS NOT NULL AND t_view > t_signup "
    "AND t_click > t_view) AS clicked_after_view, "
    "count(*) FILTER (t_signup IS NOT NULL AND t_view > t_signup "
    "AND t_click > t_view AND t_purchase > t_click) "
    "AS purchased_after_click "
    "FROM per_user",
)


_register(
    "events_hourly",
    lambda spark, sf: _events(spark, sf)
    .groupBy(
        F.date_trunc("hour", "ts").alias("hour"), "event_type"
    )
    .agg(
        F.count("*").alias("n"),
        F.round(F.sum(F.col("value").cast("decimal(18,6)")).cast("double"), 6).alias(
            "total_value"
        ),
    ),
    "SELECT date_trunc('hour', ts) AS hour, event_type, count(*) AS n, "
    "round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 6) AS total_value "
    "FROM events GROUP BY 1, 2",
)


# -- dedup suite (SURVEY.md §2.3 C6 upgrades; training-data curation tier) ---------

from vectordb_etl_spark.operators import ann as A  # noqa: E402
from vectordb_etl_spark.operators import dedup as D  # noqa: E402

# signature emitted as a comma-joined STRING: the driver canonicalizes with
# pandas sort/factorize, which cannot hash an array<long> column
_register(
    "minhash_signatures",
    lambda spark, sf: _docs(spark, sf).select(
        "doc_id", D.minhash_signature_str_col("text", 8, 3).alias("signature")
    ),
    D.minhash_signature_str_select_sql("documents", "doc_id", "text", 8, 3),
)

_register(
    "minhash_lsh_candidates",
    lambda spark, sf: D.lsh_candidate_pairs(
        _docs(spark, sf), num_hashes=8, bands=4
    ),
    D.lsh_candidate_pairs_sql("documents", num_hashes=8, bands=4),
)


def _dedup_rate_report(spark: SparkSession, sf: str) -> DataFrame:
    """Curation dashboard: ONE table comparing every near-dup method's
    hit volume on the same corpus — exact-hash duplicate docs, MinHash-LSH
    candidate pairs, SimHash Hamming pairs, n-gram Jaccard pairs, docs
    flagged by the substring-window screen, edit-distance prefix pairs,
    and SemDeDup-flagged embeddings. Each row reuses the
    REGISTERED operator with its registered parameters, so the dashboard
    number is definitionally the count of the corresponding query's rows
    — composition, not re-implementation. One lazy unioned plan."""
    from functools import reduce

    docs = _docs(spark, sf)

    def cnt(name, df):
        return df.agg(F.count("*").alias("n")).select(
            F.lit(name).alias("method"), "n"
        )

    exact_dups = (
        docs.groupBy(chunker.normalized_hash_col("text").alias("__h"))
        .agg(F.count("*").alias("__n"))
        .filter(F.col("__n") > 1)
    )
    checks = [
        cnt("exact_dup_groups", exact_dups),
        cnt("minhash_lsh_pairs", D.lsh_candidate_pairs(docs, num_hashes=8, bands=4)),
        cnt(
            "simhash_pairs",
            D.simhash_near_dup_pairs(docs, bits=32, max_hamming=3),
        ),
        cnt(
            "ngram_jaccard_pairs",
            D.ngram_jaccard_pairs(docs, threshold=0.5),
        ),
        cnt(
            "substring_flagged_docs",
            D.substring_dup_stats(docs, width=40, stride=20).filter(
                F.col("n_dup_windows") > 0
            ),
        ),
        cnt(
            "fuzzy_prefix_pairs",
            D.edit_distance_pairs(
                docs.select(
                    "doc_id", F.substring("text", 1, 40).alias("prefix")
                ),
                str_col="prefix", max_dist=3,
            ),
        ),
        cnt(
            "semantic_dup_docs",
            D.semantic_dedup(
                _table(spark, sf, "embeddings"),
                _table(spark, sf, "embeddings")
                .filter(F.col("vec_id") < 8)
                .select(
                    F.col("vec_id").alias("cid"),
                    F.col("embedding").alias("centroid"),
                ),
                threshold=0.45,
            ).filter(F.col("is_dup")),
        ),
    ]
    return reduce(lambda a, b: a.unionByName(b), checks)


_register(
    "dedup_rate_report",
    _dedup_rate_report,
    " UNION ALL ".join(
        [
            "SELECT 'exact_dup_groups' AS method, count(*) AS n FROM ("
            "SELECT 1 FROM documents GROUP BY "
            + chunker.normalized_hash_sql("text")
            + " HAVING count(*) > 1)",
            "SELECT 'minhash_lsh_pairs', count(*) FROM ("
            + D.lsh_candidate_pairs_sql("documents", num_hashes=8, bands=4)
            + ") t1",
            "SELECT 'simhash_pairs', count(*) FROM ("
            + D.simhash_near_dup_pairs_sql("documents", bits=32, max_hamming=3)
            + ") t2",
            "SELECT 'ngram_jaccard_pairs', count(*) FROM ("
            + D.ngram_jaccard_pairs_sql("documents", threshold=0.5)
            + ") t3",
            "SELECT 'substring_flagged_docs', count(*) FROM ("
            + D.substring_dup_stats_sql("documents", width=40, stride=20)
            + ") t4 WHERE n_dup_windows > 0",
            "SELECT 'fuzzy_prefix_pairs', count(*) FROM ("
            + D.edit_distance_pairs_sql(
                "documents", str_expr="substring(text, 1, 40)", max_dist=3
            )
            + ") t5",
            "SELECT 'semantic_dup_docs', count(*) FROM ("
            + D.semantic_dedup_sql("embeddings", n_centroids=8, threshold=0.45)
            + ") t6 WHERE is_dup",
        ]
    ),
)


def _corpus_drift(spark: SparkSession, sf: str) -> DataFrame:
    """Snapshot drift monitor: language-mix shares and mean length of the
    'old' corpus half (doc_id < 250) vs the 'new' half, with deltas — the
    between-ingest distribution-shift check a recurring pipeline runs
    before accepting a batch. Means AND shares are integer micro-unit
    arithmetic (see sliding_window_agg): shares are ``(1e6 * n) DIV tot``
    bigints, so the report is bit-identical across engines — no raw
    DOUBLE column survives to the output (round(x, 6) of a double is not
    ulp-stable across engines/agg orders, so the driver's value hash
    would diverge). Two map-side-combined aggregates + a full outer join on the
    tiny language key — nothing scales with corpus width."""
    docs = _docs(spark, sf).select(
        "doc_id", "lang", F.length("text").alias("__len")
    )

    def side(pred, tag):
        d = docs.filter(pred)
        per_lang = d.groupBy("lang").agg(
            F.count("*").alias(f"n_{tag}"),
            F.sum("__len").alias(f"len_{tag}"),
        )
        total = d.agg(F.count("*").alias(f"tot_{tag}"))
        return per_lang.crossJoin(F.broadcast(total))

    old = side(F.col("doc_id") < 250, "old")
    new = side(F.col("doc_id") >= 250, "new")
    joined = old.join(new, "lang", "full_outer")
    # totals ride every row via the crossJoin; after the outer join a side
    # missing a language has NULL totals on that side — backfill from any
    # row of the same column (window max)
    w = Window.partitionBy()
    backfilled = joined.select(
        "lang",
        "n_old",
        "n_new",
        "len_old",
        "len_new",
        F.max("tot_old").over(w).alias("t_old"),
        F.max("tot_new").over(w).alias("t_new"),
    )
    # micro-unit shares: integer DIV of counts — bit-stable cross-engine
    # (counts are non-negative, so Spark's truncating DIV == DuckDB's
    # flooring // here; no raw DOUBLE column survives to the output)
    share_old = F.expr("(1000000 * coalesce(n_old, 0)) DIV t_old")
    share_new = F.expr("(1000000 * coalesce(n_new, 0)) DIV t_new")
    mean_old = F.expr(
        "CASE WHEN n_old IS NULL THEN NULL "
        "ELSE (2 * len_old + n_old) DIV (2 * n_old) END"
    )
    mean_new = F.expr(
        "CASE WHEN n_new IS NULL THEN NULL "
        "ELSE (2 * len_new + n_new) DIV (2 * n_new) END"
    )
    return backfilled.select(
        "lang",
        share_old.cast("bigint").alias("share_old_ppm"),
        share_new.cast("bigint").alias("share_new_ppm"),
        (share_new - share_old).cast("bigint").alias("share_delta_ppm"),
        mean_old.cast("bigint").alias("mean_len_old"),
        mean_new.cast("bigint").alias("mean_len_new"),
    )


_register(
    "corpus_drift",
    _corpus_drift,
    "WITH old AS ("
    "  SELECT lang, count(*) AS n_old, sum(length(text)) AS len_old "
    "  FROM documents WHERE doc_id < 250 GROUP BY lang"
    "), new AS ("
    "  SELECT lang, count(*) AS n_new, sum(length(text)) AS len_new "
    "  FROM documents WHERE doc_id >= 250 GROUP BY lang"
    "), tot AS ("
    "  SELECT (SELECT count(*) FROM documents WHERE doc_id < 250) AS t_old,"
    "         (SELECT count(*) FROM documents WHERE doc_id >= 250) AS t_new"
    ") "
    # every integer output is CAST AS BIGINT: sum(BIGINT) is HUGEINT in
    # DuckDB, and HUGEINT reaches pandas as float64 — the driver hashes
    # pandas frames, so an uncast "407" (Spark int64) vs "407.0" (oracle
    # float64) hash-reds even though the values are equal.
    "SELECT lang, "
    "CAST((1000000 * coalesce(n_old, 0)) // t_old AS BIGINT) "
    "AS share_old_ppm, "
    "CAST((1000000 * coalesce(n_new, 0)) // t_new AS BIGINT) "
    "AS share_new_ppm, "
    "CAST((1000000 * coalesce(n_new, 0)) // t_new "
    "- (1000000 * coalesce(n_old, 0)) // t_old AS BIGINT) "
    "AS share_delta_ppm, "
    "CAST(CASE WHEN n_old IS NULL THEN NULL "
    "ELSE (2 * len_old + n_old) // (2 * n_old) END AS BIGINT) "
    "AS mean_len_old, "
    "CAST(CASE WHEN n_new IS NULL THEN NULL "
    "ELSE (2 * len_new + n_new) // (2 * n_new) END AS BIGINT) "
    "AS mean_len_new "
    "FROM old FULL JOIN new USING (lang) CROSS JOIN tot",
)


def _corpus_drift_chi2(spark: SparkSession, sf: str) -> DataFrame:
    """Two-sample chi-square drift terms over the old/new language mix —
    the hypothesis-test companion to corpus_drift's share deltas: per
    language, the cell contribution ``(o·Tn − n·To)² / (To·Tn·(o+n))``
    (o,n = per-lang counts; To,Tn = side totals). Emitted PER LANGUAGE
    as a floored micro-unit bigint rather than summed: each term is a
    fixed chain of IEEE double ops on integer-valued operands (exact
    below 2^53, identical order both engines), but a cross-row float SUM
    would reintroduce aggregation-order sensitivity — so the consumer
    sums the integer terms instead, which is order-free. Scale shape:
    one conditional aggregation (map-side combined) + a window total."""
    docs = _docs(spark, sf).select("doc_id", "lang")
    is_old = F.col("doc_id") < 250
    per = docs.groupBy("lang").agg(
        F.sum(F.when(is_old, 1).otherwise(0)).cast("bigint").alias("o"),
        F.sum(F.when(~is_old, 1).otherwise(0)).cast("bigint").alias("n"),
    )
    w = Window.partitionBy()
    tot = per.select(
        "lang",
        "o",
        "n",
        F.sum("o").over(w).alias("t_old"),
        F.sum("n").over(w).alias("t_new"),
    )
    term = F.floor(
        F.lit(1000000.0)
        * (
            (F.col("o") * F.col("t_new") - F.col("n") * F.col("t_old"))
            .cast("double")
            * (F.col("o") * F.col("t_new") - F.col("n") * F.col("t_old"))
            .cast("double")
        )
        / (F.col("t_old") * F.col("t_new") * (F.col("o") + F.col("n")))
        .cast("double")
    ).cast("bigint")
    return tot.select(
        "lang",
        F.col("o").alias("n_old"),
        F.col("n").alias("n_new"),
        term.alias("chi2_term_micro"),
    )


_register(
    "corpus_drift_chi2",
    _corpus_drift_chi2,
    # identical pinned arithmetic: diff cast double, squared, times 1e6,
    # divided by the (exact-in-double) integer product; floor; the sums
    # feeding it are CAST to BIGINT (DuckDB HUGEINT rule)
    "WITH per AS ("
    "  SELECT lang, "
    "  CAST(sum(CASE WHEN doc_id < 250 THEN 1 ELSE 0 END) AS BIGINT) AS o, "
    "  CAST(sum(CASE WHEN doc_id >= 250 THEN 1 ELSE 0 END) AS BIGINT) AS n "
    "  FROM documents GROUP BY lang"
    "), tot AS ("
    "  SELECT lang, o, n, "
    "  CAST(sum(o) OVER () AS BIGINT) AS t_old, "
    "  CAST(sum(n) OVER () AS BIGINT) AS t_new FROM per"
    ") "
    "SELECT lang, o AS n_old, n AS n_new, "
    "CAST(floor(CAST(1000000 AS DOUBLE) "
    "* (CAST(o * t_new - n * t_old AS DOUBLE) "
    "   * CAST(o * t_new - n * t_old AS DOUBLE)) "
    "/ CAST(t_old * t_new * (o + n) AS DOUBLE)) AS BIGINT) "
    "AS chi2_term_micro FROM tot",
)


def _embedding_drift(spark: SparkSession, sf: str) -> DataFrame:
    """Embedding-distribution drift monitor — the vector-space twin of
    corpus_drift: per (label, dimension), counts and component sums of the
    'old' half (even vec_id) vs the 'new' half. Everything integer:
    components quantize to micro-units BEFORE summing, so the report is
    bit-stable regardless of aggregation order (float sums are not — the
    one thing that makes naive mean-embedding monitors un-oracle-able).
    Consumers derive mean vectors / cosine shift from the sums. Scale
    shape: posexplode to (label, dim) then ONE map-side-combined
    aggregate; partial combine collapses to labels×d rows per task before
    the exchange."""
    emb = _table(spark, sf, "embeddings")
    ex = emb.select(
        "label",
        (F.col("vec_id") % 2 == 0).alias("__old"),
        F.posexplode(F.col("embedding").cast("array<double>")).alias(
            "dim", "__x"
        ),
    ).withColumn(
        "__xq", F.round(F.col("__x") * F.lit(1_000_000.0)).cast("long")
    )
    return ex.groupBy("label", "dim").agg(
        F.count(F.when(F.col("__old"), 1)).alias("n_old"),
        F.count(F.when(~F.col("__old"), 1)).alias("n_new"),
        F.sum(F.when(F.col("__old"), F.col("__xq")).otherwise(F.lit(0)))
        .alias("sum_old_micro"),
        F.sum(F.when(~F.col("__old"), F.col("__xq")).otherwise(F.lit(0)))
        .alias("sum_new_micro"),
    )


_register(
    "embedding_drift",
    _embedding_drift,
    # dims are 0-based to match posexplode
    # CAST AS BIGINT on the sums: sum(BIGINT) is HUGEINT in DuckDB and
    # becomes float64 in the driver's pandas frame, hash-redding against
    # Spark's int64 even when values are identical.
    "SELECT label, dim, "
    "count(*) FILTER (WHERE old) AS n_old, "
    "count(*) FILTER (WHERE NOT old) AS n_new, "
    "CAST(coalesce(sum(xq) FILTER (WHERE old), 0) AS BIGINT) "
    "AS sum_old_micro, "
    "CAST(coalesce(sum(xq) FILTER (WHERE NOT old), 0) AS BIGINT) "
    "AS sum_new_micro "
    "FROM ("
    "  SELECT label, vec_id % 2 = 0 AS old, s.i - 1 AS dim, "
    "         CAST(round(1000000 * s.v) AS BIGINT) AS xq "
    "  FROM (SELECT label, vec_id, "
    "        unnest(list_transform(range(1, len(embedding) + 1), "
    "          i -> {'i': i, 'v': CAST(embedding[i] AS DOUBLE)})) AS s "
    "        FROM embeddings)"
    ") GROUP BY label, dim",
)


def _multimodal_resize_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    """REAL image resize (multimodal.py resize_images — decode, floor-map
    nearest-neighbor, re-encode): each doc synthesizes the same arithmetic
    BMP as multimodal_decoded_features, resizes to a fixed 3×4, and
    re-decodes for channel sums — so the full decode→resize→encode→decode
    chain is under the hash. The oracle states the resized sums directly:
    pixel (r2, c2) of the output is source pixel ((r2·h)//3, (c2·w)//4)."""
    import numpy as np
    from pyspark.sql.types import BinaryType

    from vectordb_etl_spark.multimodal import (
        encode_bmp,
        image_pixel_stats,
        resize_images,
    )

    @F.pandas_udf(BinaryType())
    def synth_bmp_px(doc_id):
        def mk(i):
            i = int(i)
            w, h = i % 8 + 2, i % 6 + 2
            xx, yy = np.meshgrid(np.arange(w), np.arange(h))
            r = (i + xx + yy) % 256
            g = (i + 2 * xx) % 256
            b = (i + 3 * yy) % 256
            return encode_bmp(np.stack([r, g, b], axis=-1).astype(np.uint8))

        return doc_id.map(mk)

    docs = _docs(spark, sf).select(
        F.col("doc_id"), synth_bmp_px("doc_id").alias("content")
    )
    resized = resize_images(docs, out_h=3, out_w=4, id_col="doc_id")
    return image_pixel_stats(resized, id_col="doc_id").select(
        "doc_id", "width", "height", "r_sum", "g_sum", "b_sum"
    )


_register(
    "multimodal_resize_roundtrip",
    _multimodal_resize_roundtrip,
    # resized pixel (r2, c2) = source ((r2*h)//3, (c2*w)//4); h/w are
    # arithmetic in doc_id — sums stated over the 3x4 output grid
    "WITH r2 AS ("
    "  SELECT doc_id, unnest(generate_series(0, 2)) AS r2 FROM documents"
    "), grid AS ("
    "  SELECT doc_id, r2, unnest(generate_series(0, 3)) AS c2 FROM r2"
    "), mapped AS ("
    "  SELECT doc_id,"
    "         (c2 * (doc_id % 8 + 2)) // 4 AS sx,"
    "         (r2 * (doc_id % 6 + 2)) // 3 AS sy"
    "  FROM grid"
    ") "
    "SELECT doc_id, CAST(4 AS INT) AS width, CAST(3 AS INT) AS height, "
    "CAST(sum((doc_id + sx + sy) % 256) AS BIGINT) AS r_sum, "
    "CAST(sum((doc_id + 2 * sx) % 256) AS BIGINT) AS g_sum, "
    "CAST(sum((doc_id + 3 * sy) % 256) AS BIGINT) AS b_sum "
    "FROM mapped GROUP BY doc_id",
)


def _multimodal_resample_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    """REAL audio resample (multimodal.py resample_audio — decode PCM,
    zero-order-hold nearest-neighbor mapping, re-encode): each doc
    synthesizes the arithmetic WAV of multimodal_decoded_features,
    resamples from its synthetic rate to a fixed 6000 Hz, and re-decodes
    for the sample sum — decode→resample→encode→decode under the hash.
    Oracle: n_dst = half-up(n·6000/rate); sample j of the output is
    source sample (j·n)//n_dst, all integer arithmetic."""
    import numpy as np
    from pyspark.sql.types import BinaryType

    from vectordb_etl_spark.multimodal import (
        audio_sample_stats,
        encode_wav,
        resample_audio,
    )

    @F.pandas_udf(BinaryType())
    def synth_wav_pcm(doc_id):
        def mk(i):
            i = int(i)
            k = np.arange(i % 50 + 10)
            samples = ((i * 7 + k * 13) % 65536 - 32768).astype(np.int16)
            return encode_wav(samples.reshape(-1, 1), 8000 + (i % 4) * 4000)

        return doc_id.map(mk)

    docs = _docs(spark, sf).select(
        F.col("doc_id"), synth_wav_pcm("doc_id").alias("content")
    )
    res = resample_audio(docs, out_rate=6000, id_col="doc_id")
    return audio_sample_stats(res, id_col="doc_id").select(
        "doc_id", "sample_rate", "n_frames", "sample_sum"
    )


_register(
    "multimodal_resample_roundtrip",
    _multimodal_resample_roundtrip,
    # n = doc_id%50+10, rate = 8000 + (doc_id%4)*4000,
    # n_dst = (2*n*6000 + rate) // (2*rate), src j = (j*n)//n_dst,
    # sample = (doc_id*7 + src*13) % 65536 - 32768
    "WITH base AS ("
    "  SELECT doc_id, doc_id % 50 + 10 AS n,"
    "         8000 + (doc_id % 4) * 4000 AS rate FROM documents"
    "), dims AS ("
    "  SELECT doc_id, n, rate,"
    "         (2 * n * 6000 + rate) // (2 * rate) AS n_dst FROM base"
    "), js AS ("
    "  SELECT doc_id, n, n_dst,"
    "         unnest(generate_series(0, CAST(n_dst - 1 AS BIGINT))) AS j"
    "  FROM dims WHERE n_dst > 0"
    ") "
    "SELECT d.doc_id, CAST(6000 AS INT) AS sample_rate, "
    "CAST(d.n_dst AS BIGINT) AS n_frames, "
    "CAST(coalesce(sum((j.doc_id * 7 + ((j.j * j.n) // j.n_dst) * 13) "
    "% 65536 - 32768), 0) AS BIGINT) AS sample_sum "
    "FROM dims d LEFT JOIN js j USING (doc_id) "
    "GROUP BY d.doc_id, d.n_dst",
)


def _lsh_incremental(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental dedup screen: docs 0-49 are the 'daily batch', the rest
    the persisted corpus band table — banding cost ∝ batch, join is
    batch-bands × corpus-bands, never corpus × corpus."""
    docs = _docs(spark, sf)
    new = docs.filter(F.col("doc_id") < 50)
    corpus_bands = D.lsh_band_table(docs.filter(F.col("doc_id") >= 50))
    return D.lsh_incremental_candidates(new, corpus_bands)


_register(
    "lsh_incremental_candidates",
    _lsh_incremental,
    D.lsh_incremental_candidates_sql(
        "documents", new_pred="id < 50", corpus_pred="id >= 50"
    ),
)

# max_shingle_freq=5 actually triggers at sf0.01 (max observed doc-freq is
# 7), so the driver check exercises the skew guard, not just the happy path
_register(
    "ngram_jaccard_pairs",
    lambda spark, sf: D.ngram_jaccard_pairs(
        _docs(spark, sf), threshold=0.2, max_shingle_freq=5
    ),
    D.ngram_jaccard_pairs_sql("documents", threshold=0.2, max_shingle_freq=5),
)

# the EXACT τ-similarity join: prefix filtering prunes candidates without
# changing the answer (operators/dedup.py:prefix_filter_jaccard_pairs —
# AllPairs/PPJoin rule), so the oracle is the naive all-pairs statement
_register(
    "prefix_jaccard_pairs",
    lambda spark, sf: D.prefix_filter_jaccard_pairs(
        _docs(spark, sf), shingle_n=5, tau_num=1, tau_den=2
    ),
    D.prefix_filter_jaccard_pairs_sql(
        "documents", shingle_n=5, tau_num=1, tau_den=2
    ),
)

_register(
    "simhash_fingerprints",
    lambda spark, sf: _docs(spark, sf).select(
        "doc_id", D.simhash_col("text", 32).alias("fingerprint")
    ),
    f"SELECT doc_id, {D.simhash_sql('text', 32)} AS fingerprint FROM documents",
)

_register(
    "simhash_near_dups",
    lambda spark, sf: D.simhash_near_dup_pairs(
        _docs(spark, sf), bits=32, max_hamming=3, blocks=4
    ),
    D.simhash_near_dup_pairs_sql("documents", bits=32, max_hamming=3),
)

_register(
    "embedding_topk_pairs",
    lambda spark, sf: D.embedding_topk_pairs(
        _table(spark, sf, "embeddings"), k=20
    ),
    D.embedding_topk_pairs_sql("embeddings", k=20),
)


# -- curation tier: PII redaction, deterministic sampling, contamination ----

from vectordb_etl_spark.functions import curation  # noqa: E402


def _pii_redaction(spark: SparkSession, sf: str) -> DataFrame:
    """PII scrub audit. The synthetic corpus carries no PII, so each row is
    salted with deterministic doc_id-derived PII (email/phone/IP/RRN) —
    stated identically in the oracle SQL — and the redactor must strip all
    of it; n_hits counts matches pre-redaction."""
    docs = _docs(spark, sf)
    did = F.col("doc_id")
    salted = F.concat(
        F.col("text"),
        F.lit(" contact user"), did.cast("string"), F.lit("@example.com"),
        F.lit(" tel 010-"), F.lpad((did % 10000).cast("string"), 4, "0"),
        F.lit("-1234 ip 10.0."), (did % 256).cast("string"),
        F.lit(".7 rrn 900101-"), F.lpad((did % 1000000).cast("string"), 7, "0"),
    )
    return docs.select(
        "doc_id",
        curation.pii_hit_counts_col(salted).alias("n_hits"),
        curation.redact_pii_col(salted).alias("redacted"),
    )


_PII_SALTED_SQL = (
    "text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'"
    " || ' tel 010-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')"
    " || '-1234 ip 10.0.' || CAST(doc_id % 256 AS VARCHAR)"
    " || '.7 rrn 900101-' || lpad(CAST(doc_id % 1000000 AS VARCHAR), 7, '0')"
)

_register(
    "pii_redaction",
    _pii_redaction,
    f"SELECT doc_id, {curation.pii_hit_counts_sql(_PII_SALTED_SQL)} AS n_hits, "
    f"{curation.redact_pii_sql(_PII_SALTED_SQL)} AS redacted FROM documents",
)

_STRATA = {"en": 0.25, "zh": 0.75}

_register(
    "stratified_sample",
    lambda spark, sf: curation.stratified_sample(
        _docs(spark, sf).select("doc_id", "lang", "n_chars"),
        id_col="doc_id", strata_col="lang", fractions=_STRATA,
        default_fraction=0.5,
    ),
    curation.stratified_sample_sql(
        "(SELECT doc_id, lang, n_chars FROM documents) t",
        "doc_id", "lang", _STRATA, default_fraction=0.5,
    ),
)


def _strip_common_lines(spark: SparkSession, sf: str) -> DataFrame:
    """Line-level boilerplate removal (operators/dedup.py
    strip_common_lines — the CCNet/RefinedWeb step that boilerplate_fraction
    only measures): the corpus text is single-line, so each doc synthesizes
    a 4-line page — ubiquitous banner + unique id line + body prefix +
    ubiquitous footer — and the operator must strip exactly the lines
    shared by more than max_docs docs and reassemble the rest in order."""
    docs = _docs(spark, sf).withColumn(
        "text",
        F.concat_ws(
            "\n",
            F.lit("COOKIE BANNER ACCEPT ALL"),
            F.concat(F.lit("doc "), F.col("doc_id").cast("string")),
            F.substring("text", 1, 80),
            F.lit("COPYRIGHT FOOTER 2024"),
        ),
    ).select("doc_id", "text")
    return D.strip_common_lines(docs, max_docs=5)


_register(
    "strip_common_lines",
    _strip_common_lines,
    D.strip_common_lines_sql(
        "(SELECT doc_id, 'COOKIE BANNER ACCEPT ALL' || chr(10) || "
        "'doc ' || CAST(doc_id AS VARCHAR) || chr(10) || "
        "substring(text, 1, 80) || chr(10) || "
        "'COPYRIGHT FOOTER 2024' AS text FROM documents) t",
        max_docs=5,
    ),
)


def _dsir_log_weights(spark: SparkSession, sf: str) -> DataFrame:
    """DSIR importance weights (functions/curation.py:dsir_log_weights):
    target domain = the src0 slice of the corpus; every raw doc scored by
    log p_target − log p_raw over 256 hashed-unigram buckets. Both models
    are ≤256-row broadcast joins — no token-key shuffle."""
    docs = _docs(spark, sf).select("doc_id", "text", "source")
    return curation.dsir_log_weights(
        docs.select("doc_id", "text"),
        docs.filter(F.col("source") == "src0").select("text"),
        buckets=256,
    )


_register(
    "dsir_log_weights",
    _dsir_log_weights,
    curation.dsir_log_weights_sql(
        "documents",
        target_sql="SELECT text FROM documents WHERE source = 'src0'",
        buckets=256,
    ),
)


def _quality_classifier_scores(spark: SparkSession, sf: str) -> DataFrame:
    """fastText-style linear quality classifier SERVING (functions/
    curation.py:hashed_classifier_scores): hashed-unigram features ×
    broadcast weight vector, per-doc floored micro-unit mean. The weight
    table is the deterministic stand-in for trained weights — the SERVING
    plan (explode → broadcast join → doc-key sum) is the graded artifact."""
    w = curation.classifier_weight_table(spark, buckets=256, seed=101)
    return curation.hashed_classifier_scores(
        _docs(spark, sf).select("doc_id", "text"), w, buckets=256
    )


_register(
    "quality_classifier_scores",
    _quality_classifier_scores,
    curation.hashed_classifier_scores_sql("documents", buckets=256, seed=101),
)


def _domain_cap_sample(spark: SparkSession, sf: str) -> DataFrame:
    """Per-domain document caps (functions/curation.py:domain_cap_sample —
    RefinedWeb-style source balancing): keep at most 10 md5-ordered docs
    per source. Under-cap sources pass through a broadcast anti-join
    without shuffling; only over-cap sources pay the window sort."""
    return curation.domain_cap_sample(
        _docs(spark, sf).select("doc_id", "source"), group_col="source", cap=10
    ).select("doc_id", "source")


_register(
    "domain_cap_sample",
    _domain_cap_sample,
    curation.domain_cap_sample_sql("documents", cap=10),
)


_SPLITS = [("train", 0.9), ("val", 0.05), ("test", 0.05)]


def _dedup_aware_split(spark: SparkSession, sf: str) -> DataFrame:
    """Leakage-safe train/val/test assignment
    (functions/curation.py:leakage_safe_split): the split is an md5-bucket
    CASE over the document's exact-dup group key (md5(text)), so duplicated
    documents can never straddle the train/eval boundary — the eval-
    contamination guard every pretraining corpus needs (Lee et al. 2022 §6).
    Map-only: one projected column on the scan, no shuffle, no RNG; the
    same doc lands in the same split on any cluster or engine.
    tests/test_curation.py asserts no group spans two splits."""
    docs = _docs(spark, sf).select(
        "doc_id", F.md5("text").alias("group_key")
    )
    return curation.leakage_safe_split(docs, "group_key", _SPLITS).orderBy(
        "doc_id"
    )


_register(
    "dedup_aware_split",
    _dedup_aware_split,
    "SELECT doc_id, md5(text) AS group_key, "
    + curation.leakage_safe_split_sql("md5(text)", _SPLITS)
    + " AS split FROM documents ORDER BY doc_id",
)


def _ngram_novelty(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus redundancy curve (operators/dedup.py:ngram_novelty): per-doc
    fraction of distinct word trigrams first seen in that doc, micro-unit
    bigint. Exchanges keyed only by md5(gram) and doc id."""
    return D.ngram_novelty(
        _docs(spark, sf).select("doc_id", "text"), n=3
    )


_register(
    "ngram_novelty",
    _ngram_novelty,
    D.ngram_novelty_sql("documents", n=3),
)


_register(
    "weighted_sample",
    # Efraimidis–Spirakis weighted sampling without replacement
    # (functions/curation.py:weighted_sample): top-50 per language by the
    # -ln(u)/w exponential race, u a pure md5 function of doc_id — the
    # quality-weighted corpus-selection step, zero RNG state. One window
    # exchange on the stratum key.
    lambda spark, sf: curation.weighted_sample(
        _docs(spark, sf).select("doc_id", "lang", "n_chars"),
        k=50, id_col="doc_id", weight_col="n_chars", strata_col="lang",
    ),
    curation.weighted_sample_sql(
        "(SELECT doc_id, lang, n_chars FROM documents) t",
        k=50, id_expr="doc_id", weight_expr="n_chars", strata_expr="lang",
        select="doc_id, lang, n_chars",
    ),
)


_register(
    "length_outlier_screen",
    # percentile-band outlier screen (functions/curation.py
    # percentile_screen): keep docs inside the exact [p1, p99] n_chars band
    # — one aggregate + broadcast bounds, no driver collect.
    lambda spark, sf: curation.percentile_screen(
        _docs(spark, sf).select("doc_id", "lang", "n_chars"),
        value_col="n_chars", lo_p=0.01, hi_p=0.99,
    ),
    curation.percentile_screen_sql(
        "(SELECT doc_id, lang, n_chars FROM documents) t",
        value_col="n_chars", lo_p=0.01, hi_p=0.99,
    ),
)


_register(
    "tfidf_top_terms",
    # per-doc TF-IDF keyword extraction (functions/text.py
    # tfidf_top_terms): tf·ln(N/df), top-5 per doc, term-ascending ties.
    # Three exchanges, broadcast N, no cross product.
    lambda spark, sf: T.tfidf_top_terms(
        _docs(spark, sf).select("doc_id", "text"), k=5
    ),
    T.tfidf_top_terms_sql("documents", k=5),
)


def _contamination_check(spark: SparkSession, sf: str) -> DataFrame:
    """Benchmark-contamination scan: corpus docs sharing ≥5 shingles with a
    20-doc probe set (broadcast side). Probes are corpus docs, so each
    probe at minimum flags itself — a built-in sanity floor."""
    docs = _docs(spark, sf)
    probes = docs.filter(F.col("doc_id") < 20).select(
        F.col("doc_id").alias("probe_id"), "text"
    )
    return D.shingle_contamination(docs, probes, min_overlap=5)


_register(
    "contamination_check",
    _contamination_check,
    D.shingle_contamination_sql(
        "documents",
        "SELECT doc_id AS probe_id, text FROM documents WHERE doc_id < 20",
        min_overlap=5,
    ),
)


_register(
    "boilerplate_fraction",
    # cross-doc repeated-template screen (operators/dedup.py
    # boilerplate_fraction): fraction of each doc's word 3-gram shingles
    # shared by >= 2 docs — the RefinedWeb/CCNet boilerplate signal. One
    # exchange on the shingle key + one equi-join back; no cross product.
    lambda spark, sf: D.boilerplate_fraction(
        _docs(spark, sf).select("doc_id", "text"), min_docs=2
    ),
    D.boilerplate_fraction_sql("documents", min_docs=2),
)


def _substring_dup_incremental(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental Lee-et-al. screen (operators/dedup.py
    substring_dup_incremental): docs < 50 are the daily batch, docs >= 50
    the standing corpus whose window table would persist; batch windows
    equi-join the DISTINCT corpus hashes on the uniform md5 key — never
    corpus×corpus."""
    docs = _docs(spark, sf).select("doc_id", "text")
    batch = docs.filter(F.col("doc_id") < 50)
    corpus = docs.filter(F.col("doc_id") >= 50)
    return D.substring_dup_incremental(
        batch, D.substring_window_table(corpus), width=40, stride=20
    )


_register(
    "substring_dup_incremental",
    _substring_dup_incremental,
    D.substring_dup_incremental_sql(
        "SELECT doc_id, text FROM documents WHERE doc_id < 50",
        "SELECT doc_id, text FROM documents WHERE doc_id >= 50",
        width=40, stride=20,
    ),
)


_register(
    "substring_dup_stats",
    # exact substring-window duplication (operators/dedup.py
    # substring_dup_stats — Lee et al. ExactSubstr, distributed): 40-char
    # windows / stride 20, a window is duplicated when its text occurs in
    # >= 2 distinct docs; per-doc duplicated fraction. Exchanges keyed
    # only by the uniform md5(window) hash or doc id; window text never
    # shuffles.
    lambda spark, sf: D.substring_dup_stats(
        _docs(spark, sf).select("doc_id", "text"), width=40, stride=20
    ),
    D.substring_dup_stats_sql("documents", width=40, stride=20),
)


def _semantic_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """SemDeDup (operators/dedup.py semantic_dedup) with designated-vector
    centroids — centroid j := embedding of vec_id j, j < 8 — so cluster
    assignment itself is oracle-expressible (no trained state). Threshold
    0.45 sits just under this corpus's max pairwise cosine (~0.51) so the
    within-cluster earliest-representative rule actually fires."""
    emb = _table(spark, sf, "embeddings")
    cents = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("centroid")
    )
    return D.semantic_dedup(emb, cents, threshold=0.45)


_register(
    "semantic_dedup",
    _semantic_dedup,
    D.semantic_dedup_sql("embeddings", n_centroids=8, threshold=0.45),
)


_register(
    "bigram_logprob",
    # CCNet-style LM quality scoring (functions/text.py
    # bigram_logprob_scores): add-one corpus bigram model, per-doc average
    # negative log-prob. Tokens/bigrams from one split+slice transform; no
    # position self-join; V broadcast.
    lambda spark, sf: T.bigram_logprob_scores(
        _docs(spark, sf).select("doc_id", "text")
    ),
    T.bigram_logprob_scores_sql("documents"),
)


_HYBRID_TERMS = ["spark", "shuffle", "window"]


def _hybrid_search(spark: SparkSession, sf: str) -> DataFrame:
    """Hybrid retrieval: keyword rank ⊕ vector rank via Reciprocal Rank
    Fusion over documents ⋈ embeddings (doc_id = vec_id). Each branch is
    cut to a bounded top-200 pool (TakeOrderedAndProject) before ranking —
    the oracle states the identical candidate-list RRF semantics."""
    from vectordb_etl_spark.operators.topk import hybrid_rrf_search

    docs = _docs(spark, sf).select("doc_id", "text")
    emb = _table(spark, sf, "embeddings").select(
        F.col("vec_id").alias("doc_id"), "embedding"
    )
    q = emb.filter(F.col("doc_id") == 0).select("embedding").head()[0]
    return hybrid_rrf_search(
        docs.join(emb, "doc_id"), _HYBRID_TERMS, list(q), k=10, pool_factor=20
    )


_register(
    "hybrid_rrf_search",
    _hybrid_search,
    # pool_n = k * pool_factor = 200; within-pool rank ≡ global branch rank
    # for pool members, absent branch ⇒ NULL rank contributing 0 to rrf
    "WITH scored AS MATERIALIZED ("
    "SELECT d.doc_id, "
    + " + ".join(
        f"len(regexp_extract_all(lower(d.text), '\\b{t}\\b'))" for t in _HYBRID_TERMS
    )
    + " AS kw_score, "
    "round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), "
    "(SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 0)), 6) "
    "AS vec_score "
    "FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id), "
    "kw_pool AS (SELECT doc_id, "
    "row_number() OVER (ORDER BY kw_score DESC, doc_id ASC) AS rnk "
    "FROM scored QUALIFY rnk <= 200), "
    "vec_pool AS (SELECT doc_id, "
    "row_number() OVER (ORDER BY vec_score DESC, doc_id ASC) AS rnk "
    "FROM scored QUALIFY rnk <= 200) "
    "SELECT coalesce(k.doc_id, v.doc_id) AS doc_id, "
    "k.rnk AS kw_rank, v.rnk AS vec_rank, "
    "round(coalesce(1.0/(60 + k.rnk), 0) + coalesce(1.0/(60 + v.rnk), 0), 8) AS rrf "
    "FROM kw_pool k FULL JOIN vec_pool v ON k.doc_id = v.doc_id "
    "ORDER BY rrf DESC, doc_id ASC LIMIT 10",
)


_register(
    "fuzzy_prefix_pairs",
    lambda spark, sf: D.edit_distance_pairs(
        _docs(spark, sf).select(
            "doc_id", F.substring("text", 1, 40).alias("prefix")
        ),
        str_col="prefix", max_dist=3,
    ),
    D.edit_distance_pairs_sql(
        "documents", str_expr="substring(text, 1, 40)", max_dist=3
    ),
)


def _corpus_health(spark: SparkSession, sf: str) -> DataFrame:
    """One-pass corpus-health scalars — the pre-training dashboard row:
    exact-dup rate (distinct normalized-md5 vs rows), PII incidence, token
    budget. Single fused aggregate: every metric is decomposable or
    distinct-rewritten by Catalyst, so one scan feeds them all."""
    from vectordb_etl_spark.functions.text import token_count_cols
    from vectordb_etl_spark.operators.chunker import normalized_hash_col

    docs = _docs(spark, sf)
    tokens = token_count_cols("text")["ws_tokens"]
    pii = curation.pii_hit_counts_col("text")
    return docs.agg(
        F.count("*").alias("n_docs"),
        F.count_distinct(normalized_hash_col("text")).alias("distinct_texts"),
        F.sum(F.when(pii > 0, 1).otherwise(0)).alias("docs_with_pii"),
        F.sum(pii).cast("long").alias("total_pii_hits"),
        F.sum(tokens).alias("total_ws_tokens"),
        F.round(F.avg(tokens), 6).alias("avg_ws_tokens"),
    )


_register(
    "corpus_health",
    _corpus_health,
    "SELECT count(*) AS n_docs, "
    f"count(DISTINCT {chunker.normalized_hash_sql('text')}) AS distinct_texts, "
    f"CAST(sum(CASE WHEN {curation.pii_hit_counts_sql('text')} > 0 THEN 1 ELSE 0 END) AS BIGINT) "
    "AS docs_with_pii, "
    f"CAST(sum({curation.pii_hit_counts_sql('text')}) AS BIGINT) AS total_pii_hits, "
    "CAST(sum(len(string_split_regex(trim(text), '\\s+'))) AS BIGINT) AS total_ws_tokens, "
    "round(avg(len(string_split_regex(trim(text), '\\s+'))), 6) AS avg_ws_tokens "
    "FROM documents",
)


def _dedup_components(spark: SparkSession, sf: str) -> DataFrame:
    """Transitive near-dup clustering: LSH candidate pairs → connected
    components (hash-min label propagation) → (doc_id, component). The
    grouping step a real dedup pipeline needs because similarity is not
    transitive; oracle = DuckDB recursive reachability closure."""
    docs = _docs(spark, sf)
    pairs = D.lsh_candidate_pairs(docs, num_hashes=8, bands=4)
    return D.connected_components(docs, pairs)


_register(
    "dedup_components",
    _dedup_components,
    D.connected_components_sql(
        "documents", D.lsh_candidate_pairs_sql("documents", num_hashes=8, bands=4)
    ),
)


# -- temporal joins (beyond-reference; operators/temporal.py) ---------------


def _asof_events_orders(spark: SparkSession, sf: str) -> DataFrame:
    """As-of join: latest order at-or-before each event, per user."""
    from vectordb_etl_spark.operators.temporal import asof_join

    ev = _events(spark, sf).select("event_id", "user_id", "ts")
    orders = (
        _table(spark, sf, "orders")
        .groupBy(F.col("o_custkey").alias("user_id"), "o_orderdate")
        .agg(F.max("o_orderkey").alias("last_orderkey"))
    )
    return asof_join(
        ev, orders, on="user_id", left_ts="ts", right_ts="o_orderdate",
        right_cols=["last_orderkey"],
    ).select("event_id", "user_id", "last_orderkey")


_register(
    "asof_join_events_orders",
    _asof_events_orders,
    "SELECT e.event_id, e.user_id, r.last_orderkey "
    "FROM events e ASOF LEFT JOIN ("
    "SELECT o_custkey AS user_id, o_orderdate, max(o_orderkey) AS last_orderkey "
    "FROM orders GROUP BY 1, 2) r "
    "ON e.user_id = r.user_id AND r.o_orderdate <= e.ts",
)


def _range_join_purchase_followups(spark: SparkSession, sf: str) -> DataFrame:
    """Banded range join: same-user events in the hour after each purchase,
    counted per purchase (the attribution-window rollup)."""
    from vectordb_etl_spark.operators.temporal import range_join_count

    all_ev = _events(spark, sf)
    ev = all_ev.select("event_id", "user_id", "ts")
    purchases = all_ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", "ts"
    )
    return range_join_count(
        purchases, ev, on="user_id", left_ts="ts", right_ts="ts",
        lower_seconds=1, upper_seconds=3600, group_cols=["purchase_id"],
        count_alias="n_followups",
    )


_register(
    "range_join_purchase_followups",
    _range_join_purchase_followups,
    # integer-micros band (epoch_us ≡ Spark unix_micros) — sub-second exact
    "SELECT p.event_id AS purchase_id, count(*) AS n_followups "
    "FROM events p JOIN events e ON e.user_id = p.user_id "
    "AND epoch_us(e.ts) - epoch_us(p.ts) "
    "BETWEEN 1000000 AND 3600000000 WHERE p.event_type = 'purchase' GROUP BY 1",
)


# -- time-series rollups (beyond-reference; operators/rollup.py) -------------


def _events_rollup(spark: SparkSession, sf: str) -> DataFrame:
    """Hypertable-style multi-grain rollup: hour+day buckets in one pass."""
    from vectordb_etl_spark.operators.rollup import time_rollup

    return time_rollup(
        _events(spark, sf),
        ts_col="ts",
        group_cols=["event_type"],
        grains=("hour", "day"),
        aggs={
            "n": F.count("*"),
            "total_value": F.round(
                F.sum(F.col("value").cast("decimal(18,6)")).cast("double"), 6
            ),
        },
    )


_register(
    "events_multi_grain_rollup",
    _events_rollup,
    "SELECT 'hour' AS grain, date_trunc('hour', ts) AS bucket_ts, event_type, "
    "count(*) AS n, round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 6) AS total_value "
    "FROM events GROUP BY 1, 2, 3 UNION ALL "
    "SELECT 'day' AS grain, date_trunc('day', ts) AS bucket_ts, event_type, "
    "count(*) AS n, round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 6) AS total_value "
    "FROM events GROUP BY 1, 2, 3",
)


def _events_moving_avg(spark: SparkSession, sf: str) -> DataFrame:
    """Trailing 1 h moving average per event type (RANGE frame window).
    The mean is integer micro-unit arithmetic inside sliding_window_agg —
    float window averages land on exact .xxxxxx5 boundaries whenever the
    frame count is a power of two, where IEEE round() flips per engine
    (surfaced by the sf0.1 oracle sweep: 661 boundary rows)."""
    from vectordb_etl_spark.operators.rollup import sliding_window_agg

    ev = _events(spark, sf)
    return sliding_window_agg(ev, window_seconds=3600).select(
        "event_type", "ts", "moving_avg", "window_n"
    )


_register(
    "events_moving_avg",
    _events_moving_avg,
    # frame ordered by integer micros (epoch_us ≡ Spark unix_micros);
    # mean in exact integer micro-units — floor((2S+n)/(2n)), stated via
    # the mod identity because BOTH Spark's DIV and DuckDB's integer //
    # truncate toward zero: a - ((a % b + b) % b) is the floor multiple,
    # so the truncating division of it IS floor(a/b), any sign
    "SELECT event_type, ts, "
    "CAST(((2 * s + n) - (((2 * s + n) % (2 * n) + 2 * n) % (2 * n))) "
    "// (2 * n) AS DOUBLE) / 1000000.0 AS moving_avg, "
    "n AS window_n FROM ("
    "  SELECT event_type, ts, "
    "  sum(CAST(round(value * 1000000.0) AS BIGINT)) OVER w AS s, "
    "  count(*) OVER w AS n FROM events "
    "  WINDOW w AS (PARTITION BY event_type ORDER BY epoch_us(ts) "
    "  RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW))",
)

_register(
    "events_distinct_users",
    lambda spark, sf: _events(spark, sf)
    .groupBy("event_type")
    .agg(
        F.countDistinct("user_id").alias("n_users"),
        F.count("*").alias("n_events"),
    ),
    "SELECT event_type, count(DISTINCT user_id) AS n_users, count(*) AS n_events "
    "FROM events GROUP BY 1",
)


def _hll_distinct_orders(spark: SparkSession, sf: str) -> DataFrame:
    """HyperLogLog distinct-count sketch (functions/sketches.py) — the
    mergeable, engine-portable alternative to exact count(distinct):
    distinct orderkeys per returnflag via md5-hash registers (p=8,
    m=256). Both the register aggregation and the estimator are pure
    column expressions authored IEEE-identically in DuckDB, so even the
    float step of the estimate hash-matches bit-for-bit. exact_n rides
    along to document the error envelope (raw HLL, no linear-counting
    branch — ln() is libm-version-dependent; documented in the module).
    Scale: two map-side-combined exchanges; the shuffle carries ≤
    groups×256 register rows, never orderkeys — the shape that makes
    distinct counting feasible at 100 TB and lets per-day sketches merge
    by max() without rescanning."""
    from vectordb_etl_spark.functions.sketches import hll_distinct

    li = _table(spark, sf, "lineitem")
    est = hll_distinct(li, "l_orderkey", ["l_returnflag"])
    exact = li.groupBy("l_returnflag").agg(
        F.countDistinct("l_orderkey").alias("exact_n")
    )
    return est.join(exact, "l_returnflag").select(
        "l_returnflag", "n_buckets_used", "hll_est", "exact_n"
    )


def _hll_distinct_orders_sql() -> str:
    from vectordb_etl_spark.functions.sketches import hll_distinct_sql

    inner = hll_distinct_sql(
        "SELECT * FROM lineitem", "l_orderkey", ["l_returnflag"]
    )
    return (
        f"WITH est AS ({inner}), ex AS ("
        "  SELECT l_returnflag, count(DISTINCT l_orderkey) AS exact_n "
        "  FROM lineitem GROUP BY 1) "
        "SELECT l_returnflag, n_buckets_used, hll_est, exact_n "
        "FROM est JOIN ex USING (l_returnflag)"
    )


_register(
    "hll_distinct_orders",
    _hll_distinct_orders,
    _hll_distinct_orders_sql(),
)


def _events_daily_anomalies(spark: SparkSession, sf: str) -> DataFrame:
    """Robust (median/MAD) anomaly flags over per-type daily event
    counts (operators/rollup.py robust_anomalies) — the ingest-monitor
    question "did today's volume jump?" answered without the
    inflated-mean trap of z-scores. Medians of integer counts land on
    .0/.5, so the whole rule runs ×2/×4-scaled in bigints and the flag
    comparison is pure integer — hash-exact against DuckDB's
    quantile_cont twin. Scale shape: the raw table aggregates once to
    (type, day) counts; both median aggregates run on that tiny table
    and broadcast back."""
    from vectordb_etl_spark.operators.rollup import robust_anomalies

    # date_trunc (midnight timestamp), not to_date: DATE reaches pandas
    # as object-dtype datetime.date from Spark but datetime64 from DuckDB
    # — a dtype split the driver's value hash sees (BASELINE.md §8).
    # Timestamps land kind-'M' on both conversion paths.
    daily = (
        _events(spark, sf)
        .select("event_type", F.date_trunc("day", "ts").alias("day"))
        .groupBy("event_type", "day")
        .agg(F.count("*").alias("n"))
    )
    return robust_anomalies(daily, "event_type", "day", "n")


def _events_daily_anomalies_sql() -> str:
    from vectordb_etl_spark.operators.rollup import robust_anomalies_sql

    daily = (
        "SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, "
        "CAST(count(*) AS BIGINT) AS n FROM events GROUP BY 1, 2"
    )
    return robust_anomalies_sql(daily, "event_type", "day", "n")


_register(
    "events_daily_anomalies",
    _events_daily_anomalies,
    _events_daily_anomalies_sql(),
)


def _ewma_daily_events(spark: SparkSession, sf: str) -> DataFrame:
    """Integer EWMA (α=¼) over per-type daily event counts
    (operators/rollup.py:ewma_int) — the smoothed ingest-volume monitor
    companion to events_daily_anomalies. The per-key recursion folds
    JVM-side with one aggregate() expression over the rolled-up series
    (no Python hop, no per-iteration lineage); bit-exact integer floor
    division lets DuckDB's recursive-CTE twin hash-match."""
    from vectordb_etl_spark.operators.rollup import ewma_int

    # date_trunc, not to_date — see _events_daily_anomalies
    daily = (
        _events(spark, sf)
        .select("event_type", F.date_trunc("day", "ts").alias("day"))
        .groupBy("event_type", "day")
        .agg(F.count("*").cast("bigint").alias("n"))
    )
    return ewma_int(daily, ["event_type"], "day", "n").orderBy(
        "event_type", "day"
    )


def _ewma_daily_events_sql() -> str:
    from vectordb_etl_spark.operators.rollup import ewma_int_sql

    daily = (
        "SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, "
        "CAST(count(*) AS BIGINT) AS n FROM events GROUP BY 1, 2"
    )
    return (
        ewma_int_sql(daily, ["event_type"], "day", "n")
        + " ORDER BY event_type, day"
    )


_register(
    "ewma_daily_events",
    _ewma_daily_events,
    _ewma_daily_events_sql(),
)


def _inverted_term_lookup(spark: SparkSession, sf: str) -> DataFrame:
    """Keyword lookup through a REAL inverted index (store/inverted.py):
    build the postings table (partitioned by md5 term-bucket), then
    resolve 'window' via the pruned partition read + id semi join — the
    full-scan-free keyword path (the reference LIKE-scans text per
    query; at 100 TB the postings partition is corpus/64 and the scan is
    plan-assertably pruned, tests/test_inverted.py). The oracle states
    the semantics directly as a tokenized containment scan — index and
    scan must agree doc-for-doc."""
    from vectordb_etl_spark.store.inverted import InvertedIndex

    docs = _docs(spark, sf)

    def body(tmp: str) -> DataFrame:
        idx = InvertedIndex(spark, f"{tmp}/inv").build(docs)
        return (
            idx.lookup(docs, "window")
            .select("doc_id", "lang", "source")
            .orderBy("doc_id")
        )

    return _scratch(spark, body)


_register(
    "inverted_term_lookup",
    _inverted_term_lookup,
    # identical tokenization (lower, \s+ split, drop empties) stated as a
    # containment scan
    "SELECT doc_id, lang, source FROM documents "
    "WHERE list_contains(list_filter(string_split_regex(lower(text), "
    "'\\s+'), x -> x <> ''), 'window') ORDER BY doc_id",
)


_BM25_QUERY = "dup vector scan"  # rare + mid + common df: idf spread


def _bm25_ranked_lookup(spark: SparkSession, sf: str) -> DataFrame:
    """BM25 top-10 through the RANKED inverted index
    (store/inverted.py:build_ranked/bm25_topk): tf postings partitioned
    by md5 term-bucket + a doclens table, so a query touches only its
    terms' pruned partitions instead of the corpus (the reference's
    lexical path is per-query substring scans, search.py — no ranking
    at all). Scoring is the integer-exact rational-idf BM25 (k1=6/5,
    b=3/4, ln replaced by its monotone argument — see bm25_topk's
    docstring), so the DuckDB twin — the same formula stated directly
    over the corpus with no index — must hash-match: the index is
    proven lossless AND the score arithmetic cross-engine exact in one
    check."""
    from vectordb_etl_spark.store.inverted import InvertedIndex

    docs = _docs(spark, sf)

    def body(tmp: str) -> DataFrame:
        idx = InvertedIndex(spark, f"{tmp}/inv").build_ranked(docs)
        return idx.bm25_topk(_BM25_QUERY, 10).withColumnRenamed("id", "doc_id")

    return _scratch(spark, body)


def _bm25_ranked_lookup_sql() -> str:
    from vectordb_etl_spark.store.inverted import bm25_topk_sql

    inner = bm25_topk_sql("SELECT * FROM documents", _BM25_QUERY.split(), 10)
    # re-alias the id column to the corpus's name (the LIMIT-selecting
    # ORDER BY lives in the subquery; the compare is order-insensitive)
    return f"SELECT id AS doc_id, score_micro FROM ({inner})"


_register(
    "bm25_ranked_lookup",
    _bm25_ranked_lookup,
    _bm25_ranked_lookup_sql(),
)


def _hll_multigrain_users(spark: SparkSession, sf: str) -> DataFrame:
    """Multi-grain distinct counts from ONE register pass — the
    operational win of mergeable sketches: per-day HLL registers over
    event users are computed once, then the corpus-total estimate comes
    from max-MERGING those registers, never rescanning raw events
    (exact count(distinct) fundamentally cannot roll up this way —
    every grain would be its own full pass). Output: one row per day
    plus a 9999-12-31 total row, all from the same register table
    (localCheckpointed once for the two consumers)."""
    from vectordb_etl_spark.functions.sketches import (
        hll_estimate_expr,
        hll_merge,
        hll_registers,
    )

    ev = _events(spark, sf).select(
        F.to_date("ts").alias("day"), "user_id"
    )
    day_regs = hll_registers(ev, "user_id", ["day"]).localCheckpoint(
        eager=True
    )
    daily = day_regs.groupBy("day").agg(
        F.count("*").cast("bigint").alias("n_buckets_used"),
        hll_estimate_expr(8).alias("hll_est"),
    )
    total = (
        hll_merge(day_regs, [])
        .agg(
            F.count("*").cast("bigint").alias("n_buckets_used"),
            hll_estimate_expr(8).alias("hll_est"),
        )
        .select(
            F.to_date(F.lit("9999-12-31")).alias("day"),
            "n_buckets_used",
            "hll_est",
        )
    )
    # ISO-string day: Spark DATE reaches pandas object-dtype while DuckDB
    # DATE arrives datetime64 (a dtype split the driver hash sees), and the
    # 9999-12-31 total-row sentinel rules out the timestamp normalization
    return (
        daily.unionByName(total)
        .withColumn("day", F.date_format("day", "yyyy-MM-dd"))
    )


def _hll_multigrain_users_sql() -> str:
    from vectordb_etl_spark.functions.sketches import (
        hll_estimate_sql_exprs,
        hll_registers_sql,
    )

    regs = hll_registers_sql(
        "SELECT CAST(ts AS DATE) AS day, user_id FROM events",
        "user_id",
        ["day"],
    )
    est = hll_estimate_sql_exprs(8)
    return f"""
WITH day_regs AS MATERIALIZED ({regs})
SELECT strftime(day, '%Y-%m-%d') AS day, {est} FROM day_regs GROUP BY day
UNION ALL
SELECT '9999-12-31' AS day, {est} FROM (
  SELECT __hll_bucket, max(max_rho) AS max_rho
  FROM day_regs GROUP BY __hll_bucket
)
"""


_register(
    "hll_multigrain_users",
    _hll_multigrain_users,
    _hll_multigrain_users_sql(),
)


def _sample_quantiles_prices(spark: SparkSession, sf: str) -> DataFrame:
    """Order statistics at scale (functions/curation.py
    sample_quantiles): price quantiles from a 20% md5-deterministic
    sample instead of a full-column sort. Sample membership is a pure
    function of the row id (stable across runs/partitionings/engines)
    and Spark's percentile interpolation is bit-identical to DuckDB's
    quantile_cont, so even the interpolated DOUBLE outputs hash-match.
    The 100 TB pattern: rank error ~1/√(f·n) for one small aggregation
    instead of a terabyte sort."""
    from vectordb_etl_spark.functions.curation import sample_quantiles

    li = _table(spark, sf, "lineitem").select(
        "l_orderkey", "l_extendedprice"
    )
    return sample_quantiles(
        li, "l_orderkey", "l_extendedprice",
        probs=[0.1, 0.25, 0.5, 0.75, 0.9], fraction=0.2,
    )


def _sample_quantiles_prices_sql() -> str:
    from vectordb_etl_spark.functions.curation import sample_quantiles_sql

    return sample_quantiles_sql(
        "SELECT l_orderkey, l_extendedprice FROM lineitem",
        "l_orderkey", "l_extendedprice",
        probs=[0.1, 0.25, 0.5, 0.75, 0.9], fraction=0.2,
    )


_register(
    "sample_quantiles_prices",
    _sample_quantiles_prices,
    _sample_quantiles_prices_sql(),
)


def _join_size_estimate(spark: SparkSession, sf: str) -> DataFrame:
    """Pre-join cardinality estimation from Count-Min sketches
    (functions/sketches.py cm_join_size, Cormode–Muthukrishnan §4.2):
    |events ⋈ orders ON user_id = o_custkey| estimated as the min over
    hash rows of the counter inner product, next to the exact size —
    the decide-broadcast-vs-shuffle-vs-salt planning primitive, answered
    from two d·w-row sketches instead of running the join. Estimate ≥
    exact by construction (collision mass only adds); both columns are
    pure integer arithmetic, hash-exact vs DuckDB."""
    from vectordb_etl_spark.functions.sketches import cm_join_size, cm_sketch

    d, w = 4, 1024
    ev = _events(spark, sf).select(F.col("user_id").alias("k"))
    od = _table(spark, sf, "orders").select(F.col("o_custkey").alias("k"))
    est = cm_join_size(
        cm_sketch(ev, "k", d=d, w=w), cm_sketch(od, "k", d=d, w=w), d=d
    )
    exact = ev.join(od, "k").agg(F.count("*").alias("exact_n"))
    return est.crossJoin(exact)


def _join_size_estimate_sql() -> str:
    from vectordb_etl_spark.functions.sketches import (
        cm_join_size_sql,
        cm_sketch_sql,
    )

    inner = cm_join_size_sql(
        cm_sketch_sql("SELECT user_id AS k FROM events", "k", d=4, w=1024),
        cm_sketch_sql("SELECT o_custkey AS k FROM orders", "k", d=4, w=1024),
        d=4,
    )
    return (
        f"WITH est AS ({inner}), ex AS ("
        "  SELECT CAST(count(*) AS BIGINT) AS exact_n "
        "  FROM events JOIN orders ON user_id = o_custkey) "
        "SELECT join_size_est, exact_n FROM est CROSS JOIN ex"
    )


_register(
    "join_size_estimate",
    _join_size_estimate,
    _join_size_estimate_sql(),
)


def _skew_report_events(spark: SparkSession, sf: str) -> DataFrame:
    """Shuffle-key skew diagnostic (operators/skew.py skew_report): the
    report to run BEFORE keying a 100 TB join/agg — per hot key its row
    count, table share, ratio-to-mean-load, and the salt factor
    salted_agg/salted_join would need to level it (0 = below the skew
    bar). All integer micro arithmetic, NULL-safe composite keys, one
    count-agg + TakeOrdered — the diagnostic itself never shuffles more
    than the distinct-key table."""
    from vectordb_etl_spark.operators.skew import skew_report

    return skew_report(
        _events(spark, sf).select("user_id"), ["user_id"], top_n=10
    )


def _skew_report_events_sql() -> str:
    from vectordb_etl_spark.operators.skew import skew_report_sql

    return skew_report_sql(
        "SELECT user_id FROM events", ["user_id"], top_n=10
    )


_register(
    "skew_report_events",
    _skew_report_events,
    _skew_report_events_sql(),
)


def _cm_token_freq(spark: SparkSession, sf: str) -> DataFrame:
    """Count-Min sketch (functions/sketches.py) — frequency estimation,
    the heavy-hitter leg of the sketch suite: sketch the document token
    stream into 4×1024 integer counters (one map-side-combined agg;
    shuffle carries ≤ d·w counter rows), then point-estimate the exact
    top-10 tokens against their true counts. Counters and estimates are
    pure md5/modulo integer arithmetic — bit-identical in DuckDB, so the
    overestimate-but-never-undercount property is under the hash, not
    just asserted. Sketches merge by counter addition (per-day token
    frequency tables roll up without rescanning — the vocabulary-build
    shape at 100 TB)."""
    from vectordb_etl_spark.functions.sketches import cm_lookup, cm_sketch

    d, w = 4, 1024
    toks = (
        _docs(spark, sf)
        .select(F.explode(F.split(F.lower("text"), "\\s+")).alias("tok"))
        .filter(F.col("tok") != "")
    )
    sk = cm_sketch(toks, "tok", d=d, w=w).localCheckpoint(eager=True)
    top = (
        toks.groupBy("tok")
        .agg(F.count("*").alias("exact_n"))
        .orderBy(F.desc("exact_n"), "tok")
        .limit(10)
    )
    # cm_lookup keeps every candidate column (contract shared with the
    # SQL twin's `c.*, cm_est`), so exact_n rides along — no re-join
    return (
        cm_lookup(sk, top, "tok", d=d, w=w)
        .select("tok", "exact_n", "cm_est")
        .orderBy(F.desc("exact_n"), "tok")
    )


def _cm_token_freq_sql() -> str:
    from vectordb_etl_spark.functions.sketches import (
        cm_lookup_sql,
        cm_sketch_sql,
    )

    toks = (
        "SELECT tok FROM (SELECT unnest(string_split_regex(lower(text), "
        "'\\s+')) AS tok FROM documents) WHERE tok <> ''"
    )
    cands = (
        f"SELECT tok, CAST(count(*) AS BIGINT) AS exact_n FROM ({toks}) "
        "GROUP BY tok ORDER BY exact_n DESC, tok LIMIT 10"
    )
    inner = cm_lookup_sql(
        cm_sketch_sql(toks, "tok", d=4, w=1024), cands, "tok", d=4, w=1024
    )
    return (
        f"SELECT tok, exact_n, cm_est FROM ({inner}) "
        "ORDER BY exact_n DESC, tok"
    )


_register(
    "cm_token_freq",
    _cm_token_freq,
    _cm_token_freq_sql(),
)


def _bloom_semi_revenue(spark: SparkSession, sf: str) -> DataFrame:
    """Bloom-pruned exact semi join (operators/bloom.py): lineitem is
    filtered map-side by a (word, bits) bitmap built from the selected
    suppliers' keys — two broadcast word-probes — BEFORE the exact
    left-semi join; the shuffle carries survivors only. The 100 TB case
    this models: a dimension too big to broadcast raw whose bloom words
    still fit (m/63 rows), pruning ~86% of the fact pre-exchange here.
    The result is EXACT (false positives die in the semi join), so the
    oracle is the plain IN-subquery statement; the revenue rollup uses
    the house decimal-sum canonicalization."""
    from vectordb_etl_spark.operators.bloom import bloom_semi_join

    li = _table(spark, sf, "lineitem")
    sup = _table(spark, sf, "supplier").filter(
        F.col("s_suppkey") % 7 == 0
    )
    hits = bloom_semi_join(li, sup, "l_suppkey", "s_suppkey", m_bits=4096)
    return (
        hits.groupBy("l_returnflag")
        .agg(
            F.count("*").cast("bigint").alias("n_lines"),
            F.round(F.sum(_rev_dec()).cast("double"), 4).alias("revenue"),
        )
        .orderBy("l_returnflag")
    )


_register(
    "bloom_semi_revenue",
    _bloom_semi_revenue,
    "SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_lines, "
    "round(CAST(sum(CAST(l_extendedprice * (1 - l_discount) "
    "AS DECIMAL(18,4))) AS DOUBLE), 4) AS revenue "
    "FROM lineitem WHERE l_suppkey IN "
    "  (SELECT s_suppkey FROM supplier WHERE s_suppkey % 7 = 0) "
    "GROUP BY l_returnflag ORDER BY l_returnflag",
)


def _heavy_hitter_terms(spark: SparkSession, sf: str) -> DataFrame:
    """EXACT heavy-hitter vocabulary (stopword discovery) in two bounded
    passes — functions/sketches.py:heavy_hitters: per-partition
    Misra-Gries summaries (≤ k rows each, map-side) union into a
    guaranteed-complete candidate set, then a broadcast-semi-join-pruned
    exact count keeps terms with count·k > n. Never a full groupBy over
    the vocabulary — at 100 TB the billion-key token shuffle is replaced
    by ≤ k·partitions candidate rows + counts of candidate rows only.
    Output is exact, so the oracle is the plain GROUP BY/HAVING
    statement of the semantics (candidate-set variance can't leak:
    verification is exact and the threshold integer)."""
    from vectordb_etl_spark.functions.sketches import heavy_hitters

    toks = (
        _docs(spark, sf)
        .select(F.explode(F.split(F.lower("text"), "\\s+")).alias("tok"))
        .filter(F.col("tok") != "")
    )
    return heavy_hitters(toks, "tok", k=40).withColumnRenamed("item", "tok")


def _heavy_hitter_terms_sql() -> str:
    from vectordb_etl_spark.functions.sketches import heavy_hitters_sql

    toks = (
        "SELECT tok FROM (SELECT unnest(string_split_regex(lower(text), "
        "'\\s+')) AS tok FROM documents) WHERE tok <> ''"
    )
    inner = heavy_hitters_sql(toks, "tok", k=40)
    return f"SELECT item AS tok, cnt FROM ({inner})"


_register(
    "heavy_hitter_terms",
    _heavy_hitter_terms,
    _heavy_hitter_terms_sql(),
)


def _kmv_corpus_overlap(spark: SparkSession, sf: str) -> DataFrame:
    """KMV set-overlap sketch (functions/sketches.py) — the scale path
    for train/test contamination-RATE estimation: per-side distinct
    3-word-shingle counts AND the Jaccard overlap of the old
    (doc_id < 250) vs new corpus halves, all from two 256-hash register
    sets. HLL can't intersect; KMV can — J ≈ |K(A∪B) ∩ K(A) ∩ K(B)| / k
    is pure integer counting, and the order-statistic n-distinct
    estimator is the same pinned-float pattern as the HLL estimator, so
    the whole row is hash-exact against DuckDB. Scale shape: each
    register set is a TakeOrdered (per-partition k-smallest, one merge —
    shingle strings never shuffle); everything after runs on ≤ 2k
    register rows. Shingles (not bare tokens) because overlap-rate on
    n-grams is what contamination screens actually measure — and the
    synthetic corpus' 31-token vocabulary would make token-level Jaccard
    degenerate."""
    from vectordb_etl_spark.functions.sketches import (
        kmv_estimate_cols,
        kmv_jaccard,
        kmv_registers,
    )
    from vectordb_etl_spark.operators.dedup import word_shingles_col

    k = 256
    docs = _docs(spark, sf)

    def toks(pred):
        return docs.filter(pred).select(
            F.explode(word_shingles_col("text", 3)).alias("tok")
        )

    # registers are ≤ k rows but feed FOUR consumers (estimate, union,
    # two semi-joins) — materialize each side once so the token scan and
    # TakeOrdered run once per side, not once per consumer
    a = kmv_registers(toks(F.col("doc_id") < 250), "tok", k=k).localCheckpoint(
        eager=True
    )
    b = kmv_registers(toks(F.col("doc_id") >= 250), "tok", k=k).localCheckpoint(
        eager=True
    )
    ea = a.agg(*kmv_estimate_cols(k)).select(
        F.col("n_regs").alias("n_old_regs"),
        F.col("n_distinct_est").alias("n_old_est"),
    )
    eb = b.agg(*kmv_estimate_cols(k)).select(
        F.col("n_regs").alias("n_new_regs"),
        F.col("n_distinct_est").alias("n_new_est"),
    )
    return ea.crossJoin(eb).crossJoin(kmv_jaccard(a, b, k=k))


def _kmv_corpus_overlap_sql() -> str:
    from vectordb_etl_spark.functions.sketches import kmv_registers_sql

    k = 256
    two60 = 1 << 60

    from vectordb_etl_spark.operators.dedup import word_shingles_sql

    def side(cmp):
        toks = (
            f"SELECT unnest({word_shingles_sql('text', 3)}) AS tok "
            f"FROM documents WHERE doc_id {cmp}"
        )
        return kmv_registers_sql(toks, "tok", k=k)

    est = (
        "SELECT CAST(count(*) AS BIGINT) AS n_regs, "
        "CASE WHEN count(*) < {k} THEN CAST(count(*) AS BIGINT) "
        "ELSE CAST(floor(CAST({km1} AS DOUBLE) * CAST({two60} AS DOUBLE) "
        "/ CAST(max(h) AS DOUBLE)) AS BIGINT) END AS n_distinct_est "
        "FROM {src}"
    )
    return (
        f"WITH a AS MATERIALIZED ({side('< 250')}), "
        f"b AS MATERIALIZED ({side('>= 250')}), "
        f"m AS MATERIALIZED (SELECT h FROM (SELECT h FROM a UNION "
        f"SELECT h FROM b) ORDER BY h LIMIT {k}), "
        "ea AS (SELECT n_regs AS n_old_regs, n_distinct_est AS n_old_est "
        f"FROM ({est.format(k=k, km1=k - 1, two60=two60, src='a')})), "
        "eb AS (SELECT n_regs AS n_new_regs, n_distinct_est AS n_new_est "
        f"FROM ({est.format(k=k, km1=k - 1, two60=two60, src='b')})), "
        "j AS (SELECT CAST((SELECT count(*) FROM m) AS BIGINT) "
        "AS n_union_regs, "
        "CAST((SELECT count(*) FROM m WHERE h IN (SELECT h FROM a) "
        "AND h IN (SELECT h FROM b)) AS BIGINT) AS n_both) "
        "SELECT n_old_regs, n_old_est, n_new_regs, n_new_est, "
        "n_union_regs, n_both, "
        "(1000000 * n_both) // n_union_regs AS jaccard_ppm "
        "FROM ea CROSS JOIN eb CROSS JOIN j"
    )


_register(
    "kmv_corpus_overlap",
    _kmv_corpus_overlap,
    _kmv_corpus_overlap_sql(),
)


def _idle_rich_customers(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q22 shape on the trimmed schema (no phone column → grouped
    by nation; "never ordered" → "no order in the data's final year",
    since the generator gives every customer at least one order):
    customers whose balance beats the positive-balance average AND who
    lapsed — the sales-opportunity report. The threshold compare runs in
    integer micro-units (floor(x·1e6+0.5) quantization, integer-DIV
    average) so boundary membership — the thing that flips under
    cross-engine float ulp drift — is bit-deterministic. Scale shape:
    the threshold and the cutoff date are broadcast scalars (tiny agg
    crossJoins), the lapsed test is a shuffle anti join on the customer
    key against orders pre-filtered to the window and pre-projected to
    the key column."""
    cust = _table(spark, sf, "customer").select(
        "c_custkey",
        "c_nationkey",
        F.floor(F.col("c_acctbal") * F.lit(1000000.0) + F.lit(0.5))
        .cast("bigint")
        .alias("ab_micro"),
    )
    thr = (
        cust.filter(F.col("ab_micro") > 0)
        .agg(
            F.sum("ab_micro").alias("s"), F.count("*").alias("n")
        )
        .select(F.expr("s DIV n").alias("avg_micro"))
    )
    rich = cust.crossJoin(F.broadcast(thr)).filter(
        F.col("ab_micro") > F.col("avg_micro")
    )
    o = _table(spark, sf, "orders").select(
        "o_custkey", F.to_date("o_orderdate").alias("d")
    )
    cutoff = o.agg(F.date_sub(F.max("d"), 365).alias("cut"))
    recent = (
        o.crossJoin(F.broadcast(cutoff))
        .filter(F.col("d") >= F.col("cut"))
        .select("o_custkey")
    )
    idle = rich.join(
        recent, rich["c_custkey"] == recent["o_custkey"], "left_anti"
    )
    return (
        idle.groupBy("c_nationkey")
        .agg(
            F.count("*").alias("numcust"),
            F.sum("ab_micro").alias("total_acctbal_micro"),
        )
        .orderBy("c_nationkey")
    )


_register(
    "idle_rich_customers",
    _idle_rich_customers,
    # CAST sums AS BIGINT (DuckDB hugeint→pandas float64 otherwise);
    # NOT EXISTS == Spark's left_anti for the non-null o_custkey here
    "WITH cust AS ("
    "  SELECT c_custkey, c_nationkey, "
    "         CAST(floor(c_acctbal * 1000000.0 + 0.5) AS BIGINT) AS ab_micro"
    "  FROM customer"
    "), thr AS ("
    "  SELECT CAST(sum(ab_micro) AS BIGINT) // count(*) AS avg_micro "
    "  FROM cust WHERE ab_micro > 0"
    "), "
    "cut AS ("
    "  SELECT max(CAST(o_orderdate AS DATE)) - INTERVAL 365 DAY AS cut "
    "  FROM orders"
    ") "
    "SELECT c_nationkey, CAST(count(*) AS BIGINT) AS numcust, "
    "CAST(sum(ab_micro) AS BIGINT) AS total_acctbal_micro "
    "FROM cust CROSS JOIN thr CROSS JOIN cut "
    "WHERE ab_micro > avg_micro "
    "AND NOT EXISTS (SELECT 1 FROM orders "
    "                WHERE o_custkey = c_custkey "
    "                AND CAST(o_orderdate AS DATE) >= cut) "
    "GROUP BY c_nationkey ORDER BY c_nationkey",
)


def _scd2_order_status(spark: SparkSession, sf: str) -> DataFrame:
    """SCD2 dimension build (operators/temporal.py scd2_intervals): each
    customer's order-status change history collapsed into half-open
    validity intervals — the slowly-changing-dimension shape every
    warehouse merge pipeline maintains. Gaps-and-islands via two window
    row_numbers; ONE key-partitioned shuffle co-locates a customer's
    whole history, per-key cost bounded by the hottest key. Deterministic
    by construction (o_orderkey tie-break), so the DuckDB twin
    hash-matches including the 9999-12-31 open-interval sentinel."""
    from vectordb_etl_spark.operators.temporal import scd2_intervals

    o = _table(spark, sf, "orders").select(
        "o_custkey",
        "o_orderstatus",
        F.to_date("o_orderdate").alias("d"),
        "o_orderkey",
    )
    out = scd2_intervals(
        o, key_col="o_custkey", attr_col="o_orderstatus",
        time_col="d", tie_col="o_orderkey",
    )
    # ISO strings, not DATE: Spark DATE reaches pandas as object-dtype
    # datetime.date vs DuckDB's datetime64 (a dtype split the driver hash
    # sees), and the 9999-12-31 open-interval sentinel overflows
    # nanosecond timestamps, so the timestamp normalization used by the
    # daily-rollup queries is not available here.
    return out.withColumn(
        "valid_from", F.date_format("valid_from", "yyyy-MM-dd")
    ).withColumn("valid_to", F.date_format("valid_to", "yyyy-MM-dd"))


def _scd2_order_status_sql() -> str:
    from vectordb_etl_spark.operators.temporal import scd2_intervals_sql

    inner = scd2_intervals_sql(
        "SELECT o_custkey, o_orderstatus, CAST(o_orderdate AS DATE) AS d, "
        "o_orderkey FROM orders",
        key_col="o_custkey", attr_col="o_orderstatus",
        time_col="d", tie_col="o_orderkey",
    )
    return (
        "SELECT o_custkey, o_orderstatus, "
        "strftime(valid_from, '%Y-%m-%d') AS valid_from, "
        "strftime(valid_to, '%Y-%m-%d') AS valid_to, "
        f"n_rows, is_current FROM ({inner}) t"
    )


_register(
    "scd2_order_status",
    _scd2_order_status,
    _scd2_order_status_sql(),
)


def _bipartite_pagerank(spark: SparkSession, sf: str) -> DataFrame:
    """Fixed-iteration integer PageRank (operators/graph_analytics.py)
    over the undirected customer↔supplier trade graph (edge = the pair
    co-occurs on an order line). Ranks are micro-unit bigints — the
    iteration is bit-deterministic, so the DuckDB oracle (the same
    arithmetic unrolled as chained CTEs) hash-matches the 4-round fixed
    point exactly. Scale shape: 2 shuffles per iteration (edge join +
    dst agg), independent of graph size; node ids pack type in the low
    bit (even=customer, odd=supplier) so the edge list stays one bigint
    pair — no string keys on the shuffle."""
    from vectordb_etl_spark.operators.graph_analytics import pagerank

    li = _table(spark, sf, "lineitem").select("l_orderkey", "l_suppkey")
    o = _table(spark, sf, "orders").select("o_orderkey", "o_custkey")
    pairs = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .select(
            (F.col("o_custkey") * 2).alias("c"),
            (F.col("l_suppkey") * 2 + 1).alias("s"),
        )
        .distinct()
    )
    edges = pairs.select(
        F.col("c").alias("src"), F.col("s").alias("dst")
    ).unionByName(pairs.select(F.col("s").alias("src"), F.col("c").alias("dst")))
    # pairs is distinct()-ed and the two mirror directions are disjoint
    # (even→odd vs odd→even), so the union is provably duplicate-free —
    # skip pagerank's internal distinct (one edge-list shuffle saved)
    ranks = pagerank(edges, iterations=4, assume_distinct=True)
    return (
        ranks.select(
            F.when(F.col("node") % 2 == 0, "customer")
            .otherwise("supplier")
            .alias("node_type"),
            F.expr("node DIV 2").alias("node_key"),
            "rank_micro",
        )
        .orderBy(F.desc("rank_micro"), "node_type", "node_key")
        .limit(25)
    )


def _bipartite_pagerank_sql() -> str:
    from vectordb_etl_spark.operators.graph_analytics import pagerank_sql

    edges = (
        "SELECT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst "
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
        "UNION ALL "
        "SELECT l_suppkey * 2 + 1 AS src, o_custkey * 2 AS dst "
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey"
    )
    pr = pagerank_sql(edges, iterations=4)
    return (
        f"SELECT CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END"
        f" AS node_type, node // 2 AS node_key, rank_micro FROM ({pr}) "
        "ORDER BY rank_micro DESC, node_type, node_key LIMIT 25"
    )


_register(
    "bipartite_pagerank",
    _bipartite_pagerank,
    _bipartite_pagerank_sql(),
)


def _part_copurchase_triangles(spark: SparkSession, sf: str) -> DataFrame:
    """Exact triangle census of the part co-purchase graph
    (operators/graph_analytics.py:triangle_count — degree-ordered
    orientation, Suri & Vassilvitskii 2011): parts are linked when they
    appear in the same order; triangles measure basket clustering. Edge
    generation is a lineitem self-join on l_orderkey — bounded by TPC-H's
    ≤7 items/order, so pairs stay O(items²/order), never a hub blowup —
    and the count itself is skew-proof: orientation caps every wedge key
    at O(√m) out-degree, the property that survives a 1000-executor
    shuffle where a naive wedge join dies on the hottest part."""
    from vectordb_etl_spark.operators.graph_analytics import triangle_count

    li = _table(spark, sf, "lineitem").select("l_orderkey", "l_partkey")
    l2 = li.select(
        F.col("l_orderkey").alias("k2"), F.col("l_partkey").alias("p2")
    )
    edges = li.join(l2, li.l_orderkey == l2.k2).filter(
        F.col("l_partkey") < F.col("p2")
    ).select(F.col("l_partkey").alias("src"), F.col("p2").alias("dst"))
    return triangle_count(edges)


def _part_copurchase_triangles_sql() -> str:
    from vectordb_etl_spark.operators.graph_analytics import (
        triangle_count_sql,
    )

    edges = (
        "SELECT a.l_partkey AS src, b.l_partkey AS dst "
        "FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey "
        "WHERE a.l_partkey < b.l_partkey"
    )
    return triangle_count_sql(edges)


_register(
    "part_copurchase_triangles",
    _part_copurchase_triangles,
    _part_copurchase_triangles_sql(),
)


def _part_bundle_edges(spark: SparkSession, sf: str) -> DataFrame:
    """Directed edge list of the SUPPORT-2 part co-purchase graph: parts
    linked when they co-occur in >= 2 distinct orders (the support floor
    sparsifies the dense raw co-occurrence graph into actual bundling
    signal). Emitted in both directions for traversal operators."""
    li = _table(spark, sf, "lineitem").select("l_orderkey", "l_partkey")
    l2 = li.select(
        F.col("l_orderkey").alias("k2"), F.col("l_partkey").alias("p2")
    )
    pairs = (
        li.join(l2, li.l_orderkey == l2.k2)
        .filter(F.col("l_partkey") < F.col("p2"))
        .groupBy(F.col("l_partkey").alias("a"), F.col("p2").alias("b"))
        .agg(F.count_distinct(F.col("l_orderkey")).alias("support"))
        .filter(F.col("support") >= 2)
    )
    return pairs.select(
        F.col("a").alias("src"), F.col("b").alias("dst")
    ).unionByName(
        pairs.select(F.col("b").alias("src"), F.col("a").alias("dst"))
    )


_BUNDLE_EDGES_SQL = (
    "SELECT a AS src, b AS dst FROM ("
    "  SELECT x.l_partkey AS a, y.l_partkey AS b"
    "  FROM lineitem x JOIN lineitem y ON x.l_orderkey = y.l_orderkey"
    "  WHERE x.l_partkey < y.l_partkey"
    "  GROUP BY 1, 2 HAVING count(DISTINCT x.l_orderkey) >= 2) "
    "UNION ALL "
    "SELECT b AS src, a AS dst FROM ("
    "  SELECT x.l_partkey AS a, y.l_partkey AS b"
    "  FROM lineitem x JOIN lineitem y ON x.l_orderkey = y.l_orderkey"
    "  WHERE x.l_partkey < y.l_partkey"
    "  GROUP BY 1, 2 HAVING count(DISTINCT x.l_orderkey) >= 2)"
)


def _bfs_part_reach(spark: SparkSession, sf: str) -> DataFrame:
    """Multi-source BFS hop counts (operators/graph_analytics.py:
    bfs_hops) over the support-2 part co-purchase graph — "every part
    within 4 bundle-hops of the seed assortment", the recommendation /
    substitution-radius shape. Seeds are the deterministic 1%-of-parts
    slice; a seed isolated from the graph still reports hop 0. Each hop
    is one frontier×edges join + one anti join against visited — exact
    integer set algebra, so the DuckDB twin (the same rounds unrolled as
    chained CTEs) hash-matches bit-for-bit."""
    from vectordb_etl_spark.operators.graph_analytics import bfs_hops

    edges = _part_bundle_edges(spark, sf)
    seeds = (
        _table(spark, sf, "part")
        .filter(F.col("p_partkey") % 100 == 1)
        .select(F.col("p_partkey").alias("node"))
    )
    # bundle edges: distinct by construction (grouped pairs, disjoint
    # mirror) and self-loop-free (a < b strict) — skip the internal
    # filter+distinct shuffle
    return bfs_hops(edges, seeds, max_hops=4, assume_distinct=True)


def _bfs_part_reach_sql() -> str:
    from vectordb_etl_spark.operators.graph_analytics import bfs_hops_sql

    return bfs_hops_sql(
        _BUNDLE_EDGES_SQL,
        "SELECT p_partkey AS node FROM part WHERE p_partkey % 100 = 1",
        max_hops=4,
    )


_register(
    "bfs_part_reach",
    _bfs_part_reach,
    _bfs_part_reach_sql(),
)


def _part_affinity_ppr(spark: SparkSession, sf: str) -> DataFrame:
    """Personalized PageRank / random walk with restart (operators/
    graph_analytics.py:personalized_pagerank): affinity of every part
    to the deterministic 1%-seed assortment over the support-2 bundle
    graph — the "customers also bought" recommendation score, where
    plain PageRank would rank global hubs instead. 4 integer micro-unit
    rounds, teleport mass returning only to seeds; the oracle unrolls
    identical rounds. Non-seed parts with rank 0 are filtered (they
    carry no affinity signal and would bloat the result)."""
    from vectordb_etl_spark.operators.graph_analytics import (
        personalized_pagerank,
    )

    edges = _part_bundle_edges(spark, sf)
    seeds = (
        _table(spark, sf, "part")
        .filter(F.col("p_partkey") % 100 == 1)
        .select(F.col("p_partkey").alias("node"))
    )
    # bundle edges are a distinct canonical pair table unioned with its
    # own swap (disjoint directions: a<b vs b>a) — provably duplicate-free
    out = personalized_pagerank(edges, seeds, iterations=4, assume_distinct=True)
    return out.filter(F.col("rank_micro") > 0).orderBy(
        F.desc("rank_micro"), F.asc("node")
    )


def _part_affinity_ppr_sql() -> str:
    from vectordb_etl_spark.operators.graph_analytics import (
        personalized_pagerank_sql,
    )

    return (
        personalized_pagerank_sql(
            _BUNDLE_EDGES_SQL,
            "SELECT p_partkey AS node FROM part WHERE p_partkey % 100 = 1",
            iterations=4,
        )
        + " WHERE rank_micro > 0 ORDER BY rank_micro DESC, node ASC"
    )


_register(
    "part_affinity_ppr",
    _part_affinity_ppr,
    _part_affinity_ppr_sql(),
)


def _part_communities(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic label-propagation communities (operators/
    graph_analytics.py:label_propagation, 4 synchronous rounds) over the
    support-2 bundle graph — "which parts cluster into baskets", the
    assortment-segmentation shape. Majority adoption with the
    (count desc, label asc) total-order tie-break makes every round —
    and therefore the whole run — engine-reproducible; the oracle
    unrolls identical rounds."""
    from vectordb_etl_spark.operators.graph_analytics import (
        label_propagation,
    )

    # bundle edges are already the mirrored, distinct, self-loop-free
    # directed list LPA's canonicalize+mirror preamble would reproduce —
    # skip it (one edge-list shuffle saved)
    return label_propagation(
        _part_bundle_edges(spark, sf), rounds=4, assume_mirrored=True
    )


def _part_communities_sql() -> str:
    from vectordb_etl_spark.operators.graph_analytics import (
        label_propagation_sql,
    )

    return label_propagation_sql(_BUNDLE_EDGES_SQL, rounds=4)


_register(
    "part_communities",
    _part_communities,
    _part_communities_sql(),
)


def _copurchase_edges(spark: SparkSession, sf: str) -> DataFrame:
    """Raw (unsupported-floor) part co-purchase edges: one directed row
    per part pair sharing an order — shared by kcore_copurchase and
    kcore_converged so the graph definition cannot silently diverge."""
    li = _table(spark, sf, "lineitem").select("l_orderkey", "l_partkey")
    l2 = li.select(
        F.col("l_orderkey").alias("k2"), F.col("l_partkey").alias("p2")
    )
    return (
        li.join(l2, li.l_orderkey == l2.k2)
        .filter(F.col("l_partkey") < F.col("p2"))
        .select(F.col("l_partkey").alias("src"), F.col("p2").alias("dst"))
    )


_COPURCHASE_EDGES_SQL = (
    "SELECT a.l_partkey AS src, b.l_partkey AS dst "
    "FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey "
    "WHERE a.l_partkey < b.l_partkey"
)


def _kcore_copurchase(spark: SparkSession, sf: str) -> DataFrame:
    """k-core of the raw part co-purchase graph (operators/
    graph_analytics.py:kcore, k=60, 4 peel rounds): the
    "densely-bundled assortment core" — parts that stay mutually
    connected to >= 60 co-purchase partners even after every weakly
    connected part is peeled away. Fixed-round peeling (degree agg + two
    endpoint semi joins per round) is the same declarative-iteration
    contract as pagerank; the DuckDB twin unrolls identical rounds, so
    survivor degrees hash-match exactly."""
    from vectordb_etl_spark.operators.graph_analytics import kcore

    return kcore(_copurchase_edges(spark, sf), k=60, rounds=4)


def _kcore_copurchase_sql() -> str:
    from vectordb_etl_spark.operators.graph_analytics import kcore_sql

    return kcore_sql(_COPURCHASE_EDGES_SQL, k=60, rounds=4)


_register(
    "kcore_copurchase",
    _kcore_copurchase,
    _kcore_copurchase_sql(),
)


# Converged-mode cap shared by the Spark query and its oracle: peeling is
# monotone and idempotent past the fixpoint, so Spark-stops-at-depth-d and
# SQL-unrolls-all-N produce the same survivors whenever d <= N, and when
# the guard trips both sides ran exactly N rounds — hash-equal either way.
# Cap sized at 4x the measured peel depth (2 rounds at sf0.001/0.01/0.1 —
# the co-purchase graph has one thin onion layer around the 60-core). A
# larger cap buys only margin, and the oracle unrolls every capped round:
# a cap of 24 made it the most expensive check_oracle row (25.5 s at
# sf0.1).
_KCORE_CONVERGED_MAX_ROUNDS = 8


def _kcore_converged(spark: SparkSession, sf: str) -> DataFrame:
    """THE k-core (run-to-convergence; operators/graph_analytics.py:kcore
    with rounds=None): peel until a round removes nothing, bounded by a
    shared cap. What a user means by "the 60-core" — no round count in
    the contract (reference analogue: the fixed-round kcore_copurchase
    is the bounded variant). The
    convergence probe is a count() on the already-materialized per-round
    edge table, so the only extra cost over fixed rounds is one cached
    count per round."""
    from vectordb_etl_spark.operators.graph_analytics import kcore

    return kcore(
        _copurchase_edges(spark, sf),
        k=60,
        rounds=None,
        max_rounds=_KCORE_CONVERGED_MAX_ROUNDS,
    )


def _kcore_converged_sql() -> str:
    from vectordb_etl_spark.operators.graph_analytics import kcore_sql

    return kcore_sql(
        _COPURCHASE_EDGES_SQL, k=60, rounds=_KCORE_CONVERGED_MAX_ROUNDS
    )


_register(
    "kcore_converged",
    _kcore_converged,
    _kcore_converged_sql(),
)


# Measured convergence depth (graph_analytics.convergence_stats):
# 13 iterations at sf0.001 (sparsest nation graph), 1 at sf0.01/sf0.1
# (the trade graph is complete there, so uniform rank is an immediate
# fixpoint). Cap = observed max + 50% margin: the oracle unrolls every
# capped round, so a wider cap pays for margin nobody uses (same sizing
# as _KCORE_CONVERGED_MAX_ROUNDS). A cap trip is loud: graph_analytics
# warns RuntimeWarning instead of silently returning a
# truncated-but-oracle-matching result.
_PAGERANK_CONVERGED_MAX_ITERS = 20


def _pagerank_converged(spark: SparkSession, sf: str) -> DataFrame:
    """Converged integer PageRank (operators/graph_analytics.py:pagerank
    with iterations=None) over the DIRECTED nation trade graph (supplier
    nation → customer nation, distinct edges from the Q7-style snowflake
    join): iterate until the bigint micro-rank vector repeats EXACTLY —
    reachable because the whole update is integer floor arithmetic — or
    the shared cap trips. The cap-unrolled oracle reproduces either case
    (a true fixpoint is idempotent; the capped run is the same rounds on
    both engines). Nation-sized rank table, so the 40-round unroll is
    trivial for DuckDB while the edge build exercises the full
    lineitem⋈orders⋈supplier⋈customer shuffle once."""
    from vectordb_etl_spark.operators.graph_analytics import pagerank

    li = _table(spark, sf, "lineitem").select("l_orderkey", "l_suppkey")
    orders = _table(spark, sf, "orders").select("o_orderkey", "o_custkey")
    supp = _table(spark, sf, "supplier").select("s_suppkey", "s_nationkey")
    cust = _table(spark, sf, "customer").select("c_custkey", "c_nationkey")
    edges = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .select(
            F.col("s_nationkey").alias("src"),
            F.col("c_nationkey").alias("dst"),
        )
        .distinct()
    )
    return pagerank(
        edges, iterations=None, max_iterations=_PAGERANK_CONVERGED_MAX_ITERS,
        assume_distinct=True,  # edges is .distinct()-ed two lines up
    )


def _pagerank_converged_sql() -> str:
    from vectordb_etl_spark.operators.graph_analytics import pagerank_sql

    edges = (
        "SELECT DISTINCT s_nationkey AS src, c_nationkey AS dst "
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
        "JOIN supplier ON l_suppkey = s_suppkey "
        "JOIN customer ON o_custkey = c_custkey"
    )
    return pagerank_sql(edges, iterations=_PAGERANK_CONVERGED_MAX_ITERS)


_register(
    "pagerank_converged",
    _pagerank_converged,
    _pagerank_converged_sql(),
)


# NOT tightenable (measured): sf0.001 converges
# at round 5, but at sf0.01/sf0.1 synchronous LPA enters a period-2 limit
# cycle (labels at round 40 == round 42 != round 41) and NEVER converges;
# at sf0.01 the labels are still transient at round 12 (hash(10 rounds)
# != hash(12 rounds)), so ANY cap change changes the result hash. The cap
# stays 12 and the guard-trip is loud (RuntimeWarning from
# graph_analytics._cap_tripped) instead of silently labeling a truncated
# unroll 'converged'.
_LPA_CONVERGED_MAX_ROUNDS = 12


def _communities_converged(spark: SparkSession, sf: str) -> DataFrame:
    """Converged-OR-capped label-propagation communities (operators/
    graph_analytics.py:label_propagation with rounds=None) over the
    support-2 bundle graph: iterate until no label changes, bounded by
    a cap shared with the oracle. Synchronous LPA is stable at a
    fixpoint (same labels -> same votes -> same argmax), so the
    cap-unrolled oracle reproduces the converged labeling exactly; when
    the guard trips (MEASURED at sf0.01/sf0.1: the bipartite-ish bundle
    graph oscillates in a period-2 limit cycle, so there is no fixpoint
    to reach) both engines ran exactly the cap — still hash-equal, and
    the operator now emits a RuntimeWarning naming the truncation."""
    from vectordb_etl_spark.operators.graph_analytics import (
        label_propagation,
    )

    return label_propagation(
        _part_bundle_edges(spark, sf),
        rounds=None,
        max_rounds=_LPA_CONVERGED_MAX_ROUNDS,
        assume_mirrored=True,  # same provably-mirrored input as part_communities
    )


def _communities_converged_sql() -> str:
    from vectordb_etl_spark.operators.graph_analytics import (
        label_propagation_sql,
    )

    return label_propagation_sql(
        _BUNDLE_EDGES_SQL, rounds=_LPA_CONVERGED_MAX_ROUNDS
    )


_register(
    "communities_converged",
    _communities_converged,
    _communities_converged_sql(),
)


def _zorder_locality(spark: SparkSession, sf: str) -> DataFrame:
    """Z-order (Morton) clustering key (store/layout.py exact variant) — the
    lakehouse file-layout primitive: interleave customer-key and
    day-of-year bits so range-partitioned files carry tight min/max
    boxes on BOTH columns and a box predicate prunes most files from a
    100 TB manifest (the pruning payoff itself is asserted empirically
    in tests/test_layout.py; this query hash-checks the key arithmetic
    — pure shift/mask/or, bit-identical in DuckDB). Returns the 50
    lowest keys plus their decoded dims; the ordering IS the locality
    curve."""
    from vectordb_etl_spark.store.layout import zorder_key_exact_col

    o = _table(spark, sf, "orders").select(
        "o_orderkey",
        (F.col("o_custkey") % 1024).alias("ck"),
        F.dayofyear("o_orderdate").alias("dy"),
    )
    return (
        o.withColumn("zkey", zorder_key_exact_col(["ck", "dy"], bits=10))
        .orderBy("zkey", "o_orderkey")
        .limit(50)
        .select("o_orderkey", "ck", "dy", "zkey")
    )


def _zorder_locality_sql() -> str:
    from vectordb_etl_spark.store.layout import zorder_key_exact_sql

    z = zorder_key_exact_sql(["ck", "dy"], bits=10)
    return (
        "SELECT o_orderkey, ck, dy, zkey FROM ("
        "  SELECT o_orderkey, ck, dy, " + z + " AS zkey FROM ("
        "    SELECT o_orderkey, o_custkey % 1024 AS ck, "
        "           dayofyear(o_orderdate) AS dy FROM orders)) "
        "ORDER BY zkey, o_orderkey LIMIT 50"
    )


_register(
    "zorder_locality",
    _zorder_locality,
    _zorder_locality_sql(),
)


def _salted_distinct_users(spark: SparkSession, sf: str) -> DataFrame:
    """Salted two-phase aggregation (operators/skew.py) on a 5-value grouping
    key: value-hash salt in the phase-1 key bounds per-task state at
    |users|/num_salts while staying bit-exact (oracle = plain DISTINCT).
    The layout generalizes to collect_set/percentile/UDAF state that
    Catalyst cannot partial-aggregate — see operators/skew.py docstring."""
    from vectordb_etl_spark.operators.skew import salted_count_distinct

    return salted_count_distinct(
        _events(spark, sf), ["event_type"], "user_id", num_salts=64, out_name="n_users"
    )


_register(
    "salted_distinct_users_by_type",
    _salted_distinct_users,
    "SELECT event_type, count(DISTINCT user_id) AS n_users FROM events GROUP BY 1",
)


def _salted_join_enrichment(spark: SparkSession, sf: str) -> DataFrame:
    """Salted fact⋈dim join (operators/skew.py): hot fact keys spread over
    num_salts reducers, dim exploded ×salts — results provably identical
    to the plain join, which is exactly what the oracle states."""
    from vectordb_etl_spark.operators.skew import salted_join

    ev = _events(spark, sf).select("user_id", "event_id", "value")
    dim = _table(spark, sf, "customer").select(
        F.col("c_custkey").alias("user_id"), F.col("c_mktsegment").alias("segment")
    )
    return (
        salted_join(ev, dim, "user_id", num_salts=8, salt_source="event_id")
        .groupBy("segment")
        .agg(
            F.count("*").alias("n"),
            F.round(
                F.sum(F.col("value").cast("decimal(18,6)")).cast("double"), 6
            ).alias("total_value"),
        )
    )


_register(
    "salted_join_enrichment",
    _salted_join_enrichment,
    "SELECT c_mktsegment AS segment, count(*) AS n, "
    "round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 6) AS total_value "
    "FROM events JOIN customer ON user_id = c_custkey GROUP BY 1",
)


def _vocab_top_terms(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus vocabulary heavy hitters: tokenize → explode → count → top 20.
    The explode is map-local; the groupBy gets map-side partial aggregation
    (term space per task, not corpus-wide), and the final top-k is
    TakeOrderedAndProject — no global sort. This is the word-count shape a
    training-data pipeline runs for vocabulary/contamination stats at 100 TB."""
    return (
        _docs(spark, sf)
        .select(F.explode(F.split(F.lower("text"), r"\s+")).alias("term"))
        .filter(F.col("term") != "")
        .groupBy("term")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("term"))
        .limit(20)
    )


_register(
    "vocab_top_terms",
    _vocab_top_terms,
    "SELECT term, count(*) AS n FROM ("
    "SELECT unnest(regexp_split_to_array(lower(text), '\\s+')) AS term FROM documents"
    ") WHERE term <> '' GROUP BY term ORDER BY n DESC, term ASC LIMIT 20",
)


def _column_profile_orders(spark: SparkSession, sf: str) -> DataFrame:
    """ANALYZE-style per-column profile of orders (operators/profile.py:
    profile_table): row/null/exact-distinct counts plus canonical
    min/max, ALL columns in one aggregate pass over one scan (the
    multi-DISTINCT rides a single Expand). The oracle is an independent
    per-column restatement — one plain aggregate per column, unioned —
    so the one-pass plan is checked against the obvious many-pass one.
    Float min/max are integer micro-units (cross-engine float rendering
    is the one divergent cast); n_rows repeats per row by design (the
    profile is self-describing)."""
    from vectordb_etl_spark.operators.profile import profile_table

    return profile_table(_table(spark, sf, "orders"))


def _column_profile_orders_sql() -> str:
    from vectordb_etl_spark.operators.profile import profile_table_sql

    cols = [
        ("o_orderkey", "bigint"),
        ("o_custkey", "bigint"),
        ("o_orderstatus", "string"),
        ("o_totalprice", "double"),
        ("o_orderdate", "timestamp"),
        ("o_orderpriority", "string"),
    ]
    return profile_table_sql("orders", cols)


_register(
    "column_profile_orders",
    _column_profile_orders,
    _column_profile_orders_sql(),
)


def _price_depth_histogram(spark: SparkSession, sf: str) -> DataFrame:
    """Equi-depth price histogram (operators/profile.py:
    equi_depth_histogram): 10 equal-height buckets of l_extendedprice —
    the CBO statistic that stays informative under skew where
    equi-width bars collapse. One exact percentile aggregate broadcast
    back over the scan, then a count keyed by ≤10 bucket ids; bucket
    extents in micro-units. Spark percentile ≡ DuckDB quantile_cont
    bit-for-bit (the sample_quantiles-verified parity), so the whole
    histogram hash-matches."""
    from vectordb_etl_spark.operators.profile import equi_depth_histogram

    li = _table(spark, sf, "lineitem")
    return equi_depth_histogram(li, "l_extendedprice", buckets=10)


def _price_depth_histogram_sql() -> str:
    from vectordb_etl_spark.operators.profile import equi_depth_histogram_sql

    return equi_depth_histogram_sql("lineitem", "l_extendedprice", buckets=10)


_register(
    "price_depth_histogram",
    _price_depth_histogram,
    _price_depth_histogram_sql(),
)


def _frequent_part_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """Market-basket association mining, Apriori level 2: the top 20
    co-purchased part pairs by order support, with integer-ppm LIFT
    (does the pair co-occur more than independence predicts —
    ``lift_ppm = 1e6·sup_pair·N DIV (sup_a·sup_b)``). Pair generation is
    the order-bounded lineitem self-join (≤ items²/order, no hub
    blowup); supports are distinct-order counts; singles join back by
    part key with NO forced broadcast — the parts dimension grows with
    the data (20e9 parts at 100 TB), so AQE picks broadcast only when
    the side actually fits. Top-k is
    TakeOrderedAndProject on (support desc, pair asc) — a total order,
    so LIMIT is deterministic cross-engine."""
    li = _table(spark, sf, "lineitem").select("l_orderkey", "l_partkey")
    l2 = li.select(
        F.col("l_orderkey").alias("k2"), F.col("l_partkey").alias("p2")
    )
    pair_sup = (
        li.join(l2, li.l_orderkey == l2.k2)
        .filter(F.col("l_partkey") < F.col("p2"))
        .groupBy(F.col("l_partkey").alias("a"), F.col("p2").alias("b"))
        .agg(F.count_distinct("l_orderkey").alias("sup_pair"))
    )
    single = li.groupBy(F.col("l_partkey").alias("p")).agg(
        F.count_distinct("l_orderkey").alias("sup")
    )
    n_orders = li.agg(
        F.count_distinct("l_orderkey").cast("bigint").alias("__n")
    )
    sa = single.select(F.col("p").alias("a"), F.col("sup").alias("sup_a"))
    sb = single.select(F.col("p").alias("b"), F.col("sup").alias("sup_b"))
    return (
        pair_sup.join(sa, "a")
        .join(sb, "b")
        .crossJoin(F.broadcast(n_orders))
        .select(
            "a",
            "b",
            F.col("sup_pair").cast("bigint").alias("sup_pair"),
            F.expr("(1000000 * sup_pair * __n) DIV (sup_a * sup_b)").alias(
                "lift_ppm"
            ),
        )
        .orderBy(F.desc("sup_pair"), F.asc("a"), F.asc("b"))
        .limit(20)
    )


_register(
    "frequent_part_pairs",
    _frequent_part_pairs,
    "WITH pair_sup AS (SELECT x.l_partkey AS a, y.l_partkey AS b, "
    "count(DISTINCT x.l_orderkey) AS sup_pair "
    "FROM lineitem x JOIN lineitem y ON x.l_orderkey = y.l_orderkey "
    "WHERE x.l_partkey < y.l_partkey GROUP BY 1, 2), "
    "single AS (SELECT l_partkey AS p, count(DISTINCT l_orderkey) AS sup "
    "FROM lineitem GROUP BY 1), "
    "n AS (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders "
    "FROM lineitem) "
    "SELECT a, b, CAST(sup_pair AS BIGINT) AS sup_pair, "
    "(1000000 * sup_pair * n_orders) // (sa.sup * sb.sup) AS lift_ppm "
    "FROM pair_sup JOIN single sa ON sa.p = a JOIN single sb ON sb.p = b, n "
    "ORDER BY sup_pair DESC, a ASC, b ASC LIMIT 20",
)


def _session_attribution(spark: SparkSession, sf: str) -> DataFrame:
    """First-touch attribution: every 'purchase' event credits the
    event type that OPENED its user's session (30-minute inactivity
    sessions — the same windowing rule as events_sessionize). Two
    window passes over user-keyed partitions (session id by gap
    cumsum, then first_value per session) and one count — the
    marketing-attribution shape; all keys user-bounded, no self-joins."""
    ev = _events(spark, sf).select("user_id", "event_type", "ts")
    w_user = Window.partitionBy("user_id").orderBy("ts", "event_type")
    # integer MICROSECONDS (unix_micros ≡ DuckDB epoch_us) — sub-second
    # exact, the same parity rule as events_sessionize
    gap = F.when(
        F.unix_micros(F.col("ts"))
        - F.lag(F.unix_micros(F.col("ts"))).over(w_user)
        > 1_800_000_000,
        1,
    ).otherwise(0)
    with_sess = ev.withColumn(
        "sess",
        F.sum(gap).over(
            w_user.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    w_sess = (
        Window.partitionBy("user_id", "sess")
        .orderBy("ts", "event_type")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    attributed = with_sess.withColumn(
        "first_touch", F.first("event_type").over(w_sess)
    )
    return (
        attributed.filter(F.col("event_type") == "purchase")
        .groupBy("first_touch")
        .agg(F.count("*").cast("bigint").alias("n_purchases"))
        .orderBy("first_touch")
    )


_register(
    "session_attribution",
    _session_attribution,
    "WITH marked AS (SELECT user_id, event_type, ts, "
    "CASE WHEN epoch_us(ts) - epoch_us(lag(ts) OVER "
    "(PARTITION BY user_id ORDER BY ts, event_type)) > 1800000000 "
    "THEN 1 ELSE 0 END AS gap FROM events), "
    "sess AS (SELECT user_id, event_type, ts, "
    "sum(gap) OVER (PARTITION BY user_id ORDER BY ts, event_type "
    "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess "
    "FROM marked), "
    "ft AS (SELECT event_type, first_value(event_type) OVER "
    "(PARTITION BY user_id, sess ORDER BY ts, event_type "
    "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS first_touch "
    "FROM sess) "
    "SELECT first_touch, CAST(count(*) AS BIGINT) AS n_purchases "
    "FROM ft WHERE event_type = 'purchase' "
    "GROUP BY first_touch ORDER BY first_touch",
)


def _events_daily_trend(spark: SparkSession, sf: str) -> DataFrame:
    """Per-type traffic trend (operators/profile.py:ols_slope_ppm): the
    least-squares slope of daily event counts over epoch-day index — the
    "is this stream growing" monitor column. Daily counts collapse to
    bounded keys first (days × types), then ONE grouped aggregate of
    exact DECIMAL(38,0) moment sums with a single pinned float step per
    group — no window, no sort, nothing float-accumulates row-wise."""
    from vectordb_etl_spark.operators.profile import ols_slope_ppm

    ev = _events(spark, sf)
    daily = (
        ev.groupBy(
            "event_type", F.date_trunc("day", "ts").alias("day")
        )
        .agg(F.count("*").alias("y"))
        .select(
            "event_type",
            F.datediff("day", F.lit("1970-01-01")).alias("x"),
            "y",
        )
    )
    return ols_slope_ppm(daily, "x", "y", ["event_type"]).orderBy(
        "event_type"
    )


def _events_daily_trend_sql() -> str:
    from vectordb_etl_spark.operators.profile import ols_slope_ppm_sql

    daily = (
        "SELECT event_type, "
        "date_diff('day', DATE '1970-01-01', "
        "CAST(date_trunc('day', ts) AS DATE)) AS x, "
        "CAST(count(*) AS BIGINT) AS y "
        "FROM events GROUP BY 1, 2"
    )
    return (
        ols_slope_ppm_sql(daily, "x", "y", ["event_type"])
        + " ORDER BY event_type"
    )


_register(
    "events_daily_trend",
    _events_daily_trend,
    _events_daily_trend_sql(),
)


def _critical_parts_share(spark: SparkSession, sf: str) -> DataFrame:
    """ABC / Pareto analysis: the minimal set of parts covering 80% of
    total line value. Exact integer arithmetic end to end: per-part
    value in cents (one fact-table aggregate — the only big shuffle),
    a TWO-PHASE prefix sum over the value-desc/partkey-asc total order
    (global_cumsum: range partitions run their windows in parallel,
    only the ≤num_partitions partition totals pass through one task —
    the parts dimension grows with the data, so no single-partition
    window), total via a broadcast 1-row scalar, and the keep rule is
    "previous cumulative ppm < 800000" so the crossing row is included.
    The classic inventory-criticality shape a 100 TB warehouse runs on
    the dimension, not the fact."""
    from vectordb_etl_spark.operators.rollup import global_cumsum

    li = _table(spark, sf, "lineitem")
    per_part = li.groupBy("l_partkey").agg(
        F.sum(F.round(F.col("l_extendedprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("value_cents")
    )
    total = per_part.agg(
        F.sum("value_cents").cast("bigint").alias("__total")
    )
    # two-phase prefix sum (operators/rollup.py:global_cumsum) — the
    # parts dimension GROWS with the data, so a bare global-ordered
    # window (one task holds every part) is not acceptable here the way
    # it is for bounded calendar keys
    cum = (
        global_cumsum(
            per_part,
            [F.desc("value_cents"), F.asc("l_partkey")],
            "value_cents",
            out_col="cum_cents",
        )
        .crossJoin(F.broadcast(total))
        .select(
            "l_partkey",
            "value_cents",
            F.expr("(1000000 * cum_cents) DIV __total").alias("cum_ppm"),
            F.expr(
                "(1000000 * (cum_cents - value_cents)) DIV __total"
            ).alias("prev_ppm"),
        )
    )
    return (
        cum.filter(F.col("prev_ppm") < 800_000)
        .select("l_partkey", "value_cents", "cum_ppm")
        .orderBy(F.desc("value_cents"), F.asc("l_partkey"))
    )


_register(
    "critical_parts_share",
    _critical_parts_share,
    "WITH per_part AS (SELECT l_partkey, "
    "CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) "
    "AS value_cents FROM lineitem GROUP BY 1), "
    "t AS (SELECT CAST(sum(value_cents) AS BIGINT) AS total FROM per_part), "
    "cum AS (SELECT l_partkey, value_cents, "
    "CAST(sum(value_cents) OVER (ORDER BY value_cents DESC, l_partkey ASC "
    "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) "
    "AS cum_cents FROM per_part) "
    "SELECT l_partkey, value_cents, "
    "(1000000 * cum_cents) // total AS cum_ppm "
    "FROM cum, t WHERE (1000000 * (cum_cents - value_cents)) // total "
    "< 800000 ORDER BY value_cents DESC, l_partkey ASC",
)


def _price_quantity_corr(spark: SparkSession, sf: str) -> DataFrame:
    """Pairwise-column correlation as a pinned ppm statistic
    (operators/profile.py:pearson_corr_ppm) — does line revenue track
    quantity? Built-in corr() float-sums in aggregation order and can
    never hash cross-engine; here the five moment sums are EXACT
    DECIMAL(38,0) integers over cent/unit-quantized values and the only
    float work is one fixed expression over six scalars (the HLL
    estimator contract). One map-side-combined aggregate, one row out."""
    from vectordb_etl_spark.operators.profile import pearson_corr_ppm

    li = _table(spark, sf, "lineitem")
    return pearson_corr_ppm(
        li, "l_extendedprice", "l_quantity", x_scale=100, y_scale=1
    )


def _price_quantity_corr_sql() -> str:
    from vectordb_etl_spark.operators.profile import pearson_corr_ppm_sql

    return pearson_corr_ppm_sql(
        "lineitem", "l_extendedprice", "l_quantity", x_scale=100, y_scale=1
    )


_register(
    "price_quantity_corr",
    _price_quantity_corr,
    _price_quantity_corr_sql(),
)


def _kmv_returned_only_parts(spark: SparkSession, sf: str) -> DataFrame:
    """KMV set-DIFFERENCE estimate (functions/sketches.py:
    kmv_difference): how many distinct parts appear ONLY on returned
    lineitems (returnflag R) and never on a clean line — the
    "quarantine catalog" cardinality, |A \\ B| from two 256-hash
    register sets. HLL cannot subtract; KMV order statistics can. Both
    register sets are TakeOrdered scans (partkeys never shuffle); the
    difference math runs on ≤ 2k register rows. The oracle restates the
    identical register sets and integer arithmetic in DuckDB."""
    from vectordb_etl_spark.functions.sketches import (
        kmv_difference,
        kmv_registers,
    )

    k = 256
    li = _table(spark, sf, "lineitem").select("l_partkey", "l_returnflag")
    a = kmv_registers(
        li.filter(F.col("l_returnflag") == "R"), "l_partkey", k=k
    ).localCheckpoint(eager=True)
    b = kmv_registers(
        li.filter(F.col("l_returnflag") != "R"), "l_partkey", k=k
    ).localCheckpoint(eager=True)
    return kmv_difference(a, b, k=k)


def _kmv_returned_only_parts_sql() -> str:
    from vectordb_etl_spark.functions.sketches import kmv_registers_sql

    k = 256
    two60 = 1 << 60
    a = kmv_registers_sql(
        "SELECT l_partkey FROM lineitem WHERE l_returnflag = 'R'",
        "l_partkey",
        k=k,
    )
    b = kmv_registers_sql(
        "SELECT l_partkey FROM lineitem WHERE l_returnflag <> 'R'",
        "l_partkey",
        k=k,
    )
    return (
        f"WITH a AS MATERIALIZED ({a}), "
        f"b AS MATERIALIZED ({b}), "
        f"m AS MATERIALIZED (SELECT h FROM (SELECT h FROM a UNION "
        f"SELECT h FROM b) ORDER BY h LIMIT {k}), "
        f"u AS (SELECT CAST(count(*) AS BIGINT) AS n_regs, "
        f"CASE WHEN count(*) < {k} THEN CAST(count(*) AS BIGINT) "
        f"ELSE CAST(floor(CAST({k - 1} AS DOUBLE) * "
        f"CAST({two60} AS DOUBLE) / CAST(max(h) AS DOUBLE)) AS BIGINT) "
        f"END AS n_distinct_est FROM m), "
        f"oa AS (SELECT CAST(count(*) AS BIGINT) AS n_only_a FROM m "
        f"WHERE h IN (SELECT h FROM a) AND h NOT IN (SELECT h FROM b)) "
        f"SELECT u.n_regs AS n_union_regs, oa.n_only_a, "
        f"(oa.n_only_a * u.n_distinct_est) // u.n_regs AS diff_est "
        f"FROM u, oa"
    )


_register(
    "kmv_returned_only_parts",
    _kmv_returned_only_parts,
    _kmv_returned_only_parts_sql(),
)


def _order_status_diff(spark: SparkSession, sf: str) -> DataFrame:
    """CDC-style snapshot diff (store/snapshots.py:table_diff): classify
    every order key as added/removed/changed/unchanged between two table
    states via ONE null-safe full outer join — the "what did this commit
    do" query over snapshot versions. The new state is derived from
    orders by a deterministic mutation rule (keys %19==3 deleted, %19==5
    status rewritten, %19==7 re-inserted shifted by 1e9), and the oracle
    classifies straight FROM THE RULE, never joining — the diff operator
    must rediscover the mutation exactly. Output: per-class row count
    and key checksum."""
    from vectordb_etl_spark.store.snapshots import table_diff

    od = _table(spark, sf, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    k = F.col("o_orderkey")
    new = (
        od.filter(k % 19 != 3)
        .withColumn(
            "o_orderstatus",
            F.when(k % 19 == 5, F.lit("X")).otherwise(F.col("o_orderstatus")),
        )
        .unionByName(
            od.filter(k % 19 == 7).select(
                (k + 1_000_000_000).alias("o_orderkey"),
                "o_orderstatus",
                "o_totalprice",
            )
        )
    )
    diff = table_diff(od, new, ["o_orderkey"])
    return (
        diff.groupBy("change_type")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum("o_orderkey").cast("bigint").alias("key_sum"),
        )
        .orderBy("change_type")
    )


_register(
    "order_status_diff",
    _order_status_diff,
    # independent restatement: classify from the mutation rule itself
    "SELECT change_type, CAST(count(*) AS BIGINT) AS n, "
    "CAST(sum(k) AS BIGINT) AS key_sum FROM ("
    "  SELECT CASE WHEN o_orderkey % 19 = 3 THEN 'removed' "
    "              WHEN o_orderkey % 19 = 5 THEN 'changed' "
    "              ELSE 'unchanged' END AS change_type, "
    "         o_orderkey AS k FROM orders "
    "  UNION ALL "
    "  SELECT 'added', o_orderkey + 1000000000 FROM orders "
    "  WHERE o_orderkey % 19 = 7) "
    "GROUP BY change_type ORDER BY change_type",
)


def _bpe_first_merges(spark: SparkSession, sf: str) -> DataFrame:
    """Character-pair merge statistics for tokenizer training
    (functions/text.py:bpe_pair_counts): the corpus-wide adjacent-pair
    histogram whose argmax is BPE's first learned merge. One map-local
    window explode + one map-side-combined count keyed by the symbol
    alphabet squared — the 100 TB shape is a word-count, not a join."""
    from vectordb_etl_spark.functions.text import bpe_pair_counts

    return bpe_pair_counts(_docs(spark, sf), "text", top_n=30)


def _bpe_first_merges_sql() -> str:
    from vectordb_etl_spark.functions.text import bpe_pair_counts_sql

    return bpe_pair_counts_sql("SELECT text FROM documents", "text", top_n=30)


_register(
    "bpe_first_merges",
    _bpe_first_merges,
    _bpe_first_merges_sql(),
)


def _open_orders_daily(spark: SparkSession, sf: str) -> DataFrame:
    """Concurrent-interval counting by SWEEP LINE: how many orders are
    in flight (placed, not yet fully shipped) on each calendar day. The
    naive form is an interval×calendar range join — quadratic blowup at
    100 TB; the sweep line instead emits +1 at each order's open and -1
    the day after its close (close = max lineitem ship day), folds
    to per-day deltas (bounded key space: ~2.5k days regardless of data
    size — same collapse-then-window contract as
    cumulative_unique_users), and a running sum over days is the
    concurrency. Exact integer algebra; the oracle restates it."""
    li = _table(spark, sf, "lineitem")
    closes = li.groupBy("l_orderkey").agg(
        F.max(F.date_trunc("day", "l_shipdate")).alias("close_day")
    )
    od = _table(spark, sf, "orders").join(
        closes, F.col("o_orderkey") == F.col("l_orderkey")
    )
    deltas = (
        od.select(
            F.date_trunc("day", "o_orderdate").alias("day"),
            F.lit(1).alias("delta"),
        )
        .unionByName(
            od.select(
                F.expr("close_day + INTERVAL 1 DAY").alias("day"),
                F.lit(-1).alias("delta"),
            )
        )
        .groupBy("day")
        .agg(F.sum("delta").alias("net"))
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return (
        deltas.withColumn("n_open", F.sum("net").over(w).cast("bigint"))
        .select("day", F.col("net").cast("bigint").alias("net"), "n_open")
        .orderBy("day")
    )


_register(
    "open_orders_daily",
    _open_orders_daily,
    "WITH closes AS (SELECT l_orderkey, "
    "CAST(max(date_trunc('day', l_shipdate)) AS TIMESTAMP) AS close_day "
    "FROM lineitem GROUP BY 1), "
    "od AS (SELECT o_orderdate, close_day FROM orders "
    "JOIN closes ON o_orderkey = l_orderkey), "
    "deltas AS (SELECT day, CAST(sum(delta) AS BIGINT) AS net FROM ("
    "  SELECT CAST(date_trunc('day', o_orderdate) AS TIMESTAMP) AS day, "
    "  1 AS delta FROM od "
    "  UNION ALL "
    "  SELECT close_day + INTERVAL 1 DAY, -1 FROM od) GROUP BY day) "
    "SELECT day, net, CAST(sum(net) OVER (ORDER BY day "
    "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS n_open "
    "FROM deltas ORDER BY day",
)


# -- UDF-tier operators: rows-only driver checks (no SQL equivalent) ---------


def _chunk_pipeline(spark: SparkSession, sf: str) -> DataFrame:
    """C1–C6 full chunking pipeline (pandas-UDF splitter → posexplode →
    first-wins dedup). The recursive splitter IS SQL-expressible after
    all: its _go recursion strictly advances the separator cascade (depth
    ≤ 10, unrolled CTE stages) and its two order-dependent folds walk as
    recursive CTEs — chunker.chunk_text_sql, so the oracle is
    hash-checked."""
    docs = _docs(spark, sf).select(
        "doc_id", "source", cleaning.clean_text_col("text").alias("text")
    )
    chunks = chunker.chunk_documents(docs, ChunkerConfig())
    return chunker.remove_duplicate_chunks(chunks).select(
        "doc_id", "chunk_id", "chunk_index", "total_chunks",
        "chunk_size_chars", "chunk_size_tokens",
    )


_CHUNK_PIPELINE_SQL = (
    "WITH chunks AS ({pipeline}"
    "), dedup AS ("
    "  SELECT *, row_number() OVER ("
    "    PARTITION BY {nhash} ORDER BY doc_id, chunk_index) AS rn"
    "  FROM chunks"
    ") "
    "SELECT doc_id, {cid} AS chunk_id, chunk_index, total_chunks, "
    "CAST(length(ctext) AS INT) AS chunk_size_chars, "
    "{toks} AS chunk_size_tokens "
    "FROM dedup WHERE rn = 1"
).format(
    pipeline=chunker.chunk_text_sql(
        "SELECT doc_id, source, "
        + cleaning.clean_text_sql("text")
        + " AS text FROM documents"
    ),
    nhash=chunker.normalized_hash_sql("ctext"),
    cid=T.chunk_id_sql("source", "chunk_index", "ctext"),
    toks=T.estimate_tokens_sql("ctext"),
)

_register("chunk_pipeline", _chunk_pipeline, _CHUNK_PIPELINE_SQL)


def _chunk_metadata(spark: SparkSession, sf: str) -> DataFrame:
    """C5/C6 metadata layer with a hash-checked oracle:
    feed the REAL attach_chunk_metadata + remove_duplicate_chunks operators
    a PRE-CHUNKED fixture — fixed-width 200-char substring slices, which
    unlike the C1-C4 recursive splitter ARE SQL-expressible — so the
    chunk_index/total_chunks/sizes/chunk_id/first-wins-dedup arithmetic
    gets a DuckDB rendering. The splitter itself stays gated by the corpus
    golden hash in tests/test_entry.py."""
    docs = _docs(spark, sf).select("doc_id", "source", "text")
    pre = docs.withColumn(
        "__chunks",
        F.expr(
            "transform(sequence(0, greatest(cast(ceil(length(text) / 200.0)"
            " as int), 1) - 1), i -> substring(text, i * 200 + 1, 200))"
        ),
    )
    meta = chunker.attach_chunk_metadata(
        pre, chunks_col="__chunks", text_col="text", source_col="source"
    )
    return chunker.remove_duplicate_chunks(meta).select(
        "doc_id", "chunk_id", "chunk_index", "total_chunks",
        "chunk_size_chars", "chunk_size_tokens",
    )


_CHUNK_META_SQL = (
    # the same fixed-width slicing + metadata arithmetic + first-wins dedup,
    # stated directly: generate_series per doc, substring slices, md5 chunk
    # id, dedup over the normalized-text hash ordered by (doc_id, idx)
    "WITH sliced AS ("
    "  SELECT doc_id, source,"
    "         greatest(CAST(ceil(length(text) / 200.0) AS INT), 1)"
    "           AS total_chunks,"
    "         unnest(generate_series(0,"
    "           greatest(CAST(ceil(length(text) / 200.0) AS INT), 1) - 1))"
    "           AS chunk_index,"
    "         text AS full_text"
    "  FROM documents"
    "), chunks AS ("
    "  SELECT doc_id, source, total_chunks, chunk_index,"
    "         substring(full_text, chunk_index * 200 + 1, 200) AS ctext"
    "  FROM sliced"
    "), dedup AS ("
    "  SELECT *, row_number() OVER ("
    "    PARTITION BY {nhash} ORDER BY doc_id, chunk_index) AS rn"
    "  FROM chunks"
    ") "
    "SELECT doc_id, {cid} AS chunk_id, chunk_index, total_chunks, "
    "CAST(length(ctext) AS INT) AS chunk_size_chars, "
    "{toks} AS chunk_size_tokens "
    "FROM dedup WHERE rn = 1"
).format(
    nhash=chunker.normalized_hash_sql("ctext"),
    cid=T.chunk_id_sql("source", "chunk_index", "ctext"),
    toks=T.estimate_tokens_sql("ctext"),
)

_register("chunk_metadata", _chunk_metadata, _CHUNK_META_SQL)


# ANN queries run at the PROBE-ALL edge (nprobe=nlist / hamming radius =
# num_planes), where the approximate machinery provably returns the exact
# top-k — so the full build+assign+probe+rank path is oracle-checkable
# against the brute-force SQL. The approximate regime (nprobe < nlist,
# radius 1) stays covered by the recall/pruning tests in tests/test_ann.py.

_ANN_ORACLE = (
    "SELECT vec_id, label, "
    "round(list_cosine_similarity(CAST(embedding AS DOUBLE[]), "
    "(SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 0)), 6) AS score "
    "FROM embeddings ORDER BY score DESC, vec_id ASC LIMIT 10"
)


def _query_batch(emb: DataFrame) -> list[list[float]]:
    """Embeddings of vec_id 0, 1, 2 in id order: the batched queries."""
    return [
        list(r["embedding"])
        for r in emb.filter(F.col("vec_id") < 3)
        .orderBy("vec_id")
        .select("embedding")
        .collect()
    ]


def _graph_index(spark: SparkSession, emb: DataFrame, tmp: str):
    """The 8-shard NSW index (label passed through) the graph queries probe."""
    from vectordb_etl_spark.operators.graph_ann import GraphANNIndex

    return GraphANNIndex(spark, f"{tmp}/graph").build(
        emb, num_shards=8, m=16, ef_construction=64, passthrough=["label"]
    )


def _ivf_topk(spark: SparkSession, sf: str) -> DataFrame:
    """X1/Q1 approximate tier: IVF (KMeans layout + centroid probe),
    nlist=16 at test scale; nprobe=nlist ⇒ every partition probed ⇒ exact."""
    from vectordb_etl_spark.operators.ann import IVFIndex

    emb = _table(spark, sf, "embeddings")
    q = emb.filter(F.col("vec_id") == 0).select("embedding").head()[0]

    def body(tmp: str) -> DataFrame:
        idx = IVFIndex(spark, f"{tmp}/ivf").build(emb, nlist=16, seed=42, max_iter=4)
        return idx.search(list(q), k=10, nprobe=16, tie_break=["vec_id"],
                          output_cols=["vec_id", "label"])

    return _scratch(spark, body)


_register("ivf_topk", _ivf_topk, _ANN_ORACLE)


def _ivf_topk_filtered(spark: SparkSession, sf: str) -> DataFrame:
    """Filtered ANN at the INDEX tier (the Milvus expr+index composition,
    milvus_store.py search filters): the scalar predicate rides INSIDE the
    probe scan — the probe filter (centroid_id IN probes) and the
    predicate (label = 2) are pushed to one parquet scan, so a filtered
    index query reads only the row groups of probed cells.
    Probe-all edge keeps it oracle-checkable."""
    from vectordb_etl_spark.operators.ann import IVFIndex

    emb = _table(spark, sf, "embeddings")
    q = emb.filter(F.col("vec_id") == 0).select("embedding").head()[0]

    def body(tmp: str) -> DataFrame:
        idx = IVFIndex(spark, f"{tmp}/ivf").build(emb, nlist=16, seed=42, max_iter=4)
        return idx.search(
            list(q), k=10, nprobe=16, predicate=F.col("label") == 2,
            tie_break=["vec_id"], output_cols=["vec_id", "label"],
        )

    return _scratch(spark, body)


_register(
    "ivf_topk_filtered",
    _ivf_topk_filtered,
    "SELECT vec_id, label, "
    "round(list_cosine_similarity(CAST(embedding AS DOUBLE[]), "
    "(SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 0)), 6) AS score "
    "FROM embeddings WHERE label = 2 "
    "ORDER BY score DESC, vec_id ASC LIMIT 10",
)


def _ivf_fanout_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Q2 THROUGH the IVF index tier: per-label top-3 hit lists served
    from one probe scan (operators/ann.py
    IVFIndex.search_per_group — the probe filter and the per-group window
    rank stack on the same read; reference fan-out shape
    milvus_store.py:301-325). nprobe=nlist probes every cell, so the
    result provably equals the exact per-label top-3 — the same oracle as
    fanout_topk_per_label. The per-collection-index variant is
    CollectionStore.fanout_search_indexed (tests/test_store_search.py)."""
    from vectordb_etl_spark.operators.ann import IVFIndex

    emb = _table(spark, sf, "embeddings")
    q = emb.filter(F.col("vec_id") == 0).select("embedding").head()[0]

    def body(tmp: str) -> DataFrame:
        idx = IVFIndex(spark, f"{tmp}/ivf").build(emb, nlist=16, seed=42, max_iter=4)
        return idx.search_per_group(
            list(q), k=3, nprobe=16, group_col="label", tie_break=["vec_id"],
        ).select("vec_id", "label", "score")

    return _scratch(spark, body)


_register(
    "ivf_fanout_topk",
    _ivf_fanout_topk,
    "SELECT vec_id, label, score FROM ("
    "SELECT vec_id, label, "
    "round(list_cosine_similarity(CAST(embedding AS DOUBLE[]), "
    "(SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 0)), 6) AS score, "
    "row_number() OVER (PARTITION BY label ORDER BY "
    "round(list_cosine_similarity(CAST(embedding AS DOUBLE[]), "
    "(SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 0)), 6) DESC, "
    "vec_id ASC) AS rnk FROM embeddings) WHERE rnk <= 3",
)


def _ivf_sq8_topk(spark: SparkSession, sf: str) -> DataFrame:
    """IVF_SQ8 (the Milvus index type of the same name): IVF cell layout
    over int8-quantized storage (operators/ann.py build(storage='sq8') —
    assignment on raw vectors, 1-byte codes in the partitions, dequantize
    at probe time). nprobe=nlist probes every partition, so the result
    provably equals brute-force top-k over the quantize→dequantize round
    trip — the same arithmetic the sq8_topk oracle states."""
    from vectordb_etl_spark.operators.ann import IVFIndex

    emb = _table(spark, sf, "embeddings")
    q = emb.filter(F.col("vec_id") == 0).select("embedding").head()[0]

    def body(tmp: str) -> DataFrame:
        idx = IVFIndex(spark, f"{tmp}/ivf_sq8").build(
            emb, nlist=16, seed=42, max_iter=4, storage="sq8"
        )
        return idx.search(list(q), k=10, nprobe=16, tie_break=["vec_id"],
                          output_cols=["vec_id", "label"])

    return _scratch(spark, body)


_register(
    "ivf_sq8_topk",
    _ivf_sq8_topk,
    # identical to the sq8_topk oracle: brute force over the dequantized
    # codes (probe-all makes the IVF layout transparent to the result)
    "WITH prep AS MATERIALIZED ("
    "SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e, "
    "list_aggregate(CAST(embedding AS DOUBLE[]), 'min') AS lo, "
    "(list_aggregate(CAST(embedding AS DOUBLE[]), 'max') "
    "- list_aggregate(CAST(embedding AS DOUBLE[]), 'min')) / 255.0 AS step "
    "FROM embeddings), "
    "deq AS (SELECT vec_id, label, list_transform(e, x -> "
    "lo + (CAST(CAST(round(CASE WHEN step = 0 THEN 0.0 ELSE (x - lo) / step END) "
    "AS INTEGER) - 128 AS DOUBLE) + 128.0) * step) AS d FROM prep) "
    "SELECT vec_id, label, round(list_cosine_similarity(d, "
    "(SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 0)), 6) "
    "AS score FROM deq ORDER BY score DESC, vec_id ASC LIMIT 10",
)


def _ivf_pq_topk(spark: SparkSession, sf: str) -> DataFrame:
    """IVF_PQ tier (operators/ann.py build(storage='pq')): designated
    centroids (centroid j := vec j) AND designated PQ codebook, probe-all
    edge so the IVF layout is transparent — what remains is the PQ
    approximation itself: scores are cosine(query, reconstruction), which
    the oracle restates as the encode→codeword-concat pipeline. The
    quantized ranking, storage lifecycle (codes on disk, literal-codebook
    reconstruction above the pruned scan), and search path are all under
    the hash."""
    import numpy as np

    from vectordb_etl_spark.operators.ann import IVFIndex

    emb = _table(spark, sf, "embeddings")
    # ONE scan job for query + centroids (vec_id < 16 includes the query
    # vector 0) instead of a separate head() + collect() pair
    cent_rows = sorted(
        emb.filter(F.col("vec_id") < 16).select("vec_id", "embedding").collect(),
        key=lambda r: r["vec_id"],
    )
    q = cent_rows[0]["embedding"]
    cents = np.array([r["embedding"] for r in cent_rows], dtype=np.float64)

    def body(tmp: str) -> DataFrame:
        idx = IVFIndex(spark, f"{tmp}/ivfpq").build(
            emb, centroids=cents, assign_round_dp=6, storage="pq",
            pq_subs=8, pq_codes=16,
        )
        return idx.search(
            list(q), k=10, nprobe=16, tie_break=["vec_id"],
            output_cols=["vec_id", "label"],
        )

    return _scratch(spark, body)


_register(
    "ivf_pq_topk",
    _ivf_pq_topk,
    # probe-all makes the IVF layout transparent; the oracle restates the
    # PQ encode (6-dp L2 argmin per subspace) and scores the query against
    # the codeword-concatenated reconstruction
    """
WITH e AS MATERIALIZED (
  SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v, label
  FROM embeddings
), w AS (SELECT (len(v) // 8) AS sw FROM e LIMIT 1),
cb AS MATERIALIZED (
  SELECT s.s AS sub, e.id AS code,
         e.v[s.s * w.sw + 1 : (s.s + 1) * w.sw] AS cw
  FROM e CROSS JOIN w CROSS JOIN (SELECT unnest(range(0, 8)) AS s) s
  WHERE e.id < 16
), enc AS MATERIALIZED (
  SELECT id, sub, code FROM (
    SELECT e.id, cb.sub, cb.code,
           row_number() OVER (
             PARTITION BY e.id, cb.sub
             ORDER BY round(list_distance(
               e.v[cb.sub * w.sw + 1 : (cb.sub + 1) * w.sw], cb.cw), 6) ASC,
               cb.code ASC) AS rn
    FROM e CROSS JOIN w CROSS JOIN cb
  ) WHERE rn = 1
), recon AS (
  SELECT enc.id, flatten(list(cb.cw ORDER BY cb.sub)) AS rv
  FROM enc JOIN cb USING (sub, code) GROUP BY enc.id
), q AS (SELECT v AS qv FROM e WHERE id = 0)
SELECT r.id AS vec_id, e.label,
       round(list_cosine_similarity(r.rv, q.qv), 6) AS score
FROM recon r JOIN e USING (id) CROSS JOIN q
ORDER BY score DESC, vec_id ASC LIMIT 10
""",
)


def _ivf_pq_residual_topk(spark: SparkSession, sf: str) -> DataFrame:
    """IVF_PQ with RESIDUAL encoding (operators/ann.py
    build(storage='pq_residual') — FAISS/Milvus IVF_PQ proper, Jégou et
    al. 2011 §IV): PQ quantizes vector − assigned centroid, reconstruction
    adds the centroid back. Designated centroids (centroid j := vec j,
    j < 4) and designated RESIDUAL codebook (codeword j of subspace s :=
    the s-slice of vec j's residual, j < 16), probe-all edge — so the
    oracle can restate the whole chain: assignment argmax → residual
    subtract → per-subspace L2 argmin encode → codeword concat → centroid
    add-back → cosine ranking."""
    import numpy as np

    from vectordb_etl_spark.operators.ann import IVFIndex

    emb = _table(spark, sf, "embeddings")
    # ONE scan job for query + centroids (vec_id < 4 includes the query
    # vector 0) instead of a separate head() + collect() pair
    cent_rows = sorted(
        emb.filter(F.col("vec_id") < 4).select("vec_id", "embedding").collect(),
        key=lambda r: r["vec_id"],
    )
    q = cent_rows[0]["embedding"]
    cents = np.array([r["embedding"] for r in cent_rows], dtype=np.float64)

    def body(tmp: str) -> DataFrame:
        idx = IVFIndex(spark, f"{tmp}/ivfpqr").build(
            emb, centroids=cents, assign_round_dp=6, storage="pq_residual",
            pq_subs=8, pq_codes=16,
        )
        return idx.search(
            list(q), k=10, nprobe=4, tie_break=["vec_id"],
            output_cols=["vec_id", "label"],
        )

    return _scratch(spark, body)


_register(
    "ivf_pq_residual_topk",
    _ivf_pq_residual_topk,
    """
WITH e AS MATERIALIZED (
  SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v, label
  FROM embeddings
), cents AS MATERIALIZED (
  SELECT id AS cid, v AS cv FROM e WHERE id < 4
), asg AS MATERIALIZED (
  SELECT id, v, cid, cv FROM (
    SELECT e.id, e.v, c.cid, c.cv,
           row_number() OVER (
             PARTITION BY e.id
             ORDER BY round(list_cosine_similarity(e.v, c.cv), 6) DESC,
               c.cid ASC) AS rn
    FROM e CROSS JOIN cents c
  ) WHERE rn = 1
), res AS MATERIALIZED (
  SELECT id, cid, cv,
         list_transform(range(1, len(v) + 1), i -> v[i] - cv[i]) AS r
  FROM asg
), w AS (SELECT (len(r) // 8) AS sw FROM res LIMIT 1),
cb AS MATERIALIZED (
  SELECT s.s AS sub, res.id AS code,
         res.r[s.s * w.sw + 1 : (s.s + 1) * w.sw] AS cw
  FROM res CROSS JOIN w CROSS JOIN (SELECT unnest(range(0, 8)) AS s) s
  WHERE res.id < 16
), enc AS MATERIALIZED (
  SELECT id, sub, code FROM (
    SELECT res.id, cb.sub, cb.code,
           row_number() OVER (
             PARTITION BY res.id, cb.sub
             ORDER BY round(list_distance(
               res.r[cb.sub * w.sw + 1 : (cb.sub + 1) * w.sw], cb.cw), 6) ASC,
               cb.code ASC) AS rn
    FROM res CROSS JOIN w CROSS JOIN cb
  ) WHERE rn = 1
), recon AS (
  SELECT enc.id, flatten(list(cb.cw ORDER BY cb.sub)) AS rr
  FROM enc JOIN cb USING (sub, code) GROUP BY enc.id
), fin AS (
  SELECT recon.id,
         list_transform(range(1, len(recon.rr) + 1),
                        i -> res.cv[i] + recon.rr[i]) AS fv
  FROM recon JOIN res USING (id)
), q AS (SELECT v AS qv FROM e WHERE id = 0)
SELECT f.id AS vec_id, e.label,
       round(list_cosine_similarity(f.fv, q.qv), 6) AS score
FROM fin f JOIN e USING (id) CROSS JOIN q
ORDER BY score DESC, vec_id ASC LIMIT 10
""",
)


def _pq_topk(spark: SparkSession, sf: str) -> DataFrame:
    """PQ tier (operators/ann.py pq_topk_adc — the FAISS/Milvus IVF_PQ
    code path): designated-vector codebook (codeword j of subspace s :=
    slice s of vec_id j), 6-dp-rounded L2 argmin encode, ADC LUT serving.
    Unlike the probe-all IVF edges this result is the genuinely LOSSY
    PQ ranking — the oracle restates the whole encode+ADC pipeline rather
    than brute force, so the approximation itself is hash-checked."""
    from vectordb_etl_spark.operators.ann import pq_topk_adc

    emb = _table(spark, sf, "embeddings")
    q = emb.filter(F.col("vec_id") == 0).select("embedding").head()[0]
    return pq_topk_adc(
        emb, list(q), k=10, n_codes=16, n_subs=8,
        output_cols=["vec_id", "label"],
    )


_register(
    "pq_topk",
    _pq_topk,
    A.pq_topk_adc_sql("embeddings", query_id=0, k=10, n_codes=16, n_subs=8),
)


def _ivf_topk_nprobe(spark: SparkSession, sf: str) -> DataFrame:
    """X1 at the DESIGN POINT: nprobe=4 of nlist=16 — a true 25% scan
    fraction, partition-pruned. Oracle-checkable because the centroids are
    adopted verbatim (medoid-style: centroid j := embedding of vec_id j),
    and assignment + probe ranking round scores to 6 dp with a
    lowest-centroid tie-break — semantics a DuckDB oracle states exactly.
    The trained-KMeans path stays covered by ivf_topk (probe-all edge) and
    the recall tests."""
    import numpy as np

    from vectordb_etl_spark.operators.ann import IVFIndex

    emb = _table(spark, sf, "embeddings")
    q = emb.filter(F.col("vec_id") == 0).select("embedding").head()[0]
    cent_rows = (
        emb.filter(F.col("vec_id") < 16).select("vec_id", "embedding").collect()
    )
    cents = np.array(
        [r["embedding"] for r in sorted(cent_rows, key=lambda r: r["vec_id"])],
        dtype=np.float64,
    )

    def body(tmp: str) -> DataFrame:
        idx = IVFIndex(spark, f"{tmp}/ivf").build(
            emb, centroids=cents, assign_round_dp=6
        )
        return idx.search(
            list(q), k=10, nprobe=4, probe_round_dp=6, tie_break=["vec_id"],
            output_cols=["vec_id", "label"],
        )

    return _scratch(spark, body)


_register(
    "ivf_topk_nprobe",
    _ivf_topk_nprobe,
    # medoid centroids (vec_id < 16); assignment = argmax of 6dp-rounded
    # cosine with lowest-cid tie-break; probe = top-4 centroids by the same
    # rule against the query; result = exact top-10 within probed cells
    "WITH cents AS MATERIALIZED ("
    "SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS c "
    "FROM embeddings WHERE vec_id < 16), "
    "qv AS (SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE vec_id = 0), "
    "assigned AS ("
    "SELECT vec_id, label, emb, cid FROM ("
    "SELECT e.vec_id, e.label, CAST(e.embedding AS DOUBLE[]) AS emb, c.cid, "
    "row_number() OVER (PARTITION BY e.vec_id ORDER BY "
    "round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), c.c), 6) DESC, "
    "c.cid ASC) AS rn FROM embeddings e CROSS JOIN cents c) WHERE rn = 1), "
    "probes AS (SELECT cid FROM ("
    "SELECT c.cid, row_number() OVER (ORDER BY "
    "round(list_cosine_similarity(c.c, (SELECT v FROM qv)), 6) DESC, c.cid ASC) "
    "AS pr FROM cents c) WHERE pr <= 4) "
    "SELECT vec_id, label, "
    "round(list_cosine_similarity(emb, (SELECT v FROM qv)), 6) AS score "
    "FROM assigned WHERE cid IN (SELECT cid FROM probes) "
    "ORDER BY score DESC, vec_id ASC LIMIT 10",
)


def _ivf_topk_batch(spark: SparkSession, sf: str) -> DataFrame:
    """Batched retrieval: 3 queries in ONE job over the probed-partition
    union (IVFIndex.search_many) — the serving shape that amortizes scan
    setup across queries. Probe-all edge ⇒ each query's result is its
    exact top-10, which the oracle states per query via a window."""
    from vectordb_etl_spark.operators.ann import IVFIndex

    emb = _table(spark, sf, "embeddings")
    qs = _query_batch(emb)

    def body(tmp: str) -> DataFrame:
        idx = IVFIndex(spark, f"{tmp}/ivf").build(emb, nlist=16, seed=42, max_iter=4)
        return idx.search_many(
            qs, k=10, nprobe=16, tie_break=["vec_id"],
            output_cols=["vec_id", "label"],
        )

    return _scratch(spark, body)


_register(
    "ivf_topk_batch",
    _ivf_topk_batch,
    "WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS v "
    "FROM embeddings WHERE vec_id < 3), "
    "scored AS (SELECT q.query_id, e.vec_id, e.label, "
    "round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.v), 6) AS score "
    "FROM embeddings e CROSS JOIN q), "
    "ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id "
    "ORDER BY score DESC, vec_id ASC) AS rn FROM scored) "
    "SELECT CAST(query_id AS INT) AS query_id, vec_id, label, score "
    "FROM ranked WHERE rn <= 10 ORDER BY query_id, score DESC, vec_id",
)


def _lsh_topk(spark: SparkSession, sf: str) -> DataFrame:
    """LSH-bucketed ANN (hyperplane signs); hamming radius = num_planes ⇒
    every bucket probed ⇒ exact."""
    from vectordb_etl_spark.operators.ann import lsh_topk_search

    emb = _table(spark, sf, "embeddings")
    q = emb.filter(F.col("vec_id") == 0).select("embedding").head()[0]
    return lsh_topk_search(
        emb, list(q), k=10, multiprobe_hamming=8, tie_break=["vec_id"],
        output_cols=["vec_id", "label"],
    )


_register("lsh_topk", _lsh_topk, _ANN_ORACLE)


def _graph_topk(spark: SparkSession, sf: str) -> DataFrame:
    """X2 analog: sharded NSW graph index (HNSW contract — reference
    modules/milvus_store.py:115-124). ef far above shard size ⇒ beam search
    visits every node of each connected shard graph ⇒ exact."""
    emb = _table(spark, sf, "embeddings")
    q = emb.filter(F.col("vec_id") == 0).select("embedding").head()[0]

    def body(tmp: str) -> DataFrame:
        idx = _graph_index(spark, emb, tmp)
        return idx.search(
            list(q), k=10, ef=1_000_000, output_cols=["id", "label"]
        ).withColumnRenamed("id", "vec_id")

    return _scratch(spark, body)


_register("graph_topk", _graph_topk, _ANN_ORACLE)


def _graph_fanout_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Q2 fan-out through the GRAPH tier (graph_ann.py search_per_group —
    the X2 twin of ivf_fanout_topk): per-label top-3 from one sharded
    beam pass; each shard emits its full beam (group-blind, so minority
    labels are never starved), one label-keyed window rank merges. Full
    beam ⇒ every shard emits every row ⇒ provably the exact per-label
    top-3 — same oracle as fanout_topk_per_label."""
    emb = _table(spark, sf, "embeddings")
    q = emb.filter(F.col("vec_id") == 0).select("embedding").head()[0]

    def body(tmp: str) -> DataFrame:
        idx = _graph_index(spark, emb, tmp)
        return (
            idx.search_per_group(
                list(q), k=3, ef=1_000_000, group_col="label",
                output_cols=["id"],
            )
            .withColumnRenamed("id", "vec_id")
            .select("vec_id", "label", "score")
        )

    return _scratch(spark, body)


_register(
    "graph_fanout_topk",
    _graph_fanout_topk,
    "SELECT vec_id, label, score FROM ("
    "SELECT vec_id, label, "
    "round(list_cosine_similarity(CAST(embedding AS DOUBLE[]), "
    "(SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 0)), 6) AS score, "
    "row_number() OVER (PARTITION BY label ORDER BY "
    "round(list_cosine_similarity(CAST(embedding AS DOUBLE[]), "
    "(SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 0)), 6) DESC, "
    "vec_id ASC) AS rnk FROM embeddings) WHERE rnk <= 3",
)


def _fanout_mixed_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Q2 through MIXED index state: embeddings are split into two
    collections by label parity, one gets a per-collection IVF index, the
    other stays UN-indexed and is served by the exact brute-force fallback
    (CollectionStore.fanout_search_indexed on_missing='exact' — Milvus's
    own behavior: milvus_store.py:301-325 iterates loaded collections
    uniformly, index or not). Probing every cell (nprobe=nlist) makes the
    indexed path exact too, so the merged global top-10 provably equals
    one exact scan with a collection tag — the oracle below."""
    from vectordb_etl_spark.config import StoreConfig
    from vectordb_etl_spark.store.collections import CollectionStore

    emb = _table(spark, sf, "embeddings")
    q = emb.filter(F.col("vec_id") == 0).select("embedding").head()[0]
    docs = emb.select(
        "vec_id",
        "embedding",
        F.concat(F.lit("g"), (F.col("label") % 2).cast("string")).alias(
            "folder_name"
        ),
    )

    def body(tmp: str) -> DataFrame:
        store = CollectionStore(spark, StoreConfig(warehouse_dir=f"{tmp}/w"))
        store.insert_documents(docs, embed=False)
        store.build_index("html_g0", kind="ivf", nlist=4, seed=42, max_iter=4)
        return store.fanout_search_indexed(
            list(q), k=10, nprobe=4, on_missing="exact",
            tie_break=["vec_id"], output_cols=["vec_id"],
        )

    return _scratch(spark, body)


_register(
    "fanout_mixed_topk",
    _fanout_mixed_topk,
    "SELECT vec_id, 'html_g' || CAST(label % 2 AS VARCHAR) AS collection, "
    "round(list_cosine_similarity(CAST(embedding AS DOUBLE[]), "
    "(SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 0)), 6) AS score "
    "FROM embeddings "
    "ORDER BY score DESC, vec_id ASC, collection ASC LIMIT 10",
)


def _graph_topk_incremental(spark: SparkSession, sf: str) -> DataFrame:
    """Graph segment-model maintenance (graph_ann.py add()): build on the
    even half, add() the odd half as NEW self-contained NSW segments
    (existing shard files untouched — the Milvus growing-segment analog),
    then probe-all search over the grown index. Full-beam edge over every
    segment ⇒ exact brute force over the WHOLE corpus, so the add path's
    correctness is under the hash, not just a unit test."""
    from vectordb_etl_spark.operators.graph_ann import GraphANNIndex

    emb = _table(spark, sf, "embeddings")
    q = emb.filter(F.col("vec_id") == 0).select("embedding").head()[0]

    def body(tmp: str) -> DataFrame:
        idx = GraphANNIndex(spark, f"{tmp}/graph_inc").build(
            emb.filter(F.col("vec_id") % 2 == 0),
            num_shards=4, m=16, ef_construction=64, passthrough=["label"],
        )
        idx.add(
            emb.filter(F.col("vec_id") % 2 == 1),
            num_shards=4, m=16, ef_construction=64, passthrough=["label"],
        )
        return idx.search(
            list(q), k=10, ef=1_000_000, output_cols=["id", "label"]
        ).withColumnRenamed("id", "vec_id")

    return _scratch(spark, body)


_register("graph_topk_incremental", _graph_topk_incremental, _ANN_ORACLE)


def _streaming_graph_ingest(spark: SparkSession, sf: str) -> DataFrame:
    """Continuous graph-index maintenance as a REAL stream (streaming/
    ingest.py:graph_ingest_stream — the HNSW-tier twin of
    streaming_ivf_ingest): build on the even half, stream the odd half
    through a foreachBatch sink appending NEW NSW segments per
    micro-batch, then probe-all search the grown index. Full-beam over
    every segment ⇒ exact brute force over the whole corpus — the
    stream-maintained index is under the same hash as the batch one."""
    from vectordb_etl_spark.operators.graph_ann import GraphANNIndex
    from vectordb_etl_spark.streaming.ingest import (
        graph_ingest_stream,
        run_available_now,
    )

    emb = _table(spark, sf, "embeddings")
    q = emb.filter(F.col("vec_id") == 0).select("embedding").head()[0]

    def body(tmp: str) -> DataFrame:
        idx = GraphANNIndex(spark, f"{tmp}/graph_s").build(
            emb.filter(F.col("vec_id") % 2 == 0).select(
                "vec_id", "embedding", "label"
            ),
            num_shards=4, m=16, ef_construction=64, passthrough=["label"],
        )
        rest = emb.filter(F.col("vec_id") % 2 == 1).select(
            "vec_id", "embedding", "label"
        )
        run_available_now(graph_ingest_stream(
            _land(rest, tmp), idx, f"{tmp}/ckpt", num_shards=4, m=16,
            ef_construction=64, passthrough=["label"],
        ))
        return idx.search(
            list(q), k=10, ef=1_000_000, output_cols=["id", "label"]
        ).withColumnRenamed("id", "vec_id")

    return _scratch(spark, body)


_register("streaming_graph_ingest", _streaming_graph_ingest, _ANN_ORACLE)


def _graph_topk_filtered(spark: SparkSession, sf: str) -> DataFrame:
    """Filtered GRAPH search (graph_ann.py search(predicate=...)): the
    standard HNSW post-filter strategy — traverse unfiltered (filtering
    during traversal disconnects the graph), emit the ef-beam, filter the
    merged candidates, rank. Full-beam edge ⇒ exactly the filtered brute
    force, hash-checked."""
    emb = _table(spark, sf, "embeddings")
    q = emb.filter(F.col("vec_id") == 0).select("embedding").head()[0]

    def body(tmp: str) -> DataFrame:
        idx = _graph_index(spark, emb, tmp)
        return idx.search(
            list(q), k=10, ef=1_000_000, output_cols=["id", "label"],
            predicate=F.col("label") == 2,
        ).withColumnRenamed("id", "vec_id")

    return _scratch(spark, body)


_register(
    "graph_topk_filtered",
    _graph_topk_filtered,
    # note the column ORDER difference vs _ANN_ORACLE: graph search emits
    # (id, label, score); restated with the label filter
    "SELECT vec_id, label, "
    "round(list_cosine_similarity(CAST(embedding AS DOUBLE[]), "
    "(SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 0)), 6) AS score "
    "FROM embeddings WHERE label = 2 "
    "ORDER BY score DESC, vec_id ASC LIMIT 10",
)


def _graph_topk_acorn(spark: SparkSession, sf: str) -> DataFrame:
    """DURING-TRAVERSAL filtered graph search (graph_ann.py
    search(filter_mode='traversal') — the ACORN-1 / hnswlib-IDSelector
    stance; the reference's Milvus applies the filter inside index search,
    modules/milvus_store.py:289-297): the ~1%-selective predicate is
    evaluated JVM-side into a per-node bool, filtered-out nodes stay
    navigable, only matching nodes enter the result heap — ef no longer
    scales with 1/selectivity. Full-beam edge ⇒ exactly the filtered
    brute force, hash-checked."""
    emb = _table(spark, sf, "embeddings")
    q = emb.filter(F.col("vec_id") == 0).select("embedding").head()[0]

    def body(tmp: str) -> DataFrame:
        idx = _graph_index(spark, emb, tmp)
        return idx.search(
            list(q), k=10, ef=1_000_000, output_cols=["id", "label"],
            predicate=F.col("id") % 97 == 0, filter_mode="traversal",
        ).withColumnRenamed("id", "vec_id")

    return _scratch(spark, body)


_register(
    "graph_topk_acorn",
    _graph_topk_acorn,
    "SELECT vec_id, label, "
    "round(list_cosine_similarity(CAST(embedding AS DOUBLE[]), "
    "(SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 0)), 6) AS score "
    "FROM embeddings WHERE vec_id % 97 = 0 "
    "ORDER BY score DESC, vec_id ASC LIMIT 10",
)


def _graph_acorn_batch(spark: SparkSession, sf: str) -> DataFrame:
    """BATCHED during-traversal filtered graph serving
    (GraphANNIndex.search_many(predicate=..., filter_mode='traversal')):
    3 queries share one ~1%-selective predicate, evaluated JVM-side once
    per shard; each shard answers every query over the same bool mask —
    the production filtered-serving shape. Full-beam edge ⇒ each query's
    exact filtered top-k, stated per query by the oracle window."""
    emb = _table(spark, sf, "embeddings")
    qs = _query_batch(emb)

    def body(tmp: str) -> DataFrame:
        idx = _graph_index(spark, emb, tmp)
        return idx.search_many(
            qs, k=10, ef=1_000_000, output_cols=["id", "label"],
            predicate=F.col("id") % 97 == 0, filter_mode="traversal",
        ).withColumnRenamed("id", "vec_id")

    return _scratch(spark, body)


_register(
    "graph_acorn_batch",
    _graph_acorn_batch,
    "WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS v "
    "FROM embeddings WHERE vec_id < 3), "
    "scored AS (SELECT q.query_id, e.vec_id, e.label, "
    "round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.v), 6) AS score "
    "FROM embeddings e CROSS JOIN q WHERE e.vec_id % 97 = 0), "
    "ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id "
    "ORDER BY score DESC, vec_id ASC) AS rn FROM scored) "
    "SELECT CAST(query_id AS INT) AS query_id, vec_id, label, score "
    "FROM ranked WHERE rn <= 10 ORDER BY query_id, score DESC, vec_id",
)


def _graph_topk_batch(spark: SparkSession, sf: str) -> DataFrame:
    """Batched graph serving (GraphANNIndex.search_many): 3 queries beam-
    searched in ONE applyInPandas pass — each shard loads its graph once
    and answers every query. Full-beam edge ⇒ each query's result is its
    exact top-10, stated per query by the oracle window."""
    emb = _table(spark, sf, "embeddings")
    qs = _query_batch(emb)

    def body(tmp: str) -> DataFrame:
        idx = _graph_index(spark, emb, tmp)
        return idx.search_many(
            qs, k=10, ef=1_000_000, output_cols=["id", "label"]
        ).withColumnRenamed("id", "vec_id")

    return _scratch(spark, body)


_register(
    "graph_topk_batch",
    _graph_topk_batch,
    "WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS v "
    "FROM embeddings WHERE vec_id < 3), "
    "scored AS (SELECT q.query_id, e.vec_id, e.label, "
    "round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.v), 6) AS score "
    "FROM embeddings e CROSS JOIN q), "
    "ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id "
    "ORDER BY score DESC, vec_id ASC) AS rn FROM scored) "
    "SELECT CAST(query_id AS INT) AS query_id, vec_id, label, score "
    "FROM ranked WHERE rn <= 10 ORDER BY query_id, score DESC, vec_id",
)


def _sq8_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Quantized-storage tier (Milvus SQ8 analog): embeddings stored as
    per-vector min/max int8 codes (1 byte/dim — 4× smaller than float32,
    8× smaller than the double math width), dequantized and exactly
    re-scored at query time. Both steps are deterministic column
    expressions, so the full quantize→dequantize→top-k path is
    oracle-checked; quality (recall vs unquantized) is covered in tests."""
    from vectordb_etl_spark.functions.vector import (
        sq8_dequantize_col,
        sq8_quantize_col,
    )
    from vectordb_etl_spark.operators.topk import topk_search

    emb = _table(spark, sf, "embeddings")
    q = emb.filter(F.col("vec_id") == 0).select("embedding").head()[0]
    stored = emb.select(
        "vec_id", "label", sq8_quantize_col("embedding").alias("q8")
    )
    deq = stored.withColumn("embedding8", sq8_dequantize_col("q8"))
    return topk_search(
        deq, list(q), k=10, emb_col="embedding8", tie_break=["vec_id"],
        output_cols=["vec_id", "label"],
    )


_register(
    "sq8_topk",
    _sq8_topk,
    # lo/step hoisted into a subquery: a lambda referencing the aggregate
    # expressions inline would re-evaluate list_aggregate per ELEMENT
    "WITH prep AS MATERIALIZED ("
    "SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e, "
    "list_aggregate(CAST(embedding AS DOUBLE[]), 'min') AS lo, "
    "(list_aggregate(CAST(embedding AS DOUBLE[]), 'max') "
    "- list_aggregate(CAST(embedding AS DOUBLE[]), 'min')) / 255.0 AS step "
    "FROM embeddings), "
    "deq AS (SELECT vec_id, label, list_transform(e, x -> "
    "lo + (CAST(CAST(round(CASE WHEN step = 0 THEN 0.0 ELSE (x - lo) / step END) "
    "AS INTEGER) - 128 AS DOUBLE) + 128.0) * step) AS d FROM prep) "
    "SELECT vec_id, label, round(list_cosine_similarity(d, "
    "(SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 0)), 6) "
    "AS score FROM deq ORDER BY score DESC, vec_id ASC LIMIT 10",
)


# -- multi-way star joins (TPC-H Q3/Q12 shapes; broadcast-dim strategy) -----------


def _shipping_priority(spark: SparkSession, sf: str) -> DataFrame:
    """Q3 shape: selective dim filter → broadcast customer, fact-fact shuffle
    join on orderkey, grouped revenue, global top-k (TakeOrderedAndProject)."""
    cust = _table(spark, sf, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = _table(spark, sf, "orders").filter(F.col("o_orderdate") < "1998-01-01")
    li = _table(spark, sf, "lineitem").filter(F.col("l_shipdate") > "1998-01-01")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(rev.cast("decimal(18,4)")).alias("revenue"))
        .select(
            "l_orderkey",
            F.col("revenue").cast("double").alias("revenue"),
            "o_orderdate",
            "o_orderpriority",
        )
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


_register(
    "shipping_priority",
    _shipping_priority,
    "SELECT l_orderkey, "
    "CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue, "
    "o_orderdate, o_orderpriority "
    "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
    "JOIN customer ON o_custkey = c_custkey "
    "WHERE c_mktsegment = 'BUILDING' AND o_orderdate < TIMESTAMP '1998-01-01' "
    "AND l_shipdate > TIMESTAMP '1998-01-01' "
    "GROUP BY l_orderkey, o_orderdate, o_orderpriority "
    "ORDER BY revenue DESC, l_orderkey ASC LIMIT 10",
)


def _priority_shipments(spark: SparkSession, sf: str) -> DataFrame:
    """Q12 shape: date-banded fact filter (pushed to the scan) → shuffle join
    on orderkey → conditional-count pivot by priority class."""
    orders = _table(spark, sf, "orders")
    li = _table(spark, sf, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-01-01") & (F.col("l_shipdate") < "1998-01-01")
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_priority_count"),
            F.sum(F.when(high, 0).otherwise(1)).alias("low_priority_count"),
        )
    )


_register(
    "priority_shipments",
    _priority_shipments,
    "SELECT l_returnflag, "
    "CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) "
    "AS high_priority_count, "
    "CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 0 ELSE 1 END) AS BIGINT) "
    "AS low_priority_count "
    "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
    "WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01' "
    "GROUP BY l_returnflag",
)


def _brand_revenue(spark: SparkSession, sf: str) -> DataFrame:
    """Q14/Q19 shape: fact ⋈ part dim → brand rollup. part scales with SF in
    TPC-H, so the join strategy is left to AQE (broadcast at small SF, shuffle
    at 100 TB) rather than hardcoded — unlike fixed-size nation/region."""
    li = _table(spark, sf, "lineitem")
    part = _table(spark, sf, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.sum(rev.cast("decimal(18,4)")).alias("revenue"),
            F.count("*").alias("n_items"),
            F.round(F.avg("p_retailprice"), 6).alias("avg_retail"),
        )
        .select(
            "p_brand",
            F.col("revenue").cast("double").alias("revenue"),
            "n_items",
            "avg_retail",
        )
    )


_register(
    "brand_revenue",
    _brand_revenue,
    "SELECT p_brand, "
    "CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue, "
    "count(*) AS n_items, round(avg(p_retailprice), 6) AS avg_retail "
    "FROM lineitem JOIN part ON l_partkey = p_partkey GROUP BY p_brand",
)


def _supplier_balance_by_region(spark: SparkSession, sf: str) -> DataFrame:
    """Supplier-side dim rollup: nation/region are FIXED-cardinality (25/5
    rows at any SF) → always broadcast."""
    sup = _table(spark, sf, "supplier")
    nation = _table(spark, sf, "nation")
    region = _table(spark, sf, "region")
    return (
        sup.join(F.broadcast(nation), sup.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.count("*").alias("n_suppliers"),
            F.round(F.sum(F.col("s_acctbal").cast("decimal(18,2)")).cast("double"), 2)
            .alias("total_balance"),
            F.round(F.avg("s_acctbal"), 6).alias("avg_balance"),
        )
    )


_register(
    "supplier_balance_by_region",
    _supplier_balance_by_region,
    "SELECT r_name, count(*) AS n_suppliers, "
    "round(CAST(sum(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE), 2) AS total_balance, "
    "round(avg(s_acctbal), 6) AS avg_balance "
    "FROM supplier JOIN nation ON s_nationkey = n_nationkey "
    "JOIN region ON n_regionkey = r_regionkey GROUP BY r_name",
)


def _returned_orders(spark: SparkSession, sf: str) -> DataFrame:
    """Q4 shape — EXISTS decorrelated to a LEFT SEMI join: orders in a date
    band with at least one returned lineitem, counted by priority. The semi
    join never materializes match multiplicity (first match
    short-circuits), so the shuffle carries orders × {0,1}, not orders ×
    matching items."""
    orders = _table(spark, sf, "orders").filter(
        (F.col("o_orderdate") >= "1997-01-01") & (F.col("o_orderdate") < "1997-07-01")
    )
    returned = _table(spark, sf, "lineitem").filter(F.col("l_returnflag") == "R")
    return (
        orders.join(returned, orders.o_orderkey == returned.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


_register(
    "returned_orders",
    _returned_orders,
    "SELECT o_orderpriority, count(*) AS order_count FROM orders "
    "WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1997-07-01' "
    "AND EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey "
    "AND l_returnflag = 'R') GROUP BY o_orderpriority",
)


def _customers_without_big_orders(spark: SparkSession, sf: str) -> DataFrame:
    """Q22 shape — NOT EXISTS decorrelated to a LEFT ANTI join: customers
    with no order above the price threshold, rolled up by segment."""
    cust = _table(spark, sf, "customer")
    big = _table(spark, sf, "orders").filter(F.col("o_totalprice") > 300000).select(
        "o_custkey"
    )
    return (
        cust.join(big, cust.c_custkey == big.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_customers"),
            F.round(F.sum(F.col("c_acctbal").cast("decimal(18,2)")).cast("double"), 2)
            .alias("total_acctbal"),
        )
    )


_register(
    "customers_without_big_orders",
    _customers_without_big_orders,
    "SELECT c_mktsegment, count(*) AS n_customers, "
    "round(CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE), 2) AS total_acctbal "
    "FROM customer WHERE NOT EXISTS "
    "(SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 300000) "
    "GROUP BY c_mktsegment",
)


def _small_quantity_revenue(spark: SparkSession, sf: str) -> DataFrame:
    """Q17 shape — correlated scalar aggregate decorrelated by hand: the
    per-part avg quantity is a pre-aggregated (tiny: one row per part)
    side that joins back to lineitem on partkey. At 100 TB the aggregate
    side is |parts| rows — orders of magnitude under lineitem — and AQE
    picks broadcast vs shuffle by its actual size; the correlated-subquery
    formulation would otherwise re-scan lineitem per row."""
    li = _table(spark, sf, "lineitem")
    avg_qty = li.groupBy(F.col("l_partkey").alias("p_key")).agg(
        (F.avg("l_quantity") * 0.5).alias("half_avg")
    )
    return (
        li.join(avg_qty, li.l_partkey == avg_qty.p_key)
        .filter(F.col("l_quantity") < F.col("half_avg"))
        .agg(
            F.round(
                (F.sum(F.col("l_extendedprice").cast("decimal(18,4)")) / 7).cast(
                    "double"
                ),
                6,
            ).alias("avg_yearly")
        )
    )


_register(
    "small_quantity_revenue",
    _small_quantity_revenue,
    "SELECT round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) / 7 AS DOUBLE), 6) "
    "AS avg_yearly FROM lineitem l WHERE l_quantity < "
    "(SELECT 0.5 * avg(l_quantity) FROM lineitem WHERE l_partkey = l.l_partkey)",
)


# -- Structured Streaming, driver-checkable (§2.10) ---------------------------------
#
# Each stream query lands its input in a scratch dir and drains it under the
# availableNow trigger (``_scratch`` + ``_land`` + ``run_available_now``).
# All input arrives before the first trigger, so nothing is late and each
# finalized result equals its batch twin — which is what the oracles state.
# (The stateful sessionizer is hash-checked too — see streaming_sessionize
# below: per-user sentinels force the gap rule to close every real session,
# making the applyInPandasWithState output equal batch sessionization.)


def _streaming_windowed_counts(spark: SparkSession, sf: str) -> DataFrame:
    from vectordb_etl_spark.streaming.ingest import windowed_event_counts

    # decimal sum → exact regardless of per-partition accumulation order
    ev = _events(spark, sf).withColumn("value", F.col("value").cast("decimal(18,6)"))

    def body(tmp: str) -> DataFrame:
        counts = windowed_event_counts(
            _land(ev, tmp), window="1 hour", watermark="2 hours"
        )
        return _drain_to_memory(counts, tmp, "complete").select(
            "window_start",
            "event_type",
            "n",
            F.round(F.col("total_value").cast("double"), 6).alias("total_value"),
        )

    # sink state is bounded per (window, event_type) key
    return _scratch(spark, body, stream_width=_STREAM_WIDTH)


_register(
    "streaming_windowed_counts",
    _streaming_windowed_counts,
    # 1-hour tumbling windows align to epoch == date_trunc('hour')
    "SELECT date_trunc('hour', ts) AS window_start, event_type, count(*) AS n, "
    "round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 6) AS total_value "
    "FROM events GROUP BY 1, 2",
)


def _order_value_percentiles(spark: SparkSession, sf: str) -> DataFrame:
    """Exact interpolated percentiles per segment (Spark `percentile` ≡
    DuckDB `quantile_cont`, both linear interpolation). Exact per-group
    percentiles are the canonical NON-decomposable aggregate — each group's
    full value set must co-locate (contrast percentile_approx, whose
    t-digest sketches merge map-side); the skew module documents when to
    salt or sketch instead."""
    orders = _table(spark, sf, "orders")
    cust = _table(spark, sf, "customer")
    return (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.round(F.expr("percentile(o_totalprice, 0.5)"), 4).alias("p50"),
            F.round(F.expr("percentile(o_totalprice, 0.95)"), 4).alias("p95"),
            F.count("*").alias("n_orders"),
        )
    )


_register(
    "order_value_percentiles",
    _order_value_percentiles,
    "SELECT c_mktsegment, "
    "round(quantile_cont(o_totalprice, 0.5), 4) AS p50, "
    "round(quantile_cont(o_totalprice, 0.95), 4) AS p95, "
    "count(*) AS n_orders "
    "FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY c_mktsegment",
)


def _events_cube(spark: SparkSession, sf: str) -> DataFrame:
    """CUBE rollup over (event_type, day-bucket): all four grouping
    combinations in ONE pass via Catalyst's Expand node — the same
    physical shape as the multi-grain time rollup, driven by the built-in
    cube() instead of a hand-built explode. grouping_id() disambiguates
    aggregation levels (NULL event_type from the rollup vs a genuine NULL
    key)."""
    ev = _events(spark, sf).withColumn("day", F.date_trunc("day", "ts"))
    return (
        ev.cube("event_type", "day")
        .agg(
            F.count("*").alias("n"),
            F.round(
                F.sum(F.col("value").cast("decimal(18,6)")).cast("double"), 6
            ).alias("total_value"),
            F.grouping_id("event_type", "day").alias("gid"),
        )
    )


_register(
    "events_cube",
    _events_cube,
    # CAST to TIMESTAMP: DuckDB's date_trunc('day') yields DATE while
    # Spark's yields timestamp
    "SELECT event_type, day, count(*) AS n, "
    "round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 6) AS total_value, "
    "GROUPING(event_type, day) AS gid FROM ("
    "SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, value "
    "FROM events) GROUP BY CUBE (event_type, day)",
)


def _user_event_windows(spark: SparkSession, sf: str) -> DataFrame:
    """Window-function battery over one shuffle: lag-delta, running sum,
    quartile bucket, percent rank — all four share the same
    (user_id, ts, event_id) window ordering, so Catalyst evaluates them in
    ONE Window node (single sort, single shuffle)."""
    from pyspark.sql.window import Window

    ev = _events(spark, sf)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wall = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val6 = F.round(F.col("value"), 6).cast("decimal(18,6)")
    return ev.select(
        "user_id",
        "event_id",
        (F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))).alias("gap_us"),
        F.round(F.sum(val6).over(wall).cast("double"), 6).alias("running_value"),
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
    )


_register(
    "user_event_windows",
    _user_event_windows,
    "SELECT user_id, event_id, "
    "epoch_us(ts) - epoch_us(lag(ts) OVER w) AS gap_us, "
    "round(CAST(sum(CAST(round(value, 6) AS DECIMAL(18,6))) OVER "
    "(PARTITION BY user_id ORDER BY ts, event_id "
    "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE), 6) "
    "AS running_value, "
    "ntile(4) OVER w AS quartile, "
    "round(percent_rank() OVER w, 6) AS pct_rank "
    "FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)",
)


def _streaming_enriched_counts(spark: SparkSession, sf: str) -> DataFrame:
    """Stream-static broadcast enrichment (events stream ⋈ customer dim on
    user_id → segment) feeding a watermarked tumbling-window aggregate.
    Same availableNow/memory-sink lifecycle as streaming_windowed_counts,
    so the finalized result equals the batch join+aggregate the oracle
    states."""
    from vectordb_etl_spark.streaming.ingest import (
        enrich_stream,
        windowed_event_counts,
    )

    ev = _events(spark, sf).select("user_id", "ts", F.col("value").cast("decimal(18,6)").alias("value"))
    dim = _table(spark, sf, "customer").select(
        F.col("c_custkey").alias("user_id"), F.col("c_mktsegment").alias("segment")
    )

    def body(tmp: str) -> DataFrame:
        enriched = enrich_stream(_land(ev, tmp), dim, "user_id")
        counts = windowed_event_counts(
            enriched, window="1 hour", watermark="2 hours", group_col="segment"
        )
        return _drain_to_memory(counts, tmp, "complete").select(
            "window_start",
            "segment",
            "n",
            F.round(F.col("total_value").cast("double"), 6).alias("total_value"),
        )

    # sink state is bounded per (window, segment) key
    return _scratch(spark, body, stream_width=_STREAM_WIDTH)


_register(
    "streaming_enriched_counts",
    _streaming_enriched_counts,
    "SELECT date_trunc('hour', e.ts) AS window_start, c.c_mktsegment AS segment, "
    "count(*) AS n, "
    "round(CAST(sum(CAST(e.value AS DECIMAL(18,6))) AS DOUBLE), 6) AS total_value "
    "FROM events e JOIN customer c ON e.user_id = c.c_custkey GROUP BY 1, 2",
)


def _streaming_interval_join(spark: SparkSession, sf: str) -> DataFrame:
    """Stream-STREAM interval join (purchase → follow-up view within 30 min,
    same user), run as a real two-stream lifecycle: both sides watermarked,
    event-time band in the join condition (bounded state), append output.
    All input arrives in one availableNow trigger, so every match emits and
    the result equals the batch interval join the oracle states."""
    from vectordb_etl_spark.streaming.ingest import interval_join_streams

    ev = _events(spark, sf)
    landing = ev.filter(
        F.col("event_type").isin("purchase", "view")
    ).select("user_id", "event_id", "ts", "event_type")

    def body(tmp: str) -> DataFrame:
        # the two sides are map-side filters of ONE single-file landing
        # dir: one write job, and each micro-batch schedules one scan task
        # per side; the right side is a second file source over that dir
        ls = _land(landing, tmp).filter(F.col("event_type") == "purchase").select(
            F.col("user_id"),
            F.col("event_id").alias("p_event"),
            F.col("ts").alias("p_ts"),
        )
        rs = (
            spark.readStream.schema(landing.schema)
            .parquet(f"{tmp}/landing")
            .filter(F.col("event_type") == "view")
            .select(
                F.col("user_id").alias("user_id2"),
                F.col("event_id").alias("f_event"),
                F.col("ts").alias("f_ts"),
            )
        )
        joined = interval_join_streams(
            ls, rs, key="user_id", left_ts="p_ts", right_ts="f_ts",
            max_delay="30 minutes",
        ).select("user_id", "p_event", "f_event")
        return _drain_to_memory(joined, tmp)

    # a stream-stream join keeps a state store per shuffle partition PER SIDE
    return _scratch(spark, body, stream_width=_STREAM_WIDTH)


_register(
    "streaming_interval_join",
    _streaming_interval_join,
    "SELECT p.user_id, p.event_id AS p_event, f.event_id AS f_event "
    "FROM events p JOIN events f ON p.user_id = f.user_id "
    "AND f.ts > p.ts AND f.ts <= p.ts + INTERVAL 30 MINUTE "
    "WHERE p.event_type = 'purchase' AND f.event_type = 'view'",
)


def _streaming_sessionize(spark: SparkSession, sf: str) -> DataFrame:
    """Custom STATEFUL streaming operator (applyInPandasWithState,
    streaming/ingest.py:sessionize_stream) made hash-checkable: the
    sessionizer only emits CLOSED sessions, so a per-user SENTINEL event 2h
    after that user's last real event is unioned in — the 30-min gap rule
    then provably closes every real session, while the sentinel's own
    singleton session stays in state and is never emitted. A single-file
    landing dir gives one availableNow micro-batch, so the per-user fold
    sees events in timestamp order and the stream's output equals batch
    sessionization — which is exactly what the oracle states. The fold
    compares gaps in integer microseconds, same as epoch_us."""
    from vectordb_etl_spark.streaming.ingest import sessionize_stream

    ev = _events(spark, sf).select("user_id", "ts")
    sentinels = ev.groupBy("user_id").agg(
        (F.max("ts") + F.expr("INTERVAL 2 HOURS")).alias("ts")
    )
    landing = ev.unionByName(sentinels.select("user_id", "ts"))

    def body(tmp: str) -> DataFrame:
        # idle_timeout=False: a timer-driven stateful query keeps running
        # empty micro-batches under availableNow until every
        # processing-time timer fires — NoTimeout terminates as soon as
        # the data is drained, and the sentinels already guarantee every
        # REAL session closes inside the data batch.
        sessions = sessionize_stream(_land(landing, tmp), idle_timeout=False)
        return _drain_to_memory(sessions, tmp)

    return _scratch(spark, body, stream_width=_STREAM_WIDTH)


_register(
    "streaming_sessionize",
    _streaming_sessionize,
    # batch gap-rule sessionization: every real session appears exactly once
    # (the sentinel closes each user's last session but is itself unemitted)
    "WITH tagged AS ("
    "  SELECT user_id, ts,"
    "    CASE WHEN lag(ts) OVER w IS NULL"
    "      OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000"
    "    THEN 1 ELSE 0 END AS new_s"
    "  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)"
    "), sess AS ("
    "  SELECT user_id, ts,"
    "    sum(new_s) OVER (PARTITION BY user_id ORDER BY ts) AS sid"
    "  FROM tagged"
    ") "
    "SELECT user_id, min(ts) AS session_start, max(ts) AS session_end, "
    "CAST(count(*) AS INT) AS n_events FROM sess GROUP BY user_id, sid",
)


def _streaming_exact_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """C6 exact dedup as a REAL stream (streaming/ingest.py:dedup_stream,
    dropDuplicatesWithinWatermark) made hash-checkable: the landing dir is
    ONE file sorted by doc_id, so the single availableNow micro-batch has
    one upstream map task and the stateful dedup sees every key's rows in
    doc_id order — first-wins is then provably min(doc_id) per normalized
    text hash, which is what the oracle states. Event time is synthesized
    monotone in doc_id; with one batch the watermark never evicts, so the
    whole corpus dedups exactly-once-per-key."""
    from vectordb_etl_spark.streaming.ingest import dedup_stream

    docs = _docs(spark, sf).select(
        "doc_id",
        "text",
        (F.to_timestamp(F.lit("2024-01-01 00:00:00"))
         + F.make_interval(secs=F.col("doc_id").cast("double"))).alias("ingest_ts"),
    )

    def body(tmp: str) -> DataFrame:
        stream = _land(
            docs.repartition(1).sortWithinPartitions("doc_id"), tmp, files=None
        )
        kept = dedup_stream(stream, watermark="10 minutes")
        return _drain_to_memory(kept, tmp).select("doc_id", "text_hash")

    return _scratch(spark, body, stream_width=_STREAM_WIDTH)


_register(
    "streaming_exact_dedup",
    _streaming_exact_dedup,
    # first-wins per normalized-text hash, arrival order = doc_id order
    "SELECT doc_id, h AS text_hash FROM ("
    "  SELECT doc_id, {h} AS h,"
    "    row_number() OVER (PARTITION BY {h} ORDER BY doc_id) AS rn"
    "  FROM documents) WHERE rn = 1".format(h=chunker.normalized_hash_sql("text")),
)


def _streaming_hll_ingest(spark: SparkSession, sf: str) -> DataFrame:
    """Stream-maintained distinct-count sketch (streaming/ingest.py
    hll_ingest_stream): events arrive as four micro-batches
    (maxFilesPerTrigger=1 over a 4-file landing dir) and each batch's
    HLL registers max-merge into a persisted register table. Because
    register max-merge is commutative/associative/idempotent, the final
    table — and the per-type estimates computed from it — are BIT-EQUAL
    to the batch sketch over all events, so the oracle is simply the
    batch HLL SQL. The 100 TB story: unique-users-per-type forever with
    state = 5×256 register rows, no user ids ever held in state, CDC
    re-delivery absorbed by idempotence."""
    from vectordb_etl_spark.functions.sketches import hll_estimate_expr
    from vectordb_etl_spark.streaming.ingest import (
        hll_ingest_stream,
        run_available_now,
    )

    ev = _events(spark, sf).select("event_type", "user_id")

    def body(tmp: str) -> DataFrame:
        run_available_now(hll_ingest_stream(
            _land(ev, tmp, files=4, per_trigger=1), f"{tmp}/registers",
            f"{tmp}/ckpt", value_col="user_id", group_cols=["event_type"],
        ))
        regs = spark.read.parquet(f"{tmp}/registers")
        return regs.groupBy("event_type").agg(
            F.count("*").cast("bigint").alias("n_buckets_used"),
            hll_estimate_expr(8).alias("hll_est"),
        )

    # sketch state is ≤ groups×256 register rows by contract
    return _scratch(spark, body, stream_width=_STREAM_WIDTH)


def _streaming_hll_ingest_sql() -> str:
    from vectordb_etl_spark.functions.sketches import hll_distinct_sql

    return hll_distinct_sql(
        "SELECT event_type, user_id FROM events", "user_id", ["event_type"]
    )


_register(
    "streaming_hll_ingest",
    _streaming_hll_ingest,
    _streaming_hll_ingest_sql(),
)


def _streaming_cm_ingest(spark: SparkSession, sf: str) -> DataFrame:
    """Stream-maintained Count-Min frequency sketch (streaming/ingest.py
    cm_ingest_stream) — the non-idempotent contrast to
    streaming_hll_ingest: counter ADDITION double-counts replays, so the
    sink carries the last committed batch_id in the persisted sketch and
    skips re-delivered batches (the exactly-once foreachBatch contract).
    Addition is commutative/associative, so the final counters are
    BIT-EQUAL to the batch sketch of all events regardless of
    micro-batch boundaries — the oracle is the plain batch CM SQL."""
    from vectordb_etl_spark.streaming.ingest import (
        cm_ingest_stream,
        run_available_now,
    )

    ev = _events(spark, sf).select("user_id")

    def body(tmp: str) -> DataFrame:
        run_available_now(cm_ingest_stream(
            _land(ev, tmp, files=4, per_trigger=1), f"{tmp}/cm",
            f"{tmp}/ckpt", value_col="user_id", d=4, w=256,
        ))
        return (
            spark.read.parquet(f"{tmp}/cm")
            .filter(F.col("row") >= 0)
            .select("row", "pos", "cnt")
        )

    # CM state is ≤ d·w counter rows by contract
    return _scratch(spark, body, stream_width=_STREAM_WIDTH)


def _streaming_cm_ingest_sql() -> str:
    from vectordb_etl_spark.functions.sketches import cm_sketch_sql

    return cm_sketch_sql(
        "SELECT user_id FROM events", "user_id", d=4, w=256
    )


_register(
    "streaming_cm_ingest",
    _streaming_cm_ingest,
    _streaming_cm_ingest_sql(),
)


def _streaming_bloom_ingest(spark: SparkSession, sf: str) -> DataFrame:
    """Stream-maintained membership filter (streaming/ingest.py:
    bloom_ingest_stream): orders arrive as four micro-batches and each
    batch's (word, bits) bloom bitmap (operators/bloom.py) bit_or-merges
    into a persisted word table. bit_or is idempotent, so the final
    bitmap is BIT-EQUAL to the batch build over all orders regardless of
    micro-batch boundaries or replays — the oracle is the DuckDB twin of
    the batch build (bloom_build_sql), hashing the bitmap itself. The
    100 TB story: "ever seen this customer?" forever with state =
    ceil(m/63) word rows, feeding bloom_prune on future ingests."""
    from vectordb_etl_spark.streaming.ingest import (
        bloom_ingest_stream,
        run_available_now,
    )

    od = _table(spark, sf, "orders").select("o_custkey")

    def body(tmp: str) -> DataFrame:
        run_available_now(bloom_ingest_stream(
            _land(od, tmp, files=4, per_trigger=1), f"{tmp}/bloom",
            f"{tmp}/ckpt", key_col="o_custkey", m_bits=8192, k=2,
        ))
        return spark.read.parquet(f"{tmp}/bloom").select("word", "bits")

    # bloom state is ceil(m/63) word rows by contract
    return _scratch(spark, body, stream_width=_STREAM_WIDTH)


def _streaming_bloom_ingest_sql() -> str:
    from vectordb_etl_spark.operators.bloom import bloom_build_sql

    return bloom_build_sql(
        "SELECT o_custkey FROM orders", "o_custkey", m_bits=8192, k=2
    )


_register(
    "streaming_bloom_ingest",
    _streaming_bloom_ingest,
    _streaming_bloom_ingest_sql(),
)


def _streaming_bitmap_ingest(spark: SparkSession, sf: str) -> DataFrame:
    """Stream-maintained EXACT distinct users per type (streaming/
    ingest.py:bitmap_ingest_stream) — the zero-error closer of the
    sketch-sink family: events arrive as four micro-batches, each
    batch's word bitmap bit_or-merges into the persisted register
    table (idempotent — replays free, the bloom contract), and
    sum(bit_count) per type IS COUNT(DISTINCT) — which is exactly what
    the independent oracle states. Forever-running distinct counting
    with state = touched words per type, zero error, no user ids held."""
    from vectordb_etl_spark.streaming.ingest import (
        bitmap_ingest_stream,
        run_available_now,
    )

    ev = _events(spark, sf).select("event_type", "user_id")

    def body(tmp: str) -> DataFrame:
        run_available_now(bitmap_ingest_stream(
            _land(ev, tmp, files=4, per_trigger=1), f"{tmp}/regs",
            f"{tmp}/ckpt", value_col="user_id", group_cols=["event_type"],
        ))
        return (
            spark.read.parquet(f"{tmp}/regs")
            .groupBy("event_type")
            .agg(F.sum(F.bit_count("bits")).cast("bigint").alias("n_distinct"))
        )

    # bitmap state is touched WORDS per type by contract, not event rows
    return _scratch(spark, body, stream_width=_STREAM_WIDTH)


_register(
    "streaming_bitmap_ingest",
    _streaming_bitmap_ingest,
    "SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n_distinct "
    "FROM events GROUP BY event_type",
)


def _bitmap_distinct_users(spark: SparkSession, sf: str) -> DataFrame:
    """EXACT distinct users per event type via the fixed-domain word
    bitmap (functions/sketches.py:bitmap_distinct) — the zero-error
    sibling of hll_distinct_orders for surrogate-integer domains: one
    bit per user id in 63-bit words, shuffle bounded by touched WORDS
    per type (not user rows), mergeable/persistable like every sketch
    tier. The oracle is the independent restatement COUNT(DISTINCT) —
    the equality IS the exactness claim."""
    from vectordb_etl_spark.functions.sketches import bitmap_distinct

    ev = _events(spark, sf).select("event_type", "user_id")
    return bitmap_distinct(ev, "user_id", ["event_type"])


_register(
    "bitmap_distinct_users",
    _bitmap_distinct_users,
    "SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n_distinct "
    "FROM events GROUP BY event_type",
)


def _streaming_lsh_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """NEAR-dup screen as a REAL stream (streaming/ingest.py:
    lsh_screen_stream): docs < 250 arrive as the stream, docs >= 250 are
    the persisted corpus band table; a streamed doc colliding with the
    corpus in >= 1 MinHash band emits exactly once (semi join + watermark
    dedup). Same determinism harness as streaming_exact_dedup: one sorted
    landing file -> one availableNow micro-batch, watermark never evicts,
    so the result is exactly the batch semi-join the oracle states."""
    from vectordb_etl_spark.streaming.ingest import lsh_screen_stream

    docs = _docs(spark, sf).select(
        "doc_id",
        "text",
        (F.to_timestamp(F.lit("2024-01-01 00:00:00"))
         + F.make_interval(secs=F.col("doc_id").cast("double"))).alias("ingest_ts"),
    )
    corpus_bands = D.lsh_band_table(
        docs.filter(F.col("doc_id") >= 250).select("doc_id", "text")
    )

    def body(tmp: str) -> DataFrame:
        new_docs = docs.filter(F.col("doc_id") < 250)
        stream = _land(
            new_docs.repartition(1).sortWithinPartitions("doc_id"), tmp,
            files=None,
        )
        corpus_bands.write.parquet(f"{tmp}/corpus_bands")
        static_bands = spark.read.parquet(f"{tmp}/corpus_bands")
        flagged = lsh_screen_stream(stream, static_bands)
        return _drain_to_memory(flagged, tmp).select("doc_id")

    return _scratch(spark, body, stream_width=_STREAM_WIDTH)


_STREAM_LSH_ORACLE = (
    lambda: (
        D.lsh_candidate_pairs_sql("documents")[
            : D.lsh_candidate_pairs_sql("documents").index("SELECT DISTINCT")
        ]
        + "SELECT DISTINCT n.id AS doc_id "
        "FROM banded n JOIN banded c ON n.band_key = c.band_key "
        "AND n.id < 250 AND c.id >= 250"
    )
)()

_register("streaming_lsh_dedup", _streaming_lsh_dedup, _STREAM_LSH_ORACLE)


def _streaming_ivf_ingest(spark: SparkSession, sf: str) -> DataFrame:
    """Continuous ANN-index maintenance as a REAL stream (streaming/
    ingest.py:ivf_ingest_stream): build an IVF index over vectors with
    vec_id < 100 (designated centroids j := vec j, j < 8), then stream
    the REMAINING vectors through a foreachBatch sink that appends them
    via IVFIndex.add against the frozen centroid geometry. Returns the
    final per-cell occupancy (centroid_id, n) — which the oracle restates
    as the 6-dp-rounded cosine argmax assignment of ALL vectors, because
    build-time and add-time assignment share one rule."""
    import numpy as np

    from vectordb_etl_spark.operators.ann import IVFIndex
    from vectordb_etl_spark.streaming.ingest import (
        ivf_ingest_stream,
        run_available_now,
    )

    emb = _table(spark, sf, "embeddings").select("vec_id", "embedding")
    cent_rows = (
        emb.filter(F.col("vec_id") < 8).select("vec_id", "embedding").collect()
    )
    cents = np.array(
        [r["embedding"] for r in sorted(cent_rows, key=lambda r: r["vec_id"])],
        dtype=np.float64,
    )

    def body(tmp: str) -> DataFrame:
        idx = IVFIndex(spark, f"{tmp}/ivf").build(
            emb.filter(F.col("vec_id") < 100),
            centroids=cents, assign_round_dp=6,
        )
        rest = emb.filter(F.col("vec_id") >= 100)
        run_available_now(ivf_ingest_stream(
            _land(rest, tmp), idx, f"{tmp}/ckpt", assign_round_dp=6,
        ))
        return (
            spark.read.parquet(f"{tmp}/ivf/data")
            .groupBy("centroid_id")
            .agg(F.count("*").alias("n"))
        )

    return _scratch(spark, body)


_register(
    "streaming_ivf_ingest",
    _streaming_ivf_ingest,
    # the index's final occupancy = argmax_{cid} round(cosine, 6) over ALL
    # vectors (build half and streamed half share the assignment rule)
    """
WITH e AS MATERIALIZED (
  SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), cents AS (SELECT id AS cid, v AS cv FROM e WHERE id < 8),
asg AS (
  SELECT id, cid FROM (
    SELECT e.id, c.cid,
           row_number() OVER (
             PARTITION BY e.id
             ORDER BY round(list_cosine_similarity(e.v, c.cv), 6) DESC,
               c.cid ASC) AS rn
    FROM e CROSS JOIN cents c
  ) WHERE rn = 1
)
SELECT CAST(cid AS INT) AS centroid_id, count(*) AS n FROM asg GROUP BY cid
""",
)


# -- multimodal tier, driver-checkable ----------------------------------------------
#
# The container-header parsers are real (stdlib struct over public formats);
# the decode step is stubbed (no image/audio libs in this runtime). To make
# the Spark-side plumbing driver-checkable without binary fixtures, each
# document synthesizes a media blob whose header fields are arithmetic in
# doc_id; the mapInPandas parser must round-trip them, and the oracle states
# the same arithmetic directly in SQL.


def _multimodal_image_meta(spark: SparkSession, sf: str) -> DataFrame:
    import struct as _s

    import pandas as pd  # noqa: F401
    from pyspark.sql.types import BinaryType

    from vectordb_etl_spark.multimodal import image_features

    @F.pandas_udf(BinaryType())
    def synth_bmp(doc_id):
        def mk(i):
            w, h = int(i) % 1920 + 16, int(i) % 1080 + 16
            return b"BM" + b"\x00" * 16 + _s.pack("<ii", w, h)

        return doc_id.map(mk)

    media = _docs(spark, sf).select(
        F.col("doc_id"), synth_bmp("doc_id").alias("content")
    )
    return image_features(media, id_col="doc_id", content_col="content").select(
        F.col("media_id").alias("doc_id"), "format", "width", "height", "n_bytes"
    )


_register(
    "multimodal_image_meta",
    _multimodal_image_meta,
    "SELECT doc_id, 'bmp' AS format, doc_id % 1920 + 16 AS width, "
    "doc_id % 1080 + 16 AS height, 26 AS n_bytes FROM documents",
)


def _multimodal_audio_meta(spark: SparkSession, sf: str) -> DataFrame:
    import struct as _s

    from pyspark.sql.types import BinaryType

    from vectordb_etl_spark.multimodal import audio_features

    @F.pandas_udf(BinaryType())
    def synth_wav(doc_id):
        def mk(i):
            i = int(i)
            rate, channels, bits = 8000 + (i % 8) * 4000, i % 2 + 1, 16
            byte_rate = rate * channels * bits // 8
            payload = byte_rate * (i % 10 + 1) // 100  # (i%10+1)*10 ms, exact
            hdr = (
                b"RIFF" + _s.pack("<I", 36 + payload) + b"WAVEfmt "
                + _s.pack("<IHHIIHH", 16, 1, channels, rate, byte_rate,
                          channels * bits // 8, bits)
                + b"data" + _s.pack("<I", payload)
            )
            return hdr + b"\x00" * payload

        return doc_id.map(mk)

    media = _docs(spark, sf).select(
        F.col("doc_id"), synth_wav("doc_id").alias("content")
    )
    return audio_features(media, id_col="doc_id", content_col="content").select(
        F.col("media_id").alias("doc_id"),
        "format", "channels", "sample_rate", "duration_ms",
    )


_register(
    "multimodal_audio_meta",
    _multimodal_audio_meta,
    "SELECT doc_id, 'wav' AS format, doc_id % 2 + 1 AS channels, "
    "8000 + (doc_id % 8) * 4000 AS sample_rate, "
    "(doc_id % 10 + 1) * 10 AS duration_ms FROM documents",
)


def _multimodal_decoded_features(spark: SparkSession, sf: str) -> DataFrame:
    """REAL pixel/sample decode (multimodal.py decode_bmp_pixels /
    decode_wav_samples — pure-stdlib readers, no codec libs): each document
    synthesizes a genuine 24-bpp BMP and a 16-bit PCM WAV whose pixel and
    sample values are arithmetic in doc_id; image_pixel_stats /
    audio_sample_stats must DECODE the bytes (headers, row padding, BGR
    order, RIFF chunk walk) to recover exact integer channel sums and
    sample extrema, and the oracle states the same arithmetic over
    generate_series. Unlike the *_meta round-trips this exercises the pixel
    ARRAY, not just the header."""
    import numpy as np
    from pyspark.sql.types import BinaryType

    from vectordb_etl_spark.multimodal import (
        audio_sample_stats,
        encode_bmp,
        encode_wav,
        image_pixel_stats,
    )

    @F.pandas_udf(BinaryType())
    def synth_bmp_px(doc_id):
        def mk(i):
            i = int(i)
            w, h = i % 8 + 2, i % 6 + 2
            xx, yy = np.meshgrid(np.arange(w), np.arange(h))
            r = (i + xx + yy) % 256
            g = (i + 2 * xx) % 256
            b = (i + 3 * yy) % 256
            return encode_bmp(np.stack([r, g, b], axis=-1).astype(np.uint8))

        return doc_id.map(mk)

    @F.pandas_udf(BinaryType())
    def synth_wav_pcm(doc_id):
        def mk(i):
            i = int(i)
            k = np.arange(i % 50 + 10)
            samples = ((i * 7 + k * 13) % 65536 - 32768).astype(np.int16)
            return encode_wav(samples.reshape(-1, 1), 8000 + (i % 4) * 4000)

        return doc_id.map(mk)

    docs = _docs(spark, sf)
    img = image_pixel_stats(
        docs.select(F.col("doc_id"), synth_bmp_px("doc_id").alias("content")),
        id_col="doc_id",
    )
    aud = audio_sample_stats(
        docs.select(F.col("doc_id"), synth_wav_pcm("doc_id").alias("content")),
        id_col="doc_id",
    )
    return img.join(aud, "doc_id").select(
        "doc_id", "width", "height", "r_sum", "g_sum", "b_sum",
        "sample_rate", "n_frames", "sample_sum", "sample_min", "sample_max",
    )


def _image_ahash_dups(spark: SparkSession, sf: str) -> DataFrame:
    """IMAGE near-duplicate detection by perceptual average-hash
    (multimodal.py:image_ahash): documents synthesize REAL 24-bpp BMPs
    seeded by ``doc_id % 97`` — so ~n/97 docs share each image — and the
    dedup key is the 64-bit aHash (floor-map 8×8 downsample → integer
    gray → above-mean bits), computed by actually DECODING the bytes.
    Hash-equal groups contain every planted duplicate class (same seed
    ⇒ same hash; distinct seeds MAY collide — aHash is perceptual, and
    similar gradients hashing together is the point); the oracle
    restates downsample/gray/mean/bit arithmetic over
    generate_series and string_aggs the same row-major bit string. The
    100 TB story: image corpus dedup as a hash groupBy, pixels never
    shuffle — only 64-char keys do."""
    import numpy as np
    from pyspark.sql.types import BinaryType

    from vectordb_etl_spark.multimodal import encode_bmp, image_ahash

    @F.pandas_udf(BinaryType())
    def synth_bmp_seeded(doc_id):
        def mk(i):
            s = int(i) % 97
            w, h = s % 8 + 9, s % 6 + 9
            xx, yy = np.meshgrid(np.arange(w), np.arange(h))
            r = (s + xx + yy) % 256
            g = (s + 2 * xx) % 256
            b = (s + 3 * yy) % 256
            return encode_bmp(np.stack([r, g, b], axis=-1).astype(np.uint8))

        return doc_id.map(mk)

    docs = _docs(spark, sf).select(
        "doc_id", synth_bmp_seeded("doc_id").alias("content")
    )
    hashed = image_ahash(docs, id_col="doc_id", grid=8)
    return (
        hashed.groupBy("ahash")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.min("doc_id").cast("bigint").alias("min_doc"),
        )
        .orderBy("ahash")
    )


_register(
    "image_ahash_dups",
    _image_ahash_dups,
    # the identical downsample/gray/mean/bit arithmetic over
    # generate_series; bits string_agg in the same row-major order
    "WITH g AS ("
    "  SELECT doc_id, doc_id % 97 AS s, "
    "         doc_id % 97 % 8 + 9 AS w, doc_id % 97 % 6 + 9 AS h"
    "  FROM documents"
    "), oy AS ("
    "  SELECT doc_id, s, w, h, unnest(generate_series(0, 7)) AS oy FROM g"
    "), cell AS ("
    "  SELECT doc_id, s, w, h, oy, unnest(generate_series(0, 7)) AS ox"
    "  FROM oy"
    "), gray AS ("
    "  SELECT doc_id, oy, ox, "
    "         ((s + (ox * w) // 8 + (oy * h) // 8) % 256 "
    "          + (s + 2 * ((ox * w) // 8)) % 256 "
    "          + (s + 3 * ((oy * h) // 8)) % 256) // 3 AS v"
    "  FROM cell"
    "), m AS ("
    "  SELECT doc_id, CAST(sum(v) // 64 AS BIGINT) AS mean FROM gray "
    "  GROUP BY doc_id"
    "), bits AS ("
    "  SELECT gray.doc_id, "
    "         string_agg(CASE WHEN v > mean THEN '1' ELSE '0' END, '' "
    "                    ORDER BY oy, ox) AS ahash"
    "  FROM gray JOIN m ON m.doc_id = gray.doc_id GROUP BY gray.doc_id"
    ") "
    "SELECT ahash, CAST(count(*) AS BIGINT) AS n_docs, "
    "CAST(min(doc_id) AS BIGINT) AS min_doc "
    "FROM bits GROUP BY ahash ORDER BY ahash",
)


def _image_near_dup_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """NEAR-duplicate image classes: pairs of distinct aHash values
    within Hamming distance 3, found EXACTLY by the pigeonhole block
    join (operators/dedup.py:simhash_near_dup_pairs technique, applied
    to the 64-char bit string: 4 blocks of 16 — any pair ≤ 3 apart
    agrees on ≥ 1 whole block, so the 4 equi-joins lose nothing). The
    join runs on DISTINCT hashes (exact-dup classes collapse first —
    the real pipeline order), candidates dedup before the 64-position
    Hamming verify, all JVM string expressions. Same synthesized corpus
    as image_ahash_dups; oracle restates hash construction AND the
    blocked join."""
    import numpy as np
    from pyspark.sql.types import BinaryType

    from vectordb_etl_spark.multimodal import encode_bmp, image_ahash

    @F.pandas_udf(BinaryType())
    def synth_bmp_seeded2(doc_id):
        def mk(i):
            s = int(i) % 97
            w, h = s % 8 + 9, s % 6 + 9
            xx, yy = np.meshgrid(np.arange(w), np.arange(h))
            r = (s + xx + yy) % 256
            g = (s + 2 * xx) % 256
            b = (s + 3 * yy) % 256
            return encode_bmp(np.stack([r, g, b], axis=-1).astype(np.uint8))

        return doc_id.map(mk)

    docs = _docs(spark, sf).select(
        "doc_id", synth_bmp_seeded2("doc_id").alias("content")
    )
    hashes = (
        image_ahash(docs, id_col="doc_id", grid=8)
        .select("ahash")
        .distinct()
        .localCheckpoint(eager=True)  # feeds 4 block joins
    )
    cands = None
    for j in range(4):
        blk = F.substring("ahash", j * 16 + 1, 16)
        a = hashes.select(
            F.col("ahash").alias("ha"), blk.alias("__blk")
        )
        b = hashes.select(
            F.col("ahash").alias("hb"), blk.alias("__blk")
        )
        pair = a.join(b, "__blk").where(F.col("ha") < F.col("hb")).select(
            "ha", "hb"
        )
        cands = pair if cands is None else cands.unionByName(pair)
    ham = F.expr(
        "aggregate(sequence(1, 64), 0, (acc, i) -> acc + "
        "CASE WHEN substring(ha, i, 1) <> substring(hb, i, 1) "
        "THEN 1 ELSE 0 END)"
    )
    return (
        cands.distinct()
        .withColumn("hamming", ham.cast("int"))
        .where(F.col("hamming") <= 3)
        .orderBy("ha", "hb")
    )


_register(
    "image_near_dup_pairs",
    _image_near_dup_pairs,
    # hash construction as in image_ahash_dups, then the same blocked
    # join + Hamming verify over distinct hashes
    "WITH g AS ("
    "  SELECT doc_id, doc_id % 97 AS s, "
    "         doc_id % 97 % 8 + 9 AS w, doc_id % 97 % 6 + 9 AS h"
    "  FROM documents"
    "), oy AS ("
    "  SELECT doc_id, s, w, h, unnest(generate_series(0, 7)) AS oy FROM g"
    "), cell AS ("
    "  SELECT doc_id, s, w, h, oy, unnest(generate_series(0, 7)) AS ox"
    "  FROM oy"
    "), gray AS ("
    "  SELECT doc_id, oy, ox, "
    "         ((s + (ox * w) // 8 + (oy * h) // 8) % 256 "
    "          + (s + 2 * ((ox * w) // 8)) % 256 "
    "          + (s + 3 * ((oy * h) // 8)) % 256) // 3 AS v"
    "  FROM cell"
    "), m AS ("
    "  SELECT doc_id, CAST(sum(v) // 64 AS BIGINT) AS mean FROM gray "
    "  GROUP BY doc_id"
    "), hs AS ("
    "  SELECT DISTINCT string_agg("
    "    CASE WHEN v > mean THEN '1' ELSE '0' END, '' ORDER BY oy, ox) "
    "    AS ahash"
    "  FROM gray JOIN m ON m.doc_id = gray.doc_id GROUP BY gray.doc_id"
    "), cand AS ("
    "  SELECT DISTINCT a.ahash AS ha, b.ahash AS hb"
    "  FROM hs a JOIN hs b ON a.ahash < b.ahash, "
    "       generate_series(0, 3) blk(j)"
    "  WHERE substr(a.ahash, CAST(j * 16 + 1 AS BIGINT), 16) "
    "      = substr(b.ahash, CAST(j * 16 + 1 AS BIGINT), 16)"
    ") "
    "SELECT ha, hb, CAST(list_sum(list_transform(range(64), "
    "  i -> CASE WHEN substr(ha, CAST(i + 1 AS BIGINT), 1) "
    "           <> substr(hb, CAST(i + 1 AS BIGINT), 1) "
    "       THEN 1 ELSE 0 END)) AS INTEGER) AS hamming "
    "FROM cand "
    "WHERE list_sum(list_transform(range(64), "
    "  i -> CASE WHEN substr(ha, CAST(i + 1 AS BIGINT), 1) "
    "           <> substr(hb, CAST(i + 1 AS BIGINT), 1) "
    "       THEN 1 ELSE 0 END)) <= 3 "
    "ORDER BY ha, hb",
)


def _audio_ahash_dups(spark: SparkSession, sf: str) -> DataFrame:
    """AUDIO near-duplicate detection by energy fingerprint
    (multimodal.py:audio_ahash) — the WAV twin of image_ahash_dups:
    documents synthesize REAL 16-bit PCM WAVs seeded by ``doc_id % 89``
    and the dedup key is the 64-slot energy-profile bit string computed
    by actually decoding the RIFF bytes (floor-map slot sampling,
    integer |sample| metric, above-mean bits). The oracle restates the
    slot/abs/mean/bit arithmetic over generate_series. Clips never
    shuffle — only 64-char keys do."""
    import numpy as np
    from pyspark.sql.types import BinaryType

    from vectordb_etl_spark.multimodal import audio_ahash, encode_wav

    @F.pandas_udf(BinaryType())
    def synth_wav_seeded(doc_id):
        def mk(i):
            s = int(i) % 89
            k = np.arange(s % 50 + 80)
            # burst train whose period (and clip length) depend on the
            # seed — the energy PROFILE, not just the values, varies
            samples = np.where(
                (k // 4) % (s % 6 + 2) == 0, 30000 + s, s * 50
            ).astype(np.int16)
            return encode_wav(samples.reshape(-1, 1), 16000)

        return doc_id.map(mk)

    docs = _docs(spark, sf).select(
        "doc_id", synth_wav_seeded("doc_id").alias("content")
    )
    hashed = audio_ahash(docs, id_col="doc_id", windows=64)
    return (
        hashed.groupBy("ahash")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.min("doc_id").cast("bigint").alias("min_doc"),
        )
        .orderBy("ahash")
    )


_register(
    "audio_ahash_dups",
    _audio_ahash_dups,
    "WITH g AS ("
    "  SELECT doc_id, doc_id % 89 AS s, doc_id % 89 % 50 + 80 AS n"
    "  FROM documents"
    "), slot AS ("
    "  SELECT doc_id, s, n, unnest(generate_series(0, 63)) AS j FROM g"
    "), vals AS ("
    "  SELECT doc_id, j, "
    "         abs(CASE WHEN (((j * n) // 64) // 4) % (s % 6 + 2) = 0 "
    "             THEN 30000 + s ELSE s * 50 END) AS v"
    "  FROM slot"
    "), m AS ("
    "  SELECT doc_id, CAST(sum(v) // 64 AS BIGINT) AS mean FROM vals "
    "  GROUP BY doc_id"
    "), bits AS ("
    "  SELECT vals.doc_id, "
    "         string_agg(CASE WHEN v > mean THEN '1' ELSE '0' END, '' "
    "                    ORDER BY j) AS ahash"
    "  FROM vals JOIN m ON m.doc_id = vals.doc_id GROUP BY vals.doc_id"
    ") "
    "SELECT ahash, CAST(count(*) AS BIGINT) AS n_docs, "
    "CAST(min(doc_id) AS BIGINT) AS min_doc "
    "FROM bits GROUP BY ahash ORDER BY ahash",
)


_register(
    "multimodal_decoded_features",
    _multimodal_decoded_features,
    # the same pixel/sample arithmetic, stated directly over generate_series
    # (nested unnest: DuckDB's generate_series table function is not
    # lateral-correlatable)
    "WITH xs AS ("
    "  SELECT doc_id, unnest(generate_series(0, doc_id % 8 + 1)) AS x"
    "  FROM documents"
    "), px AS ("
    "  SELECT doc_id, x, unnest(generate_series(0, doc_id % 6 + 1)) AS y"
    "  FROM xs"
    "), img AS ("
    "  SELECT doc_id,"
    "         CAST(max(x) + 1 AS INT) AS width,"
    "         CAST(max(y) + 1 AS INT) AS height,"
    "         CAST(SUM((doc_id + x + y) % 256) AS BIGINT) AS r_sum,"
    "         CAST(SUM((doc_id + 2 * x) % 256) AS BIGINT) AS g_sum,"
    "         CAST(SUM((doc_id + 3 * y) % 256) AS BIGINT) AS b_sum"
    "  FROM px GROUP BY doc_id"
    "), ks AS ("
    "  SELECT doc_id, unnest(generate_series(0, doc_id % 50 + 9)) AS k"
    "  FROM documents"
    "), aud AS ("
    "  SELECT doc_id,"
    "         CAST(COUNT(*) AS BIGINT) AS n_frames,"
    "         CAST(SUM((doc_id * 7 + k * 13) % 65536 - 32768) AS BIGINT)"
    "           AS sample_sum,"
    "         CAST(MIN((doc_id * 7 + k * 13) % 65536 - 32768) AS INT)"
    "           AS sample_min,"
    "         CAST(MAX((doc_id * 7 + k * 13) % 65536 - 32768) AS INT)"
    "           AS sample_max"
    "  FROM ks GROUP BY doc_id"
    ") "
    "SELECT i.doc_id, i.width, i.height, i.r_sum, i.g_sum, i.b_sum, "
    "CAST(8000 + (i.doc_id % 4) * 4000 AS INT) AS sample_rate, "
    "a.n_frames, a.sample_sum, a.sample_min, a.sample_max "
    "FROM img i JOIN aud a USING (doc_id)",
)


# -- parser tiers, driver-checkable via synthesized inputs --------------------
#
# Same pattern as the multimodal round-trips: each document synthesizes an
# input (HTML string / HWPX zip / frame container) whose structural fields
# are arithmetic in doc_id; the REAL parser must recover them, and the
# oracle states the same arithmetic directly. This turns the S2/S3/S5 UDF
# tier and the frame fan-out from pytest-only into hash-checked rows.


def _html_parse_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    from vectordb_etl_spark.sources.html import parse_html_udf

    did = F.col("doc_id")
    n_p = (did % 5 + 1).cast("int")
    n_li = (did % 3 + 2).cast("int")
    # title + one h1 + h2s + n_p paragraphs + a list with n_li items + a table
    html = F.concat(
        F.lit("<html><head><title>Doc "), did.cast("string"),
        F.lit("</title><style>p{color:red}</style></head><body>"),
        F.lit("<h1>Doc "), did.cast("string"), F.lit("</h1>"),
        F.repeat(F.lit("<h2>s</h2>"), (did % 4).cast("int")),
        F.repeat(F.lit("<p>para</p>"), n_p),
        F.lit("<ul>"), F.repeat(F.lit("<li>x</li>"), n_li), F.lit("</ul>"),
        F.lit("<table><tr><td>1</td></tr></table>"),
        F.lit("<script>var a=1;</script></body></html>"),
    )
    parsed = _docs(spark, sf).select(
        "doc_id", parse_html_udf(html).alias("p")
    )
    return parsed.select(
        "doc_id",
        F.col("p.title").alias("title"),
        F.col("p.heading_count").alias("heading_count"),
        F.col("p.paragraph_count").alias("paragraph_count"),
        F.col("p.table_count").alias("table_count"),
        F.col("p.list_count").alias("list_count"),
        # boilerplate (<style>/<script>) must NOT leak into the text
        F.col("p.text").contains("var a=1").alias("script_leaked"),
        F.col("p.text").contains("color:red").alias("style_leaked"),
    )


_register(
    "html_parse_roundtrip",
    _html_parse_roundtrip,
    "SELECT doc_id, 'Doc ' || CAST(doc_id AS VARCHAR) AS title, "
    "CAST(1 + doc_id % 4 AS INT) AS heading_count, "
    "CAST(doc_id % 5 + 1 AS INT) AS paragraph_count, "
    "CAST(1 AS INT) AS table_count, CAST(1 AS INT) AS list_count, "
    "false AS script_leaked, false AS style_leaked FROM documents",
)


def _hwpx_extract_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    import io
    import zipfile

    from pyspark.sql.types import BinaryType

    from vectordb_etl_spark.sources.hwp import extract_hwp_udf

    @F.pandas_udf(BinaryType())
    def synth_hwpx(doc_id):
        def mk(i):
            i = int(i)
            buf = io.BytesIO()
            with zipfile.ZipFile(buf, "w") as z:
                z.writestr(
                    "META-INF/metadata.xml",
                    "<meta><title>HWPX %d</title><creator>author %d</creator></meta>"
                    % (i, i % 7),
                )
                for s in range(i % 3 + 1):
                    z.writestr(
                        f"Contents/section{s}.xml",
                        "<sec><p>line %d of doc %d</p></sec>" % (s, i),
                    )
            return buf.getvalue()

        return doc_id.map(mk)

    docs = _docs(spark, sf).select("doc_id", synth_hwpx("doc_id").alias("blob"))
    parsed = docs.select("doc_id", extract_hwp_udf(F.col("blob")).alias("p"))
    return parsed.select(
        "doc_id",
        F.col("p.title").alias("title"),
        F.col("p.author").alias("author"),
        F.col("p.n_sections").alias("n_sections"),
        F.col("p.error").alias("error"),
        F.col("p.text").contains(F.concat(F.lit("of doc "), F.col("doc_id").cast("string")))
        .alias("text_ok"),
    )


_register(
    "hwpx_extract_roundtrip",
    _hwpx_extract_roundtrip,
    "SELECT doc_id, 'HWPX ' || CAST(doc_id AS VARCHAR) AS title, "
    "'author ' || CAST(doc_id % 7 AS VARCHAR) AS author, "
    "CAST(doc_id % 3 + 1 AS INT) AS n_sections, "
    "CAST(NULL AS VARCHAR) AS error, true AS text_ok FROM documents",
)


def _hwp_cfb_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    """S4 — binary HWP: synthesize a real [MS-CFB] container per document
    (compound-file writer in sources/cfb_fixtures.py — the write side of
    the spec whose read side is the production extractor), with zlib-raw
    section bytes on even doc_ids and uncompressed on odd; the extractor
    must recover the paragraph text through the UTF-16 whitelist scan.
    Every third document also carries a \\x05HwpSummaryInformation
    property-set stream (MS-OLEPS, doc_id-arithmetic values) — the
    extractor must parse title/author/subject/keywords out of it
    (reference hwp_loader.py:112-113,146-147 via OLE SummaryInformation)
    and return NULLs, not garbage, when absent."""
    from pyspark.sql.types import BinaryType

    from vectordb_etl_spark.sources.cfb_fixtures import make_hwp
    from vectordb_etl_spark.sources.hwp import extract_hwp_udf

    @F.pandas_udf(BinaryType())
    def synth_hwp(doc_id):
        def build(i):
            i = int(i)
            meta = (
                dict(
                    title=f"title {i}",
                    author=f"author {i % 7}",
                    subject=f"subject {i % 5}",
                    keywords=f"kw{i}, kw{i + 1}",
                )
                if i % 3 == 0
                else {}
            )
            return make_hwp(
                [f"para {j} of doc {i}" for j in range(i % 3 + 1)],
                compress=(i % 2 == 0),
                **meta,
            )

        return doc_id.map(build)

    docs = _docs(spark, sf).select("doc_id", synth_hwp("doc_id").alias("blob"))
    parsed = docs.select("doc_id", extract_hwp_udf(F.col("blob")).alias("p"))
    return parsed.select(
        "doc_id",
        F.col("p.n_sections").alias("n_sections"),
        F.col("p.error").alias("error"),
        F.col("p.text").contains(
            F.concat(F.lit("of doc "), F.col("doc_id").cast("string"))
        ).alias("text_ok"),
        # last paragraph index must appear — the whole section decoded
        F.col("p.text").contains(
            F.concat(F.lit("para "), (F.col("doc_id") % 3).cast("string"))
        ).alias("last_para_ok"),
        F.col("p.title").alias("title"),
        F.col("p.author").alias("author"),
        F.col("p.subject").alias("subject"),
        F.col("p.keywords").alias("keywords"),
        # serving-tier audit column: in a stock environment neither
        # env-gated tier (hwp5txt binary, pyhwpx package) resolves, so the
        # pure-CFB tier serves every row — which the oracle pins. An env
        # with HWP5TXT_BIN set would legitimately report 'hwp5txt' here.
        F.col("p.method").alias("method"),
    )


_register(
    "hwp_cfb_roundtrip",
    _hwp_cfb_roundtrip,
    "SELECT doc_id, CAST(1 AS INT) AS n_sections, CAST(NULL AS VARCHAR) AS error, "
    "true AS text_ok, true AS last_para_ok, "
    "CASE WHEN doc_id % 3 = 0 THEN 'title ' || CAST(doc_id AS VARCHAR) END AS title, "
    "CASE WHEN doc_id % 3 = 0 THEN 'author ' || CAST(doc_id % 7 AS VARCHAR) END AS author, "
    "CASE WHEN doc_id % 3 = 0 THEN 'subject ' || CAST(doc_id % 5 AS VARCHAR) END AS subject, "
    "CASE WHEN doc_id % 3 = 0 THEN 'kw' || CAST(doc_id AS VARCHAR) || ', kw' || CAST(doc_id + 1 AS VARCHAR) END AS keywords, "
    "'cfb' AS method "
    "FROM documents",
)


def _video_frame_fanout(spark: SparkSession, sf: str) -> DataFrame:
    from vectordb_etl_spark.multimodal import sample_frames

    did = F.col("doc_id")
    # blob of (doc_id % 5 + 1) * 64 bytes → frame count arithmetic in doc_id
    blob = F.repeat(F.lit("ab"), ((did % 5 + 1) * 32).cast("int")).cast("binary")
    media = _docs(spark, sf).select(
        F.col("doc_id").alias("media_id"), blob.alias("content")
    )
    frames = sample_frames(media, every_n_bytes=64, max_frames=8)
    return frames.groupBy(F.col("media_id").alias("doc_id")).agg(
        F.count("*").alias("n_frames"),
        F.max("frame_offset_bytes").alias("last_offset"),
        F.sum(F.length("frame")).alias("total_frame_bytes"),
    )


_register(
    "video_frame_fanout",
    _video_frame_fanout,
    "SELECT doc_id, CAST(doc_id % 5 + 1 AS BIGINT) AS n_frames, "
    "CAST((doc_id % 5) * 64 AS BIGINT) AS last_offset, "
    "CAST((doc_id % 5 + 1) * 64 AS BIGINT) AS total_frame_bytes FROM documents",
)


# ---------------------------------------------------------------------------
# registration order for the driver
# ---------------------------------------------------------------------------
# -- round-3 widening: filter facade + four TPC-H join shapes + grouped top-k


def _filter_expr_search(spark: SparkSession, sf: str) -> DataFrame:
    """P9/P10 through the Milvus-style filter-STRING facade
    (functions/filter_expr.py; reference search_utils.py:56,90) — proves the
    string surface plans identically to native Column predicates (the parse
    result is a Column, so pushdown/pruning are untouched)."""
    from vectordb_etl_spark.functions.filter_expr import parse_filter

    docs = _docs(spark, sf)
    return (
        docs.filter(
            parse_filter(
                'lang in ["en", "fr"] and n_chars >= 300 and not lang == "de"'
            )
        )
        .select("doc_id", "lang", "n_chars")
        .orderBy(F.desc("n_chars"), F.asc("doc_id"))
        .limit(20)
    )


_register(
    "filter_expr_search",
    _filter_expr_search,
    "SELECT doc_id, lang, n_chars FROM documents "
    "WHERE lang IN ('en', 'fr') AND n_chars >= 300 AND NOT lang = 'de' "
    "ORDER BY n_chars DESC, doc_id ASC LIMIT 20",
)


def _forecast_revenue_change(spark: SparkSession, sf: str) -> DataFrame:
    """Q6-shape: the simplest TPC-H plan — a pure filter+aggregate whose
    entire predicate battery (year band, discount band, quantity cap) must
    reach the parquet scan as PushedFilters; the aggregate is one
    map-side-combined global sum. No join, no window — the query exists to
    prove pushdown, and its scan should read 3 columns of 11."""
    li = _table(spark, sf, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1997-01-01")
            & (F.col("l_discount") >= 0.02)
            & (F.col("l_discount") <= 0.06)
            & (F.col("l_quantity") < 20)
        )
        .agg(
            F.round(
                F.sum(
                    (F.col("l_extendedprice") * F.col("l_discount")).cast(
                        "decimal(18,4)"
                    )
                ).cast("double"),
                4,
            ).alias("revenue_delta")
        )
    )


_register(
    "forecast_revenue_change",
    _forecast_revenue_change,
    "SELECT round(CAST(sum(CAST(l_extendedprice * l_discount AS DECIMAL(18,4)))"
    " AS DOUBLE), 4) AS revenue_delta FROM lineitem "
    "WHERE l_shipdate >= TIMESTAMP '1996-01-01' "
    "AND l_shipdate < TIMESTAMP '1997-01-01' "
    "AND l_discount BETWEEN 0.02 AND 0.06 AND l_quantity < 20",
)


def _min_cost_supplier_per_part(spark: SparkSession, sf: str) -> DataFrame:
    """Q2-shape: for each small part, the supplier offering the MINIMUM
    observed price — the correlated scalar-min subquery, decorrelated the
    way Catalyst does it: aggregate (part, supplier) → min-per-part →
    first-row-per-part selection. lineitem stands in for partsupp (the
    testdata has no partsupp table); min() is pure selection, so no float
    arithmetic enters the hash. Ties break to the lowest suppkey."""
    li = _table(spark, sf, "lineitem")
    part = _table(spark, sf, "part")
    costs = li.groupBy("l_partkey", "l_suppkey").agg(
        F.min("l_extendedprice").alias("cost")
    )
    w = Window.partitionBy("l_partkey").orderBy(
        F.asc("cost"), F.asc("l_suppkey")
    )
    best = (
        costs.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    return (
        best.join(F.broadcast(part), best.l_partkey == part.p_partkey)
        .filter(F.col("p_size") <= 10)
        .select(
            "p_partkey",
            "p_size",
            F.col("l_suppkey").alias("s_suppkey"),
            F.round(F.col("cost"), 4).alias("min_cost"),
        )
        .orderBy("p_partkey")
        .limit(50)
    )


_register(
    "min_cost_supplier_per_part",
    _min_cost_supplier_per_part,
    "SELECT p_partkey, p_size, l_suppkey AS s_suppkey, "
    "round(cost, 4) AS min_cost FROM ("
    "  SELECT l_partkey, l_suppkey, cost, row_number() OVER ("
    "    PARTITION BY l_partkey ORDER BY cost ASC, l_suppkey ASC) AS rn"
    "  FROM (SELECT l_partkey, l_suppkey, min(l_extendedprice) AS cost"
    "        FROM lineitem GROUP BY 1, 2)"
    ") JOIN part ON l_partkey = p_partkey "
    "WHERE rn = 1 AND p_size <= 10 ORDER BY p_partkey LIMIT 50",
)


def _supplier_part_counts(spark: SparkSession, sf: str) -> DataFrame:
    """Q16-shape: per (brand, type), how many DISTINCT suppliers ship the
    part class — excluding a supplier blocklist (Q16's complaint filter;
    here suppliers with negative balance) via a broadcast LEFT ANTI join
    BEFORE the distinct-count aggregate. The anti join is the shape under
    test: NOT IN over a nullable-free key decorrelates to anti, and the
    countDistinct collapses (brand, type, supplier) before counting."""
    li = _table(spark, sf, "lineitem")
    part = _table(spark, sf, "part")
    supplier = _table(spark, sf, "supplier")
    bad = supplier.filter(F.col("s_acctbal") < 0).select("s_suppkey")
    return (
        li.join(F.broadcast(bad), li.l_suppkey == bad.s_suppkey, "left_anti")
        .join(F.broadcast(part), F.col("l_partkey") == part.p_partkey)
        .groupBy("p_brand", "p_type")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type")
        .limit(20)
    )


_register(
    "supplier_part_counts",
    _supplier_part_counts,
    # NOT EXISTS, not NOT IN: a NULL blocklist key would zero the whole
    # result under NOT IN's three-valued logic, and NULL fact keys would
    # diverge from the operator's anti join (which keeps them)
    "SELECT p_brand, p_type, count(DISTINCT l_suppkey) AS supplier_cnt "
    "FROM lineitem l JOIN part ON l.l_partkey = p_partkey "
    "WHERE NOT EXISTS (SELECT 1 FROM supplier s "
    "WHERE s.s_acctbal < 0 AND s.s_suppkey = l.l_suppkey) "
    "GROUP BY 1, 2 ORDER BY supplier_cnt DESC, p_brand, p_type LIMIT 20",
)


def _product_type_profit(spark: SparkSession, sf: str) -> DataFrame:
    """Q9-shape: per (supplier nation, order year) profit over a six-table
    join with an expression combining FACT and DIM columns inside the
    aggregate (the testdata has no partsupp, so supply cost is the
    part-dim proxy ``p_retailprice · l_quantity / 10`` — the SHAPE under
    test is unchanged: profit must be computed post-join, so Catalyst
    can't push the aggregate below the joins; all dims broadcast, the one
    big shuffle is lineitem⋈orders)."""
    li = _table(spark, sf, "lineitem")
    orders = _table(spark, sf, "orders")
    supplier = _table(spark, sf, "supplier")
    nation = _table(spark, sf, "nation")
    part = _table(spark, sf, "part")
    profit = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - F.col("p_retailprice") * F.col("l_quantity") / 10
    ).cast("decimal(18,4)")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(supplier), li.l_suppkey == supplier.s_suppkey)
        .join(F.broadcast(nation), supplier.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
        )
        .agg(F.round(F.sum(profit).cast("double"), 4).alias("profit"))
        .orderBy("nation", F.desc("o_year"))
    )


_register(
    "product_type_profit",
    _product_type_profit,
    "SELECT n_name AS nation, CAST(year(o_orderdate) AS INT) AS o_year, "
    "round(CAST(sum(CAST(l_extendedprice * (1 - l_discount) "
    "- p_retailprice * l_quantity / 10 AS DECIMAL(18,4))) AS DOUBLE), 4) "
    "AS profit "
    "FROM lineitem "
    "JOIN orders ON l_orderkey = o_orderkey "
    "JOIN supplier ON l_suppkey = s_suppkey "
    "JOIN nation ON s_nationkey = n_nationkey "
    "JOIN part ON l_partkey = p_partkey "
    "GROUP BY 1, 2 ORDER BY nation, o_year DESC",
)


def _promo_revenue_ratio(spark: SparkSession, sf: str) -> DataFrame:
    """Q14-shape: conditional-aggregate ratio over a fact⋈dim join. part is
    the small side — Catalyst broadcasts it, so the only shuffle is the
    final single-group aggregate (partial map-side sums of both the
    conditional and unconditional terms in one pass)."""
    li = _table(spark, sf, "lineitem")
    part = _table(spark, sf, "part")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(18,4)"
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .agg(
            F.round(
                (
                    F.lit(100.0)
                    * F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0)))
                    / F.sum(rev)
                ).cast("double"),
                6,
            ).alias("promo_pct")
        )
    )


_register(
    "promo_revenue_ratio",
    _promo_revenue_ratio,
    "SELECT round(CAST(100.0 * "
    "sum(CASE WHEN p_type = 'PROMO' THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)) ELSE 0 END) / "
    "sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE), 6) AS promo_pct "
    "FROM lineitem JOIN part ON l_partkey = p_partkey",
)


def _large_order_customers(spark: SparkSession, sf: str) -> DataFrame:
    """Q18-shape: group-by-HAVING on the fact, then join the qualifying keys
    back to orders/customer. The HAVING runs as a partial+final agg BEFORE
    the joins, so only qualifying orderkeys (a tiny set) flow into the join
    — the decomposed form of the correlated `IN (SELECT ... HAVING)`."""
    li = _table(spark, sf, "lineitem")
    orders = _table(spark, sf, "orders")
    cust = _table(spark, sf, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("sum_qty"))
        .filter(F.col("sum_qty") > 250)
    )
    return (
        orders.join(big, orders.o_orderkey == big.l_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select(
            "c_name",
            "o_orderkey",
            F.round(F.col("o_totalprice").cast("double"), 4).alias("total_price"),
            F.round(F.col("sum_qty").cast("double"), 4).alias("sum_qty"),
        )
        .orderBy(F.desc("total_price"), F.asc("o_orderkey"))
        .limit(20)
    )


_register(
    "large_order_customers",
    _large_order_customers,
    "SELECT c_name, o_orderkey, round(CAST(o_totalprice AS DOUBLE), 4) AS total_price, "
    "round(CAST(sum_qty AS DOUBLE), 4) AS sum_qty FROM orders "
    "JOIN (SELECT l_orderkey, sum(l_quantity) AS sum_qty FROM lineitem "
    "GROUP BY l_orderkey HAVING sum(l_quantity) > 250) big ON o_orderkey = big.l_orderkey "
    "JOIN customer ON o_custkey = c_custkey "
    "ORDER BY total_price DESC, o_orderkey ASC LIMIT 20",
)


def _disjunctive_predicate_revenue(spark: SparkSession, sf: str) -> DataFrame:
    """Q19-shape: OR-of-ANDs across both join sides. The brand/size arms
    reference only `part` and the quantity arms only `lineitem`, so Catalyst
    derives and pushes the per-side implied filters (brand IN (...) to the
    part scan, quantity range to the lineitem scan) before the broadcast
    join evaluates the full disjunction."""
    li = _table(spark, sf, "lineitem")
    part = _table(spark, sf, "part")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(18,4)"
    )
    cond = (
        ((F.col("p_brand") == "Brand#1") & (F.col("p_size") <= 15) & F.col("l_quantity").between(1, 20))
        | ((F.col("p_brand") == "Brand#2") & (F.col("p_size") <= 30) & F.col("l_quantity").between(10, 35))
        | ((F.col("p_brand") == "Brand#3") & (F.col("p_size") <= 50) & F.col("l_quantity").between(20, 50))
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .filter(cond)
        .agg(
            F.round(F.sum(rev).cast("double"), 4).alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


_register(
    "disjunctive_predicate_revenue",
    _disjunctive_predicate_revenue,
    "SELECT round(CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE), 4) AS revenue, "
    "count(*) AS n_items FROM lineitem JOIN part ON l_partkey = p_partkey "
    "WHERE (p_brand = 'Brand#1' AND p_size <= 15 AND l_quantity BETWEEN 1 AND 20) "
    "OR (p_brand = 'Brand#2' AND p_size <= 30 AND l_quantity BETWEEN 10 AND 35) "
    "OR (p_brand = 'Brand#3' AND p_size <= 50 AND l_quantity BETWEEN 20 AND 50)",
)


def _bilateral_shipping_volume(spark: SparkSession, sf: str) -> DataFrame:
    """Q7-shape: five-table snowflake with a symmetric two-nation predicate
    and a year grain from the ship timestamp. nation is broadcast twice
    under different aliases; the only large shuffle is lineitem⋈orders
    (both sides hash-partitioned on orderkey — at 100 TB, bucket both on
    orderkey and this becomes exchange-free, store/layout.py)."""
    li = _table(spark, sf, "lineitem")
    orders = _table(spark, sf, "orders")
    cust = _table(spark, sf, "customer")
    supp = _table(spark, sf, "supplier")
    nation = _table(spark, sf, "nation")
    n1 = nation.select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | (
        (F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1")
    )
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(18,4)"
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nk"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nk"))
        .filter(pair)
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("ship_year"))
        .agg(F.round(F.sum(rev).cast("double"), 4).alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "ship_year")
    )


_register(
    "bilateral_shipping_volume",
    _bilateral_shipping_volume,
    "SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation, "
    "EXTRACT(year FROM l_shipdate) AS ship_year, "
    "round(CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE), 4) AS revenue "
    "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
    "JOIN supplier ON l_suppkey = s_suppkey "
    "JOIN customer ON o_custkey = c_custkey "
    "JOIN nation n1 ON s_nationkey = n1.n_nationkey "
    "JOIN nation n2 ON c_nationkey = n2.n_nationkey "
    "WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2') "
    "OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1') "
    "GROUP BY 1, 2, 3 ORDER BY 1, 2, 3",
)


def _rev_dec():
    return (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(18,4)"
    )


def _regional_supplier_volume(spark: SparkSession, sf: str) -> DataFrame:
    """Q5 shape: six-table snowflake where customer and supplier must share
    a nation inside one region — the extra equi-condition (c_nationkey =
    s_nationkey) rides the supplier join, so no second nation pass; region
    and nation broadcast, the only big shuffle is lineitem⋈orders."""
    r = _table(spark, sf, "region").filter(F.col("r_name") == "ASIA")
    n = _table(spark, sf, "nation").join(
        F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey")
    )
    o = _table(spark, sf, "orders").filter(
        (F.col("o_orderdate") >= "1997-01-01") & (F.col("o_orderdate") < "1998-01-01")
    )
    li = _table(spark, sf, "lineitem")
    cust = _table(spark, sf, "customer")
    sup = _table(spark, sf, "supplier")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(cust, F.col("o_custkey") == cust.c_custkey)
        .join(
            sup,
            (li.l_suppkey == sup.s_suppkey)
            & (cust.c_nationkey == sup.s_nationkey),
        )
        .join(F.broadcast(n), sup.s_nationkey == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(F.round(F.sum(_rev_dec()).cast("double"), 4).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("n_name"))
    )


_register(
    "regional_supplier_volume",
    _regional_supplier_volume,
    "SELECT n_name, "
    "round(CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE), 4) AS revenue "
    "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
    "JOIN customer ON o_custkey = c_custkey "
    "JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey "
    "JOIN nation ON s_nationkey = n_nationkey "
    "JOIN region ON n_regionkey = r_regionkey "
    "WHERE r_name = 'ASIA' AND o_orderdate >= '1997-01-01' "
    "AND o_orderdate < '1998-01-01' "
    "GROUP BY n_name ORDER BY revenue DESC, n_name ASC",
)


def _market_share(spark: SparkSession, sf: str) -> DataFrame:
    """Q8 shape: per-year market share of one supplier nation inside a
    customer region for one part type — a conditional-aggregate ratio over
    a seven-table join; the CASE keeps it ONE aggregation pass, never two
    scans."""
    r = _table(spark, sf, "region").filter(F.col("r_name") == "ASIA")
    ncust = _table(spark, sf, "nation").join(
        F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey")
    ).select(F.col("n_nationkey").alias("cn_key"))
    nsup = _table(spark, sf, "nation").select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    p = _table(spark, sf, "part").filter(F.col("p_type") == "PROMO")
    li = _table(spark, sf, "lineitem")
    o = _table(spark, sf, "orders")
    cust = _table(spark, sf, "customer")
    sup = _table(spark, sf, "supplier")
    vol = F.col("__vol")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(cust, F.col("o_custkey") == cust.c_custkey)
        .join(F.broadcast(ncust), cust.c_nationkey == F.col("cn_key"))
        .join(sup, li.l_suppkey == sup.s_suppkey)
        .join(F.broadcast(nsup), sup.s_nationkey == F.col("sn_key"))
        .select(
            F.year("o_orderdate").alias("order_year"),
            _rev_dec().alias("__vol"),
            F.col("supp_nation"),
        )
        .groupBy("order_year")
        .agg(
            F.round(
                (
                    F.sum(F.when(F.col("supp_nation") == "NATION_3", vol).otherwise(
                        F.lit(0).cast("decimal(18,4)")
                    ))
                    / F.sum(vol)
                ).cast("double"),
                6,
            ).alias("mkt_share")
        )
        .orderBy("order_year")
    )


_register(
    "market_share",
    _market_share,
    "SELECT EXTRACT(year FROM o_orderdate) AS order_year, "
    "round(CAST(sum(CASE WHEN n2.n_name = 'NATION_3' "
    "THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)) "
    "ELSE CAST(0 AS DECIMAL(18,4)) END) "
    "/ sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE), 6) "
    "AS mkt_share "
    "FROM lineitem JOIN part ON l_partkey = p_partkey "
    "JOIN orders ON l_orderkey = o_orderkey "
    "JOIN customer ON o_custkey = c_custkey "
    "JOIN nation n1 ON c_nationkey = n1.n_nationkey "
    "JOIN region ON n1.n_regionkey = r_regionkey "
    "JOIN supplier ON l_suppkey = s_suppkey "
    "JOIN nation n2 ON s_nationkey = n2.n_nationkey "
    "WHERE r_name = 'ASIA' AND p_type = 'PROMO' "
    "GROUP BY 1 ORDER BY 1",
)


def _returned_item_customers(spark: SparkSession, sf: str) -> DataFrame:
    """Q10 shape: top-20 customers by lost revenue from returned items in
    one quarter — selective fact filters feed the join, grouped revenue,
    TakeOrderedAndProject cut."""
    li = _table(spark, sf, "lineitem").filter(F.col("l_returnflag") == "R")
    o = _table(spark, sf, "orders").filter(
        (F.col("o_orderdate") >= "1997-01-01") & (F.col("o_orderdate") < "1997-04-01")
    )
    cust = _table(spark, sf, "customer")
    n = _table(spark, sf, "nation")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(cust, F.col("o_custkey") == cust.c_custkey)
        .join(F.broadcast(n), cust.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(F.round(F.sum(_rev_dec()).cast("double"), 4).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


_register(
    "returned_item_customers",
    _returned_item_customers,
    "SELECT c_custkey, c_name, c_acctbal, n_name, "
    "round(CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE), 4) AS revenue "
    "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
    "JOIN customer ON o_custkey = c_custkey "
    "JOIN nation ON c_nationkey = n_nationkey "
    "WHERE l_returnflag = 'R' AND o_orderdate >= '1997-01-01' "
    "AND o_orderdate < '1997-04-01' "
    "GROUP BY 1, 2, 3, 4 ORDER BY revenue DESC, c_custkey ASC LIMIT 20",
)


def _customer_order_distribution(spark: SparkSession, sf: str) -> DataFrame:
    """Q13 shape: the double aggregate with an OUTER join — orders per
    customer INCLUDING zero-order customers (left join + count of the
    nullable key), then customers per order-count. The zero bucket only
    exists because the outer join survives both aggregations."""
    cust = _table(spark, sf, "customer")
    # the filter must be selective enough that SOME customers have no
    # qualifying orders — otherwise the zero bucket (the whole point of
    # the outer join) is unexercised; recent-orders-only achieves it
    o = _table(spark, sf, "orders").filter(
        F.col("o_orderdate") >= "2001-01-01"
    )
    per_cust = (
        cust.join(o, cust.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


_register(
    "customer_order_distribution",
    _customer_order_distribution,
    "SELECT c_count, count(*) AS custdist FROM ("
    "  SELECT c_custkey, count(o_orderkey) AS c_count "
    "  FROM customer LEFT JOIN orders ON c_custkey = o_custkey "
    "  AND o_orderdate >= '2001-01-01' "
    "  GROUP BY c_custkey"
    ") GROUP BY c_count ORDER BY custdist DESC, c_count DESC",
)


def _top_revenue_suppliers(spark: SparkSession, sf: str) -> DataFrame:
    """Q15 shape: supplier revenue in a quarter, keep the max-revenue
    supplier(s) — the scalar-subquery max rides back in as a broadcast
    1-row aggregate, not a window over everything."""
    li = _table(spark, sf, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-01-01") & (F.col("l_shipdate") < "1997-04-01")
    )
    sup = _table(spark, sf, "supplier")
    per_sup = (
        li.groupBy("l_suppkey")
        .agg(F.round(F.sum(_rev_dec()).cast("double"), 4).alias("total_revenue"))
    )
    mx = per_sup.agg(F.max("total_revenue").alias("__mx"))
    return (
        per_sup.crossJoin(F.broadcast(mx))
        .filter(F.col("total_revenue") == F.col("__mx"))
        .join(F.broadcast(sup), F.col("l_suppkey") == sup.s_suppkey)
        .select(
            F.col("s_suppkey"), F.col("s_name"), F.col("total_revenue")
        )
        .orderBy("s_suppkey")
    )


_register(
    "top_revenue_suppliers",
    _top_revenue_suppliers,
    "WITH rev AS ("
    "  SELECT l_suppkey, "
    "  round(CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE), 4) AS total_revenue "
    "  FROM lineitem WHERE l_shipdate >= '1997-01-01' "
    "  AND l_shipdate < '1997-04-01' GROUP BY l_suppkey"
    ") "
    "SELECT s_suppkey, s_name, total_revenue "
    "FROM rev JOIN supplier ON l_suppkey = s_suppkey "
    "WHERE total_revenue = (SELECT max(total_revenue) FROM rev) "
    "ORDER BY s_suppkey",
)


def _suppliers_kept_waiting(spark: SparkSession, sf: str) -> DataFrame:
    """Q21 shape (multi-EXISTS): suppliers whose line shipped late
    (>60 days after the order date) on a multi-supplier finished order
    where NO OTHER supplier shipped late — EXISTS becomes a left-semi,
    NOT EXISTS a left-anti, both on the (orderkey, ≠suppkey) pair; the
    correlated subqueries never materialize. This corpus has no
    receipt/commit dates, so lateness is ship-vs-order-date — the plan
    shape is the point."""
    o = _table(spark, sf, "orders").filter(F.col("o_orderstatus") == "F")
    li = _table(spark, sf, "lineitem").join(
        o.select("o_orderkey", "o_orderdate"),
        F.col("l_orderkey") == F.col("o_orderkey"),
    ).withColumn(
        "__late",
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"),
    )
    l1 = li.filter(F.col("__late")).select(
        F.col("l_orderkey").alias("k1"), F.col("l_suppkey").alias("s1")
    )
    others = li.select(
        F.col("l_orderkey").alias("k2"),
        F.col("l_suppkey").alias("s2"),
        F.col("__late").alias("late2"),
    )
    with_other = l1.join(
        others,
        (F.col("k1") == F.col("k2")) & (F.col("s1") != F.col("s2")),
        "left_semi",
    )
    sole_late = with_other.join(
        others.filter(F.col("late2")),
        (F.col("k1") == F.col("k2")) & (F.col("s1") != F.col("s2")),
        "left_anti",
    )
    sup = _table(spark, sf, "supplier")
    return (
        sole_late.groupBy("s1")
        .agg(F.count("*").alias("numwait"))
        .join(F.broadcast(sup), F.col("s1") == sup.s_suppkey)
        .select("s_name", "numwait")
        .orderBy(F.desc("numwait"), F.asc("s_name"))
        .limit(10)
    )


_register(
    "suppliers_kept_waiting",
    _suppliers_kept_waiting,
    "WITH li AS ("
    "  SELECT l_orderkey, l_suppkey, "
    "  l_shipdate > o_orderdate + INTERVAL 60 DAY AS late "
    "  FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
    "  WHERE o_orderstatus = 'F'"
    ") "
    "SELECT s_name, count(*) AS numwait "
    "FROM li l1 JOIN supplier ON l1.l_suppkey = s_suppkey "
    "WHERE l1.late "
    "AND EXISTS (SELECT 1 FROM li l2 WHERE l2.l_orderkey = l1.l_orderkey "
    "            AND l2.l_suppkey <> l1.l_suppkey) "
    "AND NOT EXISTS (SELECT 1 FROM li l3 WHERE l3.l_orderkey = l1.l_orderkey "
    "                AND l3.l_suppkey <> l1.l_suppkey AND l3.late) "
    "GROUP BY s_name ORDER BY numwait DESC, s_name ASC LIMIT 10",
)


def _dominant_part_suppliers(spark: SparkSession, sf: str) -> DataFrame:
    """Q20 shape (reference search_utils.py has no OLAP tier; this is the
    beyond-reference TPC-H sweep's last missing member) — nested
    IN + correlated scalar aggregate, decorrelated: suppliers who shipped
    MORE THAN 30% of a red part's total 1997 volume. The classic plan
    rewrites ``availqty > 0.5 * (SELECT sum(..))`` into one aggregate
    reused by a window — here the per-(part, supplier) rollup is computed
    ONCE, the per-part total rides a window over the already-aggregated
    pairs (same partitioning, no second scan of the fact), and the
    qualifying supplier keys reach the dim as a LEFT SEMI, never
    materializing the IN-list. Share test is pure integer arithmetic
    (``10·sup_qty > 3·part_total`` over bigint quantities) — bit-exact
    cross-engine, no float ratio."""
    part = (
        _table(spark, sf, "part")
        .filter(F.col("p_name").startswith("red"))
        .select("p_partkey")
    )
    li = _table(spark, sf, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-01-01")
        & (F.col("l_shipdate") < "1998-01-01")
    )
    red = li.join(
        F.broadcast(part), F.col("l_partkey") == F.col("p_partkey")
    ).select(
        "l_partkey", "l_suppkey", F.col("l_quantity").cast("bigint").alias("q")
    )
    pair = red.groupBy("l_partkey", "l_suppkey").agg(F.sum("q").alias("sup_qty"))
    dom = pair.withColumn(
        "part_total", F.sum("sup_qty").over(Window.partitionBy("l_partkey"))
    ).filter(10 * F.col("sup_qty") > 3 * F.col("part_total"))
    sup = _table(spark, sf, "supplier")
    nation = _table(spark, sf, "nation")
    return (
        sup.join(
            dom.select(F.col("l_suppkey").alias("__k")),
            F.col("s_suppkey") == F.col("__k"),
            "left_semi",
        )
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", "s_name", "n_name")
        .orderBy("s_suppkey")
    )


_register(
    "dominant_part_suppliers",
    _dominant_part_suppliers,
    "WITH red AS ("
    "  SELECT l_partkey, l_suppkey, CAST(l_quantity AS BIGINT) AS q "
    "  FROM lineitem JOIN part ON l_partkey = p_partkey "
    "  WHERE p_name LIKE 'red%' "
    "  AND l_shipdate >= '1997-01-01' AND l_shipdate < '1998-01-01'"
    "), pair AS ("
    "  SELECT l_partkey, l_suppkey, sum(q) AS sup_qty FROM red GROUP BY 1, 2"
    "), dom AS ("
    "  SELECT l_suppkey, sup_qty, "
    "  sum(sup_qty) OVER (PARTITION BY l_partkey) AS part_total FROM pair"
    ") "
    "SELECT s_suppkey, s_name, n_name "
    "FROM supplier JOIN nation ON s_nationkey = n_nationkey "
    "WHERE s_suppkey IN "
    "  (SELECT l_suppkey FROM dom WHERE 10 * sup_qty > 3 * part_total) "
    "ORDER BY s_suppkey",
)


def _top_terms_per_language(spark: SparkSession, sf: str) -> DataFrame:
    """Grouped top-k: top-3 terms per language by frequency. The explode
    stays map-side of the (term, lang) partial agg; the rank is a window
    over the small aggregated set, not the raw term stream — the standard
    two-phase shape for per-group leaderboards at scale."""
    docs = _docs(spark, sf)
    terms = docs.select(
        "lang",
        F.explode(
            F.filter(
                F.split(F.lower(F.col("text")), "[^a-z0-9]+"),
                lambda t: F.length(t) >= 4,
            )
        ).alias("term"),
    )
    counts = terms.groupBy("lang", "term").agg(F.count("*").alias("n"))
    w = Window.partitionBy("lang").orderBy(F.desc("n"), F.asc("term"))
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("lang", "term", "n", "rank")
        .orderBy("lang", "rank")
    )


_register(
    "top_terms_per_language",
    _top_terms_per_language,
    "WITH terms AS (SELECT lang, t.term FROM documents, "
    "UNNEST(string_split_regex(lower(text), '[^a-z0-9]+')) AS t(term) "
    "WHERE length(t.term) >= 4), "
    "counts AS (SELECT lang, term, count(*) AS n FROM terms GROUP BY 1, 2), "
    "ranked AS (SELECT lang, term, n, row_number() OVER "
    "(PARTITION BY lang ORDER BY n DESC, term ASC) AS rank FROM counts) "
    "SELECT lang, term, n, rank FROM ranked WHERE rank <= 3 ORDER BY lang, rank",
)


def _gopher_quality_signals(spark: SparkSession, sf: str) -> DataFrame:
    """Gopher-rule quality signals (public thresholds, Rae et al. 2021
    §A1.1) as pure higher-order column expressions — the standard
    pre-training repetition/format filter, JVM-side end to end, fully
    oracle-stated. One projection, no shuffle, no Python."""
    docs = _docs(spark, sf)
    sig = T.gopher_signal_cols("text")
    cols = [F.col("doc_id")] + [v.alias(k) for k, v in sig.items()]
    return docs.select(
        *cols, T.gopher_pass_col(sig).alias("keep")
    ).orderBy("doc_id")


_GOPHER_SIG = T.gopher_signal_sql("text")
_register(
    "gopher_quality_signals",
    _gopher_quality_signals,
    "SELECT doc_id, "
    + ", ".join(f"{v} AS {k}" for k, v in _GOPHER_SIG.items())
    + f", {T.gopher_pass_sql(_GOPHER_SIG)} AS keep "
    "FROM documents ORDER BY doc_id",
)


def _gopher_pass_rate(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus-level keep-rate of the Gopher filter — the number a data
    curator actually watches (one fused aggregate over the signal
    projection; signals never materialize)."""
    docs = _docs(spark, sf)
    sig = T.gopher_signal_cols("text")
    return docs.select(T.gopher_pass_col(sig).alias("keep")).agg(
        F.count("*").alias("n_docs"),
        F.sum(F.col("keep").cast("int")).alias("n_keep"),
        F.round(F.avg(F.col("keep").cast("double")) * 100, 6).alias("keep_pct"),
    )


_register(
    "gopher_pass_rate",
    _gopher_pass_rate,
    # CAST the sum to BIGINT: DuckDB integer sum() yields HUGEINT, which the
    # pandas bridge canonicalizes as float64 (the events_sessionize artifact)
    "SELECT count(*) AS n_docs, "
    f"CAST(sum(CAST({T.gopher_pass_sql(_GOPHER_SIG)} AS INT)) AS BIGINT) AS n_keep, "
    f"round(avg(CAST({T.gopher_pass_sql(_GOPHER_SIG)} AS DOUBLE)) * 100, 6) AS keep_pct "
    "FROM documents",
)


_MIX_TARGETS = {"en": 0.30, "zh": 0.20, "fr": 0.20, "de": 0.15, "es": 0.15}
_MIX_BUDGET = 10_000  # tokens


def _token_budget_mix(spark: SparkSession, sf: str) -> DataFrame:
    """Domain mixing to a token budget: target shares → per-stratum keep
    fractions (min(1, share·budget/available)) → deterministic md5
    stratified sample → kept-token accounting. One aggregate to size the
    strata (a handful of driver rows at any scale), one scan+filter to
    apply — the corpus-mixing pass of a pre-training pipeline."""
    docs = _docs(spark, sf).select(
        "doc_id", "lang", T.estimate_tokens_col("text").alias("tok")
    )
    fracs = curation.mix_fractions(
        docs, "lang", "tok", _MIX_TARGETS, total_tokens=_MIX_BUDGET
    )
    kept = curation.stratified_sample(
        docs, id_col="doc_id", strata_col="lang", fractions=fracs,
        default_fraction=0.0,
    )
    return (
        kept.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("tok").cast("long").alias("kept_tokens"),
        )
        .orderBy("lang")
    )


def _mix_case_sql() -> str:
    # CAST every share to DOUBLE: DuckDB parses bare 0.3 as DECIMAL, whose
    # exact arithmetic would diverge from Python's IEEE float threshold
    whens = " ".join(
        f"WHEN '{s}' THEN CAST({share} AS DOUBLE)"
        for s, share in sorted(_MIX_TARGETS.items())
    )
    return f"CASE lang {whens} ELSE CAST(0 AS DOUBLE) END"


_register(
    "token_budget_mix",
    _token_budget_mix,
    # threshold arithmetic mirrors mix_fractions + stratified_sample
    # EXACTLY (same IEEE op order; FLOOR = Python int() for positives)
    f"WITH toks AS (SELECT doc_id, lang, {T.estimate_tokens_sql('text')} AS tok "
    "FROM documents), "
    # WHERE a > 0 mirrors mix_fractions skipping empty/NULL-sum strata
    # (share*budget/0 would otherwise cap at 1.0 and keep everything)
    "avail AS (SELECT lang, sum(tok) AS a FROM toks GROUP BY 1), "
    f"thr AS (SELECT lang, CAST(FLOOR(LEAST(CAST(1 AS DOUBLE), "
    f"({_mix_case_sql()} * CAST({_MIX_BUDGET} AS DOUBLE)) / CAST(a AS DOUBLE)) "
    f"* {curation._SAMPLE_BUCKETS}) AS BIGINT) AS t FROM avail WHERE a > 0) "
    "SELECT k.lang, count(*) AS n_docs, CAST(sum(k.tok) AS BIGINT) AS kept_tokens "
    "FROM toks k JOIN thr ON k.lang = thr.lang "
    f"WHERE {curation.sample_bucket_sql('k.doc_id')} < thr.t "
    "GROUP BY 1 ORDER BY 1",
)


def _sequence_packing(spark: SparkSession, sf: str) -> DataFrame:
    """Greedy token-budget sequence packing (operators/packing.py): docs
    fold into fixed-capacity training sequences per md5 bucket — the LLM
    batch-prep step that drives padding to ~0. One shuffle on the portable
    bucket key; the sequential fold runs per bucket in applyInPandas; the
    oracle walks the identical fold as a recursive CTE."""
    from vectordb_etl_spark.operators.packing import pack_sequences

    docs = _docs(spark, sf).select(
        "doc_id", T.estimate_tokens_col("text").alias("n_tokens")
    )
    return pack_sequences(
        docs, id_col="doc_id", token_col="n_tokens", budget=512, buckets=8
    )


from vectordb_etl_spark.operators.packing import pack_sequences_sql  # noqa: E402

_register(
    "sequence_packing",
    _sequence_packing,
    pack_sequences_sql(
        "documents",
        id_expr="doc_id",
        token_expr=T.estimate_tokens_sql("text"),
        budget=512,
        buckets=8,
        out_id="doc_id",
    ),
)


def _events_gap_fill(spark: SparkSession, sf: str) -> DataFrame:
    """Time-series gap fill (sparse → dense): every (event_type, hour)
    bucket over each type's observed span, zero-filled where no events
    landed. The dense axis comes from `sequence()` + explode of ONE ROW PER
    TYPE (min/max aggregate) — milliseconds of work however large the fact
    table — then a left join back to the hourly partial aggregate. Never
    materialize a dense axis per-row; derive it from the tiny per-group
    bounds."""
    ev = _events(spark, sf)
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hour")
    ).agg(F.count("*").alias("n"))
    spans = hourly.groupBy("event_type").agg(
        F.min("hour").alias("lo"), F.max("hour").alias("hi")
    )
    axis = spans.select(
        "event_type",
        F.explode(
            F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))
        ).alias("hour"),
    )
    return (
        axis.join(hourly, ["event_type", "hour"], "left")
        .select(
            "event_type",
            "hour",
            F.coalesce("n", F.lit(0)).alias("n"),
        )
        .orderBy("event_type", "hour")
    )


_register(
    "events_gap_fill",
    _events_gap_fill,
    "WITH hourly AS (SELECT event_type, date_trunc('hour', ts) AS hour, count(*) AS n "
    "FROM events GROUP BY 1, 2), "
    "spans AS (SELECT event_type, min(hour) AS lo, max(hour) AS hi FROM hourly GROUP BY 1), "
    "axis AS (SELECT event_type, unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour FROM spans) "
    "SELECT a.event_type, a.hour, coalesce(h.n, 0) AS n "
    "FROM axis a LEFT JOIN hourly h ON a.event_type = h.event_type AND a.hour = h.hour "
    "ORDER BY a.event_type, a.hour",
)


def _events_gap_interpolate(spark: SparkSession, sf: str) -> DataFrame:
    """Time-series LINEAR INTERPOLATION (sparse → dense → filled): missing
    (event_type, hour) buckets get the linear blend of the nearest
    observed hourly averages on both sides — the standard sensor/metrics
    resample. Same tiny-bounds dense axis as events_gap_fill; the
    carry-forward/backward scan is two IGNORE-NULLS window passes over the
    dense axis (rows ∝ span·types, not events), all codegen."""
    from pyspark.sql.window import Window

    ev = _events(spark, sf)
    # hourly mean and the linear blend both run in EXACT integer
    # micro-units — float averaging lands on .xxxxxx5 boundaries whenever
    # a bucket count is a power of two, and a gap-of-two blend (frac = 1/2)
    # does the same; IEEE round() then flips per engine (surfaced by the
    # sf0.1 oracle sweep). All numerators are nonnegative, so
    # floor((2·num + den)/(2·den)) is half-up in both engines.
    iv = F.round(F.col("value") * F.lit(1_000_000.0)).cast("long")
    hourly = (
        ev.groupBy("event_type", F.date_trunc("hour", "ts").alias("hour"))
        .agg(F.sum(iv).alias("__s"), F.count("*").alias("__n"))
        .select(
            "event_type",
            "hour",
            F.expr("(2 * __s + __n) DIV (2 * __n)").alias("v"),
        )
    )
    spans = hourly.groupBy("event_type").agg(
        F.min("hour").alias("lo"), F.max("hour").alias("hi")
    )
    axis = spans.select(
        "event_type",
        F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))).alias("hour"),
    )
    dense = axis.join(hourly, ["event_type", "hour"], "left").withColumn(
        "vh", F.when(F.col("v").isNotNull(), F.unix_timestamp("hour"))
    )
    fwd = Window.partitionBy("event_type").orderBy("hour").rowsBetween(
        Window.unboundedPreceding, 0
    )
    bwd = Window.partitionBy("event_type").orderBy(F.desc("hour")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    filled = (
        dense.withColumn("pv", F.last("v", ignorenulls=True).over(fwd))
        .withColumn("ph", F.last("vh", ignorenulls=True).over(fwd))
        .withColumn("nv", F.last("v", ignorenulls=True).over(bwd))
        .withColumn("nh", F.last("vh", ignorenulls=True).over(bwd))
        .withColumn("hs", F.unix_timestamp("hour"))
    )
    interp_micro = (
        F.when(F.col("v").isNotNull(), F.col("v"))
        .when(F.col("ph").isNull(), F.col("nv"))
        .when(F.col("nh").isNull(), F.col("pv"))
        .otherwise(
            F.expr(
                "(2 * (pv * (nh - hs) + nv * (hs - ph)) + (nh - ph)) "
                "DIV (2 * (nh - ph))"
            )
        )
    )
    return filled.select(
        "event_type",
        "hour",
        F.col("v").isNotNull().alias("observed"),
        (interp_micro.cast("double") / F.lit(1_000_000.0)).alias("v_interp"),
    )


_register(
    "events_gap_interpolate",
    _events_gap_interpolate,
    "WITH hourly AS ("
    "  SELECT event_type, date_trunc('hour', ts) AS hour,"
    "         (2 * sum(CAST(round(value * 1000000.0) AS BIGINT)) + count(*))"
    "           // (2 * count(*)) AS v"
    "  FROM events GROUP BY 1, 2"
    "), spans AS ("
    "  SELECT event_type, min(hour) AS lo, max(hour) AS hi FROM hourly GROUP BY 1"
    "), axis AS ("
    "  SELECT event_type, unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour"
    "  FROM spans"
    "), dense AS ("
    "  SELECT a.event_type, a.hour, h.v,"
    "         CASE WHEN h.v IS NOT NULL"
    "              THEN CAST(epoch(a.hour) AS BIGINT) END AS vh"
    "  FROM axis a LEFT JOIN hourly h"
    "    ON a.event_type = h.event_type AND a.hour = h.hour"
    "), filled AS ("
    "  SELECT *, CAST(epoch(hour) AS BIGINT) AS hs,"
    "    last_value(v IGNORE NULLS) OVER fw AS pv,"
    "    last_value(vh IGNORE NULLS) OVER fw AS ph,"
    "    last_value(v IGNORE NULLS) OVER bw AS nv,"
    "    last_value(vh IGNORE NULLS) OVER bw AS nh"
    "  FROM dense"
    "  WINDOW fw AS (PARTITION BY event_type ORDER BY hour"
    "                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),"
    "         bw AS (PARTITION BY event_type ORDER BY hour DESC"
    "                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
    ") "
    "SELECT event_type, hour, v IS NOT NULL AS observed, "
    "CAST(CASE WHEN v IS NOT NULL THEN v "
    "WHEN ph IS NULL THEN nv WHEN nh IS NULL THEN pv "
    "ELSE (2 * (pv * (nh - hs) + nv * (hs - ph)) + (nh - ph)) "
    "// (2 * (nh - ph)) "
    "END AS DOUBLE) / 1000000.0 AS v_interp FROM filled",
)


def _cumulative_unique_users(spark: SparkSession, sf: str) -> DataFrame:
    """Cumulative distinct users per day — the SCALABLE form. A naive
    `count(DISTINCT) OVER (ORDER BY day)` re-deduplicates the whole prefix
    per frame (quadratic state, driver-killing at 100 TB). Instead: each
    user contributes on exactly their FIRST day (one groupBy), daily
    first-touch counts aggregate (tiny), and a running sum over days gives
    the cumulative distinct — two shuffles on bounded keys, no per-frame
    dedup."""
    ev = _events(spark, sf)
    first_day = ev.groupBy("user_id").agg(
        F.min(F.date_trunc("day", "ts")).alias("day")
    )
    daily_new = first_day.groupBy("day").agg(F.count("*").alias("new_users"))
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return (
        daily_new.withColumn("cum_users", F.sum("new_users").over(w))
        .select("day", "new_users", "cum_users")
        .orderBy("day")
    )


_register(
    "cumulative_unique_users",
    _cumulative_unique_users,
    # DuckDB's date_trunc('day', ...) yields DATE; cast to TIMESTAMP to
    # canonicalize like Spark's timestamp day bucket
    "WITH fd AS (SELECT user_id, CAST(min(date_trunc('day', ts)) AS TIMESTAMP) AS day "
    "FROM events GROUP BY 1), "
    "dn AS (SELECT day, count(*) AS new_users FROM fd GROUP BY 1) "
    "SELECT day, new_users, CAST(sum(new_users) OVER "
    "(ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_users "
    "FROM dn ORDER BY day",
)


def _integrity_report(spark: SparkSession, sf: str) -> DataFrame:
    """dbt-test-style relational validation in ONE pass per check: orphan
    foreign keys via left-anti counts, primary-key duplicates via
    groupBy-having. Each check is a tiny aggregate over one join; the
    union of 1-row results is the report (zeros = healthy). At 100 TB each
    check shuffles only its own key column pair — validation cost scales
    with the checked relation, not the table width."""
    from vectordb_etl_spark.store.validation import (
        integrity_report,
        orphan_check,
        unique_check,
    )

    def orphans(name, child, ckey, parent, pkey):
        return orphan_check(
            name, _table(spark, sf, child), ckey, _table(spark, sf, parent), pkey
        )

    def dup_pk(name, table, key):
        return unique_check(name, _table(spark, sf, table), key)

    checks = [
        orphans("orders_customer_fk", "orders", "o_custkey", "customer", "c_custkey"),
        orphans("lineitem_orders_fk", "lineitem", "l_orderkey", "orders", "o_orderkey"),
        orphans("lineitem_part_fk", "lineitem", "l_partkey", "part", "p_partkey"),
        orphans("lineitem_supplier_fk", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
        orphans("customer_nation_fk", "customer", "c_nationkey", "nation", "n_nationkey"),
        orphans("supplier_nation_fk", "supplier", "s_nationkey", "nation", "n_nationkey"),
        orphans("nation_region_fk", "nation", "n_regionkey", "region", "r_regionkey"),
        dup_pk("orders_pk_unique", "orders", "o_orderkey"),
        dup_pk("customer_pk_unique", "customer", "c_custkey"),
        dup_pk("part_pk_unique", "part", "p_partkey"),
        dup_pk("supplier_pk_unique", "supplier", "s_suppkey"),
    ]
    return integrity_report(checks)


_register(
    "integrity_report",
    _integrity_report,
    " UNION ALL ".join(
        [
            # NOT EXISTS + child-NULL filter, NOT `NOT IN`: NOT IN returns
            # zero violations the moment any parent key is NULL (3-valued
            # logic), and the operator's dbt convention excludes NULL
            # child keys (store/validation.py orphan_check)
            "SELECT 'orders_customer_fk' AS check_name, count(*) AS violations "
            "FROM orders o WHERE o.o_custkey IS NOT NULL AND NOT EXISTS "
            "(SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)",
            "SELECT 'lineitem_orders_fk', count(*) FROM lineitem l "
            "WHERE l.l_orderkey IS NOT NULL AND NOT EXISTS "
            "(SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)",
            "SELECT 'lineitem_part_fk', count(*) FROM lineitem l "
            "WHERE l.l_partkey IS NOT NULL AND NOT EXISTS "
            "(SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey)",
            "SELECT 'lineitem_supplier_fk', count(*) FROM lineitem l "
            "WHERE l.l_suppkey IS NOT NULL AND NOT EXISTS "
            "(SELECT 1 FROM supplier s WHERE s.s_suppkey = l.l_suppkey)",
            "SELECT 'customer_nation_fk', count(*) FROM customer c "
            "WHERE c.c_nationkey IS NOT NULL AND NOT EXISTS "
            "(SELECT 1 FROM nation n WHERE n.n_nationkey = c.c_nationkey)",
            "SELECT 'supplier_nation_fk', count(*) FROM supplier s "
            "WHERE s.s_nationkey IS NOT NULL AND NOT EXISTS "
            "(SELECT 1 FROM nation n WHERE n.n_nationkey = s.s_nationkey)",
            "SELECT 'nation_region_fk', count(*) FROM nation n "
            "WHERE n.n_regionkey IS NOT NULL AND NOT EXISTS "
            "(SELECT 1 FROM region r WHERE r.r_regionkey = n.n_regionkey)",
            "SELECT 'orders_pk_unique', count(*) FROM "
            "(SELECT o_orderkey FROM orders GROUP BY 1 HAVING count(*) > 1)",
            "SELECT 'customer_pk_unique', count(*) FROM "
            "(SELECT c_custkey FROM customer GROUP BY 1 HAVING count(*) > 1)",
            "SELECT 'part_pk_unique', count(*) FROM "
            "(SELECT p_partkey FROM part GROUP BY 1 HAVING count(*) > 1)",
            "SELECT 'supplier_pk_unique', count(*) FROM "
            "(SELECT s_suppkey FROM supplier GROUP BY 1 HAVING count(*) > 1)",
        ]
    ),
)


def _json_props_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Semi-structured JSON processing — the events.props column parsed
    with a TYPED schema (from_json, the idiomatic Spark path: one parse,
    typed field access, malformed rows → NULL rather than error) and
    aggregated per event type. A core analytics-engine surface the rest
    of the suite didn't exercise; at scale the parse is a codegen-adjacent
    expression evaluated once per row, no Python."""
    from pyspark.sql.types import LongType, StructField, StructType

    ev = _events(spark, sf).select("event_type", "props")
    schema = StructType([StructField("k", LongType())])
    parsed = ev.select(
        "event_type", F.from_json("props", schema).getField("k").alias("k")
    )
    agg = parsed.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.count("k").alias("n_with_k"),
        F.sum("k").alias("sum_k"),
        F.min("k").alias("min_k"),
        F.max("k").alias("max_k"),
    )
    # avg as micro-unit bigint — integer arithmetic only, so the hash is
    # bit-stable across engines (round(avg(),6) of a DOUBLE is not). The
    # pmod trick makes Spark's truncating DIV match DuckDB's flooring //
    # even for negative sums:
    # (a - pmod(a, b)) is exactly divisible by b and pmod is always >= 0,
    # so the quotient IS floor(a / b).
    avg_micro = F.expr(
        "CASE WHEN n_with_k = 0 THEN NULL ELSE "
        "(1000000 * sum_k - pmod(1000000 * sum_k, n_with_k)) "
        "DIV n_with_k END"
    )
    return agg.select(
        "event_type",
        "n_events",
        "n_with_k",
        "sum_k",
        avg_micro.cast("bigint").alias("avg_k_micro"),
        "min_k",
        "max_k",
    )


_register(
    "json_props_stats",
    _json_props_stats,
    "WITH agg AS (SELECT event_type, count(*) AS n_events, "
    "count(CAST(props->>'k' AS BIGINT)) AS n_with_k, "
    "sum(CAST(props->>'k' AS BIGINT)) AS sum_k, "
    "min(CAST(props->>'k' AS BIGINT)) AS min_k, "
    "max(CAST(props->>'k' AS BIGINT)) AS max_k "
    "FROM events GROUP BY event_type) "
    # sum_k / avg_k_micro are CAST AS BIGINT: DuckDB sum(BIGINT) is
    # HUGEINT → float64 in the driver's pandas frame → hash-red vs
    # Spark's int64.
    "SELECT event_type, n_events, n_with_k, "
    "CAST(sum_k AS BIGINT) AS sum_k, "
    "CAST(CASE WHEN n_with_k = 0 THEN NULL "
    "ELSE (1000000 * sum_k) // n_with_k END AS BIGINT) AS avg_k_micro, "
    "min_k, max_k FROM agg",
)


def _retention_cohorts(spark: SparkSession, sf: str) -> DataFrame:
    """Classic product-analytics retention matrix: cohort = a user's first
    event day; cell (cohort_day, day_offset) counts distinct users of that
    cohort active offset days later. Scale shape: first-touch is one
    user-keyed aggregation; the join back is user-keyed (co-partitioned
    with the agg output under AQE); the distinct collapses (cohort,
    offset, user) BEFORE the final count so the matrix agg sees one row
    per user-cell, never raw events."""
    ev = _events(spark, sf).select("user_id", F.to_date("ts").alias("d"))
    first = ev.groupBy("user_id").agg(F.min("d").alias("cohort_day"))
    return (
        ev.join(first, "user_id")
        .select(
            "cohort_day",
            F.datediff("d", F.col("cohort_day")).alias("day_offset"),
            "user_id",
        )
        .distinct()
        .groupBy("cohort_day", "day_offset")
        .agg(F.count("*").alias("n_users"))
        # midnight-UTC timestamp, not DATE: Spark DATE reaches pandas as
        # object-dtype datetime.date while DuckDB DATE arrives datetime64 —
        # a dtype split the driver's value hash sees (BASELINE.md §8). TIMESTAMP lands kind-'M' on BOTH conversion
        # paths, making the driver_sim repr-strict with no exception.
        .withColumn("cohort_day", F.col("cohort_day").cast("timestamp"))
        .select("cohort_day", "day_offset", "n_users")
    )


_register(
    "retention_cohorts",
    _retention_cohorts,
    "WITH ev AS (SELECT user_id, CAST(ts AS DATE) AS d FROM events), "
    "first AS (SELECT user_id, min(d) AS cohort_day FROM ev GROUP BY 1), "
    "cells AS (SELECT DISTINCT cohort_day, "
    "  date_diff('day', cohort_day, d) AS day_offset, ev.user_id "
    "  FROM ev JOIN first USING (user_id)) "
    "SELECT CAST(cohort_day AS TIMESTAMP) AS cohort_day, "
    "CAST(day_offset AS INT) AS day_offset, "
    "count(*) AS n_users FROM cells GROUP BY 1, 2",
)


def _purchasers_without_errors(spark: SparkSession, sf: str) -> DataFrame:
    """Set operators as first-class shapes: EXCEPT and INTERSECT over user
    sets (purchasers minus error-users; both-kinds users). Spark plans
    except/intersect as left-anti / left-semi over hash-distinct inputs —
    one shuffle each on the already-deduped key sets, not on raw events."""
    ev = _events(spark, sf)
    purchasers = ev.filter(F.col("event_type") == "purchase").select("user_id").distinct()
    erroring = ev.filter(F.col("event_type") == "error").select("user_id").distinct()
    # subtract = EXCEPT DISTINCT → LeftAnti join (exceptAll would plan the
    # multiplicity-preserving sum/replicate-rows scheme — pointless overhead
    # on inputs that are already distinct key sets)
    clean = purchasers.subtract(erroring).select(
        "user_id", F.lit("purchase_only").alias("cohort")
    )
    both = purchasers.intersect(erroring).select(
        "user_id", F.lit("both").alias("cohort")
    )
    return clean.unionByName(both).orderBy("cohort", "user_id")


_register(
    "purchasers_without_errors",
    _purchasers_without_errors,
    "WITH p AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'), "
    "e AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'error') "
    "SELECT user_id, 'purchase_only' AS cohort FROM (SELECT user_id FROM p EXCEPT SELECT user_id FROM e) "
    "UNION ALL "
    "SELECT user_id, 'both' AS cohort FROM (SELECT user_id FROM p INTERSECT SELECT user_id FROM e) "
    "ORDER BY cohort, user_id",
)


def _event_type_pivot(spark: SparkSession, sf: str) -> DataFrame:
    """PIVOT: per-user event-type counts as columns. With the pivot values
    enumerated explicitly, Spark compiles this to ONE partial+final
    aggregate of conditional counts (no extra shuffle vs a plain groupBy,
    no two-pass value discovery) — the same conditional-aggregation the
    oracle states. Output bounded to the top 20 users by total activity."""
    ev = _events(spark, sf)
    kinds = ["click", "view", "purchase", "signup", "error"]
    pivoted = (
        ev.groupBy("user_id")
        .pivot("event_type", kinds)
        .count()
        .na.fill(0, kinds)
    )
    total = sum(F.col(k) for k in kinds)
    return (
        pivoted.withColumn("total", total.cast("bigint"))
        .orderBy(F.desc("total"), F.asc("user_id"))
        .limit(20)
    )


_register(
    "event_type_pivot",
    _event_type_pivot,
    # total = sum of the ENUMERATED kinds (not count(*)) so Spark and the
    # oracle stay aligned by construction even if a future testdata
    # generation adds a sixth event_type
    "SELECT user_id, "
    "count(*) FILTER (event_type = 'click') AS click, "
    "count(*) FILTER (event_type = 'view') AS view, "
    "count(*) FILTER (event_type = 'purchase') AS purchase, "
    "count(*) FILTER (event_type = 'signup') AS signup, "
    "count(*) FILTER (event_type = 'error') AS error, "
    "count(*) FILTER (event_type IN ('click','view','purchase','signup','error')) AS total "
    "FROM events GROUP BY user_id "
    "ORDER BY total DESC, user_id ASC LIMIT 20",
)


def _incremental_agg_merge(spark: SparkSession, sf: str) -> DataFrame:
    """Materialized-view delta maintenance
    (operators/incremental.py:merge_states): per-customer order stats kept
    current by folding a new batch's compact aggregate state into the
    stored state — merge(agg(history), agg(batch)), never a history
    rescan. The Spark side runs the real split-at-1997-01-01 + merge
    path; the DuckDB oracle is the one-shot full recompute, so the hash
    check proves the merge identity itself (count merges by SUM — the
    classic trap — and sum/min/max by themselves). Money is quantized to
    cents ONCE at the leaf so both the split and one-shot paths sum the
    same integers in any order. Scale: the merge shuffle moves two
    compact per-key tables, not the fact history."""
    from vectordb_etl_spark.operators.incremental import (
        aggregate_state,
        merge_states,
    )

    orders = _table(spark, sf, "orders").withColumn(
        "cents", F.round(F.col("o_totalprice") * 100, 0).cast("bigint")
    )
    cut = F.lit("1997-01-01").cast("timestamp")
    measures = {
        "n_orders": ("count", "o_orderkey"),
        "sum_cents": ("sum", "cents"),
        "min_cents": ("min", "cents"),
        "max_cents": ("max", "cents"),
    }
    hist = aggregate_state(
        orders.filter(F.col("o_orderdate") < cut), ["o_custkey"], measures
    )
    batch = aggregate_state(
        orders.filter(F.col("o_orderdate") >= cut), ["o_custkey"], measures
    )
    return merge_states(hist, batch, ["o_custkey"], measures).orderBy(
        "o_custkey"
    )


_register(
    "incremental_agg_merge",
    _incremental_agg_merge,
    # one-shot full recompute — equality with the Spark merge path IS the
    # decomposability proof
    "SELECT o_custkey, CAST(count(o_orderkey) AS BIGINT) AS n_orders, "
    "CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents, "
    "CAST(min(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS min_cents, "
    "CAST(max(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS max_cents "
    "FROM orders GROUP BY o_custkey ORDER BY o_custkey",
)


def _dynamic_meta_docs(spark: SparkSession, sf: str) -> DataFrame:
    """Documents carrying columns the store schema does not declare
    (``lang``, ``n_chars``, ``rating``, ``origin``) — the dynamic-field feed."""
    return _docs(spark, sf).select(
        "doc_id",
        "text",
        "lang",
        "n_chars",
        (F.col("n_chars") % 5).cast("string").alias("rating"),
        F.upper(F.col("lang")).alias("origin"),
    )


def _dynamic_meta_readback(store) -> DataFrame:
    """Read the dynamic fields back through a filter string that names them
    directly, as a Milvus ``expr`` would."""
    from vectordb_etl_spark.functions.filter_expr import parse_filter

    back = store.read()
    pred = parse_filter('rating == "3" and n_chars > 300', columns=back.columns)
    return back.filter(pred).select(
        "doc_id",
        F.col("meta")["rating"].alias("rating"),
        F.col("meta")["origin"].alias("origin"),
        F.col("meta")["n_chars"].cast("long").alias("n_chars"),
    )


def _dynamic_meta_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    """enable_dynamic_field parity END-TO-END (reference
    modules/milvus_store.py:62-66): documents arrive with loader-specific
    extra columns the fixed schema doesn't declare (`rating`, `origin` —
    plus `lang`/`n_chars` themselves, which are not store schema fields),
    fold into the `meta: map<string,string>` column at insert
    (store.insert_documents(dynamic_meta=True) → fold_dynamic_meta),
    round-trip through the partitioned parquet write, and come back
    through a Milvus-style filter STRING that names the dynamic fields
    DIRECTLY (`rating == "3" and n_chars > 300` — bare identifiers
    resolve into the meta map with numeric cast-back,
    functions/filter_expr.py). Output reads the dynamic values back out
    of the map. Scale shape: the fold is pure map expressions (no UDF, no
    shuffle); the write is the store's one partitioned job; the read-back
    filter is a map access over the pruned scan."""
    from vectordb_etl_spark.config import StoreConfig
    from vectordb_etl_spark.store.collections import CollectionStore

    docs = _dynamic_meta_docs(spark, sf)

    def body(tmp: str) -> DataFrame:
        store = CollectionStore(spark, StoreConfig(warehouse_dir=f"{tmp}/w"))
        store.insert_documents(docs, embed=False, dynamic_meta=True)
        return _dynamic_meta_readback(store)

    return _scratch(spark, body)


_register(
    "dynamic_meta_roundtrip",
    _dynamic_meta_roundtrip,
    "SELECT doc_id, CAST(n_chars % 5 AS VARCHAR) AS rating, "
    "upper(lang) AS origin, n_chars "
    "FROM documents WHERE n_chars % 5 = 3 AND n_chars > 300",
)


def _dynamic_meta_key_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Dynamic-schema introspection (CollectionStore.dynamic_field_stats
    shape): with enable_dynamic_field there is no declared schema to
    consult, so "which dynamic keys exist, on how many rows, with how
    many distinct values" is the first question a $meta user asks before
    filtering. Exercises fold_dynamic_meta + the map explode-aggregate:
    one map-side fold, one explode, one combinable aggregation — no UDF,
    key cardinality (not corpus size) bounds the result."""
    from vectordb_etl_spark.store.collections import fold_dynamic_meta

    return (
        fold_dynamic_meta(_dynamic_meta_docs(spark, sf))
        .select(F.explode("meta").alias("key", "value"))
        .groupBy("key")
        .agg(
            F.count("*").alias("n_rows"),
            F.count_distinct("value").alias("n_values"),
        )
        .orderBy("key")
    )


_register(
    "dynamic_meta_key_stats",
    _dynamic_meta_key_stats,
    "WITH s AS ("
    "SELECT 'lang' AS key, lang AS value FROM documents "
    "UNION ALL SELECT 'n_chars', CAST(n_chars AS VARCHAR) FROM documents "
    "UNION ALL SELECT 'origin', upper(lang) FROM documents "
    "UNION ALL SELECT 'rating', CAST(n_chars % 5 AS VARCHAR) FROM documents) "
    "SELECT key, count(*) AS n_rows, count(DISTINCT value) AS n_values "
    "FROM s GROUP BY key ORDER BY key",
)


def _streaming_dynamic_meta(spark: SparkSession, sf: str) -> DataFrame:
    """enable_dynamic_field through the STREAMING insert path (reference
    milvus_store.py:62-66 — the dynamic field applies to EVERY insert
    path): the same documents-with-extra-columns feed as
    dynamic_meta_roundtrip lands as files, flows through
    write_collection_stream(dynamic_meta=True) — foreachBatch reusing the
    batch sink, so the fold IS fold_dynamic_meta — and reads back through
    the same dynamic-field filter string. The oracle is the batch
    roundtrip's SQL verbatim: stream-landed ≡ batch-inserted, hash-equal.
    Scale shape: per-micro-batch cost is the batch sink's (map-only fold +
    one partitioned write); no extra state, no extra shuffle."""
    from vectordb_etl_spark.config import StoreConfig
    from vectordb_etl_spark.store.collections import CollectionStore
    from vectordb_etl_spark.streaming.ingest import (
        run_available_now,
        write_collection_stream,
    )

    docs = _dynamic_meta_docs(spark, sf)

    def body(tmp: str) -> DataFrame:
        stream = _land(docs, tmp, files=None)
        store = CollectionStore(spark, StoreConfig(warehouse_dir=f"{tmp}/w"))
        run_available_now(write_collection_stream(
            stream, store, f"{tmp}/ckpt", dynamic_meta=True,
        ))
        return _dynamic_meta_readback(store)

    return _scratch(spark, body)


_register(
    "streaming_dynamic_meta",
    _streaming_dynamic_meta,
    # batch roundtrip's oracle verbatim: the stream path must land the
    # exact same fold
    "SELECT doc_id, CAST(n_chars % 5 AS VARCHAR) AS rating, "
    "upper(lang) AS origin, n_chars "
    "FROM documents WHERE n_chars % 5 = 3 AND n_chars > 300",
)


# The driver verifies the FIRST 50 entries of queries()/oracle_sql(), so
# the registry is served in rotation order: the stalest tier, recomputed
# from the committed CORRECTNESS_r*.json scoreboards, leads.
def rotation_order(
    names: list[str], rounds_dir: Path | None = None
) -> tuple[list[str], dict[str, int], dict[str, int]]:
    """Driver-check rotation for the given registered-query names.

    Returns (order, last_checked_round, red_round). The order is:

        1. driver-RED rows, newest red first (must re-check green after
           their fix)
        2. never-driver-checked rows (new queries), alphabetical
        3. everything else, oldest last check first, then by name

    With a head-50 driver window this re-checks every query within
    ceil(N/50) scoreboards. ``rounds_dir`` overrides where the
    CORRECTNESS_r*.json files are read from (default: the repo root).
    """
    last: dict[str, int] = {n: 0 for n in names}
    red: dict[str, int] = {}
    repo = rounds_dir or Path(__file__).resolve().parent
    # Numeric round sort: lexicographic glob order would put
    # CORRECTNESS_r100 before CORRECTNESS_r99 and let an older green clear
    # a newer red.
    rounds = sorted(
        repo.glob("CORRECTNESS_r*.json"),
        key=lambda p: int(p.stem.split("_r")[1]),
    )
    for path in rounds:
        rnd = int(path.stem.split("_r")[1])
        data = json.loads(path.read_text())
        for q, v in data.items():
            if q not in last:
                continue  # renamed/retired query
            ok = (
                v.get("rows_match")
                and v.get("schema_match")
                and v.get("hash_match")
            )
            # A verdict only updates state if it is at least as recent as
            # the newest one seen for this query (guards duplicate files).
            if rnd < last[q]:
                continue
            last[q] = rnd
            if ok:
                red.pop(q, None)
            else:
                red[q] = rnd
    reds = sorted(red, key=lambda n: (-red[n], n))
    never = sorted(n for n in names if last[n] == 0 and n not in red)
    rest = sorted(
        (n for n in names if last[n] > 0 and n not in red),
        key=lambda n: (last[n], n),
    )
    return reds + never + rest, last, red


# (names tuple) -> order. The first computation in a process wins, so a
# queries()/oracle_sql() pair agrees on the driver's head-50 even if a
# scoreboard lands between the two calls.
_ROTATION_CACHE: dict[tuple[str, ...], tuple[str, ...]] = {}


def _ordered(mapping: dict) -> dict:
    names = tuple(mapping)
    order = _ROTATION_CACHE.get(names)
    if order is None:
        try:
            order = tuple(rotation_order(list(names))[0])
        except (OSError, ValueError, KeyError):
            order = names  # unreadable scoreboards: plain registry order
        order = _ROTATION_CACHE.setdefault(names, order)
    return {k: mapping[k] for k in order}


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return _ordered(_QUERIES)


def oracle_sql() -> dict[str, str]:
    return _ordered(_ORACLES)

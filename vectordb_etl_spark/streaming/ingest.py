"""Streaming ingestion — the Auto-Loader pattern over a landing directory
(SURVEY.md §2.10). Batch and stream share the same operators: everything in
the ETL path (clean → chunk → embed) is stateless/map-side, so the exact
same column expressions and pandas UDFs run under ``readStream`` unchanged.
Stateful pieces differ by design:

- C6 exact dedup → ``withWatermark + dropDuplicates`` (state bounded by the
  watermark; at 100 TB/day the md5 key-space state would otherwise grow
  forever).
- A5-style counts → watermarked tumbling-window aggregates.
- sessionization → ``applyInPandasWithState`` (custom stateful operator with
  per-key timeout, the streaming twin of the batch lag/running-sum version in
  ``__spark_entry__._sessionize``).

Runner contract: every sink builder here (``*_collection_stream``,
``*_ingest_stream``) returns its configured, NOT yet started
``DataStreamWriter``. A continuous deployment picks its own trigger and
calls ``.start()``; a bounded run (backfill, test, oracle query) passes the
writer to :func:`run_available_now`, which drains what is available, raises
a failed query's exception at once, leaves no active query behind and
returns the per-micro-batch progress records.

Scale notes: file-source streaming scales by listing increments
(``maxFilesPerTrigger`` backpressure); foreachBatch writes reuse the batch
collection sink so the parquet layout (partitioned by ``collection``) is
identical for batch and streaming writers — readers can't tell which path
produced a row.
"""

from __future__ import annotations

from typing import Iterable

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from vectordb_etl_spark.config import ChunkerConfig, EmbeddingConfig
from vectordb_etl_spark.functions import cleaning, language
from vectordb_etl_spark.operators import chunker
from vectordb_etl_spark.store.collections import replace_dir


def run_available_now(writer: DataStreamWriter) -> list[dict]:
    """Run ``writer`` under the ``availableNow`` trigger until everything
    available at start has been processed, and return the query's
    ``recentProgress`` (one record per micro-batch: ``batchId``,
    ``numInputRows``, ``durationMs``, state-operator metrics).

    A failed query raises its ``StreamingQueryException`` from the wait as
    soon as it dies, never after a timeout. The query is stopped on every
    exit path, so ``spark.streams.active`` holds nothing of it afterwards."""
    q = writer.trigger(availableNow=True).start()
    try:
        q.awaitTermination()
    finally:
        q.stop()
    return q.recentProgress


def _foreach_batch(stream: DataFrame, checkpoint_dir: str, sink) -> DataStreamWriter:
    return (
        stream.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(sink)
    )


def _sketch_stream(
    stream_df: DataFrame, checkpoint_dir: str, path: str, merge
) -> DataStreamWriter:
    """The foreachBatch writer of the sketch sinks. An empty batch is
    skipped. Otherwise ``merge(batch_df, batch_id, old)`` gets the
    persisted table at ``path`` as ``old`` (None before the first batch),
    and the frame it returns is published at ``path`` through
    :func:`~vectordb_etl_spark.store.collections.replace_dir`; a None
    result publishes nothing, so the table is left as it was."""

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        with replace_dir(spark, path) as (staging, exists):
            old = spark.read.parquet(path) if exists else None
            out = merge(batch_df, batch_id, old)
            if out is not None:
                out.write.mode("overwrite").parquet(staging)

    return _foreach_batch(stream_df, checkpoint_dir, _sink)


def read_document_stream(
    spark: SparkSession,
    landing_dir: str,
    schema: StructType | str,
    fmt: str = "parquet",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source stream over a landing directory. New files are discovered
    incrementally; schema must be explicit (streaming never infers)."""
    reader = spark.readStream.format(fmt).schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.load(landing_dir).withColumn(
        "ingest_ts", F.current_timestamp()
    )


def transform_stream(
    docs: DataFrame,
    chunker_config: ChunkerConfig | None = None,
    embedding_config: EmbeddingConfig | None = None,
    text_col: str = "text",
) -> DataFrame:
    """clean → language → chunk → hash-embed, all stateless — identical
    operators to the batch path (that's the point)."""
    from vectordb_etl_spark.embeddings import with_embeddings

    cleaned = docs.withColumn(text_col, cleaning.clean_text_col(text_col)).withColumn(
        "language", language.detect_language_content_col(text_col)
    )
    chunks = chunker.chunk_documents(cleaned, chunker_config, text_col=text_col)
    return with_embeddings(chunks, config=embedding_config)


def dedup_stream(
    chunks: DataFrame,
    watermark: str = "10 minutes",
    ts_col: str = "ingest_ts",
    text_col: str = "text",
) -> DataFrame:
    """C6 under streaming: first-wins within the watermark horizon. Arrival
    order replaces the reference's insertion order (chunker.py:192-201) —
    exactly-once-per-key only within the state window, which is the bounded-
    state contract any 100 TB stream needs.

    Uses ``dropDuplicatesWithinWatermark`` (Spark 3.5+): plain
    ``dropDuplicates(subset)`` only evicts state when the event-time column
    is PART of the subset, so keying on ``text_hash`` alone would grow state
    forever; the WithinWatermark variant gives key-only dedup with
    watermark-bounded eviction."""
    return (
        chunks.withColumn("text_hash", chunker.normalized_hash_col(text_col))
        .withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(["text_hash"])
    )


def write_collection_stream(
    chunks: DataFrame,
    store,
    checkpoint_dir: str,
    split_by_folder: bool = True,
    dynamic_meta: bool = False,
) -> DataStreamWriter:
    """S8 as a streaming sink: foreachBatch reuses the batch collection sink,
    so layout/truncation/naming rules are shared with the batch path.
    ``dynamic_meta=True`` folds non-schema columns into the ``meta`` map
    exactly like batch insert — the reference's ``enable_dynamic_field``
    applies to EVERY insert path (milvus_store.py:62-66), so a
    stream-landed document with extra fields must land identically to the
    same document batch-inserted."""

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        store.insert_documents(
            batch_df.drop("ingest_ts", "text_hash"),
            split_by_folder=split_by_folder,
            embed=False,  # embedding already applied upstream
            mode="append",
            dynamic_meta=dynamic_meta,
            count_rows=False,  # counts discarded — skip the extra
            # per-micro-batch lineage execution
        )

    return _foreach_batch(chunks, checkpoint_dir, _sink)


def upsert_collection_stream(
    chunks: DataFrame,
    store,
    checkpoint_dir: str,
    key_col: str = "chunk_id",
    split_by_folder: bool = True,
    version_col: str | None = None,
    dynamic_meta: bool = False,
) -> DataStreamWriter:
    """Streaming UPSERT sink: foreachBatch routes each micro-batch through
    the store's copy-on-write merge, so a re-ingested document REPLACES its
    previous chunks instead of duplicating them — the exactly-once-per-key
    contract a CDC-style feed needs. foreachBatch is the right tool because
    the merge is a multi-job batch operation (anti-join + partition
    rewrite), not a row-append; Spark guarantees at-least-once batch
    delivery and the key-merge makes redelivery idempotent — together:
    effectively exactly-once. Cost per batch scales with the AFFECTED
    collections, so partition the landing data so a batch touches few.
    NOTE: the file stream source lists the landing dir's top level only —
    land batches as sibling FILES (append), not nested subdirectories."""

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        # one winner per key WITHIN the batch too: a single trigger can
        # pick up several landing files carrying successive versions of the
        # same key, and the store merge unions all new rows after its
        # anti-join. Last-writer-wins needs a REAL version column
        # (``version_col``: a CDC sequence number, source file mtime, …) —
        # ``ingest_ts = current_timestamp()`` is deliberately NOT used
        # because Structured Streaming evaluates it per BATCH, so every row
        # of a trigger ties and the "latest" pick would be arbitrary.
        # Without a version column the winner is an arbitrary-but-single
        # representative (dropDuplicates).
        from pyspark.sql.window import Window

        if version_col is not None and version_col in batch_df.columns:
            w = Window.partitionBy(key_col).orderBy(F.desc(version_col))
            batch_df = (
                batch_df.withColumn("__rn", F.row_number().over(w))
                .filter(F.col("__rn") == 1)
                .drop("__rn")
            )
        else:
            batch_df = batch_df.dropDuplicates([key_col])
        store.upsert_documents(
            batch_df.drop("ingest_ts", "text_hash"),
            key_col=key_col,
            split_by_folder=split_by_folder,
            embed=False,
            dynamic_meta=dynamic_meta,  # enable_dynamic_field applies to
            # every insert path, CDC upserts included
        )

    return _foreach_batch(chunks, checkpoint_dir, _sink)


def enrich_stream(
    stream: DataFrame,
    dim: DataFrame,
    on,
    how: str = "inner",
) -> DataFrame:
    """Stream-static enrichment join. The static side is re-resolved per
    micro-batch (so a dim table updated between triggers is picked up) and
    explicitly broadcast: a stream-side shuffle would re-partition every
    micro-batch, while the broadcast keeps the stream map-side — the only
    sane shape when the stream is the 100 TB/day side and the dim is
    bounded. No watermark interaction: stateless, append-safe."""
    return stream.join(F.broadcast(dim), on, how)


def windowed_event_counts(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
    ts_col: str = "ts",
    group_col: str = "event_type",
) -> DataFrame:
    """Watermarked tumbling-window counts — the streaming twin of the batch
    ``events_hourly`` query. Late rows beyond the watermark are dropped;
    state per (window, group) is finalized and evicted at watermark pass."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window).alias("win"), group_col)
        .agg(
            F.count("*").alias("n"),
            F.sum("value").alias("total_value"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            group_col,
            "n",
            "total_value",
        )
    )


def interval_join_streams(
    left: DataFrame,
    right: DataFrame,
    key: str = "user_id",
    left_ts: str = "p_ts",
    right_ts: str = "f_ts",
    max_delay: str = "30 minutes",
    watermark: str = "2 hours",
    right_key: str | None = None,
) -> DataFrame:
    """Stream-STREAM interval join: for each left event, right events of the
    same ``key`` strictly after it and within ``max_delay`` (the
    purchase → follow-up pattern; streaming twin of the batch banded range
    join in operators/temporal.py).

    Both sides carry watermarks and the join condition includes the event-
    time band — the two ingredients Spark's state-cleanup logic needs to
    EVICT buffered rows: a right row can be dropped once the watermark
    passes ``right_ts`` (no future left row can reach back further than
    ``max_delay``), so state is bounded by rate × (watermark + delay), not
    by stream length. Append output mode; matches emit as both sides
    arrive. Column names must already be disambiguated across the two
    streams (stream-stream joins cannot alias through self-join lineage):
    the right stream's key column is ``right_key``, defaulting to
    ``f"{key}2"``; a ValueError names the expected column when absent."""
    rk = right_key or f"{key}2"
    for df, c, side in ((left, key, "left"), (right, rk, "right")):
        if c not in df.columns:
            raise ValueError(
                f"interval_join_streams: {side} stream is missing key "
                f"column {c!r} (have {df.columns}); rename or pass "
                "right_key= explicitly"
            )
    cond = F.expr(
        f"{key} = {rk} AND {right_ts} > {left_ts} "
        f"AND {right_ts} <= {left_ts} + INTERVAL {max_delay}"
    )
    return (
        left.withWatermark(left_ts, watermark)
        .join(right.withWatermark(right_ts, watermark), cond, "inner")
    )


# --------------------------------------------------------------------------
# custom stateful operator: session windows via applyInPandasWithState
# --------------------------------------------------------------------------

SESSION_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("session_start", TimestampType()),
        StructField("session_end", TimestampType()),
        StructField("n_events", IntegerType()),
    ]
)
_STATE_SCHEMA = StructType(
    [
        StructField("start_ms", LongType()),
        StructField("last_ms", LongType()),
        StructField("n", IntegerType()),
    ]
)


def _make_session_fn(set_timeout: bool):
    """30-min-gap sessionizer body. State = (start, last, count) per user;
    emits a session row when the gap rule closes it (or on processing-time
    timeout when ``set_timeout``). Gaps compare in integer MICROSECONDS —
    the same unit as the batch twin (__spark_entry__._sessionize) and
    DuckDB's epoch_us, so a millisecond-truncated fold cannot disagree with
    the batch/oracle rule on sub-ms boundaries."""
    gap_us = 30 * 60 * 1_000_000

    def _session_fn(
        key, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterable[pd.DataFrame]:
        if state.hasTimedOut:
            if state.exists:
                start_us, last_us, n = state.get
                state.remove()
                yield pd.DataFrame(
                    {
                        "user_id": [key[0]],
                        "session_start": [pd.Timestamp(start_us, unit="us")],
                        "session_end": [pd.Timestamp(last_us, unit="us")],
                        "n_events": [n],
                    }
                )
            return

        ts = pd.concat([pdf["ts"] for pdf in pdfs]).sort_values()
        us = (ts.astype("int64") // 1_000).tolist()
        if state.exists:
            start_us, last_us, n = state.get
        else:
            start_us, last_us, n = us[0], us[0], 0
        closed = []
        for t in us:
            if t - last_us > gap_us:
                closed.append((start_us, last_us, n))
                start_us, n = t, 0
            last_us = t
            n += 1
        state.update((start_us, last_us, n))
        if set_timeout:
            state.setTimeoutDuration(gap_us // 1000)
        if closed:
            yield pd.DataFrame(
                {
                    "user_id": [key[0]] * len(closed),
                    "session_start": [pd.Timestamp(s, unit="us") for s, _, _ in closed],
                    "session_end": [pd.Timestamp(e, unit="us") for _, e, _ in closed],
                    "n_events": [c for _, _, c in closed],
                }
            )

    return _session_fn


def sessionize_stream(
    events: DataFrame, ts_col: str = "ts", idle_timeout: bool = True
) -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState): emits one
    row per CLOSED session (30-min gap rule). State is per-user and O(1) —
    scales to any key cardinality the state store can shard.

    ``idle_timeout=True`` (production default) registers a processing-time
    timeout that flushes idle users' open sessions after the gap interval —
    note this keeps an availableNow query alive running empty micro-batches
    until every timer fires. ``idle_timeout=False`` (bounded backfills /
    oracle runs) uses NoTimeout: open sessions stay in state and the query
    terminates as soon as the available data is processed; append sentinel
    events past the gap if every real session must be emitted."""
    conf = (
        GroupStateTimeout.ProcessingTimeTimeout
        if idle_timeout
        else GroupStateTimeout.NoTimeout
    )
    return (
        events.selectExpr("user_id", f"{ts_col} AS ts")
        .groupBy("user_id")
        .applyInPandasWithState(
            _make_session_fn(idle_timeout),
            outputStructType=SESSION_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=conf,
        )
    )


def lsh_screen_stream(
    stream_docs: DataFrame,
    corpus_bands: DataFrame,
    watermark: str = "10 minutes",
    ts_col: str = "ingest_ts",
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 8,
    bands: int = 4,
    shingle_n: int = 3,
) -> DataFrame:
    """NEAR-dup screen under streaming — the streaming twin of
    operators/dedup.py:lsh_incremental_candidates: each arriving document
    is MinHash-banded with pure column expressions (streaming-safe, no
    state) and stream-static LEFT SEMI joined against the persisted corpus
    band table; documents colliding with the corpus in ≥1 band emit once.

    State story, the part that matters at 100 TB/day: banding is
    stateless; the semi join is stream-static (the static side is the
    persisted, bucketed band table — re-read per micro-batch, never
    buffered as state); the only stateful operator is the final
    ``dropDuplicatesWithinWatermark`` on the doc id, which collapses the
    ≤``bands`` collision rows per flagged doc to one output row with
    watermark-bounded key state. Returns flagged ``(id_col, ts_col)``
    rows — route them to quarantine/review, anti-join them from the
    ingest path, or count them as the live dup-rate metric."""
    from vectordb_etl_spark.operators.dedup import lsh_band_table

    banded = lsh_band_table(
        stream_docs, id_col, text_col, num_hashes, bands, shingle_n,
        passthrough=(ts_col,),
    )
    flagged = banded.alias("n").join(
        corpus_bands.alias("c"),
        (F.col("n.band_key") == F.col("c.band_key"))
        & (F.col("n.id") != F.col("c.id")),
        "left_semi",
    )
    return (
        flagged.withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(["id"])
        .select(F.col("id").alias(id_col), ts_col)
    )


def ivf_ingest_stream(
    stream_vectors: DataFrame,
    index,
    checkpoint_dir: str,
    emb_col: str = "embedding",
    assign_round_dp: int | None = None,
    pq_id_col: str = "vec_id",
) -> DataStreamWriter:
    """Continuous ANN-index maintenance: each micro-batch of vectors is
    assigned against the index's EXISTING centroid geometry and appended
    to its sorted layout via ``IVFIndex.add`` — a foreachBatch sink
    reusing the batch path, so storage-tier encoding (flat/SQ8/PQ/
    residual-PQ, against the PERSISTED codebook) and the layout's one
    writer (``IVFIndex._write_layout``) are shared, not duplicated.

    This is how an IVF index absorbs a live embedding firehose at 100 TB:
    per-batch cost ∝ batch (one assignment UDF pass + one sorted
    append); readers pick up new files on their next listing of ``data/``;
    centroid retraining stays an explicit scheduled build() exactly as in
    the batch contract (add() never moves geometry). Searches mid-stream
    see complete old files only."""

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        index.add(
            batch_df,
            emb_col=emb_col,
            assign_round_dp=assign_round_dp,
            pq_id_col=pq_id_col,
        )

    return _foreach_batch(stream_vectors, checkpoint_dir, _sink)


def graph_ingest_stream(
    stream_vectors: DataFrame,
    index,
    checkpoint_dir: str,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    num_shards: int | None = None,
    m: int = 16,
    ef_construction: int = 200,
    passthrough: list[str] | None = None,
) -> DataStreamWriter:
    """Continuous GRAPH-index maintenance — the HNSW-tier twin of
    :func:`ivf_ingest_stream`, and the place the segment model earns its
    keep: each micro-batch becomes NEW self-contained NSW segments via
    ``GraphANNIndex.add`` (existing shard files never rewritten — graph
    insertion into a shared adjacency would need cross-batch coordination;
    per-batch segments need none). Searches fan over every segment, so
    streamed vectors are searchable at the next partition listing.
    Periodic ``compact()`` merges accumulated micro-batch segments."""

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        index.add(
            batch_df,
            id_col=id_col,
            emb_col=emb_col,
            num_shards=num_shards,
            m=m,
            ef_construction=ef_construction,
            passthrough=passthrough,
        )

    return _foreach_batch(stream_vectors, checkpoint_dir, _sink)


def hll_ingest_stream(
    stream_df: DataFrame,
    registers_path: str,
    checkpoint_dir: str,
    value_col: str,
    group_cols: list[str] | None = None,
    p: int = 8,
) -> DataStreamWriter:
    """Continuous distinct-count maintenance: each micro-batch's HLL
    registers (functions/sketches.py) max-merge into a persisted register
    table — the streaming shape of "unique users per type, forever"
    without ever holding user ids in state. Register max-merge is
    commutative/associative/idempotent, so the final table is BIT-EQUAL
    to the batch sketch of all rows regardless of micro-batch boundaries
    or arrival order (the registered oracle exploits exactly that), and
    CDC re-deliveries are absorbed for free (max of a max).

    State is the register table itself: ≤ groups × 2^p rows, read-merged-
    rewritten per batch through
    :func:`~vectordb_etl_spark.store.collections.replace_dir` (readers see
    complete old or complete new; a crashed swap is restored). Per-batch
    cost ∝ batch + register table; nothing grows with stream lifetime."""
    from vectordb_etl_spark.functions.sketches import hll_merge, hll_registers

    group_cols = group_cols or []

    def _merge(batch_df: DataFrame, batch_id: int, old: DataFrame | None):
        regs = hll_registers(batch_df, value_col, group_cols, p)
        return regs if old is None else hll_merge(regs.unionByName(old), group_cols)

    return _sketch_stream(stream_df, checkpoint_dir, registers_path, _merge)


def cm_ingest_stream(
    stream_df: DataFrame,
    sketch_path: str,
    checkpoint_dir: str,
    value_col: str,
    d: int = 4,
    w: int = 256,
) -> DataStreamWriter:
    """Continuous frequency-sketch maintenance — the Count-Min twin of
    :func:`hll_ingest_stream`, and the reason the two exist side by
    side: HLL register max-merge is IDEMPOTENT (re-delivered batches are
    free), but CM counter ADDITION is not — a re-delivered batch would
    double-count. So this sink implements the classic exactly-once
    foreachBatch contract: the persisted sketch carries the last
    committed ``batch_id`` (a ``__meta`` row with row = -1), and a batch
    whose id is <= that watermark is skipped wholesale. Spark replays
    foreachBatch with THE SAME batch_id after a failure, so
    skip-if-committed turns at-least-once delivery into exactly-once
    merged counters.

    State is ≤ d·w counter rows + one meta row; per-batch cost ∝ batch.
    The final counters equal the batch sketch of all rows (addition is
    commutative/associative — micro-batch boundaries don't matter).
    Published through
    :func:`~vectordb_etl_spark.store.collections.replace_dir`; a skipped
    batch writes nothing, so the sketch is left as it was."""
    from vectordb_etl_spark.functions.sketches import cm_merge, cm_sketch
    from vectordb_etl_spark.session import local_rows_df

    def _merge(batch_df: DataFrame, batch_id: int, old: DataFrame | None):
        merged = cm_sketch(batch_df, value_col, d=d, w=w)
        if old is not None:
            committed = (
                old.filter(F.col("row") == -1)
                .agg(F.max("cnt"))
                .collect()[0][0]
            )
            if committed is not None and batch_id <= committed:
                return None  # replayed batch — already merged
            merged = cm_merge(old.filter(F.col("row") >= 0), merged)
        # one slice, one task: createDataFrame would spread the single
        # meta row over defaultParallelism empty pickled slices per batch
        meta = local_rows_df(
            batch_df.sparkSession, [(-1, 0, batch_id)],
            "row int, pos int, cnt long",
        )
        return merged.unionByName(meta)

    return _sketch_stream(stream_df, checkpoint_dir, sketch_path, _merge)


def kmv_ingest_stream(
    stream_df: DataFrame,
    registers_path: str,
    checkpoint_dir: str,
    value_col: str,
    k: int = 256,
) -> DataStreamWriter:
    """Continuous KMV maintenance — the third streaming sketch: merge =
    k-smallest of (persisted ∪ batch registers), which like HLL max-merge
    is commutative/associative/idempotent (taking the k smallest twice
    changes nothing), so replays are free and the final register set is
    BIT-EQUAL to the batch sketch of all rows. Keeping live KMV registers
    per corpus side is what lets the overlap/contamination dashboards
    (kmv_jaccard) run continuously without rescanning either side.
    Published through
    :func:`~vectordb_etl_spark.store.collections.replace_dir`."""
    from vectordb_etl_spark.functions.sketches import kmv_merge, kmv_registers

    def _merge(batch_df: DataFrame, batch_id: int, old: DataFrame | None):
        regs = kmv_registers(batch_df, value_col, k=k)
        return regs if old is None else kmv_merge(old, regs, k=k)

    return _sketch_stream(stream_df, checkpoint_dir, registers_path, _merge)


def bloom_ingest_stream(
    stream_df: DataFrame,
    bloom_path: str,
    checkpoint_dir: str,
    key_col: str,
    m_bits: int = 4096,
    k: int = 2,
) -> DataStreamWriter:
    """Continuous membership-filter maintenance — the Bloom sibling of
    :func:`hll_ingest_stream`: each micro-batch's (word, bits) bitmap
    (operators/bloom.py:bloom_build) bit_or-merges into a persisted word
    table. bit_or is commutative/associative/IDEMPOTENT, so the final
    bitmap is BIT-EQUAL to the batch build over all rows regardless of
    micro-batch boundaries, and CDC re-deliveries are absorbed for free
    (or of an or) — no batch-id bookkeeping needed, same contract as the
    HLL sink and unlike the additive Count-Min one.

    The 100 TB story: "have we ever seen this key" forever with state
    = ceil(m/63) word rows — the filter that lets an ingest pipeline
    pre-prune joins against the full history (bloom_prune) without ever
    scanning it. Published through
    :func:`~vectordb_etl_spark.store.collections.replace_dir`, like the
    other sketch sinks."""
    from vectordb_etl_spark.operators.bloom import bloom_build, bloom_merge

    def _merge(batch_df: DataFrame, batch_id: int, old: DataFrame | None):
        words = bloom_build(batch_df, key_col, m_bits, k)
        return words if old is None else bloom_merge(words, old)

    return _sketch_stream(stream_df, checkpoint_dir, bloom_path, _merge)


def bitmap_ingest_stream(
    stream_df: DataFrame,
    registers_path: str,
    checkpoint_dir: str,
    value_col: str,
    group_cols: list[str] | None = None,
) -> DataStreamWriter:
    """Stream-maintained EXACT distinct counting — the zero-error member
    of the sketch-sink family (HLL approximates, this one is exact for
    bounded non-negative integer domains): each micro-batch's word
    bitmap (functions/sketches.py:bitmap_registers) bit_or-merges into a
    persisted register table. bit_or is idempotent, so replays are
    absorbed with no batch-id bookkeeping (the bloom contract, not the
    Count-Min one), and the final table is BIT-EQUAL to the batch build
    over all rows — `sum(bit_count(bits))` per group IS
    COUNT(DISTINCT), forever, with state = touched words per group.
    Published through
    :func:`~vectordb_etl_spark.store.collections.replace_dir`, like the
    other sketch sinks."""
    from vectordb_etl_spark.functions.sketches import (
        bitmap_merge,
        bitmap_registers,
    )

    group_cols = group_cols or []

    def _merge(batch_df: DataFrame, batch_id: int, old: DataFrame | None):
        regs = bitmap_registers(batch_df, value_col, group_cols)
        return regs if old is None else bitmap_merge(regs.unionByName(old), group_cols)

    return _sketch_stream(stream_df, checkpoint_dir, registers_path, _merge)

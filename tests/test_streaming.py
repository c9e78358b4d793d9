"""Structured Streaming tier: file-source ingest → transform → dedup →
foreachBatch collection sink (availableNow), windowed counts, stateful
sessionization."""

from __future__ import annotations

import time

import pytest
from pyspark.sql import functions as F

from vectordb_etl_spark.config import EmbeddingConfig, StoreConfig
from vectordb_etl_spark.store.collections import CollectionStore
from vectordb_etl_spark.streaming import (
    dedup_stream,
    read_document_stream,
    run_available_now,
    sessionize_stream,
    transform_stream,
    windowed_event_counts,
    write_collection_stream,
)

DOC_SCHEMA = "doc_id string, source string, folder_name string, text string"


@pytest.fixture(scope="module")
def landing(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("landing")
    rows = [
        ("d1", "s1", "hr", "Vacation policy. " * 30),
        ("d2", "s2", "hr", "Vacation policy. " * 30),  # exact dup of d1 text
        ("d3", "s3", "eng", "Onboarding guide for new engineers. " * 25),
    ]
    spark.createDataFrame(rows, DOC_SCHEMA).coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(d))
    return str(d)


def test_stream_pipeline_end_to_end(spark, landing, tmp_path_factory):
    work = tmp_path_factory.mktemp("stream_work")
    store = CollectionStore(
        spark, StoreConfig(warehouse_dir=str(work / "wh"))
    )
    docs = read_document_stream(spark, landing, DOC_SCHEMA)
    assert docs.isStreaming
    chunks = transform_stream(docs, embedding_config=EmbeddingConfig(dimension=16))
    deduped = dedup_stream(chunks)
    run_available_now(write_collection_stream(deduped, store, str(work / "ckpt")))
    out = store.read()
    assert set(r["collection"] for r in out.select("collection").distinct().collect()) == {
        "html_hr", "html_eng",
    }
    # d2's chunks are exact dups of d1's → removed by watermarked dedup
    assert out.filter(F.col("doc_id") == "d2").count() == 0
    assert out.filter(F.col("doc_id") == "d1").count() > 0
    assert len(out.select("embedding").first()[0]) == 16
    # restart with no new files: checkpoint prevents reprocessing
    run_available_now(write_collection_stream(
        read_document_stream(spark, landing, DOC_SCHEMA).transform(
            lambda df: dedup_stream(
                transform_stream(df, embedding_config=EmbeddingConfig(dimension=16))
            )
        ),
        store, str(work / "ckpt"),
    ))
    assert store.read().count() == out.count()


def test_windowed_event_counts_matches_batch(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("events")
    rows = [
        (1, "2024-01-01 10:05:00", "click", 1.0),
        (2, "2024-01-01 10:45:00", "click", 2.0),
        (3, "2024-01-01 11:05:00", "view", 3.0),
        (4, "2024-01-01 11:30:00", "click", 4.0),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts_s string, event_type string, value double"
    ).withColumn("ts", F.to_timestamp("ts_s")).drop("ts_s")
    df.coalesce(1).write.mode("overwrite").parquet(str(d))

    stream = read_document_stream(
        spark, str(d), "event_id long, event_type string, value double, ts timestamp"
    )
    agg = windowed_event_counts(stream)
    run_available_now(
        agg.writeStream.format("memory")
        .queryName("win_counts")
        .outputMode("complete")
    )
    got = {
        (str(r["window_start"]), r["event_type"]): (r["n"], r["total_value"])
        for r in spark.sql("SELECT * FROM win_counts").collect()
    }
    assert got[("2024-01-01 10:00:00", "click")] == (2, 3.0)
    assert got[("2024-01-01 11:00:00", "click")] == (1, 4.0)
    assert got[("2024-01-01 11:00:00", "view")] == (1, 3.0)


def test_sessionize_stream_closes_on_gap(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("sess")
    # user 7: two sessions separated by a >30min gap; second session stays
    # open (emitted only via timeout, not in this availableNow run)
    rows = [
        (7, "2024-01-01 09:00:00"),
        (7, "2024-01-01 09:10:00"),
        (7, "2024-01-01 10:00:00"),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts_s string").withColumn(
        "ts", F.to_timestamp("ts_s")
    ).drop("ts_s")
    df.coalesce(1).write.mode("overwrite").parquet(str(d))
    stream = read_document_stream(spark, str(d), "user_id long, ts timestamp")
    sessions = sessionize_stream(stream)
    q = (
        sessions.writeStream.format("memory")
        .queryName("sessions")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    # idle_timeout=True keeps the availableNow query alive running empty
    # micro-batches until the 30-min PROCESSING-time timer fires, so
    # waiting for termination would burn the whole deadline. The closed
    # session is emitted by the first data micro-batch — poll for it
    # (a failed query raises its own error at once), then stop the query.
    deadline = time.time() + 120
    try:
        while time.time() < deadline:
            if q.exception() is not None:
                raise q.exception()
            if spark.sql("SELECT count(*) FROM sessions").collect()[0][0] >= 1:
                break
            time.sleep(0.5)
    finally:
        q.stop()
    rows = spark.sql("SELECT * FROM sessions").collect()
    assert len(rows) == 1
    s = rows[0]
    assert s["user_id"] == 7 and s["n_events"] == 2
    assert str(s["session_start"]) == "2024-01-01 09:00:00"
    assert str(s["session_end"]) == "2024-01-01 09:10:00"


def test_interval_join_streams_matches_and_bounds(spark, tmp_path_factory):
    # purchase→follow-up matches within the band only; strictly-after rule;
    # per-key isolation. One availableNow trigger → all matches emit.
    from datetime import datetime

    from vectordb_etl_spark.streaming.ingest import interval_join_streams

    t = lambda m: datetime(2024, 1, 1, 9, m)  # noqa: E731
    left_rows = [(1, 100, t(0)), (2, 101, t(0))]
    right_rows = [
        (1, 200, t(10)),  # match (within 30 min, same user)
        (1, 201, t(0)),   # NO: not strictly after
        (1, 202, t(45)),  # NO: beyond the band
        (2, 203, t(29)),  # match (user 2)
        (9, 204, t(5)),   # NO: different user
    ]
    d = tmp_path_factory.mktemp("ij")
    spark.createDataFrame(
        left_rows, "user_id long, p_event long, p_ts timestamp"
    ).coalesce(1).write.parquet(str(d / "l"))
    spark.createDataFrame(
        right_rows, "user_id2 long, f_event long, f_ts timestamp"
    ).coalesce(1).write.parquet(str(d / "r"))
    ls = spark.readStream.schema(
        "user_id long, p_event long, p_ts timestamp"
    ).parquet(str(d / "l"))
    rs = spark.readStream.schema(
        "user_id2 long, f_event long, f_ts timestamp"
    ).parquet(str(d / "r"))
    joined = interval_join_streams(ls, rs, max_delay="30 minutes")
    assert joined.isStreaming
    run_available_now(
        joined.select("user_id", "p_event", "f_event")
        .writeStream.format("memory")
        .queryName("ij_out")
        .outputMode("append")
        .option("checkpointLocation", str(d / "ckpt"))
    )
    got = {tuple(r) for r in spark.sql("SELECT * FROM ij_out").collect()}
    assert got == {(1, 100, 200), (2, 101, 203)}


def test_enrich_stream_broadcasts_static_side(spark):
    # stateless stream-static enrichment must broadcast the dim: a shuffle
    # would re-partition the stream every micro-batch. Verified on the
    # batch twin of the plan (same join node either way).
    from vectordb_etl_spark.streaming.ingest import enrich_stream

    ev = spark.createDataFrame([(1, 10.0), (2, 20.0)], ["user_id", "value"])
    dim = spark.createDataFrame([(1, "A"), (2, "B")], ["user_id", "segment"])
    out = enrich_stream(ev, dim, "user_id")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert {r["segment"] for r in out.collect()} == {"A", "B"}


def test_stream_dynamic_meta_folds_like_batch(spark, tmp_path_factory):
    """enable_dynamic_field applies to EVERY insert path (reference
    milvus_store.py:62-66): a stream-landed document with extra columns
    must fold into `meta` exactly like the same batch insert — identical
    schema, identical map contents, on both the append and upsert sinks."""
    from vectordb_etl_spark.streaming.ingest import (
        upsert_collection_stream,
        write_collection_stream,
    )

    work = tmp_path_factory.mktemp("dyn_stream")
    schema = "chunk_id string, text string, folder_name string, rating string"
    rows = [("c1", "doc one", "hr", "5"), ("c2", "doc two", "hr", "3")]
    df = spark.createDataFrame(rows, schema)
    df.repartition(1).write.parquet(str(work / "landing"))

    batch_store = CollectionStore(
        spark, StoreConfig(warehouse_dir=str(work / "wh_batch"))
    )
    batch_store.insert_documents(df, embed=False, dynamic_meta=True)
    expected = {
        r["chunk_id"]: r["meta"] for r in batch_store.read().collect()
    }
    assert expected["c1"]["rating"] == "5"  # fold actually happened

    for sink, wh in (
        (write_collection_stream, "wh_append"),
        (lambda s, st, ck, **kw: upsert_collection_stream(
            s, st, ck, key_col="chunk_id", **kw), "wh_upsert"),
    ):
        store = CollectionStore(
            spark, StoreConfig(warehouse_dir=str(work / wh))
        )
        stream = spark.readStream.schema(df.schema).parquet(
            str(work / "landing")
        )
        run_available_now(
            sink(stream, store, str(work / f"ckpt_{wh}"), dynamic_meta=True)
        )
        back = store.read()
        assert "rating" not in back.columns, wh
        got = {r["chunk_id"]: r["meta"] for r in back.collect()}
        assert got == expected, wh


def test_upsert_collection_stream_idempotent_rekey(spark, tmp_path_factory):
    # CDC shape: a later file re-delivers chunk c1 with NEW text; the
    # streaming upsert sink must replace, not duplicate — and unrelated
    # keys survive untouched
    from vectordb_etl_spark.embeddings import with_embeddings
    from vectordb_etl_spark.streaming.ingest import upsert_collection_stream

    work = tmp_path_factory.mktemp("upsert_stream")
    store = CollectionStore(spark, StoreConfig(warehouse_dir=str(work / "wh")))
    schema = "chunk_id string, text string, folder_name string, v long"
    emb_cfg = EmbeddingConfig(dimension=8)

    def land(rows):
        # append into ONE flat dir: the file stream source lists the top
        # level only (no recursion), so nested per-batch subdirs are invisible
        with_embeddings(
            spark.createDataFrame(rows, schema), config=emb_cfg
        ).repartition(1).write.mode("append").parquet(str(work / "landing"))

    land([("c1", "version one", "hr", 1), ("c2", "other doc", "hr", 1)])
    emb_schema = spark.read.parquet(str(work / "landing")).schema

    def run_once():
        stream = spark.readStream.schema(emb_schema).parquet(
            str(work / "landing")
        )
        run_available_now(upsert_collection_stream(
            stream, store, str(work / "ckpt"), version_col="v",
        ))

    run_once()
    assert store.read().count() == 2

    # TWO files land before the next trigger, both carrying c1 — one batch
    # must pick the HIGHEST version, not an arbitrary row
    land([("c1", "version two", "hr", 2)])
    land([("c1", "version three", "hr", 3)])
    run_once()
    out = {r["chunk_id"]: r["text"] for r in store.read().collect()}
    assert out == {"c1": "version three", "c2": "other doc"}


def test_dedup_stream_first_wins_is_min_id_with_single_file_landing(
    spark, tmp_path_factory
):
    """The hash-checkable determinism contract behind streaming_exact_dedup:
    a single sorted landing file means one upstream map task, so the state
    op sees each key's rows in doc_id order and first-wins == min(doc_id).
    Planted duplicates (whitespace/case variants hash equal) prove the
    state path actually drops rows."""
    tmp = tmp_path_factory.mktemp("sdedup")
    rows = [
        (1, "Alpha beta  gamma"),
        (2, "alpha beta gamma"),   # normalized dup of 1
        (3, "unrelated content"),
        (4, "  ALPHA   BETA GAMMA "),  # normalized dup of 1
        (5, "unrelated content"),  # dup of 3
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"]).select(
        "doc_id",
        "text",
        (F.to_timestamp(F.lit("2024-01-01 00:00:00"))
         + F.make_interval(secs=F.col("doc_id").cast("double"))).alias("ingest_ts"),
    )
    docs.repartition(1).sortWithinPartitions("doc_id").write.parquet(
        str(tmp / "landing")
    )
    stream = spark.readStream.schema(docs.schema).parquet(str(tmp / "landing"))
    run_available_now(
        dedup_stream(stream, watermark="10 minutes")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("t_sdedup")
        .option("checkpointLocation", str(tmp / "ckpt"))
    )
    kept = sorted(r["doc_id"] for r in spark.table("t_sdedup").collect())
    assert kept == [1, 3]


def test_lsh_screen_stream_flags_near_dups_once(spark, tmp_path_factory):
    """Streaming near-dup screen: a streamed doc sharing most shingles with
    a corpus doc collides in >= 1 band and emits EXACTLY once (semi join +
    watermark key-dedup collapses multi-band collisions); novel docs don't
    emit. Identical text collides in ALL bands — the strongest multi-band
    case."""
    from vectordb_etl_spark.operators.dedup import lsh_band_table
    from vectordb_etl_spark.streaming.ingest import lsh_screen_stream

    tmp = tmp_path_factory.mktemp("slsh")
    corpus_text = "the quick brown fox jumps over the lazy dog again and again"
    corpus = spark.createDataFrame(
        [(100, corpus_text), (101, "totally different corpus material here")],
        ["doc_id", "text"],
    )
    corpus_bands = lsh_band_table(corpus)
    rows = [
        (1, corpus_text),                       # exact copy -> all bands hit
        (2, "completely novel text with nothing shared at all whatsoever"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"]).select(
        "doc_id",
        "text",
        (F.to_timestamp(F.lit("2024-01-01 00:00:00"))
         + F.make_interval(secs=F.col("doc_id").cast("double"))).alias("ingest_ts"),
    )
    docs.repartition(1).sortWithinPartitions("doc_id").write.parquet(
        str(tmp / "landing")
    )
    stream = spark.readStream.schema(docs.schema).parquet(str(tmp / "landing"))
    run_available_now(
        lsh_screen_stream(stream, corpus_bands)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("t_slsh")
        .option("checkpointLocation", str(tmp / "ckpt"))
    )
    flagged = [r["doc_id"] for r in spark.table("t_slsh").collect()]
    assert flagged == [1]  # exactly once, despite 4 colliding bands


def test_ivf_ingest_stream_appends_via_add(spark, embeddings_tiny, tmp_path_factory):
    """Streamed vectors land in the index's sorted layout encoded per the
    existing storage tier; search after the stream finds them; centroid
    geometry is untouched (add never retrains)."""
    from vectordb_etl_spark.operators.ann import IVFIndex
    from vectordb_etl_spark.streaming.ingest import ivf_ingest_stream

    tmp = tmp_path_factory.mktemp("sivf")
    first = embeddings_tiny.filter(F.col("vec_id") % 2 == 0).select(
        "vec_id", "embedding"
    )
    rest = embeddings_tiny.filter(F.col("vec_id") % 2 == 1).select(
        "vec_id", "embedding"
    )
    idx = IVFIndex(spark, str(tmp / "ivf")).build(first, nlist=4, seed=42, max_iter=4)
    cents_before = idx.centroids.copy()

    rest.repartition(1).write.parquet(str(tmp / "landing"))
    stream = spark.readStream.schema(rest.schema).parquet(str(tmp / "landing"))
    run_available_now(ivf_ingest_stream(stream, idx, str(tmp / "ckpt")))

    assert (idx.centroids == cents_before).all()
    data = spark.read.parquet(f"{tmp}/ivf/data")
    assert data.count() == embeddings_tiny.count()
    # an odd (streamed) vector is findable at probe-all
    odd = embeddings_tiny.filter(F.col("vec_id") == 7).head()
    got = [r["vec_id"] for r in idx.search(
        list(odd["embedding"]), k=3, nprobe=4, tie_break=["vec_id"],
        output_cols=["vec_id"]).collect()]
    assert 7 in got


def test_graph_ingest_stream_appends_segments(spark, embeddings_tiny, tmp_path_factory):
    """Streamed vectors become new NSW segments; probe-all search over the
    grown index equals brute force; pre-existing shard files untouched."""
    import glob

    from vectordb_etl_spark.operators.graph_ann import GraphANNIndex
    from vectordb_etl_spark.operators.topk import topk_search
    from vectordb_etl_spark.streaming.ingest import graph_ingest_stream

    tmp = tmp_path_factory.mktemp("sgraph")
    first = embeddings_tiny.filter(F.col("vec_id") % 2 == 0).select(
        "vec_id", "embedding"
    )
    rest = embeddings_tiny.filter(F.col("vec_id") % 2 == 1).select(
        "vec_id", "embedding"
    )
    idx = GraphANNIndex(spark, str(tmp / "g")).build(
        first, num_shards=3, m=8, ef_construction=32
    )
    files_before = set(glob.glob(f"{tmp}/g/shard=*/part-*.parquet"))
    rest.repartition(1).write.parquet(str(tmp / "landing"))
    stream = spark.readStream.schema(rest.schema).parquet(str(tmp / "landing"))
    run_available_now(graph_ingest_stream(
        stream, idx, str(tmp / "ckpt"), num_shards=2, m=8,
        ef_construction=32,
    ))
    assert files_before <= set(glob.glob(f"{tmp}/g/shard=*/part-*.parquet"))
    assert spark.read.parquet(str(tmp / "g")).count() == embeddings_tiny.count()

    qv = list(embeddings_tiny.filter(F.col("vec_id") == 7).head()["embedding"])
    exact = [r["vec_id"] for r in topk_search(
        embeddings_tiny, qv, k=10, tie_break=["vec_id"]).collect()]
    got = [r["id"] for r in idx.search(qv, k=10, ef=10_000).collect()]
    assert got == exact


def test_hll_ingest_stream_equals_batch_and_absorbs_redelivery(spark, tmp_path):
    """Register max-merge is order-insensitive and idempotent: the
    stream-maintained table equals the batch sketch, and re-delivering
    an already-merged batch leaves the registers unchanged."""
    from pyspark.sql import functions as F

    from tests.conftest import SF_TINY
    from vectordb_etl_spark.functions.sketches import hll_registers
    from vectordb_etl_spark.streaming.ingest import hll_ingest_stream

    ev = spark.read.parquet(f"{SF_TINY}/events.parquet").select(
        "event_type", "user_id"
    )
    landing = str(tmp_path / "landing")
    regs_path = str(tmp_path / "regs")
    ev.repartition(3).write.parquet(landing)
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(landing)
    )
    run_available_now(hll_ingest_stream(
        stream, regs_path, str(tmp_path / "ckpt"),
        value_col="user_id", group_cols=["event_type"],
    ))
    streamed = sorted(map(tuple, spark.read.parquet(regs_path).collect()))
    batch = sorted(
        map(tuple, hll_registers(ev, "user_id", ["event_type"]).collect())
    )
    assert streamed == batch
    # re-delivery: stream the SAME landing dir into the SAME register
    # table under a fresh checkpoint — max(max) changes nothing
    stream2 = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(landing)
    )
    run_available_now(hll_ingest_stream(
        stream2, regs_path, str(tmp_path / "ckpt2"),
        value_col="user_id", group_cols=["event_type"],
    ))
    assert sorted(map(tuple, spark.read.parquet(regs_path).collect())) == batch


def test_cm_ingest_stream_exactly_once_under_redelivery(spark, tmp_path):
    """CM counter addition is NOT idempotent, so the sink tracks the
    last committed batch_id and skips replays — the exactly-once
    foreachBatch contract. Final counters equal the batch sketch; a
    manual replay of an already-committed batch_id changes nothing."""
    from pyspark.sql import functions as F

    from tests.conftest import SF_TINY
    from vectordb_etl_spark.functions.sketches import cm_sketch
    from vectordb_etl_spark.streaming.ingest import cm_ingest_stream

    ev = spark.read.parquet(f"{SF_TINY}/events.parquet").select("user_id")
    landing = str(tmp_path / "landing")
    sk_path = str(tmp_path / "cm")
    ev.repartition(3).write.parquet(landing)
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(landing)
    )
    run_available_now(cm_ingest_stream(
        stream, sk_path, str(tmp_path / "ckpt"),
        value_col="user_id", d=3, w=128,
    ))
    stored = spark.read.parquet(sk_path)
    counters = sorted(
        map(tuple, stored.filter(F.col("row") >= 0).collect())
    )
    batch = sorted(
        map(tuple, cm_sketch(ev, "user_id", d=3, w=128).collect())
    )
    assert counters == batch
    # watermark: the meta row records the last committed batch id (2,
    # three single-file batches 0..2)
    meta = stored.filter(F.col("row") == -1).collect()
    assert len(meta) == 1 and meta[0]["cnt"] == 2
    # REPLAY: run the same landing dir under a FRESH checkpoint — Spark
    # re-delivers every batch with ids 0..2, all <= the watermark, all
    # skipped by the sink
    stream2 = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(landing)
    )
    run_available_now(cm_ingest_stream(
        stream2, sk_path, str(tmp_path / "ckpt2"),
        value_col="user_id", d=3, w=128,
    ))
    after = sorted(
        map(
            tuple,
            spark.read.parquet(sk_path).filter(F.col("row") >= 0).collect(),
        )
    )
    assert after == batch  # no double counting


def test_kmv_ingest_stream_equals_batch(spark, tmp_path):
    """k-smallest merge is idempotent: stream-maintained KMV registers
    equal the batch sketch, and a full re-delivery changes nothing."""
    from tests.conftest import SF_TINY
    from vectordb_etl_spark.functions.sketches import kmv_registers
    from vectordb_etl_spark.streaming.ingest import kmv_ingest_stream

    ev = spark.read.parquet(f"{SF_TINY}/events.parquet").select("user_id")
    landing = str(tmp_path / "landing")
    regs_path = str(tmp_path / "kmv")
    ev.repartition(3).write.parquet(landing)

    def run(ckpt):
        stream = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(landing)
        )
        run_available_now(kmv_ingest_stream(
            stream, regs_path, str(tmp_path / ckpt),
            value_col="user_id", k=64,
        ))

    run("ckpt")
    batch = sorted(
        r["h"] for r in kmv_registers(ev, "user_id", k=64).collect()
    )
    assert sorted(
        r["h"] for r in spark.read.parquet(regs_path).collect()
    ) == batch
    run("ckpt2")  # full replay under a fresh checkpoint — idempotent
    assert sorted(
        r["h"] for r in spark.read.parquet(regs_path).collect()
    ) == batch


def test_sketch_sink_recovers_from_crashed_swap(spark, tmp_path):
    """A sink that died between rename-aside and rename-in leaves the
    only sketch copy at <parent>/.old-<leaf>; the next batch must restore
    it, not silently start fresh."""
    from tests.conftest import SF_TINY
    from vectordb_etl_spark.functions.sketches import hll_registers
    from vectordb_etl_spark.streaming.ingest import hll_ingest_stream

    ev = spark.read.parquet(f"{SF_TINY}/events.parquet").select(
        "event_type", "user_id"
    )
    half1 = ev.filter(F.col("user_id") % 2 == 0)
    half2 = ev.filter(F.col("user_id") % 2 == 1)
    landing1 = str(tmp_path / "l1")
    landing2 = str(tmp_path / "l2")
    regs = str(tmp_path / "regs")
    half1.coalesce(1).write.parquet(landing1)
    half2.coalesce(1).write.parquet(landing2)

    def run(landing, ckpt):
        stream = spark.readStream.schema(ev.schema).parquet(landing)
        run_available_now(hll_ingest_stream(
            stream, regs, str(tmp_path / ckpt),
            value_col="user_id", group_cols=["event_type"],
        ))

    run(landing1, "c1")
    # simulate the crash window: registers renamed aside, staging lost
    import shutil

    shutil.move(regs, str(tmp_path / ".old-regs"))
    run(landing2, "c2")
    # result must equal the sketch of BOTH halves — half1's registers
    # were recovered from the aside before merging
    got = sorted(map(tuple, spark.read.parquet(regs).collect()))
    want = sorted(
        map(tuple, hll_registers(ev, "user_id", ["event_type"]).collect())
    )
    assert got == want


def test_bloom_ingest_stream_equals_batch_and_absorbs_redelivery(spark, tmp_path):
    """Word bit_or is order-insensitive and idempotent: the
    stream-maintained bitmap equals the batch build, and re-delivering
    already-merged batches leaves the words unchanged."""
    from tests.conftest import SF_TINY
    from vectordb_etl_spark.operators.bloom import bloom_build
    from vectordb_etl_spark.streaming.ingest import bloom_ingest_stream

    od = spark.read.parquet(f"{SF_TINY}/orders.parquet").select("o_custkey")
    landing = str(tmp_path / "landing")
    bloom_path = str(tmp_path / "bloom")
    od.repartition(3).write.parquet(landing)

    def _run(ckpt: str) -> None:
        stream = (
            spark.readStream.schema(od.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(landing)
        )
        run_available_now(bloom_ingest_stream(
            stream, bloom_path, str(tmp_path / ckpt),
            key_col="o_custkey", m_bits=2048, k=2,
        ))

    _run("ckpt")
    batch = sorted(map(tuple, bloom_build(od, "o_custkey", 2048, 2).collect()))
    assert sorted(map(tuple, spark.read.parquet(bloom_path).collect())) == batch
    _run("ckpt2")  # full replay into the same bitmap: or(or) == or
    assert sorted(map(tuple, spark.read.parquet(bloom_path).collect())) == batch


def test_bitmap_ingest_stream_exact_and_replay_safe(spark, tmp_path):
    """Word bit_or is idempotent: the stream-maintained registers give
    EXACT distinct counts equal to batch COUNT(DISTINCT), and a full
    replay changes nothing."""
    from tests.conftest import SF_TINY
    from vectordb_etl_spark.streaming.ingest import bitmap_ingest_stream

    ev = spark.read.parquet(f"{SF_TINY}/events.parquet").select(
        "event_type", "user_id"
    )
    landing = str(tmp_path / "landing")
    regs_path = str(tmp_path / "regs")
    ev.repartition(3).write.parquet(landing)

    def _run(ckpt):
        stream = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(landing)
        )
        run_available_now(bitmap_ingest_stream(
            stream, regs_path, str(tmp_path / ckpt),
            value_col="user_id", group_cols=["event_type"],
        ))

    def _counts():
        return {
            r["event_type"]: r["n"]
            for r in spark.read.parquet(regs_path)
            .groupBy("event_type")
            .agg(F.sum(F.bit_count("bits")).alias("n"))
            .collect()
        }

    _run("ckpt")
    want = {
        r["event_type"]: r["n"]
        for r in ev.groupBy("event_type")
        .agg(F.count_distinct("user_id").alias("n"))
        .collect()
    }
    assert _counts() == want
    _run("ckpt2")  # replay everything
    assert _counts() == want


def test_cm_sink_crash_replay_at_10x_state(spark, tmp_path):
    """VERDICT r06 item 8: crash mid-swap + batch replay at 10x the
    default sketch state (d·w = 4·2560 counter rows vs the 4·256
    default). The sink must (a) restore the aside copy, (b) skip the
    replayed batch via the committed-batch-id watermark (CM addition is
    NOT idempotent — a double merge would double-count), and (c) keep
    state scalar-bounded: <= d·w + 1 rows total and exactly ONE meta
    row, no matter how many batches or how big the corpus."""
    import shutil

    from tests.conftest import SF_TINY
    from vectordb_etl_spark.functions.sketches import cm_sketch
    from vectordb_etl_spark.streaming.ingest import cm_ingest_stream

    d, w = 4, 2560
    ev = spark.read.parquet(f"{SF_TINY}/events.parquet").select("user_id")
    landing = str(tmp_path / "landing")
    sketch = str(tmp_path / "cm")
    ckpt = str(tmp_path / "ckpt")
    ev.filter(F.col("user_id") % 2 == 0).coalesce(1).write.mode(
        "append"
    ).parquet(landing)

    def _run():
        stream = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(landing)
        )
        run_available_now(cm_ingest_stream(
            stream, sketch, ckpt, value_col="user_id", d=d, w=w,
        ))

    _run()
    # crash window: sketch renamed aside, staging lost, AND the stream
    # will replay from the same checkpoint (at-least-once delivery)
    shutil.move(sketch, str(tmp_path / ".old-cm"))
    ev.filter(F.col("user_id") % 2 == 1).coalesce(1).write.mode(
        "append"
    ).parquet(landing)
    _run()

    final = spark.read.parquet(sketch)
    counters = sorted(
        map(tuple, final.filter(F.col("row") >= 0).collect())
    )
    want = sorted(map(tuple, cm_sketch(ev, "user_id", d=d, w=w).collect()))
    assert counters == want  # exactly-once: no double-merged half
    # state is scalar-bounded: d·w counters max + exactly one meta row
    assert final.count() <= d * w + 1
    assert final.filter(F.col("row") == -1).count() == 1


def test_scratch_stream_failure_raises_at_once_and_restores_state(spark):
    """A sink that raises inside the scratch + stream scope surfaces as
    the query's own StreamingQueryException right away, and the scope
    still restores the shuffle width, removes its temp dir and leaves no
    active query."""
    import os

    from pyspark.errors import StreamingQueryException

    import __spark_entry__ as em

    def boom(batch_df, batch_id):
        raise RuntimeError("sink exploded")

    seen = {}

    def body(tmp):
        seen["tmp"] = tmp
        run_available_now(
            em._land(spark.range(10), tmp)
            .writeStream.option("checkpointLocation", f"{tmp}/ckpt")
            .foreachBatch(boom)
        )
        return spark.range(1)

    prior = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "7")  # != stream width
    try:
        t0 = time.time()
        with pytest.raises(StreamingQueryException, match="sink exploded"):
            em._scratch(spark, body, stream_width=em._STREAM_WIDTH)
        assert time.time() - t0 < 60
        assert spark.conf.get("spark.sql.shuffle.partitions") == "7"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prior)
    assert not os.path.exists(seen["tmp"])
    assert spark.streams.active == []


def test_stream_queries_leave_session_state_unchanged(spark, tmp_path):
    """Registered stream queries restore the shuffle width and drop their
    memory-sink views; and the 4-file, one-file-per-trigger landing the
    Count-Min query relies on really commits four non-empty micro-batches
    (the premise of cm_ingest_stream's batch-id watermark)."""
    import __spark_entry__ as em
    from tests.conftest import SF_TINY
    from vectordb_etl_spark.streaming.ingest import cm_ingest_stream

    queries = em.queries()
    prior = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "7")  # != stream width
    try:
        for name in (
            "streaming_windowed_counts",
            "streaming_interval_join",
            "streaming_cm_ingest",
            "streaming_ivf_ingest",
        ):
            assert queries[name](spark, SF_TINY).count() > 0, name
            assert spark.conf.get("spark.sql.shuffle.partitions") == "7", name
            views = [
                t.name for t in spark.catalog.listTables()
                if t.name.startswith("stream_")
            ]
            assert views == [], (name, views)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prior)
    assert spark.streams.active == []

    ev = spark.read.parquet(f"{SF_TINY}/events.parquet").select("user_id")
    ev.repartition(4).write.parquet(str(tmp_path / "landing"))
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tmp_path / "landing"))
    )
    progress = run_available_now(cm_ingest_stream(
        stream, str(tmp_path / "cm"), str(tmp_path / "ckpt"),
        value_col="user_id",
    ))
    # numInputRows counts source rows per scan execution, and the sink
    # runs several jobs per batch — so only its sign is meaningful here
    batches = [p["batchId"] for p in progress if p["numInputRows"] > 0]
    assert batches == [0, 1, 2, 3]
    meta = spark.read.parquet(str(tmp_path / "cm")).filter(F.col("row") == -1)
    assert [r["cnt"] for r in meta.collect()] == [3]  # last committed id

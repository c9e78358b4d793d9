"""End-to-end store + search tests (S8–S10, Q1–Q4, A11)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from vectordb_etl_spark.config import EmbeddingConfig, StoreConfig
from vectordb_etl_spark.embeddings import query_vector, with_embeddings
from vectordb_etl_spark.functions.language import detect_language_content_col
from vectordb_etl_spark.operators.topk import topk_search
from vectordb_etl_spark.search import create_rag_prompt, search_with_scores
from vectordb_etl_spark.store.collections import CollectionStore

EMB = EmbeddingConfig(dimension=32)


@pytest.fixture(scope="module")
def store(spark, docs_tiny, tmp_path_factory):
    root = tmp_path_factory.mktemp("warehouse")
    store = CollectionStore(spark, StoreConfig(warehouse_dir=str(root)))
    docs = docs_tiny.select(
        "doc_id",
        "source",
        F.col("source").alias("folder_name"),
        F.concat(F.col("source"), F.lit(".html")).alias("filename"),
        "text",
        detect_language_content_col("text").alias("language"),
        F.col("doc_id").alias("chunk_index"),
    ).limit(40)
    store.insert_documents(docs, embedding_config=EMB, mode="overwrite")
    return store


def test_collections_ddl(store):
    cols = store.list_collections()
    assert len(cols) > 1  # one per folder (source)
    assert all(c.startswith("html_") for c in cols)
    assert store.collection_exists(cols[0])
    assert not store.collection_exists("nope")


def test_collection_stats(store):
    stats = store.collection_stats()
    assert sum(stats.values()) == 40


def _counted(store) -> dict[str, int]:
    """What collection_stats must equal: a direct count of the data."""
    rows = store.read().groupBy("collection").count().collect()
    return {r["collection"]: r["count"] for r in rows}


def _f1_docs(docs_tiny, n):
    return docs_tiny.select(
        "doc_id", "source", F.lit("f1").alias("folder_name"), "text",
        F.lit("english").alias("language"),
    ).limit(n)


def test_collection_stats_counts_every_mutation(spark, docs_tiny, tmp_path):
    """A11 (milvus_store.py:374-406): after an insert, an append, the
    streaming sink's uncounted append (count_rows=False), an upsert and
    a drop, collection_stats equals a direct count of the data; a named
    collection is counted alone and an unknown one is absent."""
    store = CollectionStore(
        spark, StoreConfig(warehouse_dir=str(tmp_path / "w"))
    )
    docs = docs_tiny.select(
        "doc_id", "source", F.col("source").alias("folder_name"), "text",
        F.lit("english").alias("language"),
    ).limit(20)
    store.insert_documents(docs, embedding_config=EMB)
    stats = store.collection_stats()
    assert sum(stats.values()) == 20
    assert stats == _counted(store)
    one = next(iter(stats))
    assert store.collection_stats(one) == {one: stats[one]}
    assert store.collection_stats("nope") == {}

    more = docs.limit(5)
    store.insert_documents(more, embedding_config=EMB)
    stats = store.collection_stats()
    assert sum(stats.values()) == 25
    assert stats == _counted(store)

    out = store.insert_documents(
        more.limit(3), embedding_config=EMB, count_rows=False
    )
    assert out == {}
    stats = store.collection_stats()
    assert sum(stats.values()) == 28
    assert stats == _counted(store)

    store.upsert_documents(more, key_col="doc_id", embedding_config=EMB)
    assert store.collection_stats() == _counted(store)

    store.drop_collection(one)
    stats = store.collection_stats()
    assert one not in stats
    assert stats == _counted(store)


def test_collection_stats_of_empty_store_is_empty(spark, docs_tiny, tmp_path):
    """A store that never had data, and one whose every collection was
    dropped, report no counts (the reference returns none there) —
    not a read error on the missing data directory."""
    store = CollectionStore(
        spark, StoreConfig(warehouse_dir=str(tmp_path / "w"))
    )
    assert store.collection_stats() == {}
    assert store.collection_stats("html_f1") == {}
    store.insert_documents(_f1_docs(docs_tiny, 4), embedding_config=EMB)
    for name in store.list_collections():
        store.drop_collection(name)
    assert store.collection_stats() == {}


def test_collection_stats_counts_writes_made_outside_the_store(
    spark, docs_tiny, tmp_path
):
    """Rows appended straight into the data directory — into an existing
    collection or as a new partition — are counted like the store's own."""
    store = CollectionStore(
        spark, StoreConfig(warehouse_dir=str(tmp_path / "w"))
    )
    docs = _f1_docs(docs_tiny, 10)
    store.insert_documents(docs, embedding_config=EMB)
    assert store.collection_stats() == {"html_f1": 10}

    def append(name):
        docs.limit(2).withColumn("collection", F.lit(name)).write.mode(
            "append"
        ).partitionBy("collection").parquet(store._data_dir)

    append("html_f1")
    assert store.collection_stats() == {"html_f1": 12}
    append("html_rogue")
    assert store.collection_stats() == {"html_f1": 12, "html_rogue": 2}
    assert store.collection_stats("html_f1") == {"html_f1": 12}


def test_writes_leave_no_stats_manifest(spark, docs_tiny, tmp_path):
    """Insert, upsert and drop keep no count manifest beside the data:
    the warehouse root holds no ``_stats`` entry afterwards."""
    store = CollectionStore(
        spark, StoreConfig(warehouse_dir=str(tmp_path / "w"))
    )
    docs = _f1_docs(docs_tiny, 6)
    store.insert_documents(docs, embedding_config=EMB)
    store.upsert_documents(
        docs.limit(2), key_col="doc_id", embedding_config=EMB
    )
    store.drop_collection("html_f1")
    assert "_stats" not in os.listdir(store._root)


def test_partition_pruning_on_named_collection(store):
    name = store.list_collections()[0]
    plan = store.read(name)._jdf.queryExecution().executedPlan().toString()
    # collection predicate must become a partition filter, not a row filter
    assert "PartitionFilters: [isnotnull(collection" in plan


def test_topk_search_exact(store):
    df = store.read()
    q = query_vector("test query", EMB)
    hits = topk_search(df, q, k=5, tie_break=["doc_id"]).collect()
    assert len(hits) == 5
    scores = [h["score"] for h in hits]
    assert scores == sorted(scores, reverse=True)


def test_fanout_matches_union_of_collections(store):
    q = query_vector("another query", EMB)
    global_hits = topk_search(store.read(), q, k=3, tie_break=["doc_id"]).collect()
    per_col = []
    for c in store.list_collections():
        per_col.extend(
            topk_search(store.read(c), q, k=3, tie_break=["doc_id"]).collect()
        )
    per_col.sort(key=lambda r: (-r["score"], r["doc_id"]))
    assert [r["doc_id"] for r in global_hits] == [r["doc_id"] for r in per_col[:3]]


def test_search_facade_language_filter(store):
    hits = search_with_scores(
        store, "Seoul office address", k=3, embedding_config=EMB
    )
    # P4 detects english; all hits must be english
    assert all(h.metadata["language"] == "english" for h in hits)
    assert len(hits) <= 3


def test_rag_prompt_shape(store):
    # synthetic corpus is ASCII → detected english; an english query gets hits
    msgs = create_rag_prompt(store, "Seoul office address", k=2, embedding_config=EMB)
    assert [m["role"] for m in msgs] == ["system", "user"]
    assert "문서 1:" in msgs[0]["content"]


def test_drop_and_reset(spark, tmp_path):
    store = CollectionStore(spark, StoreConfig(warehouse_dir=str(tmp_path / "w")))
    df = spark.createDataFrame(
        [(1, "a", "f1", "t", "english", 0)],
        ["doc_id", "source", "folder_name", "text", "language", "chunk_index"],
    )
    store.insert_documents(df, embedding_config=EMB)
    assert store.list_collections() == ["html_f1"]
    store.drop_collection("html_f1")
    assert store.list_collections() == []
    with pytest.raises(ValueError):
        store.reset(confirm=False)


def test_ddl_is_uri_scheme_agnostic(spark, tmp_path):
    # DDL goes through the Hadoop FileSystem resolved from the warehouse URI
    # (not pathlib/shutil), so an explicit file:// root — standing in for
    # s3a://hdfs:// — must behave identically to a bare local path
    store = CollectionStore(
        spark, StoreConfig(warehouse_dir=f"file://{tmp_path}/wh")
    )
    df = spark.createDataFrame(
        [(1, "a", "f1", "t", "english", 0), (2, "b", "f2", "u", "english", 0)],
        ["doc_id", "source", "folder_name", "text", "language", "chunk_index"],
    )
    store.insert_documents(df, embedding_config=EMB)
    assert store.list_collections() == ["html_f1", "html_f2"]
    assert store.collection_exists("html_f1")
    store.drop_collection("html_f1")
    assert store.list_collections() == ["html_f2"]
    assert store.reset(confirm=True) == 1
    assert store.list_collections() == []


def test_compact_collection_reduces_files_keeps_rows(spark, tmp_path):
    from vectordb_etl_spark.store.layout import compact_collection

    store = CollectionStore(spark, StoreConfig(warehouse_dir=str(tmp_path / "w")))
    df = spark.createDataFrame(
        [(i, "s", "f1", f"text {i}", "english", 0) for i in range(200)],
        ["doc_id", "source", "folder_name", "text", "language", "chunk_index"],
    ).repartition(16)  # force many small files
    store.insert_documents(df, embedding_config=EMB)
    before, after = compact_collection(store, "html_f1", target_partitions=2)
    assert before >= 16 and after == 2
    assert store.read("html_f1").count() == 200


def test_store_index_lifecycle_ivf_and_graph(spark, tmp_path):
    import pyspark.sql.functions as F

    store = CollectionStore(spark, StoreConfig(warehouse_dir=str(tmp_path / "w")))
    df = spark.createDataFrame(
        [(i, "s", "f1", f"text about topic {i} with words", "english", 0)
         for i in range(60)],
        ["doc_id", "source", "folder_name", "text", "language", "chunk_index"],
    )
    store.insert_documents(df, embedding_config=EMB)
    chunks = store.read("html_f1")
    q = chunks.filter(F.col("doc_id") == 0).select("embedding").head()[0]

    ivf = store.build_index("html_f1", kind="ivf", nlist=4, max_iter=3)
    hits = ivf.search(list(q), k=3, nprobe=4, tie_break=["doc_id"],
                      output_cols=["doc_id"]).collect()
    assert len(hits) == 3 and hits[0]["score"] == 1.0  # self-hit tops

    g = store.build_index("html_f1", kind="graph", id_col="doc_id",
                          num_shards=2, m=4, ef_construction=20)
    ghits = g.search(list(q), k=3, ef=10000, output_cols=["id"]).collect()
    assert len(ghits) == 3 and ghits[0]["score"] == 1.0

    # reopen from the persisted artifact, no rebuild
    again = store.open_index("html_f1", kind="ivf")
    hits2 = again.search(list(q), k=3, nprobe=4, tie_break=["doc_id"],
                         output_cols=["doc_id"]).collect()
    assert [h["doc_id"] for h in hits2] == [h["doc_id"] for h in hits]


def test_fanout_search_indexed_matches_exact_merge(spark, tmp_path):
    """Q2 through per-collection IVF indexes (VERDICT r06 item 6): union
    of per-index probes + global merge equals the exact fan-out at the
    probe-all edge; un-indexed collections raise instead of silently
    falling back to a scan."""
    import pyspark.sql.functions as F

    store = CollectionStore(spark, StoreConfig(warehouse_dir=str(tmp_path / "w")))
    rows = [
        (i, "s", f"f{i % 3}", f"document number {i} talks about {i % 7}",
         "english", 0)
        for i in range(90)
    ]
    df = spark.createDataFrame(
        rows,
        ["doc_id", "source", "folder_name", "text", "language", "chunk_index"],
    )
    store.insert_documents(df, embedding_config=EMB)
    q = list(
        store.read().filter(F.col("doc_id") == 0).select("embedding").head()[0]
    )
    with pytest.raises(ValueError, match="no ivf index"):
        store.fanout_search_indexed(q, k=3, nprobe=4)
    exact = topk_search(
        store.read(), q, k=3, tie_break=["doc_id"], output_cols=["doc_id"]
    ).collect()
    # MIXED index state (VERDICT r07 item 4): index two of the three
    # collections, serve the third by exact scan via on_missing='exact' —
    # at the probe-all edge the merged result equals the exact fan-out
    names = store.list_collections()
    for c in names[:2]:
        store.build_index(c, kind="ivf", nlist=4, max_iter=3)
    mixed = store.fanout_search_indexed(
        q, k=3, nprobe=4, on_missing="exact",
        tie_break=["doc_id"], output_cols=["doc_id"],
    ).collect()
    assert [(r["doc_id"], r["score"]) for r in mixed] == [
        (r["doc_id"], r["score"]) for r in exact
    ]
    for c in names[2:]:
        store.build_index(c, kind="ivf", nlist=4, max_iter=3)
    got = store.fanout_search_indexed(
        q, k=3, nprobe=4, tie_break=["doc_id"], output_cols=["doc_id"]
    ).collect()
    assert [(r["doc_id"], r["score"]) for r in got] == [
        (r["doc_id"], r["score"]) for r in exact
    ]
    # graph kind: tie_break must be consumed at the merge (GraphANNIndex
    # has no tie_break parameter — forwarding it used to TypeError), and
    # the full-beam edge matches the same exact merge
    # graph mixed state first: two collections indexed, the third served
    # exact (fallback surfaces doc_id as the graph tier's `id` column)
    for c in names[:2]:
        store.build_index(c, kind="graph", id_col="doc_id",
                          num_shards=2, m=4, ef_construction=20)
    gmixed = store.fanout_search_indexed(
        q, k=3, kind="graph", ef=100_000, on_missing="exact",
        fallback_id_col="doc_id", tie_break=["id"], output_cols=["id"],
    ).collect()
    assert [(r["id"], r["score"]) for r in gmixed] == [
        (r["doc_id"], r["score"]) for r in exact
    ]
    for c in names[2:]:
        store.build_index(c, kind="graph", id_col="doc_id",
                          num_shards=2, m=4, ef_construction=20)
    ggot = store.fanout_search_indexed(
        q, k=3, kind="graph", ef=100_000, tie_break=["id"],
        output_cols=["id"],
    ).collect()
    assert [(r["id"], r["score"]) for r in ggot] == [
        (r["doc_id"], r["score"]) for r in exact
    ]


def test_search_facade_index_kind_both_tiers(spark, tmp_path):
    """VERDICT r08 item 6 — the facade's index_kind routes through the
    store's per-collection indexes (fanout_search_indexed,
    on_missing='exact'), closing the API-shape gap vs the reference whose
    search always goes through the index (milvus_store.py:254-299).
    At the probe-all / full-beam edge both index tiers must return the
    exact facade's hits even in MIXED index state (one collection
    un-indexed, served by brute-force fallback)."""
    store = CollectionStore(spark, StoreConfig(warehouse_dir=str(tmp_path / "w")))
    rows = [
        (i, f"c{i:03d}", "s", f"f{i % 3}",
         f"document number {i} talks about {i % 7}", "english", 0)
        for i in range(90)
    ]
    df = spark.createDataFrame(
        rows,
        ["doc_id", "chunk_id", "source", "folder_name", "text",
         "language", "chunk_index"],
    )
    store.insert_documents(df, embedding_config=EMB)
    q = "document number 5 talks about 5"
    exact = search_with_scores(store, q, k=3, embedding_config=EMB)
    assert len(exact) == 3
    exact_key = [(h.text, round(h.score, 6)) for h in exact]

    names = store.list_collections()
    # mixed state: two collections indexed, the third exact-fallback
    for c in names[:2]:
        store.build_index(c, kind="ivf", nlist=4, max_iter=3)
    ivf = search_with_scores(
        store, q, k=3, embedding_config=EMB, index_kind="ivf", nprobe=4
    )
    assert [(h.text, round(h.score, 6)) for h in ivf] == exact_key
    # metadata keeps user columns, drops the IVF layout key
    assert all("centroid_id" not in h.metadata for h in ivf)

    for c in names[:2]:
        store.build_index(c, kind="graph", m=4, ef_construction=64,
                          num_shards=1)
    graph = search_with_scores(
        store, q, k=3, embedding_config=EMB, index_kind="graph",
        ef=1_000_000,
    )
    assert [(h.text, round(h.score, 6)) for h in graph] == exact_key

    # the language predicate still applies on the indexed path
    ivf_f = search_with_scores(
        store, q, k=3, embedding_config=EMB, index_kind="ivf", nprobe=4,
        filter='language == "english"',
    )
    assert [(h.text, round(h.score, 6)) for h in ivf_f] == exact_key

    with pytest.raises(ValueError, match="index_kind"):
        search_with_scores(
            store, q, k=3, embedding_config=EMB, index_kind="flat"
        )

    # ADVICE r10: a typo'd filter_mode must fail fast at the facade even
    # on paths that would otherwise silently ignore it (no predicate,
    # non-graph index_kind)
    with pytest.raises(ValueError, match="filter_mode"):
        search_with_scores(
            store, q, k=3, embedding_config=EMB, filter_mode="during"
        )
    with pytest.raises(ValueError, match="filter_mode"):
        search_with_scores(
            store, q, k=3, embedding_config=EMB, index_kind="ivf",
            filter_mode="traverse",
        )

    # ACORN-style during-traversal filtering through the facade: at the
    # full-beam edge it equals the exact filtered facade result, and the
    # mode flag must not break the mixed-state exact fallback
    exact_f = search_with_scores(
        store, q, k=3, embedding_config=EMB,
        filter='language == "english"',
    )
    acorn_f = search_with_scores(
        store, q, k=3, embedding_config=EMB, index_kind="graph",
        ef=1_000_000, filter='language == "english"',
        filter_mode="traversal",
    )
    assert [(h.text, round(h.score, 6)) for h in acorn_f] == [
        (h.text, round(h.score, 6)) for h in exact_f
    ]


def test_sql_surface_over_collections(spark, store):
    views = store.create_views()
    assert "collections" in views
    n_all = spark.sql("SELECT count(*) AS n FROM collections").first()["n"]
    assert n_all == store.read().count() > 0
    one = views[1]
    rows = spark.sql(
        f"SELECT language, count(*) AS n FROM {one} GROUP BY language"
    ).collect()
    assert rows and all(r["n"] > 0 for r in rows)


def test_upsert_merges_by_key_and_leaves_other_collections(spark, tmp_path):
    import pyspark.sql.functions as F

    store = CollectionStore(spark, StoreConfig(warehouse_dir=str(tmp_path / "w")))
    cols = ["doc_id", "source", "folder_name", "text", "language", "chunk_index",
            "chunk_id"]
    base = spark.createDataFrame(
        [(i, "s", "f1" if i < 5 else "f2", f"old text {i}", "english", 0, f"c{i}")
         for i in range(10)],
        cols,
    )
    store.insert_documents(base, embedding_config=EMB)
    before_f2 = {r["chunk_id"]: r["text"] for r in store.read("html_f2").collect()}

    # upsert: replace c1, add c100 — only f1 touched
    delta = spark.createDataFrame(
        [(1, "s", "f1", "NEW text 1", "english", 0, "c1"),
         (100, "s", "f1", "brand new", "english", 0, "c100")],
        cols,
    )
    counts = store.upsert_documents(delta, embedding_config=EMB)
    assert counts == {"html_f1": 6}  # 5 old - 1 replaced + 1 replaced + 1 new
    f1 = {r["chunk_id"]: r["text"] for r in store.read("html_f1").collect()}
    assert f1["c1"] == "NEW text 1" and f1["c100"] == "brand new"
    assert f1["c0"] == "old text 0"  # untouched key survives
    after_f2 = {r["chunk_id"]: r["text"] for r in store.read("html_f2").collect()}
    assert after_f2 == before_f2  # other collection byte-identical


def _jobs_of(spark, group, fn):
    """``fn()`` and the number of Spark jobs it ran, counted by job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, "job-count pin")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_upsert_counts_each_collection_from_its_own_write(
    spark, tmp_path, monkeypatch
):
    """An upsert counts each rewritten collection with an observation on
    its staging write. The counts equal a read-back of the data, the
    observation adds no job to the write, and the read-back it replaces
    costs 3 jobs per collection (a schema job, and a count that adaptive
    execution runs as two), so an upsert touching N collections runs 3N
    fewer jobs than writing and then reading back to count."""
    from vectordb_etl_spark.store import collections

    store = _ivf_store(spark, tmp_path / "w", 30, 3)
    # materialized: each upsert replaces the files this batch comes from
    batch = (
        store.read().filter(F.col("doc_id") < 6).drop("collection").localCheckpoint()
    )
    names = store.list_collections()
    n = len(names)
    assert n == 3

    def upsert():
        return store.upsert_documents(batch, key_col="doc_id", embed=False)

    upsert()  # warm
    counts, counted_jobs = _jobs_of(spark, "upsert-counted", upsert)
    readback, readback_jobs = _jobs_of(spark, "upsert-readback", lambda: {
        name: spark.read.parquet(f"{store._data_dir}/collection={name}").count()
        for name in names
    })
    assert counts == readback == {name: 10 for name in names}
    assert readback_jobs == 3 * n, readback_jobs

    def write_uncounted(df, path):
        df.write.mode("overwrite").parquet(path)
        return 0

    monkeypatch.setattr(collections, "write_counted", write_uncounted)
    _, uncounted_jobs = _jobs_of(spark, "upsert-uncounted", upsert)
    assert counted_jobs == uncounted_jobs, (counted_jobs, uncounted_jobs)


def test_warm_upsert_reads_the_store_without_a_job(spark, tmp_path, monkeypatch):
    """A warm upsert reads the rows it keeps from one listing of the
    store under the remembered schema: outside its staging writes it
    runs only the job that finds the affected collections, where a
    per-collection read costs one schema job per collection."""
    from vectordb_etl_spark.store import collections

    store = _ivf_store(spark, tmp_path / "w", 30, 3)
    batch = (
        store.read().filter(F.col("doc_id") < 6).drop("collection").localCheckpoint()
    )
    names = store.list_collections()
    n = len(names)
    assert n == 3
    sc = spark.sparkContext
    write_counted = collections.write_counted

    def write_in_own_group(df, path):
        outer = sc.getLocalProperty("spark.jobGroup.id")
        sc.setJobGroup("upsert-writes", "job-count pin")
        try:
            return write_counted(df, path)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", outer)

    monkeypatch.setattr(collections, "write_counted", write_in_own_group)

    def upsert():
        return store.upsert_documents(batch, key_col="doc_id", embed=False)

    upsert()
    store.read()  # as a search between upserts does
    counts, rest_jobs = _jobs_of(spark, "upsert-rest", upsert)
    assert counts == {name: 10 for name in names}
    _, affected_jobs = _jobs_of(spark, "upsert-affected", lambda: (
        store._tag_batch(batch, True, "folder_name", False)
        .select("collection").distinct().collect()
    ))
    assert rest_jobs == affected_jobs, (rest_jobs, affected_jobs)
    _, read_jobs = _jobs_of(spark, "per-collection-read", lambda: [
        spark.read.parquet(f"{store._data_dir}/collection={name}")
        for name in names
    ])
    assert read_jobs == n


def test_multi_collection_upsert_restores_every_crashed_swap(spark, tmp_path):
    """An upsert over several collections reads the store once, but a
    collection whose crashed swap it restores after that read is read
    again, so its old rows survive. Two crashed collections make one of
    them come after the read in any order the upsert takes."""
    store = _ivf_store(spark, tmp_path / "w", 30, 3)
    fs = store._fs(store._data_dir)
    for name in ("html_f1", "html_f2"):
        assert fs.rename(
            store._jpath(f"{store._data_dir}/collection={name}"),
            store._jpath(f"{store._data_dir}/.old-collection={name}"),
        )
    batch = spark.createDataFrame(
        [(i, "s", f"f{i % 3}", f"new text {i}", "english", 0) for i in range(3)],
        ["doc_id", "source", "folder_name", "text", "language", "chunk_index"],
    )
    counts = store.upsert_documents(batch, key_col="doc_id", embedding_config=EMB)
    assert counts == {"html_f0": 10, "html_f1": 10, "html_f2": 10}
    assert store.collection_stats() == counts
    new = store.read().filter(F.col("text").startswith("new text")).count()
    assert new == 3


def test_hybrid_rrf_fuses_keyword_and_vector(spark):
    import pyspark.sql.functions as F

    from vectordb_etl_spark.operators.topk import hybrid_rrf_search

    q = [1.0, 0.0, 0.0, 0.0]
    rows = [
        (1, "spark shuffle window spark", [0.0, 1.0, 0.0, 0.0]),  # keyword hit
        (2, "nothing relevant here at all", [1.0, 0.0, 0.0, 0.0]),  # vector hit
        (3, "spark appears once", [0.9, 0.1, 0.0, 0.0]),  # both
        (4, "unrelated text", [0.0, 0.0, 1.0, 0.0]),  # neither
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, embedding array<double>")
    out = hybrid_rrf_search(df, ["spark", "shuffle", "window"], q, k=4).collect()
    order = [r["doc_id"] for r in out]
    # docs with at least one strong rank beat the doc strong on neither
    assert set(order[:3]) == {1, 2, 3} and order[-1] == 4
    by_id = {r["doc_id"]: r for r in out}
    assert by_id[1]["kw_rank"] == 1 and by_id[2]["vec_rank"] == 1
    rrfs = [r["rrf"] for r in out]
    assert rrfs == sorted(rrfs, reverse=True)


def test_connected_components_raises_on_non_convergence(spark):
    from vectordb_etl_spark.operators.dedup import connected_components

    nodes = spark.createDataFrame([(i,) for i in range(1, 8)], ["doc_id"])
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 7)], ["id_a", "id_b"]
    )
    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="did not converge"):
        connected_components(nodes, chain, max_iter=2)  # diameter 6 > 2


def test_hybrid_rrf_punctuation_edged_terms_match(spark):
    # "c++" has no word-char trailing edge, so a blind \b suffix anchor
    # could never match; the pattern builder must drop anchors at
    # non-word edges while keeping them at word edges
    from vectordb_etl_spark.operators.topk import hybrid_rrf_search

    q = [1.0, 0.0]
    rows = [
        (1, "we use c++ daily for systems work", [0.0, 1.0]),
        (2, "we use crystal daily for gems", [0.0, 1.0]),   # no c++ hit
        (3, "speaks of cc and c only", [0.0, 1.0]),          # substring guard
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, embedding array<double>")
    out = {r["doc_id"]: r for r in hybrid_rrf_search(df, ["c++"], q, k=3).collect()}
    assert out[1]["kw_rank"] == 1          # c++ matched
    assert out[2]["kw_rank"] > 1 or out[2]["kw_rank"] is None
    # leading \b still applies: "c" inside "crystal"/"cc" must not count
    assert out[3]["kw_rank"] != 1


def test_search_blank_filter_string_falls_back_to_autodetect(spark, tmp_path):
    from vectordb_etl_spark.config import EmbeddingConfig, StoreConfig
    from vectordb_etl_spark.embeddings import with_embeddings
    from vectordb_etl_spark.search import search_with_scores
    from vectordb_etl_spark.store.collections import CollectionStore

    cfg = EmbeddingConfig(dimension=8)
    store = CollectionStore(spark, StoreConfig(warehouse_dir=str(tmp_path / "wh")))
    chunks = spark.createDataFrame(
        [("c1", "english office text", "english", "f"),
         ("c2", "한국어 사무실 문서", "korean", "f")],
        "chunk_id string, text string, language string, folder_name string",
    )
    store.insert_documents(with_embeddings(chunks, config=cfg), embed=False)
    # blank filter ≡ no filter: the English query auto-detects to english
    hits = search_with_scores(
        store, "office", k=2, search_all_collections=True,
        filter="   ", embedding_config=cfg,
    )
    assert hits and all(h.metadata["language"] == "english" for h in hits)


@pytest.mark.parametrize("recover", ["upsert_documents", "compact_collection"])
def test_upsert_recovers_from_crash_mid_swap(spark, tmp_path, recover):
    # simulate a crash between rename-aside and rename-in: the partition
    # dir is ABSENT and the only copy of the old rows lives in the aside.
    # Upsert and compaction swap through one replace_dir and share its
    # aside, so whichever operation touches the collection next must
    # restore the aside first — not treat the collection as new and then
    # delete the backup (silent total loss).
    from vectordb_etl_spark.store.layout import compact_collection

    store = CollectionStore(spark, StoreConfig(warehouse_dir=str(tmp_path / "w")))
    cols = ["doc_id", "source", "folder_name", "text", "language",
            "chunk_index", "chunk_id"]
    base = spark.createDataFrame(
        [(i, "s", "f1", f"old text {i}", "english", 0, f"c{i}")
         for i in range(5)],
        cols,
    )
    store.insert_documents(base, embedding_config=EMB)

    part = f"{store._data_dir}/collection=html_f1"
    aside = f"{store._data_dir}/.old-collection=html_f1"
    fs = store._fs(part)
    assert fs.rename(store._jpath(part), store._jpath(aside))  # crash state

    if recover == "compact_collection":
        compact_collection(store, "html_f1", target_partitions=1)
        assert store.read("html_f1").count() == 5
        assert not fs.exists(store._jpath(aside))
    delta = spark.createDataFrame(
        [(1, "s", "f1", "NEW text 1", "english", 0, "c1"),
         (9, "s", "f1", "brand new", "english", 0, "c9")], cols
    )
    counts = store.upsert_documents(delta, embedding_config=EMB)
    assert counts == {"html_f1": 6}  # 4 surviving old + 1 replaced + 1 new
    f1 = {r["chunk_id"]: r["text"] for r in store.read("html_f1").collect()}
    assert set(f1) == {"c0", "c1", "c2", "c3", "c4", "c9"}
    assert f1["c1"] == "NEW text 1"
    assert f1["c0"] == "old text 0"  # old rows restored from the aside
    assert not fs.exists(store._jpath(aside))


def test_vacuum_removes_orphans_but_preserves_sole_backups(spark, tmp_path):
    store = CollectionStore(spark, StoreConfig(warehouse_dir=str(tmp_path / "w")))
    cols = ["doc_id", "source", "folder_name", "text", "language",
            "chunk_index", "chunk_id"]
    base = spark.createDataFrame(
        [(i, "s", "f1", f"t {i}", "english", 0, f"c{i}") for i in range(3)],
        cols,
    )
    store.insert_documents(base, embedding_config=EMB)
    fs = store._fs(store._data_dir)

    # orphan staging dir (crash before swap) + stale aside NEXT TO a live
    # destination: both garbage
    fs.mkdirs(store._jpath(f"{store._data_dir}/.staging-collection=html_f1"))
    fs.mkdirs(store._jpath(f"{store._data_dir}/.old-collection=html_f1"))
    # an aside whose destination is ABSENT: the sole backup — must survive
    fs.mkdirs(store._jpath(f"{store._data_dir}/.old-collection=html_gone"))

    # default grace window: freshly-written work dirs look like an in-flight
    # writer's staging area and must be SKIPPED (ADVICE r03 — a concurrent
    # vacuum must not race an upsert that is about to rename its staging dir)
    assert store.vacuum() == []
    removed = sorted(store.vacuum(grace_s=0))
    assert removed == [
        ".old-collection=html_f1", ".staging-collection=html_f1",
    ]
    assert fs.exists(
        store._jpath(f"{store._data_dir}/.old-collection=html_gone")
    )
    # live data untouched
    assert store.read("html_f1").count() == 3


def test_drop_collection_removes_asides(spark, tmp_path):
    # dropping a collection must also clear its swap work dirs, or the next
    # upsert's crash recovery would resurrect the dropped rows
    store = CollectionStore(spark, StoreConfig(warehouse_dir=str(tmp_path / "w")))
    cols = ["doc_id", "source", "folder_name", "text", "language",
            "chunk_index", "chunk_id"]
    base = spark.createDataFrame(
        [(0, "s", "f1", "dropped text", "english", 0, "c0")], cols
    )
    store.insert_documents(base, embedding_config=EMB)
    part = f"{store._data_dir}/collection=html_f1"
    aside = f"{store._data_dir}/.old-collection=html_f1"
    fs = store._fs(part)
    assert fs.rename(store._jpath(part), store._jpath(aside))  # crash state

    store.drop_collection("html_f1")
    assert not fs.exists(store._jpath(aside))

    delta = spark.createDataFrame(
        [(1, "s", "f1", "fresh", "english", 0, "c1")], cols
    )
    counts = store.upsert_documents(delta, embedding_config=EMB)
    assert counts == {"html_f1": 1}  # dropped rows did NOT come back


def test_integrity_checks_fire_on_planted_violations(spark):
    """The validation checks must actually COUNT violations, not just
    report zeros on clean data: plant two orphan rows and a duplicated
    primary key and assert the exact counts."""
    from vectordb_etl_spark.store.validation import (
        integrity_report,
        orphan_check,
        unique_check,
    )

    parent = spark.createDataFrame([(1,), (2,)], ["pk"])
    child = spark.createDataFrame(
        [(1, 10), (2, 11), (99, 12), (98, 13), (None, 14)], ["fk", "x"]
    )
    dup = spark.createDataFrame([(1,), (1,), (2,), (3,), (3,)], ["k"])
    # a NULL parent key must not flip the orphan count to zero (the
    # NOT-IN three-valued-logic trap); NULL child keys are not violations
    # (dbt relationship-test convention)
    parent_with_null = spark.createDataFrame([(1,), (2,), (None,)], ["pk"])
    rows = {
        r["check_name"]: r["violations"]
        for r in integrity_report(
            [
                orphan_check("orphans", child, "fk", parent, "pk"),
                orphan_check(
                    "orphans_null_parent", child, "fk", parent_with_null, "pk"
                ),
                unique_check("dups", dup, "k"),
                unique_check("clean", parent, "pk"),
            ]
        ).collect()
    }
    assert rows == {
        "orphans": 2,  # 99 and 98; the NULL child key is excluded
        "orphans_null_parent": 2,
        "dups": 2,
        "clean": 0,
    }


# --------------------------------------------------------------------------
# Dynamic metadata fields — enable_dynamic_field parity (VERDICT r10 item 1;
# reference modules/milvus_store.py:62-66)
# --------------------------------------------------------------------------


def test_fold_dynamic_meta_schema_and_precedence(spark):
    from vectordb_etl_spark.store.collections import fold_dynamic_meta

    df = spark.createDataFrame(
        [(1, "a", "x", 3, {"k": "v", "rating": "stale"}), (2, "b", "y", 7, None)],
        "doc_id long, text string, rating string, extra_n int, "
        "meta map<string,string>",
    )
    out = fold_dynamic_meta(df)
    assert set(out.columns) == {"doc_id", "text", "meta"}
    assert dict(out.schema["meta"].dataType.jsonValue(),) == {
        "type": "map", "keyType": "string", "valueType": "string",
        "valueContainsNull": True,
    }
    rows = {r["doc_id"]: r["meta"] for r in out.collect()}
    # typed column wins over a stale pre-existing meta key; existing
    # non-colliding keys survive; NULL pre-existing meta coalesces
    assert rows[1] == {"k": "v", "rating": "x", "extra_n": "3"}
    assert rows[2] == {"rating": "y", "extra_n": "7"}
    # no extras at all -> empty (not null) map, stable schema
    none = fold_dynamic_meta(df.select("doc_id", "text"))
    assert none.collect()[0]["meta"] == {}


def test_dynamic_meta_store_roundtrip_and_facade(spark, docs_tiny, tmp_path):
    """Insert docs carrying extra loader-specific fields with
    dynamic_meta=True; the parquet schema stays fixed, a Milvus-style
    filter string naming the dynamic field directly reaches the meta map,
    and hits surface dynamic fields as top-level metadata keys."""
    store = CollectionStore(
        spark, StoreConfig(warehouse_dir=str(tmp_path / "w"))
    )
    docs = docs_tiny.select(
        "doc_id",
        "source",
        F.col("source").alias("folder_name"),
        "text",
        detect_language_content_col("text").alias("language"),
        F.lit("crawler-7").alias("ingest_job"),      # dynamic
        (F.col("doc_id") % 3).alias("shard_hint"),   # dynamic, numeric
    ).limit(20)
    store.insert_documents(
        docs, embedding_config=EMB, mode="overwrite", dynamic_meta=True
    )
    back = store.read()
    assert "ingest_job" not in back.columns and "meta" in back.columns

    hits = search_with_scores(
        store, "query", k=3, embedding_config=EMB,
        filter='ingest_job == "crawler-7" and shard_hint >= 1',
    )
    assert len(hits) == 3
    for h in hits:
        assert h.metadata["ingest_job"] == "crawler-7"
        assert int(h.metadata["shard_hint"]) >= 1
        assert "meta" not in h.metadata  # flattened, not nested

    # upsert path folds too and merges into the same stable schema
    more = docs.limit(5).withColumn("ingest_job", F.lit("crawler-8"))
    store.upsert_documents(
        more, key_col="doc_id", embedding_config=EMB, dynamic_meta=True
    )
    re = store.read()
    assert "ingest_job" not in re.columns
    n8 = re.filter(F.col("meta")["ingest_job"] == "crawler-8").count()
    assert n8 == 5


def test_mixed_schema_warehouse_reads_the_union(spark, docs_tiny, tmp_path):
    """A warehouse mixing pre-meta and dynamic-meta batches: the store's
    read surfaces `meta` whichever footer comes first, and so do both
    exact search paths."""
    store = CollectionStore(
        spark, StoreConfig(warehouse_dir=str(tmp_path / "w"))
    )
    base = docs_tiny.select(
        "doc_id", "source", F.lit("old").alias("folder_name"), "text",
        F.lit("english").alias("language"),
    ).limit(5)
    store.insert_documents(base, embedding_config=EMB)            # no meta
    store.insert_documents(                                        # meta
        base.withColumn("folder_name", F.lit("new"))
        .withColumn("batch_tag", F.lit("b7")),
        embedding_config=EMB, dynamic_meta=True,
    )
    merged = store.read()
    assert "meta" in merged.columns
    tagged = merged.filter(F.col("meta")["batch_tag"] == "b7")
    assert tagged.count() == 5
    # pre-meta rows read back with NULL meta, not an error
    assert merged.filter(F.col("meta").isNull()).count() == 5

    # a dynamic-field filter through (a) the non-indexed exact path and
    # (b) the fanout exact fallback (index_kind set, no index built) must
    # both resolve `meta` and return only the tagged rows
    exact = search_with_scores(
        store, "query", k=10, embedding_config=EMB,
        filter='batch_tag == "b7"',
    )
    assert len(exact) == 5
    assert all(h.metadata["batch_tag"] == "b7" for h in exact)
    fb = search_with_scores(
        store, "query", k=10, embedding_config=EMB,
        filter='batch_tag == "b7"', index_kind="ivf",
    )
    assert [h.metadata.get("doc_id") for h in fb] == [
        h.metadata.get("doc_id") for h in exact
    ]


def test_new_typed_column_is_filterable_by_the_next_search(
    spark, docs_tiny, tmp_path
):
    """A typed column that a write puts into one collection only, one
    listed after the older collections, is visible to the next search:
    its filter resolves and matches only the new rows."""
    store = CollectionStore(
        spark, StoreConfig(warehouse_dir=str(tmp_path / "w"))
    )
    docs = _f1_docs(docs_tiny, 6)
    store.insert_documents(
        docs.withColumn("folder_name", F.lit("m")), embedding_config=EMB
    )
    assert search_with_scores(store, "query", k=3, embedding_config=EMB)
    store.insert_documents(
        docs.limit(3).withColumn("folder_name", F.lit("z"))
        .withColumn("rating", F.lit(4)),
        embedding_config=EMB,
    )
    hits = search_with_scores(
        store, "query", k=10, embedding_config=EMB, filter="rating == 4"
    )
    assert len(hits) == 3
    assert all(
        h.metadata["collection"] == "html_z" and h.metadata["rating"] == 4
        for h in hits
    )


def test_l2_store_ranks_every_kind_under_its_metric(spark, tmp_path):
    """An L2 store's facade ranks by L2 distance whatever the kind: its
    exact search equals its IVF search with every cell probed, ids and
    scores, and the scores are distances that ascend."""
    store = _ivf_store(spark, tmp_path / "w", 40, 2, metric_type="L2")
    for n in store.list_collections():
        store.build_index(n, kind="ivf", nlist=4, max_iter=3)

    def run(**kwargs):
        return [
            (h.metadata["doc_id"], h.score)
            for h in search_with_scores(
                store, "document number 5 about 5 and 10", k=5,
                embedding_config=EMB, **kwargs,
            )
        ]

    exact = run()
    assert len(exact) == 5
    assert exact == run(index_kind="ivf", nprobe=4)
    assert exact[0] == (5, 0.0)
    assert [s for _, s in exact] == sorted(s for _, s in exact)


def test_collection_name_col_empty_folder_matches_python_twin(spark):
    """'' folders must land in '<prefix>_documents' on BOTH twins: the
    Python rule treats '' as falsy (config.py:81), so the column rule
    must too — otherwise the two disagree on where data lives."""
    from vectordb_etl_spark.store.collections import collection_name_col

    cfg = StoreConfig()
    cases = [None, "", "root", "My-Folder", "a b"]
    df = spark.createDataFrame(
        [(f,) for f in cases], "folder string"
    ).withColumn("c", collection_name_col(cfg.collection_prefix, F.col("folder")))
    got = {r["folder"]: r["c"] for r in df.collect()}
    for f in cases:
        assert got[f] == cfg.collection_name(f), f"folder={f!r}"


def test_dynamic_meta_filter_through_ivf_index(spark, docs_tiny, tmp_path):
    """Milvus composes dynamic-field exprs WITH the index
    (milvus_store.py:62-66 + 254-299): a dynamic-meta filter string must
    work through index_kind='ivf' too — the meta map rides the index
    layout and the predicate applies above the pruned probe scan."""
    store = CollectionStore(
        spark, StoreConfig(warehouse_dir=str(tmp_path / "w"))
    )
    docs = docs_tiny.select(
        "doc_id", "source", F.lit("f1").alias("folder_name"), "text",
        detect_language_content_col("text").alias("language"),
        (F.col("doc_id") % 3).alias("shard_hint"),   # dynamic
    ).limit(30)
    store.insert_documents(docs, embedding_config=EMB, dynamic_meta=True)
    store.build_index("html_f1", kind="ivf", nlist=4, max_iter=3)
    hits = search_with_scores(
        store, "query", k=3, embedding_config=EMB,
        index_kind="ivf", nprobe=4, filter="shard_hint == 1",
    )
    assert len(hits) == 3
    assert all(h.metadata["shard_hint"] == "1" for h in hits)
    # exact path with the same dynamic filter ranks identically at
    # probe-all (nprobe=nlist makes the indexed path exact)
    exact = search_with_scores(
        store, "query", k=3, embedding_config=EMB, filter="shard_hint == 1",
    )
    assert [round(h.score, 6) for h in hits] == [
        round(h.score, 6) for h in exact
    ]


def test_insert_returns_batch_counts_not_warehouse_totals(spark, tmp_path):
    """Reference parity (milvus_store.py:176-234 accumulates per-batch
    inserted counts): a second append must report ITS rows, not the
    warehouse total — and the count must come from the batch, never a
    post-write scan of every collection."""
    store = CollectionStore(
        spark, StoreConfig(warehouse_dir=str(tmp_path / "w"))
    )
    df = spark.createDataFrame(
        [(i, "s", "f1", f"text {i}", "english", 0) for i in range(10)],
        ["doc_id", "source", "folder_name", "text", "language", "chunk_index"],
    )
    first = store.insert_documents(df, embedding_config=EMB)
    assert first == {"html_f1": 10}
    second = store.insert_documents(df.limit(3), embedding_config=EMB)
    assert second == {"html_f1": 3}          # batch, not 13
    assert store.read("html_f1").count() == 13  # warehouse total intact


def test_dynamic_meta_filter_through_graph_index(spark, docs_tiny, tmp_path):
    """The graph tier carries the dynamic meta map too: build_index's
    default passthrough includes it, post AND traversal (ACORN) filter
    modes accept a dynamic-field filter string, and hits flatten the
    dynamic keys — full-beam edge makes both modes exact."""
    store = CollectionStore(
        spark, StoreConfig(warehouse_dir=str(tmp_path / "w"))
    )
    docs = docs_tiny.select(
        "doc_id", "source", F.lit("f1").alias("folder_name"), "text",
        detect_language_content_col("text").alias("language"),
        (F.col("doc_id") % 3).alias("grp"),   # dynamic
    ).limit(30)
    store.insert_documents(docs, embedding_config=EMB, dynamic_meta=True)
    store.build_index(
        "html_f1", kind="graph", id_col="doc_id",
        num_shards=2, m=4, ef_construction=20,
    )
    exact = search_with_scores(
        store, "query", k=3, embedding_config=EMB, filter="grp == 1",
    )
    for mode in ("post", "traversal"):
        hits = search_with_scores(
            store, "query", k=3, embedding_config=EMB,
            index_kind="graph", ef=1_000_000, filter="grp == 1",
            filter_mode=mode,
        )
        assert [round(h.score, 6) for h in hits] == [
            round(h.score, 6) for h in exact
        ], mode
        assert all(h.metadata["grp"] == "1" for h in hits)
        assert all("meta" not in h.metadata for h in hits)


def test_dynamic_field_stats_introspection(spark, docs_tiny, tmp_path):
    store = CollectionStore(
        spark, StoreConfig(warehouse_dir=str(tmp_path / "w"))
    )
    docs = docs_tiny.select(
        "doc_id", "source", F.lit("f1").alias("folder_name"), "text",
        F.lit("english").alias("language"),
        (F.col("doc_id") % 4).alias("grp"),
        F.lit("crawl9").alias("job"),
    ).limit(20)
    store.insert_documents(docs, embedding_config=EMB, dynamic_meta=True)
    stats = {
        r["key"]: (r["n_rows"], r["n_values"])
        for r in store.dynamic_field_stats().collect()
    }
    assert stats == {"grp": (20, 4), "job": (20, 1)}
    # store without a meta column: empty result, stable schema, no error
    bare = CollectionStore(
        spark, StoreConfig(warehouse_dir=str(tmp_path / "w2"))
    )
    bare.insert_documents(docs.drop("grp", "job"), embedding_config=EMB)
    empty = bare.dynamic_field_stats()
    assert empty.count() == 0
    assert empty.columns == ["key", "n_rows", "n_values"]


def test_collection_naming_rule_matches_reference(spark, tmp_path):
    """Reference MilvusConfig.get_collection_name (modules/config.py:37-43):
    lowercase, '-'/' ' -> '_', 'root' folder -> the default
    '<prefix>_documents' collection — applied identically by the config
    helper (driver-side) and the sink column (JVM-side)."""
    from vectordb_etl_spark.config import StoreConfig as SC

    cfg = SC()
    assert cfg.collection_name("My-Docs Files") == "html_my_docs_files"
    assert cfg.collection_name("root") == "html_documents"
    assert cfg.collection_name(None) == "html_documents"
    assert cfg.collection_name("plain") == "html_plain"

    store = CollectionStore(spark, SC(warehouse_dir=str(tmp_path / "w")))
    df = spark.createDataFrame(
        [(1, "s", "My-Docs Files", "t", "english", 0),
         (2, "s", "root", "u", "english", 0)],
        ["doc_id", "source", "folder_name", "text", "language", "chunk_index"],
    )
    counts = store.insert_documents(df, embedding_config=EMB)
    assert set(counts) == {"html_my_docs_files", "html_documents"}
    assert store.list_collections() == ["html_documents", "html_my_docs_files"]


def test_graph_exact_fallback_with_meta_output_cols(spark, docs_tiny, tmp_path):
    """Code-review r11: the graph-kind EXACT fallback (un-indexed
    collection served by brute force) used output_cols as topk_search
    tie-breakers — with dynamic meta in output_cols that was an orderBy
    on a MapType. Must serve, return dynamic fields, and rank like the
    plain exact facade."""
    store = CollectionStore(
        spark, StoreConfig(warehouse_dir=str(tmp_path / "w"))
    )
    docs = docs_tiny.select(
        "doc_id", "source", F.lit("f1").alias("folder_name"), "text",
        detect_language_content_col("text").alias("language"),
        (F.col("doc_id") % 3).alias("grp"),
    ).limit(20)
    store.insert_documents(docs, embedding_config=EMB, dynamic_meta=True)
    # NO graph index built: index_kind='graph' takes the exact fallback
    hits = search_with_scores(
        store, "query", k=3, embedding_config=EMB,
        index_kind="graph", ef=1_000_000,
    )
    exact = search_with_scores(store, "query", k=3, embedding_config=EMB)
    assert [round(h.score, 6) for h in hits] == [
        round(h.score, 6) for h in exact
    ]
    assert all("grp" in h.metadata for h in hits)


def test_pre_naming_rule_partition_warns(spark, tmp_path):
    """Code-review r11: a warehouse written before the naming rule holds
    collection=html_My-Docs / collection=html_root style partitions; a
    post-rule insert targeting the sanitized names must WARN about the
    split instead of silently leaving duplicate-key twins behind."""
    import shutil
    import warnings as w

    store = CollectionStore(
        spark, StoreConfig(warehouse_dir=str(tmp_path / "w"))
    )
    df = spark.createDataFrame(
        [(1, "s", "my_docs", "t", "english", 0),
         (2, "s", "plain", "u", "english", 0)],
        ["doc_id", "source", "folder_name", "text", "language", "chunk_index"],
    )
    store.insert_documents(df, embedding_config=EMB)
    # forge pre-rule spellings next to the sanitized ones
    base = tmp_path / "w" / "collections"
    shutil.copytree(base / "collection=html_my_docs",
                    base / "collection=html_My-Docs")
    shutil.copytree(base / "collection=html_plain",
                    base / "collection=html_root")
    with pytest.warns(UserWarning, match="pre-naming-rule"):
        store.insert_documents(df.filter(F.col("doc_id") == 1),
                               embedding_config=EMB)
    no_folder = df.drop("folder_name")  # targets the html_documents default
    with pytest.warns(UserWarning, match="html_root"):
        store.upsert_documents(no_folder, key_col="doc_id",
                               embedding_config=EMB)


def test_insert_count_rows_false_skips_count(spark, tmp_path):
    store = CollectionStore(
        spark, StoreConfig(warehouse_dir=str(tmp_path / "w"))
    )
    df = spark.createDataFrame(
        [(1, "s", "f1", "t", "english", 0)],
        ["doc_id", "source", "folder_name", "text", "language", "chunk_index"],
    )
    out = store.insert_documents(df, embedding_config=EMB, count_rows=False)
    assert out == {}
    assert store.read("html_f1").count() == 1


def _ivf_store(spark, root, n_rows, n_folders, **config):
    store = CollectionStore(spark, StoreConfig(warehouse_dir=str(root), **config))
    df = spark.createDataFrame(
        [
            (i, "s", f"f{i % n_folders}",
             f"document number {i} about {i % 7} and {i * 13 % 11}", "english", 0)
            for i in range(n_rows)
        ],
        ["doc_id", "source", "folder_name", "text", "language", "chunk_index"],
    )
    store.insert_documents(df, embedding_config=EMB)
    return store


def _stored_cells(spark, idx) -> int:
    """How many distinct cells hold rows in an IVF index's ``data/``."""
    return (
        spark.read.parquet(f"{idx.path}/data").select("centroid_id").distinct().count()
    )


def _exact(store, q, collection=None, k=3):
    return [
        (r["doc_id"], r["score"])
        for r in topk_search(
            store.read(collection), q, k=k, tie_break=["doc_id"],
            output_cols=["doc_id"],
        ).collect()
    ]


def _probe_all(store, q, collection, nprobe, k=3):
    return [
        (r["doc_id"], r["score"])
        for r in store.fanout_search_indexed(
            q, k=k, nprobe=nprobe, collections=[collection],
            tie_break=["doc_id"], output_cols=["doc_id"],
        ).collect()
    ]


def test_store_index_handle_sees_appends_from_any_writer_and_compaction(
    spark, tmp_path
):
    """The store keeps the handle build_index made, and that handle lists
    the cells on every search: rows appended by its own add(), by a
    second handle on the same path, and the layout after compact() are
    all served without reopening."""
    from vectordb_etl_spark.operators.ann import IVFIndex

    store = _ivf_store(spark, tmp_path / "w", 40, 1)
    name = store.list_collections()[0]
    h = store.build_index(name, kind="ivf", nlist=4, max_iter=3)
    assert store.open_index(name, kind="ivf") is h
    base = store.read(name)
    q = list(base.filter(F.col("doc_id") == 0).select("embedding").head()[0])

    def _copies(offset):
        # the query's own vector under new ids: each batch must surface
        return base.filter(F.col("doc_id") == 0).withColumn(
            "doc_id", F.col("doc_id") - offset
        )

    h.add(_copies(1))
    assert [d for d, _ in _probe_all(store, q, name, 4)][:2] == [-1, 0]
    IVFIndex(spark, store._index_path(name, "ivf")).add(_copies(2))
    assert [d for d, _ in _probe_all(store, q, name, 4)] == [-2, -1, 0]
    h.compact()
    assert [d for d, _ in _probe_all(store, q, name, 4)] == [-2, -1, 0]
    assert store.open_index(name, kind="ivf") is h
    assert h.search(q, k=100, nprobe=4).count() == 42


def test_store_serves_rebuild_made_through_another_handle(spark, tmp_path):
    """A rebuild with a different nlist through a separate handle
    replaces the centroids' commit marker; the store reopens instead of
    probing with its stale 4-centroid handle."""
    from vectordb_etl_spark.operators.ann import IVFIndex

    store = _ivf_store(spark, tmp_path / "w", 40, 1)
    name = store.list_collections()[0]
    q = list(store.read(name).filter(F.col("doc_id") == 3).select("embedding").head()[0])
    stale = store.build_index(name, kind="ivf", nlist=4, max_iter=3)
    assert _probe_all(store, q, name, 4) == _exact(store, q, name)
    IVFIndex(spark, store._index_path(name, "ivf")).build(
        store.read(name), nlist=2, max_iter=3
    )
    fresh = store.open_index(name, kind="ivf")
    assert fresh is not stale and fresh.centroids.shape[0] == 2
    assert _probe_all(store, q, name, 2) == _exact(store, q, name)
    # dropping the collection forgets its handles
    store.drop_collection(name)
    assert not any(key[0].endswith(f"/{name}/ivf") for key in store._indexes)


def test_fanout_search_indexed_defaults_to_store_config(spark, tmp_path):
    """With no nprobe argument the store's StoreConfig.nprobe applies: a
    store configured with nprobe == nlist probes every cell, so a bare
    call returns the exact top-k."""
    store = _ivf_store(spark, tmp_path / "w", 60, 1, nlist=24, nprobe=24)
    name = store.list_collections()[0]
    store.build_index(name, kind="ivf", max_iter=3)
    assert _stored_cells(spark, store.open_index(name, kind="ivf")) > 16
    for doc in (0, 5, 11):
        q = list(store.read().filter(F.col("doc_id") == doc).select("embedding").head()[0])
        got = store.fanout_search_indexed(
            q, k=5, tie_break=["doc_id"], output_cols=["doc_id"]
        ).collect()
        assert [(r["doc_id"], r["score"]) for r in got] == _exact(store, q, k=5)


def test_warm_ivf_fanout_runs_at_most_two_jobs(spark, tmp_path):
    """A warm 4-collection IVF fan-out reads each index, which has more
    than 32 cells, from one root path: no listing job (Spark lists more
    than 32 paths with a distributed job) and no schema job, so the whole
    search is at most 2 Spark jobs."""
    store = _ivf_store(spark, tmp_path / "w", 4 * 48, 4, nlist=40)
    names = store.list_collections()
    assert len(names) == 4
    for n in names:
        idx = store.build_index(n, kind="ivf", max_iter=3)
        assert _stored_cells(spark, idx) > 32
    q = list(store.read().select("embedding").head()[0])
    store.fanout_search_indexed(q, k=3, nprobe=4).collect()  # warm
    sc = spark.sparkContext
    sc.setJobGroup("warm-ivf-fanout", "job-count pin")
    try:
        hits = store.fanout_search_indexed(q, k=3, nprobe=4).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(hits) == 3
    jobs = sc.statusTracker().getJobIdsForGroup("warm-ivf-fanout")
    assert 1 <= len(jobs) <= 2, jobs


def test_warm_graph_fanout_runs_at_most_three_jobs(spark, tmp_path):
    """A warm 4-collection graph fan-out is one plan: one grouped beam
    over the union of the collections' shard layouts and one merge, so
    the whole search is at most 3 Spark jobs (one per collection and
    shard stage before)."""
    store = _ivf_store(spark, tmp_path / "w", 4 * 30, 4)
    names = store.list_collections()
    assert len(names) == 4
    for n in names:
        store.build_index(n, kind="graph", id_col="doc_id", num_shards=2,
                          m=4, ef_construction=20)
    q = list(store.read().select("embedding").head()[0])
    store.fanout_search_indexed(q, k=3, kind="graph", ef=10).collect()  # warm
    sc = spark.sparkContext
    sc.setJobGroup("warm-graph-fanout", "job-count pin")
    try:
        hits = store.fanout_search_indexed(q, k=3, kind="graph", ef=10).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(hits) == 3
    jobs = sc.statusTracker().getJobIdsForGroup("warm-graph-fanout")
    assert 1 <= len(jobs) <= 3, jobs


def test_warm_searches_run_no_schema_job(spark, tmp_path):
    """The facade reads the store under its remembered schema, so no warm
    search runs a schema-inference job: on a 4-collection store with IVF
    and graph indexes, a warm exact search, a warm filtered one and a
    warm IVF fan-out run 1 Spark job each, a warm graph fan-out at most
    2 (one per shard stage, then the merge)."""
    store = _ivf_store(spark, tmp_path / "w", 4 * 30, 4)
    names = store.list_collections()
    assert len(names) == 4
    for n in names:
        store.build_index(n, kind="ivf", nlist=8, max_iter=3)
        store.build_index(n, kind="graph", id_col="doc_id", num_shards=2,
                          m=4, ef_construction=20)
    q = "document number 5 about 5 and 10"
    for kind, kwargs, most in (
        ("exact", {}, 1),
        ("filtered", {"filter": 'language == "english"'}, 1),
        ("ivf", {"index_kind": "ivf", "nprobe": 4}, 1),
        ("graph", {"index_kind": "graph", "ef": 10}, 2),
    ):
        def run(kwargs=kwargs):
            return search_with_scores(store, q, k=3, embedding_config=EMB, **kwargs)

        run()  # warm
        hits, jobs = _jobs_of(spark, f"warm-{kind}-search", run)
        assert len(hits) == 3, kind
        assert 1 <= jobs <= most, (kind, jobs)


def _assert_read_is_fresh(spark, store):
    """The store's read has the schema and the rows of a fresh inference
    of the union of its data directory's footers."""
    got = store.read()
    fresh = spark.read.option("mergeSchema", "true").parquet(store._data_dir)
    assert got.schema == fresh.schema
    assert got.count() == fresh.count()
    return got.schema


def test_read_schema_follows_every_write(spark, docs_tiny, tmp_path):
    """The remembered schema is dropped whenever the data directory's
    files change: after an insert adding a typed column, an outside
    append with an extra column, an upsert, a drop and a reset, the
    store reads what a fresh inference reads. An emptied or reset store
    raises as an inference does."""
    from pyspark.errors import AnalysisException

    store = CollectionStore(
        spark, StoreConfig(warehouse_dir=str(tmp_path / "w"))
    )
    docs = _f1_docs(docs_tiny, 6)
    store.insert_documents(docs, embedding_config=EMB)
    first = _assert_read_is_fresh(spark, store)
    assert "rank" not in first.fieldNames()

    store.insert_documents(
        docs.withColumn("folder_name", F.lit("f2")).withColumn("rank", F.lit(3)),
        embedding_config=EMB,
    )
    _assert_read_is_fresh(spark, store)

    with_embeddings(docs.limit(2), config=EMB).withColumn(
        "tag", F.lit("outside")
    ).write.mode("append").parquet(f"{store._data_dir}/collection=html_f1")
    _assert_read_is_fresh(spark, store)

    # the upsert rewrites html_f1 whole, so every file there has `score2`
    store.upsert_documents(
        docs.limit(3).withColumn("score2", F.lit(0.5)), key_col="doc_id",
        embedding_config=EMB,
    )
    _assert_read_is_fresh(spark, store)

    store.drop_collection("html_f2")
    assert "score2" in _assert_read_is_fresh(spark, store).fieldNames()

    store.reset(confirm=True)
    with pytest.raises(AnalysisException):
        store.read()
    store.insert_documents(
        docs.drop("language").withColumn("lang2", F.lit("en")),
        embedding_config=EMB,
    )
    again = _assert_read_is_fresh(spark, store)
    assert "lang2" in again.fieldNames() and "language" not in again.fieldNames()

    store.drop_collection("html_f1")
    with pytest.raises(AnalysisException, match="UNABLE_TO_INFER_SCHEMA"):
        store.read()


def test_concurrent_reads_share_one_schema(spark, docs_tiny, tmp_path):
    """Two threads reading at once, right after a write changed the data
    directory, both get the union schema a fresh inference gives."""
    import threading

    store = CollectionStore(
        spark, StoreConfig(warehouse_dir=str(tmp_path / "w"))
    )
    docs = _f1_docs(docs_tiny, 4)
    store.insert_documents(docs, embedding_config=EMB)
    for i in range(3):
        # each round replaces html_f1 with a batch one column wider
        store.upsert_documents(
            docs.withColumn(f"extra{i}", F.lit(i)), key_col="doc_id",
            embedding_config=EMB,
        )
        fresh = (
            spark.read.option("mergeSchema", "true").parquet(store._data_dir).schema
        )
        start = threading.Barrier(2)
        got = []

        def _read():
            start.wait(timeout=60)
            for _ in range(3):
                got.append(store.read().schema)

        threads = [threading.Thread(target=_read) for _ in range(2)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
        assert not any(t.is_alive() for t in threads)
        assert len(got) == 6 and all(g == fresh for g in got), i
        assert f"extra{i}" in fresh.fieldNames()


def test_open_index_shares_one_handle_across_concurrent_callers(
    spark, tmp_path, monkeypatch
):
    """Serving threads that open the same index at once get one handle:
    the memo's check-then-open does not race into duplicate opens, even
    when opening a handle is slow."""
    import sys
    import threading
    import time

    from vectordb_etl_spark.operators.ann import IVFIndex

    store = _ivf_store(spark, tmp_path / "w", 40, 1)
    name = store.list_collections()[0]
    store.build_index(name, kind="ivf", nlist=4, max_iter=3)
    cold = CollectionStore(spark, store.config)  # same warehouse, no handles yet
    init = IVFIndex.__init__

    def _slow_init(self, *a, **kw):
        time.sleep(0.05)
        init(self, *a, **kw)

    monkeypatch.setattr(IVFIndex, "__init__", _slow_init)
    got = []
    start = threading.Barrier(8)

    def _open():
        start.wait(timeout=60)
        for _ in range(20):
            got.append(cold.open_index(name, kind="ivf"))

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=_open) for _ in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert len(got) == 160
    assert len({id(h) for h in got}) == 1


def _tie_store(spark, root):
    """Four collections with a dynamic ``meta`` field; doc 500 is stored
    three times, with the same text (so the same vector) in html_f0,
    html_f1 and html_f2, to tie on score and doc_id across collections."""
    rows = [
        (i, "s", f"f{i % 4}", f"document number {i} about {i % 7} and {i * 13 % 11}",
         "english", 0, f"t{i % 3}")
        for i in range(120)
    ] + [
        (500, "s", f, "the twin document about 3 and 5", "english", 0, "twin")
        for f in ("f0", "f1", "f2")
    ]
    store = CollectionStore(spark, StoreConfig(warehouse_dir=str(root)))
    store.insert_documents(
        spark.createDataFrame(
            rows,
            ["doc_id", "source", "folder_name", "text", "language",
             "chunk_index", "tag"],
        ),
        embedding_config=EMB, dynamic_meta=True,
    )
    return store


def _per_collection_merge(store, q, k, kind, names, indexed, tie_break,
                          output_cols, predicate=None, filter_mode="post",
                          nprobe=2, ef=6):
    """The fan-out as a loop: each collection searched on its own (its
    index, or an exact top-k over its scan), tagged, unioned and merged —
    the plan the fused fan-out replaces."""
    parts = []
    for n in names:
        scan = store.read(n).drop("collection")
        if kind == "ivf" and n in indexed:
            hits = store.open_index(n, kind="ivf").search(
                q, k=k, nprobe=nprobe, tie_break=tie_break,
                output_cols=output_cols, predicate=predicate,
            )
        elif kind == "graph" and n in indexed:
            hits = store.open_index(n, kind="graph").search(
                q, k=k, ef=ef, output_cols=output_cols, predicate=predicate,
                filter_mode=filter_mode,
            )
        else:
            if kind == "graph":
                scan = scan.withColumnRenamed("doc_id", "id")
            hits = topk_search(
                scan, q, k=k, predicate=predicate,
                tie_break=tie_break if kind == "ivf" else [
                    c for c in output_cols if c != "meta"
                ],
                output_cols=output_cols,
            )
        parts.append(hits.withColumn("collection", F.lit(n)))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy(
        F.desc("score"), *[F.asc(c) for c in tie_break], F.asc("collection")
    ).limit(k)


def _rows(df, cols):
    return [tuple(r[c] for c in cols) for r in df.collect()]


def test_fused_fanout_equals_per_collection_merge(spark, tmp_path):
    """The one-plan fan-out returns what the per-collection loop returns,
    row for row and score for score, for IVF (probing 2 of 4 cells) and
    graph (a 6-wide beam), with two collections indexed and two served
    exact, with and without a predicate, with a score tie across
    collections that only ``collection`` decides (between an exact and
    an indexed branch, against the union's order), and with ``meta`` in
    only one of the two graph layouts."""
    store = _tie_store(spark, tmp_path / "w")
    names = store.list_collections()
    assert names == ["html_f0", "html_f1", "html_f2", "html_f3"]
    indexed = ["html_f1", "html_f2"]
    for n in indexed:
        store.build_index(n, kind="ivf", nlist=4, max_iter=3)
    store.build_index("html_f1", kind="graph", id_col="doc_id", num_shards=2,
                      m=4, ef_construction=20)
    store.build_index("html_f2", kind="graph", id_col="doc_id", num_shards=2,
                      m=4, ef_construction=20,
                      passthrough=["text", "language", "collection"])
    assert "meta" in store.open_index("html_f1", kind="graph")._read().columns
    assert "meta" not in store.open_index("html_f2", kind="graph")._read().columns
    twin = store.read().filter(F.col("doc_id") == 500)
    q = list(twin.select("embedding").head()[0])
    near = list(store.read().filter(F.col("doc_id") == 8).select("embedding").head()[0])

    ivf_cols = ["doc_id", "text", "meta"]
    for query in (q, near):
        for pred in (None, F.col("doc_id") % 3 != 0):
            want = _per_collection_merge(
                store, query, 5, "ivf", names, indexed, ["doc_id"], ivf_cols,
                pred,
            )
            got = store.fanout_search_indexed(
                query, k=5, nprobe=2, on_missing="exact", tie_break=["doc_id"],
                output_cols=ivf_cols, predicate=pred,
            )
            assert got.columns == [*ivf_cols, "score", "collection"]
            cols = ["doc_id", "score", "collection"]
            assert _rows(got, cols) == _rows(want, cols)
    top = _rows(store.fanout_search_indexed(
        q, k=3, nprobe=2, on_missing="exact", tie_break=["doc_id"],
        output_cols=["doc_id"],
    ), ["doc_id", "score", "collection"])
    assert top == [(500, 1.0, f"html_f{i}") for i in range(3)]

    graph_cols = ["id", "text"]
    by = ["score", "collection", "id"]
    for query in (q, near):
        for pred, mode in (
            (None, "post"),
            (F.col("id") % 3 != 0, "post"),
            (F.col("id") % 3 != 0, "traversal"),
        ):
            want = _per_collection_merge(
                store, query, 5, "graph", names, indexed, [], graph_cols,
                pred, mode,
            )
            got = store.fanout_search_indexed(
                query, k=5, kind="graph", ef=6, on_missing="exact",
                fallback_id_col="doc_id", output_cols=graph_cols,
                predicate=pred, filter_mode=mode,
            )
            assert got.columns == [*graph_cols, "score", "collection"]
            # the loop orders ties on (score, collection) arbitrarily;
            # the fused merge breaks them by the output columns
            assert _rows(got, by) == sorted(
                _rows(want, by), key=lambda r: (-r[0], r[1], r[2])
            )
    gtop = _rows(store.fanout_search_indexed(
        q, k=3, kind="graph", ef=6, on_missing="exact",
        fallback_id_col="doc_id", output_cols=["id"],
    ), ["id", "score", "collection"])
    assert gtop == [(500, 1.0, f"html_f{i}") for i in range(3)]
    # meta is read from the layout that has it and is NULL for the one
    # that does not; the exact branch reads it from the store
    meta = {
        r["collection"]: r["meta"]
        for r in store.fanout_search_indexed(
            near, k=40, kind="graph", ef=40, on_missing="exact",
            fallback_id_col="doc_id", output_cols=["id", "meta"],
        ).collect()
    }
    assert meta["html_f2"] is None
    assert meta["html_f1"]["tag"] and meta["html_f0"]["tag"]


def _indexed_store(spark, root, n_folders, dim):
    """A store of ``n_folders`` collections of 24 rows each, embedded at
    ``dim``, with an IVF and a graph index on every collection."""
    emb = EmbeddingConfig(dimension=dim)
    store = CollectionStore(spark, StoreConfig(warehouse_dir=str(root)))
    store.insert_documents(
        spark.createDataFrame(
            [
                (i, "s", f"f{i % n_folders}",
                 f"document number {i} about {i % 7} and {i * 13 % 11}",
                 "english", i % 5)
                for i in range(24 * n_folders)
            ],
            ["doc_id", "source", "folder_name", "text", "language",
             "chunk_index"],
        ),
        embedding_config=emb,
    )
    for n in store.list_collections():
        store.build_index(n, kind="ivf", nlist=4, max_iter=3)
        store.build_index(n, kind="graph", id_col="doc_id", num_shards=2,
                          m=4, ef_construction=20)
    return store, emb


# A warm facade search's py4j commands per kind on a 4-collection store,
# at most a quarter of what the Column-API plans made before (exact 340,
# filtered 365, IVF 834, graph 380 on perfbench's serve store).
_WARM_COMMANDS_AT_MOST = {"exact": 85, "filtered": 91, "ivf": 208, "graph": 95}


def _warm_commands(store, emb) -> dict[str, int]:
    from vectordb_etl_spark.plans.inspect import py4j_commands

    first = store.list_collections()[0]
    kinds = {
        "exact": {},
        "filtered": {
            "collection_name": first,
            "filter": 'language == "english" and chunk_index < 3',
        },
        "ivf": {"index_kind": "ivf", "nprobe": 2},
        "graph": {"index_kind": "graph", "ef": 10},
    }
    out = {}
    for kind, kwargs in kinds.items():
        def run(kwargs=kwargs):
            return search_with_scores(
                store, "document number 5 about 5 and 10", k=3,
                embedding_config=emb, **kwargs,
            )

        run()
        run()  # warm: handles, schemas and JVM readers are resolved
        with py4j_commands() as counts:
            assert len(run()) == 3, kind
        out[kind] = counts["commands"]
    return out


def test_warm_facade_search_plans_in_a_fixed_number_of_py4j_commands(
    spark, tmp_path
):
    """A warm search of every kind plans in a fixed number of py4j
    commands: the same at dimension 8 and 64 (the query is one literal and
    the score one parsed text), the same on a 2- and a 4-collection store
    (one fused scan per tier, one glob for every index's commit marker),
    and at most a quarter of the Column-API plans' count."""
    four8 = _warm_commands(*_indexed_store(spark, tmp_path / "d8", 4, 8))
    four64 = _warm_commands(*_indexed_store(spark, tmp_path / "d64", 4, 64))
    two8 = _warm_commands(*_indexed_store(spark, tmp_path / "c2", 2, 8))
    assert four8 == four64, (four8, four64)
    for kind, most in _WARM_COMMANDS_AT_MOST.items():
        assert four8[kind] <= most, (kind, four8)
        # only a freshness check may cost more per collection, and by at
        # most 2 commands each: the plan itself does not grow with the
        # collections (the index stamps are one glob, the IVF probes and
        # the graph layouts one scan)
        assert 0 <= four8[kind] - two8[kind] <= 2 * (4 - 2), (kind, four8, two8)


def test_fanout_names_come_from_the_validated_file_list(spark, tmp_path):
    """A fan-out over every collection takes the names from the
    ``collection=<name>/`` segments of the file list the store's scan has
    just validated; they equal list_collections() after an insert, an
    outside append (including a name the partition writer escapes), an
    upsert and a drop_collection."""
    store = _ivf_store(spark, tmp_path / "w", 30, 3)

    def check():
        assert store.scan()[1] == store.list_collections()

    check()
    outside = store.read("html_f0").drop("collection").limit(2)
    for name in ("outside", "a b:c"):
        outside.withColumn("collection", F.lit(name)).write.mode(
            "append"
        ).partitionBy("collection").parquet(store._data_dir)
        check()
    assert "a b%3Ac" in store.list_collections()
    store.upsert_documents(
        store.read("html_f1").drop("collection", "embedding").limit(3)
        .withColumn("folder_name", F.lit("f1")),
        key_col="doc_id", embedding_config=EMB,
    )
    check()
    store.drop_collection("outside")
    check()
    assert "outside" not in store.scan()[1]


def test_index_stamps_equal_the_per_index_stamps(spark, tmp_path):
    """The one-glob stamp of every index equals each index's own commit
    stamp: a marker's time, a directory's time when the marker is gone,
    None without an index, and a name the glob would read as syntax."""
    from vectordb_etl_spark.store.collections import hadoop_fs

    store = _ivf_store(spark, tmp_path / "w", 30, 3)
    names = store.list_collections()
    store.build_index(names[0], kind="ivf", nlist=2, max_iter=2)
    store.build_index(names[1], kind="ivf", nlist=2, max_iter=2)
    store.build_index(names[1], kind="graph", id_col="doc_id", num_shards=1,
                      m=4, ef_construction=10)
    fs, marker = hadoop_fs(
        spark, store._index_path(names[1], "ivf") + "/centroids/_SUCCESS"
    )
    assert fs.delete(marker, False)
    odd = ["x,y", "missing"]
    for kind in ("ivf", "graph"):
        want = {
            n: store._index_stamp(store._index_path(n, kind), kind)
            for n in names + odd
        }
        assert store._index_stamps(names + odd, kind) == want, kind
    assert store._index_stamps(names, "ivf")[names[1]] is not None
    assert store._index_stamps(names, "ivf")[names[2]] is None


def test_fused_ivf_fanout_serves_an_index_in_the_per_cell_layout(
    spark, tmp_path
):
    """Spark will not infer the older ``centroid_id=<i>/`` layout beside a
    current one in one multi-root read, so the fused IVF fan-out scans
    such an index on its own: the answer is the same as before the
    layout change, and the same again after compact()."""
    import shutil

    store = _ivf_store(spark, tmp_path / "w", 40, 2, nlist=4, nprobe=4)
    names = store.list_collections()
    for n in names:
        store.build_index(n, kind="ivf", max_iter=3)
    q = list(store.read().filter(F.col("doc_id") == 7).select("embedding").head()[0])

    def top():
        return [
            (r["doc_id"], r["score"], r["collection"])
            for r in store.fanout_search_indexed(
                q, k=6, tie_break=["doc_id"], output_cols=["doc_id"],
            ).collect()
        ]

    want = top()
    data = store._index_path(names[1], "ivf") + "/data"
    spark.read.parquet(data).write.partitionBy("centroid_id").parquet(
        data + "-cells"
    )
    shutil.rmtree(data)
    shutil.move(data + "-cells", data)
    store._indexes.clear()  # a reopened handle finds the per-cell layout
    assert top() == want
    store.open_index(names[1], kind="ivf").compact()
    assert top() == want

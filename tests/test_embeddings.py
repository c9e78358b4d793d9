"""Embedder tests E1–E3: determinism, normalization, UDF harness."""

from __future__ import annotations

import hashlib
import math
import sys
import threading
from concurrent.futures import ThreadPoolExecutor

import numpy as np
from pyspark.sql import functions as F

from vectordb_etl_spark.config import EmbeddingConfig
from vectordb_etl_spark.embeddings import (
    HashEmbedder,
    get_embedder,
    query_vector,
    with_embeddings,
)


def test_hash_embedder_deterministic():
    e = HashEmbedder(dimension=64)
    a = e.embed_query("hello")
    b = e.embed_query("hello")
    c = e.embed_query("world")
    assert a == b
    assert a != c
    assert len(a) == 64


def test_hash_embedder_normalized():
    e = HashEmbedder(dimension=1024)
    v = np.array(e.embed_query("text"))
    assert math.isclose(np.linalg.norm(v), 1.0, rel_tol=1e-5)


def _fresh_generator_vector(text: str, dim: int, normalize: bool = True):
    """The hash embedding as first defined: a new RandomState per text."""
    seed = int.from_bytes(hashlib.md5(text.encode()).digest()[:4], "big")
    vec = np.random.RandomState(seed).standard_normal(dim)
    if normalize:
        n = np.linalg.norm(vec)
        if n > 0:
            vec = vec / n
    return vec.astype(np.float32)


TEXTS = ["hello world", "서울 사무실 주소와 수강신청방법", "", "Hà Nội", "x" * 3000]


def test_hash_embedder_bits_match_a_fresh_generator_per_text():
    """Re-seeding one held generator draws the same stream as building a
    new one for each text: every API returns the same bits."""
    for normalize in (True, False):
        e = HashEmbedder(dimension=48, normalize=normalize)
        want = np.stack([_fresh_generator_vector(t, 48, normalize) for t in TEXTS])
        m = e.embed_matrix(TEXTS)
        assert m.dtype == np.float32 and m.shape == (len(TEXTS), 48)
        assert (m.view(np.uint32) == want.view(np.uint32)).all()
        docs = np.asarray(e.embed_documents(TEXTS), dtype=np.float32)
        assert (docs.view(np.uint32) == want.view(np.uint32)).all()
        for t, w in zip(TEXTS, want):
            q = np.asarray(e.embed_query(t), dtype=np.float32)
            assert (q.view(np.uint32) == w.view(np.uint32)).all()
            assert (e.embed_one(t).view(np.uint32) == w.view(np.uint32)).all()
    assert HashEmbedder(dimension=4).embed_matrix([]).shape == (0, 4)


def test_concurrent_embed_query_on_one_embedder():
    """Serving threads share one embedder: each must draw from its own
    generator, or one thread's seed lands in another's draw. More threads
    than cores, switching as often as the interpreter allows."""
    e = HashEmbedder(dimension=256)
    texts = [f"query {i} 질문" for i in range(40)]
    want = {t: _fresh_generator_vector(t, 256).tolist() for t in texts}
    n_threads = 8
    start = threading.Barrier(n_threads)

    def worker(i):
        start.wait(timeout=30)
        order = texts[i:] + texts[:i]
        return [(t, e.embed_query(t)) for _ in range(5) for t in order]

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(n_threads) as pool:
            futures = [pool.submit(worker, i) for i in range(n_threads)]
            runs = [f.result(timeout=60) for f in futures]
    finally:
        sys.setswitchinterval(interval)
    assert all(v == want[t] for run in runs for t, v in run)


def test_embed_udf_matches_driver(spark):
    """The Arrow UDF stores the driver's vectors bit for bit, a null text
    as the empty string's, across several Arrow batches of one task."""
    cfg = EmbeddingConfig(dimension=8)
    batch = int(spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch"))
    n = batch + 3
    df = spark.range(n).coalesce(1).select(
        "id",
        F.when(F.col("id") % 1000 == 7, F.lit(None))
        .otherwise(F.concat(F.lit("텍스트 "), F.col("id").cast("string")))
        .alias("text"),
    )
    rows = with_embeddings(df, config=cfg).orderBy("id").collect()
    assert len(rows) == n and rows[7]["text"] is None
    got = np.asarray([r["embedding"] for r in rows], dtype=np.float32)
    want = get_embedder(cfg).embed_matrix([r["text"] or "" for r in rows])
    assert (got.view(np.uint32) == want.view(np.uint32)).all()


def test_query_vector_shape():
    v = query_vector("질문", EmbeddingConfig(dimension=16))
    assert len(v) == 16


def test_sq8_roundtrip_error_bound(spark):
    # |x - dequant(quant(x))| <= step/2 = (max-min)/510 per element, and
    # codes store as real 1-byte TINYINTs
    import pyspark.sql.functions as F

    from vectordb_etl_spark.functions.vector import (
        sq8_dequantize_col,
        sq8_quantize_col,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.select(
        "embedding", sq8_quantize_col("embedding").alias("q8")
    ).withColumn("deq", sq8_dequantize_col("q8"))
    assert q.schema["q8"].dataType["codes"].dataType.simpleString() == "array<tinyint>"
    err = q.select(
        F.max(
            F.aggregate(
                F.zip_with(
                    F.col("embedding").cast("array<double>"),
                    "deq",
                    lambda a, b: F.abs(a - b),
                ),
                F.lit(0.0),
                lambda acc, x: F.greatest(acc, x),
            )
            - F.col("q8.step") / 2 * 1.0000001  # fp slack on the bound itself
        ).alias("excess")
    ).first()["excess"]
    assert err <= 0


def test_sq8_constant_vector(spark):
    from vectordb_etl_spark.functions.vector import (
        sq8_dequantize_col,
        sq8_quantize_col,
    )

    df = spark.createDataFrame([([1.5] * 4,)], "embedding array<double>")
    row = df.select(
        sq8_dequantize_col(sq8_quantize_col("embedding")).alias("d")
    ).first()
    assert row["d"] == [1.5, 1.5, 1.5, 1.5]


def test_sq8_topk_recall_vs_exact(spark):
    import __spark_entry__ as entrymod
    from vectordb_etl_spark.operators.ann import recall_at_k

    sf = "/root/testdata/sf0.001"
    exact = [r["vec_id"] for r in entrymod.queries()["vector_topk"](spark, sf).collect()]
    sq8 = [r["vec_id"] for r in entrymod.queries()["sq8_topk"](spark, sf).collect()]
    assert recall_at_k(exact, sq8) >= 0.9

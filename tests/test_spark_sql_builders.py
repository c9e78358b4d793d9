"""Edge cases of the Spark-SQL text builders on the ingest path: each is
checked against its Python twin (the formula the Column API version
computed) on inputs that stress the text rendering — quotes, backslashes,
spaces, empty and whitespace-only text, and the detector's thresholds."""

from __future__ import annotations

import hashlib
import os
import re

import pytest
from pyspark.sql.types import ArrayType, StringType, StructField, StructType

from vectordb_etl_spark.config import StoreConfig
from vectordb_etl_spark.functions import language
from vectordb_etl_spark.functions.sqltext import sql_col
from vectordb_etl_spark.functions.text import chunk_id_col, estimate_tokens_col
from vectordb_etl_spark.operators import chunker
from vectordb_etl_spark.sources.scan import (
    file_metadata_spark_sql,
    load_html_documents,
)
from vectordb_etl_spark.store.collections import CollectionStore

TRICKY_TEXTS = [
    "It's \"quoted\" \\ back\\slash",
    "  it's \"QUOTED\"   \\ BACK\\slash \n",
    "a\\nb \\\\ c '' \\'",
    "줄 하나\t\n\n둘 'ㅋ' \\d+",
    "",
    "   ",
    "\t\n ",
]


def _meta_twin(path: str, root: str) -> dict:
    """The file metadata rule (html_loader.py:88-109) in Python."""
    parts = path.split("/")
    filename, folder = parts[-1], parts[-2]
    if folder == root.rstrip("/").rsplit("/", 1)[-1]:
        folder = "root"
    ext = re.search(r"\.([^.]+)$", filename)
    return {
        "source": path,
        "filename": filename,
        "folder_name": folder,
        "file_type": ext.group(1).lower() if ext else "",
    }


def _content_language_twin(text: str) -> str:
    """The P3 content detector (html_loader.py:116-150) in Python."""
    if not text:
        return "korean"
    n = len(text)
    kr = len(re.findall(language._KOREAN_CLASS, text)) / n
    vi = len(re.findall(language._VIET_CONTENT_CLASS, text)) / n
    en = len(re.findall(language._ENGLISH_CLASS, text)) / n
    if kr > 0.10:
        return "korean"
    if vi > 0.02:
        return "vietnamese"
    if en > 0.30:
        return "english"
    if kr >= vi and kr >= en:
        return "korean"
    return "vietnamese" if vi >= en else "english"


def _tokens_twin(text: str) -> int:
    """int(hangul / 1.5 + other / 4) (chunker.py:65-69)."""
    hangul = len(re.findall("[가-힣]", text))
    return int(hangul / 1.5 + (len(text) - hangul) / 4.0)


def test_file_metadata_of_paths_with_quotes_backslashes_and_spaces(spark):
    root = "file:/data/it's a \\ root/"
    paths = [
        "file:/data/it's a \\ root/o'neil page.HTML",
        "file:/data/it's a \\ root/sub dir/a\\b's.jsp",
        "file:/data/it's a \\ root/sub dir/README",
        "file:/data/it's a \\ root/x/archive.tar.GZ",
        "file:/data/other root/nested/it's a \\ root/.hidden",
    ]
    df = spark.createDataFrame([(p,) for p in paths], ["path"])
    texts = file_metadata_spark_sql(root=root)
    names = ("source", "filename", "folder_name", "file_type")
    got = [
        r.asDict()
        for r in df.select(*(sql_col(texts[c]).alias(c) for c in names)).collect()
    ]
    assert got == [_meta_twin(p, root) for p in paths]
    assert [g["folder_name"] for g in got] == ["root", "sub dir", "sub dir", "x", "root"]
    assert got[2]["file_type"] == "" and got[3]["file_type"] == "gz"


def test_scan_of_a_root_with_quotes_and_spaces(spark, tmp_path):
    root = tmp_path / "it's a root"
    (root / "sub dir").mkdir(parents=True)
    page = "<html><body><p>{}</p></body></html>"
    files = {
        root / "o'neil page.html": "Some English text for the page here.",
        root / "back\\slash.jsp": "한국어 텍스트입니다 여기에 있습니다",
        root / "sub dir" / "a b.html": "Tiếng Việt có dấu ă â đ ê ô ơ ư nhiều",
        root / "sub dir" / "noext": "a file the scan's glob does not match",
    }
    for path, text in files.items():
        path.write_text(page.format(text), encoding="utf-8")
    rows = load_html_documents(spark, str(root)).collect()
    assert len(rows) == 3
    for r in rows:
        want = _meta_twin(r["source"], str(root))
        assert {k: r[k] for k in want} == want
        assert r["char_count"] == len(r["text"])
        assert r["language"] == _content_language_twin(r["text"])
        assert r["file_size"] == os.path.getsize(
            root / r["source"].split(f"{root.name}/", 1)[1]
        )
    assert sorted(r["folder_name"] for r in rows) == ["root", "root", "sub dir"]


@pytest.mark.parametrize("text", [
    "",
    " ",
    " \t\n",
    "가" + "1" * 9,  # korean at exactly 10%: not above it
    "가" * 2 + "1" * 8,
    "ă" + "a" * 10 + "1" * 39,  # vietnamese at exactly 2%
    "ăă" + "a" * 10 + "1" * 38,
    "abc" + "1" * 7,  # english at exactly 30%
    "가" + "abc" + "1" * 6,
    "가" + "ă" + "aaa" + "1" * 45,  # ko = vi = 2%, en 6%
    "가ă" + "1" * 48,  # ko = vi: the tie goes to korean
    "ăa" + "1" * 98,  # vi = en = 1%: the tie goes to vietnamese
    "Xin chào 안녕 hello",
])
def test_content_detector_and_token_estimate_match_their_twins(spark, text):
    df = spark.createDataFrame([(text,)], ["text"])
    row = df.select(
        language.detect_language_content_col("text").alias("lang"),
        estimate_tokens_col("text").alias("tokens"),
        chunk_id_col("text", sql_col("0"), "text").alias("id"),
    ).head()
    assert row["lang"] == _content_language_twin(text)
    assert row["tokens"] == _tokens_twin(text)
    key = f"{text}_0_{text[:50]}"
    assert row["id"] == hashlib.md5(key.encode()).hexdigest()[:12]


def test_sink_prelude_names_collections_like_the_config(spark, tmp_path):
    cfg = StoreConfig(
        warehouse_dir=str(tmp_path / "w"), collection_prefix="pre",
        text_max_len=5, source_max_len=4, filename_max_len=3, language_max_len=2,
    )
    store = CollectionStore(spark, cfg)
    folders = [None, "", "root", "Root", "My-Folder Name", "it's", "a\\b", "UPPER"]
    schema = StructType([
        StructField(c, StringType())
        for c in ("text", "source", "folder_name", "filename", "language")
    ])
    rows = [
        (f"text {i} 'q' \\", f"src{i}", f, f"name{i}", "korean")
        for i, f in enumerate(folders)
    ]
    df = spark.createDataFrame(rows, schema)
    tagged = store._tag_batch(df, True, "folder_name", False)
    assert tagged.columns == [*df.columns, "collection"]
    got = tagged.collect()
    assert [r["collection"] for r in got] == [cfg.collection_name(f) for f in folders]
    for r, (text, source, folder, filename, lang) in zip(got, rows):
        assert (r["text"], r["source"], r["filename"], r["language"]) == (
            text[:5], source[:4], filename[:3], lang[:2]
        )
        assert r["folder_name"] == folder
    unsplit = store._tag_batch(df, False, "folder_name", False).collect()
    assert {r["collection"] for r in unsplit} == {"pre_documents"}


def test_chunk_metadata_and_dedup_of_quoted_texts(spark):
    schema = StructType([
        StructField("doc_id", StringType()),
        StructField("source", StringType()),
        StructField("__chunks", ArrayType(StringType())),
    ])
    docs = spark.createDataFrame([
        ("d1", "file:/x/it's \\ a.html", TRICKY_TEXTS[:4]),
        ("d2", "file:/x/b.html", TRICKY_TEXTS[::-1]),
    ], schema)
    meta = chunker.attach_chunk_metadata(docs)
    rows = meta.collect()
    assert len(rows) == 4 + len(TRICKY_TEXTS)
    for r in rows:
        text = r["text"]
        assert r["chunk_size_chars"] == len(text)
        assert r["chunk_size_tokens"] == _tokens_twin(text)
        key = f"{r['source']}_{r['chunk_index']}_{text[:50]}"
        assert r["chunk_id"] == hashlib.md5(key.encode()).hexdigest()[:12]
    hashes = meta.select("text", chunker.normalized_hash_col("text").alias("h")).collect()
    assert all(r["h"] == chunker.chunk_hash(r["text"]) for r in hashes)

    deduped = chunker.remove_duplicate_chunks(meta)
    assert deduped.columns == meta.columns
    kept = deduped.collect()
    first: dict = {}
    for r in sorted(rows, key=lambda r: (r["doc_id"], r["chunk_index"])):
        first.setdefault(chunker.chunk_hash(r["text"]), r["chunk_id"])
    assert sorted(r["chunk_id"] for r in kept) == sorted(first.values())
    # the first two texts are one chunk after normalization, and so are
    # the three blank ones
    assert len(first) == len(TRICKY_TEXTS) - 3

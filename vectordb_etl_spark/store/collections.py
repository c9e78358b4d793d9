"""Collection store — operators S8/S9/S10/A11/X3 (SURVEY.md §2.1, §2.7).

The reference keeps one Milvus collection per source folder
(modules/milvus_store.py:138-174, name rule modules/config.py:37-43). Here a
"collection" is a value of the ``collection`` partition column of ONE
parquet dataset under the warehouse root — the 100 TB layout from SURVEY.md
§1.4: naming a collection ⇒ partition pruning; fan-out search ⇒ simply no
filter (one scan, no per-collection loop, no re-embedding).

Durability mapping: Milvus ``flush`` (milvus_store.py:232) ≅ the atomic
parquet job commit; ``load_collection`` (milvus_store.py:72-76) ≅ optional
``cache()``.

DDL (list/exists/drop/reset) goes through the Hadoop FileSystem API resolved
from the warehouse URI — NOT ``pathlib``/``shutil`` — so the same code works
when the warehouse root is ``s3a://``/``hdfs://``/``file:`` (the 100 TB
deployment this module's layout is designed for). Schemeless paths resolve
to absolute local paths, preserving the local behavior.
"""

from __future__ import annotations

import os
import re
import threading
import time
from contextlib import contextmanager
from functools import reduce
from urllib.parse import unquote

from py4j.protocol import Py4JJavaError
from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DoubleType, FloatType, StructType

from vectordb_etl_spark.config import EmbeddingConfig, StoreConfig
from vectordb_etl_spark.embeddings import with_embeddings
from vectordb_etl_spark.functions.sqltext import (
    jvm_static,
    read_parquet,
    select_names,
    sql_col,
    sql_name,
    sql_of,
    sql_string,
    with_columns_sql,
)
from vectordb_etl_spark.functions.text import truncate_spark_sql


# The declared document/chunk schema — the analog of the reference's fixed
# FieldSchema list (modules/milvus_store.py:47-66: id/text/embedding/source/
# filename/language/chunk_index/total_chunks/chunk_size_chars/
# chunk_size_tokens) plus this engine's own typed metadata columns
# (SURVEY.md §1.4). Anything OUTSIDE this set is a "dynamic field" in the
# reference's sense (enable_dynamic_field=True, milvus_store.py:62-66).
DOCUMENT_FIXED_COLS = frozenset({
    "id", "doc_id", "chunk_id", "text", "embedding",
    "source", "filename", "folder_name", "file_type", "file_size",
    "modified_time", "title", "author", "subject", "keywords",
    "language", "char_count",
    "heading_count", "paragraph_count", "table_count", "list_count",
    "n_sections", "chunk_index", "total_chunks", "chunk_size_chars",
    "chunk_size_tokens", "collection", "meta",
})


def fold_dynamic_meta(
    df: DataFrame,
    fixed_cols=None,
    meta_col: str = "meta",
) -> DataFrame:
    """``enable_dynamic_field=True`` parity (reference
    modules/milvus_store.py:62-66): columns OUTSIDE the declared schema
    fold into a ``meta: map<string,string>`` column — Milvus's hidden
    ``$meta`` JSON field, re-expressed as Spark's native map type so the
    parquet schema stays STABLE across heterogeneous loader batches
    (each typed one-off column appended to an existing dataset widens the
    store's union schema (:meth:`CollectionStore.read`) with a column
    that is null everywhere else; a map column does not).

    Values are stringified (map<string,string> — the lowest common
    denominator across loaders); numeric comparisons on dynamic keys cast
    back at filter time (functions/filter_expr.py). An existing
    ``meta_col`` map is preserved and merged, with the folded typed
    columns winning on key collision. Pure column expressions — map-side,
    no shuffle, no UDF."""
    fixed = (
        frozenset(fixed_cols) if fixed_cols is not None else DOCUMENT_FIXED_COLS
    )
    extras = [c for c in df.columns if c not in fixed and c != meta_col]
    empty = F.expr("map()").cast("map<string,string>")
    folded = (
        F.create_map(
            *[x for c in extras for x in (F.lit(c), F.col(c).cast("string"))]
        )
        if extras
        else empty
    )
    if meta_col in df.columns:
        existing = F.coalesce(F.col(meta_col).cast("map<string,string>"), empty)
        if extras:
            # typed columns win on collision; map_concat errors on dup keys
            # under the default EXCEPTION dedup policy, so drop them first
            existing = F.map_filter(
                existing, lambda k, _: ~k.isin(extras)
            )
        folded = F.map_concat(existing, folded)
    return df.withColumn(meta_col, folded).drop(*extras)


def collection_name_spark_sql(prefix: str, folder: str) -> str:
    """Spark SQL text of StoreConfig.collection_name over the folder
    expression ``folder`` — the reference's collection-naming rule
    applied JVM-side at the sink (modules/config.py:37-43): lowercase,
    '-'/' ' -> '_', and the 'root' folder (or NULL) falls back to the
    '<prefix>_documents' default."""
    # '' must hit the default too: StoreConfig.collection_name's
    # `if folder and folder != "root"` treats the empty string as falsy,
    # and the two twins must agree on where a row lands
    return (
        f"CASE WHEN {folder} IS NULL OR {folder} = 'root' OR {folder} = '' "
        f"THEN {sql_string(f'{prefix}_documents')} ELSE concat_ws('_', "
        f"{sql_string(prefix)}, translate(lower({folder}), '- ', '__')) END"
    )


def collection_name_col(prefix: str, folder_col) -> Column:
    """Column twin of StoreConfig.collection_name
    (:func:`collection_name_spark_sql`)."""
    return sql_col(collection_name_spark_sql(prefix, sql_of(folder_col)))


def checked_rename(fs, src, dst) -> None:
    """Hadoop ``FileSystem.rename`` reports failure by RETURNING FALSE, not
    by raising — an unchecked call can silently skip a swap step and leave
    the layout corrupted (e.g. staging renamed INSIDE a still-present dest).
    Raise instead, so a failed swap aborts loudly mid-discipline."""
    if not fs.rename(src, dst):
        raise IOError(f"rename failed: {src} -> {dst}")


def checked_delete(fs, path, recursive: bool = True) -> None:
    """delete() also returns False on failure (except when the path is
    already absent, which is fine for our aside-cleanup semantics)."""
    if fs.exists(path) and not fs.delete(path, recursive):
        raise IOError(f"delete failed: {path}")


def vector_write_options(df: DataFrame) -> dict[str, str]:
    """The parquet write options of a frame that carries vectors:
    dictionary encoding off for each top-level ``array<float|double>``
    column (``df.write.options(**vector_write_options(df))``). Parquet
    tries a dictionary on every column chunk first; vector elements
    almost never repeat, so each chunk falls back to PLAIN after paying
    for the attempt. The fallback writes the same PLAIN pages, so on
    such vectors the options change no stored byte; vectors that do
    repeat are stored PLAIN too."""
    return {
        f"parquet.enable.dictionary#{f.name}.list.element": "false"
        for f in df.schema.fields
        if isinstance(f.dataType, ArrayType)
        and isinstance(f.dataType.elementType, (FloatType, DoubleType))
    }


def write_counted(df: DataFrame, path: str) -> int:
    """Overwrite ``path`` with ``df`` as parquet
    (:func:`vector_write_options`) and return the rows written, counted
    by an observation on the write itself: one job, where reading the
    output back to count it runs three more (a schema job, and a count
    that adaptive execution runs as two)."""
    rows = Observation()
    df.observe(rows, sql_col("count(1) AS `rows`")).write.options(
        **vector_write_options(df)
    ).mode("overwrite").parquet(path)
    return rows.get["rows"]


# a collection's name in one line of a store file list
_LISTED_NAME = re.compile(r"/collection=([^/\n]+)/[^/\n]*$", re.M)
# a Hadoop FileStatus rendered by toString(): path, kind, commit time
_STATUS = re.compile(
    r"\{path=(.*?); isDirectory=(true|false);.*?modification_time=(\d+)"
)
# characters a Hadoop glob reads as syntax
_GLOB_SYNTAX = frozenset("{}[]*?\\,")

# work-dir naming rule of replace_dir: the siblings of <parent>/<leaf> are
# <parent>/.staging-<leaf> (new contents) and <parent>/.old-<leaf> (aside)
_STAGING, _ASIDE = ".staging-", ".old-"


def hadoop_fs(spark: SparkSession, uri: str):
    """``(FileSystem, Path)`` of ``uri`` through the Hadoop API, so the
    caller works on any supported scheme (s3a://, hdfs://, file:) — a
    local ``pathlib`` probe would silently miss remote URIs."""
    path = jvm_static("org.apache.hadoop.fs.Path")(uri)
    return path.getFileSystem(spark._jsc.hadoopConfiguration()), path  # noqa: SLF001


def commit_stamp(spark: SparkSession, path: str) -> int | None:
    """Commit time of a written directory in epoch milliseconds: the
    ``_SUCCESS`` marker's mtime (written at job commit), falling back to
    the directory's; None when neither exists. No miss raises in the
    JVM (:func:`marker_stamp`)."""
    return marker_stamp(*hadoop_fs(spark, f"{path}/_SUCCESS"))


def marker_stamp(fs, marker) -> int | None:
    """:func:`commit_stamp` of the directory whose ``_SUCCESS`` marker is
    the Hadoop path ``marker`` on ``fs``. A missing path is asked with
    ``exists``, which answers in the JVM: a failed ``getFileStatus``
    costs PySpark's conversion of the Java exception, about 75 py4j
    round trips."""
    for p in (marker, marker.getParent()):
        if fs.exists(p):
            try:
                return fs.getFileStatus(p).getModificationTime()
            except Py4JJavaError:  # deleted since exists()
                continue
    return None


@contextmanager
def replace_dir(spark: SparkSession, dest: str):
    """Replace the directory ``dest`` so that it is never absent.

    ``with replace_dir(spark, dest) as (staging, exists):`` yields the
    staging path and whether ``dest`` exists; the body writes the
    new contents to ``staging`` (it may read ``dest`` while doing so).
    On exit the swap is rename-aside → rename-in → delete-aside, each
    step checked. A body that writes nothing declines: ``dest`` stays as
    it was. A body that raises publishes nothing either; its staging dir
    is cleared by the next replace_dir on ``dest``.

    Crash restore: a swap that died between its two renames left the
    only copy in the aside. It is renamed back before the body runs, so
    the body never mistakes ``dest`` for new and the aside cleanup never
    deletes the sole copy. An aside next to a live ``dest`` is garbage.

    On HDFS-like filesystems each rename is atomic, so a reader sees a
    complete old or complete new listing; on object stores (s3a) rename
    is a non-atomic copy+delete and a concurrent reader can observe a
    partial swap — use a table format (Iceberg/Delta) there."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path  # noqa: SLF001
    fs, target = hadoop_fs(spark, dest)
    parent, leaf = target.getParent(), target.getName()
    staging = jpath(parent, _STAGING + leaf)
    aside = jpath(parent, _ASIDE + leaf)
    if fs.exists(aside) and not fs.exists(target):
        checked_rename(fs, aside, target)
    checked_delete(fs, staging)
    yield staging.toString(), fs.exists(target)
    if not fs.exists(staging):
        return
    checked_delete(fs, aside)
    if fs.exists(target):
        checked_rename(fs, target, aside)
    checked_rename(fs, staging, target)
    checked_delete(fs, aside)


class CollectionStore:
    def __init__(self, spark: SparkSession, config: StoreConfig | None = None):
        self.spark = spark
        self.config = config or StoreConfig()
        # open index handles: (index path, kind) -> (commit stamp, handle);
        # the lock makes open_index's check-then-open atomic, so serving
        # threads share one handle per index version
        self._indexes: dict[tuple[str, str], tuple[int | None, object]] = {}
        self._indexes_lock = threading.Lock()
        # (file list of the data directory, schema inferred from it) —
        # see read(). The JVM classes that join a file list and make a
        # Hadoop path, and the warehouse root's FileSystem, are resolved
        # once here, not with several py4j lookups per call
        self._schema: tuple[str, StructType] | None = None
        # the pair each thread's last read() used (see scan())
        self._listed = threading.local()
        jvm = spark._jvm  # noqa: SLF001
        self._array_seq = jvm.scala.collection.immutable.ArraySeq
        self._path_cls = jvm.org.apache.hadoop.fs.Path
        self._root_fs: tuple[str, object] | None = None

    @property
    def _root(self) -> str:
        w = self.config.warehouse_dir
        return w if "://" in w or w.startswith("file:") else os.path.abspath(w)

    @property
    def _data_dir(self) -> str:
        return self._root + "/collections"

    # -- Hadoop FS plumbing (URI-scheme-agnostic DDL) ------------------------

    def _jpath(self, uri: str):
        return self._path_cls(uri)

    def _fs(self, uri: str):
        """The FileSystem of ``uri``: the warehouse root's, held by the
        store, since every path the store touches lies under the root."""
        root = self._root
        held = self._root_fs
        if held is None or held[0] != root:
            held = self._root_fs = (root, hadoop_fs(self.spark, root)[0])
        return held[1]

    # -- S9: DDL ------------------------------------------------------------

    def list_collections(self) -> list[str]:
        """Reference: milvus_store.py:370-372. One FS listing of the
        partition directories — no data read."""
        p = self._jpath(self._data_dir)
        fs = self._fs(self._data_dir)
        if not fs.exists(p):
            return []
        out = []
        for st in fs.listStatus(p):
            name = st.getPath().getName()
            if st.isDirectory() and name.startswith("collection="):
                out.append(name.split("=", 1)[1])
        return sorted(out)

    def collection_exists(self, name: str) -> bool:
        """Reference: milvus_store.py:68-70."""
        return name in self.list_collections()

    def _warn_pre_rule_partitions(self, targets) -> None:
        """The naming rule (lowercase/sanitize, 'root'->default — reference
        modules/config.py:37-43) changed where some folders land relative
        to warehouses written before the rule. If a partition exists whose name
        is a PRE-rule spelling of a target (sanitizes to it but differs
        literally, or the old literal '<prefix>_root'), new rows would
        silently split across the two spellings and upsert's key-dedup
        would not see the old rows — warn with the rename needed instead
        of letting that happen quietly. One FS listing, no data read."""
        existing = self.list_collections()
        if not existing:
            return

        def _sanitize(n: str) -> str:
            return n.lower().replace("-", "_").replace(" ", "_")

        default = f"{self.config.collection_prefix}_documents"
        old_root = f"{self.config.collection_prefix}_root"
        import warnings

        for t in set(targets):
            clashes = [
                e for e in existing if e != t and _sanitize(e) == t
            ]
            if t == default and old_root in existing:
                clashes.append(old_root)
            for e in clashes:
                warnings.warn(
                    f"collection {e!r} looks like a pre-naming-rule "
                    f"spelling of the target {t!r}: new rows go to {t!r} "
                    f"while the old rows stay in {e!r} (duplicate keys "
                    "across the pair are invisible to upsert's dedup). "
                    f"Rename the partition directory (collection={e} -> "
                    f"collection={t}) or drop_collection the stale one.",
                    stacklevel=3,
                )

    def drop_collection(self, name: str) -> None:
        """Reference: milvus_store.py:408-414. Partition-directory drop
        (recursive delete via the warehouse's own filesystem). Also removes
        any swap work directories for the name — a leftover aside would
        otherwise be 'restored' by the next upsert's crash recovery,
        resurrecting explicitly-dropped data."""
        fs = self._fs(self._data_dir)
        for prefix in ("", _STAGING, _ASIDE):
            checked_delete(
                fs, self._jpath(f"{self._data_dir}/{prefix}collection={name}")
            )
        for kind in ("ivf", "graph"):
            self._indexes.pop((self._index_path(name, kind), kind), None)

    def vacuum(self, grace_s: float = 900.0) -> list[str]:
        """Delete the work directories (:func:`replace_dir`'s staging and
        aside dirs) left by upserts or compactions that crashed before
        cleanup. Safe because readers never see dot-prefixed children and
        every crash state that still NEEDS an aside (destination absent) is
        restored by the next replace_dir on that collection — anything
        remaining alongside a live destination is garbage by construction.
        Returns the deleted paths.

        ``grace_s``: work dirs modified within the last ``grace_s`` seconds
        are SKIPPED — a concurrent upsert/compaction that just wrote its
        staging dir and is about to rename it must not lose the batch to a
        racing vacuum. An orphan from a crash is by definition old, so the
        grace window costs nothing; pass ``grace_s=0`` only when no writer
        can be in flight."""
        fs = self._fs(self._data_dir)
        root = self._jpath(self._data_dir)
        if not fs.exists(root):
            return []
        removed = []
        now_ms = time.time() * 1000.0
        for st in fs.listStatus(root):
            name = st.getPath().getName()
            if not name.startswith((_STAGING, _ASIDE)):
                continue
            if now_ms - st.getModificationTime() < grace_s * 1000.0:
                continue  # possibly in flight — leave for the next vacuum
            # the recovery precondition: an ASIDE may only be deleted when
            # its live destination exists (else it is the sole surviving
            # copy, left for recovery to restore); staging dirs are always
            # re-creatable
            live = name.removeprefix(_ASIDE)
            if live != name and not fs.exists(
                self._jpath(f"{self._data_dir}/{live}")
            ):
                continue
            checked_delete(fs, st.getPath())
            removed.append(name)
        return removed

    def reset(self, confirm: bool = False) -> int:
        """S10 — drop everything (reference: main.py:243-277, --confirm gate)."""
        if not confirm:
            raise ValueError("reset requires confirm=True")
        n = len(self.list_collections())
        fs = self._fs(self._root)
        p = self._jpath(self._root)
        checked_delete(fs, p)
        self._indexes = {}
        return n

    # -- S8: sink -------------------------------------------------------------

    def _tag_batch(
        self,
        chunks: DataFrame,
        split_by_folder: bool,
        folder_col: str,
        dynamic_meta: bool,
    ) -> DataFrame:
        """The batch prelude of both sinks: the ``collection`` column by
        the reference naming rule incl. lowercase/sanitize and the
        'root'-folder default (modules/config.py:37-43), the optional
        dynamic-meta fold, and P7 varchar truncation at the sink
        (milvus_store.py:207-215)."""
        cfg = self.config
        columns = chunks.columns
        if split_by_folder and folder_col in columns:
            collection = collection_name_spark_sql(
                cfg.collection_prefix, sql_name(folder_col)
            )
        else:
            collection = sql_string(f"{cfg.collection_prefix}_documents")
        exprs = {"collection": collection}
        if dynamic_meta:
            chunks = fold_dynamic_meta(with_columns_sql(chunks, exprs, columns))
            columns, exprs = chunks.columns, {}
        exprs.update(
            (name, text)
            for name, text in truncate_spark_sql(
                cfg.text_max_len, cfg.source_max_len, cfg.filename_max_len,
                cfg.language_max_len,
            ).items()
            if name in columns
        )
        return with_columns_sql(chunks, exprs, columns)

    def insert_documents(
        self,
        chunks: DataFrame,
        split_by_folder: bool = True,
        folder_col: str = "folder_name",
        embed: bool = True,
        embedding_config: EmbeddingConfig | None = None,
        mode: str = "append",
        dynamic_meta: bool = False,
        count_rows: bool = True,
    ) -> dict[str, int]:
        """Embed + write, partitioned by collection.

        Reference (milvus_store.py:138-234) groups docs by folder in the
        driver and loops collections with batch-100 inserts; here grouping is
        the partitioned write itself (one distributed job, no driver loop)
        and batching is Arrow's. Returns per-collection counts of the rows
        INSERTED BY THIS CALL (the reference's Dict[str, int] semantics —
        milvus_store.py:176-234 accumulates per-batch inserted counts),
        computed from the incoming batch BEFORE the embedding stage: one
        UDF-free aggregation over the batch, never a post-write scan of
        the whole warehouse (which is O(total data) per insert at 100 TB).
        ``count_rows=False`` skips that job and returns ``{}``. The write
        keeps no count of its own: collection totals are
        :meth:`collection_stats`, counted from the data.

        ``dynamic_meta=True`` is the reference's ``enable_dynamic_field``
        (milvus_store.py:62-66): columns outside DOCUMENT_FIXED_COLS fold
        into the ``meta: map<string,string>`` column (:func:
        `fold_dynamic_meta`) so heterogeneous loader batches share ONE
        stable parquet schema. Default off — this store also accepts any
        typed column as-is (a superset of Milvus's fixed schema), and
        callers relying on that keep their exact layout."""
        df = self._tag_batch(chunks, split_by_folder, folder_col, dynamic_meta)
        # the pre-write count re-executes the batch's lineage once (cheap
        # for parquet-backed batches, real for UDF-heavy ones) — callers
        # that discard the counts (e.g. the streaming sink, which writes
        # every micro-batch) pass count_rows=False and pay only the write
        counts = (
            {
                r["collection"]: r["count"]
                for r in df.groupBy("collection").count().collect()
            }
            if count_rows
            else {}
        )
        if counts:
            # the count job already materialized the target names —
            # reuse them to flag pre-naming-rule partition spellings
            self._warn_pre_rule_partitions(counts)
        if embed and "embedding" not in df.columns:
            df = with_embeddings(df, config=embedding_config)
        df.write.options(**vector_write_options(df)).mode(mode).partitionBy(
            "collection"
        ).parquet(self._data_dir)
        return counts

    def upsert_documents(
        self,
        chunks: DataFrame,
        key_col: str = "chunk_id",
        split_by_folder: bool = True,
        folder_col: str = "folder_name",
        embed: bool = True,
        embedding_config: EmbeddingConfig | None = None,
        dynamic_meta: bool = False,
    ) -> dict[str, int]:
        """Incremental merge: new rows replace existing rows with the same
        ``key_col`` within their collection; unrelated collections are
        untouched. Parquet has no MERGE, so the affected collections are
        rewritten as (existing ANTI-JOIN new) ∪ new and swapped in by
        :func:`replace_dir` (crash restore and reader guarantees are
        documented there). Each count is taken from the staging write
        itself (:func:`write_counted`). Cost scales with the AFFECTED
        collections only (partition pruning on the read), not the
        warehouse; at 100 TB keep collections sized so a rewrite is an
        acceptable unit of work (this is the classic copy-on-write merge,
        the same trade Hive-style COW tables make). The existing rows come
        from one :meth:`read` of the store, so a rewritten collection
        carries the store's union columns, null where it had none.
        Returns per-affected-collection row counts."""
        incoming = self._tag_batch(
            chunks, split_by_folder, folder_col, dynamic_meta
        )
        if embed and "embedding" not in incoming.columns:
            incoming = with_embeddings(incoming, config=embedding_config)

        affected = [
            r["collection"]
            for r in incoming.select("collection").distinct().collect()
        ]
        self._warn_pre_rule_partitions(affected)
        counts: dict[str, int] = {}
        base, listed = None, ""
        for name in affected:
            part_dir = f"{self._data_dir}/collection={name}"
            new_part = incoming.filter(F.col("collection") == name).drop(
                "collection"
            )
            with replace_dir(self.spark, part_dir) as (staging, exists):
                merged = new_part
                if exists:
                    # the listing of ``base`` pins its files, and a
                    # collection's files change only at its own swap, so
                    # one read serves every collection; read again when
                    # this one is absent from it (a crash restore just
                    # put it back)
                    if f"/collection={name}/" not in listed:
                        base = self.read()
                        listed = self._input_files(base)
                    keep = (
                        base.filter(F.col("collection") == name)
                        .drop("collection")
                        .join(new_part.select(key_col), key_col, "left_anti")
                    )
                    merged = keep.unionByName(new_part, allowMissingColumns=True)
                counts[name] = write_counted(merged, staging)
        return counts

    # -- scans ---------------------------------------------------------------

    def read(self, collection: str | None = None) -> DataFrame:
        """Scan one collection (partition-pruned) or all (fan-out).

        Every read uses one schema: the union of the footers of the data
        directory's files (``mergeSchema``). A column that any write put
        in any collection is visible to the next read, whichever
        collections were written since, with nulls in the rows that lack
        it. The store remembers one pair: the file list of the data
        directory and the union inferred from it. A read lists the
        directory under the remembered schema, which runs no Spark job,
        and keeps that frame when its file list equals the remembered
        one; otherwise it infers again and remembers the new pair. The
        result is exact: no writer rewrites a part file in place (every
        write and every :func:`replace_dir` swap makes new part-file
        names), so the same list yields the same union. A warm read is a
        few py4j round trips (:func:`read_parquet`).

        A changed list reads every footer once, so a store that appends
        many small files should be compacted
        (:func:`~vectordb_etl_spark.store.layout.compact_collection`). A
        store whose data directory is gone or empty raises."""
        # one snapshot of the pair: a concurrent read may replace it, but
        # never half of it
        known = self._schema
        if known is not None:
            df = read_parquet(self.spark, known[1], [self._data_dir])
            if self._input_files(df) != known[0]:
                known = None
        if known is None:
            df = self.spark.read.option("mergeSchema", "true").parquet(
                self._data_dir
            )
            known = self._schema = (self._input_files(df), df.schema)
        self._listed.pair = known
        if collection is not None:
            df = df.filter(sql_col(f"`collection` = {sql_string(collection)}"))
        return df

    def scan(self) -> tuple[DataFrame, list[str], list[str]]:
        """:meth:`read` of the whole store, with the collections its file
        list holds (the ``collection=<name>`` directories that have data
        files, names as :meth:`list_collections` spells them) and its
        column names — no listing or py4j round trip beyond the read's."""
        df = self.read()
        files, schema = self._listed.pair  # what this thread's read listed
        # the file list holds URIs: a name the partition writer escaped
        # (``%XX``) reads back URI-encoded once more
        names = sorted({unquote(n) for n in _LISTED_NAME.findall(files)})
        return df, names, schema.fieldNames()

    def _input_files(self, df: DataFrame) -> str:
        """The frame's file list as one string, joined in the JVM: a
        constant number of py4j calls, where ``df.inputFiles()`` makes one
        per file."""
        files = df._jdf.inputFiles()  # noqa: SLF001
        return self._array_seq.unsafeWrapArray(files).mkString("\n")

    def load_collection(self, collection: str | None = None) -> DataFrame:
        """X3 — memory residency ≅ cache() (milvus_store.py:72-76)."""
        return self.read(collection).cache()

    # -- SQL surface ----------------------------------------------------------

    def create_views(self, prefix: str = "") -> list[str]:
        """Register the warehouse for ``spark.sql``: one ``collections``
        view over the whole partitioned dataset (partition pruning applies
        when a query filters on the ``collection`` column) plus one view
        per collection. Returns the view names. This is the SQL face of
        the store — ``SELECT ... FROM html_docs WHERE language='korean'``
        gets the same pushdown/pruning as the DataFrame facade."""
        names = []
        self.read().createOrReplaceTempView(f"{prefix}collections")
        names.append(f"{prefix}collections")
        for n in self.list_collections():
            self.read(n).createOrReplaceTempView(f"{prefix}{n}")
            names.append(f"{prefix}{n}")
        return names

    # -- X1/X2: index lifecycle (milvus_store.py:110-136) ---------------------

    def _index_path(self, collection: str | None, kind: str) -> str:
        return f"{self._root}/indexes/{collection or '_all'}/{kind}"

    def build_index(
        self,
        collection: str | None = None,
        kind: str | None = None,
        **params,
    ):
        """Build the configured ANN index over one collection (or the whole
        warehouse): ``kind`` ∈ {'ivf', 'graph'} (defaults from
        ``StoreConfig.index_type`` — IVF_FLAT like the reference default,
        milvus_store.py:125-131; 'graph' is the HNSW-contract NSW shards).
        The index is itself parquet under ``<warehouse>/indexes/...`` — no
        local-filesystem side channel, same URI scheme as the data."""
        kind = kind or (
            "graph" if self.config.index_type.upper() == "HNSW" else "ivf"
        )
        df = self.read(collection)
        path = self._index_path(collection, kind)
        if kind == "ivf":
            from vectordb_etl_spark.operators.ann import IVFIndex

            params.setdefault("nlist", self.config.nlist)
            idx = IVFIndex(self.spark, path, metric=self.config.metric_type)
            return self._remember(path, kind, idx.build(df, **params))
        if kind == "graph":
            from vectordb_etl_spark.operators.graph_ann import GraphANNIndex

            passthrough = params.pop(
                "passthrough",
                [
                    c
                    for c in ("text", "language", "collection", "meta")
                    if c in df.columns
                ],
            )
            params.setdefault("ef_construction", self.config.ef_construction)
            # pass the store metric so a non-COSINE store fails here with
            # the tier's clear contract error, not with silently-wrong
            # cosine scores ranked under the store's metric
            idx = GraphANNIndex(self.spark, path, metric=self.config.metric_type)
            return self._remember(path, kind, idx.build(
                df, id_col=params.pop("id_col", "chunk_id"),
                passthrough=passthrough, **params,
            ))
        raise ValueError(f"unknown index kind {kind!r}")

    def fanout_search_indexed(
        self,
        query: list[float],
        k: int = 3,
        nprobe: int | None = None,
        collections: list[str] | None = None,
        kind: str = "ivf",
        ef: int | None = None,
        on_missing: str = "raise",
        fallback_id_col: str = "chunk_id",
        **search_kwargs,
    ) -> DataFrame:
        """Q2 through PER-COLLECTION indexes (the Milvus fan-out,
        milvus_store.py:301-325: search each collection's index, merge one
        global top-k), planned as ONE query over all named collections.
        IVF: each index ranks its own centroids, and the probed cells of
        every index are ONE scan of all their ``data/`` directories with
        one combined ``collection``/``centroid_id`` probe filter
        (:func:`~vectordb_etl_spark.operators.ann.read_probed`), scored by
        one expression and cut by one ``orderBy(score, *tie_break,
        collection).limit(k)`` — per-collection top-k lists merged equal
        the global top-k of the union, so no per-collection limit is
        planned. Graph: one beam over one read of all the shard layouts
        (:func:`~vectordb_etl_spark.operators.graph_ann.fanout_search`).

        ``collections=None`` searches every collection the store's file
        list holds (:meth:`read` validates it), with no directory listing
        of its own. ``on_missing`` governs collections without an index:
        ``'raise'`` (default — a hidden full scan should be an explicit
        decision) or ``'exact'``, which serves them by brute force over
        one partition-pruned store scan in the same union, as Milvus
        searches every loaded collection regardless of index state. That
        branch scores with the index tiers' metric and rounding; for
        ``kind='graph'`` it surfaces ``fallback_id_col`` as ``id``.

        ``nprobe``/``ef`` default to ``StoreConfig.nprobe``/``ef_search``.
        Whether each collection has an index is one glob of the commit
        markers for all of them (:meth:`_index_stamps`), and handles come
        from the store's memo (:meth:`open_index`), so a warm search runs
        no listing or schema job and plans in a number of py4j round trips
        that does not grow with the collections or the dimension."""
        from vectordb_etl_spark.operators.topk import topk_search

        if kind not in ("ivf", "graph"):
            raise ValueError(f"unknown index kind {kind!r}")
        if on_missing not in ("raise", "exact"):
            raise ValueError(f"on_missing must be 'raise'|'exact'; got {on_missing!r}")
        if kind == "graph" and self.config.metric_type.upper() != "COSINE":
            # the graph tier's contract, for the exact branch too
            raise ValueError(
                "graph index tier is COSINE-only; store metric "
                f"is {self.config.metric_type!r}"
            )
        base, names, _ = (
            (None, collections, None) if collections is not None else self.scan()
        )
        if not names:
            raise ValueError("fanout_search_indexed: no collections to search")
        stamps = self._index_stamps(names, kind)
        indexed, missing = {}, []
        for n in names:
            if stamps[n] is not None:
                indexed[n] = self._handle(self._index_path(n, kind), kind, stamps[n])
            elif on_missing == "raise":
                raise ValueError(
                    f"collection {n!r} has no {kind} index — build_index "
                    "first (or pass on_missing='exact' to serve it by "
                    "brute-force scan, Milvus-style)"
                )
            else:
                missing.append(n)
        exact = None
        if missing:
            base = base if base is not None else self.read()
            exact = base.filter(sql_col("`collection` IN ({})".format(
                ", ".join(sql_string(n) for n in missing)
            )))
        tie_break = search_kwargs.pop("tie_break", None) or []
        if kind == "graph":
            from vectordb_etl_spark.operators.graph_ann import fanout_search

            if exact is not None:
                exact = exact.withColumnRenamed(fallback_id_col, "id")
            return fanout_search(
                indexed, query, k=k,
                ef=self.config.ef_search if ef is None else ef,
                exact=exact, tie_break=tie_break, **search_kwargs,
            )
        from vectordb_etl_spark.operators.ann import read_probed

        if nprobe is None:
            nprobe = self.config.nprobe
        # graph-only beam knob: the IVF and exact branches apply the
        # predicate exactly regardless of strategy
        search_kwargs.pop("filter_mode", None)
        predicate = search_kwargs.pop("predicate", None)
        output_cols = search_kwargs.pop("output_cols", None)
        probe_dp = search_kwargs.pop("probe_round_dp", None)
        branches = read_probed(indexed, {
            n: idx.probe_ids(query, nprobe, round_dp=probe_dp)
            for n, idx in indexed.items()
        }) + ([exact] if exact is not None else [])
        if predicate is not None:
            branches = [b.filter(predicate) for b in branches]
        if output_cols is not None and len(branches) > 1:
            # one column set per union branch (the indexed side carries
            # its centroid_id layout key, the exact side does not)
            keep = list(dict.fromkeys([
                *output_cols, search_kwargs.get("emb_col", "embedding"),
                *tie_break, "collection",
            ]))
            branches = [select_names(b, keep) for b in branches]
        out = topk_search(
            reduce(DataFrame.unionByName, branches), query, k=k,
            metric=self.config.metric_type,
            tie_break=[*tie_break, "collection"], **search_kwargs,
        )
        if output_cols is None:
            return out
        return select_names(out, dict.fromkeys([
            *output_cols, search_kwargs.get("score_name", "score"),
            "collection",
        ]))

    def open_index(self, collection: str | None = None, kind: str = "ivf"):
        """The handle of a previously built index (artifact is
        self-describing), opened once per store and reused while the
        index's commit marker is unchanged — a rebuild through any other
        handle or process replaces the marker, and the next call reopens."""
        path = self._index_path(collection, kind)
        return self._handle(path, kind, self._index_stamp(path, kind))

    def _handle(self, path: str, kind: str, stamp: int | None):
        """The memoized handle of the index at ``path`` if it was opened
        at commit marker ``stamp``, else a newly opened one (remembered
        under ``stamp``; a None stamp never matches)."""
        if kind == "ivf":
            from vectordb_etl_spark.operators.ann import IVFIndex as cls
        elif kind == "graph":
            from vectordb_etl_spark.operators.graph_ann import GraphANNIndex as cls
        else:
            raise ValueError(f"unknown index kind {kind!r}")
        with self._indexes_lock:
            hit = self._indexes.get((path, kind))
            if hit is not None and stamp is not None and hit[0] == stamp:
                return hit[1]
            idx = cls(self.spark, path, metric=self.config.metric_type)
            self._indexes[(path, kind)] = (stamp, idx)
        return idx

    def _index_stamp(self, path: str, kind: str) -> int | None:
        """:func:`commit_stamp` of the index's commit marker: the
        centroids' for IVF (add/compact leave it alone, so appended rows
        keep the handle), the layout's for graph."""
        leaf = f"{path}/centroids" if kind == "ivf" else path
        return marker_stamp(self._fs(leaf), self._jpath(f"{leaf}/_SUCCESS"))

    def _index_stamps(self, names: list[str], kind: str) -> dict[str, int | None]:
        """:meth:`_index_stamp` of every named collection's index from ONE
        ``globStatus`` of their commit directories and markers, joined in
        the JVM: a constant number of py4j round trips for any number of
        collections. A name (or a warehouse root) the glob would read as
        syntax is stamped on its own."""
        leaf = "ivf/centroids" if kind == "ivf" else "graph"
        plain = [
            n for n in names
            if n and not _GLOB_SYNTAX & set(n) and not _GLOB_SYNTAX & set(self._root)
        ]
        stamps: dict[str, int | None] = {
            n: self._index_stamp(self._index_path(n, kind), kind)
            for n in names if n not in plain
        }
        if not plain:
            return stamps
        statuses = self._fs(self._root).globStatus(self._jpath(
            f"{self._root}/indexes/{{{','.join(plain)}}}/{leaf}{{,/_SUCCESS}}"
        ))
        found: dict[str, dict[bool, int]] = {}
        if statuses is not None:
            text = self._array_seq.unsafeWrapArray(statuses).mkString("\n")
            depth = leaf.count("/") + 2
            for path, is_dir, mtime in _STATUS.findall(text):
                marker = is_dir == "false"
                parts = path.rsplit("/", depth + marker)
                found.setdefault(parts[1], {})[marker] = int(mtime)
        for n in plain:
            got = found.get(n, {})
            stamps[n] = got.get(True, got.get(False))
        return stamps

    def _remember(self, path: str, kind: str, idx):
        """Keep a handle this store just built, so its centroids and
        schema are warm for the next search."""
        self._indexes[(path, kind)] = (self._index_stamp(path, kind), idx)
        return idx

    def index_rebalance_hints(
        self, collections: list[str] | None = None, ratio: float | None = None
    ) -> dict[str, dict]:
        """Segment-manager sweep (the Milvus compaction-trigger analog —
        milvus_store.py:232 flush/seal lifecycle): per collection that has
        a graph index, its ``rebalance_hint`` telemetry. A warehouse
        maintenance job filters on ``recommend_compact`` and runs
        ``open_index(name, 'graph').compact()`` on the flagged ones. Cost:
        one partition-column-only count per indexed collection."""
        names = (
            collections if collections is not None else self.list_collections()
        )
        out: dict[str, dict] = {}
        for n in names:
            ipath = self._index_path(n, "graph")
            if self._fs(ipath).exists(self._jpath(ipath)):
                # one existing-but-empty (or partially deleted) index dir
                # must not abort the whole warehouse sweep
                try:
                    out[n] = self.open_index(n, kind="graph").rebalance_hint(
                        ratio=ratio
                    )
                except Exception as e:  # noqa: BLE001 — per-collection guard
                    out[n] = {"error": str(e)}
        return out

    # -- A11: counts ---------------------------------------------------------

    def collection_stats(self, collection: str | None = None) -> dict[str, int]:
        """Row counts per collection (reference milvus_store.py:374-406),
        counted from the data itself: one partition-pruned
        ``groupBy("collection").count()`` job, so the numbers are exact
        whatever wrote the rows. A store with no collections, or a named
        collection that does not exist, returns ``{}`` after one listing
        and no job."""
        names = self.list_collections()
        if not names or (collection is not None and collection not in names):
            return {}
        rows = self.read(collection).groupBy("collection").count().collect()
        return {r["collection"]: r["count"] for r in rows}

    def dynamic_field_stats(
        self, collection: str | None = None, meta_col: str = "meta"
    ) -> DataFrame:
        """Introspect the dynamic schema: per dynamic-field key, how many
        rows carry it and how many distinct values it takes — what a
        Milvus enable_dynamic_field user asks before filtering on $meta
        keys (there is no declared schema to consult). One
        explode-and-aggregate over the (pruned) scan; returns a DataFrame
        so it composes (collect at the caller's edge)."""
        df = self.read(collection)
        if meta_col not in df.columns:
            return self.spark.createDataFrame(
                [], "key string, n_rows long, n_values long"
            )
        return (
            df.select(F.explode(meta_col).alias("key", "value"))
            .groupBy("key")
            .agg(
                F.count("*").alias("n_rows"),
                F.count_distinct("value").alias("n_values"),
            )
            .orderBy("key")
        )

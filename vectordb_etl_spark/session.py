"""SparkSession factory with scale-aware defaults.

Local testing runs on local[N]; the same settings are what we'd ship on a
1000-executor cluster: AQE on (runtime re-plan, skew-join handling), small
broadcast threshold respected, Arrow enabled for the pandas-UDF operators.
"""

from __future__ import annotations

import functools
import os
import sys
import zipimport

from pyspark.sql import SparkSession
from pyspark.sql.types import StructField, StructType


def _reuse_unchanged_zip_directories() -> None:
    """Make ``zipimporter.invalidate_caches`` re-read an archive's
    directory only when the archive changed.

    A PySpark worker calls ``importlib.invalidate_caches()`` at the start
    of every task. Before CPython 3.13, each ``zipimporter`` answers by
    re-parsing its whole archive directory (3.11 ``zipimport.py:329``), and
    a worker holds 16 of them (into ``pyspark.zip``, the py4j zip and the
    spark-core jar) — 0.1–0.15 s of CPU per task before any of our code
    runs. 3.13 only drops the
    cache entry (``zipimport.py:276``), so this does nothing there.

    The wrapper stamps each archive with ``(st_mtime_ns, st_size)`` taken
    just before a read, and reuses the cached directory while the stamp
    holds. An archive with no stamp yet, or one that cannot be stat'ed,
    goes through the stdlib method exactly as before; so does one whose
    cache entry is gone (a failed read drops it). At install, each
    archive already imported from is read once through the wrapper, so
    every stamp belongs to a read made after it. Installing twice is a
    no-op: the package runs this at import, and a Python worker imports
    it when it unpickles any of the package's UDFs, so the first task on
    a worker pays the reads and every later task on it does not."""
    if sys.version_info >= (3, 13):
        return
    original = zipimport.zipimporter.invalidate_caches
    if getattr(original, "_reuses_unchanged_directories", False):
        return
    stamps: dict[str, tuple[int, int]] = {}

    @functools.wraps(original)
    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
        except OSError:
            return original(self)
        stamp = (st.st_mtime_ns, st.st_size)
        cached = zipimport._zip_directory_cache.get(self.archive)
        if cached is not None and stamps.get(self.archive) == stamp:
            self._files = cached
            return
        original(self)
        stamps[self.archive] = stamp

    invalidate_caches._reuses_unchanged_directories = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    for importer in list(sys.path_importer_cache.values()):
        if isinstance(importer, zipimport.zipimporter):
            importer.invalidate_caches()


def get_spark(
    app_name: str = "vectordb-etl-spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(os.environ.get("SPARK_MASTER", f"local[{cpus}]"))
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.session.timeZone", "UTC")
        # tz-less parquet TIMESTAMP reads as an instant (naive = UTC), not
        # TIMESTAMP_NTZ — epoch arithmetic (unix_micros) needs instants, and
        # this matches DuckDB's naive-as-UTC epoch_us semantics
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def local_rows_df(spark, rows, schema, slices: int = 1):
    """Small local-rows DataFrame with a BOUNDED slice count.

    ``spark.createDataFrame(rows)`` parallelizes the local collection
    over ``defaultParallelism`` pickled slices — on local[32] that is 32
    near-empty tasks (each a Python-worker round trip) for a handful of
    rows, measured ~0.3 s of pure scheduling per materialization. The
    data and schema are identical through ``sc.parallelize(rows, n)``;
    only the slice count changes (guide §2.2: fewer, larger tasks).
    Callers pass the query vectors / probe pairs / sketch meta rows that
    are small BY CONTRACT at any scale — real tables never come through
    here."""
    rows = list(rows)
    n = max(1, min(slices, len(rows)))
    return spark.createDataFrame(
        spark.sparkContext.parallelize(rows, n), schema
    )


def partitioned_read_schema(frame_schema: StructType, key: str) -> StructType:
    """The schema a scan of ``frame.write.partitionBy(key)`` output reads
    back, derived from the written frame with no read: the data columns,
    all nullable (file sources force it), then the partition key. Passing
    it to ``spark.read.schema`` skips the footer-inference job that a
    schemaless read pays on every plan."""
    fields = [
        StructField(f.name, f.dataType, True)
        for f in frame_schema.fields
        if f.name != key
    ]
    return StructType(fields + [StructField(key, frame_schema[key].dataType, True)])


def union_schema(schemas) -> StructType | None:
    """The by-name union of read schemas (or field lists): each field
    once, in order of first appearance, nullable (a file without the
    column reads it as null); None when two schemas give one name
    different types."""
    fields: dict[str, StructField] = {}
    for schema in schemas:
        for f in schema:
            seen = fields.get(f.name)
            if seen is None:
                fields[f.name] = StructField(f.name, f.dataType, True)
            elif seen.dataType != f.dataType:
                return None
    return StructType(list(fields.values()))


def ensure_min_partitions(df, min_partitions: int | None = None):
    """Round-robin repartition iff the input is under-partitioned.

    Small-file inputs (one parquet file = one partition) would otherwise run
    every downstream pandas-UDF stage on a single core. At 100 TB the scan
    has thousands of splits and this is a no-op; locally it turns a 1-core
    chunk/embed stage into an N-core one. The guard avoids paying a shuffle
    when the source is already parallel."""
    spark = df.sparkSession
    target = min_partitions or spark.sparkContext.defaultParallelism
    # the partitions of df.rdd, without PySpark's RDD wrapper around it
    if df._jdf.javaToPython().getNumPartitions() < max(2, target // 2):  # noqa: SLF001
        return df.repartition(target)
    return df

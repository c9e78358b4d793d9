"""Physical-layout utilities — bucketing for co-located joins, compaction
for small-file hygiene (beyond-reference tier; the reference delegates all
layout to Milvus).

**Bucketing** (:func:`write_bucketed`): pre-shuffles a table ONCE at write
time into N hash buckets on the join key. Every later join/aggregate on
that key skips its exchange — Catalyst sees the bucketing output
partitioning and plans SortMergeJoin with NO Exchange on the bucketed
side(s). At 100 TB this converts the recurring per-query shuffle of a hot
join key (chunk md5, vec_id, user_id) into a one-time write cost. The
catalog table is external (explicit ``path``), so the data stays plain
parquet readable by anything; only the bucketing metadata lives in the
metastore.

**Compaction** (:func:`compact_collection`): streaming/append ingest
(S8 under foreachBatch) accumulates many small files per collection
partition; scan cost then scales with file COUNT, not bytes. Compaction
rewrites one collection's directory at a target partition count and swaps
it in through :func:`~vectordb_etl_spark.store.collections.replace_dir`,
the store's one directory swap (naming, crash restore and reader
guarantees are documented there).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from vectordb_etl_spark.store.collections import (
    CollectionStore,
    replace_dir,
    vector_write_options,
)


def write_bucketed(
    df: DataFrame,
    table_name: str,
    path: str,
    bucket_col: str,
    num_buckets: int = 64,
    sort_col: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Write ``df`` as an external bucketed parquet table. Joins between
    tables bucketed on the same key with the same bucket count run with no
    exchange on either side (assert via tests/test_plans.py)."""
    writer = (
        df.write.mode(mode)
        .format("parquet")
        .option("path", path)
        .bucketBy(num_buckets, bucket_col)
    )
    if sort_col is not None:
        writer = writer.sortBy(sort_col)
    writer.saveAsTable(table_name)


def compact_collection(
    store: CollectionStore,
    collection: str,
    target_partitions: int,
) -> tuple[int, int]:
    """Rewrite one collection's partition directory with
    ``target_partitions`` output files, swapped in by
    :func:`~vectordb_etl_spark.store.collections.replace_dir`. The rows
    come from :meth:`CollectionStore.read`, so the rewritten collection
    carries the store's union columns, null where it had none. Returns
    (files_before, files_after)."""
    spark: SparkSession = store.spark
    part_dir = f"{store._data_dir}/collection={collection}"
    fs = store._fs(part_dir)

    def _n_files() -> int:
        return sum(
            1
            for st in fs.listStatus(store._jpath(part_dir))
            if not st.getPath().getName().startswith(("_", "."))
        )

    with replace_dir(spark, part_dir) as (staging, _exists):
        df = store.read(collection).drop("collection")
        before = _n_files()
        df.repartition(target_partitions).write.options(
            **vector_write_options(df)
        ).mode("overwrite").parquet(staging)
    return before, _n_files()


def write_clustered(
    df: DataFrame,
    path: str,
    cluster_cols: list[str],
    num_files: int = 32,
    mode: str = "overwrite",
) -> None:
    """Range-cluster a table on ``cluster_cols`` so parquet zone maps
    (row-group/file min-max statistics) become SELECTIVE for range
    predicates — the single-dimension form of data-skipping clustering
    (what Delta OPTIMIZE ZORDER / Iceberg sort orders do for one key).

    ``repartitionByRange`` makes the files near-disjoint in the cluster
    key, and ``sortWithinPartitions`` tightens every row group's min-max
    inside each file; a later ``ts BETWEEN ...`` scan then skips whole row
    groups via the pushed predicate instead of reading everything. Layout
    cost is one range shuffle at write time; every later range query pays
    only for the rows it touches. Best for the dominant filter column of a
    table (events: ts; chunks: language or chunk-hash prefix)."""
    cols = [df[c] for c in cluster_cols]
    (
        df.repartitionByRange(num_files, *cols)
        .sortWithinPartitions(*cols)
        .write.mode(mode)
        .parquet(path)
    )


def write_training_shards(
    df: DataFrame,
    path: str,
    bucket_col: str = "bucket",
    pack_col: str = "pack_id",
    shards_per_bucket: int = 1,
    mode: str = "overwrite",
) -> None:
    """Materialize packed training sequences (``pack_sequences`` output
    joined back to its payload) as SHARD files a data loader streams
    sequentially: rows of one pack are contiguous within one file, packs
    are in (bucket, pack_id) order, and no pack spans a file — the layout
    every sequence-packing pipeline needs so a trainer reads shard k
    start-to-finish with zero shuffling at read time.

    Layout cost is ONE range shuffle plus a cheap distinct-count to size
    it: ``repartitionByRange`` on (bucket, pack) splits each md5 bucket
    into ``shards_per_bucket`` near-equal shards with pack-aligned
    boundaries (range partitioning assigns every row of a pack the same
    partition, so packs never straddle shards), and
    ``sortWithinPartitions`` lays packs out contiguously inside each file.
    ``partitionBy(bucket)`` keeps the bucket a directory key for
    per-bucket resumption/retry."""
    from pyspark.sql import functions as F

    n_buckets = df.select(bucket_col).distinct().count()
    total_shards = max(shards_per_bucket, 1) * max(n_buckets, 1)
    (
        df.repartitionByRange(
            total_shards, F.col(bucket_col), F.col(pack_col)
        )
        .sortWithinPartitions(bucket_col, pack_col)
        .write.mode(mode)
        .partitionBy(bucket_col)
        .parquet(path)
    )


def zorder_key_col(cols, mins, maxs, bits: int = 8):
    """Z-order (Morton) interleave key over ``cols`` — the multi-column
    data-skipping layout (what Delta OPTIMIZE ZORDER BY / Iceberg z-order
    sort do): each column scales to a ``bits``-bit integer against its
    [min, max] span, then the bit planes interleave so z-adjacent rows are
    near-adjacent in EVERY clustered dimension at once. Pure column
    arithmetic (shift/and/or) — whole-stage codegen, no UDF.

    ``mins``/``maxs`` are the per-column global bounds (one tiny aggregate
    at write time); constant columns collapse to bucket 0."""
    from pyspark.sql import functions as F

    n = len(cols)
    buckets = []
    top = (1 << bits) - 1
    for c, lo, hi in zip(cols, mins, maxs):
        span = float(hi) - float(lo)
        if span <= 0:
            buckets.append(F.lit(0))
            continue
        scaled = F.floor(
            (F.col(c).cast("double") - F.lit(float(lo))) / F.lit(span) * top
        ).cast("long")
        buckets.append(F.greatest(F.lit(0), F.least(F.lit(top), scaled)))
    z = F.lit(0).cast("long")
    for i in range(bits - 1, -1, -1):  # high bit planes first
        for j, b in enumerate(buckets):
            bit = F.shiftright(b, i).bitwiseAND(F.lit(1))
            z = F.shiftleft(z, 1).bitwiseOR(bit)
    return z


def write_zordered(
    df: DataFrame,
    path: str,
    cluster_cols: list[str],
    bits: int = 8,
    num_files: int = 32,
    mode: str = "overwrite",
) -> None:
    """Multi-dimension data-skipping layout: range-partition + sort on the
    z-order key so every parquet file/row group covers a compact z-range —
    a bounded sub-rectangle in EVERY clustered column. A later narrow
    filter on ANY of the columns then skips most files via zone maps,
    where single-column range clustering (:func:`write_clustered`) only
    skips on its one sort key. Cost: one bounds aggregate + one range
    shuffle at write time."""
    from pyspark.sql import functions as F

    bounds = df.agg(
        *[F.min(c).alias(f"__lo_{i}") for i, c in enumerate(cluster_cols)],
        *[F.max(c).alias(f"__hi_{i}") for i, c in enumerate(cluster_cols)],
    ).head()
    mins = [bounds[f"__lo_{i}"] for i in range(len(cluster_cols))]
    maxs = [bounds[f"__hi_{i}"] for i in range(len(cluster_cols))]
    z = zorder_key_col(cluster_cols, mins, maxs, bits=bits)
    (
        df.withColumn("__z", z)
        .repartitionByRange(num_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode(mode)
        .parquet(path)
    )


# --------------------------------------------------------------------------
# exact (oracle-checkable) Z-order variant
# --------------------------------------------------------------------------
#
# :func:`zorder_key_col` above scales each column to its [min, max] span
# through DOUBLE arithmetic — the right default for arbitrary numeric
# columns at write time, but the float scaling is not something a
# cross-engine oracle can restate bit-for-bit. The *_exact_* variant below
# instead masks already-bounded integer inputs (keys, day numbers,
# pre-bucketed values) to the low ``bits`` bits and interleaves with pure
# integer shift/mask/or — the identical arithmetic renders as DuckDB SQL
# (:func:`zorder_key_exact_sql`), so layouts and locality queries built on
# it are hash-checkable (registered query ``zorder_locality``).

from functools import reduce

from pyspark.sql import Column
from pyspark.sql import functions as F


def zorder_key_exact_col(cols: list[Column | str], bits: int = 16) -> Column:
    """Morton-interleave the low ``bits`` bits of each column: bit j of
    column c lands at position ``j * n_cols + c``. n_cols × bits must
    fit a bigint (≤ 62). Pure shift/mask/or expression tree — 2·n·bits
    JVM ops, no Python."""
    n = len(cols)
    if n < 2:
        raise ValueError("zorder needs at least 2 columns")
    if n * bits > 62:
        raise ValueError(f"zorder key would need {n * bits} bits (> 62)")
    cs = [
        (F.col(c) if isinstance(c, str) else c).cast("bigint")
        for c in cols
    ]
    mask = (1 << bits) - 1
    terms = []
    for ci, c in enumerate(cs):
        masked = c.bitwiseAND(F.lit(mask))
        for j in range(bits):
            bit = F.shiftright(masked, j).bitwiseAND(F.lit(1))
            terms.append(F.shiftleft(bit, j * n + ci))
    return reduce(lambda a, b: a.bitwiseOR(b), terms)


def zorder_key_exact_sql(cols: list[str], bits: int = 16) -> str:
    """The identical interleave as DuckDB SQL text (>>, &, << on
    BIGINT), for oracle twins of queries that sort/filter by the key."""
    n = len(cols)
    if n < 2:
        raise ValueError("zorder needs at least 2 columns")
    if n * bits > 62:
        raise ValueError(f"zorder key would need {n * bits} bits (> 62)")
    mask = (1 << bits) - 1
    terms = []
    for ci, c in enumerate(cols):
        m = f"(CAST({c} AS BIGINT) & {mask})"
        for j in range(bits):
            terms.append(f"((({m} >> {j}) & 1) << {j * n + ci})")
    return "(" + " | ".join(terms) + ")"


def zorder_exact_layout(
    df: DataFrame,
    cols: list[Column | str],
    bits: int = 16,
    num_files: int | None = None,
) -> DataFrame:
    """Rewrite ``df`` into Z-order: range-partitioned and sorted by the
    Morton key of ``cols``. Write the result with ``.write.parquet`` to
    get one locality-tight file per partition. ``num_files`` defaults to
    the session shuffle parallelism."""
    key = zorder_key_exact_col(cols, bits).alias("__zorder")
    with_key = df.withColumn("__zorder", key)
    parted = (
        with_key.repartitionByRange(num_files, "__zorder")
        if num_files
        else with_key.repartitionByRange("__zorder")
    )
    return parted.sortWithinPartitions("__zorder").drop("__zorder")


# --------------------------------------------------------------------------
# zone-map manifest + candidate-file pruning
# --------------------------------------------------------------------------


def file_stats_manifest(
    spark: SparkSession, path: str, cols: list[str]
) -> DataFrame:
    """Zone-map manifest for a parquet layout: per file, row count and
    min/max of each listed column — the table a lakehouse metadata layer
    (Delta log / Iceberg manifest) maintains, materialized here with one
    aggregation. Build it ONCE right after a layout write (the write
    already streamed every row, so the agg is the amortized-free part)
    and persist it next to the data; :func:`prune_candidate_files` then
    answers "which files can this box predicate touch" from the manifest
    alone, never listing into the data."""
    from pyspark.sql import functions as F

    df = spark.read.parquet(path)
    aggs = [F.count("*").alias("n_rows")]
    for c in cols:
        aggs.append(F.min(c).alias(f"{c}_min"))
        aggs.append(F.max(c).alias(f"{c}_max"))
    return df.groupBy(F.input_file_name().alias("file")).agg(*aggs)


def prune_candidate_files(
    manifest: DataFrame, box: dict[str, tuple]
) -> DataFrame:
    """Candidate files for a box predicate ``{col: (lo, hi)}``: a file
    survives iff every queried column's [min, max] intersects its bound
    — exactly the manifest-prune arithmetic a scan planner runs. On a
    Z-ordered layout most files drop for most boxes
    (tests/test_layout.py measures it); on insert order nothing does."""
    from functools import reduce as _reduce

    from pyspark.sql import functions as F

    conds = [
        (F.col(f"{c}_max") >= lo) & (F.col(f"{c}_min") <= hi)
        for c, (lo, hi) in box.items()
    ]
    return manifest.filter(_reduce(lambda a, b: a & b, conds))


def file_bloom_manifest(
    spark: SparkSession,
    path: str,
    key_col: str,
    m_bits: int = 4096,
    k: int = 2,
) -> DataFrame:
    """Per-FILE Bloom bitmap manifest ``(file, word, bits)`` — the
    data-skipping index for POINT lookups on high-cardinality keys,
    where the min/max zone map (:func:`file_stats_manifest`) is useless
    because every file's [min, max] spans the whole domain unless the
    layout is sorted by that key (Parquet column bloom filters / Delta
    bloom indexes are this exact structure). One aggregation keyed by
    (file, word) with map-side combine; ≤ ceil(m/63) rows per file
    regardless of file size. Same portable 63-bit word layout as
    operators/bloom.py, so manifests merge with bloom_merge and remain
    engine-checkable."""
    from pyspark.sql import functions as F

    from vectordb_etl_spark.operators.bloom import _hash_cols

    if m_bits < 63:
        raise ValueError(f"m_bits must be >= 63; got {m_bits}")
    df = spark.read.parquet(path)
    key = F.col(key_col)
    pos = F.explode(F.array(*_hash_cols(key, m_bits, k))).alias("pos")
    return (
        df.where(key.isNotNull())
        .select(F.input_file_name().alias("file"), pos)
        .select(
            "file",
            F.expr("pos DIV 63").alias("word"),
            F.expr(
                "shiftleft(CAST(1 AS BIGINT), CAST(pos % 63 AS INT))"
            ).alias("b"),
        )
        .groupBy("file", "word")
        .agg(F.bit_or("b").alias("bits"))
    )


def bloom_prune_files(
    manifest: DataFrame,
    keys: list,
    m_bits: int = 4096,
    k: int = 2,
) -> DataFrame:
    """Candidate files for a POINT-lookup key set: a file survives iff
    some probe key has ALL k of its bits set in that file's bitmap —
    no false negatives (a file holding the key always survives), false
    positives bounded by the bloom rate. The probe set is a handful of
    literals: it broadcasts, the manifest joins on ``word``, and the
    all-k rule is a count-distinct over probe indexes — manifest-only
    arithmetic, the data files are never touched (same contract as
    :func:`prune_candidate_files`, for the predicate shape zone maps
    cannot skip)."""
    from pyspark.sql import functions as F

    from vectordb_etl_spark.operators.bloom import _hash_cols

    if not keys:
        raise ValueError("bloom_prune_files: keys must be non-empty")
    spark = manifest.sparkSession
    from vectordb_etl_spark.session import local_rows_df

    # bounded-slice local frame: a handful of probe keys, one task
    probe = local_rows_df(
        spark, [(v,) for v in keys], ["key"]
    )
    probes = probe.select(
        "key",
        F.posexplode(F.array(*_hash_cols(F.col("key"), m_bits, k))).alias(
            "j", "pos"
        ),
    ).select(
        "key",
        "j",
        F.expr("pos DIV 63").alias("word"),
        F.expr("CAST(pos % 63 AS INT)").alias("bit"),
    )
    hits = (
        manifest.join(F.broadcast(probes), "word")
        .where(F.expr("(shiftrightunsigned(bits, bit) & 1) = 1"))
        .groupBy("file", "key")
        .agg(F.count_distinct("j").alias("n_set"))
        .where(F.col("n_set") == k)
    )
    return hits.select("file").distinct()

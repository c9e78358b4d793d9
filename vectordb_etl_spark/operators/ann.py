"""Approximate-nearest-neighbor tier — operators X1/X2-analog (SURVEY.md §2.6)
plus the beyond-reference scale path for similarity search.

The reference delegates ANN to Milvus IVF_FLAT (nlist=128, nprobe=16 —
modules/milvus_store.py:125-131, config.py:22-25). The Spark-native design
(SURVEY.md §4) turns the index into DATA LAYOUT:

- **build**: KMeans over the vectors; each row gets a ``centroid_id``; the
  table is written sorted by it, in row groups of about one cell. Centroids
  are a tiny driver-side artifact (nlist × dim floats).
- **search**: rank centroids against the query ON THE DRIVER (numpy over the
  tiny centroid matrix), then read the table with a ``centroid_id IN
  (probes)`` filter pushed to the parquet scan — row-group min/max
  statistics skip the unprobed cells, which is the "index probe". Scan
  fraction ≈ nprobe/nlist (the reference's 16/128 = 12.5%), the IVF
  contract, as Milvus keeps a segment's inverted lists in one index file.
- **LSH alternative**: deterministic random-hyperplane sign buckets as a pure
  column expression (no model artifact) — :func:`lsh_bucket_col`.

Vector assignment uses an Arrow-batched pandas UDF doing one numpy matmul per
batch — the embedding-shaped workload where a vectorized Python hop beats
per-element JVM expressions.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, IntegerType, StructType

from vectordb_etl_spark.functions.sqltext import read_parquet, sql_col, sql_string
from vectordb_etl_spark.functions.vector import (
    metric_ascending,
    score_col,
    vector_lit,
    vector_norm,
)
from vectordb_etl_spark.operators.topk import topk_search
from vectordb_etl_spark.session import (
    local_rows_df,
    partitioned_read_schema,
    union_schema,
)
from vectordb_etl_spark.store.collections import vector_write_options


def _unit_rows(m: np.ndarray) -> np.ndarray:
    """``m`` with each row scaled to unit L2 norm; a zero row stays zero."""
    return m / np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-12)


def centroid_scores(
    points: np.ndarray, centroids: np.ndarray, metric: str = "COSINE"
) -> np.ndarray:
    """Score each row of ``points`` against each centroid, higher = nearer:
    negated squared distance for L2, cosine for COSINE, dot product for IP.
    The one nearest-centroid rule of an IVF index: assignment
    (:func:`assign_centroids_udf`), probing (:meth:`IVFIndex.probe_ids`)
    and the residual codebook's sample (:func:`train_pq_codebook_residual`)
    all rank by it, so a probe visits the cells rows were assigned to."""
    cents = np.asarray(centroids, dtype=np.float64)
    up = metric.upper()
    if up == "L2":
        # one centroid at a time: an n × dim temporary, not n × nlist × dim
        return -np.stack(
            [((points - c) ** 2).sum(axis=1) for c in cents], axis=1
        )
    if up == "COSINE":
        points, cents = _unit_rows(points), _unit_rows(cents)
    return points @ cents.T


def assign_centroids_udf(
    centroids: np.ndarray, metric: str = "COSINE", round_dp: int | None = None
):
    """Vectorized nearest-centroid assignment by :func:`centroid_scores`.
    ``centroids`` is broadcast in the UDF closure (nlist × dim — a few KB;
    fine in task binaries).

    ``round_dp`` rounds scores before the argmax so the assignment is
    reproducible across engines (numpy BLAS vs a SQL oracle may differ in
    the last ulp; rounding + first-max tie-break pins the choice). argmax
    returns the FIRST maximal index — i.e. ties break to the lowest
    centroid id, matching ``ORDER BY score DESC, cid ASC``."""
    cents = np.asarray(centroids, dtype=np.float64)

    @F.pandas_udf(IntegerType())
    def _assign(embs: pd.Series) -> pd.Series:
        mat = np.stack(embs.to_numpy()).astype(np.float64)
        scores = centroid_scores(mat, cents, metric)
        if round_dp is not None:
            scores = np.round(scores, round_dp)
        return pd.Series(scores.argmax(axis=1).astype(np.int32))

    return _assign


def train_centroids(
    df: DataFrame,
    emb_col: str = "embedding",
    nlist: int = 128,
    metric: str = "COSINE",
    seed: int = 42,
    max_iter: int = 20,
) -> np.ndarray:
    """X1 — IVF centroid training. Mirrors IVF_FLAT nlist=128 (reference
    config.py:24).

    Standard IVF practice: train on a bounded sample (≈256·nlist rows —
    centroid quality saturates at a few hundred points per centroid), never
    the full set. The sample is SIZE-INDEPENDENT of the table, so it is
    collected to the driver (≤256·nlist × dim floats, tens of MB at
    nlist=128/dim=1024) and clustered with in-memory numpy Lloyd's. At any
    scale this costs ONE sampling scan; distributed KMeans would instead pay
    a full pass + job-scheduling round trip per iteration for a model that
    trains on the same number of points."""
    target = 256 * nlist
    # One scan, no df.count() pre-pass: order by a hash of the vector and
    # take the first `target` — TakeOrderedAndProject keeps a size-`target`
    # heap per partition, so driver transfer stays bounded and the hash
    # order is position-independent pseudo-random (a bare limit() would
    # take the FIRST rows, badly biased on clustered/sorted layouts; the
    # old sample(fraction) needed a full count() scan to size the fraction)
    sample = df.select(emb_col).orderBy(F.xxhash64(F.col(emb_col), F.lit(seed))).limit(target)
    mat = np.stack(sample.toPandas()[emb_col].to_numpy()).astype(np.float64)
    k = min(nlist, max(2, mat.shape[0]))
    up = metric.upper()

    rng = np.random.RandomState(seed)
    cents = mat[rng.choice(mat.shape[0], size=k, replace=False)].copy()

    pts = _unit_rows(mat) if up == "COSINE" else mat
    if up == "COSINE":
        cents = _unit_rows(cents)

    prev = None
    for _ in range(max_iter):
        if up == "L2":
            # ||x-c||² = ||x||² - 2x·c + ||c||²; ||x||² is rank-constant
            d = -2.0 * (pts @ cents.T) + (cents**2).sum(axis=1)[None, :]
            assign = d.argmin(axis=1)
        else:  # COSINE (unit rows) and IP share the dot-argmax rule
            assign = (pts @ cents.T).argmax(axis=1)
        if prev is not None and np.array_equal(assign, prev):
            break
        prev = assign
        onehot = np.zeros((pts.shape[0], k))
        onehot[np.arange(pts.shape[0]), assign] = 1.0
        counts = onehot.sum(axis=0)
        sums = onehot.T @ pts  # BLAS segment-sum
        empty = counts == 0
        counts[empty] = 1.0
        cents = sums / counts[:, None]
        if empty.any():  # reseed dead clusters to random sample points
            cents[empty] = pts[rng.choice(pts.shape[0], size=int(empty.sum()))]
        if up == "COSINE":  # spherical k-means: centroids live on the sphere
            cents = _unit_rows(cents)
    return cents


# rows per parquet row group of an IVF layout, near parquet-mr's 100-row
# floor for its first size check: row-group statistics then skip unprobed
# cells even when a cell holds only a few hundred rows
ROW_GROUP_ROWS = 150


def _element_bytes(schema: StructType) -> int:
    """The stored vector's element width: the widest array element in
    ``schema``, one struct level down (doubles 8, floats 4, PQ codes 2,
    SQ8 codes 1)."""
    width = {"double": 8, "float": 4, "short": 2, "byte": 1}
    types = [f.dataType for f in schema]
    types += [g.dataType for t in types if isinstance(t, StructType) for g in t]
    return max((width.get(t.elementType.typeName(), 0) for t in types
                if isinstance(t, ArrayType)), default=8)


class IVFIndex:
    """IVF_FLAT as a centroid-sorted parquet table + driver-side probe.

    build() writes:   <path>/data/*.parquet  (sorted by centroid_id)
                      <path>/centroids/...parquet  (nlist tiny rows)
    search() reads ``data/`` with a pushed ``centroid_id IN (probes)``
    filter; row-group statistics skip the unprobed cells.

    Everything — data AND the centroid artifact — is parquet written
    through Spark, so the index works on any warehouse URI (s3a/hdfs/
    file) with no local-filesystem side channel.

    A handle memoizes only what build() fixes: the centroids and the data
    schema (a reopened handle reads each once, on first use). The file
    listing is NOT memoized — every probe lists ``data/`` once on the
    driver, so rows that add() or compact() wrote, through any handle or
    process, are visible on the next search.

    An index in the older ``data/centroid_id=<i>/`` layout serves as-is
    (the same read sees a partition column); compact() or a rebuild
    converts it, and must run before its next add()."""

    def __init__(self, spark: SparkSession, path: str, metric: str = "COSINE"):
        self.spark = spark
        self.path = str(path)
        self.metric = metric
        self._centroids: np.ndarray | None = None
        self._schema: StructType | None = None
        # data/ in the older one-directory-per-cell layout (read_probed
        # cannot scan it beside current layouts); build/compact clear it
        self._per_cell = False

    def build(
        self,
        df: DataFrame,
        emb_col: str = "embedding",
        nlist: int = 128,
        seed: int = 42,
        max_iter: int = 20,
        centroids: np.ndarray | None = None,
        assign_round_dp: int | None = None,
        storage: str = "flat",
        pq_subs: int | None = None,
        pq_codes: int = 16,
        pq_id_col: str = "vec_id",
        pq_codebook_df: DataFrame | None = None,
        pq_train: bool = False,
    ) -> "IVFIndex":
        """Train (sampled Lloyd's) or adopt ``centroids`` verbatim — the
        pre-trained/medoid path (e.g. centroid j := a designated vector),
        which also makes the full assign→prune→probe pipeline expressible
        by a SQL oracle when paired with ``assign_round_dp``.

        ``storage="sq8"`` is the IVF_SQ8 tier (the Milvus index type of the
        same name): cell assignment is computed on the RAW vectors, then
        each vector is stored as per-vector min/max int8 codes (~1 byte/dim
        — 8× smaller than the double math width) and dequantized at probe
        time. Probing reads ~nprobe/nlist of a 8×-smaller table; scores are
        exact over the dequantized values (reconstruction error ≤ step/2
        per element, functions/vector.py). Searches always expose the
        dequantized vector under the name ``embedding``.

        ``storage="pq"`` is the IVF_PQ tier: cell assignment on the RAW
        vectors, storage as ``pq_subs`` smallint codes per vector (d/m
        compression — 32× at m=8, d=64 doubles; ``pq_subs=None`` derives
        the recall-grade default from dim — see
        :func:`recall_grade_pq_subs` — and an explicit wider-subspace
        choice emits a RuntimeWarning) against a designated-vector
        codebook (:func:`pq_codebook` over ``pq_id_col``; the codebook
        persists at ``<path>/pq_codebook``). Probe-time reconstruction
        concatenates codewords via a literal lookup (a pure column
        expression above the pruned scan), so ``dot(q, reconstruction)``
        IS the classic ADC score and every search/add/compact path works
        unchanged over codes.

        ``storage="pq_residual"`` is FAISS/Milvus IVF_PQ proper (Jégou,
        Douze & Schmid 2011 §IV — public): PQ encodes the RESIDUAL
        ``vector − assigned centroid`` rather than the raw vector, so the
        codebook only has to cover the within-cell spread — on clustered
        data that's where PQ recall recovers. Reconstruction adds the
        centroid back (``_read_data``), after which search/add/compact are
        identical to ``storage="pq"``. ``pq_codebook_df``, when supplied,
        must be a RESIDUAL-space codebook; when omitted, the designated
        codebook is built from the residuals of ``pq_id_col < pq_codes``
        (still SQL-expressible — the oracle restates assignment, residual,
        encode, and add-back)."""
        if storage not in ("flat", "sq8", "pq", "pq_residual"):
            raise ValueError(
                "storage must be 'flat', 'sq8', 'pq', or 'pq_residual'"
            )
        if centroids is not None:
            cents = np.asarray(centroids, dtype=np.float64)
        else:
            cents = train_centroids(df, emb_col, nlist, self.metric, seed, max_iter)
        assigned = df.withColumn(
            "centroid_id",
            assign_centroids_udf(cents, self.metric, round_dp=assign_round_dp)(
                F.col(emb_col)
            ),
        )
        if storage == "sq8":
            from vectordb_etl_spark.functions.vector import sq8_quantize_col

            assigned = assigned.withColumn(
                "__sq8", sq8_quantize_col(emb_col)
            ).drop(emb_col)
        if storage in ("pq", "pq_residual"):
            # pq_subs=None -> recall-grade default derived from dim
            # (sub-width PQ_RECALL_GRADE_SUB_WIDTH floats); an explicit
            # wider-subspace choice warns (measured m=8 recall@10 is 0.48
            # on the bench corpus vs 0.90 at the recall-grade point).
            pq_subs = _resolve_pq_subs(
                int(cents.shape[1]), pq_subs, "IVFIndex.build"
            )
            src = assigned
            enc_col = emb_col
            if storage == "pq_residual":
                # residual = vector − assigned centroid; centroids join
                # BROADCAST (nlist rows) so this adds no exchange
                src = assigned.join(
                    F.broadcast(self._centroids_df(cents)), "centroid_id"
                ).withColumn(
                    "__res",
                    F.zip_with(
                        F.col(emb_col).cast("array<double>"),
                        "centroid",
                        lambda a, b: a - b,
                    ),
                ).drop("centroid")
                enc_col = "__res"
            # codebook: adopt a supplied one (residual-space for
            # pq_residual), train per-subspace k-means over the encode
            # column (``pq_train=True`` — the quality path; trains on the
            # RESIDUALS for pq_residual, exactly FAISS's IVF_PQ recipe), or
            # derive the designated-vector codebook (the oracle path);
            # either way it persists next to the layout so add()
            # re-encodes consistently
            if pq_codebook_df is not None:
                cb = pq_codebook_df
            elif pq_train and storage == "pq_residual":
                # driver-side residual sampling: one pruned raw-vector
                # scan instead of a full-table assignment+residual pass
                # spent on picking the bounded training sample
                cb = train_pq_codebook_residual(
                    df, self.spark, cents, emb_col=emb_col,
                    metric=self.metric,
                    n_codes=pq_codes, n_subs=pq_subs, seed=seed,
                )
            elif pq_train:
                cb = train_pq_codebook(
                    src, self.spark, emb_col=enc_col,
                    n_codes=pq_codes, n_subs=pq_subs, seed=seed,
                )
            else:
                cb = pq_codebook(
                    src, n_codes=pq_codes, n_subs=pq_subs,
                    id_col=pq_id_col, emb_col=enc_col,
                )
            cb.repartition(1).write.options(**vector_write_options(cb)).mode(
                "overwrite"
            ).parquet(f"{self.path}/pq_codebook")
            cb = self.spark.read.parquet(f"{self.path}/pq_codebook")
            assigned = _with_pq_codes(
                src, cb, n_subs=pq_subs, id_col=pq_id_col, emb_col=enc_col,
                out_col="__pq" if storage == "pq" else "__pqr",
            )
            if storage == "pq_residual":
                assigned = assigned.drop(emb_col)
        self._centroids = cents
        self._schema = partitioned_read_schema(assigned.schema, "centroid_id")
        self._write_layout(assigned, f"{self.path}/data", "overwrite")
        cents_df = self._centroids_df(cents)
        cents_df.write.options(**vector_write_options(cents_df)).mode(
            "overwrite"
        ).parquet(f"{self.path}/centroids")
        return self

    def _centroids_df(self, cents: np.ndarray) -> DataFrame:
        """(centroid_id, centroid) rows as a bounded-slice local frame:
        ONE task holds the handful of rows (createDataFrame would spread
        them over defaultParallelism pickled slices — 32 near-empty
        tasks)."""
        return local_rows_df(
            self.spark,
            [(int(i), [float(x) for x in c]) for i, c in enumerate(cents)],
            "centroid_id int, centroid array<double>",
        )

    def _write_layout(self, frame: DataFrame, dest: str, mode: str) -> None:
        """The one writer of the data layout. ``repartition`` on the key
        keeps each cell in one file (AQE sets the file count from the data
        size), the sort puts the cells in order, and a
        ``parquet.block.size`` of ROW_GROUP_ROWS rows × dim × the stored
        element width cuts row groups of about that many rows, whose
        min/max statistics let a probe's pushed ``centroid_id IN`` filter
        skip unprobed cells. PQ stores fewer codes than dim, so its groups
        hold a few times more of its small rows. Columns go in
        :attr:`schema` order; vectors skip parquet's dictionary attempt
        (:func:`~vectordb_etl_spark.store.collections.vector_write_options`)."""
        dim = self.centroids.shape[1]
        block = ROW_GROUP_ROWS * dim * _element_bytes(self.schema)
        (
            frame.select(*self.schema.fieldNames())
            .repartition("centroid_id")
            .sortWithinPartitions("centroid_id")
            .write.mode(mode)
            .option("parquet.block.size", block)
            .options(**vector_write_options(frame))
            .parquet(dest)
        )

    def search_many(
        self,
        queries: list[list[float]],
        k: int = 3,
        nprobe: int = 16,
        probe_round_dp: int | None = None,
        tie_break: list[str] | None = None,
        output_cols: list[str] | None = None,
        emb_col: str = "embedding",
    ) -> DataFrame:
        """Batched retrieval: N queries answered in ONE job over the union
        of their probed cells — the serving shape at scale, where
        per-query jobs would pay scheduling + scan setup N times. Probe
        sets are ranked on the driver (tiny centroid matrix); their union
        filters the scan, a broadcast (query_id, centroid_id) pair table
        joins each candidate to its queries, and each query's exact top-k
        comes from one rank-over-window on the scored candidates. Returns
        (query_id, *output_cols, score) rows, k per query."""
        pairs = [
            (qi, cid)
            for qi, q in enumerate(queries)
            for cid in self.probe_ids(q, nprobe, round_dp=probe_round_dp)
        ]
        probes_df = local_rows_df(
            self.spark, pairs, "query_id int, centroid_id int"
        )
        from pyspark.sql.window import Window

        # each query's norm rides in the broadcast table, folded on the
        # driver exactly as score_col folds a single query's, so batched
        # and single-query scores share one kernel and stay bit-identical
        qdf = local_rows_df(
            self.spark,
            [
                (i, [float(x) for x in q], vector_norm(q))
                for i, q in enumerate(queries)
            ],
            "query_id int, qvec array<double>, qnorm double",
        )
        data = self._read_data(sorted({cid for _, cid in pairs}))
        # the batched path injects working columns into the joined frame; a
        # data schema that already uses one of these names would silently
        # resolve joins/ranks against the data column and corrupt results —
        # fail loud instead
        clash = {"query_id", "qvec", "qnorm", "rn", "score"} & set(data.columns)
        if clash:
            raise ValueError(
                f"indexed data uses reserved column name(s) {sorted(clash)}; "
                "rename them before building the IVF index (search_many "
                "injects query_id/qvec/qnorm/rn/score internally)"
            )
        cand = data.join(F.broadcast(probes_df), "centroid_id").join(
            F.broadcast(qdf), "query_id"
        )
        # same score definition AND sort direction as single-query search
        # (topk_search/score_col): COSINE/IP rank descending, L2 reports the
        # positive sqrt distance and ranks ASCENDING — direction comes from
        # the shared metric_ascending so the two paths cannot drift
        score = score_col(emb_col, F.col("qvec"), self.metric, F.col("qnorm"))
        direction = F.asc if metric_ascending(self.metric) else F.desc
        scored = cand.withColumn("score", F.round(score, 6))
        order = [direction("score")] + [F.asc(c) for c in (tie_break or [])]
        w = Window.partitionBy("query_id").orderBy(*order)
        out_cols = output_cols or [
            c for c in data.columns if c not in ("centroid_id", emb_col)
        ]
        return (
            scored.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= k)
            .select("query_id", *out_cols, "score")
            .orderBy("query_id", *order)
        )

    def add(
        self,
        df: DataFrame,
        emb_col: str = "embedding",
        assign_round_dp: int | None = None,
        pq_id_col: str = "vec_id",
    ) -> "IVFIndex":
        """Incremental maintenance: assign a NEW batch against the EXISTING
        centroids and append it to ``data/`` as one more sorted file set
        (:meth:`_write_layout`) — cost proportional to the batch, never a
        rebuild. This is how IVF indexes absorb a streaming/daily ingest at
        100 TB: the centroid geometry drifts only when the data
        distribution does, at which point a scheduled build() retrains
        (same trade Milvus/FAISS make — add() assigns, re-train is an
        explicit operation). Readers pick up new files on their next
        listing of ``data/``; a search mid-append sees complete old files.
        An index in the older per-cell layout needs compact() first."""
        cents = self.centroids  # loads the persisted artifact if needed
        assigned = df.withColumn(
            "centroid_id",
            assign_centroids_udf(cents, self.metric, round_dp=assign_round_dp)(
                F.col(emb_col)
            ),
        )
        # match the existing storage tier (the handle's schema): a
        # quantized index must encode appended batches the same way build
        # did (pq uses the PERSISTED codebook — codes stay comparable)
        existing_cols = self.schema.fieldNames()
        if "__sq8" in existing_cols:
            from vectordb_etl_spark.functions.vector import sq8_quantize_col

            assigned = assigned.withColumn(
                "__sq8", sq8_quantize_col(emb_col)
            ).drop(emb_col)
        if "__pq" in existing_cols:
            cb = self.spark.read.parquet(f"{self.path}/pq_codebook")
            n_subs = cb.agg(F.max("sub")).head()[0] + 1
            assigned = _with_pq_codes(
                assigned, cb, n_subs=n_subs, id_col=pq_id_col, emb_col=emb_col
            )
        if "__pqr" in existing_cols:
            cb = self.spark.read.parquet(f"{self.path}/pq_codebook")
            n_subs = cb.agg(F.max("sub")).head()[0] + 1
            assigned = _with_pq_codes(
                assigned.join(F.broadcast(self._centroids_df(cents)), "centroid_id")
                .withColumn(
                    "__res",
                    F.zip_with(
                        F.col(emb_col).cast("array<double>"),
                        "centroid",
                        lambda a, b: a - b,
                    ),
                )
                .drop("centroid"),
                cb, n_subs=n_subs, id_col=pq_id_col, emb_col="__res",
                out_col="__pqr",
            ).drop(emb_col)
        self._write_layout(assigned, f"{self.path}/data", "append")
        return self

    @property
    def schema(self) -> StructType:
        """The layout's read schema: stored columns, then ``centroid_id``.
        Fixed by build(); a reopened handle reads it once, from ``data/``."""
        if self._schema is None:
            df = self.spark.read.parquet(f"{self.path}/data")
            files = df._jdf.inputFiles()  # noqa: SLF001
            self._per_cell = len(files) > 0 and "/centroid_id=" in files[0]
            self._schema = df.schema
        return self._schema

    @property
    def centroids(self) -> np.ndarray:
        if self._centroids is None:
            rows = (
                self.spark.read.parquet(f"{self.path}/centroids")
                .orderBy("centroid_id")
                .collect()
            )
            self._centroids = np.array([r["centroid"] for r in rows])
        return self._centroids

    def probe_ids(
        self, query: list[float], nprobe: int = 16, round_dp: int | None = None
    ) -> list[int]:
        """Rank centroids on the driver (tiny matrix — no Spark job).
        ``round_dp`` + stable sort ties to the lowest centroid id, matching
        ``ORDER BY score DESC, cid ASC`` in a SQL oracle."""
        q = np.asarray(query, dtype=np.float64)
        scores = centroid_scores(q[None, :], self.centroids, self.metric)[0]
        if round_dp is not None:
            scores = np.round(scores, round_dp)
        order = np.argsort(-scores, kind="stable")
        return [int(i) for i in order[:nprobe]]

    def compact(self) -> tuple[int, int]:
        """Rewrite the data layout as one sorted file set.

        Each ``add()`` batch appends its own sorted file set — after N
        ingests a probe opens N times the footers and scan setup starts
        to dominate. Compaction is one sort on the layout key
        (:meth:`_write_layout`) into the staging directory of
        :func:`~vectordb_etl_spark.store.collections.replace_dir`, swapped
        in over ``data/`` (which also restores a ``data/`` left aside by a
        crashed compaction). It also converts an index in the older
        per-cell directory layout. Quantized layouts compact as-is — codes
        are never decoded. Returns (files_before, files_after)."""
        from vectordb_etl_spark.store.collections import hadoop_fs, replace_dir

        data = f"{self.path}/data"
        fs, jdata = hadoop_fs(self.spark, data)

        def _count_files() -> int:
            return fs.getContentSummary(jdata).getFileCount()

        with replace_dir(self.spark, data) as (staging, _exists):
            before = _count_files()
            self._write_layout(self._scan(), staging, "overwrite")
        self._per_cell = False
        return before, _count_files()

    # above this many doubles (K·d), the codebook stops being a plan
    # literal: at production dims (d=1024, K=256 — BGE-M3 through FAISS's
    # default K) the literal is ~2 MB of expression tree serialized into
    # EVERY query plan; the Arrow-batched gather UDF ships the ndarray once
    # per stage in the task closure instead and does the lookup as one
    # numpy fancy-index per batch.
    PQ_LITERAL_MAX_DOUBLES = 4096

    def _pq_recon_col(self, codes_col: str) -> Column:
        """Codeword-concatenation reconstruction for a PQ codes column.
        Small codebooks inline as a literal (pure column expression —
        keeps the serve path 100% JVM); large ones reconstruct via
        :func:`pq_reconstruct_udf`. Either way the probe filter still
        reaches the scan underneath the projection, and ``dot(q,
        reconstruction)`` is exactly the ADC score."""
        cb_df = self.spark.read.parquet(f"{self.path}/pq_codebook")
        by_sub: dict[int, dict[int, list[float]]] = {}
        for r in cb_df.collect():
            by_sub.setdefault(int(r["sub"]), {})[int(r["code"])] = [
                float(x) for x in r["cw"]
            ]
        # both reconstruction paths gather codewords by POSITION (sorted
        # key order), which is only correct when sub ids are 0..M-1 and
        # code ids are dense 0..K-1 per subspace. The built-in codebook
        # builders always produce that; a user-supplied codebook with
        # gaps would silently reconstruct the WRONG codewords, so check.
        if sorted(by_sub) != list(range(len(by_sub))):
            raise ValueError(
                "PQ codebook subspace ids must be contiguous 0..M-1; got "
                f"{sorted(by_sub)}"
            )
        for s, codes in by_sub.items():
            if sorted(codes) != list(range(len(codes))):
                raise ValueError(
                    f"PQ codebook subspace {s} has non-contiguous code "
                    f"ids (min {min(codes)}, max {max(codes)}, "
                    f"n {len(codes)}); codes must be dense 0..K-1"
                )
        n_doubles = sum(
            len(cw) for subs in by_sub.values() for cw in subs.values()
        )
        # non-finite codewords (degenerate training data) render as
        # nanD/infD, which F.expr cannot parse — route them to the UDF
        # path, which handles any float64. The size test comes first, so
        # the scan only runs while the literal path is still possible.
        if n_doubles > self.PQ_LITERAL_MAX_DOUBLES or not all(
            np.isfinite(v)
            for subs in by_sub.values()
            for cw in subs.values()
            for v in cw
        ):
            cb_arr = np.array(
                [
                    [by_sub[s][c] for c in sorted(by_sub[s])]
                    for s in sorted(by_sub)
                ],
                dtype=np.float64,
            )
            return pq_reconstruct_udf(cb_arr)(F.col(codes_col))
        # ONE parsed SQL expression instead of nested F.array/F.lit calls:
        # the Column-API version costs one py4j round trip per literal
        # (1000+ for an 8-sub × 16-code × 8-double codebook — measured
        # multi-second driver gaps per search), while expr() ships one
        # string and parses in the JVM. repr() is the shortest round-trip
        # form, and the D-suffixed literal parses back to the identical
        # double bits, so scores are unchanged. (Flat vectors use
        # functions/vector.py:vector_lit; this nested codebook keeps the
        # parsed form.)
        cb_lit = F.expr(
            "array({})".format(",".join(
                "array({})".format(",".join(
                    "array({})".format(
                        ",".join(f"{v!r}D" for v in by_sub[s][c])
                    )
                    for c in sorted(by_sub[s])
                ))
                for s in sorted(by_sub)
            ))
        )
        return F.flatten(
            F.transform(
                F.col(codes_col),
                lambda c, i: F.element_at(
                    F.element_at(cb_lit, i + 1), c.cast("int") + 1
                ),
            )
        )

    def _scan(self, probes: list[int] | None = None) -> DataFrame:
        """The stored layout, read from its one root path with the
        handle's schema (no inference or listing job). With ``probes``,
        the ``centroid_id IN (probes)`` filter is pushed to the parquet
        scan, whose row-group statistics skip the unprobed cells (over the
        older per-cell layout it is a partition filter instead)."""
        df = read_parquet(self.spark, self.schema, [f"{self.path}/data"])
        if probes is None:
            return df
        return df.filter(sql_col(_probe_sql(probes) or "FALSE"))

    def _read_data(self, probes: list[int] | None = None) -> DataFrame:
        """The indexed table (only the ``probes`` cells, when given — see
        :meth:`_scan`) with the vector column restored: flat storage
        reads as written; SQ8 storage dequantizes the int8 codes into
        ``embedding``; PQ storage reconstructs it as codeword lookups
        against the codebook (literal expression at test dims, Arrow
        gather UDF at prod dims — see :meth:`_pq_recon_col`); residual-PQ
        storage adds the assigned centroid back on top of the residual
        reconstruction (centroids join BROADCAST on the layout key, so the
        probe filter still reaches the scan)."""
        df = self._scan(probes)
        if "__sq8" in df.columns:
            from vectordb_etl_spark.functions.vector import sq8_dequantize_col

            df = df.withColumn(
                "embedding", sq8_dequantize_col("__sq8")
            ).drop("__sq8")
        if "__pq" in df.columns:
            df = df.withColumn("embedding", self._pq_recon_col("__pq")).drop(
                "__pq"
            )
        if "__pqr" in df.columns:
            cents = self.spark.read.parquet(f"{self.path}/centroids")
            df = (
                df.withColumn("__recon", self._pq_recon_col("__pqr"))
                .join(F.broadcast(cents), "centroid_id")
                .withColumn(
                    "embedding",
                    F.zip_with("centroid", "__recon", lambda a, b: a + b),
                )
                .drop("__pqr", "__recon", "centroid")
            )
        return df

    def search(
        self,
        query: list[float],
        k: int = 3,
        nprobe: int = 16,
        predicate: Column | None = None,
        probe_round_dp: int | None = None,
        **topk_kwargs,
    ) -> DataFrame:
        """Probe top-nprobe clusters, exact top-k inside them.

        The ``centroid_id IN (probes)`` filter is pushed to the parquet
        scan (verify via explain: PushedFilters), whose row-group
        statistics skip the unprobed cells. With the handle's schema the
        search runs no schema or listing job, and rows appended since the
        last search are seen. A probe set whose cells hold no rows returns
        an empty frame."""
        probes = self.probe_ids(query, nprobe, round_dp=probe_round_dp)
        df = self._read_data(probes)
        return topk_search(
            df, query, k=k, metric=self.metric, predicate=predicate, **topk_kwargs
        )

    def search_per_group(
        self,
        query: list[float],
        k: int = 3,
        nprobe: int = 16,
        group_col: str = "collection",
        predicate: Column | None = None,
        probe_round_dp: int | None = None,
        **topk_kwargs,
    ) -> DataFrame:
        """Q2 THROUGH the index tier: per-group top-k hit lists (the
        reference's multi-collection fan-out, milvus_store.py:301-325)
        over ONE probe scan — the pushed ``centroid_id IN (probes)``
        filter and the per-group window rank stack on the same read, so
        fan-out costs one pruned scan + one
        group-keyed shuffle, never one scan per collection. With
        ``nprobe >= nlist`` (probe-all) the result provably equals the
        exact per-group top-k — the registered ``ivf_fanout_topk``
        oracle edge. Approximate caveat vs per-collection indexes: one
        shared cell layout means a group concentrated far from the
        probed cells can under-fill its list at small nprobe; size
        nprobe accordingly (or give hot collections their own index via
        CollectionStore.fanout_search_indexed)."""
        from vectordb_etl_spark.operators.topk import search_per_group_topk

        probes = self.probe_ids(query, nprobe, round_dp=probe_round_dp)
        df = self._read_data(probes)
        if predicate is not None:
            df = df.filter(predicate)
        return search_per_group_topk(
            df, query, k=k, metric=self.metric, group_col=group_col,
            **topk_kwargs,
        )


def _probe_sql(probes: list[int]) -> str:
    """The probe filter as SQL text, one parsed expression at any nprobe;
    empty for an empty probe set (``IN ()`` does not parse)."""
    ids = ", ".join(str(int(p)) for p in probes)
    return f"`centroid_id` IN ({ids})" if ids else ""


def read_probed(
    indexes: dict[str, IVFIndex], probes: dict[str, list[int]]
) -> list[DataFrame]:
    """The ``probes[name]`` cells of each collection's index, every row
    tagged with its ``collection``, in as few scans as the layouts allow.

    Flat layouts whose rows carry ``collection`` (every index
    ``CollectionStore.build_index`` makes) are ONE read of all their
    ``data/`` directories under the union of their schemas, filtered by
    one ``(collection = n AND centroid_id IN (…)) OR …`` text that
    reaches the scan's row-group statistics: one scan, one set of tasks
    and a constant number of py4j round trips for any number of indexes.
    Every other index — quantized storage decodes with its own codebook,
    and a layout without ``collection`` gets its name as a literal — is
    a scan of its own (:meth:`IVFIndex._read_data`), and so is an index
    still in the older per-cell directory layout, whose partition
    directories Spark will not infer under several roots."""
    fused, branches = {}, []
    for n, idx in indexes.items():
        cols = set(idx.schema.fieldNames())
        if (
            "collection" in cols
            and not {"__sq8", "__pq", "__pqr"} & cols
            and not idx._per_cell
        ):
            fused[n] = idx
        else:
            branches.append(
                idx._read_data(probes[n]).withColumn("collection", F.lit(n))
            )
    schema = union_schema(idx.schema for idx in fused.values())
    if schema is None:  # two layouts type one column differently
        return [
            idx._read_data(probes[n]) for n, idx in fused.items()
        ] + branches
    if fused:
        cond = " OR ".join(
            f"(`collection` = {sql_string(n)} AND {_probe_sql(probes[n])})"
            for n in fused if probes[n]
        )
        first = next(iter(fused.values()))
        df = read_parquet(
            first.spark, schema, [f"{idx.path}/data" for idx in fused.values()]
        )
        branches.insert(0, df.filter(sql_col(cond or "FALSE")))
    return branches


def lsh_bucket_col(
    emb_col: Column | str,
    dim: int,
    num_planes: int = 8,
    seed: int = 7,
) -> Column:
    """Random-hyperplane LSH bucket as a pure column expression: bit_i =
    sign(dot(emb, plane_i)). Deterministic planes (seeded numpy) become plan
    literals; the whole bucket computation is JVM-side codegen — suitable as
    a partition/bucket column at write time for 100 TB layouts."""
    c = F.col(emb_col) if isinstance(emb_col, str) else emb_col
    planes = np.random.RandomState(seed).standard_normal((num_planes, dim))
    arr = c.cast("array<double>")
    bits = []
    for i in range(num_planes):
        plane = vector_lit(planes[i])
        dot = F.aggregate(
            F.zip_with(arr, plane, lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bits.append(F.when(dot >= 0, F.lit("1")).otherwise(F.lit("0")))
    return F.concat(*bits)


def lsh_topk_search(
    df: DataFrame,
    query: list[float],
    k: int = 3,
    num_planes: int = 8,
    seed: int = 7,
    multiprobe_hamming: int = 1,
    metric: str = "COSINE",
    emb_col: str = "embedding",
    **topk_kwargs,
) -> DataFrame:
    """ANN via hyperplane buckets: scan only rows whose bucket is within
    ``multiprobe_hamming`` of the query's bucket (multi-probe LSH). With a
    bucket-partitioned table this prunes like IVF; here it's a filter.

    ``multiprobe_hamming >= num_planes`` probes every bucket — the exact
    edge (result provably equals brute-force top-k), which is what the
    driver's ``lsh_topk`` oracle checks; the approximate regime is covered
    by recall tests."""
    from itertools import combinations

    dim = len(query)
    planes = np.random.RandomState(seed).standard_normal((num_planes, dim))
    qbits = "".join("1" if planes[i] @ np.asarray(query) >= 0 else "0" for i in range(num_planes))
    # enumerate probe buckets within the hamming radius (C(8,≤1)=9 for the
    # default; 2^num_planes at the probe-all edge — num_planes is small)
    flip = {"0": "1", "1": "0"}
    probes = set()
    for radius in range(min(multiprobe_hamming, num_planes) + 1):
        for idxs in combinations(range(num_planes), radius):
            bits = list(qbits)
            for i in idxs:
                bits[i] = flip[bits[i]]
            probes.add("".join(bits))
    bucket = lsh_bucket_col(emb_col, dim, num_planes, seed)
    pruned = df.filter(bucket.isin(*probes))
    return topk_search(pruned, query, k=k, metric=metric, **topk_kwargs)


def recall_at_k(exact_ids: list, approx_ids: list) -> float:
    """Recall@k of an approximate result against the exact top-k."""
    if not exact_ids:
        return 1.0
    return len(set(exact_ids) & set(approx_ids)) / len(exact_ids)


# --------------------------------------------------------------------------
# PQ tier — product quantization with asymmetric-distance serving (the
# Milvus/FAISS IVF_PQ code path; Jégou et al. 2011, "Product Quantization
# for Nearest Neighbor Search" — public paper)
# --------------------------------------------------------------------------

# Measured recall design points (bench.py pq_design_point, trained 256-code
# codebooks, recall@10 vs exact cosine over the d=64 bench corpus):
# sub-width 8 floats (m=8)  -> 0.48
# sub-width 4 floats (m=16) -> 0.67
# sub-width 2 floats (m=32) -> 0.90   <- recall-grade point
# On an isotropic corpus the recall lever is code budget (finer subspaces);
# defaults below derive m from dim at the recall-grade sub-width so a user
# taking the defaults gets >=0.7 recall, not the 64x-compression play.
PQ_RECALL_GRADE_SUB_WIDTH = 2
# Cap on the DERIVED default m: uncapped, d=1024 would train 512 per-subspace
# k-means problems and store 512 smallint codes/row (~8x compression instead
# of ~32x) — a silent build-cost/storage jump at the CLI's default dimension.
# m=64 keeps ADC table size and build cost bounded at high dim; callers who
# want finer subspaces pass n_subs explicitly (validated by _resolve_pq_subs).
PQ_RECALL_GRADE_M_CAP = 64


def recall_grade_pq_subs(dim: int) -> int:
    """Default PQ subspace count for a ``dim``-wide embedding: the largest
    ``m`` dividing ``dim`` with sub-width >= PQ_RECALL_GRADE_SUB_WIDTH
    floats per code, capped at PQ_RECALL_GRADE_M_CAP so high-dim configs
    (e.g. d=1024, the CLI default) don't silently train hundreds of
    per-subspace k-means problems (d=64 -> m=32, d=1024 -> m=64). Callers
    wanting the storage-size play (wider subspaces, lower recall) must opt
    in explicitly — and get a RuntimeWarning from :meth:`IVFIndex.build`."""
    if dim < 1:
        raise ValueError(f"dim must be positive, got {dim}")
    m = max(1, min(dim // PQ_RECALL_GRADE_SUB_WIDTH, PQ_RECALL_GRADE_M_CAP))
    while dim % m:
        m -= 1
    return m


def _resolve_pq_subs(dim: int, n_subs: int | None, where: str) -> int:
    """Resolve an explicit-or-None subspace count against ``dim``; warn
    loudly when an explicit choice sits below the measured recall-grade
    point so default-porting users (e.g. Milvus IVF_PQ m=8 habits) don't
    silently ship 0.48-recall retrieval. An explicit ``n_subs`` must
    divide ``dim`` — failing here with the nearest valid divisors beats
    the opaque slice-shape error deep in encode/decode."""
    if n_subs is None:
        return recall_grade_pq_subs(dim)
    if n_subs < 1:
        raise ValueError(f"{where}: n_subs must be positive, got {n_subs}")
    if dim % n_subs:
        lo = next(m for m in range(min(n_subs, dim), 0, -1) if dim % m == 0)
        hi = next((m for m in range(n_subs, dim + 1) if dim % m == 0), dim)
        raise ValueError(
            f"{where}: n_subs={n_subs} does not divide dim={dim}; "
            f"nearest valid subspace counts are {lo} and {hi}"
        )
    if dim // max(n_subs, 1) > PQ_RECALL_GRADE_SUB_WIDTH:
        import warnings

        warnings.warn(
            f"{where}: n_subs={n_subs} gives sub-width "
            f"{dim // n_subs} floats at dim={dim} — below the measured "
            f"recall-grade point (sub-width {PQ_RECALL_GRADE_SUB_WIDTH}, "
            f"m={recall_grade_pq_subs(dim)}; bench curve m=8 -> 0.48, "
            "m=32 -> 0.90 recall@10 at d=64). Pass n_subs=None for the "
            "recall-grade default, or keep this value for the "
            "storage-size play.",
            RuntimeWarning,
            stacklevel=3,
        )
    return n_subs


def pq_codebook(
    df: DataFrame,
    n_codes: int = 16,
    n_subs: int = 8,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """Designated-vector PQ codebook: codeword ``j`` of subspace ``s`` is
    the ``s``-th slice of the vector with ``id == j`` (``j < n_codes``) —
    the same oracle-friendly medoid pick as the designated-centroid IVF
    path (a trained per-subspace k-means drops in without changing the
    encode/serve plans). Returns ``(sub, code, cw array<double>)`` —
    ``n_subs × n_codes`` rows, a broadcast-sized artifact by construction.
    """
    return (
        df.filter(F.col(id_col) < n_codes)
        .select(
            F.col(id_col).cast("int").alias("code"),
            F.col(emb_col).cast("array<double>").alias("__v"),
        )
        .select(
            "code",
            F.explode(F.array(*[F.lit(s) for s in range(n_subs)])).alias("sub"),
            "__v",
        )
        .select(
            "sub",
            "code",
            F.expr(
                f"slice(__v, sub * (size(__v) div {n_subs}) + 1, "
                f"size(__v) div {n_subs})"
            ).alias("cw"),
        )
    )


def pq_encode(
    df: DataFrame,
    codebook: DataFrame,
    n_subs: int = 8,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """Encode every vector as ``n_subs`` codes: per subspace, the codeword
    minimizing L2 distance (rounded 6 dp; ties to the lowest code, so
    Spark and the oracle agree bit-for-bit). Returns ``(id, sub, code)``.

    Scale shape: the codebook joins BROADCAST (n_subs × n_codes rows), so
    the n·m·K candidate stream never shuffles; the per-(vector, subspace)
    argmin is a min-of-struct aggregation with map-side partial combine —
    ONE exchange keyed by (id, sub), and the struct is 16 bytes. This is
    the standard distributed PQ build: compute-bound in the broadcast
    join, not shuffle-bound."""
    from vectordb_etl_spark.functions.vector import l2_distance_col

    # pre-explode each vector into its n_subs subvectors ONCE (n·m rows),
    # so the broadcast join against K codewords evaluates the distance on a
    # materialized subvector — not a fresh slice of the full vector per
    # (vector, sub, code) candidate (a K× cut in slice work)
    subvecs = df.select(
        F.col(id_col).alias("id"),
        F.col(emb_col).cast("array<double>").alias("__v"),
    ).select(
        "id",
        F.explode(
            F.expr(
                f"transform(sequence(0, {n_subs} - 1), s -> "
                f"struct(s AS sub, slice(__v, s * (size(__v) div {n_subs}) + 1, "
                f"size(__v) div {n_subs}) AS sv))"
            )
        ).alias("__sv"),
    ).select("id", F.col("__sv.sub").alias("sub"), F.col("__sv.sv").alias("__sv"))
    cand = subvecs.join(F.broadcast(codebook), "sub").select(
        "id",
        "sub",
        "code",
        F.round(l2_distance_col(F.col("__sv"), F.col("cw")), 6).alias("__d"),
    )
    return cand.groupBy("id", "sub").agg(
        F.min(F.struct("__d", "code")).getField("code").alias("code")
    )


def pq_topk_adc(
    df: DataFrame,
    query: list,
    k: int = 10,
    n_codes: int = 16,
    n_subs: int | None = None,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    output_cols: list | None = None,
    codebook: DataFrame | None = None,
    encode: str = "expr",
) -> DataFrame:
    """PQ serving via the asymmetric-distance LUT: the query is split into
    subvectors once, each (sub, code) codeword gets a partial inner
    product (the n_subs × n_codes lookup table — THE product-quantization
    trick), and a vector's approximate score is the sum of its codes'
    LUT entries. Top-k by approximate score, ties to the lowest id.

    Scale shape: encode is the one exchange (see :func:`pq_encode`); the
    LUT is built from the broadcast codebook and joins broadcast; the
    final per-vector sum is one map-side-combined aggregation followed by
    TakeOrderedAndProject. Serving never touches raw vectors — at 100 TB
    the scan reads m small-int codes per row instead of the d-float
    embedding (~1/16 of the raw bytes at m=8, d=64 before parquet's
    dictionary/RLE encoding shrinks the code column further).

    ``n_subs=None`` derives the recall-grade default from the query's
    dim (:func:`recall_grade_pq_subs`) — unless an existing ``codebook``
    is supplied, in which case the codebook's own subspace count wins: a
    codebook trained under a different default must not be silently
    re-sliced (the (sub, code) lookups would miss and return wrong/empty
    results); an explicit ``n_subs`` disagreeing with the codebook
    raises."""
    if codebook is not None:
        cb_max = codebook.agg(F.max("sub")).first()[0]
        if cb_max is None:
            raise ValueError("pq_topk_adc: supplied codebook is empty")
        cb_subs = cb_max + 1
        if n_subs is None:
            n_subs = cb_subs
        elif n_subs != cb_subs:
            raise ValueError(
                f"pq_topk_adc: n_subs={n_subs} disagrees with the supplied "
                f"codebook ({cb_subs} subspaces); pass n_subs=None to use "
                "the codebook's own subspace count"
            )
        if len(query) % n_subs:
            raise ValueError(
                f"pq_topk_adc: codebook has {n_subs} subspaces but the "
                f"query dim {len(query)} is not divisible by it — the "
                "codebook was trained for a different embedding dim"
            )
    elif n_subs is None:
        n_subs = recall_grade_pq_subs(len(query))
    cb = (
        codebook
        if codebook is not None
        else pq_codebook(
            df, n_codes=n_codes, n_subs=n_subs, id_col=id_col, emb_col=emb_col
        )
    )
    if encode == "numpy":
        # vectorized fast path (pq_codes_udf): one BLAS pass per subspace
        # per Arrow batch — ~10× the interpreted higher-order-lambda
        # expression path; identical codes away from rounding boundaries,
        # so oracles keep encode="expr" and serving/bench pick this
        enc_udf = pq_codes_udf(codebook_to_array(cb))
        codes = df.select(
            F.col(id_col).alias("id"), enc_udf(F.col(emb_col)).alias("__c")
        ).select("id", F.posexplode("__c").alias("sub", "code"))
    else:
        codes = pq_encode(df, cb, n_subs=n_subs, id_col=id_col, emb_col=emb_col)
    q = [float(x) for x in query]
    sub_w = len(q) // n_subs
    lut = cb.select(
        "sub",
        "code",
        F.aggregate(
            F.zip_with(
                F.col("cw"),
                F.slice(vector_lit(q), F.col("sub") * sub_w + 1, sub_w),
                lambda a, b: a * b,
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("__part"),
    )
    scored = (
        codes.join(F.broadcast(lut), ["sub", "code"])
        .groupBy("id")
        .agg(F.round(F.sum("__part"), 6).alias("score"))
    )
    keep = output_cols or [id_col]
    out = scored.join(
        df.select(F.col(id_col).alias("id"), *[c for c in keep if c != id_col]),
        "id",
    ).select(
        F.col("id").alias(id_col), *[c for c in keep if c != id_col], "score"
    )
    return out.orderBy(F.desc("score"), F.asc(id_col)).limit(k)


def pq_topk_adc_sql(
    table: str = "embeddings",
    query_id: int = 0,
    k: int = 10,
    n_codes: int = 16,
    n_subs: int = 8,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    extra_cols: str = "label",
) -> str:
    """Oracle: the same designated codebook, 6-dp-rounded L2 argmin encode,
    and ADC LUT sum, stated in SQL (query = the vector with id
    ``query_id``)."""
    return f"""
WITH e AS MATERIALIZED (
  SELECT {id_col} AS id, CAST({emb_col} AS DOUBLE[]) AS v, {extra_cols}
  FROM {table}
), w AS (SELECT (len(v) // {n_subs}) AS sw FROM e LIMIT 1),
cb AS MATERIALIZED (
  SELECT s.s AS sub, e.id AS code,
         e.v[s.s * w.sw + 1 : (s.s + 1) * w.sw] AS cw
  FROM e CROSS JOIN w CROSS JOIN
       (SELECT unnest(range(0, {n_subs})) AS s) s
  WHERE e.id < {n_codes}
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
), q AS (SELECT v AS qv FROM e WHERE id = {query_id}),
lut AS (
  SELECT cb.sub, cb.code,
         list_inner_product(cb.cw,
           q.qv[cb.sub * w.sw + 1 : (cb.sub + 1) * w.sw]) AS part
  FROM cb CROSS JOIN q CROSS JOIN w
), scored AS (
  SELECT enc.id, round(sum(lut.part), 6) AS score
  FROM enc JOIN lut USING (sub, code) GROUP BY enc.id
)
SELECT s.id AS {id_col}, {extra_cols}, s.score
FROM scored s JOIN e USING (id)
ORDER BY s.score DESC, s.id ASC LIMIT {k}
"""


def _with_pq_codes(
    assigned: DataFrame,
    codebook: DataFrame,
    n_subs: int,
    id_col: str,
    emb_col: str,
    out_col: str = "__pq",
) -> DataFrame:
    """Replace ``emb_col`` with a codes column (array<smallint>, one code
    per subspace, sub-ordered): encode against ``codebook``, fold the
    (id, sub, code) rows to an array, and join back on the id — the one
    id-keyed shuffle of the PQ build path.

    smallint, NOT tinyint: the standard PQ design point is K=256 codes
    (train_pq_codebook's default), and a tinyint cast silently wraps codes
    128–255 negative (non-ANSI cast), after which reconstruction's
    ``element_at(..., code + 1)`` indexes from the array END — wrong
    codewords, no error. Two bytes per code is still 4× under the float
    width and parquet dictionary/RLE encoding absorbs most of the rest."""
    codes = pq_encode(
        assigned.select(F.col(id_col), F.col(emb_col)),
        codebook, n_subs=n_subs, id_col=id_col, emb_col=emb_col,
    )
    codes_arr = codes.groupBy("id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("sub", "code"))),
            lambda x: x["code"],
        )
        .cast("array<smallint>")
        .alias(out_col)
    )
    return (
        assigned.join(codes_arr, assigned[id_col] == codes_arr["id"])
        .drop("id")
        .drop(emb_col)
    )


def train_pq_codebook(
    df: DataFrame,
    spark: SparkSession,
    emb_col: str = "embedding",
    n_codes: int = 256,
    n_subs: int | None = None,
    seed: int = 42,
    max_iter: int = 10,
) -> DataFrame:
    """Trained PQ codebook — per-subspace Lloyd's over a bounded sample
    (the same 256·k sampling stance as :func:`train_centroids`; FAISS
    trains PQ codebooks identically). Slices the sampled vectors into
    ``n_subs`` subvectors and k-means each subspace independently with L2.
    Returns the same ``(sub, code, cw)`` shape as :func:`pq_codebook`, so
    it drops into :func:`pq_encode` / :func:`pq_topk_adc` /
    ``IVFIndex.build(storage='pq')`` unchanged. Designated codebooks stay
    the ORACLE path (SQL-expressible); trained ones are the QUALITY path
    — recall is graded by bench.py's pq_design_point row."""
    target = 256 * n_codes
    sample = (
        df.select(emb_col)
        .orderBy(F.xxhash64(F.col(emb_col), F.lit(seed)))
        .limit(target)
    )
    mat = np.stack(sample.toPandas()[emb_col].to_numpy()).astype(np.float64)
    if n_subs is None:  # recall-grade default (see PQ_RECALL_GRADE_SUB_WIDTH)
        n_subs = recall_grade_pq_subs(mat.shape[1])
    return _pq_lloyds_codebook(mat, spark, n_codes, n_subs, seed, max_iter)


def _kmeanspp_init(pts: np.ndarray, k: int, rng: np.random.RandomState) -> np.ndarray:
    """k-means++ seeding (Arthur & Vassilvitskii 2007, public): each next
    center is drawn with probability ∝ squared distance to the nearest
    chosen center. O(k·n·dim) on the bounded driver-side sample; measured
    +0.03 recall@10 over uniform seeding on the bench residual design
    point at identical code budget."""
    n = pts.shape[0]
    cents = np.empty((k, pts.shape[1]), dtype=pts.dtype)
    cents[0] = pts[rng.randint(n)]
    d2 = ((pts - cents[0]) ** 2).sum(axis=1)
    for j in range(1, k):
        tot = float(d2.sum())
        if tot <= 0.0:  # fewer distinct points than centers
            cents[j:] = pts[rng.randint(n, size=k - j)]
            break
        cents[j] = pts[rng.choice(n, p=d2 / tot)]
        d2 = np.minimum(d2, ((pts - cents[j]) ** 2).sum(axis=1))
    return cents


def _pq_lloyds_codebook(
    mat: np.ndarray,
    spark: SparkSession,
    n_codes: int,
    n_subs: int,
    seed: int,
    max_iter: int,
) -> DataFrame:
    """Per-subspace Lloyd's over an in-memory sample matrix — the shared
    trainer behind :func:`train_pq_codebook` (raw vectors) and
    :func:`train_pq_codebook_residual` (driver-computed residuals).
    Seeded with k-means++ (:func:`_kmeanspp_init`)."""
    dim = mat.shape[1]
    sub_w = dim // n_subs
    rng = np.random.RandomState(seed)
    rows = []
    for s in range(n_subs):
        pts = mat[:, s * sub_w : (s + 1) * sub_w]
        k = min(n_codes, max(2, pts.shape[0]))
        cents = _kmeanspp_init(pts, k, rng)
        prev = None
        for _ in range(max_iter):
            d = -2.0 * (pts @ cents.T) + (cents**2).sum(axis=1)[None, :]
            assign = d.argmin(axis=1)
            if prev is not None and np.array_equal(assign, prev):
                break
            prev = assign
            onehot = np.zeros((pts.shape[0], k))
            onehot[np.arange(pts.shape[0]), assign] = 1.0
            counts = onehot.sum(axis=0)
            sums = onehot.T @ pts
            empty = counts == 0
            counts[empty] = 1.0
            cents = sums / counts[:, None]
            if empty.any():
                cents[empty] = pts[rng.choice(pts.shape[0], size=int(empty.sum()))]
        rows.extend(
            (s, j, [float(x) for x in cents[j]]) for j in range(cents.shape[0])
        )
    return local_rows_df(
        spark, rows, "sub int, code int, cw array<double>"
    )


def train_pq_codebook_residual(
    df: DataFrame,
    spark: SparkSession,
    centroids: np.ndarray,
    emb_col: str = "embedding",
    metric: str = "COSINE",
    n_codes: int = 256,
    n_subs: int | None = None,
    seed: int = 42,
    max_iter: int = 10,
) -> DataFrame:
    """Residual-space trained codebook WITHOUT a full-table residual pass.

    The naive route (train_pq_codebook over the residual column) has to
    materialize assignment + residual for EVERY row just to pick a
    bounded sample — at 100 TB that is a full-table pandas-UDF pass spent
    on sample selection. Instead: sample the RAW vectors with the same
    hash-order heap (one pruned scan, no Python), then replicate the
    nearest-centroid rule of :func:`assign_centroids_udf` in driver-side
    numpy on the ≤256·n_codes rows and train on ``vector − centroid``.
    Same model family and sample-size stance; the only difference from
    the naive route is WHICH bounded pseudo-random sample the codebook
    sees (hash of raw vector vs hash of residual)."""
    target = 256 * n_codes
    sample = (
        df.select(emb_col)
        .orderBy(F.xxhash64(F.col(emb_col), F.lit(seed)))
        .limit(target)
    )
    mat = np.stack(sample.toPandas()[emb_col].to_numpy()).astype(np.float64)
    cents = np.asarray(centroids, dtype=np.float64)
    assign = centroid_scores(mat, cents, metric).argmax(axis=1)
    residuals = mat - cents[assign]
    if n_subs is None:  # recall-grade default (see PQ_RECALL_GRADE_SUB_WIDTH)
        n_subs = recall_grade_pq_subs(residuals.shape[1])
    return _pq_lloyds_codebook(residuals, spark, n_codes, n_subs, seed, max_iter)


def pq_codes_udf(codebook: np.ndarray):
    """Vectorized PQ encoder (the pandas-UDF fast path — same stance as
    :func:`assign_centroids_udf`: embedding-shaped numeric work beats
    per-element JVM lambdas by an order of magnitude). ``codebook`` is
    (n_subs, n_codes, sub_w); emits the ``n_subs`` codes per vector as one
    array. Distance/tie semantics replicate :func:`pq_encode` exactly —
    L2 rounded to 6 dp, first (lowest) code on ties — so both encoders
    pick identical codes away from exact rounding boundaries; registered
    ORACLE queries keep the expression path, serving/bench use this."""
    cb = np.ascontiguousarray(codebook, dtype=np.float64)
    n_subs, n_codes, sub_w = cb.shape

    from pyspark.sql.types import ArrayType

    @F.pandas_udf(ArrayType(IntegerType()))
    def _encode(embs: pd.Series) -> pd.Series:
        mat = np.stack(embs.to_numpy()).astype(np.float64)
        mat = mat.reshape(mat.shape[0], n_subs, sub_w)
        out = np.empty((mat.shape[0], n_subs), dtype=np.int32)
        for s in range(n_subs):
            # ||x-c|| via the expanded form, one BLAS matmul per subspace
            sq = (
                (mat[:, s, :] ** 2).sum(axis=1)[:, None]
                - 2.0 * (mat[:, s, :] @ cb[s].T)
                + (cb[s] ** 2).sum(axis=1)[None, :]
            )
            d = np.round(np.sqrt(np.maximum(sq, 0.0)), 6)
            out[:, s] = d.argmin(axis=1)  # first min == lowest code on ties
        return pd.Series(list(out))

    return _encode


def pq_reconstruct_udf(codebook: np.ndarray):
    """Vectorized PQ reconstruction (the prod-dims twin of the literal
    codeword-concat expression): ``codebook`` is (n_subs, n_codes, sub_w);
    each row's codes gather their codewords in ONE numpy fancy-index per
    Arrow batch and concatenate. Used by ``IVFIndex._read_data`` when the
    codebook exceeds ``PQ_LITERAL_MAX_DOUBLES`` — the ndarray rides the
    task closure once per stage instead of a ~2 MB literal tree serialized
    into every query plan. Bit-identical to the literal path (same float64
    codewords, no arithmetic beyond the copy)."""
    cb = np.ascontiguousarray(codebook, dtype=np.float64)
    n_subs, n_codes, sub_w = cb.shape

    from pyspark.sql.types import ArrayType, DoubleType

    @F.pandas_udf(ArrayType(DoubleType()))
    def _recon(codes: pd.Series) -> pd.Series:
        mat = np.stack(codes.to_numpy()).astype(np.int64)
        out = cb[np.arange(n_subs)[None, :], mat].reshape(mat.shape[0], -1)
        return pd.Series(list(out))

    return _recon


def codebook_to_array(codebook: DataFrame) -> np.ndarray:
    """Collect a ``(sub, code, cw)`` codebook DataFrame into the
    (n_subs, n_codes, sub_w) ndarray :func:`pq_codes_udf` takes — a tiny
    driver artifact (m·K·(d/m) doubles)."""
    rows = codebook.collect()
    n_subs = max(int(r["sub"]) for r in rows) + 1
    n_codes = max(int(r["code"]) for r in rows) + 1
    sub_w = len(rows[0]["cw"])
    out = np.zeros((n_subs, n_codes, sub_w))
    for r in rows:
        out[int(r["sub"]), int(r["code"])] = r["cw"]
    return out

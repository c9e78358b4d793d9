"""Pipeline runner — M7 (SURVEY.md §7.2; reference main.py:40-277 +
dags/vectordb_etl_dag.py).

The reference's ``PipelineRunner`` runs extract → transform → load →
validate with pickle files between stages (main.py:93-94, 133-134). Here
each stage runs a few Spark jobs and the stage contract is a parquet
directory — same restart semantics, but columnar, splittable, and
predicate-pushdown-friendly for every downstream read. The Airflow DAG's
task boundaries (dags/vectordb_etl_dag.py:265-318) map to these stage
methods 1:1, so an orchestrator can call one stage per task and pass only
paths (exactly what the DAG's XCom does).

Driver cost: every stage builds its plan from Spark SQL text
(:mod:`functions.sqltext`), a fixed number of py4j round trips whatever
the input, and a runner reads a checkpoint it wrote itself under the
schema it remembered, so no job re-reads a footer it just wrote.

Scale notes:
- Stage checkpoints mean each stage's lineage is cut — a 100 TB transform
  does not re-run extract on failure, and the optimizer plans each stage
  against real parquet statistics.
- ``repartition`` before the chunk explode spreads documents evenly; the
  explode (1 doc → N chunks) happens map-side after that.
- Dedup is the only corpus-wide shuffle in the ETL path (hash-partitioned by
  md5 — uniform, no skew).
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DataType, MapType, StructField, StructType

from vectordb_etl_spark.config import PipelineConfig
from vectordb_etl_spark.functions.sqltext import read_parquet, with_columns_sql
from vectordb_etl_spark.operators import chunker
from vectordb_etl_spark.store.collections import (
    CollectionStore,
    commit_stamp,
    hadoop_fs,
    write_counted,
)


def _nullable(t: DataType) -> DataType:
    """``t`` with every struct field, array element and map value
    nullable (Spark's ``asNullable``)."""
    if isinstance(t, StructType):
        return StructType([
            StructField(f.name, _nullable(f.dataType), True, f.metadata)
            for f in t.fields
        ])
    if isinstance(t, ArrayType):
        return ArrayType(_nullable(t.elementType), True)
    if isinstance(t, MapType):
        return MapType(_nullable(t.keyType), _nullable(t.valueType), True)
    return t


@dataclass
class StageResult:
    stage: str
    rows: int
    seconds: float
    path: str | None = None
    extra: dict = field(default_factory=dict)


class PipelineRunner:
    """Staged ETL driver (reference: main.py:40-277)."""

    def __init__(self, spark: SparkSession, config: PipelineConfig | None = None):
        self.spark = spark
        self.config = config or PipelineConfig()
        self.store = CollectionStore(spark, self.config.store)
        # checkpoint path -> (commit stamp, read schema) of this runner's
        # last write there (see _read_checkpoint)
        self._written: dict[str, tuple[int | None, StructType]] = {}

    # -- stage paths (≅ the reference's data/documents.pkl, data/chunks.pkl) --
    def _ckpt(self, name: str) -> str:
        # plain string join, not pathlib — checkpoint_dir may be a remote
        # URI (s3a://, hdfs://) and Path() collapses the double slash
        return f"{self.config.checkpoint_dir.rstrip('/')}/{name}"

    @property
    def documents_path(self) -> str:
        return self._ckpt("documents.parquet")

    @property
    def chunks_path(self) -> str:
        return self._ckpt("chunks.parquet")

    def _write_checkpoint(self, df: DataFrame, path: str) -> int:
        """:func:`write_counted`, remembering the checkpoint's commit stamp
        and the schema a read of it infers: the written one with every
        field nullable, as a parquet read makes it."""
        n = write_counted(df, path)
        self._written[path] = (commit_stamp(self.spark, path), _nullable(df.schema))
        return n

    def _read_checkpoint(self, path: str) -> DataFrame:
        """Read a checkpoint. While its commit stamp is the one this
        runner's own write left, the remembered schema is the read schema,
        so no job reads a footer to learn it; after any other writer's
        commit the schema is inferred."""
        known = self._written.get(path)
        if known is not None and commit_stamp(self.spark, path) == known[0]:
            return read_parquet(self.spark, known[1], [path])
        return self.spark.read.parquet(path)

    # -- extract (main.py:71-97) ---------------------------------------------
    def extract(self, input_dir: str | None = None, kind: str = "html") -> StageResult:
        from vectordb_etl_spark.sources.scan import (
            load_html_documents,
            load_hwp_documents,
        )

        t0 = time.time()
        root = input_dir or self.config.input_dir
        loader = load_html_documents if kind == "html" else load_hwp_documents
        docs = loader(self.spark, root)
        n = self._write_checkpoint(docs, self.documents_path)
        return StageResult("extract", n, time.time() - t0, self.documents_path)

    def extract_dataframe(self, docs: DataFrame) -> StageResult:
        """Extract from an already-loaded DataFrame (driver testdata path)."""
        t0 = time.time()
        n = self._write_checkpoint(docs, self.documents_path)
        return StageResult("extract", n, time.time() - t0, self.documents_path)

    # -- transform (main.py:99-137) ------------------------------------------
    def transform(self) -> StageResult:
        from vectordb_etl_spark.session import ensure_min_partitions

        t0 = time.time()
        docs = ensure_min_partitions(self._read_checkpoint(self.documents_path))
        columns = docs.columns
        if "doc_id" not in columns:
            docs = with_columns_sql(docs, {"doc_id": "md5(`source`)"}, columns)
        chunks = chunker.chunk_documents(docs, self.config.chunker)
        deduped = chunker.remove_duplicate_chunks(
            chunks, order_cols=["doc_id", "chunk_index"]
        )
        n = self._write_checkpoint(deduped, self.chunks_path)
        return StageResult("transform", n, time.time() - t0, self.chunks_path)

    # -- curate (beyond-reference; functions/curation.py, operators/dedup.py) --
    @property
    def curated_path(self) -> str:
        return self._ckpt("curated.parquet")

    def curate(
        self,
        near_dup: bool = True,
        redact_pii: bool = True,
        sample_fractions: dict[str, float] | None = None,
        strata_col: str = "language",
        text_col: str = "text",
        length_band: tuple[float, float] | None = None,
        boilerplate_max_frac: float | None = None,
        substring_dup_max_frac: float | None = None,
    ) -> StageResult:
        """Optional curation stage between transform and load — the
        training-data pass the reference lacks: length-outlier screening,
        cross-doc boilerplate filtering, transitive near-dup removal (LSH
        candidates → connected components → keep min-id representative),
        PII redaction, and deterministic per-stratum downsampling. Writes
        ``curated.parquet``; ``load`` prefers it over the raw chunks
        checkpoint when present.

        ``length_band=(lo_p, hi_p)`` keeps chunks inside the exact
        percentile band of their text length (percentile_screen);
        ``boilerplate_max_frac`` drops chunks whose shared-shingle fraction
        exceeds the threshold (boilerplate_fraction; chunks too short to
        shingle are kept); ``substring_dup_max_frac`` drops chunks whose
        exact substring-window duplicated fraction exceeds the threshold
        (substring_dup_stats — the Lee-et-al. cut; zero-window chunks are
        kept). Screens run FIRST — they are the cheapest and shrink the
        input to the similarity passes."""
        from vectordb_etl_spark.functions import curation
        from vectordb_etl_spark.operators import dedup as D

        t0 = time.time()
        chunks = self._read_checkpoint(self.chunks_path)
        extra: dict = {"input_rows": chunks.count()}
        if length_band is not None:
            lo_p, hi_p = length_band
            chunks = curation.percentile_screen(
                chunks.withColumn("__len", F.length(text_col)),
                "__len", lo_p=lo_p, hi_p=hi_p,
            ).drop("__len")
        if boilerplate_max_frac is not None:
            frac = D.boilerplate_fraction(
                chunks, id_col="chunk_id", text_col=text_col
            ).select("chunk_id", "boiler_frac")
            chunks = (
                chunks.join(frac, "chunk_id", "left")
                .filter(
                    F.col("boiler_frac").isNull()
                    | (F.col("boiler_frac") <= boilerplate_max_frac)
                )
                .drop("boiler_frac")
            )
        if substring_dup_max_frac is not None:
            sd = D.substring_dup_stats(
                chunks, id_col="chunk_id", text_col=text_col
            ).select("chunk_id", "dup_fraction")
            chunks = (
                chunks.join(sd, "chunk_id", "left")
                .filter(
                    F.col("dup_fraction").isNull()
                    | (F.col("dup_fraction") <= substring_dup_max_frac)
                )
                .drop("dup_fraction")
            )
        if near_dup:
            pairs = D.lsh_candidate_pairs(chunks, id_col="chunk_id", text_col=text_col)
            comps = D.connected_components(chunks, pairs, id_col="chunk_id")
            chunks = D.dedup_by_components(chunks, comps, id_col="chunk_id")
        if redact_pii:
            chunks = chunks.withColumn(text_col, curation.redact_pii_col(text_col))
        if sample_fractions:
            chunks = curation.stratified_sample(
                chunks, id_col="chunk_id", strata_col=strata_col,
                fractions=sample_fractions,
            )
        n = self._write_checkpoint(chunks, self.curated_path)
        extra["removed_rows"] = extra["input_rows"] - n
        return StageResult("curate", n, time.time() - t0, self.curated_path, extra)

    # -- load (main.py:139-168) ----------------------------------------------
    def load(
        self,
        drop_existing: bool = True,
        split_by_folder: bool = True,
        use_curated: bool | None = None,
        dynamic_meta: bool = False,
    ) -> StageResult:
        """Load the freshest checkpoint into the collection store.
        ``dynamic_meta=True`` folds non-schema checkpoint columns into the
        ``meta`` map at the sink (enable_dynamic_field parity — reference
        milvus_store.py:62-66).

        ``use_curated=None`` (default) picks ``curated.parquet`` only when it
        is at least as new as ``chunks.parquet`` — a curate run from a
        *previous* pipeline pass must not shadow freshly transformed chunks
        (``run_all`` never curates, so a stale curated checkpoint would
        otherwise be loaded silently forever). Pass ``True``/``False`` to
        force either side.
        """
        t0 = time.time()
        if use_curated is None:
            # commit stamps through the Hadoop FileSystem, so remote
            # checkpoint URIs behave like local paths
            curated = commit_stamp(self.spark, self.curated_path)
            curated_ok = curated is not None and curated >= (
                commit_stamp(self.spark, self.chunks_path) or 0
            )
            if curated is not None and not curated_ok:
                import warnings

                warnings.warn(
                    "curated.parquet predates chunks.parquet — loading the "
                    "fresh chunks checkpoint instead (re-run curate() or pass "
                    "use_curated=True to override)",
                    stacklevel=2,
                )
        else:
            curated_ok = use_curated
        src = self.curated_path if curated_ok else self.chunks_path
        chunks = self._read_checkpoint(src)
        if drop_existing:
            for name in self.store.list_collections():
                self.store.drop_collection(name)
        counts = self.store.insert_documents(
            chunks,
            split_by_folder=split_by_folder,
            embedding_config=self.config.embedding,
            mode="append",
            dynamic_meta=dynamic_meta,
        )
        return StageResult(
            "load", sum(counts.values()), time.time() - t0,
            self.config.store.warehouse_dir, {"collections": counts},
        )

    # -- validate (main.py:170-214) ------------------------------------------
    def validate(self, report_path: str | None = None) -> StageResult:
        from vectordb_etl_spark.quality import validate_pipeline

        t0 = time.time()
        chunks = self.store.read()
        report = validate_pipeline(chunks)
        if report_path:
            report.write_json(report_path)
        return StageResult(
            "validate", report.total_chunks, time.time() - t0, report_path,
            report.to_dict(),
        )

    # -- search (main.py:216-241) --------------------------------------------
    def search(
        self,
        query: str,
        k: int = 3,
        collection: str | None = None,
        filter_language: str | None = None,
        filter: str | None = None,
        index_kind: str | None = None,
        filter_mode: str = "post",
    ):
        from vectordb_etl_spark.search import search_with_scores

        return search_with_scores(
            self.store,
            query,
            k=k,
            collection_name=collection,
            search_all_collections=collection is None,
            filter_language=filter_language,
            embedding_config=self.config.embedding,
            filter=filter,
            index_kind=index_kind,
            filter_mode=filter_mode,
        )

    # -- reset (main.py:243-277) ---------------------------------------------
    def reset(self, confirm: bool = False) -> int:
        n = self.store.reset(confirm=confirm)
        if confirm:
            fs, p = hadoop_fs(self.spark, self.config.checkpoint_dir)
            if fs.exists(p):
                fs.delete(p, True)
        return n

    # -- all (main.py --stage all) -------------------------------------------
    def run_all(self, input_dir: str | None = None, kind: str = "html") -> list[StageResult]:
        results = [self.extract(input_dir, kind)]
        results.append(self.transform())
        results.append(self.load())
        results.append(self.validate())
        return results

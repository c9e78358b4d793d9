"""Pipeline runner (M7) end-to-end: extract→transform→load→validate→search
over a temp HTML tree, plus CLI smoke via the same SparkSession-free parser."""

from __future__ import annotations

import pytest

from vectordb_etl_spark.cli import build_parser, create_config
from vectordb_etl_spark.config import (
    ChunkerConfig,
    EmbeddingConfig,
    PipelineConfig,
    StoreConfig,
)
from vectordb_etl_spark.pipeline import PipelineRunner

PAGE = """<html><head><title>{title}</title></head><body>
<h1>{title}</h1>
{paras}
</body></html>"""


@pytest.fixture(scope="module")
def input_tree(tmp_path_factory):
    root = tmp_path_factory.mktemp("input")
    for folder, lang_text in [
        ("hr", "Employee handbook section about vacation policy and benefits. "),
        ("eng", "Engineering onboarding guide with setup instructions. "),
    ]:
        d = root / folder
        d.mkdir()
        for i in range(3):
            paras = "".join(
                f"<p>{lang_text * 8} Document {folder}-{i} paragraph {j}.</p>"
                for j in range(4)
            )
            (d / f"doc{i}.html").write_text(
                PAGE.format(title=f"{folder} doc {i}", paras=paras), encoding="utf-8"
            )
    # a duplicate page to exercise dedup
    (root / "hr" / "dup.html").write_text(
        (root / "hr" / "doc0.html").read_text(), encoding="utf-8"
    )
    return root


@pytest.fixture(scope="module")
def runner(spark, input_tree, tmp_path_factory):
    work = tmp_path_factory.mktemp("work")
    cfg = PipelineConfig(
        input_dir=str(input_tree),
        checkpoint_dir=str(work / "ckpt"),
        chunker=ChunkerConfig(),
        embedding=EmbeddingConfig(dimension=32),
        store=StoreConfig(warehouse_dir=str(work / "warehouse")),
    )
    return PipelineRunner(spark, cfg)


def test_full_pipeline_stages(runner):
    ext = runner.extract()
    assert ext.rows == 7  # 6 docs + 1 dup

    tr = runner.transform()
    assert tr.rows > 0
    chunks = runner.spark.read.parquet(runner.chunks_path)
    assert {"chunk_id", "chunk_index", "total_chunks", "chunk_size_chars",
            "chunk_size_tokens"} <= set(chunks.columns)
    # dup.html's chunks must have been deduplicated away (same text as doc0)
    per_doc = chunks.groupBy("filename").count().collect()
    assert {r["filename"] for r in per_doc} <= {f"doc{i}.html" for i in range(3)} | {"dup.html"}

    ld = runner.load()
    assert set(ld.extra["collections"]) == {"html_hr", "html_eng"}
    assert sum(ld.extra["collections"].values()) == tr.rows

    val = runner.validate()
    assert val.rows == tr.rows
    assert val.extra["language_distribution"]

    hits = runner.search("vacation policy handbook", k=3)
    assert len(hits) == 3
    assert all(h.score is not None for h in hits)
    assert "vacation" in hits[0].text.lower()


def test_stage_checkpoint_is_counted_by_its_own_write(runner, monkeypatch):
    """``transform`` counts the chunks checkpoint during its write. Reading
    the checkpoint back to count it, as the stage used to, costs a schema
    job and two count jobs more."""
    from pathlib import Path

    from vectordb_etl_spark import pipeline

    if not Path(runner.documents_path).exists():  # allow -k selection to run solo
        runner.extract()
    sc = runner.spark.sparkContext

    def jobs_of_transform(group):
        sc.setJobGroup(group, "stage job count")
        try:
            result = runner.transform()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        return result, len(sc.statusTracker().getJobIdsForGroup(group))

    counted, counted_jobs = jobs_of_transform("transform-counted")
    assert counted.rows == runner.spark.read.parquet(runner.chunks_path).count()

    def write_then_reread(df, path):
        df.write.mode("overwrite").parquet(path)
        return runner.spark.read.parquet(path).count()

    monkeypatch.setattr(pipeline, "write_counted", write_then_reread)
    reread, reread_jobs = jobs_of_transform("transform-reread")
    assert reread.rows == counted.rows
    assert reread_jobs - counted_jobs == 3, (reread_jobs, counted_jobs)


def test_search_scoped_to_collection(runner):
    hits = runner.search("setup instructions", k=2, collection="html_eng")
    assert hits and all(
        h.metadata.get("collection") == "html_eng" for h in hits
    )


def test_reset_requires_confirm(runner):
    with pytest.raises(ValueError):
        runner.reset(confirm=False)


def test_cli_config_plumbing():
    args = build_parser().parse_args(
        ["--stage", "all", "--kind", "hwp", "--chunk-size", "200",
         "--warehouse", "/tmp/w", "--dimension", "64"]
    )
    cfg = create_config(args)
    assert cfg.chunker.chunk_size == 200
    assert cfg.store.collection_prefix == "hwp"
    assert cfg.store.warehouse_dir == "/tmp/w"
    assert cfg.embedding.dimension == 64


def test_curate_stage_and_load_prefers_curated(runner):
    # The fixture corpus is template-generated, so near-identical paragraphs
    # across docs are true near-dups the transitive pass must collapse;
    # load must then pick up curated.parquet instead of raw chunks.
    from pathlib import Path

    if not Path(runner.chunks_path).exists():  # allow -k selection to run solo
        runner.extract()
        runner.transform()
    tr_rows = runner.spark.read.parquet(runner.chunks_path).count()
    cur = runner.curate(sample_fractions=None)
    assert cur.rows < tr_rows
    assert cur.extra["removed_rows"] == tr_rows - cur.rows
    ld = runner.load()
    assert sum(ld.extra["collections"].values()) == cur.rows


def test_commit_stamp_is_the_marker_mtime_in_ms(spark, tmp_path):
    """A written directory's stamp is its ``_SUCCESS`` mtime in epoch ms,
    then the directory's once the marker is gone; a missing path has none."""
    import os

    from vectordb_etl_spark.store.collections import commit_stamp

    out = tmp_path / "t"
    assert commit_stamp(spark, str(out)) is None
    spark.range(3).write.parquet(str(out))
    marker = out / "_SUCCESS"
    assert commit_stamp(spark, str(out)) == int(os.stat(marker).st_mtime_ns // 1_000_000)
    marker.unlink()
    assert commit_stamp(spark, str(out)) == int(os.stat(out).st_mtime_ns // 1_000_000)


def test_commit_stamp_of_a_missing_path_raises_no_jvm_exception(spark, tmp_path):
    """A miss is answered by ``exists`` in the JVM. Probing it with
    ``getFileStatus`` threw a Java exception per probe, and PySpark's
    conversion of each cost about 75 py4j commands: 159 for the marker
    and its directory. Resolving the Hadoop ``Path`` class by package
    lookups cost 5 more than its cached handle."""
    from vectordb_etl_spark.plans.inspect import py4j_commands
    from vectordb_etl_spark.store.collections import commit_stamp

    missing = str(tmp_path / "never-written")
    commit_stamp(spark, missing)  # warm the JVM class lookups
    with py4j_commands() as n:
        assert commit_stamp(spark, missing) is None
    # the Path (a cached class handle), the Hadoop configuration and its
    # FileSystem, then one exists() each for the marker and its directory
    # (getParent between them)
    assert n["commands"] == 6, n


def test_load_skips_stale_curated(runner):
    # re-running transform AFTER curate makes curated.parquet stale; load
    # must warn and fall back to the fresh chunks checkpoint (the run_all
    # extract→transform→load path would otherwise resurrect old data).
    import time as _time
    from pathlib import Path

    # self-contained setup (no dependence on earlier tests in this module):
    # ensure documents/chunks checkpoints and a curated.parquet exist
    if not Path(runner.documents_path).exists():
        runner.extract()
    if not Path(runner.chunks_path).exists():
        runner.transform()
    if not Path(runner.curated_path).exists():
        runner.curate(sample_fractions=None)

    _time.sleep(1.1)  # ensure a strictly newer mtime on the chunks commit
    tr = runner.transform()
    from vectordb_etl_spark.store.collections import commit_stamp

    assert commit_stamp(runner.spark, runner.chunks_path) > commit_stamp(
        runner.spark, runner.curated_path
    )
    with pytest.warns(UserWarning, match="predates"):
        ld = runner.load()
    assert sum(ld.extra["collections"].values()) == tr.rows
    # explicit override still loads curated
    ld2 = runner.load(use_curated=True)
    cur_rows = runner.spark.read.parquet(runner.curated_path).count()
    assert sum(ld2.extra["collections"].values()) == cur_rows


def test_cli_curate_stage_parses():
    args = build_parser().parse_args(
        ["--stage", "curate", "--sample-fractions", '{"english": 0.5}',
         "--length-band", "0.01,0.99", "--boilerplate-max-frac", "0.5",
         "--substring-dup-max-frac", "0.4"]
    )
    assert args.stage == "curate"
    import json as _json

    assert _json.loads(args.sample_fractions) == {"english": 0.5}
    assert args.length_band == "0.01,0.99"
    assert args.boilerplate_max_frac == 0.5
    assert args.substring_dup_max_frac == 0.4


def test_curate_screens_length_band_and_boilerplate(runner):
    from pathlib import Path

    if not Path(runner.chunks_path).exists():
        runner.extract()
        runner.transform()
    base = runner.curate(near_dup=False, redact_pii=False)
    # a tight length band must drop the extreme-length chunks that survive
    # the no-screen run
    banded = runner.curate(
        near_dup=False, redact_pii=False, length_band=(0.10, 0.90)
    )
    assert banded.rows < base.rows
    # the fixture corpus is template-generated, so cross-doc shared shingles
    # are plentiful: an aggressive boilerplate cap must remove chunks too
    screened = runner.curate(
        near_dup=False, redact_pii=False, boilerplate_max_frac=0.2
    )
    assert screened.rows < base.rows
    # the template corpus repeats exact 40-char spans across docs, so the
    # Lee-et-al. substring screen must also remove chunks
    sub = runner.curate(
        near_dup=False, redact_pii=False, substring_dup_max_frac=0.2
    )
    assert sub.rows < base.rows
    # a no-op band keeps everything (inclusive bounds at 0/1)
    noop = runner.curate(
        near_dup=False, redact_pii=False, length_band=(0.0, 1.0)
    )
    assert noop.rows == base.rows


def test_search_with_filter_string(runner):
    from pathlib import Path

    if not Path(runner.chunks_path).exists():
        runner.extract()
        runner.transform()
        runner.load()
    hits = runner.search(
        "handbook", k=2, filter='language == "english" and chunk_index >= 0'
    )
    assert hits and all(h.metadata["language"] == "english" for h in hits)


def test_cli_filter_arg_parses():
    args = build_parser().parse_args(
        ["--stage", "search", "--query", "x", "--filter", 'language == "korean"']
    )
    assert args.filter == 'language == "korean"'


STAGES = ("extract", "transform", "load", "validate")


def _run_all_per_stage(spark, tree, work, measure):
    """``run_all`` over ``tree`` for each source kind, each stage inside
    ``measure(kind, stage)`` (a context manager yielding a dict the stage
    result is stored in). Returns the stage results per kind."""
    out = {}
    for kind in ("html", "hwp"):
        runner = PipelineRunner(spark, PipelineConfig(
            input_dir=tree.root,
            checkpoint_dir=f"{work}/{kind}/ckpt",
            embedding=EmbeddingConfig(dimension=32),
            store=StoreConfig(
                warehouse_dir=f"{work}/{kind}/warehouse",
                collection_prefix=kind,
            ),
        ))
        for stage in STAGES:

            def measured(*args, _run=getattr(runner, stage), _key=(kind, stage),
                         **kwargs):
                with measure(*_key):
                    return _run(*args, **kwargs)

            setattr(runner, stage, measured)
        out[kind] = runner.run_all(kind=kind)
        assert out[kind][1].rows == out[kind][2].rows == out[kind][3].rows > 0
    return out


def test_run_all_jobs_per_stage(spark, tmp_path):
    """The job count of each ``run_all`` stage, per source kind, on a tiny
    seeded tree: a change that adds a job to a stage has to change this
    table on purpose. Transform and load read the checkpoint this runner
    wrote under its remembered schema (no footer job); validate is one
    aggregate action (its job and the job of its shuffle) after the
    store read's schema job."""
    from contextlib import contextmanager

    from perfbench import gen

    tree = gen.write_tree(str(tmp_path / "input"), 5, 10)
    assert tree.html_files and tree.hwp_files
    sc = spark.sparkContext
    jobs = {"html": {}, "hwp": {}}

    @contextmanager
    def grouped(kind, stage):
        group = f"jobs-{kind}-{stage}"
        sc.setJobGroup(group, "stage job count")
        try:
            yield
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        jobs[kind][stage] = len(sc.statusTracker().getJobIdsForGroup(group))

    _run_all_per_stage(spark, tree, str(tmp_path), grouped)
    per_stage = {"extract": 1, "transform": 2, "load": 3, "validate": 3}
    assert jobs == {"html": per_stage, "hwp": per_stage}, jobs


def test_run_all_py4j_commands_per_stage(spark, tmp_path):
    """The py4j commands each warm ``run_all`` stage sends, per source
    kind. Every stage builds its plan from SQL text, a handful of round
    trips whatever the input (equal on a 10-file and a 20-file tree).
    Built through the Column API, at about three round trips per
    function call, the html stages sent 769, 661, 305 and 312."""
    from contextlib import contextmanager

    from perfbench import gen
    from vectordb_etl_spark.plans.inspect import py4j_commands

    counts: dict = {}

    @contextmanager
    def counted(kind, stage):
        with py4j_commands() as n:
            yield
        counts[kind][stage] = n["commands"]

    per_size = {}
    for i, n_docs in enumerate((10, 10, 20)):  # pass 0 warms the JVM handles
        counts = {"html": {}, "hwp": {}}
        tree = gen.write_tree(str(tmp_path / f"input{i}"), 5, n_docs)
        _run_all_per_stage(spark, tree, str(tmp_path / f"work{i}"), counted)
        per_size[n_docs] = counts
    assert per_size[10] == per_size[20], per_size
    assert per_size[20] == {
        "html": {"extract": 59, "transform": 91, "load": 94, "validate": 36},
        "hwp": {"extract": 56, "transform": 91, "load": 94, "validate": 36},
    }, per_size


def test_checkpoint_rewritten_by_another_writer_is_read_with_its_own_schema(
    spark, input_tree, tmp_path
):
    """A runner reads its own checkpoint under the schema it remembered
    while the checkpoint's commit stamp is the one its write left.
    Another runner's ``extract_dataframe`` between extract and transform
    rewrites ``documents.parquet`` with one more column; transform must
    infer the new schema and carry the column into the chunks."""
    cfg = PipelineConfig(
        input_dir=str(input_tree),
        checkpoint_dir=str(tmp_path / "ckpt"),
        embedding=EmbeddingConfig(dimension=32),
        store=StoreConfig(warehouse_dir=str(tmp_path / "warehouse")),
    )
    first, second = PipelineRunner(spark, cfg), PipelineRunner(spark, cfg)
    first.extract()
    docs = spark.read.parquet(first.documents_path)
    assert first._read_checkpoint(first.documents_path).columns == docs.columns
    # collected first: the rewrite overwrites the files docs reads
    tagged = docs.withColumn("batch_tag", docs["filename"])
    second.extract_dataframe(spark.createDataFrame(tagged.collect(), tagged.schema))
    first.transform()
    chunks = spark.read.parquet(first.chunks_path)
    assert "batch_tag" in chunks.columns
    assert chunks.filter("batch_tag IS NULL OR batch_tag != filename").count() == 0
    # the remembered pair is still used for the runner's own rewrite
    first.extract()
    assert "batch_tag" not in first._read_checkpoint(first.documents_path).columns

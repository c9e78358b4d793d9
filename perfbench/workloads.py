"""The benchmark workloads.

Every workload's set-up starts a Spark session and builds its inputs
before anything is timed; its first pass through the chunker and
embedding UDFs is also the warm-up of the JVM and the Python workers, and
it counts in ``setup_s``.

- ``ingest``: the set-up runs the reference ETL (extract → transform →
  load → validate) over a small tree with an ``html`` and an ``hwp``
  runner; the measured window ingests a larger tree with both runners,
  pass after pass. No search runs.
- ``serve``: the set-up loads seeded documents through
  ``insert_documents`` and builds IVF and graph indexes on every
  collection; 2 client threads search in a closed loop. Nothing is
  written.
- ``refresh``: the set-up ETL builds the base store with IVF indexes; 1
  client upserts a batch, rebuilds the written collection's IVF index
  and searches, in a closed loop.

A traced run ends with a probe that calls, once each, the layers its
workload does not use (index builds and searches after ``ingest``, an ETL
pass and an upsert after ``serve``, a filtered search after ``refresh``),
so every per-layer metric is measured on every workload. Its spans are
only used for the layers the workload itself did not exercise.
"""

from __future__ import annotations

import itertools
import os
import random
import statistics
import threading
import time
import traceback
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

from vectordb_etl_spark import PipelineConfig, StoreConfig, get_spark
from vectordb_etl_spark.embeddings import query_vector
from vectordb_etl_spark.functions.language import detect_language_query
from vectordb_etl_spark.operators import chunker
from vectordb_etl_spark.pipeline import PipelineRunner
from vectordb_etl_spark.search import search_with_scores

from perfbench import gen, oracle

K = 10
# documents in the set-up tree of each workload (the ingest one is only a
# warm-up) and in the tree each measured ingest pass reads
WARMUP_DOCS = 24
SERVE_DOCS = 160
REFRESH_DOCS = 160
INGEST_DOCS = 160
SERVE_CLIENTS = 2
# serve mix, 40% exact fan-out, 20% filtered, 20% IVF, 20% graph
SERVE_ORDER = ("exact", "ivf", "filtered", "exact", "graph")
REFRESH_BATCH = 4
# seconds one measured round takes on a 4-CPU host: an ingest pass, a
# serve round (5 searches per client) and a refresh cycle
INGEST_PASS_S = 7.0
SERVE_ROUND_S = 14.0
REFRESH_CYCLE_S = 12.0


def dir_stats(path: str) -> tuple[int, int]:
    """(bytes, files) under ``path``."""
    size = files = 0
    for d, _, names in os.walk(path):
        for n in names:
            size += os.path.getsize(os.path.join(d, n))
            files += 1
    return size, files


@dataclass
class Request:
    kind: str  # exact | filtered | ivf | graph
    text: str
    collection: str | None = None
    filter: str | None = None
    language: str | None = None
    max_chunk_index: int | None = None


@dataclass
class Outcome:
    kind: str
    ms: float
    ok: bool
    recall: float | None
    phase: str


@dataclass
class Run:
    """State of one benchmark run."""

    workload: str
    seed: int
    seconds: float
    work: str
    traced: bool
    tracer: object = None
    spark: object = None
    setup_s: float = 0.0
    outcomes: list[Outcome] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    e2e: dict = field(default_factory=dict)
    named: dict = field(default_factory=dict)
    session_start_s: float = 0.0
    lock: threading.Lock = field(default_factory=threading.Lock)

    def record(self, ok: bool, phase: str = "measure") -> None:
        """Count a measured operation; a failed set-up check ends the run."""
        if phase != "measure":
            if not ok:
                raise RuntimeError("set-up produced a wrong answer")
            return
        with self.lock:
            self.attempted += 1
            self.failed += 0 if ok else 1

    def timed_setup(self, fn, *args):
        t = time.perf_counter()
        out = fn(*args)
        self.setup_s += time.perf_counter() - t
        return out

    def span(self, name, **attrs):
        return self.tracer.span(name, **attrs)


def start_session(run: Run, make_tracer) -> None:
    t = time.perf_counter()
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": f"{run.work}/spark-warehouse",
        # -XX:-UsePerfData: HotSpot would write /tmp/hsperfdata_<user>
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={run.work}/tmp -XX:-UsePerfData",
        "spark.executorEnv.PYTHONPATH": os.environ["PYTHONPATH"],
        # the status tracker must still hold every job when the trace is
        # resolved at the end of a run
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    }
    run.spark = get_spark("perfbench", extra_conf=conf)
    run.spark.sparkContext.setLogLevel("ERROR")
    run.tracer = make_tracer(run.spark.sparkContext)
    run.session_start_s = time.perf_counter() - t
    run.setup_s += run.session_start_s


# -- steps the workloads share ------------------------------------------------


@dataclass
class Store:
    runner: PipelineRunner
    collections: dict[str, int]
    oracle: oracle.VectorOracle | None = None
    docs: list[dict] = field(default_factory=list)  # stored documents

    def folder(self, collection: str) -> str:
        rule = self.runner.config.store.collection_name
        return next(f for f in gen.FOLDERS if rule(f) == collection)


def etl(run: Run, tree: gen.Tree, base: str, kind: str, phase: str) -> tuple[PipelineRunner, dict]:
    """extract → transform → load → validate with one runner; returns the
    runner and the row count of each stage."""
    cfg = PipelineConfig(
        input_dir=tree.root,
        checkpoint_dir=f"{base}/{kind}/checkpoints",
        store=StoreConfig(warehouse_dir=f"{base}/{kind}/warehouse", collection_prefix=kind),
    )
    r = PipelineRunner(run.spark, cfg)
    rows = {"files": len(tree.html_files if kind == "html" else tree.hwp_files)}
    with run.span("sources.extract", phase=phase) as s:
        rows["extract"] = r.extract(kind=kind).rows
    if s is not None:
        s.attrs.update(files=rows["files"], rows=rows["extract"])
    with run.span("chunker.transform", phase=phase) as s:
        rows["transform"] = r.transform().rows
    if s is not None:
        # chunks before the exact-duplicate removal, counted untimed
        docs_df = run.spark.read.parquet(r.documents_path)
        n_chunks = chunker.chunk_documents(docs_df, cfg.chunker).count()
        s.attrs.update(docs=rows["extract"], rows=rows["transform"], chunks=n_chunks)
    before = dir_stats(cfg.store.warehouse_dir)
    with run.span("collections.load", phase=phase) as s:
        res = r.load()
    if s is not None:
        after = dir_stats(cfg.store.warehouse_dir)
        s.attrs.update(bytes=after[0] - before[0], files=after[1] - before[1])
    rows["load"] = res.rows
    rows["collections"] = res.extra["collections"]
    with run.span("quality.validate", phase=phase):
        rows["validate"] = r.validate().rows
    return r, rows


def etl_ok(rows: dict) -> bool:
    return (
        rows["extract"] == rows["files"]
        and rows["transform"] == rows["load"] == rows["validate"]
    )


def upsert(run: Run, store: Store, docs: list[dict], phase: str) -> None:
    """chunk_documents → remove_duplicate_chunks → upsert_documents, keyed
    on the document, so an edit replaces all of the document's chunks."""
    cs = store.runner.store
    df = run.spark.createDataFrame(docs)
    chunks = chunker.remove_duplicate_chunks(
        chunker.chunk_documents(df, store.runner.config.chunker),
        order_cols=["doc_id", "chunk_index"],
    )
    with run.span("collections.upsert", phase=phase) as s:
        counts = cs.upsert_documents(
            chunks, key_col="doc_id", embedding_config=store.runner.config.embedding
        )
    if s is not None:
        cfg = store.runner.config.chunker
        s.attrs.update(
            rows_rewritten=sum(counts.values()),
            rows_upserted=sum(len(chunker.chunk_text(d["text"], cfg)) for d in docs),
            files_total=dir_stats(cs._data_dir)[1],
        )


def build_index(run: Run, store: Store, name: str, kind: str, phase: str) -> None:
    with run.span("collections.index_build", phase=phase, kind=kind):
        store.runner.store.build_index(name, kind=kind)


def snapshot_oracle(store: Store) -> None:
    pdf = (
        store.runner.store.read()
        .select("chunk_id", "collection", "language", "chunk_index", "embedding")
        .toPandas()
    )
    store.oracle = oracle.VectorOracle(pdf.to_dict("records"))


def search(run: Run, store: Store, req: Request, phase: str, rid: str | None):
    """One call of the search facade; returns (id, score, text) per hit."""
    kw: dict = {"k": K, "embedding_config": store.runner.config.embedding}
    if req.kind == "filtered":
        kw.update(collection_name=req.collection, filter=req.filter)
    else:
        if req.collection is not None:
            kw["collection_name"] = req.collection
        else:
            kw["search_all_collections"] = True
        if req.language is not None:
            kw["filter_language"] = req.language
        if req.kind in ("ivf", "graph"):
            kw["index_kind"] = req.kind
    with run.span("search", phase=phase, kind=req.kind, rid=rid):
        hits = search_with_scores(store.runner.store, req.text, **kw)
    return [
        (h.metadata.get("chunk_id", h.metadata.get("id")), h.score, h.text)
        for h in hits
    ]


def check_search(store: Store, req: Request, got) -> tuple[bool, float | None]:
    """Exact kinds must equal the brute force; approximate kinds must be
    well formed, and their recall@k against the brute force is returned."""
    o = store.oracle
    vec = query_vector(req.text, store.runner.config.embedding)
    lang = req.language
    if lang is None and req.kind != "filtered":
        lang = detect_language_query(req.text)
    mask = o.mask(req.collection, lang, req.max_chunk_index)
    want = o.topk(vec, K, mask)
    pairs = [(i, s) for i, s, _ in got]
    if req.kind in ("exact", "filtered"):
        return oracle.same_topk(pairs, want), None
    ok = oracle.approx_ok(pairs, o.score_of(vec), set(o.ids[mask]))
    return ok, oracle.recall([i for i, _ in pairs], [i for i, _ in want])


def timed_search(run: Run, store: Store, req: Request, phase: str = "measure",
                 rid: str | None = None, check=None) -> Outcome:
    """Time one search, then check its answer with ``check(got)`` (the
    brute-force comparison by default). A failure in the measured window
    counts against the run; in set-up it ends the run."""
    t = time.perf_counter()
    try:
        got = search(run, store, req, phase, rid)
    except Exception:
        if phase != "measure":
            raise
        traceback.print_exc()
        got = None
    ms = (time.perf_counter() - t) * 1000.0
    ok, rec = False, None
    if got is not None:
        ok, rec = (check or (lambda g: check_search(store, req, g)))(got)
    out = Outcome(req.kind, ms, ok, rec, phase)
    run.record(ok, phase)
    with run.lock:
        run.outcomes.append(out)
    return out


def etl_store(run: Run, n_docs: int, kinds=("html",)) -> tuple[Store, gen.Tree]:
    """Set-up ETL over a seeded tree of ``n_docs`` documents; returns the
    html store and the tree."""
    base = f"{run.work}/setup"
    tree = gen.write_tree(f"{base}/input", run.seed, n_docs)
    html = None
    for kind in kinds:
        r, rows = run.timed_setup(etl, run, tree, base, kind, "setup")
        run.record(etl_ok(rows), "setup")
        if kind == "html":
            html = Store(r, rows["collections"])
    html.docs = [
        r.asDict()
        for r in run.spark.read.parquet(html.runner.chunks_path)
        .select("source", "doc_id", "filename", "folder_name").distinct()
        .orderBy("source").collect()
    ]
    return html, tree


def by_size(store: Store) -> list[str]:
    """Collections from the smallest to the largest."""
    return sorted(store.collections, key=lambda n: (store.collections[n], n))


def build_indexes(run: Run, store: Store, jobs, phase: str) -> None:
    """Build (collection, kind) indexes, 2 at a time (faster than 1 or 4
    on a 4-CPU host)."""
    with ThreadPoolExecutor(2) as pool:
        for f in [pool.submit(build_index, run, store, n, k, phase) for n, k in jobs]:
            f.result()


def warm_requests(store: Store) -> list[Request]:
    """One search of each kind on the reference probe queries; the
    approximate ones on the smallest collection, which is enough to run
    their code once."""
    small = by_size(store)[0]
    return [
        Request("exact", gen.PROBES[0]),
        Request("filtered", gen.PROBES[2], small, 'language == "english"', "english"),
        Request("ivf", gen.PROBES[1], small),
        Request("graph", gen.PROBES[3], small),
    ]


def probe(run: Run, store: Store, etl_docs: int = 0, upserts: bool = False,
          indexes: bool = False, kinds=()) -> None:
    """Traced runs only: call once each layer the workload did not use."""
    if etl_docs:
        tree = gen.write_tree(f"{run.work}/probe/input", run.seed, etl_docs)
        for kind in ("html", "hwp"):
            etl(run, tree, f"{run.work}/probe", kind, "probe")
    if indexes:
        small = by_size(store)[0]
        build_indexes(run, store, [(small, "ivf"), (small, "graph")], "probe")
        snapshot_oracle(store)
    for req in warm_requests(store):
        if req.kind in kinds:
            timed_search(run, store, req, phase="probe")
    if upserts:
        rng = random.Random(run.seed * 7919 + 1)
        d = store.docs[0]
        upsert(run, store, gen.edit_batch(rng, [d], 0, d["folder_name"], 1), "probe")


def rounds(run: Run, fn, nominal_s: float) -> list[float]:
    """Call ``fn(i)`` for whole rounds i = 0, 1, ... and return their
    durations. Every round has the same make-up whatever the seed. The
    count is the whole number of rounds nearest to ``run.seconds`` at
    ``nominal_s`` seconds a round (the duration measured on a 4-CPU host),
    at least one, so every run at one ``--seconds`` does the same work
    whatever the machine's speed; a rule that started rounds while time
    was left would flip between n and n + 1 rounds from run to run. A
    traced run does one round, so its counts repeat exactly at one seed."""
    n = 1 if run.traced else max(1, int(run.seconds / nominal_s + 0.5))
    times: list[float] = []
    for i in range(n):
        t = time.perf_counter()
        fn(i)
        times.append(time.perf_counter() - t)
    return times


def measured(run: Run) -> list[Outcome]:
    return [o for o in run.outcomes if o.phase == "measure"]


def p90(xs: list[float]) -> float:
    return statistics.quantiles(xs, n=10)[-1] if len(xs) > 1 else xs[0]


# -- ingest --------------------------------------------------------------------


def ingest(run: Run) -> None:
    etl_store(run, WARMUP_DOCS, ("html", "hwp"))
    tree = gen.write_tree(f"{run.work}/ingest/input", run.seed + 1, INGEST_DOCS)
    docs = len(tree.html_files) + len(tree.hwp_files)
    outs: list = []
    passes: list[float] = []
    stored = 0

    def one_pass(i: int) -> None:
        """Ingest the tree with both runners, then check the stores
        (untimed)."""
        nonlocal outs, stored
        base = f"{run.work}/ingest/pass{i}"
        t = time.perf_counter()
        try:
            outs = [etl(run, tree, base, kind, "measure") for kind in ("html", "hwp")]
        except Exception:
            traceback.print_exc()
            outs = []
        passes.append(time.perf_counter() - t)
        ok = bool(outs) and all(etl_ok(rows) for _, rows in outs)
        for r, _ in outs if ok else ():
            stored_chunks = r.store.read().select("source", "text").collect()
            ok = ok and oracle.dedup_ok(
                [(c["source"].removeprefix("file:"), c["text"]) for c in stored_chunks],
                tree.dups,
            )
        if ok:
            stored = sum(dir_stats(r.config.store.warehouse_dir)[0] for r, _ in outs)
        run.record(ok)

    rounds(run, one_pass, INGEST_PASS_S)
    rate = docs * len(passes) / sum(passes)
    run.e2e = {
        "work_per_s": rate,
        "latency_p50_ms": statistics.median(passes) * 1000.0,
        "stored_bytes_per_input_byte": stored / tree.input_bytes,
    }
    run.named = {
        "ingest_docs_per_s": (rate, "1/s"),
        "stored_bytes_per_input_byte": (stored / tree.input_bytes, "ratio"),
    }
    if run.traced and outs:
        r, rows = outs[0]
        store = Store(r, rows["collections"])
        store.docs = [d.asDict() for d in r.spark.read.parquet(r.chunks_path)
                      .select("source", "doc_id", "filename", "folder_name")
                      .orderBy("source").limit(1).collect()]
        probe(run, store, upserts=True, indexes=True, kinds=("exact", "filtered", "ivf", "graph"))


# -- serve ---------------------------------------------------------------------


def serve_requests(run: Run, store: Store, texts: list[str], client: int):
    """An endless seeded request stream for one client. Every client sends
    the kinds in SERVE_ORDER whatever the seed, so the clients run the same
    kind at about the same time and every seed sees the same mix; the seed
    draws texts, filters and collections."""
    rng = random.Random(run.seed * 1000003 + client)
    names = sorted(store.collections)
    langs = [x for x, _ in gen.LANG_WEIGHTS]
    for n in itertools.count():
        kind = SERVE_ORDER[n % len(SERVE_ORDER)]
        q = gen.zipf_pool(rng, texts, 1)[0]
        if kind != "filtered":
            yield Request(kind, q)
            continue
        lang, c = rng.choice(langs), rng.choice(names)
        if rng.random() < 0.5:
            yield Request(kind, q, c, f'language == "{lang}"', lang)
        else:
            yield Request(kind, q, c, f'language == "{lang}" and chunk_index < 3', lang, 3)


def insert_store(run: Run, n_docs: int) -> tuple[Store, list[dict]]:
    """The serving store: seeded document rows through chunk_documents →
    remove_duplicate_chunks → insert_documents. Returns the store and the
    document rows."""
    rows = gen.store_documents(run.seed, n_docs)
    cfg = PipelineConfig(
        checkpoint_dir=f"{run.work}/serve/checkpoints",
        store=StoreConfig(warehouse_dir=f"{run.work}/serve/warehouse"),
    )
    r = PipelineRunner(run.spark, cfg)

    def build() -> dict:
        chunks = chunker.remove_duplicate_chunks(
            chunker.chunk_documents(run.spark.createDataFrame(rows), cfg.chunker),
            order_cols=["doc_id", "chunk_index"],
        )
        with run.span("collections.load", phase="setup") as s:
            counts = r.store.insert_documents(chunks, embedding_config=cfg.embedding)
        if s is not None:
            s.attrs.update(zip(("bytes", "files"), dir_stats(cfg.store.warehouse_dir)))
        return counts

    store = Store(r, run.timed_setup(build))
    store.docs = [{k: d[k] for k in ("source", "doc_id", "filename", "folder_name")} for d in rows]
    return store, rows


def serve(run: Run) -> None:
    store, rows = insert_store(run, SERVE_DOCS)
    names = by_size(store)
    run.timed_setup(build_indexes, run, store, [(n, k) for k in ("ivf", "graph") for n in names], "setup")
    snapshot_oracle(store)
    for req in warm_requests(store):
        run.setup_s += timed_search(run, store, req, phase="setup").ms / 1000.0
    texts = gen.query_texts(random.Random(run.seed), rows, 48)
    streams = [serve_requests(run, store, texts, i) for i in range(SERVE_CLIENTS)]

    def client(i: int, r: int) -> None:
        for n in range(len(SERVE_ORDER)):
            timed_search(run, store, next(streams[i]), rid=f"c{i}-r{r}-{n}")

    with ThreadPoolExecutor(SERVE_CLIENTS) as pool:
        def one_round(r: int) -> None:
            for f in [pool.submit(client, i, r) for i in range(SERVE_CLIENTS)]:
                f.result()

        wall = sum(rounds(run, one_round, SERVE_ROUND_S))
    outs = measured(run)
    ms = [o.ms for o in outs]
    stored = dir_stats(store.runner.config.store.warehouse_dir)[0]
    run.e2e = {
        "work_per_s": len(outs) / wall,
        "latency_p50_ms": statistics.median(ms),
        "stored_bytes_per_input_byte": stored / sum(len(d["text"].encode()) for d in rows),
    }
    run.named = {
        "search_p50_ms": (statistics.median(ms), "ms"),
        "search_p90_ms": (p90(ms), "ms"),
        "search_qps": (len(outs) / wall, "1/s"),
    }
    for kind in ("exact", "filtered", "ivf", "graph"):
        xs = [o.ms for o in outs if o.kind == kind]
        if xs:
            run.named[f"{kind}_p50_ms"] = (statistics.median(xs), "ms")
        rs = [o.recall for o in outs if o.kind == kind and o.recall is not None]
        if rs:
            run.named[f"{kind}_recall_at_10"] = (statistics.fmean(rs), "ratio")
    if run.traced:
        probe(run, store, etl_docs=WARMUP_DOCS, upserts=True)


# -- refresh -------------------------------------------------------------------


def refresh(run: Run) -> None:
    store, tree = etl_store(run, REFRESH_DOCS)
    cfg = store.runner.config
    names = by_size(store)
    # the largest collection takes 3 batches in 4, the next one the rest;
    # the smallest, which also carries a graph index, is never written
    untouched, warm, hot = names[0], names[-2], names[-1]
    jobs = [(n, "ivf") for n in names] + [(untouched, "graph")]
    run.timed_setup(build_indexes, run, store, jobs, "setup")
    snapshot_oracle(store)
    for req in (Request("exact", gen.PROBES[0], untouched), Request("ivf", gen.PROBES[1], hot),
                Request("graph", gen.PROBES[3], untouched)):
        run.setup_s += timed_search(run, store, req, phase="setup").ms / 1000.0
    rng = random.Random(run.seed * 31337 + 5)
    visible: list[float] = []
    written_docs = written_bytes = 0

    def cycle(n: int) -> None:
        nonlocal written_docs, written_bytes
        target = warm if n % 4 == 3 else hot
        folder = store.folder(target)
        docs = [d for d in store.docs if d["folder_name"] == folder]
        batch = gen.edit_batch(rng, docs, n, folder, REFRESH_BATCH)
        t = time.perf_counter()
        try:
            upsert(run, store, batch, "measure")
            build_index(run, store, target, "ivf", "measure")
            ok = True
        except Exception:
            traceback.print_exc()
            ok = False
        run.record(ok)
        # read-your-writes: the first chunk of a written document comes back
        # from the exact and the IVF search of the written collection
        d = batch[n % len(batch)]
        text = chunker.chunk_text(d["text"], cfg.chunker)[0]
        for kind in ("exact", "ivf"):
            req = Request(kind, text, target, language=d["language"])
            timed_search(run, store, req, check=lambda got: (
                any(h[2] == text for h in got), None))
        visible.append((time.perf_counter() - t) * 1000.0)
        # a fresh query to the collection nothing writes to, exact and
        # approximate, checked against the set-up snapshot
        q = gen.query_sentence(rng)
        timed_search(run, store, Request("exact", q, untouched))
        timed_search(run, store, Request("graph" if n % 2 else "ivf", q, untouched))
        written_docs += len(batch)
        written_bytes += sum(len(x["text"].encode()) for x in batch)

    wall = sum(rounds(run, cycle, REFRESH_CYCLE_S))
    ms = [o.ms for o in measured(run)]
    stored = dir_stats(cfg.store.warehouse_dir)[0]
    run.e2e = {
        "work_per_s": written_docs / wall,
        "latency_p50_ms": statistics.median(visible),
        "stored_bytes_per_input_byte": stored / (tree.html_bytes + written_bytes),
    }
    run.named = {
        "search_p50_ms": (statistics.median(ms), "ms"),
        "search_p90_ms": (p90(ms), "ms"),
        "visible_p50_ms": (statistics.median(visible), "ms"),
    }
    if run.traced:
        probe(run, store, kinds=("filtered",))


WORKLOADS = {"ingest": ingest, "serve": serve, "refresh": refresh}

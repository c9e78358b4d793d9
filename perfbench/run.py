"""Benchmark command.

    python3 perfbench/run.py --workload {ingest,serve,refresh} --seed N \
        --seconds S --trace {0,1}

Run from the repository root. It builds its inputs from the seed under
``perfbench/.work/``, runs the workload against the ``vectordb_etl_spark``
package of this checkout, checks the answers, prints one line per metric
and, as the last line, one JSON object: with ``--trace 0`` the end-to-end
metrics, with ``--trace 1`` the per-layer metrics of a traced run (its
spans go to ``perfbench/.work/trace-<workload>-<seed>.json``). See
``perfbench/README.md`` for the workloads and the metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
E2E_UNITS = {
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "work_per_s": "1/s",
    "latency_p50_ms": "ms",
    "stored_bytes_per_input_byte": "ratio",
}


def prepare_env(work: str) -> None:
    """Launcher hygiene: the package of this checkout on the driver's and
    the Python workers' import path, one Spark core per CPU this process
    may use, and every temporary file under ``work``."""
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_DRIVER_MEMORY"] = "2g"
    for d in ("tmp", "local"):
        os.makedirs(f"{work}/{d}", exist_ok=True)
    os.environ["TMPDIR"] = f"{work}/tmp"
    os.environ["SPARK_LOCAL_DIRS"] = f"{work}/local"


def descendants(root: int) -> list[int]:
    """Process ids of every descendant of ``root``, from /proc."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], list(children.get(root, ()))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def alive(pid: int) -> bool:
    """True while ``pid`` runs; an exited process left unreaped is not."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


class RssSampler(threading.Thread):
    """Peak memory of this process and all its descendants (the JVM and its
    Python workers), sampled from /proc. Each process counts its
    proportional set size (Pss), so pages the forked Python workers share
    count once in total rather than once per worker. Reading a JVM's
    smaps_rollup takes milliseconds and holds its memory-map lock, so the
    period is long enough to keep that out of the measurement."""

    def __init__(self, period: float = 1.0):
        super().__init__(daemon=True)
        self.period = period
        self.peak_kb = 0
        self._stop_evt = threading.Event()

    @staticmethod
    def _tree_pss_kb(root: int) -> int:
        total = 0
        for pid in [root, *descendants(root)]:
            try:
                with open(f"/proc/{pid}/smaps_rollup") as f:
                    for line in f:
                        if line.startswith("Pss:"):
                            total += int(line.split()[1])
                            break
            except OSError:
                continue
        return total

    def run(self) -> None:
        me = os.getpid()
        while not self._stop_evt.is_set():
            self.peak_kb = max(self.peak_kb, self._tree_pss_kb(me))
            self._stop_evt.wait(self.period)

    def stop(self) -> float:
        self._stop_evt.set()
        self.join()
        return self.peak_kb / 1024.0


def stop_spark(spark) -> None:
    """Stop the session, then wait for the JVM and every process under it
    (the Python workers) to exit, killing any still alive after 30 s."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    left = descendants(os.getpid())
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    while left and time.monotonic() < deadline:
        left = [p for p in left if alive(p)]
        time.sleep(0.1)
    for pid in left:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


def median(xs):
    return statistics.median(xs) if xs else 0.0


def layer_metrics(run, tracer, jobs) -> dict[str, tuple[float, str]]:
    """Per-layer numbers from the spans, with ``jobs`` from
    ``tracer.resolve()``. A layer that ran in the measured window is
    reported from that window, else from the set-up, else from the probe."""
    spans = tracer.spans
    by_id = {s.sid: s for s in spans}
    children: dict[int, list] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)

    def root(s):
        while s.parent is not None:
            s = by_id[s.parent]
        return s

    def pick(name, pred=lambda s: True):
        xs = [s for s in spans if s.name == name and pred(s)]
        by_phase = {p: [s for s in xs if root(s).attrs.get("phase") == p]
                    for p in ("measure", "setup", "probe")}
        return by_phase["measure"] or by_phase["setup"] or by_phase["probe"]

    def n_jobs(s):
        return len(s.jobs)

    def n_tasks(s):
        return sum(jobs.get(j, (0, 0))[1] for j in s.jobs)

    def kind_of(s):
        return root(s).attrs.get("kind")

    def mean(xs):
        return statistics.fmean(xs) if xs else 0.0

    def total(xs, key):
        return sum(s.attrs.get(key, 0) for s in xs)

    ext = pick("sources.extract")
    tr = pick("chunker.transform")
    load = pick("collections.load")
    ups = pick("collections.upsert")
    searches = {k: pick("search", lambda s, k=k: s.attrs.get("kind") in k)
                for k in (("exact", "filtered"), ("ivf",), ("graph",))}
    probes = [
        min(c, key=lambda c: c.start)
        for s in pick("search")
        if (c := [c for c in children.get(s.sid, ()) if c.name == "collections.read"])
    ]
    def recall(kind):
        for phase in ("measure", "setup", "probe"):
            rs = [o.recall for o in run.outcomes
                  if o.phase == phase and o.kind == kind and o.recall is not None]
            if rs:
                return mean(rs)
        return 0.0

    m = {
        "session.start_s": (run.session_start_s, "s"),
        "sources.extract_s": (sum(s.ms for s in ext) / 1000, "s"),
        "sources.tasks": (sum(n_tasks(s) for s in ext), "count"),
        "sources.docs_per_file": (total(ext, "rows") / max(1, total(ext, "files")), "ratio"),
        "chunker.transform_s": (sum(s.ms for s in tr) / 1000, "s"),
        "chunker.chunks_per_doc": (total(tr, "rows") / max(1, total(tr, "docs")), "ratio"),
        "chunker.dup_kept_frac": (total(tr, "rows") / max(1, total(tr, "chunks")), "ratio"),
        "collections.load_s": (sum(s.ms for s in load) / 1000, "s"),
        "collections.bytes_written": (total(load, "bytes"), "bytes"),
        "collections.files_written": (total(load, "files"), "count"),
        "collections.upsert_ms": (median([s.ms for s in ups]), "ms"),
        "collections.upsert_jobs": (mean([n_jobs(s) for s in ups]), "count"),
        "collections.rows_rewritten_per_row_upserted": (
            total(ups, "rows_rewritten") / max(1, total(ups, "rows_upserted")), "ratio"),
        "collections.files_total": (max((s.attrs.get("files_total", 0) for s in ups), default=0), "count"),
        "collections.index_build_ms": (median([s.ms for s in pick("collections.index_build")]), "ms"),
        "collections.schema_probe_ms": (median([s.ms for s in probes]), "ms"),
        "embeddings.query_ms": (median([s.ms for s in pick("embeddings.query")]), "ms"),
        "quality.validate_s": (sum(s.ms for s in pick("quality.validate")) / 1000, "s"),
        "search.detect_language_ms": (median([s.ms for s in pick("search.detect_language")]), "ms"),
        "search.parse_filter_ms": (median([s.ms for s in pick("search.parse_filter")]), "ms"),
        "search.self_ms": (median([tracer.self_ms(s, children) for s in pick("search")]), "ms"),
        "topk.plan_ms": (median([s.ms for s in pick("topk.plan")]), "ms"),
    }
    for layer, kinds in (("topk", ("exact", "filtered")), ("ann", ("ivf",)), ("graph_ann", ("graph",))):
        xs = searches[kinds]
        m[f"{layer}.jobs_per_search"] = (mean([n_jobs(s) for s in xs]), "count")
        m[f"{layer}.tasks_per_search"] = (mean([n_tasks(s) for s in xs]), "count")
    for layer, kind in (("ann", "ivf"), ("graph_ann", "graph")):
        fan = pick("collections.fanout", lambda s, k=kind: kind_of(s) == k)
        m[f"{layer}.fanout_plan_ms"] = (median([s.ms for s in fan]), "ms")
        m[f"{layer}.recall_at_10"] = (recall(kind), "ratio")
    wall = max(s.end for s in spans) - min(s.start for s in spans)
    m["trace.overhead_frac"] = (tracer.overhead_s / wall, "ratio")
    return m


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("ingest", "serve", "refresh"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    work_root = os.path.join(ROOT, "perfbench", ".work")
    # no process id in the path: stored paths, and through the doc_id hash
    # which duplicate survives, must repeat between runs at one seed
    work = os.path.join(work_root, f"{args.workload}-{args.seed}")
    shutil.rmtree(work, ignore_errors=True)
    prepare_env(work)
    try:
        from perfbench import workloads
        from perfbench.trace import Tracer
    except ImportError as e:
        # a checkout without the package: nothing to measure
        print(f"perfbench: cannot import the program: {e}", file=sys.stderr)
        shutil.rmtree(work, ignore_errors=True)
        return 2

    rss = RssSampler()
    rss.start()
    run = workloads.Run(args.workload, args.seed, args.seconds, work, bool(args.trace))
    try:
        workloads.start_session(run, lambda sc: Tracer(sc, run.traced))
        import vectordb_etl_spark.search as search_mod
        from vectordb_etl_spark.store.collections import CollectionStore

        with run.tracer.patch([
            (search_mod, "detect_language_query", "search.detect_language"),
            (search_mod, "parse_filter", "search.parse_filter"),
            (search_mod, "query_vector", "embeddings.query"),
            (search_mod, "topk_search", "topk.plan"),
            (CollectionStore, "read", "collections.read"),
            (CollectionStore, "fanout_search_indexed", "collections.fanout"),
        ]):
            workloads.WORKLOADS[args.workload](run)
        if run.traced:
            jobs = run.tracer.resolve()
            metrics = layer_metrics(run, run.tracer, jobs)
            run.tracer.dump(
                os.path.join(work_root, f"trace-{args.workload}-{args.seed}.json"), jobs
            )
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        if run.spark is not None:
            stop_spark(run.spark)
        peak = rss.stop()
        shutil.rmtree(work, ignore_errors=True)

    if not run.traced:
        vals = {**run.e2e, "setup_s": run.setup_s, "peak_rss_mb": peak}
        metrics = {k: (vals[k], E2E_UNITS[k]) for k in E2E_UNITS}
    attempted = max(1, run.attempted)
    shown = {**metrics, "failed_frac": (run.failed / attempted, "ratio")}
    if not run.traced:
        shown.update(run.named)
    for name, (value, unit) in shown.items():
        print(f"{args.workload:8s} {name:45s} {value:14.4f} {unit}")
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())

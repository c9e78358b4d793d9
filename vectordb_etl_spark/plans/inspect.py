"""Executed-plan string inspection (the stable cross-version surface),
and a counter of the py4j messages that build a plan."""

from __future__ import annotations

import re
import threading
from contextlib import contextmanager

from pyspark.sql import DataFrame


# py4j's proxy-release message ("memory: delete <object id>"), sent when a
# Python proxy of a JVM object is garbage-collected
_RELEASE = "m\nd\n"


@contextmanager
def py4j_commands():
    """Count the py4j messages the driver sends to the JVM while the block
    runs, from every thread: ``{"commands": n, "releases": m}``.
    ``commands`` are calls, reflection lookups and object transfers — the
    round trips that building and running a plan costs; ``releases`` are
    py4j's proxy-release messages, which go out whenever Python's garbage
    collector frees JVM proxies and so depend on when it runs. Wraps
    ``send_command`` of both connection classes (the pinned-thread
    ``ClientServerConnection`` PySpark uses by default, and
    ``GatewayConnection``) and restores them on exit."""
    from py4j import clientserver, java_gateway

    counts = {"commands": 0, "releases": 0}
    lock = threading.Lock()
    classes = (clientserver.ClientServerConnection, java_gateway.GatewayConnection)
    originals = [cls.__dict__["send_command"] for cls in classes]

    def counting(original):
        def send_command(self, command, *args, **kwargs):
            key = "releases" if command.startswith(_RELEASE) else "commands"
            with lock:
                counts[key] += 1
            return original(self, command, *args, **kwargs)

        return send_command

    for cls, original in zip(classes, originals):
        cls.send_command = counting(original)
    try:
        yield counts
    finally:
        for cls, original in zip(classes, originals):
            cls.send_command = original


def executed_plan(df: DataFrame) -> str:
    """The physical plan as text (pre-execution; AQE final plans may differ
    only by runtime coalescing, which never weakens the asserted shapes)."""
    return df._jdf.queryExecution().executedPlan().toString()


def pushed_filters(df: DataFrame) -> list[str]:
    """Filters pushed into the datasource scan, e.g.
    ``['IsNotNull(language)', 'EqualTo(language,korean)']``."""
    plan = executed_plan(df)
    out: list[str] = []
    for part in plan.split("PushedFilters: [")[1:]:
        body = part.split("]")[0]
        # split on commas at paren depth 0 only — filter args contain commas
        depth, cur = 0, []
        for ch in body:
            if ch == "," and depth == 0:
                if "".join(cur).strip():
                    out.append("".join(cur).strip())
                cur = []
                continue
            depth += ch == "("
            depth -= ch == ")"
            cur.append(ch)
        if "".join(cur).strip():
            out.append("".join(cur).strip())
    return out


def read_schema(df: DataFrame) -> str:
    """The column subset actually read from the scan (column pruning)."""
    plan = executed_plan(df)
    parts = plan.split("ReadSchema:")
    return parts[1].split("\n")[0].strip() if len(parts) > 1 else ""


def count_exchanges(df: DataFrame) -> int:
    """Number of hash-partition shuffles in the plan (broadcast exchanges and
    reused exchanges excluded) — the scale-critical number."""
    plan = executed_plan(df)
    reused = plan.count("ReusedExchange")
    return plan.count("Exchange hashpartitioning") - reused


def has_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in executed_plan(df)


def has_partition_filter(df: DataFrame, col: str) -> bool:
    plan = executed_plan(df)
    for part in plan.split("PartitionFilters: [")[1:]:
        if col in part.split("]")[0]:
            return True
    return False


def uses_python_eval(df: DataFrame) -> bool:
    """True when the plan contains a Python evaluation node (Batch/Arrow
    EvalPython) — i.e., rows leave the JVM. The engine's contract: only the
    sanctioned pandas-UDF operators (parse/chunk/embed) may do this."""
    return "EvalPython" in executed_plan(df)


# -- plan fingerprints: the scale-regression guard ---------------------------

# every node class that moves rows out of the JVM into a Python worker
_PYTHON_NODES = (
    "BatchEvalPython",
    "ArrowEvalPython",
    "FlatMapGroupsInPandas",
    "FlatMapCoGroupsInPandas",
    "MapInPandas",
    "PythonMapInArrow",
    "MapInArrow",
    "AggregateInPandas",
)

_NODE_PREFIX = re.compile(r"^[\s+\-:*()\d]+")


def plan_fingerprint(df: DataFrame) -> dict:
    """Count the scale-critical physical nodes: ``exchange`` (real shuffles
    — ReusedExchange and broadcast exchanges excluded), ``broadcast_hash_join``,
    and ``python_eval`` (rows leaving the JVM). Wall-clock is noisy on a
    shared host; these counts are deterministic, so a registered query
    GAINING an exchange or a python hop is a regression even when the
    benchmark happens to run fast."""
    names = [
        _NODE_PREFIX.sub("", ln) for ln in executed_plan(df).splitlines()
    ]

    def starts(prefix: str) -> int:
        return sum(1 for n in names if n.startswith(prefix))

    return {
        "exchange": starts("Exchange hashpartitioning")
        + starts("Exchange rangepartitioning")
        + starts("Exchange RoundRobinPartitioning")
        + starts("Exchange SinglePartition"),
        "broadcast_hash_join": starts("BroadcastHashJoin"),
        "python_eval": sum(starts(p) for p in _PYTHON_NODES),
    }


def fingerprint_regressions(current: dict, baseline: dict) -> list[str]:
    """Which scale-critical counts grew vs the recorded baseline. Only
    ``exchange`` and ``python_eval`` gains are regressions; a join flipping
    to broadcast (broadcast_hash_join up, exchange down) is an improvement
    and stays silent."""
    msgs = []
    for key in ("exchange", "python_eval"):
        cur, base = current.get(key, 0), baseline.get(key, 0)
        if cur > base:
            msgs.append(f"{key} grew {base} -> {cur}")
    return msgs

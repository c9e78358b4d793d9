"""The bench loop on tiny rows: every row lands in each record block, and
the kept time is the minimum of a row's measurements."""

from __future__ import annotations

import sys
from pathlib import Path
from types import SimpleNamespace

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import pytest  # noqa: E402

import bench  # noqa: E402
from perfbench.trace import Tracer  # noqa: E402


@pytest.fixture(scope="module")
def ctx(spark):
    # one tracer, as in a bench run: its span ids name the job groups, so a
    # second tracer on the same session would reuse them
    return SimpleNamespace(spark=spark, tracer=Tracer(spark.sparkContext, enabled=True))


def test_run_rows_fills_every_block_and_keeps_the_minimum(ctx, monkeypatch):
    seen: dict[str, list[float]] = {}
    real = bench.measure

    def spy(ctx, row, plans=None):
        out = real(ctx, row, plans)
        seen.setdefault(row.name, []).append(out[0])
        return out

    monkeypatch.setattr(bench, "measure", spy)
    rows = [
        bench.Row(
            "tiny_collect",
            lambda c: c.spark.range(40).selectExpr("id % 4 AS g").groupBy("g").count(),
            check=lambda c, out: {"groups": len(out)},
        ),
        bench.Row("tiny_noop", lambda c: c.spark.range(100).selectExpr("id * 2 AS x"), "noop"),
        bench.Row(
            "tiny_self", lambda c: c.spark.range(5).count(), "self",
            plan=lambda c: c.spark.range(5),
        ),
    ]
    timings, plans, layers, metas = bench.run_rows(ctx, rows, budget_s=1e9)
    names = {r.name for r in rows}
    assert set(timings) == set(plans) == set(layers) == names
    assert layers["tiny_collect"]["jobs"] >= 1
    assert layers["tiny_collect"]["tasks"] >= layers["tiny_collect"]["stages"] >= 1
    assert layers["tiny_self"]["jobs"] >= 1
    assert plans["tiny_collect"]["exchange"] >= 1
    assert metas == {"tiny_collect": {"groups": 4}}
    for name in names:
        assert len(seen[name]) == 2  # pass 1 plus the budgeted pass 2
        assert timings[name] == min(seen[name])


def test_run_rows_without_budget_measures_once(ctx):
    rows = [bench.Row("tiny_once", lambda c: c.spark.range(3))]
    timings, plans, layers, _ = bench.run_rows(ctx, rows, budget_s=-1.0)
    assert set(timings) == set(plans) == set(layers) == {"tiny_once"}
    assert layers["tiny_once"]["jobs"] >= 1


def test_measure_counts_only_its_own_jobs(ctx):
    """Each measurement's layers hold the jobs it ran, not those of earlier
    measurements of the same or another row."""
    row = bench.Row(
        "tiny_repeat",
        lambda c: c.spark.range(50).selectExpr("id % 5 AS g").groupBy("g").count(),
    )
    first = bench.measure(ctx, row)[1]
    assert first["jobs"] >= 1
    assert [bench.measure(ctx, row)[1] for _ in range(2)] == [first, first]
    assert not ctx.tracer.spans  # resolved spans are not kept

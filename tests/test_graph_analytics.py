"""Fixed-iteration integer PageRank — parity, ranking sanity, guards."""

import duckdb
import pytest
from pyspark.sql import functions as F

from vectordb_etl_spark.operators.graph_analytics import pagerank, pagerank_sql


def _star_edges(spark):
    # hub 0 <-> spokes 1..5, plus a 6-7 pair off to the side (undirected)
    pairs = [(0, i) for i in range(1, 6)] + [(6, 7)]
    both = pairs + [(b, a) for a, b in pairs]
    return spark.createDataFrame(both, ["src", "dst"])


def test_pagerank_matches_duckdb_bit_for_bit(spark):
    e = _star_edges(spark)
    got = sorted(map(tuple, pagerank(e, iterations=5).collect()))
    con = duckdb.connect()
    edges_sql = "SELECT * FROM (VALUES " + ", ".join(
        f"({r['src']}, {r['dst']})" for r in e.collect()
    ) + ") t(src, dst)"
    want = sorted(con.execute(pagerank_sql(edges_sql, iterations=5)).fetchall())
    assert got == want


def test_pagerank_ranks_hub_highest(spark):
    ranks = {
        r["node"]: r["rank_micro"]
        for r in pagerank(_star_edges(spark), iterations=6).collect()
    }
    # hub holds the most mass; spokes are symmetric; the isolated pair
    # settles at the two-cycle fixed point around 1.0
    assert ranks[0] > ranks[1]
    assert len({ranks[i] for i in range(1, 6)}) == 1
    assert ranks[6] == ranks[7]
    assert ranks[0] > ranks[6]


def test_pagerank_mass_roughly_conserved(spark):
    """Integer division only LEAKS mass (never creates it): total stays
    within n·iterations·max_deg micro of n·1e6 and never above."""
    e = _star_edges(spark)
    rows = pagerank(e, iterations=6).collect()
    total = sum(r["rank_micro"] for r in rows)
    n = len(rows)
    assert total <= n * 1_000_000
    assert total >= n * 1_000_000 - n * 6 * 10 * 10


def test_pagerank_rejects_bad_damping(spark):
    e = _star_edges(spark)
    with pytest.raises(ValueError, match="damping_ppm"):
        pagerank(e, damping_ppm=0)
    with pytest.raises(ValueError, match="damping_ppm"):
        pagerank_sql("SELECT 1 AS src, 2 AS dst", damping_ppm=2_000_000)


def test_pagerank_plan_is_join_agg_per_iteration(spark):
    """No Python in the loop; shuffles stay proportional to iteration
    count (2 per round: edge join + dst agg), not to graph size."""
    e = _star_edges(spark)
    out = pagerank(e, iterations=3)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_triangle_count_k4_with_noise(spark):
    from vectordb_etl_spark.operators.graph_analytics import triangle_count

    # K4 = 4 triangles; plus a self-loop, a duplicate, and a reversed
    # duplicate that canonicalization must absorb, and a pendant vertex
    k4 = [(a, b) for a in range(4) for b in range(4) if a < b]
    edges = k4 + [(2, 2), (0, 1), (1, 0), (3, 9)]
    df = spark.createDataFrame(edges, ["src", "dst"])
    row = triangle_count(df).first()
    assert row["n_triangles"] == 4
    assert row["n_edges"] == 7  # 6 K4 edges + pendant
    assert row["n_nodes"] == 5


def test_triangle_count_star_has_none(spark):
    from vectordb_etl_spark.operators.graph_analytics import triangle_count

    star = [(0, i) for i in range(1, 30)]
    row = triangle_count(spark.createDataFrame(star, ["src", "dst"])).first()
    assert row["n_triangles"] == 0
    # hub orientation: every edge points hub-ward only when the leaf's
    # (deg, id) rank is lower — wedge count must stay 0, not deg²
    assert row["n_wedges"] == 0


def _values_sql(rows, cols):
    body = ", ".join("(" + ", ".join(str(v) for v in r) + ")" for r in rows)
    return f"SELECT * FROM (VALUES {body}) t({', '.join(cols)})"


def test_bfs_hops_chain_and_isolated_seed(spark):
    from vectordb_etl_spark.operators.graph_analytics import bfs_hops

    # chain 0-1-2-3-4 (undirected), isolated seed 9, unreachable node 7-8
    pairs = [(0, 1), (1, 2), (2, 3), (3, 4), (7, 8)]
    both = pairs + [(b, a) for a, b in pairs]
    edges = spark.createDataFrame(both, ["src", "dst"])
    seeds = spark.createDataFrame([(0,), (9,)], ["node"])
    got = {r["node"]: r["hop"] for r in bfs_hops(edges, seeds, 2).collect()}
    assert got == {0: 0, 9: 0, 1: 1, 2: 2}  # 3,4 beyond 2 hops; 7,8 unreachable


def test_bfs_hops_min_hop_wins_on_multiple_paths(spark):
    from vectordb_etl_spark.operators.graph_analytics import bfs_hops

    # two seeds; node 2 reachable at hop 1 from seed 3 and hop 2 from seed 0
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (3, 2)], ["src", "dst"]
    )
    seeds = spark.createDataFrame([(0,), (3,)], ["node"])
    got = {r["node"]: r["hop"] for r in bfs_hops(edges, seeds, 3).collect()}
    assert got[2] == 1


def test_bfs_hops_matches_duckdb_bit_for_bit(spark):
    import duckdb as _dk

    from vectordb_etl_spark.operators.graph_analytics import (
        bfs_hops, bfs_hops_sql,
    )

    pairs = [(0, 1), (1, 2), (2, 3), (3, 0), (2, 5), (5, 6), (8, 9)]
    both = pairs + [(b, a) for a, b in pairs]
    edges = spark.createDataFrame(both, ["src", "dst"])
    seeds = spark.createDataFrame([(0,), (8,)], ["node"])
    got = sorted(map(tuple, bfs_hops(edges, seeds, 3).collect()))
    sql = bfs_hops_sql(
        _values_sql(both, ["src", "dst"]),
        "SELECT 0 AS node UNION ALL SELECT 8",
        3,
    )
    want = sorted(map(tuple, _dk.connect().execute(sql).fetchall()))
    assert got == want


def test_kcore_peels_pendants_cascade(spark):
    from vectordb_etl_spark.operators.graph_analytics import kcore

    # K4 core with a pendant chain 3-10-11: a single peel round removes
    # 11, the NEXT removes 10 (cascade) — K4 survives with degree 3
    k4 = [(a, b) for a in range(4) for b in range(4) if a < b]
    edges = spark.createDataFrame(k4 + [(3, 10), (10, 11)], ["src", "dst"])
    got = {r["node"]: r["deg"] for r in kcore(edges, k=2, rounds=3).collect()}
    assert got == {0: 3, 1: 3, 2: 3, 3: 3}


def test_kcore_matches_duckdb_bit_for_bit(spark):
    import duckdb as _dk

    from vectordb_etl_spark.operators.graph_analytics import kcore, kcore_sql

    k4 = [(a, b) for a in range(4) for b in range(4) if a < b]
    noisy = k4 + [(3, 10), (10, 11), (1, 0), (2, 2)]  # dup/rev/self-loop
    edges = spark.createDataFrame(noisy, ["src", "dst"])
    got = sorted(map(tuple, kcore(edges, k=2, rounds=3).collect()))
    sql = kcore_sql(_values_sql(noisy, ["src", "dst"]), k=2, rounds=3)
    want = sorted(map(tuple, _dk.connect().execute(sql).fetchall()))
    assert got == want


def test_kcore_empty_when_k_exceeds_graph(spark):
    from vectordb_etl_spark.operators.graph_analytics import kcore

    tri = spark.createDataFrame([(0, 1), (1, 2), (0, 2)], ["src", "dst"])
    assert kcore(tri, k=3, rounds=2).count() == 0


def test_traversal_guards(spark):
    import pytest as _pt

    from vectordb_etl_spark.operators.graph_analytics import (
        bfs_hops, bfs_hops_sql, kcore, kcore_sql,
    )

    e = spark.createDataFrame([(0, 1)], ["src", "dst"])
    s = spark.createDataFrame([(0,)], ["node"])
    with _pt.raises(ValueError, match="max_hops"):
        bfs_hops(e, s, -1)
    with _pt.raises(ValueError, match="max_hops"):
        bfs_hops_sql("x", "y", -1)
    with _pt.raises(ValueError, match="k must"):
        kcore(e, k=0, rounds=1)
    with _pt.raises(ValueError, match="rounds"):
        kcore_sql("x", k=1, rounds=0)


def test_label_propagation_two_cliques_with_bridge(spark):
    from vectordb_etl_spark.operators.graph_analytics import (
        label_propagation,
    )

    # two K4s joined by one bridge edge: majority voting keeps each
    # clique on its own min label; the bridge cannot flip anyone
    k1 = [(a, b) for a in range(4) for b in range(4) if a < b]
    k2 = [(a + 10, b + 10) for a, b in k1]
    edges = spark.createDataFrame(k1 + k2 + [(3, 10)], ["src", "dst"])
    got = {r["node"]: r["label"] for r in label_propagation(edges, 4).collect()}
    assert {got[i] for i in range(4)} == {0}
    assert {got[i + 10] for i in range(4)} == {10}


def test_label_propagation_matches_duckdb_bit_for_bit(spark):
    import duckdb as _dk

    from vectordb_etl_spark.operators.graph_analytics import (
        label_propagation,
        label_propagation_sql,
    )

    pairs = [(0, 1), (1, 2), (2, 0), (2, 3), (3, 4), (4, 5), (5, 3), (7, 8)]
    edges = spark.createDataFrame(pairs, ["src", "dst"])
    got = sorted(map(tuple, label_propagation(edges, 3).collect()))
    sql = label_propagation_sql(_values_sql(pairs, ["src", "dst"]), 3)
    want = sorted(map(tuple, _dk.connect().execute(sql).fetchall()))
    assert got == want


def test_label_propagation_guard(spark):
    import pytest as _pt

    from vectordb_etl_spark.operators.graph_analytics import (
        label_propagation,
        label_propagation_sql,
    )

    e = spark.createDataFrame([(0, 1)], ["src", "dst"])
    with _pt.raises(ValueError, match="rounds"):
        label_propagation(e, 0)
    with _pt.raises(ValueError, match="rounds"):
        label_propagation_sql("x", -2)


def test_personalized_pagerank_affinity_decays_with_distance(spark):
    from vectordb_etl_spark.operators.graph_analytics import (
        personalized_pagerank,
    )

    # chain 0-1-2-3 (undirected) + far pair 8-9; seed = {0}
    pairs = [(0, 1), (1, 2), (2, 3), (8, 9)]
    both = pairs + [(b, a) for a, b in pairs]
    edges = spark.createDataFrame(both, ["src", "dst"])
    seeds = spark.createDataFrame([(0,)], ["node"])
    got = {
        r["node"]: r["rank_micro"]
        for r in personalized_pagerank(edges, seeds, iterations=6).collect()
    }
    # every chain member carries affinity, the far end least (the seed
    # itself need NOT rank first: a degree-1 seed pushes all its mass to
    # its neighbor each round); the disconnected pair gets ZERO
    assert min(got[0], got[1], got[2]) > got[3] > 0
    assert got[8] == 0 and got[9] == 0


def test_personalized_pagerank_matches_duckdb_bit_for_bit(spark):
    import duckdb as _dk

    from vectordb_etl_spark.operators.graph_analytics import (
        personalized_pagerank,
        personalized_pagerank_sql,
    )

    pairs = [(0, 1), (1, 2), (2, 0), (2, 3), (3, 4), (4, 2)]
    both = pairs + [(b, a) for a, b in pairs]
    edges = spark.createDataFrame(both, ["src", "dst"])
    seeds = spark.createDataFrame([(0,), (4,)], ["node"])
    got = sorted(
        map(tuple, personalized_pagerank(edges, seeds, iterations=5).collect())
    )
    sql = personalized_pagerank_sql(
        _values_sql(both, ["src", "dst"]),
        "SELECT 0 AS node UNION ALL SELECT 4",
        iterations=5,
    )
    want = sorted(map(tuple, _dk.connect().execute(sql).fetchall()))
    assert got == want


def test_personalized_pagerank_guard(spark):
    import pytest as _pt

    from vectordb_etl_spark.operators.graph_analytics import (
        personalized_pagerank,
        personalized_pagerank_sql,
    )

    e = spark.createDataFrame([(0, 1)], ["src", "dst"])
    s = spark.createDataFrame([(0,)], ["node"])
    with _pt.raises(ValueError, match="damping_ppm"):
        personalized_pagerank(e, s, damping_ppm=0)
    with _pt.raises(ValueError, match="damping_ppm"):
        personalized_pagerank_sql("x", "y", damping_ppm=1_000_000)


# --------------------------------------------------------------------------
# run-to-convergence (rounds/iterations = None) — VERDICT r06 item 2
# --------------------------------------------------------------------------


def test_kcore_converged_equals_deep_fixed_run(spark):
    """rounds=None peels to the fixpoint; any fixed run >= the peel
    depth gives the identical survivor table (monotone idempotence —
    the property the registered kcore_converged oracle relies on)."""
    from vectordb_etl_spark.operators.graph_analytics import kcore

    # K4 + pendant chain needing 2 cascading peels + a far tail
    k4 = [(a, b) for a in range(4) for b in range(4) if a < b]
    edges = spark.createDataFrame(
        k4 + [(3, 10), (10, 11), (11, 12), (12, 13)], ["src", "dst"]
    )
    conv = sorted(map(tuple, kcore(edges, k=2, rounds=None).collect()))
    deep = sorted(map(tuple, kcore(edges, k=2, rounds=10).collect()))
    assert conv == deep
    assert {n for n, _ in conv} == {0, 1, 2, 3}


def test_kcore_converged_respects_max_rounds_cap(spark):
    """With max_rounds=1 only ONE peel happens — identical to
    rounds=1 (the capped case the shared-cap oracle depends on)."""
    from vectordb_etl_spark.operators.graph_analytics import kcore

    k4 = [(a, b) for a in range(4) for b in range(4) if a < b]
    edges = spark.createDataFrame(
        k4 + [(3, 10), (10, 11)], ["src", "dst"]
    )
    capped = sorted(
        map(tuple, kcore(edges, k=2, rounds=None, max_rounds=1).collect())
    )
    one = sorted(map(tuple, kcore(edges, k=2, rounds=1).collect()))
    assert capped == one
    # the single peel only removed node 11; the final deg >= k output
    # filter then hides 10 (degree 1 in the surviving subgraph), so the
    # capped result is exactly the fixed-1-round result, K4 only
    assert {n for n, _ in capped} == {0, 1, 2, 3}


def test_label_propagation_converged_is_stable(spark):
    """rounds=None labeling equals a deep fixed run AND re-running one
    more round changes nothing (sync-LPA fixpoint stability)."""
    from vectordb_etl_spark.operators.graph_analytics import (
        label_propagation,
    )

    k4a = [(a, b) for a in range(4) for b in range(4) if a < b]
    k4b = [(a + 10, b + 10) for a, b in k4a]
    edges = spark.createDataFrame(k4a + k4b + [(3, 10)], ["src", "dst"])
    conv = sorted(
        map(tuple, label_propagation(edges, rounds=None).collect())
    )
    deep = sorted(map(tuple, label_propagation(edges, rounds=8).collect()))
    assert conv == deep
    # two communities, labeled by each clique's smallest node id
    labels = {lab for _, lab in conv}
    assert labels == {0, 10}


def test_pagerank_converged_equals_deep_fixed_run(spark):
    """A capped iterations=None run warns that the cap tripped; a fixed
    run of the rounds it used reproduces it bit-for-bit."""
    from vectordb_etl_spark.operators.graph_analytics import (
        convergence_stats,
        pagerank,
    )

    pairs = [(0, i) for i in range(1, 6)] + [(6, 7)]
    both = pairs + [(b, a) for a, b in pairs]
    e = spark.createDataFrame(both, ["src", "dst"])
    # this graph never reaches an exact integer fixpoint (measured: the
    # old iterations=None run tripped the default 40-round cap, so the
    # original conv-vs-40 assertion was really cap-equivalence, 40
    # rounds both ways). Assert the same invariant — a fixed run of
    # exactly the rounds the converged/capped run used reproduces it
    # bit-for-bit — at a 12-round cap instead of 80 rounds total (this
    # was a 25 s test of pure per-round scheduling overhead).
    with pytest.warns(RuntimeWarning, match="cap"):
        conv = sorted(
            map(tuple, pagerank(e, iterations=None, max_iterations=12).collect())
        )
    # convergence_stats is module-global and the next pagerank call
    # overwrites it: read the capped run's depth before anything else runs
    deep_iters = convergence_stats["pagerank"]
    deep = sorted(map(tuple, pagerank(e, iterations=deep_iters).collect()))
    assert conv == deep


def test_personalized_pagerank_converged_equals_deep_fixed_run(spark):
    from vectordb_etl_spark.operators.graph_analytics import (
        convergence_stats,
        personalized_pagerank,
    )

    chain = [(0, 1), (1, 2), (2, 3), (3, 4)]
    both = chain + [(b, a) for a, b in chain]
    e = spark.createDataFrame(both, ["src", "dst"])
    seeds = spark.createDataFrame([(0,)], ["node"])
    # same cap-aware shrink as the pagerank twin: a fixed run of exactly
    # the rounds the converged/capped run used must reproduce it
    # bit-for-bit, whether that was a true fixpoint or the cap (this was
    # the suite's 4th-slowest test at 103 s for 80 rounds of scheduling)
    with pytest.warns(RuntimeWarning, match="cap"):
        conv = sorted(
            map(
                tuple,
                personalized_pagerank(
                    e, seeds, iterations=None, max_iterations=12
                ).collect(),
            )
        )
    # convergence_stats is module-global and the next call overwrites it:
    # read the capped run's depth before anything else runs
    deep_iters = convergence_stats["personalized_pagerank"]
    deep = sorted(
        map(
            tuple,
            personalized_pagerank(e, seeds, iterations=deep_iters).collect(),
        )
    )
    assert conv == deep


def test_converged_mode_guards(spark):
    import pytest as _pt

    from vectordb_etl_spark.operators.graph_analytics import (
        kcore,
        label_propagation,
        pagerank,
        personalized_pagerank,
    )

    e = spark.createDataFrame([(0, 1)], ["src", "dst"])
    s = spark.createDataFrame([(0,)], ["node"])
    with _pt.raises(ValueError, match="max_rounds"):
        kcore(e, k=1, rounds=None, max_rounds=0)
    with _pt.raises(ValueError, match="max_rounds"):
        label_propagation(e, rounds=None, max_rounds=0)
    with _pt.raises(ValueError, match="max_iterations"):
        pagerank(e, iterations=None, max_iterations=0)
    with _pt.raises(ValueError, match="max_iterations"):
        personalized_pagerank(e, s, iterations=None, max_iterations=0)
    with _pt.raises(ValueError, match="iterations"):
        pagerank(e, iterations=0)


def test_convergence_stats_and_loud_cap_trip(spark):
    """r09 instrumentation (ADVICE r08): run-to-convergence records its
    reached depth in graph_analytics.convergence_stats, and an exhausted
    cap warns RuntimeWarning instead of silently returning a truncated
    result that an identically-truncated oracle would still match."""
    import warnings as _w

    import pytest as _pt

    from vectordb_etl_spark.operators import graph_analytics as ga

    # converged: depth recorded, NO warning
    k4 = [(a, b) for a in range(4) for b in range(4) if a < b]
    edges = spark.createDataFrame(
        k4 + [(3, 10), (10, 11), (11, 12), (12, 13)], ["src", "dst"]
    )
    ga.convergence_stats.clear()
    with _w.catch_warnings():
        _w.simplefilter("error", RuntimeWarning)
        ga.kcore(edges, k=2, rounds=None).collect()
    assert ga.convergence_stats["kcore"] >= 2  # cascading peel + confirm

    # capped mid-shrink: loud
    with _pt.warns(RuntimeWarning, match="kcore.*cap \\(1 rounds\\) tripped"):
        ga.kcore(edges, k=2, rounds=None, max_rounds=1).collect()
    assert ga.convergence_stats["kcore"] == 1

    # sync-LPA period-2 oscillation (two nodes swap labels forever):
    # rounds=None must trip the cap loudly, and the result must still
    # equal the fixed-rounds=cap run (the shared-cap oracle contract)
    osc = spark.createDataFrame([(0, 1), (1, 0)], ["src", "dst"])
    with _pt.warns(RuntimeWarning, match="label_propagation.*cap \\(3 rounds\\)"):
        capped = sorted(
            map(
                tuple,
                ga.label_propagation(osc, rounds=None, max_rounds=3).collect(),
            )
        )
    fixed = sorted(map(tuple, ga.label_propagation(osc, rounds=3).collect()))
    assert capped == fixed

    # pagerank: converged depth recorded, no warning
    ga.convergence_stats.clear()
    with _w.catch_warnings():
        _w.simplefilter("error", RuntimeWarning)
        ga.pagerank(edges, iterations=None).collect()
    assert ga.convergence_stats["pagerank"] >= 1

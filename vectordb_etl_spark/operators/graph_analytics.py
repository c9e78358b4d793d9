"""Iterative graph analytics on DataFrames — fixed-iteration PageRank.

Beyond-reference tier (the reference has no graph surface; its nearest
neighbor is the dedup union-find, reimplemented here as hashmin
connected components in operators/dedup.py). PageRank is the canonical
"iterative algorithm on Spark" shape: each iteration is ONE edge-keyed
join plus ONE destination-keyed aggregation — two shuffles — and the
iteration count is fixed up front, so the whole computation is a single
declarative plan Catalyst can see end to end.

Determinism stance (same as the rest of the repo): ranks are integer
MICRO-units. Each node starts at 1_000_000; an iteration sends
``rank // degree`` along every out-edge and updates to
``(1 - d) + d · incoming`` in ppm arithmetic:
``150_000 + (850_000 · s) // 1_000_000`` for d = 0.85. Integer division
leaks a few micro of mass per hop (bounded by degree per node per
iteration) — irrelevant for ranking, and in exchange the result is
bit-identical on any engine, any partitioning, any aggregation order,
so a DuckDB oracle (:func:`pagerank_sql`, the iteration unrolled as
chained CTEs — aggregates are illegal in a recursive CTE term) can
hash-check it.

Scale notes: iterations compound lineage — for tens of iterations at
cluster scale, persist/checkpoint ranks every few rounds (same guidance
as connected_components' ``checkpoint_dir``); edges are reused every
iteration, so ``edges.persist()`` and a pre-``repartition`` on ``src``
keep the per-iteration join from rescanning and reshuffling the big
side. Callers pass iterations explicitly; PageRank converges
geometrically (d^k), 6-10 rounds rank-stabilizes most graphs.
"""

from __future__ import annotations

import warnings

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

_ONE = 1_000_000

# Diagnostic only (not part of any result): rounds each run-to-convergence
# call actually used, keyed by operator name. Callers sizing a shared
# Spark/oracle unroll cap read this to set cap = observed + margin instead
# of paying the oracle for margin nobody uses.
convergence_stats: dict[str, int] = {}


def _converged(op: str, rounds_used: int) -> None:
    convergence_stats[op] = rounds_used


def _cap_tripped(op: str, cap: int, detail: str = "") -> None:
    """Run-to-convergence guard exhausted WITHOUT a verified fixpoint.

    Loud on purpose: a cap-coupled oracle unrolls the same truncated
    rounds, so the correctness gate stays green while the result is
    silently a bounded-iteration answer labeled 'converged'.
    """
    convergence_stats[op] = cap
    warnings.warn(
        f"{op}: run-to-convergence cap ({cap} rounds) tripped before a "
        f"verified fixpoint{'; ' + detail if detail else ''} — the result "
        "equals a rounds={cap} bounded call, NOT a converged state. Raise "
        "max_rounds/max_iterations or treat the output as fixed-round.".replace(
            "{cap}", str(cap)
        ),
        RuntimeWarning,
        stacklevel=3,
    )


def _probe_says_equal(new_df: DataFrame, old_df: DataFrame, cols) -> bool:
    """Exact convergence probe: multiset equality via ``exceptAll``.

    A union-tagged checksum fast-path (count + sum(xxhash64) per side,
    exceptAll only confirming a match) measured consistently SLOWER in an
    interleaved same-session A/B at the bench SF — pagerank_converged
    1.76 vs 1.29 s min (fixpoint at round 1, so the checksum+confirm
    double-pays the final round) and communities_converged no better
    than exceptAll on any of 5 alternated rounds. Both
    inputs are checkpointed, so this is two cached scans + one shuffle
    pair; at cluster scale the shuffle carries only the (small) rank or
    label tables, never the edge list."""
    return new_df.exceptAll(old_df).isEmpty()


def pagerank(
    edges: DataFrame,
    damping_ppm: int = 850_000,
    iterations: int | None = 6,
    src_col: str = "src",
    dst_col: str = "dst",
    checkpoint_dir: str | None = None,
    max_iterations: int = 40,
    assume_distinct: bool = False,
) -> DataFrame:
    """Fixed-iteration PageRank over a DIRECTED edge list (pass both
    directions for an undirected graph). Returns ``(node, rank_micro)``
    for every node appearing as a source OR destination; nodes with no
    in-edges settle at the teleport term, dangling nodes (no out-edges)
    simply contribute nothing — mass is not redistributed, matching the
    simple iterative formulation.

    Lineage is truncated the same way as dedup.connected_components:
    the shared edge/degree/node tables once up front and the rank table
    every iteration (without this, Catalyst re-evaluates the shared
    subplans under every iteration's joins — measured 71 exchanges for
    4 rounds vs ~3 per round truncated — and the plan tree grows
    super-linearly). ``checkpoint_dir`` switches from executor-local
    blocks to a RELIABLE checkpoint so a cluster run survives executor
    loss mid-iteration.

    ``iterations=None`` = RUN-TO-CONVERGENCE bounded by
    ``max_iterations``: stop when the integer micro-rank vector is
    unchanged — EXACT equality, reachable because all arithmetic is
    bigint with truncating DIV, so the iteration is a map on a finite
    lattice. A converged vector is a true fixpoint (identical input ->
    identical update), so a fixed-iteration oracle with iterations >=
    the reached depth — or == ``max_iterations`` if the guard trips
    (truncation can in principle 2-cycle) — reproduces it exactly.
    The probe is an exceptAll multiset-equality check per iteration
    over the two checkpointed rank tables (:func:`_probe_says_equal`).

    ``assume_distinct=True`` skips the internal ``distinct()`` when the
    caller proves the edge list is already duplicate-free (e.g. built
    from a ``distinct()``-ed pair table, or a union of provably disjoint
    directions) — one full shuffle of the edge list saved (guide §2.4:
    'a distinct on data that is already unique')."""
    if not 0 < damping_ppm < _ONE:
        raise ValueError(f"damping_ppm must be in (0, 1e6); got {damping_ppm}")
    if iterations is not None and iterations < 1:
        raise ValueError(f"iterations must be >= 1; got {iterations}")
    if iterations is None and max_iterations < 1:
        raise ValueError(f"max_iterations must be >= 1; got {max_iterations}")
    if checkpoint_dir is not None:
        def truncate(df: DataFrame) -> DataFrame:
            df.sparkSession.sparkContext.setCheckpointDir(checkpoint_dir)
            return df.checkpoint(eager=True)
    else:
        def truncate(df: DataFrame) -> DataFrame:
            return df.localCheckpoint(eager=True)
    e = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
    )
    if not assume_distinct:
        e = e.distinct()
    # edges with the source degree attached — the one table every
    # iteration joins; truncated so it is computed exactly once
    deg = e.groupBy("src").agg(F.count("*").alias("deg"))
    ewd = truncate(e.join(deg, "src").select("src", "dst", "deg"))
    nodes = truncate(
        ewd.select(F.col("src").alias("node"))
        .unionByName(ewd.select(F.col("dst").alias("node")))
        .distinct()
    )
    teleport = _ONE - damping_ppm
    ranks = nodes.withColumn("rank_micro", F.lit(_ONE).cast("bigint"))
    for _i in range(max_iterations if iterations is None else iterations):
        incoming = (
            ranks.join(ewd, ranks["node"] == ewd["src"], "inner")
            .select(F.col("dst"), F.expr("rank_micro DIV deg").alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("s"))
        )
        new_ranks = (
            nodes.join(
                incoming, nodes["node"] == incoming["dst"], "left"
            ).select(
                "node",
                (
                    F.lit(teleport)
                    + F.expr(
                        f"({damping_ppm} * coalesce(s, CAST(0 AS BIGINT)))"
                        f" DIV {_ONE}"
                    )
                ).cast("bigint").alias("rank_micro"),
            )
        )
        # `ranks` is referenced ONCE per round, so plan depth grows
        # linearly — fixed-iteration runs keep the round chain in one
        # job and truncate only every 8th round (same policy as
        # personalized_pagerank); convergence mode must
        # materialize every round for the exceptAll probe
        if iterations is None or (_i + 1) % 8 == 0:
            new_ranks = truncate(new_ranks)
        if iterations is None and _probe_says_equal(
            new_ranks, ranks, ["node", "rank_micro"]
        ):
            _converged("pagerank", _i + 1)
            return new_ranks
        ranks = new_ranks
    if iterations is None:
        _cap_tripped("pagerank", max_iterations)
    return ranks


def pagerank_sql(
    edges_sql: str,
    damping_ppm: int = 850_000,
    iterations: int = 6,
) -> str:
    """DuckDB oracle: the identical integer iteration UNROLLED as
    chained CTEs r0..rN (standard SQL forbids aggregation inside a
    recursive CTE term; unrolling keeps the restatement engine-neutral —
    same technique as operators/packing.py's fold restatement). The
    ``edges_sql`` relation must expose ``src, dst`` and is DISTINCT-ed
    and degree-joined exactly like the Spark path. Integer sums are CAST
    to BIGINT (DuckDB sum(BIGINT) is HUGEINT — pandas float64 —
    hash-red otherwise)."""
    if not 0 < damping_ppm < _ONE:
        raise ValueError(f"damping_ppm must be in (0, 1e6); got {damping_ppm}")
    teleport = _ONE - damping_ppm
    parts = [
        f"""
WITH e AS MATERIALIZED (SELECT DISTINCT src, dst FROM ({edges_sql})),
nodes AS MATERIALIZED (SELECT src AS node FROM e UNION SELECT dst FROM e),
deg AS MATERIALIZED (SELECT src, count(*) AS deg FROM e GROUP BY src),
r0 AS (SELECT node, CAST({_ONE} AS BIGINT) AS rank_micro FROM nodes)"""
    ]
    # each round MATERIALIZED: without it DuckDB inlines the whole round
    # chain into one join tree and optimizer time explodes with the
    # unroll depth (observed: iterations=40 never finished; 4 was fine)
    for i in range(iterations):
        parts.append(f""",
inc_{i} AS MATERIALIZED (
  SELECT e.dst AS node,
         CAST(sum(r.rank_micro // d.deg) AS BIGINT) AS s
  FROM r{i} r JOIN deg d ON d.src = r.node JOIN e ON e.src = r.node
  GROUP BY e.dst
),
r{i + 1} AS MATERIALIZED (
  SELECT n.node,
         CAST({teleport} + ({damping_ppm} * coalesce(i.s, 0)) // {_ONE}
              AS BIGINT) AS rank_micro
  FROM nodes n LEFT JOIN inc_{i} i ON i.node = n.node
)""")
    parts.append(f"\nSELECT node, rank_micro FROM r{iterations}")
    return "".join(parts)


# --------------------------------------------------------------------------
# triangle counting
# --------------------------------------------------------------------------


def triangle_count(
    edges: DataFrame, src_col: str = "src", dst_col: str = "dst"
) -> DataFrame:
    """Exact triangle count over an UNDIRECTED edge list (self-loops and
    duplicate/reversed edges tolerated — canonicalized away first).
    Returns one row: ``(n_nodes, n_edges, n_wedges, n_triangles)``.

    Algorithm: degree-ordered orientation (Suri & Vassilvitskii 2011,
    "Counting Triangles and the Curse of the Last Reducer" — the
    MapReduce-standard fix for the naive wedge join, where one celebrity
    node generates deg² wedges and lands on a single reducer). Each
    canonical edge is oriented from its lower-(degree, id) endpoint to the
    higher; every triangle then has exactly ONE source node owning both of
    its lowest-rank edges, so enumerating out-neighbor pairs of each node
    (wedges) and closing them against the oriented edge set counts each
    triangle once. Orientation bounds out-degree at O(√m), so total wedges
    are O(m^1.5) and no key is skewed by a hub node — the property that
    makes this survive a 1000-executor shuffle where the unoriented join
    dies on the hottest vertex.

    Determinism: pure integer set algebra — counts are engine-exact, no
    float anywhere. Ties in degree order break by node id, so the
    orientation (and the wedge/triangle sets, not just their counts) is
    reproducible across engines; the DuckDB twin
    (:func:`triangle_count_sql`) restates the same three joins.
    """
    a, b = F.col(src_col), F.col(dst_col)
    canon = (
        edges.filter(a != b)
        .select(F.least(a, b).alias("a"), F.greatest(a, b).alias("b"))
        .distinct()
    )
    deg = (
        canon.select(F.col("a").alias("node"))
        .unionByName(canon.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("deg"))
    )
    # canonical edges with both endpoint degrees, then degree-ordered
    # orientation src -> dst with (deg, id) rank
    da = deg.select(F.col("node").alias("a"), F.col("deg").alias("da"))
    db = deg.select(F.col("node").alias("b"), F.col("deg").alias("db"))
    wd = canon.join(da, "a").join(db, "b")
    a_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    oriented = wd.select(
        F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("src"),
        F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("dst"),
        F.when(a_first, F.col("db")).otherwise(F.col("da")).alias("ddeg"),
    ).localCheckpoint(eager=True)  # three consumers below — compute once
    o1 = oriented.select(
        F.col("src").alias("u"), F.col("dst").alias("v"), F.col("ddeg").alias("dv")
    )
    o2 = oriented.select(
        F.col("src").alias("u"), F.col("dst").alias("w"), F.col("ddeg").alias("dw")
    )
    v_first = (F.col("dv") < F.col("dw")) | (
        (F.col("dv") == F.col("dw")) & (F.col("v") < F.col("w"))
    )
    # SHUFFLE_HASH on both wedge-set joins: the static planner sees
    # unknown post-checkpoint sizes and picks SortMergeJoin; with
    # runtime sizes AQE flips both to ShuffledHashJoin whenever
    # preferSortMergeJoin=false (interleaved A/B, 6 alternated
    # rounds at the bench SF with the conf active only at ACTION time:
    # 4.3-4.9 s vs 5.6-6.3 s default — a ~20-25% win on every round).
    # The hint bakes that choice into the returned plan so it holds
    # under the caller's session conf. Build sides are per-partition
    # slices of the oriented EDGE list (never the m^1.5 wedge set), the
    # same per-task bound the operator already relies on.
    wedges = o1.join(o2.hint("shuffle_hash"), "u").filter(v_first).select(
        "v", "w"
    )
    closing = oriented.select(
        F.col("src").alias("v"), F.col("dst").alias("w")
    )
    # ONE pass over the O(m^1.5) wedge set: a left join against the
    # (unique — canon is distinct and orientation is 1:1) closing-edge
    # set flags each wedge, so n_wedges and n_triangles come from a
    # single count/sum aggregate instead of two separate wedge
    # materializations (two would compute the wedge join twice: once
    # for its count, once under the triangle join — guide §1.2
    # 'don't compute things you throw away'). n_nodes/n_edges likewise
    # derive from the already-checkpointed `oriented` (a permutation of
    # canon with both endpoints present) instead of re-running the
    # canonicalize/degree subplans.
    flagged = wedges.join(
        closing.withColumn("__closed", F.lit(1)).hint("shuffle_hash"),
        ["v", "w"],
        "left",
    )
    wedge_counts = flagged.agg(
        F.count("*").cast("bigint").alias("n_wedges"),
        # outer coalesce: sum over an EMPTY wedge set is NULL, the
        # contract (and the old count(*) formulation) says 0
        F.coalesce(
            F.sum(F.coalesce(F.col("__closed"), F.lit(0))), F.lit(0)
        )
        .cast("bigint")
        .alias("n_triangles"),
    )
    n_nodes = (
        oriented.select(F.col("src").alias("node"))
        .unionByName(oriented.select(F.col("dst").alias("node")))
        .distinct()
        .agg(F.count("*").cast("bigint").alias("n_nodes"))
    )
    n_edges = oriented.agg(F.count("*").cast("bigint").alias("n_edges"))
    return (
        n_nodes.crossJoin(n_edges)
        .crossJoin(wedge_counts)
        .select("n_nodes", "n_edges", "n_wedges", "n_triangles")
    )


def triangle_count_sql(edges_sql: str) -> str:
    """DuckDB twin of :func:`triangle_count` — identical canonicalize /
    degree / orient / wedge / close steps; counts CAST to BIGINT."""
    return f"""
WITH raw AS (SELECT * FROM ({edges_sql})),
canon AS MATERIALIZED (
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
  FROM raw WHERE src <> dst),
deg AS MATERIALIZED (
  SELECT node, count(*) AS deg FROM (
    SELECT a AS node FROM canon UNION ALL SELECT b FROM canon)
  GROUP BY node),
oriented AS MATERIALIZED (
  SELECT CASE WHEN (da.deg < db.deg) OR (da.deg = db.deg AND a < b)
              THEN a ELSE b END AS src,
         CASE WHEN (da.deg < db.deg) OR (da.deg = db.deg AND a < b)
              THEN b ELSE a END AS dst,
         CASE WHEN (da.deg < db.deg) OR (da.deg = db.deg AND a < b)
              THEN db.deg ELSE da.deg END AS ddeg
  FROM canon
  JOIN deg da ON da.node = a
  JOIN deg db ON db.node = b),
wedges AS MATERIALIZED (
  SELECT o1.dst AS v, o2.dst AS w
  FROM oriented o1 JOIN oriented o2 ON o1.src = o2.src
  WHERE (o1.ddeg < o2.ddeg) OR (o1.ddeg = o2.ddeg AND o1.dst < o2.dst)),
tri AS (
  SELECT w.v, w.w FROM wedges w
  JOIN oriented o ON o.src = w.v AND o.dst = w.w)
SELECT (SELECT CAST(count(*) AS BIGINT) FROM deg) AS n_nodes,
       (SELECT CAST(count(*) AS BIGINT) FROM canon) AS n_edges,
       (SELECT CAST(count(*) AS BIGINT) FROM wedges) AS n_wedges,
       (SELECT CAST(count(*) AS BIGINT) FROM tri) AS n_triangles"""


# --------------------------------------------------------------------------
# multi-source BFS (shortest hop counts)
# --------------------------------------------------------------------------


def bfs_hops(
    edges: DataFrame,
    seeds: DataFrame,
    max_hops: int,
    src_col: str = "src",
    dst_col: str = "dst",
    seed_col: str = "node",
    assume_distinct: bool = False,
) -> DataFrame:
    """Multi-source BFS over a DIRECTED edge list (pass both directions
    for an undirected graph): returns ``(node, hop)`` — the MINIMUM hop
    count (0 for seeds) for every node reachable within ``max_hops``.

    Beyond-reference tier (no graph surface in gudwls215/vectordb-etl).
    The Spark shape is the textbook frontier expansion: each round is ONE
    src-keyed join (frontier × edges) plus ONE anti join against the
    visited set — two shuffles per hop, and the frontier is the only
    growing input, so a 1000-executor run is bounded by the largest
    frontier, never by re-scanning the graph (edges are distinct-ed and
    lineage-truncated once up front, same rationale as :func:`pagerank`:
    without truncation Catalyst re-evaluates shared subplans under every
    round's joins). Hop-minimality is by construction (a node enters
    visited the first round it is reached), so the result is exact
    integer set algebra — engine-portable, and the DuckDB twin
    (:func:`bfs_hops_sql`) unrolls the identical rounds as chained CTEs.
    """
    if max_hops < 0:
        raise ValueError(f"max_hops must be >= 0; got {max_hops}")
    e = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
    )
    if not assume_distinct:
        # assume_distinct=True: caller proves the list is duplicate-free
        # and self-loop-free, so this filter+distinct would be an
        # identity — skipping it saves the distinct's hash-aggregation
        # (guide §2.4). The REBALANCE stays either way: every hop
        # re-scans this checkpoint, and without a compacting shuffle it
        # inherits the preamble's raw layout (measured on the LPA twin:
        # ~2.4x task count from 20 near-empty partitions).
        e = e.filter(F.col("src") != F.col("dst")).distinct()
    else:
        e = e.hint("rebalance")
    e = e.localCheckpoint(eager=True)
    visited = (
        seeds.select(F.col(seed_col).alias("node"))
        .distinct()
        .withColumn("hop", F.lit(0).cast("int"))
        .localCheckpoint(eager=True)
    )
    frontier = visited.select("node")
    for h in range(1, max_hops + 1):
        reached = (
            frontier.join(e, frontier["node"] == e["src"])
            .select(F.col("dst").alias("node"))
            .distinct()
        )
        fresh = reached.join(
            visited.select("node"), "node", "left_anti"
        ).withColumn("hop", F.lit(h).cast("int"))
        visited = visited.unionByName(fresh).localCheckpoint(eager=True)
        frontier = visited.filter(F.col("hop") == h).select("node")
    return visited


def bfs_hops_sql(edges_sql: str, seeds_sql: str, max_hops: int) -> str:
    """DuckDB twin of :func:`bfs_hops`: the frontier rounds unrolled as
    chained CTEs v0..vN (aggregation/anti-join per round make a single
    recursive CTE term illegal in standard SQL — same unrolling
    technique as :func:`pagerank_sql`). ``edges_sql`` must expose
    ``src, dst``; ``seeds_sql`` must expose ``node``."""
    if max_hops < 0:
        raise ValueError(f"max_hops must be >= 0; got {max_hops}")
    parts = [
        f"""
WITH e AS MATERIALIZED (
  SELECT DISTINCT src, dst FROM ({edges_sql}) WHERE src <> dst),
v0 AS (SELECT DISTINCT node, CAST(0 AS INTEGER) AS hop
       FROM ({seeds_sql}))"""
    ]
    for h in range(1, max_hops + 1):
        parts.append(f""",
v{h} AS (
  SELECT * FROM v{h - 1}
  UNION ALL
  SELECT node, CAST({h} AS INTEGER) AS hop FROM (
    SELECT DISTINCT e.dst AS node
    FROM v{h - 1} f JOIN e ON e.src = f.node
    WHERE f.hop = {h - 1}) r
  WHERE node NOT IN (SELECT node FROM v{h - 1})
)""")
    parts.append(f"\nSELECT node, hop FROM v{max_hops}")
    return "".join(parts)


# --------------------------------------------------------------------------
# k-core decomposition (fixed-round peeling)
# --------------------------------------------------------------------------


def kcore(
    edges: DataFrame,
    k: int,
    rounds: int | None,
    src_col: str = "src",
    dst_col: str = "dst",
    max_rounds: int = 30,
) -> DataFrame:
    """Fixed-round k-core peeling over an UNDIRECTED edge list
    (duplicates/reversals/self-loops canonicalized away): repeatedly
    drop nodes with degree < ``k`` and recompute degrees over the
    surviving subgraph. Returns ``(node, deg)`` for survivors after
    ``rounds`` peels, ``deg`` being the degree INSIDE the surviving
    subgraph.

    ``rounds`` is fixed up front — the same determinism contract as
    :func:`pagerank`: peeling monotonically shrinks the node set, so
    once a round removes nothing every later round is a no-op, and any
    ``rounds`` >= the peel depth yields the true k-core. (Peel depth is
    tiny in practice — it is the number of "onion layers" between the
    raw graph and the core, typically < 10 even on web graphs.) A fixed
    count keeps the whole computation one declarative plan and lets the
    DuckDB twin (:func:`kcore_sql`) unroll the identical rounds.

    ``rounds=None`` = RUN-TO-CONVERGENCE (what a user asking for "the
    k-core" means): peel until a round removes nothing, bounded by
    ``max_rounds``. Each round's edge table is already materialized by
    the lineage truncation, so the convergence probe is a near-free
    ``count()`` on cached blocks (edges shrink monotonically, and a
    peel removes a node only by removing its edges, so unchanged edge
    count <=> fixpoint). Because extra peels past the fixpoint are
    no-ops, a fixed-round oracle with ``rounds >= the reached depth``
    — and, when the guard trips, ``rounds == max_rounds`` — produces
    the identical survivor table, which is how the converged query is
    oracled without recursive-CTE aggregation (illegal in DuckDB).

    Per round: one degree aggregation + two semi joins (edge endpoints
    vs survivors) — three shuffles, none keyed by anything skewable
    beyond true hub degree, which is exactly what peeling removes.
    Lineage is truncated per round (see :func:`pagerank`)."""
    if k < 1:
        raise ValueError(f"k must be >= 1; got {k}")
    if rounds is not None and rounds < 1:
        raise ValueError(f"rounds must be >= 1; got {rounds}")
    if rounds is None and max_rounds < 1:
        raise ValueError(f"max_rounds must be >= 1; got {max_rounds}")
    a, b = F.col(src_col), F.col(dst_col)
    e = (
        edges.filter(a != b)
        .select(F.least(a, b).alias("a"), F.greatest(a, b).alias("b"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n_edges = e.count() if rounds is None else -1
    for _i in range(max_rounds if rounds is None else rounds):
        deg = (
            e.select(F.col("a").alias("node"))
            .unionByName(e.select(F.col("b").alias("node")))
            .groupBy("node")
            .agg(F.count("*").alias("deg"))
        )
        keep = deg.filter(F.col("deg") >= k).select("node")
        e = (
            e.join(keep.select(F.col("node").alias("a")), "a", "left_semi")
            .join(keep.select(F.col("node").alias("b")), "b", "left_semi")
            .localCheckpoint(eager=True)
        )
        if rounds is None:
            now = e.count()
            if now == n_edges:
                _converged("kcore", _i + 1)
                break
            n_edges = now
    else:
        if rounds is None:
            _cap_tripped(
                "kcore",
                max_rounds,
                f"edge count still shrinking ({n_edges} edges at the cap)",
            )
    return (
        e.select(F.col("a").alias("node"))
        .unionByName(e.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count("*").cast("bigint").alias("deg"))
        .filter(F.col("deg") >= k)
    )


def kcore_sql(edges_sql: str, k: int, rounds: int) -> str:
    """DuckDB twin of :func:`kcore`: the peel rounds unrolled as chained
    CTEs e0..eN (degree recomputation per round needs aggregation —
    illegal in one recursive term). Final degrees CAST to BIGINT."""
    if k < 1:
        raise ValueError(f"k must be >= 1; got {k}")
    if rounds < 1:
        raise ValueError(f"rounds must be >= 1; got {rounds}")
    parts = [
        f"""
WITH e0 AS MATERIALIZED (
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
  FROM ({edges_sql}) WHERE src <> dst)"""
    ]
    for i in range(rounds):
        parts.append(f""",
keep{i} AS MATERIALIZED (
  SELECT node FROM (
    SELECT node, count(*) AS deg FROM (
      SELECT a AS node FROM e{i} UNION ALL SELECT b FROM e{i})
    GROUP BY node) d
  WHERE deg >= {k}),
e{i + 1} AS MATERIALIZED (
  SELECT a, b FROM e{i}
  WHERE a IN (SELECT node FROM keep{i})
    AND b IN (SELECT node FROM keep{i}))""")
    parts.append(f"""
SELECT node, CAST(count(*) AS BIGINT) AS deg FROM (
  SELECT a AS node FROM e{rounds} UNION ALL SELECT b FROM e{rounds})
GROUP BY node HAVING count(*) >= {k}""")
    return "".join(parts)


# --------------------------------------------------------------------------
# label propagation communities (synchronous, deterministic)
# --------------------------------------------------------------------------


def label_propagation(
    edges: DataFrame,
    rounds: int | None,
    src_col: str = "src",
    dst_col: str = "dst",
    max_rounds: int = 20,
    assume_mirrored: bool = False,
) -> DataFrame:
    """Community detection by SYNCHRONOUS label propagation over an
    UNDIRECTED edge list (canonicalized, then mirrored internally):
    every node starts labeled with its own id; each round it adopts the
    most frequent label among its neighbors, ties broken by SMALLEST
    label — a total order, which is what makes this deterministic where
    textbook async LPA is run-order-dependent. Fixed ``rounds`` (same
    contract as :func:`pagerank`); returns ``(node, label)``.

    Unlike connected components (which this degenerates to on disjoint
    cliques), majority adoption can split a connected graph into dense
    cores — the community structure. Per round: one frontier join
    (labels × mirrored edges), one (node, label) count, one
    argmax-by-(count desc, label asc) window over per-node label
    multisets — three shuffles, keys bounded by node degree. Lineage
    truncated per round.

    ``rounds=None`` = RUN-TO-CONVERGENCE bounded by ``max_rounds``:
    stop when a round changes no label. Synchronous LPA is STABLE at a
    fixpoint (identical labels -> identical votes -> identical argmax),
    so extra rounds past convergence are no-ops and a fixed-round
    oracle with rounds >= the reached depth — or == ``max_rounds``
    when the guard trips (sync LPA can 2-cycle on bipartite structure;
    the cap makes that case deterministic too) — returns the identical
    labeling. The probe is an exceptAll multiset-equality check per
    round over the checkpointed label tables
    (:func:`_probe_says_equal`).

    ``assume_mirrored=True`` skips the canonicalize/mirror preamble when
    the caller proves the input is already a DISTINCT, self-loop-free
    edge list with BOTH directions present (e.g. a canonical pair table
    unioned with its own swap) — the least/greatest+distinct+union would
    reproduce the input exactly, so skipping it saves the distinct's
    hash-aggregation (guide §2.4). The table is still REBALANCE-shuffled
    once before its checkpoint: every round re-scans it, and without a
    compacting shuffle it would inherit the preamble's raw near-empty
    partition layout.

    The per-round argmax is a row_number window over the vote counts
    (a min(struct(-count, label)) aggregate computes the identical
    winner with map-side partials, but struct min/max aggregation runs
    outside whole-stage codegen and measured ~4x the task-time — see the
    loop comment). Fixed-round runs chain rounds in one declarative plan
    (lineage truncated every 8th round — label tables are referenced
    once per round, so plan growth is linear); convergence mode still
    materializes every round for the probe."""
    if rounds is not None and rounds < 1:
        raise ValueError(f"rounds must be >= 1; got {rounds}")
    if rounds is None and max_rounds < 1:
        raise ValueError(f"max_rounds must be >= 1; got {max_rounds}")
    a, b = F.col(src_col), F.col(dst_col)
    if assume_mirrored:
        # REBALANCE before the checkpoint: skipping the canonicalize/
        # mirror preamble also skips the AQE-coalesced shuffle that used
        # to COMPACT the edge table, and every one of the loop's rounds
        # re-scans this checkpoint (the raw preamble layout measured 20
        # near-empty partitions → ~2.4x the loop's task count; paying the
        # distinct instead was ~25% faster overall).
        # A rebalance shuffle moves the same bytes the distinct did but
        # skips its hash-aggregation, and AQE sizes the output partitions
        # at any scale — no local-mode constants.
        e = (
            edges.select(
                F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
            )
            .hint("rebalance")
            .localCheckpoint(eager=True)
        )
    else:
        canon = (
            edges.filter(a != b)
            .select(F.least(a, b).alias("a"), F.greatest(a, b).alias("b"))
            .distinct()
        )
        e = (
            canon.select(F.col("a").alias("src"), F.col("b").alias("dst"))
            .unionByName(
                canon.select(F.col("b").alias("src"), F.col("a").alias("dst"))
            )
            .localCheckpoint(eager=True)
        )
    nodes = e.select(F.col("src").alias("node")).distinct().localCheckpoint(
        eager=True
    )
    labels = nodes.withColumn("label", F.col("node"))

    for _i in range(max_rounds if rounds is None else rounds):
        votes = (
            labels.join(e, labels["node"] == e["src"])
            .groupBy(F.col("dst").alias("n2"), "label")
            .agg(F.count("*").alias("c"))
        )
        # argmax by (c desc, label asc) as a row_number window. A
        # min(struct(-c, label)) aggregate gives the bit-identical winner
        # with map-side partials, but an event-log A/B measured that loop
        # at ~2.4x the tasks and ~4x the task-time of this window form
        # (struct min/max aggregation runs outside whole-stage codegen),
        # with identical exchange counts.
        w = Window.partitionBy("n2").orderBy(F.desc("c"), F.asc("label"))
        new_labels = (
            votes.withColumn("r", F.row_number().over(w))
            .filter(F.col("r") == 1)
            .select(F.col("n2").alias("node"), "label")
        )
        if rounds is None or (_i + 1) % 8 == 0:
            new_labels = new_labels.localCheckpoint(eager=True)
        if rounds is None and _probe_says_equal(
            new_labels, labels, ["node", "label"]
        ):
            _converged("label_propagation", _i + 1)
            return new_labels
        labels = new_labels
    if rounds is None:
        _cap_tripped(
            "label_propagation",
            max_rounds,
            "labels still changing (possible 2-cycle on bipartite parts)",
        )
    return labels


def label_propagation_sql(edges_sql: str, rounds: int) -> str:
    """DuckDB twin of :func:`label_propagation`: identical rounds
    unrolled as chained CTEs, identical (count desc, label asc) argmax
    via row_number."""
    if rounds < 1:
        raise ValueError(f"rounds must be >= 1; got {rounds}")
    parts = [
        f"""
WITH canon AS MATERIALIZED (
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
  FROM ({edges_sql}) WHERE src <> dst),
e AS MATERIALIZED (
  SELECT a AS src, b AS dst FROM canon
  UNION ALL SELECT b, a FROM canon),
l0 AS (SELECT DISTINCT src AS node, src AS label FROM e)"""
    ]
    for i in range(rounds):
        parts.append(f""",
v{i} AS MATERIALIZED (
  SELECT e.dst AS node, l.label, count(*) AS c
  FROM l{i} l JOIN e ON e.src = l.node
  GROUP BY e.dst, l.label),
l{i + 1} AS MATERIALIZED (
  SELECT node, label FROM (
    SELECT node, label,
           row_number() OVER (PARTITION BY node
                              ORDER BY c DESC, label ASC) AS r
    FROM v{i}) WHERE r = 1
)""")
    parts.append(f"\nSELECT node, label FROM l{rounds}")
    return "".join(parts)


# --------------------------------------------------------------------------
# personalized PageRank (random walk with restart)
# --------------------------------------------------------------------------


def personalized_pagerank(
    edges: DataFrame,
    seeds: DataFrame,
    damping_ppm: int = 850_000,
    iterations: int | None = 6,
    src_col: str = "src",
    dst_col: str = "dst",
    seed_col: str = "node",
    max_iterations: int = 40,
    assume_distinct: bool = False,
) -> DataFrame:
    """Random walk with RESTART — the recommendation twin of
    :func:`pagerank`: the teleport term returns mass only to the SEED
    set, so ranks measure affinity to the seeds rather than global
    centrality ("customers also bought" from a seed assortment). Same
    integer micro-unit contract: seeds start at 1e6 (others 0), each
    round every node keeps ``(1−d)`` of its seed allowance plus ``d``
    times the incoming share — all floor division, bit-identical on any
    engine/partitioning, so :func:`personalized_pagerank_sql` can
    hash-check it. Same two-shuffles-per-round shape and per-round
    lineage truncation as pagerank; seed mass normalizes per seed (each
    seed contributes 1e6, total mass ≤ |seeds|·1e6).

    ``iterations=None`` = RUN-TO-CONVERGENCE bounded by
    ``max_iterations`` — same exact-integer-fixpoint contract and
    oracle equivalence as :func:`pagerank`.

    ACTIVE-SET iteration: mass only ever lives on seeds and nodes
    the walk has reached, so each round joins/checkpoints ONLY the
    ``rank_micro > 0`` frame (zero-rank rows contribute zero to every
    incoming sum and receive zero teleport — dropping them is
    bit-identical). From 1%-seed queries this keeps per-round volume at
    the reached neighborhood instead of the whole node set — the same
    property that bounds the shuffle at 100 TB — and the all-nodes
    contract is restored by one final left join against the node
    frame."""
    if not 0 < damping_ppm < _ONE:
        raise ValueError(f"damping_ppm must be in (0, 1e6); got {damping_ppm}")
    if iterations is not None and iterations < 1:
        raise ValueError(f"iterations must be >= 1; got {iterations}")
    if iterations is None and max_iterations < 1:
        raise ValueError(f"max_iterations must be >= 1; got {max_iterations}")
    e = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
    )
    if not assume_distinct:
        e = e.distinct()
    deg = e.groupBy("src").agg(F.count("*").alias("deg"))
    ewd = (
        e.join(deg, "src").select("src", "dst", "deg")
        .localCheckpoint(eager=True)
    )
    sd = seeds.select(F.col(seed_col).alias("node")).distinct()
    nodes = (
        ewd.select(F.col("src").alias("node"))
        .unionByName(ewd.select(F.col("dst").alias("node")))
        .unionByName(sd)
        .distinct()
    )
    base = nodes.join(
        sd.withColumn("__s", F.lit(1)), "node", "left"
    ).select(
        "node",
        F.when(F.col("__s").isNotNull(), F.lit(_ONE))
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("seed_micro"),
    ).localCheckpoint(eager=True)
    teleport = _ONE - damping_ppm
    # active frame: one row per node with rank_micro > 0 (canonical form
    # — a node whose mass floors to zero is indistinguishable from one
    # never reached, and seeds always hold >= teleport mass)
    seeds_base = base.filter(F.col("seed_micro") > 0).select(
        "node", "seed_micro"
    )
    ranks = seeds_base.select(
        "node", F.col("seed_micro").alias("rank_micro"), "seed_micro"
    )

    def _restore_zeros(active: DataFrame) -> DataFrame:
        return base.join(
            active.select("node", "rank_micro"), "node", "left"
        ).select(
            "node",
            F.coalesce(F.col("rank_micro"), F.lit(0))
            .cast("bigint")
            .alias("rank_micro"),
        )

    for _i in range(max_iterations if iterations is None else iterations):
        incoming = (
            ranks.join(ewd, ranks["node"] == ewd["src"], "inner")
            .select(F.col("dst"), F.expr("rank_micro DIV deg").alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("s"))
        )
        # full outer on the groupBy key: incoming's exchange is reused,
        # only the tiny seed frame shuffles
        new_ranks = (
            seeds_base.join(
                incoming, seeds_base["node"] == incoming["dst"], "full_outer"
            )
            .select(
                F.coalesce(seeds_base["node"], incoming["dst"]).alias("node"),
                (
                    F.expr(
                        f"({teleport} * coalesce(seed_micro,"
                        f" CAST(0 AS BIGINT))) DIV {_ONE}"
                    )
                    + F.expr(
                        f"({damping_ppm} * coalesce(s, CAST(0 AS BIGINT)))"
                        f" DIV {_ONE}"
                    )
                ).cast("bigint").alias("rank_micro"),
                F.coalesce(F.col("seed_micro"), F.lit(0))
                .cast("bigint")
                .alias("seed_micro"),
            )
            .filter(F.col("rank_micro") > 0)
        )
        # convergence mode materializes every round anyway (count +
        # exceptAll); fixed-iteration runs keep the whole round chain in
        # ONE job — shuffle boundaries already stage it — and truncate
        # lineage only every 8th round so deep runs can't blow the plan
        if iterations is None or (_i + 1) % 8 == 0:
            new_ranks = new_ranks.localCheckpoint(eager=True)
        if iterations is None and _probe_says_equal(
            new_ranks, ranks, ["node", "rank_micro", "seed_micro"]
        ):
            _converged("personalized_pagerank", _i + 1)
            return _restore_zeros(new_ranks)
        ranks = new_ranks
    if iterations is None:
        _cap_tripped("personalized_pagerank", max_iterations)
    return _restore_zeros(ranks)


def personalized_pagerank_sql(
    edges_sql: str,
    seeds_sql: str,
    damping_ppm: int = 850_000,
    iterations: int = 6,
) -> str:
    """DuckDB twin of :func:`personalized_pagerank` — identical integer
    rounds unrolled as chained CTEs. ``seeds_sql`` must expose
    ``node``."""
    if not 0 < damping_ppm < _ONE:
        raise ValueError(f"damping_ppm must be in (0, 1e6); got {damping_ppm}")
    teleport = _ONE - damping_ppm
    parts = [
        f"""
WITH e AS MATERIALIZED (SELECT DISTINCT src, dst FROM ({edges_sql})),
deg AS MATERIALIZED (SELECT src, count(*) AS deg FROM e GROUP BY src),
sd AS MATERIALIZED (SELECT DISTINCT node FROM ({seeds_sql})),
nodes AS MATERIALIZED (
  SELECT src AS node FROM e UNION SELECT dst FROM e
  UNION SELECT node FROM sd),
base AS MATERIALIZED (
  SELECT n.node,
         CAST(CASE WHEN s.node IS NULL THEN 0 ELSE {_ONE} END AS BIGINT)
           AS seed_micro
  FROM nodes n LEFT JOIN sd s ON s.node = n.node),
r0 AS (SELECT node, seed_micro AS rank_micro, seed_micro FROM base)"""
    ]
    for i in range(iterations):
        parts.append(f""",
inc_{i} AS MATERIALIZED (
  SELECT e.dst AS node,
         CAST(sum(r.rank_micro // d.deg) AS BIGINT) AS s
  FROM r{i} r JOIN deg d ON d.src = r.node JOIN e ON e.src = r.node
  GROUP BY e.dst
),
r{i + 1} AS MATERIALIZED (
  SELECT b.node,
         CAST(({teleport} * b.seed_micro) // {_ONE}
              + ({damping_ppm} * coalesce(i.s, 0)) // {_ONE}
              AS BIGINT) AS rank_micro,
         b.seed_micro
  FROM base b LEFT JOIN inc_{i} i ON i.node = b.node
)""")
    parts.append(f"\nSELECT node, rank_micro FROM r{iterations}")
    return "".join(parts)

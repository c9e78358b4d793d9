"""Graph ANN — per-shard hierarchical navigable-small-world index (X2).

The reference's non-default index is Milvus HNSW with M=16,
efConstruction=200, ef_search=100 (modules/milvus_store.py:115-124, params
modules/config.py:26-27). Spark has no native graph-ANN, so the idiomatic
mapping is the standard SHARDED graph index:

- **build**: rows are hashed into shards (``num_shards`` ≈ executor
  parallelism); one ``applyInPandas`` group per shard builds an in-memory
  HNSW graph — greedy insert with md5-deterministic geometric level
  assignment; each node links to its M nearest among already-inserted
  nodes at every level it occupies, links are bidirectional — and emits
  the adjacency as plain array columns (level 0 in ``neighbors``, upper
  levels in ``upper``). The index IS a parquet table partitioned by
  ``shard`` — same "index as data layout" stance as IVFIndex.
- **search**: every shard greedily descends the upper levels from the
  shard's entry point (ef=1 per level), then runs best-first beam search
  (result heap of ``ef``, expand the closest unexpanded candidate's
  neighbors, stop when the closest candidate is worse than the worst of a
  full heap) over the level-0 graph — one ``applyInPandas`` over the
  index table, no shuffle of vectors — and emits its local top-k; a
  global ``orderBy().limit(k)`` (TakeOrderedAndProject over shards×k tiny
  rows) merges. The descent replaces the flat variant's blind start at
  position 0 and cuts level-0 distance evals at the design point
  (asserted with an eval counter in tests/test_ann.py).

Scale shape: sharded HNSW searches ALL shards (no cross-shard routing —
exactly how Milvus distributes HNSW across segments); the win over brute
force is WITHIN each shard: beam search evaluates ~ef·M vectors instead of
n/num_shards. Build is one shuffle (hash into shards) + embarrassingly
parallel in-memory graph construction; shard size is bounded by
num_shards, which the caller scales with the data (n/num_shards must fit
one task's memory — the same contract any HNSW segment has).

Exactness edge for the oracle: the insert rule links every new node into
the existing component, so the graph is CONNECTED; with ``ef >= shard
size`` the termination test can never prune (the result heap only fills
when every node has been visited), so beam search degenerates to an exact
scan of the shard and the merged result equals brute-force top-k. The
driver's ``graph_topk`` query runs that edge; recall at the design point
(ef=100) is covered by tests/test_ann.py.
"""

from __future__ import annotations

import hashlib
import heapq
import math
from functools import reduce

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, IntegerType, StructField, StructType

from vectordb_etl_spark.functions.sqltext import (
    apply_in_pandas,
    read_parquet,
    select_names,
    select_sql,
    sort_limit,
    sql_name,
)
from vectordb_etl_spark.session import partitioned_read_schema, union_schema
from vectordb_etl_spark.store.collections import vector_write_options


def _normalize_rows(mat: np.ndarray) -> np.ndarray:
    norms = np.linalg.norm(mat, axis=1, keepdims=True)
    return mat / np.maximum(norms, 1e-12)


def extend_nsw(
    mat: np.ndarray,
    adj: list[list[int]],
    start: int,
    m: int = 16,
    ef_construction: int = 200,
) -> list[list[int]]:
    """Continue greedy NSW insertion from node ``start`` over an existing
    adjacency (``build_nsw`` is the ``start=1``/empty-adjacency case —
    NSW insertion is inherently incremental, which is what makes graph
    segments extendable)."""
    n = mat.shape[0]
    for i in range(start, n):
        if i <= m:
            nearest = list(range(i))
        else:
            cand = beam_search(mat, adj, mat[i], ef=max(ef_construction, m), n_nodes=i)
            nearest = [node for _, node in cand[:m]]
        for j in nearest:
            adj[i].append(j)
            adj[j].append(i)
    return adj


def build_nsw(mat: np.ndarray, m: int = 16, ef_construction: int = 200) -> list[list[int]]:
    """Greedy NSW construction over unit vectors (cosine ≡ dot): insert
    nodes one by one, linking each to its ``m`` nearest among the already-
    inserted set found via beam search (ef_construction beam), links made
    bidirectional. Pure numpy — runs inside one Spark task per shard."""
    n = mat.shape[0]
    return extend_nsw(mat, [[] for _ in range(n)], 1, m, ef_construction)


def beam_search(
    mat: np.ndarray,
    adj: list[list[int]],
    query: np.ndarray,
    ef: int,
    n_nodes: int | None = None,
    entry: int = 0,
    stats: dict | None = None,
    entry_score: float | None = None,
    allowed: np.ndarray | None = None,
) -> list[tuple[float, int]]:
    """Best-first search: returns up to ``ef`` (score, node) pairs sorted by
    descending dot score. Visits only reachable nodes; with ``ef >= n`` it
    visits the entire connected component (exactness edge). ``stats``
    (optional dict) accumulates ``evals`` — one per dot product — so tests
    can assert the hierarchical descent really does less work.
    ``entry_score`` lets a caller that already scored the entry node (the
    hierarchical descent's landing node) hand the value over instead of
    paying — and counting — a duplicate eval.

    ``allowed`` (optional bool mask over node positions) enables
    DURING-TRAVERSAL filtering — the hnswlib IDSelector / ACORN-1 stance
    (Patel et al. 2024, "ACORN: Performant and Predicate-Agnostic Search
    Over Vector Embeddings and Structured Data" — public): every visited
    node stays NAVIGABLE (it can enter the candidate heap and route the
    beam through filtered-out regions, so the graph never disconnects),
    but only ``allowed`` nodes enter the result heap. The beam keeps
    expanding until ``ef`` MATCHING nodes bound the frontier, so ``ef``
    no longer has to scale with 1/selectivity the way the post-filter
    strategy's beam does. With ``allowed=None`` the behavior (including
    eval counts) is exactly the unfiltered search. At ``ef >= n`` the
    whole component is visited, so the result is the exact filtered
    ranking — the oracle edge."""
    n = n_nodes if n_nodes is not None else mat.shape[0]
    if n == 0:
        return []
    if stats is not None:
        stats.setdefault("evals", 0)
    start = min(entry, n - 1)
    if entry_score is not None and start == entry:
        s0 = entry_score
    else:
        # entry was clamped (caller passed an out-of-range node): the
        # caller's score belongs to a node we are NOT starting from, so
        # recompute rather than attribute it to the clamped start
        s0 = float(mat[start] @ query)
        if stats is not None:
            stats["evals"] += 1
    visited = {start}
    # candidates: max-heap by score (python heapq is min-heap → negate)
    candidates = [(-s0, start)]
    # results: min-heap of (score, node), size-capped at ef; holds only
    # allowed nodes — with no mask, every node is allowed
    results = (
        [(s0, start)] if allowed is None or bool(allowed[start]) else []
    )
    while candidates:
        neg_s, node = heapq.heappop(candidates)
        if len(results) >= ef and -neg_s < results[0][0]:
            break  # closest candidate can't improve a full result heap
        for nb in adj[node]:
            if nb >= n or nb in visited:
                continue
            visited.add(nb)
            s = float(mat[nb] @ query)
            if stats is not None:
                stats["evals"] += 1
            if len(results) >= ef and s <= results[0][0]:
                continue  # can't improve; don't navigate through it
            heapq.heappush(candidates, (-s, nb))
            if allowed is not None and not bool(allowed[nb]):
                continue  # navigable but filtered out: never a result
            if len(results) < ef:
                heapq.heappush(results, (s, nb))
            else:
                heapq.heapreplace(results, (s, nb))
    # score desc, node ASC on ties (nodes are id-ordered positions, so this
    # matches the oracle's `ORDER BY score DESC, vec_id ASC` tie rule)
    return sorted(results, key=lambda t: (-t[0], t[1]))


# --------------------------------------------------------------------------
# hierarchical layer (HNSW; Malkov & Yashunin 2016) over the NSW base
# --------------------------------------------------------------------------
#
# The reference contract is Milvus HNSW (milvus_store.py:115-124). The flat
# NSW above matches it at the exact edge but pays ~ef·M distance evals from
# a random entry; the standard fix is the hierarchy: node i also lives on
# levels 1..l_i where P(l_i >= l) = (1/M)^l, upper levels form sparser NSW
# graphs, and a query greedily descends coarse-to-fine so the level-0 beam
# starts next to the answer instead of at position 0. Level assignment is
# DETERMINISTIC here — the uniform draw comes from md5 of the global vector
# id, not an RNG — so rebuilds, `add` segments, and both engines of a test
# see the same structure (same rebuild-reproducibility stance as IVF's
# seeded k-means).

_HNSW_MAX_LEVEL = 8


def hnsw_levels(ids: np.ndarray, m: int = 16) -> np.ndarray:
    """Per-node top level: floor(-ln(u) / ln(m)), u in (0, 1] derived
    from md5 of the id — the textbook geometric distribution, capped at
    ``_HNSW_MAX_LEVEL`` (P(cap) < m^-8, irrelevant below ~4B rows)."""
    if m < 2:
        raise ValueError(f"m must be >= 2 for the level distribution; got {m}")
    inv_ln_m = 1.0 / math.log(m)
    out = np.zeros(len(ids), dtype=np.int32)
    for idx, vid in enumerate(ids):
        # integral ids hash via int() so numpy int64 and Python int agree
        # bit-for-bit with the committed oracles; STRING ids (the
        # store's md5 chunk_id) hash as-is — for an
        # all-digits string the two forms coincide, so the mapping stays
        # unambiguous per column type
        try:
            key = str(int(vid))
        except (TypeError, ValueError):
            key = str(vid)
        h = int.from_bytes(
            hashlib.md5(f"hnswlvl|{key}".encode()).digest()[:8], "big"
        )
        u = ((h >> 11) + 1) / float(1 << 53)  # uniform in (0, 1]
        out[idx] = min(int(-math.log(u) * inv_ln_m), _HNSW_MAX_LEVEL)
    return out


def _greedy_descend(
    mat: np.ndarray,
    adj: list[list[int]],
    query: np.ndarray,
    entry: int,
    n_nodes: int,
    stats: dict | None = None,
    cache: dict[int, float] | None = None,
) -> int:
    """ef=1 greedy walk at one level: hop to the best-scoring neighbor
    until no neighbor improves. Returns the local optimum node.

    ``cache`` memoizes node→score for the whole descent: without it every
    improving hop re-scores all neighbors of the new current node, so
    shared neighbors — and, across levels, the landing node
    itself — are dotted repeatedly, inflating the very eval count the
    hierarchy exists to reduce. With the cache each unique node costs
    (and counts) exactly one dot product per query."""
    if cache is None:
        cache = {}

    def _score(node: int) -> float:
        s = cache.get(node)
        if s is None:
            s = float(mat[node] @ query)
            cache[node] = s
            if stats is not None:
                stats["evals"] = stats.get("evals", 0) + 1
        return s

    cur = entry
    cur_s = _score(cur)
    improved = True
    while improved:
        improved = False
        for nb in adj[cur]:
            if nb >= n_nodes:
                continue
            s = _score(nb)
            if s > cur_s or (s == cur_s and nb < cur):
                cur, cur_s = nb, s
                improved = True
    return cur


def build_hnsw(
    mat: np.ndarray,
    levels: np.ndarray,
    m: int = 16,
    ef_construction: int = 200,
) -> tuple[list[list[list[int]]], int]:
    """Greedy HNSW construction over unit vectors: insert nodes in
    position order; each insert descends from the current entry point
    through levels above its own (ef=1), then beam-searches each of its
    levels with ``ef_construction`` and links bidirectionally to its
    ``m`` nearest. Level-0 links are always made, so level 0 is CONNECTED
    — the flat-NSW exactness edge (ef >= n visits everything) survives
    the hierarchy untouched. Returns ``(adjs, entry)`` where ``adjs[l]``
    is the adjacency at level ``l`` and ``entry`` the top node."""
    n = mat.shape[0]
    if n == 0:
        return [[]], 0
    max_lev = int(levels.max())
    adjs: list[list[list[int]]] = [
        [[] for _ in range(n)] for _ in range(max_lev + 1)
    ]
    entry = 0
    for i in range(1, n):
        li = int(levels[i])
        el = int(levels[entry])
        cur = entry
        cache: dict[int, float] = {}
        for lev in range(el, li, -1):
            cur = _greedy_descend(mat, adjs[lev], mat[i], cur, i, cache=cache)
        cur_s = cache.get(cur)
        for lev in range(min(li, el), -1, -1):
            cand = beam_search(
                mat,
                adjs[lev],
                mat[i],
                ef=max(ef_construction, m),
                n_nodes=i,
                entry=cur,
                entry_score=cur_s,
            )
            for j in (node for _, node in cand[:m]):
                adjs[lev][i].append(j)
                adjs[lev][j].append(i)
            if cand:
                cur, cur_s = cand[0][1], cand[0][0]
        if li > el:
            entry = i
    return adjs, entry


def hnsw_search(
    mat: np.ndarray,
    adjs: list[list[list[int]]],
    entry: int,
    query: np.ndarray,
    ef: int,
    stats: dict | None = None,
    allowed: np.ndarray | None = None,
) -> list[tuple[float, int]]:
    """Coarse-to-fine query: greedy ef=1 descent through the upper
    levels, then the usual ef-beam at level 0 starting from the descent's
    landing node. Same return contract (and tie rule) as
    :func:`beam_search`; with ef >= n it is exact regardless of entry.

    ``allowed`` filters DURING the level-0 beam (see :func:`beam_search`);
    the upper-level descent is pure navigation and stays unfiltered —
    filtered-out nodes still route the query toward its neighborhood."""
    n = mat.shape[0]
    if n == 0:
        return []
    cur = min(entry, n - 1)
    # one score cache across every level of the descent; the landing
    # node's cached score seeds the level-0 beam so no node is dotted
    # twice on the way down
    cache: dict[int, float] = {}
    for lev in range(len(adjs) - 1, 0, -1):
        cur = _greedy_descend(mat, adjs[lev], query, cur, n, stats, cache)
    return beam_search(
        mat, adjs[0], query, ef, entry=cur, stats=stats,
        entry_score=cache.get(cur), allowed=allowed,
    )


def _hnsw_entry_pos(levels: np.ndarray) -> int:
    """The search entry point implied by a stored shard: highest level,
    smallest position on ties — derivable, so it is never stored."""
    top = int(levels.max())
    return int(np.nonzero(levels == top)[0][0])


def _pack_upper(adjs: list[list[list[int]]], i: int, level: int) -> list:
    return [
        np.asarray(adjs[lev][i], dtype=np.int32)
        for lev in range(1, level + 1)
    ]


def _unpack_adjs(
    levels: np.ndarray, adj0: list, upper: list
) -> list[list[list[int]]]:
    n = len(levels)
    max_lev = int(levels.max()) if n else 0
    adjs: list[list[list[int]]] = [[list(a) for a in adj0]] + [
        [[] for _ in range(n)] for _ in range(max_lev)
    ]
    for i in range(n):
        for off, lst in enumerate(upper[i]):
            adjs[off + 1][i] = list(lst)
    return adjs


_INDEX_META_COLS = ("shard", "id", "pos", "embedding", "node_level",
                    "neighbors", "upper")


def _orderable_tiebreak(idx_schema, out_cols: list[str]) -> list[str]:
    """Tie-break columns (ascending) for the global merge sort: every
    output column EXCEPT non-orderable types (map columns — e.g. the
    store's dynamic `meta` field riding passthrough). Dropping them is safe: the
    orderable remainder (id first by convention) already makes the order
    deterministic, while sorting on a MapType is an AnalysisException."""
    from pyspark.sql.types import MapType

    return [
        c
        for c in out_cols
        if c not in idx_schema.fieldNames()
        or not isinstance(idx_schema[c].dataType, MapType)
    ]


def _require_hnsw_format(df: DataFrame, path: str) -> None:
    """Refuse to operate on a pre-hierarchy (flat-NSW) index layout —
    the alternative is a mixed-schema parquet table that fails, or
    silently nulls columns, deep inside an executor."""
    missing = [c for c in ("node_level", "upper") if c not in df.columns]
    if missing:
        raise ValueError(
            f"graph index at {path} lacks {missing} — it was built with "
            "the pre-hierarchy flat-NSW layout; rebuild with build() "
            "(or compact()) before searching or appending segments"
        )


def _index_schema(tagged: DataFrame, passthrough: list[str]) -> str:
    pass_fields = ", ".join(
        f"`{c}` {tagged.schema[c].dataType.simpleString()}" for c in passthrough
    )
    # id keeps the caller's type: vec_id-style bigints stay `long`
    # (bit-identical to the committed layouts), the store's md5 chunk_id
    # is a string (the facade's graph tier indexes chunk_id by default)
    id_t = tagged.schema["id"].dataType.simpleString()
    return (
        f"shard int, id {id_t}, "
        + (pass_fields + ", " if pass_fields else "")
        + "pos int, embedding array<double>, node_level int, "
        "neighbors array<int>, upper array<array<int>>"
    )


def _make_shard_builder(
    passthrough: list[str],
    m: int,
    ef_construction: int,
    max_level: int | None = None,
):
    """The per-shard applyInPandas body shared by build() and add():
    id-sorted positions, deterministic md5-derived levels, one in-memory
    HNSW construction, adjacency emitted as plain array columns.
    ``max_level`` clips the level assignment (``0`` = flat NSW — every
    node lives only on level 0, no descent; the persisted layout is
    unchanged, just with empty ``upper`` arrays)."""

    def _build(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("id").reset_index(drop=True)
        mat = _normalize_rows(np.stack(pdf["embedding"].to_numpy()))
        levels = hnsw_levels(pdf["id"].to_numpy(), m=m)
        if max_level is not None:
            levels = np.minimum(levels, np.int32(max_level))
        adjs, _entry = build_hnsw(
            mat, levels, m=m, ef_construction=ef_construction
        )
        n = len(pdf)
        out = {
            "shard": pdf["shard"],
            "id": pdf["id"],
            **{c: pdf[c] for c in passthrough},
            "pos": np.arange(n, dtype=np.int32),
            "embedding": list(mat),
            "node_level": levels,
            "neighbors": [np.asarray(adjs[0][i], dtype=np.int32) for i in range(n)],
            "upper": [_pack_upper(adjs, i, int(levels[i])) for i in range(n)],
        }
        return pd.DataFrame(out)

    return _build


def _unit_query(query: list[float]) -> np.ndarray:
    """One query as a 1-row matrix of its unit vector."""
    q = np.asarray(query, dtype=np.float64)
    return (q / max(float(np.linalg.norm(q)), 1e-12))[None, :]


def _beam_hits(
    idx: DataFrame,
    qmat: np.ndarray,
    k: int,
    ef: int,
    out_cols: list[str],
    score_name: str,
    round_dp: int,
    predicate,
    filter_mode: str,
    emit_all: bool = False,
    lead_cols: list[str] | None = None,
    keys: tuple[str, ...] = ("shard",),
    qid_offset: int | None = None,
    computed: dict[str, str] | None = None,
) -> tuple[DataFrame, list]:
    """Every shard's beam hits for each row of ``qmat`` over the layout
    ``idx``, through the one applyInPandas body all graph searches share
    (one group per ``keys`` value). A shard loads its graph once for all
    queries and emits ``lead_cols``, ``out_cols`` and the score of its
    top-k hits — its full ef-beam under a post-filter or with
    ``emit_all`` — gathered with one positional ``take`` per query; the
    post-filter then prunes them. ``computed`` maps a column the layout
    does not hold to the SQL that derives it. Returns the hits and the
    orderable ``out_cols`` tie-break for the caller's merge."""
    if filter_mode not in ("post", "traversal"):
        raise ValueError(
            f"filter_mode must be 'post' or 'traversal'; got {filter_mode!r}"
        )
    during = predicate is not None and filter_mode == "traversal"
    post = predicate is not None and not during
    if during:
        # JVM-evaluated predicate lands in each shard's pandas frame as
        # one bool per node — the UDF never re-implements it
        idx = idx.withColumn("__allowed", predicate.cast("boolean"))
    lead = lead_cols or []
    emit_cols = list(dict.fromkeys([*lead, *out_cols]))
    schema = idx.schema
    # a StructType, not a DDL string the JVM would have to parse
    out_schema = StructType(
        ([StructField("query_id", IntegerType())] if qid_offset is not None else [])
        + [StructField(c, schema[c].dataType) for c in emit_cols]
        + [StructField(score_name, DoubleType())]
    )
    emit = None if emit_all else (max(ef, k) if post else k)

    def _search(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("pos").reset_index(drop=True)
        mat = np.stack(pdf["embedding"].to_numpy())
        levels = pdf["node_level"].to_numpy()
        adjs = _unpack_adjs(levels, pdf["neighbors"], pdf["upper"])
        entry = _hnsw_entry_pos(levels)
        mask = (
            pdf["__allowed"].fillna(False).to_numpy(dtype=bool)
            if during else None
        )
        cols = pdf[emit_cols]
        frames = []
        for qi, q in enumerate(qmat):
            hits = hnsw_search(
                mat, adjs, entry, q, ef=max(ef, k), allowed=mask
            )[:emit]
            out = cols.take([node for _, node in hits]).reset_index(drop=True)
            out[score_name] = [round(s, round_dp) for s, _ in hits]
            if qid_offset is not None:
                out.insert(0, "query_id", qid_offset + qi)
            frames.append(out)
        return frames[0] if len(frames) == 1 else pd.concat(frames, ignore_index=True)

    read = dict.fromkeys([
        *keys, *emit_cols, "pos", "embedding", "node_level", "neighbors",
        "upper", *(["__allowed"] if during else []),
    ])
    computed = computed or {}
    cols = select_sql(idx, [
        f"{computed[c]} AS {sql_name(c)}" if c in computed else sql_name(c)
        for c in read
    ])
    local = apply_in_pandas(cols, list(read), list(keys), _search, out_schema)
    if post:
        local = local.filter(predicate)
    return local, _orderable_tiebreak(schema, out_cols)


class GraphANNIndex:
    """Sharded HIERARCHICAL NSW (HNSW) index as partitioned parquet:
    ``<path>/shard=<i>/...`` rows ``(id, <passthrough...>, pos, embedding,
    node_level, neighbors array<int>, upper array<array<int>>)`` —
    ``neighbors`` is the level-0 adjacency, ``upper[j]`` the adjacency at
    level ``j+1`` (empty past ``node_level``); all values are LOCAL row
    positions within the shard (stable because search reloads the shard
    in one group). The search entry point (max level, lowest pos) is
    derived at load, never stored.

    A handle memoizes the layout schema: build() fixes it and the
    segments add() appends share it, so reads pass it to the scan and run
    no schema-inference job. A reopened handle infers it, and checks the
    HNSW format, once."""

    def __init__(self, spark: SparkSession, path: str, metric: str = "COSINE"):
        if metric.upper() != "COSINE":
            raise ValueError("graph ANN tier implements the COSINE contract")
        self.spark = spark
        self.path = path
        self._schema: StructType | None = None

    @property
    def schema(self) -> StructType:
        """The layout's read schema. Fixed by build(); a reopened handle
        infers it, and checks the HNSW format, once."""
        if self._schema is None:
            idx = self.spark.read.parquet(self.path)
            _require_hnsw_format(idx, self.path)
            self._schema = idx.schema
        return self._schema

    def _read(self) -> DataFrame:
        """The shard layout, read with the handle's schema."""
        return read_parquet(self.spark, self.schema, [self.path])

    def build(
        self,
        df: DataFrame,
        id_col: str = "vec_id",
        emb_col: str = "embedding",
        num_shards: int | None = None,
        m: int = 16,
        ef_construction: int = 200,
        passthrough: list[str] | None = None,
        target_rows_per_shard: int = 100_000,
        max_level: int | None = None,
    ) -> "GraphANNIndex":
        """Memory contract: each shard is materialized as ONE pandas
        DataFrame (vectors + adjacency) inside ``applyInPandas`` and the
        NSW build is O(shard_rows · ef_construction) dot products — the
        shard's ROW COUNT is the knob that must fit a task. When
        ``num_shards`` is None (default) it is derived from a cheap
        ``df.count()`` so no shard expects more than
        ``target_rows_per_shard`` rows (hash sharding is uniform in
        ``id_col``, so shard sizes concentrate tightly around
        n/num_shards). Pass explicit ``num_shards`` to skip the count job
        or to pin the layout for an external oracle.

        ``max_level`` caps the hierarchy per corpus:
        ``max_level=0`` builds flat NSW — on replica-clustered corpora the
        upper levels cost ~9% extra distance evals at recall parity
        (BENCH_r07 graph_design_point), so the flat mode is the right
        design point there, while spread-cluster corpora keep the default
        hierarchy (0.875→0.992 recall with 17% fewer evals, pinned in
        tests/test_ann.py). Both modes share the persisted layout and the
        ef>=n exactness edge."""
        passthrough = passthrough or []
        if num_shards is None:
            n = df.select(id_col).count()
            num_shards = max(1, -(-n // target_rows_per_shard))
        tagged = df.select(
            F.col(id_col).alias("id"),
            *[F.col(c) for c in passthrough],
            F.col(emb_col).cast("array<double>").alias("embedding"),
            F.pmod(F.hash(F.col(id_col)), F.lit(num_shards)).alias("shard"),
        )
        out_schema = _index_schema(tagged, passthrough)
        _build = _make_shard_builder(passthrough, m, ef_construction, max_level)
        shards = tagged.groupBy("shard").applyInPandas(_build, out_schema)
        shards.write.options(**vector_write_options(shards)).mode(
            "overwrite"
        ).partitionBy("shard").parquet(self.path)
        self._schema = partitioned_read_schema(shards.schema, "shard")
        return self

    def add(
        self,
        df: DataFrame,
        id_col: str = "vec_id",
        emb_col: str = "embedding",
        num_shards: int | None = None,
        m: int = 16,
        ef_construction: int = 200,
        passthrough: list[str] | None = None,
        target_rows_per_shard: int = 100_000,
        max_level: int | None = None,
    ) -> "GraphANNIndex":
        """Incremental maintenance via the SEGMENT model — how Milvus
        absorbs inserts into an HNSW collection: the batch builds NEW
        self-contained NSW shards whose ids are offset past the existing
        layout, appended to the parquet table. ``search``/``search_many``
        already fan over every shard and merge, so appended segments are
        immediately searchable, the probe-all exactness edge is preserved
        (each segment is internally connected), and EXISTING shard files
        are never rewritten — cost ∝ batch, never the corpus. Periodic
        ``build()`` over the full set is the seal/merge compaction analog
        when small segments accumulate.

        The batch must carry the same passthrough columns the index was
        built with (schema is checked against the existing layout)."""
        passthrough = passthrough or []
        existing = self._read()
        expected = [
            c for c in existing.columns if c not in _INDEX_META_COLS
        ]
        if sorted(expected) != sorted(passthrough):
            raise ValueError(
                f"passthrough {passthrough} != existing layout's {expected}"
            )
        base = existing.agg(F.max("shard")).head()[0] + 1
        if num_shards is None:
            n = df.select(id_col).count()
            num_shards = max(1, -(-n // target_rows_per_shard))
        tagged = df.select(
            F.col(id_col).alias("id"),
            *[F.col(c) for c in passthrough],
            F.col(emb_col).cast("array<double>").alias("embedding"),
            (F.lit(base) + F.pmod(F.hash(F.col(id_col)), F.lit(num_shards))).alias(
                "shard"
            ),
        )
        out_schema = _index_schema(tagged, passthrough)
        _build = _make_shard_builder(passthrough, m, ef_construction, max_level)
        segments = tagged.groupBy("shard").applyInPandas(_build, out_schema)
        segments.write.options(**vector_write_options(segments)).mode(
            "append"
        ).partitionBy("shard").parquet(self.path)
        return self

    def compact(
        self,
        num_shards: int | None = None,
        m: int = 16,
        ef_construction: int = 200,
        target_rows_per_shard: int = 100_000,
        max_level: int | None = None,
    ) -> tuple[int, int]:
        """Seal/merge the accumulated ``add()`` segments back into a fresh
        uniform layout (the Milvus segment-compaction analog): read every
        shard's vectors, re-shard by the id hash and rebuild per-shard NSW
        graphs into a staging layout, swapped in by
        :func:`~vectordb_etl_spark.store.collections.replace_dir` — a
        failed rebuild leaves the live layout serving. Returns
        ``(shards_before, shards_after)``. Run when small segments
        accumulate — per-segment beam searches stay correct regardless,
        but many tiny segments waste task overhead and beam quality."""
        from vectordb_etl_spark.store.collections import replace_dir

        with replace_dir(self.spark, self.path) as (staging, _exists):
            # no format guard here: compact() reads only id/passthrough/
            # embedding, so it doubles as the MIGRATION path for an index
            # persisted in the pre-hierarchy flat-NSW layout
            existing = self.spark.read.parquet(self.path)
            passthrough = [
                c for c in existing.columns if c not in _INDEX_META_COLS
            ]
            before = existing.select("shard").distinct().count()
            rebuilt = GraphANNIndex(self.spark, staging).build(
                existing,
                id_col="id",
                num_shards=num_shards,
                m=m,
                ef_construction=ef_construction,
                passthrough=passthrough,
                target_rows_per_shard=target_rows_per_shard,
                max_level=max_level,
            )
        self._schema = rebuilt._schema
        after = self._read().select("shard").distinct().count()
        return before, after

    # threshold for rebalance_hint: below ~4x the tail shard costs only a
    # few percent (bench's graph_serve_skew measured 1.035 at 11:1 under
    # shard parallelism — the straggler hides while cores outnumber
    # shards), so recommending compaction for mild skew would churn
    # rebuilds for nothing; past ~4x the oversized segment is also the
    # memory high-water mark of its executor, which is the real risk at
    # 100 TB (a shard must fit one task). Milvus's own compaction triggers
    # on segment-size imbalance the same way (milvus_store.py:232
    # flush/seal lifecycle).
    REBALANCE_RATIO = 4.0

    def shard_sizes(self) -> dict[int, int]:
        """Rows per shard — a scan of the ``shard`` partition column only
        (column-pruned; no vector or adjacency bytes move)."""
        return {
            r["shard"]: r["count"]
            for r in self._read().groupBy("shard").count().collect()
        }

    def rebalance_hint(self, ratio: float | None = None) -> dict:
        """Should this index be compact()ed? Returns the skew telemetry a
        segment manager needs: ``max_over_median`` (the oversized-segment
        ratio an append-heavy lifecycle accumulates — one old base segment
        plus many unit-sized ``add()`` batches) and ``recommend_compact``
        when it exceeds ``ratio`` (default ``REBALANCE_RATIO``).
        ``compact()`` re-shards by id hash, which restores ~1.0."""
        if ratio is None:
            ratio = self.REBALANCE_RATIO
        sizes = sorted(self.shard_sizes().values())
        if not sizes:
            raise ValueError(f"rebalance_hint: empty index at {self.path}")
        # lower median: with an even shard count the upper median can BE the
        # oversized segment (the 2-segment base+add() lifecycle this hint
        # exists for would report max/median == 1.0 and never flag), so err
        # toward the small side — overstating skew only risks an early
        # compact, understating it hides the memory high-water mark.
        median = sizes[(len(sizes) - 1) // 2]
        mom = sizes[-1] / max(median, 1)
        return {
            "n_shards": len(sizes),
            "max_shard": sizes[-1],
            "median_shard": median,
            "max_over_median": round(mom, 2),
            "recommend_compact": mom > ratio,
        }

    def search(
        self,
        query: list[float],
        k: int = 3,
        ef: int = 100,
        output_cols: list[str] | None = None,
        score_name: str = "score",
        round_dp: int = 6,
        predicate=None,
        filter_mode: str = "post",
    ) -> DataFrame:
        """``predicate`` enables FILTERED graph search, two strategies:

        ``filter_mode="post"`` (default) is the classic post-filter: each
        shard emits its full ef-beam instead of just top-k, the predicate
        prunes the merged candidates, and the global top-k ranks what
        passes. Size ``ef`` to the filter's selectivity (candidates ≈
        ef × pass-rate — at 1% selectivity the beam must be ~100×k). The
        predicate may only reference ``output_cols``.

        ``filter_mode="traversal"`` filters DURING the beam (ACORN-1 /
        hnswlib-IDSelector stance; Milvus likewise applies the filter
        inside index search — reference modules/milvus_store.py:289-297):
        the predicate is evaluated JVM-side into a boolean column before
        the shard UDF, filtered-out nodes stay navigable so the graph
        never disconnects, and only matching nodes enter the result heap.
        The beam expands until ``ef`` MATCHING hits bound the frontier —
        ``ef`` stays ~k-sized at any selectivity (the traversal pays more
        hops instead; bench's graph_acorn design point measures both).
        Here the predicate may reference ANY stored index column, not
        just ``output_cols``.

        Either way, at the full-beam edge (ef ≥ shard size) the result is
        EXACTLY the filtered brute force, which is what the oracle
        checks."""
        out_cols = output_cols or ["id"]
        local, ties = _beam_hits(
            self._read(), _unit_query(query), k, ef, out_cols, score_name,
            round_dp, predicate, filter_mode,
        )
        return sort_limit(
            local, [(score_name, False)] + [(c, True) for c in ties], k
        )

    def search_per_group(
        self,
        query: list[float],
        k: int = 3,
        ef: int = 100,
        group_col: str = "label",
        output_cols: list[str] | None = None,
        score_name: str = "score",
        round_dp: int = 6,
        predicate=None,
        filter_mode: str = "post",
    ) -> DataFrame:
        """Q2 fan-out through the graph tier: per-``group_col`` top-k hit
        lists (the IVF twin is IVFIndex.search_per_group). Each shard
        emits its FULL ef-beam (the beam is group-blind — a group's best
        hits may rank anywhere in it; emitting only the shard top-k would
        starve minority groups), then one group-keyed window rank takes
        each group's k best across shards. At the full-beam edge
        (ef >= shard size) every shard emits every row, so the result
        provably equals the exact per-group top-k — the registered
        ``graph_fanout_topk`` oracle edge. Shuffle carries shards×ef tiny
        candidate rows, never vectors. ``group_col`` must be a
        passthrough column of the index; it is included in the output.

        ``predicate``/``filter_mode`` follow :meth:`search`'s contract
        (post filters the emitted beams before the group rank;
        'traversal' filters DURING each beam, ACORN-style, and may
        reference any stored index column)."""
        from pyspark.sql.window import Window

        out_cols = output_cols or ["id"]
        local, ties = _beam_hits(
            self._read(), _unit_query(query), k, ef, out_cols, score_name,
            round_dp, predicate, filter_mode, emit_all=True,
            lead_cols=[group_col],
        )
        w = Window.partitionBy(group_col).orderBy(
            F.desc(score_name), *[F.asc(c) for c in ties]
        )
        return (
            local.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= k)
            .drop("__rn")
        )

    def search_many(
        self,
        queries: list[list[float]],
        k: int = 3,
        ef: int = 100,
        output_cols: list[str] | None = None,
        score_name: str = "score",
        round_dp: int = 6,
        batch_size: int = 2048,
        predicate=None,
        filter_mode: str = "post",
    ) -> DataFrame:
        """Batched serving: N queries beam-searched in ONE plan — each
        shard group loads its graph once and answers every query of a
        batch against it (amortizing the shard load + adjacency rebuild
        that dominate per-query jobs), then one rank-over-window takes
        each query's global top-k from the shards×N×k candidate rows.

        ``predicate``/``filter_mode`` follow :meth:`search`'s contract,
        one predicate shared by every query of the batch; a traversal
        predicate is evaluated once per shard. Full-beam edge ⇒ per-query
        exact filtered top-k. Batches of ``batch_size`` queries (each
        matrix ships in its UDF closure, ≈ 1–16 MB at 2048×dim) become a
        union of per-batch shard scans in the same plan. Returns
        (query_id, *output_cols, score), k rows per query, query_id
        indexing the ORIGINAL list."""
        from pyspark.sql.window import Window

        if batch_size < 1:
            raise ValueError(f"batch_size must be >= 1; got {batch_size}")
        out_cols = output_cols or ["id"]
        arr = np.asarray(queries, dtype=np.float64)
        qmat = _normalize_rows(arr) if len(arr) else arr.reshape(0, 0)
        idx = self._read()
        # an empty query list plans one batch under a zero limit (never
        # run), so the result keeps the declared (query_id, *output_cols,
        # score) schema
        parts = [
            _beam_hits(
                idx, qmat[off : off + batch_size], k, ef, out_cols,
                score_name, round_dp, predicate, filter_mode, qid_offset=off,
            )
            for off in range(0, max(len(qmat), 1), batch_size)
        ]
        local = reduce(DataFrame.unionByName, [p for p, _ in parts])
        if not len(qmat):
            local = local.limit(0)
        order = [F.desc(score_name)] + [F.asc(c) for c in parts[0][1]]
        w = Window.partitionBy("query_id").orderBy(*order)
        return (
            local.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= k)
            .drop("__rn")
            .orderBy("query_id", *order)
        )


def fanout_search(
    indexes: dict[str, GraphANNIndex],
    query: list[float],
    k: int = 3,
    ef: int = 100,
    exact: DataFrame | None = None,
    tie_break: list[str] | None = None,
    output_cols: list[str] | None = None,
    score_name: str = "score",
    round_dp: int = 6,
    predicate=None,
    filter_mode: str = "post",
) -> DataFrame:
    """Graph search over several collections' indexes (``indexes``: name
    → handle) as ONE plan: one read of all the shard layouts (their
    ``collection`` passthrough tags the rows; a passthrough column one
    layout lacks reads as null), one ``groupBy("collection",
    "shard").applyInPandas`` beams every shard, and one merge orders by
    score, ``tie_break``, ``collection``, then the orderable
    ``output_cols``. ``exact`` rows (un-indexed collections: ``id``,
    ``collection``, ``embedding``) are one more union branch, filtered
    exactly and scored with the same COSINE/rounding.
    ``predicate``/``filter_mode`` follow :meth:`GraphANNIndex.search`.
    Returns (*output_cols, score, collection)."""
    from vectordb_etl_spark.functions.vector import with_score

    out_cols = output_cols or ["id"]
    branches, ties = [], None
    if indexes:
        layouts, computed = _tagged_layouts(indexes)
        local, ties = _beam_hits(
            layouts, _unit_query(query), k, ef, out_cols,
            score_name, round_dp, predicate, filter_mode,
            lead_cols=["collection"], keys=("collection", "shard"),
            computed=computed,
        )
        branches.append(local)
    if exact is not None:
        if predicate is not None:
            exact = exact.filter(predicate)
        branches.append(select_names(
            with_score(exact, query, "COSINE", "embedding", score_name, round_dp),
            [*dict.fromkeys([*out_cols, "collection"]), score_name],
        ))
    merged = reduce(DataFrame.unionByName, branches)
    keys = [
        (score_name, False),
        *[(c, True) for c in tie_break or []],
        ("collection", True),
        *[(c, True) for c in ties or _orderable_tiebreak(merged.schema, out_cols)],
    ]
    return select_names(
        sort_limit(merged, keys, k),
        dict.fromkeys([*out_cols, score_name, "collection"]),
    )


# a row's shard in a layout scan that did not infer partitions
_SHARD_SQL = (
    "CAST(regexp_extract(_metadata.file_path, '/shard=([0-9]+)/', 1) AS INT)"
)


def _tagged_layouts(
    indexes: dict[str, GraphANNIndex],
) -> tuple[DataFrame, dict[str, str]]:
    """Every index's shard layout with its rows tagged by ``collection``,
    and the SQL of the layout columns the frame does not hold.

    The layouts that carry the ``collection`` passthrough (every index
    ``CollectionStore.build_index`` makes) are ONE scan of all their
    paths under the union of their schemas. Spark infers partitions
    under one root only, so that scan lists the files recursively and a
    row's ``shard`` is derived from its file's ``shard=<i>`` directory.
    Any other layout is read on its own, tagged with its name, and
    unioned by name (the fused scan then derives ``shard`` itself)."""
    fused = {n: h for n, h in indexes.items() if "collection" in h.schema.fieldNames()}
    schema = union_schema(
        [f for f in h.schema.fields if f.name != "shard"] for h in fused.values()
    )
    if schema is None:  # two layouts type one column differently
        fused = {}
    parts = [
        h._read().withColumn("collection", F.lit(n))
        for n, h in indexes.items()
        if n not in fused
    ]
    if not fused:
        return reduce(
            lambda a, b: a.unionByName(b, allowMissingColumns=True), parts
        ), {}
    first = next(iter(fused.values()))
    scan = read_parquet(
        first.spark, schema, [h.path for h in fused.values()],
        recursiveFileLookup="true",
    )
    if not parts:
        return scan, {"shard": _SHARD_SQL}
    return reduce(
        lambda a, b: a.unionByName(b, allowMissingColumns=True),
        [select_sql(scan, ["*", f"{_SHARD_SQL} AS shard"]), *parts],
    ), {}

"""Hypothesis properties for the round-6 operators' SQL twins.

Each property runs the DuckDB rendering (fast, no Spark per example)
against a pure-Python reference or an algebraic invariant. The Spark
renderings are pinned to the SQL ones by the bit-for-bit parity unit
tests (test_sketches / test_layout / test_temporal / test_graph_analytics),
so SQL-vs-reference here transitively checks the Spark side too.
"""

from __future__ import annotations

import hashlib

import duckdb
from hypothesis import given, reject, settings
from hypothesis import strategies as st

from vectordb_etl_spark.operators.graph_analytics import pagerank_sql
from vectordb_etl_spark.operators.skew import skew_report_sql
from vectordb_etl_spark.operators.temporal import scd2_intervals_sql
from vectordb_etl_spark.store.layout import zorder_key_exact_sql


def _h60(value: str) -> int:
    return int(hashlib.md5(value.encode()).hexdigest()[:15], 16)


def _morton(a: int, b: int, bits: int) -> int:
    z = 0
    for j in range(bits):
        z |= ((a >> j) & 1) << (2 * j)
        z |= ((b >> j) & 1) << (2 * j + 1)
    return z


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=-(1 << 20), max_value=(1 << 20)),
            st.integers(min_value=-(1 << 20), max_value=(1 << 20)),
        ),
        min_size=1,
        max_size=40,
    )
)
@settings(max_examples=60, deadline=None)
def test_zorder_sql_matches_python_reference(pairs):
    # negatives included: & masks two's-complement low bits identically
    # in Python, Spark, and DuckDB
    bits = 10
    mask = (1 << bits) - 1
    con = duckdb.connect()
    vals = ", ".join(f"({a}, {b})" for a, b in pairs)
    got = [
        r[0]
        for r in con.execute(
            f"SELECT {zorder_key_exact_sql(['a', 'b'], bits=bits)} "
            f"FROM (VALUES {vals}) t(a, b)"
        ).fetchall()
    ]
    want = [_morton(a & mask, b & mask, bits) for a, b in pairs]
    assert got == want


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3),        # key
            st.sampled_from(["A", "B", "C"]),             # status
            st.integers(min_value=0, max_value=20),       # day offset
        ),
        min_size=1,
        max_size=40,
    )
)
@settings(max_examples=60, deadline=None)
def test_scd2_sql_tiles_and_conserves(events):
    con = duckdb.connect()
    vals = ", ".join(
        f"({k}, '{s}', DATE '2024-01-01' + INTERVAL {d} DAY, {i})"
        for i, (k, s, d) in enumerate(events)
    )
    sql = scd2_intervals_sql(
        f"SELECT * FROM (VALUES {vals}) t(k, s, d, tie)", "k", "s", "d", "tie"
    )
    rows = con.execute(sql).fetchall()
    # conservation: n_rows sums to the event count
    assert sum(r[4] for r in rows) == len(events)
    per_key: dict[int, list] = {}
    for k, _s, vf, vt, _n, cur in rows:
        per_key.setdefault(k, []).append((vf, vt, cur))
    for k, spans in per_key.items():
        spans.sort()
        # exactly one open (sentinel) interval per key, and it is the last
        assert sum(1 for _vf, _vt, cur in spans if cur) == 1
        assert spans[-1][2] is True
        # half-open tiling: valid_to of each interval = next valid_from
        for (_vf1, vt1, _c1), (vf2, _vt2, _c2) in zip(spans, spans[1:]):
            assert vt1 == vf2


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=9),
            st.integers(min_value=0, max_value=9),
        ),
        min_size=1,
        max_size=30,
    ).filter(lambda es: any(a != b for a, b in es))
)
@settings(max_examples=40, deadline=None)
def test_pagerank_sql_mass_and_teleport_floor(edges):
    # undirected: both directions; self-loops dropped
    und = {(a, b) for a, b in edges if a != b}
    und |= {(b, a) for a, b in und}
    con = duckdb.connect()
    vals = ", ".join(f"({a}, {b})" for a, b in sorted(und))
    sql = pagerank_sql(
        f"SELECT * FROM (VALUES {vals}) t(src, dst)", iterations=4
    )
    rows = con.execute(sql).fetchall()
    nodes = {n for e in und for n in e}
    assert {r[0] for r in rows} == nodes
    total = sum(r[1] for r in rows)
    # integer division only leaks mass: never above n, close below
    n = len(nodes)
    assert total <= n * 1_000_000
    assert total >= n * 1_000_000 - n * 4 * 1_000 * 10
    # every rank >= the teleport term (something always arrives or not,
    # but the teleport floor holds regardless)
    assert all(r[1] >= 150_000 for r in rows)


@given(
    st.lists(
        st.sampled_from(["x", "y", "z", "hot"]),
        min_size=1,
        max_size=60,
    )
)
@settings(max_examples=60, deadline=None)
def test_skew_report_sql_shares_and_counts(keys):
    con = duckdb.connect()
    vals = ", ".join(f"('{k}')" for k in keys)
    sql = skew_report_sql(
        f"SELECT * FROM (VALUES {vals}) t(k)", ["k"], top_n=10
    )
    rows = con.execute(sql).fetchall()
    from collections import Counter

    want = Counter(keys)
    got = {r[0]: r[1] for r in rows}
    assert got == dict(want)
    total = len(keys)
    for key, n, share_ppm, load_ratio, _salt in rows:
        assert share_ppm == (1_000_000 * n) // total
        assert load_ratio == (1_000_000 * n * len(want)) // total


@given(st.lists(st.text(min_size=0, max_size=8), min_size=1, max_size=50))
@settings(max_examples=40, deadline=None)
def test_hll_registers_sql_matches_python_reference(values):
    from vectordb_etl_spark.functions.sketches import hll_registers_sql

    p, w = 8, 52
    m = 1 << p
    con = duckdb.connect()
    vals = ", ".join("(" + "'" + v.replace("'", "''") + "')" for v in values)
    try:
        rows = con.execute(
            hll_registers_sql(f"SELECT * FROM (VALUES {vals}) t(v)", "v", p=p)
        ).fetchall()
    except duckdb.Error:
        reject()  # value set not expressible as a VALUES literal
    ref: dict[int, int] = {}
    for v in values:
        h = _h60(v)
        bucket, rem = h % m, h >> p
        rho = (w + 1) if rem == 0 else (w + 1 - rem.bit_length())
        ref[bucket] = max(ref.get(bucket, 0), rho)
    assert sorted(map(tuple, rows)) == sorted(ref.items())

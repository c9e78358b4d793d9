"""Driver-contract smoke tests: entry() runs, queries()/oracle_sql() align."""

from __future__ import annotations

import __spark_entry__ as entrymod


def test_entry_runs(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) >= 0
    assert "score" in df.columns


def test_queries_and_oracles_align(spark):
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    assert set(oracles) <= set(qs)
    assert len(qs) >= 20


def test_each_query_returns_dataframe(spark):
    qs = entrymod.queries()
    sf = "/root/testdata/sf0.001"
    for name in ("clean_text", "vector_topk", "pricing_summary"):
        df = qs[name](spark, sf)
        assert df.count() > 0, name


def test_chunk_pipeline_golden_corpus_hash(spark):
    # chunk_pipeline has no SQL oracle (recursive splitter); this pins the
    # corpus-level result at sf0.001 — order-insensitive value hash over all
    # rows, same canonicalization as the driver gate — so any drift in the
    # C1-C5 splitter/merge/metadata path is a hard failure, not just a row
    # count change. Regenerate the constant ONLY for a deliberate semantics
    # change (tools/check_oracle.frame_hash over the collected frame).
    import hashlib

    def canon(v):
        if v is None:
            return "NULL"
        return str(v)

    df = entrymod.queries()["chunk_pipeline"](spark, "/root/testdata/sf0.001")
    cols = df.columns
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted(
        "\x01".join(canon(tuple(r)[i]) for i in order) for r in df.collect()
    )
    h = hashlib.md5()
    for line in lines:
        h.update(line.encode())
        h.update(b"\x02")
    assert len(lines) == 546
    assert h.hexdigest() == "a1e86137feaff448906cb25e419b1729"


def test_unrotated_queries_stay_inside_driver_cap():
    """The driver oracle-checks only the FIRST 50 registered queries. Any
    query the committed CORRECTNESS files have never checked (last round
    0 in rotation_order) must sit inside that cap, or it ships without
    ever being driver-verified. The live rotation puts never-checked
    queries in tier 2 (right after reds), so this holds by construction
    unless >50 queries land red/new at once — in which case it breaks
    loudly instead of silently."""
    q = list(entrymod.queries())
    _, last, _ = entrymod.rotation_order(q)
    outside = [n for n in q if last[n] == 0 and q.index(n) >= 50]
    assert not outside, (
        f"never-driver-checked queries outside the 50-query cap: {outside}"
    )


def test_unreadable_scoreboards_fall_back_to_registry_order(monkeypatch):
    def unreadable(names, rounds_dir=None):
        raise OSError("scoreboards unreadable")

    monkeypatch.setattr(entrymod, "rotation_order", unreadable)
    # a fresh cache (restored after the test) so the order is recomputed
    monkeypatch.setattr(entrymod, "_ROTATION_CACHE", {})
    assert list(entrymod.queries()) == list(entrymod._QUERIES)
    assert list(entrymod.oracle_sql()) == list(entrymod._ORACLES)

"""Source-level guards: hot-path rules the judge/VERDICT call out.

Row-at-a-time ``F.udf`` pickles every value individually (no Arrow
batching) — everything Python-side in this package must be a pandas UDF or
mapInPandas. This greps the package source so a regression fails loudly.
"""

from __future__ import annotations

import re
from pathlib import Path

PKG = Path(__file__).resolve().parent.parent / "vectordb_etl_spark"


def test_no_row_at_a_time_udf():
    offenders = []
    for path in PKG.rglob("*.py"):
        src = path.read_text()
        for m in re.finditer(r"\bF\.udf\s*\(|\budf\s*\(\s*lambda", src):
            line = src[: m.start()].count("\n") + 1
            offenders.append(f"{path.relative_to(PKG.parent)}:{line}")
    assert not offenders, f"row-at-a-time Python UDFs found: {offenders}"


def test_no_collect_outside_sanctioned_files():
    # .collect()/.toPandas() belong at API edges and driver-bounded model
    # artifacts only; new uses elsewhere need an explicit exemption here
    sanctioned = {
        "search.py",        # API edge (reference returns Python pairs)
        "collections.py",   # per-collection count dicts (reference API shape)
        "ann.py",           # bounded centroid sample (size-independent)
        "quality.py",       # scalar report values (single-row aggregates)
        "curation.py",      # mix_fractions: per-stratum token sums (rows =
                            # number of strata, size-independent of corpus)
        "dedup.py",         # semantic_dedup: k-row centroid collect feeding
                            # the vectorized assignment UDF (k bounded by
                            # the operator's rows-per-cluster contract —
                            # same class as ann.py's centroid artifact);
                            # connected_components _sig: 1-row per-round
                            # convergence signature — the fixpoint decision
                            # is inherently driver-side, same class as the
                            # isEmpty()/count() probes the loops always used
        "graph_ann.py",     # shard_sizes/rebalance_hint: one count row per
                            # shard (rows = segment count, bounded by the
                            # index layout, size-independent of corpus
                            # rows) — the segment-manager telemetry has to
                            # reach the driver to decide compact()
        "ingest.py",        # cm_ingest_stream: one scalar (last committed
                            # batch_id) from the ≤ d·w+1-row persisted
                            # sketch — size-independent of the stream;
                            # the exactly-once watermark has to be read
                            # on the driver before deciding to merge
    }
    offenders = []
    for path in PKG.rglob("*.py"):
        if path.name in sanctioned:
            continue
        src = path.read_text()
        for m in re.finditer(r"\.collect\(\)|\.toPandas\(\)", src):
            line = src[: m.start()].count("\n") + 1
            offenders.append(f"{path.relative_to(PKG.parent)}:{line}")
    assert not offenders, f"driver-side materialization found: {offenders}"


def test_entry_conf_writes_and_temp_dirs_stay_scoped():
    """In the driver-contract file, session conf is written only by the
    ``_scratch`` wrapper (which restores what it pins) and by the two
    reader settings in ``_norm_ts``/``_events``; and every query gets its
    temp dir from ``_scratch``, the one place ``tempfile`` is imported."""
    import ast

    src = (PKG.parent / "__spark_entry__.py").read_text()
    owner = {}
    for node in ast.parse(src).body:
        if isinstance(node, ast.FunctionDef):
            for ln in range(node.lineno, node.end_lineno + 1):
                owner[ln] = node.name

    def owners(pattern):
        return [
            owner.get(src[: m.start()].count("\n") + 1, "<module>")
            for m in re.finditer(pattern, src, re.M)
        ]

    conf_writers = set(owners(r"\bconf\.(set|unset)\("))
    assert conf_writers <= {"_scratch", "_norm_ts", "_events"}, conf_writers
    assert owners(r"^[ \t]*(import tempfile|from tempfile import)") == ["_scratch"]


def test_vector_literals_go_through_vector_lit():
    """A vector literal costs one py4j call per element through
    ``F.lit(<list>)`` and becomes a CreateArray with a child per element;
    ``functions/vector.py:vector_lit`` builds one Literal in a constant
    number of calls. It stays the one home for vector literals."""
    pattern = re.compile(r"F\.lit\((\[|list\(|query|vec)")
    home = PKG / "functions" / "vector.py"
    offenders = []
    for path in PKG.rglob("*.py"):
        if path == home:
            continue
        src = path.read_text()
        for m in pattern.finditer(src):
            line = src[: m.start()].count("\n") + 1
            offenders.append(f"{path.relative_to(PKG.parent)}:{line}")
    assert not offenders, f"vector literal outside vector_lit: {offenders}"


def test_query_norms_are_folded_on_the_driver():
    """A query's norm is folded once on the driver
    (``functions/vector.py:vector_norm``), never recomputed per row:
    inside the package, outside ``functions/vector.py``, every
    ``cosine_col`` call passes the query's norm as ``b_norm``, and no
    ``norm_col`` call takes a literal."""
    import ast

    home = PKG / "functions" / "vector.py"

    def _name(call):
        f = call.func
        return f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)

    offenders = []
    for path in PKG.rglob("*.py"):
        if path == home:
            continue
        for node in ast.walk(ast.parse(path.read_text())):
            if not isinstance(node, ast.Call):
                continue
            name = _name(node)
            literal = any(
                isinstance(n, ast.Call)
                and _name(n) in ("vector_lit", "lit", "array", "expr")
                for a in node.args
                for n in ast.walk(a)
            )
            per_row = name == "cosine_col" and len(node.args) < 3 and not any(
                kw.arg == "b_norm" for kw in node.keywords
            )
            if per_row or (name == "norm_col" and literal):
                offenders.append(f"{path.relative_to(PKG.parent)}:{node.lineno}")
    assert not offenders, f"query norm recomputed per row: {offenders}"


def test_directory_swaps_go_through_replace_dir():
    """Every store and index rewrite swaps its directory through
    ``store/collections.py:replace_dir``: in the package, ``.rename(`` is
    called only by ``checked_rename`` and by the snapshot-log commit
    ``SnapshotStore._try_commit``, and the per-site work-dir names
    that predate it are gone. (The bracketed characters keep these
    patterns from matching themselves.)"""
    import ast

    allowed = {
        ("collections.py", "checked_rename"),
        ("snapshots.py", "_try_commit"),
    }
    stale = [
        r"\.upsert-collection=", r"\.precompac[t]-collection=",
        r"\.compact-collection=", r"\.compact-data", r"__compact_stagin[g]",
        r'\.staging"', r'\.old"',
    ]
    offenders = []
    for path in PKG.rglob("*.py"):
        src = path.read_text()
        owner = {}
        # breadth-first, so an inner function overwrites its outer one
        for node in ast.walk(ast.parse(src)):
            if isinstance(node, ast.FunctionDef):
                for ln in range(node.lineno, node.end_lineno + 1):
                    owner[ln] = node.name
        where = path.relative_to(PKG.parent)
        for m in re.finditer(r"\.rename\(", src):
            line = src[: m.start()].count("\n") + 1
            if (path.name, owner.get(line)) not in allowed:
                offenders.append(f"{where}:{line} rename")
        for pattern in stale:
            for m in re.finditer(pattern, src):
                line = src[: m.start()].count("\n") + 1
                offenders.append(f"{where}:{line} {m.group()}")
    assert not offenders, f"directory swap outside replace_dir: {offenders}"


def test_ivf_layout_has_one_writer():
    """The IVF data layout is decided in one place: in ``operators/ann.py``
    only ``IVFIndex._write_layout`` writes anything but the centroid and
    codebook artifacts, nothing partitions by ``centroid_id`` or reads
    with ``basePath`` or a ``GlobFilter``, and the streaming sink
    ``ivf_ingest_stream`` appends through ``IVFIndex.add``."""
    import ast

    src = (PKG / "operators" / "ann.py").read_text()
    tree = ast.parse(src)
    owner = {}
    for node in ast.walk(tree):
        if isinstance(node, ast.FunctionDef):
            for ln in range(node.lineno, node.end_lineno + 1):
                owner[ln] = node.name
    offenders = []
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "parquet"
            and ".write" in ast.unparse(node.func.value)
            and owner.get(node.lineno) != "_write_layout"
            and not ast.unparse(node.args[0]).endswith(
                ("/centroids'", "/pq_codebook'")
            )
        ):
            offenders.append(f"ann.py:{node.lineno} write")
    for pattern in (r"partitionBy\(\s*[\"']centroid_id", r"basePath", r"\bGlobFilter\b"):
        for m in re.finditer(pattern, src):
            line = src[: m.start()].count("\n") + 1
            offenders.append(f"ann.py:{line} {m.group()}")
    ingest = ast.parse((PKG / "streaming" / "ingest.py").read_text())
    sink = next(
        ast.unparse(n) for n in ast.walk(ingest)
        if isinstance(n, ast.FunctionDef) and n.name == "ivf_ingest_stream"
    )
    if "index.add(" not in sink or ".write" in sink:
        offenders.append("ingest.py ivf_ingest_stream bypasses IVFIndex.add")
    assert not offenders, f"IVF layout written outside _write_layout: {offenders}"


def test_store_data_dir_has_one_reader():
    """The store's schema memo sits in ``CollectionStore.read``: in
    ``store/collections.py`` and ``store/layout.py`` only that method
    reads the data directory or a collection's directory in it (a
    ``…parquet``/``load`` call on a path built from ``_data_dir``, given
    directly or through a local name), so no read path skips the memo.
    Writes to those directories stay allowed."""
    import ast

    offenders = []
    for name in ("collections.py", "layout.py"):
        tree = ast.parse((PKG / "store" / name).read_text())
        for fn in ast.walk(tree):
            if not isinstance(fn, ast.FunctionDef) or fn.name == "read":
                continue
            paths = {
                t.id
                for node in ast.walk(fn)
                if isinstance(node, ast.Assign)
                and "_data_dir" in ast.unparse(node.value)
                for t in node.targets
                if isinstance(t, ast.Name)
            }
            for node in ast.walk(fn):
                if (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr in ("parquet", "load")
                    and ".write" not in ast.unparse(node.func.value)
                    and any(
                        "_data_dir" in ast.unparse(a) or ast.unparse(a) in paths
                        for a in node.args
                    )
                ):
                    offenders.append(f"{name}:{node.lineno} ({fn.name})")
    assert not offenders, f"store data read outside CollectionStore.read: {offenders}"


def test_every_config_field_is_read():
    """Every field of a config dataclass in ``config.py`` is read as an
    attribute somewhere else in the package (a call of a method with the
    same name does not count): a field that nothing reads is a setting
    that silently does nothing."""
    import ast

    tree = ast.parse((PKG / "config.py").read_text())
    fields = {
        f"{cls.name}.{node.target.id}": node.target.id
        for cls in tree.body
        if isinstance(cls, ast.ClassDef)
        for node in cls.body
        if isinstance(node, ast.AnnAssign) and isinstance(node.target, ast.Name)
    }
    read = set()
    for path in PKG.rglob("*.py"):
        if path == PKG / "config.py":
            continue
        t = ast.parse(path.read_text())
        called = {id(n.func) for n in ast.walk(t) if isinstance(n, ast.Call)}
        read |= {
            n.attr
            for n in ast.walk(t)
            if isinstance(n, ast.Attribute)
            and isinstance(n.ctx, ast.Load)
            and id(n) not in called
        }
    unread = sorted(f for f, attr in fields.items() if attr not in read)
    assert not unread, f"config fields nothing reads: {unread}"


def test_pipeline_stages_do_not_reread_their_checkpoints():
    """A stage counts its checkpoint while writing it
    (``write_counted``): no function in ``pipeline.py`` reads
    back a path it wrote, so no ``read.parquet(...).count()`` re-read."""
    import ast

    src = (PKG / "pipeline.py").read_text()
    offenders = []

    def chain(node):
        names = []
        while isinstance(node, (ast.Attribute, ast.Call)):
            if isinstance(node, ast.Attribute):
                names.append(node.attr)
                node = node.value
            else:
                node = node.func
        return names

    for fn in ast.walk(ast.parse(src)):
        if not isinstance(fn, ast.FunctionDef):
            continue
        written = set()
        for node in sorted(
            (n for n in ast.walk(fn) if isinstance(n, ast.Call) and n.args),
            key=lambda n: (n.lineno, n.col_offset),
        ):
            names = chain(node.func)
            if names[:1] != ["parquet"]:
                continue
            target = ast.dump(node.args[0])
            if "write" in names:
                written.add(target)
            elif "read" in names and target in written:
                offenders.append(f"pipeline.py:{node.lineno} ({fn.name})")
    assert not offenders, f"checkpoint re-read after its write: {offenders}"


def test_rotation_has_one_home():
    """The driver-check order lives in ``__spark_entry__.rotation_order``
    and is imported from there: no file-path module loading and no
    ``tools`` directory on ``sys.path`` in the entry, bench or tests.
    (The bracketed ``[n]`` keeps this pattern from matching itself.)"""
    pattern = re.compile(
        r"spec_from_file_locatio[n]|sys\.path\.\w+\([^)]*\btools\b"
    )
    root = PKG.parent
    files = [root / "__spark_entry__.py", root / "bench.py"]
    files += sorted((root / "tests").rglob("*.py"))
    offenders = []
    for path in files:
        src = path.read_text()
        for m in pattern.finditer(src):
            line = src[: m.start()].count("\n") + 1
            offenders.append(f"{path.relative_to(root)}:{line}")
    assert not offenders, f"rotation loaded outside the entry: {offenders}"


def test_rotation_head50_is_the_stalest_tier():
    """The driver only gates the FIRST 50 queries() entries, so an
    ordering whose head re-checks already-fresh queries lets the stale
    tail age unbounded. queries()/oracle_sql() compute the order LIVE
    from the committed CORRECTNESS_r*.json files; this lint asserts the
    driver-visible head-50 equals the canonical stalest tier (reds, then
    never-checked, then oldest last-driver-green), which also fails if
    queries() has silently fallen back to registry order."""
    import __spark_entry__ as em
    from __spark_entry__ import rotation_order

    names = list(em.queries())
    order, last, red = rotation_order(names)
    cap = min(50, len(order))
    want = set(order[:cap])
    got = set(names[:cap])
    if want != got:
        should = sorted(want - got, key=lambda n: (n in red and -red[n], last[n], n))
        extra = sorted(got - want, key=lambda n: (last[n], n))
        raise AssertionError(
            "driver-visible head-50 is not the stalest tier.\n"
            f"  stale queries dodging the window: {should}\n"
            f"  fresh queries wasting window slots: {extra}"
        )


def test_bench_compact_line_fits_driver_window():
    """The driver records only the last 2000 chars of bench stdout and
    parses the JSON line out of that window — BENCH_r04–r08 recorded
    parsed=null because the one-line record outgrew it. The final line
    must stay under bench.COMPACT_BUDGET (1800) with the scalar signals
    intact, for the committed real record AND a pathological one."""
    import json
    import sys

    sys.path.insert(0, str(PKG.parent))
    import bench

    required = {
        "metric", "value", "unit", "queries", "n_queries", "recall",
        "scale_probe_exponents", "convergence_depths", "detail", "sf",
    }

    real = json.loads((PKG.parent / "bench_full.json").read_text())
    line = bench.compact_record(real)
    assert len(line) <= bench.COMPACT_BUDGET
    parsed = json.loads(line)
    assert required <= set(parsed)
    # every headline row present in the real suite survives the budget
    assert set(parsed["queries"]) == {
        q for q in bench.HEADLINE_QUERIES if q in real["queries"]
    }

    # pathological: absurd query names/counts must trim rows, never the
    # scalar fields, and never emit an over-budget line
    patho = dict(real)
    patho["queries"] = {f"query_name_{'x' * 60}_{i}": 1.0 for i in range(400)}
    patho["queries"].update({q: 1.0 for q in bench.HEADLINE_QUERIES})
    patho["scale_probe"] = {
        f"probe_{'y' * 40}_{i}": {"exponent": 0.5} for i in range(20)
    }
    line2 = bench.compact_record(patho)
    assert len(line2) <= bench.COMPACT_BUDGET
    parsed2 = json.loads(line2)
    assert required <= set(parsed2)
    assert parsed2["n_queries"] == len(patho["queries"])


def test_compact_record_fits_budget_property():
    """Property over arbitrary payload inflation: compact_record must
    ALWAYS emit a parseable line within the driver window (an
    over-budget line records as a null BENCH), with the scalar
    identity fields (value, n_queries) intact no matter how much the
    trimmable containers grew."""
    import json
    import sys

    from hypothesis import given, settings
    from hypothesis import strategies as st

    sys.path.insert(0, str(PKG.parent))
    import bench

    real = json.loads((PKG.parent / "bench_full.json").read_text())

    @settings(max_examples=25, deadline=None)
    @given(
        nq=st.integers(0, 300), qlen=st.integers(1, 80),
        n_probe=st.integers(0, 40), plen=st.integers(1, 60),
        nc=st.integers(0, 40),
    )
    def prop(nq, qlen, n_probe, plen, nc):
        patho = dict(real)
        patho["queries"] = {f"q{'x' * qlen}{i}": 1.0 for i in range(nq)}
        patho["scale_probe"] = {
            f"p{'y' * plen}{i}": {"exponent": 0.5} for i in range(n_probe)
        }
        patho["convergence_depths"] = {
            f"c{'z' * plen}{i}": 7 for i in range(nc)
        }
        line = bench.compact_record(patho)
        assert len(line) <= bench.COMPACT_BUDGET
        parsed = json.loads(line)
        assert parsed["n_queries"] == nq
        assert parsed["value"] == real["value"]
        assert parsed["detail"] == "bench_full.json"

    prop()


def test_rotation_auto_advances_when_next_scoreboard_lands(tmp_path):
    """The point of the live rotation: the moment the driver's next
    CORRECTNESS file is committed, the head-50 must move PAST the
    just-checked queries to the next-stalest tier with no manual step.
    Simulated by copying the real scoreboards to a temp dir and adding a
    synthetic next-round file that marks the current head-50 green."""
    import json
    import shutil

    import __spark_entry__ as em
    from __spark_entry__ import rotation_order

    repo = Path(__file__).resolve().parent.parent
    existing = sorted(repo.glob("CORRECTNESS_r*.json"))
    assert existing, "no committed scoreboards to simulate from"
    for f in existing:
        shutil.copy(f, tmp_path / f.name)

    names = list(em.queries())
    order_now, _, _ = rotation_order(names, rounds_dir=tmp_path)
    head_now = order_now[:50]

    nxt = max(int(f.stem.split("_r")[1]) for f in existing) + 1
    green = {"rows_match": True, "schema_match": True, "hash_match": True}
    (tmp_path / f"CORRECTNESS_r{nxt:02d}.json").write_text(
        json.dumps({q: green for q in head_now})
    )

    order_after, last_after, _ = rotation_order(names, rounds_dir=tmp_path)
    head_after = set(order_after[:50])
    # the freshly-checked queries leave the window entirely...
    assert not (head_after & set(head_now)), (
        "just-checked queries still occupy window slots"
    )
    # ...and the window now holds exactly the stalest survivors
    survivors = sorted(
        (n for n in names if n not in set(head_now)),
        key=lambda n: (last_after[n], n),
    )
    assert head_after == set(survivors[:50])

    # a RED result, by contrast, must jump the queue immediately
    red_q = head_now[0]
    bad = {"rows_match": True, "schema_match": True, "hash_match": False}
    (tmp_path / f"CORRECTNESS_r{nxt:02d}.json").write_text(
        json.dumps({**{q: green for q in head_now}, red_q: bad})
    )
    order_red, _, red_map = rotation_order(names, rounds_dir=tmp_path)
    assert order_red[0] == red_q and red_q in red_map


def test_rotation_order_invariants_on_random_histories(tmp_path):
    """Property-fuzz the rotation mechanism the driver gate now rides on:
    for ANY scoreboard history, the order must be (1) a permutation of
    the registered names, (2) reds first sorted newest-red-first then
    name, (3) never-checked next alphabetical, (4) the rest oldest
    last-green first then name — and a red stays red until a LATER green
    clears it."""
    import json
    import random

    from __spark_entry__ import rotation_order

    rng = random.Random(7)
    names = [f"q{i:03d}" for i in range(60)]
    for trial in range(25):
        d = tmp_path / f"t{trial}"
        d.mkdir()
        # build a random history: 1-6 rounds, each checking a random
        # subset with random verdicts (greens heavily favored)
        expect_last: dict[str, int] = {n: 0 for n in names}
        expect_red: dict[str, int] = {}
        n_rounds = rng.randint(1, 6)
        for rnd in range(1, n_rounds + 1):
            window = rng.sample(names, rng.randint(0, 50))
            body = {}
            for q in window:
                green = rng.random() < 0.85
                body[q] = {
                    "rows_match": True,
                    "schema_match": True,
                    "hash_match": green,
                }
                expect_last[q] = max(expect_last[q], rnd)
                if green:
                    expect_red.pop(q, None)
                else:
                    expect_red[q] = rnd
            (d / f"CORRECTNESS_r{rnd:02d}.json").write_text(json.dumps(body))

        order, last, red = rotation_order(names, rounds_dir=d)
        assert sorted(order) == sorted(names)
        assert last == expect_last and red == expect_red
        reds = sorted(expect_red, key=lambda n: (-expect_red[n], n))
        never = sorted(
            n for n in names if expect_last[n] == 0 and n not in expect_red
        )
        rest = sorted(
            (n for n in names if expect_last[n] > 0 and n not in expect_red),
            key=lambda n: (expect_last[n], n),
        )
        assert order == reds + never + rest


def test_rotation_cycle_bound_every_query_checked_within_ceil(tmp_path):
    """Worst-case staleness is structural (VERDICT r11 item 7): with the
    stalest-first pick and a head-50 driver window, EVERY query is
    re-checked within ceil(N/50) rounds — simulate the driver loop from
    a cold start and assert the bound holds exactly, and that
    bench.rotation_age reports the same cycle bound."""
    import json
    import sys

    from __spark_entry__ import rotation_order

    names = [f"q{i:03d}" for i in range(194)]
    cycle = -(-len(names) // 50)  # 4
    green = {"rows_match": True, "schema_match": True, "hash_match": True}
    checked_round: dict[str, int] = {}
    first_checked: dict[str, int] = {}
    for rnd in range(1, 2 * cycle + 1):
        order, _, _ = rotation_order(names, rounds_dir=tmp_path)
        head = order[:50]
        (tmp_path / f"CORRECTNESS_r{rnd:02d}.json").write_text(
            json.dumps({q: green for q in head})
        )
        for q in head:
            prev = checked_round.get(q)
            if prev is not None:
                assert rnd - prev <= cycle, (q, prev, rnd)
            first_checked.setdefault(q, rnd)
            checked_round[q] = rnd
    # cold start: everything seen within the first cycle...
    assert all(first_checked[q] <= cycle for q in names)
    # ...and the second cycle re-checked everything (no starvation)
    assert all(checked_round[q] > cycle for q in names)

    sys.path.insert(0, str(PKG.parent))
    import bench

    import __spark_entry__ as em

    age = bench.rotation_age(list(em.queries()))
    assert age["cycle"] == -(-len(em._QUERIES) // 50)


def test_bench_noise_comparator_flags_uniform_drift():
    """VERDICT r10 item 5: uniform same-direction drift = host load, not
    plans — the flag must fire on >=80% same-direction rows and stay off
    on mixed drift or thin overlap."""
    import sys

    sys.path.insert(0, str(PKG.parent))
    import bench

    prev = ("BENCH_r99", {f"q{i}": 1.0 for i in range(20)}, 0.1, 32)
    up = {f"q{i}": 1.1 for i in range(20)}          # everything +10%
    down = {f"q{i}": 0.9 for i in range(20)}        # everything -10%
    mixed = {f"q{i}": (1.2 if i % 2 else 0.8) for i in range(20)}

    assert bench.noise_comparison(up, prev, sf=0.1)["suspect"] is True
    assert bench.noise_comparison(down, prev, sf=0.1)["suspect"] is True
    m = bench.noise_comparison(mixed, prev, sf=0.1)
    assert m["suspect"] is False and m["n_common"] == 20
    # thin overlap or no prior record: never suspect
    assert bench.noise_comparison({"q0": 2.0}, prev, sf=0.1)["suspect"] is False
    assert bench.noise_comparison(up, None, sf=0.1)["suspect"] is False
    # cross-sf comparison is meaningless — skipped, never suspect
    skip = bench.noise_comparison(up, prev, sf=0.01)
    assert skip["suspect"] is False and "skipped" in skip
    # so is a comparison across core counts
    skip = bench.noise_comparison(up, prev, sf=0.1, cpus=8)
    assert skip["suspect"] is False and "cpus mismatch" in skip["skipped"]
    # per-row ratios ride the full record
    assert bench.noise_comparison(up, prev, sf=0.1, cpus=32)["ratios"]["q3"] == 1.1


def test_bench_previous_round_queries_reads_committed_record():
    import sys

    sys.path.insert(0, str(PKG.parent))
    import bench

    got = bench.previous_round_queries(PKG.parent)
    assert got is not None
    name, queries, sf, cpus = got
    assert name.startswith("BENCH_r") and len(queries) >= 5
    assert all(isinstance(v, float) for v in queries.values())
    assert sf == 0.1  # the driver records at sf0.1


def test_bench_previous_round_queries_matches_the_core_count():
    """``BENCH_r14_c8`` is round 14 at 8 CPUs: the noise baseline of a
    c8 run is that record, and of a c32 run the c32 record of the same
    round — never the newest record whatever its core count."""
    import sys

    sys.path.insert(0, str(PKG.parent))
    import bench

    c8 = bench.previous_round_queries(PKG.parent, cpus=8)
    c32 = bench.previous_round_queries(PKG.parent, cpus=32)
    assert c8[0] == "BENCH_r14_c8" and c8[3] == 8
    assert c32[0] == "BENCH_r14" and c32[3] == 32
    assert bench.previous_round_queries(PKG.parent, cpus=3) is None


def test_bench_times_in_one_loop_and_ranks_truth_in_one_helper():
    """bench.py reads the clock only inside ``run_rows`` (its budget; every
    row time comes from the Tracer span in ``measure``) and calls
    ``argsort`` only inside ``exact_topk``."""
    import ast

    homes = {"time": "run_rows", "perf_counter": "run_rows", "argsort": "exact_topk"}
    offenders = []

    def visit(node, fn):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, ast.FunctionDef):
                visit(child, child.name if fn is None else fn)
                continue
            if isinstance(child, ast.Call) and isinstance(child.func, ast.Attribute):
                home = homes.get(child.func.attr)
                if home is not None and fn != home:
                    offenders.append(f"bench.py:{child.lineno} {child.func.attr} in {fn}")
            visit(child, fn)

    visit(ast.parse((PKG.parent / "bench.py").read_text()), None)
    assert not offenders, offenders


def test_filesystem_lookups_have_one_home():
    """Every Hadoop FileSystem lookup in the package goes through
    ``store/collections.py:hadoop_fs``."""
    hits = [
        str(path.relative_to(PKG.parent))
        for path in PKG.rglob("*.py")
        for _ in re.finditer(r"\.getFileSystem\(", path.read_text())
    ]
    assert hits == ["vectordb_etl_spark/store/collections.py"], hits


def test_bench_rotation_age_telemetry():
    import sys

    sys.path.insert(0, str(PKG.parent))
    import __spark_entry__ as entry
    import bench

    age = bench.rotation_age(entry._QUERIES)
    # repo has 10 rounds of committed scoreboards: every age signal real
    assert age["oldest"] >= 1
    # never-checked count is >=0 and bounded by the registry (it is >0
    # only in rounds that register new queries — do NOT pin >0 here)
    assert 0 <= age["never"] <= len(entry._QUERIES)


def test_bench_compact_carries_new_telemetry_under_budget():
    """noise/rotation/graph_serve_skew ride the compact line as scalars
    (never the per-row ratios) and the committed real record still fits
    the driver window with them attached."""
    import json
    import sys

    sys.path.insert(0, str(PKG.parent))
    import bench

    real = json.loads((PKG.parent / "bench_full.json").read_text())
    real = dict(real)
    real["noise_vs_prev"] = {
        "suspect": True, "frac_up": 0.95, "drift_med": 1.18,
        "n_common": 22, "vs": "BENCH_r10",
        "ratios": {f"q{i}": 1.18 for i in range(22)},
    }
    real["rotation_age"] = {"oldest": 7, "never": 2, "cycle": 4}
    real["graph_serve_skew"] = {
        "t_skew": 2.0, "t_balanced": 1.4, "t_compacted": 1.45,
        "penalty": 1.43, "penalty_compacted": 1.04,
        "n_shards": 10, "max_shard": 1000, "median_shard": 100,
        "max_over_median": 10.0, "max_over_median_compacted": 1.1,
        "recommend_compact_before": True, "recommend_compact_after": False,
        "derived_add_shards": 9, "note": "x",
    }
    # r12 widens sf1_checks to six rows (three dedup headliners + the two
    # serve tiers + etl); the compact line keeps one scalar per row
    real["sf1_checks"] = dict(real.get("sf1_checks") or {})
    for extra in ("ivf_serve", "graph_serve", "etl_pipeline"):
        real["sf1_checks"][extra] = {
            "t_1x": 1.0, "t_sf1": 3.0, "measured_exponent": 0.48,
            "design_exponent": 1.0, "measured_over_predicted": 0.3,
            "note": "x",
        }
    line = bench.compact_record(real)
    assert len(line) <= bench.COMPACT_BUDGET
    parsed = json.loads(line)
    assert parsed["noise"] == {
        "suspect": True, "frac_up": 0.95, "drift_med": 1.18,
        "vs": "BENCH_r10",
    }
    assert "ratios" not in json.dumps(parsed["noise"])
    assert parsed["rotation"] == {"oldest": 7, "never": 2, "cycle": 4}
    assert parsed["graph_serve_skew"] == {
        "penalty": 1.43, "skew": 10.0, "penalty_c": 1.04,
    }
    # headline rows still all survive the budget with telemetry attached
    assert set(parsed["queries"]) == {
        q for q in bench.HEADLINE_QUERIES if q in real["queries"]
    }

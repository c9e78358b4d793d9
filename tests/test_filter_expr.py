"""Milvus-style filter-expression string facade (reference
modules/search_utils.py:56,90; test/find_curriculum.py:19-24)."""

from __future__ import annotations

import pytest

from pyspark.sql import Column
from pyspark.sql import functions as F

from vectordb_etl_spark.functions.filter_expr import (
    FilterExprError,
    parse_filter,
)


@pytest.fixture(scope="module")
def df(spark):
    return spark.createDataFrame(
        [
            (0, "korean", "a.html", 3, 0.5),
            (1, "english", "b.html", 1, 1.5),
            (2, "korean", "c.jsp", 7, 2.5),
            (3, "vietnamese", "d.html", 2, 3.5),
        ],
        "id long, language string, filename string, n int, score double",
    )


def _ids(df, expr):
    return sorted(
        r["id"] for r in df.filter(parse_filter(expr)).select("id").collect()
    )


def test_reference_forms(df):
    # the two forms the reference actually issues
    assert _ids(df, 'language == "korean"') == [0, 2]
    assert _ids(df, 'filename == "b.html"') == [1]


def test_operators_and_literals(df):
    assert _ids(df, "n != 1") == [0, 2, 3]
    assert _ids(df, "n >= 3") == [0, 2]
    assert _ids(df, "score < 2.0") == [0, 1]
    assert _ids(df, "language == 'korean'") == [0, 2]  # single quotes too


def test_boolean_combinators(df):
    assert _ids(df, 'language == "korean" and n > 3') == [2]
    assert _ids(df, 'language == "english" or n == 2') == [1, 3]
    assert _ids(df, 'not language == "korean"') == [1, 3]
    assert _ids(df, '(language == "korean" or n == 1) and score > 1.0') == [1, 2]
    assert _ids(df, 'language == "korean" && n > 3') == [2]
    assert _ids(df, 'n == 1 || n == 2') == [1, 3]


def test_in_and_like(df):
    assert _ids(df, 'language in ["korean", "vietnamese"]') == [0, 2, 3]
    assert _ids(df, 'language not in ["korean"]') == [1, 3]
    assert _ids(df, 'n in [1, 2]') == [1, 3]
    assert _ids(df, 'filename like "%.html"') == [0, 1, 3]


def test_like_underscore_is_literal(spark):
    # Milvus `like` has only the % wildcard — _ and . must match literally
    # (Spark's native like would wildcard _, and a naive regex would
    # wildcard .)
    df = spark.createDataFrame(
        [(0, "my_doc1.html"), (1, "myXdoc1.html"), (2, "my_doc1xhtml")],
        "id long, fn string",
    )
    got = sorted(
        r["id"]
        for r in df.filter(parse_filter('fn like "my_doc%.html"')).collect()
    )
    assert got == [0]


def test_passthrough_and_empty():
    assert parse_filter(None) is None
    assert parse_filter("") is None
    assert parse_filter("   ") is None
    col = F.col("x") == 1
    assert parse_filter(col) is col


def test_errors():
    for bad in [
        'language ==',  # missing literal
        '== "x"',  # missing field
        'language == "korean" extra',  # trailing input
        'language in korean',  # in needs a bracketed list
        'language ~ "x"',  # unknown char
        'A. == 1',  # trailing dot is not a valid attribute name
        'a..b == 1',  # empty name part
    ]:
        with pytest.raises(FilterExprError):
            parse_filter(bad)


def test_predicate_pushdown_into_scan(spark, df, tmp_path):
    # string filters must reach the parquet scan like native Column filters
    p = str(tmp_path / "t.parquet")
    df.write.parquet(p)
    plan = (
        spark.read.parquet(p)
        .filter(parse_filter('language == "korean" and n >= 3'))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PushedFilters: [" in plan
    assert "EqualTo(language,korean)" in plan


def test_search_facade_accepts_filter_string(spark, tmp_path):
    from vectordb_etl_spark.config import EmbeddingConfig, StoreConfig
    from vectordb_etl_spark.embeddings import with_embeddings
    from vectordb_etl_spark.search import search_with_scores
    from vectordb_etl_spark.store.collections import CollectionStore

    cfg = EmbeddingConfig(dimension=16)
    store = CollectionStore(
        spark, StoreConfig(warehouse_dir=str(tmp_path / "wh"))
    )
    chunks = spark.createDataFrame(
        [
            ("c1", "seoul office address details", "korean", "hr"),
            ("c2", "office building directions", "english", "hr"),
            ("c3", "vacation policy", "english", "eng"),
        ],
        "chunk_id string, text string, language string, folder_name string",
    )
    store.insert_documents(
        with_embeddings(chunks, config=cfg), embed=False
    )
    hits = search_with_scores(
        store,
        "office",
        k=2,
        search_all_collections=True,
        filter='language == "english"',
        embedding_config=cfg,
    )
    assert hits and all(h.metadata["language"] == "english" for h in hits)

    # an EXPLICIT filter_language alongside a filter string is ANDed in,
    # not silently discarded (ADVICE r03: cli --filter + --language)
    both = search_with_scores(
        store,
        "office",
        k=3,
        search_all_collections=True,
        filter='folder_name == "hr"',
        filter_language="english",
        embedding_config=cfg,
    )
    assert both and all(
        h.metadata["language"] == "english"
        and h.metadata["folder_name"] == "hr"
        for h in both
    )
    assert len(both) == 1  # only c2 is both hr and english


# --------------------------------------------------------------------------
# property tests: well-formed expressions always parse; junk either parses
# or raises the TYPED error, never an unhandled exception. (Column
# construction needs an active SparkContext, hence the spark fixture.)
# --------------------------------------------------------------------------

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

IDENT = st.from_regex(r"[A-Za-z_][A-Za-z0-9_]{0,8}", fullmatch=True).filter(
    lambda s: s.lower() not in ("and", "or", "not", "in", "like", "true", "false")
)
STR_LIT = st.text(
    alphabet=st.characters(codec="utf-8", categories=("L", "N", "Z")),
    max_size=12,
).filter(lambda s: '"' not in s and "\\" not in s)
NUM_LIT = st.one_of(
    st.integers(-10**6, 10**6),
    st.floats(allow_nan=False, allow_infinity=False, width=32),
)
OP = st.sampled_from(["==", "!=", ">", ">=", "<", "<="])


@st.composite
def comparison(draw):
    name = draw(IDENT)
    op = draw(OP)
    lit = draw(st.one_of(STR_LIT.map(lambda s: f'"{s}"'), NUM_LIT.map(str)))
    return f"{name} {op} {lit}"


@st.composite
def boolean_expr(draw, depth=2):
    if depth == 0 or draw(st.booleans()):
        return draw(comparison())
    left = draw(boolean_expr(depth=depth - 1))
    right = draw(boolean_expr(depth=depth - 1))
    conj = draw(st.sampled_from(["and", "or"]))
    neg = "not " if draw(st.booleans()) else ""
    return f"{neg}({left} {conj} {right})"


@given(boolean_expr())
@settings(
    max_examples=100, deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_filter_parser_accepts_well_formed(spark, expr):
    assert parse_filter(expr) is not None


@given(st.text(max_size=40))
@settings(
    max_examples=200, deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_filter_parser_never_crashes_unexpectedly(spark, junk):
    try:
        parse_filter(junk)
    except FilterExprError:
        pass


# --------------------------------------------------------------------------
# semantic property tests (VERDICT r06 item 7): a generated AST rendered to
# a filter string and parsed back must select EXACTLY the rows a direct
# Python evaluation of the same AST selects — parser, precedence, operator
# translation and literal handling all under one differential oracle.
# --------------------------------------------------------------------------

import operator as _op


_FIELDS = {"n": "int", "score": "float", "language": "str"}
_LANGS = ["korean", "english", "vietnamese", "thai"]
_CMP = {
    "==": _op.eq, "!=": _op.ne, ">": _op.gt,
    ">=": _op.ge, "<": _op.lt, "<=": _op.le,
}


@st.composite
def _ast(draw, depth=3):
    kind = draw(st.sampled_from(
        ["cmp", "in", "and", "or", "not"] if depth > 0 else ["cmp", "in"]
    ))
    if kind == "cmp":
        field = draw(st.sampled_from(list(_FIELDS)))
        op = draw(st.sampled_from(list(_CMP)))
        if _FIELDS[field] == "int":
            lit = draw(st.integers(-5, 5))
        elif _FIELDS[field] == "float":
            lit = float(draw(st.integers(-50, 50))) / 10.0
        else:
            op = draw(st.sampled_from(["==", "!="]))
            lit = draw(st.sampled_from(_LANGS))
        return ("cmp", field, op, lit)
    if kind == "in":
        vals = draw(st.lists(st.sampled_from(_LANGS), min_size=1, max_size=3))
        return ("in", "language", draw(st.booleans()), vals)
    if kind == "not":
        return ("not", draw(_ast(depth=depth - 1)))
    return (kind, draw(_ast(depth=depth - 1)), draw(_ast(depth=depth - 1)))


def _render(node, parens_mode) -> str:
    # parens_mode 'always' wraps every boolean node; 'never' leans on the
    # grammar's precedence (and binds tighter than or) — both renderings
    # of the same AST must agree with the Python evaluation, which is
    # exactly the precedence property.
    kind = node[0]
    if kind == "cmp":
        _, f, op, lit = node
        lit_s = f'"{lit}"' if isinstance(lit, str) else repr(lit)
        return f"{f} {op} {lit_s}"
    if kind == "in":
        _, f, neg, vals = node
        vals_s = ", ".join(f'"{v}"' for v in vals)
        return f"{f} {'not in' if neg else 'in'} [{vals_s}]"
    if kind == "not":
        inner = _render(node[1], parens_mode)
        return f"not ({inner})"
    a = _render(node[1], parens_mode)
    b = _render(node[2], parens_mode)
    word = node[0]
    if parens_mode == "always":
        return f"({a}) {word} ({b})"
    # precedence-sensitive rendering: only wrap an OR child under AND
    # (the one place the flat string would rebind)
    if word == "and":
        if node[1][0] == "or":
            a = f"({a})"
        if node[2][0] == "or":
            b = f"({b})"
    return f"{a} {word} {b}"


def _eval(node, row) -> bool:
    kind = node[0]
    if kind == "cmp":
        _, f, op, lit = node
        return _CMP[op](row[f], lit)
    if kind == "in":
        _, f, neg, vals = node
        return (row[f] not in vals) if neg else (row[f] in vals)
    if kind == "not":
        return not _eval(node[1], row)
    if kind == "and":
        return _eval(node[1], row) and _eval(node[2], row)
    return _eval(node[1], row) or _eval(node[2], row)


_PROP_ROWS = [
    {"id": i, "n": n, "score": s / 10.0, "language": lang}
    for i, (n, s, lang) in enumerate(
        (n, s, lang)
        for n in (-3, 0, 2, 5)
        for s in (-15, 0, 25)
        for lang in _LANGS[:3]
    )
]


@pytest.fixture(scope="module")
def prop_df(spark):
    return spark.createDataFrame(
        [(r["id"], r["n"], r["score"], r["language"]) for r in _PROP_ROWS],
        "id long, n int, score double, language string",
    )


@given(_ast(), st.sampled_from(["always", "never"]))
@settings(
    max_examples=60, deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_filter_parser_differential_semantics(spark, prop_df, tree, parens):
    expr = _render(tree, parens)
    got = sorted(
        r["id"] for r in prop_df.filter(parse_filter(expr)).select("id").collect()
    )
    want = sorted(r["id"] for r in _PROP_ROWS if _eval(tree, r))
    assert got == want, expr


def test_filter_precedence_and_binds_tighter_than_or(df):
    # a == 1 or b and c must parse as a or (b and c); with (a or b) and c
    # the result differs on this fixture — the classic rebinding probe
    assert _ids(df, 'n == 1 or n == 7 and score > 2.0') == [1, 2]
    assert _ids(df, '(n == 1 or n == 7) and score > 2.0') == [2]
    # not binds tighter than and
    assert _ids(df, 'not n == 1 and score < 3.0') == [0, 2]


# --------------------------------------------------------------------------
# Dynamic-field resolution (enable_dynamic_field parity — reference
# modules/milvus_store.py:62-66): with a known column list, bare
# identifiers that aren't typed columns reach the `meta` map
# --------------------------------------------------------------------------


@pytest.fixture(scope="module")
def meta_df(spark):
    return spark.createDataFrame(
        [
            (0, "english", {"rating": "3", "origin": "WEB", "flag": "true"}),
            (1, "korean", {"rating": "10", "origin": "PDF", "flag": "false"}),
            (2, "english", {"rating": "7", "origin": "WEB"}),
            (3, "english", None),
        ],
        "id long, language string, meta map<string,string>",
    )


def _mids(df, expr):
    pred = parse_filter(expr, columns=df.columns)
    return sorted(r["id"] for r in df.filter(pred).select("id").collect())


def test_dynamic_field_string_equality(meta_df):
    assert _mids(meta_df, 'origin == "WEB"') == [0, 2]
    # typed columns still resolve typed, in the same expression
    assert _mids(meta_df, 'origin == "WEB" and language == "english"') == [0, 2]


def test_dynamic_field_numeric_comparison_casts(meta_df):
    # "10" must compare as 10.0, not lexicographically below "3"
    assert _mids(meta_df, "rating > 5") == [1, 2]
    assert _mids(meta_df, "rating <= 3") == [0]
    assert _mids(meta_df, "rating in [3, 7]") == [0, 2]
    # string in-list stays string-compared
    assert _mids(meta_df, 'origin in ["PDF"]') == [1]


def test_dynamic_field_bool_and_like(meta_df):
    assert _mids(meta_df, "flag == true") == [0]
    assert _mids(meta_df, 'origin like "W%"') == [0, 2]


def test_dynamic_field_missing_key_and_null_meta_never_match(meta_df):
    # id=2 lacks `flag`, id=3 has NULL meta: both must drop out, not error
    assert _mids(meta_df, 'flag == "false"') == [1]
    assert _mids(meta_df, "not rating > 0") == []


def test_without_columns_identifiers_stay_typed(meta_df):
    # pre-dynamic behavior unchanged: no columns list -> F.col(name),
    # which fails analysis on a non-column (the old contract)
    from pyspark.errors import AnalysisException

    pred = parse_filter('origin == "WEB"')
    with pytest.raises(AnalysisException):
        meta_df.filter(pred).collect()


def test_mixed_filter_typed_half_still_pushes_down(spark, tmp_path, meta_df):
    # map-element predicates can't reach the parquet scan, but the typed
    # half of a mixed filter must still land in PushedFilters — at 100 TB
    # the typed predicate is what prunes IO; the meta probe runs post-scan
    meta_df.write.parquet(str(tmp_path / "t"))
    df = spark.read.parquet(str(tmp_path / "t"))
    pred = parse_filter(
        'language == "english" and rating > 5', columns=df.columns
    )
    plan = df.filter(pred)._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan and "language" in plan.split(
        "PushedFilters: [", 1
    )[1].split("]", 1)[0]


def test_filter_renders_one_text_with_quoted_names_and_values(spark):
    """A filter is one Spark SQL text: names backquoted, string values
    escaped, so a quote, a backslash, LIKE's ``_`` or SQL in a value
    matches literally and cannot change the expression."""
    from vectordb_etl_spark.functions.filter_expr import filter_sql

    assert filter_sql('language == "korean"') == "(`language` = 'korean')"
    assert filter_sql("rating > 5", columns=["meta"]) == (
        "(CAST(`meta`['rating'] AS DOUBLE) > 5)"
    )
    df = spark.createDataFrame(
        [(0, "it's"), (1, "a\\b"), (2, "x_y"), (3, "xzy"), (4, "x' or '1'='1")],
        "id long, s string",
    )
    for expr, want in (
        ('s == "it\'s"', [0]),
        ('s == "a\\\\b"', [1]),
        ('s like "x_y"', [2]),
        ('s == "x\' or \'1\'=\'1"', [4]),
        ('s in ["xzy", "it\'s"]', [0, 3]),
    ):
        got = sorted(
            r["id"] for r in df.filter(parse_filter(expr)).select("id").collect()
        )
        assert got == want, expr

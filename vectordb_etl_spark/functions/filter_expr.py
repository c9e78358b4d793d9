"""Milvus-style boolean filter-expression strings → Spark Column predicates.

The reference's entire query surface is filter strings handed to Milvus:
``language == "korean"`` (modules/search_utils.py:56,90;
modules/quality_monitor.py:134) and ``filename == "x.html"``
(test/find_curriculum.py:19-24). This facade makes those strings drop-in:
``search(..., filter='language == "korean"')`` renders the Spark SQL text
``(`language` = 'korean')`` (:func:`filter_sql`), parsed in the JVM as ONE
expression — one py4j round trip however long the filter, where the
Column API pays several per field, literal and operator. From there
Catalyst pushes the predicate into the parquet scan exactly like a native
Column filter.

Grammar (covers Milvus boolean expressions over scalar fields):

    expr     := or_expr
    or_expr  := and_expr ( 'or' | '||' and_expr )*
    and_expr := not_expr ( 'and' | '&&' not_expr )*
    not_expr := 'not' not_expr | '(' expr ')' | comparison
    comparison := ident (('==','!=','>=','<=','>','<') literal
                  | 'like' string
                  | ['not'] 'in' '[' literal (',' literal)* ']')
    literal  := string ('"..."' or "'...'") | int | float | 'true' | 'false'

``like`` translates Milvus ``%`` wildcards to an anchored ``rlike`` (Milvus
has no ``_`` wildcard). Identifiers may be dotted (``meta.lang`` reaches
into structs). Identifiers render backquoted and string literals escaped
(functions/sqltext.py), so no filter value can change the expression's
shape.
"""

from __future__ import annotations

import re

from pyspark.sql import Column

from vectordb_etl_spark.functions.sqltext import (
    sql_col,
    sql_double,
    sql_name,
    sql_string,
)

_TOKEN_RE = re.compile(
    r"""\s*(?:
        (?P<string>"(?:[^"\\]|\\.)*"|'(?:[^'\\]|\\.)*')
      | (?P<number>-?\d+\.\d+(?:[eE][+-]?\d+)?|-?\d+(?:[eE][+-]?\d+)?)
      | (?P<op>==|!=|>=|<=|>|<|&&|\|\||\(|\)|\[|\]|,)
      | (?P<word>[A-Za-z_][A-Za-z0-9_]*(?:\.[A-Za-z_][A-Za-z0-9_]*)*)
    )""",
    re.VERBOSE,
)

_KEYWORDS = {"and", "or", "not", "in", "like", "true", "false"}


class FilterExprError(ValueError):
    pass


def _tokenize(text: str) -> list[tuple[str, object]]:
    tokens: list[tuple[str, object]] = []
    pos = 0
    while pos < len(text):
        m = _TOKEN_RE.match(text, pos)
        if not m:
            if text[pos:].strip():
                raise FilterExprError(
                    f"unexpected character {text[pos]!r} at offset {pos} "
                    f"in filter {text!r}"
                )
            break
        pos = m.end()
        if m.lastgroup == "string":
            raw = m.group("string")
            tokens.append(("lit", re.sub(r"\\(.)", r"\1", raw[1:-1])))
        elif m.lastgroup == "number":
            raw = m.group("number")
            is_float = "." in raw or "e" in raw or "E" in raw
            value = float(raw) if is_float else int(raw)
            if not is_float and not (-(2**63) <= value < 2**63):
                # beyond int64 Spark would parse a DECIMAL literal, which
                # F.lit cannot make; fail the parse contractually
                raise FilterExprError(
                    f"integer literal {raw} exceeds int64 range "
                    f"in filter {text!r}"
                )
            tokens.append(("lit", value))
        elif m.lastgroup == "op":
            tokens.append(("op", m.group("op")))
        else:
            word = m.group("word")
            lower = word.lower()
            if lower in ("true", "false"):
                tokens.append(("lit", lower == "true"))
            elif lower in _KEYWORDS:
                tokens.append(("kw", lower))
            else:
                tokens.append(("ident", word))
    return tokens


class _Parser:
    def __init__(
        self,
        tokens: list[tuple[str, object]],
        text: str,
        columns: list[str] | None = None,
        meta_col: str = "meta",
    ):
        self.tokens = tokens
        self.i = 0
        self.text = text
        self.columns = set(columns) if columns is not None else None
        self.meta_col = meta_col

    def _field(self, name: str) -> tuple[str, bool]:
        """Resolve a field reference. With a known column list, a bare
        identifier that is NOT a typed column resolves into the dynamic
        ``meta`` map (Milvus enable_dynamic_field semantics: filters name
        dynamic fields directly, the store resolves them into $meta —
        milvus_store.py:62-66). Dotted names stay struct accesses."""
        if (
            self.columns is not None
            and name not in self.columns
            and "." not in name
            and self.meta_col in self.columns
        ):
            return f"{sql_name(self.meta_col)}[{sql_string(name)}]", True
        return ".".join(sql_name(p) for p in name.split(".")), False

    def _peek(self) -> tuple[str, object] | None:
        return self.tokens[self.i] if self.i < len(self.tokens) else None

    def _next(self) -> tuple[str, object]:
        tok = self._peek()
        if tok is None:
            raise FilterExprError(f"unexpected end of filter {self.text!r}")
        self.i += 1
        return tok

    def _expect(self, kind: str, value: object | None = None) -> object:
        tok = self._next()
        if tok[0] != kind or (value is not None and tok[1] != value):
            raise FilterExprError(
                f"expected {value or kind}, got {tok[1]!r} in {self.text!r}"
            )
        return tok[1]

    def parse(self) -> str:
        col = self._or_expr()
        if self._peek() is not None:
            raise FilterExprError(
                f"trailing input from {self.tokens[self.i][1]!r} "
                f"in {self.text!r}"
            )
        return col

    def _or_expr(self) -> str:
        left = self._and_expr()
        while True:
            tok = self._peek()
            if tok in (("kw", "or"), ("op", "||")):
                self._next()
                left = f"({left} OR {self._and_expr()})"
            else:
                return left

    def _and_expr(self) -> str:
        left = self._not_expr()
        while True:
            tok = self._peek()
            if tok in (("kw", "and"), ("op", "&&")):
                self._next()
                left = f"({left} AND {self._not_expr()})"
            else:
                return left

    def _not_expr(self) -> str:
        tok = self._peek()
        if tok == ("kw", "not"):
            self._next()
            return f"(NOT {self._not_expr()})"
        if tok == ("op", "("):
            self._next()
            inner = self._or_expr()
            self._expect("op", ")")
            return inner
        return self._comparison()

    def _comparison(self) -> str:
        kind, name = self._next()
        if kind != "ident":
            raise FilterExprError(
                f"expected a field name, got {name!r} in {self.text!r}"
            )
        col, dynamic = self._field(str(name))
        kind, op = self._next()
        if kind == "op":
            rhs = self._literal()
            if dynamic:
                # meta values are stored as strings; a numeric/boolean
                # literal means the caller wants typed comparison — cast
                # the map value back (NULL for non-numeric garbage, which
                # correctly fails every comparison)
                if isinstance(rhs, bool):
                    col = f"CAST({col} AS BOOLEAN)"
                elif isinstance(rhs, (int, float)):
                    col = f"CAST({col} AS DOUBLE)"
            if op not in _SQL_OPS:
                raise FilterExprError(f"bad operator {op!r} in {self.text!r}")
            return f"({col} {_SQL_OPS[op]} {_sql_literal(rhs)})"
        if kind == "kw" and op == "like":
            pat = self._next()
            if pat[0] != "lit" or not isinstance(pat[1], str):
                raise FilterExprError(
                    f"like needs a string pattern in {self.text!r}"
                )
            # Milvus `like` has ONE wildcard: % (underscore is a literal).
            # Spark's LIKE would treat _ as a one-char wildcard, so
            # translate to an anchored regex instead: escape everything,
            # then turn % into .*
            regex = "^" + re.escape(pat[1]).replace("%", ".*") + "$"
            return f"({col} RLIKE {sql_string(regex)})"
        negate = False
        if kind == "kw" and op == "not":
            negate = True
            kind, op = self._next()
        if kind == "kw" and op == "in":
            self._expect("op", "[")
            values = [self._literal()]
            while self._peek() == ("op", ","):
                self._next()
                values.append(self._literal())
            self._expect("op", "]")
            if dynamic and all(
                isinstance(v, (int, float)) and not isinstance(v, bool)
                for v in values
            ):
                col = f"CAST({col} AS DOUBLE)"
            pred = f"({col} IN ({', '.join(_sql_literal(v) for v in values)}))"
            return f"(NOT {pred})" if negate else pred
        raise FilterExprError(
            f"expected a comparison after field, got {op!r} in {self.text!r}"
        )

    def _literal(self):
        tok = self._next()
        if tok[0] != "lit":
            raise FilterExprError(
                f"expected a literal, got {tok[1]!r} in {self.text!r}"
            )
        return tok[1]


_SQL_OPS = {"==": "=", "!=": "!=", ">": ">", ">=": ">=", "<": "<", "<=": "<="}


def _sql_literal(value) -> str:
    """A filter literal as the SQL literal of the type ``F.lit`` gives it:
    BOOLEAN, INT/BIGINT, DOUBLE or STRING."""
    if isinstance(value, bool):
        return "TRUE" if value else "FALSE"
    if isinstance(value, int):
        return str(value)
    if isinstance(value, float):
        return sql_double(value)
    return sql_string(value)


def filter_sql(
    expr: str,
    columns: list[str] | None = None,
    meta_col: str = "meta",
) -> str | None:
    """A Milvus-style filter string as Spark SQL predicate text (None for
    a blank string); :func:`parse_filter` documents the resolution."""
    tokens = _tokenize(expr)
    if not tokens:
        return None
    return _Parser(tokens, expr, columns=columns, meta_col=meta_col).parse()


def parse_filter(
    expr: str | Column | None,
    columns: list[str] | None = None,
    meta_col: str = "meta",
) -> Column | None:
    """Parse a Milvus-style filter string into a Spark Column predicate:
    the :func:`filter_sql` text as one parsed expression.

    Column and None pass through, so call sites accept either surface.

    With ``columns`` (the target table's schema), bare identifiers that
    are not typed columns resolve into the dynamic ``meta_col`` map —
    the reference's enable_dynamic_field filter surface, where
    ``my_extra_field == "x"`` transparently reaches the $meta blob
    (milvus_store.py:62-66). Without ``columns`` every identifier is a
    typed column reference (the pre-dynamic behavior)."""
    if expr is None or isinstance(expr, Column):
        return expr
    text = filter_sql(expr, columns=columns, meta_col=meta_col)
    return None if text is None else sql_col(text)

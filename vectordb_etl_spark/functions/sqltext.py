"""Plans built from SQL text and cached JVM handles.

Building a plan through PySpark's Column API costs py4j round trips:
every ``F.<fn>`` call resolves ``org.apache.spark.sql.functions`` and the
member again (3 round trips), every lambda of a higher-order function a
few more, and every list of columns or names one round trip per item.
A search that builds its plan that way makes hundreds of them, and two
serving threads share one gateway. The helpers here build the same plan
from SQL text parsed in the JVM, through handles resolved once per
gateway: an expression is one round trip at any size, a projection or a
list of paths two.

Text rendering follows Spark's default parser settings (backslash escapes
in string literals, ``spark.sql.parser.escapedStringLiterals=false``).
Where a function also has a DuckDB rendering for the oracle (the
``*_sql`` builders of the text, language, cleaning and chunker modules),
its Spark-SQL text builder ends in ``_spark_sql``, so the two dialects
never share a name.
"""

from __future__ import annotations

import math

from pyspark import SparkContext
from pyspark.sql import Column, DataFrame

FUNCTIONS = "org.apache.spark.sql.functions"
_STRING_UTILS = "org.apache.commons.lang3.StringUtils"
# joins a string list for one split in the JVM; no identifier, path or
# expression this package renders contains it
_SEP = "\x1f"

# (class, member) -> (gateway, handle)
_HANDLES: dict[tuple[str, str | None], tuple[object, object]] = {}


def jvm_static(cls: str, member: str | None = None):
    """The py4j handle of the JVM class ``cls``, or of its static
    ``member``, resolved once per gateway. Each resolution is one round
    trip per lookup; a call on the cached handle is one round trip."""
    sc = SparkContext._active_spark_context
    if sc is None:
        raise RuntimeError("a JVM handle needs a running SparkContext")
    gateway = sc._gateway
    hit = _HANDLES.get((cls, member))
    if hit is not None and hit[0] is gateway:
        return hit[1]
    handle = getattr(sc._jvm, cls)
    if member is not None:
        handle = getattr(handle, member)
    _HANDLES[(cls, member)] = (gateway, handle)
    return handle


def sql_col(text: str) -> Column:
    """``F.expr(text)`` in one round trip."""
    return Column(jvm_static(FUNCTIONS, "expr")(text))


def jvm_strings(items):
    """A JVM ``String[]`` of ``items`` in one round trip: joined here and
    split in the JVM, where py4j's list conversion makes one per item."""
    items = list(items)
    if any(_SEP in s for s in items):
        raise ValueError("a string holds the list separator U+001F")
    return jvm_static(_STRING_UTILS, "splitByWholeSeparatorPreserveAllTokens")(
        _SEP.join(items), _SEP
    )


def jvm_seq(items: list):
    """A Scala ``Seq`` of JVM objects: py4j's list conversion (one round
    trip per item and one more) and one call on a cached handle."""
    return jvm_static("org.apache.spark.api.python.PythonUtils", "toSeq")(items)


def select_sql(df: DataFrame, exprs: list[str]) -> DataFrame:
    """``df.selectExpr(*exprs)`` in two round trips at any width."""
    return DataFrame(df._jdf.selectExpr(jvm_strings(exprs)), df.sparkSession)


def select_names(df: DataFrame, names) -> DataFrame:
    """``df.select(*names)`` in two round trips at any width."""
    return select_sql(df, [sql_name(n) for n in names])


def with_columns_sql(
    df: DataFrame, exprs: dict[str, str], columns: list[str]
) -> DataFrame:
    """``df.withColumns({name: F.expr(text)})`` in two round trips, given
    ``df``'s column names: a column that ``df`` has is replaced in place,
    a new one is appended, in ``exprs`` order."""
    out = [
        f"{exprs[c]} AS {sql_name(c)}" if c in exprs else sql_name(c)
        for c in columns
    ]
    out += [f"{t} AS {sql_name(c)}" for c, t in exprs.items() if c not in columns]
    return select_sql(df, out)


def apply_in_pandas(
    df: DataFrame, names: list[str], keys: list[str], func, schema
) -> DataFrame:
    """``df.groupBy(*keys).applyInPandas(func, schema)`` where ``names``
    are ``df``'s columns (the caller's own select list), so the JVM is
    not asked for the schema again; the profiler hooks of PySpark's UDF
    call are skipped."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.util import PythonEvalType

    udf = pandas_udf(
        func, returnType=schema,
        functionType=PythonEvalType.SQL_GROUPED_MAP_PANDAS_UDF,
    )._unwrapped
    jdf = df._jdf
    call = udf._judf.apply(jvm_seq([jdf.col(name) for name in names]))
    grouped = jdf.groupBy(keys[0], jvm_strings(keys[1:]))
    return DataFrame(grouped.flatMapGroupsInPandas(call), df.sparkSession)


def sort_limit(df: DataFrame, keys: list[tuple[str, bool]], k: int) -> DataFrame:
    """``df.orderBy(...).limit(k)`` over ``(column, ascending)`` keys —
    ``asc`` puts nulls first and ``desc`` last, as ``F.asc``/``F.desc``
    do — in two round trips per key and four more."""
    asc, desc = jvm_static(FUNCTIONS, "asc"), jvm_static(FUNCTIONS, "desc")
    cols = jvm_seq([(asc if up else desc)(name) for name, up in keys])
    return DataFrame(df._jdf.sort(cols).limit(k), df.sparkSession)


# cache: (session, schema json, options) -> JVM DataFrameReader holding
# them; keys are immutable, so sharing it between callers is safe
_READERS: dict[tuple, object] = {}
_READERS_MAX = 64


def read_parquet(spark, schema, paths: list[str], **options: str) -> DataFrame:
    """``spark.read.schema(schema).options(**options).parquet(*paths)`` —
    one scan of every path under one read schema, which runs no
    inference job. The JVM reader for a schema is made once per session
    (a reader's ``parquet`` call does not change it), so a warm read is
    two round trips at any number of paths, one for a single path."""
    key = (spark, schema.json(), tuple(sorted(options.items())))
    reader = _READERS.get(key)
    if reader is None:
        if len(_READERS) >= _READERS_MAX:
            _READERS.clear()
        reader = spark.read.schema(schema).options(**options)._jreader
        _READERS[key] = reader
    arg = paths[0] if len(paths) == 1 else jvm_strings(paths)
    return DataFrame(reader.parquet(arg), spark)


def sql_name(name: str) -> str:
    """A backquoted identifier: one column name, dots included."""
    return "`" + name.replace("`", "``") + "`"


def sql_string(value: str) -> str:
    """A SQL string literal holding exactly ``value``."""
    return "'" + value.replace("\\", "\\\\").replace("'", "\\'") + "'"


def sql_double(value: float) -> str:
    """A DOUBLE literal with ``value``'s exact bits: the shortest
    round-trip repr with a ``D`` suffix (parsed back correctly rounded,
    signed zeros included), and a cast string for NaN and ±inf."""
    value = float(value)
    if math.isnan(value):
        return "CAST('NaN' AS DOUBLE)"
    if math.isinf(value):
        return f"CAST('{'-' if value < 0 else ''}Infinity' AS DOUBLE)"
    return f"{value!r}D"


def sql_of(col: Column | str) -> str:
    """SQL text of a column name (backquoted) or of a plain Column
    expression (its node's own rendering)."""
    return sql_name(col) if isinstance(col, str) else col._jc.node().sql()


def regexp_replace_sql(expr: str, pattern: str, replacement: str) -> str:
    """Spark SQL text of ``regexp_replace`` (Java regex, every match
    replaced, ``$n`` group references)."""
    return f"regexp_replace({expr}, {sql_string(pattern)}, {sql_string(replacement)})"


def count_matches_sql(expr: str, pattern: str) -> str:
    """Spark SQL text of the number of characters of ``expr`` that the
    one-character class ``pattern`` matches."""
    return f"(length({expr}) - length({regexp_replace_sql(expr, pattern, '')}))"

"""Text-cleaning pipeline (operators P1/P2 of SURVEY.md §2.2).

Reimplements the reference's ordered regex battery
(reference: modules/text_cleaner.py:166-224, patterns at 13-136) as a single
shared table of ``(pattern, replacement)`` steps from which BOTH renderings
are generated:

- :func:`clean_text_spark_sql` — a chained ``regexp_replace`` Spark SQL
  expression, which :func:`clean_text_col` parses into a Column (pure JVM,
  stays inside whole-stage codegen; no Python in the hot path);
- :func:`clean_text_sql` — the equivalent DuckDB SQL expression used as the
  correctness oracle.

Portability deviations from the reference (documented, by design):

- The reference's one lookbehind/lookahead pattern
  (``(?<![가-힣])[a-zA-Z]{1,2}\\d+(?![가-힣])``, text_cleaner.py:131) is
  rewritten with explicit boundary capture groups because RE2 (DuckDB) has no
  lookaround. Both engines run the SAME rewritten pattern.
- ``\\w`` is ASCII in both Java regex and RE2 (the reference's Python ``\\w``
  is Unicode); effect is negligible because the whitelist step has already
  removed non-Korean scripts.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from vectordb_etl_spark.functions.sqltext import regexp_replace_sql, sql_col, sql_of

# --------------------------------------------------------------------------
# shared pattern data
# --------------------------------------------------------------------------


def _ranges(*pairs: tuple[int, int]) -> str:
    """Build a character-class body of literal codepoint ranges."""
    return "".join(f"{chr(a)}-{chr(b)}" for a, b in pairs)


# HWP-garbage Unicode ranges (reference: text_cleaner.py:55-107)
_HWP_GARBAGE_CLASS = _ranges(
    (0x0080, 0x00FF), (0x0100, 0x017F), (0x0180, 0x024F), (0x0250, 0x02AF),
    (0x0300, 0x036F), (0x0370, 0x03FF), (0x0400, 0x04FF), (0x0500, 0x052F),
    (0x0530, 0x058F), (0x0590, 0x05FF), (0x0600, 0x06FF), (0x0700, 0x074F),
    (0x0900, 0x097F), (0x0980, 0x09FF), (0x0B00, 0x0B7F), (0x0B80, 0x0BFF),
    (0x0C00, 0x0C7F), (0x0D00, 0x0D7F), (0x0E00, 0x0E7F), (0x1000, 0x109F),
    (0x10A0, 0x10FF), (0x1100, 0x11FF), (0x1200, 0x137F), (0x1400, 0x167F),
    (0x2000, 0x206F), (0x2070, 0x209F), (0x20A0, 0x20CF), (0x2100, 0x214F),
    (0x2150, 0x218F), (0x2190, 0x21FF), (0x2200, 0x22FF), (0x2300, 0x23FF),
    (0x2400, 0x243F), (0x2440, 0x245F), (0x2460, 0x24FF), (0x2500, 0x257F),
    (0x2580, 0x259F), (0x25A0, 0x25FF), (0x2600, 0x26FF), (0x2700, 0x27BF),
    (0x3000, 0x303F), (0x3040, 0x309F), (0x30A0, 0x30FF), (0x3100, 0x312F),
    (0x3200, 0x32FF), (0x3300, 0x33FF), (0xFE00, 0xFEFF), (0xFF00, 0xFFEF),
    (0xFFF0, 0xFFFF), (0x10000, 0x1FFFF),
)

# whitelist (reference: text_cleaner.py:111-113)
_ALLOWED_CLASS = (
    r"[^\sa-zA-Z0-9가-힣ㄱ-ㅎㅏ-ㅣ.,!?:;'\"\-()\[\]{}/\n\r\t@#$%&*+=~`<>|\\^·•※◎○●◆■□]"
)

# special chars outside basic punctuation (reference: text_cleaner.py:52)
_SPECIAL_CLASS = r"[^\w\s가-힣ㄱ-ㅎㅏ-ㅣa-zA-Z0-9.,!?;:'\"\-()\[\]{}+@/·•]"

# emoji ranges (reference: text_cleaner.py:13-21)
_EMOJI_CLASS = "[" + _ranges(
    (0x1F600, 0x1F64F), (0x1F300, 0x1F5FF), (0x1F680, 0x1F6FF), (0x1F1E0, 0x1F1FF)
) + "]+"

# Each step: (pattern, spark_replacement, duckdb_replacement).
# Replacements differ only where capture-group references appear
# (Java uses $1, RE2 uses \1). Order matters — it is the reference's order
# (text_cleaner.py:166-224).
CLEAN_STEPS: list[tuple[str, str, str]] = [
    # 0. HWP binary garbage ranges → ' '  (text_cleaner.py:172)
    (f"[{_HWP_GARBAGE_CLASS}]+", " ", " "),
    # 0.1 whitelist filter → ' '  (text_cleaner.py:175)
    (_ALLOWED_CLASS, " ", " "),
    # 0.2 HWP noise patterns → ' '  (text_cleaner.py:116-136, 178-179)
    (r"[밼밾뀀뀜럑됀쀀쀜쀌쟑쮜뛵픀븀휀렀낭갊뗈퐀팀햀쐀쐐썀썐찀쨀쩐짐쪠짤팜팠]\s*", " ", " "),
    (r"[엀움은윀쁀쁘뻘뺘빀삐삘쌤씀썼쎄쐬쒀쓔쓰씌앜얘옜웨윔읨윙읭욀]\s*", " ", " "),
    (r"[낗삓삙낸쓅맂곂탗탉랺곅섀쓇먈쇑눀뤀엌얮쓍샅헒밀곇딀솳쒬겼쓀킭봀쀄탅쀠뒭탇듅랬]\s*", " ", " "),
    (r"[냖멎넀슻췀븷쀔쀐쀘뜀늲]\s*", " ", " "),
    (r"(?:[A-Z]\s+){3,}", " ", " "),
    (r"\b[A-Z]\b(?:\s+\b[A-Z]\b){2,}", " ", " "),
    (r"耀[^가-힣]*", " ", " "),
    (r"[而戀肮]\s*", " ", " "),
    (r"(?:\s[a-zA-Z]\s){2,}", " ", " "),
    (r"저\s*\n\s*저\s*\n", " ", " "),
    (r"원본 그림의 이름:[^\n]*", " ", " "),
    (r"원본 그림의 크기:[^\n]*", " ", " "),
    (r"\d+pixel", " ", " "),
    # lookaround-free rewrite of text_cleaner.py:131 (see module docstring)
    (r"(^|[^가-힣])[a-zA-Z]{1,2}\d+([^가-힣]|$)", "$1 $2", r"\1 \2"),
    (r"저\d*\s*저?\d*", " ", " "),
    (r"톱니모양의[^\n]*", " ", " "),
    (r"화살표입니다[^\n]*", " ", " "),
    (r"그림입니다[^\n]*", " ", " "),
    # 1. HTML tags → ' '  (text_cleaner.py:182)
    (r"<[^>]+>", " ", " "),
    # 2. template tags → ''  (text_cleaner.py:24-30, case-insensitive)
    (r"(?i)\{\{#?/?[^}]+\}\}", "", ""),
    (r"(?i)\{%[^%]+%\}", "", ""),
    (r"(?i)\$\{[^}]+\}", "", ""),
    (r"(?i)<%[^%]+%>", "", ""),
    (r"(?i)\[\[[^\]]+\]\]", "", ""),
    # 3. JavaScript → ''  (text_cleaner.py:44-49)
    (r"(?i)javascript:\s*void\s*\([^)]*\)", "", ""),
    (r"""(?i)onclick\s*=\s*["'][^"']+["']""", "", ""),
    (r"(?i)PageScript\.[a-zA-Z]+\([^)]*\)", "", ""),
    (r"(?i)function\s*\([^)]*\)\s*\{[^}]*\}", "", ""),
    # 4. emoji → ''  (text_cleaner.py:13-21)
    (_EMOJI_CLASS, "", ""),
    # 5. header/footer → ''  (text_cleaner.py:33-41, ci+multiline)
    (r"(?im)Copyright.*?\d{4}", "", ""),
    (r"(?im)All [Rr]ights [Rr]eserved", "", ""),
    (r"(?im)Page\s*\d+\s*(of\s*\d+)?", "", ""),
    (r"(?im)^\s*\d+\s*$", "", ""),
    (r"(?im)\|\s*Page\s*\d+", "", ""),
    (r"(?im)www\..*?\.com", "", ""),
    (r"(?im)http[s]?://(?:[a-zA-Z]|[0-9]|[$-_@.&+]|[!*\\(),]|(?:%[0-9a-fA-F][0-9a-fA-F]))+", "", ""),
    # 6. special chars → ' '  (text_cleaner.py:52, 200)
    (_SPECIAL_CLASS, " ", " "),
    # 7. duplicate spaces/tabs → ' '  (text_cleaner.py:203)
    (r"[ \t]+", " ", " "),
    # 8. duplicate newlines  (text_cleaner.py:206-207)
    (r"\n\s*\n", "\n\n", "\n\n"),
    (r"\n{3,}", "\n\n", "\n\n"),
]


def _sql_quote(s: str) -> str:
    """Quote a string as a standard-SQL single-quoted literal (DuckDB)."""
    return "'" + s.replace("'", "''") + "'"


# --------------------------------------------------------------------------
# P1 clean_text
# --------------------------------------------------------------------------


def clean_text_spark_sql(expr: str) -> str:
    """P1 — the ordered cleaning pipeline as Spark SQL text over ``expr``.

    Step 9 (per-line strip + collapse blank runs, text_cleaner.py:210-222) is
    expressed with higher-order functions: split → transform(trim) → join,
    then a final blank-run collapse + trim.
    """
    e = expr
    for pattern, spark_repl, _ in CLEAN_STEPS:
        e = regexp_replace_sql(e, pattern, spark_repl)
    # step 9: trim each line, collapse runs of blank lines to one, strip ends
    e = f"array_join(transform(split({e}, '\\n'), line -> trim(line)), '\\n')"
    e = regexp_replace_sql(e, r"\n{3,}", "\n\n")
    return f"trim({e})"


def clean_text_col(col: Column | str) -> Column:
    """P1 — :func:`clean_text_spark_sql` as a Column (pure JVM; no
    Python in the hot path)."""
    return sql_col(clean_text_spark_sql(sql_of(col)))


def clean_text_sql(expr: str) -> str:
    """DuckDB rendering of :func:`clean_text_spark_sql` (the oracle)."""
    e = expr
    for pattern, _, duck_repl in CLEAN_STEPS:
        e = f"regexp_replace({e}, {_sql_quote(pattern)}, {_sql_quote(duck_repl)}, 'g')"
    e = (
        f"array_to_string(list_transform(string_split({e}, chr(10)), "
        f"x -> trim(x)), chr(10))"
    )
    e = f"regexp_replace({e}, '\\n{{3,}}', {_sql_quote(chr(10) * 2)}, 'g')"
    return f"trim({e})"


# --------------------------------------------------------------------------
# P2 clean_hwp_text — P1 then line-viability filter then whitespace collapse
# (reference: text_cleaner.py:139-163)
# --------------------------------------------------------------------------


def clean_hwp_text_col(col: Column | str) -> Column:
    c = clean_text_col(col)
    lines = F.transform(F.split(c, "\n"), lambda x: F.trim(x))
    kept = F.filter(
        lines,
        lambda x: (
            F.length(F.regexp_replace(x, "[^가-힣]", "")) >= F.lit(3)
        )
        | (F.length(x) >= F.lit(10)),
    )
    c = F.array_join(kept, "\n")
    c = F.regexp_replace(c, r"\s+", " ")  # text_cleaner.py:160
    return F.trim(c)


def clean_hwp_text_sql(expr: str) -> str:
    e = clean_text_sql(expr)
    e = (
        f"array_to_string(list_filter(list_transform(string_split({e}, chr(10)), "
        f"x -> trim(x)), x -> length(regexp_replace(x, '[^가-힣]', '', 'g')) >= 3 "
        f"OR length(x) >= 10), chr(10))"
    )
    e = f"regexp_replace({e}, '\\s+', ' ', 'g')"
    return f"trim({e})"

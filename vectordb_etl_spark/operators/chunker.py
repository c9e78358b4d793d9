"""Hybrid chunking operators C1–C7 (SURVEY.md §2.3).

The reference chunks per document with a LangChain
``RecursiveCharacterTextSplitter`` (reference: modules/chunker.py:37-43) and
an undersize-merge fold (modules/chunker.py:75-125). Chunking is a pure
deterministic function of one document's text, so the Spark shape is:

    pandas UDF (text -> array<string>)  →  posexplode  →  column exprs

Parallelism is across documents — the same grain as the reference's per-doc
loop — and the per-document sequential merge fold (order-dependent by design,
SURVEY.md §7.4) stays inside the UDF. Everything after the explode
(chunk_index, total_chunks, sizes, ids, dedup) is pure column expressions.

The splitter algorithm below reimplements the publicly documented LangChain
recursive-split semantics (separator cascade, keep-separator, windowed
overlap merge) from its public API contract — not a copy of reference code.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterable

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, StringType

from vectordb_etl_spark.config import ChunkerConfig
from vectordb_etl_spark.functions.sqltext import (
    regexp_replace_sql,
    select_names,
    select_sql,
    sql_col,
    sql_name,
    sql_of,
)
from vectordb_etl_spark.functions.text import chunk_id_spark_sql, estimate_tokens_spark_sql

# --------------------------------------------------------------------------
# C1 — recursive character split (pure Python, runs inside the pandas UDF)
# --------------------------------------------------------------------------


def _split_keep_separator(text: str, separator: str) -> list[str]:
    """Split so each piece after the first starts with the separator
    (LangChain keep_separator=True behavior)."""
    if separator == "":
        return list(text)
    raw = text.split(separator)
    out = [raw[0]] + [separator + piece for piece in raw[1:]]
    return [p for p in out if p != ""]


def _merge_splits(
    splits: Iterable[str], chunk_size: int, chunk_overlap: int
) -> list[str]:
    """Greedy window merge with overlap carry-back (public splitter contract:
    join pieces up to chunk_size; on flush, retain a trailing window of at
    most chunk_overlap chars as the start of the next chunk)."""
    docs: list[str] = []
    current: list[str] = []
    total = 0
    for d in splits:
        length = len(d)
        if total + length > chunk_size and current:
            doc = "".join(current).strip()
            if doc:
                docs.append(doc)
            while total > chunk_overlap or (total + length > chunk_size and total > 0):
                total -= len(current[0])
                current.pop(0)
        current.append(d)
        total += length
    doc = "".join(current).strip()
    if doc:
        docs.append(doc)
    return docs


def recursive_split(text: str, config: ChunkerConfig) -> list[str]:
    """C1 — recursive character split (reference config: chunk_size=300,
    overlap=60, separator cascade of modules/config.py:81-92)."""

    def _go(text: str, separators: tuple[str, ...]) -> list[str]:
        separator = separators[-1]
        remaining: tuple[str, ...] = ()
        for i, sep in enumerate(separators):
            if sep == "":
                separator = sep
                break
            if sep in text:
                separator = sep
                remaining = separators[i + 1 :]
                break
        pieces = _split_keep_separator(text, separator)
        final: list[str] = []
        good: list[str] = []
        for piece in pieces:
            if len(piece) < config.chunk_size:
                good.append(piece)
            else:
                if good:
                    final.extend(
                        _merge_splits(good, config.chunk_size, config.chunk_overlap)
                    )
                    good = []
                if not remaining:
                    stripped = piece.strip()
                    if stripped:
                        final.append(stripped)
                else:
                    final.extend(_go(piece, remaining))
        if good:
            final.extend(_merge_splits(good, config.chunk_size, config.chunk_overlap))
        return final

    if not text:
        return []
    return _go(text, tuple(config.separators))


# --------------------------------------------------------------------------
# C3 + C4 — size optimization: oversize re-split, undersize merge fold
# (reference: modules/chunker.py:144-156, 75-125)
# --------------------------------------------------------------------------


def _merge_small_chunks(chunks: list[str], config: ChunkerConfig) -> list[str]:
    """C4 — sequential buffer fold merging adjacent small chunks with '\\n'
    while the merge stays ≤ max_chunk_size (modules/chunker.py:75-125)."""
    if not chunks:
        return chunks
    merged: list[str] = []
    buffer: str | None = None
    for chunk in chunks:
        if buffer is None:
            buffer = chunk
        elif len(buffer) < config.min_chunk_size or len(chunk) < config.min_chunk_size:
            candidate = buffer + "\n" + chunk
            if len(candidate) <= config.max_chunk_size:
                buffer = candidate
            else:
                merged.append(buffer)
                buffer = chunk
        else:
            merged.append(buffer)
            buffer = chunk
    if buffer is not None:
        merged.append(buffer)
    return merged


# --------------------------------------------------------------------------
# C2 — semantic split (optional stage 1 of hybrid; reference chunker.py:45-63,
# 131-141). Reimplements the publicly documented SemanticChunker contract:
# embed sentences, distance between consecutive sentence embeddings,
# breakpoints at the given percentile, group sentences between breakpoints.
# Deterministic with the hash embedder; falls back to no-op on any failure
# exactly like the reference (chunker.py:137-141).
# --------------------------------------------------------------------------

_SENTENCE_RE = None  # compiled lazily inside the UDF worker


def semantic_split(
    text: str,
    embedder,
    breakpoint_percentile: float = 70.0,
) -> list[str]:
    """Split at embedding-distance breakpoints between consecutive sentences.
    ``embedder`` is any object with embed_documents(list[str]) -> list[vec]
    (normalized); distance = 1 − dot."""
    global _SENTENCE_RE
    import re

    import numpy as np

    if _SENTENCE_RE is None:
        _SENTENCE_RE = re.compile(r"(?<=[.!?।。])\s+|\n{2,}")
    sentences = [s for s in _SENTENCE_RE.split(text) if s and s.strip()]
    if len(sentences) < 3:
        return [text]
    try:
        embs = np.asarray(embedder.embed_documents(sentences), dtype=np.float64)
        dists = 1.0 - (embs[:-1] * embs[1:]).sum(axis=1)
        threshold = float(np.percentile(dists, breakpoint_percentile))
        groups: list[list[str]] = [[sentences[0]]]
        for s, d in zip(sentences[1:], dists):
            if d > threshold:
                groups.append([s])
            else:
                groups[-1].append(s)
        return [" ".join(g) for g in groups]
    except Exception:
        return [text]  # reference fallback: semantic stage is best-effort


def chunk_text(
    text: str, config: ChunkerConfig | None = None, embedder=None
) -> list[str]:
    """Full per-document pipeline C2→C1/C3→C4 (semantic stage C2 optional and
    off by default, matching the reference fallback, chunker.py:47-63):
    pieces > max_chunk_size are recursively split, then small neighbors are
    merged (modules/chunker.py:127-156)."""
    config = config or ChunkerConfig()
    if not text:
        return []
    if config.chunking_mode == "hybrid" and embedder is not None:
        pieces = semantic_split(
            text, embedder, config.semantic_breakpoint_percentile
        )
    else:
        pieces = [text]
    optimized: list[str] = []
    for piece in pieces:
        if len(piece) > config.max_chunk_size:
            optimized.extend(recursive_split(piece, config))
        else:
            optimized.append(piece)
    return _merge_small_chunks(optimized, config)


# --------------------------------------------------------------------------
# C5 + C7 — Spark operator: explode chunks with metadata enrichment
# --------------------------------------------------------------------------


def chunk_documents(
    df: DataFrame,
    config: ChunkerConfig | None = None,
    text_col: str = "text",
    source_col: str = "source",
    embedding_config=None,
) -> DataFrame:
    """One row per chunk, carrying all document columns plus
    chunk_index / total_chunks / chunk_size_chars / chunk_size_tokens /
    chunk_id (reference: modules/chunker.py:162-171).

    Scale note: `total_chunks` comes from `size(chunks)` computed BEFORE the
    explode — no window, no extra shuffle; the whole operator is map-side.
    """
    config = config or ChunkerConfig()
    hybrid = config.chunking_mode == "hybrid"
    emb_cfg = embedding_config

    @F.pandas_udf(ArrayType(StringType()))
    def chunk_udf(texts: pd.Series) -> pd.Series:
        embedder = None
        if hybrid:
            # lazy per-worker embedder init (reference singleton pattern,
            # embeddings.py:20-30) — model loads once per executor process
            from vectordb_etl_spark.embeddings import get_embedder

            embedder = get_embedder(emb_cfg)
        return texts.map(lambda t: chunk_text(t or "", config, embedder))

    return attach_chunk_metadata(
        df.withColumn("__chunks", chunk_udf(F.col(text_col))),
        chunks_col="__chunks",
        text_col=text_col,
        source_col=source_col,
    )


def _sep_sql_quote(s: str) -> str:
    """SQL string literal for a separator (newlines via chr())."""
    if s == "":
        return "''"
    out = s.replace("'", "''")
    for ch, fn in (("\n", "chr(10)"), ("\r", "chr(13)"), ("\t", "chr(9)")):
        out = out.replace(ch, f"' || {fn} || '")
    return "'" + out + "'"


def chunk_text_sql(docs_rel: str, config: ChunkerConfig | None = None) -> str:
    """DuckDB restatement of the FULL per-document C1–C4 pipeline
    (:func:`chunk_text`): recursive character split (separator cascade,
    keep-separator, windowed overlap merge) + undersize neighbor merge —
    so ``chunk_pipeline`` gets a real hash-checked oracle instead of a
    rows-only verdict.

    Technique: the ``_go`` recursion strictly advances the separator
    cascade, so its depth is bounded by ``len(config.separators)`` — the
    tree UNROLLS into one chained (non-recursive) CTE stage per level,
    each doing the choose-separator / keep-separator-split / good-run
    grouping for every live node of that depth. The two order-dependent
    folds stay recursive CTEs (the ``pack_sequences_sql`` technique,
    operators/packing.py):

    - ``walk_b`` — :func:`_merge_splits`: carries the current window as a
      LIST(VARCHAR) plus its running total; the overlap pop-while-loop is
      resolved per step by picking the FIRST k in 0..len(cur) whose kept
      suffix satisfies the loop's negated condition (suffix totals are
      monotone in k, so first-valid == the loop's fixpoint).
    - ``walk_c`` — :func:`_merge_small_chunks`: single-buffer fold.

    DFS emission order is reconstructed with fixed-width path keys
    (parent_path || piece-index blocks), so interleaved merge-run chunks
    and recursed-subtree chunks sort exactly like the Python recursion
    emits them.

    ``docs_rel`` must produce ``(doc_id, source, text)`` with text already
    cleaned. Output: ``(doc_id, source, chunk_index, total_chunks,
    ctext)``. Caveat: Python ``str.strip()`` is restated as a trim over
    ASCII whitespace — identical on clean_text output (which normalizes
    exotic whitespace away), not on raw unicode text.

    Verified chunk-for-chunk identical to :func:`chunk_text` over every
    document at sf0.001/sf0.01/sf0.1 (and hash-checked every round via
    the registered ``chunk_pipeline`` oracle)."""
    config = config or ChunkerConfig()
    seps = list(config.separators)
    if not seps or seps[-1] != "":
        # the cascade recurses only while chosen < n_levels-1 and joins
        # each node to its chosen separator; without the final ''
        # (split-to-chars) fallback, a piece no separator matches — or one
        # still >= chunk_size at the last level — would silently vanish
        # from the SQL output while chunk_text still emits it.
        raise ValueError(
            "chunk_text_sql requires config.separators to end with the "
            "'' (character-split) fallback; got "
            f"{config.separators!r}"
        )
    cs, ov = config.chunk_size, config.chunk_overlap
    mn, mx = config.min_chunk_size, config.max_chunk_size
    ws = "' ' || chr(9) || chr(10) || chr(13) || chr(11) || chr(12)"
    n_levels = len(seps)
    seps_values = ", ".join(
        f"({i}, {_sep_sql_quote(s)})" for i, s in enumerate(seps)
    )
    parts = [f"""
WITH RECURSIVE
docs0 AS MATERIALIZED ({docs_rel}),
seps(lvl, sep) AS (VALUES {seps_values}),
nodes_0 AS (
  SELECT doc_id, '' AS path, text, 0 AS slvl
  FROM docs0 WHERE length(text) > {mx}
)"""]
    for r in range(n_levels):
        parts.append(f""",
chosen_{r} AS (
  SELECT n.*, (SELECT min(s.lvl) FROM seps s
               WHERE s.lvl >= n.slvl
                 AND (s.sep = '' OR contains(n.text, s.sep))) AS chosen
  FROM nodes_{r} n
),
plist_{r} AS (
  SELECT c.doc_id, c.path, c.chosen,
         CASE WHEN s.sep = ''
              THEN list_transform(range(1, length(c.text) + 1),
                                  i -> substring(c.text, CAST(i AS INT), 1))
              ELSE list_filter(
                     list_transform(range(1, len(string_split(c.text, s.sep)) + 1),
                       i -> CASE WHEN i = 1 THEN string_split(c.text, s.sep)[i]
                                 ELSE s.sep || string_split(c.text, s.sep)[i] END),
                     p -> p <> '') END AS plist
  FROM chosen_{r} c JOIN seps s ON s.lvl = c.chosen
),
pieces_{r} AS (
  SELECT doc_id, path, chosen,
         CAST(unnest(range(1, len(plist) + 1)) AS INT) AS pidx,
         unnest(plist) AS piece
  FROM plist_{r}
),
runs_{r} AS (
  SELECT doc_id, path, chosen, pidx, piece,
         length(piece) >= {cs} AS big,
         count(*) FILTER (WHERE length(piece) >= {cs}) OVER (
           PARTITION BY doc_id, path ORDER BY pidx
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS run_id
  FROM pieces_{r}
),
leaves_{r} AS (
  SELECT doc_id, path AS parent_path, run_id, pidx, piece,
         min(pidx) OVER (PARTITION BY doc_id, path, run_id) AS run_start
  FROM runs_{r} WHERE NOT big
),
nodes_{r + 1} AS (
  SELECT doc_id, path || lpad(CAST(pidx AS VARCHAR), 6, '0') AS path,
         piece AS text, chosen + 1 AS slvl
  FROM runs_{r} WHERE big AND chosen < {n_levels - 1}
)""")
    leaves_union = " UNION ALL ".join(
        f"SELECT * FROM leaves_{r}" for r in range(n_levels)
    )
    parts.append(f""",
leaves AS MATERIALIZED ({leaves_union}),
run_items AS MATERIALIZED (
  SELECT doc_id, parent_path, run_id, run_start, piece,
         CAST(length(piece) AS BIGINT) AS plen,
         row_number() OVER (PARTITION BY doc_id, parent_path, run_id
                            ORDER BY pidx) AS rn,
         count(*) OVER (PARTITION BY doc_id, parent_path, run_id) AS n_items
  FROM leaves
),
walk_b AS (
  SELECT doc_id, parent_path, run_id, run_start, rn, n_items,
         [piece] AS cur, plen AS total,
         CAST(NULL AS VARCHAR) AS emitted, 0 AS eseq
  FROM run_items WHERE rn = 1
  UNION ALL
  SELECT i.doc_id, i.parent_path, i.run_id, i.run_start, i.rn, i.n_items,
         list_append(w.cur[kk + 1:len(w.cur)], i.piece),
         w.total - psum + i.plen,
         CASE WHEN flush AND trim(array_to_string(w.cur, ''), {ws}) <> ''
              THEN trim(array_to_string(w.cur, ''), {ws}) END,
         w.eseq + CASE WHEN flush AND trim(array_to_string(w.cur, ''), {ws}) <> ''
                       THEN 1 ELSE 0 END
  FROM run_items i
  JOIN walk_b w ON i.doc_id = w.doc_id AND i.parent_path = w.parent_path
               AND i.run_id = w.run_id AND i.rn = w.rn + 1,
  LATERAL (SELECT w.total + i.plen > {cs} AND len(w.cur) > 0 AS flush) f,
  LATERAL (SELECT CASE WHEN f.flush THEN
             list_filter(range(0, len(w.cur) + 1), k ->
               (w.total - coalesce(list_aggregate(
                  list_transform(w.cur[1:CAST(k AS INT)], x -> CAST(length(x) AS BIGINT)),
                  'sum'), 0)) <= {ov}
               AND ((w.total - coalesce(list_aggregate(
                  list_transform(w.cur[1:CAST(k AS INT)], x -> CAST(length(x) AS BIGINT)),
                  'sum'), 0)) + i.plen <= {cs}
                 OR (w.total - coalesce(list_aggregate(
                  list_transform(w.cur[1:CAST(k AS INT)], x -> CAST(length(x) AS BIGINT)),
                  'sum'), 0)) = 0))[1]
             ELSE 0 END AS kk0) g,
  LATERAL (SELECT CAST(g.kk0 AS INT) AS kk) h,
  LATERAL (SELECT coalesce(list_aggregate(
             list_transform(w.cur[1:h.kk], x -> CAST(length(x) AS BIGINT)),
             'sum'), 0) AS psum) p
),
chunks_b AS (
  SELECT doc_id,
         parent_path || lpad(CAST(run_start AS VARCHAR), 6, '0')
                     || lpad(CAST(eseq AS VARCHAR), 6, '0') AS okey,
         emitted AS ctext
  FROM walk_b WHERE emitted IS NOT NULL
  UNION ALL
  SELECT doc_id,
         parent_path || lpad(CAST(run_start AS VARCHAR), 6, '0')
                     || lpad(CAST(eseq + 1 AS VARCHAR), 6, '0') AS okey,
         trim(array_to_string(cur, ''), {ws}) AS ctext
  FROM walk_b WHERE rn = n_items
    AND trim(array_to_string(cur, ''), {ws}) <> ''
  UNION ALL
  SELECT doc_id, '' AS okey, text AS ctext
  FROM docs0 WHERE length(text) <= {mx} AND length(text) > 0
),
c_items AS MATERIALIZED (
  SELECT doc_id, ctext, CAST(length(ctext) AS BIGINT) AS clen,
         row_number() OVER (PARTITION BY doc_id ORDER BY okey) AS rn,
         count(*) OVER (PARTITION BY doc_id) AS n_items
  FROM chunks_b
),
walk_c AS (
  SELECT doc_id, rn, n_items, ctext AS buffer, CAST(NULL AS VARCHAR) AS emitted,
         0 AS eseq
  FROM c_items WHERE rn = 1
  UNION ALL
  SELECT i.doc_id, i.rn, i.n_items,
         CASE WHEN mergeable THEN w.buffer || chr(10) || i.ctext
              ELSE i.ctext END,
         CASE WHEN mergeable THEN NULL ELSE w.buffer END,
         w.eseq + CASE WHEN mergeable THEN 0 ELSE 1 END
  FROM c_items i
  JOIN walk_c w ON i.doc_id = w.doc_id AND i.rn = w.rn + 1,
  LATERAL (SELECT (length(w.buffer) < {mn} OR i.clen < {mn})
                  AND length(w.buffer) + 1 + i.clen <= {mx} AS mergeable) m
),
final_chunks AS (
  SELECT doc_id, eseq AS seq, emitted AS ctext
  FROM walk_c WHERE emitted IS NOT NULL
  UNION ALL
  SELECT doc_id, eseq + 1 AS seq, buffer AS ctext
  FROM walk_c WHERE rn = n_items
)
SELECT f.doc_id, d.source,
       CAST(row_number() OVER (PARTITION BY f.doc_id ORDER BY f.seq) - 1
            AS INT) AS chunk_index,
       CAST(count(*) OVER (PARTITION BY f.doc_id) AS INT) AS total_chunks,
       f.ctext
FROM final_chunks f JOIN docs0 d USING (doc_id)
""")
    return "".join(parts)


def attach_chunk_metadata(
    df: DataFrame,
    chunks_col: str = "__chunks",
    text_col: str = "text",
    source_col: str = "source",
) -> DataFrame:
    """C5 metadata layer over a PRE-CHUNKED array column: posexplode +
    chunk_index / total_chunks / sizes / chunk_id (reference:
    modules/chunker.py:162-171). Split out of :func:`chunk_documents` so the
    metadata arithmetic — which is pure column expressions, unlike the
    recursive splitter — can be exercised and oracle-checked on any
    SQL-expressible chunking (the driver's ``chunk_metadata`` query feeds it
    fixed-width substring slices). ``total_chunks`` comes from
    ``size(chunks)`` computed BEFORE the explode — no window, no extra
    shuffle; the whole operator is map-side."""
    passthrough = [
        sql_name(c) for c in df.columns if c not in (chunks_col, text_col)
    ]
    chunks, text, index = sql_name(chunks_col), sql_name(text_col), "`chunk_index`"
    exploded = select_sql(df, [
        *passthrough,
        f"size({chunks}) AS `total_chunks`",
        f"posexplode({chunks}) AS ({index}, {text})",
    ])
    return select_sql(exploded, [
        *passthrough,
        text,
        index,
        "`total_chunks`",
        f"length({text}) AS `chunk_size_chars`",
        f"{estimate_tokens_spark_sql(text)} AS `chunk_size_tokens`",
        f"{chunk_id_spark_sql(sql_name(source_col), index, text)} AS `chunk_id`",
    ])


# --------------------------------------------------------------------------
# C6 — exact-duplicate removal, first-wins by stable order
# (reference: modules/chunker.py:182-207)
# --------------------------------------------------------------------------


def normalized_hash_spark_sql(expr: str) -> str:
    """Spark SQL text of the md5 of whitespace-normalized lowercase text
    (`' '.join(text.lower().split())`, chunker.py:194-195);
    :func:`normalized_hash_sql` is its DuckDB twin."""
    trimmed = regexp_replace_sql(f"lower({expr})", r"^\s+|\s+$", "")
    collapsed = regexp_replace_sql(trimmed, r"\s+", " ")
    return f"md5({collapsed})"


def normalized_hash_col(col: Column | str = "text") -> Column:
    return sql_col(normalized_hash_spark_sql(sql_of(col)))


def normalized_hash_sql(expr: str) -> str:
    return (
        f"md5(regexp_replace(regexp_replace(lower({expr}), '^\\s+|\\s+$', '', 'g'), "
        f"'\\s+', ' ', 'g'))"
    )


def remove_duplicate_chunks(
    df: DataFrame,
    order_cols: list[str] | None = None,
    text_col: str = "text",
) -> DataFrame:
    """Keep the first occurrence of each normalized-text hash.

    The reference iterates an insertion-ordered list (chunker.py:192-201);
    distributed first-wins needs an explicit stable order — plain
    ``dropDuplicates`` is nondeterministic about the survivor (SURVEY.md
    §7.4). One hash-partitioned shuffle; md5 keys don't skew.
    """
    order_cols = order_cols or ["doc_id", "chunk_index"]
    columns = df.columns
    first = (
        f"row_number() OVER (PARTITION BY "
        f"{normalized_hash_spark_sql(sql_name(text_col))} "
        f"ORDER BY {', '.join(sql_name(c) for c in order_cols)}) AS `__rn`"
    )
    ranked = select_sql(df, ["*", first]).filter("`__rn` = 1")
    return select_names(ranked, columns)


def chunk_hash(text: str) -> str:
    """Driver-side twin of :func:`normalized_hash_col` (unit tests)."""
    return hashlib.md5(" ".join(text.lower().split()).encode()).hexdigest()

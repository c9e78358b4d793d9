"""Search facades — operators Q3/Q4/Q5/Q6 (SURVEY.md §2.5).

Mirrors reference modules/search_utils.py: language auto-detection on the
query, filter construction, delegation to the store, RAG prompt assembly and
result presentation (driver-side after collect, like the reference)."""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column

from vectordb_etl_spark.config import EmbeddingConfig
from vectordb_etl_spark.embeddings import query_vector
from vectordb_etl_spark.functions.filter_expr import parse_filter
from vectordb_etl_spark.functions.language import detect_language_query
from vectordb_etl_spark.operators.topk import topk_search
from vectordb_etl_spark.store.collections import CollectionStore


@dataclass
class SearchHit:
    """Q3 — the reference's (Document, score) pair (milvus_store.py:327-368)."""

    text: str
    score: float
    metadata: dict


def search_with_scores(
    store: CollectionStore,
    query: str,
    k: int = 3,
    filter_language: str | None = None,
    auto_detect_language: bool = True,
    collection_name: str | None = None,
    search_all_collections: bool = False,
    embedding_config: EmbeddingConfig | None = None,
    filter: "str | Column | None" = None,
    index_kind: str | None = None,
    nprobe: int | None = None,
    ef: int | None = None,
    filter_mode: str = "post",
) -> list[SearchHit]:
    """Q4 — language-filtered search facade
    (reference: modules/search_utils.py:70-98).

    Auto-detects the query language with the P4 detector when no filter is
    given (search_utils.py:84-87) and embeds the query ONCE on the driver.
    Every kind ranks under the store's ``StoreConfig.metric_type`` and
    resolves names against the store's schema (:meth:`CollectionStore.read`),
    as a Milvus search uses its collection's declared metric and schema.

    ``filter`` takes either a Spark Column or a Milvus-style expression
    string (``language == "korean"``, ``filename == "x.html" and
    chunk_index < 3`` — the reference's query surface, search_utils.py:56,90)
    parsed by functions/filter_expr.py. When given, it replaces the
    language AUTO-detection entirely, mirroring the reference's
    filter-string precedence; an EXPLICIT ``filter_language`` passed
    alongside a filter is ANDed into it — the caller asked for both, and
    silently discarding one is worse than either precedence.

    ``index_kind`` (the reference's search path always goes through the
    index, milvus_store.py:254-299): ``None`` (default) serves by exact
    partition-pruned scan; ``'ivf'``/``'graph'`` route through the store's
    per-collection indexes via ``fanout_search_indexed(
    on_missing='exact')``, so un-indexed collections are still served
    (brute-force, Milvus-style) rather than erroring. ``nprobe``/``ef``
    are the IVF/graph serving knobs — ``None`` (default) takes the
    store's configured ``StoreConfig.nprobe``/``ef_search`` (the
    reference's MilvusConfig serving params, modules/config.py:25-27).
    Graph-kind filtered search defaults
    to post-filter over the beam (predicate limited to the surfaced
    columns ``id``/``text``/``language``, plus ``meta`` when the store
    carries dynamic fields — build_index's default
    passthrough; size ``ef`` to the filter's selectivity);
    ``filter_mode='traversal'`` switches to the ACORN-style
    during-traversal filter (operators/graph_ann.py), where ``ef`` stays
    k-sized at any selectivity and the predicate may reference any
    stored index column."""
    # serving-knob defaults come from the STORE config (the reference's
    # MilvusConfig.nprobe/ef_search, modules/config.py:25-27); explicit
    # arguments win
    if nprobe is None:
        nprobe = store.config.nprobe
    if ef is None:
        ef = store.config.ef_search
    # fail fast on a typo'd filter_mode regardless of which code path is
    # taken — otherwise it's silently ignored whenever predicate is None
    # or index_kind != 'graph'
    if filter_mode not in ("post", "traversal"):
        raise ValueError(
            f"filter_mode must be 'post' or 'traversal'; got {filter_mode!r}"
        )
    # ONE store read for the whole call: a listing of the data directory
    # under the store's remembered schema, so while the directory holds
    # the same files it runs no schema job (CollectionStore.scan). Its
    # columns feed the filter parse, the graph output_cols probe and the
    # IVF projection, its file list names the collections an index
    # fan-out searches, and the exact path scans it.
    base, listed, data_cols = store.scan()
    # a blank filter string must behave like "no filter given"
    # (auto-detect still applies), not like "filter everything off".
    # Filter strings resolve against the store schema so bare identifiers
    # that aren't typed columns reach the dynamic `meta` map (the
    # reference's enable_dynamic_field filter surface) — schema-only read,
    # no scan. The filter, the language and the collection conditions are
    # one filter string, parsed once into one SQL text
    # (functions/filter_expr.py).
    custom = (
        filter
        if isinstance(filter, Column) or (filter and filter.strip())
        else None
    )
    if custom is None and auto_detect_language and filter_language is None:
        filter_language = detect_language_query(query)

    def where(*scope: str) -> Column | None:
        conds = list(scope)
        if isinstance(custom, str):
            conds.append(f"({custom})")
        if filter_language:
            conds.append(f"language == {_quoted(filter_language)}")
        pred = parse_filter(" and ".join(conds), columns=data_cols) if conds else None
        if isinstance(custom, Column):
            pred = custom if pred is None else custom & pred
        return pred

    vec = query_vector(query, embedding_config)
    if index_kind is not None:
        if index_kind not in ("ivf", "graph"):
            raise ValueError(
                f"index_kind must be 'ivf'|'graph'|None; got {index_kind!r}"
            )
        names = (
            listed
            if search_all_collections or collection_name is None
            else [collection_name]
        )
        kwargs: dict = {}
        predicate = where()
        if predicate is not None:
            kwargs["predicate"] = predicate
        if index_kind == "graph":
            # meta rides along when the store carries dynamic fields —
            # build_index's default passthrough includes it, so dynamic
            # keys stay filterable and surface in hit metadata on the
            # graph path too
            kwargs["output_cols"] = ["id", "text", "language"] + (
                ["meta"] if "meta" in data_cols else []
            )
            kwargs["ef"] = ef
            # the exact fallback surfaces its id column AS "id" to match
            # the indexed side; resolve which store column that is
            # (chunk_id for chunked stores — build_index's id_col default
            # — else doc_id) instead of assuming chunk_id exists
            idc = next(
                (c for c in ("chunk_id", "doc_id", "id") if c in data_cols),
                None,
            )
            if idc is not None:
                kwargs["fallback_id_col"] = idc
            if predicate is not None:
                kwargs["filter_mode"] = filter_mode
        else:
            kwargs["nprobe"] = nprobe
            # explicit user-facing projection: aligns the indexed side
            # (whose stored rows carry the centroid_id layout key)
            # with the exact-fallback side for the union, and prunes the
            # embedding column out of the merge shuffle
            kwargs["output_cols"] = [
                c for c in data_cols if c not in ("collection", "embedding")
            ]
            if "chunk_id" in data_cols:
                kwargs["tie_break"] = ["chunk_id"]
        rows = store.fanout_search_indexed(
            vec, k=k, kind=index_kind, collections=names,
            on_missing="exact", **kwargs,
        ).collect()
    else:
        # the same plan as store.read(collection_name): a named collection
        # is a partition filter over the one read, in the same predicate
        scope = (
            ()
            if search_all_collections or collection_name is None
            else (f"collection == {_quoted(collection_name)}",)
        )
        rows = topk_search(
            base,
            vec,
            k=k,
            metric=store.config.metric_type,
            predicate=where(*scope),
            tie_break=["chunk_id"] if "chunk_id" in data_cols else None,
        ).collect()
    hits = []
    for r in rows:
        d = r.asDict()
        text = d.pop("text", "")
        score = d.pop("score")
        d.pop("embedding", None)
        d.pop("centroid_id", None)  # IVF layout key, not user metadata
        # dynamic fields surface as top-level metadata keys, exactly like
        # Milvus returns $meta contents flattened into the hit entity;
        # typed columns win on name collision
        dyn = d.pop("meta", None)
        if dyn:
            # mk/mv, not k/v — `k` is the function's top-k parameter and a
            # bare `k` below this loop must keep meaning that
            for mk, mv in dyn.items():
                d.setdefault(mk, mv)
        hits.append(SearchHit(text=text, score=score, metadata=d))
    return hits


def _quoted(value: str) -> str:
    """A filter-string literal holding exactly ``value``."""
    return '"' + value.replace("\\", "\\\\").replace('"', '\\"') + '"'


def search(store: CollectionStore, query: str, k: int = 3, **kwargs) -> list[str]:
    """Reference search_utils.py:36-67 — documents only, scores dropped."""
    return [h.text for h in search_with_scores(store, query, k=k, **kwargs)]


def create_rag_prompt(
    store: CollectionStore,
    query: str,
    k: int = 3,
    auto_detect_language: bool = True,
    **kwargs,
) -> list[dict[str, str]]:
    """Q5 — RAG prompt assembly (reference: search_utils.py:101-136).
    Driver-side after collect; not a distributed op."""
    hits = search_with_scores(
        store, query, k=k, auto_detect_language=auto_detect_language, **kwargs
    )
    context = "\n\n".join(
        f"문서 {i + 1}: {h.text}" for i, h in enumerate(hits)
    )
    system_message = (
        "당신은 훌륭한 상담원입니다. 아래 문서들은 질문과 관련된 참고 자료입니다.\n\n"
        f"{context}\n\n"
        "위 문서들을 참고하여 질문에 답변해 주세요.\n"
        "반드시 한국어로 답변해 주세요."
    )
    return [
        {"role": "system", "content": system_message},
        {"role": "user", "content": query},
    ]


def format_search_results(hits: list[SearchHit], preview: int = 300) -> str:
    """Q6 — result presentation (reference: search_utils.py:139-145)."""
    lines = []
    for i, h in enumerate(hits, 1):
        lines.append(f"[{i}] Score: {h.score:.4f}")
        lines.append(f"Source: {h.metadata.get('filename', 'N/A')}")
        lines.append(f"Language: {h.metadata.get('language', 'N/A')}")
        lines.append(f"Content: {h.text[:preview]}...")
        lines.append("")
    return "\n".join(lines)

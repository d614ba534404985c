"""Benchmark queries → engine calls (native API) and ES-DSL bodies, with
each answer normalised to the shape the oracle checks:

- top-k classes: list of (doc_key, score) in rank order;
- `count`: an int;
- `agg_terms`: list of (key, doc_count).
"""

from __future__ import annotations

import datetime as dt

from corpus import Query

K = 10
AGG_FIELD = "lang"
TOPK_CLASSES = (
    "term_hot",
    "term_rare",
    "or",
    "and",
    "bool",
    "time_filter",
    "wildcard",
    "phrase",
)


def to_ast(q: Query):
    from quickwit_spark.query.ast import (
        Bool,
        FullText,
        Phrase,
        Range,
        Term,
        Wildcard,
    )

    s = q.spec
    if q.cls in ("term_hot", "term_rare", "count", "agg_terms"):
        return Term("text", s[0])
    if q.cls == "or":
        return FullText("text", " ".join(s), "or")
    if q.cls == "and":
        return FullText("text", " ".join(s), "and")
    if q.cls == "bool":
        return Bool(
            must=[Term("text", s[0])],
            should=[Term("text", s[1]), Term("text", s[2])],
            must_not=[Term("text", s[3])],
        )
    if q.cls == "time_filter":
        return Bool(
            must=[Term("text", s[0])],
            filter=[Range("warc_ts", lt=dt.datetime.fromisoformat(s[1]))],
        )
    if q.cls == "wildcard":
        return Wildcard("text", s[0])
    if q.cls == "phrase":
        return Phrase("text", " ".join(s))
    raise ValueError(q.cls)


def run_native(searcher, q: Query, mode: str = "parity"):
    """One call through the native API (IndexSearcher / aggs)."""
    ast = to_ast(q)
    if q.cls == "count":
        return int(searcher.count(ast))
    if q.cls == "agg_terms":
        from quickwit_spark.search.aggs import terms_agg_for_query

        rows = terms_agg_for_query(searcher, ast, AGG_FIELD, size=K).collect()
        return [(r["key"], int(r["doc_count"])) for r in rows]
    rows = searcher.search(ast, k=K, mode=mode).collect()
    return [(int(r["doc_key"]), float(r["score"])) for r in rows]


def _es_query(q: Query) -> dict:
    s = q.spec
    if q.cls in ("term_hot", "term_rare", "count", "agg_terms", "or"):
        return {"match": {"text": " ".join(s)}}
    if q.cls == "and":
        return {"match": {"text": {"query": " ".join(s), "operator": "and"}}}
    if q.cls == "bool":
        return {
            "bool": {
                "must": [{"match": {"text": s[0]}}],
                "should": [{"match": {"text": s[1]}}, {"match": {"text": s[2]}}],
                "must_not": [{"match": {"text": s[3]}}],
            }
        }
    if q.cls == "time_filter":
        return {
            "bool": {
                "must": [{"match": {"text": s[0]}}],
                "filter": [{"range": {"warc_ts": {"lt": s[1]}}}],
            }
        }
    if q.cls == "wildcard":
        return {"wildcard": {"text": {"value": s[0]}}}
    if q.cls == "phrase":
        return {"match_phrase": {"text": " ".join(s)}}
    raise ValueError(q.cls)


def es_request(q: Query) -> tuple[str, dict]:
    """(path, body) of the ES request for `q` on index `web`."""
    if q.cls == "count":
        return "/web/_count", {"query": _es_query(q)}
    if q.cls == "agg_terms":
        return "/web/_search", {
            "size": 0,
            "query": _es_query(q),
            "aggs": {"by_lang": {"terms": {"field": AGG_FIELD, "size": K}}},
        }
    return "/web/_search", {"size": K, "query": _es_query(q), "_source": ["url"]}


def es_answer(q: Query, resp: dict):
    """Normalise an ES response; top-k answers also carry the reported
    total as (value, relation)."""
    if q.cls == "count":
        return int(resp["count"])
    if q.cls == "agg_terms":
        buckets = resp["aggregations"]["by_lang"]["buckets"]
        return [(b["key"], int(b["doc_count"])) for b in buckets]
    hits = [(int(h["_id"]), float(h["_score"])) for h in resp["hits"]["hits"]]
    total = resp["hits"]["total"]
    return hits, (int(total["value"]), total["relation"])

"""One resolved plan per request, one AST conversion per ES body.

- every public query entry resolves its query once and hands the plan
  to the count, hits, snippets and aggs passes;
- `_count` and `_search` convert an ES body the same way (position
  fields, default fields, non-lenient `query_string` validation);
- the winner fetch treats unknown fetch fields the same on every path;
- concurrent first lookups of a term's doc_freqs add its rows once;
- the package's environment knobs are an explicit list.
"""

import pathlib
import re
import sys
import tempfile
import threading

import pytest

from quickwit_spark.index.builder import FieldConfig, IndexConfig, build_index
from quickwit_spark.query.ast import Term
from quickwit_spark.search.engine import IndexSearcher
from quickwit_spark.search.es_wire import EsApiError, EsWireHandler
from quickwit_spark.sources.corpus import web_corpus

PHRASE = {"match_phrase": {"text": "batch batch"}}


@pytest.fixture(scope="module")
def index_dir(spark, sf_dir):
    idx = tempfile.mkdtemp(prefix="qws_seam_")
    cfg = IndexConfig(
        fields=[FieldConfig("text", record="position")],
        doc_key="doc_id",
        num_partitions=4,
        stored_columns=("url", "lang", "text"),
        time_column="warc_ts",
    )
    build_index(spark, web_corpus(spark, sf_dir), idx, cfg)
    return idx


@pytest.fixture(scope="module")
def searcher(spark, index_dir):
    return IndexSearcher(spark, index_dir)


@pytest.fixture()
def wire(searcher):
    return EsWireHandler({"web": searcher})


def _count_calls(monkeypatch, obj, name: str) -> list:
    calls = []
    orig = getattr(obj, name)

    def counting(*args, **kwargs):
        calls.append(args)
        return orig(*args, **kwargs)

    monkeypatch.setattr(obj, name, counting)
    return calls


def test_count_equals_search_total_for_match_phrase(wire):
    count = wire.request("POST", "/web/_count", body={"query": PHRASE})["count"]
    total = wire.request(
        "POST", "/web/_search",
        body={"query": PHRASE, "track_total_hits": True},
    )["hits"]["total"]
    assert total["relation"] == "eq"
    assert count == total["value"]
    # a phrase, not the AND of its terms: far fewer than the term count
    assert 0 < count < wire.request(
        "POST", "/web/_count", body={"query": {"term": {"text": "batch"}}}
    )["count"]


@pytest.mark.parametrize("endpoint", ["_count", "_search"])
def test_non_lenient_query_string_on_unmapped_field_is_400(wire, endpoint):
    body = {"query": {"query_string": {"query": "foo", "fields": ["nosuch"]}}}
    with pytest.raises(EsApiError) as e:
        wire.request("POST", f"/web/{endpoint}", body=body)
    assert e.value.status == 400
    lenient = {
        "query": {
            "query_string": {"query": "foo", "fields": ["nosuch"], "lenient": True}
        }
    }
    wire.request("POST", f"/web/{endpoint}", body=lenient)


def test_search_early_drops_unknown_fetch_fields_like_search(searcher):
    q = Term("text", "spark")
    fetch = ["nosuch", "url", "doc_key"]
    early = searcher.search_early(q, k=5, fetch=fetch)["hits"].collect()
    plain = searcher.search(q, k=5, fetch=fetch).collect()
    assert early == plain
    assert early and set(early[0].asDict()) == {"doc_key", "score", "rank", "url"}


def test_es_search_response_resolves_once(searcher, monkeypatch):
    calls = _count_calls(monkeypatch, searcher, "_resolve")
    searcher.es_search_response(
        {
            "query": {"wildcard": {"text": {"value": "spa*"}}},
            "aggs": {"by_lang": {"terms": {"field": "lang"}}},
        }
    )
    assert len(calls) == 1


def test_native_search_resolves_once(searcher, monkeypatch):
    from quickwit_spark.search.native_api import native_search

    calls = _count_calls(monkeypatch, searcher, "_resolve")
    out = native_search(
        searcher,
        {
            "query": "text:spa*",
            "max_hits": 3,
            "count_all": "false",
            "snippet_fields": "text",
            "aggs": {"by_lang": {"terms": {"field": "lang"}}},
        },
    )
    assert out["hits"] and out["aggregations"]
    assert len(calls) == 1


def test_scroll_start_parses_once(wire, searcher, monkeypatch):
    asts = _count_calls(monkeypatch, searcher, "_es_ast")
    resolves = _count_calls(monkeypatch, searcher, "_resolve")
    resp = wire.request(
        "POST", "/web/_search", params={"scroll": "1m"},
        body={
            "size": 2,
            "query": {"term": {"text": "spark"}},
            "aggs": {"by_lang": {"terms": {"field": "lang"}}},
        },
    )
    assert len(resp["hits"]["hits"]) == 2 and resp["aggregations"]
    assert len(asts) == 1
    # one plan for the context, total and aggs; scroll pages (here the
    # first one) still resolve per batch
    assert len(resolves) == 2


def test_concurrent_first_term_counts_add_rows_once(spark, searcher, index_dir):
    q = Term("text", "spark")
    expected = searcher.match_docs(q).count()  # kernel path, no dfreq cache
    fresh = IndexSearcher(spark, index_dir)
    barrier = threading.Barrier(4, timeout=60)
    got = [None] * 4

    def run(i):
        barrier.wait()
        got[i] = fresh.count(q)

    threads = [threading.Thread(target=run, args=(i,)) for i in range(4)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=300)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert got == [expected] * 4
    assert fresh.count(q) == expected


# Every QWS_* environment variable the package reads. A new knob has to
# be added here, so each one is a deliberate decision.
KNOBS = {
    "QWS_AGG_COGROUP_MIN_DOCS",
    "QWS_AGG_COGROUP_MAX_DOCS",
    "QWS_INGEST_DISTRIBUTED_MIN",
    "QWS_DRIVER_MEM",
    "QWS_MANIFEST_COMPACT_EVERY",
}


def test_environment_knob_inventory():
    pkg = pathlib.Path(__file__).resolve().parent.parent / "quickwit_spark"
    found = set()
    for path in pkg.rglob("*.py"):
        found.update(re.findall(r"""["'](QWS_[A-Z0-9_]+)["']""", path.read_text()))
    assert found == KNOBS

"""Physical-plan shape guards: the properties that make the engine
viable at 100 TB must be visible in `.explain` output and must not
silently regress.

- the postings scan must push the (kind, field, term) predicates into
  the Parquet source (row-group pruning over sorted term runs — the
  reference's warmup/prefetch analog),
- the fetch join must broadcast the ≤ k·segments winner rows, never
  shuffle the docmap,
- no row-at-a-time Python (BatchEvalPython) anywhere in the query plan.
"""

import contextlib
import io
import tempfile

import pytest

from quickwit_spark.index.builder import FieldConfig, IndexConfig, build_index
from quickwit_spark.query.ast import Term
from quickwit_spark.search import engine
from quickwit_spark.search.engine import IndexSearcher
from quickwit_spark.sources.corpus import web_corpus


@pytest.fixture(scope="module")
def searcher(spark, sf_dir):
    idx = tempfile.mkdtemp(prefix="qws_plan_")
    cfg = IndexConfig(
        fields=[FieldConfig("text")],
        doc_key="doc_id",
        num_partitions=2,
        stored_columns=("lang",),
    )
    build_index(spark, web_corpus(spark, sf_dir), idx, cfg)
    return IndexSearcher(spark, idx)


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_term_scan_pushes_filters(searcher):
    plan = _plan(searcher.match_docs(Term("text", "spark")))
    # the term predicate must reach the Parquet scan, not a post-filter
    assert "PushedFilters" in plan
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert any("term" in l for l in pushed), pushed
    assert any("kind" in l or "EqualTo" in l for l in pushed), pushed


def test_topk_broadcasts_winners(searcher):
    plan = _plan(searcher.search("text:spark", k=10))
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    # global top-k is the TakeOrdered / sort+limit pattern
    assert "TakeOrderedAndProject" in plan or "GlobalLimit" in plan


def test_no_row_at_a_time_python(searcher):
    for df in (
        searcher.search("text:spark", k=5),
        searcher.match_docs(Term("text", "spark")),
        searcher.search_stream(Term("text", "spark"), ["lang"]),
    ):
        assert "BatchEvalPython" not in _plan(df)


def test_hot_postings_cache(searcher):
    """Warmup/leaf-cache analog: cached terms serve from an
    InMemoryTableScan with identical results; cache misses fall back to
    the Parquet scan path."""
    from quickwit_spark.query.ast import FullText

    base = searcher.search("text:spark", k=10).collect()
    n = searcher.cache_hot_postings(["spark", "join"])
    assert n > 0
    plan = _plan(searcher.match_docs(Term("text", "spark")))
    assert "InMemoryTableScan" in plan
    cached = searcher.search("text:spark", k=10).collect()
    assert [(r["doc_key"], r["score"]) for r in cached] == [
        (r["doc_key"], r["score"]) for r in base
    ]
    # covered multi-term query also hits the cache
    assert "InMemoryTableScan" in _plan(
        searcher.match_docs(FullText("text", "spark join", "or"))
    )
    # uncovered term -> parquet path (no partial-cache reads)
    assert "InMemoryTableScan" not in _plan(
        searcher.match_docs(Term("text", "vector"))
    )
    searcher.uncache()
    assert "InMemoryTableScan" not in _plan(
        searcher.match_docs(Term("text", "spark"))
    )


def test_segment_filter_scales_past_in_literal_cap(searcher):
    """Below _SEG_IN_MAX the segment filter is a literal In (pushed to
    the scan); past it, it becomes a broadcast left-semi join — a
    100k-split In literal bloats plan analysis and is unpushable."""
    small = _plan(searcher._seg_pred_filter(searcher.inv(), ["a", "b"]))
    assert "BroadcastHashJoin" not in small
    big_ids = [f"seg{i:06d}" for i in range(1500)]
    big = _plan(searcher._seg_pred_filter(searcher.inv(), big_ids))
    assert "LeftSemi" in big and "BroadcastHashJoin" in big
    # and no giant literal list survives in the plan text
    assert "seg001400" not in big


def test_round4_surfaces_stay_vectorized(spark):
    """The round-4 inputs keep the UDF discipline: OTLP parsing is
    Arrow-batched (MapInArrow, never row-at-a-time BatchEvalPython);
    the kafka record→doc projection and compiled VRL transforms are
    pure Column plans (no Python at all, codegen applies); the
    FindTraceIds collector is a partial-agg + top-k, not a window."""
    import json as _json

    from quickwit_spark.sources.kafka import kafka_records_to_docs
    from quickwit_spark.sources.otlp import otlp_logs_docs
    from quickwit_spark.sources.vrl import compile_vrl
    from quickwit_spark.search.trace_queries import find_trace_ids

    payloads = spark.createDataFrame(
        [(_json.dumps({"resourceLogs": []}),)], ["payload"]
    )
    otlp_plan = _plan(otlp_logs_docs(payloads))
    assert "MapInArrow" in otlp_plan
    assert "BatchEvalPython" not in otlp_plan

    records = spark.createDataFrame(
        [(bytearray(b'{"a": 1}'), 0, 0)], "value binary, partition int, offset long"
    )
    kafka_plan = _plan(kafka_records_to_docs(records, "a long"))
    for node in ("BatchEvalPython", "ArrowEvalPython", "MapInArrow", "MapInPandas"):
        assert node not in kafka_plan, node
    assert "codegen" in kafka_plan  # from_json runs inside codegen

    t = compile_vrl('.b = upcase(string!(.a))\ndel(.a)')
    vrl_plan = _plan(t(spark.createDataFrame([("x",)], ["a"])))
    for node in ("BatchEvalPython", "ArrowEvalPython", "MapInArrow", "MapInPandas"):
        assert node not in vrl_plan, node

    spans = spark.createDataFrame(
        [("t1", 5), ("t1", 9), ("t2", 7)],
        "trace_id string, span_start_timestamp_nanos long",
    )
    trace_plan = _plan(find_trace_ids(spans, 2))
    assert "HashAggregate" in trace_plan
    assert "partial_max" in trace_plan  # map-side combine before shuffle
    assert "TakeOrderedAndProject" in trace_plan
    assert "Window" not in trace_plan


def test_fetch_pushdown_path_equals_broadcast_path(searcher, monkeypatch):
    """The size-gated winner-id pushdown fetch (used for big docmaps)
    must return exactly what the single-job broadcast join returns."""
    from quickwit_spark.query.ast import FullText

    q = FullText("text", "spark join", "or")
    base = [
        (r["doc_key"], r["score"], r["rank"])
        for r in searcher.search(q, k=7).collect()
    ]
    monkeypatch.setattr(engine, "FETCH_PUSHDOWN_MIN_BYTES", 0)
    forced = [
        (r["doc_key"], r["score"], r["rank"])
        for r in searcher.search(q, k=7).collect()
    ]
    assert forced == base
    # zero-hit query through the pushdown gate: clean empty result
    assert searcher.search(FullText("text", "zzzznope", "or"), k=5).collect() == []


def _job_count(spark, fn) -> int:
    """Spark jobs `fn` runs, counted through a job group."""
    import uuid

    sc = spark.sparkContext
    group = f"plan-shape-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "plan shape")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # job-start events reach the status store through the listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_term_topk_runs_three_jobs(spark, searcher):
    """A term top-k is kernel shuffle + winner broadcast + final
    collect: a fourth job is a plan-shape regression."""
    q = Term("text", "spark")
    searcher.search(q, k=10).collect()  # count a steady-state query
    assert _job_count(spark, lambda: searcher.search(q, k=10).collect()) == 3


def test_es_wildcard_search_expands_once(searcher, monkeypatch):
    """One `_search` request resolves its body once: the hits, the
    total and the aggs share one term-dictionary expansion."""
    from quickwit_spark.search.es_wire import EsWireHandler

    calls = []
    orig = searcher._expand_one

    def counting(*args, **kwargs):
        calls.append(args)
        return orig(*args, **kwargs)

    monkeypatch.setattr(searcher, "_expand_one", counting)
    resp = EsWireHandler({"web": searcher}).request(
        "POST", "/web/_search",
        body={
            "size": 5,
            "query": {"wildcard": {"text": {"value": "spa*"}}},
            "track_total_hits": True,
            "aggs": {"by_lang": {"terms": {"field": "lang"}}},
        },
    )
    assert resp["hits"]["total"]["value"] > 0
    assert len(calls) == 1

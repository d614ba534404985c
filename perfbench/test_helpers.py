"""Tests of the benchmark's own helpers (no Spark needed):

    python3 -m pytest perfbench/test_helpers.py -q
"""

from __future__ import annotations

import os
import re
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from corpus import CLASSES, QueryGen, make_corpus  # noqa: E402
from oracle import Oracle, check_exact, check_parity  # noqa: E402
from queries import K  # noqa: E402
from stats import self_time, tail, union_length  # noqa: E402
from tracer import Job, JobTotals, Span, Tracer  # noqa: E402


# ------------------------------------------------------------ percentile rule


def test_tail_keeps_ten_samples_beyond():
    xs = list(range(1, 101))  # 1..100
    value, pct, n = tail(xs)
    assert n == 100
    assert sum(x > value for x in xs) == 10
    assert value == 90 and pct == 90.0


def test_tail_order_independent_and_small_runs_report_max():
    xs = [5.0, 1.0, 9.0, 3.0, 7.0, 2.0, 8.0, 4.0, 6.0, 10.0, 11.0, 0.5]
    value, pct, n = tail(xs)
    assert n == 12 and sum(x > value for x in xs) == 10
    assert value == 1.0 and pct == pytest.approx(100 * 2 / 12)
    assert tail([3.0, 1.0, 2.0]) == (3.0, 100.0, 3)
    assert tail([]) == (0.0, 0.0, 0)


# ------------------------------------------------- job intervals, self time


def test_union_length_merges_overlaps_and_gaps():
    assert union_length([]) == 0.0
    assert union_length([(0, 1), (0.5, 2), (3, 4)]) == pytest.approx(3.0)
    assert union_length([(3, 4), (0, 10)]) == pytest.approx(10.0)
    assert union_length([(1, 1), (2, 1)]) == 0.0  # empty / inverted


def test_self_time_excludes_covered_part_only_inside_span():
    # children overlap each other and stick out of the parent
    assert self_time((0, 10), [(1, 3), (2, 4), (9, 12), (-5, 0.5)]) == pytest.approx(10 - 4.5)
    assert self_time((0, 10), []) == 10


def test_job_totals_driver_time_is_wall_minus_job_union():
    span = Span(1, "engine.query", start=100.0, end=102.0)
    jobs = [
        Job(1, "r1", 100.2, 100.8, stages=2, tasks=5, cpu_ms=30.0),
        Job(2, "r1", 100.6, 101.0, stages=1, tasks=4, cpu_ms=10.0),
        Job(3, "r1", 101.5, 102.5, stages=2, tasks=8, cpu_ms=5.0),
    ]
    t = JobTotals.of(jobs, span)
    assert (t.jobs, t.stages, t.tasks) == (3, 5, 17)
    assert t.cpu_ms == pytest.approx(45.0)
    assert t.busy_s == pytest.approx(0.8 + 0.5)  # last job clipped to the span
    assert span.wall - t.busy_s == pytest.approx(0.7)


def test_tracer_spans_nest_and_self_time():
    tr = Tracer(sc=None, enabled=True)
    with tr.span("outer") as outer:
        with tr.span("inner") as inner:
            pass
    assert inner.parent == outer.sid and inner.rid == outer.rid
    assert tr.self_time(outer) == pytest.approx(outer.wall - inner.wall, abs=1e-6)
    off = Tracer(enabled=False)
    with off.span("x") as sp:
        assert sp is None
    assert off.spans == []


# ----------------------------------------------------- corpus and queries


def test_corpus_is_seeded_and_tokenizer_safe():
    a, b = make_corpus(7, 3000, 3), make_corpus(7, 3000, 3)
    assert a.texts == b.texts and a.lang == b.lang
    assert make_corpus(8, 3000, 3).texts != a.texts
    assert all(re.fullmatch(r"[a-z0-9]+( [a-z0-9]+)*", t) for t in a.texts)
    ga, gb = QueryGen(a, 7), QueryGen(b, 7)
    assert [ga.draw(c) for c in CLASSES] == [gb.draw(c) for c in CLASSES]


# ------------------------------------------------------------- the checker


@pytest.fixture(scope="module")
def small():
    c = make_corpus(3, 400, 4)
    o = Oracle(c.table(), threads=1)
    yield c, QueryGen(c, 3), o
    o.close()


def _docs_with(c, pred):
    return {int(d) for d, t in zip(c.doc_id, c.texts) if pred(t.split(" "))}


def test_oracle_match_sets_agree_with_python(small):
    c, g, o = small
    q = g.draw("and")
    a, b = q.spec
    assert o.match_set(q) == _docs_with(c, lambda ws: a in ws and b in ws)
    p = g.draw("phrase")
    x, y = p.spec
    assert o.match_set(p) == _docs_with(
        c, lambda ws: any(ws[i] == x and ws[i + 1] == y for i in range(len(ws) - 1))
    )
    assert o.match_set(q, upto=100) == {d for d in o.match_set(q) if d < 100}


def test_checker_accepts_oracle_answer_and_rejects_planted_wrong_topk(small):
    c, g, o = small
    q = g.draw("term_hot")
    want = o.topk_exact(q)
    assert len(want) == K
    assert check_exact(want, want) is None
    swapped = [want[1], want[0], *want[2:]]
    assert check_exact(swapped, want) is not None
    off_score = [(want[0][0], want[0][1] + 1e-4), *want[1:]]
    assert check_exact(off_score, want) is not None

    matches = o.match_set(q)
    assert check_parity(q.cls, want, matches) is None
    outsider = next(int(d) for d in c.doc_id if int(d) not in matches)
    planted = [*want[:-1], (outsider, 0.1)]
    assert "non-matching" in check_parity(q.cls, planted, matches)
    assert check_parity(q.cls, want[:-1], matches) is not None  # too few hits
    assert check_parity(q.cls, [want[0]] * K, matches) is not None  # duplicates


def test_checker_counts_aggs_and_es_totals(small):
    c, g, o = small
    q = g.draw("count")
    m = o.match_set(q)
    assert check_parity("count", len(m), m) is None
    assert check_parity("count", len(m) + 1, m) is not None
    a = g.draw("agg_terms")
    buckets = o.agg(a)
    assert check_parity("agg_terms", buckets, buckets) is None
    assert check_parity("agg_terms", buckets[::-1], buckets) is not None or len(buckets) < 2
    t = g.draw("term_hot")
    m = o.match_set(t)
    hits = o.topk_exact(t)
    assert check_parity(t.cls, (hits, (len(m), "eq")), m) is None
    assert check_parity(t.cls, (hits, (K, "gte")), m) is None
    assert check_parity(t.cls, (hits, (len(m) - 1, "eq")), m) is not None

"""Per-layer metrics of a traced run, named after the package's modules.

Every metric below is reported by every traced run; a layer that a
workload does not exercise reports 0 (e.g. `es_wire.*` on
crawl-ingest)."""

from __future__ import annotations

import os
import time

from corpus import CLASSES
from stats import median
from tracer import JobTotals, jobs_in_window, jobs_of_group

_ENGINE = (
    ("engine.driver_ms", "ms"),
    ("engine.jobs_per_query", "count"),
    ("engine.stages_per_query", "count"),
    ("engine.tasks_per_query", "count"),
    ("engine.executor_run_ms_per_query", "ms"),
    ("engine.executor_cpu_ms_per_query", "ms"),
    ("engine.input_mb_per_query", "MB"),
    ("engine.shuffle_mb_per_query", "MB"),
    ("engine.job_wait_ms", "ms"),
    ("engine.slot_busy_frac", "ratio"),
    ("engine.segments_searched", "count"),
    ("engine.segments_matched", "count"),
    ("engine.segment_useful_frac", "ratio"),
    ("engine.refresh_ms", "ms"),
)
_PER_CLASS = (
    ("wall_ms", "ms"),
    ("driver_ms", "ms"),
    ("jobs", "count"),
    ("tasks", "count"),
    ("executor_cpu_ms", "ms"),
)
_OTHER = (
    ("session.get_spark_s", "s"),
    ("kernel.decode_ms_per_segment", "ms"),
    ("kernel.eval_ms_per_segment", "ms"),
    ("kernel.segments_per_query", "count"),
    ("es_wire.request_ms", "ms"),
    ("es_wire.driver_ms", "ms"),
    ("serve.http_ms", "ms"),
    ("builder.wall_s", "s"),
    ("builder.driver_s", "s"),
    ("builder.jobs", "count"),
    ("builder.tasks", "count"),
    ("builder.executor_cpu_s", "s"),
    ("builder.shuffle_write_mb", "MB"),
    ("analysis.tokenize_mb_per_s", "MB/s"),
    ("codec.postings_bytes_per_posting", "B"),
    ("codec.docmap_bytes_per_doc", "B"),
    ("manifest.commit_ms", "ms"),
    ("manifest.live_segments_ms", "ms"),
    ("manifest.live_segment_count", "count"),
    ("ingest.index_mb_per_s", "MB/s"),
    ("ingest.fresh_ms", "ms"),
    ("merge.wall_s", "s"),
    ("merge.docs_per_s", "docs/s"),
    ("merge.plan_ms", "ms"),
    ("merge.ops", "count"),
    ("merge.executor_cpu_s", "s"),
    ("merge.shuffle_read_mb", "MB"),
    ("merge.write_amp", "ratio"),
    ("proc.peak_rss_mb", "MB"),
    ("proc.jvm_rss_mb", "MB"),
    ("proc.py_workers", "count"),
    ("proc.py_worker_rss_mb", "MB"),
    ("trace.overhead_frac", "ratio"),
    ("trace.spans", "count"),
)

LAYER_METRICS: tuple = (
    _ENGINE
    + tuple(
        (f"engine.{c}.{m}", u) for c in CLASSES for m, u in _PER_CLASS
    )
    + _OTHER
)

KERNEL_REPLAY_CLASSES = ("term_hot", "or", "phrase")
TOKENIZE_REPLAY_BYTES = 3_000_000


def _engine_span(tracer, sp):
    """The span of the engine call inside a request span (ES wire), or
    the request span itself (native calls)."""
    for c in tracer.children(sp):
        if c.name.startswith("engine."):
            return c
    return sp


def engine_layer(run, jobs, window, queries) -> None:
    tracer = run.tracer
    per_q = []
    for q, sp in queries:
        esp = _engine_span(tracer, sp)
        t = JobTotals.of(jobs_of_group(jobs, sp.rid), esp)
        per_q.append((q.cls, esp.wall, esp.wall - t.busy_s, t))
    n = max(len(per_q), 1)
    L = run.layer
    L["engine.driver_ms"] = (median(d * 1000 for _c, _w, d, _t in per_q), "ms")
    for name, attr, scale, unit in (
        ("engine.jobs_per_query", "jobs", 1, "count"),
        ("engine.stages_per_query", "stages", 1, "count"),
        ("engine.tasks_per_query", "tasks", 1, "count"),
        ("engine.executor_run_ms_per_query", "run_ms", 1, "ms"),
        ("engine.executor_cpu_ms_per_query", "cpu_ms", 1, "ms"),
        ("engine.input_mb_per_query", "input_bytes", 1e-6, "MB"),
        ("engine.shuffle_mb_per_query", "shuffle_read_bytes", 1e-6, "MB"),
    ):
        L[name] = (sum(getattr(t, attr) for *_x, t in per_q) * scale / n, unit)
    L["engine.job_wait_ms"] = (median(t.wait_ms for *_x, t in per_q), "ms")
    w0, w1 = window
    busy = sum(j.run_ms for j in jobs if w0 <= j.start <= w1)
    L["engine.slot_busy_frac"] = (busy / 1000 / max((w1 - w0) * run.cores, 1e-9), "ratio")
    for cls in CLASSES:
        rows = [r for r in per_q if r[0] == cls]
        L[f"engine.{cls}.wall_ms"] = (median(w * 1000 for _c, w, _d, _t in rows), "ms")
        L[f"engine.{cls}.driver_ms"] = (median(d * 1000 for _c, _w, d, _t in rows), "ms")
        L[f"engine.{cls}.jobs"] = (median(t.jobs for *_x, t in rows), "count")
        L[f"engine.{cls}.tasks"] = (median(t.tasks for *_x, t in rows), "count")
        L[f"engine.{cls}.executor_cpu_ms"] = (median(t.cpu_ms for *_x, t in rows), "ms")
    refresh = tracer.named("engine.refresh")
    L["engine.refresh_ms"] = (median(s.wall * 1000 for s in refresh), "ms")
    reqs = tracer.named("es_wire.request")
    if reqs:
        timed = [s for s in reqs if "client_s" in s.attrs]
        L["es_wire.request_ms"] = (median(s.wall * 1000 for s in timed), "ms")
        L["es_wire.driver_ms"] = (median(tracer.self_time(s) * 1000 for s in timed), "ms")
        L["serve.http_ms"] = (
            median((s.attrs["client_s"] - s.wall) * 1000 for s in timed), "ms"
        )


def pruning_layer(run, searcher, queries, oracle, upto) -> None:
    """Segments each window query searched (`search_plan`) and those
    holding at least one of its matches (oracle match set mapped to
    segments through the docmap). Call while the searcher still sees
    the window's segments."""
    from queries import TOPK_CLASSES, to_ast

    seg_of = {
        int(r["doc_key"]): r["segment_id"]
        for r in searcher.docs().select("segment_id", "doc_key").collect()
    }
    searched = matched = 0
    seen = set()
    n = 0
    for q, _sp in queries:
        if q.cls not in TOPK_CLASSES or q.cls in seen:
            continue
        seen.add(q.cls)
        plan = searcher.search_plan(to_ast(q))
        segs = set(plan["segments_searched"])
        hit = {seg_of[d] for d in oracle.match_set(q, upto) if d in seg_of}
        searched += len(segs)
        matched += len(hit & segs)
        n += 1
    n = max(n, 1)
    run.layer["engine.segments_searched"] = (searched / n, "count")
    run.layer["engine.segments_matched"] = (matched / n, "count")
    run.layer["engine.segment_useful_frac"] = (matched / max(searched, 1), "ratio")
    run.layer["kernel.segments_per_query"] = (searched / n, "count")
    run.layer["manifest.live_segment_count"] = (len(searcher.segments), "count")


def kernel_layer(run, searcher, gen) -> None:
    """In-process replay of the per-segment kernel (`SegmentData.
    from_rows` + `evaluate_segment`) on the rows a query's segments
    hand it, for one query of each KERNEL_REPLAY_CLASSES class."""
    from pyspark.sql import functions as F

    from quickwit_spark.analysis.tokenizer import resolve_tokenizer
    from quickwit_spark.index.builder import KIND_NORMS, KIND_POS, KIND_POSTINGS, KIND_STATS
    from quickwit_spark.search.kernel import SegmentData, evaluate_segment
    from queries import K, to_ast

    decode = evaluate = 0.0
    segs = 0
    for cls in KERNEL_REPLAY_CLASSES:
        q = gen.draw(cls)
        terms = list(q.spec)
        inv = searcher.inv().filter(F.col("segment_id").isin(searcher.live_ids))
        cond = (F.col("kind").isin(KIND_POSTINGS, KIND_POS) & F.col("term").isin(terms)) | (
            F.col("kind").isin(KIND_NORMS, KIND_STATS)
        )
        pdf = inv.filter(cond).toPandas()
        ast = to_ast(q)
        for sid, part in pdf.groupby("segment_id"):
            rows = part.to_dict("records")
            t0 = time.perf_counter()
            seg = SegmentData.from_rows(sid, rows)
            t1 = time.perf_counter()
            evaluate_segment(seg, ast, lambda _f: resolve_tokenizer("default"), k=K)
            t2 = time.perf_counter()
            decode += t1 - t0
            evaluate += t2 - t1
            segs += 1
    segs = max(segs, 1)
    run.layer["kernel.decode_ms_per_segment"] = (decode * 1000 / segs, "ms")
    run.layer["kernel.eval_ms_per_segment"] = (evaluate * 1000 / segs, "ms")


def index_files_layer(run, idx_dir, searcher, corpus) -> None:
    """Tokenizer replay and the on-disk codec footprint of live segments."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.dataset as ds

    from quickwit_spark.analysis.tokenizer import tokenize_flat_arrow
    from quickwit_spark.index.builder import docs_path
    from workloads import dir_bytes

    texts, size = [], 0
    for t in corpus.texts:
        if size >= TOKENIZE_REPLAY_BYTES:
            break
        texts.append(t)
        size += len(t)
    arr = pa.array(texts, pa.string())
    t0 = time.perf_counter()
    tokenize_flat_arrow(arr, "default")
    run.layer["analysis.tokenize_mb_per_s"] = (
        size / 1e6 / max(time.perf_counter() - t0, 1e-9), "MB/s"
    )
    live = pa.array(searcher.live_ids, pa.string())
    inv = ds.dataset(os.path.join(idx_dir, "inv"), format="parquet", partitioning="hive")
    tab = inv.to_table(
        columns=["segment_id", "payload1", "payload2", "block_last", "block_max", "doc_freq"],
        filter=(ds.field("kind") == "postings"),
    )
    tab = tab.filter(pc.is_in(tab["segment_id"], value_set=live))
    nbytes = sum(
        pc.sum(pc.binary_length(tab[c])).as_py() or 0
        for c in ("payload1", "payload2", "block_last", "block_max")
    )
    postings = pc.sum(tab["doc_freq"]).as_py() or 1
    run.layer["codec.postings_bytes_per_posting"] = (nbytes / postings, "B")
    ndocs = sum(s.num_docs for s in searcher.segments) or 1
    run.layer["codec.docmap_bytes_per_doc"] = (
        dir_bytes(docs_path(idx_dir)) / ndocs, "B"
    )


def setup_layers(run, jobs) -> None:
    """session, builder, manifest, merge and process metrics."""
    tracer, L = run.tracer, run.layer
    L["session.get_spark_s"] = (run.get_spark_s, "s")
    # the timed slice builds, else the set-up build
    builds = tracer.named("builder.build_index")
    timed = [s for s in builds if str(s.attrs.get("phase", "")).startswith("slice")]
    builds = timed or sorted(builds, key=lambda s: s.start)[-1:]
    rows = [(s, JobTotals.of(jobs_in_window(jobs, s), s)) for s in builds]
    L["builder.wall_s"] = (median(s.wall for s, _t in rows), "s")
    L["builder.driver_s"] = (median(s.wall - t.busy_s for s, t in rows), "s")
    L["builder.jobs"] = (median(t.jobs for _s, t in rows), "count")
    L["builder.tasks"] = (median(t.tasks for _s, t in rows), "count")
    L["builder.executor_cpu_s"] = (median(t.cpu_ms / 1000 for _s, t in rows), "s")
    L["builder.shuffle_write_mb"] = (
        median(t.shuffle_write_bytes / 1e6 for _s, t in rows), "MB"
    )
    ing = run.ingest
    L["ingest.index_mb_per_s"] = (
        sum(b for b, _t, _f in ing) / 1e6 / max(sum(t for _b, t, _f in ing), 1e-9), "MB/s"
    )
    L["ingest.fresh_ms"] = (median(f * 1000 for *_x, f in ing), "ms")
    L["manifest.commit_ms"] = (median(s.wall * 1000 for s in tracer.named("manifest.commit")), "ms")
    L["manifest.live_segments_ms"] = (
        median(s.wall * 1000 for s in tracer.named("manifest.live_segments")), "ms"
    )
    merges = tracer.named("merge.run_merges")
    if merges:
        m = merges[0]
        t = JobTotals.of(jobs_in_window(jobs, m), m)
        info = run.meta.get("merge", {})
        L["merge.wall_s"] = (m.wall, "s")
        L["merge.plan_ms"] = (
            median(s.wall * 1000 for s in tracer.named("merge.plan_merges")), "ms"
        )
        L["merge.ops"] = (info.get("ops", 0), "count")
        L["merge.executor_cpu_s"] = (t.cpu_ms / 1000, "s")
        L["merge.shuffle_read_mb"] = (t.shuffle_read_bytes / 1e6, "MB")
        L["merge.write_amp"] = (info.get("written_bytes", 0) / max(info.get("pre_bytes", 1), 1), "ratio")
    split = run.rss.peak_split
    L["proc.peak_rss_mb"] = (run.rss.peak_bytes / 1e6, "MB")
    L["proc.jvm_rss_mb"] = (split.get("jvm", 0) / 1e6, "MB")
    L["proc.py_workers"] = (split.get("py_workers", 0), "count")
    L["proc.py_worker_rss_mb"] = (split.get("python_worker", 0) / 1e6, "MB")
    L["trace.spans"] = (len(tracer.spans), "count")


def fill_defaults(run) -> None:
    for name, unit in LAYER_METRICS:
        run.layer.setdefault(name, (0.0, unit))

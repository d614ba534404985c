"""The benchmark's workloads and their metrics.

Both workloads are closed loops driven from this process with at most
`nproc` client threads, on Spark `local[nproc]`:

- `es-fleet`: four clients send ES-DSL `_search`/`_count` bodies over
  real sockets to `serve.EsHttpServer` → `EsWireHandler` → one
  bulk-built index. The only workload where queries contend for task
  slots, and the only one that runs ES response shaping, total-hits
  counting and HTTP.
- `crawl-ingest`: time-ordered crawl slices arrive one after another;
  each is indexed with `build_index`, the searcher refreshes, a
  freshness query asks for the slice's own vocabulary, then mixed
  queries of the other nine classes, mostly on the slice's words, run
  through the native API. The traced run then compacts the slice
  segments with `merge.run_merges` and checks exact answers over the
  merged index.

Each run sets up once: JVM start, page generation, a cold bulk build,
opening the searcher and a first answer, which is an oracle-mode top-k
checked exactly against the oracle.
"""

from __future__ import annotations

import http.client
import json
import os
import subprocess
import sys
import threading
import time

import numpy as np
import pyarrow.parquet as pq

import procstat
from corpus import CLASSES, Query, QueryGen, make_corpus
from oracle import Oracle, check_exact, check_parity
from queries import TOPK_CLASSES, es_answer, es_request, run_native
from stats import median, tail
from tracer import Tracer, read_jobs

ES_CLIENTS = 4
# a window lasts --seconds and at least this many requests per client
# (slices for crawl-ingest): the sample count stays above the 10 the
# tail percentile needs beyond it, and the class mix of a window is
# the same from run to run
ES_MIN_PER_CLIENT = 4
CRAWL_MIN_SLICES = 3
AB_PAIRS = 3  # traced/untraced query pairs for the tracing overhead


def file_sizes(path: str) -> dict[str, int]:
    out = {}
    for root, _dirs, files in os.walk(path):
        for f in files:
            p = os.path.join(root, f)
            try:
                out[p] = os.path.getsize(p)
            except FileNotFoundError:
                continue
    return out


def dir_bytes(path: str) -> int:
    return sum(file_sizes(path).values())


def exact_class(seed: int, part: int) -> str:
    """The top-k class whose oracle-mode answer a run checks exactly,
    drawn by the seed: the two workloads of one seed check different
    classes (part 0 and 1), and every class comes up within a few
    seeds."""
    order = [str(c) for c in np.random.default_rng([seed, 3]).permutation(TOPK_CLASSES)]
    return order[part]


class Run:
    """State shared by the phases of one benchmark run."""

    def __init__(self, workdir: str, out_dir: str, seed: int, seconds: float, trace: bool,
                 cores: int):
        self.workdir = workdir
        self.out_dir = out_dir
        self.seed = seed
        self.seconds = seconds
        self.cores = cores
        self.tracer = Tracer(enabled=trace)
        self.e2e: dict[str, tuple[float, str]] = {}
        self.layer: dict[str, tuple[float, str]] = {}
        self.meta: dict = {}
        self.attempted = 0
        self.failed = 0  # raised an exception
        self.wrong = 0  # answered, but not what the oracle says
        self.problems: list[str] = []
        # (text bytes, build_index seconds, seconds from the start of the
        # build until a query returned the new pages) per ingested batch
        self.ingest: list[tuple[int, float, float]] = []
        self.spark = None
        self.rss = procstat.RssSampler()
        self._dirs = 0

    # ------------------------------------------------------------ helpers

    def log(self, msg: str) -> None:
        print(f"perfbench {time.strftime('%H:%M:%S')} {msg}", file=sys.stderr, flush=True)

    def fresh_dir(self, prefix: str) -> str:
        self._dirs += 1
        d = os.path.join(self.workdir, f"{prefix}{self._dirs}")
        os.makedirs(d)
        return d

    def note(self, ok: bool, why: str | None = None, raised: bool = False) -> None:
        self.attempted += 1
        if raised:
            self.failed += 1
        elif not ok:
            self.wrong += 1
        if why and len(self.problems) < 20:
            self.problems.append(why)

    def start_spark(self) -> None:
        from quickwit_spark.session import get_spark

        t0 = time.perf_counter()
        with self.tracer.span("session.get_spark"):
            self.spark = get_spark(
                "perfbench",
                cores=self.cores,
                extra_conf={
                    "spark.ui.showConsoleProgress": "false",
                    "spark.local.dir": os.path.join(self.workdir, "spark-local"),
                    "spark.sql.warehouse.dir": os.path.join(self.workdir, "warehouse"),
                },
            )
        self.get_spark_s = time.perf_counter() - t0
        self.tracer.sc = self.spark.sparkContext
        self.rss.start()

    def stop(self) -> None:
        """Stop Spark and wait for its JVM (and so its Python workers)
        to exit."""
        self.rss.stop()
        self.tracer.unwrap_all()
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        self.spark.stop()
        self.spark = None
        if proc is None:
            return
        gateway.shutdown()
        # the JVM exits when its stdin (held by this process) closes
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)

    def index_config(self, partitions: int):
        from quickwit_spark.index.builder import FieldConfig, IndexConfig

        return IndexConfig(
            fields=[FieldConfig("text", record="position")],
            doc_key="doc_id",
            num_partitions=partitions,
            stored_columns=("url", "lang"),
            time_column="warc_ts",
        )

    def write_pages(self, table) -> str:
        d = self.fresh_dir("pages")
        pq.write_table(table, os.path.join(d, "part-0.parquet"))
        return d

    def build(self, pages_dir: str, index_dir: str, cfg, job_id: str, tag: str) -> float:
        from quickwit_spark.index.builder import build_index

        t0 = time.perf_counter()
        with self.tracer.span("builder.build_index", group=True, phase=tag):
            build_index(self.spark, self.spark.read.parquet(pages_dir), index_dir, cfg,
                        job_id=job_id)
        return time.perf_counter() - t0

    def install_wrappers(self) -> None:
        """Spans around the package's public functions (trace runs)."""
        if not self.tracer.enabled:
            return
        from quickwit_spark.index import manifest, merge
        from quickwit_spark.search import engine, es_wire

        t = self.tracer
        t.wrap(engine.IndexSearcher, "refresh", "engine.refresh")
        t.wrap(manifest, "commit", "manifest.commit")
        t.wrap(manifest, "live_segments", "manifest.live_segments")
        t.wrap(merge, "plan_merges", "merge.plan_merges")
        t.wrap(engine.IndexSearcher, "es_search_response", "engine.es_search_response")
        t.wrap(engine.IndexSearcher, "es_count", "engine.es_count")

        def body_key(_self, method, endpoint, params=None, body=None, ndjson=None):
            return {"endpoint": endpoint, "body": json.dumps(body, sort_keys=True)}

        t.wrap(es_wire.EsWireHandler, "request", "es_wire.request", group=True,
               attrs_fn=body_key)

    # ------------------------------------------------------ set-up phases

    def setup_index(self, pages_dir: str, cfg, gen: QueryGen, oracle: Oracle, upto,
                    exact_cls: str):
        """The set-up's build and first answer: bulk-build the index
        (the process's cold start: JIT, Python workers), open a searcher
        and answer one `exact_cls` query in oracle mode, checked exactly
        against the oracle. Returns the index, its searcher, the build
        time and the open + first-answer time."""
        from quickwit_spark.search.engine import IndexSearcher

        idx = self.fresh_dir("index")
        build_s = self.build(pages_dir, idx, cfg, "bulk", "setup")
        t0 = time.perf_counter()
        with self.tracer.span("engine.open"):
            searcher = IndexSearcher(self.spark, idx)
        q = gen.draw(exact_cls)
        ans = None
        try:
            with self.tracer.span("engine.query", group=True, cls=q.cls, phase="setup"):
                ans = run_native(searcher, q, mode="oracle")
        except Exception as e:  # noqa: BLE001 — counted, run goes on
            self.note(False, f"setup {q.describe()}: {e!r}", raised=True)
        first_s = time.perf_counter() - t0
        if ans is not None:
            why = check_exact(ans, oracle.topk_exact(q, upto))
            self.note(why is None, f"setup exact {q.describe()}: {why}" if why else None)
        self.meta["setup_build_s"] = round(build_s, 4)
        self.meta["setup_first_answer_s"] = round(first_s, 4)
        self.meta["exact_class"] = exact_cls
        return idx, searcher, build_s, first_s

    def _checked(self, q: Query, ans, expected) -> tuple[bool, str | None]:
        why = check_parity(q.cls, ans, expected)
        return why is None, (f"{q.describe()}: {why}" if why else None)

    def oracle_pass(self, searcher, gen: QueryGen, oracle: Oracle, upto, label: str,
                    classes):
        """Exact oracle-mode top-k for each of `classes`, one query at a
        time. (count and agg_terms answers are exact in every mode and
        are checked on every timed call.)"""
        for c in classes:
            q = gen.draw(c)
            try:
                with self.tracer.span("engine.query", group=True, cls=q.cls, phase=label):
                    ans = run_native(searcher, q, mode="oracle")
            except Exception as e:  # noqa: BLE001 — counted, run goes on
                self.note(False, f"{label} {q.describe()}: {e!r}", raised=True)
                continue
            why = check_exact(ans, oracle.topk_exact(q, upto))
            self.note(why is None, f"{label} exact {q.describe()}: {why}" if why else None)

    def probe_host(self) -> None:
        self.meta.setdefault("host_probe_s", []).append(round(procstat.host_speed_probe(), 5))

    def report_latency(self, lat_s: list, elapsed: float, cpu_s: float, n_ops: int) -> None:
        lat_ms = [x * 1000 for x in lat_s]
        tv, tp, tn = tail(lat_ms)
        self.e2e["query_p50_ms"] = (median(lat_ms), "ms")
        self.e2e["query_tail_ms"] = (tv, "ms")
        self.meta["query_tail"] = {"percentile": round(tp, 2), "samples": tn}
        self.e2e["qps"] = (len(lat_s) / elapsed if elapsed > 0 else 0.0, "1/s")
        self.e2e["cpu_ms_per_query"] = (cpu_s * 1000 / max(len(lat_s), 1), "ms")
        self.meta["window_s"] = round(elapsed, 4)
        self.meta["window_ops"] = n_ops

    def report_common(self, setup_s: float, idx_dir: str, text_bytes: int) -> None:
        self.e2e["setup_s"] = (setup_s, "s")
        self.e2e["bytes_per_text_byte"] = (dir_bytes(idx_dir) / text_bytes, "ratio")
        self.rss.sample()
        self.meta["peak_rss_mb"] = self.rss.peak_bytes / 1e6
        ops = max(self.attempted, 1)
        self.meta["error_frac"] = (self.failed + self.wrong) / ops

    # ------------------------------------------------------------- merge

    def timed_merge(self, idx: str, min_level_docs: int) -> list:
        """`run_merges` under the stable-log policy with merge factor 2:
        in every partition the segments below `3 * min_level_docs` docs
        (the new small ones) are merged together."""
        from quickwit_spark.index.merge import MergePolicy, run_merges

        before = file_sizes(idx)
        t0 = time.perf_counter()
        with self.tracer.span("merge.run_merges"):
            recs = run_merges(self.spark, idx, policy=MergePolicy(
                merge_factor=2, min_level_num_docs=min_level_docs))
        merge_s = time.perf_counter() - t0
        after = file_sizes(idx)
        docs = sum(r.num_docs for r in recs)
        self.layer["merge.docs_per_s"] = (docs / merge_s, "docs/s")
        self.meta["merge"] = {
            "ops": len(recs), "docs": docs, "s": round(merge_s, 4),
            "pre_bytes": sum(before.values()),
            "written_bytes": sum(v for k, v in after.items() if k not in before),
        }
        return recs

    # -------------------------------------------------------- trace report

    def trace_window(self, searcher, queries, oracle, upto, gen) -> None:
        """Layer metrics that need the searcher as the window left it."""
        from layers import kernel_layer, pruning_layer

        pruning_layer(self, searcher, queries, oracle, upto)
        kernel_layer(self, searcher, gen)

    def trace_report(self, queries, idx_dir, searcher, corpus) -> None:
        from layers import engine_layer, fill_defaults, index_files_layer, setup_layers

        jobs = read_jobs(self.spark.sparkContext)
        engine_layer(self, jobs, (self.window_t0, self.window_t1), queries)
        index_files_layer(self, idx_dir, searcher, corpus)
        setup_layers(self, jobs)
        fill_defaults(self)
        self.tracer.dump(os.path.join(self.out_dir, "spans.jsonl"))


# =================================================================== es-fleet

ES_DOCS = 12_000
ES_SLICES = 12
PARTITIONS = 4  # segments per build: one per core


def es_fleet(run: Run) -> None:
    from quickwit_spark.search.es_wire import EsWireHandler
    from quickwit_spark.serve import EsHttpServer

    t_setup = time.perf_counter()
    run.start_spark()
    run.install_wrappers()
    t0 = time.perf_counter()
    corpus = make_corpus(run.seed, ES_DOCS, ES_SLICES)
    gen = QueryGen(corpus, run.seed)
    pages_dir = run.write_pages(corpus.table())
    gen_s = time.perf_counter() - t0
    run.log(f"spark {run.get_spark_s:.2f}s, pages {gen_s:.2f}s")
    oracle = Oracle(corpus.table())
    cfg = run.index_config(PARTITIONS)
    idx, searcher, build_s, first_s = run.setup_index(
        pages_dir, cfg, gen, oracle, None, exact_class(run.seed, 0))
    setup_s = run.get_spark_s + gen_s + build_s + first_s
    run.ingest = [(corpus.text_bytes, build_s, build_s + first_s)]
    run.meta["setup_total_s"] = round(time.perf_counter() - t_setup, 3)
    run.log(f"set-up {setup_s:.2f}s (build {build_s:.2f}s, first answer {first_s:.2f}s)")

    handler = EsWireHandler({"web": searcher})
    server = EsHttpServer(handler=handler).start()
    try:
        run.probe_host()
        lat, records, warm, elapsed, cpu_s = _es_window(run, server, gen, run.seconds)
        run.probe_host()
        for cls, q, t_send, t_recv, ans, err in warm + records:
            if err is not None:
                run.note(False, f"{q.describe()}: {err}", raised=True)
            else:
                run.note(*run._checked(q, ans, oracle.expected(q)))
        run.report_latency(lat, elapsed, cpu_s, len(records))
        if run.tracer.enabled:
            run.layer["trace.overhead_frac"] = (_es_overhead(run, server, gen), "ratio")
            spans = {s.sid: s for s in run.tracer.named("es_wire.request")}
            pairs = []
            for _cls, q, t_send, t_recv, _ans, _err in records:
                sp = _match_request(spans, es_request(q), t_send, t_recv)
                if sp is not None:
                    sp.attrs["cls"] = q.cls
                    sp.attrs["client_s"] = t_recv - t_send
                    pairs.append((q, sp))
            run.trace_window(searcher, pairs, oracle, None, gen)
    finally:
        server.stop()
    run.report_common(setup_s, idx, corpus.text_bytes)
    if run.tracer.enabled:
        run.trace_report(pairs, idx, searcher, corpus)
    oracle.close()


def _match_request(spans: dict, req, t_send, t_recv):
    path, body = req
    key = json.dumps(body, sort_keys=True)
    for sid, sp in list(spans.items()):
        if sp.attrs.get("body") == key and t_send <= sp.start <= t_recv:
            del spans[sid]
            return sp
    return None


def _post(conn, path: str, body: dict) -> dict:
    raw = json.dumps(body).encode()
    conn.request("POST", path, body=raw, headers={"Content-Type": "application/json"})
    resp = conn.getresponse()
    data = resp.read()
    if resp.status != 200:
        raise RuntimeError(f"HTTP {resp.status}: {data[:200]!r}")
    return json.loads(data)


def _es_window(run: Run, server, gen: QueryGen, seconds: float):
    """ES_CLIENTS closed-loop clients. Each first sends one untimed
    warm-up request (all four at once, so the JVM and the ES path are
    warm and the window opens at full contention), then cycles through
    the ten classes from its own offset until the window closes and it
    has sent ES_MIN_PER_CLIENT requests; in-flight requests finish.
    Returns latencies, per-request records of the window and of the
    warm-up, window length and the process tree's CPU seconds in the
    window."""
    plans = []
    for c in range(ES_CLIENTS):
        first = c * len(CLASSES) // ES_CLIENTS
        order = [CLASSES[(first + i) % len(CLASSES)] for i in range(len(CLASSES))]
        plans.append([gen.draw(order[i % len(order)]) for i in range(200)])
    warm = [gen.draw(p[-1].cls) for p in plans]
    records: list = []
    warm_records: list = []
    lock = threading.Lock()
    deadline = [0.0]
    mark: dict = {}
    ends: list[float] = []

    def open_window():
        mark["cpu0"] = procstat.tree()
        run.window_t0 = time.time()
        mark["t0"] = time.perf_counter()
        deadline[0] = mark["t0"] + seconds

    start = threading.Barrier(ES_CLIENTS, action=open_window)

    def send(conn, q, sink):
        path, body = es_request(q)
        t_send = time.time()
        t0 = time.perf_counter()
        try:
            ans, err = es_answer(q, _post(conn, path, body)), None
        except Exception as e:  # noqa: BLE001 — counted as failed
            ans, err = None, repr(e)
        dt = time.perf_counter() - t0
        with lock:
            sink.append((q.cls, q, t_send, time.time(), ans, err, dt))

    def client(w, plan):
        conn = http.client.HTTPConnection("127.0.0.1", server.port, timeout=170)
        try:
            send(conn, w, warm_records)
            start.wait()
            for i, q in enumerate(plan):
                if i >= ES_MIN_PER_CLIENT and time.perf_counter() >= deadline[0]:
                    break
                send(conn, q, records)
        finally:
            with lock:
                ends.append(time.perf_counter())
            conn.close()

    threads = [threading.Thread(target=client, args=a) for a in zip(warm, plans)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    elapsed = max(ends) - mark["t0"]
    run.window_t1 = time.time()
    cpu_s = procstat.cpu_delta(mark["cpu0"], procstat.tree())
    lat = [r[6] for r in records if r[5] is None]
    return lat, [r[:6] for r in records], [r[:6] for r in warm_records], elapsed, cpu_s


def _es_overhead(run: Run, server, gen: QueryGen) -> float:
    """Tracing overhead: AB_PAIRS single-client request pairs, the same
    request untraced then traced; median(traced)/median(untraced) - 1."""
    conn = http.client.HTTPConnection("127.0.0.1", server.port, timeout=170)
    on, off = [], []
    try:
        for i in range(AB_PAIRS):
            q = gen.draw(("term_hot", "or", "phrase", "bool")[i % 4])
            path, body = es_request(q)
            for enabled, sink in ((False, off), (True, on)):
                run.tracer.enabled = enabled
                t0 = time.perf_counter()
                _post(conn, path, body)
                sink.append(time.perf_counter() - t0)
    finally:
        run.tracer.enabled = True
        conn.close()
    return median(on) / median(off) - 1.0


# =============================================================== crawl-ingest

CRAWL_DOCS = 12_000
CRAWL_SLICES = 24
CRAWL_BASE_SLICES = 8  # bulk-built in set-up; the rest arrive timed
CRAWL_PARTITIONS = 2
# stable-log level boundary: slice segments (250 docs) merge among
# themselves, base segments (2,000 docs) sit a level up
CRAWL_MIN_LEVEL_DOCS = 500
CRAWL_MIXED = 5  # mixed queries after each slice's freshness query
# the freshness query is the term_rare of crawl-ingest, so the mixed
# queries cycle through the nine other classes (two slices cover all);
# those with a mid-band term ask for one of the new slice's words
MIXED_CLASSES = tuple(c for c in CLASSES if c != "term_rare")


def crawl_ingest(run: Run) -> None:
    t_setup = time.perf_counter()
    run.start_spark()
    run.install_wrappers()
    t0 = time.perf_counter()
    corpus = make_corpus(run.seed, CRAWL_DOCS, CRAWL_SLICES)
    gen = QueryGen(corpus, run.seed)
    base_end = corpus.slice_rows(CRAWL_BASE_SLICES).start
    base_dir = run.write_pages(corpus.table(slice(0, base_end)))
    slice_dirs = {
        s: run.write_pages(corpus.table(corpus.slice_rows(s)))
        for s in range(CRAWL_BASE_SLICES, CRAWL_SLICES)
    }
    gen_s = time.perf_counter() - t0
    oracle = Oracle(corpus.table())
    cfg = run.index_config(CRAWL_PARTITIONS)
    exact = exact_class(run.seed, 1)
    idx, searcher, build_s, first_s = run.setup_index(base_dir, cfg, gen, oracle, base_end, exact)
    setup_s = run.get_spark_s + gen_s + build_s + first_s
    run.meta["setup_total_s"] = round(time.perf_counter() - t_setup, 3)
    run.log(f"set-up {setup_s:.2f}s (spark {run.get_spark_s:.2f}s, build {build_s:.2f}s, "
            f"first answer {first_s:.2f}s)")

    # ---- timed window: slices arrive until it closes
    run.probe_host()
    lat, pending, run.ingest = [], [], []
    upto = base_end
    mixed = 0
    cpu0 = procstat.tree()
    run.window_t0 = time.time()
    t_start = time.perf_counter()
    deadline = t_start + run.seconds
    for s in range(CRAWL_BASE_SLICES, CRAWL_SLICES):
        if len(run.ingest) >= CRAWL_MIN_SLICES and time.perf_counter() >= deadline:
            break
        rows = corpus.slice_rows(s)
        t_b = time.perf_counter()
        build_s = run.build(slice_dirs[s], idx, cfg, f"slice{s:02d}", f"slice{s}")
        upto = rows.stop
        searcher.refresh()
        todo = [gen.slice_query(s)]
        for _ in range(CRAWL_MIXED):
            todo.append(gen.draw(MIXED_CLASSES[mixed % len(MIXED_CLASSES)],
                                 mid=gen.slice_term(s)))
            mixed += 1
        for i, q in enumerate(todo):
            t0 = time.perf_counter()
            try:
                with run.tracer.span("engine.query", group=True, cls=q.cls,
                                     phase="window") as sp:
                    ans, err = run_native(searcher, q), None
            except Exception as e:  # noqa: BLE001 — counted as failed
                ans, err, sp = None, repr(e), None
            t1 = time.perf_counter()
            if err is None:
                lat.append(t1 - t0)
            if i == 0:
                slice_bytes = sum(len(t) for t in corpus.texts[rows])
                run.ingest.append((slice_bytes, build_s, t1 - t_b))
            pending.append((q, upto, ans, err, sp))
    elapsed = time.perf_counter() - t_start
    run.window_t1 = time.time()
    cpu_s = procstat.cpu_delta(cpu0, procstat.tree())
    run.probe_host()
    for q, up, ans, err, _sp in pending:
        if err is not None:
            run.note(False, f"{q.describe()}: {err}", raised=True)
        else:
            run.note(*run._checked(q, ans, oracle.expected(q, up)))
    run.report_latency(lat, elapsed, cpu_s, len(pending))
    run.meta["slices"] = len(run.ingest)
    run.log(f"window: {len(run.ingest)} slices, {len(lat)} queries, {elapsed:.2f}s")
    pairs = [(q, sp) for q, _up, _a, err, sp in pending if sp is not None]
    if run.tracer.enabled:
        run.layer["trace.overhead_frac"] = (_native_overhead(run, searcher, gen), "ratio")
        run.trace_window(searcher, pairs, oracle, upto, gen)

    text_bytes = sum(len(t) for t in corpus.texts[:upto])
    run.report_common(setup_s, idx, text_bytes)
    if run.tracer.enabled:
        # compaction, then an exact pass over the merged segments; the
        # untraced run skips both to fit its time budget
        run.timed_merge(idx, CRAWL_MIN_LEVEL_DOCS)
        run.log(f"merge {run.meta['merge']}")
        searcher.refresh()
        run.oracle_pass(searcher, gen, oracle, upto, "post_merge", (exact,))
        run.trace_report(pairs, idx, searcher, corpus)
    oracle.close()


def _native_overhead(run: Run, searcher, gen: QueryGen) -> float:
    on, off = [], []
    try:
        for i in range(AB_PAIRS):
            q = gen.draw(("term_hot", "or", "phrase", "bool")[i % 4])
            for enabled, sink in ((False, off), (True, on)):
                run.tracer.enabled = enabled
                t0 = time.perf_counter()
                with run.tracer.span("engine.query", group=True, cls=q.cls, phase="ab"):
                    run_native(searcher, q)
                sink.append(time.perf_counter() - t0)
    finally:
        run.tracer.enabled = True
    return median(on) / median(off) - 1.0


WORKLOADS = {"es-fleet": es_fleet, "crawl-ingest": crawl_ingest}

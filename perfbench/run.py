"""Benchmark entry point.

    python3 perfbench/run.py --workload es-fleet --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. Builds nothing: the package is
imported from the checkout. Prints metadata lines, then as its last
stdout line one JSON object with `correct`, `attempted`, `failed` and
`metrics` (the end-to-end metrics with `--trace 0`, the per-layer
metrics with `--trace 1`). All scratch files live under
`.bench_work/` in the checkout and are removed on exit; trace spans are
written to `.bench_out/`.

    python3 perfbench/run.py --workload all --seed 1 --seconds 20

runs every workload once (each in its own process) and prints every
end-to-end metric by name and unit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOAD_NAMES = ("es-fleet", "crawl-ingest")


def _fail(msg: str, code: int = 2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def _git_commit() -> str | None:
    head = os.path.join(ROOT, ".git", "HEAD")
    try:
        with open(head) as f:
            ref = f.read().strip()
        if ref.startswith("ref: "):
            with open(os.path.join(ROOT, ".git", ref[5:])) as f:
                return f.read().strip()
        return ref
    except OSError:
        return None


def _run_all(args) -> int:
    """One run of every workload, each in a fresh process; prints
    `workload metric value unit` lines."""
    code = 0
    for w in WORKLOAD_NAMES:
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", w,
             "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0"],
            capture_output=True, text=True, timeout=900,
        )
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            print(f"{w}: failed (exit {proc.returncode})\n{proc.stderr[-2000:]}")
            code = 1
            continue
        res = json.loads(lines[-1])
        print(f"{w}: correct={res['correct']} attempted={res['attempted']} "
              f"failed={res['failed']}")
        for name, m in res["metrics"].items():
            print(f"  {name:<22} {m['value']:>14.4f} {m['unit']}")
    return code


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=(*WORKLOAD_NAMES, "all"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a terminated run still stops Spark and removes its scratch files
    signal.signal(signal.SIGTERM, lambda *_a: sys.exit(143))
    if args.workload == "all":
        return _run_all(args)

    # the package and the oracle's gate SQL come from the checkout; a
    # directory without them is not something to benchmark
    if not os.path.isfile(os.path.join(ROOT, "quickwit_spark", "__init__.py")) or \
            not os.path.isfile(os.path.join(ROOT, "__spark_entry__.py")):
        _fail(f"no quickwit_spark package under {ROOT}")
    sys.path.insert(0, ROOT)

    # run hygiene: no engine knobs, scratch inside the checkout
    for k in [k for k in os.environ if k.startswith("QWS_")]:
        del os.environ[k]
    cores = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    work_root = os.path.join(ROOT, ".bench_work")
    os.makedirs(work_root, exist_ok=True)
    workdir = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=work_root)
    out_dir = os.path.join(ROOT, ".bench_out")
    os.makedirs(out_dir, exist_ok=True)
    os.environ["TMPDIR"] = workdir
    tempfile.tempdir = workdir
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(workdir, "spark-local")
    # every JVM (the launcher too): temp files in the work dir, no
    # hsperfdata under the system temp dir
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={workdir}"

    import duckdb
    import pyarrow
    import pyspark

    import procstat
    import workloads

    meta = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "nproc": os.cpu_count(), "spark_cores": cores,
        "loadavg_start": [round(x, 2) for x in os.getloadavg()],
        "commit": _git_commit(),
        "versions": {"pyspark": pyspark.__version__, "pyarrow": pyarrow.__version__,
                     "duckdb": duckdb.__version__, "python": sys.version.split()[0]},
    }
    run = workloads.Run(workdir, out_dir, args.seed, args.seconds, bool(args.trace), cores)
    steal0 = procstat.cpu_ticks()
    t0 = time.perf_counter()
    try:
        workloads.WORKLOADS[args.workload](run)
    finally:
        run.stop()
        shutil.rmtree(workdir, ignore_errors=True)
        try:
            os.rmdir(work_root)
        except OSError:
            pass
    meta.update(run.meta)
    meta["loadavg_end"] = [round(x, 2) for x in os.getloadavg()]
    steal1 = procstat.cpu_ticks()
    meta["steal_frac"] = round((steal1[0] - steal0[0]) / max(steal1[1] - steal0[1], 1), 4)
    meta["run_s"] = round(time.perf_counter() - t0, 3)
    meta["wrong"] = run.wrong
    meta["problems"] = run.problems
    print(json.dumps({"meta": meta}))
    chosen = run.layer if args.trace else run.e2e
    metrics = {k: {"value": float(v), "unit": u} for k, (v, u) in chosen.items()}
    print(json.dumps({
        "correct": run.wrong == 0 and run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed + run.wrong,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())

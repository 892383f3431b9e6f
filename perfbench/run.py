"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root.  Prints one ``# name = value unit (note)``
line per reported metric, then, as the last line, one JSON object with the
keys ``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics of BENCHMARK.json with ``--trace 0``, its per-layer metrics with
``--trace 1``.  Exits non-zero when a correctness check fails.
Scratch files live under ``.perfbench_work/`` and are removed at exit;
the traced run's spans are kept under ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import sys
import tempfile
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

UNITS = {
    "setup_s": "s", "items_per_s": "1/s",
    "session.start_s": "s", "sources.generate_s": "s",
    "core.oracle.extract_us_per_turn": "us", "core.layout.us_per_turn": "us",
    "core.html_extract.us_per_turn": "us", "core.textnorm.us_per_turn": "us",
    "core.security.us_per_turn": "us", "core.chunker.us_per_turn": "us",
    "core.embed.us_per_chunk": "us",
    "spark.jobs": "count", "spark.tasks": "count", "spark.shuffle_write_bytes": "bytes",
    "spark.executor_run_s": "s", "spark.task_skew": "ratio", "spark.gc_frac": "ratio",
    "trace.overhead_frac": "ratio",
}
END_TO_END = ["setup_s", "items_per_s"]
PER_LAYER = [k for k in UNITS if k not in END_TO_END]


def _fmt(value) -> str:
    if value is None:
        return "n/a"
    if isinstance(value, float):
        return f"{value:.6g}"
    return str(value)


def _stop_jvm() -> None:
    """End the JVM that PySpark launched and wait for it: it exits when the
    pipe to its stdin closes, and its Python workers go with it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    try:
        import pdf_extractor_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the package under test is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    from perfbench.tracing import RssSampler, Spans
    from perfbench.workloads import WORKLOADS, Ctx

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    run_id = f"{args.workload}-{args.seed}-{'traced' if args.trace else 'plain'}"
    work = os.path.join(ROOT, ".perfbench_work", f"{run_id}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # Spark's scratch (shuffle, block manager, pyspark temp files) and every
    # temp file of the JVM and the Python workers stay inside the checkout
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    # (-XX:-UsePerfData: HotSpot writes its perf-data file to /tmp regardless;
    # the launcher JVM of spark-submit reads SPARK_LAUNCHER_OPTS)
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    for var in ("SPARK_SUBMIT_OPTS", "SPARK_LAUNCHER_OPTS"):
        os.environ[var] = f"{os.environ.get(var, '')} {java_opts}".strip()
    tempfile.tempdir = None
    spans = Spans(run_id, enabled=bool(args.trace))
    cores = len(os.sched_getaffinity(0))
    try:
        with RssSampler() as rss:
            ctx = Ctx(args.workload, args.seed, args.seconds, bool(args.trace), work, cores, rss, spans)
            try:
                res = WORKLOADS[args.workload](ctx)
            finally:
                ctx.stop_session()
                _stop_jvm()
    except Exception:  # noqa: BLE001 -- an operation failed: report, print no result
        traceback.print_exc()
        return 1
    finally:
        spans.dump(os.path.join(ROOT, ".perfbench_out", f"spans-{run_id}.jsonl"))
        shutil.rmtree(work, ignore_errors=True)

    for name, value, unit, note in res.report:
        print(f"# {name} = {_fmt(value)} {unit}" + (f" ({note})" if note else ""))
    for name in END_TO_END + PER_LAYER:
        if name in res.e2e or name in res.layers:
            print(f"# {name} = {_fmt(res.e2e.get(name, res.layers.get(name)))} {UNITS[name]}")
    # an operation that raises ends the run above, without a result
    print(f"# failed_frac = 0 ratio (0 of {res.attempted} batches)")
    if args.trace:
        for name, secs in sorted(spans.self_times().items()):
            print(f"# span self time {name} = {secs:.6g} s")
    metrics = {}
    for name in PER_LAYER if args.trace else END_TO_END:
        value = res.layers.get(name) if args.trace else res.e2e.get(name)
        if value is None or (isinstance(value, float) and math.isnan(value)):
            res.errors.append(f"metric {name} was not measured")
            continue
        metrics[name] = {"value": value, "unit": UNITS[name]}
    for err in res.errors:
        print(f"# CORRECTNESS FAILURE: {err}")
    correct = not res.errors
    print(json.dumps({"correct": correct, "attempted": res.attempted, "failed": 0, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())

"""perfbench: end-to-end and per-layer benchmark of the vector_db_spark
engine, run from the root of a source checkout.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 20 --trace 0

Workloads: ``serve`` (HTTP reads with writes beside them, see serve.py)
and ``pipeline_batch`` (in-process batch pipeline, see pipeline.py). The seed
makes every input; the engine only sees the generated files.

The last line of stdout is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics of
BENCHMARK.json with ``--trace 0``, its per-layer metrics with
``--trace 1`` (a separate run, with spans around the engine's public
functions and each request's Spark jobs tagged with its id). Progress and
diagnostics go to stderr. ``--size smoke`` runs tiny inputs (self-test).

The run is sandboxed from here, not from engine code: Spark gets
``nproc`` cores, a JVM heap well below host RAM, the checkout on
``PYTHONPATH``, and a fresh API root, local dir, warehouse and temp dir
under ``.perfbench/`` in the checkout, removed at exit.
"""

from __future__ import annotations

import argparse
import faulthandler
import json
import os
import shutil
import signal
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import inputs  # noqa: E402
import pipeline  # noqa: E402
import serve  # noqa: E402
from common import Sandbox, check_name, kill_session, log  # noqa: E402

RUN_LIMIT_S = 170.0  # the whole run, set-up included, ends within this
SIZES = {
    "full": {
        "serve": {"n": 1000, "dim": 128, "clusters": 16, "batch": 16, "clients": 2,
                  "probe": 32, "timeout_s": 60.0},
        "pipeline_batch": {"n": 1000, "dim": 128, "clusters": 16,
                           "docs_n": 500, "n_queries": 64, "ivf_nlist": 8,
                           "ivf_nprobe": 2, "graph_nlist": 4, "ef_construction": 32,
                           "pq_ksub": 32},
    },
    "smoke": {
        "serve": {"n": 300, "dim": 128, "clusters": 4, "batch": 4, "clients": 2,
                  "probe": 8, "timeout_s": 60.0},
        "pipeline_batch": {"n": 300, "dim": 128, "clusters": 4,
                           "docs_n": 200, "n_queries": 8, "ivf_nlist": 4,
                           "ivf_nprobe": 2, "graph_nlist": 2, "ef_construction": 16,
                           "pq_ksub": 16},
    },
}
RUNNERS = {"serve": serve.serve, "pipeline_batch": pipeline.pipeline_batch}
END_TO_END_UNITS = {
    "setup_s": "s",
    "op_p50_ms": "ms",
    "search_p50_ms": "ms",
    "ops_per_s": "1/s",
    "recall_at_10": "frac",
    "peak_rss_mb": "MB",
}


def host_mem_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    return 4096


def sandbox_env(work: str) -> dict:
    env = dict(os.environ)
    tmp = inputs.stage_dir(work, "tmp")
    heap_mb = min(1024, host_mem_mb() // 4)
    env.update(
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        # the engine's 16g default can exceed the host; the inputs are small
        SPARK_GRAFT_DRIVER_MEM=f"{heap_mb}m",
        # Spark's Python workers and the engine subprocess import the
        # engine from the checkout
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p),
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        SPARK_LOCAL_DIRS=inputs.stage_dir(work, "spark-local"),
        SPARK_GRAFT_WAREHOUSE=os.path.join(work, "warehouse"),
        SPARK_LOCAL_IP="127.0.0.1",
        TMPDIR=tmp,
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp}",
    )
    return env


def per_layer_metrics() -> list[tuple[str, str]]:
    """Every per-layer metric with its unit, in BENCHMARK.json order."""
    out = [
        ("server.overhead_ms.p50", "ms"), ("server.overhead_ms.tail", "ms"),
        ("api.search.self_ms.p50", "ms"), ("api.search_batch.self_ms.p50", "ms"),
        ("api.write.self_ms.p50", "ms"), ("api.query.self_ms.p50", "ms"),
        ("catalog.get_ms.p50", "ms"), ("catalog.gets_per_op", "count"),
        ("store.scan_ms.p50", "ms"), ("store.scans_per_op", "count"),
        ("store.write_ms.p50", "ms"), ("store.write_amp", "ratio"),
        ("store.space_amp", "ratio"),
        ("index.plan_ms.p50.exact", "ms"), ("index.plan_ms.p50.ivf", "ms"),
        ("index.plan_ms.p50.graph", "ms"), ("index.build_ms.p50", "ms"),
        ("index.builds_per_search", "count"),
        ("docs.put_ms.p50", "ms"), ("docs.get_ms.p50", "ms"),
        ("spark.jobs_per_search", "count"), ("spark.jobs_per_search_batch", "count"),
        ("spark.jobs_per_write", "count"), ("spark.jobs_per_query", "count"),
        ("spark.jobs_per_build", "count"), ("spark.collect_ms.p50", "ms"),
        ("knn.python_worker_ms", "ms"), ("knn.bytes_to_worker", "B"),
        ("route.search.p50_ms", "ms"), ("route.search.tail_ms", "ms"),
        ("route.search_batch.p50_ms", "ms"), ("route.query.p50_ms", "ms"),
        ("route.write.p50_ms", "ms"), ("route.write.tail_ms", "ms"),
        ("pipeline.pass_ms", "ms"),
    ]
    step_units = {"wall_ms": "ms", "plan_ms": "ms", "jobs": "count", "exec_cpu_ms": "ms",
                  "shuffle_bytes": "B"}
    out += [(f"{s}.{f}", step_units[f]) for s in pipeline.STEP_NAMES for f in pipeline.STEP_FIELDS]
    out += [
        ("trace.op_p50_ms", "ms"), ("trace.overhead_ms_per_op", "ms"),
        ("trace.span_cost_us", "us"), ("trace.spans_per_op", "count"),
        ("trace.reconcile_err_ms.max", "ms"),
        ("trace.unattributed_frac.search", "frac"),
        ("trace.unattributed_frac.search_batch", "frac"),
        ("trace.unattributed_frac.write", "frac"),
        ("trace.unattributed_frac.query", "frac"),
        ("trace.unattributed_frac.pipeline", "frac"),
    ]
    for name, _ in out:
        check_name(name)
    return out


def arm_watchdog(box: Sandbox) -> None:
    """On a hang: dump every thread's stack, stop everything the engine
    started and exit non-zero, inside the run's time limit. On SIGTERM:
    the same, without the stacks."""

    def fire():
        log(f"# perfbench: run exceeded {RUN_LIMIT_S:.0f} s, aborting")
        faulthandler.dump_traceback(all_threads=True)
        for sid in box.sids:
            kill_session(sid)
        os._exit(3)

    t = threading.Timer(RUN_LIMIT_S, fire)
    t.daemon = True
    t.start()

    def on_term(signum, frame):
        for sid in box.sids:
            kill_session(sid)
        shutil.rmtree(box.work, ignore_errors=True)
        os._exit(128 + signum)

    signal.signal(signal.SIGTERM, on_term)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(RUNNERS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=sorted(SIZES), default="full")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "vector_db_spark", "api.py")):
        log(f"perfbench: no engine source under {ROOT}; run from a full checkout")
        return 2
    log(f"# start {args.workload}")
    faulthandler.dump_traceback_later(RUN_LIMIT_S + 5, exit=True)
    work = os.path.join(ROOT, ".perfbench", f"{args.workload}-{os.getpid()}-{time.time_ns()}")
    os.makedirs(work)
    box = Sandbox(work, sandbox_env(work), ROOT,
                  [sys.executable, os.path.join(HERE, "engine.py")], RUN_LIMIT_S - 20.0)
    arm_watchdog(box)
    try:
        run = RUNNERS[args.workload](
            args.seed, args.seconds, bool(args.trace), SIZES[args.size][args.workload], box
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)

    for f in run.failures[:20]:
        log(f"# FAILED {f}")
    log(f"# {args.workload}: {run.attempted} attempted, {len(run.failures)} failed, "
        f"{len(run.op_ms)} timed ops in {run.elapsed_s:.1f} s, setup {run.setup_s:.1f} s")
    if args.trace:
        # layers a workload does not touch (the server on pipeline_batch,
        # the pipeline steps on serve_*) read 0
        metrics = {n: {"value": float(run.layers.get(n, 0.0)), "unit": u}
                   for n, u in per_layer_metrics()}
    else:
        metrics = {n: {"value": float(v), "unit": END_TO_END_UNITS[n]}
                   for n, v in run.metrics().items()}
    print(json.dumps({
        "correct": not run.failures,
        "attempted": run.attempted,
        "failed": len(run.failures),
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())

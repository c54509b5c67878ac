"""Engine subprocess: owns the SparkSession and everything that runs on it.

    python3 perfbench/engine.py <spec.json>

``spec["mode"]`` is ``serve`` (bulk-load collections, then serve HTTP
until stdin closes or the controller stops it) or ``pipeline`` (run the
batch pipeline). It talks to
the controller in ``run.py`` with one JSON object per line: commands on
stdin, replies on stdout behind the ``@@perfbench`` prefix (Spark's own
output is ignored). With ``spec["trace"]`` it wraps the engine's public
functions in spans and tags each request's Spark jobs with its id.
"""

from __future__ import annotations

import faulthandler
import json
import os
import sys
import time
import traceback

import tracing
from common import PROTO, p50, peak_rss_mb, tail_of
from serve import FAMILIES, ROUTE_KIND


def say(msg: dict) -> None:
    sys.stdout.write(PROTO + json.dumps(msg) + "\n")
    sys.stdout.flush()


def commands():
    for line in sys.stdin:
        if line.strip():
            yield json.loads(line)


def start_spark(app: str):
    from vector_db_spark.session import get_spark

    # keep every job, stage and SQL execution of a run in the UI store so
    # the traced run can read them back after the fact; and a fixed,
    # pre-touched heap, so the JVM's resident size does not drift with
    # when the collector chose to grow the heap
    heap = os.environ["SPARK_GRAFT_DRIVER_MEM"]
    spark = get_spark(
        app,
        extra_conf={
            "spark.driver.extraJavaOptions": f"-Xms{heap} -XX:+AlwaysPreTouch",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


# -- serve --------------------------------------------------------------------



def install_serve_tracing(tracer, handler_cls) -> None:
    from pyspark.sql.classic.dataframe import DataFrame

    from vector_db_spark.api import VectorDatabaseApi
    from vector_db_spark.operators.collections import (
        Collection,
        CollectionCatalog,
        DocumentStore,
    )

    orig_post = handler_cls.do_POST

    def do_post(handler):
        rid = handler.headers.get("X-Request-Id")
        sp = tracer.begin("server" + handler.path, rid)
        tracer.set_group(rid)
        try:
            return orig_post(handler)
        finally:
            tracer.end(sp)

    handler_cls.do_POST = do_post
    for meth in ("search", "search_batch", "insert", "upsert", "query"):
        tracer.wrap(VectorDatabaseApi, meth, f"api.{meth}")
    tracer.wrap(VectorDatabaseApi, "_ensure_index", "api.ensure_index")
    tracer.wrap(CollectionCatalog, "get", "catalog.get")
    tracer.wrap(Collection, "scan", "store.scan")
    tracer.wrap(Collection, "insert", "store.write")
    tracer.wrap(Collection, "upsert", "store.write")
    tracer.wrap(Collection, "build_index", "index.build", group_suffix="build")
    tracer.wrap(Collection, "search", lambda c: f"index.search.{c.info.index_type}")
    tracer.wrap(
        Collection, "search_batch", lambda c: f"index.search_batch.{c.info.index_type}"
    )
    tracer.wrap(DocumentStore, "put", "docs.put")
    tracer.wrap(DocumentStore, "get", "docs.get")
    tracer.wrap(DataFrame, "collect", "spark.collect")


def serve_layers(tracer, sc, latency: dict[str, float]) -> dict[str, float]:
    """Per-layer metrics over the timed requests (ids in ``latency``,
    the client-measured milliseconds)."""
    spans = [s for s in tracer.spans if s.rid in latency]
    by_name: dict[str, list] = {}
    for s in spans:
        by_name.setdefault(s.name, []).append(s)
    roots = {s.rid: s for s in spans if s.name.startswith("server/")}
    api_by_rid = {s.rid: s for s in spans if s.name.startswith("api.") and s.name != "api.ensure_index"}
    kind = {rid: ROUTE_KIND[r.name[len("server"):]] for rid, r in roots.items()}
    n_ops = len(latency)

    def ms(name):
        return [s.ms for s in by_name.get(name, [])]

    out: dict[str, float] = {}
    overhead = [latency[rid] - api_by_rid[rid].ms for rid in latency if rid in api_by_rid]
    out["server.overhead_ms.p50"] = p50(overhead)
    out["server.overhead_ms.tail"] = tail_of(overhead)
    for k, names in (
        ("search", ["api.search"]),
        ("search_batch", ["api.search_batch"]),
        ("write", ["api.insert", "api.upsert"]),
        ("query", ["api.query"]),
    ):
        out[f"api.{k}.self_ms.p50"] = p50(
            [tracer.self_ms(s) for n in names for s in by_name.get(n, [])]
        )
    out["catalog.get_ms.p50"] = p50(ms("catalog.get"))
    out["catalog.gets_per_op"] = len(ms("catalog.get")) / n_ops
    out["store.scan_ms.p50"] = p50(ms("store.scan"))
    out["store.scans_per_op"] = len(ms("store.scan")) / n_ops
    out["store.write_ms.p50"] = p50(ms("store.write"))
    for fam in FAMILIES:
        out[f"index.plan_ms.p50.{fam}"] = p50(
            ms(f"index.search.{fam}") + ms(f"index.search_batch.{fam}")
        )
    builds = ms("index.build")
    n_search = sum(1 for k in kind.values() if k in ("search", "search_batch"))
    out["index.build_ms.p50"] = p50(builds)
    out["index.builds_per_search"] = len(builds) / n_search if n_search else 0.0
    out["docs.put_ms.p50"] = p50(ms("docs.put"))
    out["docs.get_ms.p50"] = p50(ms("docs.get"))

    groups = list(latency) + [f"{rid}:build" for rid in latency]
    jobs = tracing.jobs_for_groups(sc, groups)
    for k in ("search", "search_batch", "write", "query"):
        rids = [rid for rid, kk in kind.items() if kk == k]
        n = sum(len(jobs[r]) + len(jobs[f"{r}:build"]) for r in rids)
        out[f"spark.jobs_per_{k}"] = n / len(rids) if rids else 0.0
    n_build_jobs = sum(len(jobs[f"{r}:build"]) for r in latency)
    out["spark.jobs_per_build"] = n_build_jobs / len(builds) if builds else 0.0
    out["spark.collect_ms.p50"] = p50(ms("spark.collect"))

    all_jobs = [j for js in jobs.values() for j in js]
    rest = tracing.SparkRest(sc)
    py = tracing.python_worker_totals(rest.sql(), all_jobs)
    out["knn.python_worker_ms"] = py["python_worker_ms"] / n_ops
    out["knn.bytes_to_worker"] = py["bytes_to_worker"] / n_ops

    for k in ("search", "search_batch", "write", "query"):
        rids = [rid for rid, kk in kind.items() if kk == k]
        client = sum(latency[r] for r in rids)
        api_self = sum(tracer.self_ms(api_by_rid[r]) for r in rids if r in api_by_rid)
        out[f"trace.unattributed_frac.{k}"] = api_self / client if client else 0.0
    out["trace.reconcile_err_ms.max"] = max(
        (tracer.reconcile(r) for r in roots.values()), default=0.0
    )
    out["trace.spans_per_op"] = len(spans) / n_ops
    return out


def run_serve(spec: dict) -> None:
    t0 = time.perf_counter()
    spark = start_spark("perfbench-serve")
    sc = spark.sparkContext
    from vector_db_spark.api import VectorDatabaseApi
    from vector_db_spark.server import VectorDbHttpServer

    api = VectorDatabaseApi(spark, spec["root"])
    t_session = time.perf_counter() - t0
    corpus = spark.read.parquet(spec["corpus"])
    for req in spec["collections"]:
        api.create_index(req)
        key = {k: req[k] for k in ("index_type", "dim", "metric_type")}
        api.catalog.get(api.collection_key(key)).insert(corpus)
    api.docs.put(spark.read.parquet(spec["docs"]))
    srv = VectorDbHttpServer(api)
    tracer = None
    if spec["trace"]:
        tracer = tracing.Tracer(sc)
        install_serve_tracing(tracer, srv.httpd.RequestHandlerClass)
    srv.start()
    say({"ready": True, "port": srv.port, "session_s": t_session,
         "load_s": time.perf_counter() - t0 - t_session})
    try:
        for cmd in commands():
            if cmd["cmd"] == "stats":
                out = {"peak_rss_mb": peak_rss_mb(os.getpid())}
                if tracer is not None:
                    out["layers"] = serve_layers(tracer, sc, cmd["latency"])
                    out["layers"]["trace.span_cost_us"] = tracing.span_cost_us()
                say(out)
    finally:
        srv.stop()
        spark.stop()


# -- pipeline -----------------------------------------------------------------


def run_pipeline(spec: dict) -> None:
    import pipeline

    spark = start_spark("perfbench-pipeline")
    sc = spark.sparkContext
    tracer = tracing.Tracer(sc) if spec["trace"] else None
    pipe = pipeline.Pipeline(spark, spec, tracer)
    say({"ready": True})
    for cmd in commands():
        if cmd["cmd"] == "warmup":
            say(pipe.warmup())
        elif cmd["cmd"] == "timed":
            say(pipe.timed(cmd["seconds"]))
        elif cmd["cmd"] == "stats":
            out = {"peak_rss_mb": peak_rss_mb(os.getpid())}
            if tracer is not None:
                out["layers"] = pipe.layers()
                out["layers"]["trace.span_cost_us"] = tracing.span_cost_us()
            say(out)
    spark.stop()


def main() -> int:
    with open(sys.argv[1]) as f:
        spec = json.load(f)
    # a wedged engine dumps every thread's stack and exits on its own
    faulthandler.dump_traceback_later(spec["hang_s"], exit=True)
    try:
        {"serve": run_serve, "pipeline": run_pipeline}[spec["mode"]](spec)
    except Exception as exc:  # noqa: BLE001 — report to the controller, then fail
        traceback.print_exc()
        say({"error": f"{type(exc).__name__}: {exc}"})
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""The ``pipeline_batch`` workload: one process, no HTTP, a fixed pass of
index builds (IVF, graph, PQ, with inline fits), batch searches of 64
queries against the saved IVF and graph indexes, exact batch kNN, and
registry dedup / text / embedder queries over a seeded ``documents``
table shaped like the fixture's.

Every step's output ends in a fingerprint sink: one job that returns a
row count and an order-insensitive hash (no output is written). The
warm-up pass also collects the steps that have DuckDB oracle SQL and
compares them with DuckDB, and scores the ANN steps' recall; every timed
pass must then reproduce the warm-up pass's fingerprints exactly.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time

import numpy as np
import pandas as pd

import inputs
from common import Run, Sandbox, log, median

# registry queries run as steps, one or two per operator module; the ones
# with DuckDB oracle SQL are compared against DuckDB
ORACLE_STEPS = ("dedup_exact", "text_quality", "text_embed_corpus_stats")
REGISTRY_STEPS = (
    ("dedup", "dedup_exact"),
    ("dedup", "minhash_lsh_neardup_capped"),
    ("text", "text_quality"),
    ("embedder", "text_embed_corpus_stats"),
)
STEP_NAMES = (
    "ann.ivf_build",
    "graph.graph_build",
    "pq.pq_build",
    "ann.ivf_search",
    "graph.graph_search",
    "knn.batch_knn_128",
) + tuple(f"{m}.{q}" for m, q in REGISTRY_STEPS)
STEP_FIELDS = ("wall_ms", "plan_ms", "jobs", "exec_cpu_ms", "shuffle_bytes")
BUILD_STEPS = ("ann.ivf_build", "graph.graph_build", "pq.pq_build")
SEARCH_STEPS = ("ann.ivf_search", "graph.graph_search", "knn.batch_knn_128")
ANN_STEPS = ("ann.ivf_search", "graph.graph_search")
# steps whose output is collected whole (DuckDB comparison, recall); the
# rest end in the Spark-side fingerprint
COLLECTED = ANN_STEPS + tuple(n for n in STEP_NAMES if n.split(".", 1)[1] in ORACLE_STEPS)
MIN_PASSES = 3


def digest(df) -> tuple[int, int]:
    """(rows, sum of per-row xxhash64 mod 2**64): an order-insensitive
    fingerprint of a step's output, collected as one column of longs."""
    from pyspark.sql import functions as F

    hashes = [r[0] for r in df.select(F.xxhash64(*df.columns)).collect()]
    return len(hashes), sum(hashes) % (1 << 64)


def frame_digest(pdf: pd.DataFrame) -> tuple[int, str]:
    """(rows, order-insensitive hash) of a collected frame."""
    cols = sorted(pdf.columns)
    rows = sorted(
        repr(tuple(v.tolist() if isinstance(v, np.ndarray) else v for v in r))
        for r in pdf[cols].itertuples(index=False, name=None)
    )
    return len(rows), hashlib.sha1("\n".join([repr(cols)] + rows).encode()).hexdigest()


def same_frame(spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame) -> str | None:
    """None when equal as multisets of rows (floats bit-exact, as the
    registry's oracles are engineered to be); else what differs."""
    if sorted(spark_pdf.columns) != sorted(oracle_pdf.columns):
        return f"columns {sorted(spark_pdf.columns)} != {sorted(oracle_pdf.columns)}"
    if len(spark_pdf) != len(oracle_pdf):
        return f"rows {len(spark_pdf)} != {len(oracle_pdf)}"

    def norm(df):
        cols = sorted(df.columns)
        return sorted(
            tuple(float(v) if isinstance(v, (float, np.floating)) else
                  int(v) if isinstance(v, (int, np.integer)) else str(v) for v in r)
            for r in df[cols].itertuples(index=False, name=None)
        )

    a, b = norm(spark_pdf), norm(oracle_pdf)
    bad = sum(x != y for x, y in zip(a, b))
    return f"{bad} rows differ" if bad else None


class Pipeline:
    def __init__(self, spark, spec: dict, tracer=None):
        from vector_db_spark.queries import QUERIES

        self.spark = spark
        self.spec = spec
        self.tracer = tracer
        self.queries = QUERIES
        self.sf_dir = spec["sf_dir"]
        self.idx_root = spec["idx_dir"]
        self.reference: dict[str, tuple[int, int]] = {}  # warm-up digests
        self.passes: list[dict] = []  # per timed pass: {step: (plan_ms, wall_ms)}
        self.pass_walls: list[float] = []
        self._pass_no = 0

    # -- the steps: each returns the DataFrame to sink, or None when the
    # step's output is the artifact it saved --------------------------------

    def _read(self, name: str):
        return self.spark.read.parquet(self.spec[name])

    def _steps(self, idx: str):
        from vector_db_spark.operators.ann import IvfIndex
        from vector_db_spark.operators.graph import GraphAnnIndex
        from vector_db_spark.operators.knn import batch_knn
        from vector_db_spark.operators.pq import ProductQuantizer

        p = self.spec["params"]

        def ivf_build():
            IvfIndex.build(self._read("corpus"), nlist=p["ivf_nlist"], max_iter=5).save(
                os.path.join(idx, "ivf")
            )

        def graph_build():
            GraphAnnIndex.build(
                self._read("corpus"),
                nlist=p["graph_nlist"],
                m=8,
                ef_construction=p["ef_construction"],
                max_iter=5,
            ).save(os.path.join(idx, "graph"))

        def pq_build():
            pq = ProductQuantizer.fit(self._read("corpus"), m=8, ksub=p["pq_ksub"], iters=5)
            np.save(os.path.join(idx, "pq_codebooks.npy"), pq.codebooks)
            pq.encode(self._read("corpus")).select("vec_id", "pq_codes").write.mode(
                "overwrite"
            ).parquet(os.path.join(idx, "pq"))

        def ivf_search():
            ivf = IvfIndex.load(self.spark, os.path.join(idx, "ivf"))
            return ivf.search_batch(self._read("queries128"), 10, nprobe=p["ivf_nprobe"])

        def graph_search():
            g = GraphAnnIndex.load(self.spark, os.path.join(idx, "graph"))
            return g.search_batch(self._read("queries128"), 10, nprobe=p["graph_nlist"],
                                  ef_search=64)

        def knn128():
            return batch_knn(self._read("corpus"), self._read("queries128"), 10, dim=128)

        steps = [
            ("ann.ivf_build", ivf_build),
            ("graph.graph_build", graph_build),
            ("pq.pq_build", pq_build),
            ("ann.ivf_search", ivf_search),
            ("graph.graph_search", graph_search),
            ("knn.batch_knn_128", knn128),
        ]
        for mod, q in REGISTRY_STEPS:
            fn = self.queries[q]
            steps.append((f"{mod}.{q}", lambda fn=fn: fn(self.spark, self.sf_dir)))
        return steps

    def _artifact(self, idx: str, step: str):
        """The saved artifact of a build step, read back for hashing."""
        sub = {"ann.ivf_build": "ivf/assignments", "graph.graph_build": "graph/graph",
               "pq.pq_build": "pq"}[step]
        df = self.spark.read.parquet(os.path.join(idx, sub))
        return df.drop(*[c for c in df.columns if c == "embedding"])

    # -- passes ---------------------------------------------------------------

    def _pass(self, tag: str) -> tuple[dict, dict, dict, float]:
        """Run every step once against a fresh index dir. A step's output
        ends in one job: collected whole for the COLLECTED steps, else
        reduced to ``digest``. Returns ({step: (plan_ms, wall_ms)}, {step:
        fingerprint}, {step: collected frame}, pass wall ms). The build
        steps' fingerprints are of their saved artifacts, taken after the
        pass, off the clock."""
        self._pass_no += 1
        idx = os.path.join(self.idx_root, f"p{self._pass_no}")
        os.makedirs(idx, exist_ok=True)
        times, digests, frames = {}, {}, {}
        t_pass = time.perf_counter()
        for name, fn in self._steps(idx):
            sp = None
            if self.tracer is not None:
                self.tracer.set_group(f"{tag}:{name}")
                sp = self.tracer.begin(f"step.{name}", f"{tag}:{name}")
            t0 = time.perf_counter()
            df = fn()
            t1 = time.perf_counter()
            if name in COLLECTED:
                frames[name] = df.toPandas()
            elif df is not None:
                digests[name] = digest(df)
            t2 = time.perf_counter()
            if sp is not None:
                self.tracer.end(sp)
            times[name] = ((t1 - t0) * 1e3, (t2 - t0) * 1e3)
        wall = (time.perf_counter() - t_pass) * 1e3
        if self.tracer is not None:
            self.tracer.set_group("untimed")
        digests.update({n: frame_digest(f) for n, f in frames.items()})
        for name in BUILD_STEPS:
            digests[name] = digest(self._artifact(idx, name))
        # keep only this pass's artifacts on disk
        for d in os.listdir(self.idx_root):
            if d != f"p{self._pass_no}":
                shutil.rmtree(os.path.join(self.idx_root, d), ignore_errors=True)
        return times, digests, frames, wall

    def warmup(self) -> dict:
        t0 = time.perf_counter()
        _, self.reference, frames, wall = self._pass("w")
        t1 = time.perf_counter()
        oracle = self._oracle_frames()
        failures = []
        for name, pdf in frames.items():
            q = name.split(".", 1)[1]
            if q in ORACLE_STEPS:
                diff = same_frame(pdf, oracle[q])
                if diff:
                    failures.append(f"{name}: DuckDB oracle mismatch: {diff}")
        recalls = self._recalls(frames)
        return {"wall_ms": wall, "checked": len(STEP_NAMES), "failures": failures,
                "recalls": recalls, "pass_s": t1 - t0, "checks_s": time.perf_counter() - t1}

    def _recalls(self, frames: dict) -> list[float]:
        """recall@10 of each ANN step's answer per query, against NumPy
        exact top-10 over the same corpus (ties by id)."""
        corpus = pd.read_parquet(self.spec["corpus"])
        ids = corpus["vec_id"].to_numpy()
        vecs = np.stack(corpus["embedding"].to_numpy()).astype(np.float64)
        qs = pd.read_parquet(self.spec["queries128"])
        out = []
        for name in ANN_STEPS:
            got = frames[name].groupby("query_id")["vec_id"].apply(set).to_dict()
            for qid, q in zip(qs["query_id"], qs["query_vec"]):
                d = ((vecs - np.asarray(q, np.float64)) ** 2).sum(axis=1)
                want = set(ids[np.lexsort((ids, d))[:10]].tolist())
                out.append(len(want & got.get(qid, set())) / 10.0)
        return out

    def timed(self, seconds: float) -> dict:
        """Whole passes until ``seconds`` have passed, and at least
        MIN_PASSES (a pass is the unit of work; medians over three passes
        shrug off the one that a host hiccup or leftover warm-up slowed). Every step's output must
        repeat the warm-up pass's fingerprint exactly."""
        end = time.perf_counter() + seconds
        walls, steps, failures = [], [], []
        while len(walls) < MIN_PASSES or time.perf_counter() < end:
            times, digests, _, wall = self._pass(f"t{len(walls)}")
            walls.append(wall)
            steps.append(times)
            failures += [
                f"{name}: output changed between repetitions "
                f"{self.reference[name]} -> {d}"
                for name, d in digests.items() if d != self.reference[name]
            ]
        self.passes, self.pass_walls = steps, walls
        return {"pass_ms": walls, "steps": steps, "failures": failures,
                "checked": len(walls) * len(STEP_NAMES)}

    def _oracle_frames(self) -> dict[str, pd.DataFrame]:
        import duckdb

        from vector_db_spark.queries import ORACLES

        con = duckdb.connect()
        try:
            path = os.path.join(self.sf_dir, "documents.parquet")
            con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}')")
            return {q: con.execute(ORACLES[q]).df() for q in ORACLE_STEPS}
        finally:
            con.close()

    # -- traced run -------------------------------------------------------------

    def layers(self) -> dict[str, float]:
        import tracing

        sc = self.spark.sparkContext
        rest = tracing.SparkRest(sc)
        jobs, stages, sql = rest.jobs(), rest.stages(), rest.sql()
        n_pass = len(self.passes)
        groups = {
            name: [f"t{i}:{name}" for i in range(n_pass)] for name in STEP_NAMES
        }
        job_ids = tracing.jobs_for_groups(sc, [g for gs in groups.values() for g in gs])
        out: dict[str, float] = {}
        all_jobs = []
        for name in STEP_NAMES:
            per_pass = [job_ids[g] for g in groups[name]]
            all_jobs.extend(j for js in per_pass for j in js)
            tot = [tracing.stage_totals(jobs, stages, js) for js in per_pass]
            out[f"{name}.wall_ms"] = median([p[name][1] for p in self.passes])
            out[f"{name}.plan_ms"] = median([p[name][0] for p in self.passes])
            out[f"{name}.jobs"] = median([len(js) for js in per_pass])
            for k in ("exec_cpu_ms", "shuffle_bytes"):
                out[f"{name}.{k}"] = median([t[k] for t in tot])
        py = tracing.python_worker_totals(sql, all_jobs)
        out["knn.python_worker_ms"] = py["python_worker_ms"] / n_pass
        out["knn.bytes_to_worker"] = py["bytes_to_worker"] / n_pass
        steps_ms = [sum(w for _, w in p.values()) for p in self.passes]
        out["trace.unattributed_frac.pipeline"] = median(
            [(pw - s) / pw for pw, s in zip(self.pass_walls, steps_ms)]
        )
        out["trace.spans_per_op"] = 1.0  # one span per step
        return out


# -- controller side (run.py's process; no Spark here) ------------------------


def pipeline_batch(seed: int, seconds: float, trace: bool, size: dict, box: Sandbox):
    run = Run()
    t_setup = time.perf_counter()
    sf_dir = inputs.stage_dir(box.work, "sf")
    stage = inputs.stage_dir(box.work, "stage")
    corpus = inputs.planted_corpus(seed, size["n"], size["dim"], size["clusters"])
    inputs.write_frame(os.path.join(sf_dir, "documents.parquet"),
                       inputs.documents(seed, size["docs_n"]))
    nq = size["n_queries"]
    paths = {k: os.path.join(stage, f"{k}.parquet") for k in ("corpus", "queries128")}
    inputs.write_vectors(paths["corpus"], np.arange(len(corpus)), corpus, "vec_id")
    inputs.write_vectors(paths["queries128"], np.arange(nq),
                         inputs.noisy_queries(seed, corpus, nq, "pipe-q128"), "query_id",
                         vec_col="query_vec")
    spec = dict(paths, mode="pipeline", sf_dir=sf_dir, idx_dir=inputs.stage_dir(box.work, "idx"),
                params=size, trace=trace, hang_s=box.hang_s)
    spec_path = os.path.join(stage, "spec.json")
    with open(spec_path, "w") as f:
        json.dump(spec, f)
    engine = box.engine(spec_path)
    try:
        engine.recv(timeout=box.hang_s)
        t_ready = time.perf_counter()
        warm = engine.request({"cmd": "warmup"}, timeout=box.hang_s)
        run.failures += warm["failures"]
        run.recalls = warm["recalls"]
        run.setup_s = time.perf_counter() - t_setup
        log(f"# setup {run.setup_s:.1f} s: engine up {t_ready - t_setup:.1f} s, warm-up pass "
            f"{warm['pass_s']:.1f} s, oracle and recall checks {warm['checks_s']:.1f} s")
        timed = engine.request({"cmd": "timed", "seconds": seconds}, timeout=box.hang_s)
        run.failures += timed["failures"]
        run.stats = engine.request({"cmd": "stats"}, timeout=120)
    finally:
        engine.stop()
    for i, steps in enumerate(timed["steps"]):
        log(f"# pass {i}: " + ", ".join(f"{n} {w:.0f}" for n, (_, w) in steps.items()))
    run.elapsed_s = sum(timed["pass_ms"]) / 1e3
    run.ops_per_s = len(STEP_NAMES) / (median(timed["pass_ms"]) / 1e3)
    run.op_ms = [w for p in timed["steps"] for _, w in p.values()]
    run.search_ms = [p[s][1] for p in timed["steps"] for s in SEARCH_STEPS]
    run.attempted = warm["checked"] + timed["checked"]
    run.layers = run.stats.get("layers", {})
    if trace:
        run.layers["pipeline.pass_ms"] = median(timed["pass_ms"])
        run.layers["trace.op_p50_ms"] = median(run.op_ms)
        run.layers["trace.overhead_ms_per_op"] = (
            run.layers["trace.span_cost_us"] * run.layers["trace.spans_per_op"] / 1e3
        )
    return run

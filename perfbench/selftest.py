"""Self-tests of the benchmark itself (not of the engine).

    python3 perfbench/selftest.py           # unit checks + smoke runs (~6 min)
    python3 perfbench/selftest.py --quick   # unit checks only (seconds)

Unit checks: metric names and units against BENCHMARK.json and the
``[A-Za-z0-9_.-]+`` rule; the tail rule really leaves >= 10 samples
beyond the percentile it picks; span self times add back up to the root
span. Smoke runs: every workload at ``--size smoke``, untraced and
traced, must print every metric of its kind with a finite value, and the
benchmark must fail without printing a result outside a full checkout.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import run  # noqa: E402
import tracing  # noqa: E402
from common import NAME_RE, TAIL_LADDER, check_name, samples_beyond, tail, tail_pct  # noqa: E402


def load_benchmark() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_names() -> None:
    bench = load_benchmark()
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    layers = {m["name"]: m["unit"] for m in bench["per_layer"]}
    assert e2e == run.END_TO_END_UNITS, (e2e, run.END_TO_END_UNITS)
    assert layers == dict(run.per_layer_metrics()), set(layers) ^ {
        n for n, _ in run.per_layer_metrics()}
    assert len(layers) <= 128
    assert {w["name"] for w in bench["workloads"]} == set(run.RUNNERS)
    for name in list(e2e) + list(layers) + [w["name"] for w in bench["workloads"]]:
        assert NAME_RE.match(name), name
    assert len(set(e2e) | set(layers)) == len(e2e) + len(layers), "a name is used twice"
    for bad in ("", ".lead", "has space", "x" * 65, "a/b", "ünï"):
        try:
            check_name(bad)
        except ValueError:
            continue
        raise AssertionError(f"{bad!r} was accepted")


def test_tail_rule() -> None:
    for n in range(1, 600):
        pct = tail_pct(n)
        if pct is None:
            assert samples_beyond(n, 50.0) < 10
            continue
        values = list(range(n))  # distinct, so "beyond" is a plain count
        cut = tail(values, pct)
        assert sum(v > cut for v in values) >= 10, (n, pct)
        higher = [p for p in TAIL_LADDER if p > pct]
        for p in higher:  # and no higher rung qualifies
            assert sum(v > tail(values, p) for v in values) < 10, (n, p)


def test_span_self_times() -> None:
    tr = tracing.Tracer()
    with tr.span("server/search", rid="r1") as root:
        time.sleep(0.002)
        with tr.span("api.search"):
            time.sleep(0.002)
            with tr.span("index.search.exact"):
                time.sleep(0.003)
            with tr.span("spark.collect"):
                time.sleep(0.003)
        time.sleep(0.001)
    assert all(s.rid == "r1" for s in tr.spans)
    assert tr.reconcile(root) < 1e-6, tr.reconcile(root)
    api = next(s for s in tr.spans if s.name == "api.search")
    kids = sum(c.ms for c in tr.children(api))
    assert abs(tr.self_ms(api) - (api.ms - kids)) < 1e-6
    assert 0 < tr.self_ms(api) < api.ms


def smoke(workload: str, trace: int) -> None:
    bench = load_benchmark()
    want = bench["per_layer" if trace else "end_to_end"]
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "3", "--trace", str(trace), "--size", "smoke"]
    res = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=240)
    assert res.returncode == 0, res.stderr[-3000:]
    out = json.loads(res.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}, out.keys()
    assert out["correct"] is True and out["failed"] == 0, res.stderr[-3000:]
    assert isinstance(out["attempted"], int) and out["attempted"] >= 1
    assert set(out["metrics"]) == {m["name"] for m in want}
    for m in want:
        got = out["metrics"][m["name"]]
        assert got["unit"] == m["unit"] and math.isfinite(got["value"]), (m, got)
        if not trace:
            assert got["value"] > 0, (workload, m["name"], got)
    if trace:
        v = {k: x["value"] for k, x in out["metrics"].items()}
        assert v["trace.reconcile_err_ms.max"] < 1.0, v["trace.reconcile_err_ms.max"]
        if workload.startswith("serve"):
            assert v["spark.jobs_per_search"] > 0 and v["trace.unattributed_frac.search"] < 1
        else:
            assert v["knn.batch_knn_128.jobs"] > 0
    print(f"ok smoke {workload} trace={trace}", flush=True)


def test_refuses_without_engine() -> None:
    """In a directory holding only BENCHMARK.json and perfbench/, the
    benchmark exits non-zero without printing a result."""
    with tempfile.TemporaryDirectory(dir=os.path.join(ROOT, ".perfbench")) as d:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
        shutil.copytree(HERE, os.path.join(d, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        res = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", "serve", "--seed", "1",
             "--seconds", "1", "--trace", "0"],
            cwd=d, capture_output=True, text=True, timeout=60)
    assert res.returncode != 0 and not res.stdout.strip(), (res.returncode, res.stdout)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--quick", action="store_true", help="unit checks only")
    args = ap.parse_args()
    os.makedirs(os.path.join(ROOT, ".perfbench"), exist_ok=True)
    for t in (test_names, test_tail_rule, test_span_self_times, test_refuses_without_engine):
        t()
        print(f"ok {t.__name__}", flush=True)
    if not args.quick:
        for w in run.RUNNERS:
            for trace in (0, 1):
                smoke(w, trace)
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""The ``serve`` workload: closed-loop HTTP clients against a server
subprocess.

Two client threads, each sending a fixed 20-op block over and over (the
two out of phase): 12 /search (k=10, rotating over FLAT, HNSW and
USEARCH), 2 /search_batch of 16 queries, 3 /query, and 3 writes to FLAT
(/insert of a fresh id, then /upsert of it with a document; a later
/query reads that document back). The corpus is a planted-cluster 128-d
set with a document for every id. Writes go to FLAT only and their
vectors lie far from every query, so reads stay exactly checkable and no
ANN index is rebuilt after set-up; the write path (bucketed copy-on-write
parquet, catalog lock, document store) still runs on every write.

Checks, all off the clock: FLAT labels against NumPy brute force (ties by
id), /query against the document this client last wrote (or the staged
one), ANN recall@10 against exact top-10 (timed searches plus an HNSW probe
batch), and after
the loop a write to USEARCH followed by a search for that vector, which
must return the new id first (the index is rebuilt, never served stale;
USEARCH's default nprobe equals nlist, so its answer is exact).
"""

from __future__ import annotations

import http.client
import json
import os
import threading
import time

import numpy as np

import inputs
from common import Run, Sandbox, dir_bytes, log, median, p50, tail_of

WIRE = {"exact": 0, "graph": 1, "ivf": 3}  # FLAT / HNSW / USEARCH
FAMILIES = ("exact", "graph", "ivf")
# one client's 20-op block: 60 % search, 10 % search_batch, 15 % query,
# 15 % write (insert, then upserts of the same id)
BLOCK = ("search", "search", "query", "search", "insert", "search", "search",
         "search_batch", "search", "upsert", "search", "query", "search", "search",
         "search_batch", "search", "upsert", "search", "query", "search")
ROUTE_KIND = {"/search": "search", "/search_batch": "search_batch", "/query": "query",
              "/insert": "write", "/upsert": "write"}
FAR = 1000.0  # write vectors sit this far off every cluster


def index_key(family: str, dim: int) -> dict:
    return {"index_type": WIRE[family], "dim": dim, "metric_type": 1}  # L2


def create_req(family: str, dim: int, n: int) -> dict:
    req = index_key(family, dim)
    if family == "graph":
        req["max_elements"] = 4 * n
    return req


class Op:
    """One request and everything its off-the-clock check needs."""

    __slots__ = ("rid", "route", "family", "payload", "status", "body", "ms", "expect")

    def __init__(self, rid, route, family, payload, expect=None):
        self.rid, self.route, self.family = rid, route, family
        self.payload, self.expect = payload, expect
        self.status, self.body, self.ms = None, None, None


class Client:
    def __init__(self, port: int, timeout_s: float):
        self.port, self.timeout_s = port, timeout_s

    def send(self, op: Op) -> Op:
        body = json.dumps(op.payload).encode()
        t0 = time.perf_counter()
        try:
            conn = http.client.HTTPConnection("127.0.0.1", self.port, timeout=self.timeout_s)
            try:
                conn.request("POST", op.route, body, {
                    "Content-Type": "application/json", "X-Request-Id": op.rid})
                resp = conn.getresponse()
                op.status, raw = resp.status, resp.read()
            finally:
                conn.close()
            op.body = json.loads(raw)
        except (OSError, http.client.HTTPException, ValueError) as exc:
            # a timeout is a failure, with the full timeout as its latency
            op.status, op.body = -1, {"error_msg": f"{type(exc).__name__}: {exc}"}
        op.ms = (time.perf_counter() - t0) * 1e3
        return op


def exact_topk(ids: np.ndarray, vecs: np.ndarray, q, k: int = 10):
    """(labels, squared-L2 distances) of the exact top-k, ties by id."""
    d = ((vecs.astype(np.float64) - np.asarray(q, np.float64)) ** 2).sum(axis=1)
    order = np.lexsort((ids, d))[:k]
    return ids[order], d[order]


def check_flat(labels, ids, vecs, q) -> str | None:
    want, wd = exact_topk(ids, vecs, q)
    if list(labels) == want.tolist():
        return None
    # a near-tie reordered by float32 rounding is still the right answer
    pos = {int(i): j for j, i in enumerate(ids)}
    if len(labels) == len(want) and all(int(x) in pos for x in labels):
        got = np.sort(((vecs[[pos[int(x)] for x in labels]].astype(np.float64)
                        - np.asarray(q, np.float64)) ** 2).sum(axis=1))
        if np.allclose(got, wd, rtol=1e-6, atol=1e-9):
            return None
    return f"FLAT labels {list(labels)[:10]} != exact {want.tolist()}"


def recall(labels, ids, vecs, q) -> float:
    want, _ = exact_topk(ids, vecs, q)
    return len(set(int(x) for x in labels) & set(want.tolist())) / len(want)


def stage_server(work: str, corpus: np.ndarray, docs: list[dict], trace, hang_s):
    stage = inputs.stage_dir(work, "stage")
    ids = np.arange(1, len(corpus) + 1)
    inputs.write_vectors(os.path.join(stage, "corpus.parquet"), ids, corpus, "id")
    inputs.write_docs_json(os.path.join(stage, "docs.parquet"), ids, docs)
    spec = {
        "mode": "serve",
        "root": os.path.join(work, "api"),
        "corpus": os.path.join(stage, "corpus.parquet"),
        "docs": os.path.join(stage, "docs.parquet"),
        "collections": [create_req(f, corpus.shape[1], len(corpus)) for f in FAMILIES],
        "trace": trace,
        "hang_s": hang_s,
    }
    path = os.path.join(stage, "spec.json")
    with open(path, "w") as f:
        json.dump(spec, f)
    return path, spec["root"]


class Traffic:
    """Builds each client's ops from the seed: query vectors are corpus
    vectors plus noise, write ids are fresh per client, write vectors lie
    far from every cluster. Every client (and the warm-up, stream -1)
    draws from its own streams, so the same seed sends the same requests
    whatever the threads' interleaving."""

    STREAM = 2048  # query vectors per stream

    def __init__(self, seed: int, corpus: np.ndarray, docs: list[dict], size: dict):
        self.seed, self.corpus, self.docs, self.size = seed, corpus, docs, size
        self.n, self.dim = corpus.shape
        self.queries = inputs.noisy_queries(seed, corpus, 4 * self.STREAM, "serve-queries")
        self.far = inputs.noisy_queries(seed, corpus, 1024, "serve-writes") + FAR
        self._drawn: dict[int, int] = {}
        self._id_rngs: dict[int, np.random.Generator] = {}
        self.written: dict[int, dict] = {}  # client -> last doc it wrote

    def _q(self, c: int) -> np.ndarray:
        k = self._drawn.get(c, 0)
        self._drawn[c] = k + 1
        return self.queries[(c % 4) * self.STREAM + k % self.STREAM]

    def _doc_id(self, c: int) -> int:
        rng = self._id_rngs.setdefault(c, inputs.rng_for(self.seed, f"serve-ids-{c}"))
        return int(rng.integers(1, self.n + 1))

    def search(self, rid: str, fam: str, c: int = -1, q=None) -> Op:
        q = self._q(c) if q is None else q
        return Op(rid, "/search", fam, {"index_key": index_key(fam, self.dim),
                                        "vectors": q.tolist(), "k": 10}, q)

    def batch(self, rid: str, fam: str, c: int = -1, qs=None) -> Op:
        qs = [self._q(c) for _ in range(self.size["batch"])] if qs is None else qs
        return Op(rid, "/search_batch", fam, [
            {"index_key": index_key(fam, self.dim), "vectors": q.tolist(), "k": 10}
            for q in qs], qs)

    def op(self, c: int, i: int) -> Op:
        """Op ``i`` of client ``c`` (client c starts c half-blocks in)."""
        pos = i + c * len(BLOCK) // 2
        kind = BLOCK[pos % len(BLOCK)]
        rid = f"t{c}-{i}"
        fam = FAMILIES[(i + c) % 3]
        if kind == "search":
            return self.search(rid, fam, c)
        if kind == "search_batch":
            return self.batch(rid, fam, c)
        # client c writes ids n+1+c, n+3+c, ... (one fresh id per block)
        wid = self.n + 1 + c + 2 * (pos // len(BLOCK))
        if kind == "query":
            last = self.written.get(c)
            if last is not None:
                return Op(rid, "/query", None, {"id": last["id"]}, last["data"])
            doc_id = self._doc_id(c)
            return Op(rid, "/query", None, {"id": doc_id}, self.docs[doc_id - 1])
        v = self.far[(i * 2 + c) % len(self.far)]
        key = index_key("exact", self.dim)
        if kind == "insert":
            return Op(rid, "/insert", "exact", {"index_key": key, "id": wid,
                                                "vectors": v.tolist()})
        data = {"rev": i, "client": c}
        op = Op(rid, "/upsert", "exact", {"index_key": key, "id": wid,
                                          "vectors": v.tolist(), "data": data})
        # the stored document folds the vector in (the reference's upsert)
        op.expect = {"id": wid, "data": dict(data, vectors=[float(x) for x in v.tolist()])}
        return op


def log_setup(t_setup: float, t_ready: float, ready: dict) -> None:
    now = time.perf_counter()
    log(f"# setup {now - t_setup:.1f} s: engine up {t_ready - t_setup:.1f} s (session "
        f"{ready['session_s']:.1f} s, bulk load {ready['load_s']:.1f} s), "
        f"warm-up {now - t_ready:.1f} s")


def serve(seed: int, seconds: float, trace: bool, size: dict, box: Sandbox) -> Run:
    run = Run()
    t_setup = time.perf_counter()
    n, dim = size["n"], size["dim"]
    corpus = inputs.planted_corpus(seed, n, dim, size["clusters"])
    ids = np.arange(1, n + 1)
    tags = inputs.rng_for(seed, "doc-tags").integers(0, 1 << 30, size=n)
    docs = [{"title": f"doc-{i}", "tag": int(t)} for i, t in zip(ids, tags)]
    spec_path, api_root = stage_server(box.work, corpus, docs, trace, box.hang_s)
    traffic = Traffic(seed, corpus, docs, size)
    engine = box.engine(spec_path)
    try:
        ready = engine.recv(timeout=box.hang_s)
        t_ready = time.perf_counter()
        client = Client(ready["port"], size["timeout_s"])

        # warm-up: a search on every family (the first ANN index builds),
        # one batch, one query, one write
        warm = [traffic.search(f"w{j}", fam) for j, fam in enumerate(FAMILIES)]
        warm += [traffic.batch("wb", "exact"), Op("wq", "/query", None, {"id": 1}, docs[0])]
        warm += [Op("wi", "/insert", "exact", {"index_key": index_key("exact", dim),
                                               "id": n + 10**6, "vectors": traffic.far[0].tolist()})]
        for op in warm:
            client.send(op)
        check_ops(warm, ids, corpus, run)
        run.setup_s = time.perf_counter() - t_setup
        log_setup(t_setup, t_ready, ready)

        t_wall = time.time()
        t0 = time.perf_counter()
        deadline = t0 + seconds
        per_client: list[list[Op]] = [[] for _ in range(size["clients"])]

        def loop(c: int) -> None:
            i = 0
            while time.perf_counter() < deadline:
                op = client.send(traffic.op(c, i))
                per_client[c].append(op)
                if op.route == "/upsert" and op.status == 200:
                    traffic.written[c] = op.expect
                i += 1

        threads = [threading.Thread(target=loop, args=(c,)) for c in range(size["clients"])]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        run.elapsed_s = time.perf_counter() - t0
        # closed loop, no think time: each client's rate is its ops over
        # its busy time, so an op still in flight at the deadline neither
        # counts early nor stretches the window
        run.ops_per_s = sum(len(ops) / (sum(op.ms for op in ops) / 1e3)
                            for ops in per_client if ops)
        run.ops = [op for ops in per_client for op in ops]
        run.op_ms = [op.ms for op in run.ops]
        run.search_ms = [op.ms for op in run.ops if op.route == "/search"]
        write_bytes = sum(len(json.dumps(op.payload)) for op in run.ops
                          if ROUTE_KIND[op.route] == "write")
        run.stats = engine.request(_stats_cmd(run, trace), timeout=120)
        if trace:
            run.layers = _client_layers(run, api_root, t_wall, write_bytes, n, dim, docs)

        # off the clock: HNSW recall over a probe batch (USEARCH serves
        # exactly at its default nprobe), then a write to USEARCH that the
        # next search must see
        probe = inputs.noisy_queries(seed, corpus, size["probe"], "serve-probe")
        checks = [traffic.batch("r-graph", "graph", qs=list(probe))]
        fresh = n + 2 * 10**6
        v = corpus[int(inputs.rng_for(seed, "fresh").integers(0, n))] + 0.01
        checks.append(Op("s-ins", "/insert", "ivf", {"index_key": index_key("ivf", dim),
                                                    "id": fresh, "vectors": v.tolist()}))
        checks.append(traffic.search("s-search", "ivf", q=v))
        for op in checks:
            client.send(op)
        check_ops(run.ops + checks[:1], ids, corpus, run)
        check_fresh(checks[1:], fresh, run)
        run.attempted = len(warm) + len(run.ops) + len(checks)
    finally:
        engine.stop()
    return run


def check_ops(ops: list[Op], ids, corpus, run: Run) -> None:
    for op in ops:
        err = None
        if op.status != 200:
            err = f"HTTP {op.status}: {op.body}"
        elif op.route == "/query":
            if op.body.get("data") != op.expect:
                err = f"/query {op.payload['id']} returned {op.body.get('data')}, want {op.expect}"
        elif op.route in ("/search", "/search_batch"):
            bodies = [op.body] if op.route == "/search" else op.body
            qs = [op.expect] if op.route == "/search" else op.expect
            for body, q in zip(bodies, qs):
                if body.get("code") != 0:
                    err = f"{op.route} entry failed: {body}"
                elif op.family == "exact":
                    err = err or check_flat(body["labels"], ids, corpus, q)
                else:
                    run.recalls.append(recall(body["labels"], ids, corpus, q))
        if err:
            run.failures.append(f"{op.rid} {op.route}: {err}")


def check_fresh(ops: list[Op], fresh: int, run: Run) -> None:
    ins, search = ops
    if ins.status != 200 or search.status != 200:
        run.failures.append(f"staleness check: HTTP {ins.status}/{search.status}: {search.body}")
    elif not search.body.get("labels") or search.body["labels"][0] != fresh:
        run.failures.append(
            f"USEARCH served {search.body.get('labels', [])[:3]} for just-inserted id {fresh}")


def _stats_cmd(run: Run, trace: bool) -> dict:
    msg = {"cmd": "stats"}
    if trace:
        msg["latency"] = {op.rid: op.ms for op in run.ops}
    return msg


def _client_layers(run: Run, api_root: str, t_wall: float, write_bytes: int,
                   n: int, dim: int, docs: list[dict]) -> dict[str, float]:
    """Per-layer numbers the engine cannot see: client latency per route
    (traced run), write and space amplification under the API root."""
    layers = dict(run.stats["layers"])
    by_kind: dict[str, list[float]] = {}
    for op in run.ops:
        by_kind.setdefault(ROUTE_KIND[op.route], []).append(op.ms)
    for kind in ("search", "search_batch", "query", "write"):
        layers[f"route.{kind}.p50_ms"] = p50(by_kind.get(kind, []))
    for kind in ("search", "write"):
        layers[f"route.{kind}.tail_ms"] = tail_of(by_kind.get(kind, []))
    written = dir_bytes(api_root, since=t_wall)
    layers["store.write_amp"] = written / write_bytes if write_bytes else 0.0
    n_writes = len(by_kind.get("write", []))
    live = (len(FAMILIES) * n + n_writes) * (8 + 4 * dim) + \
        sum(8 + len(json.dumps(d)) for d in docs)
    layers["store.space_amp"] = dir_bytes(api_root) / live
    layers["trace.op_p50_ms"] = median(run.op_ms)
    layers["trace.overhead_ms_per_op"] = (
        layers["trace.span_cost_us"] * layers["trace.spans_per_op"] / 1e3
    )
    return layers

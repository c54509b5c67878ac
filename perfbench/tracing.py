"""In-memory spans around the engine's public functions, plus the Spark
job, stage and SQL-node metrics read back after a traced run.

Spans are recorded only by wrappers this benchmark installs on the
engine's classes from the outside (nothing inside the engine changes).
Each span holds name, start, end, parent and request id; a layer's self
time is its duration minus the part of it covered by child spans.
"""

from __future__ import annotations

import functools
import itertools
import json
import re
import threading
import time
import urllib.parse
import urllib.request
from dataclasses import dataclass


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    rid: str | None
    start: float
    end: float = 0.0

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1e3


class Tracer:
    def __init__(self, sc=None):
        self.sc = sc  # SparkContext: tags each request's jobs when given
        self.spans: list[Span] = []
        self._kids: dict[int, list[Span]] = {}  # parent sid -> children
        self._seq = itertools.count()
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def begin(self, name: str, rid: str | None = None) -> Span:
        st = self._stack()
        parent = st[-1] if st else None
        sp = Span(
            next(self._seq),
            name,
            parent.sid if parent else None,
            rid if rid is not None else (parent.rid if parent else None),
            time.perf_counter(),
        )
        st.append(sp)
        return sp

    def end(self, sp: Span) -> None:
        sp.end = time.perf_counter()
        self._stack().pop()
        with self._lock:
            self.spans.append(sp)
            if sp.parent is not None:
                self._kids.setdefault(sp.parent, []).append(sp)

    def span(self, name: str, rid: str | None = None):
        tracer = self

        class _Ctx:
            def __enter__(self):
                self.sp = tracer.begin(name, rid)
                return self.sp

            def __exit__(self, *exc):
                tracer.end(self.sp)
                return False

        return _Ctx()

    def set_group(self, group: str | None) -> None:
        if self.sc is not None and group is not None:
            self.sc.setJobGroup(group, group)

    def wrap(self, cls, attr: str, name, group_suffix: str | None = None) -> None:
        """Replace ``cls.attr`` with a span-recording wrapper. ``name`` is a
        string or ``f(self) -> str``. With ``group_suffix``, jobs started
        inside the call carry the sub-group ``<rid>:<suffix>``."""
        orig = getattr(cls, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(obj, *args, **kwargs):
            label = name(obj) if callable(name) else name
            sp = tracer.begin(label)
            if group_suffix and sp.rid:
                tracer.set_group(f"{sp.rid}:{group_suffix}")
            try:
                return orig(obj, *args, **kwargs)
            finally:
                if group_suffix and sp.rid:
                    tracer.set_group(sp.rid)
                tracer.end(sp)

        setattr(cls, attr, wrapper)

    # -- analysis ---------------------------------------------------------

    def children(self, sp: Span) -> list[Span]:
        return self._kids.get(sp.sid, [])

    def self_ms(self, sp: Span) -> float:
        """Duration minus the union of child intervals (children of one
        thread never overlap, but the union keeps this exact regardless)."""
        ivs = sorted((c.start, c.end) for c in self.children(sp))
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in ivs:
            s, e = max(s, sp.start), min(e, sp.end)
            if e <= s:
                continue
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return (sp.end - sp.start - covered) * 1e3

    def reconcile(self, root: Span) -> float:
        """|sum of self times in root's subtree - root duration| in ms:
        zero up to float error when every child lies inside its parent."""
        total, todo = 0.0, [root]
        while todo:
            s = todo.pop()
            total += self.self_ms(s)
            todo.extend(self.children(s))
        return abs(total - root.ms)


def span_cost_us(n: int = 20000) -> float:
    """Per-span cost of the wrapper machinery (enter + exit), in µs."""
    tr = Tracer()

    class _Probe:
        def f(self):
            return None

    tr.wrap(_Probe, "f", "probe")
    p = _Probe()
    t0 = time.perf_counter()
    for _ in range(n):
        p.f()
    wrapped = time.perf_counter() - t0
    q = type("_Bare", (), {"f": lambda self: None})()
    t0 = time.perf_counter()
    for _ in range(n):
        q.f()
    bare = time.perf_counter() - t0
    return max(wrapped - bare, 0.0) / n * 1e6


# -- Spark's own bookkeeping, read after the run --------------------------


def jobs_for_groups(sc, groups) -> dict[str, list[int]]:
    st = sc.statusTracker()
    return {g: list(st.getJobIdsForGroup(g)) for g in groups}


class SparkRest:
    """Spark's local UI REST API (``sc.uiWebUrl``), read off the
    clock. The UI is bound to the loopback interface by the runner."""

    def __init__(self, sc):
        url = urllib.parse.urlparse(sc.uiWebUrl)
        self.base = f"http://127.0.0.1:{url.port}/api/v1/applications/{sc.applicationId}"

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.loads(r.read())

    def jobs(self) -> list[dict]:
        return self._get("/jobs")

    def stages(self) -> list[dict]:
        return self._get("/stages")

    def sql(self) -> list[dict]:
        return self._get("/sql?details=true&planDescription=false&offset=0&length=100000")


_UNITS = {
    "ms": 1.0, "s": 1e3, "m": 6e4, "min": 6e4, "h": 3.6e6, "ns": 1e-6, "µs": 1e-3, "us": 1e-3,
    "B": 1.0, "KiB": 1024.0, "MiB": 1024.0**2, "GiB": 1024.0**3, "TiB": 1024.0**4,
}
_TOTAL_RE = re.compile(r"^\s*([0-9][0-9.,]*)\s*([A-Za-zµ]+)?")


def metric_total(value: str) -> float:
    """Total of a SQL UI metric string: either ``"1.2 s"`` or
    ``"total (min, med, max ...)\\n1.2 s (0.1 s, ...)"``; time in ms,
    size in bytes, plain counts as is."""
    text = value.split("\n", 1)[1] if "\n" in value else value
    m = _TOTAL_RE.match(text)
    if not m:
        return 0.0
    num = float(m.group(1).replace(",", ""))
    return num * _UNITS.get(m.group(2) or "", 1.0)


def stage_totals(jobs: list[dict], stages: list[dict], job_ids) -> dict[str, float]:
    """Executor CPU and shuffle-write bytes over the stages of ``job_ids``
    (each stage counted once, every attempt included)."""
    want = set(job_ids)
    stage_ids = {s for j in jobs if j["jobId"] in want for s in j.get("stageIds", [])}
    out = {"exec_cpu_ms": 0.0, "shuffle_bytes": 0.0}
    for s in stages:
        if s["stageId"] in stage_ids:
            out["exec_cpu_ms"] += s.get("executorCpuTime", 0) / 1e6
            out["shuffle_bytes"] += s.get("shuffleWriteBytes", 0)
    return out


def python_worker_totals(executions: list[dict], job_ids) -> dict[str, float]:
    """'time to run Python workers' and 'data sent to Python workers'
    summed over the SQL nodes of executions that ran any of ``job_ids``."""
    want = set(job_ids)
    out = {"python_worker_ms": 0.0, "bytes_to_worker": 0.0}
    for ex in executions:
        ran = set(ex.get("successJobIds", [])) | set(ex.get("failedJobIds", []))
        if not ran & want:
            continue
        for node in ex.get("nodes", []):
            for m in node.get("metrics", []):
                if m.get("name") == "time to run Python workers":
                    out["python_worker_ms"] += metric_total(m.get("value", ""))
                elif m.get("name") == "data sent to Python workers":
                    out["bytes_to_worker"] += metric_total(m.get("value", ""))
    return out

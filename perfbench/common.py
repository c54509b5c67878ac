"""Shared helpers: order statistics, metric names, process control and the
line protocol between the controller (run.py) and the engine subprocess."""

from __future__ import annotations

import json
import math
import os
import re
import signal
import subprocess
import sys
import threading
import time
import queue

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
PROTO = "@@perfbench "  # prefix of protocol lines on the engine's stdout
TAIL_LADDER = (99.0, 95.0, 90.0, 75.0, 50.0)
TAIL_MIN_BEYOND = 10


def quantile(values, q: float) -> float:
    """Linear-interpolated q-quantile (0 <= q <= 1), NumPy's default rule."""
    v = sorted(values)
    if not v:
        raise ValueError("quantile of no samples")
    pos = q * (len(v) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (pos - lo)


def median(values) -> float:
    return quantile(values, 0.5)


def samples_beyond(n: int, pct: float) -> int:
    """Samples strictly above the pct-th percentile of n distinct values
    (the interpolated value lies at or above rank floor(pct/100*(n-1)))."""
    return n - 1 - math.floor(pct / 100.0 * (n - 1))


def tail_pct(n: int) -> float | None:
    """The highest percentile on the ladder with at least ten samples
    beyond it, or None when even the median has fewer."""
    for pct in TAIL_LADDER:
        if samples_beyond(n, pct) >= TAIL_MIN_BEYOND:
            return pct
    return None


def tail(values, pct: float) -> float:
    return quantile(values, pct / 100.0)


def p50(values) -> float:
    """Median, or 0 for a layer that saw no samples."""
    return median(values) if values else 0.0


def tail_of(values) -> float:
    """Tail by the ladder rule (>= 10 samples beyond); the maximum when
    there are too few samples for any rung, 0 when there are none."""
    if not values:
        return 0.0
    pct = tail_pct(len(values))
    return tail(values, pct) if pct is not None else max(values)


def check_name(name: str) -> str:
    if not NAME_RE.match(name):
        raise ValueError(f"invalid metric name {name!r}")
    return name


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


class Run:
    """What a workload hands back to run.py."""

    def __init__(self):
        self.setup_s = 0.0
        self.ops: list = []  # serve: every timed request
        self.op_ms: list[float] = []  # every timed operation
        self.search_ms: list[float] = []  # the timed searches among them
        self.ops_per_s = 0.0
        self.elapsed_s = 0.0
        self.attempted = 0
        self.failures: list[str] = []
        self.recalls: list[float] = []
        self.stats: dict = {}
        self.layers: dict[str, float] = {}

    def metrics(self) -> dict[str, float]:
        return {
            "setup_s": self.setup_s,
            "op_p50_ms": median(self.op_ms),
            "search_p50_ms": median(self.search_ms),
            "ops_per_s": self.ops_per_s,
            "recall_at_10": sum(self.recalls) / len(self.recalls),
            "peak_rss_mb": self.stats["peak_rss_mb"],
        }


# -- process control --------------------------------------------------------


class Engine:
    """An engine subprocess in a session of its own (so its JVM and
    Spark's Python workers can be found and stopped together), spoken to
    over stdin/stdout lines."""

    def __init__(self, argv: list[str], env: dict, cwd: str):
        self.proc = subprocess.Popen(
            argv,
            stdin=subprocess.PIPE,
            stdout=subprocess.PIPE,
            stderr=None,
            env=env,
            cwd=cwd,
            text=True,
            bufsize=1,
            start_new_session=True,
        )
        self._lines: queue.Queue = queue.Queue()
        self._reader = threading.Thread(target=self._pump, daemon=True)
        self._reader.start()

    def _pump(self) -> None:
        for line in self.proc.stdout:
            if line.startswith(PROTO):
                self._lines.put(json.loads(line[len(PROTO):]))
        self._lines.put(None)  # EOF

    def recv(self, timeout: float) -> dict:
        try:
            msg = self._lines.get(timeout=timeout)
        except queue.Empty:
            raise TimeoutError(f"engine sent nothing for {timeout:.0f} s") from None
        if msg is None:
            raise RuntimeError(f"engine exited (rc={self.proc.wait()})")
        if "error" in msg:
            raise RuntimeError(f"engine error: {msg['error']}")
        return msg

    def send(self, msg: dict) -> None:
        self.proc.stdin.write(json.dumps(msg) + "\n")
        self.proc.stdin.flush()

    def request(self, msg: dict, timeout: float) -> dict:
        self.send(msg)
        return self.recv(timeout)

    def stop(self) -> None:
        """Stop everything the engine started and wait until it is gone
        (nothing it holds outlives the run, so there is nothing to flush)."""
        kill_session(self.proc.pid)
        if self.proc.poll() is None:
            self.proc.wait()
        self._reader.join(timeout=5)


class Sandbox:
    """Where a run lives: its work dir, the engine's environment, and the
    session ids of every engine started (for the hang watchdog)."""

    def __init__(self, work: str, env: dict, root: str, engine_argv: list[str],
                 hang_s: float):
        self.work, self.env, self.root = work, env, root
        self.engine_argv, self.hang_s = engine_argv, hang_s
        self.sids: list[int] = []

    def engine(self, spec_path: str) -> Engine:
        eng = Engine(self.engine_argv + [spec_path], self.env, self.root)
        self.sids.append(eng.proc.pid)
        return eng


def kill_session(sid: int, deadline_s: float = 15.0) -> None:
    """SIGTERM, then SIGKILL, every process in session ``sid`` (the
    engine, its JVM, and Spark's Python worker daemon, which moves to a
    process group of its own), and wait until none is left."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        pids = _session_pids(sid)
        if not pids:
            return
        for pid in pids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        end = time.monotonic() + (3.0 if sig == signal.SIGTERM else deadline_s)
        while time.monotonic() < end and _session_pids(sid):
            time.sleep(0.05)


def _session_pids(sid: int) -> list[int]:
    """Live (non-zombie) processes of session ``sid``; a zombie is reaped
    by its parent or by init and holds nothing."""
    out = []
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[3]) == sid and fields[0] != "Z":
            out.append(int(pid))
    return out


def peak_rss_mb(pid: int) -> float:
    """VmHWM of ``pid`` plus its direct children (the py4j-launched JVM
    is a direct child of the Python process that starts Spark)."""
    total_kb = 0
    for p in [pid] + _children(pid):
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            pass
    return total_kb / 1024.0


def _children(pid: int) -> list[int]:
    out: list[int] = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(c) for c in f.read().split())
    except OSError:
        pass
    return out


def dir_bytes(path: str, since: float | None = None) -> int:
    """Bytes of regular files under ``path``; with ``since``, only files
    modified at or after that wall-clock time."""
    total = 0
    for dirpath, _, files in os.walk(path):
        for name in files:
            try:
                st = os.stat(os.path.join(dirpath, name))
            except OSError:
                continue
            if since is None or st.st_mtime >= since:
                total += st.st_size
    return total

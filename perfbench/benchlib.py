"""Pure helpers for the benchmark: seeds, statistics, spans, output checks,
and /proc probes.

Nothing here imports Spark or the extraction package, so the helpers are
testable without a JVM (``python -m pytest perfbench``).
"""

from __future__ import annotations

import os
import statistics
import threading
import time
import uuid
from contextlib import contextmanager

SEED_STRIDE = 10**7   # seed s owns document indices [s*10^7, (s+1)*10^7)


# ---------------------------------------------------------------------------
# Seeds
# ---------------------------------------------------------------------------

def seed_range(seed: int, n: int, offset: int = 0) -> range:
    """Document indices for ``seed``: ``n`` consecutive indices starting
    ``offset`` into the seed's own block of ``SEED_STRIDE`` indices, so two
    seeds never share a document."""
    if seed < 0:
        raise ValueError(f"seed must be >= 0, got {seed}")
    if n < 0 or offset < 0 or offset + n > SEED_STRIDE:
        raise ValueError(f"range [{offset}, {offset + n}) leaves the seed block")
    base = seed * SEED_STRIDE + offset
    return range(base, base + n)


# ---------------------------------------------------------------------------
# Statistics
# ---------------------------------------------------------------------------

def median(values) -> float:
    values = list(values)
    if not values:
        raise ValueError("median of no values")
    return float(statistics.median(values))


def iqr_share(values) -> float:
    """(Q3 - Q1) / median, with the quartiles of
    ``statistics.quantiles(values, n=4)``: the spread a steadiness check
    compares against a metric's bound."""
    q1, q2, q3 = statistics.quantiles(list(values), n=4)
    return (q3 - q1) / q2


# ---------------------------------------------------------------------------
# Spans
# ---------------------------------------------------------------------------

class Tracer:
    """In-memory spans (name, start, end, parent, run id). Every span times
    its block, and ``seconds(rec)`` of the yielded record is its duration;
    only an enabled tracer keeps the record, so one call site serves both
    untraced and traced runs."""

    def __init__(self, enabled: bool, run_id: str | None = None):
        self.enabled = enabled
        self.run_id = run_id or uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        keep = self.enabled
        rec = {"id": len(self.spans) if keep else None, "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "run_id": self.run_id, "start": time.perf_counter(),
               "end": None}
        if keep:
            self.spans.append(rec)
            self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            if keep:
                self._stack.pop()
            rec["end"] = time.perf_counter()


def seconds(rec: dict) -> float:
    return rec["end"] - rec["start"]


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> its duration minus the part of its interval that its
    direct children cover (overlapping children are merged first)."""
    children: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered = 0.0
        cur_lo = cur_hi = None
        for c in sorted(children.get(s["id"], []), key=lambda c: c["start"]):
            lo, hi = max(c["start"], s["start"]), min(c["end"], s["end"])
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def self_time_by_name(spans: list[dict]) -> dict[str, float]:
    st = self_times(spans)
    out: dict[str, float] = {}
    for s in spans:
        out[s["name"]] = out.get(s["name"], 0.0) + st[s["id"]]
    return out


# ---------------------------------------------------------------------------
# Output checks
# ---------------------------------------------------------------------------

def span_tuples(spans) -> list[tuple]:
    """The compared span sequence: (seq, kind, text, media_ref, offset)."""
    return [(int(s["seq"]), s["kind"], s["text"], s["media_ref"],
             int(s["offset"])) for s in spans]


class Outcome:
    """Counts attempted and failed operations for one run."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.notes: list[str] = []

    def fail(self, n: int, why: str) -> None:
        if n:
            self.failed += n
            if len(self.notes) < 20:
                self.notes.append(f"{n}: {why}")

    def check_docs(self, expected_docs: int, rows: int, with_errors: int) -> None:
        """``expected_docs`` attempted; missing rows and rows carrying
        ``n_errors > 0`` or a non-empty ``error`` count as failed."""
        self.attempted += expected_docs
        self.fail(max(expected_docs - rows, 0), "docs missing from the output")
        self.fail(max(rows - expected_docs, 0), "extra rows in the output")
        self.fail(with_errors, "docs with n_errors > 0 or an error")

    def check_spans(self, expected: dict[str, list[tuple]],
                    actual_rows) -> None:
        """``actual_rows``: (doc_id, out_spans) pairs read back from the
        program's output. A sampled doc whose span sequence differs from
        the in-process kernel's counts as failed (already attempted)."""
        for doc_id, spans in actual_rows:
            if span_tuples(spans or []) != expected[doc_id]:
                self.fail(1, f"span sequence differs for {doc_id}")

    def check_value(self, name: str, got, want) -> None:
        self.attempted += 1
        if got != want:
            self.fail(1, f"{name}: got {got!r}, want {want!r}")

    @property
    def failed_frac(self) -> float:
        return self.failed / self.attempted if self.attempted else 1.0


# ---------------------------------------------------------------------------
# /proc probes (Linux)
# ---------------------------------------------------------------------------

_TICK = os.sysconf("SC_CLK_TCK")


def _read(path: str) -> str | None:
    try:
        with open(path, "rb") as f:
            return f.read().decode("utf-8", "replace")
    except OSError:   # the process exited between listing and reading
        return None


def process_tree(root: int) -> dict[int, str]:
    """pid -> kind ('java', 'python' or 'other') for every live descendant
    of ``root`` (``root`` itself excluded)."""
    parent: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        stat = _read(f"/proc/{name}/stat")
        if stat:
            parent[int(name)] = int(stat[stat.rindex(")") + 2:].split()[1])
    out: dict[int, str] = {}
    for pid in parent:
        p = parent.get(pid)
        while p is not None and p != root:
            p = parent.get(p)
        if p != root:
            continue
        cmd = (_read(f"/proc/{pid}/cmdline") or "").split("\0")[0]
        base = os.path.basename(cmd)
        out[pid] = ("java" if base == "java" else
                    "python" if base.startswith("python") else "other")
    return out


def cpu_seconds(pid: int, with_children: bool) -> float:
    stat = _read(f"/proc/{pid}/stat")
    if not stat:
        return 0.0
    f = stat[stat.rindex(")") + 2:].split()
    ticks = int(f[11]) + int(f[12])            # utime, stime
    if with_children:
        ticks += int(f[13]) + int(f[14])       # cutime, cstime (reaped)
    return ticks / _TICK


def cpu_split(root: int) -> tuple[float, float]:
    """(Python worker CPU-s, JVM CPU-s) consumed so far below ``root``.
    Python workers are forked by PySpark's daemon, which reaps them, so
    the daemon's child times carry workers that already exited."""
    py = jvm = 0.0
    for pid, kind in process_tree(root).items():
        if kind == "python":
            py += cpu_seconds(pid, with_children=True)
        elif kind == "java":
            jvm += cpu_seconds(pid, with_children=False)
    return py, jvm


def rss_mb(pid: int, field: str = "VmHWM") -> float:
    status = _read(f"/proc/{pid}/status") or ""
    for line in status.splitlines():
        if line.startswith(field + ":"):
            return int(line.split()[1]) / 1024.0
    return 0.0


class WorkerRssSampler:
    """Background sampler of the peak RSS (VmHWM) of Python workers below
    ``root`` while ``active`` is set."""

    def __init__(self, root: int, interval: float = 0.2):
        self.root = root
        self.interval = interval
        self.peak_mb = 0.0
        self.active = threading.Event()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            if self.active.is_set():
                self.sample()

    def sample(self) -> None:
        for pid, kind in process_tree(self.root).items():
            if kind == "python":
                self.peak_mb = max(self.peak_mb, rss_mb(pid))


# ---------------------------------------------------------------------------
# Host context
# ---------------------------------------------------------------------------

def python_probe_ms() -> float:
    """A fixed pure-Python workload (no package import), in ms: tracks how
    fast this host runs interpreter code at the moment of the run."""
    t0 = time.perf_counter()
    acc = 0
    d: dict[int, int] = {}
    for i in range(300_000):
        acc = (acc * 31 + i) % 1_000_003
        d[i & 1023] = acc
    s = "".join(str(v) for v in d.values())
    acc += len(s.split("1"))
    return (time.perf_counter() - t0) * 1000.0


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) ticks of all CPUs from /proc/stat. Steal is time the
    hypervisor gave to other guests while this machine's vCPUs were ready
    to run; its share over a run explains slow runs on a shared host."""
    with open("/proc/stat") as f:
        ticks = [int(v) for v in f.readline().split()[1:9]]
    return ticks[7], sum(ticks)


def host_context() -> dict:
    return {
        "loadavg": list(os.getloadavg()),
        "nproc": len(os.sched_getaffinity(0)),
        "python_probe_ms": round(median(python_probe_ms() for _ in range(5)), 2),
    }

"""Shared plumbing for the benchmark workloads: environment pinning,
Spark session start, in-memory tracing, process-tree RSS sampling and
correctness-check counting.

Everything the benchmark writes goes under ``WORK`` (``.perfbench_work``
in the checkout that holds this package), so a run touches nothing
outside its checkout, wherever it is launched from.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import subprocess
import sys
import threading
import time
import uuid
from contextlib import contextmanager

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")

# One JVM task thread plus one Python worker per slot: two slots keep
# about four cores busy, the size of the host this benchmark targets.
MASTER = "local[2]"
SLOTS = 2


def pin_environment() -> None:
    """Make the package importable here and in Spark's Python workers,
    and keep every temporary file, spill and JVM tmpdir inside WORK."""
    if not os.path.isdir(os.path.join(ROOT, "heavy_hitters_spark")):
        raise SystemExit(f"heavy_hitters_spark package not found under {ROOT}")
    os.makedirs(WORK, exist_ok=True)
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    pp = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + pp if pp else "")
    os.environ["TMPDIR"] = tmp
    import tempfile

    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = local
    os.environ["SPARK_GRAFT_CPUS"] = str(SLOTS)
    # with the default 8 GB heap the JVM's resident size wanders with
    # GC timing from run to run
    os.environ["SPARK_DRIVER_MEM"] = "1g"
    # no hsperfdata files: the JVMs would write them under /tmp
    os.environ["SPARK_GRAFT_JAVA_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ.pop("SKETCH_SIDECH", None)
    os.environ.pop("SKETCH_PROF_DIR", None)


def start_spark():
    """Start the session on the explicit two-slot master; returns
    (spark, seconds)."""
    t0 = time.perf_counter()
    from heavy_hitters_spark.spark import get_spark

    spark = get_spark(MASTER, app="perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()  # the session is usable only once a job ran
    return spark, time.perf_counter() - t0


def stop_spark(spark) -> None:
    """Stop the session and wait until its JVM has exited."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


# ----------------------------------------------------------------------
# tracing


class Tracer:
    """Spans (name, start, end, parent, run id) kept in memory and
    written once, at the end of the run. Disabled tracers record
    nothing and cost one attribute test per span."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run_id,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def write(self, path: str) -> None:
        if not self.enabled:
            return
        with open(path, "w") as f:
            json.dump({"run": self.run_id, "spans": self.spans}, f)


# ----------------------------------------------------------------------
# measuring from outside the program


class Wrapped:
    """Accumulates calls and seconds of wrapped callables; nested calls
    into another wrapped callable count only for the outermost one."""

    def __init__(self) -> None:
        self.calls: dict[str, int] = {}
        self.secs: dict[str, float] = {}
        self._depth = 0
        self._undo: list = []

    def wrap(self, owner, attr: str, name: str) -> None:
        orig = getattr(owner, attr)
        self.calls.setdefault(name, 0)
        self.secs.setdefault(name, 0.0)
        acc = self

        def wrapper(*a, **kw):
            if acc._depth:
                return orig(*a, **kw)
            acc._depth += 1
            t = time.perf_counter()
            try:
                return orig(*a, **kw)
            finally:
                acc.secs[name] += time.perf_counter() - t
                acc.calls[name] += 1
                acc._depth -= 1

        self._undo.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._undo):
            setattr(owner, attr, orig)
        self._undo.clear()


# ----------------------------------------------------------------------
# memory


def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(c) for c in f.read().split())
    except (FileNotFoundError, ProcessLookupError, PermissionError):
        pass
    return out


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except (FileNotFoundError, ProcessLookupError, PermissionError):
        pass
    return 0


def tree_rss_mb() -> float:
    """Resident memory of this process and all its descendants (the
    JVM, the Python worker daemon and its workers)."""
    seen, todo, kb = set(), [os.getpid()], 0
    while todo:
        pid = todo.pop()
        if pid in seen:
            continue
        seen.add(pid)
        kb += _rss_kb(pid)
        todo.extend(_children(pid))
    return kb / 1024.0


class RssSampler:
    """Background sampler of tree_rss_mb; ``peak`` is the largest
    sample since start."""

    def __init__(self, interval_s: float = 0.25) -> None:
        self.interval_s = interval_s
        self.peak = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_mb())
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, tree_rss_mb())


# ----------------------------------------------------------------------
# results


class Gates:
    """Correctness checks: every check is one attempted operation, and
    a failing one is recorded with its reason."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failures: list[str] = []

    def check(self, ok: bool, what: str) -> bool:
        self.attempted += 1
        if not ok:
            self.failures.append(what)
        return ok

    @property
    def failed(self) -> int:
        return len(self.failures)


def source_digest() -> str:
    """Hash of the program and benchmark sources a run exercises."""
    h = hashlib.sha256()
    paths = glob.glob(os.path.join(ROOT, "heavy_hitters_spark", "**", "*.py"), recursive=True)
    paths += glob.glob(os.path.join(ROOT, "perfbench", "*.py"))
    paths += [os.path.join(ROOT, p) for p in ("__spark_entry__.py", "tools/check_oracles.py")]
    for p in sorted(paths):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def metric(value: float, unit: str) -> dict:
    return {"value": float(value), "unit": unit}

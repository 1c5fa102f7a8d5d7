"""Shared machinery for the benchmark workloads: engine session
lifecycle, span tracing, process-tree resource sampling and the result
record every workload returns.

Nothing here changes what the engine does. The session is the engine's
own ``kinesis_spark.session.get_spark``; the benchmark only sets the
environment that function reads (core count, Avro provisioning) before
the JVM starts.
"""

from __future__ import annotations

import json
import os
import signal
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

MIB = 1024 * 1024


def cores() -> int:
    """Cores this process may run on (what ``nproc`` reports)."""
    return len(os.sched_getaffinity(0))


def configure_env(work_dir: str) -> None:
    """Environment for the engine, set before the JVM starts.

    - ``SPARK_GRAFT_CPUS``: the engine defaults to ``local[32]``, which
      oversubscribes a small host; run ``local[<cores>]``.
    - ``SPARK_GRAFT_AVRO_PROVISION=off``: skip the optional Avro package
      probe, which can spend seconds looking for a Maven mirror.
    - ``SPARK_GRAFT_DRIVER_MEM``: a 3 GiB driver heap, ample for these
      inputs and kind to a shared host.
    - Temporary and Spark local directories live under ``work_dir``, and
      the JVMs keep no performance-counter file in the system temporary
      directory (``-XX:-UsePerfData``), so a run writes only inside the
      checkout.
    """
    tmp = os.path.join(work_dir, "tmp")
    local = os.path.join(work_dir, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores())
    os.environ["SPARK_GRAFT_AVRO_PROVISION"] = "off"
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "3g"
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'--driver-java-options "-XX:-UsePerfData -Djava.io.tmpdir={tmp}" '
        "--conf spark.ui.showConsoleProgress=false "
        f"--conf spark.sql.warehouse.dir={os.path.join(work_dir, 'warehouse')} "
        "pyspark-shell"
    )


# --------------------------------------------------------------------------
# process tree
# --------------------------------------------------------------------------


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may hold spaces; fields resume after its ')'
    return raw[raw.rindex(")") + 2 :].split()


def descendants(root: int) -> list[int]:
    """All live descendants of ``root`` (children, grandchildren, ...)."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        fields = _stat_fields(int(name))
        if fields is not None:
            children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def tree_cpu_s(root: int) -> float:
    """CPU seconds used by ``root`` and its descendants, including
    descendants that have already exited and been reaped."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for pid in [root, *descendants(root)]:
        fields = _stat_fields(pid)
        if fields is not None:
            # utime, stime, cutime, cstime
            total += sum(int(x) for x in fields[11:15])
    return total / tick


def tree_pss_mib(root: int) -> float:
    """Proportional set size of ``root`` and its descendants, in MiB."""
    kib = 0
    for pid in [root, *descendants(root)]:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        kib += int(line.split()[1])
                        break
        except OSError:
            pass
    return kib / 1024


class ProcSampler:
    """Samples the process tree's PSS on a background thread (traced
    runs only) and reports the peak and the tree's CPU utilisation."""

    def __init__(self, interval_s: float = 0.5):
        self.interval_s = interval_s
        self.peak_pss_mib = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._cpu0 = self._wall0 = 0.0

    def _run(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.peak_pss_mib = max(self.peak_pss_mib, tree_pss_mib(os.getpid()))

    def start(self) -> None:
        self._cpu0, self._wall0 = tree_cpu_s(os.getpid()), time.monotonic()
        self._thread.start()

    def stop(self) -> dict[str, float]:
        cpu = tree_cpu_s(os.getpid()) - self._cpu0
        wall = time.monotonic() - self._wall0
        self._stop.set()
        self._thread.join(timeout=10)
        return {
            "proc.peak_rss_mib": self.peak_pss_mib,
            "proc.cpu_util": cpu / (wall * cores()),
        }


# --------------------------------------------------------------------------
# engine session
# --------------------------------------------------------------------------


class Session:
    """One engine session in a fresh JVM. ``stop`` ends the JVM and every
    process it started, and waits until each has exited."""

    def __init__(self, tracer: "Tracer", master: str | None = None):
        from kinesis_spark.session import get_spark

        t0 = time.monotonic()
        with tracer.span("session.get_spark"):
            self.spark = get_spark("kbench", master=master)
        self.start_s = time.monotonic() - t0
        self.spark.sparkContext.setLogLevel("ERROR")

    def stop(self) -> None:
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        jvm_proc = getattr(gateway, "proc", None)
        tree = descendants(os.getpid())
        self.spark.stop()
        if gateway is not None:
            gateway.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
        if jvm_proc is not None:
            # the gateway JVM exits when its stdin closes
            jvm_proc.stdin.close()
            try:
                jvm_proc.wait(timeout=60)
            except Exception:
                jvm_proc.kill()
                jvm_proc.wait(timeout=30)
        _reap(tree)


def _alive(pid: int) -> bool:
    fields = _stat_fields(pid)
    return fields is not None and fields[0] != "Z"


def _reap(pids: list[int], grace_s: float = 15.0) -> None:
    """Wait for ``pids`` (processes the JVM started, such as Python
    workers) to exit; terminate any that outlive the grace period."""
    deadline = time.monotonic() + grace_s
    while any(_alive(p) for p in pids) and time.monotonic() < deadline:
        time.sleep(0.1)
    for sig in (signal.SIGTERM, signal.SIGKILL):
        left = [p for p in pids if _alive(p)]
        if not left:
            return
        for p in left:
            try:
                os.kill(p, sig)
            except ProcessLookupError:
                pass
        time.sleep(1.0)


# --------------------------------------------------------------------------
# tracing
# --------------------------------------------------------------------------


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str
    attrs: dict = field(default_factory=dict)


class Tracer:
    """In-memory spans around calls into the engine's public functions.

    Disabled (untraced runs), ``span`` records nothing. Spans use the
    system-wide monotonic clock, so spans recorded by executor-side
    Python workers line up with the driver's. Nesting follows one stack:
    spans open on the main thread, or on a callback thread (a
    ``foreachBatch`` sink) while the main thread waits inside a span.
    """

    def __init__(self, enabled: bool, run_id: str):
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(name, time.monotonic(), 0.0, parent, self.run_id, attrs)
        self.spans.append(s)
        self._stack.append(len(self.spans) - 1)
        try:
            yield s
        finally:
            s.end = time.monotonic()
            self._stack.pop()

    def add(self, name: str, start: float, end: float, parent_name: str, **attrs) -> None:
        """Record a span timed elsewhere (in an executor process); its
        parent is the latest ``parent_name`` span whose interval holds
        ``start``."""
        if self.enabled:
            parent = next(
                (
                    i for i in range(len(self.spans) - 1, -1, -1)
                    if self.spans[i].name == parent_name
                    and self.spans[i].start <= start <= self.spans[i].end
                ),
                None,
            )
            self.spans.append(Span(name, start, end, parent, self.run_id, attrs))

    def write(self, path: str) -> None:
        if not self.enabled:
            return
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(
                [
                    {
                        "name": s.name,
                        "start": s.start,
                        "end": s.end,
                        "parent": s.parent,
                        "run_id": s.run_id,
                        **({"attrs": s.attrs} if s.attrs else {}),
                    }
                    for s in self.spans
                ],
                f,
            )


# --------------------------------------------------------------------------
# results
# --------------------------------------------------------------------------


@dataclass
class Result:
    """What one workload run reports. ``end_to_end`` and ``per_layer``
    hold plain numbers keyed by metric name; units come from
    BENCHMARK.json."""

    attempted: int = 0
    failed: int = 0
    end_to_end: dict[str, float] = field(default_factory=dict)
    per_layer: dict[str, float] = field(default_factory=dict)
    notes: list[str] = field(default_factory=list)

    def check(self, ok: bool, what: str) -> None:
        """Count one attempted operation; a failed check is a failure."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.notes.append(f"FAILED: {what}")


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0

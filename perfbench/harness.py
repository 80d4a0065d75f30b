"""Shared machinery of the benchmark: checkout paths, the timed Spark
set-up, in-memory spans, the process-tree RSS sampler and small stats.

Everything the benchmark writes lives under ``<checkout>/.perfbench``:
the Spark local and temp dirs, the event log, cached corpora, job
outputs and the span dump of a traced run.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import threading
import time
from contextlib import contextmanager
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench"
CPUS = os.cpu_count() or 1
#: Heap of the single local-mode JVM. Every workload's working set is a
#: few hundred MB; a smaller heap than ``get_spark``'s 16g default keeps
#: the benchmark a polite neighbour on a shared host.
DRIVER_MEMORY = "4g"
#: Set-ups per run: the first launches the JVM, the others restart the
#: SparkContext inside it. ``setup_s`` is their median.
N_SETUPS = 3


_T0 = time.monotonic()


def log(msg: str) -> None:
    """Progress line on stderr, stamped with seconds since start."""
    print(f"[perfbench {time.monotonic() - _T0:7.2f}s] {msg}", file=sys.stderr, flush=True)


def prepare_workdir() -> None:
    """Fresh per-run scratch dirs (the corpus cache survives) and the
    process environment that keeps Spark and Python temp files inside the
    checkout. Must run before pyspark starts its JVM."""
    for sub in ("tmp", "spark-local", "eventlog", "out", "trace"):
        shutil.rmtree(WORK / sub, ignore_errors=True)
        (WORK / sub).mkdir(parents=True)
    os.environ["TMPDIR"] = str(WORK / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(WORK / "spark-local")
    # the same string hashing in the driver and every Python worker, run
    # after run
    os.environ["PYTHONHASHSEED"] = "0"
    # every JVM spark-submit starts, its launcher included: temp files in
    # the checkout and no hsperfdata file under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={WORK / 'tmp'} -XX:-UsePerfData"


def session_conf(event_log: bool) -> dict[str, str]:
    """The benchmark's session conf: ``jobs/validate_job.py``'s 32 MB scan
    splits (shuffle partitions are 2 x cores, passed to ``get_spark``),
    every Spark directory inside the checkout, and for traced runs an
    uncompressed, non-rolling event log a plain JSON reader can parse."""
    return {
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.files.maxPartitionBytes": "33554432",
        "spark.local.dir": str(WORK / "spark-local"),
        "spark.sql.warehouse.dir": str(WORK / "warehouse"),
        "spark.eventLog.enabled": "true" if event_log else "false",
        "spark.eventLog.dir": f"file://{WORK / 'eventlog'}",
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def start_session(event_log: bool, compile_fn):
    """One timed set-up: session start, Python-worker boot and schema
    compile. Returns ``(spark, compiled, timings)``."""
    from jsl_engine.partitioning import get_spark

    t0 = time.perf_counter()
    spark = get_spark(
        master=f"local[{CPUS}]",
        app_name="jsl-perfbench",
        shuffle_partitions=CPUS * 2,
        driver_memory=DRIVER_MEMORY,
        extra_conf=session_conf(event_log),
    )
    spark.sparkContext.setLogLevel("ERROR")
    t1 = time.perf_counter()

    def ident(batches):
        yield from batches

    # one task per core, so every core's Python worker boots here and
    # not inside the first timed operation
    spark.range(0, CPUS * 256, numPartitions=CPUS).mapInArrow(ident, "id long").count()
    t2 = time.perf_counter()
    compiled = compile_fn()
    t3 = time.perf_counter()
    log(f"set-up {t3 - t0:.2f}s (session {t1 - t0:.2f}s, workers {t2 - t1:.2f}s)")
    return spark, compiled, {
        "session_s": t1 - t0,
        "python_boot_s": t2 - t1,
        "compile_s": t3 - t2,
        "setup_s": t3 - t0,
    }


def stop_session(spark) -> None:
    spark.catalog.clearCache()
    spark.stop()


def shutdown_jvm() -> None:
    """End the JVM that pyspark launched and wait for it (its Python
    worker daemons exit with it)."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Exception:  # noqa: BLE001 - already closed is fine
        pass
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - TimeoutExpired
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


class Tracer:
    """In-memory spans ``(id, parent, name, start, end, attrs)`` with wall
    clock (epoch seconds) bounds, so Spark event-log timestamps can be
    matched against them. Disabled tracers record nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "parent": self._stack[-1] if self._stack else None,
            "name": name,
            "start": time.time(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def dump(self, path: Path) -> None:
        path.write_text(json.dumps(self.spans, indent=0))


def _children_map() -> dict[int, list[int]]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    return children


def tree_rss_mb(root_pid: int) -> float:
    """Summed VmRSS of ``root_pid`` and all its descendants, in MB."""
    children = _children_map()
    todo, total_kb = [root_pid], 0
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, ()))
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmRSS:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0


class RssSampler:
    """Background peak of :func:`tree_rss_mb` for this process tree."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb(pid))
            self._stop.wait(self.interval_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)


def median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0

"""The ``validate_bulk`` workload: a closed loop with one client that
submits ``run_validation_job`` with one schema over the seeded corpus,
one job at a time, each onto a fresh output root, and checks every
committed output against a DuckDB recount of the corpus."""

from __future__ import annotations

import shutil
import sys
import time
import traceback

import checks
import eventlog
import kernel_trace
from harness import N_SETUPS, WORK, RssSampler, Tracer, log, median, start_session, stop_session

ROWS = 100_000
#: Untimed jobs before the timed ones: the JVM's JIT keeps speeding jobs
#: up over the first three or four.
WARM_UP_JOBS = 3
DEFECT_RATE = 0.02
#: Share of the corpus each curation rider is timed on in a traced run
#: (the riders run at a few thousand documents per second per core).
RIDER_SAMPLE = 0.1


def _schema_doc() -> dict:
    from jsl_engine.corpus import CODE_FILE_SCHEMA

    return CODE_FILE_SCHEMA


def _compile():
    from jsl_engine.schema import compile_schema

    return compile_schema(_schema_doc())


class Loop:
    """Closed-loop job runner with output checks."""

    def __init__(self, expected: dict, tracer: Tracer):
        self.expected = expected
        self.tracer = tracer
        self.attempted = 0
        self.failed = 0
        self.n_jobs = 0

    def one(self, spark, source, schema, keep: bool = False):
        """Run, time and check one job; returns (seconds or None, root)."""
        from jsl_engine.manifest import run_validation_job

        self.n_jobs += 1
        self.attempted += 1
        root = WORK / "out" / f"job{self.n_jobs}"
        try:
            with self.tracer.span("job"):
                t0 = time.perf_counter()
                summary = run_validation_job(spark, source, schema, output_root=str(root))
                dt = time.perf_counter() - t0
            problems = checks.check_job_output(root, summary, self.expected)
        except Exception:  # noqa: BLE001 - a failed job is counted, not fatal
            traceback.print_exc(file=sys.stderr)
            dt, problems = None, ["raised"]
        if problems:
            print(f"job {self.n_jobs}: {problems}", file=sys.stderr)
            self.failed += 1
            dt = None
        if not keep:
            shutil.rmtree(root, ignore_errors=True)
        log(f"job {self.n_jobs}: {dt}s")
        return dt, root

    def timed(self, spark, source, schema, seconds: float, min_jobs: int, deadline: float):
        times = []
        while (sum(times) < seconds or len(times) < min_jobs) and time.monotonic() < deadline:
            dt, _ = self.one(spark, source, schema)
            if dt is not None:
                times.append(dt)
        return times


def _noop_s(df) -> float:
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def _riders(df) -> dict:
    """Each curation rider on its own, as its public operator."""
    from jsl_engine.code_ops import license_scan
    from jsl_engine.redaction import secret_scan
    from jsl_engine.text_ops import language_id, quality_score

    return {
        "redaction.secret_scan_s": lambda: secret_scan(df, text_col="content", id_col="path"),
        "text_ops.quality_score_s": lambda: quality_score(df, "content", "path"),
        "text_ops.language_id_s": lambda: language_id(df, "content", "path"),
        "code_ops.license_scan_s": lambda: license_scan(df, text_col="content", id_col="path"),
    }


def run(name: str, seed: int, seconds: float, trace: bool, deadline: float) -> dict:
    from jsl_engine.spark_validate import validate_df

    tracer = Tracer(enabled=False)
    setups, layer = [], {}
    spark, schema, t = start_session(False, _compile)
    setups.append(t)
    corpus, gen_s = checks.ensure_corpus(spark, ROWS, DEFECT_RATE, seed)
    log(f"corpus ready (generated in {gen_s:.2f}s)")
    for _ in range(N_SETUPS - 1):
        stop_session(spark)
        spark, schema, t = start_session(False, _compile)
        setups.append(t)
    expected = checks.expected_counts(corpus)
    loop = Loop(expected, tracer)
    source = spark.read.parquet(str(corpus))
    for _ in range(WARM_UP_JOBS):
        loop.one(spark, source, schema)
    if not trace:
        times = loop.timed(spark, source, schema, seconds, 3, deadline)
        metrics = {
            "setup_s": median(s["setup_s"] for s in setups),
            "files_per_s": median(ROWS / x for x in times),
            "op_s": median(times),
        }
        return {"metrics": metrics, "attempted": loop.attempted, "failed": loop.failed}

    # traced run: on each of three fresh SparkContexts - event log off,
    # on, off again - one warm-up job, then timed jobs. The middle one's
    # jobs give the per-layer figures; against the mean of the outer two
    # they give the tracing overhead, with the drift of a warming JVM
    # cancelled.
    with RssSampler() as rss:
        base = []
        stop_session(spark)
        spark, schema, t = start_session(False, _compile)
        source = spark.read.parquet(str(corpus))
        loop.one(spark, source, schema)
        base.append(median(loop.timed(spark, source, schema, 0, 1, deadline)))
        stop_session(spark)
        spark, schema, t = start_session(True, _compile)
        setups.append(t)
        source = spark.read.parquet(str(corpus))
        loop.one(spark, source, schema)
        tracer.enabled = True
        traced, root = [], None
        for _ in range(2):
            if root is not None:
                shutil.rmtree(root, ignore_errors=True)
            dt, root = loop.one(spark, source, schema, keep=True)
            if dt is not None:
                traced.append(dt)
        if traced:
            # re-submission onto the last, fully committed root
            layer["manifest.output_bytes"] = float(
                sum(p.stat().st_size for p in root.rglob("*") if p.is_file())
            )
            from jsl_engine.manifest import run_validation_job

            loop.attempted += 1
            with tracer.span("resume"):
                t0 = time.perf_counter()
                summary = run_validation_job(spark, source, schema, output_root=str(root))
                layer["manifest.resume_s"] = time.perf_counter() - t0
            if summary.get("partitions_pending") != 0 or summary.get("docs") != 0:
                print(f"resume re-ran committed work: {summary}", file=sys.stderr)
                loop.failed += 1
        sha, nosha = [], []
        for _ in range(2):
            with tracer.span("noop"):
                sha.append(_noop_s(validate_df(source, schema, with_sha256=True)))
            with tracer.span("noop"):
                nosha.append(_noop_s(validate_df(source, schema, with_sha256=False)))
        layer["spark_validate.noop_s"] = median(sha)
        layer["spark_validate.sha256_s"] = median(sha) - median(nosha)
        sample = source.sample(fraction=RIDER_SAMPLE, seed=seed)
        for key, build in _riders(sample).items():
            with tracer.span("rider"):
                layer[key] = _noop_s(build())
        tracer.enabled = False
        stop_session(spark)
        spark, schema, t = start_session(False, _compile)
        source = spark.read.parquet(str(corpus))
        loop.one(spark, source, schema)
        base.append(median(loop.timed(spark, source, schema, 0, 1, deadline)))
        stop_session(spark)
    log("traced loop done")
    layer["process.peak_rss_mb"] = rss.peak_mb
    layer.update(_from_event_log(tracer, len(traced)))
    if traced and all(base):
        layer["trace.overhead_frac"] = median(traced) / (sum(base) / 2) - 1
    layer["schema.compile_ms"] = kernel_trace.compile_ms(_schema_doc())
    layer["spark_validate.python_boot_s"] = median(s["python_boot_s"] for s in setups)
    layer["corpus.gen_s"] = gen_s
    layer.update(kernel_trace.microtrace(corpus, seed, _compile()))
    layer["failed_frac"] = loop.failed / max(loop.attempted, 1)
    tracer.dump(WORK / "trace" / f"{name}-seed{seed}.json")
    return {"metrics": layer, "attempted": loop.attempted, "failed": loop.failed}


def _phase(plan: str) -> str | None:
    """The ``manifest.*`` phase of one SQL execution of a job, named by
    the sink path it writes, or for reads, the one it scans."""
    target = (eventlog.write_target(plan) or "").rstrip("/")
    for sink, phase in (
        ("/validated", "manifest.write_validated_s"),
        ("/violations", "manifest.write_violations_s"),
        ("/manifest", "manifest.commit_s"),
    ):
        if target.endswith(sink):
            return phase
    if not target and "/validated" in plan:
        return "manifest.metrics_s"
    return None


def _from_event_log(tracer: Tracer, n_jobs: int) -> dict:
    """manifest.*, spark_validate.python_* and spark.* from the event log,
    attributed to the traced spans."""
    path = eventlog.find_log(WORK / "eventlog")
    if path is None or not n_jobs:
        return {}
    elog = eventlog.EventLog(path)
    spans = {s["id"]: s for s in tracer.spans}
    phases: dict[str, list[float]] = {}
    job_execs, kernel_execs = set(), set()
    for sid, execs in elog.attach(tracer.spans).items():
        if spans[sid]["name"] == "resume":
            reads = [e for e in execs if eventlog.write_target(e.plan) is None]
            if reads:
                first = min(reads, key=lambda e: e.start_ms)
                phases["manifest.resume_probe_s"] = [first.seconds]
            continue
        if spans[sid]["name"] != "job":
            continue
        per_job: dict[str, float] = {}
        for e in execs:
            job_execs.add(e.id)
            phase = _phase(e.plan)
            if phase == "manifest.write_validated_s":
                kernel_execs.add(e.id)
            if phase is not None:
                per_job[phase] = per_job.get(phase, 0.0) + e.seconds
        for phase, v in per_job.items():
            phases.setdefault(phase, []).append(v)
    out = {k: median(v) for k, v in phases.items()}
    py_tasks = elog.tasks_of(kernel_execs)
    out["spark_validate.python_run_s"] = (
        eventlog.accum_sum(py_tasks, eventlog.PY_RUN_TIME) / 1000.0 / n_jobs
    )
    out["spark_validate.python_bytes_sent"] = eventlog.accum_sum(py_tasks, eventlog.PY_SENT) / n_jobs
    out["spark_validate.python_bytes_received"] = (
        eventlog.accum_sum(py_tasks, eventlog.PY_RECEIVED) / n_jobs
    )
    out.update(eventlog.spark_layer(elog, job_execs, n_jobs))
    return out

"""The ``registry_core`` workload: a closed loop with one client over a
fixed core of ``__spark_entry__.queries()`` at sf0.01, one query at a
time, results collected to the driver and compared with DuckDB
``oracle_sql()``.

A pass over all 50 registry queries takes 43-49 s warm and 82 s cold at
sf0.01 on 4 cores, too long for a benchmark run. The timed core keeps
seven queries: two of the validation family (events through
``validate_df``; the documents corpus, where 6 of 7 documents fall back
to the kernel) and one or two cheap queries of each of the table-check,
curation and dedup families. Six more, among them the only queries of
the bloom, dsir and pq modules, are timed in the traced run only, so
every family and operator module has a per-layer figure.
"""

from __future__ import annotations

import gc
import random
import sys
import time
import traceback

import checks
import eventlog
from harness import N_SETUPS, ROOT, WORK, RssSampler, Tracer, log, median, start_session, stop_session

SF_DIR = ROOT / "perfbench" / "data" / "sf0.01"

#: Timed core, by registry family.
CORE = {
    "validation_queries_s": ("jsl_validate_events", "jsl_violations_docs"),
    "table_checks_s": ("ri_orders_customer", "dup_keys_orders_per_order"),
    "curation_s": ("quality_score_documents", "secret_scan_documents"),
    "dedup_s": ("contamination_documents",),
}
#: Timed in the traced run only.
TRACE_ONLY = {
    "validation_queries_s": ("jsl_validate_multi", "jsl_verdicts_docs"),
    "dedup_s": ("exact_dup_documents", "bloom_contamination_documents"),
    "sampling_ann_s": ("dsir_sample_documents", "pq_topk_embeddings"),
}
FAMILIES = ("validation_queries_s", "table_checks_s", "curation_s", "dedup_s", "sampling_ann_s")
QUERIES = [q for qs in CORE.values() for q in qs]
EXTRA_QUERIES = [q for qs in TRACE_ONLY.values() for q in qs]
#: Untimed passes before the timed ones: the JVM's JIT keeps speeding
#: passes up over the first two.
WARM_UP_PASSES = 2
#: The table whose rows each validation query validates.
VALIDATED_TABLE = {"jsl_validate_events": "events", "jsl_violations_docs": "documents"}


def _compile():
    import __spark_entry__ as entry_mod
    from jsl_engine.schema import compile_schema

    return [
        compile_schema(entry_mod.EVENTS_PROPS_SCHEMA),
        compile_schema(entry_mod.DOCS_JSON_SCHEMA),
    ]


def _table_rows(table: str) -> int:
    import pyarrow.parquet as pq

    return pq.ParquetFile(str(SF_DIR / f"{table}.parquet")).metadata.num_rows


class Passes:
    """Closed-loop query runner with oracle checks."""

    def __init__(self, oracle: dict, tracer: Tracer, seed: int):
        import __spark_entry__ as entry_mod

        self.fns = entry_mod.queries()
        self.oracle = oracle
        self.tracer = tracer
        self.seed = seed
        self.attempted = 0
        self.failed = 0
        self.n_passes = 0

    def query(self, spark, name: str) -> float | None:
        """Run, time and check one query; seconds, or None on failure."""
        self.attempted += 1
        dt, problem = None, None
        try:
            with self.tracer.span("query", query=name):
                t0 = time.perf_counter()
                df = self.fns[name](spark, str(SF_DIR))
                rows = df.collect()
                dt = time.perf_counter() - t0
            problem = checks.compare_with_oracle(df.columns, rows, self.oracle[name])
            del rows
        except Exception:  # noqa: BLE001 - a failed query is counted, not fatal
            traceback.print_exc(file=sys.stderr)
            problem = "raised"
        # release per-query cached state (as bench.py does)
        spark.catalog.clearCache()
        if problem:
            print(f"{name}: {problem}", file=sys.stderr)
            self.failed += 1
            return None
        return dt

    def one(self, spark) -> dict[str, float] | None:
        """One pass over the core in this pass's seeded order; per-query
        seconds, or None when a query raised or disagreed with the
        oracle."""
        self.n_passes += 1
        order = list(QUERIES)
        random.Random(self.seed * 1000 + self.n_passes).shuffle(order)
        with self.tracer.span("pass"):
            times = {name: self.query(spark, name) for name in order}
        # drop the checkpointed frames' references so Spark's cleaner can
        # reap their blocks (bench.py does this per query; per pass keeps
        # a full collection of the driver heap out of every query gap)
        gc.collect()
        log(f"pass {self.n_passes}: {sum(t or 0 for t in times.values()):.2f}s")
        return None if None in times.values() else times

    def timed(self, spark, seconds: float, min_passes: int, deadline: float) -> list[dict]:
        out, spent = [], 0.0
        while (spent < seconds or len(out) < min_passes) and time.monotonic() < deadline:
            times = self.one(spark)
            if times is not None:
                out.append(times)
                spent += sum(times.values())
        return out


def _summary(passes: list[dict]) -> dict:
    """``op_s`` is the pass time rebuilt from per-query medians;
    ``files_per_s`` is validated documents per second of the validation
    queries."""
    if not passes:
        return {}
    per_q = {q: median(p[q] for p in passes) for q in QUERIES}
    val = CORE["validation_queries_s"]
    docs = sum(_table_rows(VALIDATED_TABLE[q]) for q in val)
    return {"op_s": sum(per_q.values()), "files_per_s": docs / sum(per_q[q] for q in val)}


def run(name: str, seed: int, seconds: float, trace: bool, deadline: float) -> dict:
    tracer = Tracer(enabled=False)
    setups = []
    spark = None
    for _ in range(N_SETUPS):
        if spark is not None:
            stop_session(spark)
        spark, _compiled, t = start_session(False, _compile)
        setups.append(t)
    oracle = checks.oracle_rows(SF_DIR, QUERIES + EXTRA_QUERIES)
    runner = Passes(oracle, tracer, seed)
    for _ in range(WARM_UP_PASSES):
        runner.one(spark)
    if not trace:
        passes = runner.timed(spark, seconds, 2, deadline)
        metrics = {"setup_s": median(s["setup_s"] for s in setups), **_summary(passes)}
        return {"metrics": metrics, "attempted": runner.attempted, "failed": runner.failed}

    # traced run: on each of three fresh SparkContexts - event log off,
    # on, off again - timed passes. The first pass on each is the
    # tracing-overhead triple (the middle against the mean of the outer
    # two, so a warming JVM's drift cancels); the second traced pass is
    # warm and gives the per-layer figures.
    layer = {}
    with RssSampler() as rss:
        stop_session(spark)
        spark, _compiled, t = start_session(False, _compile)
        base = runner.timed(spark, 0, 1, deadline)
        stop_session(spark)
        spark, _compiled, t = start_session(True, _compile)
        setups.append(t)
        tracer.enabled = True
        traced = runner.timed(spark, 0, 2, deadline)
        warm = dict(traced[-1]) if len(traced) == 2 else {}
        for q in EXTRA_QUERIES:
            runner.query(spark, q)  # cold run of a trace-only query
            warm[q] = runner.query(spark, q)
        noop = {}
        for q in warm:
            with tracer.span("noop", query=q):
                t0 = time.perf_counter()
                runner.fns[q](spark, str(SF_DIR)).write.format("noop").mode("overwrite").save()
                noop[q] = time.perf_counter() - t0
            spark.catalog.clearCache()
            gc.collect()
        tracer.enabled = False
        stop_session(spark)
        spark, _compiled, t = start_session(False, _compile)
        base += runner.timed(spark, 0, 1, deadline)
        stop_session(spark)
    log("traced passes done")
    layer["process.peak_rss_mb"] = rss.peak_mb
    layer["spark_validate.python_boot_s"] = median(s["python_boot_s"] for s in setups)
    layer["failed_frac"] = runner.failed / max(runner.attempted, 1)
    if len(base) == 2 and traced:
        outer = sum(sum(p.values()) for p in base) / 2
        layer["trace.overhead_frac"] = sum(traced[0].values()) / outer - 1
    if None in warm.values() or len(warm) < len(QUERIES) + len(EXTRA_QUERIES):
        return {"metrics": layer, "attempted": runner.attempted, "failed": runner.failed}
    for q, dt in warm.items():
        layer[f"query.{q}_s"] = dt
    for fam in FAMILIES:
        qs = CORE.get(fam, ()) + TRACE_ONLY.get(fam, ())
        layer[f"family.{fam}"] = sum(warm[q] for q in qs)
        layer[f"fetch.{fam[:-2]}_s"] = sum(warm[q] - noop[q] for q in qs)
    path = eventlog.find_log(WORK / "eventlog")
    if path is not None:
        # spark.* over the warm traced pass of the core
        elog = eventlog.EventLog(path)
        spans = {s["id"]: s for s in tracer.spans}
        last_pass = max(s["id"] for s in tracer.spans if s["name"] == "pass")
        execs = {
            e.id
            for sid, es in elog.attach(tracer.spans).items()
            if spans[sid]["name"] == "query" and spans[sid]["parent"] == last_pass
            for e in es
        }
        layer.update(eventlog.spark_layer(elog, execs, 1))
    tracer.dump(WORK / "trace" / f"{name}-seed{seed}.json")
    return {"metrics": layer, "attempted": runner.attempted, "failed": runner.failed}

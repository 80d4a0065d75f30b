"""Kernel microtrace: the per-document phases of the validation kernel,
timed by calling each module's public function on the driver.

The sample is a seeded draw from the workload's own corpus, processed in
slices of ``spark.sql.execution.arrow.maxRecordsPerBatch`` documents -
the batch size the Spark kernel sees. Timing one long list instead
inflates parse time about fivefold through allocation and GC pressure
real batches never build up. For the same reason the benchmark's own
heap (pyspark, DuckDB, pandas) is frozen out of the garbage collector
while timing: a Python worker does not carry it.
"""

from __future__ import annotations

import gc
import random
import statistics
import time

import pyarrow.parquet as pq

#: ``spark.sql.execution.arrow.maxRecordsPerBatch`` in ``ENGINE_CONF``.
BATCH = 10_000
SAMPLE = 20_000
REPEATS = 3


def compile_ms(schema_doc, repeats: int = 20) -> float:
    """Median ``compile_schema`` + ``plan_payload`` time, in ms."""
    from jsl_engine.schema import compile_schema, plan_payload

    times = []
    for _ in range(repeats):
        t0 = time.perf_counter_ns()
        plan_payload(compile_schema(schema_doc))
        times.append(time.perf_counter_ns() - t0)
    times.sort()
    return times[len(times) // 2] / 1e6


def microtrace(corpus_dir, seed: int, schema) -> dict[str, float]:
    """Parse, fast-check and kernel-fallback figures for ``schema`` over a
    seeded sample of the corpus at ``corpus_dir``; each figure is the
    median of ``REPEATS`` passes over the sample."""
    gc.collect()
    gc.freeze()
    try:
        runs = [_one_pass(corpus_dir, seed, schema) for _ in range(REPEATS)]
    finally:
        gc.unfreeze()
    return {k: statistics.median(r[k] for r in runs) for k in runs[0]}


def _one_pass(corpus_dir, seed: int, schema) -> dict[str, float]:
    from jsl_engine.fastcheck import compile_check
    from jsl_engine.jsonio import PARSE_ERROR, parse_document
    from jsl_engine.kernel import validate_node
    from jsl_engine.schema import plan_payload

    table = pq.read_table(str(corpus_dir), columns=["content"])
    rng = random.Random(seed)
    idx = sorted(rng.sample(range(table.num_rows), min(SAMPLE, table.num_rows)))
    contents = table.column("content").take(idx).to_pylist()
    plan = plan_payload(schema)
    form, defs = plan["form"], plan["defs"]
    check = compile_check(form, defs, strict=False, max_depth=32)
    parse_ns = check_ns = kernel_ns = 0
    n_parse_err = n_checked = n_hit = n_fallback = n_errors = 0
    for lo in range(0, len(contents), BATCH):
        batch = contents[lo : lo + BATCH]
        t0 = time.perf_counter_ns()
        docs = [parse_document(c) for c in batch]
        parse_ns += time.perf_counter_ns() - t0

        live = [d for d in docs if d is not PARSE_ERROR]
        n_parse_err += len(batch) - len(live)
        t0 = time.perf_counter_ns()
        verdicts = [check(d, 1) for d in live]
        check_ns += time.perf_counter_ns() - t0
        n_checked += len(live)
        n_hit += sum(verdicts)

        rejected = [d for d, ok in zip(live, verdicts) if not ok]
        t0 = time.perf_counter_ns()
        for d in rejected:
            n_errors += len(
                validate_node(form, defs, d, max_errors=0, max_depth=32,
                              strict_instance_semantics=False)
            )
        kernel_ns += time.perf_counter_ns() - t0
        n_fallback += len(rejected)

    n = max(len(contents), 1)
    return {
        "jsonio.parse_ns_per_doc": parse_ns / n,
        "jsonio.parse_error_frac": n_parse_err / n,
        "fastcheck.check_ns_per_doc": check_ns / max(n_checked, 1),
        "fastcheck.hit_frac": n_hit / max(n_checked, 1),
        "kernel.fallback_frac": n_fallback / n,
        "kernel.ns_per_fallback": kernel_ns / max(n_fallback, 1),
        "kernel.errors_per_fallback": n_errors / max(n_fallback, 1),
    }

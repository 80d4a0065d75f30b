"""Document-level incremental validation: re-validate only what changed
between two snapshots of the source table.

The manifest (:mod:`jsl_engine.manifest`) resumes at *partition*
granularity — right for append-mostly ingestion. When a snapshot is
*revised in place* (force-pushed repos, rewritten files), partition keys
look identical while individual documents changed; this job closes that
gap with :func:`jsl_engine.table_checks.snapshot_diff`:

1. diff old vs new snapshot on (repo, path, commit) by content sha256 —
   one full-outer join over (keys, hash) projections, bodies never move;
2. validate ONLY ``added``/``changed`` documents (left-semi join of the
   new snapshot against the diff) with the broadcast JSL kernel;
3. merge: prior verdicts minus removed/changed keys, plus the fresh
   verdicts — the result provably equals a from-scratch validation of
   the new snapshot (pytest-gated in ``tests/test_manifest.py``).

At 10^12 files the win is the usual incremental ratio: the diff is a
hash-projection join, the expensive kernel pass touches only the churn.

Usage::

    python jobs/incremental_job.py [--rows 100000] [--churn 0.02]
        [--cpus 8]

Prints one JSON line: rows, changed, added, removed, validated_docs,
seconds, full_equivalent_docs.
"""

from __future__ import annotations

import argparse
import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import DataFrame, functions as F

from jsl_engine.corpus import CODE_FILE_SCHEMA, generate_corpus
from jsl_engine.partitioning import get_spark
from jsl_engine.schema import Schema, compile_schema
from jsl_engine.spark_validate import validate_df
from jsl_engine.table_checks import snapshot_diff

KEYS = ["repo", "path", "commit"]


def incremental_validate(
    old_verdicts: DataFrame,
    old_snapshot: DataFrame,
    new_snapshot: DataFrame,
    schema: Schema,
    *,
    keys: list[str] = KEYS,
) -> tuple[DataFrame, DataFrame]:
    """Return ``(merged_verdicts, diff)`` for the new snapshot.

    ``old_verdicts`` must carry the key columns; snapshots carry keys +
    ``content``. The kernel runs only over added/changed documents. A
    snapshot already carrying ``content_sha256`` (ingestion writes it
    alongside content — the row-invariant contract) is used as-is: at
    10^12 files re-hashing the unchanged old corpus every run would be a
    full content scan that defeats the incremental cost ratio."""

    def _with_sha(df):
        if "content_sha256" in df.columns:
            return df
        return df.withColumn("content_sha256", F.sha2("content", 256))

    o = _with_sha(old_snapshot)
    n = _with_sha(new_snapshot)
    diff = snapshot_diff(o, n, keys)
    todo = new_snapshot.join(
        diff.where(F.col("change_type") != "removed").select(keys),
        keys,
        "left_semi",
    )
    fresh = validate_df(todo, schema, key_cols=tuple(keys))
    kept = old_verdicts.join(diff.select(keys), keys, "left_anti")
    return kept.unionByName(fresh), diff


def incremental_validate_pruned(
    spark,
    manifest_path: str,
    fingerprint: str,
    new_root: str,
    schema: Schema,
    *,
    keys: list[str] = KEYS,
    part_col: str = "part_key",
) -> tuple[DataFrame, list[str], list[str], list[str]]:
    """Partition-level incremental fast path, composed with the manifest:
    returns ``(fresh_verdicts, changed_parts, skipped_parts,
    removed_parts)`` — ``removed_parts`` are partitions committed in the
    manifest but ABSENT from the new snapshot; their verdict outputs are
    stale and the caller must delete or tombstone them (the sink would
    otherwise keep serving verdicts for documents that no longer exist).

    1. signature pass: read ONLY (part_key, keys, content_sha256) of the
       new snapshot (column-pruned — ingestion writes the sha alongside
       content, so document bodies never move here) and aggregate the
       per-partition exact signature
       (:func:`jsl_engine.manifest.partition_signatures`);
    2. compare against the latest committed manifest summary rows
       (:func:`jsl_engine.manifest.unchanged_partitions`) — matching
       partitions are provably current, their verdict outputs already
       sit in the validated sink;
    3. re-validate ONLY the changed/new partitions through a
       partition-pruned parquet read (``isin`` on the partition column →
       Catalyst prunes the directories; unchanged partitions' data files
       are never opened — gated via ``inputFiles()`` in pytest).

    At 10^12 files this prunes *scans*, not just kernel work: the
    signature pass reads two narrow columns, and the expensive content
    read + kernel touch only churned partitions."""
    from jsl_engine.manifest import (
        committed_keys,
        partition_signatures,
        unchanged_partitions,
    )

    new_meta = spark.read.parquet(new_root).select(
        part_col, *keys, "content_sha256"
    )
    # one signature pass: the aggregate feeds BOTH the manifest compare
    # and the all-parts set — unmaterialized it would re-scan the narrow
    # columns (the dominant cost of the fast path) once per consumer
    sigs = partition_signatures(new_meta, tuple(keys), part_col=part_col
                                ).localCheckpoint()
    skip = unchanged_partitions(spark, manifest_path, fingerprint, sigs)
    all_parts = {r[part_col] for r in sigs.select(part_col).collect()}
    changed = sorted(all_parts - skip)
    done = committed_keys(spark, manifest_path, fingerprint)
    removed = sorted(done - all_parts)
    pruned = spark.read.parquet(new_root).where(F.col(part_col).isin(changed))
    fresh = validate_df(pruned, schema, key_cols=(part_col, *keys))
    return fresh, changed, sorted(skip), removed


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--rows", type=int, default=100_000)
    ap.add_argument("--churn", type=float, default=0.02,
                    help="fraction of docs rewritten between snapshots")
    ap.add_argument("--cpus", type=int, default=8)
    ap.add_argument("--partition-prune", action="store_true",
                    help="manifest-composed fast path: skip partitions "
                         "whose exact content signature is unchanged; "
                         "scan and validate only churned partitions")
    args = ap.parse_args()

    spark = get_spark(
        f"local[{args.cpus}]",
        app_name="jsl-incremental-job",
        shuffle_partitions=max(8, args.cpus),
        extra_conf={"spark.ui.enabled": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    schema = compile_schema(CODE_FILE_SCHEMA)

    if not 0.0 <= args.churn <= 1.0:
        ap.error(f"--churn must be in [0, 1], got {args.churn}")
    old = generate_corpus(spark, args.rows, seed=42, defect_rate=0.02,
                          partitions=args.cpus * 2).localCheckpoint()
    # permille predicate honors ANY churn rate exactly (the old
    # max(2, int(1/churn)) modulus silently clamped churn > 0.5 to 0.5)
    churn_permille = int(round(args.churn * 1000))
    is_churned = F.pmod(F.xxhash64(*KEYS), F.lit(1000)) < F.lit(churn_permille)

    if args.partition_prune:
        import tempfile

        from jsl_engine.manifest import run_validation_job

        root = tempfile.mkdtemp(prefix="jsl_incr_")
        summary = run_validation_job(spark, old, schema, output_root=root)
        new_root = f"{root}/new_snapshot"
        # churn confined to one repo prefix: the realistic shape where the
        # partition fast path pays (append-mostly corpora churn locally)
        new = old.withColumn(
            "content",
            F.when(
                F.col("repo").startswith("org3") & is_churned,
                F.concat(F.col("content"), F.lit(" ")),
            ).otherwise(F.col("content")),
        )
        new.withColumn("part_key", F.substring("repo", 1, 4)).withColumn(
            "content_sha256", F.sha2("content", 256)
        ).write.partitionBy("part_key").parquet(new_root)

        t0 = time.time()
        # the manifest commits under the JOB fingerprint (schema + job
        # config), which the summary reports — not the bare schema one
        fresh, changed, skipped, removed = incremental_validate_pruned(
            spark, f"{root}/manifest", summary["fingerprint"], new_root, schema
        )
        n_fresh = fresh.count()
        print(json.dumps({
            "rows": args.rows,
            "partitions_changed": len(changed),
            "partitions_skipped": len(skipped),
            "partitions_removed": len(removed),
            "validated_docs": n_fresh,
            "seconds": round(time.time() - t0, 3),
        }))
        return 0

    # the churned snapshot is built (and materialized) only on this
    # branch — the prune branch writes its own prefix-confined snapshot
    new = old.withColumn(
        "content",
        F.when(
            is_churned, F.concat(F.col("content"), F.lit(" "))
        ).otherwise(F.col("content")),
    ).localCheckpoint()
    base_verdicts = validate_df(old, schema).localCheckpoint()

    t0 = time.time()
    merged, diff = incremental_validate(base_verdicts, old, new, schema)
    counts = {r.change_type: r.n for r in
              diff.groupBy("change_type").agg(F.count(F.lit(1)).alias("n")).collect()}
    n_merged = merged.count()
    seconds = round(time.time() - t0, 3)

    print(json.dumps({
        "rows": args.rows,
        "changed": counts.get("changed", 0),
        "added": counts.get("added", 0),
        "removed": counts.get("removed", 0),
        "validated_docs": counts.get("changed", 0) + counts.get("added", 0),
        "full_equivalent_docs": n_merged,
        "seconds": seconds,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())

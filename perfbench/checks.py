"""Inputs and output checks that do not go through the engine.

* Corpora come from ``jsl_engine.corpus.generate_corpus`` with the
  workload seed, materialized to parquet once per (rows, defect rate,
  seed) under ``.perfbench/corpus``.
* Expected validation counts are a DuckDB recount over that parquet: the
  generator plants one defect per bad document (six schema violations,
  each one error, plus a truncated document that does not parse), and
  each class is a plain JSON predicate in SQL.
* Job outputs are read back with DuckDB and compared with those counts;
  registry query rows are compared with DuckDB ``oracle_sql()`` the way
  ``tools/check_oracle.py`` does.
"""

from __future__ import annotations

import json
import math
import shutil
import sys
import time
from pathlib import Path

import duckdb

from harness import ROOT, WORK

#: Corpora kept in the cache; older ones are evicted.
CORPUS_CACHE = 6

_N_ERRORS_SQL = r"""
    (json_extract(content, '$.name') IS NULL)::INT
  + coalesce(TRY_CAST(json_extract(content, '$.size') AS BIGINT) < 0, false)::INT
  + (json_extract_string(content, '$.lang') NOT IN {langs})::INT
  + (len(list_filter(json_extract(content, '$.imports[*]'),
                     x -> json_type(x) <> 'VARCHAR')) > 0)::INT
  + (NOT regexp_matches(json_extract_string(content, '$.created'),
                        '^\d{{4}}-\d\d-\d\dT\d\d:\d\d:\d\dZ$'))::INT
  + (json_extract_string(content, '$.check.kind') NOT IN ('lint', 'test'))::INT
"""


def ensure_corpus(spark, rows: int, defect_rate: float, seed: int) -> tuple[Path, float]:
    """Parquet corpus for ``(rows, defect_rate, seed)``; returns its path
    and the generation time (0 when it came from the cache)."""
    from jsl_engine.corpus import generate_corpus

    cache = WORK / "corpus"
    path = cache / f"{rows}_{defect_rate}_{seed}"
    if (path / "_SUCCESS").exists():
        return path, 0.0
    cache.mkdir(parents=True, exist_ok=True)
    old = sorted((p for p in cache.iterdir() if p.is_dir()), key=lambda p: p.stat().st_mtime)
    for p in old[: max(0, len(old) - CORPUS_CACHE + 1)]:
        shutil.rmtree(p, ignore_errors=True)
        for f in cache.glob(f"{p.name}.expected*.json"):
            f.unlink()
    t0 = time.perf_counter()
    generate_corpus(
        spark, rows, seed=seed, defect_rate=defect_rate,
        # 25k-document files: the production file size, not the many
        # tiny files a small corpus would otherwise be split into
        partitions=max(1, rows // 25_000),
    ).write.mode("overwrite").parquet(str(path))
    return path, time.perf_counter() - t0


def expected_counts(corpus: Path) -> dict:
    """Verdict totals the job must report, recounted by DuckDB."""
    from jsl_engine.corpus import LANGS

    # beside the corpus dir, not in it: Spark reads every file in there
    cache = corpus.parent / f"{corpus.name}.expected.json"
    if cache.exists():
        return json.loads(cache.read_text())
    langs = "(" + ", ".join(f"'{x}'" for x in LANGS) + ")"
    con = duckdb.connect()
    try:
        n_docs, n_parse, n_semantic, n_viol = con.execute(
            f"""
            WITH d AS (
              SELECT json_valid(content) AS valid,
                     -- DuckDB evaluates JSON functions on every row, so
                     -- unparseable documents are swapped for an empty one
                     CASE WHEN json_valid(content) THEN content ELSE '{{}}' END AS content
              FROM read_parquet('{corpus}/*.parquet')
            ), c AS (
              SELECT valid,
                     CASE WHEN valid THEN {_N_ERRORS_SQL.format(langs=langs)} ELSE 0 END AS n_err
              FROM d
            )
            SELECT count(*), count(*) FILTER (WHERE NOT valid),
                   count(*) FILTER (WHERE n_err > 0), coalesce(sum(n_err), 0)
            FROM c
            """
        ).fetchone()
    finally:
        con.close()
    out = {
        "n_docs": int(n_docs),
        "n_ok": int(n_docs - n_parse - n_semantic),
        "n_bad": int(n_parse + n_semantic),
        "n_violations": int(n_viol),
        "n_parse_errors": int(n_parse),
    }
    cache.write_text(json.dumps(out))
    return out


def check_job_output(root: Path, summary: dict, expected: dict) -> list[str]:
    """Differences between a committed job's outputs and the expected
    counts (empty when the job is correct)."""
    problems = []
    con = duckdb.connect()
    try:
        m = con.execute(
            f"""
            SELECT sum(n_docs), sum(n_ok), sum(n_bad), sum(n_violations),
                   sum(n_parse_errors), count(*)
            FROM read_parquet('{root}/manifest/*.parquet')
            WHERE schema_key IS NULL
            """
        ).fetchone()
        got = dict(zip(("n_docs", "n_ok", "n_bad", "n_violations", "n_parse_errors"), m[:5]))
        n_parts = m[5]
        n_vrows = con.execute(
            f"SELECT count(*) FROM read_parquet('{root}/violations/*/*.parquet')"
        ).fetchone()[0]
        n_validated = con.execute(
            f"SELECT count(*) FROM read_parquet('{root}/validated/*/*.parquet')"
        ).fetchone()[0]
    finally:
        con.close()
    for k, v in expected.items():
        if got.get(k) != v:
            problems.append(f"manifest {k}={got.get(k)} expected {v}")
    if n_vrows != expected["n_violations"]:
        problems.append(f"violation rows {n_vrows} expected {expected['n_violations']}")
    if n_validated != expected["n_docs"]:
        problems.append(f"validated rows {n_validated} expected {expected['n_docs']}")
    if (summary.get("docs"), summary.get("docs_ok"), summary.get("partitions_pending")) != (
        expected["n_docs"], expected["n_ok"], n_parts
    ):
        problems.append(f"job summary {summary} vs {n_parts} committed partitions")
    return problems


# -- registry oracle --------------------------------------------------------

ORACLE_TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def _norm():
    sys.path.insert(0, str(ROOT / "tools"))
    from check_oracle import norm

    return norm


def oracle_rows(sf_dir: Path, names: list[str]) -> dict[str, tuple[list[str], list]]:
    """DuckDB ``oracle_sql()`` results per query: sorted column names and
    normalized, sorted row tuples."""
    import __spark_entry__ as entry_mod

    norm = _norm()
    sqls = entry_mod.oracle_sql()
    con = duckdb.connect()
    try:
        for t in ORACLE_TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
        out = {}
        for name in names:
            ddf = con.execute(sqls[name]).fetchdf()
            cols = sorted(ddf.columns)
            rows = sorted(
                (
                    tuple(
                        norm(None if (isinstance(r[c], float) and math.isnan(r[c])) else r[c])
                        for c in cols
                    )
                    for r in ddf.to_dict("records")
                ),
                key=repr,
            )
            out[name] = (cols, rows)
        return out
    finally:
        con.close()


def compare_with_oracle(columns: list[str], rows: list, oracle: tuple[list[str], list]) -> str | None:
    """``tools/check_oracle.py``'s comparison: column names, row count and
    order-insensitive normalized values. Returns the failure or None."""
    norm = _norm()
    cols = sorted(columns)
    ocols, orows = oracle
    if cols != ocols:
        return f"schema {cols} != {ocols}"
    if len(rows) != len(orows):
        return f"rows {len(rows)} != {len(orows)}"
    got = sorted((tuple(norm(r[c]) for c in cols) for r in rows), key=repr)
    if got != orows:
        diff = [(a, b) for a, b in zip(got, orows) if a != b][:2]
        return f"values e.g. {diff}"
    return None

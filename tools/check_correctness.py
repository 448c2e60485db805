"""Local replica of the driver's correctness gate — full-registry runs.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB, then compares row count, column names, and an order-insensitive
value hash (columns sorted by name, rows sorted by their string form —
mirroring the driver's described compare).

The driver samples ~50 of the registered queries per round; this tool
closes the other half (round-4 VERDICT #1): ``--out`` writes a
per-query JSON artifact in the driver's CORRECTNESS schema so the full
gate is a committed artifact, not a trust-me claim. Multiple sf dirs
can be gated in one invocation (one JSON section per scale).

Vacuity check (round-4 VERDICT #2): a green row whose oracle returned 0
rows pins nothing — both engines agreeing on the empty set exercises no
operator math. Zero-row queries are reported as ``empty`` and fail the
run unless listed in ``EMPTY_OK`` (queries where emptiness IS the
semantic point at gate scale).

Usage::

    python tools/check_correctness.py [sf_dir ...] [--only q1,q2]
                                      [--out CORRECTNESS_FULL.json]

With no sf_dir, gates /root/testdata/sf0.01.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import sys
import time

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# the read-only generated tables (TESTDATA.md)
TESTDATA_DIR = "/root/testdata"

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]

# Queries whose oracle may legitimately return 0 rows at gate scale
# because emptiness is the assertion itself (e.g. "no conflicts found"
# on a conflict-free graph). Everything else must produce rows or the
# gate-scale row is vacuous.
EMPTY_OK: set[str] = set()


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for column in df.columns:
        if pd.api.types.is_float_dtype(df[column]):
            df[column] = df[column].round(4)
        if pd.api.types.is_integer_dtype(df[column]):
            df[column] = df[column].astype("int64")
    return df


def value_hash(df: pd.DataFrame) -> str:
    df = normalize(df)
    rows = sorted(
        "|".join("" if pd.isna(v) else str(v) for v in row)
        for row in df.itertuples(index=False, name=None)
    )
    return hashlib.md5("\n".join(rows).encode()).hexdigest()


def duckdb_views(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per table of ``sf_dir``."""
    con = duckdb.connect()
    for table in TABLES:
        con.sql(
            f"CREATE VIEW {table} AS SELECT * FROM '{sf_dir}/{table}.parquet'"
        )
    return con


def check_query(spark, con, query, oracle: str | None, sf_dir: str) -> dict:
    """Run one query on Spark and its oracle on ``con``; return its
    record in the driver's CORRECTNESS schema."""
    record = {
        "rows_match": False,
        "schema_match": False,
        "hash_match": False,
        "spark_rows": None,
        "oracle_rows": None,
        "err": None,
    }
    try:
        spark_df = query(spark, sf_dir).toPandas()
        record["spark_rows"] = len(spark_df)
        if oracle is None:
            # rows-only check, mirroring the driver's weaker gate
            record.update(rows_match=True, schema_match=True, hash_match=True)
            return record
        oracle_df = con.sql(oracle).df()
        record["oracle_rows"] = len(oracle_df)
        record["rows_match"] = len(spark_df) == len(oracle_df)
        record["schema_match"] = sorted(spark_df.columns) == sorted(
            oracle_df.columns
        )
        if record["rows_match"] and record["schema_match"]:
            record["hash_match"] = value_hash(spark_df) == value_hash(oracle_df)
    except Exception as exc:  # noqa: BLE001 — gate must report, not die
        record["err"] = f"{type(exc).__name__}: {exc}"[:500]
    return record


def verdict(name: str, record: dict) -> tuple[str, str]:
    """``("OK ", "")``, ``("VACU", note)`` for a 0-row oracle not in
    ``EMPTY_OK``, or ``("FAIL", problems)``."""
    if not (
        record["err"] is None
        and record["rows_match"]
        and record["schema_match"]
        and record["hash_match"]
    ):
        if record["err"]:
            return "FAIL", record["err"]
        problems = []
        if not record["rows_match"]:
            problems.append(
                f"rows {record['spark_rows']} != {record['oracle_rows']}"
            )
        if not record["schema_match"]:
            problems.append("schema mismatch")
        if record["rows_match"] and record["schema_match"]:
            problems.append("value-hash mismatch")
        return "FAIL", "; ".join(problems)
    if record["oracle_rows"] == 0 and name not in EMPTY_OK:
        return "VACU", "oracle returned 0 rows — pins nothing"
    return "OK ", ""


def gate_one_scale(
    spark, queries, oracles, sf_dir: str, only: set[str]
) -> tuple[dict, list[str], list[str]]:
    """Run the full registry at one scale. Returns (per-query records in
    the driver's CORRECTNESS schema, failure names, vacuous names)."""
    con = duckdb_views(sf_dir)
    records: dict[str, dict] = {}
    failures: list[str] = []
    vacuous: list[str] = []
    for name in sorted(queries):
        if only and name not in only:
            continue
        record = records[name] = check_query(
            spark, con, queries[name], oracles.get(name), sf_dir
        )
        status, note = verdict(name, record)
        if status == "FAIL":
            failures.append(name)
        elif status == "VACU":
            vacuous.append(name)
        elif name not in oracles:
            note = "(no oracle)"
        print(
            f"{name:34s} {status} {record['spark_rows'] or 0:7d} rows  {note}"
        )
    return records, failures, vacuous


def main() -> int:
    parser = argparse.ArgumentParser()
    parser.add_argument("sf_dirs", nargs="*", default=None)
    parser.add_argument("--only", default="")
    parser.add_argument("--out", default=None)
    parser.add_argument(
        "--excluded",
        default="",
        help="comma-separated name=reason pairs recorded verbatim in the"
        " artifact's 'excluded' block, so a partial gate (e.g. the sf1"
        " run that skips the O(n^2) oracle baselines) is"
        " self-documenting instead of silently short (round-5 VERDICT"
        " #4)",
    )
    args = parser.parse_args()
    sf_dirs = args.sf_dirs or [f"{TESTDATA_DIR}/sf0.01"]
    only = set(q for q in args.only.split(",") if q)

    import __spark_entry__ as entry_mod
    from sherlock_spark.session import get_spark

    spark = get_spark("check_correctness")
    queries = entry_mod.queries()
    oracles = entry_mod.oracle_sql()

    artifact: dict[str, dict] = {}
    all_failures: list[str] = []
    all_vacuous: list[str] = []
    for sf_dir in sf_dirs:
        print(f"\n=== {sf_dir} ===")
        started = time.time()
        records, failures, vacuous = gate_one_scale(
            spark, queries, oracles, sf_dir, only
        )
        label = sf_dir.rstrip("/").rsplit("/", 1)[-1]
        artifact[label] = {
            "sf_dir": sf_dir,
            "n_queries": len(records),
            "n_ok": sum(
                1
                for r in records.values()
                if r["err"] is None
                and r["rows_match"]
                and r["schema_match"]
                and r["hash_match"]
            ),
            "failures": failures,
            "vacuous_empty": vacuous,
            "wall_seconds": round(time.time() - started, 1),
            "queries": records,
        }
        all_failures.extend(f"{label}:{name}" for name in failures)
        all_vacuous.extend(f"{label}:{name}" for name in vacuous)

    if args.excluded:
        artifact["excluded"] = dict(
            pair.split("=", 1) for pair in args.excluded.split(",") if pair
        )
    if args.out:
        with open(args.out, "w") as handle:
            json.dump(artifact, handle, indent=1)
        print(f"\nwrote {args.out}")

    print(f"\n{len(all_failures)} failures"
          + (f": {all_failures}" if all_failures else ""))
    if all_vacuous:
        print(f"{len(all_vacuous)} VACUOUS (0-row oracle): {all_vacuous}")
    return 1 if (all_failures or all_vacuous) else 0


if __name__ == "__main__":
    raise SystemExit(main())

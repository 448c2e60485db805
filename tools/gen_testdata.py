"""Deterministic scale-up of the driver's testdata (round-4 VERDICT #7).

The driver generates /root/testdata/sf{0.001,0.01,0.1} (read-only; its
generator is not in this repo). This tool produces a LARGER scale from
an existing one by key-shifted replication — sf1 = 10 deterministic
replicas of sf0.1 — preserving every semantic property the 100-query
registry relies on (schemas byte-for-byte, referential integrity,
value distributions, event/session structure) so the full correctness
gate can run at sf1 and catch scale-dependent determinism bugs (float
summation order, hash partitioning, window ties) before a real cluster
does.

Replication scheme (replica r in 0..factor-1; r=0 is the original):
- region/nation: copied once (fixed-size dimensions, as in TPC-H).
- customer/supplier/part/orders/lineitem/events: every key column
  (primary AND foreign) shifts by r * (max(key)+1 in the source), so
  each replica is a self-consistent universe and joins never cross
  replicas; non-key columns are copied verbatim (aggregates scale
  exactly by the factor — a useful invariant for eyeballing results).
- documents: doc_id shifts; replica texts get a deterministic per-WORD
  ``_r<r>`` suffix (n_chars recomputed). Every shingle/token is
  bijectively renamed per replica, so cross-replica Jaccard is exactly
  0 and the dup-pair graph is 10 independent copies of the source's —
  replication must not manufacture a dense 10-way near-dup cluster per
  document, which would both rescale the dedup families quadratically
  (the exact-pair oracles DNF) and change what the gate is testing.
- embeddings: vec_id shifts; replica vectors get a deterministic
  angular perturbation sized to push cross-replica cosine to ~0.95,
  below the 0.99 dedup threshold (seeded numpy, float32 like the
  source) — same rationale: replicas must not be near-duplicates of
  their source, or pair counts stop scaling linearly.

Everything is pure DuckDB SQL + seeded numpy — same input, same
output, no RNG state leakage. Output goes OUTSIDE the read-only
testdata tree (default /tmp/sherlock_testdata/sf1).

Usage::

    python tools/gen_testdata.py [--src /root/testdata/sf0.1]
                                 [--out /tmp/sherlock_testdata/sf1]
                                 [--factor 10]
"""

from __future__ import annotations

import argparse
import os

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# (table, [key columns to shift, each by its own source max+1])
SHIFTED = [
    ("customer", ["c_custkey"]),
    ("supplier", ["s_suppkey"]),
    ("part", ["p_partkey"]),
    ("orders", ["o_orderkey", "o_custkey"]),
    ("lineitem", ["l_orderkey", "l_partkey", "l_suppkey"]),
    ("events", ["event_id", "user_id"]),
]

# key column -> the table whose primary key defines its shift stride
STRIDE_OF = {
    "c_custkey": ("customer", "c_custkey"),
    "s_suppkey": ("supplier", "s_suppkey"),
    "p_partkey": ("part", "p_partkey"),
    "o_orderkey": ("orders", "o_orderkey"),
    "o_custkey": ("customer", "c_custkey"),
    "l_orderkey": ("orders", "o_orderkey"),
    "l_partkey": ("part", "p_partkey"),
    "l_suppkey": ("supplier", "s_suppkey"),
    "event_id": ("events", "event_id"),
    "user_id": ("events", "user_id"),
    "doc_id": ("documents", "doc_id"),
    "vec_id": ("embeddings", "vec_id"),
}


def generate(
    src: str, out: str, factor: int, keep_lexicon: bool = False
) -> None:
    os.makedirs(out, exist_ok=True)
    con = duckdb.connect()
    con.execute(f"SET threads TO {min(16, os.cpu_count() or 4)}")

    def src_path(table: str) -> str:
        return f"{src}/{table}.parquet"

    strides = {
        col: con.sql(
            f"SELECT max({key}) + 1 FROM '{src_path(table)}'"
        ).fetchone()[0]
        for col, (table, key) in STRIDE_OF.items()
    }

    for table in ["region", "nation"]:
        con.sql(
            f"COPY (SELECT * FROM '{src_path(table)}') TO "
            f"'{out}/{table}.parquet' (FORMAT PARQUET)"
        )
        print(f"{table}: copied")

    replicas = f"(SELECT unnest(generate_series(0, {factor - 1})) AS r)"

    for table, keys in SHIFTED:
        cols = [
            row[0]
            for row in con.sql(
                f"DESCRIBE SELECT * FROM '{src_path(table)}'"
            ).fetchall()
        ]
        select = ", ".join(
            f"CAST(t.{col} + r.r * {strides[col]} AS BIGINT) AS {col}"
            if col in keys
            else f"t.{col}"
            for col in cols
        )
        con.sql(
            f"COPY (SELECT {select} FROM '{src_path(table)}' t, "
            f"{replicas} r ORDER BY r.r, t.{keys[0]}) TO "
            f"'{out}/{table}.parquet' (FORMAT PARQUET)"
        )
        n = con.sql(f"SELECT count(*) FROM '{out}/{table}.parquet'").fetchone()[0]
        print(f"{table}: {n} rows")

    # documents: per-word replica suffix — bijective token rename, so
    # each replica's dup structure is an exact copy of the source's and
    # cross-replica similarity is 0; n_chars stays == len(text)
    doc_stride = strides["doc_id"]
    if keep_lexicon:
        # kg-density-faithful mode: NER-lexicon words are exempt from
        # the rename so every replica carries the SAME mention/pair/
        # triple structure as the source — without this, replicas 1..N
        # have zero lexicon hits and the kg model stages see 1/N of the
        # load a uniformly-scaled corpus (like the driver's own sf1)
        # would produce. Cross-replica Jaccard is no longer exactly 0
        # but is bounded by the lexicon-word fraction of a document
        # (~0.1 word-share -> shingle Jaccard << the 0.8 dedup
        # threshold), so dup-pair results above threshold still scale
        # exactly linearly.
        import sys

        sys.path.insert(
            0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        )
        from sherlock_spark.model_stub import DEFAULT_NER_LEXICON

        # SQL string literals: a quote inside a word is doubled
        kept = ", ".join(
            "'" + w.replace("'", "''") + "'" for w in sorted(DEFAULT_NER_LEXICON)
        )
        mutated = (
            "array_to_string(list_transform(string_split(t.text, ' '), "
            f"w -> CASE WHEN lower(w) IN ({kept}) THEN w "
            "ELSE w || '_r' || r.r END), ' ')"
        )
    else:
        mutated = (
            "array_to_string(list_transform(string_split(t.text, ' '), "
            "w -> w || '_r' || r.r), ' ')"
        )
    con.sql(
        f"""COPY (
            SELECT CAST(t.doc_id + r.r * {doc_stride} AS BIGINT) AS doc_id,
                   CASE WHEN r.r = 0 THEN t.text ELSE {mutated} END AS text,
                   t.lang, t.source,
                   CAST(len(CASE WHEN r.r = 0 THEN t.text
                        ELSE {mutated} END) AS BIGINT) AS n_chars
            FROM '{src_path("documents")}' t, {replicas} r
            ORDER BY r.r, t.doc_id
        ) TO '{out}/documents.parquet' (FORMAT PARQUET)"""
    )
    print(
        "documents:",
        con.sql(f"SELECT count(*) FROM '{out}/documents.parquet'").fetchone()[0],
        "rows",
    )

    # embeddings: numpy-side so replicas get a real angular perturbation
    # (a pure scale would leave cosine == 1 and quadratically inflate
    # the near-dup families); float32 like the source
    src_emb = pq.read_table(src_path("embeddings"))
    vec_ids = src_emb.column("vec_id").to_numpy()
    labels = src_emb.column("label").to_numpy()
    base = np.asarray(
        [np.asarray(v, dtype=np.float32) for v in src_emb.column("embedding").to_pylist()]
    )
    stride = strides["vec_id"]
    rng = np.random.default_rng(42)
    # per-component noise sized for cross-replica cosine ~ 0.95:
    # cos ~ 1/sqrt(1 + sigma^2*d/|v|^2); sigma = 0.33 * rms(component)
    sigma = 0.33 * float(np.sqrt((base.astype(np.float64) ** 2).mean()))
    parts = []
    for r in range(factor):
        vecs = base if r == 0 else base + rng.normal(
            0, sigma, base.shape
        ).astype(np.float32)
        parts.append(
            pa.table(
                {
                    "vec_id": pa.array(vec_ids + r * stride, pa.int64()),
                    "embedding": pa.array(
                        [row for row in vecs.astype(np.float32)],
                        pa.list_(pa.float32()),
                    ),
                    "label": pa.array(labels, pa.int32()),
                }
            )
        )
    pq.write_table(pa.concat_tables(parts), f"{out}/embeddings.parquet")
    print("embeddings:", sum(len(p) for p in parts), "rows")


def main() -> None:
    parser = argparse.ArgumentParser()
    parser.add_argument("--src", default="/root/testdata/sf0.1")
    parser.add_argument("--out", default="/tmp/sherlock_testdata/sf1")
    parser.add_argument("--factor", type=int, default=10)
    parser.add_argument(
        "--keep-lexicon",
        action="store_true",
        help="exempt NER-lexicon words from the per-replica rename so "
        "kg mention density matches a uniformly-scaled corpus",
    )
    args = parser.parse_args()
    generate(args.src, args.out, args.factor, args.keep_lexicon)


if __name__ == "__main__":
    main()

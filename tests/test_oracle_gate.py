"""The full Spark-vs-DuckDB oracle gate in the test suite: every
registered query at sf0.001 and sf0.01, one test id per query and scale,
with ``tools/check_correctness.py``'s compare and vacuity rule. Also
checks the pipeline's own written node and edge tables against the
canonical node/edge oracles."""

from __future__ import annotations

import os

import pytest

from sherlock_spark import queries
from sherlock_spark.plans import run_kg_pipeline
from sherlock_spark.sources.transcripts import transcripts_from_documents
from tools.check_correctness import (
    TESTDATA_DIR,
    check_query,
    duckdb_views,
    verdict,
)

SCALES = [os.path.join(TESTDATA_DIR, name) for name in ("sf0.001", "sf0.01")]


@pytest.fixture(scope="module")
def views():
    """One DuckDB connection per scale dir, opened on first use."""
    connections = {}

    def get(sf_dir):
        if sf_dir not in connections:
            connections[sf_dir] = duckdb_views(sf_dir)
        return connections[sf_dir]

    yield get
    for con in connections.values():
        con.close()


def assert_matches(name, record, sf_dir):
    status, note = verdict(name, record)
    assert status == "OK ", f"{name} at {sf_dir}: {status} {note}"


@pytest.mark.parametrize("sf_dir", SCALES, ids=os.path.basename)
@pytest.mark.parametrize("name", sorted(queries.QUERIES))
def test_query_matches_oracle(spark, views, name, sf_dir):
    query, oracle = queries.QUERIES[name], queries.ORACLES.get(name)
    record = check_query(spark, views(sf_dir), query, oracle, sf_dir)
    assert_matches(name, record, sf_dir)


def test_pipeline_graph_matches_oracle(spark, views, tmp_path, monkeypatch):
    """``run_kg_pipeline`` with the oracle's aliases, no subword budget
    and the registry's mention cap writes the node and edge tables that
    the canonical node/edge oracles describe."""
    sf_dir = SCALES[0]
    result = run_kg_pipeline(
        spark,
        transcripts_from_documents(
            spark.read.parquet(f"{sf_dir}/documents.parquet"), queries.N_CONVS
        ),
        str(tmp_path / "ckpt"),
        aliases=queries.CANON_ALIASES,
        max_length=None,
        max_mentions=queries.MAX_MENTIONS,
    )
    # the canonical node/edge queries, projecting the pipeline's tables
    monkeypatch.setattr(queries, "_kg", lambda _spark, _sf_dir: result)
    for name, query, oracle in (
        ("edges", queries.q_kg_canonical_edges, queries.SQL_KG_CANONICAL_EDGES),
        ("nodes", queries.q_kg_canonical_nodes, queries.SQL_KG_CANONICAL_NODES),
    ):
        record = check_query(spark, views(sf_dir), query, oracle, sf_dir)
        assert_matches(name, record, sf_dir)

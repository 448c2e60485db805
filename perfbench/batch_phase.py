"""Warm ``run_kg_pipeline`` iterations and resumes, each checked.

Every iteration writes into a fresh checkpoint directory. A resume
simulates a kill just after the ``triples`` stage: the lineage and data
of ``links``, ``canonical_map``, ``nodes`` and ``edges`` are removed with
``CheckpointManager.invalidate``, so the resumed run re-reads the
checkpointed stages and rebuilds linking, canonicalization and
materialization.
"""

from __future__ import annotations

import os
import sys
import time

from gen import Workload

STAGES = ["annotated", "triples", "pair_overflow_metrics", "links", "canonical_map", "nodes", "edges"]
RESUMED = ["links", "canonical_map", "nodes", "edges"]


def graph_rows(result: dict) -> tuple[set, set]:
    """The run's ``nodes`` and ``edges`` as sets of plain tuples (read
    through Arrow: ``collect`` of ~10^5 rows costs seconds)."""
    nodes = result["nodes"].select("canonical_id", "label", "surface_forms").toPandas()
    edges = result["edges"].select("subj_id", "pred", "obj_id", "n_evidence").toPandas()
    return (
        {(c, l, tuple(f)) for c, l, f in nodes.itertuples(index=False)},
        {(s, p, o, int(n)) for s, p, o, n in edges.itertuples(index=False)},
    )


def built_since(out_dir: str, stages: list[str], since: float) -> bool:
    """True when each stage's lineage file was written after ``since``."""
    for stage in stages:
        path = os.path.join(out_dir, "_lineage", f"{stage}.json")
        if not os.path.exists(path) or os.path.getmtime(path) < since:
            return False
    return True


def graph_matches(nodes: set, edges: set, reference: tuple[set, set]) -> bool:
    return nodes == reference[0] and edges == reference[1]


class BatchPhase:
    """Pipeline iterations over one transcripts table, checked against
    ``reference`` = (nodes, edges)."""

    def __init__(self, spark, workload: Workload, source: str, work_dir: str, reference) -> None:
        self.spark = spark
        self.workload = workload
        self.transcripts = spark.read.parquet(source)
        self.work_dir = work_dir
        self.reference = reference
        self.iterations = 0
        self.pipeline_walls: list[float] = []
        self.resume_walls: list[float] = []
        self.attempted = 0
        self.failed = 0
        self.last_result: dict | None = None
        self.last_dir: str | None = None
        self.verify_s = 0.0

    def run_pipeline(self, out_dir: str) -> dict:
        from sherlock_spark.plans.pipeline import run_kg_pipeline

        return run_kg_pipeline(
            self.spark, self.transcripts, out_dir,
            ner_lexicon=self.workload.lexicon, aliases=self.workload.aliases,
        )

    def _check(self, result: dict, out_dir: str, rebuilt: list[str], kept: list[str], since: float) -> bool:
        nodes, edges = graph_rows(result)
        fresh = built_since(out_dir, rebuilt, since)
        # stages a resume must NOT rebuild keep their older lineage
        reused = all(not built_since(out_dir, [stage], since) for stage in kept)
        return fresh and reused and graph_matches(nodes, edges, self.reference)

    def _op(self, walls: list[float], action, out_dir: str, rebuilt: list[str], kept: list[str]) -> None:
        self.attempted += 1
        started_wall = time.time()
        t0 = time.perf_counter()
        try:
            result = action()
            wall = time.perf_counter() - t0
            ok = self._check(result, out_dir, rebuilt, kept, started_wall)
            self.verify_s += time.perf_counter() - t0 - wall
        except Exception as exc:  # one failed operation, the run goes on
            print(f"perfbench: batch operation failed: {exc!r}", file=sys.stderr)
            self.failed += 1
            return
        if not ok:
            print("perfbench: batch output differs from the reference", file=sys.stderr)
            self.failed += 1
            return
        walls.append(wall)
        self.last_result = result

    def pipeline(self) -> None:
        """One pipeline into a fresh directory."""
        self.iterations += 1
        out_dir = os.path.join(self.work_dir, f"iter{self.iterations:03d}")
        self.last_dir = out_dir
        self._op(self.pipeline_walls, lambda: self.run_pipeline(out_dir), out_dir, STAGES, [])

    def resume(self) -> None:
        """Resume the last pipeline's directory after a simulated kill."""
        kill_after_triples(self.spark, self.last_dir)
        self._op(
            self.resume_walls, lambda: self.run_pipeline(self.last_dir), self.last_dir,
            RESUMED, ["annotated", "triples"],
        )


def kill_after_triples(spark, out_dir: str) -> None:
    """Leave ``out_dir`` as a run killed just after ``triples`` would."""
    from sherlock_spark.plans.checkpoint import CheckpointManager

    manager = CheckpointManager(spark, out_dir)
    for stage in RESUMED:
        manager.invalidate(stage)

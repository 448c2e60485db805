"""The extract -> link -> canonicalize -> materialize DAG.

Spark shape of the reference ``Pipeline`` (``sherlock/pipeline.py:14-60``:
a hand-ordered processor list with provenance stamping), rebuilt as
checkpointed DataFrame stages (SURVEY.md §3.2). Each stage materializes
to a table with per-partition lineage; rerunning after a failure skips
completed stages (idempotent resume).

Skew handling: input is repartitioned by ``hash(conv_id, salt)`` with
``salt = turn_idx // chunk_turns`` (``salt_by_conv``): oversized
conversations split into bounded contiguous chunks while normal ones
stay whole. Turn-level work is embarrassingly parallel, so splitting a
conversation is safe — only ordering-sensitive consumers re-sort by
(conv_id, turn_idx).
"""

from __future__ import annotations

from typing import Callable, Optional

from pyspark import InheritableThread
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sherlock_spark.model_stub import (
    DEFAULT_NER_LEXICON,
    DEFAULT_RC_LABELS,
)
from sherlock_spark.operators.canonicalize import canonicalize, materialize_graph
from sherlock_spark.operators.linking import linked_mentions, make_alias_df
from sherlock_spark.operators.metrics import pair_overflow_stats
from sherlock_spark.operators.ner import annotate_mentions
from sherlock_spark.operators.rc import extract_triples
from sherlock_spark.plans.checkpoint import CheckpointManager


def salt_by_conv(
    df: DataFrame,
    chunk_turns: int = 256,
    num_partitions: int | None = None,
) -> DataFrame:
    """Spread long conversations: partition key (conv_id,
    ``turn_idx // chunk_turns``) — the SURVEY §4 skew safeguard.

    Chunked (not modulo) salting: a conversation with at most
    ``chunk_turns`` turns gets ONE salt value (0) and stays whole — no
    fragmentation of normal conversations — while a mega-conversation
    (the agent-transcript skew case: one conv_id with 10^5+ turns)
    splits into ``ceil(turns / chunk_turns)`` contiguous chunks that
    hash to different tasks. No heavy-key detection pass is needed: the
    salt is a pure per-row expression, costs nothing when no key is
    heavy, and bounds the largest per-task key block at ``chunk_turns``
    rows by construction. Turn-level stages (tokenize/NER/pair-explode)
    are embarrassingly parallel, so splitting a conversation is safe —
    only ordering-sensitive consumers re-sort by (conv_id, turn_idx).

    The partition count is explicit — downstream stages are
    compute-bound (pair explode + model UDFs), and AQE's byte-based
    coalescing would otherwise collapse a small-by-bytes shuffle onto
    one task.
    """
    if num_partitions is None:
        num_partitions = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(
        num_partitions,
        F.col("conv_id"),
        F.floor(F.col("turn_idx") / F.lit(chunk_turns)),
    )


def run_kg_pipeline(
    spark: SparkSession,
    transcripts: DataFrame,
    out_dir: str,
    ner_lexicon: Optional[dict[str, str]] = None,
    rc_labels: Optional[list[str]] = None,
    rc_rule_map: Optional[dict[tuple[str, str], str]] = None,
    aliases: Optional[list[tuple[str, str, str]]] = None,
    entity_handling: str = "mark_entity",
    max_length: int = 128,
    max_mentions: int = 16,
    chunk_turns: int = 256,
) -> dict[str, DataFrame]:
    """Run (or resume) the full KG-construction DAG. Returns the stage
    DataFrames: triples, links, canonical_map, nodes, edges.
    """
    manager = CheckpointManager(spark, out_dir)
    lexicon = DEFAULT_NER_LEXICON if ner_lexicon is None else ner_lexicon
    stages = kg_stages(
        spark,
        transcripts,
        manager.run_stage,
        lexicon=lexicon,
        labels=DEFAULT_RC_LABELS if rc_labels is None else rc_labels,
        rule_map=rc_rule_map,
        aliases=aliases if aliases is not None else default_aliases(lexicon),
        entity_handling=entity_handling,
        max_length=max_length,
        max_mentions=max_mentions,
        chunk_turns=chunk_turns,
    )
    return {**stages, "lineage": manager.all_lineage()}


def kg_stages(
    spark: SparkSession,
    transcripts: DataFrame,
    run_stage: Callable[..., DataFrame],
    *,
    lexicon: dict[str, str],
    labels: list[str],
    rule_map: Optional[dict[tuple[str, str], str]],
    aliases: list[tuple[str, str, str]],
    entity_handling: str,
    max_length: Optional[int],
    max_mentions: int,
    chunk_turns: int = 256,
    dedup_model_inputs: bool = False,
) -> dict[str, DataFrame]:
    """The one definition of the KG stage graph: annotated, then triples
    next to pair_overflow_metrics and links -> canonical_map, then nodes
    next to edges. ``run_stage(name, build, dedup_keys=None)``
    materializes one stage and returns it: ``CheckpointManager.run_stage``
    for the pipeline, the session's ``udfcache.stage`` memo for the query
    registry. ``transcripts`` is unsalted; the graph salts it.
    """

    def build_annotated() -> DataFrame:
        # The NER model stage, the dominant cost of the DAG at scale, is
        # materialized once and read by every downstream builder, pruned
        # to the columns they read (text/raw columns stay out).
        salted = salt_by_conv(transcripts, chunk_turns)
        return annotate_mentions(spark, salted, lexicon).select(
            "conv_id", "turn_idx", "words", "ments"
        )

    # no conv_id repartition after the dedup: no reader needs that layout
    annotated = run_stage(
        "annotated", build_annotated, dedup_keys=["conv_id", "turn_idx"]
    )

    def build_triples() -> DataFrame:
        return extract_triples(
            spark,
            annotated,
            labels=labels,
            rule_map=rule_map,
            entity_handling=entity_handling,
            max_length=max_length,
            max_mentions=max_mentions,
            dedup_model_inputs=dedup_model_inputs,
        )

    def links_and_map() -> tuple[DataFrame, DataFrame]:
        links = run_stage(
            "links", lambda: linked_mentions(annotated, make_alias_df(spark, aliases))
        )
        return links, run_stage("canonical_map", lambda: canonicalize(links))

    # Every stage after ``annotated`` is written as built, with no dedup
    # shuffle, because each table is unique on its key by construction:
    # - triples on (conv_id, turn_idx, head_idx, tail_idx): ``annotated``
    #   has one row per turn and the explode emits each (h, t) once;
    # - links on (conv_id, turn_idx, ment_idx, kb_id) for unique alias
    #   rows: the explode emits each ment_idx once, and the alias join adds
    #   one row per matching alias row, keeping every KB id of a multi-KB
    #   alias as ``SQL_KG_LINKS`` does;
    # - canonical_map on (ment_norm, ment_label): ``canonicalize`` joins
    #   the distinct surfaces to at most one component row each;
    # - nodes and edges: each is a groupBy on exactly its key.
    # No consumer reads a conv_id layout. Stages that do not read each
    # other run side by side: their jobs are mostly fixed latency
    # (planning, scheduling, the write commit) that would otherwise queue.
    triples, pair_overflow, (links, canonical_map) = run_concurrently(
        lambda: run_stage("triples", build_triples),
        # counted overflow, not silent truncation (SURVEY §4): the
        # max_mentions cap of the pair explode lands in a metrics table
        lambda: run_stage(
            "pair_overflow_metrics",
            lambda: pair_overflow_stats(annotated, max_mentions),
        ),
        links_and_map,
    )
    graph = materialize_graph(triples, canonical_map)  # one plan, no job
    nodes, edges = run_concurrently(
        lambda: run_stage("nodes", lambda: graph[0]),
        lambda: run_stage("edges", lambda: graph[1]),
    )

    return {
        "annotated": annotated,
        "triples": triples,
        "links": links,
        "canonical_map": canonical_map,
        "nodes": nodes,
        "edges": edges,
        "pair_overflow_metrics": pair_overflow,
    }


def run_concurrently(*thunks: Callable[[], object]) -> list:
    """Call each thunk, the first on this thread and the rest on threads
    that inherit this thread's Spark job group and properties; return the
    results in order. The first failure is raised once all have returned."""
    results, errors = [None] * len(thunks), []

    def call(index: int) -> None:
        try:
            results[index] = thunks[index]()
        except BaseException as exc:  # re-raised on the calling thread
            errors.append(exc)

    threads = [InheritableThread(call, args=(i,)) for i in range(1, len(thunks))]
    for thread in threads:
        thread.start()
    call(0)
    for thread in threads:
        thread.join()
    if errors:
        raise errors[0]
    return results


def default_aliases(lexicon: dict[str, str]) -> list[tuple[str, str, str]]:
    """One KB id per lexicon surface (types from the BIO tag); gives the
    link stage full coverage on synthetic corpora.
    """
    rows = []
    for word, tag in lexicon.items():
        if tag.startswith("B-"):
            ent_type = tag[2:]
            rows.append((word, f"Q-{word.upper()}", ent_type))
    return rows

"""The triples stage and the graph tail after it: one model exchange
sized to the cores, stages written as they are built, the key
uniqueness that lets each stage write skip a dedup, the Spark jobs one
cold pipeline run takes, and the helper that runs independent stages
side by side."""

import re
import time
import uuid

import pytest

from fixture_text import IN_REPO_SENTENCES
from sherlock_spark.model_stub import (
    FIXTURE_NER_LEXICON,
    FIXTURE_RC_LABELS,
    FIXTURE_RC_RULES,
)
from sherlock_spark.operators.ner import annotate_mentions
from sherlock_spark.operators.rc import (
    MAX_MENTIONS_CEILING,
    enumerate_pairs,
    extract_triples,
)
from sherlock_spark.plans import run_kg_pipeline
from sherlock_spark.plans.pipeline import run_concurrently

KEYS = ["conv_id", "turn_idx", "head_idx", "tail_idx"]
# one turn with 18 mentions, over the default cap of 16, and one that
# names the same city twice
OVER_CAP = " ".join(["montcourt in paris"] * 6)
REPEATED = "montcourt left paris for paris"
# Spark jobs of one cold run_kg_pipeline on the input below (local[4])
PIPELINE_JOBS = 21
# the key each graph-tail stage is unique on by construction (links: with
# the default alias table, one row per lexicon word)
TAIL_KEYS = {
    "links": ["conv_id", "turn_idx", "ment_idx", "kb_id"],
    "canonical_map": ["ment_norm", "ment_label"],
    "nodes": ["canonical_id", "label"],
    "edges": ["subj_id", "pred", "obj_id"],
}


def _transcripts(spark):
    texts = [*IN_REPO_SENTENCES, OVER_CAP, REPEATED]
    rows = [(f"c{i % 2}", i, text) for i, text in enumerate(texts)]
    return spark.createDataFrame(rows, "conv_id string, turn_idx int, text string")


@pytest.fixture(scope="module")
def pipeline_run(spark, tmp_path_factory):
    """One cold pipeline run and the ids of the Spark jobs it ran."""
    transcripts = _transcripts(spark)
    transcripts.count()  # the input's own jobs stay out of the group
    out_dir = str(tmp_path_factory.mktemp("kg"))
    sc = spark.sparkContext
    group = f"triples-stage-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, "pipeline")
    try:
        result = run_kg_pipeline(
            spark,
            transcripts,
            out_dir,
            ner_lexicon=FIXTURE_NER_LEXICON,
            rc_labels=FIXTURE_RC_LABELS,
            rc_rule_map=FIXTURE_RC_RULES,
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return result, list(sc.statusTracker().getJobIdsForGroup(group))


def test_triple_keys_are_unique(pipeline_run):
    """(conv_id, turn_idx, head_idx, tail_idx) is unique in the written
    table, which therefore equals its own dropDuplicates, and lineage
    counts every row once."""
    result, _ = pipeline_run
    triples = result["triples"]
    n_rows = triples.count()
    # the over-cap turn and the repeated mention both yield triples
    turns = {r["turn_idx"] for r in triples.select("turn_idx").collect()}
    assert {len(IN_REPO_SENTENCES), len(IN_REPO_SENTENCES) + 1} <= turns
    assert triples.groupBy(*KEYS).count().filter("count > 1").count() == 0
    assert triples.dropDuplicates().count() == n_rows
    lineage = next(r for r in result["lineage"] if r["stage"] == "triples")
    assert lineage["n_rows"] == n_rows
    assert sum(lineage["partition_rows"].values()) == n_rows


@pytest.mark.parametrize("stage", sorted(TAIL_KEYS))
def test_graph_tail_keys_are_unique(pipeline_run, stage):
    """Each graph-tail stage, written without a dedup, is unique on its
    key, and lineage counts every row once."""
    result, _ = pipeline_run
    table = result[stage]
    n_rows = table.count()
    assert n_rows > 0
    assert table.groupBy(*TAIL_KEYS[stage]).count().filter("count > 1").count() == 0
    lineage = next(r for r in result["lineage"] if r["stage"] == stage)
    assert lineage["n_rows"] == n_rows
    assert sum(lineage["partition_rows"].values()) == n_rows


def test_pipeline_job_count(pipeline_run):
    """A cold pipeline run on a fixed input runs a pinned number of
    Spark jobs. With dedup shuffles on the links, canonical_map, nodes
    and edges writes and three actions ahead of canonicalize's
    union-find, the same run took 31 or 32; with a dedup and a conv_id
    repartition on the triples write as well, 33; with a conv_id
    repartition after the annotated dedup, 22."""
    _, jobs = pipeline_run
    assert len(jobs) == PIPELINE_JOBS


def test_every_pipeline_job_carries_its_stage_description(spark, pipeline_run):
    """Every job of the run, those a stage's build runs included, is
    labelled ``stage <name>``."""
    _, jobs = pipeline_run
    store = spark.sparkContext._jsc.sc().statusStore()
    descriptions = [store.job(job).description().getOrElse(None) for job in jobs]
    assert all(d is not None and d.startswith("stage ") for d in descriptions), descriptions


def test_model_exchange_is_one_wave(spark):
    """The extraction's only exchange is the round-robin one over turns
    in front of pair construction and the model, with one partition per
    core."""
    annotated = annotate_mentions(spark, _transcripts(spark), FIXTURE_NER_LEXICON)
    triples = extract_triples(spark, annotated, FIXTURE_RC_LABELS, FIXTURE_RC_RULES)
    plan = triples._jdf.queryExecution().executedPlan().toString()
    exchanges = re.findall(r"Exchange (\w+\(\d+\))", plan)
    assert exchanges == [
        f"RoundRobinPartitioning({spark.sparkContext.defaultParallelism})"
    ], plan


def test_max_mentions_ceiling(spark):
    """A cap above the ceiling is refused by name before any pair-index
    literal is built; the ceiling itself is accepted."""
    annotated = annotate_mentions(spark, _transcripts(spark), FIXTURE_NER_LEXICON)
    for build in (
        lambda cap: enumerate_pairs(annotated, max_mentions=cap),
        lambda cap: extract_triples(
            spark, annotated, FIXTURE_RC_LABELS, max_mentions=cap
        ),
    ):
        with pytest.raises(ValueError, match="MAX_MENTIONS_CEILING"):
            build(MAX_MENTIONS_CEILING + 1)
        build(MAX_MENTIONS_CEILING)


def test_run_concurrently_keeps_order_properties_and_failures(spark):
    """Thunks on side threads see the caller's Spark local properties
    (job group, description), results come back in thunk order with more
    thunks than cores, and a side thread's failure is raised only after
    every thunk has run to its end."""
    sc = spark.sparkContext
    sc.setLocalProperty("spark.job.description", "stage probe")
    try:
        seen = run_concurrently(
            *[lambda i=i: (i, sc.getLocalProperty("spark.job.description")) for i in range(12)]
        )
    finally:
        sc.setLocalProperty("spark.job.description", None)
    assert seen == [(i, "stage probe") for i in range(12)]

    finished = []

    def slow():
        time.sleep(0.2)
        finished.append(True)

    def fail():
        raise ValueError("side stage failed")

    with pytest.raises(ValueError, match="side stage failed"):
        run_concurrently(slow, fail, slow)
    assert finished == [True, True]

"""The triples stage: one model exchange sized to the cores, triples
written as the model produces them, and the key uniqueness that lets
the stage write skip a dedup."""

import re
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

KEYS = ["conv_id", "turn_idx", "head_idx", "tail_idx"]
# one turn with 18 mentions, over the default cap of 16, and one that
# names the same city twice
OVER_CAP = " ".join(["montcourt in paris"] * 6)
REPEATED = "montcourt left paris for paris"
# Spark jobs of one cold run_kg_pipeline on the input below (local[4]).
# The canonical_map write runs one more job (a broadcast future) in some
# runs and not in others, so a run takes 31 or 32 jobs.
PIPELINE_JOBS = (31, 32)


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


def test_pipeline_job_count(pipeline_run):
    """A cold pipeline run on a fixed input runs a pinned number of
    Spark jobs. With a dedup and a conv_id repartition on the triples
    write and a 4-tasks-per-core model exchange, the same run took 33."""
    _, jobs = pipeline_run
    assert PIPELINE_JOBS[0] <= len(jobs) <= PIPELINE_JOBS[1]


def test_model_exchange_is_one_wave(spark):
    """The extraction's only exchange is the round-robin one in front of
    the model, with one partition per core."""
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

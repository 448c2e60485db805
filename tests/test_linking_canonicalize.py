"""Entity linking, connected components, and the checkpointed DAG."""

import os

import pytest

from fixture_text import synth_transcripts
from sherlock_spark.model_stub import (
    DEFAULT_NER_LEXICON,
    FIXTURE_NER_LEXICON,
    FIXTURE_RC_LABELS,
    FIXTURE_RC_RULES,
)
from sherlock_spark.operators.canonicalize import (
    canonicalize,
    connected_components,
    materialize_graph,
)
from sherlock_spark.operators.linking import link_entities, linked_mentions, make_alias_df
from sherlock_spark.operators.ner import annotate_mentions
from sherlock_spark.plans import CheckpointManager, run_kg_pipeline

ALIASES = [
    ("douglas flint", "Q-DF", "PERSON"),
    ("flint", "Q-DF", "PERSON"),        # shared alias -> same entity
    ("stephen green", "Q-SG", "PERSON"),
    ("montcourt", "Q-MC", "PERSON"),
    ("paris", "Q-PARIS", "CITY"),
    ("chairman", "Q-CHAIR", "TITLE"),
]


@pytest.fixture(scope="module")
def annotated(spark):
    transcripts = synth_transcripts(spark, n_convs=3, turns_per_conv=3)
    return annotate_mentions(spark, transcripts, FIXTURE_NER_LEXICON).cache()


def test_link_entities_groups_and_sorts(spark, annotated):
    alias_df = make_alias_df(spark, ALIASES)
    linked = link_entities(annotated, alias_df)
    # a turn with fixture sentence 0: Douglas Flint + chairman + Stephen Green
    row = (
        linked.filter(linked.text.startswith("At the same time"))
        .select("ents")
        .first()
    )
    ents = row.ents
    assert len(ents) == 3
    # entities sorted by first mention char offset; Douglas Flint first
    assert ents[0].ref_ids["kb"] == "Q-DF"
    assert ents[0].label == "PERSON"
    assert ents[0].mentions_indices == sorted(ents[0].mentions_indices)
    kb_ids = [e.ref_ids["kb"] for e in ents]
    assert kb_ids == ["Q-DF", "Q-CHAIR", "Q-SG"]


def test_unlinked_turns_get_empty_ents(spark, annotated):
    alias_df = make_alias_df(spark, [("nonexistent", "Q-X", "PERSON")])
    linked = link_entities(annotated, alias_df)
    assert linked.filter("size(ents) != 0").count() == 0
    assert linked.count() == annotated.count()


def test_connected_components_merges_transitively(spark):
    edges = spark.createDataFrame(
        [("a", "k1"), ("b", "k1"), ("b", "k2"), ("c", "k2"), ("x", "k9")],
        "src string, dst string",
    )
    comp = {r.node: r.component for r in connected_components(edges).collect()}
    # a-k1-b-k2-c one component; x-k9 another
    assert comp["a"] == comp["b"] == comp["c"] == comp["k1"] == comp["k2"]
    assert comp["x"] == comp["k9"]
    assert comp["a"] != comp["x"]
    # deterministic: min node id
    assert comp["a"] == "a"


def test_canonicalize_shared_alias(spark, annotated):
    alias_df = make_alias_df(spark, ALIASES)
    links = linked_mentions(annotated, alias_df)
    mapping = {
        (r.ment_norm, r.ment_label): r.canonical_id
        for r in canonicalize(links).collect()
    }
    # "douglas flint" and "flint" share Q-DF -> same canonical id
    assert mapping[("douglas flint", "PERSON")] == mapping.get(
        ("flint", "PERSON"), mapping[("douglas flint", "PERSON")]
    )
    # montcourt and paris differ
    assert mapping[("montcourt", "PERSON")] != mapping[("paris", "CITY")]


def test_full_dag_and_resume(spark, tmp_path):
    out_dir = str(tmp_path / "kg")
    transcripts = synth_transcripts(spark, n_convs=4, turns_per_conv=2)
    result = run_kg_pipeline(
        spark,
        transcripts,
        out_dir,
        ner_lexicon=FIXTURE_NER_LEXICON,
        rc_labels=FIXTURE_RC_LABELS,
        rc_rule_map=FIXTURE_RC_RULES,
        aliases=ALIASES,
    )
    n_triples = result["triples"].count()
    n_edges = result["edges"].count()
    n_nodes = result["nodes"].count()
    assert n_triples > 0
    assert n_edges > 0
    assert n_nodes > 0
    # edges reference canonical ids, and merged aliases share node ids
    edge_row = result["edges"].first()
    assert edge_row.subj_id is not None

    # lineage written per stage with per-partition counts
    stages = {record["stage"] for record in result["lineage"]}
    assert stages == {
        "annotated",
        "triples",
        "links",
        "canonical_map",
        "nodes",
        "edges",
        "pair_overflow_metrics",
    }
    triples_lineage = next(
        r for r in result["lineage"] if r["stage"] == "triples"
    )
    assert triples_lineage["n_rows"] == n_triples
    assert sum(triples_lineage["partition_rows"].values()) == n_triples

    # RESUME: simulate failure after 'triples' by invalidating downstream
    manager = CheckpointManager(spark, out_dir)
    for stage in ["links", "canonical_map", "nodes", "edges"]:
        manager.invalidate(stage)
    import time

    before = os.path.getmtime(os.path.join(out_dir, "triples"))
    time.sleep(0.05)
    result2 = run_kg_pipeline(
        spark,
        transcripts,
        out_dir,
        ner_lexicon=FIXTURE_NER_LEXICON,
        rc_labels=FIXTURE_RC_LABELS,
        rc_rule_map=FIXTURE_RC_RULES,
        aliases=ALIASES,
    )
    # completed stage untouched (skipped), rebuilt stages identical, no dups
    assert os.path.getmtime(os.path.join(out_dir, "triples")) == before
    assert result2["triples"].count() == n_triples
    assert (
        result2["triples"]
        .groupBy("conv_id", "turn_idx", "head_idx", "tail_idx")
        .count()
        .filter("count > 1")
        .count()
        == 0
    )
    assert result2["edges"].count() == n_edges


def test_pipeline_annotates_once_per_cold_run(spark, tmp_path, monkeypatch):
    """Round-6 fix for the round-5 plan defect: triples, links, and
    pair-overflow metrics all consume ONE materialized ``annotated``
    stage, so the NER model stage is built (and executed, via the
    stage's eager materialization) exactly once per cold pipeline run —
    not once per consuming builder. On resume it is built zero times."""
    import sherlock_spark.plans.pipeline as pipeline_mod

    calls: list[int] = []
    real = pipeline_mod.annotate_mentions

    def counting_annotate(spark_, transcripts_, lexicon=None, **kwargs):
        calls.append(1)
        return real(spark_, transcripts_, lexicon, **kwargs)

    monkeypatch.setattr(pipeline_mod, "annotate_mentions", counting_annotate)
    transcripts = synth_transcripts(spark, n_convs=2, turns_per_conv=2)
    out_dir = str(tmp_path / "kg")
    result = run_kg_pipeline(
        spark,
        transcripts,
        out_dir,
        ner_lexicon=FIXTURE_NER_LEXICON,
        rc_labels=FIXTURE_RC_LABELS,
        rc_rule_map=FIXTURE_RC_RULES,
        aliases=ALIASES,
    )
    assert len(calls) == 1
    ann = next(r for r in result["lineage"] if r["stage"] == "annotated")
    assert ann["n_rows"] == transcripts.count()
    # resume: every stage complete -> the NER stage is never rebuilt
    calls.clear()
    run_kg_pipeline(
        spark,
        transcripts,
        out_dir,
        ner_lexicon=FIXTURE_NER_LEXICON,
        rc_labels=FIXTURE_RC_LABELS,
        rc_rule_map=FIXTURE_RC_RULES,
        aliases=ALIASES,
    )
    assert len(calls) == 0


@pytest.mark.parametrize("join_order", [["Q-J2", "Q-J1"], ["Q-J1", "Q-J2"]])
def test_pipeline_keeps_every_kb_id_of_a_multi_kb_alias(spark, tmp_path, join_order):
    """An alias with two KB ids links its mention to both, in either
    alias-row order: the pipeline's links equal ``linked_mentions`` and
    its canonical map merges ``merge`` (Q-J2 only) with ``join``."""
    aliases = [("join", kb, "OPERATOR") for kb in join_order]
    aliases.append(("merge", "Q-J2", "OPERATOR"))
    transcripts = spark.createDataFrame(
        [("c0", 0, "spark will join the table"), ("c1", 0, "merge the stream batch")],
        "conv_id string, turn_idx int, text string",
    )
    result = run_kg_pipeline(
        spark,
        transcripts,
        str(tmp_path / "kg"),
        ner_lexicon=DEFAULT_NER_LEXICON,
        aliases=aliases,
    )
    expected_links = linked_mentions(result["annotated"], make_alias_df(spark, aliases))
    links = result["links"].select(*expected_links.columns)
    assert sorted(links.collect()) == sorted(expected_links.collect())
    assert links.count() == 7

    expected_map = canonicalize(expected_links)
    canonical_map = result["canonical_map"].select(*expected_map.columns)
    assert sorted(canonical_map.collect()) == sorted(expected_map.collect())
    mapping = {r.ment_norm: r.canonical_id for r in canonical_map.collect()}
    assert mapping["merge"] == mapping["join"] == "a:OPERATOR:join"

"""Round-3 seams: RC from_pretrained path, pluggable media decoder,
stage registry, and per-dataset normalizer defaults."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from sherlock_spark.functions import multimodal
from sherlock_spark.model_stub import (
    DEFAULT_RC_LABELS,
    FIXTURE_NER_LEXICON,
    FIXTURE_RC_LABELS,
    FIXTURE_RC_RULES,
    StubRcModel,
)
from sherlock_spark.operators.features import (
    distribute_pretrained,
    rc_classify_from_pretrained,
    save_rc_pretrained_dir,
)
from sherlock_spark.udfcache import clear_session_caches, config_hash, stage


# -- RC pretrained seam ----------------------------------------------------


def test_rc_pretrained_seam_one_load_per_worker(spark, tmp_path):
    """RC mirror of the NER seam: directory -> SparkFiles -> per-worker
    singleton; one bundle load even across many tasks; predictions equal
    the broadcast stub path."""
    model_dir = str(tmp_path / "rc_model")
    rng = np.random.default_rng(11)
    save_rc_pretrained_dir(
        model_dir,
        FIXTURE_RC_LABELS,
        rule_map=FIXTURE_RC_RULES,
        weights={"head": rng.normal(size=(1024, 512)).astype(np.float32)},
    )

    pairs = spark.createDataFrame(
        [
            ("PERSON", "TITLE", "Douglas Flint", "chairman"),
            ("PERSON", "CITY", "Montcourt", "PARIS"),
            ("PERSON", "PERSON", "Douglas Flint", "Stephen Green"),
        ]
        * 16,
        "subj_type string, obj_type string, subj_text string, obj_text string",
    ).repartition(8)  # more tasks than workers -> load counter proves reuse

    out = rc_classify_from_pretrained(spark, pairs, model_dir).collect()
    assert out and max(r.model_loads for r in out) == 1

    stub = StubRcModel(FIXTURE_RC_LABELS, FIXTURE_RC_RULES)
    for row in out:
        logits = stub.forward_pairs(
            [(row.subj_type, row.obj_type, row.subj_text, row.obj_text)]
        )
        assert row.pred == FIXTURE_RC_LABELS[int(logits.argmax(axis=1)[0])]
    preds = {(r.subj_type, r.obj_type): r.pred for r in out}
    assert preds[("PERSON", "TITLE")] == "per:title"
    assert preds[("PERSON", "PERSON")] == "no_relation"


def test_distribute_pretrained_missing_dir_raises(spark, tmp_path):
    with pytest.raises(FileNotFoundError):
        distribute_pretrained(spark, str(tmp_path / "nope"))


# -- pluggable media decoder ----------------------------------------------


def test_default_decoder_falls_back_to_stub(monkeypatch):
    """No PIL in this container -> the default decoder IS the stub."""
    assert multimodal.default_image_decoder() is multimodal._decode_image_bytes


def test_decoder_swap_point(spark, monkeypatch):
    """A 'real' decoder passed explicitly (or resolved as the default)
    replaces the stub without any other change — the in-place upgrade
    path for a cluster with PIL installed."""

    def fake_real_decoder(payload: bytes) -> np.ndarray:
        vec = np.full(4, float(len(payload or b"")) or 1.0)
        return vec / np.linalg.norm(vec)

    media = spark.createDataFrame(
        [(1, "image", None, None, None, None, bytearray(b"abcd"))],
        multimodal.MEDIA_SCHEMA,
    )
    rows = multimodal.extract_media_features(
        media, decoder=fake_real_decoder
    ).collect()
    assert len(rows[0].feature) == 4  # the fake's shape, not the stub's 16
    assert rows[0].n_bytes == 4

    # the default path resolves through default_image_decoder -> swap it
    monkeypatch.setattr(
        multimodal, "default_image_decoder", lambda: fake_real_decoder
    )
    rows = multimodal.extract_media_features(media).collect()
    assert len(rows[0].feature) == 4


def test_stub_decoder_is_unit_norm_double():
    vec = multimodal._decode_image_bytes(b"payload")
    assert vec.dtype == np.float64
    assert vec.shape == (16,)
    assert abs(float(np.linalg.norm(vec)) - 1.0) < 1e-12


# -- stage registry --------------------------------------------------------


def test_stage_builds_once_and_cuts_lineage(spark):
    calls = {"n": 0}

    def build():
        calls["n"] += 1
        return spark.range(10).select(F.col("id").alias("x"))

    key = ("test_stage", "unit")
    first = stage(spark, key, build)
    second = stage(spark, key, build)
    assert calls["n"] == 1
    assert first is second
    assert first.count() == 10


def test_config_hash_stable_and_discriminating():
    a = config_hash({"labels": ["x", "y"], "rule_map": {("A", "B"): "r"}})
    b = config_hash({"rule_map": {("A", "B"): "r"}, "labels": ["x", "y"]})
    assert a == b  # dict order-insensitive
    c = config_hash({"labels": ["x", "z"], "rule_map": {("A", "B"): "r"}})
    assert a != c


def test_memoized_udfs_make_plans_equal(spark):
    """Two constructions of the same annotate config produce the SAME
    UDF instance, so repeated query builds are plan-cache-equal — the
    property the persist/stage reuse relies on."""
    from sherlock_spark.operators.ner import ner_ments_udf

    u1 = ner_ments_udf(spark, FIXTURE_NER_LEXICON)
    u2 = ner_ments_udf(spark, FIXTURE_NER_LEXICON)
    assert u1 is u2
    u3 = ner_ments_udf(spark, {"other": "B-X"})
    assert u3 is not u1


# -- driver-contract consistency -------------------------------------------


def test_queries_and_oracles_keys_match():
    """Every queries() entry has an oracle_sql() twin and vice versa —
    the driver records a weaker rows-only check for any query missing an
    oracle, so a key drift silently downgrades the gate."""
    import __spark_entry__ as entry

    queries = entry.queries()
    oracles = entry.oracle_sql()
    assert set(queries) == set(oracles)
    assert len(queries) >= 34
    # every oracle is a non-empty SQL string mentioning a SELECT
    for name, sql in oracles.items():
        assert isinstance(sql, str) and "SELECT" in sql.upper(), name


# -- M3: AllenNLP-variant RC annotator seam --------------------------------


def test_allennlp_archive_resolution(tmp_path):
    """Reference path semantics (allennlp_annotator.py:57-66): a dir
    resolves to <dir>/model.tar.gz; a missing archive raises."""
    from sherlock_spark.operators.features import (
        resolve_allennlp_archive,
        save_allennlp_archive,
    )

    with pytest.raises(FileNotFoundError):
        resolve_allennlp_archive(str(tmp_path / "nope"))
    with pytest.raises(FileNotFoundError):
        resolve_allennlp_archive(str(tmp_path))  # dir without archive

    save_allennlp_archive(str(tmp_path), FIXTURE_RC_LABELS)
    by_dir = resolve_allennlp_archive(str(tmp_path))
    assert by_dir.endswith("model.tar.gz")
    assert resolve_allennlp_archive(by_dir) == by_dir


def test_allennlp_rc_probs_and_one_load(spark, tmp_path):
    """M3 forward emits probabilities (softmax; reference
    outputs['probs']), argmax matches the stub path, no_relation rows
    are dropped by default, and the archive loads once per worker."""
    import numpy as np

    from sherlock_spark.operators.features import (
        rc_classify_from_allennlp_archive,
        save_allennlp_archive,
    )

    archive_dir = str(tmp_path / "allennlp_model")
    rng = np.random.default_rng(3)
    save_allennlp_archive(
        archive_dir,
        FIXTURE_RC_LABELS,
        rule_map=FIXTURE_RC_RULES,
        weights={"w": rng.normal(size=(256, 128)).astype(np.float32)},
    )

    pairs = spark.createDataFrame(
        [
            ("PERSON", "TITLE", "Douglas Flint", "chairman"),
            ("PERSON", "CITY", "Montcourt", "PARIS"),
            ("PERSON", "PERSON", "Douglas Flint", "Stephen Green"),
        ]
        * 16,
        "subj_type string, obj_type string, subj_text string, obj_text string",
    ).repartition(8)

    out = rc_classify_from_allennlp_archive(
        spark, pairs, archive_dir, ignore_no_relation=True, add_logits=True
    ).collect()
    assert out and max(r.model_loads for r in out) == 1
    # ignore_no_relation drops the (PERSON, PERSON) no_relation rows
    preds = {(r.subj_type, r.obj_type): r.pred for r in out}
    assert ("PERSON", "PERSON") not in preds
    assert preds[("PERSON", "TITLE")] == "per:title"
    assert preds[("PERSON", "CITY")] == FIXTURE_RC_RULES[("PERSON", "CITY")]
    for r in out:
        total = sum(r.probs.values())
        assert abs(total - 1.0) < 1e-9  # a probability distribution
        assert max(r.probs, key=r.probs.get) == r.pred


def test_dedup_model_inputs_identical_results(spark):
    """Inference-input dedup (distinct -> forward -> join back) returns
    EXACTLY the per-pair-forward results — the model is a pure function
    of the four key fields."""
    from sherlock_spark.operators.ner import annotate_mentions
    from sherlock_spark.operators.rc import extract_triples
    from sherlock_spark.sources.transcripts import synth_transcripts_from_fixtures

    from fixture_text import IN_REPO_SENTENCES

    t = synth_transcripts_from_fixtures(
        spark, n_convs=6, turns_per_conv=10, sentences=IN_REPO_SENTENCES
    )
    ann = annotate_mentions(spark, t, FIXTURE_NER_LEXICON)
    kwargs = dict(
        entity_handling="mark_entity", max_length=None, max_mentions=16,
        ignore_no_relation=False,
    )
    base = extract_triples(
        spark, ann, FIXTURE_RC_LABELS, FIXTURE_RC_RULES, **kwargs
    )
    deduped = extract_triples(
        spark, ann, FIXTURE_RC_LABELS, FIXTURE_RC_RULES,
        dedup_model_inputs=True, **kwargs
    )
    cols = [
        "conv_id", "turn_idx", "head_idx", "tail_idx",
        "subj_text", "subj_type", "pred", "obj_text", "obj_type",
    ]
    a = sorted(map(tuple, base.select(*cols).collect()))
    b = sorted(map(tuple, deduped.select(*cols).collect()))
    assert a == b and len(a) > 0


def test_allennlp_two_archives_no_collision(spark, tmp_path):
    """Two DIFFERENT archives in one session must not collide: every
    archive ships under a path-derived name, so the second one's
    predictions come from its own rules (the constant model.tar.gz
    basename previously collided in addFile and the worker caches)."""
    from sherlock_spark.operators.features import (
        rc_classify_from_allennlp_archive,
        save_allennlp_archive,
    )

    a_dir = str(tmp_path / "model_a")
    b_dir = str(tmp_path / "model_b")
    save_allennlp_archive(
        a_dir, FIXTURE_RC_LABELS, rule_map={("PERSON", "TITLE"): "per:title"}
    )
    save_allennlp_archive(
        b_dir,
        FIXTURE_RC_LABELS,
        rule_map={("PERSON", "TITLE"): "per:parents"},
    )

    pairs = spark.createDataFrame(
        [("PERSON", "TITLE", "Douglas Flint", "chairman")] * 8,
        "subj_type string, obj_type string, subj_text string, obj_text string",
    ).repartition(4)

    out_a = rc_classify_from_allennlp_archive(spark, pairs, a_dir).collect()
    out_b = rc_classify_from_allennlp_archive(spark, pairs, b_dir).collect()
    assert {r.pred for r in out_a} == {"per:title"}
    assert {r.pred for r in out_b} == {"per:parents"}


def test_distribute_pretrained_conflicting_basename_raises(spark, tmp_path):
    """Two DIFFERENT model dirs sharing a basename must raise at the
    distribution site (Spark's actual collision error text is
    '...exists and does not match contents of...'), never silently
    serve the first model's files for the second pipeline."""
    from sherlock_spark.operators.features import (
        distribute_pretrained,
        save_rc_pretrained_dir,
    )

    a = tmp_path / "site_a" / "rc_conflict_model"
    b = tmp_path / "site_b" / "rc_conflict_model"
    save_rc_pretrained_dir(str(a), FIXTURE_RC_LABELS)
    save_rc_pretrained_dir(str(b), ["no_relation", "per:other"])

    assert distribute_pretrained(spark, str(a)) == "rc_conflict_model"
    # same path again: benign, no raise
    assert distribute_pretrained(spark, str(a)) == "rc_conflict_model"
    with pytest.raises(ValueError):
        distribute_pretrained(spark, str(b))
    # CRITICAL: the conflict must be rejected driver-side BEFORE
    # reaching sc.addFile — a rejected Spark registration poisons the
    # session's dependency fetch for every subsequent task. Prove the
    # session still runs jobs after the raise:
    assert spark.range(100).count() == 100


def test_registry_evicts_dead_session_entries(spark):
    """Entries keyed by a stopped session's applicationId are dropped on
    the next access — long-lived drivers that restart sessions must not
    accumulate dead UDF closures / checkpointed-DataFrame references."""
    from sherlock_spark import udfcache

    udfcache._STAGE_CACHE[("dead-app-123", ("x",))] = "sentinel"
    udfcache._UDF_INSTANCES[("dead-app-123", "y")] = "sentinel"

    stage(spark, ("evict-probe",), lambda: spark.range(3))
    assert ("dead-app-123", ("x",)) not in udfcache._STAGE_CACHE

    from sherlock_spark.operators.ner import ner_ments_udf

    ner_ments_udf(spark, {"probe": "B-X"})
    assert ("dead-app-123", "y") not in udfcache._UDF_INSTANCES

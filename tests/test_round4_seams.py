"""Round-4 seam tests: stale-bundle detection, the optional-import
real-model path, skew salting, and the CoNLL reader's scale shape."""

from __future__ import annotations

import json
import os
import sys
import time
import types

import numpy as np
import pytest

from sherlock_spark.model_stub import FIXTURE_RC_LABELS


# -- fake torch/transformers stack (minimal surface the real wrappers
# actually touch), installed into sys.modules per-test ------------------


class _FakeTensor:
    """numpy array behind the two torch.Tensor methods the wrappers
    call: argmax(dim=...) and tolist()."""

    def __init__(self, array):
        self.array = np.asarray(array)

    def argmax(self, dim):
        return _FakeTensor(self.array.argmax(axis=dim))

    def tolist(self):
        return self.array.tolist()


class _FakeEncoding(dict):
    """BatchEncoding stand-in: mapping of model inputs + word_ids(i).
    One subword per word with a leading CLS (None)."""

    def __init__(self, batch_words):
        super().__init__()
        self.batch_words = batch_words
        self.max_len = 1 + max(len(words) for words in batch_words)
        self["input_ids"] = _FakeTensor(np.zeros((len(batch_words), self.max_len)))

    def word_ids(self, i):
        ids = [None] + list(range(len(self.batch_words[i])))
        return ids + [None] * (self.max_len - len(ids))


class _FakeNerOutput:
    def __init__(self, logits):
        self.logits = logits


def install_fake_torch_stack(monkeypatch, calls):
    """Fake torch + transformers with exactly the surface the real
    wrappers touch. NER model: tags words ending in '!' as B-ENT;
    RC model: scores checkpoint column ``len(text) % 3`` highest.
    Every model forward appends its batch size to ``calls`` so tests
    can pin sub-batching."""
    torch = types.ModuleType("torch")

    class _NoGrad:
        def __enter__(self):
            return self

        def __exit__(self, *exc):
            return False

    torch.no_grad = _NoGrad

    class _FakeConfig:
        def __init__(self, id2label, label2id):
            self.id2label = id2label
            self.label2id = label2id

    # the wrappers call tokenizer(...) then model(**enc); **-expansion
    # flattens the encoding to its dict keys, so the tokenizer records
    # the full encoding object on the model-entry class for the fake
    # model to read back
    class _RecordingTokenizer:
        def __init__(self, entry):
            self.entry = entry

        def __call__(self, batch, is_split_into_words=False, padding=True,
                     truncation=True, return_tensors="pt"):
            if is_split_into_words:
                enc = _FakeEncoding(batch)
            else:
                enc = _FakeEncoding([text.split(" ") for text in batch])
                enc.texts = batch
            self.entry.last_enc = enc
            return enc

    class _NerEntry:
        @staticmethod
        def from_pretrained(local_dir):
            class _Model:
                config = _FakeConfig(
                    {0: "O", 1: "B-ENT"}, {"O": 0, "B-ENT": 1}
                )

                def eval(self):
                    return self

                def __call__(self, **kwargs):
                    enc = _NerEntry.last_enc
                    calls.append(len(enc.batch_words))
                    logits = np.zeros((len(enc.batch_words), enc.max_len, 2))
                    for i, words in enumerate(enc.batch_words):
                        for j, word in enumerate(words):
                            if word.endswith("!"):
                                logits[i, 1 + j, 1] = 10.0
                    return _FakeNerOutput(_FakeTensor(logits))

            return _Model()

    class _RcEntry:
        @staticmethod
        def from_pretrained(local_dir):
            class _Model:
                config = _FakeConfig(
                    {0: "no_relation", 1: "per:title", 2: "per:children"},
                    {"no_relation": 0, "per:title": 1, "per:children": 2},
                )

                def eval(self):
                    return self

                def __call__(self, **kwargs):
                    enc = _RcEntry.last_enc
                    calls.append(len(enc.texts))
                    logits = np.full((len(enc.texts), 3), -5.0)
                    for i, text in enumerate(enc.texts):
                        logits[i, len(text) % 3] = 5.0
                    return _FakeNerOutput(_FakeTensor(logits))

            return _Model()

    # AutoTokenizer serves both wrappers; route by a marker file the
    # test writes into RC checkpoints
    class _AutoTokenizer:
        @staticmethod
        def from_pretrained(local_dir):
            if os.path.exists(os.path.join(local_dir, "rc_marker")):
                return _RecordingTokenizer(_RcEntry)
            return _RecordingTokenizer(_NerEntry)

    transformers = types.ModuleType("transformers")
    transformers.AutoTokenizer = _AutoTokenizer
    transformers.AutoModelForTokenClassification = _NerEntry
    transformers.AutoModelForSequenceClassification = _RcEntry

    monkeypatch.setitem(sys.modules, "torch", torch)
    monkeypatch.setitem(sys.modules, "transformers", transformers)


def _write_hf_checkpoint(path, rc=False):
    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, "config.json"), "w") as handle:
        json.dump({"model_type": "bert"}, handle)
    open(os.path.join(path, "model.safetensors"), "wb").close()
    if rc:
        open(os.path.join(path, "rc_marker"), "w").close()


def test_real_ner_backend_selected_and_subbatched(monkeypatch, tmp_path):
    """With torch importable AND a real checkpoint present, the NER
    backend is the real wrapper: same predict_tags plumbing, forwards
    sub-batched at 16 (reference transformers_annotator.py:31,60-61),
    word-aligned tags from the checkpoint's own id2label."""
    calls: list[int] = []
    install_fake_torch_stack(monkeypatch, calls)
    from sherlock_spark.operators.features import _build_ner_model
    from sherlock_spark.operators.real_model import HfNerModel

    ckpt = tmp_path / "ner_ckpt"
    _write_hf_checkpoint(str(ckpt))
    model = _build_ner_model(str(ckpt))
    assert isinstance(model, HfNerModel)

    # 35 sentences -> forwards of 16, 16, 3
    sentences = [["hello", "world!"] for _ in range(35)]
    tags = model.predict_tags(sentences)
    assert calls == [16, 16, 3]
    assert tags == [["O", "B-ENT"]] * 35  # stub-identical output shape


def test_real_rc_backend_selected_and_label_ordered(monkeypatch, tmp_path):
    """RC real backend: logits re-ordered to the BUNDLE's label
    vocabulary via the checkpoint's label2id, sub-batched at 16,
    numpy output shape identical to the stub's forward_pairs."""
    calls: list[int] = []
    install_fake_torch_stack(monkeypatch, calls)
    from sherlock_spark.operators.features import _build_rc_model
    from sherlock_spark.operators.real_model import HfRcModel

    ckpt = tmp_path / "rc_ckpt"
    _write_hf_checkpoint(str(ckpt), rc=True)
    # bundle orders labels differently from the checkpoint
    bundle_labels = ["per:children", "no_relation", "per:title"]
    model = _build_rc_model(str(ckpt), bundle_labels)
    assert isinstance(model, HfRcModel)
    assert model.labels == bundle_labels

    pairs = [("PERSON", "TITLE", "a", "b")] * 20
    logits = model.forward_pairs(pairs)
    assert calls == [16, 4]
    assert logits.shape == (20, 3)
    # fake scores column len(text) % 3 in CHECKPOINT order; text is
    # "PERSON a [SEP] TITLE b" (22 chars) -> checkpoint col 1 =
    # per:title -> bundle index 2
    assert (logits.argmax(axis=1) == 2).all()


def test_rc_partial_label2id_falls_back_to_identity(monkeypatch, tmp_path):
    """A checkpoint label2id that does not cover the FULL bundle
    vocabulary must not be used at all — a per-label positional
    fallback could route two bundle labels to one logit column and
    silently decode wrong relations. Identity ordering instead."""
    calls: list[int] = []
    install_fake_torch_stack(monkeypatch, calls)
    from sherlock_spark.operators.real_model import HfRcModel

    ckpt = tmp_path / "rc_partial_ckpt"
    _write_hf_checkpoint(str(ckpt), rc=True)
    # fake checkpoint's label2id covers no_relation/per:title/
    # per:children; 'made:up' is not in it -> identity
    model = HfRcModel(str(ckpt), ["per:title", "made:up"])
    assert model._col_of == [0, 1]
    # full coverage -> checkpoint mapping applies
    model = HfRcModel(str(ckpt), ["per:children", "no_relation", "per:title"])
    assert model._col_of == [2, 0, 1]


def test_stub_fallback_without_torch(monkeypatch, tmp_path):
    """No torch -> stub, even with a real checkpoint on disk; torch
    present but NO checkpoint -> stub too. Output plumbing identical."""
    from sherlock_spark.model_stub import StubNerModel, StubRcModel
    from sherlock_spark.operators.features import (
        _build_ner_model,
        _build_rc_model,
        save_pretrained_dir,
        save_rc_pretrained_dir,
    )

    # (a) checkpoint present, torch import blocked
    ckpt = tmp_path / "blocked_ckpt"
    _write_hf_checkpoint(str(ckpt))
    with open(ckpt / "ner_lexicon.json", "w") as handle:
        json.dump({"spark": "B-ENGINE"}, handle)
    monkeypatch.setitem(sys.modules, "torch", None)  # import -> ImportError
    model = _build_ner_model(str(ckpt))
    assert isinstance(model, StubNerModel)
    assert model.predict_tags([["spark", "joins"]]) == [["B-ENGINE", "O"]]

    # (b) torch importable (fake), but stub bundle has no checkpoint
    calls: list[int] = []
    install_fake_torch_stack(monkeypatch, calls)
    stub_dir = tmp_path / "stub_bundle"
    save_pretrained_dir(str(stub_dir), {"spark": "B-ENGINE"}, ["O", "B-ENGINE"])
    assert isinstance(_build_ner_model(str(stub_dir)), StubNerModel)
    rc_dir = tmp_path / "stub_rc_bundle"
    save_rc_pretrained_dir(str(rc_dir), FIXTURE_RC_LABELS)
    assert isinstance(
        _build_rc_model(str(rc_dir), FIXTURE_RC_LABELS), StubRcModel
    )
    assert calls == []  # no fake forward ever ran


CONLL_FIXTURE = "/root/reference/tests/fixtures/datasets/conll.txt"


def test_salt_by_conv_spreads_mega_conversation(spark):
    """SURVEY §4 skew safeguard: one mega-conversation among uniform
    ones must not hot-spot a single task. With chunked salting
    (salt = turn_idx // chunk) no partition holds more than ~2x the
    mean row count, while unsalted conv_id partitioning necessarily
    pins the whole hot conversation on one task."""
    from pyspark.sql import functions as F

    from fixture_text import synth_transcripts
    from sherlock_spark.plans.pipeline import salt_by_conv

    n_parts = 8
    transcripts = synth_transcripts(
        spark, n_convs=20, turns_per_conv=50, skew_conv_turns=20_000
    )
    total = 20 * 50 + 20_000
    mean = total / n_parts

    def partition_counts(df):
        rows = (
            df.groupBy(F.spark_partition_id().alias("pid"))
            .count()
            .collect()
        )
        return [row["count"] for row in rows]

    # unsalted: the hot conversation's 20k rows land on ONE task
    unsalted = transcripts.repartition(n_parts, F.col("conv_id"))
    assert max(partition_counts(unsalted)) >= 20_000

    # salted: bounded chunks spread the hot conversation
    salted = salt_by_conv(
        transcripts, chunk_turns=256, num_partitions=n_parts
    )
    counts = partition_counts(salted)
    assert max(counts) <= 2 * mean, counts
    # row-preserving: salting is a repartition, never a filter
    assert sum(counts) == total

    # conversations at or under chunk_turns keep a single salt value —
    # normal conversations are not fragmented by the safeguard
    one_salt = (
        transcripts.filter(F.col("conv_id") != "conv-hot")
        .select(
            "conv_id",
            F.floor(F.col("turn_idx") / F.lit(256)).alias("salt"),
        )
        .groupBy("conv_id")
        .agg(F.countDistinct("salt").alias("n_salts"))
        .agg(F.max("n_salts").alias("m"))
        .collect()[0]["m"]
    )
    assert one_salt == 1


def test_conll_reader_scale_shape(spark, tmp_path):
    """The CoNLL reader must parallelize per input file: no
    single-partition global window, no row-at-a-time Python UDF
    (the round-3 S3 `weak` finding). A directory of two files reads as
    two independent units with per-file guid numbering."""
    import shutil

    from sherlock_spark.sources.conll import read_conll2003

    # plan shape on the reference fixture
    df = read_conll2003(spark, CONLL_FIXTURE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange SinglePartition" not in plan
    assert "BatchEvalPython" not in plan  # IOB1 decode is Arrow-batched
    assert "ArrowEvalPython" in plan

    # multi-file directory: each file is its own unit, guids restart
    corpus = tmp_path / "conll_corpus"
    corpus.mkdir()
    shutil.copyfile(CONLL_FIXTURE, corpus / "shard_a.txt")
    shutil.copyfile(CONLL_FIXTURE, corpus / "shard_b.txt")
    docs = read_conll2003(spark, str(corpus)).collect()
    assert len(docs) == 16  # 8 sentences per shard
    by_prefix = {}
    for doc in docs:
        prefix, n = doc.guid.rsplit("-", 1)
        by_prefix.setdefault(prefix, []).append(int(n))
    assert set(by_prefix) == {"shard_a.txt", "shard_b.txt"}
    assert sorted(by_prefix["shard_a.txt"]) == list(range(1, 9))
    assert sorted(by_prefix["shard_b.txt"]) == list(range(1, 9))
    # per-file content identical to the single-file read
    single = {
        doc.guid.split("-")[-1]: (doc.text, [tuple(m) for m in doc.ments])
        for doc in read_conll2003(spark, CONLL_FIXTURE).collect()
    }
    for doc in docs:
        n = doc.guid.rsplit("-", 1)[1]
        assert (doc.text, [tuple(m) for m in doc.ments]) == single[n]


def test_duplicated_substring_spans_positions(spark):
    """Span-level dedup: shared 8-gram positions reported per document;
    unique text contributes nothing; short documents fall back to the
    whole-text shingle like word_shingles."""
    from sherlock_spark.functions.dedup import duplicated_substring_spans

    boiler = "the quick brown fox jumps over the lazy"
    rows = [
        (1, f"{boiler} dog and then some unique tail one"),
        (2, f"prefix words here {boiler} dog completely different"),
        (3, "entirely unrelated text with no shared shingles at all ok"),
        (4, "short shared"),
        (5, "short shared"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    spans = {
        (row["doc_id"], row["pos"]): row["n_docs"]
        for row in duplicated_substring_spans(docs, n=8).collect()
    }
    # doc 1 shares the boilerplate 8-gram at pos 0 (and the shifted
    # "...lazy dog" 8-gram at pos 1); doc 2 carries them at offset 3
    assert spans[(1, 0)] == 2 and spans[(2, 3)] == 2
    assert spans[(1, 1)] == 2 and spans[(2, 4)] == 2
    # the short exact-duplicate pair surfaces via the whole-text shingle
    assert spans[(4, 0)] == 2 and spans[(5, 0)] == 2
    # unique docs contribute no spans
    assert not any(doc_id == 3 for doc_id, _pos in spans)


def test_ivf_kmeans_refinement_separates_clusters(spark):
    """Lloyd refinement (tests-gated: no SQL twin): on two obvious
    clusters, 3 iterations from the deterministic quantizer must move
    the centroids to the cluster means and assign every vector to its
    own cluster's centroid; probing then returns only same-cluster
    neighbors."""
    from pyspark.sql import functions as F

    from sherlock_spark.functions.similarity import (
        ivf_assign,
        ivf_centroids_kmeans,
        ivf_topk_cosine,
    )

    # 40 vectors, dim 4: ids 0..19 near e0, ids 20..39 near e1
    base = spark.range(40).select(
        F.col("id").cast("long").alias("vec_id"),
        F.array(
            F.when(F.col("id") < 20, 1.0).otherwise(0.05)
            + (F.col("id") % 5) * 0.01,
            F.when(F.col("id") < 20, 0.05).otherwise(1.0),
            F.lit(0.01) * (F.col("id") % 3),
            F.lit(0.02),
        ).alias("embedding"),
    )
    centroids = ivf_centroids_kmeans(
        base, n_centroids=2, iterations=3
    )
    assert centroids.count() == 2
    assigned = ivf_assign(base, centroids, nprobe=1)
    # every vector lands with its own cluster: exactly 2 cells of 20
    cells = sorted(
        row["n"]
        for row in assigned.groupBy("centroid_id")
        .agg(F.count("*").alias("n"))
        .collect()
    )
    assert cells == [20, 20]
    # same-cluster purity of probed neighbors (nprobe=1)
    topk = ivf_topk_cosine(
        base,
        base.filter(F.col("vec_id").isin(0, 25)),
        k=5,
        nprobe=1,
        centroids=centroids,
    ).collect()
    for row in topk:
        same = (row["query_id"] < 20) == (row["neighbor_id"] < 20)
        assert same, row


def test_iceberg_detection_and_fallback(spark, tmp_path):
    """The checkpoint manager routes stages through Iceberg only when a
    catalog is BOTH configured and loadable; this sandbox has no Iceberg
    jar, so detection must return None (even with a configured catalog)
    and the manager must take the parquet path."""
    from sherlock_spark.plans.checkpoint import (
        CheckpointManager,
        iceberg_catalog,
    )

    # nothing configured: no catalog
    assert iceberg_catalog(spark) is None

    # configured but jar absent: classpath check rejects it
    spark.conf.set(
        "spark.sql.catalog.ice_test",
        "org.apache.iceberg.spark.SparkCatalog",
    )
    try:
        assert iceberg_catalog(spark) is None
        manager = CheckpointManager(spark, str(tmp_path / "ckpt"))
        assert manager.catalog is None  # parquet fallback
        out = manager.run_stage(
            "s1", lambda: spark.range(5).toDF("id"), dedup_keys=["id"]
        )
        assert out.count() == 5
        assert manager.lineage("s1")["n_rows"] == 5
    finally:
        spark.conf.unset("spark.sql.catalog.ice_test")


def test_iceberg_stage_roundtrip_if_runtime_present(spark, tmp_path):
    """Exercises the real MERGE INTO stage path — runs only on a
    cluster with the Iceberg runtime jar (skipped here)."""
    from sherlock_spark.plans.checkpoint import (
        CheckpointManager,
        iceberg_catalog,
    )

    catalog = iceberg_catalog(spark)
    if catalog is None:
        pytest.skip("no usable Iceberg catalog in this environment")
    manager = CheckpointManager(spark, str(tmp_path / "ckpt"))
    assert manager.catalog == catalog
    first = manager.run_stage(
        "ice_stage", lambda: spark.range(10).toDF("id"), dedup_keys=["id"]
    )
    assert first.count() == 10
    # idempotent re-run after invalidating the completion marker only:
    # MERGE must not duplicate rows
    os.remove(manager._lineage_path("ice_stage"))
    again = manager.run_stage(
        "ice_stage", lambda: spark.range(10).toDF("id"), dedup_keys=["id"]
    )
    assert again.count() == 10
    manager.invalidate("ice_stage")


def test_distribute_pretrained_retrained_in_place_raises(spark, tmp_path):
    """A model dir RETRAINED IN PLACE (same path, new content) must not
    short-circuit to the stale shipped bundle — executors resolve
    SparkFiles by name and would silently serve the first-shipped
    weights. The content digest makes this loud, AND the raise happens
    BEFORE sc.addFile: mutating an already-registered path breaks
    Spark's own dependency fetch for every later task ("exists and does
    not match contents", observed empirically), so the prior
    registration is simulated registry-side here instead of poisoning
    the shared test session with a real addFile + mutation."""
    import os

    from sherlock_spark.operators.features import (
        _DISTRIBUTED,
        _dir_digest,
        distribute_pretrained,
        save_rc_pretrained_dir,
    )

    model_dir = tmp_path / "rc_retrain_model"
    save_rc_pretrained_dir(str(model_dir), FIXTURE_RC_LABELS)
    norm = os.path.abspath(str(model_dir))

    key = (spark.sparkContext.applicationId, "rc_retrain_model")
    _DISTRIBUTED[key] = (norm, _dir_digest(norm))
    try:
        # unchanged content: benign short-circuit, addFile never reached
        assert (
            distribute_pretrained(spark, str(model_dir))
            == "rc_retrain_model"
        )

        # retrain in place: rewrite the vocab (clock bumped so the
        # stat-based digest must move even at coarse mtime resolution)
        time.sleep(0.01)
        save_rc_pretrained_dir(str(model_dir), ["no_relation", "per:other"])
        with pytest.raises(ValueError, match="content has changed"):
            distribute_pretrained(spark, str(model_dir))
        # the raise happened driver-side, before sc.addFile — session
        # alive and the poisonous registration never reached Spark
        assert spark.range(10).count() == 10
    finally:
        _DISTRIBUTED.pop(key, None)

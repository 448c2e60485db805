"""O10 NER feature conversion + K4 persistence + the pretrained seam.

Mirrors reference ``tests/feature_converters/token_classification_test.py``:
label-map size (``:25-30``), -100 subword alignment (``:87-99``),
truncation (``:102-146``), save/load round-trip (``:149-167``); plus the
SparkFiles fat-weights distribution test the reference cannot have
(single-process there).
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from fixture_text import synth_transcripts
from sherlock_spark.model_stub import FIXTURE_NER_LEXICON
from sherlock_spark.operators.features import (
    ner_annotate_from_pretrained,
    save_pretrained_dir,
    with_ner_features,
)
from sherlock_spark.operators.ner import annotate_mentions
from sherlock_spark.sources import read_tacred, tacred_labels
from sherlock_spark.text.bert_like import BertLikeTokenizer
from sherlock_spark.text.token_clf import (
    PAD_TOKEN_LABEL_ID,
    TokenClassificationConverter,
    load_label_vocabulary,
)

TACRED_FIXTURE = "/root/reference/tests/fixtures/datasets/tacred.json"

# wordpiece vocab making some words multi-piece (greedy longest match)
SPLIT_VOCAB = {
    "chair": 0, "##man": 1, "douglas": 2, "flint": 3, "becomes": 4,
    "the": 5, "new": 6, "##s": 7, "paper": 8, ",": 9, ".": 10,
}


def test_converter_label_map(spark):
    # token_classification_test.py:25-30 — 17 NER labels on the fixture,
    # pad_token_label_id defaults to CrossEntropyLoss().ignore_index
    labels = tacred_labels(spark, TACRED_FIXTURE, task="ner")
    converter = TokenClassificationConverter(BertLikeTokenizer(), labels)
    assert converter.pad_token_label_id == PAD_TOKEN_LABEL_ID == -100
    assert len(converter.label_to_id_map) == len(labels) == 17
    assert len(converter.id_to_label_map) == len(labels)
    # sorted vocabulary (feature_converter.py:74): "O" sorts last
    assert converter.labels[-1] == "O"


def test_subword_alignment():
    # token_classification_test.py:87-99 — first subword real id, rest -100
    tok = BertLikeTokenizer(do_lower_case=True, vocab=SPLIT_VOCAB)
    labels = ["O", "B-PERSON", "I-PERSON", "B-TITLE"]
    conv = TokenClassificationConverter(tok, labels, max_length=16)
    words = ["douglas", "flint", "becomes", "chairman", "."]
    bio = ["B-PERSON", "I-PERSON", "O", "B-TITLE", "O"]
    feats = conv.words_to_features(words, bio)
    lid = conv.label_to_id_map
    pad = conv.pad_token_label_id
    # chairman -> chair ##man: real id then -100
    expected = [
        pad,  # CLS
        lid["B-PERSON"], lid["I-PERSON"], lid["O"],
        lid["B-TITLE"], pad,  # chair ##man
        lid["O"],
    ]
    assert feats["label_ids"][: len(expected)] == expected
    assert feats["truncated"] is False
    # everything after SEP is -100, lengths are max_length
    assert set(feats["label_ids"][len(expected):]) == {pad}
    for key in ("input_ids", "attention_mask", "token_type_ids", "label_ids"):
        assert len(feats[key]) == 16


def test_truncation_trims_label_ids():
    # token_classification_test.py:102-146
    tok = BertLikeTokenizer(do_lower_case=True, vocab=SPLIT_VOCAB)
    labels = ["O", "B-PERSON", "I-PERSON", "B-TITLE"]
    conv = TokenClassificationConverter(tok, labels, max_length=4)
    words = ["douglas", "flint", "becomes", "chairman", "."]
    bio = ["B-PERSON", "I-PERSON", "O", "B-TITLE", "O"]
    feats = conv.words_to_features(words, bio)
    assert feats["truncated"] is True
    lid = conv.label_to_id_map
    pad = conv.pad_token_label_id
    # [CLS] douglas flint [SEP] -> [-100, B-PERSON, I-PERSON, -100]
    assert feats["label_ids"] == [pad, lid["B-PERSON"], lid["I-PERSON"], pad]
    assert len(feats["input_ids"]) == 4


def test_save_and_load(tmp_path):
    # token_classification_test.py:149-167 + feature_converter.py:162-198
    tok = BertLikeTokenizer()
    conv = TokenClassificationConverter(
        tok, ["O", "B-X", "I-X"], max_length=7, pad_token_label_id=3
    )
    conv.save(str(tmp_path))
    assert (tmp_path / "converter_config.json").exists()
    assert load_label_vocabulary(str(tmp_path)) == conv.labels
    loaded = TokenClassificationConverter.from_pretrained(str(tmp_path), tok)
    assert loaded.max_length == 7
    assert loaded.pad_token_label_id == 3
    assert loaded.label_to_id_map == conv.label_to_id_map
    assert loaded.id_to_label_map == conv.id_to_label_map


def test_distributed_matches_local(spark):
    """O10 through Spark == the pure converter, row by row."""
    labels = tacred_labels(spark, TACRED_FIXTURE, task="ner")
    docs = read_tacred(spark, TACRED_FIXTURE).select(
        "guid",
        F.transform("tokens", lambda t: t["lemma"]).alias("words"),
        F.transform("tokens", lambda t: t["ent_type"]).alias("bio"),
    )
    out = with_ner_features(spark, docs, labels, max_length=64).collect()
    conv = TokenClassificationConverter(
        BertLikeTokenizer(do_lower_case=True), labels, max_length=64
    )
    assert len(out) == 3
    for row in out:
        local = conv.words_to_features(list(row.words), list(row.bio))
        assert list(row.features.label_ids) == local["label_ids"]
        assert list(row.features.input_ids) == local["input_ids"]
        assert row.features.truncated == local["truncated"]


def test_pretrained_seam_fat_weights(spark, tmp_path):
    """from_pretrained directory + SparkFiles distribution + one load
    per worker even across many tasks; predictions equal the broadcast
    stub path."""
    model_dir = str(tmp_path / "fat_model")
    rng = np.random.default_rng(7)
    save_pretrained_dir(
        model_dir,
        FIXTURE_NER_LEXICON,
        ["O"] + sorted({f"B-{t[2:]}" for t in FIXTURE_NER_LEXICON.values()}),
        weights={"embedding": rng.normal(size=(2048, 512)).astype(np.float32)},
    )  # ~4M params ≈ 16 MB — must travel via SparkFiles, not pickling

    transcripts = synth_transcripts(spark, n_convs=8, turns_per_conv=4)
    # many more tasks than workers -> the load counter proves reuse
    out = ner_annotate_from_pretrained(
        spark, transcripts.repartition(8), model_dir
    )
    rows = out.select("conv_id", "turn_idx", "ments", "model_loads").collect()
    assert rows and max(r.model_loads for r in rows) == 1

    expected = {
        (r.conv_id, r.turn_idx): [tuple(m) for m in r.ments]
        for r in annotate_mentions(
            spark, transcripts, FIXTURE_NER_LEXICON
        ).collect()
    }
    got = {(r.conv_id, r.turn_idx): [tuple(m) for m in r.ments] for r in rows}
    assert got == expected
    assert any(ments for ments in got.values())

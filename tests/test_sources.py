"""Spark source readers vs reference reader semantics
(tests/dataset_readers/{tacred,conll2003}_test.py parity).
"""

import json

from fixture_text import synth_transcripts, transcript_sentences
from sherlock_spark.sources import (
    read_conll2003,
    read_tacred,
    tacred_additional_tokens,
    tacred_labels,
)

TACRED_FIXTURE = "/root/reference/tests/fixtures/datasets/tacred.json"
CONLL_FIXTURE = "/root/reference/tests/fixtures/datasets/conll.txt"


def test_tacred_reader_documents(spark):
    # tacred_test.py:11-28: 3 docs, token/mention/relation structure
    docs = read_tacred(spark, TACRED_FIXTURE).orderBy("guid").collect()
    assert len(docs) == 3

    by_guid = {d.guid: d for d in docs}
    doc = by_guid["e7798fb926b9403cfcd2"]
    raw = json.load(open(TACRED_FIXTURE))[0]
    assert doc.text == " ".join(raw["token"])
    assert len(doc.tokens) == len(raw["token"])
    # char offsets slice back to the token text
    for token in doc.tokens:
        assert doc.text[token.start : token.end] == token.lemma
    # sentence covers all tokens
    assert doc.sents[0].start == 0 and doc.sents[0].end == len(raw["token"])
    # mentions: subj PERSON [8,10), obj TITLE [12,13)
    assert (doc.ments[0].start, doc.ments[0].end, doc.ments[0].label) == (8, 10, "PERSON")
    assert (doc.ments[1].start, doc.ments[1].end, doc.ments[1].label) == (12, 13, "TITLE")
    # gold relation
    assert (doc.rels[0].head_idx, doc.rels[0].tail_idx, doc.rels[0].label) == (0, 1, "per:title")
    # BIO tags with argument types inserted (tacred.py:317-346)
    ent = [t.ent_type for t in doc.tokens]
    assert ent[8] == "B-PERSON" and ent[9] == "I-PERSON" and ent[12] == "B-TITLE"


def test_tacred_inverse_relations(spark):
    # tacred_test.py:127-139
    docs = (
        read_tacred(spark, TACRED_FIXTURE, add_inverse_relations=True)
        .orderBy("guid")
        .collect()
    )
    by_guid = {d.guid: d for d in docs}
    rels = by_guid["e7798ae9c0adbcdc81e7"].rels  # per:children
    assert rels[0].label == "per:children"
    assert (rels[1].head_idx, rels[1].tail_idx, rels[1].label) == (1, 0, "per:parents")
    # per:title has no inverse -> negative label
    assert by_guid["e7798fb926b9403cfcd2"].rels[1].label == "no_relation"


def test_tacred_labels(spark):
    # tacred_test.py:31-51: negative label first; B-/I- expansion for NER
    rc = tacred_labels(spark, TACRED_FIXTURE, task="binary_rc")
    assert rc[0] == "no_relation"
    assert set(rc) == {"no_relation", "per:title", "per:children"}
    ner = tacred_labels(spark, TACRED_FIXTURE, task="ner")
    assert ner[0] == "O"
    assert "B-PERSON" in ner and "I-PERSON" in ner and "B-TITLE" in ner
    assert len(ner) == 17  # token_classification_test.py:25-30


def test_tacred_additional_tokens(spark):
    # tacred_test.py:68-85
    tokens = tacred_additional_tokens(spark, TACRED_FIXTURE)
    assert tokens == sorted(tokens)
    assert "[HEAD_START]" in tokens and "[TAIL_END]" in tokens
    assert "[HEAD=PERSON]" in tokens and "[TAIL=TITLE]" in tokens
    assert "[TAIL=CITY]" in tokens and "[TAIL=PERSON]" in tokens


def test_conll_reader(spark):
    # conll2003_test.py:13-58: 8 sentences from the fixture
    docs = read_conll2003(spark, CONLL_FIXTURE).orderBy("guid").collect()
    assert len(docs) == 8
    first = next(d for d in docs if d.guid.endswith("-1"))
    words = [t.lemma for t in first.tokens]
    assert words == ["EU", "rejects", "German", "call", "to", "boycott", "British", "lamb", "."]
    assert first.text == " ".join(words)
    ments = [(m.start, m.end, m.label) for m in first.ments]
    assert ments == [(0, 1, "ORG"), (2, 3, "MISC"), (6, 7, "MISC")]
    # multi-token IOB1 mention: "Peter Blackburn"
    second = next(d for d in docs if d.guid.endswith("-2"))
    assert [(m.start, m.end, m.label) for m in second.ments] == [(0, 2, "PER")]


def test_synth_transcripts_deterministic(spark):
    df1 = synth_transcripts(spark, n_convs=5, turns_per_conv=4, skew_conv_turns=10)
    df2 = synth_transcripts(spark, n_convs=5, turns_per_conv=4, skew_conv_turns=10)
    rows1 = sorted(df1.collect(), key=lambda r: (r.conv_id, r.turn_idx))
    rows2 = sorted(df2.collect(), key=lambda r: (r.conv_id, r.turn_idx))
    assert rows1 == rows2
    assert len(rows1) == 5 * 4 + 10
    sentences = set(transcript_sentences())
    assert all(r.text in sentences for r in rows1)
    hot = [r for r in rows1 if r.conv_id == "conv-hot"]
    assert len(hot) == 10
    # per-turn text equality invariant: text is the space-join of words
    assert all(" ".join(r.text.split(" ")) == r.text for r in rows1)

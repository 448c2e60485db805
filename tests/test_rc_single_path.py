"""One RC inference path for all four entity-handling strategies.

- The pairs ``extract_triples`` keeps are exactly the pairs the
  marking_fast.py closed forms (and the reference tokenization in
  marking.py) call not cut off — the JVM-side flags are those closed
  forms as column expressions.
- The pair explode and the NER stage are NULL-safe.
- The extraction plan has the Python stages it is designed around: one
  per-turn NER UDF, one per-turn piece-count UDF when ``max_length`` is
  set, and one model UDF fed four scalar strings.
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from fixture_text import SENTENCE_0_MENTS, SENTENCE_0_WORDS
from sherlock_spark.model_stub import (
    FIXTURE_NER_LEXICON,
    FIXTURE_RC_LABELS,
    FIXTURE_RC_RULES,
)
from sherlock_spark.operators.ner import annotate_mentions
from sherlock_spark.operators.rc import (
    MODEL_KEYS,
    _pair_slots,
    enumerate_pairs,
    extract_triples,
)
from sherlock_spark.text.bert_like import BertLikeTokenizer
from sherlock_spark.text.marking import (
    ENTITY_HANDLING_STRATEGIES,
    tokenize_with_entities,
)
from sherlock_spark.text.marking_fast import marking_flags, piece_prefix_sums

ANNOTATED_SCHEMA = (
    "conv_id string, turn_idx int, words array<string>, "
    "ments array<struct<start:int,end:int,label:string>>"
)

# masks of these labels are single added tokens; every other mask splits
# (e.g. "[head=state_or_province]" is 9 pieces, "[tail=b-x]" 7)
ADDITIONAL_TOKENS = ["[HEAD=PERSON]", "[TAIL=TITLE]", "[HEAD=T1]", "[TAIL=T2]"]

SYNTH_WORDS = ["alpha", "beta-x", "the", "O'Neill", "12.5", "word", "a,b", "end."]

PARITY_TURNS = [
    ("fixture", 0, SENTENCE_0_WORDS, SENTENCE_0_MENTS),
    # overlapping, nested and identical spans; the last mention ends at
    # the end of the window and carries a punctuated label that is not
    # an added token
    (
        "synth",
        0,
        SYNTH_WORDS,
        [
            (0, 3, "T1"),
            (1, 2, "T2"),
            (2, 5, "T1"),
            (2, 5, "T2"),
            (4, 6, "b-x"),
            (6, 8, "STATE_OR_PROVINCE"),
        ],
    ),
    # the whole window is one mention; every mention ends at the window end
    ("synth", 1, SYNTH_WORDS[:3], [(0, 3, "PERSON"), (2, 3, "TITLE"), (1, 3, "b-x")]),
    # mentions at both window ends
    (
        "synth",
        2,
        SENTENCE_0_WORDS[:12],
        [(0, 1, "TITLE"), (8, 10, "PERSON"), (11, 12, "STATE_OR_PROVINCE")],
    ),
]

MAX_LENGTHS = [None, 5, 10, 18, 19, 30, 128]


def make_tokenizer():
    tokenizer = BertLikeTokenizer(do_lower_case=True)
    tokenizer.add_tokens(
        ["[HEAD_START]", "[HEAD_END]", "[TAIL_START]", "[TAIL_END]"]
        + ADDITIONAL_TOKENS
    )
    return tokenizer


def expected_kept(strategy: str, max_length) -> set[tuple]:
    """(conv_id, turn_idx, head_idx, tail_idx) of every ordered pair the
    closed forms keep; each decision is cross-checked against the
    reference tokenization."""
    tokenizer = make_tokenizer()
    n_special = tokenizer.num_special_tokens_to_add()
    kept = set()
    for conv_id, turn_idx, words, ments in PARITY_TURNS:
        prefix = piece_prefix_sums([len(tokenizer.tokenize(w)) for w in words])
        for h, (hs, he, h_label) in enumerate(ments):
            for t, (ts, te, t_label) in enumerate(ments):
                if h == t:
                    continue
                cutoff, _ = marking_flags(
                    prefix, len(words),
                    hs, he, len(tokenizer.tokenize(f"[HEAD={h_label}]".lower())),
                    ts, te, len(tokenizer.tokenize(f"[TAIL={t_label}]".lower())),
                    strategy, max_length, n_special,
                )
                _, reference_cutoff, _ = tokenize_with_entities(
                    words, ments, [(0, len(words))], h, t, tokenizer,
                    entity_handling=strategy, max_length=max_length, sent_idx=0,
                )
                assert cutoff == reference_cutoff, (conv_id, turn_idx, h, t)
                if not cutoff:
                    kept.add((conv_id, turn_idx, h, t))
    return kept


@pytest.mark.parametrize("strategy", ENTITY_HANDLING_STRATEGIES)
def test_kept_pairs_match_marking_flags(spark, strategy):
    annotated = spark.createDataFrame(PARITY_TURNS, ANNOTATED_SCHEMA)
    runs = [
        extract_triples(
            spark,
            annotated,
            FIXTURE_RC_LABELS,
            additional_tokens=ADDITIONAL_TOKENS,
            entity_handling=strategy,
            max_length=max_length,
            ignore_no_relation=False,
        ).select(
            F.lit(str(max_length)).alias("max_length"),
            "conv_id", "turn_idx", "head_idx", "tail_idx",
        )
        for max_length in MAX_LENGTHS
    ]
    union = runs[0]
    for run in runs[1:]:
        union = union.unionByName(run)
    got = {str(max_length): set() for max_length in MAX_LENGTHS}
    for row in union.collect():
        got[row["max_length"]].add(tuple(row)[1:])
    cut_somewhere = False
    for max_length in MAX_LENGTHS:
        expected = expected_kept(strategy, max_length)
        assert got[str(max_length)] == expected, (strategy, max_length)
        cut_somewhere |= expected != expected_kept(strategy, None)
    # the sweep must exercise both outcomes
    assert cut_somewhere and got["128"]


def test_null_ments_yield_no_pairs(spark):
    annotated = spark.createDataFrame(
        [
            ("c", 0, ["douglas", "flint"], None),
            ("c", 1, ["douglas", "flint"], []),
            ("c", 2, ["douglas", "chairman"], [(0, 1, "PERSON"), (1, 2, "TITLE")]),
        ],
        ANNOTATED_SCHEMA,
    )
    overflow, _capped, pairs = _pair_slots(16)
    slots = {
        r["turn_idx"]: (r["overflow"], r["n_pairs"])
        for r in annotated.select(
            "turn_idx", overflow.alias("overflow"), F.size(pairs).alias("n_pairs")
        ).collect()
    }
    assert slots == {0: (False, 0), 1: (False, 0), 2: (False, 2)}

    expected = {("c", 2, 0, 1), ("c", 2, 1, 0)}
    got = {
        (r["conv_id"], r["turn_idx"], r["head_idx"], r["tail_idx"])
        for r in enumerate_pairs(annotated).collect()
    }
    assert got == expected
    for strategy in ("mark_entity", "mask_entity"):
        triples = extract_triples(
            spark, annotated, FIXTURE_RC_LABELS, entity_handling=strategy,
            ignore_no_relation=False,
        ).collect()
        assert {
            (r["conv_id"], r["turn_idx"], r["head_idx"], r["tail_idx"])
            for r in triples
        } == expected
        assert not any(r["ments_overflow"] for r in triples)


def test_null_text_turn_yields_no_triples(spark):
    transcripts = spark.createDataFrame(
        [
            ("c", 0, None),
            ("c", 1, "douglas flint is chairman"),
            ("c", 2, ""),
        ],
        "conv_id string, turn_idx int, text string",
    )
    annotated = annotate_mentions(spark, transcripts, FIXTURE_NER_LEXICON)
    turns = {
        r["turn_idx"]: (list(r["words"]), list(r["ments"]))
        for r in annotated.select("turn_idx", "words", "ments").collect()
    }
    assert turns[0] == ([], [])
    assert turns[2] == ([""], [])
    for strategy in ("mark_entity", "mask_entity_append_text"):
        triples = extract_triples(
            spark, annotated, FIXTURE_RC_LABELS, FIXTURE_RC_RULES,
            entity_handling=strategy, max_length=128,
        ).collect()
        assert {(r["turn_idx"], r["subj_text"], r["pred"], r["obj_text"])
                for r in triples} == {(1, "douglas flint", "per:title", "chairman")}


@pytest.mark.parametrize("strategy", ENTITY_HANDLING_STRATEGIES)
def test_extraction_plan_shape(spark, strategy):
    transcripts = spark.createDataFrame(
        [("c", 0, "douglas flint is chairman in paris")],
        "conv_id string, turn_idx int, text string",
    )
    annotated = annotate_mentions(spark, transcripts, FIXTURE_NER_LEXICON)
    # NER, (piece counts,) model
    for max_length, n_python in ((None, 2), (128, 3)):
        triples = extract_triples(
            spark, annotated, FIXTURE_RC_LABELS, FIXTURE_RC_RULES,
            entity_handling=strategy, max_length=max_length,
        )
        plan = triples._jdf.queryExecution().executedPlan().toString()
        assert "BatchEvalPython" not in plan
        assert plan.count("ArrowEvalPython") == n_python, plan
        model_calls = re.findall(r"forward\(([^)]*)\)", plan)
        assert model_calls, plan
        for args in model_calls:
            assert re.sub(r"#\d+", "", args).split(", ") == MODEL_KEYS, plan
        types = {field.name: field.dataType for field in triples.schema}
        assert all(types[key] == T.StringType() for key in MODEL_KEYS)

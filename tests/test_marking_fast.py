"""Fast-path marking flags must agree with the reference-path
implementation (tokenize_with_entities) on every input: fixtures plus a
deterministic randomized sweep over mention layouts, strategies, and
truncation boundaries.
"""

import json
import random

from sherlock_spark.text.bert_like import BertLikeTokenizer
from sherlock_spark.text.marking import (
    ENTITY_HANDLING_STRATEGIES,
    tokenize_with_entities,
)
from sherlock_spark.text.marking_fast import marking_flags, piece_prefix_sums

FIXTURE = "/root/reference/tests/fixtures/datasets/tacred.json"


def make_tokenizer(extra=()):
    tok = BertLikeTokenizer(do_lower_case=True)
    tok.add_tokens(
        ["[HEAD_START]", "[HEAD_END]", "[TAIL_START]", "[TAIL_END]", *extra]
    )
    return tok


def both_paths(tok, words, head, tail, strategy, max_length):
    ments = [head, tail]
    slow_tokens, slow_cutoff, slow_trunc = tokenize_with_entities(
        words, ments, [(0, len(words))], 0, 1, tok,
        entity_handling=strategy, max_length=max_length, sent_idx=0,
    )
    prefix = piece_prefix_sums([len(tok.tokenize(w)) for w in words])
    head_mask = len(tok.tokenize(f"[HEAD={head[2]}]".lower()))
    tail_mask = len(tok.tokenize(f"[TAIL={tail[2]}]".lower()))
    fast_cutoff, fast_trunc = marking_flags(
        prefix, len(words), head[0], head[1], head_mask,
        tail[0], tail[1], tail_mask, strategy, max_length,
        tok.num_special_tokens_to_add(),
    )
    return (slow_cutoff, slow_trunc), (fast_cutoff, fast_trunc), slow_tokens


def test_fixture_sentences_all_strategies_all_lengths():
    examples = json.load(open(FIXTURE))
    extra = set()
    for ex in examples:
        extra.add(f"[HEAD={ex['subj_type']}]")
        extra.add(f"[TAIL={ex['obj_type']}]")
    tok = make_tokenizer(sorted(extra))
    for ex in examples:
        words = ex["token"]
        head = (ex["subj_start"], ex["subj_end"] + 1, ex["subj_type"])
        tail = (ex["obj_start"], ex["obj_end"] + 1, ex["obj_type"])
        for strategy in ENTITY_HANDLING_STRATEGIES:
            for max_length in [None, 5, 10, 18, 19, 25, 30, 40, 64, 512]:
                slow, fast, _ = both_paths(tok, words, head, tail, strategy, max_length)
                assert slow == fast, (ex["id"], strategy, max_length, slow, fast)


def test_randomized_layout_sweep():
    rng = random.Random(1337)
    vocab = ["alpha", "beta-x", "the", "O'Neill", "12.5", "word", "a,b", "end."]
    tok = make_tokenizer(["[HEAD=T1]", "[TAIL=T2]"])
    for trial in range(300):
        n = rng.randint(2, 14)
        words = [rng.choice(vocab) for _ in range(n)]
        # two non-overlapping mentions, possibly adjacent, possibly at
        # the very end of the window (the no-end-marker quirk)
        starts = sorted(rng.sample(range(n), 2))
        h_start = starts[0]
        h_end = rng.randint(h_start + 1, starts[1]) if starts[1] > h_start else h_start + 1
        t_start = max(starts[1], h_end)
        if t_start >= n:
            continue
        t_end = rng.randint(t_start + 1, n)
        if rng.random() < 0.5:
            head = (h_start, h_end, "T1")
            tail = (t_start, t_end, "T2")
        else:
            head = (t_start, t_end, "T1")
            tail = (h_start, h_end, "T2")
        strategy = rng.choice(ENTITY_HANDLING_STRATEGIES)
        max_length = rng.choice([None, 4, 8, 12, 16, 20, 24, 32, 64])
        slow, fast, tokens = both_paths(tok, words, head, tail, strategy, max_length)
        assert slow == fast, (
            trial, words, head, tail, strategy, max_length, slow, fast, tokens
        )


def test_full_length_matches_slow_tokens():
    """The fast path's 'truncated' compares the full marked length —
    cross-check the implied full length against the slow path's actual
    token sequence for untruncated cases.
    """
    tok = make_tokenizer(["[HEAD=PERSON]", "[TAIL=TITLE]"])
    words = ["Chief", "Officer", "Douglas", "Flint", "became", "chairman", "."]
    head = (2, 4, "PERSON")
    tail = (5, 6, "TITLE")
    for strategy in ENTITY_HANDLING_STRATEGIES:
        tokens, cutoff, trunc = tokenize_with_entities(
            words, [head, tail], [(0, len(words))], 0, 1, tok,
            entity_handling=strategy, max_length=None, sent_idx=0,
        )
        # boundary where full length exactly fits: no truncation
        exact = len(tokens) + tok.num_special_tokens_to_add()
        slow, fast, _ = both_paths(tok, words, head, tail, strategy, exact)
        assert slow == fast
        assert fast[1] is False  # fits exactly -> not truncated
        # one less -> truncated on both paths
        slow2, fast2, _ = both_paths(tok, words, head, tail, strategy, exact - 1)
        assert slow2 == fast2


def test_overlapping_mentions_parity():
    """Overlapping head/tail spans (possible on TACRED-style data): the
    reference's if/elif assigns overlap tokens
    to head only — the closed forms must clip the union once, not
    subtract each span independently.
    """
    rng = random.Random(4242)
    vocab = ["alpha", "beta-x", "the", "O'Neill", "12.5", "word", "a,b", "end."]
    tok = make_tokenizer(["[HEAD=T1]", "[TAIL=T2]"])
    for trial in range(300):
        n = rng.randint(2, 12)
        words = [rng.choice(vocab) for _ in range(n)]
        # arbitrary, potentially overlapping / nested / identical spans
        h_start = rng.randint(0, n - 1)
        h_end = rng.randint(h_start + 1, n)
        t_start = rng.randint(0, n - 1)
        t_end = rng.randint(t_start + 1, n)
        head = (h_start, h_end, "T1")
        tail = (t_start, t_end, "T2")
        strategy = rng.choice(ENTITY_HANDLING_STRATEGIES)
        max_length = rng.choice([None, 4, 8, 12, 16, 20, 24, 32, 64])
        slow, fast, tokens = both_paths(tok, words, head, tail, strategy, max_length)
        assert slow == fast, (
            trial, words, head, tail, strategy, max_length, slow, fast, tokens
        )

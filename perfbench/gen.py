"""Seeded input generators for the KG-pipeline benchmark.

Pure Python plus pyarrow: no Spark. Each workload is a function of its
seed only, so the same seed always yields byte-identical inputs, and the
program under test sees nothing but the parquet files written here (plus
the lexicon and alias table it is handed as arguments).

Every turn satisfies the transcript invariant the program relies on:
``text`` is the single-space join of its tokens. Entity words are all
lowercase ASCII letters and tagged ``B-<TYPE>`` only, so every mention is
one token wide and every word is one subword piece.
"""

from __future__ import annotations

import datetime
import os
import random
import statistics
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq

LETTERS = "abcdefghijklmnopqrstuvwxyz"
MAX_MENTIONS = 16  # run_kg_pipeline's default cap; pairs beyond it are counted
BASE_TS = datetime.datetime(2024, 1, 1)

TRANSCRIPT_SCHEMA = pa.schema(
    [
        pa.field("conv_id", pa.string(), nullable=False),
        pa.field("turn_idx", pa.int32(), nullable=False),
        pa.field("role", pa.string()),
        pa.field("text", pa.string(), nullable=False),
        pa.field("tool", pa.string()),
        pa.field("ts", pa.timestamp("us")),
    ]
)


@dataclass
class Workload:
    """One workload's generated inputs."""

    name: str
    seed: int
    lexicon: dict[str, str]  # word -> "B-<TYPE>"
    aliases: list[tuple[str, str, str]]  # (alias, kb_id, ent_type)
    turns: list[tuple[str, int, str]]  # batch table: (conv_id, turn_idx, text)
    stream_turns: list[tuple[str, int, str]]  # open-loop arrivals
    turns_per_file: int  # open loop: turns in one arriving file
    files_per_s: float  # open loop: offered file rate
    shape: dict = field(default_factory=dict)  # generator-side facts for tests

    @property
    def offered_turns_per_s(self) -> float:
        return self.turns_per_file * self.files_per_s


def _unique_words(rng: random.Random, count: int, taken: set[str]) -> list[str]:
    words: list[str] = []
    while len(words) < count:
        word = "".join(rng.choices(LETTERS, k=rng.randint(6, 10)))
        if word not in taken:
            taken.add(word)
            words.append(word)
    return words


def _turn(rng: random.Random, filler: list[str], mentions: list[str], n_filler: int) -> str:
    words = rng.choices(filler, k=n_filler)
    for mention in mentions:
        words.insert(rng.randrange(len(words) + 1), mention)
    return " ".join(words)


def dense_pairs(seed: int, n_turns: int = 1500, n_stream: int = 1200) -> Workload:
    """Small repetitive vocabulary, 8-18 mentions per turn (capped at 16
    for pairing): about 150 ordered pairs per turn over a few hundred
    distinct model keys. Pair explode, the RC model UDF and
    ``materialize_graph`` over the evidence rows dominate."""
    rng = random.Random(f"dense_pairs/{seed}")
    taken: set[str] = set()
    types = ["ENGINE", "OPERATOR", "SOURCE", "STORE"]
    entity_words = _unique_words(rng, 24, taken)
    lexicon = {word: f"B-{types[i % len(types)]}" for i, word in enumerate(entity_words)}
    # pairs of same-type words share a KB id, so canonicalization merges
    aliases = [
        (word, f"Q-D{i // 2 if i < 8 else i}", lexicon[word][2:])
        for i, word in enumerate(sorted(entity_words, key=lambda w: (lexicon[w], w)))
    ]
    filler = _unique_words(rng, 300, taken)

    def make(prefix: str, count: int) -> list[tuple[str, int, str]]:
        out = []
        for i in range(count):
            mentions = rng.choices(entity_words, k=rng.randint(8, 18))
            out.append((f"{prefix}{i // 20:06d}", i % 20, _turn(rng, filler, mentions, 14)))
        return out

    return Workload(
        name="dense_pairs",
        seed=seed,
        lexicon=lexicon,
        aliases=aliases,
        turns=make("d", n_turns),
        stream_turns=make("sd", n_stream),
        turns_per_file=4,
        files_per_s=4.0,
    )


def wide_vocab(
    seed: int,
    n_turns: int = 8000,
    n_lexicon: int = 60000,
    n_filler: int = 45000,
    n_stream: int = 2400,
) -> Workload:
    """A 105k-word vocabulary, a 60k-entry lexicon and alias table with
    alias groups sharing KB ids, 3-5 mentions per turn (few, nearly all
    distinct pairs) and one conversation with >= 100x the median turn
    count. NER's broadcast lexicon, the ``salt_by_conv`` skew split,
    linking's broadcast alias table and canonicalization of a ~32k-edge
    link graph dominate (under the 65,536-edge driver union-find
    threshold; README.md says why)."""
    rng = random.Random(f"wide_vocab/{seed}")
    taken: set[str] = set()
    types = ["PERSON", "ORG", "CITY", "PRODUCT", "EVENT", "TOOL"]
    entity_words = _unique_words(rng, n_lexicon, taken)
    lexicon = {word: f"B-{types[i % len(types)]}" for i, word in enumerate(entity_words)}
    aliases = []
    for ent_type in types:
        # alias groups of 1-3 same-type surfaces share one KB id
        words = [w for w in entity_words if lexicon[w] == f"B-{ent_type}"]
        start = 0
        while start < len(words):
            size = rng.randint(1, 3)
            kb_id = f"Q-{ent_type}-{start}"
            aliases.extend((word, kb_id, ent_type) for word in words[start : start + size])
            start += size
    filler = _unique_words(rng, n_filler, taken)

    conv_sizes: list[int] = []
    while sum(conv_sizes) < n_turns - 1200:
        conv_sizes.append(rng.randint(4, 12))
    skew_turns = 100 * int(statistics.median(conv_sizes)) + 400
    conv_sizes.insert(rng.randrange(len(conv_sizes) + 1), skew_turns)

    # mentions walk a shuffled permutation of the lexicon, so the first
    # n_lexicon mentions are all distinct surfaces
    order = entity_words[:]
    rng.shuffle(order)
    cursor = 0

    def next_mentions() -> list[str]:
        nonlocal cursor
        out = []
        for _ in range(rng.randint(3, 5)):
            out.append(order[cursor % len(order)])
            cursor += 1
        return out

    turns = []
    for conv, size in enumerate(conv_sizes):
        for turn_idx in range(size):
            turns.append((f"w{conv:06d}", turn_idx, _turn(rng, filler, next_mentions(), 10)))
    stream_turns = [
        (f"sw{i // 10:06d}", i % 10, _turn(rng, filler, next_mentions(), 10))
        for i in range(n_stream)
    ]
    return Workload(
        name="wide_vocab",
        seed=seed,
        lexicon=lexicon,
        aliases=aliases,
        turns=turns,
        stream_turns=stream_turns,
        turns_per_file=8,
        files_per_s=4.0,
        shape={
            "conv_sizes": conv_sizes,
            "skew_turns": skew_turns,
            "vocabulary": len(entity_words) + len(filler),
        },
    )


GENERATORS = {"dense_pairs": dense_pairs, "wide_vocab": wide_vocab}


def generate(name: str, seed: int) -> Workload:
    return GENERATORS[name](seed)


def write_turns(turns: list[tuple[str, int, str]], path: str, ts: datetime.datetime = BASE_TS) -> None:
    """Write turns as one parquet file at ``path`` (atomic rename)."""
    n = len(turns)
    table = pa.table(
        {
            "conv_id": [t[0] for t in turns],
            "turn_idx": pa.array([t[1] for t in turns], pa.int32()),
            "role": ["user"] * n,
            "text": [t[2] for t in turns],
            "tool": pa.array([None] * n, pa.string()),
            "ts": pa.array([ts] * n, pa.timestamp("us")),
        },
        schema=TRANSCRIPT_SCHEMA,
    )
    tmp = os.path.join(os.path.dirname(path), "." + os.path.basename(path) + ".tmp")
    pq.write_table(table, tmp)
    os.rename(tmp, path)

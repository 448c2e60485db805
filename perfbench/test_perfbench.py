"""Tests of the benchmark's own parts; no Spark session is started.

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time
from collections import Counter

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import gen  # noqa: E402
import reference  # noqa: E402
from batch_phase import STAGES, BatchPhase  # noqa: E402
from stream_phase import count_wrong_turns  # noqa: E402


@pytest.fixture(scope="module", params=sorted(gen.GENERATORS))
def workload(request):
    return gen.generate(request.param, 7)


def _inputs(w: gen.Workload):
    return (w.turns, w.stream_turns, w.lexicon, w.aliases)


def test_same_seed_same_inputs_other_seed_other_inputs(workload):
    again = gen.generate(workload.name, 7)
    other = gen.generate(workload.name, 8)
    assert _inputs(again) == _inputs(workload)
    assert other.turns != workload.turns
    assert other.lexicon != workload.lexicon


def test_parquet_bytes_repeat(tmp_path, workload):
    paths = [str(tmp_path / f"{i}.parquet") for i in range(2)]
    for path in paths:
        gen.write_turns(workload.turns[:200], path)
    with open(paths[0], "rb") as a, open(paths[1], "rb") as b:
        assert a.read() == b.read()


def test_text_is_the_space_join_of_its_tokens(workload):
    for _conv, _idx, text in workload.turns + workload.stream_turns:
        tokens = text.split(" ")
        assert " ".join(tokens) == text
        assert all(token.isalpha() and token.islower() for token in tokens)
    assert all(tag.startswith("B-") for tag in workload.lexicon.values())
    reference.check_no_cutoff(workload.turns + workload.stream_turns)


def test_turn_keys_are_unique(workload):
    keys = [(c, i) for c, i, _ in workload.turns + workload.stream_turns]
    assert len(keys) == len(set(keys))


def _mention_counts(w):
    return [len(reference.mentions(text.split(" "), w.lexicon)) for _, _, text in w.turns]


def test_dense_pairs_shape():
    w = gen.generate("dense_pairs", 3)
    counts = _mention_counts(w)
    capped = [min(m, gen.MAX_MENTIONS) for m in counts]
    pairs = statistics.mean(m * (m - 1) for m in capped)
    assert 12 <= statistics.mean(counts) <= 14
    assert 130 <= pairs <= 170  # about 150 ordered pairs per turn
    assert any(m > gen.MAX_MENTIONS for m in counts)  # the cap is exercised
    keys = {
        (st, ot, s, o)
        for _, _, text in w.turns
        for _h, _t, s, st, _p, o, ot in reference.turn_triples(text.split(" "), w.lexicon)
    }
    assert 100 <= len(keys) <= 1000  # hundreds of distinct model keys


def test_wide_vocab_shape():
    w = gen.generate("wide_vocab", 3)
    assert w.shape["vocabulary"] >= 100_000
    assert len(w.lexicon) >= 50_000
    assert len(w.aliases) == len(w.lexicon)
    kb_sizes = Counter(kb for _, kb, _ in w.aliases)
    assert max(kb_sizes.values()) > 1  # alias groups share KB ids
    counts = _mention_counts(w)
    assert min(counts) >= 3 and max(counts) <= 5
    sizes = w.shape["conv_sizes"]
    assert max(sizes) >= 100 * statistics.median(sizes)
    _nodes, _edges, stats = reference.graph_reference(w.turns, w.lexicon, w.aliases)
    # tens of thousands of distinct linked surfaces: a large link graph
    # that still takes canonicalize's driver-side union-find (see README)
    assert 25_000 <= stats["link_edges"] <= 65_536
    pairs = [
        (s, st, o, ot)
        for _, _, text in w.turns
        for _h, _t, s, st, _p, o, ot in reference.turn_triples(text.split(" "), w.lexicon)
    ]
    assert len(set(pairs)) >= 0.95 * len(pairs)  # nearly all pairs distinct


def test_stream_offered_rate(workload):
    assert workload.offered_turns_per_s == workload.turns_per_file * workload.files_per_s
    # enough arrival turns for a 60 s open loop after the warm-up
    assert len(workload.stream_turns) >= workload.offered_turns_per_s * 64


class _Frame:
    """The two DataFrame calls ``graph_rows`` makes, over plain rows."""

    def __init__(self, columns, rows):
        self.columns = columns
        self.rows = rows

    def select(self, *columns):
        assert list(columns) == self.columns
        return self

    def toPandas(self):
        import pandas as pd

        return pd.DataFrame(self.rows, columns=self.columns)


def _fake_result(nodes, edges):
    return {
        "nodes": _Frame(
            ["canonical_id", "label", "surface_forms"], [(c, l, list(f)) for c, l, f in nodes]
        ),
        "edges": _Frame(["subj_id", "pred", "obj_id", "n_evidence"], sorted(edges)),
    }


def _write_lineage(out_dir):
    os.makedirs(os.path.join(out_dir, "_lineage"), exist_ok=True)
    for stage in STAGES:
        with open(os.path.join(out_dir, "_lineage", f"{stage}.json"), "w") as handle:
            json.dump({"stage": stage, "wall_seconds": 0.1}, handle)


def _phase(reference_graph):
    phase = BatchPhase.__new__(BatchPhase)
    phase.reference = reference_graph
    phase.attempted = phase.failed = 0
    phase.pipeline_walls, phase.resume_walls = [], []
    phase.last_result = None
    phase.verify_s = 0.0
    return phase


@pytest.mark.parametrize("corrupt", [False, True])
def test_corrupted_graph_is_a_failed_operation(tmp_path, corrupt):
    w = gen.generate("dense_pairs", 1)
    nodes, edges, _ = reference.graph_reference(w.turns[:50], w.lexicon, w.aliases)
    served = set(edges)
    if corrupt:
        s, p, o, n = sorted(served)[0]
        served = (served - {(s, p, o, n)}) | {(s, p, o, n + 1)}
    phase = _phase((nodes, edges))
    out_dir = str(tmp_path / "iter")

    def action():
        time.sleep(0.02)
        _write_lineage(out_dir)
        return _fake_result(nodes, served)

    phase._op(phase.pipeline_walls, action, out_dir, STAGES, [])
    assert phase.attempted == 1
    assert phase.failed == (1 if corrupt else 0)
    assert len(phase.pipeline_walls) == (0 if corrupt else 1)


def test_stage_not_rebuilt_in_the_iteration_is_a_failed_operation(tmp_path):
    w = gen.generate("dense_pairs", 1)
    nodes, edges, _ = reference.graph_reference(w.turns[:50], w.lexicon, w.aliases)
    out_dir = str(tmp_path / "iter")
    _write_lineage(out_dir)  # left over from before the operation started
    time.sleep(0.05)
    phase = _phase((nodes, edges))
    phase._op(phase.pipeline_walls, lambda: _fake_result(nodes, edges), out_dir, STAGES, [])
    assert phase.failed == 1


def test_corrupted_stream_turn_is_counted():
    w = gen.generate("dense_pairs", 1)
    turns = w.stream_turns[:10]
    ref = reference.stream_reference(turns, w.lexicon)
    rows = [(c, i, *triple) for (c, i), triples in ref.items() for triple in triples.elements()]
    keys = set(ref)
    assert count_wrong_turns(rows, keys, ref) == 0
    bad = list(rows)
    c, i, h, t, s, st, p, o, ot = bad[0]
    bad[0] = (c, i, h, t, s, st, "op:not_a_label", o, ot)
    assert count_wrong_turns(bad, keys, ref) == 1
    assert count_wrong_turns(rows[1:], keys, ref) == 1  # a lost triple


def test_refuses_to_run_without_the_program(tmp_path):
    import shutil
    import subprocess

    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "dense_pairs", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert proc.returncode != 0
    assert proc.stdout == ""


def test_reference_rc_decision_matches_the_stub_definition():
    import random

    from sherlock_spark.model_stub import DEFAULT_RC_LABELS, md5_digit_bucket

    rng = random.Random(0)
    for _ in range(5000):
        key = "".join(rng.choices("abcXYZ|:- ", k=rng.randint(0, 30)))
        assert reference.rc_label(key) == DEFAULT_RC_LABELS[md5_digit_bucket(key, len(DEFAULT_RC_LABELS))]

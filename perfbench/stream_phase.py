"""Open-loop arrivals into ``stream_extract_triples``.

One generator thread writes small parquet files of turns into the
query's source directory on a fixed schedule that never waits for the
query. Each turn's latency runs from its file's *due* time (so a late
generator or a stalled query both count) to the modification time of
the checkpoint commit of the micro-batch that read the file, which the
query writes after the file sink has committed that batch.
"""

from __future__ import annotations

import glob
import json
import os
import threading
import time
from collections import Counter, defaultdict

from gen import Workload, write_turns

TRIPLE_COLUMNS = [
    "conv_id", "turn_idx", "head_idx", "tail_idx",
    "subj_text", "subj_type", "pred", "obj_text", "obj_type",
]


class Arrivals(threading.Thread):
    """Writes ``files`` (lists of turns) into ``src`` at ``files_per_s``,
    starting at wall time ``start``; records due and written times."""

    def __init__(self, src: str, files: list[list[tuple]], files_per_s: float, start: float, tag: str):
        super().__init__(name=f"arrivals-{tag}", daemon=True)
        self.src = src
        self.files = files
        self.period = 1.0 / files_per_s
        self.start_at = start
        self.tag = tag
        self.written: list[tuple[str, float, float, list[tuple]]] = []  # name, due, done, turns
        self.error: Exception | None = None

    def run(self) -> None:
        try:
            for k, turns in enumerate(self.files):
                due = self.start_at + k * self.period
                delay = due - time.time()
                if delay > 0:
                    time.sleep(delay)
                name = f"{self.tag}-{k:05d}.parquet"
                write_turns(turns, os.path.join(self.src, name))
                self.written.append((name, due, time.time(), turns))
        except Exception as exc:  # reported by the caller after join
            self.error = exc


def _chunks(turns: list[tuple], size: int) -> list[list[tuple]]:
    return [turns[i : i + size] for i in range(0, len(turns) - size + 1, size)]


def file_batches(checkpoint: str) -> dict[str, int]:
    """Source file basename -> micro-batch id, from the file source log."""
    out: dict[str, int] = {}
    for path in glob.glob(os.path.join(checkpoint, "sources", "0", "*")):
        if os.path.basename(path).startswith("."):
            continue
        with open(path) as handle:
            for line in handle:
                line = line.strip()
                if line.startswith("{"):
                    entry = json.loads(line)
                    out[os.path.basename(entry["path"])] = int(entry["batchId"])
    return out


def commit_times(checkpoint: str) -> dict[int, float]:
    out = {}
    for path in glob.glob(os.path.join(checkpoint, "commits", "*")):
        name = os.path.basename(path)
        if name.isdigit():
            out[int(name)] = os.path.getmtime(path)
    return out


class StreamPhase:
    """One streaming query over a workload's arrival turns."""

    def __init__(self, spark, workload: Workload, work_dir: str) -> None:
        from sherlock_spark.streaming.stream import stream_extract_triples

        self.spark = spark
        self.workload = workload
        self.src = os.path.join(work_dir, "src")
        self.out = os.path.join(work_dir, "out")
        self.checkpoint = os.path.join(work_dir, "checkpoint")
        os.makedirs(self.src)
        self._pending = iter(_chunks(workload.stream_turns, workload.turns_per_file))
        # Spark's default trigger: a new micro-batch as soon as the last
        # one finished and new files are present
        self.query = stream_extract_triples(
            spark, self.src, self.out, self.checkpoint,
            ner_lexicon=workload.lexicon, available_now=False,
        )

    def arrive(self, seconds: float, tag: str) -> Arrivals:
        """Run the open loop for ``seconds`` and wait until every file it
        wrote is committed (or the query dies / 120 s pass)."""
        n_files = max(1, int(round(seconds * self.workload.files_per_s)))
        files = [next(self._pending) for _ in range(n_files)]
        arrivals = Arrivals(self.src, files, self.workload.files_per_s, time.time() + 0.05, tag)
        arrivals.start()
        arrivals.join(timeout=seconds + 60)
        if arrivals.is_alive() or arrivals.error is not None:
            raise RuntimeError(f"arrival generator failed: {arrivals.error!r}")
        self._await_commits(arrivals, deadline=time.time() + 120)
        return arrivals

    def _await_commits(self, arrivals: Arrivals, deadline: float) -> None:
        names = {name for name, *_ in arrivals.written}
        while time.time() < deadline:
            if self.query.exception() is not None:
                raise RuntimeError(f"streaming query failed: {self.query.exception()}")
            batches = file_batches(self.checkpoint)
            commits = commit_times(self.checkpoint)
            if all(name in batches and batches[name] in commits for name in names):
                return
            time.sleep(0.05)

    def latencies(self, arrivals: Arrivals) -> tuple[list[float], int]:
        """Per-turn commit latency of one open-loop run; turns never
        committed are returned as a count instead."""
        batches = file_batches(self.checkpoint)
        commits = commit_times(self.checkpoint)
        out, missing = [], 0
        for name, due, _done, turns in arrivals.written:
            batch = batches.get(name)
            if batch is None or batch not in commits:
                missing += len(turns)
                continue
            out.extend([commits[batch] - due] * len(turns))
        return out, missing

    def failed_turns(self, arrivals: Arrivals, reference: dict) -> int:
        """Turns of ``arrivals`` never committed or committed with other
        triples than the reference."""
        keys = {(t[0], t[1]) for *_, turns in arrivals.written for t in turns}
        _, missing = self.latencies(arrivals)
        rows = self.spark.read.parquet(self.out).select(*TRIPLE_COLUMNS).collect()
        return missing + count_wrong_turns(rows, keys, reference)

    def stop(self) -> None:
        self.query.stop()


def count_wrong_turns(rows, keys: set, reference: dict) -> int:
    """Turns in ``keys`` whose committed triple multiset differs from
    the reference."""
    got: dict[tuple, Counter] = defaultdict(Counter)
    for row in rows:
        key = (row[0], row[1])
        if key in keys:
            got[key][tuple(row[2:])] += 1
    return sum(1 for key in keys if got.get(key, Counter()) != reference[key])

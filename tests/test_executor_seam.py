"""The worker-side model seam (``sherlock_spark/executor.py``): the
zip-import guard it installs, and the RC forward's one call per
distinct key in each Arrow batch."""

import importlib
import json
import sys
import zipfile
import zipimport
from typing import Iterator

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sherlock_spark import executor
from sherlock_spark.model_stub import DEFAULT_RC_LABELS, StubRcModel
from sherlock_spark.operators.rc import MODEL_KEYS, rc_model_udf


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as archive:
        for name, source in modules.items():
            archive.writestr(f"{name}.py", source)


def test_zip_guard_rereads_only_a_changed_archive(tmp_path, monkeypatch):
    archive = tmp_path / "guarded.zip"
    _write_zip(archive, {"zip_guard_mod_a": "VALUE = 1\n"})
    monkeypatch.syspath_prepend(str(archive))
    for name in ("zip_guard_mod_a", "zip_guard_mod_b"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    assert importlib.import_module("zip_guard_mod_a").VALUE == 1

    # restores the unguarded method after the test
    monkeypatch.setattr(
        zipimport.zipimporter,
        "invalidate_caches",
        zipimport.zipimporter.invalidate_caches,
    )
    reads = []
    read_directory = zipimport._read_directory
    monkeypatch.setattr(
        zipimport,
        "_read_directory",
        lambda path: reads.append(path) or read_directory(path),
    )
    executor.install_zip_guard()
    importlib.invalidate_caches()  # first guarded call may read once

    reads.clear()
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert str(archive) not in reads

    _write_zip(
        archive, {"zip_guard_mod_a": "VALUE = 1\n", "zip_guard_mod_b": "VALUE = 2\n"}
    )
    importlib.invalidate_caches()
    assert importlib.import_module("zip_guard_mod_b").VALUE == 2
    assert reads.count(str(archive)) == 1


def test_worker_task_setup_rereads_no_archive(spark):
    """Each task reports the archive reads since the previous task's
    body in its worker, i.e. during its own set-up. The first task of a
    worker here installs the counter (-1); a worker's first guarded
    set-up may read each archive once; every later one reads none."""

    @F.pandas_udf("struct<pid:long, reads:long>")
    def setup_reads(batches: Iterator[pd.Series]) -> Iterator[pd.DataFrame]:
        import os
        import zipimport

        from sherlock_spark.executor import executor_model

        executor_model("test:zip-guard", object)
        counting = zipimport._read_directory
        if hasattr(counting, "calls"):
            reads = counting.calls
        else:
            read_directory, reads = counting, -1

            def counting(path):
                counting.calls += 1
                return read_directory(path)

            zipimport._read_directory = counting
        counting.calls = 0
        for batch in batches:
            yield pd.DataFrame(
                {"pid": os.getpid(), "reads": reads}, index=batch.index
            )

    per_worker: dict[int, list[int]] = {}
    for _ in range(6):
        df = spark.range(0, 8, 1, 4).select(setup_reads(F.col("id")).alias("r"))
        tasks = df.select("r.*", F.spark_partition_id().alias("p")).distinct()
        for row in tasks.collect():
            per_worker.setdefault(row.pid, []).append(row.reads)
    later = [reads for per_task in per_worker.values() for reads in per_task[2:]]
    assert later, per_worker
    for per_task in per_worker.values():
        first_guarded = [reads for reads in per_task if reads > 0]
        assert len(first_guarded) <= 1, per_worker
        assert per_task.count(0) >= len(per_task) - 2, per_worker


@pytest.mark.parametrize("add_logits", [False, True])
def test_rc_forward_once_per_distinct_key_per_batch(spark, tmp_path, add_logits):
    log = str(tmp_path / "forward_calls.jsonl")

    class CountingModel:
        def __init__(self):
            self.stub = StubRcModel()
            self.labels = self.stub.labels

        def forward_pairs(self, pairs):
            with open(log, "a") as handle:
                handle.write(json.dumps(pairs) + "\n")
            return self.stub.forward_pairs(pairs)

    key_a = ("PER", "ORG", "Ann", "Acme")
    key_b = ("PER", "ORG", "Ann", "Bolt")
    key_null = (None, "ORG", "Ann", "Acme")
    key_nulls = ("PER", None, None, None)
    keys = [
        key_a, key_a, key_null, key_nulls,
        key_null, key_b, key_a, key_nulls,
        key_b, key_b, key_b,
    ]
    schema = T.StructType([T.StructField(k, T.StringType()) for k in MODEL_KEYS])
    pairs = spark.createDataFrame(keys, schema).coalesce(1)
    forward = rc_model_udf(spark, f"counting:{log}", CountingModel, add_logits)
    batch_rows = "spark.sql.execution.arrow.maxRecordsPerBatch"
    saved = spark.conf.get(batch_rows)
    spark.conf.set(batch_rows, "4")
    try:
        rows = pairs.withColumn("rc", forward(*MODEL_KEYS)).collect()
    finally:
        spark.conf.set(batch_rows, saved)

    batches = [keys[i : i + 4] for i in range(0, len(keys), 4)]
    with open(log) as handle:
        calls = [json.loads(line) for line in handle]
    assert calls == [[list(k) for k in dict.fromkeys(batch)] for batch in batches]

    stub = StubRcModel()
    assert [tuple(row[k] for k in MODEL_KEYS) for row in rows] == keys
    for row in rows:
        scores = stub.forward_pairs([tuple(row[k] for k in MODEL_KEYS)])[0]
        assert row.rc.label == DEFAULT_RC_LABELS[int(np.argmax(scores))]
        assert row.rc.model_loads == 1
        if add_logits:
            assert row.rc.logits == dict(zip(DEFAULT_RC_LABELS, scores.tolist()))
        else:
            assert row.rc.logits is None

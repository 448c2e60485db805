"""The one durable stage writer (``plans/checkpoint.CheckpointManager``):
lineage from the write job, crash and race handling, job descriptions,
and the cross-process stage cache built on it."""

import os
import time
import uuid

from pyspark.sql import functions as F

from sherlock_spark.plans.checkpoint import CheckpointManager


def _frame(spark):
    """40 rows over 20 distinct (k, v) keys, 4 values of ``g``; ``ids``
    is a non-nullable array of non-null elements."""
    return spark.range(40).select(
        (F.col("id") % 20).alias("k"),
        (F.col("id") % 20 * 10).alias("v"),
        (F.col("id") % 4).cast("string").alias("g"),
        F.array(F.col("id")).alias("ids"),
    )


def _app_id(spark) -> str:
    return spark.sparkContext.applicationId


def _jobs(spark, action) -> list[int]:
    """Ids of the Spark jobs ``action`` runs, under the job description
    ``caller``."""
    sc = spark.sparkContext
    group = f"stage-writer-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, "caller")
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return list(sc.statusTracker().getJobIdsForGroup(group))


def test_run_stage_runs_no_job_beyond_the_write(spark, tmp_path):
    """Lineage (row count, rows per partition, schema) costs no Spark job
    over a bare parquet write of the same frame, and reading a completed
    stage back runs none at all."""
    bare_jobs = _jobs(
        spark,
        lambda: _frame(spark)
        .dropDuplicates(["k", "v"])
        .write.parquet(str(tmp_path / "bare")),
    )
    manager = CheckpointManager(spark, str(tmp_path / "ckpt"))
    stage_jobs = _jobs(
        spark,
        lambda: manager.run_stage(
            "s", lambda: _frame(spark), dedup_keys=["k", "v"]
        ),
    )
    assert len(bare_jobs) > 0
    assert len(stage_jobs) == len(bare_jobs)

    lineage = manager.lineage("s")
    assert lineage["n_rows"] == 20
    assert sum(lineage["partition_rows"].values()) == 20
    assert lineage["n_partitions"] == len(lineage["partition_rows"])

    read_back = []
    assert _jobs(spark, lambda: read_back.append(manager.run_stage("s", lambda: _frame(spark)))) == []
    assert read_back[0].schema == spark.read.parquet(manager.stage_path("s")).schema
    assert read_back[0].count() == 20


def test_stage_write_jobs_carry_the_stage_description(spark, tmp_path):
    """The write job is labelled ``stage <name>``; the caller's own
    description is back in place afterwards."""
    sc = spark.sparkContext
    manager = CheckpointManager(spark, str(tmp_path / "ckpt"))
    after = []

    def run():
        manager.run_stage("described", lambda: _frame(spark))
        after.append(sc.getLocalProperty("spark.job.description"))

    job_ids = _jobs(spark, run)
    assert after == ["caller"]
    store = sc._jsc.sc().statusStore()
    descriptions = {store.job(job_id).description().getOrElse(None) for job_id in job_ids}
    assert descriptions == {"stage described"}


def test_crashed_stage_and_leftover_tmp_dir_rebuilt_without_duplicates(spark, tmp_path):
    """A killed writer leaves a stage dir without a lineage file and a tmp
    dir; the rerun rebuilds the stage once, and ``invalidate`` removes
    every writer's tmp dir."""
    base = tmp_path / "ckpt"
    manager = CheckpointManager(spark, str(base))
    partial = _frame(spark).limit(7)
    partial.write.parquet(manager.stage_path("s"))
    partial.write.parquet(f"{manager.stage_path('s')}.tmp-{_app_id(spark)}")
    partial.write.parquet(f"{manager.stage_path('s')}.tmp-local-0-killed")
    assert not manager.is_complete("s")

    out = manager.run_stage("s", lambda: _frame(spark), dedup_keys=["k", "v"])
    assert out.count() == 20
    assert out.groupBy("k", "v").count().filter("count > 1").count() == 0
    assert manager.lineage("s")["n_rows"] == 20
    assert not os.path.exists(f"{manager.stage_path('s')}.tmp-{_app_id(spark)}")

    manager.invalidate("s")
    assert sorted(os.listdir(base)) == ["_lineage"]


def test_writer_that_loses_the_rename_race_reads_the_winner(spark, tmp_path):
    """Two managers on one directory build the same stage; the one that
    finishes second keeps the first one's table and lineage."""
    winner = CheckpointManager(spark, str(tmp_path / "ckpt"))
    loser = CheckpointManager(spark, str(tmp_path / "ckpt"))

    def build_while_winner_completes():
        winner.run_stage("s", lambda: _frame(spark).limit(5))
        return _frame(spark)

    out = loser.run_stage("s", build_while_winner_completes)
    assert out.count() == 5
    assert loser.lineage("s")["n_rows"] == 5
    assert sorted(os.listdir(tmp_path / "ckpt")) == ["_lineage", "s"]


def test_stage_cache_write_failure_falls_back_to_local_checkpoint(spark, tmp_path, monkeypatch):
    """A frame parquet cannot hold (a calendar interval) still stages, through
    ``localCheckpoint``, and leaves no table behind."""
    from sherlock_spark.udfcache import _STAGE_CACHE, stage

    stage_dir = tmp_path / "stagecache"
    monkeypatch.setenv("SHERLOCK_STAGE_DIR", str(stage_dir))
    key = ("stage-writer-interval", uuid.uuid4().hex)
    try:
        interval = F.expr("make_interval(0, 0, 0, 1, 0, 0, 0)")
        out = stage(spark, key, lambda: spark.range(3).select("id", interval.alias("gap")))
        assert out.count() == 3
        assert sorted(os.listdir(stage_dir)) == ["_lineage"]
    finally:
        _STAGE_CACHE.clear()


def test_stage_cache_sweeps_expired_entries(spark, tmp_path, monkeypatch):
    """The first stage-cache use of a directory in a process invalidates
    entries written more than ``STAGE_TTL_S`` ago and keeps fresh ones."""
    from sherlock_spark import udfcache

    stage_dir = str(tmp_path / "stagecache")
    writer = CheckpointManager(spark, stage_dir)
    writer.run_stage("old", lambda: spark.range(2))
    writer.run_stage("fresh", lambda: spark.range(2))
    expired = time.time() - udfcache.STAGE_TTL_S - 60
    os.utime(writer.stage_path("old"), (expired, expired))

    monkeypatch.setattr(udfcache, "_STAGE_MANAGERS", {})
    udfcache._stage_manager(spark, stage_dir)
    assert not writer.is_complete("old")
    assert not os.path.exists(writer.stage_path("old"))
    assert writer.is_complete("fresh")


def test_stage_registry_eviction_tolerates_concurrent_inserts():
    """The registry's stages are built on several threads at once
    (``run_concurrently``): evicting a dead session's entries must not
    fail on an entry another thread inserts or evicts meanwhile."""
    import sys
    import threading

    from sherlock_spark.udfcache import _evict_dead_sessions

    registry = {("dead", i): i for i in range(2000)}
    registry.update({("live", i): i for i in range(2000)})
    errors = []
    inserting = threading.Event()
    inserting.set()

    def insert(thread):
        for i in range(20000):
            registry[("live", thread, i)] = i
        inserting.clear()

    def evict():
        try:
            while True:
                _evict_dead_sessions(registry, "live")
                if not inserting.is_set():
                    return
        except (RuntimeError, KeyError) as exc:
            errors.append(exc)

    previous = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=insert, args=(n,)) for n in range(4)]
        threads += [threading.Thread(target=evict) for _ in range(4)]
        for thread in threads:
            thread.start()
        for thread in threads:
            thread.join(timeout=120)
    finally:
        sys.setswitchinterval(previous)
    assert not any(thread.is_alive() for thread in threads)
    assert errors == []
    assert all(key[0] == "live" for key in registry)
    assert len(registry) == 2000 + 4 * 20000

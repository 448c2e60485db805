"""Content-addressed caching for UDF instances and stage DataFrames.

Two driver-side registries that make repeated query constructions
plan-stable and re-execution-free within a session:

``config_hash`` + ``memoized_udf``
    A pandas-UDF column function built twice from the same configuration
    used to get a fresh ``uuid4`` cache key and a fresh broadcast per
    construction, so the analyzed plans of two invocations of the same
    query never matched and nothing persisted could be reused (round-2
    VERDICT finding). UDF instances are now memoized per (session,
    content-hash) — the same configuration returns the *same* UDF
    object, so equal queries build equal plans, and the worker-side
    model cache key is the content hash (one model per worker per
    configuration, not per construction).

``stage``
    A DataFrame built once per (session, key) and reused by every later
    construction that asks for the same key, so repeated queries over
    the extract->link->canonicalize DAG read materialized stage output
    instead of re-running the model UDFs. By default the stage is a
    session-local ``localCheckpoint``. When ``SHERLOCK_STAGE_DIR`` is
    set, it is instead written through the one durable stage writer,
    ``plans/checkpoint.CheckpointManager``, under that directory, and a
    fresh JVM resumes from it (cross-process warm resume: the 10-13 s
    cold start of ``kg_canonical_edges`` at sf0.1 on 4 vCPU drops to
    roughly its warm cost on the second process). The durable stage name is
    ``config_hash(key, code_digest)``, where ``code_digest`` is a
    stat-based digest of every ``.py`` file in the package: ANY source
    edit changes the digest, so a persisted stage table never outlives
    the code that built it (stale entries become unreachable and are
    swept after ``STAGE_TTL_S``). A durable write that fails (a schema
    parquet cannot hold) falls back to ``localCheckpoint``.

Keys include ``applicationId`` so a stopped/restarted session never
serves broadcasts or checkpointed RDDs from a dead context.
"""

from __future__ import annotations

import hashlib
import logging
import os
import time
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

_UDF_INSTANCES: dict[tuple, object] = {}
_STAGE_CACHE: dict[tuple, DataFrame] = {}


def config_hash(*parts) -> str:
    """Stable md5 over arbitrarily nested dict/list/tuple/scalar config.

    Dicts are order-normalized (sorted by key repr — keys may be tuples,
    e.g. RC rule maps keyed by (subj_type, obj_type)).
    """

    def norm(value):
        if isinstance(value, dict):
            return sorted((repr(k), norm(v)) for k, v in value.items())
        if isinstance(value, (list, tuple)):
            return [norm(v) for v in value]
        return value

    return hashlib.md5(
        repr([norm(part) for part in parts]).encode("utf-8")
    ).hexdigest()


def _evict_dead_sessions(registry: dict, app_id: str) -> None:
    """Drop entries from stopped sessions. Sessions in one driver are
    serial (getOrCreate reuses the live one), so any entry under a
    different applicationId references a dead context — holding its
    UDF closures/broadcasts/checkpointed RDDs would leak driver memory
    in long-lived processes that restart sessions. Iterates a snapshot
    of the keys: ``stage`` runs on several threads at once under
    ``plans.pipeline.run_concurrently``."""
    for key in [key for key in list(registry) if key[0] != app_id]:
        registry.pop(key, None)  # another thread may have dropped it


def memoized_udf(spark: SparkSession, key: str, build: Callable):
    """Return the session's UDF instance for ``key``, building once."""
    app_id = spark.sparkContext.applicationId
    _evict_dead_sessions(_UDF_INSTANCES, app_id)
    full_key = (app_id, key)
    instance = _UDF_INSTANCES.get(full_key)
    if instance is None:
        instance = build()
        _UDF_INSTANCES[full_key] = instance
    return instance


def stage(
    spark: SparkSession, key: tuple, build: Callable[[], DataFrame]
) -> DataFrame:
    """Materialize ``build()`` once per (session, key) and reuse it.

    The materialization cuts lineage, so downstream plans over the stage
    are small and later invocations never re-run the stage's UDFs.
    """
    app_id = spark.sparkContext.applicationId
    _evict_dead_sessions(_STAGE_CACHE, app_id)
    full_key = (app_id, key)
    df = _STAGE_CACHE.get(full_key)
    if df is None:
        stage_dir = os.environ.get("SHERLOCK_STAGE_DIR")
        if stage_dir:
            try:
                df = _stage_manager(spark, stage_dir).run_stage(
                    config_hash(key, _code_digest()), build
                )
            except Exception:  # e.g. a schema parquet can't hold
                logging.getLogger(__name__).warning(
                    "durable stage write failed, staging in-session", exc_info=True
                )
        if df is None:
            df = build().localCheckpoint(eager=True)
        _STAGE_CACHE[full_key] = df
    return df


# Durable stage-cache entries unused this long are swept: entries
# orphaned by code edits are unreachable by key, this bounds their disk.
STAGE_TTL_S = 7 * 86400

_CODE_DIGEST: str | None = None
_STAGE_MANAGERS: dict[str, object] = {}


def _stage_manager(spark: SparkSession, stage_dir: str):
    """The process's one ``CheckpointManager`` for ``stage_dir`` (rebuilt
    for a new session); the first one built sweeps expired entries."""
    from sherlock_spark.plans.checkpoint import CheckpointManager

    manager = _STAGE_MANAGERS.get(stage_dir)
    if manager is None or manager.spark is not spark:
        first = manager is None
        manager = _STAGE_MANAGERS[stage_dir] = CheckpointManager(spark, stage_dir)
        if first:
            _sweep_stale(manager)
    return manager


def _code_digest() -> str:
    """Stat-based digest (relpath, size, mtime_ns) of every .py file in
    the package — the cache-key salt that makes persisted stage tables
    code-versioned. Any source edit (even a re-save) changes it, which
    errs on the safe side: a false rebuild costs one materialization, a
    stale hit would cost correctness."""
    global _CODE_DIGEST
    if _CODE_DIGEST is None:
        root = os.path.dirname(os.path.abspath(__file__))
        hasher = hashlib.md5()
        for dirpath, _dirs, files in sorted(os.walk(root)):
            for name in sorted(files):
                if not name.endswith(".py"):
                    continue
                full = os.path.join(dirpath, name)
                stat = os.stat(full)
                rel = os.path.relpath(full, root)
                hasher.update(
                    f"{rel}|{stat.st_size}|{stat.st_mtime_ns}\n".encode()
                )
        _CODE_DIGEST = hasher.hexdigest()
    return _CODE_DIGEST


def _sweep_stale(manager) -> None:
    """Invalidate every stage whose table or tmp dir was last written
    more than ``STAGE_TTL_S`` ago."""
    cutoff = time.time() - STAGE_TTL_S
    for name in os.listdir(manager.base_dir):
        full = os.path.join(manager.base_dir, name)
        try:
            stale = name != "_lineage" and os.path.getmtime(full) < cutoff
        except OSError:
            continue
        if stale:
            manager.invalidate(name.split(".tmp-")[0])


def clear_session_caches() -> None:
    """Drop all registries (test isolation helper)."""
    _UDF_INSTANCES.clear()
    _STAGE_CACHE.clear()

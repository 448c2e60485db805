"""The traced run: each KG layer's public function, timed on its own.

Every layer runs on the checkpointed input a completed warm pipeline
iteration left behind and is forced with a ``noop`` write inside a
``Span``; counts come from the SQL status store and the status tracker
after the call returns. Spans are flat (no layer calls another here), so
a span's wall is the layer's self time.
"""

from __future__ import annotations

import os
import statistics
import time
from contextlib import contextmanager

import reference
from sparkmetrics import Span, peak_rss_mb

PY_BOOT = "time to start Python workers"
PY_INIT = "time to initialize Python workers"
PY_RUN = "time to run Python workers"
PY_SENT = "data sent to Python workers"
ROWS = "number of output rows"


def _noop(*frames) -> None:
    for frame in frames:
        frame.write.format("noop").mode("overwrite").save()


@contextmanager
def _cc_stats(stats: dict):
    """Hand ``canonicalize``'s connected-components call a stats dict."""
    import sherlock_spark.operators.canonicalize as module

    original = module.connected_components

    def wrapped(edges, *args, **kwargs):
        kwargs["stats"] = stats
        return original(edges, *args, **kwargs)

    module.connected_components = wrapped
    try:
        yield
    finally:
        module.connected_components = original


def layer_metrics(spark, workload, transcripts, ckpt_dir: str) -> dict[str, float]:
    from pyspark.sql import functions as F

    from sherlock_spark.model_stub import DEFAULT_RC_LABELS
    from sherlock_spark.operators.canonicalize import (
        canonicalize,
        connected_components,
        materialize_graph,
    )
    from sherlock_spark.operators.linking import linked_mentions, make_alias_df
    from sherlock_spark.operators.ner import annotate_mentions
    from sherlock_spark.operators.rc import extract_triples
    from sherlock_spark.plans.pipeline import salt_by_conv

    def stage(name):
        return spark.read.parquet(os.path.join(ckpt_dir, name))

    out: dict[str, float] = {}

    salted_rows = [
        r["count"]
        for r in salt_by_conv(transcripts).groupBy(F.spark_partition_id()).count().collect()
    ]
    out["salt.max_task_rows_ratio"] = max(salted_rows) / statistics.median(salted_rows)

    with Span(spark, "ner") as ner:
        _noop(annotate_mentions(spark, salt_by_conv(transcripts), workload.lexicon)
              .select("conv_id", "turn_idx", "words", "ments"))
    annotated = stage("annotated")
    out["ner.self_s"] = ner.wall_s
    out["ner.turns"] = ner.metric("ArrowEvalPython", ROWS)
    out["ner.mentions"] = annotated.select(F.sum(F.size("ments"))).first()[0]
    out["ner.python_boot_s"] = ner.metric("ArrowEvalPython", PY_BOOT)
    out["ner.python_init_s"] = ner.metric("ArrowEvalPython", PY_INIT)
    out["ner.python_compute_s"] = ner.metric("ArrowEvalPython", PY_RUN)
    out["ner.arrow_bytes"] = ner.metric("ArrowEvalPython", PY_SENT)

    with Span(spark, "rc") as rc:
        _noop(extract_triples(spark, annotated, labels=DEFAULT_RC_LABELS))
    python_nodes = rc.by_node("ArrowEvalPython")
    model = max(python_nodes, key=lambda m: m.get(ROWS, 0.0))
    filters = sorted((node_id, m) for _, node_id, name, m in rc.nodes if name == "Filter")
    out["rc.self_s"] = rc.wall_s
    out["rc.pairs"] = rc.metric("Generate", ROWS)
    out["rc.model_rows"] = model.get(ROWS, 0.0)
    out["rc.pairs_cutoff"] = out["rc.pairs"] - out["rc.model_rows"]
    out["rc.turns_overflowed"] = stage("pair_overflow_metrics").first()["n_overflow_turns"]
    out["rc.model_tasks"] = rc.metric("Exchange", "number of partitions")
    out["rc.python_init_s"] = rc.metric("ArrowEvalPython", PY_INIT)
    out["rc.python_compute_s"] = rc.metric("ArrowEvalPython", PY_RUN)
    out["rc.triples"] = filters[0][1].get(ROWS, 0.0) if filters else 0.0
    # distinct keys are a property of the input: counted from it
    _pairs, distinct = reference.model_keys(workload.turns, workload.lexicon)
    out["rc.model_distinct_keys"] = distinct
    out["rc.useful_ratio"] = distinct / max(1.0, out["rc.model_rows"])

    with Span(spark, "linking") as linking:
        _noop(linked_mentions(annotated, make_alias_df(spark, workload.aliases)))
    links = stage("links")
    out["linking.self_s"] = linking.wall_s
    out["linking.mentions"] = links.count()
    out["linking.hit_ratio"] = links.filter(F.col("kb_id").isNotNull()).count() / max(1, out["linking.mentions"])
    out["linking.broadcast_bytes"] = linking.metric("BroadcastExchange", "data size")

    cc_stats: dict = {}
    with _cc_stats(cc_stats), Span(spark, "canonicalize") as canon:
        _noop(canonicalize(links))
    # canonicalize's link graph: surface node -> KB node, one edge per pair
    link_edges = links.filter(F.col("kb_id").isNotNull()).select(
        F.concat(F.lit("a:"), "ment_label", F.lit(":"), "ment_norm").alias("src"),
        F.concat(F.lit("k:"), "kb_id").alias("dst"),
    ).distinct()
    out["canonicalize.self_s"] = canon.wall_s
    out["canonicalize.edges"] = link_edges.count()
    out["canonicalize.iterations"] = cc_stats.get("iterations", 0)
    out["canonicalize.distributed"] = 0 if cc_stats.get("mode") == "local" else 1
    out["canonicalize.jobs"] = canon.jobs

    # the distributed loop on the same graph, forced through the public
    # ``local_threshold=0`` switch
    forced: dict = {}
    with Span(spark, "cc_distributed") as dist:
        _noop(connected_components(link_edges, stats=forced, local_threshold=0))
    out["cc_distributed.self_s"] = dist.wall_s
    out["cc_distributed.iterations"] = forced["iterations"]
    out["cc_distributed.jobs"] = dist.jobs

    triples = stage("triples")
    with Span(spark, "materialize") as mat:
        nodes, edges = materialize_graph(triples, stage("canonical_map"))
        _noop(nodes, edges)
    out["materialize.self_s"] = mat.wall_s
    out["materialize.evidence_rows"] = triples.count()
    out["materialize.nodes"] = nodes.count()
    out["materialize.edges"] = edges.count()
    out["materialize.broadcast_bytes"] = mat.metric("BroadcastExchange", "data size")

    out["trace.layers_s"] = sum(
        out[f"{layer}.self_s"] for layer in ("ner", "rc", "linking", "canonicalize", "materialize")
    )
    return out


def checkpoint_metrics(spark, ckpt_dir: str) -> dict[str, float]:
    """Lineage walls of one completed iteration, its bytes on disk, and
    the cost of the two things the checkpoint layer does after each
    write: the per-partition row-count job and the stage re-read."""
    import json

    from pyspark.sql import functions as F

    from batch_phase import STAGES

    out: dict[str, float] = {}
    count_s = read_s = 0.0
    for name in STAGES:
        with open(os.path.join(ckpt_dir, "_lineage", f"{name}.json")) as handle:
            out[f"checkpoint.{name}.wall_s"] = float(json.load(handle)["wall_seconds"])
        path = os.path.join(ckpt_dir, name)
        t0 = time.perf_counter()
        frame = spark.read.parquet(path)
        read_s += time.perf_counter() - t0
        t0 = time.perf_counter()
        frame.groupBy(F.spark_partition_id().alias("partition_id")).count().collect()
        count_s += time.perf_counter() - t0
    out["checkpoint.bytes_written"] = sum(
        os.path.getsize(os.path.join(root, f))
        for root, _dirs, files in os.walk(ckpt_dir)
        for f in files
    )
    out["checkpoint.count_job_s"] = count_s
    out["checkpoint.read_s"] = read_s
    return out


def iteration_metrics(spark, span: Span) -> dict[str, float]:
    """Jobs, tasks, shuffle and spill bytes of one whole pipeline
    iteration (``span``), the driver JVM's peak RSS and the host's steal
    share while it ran."""
    jvm_pid = spark._jvm.ProcessHandle.current().pid()
    return {
        "spark.jobs": span.jobs,
        "spark.tasks": span.tasks,
        "spark.shuffle_bytes": span.total("shuffle bytes written"),
        "spark.spill_bytes": span.total("spill size"),
        "driver.peak_rss_mb": peak_rss_mb(jvm_pid),
        "host.steal_pct": span.steal_pct,
    }


def stream_metrics(phase, arrivals) -> dict[str, float]:
    """Micro-batch progress of the batches that read ``arrivals``' files."""
    from stream_phase import file_batches

    batches = file_batches(phase.checkpoint)
    ids = {batches[name] for name, *_ in arrivals.written if name in batches}
    # idle triggers also report progress, under the id of the next batch
    progress = [
        p for p in phase.query.recentProgress if p["batchId"] in ids and p["numInputRows"] > 0
    ]

    def median_ms(key):
        return statistics.median(p["durationMs"].get(key, 0) for p in progress) / 1000.0

    state = [p["stateOperators"][0]["numRowsTotal"] for p in progress if p.get("stateOperators")]
    return {
        "stream.batches": len(ids),
        "stream.batch_s": median_ms("triggerExecution"),
        "stream.planning_s": median_ms("queryPlanning"),
        "stream.add_batch_s": median_ms("addBatch"),
        "stream.wal_commit_s": median_ms("walCommit"),
        "stream.rows_per_batch": statistics.median(p["numInputRows"] for p in progress),
        "stream.state_rows": state[-1] if state else 0,
        "stream.generator_lag_s": max(done - due for _, due, done, _ in arrivals.written),
    }

#!/usr/bin/env python3
"""KG-pipeline benchmark: one workload, one seed, one JSON result.

    python3 perfbench/run.py --workload dense_pairs --seed 1 --seconds 10 --trace 0

Run from the repository root. Each run generates its workload from the
seed, starts one Spark session sized to the host, warms up, then
measures warm ``run_kg_pipeline`` iterations, each followed by a resume
after a simulated kill. ``--trace 1`` instead runs one iteration in a
span, times each KG layer on its own and runs an open loop of arrivals
into ``stream_extract_triples`` (see README.md). Every output is checked
against a Spark-free reference. The last line of standard output is the
result object.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("dense_pairs", "wide_vocab")
WARM_SHARE = 4  # the warm-up pipeline runs on the first 1/WARM_SHARE of the turns
STREAM_WARM_S = 4.0


def host_settings(work: str) -> dict[str, str]:
    """Host fit through the program's own environment knobs."""
    with open("/proc/meminfo") as handle:
        total_gib = int(handle.readline().split()[1]) // (1024 * 1024)
    settings = {
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        # a quarter of RAM, at most 4g: the box has no swap and is shared
        "SPARK_DRIVER_MEM": f"{max(1, min(4, total_gib // 4))}g",
        "SPARK_LOCAL_DIR": os.path.join(work, "spark-local"),
        "TMPDIR": os.path.join(work, "tmp"),
    }
    os.environ.update(settings)
    # the program's cross-process stage cache would make runs warm or
    # cold depending on what an earlier run left behind
    os.environ.pop("SHERLOCK_STAGE_DIR", None)
    os.makedirs(settings["TMPDIR"], exist_ok=True)
    return settings


def tail(values: list[float]) -> float:
    """Highest order statistic with at least ten samples beyond it."""
    ordered = sorted(values)
    return ordered[max(0, len(ordered) - 11)]


def start_spark(work: str):
    from sherlock_spark.session import get_spark

    tmp = os.environ["TMPDIR"]
    return get_spark(
        "perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            # no hsperfdata file in the system temp dir
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        },
    )


def stop_spark(spark) -> None:
    """Stop the session, then end the JVM and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def run(args, work: str, settings: dict[str, str]) -> dict:
    import gen
    import reference
    from batch_phase import BatchPhase
    from sparkmetrics import Span, load_1m, steal_ticks

    info: dict = {"workload": args.workload, "seed": args.seed, "settings": settings}
    setup = {"import_s": time.perf_counter() - T_START}

    t0 = time.perf_counter()
    workload = gen.generate(args.workload, args.seed)
    warm_turns = workload.turns[: len(workload.turns) // WARM_SHARE]
    sources = {}
    for name, turns in (("source", workload.turns), ("warm-source", warm_turns)):
        sources[name] = os.path.join(work, name)
        os.makedirs(sources[name])
        gen.write_turns(turns, os.path.join(sources[name], "part-00000.parquet"))
    setup["gen_s"] = time.perf_counter() - t0

    t0 = time.perf_counter()
    spark = start_spark(work)
    setup["session_s"] = time.perf_counter() - t0
    metrics: dict[str, float] = {}
    stream_failed = stream_attempted = 0
    try:
        # the Spark-free reference is verification cost, outside set-up
        t0 = time.perf_counter()
        reference.check_no_cutoff(workload.turns + workload.stream_turns)
        nodes, edges, info["reference"] = reference.graph_reference(
            workload.turns, workload.lexicon, workload.aliases
        )
        warm_nodes, warm_edges, _ = reference.graph_reference(
            warm_turns, workload.lexicon, workload.aliases
        )
        info["reference_s"] = time.perf_counter() - t0

        # warm-up: one pipeline over a slice of the same workload (JVM
        # JIT, Python workers, the lexicon broadcast), checked like the rest
        warm = BatchPhase(spark, workload, sources["warm-source"], os.path.join(work, "warm"),
                          (warm_nodes, warm_edges))
        t0 = time.perf_counter()
        warm.pipeline()
        setup["warmup_s"] = time.perf_counter() - t0

        batch = BatchPhase(spark, workload, sources["source"], os.path.join(work, "batch"), (nodes, edges))
        steal0, load0 = steal_ticks(), load_1m()
        if args.trace:
            import layers

            with Span(spark, "pipeline") as span:
                batch.pipeline()
            metrics.update(layers.iteration_metrics(spark, span))
            metrics.update(layers.checkpoint_metrics(spark, batch.last_dir))
            batch.resume()
            metrics.update(layers.layer_metrics(spark, workload, batch.transcripts, batch.last_dir))
            metrics["trace.pipeline_s"] = span.wall_s
            metrics["trace.overhead_ratio"] = metrics["trace.layers_s"] / span.wall_s
            metrics["sources.gen_s"] = setup["gen_s"]
            stream_attempted, stream_failed = stream_run(spark, workload, work, args.seconds, metrics)
        else:
            deadline = time.perf_counter() + args.seconds
            while True:
                batch.pipeline()
                batch.resume()
                if time.perf_counter() >= deadline:
                    break
        info["steal_ticks"] = steal_ticks() - steal0
        info["load_1m"] = [load0, load_1m()]
        info["pipeline_walls"] = batch.pipeline_walls
        info["resume_walls"] = batch.resume_walls
        info["verify_s"] = warm.verify_s + batch.verify_s
        if batch.last_result is not None:
            info["stage_walls"] = {r["stage"]: r["wall_seconds"] for r in batch.last_result["lineage"]}
        info["setup"] = setup
        print(json.dumps({"info": info}), flush=True)
    finally:
        t0 = time.perf_counter()
        stop_spark(spark)
        print(json.dumps({"info": {"stop_s": time.perf_counter() - t0}}), flush=True)

    attempted = warm.attempted + batch.attempted + stream_attempted
    failed = warm.failed + batch.failed + stream_failed
    if not args.trace and batch.pipeline_walls and batch.resume_walls:
        pipeline_s = statistics.median(batch.pipeline_walls)
        metrics.update(
            {
                "setup_s": sum(setup.values()),
                "pipeline_s": pipeline_s,
                "turns_per_s": len(workload.turns) / pipeline_s,
                "resume_s": statistics.median(batch.resume_walls),
            }
        )
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {name: {"value": value, "unit": unit_of(name)} for name, value in metrics.items()},
    }


def stream_run(spark, workload, work: str, seconds: float, metrics: dict) -> tuple[int, int]:
    """Open-loop arrivals into ``stream_extract_triples``: a short warm-up
    then ``seconds`` of measured arrivals. Adds the stream metrics;
    returns (turns attempted, turns failed)."""
    import layers
    import reference
    from stream_phase import StreamPhase

    stream_ref = reference.stream_reference(workload.stream_turns, workload.lexicon)
    stream = StreamPhase(spark, workload, os.path.join(work, "stream"))
    try:
        warm = stream.arrive(STREAM_WARM_S, "warm")
        arrivals = stream.arrive(seconds, "run")
        latencies, _missing = stream.latencies(arrivals)
        metrics.update(layers.stream_metrics(stream, arrivals))
        failed = stream.failed_turns(arrivals, stream_ref) + stream.failed_turns(warm, stream_ref)
    finally:
        stream.stop()
    metrics["stream.offered_turns_per_s"] = workload.offered_turns_per_s
    metrics["stream.latency_samples"] = len(latencies)
    if latencies:  # none committed: every turn already counts as failed
        metrics["stream.commit_latency_p50_s"] = statistics.median(latencies)
        metrics["stream.commit_latency_tail_s"] = tail(latencies)
    attempted = (len(arrivals.written) + len(warm.written)) * workload.turns_per_file
    return attempted, failed


def unit_of(name: str) -> str:
    if name.endswith("per_s"):
        return "1/s"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes") or name == "checkpoint.bytes_written":
        return "B"
    if name.endswith("_mb"):
        return "MiB"
    if name.endswith("_pct"):
        return "%"
    if name.endswith("ratio"):
        return "ratio"
    return "count"


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    parser.add_argument("--workload", required=True, choices=WORKLOADS)
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "sherlock_spark")):
        print(f"perfbench: no sherlock_spark package under {ROOT}; run from a full checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    # a terminated run still stops its JVM and removes its work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        settings = host_settings(work)
        result = run(args, work, settings)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())

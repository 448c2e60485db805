"""N-vs-4N scaling evidence (BASELINE.md): run the flagship extraction
job at two parallelism levels on the same input, report throughput at
both and the scaling efficiency (throughput ratio / cores ratio).

The two-cluster-size criterion cannot use a real cluster in this
sandbox; the proxies, all reported:

- ``cluster`` (headline) — ``local-cluster[1,4,m]`` vs
  ``local-cluster[4,4,m]``: separate executor JVMs (own heap, own GC,
  own Python worker pool), per-executor shape held constant (4 cores /
  fixed memory) while the EXECUTOR COUNT scales 1 -> 4 — the faithful
  single-box model of adding cluster nodes. The 4-core shape keeps the
  pair's total demand (4 and 16 cores) inside the host's free capacity:
  this box is a 32-core KVM guest shared with external tenants whose
  background load is routinely 4-20, so any pair whose large side
  demands all 32 cores measures the host's contention, not the job's
  scaling (see the host-capacity probe below, recorded per run).
- ``cluster8`` — ``local-cluster[1,8,m]`` vs ``local-cluster[4,8,m]``:
  the same executor-count scaling with an 8-core shape. The large side
  wants all 32 host cores; reported for context WITH the probe's
  pure-CPU ceiling next to it.
- ``local`` — ``local[8]`` vs ``local[32]``: one JVM, thread count
  scaled. Kept for comparability with earlier rounds; shares the
  host-saturation caveat AND a single-heap/GC artifact.

Host-capacity probe: before the Spark runs, a pure-Python
multiprocessing busy-loop (no memory pressure, no IPC) measures the
box's own N-vs-4N throughput ratio at the same core counts. That is the
ceiling ANY job can show here; Spark efficiencies are reported alongside
it, not against an assumed ideal of 1.0.

Protocol per configuration: ``--rounds`` interleaved fresh-JVM
invocations (a SparkSession's master is fixed for the JVM's lifetime),
each doing 2 uncounted warmup runs then min-of-``--reps`` measured runs;
overall min per config. Interleaving samples the same external-load
epochs for both configs; each rep records the 1-minute load immediately
BEFORE the measured run (external + any still-decaying own load).

Usage: python tools/bench_scaling.py [--sf-dir DIR] [--reps N]
       [--rounds N] [--replicate N] [--modes cluster,cluster8,local]
Writes BENCH.md and prints the JSON result.
"""

from __future__ import annotations

import argparse
import json
import multiprocessing
import os
import subprocess
import sys
import time

WORKER = r"""
import json, sys, time, os
sys.path.insert(0, "/root/repo")
from pyspark.sql import functions as F
from sherlock_spark.session import get_spark
from sherlock_spark.sources.transcripts import transcripts_from_documents
from sherlock_spark.operators.ner import annotate_mentions
from sherlock_spark.operators.rc import extract_triples
from sherlock_spark.model_stub import DEFAULT_NER_LEXICON, DEFAULT_RC_LABELS

import shutil, tempfile

master = sys.argv[1]
cores = int(sys.argv[2])
sf_dir = sys.argv[3]
reps = int(sys.argv[4])
replicate = int(sys.argv[5])
executor_mem = sys.argv[6]

extra = {}
if master.startswith("local-cluster"):
    # executors own the heap; the driver only plans/collects counts
    extra = {
        "spark.executor.memory": executor_mem,
        "spark.driver.memory": "6g",
    }
spark = get_spark(
    "scaling", cores=cores, shuffle_partitions=max(cores, 8),
    master=(None if master == "local" else master), extra_conf=extra,
)
spark.range(1000).count()  # warm JVM + workers

# UNMEASURED PREP: materialize the replicated transcript table as a
# partitioned parquet dir with a FIXED file count (identical content at
# both core counts). The north-rule input is an Iceberg transcript
# table — at 10^12 turns the scan has millions of splits — so the
# measured job is scan -> extract -> count over a properly-partitioned
# table; synthesizing + reshuffling the corpus inside the measured
# window would charge the benchmark for a single-file-scan artifact the
# production job does not have.
N_INPUT_FILES = 128
docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
docs = docs.withColumn("rep", F.explode(F.sequence(F.lit(0), F.lit(replicate - 1))))
docs = docs.withColumn("doc_id", F.col("doc_id") * replicate + F.col("rep")).drop("rep")
input_dir = tempfile.mkdtemp(prefix="scaling_transcripts_")
transcripts_from_documents(docs, 100 * replicate).repartition(
    N_INPUT_FILES, F.col("conv_id")
).write.mode("overwrite").parquet(input_dir)
table = spark.read.parquet(input_dir)
turns = table.count()

def run():
    t = spark.read.parquet(input_dir)
    ann = annotate_mentions(spark, t, DEFAULT_NER_LEXICON)
    return extract_triples(
        spark, ann, DEFAULT_RC_LABELS, None,
        entity_handling="mark_entity", max_length=None, max_mentions=16,
    )

# two uncounted warmup runs (JIT/janino warmup spans more than one run
# at 32 threads; Python worker pool + imports on the first), then
# min-of-``reps`` measured runs in the same JVM — steady-state per
# config; min-taking across interleaved subprocess invocations happens
# in the parent
run().count()
run().count()
def steal_ticks():
    # hypervisor CPU steal (col 8 of /proc/stat): the co-tenant-VM
    # signal this guest's loadavg cannot see
    try:
        with open("/proc/stat") as f:
            return int(f.readline().split()[8])
    except (OSError, IndexError, ValueError):
        return 0

best = None
best_pre_load = None
best_steal = None
count = 0
pre_loads = []
steals = []
for _ in range(reps):
    pre = os.getloadavg()[0]
    pre_loads.append(round(pre, 1))
    s0 = steal_ticks()
    t0 = time.time()
    count = run().count()
    dt = time.time() - t0
    stl = round((steal_ticks() - s0) / dt, 1) if dt > 0 else 0.0
    steals.append(stl)
    if best is None or dt < best:
        best = dt
        best_pre_load = round(pre, 1)
        best_steal = stl
print(json.dumps({
    "master": master, "cores": cores, "seconds": round(best, 3),
    "triples": count, "turns": turns,
    "triples_per_sec": round(count / best, 1),
    "turns_per_sec": round(turns / best, 1),
    "pre_load_best_rep": best_pre_load,
    "pre_loads": pre_loads,
    # % of ONE core stolen by the hypervisor during each rep / the
    # best rep — near 0 in clean epochs, hundreds when a co-tenant VM
    # holds the physical cores (walls then measure the host, not the job)
    "steal_pct_best_rep": best_steal,
    "steal_pcts": steals,
}))
spark.stop()
shutil.rmtree(input_dir, ignore_errors=True)
"""


def run_config(
    master: str, cores: int, sf_dir: str, reps: int, replicate: int,
    executor_mem: str,
) -> dict:
    out = subprocess.run(
        [
            sys.executable, "-c", WORKER, master, str(cores), sf_dir,
            str(reps), str(replicate), executor_mem,
        ],
        capture_output=True,
        text=True,
        cwd="/root/repo",
        timeout=2400,
    )
    for line in out.stdout.strip().splitlines():
        if line.startswith("{"):
            return json.loads(line)
    raise RuntimeError(f"worker failed: {out.stderr[-2000:]}")


MODE_CONFIGS = {
    # mode -> (small_master, small_cores, large_master, large_cores, mem)
    "cluster": (
        "local-cluster[1,4,12288]", 4,
        "local-cluster[4,4,12288]", 16, "12g",
    ),
    "cluster8": (
        "local-cluster[1,8,16384]", 8,
        "local-cluster[4,8,16384]", 32, "16g",
    ),
    "local": ("local", 8, "local", 32, "16g"),
}


def _burn(n: int) -> int:
    x = 0
    for i in range(n):
        x += i * i % 7
    return x


def host_probe(pairs: list[tuple[int, int]], total: int = 800_000_000) -> dict:
    """Pure-CPU N-vs-4N ceiling: fixed total busy-loop work split over
    N then 4N warm processes. No memory pressure, no IPC — the best
    ratio ANY job could show on this host right now."""
    results = {}
    for small, large in pairs:
        rates = {}
        for procs in (small, large):
            with multiprocessing.Pool(procs) as pool:
                pool.map(_burn, [1000] * procs * 4)  # warm forks
                t0 = time.time()
                pool.map(_burn, [total // (procs * 4)] * procs * 4)
                rates[procs] = total / (time.time() - t0)
        results[f"{small}->{large}"] = {
            "small_cores": small,
            "large_cores": large,
            "speedup": round(rates[large] / rates[small], 3),
            "ceiling_efficiency": round(
                rates[large] / rates[small] / (large / small), 3
            ),
            "load_1m": round(os.getloadavg()[0], 1),
        }
    return results


def measure_mode(mode: str, args) -> dict:
    small_master, small_cores, large_master, large_cores, mem = (
        MODE_CONFIGS[mode]
    )
    small_runs: list[dict] = []
    large_runs: list[dict] = []
    # interleave configurations so external load epochs (the host is
    # shared and bursty) hit both configs symmetrically; min per config
    for _ in range(args.rounds):
        small_runs.append(run_config(
            small_master, small_cores, args.sf_dir, args.reps,
            args.replicate, mem))
        large_runs.append(run_config(
            large_master, large_cores, args.sf_dir, args.reps,
            args.replicate, mem))
    small = min(small_runs, key=lambda r: r["seconds"])
    large = min(large_runs, key=lambda r: r["seconds"])
    speedup = small["seconds"] / large["seconds"]
    cores_ratio = large_cores / small_cores
    return {
        "mode": mode,
        "small": small,
        "large": large,
        "speedup": round(speedup, 3),
        "cores_ratio": cores_ratio,
        "scaling_efficiency": round(speedup / cores_ratio, 3),
    }


def main() -> None:
    parser = argparse.ArgumentParser()
    parser.add_argument("--sf-dir", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    parser.add_argument("--reps", type=int, default=3)
    parser.add_argument("--rounds", type=int, default=2)
    parser.add_argument("--replicate", type=int, default=40)
    parser.add_argument("--modes", default="cluster,cluster8,local")
    parser.add_argument("--skip-probe", action="store_true")
    args = parser.parse_args()

    modes = [m.strip() for m in args.modes.split(",")]
    probe = {}
    if not args.skip_probe:
        pairs = sorted(
            {(MODE_CONFIGS[m][1], MODE_CONFIGS[m][3]) for m in modes}
        )
        probe = host_probe(pairs)
        print(json.dumps({"host_probe": probe}))

    results = {}
    for mode in modes:
        results[mode] = measure_mode(mode, args)
        print(json.dumps(results[mode]))

    with open("/root/repo/BENCH.md", "w") as handle:
        handle.write(render_bench_md(args, results, probe))
    print("wrote BENCH.md", file=sys.stderr)


def render_bench_md(args, results: dict, probe: dict) -> str:
    any_result = next(iter(results.values()))
    turns = any_result["small"]["turns"]
    lines = [f"""# BENCH — measured throughput and N-vs-4N scaling

Flagship job: full triple extraction (partitioned transcript-table scan
-> fused tokenize+NER+span-decode (one iterator pandas UDF) -> per-turn
mention texts -> round-robin turn exchange -> index-pair explode -> RC model
forward (pandas UDF) -> argmax -> no_relation filter -> count). The
input is a 128-file parquet transcript table materialized (unmeasured)
from `{args.sf_dir}/documents.parquet` replicated x{args.replicate}
({turns} turns) — the north-rule input is a partitioned Iceberg
transcript table, so the measured job reads one like production would
instead of synthesizing + reshuffling the corpus inside the measured
window.

Protocol per configuration: {args.rounds} interleaved fresh-JVM
invocations, each doing 2 uncounted warmup runs then min-of-{args.reps}
measured runs; overall min per config. The host is shared with other
tenants (1-min load observed anywhere from 0.2 to 40), so configs are
interleaved to sample the same noise epochs, the min damps external
bursts, and every rep records the 1-minute load immediately before it
started (`pre_loads`; the best rep's is shown).
"""]
    if probe:
        lines.append("""
## Host-capacity probe (pure-CPU ceiling)

This box is a 32-core KVM guest shared with external tenants
(background load routinely 4-20). Before the Spark runs, a pure-Python
multiprocessing busy-loop (no memory, no IPC, warm processes, fixed
total work) measured the host's own N-vs-4N throughput ratio — the
ceiling ANY job can show here right now:

| cores (N -> 4N) | pure-CPU speedup | ceiling efficiency | load_1m |
|---|---|---|---|
""")
        for pair in probe.values():
            lines.append(
                f"| {pair['small_cores']} -> {pair['large_cores']} | "
                f"{pair['speedup']}x | {pair['ceiling_efficiency']} | "
                f"{pair['load_1m']} |\n"
            )
        lines.append(
            "\nSpark efficiencies below are read against the matching "
            "ceiling row, not against an assumed ideal of 1.0: a pair "
            "whose large side demands all 32 host cores competes with "
            "the external tenants for every core and measures the "
            "host, not the job.\n"
        )
    titles = {
        "cluster": (
            "## HEADLINE — multi-executor `local-cluster`, 4-core "
            "shape (1 -> 4 executors)\n\nSeparate executor JVMs (own "
            "heap/GC/Python pool), per-executor shape constant (4 "
            "cores, 12g), executor COUNT scales 1 -> 4 — the faithful "
            "single-box model of adding cluster nodes. Total demand (4 "
            "and 16 cores) stays inside the host's free capacity, so "
            "this pair measures the JOB's scaling, not host "
            "saturation."
        ),
        "cluster8": (
            "## Context — multi-executor `local-cluster`, 8-core shape "
            "(1 -> 4 executors)\n\nSame executor-count scaling with an "
            "8-core shape: the large side wants ALL 32 host cores, so "
            "this pair is bounded by the host-capacity ceiling above "
            "(external tenants keep several cores busy at all times)."
        ),
        "local": (
            "## Context — single JVM, `local[8]` vs `local[32]`\n\nOne "
            "JVM, thread count scaled; shares the 32-core saturation "
            "caveat AND a single-heap/GC artifact a real cluster does "
            "not have (kept for comparability with earlier rounds)."
        ),
    }
    for mode, result in results.items():
        small, large = result["small"], result["large"]
        lines.append(f"""
{titles[mode]}

| config | wall (s) | triples | triples/sec | turns/sec | pre-run load_1m (best rep) | steal % (best rep) |
|---|---|---|---|---|---|---|
| {small['master']} = {small['cores']} cores (N) | {small['seconds']} | {small['triples']} | {small['triples_per_sec']} | {small['turns_per_sec']} | {small['pre_load_best_rep']} | {small.get('steal_pct_best_rep', 'n/a')} |
| {large['master']} = {large['cores']} cores (4N) | {large['seconds']} | {large['triples']} | {large['triples_per_sec']} | {large['turns_per_sec']} | {large['pre_load_best_rep']} | {large.get('steal_pct_best_rep', 'n/a')} |

- speedup (N -> 4N): **{result['speedup']}x** on a {result['cores_ratio']:.0f}x core ratio
- **scaling efficiency: {result['scaling_efficiency']}** (target >= 0.8)
""")
    lines.append(f"""
Reproduce: `python tools/bench_scaling.py --sf-dir {args.sf_dir}`.
Per-query timings: `SPARK_GRAFT_CPUS=32 python bench.py`.
Connected-components scale run: `python tools/bench_cc_scale.py`.
""")
    return "".join(lines)


if __name__ == "__main__":
    main()

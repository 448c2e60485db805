"""SparkSession factory with scale-oriented defaults.

Local-mode testing uses ``local[N]``; the config block is written so the
same settings are correct on a multi-executor cluster (AQE, skew join,
Arrow batching for the model UDFs).
"""

from __future__ import annotations

import os
import tempfile
import zipfile

from pyspark.sql import SparkSession

# Model UDFs sub-batch internally (see operators/ner.py, operators/rc.py);
# the Arrow batch is the unit of Python<->JVM transfer, keep it large.
ARROW_BATCH_ROWS = 2048


def _default_driver_memory() -> str:
    """Half of this host's physical RAM, capped at 64g, in Spark's
    ``<n>m`` form."""
    ram = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    return f"{min(ram // 2, 64 << 30) >> 20}m"


def get_spark(
    app_name: str = "sherlock_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    master: str | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``cores`` defaults to $SPARK_GRAFT_CPUS or all local cores. On a real
    cluster this function is still the single place where engine tuning
    lives; ``master`` is then injected by spark-submit and the
    ``local[...]`` default is ignored. Pass ``master`` explicitly for
    the multi-executor proxy (``local-cluster[n,c,mem_mb]`` — separate
    executor JVMs with their own heaps/GC, the closest single-box model
    of a real cluster; pair with ``spark.executor.memory`` via
    ``extra_conf``).
    """
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    if shuffle_partitions is None:
        # one shuffle partition per core locally; on a cluster this is
        # superseded by AQE coalescing from an intentionally higher start.
        shuffle_partitions = max(cores, 8)

    builder = (
        SparkSession.builder.master(master or f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch",
            str(ARROW_BATCH_ROWS),
        )
        # Reuse Python workers so per-executor model singletons survive
        # across tasks (the stand-in for sherlock's one-time model load,
        # reference: sherlock/annotators/spacy.py:17,24-55), and so does
        # the zip-import guard that spares each later task's archive
        # re-reads (executor.py).
        .config("spark.python.worker.reuse", "true")
        # local mode: the driver JVM is the whole engine. The explode-
        # heavy extraction stages allocate proportionally to concurrency;
        # an undersized heap turns GC into a serialized resource and
        # *inverts* scaling (measured: 32 tasks 5x slower at 24g than
        # 64g on a 128 GiB box). An oversized one gets the JVM killed by
        # the kernel OOM killer, hence half of physical RAM (cap 64g).
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEM", _default_driver_memory()),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # One BLAS/OMP thread per task Python: Spark already runs one
        # task per core, so a torch/numpy forward that fans out its own
        # thread pool oversubscribes the executor by cores^2 (SURVEY §4,
        # reference run_all_langs.sh:3-5 pins the same). Inert for the
        # stub models; load-bearing once the real-model backend
        # (operators/real_model.py) activates.
        .config("spark.executorEnv.OMP_NUM_THREADS", "1")
        .config("spark.executorEnv.MKL_NUM_THREADS", "1")
        .config("spark.executorEnv.OPENBLAS_NUM_THREADS", "1")
    )
    # Shuffle/spill scratch: Spark's own default (the JVM temp dir)
    # unless SPARK_LOCAL_DIR names one. A tmpfs default would hold
    # spilled data in the RAM the heap needs.
    if "SPARK_LOCAL_DIR" in os.environ:
        builder = builder.config("spark.local.dir", os.environ["SPARK_LOCAL_DIR"])
    for key, value in (extra_conf or {}).items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    _ship_package(spark)
    return spark


def build_pyfiles_zip(target: str | None = None) -> str:
    """Zip the sherlock_spark package for ``spark-submit --py-files`` /
    ``addPyFile`` distribution. Returns the zip path.
    """
    package_dir = os.path.dirname(os.path.abspath(__file__))
    if target is None:
        target = os.path.join(tempfile.gettempdir(), "sherlock_spark_pyfiles.zip")
    with zipfile.ZipFile(target, "w", zipfile.ZIP_DEFLATED) as archive:
        for root, _dirs, files in os.walk(package_dir):
            if "__pycache__" in root:
                continue
            for name in files:
                if not name.endswith(".py"):
                    continue
                full = os.path.join(root, name)
                rel = os.path.join(
                    "sherlock_spark", os.path.relpath(full, package_dir)
                )
                archive.write(full, rel)
    return target


def _ship_package(spark: SparkSession) -> None:
    """Make sherlock_spark importable on executor Python workers.

    Driver-side ``sys.path`` does not propagate to workers; the package
    must travel via the files mechanism (the local-mode equivalent of
    ``spark-submit --py-files``). Idempotent per session.
    """
    if getattr(spark, "_sherlock_pyfiles_shipped", False):
        return
    try:
        spark.sparkContext.addPyFile(build_pyfiles_zip())
    except Exception:
        # e.g. a file with the same name already registered — workers
        # then already have the package
        pass
    spark._sherlock_pyfiles_shipped = True

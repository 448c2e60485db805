"""Durable stage materialization: the one writer behind the pipeline's
stage tables and ``udfcache.stage``'s cross-process stage cache.

The reference caches converted features to disk and reuses them on
restart (``run_binary_relation_clf.py:390-426``); the pipeline analogue
materializes every stage output to a table and skips completed stages
on rerun. ``<base>/<stage>/`` holds the table and
``<base>/_lineage/<stage>.json`` its lineage record, which is written
last and so is the completion marker: a data dir without one is a
crashed write and is rebuilt.

Storage: Iceberg WHEN a catalog is configured and its runtime jar is on
the classpath (``iceberg_catalog``; ``MERGE INTO`` idempotent upserts);
parquet otherwise. A parquet stage is written to
``<stage>.tmp-<applicationId>`` and renamed into place, so a killed
writer never leaves a half table under the stage name, and of two
concurrent writers the loser reads the winner's table. Key-based dedup
on write (``dropDuplicates`` / ``MERGE ... WHEN NOT MATCHED``) keeps a
rerun free of duplicates.

Lineage costs no extra Spark job over the data: a parquet write
observes ``n_rows`` itself (``DataFrame.observe``), rows per write task
come from the written files' metadata (parquet footers, or Iceberg's
``files`` metadata table, which also gives a merged table's row count),
and the recorded schema lets ``read_stage`` skip schema inference.
Every job a stage runs, in its build (a collect a builder needs) or in
its write, carries the job description ``stage <name>``.
"""

from __future__ import annotations

import glob
import json
import os
import re
import shutil
import time
from contextlib import contextmanager
from typing import Callable, Iterator, Optional

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


def iceberg_catalog(spark: SparkSession) -> Optional[str]:
    """Name of a usable Iceberg catalog, or None.

    A catalog is usable when (1) some ``spark.sql.catalog.<name>`` conf
    points at an Iceberg catalog implementation AND (2) that class is
    actually loadable (a configured catalog without the runtime jar
    would fail at first use, so detection verifies the classpath, not
    just the conf). On this sandbox there is no Iceberg jar, so the
    checkpoint manager always takes the parquet path; on a real cluster
    with ``--packages org.apache.iceberg:iceberg-spark-runtime-...``
    the SAME job routes stages through Iceberg with zero code change.
    """
    for row in spark.sql("SET").collect():
        match = re.fullmatch(r"spark\.sql\.catalog\.([^.]+)", row["key"])
        if match and "iceberg" in str(row["value"]).lower():
            try:
                spark._jvm.java.lang.Class.forName(str(row["value"]))
            except Exception:
                continue  # configured but jar absent: not usable
            return match.group(1)
    return None


@contextmanager
def _job_description(spark: SparkSession, text: str) -> Iterator[None]:
    """Label the Spark jobs run inside with ``text``, then restore the
    caller's description."""
    sc = spark.sparkContext
    previous = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(text)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.job.description", previous)


def _rows_per_partition(files: list[tuple[str, int]]) -> dict[str, int]:
    """Row counts of written data files summed per write task. Spark
    (``part-00003-...``) and Iceberg (``00003-...``) both name a data
    file after the partition id of the task that wrote it."""
    rows: dict[str, int] = {}
    for name, count in files:
        partition = str(int(re.search(r"\d+", os.path.basename(name)).group()))
        rows[partition] = rows.get(partition, 0) + count
    return rows


class CheckpointManager:
    def __init__(
        self,
        spark: SparkSession,
        base_dir: str,
        catalog: Optional[str] = None,
        namespace: str = "sherlock_ckpt",
    ) -> None:
        """``catalog``: an Iceberg catalog name to route stage tables
        through (``<catalog>.<namespace>.<stage>``); auto-detected via
        ``iceberg_catalog`` when omitted — parquet under ``base_dir``
        when none is usable. Lineage sidecars stay on the local path on
        both storage paths (they are driver-side bookkeeping)."""
        self.spark = spark
        self.base_dir = base_dir
        self.catalog = catalog if catalog is not None else iceberg_catalog(spark)
        self.namespace = namespace
        self.lineage_dir = os.path.join(base_dir, "_lineage")
        os.makedirs(self.lineage_dir, exist_ok=True)
        if self.catalog is not None:
            spark.sql(
                f"CREATE NAMESPACE IF NOT EXISTS "
                f"{self.catalog}.{self.namespace}"
            )

    # -- paths ----------------------------------------------------------

    def stage_path(self, stage: str) -> str:
        return os.path.join(self.base_dir, stage)

    def stage_table(self, stage: str) -> str:
        return f"{self.catalog}.{self.namespace}.`{stage}`"

    def _lineage_path(self, stage: str) -> str:
        return os.path.join(self.lineage_dir, f"{stage}.json")

    def is_complete(self, stage: str) -> bool:
        return os.path.exists(self._lineage_path(stage))

    # -- stage execution ------------------------------------------------

    def run_stage(
        self,
        stage: str,
        build: Callable[[], DataFrame],
        dedup_keys: Optional[list[str]] = None,
    ) -> DataFrame:
        """Run ``build`` unless the stage already completed; materialize
        it with lineage. Killed mid-write -> no lineage file -> rerun
        rebuilds from scratch (the write is atomic at stage granularity).
        """
        if self.is_complete(stage):
            return self.read_stage(stage)

        started = time.time()
        with _job_description(self.spark, f"stage {stage}"):
            df = build()
            if dedup_keys:
                df = df.dropDuplicates(dedup_keys)
            written = self._write(stage, df, dedup_keys)
        if written is not None:
            self._write_lineage(stage, df.schema, *written, dedup_keys, started)
        return self.read_stage(stage)

    def _write(
        self, stage: str, df: DataFrame, dedup_keys: Optional[list[str]]
    ) -> Optional[tuple[int, list[tuple[str, int]]]]:
        """Write ``df`` as the stage's table. Returns the table's row
        count and (file, rows) of its data files, or None when a
        concurrent writer completed the stage first."""
        if self.catalog is not None:
            table = self.stage_table(stage)
            if dedup_keys and self.spark.catalog.tableExists(table):
                # stage names are directory-safe, not necessarily SQL
                # identifiers — sanitize the view name; drop it even
                # when the MERGE fails (a leaked session-global temp
                # view would shadow the next attempt's data)
                view = "_updates_" + re.sub(r"\W", "_", stage)
                df.createOrReplaceTempView(view)
                try:
                    on = " AND ".join(
                        f"t.{key} <=> s.{key}" for key in dedup_keys
                    )
                    self.spark.sql(
                        f"MERGE INTO {table} t USING {view} s ON {on} "
                        f"WHEN NOT MATCHED THEN INSERT *"
                    )
                finally:
                    self.spark.catalog.dropTempView(view)
            else:
                df.writeTo(table).using("iceberg").createOrReplace()
            # a MERGE keeps earlier commits' rows: count the table, not
            # the frame
            files = [
                (row["file_path"], row["record_count"])
                for row in self.spark.read.table(f"{table}.files")
                .select("file_path", "record_count")
                .collect()
            ]
            return sum(rows for _, rows in files), files

        path = self.stage_path(stage)
        tmp = f"{path}.tmp-{self.spark.sparkContext.applicationId}"
        observation = Observation()
        try:
            df.observe(observation, F.count(F.lit(1)).alias("n_rows")).write.mode(
                "overwrite"
            ).parquet(tmp)
        except Exception:
            shutil.rmtree(tmp, ignore_errors=True)
            raise
        files = [
            (name, pq.read_metadata(os.path.join(tmp, name)).num_rows)
            for name in os.listdir(tmp)
            if name.endswith(".parquet") and not name.startswith((".", "_"))
        ]
        if os.path.exists(path) and not self.is_complete(stage):
            shutil.rmtree(path)  # a crashed write's partial table
        try:
            os.rename(tmp, path)
        except OSError:
            shutil.rmtree(tmp, ignore_errors=True)
            return None
        return observation.get["n_rows"], files

    def _write_lineage(
        self,
        stage: str,
        schema: StructType,
        n_rows: int,
        files: list[tuple[str, int]],
        dedup_keys: Optional[list[str]],
        started: float,
    ) -> None:
        partition_rows = _rows_per_partition(files)
        lineage = {
            "stage": stage,
            "storage": "parquet" if self.catalog is None else "iceberg",
            "n_rows": int(n_rows),
            "n_partitions": len(partition_rows),
            "partition_rows": partition_rows,
            "dedup_keys": dedup_keys,
            "schema": schema.json(),
            "wall_seconds": round(time.time() - started, 3),
        }
        tmp_lineage = self._lineage_path(stage) + ".tmp"
        with open(tmp_lineage, "w") as handle:
            json.dump(lineage, handle, indent=2)
        os.rename(tmp_lineage, self._lineage_path(stage))

    def read_stage(self, stage: str) -> DataFrame:
        """The stage's table, read with its recorded schema (no
        inference job). Dispatches on the storage the stage was
        WRITTEN with, not the currently detected mode: a parquet
        checkpoint stays resumable after the job gains an Iceberg
        runtime (and vice versa)."""
        record = self.lineage(stage) if self.is_complete(stage) else {}
        storage = record.get("storage") or (
            "parquet" if self.catalog is None else "iceberg"
        )
        if storage == "iceberg":
            return self.spark.read.table(self.stage_table(stage))
        reader = self.spark.read
        if "schema" in record:
            reader = reader.schema(StructType.fromJson(json.loads(record["schema"])))
        return reader.parquet(self.stage_path(stage))

    def lineage(self, stage: str) -> dict:
        with open(self._lineage_path(stage)) as handle:
            return json.load(handle)

    def all_lineage(self) -> list[dict]:
        records = []
        for name in sorted(os.listdir(self.lineage_dir)):
            if name.endswith(".json"):
                with open(os.path.join(self.lineage_dir, name)) as handle:
                    records.append(json.load(handle))
        return records

    def invalidate(self, stage: str) -> None:
        """Drop the stage: lineage first (so it reads as incomplete),
        then its table and any writer's leftover tmp dir."""
        if os.path.exists(self._lineage_path(stage)):
            os.remove(self._lineage_path(stage))
        if self.catalog is not None:
            self.spark.sql(
                f"DROP TABLE IF EXISTS {self.stage_table(stage)}"
            )
        path = self.stage_path(stage)
        for leftover in [path, *glob.glob(glob.escape(path) + ".tmp-*")]:
            shutil.rmtree(leftover, ignore_errors=True)

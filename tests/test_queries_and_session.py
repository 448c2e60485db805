"""Reader memo of the query registry and the host-fit session defaults."""

import os

from sherlock_spark import queries
from sherlock_spark.session import _default_driver_memory


def test_load_sees_a_table_regenerated_in_place(spark, tmp_path):
    sf_dir = str(tmp_path)
    path = f"{sf_dir}/t.parquet"
    spark.range(3).write.parquet(path)
    assert queries._load(spark, sf_dir, "t").count() == 3
    spark.range(10, 15).write.mode("overwrite").parquet(path)
    reloaded = queries._load(spark, sf_dir, "t")
    assert sorted(r.id for r in reloaded.collect()) == [10, 11, 12, 13, 14]
    # unchanged on disk: the memoized handle is served again
    assert queries._load(spark, sf_dir, "t") is reloaded


def test_default_driver_heap_is_half_of_ram_capped_at_64g():
    ram_mib = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") >> 20
    heap = _default_driver_memory()
    assert heap.endswith("m")
    assert int(heap[:-1]) == min(ram_mib // 2, 64 << 10)


def test_scratch_dir_is_sparks_own_unless_overridden(spark):
    """No tmpfs default for shuffle and spill scratch: ``spark.local.dir``
    is set only from SPARK_LOCAL_DIR."""
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.local.dir") == os.environ.get("SPARK_LOCAL_DIR")

"""ensure_parallelism (functions/parallelism.py): fires only on
under-parallel scan chains, never downstream of a shuffle, and never
runs a Spark job at plan-construction time."""

import pytest

from pyspark.sql import functions as F

from cl_readability_spark.functions.parallelism import ensure_parallelism

pytestmark = pytest.mark.spark


def test_floors_small_scan_to_shuffle_partitions(spark, tmp_path):
    path = str(tmp_path / "small.parquet")
    spark.range(1000).coalesce(1).write.parquet(path)  # 1 file, 1 row group
    df = spark.read.parquet(path).select("id", (F.col("id") * 2).alias("x"))
    target = int(spark.conf.get("spark.sql.shuffle.partitions"))
    out = ensure_parallelism(df)
    assert "Exchange" in out._jdf.queryExecution().executedPlan().toString()
    assert out.rdd.getNumPartitions() == target
    assert sorted(r["x"] for r in out.collect()) == [2 * i for i in range(1000)]


def test_noop_downstream_of_shuffle_and_for_local_frames(spark, tmp_path):
    path = str(tmp_path / "small2.parquet")
    spark.range(100).coalesce(1).write.parquet(path)
    shuffled = spark.read.parquet(path).repartition(3, "id")
    assert ensure_parallelism(shuffled) is shuffled
    local = spark.createDataFrame([(1,), (2,)], "a int")
    assert ensure_parallelism(local) is local
    assert ensure_parallelism(shuffled, min_partitions=1) is shuffled


def test_probe_is_action_free(spark, tmp_path):
    """The probe must not execute upstream stages (the AQE .rdd trap)."""
    import pandas as pd

    path = str(tmp_path / "probe.parquet")
    spark.range(50).coalesce(1).write.parquet(path)
    acc = spark.sparkContext.accumulator(0)

    def _counting(batches):
        for pdf in batches:
            acc.add(len(pdf))
            yield pdf

    base = spark.read.parquet(path)
    df = base.repartition(2).mapInPandas(_counting, base.schema)
    ensure_parallelism(df)
    ensure_parallelism(base.select("id"))
    assert acc.value == 0


def test_noop_for_non_local_file_uris(spark, tmp_path):
    """Footers are read with local file APIs, so a scan of object-storage
    URIs has an unknown split count and is left as planned."""
    path = str(tmp_path / "remote.parquet")
    spark.range(100).coalesce(1).write.parquet(path)
    df = spark.read.parquet(path)
    local = df.inputFiles()
    assert all(f.startswith("file:") for f in local)
    df.inputFiles = lambda: [f.replace("file:", "s3a://bucket", 1) for f in local]
    assert ensure_parallelism(df) is df
    df.inputFiles = lambda: local
    assert ensure_parallelism(df) is not df

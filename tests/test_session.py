"""build_spark's local master width (pipeline/session.py)."""

import os

from pyspark.sql import SparkSession

from cl_readability_spark.pipeline.session import build_spark


def _options(monkeypatch, env_cpus, **kwargs):
    # stop at the builder: its options are what the session would start with
    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", lambda self: dict(self._options))
    monkeypatch.setattr(os, "sched_getaffinity", lambda pid: {0, 1, 2})
    if env_cpus is None:
        monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    else:
        monkeypatch.setenv("SPARK_GRAFT_CPUS", env_cpus)
    return build_spark(**kwargs)


def test_default_cores_follow_cpu_affinity(monkeypatch):
    opts = _options(monkeypatch, None)
    assert opts["spark.master"] == "local[3]"
    assert opts["spark.sql.shuffle.partitions"] == "8"


def test_env_and_argument_override_default_cores(monkeypatch):
    assert _options(monkeypatch, "6")["spark.master"] == "local[6]"
    assert _options(monkeypatch, "6", cores=2)["spark.master"] == "local[2]"

"""The cluster session profile must be the SCALING.md table, executable:
conf-dict unit tests (no second SparkSession is started — Spark shares
one JVM session per process, so the profile is asserted at the dict
level) plus the reference-properties -> executor-hint mapping."""

from __future__ import annotations

import pytest

from inf2106_map_reduce_spark.mrlite.config import cluster_hints
from inf2106_map_reduce_spark.session import _SCALE_DEFAULTS, cluster_conf


def test_cluster_conf_applies_scaling_formulas():
    conf = cluster_conf(executors=1000, cores_per_executor=8)
    # ~2.5x total cores (SCALING.md: 2-3x, err high; AQE coalesces)
    assert conf["spark.sql.shuffle.partitions"] == str(int(1000 * 8 * 2.5))
    # 256 MB scan tasks for wide fact tables
    assert conf["spark.sql.files.maxPartitionBytes"] == str(256 * 1024 * 1024)
    # straggler mitigation on (the reference's kill-and-reschedule)
    assert conf["spark.speculation"] == "true"


def test_cluster_conf_scales_with_executor_count():
    small = cluster_conf(executors=10, cores_per_executor=4)
    assert small["spark.sql.shuffle.partitions"] == "100"


def test_cluster_profile_overrides_local_defaults_only_where_documented():
    conf = dict(_SCALE_DEFAULTS)
    conf.update(cluster_conf())
    # overridden keys
    assert conf["spark.speculation"] == "true"
    assert conf["spark.sql.shuffle.partitions"] == "20000"
    # untouched scale defaults survive (AQE, UTC, Arrow)
    assert conf["spark.sql.adaptive.enabled"] == "true"
    assert conf["spark.sql.session.timeZone"] == "UTC"
    assert conf["spark.sql.execution.arrow.pyspark.enabled"] == "true"
    # the driver's compiler-thread cap survives; executors keep the
    # JVM's own JIT settings
    assert conf["spark.driver.defaultJavaOptions"] == "-XX:CICompilerCount=2"
    assert not [
        k for k in conf if k.startswith("spark.executor.") and "JavaOptions" in k
    ]


def test_live_driver_jvm_caps_compiler_threads(spark):
    """The shared session's JVM was launched with the driver JIT
    option (the conf dict alone does not prove it reached the JVM)."""
    bean = spark._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean()
    assert "-XX:CICompilerCount=2" in list(bean.getInputArguments())


def test_get_spark_rejects_unknown_profile():
    from inf2106_map_reduce_spark.session import get_spark

    with pytest.raises(ValueError, match="unknown profile"):
        get_spark(profile="bogus")


def test_cluster_hints_from_reference_properties():
    props = {
        "mapred.Workers.exec-nodes": "n01;n02;n03",
        "mapred.Mappers.number": "6",
    }
    assert cluster_hints(props) == {"executors": 3, "n_mappers": 6}
    # reference default: mappers = node count (MasterServant.java:183)
    assert cluster_hints({"mapred.Workers.exec-nodes": "n01;n02"}) == {
        "executors": 2,
        "n_mappers": 2,
    }
    # no nodes declared -> single-executor floor
    assert cluster_hints({})["executors"] == 1

"""Host-derived session defaults, checked without starting a JVM, and one
check against a live JVM that no fixed setting restates Spark's default."""

from pathlib import Path

import pytest

from wikdict_gen_spark.session import session_conf

GB = 2**30


def test_small_host_defaults():
    conf = session_conf(env={}, host=(4, 15 * GB))
    assert conf["spark.master"] == "local[4]"
    assert conf["spark.driver.memory"] == "6g"
    assert conf["spark.sql.shuffle.partitions"] == "4"
    # the JVM keeps its own flags: no pre-touched heap, no code-cache size
    assert "spark.driver.extraJavaOptions" not in conf
    assert "spark.local.dir" not in conf
    assert conf["spark.python.daemon.module"] == "wikdict_gen_spark.udf_daemon"
    # the JVM finds the daemon module whatever the driver's working directory
    daemon = Path(conf["spark.executorEnv.PYTHONPATH"]) / "wikdict_gen_spark/udf_daemon.py"
    assert daemon.is_file()


def test_large_host_defaults():
    conf = session_conf(env={}, host=(32, 125 * GB))
    assert conf["spark.master"] == "local[32]"
    assert conf["spark.driver.memory"] == "50g"


def test_overrides():
    env = {"SPARK_GRAFT_CPUS": "2", "SPARK_GRAFT_DRIVER_MEM": "3072m",
           "SPARK_GRAFT_LOCAL_DIR": "/tmp/spark-local"}
    conf = session_conf(env=env, host=(4, 15 * GB))
    assert conf["spark.master"] == "local[2]"
    assert conf["spark.driver.memory"] == "3072m"
    assert conf["spark.local.dir"] == "/tmp/spark-local"
    # the core count also sets the shuffle partitions
    assert conf["spark.sql.shuffle.partitions"] == "2"


@pytest.mark.parametrize("mem", ["lots", "2048000k", "6 gb", "", "0g", "0m"])
def test_unparseable_driver_mem_raises(mem):
    with pytest.raises(ValueError, match="SPARK_GRAFT_DRIVER_MEM"):
        session_conf(env={"SPARK_GRAFT_DRIVER_MEM": mem}, host=(4, 15 * GB))


@pytest.mark.parametrize("cpus", ["0", "-2", "four", "2.5", ""])
def test_bad_cpus_raises(cpus):
    with pytest.raises(ValueError, match="SPARK_GRAFT_CPUS"):
        session_conf(env={"SPARK_GRAFT_CPUS": cpus}, host=(4, 15 * GB))


def test_driver_mem_above_ram_raises():
    with pytest.raises(ValueError, match="SPARK_GRAFT_DRIVER_MEM.*RAM"):
        session_conf(env={"SPARK_GRAFT_DRIVER_MEM": "32g"}, host=(4, 15 * GB))


def _unset_value(spark, key):
    """(parse, value) for ``key``: how Spark parses its value, and the value
    a PySpark session runs with when the key is left unset, or None when
    Spark has no fixed default for it.  SQL entries register in the same
    ``ConfigEntry`` registry as the core ones."""
    from pyspark.core.context import DEFAULT_CONFIGS

    entry = spark._jvm.org.apache.spark.internal.config.ConfigEntry.findEntry(key)
    if entry is None:
        return None, None
    while entry.getClass().getSimpleName() == "FallbackConfigEntry":
        entry = entry.fallback()
    # an optional entry's valueConverter wraps the value in a Scala Option
    optional = entry.getClass().getSimpleName() == "OptionalConfigEntry"
    parse = (entry.rawValueConverter() if optional else entry.valueConverter()).apply
    if key in DEFAULT_CONFIGS:
        # PySpark's SparkContext sets these over the JVM defaults
        # (spark.rdd.compress: true, where the JVM's own default is false)
        return parse, parse(str(DEFAULT_CONFIGS[key]))
    if key == "spark.default.parallelism":
        # no fixed default: local[k]'s backend answers with its k cores
        return parse, spark.sparkContext._jsc.sc().schedulerBackend().totalCores()
    default = entry.defaultValue()
    return parse, default.get() if default.isDefined() else None


def test_no_setting_restates_a_default(spark):
    restated = []
    for key, value in session_conf().items():
        parse, unset = _unset_value(spark, key)
        if unset is not None and parse(value) == unset:
            restated.append(f"{key}={value}")
    assert not restated, f"session_conf restates Spark's defaults: {restated}"

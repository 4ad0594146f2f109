"""Host-derived session defaults, checked without starting a JVM."""

from pathlib import Path

import pytest

from wikdict_gen_spark.session import session_conf

GB = 2**30


def test_small_host_defaults():
    conf = session_conf(env={}, host=(4, 15 * GB))
    assert conf["spark.master"] == "local[4]"
    assert conf["spark.driver.memory"] == "6g"
    assert conf["spark.sql.shuffle.partitions"] == "4"
    opts = conf["spark.driver.extraJavaOptions"]
    assert "-Xms" not in opts and "TransparentHugePages" not in opts
    assert "AlwaysPreTouch" not in opts
    assert "-XX:ReservedCodeCacheSize=1g" in opts
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
    # the core count also sets the shuffle and default parallelism
    assert conf["spark.sql.shuffle.partitions"] == "2"
    assert conf["spark.default.parallelism"] == "2"


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

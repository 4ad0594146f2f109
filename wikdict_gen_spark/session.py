"""SparkSession construction: one ``local[k]`` session sized from the host.

One place to set every knob so the tests, the pipeline, the contract
queries and the benchmark run the same configuration.  Cores and driver
memory default to what the host has; three deployment settings override
them:

- ``SPARK_GRAFT_CPUS``: local core count (default: the CPUs this process
  may run on);
- ``SPARK_GRAFT_DRIVER_MEM``: driver heap as ``<n>g`` or ``<n>m``
  (default: 40% of physical RAM, in whole gigabytes);
- ``SPARK_GRAFT_LOCAL_DIR``: ``spark.local.dir`` for shuffle and spill
  files (default: Spark's own, under ``java.io.tmpdir``).

``session_conf`` fixes only the settings that change behaviour here and
leaves the rest at PySpark's defaults (a test fails on a fixed setting
that restates one).  Any other Spark setting goes through
``get_spark(extra_conf=...)``.
"""

from __future__ import annotations

import os
import re
from collections.abc import Mapping

from pyspark.sql import SparkSession

# Share of physical RAM given to the driver JVM, which in local[k] mode is
# also the only executor.  At 60% the KG pipeline peaked at 12.3 GB of
# process memory on a 15 GB host; 40% leaves room for the Python workers.
DRIVER_MEM_SHARE = 0.4

_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def host_resources() -> tuple[int, int]:
    """(usable CPUs, physical RAM in bytes) of this host."""
    return (
        len(os.sched_getaffinity(0)),
        os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE"),
    )


def _cpus(env: Mapping[str, str], host_cpus: int) -> int:
    value = env.get("SPARK_GRAFT_CPUS")
    if value is None:
        return host_cpus
    if not re.fullmatch(r"\s*\d+\s*", value) or int(value) < 1:
        raise ValueError(
            f"SPARK_GRAFT_CPUS={value!r}: expected a positive integer"
        )
    return int(value)


def _driver_mem(env: Mapping[str, str], ram: int) -> str:
    value = env.get("SPARK_GRAFT_DRIVER_MEM")
    if value is None:
        return f"{max(1, int(ram * DRIVER_MEM_SHARE / 2**30))}g"
    m = re.fullmatch(r"(\d+)([gm])", value.strip().lower())
    if not m:
        raise ValueError(
            f"SPARK_GRAFT_DRIVER_MEM={value!r}: expected <n>g or <n>m"
        )
    mem = int(m.group(1)) * (2**30 if m.group(2) == "g" else 2**20)
    if mem == 0:
        raise ValueError(f"SPARK_GRAFT_DRIVER_MEM={value!r}: the heap cannot be zero")
    if mem > ram:
        raise ValueError(
            f"SPARK_GRAFT_DRIVER_MEM={value!r} exceeds the host's "
            f"{ram / 2**30:.1f} GiB of physical RAM"
        )
    return m.group(0)


def session_conf(
    env: Mapping[str, str] = os.environ,
    host: tuple[int, int] | None = None,
) -> dict[str, str]:
    """The Spark conf ``get_spark`` launches with; no JVM is started.

    ``host`` is (CPUs, RAM bytes), default ``host_resources()``.  Raises
    ValueError for a core count that is not a positive integer and for a
    driver memory that does not parse, is zero or exceeds RAM, so
    misconfiguration fails here rather than at JVM launch.
    """
    host_cpus, ram = host or host_resources()
    cpus = _cpus(env, host_cpus)
    conf = {
        # one JVM is driver and executor; k task slots, one per usable CPU
        "spark.master": f"local[{cpus}]",
        # the only heap in local mode: 40% of RAM leaves room for Python workers
        "spark.driver.memory": _driver_mem(env, ram),
        # one reducer per core: the default 200 has every map task write 200
        # shuffle blocks for data that fits in a few
        "spark.sql.shuffle.partitions": str(cpus),
        # Python workers fork from a daemon that has the UDF imports loaded;
        # the JVM starts it with `python -m`, so this package's root goes on
        # the workers' path whatever the driver's working directory
        "spark.python.daemon.module": "wikdict_gen_spark.udf_daemon",
        "spark.executorEnv.PYTHONPATH": _PACKAGE_ROOT,
        # timestamps render the same whatever the host's local zone
        "spark.sql.session.timeZone": "UTC",
        # batch sessions have no UI reader; without this each concurrent
        # session on a host binds its own port from 4040 up
        "spark.ui.enabled": "false",
    }
    local_dir = env.get("SPARK_GRAFT_LOCAL_DIR")
    if local_dir:
        # shuffle and spill files on the disk the deployment chose
        conf["spark.local.dir"] = local_dir
    return conf


def get_spark(
    app_name: str = "wikdict_gen_spark",
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with ``session_conf()``'s settings.

    extra_conf: Spark settings applied last, over the defaults.
    """
    conf = {**session_conf(), **(extra_conf or {})}
    builder = SparkSession.builder.appName(app_name)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()

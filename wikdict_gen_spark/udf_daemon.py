"""PySpark worker daemon that forks warm Python UDF workers.

The JVM launches it by name (``spark.python.daemon.module`` in
``session.session_conf``) as ``python -m wikdict_gen_spark.udf_daemon
pyspark.worker``.  It imports what every pandas UDF of the engine needs
once, before the first fork, so each forked worker inherits those modules
copy-on-write instead of importing pandas, pyarrow and ``pyspark.sql``
itself (0.5-1.6 s of CPU per worker on a 4-vCPU host, Python 3.11).

numpy's OpenBLAS and pyarrow already run threads when the daemon forks;
both re-create their thread pools after a fork (``pthread_atfork``
handlers), and the test suite runs the numpy-matmul IVF UDF and every
pipeline UDF in such forked workers.
"""

import zipimport

import pandas  # noqa: F401
import pyarrow  # noqa: F401
import pyspark.sql.pandas.serializers  # noqa: F401
from pyspark import daemon

import wikdict_gen_spark.functions.spark_udfs  # noqa: F401

# pyspark.worker calls importlib.invalidate_caches() before every task, and
# each zipimporter then re-reads its archive's whole directory (about 0.1 s
# of CPU per task over pyspark.zip's 1,300 entries, same host).  Archives
# already on the path do not change while the daemon lives, and an archive
# added later is a new path whose fresh zipimporter reads its directory
# when created.
zipimport.zipimporter.invalidate_caches = lambda self: None

if __name__ == "__main__":
    daemon.manager()

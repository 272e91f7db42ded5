"""SparkSession factory tuned for this engine.

Local mode stands in for a multi-executor cluster (driver instruction:
scaling is evidenced at two parallelism levels, e.g. local[8] vs
local[32]). All settings are plain public Spark configs.
"""

from __future__ import annotations

import os
import sys

from pyspark.sql import SparkSession

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: worker daemon module (``REPO_ROOT/mojap_spark_daemon.py``)
DAEMON_MODULE = "mojap_spark_daemon"


def get_spark(
    app_name: str = "mojap_spark_engine",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Create (or get) a session with engine defaults.

    * AQE on (runtime coalesce + skew-join splitting).
    * Arrow execution on; maxRecordsPerBatch sized for wide token rows.
    * shuffle partitions ~ cores (not the 200 default).
    * UTC session TZ so oracle (DuckDB) comparisons are stable.
    * Python workers fork from :mod:`mojap_spark_daemon`
      (``spark.python.daemon.module``), which stops every task from
      re-reading the central directories of the zips and jars on the
      worker's ``sys.path`` (0.17-0.30 s per task). Caveat: a zip or jar
      on that path rewritten in place during the session is not
      re-scanned; ``addPyFile`` adds new paths and is unaffected.
    """
    cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle_partitions = shuffle_partitions or max(cores, 8)
    # Make the package importable in Python workers.
    pp = os.environ.get("PYTHONPATH", "")
    if REPO_ROOT not in pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            REPO_ROOT + (os.pathsep + pp if pp else "")
        )
    if REPO_ROOT not in sys.path:
        sys.path.insert(0, REPO_ROOT)
    b = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # tokens rows are ~2KB wide; 8192-row Arrow batches (~16MB) keep
        # python-worker memory flat and pipeline JVM<->Python transfer
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "8192")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.extraJavaOptions", "-Djava.net.preferIPv4Stack=true")
        .config(
            "spark.executorEnv.PYTHONPATH",
            os.environ["PYTHONPATH"],
        )
        .config("spark.python.daemon.module", DAEMON_MODULE)
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark

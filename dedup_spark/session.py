"""SparkSession construction tuned for the dedup pipeline.

Encodes the scale posture once: AQE on (runtime re-plan + skew-join
splitting for hot LSH bands), Arrow on (all signature kernels are
pandas/Arrow UDFs), sensible shuffle parallelism. The reference's
``--parallel`` knob (/root/reference/src/file_utils.rs:516-519) maps to
master threads + shuffle partitions here.
"""

from __future__ import annotations

import os
import tempfile
import zipfile

from pyspark.sql import SparkSession

DEFAULT_CONFS = {
    # AQE: runtime coalescing + skew-join handling; north_rule names
    # "skew-aware AQE" explicitly for hot shingle/band keys.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow transfer for pandas UDFs (signature kernels).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Large `content` values: bound Arrow batch memory (SURVEY §7.3).
    "spark.sql.execution.arrow.maxRecordsPerBatch": "2048",
    # Let small dimension sides broadcast.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # Don't stall task waves waiting for block-local executors: checkpoint
    # blocks pin to one executor and the default 3s locality wait
    # serializes whole stages on multi-executor masters; shuffle reads on
    # fast local disks/loopback don't earn a 3s gamble.
    "spark.locality.wait": "0s",
    "spark.sql.shuffle.partitions": "32",
    # Quieter + deterministic session timezone for timestamp fixtures.
    "spark.sql.session.timeZone": "UTC",
    "spark.ui.enabled": "false",
    "spark.ui.showConsoleProgress": "false",
    # PySpark captures the Python call site on every DataFrame/Column
    # call for error context, ~7 extra py4j round trips per call; at
    # small inputs driver round trips are much of an op's wall time.
    # Off here: a DataFrame error no longer names the Python file:line
    # that built the failing expression. Read once per Python process,
    # from the first active session; a process that starts with
    # get_spark(extra_conf={"spark.python.sql.dataFrameDebugging.enabled":
    # "true"}) keeps the capture on.
    "spark.python.sql.dataFrameDebugging.enabled": "false",
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
}


def get_spark(
    app_name: str = "dedup-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = SparkSession.builder.appName(app_name).master(master or f"local[{cpus}]")
    confs = dict(DEFAULT_CONFS)
    if shuffle_partitions is not None:
        confs["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    if extra_conf:
        confs.update(extra_conf)
    for k, v in confs.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    _ship_package(spark)
    return spark


def package_zip(dest: str | None = None) -> str:
    """Write the ``--py-files`` zip of this package and return its path.

    THE single packaging implementation: `_ship_package` (in-process),
    `scripts/submit.sh` and `scripts/submit_pytest.sh` (spark-submit)
    all call this, so what ships to executors cannot drift between
    deployment modes. Usable as
    ``python -c "from dedup_spark.session import package_zip; print(package_zip())"``.
    """
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    zpath = dest or os.path.join(
        tempfile.gettempdir(), f"dedup_spark_pkg_{os.getpid()}.zip"
    )
    if not os.path.exists(zpath):
        with zipfile.ZipFile(zpath, "w") as zf:
            for root, _dirs, files in os.walk(pkg_dir):
                for fn in files:
                    if fn.endswith(".py"):
                        full = os.path.join(root, fn)
                        rel = os.path.join("dedup_spark", os.path.relpath(full, pkg_dir))
                        zf.write(full, rel)
    return zpath


def _ship_package(spark: SparkSession) -> None:
    """Make ``dedup_spark`` importable on executor Python workers — the
    in-process equivalent of ``spark-submit --py-files dedup_spark.zip``
    (the north_rule's deployment mode). Idempotent per session.
    """
    if getattr(spark, "_dedup_pkg_shipped", False):
        return
    spark.sparkContext.addPyFile(package_zip())
    spark._dedup_pkg_shipped = True

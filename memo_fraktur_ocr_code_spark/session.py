"""SparkSession factory with scale-oriented defaults.

Defaults chosen for the 100 TB design point and scaled down for local
testing: AQE on (runtime re-planning + skew-join splitting), Arrow
transfer on (every Python kernel is Arrow-batched), bounded Arrow batch
size (the analog of the reference's chunked processing,
pdf2img.py:25-33), and explicit shuffle parallelism.

``SESSION_CONF`` holds the conf every session of this package runs
with, whatever its master: ``get_spark`` (local sessions, tests,
benches) and ``job_session`` (the ``main()`` of every job under
``jobs/``, run through spark-submit) both apply it, then call
``export_to_workers``.

Python workers run ``worker_daemon`` in place of ``pyspark.daemon``.
Spark puts ``$SPARK_HOME/python/lib/pyspark.zip``, the py4j zip and the
spark-core jar (5,359 entries, no Python) at the front of every
worker's PYTHONPATH, so workers import pyspark from the zip, not from
the install the driver uses.  Each task's ``setup_spark_files`` calls
``importlib.invalidate_caches()``, and since Python 3.10 that makes every
cached ``zipimporter`` (the jar, ``jar/org``, one per pyspark
sub-package) re-read its archive's whole directory: 0.18-0.24 s per
Python task on a 4-core x86 VM, paid by every partition of every stage.
The daemon drops those archives when the same pyspark is installed on
the rest of the path (the jar always), and the per-task call falls to
about 0.1 ms.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

SESSION_CONF = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # 8192 measured ~25% faster than 2048 on the partition-walk kernel
    # (fewer batch boundaries, still ~1.5 MB batches on turn text)
    "spark.sql.execution.arrow.maxRecordsPerBatch": "8192",
    "spark.sql.files.maxPartitionBytes": "134217728",
    "spark.sql.session.timeZone": "UTC",
    "spark.python.daemon.module": "memo_fraktur_ocr_code_spark.worker_daemon",
}


def get_spark(
    master: str | None = None,
    app_name: str = "memo-fraktur-spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cpus = int(
        os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0))
    )
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 8)
    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config(map=SESSION_CONF)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    export_to_workers(spark)
    return spark


def job_session(app_name: str) -> SparkSession:
    """Session for a job's ``main()``: the master and resources come from
    spark-submit (plain ``python`` gets pyspark's ``local[*]``), the conf
    from ``SESSION_CONF``.  Unlike ``get_spark`` it sets no master, so a
    job submitted to a cluster runs there, not in a local driver."""
    spark = (
        SparkSession.builder.appName(app_name)
        .config(map=SESSION_CONF)
        .getOrCreate()
    )
    export_to_workers(spark)
    return spark


def export_to_workers(spark: SparkSession) -> None:
    """Put this package on the Python workers' PYTHONPATH, after any
    value already there (spark-submit on YARN ships pyspark.zip that
    way).  Call before the session's first Python task.

    Workers resolve the package from PYTHONPATH, not from the driver's
    sys.path, and they start the worker daemon before any task delivers
    ``--py-files``.  The driver's path serves local masters; a shipped
    zip's bare name resolves in the executors' working directory, where
    standalone and YARN executors fetch ``--py-files``."""
    entry = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = spark.sparkContext.environment
    paths = [p for p in env.get("PYTHONPATH", "").split(os.pathsep) if p]
    names = [entry]
    if os.path.isfile(entry):  # imported from a shipped zip
        names.append(os.path.basename(entry))
    paths += [p for p in names if p not in paths]
    env["PYTHONPATH"] = os.pathsep.join(paths)

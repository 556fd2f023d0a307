"""SparkSession factory tuned for this engine.

Local-mode settings mirror what we would submit to a real cluster via
``spark-submit --py-files`` (see bench/scaling.py): AQE on (skew-join
splitting, partition coalescing), Arrow transport for every pandas UDF,
zstd parquet (reference writes zstd row-group-100k parquet,
/root/reference/adscrawler/process/app_metrics_history.py:289-292).
"""

from __future__ import annotations

import os

from pyspark import SparkConf, SparkContext
from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32


def get_spark(
    app_name: str = "adscrawler_spark",
    cores: int | str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession, local unless launched with a master.

    ``cores`` defaults to $SPARK_GRAFT_CPUS (driver contract) else '*',
    and sets ``local[cores]`` only when no master was given at launch.
    On a real cluster the master/deploy settings come from spark-submit;
    everything here is cluster-size-agnostic.
    """
    if cores is None:
        cores = os.environ.get("SPARK_GRAFT_CPUS", "*")
    if shuffle_partitions is None:
        shuffle_partitions = int(
            os.environ.get("SPARK_GRAFT_SHUFFLE", DEFAULT_SHUFFLE_PARTITIONS)
        )
    # Export the package root to the worker python BEFORE the JVM
    # launches, so the preloading daemon module (pydaemon.py) resolves
    # in forked workers.  No-op when already importable (pip install /
    # spark-submit --py-files).
    _root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    _pp = os.environ.get("PYTHONPATH", "")
    if _root not in _pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            _root + (os.pathsep + _pp if _pp else "")
        )
    conf = {
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.parquet.compression.codec": "zstd",
        "spark.sql.session.timeZone": "UTC",
        # Workers fork from a daemon that has pandas/pyarrow already
        # imported (adscrawler_spark/pydaemon.py) — the first Arrow
        # stage of a session otherwise pays a wave of per-worker
        # imports, re-paid whenever concurrent stages outrun the
        # idle-worker pool (guide §4: heavyweight init once).
        "spark.python.daemon.module": "adscrawler_spark.pydaemon",
        "spark.ui.enabled": "false",
        "spark.driver.memory": os.environ.get("SPARK_DRIVER_MEM", "16g"),
        # Big scans: keep input splits bounded so 100TB would still give
        # well-sized tasks; local tests are unaffected.
        "spark.sql.files.maxPartitionBytes": "134217728",
        **(extra_conf or {}),
    }
    # Start (or attach to) the JVM before choosing the master, with the
    # settings that only count at launch (driver heap, JVM options), so
    # that a master given to spark-submit, PYSPARK_SUBMIT_ARGS or
    # spark-defaults.conf is visible and wins.  spark-submit fills in
    # local[*] when it was given none, so that value counts as unset.
    SparkContext._ensure_initialized(
        conf=SparkConf(loadDefaults=False).setAll(conf.items())
    )
    master = SparkConf().get("spark.master", "local[*]")
    if master == "local[*]":
        master = f"local[{cores}]"
    builder = SparkSession.builder.appName(app_name).master(master)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def local_df(spark: SparkSession, rows, schema):
    """Tiny literal dimension as a JVM ``LocalTableScan`` via the
    pandas+Arrow path (guide §4: keep Python off the execution path).

    ``spark.createDataFrame(list)`` builds a pickled-RDD-backed frame:
    every scan of it runs Python-worker tasks (one wave of 32 cold
    workers measured ~4s at the 10x profile) and the optimizer cannot
    size it for broadcast planning.  The same rows routed through a
    pandas frame convert to an Arrow-backed LocalRelation evaluated
    entirely in the JVM, with a known size.

    ``schema`` is either a DDL string (explicit types, empty ``rows``
    allowed) or a list of column names (types inferred by Arrow:
    int→bigint, str→string, float→double — identical to the RDD
    path's inference for the literal dims used here)."""
    import pandas as pd

    if isinstance(schema, str):
        names = [f.strip().split()[0] for f in schema.split(",")]
        pdf = pd.DataFrame(list(rows), columns=names, dtype=object)
        return spark.createDataFrame(pdf, schema=schema)
    pdf = pd.DataFrame(list(rows), columns=list(schema))
    return spark.createDataFrame(pdf)

"""SparkSession factory with the scale-tuned conf set used everywhere.

Single place to keep the execution-model decisions honest:

* AQE on (runtime re-plan, skew-join splitting, partition coalescing) —
  the north rule's skew handling is AQE + explicit salting where needed.
* Arrow on, with a bounded mapInPandas batch size — this IS the reference's
  micro-batch flush (/root/reference/src/prediction/pred.py:98-103).
* shuffle.partitions sized by caller (tests: 8-32; a 1000-executor cluster
  would use 2-3x total cores — the value is a parameter, not a constant).
"""

from __future__ import annotations

import os

from pyspark.sql import Observation, SparkSession
from pyspark.sql import functions as F


def checkpoint_observed(df, *aggs):
    """Eager ``localCheckpoint`` of ``df`` -> ``(pinned, observed)``, where
    ``observed`` maps ``n`` (the row count) and each of ``aggs`` (named
    aggregate columns) to its value over the pinned rows. The values are
    gathered by the checkpoint's own jobs (``DataFrame.observe``), so a
    loop that needs "is it empty / how many / what total" after pinning a
    frame pays no second job for it. An empty frame observes ``n = 0``
    and NULL (None) for sum-like aggregates. One Observation per call: an
    Observation can be filled only once, and ``observe`` sits directly
    under the checkpoint so nothing above it can skip its rows."""
    obs = Observation()
    pinned = df.observe(obs, F.count(F.lit(1)).alias("n"), *aggs)
    pinned = pinned.localCheckpoint()
    return pinned, obs.get


def committed(path: str | None) -> bool:
    """True when a Spark write to ``path`` committed: its ``_SUCCESS``
    marker exists. A crash during a first write leaves a directory that
    holds only ``_temporary/``, which ``spark.read.parquet`` cannot read
    (UNABLE_TO_INFER_SCHEMA), so bare existence does not mean there is
    something to read. Local-FS path semantics."""
    return bool(path) and os.path.exists(os.path.join(path, "_SUCCESS"))


def adaptive_min_partitions(df):
    """Scale-adaptive scan parallelization (optimization guide §2.5
    "input skew" / §6 small files): a single-file, single-row-group
    parquet table scans as ONE task, and every per-row-expensive
    projection Catalyst collapses into that scan stage (md5 shingling,
    minhash aggregates, Arrow/pandas batches) then runs serially on one
    core. Repartition up to the cluster's defaultParallelism ONLY when
    the scan has fewer partitions — at production scale a large table
    plans thousands of splits and this is a no-op; locally it costs one
    slim exchange of the raw rows and buys full-width execution of
    everything downstream."""
    sc = df.sparkSession.sparkContext
    n = sc.defaultParallelism
    if df.rdd.getNumPartitions() < n:
        return df.repartition(n)
    return df


def build_session(
    app_name: str = "generative-ner-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    arrow_batch_size: int = 1024,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or cpus

    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(arrow_batch_size))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # no [Stage N:>  ] redraws: they bury every log line of a
        # non-interactive run
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    # getOrCreate() silently returns a PRE-EXISTING session and ignores
    # every conf above; warn when that happened with a different shape so
    # timing/scaling comparisons aren't made on a false assumption
    got_master = spark.conf.get("spark.master", "")
    got_shuffle = spark.conf.get("spark.sql.shuffle.partitions", "")
    if got_master != master or got_shuffle != str(shuffle_partitions):
        import warnings

        warnings.warn(
            f"build_session: reusing an existing SparkSession "
            f"(master={got_master!r}, shuffle.partitions={got_shuffle!r}) "
            f"— the requested (master={master!r}, "
            f"shuffle_partitions={shuffle_partitions}) did NOT apply",
            stacklevel=2,
        )
    return spark

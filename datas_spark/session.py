"""SparkSession factory with scale-oriented defaults.

Tests/bench run on ``local[N]`` but every knob here is chosen for the
1000-executor / 100 TB deployment described in BASELINE.json:

- AQE on (runtime coalescing, skew-join splitting, dynamic broadcast).
- Arrow on (pandas_udf boundaries are the only Python hot paths).
- shuffle.partitions sized to cores locally; on a real cluster AQE
  coalesces from a high initial number, so we set the initial high and
  let AQE shrink rather than hand-tuning per query.
- A codegen cache sized for a whole curation recipe (1000 entries).
  One ``curate_corpus`` pass with a Jaccard near-dup stage generates
  ~128 distinct sources (~280 classes); Spark's 100-entry default
  evicts them within the pass, so every repeat pass recompiled ~100 of
  them with Janino and ran the fresh classes interpreted until re-JIT.
  A vanilla session (one not built by ``get_spark``) keeps the
  100-entry default.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "datas_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32)
    so bench and tests share sizing with the driver harness.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or int(cpus)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # AQE: runtime partition coalescing + skew-join handling. At 100 TB
        # the initial shuffle partition count should be high (e.g. 2000+)
        # and AQE coalesces; locally cores is the right size.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Arrow for every pandas_udf / toPandas boundary.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Broadcast threshold: small dims (region/nation/cluster stats)
        # must broadcast, never shuffle-join.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Input split sizing: with wide text/binary rows (documents,
        # media blobs) a 128 MiB parquet split decompresses to far more
        # heap. Keep the default locally; at the 100 TB deployment size
        # this DOWN (e.g. 64m) if executors OOM on the scan, or UP for
        # fewer tasks on narrow numeric tables — one knob per table
        # family via read-time option, not a global.
        .config("spark.sql.files.maxPartitionBytes", "128m")
        # Deterministic timestamp semantics for oracle comparison.
        .config("spark.sql.session.timeZone", "UTC")
        # Quieter driver-side logs for bench runs; no console progress
        # bars, so a run's stdout tail is its result line.
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        # local[N] runs the whole engine in ONE JVM: the 1g default heap
        # starves 32 executor threads + localCheckpoint blocks across a
        # 100+-query bench session (observed: GCLocker allocation
        # failures). 8g locally; a real cluster sizes executors instead.
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
        )
        # Generated-class cache. Measured traffic: one curate_corpus pass
        # with a Jaccard near-dup stage uses ~128 entries (~280 classes,
        # mean 2.1 KB bytecode, max 14 KB), above the default 100, so
        # repeat passes recompiled ~100 sources each. 1000 entries hold
        # at most ~5-10 MB of bytecode. Static conf: it only takes
        # effect on the session that creates the shared state; a
        # vanilla session keeps the default.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        # reclaim aged localCheckpoint/broadcast blocks between queries
        # in long sessions (default 30min lets them pile up)
        .config("spark.cleaner.periodicGC.interval", "2min")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()

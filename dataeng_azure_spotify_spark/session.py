"""SparkSession factory with scale-oriented defaults.

The reference delegates all physical execution to Databricks/Photon and
Azure SQL (SURVEY.md §4.2); here vanilla Spark supplies that layer, so
this module is where the engine-level tuning lives:

- AQE on (runtime coalesce, skew-join splitting, dynamic join strategy) —
  at 100 TB the static plan is always wrong somewhere; AQE re-plans from
  observed shuffle stats.
- Auto-broadcast raised to 64 MiB: every dimension table in the star
  schema (region/nation/customer/supplier/part) is tiny relative to the
  fact tables, so star joins (SURVEY.md §2.3 J1) should never shuffle the
  fact side for a dim lookup.
- Arrow enabled for any Pandas-UDF path (SURVEY.md guidance: Arrow batch
  transfer beats row-at-a-time Python by 10-100×).
- Session timezone pinned to UTC so timestamp semantics are deterministic
  across the correctness oracle (DuckDB) and the cluster.
- Shuffle partitions sized to the local master's cores: one task per core
  per shuffle stage. AQE coalesces batch shuffles anyway, but never
  streaming state, which keeps one state-store partition per shuffle
  partition on every trigger.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession

from dataeng_azure_spotify_spark.delta_support import delta_session_confs

#: Shuffle partitions on a non-local master. Executors may not have
#: registered when the session starts (``defaultParallelism`` can read 2),
#: so the count is fixed and AQE's coalescePartitions trims it per stage;
#: size it to ~2-3x total executor cores through ``shuffle_partitions``.
_CLUSTER_SHUFFLE_PARTITIONS = 32

#: ``local``, ``local[N]``, ``local[*]``, ``local[N,F]`` — not ``local-cluster``
_LOCAL_MASTER = re.compile(r"local(\[[^\]]*\])?")


def get_spark(
    app_name: str = "dataeng-azure-spotify-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for this engine.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (driver contract)
    falling back to ``local[*]``. On a real cluster the caller passes
    ``master=None`` with an externally-configured session instead.

    ``shuffle_partitions`` defaults to the session's core count on a
    local master (``defaultParallelism``: N for ``local[N]``, the JVM's
    cores for ``local[*]``) and to 32 elsewhere. A streaming query keeps
    the count its checkpoint was started with: Spark restores it from
    the offset log.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = master or f"local[{cpus}]"

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.parquet.compression.codec", "snappy")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.spill.compress", "true")
        # Long-lived sessions compile one generated class per codegen'd
        # stage; the JVM default 240 MiB code cache fills after a few dozen
        # distinct queries, the JIT silently disables itself, and
        # expression-heavy plans (the hash/dedup family) degrade 5-10x to
        # interpreted speed. 1 GiB + explicit flushing keeps steady-state
        # JIT'd on multi-tenant / benchmark-length sessions.
        .config(
            "spark.driver.extraJavaOptions",
            "-XX:ReservedCodeCacheSize=1g -XX:+UseCodeCacheFlushing",
        )
    )
    # Delta SQL extension + catalog when delta-spark is importable (no-op
    # dict otherwise) — keeps fmt='delta' sinks and MERGE INTO working on
    # clusters that ship it without burdening ones that don't.
    for k, v in delta_session_confs().items():
        builder = builder.config(k, v)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    if shuffle_partitions is None:
        sc = spark.sparkContext
        local = _LOCAL_MASTER.fullmatch(sc.master)
        shuffle_partitions = (
            sc.defaultParallelism if local else _CLUSTER_SHUFFLE_PARTITIONS
        )
    spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
    return spark

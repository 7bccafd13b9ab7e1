"""SparkSession factory with scale-oriented defaults.

Local testing runs on ``local[N]``; the same configuration is what we
would ship to a 1000-executor cluster (AQE on, skew-join handling on,
sane shuffle-partition default that AQE then coalesces).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "etl-finance-pipeline-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    Defaults favor the 100 TB design point:
      * AQE enabled — runtime shuffle-partition coalescing + skew-join
        splitting (hot symbols / hot join keys get split automatically).
      * ``spark.sql.session.timeZone=UTC`` — the engine's canonical
        timezone contract (the reference pins series to UTC; see
        /root/reference/src/etl/transform/normalize.py:217).
      * Arrow enabled for the few pandas-UDF operators (interpolation
        fallback, multimodal decode).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or int(cpus)),
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # AQE's RUNTIME broadcast decision (measured post-shuffle
        # bytes, not optimizer estimates) is safe to loosen well past
        # the static 10m default: a mid-size build side (e.g. a
        # 20 MB deduped edge set closing a wedge join) broadcasts
        # instead of shuffling the large probe side; at 100 TB the
        # same frame measures in GBs and AQE falls back to the
        # shuffle join on its own. Measured -20% on the join-heavy
        # bench tail at sf0.1.
        .config("spark.sql.adaptive.autoBroadcastJoinThreshold", "64m")
        # Accept subset co-partitioning in joins: a frame hash-partitioned
        # on SYMBOL joins on (SYMBOL, TIMESTAMP) without re-shuffling both
        # sides onto the full key set. This is what lets run_pipeline's
        # cached repartition(SYMBOL) frame feed every timeframe's grid
        # join with no exchange of its own; when inputs aren't already
        # subset-partitioned the conf changes nothing. Trade-off: join
        # parallelism is bounded by the subset key's cardinality.
        .config("spark.sql.requireAllClusterKeysForCoPartition", "false")
        # Let AQE re-size the output partitioning of CACHED plans by
        # MEASURED bytes (default false keeps the static
        # shuffle.partitions count): every iterative operator
        # (pagerank/trustrank/connected-components) persists tiny
        # control-plane frames that otherwise pin a full-width
        # partition layout, turning each subsequent stage into N
        # near-empty tasks. Data-size-adaptive by construction — a
        # large cached frame keeps its width, a KB-sized one
        # coalesces. Measured at sf0.1: -10–25% on the rank family,
        # cluster/ANN lanes, dq_profile; no regressions observed.
        .config(
            "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
            "true",
        )
        .config("spark.sql.parquet.compression.codec", "zstd")
        # Parquet v2 data pages: an INT32/INT64 column whose dictionary
        # does not pay off is DELTA_BINARY_PACKED instead of PLAIN, so
        # a sorted, evenly spaced TIMESTAMP costs near-zero bits per
        # value (-13 % exported bytes per row on 1m candles). Every
        # engine Parquet writer inherits it; Spark >= 3.3, pyarrow and
        # DuckDB read these files.
        .config("spark.hadoop.parquet.writer.version", "v2")
        # pandas-written parquet often carries TIMESTAMP(NANOS) which
        # Spark has no native type for; read as long and convert
        # explicitly (see sources.tables.load_table).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # write timestamps as INT64 micros, not legacy INT96: INT96
        # carries no usable min/max footer stats, which would blind
        # the table format's file skipping on timestamp columns
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()

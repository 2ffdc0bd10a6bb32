"""SparkSession factory with scale-aware defaults.

Local test runs use ``local[N]``; the same config block is what we would ship
to a 1000-executor cluster minus the master/memory lines: AQE on (runtime
coalescing + skew-join handling), UTC session TZ (oracle comparability),
Arrow enabled for the pandas-UDF escape hatch.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession, functions as F


#: Size of Spark's LRU cache of compiled generated classes (the static
#: conf ``spark.sql.codegen.cache.maxEntries``, default 100). A pass of
#: the ``topic_curate`` benchmark (topic verbs plus the extended curate
#: pipeline) uses about 215 distinct classes; at the default every repeat
#: pass compiled 210 of them again, and every ``stream_epochs`` epoch 55.
#: Each recompile is a new JVM class that starts interpreted and is
#: JIT-compiled again. Compiles per repeat ``topic_curate`` pass (4 cores,
#: Spark 4.1.2): 53-64 at 250 entries, 4 at 500 and at 1000; 1000 leaves
#: room for larger plans. The 4 left (2 per epoch) are 2 per
#: ``fs_topic.produce`` call, whose ``current_timestamp()`` is inlined as
#: a literal and so mints new classes each call; the LRU evicts them first.
CODEGEN_CACHE_ENTRIES = 1000


def _default_driver_mem() -> str:
    """A quarter of physical memory, at most 48g."""
    with open("/proc/meminfo") as f:
        total_kb = int(next(line for line in f
                            if line.startswith("MemTotal:")).split()[1])
    return f"{min(48 * 1024, total_kb // 4096)}m"


def get_spark(
    app_name: str = "kafi_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the session.

    ``SPARK_GRAFT_CPUS`` (default: the CPUs this process may use) sets
    ``local[N]``; ``KAFI_SPARK_DRIVER_MEM`` (default: a quarter of
    physical memory, at most 48g) the driver heap.

    ``spark.sql.shuffle.partitions`` defaults to the local core count: at
    the test scale factors, one post-shuffle partition per core keeps
    every partition in memory; on a real cluster AQE coalescing makes the
    static number mostly irrelevant (it only caps initial parallelism).
    """
    cpus = (os.environ.get("SPARK_GRAFT_CPUS")
            or str(len(os.sched_getaffinity(0))))
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus)
    driver_mem = (os.environ.get("KAFI_SPARK_DRIVER_MEM")
                  or _default_driver_mem())
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # AQE's coalescing floor (coalescePartitions.minPartitionSize) is
        # deliberately left at its 1m default: a round-9 experiment floored
        # it at 64k so post-shuffle explode stages keep ~defaultParallelism,
        # and pipeline_dupheavy_exact got 4x SLOWER — the posting-list
        # pair aggregate ran 9x more task CPU across 32 concurrent partial
        # hash maps than across AQE's 8 size-balanced ones (measured at
        # sf0.1; eval-only cost DID drop, the aggregate dominated). Spread
        # decisions live in dedup._parallelize, which targets scan-rooted
        # and broadcast-joined frames where no AQE knob applies.
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", driver_mem)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.codegen.cache.maxEntries",
                str(CODEGEN_CACHE_ENTRIES))
        # wide-aggregate plans generate large classes; with the JVM default
        # 240m code cache the JIT shuts off mid-session and later queries
        # run interpreted (observed 10-30x slowdowns). 1g + flushing keeps
        # compilation alive for long-lived sessions. On the topic_curate
        # benchmark (4 cores, Spark 4.1.2) the code heaps (sum of the
        # CodeHeap* pools) held 90-91 MB after 7 passes at either codegen
        # cache size, and metaspace grew about 1 MB a pass to 172-173 MB.
        .config(
            "spark.driver.extraJavaOptions",
            "-XX:ReservedCodeCacheSize=1g -XX:+UseCodeCacheFlushing",
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


#: tables whose parquet files may carry TIMESTAMP(NANOS) columns, which
#: Spark's parquet reader rejects; we read them as long (legacy conf) and
#: convert. Driver data has shipped both nanos and plain micros variants, so
#: the conversion is keyed off the *scanned* type, not assumed.
_TS_COLS: dict[str, list[str]] = {"events": ["ts"]}


def read_table(spark: SparkSession, sf_dir: str, name: str):
    """Read one driver parquet table, normalizing timestamp columns.

    Timestamp columns normalize to session-TZ ``TIMESTAMP`` whatever the
    physical parquet encoding:

    - TIMESTAMP(NANOS): Spark cannot map it to TimestampType, so with
      ``spark.sql.legacy.parquet.nanosAsLong`` the column scans as BIGINT
      nanos and we convert JVM-side (exact for the driver's data).
    - TIMESTAMP(MICROS, isAdjustedToUTC=false): scans as TIMESTAMP_NTZ; we
      cast to TIMESTAMP, identity under the UTC session TZ pinned below.

    Either way it's still a plain parquet scan, so pushdown survives for all
    other columns.
    """
    # defensive: queries may run under a caller-owned session (the round
    # driver passes its own). Epoch conversions (unix_millis on event ts)
    # must agree with the UTC-naive oracle regardless of host timezone.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ts_cols = _TS_COLS.get(name, [])
    if ts_cols:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    for c in ts_cols:
        dt = dict(df.dtypes).get(c)
        if dt == "bigint":  # nanos scanned as long
            df = df.withColumn(c, F.expr(f"timestamp_micros({c} div 1000)"))
        elif dt == "timestamp_ntz":
            df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


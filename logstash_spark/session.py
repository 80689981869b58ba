"""SparkSession factory tuned for the transcript CEP engine.

Reference analog: Logstash sizes its worker pool to the CPU count and its
batches to 125 events / 50 ms (logstash-core/lib/logstash/environment.rb:55-57).
Here the equivalents are `spark.sql.shuffle.partitions`, AQE, and Arrow batch
size for the vectorized (pandas) kernels.  Everything is plain public Spark
configuration; at cluster scale the same builder is used by spark-submit with
`--master yarn/k8s` instead of local[*].
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32


def get_spark(
    app_name: str = "logstash-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-appropriate defaults.

    * AQE on: runtime coalescing + skew-join splitting stand in for
      Logstash's output re-chunking (CompiledPipeline.java:356-380) and its
      total lack of skew handling (single node).
    * Arrow enabled: every Python-side kernel in this engine is an Arrow
      batch kernel, never per-row Python.
    * Shuffle partitions default to the local core count; on a real cluster
      set this to 2-3x total executor cores (or rely on AQE coalescing from
      a higher initial number).
    * File-listing fan-out equals that same parallelism
      (`parallelPartitionDiscovery.parallelism`): a scan of more than 32
      paths lists them in a Spark job, which by default launches one task
      per path, so a continuous sessions tick over ~100 new files would
      queue ~100 listing tasks ahead of the per-turn batch.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        if master.startswith("local["):
            inner = master[len("local[") : -1]
            shuffle_partitions = 32 if inner == "*" else max(int(inner), 4)
        else:
            shuffle_partitions = DEFAULT_SHUFFLE_PARTITIONS

    # Heap must scale with thread count: string-heavy stages (regex parse,
    # session merge sort) allocate per task, and an undersized heap turns
    # the 32-thread run into a GC-locker convoy (measured: sessions phase
    # 54s at 8g vs 23s at 40g on local[32]).  On a real cluster this is
    # spark.executor.memory sizing — ~1.5 GB/core for this workload.
    default_mem = f"{max(8, int(shuffle_partitions * 1.5))}g"

    builder = SparkSession.builder.appName(app_name).master(master)
    if os.environ.get("SPARK_GRAFT_BENCH_JVM"):
        # bench-mode JVM: pre-size + pre-touch the heap and widen the code
        # cache so measured runs don't pay heap growth or C2 compilation
        # churn (a long-lived streaming cluster is always past both).
        mem = os.environ.get("SPARK_DRIVER_MEMORY", default_mem)
        builder = builder.config(
            "spark.driver.extraJavaOptions",
            f"-Xms{mem} -XX:+AlwaysPreTouch -XX:ReservedCodeCacheSize=512m")
    builder = (
        builder
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(shuffle_partitions))
        .config("spark.sql.sources.parallelPartitionDiscovery.parallelism",
                str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.session.timeZone", "UTC")
        # INT96 (the legacy default) carries NO parquet min/max stats, so
        # event-time predicates can't skip row groups at scan time and the
        # DLQ's footer-stats retention can't see segment ages; MICROS is
        # the modern type every engine (DuckDB, Iceberg readers) handles
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        .config("spark.ui.enabled", "false")
        # map-side partial merge of session windows before the shuffle:
        # 99M rows -> ~2.5M pre-merged sessions on the wire (measured 3.1x
        # phase speedup at 32 cores); semantically identical
        .config("spark.sql.streaming.sessionWindow.merge.sessions.in.local.partition", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", default_mem))
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.streaming.stateStore.providerClass",
                "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def load_tables(spark: SparkSession, sf_dir: str, *names: str):
    """Register the driver-provided parquet tables as temp views and return
    them as a dict of DataFrames.  Scans are plain parquet reads so Catalyst
    predicate pushdown / column pruning apply end to end.
    """
    out = {}
    for name in names:
        df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
        df.createOrReplaceTempView(name)
        out[name] = df
    return out

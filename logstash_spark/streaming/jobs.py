"""Streaming jobs: the north-star pipeline as Structured Streaming.

Logstash lifecycle mapping (SURVEY.md §3.4): input threads -> readStream
file/Iceberg source; the worker loop -> micro-batch engine; PeriodicFlush
5 s ticks (PeriodicFlush.java:50-57) -> the continuous sessions query's
processing-time trigger, on which the event-time watermark advances and
closed sessions emit; PQ+ack -> checkpoint WAL; outputs -> exactly-once
foreachBatch sink.

All builders take/return DataFrames so batch and streaming share the same
operator implementations (the functions in operators/ are
streaming-legal).  The composed job:

  readStream(parquet dir, maxFilesPerTrigger)
    -> grok/mutate/date (stateless, narrow)
    -> withWatermark(ts)
    -> session_window by conv_id (aggregate-filter analog)   [stateful]
    -> foreachBatch ExactlyOnceParquetSink                   [idempotent]

plus the elapsed-analog stream-stream join and per-tool/per-role rollups.

Scale notes: the stateful stages key by conv_id; state store size is
bounded by the watermark delay (sessions older than the watermark are
finalized and evicted).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TRANSCRIPT_SCHEMA = ("conv_id string, turn_idx int, role string, "
                     "text string, tool string, ts timestamp")

# the reference's flush tick (PeriodicFlush.java:50-57): flush-capable
# filters such as aggregate emit only on it, per-event outputs flow at once
PERIODIC_FLUSH_INTERVAL = "5 seconds"


def stream_transcripts(spark: SparkSession, src_dir: str,
                       max_files_per_trigger: int | None = None) -> DataFrame:
    """File-source stream over a transcript parquet directory.

    On a production cluster this is `readStream.format("iceberg")` over the
    transcript table; the file source has the same offset/replay contract
    (per-file offsets in the checkpoint = per-partition lineage).
    """
    r = spark.readStream.schema(TRANSCRIPT_SCHEMA)
    if max_files_per_trigger:
        r = r.option("maxFilesPerTrigger", max_files_per_trigger)
    return r.parquet(src_dir)


def parse_stage(df: DataFrame) -> DataFrame:
    """Stateless filter chain (grok + mutate), shared batch/streaming.

    Also emits the two tiny session-aggregation flags (is_tool, is_done):
    computing them here — where `text` is already in registers — lets the
    downstream session query scan only 4 narrow columns instead of
    re-reading the text payload (~80% of the bytes) from the turns table.
    """
    from logstash_spark.operators.grok import grok
    from logstash_spark.operators.mutate import mutate

    out = grok(df, "text",
               "status=%{INT:status:int} bytes=%{INT:bytes:int} "
               "tool=%{WORD:tool_name} msg=%{WORD:msg}")
    out = mutate(out, lowercase=["tool_name"])
    return session_flags_stage(out)


def session_flags_stage(df: DataFrame) -> DataFrame:
    """Just the two session-aggregation flags, NO parse.

    The sessions branch consumes only (conv_id, ts, is_tool, is_done) —
    none of grok's captures.  grok's packed-split sits behind a Generate
    barrier (operators/grok.py), which column pruning cannot remove, so a
    sessions branch built on parse_stage() would re-run the full regex
    for columns it immediately discards (measured: soak steady throughput
    2.26M -> 1.25M turns/s when the concurrent sessions query re-parsed
    the source).  Branches that need no captures must not parse.
    """
    return (df.withColumn("is_tool", (F.col("role") == "tool").cast("long"))
              .withColumn("is_done", F.col("text").contains("task=done").cast("long")))


def session_rollup_stream(df: DataFrame, gap: str = "30 minutes",
                          watermark: str = "1 hour") -> DataFrame:
    """aggregate-filter analog: session windows keyed by conv_id.

    Watermark bounds state: a session is emitted (and its state evicted)
    once the event-time watermark passes session_end — the event-time
    version of the reference's timeout flush (PeriodicFlush.java:50-57).

    The aggregation inputs are projected to 4 slim columns BEFORE the
    groupBy so the session shuffle never carries text/parsed fields —
    at 100 TB the shuffle payload is the scaling bottleneck, not the scan.
    """
    if "is_tool" in df.columns:
        # flags were precomputed at parse time: the scan reads 4 slim
        # columns and never touches text
        slim = df.select("conv_id", "ts",
                         F.col("is_tool").alias("__is_tool"),
                         F.col("is_done").alias("__is_done"))
    else:
        slim = df.select(
            "conv_id", "ts",
            (F.col("role") == "tool").cast("long").alias("__is_tool"),
            F.col("text").contains("task=done").cast("long").alias("__is_done"),
        )
    return (
        slim.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("sw"), F.col("conv_id"))
        .agg(
            F.count(F.lit(1)).alias("n_turns"),
            F.min("ts").alias("first_ts"),
            F.max("ts").alias("last_ts"),
            F.sum("__is_tool").cast("long").alias("n_tool_turns"),
            F.max("__is_done").cast("long").alias("task_done"),
        )
        .select(F.col("sw.start").alias("session_start"),
                F.col("sw.end").alias("session_end"),
                "conv_id", "n_turns", "first_ts", "last_ts",
                "n_tool_turns", "task_done")
    )


def rollup_stream(df: DataFrame, size: str = "1 hour",
                  watermark: str = "1 hour") -> DataFrame:
    """metrics-filter analog: per-role+tool tumbling rates."""
    return (
        df.withWatermark("ts", watermark)
        .groupBy(F.window("ts", size).alias("w"), "role", "tool")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("window_start"), "role", "tool", "n")
    )


def elapsed_stream_join(df: DataFrame, max_lag_sec: int = 7200,
                        watermark: str = "1 hour") -> DataFrame:
    """elapsed-plugin analog: watermarked stream-stream join pairing each
    user turn with machine responses within the lag bound.

    Both sides carry watermarks; the time-range condition lets Spark bound
    join state (user turns older than watermark+lag are evicted).
    """
    users = (
        df.filter(F.col("role") == "user")
        .select(F.col("conv_id").alias("u_conv"), F.col("turn_idx").alias("u_turn"),
                F.col("ts").alias("u_ts"))
        .withWatermark("u_ts", watermark)
    )
    machines = (
        df.filter(F.col("role").isin("assistant", "tool"))
        .select(F.col("conv_id").alias("m_conv"), F.col("turn_idx").alias("m_turn"),
                F.col("ts").alias("m_ts"))
        .withWatermark("m_ts", watermark)
    )
    return users.join(
        machines,
        F.expr(f"""
            u_conv = m_conv AND
            m_ts > u_ts AND
            m_ts <= u_ts + interval {max_lag_sec} seconds
        """),
        "inner",
    ).select(F.col("u_conv").alias("conv_id"), "u_turn", "u_ts", "m_turn", "m_ts",
             (F.unix_timestamp("m_ts") - F.unix_timestamp("u_ts")).alias("lag_sec"))


def run_north_star(
    spark: SparkSession,
    src_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    gap: str = "30 minutes",
    watermark: str = "1 hour",
    max_files_per_trigger: int | None = None,
    available_now: bool = True,
    emit_turns: bool = True,
):
    """The flagship streaming job: parse -> {per-turn sink, session rollup
    sink}; resumable from checkpoint.

    Two outputs, mirroring the reference where the aggregate filter emits
    summary events ALONGSIDE the original (filtered) events flowing to the
    output stage — and matching the conformance contract ("per-turn text
    equality under stable (conv_id, turn_idx) ordering", BASELINE.json):

    * turns:    grok+mutate'd turns, exactly-once keyed (conv_id, turn_idx).
                A NARROW path — scan -> regex -> write, no shuffle — so it
                scales linearly with executors.
    * sessions: session-window rollup keyed conv_id (the stateful path;
                its shuffle carries only the projected aggregation inputs).

    Triggers: with ``available_now`` both queries drain what is there and
    stop.  Otherwise the turns query runs batches back to back and the
    sessions query runs on the reference's PeriodicFlush tick
    (PERIODIC_FLUSH_INTERVAL), so the stateful work stays off the per-turn
    latency path; no session can close before the watermark passes it
    anyway.  With ``max_files_per_trigger`` set, the sessions query runs
    back to back too: a file cap per 5 s tick would throttle it to
    cap / 5 s files.

    Returns the list of StreamingQuery handles (await them all).
    """
    from logstash_spark.sinks.exactly_once import ExactlyOnceParquetSink

    queries = []
    if emit_turns:
        src = stream_transcripts(spark, src_dir, max_files_per_trigger)
        parsed = parse_stage(src)
        # no merge_keys: (conv_id, turn_idx) is unique by source contract
        # and epoch replays are already no-ops via the commit log — keeping
        # the per-turn path shuffle-free (scan -> regex -> write).  Callers
        # with at-least-once sources put dedup_stream() upstream instead.
        turn_sink = ExactlyOnceParquetSink(os.path.join(out_dir, "turns"))
        w = (parsed.writeStream.outputMode("append")
             .option("checkpointLocation", os.path.join(checkpoint_dir, "turns"))
             .queryName("north_star_turns")
             .foreachBatch(turn_sink.foreach_batch()))
        if available_now:
            w = w.trigger(availableNow=True)
        q1 = w.start()
        queries.append(q1)
        if available_now:
            # chain: sessionize the turns sink output (p2p-bus shape) so
            # the scan+grok work is done ONCE; the sessions query reads
            # already-parsed columnar data
            q1.awaitTermination()
            sess_src = (spark.readStream.schema(PARSED_SCHEMA)
                        .option("pathGlobFilter", "*.parquet")
                        .parquet(os.path.join(out_dir, "turns", "batch_id=*")))
            sessions = session_rollup_stream(sess_src, gap, watermark)
        else:
            # continuous mode: independent second scan of the source.
            # flags-only — the sessions branch uses no grok captures, and
            # parsing here would re-run the regex (session_flags_stage)
            sessions = session_rollup_stream(session_flags_stage(
                stream_transcripts(spark, src_dir, max_files_per_trigger)),
                gap, watermark)
    else:
        sessions = session_rollup_stream(session_flags_stage(
            stream_transcripts(spark, src_dir, max_files_per_trigger)),
            gap, watermark)

    # no merge_keys: append-mode session_window emits each (conv_id,
    # session) once, and epoch replays are no-ops via the commit log
    sess_sink = ExactlyOnceParquetSink(os.path.join(out_dir, "sessions"))
    w = (sessions.writeStream.outputMode("append")
         .option("checkpointLocation", os.path.join(checkpoint_dir, "sessions"))
         .queryName("north_star_sessions")
         .foreachBatch(sess_sink.foreach_batch()))
    if available_now:
        w = w.trigger(availableNow=True)
    elif not max_files_per_trigger:
        w = w.trigger(processingTime=PERIODIC_FLUSH_INTERVAL)
    queries.append(w.start())
    return NorthStarHandle(queries)


class NorthStarHandle:
    """Await-all wrapper so existing call sites (`q.awaitTermination()`)
    keep working across the one-query -> two-query change."""

    def __init__(self, queries):
        self.queries = queries

    def awaitTermination(self):
        for q in self.queries:
            q.awaitTermination()

    @property
    def recentProgress(self):
        return [p for q in self.queries for p in q.recentProgress]

    @property
    def lastProgress(self):
        return self.queries[-1].lastProgress

    @property
    def isActive(self):
        return any(q.isActive for q in self.queries)


def dedup_stream(df: DataFrame, keys: list[str] | None = None,
                 watermark: str = "1 hour") -> DataFrame:
    """At-least-once -> exactly-once row dedup inside the stream.

    The reference's persistent queue redelivers after crash (at-least-once,
    docs/reference/persistent-queues.md:17, 319-334); upstream systems also
    retry sends.  `dropDuplicatesWithinWatermark` keeps per-key state only
    until the watermark passes, so duplicate turns delivered within the
    watermark bound are suppressed with bounded state — the row-level
    complement of the epoch-level idempotent sink (sinks/exactly_once.py).
    """
    keys = keys or ["conv_id", "turn_idx"]
    return df.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(keys)


def run_parse_to_bus(spark: SparkSession, src_dir: str, bus_dir: str,
                     checkpoint_dir: str, available_now: bool = True):
    """Pipeline-to-pipeline, upstream half (PipelineBus.java:56-66 analog).

    The Logstash p2p bus routes events between named pipelines in-VM with
    ensureDelivery; in Spark the bus is a replayable intermediate table:
    upstream writes its filtered output as an append-only parquet stream
    (offsets in its own checkpoint = ensureDelivery), downstream readStreams
    the same directory.  Decoupling means each half restarts/retries
    independently — the same failure isolation the bus provides.
    """
    src = stream_transcripts(spark, src_dir)
    parsed = parse_stage(src)
    w = (parsed.writeStream.outputMode("append")
         .option("checkpointLocation", checkpoint_dir)
         .format("parquet").option("path", bus_dir))
    if available_now:
        w = w.trigger(availableNow=True)
    return w.start()


PARSED_SCHEMA = (TRANSCRIPT_SCHEMA
                 + ", status long, bytes long, tool_name string, msg string, "
                   "tags array<string>, is_tool long, is_done long")


def run_bus_to_sessions(spark: SparkSession, bus_dir: str, out_dir: str,
                        checkpoint_dir: str, gap: str = "30 minutes",
                        watermark: str = "1 hour", available_now: bool = True):
    """Pipeline-to-pipeline, downstream half: sessionize the bus stream
    into the exactly-once sink (same stateful stage as run_north_star)."""
    from logstash_spark.sinks.exactly_once import ExactlyOnceParquetSink

    src = spark.readStream.schema(PARSED_SCHEMA).parquet(bus_dir)
    sessions = session_rollup_stream(src, gap, watermark)
    sink = ExactlyOnceParquetSink(out_dir)
    w = (sessions.writeStream.outputMode("append")
         .option("checkpointLocation", checkpoint_dir)
         .foreachBatch(sink.foreach_batch()))
    if available_now:
        w = w.trigger(availableNow=True)
    return w.start()

"""Windowed / stateful operators: metrics, throttle, aggregate, elapsed.

These are the Logstash plugins whose semantics are genuinely *stateful* —
in the reference they hold cross-event state inside a single worker thread
and emit on flush ticks (PeriodicFlush.java:50-57, flush API
AbstractFilterDelegatorExt.java:154-175).  In Spark they become windowed
aggregations and range joins, which shard by key across the cluster instead
of serializing onto one thread — the reference's aggregate filter literally
forces pipeline.workers=1 (java_pipeline.rb:105-127), our version scales
horizontally by conv_id.

 * metrics  (meta:181)  -> tumbling/sliding event-time windows
 * throttle (meta:211)  -> windowed count per key joined back
 * aggregate (meta:79)  -> session_window keyed by conv_id (+ exact CEP
                           variant in streaming/, via applyInPandas timers)
 * elapsed (north-star) -> time-bounded self-join (stream-stream join in
                           streaming mode with watermarks)

Batch and streaming share these builders: every function takes/returns a
DataFrame and uses only operations legal in Structured Streaming (windowed
groupBy, watermark-compatible joins).

Scale notes: all aggregations here are partial-aggregate friendly
(count/sum/min/max), so map-side combine halves the shuffle; the join keys
are (conv_id), and hot conversations are left to AQE skew-join splitting
(session.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


# -- metrics filter analog: per-key rate rollups ------------------------------

def tumbling_rollup(df: DataFrame, ts_col: str, size: str,
                    keys: list[str], aggs: list[Column]) -> DataFrame:
    """Tumbling event-time window (metrics filter's 1m/5m/15m rates,
    FlowMetric.java:31-50 analog). Emits window_start + keys + aggs."""
    w = F.window(F.col(ts_col), size)
    return (
        df.groupBy(w.alias("w"), *[F.col(k) for k in keys])
        .agg(*aggs)
        .withColumn("window_start", F.col("w.start"))
        .withColumn("window_end", F.col("w.end"))
        .drop("w")
    )


def sliding_rollup(df: DataFrame, ts_col: str, size: str, slide: str,
                   keys: list[str], aggs: list[Column]) -> DataFrame:
    w = F.window(F.col(ts_col), size, slide)
    return (
        df.groupBy(w.alias("w"), *[F.col(k) for k in keys])
        .agg(*aggs)
        .withColumn("window_start", F.col("w.start"))
        .withColumn("window_end", F.col("w.end"))
        .drop("w")
    )


# -- throttle filter analog ----------------------------------------------------

def throttle(df: DataFrame, ts_col: str, key_cols: list[str], period: str,
             max_count: int, tag: str = "throttled",
             order_cols: list[str] | None = None) -> DataFrame:
    """Tag events beyond `max_count` per key per tumbling period.

    Reference `after_count` semantics (logstash-filter-throttle, meta:211):
    the first `max_count` events of a (key, window) PASS untagged and only
    the excess is tagged — matching the streaming twin
    (streaming/stateful.make_throttle_fn, which keeps a running counter).
    Implemented as row_number over (window, key) ordered by
    (`order_cols` or ts): one shuffle on the (window, key) grouping, no
    join-back.  Ties on ts make row_number nondeterministic — pass a
    tiebreak (e.g. turn_idx) in `order_cols` for reproducible output.
    This ranking shape is batch-only; streaming uses the stateful twin.
    """
    from pyspark.sql import Window

    from logstash_spark.functions.decorators import add_tag

    order_cols = order_cols or [ts_col]
    ws = F.window(F.col(ts_col), period).getField("start")
    w = Window.partitionBy(ws, *[F.col(k) for k in key_cols]) \
              .orderBy(*[F.col(c) for c in order_cols])
    return add_tag(df, tag, when=F.row_number().over(w) > max_count)


# -- aggregate filter analog: session windows ------------------------------------

def session_rollup(df: DataFrame, ts_col: str, key_col: str, gap: str,
                   aggs: list[Column] | None = None) -> DataFrame:
    """Session-window aggregation keyed by conversation.

    Reference: logstash-filter-aggregate's `timeout` mode (push map as event
    when no activity for N seconds).  `session_window(ts, gap)` merges
    events closer than `gap`; emitted session_end = last ts + gap, matching
    the reference's "timeout fires gap after last event".
    """
    aggs = aggs or [
        F.count(F.lit(1)).alias("n_turns"),
        F.min(ts_col).alias("first_ts"),
        F.max(ts_col).alias("last_ts"),
    ]
    sw = F.session_window(F.col(ts_col), gap)
    return (
        df.groupBy(sw.alias("sw"), F.col(key_col))
        .agg(*aggs)
        .withColumn("session_start", F.col("sw.start"))
        .withColumn("session_end", F.col("sw.end"))
        .drop("sw")
    )


def aggregate_end_of_task(df: DataFrame, key_col: str, ts_col: str,
                          end_marker: Column) -> DataFrame:
    """aggregate filter `end_of_task` mode: accumulate per task (conv_id),
    emit one summary row only for tasks whose end marker arrived
    (push_previous_map_as_event semantics, meta:79).

    Batch/streaming-shared shape: single groupBy over the key — partial
    aggregation map-side, one shuffle on conv_id.
    """
    return (
        df.groupBy(F.col(key_col))
        .agg(
            F.count(F.lit(1)).alias("n_turns"),
            F.min(ts_col).alias("first_ts"),
            F.max(ts_col).alias("last_ts"),
            F.sum(F.when(F.col("role") == "tool", 1).otherwise(0)).alias("n_tool_calls"),
            F.max(F.when(end_marker, 1).otherwise(0)).alias("__done"),
        )
        .filter(F.col("__done") == 1)
        .withColumn("duration_sec",
                    (F.unix_timestamp("last_ts") - F.unix_timestamp("first_ts")))
        .drop("__done")
    )


# -- elapsed analog: correlate request/response turns ------------------------------

def elapsed_join(df: DataFrame, key_col: str, ts_col: str,
                 start_pred: Column, end_pred: Column,
                 max_lag: str = "interval 5 minutes",
                 id_cols: list[str] | None = None) -> DataFrame:
    """Pair each `start` event with its FIRST following `end` event on the
    same key within `max_lag`; emit the elapsed seconds.

    Logstash's elapsed plugin keeps a start-event dict and scans ends
    against it on one thread; here it is a time-bounded equi-join on the
    key + a min() to pick the earliest end — in streaming this exact shape
    is the watermarked stream-stream join (SURVEY.md §2.3 elapsed row).

    ``id_cols`` are extra start-event identity columns carried through the
    groupBy (empty by default — callers on the transcript tables pass
    ["turn_idx"]; a bare (key, start_ts) identity works on any frame).
    """
    id_cols = id_cols or []
    s = df.filter(start_pred).select(
        F.col(key_col).alias("k"), F.col(ts_col).alias("start_ts"),
        *[F.col(c).alias(f"start_{c}") for c in id_cols])
    e = df.filter(end_pred).select(
        F.col(key_col).alias("k2"), F.col(ts_col).alias("end_ts"),
        *[F.col(c).alias(f"end_{c}") for c in id_cols])
    j = s.join(
        e,
        (F.col("k") == F.col("k2"))
        & (F.col("end_ts") > F.col("start_ts"))
        & (F.col("end_ts") <= F.col("start_ts") + F.expr(max_lag)),
        "inner",
    )
    first_end = (
        j.groupBy("k", "start_ts", *[f"start_{c}" for c in id_cols])
        .agg(F.min("end_ts").alias("end_ts"))
        .withColumnRenamed("k", key_col)
        .withColumn("elapsed_sec",
                    F.unix_timestamp("end_ts") - F.unix_timestamp("start_ts"))
    )
    return first_end


# -- metrics filter analog: multi-window rate rollups -----------------------------

def metrics_rates(df: DataFrame, ts_col: str, keys: list[str],
                  windows: list[str]) -> DataFrame:
    """metrics filter's 1m/5m/15m rate family (plugins-metadata.json:181;
    FlowMetric.java:31-50 retention windows): per-key event counts + rates
    over several tumbling window sizes, unioned with a window_size tag.

    Each window size is an independent groupBy over the same scan; Catalyst
    reuses the shared scan+filter prefix, and each agg does map-side partial
    aggregation before its single shuffle.
    """
    parts = []
    for size in windows:
        w = F.window(F.col(ts_col), size)
        secs = F.unix_timestamp(F.col("w.end")) - F.unix_timestamp(F.col("w.start"))
        parts.append(
            df.groupBy(w.alias("w"), *[F.col(k) for k in keys])
            .agg(F.count(F.lit(1)).alias("n"))
            .select(
                F.lit(size).alias("window_size"),
                F.col("w.start").alias("window_start"),
                *keys,
                "n",
                (F.col("n") / secs).alias("rate_per_sec"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def metrics_ewma(df: DataFrame, ts_col: str, keys: list[str],
                 interval: str = "5 seconds", alpha: float = 0.3,
                 rate_col: str = "rate_ewma") -> DataFrame:
    """Exponentially-weighted rate per key — the reference metrics
    filter's actual estimator (Metriks-style one-minute-rate EWMA over
    flush intervals, plugins-metadata.json:181), vs metrics_rates'
    tumbling-window approximation.

    Two stages: (1) per-key per-interval counts — one shuffle with
    map-side combine; (2) the EWMA recurrence over each key's interval
    series via applyInPandas (vectorized pandas ewm; the recurrence is
    inherently sequential per key, the canonical stateful-UDAF shape of
    SURVEY §2.8).  State per key is one float — scales to any key count.
    """
    import pandas as pd

    counts = (df.groupBy(F.window(F.col(ts_col), interval).alias("w"),
                         *[F.col(k) for k in keys])
              .agg(F.count(F.lit(1)).alias("n"))
              .select(*keys, F.col("w.start").alias("window_start"), "n"))

    out_schema = ", ".join(
        [f"`{k}` string" for k in keys]
        + ["window_start timestamp", "n bigint", f"{rate_col} double"])

    def ewma(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("window_start").reset_index(drop=True)
        pdf[rate_col] = pdf["n"].astype("float64").ewm(
            alpha=alpha, adjust=False).mean()
        return pdf

    return counts.groupBy(*keys).applyInPandas(ewma, out_schema)


def elapsed_expired(df: DataFrame, key_col: str, ts_col: str,
                    start_pred: Column, end_pred: Column,
                    max_lag: str = "interval 5 minutes",
                    id_cols: list[str] | None = None) -> DataFrame:
    """elapsed plugin's timeout path: start events with NO matching end
    within max_lag (plugin emits them tagged `elapsed_expired_error` on
    its flush tick).  Same join condition as elapsed_join, left_anti —
    one shuffle, no state beyond the join."""
    from logstash_spark.functions.decorators import add_tag

    id_cols = id_cols or []
    s = df.filter(start_pred).select(
        F.col(key_col), F.col(ts_col).alias("start_ts"),
        *[F.col(c).alias(f"start_{c}") for c in id_cols])
    e = df.filter(end_pred).select(
        F.col(key_col).alias("__k2"), F.col(ts_col).alias("__end_ts"))
    expired = s.join(
        e,
        (F.col(key_col) == F.col("__k2"))
        & (F.col("__end_ts") > F.col("start_ts"))
        & (F.col("__end_ts") <= F.col("start_ts") + F.expr(max_lag)),
        "left_anti",
    )
    return add_tag(expired, "elapsed_expired_error")


def metrics_timer(df: DataFrame, ts_col: str, keys: list[str],
                  value_col: str, size: str = "1 hour",
                  percentiles: tuple = (0.5, 0.9, 0.95, 0.99),
                  accuracy: int = 10000) -> DataFrame:
    """metrics filter `timer` mode (meta:181): per-key windowed latency
    stats — count/min/max/mean/stddev plus percentiles.

    Percentiles use `percentile_approx` (Greenwald-Khanna sketch): a
    mergeable partial aggregate, so map-side combine applies and the
    shuffle carries one sketch per (window, key) instead of raw values —
    the only percentile shape that survives 100 TB.  `accuracy` trades
    sketch size for error (1/accuracy relative rank error).
    """
    w = F.window(F.col(ts_col), size)
    pct = F.percentile_approx(
        value_col, F.array(*[F.lit(p) for p in percentiles]), accuracy)
    out = (df.groupBy(w.alias("w"), *[F.col(k) for k in keys])
           .agg(F.count(F.lit(1)).alias("n"),
                F.min(value_col).alias("min"),
                F.max(value_col).alias("max"),
                F.avg(value_col).alias("mean"),
                F.stddev_samp(value_col).alias("stddev"),
                pct.alias("__pcts"))
           .withColumn("window_start", F.col("w.start")).drop("w"))
    for i, p in enumerate(percentiles):
        name = f"p{str(p * 100).rstrip('0').rstrip('.').replace('.', '_')}"
        out = out.withColumn(name, F.col("__pcts")[i])
    return out.drop("__pcts")

"""Streaming conformance: watermark/session semantics, exactly-once sink
idempotence, checkpoint kill/resume, stream-stream join, metrics lineage.

Mirrors the reference's behavioral pipeline specs
(logstash-core/spec/logstash/java_pipeline_spec.rb — lifecycle, flush,
shutdown) transposed to Structured Streaming guarantees: same input +
same watermark => same output rows.
"""

import glob
import json
import os

import pytest
from pyspark.sql import functions as F

from logstash_spark.sources.transcripts import generate_transcripts
from logstash_spark.streaming import jobs as J
from logstash_spark.sinks.exactly_once import ExactlyOnceParquetSink


@pytest.fixture(scope="module")
def stream_src(tmp_path_factory):
    """Small transcript parquet dir written as multiple files."""
    d = tmp_path_factory.mktemp("stream_src")
    _write_stream_src(str(d), generate_transcripts(4000, seed=7))
    return str(d)


def _write_stream_src(d, tbl):
    """Write ``tbl`` into ``d`` as 4 event-time-ordered parquet files."""
    import pyarrow.parquet as pq

    # a real transcript stream arrives (roughly) time-ordered; slice files by
    # event time so the watermark semantics match ingestion order (the ~1%
    # late rows inside the generator still exercise the late path)
    import pyarrow.compute as pc
    tbl = tbl.take(pc.sort_indices(tbl, sort_keys=[("ts", "ascending")]))
    n = tbl.num_rows
    step = n // 4
    for i in range(4):
        sl = tbl.slice(i * step, step if i < 3 else n - 3 * step)
        p = os.path.join(d, f"part-{i:02d}.parquet")
        pq.write_table(sl, p)
        # Spark's file source orders by modification time; ties make the
        # pickup order arbitrary and can deliver older data behind the
        # watermark. Pin strictly increasing mtimes = arrival order.
        os.utime(p, (1_700_000_000 + i, 1_700_000_000 + i))


def _wait(q):
    q.awaitTermination()


def test_north_star_stream_matches_batch(spark, stream_src, tmp_path):
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    q = J.run_north_star(spark, stream_src, out, ckpt,
                         max_files_per_trigger=2)
    _wait(q)
    sink = ExactlyOnceParquetSink(os.path.join(out, "sessions"))
    got = sink.read(spark)

    # batch oracle: same operators in batch mode
    batch_src = spark.read.parquet(stream_src)
    expected = J.session_rollup_stream.__wrapped__(batch_src) if hasattr(
        J.session_rollup_stream, "__wrapped__") else None
    # session_rollup_stream works on batch DataFrames too (same code path)
    expected = J.session_rollup_stream(J.parse_stage(batch_src))

    # streaming append-mode emits only sessions finalized by the final
    # watermark; every emitted row must match the batch computation exactly
    exp_rows = {tuple(r) for r in expected.collect()}
    got_rows = {tuple(r) for r in got.select(*expected.columns).collect()}
    assert got_rows, "stream emitted nothing"
    extras = got_rows - exp_rows
    assert not extras, (
        f"stream emitted rows batch would not produce: {len(extras)} extras, "
        f"got={len(got_rows)} exp={len(exp_rows)}; sample={sorted(extras)[:2]}")
    # coverage: sessions fully before the final watermark must all be present
    max_ts = batch_src.agg(F.max("ts")).collect()[0][0]
    import datetime
    final_wm = max_ts - datetime.timedelta(hours=1)
    # NOTE: filter in Python over the collected rows — re-filtering the lazy
    # plan on session_end gets pushed below the session_window aggregation by
    # Catalyst (it becomes a ts predicate), truncating sessions.
    must_have = {r for r in exp_rows if r[1] < final_wm}  # r[1] = session_end
    missing = must_have - got_rows
    assert not missing, f"missing={sorted(missing)[:2]}"


def test_exactly_once_replay_is_noop(spark, stream_src, tmp_path):
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    q = J.run_north_star(spark, stream_src, out, ckpt, max_files_per_trigger=2)
    _wait(q)
    sink = ExactlyOnceParquetSink(os.path.join(out, "sessions"),
                                  merge_keys=["conv_id", "session_start"])
    before = sink.read(spark).count()
    committed = sorted(sink.committed_ids())
    assert len(committed) >= 2, "expected multiple epochs"
    # simulate Spark epoch replay after crash: re-deliver an old epoch
    replay_df = spark.read.parquet(
        os.path.join(out, "sessions", f"batch_id={committed[0]}"))
    sink.handle(replay_df, committed[0])
    after = sink.read(spark).count()
    assert after == before, "replayed epoch must be a no-op"


def test_checkpoint_resume_processes_only_new_files(spark, stream_src, tmp_path):
    """Kill/resume: run on the full dir, then add new files and restart from
    the same checkpoint — only the new files are processed (offset lineage),
    and re-running with no new data emits nothing new."""
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    q = J.run_north_star(spark, stream_src, out, ckpt)
    _wait(q)
    sink = ExactlyOnceParquetSink(os.path.join(out, "sessions"))
    n1 = sink.read(spark).count()
    epochs1 = sink.committed_ids()

    # restart with zero new input: no new epochs with rows
    q2 = J.run_north_star(spark, stream_src, out, ckpt)
    _wait(q2)
    n2 = sink.read(spark).count()
    assert n2 == n1, "restart with no new data must not duplicate output"

    # append fresh conversations far in the future -> advances watermark,
    # new sessions emitted on resume
    import pyarrow.parquet as pq
    tbl = generate_transcripts(1500, seed=99)
    import pyarrow as pa
    import pyarrow.compute as pc
    shifted = tbl.set_column(
        tbl.schema.get_field_index("ts"), "ts",
        pc.add(tbl["ts"], pa.scalar(365 * 86400 * 1_000_000, type=pa.duration("us"))))
    pq.write_table(shifted, os.path.join(stream_src, "part-late.parquet"))
    q3 = J.run_north_star(spark, stream_src, out, ckpt)
    _wait(q3)
    n3 = sink.read(spark).count()
    assert n3 > n2, "new files after resume must produce new sessions"
    assert sink.committed_ids() > epochs1


def _sessions_trigger(handle):
    q = next(q for q in handle.queries if q.name == "north_star_sessions")
    return q._jsq.streamingQuery().trigger().toString()


def test_continuous_north_star_matches_available_now(spark, tmp_path):
    """The continuous north star (turns back to back, sessions on the 5 s
    flush tick) fed in two halves while it runs, so the sessions query sees
    at least two data ticks with the watermark moving between them.  Once
    both queries have read everything and the sessions query has run its
    no-data batch, the turns sink holds every input turn exactly once and
    the sessions sink equals what an available_now run of the same input
    emits."""
    import time

    staging = str(tmp_path / "staging")
    src = str(tmp_path / "src")
    os.makedirs(staging)
    os.makedirs(src)
    tbl = generate_transcripts(4000, seed=7)
    _write_stream_src(staging, tbl)
    n = tbl.num_rows
    parts = sorted(os.listdir(staging))

    def deliver(names):
        # rename keeps the pinned mtimes, and the source never lists a
        # half-written file
        for name in names:
            os.rename(os.path.join(staging, name), os.path.join(src, name))

    deliver(parts[:2])
    live = J.run_north_star(spark, src, str(tmp_path / "live_out"),
                            str(tmp_path / "live_ckpt"), available_now=False)
    turns_q, sess_q = live.queries
    try:
        assert _sessions_trigger(live) == "ProcessingTimeTrigger(5000)"

        def wait_until(cond, what):
            deadline = time.time() + 120
            while not cond():
                assert time.time() < deadline, what
                assert turns_q.exception() is None and sess_q.exception() is None
                time.sleep(0.2)

        def sess_rows():
            return sum(p["numInputRows"] for p in sess_q.recentProgress)

        wait_until(lambda: sess_rows() > 0, "no first sessions data batch")
        first_half = sess_rows()
        assert first_half < n
        deliver(parts[2:])

        def drained():
            turns_rows = sum(p["numInputRows"] for p in turns_q.recentProgress)
            sp = sess_q.recentProgress
            last_data = max((p["batchId"] for p in sp if p["numInputRows"]),
                            default=None)
            no_data_after = last_data is not None and any(
                p["batchId"] > last_data and not p["numInputRows"] for p in sp)
            return turns_rows == n and sess_rows() == n and no_data_after

        wait_until(drained, "continuous north star did not drain")
        data_ticks = [p for p in sess_q.recentProgress if p["numInputRows"]]
        assert len(data_ticks) >= 2, data_ticks
    finally:
        for q in live.queries:
            q.stop()

    closed = J.run_north_star(spark, src, str(tmp_path / "closed_out"),
                              str(tmp_path / "closed_ckpt"))
    closed.awaitTermination()

    cols = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    turns = ExactlyOnceParquetSink(str(tmp_path / "live_out" / "turns")).read(spark)
    got_turns = [tuple(r) for r in turns.select(*cols).collect()]
    assert len(got_turns) == n
    assert set(got_turns) == {tuple(r) for r in spark.read.parquet(src)
                              .select(*cols).collect()}

    live_sink = ExactlyOnceParquetSink(str(tmp_path / "live_out" / "sessions"))
    emitting = []
    for i in live_sink.committed_ids():
        with open(os.path.join(live_sink.commits_dir, f"{i}.json")) as f:
            if json.load(f)["rows"]:
                emitting.append(i)
    # sessions closed by the first half's watermark emit before the rest
    assert len(emitting) >= 2, emitting

    live_sess = live_sink.read(spark)
    closed_sess = ExactlyOnceParquetSink(
        str(tmp_path / "closed_out" / "sessions")).read(spark)
    got = [tuple(r) for r in live_sess.select(*closed_sess.columns).collect()]
    exp = [tuple(r) for r in closed_sess.collect()]
    assert got, "continuous run emitted no sessions"
    assert sorted(got) == sorted(exp)


def test_capped_continuous_sessions_not_on_flush_tick(spark, stream_src, tmp_path):
    """With max_files_per_trigger the sessions query runs back to back: a
    file cap per 5 s tick would throttle it to cap / 5 s files."""
    h = J.run_north_star(spark, stream_src, str(tmp_path / "o"),
                         str(tmp_path / "c"), max_files_per_trigger=1,
                         available_now=False)
    try:
        assert _sessions_trigger(h) == "ProcessingTimeTrigger(0)"
    finally:
        for q in h.queries:
            q.stop()


def test_streamed_sessions_unique_across_epochs(spark, stream_src, tmp_path):
    """The sessions sink carries no dedup key: append-mode session_window
    must itself emit each (conv_id, session_start) once over all epochs."""
    out = str(tmp_path / "out")
    q = J.run_north_star(spark, stream_src, out, str(tmp_path / "ckpt"),
                         max_files_per_trigger=1, emit_turns=False)
    _wait(q)
    sink = ExactlyOnceParquetSink(os.path.join(out, "sessions"))
    rows_per_epoch = []
    for i in sink.committed_ids():
        with open(os.path.join(sink.commits_dir, f"{i}.json")) as f:
            rows_per_epoch.append(json.load(f)["rows"])
    assert sum(1 for r in rows_per_epoch if r) >= 2, rows_per_epoch
    keys = [(r.conv_id, r.session_start)
            for r in sink.read(spark).select("conv_id", "session_start").collect()]
    assert len(keys) == sum(rows_per_epoch)
    assert len(keys) == len(set(keys))


def test_file_listing_fanout_capped_at_parallelism(spark, tmp_path):
    """Guards the continuous sessions tick: each tick's getBatch lists about
    100 new files, and above 32 paths Spark lists them in a job of one task
    per path unless get_spark caps the fan-out at the engine's parallelism.
    `spark.read.parquet(*paths)` takes the same InMemoryFileIndex path."""
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq

    paths = []
    for i in range(100):
        p = str(tmp_path / f"f{i:03d}.parquet")
        pq.write_table(pa.table({"n": [i]}), p)
        paths.append(p)
    sc = spark.sparkContext
    group = "listing-fanout"
    sc.setJobGroup(group, "listing fan-out probe")
    try:
        assert spark.read.parquet(*paths).count() == 100
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    tracker = sc.statusTracker()

    def settled_stages():
        jobs = [tracker.getJobInfo(j) for j in tracker.getJobIdsForGroup(group)]
        stages = [tracker.getStageInfo(s) for job in jobs for s in job.stageIds]
        if jobs and all(j.status == "SUCCEEDED" for j in jobs) and all(stages):
            return stages
        return None

    # the status store is fed asynchronously by the listener bus
    deadline = time.monotonic() + 10
    while (stages := settled_stages()) is None:
        assert time.monotonic() < deadline, "read jobs never reached the status store"
        time.sleep(0.1)
    tasks = [s.numTasks for s in stages]
    assert max(tasks) <= sc.defaultParallelism, tasks


def test_fixture_data_root_follows_checkout_and_env(tmp_path, monkeypatch):
    """Generated fixtures land under this checkout's data/ (never a fixed
    absolute path), or under $LOGSTASH_SPARK_DATA when it is set."""
    import logstash_spark
    from logstash_spark.sources import transcripts as T

    checkout = os.path.dirname(os.path.dirname(os.path.abspath(logstash_spark.__file__)))
    monkeypatch.delenv("LOGSTASH_SPARK_DATA", raising=False)
    assert T.default_data_root() == os.path.join(checkout, "data")

    monkeypatch.setenv("LOGSTASH_SPARK_DATA", str(tmp_path))
    path = T.ensure_transcripts_parquet(0.0001)
    assert path == os.path.join(str(tmp_path), "transcripts_sf0.0001")
    assert os.path.exists(os.path.join(path, "_SUCCESS"))


def test_elapsed_stream_join(spark, stream_src, tmp_path):
    src = J.stream_transcripts(spark, stream_src)
    joined = J.elapsed_stream_join(src, max_lag_sec=7200)
    out_dir = str(tmp_path / "join_out")
    ckpt = str(tmp_path / "join_ckpt")
    sink = ExactlyOnceParquetSink(out_dir)
    q = (joined.writeStream.outputMode("append")
         .option("checkpointLocation", ckpt)
         .foreachBatch(sink.foreach_batch())
         .trigger(availableNow=True).start())
    _wait(q)
    got = sink.read(spark)
    batch = J.elapsed_stream_join(spark.read.parquet(stream_src))
    got_rows = {tuple(r) for r in got.collect()}
    exp_rows = {tuple(r) for r in batch.collect()}
    assert got_rows, "join emitted nothing"
    assert got_rows <= exp_rows
    # all pairs where both sides precede the final watermark must be present
    assert all(r[5] > 0 and r[5] <= 7200 for r in got_rows)  # lag_sec bounds


def test_flow_metrics_listener(spark, stream_src, tmp_path):
    from logstash_spark.streaming.listener import FlowMetricsListener

    metrics_path = str(tmp_path / "metrics.jsonl")
    listener = FlowMetricsListener(metrics_path)
    spark.streams.addListener(listener)
    try:
        q = J.run_north_star(spark, stream_src, str(tmp_path / "o"),
                             str(tmp_path / "c"), max_files_per_trigger=2)
        _wait(q)
    finally:
        spark.streams.removeListener(listener)
    lines = [json.loads(l) for l in open(metrics_path)]
    progress = [l for l in lines if l["event"] == "progress" and l["numInputRows"]]
    assert progress, "no progress events captured"
    p = progress[0]
    assert p["sources"] and p["sources"][0]["endOffset"], "offset lineage missing"
    assert any(l["event"] == "started" for l in lines)


def test_dedup_stream_suppresses_redelivery(spark, tmp_path):
    """Duplicate turns re-delivered in a later file (within the watermark)
    must be emitted exactly once."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    src = str(tmp_path / "src")
    os.makedirs(src)

    def tbl(rows):
        return pa.table({
            "conv_id": pa.array([r[0] for r in rows]),
            "turn_idx": pa.array([r[1] for r in rows], type=pa.int32()),
            "role": pa.array(["user"] * len(rows)),
            "text": pa.array([r[2] for r in rows]),
            "tool": pa.array([None] * len(rows), type=pa.string()),
            "ts": pa.array([r[3] * 1_000_000 for r in rows],
                           type=pa.timestamp("us")),
        })

    t0 = 1_700_000_000
    p0 = os.path.join(src, "p0.parquet")
    pq.write_table(tbl([("A", 0, "one", t0), ("A", 1, "two", t0 + 5),
                        ("B", 0, "b-one", t0 + 7)]), p0)
    os.utime(p0, (1, 1))
    # p1 re-delivers (A,1) — a PQ replay — plus a genuinely new turn
    p1 = os.path.join(src, "p1.parquet")
    pq.write_table(tbl([("A", 1, "two", t0 + 5), ("A", 2, "three", t0 + 9)]), p1)
    os.utime(p1, (2, 2))

    stream = J.stream_transcripts(spark, src, max_files_per_trigger=1)
    deduped = J.dedup_stream(stream, watermark="10 minutes")
    out = str(tmp_path / "out")
    q = (deduped.writeStream.outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .format("parquet").option("path", out)
         .trigger(availableNow=True).start())
    q.awaitTermination()
    rows = spark.read.parquet(out).collect()
    keys = sorted((r["conv_id"], r["turn_idx"]) for r in rows)
    assert keys == [("A", 0), ("A", 1), ("A", 2), ("B", 0)]


def test_rollup_stream_matches_batch(spark, stream_src, tmp_path):
    """Tumbling per-role/tool rollup (metrics filter analog): streamed
    result rows must be a subset of the batch computation, and all windows
    closed by the final watermark must be present."""
    src = J.stream_transcripts(spark, stream_src)
    rolled = J.rollup_stream(src, size="1 hour")
    out = str(tmp_path / "ro")
    q = (rolled.writeStream.outputMode("append")
         .option("checkpointLocation", str(tmp_path / "rc"))
         .format("parquet").option("path", out)
         .trigger(availableNow=True).start())
    q.awaitTermination()
    got = {tuple(r) for r in spark.read.parquet(out).collect()}
    exp = {tuple(r) for r in J.rollup_stream(spark.read.parquet(stream_src)).collect()}
    assert got, "rollup emitted nothing"
    assert got <= exp


def test_pipeline_to_pipeline_bus(spark, stream_src, tmp_path):
    """PipelineBus analog: upstream parse query -> intermediate bus table ->
    downstream sessionization query; composed result must match the single
    north-star pipeline's output."""
    bus = str(tmp_path / "bus")
    out = str(tmp_path / "out")
    q1 = J.run_parse_to_bus(spark, stream_src, bus, str(tmp_path / "c1"))
    q1.awaitTermination()
    q2 = J.run_bus_to_sessions(spark, bus, out, str(tmp_path / "c2"))
    q2.awaitTermination()
    got = {tuple(r) for r in ExactlyOnceParquetSink(out).read(spark).collect()}
    assert got, "p2p pipeline emitted nothing"
    # reference: the fused pipeline over the same input
    fused = J.session_rollup_stream(J.parse_stage(spark.read.parquet(stream_src)))
    exp = {tuple(r) for r in fused.select(*ExactlyOnceParquetSink(out).read(spark).columns).collect()}
    assert got <= exp


def test_generator_input_stream(spark, tmp_path):
    """Generator-input analog over the rate source: correct schema and
    deterministic shape, drained via a short run."""
    from logstash_spark.sources.transcripts import generator_input_stream

    src = generator_input_stream(spark, rows_per_second=5000)
    assert src.isStreaming
    out = str(tmp_path / "gen_out")
    q = (src.writeStream.outputMode("append")
         .option("checkpointLocation", str(tmp_path / "gen_ckpt"))
         .format("parquet").option("path", out).start())
    import time
    deadline = time.time() + 30
    while time.time() < deadline:
        time.sleep(1)
        try:
            if spark.read.parquet(out).count() > 0:
                break
        except Exception:
            continue
    q.stop()
    rows = spark.read.parquet(out)
    assert rows.count() > 0
    assert rows.columns == ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    r = rows.filter("role = 'tool'").first()
    if r is not None:
        assert r["tool"] is not None and "tool=" in r["text"]


def test_north_star_per_turn_text_equality(spark, tmp_path):
    """THE conformance contract (BASELINE.json north rule): the streamed
    per-turn output must reproduce the reference pipeline's rows exactly —
    per-turn text equality under stable (conv_id, turn_idx) ordering —
    for the same input and watermark.

    Uses a private source dir: (conv_id, turn_idx) is the row identity key
    (the exactly-once merge key), so the input must honor its uniqueness —
    unlike the module fixture, which another test intentionally pollutes
    with replayed conv ids."""
    import pyarrow.parquet as pq

    stream_src = str(tmp_path / "src")
    os.makedirs(stream_src)
    pq.write_table(generate_transcripts(3000, seed=21),
                   os.path.join(stream_src, "p0.parquet"))
    out = str(tmp_path / "out")
    q = J.run_north_star(spark, stream_src, out, str(tmp_path / "ckpt"))
    _wait(q)
    turns = ExactlyOnceParquetSink(os.path.join(out, "turns")).read(spark)

    # reference semantics in batch over the same input (same operators,
    # executed without streaming machinery = the oracle)
    expected = J.parse_stage(spark.read.parquet(stream_src))

    cols = ["conv_id", "turn_idx", "role", "text", "status", "bytes",
            "tool_name", "msg"]
    got = [tuple(r) for r in turns.select(cols)
           .orderBy("conv_id", "turn_idx", "text").collect()]
    exp = [tuple(r) for r in expected.select(cols)
           .orderBy("conv_id", "turn_idx", "text").collect()]
    assert len(got) == len(exp) and got == exp, (
        f"per-turn mismatch: {len(got)} vs {len(exp)} rows")


def test_throttle_stream_matches_batch(spark, stream_src, tmp_path):
    """Streaming throttle (applyInPandasWithState running count per
    (conv_id, window)) must flag exactly the events a batch cumulative
    count flags: the (max+1)-th and later events of each hot window."""
    from pyspark.sql import Window as W
    from logstash_spark.streaming.stateful import throttle_stream

    MAXC = 2
    src = J.stream_transcripts(spark, stream_src)
    out = str(tmp_path / "th")
    q = (throttle_stream(src, period="1 hour", max_count=MAXC,
                         watermark="2 hours")
         .writeStream.outputMode("append")
         .option("checkpointLocation", str(tmp_path / "thc"))
         .format("parquet").option("path", out)
         .trigger(availableNow=True).start())
    q.awaitTermination()
    got = {(r.conv_id, r.turn_idx, r.throttled)
           for r in spark.read.parquet(out).collect()}

    batch = spark.read.parquet(stream_src)
    we = F.window(F.col("ts"), "1 hour").getField("end")
    w = W.partitionBy("conv_id", we).orderBy("ts", "turn_idx")
    exp = {(r.conv_id, r.turn_idx, r.throttled)
           for r in batch.withColumn(
               "throttled", F.row_number().over(w) > MAXC)
           .select("conv_id", "turn_idx", "throttled").collect()}
    assert got, "throttle stream emitted nothing"
    assert got == exp
    assert any(t for _, _, t in got), "fixture produced no throttled events"

    # the batch OPERATOR (windows.throttle after_count ranking) must agree
    # with the streaming twin on the same input — pins the r2 semantics fix
    from logstash_spark.operators.windows import throttle as batch_throttle

    op = {(r.conv_id, r.turn_idx,
           "throttled" in (r.tags or []))
          for r in batch_throttle(batch, "ts", ["conv_id"], "1 hour",
                                  max_count=MAXC,
                                  order_cols=["ts", "turn_idx"])
          .select("conv_id", "turn_idx", "tags").collect()}
    assert op == exp


def test_dlq_replay_stream(spark, tmp_path):
    """DLQ write -> streaming replay with a commit-offset start position."""
    import datetime
    from logstash_spark.operators.dlq import dlq_split, dlq_write, dlq_replay_stream
    from pyspark.sql import Row

    df = spark.createDataFrame([Row(id=i, ok=i % 2 == 0) for i in range(10)])
    _good, bad = dlq_split(df, [(~F.col("ok"), "odd_row")])
    path = str(tmp_path / "dlq")
    dlq_write(bad, path)

    replay = dlq_replay_stream(spark, path)
    assert replay.isStreaming
    out = str(tmp_path / "replayed")
    q = (replay.writeStream.outputMode("append")
         .option("checkpointLocation", str(tmp_path / "c"))
         .format("parquet").option("path", out)
         .trigger(availableNow=True).start())
    q.awaitTermination()
    got = spark.read.parquet(out)
    assert got.count() == 5
    assert {r.dlq_reason for r in got.collect()} == {"odd_row"}
    # commit-offset in the future -> nothing replays
    replay2 = dlq_replay_stream(
        spark, path, commit_offset_ts=datetime.datetime(2100, 1, 1))
    q2 = (replay2.writeStream.outputMode("append")
          .option("checkpointLocation", str(tmp_path / "c2"))
          .format("parquet").option("path", str(tmp_path / "r2"))
          .trigger(availableNow=True).start())
    q2.awaitTermination()
    assert spark.read.parquet(str(tmp_path / "r2")).count() == 0


def test_kafka_wiring_gated(spark):
    """Without the kafka jar the connector raises the exact submit hint
    (same honest gating as the avro codec); with it, wiring is exercised
    in deploy environments only."""
    from logstash_spark.sources.connectors import kafka_available, kafka_source

    if kafka_available(spark):
        src = kafka_source(spark, "localhost:9092", "t", codec="line")
        assert src.isStreaming
    else:
        import pytest as _pytest
        with _pytest.raises(NotImplementedError, match="spark-sql-kafka"):
            kafka_source(spark, "localhost:9092", "t", codec="line")


def test_tcp_syslog_source_live(spark):
    """Drive the tcp/syslog inputs against a real local TCP server: lines
    written to the socket arrive parsed in a memory sink."""
    import socket
    import threading
    import time

    from logstash_spark.sources.connectors import syslog_source

    lines = [
        "<34>Oct 11 22:14:15 host1 su[1024]: 'su root' failed on /dev/pts/8",
        "<13>Feb  5 17:32:18 web-07 nginx: GET /index.html 200",
        "totally unparsable line",
    ]
    srv = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
    srv.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
    srv.bind(("127.0.0.1", 0))
    srv.listen(1)
    port = srv.getsockname()[1]

    def serve():
        conn, _ = srv.accept()
        conn.sendall(("\n".join(lines) + "\n").encode())
        time.sleep(8)  # keep the connection open while Spark drains
        conn.close()

    t = threading.Thread(target=serve, daemon=True)
    t.start()

    out = syslog_source(spark, "127.0.0.1", port)
    q = (out.writeStream.format("memory").queryName("syslog_mem")
         .outputMode("append").start())
    try:
        deadline = time.time() + 60
        while time.time() < deadline:
            q.processAllAvailable()
            if spark.table("syslog_mem").count() >= len(lines):
                break
            time.sleep(0.5)
        rows = {r.message: r for r in spark.table("syslog_mem").collect()}
        assert len(rows) == len(lines)
        r0 = rows[lines[0]]
        assert (r0.priority, r0.facility, r0.severity) == (34, 4, 2)
        assert r0.logsource == "host1" and r0.program == "su" and r0.pid == 1024
        assert r0.msg == "'su root' failed on /dev/pts/8"
        r1 = rows[lines[1]]
        assert r1.program == "nginx" and r1.pid is None
        r2 = rows[lines[2]]
        assert "_syslogparsefailure" in (r2.tags or [])
        assert r2.priority is None
    finally:
        q.stop()
        srv.close()


def test_tcp_sink_live_and_es_bulk_output(spark, tmp_path):
    """tcp output: executor-side socket writes land on a live server;
    elasticsearch output (path mode): _bulk wire format round-trips."""
    import json
    import socket
    import threading

    from pyspark.sql import Row
    from logstash_spark.sources.connectors import elasticsearch_sink, tcp_sink

    received = []
    srv = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
    srv.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
    srv.bind(("127.0.0.1", 0))
    srv.listen(8)
    port = srv.getsockname()[1]
    stop = threading.Event()

    def serve():
        srv.settimeout(30)
        while not stop.is_set():
            try:
                conn, _ = srv.accept()
            except OSError:
                break
            buf = b""
            while True:
                chunk = conn.recv(65536)
                if not chunk:
                    break
                buf += chunk
            conn.close()
            received.extend(l for l in buf.decode().split("\n") if l)

    t = threading.Thread(target=serve, daemon=True)
    t.start()

    df = spark.createDataFrame(
        [Row(doc_id=f"d{i}", text=f"payload {i}") for i in range(10)]
    ).coalesce(2)
    sent = tcp_sink(df, "127.0.0.1", port)
    assert sent == 10
    deadline = __import__("time").time() + 20
    while len(received) < 10 and __import__("time").time() < deadline:
        __import__("time").sleep(0.2)
    stop.set()
    srv.close()
    docs = sorted(json.loads(l)["doc_id"] for l in received)
    assert docs == [f"d{i}" for i in range(10)]

    # elasticsearch path-mode: bulk file is action+doc pairs, @metadata pruned
    from pyspark.sql import functions as F
    meta_df = df.withColumn("@metadata", F.struct(F.lit("x").alias("k")))
    es_path = str(tmp_path / "bulk")
    elasticsearch_sink(meta_df, index="docs", id_col="doc_id", path=es_path)
    lines = [l.value for l in spark.read.text(es_path).collect()]
    # each row emitted one 2-line bulk entry (text file splits the \n)
    assert len(lines) == 20
    actions = [json.loads(l) for l in lines if '"index"' in l]
    assert {a["index"]["_id"] for a in actions} == {f"d{i}" for i in range(10)}
    payload_docs = [json.loads(l) for l in lines if '"index"' not in l]
    assert all("@metadata" not in d for d in payload_docs)


def test_lscl_yaml_filter_and_es_output(spark, tmp_path):
    """Full config: generator input -> yaml filter -> elasticsearch output
    (bulk path mode) executes end-to-end from LSCL text."""
    import json

    from logstash_spark.plans.lscl import compile_lscl_job

    es_path = str(tmp_path / "es")
    cfg = '''
    input { generator { count => 5 } }
    filter {
      mutate { add_field => { "ydoc" => "seq: %{sequence}" } }
      yaml { source => "ydoc" schema => "seq long" target => "y" }
    }
    output { elasticsearch { index => "gen" document_id => "sequence" path => "__ES_PATH__" } }
    '''.replace("__ES_PATH__", es_path)
    job = compile_lscl_job(cfg)
    out = job.run(spark)
    assert out.count() == 5
    lines = [l.value for l in spark.read.text(es_path).collect()]
    actions = [json.loads(l) for l in lines if '"index"' in l]
    assert len(actions) == 5 and actions[0]["index"]["_index"] == "gen"


def test_community_filters_streaming_legal(spark, stream_src, tmp_path):
    """Community filters are stateless Columns -> streaming-legal as-is:
    the same bytes/tld/alter/json_encode chain runs on a readStream and
    matches its batch twin row-for-row."""
    import pyspark.sql.functions as F
    from logstash_spark.operators.community import (alter, bytes_filter,
                                                    json_encode, tld)

    def chain(df):
        df = df.withColumn("size_str",
                           F.concat(F.col("turn_idx").cast("string"),
                                    F.lit("kb")))
        df = df.withColumn("host", F.concat_ws(".", "role",
                                               F.lit("example.com")))
        df = bytes_filter(df, "size_str")
        df = tld(df, "host")
        df = json_encode(df, "role", target="jrole")
        df = alter(df, coalesce={"tool2": ["tool", "role"]})
        return df.select("conv_id", "turn_idx", "bytes_value",
                         "tld_domain", "jrole", "tool2")

    out = str(tmp_path / "comm")
    q = (chain(J.stream_transcripts(spark, stream_src))
         .writeStream.outputMode("append")
         .option("checkpointLocation", str(tmp_path / "commck"))
         .format("parquet").option("path", out)
         .trigger(availableNow=True).start())
    q.awaitTermination()
    got = {tuple(r) for r in spark.read.parquet(out).collect()}
    exp = {tuple(r) for r in chain(spark.read.parquet(stream_src)).collect()}
    assert got == exp and got


def test_session_rollup_under_rocksdb_state_store(spark, stream_src, tmp_path):
    """State beyond heap: the identical session job runs under the
    RocksDB state-store provider (state spills to native memory + local
    disk — the 10^12-turn state-scaling path) and emits exactly the rows
    the default HDFS-backed provider emits."""
    provider_conf = "spark.sql.streaming.stateStore.providerClass"
    rocks = ("org.apache.spark.sql.execution.streaming.state."
             "RocksDBStateStoreProvider")

    def run(tag, provider=None):
        old = spark.conf.get(provider_conf, None)
        if provider:
            spark.conf.set(provider_conf, provider)
        try:
            out = str(tmp_path / f"o{tag}")
            q = (J.session_rollup_stream(
                    J.session_flags_stage(J.stream_transcripts(spark, stream_src)))
                 .writeStream.outputMode("append")
                 .option("checkpointLocation", str(tmp_path / f"c{tag}"))
                 .format("parquet").option("path", out)
                 .trigger(availableNow=True).start())
            q.awaitTermination()
            return {tuple(r) for r in spark.read.parquet(out).collect()}
        finally:
            if provider:
                if old is None:
                    spark.conf.unset(provider_conf)
                else:
                    spark.conf.set(provider_conf, old)

    default_rows = run("hdfs")
    rocks_rows = run("rocks", rocks)
    assert rocks_rows == default_rows and rocks_rows


def test_iceberg_wiring_gated(spark):
    """Iceberg runtime absent in-sandbox: the wiring must raise the exact
    submit recipe, mirroring the kafka gate."""
    import pytest as _pytest
    from logstash_spark.sources.connectors import (iceberg_available,
                                                   iceberg_stream_source)

    assert not iceberg_available(spark)
    with _pytest.raises(NotImplementedError, match="--packages org.apache.iceberg"):
        iceberg_stream_source(spark, "lake.db.transcripts")


def test_node_stats_view(spark, stream_src, tmp_path):
    """_node/stats-shaped view over a real run (VERDICT r3 'Next round' #7):
    every MetricKeys-derived field present and consistent."""
    from logstash_spark.streaming.listener import (FlowMetricsListener,
                                                   node_stats, node_stats_df)

    metrics_path = str(tmp_path / "m.jsonl")
    listener = FlowMetricsListener(metrics_path)
    spark.streams.addListener(listener)
    try:
        q = J.run_north_star(spark, stream_src, str(tmp_path / "o"),
                             str(tmp_path / "c"), max_files_per_trigger=2)
        _wait(q)
    finally:
        spark.streams.removeListener(listener)

    stats = node_stats(metrics_path)
    pipes = stats["pipelines"]
    assert pipes, "no pipelines captured"
    for p in pipes.values():                       # every query: full shape
        assert p["events"]["in"] > 0 and p["events"]["in"] == p["events"]["out"]
        flow = p["flow"]
        for k in ("input_throughput", "filter_throughput",
                  "output_throughput", "queue_backpressure"):
            assert set(flow[k]) == {"current", "lifetime"}, k
        assert flow["input_throughput"]["lifetime"] > 0
        assert 0.0 <= flow["queue_backpressure"]["lifetime"] <= 1.0
    assert any(p["batches"] >= 2 for p in pipes.values())  # maxFiles=2
    # the session-window query reports its state-store rows + watermark
    stateful = [p for p in pipes.values() if p["state"].get("rows_total")]
    assert stateful and stateful[0]["watermark"] is not None

    df = node_stats_df(spark, metrics_path)
    rows = {r.pipeline_id: r for r in df.collect()}
    assert len(rows) == len(pipes)
    for qid, p in pipes.items():
        assert rows[qid].events_in == p["events"]["in"]
        assert rows[qid].state_rows_total == p["state"].get("rows_total")

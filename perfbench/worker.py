"""One Spark process of the benchmark (one JVM; no state shared with any
other run).

    python3 worker.py <spec.json>

``spec`` says what to run (see run.py ``_spawn``); the worker writes its
measurements to ``spec["result"]`` and exits.  It calls only the public
API of ``logstash_spark`` and times those calls from here; every counter
it reads is Spark's own (``StreamingQueryProgress``, the status store's
per-stage metrics, the JVM's memory-pool and GC MXBeans).

Modes:
  setup  -- cold start to the first ``QueryStartedEvent``; then the
            process group, JVM included, is killed.
  closed -- warm-up drains, then north-star drains back to back for
            ``seconds``.
  live   -- continuous north star fed by the open-loop generator.
With ``trace``, closed-loop drains of the backlog alternate untraced and
traced (live: after the window), then the layer probes and one LSCL drain
run over the backlog.
"""

from __future__ import annotations

import datetime
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import inputs  # noqa: E402

DRIVER_HEAP = "4g"


class Session:
    """The SparkSession plus the JVM-side counters read around each drain."""

    def __init__(self, spec: dict):
        from pyspark.sql.streaming import StreamingQueryListener

        from logstash_spark.session import get_spark

        work = spec["work"]
        tmp = os.path.join(work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        t = time.time()
        self.spark = get_spark("perfbench", master=spec["master"], extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.memory": DRIVER_HEAP,
            # a fixed-size heap (as the repo's bench JVM) so GC behaviour does
            # not drift while the heap grows; no perf-data file in /tmp
            "spark.driver.extraJavaOptions":
                f"-Xms{DRIVER_HEAP} -XX:ReservedCodeCacheSize=512m "
                f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.streaming.numRecentProgressUpdates": "10000",
        })
        self.start_s = time.time() - t
        sc = self.spark.sparkContext
        self.jvm = sc._jvm
        self.store = sc._jsc.sc().statusStore()
        self.bus = sc._jsc.sc().listenerBus()
        self._gw = sc._gateway
        mf = self.jvm.java.lang.management.ManagementFactory
        self.pools = [p for p in mf.getMemoryPoolMXBeans()
                      if str(p.getType()) == "Heap memory"]
        self.gcs = list(mf.getGarbageCollectorMXBeans())
        self.started: list[float] = []
        self.ready = threading.Event()
        outer = self

        class Listener(StreamingQueryListener):
            """Records when the first query of this process started."""

            def onQueryStarted(self, e):
                outer.started.append(datetime.datetime.fromisoformat(
                    e.timestamp).timestamp())
                outer.ready.set()

            def onQueryProgress(self, e):
                pass

            def onQueryIdle(self, e):
                pass

            def onQueryTerminated(self, e):
                pass

        self.listener = Listener()
        self.spark.streams.addListener(self.listener)

    def config(self) -> dict:
        rt = self.jvm.java.lang.management.ManagementFactory.getRuntimeMXBean()
        return {
            "master": self.spark.sparkContext.master,
            "cpus": len(os.sched_getaffinity(0)),
            "shuffle_partitions": int(self.spark.conf.get("spark.sql.shuffle.partitions")),
            "heap_max_mb": round(self.jvm.java.lang.Runtime.getRuntime().maxMemory() / 2**20),
            "jvm_flags": [a for a in rt.getInputArguments() if a.startswith("-X")],
        }

    # -- counters ------------------------------------------------------------

    def reset_peaks(self) -> None:
        self.spark.catalog.clearCache()
        self.jvm.java.lang.System.gc()
        for p in self.pools:
            p.resetPeakUsage()

    def heap_peak_mb(self) -> float:
        return sum(p.getPeakUsage().getUsed() for p in self.pools) / 2**20

    def gc_s(self) -> float:
        return sum(g.getCollectionTime() for g in self.gcs) / 1000

    def _stages(self):
        empty = self.jvm.java.util.ArrayList()
        seq = self.store.stageList(empty, False, False,
                                   self._gw.new_array(self.jvm.double, 0), empty)
        return [seq.apply(i) for i in range(seq.size())]

    def snapshot(self) -> dict:
        self.bus.waitUntilEmpty()
        ids = [s.stageId() for s in self._stages()]
        return {"stage": max(ids, default=-1),
                "jobs": self.store.jobsList(self.jvm.java.util.ArrayList()).size()}

    def stage_delta(self, before: dict) -> dict:
        """Executor-side totals of the stages run since ``before``."""
        self.bus.waitUntilEmpty()
        new = [s for s in self._stages()
               if s.stageId() > before["stage"] and str(s.status()) != "SKIPPED"]
        jobs = self.store.jobsList(self.jvm.java.util.ArrayList()).size()
        return {
            "jobs": jobs - before["jobs"],
            "stages": len(new),
            "cpu_s": sum(s.executorCpuTime() for s in new) / 1e9,
            "input_records": sum(s.inputRecords() for s in new),
            "shuffle_write_mb": sum(s.shuffleWriteBytes() for s in new) / 2**20,
            "tasks_failed": sum(s.numFailedTasks() for s in new),
        }


def _progress(queries: dict, since: float = 0.0) -> dict:
    """Each query's progress reports, of the batches triggered at or after
    ``since``."""
    def ts(p):
        return datetime.datetime.fromisoformat(p["timestamp"]).timestamp()

    return {name: [p for p in map(json.loads, (x.json for x in q.recentProgress))
                   if ts(p) >= since]
            for name, q in queries.items()}


def drain(sess: Session, src: str, d: str, lscl: bool = False) -> dict:
    """One closed-loop drain of ``src`` into fresh dirs under ``d``: the
    north star, or with ``lscl`` the LSCL config's run_stream."""
    from logstash_spark.plans.lscl import compile_lscl_job
    from logstash_spark.streaming.jobs import run_north_star

    shutil.rmtree(d, ignore_errors=True)
    out, ckpt = os.path.join(d, "out"), os.path.join(d, "ckpt")
    t0 = time.time()
    if lscl:
        q = compile_lscl_job(inputs.lscl_config(src, out)).run_stream(
            sess.spark, ckpt, available_now=True)
        q.awaitTermination()
        queries = {"turns": q}
    else:
        h = run_north_star(sess.spark, src, out_dir=out, checkpoint_dir=ckpt,
                           available_now=True)
        h.awaitTermination()
        queries = dict(zip(("turns", "sessions"), h.queries))
    t1 = time.time()
    return {"dir": d, "t0": t0, "t1": t1, "run_s": t1 - t0,
            "progress": _progress(queries)}


def measured_drain(sess: Session, src: str, d: str, traced: bool,
                   lscl: bool = False) -> dict:
    """A drain between a reset and a read of the JVM counters; traced, it
    also takes the status-store totals of the stages it ran (read before
    and after, outside the timed region)."""
    sess.reset_peaks()
    gc0 = sess.gc_s()
    before = sess.snapshot() if traced else None
    r = drain(sess, src, d, lscl)
    r.update(traced=traced, heap_peak_mb=sess.heap_peak_mb(),
             gc_s=sess.gc_s() - gc0)
    if traced:
        r["stages"] = sess.stage_delta(before)
    return r


def warm_up(sess: Session, spec: dict) -> None:
    """A one-file drain for the cold JVM, then full drains of the backlog
    until the JIT has settled (drain times stop falling after about four
    on a 4-core host)."""
    backlog = spec["backlog"]
    root = os.path.join(spec["work"], "warm")
    for i, src in enumerate([inputs.warm_input(backlog)]
                            + [backlog] * (spec["warm"] - 1)):
        drain(sess, src, os.path.join(root, str(i)))
        shutil.rmtree(os.path.join(root, str(i)), ignore_errors=True)


def closed_phase(sess: Session, spec: dict) -> list[dict]:
    """Drain the backlog back to back for ``seconds``: a fixed window,
    every drain reported.  Traced runs mix untraced and traced drains (at
    least two of each) so the tracing cost can be read off."""
    root = os.path.join(spec["work"], "closed")
    runs, end = [], time.time() + spec["seconds"]
    while (time.time() < end or not runs
           or (spec["trace"] and len(runs) < 4)):
        if spec.get("drains") and len(runs) >= spec["drains"]:
            break
        # traced, untraced, untraced, traced: drift in drain time over the
        # window cancels out of the comparison
        traced = spec["trace"] and len(runs) % 4 in (0, 3)
        runs.append(measured_drain(sess, spec["backlog"],
                                   os.path.join(root, f"run{len(runs)}"), traced))
    return runs


# -- live ------------------------------------------------------------------------

def _committed_rows(sink: str) -> int:
    d = os.path.join(sink, "_commits")
    if not os.path.isdir(d):
        return 0
    n = 0
    for f in os.listdir(d):
        if f.endswith(".json"):
            with open(os.path.join(d, f)) as fh:
                n += json.load(fh)["rows"]
    return n


def _drop(spec: dict, watch: str, first: int, count: int, t0: float,
          log: str) -> None:
    """Run the generator process for files first..first+count-1 and wait."""
    p = subprocess.Popen([sys.executable, os.path.join(HERE, "livegen.py"),
                          spec["src"], watch, str(first), str(count), repr(t0),
                          str(inputs.LIVE_FILES_PER_S), log])
    if p.wait(timeout=count / inputs.LIVE_FILES_PER_S + 60) != 0:
        raise RuntimeError("live generator failed")


def _await_rows(sink: str, rows: int, deadline: float) -> None:
    while _committed_rows(sink) < rows and time.time() < deadline:
        time.sleep(0.05)


def live_phase(sess: Session, spec: dict) -> dict:
    from logstash_spark.streaming.jobs import run_north_star

    d = os.path.join(spec["work"], "live")
    shutil.rmtree(d, ignore_errors=True)
    watch, out = os.path.join(d, "watch"), os.path.join(d, "out")
    os.makedirs(watch)
    turns_sink = os.path.join(out, "turns")
    h = run_north_star(sess.spark, watch, out_dir=out,
                       checkpoint_dir=os.path.join(d, "ckpt"),
                       available_now=False)
    per = inputs.LIVE_FILE_TURNS
    warm = inputs.LIVE_WARM_FILES
    _drop(spec, watch, 0, warm, time.time() + 0.1, os.path.join(d, "warm.json"))
    _await_rows(turns_sink, warm * per, time.time() + 60)

    count = spec["seconds"] * inputs.LIVE_FILES_PER_S
    sess.reset_peaks()
    gc0 = sess.gc_s()
    before = sess.snapshot() if spec["trace"] else None
    t0 = time.time() + 0.5
    _drop(spec, watch, warm, count, t0, os.path.join(d, "drops.json"))
    last_due = t0 + (count - 1) / inputs.LIVE_FILES_PER_S
    _await_rows(turns_sink, (warm + count) * per, last_due + 60)
    r = {"dir": d, "t0": t0, "last_due": last_due,
         "heap_peak_mb": sess.heap_peak_mb(), "gc_s": sess.gc_s() - gc0}
    if spec["trace"]:
        r["stages"] = sess.stage_delta(before)
    # both queries have read every file once the turns sink holds them all;
    # give the sessions query its final batch before stopping
    time.sleep(0.5)
    r["progress"] = _progress(dict(zip(("turns", "sessions"), h.queries)), t0)
    for q in h.queries:
        q.stop()
    return r


# -- layer probes (batch twins of each layer, forced through noop) --------------

def _noop(df) -> float:
    t = time.time()
    df.write.format("noop").mode("overwrite").save()
    return time.time() - t


def _planned(build) -> dict:
    """Build the DataFrame, force the analysed then the executed plan, then
    execute: the build/plan/exec split of one batch query."""
    t = time.time()
    df = build()
    t1 = time.time()
    qe = df._jdf.queryExecution()
    qe.analyzed()
    t2 = time.time()
    qe.executedPlan()
    t3 = time.time()
    return {"compile_ms": (t1 - t) * 1e3, "analyze_ms": (t2 - t1) * 1e3,
            "physical_ms": (t3 - t2) * 1e3, "exec_s": _noop(df)}


def probes(sess: Session, src: str, work: str, reps: int = 3) -> list[dict]:
    from logstash_spark.plans.lscl import compile_lscl_job
    from logstash_spark.sinks.exactly_once import ExactlyOnceParquetSink
    from logstash_spark.streaming.jobs import (TRANSCRIPT_SCHEMA, parse_stage,
                                               session_rollup_stream)

    spark = sess.spark

    def read():
        return spark.read.schema(TRANSCRIPT_SCHEMA).parquet(src)

    def lscl():
        job = compile_lscl_job(inputs.lscl_config(src, os.path.join(work, "unused")))
        return job.pipeline(job.source(spark))

    out = []
    for i in range(reps):
        sink_dir = os.path.join(work, f"probe_sink{i}")
        sess_dir = os.path.join(work, f"probe_sessions{i}")
        r = {}
        sess.reset_peaks()
        r["scan_s"] = _noop(read())
        r["parse"] = _planned(lambda: parse_stage(read()))
        r["filter_chain"] = _planned(lscl)
        t = time.time()
        ExactlyOnceParquetSink(sink_dir).handle(parse_stage(read()), 0)
        r["sink_s"] = time.time() - t
        parsed = os.path.join(sink_dir, "batch_id=0")
        r["session_agg_s"] = _noop(session_rollup_stream(spark.read.parquet(parsed)))
        t = time.time()
        ExactlyOnceParquetSink(sess_dir, merge_keys=["conv_id", "session_start"]) \
            .handle(session_rollup_stream(spark.read.parquet(parsed)), 0)
        r["sessions_sink_s"] = time.time() - t
        shutil.rmtree(sink_dir, ignore_errors=True)
        shutil.rmtree(sess_dir, ignore_errors=True)
        out.append(r)
    return out


# -- setup ------------------------------------------------------------------------

def setup_only(sess: Session, spec: dict) -> None:
    """Start the workload's job, wait for its first QueryStartedEvent."""
    from logstash_spark.streaming.jobs import run_north_star

    d = os.path.join(spec["work"], "setup")
    shutil.rmtree(d, ignore_errors=True)
    live = spec["workload"] == "north_star_live"
    src = spec["src"]
    if live:
        src = os.path.join(d, "watch")
        os.makedirs(src)

    def start():
        try:
            run_north_star(sess.spark, src, out_dir=os.path.join(d, "out"),
                           checkpoint_dir=os.path.join(d, "ckpt"),
                           available_now=not live)
        except Exception:  # noqa: BLE001 - the process ends mid-query
            pass

    threading.Thread(target=start, daemon=True).start()
    if not sess.ready.wait(timeout=120):
        raise RuntimeError("no query started within 120 s")


def main(spec_path: str) -> None:
    with open(spec_path) as f:
        spec = json.load(f)
    sess = Session(spec)
    if spec["mode"] == "setup":
        setup_only(sess, spec)
        with open(spec["result"], "w") as f:
            json.dump({"started": sess.started[:1]}, f)
        # the sample is taken: end this process group, the JVM with it,
        # instead of paying for an orderly shutdown
        os.killpg(os.getpgrp(), signal.SIGKILL)
    backlog = spec["backlog"]
    res = {"start_s": sess.start_s, "config": sess.config(),
           "spark_ready_ts": time.time()}
    try:
        warm_up(sess, spec)
        if spec["mode"] == "live":
            res["live"] = live_phase(sess, spec)
        if spec["mode"] == "closed" or spec["trace"]:
            res["drains"] = closed_phase(sess, spec)
        res["started"] = sess.started[:1]
        if spec["trace"]:
            root = os.path.join(spec["work"], "probes")
            res["probes"] = probes(sess, backlog, root)
            res["lscl"] = measured_drain(sess, backlog, os.path.join(root, "lscl"),
                                         traced=True, lscl=True)
        res["measured_ts"] = time.time()
    finally:
        sess.spark.streams.removeListener(sess.listener)
        sess.spark.stop()
    res["stopped_ts"] = time.time()
    with open(spec["result"], "w") as f:
        json.dump(res, f)


if __name__ == "__main__":
    main(sys.argv[1])

"""The repository's benchmark: one command, two workloads, checked outputs.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads (sizes and rates live in inputs.py):
  north_star       closed loop: run_north_star(available_now=True) drains a
                   seeded transcript backlog.
  north_star_live  open loop: a separate generator process drops
                   delivery-ordered files at a fixed rate while
                   run_north_star(available_now=False) runs.
Traced runs also drain the LSCL config in inputs.py once, through
compile_lscl_job and run_stream(available_now=True).

Every Spark session runs in its own worker process with its own JVM
(worker.py); this process only generates inputs, spawns them, checks their outputs against
the pyarrow reference (checks.py) and reports.  ``--trace 0`` prints the
end-to-end metrics, ``--trace 1`` the per-layer ones.  The last stdout line
is the JSON result; the raw samples go to ``perfbench/out/``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

import checks
import inputs

HERE = inputs.HERE
ROOT = inputs.ROOT
OUT = os.path.join(HERE, "out")

WORKLOADS = ("north_star", "north_star_live")
SETUP_SAMPLES = 2        # cold starts per run; setup_s is their median
# warm-up, in drains of the backlog before measuring (worker.warm_up): a
# one-file drain, then full ones.  Closed-loop drain times keep falling for
# about six full drains; the live job warms up on its own warm-up files.
WARM_DRAINS = {"north_star": 6, "north_star_live": 2}
BACKLOG_GRACE_S = 2.0    # live: a file committed later than this after the
                         # last due time counts as backlog at the end
DEADLINE_S = 170         # whole run, every process included
CORES = len(os.sched_getaffinity(0))   # what nproc reports


class RunFailed(Exception):
    pass


# -- processes -------------------------------------------------------------------

def _group_alive(pgid: int) -> bool:
    """Whether any process of the group is still running (zombies, which
    have ended and only wait to be reaped by init, do not count)."""
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[2]) == pgid and fields[0] != "Z":
            return True
    return False


def _reap_group(pgid: int, grace: float = 10.0) -> None:
    """Wait until every process of the group (the JVM included) has ended;
    after ``grace`` seconds, kill what is left."""
    end = time.time() + grace
    while _group_alive(pgid):
        if time.time() > end:
            try:
                os.killpg(pgid, signal.SIGKILL)
            except ProcessLookupError:
                return
        time.sleep(0.05)


def _spawn(spec: dict, name: str, work: str, deadline: float) -> dict:
    """Run one worker to completion in its own process group."""
    d = os.path.join(work, name)
    os.makedirs(d, exist_ok=True)
    spec = dict(spec, work=d, result=os.path.join(d, "result.json"))
    # every temporary file inside the checkout; no JVM perf-data file in /tmp
    # (JAVA_TOOL_OPTIONS also reaches spark-submit's launcher JVM)
    env = dict(os.environ, TMPDIR=os.path.join(d, "tmp"),
               SPARK_LOCAL_DIRS=os.path.join(d, "spark-local"),
               JAVA_TOOL_OPTIONS="-XX:-UsePerfData", PYTHONUNBUFFERED="1")
    env.pop("PYSPARK_SUBMIT_ARGS", None)  # JVM flags come from worker.py alone
    os.makedirs(env["TMPDIR"], exist_ok=True)
    with open(os.path.join(d, "spec.json"), "w") as f:
        json.dump(spec, f)
    with open(os.path.join(d, "worker.log"), "w") as log:
        spawn_ts = time.time()
        p = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "worker.py"),
             os.path.join(d, "spec.json")],
            cwd=d, env=env, stdout=log, stderr=subprocess.STDOUT,
            start_new_session=True)
        try:
            rc = p.wait(timeout=max(deadline - time.time(), 1))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            rc = None
        _reap_group(p.pid)
        if rc is None:
            raise RunFailed(f"{name}: over the run's time limit")
    if rc != 0 and not (rc == -signal.SIGKILL and spec["mode"] == "setup"):
        with open(os.path.join(d, "worker.log")) as f:
            tail = f.read()[-3000:]
        raise RunFailed(f"{name}: exit {rc}\n{tail}")
    with open(spec["result"]) as f:
        res = json.load(f)
    res["spawn_ts"] = spawn_ts
    res["wall_s"] = time.time() - spawn_ts
    return res


# -- per-drain evaluation ---------------------------------------------------------

def _pct(values: list[float], q: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(values)
    return s[max(0, math.ceil(q / 100 * len(s)) - 1)]


def _progress_sums(progress: dict) -> dict:
    """Streaming counters of one drain or live window, summed over batches."""
    out = {"streaming.batches": 0, "streaming.overhead_ms": 0.0,
           "streaming.state_commit_ms": 0.0, "streaming.state_update_ms": 0.0,
           "streaming.state_rows_peak": 0,
           "streaming.state_mem_mb_peak": 0.0,
           "streaming.rows_dropped_by_watermark": 0,
           "sources.latest_offset_ms": 0.0}
    for q in ("turns", "sessions"):
        for ph in ("queryPlanning", "getBatch", "latestOffset", "addBatch",
                   "walCommit", "commitOffsets", "triggerExecution"):
            out[f"streaming.{q}.{ph}_ms"] = 0.0
    for q, batches in progress.items():
        for p in batches:
            dur = p.get("durationMs", {})
            if "triggerExecution" not in dur:
                continue
            out["streaming.batches"] += 1
            for ph, ms in dur.items():
                if f"streaming.{q}.{ph}_ms" in out:
                    out[f"streaming.{q}.{ph}_ms"] += ms
            out["streaming.overhead_ms"] += (dur["triggerExecution"]
                                            - dur.get("addBatch", 0))
            out["sources.latest_offset_ms"] += dur.get("latestOffset", 0)
            for s in p.get("stateOperators", []):
                out["streaming.state_commit_ms"] += s.get("commitTimeMs", 0)
                out["streaming.state_update_ms"] += (
                    s.get("allUpdatesTimeMs", 0) + s.get("allRemovalsTimeMs", 0))
                out["streaming.rows_dropped_by_watermark"] += s.get(
                    "numRowsDroppedByWatermark", 0)
                out["streaming.state_rows_peak"] = max(
                    out["streaming.state_rows_peak"], s.get("numRowsTotal", 0))
                out["streaming.state_mem_mb_peak"] = max(
                    out["streaming.state_mem_mb_peak"],
                    s.get("memoryUsedBytes", 0) / 2**20)
    return out


def _eval_drain(r: dict, ref: dict, src_files: list[str]) -> dict:
    """Correctness and latency of one closed-loop north-star drain."""
    out, ckpt = os.path.join(r["dir"], "out"), os.path.join(r["dir"], "ckpt")
    bad = checks.check_turns(os.path.join(out, "turns"), ref)
    unflushed = ref["sessions"] - checks.sessions_streamed(
        os.path.join(out, "sessions"))
    if unflushed < 0:
        bad.append(f"sessions sink: {-unflushed} more sessions than input")
    lat = checks.file_latencies(
        {f: r["t0"] for f in src_files},
        checks.file_batches(os.path.join(ckpt, "turns")),
        checks.committed_batches(os.path.join(out, "turns")))
    if None in lat:
        bad.append(f"{lat.count(None)} input files never committed")
    return {"ok": not bad, "failures": bad, "run_s": r["run_s"],
            "latency_s": [x for x in lat if x is not None],
            "heap_peak_mb": r["heap_peak_mb"], "gc_s": r["gc_s"],
            "sessions_unflushed": unflushed, "traced": r["traced"],
            "streaming": _progress_sums(r["progress"]),
            "progress": r["progress"] if r["traced"] else None,
            "stages": r.get("stages"), "output_mb": _du_mb(out)}


def _eval_lscl(r: dict, ref: dict) -> dict:
    """Correctness of the traced run's LSCL drain."""
    bad = checks.check_lscl(os.path.join(r["dir"], "out"), ref)
    return {"ok": not bad, "failures": bad, "run_s": r["run_s"],
            "stages": r["stages"]}


def _eval_live(live: dict, ref: dict) -> dict:
    d = live["dir"]
    with open(os.path.join(d, "drops.json")) as f:
        drops = json.load(f)
    turns_sink = os.path.join(d, "out", "turns")
    bad = checks.check_turns(turns_sink, ref)
    lat = checks.file_latencies(
        {f: v[0] for f, v in drops.items()},
        checks.file_batches(os.path.join(d, "ckpt", "turns")),
        checks.committed_batches(turns_sink))
    done = [x for x in lat if x is not None]
    if len(done) < len(lat):
        bad.append(f"{len(lat) - len(done)} dropped files never committed")
    ends = [v[0] + x for v, x in zip(drops.values(), lat) if x is not None]
    unflushed = ref["sessions"] - checks.sessions_streamed(
        os.path.join(d, "out", "sessions"))
    if unflushed < 0:
        bad.append(f"sessions sink: {-unflushed} more sessions than input")
    late = sum(1 for t_end in ends if t_end > live["last_due"] + BACKLOG_GRACE_S)
    return {"ok": not bad, "failures": bad,
            "run_s": max(ends) - live["t0"] if ends else float("nan"),
            "turns": len(drops) * inputs.LIVE_FILE_TURNS,
            "latency_s": done, "heap_peak_mb": live["heap_peak_mb"],
            "gc_s": live["gc_s"], "sessions_unflushed": unflushed,
            "generator_lag_ms_max": max(v[1] - v[0] for v in drops.values()) * 1e3,
            "backlog_files_end": late + len(lat) - len(done),
            "streaming": _progress_sums(live["progress"]),
            "progress": live["progress"], "stages": live.get("stages"),
            "output_mb": _du_mb(os.path.join(d, "out"))}


def _du_mb(path: str) -> float:
    total = 0
    for dirpath, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total / 2**20


def _files(src: str) -> list[str]:
    return sorted(f for f in os.listdir(src) if f.endswith(".parquet"))


# -- the run -----------------------------------------------------------------------

def _cpu_ticks() -> tuple[int, int]:
    """(all, stolen) CPU ticks of this host: stolen time is when the
    hypervisor ran someone else, a cause of outliers worth recording."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return sum(ticks), ticks[7]


def run(args, work: str) -> dict:
    deadline = time.time() + DEADLINE_S
    ticks0 = _cpu_ticks()
    live = args.workload == "north_star_live"
    # the closed-loop backlog: the north_star input, and the input of every
    # traced run's drains and probes
    backlog = inputs.closed_input(args.seed)
    inputs.warm_input(backlog)
    src = backlog
    if live:
        src = inputs.live_input(args.seed, inputs.live_files(args.seconds))
    base = {"workload": args.workload, "src": src, "backlog": backlog,
            "seconds": args.seconds, "trace": bool(args.trace),
            "warm": WARM_DRAINS[args.workload],
            "master": f"local[{CORES}]",
            "mode": "live" if live else "closed"}
    extra = []
    if not args.trace:
        extra = [_spawn(dict(base, mode="setup"), f"setup{i}", work, deadline)
                 for i in range(SETUP_SAMPLES - 1)]
    main = _spawn(base, "main", work, deadline)
    scaling = None
    if args.trace:
        # single-threaded baseline: the same closed-loop job and input
        scaling = _spawn(dict(base, mode="closed", master="local[1]", warm=2,
                              drains=1, trace=False), "local1", work, deadline)

    ref = checks.reference(backlog)
    res = {"workload": args.workload, "seed": args.seed,
           "seconds": args.seconds, "trace": args.trace,
           "config": main["config"], "turns": ref["turns"],
           "setup_samples_s": [r["started"][0] - r["spawn_ts"]
                               for r in (*extra, main)],
           "session_start_s": main["start_s"],
           "worker_wall_s": [r["wall_s"] for r in (*extra, main)],
           "main_timeline_s": {k: main[k] - main["spawn_ts"] for k in (
               "spark_ready_ts", "measured_ts", "stopped_ts")}}
    res["drains"] = [_eval_drain(r, ref, _files(backlog))
                     for r in main.get("drains", [])]
    checked = list(res["drains"])
    if live:
        # every staged file is dropped, so the whole staging dir is the input
        res["live"] = _eval_live(main["live"], checks.reference(src))
        checked.append(res["live"])
    if args.trace:
        res["lscl"] = _eval_lscl(main["lscl"], ref)
        checked.append(res["lscl"])
        res["probes"] = main["probes"]
        res["local1_run_s"] = scaling["drains"][0]["run_s"]
    ticks1 = _cpu_ticks()
    res["host_steal_pct"] = ((ticks1[1] - ticks0[1])
                             / max(ticks1[0] - ticks0[0], 1) * 100)
    res["attempted"] = len(checked)
    res["failed"] = sum(not e["ok"] for e in checked)
    res["failures"] = [m for e in checked for m in e["failures"]]
    return res


def e2e_metrics(res: dict) -> dict:
    """Live: percentiles over the window's files.  Closed loop: each drain's
    percentiles over its files (one batch commits them all, so p50 and p90
    coincide), and the median over drains of every figure."""
    med = statistics.median
    if "live" in res:
        lv = res["live"]
        run_s, turns, heap = lv["run_s"], lv["turns"], lv["heap_peak_mb"]
        p50, p90 = _pct(lv["latency_s"], 50), _pct(lv["latency_s"], 90)
    else:
        ds = res["drains"]
        run_s, turns = med(d["run_s"] for d in ds), res["turns"]
        heap = med(d["heap_peak_mb"] for d in ds)
        p50 = med(_pct(d["latency_s"], 50) for d in ds)
        p90 = med(_pct(d["latency_s"], 90) for d in ds)
    return {"setup_s": med(res["setup_samples_s"]), "run_s": run_s,
            "events_per_s": turns / run_s, "latency_p50_ms": p50 * 1e3,
            "latency_p90_ms": p90 * 1e3, "heap_peak_mb": heap}


def layer_metrics(res: dict) -> dict:
    """Per-layer metrics of a traced run: medians over the traced drains
    (live: the measured window) and over the probe repetitions."""
    med = statistics.median
    traced = [d for d in res["drains"] if d["traced"]]
    plain = [d for d in res["drains"] if not d["traced"]]
    window = res.get("live") or {}
    stream = [window] if window else traced
    pr = res["probes"]
    lscl = res["lscl"]
    scan = med(p["scan_s"] for p in pr)
    parse_total = med(p["parse"]["exec_s"] for p in pr)
    chain = [p["filter_chain"] for p in pr]
    m = {
        "session.start_s": res["session_start_s"],
        "jvm.gc_s": med(d["gc_s"] for d in stream),
        "sources.scan_s": scan,
        "sources.read_amplification":
            lscl["stages"]["input_records"] / res["turns"],
        "operators.parse_s": parse_total - scan,
        "operators.filter_chain_s": med(c["exec_s"] for c in chain) - scan,
        "plans.compile_ms": med(c["compile_ms"] for c in chain),
        "plans.analyze_ms": med(c["analyze_ms"] for c in chain),
        "plans.physical_ms": med(c["physical_ms"] for c in chain),
        "plans.spark_jobs": lscl["stages"]["jobs"],
        "plans.lscl_run_s": lscl["run_s"],
        "streaming.session_agg_s": med(p["session_agg_s"] for p in pr),
        "sinks.write_s": med(p["sink_s"] for p in pr) - parse_total,
        "sinks.sessions_write_s": med(p["sessions_sink_s"] for p in pr)
        - med(p["session_agg_s"] for p in pr),
        "sinks.output_mb": med(d["output_mb"] for d in stream),
        "executor.cpu_s": med(d["stages"]["cpu_s"] for d in stream),
        "shuffle.write_mb": med(d["stages"]["shuffle_write_mb"] for d in stream),
        "tasks.failed": sum(d["stages"]["tasks_failed"] for d in stream),
        "generator.lag_ms_max": window.get("generator_lag_ms_max", 0.0),
        "live.backlog_files_end": window.get("backlog_files_end", 0),
        "sessions_unflushed": med(d["sessions_unflushed"] for d in stream),
    }
    for k in stream[0]["streaming"]:
        m[k] = med(d["streaming"][k] for d in stream)
    t_run = med(d["run_s"] for d in traced)
    t_plain = med(d["run_s"] for d in plain)
    m["trace.overhead_pct"] = (t_run - t_plain) / t_plain * 100
    m["scaling.efficiency"] = res["local1_run_s"] / (t_plain * CORES)

    # closure, as a share of the traced north-star drain time: the batch
    # layers (both sinks included), the state-store updates and commits
    # (task time spread over the cores), the per-batch streaming overhead,
    # and query start/stop (run_s minus the summed trigger times)
    def sm(k):
        return med(d["streaming"][k] for d in traced) / 1e3

    trig = (sm("streaming.turns.triggerExecution_ms")
            + sm("streaming.sessions.triggerExecution_ms"))
    layers = (scan + m["operators.parse_s"] + m["sinks.write_s"]
              + m["streaming.session_agg_s"] + m["sinks.sessions_write_s"]
              + (sm("streaming.state_commit_ms") + sm("streaming.state_update_ms"))
              / CORES
              + sm("streaming.overhead_ms") + (t_run - trig))
    m["trace.layer_sum_pct"] = layers / t_run * 100
    return m


def declared(trace: int) -> dict:
    """name -> unit of each metric BENCHMARK.json puts on the result line."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        b = json.load(f)
    return {m["name"]: m["unit"] for m in b["per_layer" if trace else "end_to_end"]}


def unit_of(name: str, units: dict) -> str:
    """The declared unit, else (sidecar-only metrics) the unit word in the
    name's last part: ``_s``, ``_ms``, ``_mb`` or ``_pct``; else a count."""
    if name in units:
        return units[name]
    words = name.rsplit(".", 1)[-1].split("_")
    for word, unit in (("s", "s"), ("ms", "ms"), ("mb", "MB"), ("pct", "%")):
        if word in words:
            return unit
    return "count"


DECIMALS = {"s": 6, "ms": 3, "MB": 6, "%": 4, "ratio": 6, "1/s": 3}


def _round(v, unit: str):
    """Microsecond (or byte) resolution, the finest the clocks and byte
    counts above resolve; it keeps the result line short."""
    if isinstance(v, float) and v.is_integer() and unit == "count":
        return int(v)
    return round(v, DECIMALS.get(unit, 6))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "logstash_spark")):
        print("perfbench: no logstash_spark package next to perfbench/",
              file=sys.stderr)
        return 2
    work = os.path.join(inputs.WORK, "runs", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        res = run(args, work)
    except RunFailed as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
    units = declared(args.trace)
    full = layer_metrics(res) if args.trace else e2e_metrics(res)
    missing = set(units) - set(full)
    if missing:
        print(f"perfbench: BENCHMARK.json declares unmeasured {sorted(missing)}",
              file=sys.stderr)
        return 1
    res["metrics"] = {k: {"value": v, "unit": unit_of(k, units)}
                      for k, v in full.items()}
    os.makedirs(OUT, exist_ok=True)
    side = os.path.join(OUT, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(side, "w") as f:
        json.dump(res, f, indent=1)
    cfg = res["config"]
    print(f"config: master={cfg['master']} cpus={cfg['cpus']} "
          f"shuffle_partitions={cfg['shuffle_partitions']} "
          f"heap_max_mb={cfg['heap_max_mb']} jvm={' '.join(cfg['jvm_flags'])}")
    for msg in res["failures"]:
        print(f"CHECK FAILED: {msg}")
    for k, v in full.items():
        print(f"{k} = {v:.6g} {unit_of(k, units)}")
    print(f"samples: {side}")
    print(json.dumps({
        "correct": res["failed"] == 0, "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": _round(full[k], u), "unit": u}
                    for k, u in units.items()}}, separators=(",", ":")))
    return 0


if __name__ == "__main__":
    sys.exit(main())

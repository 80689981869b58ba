"""Seeded benchmark inputs, cached per (kind, size, seed) inside the checkout.

Every workload's input comes from ``sources.transcripts.generate_transcripts``
with the benchmark's ``--seed``.  The program under test only ever receives
the parquet files written here; generation time counts in no metric.

* the backlog (``north_star``; the warm-up and the traced drains of every
  workload): the generator's conversation-contiguous order, exactly
  ``CLOSED_TURNS`` turns split into ``CLOSED_FILES`` files.
* the live input (``north_star_live``): its own turns, in delivery order --
  running ``max(ts)`` within each conversation, the ordering
  ``ensure_transcripts_tsorted`` uses -- split into equal files that the
  live generator drops one by one.
"""

from __future__ import annotations

import os
import shutil

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")

# One place for every size and rate; BENCHMARK.json and LAYERS.md quote them.
CLOSED_TURNS = 200_000          # the north_star backlog, also drained by
                                # every traced run
CLOSED_FILES = 8
LIVE_FILE_TURNS = 1_250         # turns per dropped file
LIVE_FILES_PER_S = 20           # 25k turns/s offered, under a third of the
                                # north_star drain rate (~90k turns/s, 4 cores):
                                # at ~40 % the two live queries were busy the
                                # whole window and latency swung with them
LIVE_WARM_FILES = 100           # dropped and committed before measuring

GROK = ("status=%{INT:status:int} bytes=%{INT:bytes:int} "
        "tool=%{WORD:tool_name} msg=%{WORD:msg}")
# RE2 twin of GROK for the reference (INT and WORD as grok_patterns define them)
GROK_RE2 = (r"status=(?P<status>[+-]?[0-9]+) bytes=[+-]?[0-9]+ "
            r"tool=\b\w+\b msg=\b\w+\b")

LSCL_CONFIG = """
input { file { path => "@SRC@" codec => "parquet" } }
filter {
  grok { match => { "text" => "@GROK@" } }
  if "_grokparsefailure" in [tags] { drop {} }
  mutate { lowercase => ["tool_name"] add_field => { "route" => "%{role}/%{tool_name}" } }
  if [status] >= 400 { mutate { add_tag => ["error"] } }
  fingerprint { source => ["conv_id", "turn_idx"] target => "fp" method => "SHA256" }
}
output {
  if [status] >= 400 { file { path => "@OUT@/errors" codec => "json_lines" } }
  file { path => "@OUT@/events" codec => "parquet" }
}
"""


def lscl_config(src: str, out: str) -> str:
    return (LSCL_CONFIG.replace("@GROK@", GROK).replace("@SRC@", src)
            .replace("@OUT@", out))


def _cached(name: str, build) -> str:
    """Build ``name`` under WORK/inputs once; a _READY marker means complete."""
    path = os.path.join(WORK, "inputs", name)
    if os.path.exists(os.path.join(path, "_READY")):
        return path
    shutil.rmtree(path, ignore_errors=True)
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp)
    with open(os.path.join(tmp, "_READY"), "w") as f:
        f.write("ok")
    os.replace(tmp, path)
    return path


def _generate(n_turns: int, seed: int):
    import sys

    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    from logstash_spark.sources.transcripts import generate_transcripts

    return generate_transcripts(n_turns, seed=seed)


def _exactly(n_turns: int, seed: int):
    """Exactly ``n_turns`` turns, so every seed drains the same volume:
    generate_transcripts lands within a few percent of its target (hot
    conversations are drawn at random), so ask for more and cut."""
    for factor in (1.25, 1.6, 2.5):
        tbl = _generate(int(n_turns * factor), seed)
        if tbl.num_rows >= n_turns:
            return tbl.slice(0, n_turns)
    raise RuntimeError(f"seed {seed}: {tbl.num_rows} < {n_turns} turns")


def _write_split(tbl, out_dir: str, n_files: int | None = None,
                 rows: int | None = None) -> int:
    import pyarrow.parquet as pq

    rows = rows or -(-tbl.num_rows // n_files)
    i = 0
    for start in range(0, tbl.num_rows, rows):
        pq.write_table(tbl.slice(start, rows),
                       os.path.join(out_dir, f"part-{i:05d}.parquet"))
        i += 1
    return i


def closed_input(seed: int) -> str:
    """Parquet backlog for the closed-loop workloads."""
    def build(d):
        _write_split(_exactly(CLOSED_TURNS, seed), d, n_files=CLOSED_FILES)
    return _cached(f"closed-n{CLOSED_TURNS}-s{seed}", build)


def warm_input(src: str) -> str:
    """The first file of ``src`` alone: a small first drain that takes the
    cold JVM's class loading and code generation off the full warm-up drain."""
    def build(d):
        shutil.copyfile(os.path.join(src, "part-00000.parquet"),
                        os.path.join(d, "part-00000.parquet"))
    return _cached(os.path.basename(src) + "-warm", build)


def delivery_order(tbl):
    """Rows sorted by delivery time = running max(ts) within a conversation
    in turn order (late turns keep their backward ts), ties by key.
    Relies on generate_transcripts' layout: conversations are contiguous and
    each starts at turn_idx 0."""
    import numpy as np
    import pyarrow as pa

    turn = tbl["turn_idx"].to_numpy()
    ts = tbl["ts"].cast(pa.int64()).to_numpy()
    seg = (np.cumsum(turn == 0) - 1).astype(np.int64)
    # segmented running max: lift each conversation above all earlier ones
    span = int(ts.max() - ts.min()) + 1
    lifted = ts - ts.min() + seg * span
    deliver = np.maximum.accumulate(lifted) - seg * span
    return tbl.take(pa.array(np.lexsort((turn, seg, deliver))))


def live_files(seconds: int) -> int:
    """Files one live run drops: the warm-up plus ``seconds`` of schedule."""
    return LIVE_WARM_FILES + seconds * LIVE_FILES_PER_S


def live_input(seed: int, n_files: int) -> str:
    """``n_files`` delivery-ordered staging files for the live generator,
    ``part-00000.parquet`` first, each exactly LIVE_FILE_TURNS turns."""
    def build(d):
        tbl = delivery_order(_exactly(n_files * LIVE_FILE_TURNS, seed))
        _write_split(tbl, d, rows=LIVE_FILE_TURNS)
    return _cached(f"live-{n_files}x{LIVE_FILE_TURNS}-s{seed}", build)

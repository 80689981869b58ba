"""Independent reference and output checks, in pyarrow only (no Spark).

Each ``check_*`` returns a list of failure messages; an empty list passes.
The reference re-derives every expected count from the generated input
with RE2 (pyarrow.compute) instead of the engine's Java regex.
"""

from __future__ import annotations

import glob
import json
import os

from inputs import GROK_RE2

SESSION_GAP_US = 30 * 60 * 1_000_000   # run_north_star's default gap


def read_parquet_dir(paths):
    """One table from parquet files and/or directories of them."""
    import pyarrow.dataset as ds

    files = []
    for p in [paths] if isinstance(paths, str) else paths:
        if os.path.isdir(p):
            files += sorted(os.path.join(p, f) for f in os.listdir(p)
                            if f.endswith(".parquet") and f[0] not in "._")
        else:
            files.append(p)
    return ds.dataset(files, format="parquet").to_table()


def reference(paths) -> dict:
    """Expected counts for the input files ``paths`` (a dir or a file list)."""
    import pyarrow.compute as pc

    t = read_parquet_dir(paths).select(["conv_id", "turn_idx", "text", "ts"])
    ok = pc.fill_null(pc.match_substring_regex(t["text"], GROK_RE2), False)
    status = pc.struct_field(pc.extract_regex(t["text"], GROK_RE2), "status")
    errors = pc.and_(ok, pc.greater_equal(
        pc.cast(pc.if_else(ok, status, "0"), "int64"), 400))
    return {
        "turns": t.num_rows,
        "grok_failures": t.num_rows - pc.sum(ok).as_py(),
        "errors": pc.sum(errors).as_py() or 0,
        "sessions": count_sessions(t),
    }


def count_sessions(t) -> int:
    """Gap sessions per conversation: a turn at least SESSION_GAP after the
    conversation's previous turn (in ts order) opens a new session."""
    import numpy as np
    import pyarrow as pa

    if t.num_rows == 0:
        return 0
    conv = t["conv_id"].to_numpy(zero_copy_only=False)
    ts = t["ts"].cast(pa.int64()).to_numpy()
    order = np.lexsort((ts, conv))
    conv, ts = conv[order], ts[order]
    new_conv = np.ones(len(ts), dtype=bool)
    new_conv[1:] = conv[1:] != conv[:-1]
    gap = np.zeros(len(ts), dtype=bool)
    gap[1:] = (ts[1:] - ts[:-1]) >= SESSION_GAP_US
    return int((new_conv | gap).sum())


# -- exactly-once sink (sinks/exactly_once.py layout) -------------------------

def committed_batches(sink_dir: str) -> dict[int, float]:
    """batch id -> commit ts, from ``_commits/N.json``."""
    out = {}
    for f in glob.glob(os.path.join(sink_dir, "_commits", "*.json")):
        with open(f) as fh:
            out[int(os.path.basename(f)[:-5])] = json.load(fh)["ts"]
    return out


def read_sink(sink_dir: str):
    """Rows of committed epochs only, as the sink's read path defines them."""
    paths = [os.path.join(sink_dir, f"batch_id={b}")
             for b in sorted(committed_batches(sink_dir))]
    paths = [p for p in paths if os.path.isdir(p)]
    return read_parquet_dir(paths) if paths else None


def _key_failures(t, expected: int, what: str) -> list[str]:
    import pyarrow.compute as pc

    n = 0 if t is None else t.num_rows
    if n != expected:
        return [f"{what}: {n} rows, expected {expected}"]
    if n == 0:
        return []
    keys = pc.binary_join_element_wise(
        t["conv_id"], pc.cast(t["turn_idx"], "string"), "#")
    distinct = pc.count_distinct(keys).as_py()
    if distinct != n:
        return [f"{what}: {n - distinct} duplicate (conv_id, turn_idx) rows"]
    return []


def _count_tag(t, tag: str) -> int:
    """Occurrences of ``tag`` across the ``tags`` list column."""
    import pyarrow as pa
    import pyarrow.compute as pc

    hits = pc.is_in(pc.list_flatten(t["tags"]), value_set=pa.array([tag]))
    return pc.sum(hits).as_py() or 0


def check_turns(sink_dir: str, ref: dict) -> list[str]:
    """Every input turn is committed exactly once, and grok tagged exactly
    the reference's failures."""
    t = read_sink(sink_dir)
    bad = _key_failures(t, ref["turns"], "turns sink")
    if not bad and t is not None:
        tagged = _count_tag(t, "_grokparsefailure")
        if tagged != ref["grok_failures"]:
            bad.append(f"turns sink: {tagged} _grokparsefailure tags, "
                       f"expected {ref['grok_failures']}")
    return bad


def sessions_streamed(sink_dir: str) -> int:
    t = read_sink(sink_dir)
    return 0 if t is None else t.num_rows


def check_lscl(out_dir: str, ref: dict) -> list[str]:
    """parquet output = input minus grok failures; json_lines output = the
    parsed rows with status >= 400, each tagged ``error``."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.json as pj

    events = os.path.join(out_dir, "events")
    t = read_parquet_dir(events) if os.path.isdir(events) else None
    bad = _key_failures(t, ref["turns"] - ref["grok_failures"], "lscl parquet")
    files = [f for f in glob.glob(os.path.join(out_dir, "errors", "*.json"))
             if os.path.getsize(f)]
    # json_lines omits null fields, so files differ in columns: keep the
    # ones checked
    errs = pa.concat_tables([pj.read_json(f).select(["status", "tags"])
                             for f in files]) if files else None
    n = 0 if errs is None else errs.num_rows
    if n != ref["errors"]:
        bad.append(f"lscl json_lines: {n} rows, expected {ref['errors']}")
    elif n:
        low = pc.sum(pc.less(errs["status"], 400)).as_py()
        untagged = n - _count_tag(errs, "error")
        if low or untagged:
            bad.append(f"lscl json_lines: {low} rows below 400, "
                       f"{untagged} without the error tag")
    return bad


# -- latency: which batch took each file, and when it committed --------------

def file_batches(query_ckpt: str) -> dict[str, int]:
    """input file basename -> batch id, from the file source's metadata log
    (``sources/0/N`` and its ``N.compact`` rollups)."""
    out = {}
    for f in glob.glob(os.path.join(query_ckpt, "sources", "0", "*")):
        with open(f) as fh:
            for line in fh:
                if line.startswith("{"):
                    e = json.loads(line)
                    out[os.path.basename(e["path"])] = e["batchId"]
    return out


def file_latencies(due: dict[str, float], batches: dict[str, int],
                   commits: dict[int, float]) -> list[float | None]:
    """Seconds from each file's due time to the commit of its batch;
    None for a file not committed."""
    out = []
    for name, t_due in due.items():
        b = batches.get(name)
        out.append(commits[b] - t_due if b in commits else None)
    return out

"""The benchmark's own checks must catch lost and duplicated output.

    python3 -m pytest perfbench/test_checks.py -q

Builds sink layouts by hand (pyarrow only, no Spark) from a small seeded
input and verifies that a deleted row or a replayed epoch fails the check
that a faithful copy passes.
"""

from __future__ import annotations

import json
import os
import pathlib
import shutil

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

import checks
import inputs


@pytest.fixture
def tmp_path(request):
    """A fresh directory inside the benchmark's own work area (the
    benchmark writes nowhere outside its checkout, its tests neither)."""
    d = os.path.join(inputs.WORK, "test", request.node.name)
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    yield pathlib.Path(d)
    shutil.rmtree(d, ignore_errors=True)


@pytest.fixture(scope="module")
def src():
    d = os.path.join(inputs.WORK, "test", "input")
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    inputs._write_split(inputs._exactly(3_000, seed=5), d, n_files=3)
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _parsed(src: str) -> pa.Table:
    """The input as the turns sink stores it: tags mark grok failures."""
    t = checks.read_parquet_dir(src)
    ok = pc.fill_null(pc.match_substring_regex(t["text"], inputs.GROK_RE2), False)
    tags = [[] if m else ["_grokparsefailure"] for m in ok.to_pylist()]
    return t.append_column("tags", pa.array(tags, pa.list_(pa.string())))


def _sink(root: str, batches: list[pa.Table], committed=None) -> str:
    os.makedirs(os.path.join(root, "_commits"))
    for i, b in enumerate(batches):
        os.makedirs(os.path.join(root, f"batch_id={i}"))
        pq.write_table(b, os.path.join(root, f"batch_id={i}", "part-0.parquet"))
        if committed is None or i in committed:
            with open(os.path.join(root, "_commits", f"{i}.json"), "w") as f:
                json.dump({"rows": b.num_rows, "ts": 100.0 + i}, f)
    return root


def test_reference_counts(src):
    ref = checks.reference(src)
    assert ref["turns"] == 3_000
    assert 0 < ref["grok_failures"] < 300
    assert 0 < ref["errors"] < ref["turns"]
    assert ref["sessions"] >= 1


def test_faithful_sink_passes(src, tmp_path):
    t = _parsed(src)
    sink = _sink(str(tmp_path / "s"), [t.slice(0, 1_000), t.slice(1_000)])
    assert checks.check_turns(sink, checks.reference(src)) == []


def test_deleted_row_fails(src, tmp_path):
    t = _parsed(src)
    sink = _sink(str(tmp_path / "s"), [t.slice(0, 1_000), t.slice(1_001)])
    bad = checks.check_turns(sink, checks.reference(src))
    assert bad and "2999 rows" in bad[0]


def test_replayed_epoch_fails(src, tmp_path):
    t = _parsed(src)
    sink = _sink(str(tmp_path / "s"), [t.slice(0, 1_000), t.slice(1_000)])
    # a replayed epoch committed under a new batch id duplicates its rows;
    # so that the total still matches, drop as many rows from batch 1
    shutil.copytree(os.path.join(sink, "batch_id=0"), os.path.join(sink, "batch_id=2"))
    with open(os.path.join(sink, "_commits", "2.json"), "w") as f:
        json.dump({"rows": 1_000, "ts": 102.0}, f)
    pq.write_table(t.slice(2_000), os.path.join(sink, "batch_id=1", "part-0.parquet"))
    bad = checks.check_turns(sink, checks.reference(src))
    assert bad and "1000 duplicate" in bad[0]


def test_uncommitted_epoch_is_invisible(src, tmp_path):
    t = _parsed(src)
    sink = _sink(str(tmp_path / "s"), [t, t.slice(0, 10)], committed={0})
    assert checks.check_turns(sink, checks.reference(src)) == []


def test_wrong_failure_tags_fail(src, tmp_path):
    t = _parsed(src)
    t = t.set_column(t.schema.get_field_index("tags"), "tags",
                     pa.array([[]] * t.num_rows, pa.list_(pa.string())))
    bad = checks.check_turns(_sink(str(tmp_path / "s"), [t]), checks.reference(src))
    assert bad and "_grokparsefailure" in bad[0]


def _lscl_out(src: str, root: str, drop_error_row: bool = False) -> str:
    t = _parsed(src)
    ok = pc.equal(pc.list_value_length(t["tags"]), 0)
    events = t.filter(ok)
    status = pc.cast(pc.struct_field(
        pc.extract_regex(events["text"], inputs.GROK_RE2), "status"), "int64")
    os.makedirs(os.path.join(root, "events"))
    pq.write_table(events, os.path.join(root, "events", "part-0.parquet"))
    os.makedirs(os.path.join(root, "errors"))
    rows = [{"status": s, "tags": ["error"]}
            for s in status.to_pylist() if s >= 400]
    if drop_error_row:
        rows.pop()
    with open(os.path.join(root, "errors", "part-0.json"), "w") as f:
        f.writelines(json.dumps(r) + "\n" for r in rows)
    open(os.path.join(root, "errors", "part-1.json"), "w").close()  # empty part
    return root


def test_lscl_outputs(src, tmp_path):
    ref = checks.reference(src)
    assert checks.check_lscl(_lscl_out(src, str(tmp_path / "a")), ref) == []
    bad = checks.check_lscl(_lscl_out(src, str(tmp_path / "b"), True), ref)
    assert bad and "json_lines" in bad[0]


def test_count_sessions_splits_on_gap():
    us = 60 * 1_000_000
    t = pa.table({"conv_id": ["a", "a", "a", "b"],
                  "ts": pa.array([0, 29 * us, 59 * us, 0], pa.timestamp("us"))})
    assert checks.count_sessions(t) == 3   # a: 0-29 min, then 59 min; b


def test_file_latencies_from_checkpoint_log(tmp_path):
    ck = tmp_path / "ck"
    (ck / "sources" / "0").mkdir(parents=True)
    (ck / "sources" / "0" / "0").write_text(
        'v1\n{"path":"file:///x/part-00000.parquet","timestamp":1,"batchId":0}\n')
    (ck / "sources" / "0" / "1").write_text(
        'v1\n{"path":"file:///x/part-00001.parquet","timestamp":2,"batchId":1}\n')
    batches = checks.file_batches(str(ck))
    lat = checks.file_latencies(
        {"part-00000.parquet": 10.0, "part-00001.parquet": 11.0,
         "part-00002.parquet": 12.0}, batches, {0: 10.5, 1: 13.0})
    assert lat == [0.5, 2.0, None]


def test_delivery_order_is_monotone_per_conversation():
    t = inputs.delivery_order(inputs._exactly(2_000, seed=9))
    conv = t["conv_id"].to_pylist()
    turn = t["turn_idx"].to_pylist()
    last = {}
    for c, i in zip(conv, turn):
        assert last.get(c, -1) < i      # a conversation's turns keep order
        last[c] = i

"""Round-3 conformance: field-reference escape styles, pipeline-to-pipeline
composition, LSCL stream-input wiring, MinHash banding recall, avro gate.

Reference shapes: FieldReferenceTest.java (escape goldens),
PipelineBus.java:56-66 + pipeline_pipeline_spec.rb (p2p),
qa/integration/fixtures/*_spec.yml (input round-trips).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# field-reference escape styles (FieldReference.java:52-70, EscapeHandler)
# ---------------------------------------------------------------------------

class TestFieldRefEscapes:
    def test_percent_goldens(self):
        """FieldReferenceTest.EscapePercent shapes."""
        from logstash_spark.functions.fieldref import parse_field_ref

        assert parse_field_ref("[foo][bar%5Bbingo%5D][okay]", "percent") == \
            ["foo", "bar[bingo]", "okay"]
        assert parse_field_ref("[foo][okay][bar%5Bbingo%5D]", "percent") == \
            ["foo", "okay", "bar[bingo]"]
        # a literal % not followed by two hex digits stays literal
        assert parse_field_ref("[foo][bar][95%]", "percent") == \
            ["foo", "bar", "95%"]

    def test_ampersand_goldens(self):
        """FieldReferenceTest.EscapeAmpersand shapes."""
        from logstash_spark.functions.fieldref import parse_field_ref

        assert parse_field_ref("[foo][bar&#91;bingo&#93;][okay]", "ampersand") == \
            ["foo", "bar[bingo]", "okay"]
        assert parse_field_ref("[foo][okay][bar&#91;bingo&#93;]", "ampersand") == \
            ["foo", "okay", "bar[bingo]"]
        assert parse_field_ref("[foo][bar][this&that]", "ampersand") == \
            ["foo", "bar", "this&that"]

    def test_escape_unescape_roundtrip(self):
        from logstash_spark.functions.fieldref import escape_part, unescape_part

        for style in ("percent", "ampersand"):
            for name in ("bar[bingo]", "95%", "%5B", "this&that", "&#91;",
                         "plain", "[", "]"):
                assert unescape_part(escape_part(name, style), style) == name

    def test_none_is_identity_and_bad_style_raises(self):
        from logstash_spark.functions.fieldref import parse_field_ref, unescape_part

        assert parse_field_ref("[a][b%5Bc%5D]") == ["a", "b%5Bc%5D"]
        with pytest.raises(ValueError, match="Invalid escape style"):
            unescape_part("&#91;x", "html")

    def test_field_col_resolves_escaped_top_level(self, spark):
        from logstash_spark.functions.fieldref import field_col

        df = spark.createDataFrame([("v",)], ["bar[bingo]"])
        col = field_col(df.columns, "[bar%5Bbingo%5D]", escape_style="percent")
        assert col is not None
        # backticks-free resolution: the decoded name addresses the column
        assert df.select(col.alias("x")).collect()[0].x == "v"


# ---------------------------------------------------------------------------
# pipeline-to-pipeline (PipelineBus analog): composed == fused
# ---------------------------------------------------------------------------

class TestPipelineToPipeline:
    UP = """
    input { stdin {} }
    filter {
      grok { match => { "text" => "status=%{INT:status:int} bytes=%{INT:bytes:int} tool=%{WORD:tool_name} msg=%{WORD:msg}" } }
    }
    output { pipeline { send_to => ["r3_parsed"] } }
    """
    DOWN = """
    input { pipeline { address => "r3_parsed" } }
    filter {
      if "_grokparsefailure" in [tags] { drop {} }
      mutate { uppercase => ["tool_name"] }
    }
    output { null {} }
    """
    FUSED = """
    filter {
      grok { match => { "text" => "status=%{INT:status:int} bytes=%{INT:bytes:int} tool=%{WORD:tool_name} msg=%{WORD:msg}" } }
      if "_grokparsefailure" in [tags] { drop {} }
      mutate { uppercase => ["tool_name"] }
    }
    """

    def test_composed_equals_fused(self, spark, transcripts):
        from logstash_spark.plans.lscl import (PipelineBus, compile_lscl,
                                               compile_lscl_job)

        bus = PipelineBus()
        up = compile_lscl_job(self.UP, context={"bus": bus})
        down = compile_lscl_job(self.DOWN, context={"bus": bus})
        src = transcripts.limit(2000)
        up.run(spark, stdin_df=src)
        composed = down.run(spark)

        fused = compile_lscl(self.FUSED)(src)
        cols = ["conv_id", "turn_idx", "status", "tool_name"]
        got = sorted(map(tuple, composed.select(cols).collect()))
        want = sorted(map(tuple, fused.select(cols).collect()))
        assert got and got == want

    def test_bus_is_plan_composition_not_materialization(self, spark, transcripts):
        """The downstream plan must EMBED the upstream scan (one logical
        plan across the boundary) — no intermediate write."""
        from logstash_spark.plans.lscl import PipelineBus, compile_lscl_job

        bus = PipelineBus()
        up = compile_lscl_job(self.UP, context={"bus": bus})
        down = compile_lscl_job(self.DOWN, context={"bus": bus})
        up.run(spark, stdin_df=transcripts.limit(10))
        plan = down.run(spark)._jdf.queryExecution().optimizedPlan().toString()
        assert "LocalRelation" in plan or "Relation" in plan or "Scan" in plan

    def test_missing_address_raises(self, spark):
        from logstash_spark.plans.lscl import PipelineBus, compile_lscl_job

        down = compile_lscl_job(self.DOWN, context={"bus": PipelineBus()})
        with pytest.raises(SyntaxError, match="no upstream"):
            down.run(spark)

    def test_fanout_two_addresses(self, spark, transcripts):
        """send_to with two addresses registers the frame on both (the
        reference fans out to every listening pipeline)."""
        from logstash_spark.plans.lscl import PipelineBus, compile_lscl_job

        bus = PipelineBus()
        up = compile_lscl_job(
            'input { stdin {} } '
            'output { pipeline { send_to => ["r3_a", "r3_b"] } }',
            context={"bus": bus})
        up.run(spark, stdin_df=transcripts.limit(5))
        assert bus.listen("r3_a").count() == 5
        assert bus.listen("r3_b").count() == 5


# ---------------------------------------------------------------------------
# LSCL stream inputs: kafka (jar-gated), tcp, syslog (live socket)
# ---------------------------------------------------------------------------

class TestLsclStreamInputs:
    def test_kafka_input_wiring_gated(self, spark):
        from logstash_spark.plans.lscl import compile_lscl_job
        from logstash_spark.sources.connectors import kafka_available

        job = compile_lscl_job("""
        input { kafka { bootstrap_servers => "localhost:9092"
                        topics => ["turns"] codec => "line" } }
        filter { mutate { add_tag => ["from_kafka"] } }
        output { null {} }
        """)
        if kafka_available(spark):
            src = job.source(spark)
            assert src.isStreaming and "message" in src.columns
        else:
            with pytest.raises(NotImplementedError, match="spark-sql-kafka"):
                job.source(spark)

    def _serve_lines(self, lines: list[str]):
        import socket
        import threading
        import time

        srv = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
        srv.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
        srv.bind(("127.0.0.1", 0))
        srv.listen(1)
        port = srv.getsockname()[1]

        def serve():
            conn, _ = srv.accept()
            conn.sendall(("\n".join(lines) + "\n").encode())
            time.sleep(8)
            conn.close()

        threading.Thread(target=serve, daemon=True).start()
        return port

    def _drain(self, spark, q, table, expect_n, timeout=60):
        import time

        deadline = time.time() + timeout
        while time.time() < deadline:
            q.processAllAvailable()
            if spark.table(table).count() >= expect_n:
                break
            time.sleep(0.5)

    def test_tcp_input_roundtrip(self, spark):
        """input { tcp } -> filter -> memory sink against a live socket."""
        from logstash_spark.plans.lscl import compile_lscl_job

        lines = ["status=200 bytes=11 tool=sql msg=ok",
                 "status=500 bytes=7 tool=bash msg=boom"]
        port = self._serve_lines(lines)
        job = compile_lscl_job(f"""
        input {{ tcp {{ port => {port} }} }}
        filter {{
          grok {{ match => {{ "message" => "status=%{{INT:status:int}} bytes=%{{INT:bytes:int}} tool=%{{WORD:tool_name}} msg=%{{WORD:msg}}" }} }}
        }}
        output {{ null {{}} }}
        """)
        out = job.pipeline(job.source(spark))
        q = (out.writeStream.format("memory").queryName("r3_tcp_mem")
             .outputMode("append").start())
        try:
            self._drain(spark, q, "r3_tcp_mem", len(lines))
            rows = {r.msg: r for r in spark.table("r3_tcp_mem").collect()}
            assert rows["ok"].status == 200 and rows["ok"].tool_name == "sql"
            assert rows["boom"].bytes == 7
        finally:
            q.stop()

    def test_syslog_input_roundtrip(self, spark):
        """input { syslog } parses RFC3164 fields off a live socket."""
        from logstash_spark.plans.lscl import compile_lscl_job

        lines = ["<34>Oct 11 22:14:15 host1 su[1024]: auth failure",
                 "not syslog at all"]
        port = self._serve_lines(lines)
        job = compile_lscl_job(f"""
        input {{ syslog {{ port => {port} }} }}
        output {{ null {{}} }}
        """)
        out = job.pipeline(job.source(spark))
        q = (out.writeStream.format("memory").queryName("r3_syslog_mem")
             .outputMode("append").start())
        try:
            self._drain(spark, q, "r3_syslog_mem", len(lines))
            rows = {r.message: r for r in spark.table("r3_syslog_mem").collect()}
            good = rows[lines[0]]
            assert good.priority == 34 and good.severity == 2
            assert good.logsource == "host1" and good.program == "su"
            bad = rows[lines[1]]
            assert "_syslogparsefailure" in (bad.tags or [])
        finally:
            q.stop()


# ---------------------------------------------------------------------------
# MinHash banding recall (VERDICT r2 next-round #5)
# ---------------------------------------------------------------------------

class TestMinhashRecall:
    @staticmethod
    def _fixture(spark, n_pairs=40, seed=7):
        """Seeded near-dup pairs: doc 2k is ~60 random words; doc 2k+1 is
        the same with ~10% of words replaced (high but varied Jaccard)."""
        import numpy as np

        rng = np.random.default_rng(seed)
        vocab = [f"w{i:03d}" for i in range(400)]
        rows = []
        for k in range(n_pairs):
            words = list(rng.choice(vocab, size=60, replace=True))
            rows.append((2 * k, " ".join(words)))
            mutated = list(words)
            for j in rng.choice(len(words), size=6, replace=False):
                mutated[j] = str(rng.choice(vocab))
            rows.append((2 * k + 1, " ".join(mutated)))
        return spark.createDataFrame(rows, "doc_id long, text string"), rows

    @staticmethod
    def _shingle_jaccard(a: str, b: str, n=3) -> float:
        def sh(t):
            toks = t.split()
            return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}

        sa, sb = sh(a), sh(b)
        return len(sa & sb) / len(sa | sb)

    def test_recall_meets_banding_curve(self, spark):
        """Empirical candidate recall at 16 hashes / 4-per-band must meet
        the banding curve 1-(1-s^r)^b (MMDS ch.3) within slack, per true
        (deterministically computed) shingle-Jaccard of each seeded pair."""
        from logstash_spark.datahub.dedup import minhash_lsh_dedup

        df, rows = self._fixture(spark)
        pairs16 = {(r.a, r.b) for r in
                   minhash_lsh_dedup(df, n_hashes=16, band_size=4).collect()}

        txt = dict(rows)
        expected, hits = 0.0, 0
        planted = 0
        for k in range(len(rows) // 2):
            a, b = 2 * k, 2 * k + 1
            s = self._shingle_jaccard(txt[a], txt[b])
            if s <= 0.0:
                continue
            planted += 1
            expected += 1 - (1 - s ** 4) ** 4
            if (a, b) in pairs16:
                hits += 1
        assert planted >= 30
        recall = hits / planted
        curve = expected / planted
        # md5-minhash is deterministic for a fixed fixture: the empirical
        # recall should sit near its expectation; 0.15 absorbs the fixed
        # draw's variance (binomial sd ~0.05 at n=40)
        assert recall >= curve - 0.15, (recall, curve)

    def test_more_bands_strict_superset(self, spark):
        """16/4 banding reuses h0..h7's two bands and adds two more, so its
        candidate set must contain the 8/4 set (monotone recall knob)."""
        from logstash_spark.datahub.dedup import minhash_lsh_dedup

        df, _ = self._fixture(spark, n_pairs=25, seed=11)
        p8 = {(r.a, r.b) for r in
              minhash_lsh_dedup(df, n_hashes=8, band_size=4).collect()}
        p16 = {(r.a, r.b) for r in
               minhash_lsh_dedup(df, n_hashes=16, band_size=4).collect()}
        assert p8 <= p16
        assert len(p16) >= len(p8)


# ---------------------------------------------------------------------------
# avro codec decode contract (VERDICT r2 next-round #7)
# ---------------------------------------------------------------------------

def test_avro_decode_contract_or_gated(spark):
    """Hand-encoded Avro binary record (public Avro 1.x binary spec:
    zigzag-varint longs, length-prefixed utf8 strings, fields in schema
    order).  With the spark-avro jar: from_avro must decode it exactly.
    Without: the gate must raise with the exact --packages flag."""
    from logstash_spark.operators.codecs import avro_decode

    schema = ('{"type":"record","name":"t","fields":['
              '{"name":"i","type":"long"},{"name":"s","type":"string"}]}')
    # i=3 -> zigzag 6 -> varint 0x06 ; s="hi" -> len 2 -> 0x04 + b"hi"
    wire = bytes([0x06, 0x04]) + b"hi"
    df = spark.createDataFrame([(wire,)], "b binary")
    try:
        out = avro_decode(df, "b", schema, target="rec")
        row = out.select("rec.i", "rec.s").collect()[0]
        assert (row.i, row.s) == (3, "hi")
    except NotImplementedError as exc:
        assert "org.apache.spark:spark-avro" in str(exc)
        pytest.skip(f"spark-avro jar absent (gate verified): {exc}")


# ---------------------------------------------------------------------------
# LSCL streaming: run a full config as one Structured Streaming query
# ---------------------------------------------------------------------------

class TestLsclRunStream:
    CFG = """
    input {{ file {{ path => "{src}" codec => "parquet" }} }}
    filter {{
      grok {{ match => {{ "text" => "status=%{{INT:status:int}} bytes=%{{INT:bytes:int}} tool=%{{WORD:tool_name}} msg=%{{WORD:msg}}" }} }}
      if "_grokparsefailure" in [tags] {{ drop {{}} }}
      mutate {{ uppercase => ["tool_name"] }}
    }}
    output {{ file {{ path => "{out}" codec => "parquet" }} }}
    """

    def test_stream_equals_batch(self, spark, transcripts, tmp_path):
        from logstash_spark.plans.lscl import compile_lscl_job

        src = str(tmp_path / "src")
        out = str(tmp_path / "out")
        ckpt = str(tmp_path / "ckpt")
        transcripts.limit(3000).write.parquet(src)

        job = compile_lscl_job(self.CFG.format(src=src, out=out))
        q = job.run_stream(spark, checkpoint_dir=ckpt, available_now=True)
        q.awaitTermination(120)

        batch = compile_lscl_job(self.CFG.format(src=src, out="/dev/null"))
        expected = batch.pipeline(batch.source(spark))
        cols = ["conv_id", "turn_idx", "status", "tool_name"]
        got = sorted(map(tuple, spark.read.parquet(out).select(cols).collect()))
        want = sorted(map(tuple, expected.select(cols).collect()))
        assert got and got == want

    def test_resume_is_idempotent(self, spark, transcripts, tmp_path):
        """Re-running with the same checkpoint after completion appends
        nothing (offsets already committed)."""
        from logstash_spark.plans.lscl import compile_lscl_job

        src = str(tmp_path / "src2")
        out = str(tmp_path / "out2")
        ckpt = str(tmp_path / "ckpt2")
        transcripts.limit(500).write.parquet(src)
        cfg = self.CFG.format(src=src, out=out)
        job = compile_lscl_job(cfg)
        job.run_stream(spark, checkpoint_dir=ckpt).awaitTermination(120)
        n1 = spark.read.parquet(out).count()
        compile_lscl_job(cfg).run_stream(
            spark, checkpoint_dir=ckpt).awaitTermination(120)
        n2 = spark.read.parquet(out).count()
        assert n1 == n2 > 0

    @pytest.mark.parametrize("output", [
        'pipeline { send_to => ["x"] }',
        # nested in a conditional: still an in-plan bus registration
        'if [message] == "1" { pipeline { send_to => ["x"] } }',
    ], ids=["top_level", "nested_in_if"])
    def test_streaming_pipeline_output_rejected(self, spark, tmp_path,
                                                output):
        from logstash_spark.plans.lscl import compile_lscl_job

        import pytest as _pytest

        job = compile_lscl_job(
            'input { file { path => "/nonexistent" } } '
            f'output {{ {output} }}')
        with _pytest.raises(SyntaxError, match="durable bus"):
            job.run_stream(spark, checkpoint_dir=str(tmp_path / "c"))


def test_lscl_iceberg_output_gated(spark, transcripts):
    """output { iceberg } wires onto the MERGE sink; without the runtime
    jar it raises the exact submit recipe."""
    from logstash_spark.plans.lscl import compile_lscl_job
    from logstash_spark.sources.connectors import iceberg_available

    job = compile_lscl_job("""
    input { stdin {} }
    output { iceberg { table => "lake.db.turns"
                       merge_keys => ["conv_id", "turn_idx"] } }
    """)
    if iceberg_available(spark):
        job.run(spark, stdin_df=transcripts.limit(5))
    else:
        with pytest.raises(NotImplementedError, match="iceberg-spark-runtime"):
            job.run(spark, stdin_df=transcripts.limit(5))


class TestTranslateDictionaryPath:
    """translate's dictionary_path file loader (yml/json/csv, meta:215)."""

    def _check(self, spark, tmp_path, fname, content):
        from logstash_spark.plans.lscl import compile_lscl

        p = tmp_path / fname
        p.write_text(content)
        cfg = ('filter { translate { source => "tool" target => "cat" '
               f'dictionary_path => "{p}" fallback => "other" }} }}')
        df = spark.createDataFrame(
            [("sql",), ("bash",), ("unknown",)], "tool string")
        got = {r.tool: r.cat for r in compile_lscl(cfg)(df).collect()}
        assert got == {"sql": "data", "bash": "code", "unknown": "other"}

    def test_yaml(self, spark, tmp_path):
        self._check(spark, tmp_path, "d.yml",
                    "# tool categories\nsql: data\nbash: 'code'\n")

    def test_json(self, spark, tmp_path):
        self._check(spark, tmp_path, "d.json",
                    '{"sql": "data", "bash": "code"}')

    def test_csv(self, spark, tmp_path):
        self._check(spark, tmp_path, "d.csv", "sql,data\nbash,code\n")

    def test_nested_yaml_rejected(self, tmp_path):
        from logstash_spark.operators.misc import load_dictionary_path

        p = tmp_path / "bad.yml"
        p.write_text("a:\n  b: c\n")
        with pytest.raises(ValueError, match="flat dictionary"):
            load_dictionary_path(str(p))


def test_lscl_file_multiline_codec(spark, tmp_path):
    """file input + multiline codec: stacktrace continuation lines fold
    into their parent event, per file, in true line order."""
    from logstash_spark.plans.lscl import compile_lscl_job

    d = tmp_path / "logs"
    d.mkdir()
    (d / "app1.log").write_text(
        "ERROR boom\n"
        "  at Foo.bar(Foo.java:1)\n"
        "  at Baz.qux(Baz.java:2)\n"
        "INFO fine\n"
        "ERROR again\n"
        "  at X.y(X.java:9)\n")
    (d / "app2.log").write_text(
        "INFO other-file\n"
        "  continuation belongs here\n")

    job = compile_lscl_job(f"""
    input {{ file {{ path => "{d}" codec => "multiline"
                     pattern => "^ " negate => false what => "previous" }} }}
    output {{ null {{}} }}
    """)
    out = job.run(spark)
    events = sorted(((r.path.rsplit("/", 1)[-1], r.message, r.n_lines)
                     for r in out.collect()))
    assert events == [
        ("app1.log", "ERROR again\n  at X.y(X.java:9)", 2),
        ("app1.log",
         "ERROR boom\n  at Foo.bar(Foo.java:1)\n  at Baz.qux(Baz.java:2)", 3),
        ("app1.log", "INFO fine", 1),
        ("app2.log", "INFO other-file\n  continuation belongs here", 2),
    ]


def test_date_timezone_option(spark):
    """Zone-less patterns assume `timezone`; offset patterns are untouched;
    %{field} resolves the zone per event (plugin's sprintf form)."""
    from logstash_spark.operators.date import date

    df = spark.createDataFrame(
        [("2024-06-01 12:00:00", "America/New_York"),
         ("2024-06-01 12:00:00", "UTC")],
        "raw string, tz string")
    out = date(df, "raw", ["yyyy-MM-dd HH:mm:ss"], target="t",
               timezone="America/New_York")
    ts = sorted(r.t.isoformat() for r in out.collect())
    assert ts == ["2024-06-01T16:00:00"] * 2  # EDT = UTC-4 in June

    per_event = date(df, "raw", ["yyyy-MM-dd HH:mm:ss"], target="t",
                     timezone="%{tz}")
    got = {r.tz: r.t.isoformat() for r in per_event.collect()}
    assert got == {"America/New_York": "2024-06-01T16:00:00",
                   "UTC": "2024-06-01T12:00:00"}

    # a pattern WITH an offset ignores the option
    df2 = spark.createDataFrame([("2024-06-01 12:00:00 +0200",)], "raw string")
    out2 = date(df2, "raw", ["yyyy-MM-dd HH:mm:ss Z"], target="t",
                timezone="America/New_York")
    assert out2.collect()[0].t.isoformat() == "2024-06-01T10:00:00"


def test_metrics_timer_percentiles(spark, transcripts):
    from pyspark.sql import functions as F
    from logstash_spark.operators.windows import metrics_timer

    t = transcripts.withColumn("latency", (F.col("turn_idx") % 100).cast("double"))
    out = metrics_timer(t, "ts", ["role"], "latency", size="365 days",
                        percentiles=(0.5, 0.99), accuracy=10000)
    rows = out.collect()
    assert rows and {"n", "min", "max", "mean", "stddev", "p50", "p99"} <= \
        set(out.columns)
    for r in rows:
        assert r.min <= r.p50 <= r.p99 <= r.max
        assert r.n > 0 and r.stddev is not None


class TestLsclStatefulPlugins:
    """throttle/elapsed/aggregate reachable from LSCL text with the
    plugin-shaped attrs, matching the direct operator calls."""

    def test_throttle(self, spark, transcripts):
        from logstash_spark.plans.lscl import compile_lscl
        from logstash_spark.operators.windows import throttle

        cfg = ('filter { throttle { key => "%{conv_id}" period => 604800 '
               'after_count => 10 order_by => ["ts", "turn_idx"] } }')
        got = {(r.conv_id, r.turn_idx, "throttled" in (r.tags or []))
               for r in compile_lscl(cfg)(transcripts)
               .select("conv_id", "turn_idx", "tags").collect()}
        want = {(r.conv_id, r.turn_idx, "throttled" in (r.tags or []))
                for r in throttle(transcripts, "ts", ["conv_id"],
                                  "604800 seconds", max_count=10,
                                  order_cols=["ts", "turn_idx"])
                .select("conv_id", "turn_idx", "tags").collect()}
        assert got == want and any(t for _, _, t in got)

    def test_elapsed(self, spark, transcripts):
        from pyspark.sql import functions as F
        from logstash_spark.plans.lscl import compile_lscl

        cfg = """filter {
          if [role] == "user" { mutate { add_tag => ["req"] } }
          else { mutate { add_tag => ["rsp"] } }
          elapsed { start_tag => "req" end_tag => "rsp"
                    unique_id_field => "conv_id" timeout => 7200 }
        }"""
        out = compile_lscl(cfg)(transcripts)
        rows = out.limit(50).collect()
        assert rows
        assert all(0 < r.elapsed_sec <= 7200 for r in rows)
        assert {"conv_id", "start_ts", "end_ts", "elapsed_sec"} <= set(out.columns)

    def test_aggregate_sessionize(self, spark, transcripts):
        from logstash_spark.plans.lscl import compile_lscl
        from logstash_spark.operators.windows import session_rollup

        cfg = ('filter { aggregate { task_id => "%{conv_id}" '
               'timeout => 1800 } }')
        got = {(r.conv_id, r.session_start, r.n_turns)
               for r in compile_lscl(cfg)(transcripts).collect()}
        want = {(r.conv_id, r.session_start, r.n_turns)
                for r in session_rollup(transcripts, "ts", "conv_id",
                                        "1800 seconds").collect()}
        assert got == want and got

    def test_aggregate_code_rejected(self, spark, transcripts):
        from logstash_spark.plans.lscl import compile_lscl

        pipe = compile_lscl('filter { aggregate { task_id => "%{c}" '
                            'code => "map[:n] += 1" } }')
        with pytest.raises(SyntaxError, match="batch_filter"):
            pipe(transcripts)

    def test_composite_key_rejected(self, spark, transcripts):
        from logstash_spark.plans.lscl import compile_lscl

        pipe = compile_lscl('filter { throttle { key => "%{a}%{b}" '
                            'period => 60 after_count => 1 } }')
        with pytest.raises(SyntaxError, match="single-field sprintf"):
            pipe(transcripts)


def test_lscl_metrics_meter_and_timer(spark, transcripts):
    from pyspark.sql import functions as F
    from logstash_spark.plans.lscl import compile_lscl

    meter = compile_lscl(
        'filter { metrics { meter => "%{role}" flush_interval => 86400 } }'
    )(transcripts)
    rows = meter.collect()
    assert rows and {"window_start", "role", "count", "rate_per_sec"} <= \
        set(meter.columns)
    assert all(abs(r.rate_per_sec - r["count"] / 86400) < 1e-9 for r in rows)

    staged = transcripts.withColumn(
        "latency", (F.col("turn_idx") % 30).cast("double"))
    timer = compile_lscl(
        'filter { metrics { timer => { "req_latency" => "%{latency}" } '
        'flush_interval => 2592000 percentiles => [50, 99] } }')(staged)
    r = timer.first()
    assert r.metric_name == "req_latency" and r.min <= r.p50 <= r.p99 <= r.max


def test_lscl_dns_and_lookup_context(spark, transcripts):
    """dns + jdbc_static reachable from LSCL with context-passed snapshots
    (the resolver/db-cache analogs)."""
    from pyspark.sql import functions as F
    from logstash_spark.plans.lscl import compile_lscl

    records = spark.createDataFrame(
        [("assistant.example.com", "10.0.0.1")], "name string, address string")
    dim = spark.createDataFrame(
        [("sql", "data"), ("bash", "code")], "tool string, category string")
    staged = transcripts.withColumn(
        "host", F.concat("role", F.lit(".example.com")))
    cfg = """filter {
      dns { resolve => ["host"] action => "replace" }
      jdbc_static { source => "tool" key => "tool"
                    fetch => { "category" => "tool_cat" }
                    defaults => { "tool_cat" => "other" } }
    }"""
    out = compile_lscl(cfg, context={"dns_records": records,
                                     "lookup_dim": dim})(staged)
    rows = out.limit(500).collect()
    resolved = [r for r in rows if r.host == "10.0.0.1"]
    missed = [r for r in rows if "_dnsfailure" in (r.tags or [])]
    assert resolved and missed
    assert {r.tool_cat for r in rows} <= {"data", "code", "other"}

    import pytest as _pytest
    with _pytest.raises(SyntaxError, match="dns_records"):
        compile_lscl('filter { dns { resolve => ["host"] } }')(staged)


def test_lscl_ruby_rejected_with_escape_hatch():
    from logstash_spark.plans.lscl import compile_lscl

    with pytest.raises(SyntaxError, match="batch_filter"):
        compile_lscl('filter { ruby { code => "event.cancel" } }')


def test_kafka_binary_codec_dispatch(spark):
    """msgpack/fluent codec paths on the kafka source: jar-gated like the
    rest; with the jar absent the gate fires before codec dispatch."""
    from logstash_spark.sources.connectors import kafka_available, kafka_source

    if not kafka_available(spark):
        with pytest.raises(NotImplementedError, match="spark-sql-kafka"):
            kafka_source(spark, "h:9092", "t", codec="msgpack", schema="i long")
        with pytest.raises(NotImplementedError, match="spark-sql-kafka"):
            kafka_source(spark, "h:9092", "t", codec="fluent")
    else:
        src = kafka_source(spark, "h:9092", "t", codec="fluent")
        assert {"fluent_tag", "fluent_time", "record"} <= set(src.columns)


@pytest.mark.parametrize("plugin, twin", [
    ('throttle { key => "%{k}" period => 60 after_count => 1 }',
     "throttle_stream"),
    ('elapsed { unique_id_field => "k" start_tag => "s" end_tag => "e" }',
     "elapsed_stream_join"),
    ('aggregate { task_id => "%{k}" }', "session_rollup_stream"),
    ('metrics { meter => "%{k}" }', r"jobs\.rollup_stream"),
], ids=["throttle", "elapsed", "aggregate", "metrics"])
def test_run_stream_rejects_batch_only_stateful(spark, tmp_path, plugin, twin):
    from logstash_spark.plans.lscl import compile_lscl_job

    job = compile_lscl_job(f"""
    input {{ file {{ path => "/nonexistent" }} }}
    filter {{
      if [x] == 1 {{ {plugin} }}
    }}
    output {{ null {{}} }}
    """)
    with pytest.raises(SyntaxError, match=twin):
        job.run_stream(spark, checkpoint_dir=str(tmp_path / "c"))


class TestReviewFixesLscl:
    def test_multi_path_file_input(self, spark, tmp_path):
        """Two paths in file{} must read BOTH files line-by-line (the
        *splat bound path 2 to the reader's wholetext positional)."""
        from logstash_spark.plans.lscl import compile_lscl_job

        p1, p2 = tmp_path / "a.log", tmp_path / "b.log"
        p1.write_text("l1\nl2\n")
        p2.write_text("l3\n")
        job = compile_lscl_job(
            f'input {{ file {{ path => ["{p1}", "{p2}"] }} }} '
            'output { null {} }')
        rows = sorted(r.message for r in job.run(spark).collect())
        assert rows == ["l1", "l2", "l3"]

    def test_multi_path_file_stream(self, spark, tmp_path):
        from logstash_spark.plans.lscl import compile_lscl_job

        d1, d2 = tmp_path / "d1", tmp_path / "d2"
        d1.mkdir(); d2.mkdir()
        (d1 / "a.log").write_text("s1\n")
        (d2 / "b.log").write_text("s2\ns3\n")
        out = str(tmp_path / "out")
        job = compile_lscl_job(
            f'input {{ file {{ path => ["{d1}", "{d2}"] }} }} '
            f'output {{ file {{ path => "{out}" codec => "line" }} }}')
        q = job.run_stream(spark, checkpoint_dir=str(tmp_path / "ck"))
        q.awaitTermination(60)
        got = sorted(r.value for r in spark.read.text(out).collect())
        assert got == ["s1", "s2", "s3"]

    def test_throttle_scalar_order_by(self, spark, transcripts):
        from logstash_spark.plans.lscl import compile_lscl

        out = compile_lscl(
            'filter { throttle { key => "%{conv_id}" period => 604800 '
            'after_count => 5 order_by => "turn_idx" } }')(transcripts)
        assert out.count() == transcripts.count()  # no AnalysisException

    def test_date_iso8601_timezone(self, spark):
        from logstash_spark.operators.date import date

        df = spark.createDataFrame(
            [("2024-06-01T12:00:00",), ("2024-06-01T12:00:00+02:00",)],
            "raw string")
        out = {r.raw: r.t for r in
               date(df, "raw", ["ISO8601"], target="t",
                    timezone="America/New_York").collect()}
        # offset-less: reinterpreted as NY wall time -> 16:00 UTC
        assert out["2024-06-01T12:00:00"].isoformat() == "2024-06-01T16:00:00"
        # explicit offset: untouched -> 10:00 UTC
        assert out["2024-06-01T12:00:00+02:00"].isoformat() == \
            "2024-06-01T10:00:00"

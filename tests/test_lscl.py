"""LSCL-subset parser/compiler conformance.

Golden cases follow the reference's conditionals corpus shape
(logstash-core/spec/conditionals_spec.rb:26-39): each `if EXPR` config adds
tag "success" on the true branch and "failure" on the false branch; we
assert which rows land where.
"""

import pytest
from pyspark.sql import functions as F

from logstash_spark.plans.lscl import compile_lscl, tokenize, Parser


@pytest.fixture(scope="module")
def events(spark):
    rows = [
        # id, status, role, text, tags-free baseline
        ("a", 200, "user", "hello world"),
        ("b", 404, "assistant", "msg=notfound"),
        ("c", 500, "tool", "msg=boom"),
        ("d", None, "user", ""),
        ("e", 301, "assistant", None),
    ]
    return spark.createDataFrame(rows, "id string, status int, role string, text string")


def _run_cond(spark, events, expr):
    cfg = ('filter { if %s { mutate { add_tag => ["success"] } } '
           'else { mutate { add_tag => ["failure"] } } }') % expr
    out = compile_lscl(cfg)(events)
    got = {}
    for r in out.collect():
        tags = r["tags"] or []
        got[r["id"]] = "success" if "success" in tags else (
            "failure" if "failure" in tags else "none")
    return got


CASES = [
    ('[status] == 200', {"a"}),
    ('[status] != 200', {"b", "c", "d", "e"}),     # null-safe neq: null != 200 is true
    ('[status] > 400', {"b", "c"}),
    ('[status] <= 301', {"a", "e"}),
    ('[role] in ["tool", "assistant"]', {"b", "c", "e"}),
    ('"msg=" in [text]', {"b", "c"}),              # substring containment
    ('[role] not in ["user"]', {"b", "c", "e"}),
    ('[text] =~ /^msg=/', {"b", "c"}),
    ('[text] !~ /^msg=/', {"a", "d"}),             # null text never matches either way
    ('[status] == 200 or [role] == "tool"', {"a", "c"}),
    ('[status] == 200 and [role] == "user"', {"a"}),
    ('[status] == 200 nand [role] == "user"', {"b", "c", "d", "e"}),
    ('[status] == 200 xor [role] == "user"', {"d"}),  # a: both true; d: only role
    ('!([status] == 200)', {"b", "c", "d", "e"}),
    ('[text]', {"a", "b", "c"}),                   # truthiness: "" and null false
]


@pytest.mark.parametrize("expr,expect_success", CASES,
                         ids=[c[0] for c in CASES])
def test_conditional_goldens(spark, events, expr, expect_success):
    got = _run_cond(spark, events, expr)
    success = {k for k, v in got.items() if v == "success"}
    assert success == expect_success, f"{expr}: {got}"
    # every row must land in exactly one branch
    assert all(v in ("success", "failure") for v in got.values())


def test_null_neq_semantics(spark, events):
    """!= is null-safe negation: null != 200 is TRUE (deterministic),
    mirroring Ruby-equality in EventCondition.java:376-412."""
    got = _run_cond(spark, events, '[status] != 200')
    assert got["d"] == "success"


def test_full_pipeline_parse_matches_handbuilt(spark):
    from logstash_spark.sources.transcripts import register_transcripts
    from logstash_spark.catalog import q_conditional, GROK_TPL

    sf = "/root/testdata/sf0.001"
    cfg = '''
    filter {
      grok { match => { "text" => "%s" } }
      if [status] >= 400 and "msg=" in [text] {
        mutate { add_tag => ["failure"] }
      } else if [role] in ["tool", "assistant"] {
        mutate { add_tag => ["machine"] }
      } else {
        mutate { add_tag => ["human"] }
      }
    }
    ''' % GROK_TPL.replace("%", "%%").replace("%%{", "%{")
    pipe = compile_lscl(cfg)
    t = register_transcripts(spark, sf)
    got = pipe(t).select(
        "conv_id", "turn_idx",
        F.array_join(F.array_sort("tags"), ",").alias("tags_str"))
    expected = q_conditional(spark, sf)
    assert got.exceptAll(expected).count() == 0
    assert expected.exceptAll(got).count() == 0


def test_mutate_gsub_convert_and_decorators(spark):
    df = spark.createDataFrame([("a=1", "X"), ("b=2", "Y")], "text string, k string")
    cfg = '''
    filter {
      mutate {
        gsub => ["text", "=", ":"]
        lowercase => ["k"]
        add_field => { "engine" => "spark" }
      }
    }
    '''
    out = compile_lscl(cfg)(df).collect()
    assert [r["text"] for r in out] == ["a:1", "b:2"]
    assert [r["k"] for r in out] == ["x", "y"]
    assert all(r["engine"] == "spark" for r in out)


_NUM_GROK = 'grok { match => { "text" => "num=%{INT:num:int}" } '


@pytest.mark.parametrize("cfg, failure_tag", [
    ('filter { ' + _NUM_GROK + 'add_tag => ["parsed"] } }',
     "_grokparsefailure"),
    # a configured tag_on_failure is what marks this grok's failure
    ('filter { ' + _NUM_GROK + 'tag_on_failure => "_custom" '
     'add_tag => ["parsed"] } }', "_custom"),
    # an earlier grok's failure tag on "num=5" is not this grok's failure
    ('filter { grok { match => { "text" => "^garbage$" } } '
     + _NUM_GROK + 'add_tag => ["parsed"] } }', "_grokparsefailure"),
], ids=["default_tag", "custom_tag", "earlier_failure"])
def test_grok_decorator_only_on_success(spark, cfg, failure_tag):
    df = spark.createDataFrame([("num=5",), ("garbage",)], "text string")
    out = {r["text"]: (r["tags"] or []) for r in compile_lscl(cfg)(df).collect()}
    assert "parsed" in out["num=5"]
    assert "parsed" not in out["garbage"]
    assert failure_tag in out["garbage"]


def test_tag_on_failure_array_form(spark):
    """tag_on_failure is an :array option: every listed tag is added on
    failure, for grok and for jdbc_static/lookup misses."""
    df = spark.createDataFrame([("num=5", "sql"), ("garbage", "vim")],
                               "text string, tool string")
    dim = spark.createDataFrame([("sql", "data")], "tool string, cat string")
    cfg = ('filter { ' + _NUM_GROK + 'tag_on_failure => ["_a", "_b"] '
           'add_tag => ["parsed"] } '
           'jdbc_static { source => "tool" fetch => { "cat" => "cat" } '
           'tag_on_failure => ["_miss"] } }')
    out = {r["text"]: r["tags"]
           for r in compile_lscl(cfg, {"lookup_dim": dim})(df).collect()}
    assert out["num=5"] == ["parsed"]
    assert out["garbage"] == ["_a", "_b", "_miss"]


@pytest.mark.parametrize("plugin, attrs, hit, failure_tag", [
    ("dns", 'resolve => ["host"]', "h.example", "_dnsfailure"),
    ("geoip", 'source => "host"', "10.0.0.1", "_geoip_lookup_failure"),
])
def test_lookup_decorators_only_on_hit(spark, plugin, attrs, hit,
                                       failure_tag):
    """dns/geoip tag a miss with their failure tag; the miss is not the
    plugin's success, so its add_tag does not fire there."""
    from logstash_spark.operators.enrich import cidr_blocks_df

    df = spark.createDataFrame([("a", hit), ("b", "192.168.0.1")],
                               "id string, host string")
    ctx = {"dns_records": spark.createDataFrame(
               [("h.example", "10.0.0.1")], "name string, address string"),
           "geoip_blocks": cidr_blocks_df(spark, [("10.0.0.0/8", "US", "nyc")])}
    cfg = f'filter {{ {plugin} {{ {attrs} add_tag => ["hit"] }} }}'
    out = {r.id: r.tags for r in compile_lscl(cfg, ctx)(df).collect()}
    assert out == {"a": ["hit"], "b": [failure_tag]}


def test_drop_inside_if_changes_cardinality(spark):
    df = spark.createDataFrame([("keep", 1), ("toss", 9)], "id string, v int")
    cfg = 'filter { if [v] > 5 { drop { } } }'
    out = compile_lscl(cfg)(df)
    assert [r["id"] for r in out.collect()] == ["keep"]


def test_nested_if(spark):
    df = spark.createDataFrame(
        [("a", 1, "x"), ("b", 9, "x"), ("c", 9, "y")], "id string, v int, g string")
    cfg = '''
    filter {
      if [v] > 5 {
        if [g] == "y" { mutate { add_tag => ["big_y"] } }
        else { mutate { add_tag => ["big_x"] } }
      }
    }
    '''
    got = {r["id"]: (r["tags"] or []) for r in compile_lscl(cfg)(df).collect()}
    assert got["a"] == []
    assert got["b"] == ["big_x"]
    assert got["c"] == ["big_y"]


def test_unsupported_plugin_and_sections_raise(spark):
    with pytest.raises(SyntaxError, match="unsupported filter plugin"):
        compile_lscl('filter { frobnicate { x => 1 } }')
    with pytest.raises(SyntaxError, match="compile_lscl_job"):
        compile_lscl('input { stdin {} } filter { }')


def test_date_and_translate_roundtrip(spark):
    df = spark.createDataFrame(
        [("2026-01-02 03:04:05", "search"), ("bogus", "unknown_tool")],
        "raw string, tool string")
    cfg = '''
    filter {
      date { match => ["raw", "yyyy-MM-dd HH:mm:ss"] target => "parsed" }
      translate {
        source => "tool"
        dictionary => { "search" => "retrieval" }
        target => "cat"
        fallback => "other"
      }
    }
    '''
    out = {r["tool"]: r for r in compile_lscl(cfg)(df).collect()}
    assert str(out["search"]["parsed"]) == "2026-01-02 03:04:05"
    assert out["unknown_tool"]["parsed"] is None
    assert "_dateparsefailure" in out["unknown_tool"]["tags"]
    assert out["search"]["cat"] == "retrieval"
    assert out["unknown_tool"]["cat"] == "other"


APACHE_CFG = r"""
input {
  stdin { }
}

filter {
  grok {
    match => {
      "message" => '%{IPORHOST:clientip} %{USER:ident} %{USER:auth} \[%{HTTPDATE:timestamp}\] "%{WORD:verb} %{DATA:request} HTTP/%{NUMBER:httpversion}" %{NUMBER:response:int} (?:-|%{NUMBER:bytes:int}) %{QS:referrer} %{QS:agent}'
    }
  }

  date {
    match => [ "timestamp", "dd/MMM/YYYY:HH:mm:ss Z" ]
    locale => en
  }

  geoip {
    source => "clientip"
  }

  useragent {
    source => "agent"
    target => "useragent"
  }
}

output {
  stdout { codec => dots }
}
"""


def test_full_apache_cfg_end_to_end(spark, tmp_path):
    """The reference's own benchmark config (tools/benchmark-cli/.../cases/
    apache.cfg:1-29) compiles and runs end-to-end: input+filter+output."""
    from pyspark.sql import Row
    from logstash_spark.plans.lscl import compile_lscl_job
    from logstash_spark.operators.enrich import cidr_blocks_df

    lines = [
        '83.149.9.216 - frank [17/May/2015:10:05:03 +0000] "GET /presentations/kibana HTTP/1.1" 200 171717 "-" "Mozilla/5.0 (X11; Linux x86_64; rv:121.0) Gecko/20100101 Firefox/121.0"',
        '10.0.0.7 - - [17/May/2015:10:05:43 +0000] "GET /style2.css HTTP/1.1" 200 4877 "http://example.com/" "curl/8.4.0"',
        'not an apache line at all',
    ]
    stdin_df = spark.createDataFrame([Row(message=m) for m in lines])
    blocks = cidr_blocks_df(spark, [("83.149.0.0/16", "RU", "moscow"),
                                    ("10.0.0.0/8", "US", "new-york")])
    job = compile_lscl_job(APACHE_CFG, context={"geoip_blocks": blocks})
    out = {r.message: r for r in job.run(spark, stdin_df=stdin_df).collect()}

    r0 = out[lines[0]]
    assert r0.clientip == "83.149.9.216"
    assert r0.verb == "GET" and r0.response == 200 and r0.bytes == 171717
    assert str(r0["@timestamp"]) == "2015-05-17 10:05:03"
    assert r0.geo_country == "RU" and r0.geo_city == "moscow"
    assert r0.useragent_name == "Firefox"
    r1 = out[lines[1]]
    assert r1.auth is None or r1.auth == "-"
    assert r1.geo_country == "US"
    bad = out[lines[2]]
    assert "_grokparsefailure" in bad.tags
    assert "_dateparsefailure" in bad.tags


def test_lscl_job_generator_to_file(spark, tmp_path):
    """generator input -> mutate -> file output (json_lines) round-trips."""
    from logstash_spark.plans.lscl import compile_lscl_job

    path = str(tmp_path / "out")
    cfg = """
    input { generator { message => "status=200 ok" count => 5 } }
    filter { mutate { uppercase => ["message"] } }
    output { file { path => "%s" codec => "json_lines" } }
    """ % path
    job = compile_lscl_job(cfg)
    out = job.run(spark)
    assert out.count() == 5
    back = spark.read.json(path)
    assert back.count() == 5
    assert back.select("message").distinct().collect()[0][0] == "STATUS=200 OK"
    seqs = sorted(r.sequence for r in back.select("sequence").collect())
    assert seqs == [0, 1, 2, 3, 4]


def test_lscl_output_conditional_routing(spark, tmp_path):
    from logstash_spark.plans.lscl import compile_lscl_job
    from pyspark.sql import Row

    ok_path = str(tmp_path / "ok")
    bad_path = str(tmp_path / "bad")
    cfg = """
    input { stdin { } }
    filter { grok { match => { "message" => "status=%%{INT:status:int}" } } }
    output {
      if [status] >= 400 { file { path => "%s" codec => "json_lines" } }
      else { file { path => "%s" codec => "json_lines" } }
    }
    """ % (bad_path, ok_path)
    rows = [Row(message=f"status={s}") for s in (200, 500, 302, 404)]
    job = compile_lscl_job(cfg)
    job.run(spark, stdin_df=spark.createDataFrame(rows))
    bad = spark.read.json(bad_path)
    ok = spark.read.json(ok_path)
    assert sorted(r.status for r in bad.collect()) == [404, 500]
    assert sorted(r.status for r in ok.collect()) == [200, 302]


def test_pipelines_with_identical_config_both_fan_in(spark):
    """Bus senders are keyed by pipeline.id: two pipelines built from the
    same config text must not replace each other's registration."""
    from logstash_spark.plans.pipelines_yml import load_pipelines_yml

    sender = ('"input { generator { count => 3 } } '
              'output { pipeline { send_to => [\\"fan\\"] } }"')
    yml = f"""
- pipeline.id: down
  config.string: "input {{ pipeline {{ address => \\"fan\\" }} }} output {{ null {{}} }}"
- pipeline.id: s1
  config.string: {sender}
- pipeline.id: s2
  config.string: {sender}
"""
    out = load_pipelines_yml(yml).run(spark)
    assert out["down"].count() == 6


@pytest.mark.parametrize("outputs", [
    's3 { bucket => "b" prefix => "out/" } s3 { bucket => "b" prefix => "out" }',
    's3 { bucket => "b" prefix => "out/" } '
    'if [x] { s3 { bucket => "b" prefix => "out/" codec => "line" } }',
], ids=["top-level", "nested"])
def test_duplicate_s3_output_target_rejected(outputs):
    """Two s3 outputs on one bucket+prefix would overwrite each other's
    epoch_id=N directories; the config must not compile."""
    from logstash_spark.plans.lscl import compile_lscl_job

    with pytest.raises(SyntaxError, match="two s3 outputs"):
        compile_lscl_job("input { stdin {} } output { %s }" % outputs)
    # distinct prefixes on the same bucket stay legal
    compile_lscl_job('input { stdin {} } output { s3 { bucket => "b" '
                     'prefix => "a/" } s3 { bucket => "b" prefix => "c/" } }')


def test_lscl_decorators_sprintf(spark):
    """LSCL add_tag/add_field template key and value per event
    (decorators.rb:28-43)."""
    from pyspark.sql import Row
    from logstash_spark.plans.lscl import compile_lscl

    cfg = '''
    filter {
      mutate {
        uppercase => ["role"]
        add_tag => ["seen_%{role}"]
        add_field => { "mark_%{role}" => "turn=%{turn_idx}" }
      }
    }
    '''
    df = spark.createDataFrame([Row(role="user", turn_idx=1),
                                Row(role="tool", turn_idx=2)])
    out = {r.turn_idx: r for r in compile_lscl(cfg)(df).collect()}
    assert "seen_USER" in out[1].tags      # decorators run after the mutate
    assert out[1].fields == {"mark_USER": "turn=1"}
    assert out[2].fields == {"mark_TOOL": "turn=2"}


def test_in_type_dispatch(spark):
    """`in` dispatches on the rhs field's schema type at compile time
    (EventCondition.java:293-357 builds membership vs substring vs equality
    from the operand class): array -> membership, string -> substring,
    other scalar -> equality."""
    from pyspark.sql import Row

    df = spark.createDataFrame([
        Row(id="a", tags0=["x", "y"], text="prefix-needle-suffix", n=7),
        Row(id="b", tags0=["z"], text="nothing here", n=8),
    ])

    def run(expr):
        cfg = ('filter { if %s { mutate { add_tag => ["hit"] } } }' % expr)
        out = compile_lscl(cfg)(df)
        return {r.id for r in out.collect() if "hit" in (r.tags or [])}

    # array rhs: membership, NOT substring ("x" is a substring of nothing)
    assert run('"x" in [tags0]') == {"a"}
    assert run('"q" not in [tags0]') == {"a", "b"}
    # string rhs: substring containment
    assert run('"needle" in [text]') == {"a"}
    # non-string scalar rhs: equality
    assert run('7 in [n]') == {"a"}
    # rhs literal list: membership (unchanged)
    assert run('[id] in ["b", "c"]') == {"b"}


def test_examples_compile(spark):
    """Every shipped example config must parse and validate."""
    import glob
    import os

    from logstash_spark.plans.lscl import compile_lscl_job

    root = os.path.join(os.path.dirname(__file__), "..", "examples")
    confs = sorted(glob.glob(os.path.join(root, "*.conf")))
    assert len(confs) >= 4
    for f in confs:
        job = compile_lscl_job(open(f).read())
        assert job.inputs and job.outputs, f

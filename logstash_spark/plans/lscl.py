"""LSCL (Logstash config language) subset -> Pipeline compiler.

Reference: the Treetop PEG grammar (logstash-core/lib/logstash/config/
grammar.treetop:28-246 — `if/else if/else` 138-148, `in` 187, `not in` 191,
`=~ !~` 227, `and/or/xor/nand` 232), compiled imperatively by
LogStash::Compiler (logstash-core/lib/logstash/compiler.rb:23) and
org.logstash.config.ir.ConfigCompiler.java:87-105.  Conditional semantics
per EventCondition.java:110-141 are delegated to functions/conditions.py.

This module lets a user paste the `filter { ... }` section of an existing
Logstash pipeline and get back our Pipeline (plans/pipeline.py) compiling
to a DataFrame DAG:

    pipe = compile_lscl(config_text)
    out = pipe(df)

Supported plugins: one table per section — ``_FILTERS``, ``_INPUTS`` and
``_OUTPUTS`` below map each plugin name to its builder and flags, and the
supported-name lists in error messages are derived from them.  Filters
take full conditional expressions (`if / else if / else`, nesting) and the
common-decorator attrs add_tag/remove_tag/add_field/remove_field, applied
under the plugin's success predicate (filters/base.rb:195-226).
`compile_lscl` compiles a filter-only config; `compile_lscl_job` compiles
a COMPLETE config onto sources/ and sinks/: batch execution via
`LsclJob.run`, and `LsclJob.run_stream` runs the same config as ONE
Structured Streaming query (foreachBatch output delivery, checkpointed).

Scale note: the compiler output is exactly the hand-built Pipeline — same
branch/union shapes, same Column reuse — so everything Catalyst does for
hand-written pipelines (scan reuse, CSE, whole-stage codegen) applies to
parsed configs identically.
"""

from __future__ import annotations

import functools
import hashlib
import json
import os
import re
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from logstash_spark.functions import conditions as C
from logstash_spark.functions import fieldref
from logstash_spark.functions.decorators import (add_field_sprintf,
                                                 add_tag_sprintf,
                                                 remove_field, remove_tag,
                                                 strip_metadata)
from logstash_spark.operators import (codecs, community, date, dissect,
                                      enrich, grok, lookup, misc, mutate,
                                      parsers, windows)
from logstash_spark.plans.keystore import load_keystore
from logstash_spark.plans.pipeline import If, Pipeline, Stage
from logstash_spark.sources import batch_inputs, connectors

# ---------------------------------------------------------------------------
# lexer
# ---------------------------------------------------------------------------

_TOKEN_RE = re.compile(r"""
    (?P<ws>\s+|\#[^\n]*)
  | (?P<string>"(?:[^"\\]|\\.)*"|'(?:[^'\\]|\\.)*')
  | (?P<number>-?\d+(?:\.\d+)?)
  | (?P<op>==|!=|<=|>=|=~|!~|=>|<|>|!|\{|\}|\(|\)|\[|\]|,)
  | (?P<word>[A-Za-z_][A-Za-z0-9_.-]*)
""", re.VERBOSE)

_KEYWORDS = {"if", "else", "and", "or", "not", "nand", "xor", "in", "true", "false"}


@dataclass
class Tok:
    kind: str   # string|number|op|word
    text: str
    pos: int


def tokenize(src: str) -> list[Tok]:
    toks, i = [], 0
    while i < len(src):
        m = _TOKEN_RE.match(src, i)
        if not m:
            # a bare regex literal /.../ — only valid right after =~ / !~
            if src[i] == "/":
                j = i + 1
                while j < len(src) and (src[j] != "/" or src[j - 1] == "\\"):
                    j += 1
                if j < len(src):
                    toks.append(Tok("regex", src[i + 1:j], i))
                    i = j + 1
                    continue
            raise SyntaxError(f"LSCL: cannot tokenize at {i}: {src[i:i+20]!r}")
        i = m.end()
        kind = m.lastgroup
        if kind == "ws":
            continue
        text = m.group()
        if kind == "string":
            text = text[1:-1].replace('\\"', '"').replace("\\'", "'")
        toks.append(Tok(kind, text, m.start()))
    return toks


# ---------------------------------------------------------------------------
# AST
# ---------------------------------------------------------------------------

@dataclass
class PluginNode:
    name: str
    attrs: dict


@dataclass
class IfNode:
    branches: list          # [(expr_ast, [nodes])]
    else_nodes: list | None


# expression AST: ("field", [parts]) ("lit", v) ("list", [v]) ("regex", s)
#                 ("bin", op, l, r) ("not", e)


class Parser:
    def __init__(self, toks: list[Tok]):
        self.toks = toks
        self.i = 0

    def peek(self, k: int = 0) -> Tok | None:
        return self.toks[self.i + k] if self.i + k < len(self.toks) else None

    def next(self) -> Tok:
        t = self.peek()
        if t is None:
            raise SyntaxError("LSCL: unexpected end of config")
        self.i += 1
        return t

    def expect(self, text: str) -> Tok:
        t = self.next()
        if t.text != text:
            raise SyntaxError(f"LSCL: expected {text!r}, got {t.text!r} at {t.pos}")
        return t

    # -- config structure --------------------------------------------------

    def parse_config(self) -> dict[str, list]:
        sections: dict[str, list] = {}
        while self.peek():
            name = self.next()
            if name.text not in ("input", "filter", "output"):
                raise SyntaxError(f"LSCL: unknown section {name.text!r}")
            self.expect("{")
            sections.setdefault(name.text, []).extend(self.parse_items())
        return sections

    def parse_items(self) -> list:
        items = []
        while True:
            t = self.peek()
            if t is None:
                raise SyntaxError("LSCL: unterminated block")
            if t.text == "}":
                self.next()
                return items
            if t.text == "if":
                items.append(self.parse_if())
            else:
                items.append(self.parse_plugin())

    def parse_if(self) -> IfNode:
        self.expect("if")
        cond = self.parse_expr()
        self.expect("{")
        body = self.parse_items()
        branches = [(cond, body)]
        else_nodes = None
        while self.peek() and self.peek().text == "else":
            self.next()
            if self.peek() and self.peek().text == "if":
                self.next()
                c2 = self.parse_expr()
                self.expect("{")
                branches.append((c2, self.parse_items()))
            else:
                self.expect("{")
                else_nodes = self.parse_items()
                break
        return IfNode(branches, else_nodes)

    def parse_plugin(self) -> PluginNode:
        name = self.next()
        if name.kind != "word":
            raise SyntaxError(f"LSCL: expected plugin name, got {name.text!r}")
        self.expect("{")
        attrs = {}
        while self.peek() and self.peek().text != "}":
            key = self.next().text
            self.expect("=>")
            attrs[key] = self.parse_value()
        self.expect("}")
        return PluginNode(name.text, attrs)

    # -- attribute values --------------------------------------------------

    def parse_value(self):
        t = self.peek()
        if t.text == "[":
            return self.parse_array()
        if t.text == "{":
            return self.parse_hash()
        t = self.next()
        if t.kind == "number":
            return float(t.text) if "." in t.text else int(t.text)
        if t.kind == "word" and t.text in ("true", "false"):
            return t.text == "true"
        return t.text

    def parse_array(self) -> list:
        self.expect("[")
        vals = []
        while self.peek() and self.peek().text != "]":
            vals.append(self.parse_value())
            if self.peek() and self.peek().text == ",":
                self.next()
        self.expect("]")
        return vals

    def parse_hash(self) -> dict:
        self.expect("{")
        h = {}
        while self.peek() and self.peek().text != "}":
            k = self.parse_value()
            self.expect("=>")
            h[k] = self.parse_value()
        self.expect("}")
        return h

    # -- conditional expressions (grammar.treetop:138-232) -----------------

    def parse_expr(self):
        left = self.parse_and()
        while self.peek() and self.peek().text in ("or", "nand", "xor"):
            op = self.next().text
            left = ("bin", op, left, self.parse_and())
        return left

    def parse_and(self):
        left = self.parse_unary()
        while self.peek() and self.peek().text == "and":
            self.next()
            left = ("bin", "and", left, self.parse_unary())
        return left

    def parse_unary(self):
        t = self.peek()
        if t.text in ("!", "not"):
            self.next()
            return ("not", self.parse_unary())
        return self.parse_comparison()

    def parse_comparison(self):
        left = self.parse_primary()
        t = self.peek()
        if t is None:
            return left
        if t.text in ("==", "!=", "<", "<=", ">", ">=", "=~", "!~", "in"):
            op = self.next().text
            return ("bin", op, left, self.parse_primary())
        if t.text == "not" and self.peek(1) and self.peek(1).text == "in":
            self.next(); self.next()
            return ("bin", "not in", left, self.parse_primary())
        return left

    def parse_primary(self):
        t = self.peek()
        if t.text == "(":
            self.next()
            e = self.parse_expr()
            self.expect(")")
            return e
        if t.text == "[":
            # field ref [a][b]... vs list literal: field refs are bareword
            # parts; anything quoted/numeric/comma-separated is a list
            if (self.peek(1) and self.peek(1).kind == "word"
                    and self.peek(2) and self.peek(2).text == "]"):
                parts = []
                while self.peek() and self.peek().text == "[":
                    self.next()
                    parts.append(self.next().text)
                    self.expect("]")
                return ("field", parts)
            return ("list", self.parse_array())
        t = self.next()
        if t.kind == "regex":
            return ("regex", t.text)
        if t.kind == "number":
            return ("lit", float(t.text) if "." in t.text else int(t.text))
        if t.kind == "string":
            return ("lit", t.text)
        if t.text in ("true", "false"):
            return ("lit", t.text == "true")
        raise SyntaxError(f"LSCL: unexpected {t.text!r} in expression at {t.pos}")


# ---------------------------------------------------------------------------
# ${VAR} / ${VAR:default} expansion (reference ConfigVariableExpander.java;
# CompiledPipeline.java:301-335; docs/reference/environment-variables.md)
# ---------------------------------------------------------------------------

# name chars per the reference's substitution pattern; default may be any
# run of non-} chars (including empty: ${VAR:} -> "")
_ENV_VAR_RE = re.compile(r"\$\{(\w+)(?::([^}]*))?\}")
_ENV_ESCAPE = "\x00lscl_dollar\x00"


def expand_env_str(s: str, env: dict) -> str:
    """Expand every ``${VAR}`` / ``${VAR:default}`` in one string.

    ``$${...}`` escapes to a literal ``${...}``.  An unset variable with no
    default is a compile-time error, matching the reference's
    "Cannot evaluate `${VAR}`" failure (a config that silently keeps the
    raw placeholder would corrupt downstream hosts/paths/keys)."""
    s = s.replace("$${", _ENV_ESCAPE)

    def sub(m):
        name, default = m.group(1), m.group(2)
        if name in env:
            return str(env[name])
        if default is not None:
            return default
        raise SyntaxError(
            f"LSCL: cannot evaluate ${{{name}}} — variable not set and no "
            f"default given (use ${{{name}:default}} or pass "
            f"context={{'env': {{...}}}})")

    return _ENV_VAR_RE.sub(sub, s).replace(_ENV_ESCAPE, "${")


def expand_env_value(v, env: dict):
    """Recursive expansion over an attribute value (str/list/hash)."""
    if isinstance(v, str):
        return expand_env_str(v, env)
    if isinstance(v, list):
        return [expand_env_value(x, env) for x in v]
    if isinstance(v, dict):
        return {expand_env_str(k, env) if isinstance(k, str) else k:
                expand_env_value(x, env) for k, x in v.items()}
    return v


def _env_snapshot(context: dict | None) -> dict:
    """Driver-side snapshot of the substitution sources, lowest precedence
    first: os.environ, then the reference-format keystore named by
    ``context['keystore']`` (a path; secrets beat environment variables —
    ConfigVariableExpander.java consults the secret store before the
    environment), then an explicit ``context['env']`` map (a direct
    caller override always wins).  Snapshotting on the driver is the
    cluster-safe shape (same as the environment filter): expanded values
    become plain literals in the plan, so executors never consult their
    own environments or keystores."""
    env = dict(os.environ)
    ctx = context or {}
    if ctx.get("keystore"):
        env.update(load_keystore(ctx["keystore"],
                                 password=ctx.get("keystore_password")))
    env.update(ctx.get("env") or {})
    return env


def expand_sections(sections: dict[str, list],
                    context: dict | None = None) -> dict[str, list]:
    """Expand ${VAR} in every plugin's attrs across all sections, in place
    (conditional EXPRESSIONS are not expanded — the reference substitutes
    in plugin config values only)."""
    env = _env_snapshot(context)
    for nodes in sections.values():
        for n in walk_plugins(nodes):
            n.attrs = expand_env_value(n.attrs, env)
    return sections


def walk_plugins(nodes):
    """Every PluginNode in ``nodes``, including those nested in conditionals."""
    for n in nodes:
        if isinstance(n, PluginNode):
            yield n
        elif isinstance(n, IfNode):
            for _cond, body in n.branches:
                yield from walk_plugins(body)
            if n.else_nodes:
                yield from walk_plugins(n.else_nodes)


# ---------------------------------------------------------------------------
# expression compiler (EventCondition.java semantics via functions/conditions)
# ---------------------------------------------------------------------------

def field_col(parts: list[str]) -> Column:
    """[a][b][0] path -> Column via the shared fieldref resolver (list
    indexing + negative indices, Accessors.java:152-187)."""
    return fieldref.field_col(None, "".join(f"[{p}]" for p in parts))


def compile_expr(ast, df=None) -> Column:
    kind = ast[0]
    if kind == "field":
        return C.truthy(field_col(ast[1]))
    if kind == "lit":
        return F.lit(ast[1])
    if kind == "not":
        return ~compile_expr(ast[1], df)
    if kind == "bin":
        _, op, l, r = ast
        if op in ("and", "or", "nand", "xor"):
            lc = _as_bool(l, df)
            rc = _as_bool(r, df)
            return {"and": lc & rc, "or": lc | rc,
                    "nand": C.nand(lc, rc), "xor": C.xor(lc, rc)}[op]
        lv = _operand(l)
        if op in ("=~", "!~"):
            pat = r[1] if r[0] in ("regex", "lit") else None
            if pat is None:
                raise SyntaxError("LSCL: =~ needs a regex or string pattern")
            return C.regex_match(lv, pat) if op == "=~" else C.regex_not_match(lv, pat)
        if op in ("==", "!=", "<", "<=", ">", ">="):
            rv = _operand(r)
            return {"==": C.eq(lv, rv), "!=": C.neq(lv, rv),
                    "<": lv < rv, "<=": lv <= rv,
                    ">": lv > rv, ">=": lv >= rv}[op]
        if op == "in":
            return _compile_in(l, r, df)
        if op == "not in":
            return ~_compile_in(l, r, df)
    raise SyntaxError(f"LSCL: cannot compile expression node {ast!r}")


def _as_bool(ast, df=None) -> Column:
    """Sub-expressions of boolean ops: bare fields use truthiness."""
    return compile_expr(ast, df)


def _operand(ast) -> Column:
    if ast[0] == "field":
        return field_col(ast[1])
    if ast[0] == "lit":
        return F.lit(ast[1])
    if ast[0] == "list":
        return F.array(*[F.lit(v) for v in ast[1]])
    raise SyntaxError(f"LSCL: bad operand {ast!r}")


def _compile_in(l, r, df=None) -> Column:
    """Polymorphic `in` (EventCondition.java:293-357): rhs list ->
    membership; rhs field -> dispatch on the field's compile-time schema
    type (array -> membership, string -> substring, other scalar ->
    equality — the reference dispatches the same way at condition-compile
    time on operand class); rhs string literal -> substring."""
    lv = _operand(l)
    if r[0] == "list":
        return C.in_(lv, r[1])
    if r[0] == "field" and df is not None:
        ref = "".join(f"[{p}]" for p in r[1])
        dtype = fieldref.field_dtype(df.schema, ref)
        rv = _operand(r)
        if isinstance(dtype, T.ArrayType):
            return C.in_array(lv, rv)
        if dtype is not None and not isinstance(dtype, T.StringType):
            return C.eq(rv, lv)
        return C.contains(rv, lv)
    return C.contains(_operand(r), lv)


# ---------------------------------------------------------------------------
# filter section: one table, name -> _Filter
# ---------------------------------------------------------------------------

def _as_list(v) -> list:
    return v if isinstance(v, list) else [v]


def _groups(v: list, n: int) -> list[tuple]:
    """Flat LSCL array -> n-tuples (mutate gsub, alter, range)."""
    return [tuple(v[i:i + n]) for i in range(0, len(v), n)]


def _pair(v) -> tuple:
    """The one ``key => value`` of a single-entry hash (or a 2-array)."""
    (k, x), = v.items() if isinstance(v, dict) else [tuple(v)]
    return k, x


def _prefix(a: dict, default: str) -> str:
    return f"{a['target']}_" if a.get("target") else default


def _ctx(context: dict, key: str, hint: str):
    """A session resource the config references by name (context=...)."""
    if context.get(key) is None:
        raise SyntaxError(f"LSCL: {hint}")
    return context[key]


def _sprintf_field(v: str, attr: str) -> str:
    """Plugin attrs like task_id/key take a `%{field}` sprintf; we support
    the single-field form (the overwhelmingly common shape) as a grouping
    key — composite keys need a precomputed column."""
    m = re.fullmatch(r"%\{([^}]+)\}", str(v))
    if m:
        return m.group(1)
    raise SyntaxError(
        f"LSCL: {attr} must be a single-field sprintf like %{{conv_id}} "
        f"(got {v!r}); precompute composite keys into one column")


def _grok(df, a, ctx):
    src, tpl = _pair(a["match"])
    return grok.grok(df, src, tpl, tag_on_failure=a["tag_on_failure"])


def _mutate(df, a, ctx):
    kw = {k: a[k] for k in ("coerce", "rename", "update", "replace",
                            "convert", "uppercase", "capitalize", "lowercase",
                            "strip", "split", "join", "merge", "copy")
          if k in a}
    if "convert" in kw:   # LSCL type names -> Spark type names
        kw["convert"] = {f: {"integer": "int", "float": "double"}.get(t, t)
                         for f, t in kw["convert"].items()}
    if "gsub" in a:
        kw["gsub"] = _groups(a["gsub"], 3)
    return mutate.mutate(df, **kw)


def _kv(df, a, ctx):
    kw = {k: a[k] for k in ("field_split", "value_split", "include_keys",
                            "exclude_keys", "prefix", "trim_key",
                            "trim_value", "transform_key", "transform_value")
          if k in a}
    return parsers.kv(df, a.get("source", "message"), **kw)


def _translate(df, a, ctx):
    d = a.get("dictionary")
    if d is None:
        d = misc.load_dictionary_path(a["dictionary_path"])
    return misc.translate(df, a.get("source", a.get("field")), d,
                          a.get("target", "translation"),
                          fallback=a.get("fallback"),
                          exact=not a.get("regex", False))


def _dns(df, a, ctx):
    records = _ctx(ctx, "dns_records",
                   "dns needs context={'dns_records': <DataFrame of (name, "
                   "address)>} — a resolver snapshot; per-event DNS RPC is "
                   "deliberately not offered (SURVEY §2.3)")
    src = a.get("resolve", a.get("reverse", a.get("source")))
    if isinstance(src, list):
        src = src[0]
    if str(src).startswith("%{"):
        src = _sprintf_field(src, "dns.resolve")
    return enrich.dns_filter(df, src, records,
                             action=a.get("action", "replace"),
                             reverse="reverse" in a,
                             tag_on_failure=a["tag_on_failure"])


def _lookup(df, a, ctx):
    dim = _ctx(ctx, "lookup_dim",
               "jdbc_static/lookup needs context={'lookup_dim': <dim "
               "DataFrame>} (the cached local_db_object analog)")
    return lookup.lookup(df, a["source"], dim, a.get("key", a["source"]),
                         fetch=a.get("fetch", {}),
                         defaults=a.get("defaults", {}),
                         tag_on_miss=a["tag_on_failure"])


def _alter(df, a, ctx):
    kw = {}
    if "condrewrite" in a:
        kw["condrewrite"] = _groups(a["condrewrite"], 3)
    if "condrewriteother" in a:
        kw["condrewriteother"] = _groups(a["condrewriteother"], 4)
    if "coalesce" in a:
        c = a["coalesce"]
        kw["coalesce"] = {c[0]: list(c[1:])} if isinstance(c, list) else c
    return community.alter(df, **kw)


def _throttle(df, a, ctx):
    # logstash-filter-throttle (meta:211): after_count semantics,
    # key = %{field}, period in seconds; tags `throttled` excess
    key = _sprintf_field(a["key"], "throttle.key")
    order_by = a.get("order_by")
    return windows.throttle(df, a.get("timestamp_field", "ts"), [key],
                            f'{int(a.get("period", 3600))} seconds',
                            max_count=int(a.get("after_count", 1)),
                            order_cols=_as_list(order_by) if order_by else None)


def _elapsed(df, a, ctx):
    # logstash-filter-elapsed: start/end tagged events correlated by
    # unique_id_field within timeout; emits the match events (the plugin's
    # new_event_on_match=true shape).  id_fields: extra start-event
    # identity columns (an implicit ["turn_idx"] default broke user
    # configs on frames without that test-dataset column)
    key = a["unique_id_field"]
    if str(key).startswith("%{"):
        key = _sprintf_field(key, "elapsed.unique_id_field")
    return windows.elapsed_join(
        df, key, a.get("timestamp_field", "ts"),
        start_pred=F.array_contains("tags", a["start_tag"]),
        end_pred=F.array_contains("tags", a["end_tag"]),
        max_lag=f'interval {int(a.get("timeout", 1800))} seconds',
        id_cols=_as_list(a.get("id_fields", [])))


def _metrics(df, a, ctx):
    # logstash-filter-metrics (meta:181): meter -> windowed counts + rate;
    # timer -> count/min/max/mean/stddev + percentiles.  flush_interval
    # (default 5s in the reference's processing-time model) becomes the
    # event-time window size.
    secs = int(a.get("flush_interval", 3600))
    ts_col = a.get("timestamp_field", "ts")
    if "timer" in a:
        tname, tfield = _pair(a["timer"])
        if str(tfield).startswith("%{"):
            tfield = _sprintf_field(tfield, "metrics.timer")
        out = windows.metrics_timer(
            df, ts_col, [], tfield, size=f"{secs} seconds",
            percentiles=tuple(p / 100 for p in a.get("percentiles",
                                                     [50, 90, 95, 99])))
        return out.withColumn("metric_name", F.lit(tname))
    key = _sprintf_field(_as_list(a["meter"])[0], "metrics.meter")
    out = windows.tumbling_rollup(df, ts_col, f"{secs} seconds", [key],
                                  [F.count(F.lit(1)).alias("count")])
    return out.withColumn("rate_per_sec", F.col("count") / F.lit(secs))


def _aggregate(df, a, ctx):
    # logstash-filter-aggregate, timeout/push-map mode: sessionize by
    # task_id with the standard summary aggs.  The `code` attr is
    # arbitrary Ruby — rejected with the escape hatch pointer.
    if "code" in a:
        raise SyntaxError(
            "LSCL: aggregate.code is arbitrary Ruby; express the "
            "aggregation with operators/windows.session_rollup aggs=... in "
            "Python, or operators/custom.batch_filter (the Arrow-batch ruby "
            "analog)")
    key = _sprintf_field(a["task_id"], "aggregate.task_id")
    return windows.session_rollup(df, a.get("timeout_timestamp_field", "ts"),
                                  key, f'{int(a.get("timeout", 1800))} seconds')


@dataclass(frozen=True)
class _Filter:
    """One filter plugin: ``build(df, attrs, context) -> df`` plus the
    flags the compiler reads.  ``row_local``: keeps cardinality and the
    rest of the schema, so the plugin may run in the fused (single-select)
    If path — drop/clone/split change row counts, prune/de_dot rewrite the
    whole schema and would eat the fused path's snapshot columns.
    ``failure_tag``: the default ``tag_on_failure``; the plugin's tags on
    failure gate its decorators.  ``stream_twin``: the plugin's batch plan
    (ranking window, time-bounded join, un-watermarked session groupBy) is
    not legal in a streaming plan; run_stream names this twin instead."""
    build: Callable[[DataFrame, dict, dict], DataFrame]
    row_local: bool = True
    failure_tag: str | None = None
    stream_twin: str | None = None


_FILTERS: dict[str, _Filter] = {
    "grok": _Filter(_grok, failure_tag="_grokparsefailure"),
    "dissect": _Filter(
        lambda df, a, ctx: dissect.dissect(
            df, *_pair(a["mapping"]), tag_on_failure=a["tag_on_failure"]),
        failure_tag="_dissectfailure"),
    "mutate": _Filter(_mutate),
    "date": _Filter(
        lambda df, a, ctx: date.date(
            df, a["match"][0], a["match"][1:],
            target=a.get("target", "@timestamp"),
            timezone=a.get("timezone"), tag_on_failure=a["tag_on_failure"]),
        failure_tag="_dateparsefailure"),
    "kv": _Filter(_kv),
    "csv": _Filter(lambda df, a, ctx: parsers.csv_filter(
        df, a.get("source", "message"), a["columns"],
        separator=a.get("separator", ","))),
    "json": _Filter(
        lambda df, a, ctx: parsers.json_filter(
            df, a.get("source", "message"),
            a.get("schema", "map<string,string>"), target=a.get("target"),
            tag_on_failure=a["tag_on_failure"]),
        failure_tag="_jsonparsefailure"),
    "xml": _Filter(
        lambda df, a, ctx: parsers.xml_filter(
            df, a.get("source", "message"), a["schema"],
            target=a.get("target", "xml"), tag_on_failure=a["tag_on_failure"]),
        failure_tag="_xmlparsefailure"),
    "yaml": _Filter(
        lambda df, a, ctx: parsers.yaml_filter(
            df, a.get("source", "message"), a["schema"],
            target=a.get("target"), flat=bool(a.get("flat", False)),
            tag_on_failure=a["tag_on_failure"]),
        failure_tag="_yamlparsefailure"),
    "fingerprint": _Filter(lambda df, a, ctx: misc.fingerprint(
        df, _as_list(a.get("source", ["message"])),
        target=a.get("target", "fingerprint"),
        method=a.get("method", "SHA256").upper())),
    "uuid": _Filter(lambda df, a, ctx: misc.uuid_filter(
        df, target=a.get("target", "uuid"),
        overwrite=a.get("overwrite", False))),
    "anonymize": _Filter(lambda df, a, ctx: misc.anonymize(
        df, _as_list(a["fields"]), key=a.get("key", "secret"))),
    "translate": _Filter(_translate),
    "prune": _Filter(lambda df, a, ctx: misc.prune(
        df, whitelist=a.get("whitelist_names"),
        blacklist=a.get("blacklist_names")), row_local=False),
    "de_dot": _Filter(lambda df, a, ctx: misc.de_dot(
        df, separator=a.get("separator", "_")), row_local=False),
    "truncate": _Filter(lambda df, a, ctx: misc.truncate(
        df, _as_list(a["fields"]), a["length_bytes"])),
    "urldecode": _Filter(lambda df, a, ctx: misc.urldecode(
        df, a.get("field", "message"))),
    "syslog_pri": _Filter(lambda df, a, ctx: misc.syslog_pri(
        df, a.get("syslog_pri_field_name", "syslog_pri"))),
    "cidr": _Filter(lambda df, a, ctx: misc.cidr(
        df, a.get("address", a.get("source")), a["network"])),
    # inside an if-branch a bare drop{} cancels everything there
    "drop": _Filter(lambda df, a, ctx: misc.drop(
        df, F.lit(True), percentage=a.get("percentage", 100),
        sample_col=F.xxhash64(*df.columns)), row_local=False),
    "clone": _Filter(lambda df, a, ctx: misc.clone(df, a["clones"]),
                     row_local=False),
    "split": _Filter(lambda df, a, ctx: misc.split_field(
        df, a["field"], a.get("terminator", "\n")), row_local=False),
    "useragent": _Filter(lambda df, a, ctx: enrich.useragent(
        df, a.get("source", "message"), target_prefix=_prefix(a, "ua_"))),
    "geoip": _Filter(
        lambda df, a, ctx: enrich.geoip(
            df, a.get("source", "message"),
            _ctx(ctx, "geoip_blocks",
                 "geoip needs context={'geoip_blocks': <blocks DataFrame>} "
                 "(cidr network/country/city columns — see "
                 "operators/enrich.cidr_blocks_df)"),
            tag_on_miss=a["tag_on_failure"]),
        failure_tag="_geoip_lookup_failure"),
    "dns": _Filter(_dns, failure_tag="_dnsfailure"),
    "jdbc_static": _Filter(_lookup, failure_tag="_lookup_miss"),
    "lookup": _Filter(_lookup, failure_tag="_lookup_miss"),
    # community set (operators/community.py)
    "bytes": _Filter(
        lambda df, a, ctx: community.bytes_filter(
            df, a.get("source", "message"),
            target=a.get("target", "bytes_value"),
            conversion_method=a.get("conversion_method", "binary"),
            tag_on_failure=a["tag_on_failure"]),
        failure_tag="_bytesparsefailure"),
    "cipher": _Filter(lambda df, a, ctx: community.cipher(
        df, a["source"], a["target"], a["key"], mode=a.get("mode", "encrypt"),
        algorithm=a.get("algorithm", "GCM"), iv=a.get("iv"))),
    "environment": _Filter(lambda df, a, ctx: community.environment(
        df, a["add_metadata_from_env"])),
    "extractnumbers": _Filter(lambda df, a, ctx: community.extractnumbers(
        df, a.get("source", "message"))),
    "json_encode": _Filter(lambda df, a, ctx: community.json_encode(
        df, a["source"], target=a.get("target", "json"))),
    "metricize": _Filter(lambda df, a, ctx: community.metricize(
        df, _as_list(a["metrics"])), row_local=False),
    "tld": _Filter(lambda df, a, ctx: community.tld(
        df, a.get("source", "message"), target_prefix=_prefix(a, "tld_"))),
    "age": _Filter(lambda df, a, ctx: community.age(
        df, target=a.get("target", "age"),
        ts_col=a.get("source", "@timestamp"))),
    "alter": _Filter(_alter),
    "range": _Filter(lambda df, a, ctx: community.range_filter(
        df, _groups(a["ranges"], 4), negate=a.get("negate", False)),
        row_local=False),
    # stateful plugins (operators/windows.py) — plugin-shaped attrs
    "throttle": _Filter(_throttle, row_local=False,
                        stream_twin="streaming/stateful.throttle_stream"),
    "elapsed": _Filter(_elapsed, row_local=False,
                       stream_twin="streaming/jobs.elapsed_stream_join"),
    "aggregate": _Filter(
        _aggregate, row_local=False,
        stream_twin="streaming/jobs.session_rollup_stream (or "
                    "streaming/stateful.aggregate_stateful_stream)"),
    "metrics": _Filter(_metrics, row_local=False,
                       stream_twin="streaming/jobs.rollup_stream"),
}

_FAIL_N = "__lscl_fail_n"  # the row's failure-tag count before the plugin


def _count_tags(df: DataFrame, tags: list[str]) -> Column:
    if "tags" not in df.columns:
        return F.lit(0)
    return F.size(F.filter(F.coalesce("tags", F.array().cast("array<string>")),
                           lambda t: t.isin(tags)))


def compile_plugin(node: PluginNode, context: dict | None = None) -> Stage:
    """One plugin instance -> a Stage.  Decorator attrs (filters/base.rb:
    195-226) are applied under the plugin's success predicate: this
    application added none of its ``tag_on_failure`` tags.

    ``context`` supplies session-level resources a config references by
    name: ``geoip_blocks`` (DataFrame of CIDR blocks, the MaxMind-table
    analog — the reference ships a database file, we take a DataFrame).
    """
    context = context or {}
    spec = _FILTERS.get(node.name)
    if spec is None:
        raise SyntaxError(
            f"LSCL: unsupported filter plugin {node.name!r} (supported: "
            f"{', '.join(sorted(_FILTERS))}); per-event code such as ruby{{}} "
            "belongs in operators/custom.batch_filter (the Arrow-batch escape "
            "hatch: pandas in, pandas out, 1->N rows) from Python")
    a = dict(node.attrs)
    add_tags = _as_list(a.pop("add_tag", []))
    remove_tags = _as_list(a.pop("remove_tag", []))
    add_fields = a.pop("add_field", {})
    remove_fields = _as_list(a.pop("remove_field", []))
    failure_tags = []
    if spec.failure_tag:   # an :array option; every listed tag is added
        failure_tags = a["tag_on_failure"] = _as_list(
            a.get("tag_on_failure", spec.failure_tag))

    def op(df: DataFrame) -> DataFrame:
        return spec.build(df, a, context)

    if not (add_tags or remove_tags or add_fields or remove_fields):
        return Stage(op, node.name, row_local=spec.row_local)

    def op_with_decorators(df: DataFrame) -> DataFrame:
        success = None
        if failure_tags:
            # a failure tag an earlier plugin left on the row is not this
            # plugin's failure: compare the counts around this application
            df = df.withColumn(_FAIL_N, _count_tags(df, failure_tags))
        out = op(df)
        if failure_tags:
            success = _count_tags(out, failure_tags) == F.col(_FAIL_N)
        # add_tag/add_field sprintf both key and value per event
        # (decorators.rb:28-43)
        for t in add_tags:
            out = add_tag_sprintf(out, t, when=success)
        for t in remove_tags:
            out = remove_tag(out, t, when=success)
        for fname, val in add_fields.items():
            out = add_field_sprintf(out, fname, str(val), when=success)
        if remove_fields:
            out = remove_field(out, *remove_fields)
        return out.drop(_FAIL_N) if failure_tags else out

    return Stage(op_with_decorators, node.name, row_local=spec.row_local)


def compile_items(nodes: list, context: dict | None = None) -> list:
    return [compile_plugin(n, context) if isinstance(n, PluginNode)
            else _compile_if(n, context) for n in nodes]


def _compile_if(node: IfNode, context: dict | None = None) -> If:
    """if / else if / else -> nested If (SplitDataset + lazy Complement
    shape, CompiledPipeline.java:564-586)."""
    def build(branches, else_nodes):
        (expr, body), *rest = branches
        otherwise = (build(rest, else_nodes) if rest
                     else (compile_items(else_nodes, context) if else_nodes else []))
        cond = expr  # close over AST; compile per-DataFrame call
        return If(lambda df, _c=cond: compile_expr(_c, df),
                  then=compile_items(body, context),
                  otherwise=otherwise if isinstance(otherwise, list) else [otherwise])
    return build(node.branches, node.else_nodes)


def compile_lscl(config_text: str, context: dict | None = None) -> Pipeline:
    """Parse LSCL text; return a Pipeline for its filter section.

    Rejects configs with input/output sections — use compile_lscl_job for a
    complete three-section config.
    """
    sections = Parser(tokenize(config_text)).parse_config()
    if "input" in sections or "output" in sections:
        unsupported = [s for s in ("input", "output") if s in sections]
        raise SyntaxError(
            f"LSCL: {unsupported} present — compile_lscl handles the filter "
            f"section only; use compile_lscl_job(text, ...) to run a complete "
            f"config (inputs: {', '.join(sorted(_INPUTS))}; outputs: "
            f"{', '.join(sorted(_OUTPUTS))})")
    expand_sections(sections, context)
    return Pipeline(compile_items(sections.get("filter", []), context))


# ---------------------------------------------------------------------------
# full-config jobs: input/output sections (SURVEY.md §2.4-2.5)
# ---------------------------------------------------------------------------

def _union(dfs: list[DataFrame]) -> DataFrame:
    """Several inputs union (the reference merges input queues); schemas
    may differ, and the event model treats absent fields as null."""
    if not dfs:
        raise SyntaxError("LSCL: config has no input section")
    return functools.reduce(
        lambda x, y: x.unionByName(y, allowMissingColumns=True), dfs)


class PipelineBus:
    """Pipeline-to-pipeline analog (reference PipelineBus.java:56-66,
    `output { pipeline { send_to } }` / `input { pipeline { address } }`).

    The reference moves serialized events between in-process pipelines over
    named virtual addresses with blocking sends.  The Spark-native shape is
    LOGICAL PLAN COMPOSITION: `send` registers the upstream DataFrame under
    the address, `listen` hands that DataFrame to the downstream pipeline —
    so the downstream plan embeds the upstream plan and Catalyst optimizes
    across the pipeline boundary (filter pushdown through both configs, one
    scan).  Nothing is materialized unless the caller persists the
    intermediate; `ensure_delivery` has no analog because plan composition
    cannot drop events.  Pass one bus instance via `context={"bus": bus}`
    to every job that should share addresses (default: a process-global
    bus, matching the reference's per-agent registry)."""

    def __init__(self):
        # address -> {sender key -> DataFrame}: multiple pipelines can
        # fan into one address (PipelineBus.java keeps a sender SET per
        # address and the listener drains them all); keying by sender
        # keeps re-sends from the SAME pipeline idempotent (a reload
        # replaces its own registration) while distinct senders union.
        self._addresses: dict[str, dict[object, DataFrame]] = {}

    def send(self, address: str, df: DataFrame, sender: object = None) -> None:
        self._addresses.setdefault(address, {})[sender] = df

    def listen(self, address: str) -> DataFrame:
        if address not in self._addresses:
            raise SyntaxError(
                f"LSCL: pipeline input address {address!r} has no upstream — "
                f"run the sending job first (registered: "
                f"{sorted(self._addresses) or 'none'})")
        return _union(list(self._addresses[address].values()))


_DEFAULT_BUS = PipelineBus()


# -- input section: name -> _Input ------------------------------------------

def _stdin(job, spark, a, stdin_df):
    if stdin_df is None:
        raise SyntaxError(
            "LSCL: stdin{} input — pass stdin_df=<DataFrame with a "
            "'message' column> to source()/run()")
    return stdin_df


def _generator(job, spark, a, stdin_df):
    # reference in-core generator (Generator.java:49-87): emit `message`
    # `count` times with a sequence number
    count = int(a.get("count", 1) or 1)
    msgs = _as_list(a.get("lines") or a.get("message", "Hello world!"))
    arr = F.array(*[F.lit(m) for m in msgs])
    return (spark.range(count * len(msgs))
            .select((F.col("id") / len(msgs)).cast("long").alias("sequence"),
                    F.element_at(arr, (F.col("id") % len(msgs)).cast("int") + 1)
                    .alias("message")))


def _file(job, spark, a, stdin_df):
    paths, codec = _as_list(a["path"]), a.get("codec", "line")
    if codec in ("line", "plain"):
        # NB: list passed as ONE arg — *splat would bind the second path
        # to the reader's wholetext/schema positional
        return spark.read.text(paths).withColumnRenamed("value", "message")
    if codec in ("json_lines", "json"):
        return spark.read.json(paths)
    if codec == "parquet":
        return spark.read.parquet(*paths)
    if codec == "multiline":
        return _file_multiline(spark, paths, a)
    raise SyntaxError(f"LSCL: unsupported file input codec {codec!r}")


def _file_stream(job, spark, a, stdin_df):
    """File-source streams; the schema comes from a static read of the same
    path, so the config needs no schema block (the reference's file input
    sniffs the first lines the same way).  Streaming file readers are
    single-path: one stream per path, unioned (the reference's multi-path
    file input compiles to one watcher per glob)."""
    paths, codec = _as_list(a["path"]), a.get("codec", "line")
    if codec in ("line", "plain"):
        parts = [spark.readStream.text(p).withColumnRenamed("value", "message")
                 for p in paths]
    elif codec in ("json_lines", "json"):
        schema = a.get("schema") or spark.read.json(paths).schema
        parts = [spark.readStream.schema(schema).json(p) for p in paths]
    elif codec == "parquet":
        schema = a.get("schema") or spark.read.parquet(*paths).schema
        parts = [spark.readStream.schema(schema).parquet(p) for p in paths]
    else:
        raise SyntaxError(f"LSCL: unsupported streaming file codec {codec!r}")
    return functools.reduce(DataFrame.unionByName, parts)


def _kafka(job, spark, a, stdin_df):
    # jar-gated: kafka_source raises NotImplementedError with the exact
    # --packages submit flag when the datasource is absent
    topics = a.get("topics", a.get("topic"))
    if isinstance(topics, list):
        topics = ",".join(topics)
    return connectors.kafka_source(
        spark, a["bootstrap_servers"], topics,
        codec=a.get("codec", "json_lines"), schema=a.get("schema"),
        starting_offsets=a.get("auto_offset_reset", "latest"),
        max_offsets_per_trigger=a.get("max_poll_records"))


def _elasticsearch(job, spark, a, stdin_df):
    # meta:269 logstash-input-elasticsearch: query+scroll+size
    query = a.get("query")
    if isinstance(query, str):
        query = json.loads(query)
    if not a.get("hosts"):
        raise SyntaxError(
            "LSCL: elasticsearch input requires hosts => [\"host:port\", ...]")
    return batch_inputs.elasticsearch_source(
        spark, a["hosts"], a.get("index", "logstash-*"), query=query,
        size=int(a.get("size", 1000)), scroll=a.get("scroll", "1m"),
        schema=a.get("schema"))


def _redis(job, spark, a, stdin_df):
    # meta:366 logstash-input-redis, data_type=list drain
    if a.get("data_type", "list") != "list":
        raise SyntaxError(
            "LSCL: redis data_type=channel is pub/sub — a stream; use the "
            "tcp bridging recipe (tests/test_bridges.py)")
    return batch_inputs.redis_source_batch(
        spark, a.get("host", "127.0.0.1"), int(a.get("port", 6379)),
        a["key"], batch_size=int(a.get("batch_count", 10000)),
        codec=a.get("codec", "line"), schema=a.get("schema"))


def _tcp(job, spark, a, stdin_df):
    return connectors.tcp_source(
        spark, a.get("host", "127.0.0.1"), int(a["port"]),
        codec=a.get("codec", "line"), schema=a.get("schema"))


def _syslog(job, spark, a, stdin_df):
    return connectors.syslog_source(spark, a.get("host", "127.0.0.1"),
                                    int(a["port"]))


def _s3(job, spark, a, stdin_df):
    # meta:370 logstash-input-s3: bucket+prefix listing, codec decode
    return batch_inputs.s3_source(spark, a["bucket"], a.get("prefix", ""),
                                  codec=a.get("codec", "line"),
                                  schema=a.get("schema"),
                                  scheme=a.get("scheme", "s3a"))


def _pipeline_in(job, spark, a, stdin_df):
    return job.bus.listen(a["address"])


def _poll_interval(a: dict) -> float:
    """http_poller cadence: ``interval => seconds`` or
    ``schedule => { every => "10s" }`` (s/m/h); 60 s by default."""
    interval = float(a.get("interval", 0) or 0)
    sched = a.get("schedule")
    if not interval and isinstance(sched, dict) and sched.get("every"):
        m = re.match(r"^(\d+(?:\.\d+)?)\s*(s|m|h)?$", str(sched["every"]))
        if not m:
            raise SyntaxError(
                f"LSCL: http_poller schedule.every {sched['every']!r} — use "
                f"e.g. \"10s\"/\"1m\"")
        interval = float(m.group(1)) * {"s": 1, "m": 60, "h": 3600}[m.group(2) or "s"]
    return interval or 60.0


@dataclass(frozen=True)
class _Input:
    """One input plugin: ``batch``/``stream`` build its DataFrame as
    ``(job, spark, attrs, stdin_df)``; a missing builder means the plugin
    has no form in that mode.  ``spool`` inputs are live listeners/pollers
    that spool events durably (sources/http_input.py); they exist only as
    streams and are the only inputs with a global arrival order."""
    batch: Callable | None = None
    stream: Callable | None = None
    spool: bool = False


_INPUTS: dict[str, _Input] = {
    "generator": _Input(batch=_generator),
    "file": _Input(_file, _file_stream),
    "stdin": _Input(_stdin, _stdin),   # stdin_df may be a streaming frame
    "kafka": _Input(_kafka, _kafka),
    "tcp": _Input(_tcp, _tcp),
    "syslog": _Input(_syslog, _syslog),
    "pipeline": _Input(_pipeline_in, _pipeline_in),
    "s3": _Input(batch=_s3),
    "elasticsearch": _Input(batch=_elasticsearch),
    "redis": _Input(batch=_redis),
    "http": _Input(spool=True),
    "udp": _Input(spool=True),
    "http_poller": _Input(spool=True),
    "beats": _Input(spool=True),
}


# -- output section: name -> _Output ----------------------------------------
# A writer is (job, df, attrs, epoch_id, run_token): epoch_id is None for a
# batch run and the foreachBatch id for a micro-batch frame.

def _discard(job, df, a, epoch_id, run_token):
    pass  # stdout/null: row-printing/discard sinks have no plan effect


def _pipeline_out(job, df, a, epoch_id, run_token):
    for addr in _as_list(a["send_to"]):
        job.bus.send(addr, df, sender=job._bus_identity)


def _file_out(job, df, a, epoch_id, run_token):
    # a micro-batch APPENDS: a batch run's overwrite would clobber the
    # earlier batches
    df, codec = strip_metadata(df), a.get("codec", "json_lines")
    if codec in ("line", "plain"):
        df = df.select(F.col(a.get("message_field", "message"))
                       .cast("string").alias("value"))
    writer = df.write.mode("overwrite" if epoch_id is None else "append")
    if codec == "json_lines":
        writer.json(a["path"])
    elif codec in ("line", "plain"):
        writer.text(a["path"])
    elif codec == "csv":
        writer.option("header", "true").csv(a["path"])
    elif codec == "parquet":
        writer.parquet(a["path"])
    else:
        raise SyntaxError(f"LSCL: unsupported file output codec {codec!r}")


def _elasticsearch_out(job, df, a, epoch_id, run_token):
    connectors.elasticsearch_sink(df, index=a.get("index", "logstash"),
                                  id_col=a["document_id"], path=a.get("path"),
                                  nodes=a.get("hosts"))


def _tcp_out(job, df, a, epoch_id, run_token):
    connectors.tcp_sink(strip_metadata(df), a["host"], a["port"],
                        message_col=a.get("message_field"))


def _s3_out(job, df, a, epoch_id, run_token):
    # logstash-output-s3: distributed write replaces temp-file rotation
    # (time_file/size_file have no analog — see s3_sink).  A micro-batch
    # gets one directory per epoch, written with overwrite: a retried
    # foreachBatch epoch (driver restart mid-commit) rewrites its OWN
    # epoch_id=N directory instead of appending duplicate objects —
    # epoch-idempotent, so the sink is exactly-once for readers that list
    # the whole prefix (same contract as sinks/exactly_once.py's batch_id
    # layout).  Earlier batches live in sibling directories.
    prefix = a.get("prefix", "")
    if epoch_id is not None:
        run_part = f"run={run_token}/" if run_token else ""
        epoch_part = f"{run_part}epoch_id={epoch_id}"
        prefix = f"{prefix.rstrip('/')}/{epoch_part}" if prefix else epoch_part
    connectors.s3_sink(
        df, a["bucket"], prefix, codec=a.get("codec", "json_lines"),
        scheme=a.get("scheme", "s3a"),
        compression="gzip" if a.get("encoding") == "gzip" else None,
        message_col=a.get("message_field"))


def _http_out(job, df, a, epoch_id, run_token):
    # logstash-output-http: json/json_batch/ndjson executor POSTs
    connectors.http_sink(strip_metadata(df), a["url"],
                         format=a.get("format", "json_batch"),
                         batch_size=int(a.get("batch_size", 50)),
                         content_type=a.get("content_type"),
                         retries=int(a.get("automatic_retries", 2)))


def _iceberg_out(job, df, a, epoch_id, run_token):
    # jar-gated: the north rule's table format — exactly-once MERGE on
    # merge_keys; raises the exact submit recipe without the jar
    keys = _as_list(a.get("merge_keys", a.get("document_id")))
    connectors.iceberg_merge_sink(a["table"], keys)(strip_metadata(df),
                                                    epoch_id or 0)


@dataclass(frozen=True)
class _Output:
    """One output plugin: its writer, and — for an output with no
    streaming form — what to use in streaming instead."""
    write: Callable
    stream_twin: str | None = None


_OUTPUTS: dict[str, _Output] = {
    "stdout": _Output(_discard),
    "null": _Output(_discard),
    "pipeline": _Output(
        _pipeline_out,
        stream_twin="a durable bus table (streaming/jobs.run_parse_to_bus) "
                    "instead of the in-plan bus"),
    "file": _Output(_file_out),
    "elasticsearch": _Output(_elasticsearch_out),
    "tcp": _Output(_tcp_out),
    "s3": _Output(_s3_out),
    "http": _Output(_http_out),
    "iceberg": _Output(_iceberg_out),
}


class LsclJob:
    """A complete compiled LSCL config: input -> filter Pipeline -> output.

    Reference analog: the agent's converge cycle builds one pipeline object
    from all three config sections (logstash-core/lib/logstash/agent.rb);
    here inputs become batch DataFrame reads (streaming variants live in
    streaming/jobs.py), the filter section is the same Pipeline that
    compile_lscl produces, and outputs are writes (file) or pass-throughs
    (stdout/null — row-printing sinks are driver concerns, not plans).

    Multiple inputs union (the reference merges input queues); `if` inside
    the output section routes rows per-sink via the same predicate compiler.
    """

    def __init__(self, sections: dict, context: dict | None = None,
                 pipeline_id: str | None = None):
        self.context = context or {}
        self.inputs = sections.get("input", [])
        self.outputs = sections.get("output", [])
        # live listeners/pollers started by source_stream (spool inputs);
        # callers stop them after the query terminates
        self.http_spools: list = []
        self._ordered = False  # set by run_stream(ordered=True)
        # bus sender identity: re-compiling the SAME pipeline replaces its
        # own registration (the reload contract) instead of unioning a
        # stale copy.  A pipelines.yml job is keyed by its pipeline.id, so
        # two pipelines with identical config text both fan in; a bare
        # config falls back to a deterministic digest of its AST
        self._bus_identity = (pipeline_id if pipeline_id is not None else
                              hashlib.md5(repr(sections).encode()).hexdigest())
        self.filter_nodes = sections.get("filter", [])
        self.pipeline = Pipeline(compile_items(self.filter_nodes, self.context))
        for n in self.inputs:
            if not isinstance(n, PluginNode) or n.name not in _INPUTS:
                raise SyntaxError(
                    f"LSCL: unsupported input {getattr(n, 'name', n)!r} "
                    f"(supported: {', '.join(sorted(_INPUTS))})")
        # each s3 output writes run=<token>/epoch_id=N under its prefix with
        # overwrite, so a second output on the same bucket+prefix would
        # silently replace the first one's epochs
        s3_targets = set()
        for n in walk_plugins(self.outputs):
            if n.name not in _OUTPUTS:
                raise SyntaxError(
                    f"LSCL: unsupported output {n.name!r} "
                    f"(supported: {', '.join(sorted(_OUTPUTS))})")
            if n.name != "s3":
                continue
            target = (n.attrs.get("bucket"),
                      n.attrs.get("prefix", "").rstrip("/"))
            if target in s3_targets:
                raise SyntaxError(
                    f"LSCL: two s3 outputs write bucket {target[0]!r} "
                    f"prefix {target[1]!r}; give each its own prefix")
            s3_targets.add(target)

    # -- input section ---------------------------------------------------------

    def source(self, spark, stdin_df: DataFrame | None = None) -> DataFrame:
        dfs = []
        for n in self.inputs:
            build = _INPUTS[n.name].batch
            if build is None:
                raise SyntaxError(
                    f"LSCL: {n.name}{{}} is a live listener/poller — a "
                    "stream; run this config with run_stream (batch has no "
                    "arrival semantics to replay)")
            dfs.append(build(self, spark, n.attrs, stdin_df))
        return _union(dfs)

    @property
    def bus(self) -> PipelineBus:
        return self.context.get("bus") or _DEFAULT_BUS

    # -- output section ---------------------------------------------------------

    def apply_outputs(self, df: DataFrame) -> DataFrame:
        for n in self.outputs:
            self._one_output_batch(df, n)
        return df

    def _one_output_batch(self, df: DataFrame, n,
                          epoch_id: int | None = None,
                          run_token: str | None = None) -> None:
        """Deliver ``df`` to one output node.  ``epoch_id`` is None for a
        batch run and the foreachBatch batch id for a micro-batch frame
        (a micro-batch frame IS a batch DataFrame, so the writers are
        shared); ``run_token`` scopes the s3 epoch directories."""
        if isinstance(n, IfNode):
            # conditional routing in the output section: filter per branch
            remaining = df
            for expr, body in n.branches:
                pred = compile_expr(expr, df)
                for inner in body:
                    self._one_output_batch(remaining.filter(pred), inner,
                                           epoch_id, run_token)
                remaining = remaining.filter(~F.coalesce(pred, F.lit(False)))
            for inner in (n.else_nodes or []):
                self._one_output_batch(remaining, inner, epoch_id, run_token)
            return
        _OUTPUTS[n.name].write(self, df, n.attrs, epoch_id, run_token)

    # -- end to end ---------------------------------------------------------------

    def run(self, spark, stdin_df: DataFrame | None = None) -> DataFrame:
        out = self.pipeline(self.source(spark, stdin_df))
        return self.apply_outputs(out)

    # -- streaming end to end ----------------------------------------------------

    def source_stream(self, spark, stdin_df: DataFrame | None = None) -> DataFrame:
        """Streaming variant of :meth:`source`.

        Each input's stream builder runs (stdin accepts a streaming
        DataFrame); an input with none is a bounded batch read and is
        rejected, since a batch frame cannot union with a stream.  Spool
        inputs start their listener here.  Multiple inputs union like the
        batch path.
        """
        dfs = []
        spool_dirs_seen: set[str] = set()
        for n in self.inputs:
            spec, a = _INPUTS[n.name], n.attrs
            if spec.spool:
                # http (meta:310) / udp (meta:404) listeners, the beats
                # lumberjack v2 listener (meta:248, spool-then-ack) and the
                # http_poller (meta:314) scheduled GETs all spool events;
                # the Python Data Source replays spool line-ranges as
                # offsets
                from logstash_spark.sources.beats_input import BeatsSpool
                from logstash_spark.sources.http_input import (
                    HttpEventSpool, HttpPollerSpool, UdpEventSpool,
                    http_webhook_stream)

                cls = {"http": HttpEventSpool, "udp": UdpEventSpool,
                       "beats": BeatsSpool,
                       "http_poller": HttpPollerSpool}[n.name]
                poller = cls is HttpPollerSpool
                if "spool_dir" not in a or poller and "urls" not in a:
                    raise SyntaxError(
                        f"LSCL: {n.name} input requires spool_dir => \"...\""
                        + (" and urls => {...}" if poller else "")
                        + " — the durable spool is what makes the stream "
                        "checkpoint/resumable")
                spool = (cls(a["spool_dir"], a["urls"],
                             interval=_poll_interval(a)) if poller
                         else cls(a["spool_dir"],
                                  host=a.get("host", "127.0.0.1"),
                                  port=int(a.get("port", 0))))
                self.http_spools.append(spool.start())
                # several listeners may share one spool (their events
                # interleave in arrival order); exactly ONE reader per
                # spool dir — a second stream over the same dir would
                # deliver every row twice
                if a["spool_dir"] not in spool_dirs_seen:
                    spool_dirs_seen.add(a["spool_dir"])
                    dfs.append(http_webhook_stream(
                        spark, a["spool_dir"],
                        prune_committed=bool(a.get("prune_committed", False)),
                        include_seq=self._ordered))
            elif spec.stream is None:
                raise SyntaxError(
                    f"LSCL: {n.name}{{}} is a bounded batch input; run this "
                    "config with run() (for a streaming load source use "
                    "spark.readStream.format('rate'))")
            else:
                dfs.append(spec.stream(self, spark, a, stdin_df))
        out = _union(dfs)
        if not out.isStreaming:
            raise SyntaxError(
                "LSCL: source_stream needs at least one streaming input "
                "(file/kafka/tcp/syslog, or a streaming stdin_df)")
        return out

    def run_stream(self, spark, checkpoint_dir: str,
                   stdin_df: DataFrame | None = None,
                   available_now: bool = True,
                   trigger_interval: str | None = None,
                   ordered: bool = False):
        """Run the full config as ONE Structured Streaming query.

        The output section is delivered per micro-batch through
        ``foreachBatch`` — the exact reference lifecycle (worker loop ->
        micro-batch; output stage -> per-batch delivery): file outputs
        APPEND (the batch path's overwrite would clobber earlier batches),
        es/tcp sinks reuse their batch writers on each micro-batch frame,
        stdout/null are no-ops, pipeline sends are rejected (a streaming
        bus hop is a durable intermediate table — streaming/jobs.py
        run_parse_to_bus / run_bus_to_sessions).  Returns the started
        StreamingQuery; checkpointing gives the usual kill/resume +
        exactly-once-per-sink-idempotency contract.
        """
        for n in walk_plugins(self.outputs):
            twin = _OUTPUTS[n.name].stream_twin
            if twin:
                raise SyntaxError(
                    f"LSCL: {n.name}{{}} output in streaming mode — use {twin}")
        for n in walk_plugins(self.filter_nodes):
            twin = _FILTERS[n.name].stream_twin
            if twin:
                raise SyntaxError(
                    f"LSCL: {n.name}{{}} uses a batch-only plan shape; in "
                    f"streaming compose {twin} around the stateless part of "
                    "this config")
        # pipeline.ordered analog (logstash.yml pipeline.ordered=true: one
        # worker, events keep input order end-to-end).  Arrival order is
        # only well-defined for the spool-backed push inputs, whose global
        # spool line index IS the arrival sequence — each micro-batch is
        # sorted by it into a single output partition before delivery, so
        # sinks observe strict arrival order.  Distributed scans
        # (file/kafka) have no global arrival order; the documented
        # contract there stays sink-side sorting on event time.
        self._ordered = ordered
        if ordered:
            bad = [n.name for n in self.inputs if not _INPUTS[n.name].spool]
            if bad:
                spoolable = "/".join(k for k, v in _INPUTS.items() if v.spool)
                raise SyntaxError(
                    f"LSCL: ordered=True needs spool-backed inputs "
                    f"({spoolable}); {bad} have no global arrival order — "
                    "sort at the sink on event time instead (SURVEY "
                    "ordered-execution contract)")
            dirs = {n.attrs.get("spool_dir") for n in self.inputs}
            if len(dirs) > 1:
                raise SyntaxError(
                    "LSCL: ordered=True with multiple spool_dirs — each "
                    "spool numbers arrivals independently, so their union "
                    "has no single arrival order; point every listener at "
                    "ONE spool_dir (they interleave there in true arrival "
                    "order)")
        out = self.pipeline(self.source_stream(spark, stdin_df))

        # s3 epoch directories are scoped by a digest of the checkpoint
        # path: epoch ids are only unique WITHIN one checkpoint, so a new
        # logical stream (fresh checkpoint) restarting at epoch 0 must not
        # overwrite a previous run's epoch_id=0 objects — while a driver
        # restart RESUMING the same checkpoint keeps the same token and
        # its retried epochs overwrite their own directories (idempotent).
        run_token = hashlib.md5(
            os.path.abspath(checkpoint_dir).encode()).hexdigest()[:8]

        def deliver(batch_df, batch_id):
            if ordered:
                if "__seq" not in batch_df.columns:
                    raise ValueError(
                        "ordered=True but a filter dropped __seq — keep "
                        "the arrival-sequence column out of prune/"
                        "remove_field lists")
                batch_df = (batch_df.coalesce(1)
                            .sortWithinPartitions("__seq").drop("__seq"))
            for n in self.outputs:
                self._one_output_batch(batch_df, n, epoch_id=batch_id,
                                       run_token=run_token)

        w = (out.writeStream.outputMode("append")
             .option("checkpointLocation", checkpoint_dir)
             .foreachBatch(deliver))
        if available_now:
            w = w.trigger(availableNow=True)
        elif trigger_interval:
            w = w.trigger(processingTime=trigger_interval)
        return w.start()


def _file_multiline(spark, paths: list[str], a: dict) -> DataFrame:
    """file input with the multiline codec: fold continuation lines into
    events PER FILE in true line order.

    Line order in a distributed text scan: each scan partition covers a
    contiguous byte range of one file (`_metadata.file_block_start`) and
    `monotonically_increasing_id` is increasing within a partition — so
    (file_path, block_start, mono_id) reconstructs the file's global line
    order even when one file splits into several input partitions.  The
    fold itself is operators/codecs.multiline_assemble keyed by file
    (one shuffle on file_path — files assemble independently, which is
    exactly the reference file-input x multiline-codec contract: each
    watched file carries its own codec instance).
    """
    lines = spark.read.text(paths).select(
        F.col("value").alias("message"),
        F.col("_metadata.file_path").alias("path"),
        F.col("_metadata.file_block_start").alias("__blk"),
        F.monotonically_increasing_id().alias("__mid"))
    w = Window.partitionBy("path").orderBy("__blk", "__mid")
    lines = lines.withColumn("__line_no", F.row_number().over(w))
    out = codecs.multiline_assemble(
        lines, "message", "path", "__line_no",
        pattern=a["pattern"], negate=bool(a.get("negate", False)),
        what=a.get("what", "previous"))
    return out.withColumnRenamed("first___line_no", "first_line_no")


def compile_lscl_job(config_text: str, context: dict | None = None) -> LsclJob:
    """Compile a COMPLETE config (input+filter+output) into an LsclJob."""
    sections = expand_sections(
        Parser(tokenize(config_text)).parse_config(), context)
    return LsclJob(sections, context)

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

Supported subset: the filter-section plugins implemented in
logstash_spark.operators — grok, dissect, mutate, date, kv, csv, json,
xml, yaml, fingerprint, uuid, anonymize, translate (+dictionary_path),
prune, de_dot, truncate, urldecode, syslog_pri, cidr, drop, clone, split,
useragent, geoip, dns, jdbc_static/lookup (context-passed snapshots), the
stateful set throttle/elapsed/aggregate/metrics (plugin-shaped attrs onto
operators/windows.py; batch plans — run_stream rejects them with their
streaming twins), and the community set bytes, cipher, environment,
extractnumbers, json_encode, metricize, tld, age, alter, range — with
full conditional expressions (`if / else if / else`, nesting) and the
common-decorator attrs add_tag/remove_tag/add_field/remove_field applied
under the plugin's success predicate (filters/base.rb:195-226).  `ruby`
is rejected at compile time with the Arrow-batch escape-hatch pointer.  `compile_lscl`
compiles a filter-only config; `compile_lscl_job` compiles a COMPLETE
config — inputs generator/file/stdin plus the stream inputs kafka (jar-
gated)/tcp/syslog and the p2p `pipeline{address}`; outputs stdout/file/
null/elasticsearch/tcp, `pipeline{send_to}` (PipelineBus plan composition)
and the jar-gated iceberg MERGE sink — onto sources/ and sinks/.  Batch
execution via `LsclJob.run`; `LsclJob.run_stream` runs the same config as
ONE Structured Streaming query (foreachBatch output delivery, checkpointed).

Scale note: the compiler output is exactly the hand-built Pipeline — same
branch/union shapes, same Column reuse — so everything Catalyst does for
hand-written pipelines (scan reuse, CSE, whole-stage codegen) applies to
parsed configs identically.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from logstash_spark.functions import conditions as C
from logstash_spark.plans.pipeline import If, Pipeline, Stage

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
    import os

    env = dict(os.environ)
    ctx = context or {}
    if ctx.get("keystore"):
        from logstash_spark.plans.keystore import load_keystore

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
    from logstash_spark.functions.fieldref import field_col as _fc

    return _fc(None, "".join(f"[{p}]" for p in parts))


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
        from pyspark.sql import types as T

        from logstash_spark.functions.fieldref import field_dtype

        ref = "".join(f"[{p}]" for p in r[1])
        dtype = field_dtype(df.schema, ref)
        rv = _operand(r)
        if isinstance(dtype, T.ArrayType):
            return C.in_array(lv, rv)
        if dtype is not None and not isinstance(dtype, T.StringType):
            return C.eq(rv, lv)
        return C.contains(rv, lv)
    return C.contains(_operand(r), lv)


# ---------------------------------------------------------------------------
# plugin compiler
# ---------------------------------------------------------------------------

_FAILURE_TAG = {
    "grok": "_grokparsefailure",
    "dissect": "_dissectfailure",
    "date": "_dateparsefailure",
    "json": "_jsonparsefailure",
    "xml": "_xmlparsefailure",
    "yaml": "_yamlparsefailure",
    "bytes": "_bytesparsefailure",
}


def _gsub_triplets(v: list) -> list[tuple[str, str, str]]:
    return [tuple(v[i:i + 3]) for i in range(0, len(v), 3)]


_SUPPORTED_PLUGINS = frozenset({
    "grok", "dissect", "mutate", "date", "kv", "csv", "json", "xml", "yaml",
    "fingerprint", "uuid", "anonymize", "translate", "prune", "de_dot",
    "truncate", "urldecode", "syslog_pri", "cidr", "drop", "clone",
    "split", "useragent", "geoip", "dns", "jdbc_static", "lookup",
    # community set (operators/community.py)
    "bytes", "cipher", "environment", "extractnumbers", "json_encode",
    "metricize", "tld", "age", "alter", "range",
    # stateful plugins (operators/windows.py) — plugin-shaped attrs
    "throttle", "elapsed", "aggregate", "metrics",
})


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


def compile_plugin(node: PluginNode, context: dict | None = None) -> Stage:
    """One plugin instance -> a Stage.  Decorator attrs (filters/base.rb:
    195-226) are applied under the plugin's success predicate.

    ``context`` supplies session-level resources a config references by
    name: ``geoip_blocks`` (DataFrame of CIDR blocks, the MaxMind-table
    analog — the reference ships a database file, we take a DataFrame).
    """
    context = context or {}
    if node.name == "ruby":
        raise SyntaxError(
            "LSCL: ruby { code => ... } is arbitrary per-event Ruby; use "
            "operators/custom.batch_filter (the Arrow-batch escape hatch: "
            "pandas in, pandas out, 1->N rows) from Python")
    if node.name not in _SUPPORTED_PLUGINS:
        raise SyntaxError(
            f"LSCL: unsupported filter plugin {node.name!r} (supported: "
            f"{', '.join(sorted(_SUPPORTED_PLUGINS))})")
    a = dict(node.attrs)
    add_tags = a.pop("add_tag", [])
    remove_tags = a.pop("remove_tag", [])
    add_fields = a.pop("add_field", {})
    remove_fields = a.pop("remove_field", [])
    name = node.name

    def op(df: DataFrame) -> DataFrame:
        if name == "grok":
            match = a["match"]
            (src, tpl), = match.items() if isinstance(match, dict) else [tuple(match)]
            from logstash_spark.operators.grok import grok
            return grok(df, src, tpl,
                        tag_on_failure=a.get("tag_on_failure", "_grokparsefailure"))
        if name == "dissect":
            (src, mapping), = a["mapping"].items()
            from logstash_spark.operators.dissect import dissect
            return dissect(df, src, mapping)
        if name == "mutate":
            from logstash_spark.operators.mutate import mutate
            kw = {}
            for k in ("coerce", "rename", "update", "replace", "convert",
                      "uppercase", "capitalize", "lowercase", "strip",
                      "split", "join", "merge", "copy"):
                if k in a:
                    kw[k] = a[k]
            if "convert" in kw:   # LSCL type names -> Spark type names
                kw["convert"] = {f: {"integer": "int", "float": "double",
                                     "string": "string", "boolean": "boolean"}
                                 .get(t, t) for f, t in kw["convert"].items()}
            if "gsub" in a:
                kw["gsub"] = _gsub_triplets(a["gsub"])
            return mutate(df, **kw)
        if name == "date":
            m = a["match"]
            from logstash_spark.operators.date import date
            return date(df, m[0], m[1:], target=a.get("target", "@timestamp"),
                        timezone=a.get("timezone"))
        if name == "kv":
            from logstash_spark.operators.parsers import kv
            return kv(df, a.get("source", "message"),
                      field_split=a.get("field_split", " "),
                      value_split=a.get("value_split", "="),
                      include_keys=a.get("include_keys"),
                      exclude_keys=a.get("exclude_keys"),
                      prefix=a.get("prefix", ""),
                      trim_key=a.get("trim_key"),
                      trim_value=a.get("trim_value"),
                      transform_key=a.get("transform_key"),
                      transform_value=a.get("transform_value"))
        if name == "csv":
            from logstash_spark.operators.parsers import csv_filter
            return csv_filter(df, a.get("source", "message"), a["columns"],
                              separator=a.get("separator", ","))
        if name == "json":
            from logstash_spark.operators.parsers import json_filter
            return json_filter(df, a.get("source", "message"),
                               a.get("schema", "map<string,string>"),
                               target=a.get("target"))
        if name == "xml":
            from logstash_spark.operators.parsers import xml_filter
            return xml_filter(df, a.get("source", "message"), a["schema"],
                              target=a.get("target", "xml"))
        if name == "yaml":
            from logstash_spark.operators.parsers import yaml_filter
            return yaml_filter(df, a.get("source", "message"), a["schema"],
                               target=a.get("target"),
                               flat=bool(a.get("flat", False)))
        if name == "fingerprint":
            from logstash_spark.operators.misc import fingerprint
            srcs = a.get("source", ["message"])
            return fingerprint(df, srcs if isinstance(srcs, list) else [srcs],
                               target=a.get("target", "fingerprint"),
                               method=a.get("method", "SHA256").upper())
        if name == "uuid":
            from logstash_spark.operators.misc import uuid_filter
            return uuid_filter(df, target=a.get("target", "uuid"),
                               overwrite=a.get("overwrite", False))
        if name == "anonymize":
            from logstash_spark.operators.misc import anonymize
            flds = a["fields"]
            return anonymize(df, flds if isinstance(flds, list) else [flds],
                             key=a.get("key", "secret"))
        if name == "translate":
            from logstash_spark.operators.misc import (load_dictionary_path,
                                                       translate)
            d = a.get("dictionary")
            if d is None:
                d = load_dictionary_path(a["dictionary_path"])
            return translate(df, a.get("source", a.get("field")),
                             d,
                             a.get("target", "translation"),
                             fallback=a.get("fallback"),
                             exact=not a.get("regex", False))
        if name == "prune":
            from logstash_spark.operators.misc import prune
            return prune(df, whitelist=a.get("whitelist_names"),
                         blacklist=a.get("blacklist_names"))
        if name == "de_dot":
            from logstash_spark.operators.misc import de_dot
            return de_dot(df, separator=a.get("separator", "_"))
        if name == "truncate":
            from logstash_spark.operators.misc import truncate
            flds = a["fields"]
            return truncate(df, flds if isinstance(flds, list) else [flds],
                            a["length_bytes"])
        if name == "urldecode":
            from logstash_spark.operators.misc import urldecode
            return urldecode(df, a.get("field", "message"))
        if name == "syslog_pri":
            from logstash_spark.operators.misc import syslog_pri
            return syslog_pri(df, a.get("syslog_pri_field_name", "syslog_pri"))
        if name == "cidr":
            from logstash_spark.operators.misc import cidr
            return cidr(df, a.get("address", a.get("source")), a["network"])
        if name == "drop":
            from logstash_spark.operators.misc import drop
            # inside an if-branch a bare drop{} cancels everything here
            return drop(df, F.lit(True), percentage=a.get("percentage", 100),
                        sample_col=F.xxhash64(*df.columns))
        if name == "clone":
            from logstash_spark.operators.misc import clone
            return clone(df, a["clones"])
        if name == "split":
            from logstash_spark.operators.misc import split_field
            return split_field(df, a["field"], a.get("terminator", "\n"))
        if name == "useragent":
            from logstash_spark.operators.enrich import useragent
            prefix = a.get("target")
            return useragent(df, a.get("source", "message"),
                             target_prefix=f"{prefix}_" if prefix else "ua_")
        if name == "geoip":
            from logstash_spark.operators.enrich import geoip
            blocks = context.get("geoip_blocks")
            if blocks is None:
                raise SyntaxError(
                    "LSCL: geoip needs context={'geoip_blocks': <blocks DataFrame>} "
                    "(cidr network/country/city columns — see "
                    "operators/enrich.cidr_blocks_df)")
            return geoip(df, a.get("source", "message"), blocks)
        if name == "dns":
            from logstash_spark.operators.enrich import dns_filter
            records = context.get("dns_records")
            if records is None:
                raise SyntaxError(
                    "LSCL: dns needs context={'dns_records': <DataFrame of "
                    "(name, address)>} — a resolver snapshot; per-event DNS "
                    "RPC is deliberately not offered (SURVEY §2.3)")
            src = a.get("resolve", a.get("reverse", a.get("source")))
            if isinstance(src, list):
                src = src[0]
            if str(src).startswith("%{"):
                src = _sprintf_field(src, "dns.resolve")
            return dns_filter(df, src, records,
                              action=a.get("action", "replace"),
                              reverse="reverse" in a)
        if name == "jdbc_static" or name == "lookup":
            from logstash_spark.operators.lookup import lookup
            dim = context.get("lookup_dim")
            if dim is None:
                raise SyntaxError(
                    "LSCL: jdbc_static/lookup needs context={'lookup_dim': "
                    "<dim DataFrame>} (the cached local_db_object analog)")
            return lookup(df, a["source"], dim, a.get("key", a["source"]),
                          fetch=a.get("fetch", {}),
                          defaults=a.get("defaults", {}),
                          tag_on_miss=a.get("tag_on_failure", "_lookup_miss"))
        if name == "bytes":
            from logstash_spark.operators.community import bytes_filter
            return bytes_filter(df, a.get("source", "message"),
                                target=a.get("target", "bytes_value"),
                                conversion_method=a.get("conversion_method",
                                                        "binary"))
        if name == "cipher":
            from logstash_spark.operators.community import cipher
            return cipher(df, a["source"], a["target"], a["key"],
                          mode=a.get("mode", "encrypt"),
                          algorithm=a.get("algorithm", "GCM"),
                          iv=a.get("iv"))
        if name == "environment":
            from logstash_spark.operators.community import environment
            return environment(df, a["add_metadata_from_env"])
        if name == "extractnumbers":
            from logstash_spark.operators.community import extractnumbers
            return extractnumbers(df, a.get("source", "message"))
        if name == "json_encode":
            from logstash_spark.operators.community import json_encode
            return json_encode(df, a["source"],
                               target=a.get("target", "json"))
        if name == "metricize":
            from logstash_spark.operators.community import metricize
            m = a["metrics"]
            return metricize(df, m if isinstance(m, list) else [m])
        if name == "tld":
            from logstash_spark.operators.community import tld
            prefix = a.get("target")
            return tld(df, a.get("source", "message"),
                       target_prefix=f"{prefix}_" if prefix else "tld_")
        if name == "age":
            from logstash_spark.operators.community import age
            return age(df, target=a.get("target", "age"),
                       ts_col=a.get("source", "@timestamp"))
        if name == "alter":
            from logstash_spark.operators.community import alter
            kw = {}
            if "condrewrite" in a:
                c = a["condrewrite"]
                kw["condrewrite"] = [tuple(c[i:i + 3])
                                     for i in range(0, len(c), 3)]
            if "condrewriteother" in a:
                c = a["condrewriteother"]
                kw["condrewriteother"] = [tuple(c[i:i + 4])
                                          for i in range(0, len(c), 4)]
            if "coalesce" in a:
                c = a["coalesce"]
                kw["coalesce"] = ({c[0]: list(c[1:])} if isinstance(c, list)
                                  else c)
            return alter(df, **kw)
        if name == "range":
            from logstash_spark.operators.community import range_filter
            specs = []
            r = a["ranges"]
            for i in range(0, len(r), 4):
                f_, lo, hi, action = r[i:i + 4]
                specs.append((f_, lo, hi, action))
            return range_filter(df, specs, negate=a.get("negate", False))
        if name == "throttle":
            # logstash-filter-throttle (meta:211): after_count semantics,
            # key = %{field}, period in seconds; tags `throttled` excess
            from logstash_spark.operators.windows import throttle as _throttle
            key = _sprintf_field(a["key"], "throttle.key")
            period = f'{int(a.get("period", 3600))} seconds'
            order_by = a.get("order_by")
            if isinstance(order_by, str):
                order_by = [order_by]
            return _throttle(df, a.get("timestamp_field", "ts"), [key],
                             period, max_count=int(a.get("after_count", 1)),
                             order_cols=order_by)
        if name == "elapsed":
            # logstash-filter-elapsed: start/end tagged events correlated
            # by unique_id_field within timeout; emits the match events
            # (the plugin's new_event_on_match=true shape)
            from logstash_spark.operators.windows import elapsed_join
            key = a["unique_id_field"]
            if str(key).startswith("%{"):
                key = _sprintf_field(key, "elapsed.unique_id_field")
            timeout = int(a.get("timeout", 1800))
            # id_fields: extra start-event identity columns (ADVICE r3 —
            # the old implicit ["turn_idx"] default broke user configs on
            # frames without that test-dataset column)
            id_fields = a.get("id_fields", [])
            if isinstance(id_fields, str):
                id_fields = [id_fields]
            return elapsed_join(
                df, key, a.get("timestamp_field", "ts"),
                start_pred=F.array_contains("tags", a["start_tag"]),
                end_pred=F.array_contains("tags", a["end_tag"]),
                max_lag=f"interval {timeout} seconds",
                id_cols=id_fields)
        if name == "metrics":
            # logstash-filter-metrics (meta:181): meter -> windowed counts
            # + rate; timer -> count/min/max/mean/stddev + percentiles.
            # flush_interval (default 5s in the reference's processing-time
            # model) becomes the event-time window size.
            from logstash_spark.operators.windows import (metrics_timer,
                                                          tumbling_rollup)
            size = f'{int(a.get("flush_interval", 3600))} seconds'
            ts_col = a.get("timestamp_field", "ts")
            if "timer" in a:
                (tname, tfield), = a["timer"].items() if isinstance(
                    a["timer"], dict) else [tuple(a["timer"])]
                if str(tfield).startswith("%{"):
                    tfield = _sprintf_field(tfield, "metrics.timer")
                out = metrics_timer(df, ts_col, [], tfield, size=size,
                                    percentiles=tuple(
                                        p / 100 for p in a.get(
                                            "percentiles", [50, 90, 95, 99])))
                return out.withColumn("metric_name", F.lit(tname))
            meter = a["meter"]
            key = _sprintf_field(meter if not isinstance(meter, list)
                                 else meter[0], "metrics.meter")
            secs = int(a.get("flush_interval", 3600))
            out = tumbling_rollup(df, ts_col, size, [key],
                                  [F.count(F.lit(1)).alias("count")])
            return out.withColumn("rate_per_sec",
                                  F.col("count") / F.lit(secs))
        if name == "aggregate":
            # logstash-filter-aggregate, timeout/push-map mode: sessionize
            # by task_id with the standard summary aggs.  The `code` attr
            # is arbitrary Ruby — rejected with the escape hatch pointer.
            if "code" in a:
                raise SyntaxError(
                    "LSCL: aggregate.code is arbitrary Ruby; express the "
                    "aggregation with operators/windows.session_rollup "
                    "aggs=... in Python, or operators/custom.batch_filter "
                    "(the Arrow-batch ruby analog)")
            from logstash_spark.operators.windows import session_rollup
            key = _sprintf_field(a["task_id"], "aggregate.task_id")
            timeout = int(a.get("timeout", 1800))
            return session_rollup(df, a.get("timeout_timestamp_field", "ts"),
                                  key, f"{timeout} seconds")
        raise SyntaxError(
            f"LSCL: unsupported filter plugin {name!r} (supported: see "
            f"logstash_spark/plans/lscl.py docstring)")

    # cardinality/schema-preserving plugins are eligible for the fused
    # (single-select) If path; drop/clone/split change row counts, and
    # prune/de_dot rewrite the whole schema (they'd eat the fused path's
    # snapshot columns)
    row_local = name not in ("drop", "clone", "split", "prune", "de_dot",
                             "metricize", "range",
                             "throttle", "elapsed", "aggregate", "metrics")

    if not (add_tags or remove_tags or add_fields or remove_fields):
        return Stage(op, name, row_local=row_local)

    def op_with_decorators(df: DataFrame) -> DataFrame:
        from logstash_spark.functions.decorators import (add_field_sprintf,
                                                         add_tag_sprintf,
                                                         remove_field,
                                                         remove_tag)
        out = op(df)
        ftag = _FAILURE_TAG.get(name)
        success = (~F.array_contains("tags", ftag)) if ftag and "tags" in out.columns else None
        # add_tag/add_field sprintf both key and value per event
        # (decorators.rb:28-43)
        for t in (add_tags if isinstance(add_tags, list) else [add_tags]):
            out = add_tag_sprintf(out, t, when=success)
        for t in (remove_tags if isinstance(remove_tags, list) else [remove_tags]):
            out = remove_tag(out, t, when=success)
        for fname, val in (add_fields or {}).items():
            out = add_field_sprintf(out, fname, str(val), when=success)
        if remove_fields:
            out = remove_field(out, *remove_fields)
        return out

    return Stage(op_with_decorators, name, row_local=row_local)


def compile_items(nodes: list, context: dict | None = None) -> list:
    stages = []
    for n in nodes:
        if isinstance(n, PluginNode):
            stages.append(compile_plugin(n, context))
        else:
            stages.append(_compile_if(n, context))
    return stages


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
            f"config (generator/file/stdin inputs, file/stdout outputs)")
    expand_sections(sections, context)
    return Pipeline(compile_items(sections.get("filter", []), context))


# ---------------------------------------------------------------------------
# full-config jobs: input/output sections (SURVEY.md §2.4-2.5)
# ---------------------------------------------------------------------------

_SUPPORTED_INPUTS = frozenset({"generator", "file", "stdin",
                               "kafka", "tcp", "syslog", "pipeline",
                               "s3", "elasticsearch", "redis", "http",
                               "udp", "http_poller", "beats"})
_SUPPORTED_OUTPUTS = frozenset({"stdout", "file", "null", "elasticsearch",
                                "tcp", "pipeline", "iceberg", "s3", "http"})


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
        dfs = list(self._addresses[address].values())
        out = dfs[0]
        for d in dfs[1:]:
            # schemas may differ between sending pipelines; the reference
            # event model treats absent fields as null
            out = out.unionByName(d, allowMissingColumns=True)
        return out


_DEFAULT_BUS = PipelineBus()


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
        # live HTTP listeners started by source_stream (http inputs);
        # callers stop them after the query terminates
        self.http_spools: list = []
        self._ordered = False  # set by run_stream(ordered=True)
        # bus sender identity: re-compiling the SAME pipeline replaces its
        # own registration (the reload contract) instead of unioning a
        # stale copy.  A pipelines.yml job is keyed by its pipeline.id, so
        # two pipelines with identical config text both fan in; a bare
        # config falls back to a deterministic digest of its AST
        if pipeline_id is not None:
            self._bus_identity = pipeline_id
        else:
            import hashlib as _hashlib

            self._bus_identity = _hashlib.md5(
                repr(sections).encode()).hexdigest()
        self.filter_nodes = sections.get("filter", [])
        self.pipeline = Pipeline(compile_items(sections.get("filter", []),
                                               self.context))
        for n in self.inputs:
            if not isinstance(n, PluginNode) or n.name not in _SUPPORTED_INPUTS:
                raise SyntaxError(
                    f"LSCL: unsupported input {getattr(n, 'name', n)!r} "
                    f"(supported: {', '.join(sorted(_SUPPORTED_INPUTS))})")
        for n in self.outputs:
            if isinstance(n, IfNode):
                continue
            if n.name not in _SUPPORTED_OUTPUTS:
                raise SyntaxError(
                    f"LSCL: unsupported output {n.name!r} "
                    f"(supported: {', '.join(sorted(_SUPPORTED_OUTPUTS))})")
        # each s3 output writes run=<token>/epoch_id=N under its prefix with
        # overwrite, so a second output on the same bucket+prefix would
        # silently replace the first one's epochs
        s3_targets = set()
        for n in walk_plugins(self.outputs):
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
            dfs.append(self._one_source(spark, n, stdin_df))
        if not dfs:
            raise SyntaxError("LSCL: config has no input section")
        out = dfs[0]
        for d in dfs[1:]:
            out = out.unionByName(d, allowMissingColumns=True)
        return out

    @property
    def bus(self) -> PipelineBus:
        return self.context.get("bus") or _DEFAULT_BUS

    def _one_source(self, spark, n: PluginNode, stdin_df) -> DataFrame:
        a = n.attrs
        if n.name in ("http", "udp", "http_poller", "beats"):
            raise SyntaxError(
                f"LSCL: {n.name}{{}} is a live listener/poller — a stream; "
                "run this config with run_stream (batch has no arrival "
                "semantics to replay)")
        if n.name == "pipeline":
            return self.bus.listen(a["address"])
        if n.name == "kafka":
            # jar-gated: kafka_source raises NotImplementedError with the
            # exact --packages submit flag when the datasource is absent
            from logstash_spark.sources.connectors import kafka_source

            topics = a.get("topics", a.get("topic"))
            if isinstance(topics, list):
                topics = ",".join(topics)
            return kafka_source(
                spark, a["bootstrap_servers"], topics,
                codec=a.get("codec", "json_lines"),
                schema=a.get("schema"),
                starting_offsets=a.get("auto_offset_reset", "latest"),
                max_offsets_per_trigger=a.get("max_poll_records"))
        if n.name == "tcp":
            from logstash_spark.sources.connectors import tcp_source

            return tcp_source(spark, a.get("host", "127.0.0.1"),
                              int(a["port"]), codec=a.get("codec", "line"),
                              schema=a.get("schema"))
        if n.name == "syslog":
            from logstash_spark.sources.connectors import syslog_source

            return syslog_source(spark, a.get("host", "127.0.0.1"),
                                 int(a["port"]))
        if n.name == "s3":
            # meta:370 logstash-input-s3: bucket+prefix listing, codec decode
            from logstash_spark.sources.batch_inputs import s3_source

            return s3_source(spark, a["bucket"], a.get("prefix", ""),
                             codec=a.get("codec", "line"),
                             schema=a.get("schema"),
                             scheme=a.get("scheme", "s3a"))
        if n.name == "elasticsearch":
            # meta:269 logstash-input-elasticsearch: query+scroll+size
            import json as _json

            from logstash_spark.sources.batch_inputs import \
                elasticsearch_source

            query = a.get("query")
            if isinstance(query, str):
                query = _json.loads(query)
            if not a.get("hosts"):
                raise SyntaxError(
                    "LSCL: elasticsearch input requires hosts => "
                    "[\"host:port\", ...]")
            return elasticsearch_source(
                spark, a["hosts"],
                a.get("index", "logstash-*"), query=query,
                size=int(a.get("size", 1000)),
                scroll=a.get("scroll", "1m"), schema=a.get("schema"))
        if n.name == "redis":
            # meta:366 logstash-input-redis, data_type=list drain
            from logstash_spark.sources.batch_inputs import redis_source_batch

            if a.get("data_type", "list") != "list":
                raise SyntaxError(
                    "LSCL: redis data_type=channel is pub/sub — a stream; "
                    "use the tcp bridging recipe (tests/test_bridges.py)")
            return redis_source_batch(
                spark, a.get("host", "127.0.0.1"), int(a.get("port", 6379)),
                a["key"], batch_size=int(a.get("batch_count", 10000)),
                codec=a.get("codec", "line"), schema=a.get("schema"))
        if n.name == "stdin":
            if stdin_df is None:
                raise SyntaxError(
                    "LSCL: stdin{} input — pass stdin_df=<DataFrame with a "
                    "'message' column> to source()/run()")
            return stdin_df
        if n.name == "generator":
            # reference in-core generator (Generator.java:49-87): emit
            # `message` `count` times with a sequence number
            count = int(a.get("count", 1) or 1)
            msgs = a.get("lines") or [a.get("message", "Hello world!")]
            if not isinstance(msgs, list):
                msgs = [msgs]
            arr = F.array(*[F.lit(m) for m in msgs])
            return (spark.range(count * len(msgs))
                    .select((F.col("id") / len(msgs)).cast("long").alias("sequence"),
                            F.element_at(arr, (F.col("id") % len(msgs)).cast("int") + 1)
                            .alias("message")))
        if n.name == "file":
            paths = a["path"] if isinstance(a["path"], list) else [a["path"]]
            codec = a.get("codec", "line")
            if codec in ("line", "plain"):
                # NB: list passed as ONE arg — *splat would bind the second
                # path to the reader's wholetext/schema positional
                return spark.read.text(paths).withColumnRenamed("value", "message")
            if codec == "json_lines" or codec == "json":
                return spark.read.json(paths)
            if codec == "parquet":
                return spark.read.parquet(*paths)
            if codec == "multiline":
                return _file_multiline(spark, paths, a)
            raise SyntaxError(f"LSCL: unsupported file input codec {codec!r}")
        raise AssertionError(n.name)

    # -- output section ---------------------------------------------------------

    def apply_outputs(self, df: DataFrame) -> DataFrame:
        for n in self.outputs:
            self._one_output(df, n)
        return df

    def _one_output(self, df: DataFrame, n) -> None:
        if isinstance(n, IfNode):
            # conditional routing in the output section: filter per branch
            remaining = df
            for expr, body in n.branches:
                pred = compile_expr(expr, df)
                for inner in body:
                    self._one_output(remaining.filter(pred), inner)
                remaining = remaining.filter(~F.coalesce(pred, F.lit(False)))
            for inner in (n.else_nodes or []):
                self._one_output(remaining, inner)
            return
        a = n.attrs
        if n.name in ("stdout", "null"):
            return  # row-printing/discard sinks: no plan effect in batch
        if n.name == "pipeline":
            addrs = a["send_to"]
            if not isinstance(addrs, list):
                addrs = [addrs]
            for addr in addrs:
                self.bus.send(addr, df, sender=self._bus_identity)
            return
        if n.name == "file":
            from logstash_spark.functions.decorators import strip_metadata

            df = strip_metadata(df)  # @metadata excluded from outputs
            codec = a.get("codec", "json_lines")
            path = a["path"]
            writer = df.write.mode("overwrite")
            if codec == "json_lines":
                writer.json(path)
            elif codec in ("line", "plain"):
                col = a.get("message_field", "message")
                df.select(F.col(col).cast("string").alias("value")) \
                  .write.mode("overwrite").text(path)
            elif codec == "csv":
                writer.option("header", "true").csv(path)
            elif codec == "parquet":
                writer.parquet(path)
            else:
                raise SyntaxError(f"LSCL: unsupported file output codec {codec!r}")
            return
        if n.name == "elasticsearch":
            from logstash_spark.sources.connectors import elasticsearch_sink

            elasticsearch_sink(df, index=a.get("index", "logstash"),
                               id_col=a["document_id"],
                               path=a.get("path"), nodes=a.get("hosts"))
            return
        if n.name == "tcp":
            from logstash_spark.functions.decorators import strip_metadata
            from logstash_spark.sources.connectors import tcp_sink

            tcp_sink(strip_metadata(df), a["host"], a["port"],
                     message_col=a.get("message_field"))
            return
        if n.name == "s3":
            # logstash-output-s3: distributed write replaces temp-file
            # rotation (time_file/size_file have no analog — see s3_sink)
            from logstash_spark.sources.connectors import s3_sink

            s3_sink(df, a["bucket"], a.get("prefix", ""),
                    codec=a.get("codec", "json_lines"),
                    scheme=a.get("scheme", "s3a"),
                    compression="gzip" if a.get("encoding") == "gzip" else None,
                    message_col=a.get("message_field"))
            return
        if n.name == "http":
            # logstash-output-http: json/json_batch/ndjson executor POSTs
            from logstash_spark.functions.decorators import strip_metadata
            from logstash_spark.sources.connectors import http_sink

            http_sink(strip_metadata(df), a["url"],
                      format=a.get("format", "json_batch"),
                      batch_size=int(a.get("batch_size", 50)),
                      content_type=a.get("content_type"),
                      retries=int(a.get("automatic_retries", 2)))
            return
        if n.name == "iceberg":
            # jar-gated: the north rule's table format — exactly-once MERGE
            # on merge_keys; raises the exact submit recipe without the jar
            from logstash_spark.functions.decorators import strip_metadata
            from logstash_spark.sources.connectors import iceberg_merge_sink

            keys = a.get("merge_keys", a.get("document_id"))
            if not isinstance(keys, list):
                keys = [keys]
            iceberg_merge_sink(a["table"], keys)(strip_metadata(df), 0)
            return
        raise AssertionError(n.name)

    # -- end to end ---------------------------------------------------------------

    def run(self, spark, stdin_df: DataFrame | None = None) -> DataFrame:
        out = self.pipeline(self.source(spark, stdin_df))
        return self.apply_outputs(out)

    # -- streaming end to end ----------------------------------------------------

    def source_stream(self, spark, stdin_df: DataFrame | None = None) -> DataFrame:
        """Streaming variant of :meth:`source`.

        file inputs become file-source streams (schema taken from a static
        read of the same path, so the config needs no schema block — same
        trick the reference's file input uses by sniffing the first lines);
        kafka/tcp/syslog are already streams; stdin accepts a streaming
        DataFrame; generator has no bounded streaming analog (use the rate
        source directly).  Multiple inputs union like the batch path.
        """
        dfs = []
        spool_dirs_seen: set[str] = set()
        for n in self.inputs:
            a = n.attrs
            if n.name == "file":
                paths = a["path"] if isinstance(a["path"], list) else [a["path"]]
                codec = a.get("codec", "line")
                # streaming file readers are single-path: one stream per
                # path, unioned (same plan the reference's multi-path file
                # input compiles to — one watcher per glob)
                if codec in ("line", "plain"):
                    parts = [spark.readStream.text(p0)
                             .withColumnRenamed("value", "message")
                             for p0 in paths]
                elif codec in ("json_lines", "json"):
                    schema = a.get("schema") or spark.read.json(paths).schema
                    parts = [spark.readStream.schema(schema).json(p0)
                             for p0 in paths]
                elif codec == "parquet":
                    schema = a.get("schema") or spark.read.parquet(*paths).schema
                    parts = [spark.readStream.schema(schema).parquet(p0)
                             for p0 in paths]
                else:
                    raise SyntaxError(
                        f"LSCL: unsupported streaming file codec {codec!r}")
                d = parts[0]
                for extra in parts[1:]:
                    d = d.unionByName(extra)
                dfs.append(d)
            elif n.name == "generator":
                raise SyntaxError(
                    "LSCL: generator{} is a bounded batch input; for a "
                    "streaming load source use spark.readStream.format('rate')")
            elif n.name == "beats":
                # logstash-input-beats (meta:248): a real lumberjack v2
                # listener — window/compressed/json frames, spool-then-ack
                # durability ordering (sources/beats_input.py).
                from logstash_spark.sources.beats_input import BeatsSpool
                from logstash_spark.sources.http_input import \
                    http_webhook_stream

                if "spool_dir" not in a:
                    raise SyntaxError(
                        "LSCL: beats input requires spool_dir => \"...\"")
                spool = BeatsSpool(
                    a["spool_dir"], host=a.get("host", "127.0.0.1"),
                    port=int(a.get("port", 0))).start()
                self.http_spools.append(spool)
                if a["spool_dir"] not in spool_dirs_seen:
                    spool_dirs_seen.add(a["spool_dir"])
                    dfs.append(http_webhook_stream(
                        spark, a["spool_dir"],
                        include_seq=self._ordered))
            elif n.name in ("http", "udp"):
                # logstash-input-http (meta:310) / -udp (meta:404): real
                # in-engine push sources — the listener spools requests /
                # datagrams, the Python Data Source replays spool
                # line-ranges as offsets.  Replaces the bridge recipes
                # (tests/test_bridges.py, r4).
                from logstash_spark.sources.http_input import (
                    HttpEventSpool, UdpEventSpool, http_webhook_stream)

                if "spool_dir" not in a:
                    raise SyntaxError(
                        f"LSCL: {n.name} input requires spool_dir => "
                        "\"...\" — the durable spool is what makes the "
                        "stream checkpoint/resumable")
                cls = HttpEventSpool if n.name == "http" else UdpEventSpool
                spool = cls(
                    a["spool_dir"], host=a.get("host", "127.0.0.1"),
                    port=int(a.get("port", 0))).start()
                self.http_spools.append(spool)
                # several listeners may share one spool (their events
                # interleave in arrival order); exactly ONE reader per
                # spool dir — a second stream over the same dir would
                # deliver every row twice
                if a["spool_dir"] not in spool_dirs_seen:
                    spool_dirs_seen.add(a["spool_dir"])
                    dfs.append(http_webhook_stream(
                        spark, a["spool_dir"],
                        prune_committed=bool(a.get("prune_committed",
                                                   False)),
                        include_seq=self._ordered))
            elif n.name == "http_poller":
                # logstash-input-http_poller (meta:314): scheduled GETs of
                # a url set, one event per poll per url, via the same
                # replayable spool.  schedule => { every => "10s" } or
                # interval => seconds.
                from logstash_spark.sources.http_input import (
                    HttpPollerSpool, http_webhook_stream)

                if "spool_dir" not in a or "urls" not in a:
                    raise SyntaxError(
                        "LSCL: http_poller input requires urls => {...} "
                        "and spool_dir => \"...\"")
                interval = float(a.get("interval", 0) or 0)
                sched = a.get("schedule")
                if not interval and isinstance(sched, dict) \
                        and sched.get("every"):
                    m = re.match(r"^(\d+(?:\.\d+)?)\s*(s|m|h)?$",
                                 str(sched["every"]))
                    if not m:
                        raise SyntaxError(
                            f"LSCL: http_poller schedule.every "
                            f"{sched['every']!r} — use e.g. \"10s\"/\"1m\"")
                    interval = float(m.group(1)) * \
                        {"s": 1, "m": 60, "h": 3600}[m.group(2) or "s"]
                spool = HttpPollerSpool(
                    a["spool_dir"], a["urls"],
                    interval=interval or 60.0).start()
                if a["spool_dir"] not in spool_dirs_seen:
                    spool_dirs_seen.add(a["spool_dir"])
                    dfs.append(http_webhook_stream(
                        spark, a["spool_dir"],
                        include_seq=self._ordered))
                self.http_spools.append(spool)
            else:
                dfs.append(self._one_source(spark, n, stdin_df))
        if not dfs:
            raise SyntaxError("LSCL: config has no input section")
        out = dfs[0]
        for d in dfs[1:]:
            out = out.unionByName(d, allowMissingColumns=True)
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
        for n in self.outputs:
            if isinstance(n, PluginNode) and n.name == "pipeline":
                raise SyntaxError(
                    "LSCL: pipeline{} output in streaming mode — use a "
                    "durable bus table (streaming/jobs.run_parse_to_bus) "
                    "instead of the in-plan bus")
        # the batch shapes of the stateful plugins (ranking window, plain
        # time-bounded join, un-watermarked session groupBy) are not legal
        # in a streaming plan; fail at submit with the streaming twins
        _STREAM_TWINS = {
            "throttle": "streaming/stateful.throttle_stream",
            "elapsed": "streaming/jobs.elapsed_stream_join",
            "aggregate": "streaming/jobs.session_rollup_stream "
                         "(or streaming/stateful.aggregate_stateful_stream)",
            "metrics": "streaming/jobs.rollup_stream",
        }

        def _walk(nodes):
            for fn in nodes:
                if isinstance(fn, IfNode):
                    for _, body in fn.branches:
                        _walk(body)
                    _walk(fn.else_nodes or [])
                elif fn.name in _STREAM_TWINS:
                    raise SyntaxError(
                        f"LSCL: {fn.name}{{}} uses a batch-only plan shape; "
                        f"in streaming compose {_STREAM_TWINS[fn.name]} "
                        f"around the stateless part of this config")

        _walk(self.filter_nodes)
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
            spoolable = {"http", "udp", "http_poller", "beats"}
            bad = [n.name for n in self.inputs
                   if isinstance(n, PluginNode) and n.name not in spoolable]
            if bad:
                raise SyntaxError(
                    f"LSCL: ordered=True needs spool-backed inputs "
                    f"(http/udp/http_poller/beats); {bad} have no global "
                    "arrival order — sort at the sink on event time "
                    "instead (SURVEY ordered-execution contract)")
            dirs = {n.attrs.get("spool_dir") for n in self.inputs
                    if isinstance(n, PluginNode)}
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
        import hashlib as _hashlib
        import os as _os

        run_token = _hashlib.md5(
            _os.path.abspath(checkpoint_dir).encode()).hexdigest()[:8]

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

    def _one_output_batch(self, df: DataFrame, n,
                          epoch_id: int | None = None,
                          run_token: str | None = None) -> None:
        """Per-micro-batch output delivery: file appends, others reuse the
        batch writers (the micro-batch frame IS a batch DataFrame).
        ``epoch_id`` is the foreachBatch batch id, used by sinks that can
        make a retried epoch idempotent (s3)."""
        if isinstance(n, IfNode):
            remaining = df
            for expr, body in n.branches:
                pred = compile_expr(expr, df)
                for inner in body:
                    self._one_output_batch(remaining.filter(pred), inner,
                                           epoch_id=epoch_id,
                                           run_token=run_token)
                remaining = remaining.filter(~F.coalesce(pred, F.lit(False)))
            for inner in (n.else_nodes or []):
                self._one_output_batch(remaining, inner, epoch_id=epoch_id,
                                       run_token=run_token)
            return
        if n.name == "file":
            from logstash_spark.functions.decorators import strip_metadata

            a = n.attrs
            clean = strip_metadata(df)
            codec = a.get("codec", "json_lines")
            writer = clean.write.mode("append")
            if codec == "json_lines":
                writer.json(a["path"])
            elif codec in ("line", "plain"):
                col = a.get("message_field", "message")
                clean.select(F.col(col).cast("string").alias("value")) \
                     .write.mode("append").text(a["path"])
            elif codec == "csv":
                writer.option("header", "true").csv(a["path"])
            elif codec == "parquet":
                writer.parquet(a["path"])
            else:
                raise SyntaxError(f"LSCL: unsupported file output codec {codec!r}")
            return
        if n.name == "s3":
            # One directory per epoch, written with overwrite: a retried
            # foreachBatch epoch (driver restart mid-commit) rewrites its
            # OWN epoch_id=N directory instead of appending duplicate
            # objects — epoch-idempotent, so the sink is exactly-once for
            # readers that list the whole prefix (same contract as
            # sinks/exactly_once.py's batch_id layout).  Earlier batches
            # live in sibling directories and are never clobbered.
            from logstash_spark.sources.connectors import s3_sink

            a = n.attrs
            prefix = a.get("prefix", "")
            if epoch_id is not None:
                run_part = f"run={run_token}/" if run_token else ""
                epoch_part = f"{run_part}epoch_id={epoch_id}"
                prefix = f"{prefix.rstrip('/')}/{epoch_part}" \
                    if prefix else epoch_part
            s3_sink(df, a["bucket"], prefix,
                    codec=a.get("codec", "json_lines"),
                    scheme=a.get("scheme", "s3a"),
                    compression="gzip" if a.get("encoding") == "gzip" else None,
                    message_col=a.get("message_field"),
                    mode="overwrite" if epoch_id is not None else "append")
            return
        self._one_output(df, n)  # stdout/null/es/tcp/http: batch writers apply


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
    from pyspark.sql.window import Window

    from logstash_spark.operators.codecs import multiline_assemble

    lines = spark.read.text(paths).select(
        F.col("value").alias("message"),
        F.col("_metadata.file_path").alias("path"),
        F.col("_metadata.file_block_start").alias("__blk"),
        F.monotonically_increasing_id().alias("__mid"))
    w = Window.partitionBy("path").orderBy("__blk", "__mid")
    lines = lines.withColumn("__line_no", F.row_number().over(w))
    out = multiline_assemble(
        lines, "message", "path", "__line_no",
        pattern=a["pattern"], negate=bool(a.get("negate", False)),
        what=a.get("what", "previous"))
    return out.withColumnRenamed("first___line_no", "first_line_no")


def compile_lscl_job(config_text: str, context: dict | None = None) -> LsclJob:
    """Compile a COMPLETE config (input+filter+output) into an LsclJob."""
    sections = expand_sections(
        Parser(tokenize(config_text)).parse_config(), context)
    return LsclJob(sections, context)

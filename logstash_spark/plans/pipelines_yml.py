"""pipelines.yml multi-pipeline loader, composition, and reload identity.

Reference surfaces re-expressed here:

* the ``pipelines.yml`` document shape — a YAML list of per-pipeline
  setting maps with ``pipeline.id`` plus ``config.string`` or
  ``path.config`` (docs/reference/multiple-pipelines.md;
  qa/integration/fixtures/multiple_pipeline_spec.yml);
* the agent's converge cycle, which turns that document into a running set
  of named pipelines (logstash-core/lib/logstash/agent.rb);
* the state resolver, which diffs a new document against the running set
  into start/stop/reload actions (logstash-core/lib/logstash/
  state_resolver.rb:35-66);
* the pipeline spec hash used for those reload decisions
  (logstash-core/src/main/java/org/logstash/config/ir/
  PipelineIR.java:135-138 ``uniqueHash``).

Spark-first shape: each pipeline compiles to an ``LsclJob`` (batch or one
Structured Streaming query); ``pipeline{send_to/address}`` wiring between
them is LOGICAL PLAN COMPOSITION over a shared :class:`PipelineBus`, so a
two-pipeline yml produces the same Catalyst plan as the fused single
config — one scan, cross-pipeline filter pushdown — rather than a
serialize/deserialize hop.  ``run`` orders pipelines topologically by bus
address so upstream plans are registered before downstream plans read
them; a cycle (mutual sends) is a config error, as in the reference.
"""

from __future__ import annotations

import hashlib
import json
import os
from dataclasses import dataclass, field

from logstash_spark.plans.lscl import (LsclJob, Parser, PipelineBus,
                                       _env_snapshot, expand_env_str,
                                       expand_sections, tokenize,
                                       walk_plugins)


@dataclass
class PipelineSpec:
    """One entry of the pipelines.yml list."""

    pipeline_id: str
    config_text: str
    settings: dict = field(default_factory=dict)

    def spec_hash(self, context: dict | None = None) -> str:
        """Stable identity for restart/reload decisions.

        Mirrors PipelineIR.uniqueHash: the hash covers the pipeline's
        EFFECTIVE definition — id, the config text with ``${VAR}``
        references resolved (an env/secret change IS a pipeline change, the
        reference recompiles on converge), and the non-config settings."""
        env = _env_snapshot(context)
        try:
            cfg = expand_env_str(self.config_text, env)
        except SyntaxError:
            # unset var with no default: still hashable (compile will give
            # the real error); hash the raw text so identity stays stable
            cfg = self.config_text
        payload = json.dumps(
            [self.pipeline_id, cfg, sorted(self.settings.items())],
            ensure_ascii=True)
        return hashlib.sha256(payload.encode()).hexdigest()


def _read_path_config(pattern: str) -> str:
    """``path.config`` glob -> concatenated config text (the reference
    concatenates all matched files in sorted order)."""
    import glob

    paths = sorted(glob.glob(pattern))
    if not paths:
        raise FileNotFoundError(
            f"pipelines.yml: path.config {pattern!r} matched no files")
    out = []
    for p in paths:
        with open(p, encoding="utf-8") as f:
            out.append(f.read())
    return "\n".join(out)


def load_pipelines_yml(text_or_path: str,
                       context: dict | None = None) -> "PipelineSet":
    """Parse a pipelines.yml document (text or a path ending in .yml/.yaml)
    into a :class:`PipelineSet`."""
    import yaml

    if (text_or_path.endswith((".yml", ".yaml"))
            and os.path.exists(text_or_path)):
        with open(text_or_path, encoding="utf-8") as f:
            text = f.read()
    else:
        text = text_or_path
    doc = yaml.safe_load(text)
    if not isinstance(doc, list):
        raise SyntaxError("pipelines.yml must be a YAML LIST of pipeline "
                          "settings maps (docs/reference/multiple-pipelines)")
    specs: dict[str, PipelineSpec] = {}
    for entry in doc:
        if not isinstance(entry, dict) or "pipeline.id" not in entry:
            raise SyntaxError(
                f"pipelines.yml: every entry needs pipeline.id (got {entry!r})")
        pid = str(entry["pipeline.id"])
        if pid in specs:
            raise SyntaxError(f"pipelines.yml: duplicate pipeline.id {pid!r}")
        if "config.string" in entry:
            cfg = entry["config.string"]
        elif "path.config" in entry:
            cfg = _read_path_config(entry["path.config"])
        else:
            raise SyntaxError(
                f"pipelines.yml: {pid!r} needs config.string or path.config")
        settings = {k: v for k, v in entry.items()
                    if k not in ("pipeline.id", "config.string", "path.config")}
        specs[pid] = PipelineSpec(pid, cfg, settings)
    return PipelineSet(specs, context)


class PipelineSet:
    """A named set of compiled pipelines sharing one PipelineBus."""

    def __init__(self, specs: dict[str, PipelineSpec],
                 context: dict | None = None):
        self.specs = specs
        self.context = dict(context or {})
        self.context.setdefault("bus", PipelineBus())
        self._jobs: dict[str, LsclJob] = {}
        self._sections: dict[str, dict] = {}
        for pid, spec in specs.items():
            sections = expand_sections(
                Parser(tokenize(spec.config_text)).parse_config(),
                self.context)
            self._sections[pid] = sections
            self._jobs[pid] = LsclJob(sections, self.context, pipeline_id=pid)

    @property
    def bus(self) -> PipelineBus:
        return self.context["bus"]

    def job(self, pipeline_id: str) -> LsclJob:
        return self._jobs[pipeline_id]

    def hashes(self) -> dict[str, str]:
        return {pid: s.spec_hash(self.context) for pid, s in self.specs.items()}

    # -- bus topology -------------------------------------------------------

    def _addresses(self, pid: str) -> tuple[set, set]:
        """(listens_on, sends_to) bus addresses of one pipeline."""
        sec = self._sections[pid]
        listens, sends = set(), set()
        for n in walk_plugins(sec.get("input", [])):
            if n.name == "pipeline":
                listens.add(n.attrs["address"])
        for n in walk_plugins(sec.get("output", [])):
            if n.name == "pipeline":
                addrs = n.attrs["send_to"]
                sends.update(addrs if isinstance(addrs, list) else [addrs])
        return listens, sends

    def topo_order(self) -> list[str]:
        """Pipelines ordered so every bus sender precedes its listeners
        (Kahn); a send/listen cycle is rejected like the reference's
        address-conflict converge failure."""
        listens, sends = {}, {}
        for pid in self.specs:
            listens[pid], sends[pid] = self._addresses(pid)
        order, placed = [], set()
        remaining = list(self.specs)
        while remaining:
            progressed = False
            for pid in list(remaining):
                upstream_addrs = set().union(
                    *(sends[q] for q in self.specs if q != pid)) \
                    if len(self.specs) > 1 else set()
                # ready when EVERY pipeline that sends to a listened
                # address is already placed (an address no pipeline sends
                # to is pre-registered on the bus by the caller).  With
                # two senders fanning into one address, "any producer
                # placed" would let the listener run before the second
                # sender registered, silently dropping its rows.
                needed = {a for a in listens[pid] if a in upstream_addrs}
                if all(q in placed
                       for a in needed
                       for q in self.specs if q != pid and a in sends[q]):
                    order.append(pid)
                    placed.add(pid)
                    remaining.remove(pid)
                    progressed = True
            if not progressed:
                raise SyntaxError(
                    f"pipelines.yml: pipeline-bus cycle among {remaining}")
        return order

    # -- execution ------------------------------------------------------------

    def run(self, spark, stdin_dfs: dict | None = None) -> dict:
        """Run every pipeline in bus-topological order (batch).

        ``stdin_dfs`` maps pipeline.id -> DataFrame for configs with a
        ``stdin {}`` input.  Returns {pipeline.id: output DataFrame}."""
        stdin_dfs = stdin_dfs or {}
        out = {}
        for pid in self.topo_order():
            out[pid] = self._jobs[pid].run(spark, stdin_df=stdin_dfs.get(pid))
        return out


def resolve_actions(running: dict[str, str] | "PipelineSet",
                    desired: "PipelineSet") -> dict[str, str]:
    """state_resolver.rb:35-66 — diff the running set against a new
    pipelines.yml into per-pipeline actions.

    ``running`` is {pipeline.id: spec_hash} (or a PipelineSet, hashed).
    Returns {pipeline.id: 'start'|'stop'|'reload'|'unchanged'}."""
    if isinstance(running, PipelineSet):
        running = running.hashes()
    new = desired.hashes()
    actions = {}
    for pid in running:
        if pid not in new:
            actions[pid] = "stop"
    for pid, h in new.items():
        if pid not in running:
            actions[pid] = "start"
        elif running[pid] != h:
            actions[pid] = "reload"
        else:
            actions[pid] = "unchanged"
    return actions

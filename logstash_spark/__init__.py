"""logstash_spark — PySpark-native streaming/CEP engine with Logstash's
processing capabilities (see README.md / SURVEY.md).

Public surface, one import away:

    from logstash_spark import get_spark, compile_lscl, Pipeline, Stage, If
    from logstash_spark.operators import grok, dissect, mutate, date, kv

Everything else lives in the named submodules: operators/ (filters),
sources/ + sinks/ (inputs/outputs), streaming/ (jobs, stateful ops),
plans/ (LSCL compiler, pipeline DAG, bucketing helpers),
datahub/ (training-data ops), functions/ (conditions, sprintf, fieldref,
decorators).

Imports here are lazy (module __getattr__) so `import logstash_spark`
never drags the full operator tree into a driver that only wants
get_spark.
"""

from __future__ import annotations

_EXPORTS = {
    "get_spark": ("logstash_spark.session", "get_spark"),
    "load_tables": ("logstash_spark.session", "load_tables"),
    "compile_lscl": ("logstash_spark.plans.lscl", "compile_lscl"),
    "compile_lscl_job": ("logstash_spark.plans.lscl", "compile_lscl_job"),
    "Pipeline": ("logstash_spark.plans.pipeline", "Pipeline"),
    "Stage": ("logstash_spark.plans.pipeline", "Stage"),
    "If": ("logstash_spark.plans.pipeline", "If"),
    "PipelineBus": ("logstash_spark.plans.lscl", "PipelineBus"),
}

__all__ = list(_EXPORTS)


def __getattr__(name: str):
    try:
        mod_name, attr = _EXPORTS[name]
    except KeyError:
        raise AttributeError(f"module 'logstash_spark' has no attribute {name!r}")
    import importlib

    return getattr(importlib.import_module(mod_name), attr)

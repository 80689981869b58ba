"""Common filter decorators: add_field / add_tag / remove_field / remove_tag.

Reference: logstash-core/lib/logstash/util/decorators.rb:28-65 and
logstash-core/lib/logstash/filters/base.rb:195-226 — applied on filter
*success* only.  Quirks preserved:

* ``add_tag`` does NOT dedupe (decorators.rb:61 — the dedup is deliberately
  commented out in the reference), whereas ``event.tag()`` DOES dedupe
  (Event.java:513-519). We expose both: `add_tag` (concat) and `tag`
  (array_union-style distinct append).
* ``add_field`` to an existing field converts it to an array and appends
  (decorators.rb:41-48). With a fixed relational schema we model dynamic
  fields in a `parsed: map<string,string>` column; add_field targets that
  map (or a top-level column when the name is a declared column).
* tags column is `array<string>`, created on demand.

All pure Column expressions — no UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

TAGS_COL = "tags"


def ensure_tags(df: DataFrame) -> DataFrame:
    if TAGS_COL not in df.columns:
        return df.withColumn(TAGS_COL, F.array().cast("array<string>"))
    return df


def _tags_or_empty() -> Column:
    return F.coalesce(F.col(TAGS_COL), F.array().cast("array<string>"))


def add_tag_expr(tag: Column | str | list[str],
                 when: Column | None = None) -> Column:
    """append tag(s) WITHOUT dedup (decorators.rb:61); a list appends each
    tag in order (the :array form of tag_on_failure)."""
    tags = tag if isinstance(tag, list) else [tag]
    appended = F.concat(_tags_or_empty(), F.array(
        *[t if isinstance(t, Column) else F.lit(t) for t in tags]))
    if when is None:
        return appended
    return F.when(when, appended).otherwise(_tags_or_empty())


def tag_expr(tag: Column | str, when: Column | None = None) -> Column:
    """append tag WITH dedup (Event.tag, Event.java:513-519)."""
    t = tag if isinstance(tag, Column) else F.lit(tag)
    cur = _tags_or_empty()
    appended = F.when(F.array_contains(cur, t), cur).otherwise(F.concat(cur, F.array(t)))
    if when is None:
        return appended
    return F.when(when, appended).otherwise(cur)


def remove_tag_expr(tag: Column | str, when: Column | None = None) -> Column:
    t = tag if isinstance(tag, Column) else F.lit(tag)
    removed = F.array_remove(_tags_or_empty(), t)
    if when is None:
        return removed
    return F.when(when, removed).otherwise(_tags_or_empty())


def add_tag(df: DataFrame, tag: str | list[str],
            when: Column | None = None) -> DataFrame:
    return ensure_tags(df).withColumn(TAGS_COL, add_tag_expr(tag, when))


def tag(df: DataFrame, tag_: str, when: Column | None = None) -> DataFrame:
    return ensure_tags(df).withColumn(TAGS_COL, tag_expr(tag_, when))


def remove_tag(df: DataFrame, tag_: str, when: Column | None = None) -> DataFrame:
    return ensure_tags(df).withColumn(TAGS_COL, remove_tag_expr(tag_, when))


def add_field(df: DataFrame, name: str, value: Column, when: Column | None = None) -> DataFrame:
    """Set a field under a success predicate.

    If the column already exists and `when` is given, keep old value on the
    non-matching rows (base.rb:195-226 applies decorators only to matched
    events)."""
    if when is None:
        return df.withColumn(name, value)
    old = F.col(name) if name in df.columns else F.lit(None).cast("string")
    return df.withColumn(name, F.when(when, value).otherwise(old))


def remove_field(df: DataFrame, *names: str) -> DataFrame:
    return df.drop(*names)


# -- sprintf'd decorators (decorators.rb:28-43: key AND value templated) -----

DYNAMIC_FIELDS_COL = "fields"


def add_tag_sprintf(df: DataFrame, template: str,
                    when: Column | None = None) -> DataFrame:
    """add_tag with a %{...}-templated tag name, resolved per event."""
    from logstash_spark.functions.sprintf import compile_sprintf

    df = ensure_tags(df)
    return df.withColumn(
        TAGS_COL, add_tag_expr(compile_sprintf(template, df.columns), when))


def add_field_sprintf(df: DataFrame, name_template: str, value_template: str,
                      when: Column | None = None) -> DataFrame:
    """add_field with sprintf'd key AND value (decorators.rb:28-43).

    A static key (no %{}) sets/overwrites a top-level column.  A dynamic
    key resolves per row, which a relational schema cannot express as a
    column name — those land in the ``fields`` map column (created on
    demand), the engine's declared model for dynamic fields."""
    from logstash_spark.functions.sprintf import compile_sprintf

    val = compile_sprintf(value_template, df.columns)
    if "%{" not in name_template:
        return add_field(df, name_template, val, when)
    key = compile_sprintf(name_template, df.columns)
    cur = (F.col(DYNAMIC_FIELDS_COL) if DYNAMIC_FIELDS_COL in df.columns
           else F.lit(None))
    empty = F.expr("cast(map() as map<string,string>)")
    merged = F.map_concat(F.coalesce(cur, empty), F.create_map(key, val))
    out_val = merged if when is None else \
        F.when(when, merged).otherwise(F.coalesce(cur, empty))
    return df.withColumn(DYNAMIC_FIELDS_COL, out_val)


# -- event-model edge semantics (conformance: spec/logstash/event_spec.rb) ---

METADATA_COL = "@metadata"


def normalize_tags(df: DataFrame) -> DataFrame:
    """Event.java:232-249: a top-level ``tags`` holding an illegal value is
    stashed in ``_tags`` and the event tagged ``_tagsparsefailure``; a bare
    string wraps to a singleton list.  With a typed schema the dispatch is
    compile-time (on the column's dataType), so the hot path pays nothing.
    """
    from pyspark.sql.types import ArrayType, StringType

    if TAGS_COL not in df.columns:
        return ensure_tags(df)
    dt = df.schema[TAGS_COL].dataType
    if isinstance(dt, ArrayType) and isinstance(dt.elementType, StringType):
        return df
    if isinstance(dt, StringType):
        return df.withColumn(
            TAGS_COL,
            F.when(F.col(TAGS_COL).isNotNull(), F.array(F.col(TAGS_COL)))
            .otherwise(F.array().cast("array<string>")))
    # illegal type (numbers, arrays of non-strings, structs, ...)
    stash = df.schema[TAGS_COL].dataType
    as_str = (F.transform(F.col(TAGS_COL), lambda x: x.cast("string"))
              if isinstance(stash, ArrayType)
              else F.array(F.col(TAGS_COL).cast("string")))
    return (df.withColumn("_tags", as_str)
              .withColumn(TAGS_COL, F.array(F.lit("_tagsparsefailure"))))


def strip_metadata(df: DataFrame) -> DataFrame:
    """``@metadata`` is readable by sprintf/conditionals but is never
    serialized by outputs (Event.java:106-111) — sinks call this."""
    return df.drop(METADATA_COL) if METADATA_COL in df.columns else df

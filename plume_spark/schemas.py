"""Closed-world schemas for the typed graph store.

Mirrors the reference's fixed node/edge schema system
(drivers/base/.../SchemaBuilder.scala:133-164: per-label closed property sets;
IDriver.scala:102-129: node labels) recast for the transcript graft:

* ``transcripts`` — authoritative input shape (BASELINE.json input_hint)
* ``entities``    — canonical node table (label + props + list property)
* ``triples``     — directed, labeled edge table (src, label, dst + evidence)
* ``lineage``     — per-partition checkpoint/counters (analog of the per-pass
  timing/size counters, PlumeForkJoinParallelCpgPass.scala:78-111, made durable)

Defaults-on-read mirror SchemaBuilder.getPropertyDefault
(SchemaBuilder.scala:21-45): STRING_DEFAULT="<empty>", INT_DEFAULT=-1,
BOOL_DEFAULT=False — applied via ``with_defaults``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

STRING_DEFAULT = "<empty>"
INT_DEFAULT = -1
LONG_DEFAULT = -1
BOOL_DEFAULT = False

TRANSCRIPTS = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("role", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("tool", T.StringType()),
        T.StructField("ts", T.TimestampType()),
    ]
)

ENTITIES = T.StructType(
    [
        T.StructField("entity_id", T.LongType()),
        T.StructField("canonical_name", T.StringType()),
        T.StructField("kind", T.StringType()),
        T.StructField("aliases", T.ArrayType(T.StringType())),
    ]
)

TRIPLES = T.StructType(
    [
        T.StructField("subj", T.LongType()),
        T.StructField("pred", T.StringType()),
        T.StructField("obj", T.LongType()),
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("src_mention", T.StringType()),
        T.StructField("obj_mention", T.StringType()),
    ]
)

LINEAGE = T.StructType(
    [
        T.StructField("stage", T.StringType()),
        T.StructField("partition_id", T.IntegerType()),
        T.StructField("input_hash", T.StringType()),
        T.StructField("rows_in", T.LongType()),
        T.StructField("rows_out", T.LongType()),
        T.StructField("committed_at", T.TimestampType()),
    ]
)

# Edge endpoint constraints (analog of checkEdgeConstraint,
# SchemaBuilder.scala:54-129): pred -> (allowed subj kinds, allowed obj kinds).
# "*" is the wildcard exemption (SchemaBuilder.scala:49-50).
EDGE_CONSTRAINTS: dict[str, tuple[tuple[str, ...], tuple[str, ...]]] = {
    "works_at": (("person",), ("org",)),
    "uses": (("person", "org"), ("tool", "artifact")),
    "met": (("person",), ("person",)),
    "produces": (("org", "tool"), ("artifact",)),
    "visited": (("person",), ("org",)),
    "mentions": (("*",), ("*",)),
}

_DEFAULTS = {
    T.StringType(): STRING_DEFAULT,
    T.IntegerType(): INT_DEFAULT,
    T.LongType(): LONG_DEFAULT,
    T.BooleanType(): BOOL_DEFAULT,
}


def with_defaults(df: DataFrame, schema: T.StructType) -> DataFrame:
    """Apply closed-world defaults on read (SchemaBuilder.scala:21-45 analog)."""
    cols = []
    for f in schema.fields:
        c = F.col(f.name)
        default = _DEFAULTS.get(f.dataType)
        if default is not None and f.name in df.columns:
            c = F.coalesce(c, F.lit(default))
        cols.append(c.alias(f.name))
    return df.select(*cols)

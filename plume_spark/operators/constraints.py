"""Edge endpoint-kind constraint validation — the distributed recast of the
reference's write-time schema check (drivers/base/.../SchemaBuilder.scala:54-129
``checkEdgeConstraint``: every edge label has an allowed (src label, dst label)
set, with a wildcard exemption at SchemaBuilder.scala:49-50).

The rule table (schemas.EDGE_CONSTRAINTS) is a handful of rows — broadcast;
the check is one anti-join per validated frame: a typed edge is legal iff SOME
rule row matches its (pred, subj_kind, obj_kind) with '*' wildcards, illegal
otherwise (including predicates absent from the closed vocabulary).  No
shuffle of the big side: broadcast-hash anti-join, evaluated map-side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from plume_spark.schemas import EDGE_CONSTRAINTS
from plume_spark.session import local_frame


def constraint_rules(spark) -> DataFrame:
    """(pred, r_subj, r_obj) allowed combinations, wildcards kept as '*'."""
    rows = [
        (pred, s, o)
        for pred, (subj_kinds, obj_kinds) in EDGE_CONSTRAINTS.items()
        for s in subj_kinds
        for o in obj_kinds
    ]
    return local_frame(spark, rows, "pred string, r_subj string, r_obj string")


def kind_violations(typed: DataFrame, rules: DataFrame | None = None) -> DataFrame:
    """Rows of ``typed`` (pred, subj_kind, obj_kind, ...) violating the edge
    constraints.  An empty result is the write-time invariant."""
    spark = typed.sparkSession
    r = rules if rules is not None else constraint_rules(spark)
    cond = (
        (typed["pred"] == r["pred"])
        & ((r["r_subj"] == "*") | (r["r_subj"] == typed["subj_kind"]))
        & ((r["r_obj"] == "*") | (r["r_obj"] == typed["obj_kind"]))
    )
    return typed.join(F.broadcast(r), cond, "left_anti")

"""Edge endpoint-kind constraint validation — the distributed recast of the
reference's write-time schema check (drivers/base/.../SchemaBuilder.scala:54-129
``checkEdgeConstraint``: every edge label has an allowed (src label, dst label)
set, with a wildcard exemption at SchemaBuilder.scala:49-50).

The rule table (schemas.EDGE_CONSTRAINTS) is a handful of rows, so the check
is one column predicate built from it: a typed edge is legal iff SOME rule
matches its (pred, subj_kind, obj_kind) with '*' wildcards, illegal otherwise
(including predicates absent from the closed vocabulary).  A per-row filter:
no join, no shuffle, and it can ride along any scan of the edges.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from plume_spark.schemas import EDGE_CONSTRAINTS


def _kind_in(col: str, kinds: tuple[str, ...]) -> Column:
    return F.lit(True) if "*" in kinds else F.col(col).isin(list(kinds))


def kind_allowed() -> Column:
    """True iff a row's (pred, subj_kind, obj_kind) matches a rule; never
    NULL.  A NULL or unknown pred matches no rule; a NULL kind matches only
    a '*' rule."""
    allowed = reduce(
        lambda acc, c: acc | c,
        (
            (F.col("pred") == pred) & _kind_in("subj_kind", subj) & _kind_in("obj_kind", obj)
            for pred, (subj, obj) in EDGE_CONSTRAINTS.items()
        ),
    )
    return F.coalesce(allowed, F.lit(False))


def kind_violations(typed: DataFrame) -> DataFrame:
    """Rows of ``typed`` (pred, subj_kind, obj_kind, ...) violating the edge
    constraints.  An empty result is the write-time invariant."""
    return typed.filter(~kind_allowed())

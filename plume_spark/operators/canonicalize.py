"""Canonicalization: mention norms -> canonical entities with stable IDs.

The analog of Plume's node-identity management: the concurrent identity map
``nodeId.getOrElseUpdate(node, nextId)`` (drivers/base/.../IDriver.scala:19-20,
91-98) guarantees "same node => same id".  Here identity is semantic (alias
variants of one real-world entity must collapse), so the map is replaced by:

  distinct norms -> LSH-verified similarity edges -> connected components ->
  canonical name = lexicographic min norm in the component ->
  entity_id = xxhash64(kind, canonical_name)   (resume-idempotent)

Entity ``kind`` is resolved per component: the lexicographically smallest
non-'entity' kind observed for any member norm, else 'entity' — deterministic
regardless of partitioning.  ``aliases`` collects every member norm (the
reference's list-valued node property, SchemaBuilder.scala:17,40-42).

A dictionary that fits the driver (at most DRIVER_LINK_MAX_NORMS norms, all
ASCII) is linked and assembled there, from one collect; a larger one runs the
same steps distributed, with equal output.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from plume_spark.functions.ids import entity_id_col
from plume_spark.operators.components import _driver_union_find, connected_components
from plume_spark.operators.linking import driver_link_kernel, verified_pairs
from plume_spark.session import local_frame

# Dictionary-size cutover for the driver-local linking kernel and entity
# assembly.  Entity vocabularies are scale-free: even at 10^12 turns the
# distinct-norm dictionary is typically << this, so most jobs take the
# driver path; the distributed LSH pipeline is the unbounded fallback (and
# both paths are asserted to give equal tables in tests).  bench.py and the
# tests set it to 0 to force the distributed path.
DRIVER_LINK_MAX_NORMS = 500_000


def norm_components(
    mentions: DataFrame, tau: float | None = None, norms: list[str] | None = None
) -> DataFrame:
    """(norm, canonical_norm) over every distinct mention norm.

    Norms not linked to anything are their own canonical (isolated nodes are
    unioned back — connected_components only sees edge endpoints).

    ``norms`` are the distinct non-null norms of ``mentions``, already on the
    driver (build_entities' dictionary collect picks the path): they run the
    whole LSH+verify+CC chain as one vectorized local kernel, whose output
    comes back as a local frame (identical output, none of the ~20 small
    shuffle stages).  Without them the chain runs distributed, for
    dictionaries over DRIVER_LINK_MAX_NORMS or with non-ASCII norms (the
    kernel's vectorized hash assumes 1-byte chars; textnorm emits ASCII, so
    this triggers only on foreign callers).
    """
    kwargs = {} if tau is None else {"tau": tau}
    if norms is not None:
        pairs = driver_link_kernel(norms, **kwargs)
        comp = dict(_driver_union_find(pairs))
        rows = [(n, comp.get(n, n)) for n in norms]
        return local_frame(mentions.sparkSession, rows, "norm string, canonical_norm string")
    # the distributed chain re-reads the dictionary (banding, gram dict,
    # isolated-norm union), so it is cut once
    dictionary = mentions.select("norm").distinct().localCheckpoint(eager=True)
    # materialize the similarity edges once: connected_components and every
    # downstream consumer would otherwise re-run the LSH + verify lineage
    edges = verified_pairs(dictionary, "norm", **kwargs).localCheckpoint(eager=True)
    cc = connected_components(edges, "norm_a", "norm_b").withColumnRenamed("node", "norm")
    return (
        dictionary.join(cc, "norm", "left")
        .select("norm", F.coalesce("component", "norm").alias("canonical_norm"))
    )


def build_entities(mentions: DataFrame, tau: float | None = None) -> tuple[DataFrame, DataFrame]:
    """Returns (entities, norm_to_entity).

    entities:        entity_id, canonical_name, kind, aliases
    norm_to_entity:  norm, entity_id   (the linking dictionary for triples)

    The per-norm kind candidates (smallest non-'entity' kind per norm) are
    the one reduction over the mention stream.  One collect of that
    dictionary, capped at DRIVER_LINK_MAX_NORMS + 1 rows, picks the link
    path.  On the driver path the same rows feed the kernel, and the
    components, canonical names, kinds and sorted aliases are assembled in
    Python — the in-process identity map of IDriver.scala:19-20 — and handed
    back as local frames, so no further job derives them.  Both frames take
    ``entity_id`` from Spark's own ``xxhash64`` projected over them.

    A NULL norm names nothing and can never join a triple, so both paths
    drop it here.
    """
    norm_kind = mentions.filter(F.col("norm").isNotNull()).groupBy("norm").agg(
        F.min(F.when(F.col("kind") != "entity", F.col("kind"))).alias("kind_hint")
    )
    cap = DRIVER_LINK_MAX_NORMS  # 0: always distributed
    head = norm_kind.limit(cap + 1).collect() if cap else []
    hints = {r["norm"]: r["kind_hint"] for r in head}
    if cap and len(head) <= cap and all(n.isascii() for n in hints):
        comp = norm_components(norm_kind, tau, norms=list(hints))
        canonical = {r["norm"]: r["canonical_norm"] for r in comp.collect()}
        return _driver_entities(mentions.sparkSession, hints, canonical)
    # Distributed path: the capped collect, if any, is dropped and the
    # dictionary aggregated again, into a checkpoint.  Everything downstream
    # (entities, norm->entity dictionary) is dictionary-sized; without the
    # eager cut, every broadcast exchange of a derived table launches its own
    # job that re-scans the full cached change log — measured ~8-10
    # redundant big-cache scans (~90 s at local[16], k=48) for tables of a
    # few thousand rows.  The driver path needs no cut: its frames are local
    # relations.
    norm_kind = norm_kind.localCheckpoint(eager=True)
    comp = norm_components(norm_kind, tau).cache()  # reused by entities + dict
    member = comp.join(norm_kind, "norm", "left")
    ent = (
        member.groupBy("canonical_norm")
        .agg(
            F.min("kind_hint").alias("kind_hint"),
            F.sort_array(F.collect_set("norm")).alias("aliases"),
        )
        .select(
            F.col("canonical_norm").alias("canonical_name"),
            F.coalesce("kind_hint", F.lit("entity")).alias("kind"),
            "aliases",
        )
    )
    entities = ent.select(
        entity_id_col("kind", "canonical_name").alias("entity_id"),
        "canonical_name",
        "kind",
        "aliases",
    )
    norm_to_entity = (
        comp.join(
            entities.select(
                F.col("canonical_name").alias("canonical_norm"), "entity_id"
            ),
            "canonical_norm",
        )
        .select("norm", "entity_id")
    )
    return entities, norm_to_entity


def _driver_entities(
    spark, hints: dict[str, str | None], canonical: dict[str, str]
) -> tuple[DataFrame, DataFrame]:
    """build_entities' driver-path assembly, with the distributed path's
    semantics: a component's kind is its members' smallest kind hint, else
    'entity'; aliases are its member norms, sorted."""
    members: dict[str, list[str]] = {}
    for norm, canon in canonical.items():
        members.setdefault(canon, []).append(norm)
    ent_rows, dict_rows = [], []
    for canon, norms in members.items():
        kinds = [hints[n] for n in norms if hints[n] is not None]
        kind = min(kinds) if kinds else "entity"
        ent_rows.append((canon, kind, sorted(norms)))
        dict_rows.extend((n, kind, canon) for n in norms)
    entity_id = entity_id_col("kind", "canonical_name").alias("entity_id")
    entities = local_frame(
        spark, ent_rows, "canonical_name string, kind string, aliases array<string>"
    ).select(entity_id, "canonical_name", "kind", "aliases")
    norm_to_entity = local_frame(
        spark, dict_rows, "norm string, kind string, canonical_name string"
    ).select("norm", entity_id)
    return entities, norm_to_entity


def canonicalize_triples(raw_triples: DataFrame, norm_to_entity: DataFrame) -> DataFrame:
    """Rewrite raw (norm-keyed) triples to entity-id triples.

    The norm->entity dictionary (one row per distinct norm) is always
    broadcast, so the fact-table join is map-side: the triple stream is not
    shuffled.  The hint is unconditional; a dictionary too large to
    broadcast is not demoted to a shuffle join.
    """
    d = F.broadcast(norm_to_entity)
    subj_d = d.select(F.col("norm").alias("subj_norm"), F.col("entity_id").alias("subj"))
    obj_d = d.select(F.col("norm").alias("obj_norm"), F.col("entity_id").alias("obj"))
    return (
        raw_triples.join(subj_d, "subj_norm")
        .join(obj_d, "obj_norm")
        .select(
            "subj", "pred", "obj", "conv_id", "turn_idx", "src_mention", "obj_mention"
        )
    )

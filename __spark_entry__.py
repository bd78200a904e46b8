"""Driver contract for the spark-graft builder.

``queries()`` maps SURVEY.md §2 operator ids to runnable DataFrame builders;
``oracle_sql()`` carries the DuckDB-equivalent SQL (same column names/types,
computed identically — rounding is CAST(... AS DOUBLE) because DuckDB round()
returns DECIMAL).  Every queries() entry has an oracle_sql() twin — the
streaming and pandas-UDF ops included (their oracles recompute the same
values from the base tables).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from plume_spark import graft
from plume_spark.functions.quantize import qround
from plume_spark.operators import dedup, similarity, traversal
from plume_spark.operators.extraction import extract_changelog, split_changelog
from plume_spark.pipeline import run_pipeline, triples_with_names
from plume_spark.session import local_frame

NORM_SQL = (
    "trim(regexp_replace(regexp_replace(lower({col}), '[^a-z0-9]+', ' ', 'g'), "
    "'\\s+', ' ', 'g'))"
)

LOOKUP_NAMES = [
    "Customer#000000003",
    "Customer#000000007",
    "Customer#000000021",
    "Customer#000000042",
    "Customer#000000099",
]


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the full KG pipeline (extraction -> LSH linking -> CC
    canonicalization -> triple materialize) over transcripts derived from
    sf0.001.  tau=0.95: sequential customer names are near but distinct."""
    t = graft.kg_transcripts(spark, "/root/testdata/sf0.001")
    result = run_pipeline(t, tau=0.95)
    return triples_with_names(result).orderBy("conv_id", "turn_idx")


# --------------------------------------------------------------------------
# queries — (spark, sf_dir) -> DataFrame
# --------------------------------------------------------------------------


def _q_w1(spark, sf):
    t = graft.transcripts_from_events(spark, sf)
    return t.filter(F.col("turn_idx") < 3).select("conv_id", "turn_idx", "role", "text")


def _q_w2(spark, sf):
    t = graft.transcripts_from_events(spark, sf)
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    return (
        t.withColumn("prev_text", F.lag("text").over(w))
        .filter(F.col("turn_idx") < 3)
        .select("conv_id", "turn_idx", "prev_text")
    )


def _q_o1(spark, sf):
    e = graft.load(spark, sf, "events")
    return (
        e.orderBy(F.col("value").desc(), F.col("event_id").asc())
        .limit(100)
        .select("event_id", "value")
    )


def _q_a1(spark, sf):
    e = graft.load(spark, sf, "events")
    return e.groupBy("user_id").agg(
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
        F.count("*").alias("n"),
    )


def _q_a2(spark, sf):
    e = graft.load(spark, sf, "events")
    return e.filter(F.col("value") > 100).agg(F.count("*").alias("n"))


def _q_a5(spark, sf):
    e = graft.load(spark, sf, "events")
    return e.groupBy("user_id").agg(
        F.concat_ws(",", F.array_sort(F.collect_set("event_type"))).alias("event_types")
    )


def _q_u1(spark, sf):
    e = graft.load(spark, sf, "events")
    hi = e.filter(F.col("value") > 150).select("event_type")
    lo = e.filter(F.col("value") < 50).select("event_type")
    return hi.union(lo).distinct()


def _q_p1(spark, sf):
    c = graft.load(spark, sf, "customer")
    return c.select(
        "c_custkey",
        F.coalesce("c_mktsegment", F.lit("<empty>")).alias("segment"),
        F.coalesce("c_acctbal", F.lit(-1.0)).alias("acctbal"),
    )


def _q_j1(spark, sf):
    o = graft.load(spark, sf, "orders")
    c = graft.load(spark, sf, "customer")
    return o.join(c, o["o_custkey"] == c["c_custkey"]).select(
        "o_orderkey", "c_name", "o_totalprice"
    )


def _q_p2(spark, sf):
    o = graft.load(spark, sf, "orders")
    c = graft.load(spark, sf, "customer").filter(F.col("c_acctbal") > 5000)
    return (
        o.select(F.col("o_custkey").alias("custkey"))
        .join(c.select(F.col("c_custkey").alias("custkey")), "custkey", "left_semi")
        .distinct()
    )


def _q_p3(spark, sf):
    o = graft.load(spark, sf, "orders")
    li = graft.load(spark, sf, "lineitem")
    fwd = o.filter(F.col("o_custkey") == 1).limit(1).agg(
        (F.count(F.lit(1)) > 0).alias("fwd")
    )
    missing = li.filter(F.col("l_orderkey") == -5).limit(1).agg(
        (F.count(F.lit(1)) > 0).alias("missing")
    )
    return fwd.crossJoin(missing)


def _q_p7(spark, sf):
    return traversal.roots(graft.dag_edges(spark, sf))


def _q_j6(spark, sf):
    edges = graft.dag_edges(spark, sf)
    seeds = (
        graft.load(spark, sf, "customer")
        .filter(F.col("c_custkey") < 5)
        .select(F.col("c_custkey").alias("node"))
    )
    return traversal.out_neighbors(edges, seeds)


def _q_j7(spark, sf):
    edges = graft.dag_edges(spark, sf)
    seeds = (
        graft.load(spark, sf, "customer")
        .filter(F.col("c_custkey") < 10)
        .select(F.col("c_custkey").alias("node"))
    )
    return traversal.k_hop(edges, seeds, 2)


def _q_j7r(spark, sf):
    edges = graft.dag_edges(spark, sf)
    seeds = (
        graft.load(spark, sf, "customer")
        .filter(F.col("c_custkey") < 3)
        .select(F.col("c_custkey").alias("node"))
    )
    return traversal.reachable(edges, seeds)


def _q_g5_bfs(spark, sf):
    """Min-hop BFS distances over the 3-level transcript DAG from the same
    seed set as j7_reachable — the distance-annotated traversal.  The engine
    runs the generic iterative frontier BFS (cycle-safe via the visited
    anti-join); the oracle exploits the known DAG shape: dist 0 = seeds,
    dist 1 = their orders, dist 2 = those orders' parts, MIN() folding
    multi-path reaches."""
    edges = graft.dag_edges(spark, sf)
    seeds = (
        graft.load(spark, sf, "customer")
        .filter(F.col("c_custkey") < 3)
        .select(F.col("c_custkey").alias("node"))
    )
    return traversal.bfs_distances(edges, seeds)


def _q_g1_pagerank(spark, sf):
    """Iterative PageRank (3 synchronous iterations) over the 3-level DAG —
    one shuffle per iteration, partial-agg contributions (skew-safe)."""
    from plume_spark.operators.pagerank import pagerank

    return pagerank(graft.dag_edges(spark, sf))


def _q_w3_sessionize(spark, sf):
    """Gap-based sessionization (30-min inactivity closes a session): the
    standard event-stream operator the reference's per-conversation grouping
    approximates.  One window pass: flag gaps > threshold, running-sum the
    flags into session ordinals — no self-join, no UDF."""
    e = graft.load(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    # fractional epoch seconds (micros / 1e6, bit-identical in both engines)
    # — unix_timestamp truncates to whole seconds and shifts gap thresholds
    ts_s = F.col("ts").cast("timestamp").cast("double")
    gap = ts_s - F.lag(ts_s).over(w)
    return (
        e.withColumn("new_sess", F.when(gap.isNull() | (gap > 1800), 1).otherwise(0))
        .withColumn("session_idx", F.sum("new_sess").over(w).cast("long"))
        .select("event_id", "user_id", "session_idx")
    )


def _q_f5_json_payload(spark, sf):
    """JSON payload construction + parsing (F5, TigerGraphDriver.scala:94-145
    analog): build a JSON document per event, then extract fields back —
    round-trip through the engine's JSON codec, all codegen."""
    e = graft.load(spark, sf, "events")
    doc = F.to_json(F.struct(F.col("event_type").alias("t"), F.col("value").alias("v")))
    return e.select(
        "event_id",
        F.get_json_object(doc, "$.t").alias("t"),
        F.get_json_object(doc, "$.v").cast("double").alias("v"),
    )


def _q_f11_levenshtein(spark, sf):
    """Blocked edit-distance fuzzy match (the verify alternative to gram
    Jaccard in entity linking): customer-name pairs within a nation block
    at Levenshtein distance <= 2.

    Scale design: the block key is COMPOUND (nation, name-length bucket) —
    a bare nation block grows linearly with the corpus (25 values), making
    the within-block self-join quadratic at 100x.  Length bucketing is
    guaranteed-covering: dist <= 2 implies |len_a - len_b| <= 2, so the
    probe side expands to the <= 2 buckets that can hold a match (width 4).
    The |len_a - len_b| <= 2 Levenshtein lower bound rides in the join
    condition, killing most candidates before the O(len^2) distance."""
    c = graft.load(spark, sf, "customer").select("c_custkey", "c_name", "c_nationkey")
    a = c.select(
        F.col("c_nationkey").alias("blk_a"),
        F.col("c_custkey").alias("id_a"),
        F.col("c_name").alias("name_a"),
        F.length("c_name").alias("len_a"),
    ).select(
        "*",
        F.explode(
            F.sequence(
                F.floor((F.col("len_a") - 2) / 4), F.floor((F.col("len_a") + 2) / 4)
            )
        ).alias("lb"),
    )
    b = c.select(
        F.col("c_nationkey").alias("blk_b"),
        F.col("c_custkey").alias("id_b"),
        F.col("c_name").alias("name_b"),
        F.length("c_name").alias("len_b"),
    ).withColumn("lb", F.floor(F.col("len_b") / 4))
    return (
        a.join(
            b,
            (F.col("blk_a") == F.col("blk_b"))
            & (a["lb"] == b["lb"])
            & (F.col("id_a") < F.col("id_b"))
            & (F.abs(F.col("len_a") - F.col("len_b")) <= 2),
        )
        .withColumn("dist", F.levenshtein("name_a", "name_b"))
        .filter(F.col("dist") <= 2)
        .select("id_a", "id_b", "dist")
    )


def _q_w4_sliding_rate(spark, sf):
    """Sliding event rate: per event, how many same-user events fell in the
    preceding hour — a RANGE frame over event time (one window pass; the
    self-join formulation t2 uses is the non-window twin)."""
    e = graft.load(spark, sf, "events")
    # fractional epoch seconds — see w3: whole-second truncation moves the
    # RANGE frame boundary relative to the oracle's epoch(ts)
    ts_s = F.col("ts").cast("timestamp").cast("double")
    w = (
        Window.partitionBy("user_id")
        .orderBy(ts_s)
        .rangeBetween(-3600, Window.currentRow)
    )
    return e.select(
        "event_id", "user_id", F.count(F.lit(1)).over(w).alias("n_last_hour")
    )


def _q_a9_pivot(spark, sf):
    """Pivot (wide per-user event counts) with a FIXED value list so the
    plan is one pass (no values-discovery job) — the dashboard cross-tab."""
    e = graft.load(spark, sf, "events")
    kinds = ["click", "view", "purchase", "signup", "error"]
    out = e.groupBy("user_id").pivot("event_type", kinds).count()
    return out.select(
        "user_id", *[F.coalesce(F.col(k), F.lit(0)).alias(f"n_{k}") for k in kinds]
    )


_KG_MEMO: dict[tuple, tuple] = {}


def _kg_flagship(spark, sf, tau=0.95, substrate="base"):
    """ONE flagship build shared by the kg_* analytics queries.

    kg_entity_degrees / kg_path2 / kg_triple_support / kg_entities are all
    1-3 s aggregations over the flagship output, but each previously re-ran
    the full ~15 s (sf0.1) pipeline cold (round-3 VERDICT #5).  The memo is
    keyed on (Spark application id, resolved sf dir, tau) — a fresh session
    or a different input never sees a stale hit, and entries from dead
    sessions are evicted on insert (localCheckpointed RDDs die with their
    session).  The flagship contract query itself stays UNMEMOIZED so bench
    timings keep measuring the real end-to-end build.

    Returns (entities, named_triples), both eagerly localCheckpointed so the
    four consumers pay the build exactly once per gate/bench session."""
    key = (spark.sparkContext.applicationId, os.path.realpath(sf), tau, substrate)
    hit = _KG_MEMO.get(key)
    if hit is not None:
        return hit
    for k in [k for k in _KG_MEMO if k[0] != key[0]]:
        del _KG_MEMO[k]
    make = {
        "base": graft.kg_transcripts,
        "varied": graft.kg_transcripts_varied,
        "alias": graft.kg_transcripts_alias,
    }[substrate]
    res = run_pipeline(make(spark, sf), tau=tau)
    out = (
        res.entities.localCheckpoint(eager=True),
        triples_with_names(res).localCheckpoint(eager=True),
    )
    _KG_MEMO[key] = out
    return out


def _co_backbone(spark, sf):
    """ONE part co-purchase backbone (co_occurrence_edges over lineitem)
    shared by the graph-structure family g3/g7/g8/g9/g10 — each previously
    rebuilt the same two-shuffle edge table cold (round-4 VERDICT plan
    audit / "Next round" #4).  Same memo discipline as ``_kg_flagship``:
    keyed on (application id, resolved sf dir), dead-session entries
    evicted on insert, eagerly localCheckpointed so consumers pay the
    build exactly once per gate/bench session.  g4_cooccur — the edge
    build CONTRACT query itself — stays unmemoized so bench keeps
    measuring the real construction cost."""
    key = (spark.sparkContext.applicationId, os.path.realpath(sf), "co", "backbone")
    hit = _KG_MEMO.get(key)
    if hit is not None:
        return hit
    for k in [k for k in _KG_MEMO if k[0] != key[0]]:
        del _KG_MEMO[k]
    from plume_spark.operators.graph_metrics import co_occurrence_edges

    li = graft.load(spark, sf, "lineitem")
    out = co_occurrence_edges(li, "l_orderkey", "l_partkey").localCheckpoint(
        eager=True
    )
    _KG_MEMO[key] = out
    return out


def _q_kg_entity_degrees(spark, sf):
    """Graph analytics over the BUILT knowledge graph (not the raw tables):
    per canonical entity, out-degree, in-degree, and distinct predicates —
    the degree-distribution read every KG consumer starts with.  Pure
    composition over the flagship pipeline's output; the oracle re-derives
    the triple set via the same gram-fingerprint canonicalization CTE."""
    _, named = _kg_flagship(spark, sf)
    outd = named.groupBy(F.col("subj_name").alias("name")).agg(
        F.count("*").alias("out_deg"),
        F.countDistinct("pred").alias("n_preds"),
    )
    ind = named.groupBy(F.col("obj_name").alias("name")).agg(
        F.count("*").alias("in_deg")
    )
    return (
        outd.join(ind, "name", "full")
        .select(
            "name",
            F.coalesce("out_deg", F.lit(0)).alias("out_deg"),
            F.coalesce("in_deg", F.lit(0)).alias("in_deg"),
            F.coalesce("n_preds", F.lit(0)).alias("n_preds"),
        )
    )


def _kg_with_regions(spark, sf):
    """Flagship triples unioned with nation->region 'located_in' edges (same
    norm as the pipeline, applied to nation/region names from the source
    tables) — the two-relation KG that makes path composition non-trivial."""
    from plume_spark.functions.textnorm import norm_col

    _, named = _kg_flagship(spark, sf)
    t1 = named.select("subj_name", "pred", "obj_name")
    n = graft.load(spark, sf, "nation")
    r = graft.load(spark, sf, "region")
    t2 = (
        n.join(r, n["n_regionkey"] == r["r_regionkey"])
        .select(
            norm_col("n_name").alias("subj_name"),
            F.lit("located_in").alias("pred"),
            norm_col("r_name").alias("obj_name"),
        )
    )
    return t1.unionByName(t2).distinct()


def _q_kg_entities(spark, sf):
    """The ENTITY side of the built KG under the value gate (triples are
    checked by the flagship; this checks canonicalization's other output):
    per canonical entity, its inferred kind (min non-'entity' kind hint over
    member norms) and its alias set (sorted member norms, projected to CSV
    for an engine-portable value hash).  The oracle re-derives the clusters
    via the same gram-fingerprint CTE and re-applies the kind-hint rule."""
    ents, _ = _kg_flagship(spark, sf)
    return ents.select(
        "canonical_name",
        "kind",
        F.size("aliases").cast("long").alias("n_aliases"),
        F.array_join("aliases", ",").alias("alias_csv"),
    )


def _q_kg_path2(spark, sf):
    """2-hop relation composition over the built KG + located_in edges:
    how many (subj -pred1-> mid -pred2-> obj) paths exist per predicate
    pair — the relation-cooccurrence statistic schema-inference and
    rule-mining passes start from.

    Scale: the naive formulation self-joins the triple table on
    mid-entity (fan-out = in-deg x out-deg per entity — quadratic at hub
    entities).  This is rewritten as the degree product: per mid entity,
    count incoming edges per pred1 and outgoing per pred2, join the two
    SMALL per-entity aggregates, and sum n_in * n_out — identical counts,
    but the path set is never materialized and the worst case is
    O(|entities| x |preds|^2), not O(paths).  The oracle runs the naive
    join so the rewrite is verified against the definition."""
    d = _kg_with_regions(spark, sf)
    inc = d.groupBy(F.col("obj_name").alias("mid"), F.col("pred").alias("pred1")).agg(
        F.count(F.lit(1)).alias("n_in")
    )
    outc = d.groupBy(
        F.col("subj_name").alias("mid"), F.col("pred").alias("pred2")
    ).agg(F.count(F.lit(1)).alias("n_out"))
    return (
        inc.join(outc, "mid")
        .groupBy("pred1", "pred2")
        .agg(F.sum(F.col("n_in") * F.col("n_out")).alias("n_paths"))
    )


def _q_kg_triple_support(spark, sf):
    """Per canonical triple: mention support — total mentions, distinct
    conversations, and first turn seen.  The confidence signal downstream
    KG consumers rank/threshold on (a triple asserted across many
    independent conversations outranks a one-off).  One partial-agg
    groupBy over the flagship output; countDistinct(conv_id) is exact."""
    _, named = _kg_flagship(spark, sf)
    return named.groupBy("subj_name", "pred", "obj_name").agg(
        F.count(F.lit(1)).alias("n_mentions"),
        F.countDistinct("conv_id").alias("n_convs"),
        F.min("turn_idx").alias("first_turn"),
    )


def _q_kg_pred_cardinality(spark, sf):
    """Predicate cardinality profiling over the built KG — the
    schema-inference read that decides whether a predicate is functional
    (N:1), inverse-functional (1:N), or M:N before rule mining / conflict
    detection.  Two partial-agg groupBys over the distinct edge set joined
    on pred (2 rows out) — never a per-pair window."""
    _, named = _kg_flagship(spark, sf)
    d = named.select("pred", "subj_name", "obj_name").distinct()
    # every subject-side statistic folds out of ONE per-(pred, subj) partial
    # (n_pairs = sum of per-subject distinct objs; n_subj = row count;
    # max = max) — no countDistinct expands, no second pass over d
    per_subj = d.groupBy("pred", "subj_name").agg(F.count(F.lit(1)).alias("o"))
    per_obj = d.groupBy("pred", "obj_name").agg(F.count(F.lit(1)).alias("s"))
    subj_stats = per_subj.groupBy("pred").agg(
        F.sum("o").alias("n_pairs"),
        F.count(F.lit(1)).alias("n_subj"),
        F.max("o").alias("max_obj_per_subj"),
    )
    obj_stats = per_obj.groupBy("pred").agg(
        F.count(F.lit(1)).alias("n_obj"),
        F.max("s").alias("max_subj_per_obj"),
    )
    return subj_stats.join(obj_stats, "pred").select(
        "pred",
        "n_pairs",
        "n_subj",
        "n_obj",
        "max_obj_per_subj",
        "max_subj_per_obj",
        (F.col("max_obj_per_subj") == 1).alias("functional"),
    )


def _q_kg_entity_cooccur(spark, sf):
    """Canonical-entity co-mention graph: entity pairs appearing in the same
    conversation, weighted by distinct conversations — the edge generator
    for entity-graph analytics (g1/g2/g6 consume exactly this shape).
    The within-conversation self-join's fan-out is bounded by per-conv
    entity count (itself bounded by turns per conversation), never by
    corpus size — the same hub-safety argument as g4_cooccur."""
    _, named = _kg_flagship(spark, sf)
    m = (
        named.select("conv_id", F.col("subj_name").alias("name"))
        .unionByName(named.select("conv_id", F.col("obj_name").alias("name")))
        .distinct()
    )
    a, b = m.alias("a"), m.alias("b")
    return (
        a.join(b, "conv_id")
        .filter(F.col("a.name") < F.col("b.name"))
        .groupBy(F.col("a.name").alias("name_a"), F.col("b.name").alias("name_b"))
        .agg(F.count(F.lit(1)).alias("n_convs"))
    )


def _q_t5_interval_overlap(spark, sf):
    """Interval overlap join over gap-sessionized spans: every pair of
    sessions (across users) that overlap in wall-clock time, with the exact
    overlap in microseconds — the concurrency/load read (how many sessions
    run at once) and the contact-tracing join shape.  The operator is the
    grid-blocked self-join from operators/temporal.py: bucket-explode, one
    equi-join on bucket, exact filter, later-start dedup — never the naive
    |sessions|^2 theta-join the oracle runs."""
    from plume_spark.operators.temporal import interval_overlap_pairs

    e = graft.load(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    ts_s = F.col("ts").cast("timestamp").cast("double")
    gap = ts_s - F.lag(ts_s).over(w)
    sess = (
        e.withColumn("new_sess", F.when(gap.isNull() | (gap > 1800), 1).otherwise(0))
        .withColumn("session_idx", F.sum("new_sess").over(w).cast("long"))
        .groupBy("user_id", "session_idx")
        .agg(F.min("ts").alias("s_start"), F.max("ts").alias("s_end"))
    )
    return interval_overlap_pairs(sess, ("user_id", "session_idx"))


def _q_g9_assortativity(spark, sf):
    """Degree assortativity of the co-purchase backbone (g8's substrate):
    exact int64 degree moments + the Pearson coefficient r — the one-number
    mixing diagnostic (hub-hub vs hub-leaf wiring) run before committing to
    a partitioning strategy for iterative graph work.  Oracle generated next
    to the operator from the same edge SQL."""
    from plume_spark.operators.graph_metrics import assortativity_moments

    backbone = _co_backbone(spark, sf).filter(F.col("n_groups") >= 2)
    return assortativity_moments(backbone)


def _q_g10_clustering(spark, sf):
    """Local clustering coefficient over the co-purchase backbone (g3's
    substrate): per node, degree, triangle participation, and
    cc = 2T/(deg*(deg-1)) — the transitivity profile that separates
    community-like neighborhoods from star hubs before choosing between
    triangle-based and propagation-based algorithms.  Oracle generated next
    to the operator (clustering_oracle_sql) from the same items SQL, so the
    degree-ordered orientation and cap stay in lockstep with g3."""
    from plume_spark.operators.graph_metrics import clustering_coefficient

    return clustering_coefficient(_co_backbone(spark, sf))


def _q_kg_conflicts(spark, sf):
    """Functional-dependency conflict detection over the built KG: every
    (subject, predicate) asserting >= 2 distinct objects, with the sorted
    object list — the contradiction surface a KG curation pass reviews
    first (e.g. one customer 'placed' many orders is fine; two birth dates
    are not; the cardinality profile from kg_pred_cardinality says which).
    One distinct + one partial-agg groupBy over the flagship output."""
    _, named = _kg_flagship(spark, sf)
    d = named.select("subj_name", "pred", "obj_name").distinct()
    return (
        d.groupBy("subj_name", "pred")
        .agg(
            F.count(F.lit(1)).alias("n_objs"),
            F.array_join(F.array_sort(F.collect_set("obj_name")), ",").alias(
                "obj_csv"
            ),
        )
        .filter(F.col("n_objs") >= 2)
    )


def _q_w8_transition_matrix(spark, sf):
    """First-order Markov transition matrix over per-user event sequences:
    (from_type, to_type, n, p) where p is row-normalized within from_type —
    the behavioral-model read (what follows a click?) and the input to
    sequence-anomaly scoring.  One window shuffle for the lag, one
    partial-agg groupBy, then a window over the ~|types|^2 result rows —
    the normalization never touches event-scale data."""
    e = graft.load(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    t = e.select(
        F.lag("event_type").over(w).alias("from_type"),
        F.col("event_type").alias("to_type"),
    ).filter(F.col("from_type").isNotNull())
    cnt = t.groupBy("from_type", "to_type").agg(F.count(F.lit(1)).alias("n"))
    return cnt.select(
        "from_type",
        "to_type",
        "n",
        qround(
            F.col("n") / F.sum("n").over(Window.partitionBy("from_type")), 4
        ).alias("p"),
    )


def _q_w7_retention_cohorts(spark, sf):
    """Weekly cohort retention over events: cohort = the user's first-seen
    week, each (cohort_week, week_offset) cell counts distinct users still
    active that many weeks later — the canonical growth-analytics triangle.
    One groupBy for first-seen, one distinct activity projection, one
    partial-agg count — all shuffles on the keys they aggregate by."""
    e = graft.load(spark, sf, "events")
    first = e.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    active = e.select(
        "user_id", F.date_trunc("week", F.col("ts")).alias("week")
    ).distinct()
    return (
        active.join(first, "user_id")
        .groupBy(
            "cohort_week",
            (F.datediff("week", "cohort_week") / 7).cast("int").alias("week_offset"),
        )
        .agg(F.countDistinct("user_id").alias("n_users"))
    )


def _q_t4_resample_gapfill(spark, sf):
    """Hourly resample with forward fill: a per-user time spine (every hour
    from the user's first to last event) left-joined to the hourly
    aggregates; empty buckets carry the previous close forward — the
    telemetry/metrics gap-fill shape.  The spine is generated by a sequence
    expression (no spine table materialized), the fill is one IGNORE NULLS
    window over the (user, bucket) shuffle the aggregate already made."""
    e = graft.load(spark, sf, "events").withColumn(
        "bucket_ts", F.date_trunc("hour", F.col("ts"))
    )
    wd = Window.partitionBy("user_id", "bucket_ts").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    hourly = (
        e.withColumn("_rd", F.row_number().over(wd))
        .groupBy("user_id", "bucket_ts")
        .agg(
            F.count("*").alias("n"),
            F.max(F.when(F.col("_rd") == 1, F.col("value"))).alias("v_close"),
        )
    )
    spine = (
        e.groupBy("user_id")
        .agg(
            F.min("bucket_ts").alias("_lo"),
            F.max("bucket_ts").alias("_hi"),
        )
        .select(
            "user_id",
            F.explode(F.expr("sequence(_lo, _hi, interval 1 hour)")).alias("bucket_ts"),
        )
    )
    wf = (
        Window.partitionBy("user_id")
        .orderBy("bucket_ts")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        spine.join(hourly, ["user_id", "bucket_ts"], "left")
        .select(
            "user_id",
            "bucket_ts",
            F.coalesce("n", F.lit(0)).alias("n"),
            F.round(F.last("v_close", ignorenulls=True).over(wf), 6).alias("v_fill"),
        )
    )


def _q_w5_funnel(spark, sf):
    """Ordered conversion funnel (click -> view -> purchase, strictly later
    stages only): per-stage first-completion times + reached stage.  Three
    filtered aggregates chained by user-keyed joins — each stage's input is
    only the users that reached the previous stage, so the work SHRINKS
    down the funnel (never a per-user sort of all events)."""
    e = graft.load(spark, sf, "events")
    c = (
        e.filter(F.col("event_type") == "click")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
    )
    v = (
        e.filter(F.col("event_type") == "view")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("t_click"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    return (
        c.join(v, "user_id", "left")
        .join(p, "user_id", "left")
        .select(
            "user_id",
            "t_click",
            "t_view",
            "t_purchase",
            (
                F.lit(1)
                + F.col("t_view").isNotNull().cast("int")
                + F.col("t_purchase").isNotNull().cast("int")
            ).alias("stage"),
        )
    )


def _q_t3_ohlc_downsample(spark, sf):
    """Time-bucketed OHLC downsample: per (user, hour) open/high/low/close
    over event values, ordered by (ts, event_id).  One window pass computes
    both endpoint ranks, then a grouped aggregate — the telemetry/market
    rollup shape (at scale: partition-pruned by the time bucket, the window
    and the aggregate share one (user, bucket) shuffle)."""
    e = graft.load(spark, sf, "events").withColumn(
        "bucket_ts", F.date_trunc("hour", F.col("ts"))
    )
    w = Window.partitionBy("user_id", "bucket_ts").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    wd = Window.partitionBy("user_id", "bucket_ts").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    r = e.select(
        "user_id",
        "bucket_ts",
        "value",
        F.row_number().over(w).alias("_ra"),
        F.row_number().over(wd).alias("_rd"),
    )
    return r.groupBy("user_id", "bucket_ts").agg(
        F.count("*").alias("n"),
        F.max(F.when(F.col("_ra") == 1, F.col("value"))).alias("v_open"),
        F.max("value").alias("v_high"),
        F.min("value").alias("v_low"),
        F.max(F.when(F.col("_rd") == 1, F.col("value"))).alias("v_close"),
    )


def _q_u3_except_intersect(spark, sf):
    """EXCEPT/INTERSECT set ops (beyond the reference's union-only absorb):
    users who purchased but never errored, and users who did both."""
    e = graft.load(spark, sf, "events")
    p = e.filter(F.col("event_type") == "purchase").select("user_id")
    err = e.filter(F.col("event_type") == "error").select("user_id")
    only = p.subtract(err).withColumn("kind", F.lit("purchase_only"))
    both = p.intersect(err).withColumn("kind", F.lit("both"))
    return only.unionByName(both)


def _q_a7_percentiles(spark, sf):
    """Exact interpolated percentiles per group — the latency-style summary
    every events pipeline ships; Catalyst's native percentile aggregate
    (sort-based partial agg), no sketch approximation."""
    e = graft.load(spark, sf, "events")
    return e.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 6).alias("p50"),
        F.round(F.expr("percentile(value, 0.9)"), 6).alias("p90"),
        F.round(F.expr("percentile(value, 0.99)"), 6).alias("p99"),
    )


def _q_a8_rollup(spark, sf):
    """ROLLUP aggregate (per-type subtotals + grand total) — Catalyst's
    native grouping-sets expansion, one pass."""
    e = graft.load(spark, sf, "events")
    # decimal sum: associative/exact, so the rollup total is identical under
    # any partitioning (same determinism pattern as _q_a1)
    return e.rollup("event_type").agg(
        F.count("*").alias("n"),
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
    )


def _q_a10_approx_distinct(spark, sf):
    """HLL++ approximate distinct (the 100 TB scale path for cardinality:
    fixed 2^p-register state per group vs an O(distinct) exact set) checked
    against its own error contract.  The sketch value itself is
    engine-specific and cannot value-match DuckDB, so the contract row
    carries (a) the EXACT distinct count, value-checked, and (b) a boolean
    asserting the HLL estimate landed within 5 sigma of its configured
    rsd=2% — deterministic because HLL registers merge by max (associative,
    commutative), so the estimate is partitioning-independent."""
    e = graft.load(spark, sf, "events")
    return (
        e.groupBy("event_type")
        .agg(
            F.countDistinct("user_id").alias("n_exact"),
            F.approx_count_distinct("user_id", rsd=0.02).alias("n_hll"),
        )
        .select(
            "event_type",
            "n_exact",
            (
                F.abs(F.col("n_hll") - F.col("n_exact"))
                <= F.greatest(F.lit(1.0), F.col("n_exact") * 0.10)
            ).alias("hll_ok"),
        )
    )


def _q_a11_approx_quantile(spark, sf):
    """Greenwald-Khanna quantile sketch (percentile_approx) checked against
    its rank-error contract.  accuracy=10000 bounds rank error at 1e-4; the
    boolean asserts the sketch's p50 lies between the EXACT 0.49 and 0.51
    percentiles (100x the guaranteed bound), which holds under ANY merge
    order of the sketch, so the row is partitioning-independent.  The exact
    interpolated p50 is the value-checked column (same pattern as a7)."""
    e = graft.load(spark, sf, "events")
    return (
        e.groupBy("event_type")
        .agg(
            F.round(F.expr("percentile(value, 0.5)"), 6).alias("p50_exact"),
            F.expr("percentile_approx(value, 0.5, 10000)").alias("p50_gk"),
            F.expr("percentile(value, 0.49)").alias("_lo"),
            F.expr("percentile(value, 0.51)").alias("_hi"),
        )
        .select(
            "event_type",
            "p50_exact",
            ((F.col("p50_gk") >= F.col("_lo")) & (F.col("p50_gk") <= F.col("_hi"))).alias(
                "gk_ok"
            ),
        )
    )


def _q_g2_components(spark, sf):
    """Distributed connected components (driver kernel disabled) over the
    DAG with part edges thinned to obj % 23 == 0 — a multi-component graph
    (~300 components at sf0.01) whose label paths run 8+ hops, so the gate
    exercises the real iterative salted label-propagation loop."""
    from plume_spark.operators.components import connected_components

    # build from source tables so "is a part edge" is provenance, not an id
    # ordinal (obj < NODE_PART_OFFSET breaks once o_orderkey spills past the
    # offset at large sf, and would silently diverge from the oracle)
    o = graft.load(spark, sf, "orders")
    li = graft.load(spark, sf, "lineitem")
    e1 = o.select(
        F.col("o_custkey").alias("subj"),
        (F.lit(graft.NODE_ORDER_OFFSET) + F.col("o_orderkey")).alias("obj"),
    )
    e2 = li.select(
        (F.lit(graft.NODE_ORDER_OFFSET) + F.col("l_orderkey")).alias("subj"),
        (F.lit(graft.NODE_PART_OFFSET) + F.col("l_partkey")).alias("obj"),
    ).filter(F.col("obj") % 23 == 0)
    # max_iters matches the oracle's unroll depth (n_iters=32 below): a graph
    # too deep for the oracle now fails LOUDLY on the Spark side instead of
    # both sides silently agreeing on non-converged labels
    return connected_components(
        e1.unionByName(e2), src="subj", dst="obj", driver_max_edges=0, max_iters=32
    )


def _q_g3_triangles(spark, sf):
    """Per-node triangle counts on the part co-purchase graph (parts sharing
    an order), degree-ordered orientation — hub-safe wedge joins."""
    from plume_spark.operators.graph_metrics import triangle_count

    return triangle_count(_co_backbone(spark, sf))


def _q_g4_cooccur(spark, sf):
    """Co-occurrence edge generation itself (entity co-mention analog):
    part pairs sharing an order, with shared-order counts."""
    from plume_spark.operators.graph_metrics import co_occurrence_edges

    li = graft.load(spark, sf, "lineitem")
    return co_occurrence_edges(li, "l_orderkey", "l_partkey")


def _q_g6_label_prop(spark, sf):
    """Synchronous label propagation (2 rounds) over the transcript DAG read
    as an undirected graph — deterministic community labels (neighbor
    majority, min-label ties).  The oracle is generated next to the
    operator (label_prop_oracle_sql) with the rounds unrolled, so the
    symmetrization and tie-break rules can never silently diverge."""
    from plume_spark.operators.graph_metrics import label_propagation

    edges = graft.dag_edges(spark, sf)
    return label_propagation(edges, n_iters=2, a="subj", b="obj")


def _q_g7_kcore(spark, sf):
    """k-core (k=3) of the part co-purchase graph: iterative whole-round
    peeling until fixpoint — the cohesion filter run before community or
    embedding passes.  The engine peels with a convergence test and raises
    past max_iters; the oracle unrolls the same number of rounds (peeling
    is idempotent at the fixpoint, so over-unrolling is harmless and
    under-unrolling cannot pass silently)."""
    from plume_spark.operators.graph_metrics import k_core

    return k_core(_co_backbone(spark, sf), k=3, max_iters=8)


def _q_g8_common_neighbors(spark, sf):
    """Link prediction over the strong-tie backbone (part pairs sharing >= 2
    orders): for every non-adjacent pair with a shared neighbor, the
    common-neighbor count and neighbor-set Jaccard — the structural
    missing-edge candidate generator.  Middle nodes above the degree cap
    are excluded from the wedge role (hub pairs carry no signal), the same
    degenerate-hub policy as the LSH band cap."""
    from plume_spark.operators.graph_metrics import common_neighbors

    backbone = _co_backbone(spark, sf).filter(F.col("n_groups") >= 2)
    return common_neighbors(backbone, max_degree=64)


def _q_w6_event_runs(spark, sf):
    """Consecutive-run detection (gaps-and-islands): per user and event
    type, the longest unbroken run and run count — the retry/streak pattern
    read (N failed tool calls in a row) that sequential transcript QA
    needs.  Two window row_numbers whose DIFFERENCE is constant within a
    run (the textbook islands trick: no self-join, no UDF), then two
    partial aggs; both windows share the one (user_id) shuffle."""
    e = graft.load(spark, sf, "events")
    w_all = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    w_typ = Window.partitionBy("user_id", "event_type").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    runs = (
        e.withColumn("grp", F.row_number().over(w_all) - F.row_number().over(w_typ))
        .groupBy("user_id", "event_type", "grp")
        .agg(F.count(F.lit(1)).alias("run_len"))
    )
    return runs.groupBy("user_id", "event_type").agg(
        F.max("run_len").alias("max_run"), F.count(F.lit(1)).alias("n_runs")
    )


def _q_diag_hot_keys(spark, sf):
    """Skew diagnostic: heaviest join-key values with row share — what sizes
    n_salts / flags AQE-skew candidates before a big join."""
    from plume_spark.operators.skew import hot_keys

    return hot_keys(graft.load(spark, sf, "events"), "user_id", top_n=20)


def _q_t1_asof_join(spark, sf):
    """As-of join (union-window composition, one shuffle): each purchase gets
    the latest same-user view at or before it."""
    from plume_spark.operators.temporal import asof_join

    ev = graft.load(spark, sf, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id", "ts", "event_id"
    )
    out = asof_join(
        purchases, views, key="user_id", right_vals=("event_id",), prefix="matched_"
    )
    return out.select(
        "event_id", "user_id", F.col("matched_event_id").alias("matched_view")
    )


def _q_t7_asof_tolerance(spark, sf):
    """As-of join with a staleness tolerance (pandas merge_asof's
    ``tolerance``, kdb wj's window edge): each purchase matches the latest
    same-user view at or before it ONLY if that view is at most 10 minutes
    old — older matches null out, and the match age rides along in
    microseconds.  Pure post-projection over the one-shuffle union-window
    as-of (the carried right timestamp makes the age computable without a
    second join), so the tolerance costs nothing at scale."""
    from plume_spark.operators.temporal import asof_join

    ev = graft.load(spark, sf, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id", "ts", "event_id"
    )
    out = asof_join(
        purchases, views, key="user_id",
        right_vals=("event_id", "ts"), prefix="matched_",
    )
    age_us = F.unix_micros(F.col("ts").cast("timestamp")) - F.unix_micros(
        F.col("matched_ts").cast("timestamp")
    )
    fresh = F.col("matched_ts").isNotNull() & (age_us <= 600 * 1_000_000)
    return out.select(
        "event_id",
        "user_id",
        F.when(fresh, F.col("matched_event_id")).alias("matched_view"),
        F.when(fresh, age_us).alias("age_us"),
    )


def _q_t2_range_join(spark, sf):
    """Bounded range join (bucketed, linear candidates): per purchase, the
    count of same-user clicks in the preceding hour."""
    from plume_spark.operators.temporal import range_join_count

    ev = graft.load(spark, sf, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click").select("user_id", "ts")
    out = range_join_count(purchases, clicks, key="user_id", before_s=3600, after_s=0)
    return out.select("event_id", "user_id", "n_in_range")


def _q_j4(spark, sf):
    c = graft.load(spark, sf, "customer")
    keys = local_frame(spark, [(k,) for k in LOOKUP_NAMES], "c_name string")
    return traversal.point_lookup(c, keys, "c_name").select("c_custkey", "c_name")


def _q_dedup_exact(spark, sf):
    return dedup.exact_dedup(graft.load(spark, sf, "documents"))


def _q_dedup_minhash(spark, sf):
    d = graft.load(spark, sf, "documents")
    out = dedup.minhash_dedup(d, portable_ids=True)
    return out.select("doc_a", "doc_b", qround(F.col("jaccard"), 4).alias("jaccard"))


def _q_dedup_simhash(spark, sf):
    return dedup.simhash(graft.load(spark, sf, "documents"), portable_ids=True)


def _q_dedup_ngram(spark, sf):
    d = graft.load(spark, sf, "documents")
    out = dedup.ngram_jaccard_pairs(d, n=3, tau=0.5)
    return out.select("doc_a", "doc_b", qround(F.col("jaccard"), 4).alias("jaccard"))


def _q_dedup_embedding(spark, sf):
    return dedup.embedding_neardup(graft.load(spark, sf, "embeddings"), tau=0.35)


def _q_dedup_lsh_recall(spark, sf):
    """Dedup retrieval-quality audit: ground truth = the exact
    shingle-blocked Jaccard pairs (dedup_ngram_jaccard's parity path),
    candidate = the banded
    MinHash/LSH pipeline actually used at scale, both at the same tau/unit
    so the comparison is apples-to-apples.  Per exact pair: whether LSH
    found it, plus the exact counts and the acceptance bit
    (n_found * 5 >= n_exact * 4, i.e. recall@tau >= 0.8) — INTEGER
    arithmetic only, so the pin can never trip on float rounding.  With
    16 hashes in 8 two-row bands, P(candidate | J) = 1 - (1 - J^2)^8
    (~0.90 at J = 0.5, ->1 above 0.7); the measured recall tells whether
    the band geometry holds on THIS corpus — the number that justifies
    trusting the sub-quadratic path before turning off the exact one.

    Scale: the exact side is the quadratic-in-hot-shingles parity path —
    audit-only, run on samples at 100 TB; the LSH side is the production
    plan unchanged."""
    d = graft.load(spark, sf, "documents")
    exact = dedup.ngram_jaccard_pairs(d, n=3, tau=0.5).select(
        "doc_a", "doc_b", qround(F.col("jaccard"), 4).alias("jaccard")
    )
    approx = dedup.minhash_dedup(d, portable_ids=True).select(
        "doc_a", "doc_b", F.lit(1).alias("_f")
    )
    j = exact.join(F.broadcast(approx), ["doc_a", "doc_b"], "left")
    w = Window.partitionBy()  # pair-audit table — never raw rows
    found = F.col("_f").isNotNull()
    n_exact = F.count(F.lit(1)).over(w)
    n_found = F.sum(found.cast("int")).over(w)
    return j.select(
        "doc_a",
        "doc_b",
        "jaccard",
        found.alias("lsh_found"),
        n_exact.cast("long").alias("n_exact"),
        n_found.cast("long").alias("n_found"),
        (n_found * 5 >= n_exact * 4).alias("recall_ok"),
    )


def _q_p5(spark, sf):
    # property-presence filter (has(ORDER) analog): events rows with a tool/props value
    e = graft.load(spark, sf, "events")
    return e.filter(F.col("props").isNotNull() & (F.col("props") != "")).select(
        "event_id", "event_type"
    )


def _q_p6(spark, sf):
    # theta predicate on property (orderGt(2) analog)
    e = graft.load(spark, sf, "events")
    return e.filter(F.col("value") > 2).select("event_id", "value")


def _q_p9(spark, sf):
    # role/config-file dispatch filter (isClass/isConfigFile analog)
    t = graft.transcripts_from_events(spark, sf)
    return t.filter(F.col("role").isin("click", "purchase")).select(
        "conv_id", "turn_idx", "role"
    )


def _q_a3(spark, sf):
    # bare node count (clear-path decision, NeptuneDriver.scala:69-77)
    return graft.load(spark, sf, "customer").agg(F.count("*").alias("n"))


def _q_j5(spark, sf):
    # unindexed scan-lookup variant of J4: same semantics, shuffle-hash join
    # forced (no broadcast) — the reference's index-off benchmark twin
    c = graft.load(spark, sf, "customer")
    keys = local_frame(spark, [(k,) for k in LOOKUP_NAMES], "c_name string")
    return (
        c.join(keys.hint("shuffle_hash"), "c_name", "left_semi")
        .select("c_custkey", "c_name")
    )


def _q_f2(spark, sf):
    # list<->CSV round-trip (IDriver.serializeLists/deserializeLists)
    d = graft.load(spark, sf, "documents")
    toks = F.filter(F.split("text", " "), lambda x: x != "")
    return d.select(
        "doc_id",
        F.concat_ws(",", toks).alias("csv"),
        F.size(toks).cast("long").alias("n_items"),
        F.split(F.concat_ws(",", toks), ",").getItem(0).alias("first_item"),
    )


def _q_f8(spark, sf):
    # deterministic content-hash IDs (artifact/method-body hashes, CHANGELOG.md:694,704)
    c = graft.load(spark, sf, "customer")
    return c.select(
        "c_custkey",
        F.sha2(F.concat_ws("|", F.lit("customer"), "c_name"), 256).alias("content_hash"),
    )


def _q_j8(spark, sf):
    # schema-constraint anti-join: level-2 edges whose subj is NOT a customer
    # node (checkEdgeConstraint recast) — count of out-of-domain sources
    edges = graft.dag_edges(spark, sf)
    cust = graft.load(spark, sf, "customer").select(
        F.col("c_custkey").alias("subj")
    )
    return edges.join(cust, "subj", "left_anti").agg(
        F.count("*").alias("n_violations")
    )


def _q_w1_reassemble(spark, sf):
    # per-turn text-equality round trip: turns concatenated in stable order
    # (the north-rule invariant; reference analog TinkerGraphDbTests.scala:20-67)
    from plume_spark.operators.ordering import reassemble

    t = graft.transcripts_from_events(spark, sf)
    return reassemble(t)


def _q_kg_extract_raw(spark, sf):
    t = graft.kg_transcripts(spark, sf)
    _, raw = split_changelog(extract_changelog(t))
    return raw.select("conv_id", "turn_idx", "subj_norm", "pred", "obj_norm")


def _q_kg_build(spark, sf):
    t = graft.kg_transcripts(spark, sf)
    return triples_with_names(run_pipeline(t, tau=0.95))


def _q_j8b_kind_constraints(spark, sf):
    # endpoint-KIND constraint validation (SchemaBuilder.checkEdgeConstraint):
    # perturb every 7th turn's obj_kind to 'tool' — works_at/visited require
    # obj kind 'org', so exactly those rows violate; count per pred.
    from plume_spark.operators.constraints import kind_violations

    t = graft.kg_transcripts(spark, sf)
    _, raw = split_changelog(extract_changelog(t))
    typed = raw.select(
        "pred",
        "subj_kind",
        F.when(F.col("turn_idx") % 7 == 0, F.lit("tool"))
        .otherwise(F.col("obj_kind"))
        .alias("obj_kind"),
    )
    return kind_violations(typed).groupBy("pred").agg(
        F.count("*").alias("n_violations")
    )


def _q_parent_walk(spark, sf):
    # astUp analog (OverflowDbReadBenchmark.scala:70-78): root-ward walk from
    # part leaves through orders to customers over the 3-level DAG.
    edges = graft.dag_edges(spark, sf)
    seeds = (
        graft.load(spark, sf, "lineitem")
        .filter(F.col("l_partkey") < 3)
        .select((F.lit(graft.NODE_PART_OFFSET) + F.col("l_partkey")).alias("node"))
        .distinct()
    )
    return traversal.parent_walk(edges, seeds)


def _q_order_sum(spark, sf):
    # orderSum read benchmark (OverflowDbReadBenchmark.scala:81-89) through
    # the traversal module; l_linenumber is the integer 'order' property.
    nodes = graft.load(spark, sf, "lineitem").select(
        F.col("l_linenumber").alias("order")
    )
    return traversal.order_sum(nodes)


def _q_order_count(spark, sf):
    # callOrder filtered count (OverflowDbReadBenchmark.scala:92-99).
    nodes = graft.load(spark, sf, "lineitem").select(
        F.col("l_linenumber").alias("order")
    )
    return traversal.filtered_count(nodes, "order", 2)


def _q_a4_map_merge(spark, sf):
    # A4 per-id property-map group-merge (TigerGraphDriver.scala:233-237):
    # first-wins per key, key-sorted map; projected to k=v CSV for the
    # engine-portable value hash.
    from plume_spark.operators.properties import merge_property_maps

    e = graft.load(spark, sf, "events").withColumn(
        "props", F.coalesce("props", F.lit(""))
    )
    merged = merge_property_maps(e, "user_id", "event_type", "props", "event_id")
    return merged.select(
        "user_id",
        F.concat_ws(
            ";",
            F.transform(
                F.map_entries("props"),
                lambda kv: F.concat_ws("=", kv["key"], kv["value"]),
            ),
        ).alias("props_csv"),
    )


def _reap_stale_dirs(prefix: str) -> None:
    """Best-effort reclaim of DEAD processes' streaming work dirs: each dir
    embeds its owning pid; a live concurrent process keeps its dirs (os.kill
    probe — portable, no /proc dependency).  Output parquet must outlive its
    creating call (the returned DataFrame is collected lazily), so each run
    cleans up after earlier ones instead of itself."""
    import glob
    import shutil
    import tempfile

    for stale in glob.glob(f"{tempfile.gettempdir()}/{prefix}-*-p*"):
        try:
            owner = int(stale.rsplit("-p", 1)[1])
        except ValueError:
            continue
        if owner == os.getpid():
            continue
        try:
            os.kill(owner, 0)
        except ProcessLookupError:
            shutil.rmtree(stale, ignore_errors=True)
        except OSError:
            pass


def _q_stream_kg_build(spark, sf):
    """The FULL KG pipeline fed by a real Structured Streaming drain instead
    of a batch read: transcripts land as three parquet files (split by
    conversation hash — bulk upstream landings), a file-source stream with
    maxFilesPerTrigger=1 folds each epoch's extraction into the snapshot
    staging table via MERGE-on-rec_id (exactly-once effect), and one
    materialization pass links + canonicalizes + persists the graph tables.
    The returned triples are read back FROM THE STORE, so the oracle (the
    flagship canonicalization CTE) checks the whole streaming persist path
    end-to-end: stream == batch is not just a pytest claim, it's
    value-checked against SQL on every gate run."""
    import tempfile
    from types import SimpleNamespace

    from plume_spark.store import GraphStore
    from plume_spark.streaming import read_transcript_stream, stream_build

    _reap_stale_dirs("plume-kgbuild-contract")
    d = tempfile.mkdtemp(prefix="plume-kgbuild-contract-", suffix=f"-p{os.getpid()}")
    inbox, ckpt = f"{d}/in", f"{d}/ck"

    t = graft.kg_transcripts(spark, sf)
    bucket = F.pmod(F.xxhash64("conv_id"), F.lit(3))
    for i in range(3):
        t.filter(bucket == i).write.mode("append").parquet(inbox)

    store = GraphStore(spark, f"{d}/store")
    stream_build(
        read_transcript_stream(spark, inbox, max_files_per_trigger=1),
        store,
        ckpt,
        tau=0.95,
    )
    result = SimpleNamespace(
        entities=store.entities.read(), triples=store.triples.read()
    )
    return triples_with_names(result)


def _q_kg_build_incr(spark, sf):
    """Incremental BATCH KG build under the value gate (A7/A9 as a contract
    query, not just pytest): build the store from the first 43 of 64
    conversation hash-buckets, then fold the full transcript set in a second
    build_graph call — per-bucket lineage must SKIP the 43 already-committed
    buckets (asserted loudly: the second call may extract at most the 21 new
    ones), extraction MERGEs only the delta, and one global re-materialize
    (canonical names are component-wide minima, so linking is re-run over
    the compact change log, never the transcript text).  The store's final
    triples are read back and checked against the SAME SQL oracle as the
    batch flagship — incremental == one-shot, value-identical."""
    import tempfile
    from types import SimpleNamespace

    from plume_spark.pipeline import build_graph
    from plume_spark.store import GraphStore

    _reap_stale_dirs("plume-incr-contract")
    d = tempfile.mkdtemp(prefix="plume-incr-contract-", suffix=f"-p{os.getpid()}")
    store = GraphStore(spark, f"{d}/store")
    t = graft.kg_transcripts(spark, sf)
    first = t.filter(F.pmod(F.xxhash64("conv_id"), F.lit(64)) < 43)
    build_graph(first, store, n_buckets=64, tau=0.95)
    stats = build_graph(t, store, n_buckets=64, tau=0.95)
    if stats["pending_units"] > 21:
        raise RuntimeError(
            f"incremental build re-extracted {stats['pending_units']} buckets; "
            "unchanged-input skip (A9) regressed"
        )
    result = SimpleNamespace(
        entities=store.entities.read(), triples=store.triples.read()
    )
    return triples_with_names(result)


def _q_stream_turn_counts(spark, sf):
    """The watermarked streaming-aggregation surface run for real: the kg
    transcripts land as two files (split by conversation hash), a
    file-source stream drains them one file per epoch, and the per-(hour
    window, conversation) turn counters fold across epochs in aggregation
    state (complete output into a memory sink — the monitoring-view shape).
    The oracle is the equivalent batch GROUP BY over the same derivation,
    so the cross-epoch state fold is value-checked, not just row-counted."""
    import tempfile
    import time

    from plume_spark.streaming import read_transcript_stream, stream_turn_counts

    _reap_stale_dirs("plume-wmagg-contract")
    d = tempfile.mkdtemp(prefix="plume-wmagg-contract-", suffix=f"-p{os.getpid()}")
    inbox = f"{d}/in"
    t = graft.kg_transcripts(spark, sf)
    bucket = F.pmod(F.xxhash64("conv_id"), F.lit(2))
    for i in range(2):
        t.filter(bucket == i).write.mode("append").parquet(inbox)
    name = f"turn_counts_{os.getpid()}_{int(time.time() * 1000)}"
    q = (
        stream_turn_counts(read_transcript_stream(spark, inbox, max_files_per_trigger=1))
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


def _q_stream_ordered_release(spark, sf):
    # The custom stateful streaming operator (applyInPandasWithState) run for
    # real: land the kg transcripts out of order (turn tails first, heads in
    # a later file), drain with maxFilesPerTrigger=1 so the tails must buffer
    # in state across micro-batches, and return the released rows.  The
    # oracle is exact — in-order exactly-once release means the released set
    # IS the transcript set (per-turn text equality under stable ordering,
    # the north-rule invariant, now under continuous out-of-order arrival).
    import tempfile
    import time

    from plume_spark.streaming import ordered_turn_release, read_transcript_stream

    _reap_stale_dirs("plume-stream-contract")
    t = graft.kg_transcripts(spark, sf)
    d = tempfile.mkdtemp(prefix="plume-stream-contract-", suffix=f"-p{os.getpid()}")
    inbox, ckpt, outdir = f"{d}/in", f"{d}/ck", f"{d}/out"
    t.filter("turn_idx >= 1").write.mode("append").parquet(inbox)
    time.sleep(0.1)
    t.filter("turn_idx < 1").write.mode("append").parquet(inbox)
    q = (
        ordered_turn_release(read_transcript_stream(spark, inbox, max_files_per_trigger=1))
        .writeStream.format("parquet")
        .option("path", outdir)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.read.parquet(outdir).select("conv_id", "turn_idx", "role", "text")


def _q_stream_sessionize(spark, sf):
    # The SECOND custom stateful operator run for real: gap sessionization
    # under bounded-disorder continuous arrival.  Events land in three
    # chronological windows, except events within 10 minutes of a window
    # boundary straggle into the NEXT file — they arrive an epoch late but
    # ahead of the 30-minute watermark, so state must reorder them.  Two
    # far-future sentinel landings advance the global watermark and fire the
    # event-time timeouts that flush every buffered tail.  The oracle is the
    # batch w3 window semantics (same gap rule), sentinel user excluded.
    import datetime
    import tempfile
    import time

    from plume_spark.streaming.ingest import file_stream
    from plume_spark.streaming.stateful import stream_sessionize

    _reap_stale_dirs("plume-sess-contract")
    e = graft.load(spark, sf, "events")
    lo, hi = e.agg(F.min("ts"), F.max("ts")).first()
    span = (hi - lo) / 3
    straggle = datetime.timedelta(minutes=10)
    d = tempfile.mkdtemp(prefix="plume-sess-contract-", suffix=f"-p{os.getpid()}")
    inbox, ckpt, outdir = f"{d}/in", f"{d}/ck", f"{d}/out"
    bounds = [lo + span, lo + 2 * span]
    ts = F.col("ts")
    windows = [
        ts < F.lit(bounds[0]),
        (ts >= F.lit(bounds[0])) & (ts < F.lit(bounds[1])),
        ts >= F.lit(bounds[1]),
    ]
    is_straggler = F.lit(False)
    for b in bounds:
        is_straggler = is_straggler | ((ts >= F.lit(b - straggle)) & (ts < F.lit(b)))
    prev_stragglers = None
    for k, w in enumerate(windows):
        cur = e.filter(w)
        land = cur.filter(~is_straggler) if k < 2 else cur
        if prev_stragglers is not None:
            land = land.unionByName(prev_stragglers)
        prev_stragglers = cur.filter(is_straggler) if k < 2 else None
        land.write.mode("append").parquet(inbox)
        time.sleep(0.15)

    def drain():
        q = (
            stream_sessionize(
                file_stream(spark, inbox, e.schema, max_files_per_trigger=1),
                watermark="30 minutes",
            )
            .writeStream.format("parquet")
            .option("path", outdir)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    drain()
    for i in (1, 2):
        sent = local_frame(
            spark,
            [(10**9 + i, hi + datetime.timedelta(days=30 * i), -1, "click", 0.0, "{}")],
            e.schema,
        )
        sent.write.mode("append").parquet(inbox)
        time.sleep(0.15)
        drain()
    return (
        spark.read.parquet(outdir)
        .filter("user_id >= 0")
        .select("event_id", "user_id", "session_idx")
    )


def _q_stream_dedup(spark, sf):
    """Continuous near-dup dedup run as a REAL stream: documents land as
    three parquet files (split by doc_id mod 3 — staggered crawl drops), a
    file-source stream with maxFilesPerTrigger=1 folds each epoch into a
    persisted DedupIndex (MERGE/append + registry, exactly-once under
    replay), and the output is the AGGREGATED pair table read back from
    the index.  The oracle is the full-corpus banded-MinHash SQL — so the
    central streaming-dedup identity (union of per-epoch incremental pair
    sets == one offline run over everything) is value-checked on every
    gate run, not just asserted in pytest.  portable_ids=True keys the
    minhash on the engine-portable gram ids the oracle replicates."""
    import tempfile

    from plume_spark.streaming import DedupIndex, read_document_stream, stream_dedup

    _reap_stale_dirs("plume-sdedup-contract")
    d = tempfile.mkdtemp(prefix="plume-sdedup-contract-", suffix=f"-p{os.getpid()}")
    docs = graft.load(spark, sf, "documents")
    for i in range(3):
        docs.filter(F.col("doc_id") % 3 == i).write.mode("append").parquet(f"{d}/in")
    idx = DedupIndex(spark, f"{d}/index")
    stream_dedup(
        read_document_stream(spark, f"{d}/in", max_files_per_trigger=1),
        idx,
        f"{d}/ck",
        portable_ids=True,
    )
    return idx.pairs.read().select("doc_a", "doc_b", "jaccard")


def _q_dedup_incr(spark, sf):
    # incremental near-dup: docs with doc_id % 4 == 0 arrive as the "new
    # crawl batch"; the rest are the pre-built index.  Output = pairs
    # touching a new doc, identical to a full re-run's pairs for those docs.
    d = graft.load(spark, sf, "documents")
    old = d.filter(F.col("doc_id") % 4 != 0)
    new = d.filter(F.col("doc_id") % 4 == 0)
    osigs, otoks = dedup.minhash_state(old, portable_ids=True)
    nsigs, ntoks = dedup.minhash_state(new, portable_ids=True)
    out = dedup.incremental_neardup(osigs, otoks, nsigs, ntoks)
    return out.select("doc_a", "doc_b", qround(F.col("jaccard"), 4).alias("jaccard"))


def _q_dedup_groups(spark, sf):
    """The dedup deliverable: near-dup clusters.  MinHash pairs -> connected
    components (min doc_id = the cluster keeper) — pure composition of the
    two oracle-checked operators."""
    from plume_spark.operators.components import connected_components

    d = graft.load(spark, sf, "documents")
    pairs = dedup.minhash_dedup(d, portable_ids=True)
    # max_iters matches the oracle's unroll depth (n_iters=10): too-deep
    # clusters raise here rather than silently diverge from the oracle
    return connected_components(
        pairs, src="doc_a", dst="doc_b", driver_max_edges=0, max_iters=10
    ).withColumnRenamed("node", "doc_id").withColumnRenamed("component", "keeper_id")


def _q_w9_peak_concurrency(spark, sf):
    """Per-day peak session concurrency via the day-partitioned sweep line
    (operators/temporal.py:peak_concurrency) over the same gap-sessionized
    spans as t5 — the capacity read (max simultaneous sessions) that the
    naive global +1/-1 sweep cannot produce at scale without serializing."""
    from plume_spark.operators.temporal import peak_concurrency

    e = graft.load(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    ts_s = F.col("ts").cast("timestamp").cast("double")
    gap = ts_s - F.lag(ts_s).over(w)
    sess = (
        e.withColumn("new_sess", F.when(gap.isNull() | (gap > 1800), 1).otherwise(0))
        .withColumn("session_idx", F.sum("new_sess").over(w).cast("long"))
        .groupBy("user_id", "session_idx")
        .agg(F.min("ts").alias("s_start"), F.max("ts").alias("s_end"))
    )
    return peak_concurrency(sess)


def _q_kg_schema_induce(spark, sf):
    """Implicit-schema induction over the BUILT knowledge graph: per
    (subject kind, predicate, object kind) triple pattern, distinct-triple
    and distinct-entity counts — the ontology-shape statistic (domain/range
    inference) a KG-construction pass emits so downstream consumers know
    what the graph actually contains, vs what the schema claims.

    Scale: triples join the (far smaller) entity-kind table on canonical
    name — two equi-joins the planner may broadcast when the entity side
    fits, else a plain shuffle join bounded by entity count; the pattern
    aggregate is a partial-agg over a handful of groups."""
    ents, named = _kg_flagship(spark, sf)
    kinds = ents.select("canonical_name", "kind")
    d = named.select("subj_name", "pred", "obj_name").distinct()
    ks = kinds.select(
        F.col("canonical_name").alias("subj_name"), F.col("kind").alias("subj_kind")
    )
    ko = kinds.select(
        F.col("canonical_name").alias("obj_name"), F.col("kind").alias("obj_kind")
    )
    return (
        d.join(ks, "subj_name")
        .join(ko, "obj_name")
        .groupBy("subj_kind", "pred", "obj_kind")
        .agg(
            F.count(F.lit(1)).alias("n_triples"),
            F.countDistinct("subj_name").alias("n_subj"),
            F.countDistinct("obj_name").alias("n_obj"),
        )
    )


def _q_kg_fact_recency(spark, sf):
    """Temporal scoping of the built KG: per canonical triple, first/last
    mention wall-clock time, mention count, and observation span in days —
    the fact-validity signal (recency decay, stale-fact detection) a KG
    consumer needs before trusting an extracted edge.  Mentions re-attach
    to wall-clock by joining the flagship's (conv_id, turn_idx) provenance
    back to the transcript timestamps — one equi-join on the conversation
    key the extraction already partitions by, then a partial agg on the
    triple key."""
    _, named = _kg_flagship(spark, sf)
    t = graft.kg_transcripts(spark, sf).select("conv_id", "turn_idx", "ts")
    return (
        named.join(t, ["conv_id", "turn_idx"])
        .groupBy("subj_name", "pred", "obj_name")
        .agg(
            F.min("ts").alias("first_seen"),
            F.max("ts").alias("last_seen"),
            F.count(F.lit(1)).alias("n_mentions"),
            F.datediff(F.max("ts").cast("date"), F.min("ts").cast("date"))
            .cast("long")
            .alias("span_days"),
        )
    )


def _q_w11_week_over_week(spark, sf):
    """Week-over-week volume change per event type: weekly counts + the
    lagged percent delta — the trend read every operational dashboard
    starts from.  Weeks are exact date_trunc buckets; the pct change is one
    double division of exact int64 counts (engine-portable).  Scale: one
    partial-agg shuffle to (type, week) — cardinality is types x weeks, so
    the lag window runs over a tiny aggregate, never the raw events."""
    e = graft.load(spark, sf, "events")
    wk = F.date_trunc("week", F.col("ts")).cast("date")
    agg = e.groupBy(F.col("event_type"), wk.alias("week")).agg(
        F.count(F.lit(1)).alias("n")
    )
    w = Window.partitionBy("event_type").orderBy(F.col("week").asc())
    prev = F.lag("n").over(w)
    return agg.select(
        "event_type",
        "week",
        "n",
        prev.alias("prev_n"),
        qround((F.col("n") - prev).cast("double") / prev, 6).alias("wow_change"),
    )


def _q_w12_time_to_convert(spark, sf):
    """Conversion latency: per user, the first 'view' and the first
    'purchase' AT OR AFTER it, with the gap in whole seconds — the
    time-to-convert distribution input (w5_funnel's ordered-step rule,
    reduced to the first qualifying pair).  One partial agg for first
    views, one conditional agg for the earliest post-view purchase after a
    keyed join — never a per-event window over raw history."""
    e = graft.load(spark, sf, "events")
    fv = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_view"))
    )
    p = e.filter(F.col("event_type") == "purchase").select("user_id", "ts")
    return (
        p.join(fv, "user_id")
        .filter(F.col("ts") >= F.col("first_view"))
        .groupBy("user_id", "first_view")
        .agg(F.min("ts").alias("first_purchase"))
        .select(
            "user_id",
            "first_view",
            "first_purchase",
            (
                F.unix_micros(F.col("first_purchase").cast("timestamp"))
                - F.unix_micros(F.col("first_view").cast("timestamp"))
            ).alias("convert_us"),
        )
    )


def _q_g11_edge_lift(spark, sf):
    """Lift/PMI edge weighting over the co-purchase backbone
    (operators/graph_metrics.py:edge_lift): separates popularity-driven
    co-occurrence from genuine association before community detection or
    KG-edge promotion — see the operator docstring."""
    from plume_spark.operators.graph_metrics import edge_lift

    li = graft.load(spark, sf, "lineitem")
    return edge_lift(li, "l_orderkey", "l_partkey", min_groups=2)


def _q_w10_zscore_outliers(spark, sf):
    """Per-user anomaly detection: events whose value sits >= 3 population
    standard deviations from that user's mean.  The moments are EXACT
    decimal sums (sum, sum-of-squares) cast to double before the single
    division — the same engine-portable pattern as a1_group_sum — so the
    z-score and the |z| >= 3 boundary are bit-identical across engines.

    Scale: one partial-agg shuffle for the per-user moments (map-side
    combinable), then one equi-join of facts to the (far smaller) moment
    table — broadcast when it fits, never a window over raw events."""
    e = graft.load(spark, sf, "events")
    dec = F.col("value").cast("decimal(18,6)")
    agg = (
        e.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(dec).cast("double").alias("sum_d"),
            F.sum(dec * dec).cast("double").alias("sumsq_d"),
        )
        .filter(F.col("n") >= 2)
    )
    nd = F.col("n").cast("double")
    mean = F.col("sum_d") / nd
    std = F.sqrt(F.greatest(F.col("sumsq_d") / nd - mean * mean, F.lit(0.0)))
    z = (F.col("value") - mean) / std
    return (
        e.join(agg, "user_id")
        .filter((std > 0) & (F.abs(z) >= 3.0))
        .select("event_id", "user_id", "value", F.round(z, 4).alias("z"))
    )


def _q_kg_sym_preds(spark, sf):
    """Predicate symmetry scoring over a built KG: for each predicate, the
    share of distinct triples whose exact reverse (obj, pred, subj) is also
    asserted — the schema-curation signal that separates inherently
    symmetric relations ('met') from directed ones ('works_at') before
    choosing which edges to mirror in the graph store.  Runs on the VARIED
    substrate (graft.kg_transcripts_varied) where 'met' is symmetric for
    roughly the half of its edges that got an explicit reverse turn; the
    functional flagship substrate would score 0 everywhere.  One distinct
    projection + a self left-semi join on the (name, pred, name) key + two
    partial-agg groupBys — the self-join shuffles the distinct TRIPLE set
    (orders of magnitude below mention scale), keyed by the same columns it
    joins on, so at 100 TB both sides co-partition."""
    _, named = _kg_flagship(spark, sf, substrate="varied")
    d = named.select("subj_name", "pred", "obj_name").distinct()
    rev = d.select(
        F.col("obj_name").alias("subj_name"),
        "pred",
        F.col("subj_name").alias("obj_name"),
    )
    sym = d.join(rev, ["subj_name", "pred", "obj_name"], "left_semi")
    n_all = d.groupBy("pred").agg(F.count(F.lit(1)).alias("n_triples"))
    n_sym = sym.groupBy("pred").agg(F.count(F.lit(1)).alias("n_sym"))
    return n_all.join(n_sym, "pred", "left").select(
        "pred",
        "n_triples",
        F.coalesce(F.col("n_sym"), F.lit(0)).alias("n_sym"),
        qround(
            F.coalesce(F.col("n_sym"), F.lit(0)).cast("double") / F.col("n_triples"),
            6,
        ).alias("sym_ratio"),
    )


def _q_kg_current_facts(spark, sf):
    """Latest-wins conflict resolution: the current-snapshot read over a
    temporally-scoped KG.  Per (subject, predicate), keep the object whose
    LAST mention is most recent (tie -> lexicographically greatest object —
    a total, engine-portable rule), plus how many alternatives were
    discarded — the step that turns kg_conflicts' contradiction list into a
    servable fact table.  Runs on the varied substrate where 'visited' is
    genuinely multi-valued.  Provenance re-attaches wall-clock by the same
    (conv_id, turn_idx) join as kg_fact_recency; the argmax is one window
    over the (subj, pred, obj)-grouped fact table, never over raw
    mentions."""
    _, named = _kg_flagship(spark, sf, substrate="varied")
    t = graft.kg_transcripts_varied(spark, sf).select("conv_id", "turn_idx", "ts")
    facts = (
        named.join(t, ["conv_id", "turn_idx"])
        .groupBy("subj_name", "pred", "obj_name")
        .agg(F.max("ts").alias("last_seen"))
    )
    w = Window.partitionBy("subj_name", "pred").orderBy(
        F.col("last_seen").desc(), F.col("obj_name").desc()
    )
    return (
        facts.withColumn("rn", F.row_number().over(w))
        .withColumn(
            "n_alternatives",
            F.count(F.lit(1)).over(Window.partitionBy("subj_name", "pred")),
        )
        .filter(F.col("rn") == 1)
        .select(
            "subj_name",
            "pred",
            F.col("obj_name").alias("obj_current"),
            "last_seen",
            "n_alternatives",
        )
    )


def _q_w17_rank_family(spark, sf):
    """The full SQL rank family over per-customer revenue within nation —
    rank (gaps on ties), dense_rank, percent_rank, cume_dist, and ntile(4)
    in ONE window pass (they all share the single (nation) shuffle) — the
    leaderboard/percentile-banding surface the row_number-only queries
    don't cover.  Revenue is the exact decimal sum, ordered with a custkey
    tie-break, so every rank and the two ratio functions ((rank-1)/(n-1),
    rows<=current/n — exact-int divisions) are engine-identical; ntile uses
    the standard floor distribution on both engines."""
    o = graft.load(spark, sf, "orders")
    c = graft.load(spark, sf, "customer")
    rev = (
        o.groupBy("o_custkey")
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("revenue")
        )
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .select(F.col("c_custkey").alias("custkey"), "c_nationkey", "revenue")
    )
    w = Window.partitionBy("c_nationkey").orderBy(
        F.col("revenue").desc(), F.col("custkey").asc()
    )
    return rev.select(
        "custkey",
        F.col("c_nationkey").alias("nationkey"),
        "revenue",
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        # NO display rounding on the two ratio columns: with power-of-two
        # group sizes (640 customers/nation at sf0.1) i/n lands EXACTLY on
        # .5 round boundaries where Spark (half-up) and DuckDB (half-even)
        # legitimately disagree — the unrounded doubles are bit-identical
        F.percent_rank().over(w).alias("prnk"),
        F.cume_dist().over(w).alias("cume"),
        F.ntile(4).over(w).alias("quartile"),
    )


# Count-Min sketch geometry shared by the Spark query and its oracle SQL —
# one source of truth so the hash family can never drift between engines.
CMS_W, CMS_P = 1024, 2147483647
CMS_SALTS = [(131, 7), (1009, 19), (524287, 3), (8191, 101)]


def _q_a14_countmin(spark, sf):
    """Count-Min sketch heavy-hitter estimates vs exact counts — the third
    sketch aggregate (HLL distinct = a10, GK quantiles = a11, CMS frequency
    = this): at 100 TB the per-key frequency table for a skew decision is a
    fixed (d x w) int grid, not an O(keys) map.  Unlike a10/a11, the CMS
    estimate is FULLY value-checked: the hash family is explicit integer
    arithmetic and depth-wise min is order-independent, so both engines
    compute the identical sketch.  One explode(d)+groupBy for the grid
    (map-side combinable), one exact top-20, one broadcast-sized join of 20
    users against their d=4 grid cells; cms_ok pins the one-sided error
    guarantee (CMS never underestimates)."""
    e = graft.load(spark, sf, "events")
    cells = F.array(
        *[
            F.struct(
                F.lit(j).alias("j"),
                (((F.col("user_id") * a + b) % CMS_P) % CMS_W).alias("bucket"),
            )
            for j, (a, b) in enumerate(CMS_SALTS)
        ]
    )
    cms = (
        e.select(F.explode(cells).alias("s"))
        .select("s.j", "s.bucket")
        .groupBy("j", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    top = (
        e.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_exact"))
        .orderBy(F.col("n_exact").desc(), F.col("user_id").asc())
        .limit(20)
    )
    probes = top.select(
        "user_id", "n_exact", F.explode(cells).alias("s")
    ).select("user_id", "n_exact", "s.j", "s.bucket")
    est = (
        F.broadcast(probes)
        .join(cms, ["j", "bucket"])
        .groupBy("user_id", "n_exact")
        .agg(F.min("cnt").alias("n_cms"))
    )
    return est.select(
        "user_id", "n_exact", "n_cms", (F.col("n_cms") >= F.col("n_exact")).alias("cms_ok")
    )


def _q_w16_gini(spark, sf):
    """Gini coefficient of per-user event volume — the one-number
    concentration read (is traffic spread out or is one whale generating
    the corpus?) run before partitioning decisions for user-keyed work.
    Rank formula G = 2*sum(i*x_i)/(n*sum(x)) - (n+1)/n over counts ranked
    ascending with a (count, user_id) total order, so ties are broken
    identically on every engine.  The only unpartitioned window runs over
    the per-user AGGREGATE (dimension-table sized), never raw events; all
    sums are exact int64, divided once in binary64."""
    e = graft.load(spark, sf, "events")
    per = e.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
    w = Window.orderBy(F.col("n").asc(), F.col("user_id").asc())
    r = per.select("n", F.row_number().over(w).alias("i"))
    cnt = F.count(F.lit(1))
    return r.agg(
        cnt.alias("n_users"),
        F.sum("n").alias("total_events"),
        qround(
            (F.lit(2.0) * F.sum(F.col("i") * F.col("n")))
            / (cnt * F.sum("n"))
            - (cnt + F.lit(1.0)) / cnt,
            6,
        ).alias("gini"),
    )


def _q_kg_alias_merge(spark, sf):
    """The canonicalization MERGE path under the value gate: entities with
    >= 2 alias surface forms, with the sorted alias list — on the alias
    substrate (graft.kg_transcripts_alias) every customer appears both
    plain and zero-padded, two DIFFERENT norms with IDENTICAL distinct
    3-gram sets, so the LSH+CC path must merge each into one 2-alias
    entity.  This is the one pipeline behavior (cluster merging) the other
    kg_* contract queries never fire on their substrates — previously it
    was pinned only by generator-based pytest, never by the DuckDB gate."""
    ents, _ = _kg_flagship(spark, sf, substrate="alias")
    return ents.filter(F.size("aliases") >= 2).select(
        "canonical_name",
        F.size("aliases").cast("long").alias("n_aliases"),
        F.array_join("aliases", ",").alias("alias_csv"),
    )


def _q_a13_mad(spark, sf):
    """Median absolute deviation per event type — the robust dispersion
    read (outlier-insensitive, unlike w10's stddev): med = exact p50 of
    values, MAD = exact p50 of |value - med|.  Two sort-based percentile
    aggregates with a broadcast of the tiny per-type median table between
    them; both medians interpolate at p=0.5 (an exact binary fraction), so
    the result is engine-identical before the display round."""
    e = graft.load(spark, sf, "events")
    med = e.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("med")
    )
    return (
        e.join(F.broadcast(med), "event_type")
        .groupBy("event_type")
        .agg(
            F.round(F.first("med"), 6).alias("median"),
            F.round(F.expr("percentile(abs(value - med), 0.5)"), 6).alias("mad"),
        )
    )


def _q_g12_hits(spark, sf):
    """HITS hubs/authorities over the 3-level customer->order->part DAG
    (operators/pagerank.py:hits) — the second fixed-iteration spectral-style
    ranking beside PageRank; unnormalized iterations keep every
    intermediate score integer-exact, so the only float op is the final
    max-division (see the operator docstring)."""
    from plume_spark.operators.pagerank import hits

    return hits(graft.dag_edges(spark, sf), n_iters=2)


def _q_kg_degree_hist(spark, sf):
    """Power-of-two degree histogram over the built KG's distinct edge set
    — the skew diagnostic read BEFORE choosing salting/broadcast strategy
    for entity-graph analytics (the north rule's hot-entity case: a fat
    top bucket says the join needs skew handling).  Exact integer
    bit-length buckets (an engine-portable edge rule) over one union-all + two partial-agg groupBys; the share window runs
    over the <=64-row bucket aggregate, never the entity table."""
    _, named = _kg_flagship(spark, sf)
    d = named.select("subj_name", "pred", "obj_name").distinct()
    ends = d.select(F.col("subj_name").alias("name")).unionByName(
        d.select(F.col("obj_name").alias("name"))
    )
    deg = ends.groupBy("name").agg(F.count(F.lit(1)).alias("deg"))
    agg = deg.groupBy(
        F.length(F.bin(F.col("deg"))).cast("int").alias("bucket")
    ).agg(F.count(F.lit(1)).alias("n_entities"), F.sum("deg").alias("total_deg"))
    w = Window.partitionBy()
    return agg.select(
        "bucket",
        "n_entities",
        "total_deg",
        qround(F.col("n_entities") / F.sum("n_entities").over(w), 6).alias("share"),
    )


def _q_w15_interarrival(spark, sf):
    """Inter-arrival-gap distribution per event type: for each event, the
    microsecond gap to the SAME user's previous event (any type), then the
    exact interpolated p50/p90 of those gaps grouped by the arriving
    event's type — the traffic-burstiness read behind rate-limit and
    session-timeout tuning.  One (user) window shuffle for the lag, one
    sort-based percentile aggregate keyed by type."""
    e = graft.load(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    g = e.select(
        "event_type",
        (
            F.unix_micros(F.col("ts").cast("timestamp"))
            - F.unix_micros(F.lag("ts").over(w).cast("timestamp"))
        ).alias("gap_us"),
    ).filter(F.col("gap_us").isNotNull())
    return g.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_gaps"),
        F.round(F.expr("percentile(gap_us, 0.5)"), 6).alias("p50_us"),
        F.round(F.expr("percentile(gap_us, 0.9)"), 6).alias("p90_us"),
    )


def _q_w13_rolling_active(spark, sf):
    """7-day rolling distinct active users per day — the DAU/WAU-style
    engagement read.  Distinct-over-sliding-window is inexpressible as a
    Spark window function (no DISTINCT aggregates over frames), so the
    scale path is the explode rewrite: each distinct (user, day) pair is
    fanned out to the <=7 window-end days it covers (constant 7x row
    amplification of the ALREADY-distinct pair set, not of raw events),
    then one partial-agg count-distinct keyed by window day.  No global
    sort, no per-event window, no self-join — the oracle runs the naive
    range join instead.  The day dimension (~tens of rows) broadcasts."""
    e = graft.load(spark, sf, "events")
    pairs = e.select("user_id", F.col("ts").cast("date").alias("day")).distinct()
    days = pairs.select(F.col("day").alias("win_day")).distinct()
    cov = pairs.select(
        "user_id",
        F.explode(F.expr("sequence(day, date_add(day, 6))")).alias("win_day"),
    )
    return (
        cov.join(F.broadcast(days), "win_day")
        .groupBy("win_day")
        .agg(F.countDistinct("user_id").alias("active_7d"))
        .select(F.col("win_day").alias("day"), "active_7d")
    )


def _q_a12_cube(spark, sf):
    """CUBE aggregate over (event_type, day-of-week): all four grouping
    sets (full, per-type, per-dow, grand total) in ONE pass — Catalyst's
    native grouping-sets expansion (the rollup complement, a8).  dow is
    0=Sunday..6=Saturday on both engines (Spark dayofweek()-1 == DuckDB
    date_part('dow')); sums are exact decimal cast to double, so every
    subtotal is identical under any partitioning."""
    e = graft.load(spark, sf, "events")
    d = e.select(
        "event_type",
        (F.dayofweek("ts") - 1).cast("int").alias("dow"),
        F.col("value").cast("decimal(18,2)").alias("v"),
    )
    return d.cube("event_type", "dow").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("v").cast("double").alias("sum_value"),
    )


def _q_w14_rfm(spark, sf):
    """RFM segmentation over orders: per customer recency (days since last
    order, vs the corpus max date), frequency (order count), monetary
    (exact decimal revenue), each scored into fixed 1-3 bands — the
    classic customer-value cut.  One partial-agg groupBy keyed by
    customer; the 1-row reference date broadcasts (never a driver
    collect); fixed thresholds keep every band edge engine-portable
    (day diffs and counts are exact ints, monetary is an exact decimal
    sum cast once to double)."""
    o = graft.load(spark, sf, "orders")
    ref = o.agg(F.max(F.col("o_orderdate").cast("date")).alias("ref_day"))
    per = o.groupBy("o_custkey").agg(
        F.max(F.col("o_orderdate").cast("date")).alias("last_day"),
        F.count(F.lit(1)).alias("frequency"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("monetary"),
    )
    r = per.crossJoin(F.broadcast(ref)).withColumn(
        "recency_days", F.datediff("ref_day", "last_day").cast("long")
    )
    return r.select(
        F.col("o_custkey").alias("custkey"),
        "recency_days",
        "frequency",
        "monetary",
        F.when(F.col("recency_days") <= 365, 3)
        .when(F.col("recency_days") <= 730, 2)
        .otherwise(1)
        .cast("int")
        .alias("r_score"),
        F.when(F.col("frequency") >= 15, 3)
        .when(F.col("frequency") >= 8, 2)
        .otherwise(1)
        .cast("int")
        .alias("f_score"),
        F.when(F.col("monetary") >= 2000000.0, 3)
        .when(F.col("monetary") >= 1000000.0, 2)
        .otherwise(1)
        .cast("int")
        .alias("m_score"),
    )


# Bloom-filter geometry shared by the Spark query and its oracle SQL (the
# CMS pattern): k = len(CMS_SALTS) hash functions over an M-bit space.
BLOOM_M = 8192


def _q_a15_bloom(spark, sf):
    """Bloom-filter membership: build a 4-hash/8192-bit filter over the
    purchasing users, probe EVERY user through it, and report the exact
    membership, the filter's answer, and the no-false-negative contract —
    the sketch that makes 100 TB anti-joins cheap (ship 1 KB of bits
    instead of the key set; only bloom-positive rows pay the real join).
    Same affine hash family as the Count-Min query, reduced mod BLOOM_M
    instead of CMS_W, so the whole sketch family shares one set of salt
    constants.  The bit table is <= 8192 rows and broadcasts; the probe is
    a per-row projection + one broadcast semi-join + one user-keyed agg —
    nothing scales with the filter, exactly how a distributed Bloom probe
    must run."""
    e = graft.load(spark, sf, "events")

    def pos(a, b):
        return ((F.col("user_id") * a + b) % CMS_P) % BLOOM_M

    hashes = F.array(*[pos(a, b) for a, b in CMS_SALTS])
    # ONE events scan + ONE user-keyed agg yields both the member flag and
    # the probe universe; everything downstream stays on that partitioning
    users = e.groupBy("user_id").agg(
        F.max((F.col("event_type") == "purchase").cast("int")).alias("_m")
    ).localCheckpoint(eager=True)
    bits = (
        users.filter(F.col("_m") == 1)
        .select(F.explode(hashes).alias("bit"))
        .distinct()
    )
    k_hit = (
        users.select("user_id", F.explode(hashes).alias("bit"))
        .join(F.broadcast(bits), "bit", "left_semi")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("k_hit"))
    )
    return (
        users.join(k_hit, "user_id", "left")
        .select(
            "user_id",
            (F.col("_m") == 1).alias("is_member"),
            (F.coalesce("k_hit", F.lit(0)) == len(CMS_SALTS)).alias("bloom_hit"),
        )
        .withColumn("no_false_neg", F.col("bloom_hit") | ~F.col("is_member"))
    )


def _q_kg_star_join(spark, sf):
    """Star basic-graph-pattern match over the built KG: every entity
    asserting BOTH a works_at edge and a visited edge, with the matched
    (workplace, visited_place) bindings — the 2-arm SPARQL-style star join
    (?who works_at ?w . ?who visited ?v) that KG consumers run constantly
    and that kg_path2 (chain composition) does not cover.  Runs on the
    varied substrate where 'visited' is genuinely multi-valued, so arms
    multiply.  Both arms are filters over ONE distinct-triple projection
    shuffled on the shared subject key — a self-equi-join that co-partitions
    at any scale; the star never touches raw mentions."""
    _, named = _kg_flagship(spark, sf, substrate="varied")
    d = named.select("subj_name", "pred", "obj_name").distinct()
    works = d.filter(F.col("pred") == "works_at").select(
        F.col("subj_name").alias("who"), F.col("obj_name").alias("workplace")
    )
    vis = d.filter(F.col("pred") == "visited").select(
        F.col("subj_name").alias("who"), F.col("obj_name").alias("visited_place")
    )
    return works.join(vis, "who")


def _q_w18_streaks(spark, sf):
    """Longest consecutive-DAY active streak per user — the calendar-gap
    islands variant (w6 covers sequence-number islands within the event
    stream; retention work needs the date-arithmetic twin: 'how many days
    in a row was this user active?').  Classic trick: over distinct
    (user, day), day - row_number(days so far) is CONSTANT within a run of
    consecutive dates, so one window plus two partial aggs — no self-join,
    no UDF, no per-user iteration.  The (user, day) distinct and the
    (user) window share key prefixes, and both aggs after the window run
    on the existing (user) partitioning, so AQE plans one extra exchange
    at most.  All outputs are exact int64."""
    e = graft.load(spark, sf, "events")
    days = e.select("user_id", F.to_date("ts").alias("day")).distinct()
    w = Window.partitionBy("user_id").orderBy(F.col("day").asc())
    anchored = days.select(
        "user_id",
        F.date_sub(F.col("day"), F.row_number().over(w)).alias("anchor"),
    )
    runs = anchored.groupBy("user_id", "anchor").agg(
        F.count(F.lit(1)).alias("len")
    )
    return runs.groupBy("user_id").agg(
        F.sum("len").alias("n_active_days"),
        F.count(F.lit(1)).alias("n_streaks"),
        F.max("len").alias("longest_streak"),
    )


def _q_t6_scd2(spark, sf):
    """Slowly-changing-dimension (type 2) interval reconstruction: compress
    each user's event-type sequence into state-change rows carrying
    [valid_from, valid_to) validity intervals and an is_current flag — the
    standard shape for temporally-scoped KG facts and dimension snapshots
    (kg_current_facts picks ONE latest winner; this keeps the full
    history as intervals).  lag() marks the change rows, lead() over the
    surviving rows closes each interval; both windows share the one
    (user_id) shuffle and the same (ts, event_id) total order, so the
    change detection and the interval close are engine-identical under
    timestamp ties."""
    e = graft.load(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    marked = e.select(
        "user_id",
        "event_id",
        F.col("event_type").alias("state"),
        F.col("ts").alias("valid_from"),
        F.lag("event_type").over(w).alias("_prev"),
    )
    changes = marked.filter(
        F.col("_prev").isNull() | (F.col("_prev") != F.col("state"))
    )
    w2 = Window.partitionBy("user_id").orderBy(
        F.col("valid_from").asc(), F.col("event_id").asc()
    )
    return changes.select(
        "user_id",
        F.col("event_id").alias("change_event"),
        "state",
        "valid_from",
        F.lead("valid_from").over(w2).alias("valid_to"),
    ).withColumn("is_current", F.col("valid_to").isNull())


def _q_g13_linkpred_ra(spark, sf):
    """Resource-allocation link prediction over the strong-tie co-purchase
    backbone (g8's substrate): RA(a,b) = sum over shared neighbors z of
    1/deg(z), carried as exact int64 fixed-point (RA_SCALE div deg) so the
    score is engine-portable without any float rounding contract — the
    down-weighted sibling of g8's raw common-neighbor count (a shared
    degree-2 middle is strong evidence; a shared hub is noise)."""
    from plume_spark.operators.graph_metrics import (
        co_occurrence_edges,
        resource_allocation,
    )

    li = graft.load(spark, sf, "lineitem")
    backbone = co_occurrence_edges(li, "l_orderkey", "l_partkey").filter(
        F.col("n_groups") >= 2
    )
    return resource_allocation(backbone, max_degree=64)


def _q_kg_neg_samples(spark, sf):
    """Deterministic filtered negative sampling over the built KG — the
    training-pair generator every KG-embedding loss (TransE/DistMult/...)
    needs: for each positive triple, corrupt the object with a same-kind
    entity chosen by portable hash, then FILTER corruptions that are
    accidentally true (the standard 'filtered' protocol, Bordes et al.).

    Determinism without RNG: the pick is poly_hash(subj|pred|obj) mod B
    into a (kind, bucket) -> min(name) candidate dictionary (B=64 buckets
    over the canonical entity table) — a seedless portable hash, so the same
    triple draws the same negative on every run, executor count, and
    engine (resume-safe by construction).  Scale: the entity dictionary is
    broadcast-sized relative to the triple stream (it already fits the
    flagship's broadcast joins); everything else is pure projection + one
    anti-join against the positive set on its natural key."""
    from plume_spark.operators.dedup import poly_hash

    ents, named = _kg_flagship(spark, sf)
    B = 64
    pos = named.select("subj_name", "pred", "obj_name").distinct()
    pool = (
        ents.select(
            "kind",
            F.pmod(poly_hash(F.col("canonical_name")), F.lit(B)).alias("bucket"),
            F.col("canonical_name").alias("cand"),
        )
        .groupBy("kind", "bucket")
        .agg(F.min("cand").alias("neg_obj"))
    )
    obj_kind = ents.select(
        F.col("canonical_name").alias("obj_name"), F.col("kind").alias("obj_kind")
    )
    picked = (
        pos.join(F.broadcast(obj_kind), "obj_name")
        .withColumn(
            "pick_bucket",
            F.pmod(
                poly_hash(F.concat_ws("|", "subj_name", "pred", "obj_name")),
                F.lit(B),
            ),
        )
        .join(
            F.broadcast(pool),
            (F.col("obj_kind") == F.col("kind"))
            & (F.col("pick_bucket") == F.col("bucket")),
        )
        .filter(F.col("neg_obj") != F.col("obj_name"))
    )
    truth = pos.select(
        F.col("subj_name").alias("t_s"),
        F.col("pred").alias("t_p"),
        F.col("obj_name").alias("t_o"),
    )
    return picked.join(
        truth,
        (F.col("subj_name") == F.col("t_s"))
        & (F.col("pred") == F.col("t_p"))
        & (F.col("neg_obj") == F.col("t_o")),
        "left_anti",
    ).select("subj_name", "pred", "obj_name", "neg_obj")


def _q_w19_attribution(spark, sf):
    """Linear multi-touch attribution: each purchase splits its credit
    equally across the user's view events in the preceding 7 days — the
    marketing-analytics join family (w12_time_to_convert measures the
    latency of the FIRST touch; this enumerates and weights ALL touches).
    The per-touch credit is carried as exact ppm fixed-point
    (1000000 div n_touches) — no float division contract — and the touch
    window edges are exact timestamp arithmetic (min/max view ts).

    Scale: one user-keyed equi-join carries the range predicate (AQE
    skew-handles hot users), then one purchase-keyed partial agg; per-user
    touch volume bounds the fan-out, and the 7-day bound keeps state
    finite under incremental re-runs."""
    e = graft.load(spark, sf, "events")
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("p_ts"),
    )
    v = e.filter(F.col("event_type") == "view").select(
        "user_id", F.col("ts").alias("v_ts")
    )
    j = p.join(v, "user_id").filter(
        (F.col("v_ts") <= F.col("p_ts"))
        & (F.col("v_ts") >= F.col("p_ts") - F.expr("INTERVAL 7 DAYS"))
    )
    return j.groupBy("purchase_id").agg(
        F.count(F.lit(1)).alias("n_touches"),
        F.expr("1000000L div count(1)").alias("credit_ppm"),
        F.min("v_ts").alias("first_view_ts"),
        F.max("v_ts").alias("last_view_ts"),
    )


def _q_g14_ppr(spark, sf):
    """Personalized PageRank from a deterministic seed set (customers with
    custkey % 500 == 1) over the customer->order->part DAG — the "what is
    important NEAR these nodes" primitive behind KG neighborhood
    exploration and recommendation candidate generation (g1 is the global
    complement).  Same one-shuffle-per-iteration loop and ppm-exact output
    contract as g1; teleport mass confined to the seeds makes the result
    effectively sparse (rank_ppm > 0), which at web scale is the point —
    the output is neighborhood-sized, not graph-sized."""
    from plume_spark.operators.pagerank import personalized_pagerank

    o = graft.load(spark, sf, "orders")
    li = graft.load(spark, sf, "lineitem")
    e1 = o.select(
        F.col("o_custkey").alias("subj"),
        (F.lit(1000000) + F.col("o_orderkey")).alias("obj"),
    )
    e2 = li.select(
        (F.lit(1000000) + F.col("l_orderkey")).alias("subj"),
        (F.lit(2000000) + F.col("l_partkey")).alias("obj"),
    )
    seeds = (
        o.select(F.col("o_custkey").alias("node"))
        .filter(F.col("node") % 500 == 1)
        .distinct()
    )
    return personalized_pagerank(e1.unionByName(e2), seeds, n_iters=3)


def _q_kg_rule_confidence(spark, sf):
    """AMIE-style implication mining over the built KG: for every ordered
    predicate pair (p -> q, p != q), the support |{(s,o): p(s,o) AND
    q(s,o)}| and confidence support/|p| — the rule-quality read that
    surfaces redundant or entailed relations (e.g. 'works_at(s,o) usually
    implies visited(s,o)') before schema curation or KG-embedding
    training.  Runs on the VARIED substrate where subjects can hold
    multiple predicates toward the same object.  The self-join keys on the
    (subj, obj) pair both sides already carry — co-partitioned at scale —
    and everything downstream is predicate-pair-sized (bounded by the
    closed vocabulary squared)."""
    _, named = _kg_flagship(spark, sf, substrate="varied")
    d = named.select("subj_name", "pred", "obj_name").distinct()
    q = d.select(
        "subj_name", F.col("pred").alias("pred_q"), "obj_name"
    )
    pairs = (
        d.join(q, ["subj_name", "obj_name"])
        .filter(F.col("pred") != F.col("pred_q"))
        .groupBy(F.col("pred").alias("antecedent"), F.col("pred_q").alias("consequent"))
        .agg(F.count(F.lit(1)).alias("support"))
    )
    n_p = d.groupBy(F.col("pred").alias("antecedent")).agg(
        F.count(F.lit(1)).alias("n_antecedent")
    )
    return pairs.join(n_p, "antecedent").select(
        "antecedent",
        "consequent",
        "support",
        "n_antecedent",
        qround(
            F.col("support").cast("double") / F.col("n_antecedent"), 6
        ).alias("confidence"),
    )


def _q_a16_group_skewness(spark, sf):
    """Per-group third-moment skewness with a fully deterministic
    cross-engine contract: values are quantized to exact centi-unit int64
    (the source carries 2 decimals, so this is lossless), the three power
    sums are EXACT (iv^3 <= 1.8e14 fits int64 per row; sums accumulate in
    decimal(38,0), associative under any merge order), and the reported
    skewness is hash-portable: zero-variance groups guarded EXACTLY via
    min==max, the double expression is one fixed IEEE-754 op sequence
    identical on both engines, and the final quantization is
    floor(x*1e4 + 0.5) -> BIGINT (plain IEEE ops) rather than a decimal
    HALF_UP round whose knife-edge semantics differ between engines —
    the round-4 driver hash mismatch, closed.  The exact sums ride along
    in the output so the value gate pins THEM, not just the derived
    value.  Shape: ONE map-side-combinable partial agg; nothing global."""
    e = graft.load(spark, sf, "events")
    iv = F.round(F.col("value") * 100).cast("long")
    d = e.select(
        "event_type",
        iv.alias("x"),
        (iv * iv).alias("x2"),
        (iv * iv * iv).alias("x3"),
    )
    m = d.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("x").cast("decimal(38,0)")).alias("s1"),
        F.sum(F.col("x2").cast("decimal(38,0)")).alias("s2"),
        F.sum(F.col("x3").cast("decimal(38,0)")).alias("s3"),
        F.min("x").alias("mn"),
        F.max("x").alias("mx"),
    )
    nd = F.col("n").cast("double")
    m1 = F.col("s1").cast("double") / nd
    t2 = F.col("s2").cast("double") / nd
    m2 = t2 - m1 * m1
    m3 = (
        F.col("s3").cast("double") / nd
        - F.lit(3.0) * m1 * t2
        + F.lit(2.0) * m1 * m1 * m1
    )
    sd = F.sqrt(m2)
    # Hash-portable final value: the double expression tree above is the
    # same IEEE-754 op sequence both engines run, and floor(x*1e4 + 0.5)
    # -> BIGINT quantizes it with plain IEEE ops (no engine-specific
    # decimal HALF_UP round on a double).  Zero-variance groups are
    # guarded EXACTLY via min==max (never a float m2 ~ 0 test).
    skew_e4 = F.when(
        F.col("mn") != F.col("mx"),
        F.floor(m3 / (sd * sd * sd) * F.lit(10000.0) + F.lit(0.5)).cast("long"),
    )
    return m.select(
        "event_type",
        "n",
        "s1",
        "s2",
        "s3",
        skew_e4.alias("skew_e4"),
    )


def _q_a19_user_entropy(spark, sf):
    """Per-user Shannon entropy of the event-type distribution — the
    behavioral-diversity read (bots/loops score near 0, organic usage
    higher): H = ln(n) - sum(c*ln c)/n from EXACT per-type counts.  Two
    map-side-combinable partial aggs ((user, type) counts -> per-user
    fold); the ln terms are irrational (no exact-rational boundary exists
    for ln of integers > 1)."""
    e = graft.load(spark, sf, "events")
    c = e.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("c"))
    return c.groupBy("user_id").agg(
        F.sum("c").alias("n_events"),
        F.count(F.lit(1)).alias("n_types"),
        F.round(
            F.log(F.sum("c")) - F.sum(F.col("c") * F.log("c")) / F.sum("c"), 6
        ).alias("entropy"),
    )


def _q_w22_ema(spark, sf):
    """Windowed exponential moving average (alpha=0.8 decay per step) over
    each user's last 8 events — the classic streaming feature-engineering
    smoother, made engine-portable by evaluating it as a FINITE window dot
    product: the ROWS frame collects the last 8 values in frame order
    (deterministic on both engines), and one left-to-right float fold
    weights them by alpha^(distance from newest) and normalizes by the
    weight sum.  The fold order is pinned by the array, never by
    partitioning, so the quantized value hashes identically everywhere.
    (The infinite-history EMA is the streaming form — applyInPandasWithState
    carries the running value; this bounded form is its batch/backfill
    twin and the one that needs no per-key state.)

    Scale: ONE (user_id) window shuffle; the fold is a per-row array
    expression over <= 8 elements — whole-stage codegen, no UDF."""
    e = graft.load(spark, sf, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("event_id").asc())
        .rowsBetween(-7, Window.currentRow)
    )
    vals = F.collect_list(F.col("value")).over(w)  # frame order: oldest first
    # weight v_j by alpha^(n-1-j): newest (last) gets 1.  Left-to-right
    # folds over the same array on both engines -> identical IEEE sums.
    num = F.expr(
        "aggregate(vals, cast(0.0 as double),"
        " (acc, v) -> acc * 0.8 + cast(v as double))"
    )
    den = F.expr(
        "aggregate(vals, cast(0.0 as double), (acc, v) -> acc * 0.8 + 1.0)"
    )
    return (
        e.select("event_id", "user_id", vals.alias("vals"))
        .select(
            "event_id",
            "user_id",
            F.size("vals").alias("n_window"),
            F.floor(num / den * F.lit(1000000.0) + F.lit(0.5))
            .cast("long")
            .alias("ema_e6"),
        )
    )


def _q_a17_group_kurtosis(spark, sf):
    """Per-group fourth-moment EXCESS KURTOSIS — the a16 quantize-then-
    exact-sum pattern extended to the 4th power sum.  Values are lossless
    centi-unit int64; x^2 fits int64 (|iv| <= 5.7e4 -> x2 <= 3.2e9) but
    x^4 does NOT (~9.8e18 vs int64 max 9.2e18), so the per-row 4th power
    is computed in decimal: x2 squared as decimal(19,0)*decimal(19,0),
    summed in decimal(38,0) (exact, associative under any merge order;
    the oracle's HUGEINT path is exact the same way).  The reported
    excess kurtosis m4/m2^2 - 3 is hash-portable: zero-variance groups
    guarded EXACTLY via min==max, one fixed IEEE-754 op sequence, final
    quantization floor(x*1e4 + 0.5) -> BIGINT.  Shape: ONE map-side-
    combinable partial agg; nothing global."""
    e = graft.load(spark, sf, "events")
    iv = F.round(F.col("value") * 100).cast("long")
    d = e.select(
        "event_type",
        iv.alias("x"),
        (iv * iv).alias("x2"),
        (iv * iv * iv).alias("x3"),
        (
            (iv * iv).cast("decimal(19,0)") * (iv * iv).cast("decimal(19,0)")
        ).alias("x4"),
    )
    m = d.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("x").cast("decimal(38,0)")).alias("s1"),
        F.sum(F.col("x2").cast("decimal(38,0)")).alias("s2"),
        F.sum(F.col("x3").cast("decimal(38,0)")).alias("s3"),
        F.sum(F.col("x4").cast("decimal(38,0)")).alias("s4"),
        F.min("x").alias("mn"),
        F.max("x").alias("mx"),
    )
    nd = F.col("n").cast("double")
    m1 = F.col("s1").cast("double") / nd
    t2 = F.col("s2").cast("double") / nd
    t3 = F.col("s3").cast("double") / nd
    t4 = F.col("s4").cast("double") / nd
    m2 = t2 - m1 * m1
    m4 = (
        t4
        - F.lit(4.0) * m1 * t3
        + F.lit(6.0) * m1 * m1 * t2
        - F.lit(3.0) * m1 * m1 * m1 * m1
    )
    kurt_e4 = F.when(
        F.col("mn") != F.col("mx"),
        F.floor(
            (m4 / (m2 * m2) - F.lit(3.0)) * F.lit(10000.0) + F.lit(0.5)
        ).cast("long"),
    )
    return m.select(
        "event_type", "n", "s1", "s2", "s4", kurt_e4.alias("kurt_e4")
    )


def _q_w20_late_events(spark, sf):
    """Watermark lateness audit: replaying each user's events in arrival
    order (event_id), an event is LATE if its event time sits more than
    10 min behind the stream's high-water mark so far (max event time over
    preceding arrivals) — exactly the rows a Structured Streaming watermark
    of 10 min would drop.  Per event_type: arrival count, late count, and
    the worst lateness.  All values exact int64 (epoch microseconds), so
    the row is hash-portable by construction.

    Scale: one (user_id)-partitioned running-max window (the stream shard
    key — never a global order) + ONE map-side-combinable partial agg."""
    e = graft.load(spark, sf, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    w = (
        Window.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    late_us = F.max(us).over(w) - F.lit(600000000) - us
    return (
        e.select("event_type", late_us.alias("late_us"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count(F.when(F.col("late_us") > 0, 1)).alias("n_late"),
            F.max(F.when(F.col("late_us") > 0, F.col("late_us"))).alias(
                "max_late_us"
            ),
        )
    )


def _q_a18_group_corr(spark, sf):
    """Per-group Pearson correlation between event value and event time —
    the drift detector ("are values trending within this event class?") as
    the quantize-then-exact-sum pattern on TWO variables: x = centi-unit
    value (lossless int64), y = epoch seconds (exact int64), all five
    power/cross sums exact decimal(38,0) (x*y <= 5.7e4 * 1.8e9 ~ 1e14 and
    y*y ~ 3e18 both fit int64 per row; sums are associative under any merge
    order).  corr = (n*sxy - sx*sy) / sqrt((n*sxx - sx^2)(n*syy - sy^2))
    is one fixed IEEE op sequence over the exact sums with BOTH variances
    guarded exactly via min==max, quantized floor(x*1e6+0.5) — hash-
    portable.  Shape: ONE map-side-combinable partial agg."""
    e = graft.load(spark, sf, "events")
    x = F.round(F.col("value") * 100).cast("long")
    y = F.col("ts").cast("timestamp").cast("long")
    d = e.select(
        "event_type",
        x.alias("x"),
        y.alias("y"),
        (x * y).alias("xy"),
        (x * x).alias("xx"),
        (y * y).alias("yy"),
    )
    m = d.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("x").cast("decimal(38,0)")).alias("sx"),
        F.sum(F.col("y").cast("decimal(38,0)")).alias("sy"),
        F.sum(F.col("xy").cast("decimal(38,0)")).alias("sxy"),
        F.sum(F.col("xx").cast("decimal(38,0)")).alias("sxx"),
        F.sum(F.col("yy").cast("decimal(38,0)")).alias("syy"),
        F.min("x").alias("mnx"),
        F.max("x").alias("mxx"),
        F.min("y").alias("mny"),
        F.max("y").alias("mxy"),
    )
    nd = F.col("n").cast("double")
    sxd = F.col("sx").cast("double")
    syd = F.col("sy").cast("double")
    cov = F.col("sxy").cast("double") * nd - sxd * syd
    vx = F.col("sxx").cast("double") * nd - sxd * sxd
    vy = F.col("syy").cast("double") * nd - syd * syd
    corr_e6 = F.when(
        (F.col("mnx") != F.col("mxx")) & (F.col("mny") != F.col("mxy")),
        F.floor(cov / F.sqrt(vx * vy) * F.lit(1000000.0) + F.lit(0.5)).cast("long"),
    )
    return m.select(
        "event_type", "n", "sx", "sy", "sxy", corr_e6.alias("corr_e6")
    )


def _q_g16_modularity(spark, sf):
    """Newman modularity of the g6 label-propagation communities over the
    same transcript DAG (undirected reading) — the community-quality
    gate run before materializing a partition (sum of contrib_e10 = Q in
    1e-10 units).  Pure composition: g6's labels (the already-pinned
    2-round synchronous propagation) + one canonical edge set + two
    partial aggs; the edge count joins as a broadcast scalar."""
    from plume_spark.operators.graph_metrics import label_propagation, modularity

    edges = graft.dag_edges(spark, sf)
    labels = label_propagation(edges, n_iters=2, a="subj", b="obj")
    return modularity(edges, labels, a="subj", b="obj")


def _q_g15_component_profile(spark, sf):
    """Per-component structure profile over g2's multi-component DAG: node
    count, edge count, and the tree test (n_edges == n_nodes - 1) — the
    "know your graph before you process it" read that sizes the CC loop's
    skew exposure (one giant component -> salting; many small trees ->
    per-component driver kernels are safe).  Pure composition: the CC
    labels feed one edge-side equi-join (an edge's component is its
    subject's label — equal to the object's by definition of CC) and two
    partial aggs; everything after the CC loop is component-count-sized.
    All outputs exact int64/bool."""
    labels = _q_g2_components(spark, sf)  # (node, component)
    o = graft.load(spark, sf, "orders")
    li = graft.load(spark, sf, "lineitem")
    e1 = o.select(
        F.col("o_custkey").alias("subj"),
        (F.lit(graft.NODE_ORDER_OFFSET) + F.col("o_orderkey")).alias("obj"),
    )
    e2 = li.select(
        (F.lit(graft.NODE_ORDER_OFFSET) + F.col("l_orderkey")).alias("subj"),
        (F.lit(graft.NODE_PART_OFFSET) + F.col("l_partkey")).alias("obj"),
    ).filter(F.col("obj") % 23 == 0)
    edges = e1.unionByName(e2).distinct()
    nodes = labels.groupBy("component").agg(F.count(F.lit(1)).alias("n_nodes"))
    edge_comp = edges.join(
        labels.withColumnRenamed("node", "subj"), "subj"
    ).groupBy("component").agg(F.count(F.lit(1)).alias("n_edges"))
    return (
        nodes.join(edge_comp, "component", "left")
        .select(
            "component",
            "n_nodes",
            F.coalesce("n_edges", F.lit(0)).alias("n_edges"),
            (F.coalesce("n_edges", F.lit(0)) == F.col("n_nodes") - 1).alias(
                "is_tree"
            ),
        )
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # Registration order matters: the driver's correctness sweep samples the
    # FIRST ~50 entries.  The dict leads with the 18 names that no
    # CORRECTNESS_r01..r05.json shows hash-green, followed by the names
    # earlier driver runs already proved, in prior registration order.
    # The full registry is pinned by the committed full-run artifact
    # CORRECTNESS_full_r06.json (scripts/check_oracle.py --emit).
    return {
        # --- never hash-green in a driver run (r01-r05) ---------------------
        "a17_group_kurtosis": _q_a17_group_kurtosis,
        "a18_group_corr": _q_a18_group_corr,
        "a9_pivot": _q_a9_pivot,
        "f11_levenshtein": _q_f11_levenshtein,
        "f5_json_payload": _q_f5_json_payload,
        "a16_group_skewness": _q_a16_group_skewness,
        "g9_assortativity": _q_g9_assortativity,
        "g10_clustering_coeff": _q_g10_clustering,
        "w8_transition_matrix": _q_w8_transition_matrix,
        "stream_sessionize": _q_stream_sessionize,
        "stream_kg_build": _q_stream_kg_build,
        "stream_turn_counts": _q_stream_turn_counts,
        "kg_build_incr": _q_kg_build_incr,
        "kg_entities": _q_kg_entities,
        "kg_entity_degrees": _q_kg_entity_degrees,
        "kg_path2": _q_kg_path2,
        "kg_triple_support": _q_kg_triple_support,
        "kg_conflicts": _q_kg_conflicts,
        # --- hash-green in a driver run -----------------------------------
        "dedup_lsh_recall": _q_dedup_lsh_recall,
        "g16_modularity": _q_g16_modularity,
        "w20_late_events": _q_w20_late_events,
        "stream_dedup": _q_stream_dedup,
        "w22_ema": _q_w22_ema,
        "a19_user_entropy": _q_a19_user_entropy,
        "w10_zscore_outliers": _q_w10_zscore_outliers,
        "kg_schema_induce": _q_kg_schema_induce,
        "kg_pred_cardinality": _q_kg_pred_cardinality,
        "kg_entity_cooccur": _q_kg_entity_cooccur,
        "w7_retention_cohorts": _q_w7_retention_cohorts,
        "t5_interval_overlap": _q_t5_interval_overlap,
        "a7_percentiles": _q_a7_percentiles,
        "a8_rollup": _q_a8_rollup,
        "g2_components": _q_g2_components,
        "g3_triangles": _q_g3_triangles,
        "g4_cooccur": _q_g4_cooccur,
        "g6_label_prop": _q_g6_label_prop,
        "g7_kcore": _q_g7_kcore,
        "g8_common_neighbors": _q_g8_common_neighbors,
        "w3_sessionize": _q_w3_sessionize,
        "w4_sliding_rate": _q_w4_sliding_rate,
        "w5_funnel": _q_w5_funnel,
        "w6_event_runs": _q_w6_event_runs,
        "diag_hot_keys": _q_diag_hot_keys,
        "t1_asof_join": _q_t1_asof_join,
        "t2_range_join": _q_t2_range_join,
        "t3_ohlc_downsample": _q_t3_ohlc_downsample,
        "t4_resample_gapfill": _q_t4_resample_gapfill,
        "dedup_minhash_incr": _q_dedup_incr,
        "dedup_minhash_groups": _q_dedup_groups,
        "g13_linkpred_ra": _q_g13_linkpred_ra,
        "kg_neg_samples": _q_kg_neg_samples,
        "w19_attribution": _q_w19_attribution,
        "g14_ppr": _q_g14_ppr,
        "kg_rule_confidence": _q_kg_rule_confidence,
        "g15_component_profile": _q_g15_component_profile,
        "a15_bloom": _q_a15_bloom,
        "kg_star_join": _q_kg_star_join,
        "w18_streaks": _q_w18_streaks,
        "t6_scd2": _q_t6_scd2,
        "w13_rolling_active": _q_w13_rolling_active,
        "a12_cube": _q_a12_cube,
        "w14_rfm": _q_w14_rfm,
        "kg_sym_preds": _q_kg_sym_preds,
        "kg_current_facts": _q_kg_current_facts,
        "g12_hits": _q_g12_hits,
        "kg_degree_hist": _q_kg_degree_hist,
        "w15_interarrival": _q_w15_interarrival,
        "a13_mad": _q_a13_mad,
        "kg_alias_merge": _q_kg_alias_merge,
        "w16_gini": _q_w16_gini,
        "a14_countmin": _q_a14_countmin,
        "w17_rank_family": _q_w17_rank_family,
        "t7_asof_tolerance": _q_t7_asof_tolerance,
        "a10_approx_distinct": _q_a10_approx_distinct,
        "a11_approx_quantile": _q_a11_approx_quantile,
        "w9_peak_concurrency": _q_w9_peak_concurrency,
        "g11_edge_lift": _q_g11_edge_lift,
        "kg_fact_recency": _q_kg_fact_recency,
        "w11_week_over_week": _q_w11_week_over_week,
        "w12_time_to_convert": _q_w12_time_to_convert,
        "u3_except_intersect": _q_u3_except_intersect,
        "w1_turn_ordering": _q_w1,
        "w2_lag_context": _q_w2,
        "w1_reassemble": _q_w1_reassemble,
        "o1_topk": _q_o1,
        "a1_group_sum": _q_a1,
        "a2_filtered_count": _q_a2,
        "a5_collect_set": _q_a5,
        "u1_union_distinct": _q_u1,
        "p1_projection_defaults": _q_p1,
        "j1_edge_endpoint_join": _q_j1,
        "p2_bulk_exists": _q_p2,
        "p3_edge_exists": _q_p3,
        "p7_roots": _q_p7,
        "j6_out_neighbors": _q_j6,
        "j7_two_hop": _q_j7,
        "j7_reachable": _q_j7r,
        "g5_bfs_dist": _q_g5_bfs,
        "j4_point_lookup": _q_j4,
        "dedup_exact": _q_dedup_exact,
        "dedup_minhash_lsh": _q_dedup_minhash,
        "dedup_simhash": _q_dedup_simhash,
        "dedup_ngram_jaccard": _q_dedup_ngram,
        "dedup_embedding_cosine": _q_dedup_embedding,
        "p5_property_presence": _q_p5,
        "p6_theta_filter": _q_p6,
        "p9_role_filter": _q_p9,
        "a3_node_count": _q_a3,
        "j5_scan_lookup": _q_j5,
        "f2_list_csv": _q_f2,
        "f8_content_hash": _q_f8,
        "j8_constraint_check": _q_j8,
        "kg_extract_raw": _q_kg_extract_raw,
        "kg_build_triples": _q_kg_build,
        "j8b_kind_constraints": _q_j8b_kind_constraints,
        "j7_parent_walk": _q_parent_walk,
        "a1_order_sum": _q_order_sum,
        "a2_order_count": _q_order_count,
        "a4_map_merge": _q_a4_map_merge,
        "stream_ordered_release": _q_stream_ordered_release,
        "g1_pagerank": _q_g1_pagerank,
    }


# --------------------------------------------------------------------------
# oracle SQL (DuckDB) — same names, same column names, same values
# --------------------------------------------------------------------------

_TRANSCRIPTS_CTE = """
WITH transcripts AS (
  SELECT 'conv-' || CAST(user_id AS VARCHAR) AS conv_id,
         CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1 AS INT) AS turn_idx,
         event_type AS role,
         concat_ws(' ', event_type, props) AS text
  FROM events)
"""

# the oracle SQL below hardcodes the node-id offsets as literals; fail at
# import if graft's constants ever move so the strings can't silently drift
assert graft.NODE_ORDER_OFFSET == 1_000_000 and graft.NODE_PART_OFFSET == 2_000_000

_EDGES_CTE = """
WITH edges AS (
  SELECT o_custkey AS subj, 1000000 + o_orderkey AS obj FROM orders
  UNION ALL
  SELECT 1000000 + l_orderkey, 2000000 + l_partkey FROM lineitem)
"""

# portable token ids: polynomial rolling hash over character codes mod P —
# mirrors dedup.portable_token_ids exactly (fold(acc*131 + ascii(c)) mod P);
# the CAST(0 AS BIGINT) seed forces 64-bit accumulation (acc*131 overflows
# INT32).  No dictionary, no global sort — on either engine.
_POLY_ID = (
    "list_reduce(list_prepend(CAST(0 AS BIGINT), "
    "list_transform(string_split_regex(tok, ''), c -> ascii(c))), "
    f"(a, b) -> (a * {dedup.POLY_MUL} + b) % {dedup.MINHASH_P})"
)

_TOK_CTE = f"""
WITH tok AS (
  SELECT DISTINCT doc_id, tok
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
  WHERE tok <> ''),
ids AS (SELECT DISTINCT doc_id, {_POLY_ID} AS tok_id FROM tok)
"""

# word-3-gram shingle units for minhash (order-sensitive near-dup unit)
_SHINGLE_CTE = f"""
WITH t0 AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
  FROM documents
  WHERE len(list_filter(string_split(text, ' '), x -> x <> '')) >= 3),
tok AS (
  SELECT DISTINCT doc_id, toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS tok
  FROM t0, (SELECT unnest(range(1, (SELECT CAST(max(len(string_split(text, ' '))) AS BIGINT) + 1 FROM documents))) AS i)
  WHERE i <= len(toks) - 2),
ids AS (SELECT DISTINCT doc_id, {_POLY_ID} AS tok_id FROM tok)
"""

_MINHASH_PARAMS = ", ".join(
    f"({i}, {dedup.MINHASH_A[i]}, {dedup.MINHASH_B[i]})" for i in range(dedup.MINHASH_K)
)


def _minhash_oracle_body(
    verify_table: str, verify_col: str, pair_where: str = "", round_digits: int = 4
) -> str:
    """Banding/cap/star/verify SQL shared by the full and incremental minhash
    oracles — one source of truth so a banding change cannot desynchronize
    them.  ``verify_table``/``verify_col``: the exact-Jaccard substrate
    ("tok"/"tok" for raw shingles — the full path; "idd"/"tok_id" for the
    persisted-index token ids — the incremental path)."""
    q_scale = float(10**round_digits)
    return f""",
        params(h, a, b) AS (VALUES {_MINHASH_PARAMS}),
        sig AS (
          SELECT doc_id, h, min((a * tok_id + b) % 2147483647) AS minhash
          FROM ids CROSS JOIN params GROUP BY doc_id, h),
        bands AS (
          SELECT doc_id, h // {dedup.BAND_ROWS} AS band,
                 string_agg(CAST(minhash AS VARCHAR), '-' ORDER BY h) AS band_sig
          FROM sig GROUP BY doc_id, h // {dedup.BAND_ROWS}),
        okb AS (
          SELECT band, band_sig FROM bands
          GROUP BY band, band_sig HAVING count(*) <= {dedup.MAX_BUCKET_SIZE}),
        bandsok AS (
          SELECT bands.* FROM bands
          JOIN okb ON bands.band = okb.band AND bands.band_sig = okb.band_sig),
        cand0 AS (
          SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM bandsok a JOIN bandsok b ON a.band = b.band AND a.band_sig = b.band_sig
          WHERE a.doc_id < b.doc_id),
        idd AS (SELECT DISTINCT doc_id, tok_id FROM ids),
        gsets AS (
          SELECT doc_id, string_agg(CAST(tok_id AS VARCHAR), ',' ORDER BY tok_id) AS gset
          FROM idd GROUP BY doc_id),
        starg AS (
          SELECT gset, min(doc_id) AS mn FROM gsets
          GROUP BY gset HAVING count(*) > 1),
        star AS (
          SELECT g.mn AS doc_a, s.doc_id AS doc_b
          FROM gsets s JOIN starg g ON s.gset = g.gset AND s.doc_id <> g.mn),
        cand AS (
          SELECT doc_a, doc_b FROM
            (SELECT doc_a, doc_b FROM cand0 UNION SELECT doc_a, doc_b FROM star)
          {pair_where}),
        sizes AS (SELECT doc_id, count(*) AS sz FROM {verify_table} GROUP BY doc_id),
        inter AS (
          SELECT c.doc_a, c.doc_b, count(*) AS i
          FROM cand c
          JOIN {verify_table} ta ON ta.doc_id = c.doc_a
          JOIN {verify_table} tb ON tb.doc_id = c.doc_b
            AND tb.{verify_col} = ta.{verify_col}
          GROUP BY c.doc_a, c.doc_b)
        SELECT doc_a, doc_b,
               CAST(floor((i * 1.0 / (sa.sz + sb.sz - i))
                          * {q_scale} + 0.5) / {q_scale} AS DOUBLE)
                 AS jaccard
        FROM inter
        JOIN sizes sa ON sa.doc_id = inter.doc_a
        JOIN sizes sb ON sb.doc_id = inter.doc_b
        WHERE i * 1.0 / (sa.sz + sb.sz - i) >= {dedup.JACCARD_TAU}"""


def oracle_sql() -> dict[str, str]:
    sql = {}
    sql["w1_turn_ordering"] = (
        _TRANSCRIPTS_CTE
        + "SELECT conv_id, turn_idx, role, text FROM transcripts WHERE turn_idx < 3"
    )
    sql["w2_lag_context"] = (
        _TRANSCRIPTS_CTE
        + """
        SELECT conv_id, turn_idx, prev_text FROM (
          SELECT conv_id, turn_idx,
                 lag(text) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS prev_text
          FROM transcripts)
        WHERE turn_idx < 3"""
    )
    sql["w1_reassemble"] = (
        _TRANSCRIPTS_CTE
        + """
        SELECT conv_id,
               string_agg(text, chr(10) ORDER BY turn_idx) AS joined_text
        FROM transcripts GROUP BY conv_id"""
    )
    sql["o1_topk"] = (
        "SELECT event_id, value FROM events ORDER BY value DESC, event_id LIMIT 100"
    )
    sql["a1_group_sum"] = """
        SELECT user_id,
               CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
               count(*) AS n
        FROM events GROUP BY user_id"""
    sql["a2_filtered_count"] = "SELECT count(*) AS n FROM events WHERE value > 100"
    sql["a5_collect_set"] = """
        SELECT user_id, string_agg(DISTINCT event_type, ',' ORDER BY event_type) AS event_types
        FROM events GROUP BY user_id"""
    sql["u1_union_distinct"] = """
        SELECT event_type FROM events WHERE value > 150
        UNION
        SELECT event_type FROM events WHERE value < 50"""
    sql["p1_projection_defaults"] = """
        SELECT c_custkey, coalesce(c_mktsegment, '<empty>') AS segment,
               coalesce(c_acctbal, -1.0) AS acctbal
        FROM customer"""
    sql["j1_edge_endpoint_join"] = """
        SELECT o_orderkey, c_name, o_totalprice
        FROM orders JOIN customer ON o_custkey = c_custkey"""
    sql["p2_bulk_exists"] = """
        SELECT DISTINCT o_custkey AS custkey FROM orders
        WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_acctbal > 5000)"""
    sql["p3_edge_exists"] = """
        SELECT (EXISTS(SELECT 1 FROM orders WHERE o_custkey = 1)) AS fwd,
               (EXISTS(SELECT 1 FROM lineitem WHERE l_orderkey = -5)) AS missing"""
    sql["p7_roots"] = (
        _EDGES_CTE
        + """SELECT DISTINCT subj AS node FROM edges e
             WHERE NOT EXISTS (SELECT 1 FROM edges i WHERE i.obj = e.subj)"""
    )
    sql["j6_out_neighbors"] = """
        SELECT DISTINCT 1000000 + o_orderkey AS node FROM orders WHERE o_custkey < 5"""
    sql["j7_two_hop"] = """
        SELECT DISTINCT 2000000 + l_partkey AS node
        FROM orders JOIN lineitem ON l_orderkey = o_orderkey
        WHERE o_custkey < 10"""
    sql["j7_reachable"] = """
        SELECT c_custkey AS node FROM customer WHERE c_custkey < 3
        UNION
        SELECT 1000000 + o_orderkey FROM orders WHERE o_custkey < 3
        UNION
        SELECT 2000000 + l_partkey
        FROM orders JOIN lineitem ON l_orderkey = o_orderkey
        WHERE o_custkey < 3"""
    sql["g5_bfs_dist"] = """
        SELECT node, CAST(min(dist) AS BIGINT) AS dist FROM (
          SELECT c_custkey AS node, 0 AS dist FROM customer WHERE c_custkey < 3
          UNION ALL
          SELECT 1000000 + o_orderkey, 1 FROM orders WHERE o_custkey < 3
          UNION ALL
          SELECT 2000000 + l_partkey, 2
          FROM orders JOIN lineitem ON l_orderkey = o_orderkey
          WHERE o_custkey < 3
        ) GROUP BY node"""
    names = ", ".join(f"'{n}'" for n in LOOKUP_NAMES)
    sql["j4_point_lookup"] = (
        f"SELECT c_custkey, c_name FROM customer WHERE c_name IN ({names})"
    )
    sql["dedup_exact"] = """
        SELECT doc_id,
               CASE WHEN text IS NULL THEN doc_id
                    ELSE min(doc_id) OVER (PARTITION BY text) END AS keeper_id,
               CASE WHEN text IS NULL THEN 1
                    ELSE count(*) OVER (PARTITION BY text) END AS group_size
        FROM documents"""
    sql["dedup_minhash_lsh"] = _SHINGLE_CTE + _minhash_oracle_body("tok", "tok")
    # the streamed index stores round(jaccard, 6); otherwise identical to
    # the offline full-run pair set — that equality IS the contract
    sql["stream_dedup"] = _SHINGLE_CTE + _minhash_oracle_body(
        "tok", "tok", round_digits=6
    )
    sql["dedup_simhash"] = (
        _TOK_CTE
        + f""",
        s AS (SELECT doc_id, (tok_id * {dedup.SIMHASH_SCRAMBLE}) % 4294967296 AS s FROM ids),
        bits AS (
          SELECT doc_id, j, sum(((s // (1::BIGINT << j)) % 2) * 2 - 1) AS sm
          FROM s CROSS JOIN (SELECT unnest(range(0, {dedup.SIMHASH_BITS})) AS j)
          GROUP BY doc_id, j)
        SELECT doc_id,
               CAST(sum(CASE WHEN sm >= 0 THEN (1::BIGINT << j) ELSE 0 END) AS BIGINT) AS simhash
        FROM bits GROUP BY doc_id"""
    )
    sql["dedup_ngram_jaccard"] = """
        WITH t AS (
          SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
          FROM documents
          WHERE len(list_filter(string_split(text, ' '), x -> x <> '')) >= 3),
        sh AS (
          SELECT DISTINCT doc_id, toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS shingle
          FROM t, (SELECT unnest(range(1, (SELECT CAST(max(len(string_split(text, ' '))) AS BIGINT) + 1 FROM documents))) AS i)
          WHERE i <= len(toks) - 2),
        sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
        inter AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
          FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
          GROUP BY a.doc_id, b.doc_id)
        SELECT doc_a, doc_b,
               CAST(floor((i * 1.0 / (sa.sz + sb.sz - i)) * 10000.0 + 0.5) / 10000.0 AS DOUBLE) AS jaccard
        FROM inter
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
        WHERE i * 1.0 / (sa.sz + sb.sz - i) >= 0.5"""
    sql["dedup_lsh_recall"] = f"""
        WITH ex AS ({sql['dedup_ngram_jaccard']}),
        ap AS (SELECT doc_a, doc_b FROM ({sql['dedup_minhash_lsh']})),
        h AS (
          SELECT ex.doc_a, ex.doc_b, ex.jaccard,
                 EXISTS (SELECT 1 FROM ap
                         WHERE ap.doc_a = ex.doc_a AND ap.doc_b = ex.doc_b)
                   AS lsh_found
          FROM ex)
        SELECT doc_a, doc_b, jaccard, lsh_found,
               count(*) OVER () AS n_exact,
               CAST(sum(CASE WHEN lsh_found THEN 1 ELSE 0 END) OVER ()
                    AS BIGINT) AS n_found,
               CAST(sum(CASE WHEN lsh_found THEN 1 ELSE 0 END) OVER ()
                    AS BIGINT) * 5 >= count(*) OVER () * 4 AS recall_ok
        FROM h"""


    bucket_cte = f"""
        WITH e AS (
          SELECT vec_id, unnest(CAST(embedding AS DOUBLE[])) AS x,
                 generate_subscripts(embedding, 1) AS i
          FROM embeddings),
        proj AS (
          SELECT vec_id, p,
                 sum(x * (((i * {similarity._W_MUL_I} + (p+1) * {similarity._W_MUL_P})
                           % {similarity._W_MOD}) - {similarity._W_OFF})) AS s
          FROM e CROSS JOIN (SELECT unnest(range(0, {similarity.N_PLANES})) AS p)
          GROUP BY vec_id, p),
        buckets AS (
          SELECT vec_id,
                 CAST(sum(CASE WHEN s >= 0 THEN (1::BIGINT << p) ELSE 0 END) AS BIGINT) AS bucket
          FROM proj GROUP BY vec_id)"""
    sql["dedup_embedding_cosine"] = (
        bucket_cte
        + """
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
               CAST(round(list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]),
                                                 CAST(eb.embedding AS DOUBLE[])), 4) AS DOUBLE) AS cos_sim
        FROM buckets a
        JOIN buckets b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
        JOIN embeddings ea ON ea.vec_id = a.vec_id
        JOIN embeddings eb ON eb.vec_id = b.vec_id
        WHERE round(list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]),
                                           CAST(eb.embedding AS DOUBLE[])), 4) >= 0.35"""
    )
    sql["p5_property_presence"] = """
        SELECT event_id, event_type FROM events
        WHERE props IS NOT NULL AND props <> ''"""
    sql["p6_theta_filter"] = "SELECT event_id, value FROM events WHERE value > 2"
    sql["p9_role_filter"] = (
        _TRANSCRIPTS_CTE
        + "SELECT conv_id, turn_idx, role FROM transcripts WHERE role IN ('click', 'purchase')"
    )
    sql["a3_node_count"] = "SELECT count(*) AS n FROM customer"
    sql["j5_scan_lookup"] = (
        f"SELECT c_custkey, c_name FROM customer WHERE c_name IN ({names})"
    )
    sql["f2_list_csv"] = """
        WITH t AS (
          SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
          FROM documents)
        SELECT doc_id,
               array_to_string(toks, ',') AS csv,
               len(toks) AS n_items,
               string_split(array_to_string(toks, ','), ',')[1] AS first_item
        FROM t"""
    sql["f8_content_hash"] = """
        SELECT c_custkey, sha256('customer|' || c_name) AS content_hash
        FROM customer"""
    sql["j8_constraint_check"] = (
        _EDGES_CTE
        + """
        SELECT count(*) AS n_violations FROM edges e
        WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = e.subj)"""
    )
    subj_norm = NORM_SQL.format(col="c_name")
    obj_norm = NORM_SQL.format(col="n_name")
    sql["kg_extract_raw"] = f"""
        WITH t AS (
          SELECT c.c_custkey, c.c_name, n.n_name, o.o_orderkey,
                 CAST(row_number() OVER (PARTITION BY c.c_custkey
                                         ORDER BY o.o_orderdate, o.o_orderkey) - 1 AS INT) AS turn_idx
          FROM customer c
          JOIN nation n ON c.c_nationkey = n.n_nationkey
          JOIN orders o ON o.o_custkey = c.c_custkey)
        SELECT 'conv-' || CAST(c_custkey AS VARCHAR) AS conv_id, turn_idx,
               {subj_norm} AS subj_norm,
               CASE WHEN o_orderkey % 2 = 0 THEN 'works_at' ELSE 'visited' END AS pred,
               {obj_norm} AS obj_norm
        FROM t"""
    # the stateful release is exactly-once and in-order, so its output set is
    # the transcript set itself (same derivation as kg_extract_raw's CTE)
    sql["stream_ordered_release"] = """
        WITH t AS (
          SELECT c.c_custkey, c.c_name, n.n_name, o.o_orderkey,
                 CAST(row_number() OVER (PARTITION BY c.c_custkey
                                         ORDER BY o.o_orderdate, o.o_orderkey) - 1 AS INT) AS turn_idx
          FROM customer c
          JOIN nation n ON c.c_nationkey = n.n_nationkey
          JOIN orders o ON o.o_custkey = c.c_custkey)
        SELECT 'conv-' || CAST(c_custkey AS VARCHAR) AS conv_id, turn_idx,
               'user' AS role,
               c_name || (CASE WHEN o_orderkey % 2 = 0 THEN ' works at ' ELSE ' visited ' END) || n_name AS text
        FROM t"""


    # Flagship oracle.  At tau=0.95 on this norm population every verified
    # pair has IDENTICAL distinct-3-gram sets (checked empirically at sf0.001
    # and sf0.01: a one-gram difference over <=19-gram unions caps J at
    # ~0.88) — so canonical groups are exactly the equivalence classes of the
    # gram-set fingerprint, reproducible in SQL without LSH.  If the engine
    # ever emitted a 0.95<=J<1 link here the hashes would visibly diverge —
    # the check fails loudly, never silently passes.  All norms here are
    # >=3 chars (customer/nation names), so no short-string padding needed.
    sql["kg_build_triples"] = f"""
        WITH t0 AS (
          SELECT c.c_custkey, c.c_name, n.n_name, o.o_orderkey,
                 CAST(row_number() OVER (PARTITION BY c.c_custkey
                                         ORDER BY o.o_orderdate, o.o_orderkey) - 1 AS INT) AS turn_idx
          FROM customer c
          JOIN nation n ON c.c_nationkey = n.n_nationkey
          JOIN orders o ON o.o_custkey = c.c_custkey),
        t AS (
          SELECT 'conv-' || CAST(c_custkey AS VARCHAR) AS conv_id, turn_idx,
                 {subj_norm} AS subj_norm,
                 CASE WHEN o_orderkey % 2 = 0 THEN 'works_at' ELSE 'visited' END AS pred,
                 {obj_norm} AS obj_norm
          FROM t0),
        norms AS (
          SELECT DISTINCT subj_norm AS norm FROM t
          UNION SELECT DISTINCT obj_norm FROM t),
        fp AS (
          SELECT norm, string_agg(DISTINCT g, '|' ORDER BY g) AS gramset
          FROM (SELECT norm, substr(norm, i, 3) AS g
                FROM norms, (SELECT unnest(range(1, (SELECT CAST(max(length(norm)) AS BIGINT) + 1 FROM norms))) AS i)
                WHERE i <= length(norm) - 2)
          GROUP BY norm),
        canon AS (SELECT norm, min(norm) OVER (PARTITION BY gramset) AS cname FROM fp)
        SELECT t.conv_id, t.turn_idx,
               cs.cname AS subj_name, t.pred, co.cname AS obj_name
        FROM t
        JOIN canon cs ON cs.norm = t.subj_norm
        JOIN canon co ON co.norm = t.obj_norm"""
    # degree analytics over the SAME canonicalized triple set as the flagship
    # oracle: wrap its full query as a CTE and aggregate
    sql["kg_entity_degrees"] = f"""
        WITH kg AS ({sql['kg_build_triples']}),
        o AS (SELECT subj_name AS name, count(*) AS out_deg,
                     count(DISTINCT pred) AS n_preds
              FROM kg GROUP BY subj_name),
        i AS (SELECT obj_name AS name, count(*) AS in_deg FROM kg GROUP BY obj_name)
        SELECT coalesce(o.name, i.name) AS name,
               coalesce(o.out_deg, 0) AS out_deg,
               coalesce(i.in_deg, 0) AS in_deg,
               coalesce(o.n_preds, 0) AS n_preds
        FROM o FULL JOIN i ON o.name = i.name"""
    # the streaming persist path must converge to the SAME triple set as the
    # batch flagship — one oracle string, two execution paths
    sql["stream_kg_build"] = sql["kg_build_triples"]
    # incremental batch build must converge to the same triple set too
    sql["kg_build_incr"] = sql["kg_build_triples"]
    # watermarked streaming agg == batch GROUP BY over the same derivation
    # (complete mode: every window retained in state across epochs)
    sql["stream_turn_counts"] = """
        WITH t AS (
          SELECT 'conv-' || CAST(c.c_custkey AS VARCHAR) AS conv_id,
                 CAST(row_number() OVER (PARTITION BY c.c_custkey
                                         ORDER BY o.o_orderdate, o.o_orderkey) - 1 AS INT) AS turn_idx,
                 CAST(o.o_orderdate AS TIMESTAMP) AS ts
          FROM customer c
          JOIN nation n ON c.c_nationkey = n.n_nationkey
          JOIN orders o ON o.o_custkey = c.c_custkey)
        SELECT date_trunc('hour', ts) AS window_start, conv_id,
               count(*) AS n_turns, CAST(max(turn_idx) AS INT) AS max_turn_idx
        FROM t GROUP BY 1, 2"""
    # entity-side oracle: same canonicalization CTE as the flagship, plus the
    # kind-hint rule (min non-'entity' kind over a cluster's member norms; in
    # this substrate subj mentions carry 'person', obj mentions 'org')
    _subj_n = NORM_SQL.format(col="c_name")
    _obj_n = NORM_SQL.format(col="n_name")
    sql["kg_entities"] = f"""
        WITH t0 AS (
          SELECT c.c_custkey, c.c_name, n.n_name, o.o_orderkey
          FROM customer c
          JOIN nation n ON c.c_nationkey = n.n_nationkey
          JOIN orders o ON o.o_custkey = c.c_custkey),
        t AS (
          SELECT {_subj_n} AS subj_norm, {_obj_n} AS obj_norm FROM t0),
        norms AS (
          SELECT DISTINCT subj_norm AS norm FROM t
          UNION SELECT DISTINCT obj_norm FROM t),
        fp AS (
          SELECT norm, string_agg(DISTINCT g, '|' ORDER BY g) AS gramset
          FROM (SELECT norm, substr(norm, i, 3) AS g
                FROM norms, (SELECT unnest(range(1, (SELECT CAST(max(length(norm)) AS BIGINT) + 1 FROM norms))) AS i)
                WHERE i <= length(norm) - 2)
          GROUP BY norm),
        canon AS (SELECT norm, min(norm) OVER (PARTITION BY gramset) AS cname FROM fp),
        nk AS (
          SELECT subj_norm AS norm, 'person' AS kind FROM t
          UNION ALL SELECT obj_norm, 'org' FROM t),
        nk1 AS (SELECT norm, min(kind) AS kind_hint FROM nk GROUP BY norm)
        SELECT c.cname AS canonical_name,
               coalesce(min(k.kind_hint), 'entity') AS kind,
               count(DISTINCT c.norm) AS n_aliases,
               string_agg(DISTINCT c.norm, ',' ORDER BY c.norm) AS alias_csv
        FROM canon c LEFT JOIN nk1 k ON k.norm = c.norm
        GROUP BY c.cname"""
    # temporal scoping: the SAME canonicalized triple set re-attached to the
    # transcript timestamps via its (conv_id, turn_idx) provenance
    sql["kg_fact_recency"] = f"""
        WITH kg AS ({sql['kg_build_triples']}),
        tt AS (
          SELECT 'conv-' || CAST(c.c_custkey AS VARCHAR) AS conv_id,
                 CAST(row_number() OVER (PARTITION BY c.c_custkey
                                         ORDER BY o.o_orderdate, o.o_orderkey) - 1 AS INT) AS turn_idx,
                 CAST(o.o_orderdate AS TIMESTAMP) AS ts
          FROM customer c
          JOIN nation n ON c.c_nationkey = n.n_nationkey
          JOIN orders o ON o.o_custkey = c.c_custkey)
        SELECT kg.subj_name, kg.pred, kg.obj_name,
               min(tt.ts) AS first_seen, max(tt.ts) AS last_seen,
               count(*) AS n_mentions,
               CAST(date_diff('day', CAST(min(tt.ts) AS DATE),
                              CAST(max(tt.ts) AS DATE)) AS BIGINT) AS span_days
        FROM kg JOIN tt USING (conv_id, turn_idx)
        GROUP BY kg.subj_name, kg.pred, kg.obj_name"""
    # Varied-substrate KG (graft.kg_transcripts_varied): the same gram-set
    # canonicalization CTE as the flagship oracle (identical surface
    # vocabulary, so the tau=0.95 LSH == exact-gramset argument carries
    # over verbatim), over the richer turn derivation with non-functional
    # 'visited' and partially-symmetric 'met'.
    _vnorm_s = NORM_SQL.format(col="subj_surface")
    _vnorm_o = NORM_SQL.format(col="obj_surface")
    kg_varied = f"""
        WITH dims AS (SELECT count(*) AS ncust FROM customer),
        b AS (SELECT c.c_custkey, c.c_name, c.c_nationkey,
                     o.o_orderkey, o.o_orderdate, n.n_name
              FROM customer c
              JOIN orders o ON o.o_custkey = c.c_custkey
              JOIN nation n ON n.n_nationkey = c.c_nationkey),
        raw AS (
          SELECT b.c_custkey, b.o_orderdate, b.o_orderkey, 0 AS rev,
                 b.c_name AS subj_surface,
                 CASE WHEN b.o_orderkey % 2 = 0 THEN 'works_at'
                      ELSE 'visited' END AS pred,
                 CASE WHEN b.o_orderkey % 2 = 0 THEN b.n_name
                      ELSE nv.n_name END AS obj_surface
          FROM b JOIN nation nv
            ON nv.n_nationkey = (b.c_nationkey + (b.o_orderkey % 3) * 7) % 25
          UNION ALL
          SELECT b.c_custkey, b.o_orderdate, b.o_orderkey, 1,
                 b.c_name, 'met', cb.c_name
          FROM b CROSS JOIN dims
          JOIN customer cb
            ON cb.c_custkey = (b.c_custkey + b.o_orderkey) % dims.ncust
          WHERE b.o_orderkey % 5 = 0 AND cb.c_custkey <> b.c_custkey
          UNION ALL
          SELECT b.c_custkey, b.o_orderdate, b.o_orderkey, 2,
                 cb.c_name, 'met', b.c_name
          FROM b CROSS JOIN dims
          JOIN customer cb
            ON cb.c_custkey = (b.c_custkey + b.o_orderkey) % dims.ncust
          WHERE b.o_orderkey % 10 = 0 AND cb.c_custkey <> b.c_custkey),
        t AS (
          SELECT 'conv-' || CAST(c_custkey AS VARCHAR) AS conv_id,
                 CAST(row_number() OVER (PARTITION BY c_custkey
                        ORDER BY o_orderdate, o_orderkey, rev) - 1 AS INT)
                   AS turn_idx,
                 CAST(o_orderdate AS TIMESTAMP) AS ts,
                 {_vnorm_s} AS subj_norm, pred, {_vnorm_o} AS obj_norm
          FROM raw),
        norms AS (
          SELECT DISTINCT subj_norm AS norm FROM t
          UNION SELECT DISTINCT obj_norm FROM t),
        fp AS (
          SELECT norm, string_agg(DISTINCT g, '|' ORDER BY g) AS gramset
          FROM (SELECT norm, substr(norm, i, 3) AS g
                FROM norms, (SELECT unnest(range(1, (SELECT CAST(max(length(norm)) AS BIGINT) + 1 FROM norms))) AS i)
                WHERE i <= length(norm) - 2)
          GROUP BY norm),
        canon AS (SELECT norm, min(norm) OVER (PARTITION BY gramset) AS cname
                  FROM fp)
        SELECT t.conv_id, t.turn_idx, t.ts,
               cs.cname AS subj_name, t.pred, co.cname AS obj_name
        FROM t
        JOIN canon cs ON cs.norm = t.subj_norm
        JOIN canon co ON co.norm = t.obj_norm"""
    sql["kg_degree_hist"] = f"""
        WITH kg AS ({sql['kg_build_triples']}),
        d AS (SELECT DISTINCT subj_name, pred, obj_name FROM kg),
        ends AS (SELECT subj_name AS name FROM d
                 UNION ALL SELECT obj_name FROM d),
        deg AS (SELECT name, count(*) AS deg FROM ends GROUP BY name),
        g AS (SELECT CAST(length(bin(CAST(deg AS INT))) AS INT) AS bucket,
                     count(*) AS n_entities, CAST(sum(deg) AS BIGINT) AS total_deg
              FROM deg GROUP BY 1)
        SELECT bucket, n_entities, total_deg,
               floor((n_entities * 1.0 / sum(n_entities) OVER ()) * 1000000.0 + 0.5) / 1000000.0 AS share
        FROM g"""
    sql["w15_interarrival"] = """
        WITH g AS (
          SELECT event_type,
                 epoch_us(ts) - lag(epoch_us(ts)) OVER (
                   PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
                   AS gap_us
          FROM events)
        SELECT event_type, count(*) AS n_gaps,
               round(quantile_cont(gap_us, 0.5), 6) AS p50_us,
               round(quantile_cont(gap_us, 0.9), 6) AS p90_us
        FROM g WHERE gap_us IS NOT NULL GROUP BY event_type"""
    # alias-substrate canonicalization: the same gram-fingerprint CTE over
    # the padded/plain surface pairs — the merge path, value-checked
    _anorm_s = NORM_SQL.format(col="subj_surface")
    _anorm_o = NORM_SQL.format(col="obj_surface")
    sql["kg_alias_merge"] = f"""
        WITH raw AS (
          SELECT CASE WHEN o.o_orderkey % 2 = 1
                      THEN replace(c.c_name, '#', '#0')
                      ELSE c.c_name END AS subj_surface,
                 n.n_name AS obj_surface
          FROM customer c
          JOIN nation n ON c.c_nationkey = n.n_nationkey
          JOIN orders o ON o.o_custkey = c.c_custkey),
        norms AS (
          SELECT DISTINCT {_anorm_s} AS norm FROM raw
          UNION SELECT DISTINCT {_anorm_o} FROM raw),
        fp AS (
          SELECT norm, string_agg(DISTINCT g, '|' ORDER BY g) AS gramset
          FROM (SELECT norm, substr(norm, i, 3) AS g
                FROM norms, (SELECT unnest(range(1, (SELECT CAST(max(length(norm)) AS BIGINT) + 1 FROM norms))) AS i)
                WHERE i <= length(norm) - 2)
          GROUP BY norm),
        canon AS (SELECT norm, min(norm) OVER (PARTITION BY gramset) AS cname
                  FROM fp)
        SELECT cname AS canonical_name, count(*) AS n_aliases,
               string_agg(norm, ',' ORDER BY norm) AS alias_csv
        FROM canon GROUP BY cname HAVING count(*) >= 2"""
    sql["kg_sym_preds"] = f"""
        WITH kg AS ({kg_varied}),
        d AS (SELECT DISTINCT subj_name, pred, obj_name FROM kg),
        a AS (SELECT pred, count(*) AS n_triples FROM d GROUP BY pred),
        s AS (SELECT d.pred, count(*) AS n_sym FROM d
              WHERE EXISTS (SELECT 1 FROM d d2
                            WHERE d2.subj_name = d.obj_name
                              AND d2.pred = d.pred
                              AND d2.obj_name = d.subj_name)
              GROUP BY d.pred)
        SELECT a.pred, a.n_triples, coalesce(s.n_sym, 0) AS n_sym,
               floor((CAST(coalesce(s.n_sym, 0) AS DOUBLE) / a.n_triples) * 1000000.0 + 0.5) / 1000000.0
                 AS sym_ratio
        FROM a LEFT JOIN s ON s.pred = a.pred"""
    sql["kg_current_facts"] = f"""
        WITH kg AS ({kg_varied}),
        facts AS (SELECT subj_name, pred, obj_name, max(ts) AS last_seen
                  FROM kg GROUP BY subj_name, pred, obj_name),
        r AS (SELECT subj_name, pred, obj_name, last_seen,
                     row_number() OVER (PARTITION BY subj_name, pred
                       ORDER BY last_seen DESC, obj_name DESC) AS rn,
                     count(*) OVER (PARTITION BY subj_name, pred)
                       AS n_alternatives
              FROM facts)
        SELECT subj_name, pred, obj_name AS obj_current, last_seen,
               n_alternatives
        FROM r WHERE rn = 1"""
    # implicit-schema induction: the SAME canonicalized triple set and the
    # SAME kind-rule entity table, joined and aggregated by triple pattern
    sql["kg_schema_induce"] = f"""
        WITH kg AS ({sql['kg_build_triples']}),
        ents AS ({sql['kg_entities']}),
        d AS (SELECT DISTINCT subj_name, pred, obj_name FROM kg)
        SELECT es.kind AS subj_kind, d.pred, eo.kind AS obj_kind,
               count(*) AS n_triples,
               count(DISTINCT d.subj_name) AS n_subj,
               count(DISTINCT d.obj_name) AS n_obj
        FROM d
        JOIN ents es ON es.canonical_name = d.subj_name
        JOIN ents eo ON eo.canonical_name = d.obj_name
        GROUP BY 1, 2, 3"""
    # kg_path2's oracle is the NAIVE path self-join (the definition); the
    # engine runs the degree-product rewrite — counts must agree exactly
    _nation_norm = NORM_SQL.format(col="n_name")
    _region_norm = NORM_SQL.format(col="r_name")
    sql["kg_path2"] = f"""
        WITH kg AS ({sql['kg_build_triples']}),
        t1 AS (SELECT DISTINCT subj_name, pred, obj_name FROM kg),
        t2 AS (SELECT DISTINCT {_nation_norm} AS subj_name,
                      'located_in' AS pred, {_region_norm} AS obj_name
               FROM nation JOIN region ON n_regionkey = r_regionkey),
        d AS (SELECT * FROM t1 UNION SELECT * FROM t2)
        SELECT a.pred AS pred1, b.pred AS pred2, count(*) AS n_paths
        FROM d a JOIN d b ON a.obj_name = b.subj_name
        GROUP BY a.pred, b.pred"""
    sql["kg_triple_support"] = f"""
        WITH kg AS ({sql['kg_build_triples']})
        SELECT subj_name, pred, obj_name, count(*) AS n_mentions,
               count(DISTINCT conv_id) AS n_convs,
               CAST(min(turn_idx) AS INT) AS first_turn
        FROM kg GROUP BY subj_name, pred, obj_name"""
    sql["kg_pred_cardinality"] = f"""
        WITH kg AS ({sql['kg_build_triples']}),
        d AS (SELECT DISTINCT pred, subj_name, obj_name FROM kg),
        base AS (SELECT pred, count(*) AS n_pairs,
                        count(DISTINCT subj_name) AS n_subj,
                        count(DISTINCT obj_name) AS n_obj
                 FROM d GROUP BY pred),
        mo AS (SELECT pred, max(o) AS max_obj_per_subj
               FROM (SELECT pred, subj_name, count(*) AS o
                     FROM d GROUP BY pred, subj_name) GROUP BY pred),
        ms AS (SELECT pred, max(s) AS max_subj_per_obj
               FROM (SELECT pred, obj_name, count(*) AS s
                     FROM d GROUP BY pred, obj_name) GROUP BY pred)
        SELECT base.pred, n_pairs, n_subj, n_obj,
               max_obj_per_subj, max_subj_per_obj,
               max_obj_per_subj = 1 AS functional
        FROM base JOIN mo ON base.pred = mo.pred
                  JOIN ms ON base.pred = ms.pred"""
    sql["kg_entity_cooccur"] = f"""
        WITH kg AS ({sql['kg_build_triples']}),
        m AS (SELECT DISTINCT conv_id, subj_name AS name FROM kg
              UNION SELECT DISTINCT conv_id, obj_name FROM kg)
        SELECT a.name AS name_a, b.name AS name_b, count(*) AS n_convs
        FROM m a JOIN m b ON a.conv_id = b.conv_id AND a.name < b.name
        GROUP BY a.name, b.name"""
    sql["kg_conflicts"] = f"""
        WITH kg AS ({sql['kg_build_triples']}),
        d AS (SELECT DISTINCT subj_name, pred, obj_name FROM kg)
        SELECT subj_name, pred, count(*) AS n_objs,
               string_agg(obj_name, ',' ORDER BY obj_name) AS obj_csv
        FROM d GROUP BY subj_name, pred HAVING count(*) >= 2"""
    sql["w8_transition_matrix"] = """
        WITH t AS (
          SELECT lag(event_type) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id) AS from_type,
                 event_type AS to_type
          FROM events),
        c AS (SELECT from_type, to_type, count(*) AS n FROM t
              WHERE from_type IS NOT NULL GROUP BY from_type, to_type)
        SELECT from_type, to_type, n,
               floor((n * 1.0 / sum(n) OVER (PARTITION BY from_type)) * 10000.0 + 0.5) / 10000.0 AS p
        FROM c"""
    sql["w7_retention_cohorts"] = """
        WITH f AS (SELECT user_id,
                          CAST(date_trunc('week', min(ts)) AS TIMESTAMP) AS cohort_week
                   FROM events GROUP BY user_id),
        a AS (SELECT DISTINCT user_id, date_trunc('week', ts) AS week
              FROM events)
        SELECT f.cohort_week,
               CAST(date_diff('day', f.cohort_week, a.week) / 7 AS INT) AS week_offset,
               count(DISTINCT a.user_id) AS n_users
        FROM a JOIN f ON a.user_id = f.user_id
        GROUP BY f.cohort_week, week_offset"""
    sql["w6_event_runs"] = """
        WITH runs AS (
          SELECT user_id, event_type, count(*) AS run_len
          FROM (SELECT user_id, event_type,
                       row_number() OVER (PARTITION BY user_id
                         ORDER BY ts ASC, event_id ASC)
                     - row_number() OVER (PARTITION BY user_id, event_type
                         ORDER BY ts ASC, event_id ASC) AS grp
                FROM events)
          GROUP BY user_id, event_type, grp)
        SELECT user_id, event_type, max(run_len) AS max_run,
               count(*) AS n_runs
        FROM runs GROUP BY user_id, event_type"""
    sql["t4_resample_gapfill"] = """
        WITH h AS (
          SELECT user_id, date_trunc('hour', ts) AS bucket_ts, count(*) AS n,
                 max(CASE WHEN rd = 1 THEN value END) AS v_close
          FROM (SELECT user_id, ts, event_id, value,
                       row_number() OVER (PARTITION BY user_id, date_trunc('hour', ts)
                         ORDER BY ts DESC, event_id DESC) AS rd
                FROM events)
          GROUP BY user_id, date_trunc('hour', ts)),
        spine AS (
          SELECT user_id, unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS bucket_ts
          FROM (SELECT user_id, min(bucket_ts) AS lo, max(bucket_ts) AS hi
                FROM h GROUP BY user_id))
        SELECT s.user_id, s.bucket_ts,
               coalesce(h.n, 0) AS n,
               round(last_value(h.v_close IGNORE NULLS) OVER (
                 PARTITION BY s.user_id ORDER BY s.bucket_ts
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) AS v_fill
        FROM spine s LEFT JOIN h ON h.user_id = s.user_id AND h.bucket_ts = s.bucket_ts"""
    from plume_spark.schemas import EDGE_CONSTRAINTS

    rules_values = ", ".join(
        f"('{p}', '{s}', '{o}')"
        for p, (ss, oo) in EDGE_CONSTRAINTS.items()
        for s in ss
        for o in oo
    )
    sql["j8b_kind_constraints"] = f"""
        WITH t AS (
          SELECT o.o_orderkey,
                 CAST(row_number() OVER (PARTITION BY c.c_custkey
                                         ORDER BY o.o_orderdate, o.o_orderkey) - 1 AS INT) AS turn_idx
          FROM customer c
          JOIN orders o ON o.o_custkey = c.c_custkey),
        typed AS (
          SELECT CASE WHEN o_orderkey % 2 = 0 THEN 'works_at' ELSE 'visited' END AS pred,
                 'person' AS subj_kind,
                 CASE WHEN turn_idx % 7 = 0 THEN 'tool' ELSE 'org' END AS obj_kind
          FROM t),
        rules(pred, r_subj, r_obj) AS (VALUES {rules_values})
        SELECT pred, count(*) AS n_violations
        FROM typed ty
        WHERE NOT EXISTS (
          SELECT 1 FROM rules r
          WHERE r.pred = ty.pred
            AND (r.r_subj = '*' OR r.r_subj = ty.subj_kind)
            AND (r.r_obj = '*' OR r.r_obj = ty.obj_kind))
        GROUP BY pred"""
    sql["j7_parent_walk"] = """
        SELECT DISTINCT 2000000 + l_partkey AS node FROM lineitem WHERE l_partkey < 3
        UNION
        SELECT DISTINCT 1000000 + l_orderkey FROM lineitem WHERE l_partkey < 3
        UNION
        SELECT DISTINCT o_custkey
        FROM orders JOIN lineitem ON l_orderkey = o_orderkey
        WHERE l_partkey < 3"""
    sql["a1_order_sum"] = (
        "SELECT CAST(sum(l_linenumber) AS BIGINT) AS order_sum FROM lineitem"
    )
    sql["a2_order_count"] = "SELECT count(*) AS n FROM lineitem WHERE l_linenumber > 2"
    sql["a4_map_merge"] = """
        WITH firsts AS (
          SELECT user_id, event_type, props FROM (
            SELECT user_id, event_type, coalesce(props, '') AS props,
                   row_number() OVER (PARTITION BY user_id, event_type
                                      ORDER BY event_id) AS rk
            FROM events)
          WHERE rk = 1)
        SELECT user_id,
               string_agg(event_type || '=' || props, ';' ORDER BY event_type) AS props_csv
        FROM firsts GROUP BY user_id"""
    # unrolled-CTE PageRank generated by the operator module itself, so the
    # iteration count / damping can never drift between the two engines
    from plume_spark.operators.pagerank import pagerank_oracle_sql

    sql["g1_pagerank"] = pagerank_oracle_sql(
        """SELECT o_custkey AS subj, 1000000 + o_orderkey AS obj FROM orders
           UNION ALL
           SELECT 1000000 + l_orderkey, 2000000 + l_partkey FROM lineitem"""
    )
    from plume_spark.operators.pagerank import ppr_oracle_sql

    sql["g14_ppr"] = ppr_oracle_sql(
        """SELECT o_custkey AS subj, 1000000 + o_orderkey AS obj FROM orders
           UNION ALL
           SELECT 1000000 + l_orderkey, 2000000 + l_partkey FROM lineitem""",
        "SELECT o_custkey AS node FROM orders WHERE o_custkey % 500 = 1",
        n_iters=3,
    )
    from plume_spark.operators.pagerank import hits_oracle_sql

    sql["g12_hits"] = hits_oracle_sql(
        """SELECT o_custkey AS subj, 1000000 + o_orderkey AS obj FROM orders
           UNION ALL
           SELECT 1000000 + l_orderkey, 2000000 + l_partkey FROM lineitem""",
        n_iters=2,
    )
    sql["f5_json_payload"] = """
        WITH j AS (SELECT event_id,
                          to_json(struct_pack(t := event_type, v := value)) AS doc
                   FROM events)
        SELECT event_id,
               json_extract_string(doc, '$.t') AS t,
               CAST(json_extract(doc, '$.v') AS DOUBLE) AS v
        FROM j"""
    sql["f11_levenshtein"] = """
        SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
               CAST(levenshtein(a.c_name, b.c_name) AS INT) AS dist
        FROM customer a JOIN customer b
          ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey
        WHERE levenshtein(a.c_name, b.c_name) <= 2"""
    sql["w4_sliding_rate"] = """
        SELECT event_id, user_id,
               count(*) OVER (PARTITION BY user_id ORDER BY epoch(ts)
                 RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW) AS n_last_hour
        FROM events"""
    sql["a9_pivot"] = """
        SELECT user_id,
               count(*) FILTER (event_type = 'click') AS n_click,
               count(*) FILTER (event_type = 'view') AS n_view,
               count(*) FILTER (event_type = 'purchase') AS n_purchase,
               count(*) FILTER (event_type = 'signup') AS n_signup,
               count(*) FILTER (event_type = 'error') AS n_error
        FROM events GROUP BY user_id"""
    sql["u3_except_intersect"] = """
        WITH p AS (SELECT user_id FROM events WHERE event_type = 'purchase'),
             e AS (SELECT user_id FROM events WHERE event_type = 'error')
        SELECT DISTINCT user_id, 'purchase_only' AS kind FROM p
        WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.user_id = p.user_id)
        UNION ALL
        SELECT DISTINCT user_id, 'both' AS kind FROM p
        WHERE EXISTS (SELECT 1 FROM e WHERE e.user_id = p.user_id)"""
    sql["a7_percentiles"] = """
        SELECT event_type,
               round(quantile_cont(value, 0.5), 6) AS p50,
               round(quantile_cont(value, 0.9), 6) AS p90,
               round(quantile_cont(value, 0.99), 6) AS p99
        FROM events GROUP BY event_type"""
    # a10/a11: the sketch estimates are engine-specific, so the oracle pins
    # the EXACT columns and the literal truth of the error-contract boolean
    # (the Spark side computes the bound for real; see the query docstrings)
    # w13's oracle is the NAIVE day-range join (the definition); the engine
    # runs the explode rewrite over the distinct pair set instead
    sql["w13_rolling_active"] = """
        WITH pairs AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
                       FROM events),
        days AS (SELECT DISTINCT day FROM pairs)
        SELECT d.day, count(DISTINCT p.user_id) AS active_7d
        FROM days d JOIN pairs p ON p.day BETWEEN d.day - 6 AND d.day
        GROUP BY d.day"""
    sql["a12_cube"] = """
        SELECT event_type, CAST(date_part('dow', ts) AS INT) AS dow,
               count(*) AS n,
               CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        FROM events
        GROUP BY CUBE(event_type, CAST(date_part('dow', ts) AS INT))"""
    sql["w14_rfm"] = """
        WITH ref AS (SELECT max(CAST(o_orderdate AS DATE)) AS ref_day
                     FROM orders),
        per AS (
          SELECT o_custkey AS custkey,
                 max(CAST(o_orderdate AS DATE)) AS last_day,
                 count(*) AS frequency,
                 CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                   AS monetary
          FROM orders GROUP BY o_custkey)
        SELECT custkey,
               CAST(date_diff('day', last_day, ref.ref_day) AS BIGINT)
                 AS recency_days,
               frequency, monetary,
               CAST(CASE WHEN date_diff('day', last_day, ref.ref_day) <= 365
                         THEN 3
                         WHEN date_diff('day', last_day, ref.ref_day) <= 730
                         THEN 2 ELSE 1 END AS INT) AS r_score,
               CAST(CASE WHEN frequency >= 15 THEN 3
                         WHEN frequency >= 8 THEN 2 ELSE 1 END AS INT)
                 AS f_score,
               CAST(CASE WHEN monetary >= 2000000.0 THEN 3
                         WHEN monetary >= 1000000.0 THEN 2 ELSE 1 END AS INT)
                 AS m_score
        FROM per, ref"""
    sql["a10_approx_distinct"] = """
        SELECT event_type, count(DISTINCT user_id) AS n_exact, TRUE AS hll_ok
        FROM events GROUP BY event_type"""
    sql["a11_approx_quantile"] = """
        SELECT event_type, round(quantile_cont(value, 0.5), 6) AS p50_exact,
               TRUE AS gk_ok
        FROM events GROUP BY event_type"""
    sql["a8_rollup"] = """
        SELECT event_type, count(*) AS n,
               CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        FROM events GROUP BY ROLLUP(event_type)"""
    sql["w3_sessionize"] = """
        SELECT event_id, user_id,
               CAST(sum(new_sess) OVER (PARTITION BY user_id
                 ORDER BY ts ASC, event_id ASC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                 AS session_idx
        FROM (
          SELECT event_id, user_id, ts,
                 CASE WHEN gap IS NULL OR gap > 1800 THEN 1 ELSE 0 END AS new_sess
          FROM (
            SELECT event_id, user_id, ts,
                   epoch(ts) - lag(epoch(ts)) OVER (PARTITION BY user_id
                     ORDER BY ts ASC, event_id ASC) AS gap
            FROM events))"""
    # t5's oracle is the NAIVE quadratic interval theta-join (the definition);
    # the engine runs the grid-blocked form — pairs must agree exactly
    sql["t5_interval_overlap"] = f"""
        WITH sx AS ({sql['w3_sessionize']}),
        s AS (SELECT sx.user_id, sx.session_idx,
                     min(e.ts) AS s_start, max(e.ts) AS s_end
              FROM sx JOIN events e ON sx.event_id = e.event_id
              GROUP BY sx.user_id, sx.session_idx)
        SELECT a.user_id AS user_id_a, a.session_idx AS session_idx_a,
               b.user_id AS user_id_b, b.session_idx AS session_idx_b,
               epoch_us(least(a.s_end, b.s_end))
                 - epoch_us(greatest(a.s_start, b.s_start)) AS overlap_us
        FROM s a JOIN s b
          ON (a.user_id, a.session_idx) < (b.user_id, b.session_idx)
         AND a.s_start <= b.s_end AND b.s_start <= a.s_end"""
    from plume_spark.operators.temporal import peak_concurrency_oracle_sql

    # same gap-sessionized spans as t5; the sweep SQL is generated next to
    # the operator so the day clip and tie rule stay in lockstep
    sql["w12_time_to_convert"] = """
        WITH fv AS (SELECT user_id, min(ts) AS first_view FROM events
                    WHERE event_type = 'view' GROUP BY user_id),
        fp AS (SELECT p.user_id, fv.first_view, min(p.ts) AS first_purchase
               FROM events p JOIN fv ON fv.user_id = p.user_id
               WHERE p.event_type = 'purchase' AND p.ts >= fv.first_view
               GROUP BY p.user_id, fv.first_view)
        SELECT user_id, first_view, first_purchase,
               epoch_us(first_purchase) - epoch_us(first_view) AS convert_us
        FROM fp"""
    sql["w11_week_over_week"] = """
        WITH a AS (
          SELECT event_type, CAST(date_trunc('week', ts) AS DATE) AS week,
                 count(*) AS n
          FROM events GROUP BY event_type, date_trunc('week', ts))
        SELECT event_type, week, n,
               lag(n) OVER (PARTITION BY event_type ORDER BY week) AS prev_n,
               floor(((n - lag(n) OVER (PARTITION BY event_type ORDER BY week))
                          / CAST(lag(n) OVER (PARTITION BY event_type ORDER BY week)
                                 AS DOUBLE)) * 1000000.0 + 0.5) / 1000000.0 AS wow_change
        FROM a"""
    sql["w9_peak_concurrency"] = peak_concurrency_oracle_sql(
        f"""WITH sx AS ({sql['w3_sessionize']}),
            s AS (SELECT sx.user_id, sx.session_idx,
                         min(e.ts) AS s_start, max(e.ts) AS s_end
                  FROM sx JOIN events e ON sx.event_id = e.event_id
                  GROUP BY sx.user_id, sx.session_idx)
            SELECT s_start, s_end FROM s"""
    )
    from plume_spark.operators.graph_metrics import triangle_oracle_sql

    sql["g3_triangles"] = triangle_oracle_sql(
        "SELECT l_orderkey AS grp, l_partkey AS item FROM lineitem"
    )
    from plume_spark.operators.graph_metrics import clustering_oracle_sql

    sql["g10_clustering_coeff"] = clustering_oracle_sql(
        "SELECT l_orderkey AS grp, l_partkey AS item FROM lineitem"
    )
    from plume_spark.operators.graph_metrics import cooccur_oracle_sql

    sql["g4_cooccur"] = cooccur_oracle_sql(
        "SELECT l_orderkey AS grp, l_partkey AS item FROM lineitem"
    )
    from plume_spark.operators.graph_metrics import label_prop_oracle_sql

    sql["g6_label_prop"] = label_prop_oracle_sql(
        """SELECT o_custkey AS a, 1000000 + o_orderkey AS b FROM orders
           UNION ALL
           SELECT 1000000 + l_orderkey, 2000000 + l_partkey FROM lineitem""",
        n_iters=2,
    )
    from plume_spark.operators.graph_metrics import (
        common_neighbors_oracle_sql,
        kcore_oracle_sql,
    )

    # same co-purchase pair derivation as g3/g4, then the unrolled peel /
    # wedge SQL generated next to the operators (caps + rules in lockstep)
    _copurchase = cooccur_oracle_sql(
        "SELECT l_orderkey AS grp, l_partkey AS item FROM lineitem"
    )
    sql["g7_kcore"] = kcore_oracle_sql(
        f"SELECT a, b FROM ({_copurchase})", k=3, n_iters=8
    )
    sql["g8_common_neighbors"] = common_neighbors_oracle_sql(
        f"SELECT a, b FROM ({_copurchase}) WHERE n_groups >= 2", max_degree=64
    )
    from plume_spark.operators.graph_metrics import resource_allocation_oracle_sql

    sql["g13_linkpred_ra"] = resource_allocation_oracle_sql(
        f"SELECT a, b FROM ({_copurchase}) WHERE n_groups >= 2", max_degree=64
    )
    from plume_spark.operators.graph_metrics import edge_lift_oracle_sql

    sql["g11_edge_lift"] = edge_lift_oracle_sql(
        "SELECT l_orderkey AS grp, l_partkey AS item FROM lineitem", min_groups=2
    )
    sql["w10_zscore_outliers"] = """
        WITH a AS (
          SELECT user_id, count(*) AS n,
                 CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_d,
                 CAST(sum(CAST(value AS DECIMAL(18,6))
                          * CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sumsq_d
          FROM events GROUP BY user_id HAVING count(*) >= 2),
        s AS (
          SELECT user_id, sum_d / n AS mean,
                 sqrt(greatest(sumsq_d / n - (sum_d / n) * (sum_d / n), 0.0)) AS std
          FROM a)
        SELECT e.event_id, e.user_id, e.value,
               CAST(round((e.value - s.mean) / s.std, 4) AS DOUBLE) AS z
        FROM events e JOIN s ON s.user_id = e.user_id
        WHERE s.std > 0 AND abs((e.value - s.mean) / s.std) >= 3.0"""
    from plume_spark.operators.graph_metrics import assortativity_oracle_sql

    sql["g9_assortativity"] = assortativity_oracle_sql(
        f"SELECT a, b FROM ({_copurchase}) WHERE n_groups >= 2"
    )
    from plume_spark.operators.components import components_oracle_sql

    sql["g2_components"] = components_oracle_sql(
        """SELECT o_custkey AS subj, 1000000 + o_orderkey AS obj FROM orders
           UNION ALL
           SELECT 1000000 + l_orderkey, 2000000 + l_partkey FROM lineitem
           WHERE (2000000 + l_partkey) % 23 = 0""",
        n_iters=32,
    )
    sql["diag_hot_keys"] = """
        SELECT CAST(user_id AS VARCHAR) AS key_value,
               COUNT(*) AS cnt,
               CAST(ROUND(COUNT(*) * 1.0 / (SELECT COUNT(*) FROM events), 6) AS DOUBLE) AS share
        FROM events GROUP BY user_id HAVING COUNT(*) >= 2
        ORDER BY cnt DESC, key_value LIMIT 20"""
    # ties at one right timestamp are collapsed to MAX(event_id) on BOTH
    # engines — as-of over tied timestamps is otherwise nondeterministic
    sql["t1_asof_join"] = """
        WITH r AS (SELECT user_id, ts, MAX(event_id) AS mv FROM events
                   WHERE event_type = 'view' GROUP BY user_id, ts),
             l AS (SELECT event_id, user_id, ts FROM events
                   WHERE event_type = 'purchase')
        SELECT l.event_id, l.user_id, r.mv AS matched_view
        FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts"""
    sql["t7_asof_tolerance"] = """
        WITH r AS (SELECT user_id, ts, MAX(event_id) AS mv FROM events
                   WHERE event_type = 'view' GROUP BY user_id, ts),
             l AS (SELECT event_id, user_id, ts FROM events
                   WHERE event_type = 'purchase'),
             m AS (SELECT l.event_id, l.user_id, r.mv, r.ts AS rts, l.ts AS lts
                   FROM l ASOF LEFT JOIN r
                     ON l.user_id = r.user_id AND l.ts >= r.ts)
        SELECT event_id, user_id,
               CASE WHEN rts IS NOT NULL
                     AND epoch_us(lts) - epoch_us(rts) <= 600 * 1000000
                    THEN mv END AS matched_view,
               CASE WHEN rts IS NOT NULL
                     AND epoch_us(lts) - epoch_us(rts) <= 600 * 1000000
                    THEN epoch_us(lts) - epoch_us(rts) END AS age_us
        FROM m"""
    sql["t2_range_join"] = """
        SELECT l.event_id, l.user_id,
               (SELECT COUNT(*) FROM events r
                WHERE r.event_type = 'click' AND r.user_id = l.user_id
                  AND r.ts >= l.ts - INTERVAL 3600 SECOND AND r.ts <= l.ts) AS n_in_range
        FROM events l WHERE l.event_type = 'purchase'"""
    # near-dup clusters: the minhash-pair oracle body feeds the unrolled
    # min-label-propagation oracle — composition of the two generators
    pair_edges = (
        _SHINGLE_CTE.replace("WITH ", "", 1)
        + _minhash_oracle_body("tok", "tok")
    )
    sql["dedup_minhash_groups"] = components_oracle_sql(
        f"SELECT doc_a AS subj, doc_b AS obj FROM (WITH {pair_edges}) pe",
        n_iters=10,
        node_col="doc_id",
        comp_col="keeper_id",
    )
    # CMS oracle generated from the SAME geometry constants as the query
    _cms_b = " UNION ALL ".join(
        f"SELECT user_id, {j} AS j, ((user_id * {a} + {b}) % {CMS_P}) % {CMS_W} AS bucket FROM events"
        for j, (a, b) in enumerate(CMS_SALTS)
    )
    sql["w17_rank_family"] = """
        WITH rev AS (
          SELECT c.c_custkey AS custkey, c.c_nationkey AS nationkey,
                 CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                   AS revenue
          FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
          GROUP BY c.c_custkey, c.c_nationkey)
        SELECT custkey, nationkey, revenue,
               rank() OVER w AS rnk,
               dense_rank() OVER w AS drnk,
               percent_rank() OVER w AS prnk,
               cume_dist() OVER w AS cume,
               ntile(4) OVER w AS quartile
        FROM rev
        WINDOW w AS (PARTITION BY nationkey
                     ORDER BY revenue DESC, custkey ASC)"""
    sql["a14_countmin"] = f"""
        WITH b AS ({_cms_b}),
        cms AS (SELECT j, bucket, count(*) AS cnt FROM b GROUP BY j, bucket),
        top AS (SELECT user_id, count(*) AS n_exact FROM events
                GROUP BY user_id
                ORDER BY n_exact DESC, user_id ASC LIMIT 20),
        est AS (SELECT t.user_id, t.n_exact, min(c.cnt) AS n_cms
                FROM top t
                JOIN b ON b.user_id = t.user_id
                JOIN cms c ON c.j = b.j AND c.bucket = b.bucket
                GROUP BY t.user_id, t.n_exact)
        SELECT user_id, n_exact, n_cms, n_cms >= n_exact AS cms_ok FROM est"""
    sql["w16_gini"] = """
        WITH per AS (SELECT user_id, count(*) AS n FROM events
                     GROUP BY user_id),
        r AS (SELECT n, row_number() OVER (ORDER BY n ASC, user_id ASC) AS i
              FROM per)
        SELECT count(*) AS n_users, CAST(sum(n) AS BIGINT) AS total_events,
               floor((CAST(2.0 AS DOUBLE) * sum(i * n)
                       / (count(*) * sum(n))
                     - (count(*) + CAST(1.0 AS DOUBLE)) / count(*)) * 1000000.0 + 0.5) / 1000000.0
                 AS gini
        FROM r"""
    sql["a13_mad"] = """
        WITH med AS (SELECT event_type, quantile_cont(value, 0.5) AS med
                     FROM events GROUP BY event_type)
        SELECT e.event_type, round(any_value(med.med), 6) AS median,
               round(quantile_cont(abs(e.value - med.med), 0.5), 6) AS mad
        FROM events e JOIN med ON med.event_type = e.event_type
        GROUP BY e.event_type"""
    # incremental near-dup: identical banding/cap/star pipeline to
    # dedup_minhash_lsh, restricted to pairs touching the "new batch"
    # (doc_id % 4 == 0) and verified over token-id sets (the engine's
    # persisted-index substrate — raw shingle strings are not stored).
    sql["dedup_minhash_incr"] = _SHINGLE_CTE + _minhash_oracle_body(
        "idd", "tok_id", pair_where="WHERE doc_a % 4 = 0 OR doc_b % 4 = 0"
    )
    sql["stream_sessionize"] = """
        SELECT event_id, user_id,
               CAST(sum(new_sess) OVER (PARTITION BY user_id
                 ORDER BY ts ASC, event_id ASC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                 AS session_idx
        FROM (
          SELECT event_id, user_id, ts,
                 CASE WHEN gap IS NULL OR gap > 1800 THEN 1 ELSE 0 END AS new_sess
          FROM (
            SELECT event_id, user_id, ts,
                   epoch(ts) - lag(epoch(ts)) OVER (PARTITION BY user_id
                     ORDER BY ts ASC, event_id ASC) AS gap
            FROM events))"""
    sql["w5_funnel"] = """
        WITH c AS (SELECT user_id, min(ts) AS t_click FROM events
                   WHERE event_type = 'click' GROUP BY user_id),
        v AS (SELECT e.user_id, min(e.ts) AS t_view
              FROM events e JOIN c USING (user_id)
              WHERE e.event_type = 'view' AND e.ts > c.t_click
              GROUP BY e.user_id),
        p AS (SELECT e.user_id, min(e.ts) AS t_purchase
              FROM events e JOIN v USING (user_id)
              WHERE e.event_type = 'purchase' AND e.ts > v.t_view
              GROUP BY e.user_id)
        SELECT c.user_id, c.t_click, v.t_view, p.t_purchase,
               1 + CAST(v.t_view IS NOT NULL AS INT)
                 + CAST(p.t_purchase IS NOT NULL AS INT) AS stage
        FROM c LEFT JOIN v USING (user_id) LEFT JOIN p USING (user_id)"""
    sql["t3_ohlc_downsample"] = """
        WITH r AS (
          SELECT user_id, date_trunc('hour', ts) AS bucket_ts, value,
                 row_number() OVER (PARTITION BY user_id, date_trunc('hour', ts)
                   ORDER BY ts ASC, event_id ASC) AS ra,
                 row_number() OVER (PARTITION BY user_id, date_trunc('hour', ts)
                   ORDER BY ts DESC, event_id DESC) AS rd
          FROM events)
        SELECT user_id, bucket_ts, count(*) AS n,
               max(CASE WHEN ra = 1 THEN value END) AS v_open,
               max(value) AS v_high,
               min(value) AS v_low,
               max(CASE WHEN rd = 1 THEN value END) AS v_close
        FROM r GROUP BY user_id, bucket_ts"""
    sql["w18_streaks"] = """
        WITH days AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
                      FROM events),
        anchored AS (
          SELECT user_id,
                 day - CAST(row_number() OVER (PARTITION BY user_id
                                               ORDER BY day ASC) AS INT)
                   AS anchor
          FROM days),
        runs AS (SELECT user_id, anchor, count(*) AS len FROM anchored
                 GROUP BY user_id, anchor)
        SELECT user_id, CAST(sum(len) AS BIGINT) AS n_active_days,
               count(*) AS n_streaks, CAST(max(len) AS BIGINT) AS longest_streak
        FROM runs GROUP BY user_id"""
    sql["t6_scd2"] = """
        WITH marked AS (
          SELECT user_id, event_id, event_type AS state, ts AS valid_from,
                 lag(event_type) OVER (PARTITION BY user_id
                                       ORDER BY ts ASC, event_id ASC) AS prev
          FROM events),
        changes AS (SELECT user_id, event_id, state, valid_from FROM marked
                    WHERE prev IS NULL OR prev <> state)
        SELECT user_id, event_id AS change_event, state, valid_from,
               lead(valid_from) OVER (PARTITION BY user_id
                                      ORDER BY valid_from ASC, event_id ASC)
                 AS valid_to,
               lead(valid_from) OVER (PARTITION BY user_id
                                      ORDER BY valid_from ASC, event_id ASC)
                 IS NULL AS is_current
        FROM changes"""
    # Bloom oracle generated from the SAME salt constants and geometry as
    # the Spark query (the CMS pattern): one UNION ALL branch per hash
    _bloom_k = len(CMS_SALTS)
    _bloom_member_bits = " UNION ALL ".join(
        f"SELECT ((user_id * {a} + {b}) % {CMS_P}) % {BLOOM_M} AS bit FROM members"
        for a, b in CMS_SALTS
    )
    _bloom_probe_bits = " UNION ALL ".join(
        f"SELECT user_id, ((user_id * {a} + {b}) % {CMS_P}) % {BLOOM_M} AS bit FROM probe"
        for a, b in CMS_SALTS
    )
    sql["a15_bloom"] = f"""
        WITH members AS (SELECT DISTINCT user_id FROM events
                         WHERE event_type = 'purchase'),
        bits AS (SELECT DISTINCT bit FROM ({_bloom_member_bits})),
        probe AS (SELECT DISTINCT user_id FROM events),
        pb AS ({_bloom_probe_bits}),
        hits AS (SELECT user_id, count(*) AS k_hit FROM pb
                 WHERE bit IN (SELECT bit FROM bits) GROUP BY user_id)
        SELECT p.user_id,
               m.user_id IS NOT NULL AS is_member,
               coalesce(h.k_hit, 0) = {_bloom_k} AS bloom_hit,
               (coalesce(h.k_hit, 0) = {_bloom_k}) OR m.user_id IS NULL
                 AS no_false_neg
        FROM probe p
        LEFT JOIN hits h ON h.user_id = p.user_id
        LEFT JOIN members m ON m.user_id = p.user_id"""
    sql["kg_star_join"] = f"""
        WITH kg AS ({kg_varied}),
        d AS (SELECT DISTINCT subj_name, pred, obj_name FROM kg)
        SELECT w.subj_name AS who, w.obj_name AS workplace,
               v.obj_name AS visited_place
        FROM d w JOIN d v ON v.subj_name = w.subj_name AND v.pred = 'visited'
        WHERE w.pred = 'works_at'"""

    # portable poly hash over an arbitrary string SQL expression — the same
    # fold as dedup.poly_hash / _POLY_ID, parameterized for reuse below
    def _poly_expr(expr):
        return (
            "list_reduce(list_prepend(CAST(0 AS BIGINT), "
            f"list_transform(string_split_regex({expr}, ''), c -> ascii(c))), "
            f"(a, b) -> (a * {dedup.POLY_MUL} + b) % {dedup.MINHASH_P})"
        )

    sql["kg_neg_samples"] = f"""
        WITH kg AS ({sql['kg_build_triples']}),
        ents AS ({sql['kg_entities']}),
        pos AS (SELECT DISTINCT subj_name, pred, obj_name FROM kg),
        pool AS (
          SELECT kind, {_poly_expr('canonical_name')} % 64 AS bucket,
                 min(canonical_name) AS neg_obj
          FROM ents GROUP BY 1, 2),
        picked AS (
          SELECT p.subj_name, p.pred, p.obj_name, pool.neg_obj
          FROM pos p
          JOIN ents k ON k.canonical_name = p.obj_name
          JOIN pool ON pool.kind = k.kind
           AND pool.bucket =
               {_poly_expr("concat_ws('|', p.subj_name, p.pred, p.obj_name)")} % 64
          WHERE pool.neg_obj <> p.obj_name)
        SELECT subj_name, pred, obj_name, neg_obj FROM picked pk
        WHERE NOT EXISTS (SELECT 1 FROM pos t
                          WHERE t.subj_name = pk.subj_name
                            AND t.pred = pk.pred
                            AND t.obj_name = pk.neg_obj)"""
    sql["w19_attribution"] = """
        WITH p AS (SELECT event_id AS purchase_id, user_id, ts AS p_ts
                   FROM events WHERE event_type = 'purchase'),
        v AS (SELECT user_id, ts AS v_ts FROM events WHERE event_type = 'view')
        SELECT p.purchase_id, count(*) AS n_touches,
               1000000 // count(*) AS credit_ppm,
               min(v.v_ts) AS first_view_ts, max(v.v_ts) AS last_view_ts
        FROM p JOIN v ON v.user_id = p.user_id
         AND v.v_ts <= p.p_ts AND v.v_ts >= p.p_ts - INTERVAL 7 DAY
        GROUP BY p.purchase_id"""
    sql["kg_rule_confidence"] = f"""
        WITH kg AS ({kg_varied}),
        d AS (SELECT DISTINCT subj_name, pred, obj_name FROM kg),
        pairs AS (
          SELECT a.pred AS antecedent, b.pred AS consequent,
                 count(*) AS support
          FROM d a JOIN d b ON b.subj_name = a.subj_name
                           AND b.obj_name = a.obj_name
                           AND b.pred <> a.pred
          GROUP BY a.pred, b.pred),
        np AS (SELECT pred AS antecedent, count(*) AS n_antecedent
               FROM d GROUP BY pred)
        SELECT p.antecedent, p.consequent, p.support, np.n_antecedent,
               floor((CAST(p.support AS DOUBLE) / np.n_antecedent) * 1000000.0 + 0.5) / 1000000.0
                 AS confidence
        FROM pairs p JOIN np USING (antecedent)"""
    sql["a16_group_skewness"] = """
        WITH q AS (
          SELECT event_type,
                 CAST(round(value * 100) AS BIGINT) AS x
          FROM events),
        m AS (SELECT event_type, count(*) AS n,
                     CAST(sum(x) AS DECIMAL(38,0)) AS s1,
                     CAST(sum(x * x) AS DECIMAL(38,0)) AS s2,
                     CAST(sum(x * x * x) AS DECIMAL(38,0)) AS s3,
                     min(x) AS mn, max(x) AS mx
              FROM q GROUP BY event_type),
        w AS (SELECT event_type, n, s1, s2, s3, mn, mx,
                     CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS m1,
                     CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE) AS t2,
                     CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE) AS t3
              FROM m),
        z AS (SELECT event_type, n, s1, s2, s3, mn, mx,
                     t3 - 3.0 * m1 * t2 + 2.0 * m1 * m1 * m1 AS m3,
                     sqrt(t2 - m1 * m1) AS sd
              FROM w)
        SELECT event_type, n, s1, s2, s3,
               CASE WHEN mn <> mx
                    THEN CAST(floor(m3 / (sd * sd * sd) * 10000.0 + 0.5)
                              AS BIGINT)
               END AS skew_e4
        FROM z"""
    sql["a19_user_entropy"] = """
        WITH c AS (
          SELECT user_id, event_type, count(*) AS c
          FROM events GROUP BY user_id, event_type)
        SELECT user_id,
               CAST(sum(c) AS BIGINT) AS n_events,
               count(*) AS n_types,
               CAST(round(ln(sum(c)) - sum(c * ln(c)) / sum(c), 6) AS DOUBLE)
                 AS entropy
        FROM c GROUP BY user_id"""
    sql["w22_ema"] = """
        WITH w AS (
          SELECT event_id, user_id,
                 list(value) OVER (PARTITION BY user_id
                     ORDER BY ts ASC, event_id ASC
                     ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) AS vals
          FROM events)
        SELECT event_id, user_id, CAST(len(vals) AS INT) AS n_window,
               -- Horner fold: acc*0.8 + v.  list_reduce seeds with the
               -- first element, Spark's aggregate with 0.0 — identical
               -- IEEE sequences because 0.0*0.8 + v1 == v1 exactly
               CAST(floor(list_reduce(vals,
                            (a, b) -> a * CAST(0.8 AS DOUBLE) + b)
                          / list_reduce(list_transform(vals,
                                          x -> CAST(1.0 AS DOUBLE)),
                            (a, b) -> a * CAST(0.8 AS DOUBLE) + b)
                          * 1000000.0 + 0.5) AS BIGINT) AS ema_e6
        FROM w"""
    sql["a17_group_kurtosis"] = """
        WITH q AS (
          SELECT event_type,
                 CAST(round(value * 100) AS BIGINT) AS x
          FROM events),
        m AS (SELECT event_type, count(*) AS n,
                     CAST(sum(x) AS DECIMAL(38,0)) AS s1,
                     CAST(sum(x * x) AS DECIMAL(38,0)) AS s2,
                     CAST(sum(x * x * x) AS DECIMAL(38,0)) AS s3,
                     CAST(sum(CAST(x * x AS HUGEINT) * (x * x))
                          AS DECIMAL(38,0)) AS s4,
                     min(x) AS mn, max(x) AS mx
              FROM q GROUP BY event_type),
        w AS (SELECT event_type, n, s1, s2, s3, s4, mn, mx,
                     CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS m1,
                     CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE) AS t2,
                     CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE) AS t3,
                     CAST(s4 AS DOUBLE) / CAST(n AS DOUBLE) AS t4
              FROM m),
        z AS (SELECT event_type, n, s1, s2, s4, mn, mx,
                     t4 - 4.0 * m1 * t3 + 6.0 * m1 * m1 * t2
                        - 3.0 * m1 * m1 * m1 * m1 AS m4,
                     t2 - m1 * m1 AS m2
              FROM w)
        SELECT event_type, n, s1, s2, s4,
               CASE WHEN mn <> mx
                    THEN CAST(floor((m4 / (m2 * m2) - 3.0) * 10000.0 + 0.5)
                              AS BIGINT)
               END AS kurt_e4
        FROM z"""
    sql["a18_group_corr"] = """
        WITH q AS (
          SELECT event_type,
                 CAST(round(value * 100) AS BIGINT) AS x,
                 -- floor matches Spark's timestamp->long truncation on
                 -- fractional-second events (DuckDB's double cast rounds)
                 CAST(floor(epoch(ts)) AS BIGINT) AS y
          FROM events),
        m AS (SELECT event_type, count(*) AS n,
                     CAST(sum(x) AS DECIMAL(38,0)) AS sx,
                     CAST(sum(y) AS DECIMAL(38,0)) AS sy,
                     CAST(sum(x * y) AS DECIMAL(38,0)) AS sxy,
                     CAST(sum(x * x) AS DECIMAL(38,0)) AS sxx,
                     CAST(sum(CAST(y AS HUGEINT) * y) AS DECIMAL(38,0)) AS syy,
                     min(x) AS mnx, max(x) AS mxx,
                     min(y) AS mny, max(y) AS mxy
              FROM q GROUP BY event_type),
        z AS (SELECT event_type, n, sx, sy, sxy, mnx, mxx, mny, mxy,
                     CAST(sxy AS DOUBLE) * CAST(n AS DOUBLE)
                       - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS cov,
                     CAST(sxx AS DOUBLE) * CAST(n AS DOUBLE)
                       - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS vx,
                     CAST(syy AS DOUBLE) * CAST(n AS DOUBLE)
                       - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) AS vy
              FROM m)
        SELECT event_type, n, sx, sy, sxy,
               CASE WHEN mnx <> mxx AND mny <> mxy
                    THEN CAST(floor(cov / sqrt(vx * vy) * 1000000.0 + 0.5)
                              AS BIGINT)
               END AS corr_e6
        FROM z"""
    sql["w20_late_events"] = """
        WITH x AS (
          SELECT event_type,
                 max(epoch_us(ts)) OVER (PARTITION BY user_id
                     ORDER BY event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   - 600000000 - epoch_us(ts) AS late_us
          FROM events)
        SELECT event_type, count(*) AS n_events,
               count(CASE WHEN late_us > 0 THEN 1 END) AS n_late,
               max(CASE WHEN late_us > 0 THEN late_us END) AS max_late_us
        FROM x GROUP BY event_type"""
    from plume_spark.operators.graph_metrics import modularity_oracle_sql

    sql["g16_modularity"] = modularity_oracle_sql(
        """SELECT o_custkey AS a, 1000000 + o_orderkey AS b FROM orders
           UNION ALL
           SELECT 1000000 + l_orderkey, 2000000 + l_partkey FROM lineitem""",
        n_iters=2,
    )
    sql["g15_component_profile"] = f"""
        WITH lbl AS ({sql['g2_components']}),
        edges AS (
          SELECT DISTINCT subj, obj FROM (
            SELECT o_custkey AS subj, 1000000 + o_orderkey AS obj FROM orders
            UNION ALL
            SELECT 1000000 + l_orderkey, 2000000 + l_partkey FROM lineitem
            WHERE (2000000 + l_partkey) % 23 = 0)),
        nn AS (SELECT component, count(*) AS n_nodes FROM lbl GROUP BY component),
        ee AS (SELECT l.component, count(*) AS n_edges
               FROM edges e JOIN lbl l ON l.node = e.subj GROUP BY l.component)
        SELECT nn.component, nn.n_nodes,
               coalesce(ee.n_edges, 0) AS n_edges,
               coalesce(ee.n_edges, 0) = nn.n_nodes - 1 AS is_tree
        FROM nn LEFT JOIN ee ON ee.component = nn.component"""
    return sql

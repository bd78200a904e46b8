"""Plan-shape regression tests: the physical-plan properties the 100 TB
design rests on, asserted structurally so a refactor that silently
reintroduces a shuffle, breaks scan pruning, or drops a pushed filter fails
CI — the `.explain`-driven discipline as a test instead of a habit.

(Complements test_no_rowwise_python_in_plans / test_all_contract_plans_are
_arrow_only, which pin the no-per-row-Python invariant across every
contract query.)
"""

from __future__ import annotations

import re
import uuid
from contextlib import contextmanager

import pytest

import __spark_entry__ as entrymod
from plume_spark.store import GraphStore

SF = "/root/testdata/sf0.001"


def _plan(spark, name: str) -> str:
    return (
        entrymod.queries()[name](spark, SF)._jdf.queryExecution().executedPlan().toString()
    )


def _exchanges(plan: str) -> int:
    # count Exchange operators, not ReusedExchange references
    return len(re.findall(r"(?<!Reused)Exchange", plan))


def test_scan_speed_ops_have_zero_shuffles(spark):
    """Pure per-row operators must stay pure: any Exchange in these plans
    means someone added an aggregation/join to what should run at scan
    speed over 100 TB."""
    for name in ("f5_json_payload", "p1_projection_defaults", "p5_property_presence",
                 "p6_theta_filter", "f2_list_csv", "f8_content_hash"):
        plan = _plan(spark, name)
        assert _exchanges(plan) == 0, (name, plan[:1200])


def test_bounded_shuffle_budgets(spark):
    """Shuffle-count budgets for the aggregation/join operators whose
    round-3 rewrites removed exchanges — a regression reintroduces them."""
    budgets = {
        "g4_cooccur": 2,        # groupBy(grp) + groupBy(a, b); was 4
        "a1_group_sum": 1,
        "w1_turn_ordering": 1,
        "w3_sessionize": 1,     # both windows share one (user) shuffle
        "t3_ohlc_downsample": 2,  # window shuffle + reused-partitioning agg
        # both row_number windows and both aggs cluster by (a prefix of)
        # user_id — one exchange serves all four
        "w6_event_runs": 1,
        # backbone co-occurrence + degree/wedge/adjacency joins (each over
        # the small backbone edge set, but the count must not creep)
        "g8_common_neighbors": 15,
        # the peel runs eagerly at build time; the returned plan is one
        # degree aggregate over the checkpointed core edge table
        "g7_kcore": 1,
        # round-4 additions (all over the memoized flagship checkpoint or
        # the events scan): distinct + two per-key partials + two 2-row
        # final aggs (broadcast-joined) for cardinality; union-distinct +
        # conv self-join + pair agg for cooccur; first-seen agg + activity
        # distinct + join + cell agg for retention
        "kg_pred_cardinality": 6,  # (+1: the 2-row stats join plans sort-merge under AQE)
        "kg_entity_cooccur": 5,
        "w7_retention_cohorts": 5,
        # lag window (user shuffle) + pair groupBy + tiny normalize window
        "w8_transition_matrix": 3,
        # distinct + conflict groupBy over the memoized flagship checkpoint
        "kg_conflicts": 2,
        # late round-4 additions
        # session window (user) + day repartition for sweep + day agg
        "w9_peak_concurrency": 3,
        # distinct + two kind joins + pattern agg over the memoized flagship
        "kg_schema_induce": 7,
        # ONE group fold (checkpointed, 3 consumers) + pair agg + marginal
        # agg + two marginal joins; was 21 before the shared-groups rewrite
        "g11_edge_lift": 7,
        # per-user moments partial agg + the fact-to-moments equi-join
        "w10_zscore_outliers": 2,
        # transcript window + provenance equi-join to the memoized flagship
        # checkpoint + the triple-key partial agg
        "kg_fact_recency": 6,
        # one (type, week) partial agg + the lag window over the tiny agg
        "w11_week_over_week": 2,
        # first-view agg + keyed join + first-purchase conditional agg
        "w12_time_to_convert": 3,
        # session-2 additions
        # pair distinct + day-dim distinct (broadcast) + count-distinct agg
        # (expands to partial/final under the distinct rewrite)
        "w13_rolling_active": 5,
        # ONE expand-based grouping-sets pass: all four cubes share it
        "a12_cube": 1,
        # per-customer partial agg + the 1-row broadcast ref date
        "w14_rfm": 3,
        # distinct + left-semi reverse join + two pred-keyed partials, all
        # over the memoized flagship checkpoint (triple-sized inputs)
        "kg_sym_preds": 6,
        # union-all degree agg + bucket agg; the share window runs over the
        # <=64-row bucket aggregate (flagship checkpoint upstream)
        "kg_degree_hist": 5,
        # one (user) lag-window shuffle + the percentile agg keyed by type
        "w15_interarrival": 2,
        # transcript window + provenance join + fact agg + the argmax
        # window over the (subj,pred)-grouped fact table
        "kg_current_facts": 18,
        # per-user partial agg + the rank window over the tiny aggregate
        "w16_gini": 2,
        # per-type median agg + broadcast-joined second percentile agg
        "a13_mad": 3,
        # plan reads the localCheckpointed alias-substrate entity table:
        # the filter/projection must stay shuffle-free
        "kg_alias_merge": 0,
        # CMS grid agg (partial/final after the explode) + exact top-20 +
        # the broadcast probe join
        "a14_countmin": 4,
        # one revenue partial agg + customer join + ONE window shuffle
        # shared by all five rank functions
        "w17_rank_family": 3,
        # the tolerance is a pure post-projection: same budget as t1's
        # one-shuffle union-window as-of
        "t7_asof_tolerance": 2,
        # (user, day) distinct + (user) window; both post-window aggs run
        # on the window's existing partitioning
        "w18_streaks": 2,
        # lag mark, change filter, and lead close all share ONE (user)
        # shuffle (same partitioning, same total order)
        "t6_scd2": 1,
        # one events scan + one user agg; bit-set distinct + its broadcast;
        # k_hit reuses the user partitioning, final join reuses it too
        "a15_bloom": 4,
        # same wedge topology as g8 minus the two degree re-joins (the
        # fixed-point weight rides the wedge rows): sym degree agg, capped
        # mid join, pair agg, adjacency anti-join
        "g13_linkpred_ra": 7,
        # distinct positives + broadcast kind dim + broadcast 64-bucket
        # pool + anti-join vs the positive set, all over the memoized
        # flagship checkpoint
        "kg_neg_samples": 6,
        # ONE user-keyed equi-join carrying the 7-day range predicate +
        # the purchase-keyed partial agg
        "w19_attribution": 2,
        # 3 unrolled iterations x (rank join + degree join + contribution
        # agg) over the checkpointed node/indicator tables — the rank table
        # shuffles each round, the edge exchange is AQE-reused
        "g14_ppr": 21,
        # triple distinct + (subj,obj) self-join + pair agg + antecedent
        # agg over the memoized flagship checkpoint
        "kg_rule_confidence": 8,
        # ONE map-side-combinable partial agg over the events scan
        "a16_group_skewness": 1,
        # the CC loop runs eagerly at build time; the returned plan is the
        # label aggregate + edge-label join + two component-sized aggs
        "g15_component_profile": 18,
        # ONE map-side-combinable partial agg over the events scan (the
        # a16 shape with a 4th decimal power sum riding along)
        "a17_group_kurtosis": 1,
        # label-prop loop runs eagerly (checkpointed); the returned plan:
        # degree agg over the two-sided union + label equi-joins on both
        # endpoints + e_in/d_tot partial aggs + the community left join,
        # all over the checkpointed canonical edge set; m broadcasts
        "g16_modularity": 9,
        # ONE (user_id) stream-shard window + ONE map-side-combinable agg
        "w20_late_events": 2,
        # ONE map-side-combinable partial agg (the two-variable moment set)
        "a18_group_corr": 1,
        # ONE (user_id) window shuffle; the Horner folds are per-row array
        # expressions
        "w22_ema": 1,
        # two map-side-combinable partial aggs, same shuffle twice
        # ((user,type) then (user))
        "a19_user_entropy": 2,
    }
    for name, budget in budgets.items():
        plan = _plan(spark, name)
        got = _exchanges(plan)
        assert got <= budget, (name, got, budget, plan[:1500])


def test_point_lookup_pushes_filters_to_scan(spark):
    """J4's equality predicates must reach the parquet scan (PushedFilters),
    and the scan must not read every column (ReadSchema pruning)."""
    plan = _plan(spark, "j4_point_lookup")
    m = re.search(r"PushedFilters: \[([^\]]*)\]", plan)
    assert m and m.group(1).strip(), plan[:1500]


def test_projection_prunes_scan_columns(spark):
    """a1 groups one column and sums another: the lineitem scan must read
    only those two (ReadSchema column pruning), never the full 16-column
    row."""
    plan = _plan(spark, "a1_group_sum")
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, plan[:1500]
    cols = [c.split(":")[0] for c in m.group(1).split(",") if c]
    assert len(cols) <= 3, cols


def test_small_topk_is_take_ordered_or_local(spark):
    """o1_topk must end in TakeOrderedAndProject (a top-k, never a global
    sort of the events table)."""
    plan = _plan(spark, "o1_topk")
    assert "TakeOrderedAndProject" in plan, plan[:1500]
    assert "Sort " not in plan  # no full sort operator


def test_broadcastable_dims_are_broadcast(spark):
    """The kernel-off distlink verify joins the norm dictionary twice; at
    oracle scale the dictionary must come in as a broadcast, not a shuffled
    SMJ (Catalyst sizes it; this pins that the plan still qualifies)."""
    plan = _plan(spark, "j1_edge_endpoint_join")
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan, plan[:1500]


# ------------------------------------------------------- read job budgets


@contextmanager
def _jobs(spark):
    """Yields a list that, on exit, holds the Spark job ids the body ran —
    counted under a fresh job group once the listener bus has drained."""
    sc = spark.sparkContext
    gid = f"budget-{uuid.uuid4().hex}"
    prev = sc.getLocalProperty("spark.jobGroup.id")
    sc.setLocalProperty("spark.jobGroup.id", gid)
    out: list[int] = []
    try:
        yield out
    finally:
        sc.setLocalProperty("spark.jobGroup.id", prev)
        sc._jsc.sc().listenerBus().waitUntilEmpty(60_000)
        out.extend(sc.statusTracker().getJobIdsForGroup(gid))


@pytest.fixture()
def probe_store(spark, tmp_path):
    store = GraphStore(spark, str(tmp_path / "graph"))
    ents = spark.range(200).selectExpr(
        "id AS entity_id", "concat('e', id) AS canonical_name",
        "'person' AS kind", "array(concat('e', id)) AS aliases",
    )
    trips = spark.range(200).selectExpr(
        "id AS subj", "'uses' AS pred", "id + 1 AS obj",
        "concat('c', id % 20) AS conv_id", "CAST(0 AS INT) AS turn_idx",
        "'s' AS src_mention", "'o' AS obj_mention",
    )
    store.bulk_write(ents, trips)
    return store


def test_pinned_reads_and_pruning_run_no_job(spark, probe_store):
    """Building a declared-schema table's frame infers nothing (the schema
    is pinned on the reader) and bucket/min-max pruning hashes the key on
    the driver: neither may start a Spark job."""
    with _jobs(spark) as jobs:
        for t in (probe_store.entities, probe_store.triples, probe_store.lineage):
            t.read().schema
        probe_store.entities.files_for(point={"entity_id": 17})
        probe_store.triples.files_for(point={"pred": "uses", "subj": 3})
        probe_store.triples.files_for(point={"conv_id": "c3", "pred": "uses"})
    assert jobs == []


def test_existence_checks_run_no_job(spark, probe_store):
    """node_exists/edge_exists read the pruned file on the driver: no Spark
    job for a hit, a miss in a kept file, or a probe pruning rules out."""
    s = probe_store
    assert s.entities.files_for(point={"entity_id": 10**12}) == []
    assert s.triples.files_for(point={"pred": "zzz", "subj": 3}) == []
    assert s.triples.files_for(point={"pred": "uses", "subj": 4})
    for probe, want in [
        (lambda: s.node_exists(17), True),
        (lambda: s.edge_exists(3, 4, "uses"), True),
        (lambda: s.edge_exists(4, 3, "uses"), False),
        (lambda: s.node_exists(10**12), False),
        (lambda: s.edge_exists(3, 4, "zzz"), False),
    ]:
        with _jobs(spark) as jobs:
            assert probe() is want
        assert jobs == []


def test_k_hop_job_budget(spark, probe_store):
    """A 2-hop traversal over the stored edges: 5 jobs on this fixture (one
    per shuffle stage under AQE, plus the count).  The seeds get no distinct
    of their own — each hop's distinct removes duplicates — and both hops
    join the same projected edges, so their exchange runs once: a seed-side
    shuffle or a second edge exchange would show here as a 6th job."""
    from pyspark.sql import functions as F

    from plume_spark.operators.traversal import k_hop

    edges = probe_store.triples.read()
    seeds = spark.createDataFrame([(5,), (5,), (7,)], "node long")
    with _jobs(spark) as jobs:
        assert k_hop(edges, seeds, 2).count() == 2
    assert len(jobs) == 5, jobs
    assert sorted(r["node"] for r in k_hop(edges, seeds, 2).collect()) == [7, 9]
    assert sorted(r["node"] for r in k_hop(edges, seeds, 0).collect()) == [5, 7]
    assert k_hop(edges, seeds.filter(F.lit(False)), 2).isEmpty()


# ------------------------------------------------ driver rows and the build


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


@pytest.mark.parametrize("table", ["LINEAGE", "ENTITIES", "TRIPLES"])
def test_local_frame_round_trips_and_plans_as_local_relation(spark, table):
    """Driver rows enter Spark as a LocalRelation and come back unchanged:
    nulls in every column, empty and null arrays, a naive timestamp read as
    UTC under the session's UTC time zone, and an empty row list."""
    import datetime as dt

    from plume_spark import schemas
    from plume_spark.session import local_frame

    assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
    at = dt.datetime(2026, 3, 29, 1, 30, 0, 123456)
    rows = {
        "LINEAGE": [
            ("extract", 3, "ABC", 10, 20, at),
            ("materialize", -1, "global", 2**40, 0, at.replace(tzinfo=dt.timezone.utc)),
            (None, None, None, None, None, None),
        ],
        "ENTITIES": [
            (-(2**63), "acme", "org", ["acme", "acme corp"]),
            (7, "", "entity", []),
            (8, None, None, None),
            (9, "x", "tool", [None, "y"]),
        ],
        "TRIPLES": [
            (1, "works_at", 2, "c1", 0, "Alice", "Acme"),
            (2**63 - 1, None, None, None, None, None, None),
        ],
    }[table]
    schema = getattr(schemas, table)
    df = local_frame(spark, rows, schema)
    assert _optimized(df).startswith("LocalRelation")
    assert df.schema == schema
    def collected(v):
        # collect() hands timestamps back as naive local time of this process
        if isinstance(v, dt.datetime):
            return dt.datetime.fromtimestamp(v.replace(tzinfo=v.tzinfo or dt.timezone.utc).timestamp())
        return v

    assert [tuple(r) for r in df.collect()] == [tuple(map(collected, r)) for r in rows]
    if table == "LINEAGE":
        # stored as the UTC instant, whatever the Python process's zone
        epoch = df.selectExpr("unix_micros(committed_at) AS us").collect()
        assert epoch[0]["us"] == epoch[1]["us"] == int(
            at.replace(tzinfo=dt.timezone.utc).timestamp() * 1_000_000
        )
    empty = local_frame(spark, [], schema)
    assert _optimized(empty).startswith("LocalRelation")
    assert empty.schema == schema and empty.collect() == []


def test_no_list_backed_frames_in_the_package():
    """Every driver-rows frame, in the package and in the query contract,
    goes through ``session.local_frame`` (an Arrow LocalRelation).  A list
    handed to ``createDataFrame`` is a pickled Python RDD whose every scan
    runs Python worker tasks."""
    import pathlib

    import plume_spark

    root = pathlib.Path(plume_spark.__file__).parent
    entry = root.parent / "__spark_entry__.py"
    hits = sorted(
        f"{p.relative_to(root.parent)}:{i}"
        for p in [*root.rglob("*.py"), entry]
        for i, line in enumerate(p.read_text().splitlines(), 1)
        # session.py holds the one call, which builds the Arrow table the
        # others go through
        if "createDataFrame(" in line and p.name != "session.py"
    )
    assert hits == []
    session_calls = [
        line for line in (root / "session.py").read_text().splitlines()
        if "createDataFrame(" in line and not line.lstrip().startswith(("#", '"'))
    ]
    assert len(session_calls) == 1 and "table" in session_calls[0]


@pytest.fixture()
def transcript_parts(spark, tmp_path):
    """Two transcript parquet inputs: 24 conversations, then the same 24 plus
    6 new ones."""
    from plume_spark.generator import generate_transcripts
    from plume_spark.schemas import TRANSCRIPTS

    paths = []
    for n in (24, 30):
        p = str(tmp_path / f"t{n}")
        generate_transcripts(spark, n, seed=5).write.parquet(p)
        paths.append(p)
    return [spark.read.schema(TRANSCRIPTS).parquet(p) for p in paths]


def test_build_graph_job_budget(spark, tmp_path, transcript_parts):
    """Jobs of a small ``build_graph`` (8 work units): a cold build, an
    unchanged rerun and an append — 16, 3 and 18 jobs (20 for the append
    while staging had a fixed 16 buckets and its MERGE ran the two-job
    bucket probe; 16, 13 and 21 while an unchanged rerun re-materialized
    and the committed units were read by a Spark scan of lineage; 36, 28
    and 37 while driver rows were Python-backed frames and the entity
    tables were derived by Spark).  Driver rows are local relations (no
    Python worker, no collect round trip for lineage), the staging MERGE
    skips its bucket probe on an empty or one-bucket table,
    build_entities assembles the entity dictionary from one collect, the
    triples write counts kind violations, and a rerun whose staging rows
    and graph are those of the last materialize only finds its pending
    units: a new job in any of these shows here.  The rerun commits no
    entities or triples snapshot."""
    from plume_spark.pipeline import build_graph

    base, grown = transcript_parts
    store = GraphStore(spark, str(tmp_path / "g"))
    counts = {}
    for label, df in (("cold", base), ("rerun", base), ("append", grown)):
        versions = [len(t.snapshots()) for t in (store.entities, store.triples)]
        with _jobs(spark) as jobs:
            stats = build_graph(df, store, n_buckets=8)
        counts[label] = (len(jobs), stats["pending_units"])
        if label == "rerun":
            assert not stats["materialized"]
            assert [len(t.snapshots()) for t in (store.entities, store.triples)] == versions
    assert counts == {"cold": (16, 8), "rerun": (3, 0), "append": (18, 4)}, counts

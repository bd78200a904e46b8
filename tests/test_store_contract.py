"""Store contract tests — recast of the reference's parameterized driver
fixture (drivers/base/src/test/.../PlumeDriverFixture.scala:41-110): bulk
insert -> typed projection; directed edge existence (reverse false); MERGE
idempotency; clear; export/import round trip; snapshot time travel."""

from __future__ import annotations

import datetime as dt
import os

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from plume_spark.schemas import ENTITIES, TRIPLES
from plume_spark.store import GraphStore

E = dt.datetime(2025, 1, 1)


@pytest.fixture()
def store(spark, tmp_path):
    return GraphStore(spark, str(tmp_path / "graph"))


def _fixture_frames(spark):
    ents = spark.createDataFrame(
        [
            (1, "alice smith", "person", ["alice smith"]),
            (2, "acme", "org", ["acme", "acme corp"]),
            (3, "hammer3000", "tool", ["hammer3000"]),
            (4, None, None, None),  # exercises defaults-on-read
        ],
        schema=ENTITIES,
    )
    trips = spark.createDataFrame(
        [
            (1, "works_at", 2, "c1", 0, "Alice Smith", "Acme Corp"),
            (1, "uses", 3, "c1", 1, "Alice Smith", "Hammer3000"),
        ],
        schema=TRIPLES,
    )
    return ents, trips


def test_bulk_write_projection_defaults(spark, store):
    ents, trips = _fixture_frames(spark)
    counts = store.bulk_write(ents, trips)
    assert counts == {"entities": 4, "triples": 2}
    # typed projection with defaults (P1): null canonical_name -> "<empty>"
    proj = store.property_from_nodes("person", "canonical_name")
    rows = {r["entity_id"]: r["canonical_name"] for r in proj.collect()}
    assert rows == {1: "alice smith"}
    all_names = {
        r["canonical_name"]
        for r in store.entities.read().select(
            F.coalesce("canonical_name", F.lit("<empty>")).alias("canonical_name")
        ).collect()
    }
    assert "<empty>" in all_names


def test_directed_edge_exists(spark, store):
    store.bulk_write(*_fixture_frames(spark))
    assert store.node_exists(1) and store.node_exists(3)
    assert not store.node_exists(99)
    assert store.edge_exists(1, 2, "works_at")
    assert not store.edge_exists(2, 1, "works_at")  # reverse must be false
    assert not store.edge_exists(1, 2, "uses")


def test_merge_idempotency(spark, store):
    ents, trips = _fixture_frames(spark)
    store.bulk_write(ents, trips)
    versions = [t._current_version() for t in (store.entities, store.triples)]
    files = [t.files_for() for t in (store.entities, store.triples)]
    counts = store.bulk_write(ents, trips)  # double write => no duplicates
    assert counts == {"entities": 4, "triples": 2}
    assert store.entities.read().count() == 4
    assert store.triples.read().count() == 2
    # ... and no new snapshot: an append of no rows commits nothing, and
    # leaves no data file behind
    assert [t._current_version() for t in (store.entities, store.triples)] == versions
    assert [t.files_for() for t in (store.entities, store.triples)] == files
    for t in (store.entities, store.triples):
        on_disk = {
            os.path.relpath(os.path.join(d, f), t.path)
            for d, _, fs in os.walk(os.path.join(t.path, "data"))
            for f in fs if f.endswith(".parquet")
        }
        assert on_disk == set(t.files_for())


def test_clear_and_time_travel(spark, store):
    ents, trips = _fixture_frames(spark)
    store.bulk_write(ents, trips)
    v_before = store.entities._current_version()
    store.clear()
    assert store.entities.read().count() == 0
    assert store.triples.read().count() == 0
    # time travel to the pre-clear snapshot
    assert store.entities.read(snapshot_id=v_before).count() == 4


def test_export_import_round_trip(spark, store, tmp_path):
    ents, trips = _fixture_frames(spark)
    store.bulk_write(ents, trips)
    out = str(tmp_path / "export")
    store.export_json(out)
    store.clear()
    store.import_json(out)
    assert store.entities.read().count() == 4
    assert store.triples.read().count() == 2
    assert store.edge_exists(1, 2, "works_at")
    # graphml parity artifact is well-formed XML
    gml = str(tmp_path / "g.graphml")
    store.export_graphml(gml)
    import xml.etree.ElementTree as ET

    root = ET.parse(gml).getroot()
    ns = "{http://graphml.graphdrawing.org/xmlns}"
    graph = root.find(f"{ns}graph")
    assert len(graph.findall(f"{ns}node")) == 4
    assert len(graph.findall(f"{ns}edge")) == 2


def test_graphml_import_round_trip(spark, store, tmp_path):
    """export -> clear -> import must be frame-equal for all three columns
    incl. nulls and list properties (TinkerGraphDriver.scala:31-61 round
    trip; GraphML was previously write-only)."""
    ents, trips = _fixture_frames(spark)
    store.bulk_write(ents, trips)
    before_e = {tuple(map(str, r)) for r in store.entities.read().collect()}
    before_t = {tuple(map(str, r)) for r in store.triples.read().collect()}
    gml = str(tmp_path / "rt.graphml")
    store.export_graphml(gml)
    store.clear()
    assert store.entities.read().count() == 0
    store.import_graphml(gml)
    after_e = {tuple(map(str, r)) for r in store.entities.read().collect()}
    after_t = {tuple(map(str, r)) for r in store.triples.read().collect()}
    assert before_e == after_e
    assert before_t == after_t


def test_graphson_import_round_trip(spark, store, tmp_path):
    """Distributed adjacency export (GraphSON-shaped vertex lines with outE
    grouped by label) -> clear -> import must be frame-equal, completing the
    TinkerGraphDriver.scala:31-61 format set (JSON/GraphML/GraphSON).  Also
    checks the adjacency layout itself: isolated vertices carry no outE,
    edges ride under their pred label."""
    import json as _json

    ents, trips = _fixture_frames(spark)
    store.bulk_write(ents, trips)
    before_e = {tuple(map(str, r)) for r in store.entities.read().collect()}
    before_t = {tuple(map(str, r)) for r in store.triples.read().collect()}
    out = str(tmp_path / "graphson")
    store.export_graphson(out)
    docs = [_json.loads(r.value) for r in spark.read.text(out).collect()]
    assert len(docs) == 4  # one line per vertex
    by_id = {d["id"]: d for d in docs}
    assert "works_at" in by_id[1].get("outE", {})
    store.clear()
    assert store.entities.read().count() == 0
    store.import_graphson(out)
    after_e = {tuple(map(str, r)) for r in store.entities.read().collect()}
    after_t = {tuple(map(str, r)) for r in store.triples.read().collect()}
    assert before_e == after_e
    assert before_t == after_t


def test_kind_constraint_violations(spark, store):
    """checkEdgeConstraint recast: the clean fixture has zero violations; a
    person--works_at-->tool edge is caught (FK-valid, kind-invalid — beyond
    dangling_edges)."""
    ents, trips = _fixture_frames(spark)
    store.bulk_write(ents, trips)
    assert store.kind_violations().count() == 0
    store.triples.append(
        spark.createDataFrame([(1, "works_at", 3, "c2", 0, "A", "H")], schema=TRIPLES)
    )
    assert store.dangling_edges().count() == 0  # FK check cannot see it
    bad = store.kind_violations().collect()
    assert len(bad) == 1 and bad[0]["obj"] == 3


def test_kind_allowed_matches_the_rule_table(spark):
    """The constraint predicate equals a plain reading of EDGE_CONSTRAINTS
    on every (pred, subj_kind, obj_kind) combination, NULLs and an unknown
    pred included: a NULL or unknown pred is a violation, a NULL kind passes
    only a '*' rule."""
    import itertools

    from plume_spark.operators.constraints import kind_allowed, kind_violations
    from plume_spark.schemas import EDGE_CONSTRAINTS

    kinds = sorted({k for s, o in EDGE_CONSTRAINTS.values() for k in s + o} - {"*"})
    preds = sorted(EDGE_CONSTRAINTS) + ["unknown", None]
    rows = list(itertools.product(preds, kinds + [None], kinds + [None]))

    def allowed(pred, subj, obj):
        return any(
            pred == p and ("*" in s or subj in s) and ("*" in o or obj in o)
            for p, (s, o) in EDGE_CONSTRAINTS.items()
        )

    typed = spark.createDataFrame(rows, "pred string, subj_kind string, obj_kind string")
    got = {
        (r["pred"], r["subj_kind"], r["obj_kind"]): r["ok"]
        for r in typed.select("*", kind_allowed().alias("ok")).collect()
    }
    assert got == {r: allowed(*r) for r in rows}
    bad = {tuple(r) for r in kind_violations(typed).collect()}
    assert bad == {r for r in rows if not allowed(*r)}


def test_build_counts_kind_violations_in_the_triples_write(spark, tmp_path):
    """materialize_graph counts kind violations while it writes the triples
    (an Observation, no job of its own).  With no mention staged the
    dictionary is empty, the triples plan never scans the staging rows, and
    the count runs by itself: 0 for an empty build, 1 for a staged triple
    with a bad endpoint kind.  A real build then counts the same row during
    its write."""
    from plume_spark.generator import generate_transcripts
    from plume_spark.operators.extraction import CHANGELOG_SCHEMA
    from plume_spark.pipeline import (
        _with_rec_id,
        build_graph,
        materialize_graph,
        staging_table,
    )
    from plume_spark.schemas import TRANSCRIPTS

    store = GraphStore(spark, str(tmp_path / "g"))
    empty = spark.createDataFrame([], schema=TRANSCRIPTS)
    assert build_graph(empty, store, n_buckets=4)["kind_violations"] == 0

    row = dict.fromkeys(CHANGELOG_SCHEMA.names)
    row.update(
        rec_kind="triple", conv_id="bad", turn_idx=0, pred="works_at",
        subj_norm="alice", subj_kind="person", obj_norm="hammer", obj_kind="tool",
    )
    bad = spark.createDataFrame([tuple(row.values())], schema=CHANGELOG_SCHEMA)
    staging_table(store).append(_with_rec_id(bad))
    assert materialize_graph(store)["kind_violations"] == 1
    stats = build_graph(generate_transcripts(spark, 6, seed=1), store, n_buckets=4)
    assert stats["kind_violations"] == 1 and stats["triples"] > 0


def test_dangling_edge_check(spark, store):
    ents, trips = _fixture_frames(spark)
    store.bulk_write(ents, trips)
    assert store.dangling_edges().count() == 0
    store.triples.append(
        spark.createDataFrame([(999, "uses", 3, "c9", 0, "X", "Y")], schema=TRIPLES)
    )
    assert store.dangling_edges().count() == 1


def test_append_only_and_snapshot_diff(spark, store):
    ents, trips = _fixture_frames(spark)
    t = store.entities
    v1 = t.append(ents)
    v2 = t.append(
        spark.createDataFrame([(10, "globex group", "org", ["globex group"])], schema=ENTITIES)
    )
    assert t.row_count() == 5
    diff = t.changed_since(v1)
    assert [r["entity_id"] for r in diff.collect()] == [10]
    assert t.read(snapshot_id=v1).count() == 4 and v2 == v1 + 1


def _pruning_frames(spark, n=600):
    ents = spark.range(n).selectExpr(
        "id AS entity_id", "concat('e', id) AS canonical_name",
        "'person' AS kind", "array(concat('e', id)) AS aliases",
    )
    trips = spark.range(n).selectExpr(
        "id AS subj",
        "CASE WHEN id % 3 = 0 THEN 'works_at' WHEN id % 3 = 1 THEN 'uses' ELSE 'met' END AS pred",
        "id + 1 AS obj",
        "concat('c', id % 40) AS conv_id",
        "CAST(id % 7 AS INT) AS turn_idx",
        "'s' AS src_mention", "'o' AS obj_mention",
    )
    return ents, trips


def test_bucket_and_minmax_pruning(spark, store):
    """Layout contract (triples bucket(N, subj) + sort (pred, subj)): a point
    read must open strictly fewer files than the full scan, an edge probe
    opens exactly one, and the pruned read filtered must equal the full read
    filtered (conservative pruning)."""
    n = 600
    ents, trips = _pruning_frames(spark, n)
    # 600 rows size to one bucket: set an explicit modulus to prune across
    store.entities.rebucket(16)
    store.triples.rebucket(16)
    store.bulk_write(ents, trips)

    all_ent_files = store.entities.files_for()
    pruned_ent = store.entities.files_for(point={"entity_id": 17})
    assert len(all_ent_files) > 1
    assert len(pruned_ent) < len(all_ent_files)
    assert store.node_exists(17) and not store.node_exists(n + 5)

    assert len(store.triples.files_for()) > 1
    assert len(store.triples.files_for(point={"pred": "works_at", "subj": 3})) == 1
    full = store.triples.read().filter("conv_id = 'c3'").count()
    pruned = store.triples.read(point={"conv_id": "c3"}).filter("conv_id = 'c3'").count()
    assert full == pruned == 15
    assert store.edge_exists(3, 4, "works_at")
    assert not store.edge_exists(3, 4, "uses")


def test_write_rejects_frames_off_the_declared_schema(spark, store):
    """Reads pin the declared schema, so a write must match it (names and
    types; order and nullability aside) or raise before any file lands."""
    ents, _ = _fixture_frames(spark)
    t = store.entities
    for bad in (
        ents.withColumn("extra", F.lit(1)),
        ents.withColumn("entity_id", F.col("entity_id").cast("int")),
    ):
        with pytest.raises(ValueError, match="declared"):
            t.append(bad)
    assert t._current_version() == 0
    assert not any(files for _, _, files in os.walk(os.path.join(t.path, "data")))
    t.append(ents.select(*reversed(ents.columns)))
    assert t.read().columns == ENTITIES.names and t.row_count() == 4


def test_rebucket_grows_modulus_and_stays_exact(spark, tmp_path):
    """rebucket() contract: rows identical afterward, pruned point/probe
    reads stay exact under the grown modulus, and a NEW table handle adopts
    the persisted modulus (probing with the write-time modulus is what keeps
    bucket pruning correct)."""
    from pyspark.sql import types as T

    from plume_spark.store.catalog import SnapshotTable, TableLayout

    schema = T.StructType([T.StructField("k", T.LongType()), T.StructField("v", T.LongType())])
    lay = TableLayout(bucket_by="k", sort_by=("k",), stats_cols=("k",))
    t = SnapshotTable(spark, str(tmp_path / "grow"), schema=schema, layout=lay)
    assert t.rebucket(4) is not None and t.n_buckets == 4
    df = spark.range(500).selectExpr("id AS k", "id * 2 AS v")
    t.append(df)
    before = {tuple(r) for r in t.read().collect()}

    assert t.rebucket(16) is not None
    assert t.n_buckets == 16
    assert {tuple(r) for r in t.read().collect()} == before
    # pruned point read under the new modulus: fewer files, same rows
    assert len(t.files_for(point={"k": 17})) < len(t.files_for())
    assert t.read(point={"k": 17}).filter("k = 17").count() == 1
    # a MERGE after growth stays exact and pruned
    t.merge_insert(
        spark.range(490, 510).selectExpr("id AS k", "id * 2 AS v"), ["k"], prune=True
    )
    assert t.row_count() == 510

    # a reopened handle must adopt the persisted modulus
    t2 = SnapshotTable(spark, str(tmp_path / "grow"), schema=schema, layout=lay)
    assert t2.n_buckets == 16
    assert t2.read(point={"k": 505}).filter("k = 505").count() == 1
    # growing is one-way here: same modulus is a no-op
    assert t2.rebucket(16) is None


def test_time_travel_point_reads_survive_rebucket(spark, tmp_path):
    """A snapshot written before ``rebucket`` keeps its own bucket modulus:
    a point read at that snapshot still opens the file that holds the key,
    for every key, and still prunes."""
    from pyspark.sql import types as T

    from plume_spark.store.catalog import SnapshotTable, TableLayout

    schema = T.StructType([T.StructField("k", T.LongType()), T.StructField("v", T.LongType())])
    lay = TableLayout(bucket_by="k", sort_by=("k",), stats_cols=("k",))
    t = SnapshotTable(spark, str(tmp_path / "tt"), schema=schema, layout=lay)
    t.rebucket(4)
    t.append(spark.range(200).selectExpr("id AS k", "id * 2 AS v"))
    v1 = t._current_version()
    assert t.rebucket(32) is not None

    holder = {
        r["k"]: r["f"]
        for r in t.read(snapshot_id=v1).select("k", F.input_file_name().alias("f")).collect()
    }
    assert sorted(holder) == list(range(200))
    n_old = len(t.files_for(snapshot_id=v1))
    for k, f in holder.items():
        kept = t.files_for(snapshot_id=v1, point={"k": k})
        assert len(kept) < n_old
        assert any(f.endswith(p) for p in kept), (k, f, kept)
    assert t.read(snapshot_id=v1, point={"k": 17}).filter("k = 17").count() == 1
    assert t.read(point={"k": 17}).filter("k = 17").count() == 1


def test_bucket_modulus_is_sized_to_rows(spark, tmp_path, monkeypatch):
    """The bucket modulus is table state sized to the rows: a new table has
    one bucket; appends and MERGEs keep it, and ``grow`` doubles it once the
    manifest count passes ``n * TARGET_ROWS_PER_BUCKET``, with point probes
    exact throughout; a materialize into an empty store sizes entities and
    triples from the staging rows; a store written under a fixed 16 buckets
    reopens exactly, and its next materialize rewrites it sized.  The target
    is lowered so that small tables cross it."""
    from pyspark.sql import types as T

    from plume_spark.generator import generate_transcripts
    from plume_spark.pipeline import build_graph, staging_table
    from plume_spark.store import catalog
    from plume_spark.store.catalog import SnapshotTable, TableLayout

    def moduli(t):
        return {e["n_buckets"] for e in t._entries(t._manifest(t._current_version()))}

    # a store written under the old fixed layout: every table at 16 buckets
    gen = generate_transcripts(spark, 12, seed=3)
    root = str(tmp_path / "fixed")
    with monkeypatch.context() as m:
        m.setattr(SnapshotTable, "buckets_for", staticmethod(lambda rows, n=1: max(n, 16)))
        build_graph(gen, GraphStore(spark, root), n_buckets=4)
    old = GraphStore(spark, root)
    ents = sorted(map(tuple, old.entities.read().collect()))
    trips = sorted(map(tuple, old.triples.read().collect()))
    assert old.entities.n_buckets == old.triples.n_buckets == 16
    assert moduli(old.entities) == moduli(old.triples) == {16}
    assert all(old.node_exists(e[0]) for e in ents)
    assert all(old.edge_exists(t[0], t[2], t[1]) for t in trips)
    assert build_graph(gen, old, n_buckets=4)["materialized"]
    assert old.entities.n_buckets == old.triples.n_buckets == 1
    assert moduli(old.entities) == moduli(old.triples) == {1}
    assert sorted(map(tuple, old.entities.read().collect())) == ents
    assert sorted(map(tuple, old.triples.read().collect())) == trips
    assert not build_graph(gen, old, n_buckets=4)["materialized"]

    monkeypatch.setattr(catalog, "TARGET_ROWS_PER_BUCKET", 100)
    schema = T.StructType([T.StructField("k", T.LongType()), T.StructField("v", T.LongType())])
    lay = TableLayout(bucket_by="k", sort_by=("k",), stats_cols=("k",))
    t = SnapshotTable(spark, str(tmp_path / "t"), schema, lay)
    assert t.n_buckets == 1 and t.grow() is None
    t.append(spark.range(150).selectExpr("id * 7 AS k", "id AS v"))
    assert t.n_buckets == 1 and len(t.files_for()) == 1
    assert t.grow() == (1, 2) and t.grow() is None
    t.merge_insert(spark.range(100, 450).selectExpr("id * 7 AS k", "id AS v"), ["k"], prune=True)
    assert t.row_count() == 450 and t.n_buckets == 2
    assert t.grow() == (2, 8) and moduli(t) == {8}
    assert SnapshotTable(spark, t.path, schema, lay).n_buckets == 8
    assert len(t.files_for(point={"k": 7 * 17})) == 1 < len(t.files_for())
    assert t.read(point={"k": 7 * 17}).filter("k = 119").count() == 1
    assert all(t.exists({"k": 7 * i}) is (i < 450) for i in range(460))
    assert not t.exists({"k": 3})

    store = GraphStore(spark, str(tmp_path / "g"))
    build_graph(gen, store, n_buckets=4)
    staging = staging_table(store)
    want = SnapshotTable.buckets_for(staging.row_count())
    assert want > 1 and staging.n_buckets == want
    for tab in (store.entities, store.triples):
        assert tab.n_buckets == want and moduli(tab) == {want}
    assert sorted(map(tuple, store.triples.read().collect())) == trips
    assert not build_graph(gen, store, n_buckets=4)["materialized"]


def test_exists_reads_only_admitting_row_groups(spark, tmp_path):
    """A file of several row groups: ``exists`` reads only the row groups
    whose footer min/max admit the probe, on long and string columns, and
    answers as the rows written."""
    import pyarrow.parquet as pq
    from pyspark.sql import types as T

    from plume_spark.store.catalog import SnapshotTable, TableLayout, _admitting_row_groups

    schema = T.StructType([T.StructField("k", T.LongType()), T.StructField("s", T.StringType())])
    t = SnapshotTable(
        spark, str(tmp_path / "rg"), schema,
        TableLayout(bucket_by="k", sort_by=("k",), stats_cols=("k",)),
    )
    spark.conf.set("parquet.block.size", "4096")
    try:
        t.append(spark.range(5000).selectExpr("id * 2 AS k", "format_string('s%05d', id * 2) AS s"))
    finally:
        spark.conf.unset("parquet.block.size")
    (f,) = t.files_for()
    md = pq.ParquetFile(os.path.join(t.path, f)).metadata
    assert md.num_row_groups > 2
    for probe in ({"k": 4000}, {"s": "s04000"}, {"k": 4000, "s": "s04000"}):
        assert len(_admitting_row_groups(md, probe)) == 1
    assert _admitting_row_groups(md, {"k": 4000, "s": "s00002"}) == []
    for k in (0, 2, 4000, 9998):
        assert t.exists({"k": k}) and t.exists({"k": k, "s": f"s{k:05d}"})
    for k in (1, 4001, 10_000, -2):
        assert not t.exists({"k": k})
    assert not t.exists({"k": 4000, "s": "s04002"})


@pytest.mark.parametrize("recorded", [True, False], ids=["conv_id_recorded", "no_key_recorded"])
def test_conv_id_keyed_triples_stay_exact_under_subj_layout(spark, tmp_path, recorded):
    """A triple table written under ``bucket_by="conv_id"`` — with that key
    recorded per file, or with no key recorded (stores written before files
    carried their bucket key) — and reopened under the subj-keyed
    ``TRIPLES_LAYOUT`` answers exactly: no file is bucket-pruned by a subj
    hash, and a repeated bulk write adds no duplicates.  ``compact()``
    rewrites it keyed by subj although it already holds one file per bucket
    id, and a second ``compact()`` is a no-op."""
    import json
    from dataclasses import replace

    from plume_spark.store.catalog import SnapshotTable
    from plume_spark.store.graph import TRIPLES_LAYOUT

    root = tmp_path / "graph"
    ents, trips = _pruning_frames(spark)
    old = SnapshotTable(
        spark, str(root / "triples"), TRIPLES, replace(TRIPLES_LAYOUT, bucket_by="conv_id")
    )
    old.rebucket(16)  # 600 rows size to one bucket
    old.append(trips)
    if not recorded:
        mpath = os.path.join(old.path, "_snapshots", f"v{old._current_version()}.json")
        with open(mpath) as f:
            manifest = json.load(f)
        for e in manifest["files"]:
            del e["bucket_by"], e["n_buckets"]
        with open(mpath, "w") as f:
            json.dump(manifest, f)

    store = GraphStore(spark, str(root))
    t = store.triples
    assert t.layout.bucket_by == "subj"
    for s in range(0, 600, 29):
        p = ("works_at", "uses", "met")[s % 3]
        assert store.edge_exists(s, s + 1, p), s
        assert not store.edge_exists(s + 1, s, p), s
    point = {"pred": "uses", "subj": 301, "conv_id": "c21"}
    full = t.read().filter("pred = 'uses' AND subj = 301").count()
    pruned = t.read(point=point).filter("pred = 'uses' AND subj = 301").count()
    assert full == pruned == 1
    if recorded:  # each file is probed under its own key: conv_id
        assert len(t.files_for(point=point)) == 1

    # a delta whose subjs hash into few buckets: a MERGE that pruned the
    # conv_id-keyed files by subj bucket would miss the stored rows
    for _ in range(2):
        store.bulk_write(ents.filter("entity_id < 5"), trips.filter("subj < 5"))
    assert t.row_count() == 600
    assert t.read().dropDuplicates().count() == 600

    entries = t._entries(t._manifest(t._current_version()))
    assert len({e["bucket"] for e in entries}) == len(entries)
    v = t._current_version()
    assert t.compact() == v + 1
    entries = t._entries(t._manifest(t._current_version()))
    assert entries and all((e["bucket_by"], e["n_buckets"]) == ("subj", 16) for e in entries)
    assert t.row_count() == 600 and t.compact() is None
    assert len(t.files_for(point={"pred": "uses", "subj": 301})) == 1
    assert store.edge_exists(301, 302, "uses") and not store.edge_exists(302, 301, "uses")


_PROBE_IDS = [0, -1, -(2**63), 2**63 - 1, *range(1, 21)]
_PROBE_PREDS = ["uses", "", "日本語-é𝔸", "works_at"]
# 72 triples over 24 subjects: every subject has three edges, each written
# by a different append, so a bucket holds several files
_PROBE_ROWS = [
    (s, _PROBE_PREDS[(i + r) % 4], _PROBE_IDS[(5 * i + 7 * r + 1) % 24])
    for r in range(3)
    for i, s in enumerate(_PROBE_IDS)
]


@pytest.fixture(scope="module")
def probe_tables(spark, tmp_path_factory):
    """Triple tables holding ``_PROBE_ROWS``, as (table, snapshot_id) pairs:
    three appends under ``TRIPLES_LAYOUT`` read at that snapshot after a
    ``rebucket`` (time travel), the rebucketed current snapshot, and a
    conv_id-keyed table whose files record no key."""
    import json
    from dataclasses import replace

    from plume_spark.store.catalog import SnapshotTable
    from plume_spark.store.graph import TRIPLES_LAYOUT

    root = tmp_path_factory.mktemp("probes")

    def frame(rows):
        full = [(s, p, o, f"c{abs(s) % 5}", 0, "s", "o") for s, p, o in rows]
        return spark.createDataFrame(full, schema=TRIPLES)

    t = SnapshotTable(spark, str(root / "t"), TRIPLES, TRIPLES_LAYOUT)
    t.rebucket(16)
    for r in range(3):
        t.append(frame(_PROBE_ROWS[24 * r : 24 * (r + 1)]))
    appended = t._current_version()
    assert t.rebucket(32) is not None

    lay = replace(TRIPLES_LAYOUT, bucket_by="conv_id")
    nokey = SnapshotTable(spark, str(root / "nokey"), TRIPLES, lay)
    nokey.rebucket(16)
    nokey.append(frame(_PROBE_ROWS))
    mpath = os.path.join(nokey.path, "_snapshots", f"v{nokey._current_version()}.json")
    with open(mpath) as f:
        manifest = json.load(f)
    for e in manifest["files"]:
        del e["bucket_by"], e["n_buckets"]
    with open(mpath, "w") as f:
        json.dump(manifest, f)
    nokey = SnapshotTable(spark, nokey.path, TRIPLES, TRIPLES_LAYOUT)
    return [(t, appended), (t, None), (nokey, None)]


_row = st.sampled_from(_PROBE_ROWS)
_probe = st.one_of(
    _row,
    _row.map(lambda r: (r[2], r[1], r[0])),  # reversed edge
    st.tuples(
        st.sampled_from([*_PROBE_IDS, 21, 2**62]),
        st.sampled_from([*_PROBE_PREDS, "zzz"]),
        st.sampled_from(_PROBE_IDS),
    ),
)


@given(which=st.integers(0, 2), probe=_probe, node=st.booleans())
@settings(max_examples=40, deadline=None, suppress_health_check=list(HealthCheck))
def test_exists_matches_a_spark_scan(spark, probe_tables, which, probe, node):
    """``exists`` (pyarrow on the driver) answers as a Spark filter over the
    same pruned files, and as the rows written: present and absent subjects
    and edges, reversed edges, 0/-1/int64 min/max ids, empty and multi-byte
    preds, buckets of several files, files with no recorded key, and a
    time-travel read after ``rebucket``."""
    t, snap = probe_tables[which]
    s, p, o = probe
    eq = {"subj": s} if node else {"subj": s, "pred": p, "obj": o}
    cond = F.lit(True)
    for col, val in eq.items():
        cond = cond & (F.col(col) == val)
    spark_says = not t.scan(t.files_for(point=eq, snapshot_id=snap)).filter(cond).isEmpty()
    written = any(r[0] == s and (node or r[1:] == (p, o)) for r in _PROBE_ROWS)
    assert t.exists(eq, snapshot_id=snap) is spark_says is written


def test_probes_reject_values_the_key_cannot_hold(spark, store):
    """A None or out-of-int64 probe value raises rather than answer False,
    whichever files pruning would keep."""
    ents, trips = _fixture_frames(spark)
    store.bulk_write(ents, trips)
    for probe in (
        lambda: store.node_exists(None),
        lambda: store.node_exists(2**63),
        lambda: store.edge_exists(None, 2, "works_at"),
        lambda: store.edge_exists(1, None, "works_at"),
        lambda: store.edge_exists(1, 2, None),
        lambda: store.edge_exists(-(2**63) - 1, 2, "works_at"),
        lambda: store.edge_exists(1, 2**63, "works_at"),
    ):
        with pytest.raises((TypeError, OverflowError)):
            probe()


def test_merge_upsert_and_delete_where(spark, store):
    ents, _ = _fixture_frames(spark)
    t = store.entities
    t.append(ents)
    t.merge_upsert(
        spark.createDataFrame(
            [(1, "alice m smith", "person", ["alice m smith"])], schema=ENTITIES
        ),
        ["entity_id"],
    )
    assert t.read().filter("entity_id = 1").collect()[0]["canonical_name"] == "alice m smith"
    assert t.row_count() == 4
    t.delete_where("kind = 'tool'")
    assert t.read().filter("entity_id = 3").count() == 0
    assert t.row_count() == 3


def test_compact_and_expire_snapshots(spark, store):
    """Maintenance contract (Iceberg rewrite_data_files / expire_snapshots
    analogs): micro-batch appends -> many small files; compact() rewrites the
    current snapshot into fewer layout-conforming files with identical rows
    and keeps time travel intact; expire_snapshots() then reclaims the old
    files and manifests, after which only retained history is readable."""
    t = store.entities
    t.rebucket(16)  # 50 rows size to one bucket: prune across sixteen
    for i in range(5):  # five micro-batch commits, one tiny fileset each
        t.append(
            spark.createDataFrame(
                [(10 * i + j, f"e{10 * i + j}", "person", [f"e{10 * i + j}"]) for j in range(10)],
                schema=ENTITIES,
            )
        )
    pre_files = t.files_for()
    pre_rows = {r["entity_id"] for r in t.read().collect()}
    v_pre = t._current_version()

    v_compact = t.compact()
    assert v_compact == v_pre + 1
    post_files = t.files_for()
    assert len(post_files) < len(pre_files)
    assert {r["entity_id"] for r in t.read().collect()} == pre_rows
    assert t.row_count() == 50
    # old snapshots still readable before expiry (their files are untouched)
    assert t.read(snapshot_id=v_pre).count() == 50
    assert t.read(snapshot_id=v_pre - 1).count() == 40
    # point reads still prune on the compacted layout
    assert len(t.files_for(point={"entity_id": 17})) < len(post_files)

    # a second compact on an already-compacted table is a no-op
    assert t.compact() is None

    import os
    stats = t.expire_snapshots(keep_last=1)
    assert stats["retained"] == [v_compact]
    assert stats["removed_data_files"] > 0 and stats["removed_manifests"] == v_pre
    # current snapshot unaffected; expired history gone, loudly
    assert {r["entity_id"] for r in t.read().collect()} == pre_rows
    assert [m["version"] for m in t.snapshots()] == [v_compact]
    with pytest.raises(FileNotFoundError):
        t.read(snapshot_id=v_pre)
    # every surviving on-disk parquet is referenced by the retained manifest
    on_disk = set()
    for dirpath, _dirs, fnames in os.walk(os.path.join(t.path, "data")):
        for f in fnames:
            if f.endswith(".parquet"):
                on_disk.add(os.path.relpath(os.path.join(dirpath, f), t.path))
    assert on_disk == set(t.files_for())


def test_reader_never_sees_torn_snapshot(spark, tmp_path):
    """Atomic-commit contract under a concurrent reader: while a writer
    commits overwrite snapshots of (version-stamped) rows, a reader thread
    re-opening the table must only ever observe a CONSISTENT snapshot —
    every row carries the same version stamp and the full row count — never
    a mix of two commits or a partial fileset.  (Single-writer is assumed;
    this pins reader-vs-writer isolation, the property the `_current`
    pointer flip provides.)"""
    import threading

    from pyspark.sql import types as T

    from plume_spark.store.catalog import SnapshotTable

    schema = T.StructType(
        [T.StructField("k", T.LongType()), T.StructField("ver", T.LongType())]
    )
    t = SnapshotTable(spark, str(tmp_path / "torn"), schema=schema)
    n = 50
    t.overwrite(spark.range(n).select(F.col("id").alias("k"), F.lit(0).cast("long").alias("ver")))

    bad: list[tuple] = []
    stop = threading.Event()

    def reader():
        while not stop.is_set():
            rows = t.read().collect()
            vers = {r["ver"] for r in rows}
            if len(vers) != 1 or len(rows) != n:
                bad.append((sorted(vers), len(rows)))
                return

    th = threading.Thread(target=reader)
    th.start()
    try:
        for v in range(1, 6):
            t.overwrite(
                spark.range(n).select(F.col("id").alias("k"), F.lit(v).cast("long").alias("ver"))
            )
    finally:
        stop.set()
        th.join()
    assert not bad, f"reader observed torn snapshots: {bad[:3]}"
    assert {r["ver"] for r in t.read().collect()} == {5}

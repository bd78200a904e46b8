"""Tests of the benchmark itself: input determinism, span arithmetic, and the
checks behind ``ops_ok_ratio``.

    python3 -m pytest perfbench/tests -q

The last group starts a ``local[2]`` Spark session and builds a small store.
"""

from __future__ import annotations

import hashlib
import os
from collections import Counter

import numpy as np
import pytest

from perfbench import gen, run
from perfbench.checks import Ledger, Model, resume_state_ok, store_digest, stored_rows_ok
from perfbench.trace import Span, Tracer, covered, self_times

# --------------------------------------------------------------- generator


def file_digest(paths: list[str]) -> str:
    h = hashlib.sha256()
    for path in paths:
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


@pytest.mark.parametrize("style", ["turns", "vocab"])
def test_same_seed_writes_identical_parquet(tmp_path, style):
    wl = run.Workload("t", style, 300, 20, persons=500, orgs=200)
    a = run.make_inputs(wl, 5, str(tmp_path / "a"))
    b = run.make_inputs(wl, 5, str(tmp_path / "b"))
    c = run.make_inputs(wl, 6, str(tmp_path / "c"))
    assert file_digest(a["paths"]) == file_digest(b["paths"])
    assert file_digest(a["paths"]) != file_digest(c["paths"])
    assert a["planted"] == b["planted"]


@pytest.mark.parametrize("style", ["turns", "vocab"])
def test_planted_predicates_follow_the_extraction_grammar(style):
    """Each relation turn yields exactly one relation, with the planted
    predicate, under the engine's own grammar functions."""
    from plume_spark.operators.extraction import find_relations

    vocab = gen.make_vocabulary(3, 400, 200) if style == "vocab" else None
    table, planted = gen.conversations(style, 3, 0, 0, 200, vocab)
    found: Counter = Counter()
    for text in table.column("text").to_pylist():
        rels = find_relations(text)
        assert len(rels) <= 1, text
        found.update(r["pred"] for r in rels)
    assert dict(found) == {k: v for k, v in planted.items() if v}


def test_delta_conversations_are_new():
    base, _ = gen.conversations("turns", 1, 0, 0, 50)
    delta, _ = gen.conversations("turns", 1, 1, 50, 10)
    assert not set(base.column("conv_id").to_pylist()) & set(delta.column("conv_id").to_pylist())


# --------------------------------------------------------------- spans


def test_covered_merges_overlaps_and_clips():
    assert covered([], 0, 10) == 0
    assert covered([(1, 3), (2, 5), (7, 8)], 0, 10) == 5
    assert covered([(-5, 2), (9, 20)], 0, 10) == 3
    assert covered([(1, 2), (1, 2)], 0, 10) == 1


def test_self_time_subtracts_children_not_grandchildren():
    spans = [
        Span("root", 0.0, 10.0),
        Span("a", 1.0, 4.0, parent=0),
        Span("a.child", 2.0, 3.0, parent=1),
        Span("b", 5.0, 9.0, parent=0),
    ]
    assert self_times(spans) == [3.0, 2.0, 1.0, 4.0]


def test_tracer_groups_self_time_by_phase_and_name():
    tr = Tracer(None)
    tr.phase("cold")
    with tr.span("build"):
        with tr.span("extract"):
            pass
        with tr.span("extract"):
            pass
    tr.phase("warm")
    with tr.span("build"):
        pass
    cold, warm = tr.by_layer("cold"), tr.by_layer("warm")
    assert cold["extract"]["calls"] == 2 and set(cold) == {"build", "extract"}
    assert warm["build"]["calls"] == 1 and "extract" not in warm
    build = tr.spans[0]
    kids = tr.spans[1].seconds + tr.spans[2].seconds
    assert cold["build"]["self_s"] == pytest.approx(build.seconds - kids)


def test_per_layer_names_match_benchmark_json():
    import json

    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    declared = {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert declared == run.per_layer_units()
    assert {w["name"] for w in spec["workloads"]} == set(run.WORKLOADS)


def test_reads_are_divided_by_the_reference_median_of_their_own_cycle():
    n_ref = run.PER_CYCLE["ref"]
    n_hop = run.PER_CYCLE["k_hop"]
    lat = {"ref": [10.0] * n_ref + [20.0] * (n_ref - 1) + [1000.0], "k_hop": [50.0] * (2 * n_hop)}
    assert run.relative(lat) == {"k_hop": [5.0] * n_hop + [2.5] * n_hop}


def test_a_lost_hook_target_is_reported(monkeypatch):
    import plume_spark.operators.canonicalize as canon
    from perfbench.layers import instrument

    monkeypatch.delattr(canon, "_driver_union_find")
    tracer = Tracer(None)
    with instrument(tracer):
        pass
    assert tracer.missing == ["plume_spark.operators.canonicalize._driver_union_find"]


def test_ledger_counts_raised_and_wrong_answers():
    led = Ledger()
    assert led.run("ok", lambda: (1, 1))
    assert not led.run("wrong", lambda: (2, 1))
    assert not led.run("raises", lambda: (1 / 0, 0))
    led.check("flag", True)
    assert (led.attempted, led.failed) == (4, 2)
    assert led.ok_ratio == 0.5


# --------------------------------------------------------------- store checks


@pytest.fixture(scope="module")
def spark():
    saved = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (run.ROOT, saved) if p)
    from plume_spark import get_spark

    s = get_spark(
        app_name="perfbench-tests", master="local[2]",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    yield s
    s.stop()
    if saved is None:
        os.environ.pop("PYTHONPATH", None)
    else:
        os.environ["PYTHONPATH"] = saved


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    """A store built from base and then appended with delta, as in a run."""
    from plume_spark.pipeline import build_graph
    from plume_spark.store.graph import GraphStore

    work = tmp_path_factory.mktemp("built")
    inputs = run.make_inputs(run.Workload("t", "turns", 60, 10), 2, str(work / "in"))
    p = inputs["paths"]
    full = spark.read.parquet(p[0], p[1])
    store = GraphStore(spark, str(work / "store"))
    build_graph(spark.read.parquet(p[0]), store)
    build_graph(full, store)
    return store, full, inputs


def _fresh_copy(spark, store, dst):
    import shutil

    from plume_spark.store.graph import GraphStore

    shutil.copytree(store.catalog.root, dst)
    return GraphStore(spark, str(dst))


def _failed(store, full, inputs) -> list[str]:
    led = Ledger()
    stored_rows_ok(led, "t", Model.of(store), inputs["planted"][1])
    resume_state_ok(led, "t", store, full, run.N_BUCKETS)
    return [f.split(":")[0] for f in led.failures]


def test_checks_pass_on_the_built_store(built):
    store, full, inputs = built
    assert _failed(store, full, inputs) == []


def test_checks_fail_on_a_dangling_triple(spark, built, tmp_path):
    store, full, inputs = built
    bad = _fresh_copy(spark, store, tmp_path / "s")
    row = bad.triples.read().limit(1).collect()[0].asDict()
    row.update(subj=123456789, turn_idx=999)
    bad.triples.append(spark.createDataFrame([row], schema=bad.triples.read().schema))
    assert _failed(bad, full, inputs) == ["t.dangling_edges", "t.planted_predicates"]


def test_checks_fail_on_a_lost_triple_and_lost_lineage(spark, built, tmp_path):
    store, full, inputs = built
    bad = _fresh_copy(spark, store, tmp_path / "s")
    bad.triples.delete_where("pred = 'uses'")
    bad.lineage.truncate()
    assert _failed(bad, full, inputs) == ["t.planted_predicates", "t.nothing_pending"]


def test_checks_fail_on_a_duplicated_changelog(spark, built, tmp_path):
    from plume_spark.pipeline import staging_table

    store, full, inputs = built
    bad = _fresh_copy(spark, store, tmp_path / "s")
    staging = staging_table(bad)
    staging.append(staging.read().limit(3))
    assert _failed(bad, full, inputs) == ["t.changelog_unique"]


def test_probes_and_digest_catch_a_deleted_entity(spark, built, tmp_path):
    store, full, inputs = built
    model = Model.of(store)
    probes = model.probes(np.random.default_rng(0), 8)
    gone = probes["node_present"][0]
    bad = _fresh_copy(spark, store, tmp_path / "s")
    bad.entities.delete_where(f"entity_id = {gone}")
    ops = run.read_ops(spark, bad, model, probes)
    assert ops["node_present"](0) == (False, True)
    assert ops["node_absent"](0) == (False, False)
    assert ops["edge_reversed"](0) == (False, False)
    assert store_digest(bad) != store_digest(store)
    assert "t.dangling_edges" in _failed(bad, full, inputs)


def test_reference_session_has_spark_default_sql_settings(spark):
    ref = run.reference_session(spark)
    assert spark.conf.get("spark.sql.shuffle.partitions") == "2"
    assert ref.conf.get("spark.sql.shuffle.partitions") == "200"
    assert ref.conf.get("spark.sql.parquet.compression.codec") == "snappy"
    assert ref.range(3).groupBy().count().first()[0] == 3


def test_absent_probes_keep_only_lookups_that_open_a_file(built):
    store, _full, _inputs = built
    probes = Model.of(store).probes(np.random.default_rng(3), 64)
    kept = run.scanning_absent_probes(store, probes)
    assert len(kept["node_absent"]) == run.ABSENT_IDS
    assert set(kept["node_absent"]) <= set(probes["node_absent"])
    assert all(store.entities.files_for(point={"entity_id": e}) for e in kept["node_absent"])
    assert kept["edge_reversed"]
    assert all(store.triples.files_for(point={"pred": p, "subj": s}) for s, p, _ in kept["edge_reversed"])


def test_reads_on_the_built_store_answer_as_the_model_says(spark, built):
    store, _, _ = built
    model = Model.of(store)
    probes = model.probes(np.random.default_rng(1), 4)
    ops = run.read_ops(spark, store, model, probes)
    for cls, op in ops.items():
        got, want = op(1)
        assert got == want, cls

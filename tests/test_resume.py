"""Resume idempotency (north rule): a killed run, re-executed from the top,
produces exactly the tables an uninterrupted run produces — no duplicates,
no missing rows.  Also: unchanged input => extract stage is a no-op, and the
staging change log keeps each record once."""

from __future__ import annotations

from pyspark.sql import functions as F

from plume_spark.generator import generate_transcripts
from plume_spark.pipeline import build_graph
from plume_spark.store import GraphStore


def _table_set(store, name):
    t = {"entities": store.entities, "triples": store.triples}[name]
    return sorted(map(tuple, t.read().collect()))


def test_kill_and_resume_equals_uninterrupted(spark, tmp_path):
    t = generate_transcripts(spark, 30, seed=5)

    # uninterrupted run
    a = GraphStore(spark, str(tmp_path / "a"))
    build_graph(t, a, n_buckets=8)

    # killed run: only 3 of 8 buckets complete, then full re-run
    b = GraphStore(spark, str(tmp_path / "b"))
    partial = build_graph(t, b, n_buckets=8, max_units=3)
    assert partial["pending_units"] == 3
    resumed = build_graph(t, b, n_buckets=8)
    assert resumed["pending_units"] == 5  # only the unfinished buckets re-ran

    assert _table_set(a, "entities") == _table_set(b, "entities")
    assert _table_set(a, "triples") == _table_set(b, "triples")


def test_unchanged_rerun_is_noop_extract(spark, tmp_path):
    t = generate_transcripts(spark, 12, seed=9)
    s = GraphStore(spark, str(tmp_path / "g"))
    build_graph(t, s, n_buckets=4)
    again = build_graph(t, s, n_buckets=4)
    assert again["pending_units"] == 0  # A9 unchanged-input skip
    # still exactly one copy of everything
    n = s.triples.read().count()
    assert n == s.triples.read().dropDuplicates().count()


def test_changed_bucket_reprocesses(spark, tmp_path):
    t = generate_transcripts(spark, 12, seed=9)
    s = GraphStore(spark, str(tmp_path / "g"))
    build_graph(t, s, n_buckets=4)
    # new conversations appear -> only their buckets re-extract
    t2 = generate_transcripts(spark, 14, seed=9)
    stats = build_graph(t2, s, n_buckets=4)
    assert 1 <= stats["pending_units"] <= 4
    # final state equals a fresh full build
    fresh = GraphStore(spark, str(tmp_path / "fresh"))
    build_graph(t2, fresh, n_buckets=4)
    assert _table_set(s, "triples") == _table_set(fresh, "triples")


def _rec_id_7():
    """The change-log rec_id as it was before mentions were compact: seven
    keys, no norm or kind.  Triple records must still hash to it."""
    return F.xxhash64(
        "rec_kind", "conv_id", "turn_idx",
        F.coalesce(F.col("span_start"), F.lit(-1)),
        F.coalesce(F.col("subj_norm"), F.lit("")),
        F.coalesce(F.col("pred"), F.lit("")),
        F.coalesce(F.col("obj_norm"), F.lit("")),
    )


def _occurrence_changelog(t):
    """Staging rows as an older store wrote them: every mention occurrence,
    with its mention_id, and the seven-key rec_id."""
    from plume_spark.operators.extraction import (
        _UDF_SCHEMA,
        CHANGELOG_SCHEMA,
        _extract_part_vec,
    )

    def kernel(batches):
        for pdf in batches:
            yield _extract_part_vec(pdf)

    out = t.select("conv_id", "turn_idx", "text").mapInPandas(kernel, schema=_UDF_SCHEMA)
    mention_id = F.when(
        F.col("rec_kind") == "mention", F.xxhash64("conv_id", "turn_idx", "span_start")
    )
    return (
        out.withColumn("mention_id", mention_id)
        .select(*CHANGELOG_SCHEMA.names)
        .withColumn("rec_id", _rec_id_7())
    )


def test_staging_keeps_each_mention_pair_and_triple_once(spark, tmp_path):
    """Staging holds one compact mention row per distinct (norm, kind) and
    each triple occurrence once, after a build, a grown input that
    re-extracts buckets holding already-staged conversations, and a retried
    staging step.  Triple rec_ids are the seven-key hash they always were."""
    from plume_spark.operators.extraction import _extract_part_vec
    from plume_spark.pipeline import stage_changelog, staging_table

    s = GraphStore(spark, str(tmp_path / "g"))
    build_graph(generate_transcripts(spark, 12, seed=9), s, n_buckets=4)
    t = generate_transcripts(spark, 16, seed=9)
    assert build_graph(t, s, n_buckets=4)["pending_units"] >= 1
    stage_changelog(s, t, "extract", [])  # a retried step: a no-op

    want = _extract_part_vec(t.select("conv_id", "turn_idx", "text").toPandas())
    want_m = want[want["rec_kind"] == "mention"]
    want_t = want[want["rec_kind"] == "triple"]
    staged = staging_table(s).read()
    m = staged.filter(F.col("rec_kind") == "mention")
    assert m.filter(F.col("conv_id").isNotNull() | F.col("mention_id").isNotNull()).isEmpty()
    assert sorted((r["norm"], r["kind"]) for r in m.collect()) == sorted(
        set(zip(want_m["norm"], want_m["kind"]))
    )
    tr = staged.filter(F.col("rec_kind") == "triple")
    keys = ["conv_id", "turn_idx", "subj_norm", "pred", "obj_norm"]
    assert tr.count() == len(want_t.drop_duplicates(keys))
    assert tr.filter(F.col("rec_id") != _rec_id_7()).isEmpty()
    assert staged.count() == staged.select("rec_id").distinct().count()


def test_occurrence_staging_materializes_like_compact(spark, tmp_path):
    """A staging table that mixes an older store's per-occurrence mention
    rows with compact ones materializes to the same entities and triples as
    a compact-only one: linking reads only the distinct (norm, kind)
    pairs, and the triple rec_ids of the two forms agree."""
    from plume_spark.pipeline import materialize_graph, stage_changelog, staging_table

    t = generate_transcripts(spark, 16, seed=3)
    compact = GraphStore(spark, str(tmp_path / "compact"))
    build_graph(t, compact, n_buckets=4, tau=0.95)

    mixed = GraphStore(spark, str(tmp_path / "mixed"))
    staging_table(mixed).append(_occurrence_changelog(t.filter("conv_id < 'conv-00000008'")))
    stage_changelog(mixed, t, "extract", [])
    staged = staging_table(mixed).read().filter(F.col("rec_kind") == "mention")
    assert not staged.filter(F.col("mention_id").isNotNull()).isEmpty()
    assert materialize_graph(mixed, 0.95)["materialized"]

    assert _table_set(mixed, "entities") == _table_set(compact, "entities")
    assert _table_set(mixed, "triples") == _table_set(compact, "triples")

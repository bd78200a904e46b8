"""Structured Streaming ingest: file-source stream -> staging MERGE ->
materialize.  Contract: a store fed by the stream is bit-identical to one
built by the batch path over the same rows (SURVEY §2.9's continuous-arrival
complement), and checkpoint + rec_id-MERGE make re-drains no-ops."""

from __future__ import annotations

from pyspark.sql import functions as F

from plume_spark.generator import generate_transcripts
from plume_spark.pipeline import build_graph
from plume_spark.store import GraphStore
from plume_spark.streaming import (
    read_transcript_stream,
    stream_build,
    stream_turn_counts,
)


def _table_set(store, name):
    t = {"entities": store.entities, "triples": store.triples}[name]
    return sorted(map(tuple, t.read().collect()))


def _land(df, path):
    df.coalesce(1).write.mode("append").parquet(path)


def test_stream_matches_batch_and_redrain_is_noop(spark, tmp_path):
    t = generate_transcripts(spark, 24, seed=7)
    inbox = str(tmp_path / "inbox")
    ckpt = str(tmp_path / "ckpt")

    # two file landings = at least two epochs' worth of input
    first = t.filter("conv_id < 'conv-00000012'")
    rest = t.filter("conv_id >= 'conv-00000012'")
    _land(first, inbox)
    _land(rest, inbox)

    s = GraphStore(spark, str(tmp_path / "stream-store"))
    stream = read_transcript_stream(spark, inbox, max_files_per_trigger=1)
    stats = stream_build(stream, s, ckpt, tau=0.95)
    assert stats["epochs"] >= 2  # maxFilesPerTrigger=1 forces per-file epochs
    assert stats["rows_in"] == t.count()
    # post-drain maintenance ran: staging holds one layout-conforming fileset
    # (at most one file per rec_id hash-bucket), not one fileset per epoch
    assert stats.get("compacted") is True
    from plume_spark.pipeline import staging_table

    staging = staging_table(s)
    assert len(staging.files_for()) <= staging.n_buckets
    # the compaction ran before materialize: the drain's graph stays current
    from plume_spark.pipeline import materialize_graph

    assert materialize_graph(s, 0.95)["materialized"] is False

    b = GraphStore(spark, str(tmp_path / "batch-store"))
    build_graph(t, b, tau=0.95)
    assert _table_set(s, "entities") == _table_set(b, "entities")
    assert _table_set(s, "triples") == _table_set(b, "triples")

    # re-drain with the same checkpoint: no new files -> zero epochs, store
    # untouched (exactly-once effect)
    again = stream_build(
        read_transcript_stream(spark, inbox, max_files_per_trigger=1), s, ckpt
    )
    assert again["epochs"] == 0
    assert _table_set(s, "triples") == _table_set(b, "triples")


def test_stream_incremental_arrival_converges(spark, tmp_path):
    t = generate_transcripts(spark, 16, seed=11)
    inbox = str(tmp_path / "inbox")
    ckpt = str(tmp_path / "ckpt")
    s = GraphStore(spark, str(tmp_path / "store"))

    _land(t.filter("conv_id < 'conv-00000008'"), inbox)
    stream_build(read_transcript_stream(spark, inbox), s, ckpt, tau=0.95)

    # later landing: only the new files are processed, store converges to the
    # full-input batch build
    _land(t.filter("conv_id >= 'conv-00000008'"), inbox)
    stats = stream_build(read_transcript_stream(spark, inbox), s, ckpt, tau=0.95)
    assert 0 < stats["rows_in"] < t.count()

    fresh = GraphStore(spark, str(tmp_path / "fresh"))
    build_graph(t, fresh, tau=0.95)
    assert _table_set(s, "triples") == _table_set(fresh, "triples")


def test_stream_turn_counts_watermarked(spark, tmp_path):
    t = generate_transcripts(spark, 10, seed=3)
    inbox = str(tmp_path / "inbox")
    _land(t, inbox)

    agg = stream_turn_counts(read_transcript_stream(spark, inbox))
    q = (
        agg.writeStream.format("memory")
        .queryName("turn_counts")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        r["conv_id"]: (r["n_turns"], r["max_turn_idx"])
        for r in spark.sql("select * from turn_counts").collect()
    }
    want = {
        r["conv_id"]: (r["n"], r["mx"])
        for r in t.groupBy("conv_id")
        .agg(F.count("*").alias("n"), F.max("turn_idx").alias("mx"))
        .collect()
    }
    assert got == want


def test_ordered_turn_release_stateful(spark, tmp_path):
    """applyInPandasWithState in-order release: out-of-order arrival across
    micro-batches yields each turn exactly once, and after every micro-batch
    the released turns of each conversation form a contiguous 0..k prefix."""
    import time
    from collections import defaultdict

    from plume_spark.streaming import ordered_turn_release

    t = generate_transcripts(spark, 8, seed=13)
    inbox = str(tmp_path / "inbox")
    ckpt = str(tmp_path / "ckpt")
    out_dir = str(tmp_path / "released")

    tails = t.filter("turn_idx >= 2")  # heads withheld: tails must buffer
    heads_a = t.filter("turn_idx < 2 and conv_id < 'conv-00000004'")
    heads_b = t.filter("turn_idx < 2 and conv_id >= 'conv-00000004'")
    _land(tails.union(heads_a), inbox)  # releases only heads_a prefixes
    time.sleep(0.2)
    _land(heads_b, inbox)  # unlocks the buffered tails of the b-convs
    time.sleep(0.2)
    _land(tails, inbox)  # at-least-once replay: must release nothing new

    def _cap(bdf, eid):
        bdf.withColumn("batch_id", F.lit(int(eid))).write.mode("append").parquet(
            out_dir
        )

    q = (
        ordered_turn_release(
            read_transcript_stream(spark, inbox, max_files_per_trigger=1)
        )
        .writeStream.foreachBatch(_cap)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    rel = spark.read.parquet(out_dir)
    cols = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    # exactly-once: every turn released once despite the duplicate landing
    assert sorted(map(tuple, rel.select(*cols).collect())) == sorted(
        map(tuple, t.select(*cols).collect())
    )
    # in-order: cumulatively after each micro-batch, each conversation's
    # released turn_idx set is a contiguous prefix starting at 0
    rows = rel.select("batch_id", "conv_id", "turn_idx").collect()
    seen = defaultdict(set)
    batch_sizes = defaultdict(int)
    for b in sorted({r["batch_id"] for r in rows}):
        for r in rows:
            if r["batch_id"] == b:
                seen[r["conv_id"]].add(r["turn_idx"])
                batch_sizes[b] += 1
        for idxs in seen.values():
            assert idxs == set(range(len(idxs)))
    # the gap really spanned micro-batches: >1 non-empty release batch
    assert len(batch_sizes) > 1


def test_gap_timeout_flush_logic():
    """Deterministic unit test of the gap-timeout flush path: a permanently
    missing turn_idx must not buffer the tail forever — on timeout the buffer
    flushes in order (skipping the hole) and later duplicates stay deduped."""
    import pandas as pd

    from plume_spark.streaming.stateful import _COLS, _release_logic

    class FakeState:
        def __init__(self):
            self.exists = False
            self.hasTimedOut = False
            self._v = None
            self.timeout_set = None

        @property
        def get(self):
            return self._v

        def update(self, v):
            self._v = v
            self.exists = True

        def setTimeoutDuration(self, ms):
            self.timeout_set = ms

    def turns(idxs):
        return pd.DataFrame(
            {
                "conv_id": ["c"] * len(idxs),
                "turn_idx": idxs,
                "role": ["user"] * len(idxs),
                "text": [f"t{i}" for i in idxs],
                "tool": [None] * len(idxs),
                "ts": [pd.Timestamp("2026-01-01")] * len(idxs),
            },
            columns=_COLS,
        )

    st = FakeState()
    # batch 1: turn 1 never arrives; 0 releases, 2 and 3 buffer
    out = list(_release_logic(iter([turns([0, 2, 3])]), st, gap_timeout_ms=5000))
    assert [r for o in out for r in o["turn_idx"]] == [0]
    assert st.timeout_set == 5000 and st._v[0] == 1

    # timeout fires: buffered 2,3 flush in order, state advances past them
    st.hasTimedOut = True
    out = list(_release_logic(iter([]), st, gap_timeout_ms=5000))
    assert [r for o in out for r in o["turn_idx"]] == [2, 3]
    assert st._v == (4, "[]")

    # late replay of already-flushed turns: dropped (idx < next_idx)
    st.hasTimedOut = False
    out = list(_release_logic(iter([turns([2, 3, 4])]), st, gap_timeout_ms=5000))
    assert [r for o in out for r in o["turn_idx"]] == [4]


def test_stateful_release_survives_restart(spark, tmp_path):
    """State-store durability: turns buffered by one query incarnation are
    released by a NEW query started later on the same checkpoint — the
    exactly-once contract holds across restarts, not just micro-batches."""
    from plume_spark.streaming import ordered_turn_release

    t = generate_transcripts(spark, 6, seed=21)
    inbox = str(tmp_path / "inbox")
    ckpt = str(tmp_path / "ckpt")
    out_dir = str(tmp_path / "released")

    def drain():
        q = (
            ordered_turn_release(read_transcript_stream(spark, inbox))
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    # incarnation 1: only tails arrive -> everything buffers into state
    _land(t.filter("turn_idx >= 1"), inbox)
    drain()
    released = spark.read.parquet(out_dir)
    assert released.count() == 0  # nothing contiguous yet

    # incarnation 2 (fresh query object, same checkpoint): heads land; the
    # state recovered from the checkpoint must release the FULL prefix,
    # including the turns buffered by incarnation 1
    _land(t.filter("turn_idx < 1"), inbox)
    drain()
    cols = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    assert sorted(map(tuple, spark.read.parquet(out_dir).select(*cols).collect())) == sorted(
        map(tuple, t.select(*cols).collect())
    )


def test_stream_dedup_converges_to_full_run(spark, tmp_path):
    """Continuous dedup: docs arriving across epochs emit, in aggregate,
    exactly the pair set a full batch run over everything produces; a
    re-drain with no new files changes nothing."""
    from plume_spark.operators import dedup
    from plume_spark.streaming import DedupIndex, read_document_stream, stream_dedup

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    inbox, ckpt = str(tmp_path / "docs-in"), str(tmp_path / "docs-ck")
    _land(d.filter("doc_id % 3 = 0"), inbox)
    _land(d.filter("doc_id % 3 = 1"), inbox)
    _land(d.filter("doc_id % 3 = 2"), inbox)

    idx = DedupIndex(spark, str(tmp_path / "dedup-index"))
    stats = stream_dedup(
        read_document_stream(spark, inbox, max_files_per_trigger=1), idx, ckpt
    )
    assert stats["epochs"] >= 3 and stats["docs_in"] == d.count()

    streamed = {
        (r["doc_a"], r["doc_b"]): r["jaccard"] for r in idx.pairs.read().collect()
    }
    asigs, atoks = dedup.minhash_state(d)
    full = {
        (r["doc_a"], r["doc_b"]): round(r["jaccard"], 6)
        for r in dedup.incremental_neardup(None, None, asigs, atoks).collect()
    }
    assert streamed == full and full, "stream pair set must equal the full run"
    # index covers every doc exactly once
    assert idx.sigs.read().select("doc_id").distinct().count() == d.count()

    # re-drain: no new files -> no epochs, nothing changes
    before = idx.pairs.row_count()
    stats2 = stream_dedup(
        read_document_stream(spark, inbox, max_files_per_trigger=1), idx, ckpt
    )
    assert stats2["epochs"] == 0 and idx.pairs.row_count() == before


def test_stream_dedup_crash_replay_partial_fold(spark, tmp_path):
    """Worst-case crash window: an epoch died after folding a batch into
    EVERY index table except the doc registry (docs is written last) and
    before its pairs landed.  The replay must still emit that batch's full
    pair set, and no table may hold duplicate rows — the `fresh` anti-joins
    on the index side make the recompute bit-identical."""
    from plume_spark.operators import dedup
    from plume_spark.streaming import DedupIndex, read_document_stream, stream_dedup

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    b1, b2 = d.filter("doc_id % 2 = 0"), d.filter("doc_id % 2 = 1")

    # expected end state: a clean two-batch run
    inbox_c, ckpt_c = str(tmp_path / "in-clean"), str(tmp_path / "ck-clean")
    _land(b1, inbox_c)
    _land(b2, inbox_c)
    clean = DedupIndex(spark, str(tmp_path / "idx-clean"))
    stream_dedup(read_document_stream(spark, inbox_c, max_files_per_trigger=1), clean, ckpt_c)
    expected = sorted(map(tuple, clean.pairs.read().collect()))

    # crashed run: batch1 folds normally; batch2's fold is simulated as
    # interrupted — intent marker written (as the real fold does before its
    # first table write), all derived/raw tables merged, docs + pairs NOT
    inbox, ckpt = str(tmp_path / "in-crash"), str(tmp_path / "ck1")
    _land(b1, inbox)
    idx = DedupIndex(spark, str(tmp_path / "idx-crash"))
    stream_dedup(read_document_stream(spark, inbox, max_files_per_trigger=1), idx, ckpt)
    assert not idx.epoch_dirty()  # clean folds always clear their marker
    idx.mark_epoch_intent()
    nsigs, ntoks = dedup.minhash_state(b2)
    idx.sigs.merge_insert(nsigs, keys=["doc_id", "h"], prune=True)
    idx.toks.merge_insert(ntoks, keys=["doc_id", "tok_id"], prune=True)
    nbands = dedup.banded_signatures(nsigs).withColumn("sig_hash", F.xxhash64("band_sig"))
    idx.bands.merge_insert(nbands, keys=["doc_id", "band", "sig_hash"], prune=True)
    idx.gsets.merge_insert(dedup.doc_gsets(ntoks), keys=["doc_id", "gset_hash"], prune=True)

    # replay: batch2 arrives again (fresh checkpoint = full redelivery window)
    _land(b2, inbox)
    stream_dedup(read_document_stream(spark, inbox, max_files_per_trigger=1), idx, str(tmp_path / "ck2"))
    assert sorted(map(tuple, idx.pairs.read().collect())) == expected and expected
    for t in idx.tables():
        assert t.read().count() == t.read().distinct().count()
    assert not idx.epoch_dirty()  # the replayed epoch completed and cleared it

    # other crash window: registry written but marker removal lost — the
    # replay of a fully-registered batch changes nothing and must NOT clear
    # the marker (an earlier batch's replay would otherwise clear it on the
    # crashed epoch's behalf); the next real fold takes the exact-MERGE
    # path once, stays duplicate-free, and clears it
    from plume_spark.streaming import fold_batch

    before = {t.path: t.row_count() for t in idx.tables()}
    idx.mark_epoch_intent()
    fold_batch(idx, b2)
    assert idx.epoch_dirty()
    assert {t.path: t.row_count() for t in idx.tables()} == before
    b3 = b2.selectExpr("doc_id + 1000000 AS doc_id", "text", "lang", "source", "n_chars")
    fold_batch(idx, b3)  # dirty path: exact MERGEs, then the marker clears
    assert not idx.epoch_dirty()
    for t in idx.tables():
        assert t.read().count() == t.read().distinct().count()


def test_dedup_index_layout_prunes(spark, tmp_path):
    """The index tables carry the bucketed layout: a point read on one doc
    opens fewer files than a full scan."""
    from plume_spark.operators import dedup
    from plume_spark.streaming import DedupIndex

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    idx = DedupIndex(spark, str(tmp_path / "idx"))
    idx.sigs.rebucket(16)  # the sf0.001 signatures size to one bucket
    sigs, toks = dedup.minhash_state(d)
    idx.sigs.append(sigs)
    idx.toks.append(toks)
    some = d.select("doc_id").first()["doc_id"]
    assert len(idx.sigs.files_for(point={"doc_id": some})) < len(idx.sigs.files_for())


def test_stream_sessionize_equals_batch(spark, tmp_path):
    """Streaming gap sessionization under out-of-order arrival converges to
    the batch w3 window exactly: events land in event_id-mod files (so each
    user's timeline is split across epochs), the watermark releases them in
    event-time order, and after a far-future sentinel advances the global
    watermark every buffered tail flushes — output == the batch operator
    row-for-row."""
    from pyspark.sql import Window

    from plume_spark.streaming.ingest import file_stream
    from plume_spark.streaming.stateful import stream_sessionize

    e = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    inbox, ckpt, outdir = (
        str(tmp_path / "ev-in"), str(tmp_path / "ev-ck"), str(tmp_path / "ev-out")
    )
    # bounded-disorder arrival (the watermark contract's regime): events land
    # in chronological thirds, except each third's last 20 events straggle
    # into the NEXT file — they arrive an epoch late but still ahead of the
    # watermark (which trails the on-time prefix by 30 min), so the operator
    # must reorder them, not drop them.  A mod-id split would make a third
    # of the corpus later than the watermark, which is legitimately dropped.
    ordered = [r["event_id"] for r in e.orderBy("ts", "event_id").collect()]
    n = len(ordered)
    thirds = [ordered[: n // 3], ordered[n // 3 : 2 * n // 3], ordered[2 * n // 3 :]]
    files: list[list] = [[], [], []]
    for k, third in enumerate(thirds):
        on_time, stragglers = third[:-20], third[-20:]
        files[k].extend(on_time)
        files[min(k + 1, 2)].extend(stragglers)
    for ids in files:
        _land(e.filter(F.col("event_id").isin(ids)), inbox)

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
    # sentinel: one far-future event pushes the global watermark past every
    # real event; a second drain fires the event-time timeouts that flush
    # the remaining buffered tails
    max_ts = e.agg(F.max("ts")).first()[0]
    import datetime

    for i in (1, 2):
        sent = spark.createDataFrame(
            [(10**9 + i, max_ts + datetime.timedelta(days=30 * i), -1, "click", 0.0, "{}")],
            e.schema,
        )
        _land(sent, inbox)
        drain()

    got = {
        (r["event_id"], r["user_id"], r["session_idx"])
        for r in spark.read.parquet(outdir).filter("user_id >= 0").collect()
    }
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    ts_s = F.col("ts").cast("timestamp").cast("double")
    gap = ts_s - F.lag(ts_s).over(w)
    expected = {
        (r["event_id"], r["user_id"], r["session_idx"])
        for r in e.withColumn(
            "new_sess", F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
        )
        .withColumn("session_idx", F.sum("new_sess").over(w).cast("long"))
        .select("event_id", "user_id", "session_idx")
        .collect()
    }
    assert got == expected and expected

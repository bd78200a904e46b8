"""Continuous near-duplicate detection: a document stream dedups against an
ever-growing MinHash index.

The batch identity this builds on (operators/dedup.py): every near-dup pair
touches the later-arriving doc's batch, so emitting each batch's
incremental pairs and folding the batch into the index afterwards yields, in
aggregate, the pair set a full re-run over everything would produce (tested
against the full path in tests/test_streaming.py).  One deliberate
divergence: the band-bucket cap is evaluated ONLINE.  A pair emitted while
its bucket was still small is retained even if later arrivals push that
bucket past MAX_BUCKET_SIZE (a full offline re-run would drop the whole
bucket).  For boilerplate-skewed corpora the online semantics keep strictly
MORE verified-exact pairs than the offline approximation; exactly-once
delivery is unaffected.

Doc identity contract: doc_id is a CONTENT-STABLE identifier — re-crawled
or updated text must arrive under a new doc_id (content-addressed ids, the
same philosophy as the KG pipeline's deterministic hash IDs).  A re-landed
doc_id is treated as a duplicate delivery of the same content and skipped
(first write wins, per table), which is exactly what makes crash replay a
no-op; it is NOT an update mechanism.

Exactly-once without a transactional sink, same recipe as ingest.py:
* the file source's checkpoint gives at-least-once epoch replay;
* a write-ahead INTENT MARKER brackets each fold: it lands (atomic
  os.replace) before the first table write and clears after the registry
  write.  No marker on entry = the previous fold completed = every
  incoming key is provably absent (fresh docs only reach the sinks), so
  the sinks take plain appends — O(batch), no index scan.  A marker on
  entry = the previous fold crashed mid-write = exactly that one replayed
  epoch takes MERGE-on-natural-keys anti-joins (pairs on (doc_a, doc_b),
  signatures on (doc_id, h), tokens on (doc_id, tok_id), bands on
  (doc_id, band, sig_hash), gsets on (doc_id, gset_hash)) and lands
  idempotently;
* the registry write comes LAST and is always a pruned MERGE: a crash
  mid-fold leaves the doc unregistered, the replay re-derives it, and the
  anti-joins against ``fresh`` on the index side make the recompute
  bit-identical.

Per-epoch cost is O(batch + matched file-buckets), NEVER O(index):
candidate generation probes the persisted band/gset tables through
bucket-pruned reads instead of re-banding the corpus's signatures (and
``grow_buckets`` keeps bucket width bounded as the index ages), the
disjointness check is one pruned anti-join against the compact doc
registry, the sink writes are appends except on the one-epoch crash-replay
path, and verify fetches token sets for candidate participants only.
All of it is pure DataFrame plans; the foreachBatch closure iterates no
rows and touches no session-global state (no clearCache — the epoch's
localCheckpoints are freed by the ContextCleaner when unreferenced).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from plume_spark.operators.dedup import (
    JACCARD_TAU,
    banded_signatures,
    doc_gsets,
    incremental_candidates,
    jaccard_verify,
    minhash_state,
)
from plume_spark.store.catalog import SnapshotTable

# authoritative shape of the documents table (TESTDATA.md); streaming file
# sources require a declared schema
DOCUMENTS = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ]
)


def read_document_stream(
    spark: SparkSession,
    path: str,
    fmt: str = "parquet",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    from plume_spark.streaming.ingest import file_stream

    return file_stream(spark, path, DOCUMENTS, fmt, max_files_per_trigger)


class DedupIndex:
    """The persisted dedup state under one directory, six snapshot tables:

    raw state    — sigs (doc_id, h, minhash), toks (doc_id, tok_id);
    derived state— bands (doc_id, band, band_sig, sig_hash) bucketed by
                   sig_hash, gsets (doc_id, gset_hash) bucketed by gset_hash:
                   the LSH band table and exact-dup fingerprints persisted so
                   per-epoch candidate generation probes file-buckets instead
                   of re-banding the whole signature table;
    registry     — docs (doc_id) bucketed by doc_id: the compact membership
                   set behind the O(batch) disjointness/replay check (written
                   LAST per epoch, so an unregistered doc is re-folded
                   idempotently after a crash);
    output       — pairs (doc_a, doc_b, jaccard).
    """

    SIGS = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("h", T.IntegerType()),
            T.StructField("minhash", T.LongType()),
        ]
    )
    TOKS = T.StructType(
        [T.StructField("doc_id", T.LongType()), T.StructField("tok_id", T.LongType())]
    )
    BANDS = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("band", T.IntegerType()),
            T.StructField("band_sig", T.ArrayType(T.LongType())),
            T.StructField("sig_hash", T.LongType()),
        ]
    )
    GSETS = T.StructType(
        [T.StructField("doc_id", T.LongType()), T.StructField("gset_hash", T.LongType())]
    )
    DOCS = T.StructType([T.StructField("doc_id", T.LongType())])
    PAIRS = T.StructType(
        [
            T.StructField("doc_a", T.LongType()),
            T.StructField("doc_b", T.LongType()),
            T.StructField("jaccard", T.DoubleType()),
        ]
    )

    def __init__(self, spark: SparkSession, path: str):
        self.path = path
        # every table is bucketed on ITS probe key — doc-keyed tables by
        # doc_id, the band table by sig_hash, gset fingerprints by gset_hash —
        # so each per-epoch probe/MERGE opens only the file-buckets the
        # batch's keys hash into (the same index idea as the graph store's
        # entities/triples layouts); each modulus grows with its table
        # (``grow_buckets``)
        from plume_spark.store.catalog import TableLayout

        def lay(key: str, sort: tuple = ()) -> TableLayout:
            return TableLayout(bucket_by=key, sort_by=sort or (key,), stats_cols=(key,))

        self.sigs = SnapshotTable(spark, f"{path}/sigs", schema=self.SIGS, layout=lay("doc_id"))
        self.toks = SnapshotTable(spark, f"{path}/toks", schema=self.TOKS, layout=lay("doc_id"))
        self.bands = SnapshotTable(spark, f"{path}/bands", schema=self.BANDS, layout=lay("sig_hash"))
        self.gsets = SnapshotTable(spark, f"{path}/gsets", schema=self.GSETS, layout=lay("gset_hash"))
        self.docs = SnapshotTable(spark, f"{path}/docs", schema=self.DOCS, layout=lay("doc_id"))
        self.pairs = SnapshotTable(
            spark, f"{path}/pairs", schema=self.PAIRS, layout=lay("doc_a", ("doc_a", "doc_b"))
        )

    def tables(self) -> tuple[SnapshotTable, ...]:
        return (self.sigs, self.toks, self.bands, self.gsets, self.docs, self.pairs)

    # ----------------------------------------------- epoch intent marker
    # Write-ahead flag bracketing each fold.  Present on entry <=> the
    # previous fold crashed between its first table write and its registry
    # commit, so ONLY that replayed epoch pays exact anti-join MERGEs; every
    # clean epoch appends (its keys are provably absent — sinks only ever
    # receive rows derived from unregistered docs).  Single writer per
    # index, same assumption as the snapshot store.

    @property
    def intent_path(self) -> str:
        import os

        return os.path.join(self.path, "_epoch_intent")

    def epoch_dirty(self) -> bool:
        import os

        return os.path.exists(self.intent_path)

    def mark_epoch_intent(self) -> None:
        import os
        import time
        import uuid

        tmp = f"{self.intent_path}.tmp.{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            f.write(str(time.time()))
        os.replace(tmp, self.intent_path)

    def clear_epoch_intent(self) -> None:
        import os

        try:
            os.remove(self.intent_path)
        except FileNotFoundError:
            pass

    def grow_buckets(self) -> dict:
        """Maintenance: grow every table whose rows passed its modulus
        (``SnapshotTable.grow``).  Returns {table: (old_n, new_n)} for the
        grown ones.  Run from the post-drain maintenance slot (with
        compact), never inside the per-epoch fold."""
        import os

        grown = {os.path.basename(t.path): t.grow() for t in self.tables()}
        return {name: g for name, g in grown.items() if g}


def fold_batch(
    index: DedupIndex,
    batch_df: DataFrame,
    tau: float = JACCARD_TAU,
    portable_ids: bool = False,
) -> None:
    """Fold one batch of documents into the index: emit its near-dup pairs
    and persist its raw + derived state.  Idempotent under replay; per-call
    cost is O(batch + matched file-buckets), never O(index).  This is the
    per-epoch body of stream_dedup, exposed so batch callers (periodic crawl
    drops) and the scale probe can drive it without a streaming query."""
    # O(batch) disjointness/replay check: one anti-join against the
    # compact doc registry, pruned to the file-buckets the batch's ids
    # hash into — never a corpus-wide distinct.  A replayed doc that was
    # fully folded (docs row present — docs is written LAST) drops out
    # here; a partially folded one is re-derived and every write below
    # is a keyed MERGE, so the replay completes the fold idempotently.
    new_ids = batch_df.select("doc_id").distinct()
    registered = index.docs.read(
        buckets=index.docs.buckets_of(new_ids, "doc_id")
    ).select("doc_id")
    fresh = new_ids.join(registered, "doc_id", "left_anti").localCheckpoint(eager=True)
    if fresh.first() is None:
        # fully registered batch: nothing to write.  The marker, if any, is
        # deliberately NOT cleared here — under availableNow replay the
        # fully-folded EARLIER batches redeliver before the crashed one, and
        # clearing on their behalf would hand the crashed epoch the append
        # path (duplicates).  A stale marker only costs ONE later epoch the
        # exact-MERGE path, which is always correct.
        return
    dirty = index.epoch_dirty()
    index.mark_epoch_intent()
    nsigs, ntoks = minhash_state(
        batch_df.join(fresh, "doc_id", "left_semi"), portable_ids=portable_ids
    )
    # each consumed by candidate gen AND the index fold: materialize once
    nsigs = nsigs.localCheckpoint(eager=True)
    ntoks = ntoks.localCheckpoint(eager=True)
    nbands = (
        banded_signatures(nsigs)
        .withColumn("sig_hash", F.xxhash64("band_sig"))
        .localCheckpoint(eager=True)
    )
    ngsets = doc_gsets(ntoks).localCheckpoint(eager=True)
    # candidate generation probes the PERSISTED derived state, reading
    # only the file-buckets the batch's band/gset fingerprints hash into —
    # per-epoch cost tracks the batch and its matched buckets, not the
    # index (the round-2 O(corpus)-rebanding fix).  The anti-joins against
    # `fresh` make a crash replay bit-identical: rows the interrupted
    # epoch already folded are excluded from the index side again.
    idx_bands = index.bands.read(
        buckets=index.bands.buckets_of(nbands, "sig_hash")
    ).join(fresh, "doc_id", "left_anti")
    idx_gsets = index.gsets.read(
        buckets=index.gsets.buckets_of(ngsets, "gset_hash")
    ).join(fresh, "doc_id", "left_anti")
    cand = incremental_candidates(
        nbands, ngsets, fresh, idx_bands, idx_gsets
    ).localCheckpoint(eager=True)
    # exact-Jaccard verify needs token sets only for the candidates'
    # STORED participants: fetch them bucket-pruned, batch side from
    # this epoch's frame
    stored_part = (
        cand.select(F.col("doc_a").alias("doc_id"))
        .unionByName(cand.select(F.col("doc_b").alias("doc_id")))
        .distinct()
        .join(fresh, "doc_id", "left_anti")
    )
    idx_toks = index.toks.read(
        buckets=index.toks.buckets_of(stored_part, "doc_id")
    ).join(stored_part, "doc_id", "left_semi")
    toks = ntoks.unionByName(idx_toks).withColumnRenamed("tok_id", "tok")
    new_pairs = jaccard_verify(cand, toks, tau=tau).localCheckpoint(eager=True)
    from plume_spark.functions.quantize import qround

    rounded = new_pairs.select(
        "doc_a", "doc_b", qround(F.col("jaccard"), 6).alias("jaccard")
    )
    # pairs first, registration last.  Clean epoch (no marker on entry):
    # every sink row derives from `fresh` docs, so its key cannot exist in
    # the index — plain appends, no index scan (a 1k-doc batch hashes into
    # EVERY bucket, so a pruned anti-join here would still read the whole
    # table; that scan was the residual O(index) term in the round-3 epoch
    # probe).  Crash-replay epoch (marker on entry): the previous fold may
    # have landed any subset of these rows — exact MERGE anti-joins within
    # the incoming keys' file-buckets make the replay a keyed no-op.
    if dirty:
        index.pairs.merge_insert(rounded, keys=["doc_a", "doc_b"], prune=True)
        index.sigs.merge_insert(nsigs, keys=["doc_id", "h"], prune=True)
        index.toks.merge_insert(ntoks, keys=["doc_id", "tok_id"], prune=True)
        # band/gset rows are deterministic per doc content, so a replayed
        # row always lands in its original bucket — including the hash
        # column in the MERGE key keeps the pruned anti-join exact
        index.bands.merge_insert(nbands, keys=["doc_id", "band", "sig_hash"], prune=True)
        index.gsets.merge_insert(ngsets, keys=["doc_id", "gset_hash"], prune=True)
    else:
        index.pairs.append(rounded.dropDuplicates(["doc_a", "doc_b"]))
        index.sigs.append(nsigs.dropDuplicates(["doc_id", "h"]))
        index.toks.append(ntoks.dropDuplicates(["doc_id", "tok_id"]))
        index.bands.append(nbands.dropDuplicates(["doc_id", "band", "sig_hash"]))
        index.gsets.append(ngsets.dropDuplicates(["doc_id", "gset_hash"]))
    index.docs.merge_insert(fresh, keys=["doc_id"], prune=True)
    index.clear_epoch_intent()


def stream_dedup(
    doc_stream: DataFrame,
    index: DedupIndex,
    checkpoint_dir: str,
    tau: float = JACCARD_TAU,
    portable_ids: bool = False,
) -> dict:
    """Drain all available document files (Trigger.AvailableNow), folding
    each epoch's batch into the index via fold_batch.

    Returns {"epochs", "docs_in", "pairs_new", "pairs_total"} counters
    (pairs_new is this drain's delta; pairs_total includes prior runs).  A
    long-lived deployment runs the identical query with a processing-time
    trigger; the index tables are ordinary snapshot tables, so batch
    fold_batch calls (or a compaction / expiry pass) can interleave with
    the stream."""
    progress = {"epochs": 0, "docs_in": 0}
    pairs_before = index.pairs.row_count()

    def _epoch(batch_df: DataFrame, epoch_id: int) -> None:
        n = batch_df.count()
        if n == 0:
            return
        progress["epochs"] += 1
        progress["docs_in"] += n
        fold_batch(index, batch_df, tau=tau, portable_ids=portable_ids)

    q = (
        doc_stream.writeStream.foreachBatch(_epoch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    progress["pairs_total"] = index.pairs.row_count()
    progress["pairs_new"] = progress["pairs_total"] - pairs_before
    # epoch MERGEs append small filesets; bin-pack them so scan cost tracks
    # data volume, not epoch count (same policy as ingest.stream_build).
    # grow_buckets first: a grown table is rewritten one-file-per-bucket, so
    # compact is a no-op on it
    if progress["epochs"]:
        progress["buckets_grown"] = index.grow_buckets()
        for t in index.tables():
            t.compact(min_files=1)
    return progress

"""Per-epoch cost of continuous dedup vs index size — the round-2 fix probe.

Folds a FIXED 1k-doc batch into DedupIndexes of growing size (1x/5x/20x the
sf documents table) and times (a) the stateless incremental_neardup path,
which re-bands the whole index per call, and (b) fold_batch, which probes
the persisted band/gset tables bucket-pruned.  Replicas are token-disjoint
(every token prefixed r<rep>_), so the batch's true-pair volume is constant
across index sizes and the timing isolates per-epoch overhead.

Prints one JSON line: {"probe": "dedup_epoch", "batch_docs": N,
"points": [{"index_docs": n, "fold_batch_sec": s, "stateless_sec": s}]}.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from plume_spark.operators import dedup
from plume_spark.session import get_spark
from plume_spark.streaming import DedupIndex, fold_batch

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def main() -> None:
    spark = get_spark("probe-dedup-epoch", master=f"local[{CPUS}]")
    spark.sparkContext.setLogLevel("ERROR")
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select("doc_id", "text")

    def salted(rep: int):
        """Token-disjoint replica with distinct ids — near-dups exist only
        WITHIN a replica (mirroring the base corpus), never across."""
        return docs.select(
            (F.col("doc_id") + F.lit(rep * 10_000_000)).alias("doc_id"),
            F.concat_ws(
                " ",
                F.transform(
                    F.split("text", " "), lambda t: F.concat(F.lit(f"r{rep}_"), t)
                ),
            ).alias("text"),
        )

    batch = salted(999).filter(F.col("doc_id") % 5 == 0).localCheckpoint(eager=True)
    batch_n = batch.count()
    bsigs, btoks = dedup.minhash_state(batch)
    bsigs = bsigs.localCheckpoint(eager=True)
    btoks = btoks.localCheckpoint(eager=True)

    reps_list = tuple(
        int(x) for x in os.environ.get("SPARK_GRAFT_PROBE_REPS", "1,5,20,60").split(",")
    )
    points = []
    for reps in reps_list:
        path = tempfile.mkdtemp(prefix=f"dedup-epoch-probe-{reps}x-")
        try:
            idx = DedupIndex(spark, path)
            for r in range(reps):
                fold_batch(idx, salted(r))
                # the stream_dedup maintenance slot: modulus growth keeps
                # rows-per-bucket bounded as the index ages, so the timed
                # probe below measures the steady-state layout a production
                # drain would be running against
                idx.grow_buckets()
            for t in idx.tables():
                t.compact(min_files=1)
            index_docs = idx.docs.row_count()
            n_buckets = {
                "toks": idx.toks.n_buckets,
                "bands": idx.bands.n_buckets,
                "gsets": idx.gsets.n_buckets,
            }

            # stateless path: re-bands the whole index's signatures per call
            t0 = time.time()
            stateless_pairs = dedup.incremental_neardup(
                idx.sigs.read(), idx.toks.read(), bsigs, btoks
            ).count()
            stateless_sec = round(time.time() - t0, 2)

            # indexed path: bucket-pruned probes of persisted derived state
            # (includes all six MERGE writes, which the stateless path skips)
            t0 = time.time()
            fold_batch(idx, batch)
            fold_sec = round(time.time() - t0, 2)

            points.append(
                {
                    "index_docs": index_docs,
                    "fold_batch_sec": fold_sec,
                    "stateless_sec": stateless_sec,
                    "batch_pairs": stateless_pairs,
                    "n_buckets": n_buckets,
                }
            )
            print(f"# {reps}x: {points[-1]}", file=sys.stderr)
        finally:
            shutil.rmtree(path, ignore_errors=True)

    print(
        json.dumps(
            {"probe": "dedup_epoch", "sf": SF_DIR, "batch_docs": batch_n, "points": points}
        )
    )


if __name__ == "__main__":
    main()

"""Per-partition lineage + resume-idempotent checkpointing.

Reference analogs:
* per-pass counters/timings logged at PlumeForkJoinParallelCpgPass.scala:78-111
  — made durable here as rows in the ``lineage`` table;
* incremental idempotency: artifact-hash early exit (CHANGELOG.md:694),
  unchanged-method skip (CHANGELOG.md:704), changed-files-only rebuild
  (CHANGELOG.md:179) — recast as: each unit of work (a conversation bucket)
  is identified by a deterministic ``input_hash``; a rerun anti-joins the
  work list against already-committed hashes and processes only the rest.

Combined with (a) deterministic entity/triple identity (xxhash64 ids) and
(b) MERGE-idempotent writes (store.merge_insert), a killed run re-executed
from the top produces byte-identical tables: work that committed is skipped,
work that didn't is redone, and redone work that half-wrote is deduplicated
by the merge keys.  Lineage is committed AFTER the data it describes, so a
crash between data-commit and lineage-commit only causes harmless rework.

Work units are conv_id hash-buckets (``pmod(xxhash64(conv_id), n_buckets)``)
— the same bucketing that partitions the Iceberg tables, so one unit maps to
one storage partition at cluster scale.
"""

from __future__ import annotations

import datetime as dt
import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from plume_spark.schemas import LINEAGE
from plume_spark.session import local_frame
from plume_spark.store.catalog import SnapshotTable

BUCKET_COL = "_bucket"
_UNIT_KEY = T.StructType([LINEAGE["partition_id"], LINEAGE["input_hash"]])


def with_bucket(transcripts: DataFrame, n_buckets: int) -> DataFrame:
    return transcripts.withColumn(
        BUCKET_COL, F.pmod(F.xxhash64("conv_id"), F.lit(n_buckets)).cast("int")
    )


def bucket_hashes(transcripts_bucketed: DataFrame) -> DataFrame:
    """(partition_id, input_hash, rows_in): order-insensitive content hash per
    bucket — ``bit_xor`` of per-row hashes (a partial/map-side-combinable
    aggregate), so shuffling or re-partitioning the input never changes the
    hash (resume keys must be physical-layout-free)."""
    return (
        transcripts_bucketed.groupBy(BUCKET_COL)
        .agg(
            F.hex(
                F.expr("bit_xor(xxhash64(conv_id, turn_idx, coalesce(text, '\\0')))")
            ).alias("input_hash"),
            F.count("*").alias("rows_in"),
        )
        .withColumnRenamed(BUCKET_COL, "partition_id")
    )


def committed_units(lineage: SnapshotTable, stage: str) -> DataFrame:
    """(partition_id, input_hash) pairs already committed for a stage.

    Read on the driver with pyarrow: lineage holds a few rows per unit and
    commit, so the pairs enter Spark as a local relation and the anti-join
    against them runs no job of its own (a Spark scan of the table cost two:
    its distinct and the broadcast of the result)."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    pairs: set[tuple[int, str]] = set()
    for f in lineage.files_for():
        t = pq.read_table(
            os.path.join(lineage.path, f),
            columns=["partition_id", "input_hash"],
            filters=pc.field("stage") == stage,
        )
        pairs.update(zip(t["partition_id"].to_pylist(), t["input_hash"].to_pylist()))
    return local_frame(lineage.spark, sorted(pairs), _UNIT_KEY)


def pending_units(
    units: DataFrame, lineage: SnapshotTable, stage: str
) -> DataFrame:
    """Anti-join the work list against committed lineage (A9 unchanged-input
    skip): only units whose (partition_id, input_hash) is unseen remain."""
    done = committed_units(lineage, stage)
    return units.join(done, ["partition_id", "input_hash"], "left_anti")


def commit_lineage(
    lineage: SnapshotTable,
    stage: str,
    units: list[tuple[int, str, int]],
    rows_out: int,
) -> None:
    """Durably record completed units: driver rows ``(partition_id,
    input_hash, rows_in)``, written as one local frame (no Spark job builds
    it; the append's write is the only one).  rows_out is a stage-level
    counter (the nDiff of the reference's pass log); every row of the commit
    carries the same UTC ``committed_at``."""
    now = dt.datetime.now(dt.timezone.utc)
    rows = [(stage, p, h, n, rows_out, now) for p, h, n in units]
    lineage.append(local_frame(lineage.spark, rows, LINEAGE))

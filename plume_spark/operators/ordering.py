"""Stable per-conversation turn ordering (W1/W2).

The reference materializes sibling order as data — the ``ORDER`` property
(SchemaBuilder.scala:28; semantics fixed in CHANGELOG.md:408-410) and
``ARGUMENT_INDEX`` (SchemaBuilder.scala:31).  Here the same role is played by
a window over (conv_id, turn_idx): physical row order is never trusted
(the generator deliberately shuffles it).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def ordered_turns(transcripts: DataFrame) -> DataFrame:
    """Add ``turn_rank`` = dense 0-based position of the turn within its
    conversation under the authoritative ordering (turn_idx; ts tiebreak)."""
    w = Window.partitionBy("conv_id").orderBy(F.col("turn_idx").asc(), F.col("ts").asc())
    return transcripts.withColumn("turn_rank", F.row_number().over(w) - 1)


def reassemble(transcripts: DataFrame) -> DataFrame:
    """(conv_id, joined_text): turns concatenated in stable order — the
    per-turn text-equality round-trip check (the analog of the reference's
    export -> import -> revalidate tests, TinkerGraphDbTests.scala:20-67)."""
    return (
        transcripts.groupBy("conv_id")
        .agg(
            F.concat_ws(
                "\n",
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("turn_idx", "text"))
                    ),
                    lambda s: s["text"],
                ),
            ).alias("joined_text")
        )
    )

"""Per-phase wall-time profile of the flagship scaled build — locates the
non-scaling component behind the N-vs-4N efficiency gap.  Usage:
    SPARK_GRAFT_CPUS=8 SPARK_GRAFT_SCALE_K=192 python scripts/profile_phases.py
Phases are forced sequentially (count() barriers), so phase sums slightly
exceed an uninstrumented run; compare the SAME phase across core counts."""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from plume_spark import graft
from plume_spark.operators.canonicalize import build_entities, canonicalize_triples
from plume_spark.operators.extraction import extract_changelog
from plume_spark.pipeline import triples_with_names, PipelineResult
from plume_spark.session import get_spark

CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "8"))
K = int(os.environ.get("SPARK_GRAFT_SCALE_K", "192"))
SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main():
    spark = get_spark(
        app_name="plume-profile", master=f"local[{CPUS}]", shuffle_partitions=CPUS
    )
    if os.environ.get("SPARK_GRAFT_WARMUP", "1") != "0":
        from bench import _warmup

        _warmup(spark, SF)
    t = graft.kg_transcripts_scaled(spark, SF, K)
    phases: dict[str, float] = {}

    t0 = time.time()
    changelog = extract_changelog(t)
    slim = changelog.select(
        "rec_kind", "conv_id", "turn_idx", "norm", "kind", "pred",
        "subj_norm", "subj_kind", "obj_norm", "obj_kind",
        "src_mention", "obj_mention",
    ).persist()
    n_slim = slim.count()
    phases["extract_persist"] = round(time.time() - t0, 2)

    mentions_slim = slim.filter(F.col("rec_kind") == "mention").select("norm", "kind")
    raw_triples = slim.filter(F.col("rec_kind") == "triple").select(
        "conv_id", "turn_idx", "subj_norm", "subj_kind", "pred",
        "obj_norm", "obj_kind", "src_mention", "obj_mention",
    )

    t0 = time.time()
    entities, norm_to_entity = build_entities(mentions_slim, 0.95)
    n_ent = entities.count()
    phases["build_entities"] = round(time.time() - t0, 2)

    t0 = time.time()
    triples = canonicalize_triples(raw_triples, norm_to_entity)
    res = PipelineResult(entities, triples, None)
    n_tr = triples_with_names(res).count()
    phases["canonicalize_count"] = round(time.time() - t0, 2)

    print(json.dumps({
        "cpus": CPUS, "k": K, "slim_rows": n_slim, "entities": n_ent,
        "triples": n_tr, "phases": phases,
        "total": round(sum(phases.values()), 2),
    }))


if __name__ == "__main__":
    main()

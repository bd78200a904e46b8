"""Deterministic synthetic transcript generator (FIXTURES.md F1).

Plants a known set of entity mentions and relations per conversation so the
golden triple set is computable exactly — the analog of the reference's
hand-built mini-graph fixture
(drivers/base/src/test/.../PlumeDriverFixture.scala:161-225).

Adversarial slices baked in (FIXTURES.md):
* alias variants of the same entity (exercises LSH linking + CC canonicalization)
* one hot entity ("OmniCorp") in ~10% of relation turns (exercises skew salting)
* shuffled physical row order (exercises the stable turn-ordering window)
* unicode + XML/JSON-hostile characters in filler text
* a separate quarantine fixture with malformed rows (rejects path)

Generation is DISTRIBUTED and seed-deterministic: ``mapInPandas`` over
``spark.range(n_convs)``, each conversation derived from ``(seed, conv_index)``
— scales to bench sizes without driver materialization, and the same rows are
produced regardless of partitioning.

Extraction grammar (the contract shared with tests/oracle.py and the
engine extractor — see plume_spark/operators/extraction.py):
* a mention is a maximal run of whitespace tokens whose first character is an
  uppercase ASCII letter (after stripping leading/trailing punctuation);
* between two consecutive mentions, the FIRST predicate keyword
  ("works at" -> works_at, "met" -> met, "uses" -> uses,
  "produces" -> produces, "visited" -> visited) yields a triple
  (left_mention, pred, right_mention); no keyword -> pred "mentions";
* kinds come from the predicate's canonical endpoint kinds
  (schemas.EDGE_CONSTRAINTS); a mention takes the kind of the first relation
  it participates in within the turn, else "entity".
"""

from __future__ import annotations

import datetime as dt
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from plume_spark.schemas import TRANSCRIPTS
from plume_spark.session import local_frame

# ---------------------------------------------------------------- lexicons

FIRST = ["Alice", "Bob", "Carol", "Dave", "Eve", "Frank", "Grace", "Heidi", "Ivan", "Judy"]
LAST = ["Smith", "Jones", "Nguyen", "Garcia", "Kim", "Patel", "Okafor", "Larsen"]

# alias groups: all surfaces in a group denote ONE canonical org.  Groups mix
# exact-norm duplicates (legal-suffix variants) with near-duplicates
# (abbreviations) so both exact and LSH linking paths are exercised.
ORG_ALIAS_GROUPS = [
    ["Acme Corp", "ACME Corporation", "Acme Incorporated", "Acme"],
    ["Globex Group", "Globex Grp", "Globex Group Inc"],
    ["Initech Ltd", "Initech", "INITECH LLC"],
    ["Umbrella Co", "Umbrella"],
    ["Stark Industries", "Stark Industries Inc"],
    ["Wayne Enterprises", "Wayne Enterprises Ltd"],
    ["Hooli", "Hooli Inc"],
    ["Soylent Corp", "Soylent"],
]
HOT_ORG = "OmniCorp"  # hot entity: ~10% of relation turns

TOOLS = ["Hammer3000", "DrillMaster", "QueryPad", "SparkLens", "GraphKit", "TraceScope"]
ARTIFACTS = ["Widget9", "GadgetX", "Blueprint7", "ReportQ4", "ModelZeta"]

FILLER = [
    "the meeting notes were reviewed and archived without changes",
    "please see the attached summary for more details",
    "no further action is required at this time",
    "résumé review complete — ümlaut & <xml> \"quotes\" 'apostrophes' {json: true} 日本語 ok",
    "follow up next week about the pending items",
    "that sounds good, let us proceed as planned",
]

TEMPLATES = [
    # (template, relation) — exactly one predicate keyword between mention pair
    ("yesterday {P} met {P2} in the lobby", ("met", "P", "P2")),
    ("{P} works at {O} these days", ("works_at", "P", "O")),
    ("{P} uses {T} for the analysis", ("uses", "P", "T")),
    ("{O} produces {A} every quarter", ("produces", "O", "A")),
    ("last month {P} visited {O} headquarters", ("visited", "P", "O")),
    ("{P} and {O} discussed the roadmap", ("mentions", "P", "O")),
]

ROLES = ["user", "assistant", "tool", "system"]
_EPOCH = dt.datetime(2025, 1, 1)


def _persons(rng: np.random.Generator, n: int) -> list[str]:
    return [f"{rng.choice(FIRST)} {rng.choice(LAST)}" for _ in range(n)]


def _gen_conv(conv_index: int, seed: int, max_turns: int) -> pd.DataFrame:
    """Generate one conversation deterministically from (seed, conv_index)."""
    rng = np.random.default_rng(np.random.SeedSequence([seed, conv_index]))
    conv_id = f"conv-{conv_index:08d}"
    n_turns = int(rng.integers(3, max_turns + 1))
    rows = []
    for t in range(n_turns):
        role = ROLES[int(rng.integers(0, len(ROLES)))]
        tool = TOOLS[int(rng.integers(0, len(TOOLS)))] if role == "tool" else None
        if rng.random() < 0.35:  # filler turn, no mentions
            text = FILLER[int(rng.integers(0, len(FILLER)))]
        else:
            tpl, (_pred, a, b) = TEMPLATES[int(rng.integers(0, len(TEMPLATES)))]
            slots: dict[str, str] = {}
            persons = _persons(rng, 2)
            slots["P"], slots["P2"] = persons[0], persons[1]
            # hot-entity skew: ~10% of relation turns use the hot org
            if rng.random() < 0.10:
                slots["O"] = HOT_ORG
            else:
                grp = ORG_ALIAS_GROUPS[int(rng.integers(0, len(ORG_ALIAS_GROUPS)))]
                slots["O"] = grp[int(rng.integers(0, len(grp)))]
            slots["T"] = TOOLS[int(rng.integers(0, len(TOOLS)))]
            slots["A"] = ARTIFACTS[int(rng.integers(0, len(ARTIFACTS)))]
            text = tpl.format(**slots)
        rows.append(
            {
                "conv_id": conv_id,
                "turn_idx": t,
                "role": role,
                "text": text,
                "tool": tool,
                "ts": _EPOCH + dt.timedelta(days=conv_index % 365, minutes=t),
            }
        )
    return pd.DataFrame(rows)


def generate_pandas(n_convs: int, seed: int = 42, max_turns: int = 10) -> pd.DataFrame:
    """Driver-local generation (unit tests / the pandas oracle)."""
    df = pd.concat([_gen_conv(i, seed, max_turns) for i in range(n_convs)], ignore_index=True)
    # shuffled physical order — consumers must NOT rely on row order
    return df.sample(frac=1.0, random_state=seed).reset_index(drop=True)


def generate_transcripts(
    spark: SparkSession, n_convs: int, seed: int = 42, max_turns: int = 10
) -> DataFrame:
    """Distributed generation: identical rows to ``generate_pandas`` for the
    same (n_convs, seed, max_turns), independent of partitioning."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            for conv_index in b["id"]:
                yield _gen_conv(int(conv_index), seed, max_turns)

    base = spark.range(n_convs).repartition(max(spark.sparkContext.defaultParallelism, 4))
    return base.mapInPandas(gen, schema=TRANSCRIPTS)


def quarantine_fixture(spark: SparkSession) -> DataFrame:
    """Malformed rows for the rejects path (FIXTURES.md): null/empty text,
    duplicate (conv_id, turn_idx), null conv_id."""
    rows = [
        ("conv-bad", 0, "user", None, None, _EPOCH),
        ("conv-bad", 1, "user", "", None, _EPOCH),
        ("conv-bad", 2, "user", "Alice Smith works at Acme Corp now", None, _EPOCH),
        ("conv-bad", 2, "user", "Alice Smith works at Acme Corp now", None, _EPOCH),
        (None, 0, "user", "some text", None, _EPOCH),
        ("conv-bad2", None, "user", "Bob Jones uses QueryPad daily", None, _EPOCH),
    ]
    return local_frame(spark, rows, TRANSCRIPTS)

"""Correctness checks that feed ``ops_ok_ratio``.

``Ledger`` counts every operation and every check a run attempts.  The
expected answers for reads come from ``Model``, a driver-side copy of a
store's entity ids and edge set, so a probe's answer is compared with the
stored rows rather than with another Spark query.
"""

from __future__ import annotations

import os
import sys
import traceback
from dataclasses import dataclass
from functools import cached_property

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


class Ledger:
    """Attempted and failed operations and checks of one run."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []

    def check(self, name: str, ok: bool, detail: object = "") -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(f"{name}: {detail}")
            print(f"perfbench check failed: {name}: {detail}", file=sys.stderr)
        return ok

    def run(self, name: str, fn) -> bool:
        """One operation; ``fn`` returns (answer, expected answer).  It fails
        if it raises or if the two differ."""
        try:
            got, want = fn()
        except Exception:  # noqa: BLE001 - a failed operation is counted, the run goes on
            self.attempted += 1
            self.failed += 1
            self.failures.append(f"{name}: raised")
            traceback.print_exc(file=sys.stderr)
            return False
        return self.check(name, got == want, f"got {got!r}, expected {want!r}")

    @property
    def ok_ratio(self) -> float:
        return (self.attempted - self.failed) / max(1, self.attempted)


def digest(df: DataFrame) -> tuple[int, str]:
    """Order-free content digest: row count and the sum of row hashes."""
    row = df.select(F.xxhash64(*df.columns).cast("decimal(38,0)").alias("h")).agg(
        F.count("*").alias("n"), F.sum("h").alias("s")
    ).first()
    return int(row["n"]), str(row["s"] or 0)


def store_digest(store) -> tuple:
    return digest(store.entities.read()), digest(store.triples.read())


def build_stats_ok(ledger: Ledger, label: str, stats: dict) -> None:
    ledger.check(f"{label}.kind_violations", stats.get("kind_violations") == 0, stats)
    ledger.check(f"{label}.vec_fallback_batches", stats.get("vec_fallback_batches") == 0, stats)


def stored_rows_ok(ledger: Ledger, label: str, model: Model, planted: dict) -> None:
    """Checks on a built store's rows, through its driver-side copy: no
    triple points at a missing entity, and the predicate histogram equals
    the one the generator planted, so every relation turn became exactly one
    triple."""
    dangling = model.dangling()
    ledger.check(f"{label}.dangling_edges", dangling == 0, f"{dangling} edges")
    got = model.pred_counts()
    ledger.check(f"{label}.planted_predicates", got == planted, f"{got} vs {planted}")


def resume_state_ok(ledger: Ledger, label: str, store, transcripts: DataFrame, n_buckets: int) -> None:
    """Checks on the resume bookkeeping after ``build_graph(transcripts,
    store)``: lineage holds every work unit of ``transcripts``, so a further
    build would find nothing pending, and the staging change log holds each
    record once (idempotent MERGE)."""
    from plume_spark.lineage import bucket_hashes, pending_units, with_bucket
    from plume_spark.pipeline import staging_table

    units = bucket_hashes(with_bucket(transcripts, n_buckets))
    left = pending_units(units, store.lineage, "extract").count()
    ledger.check(f"{label}.nothing_pending", left == 0, f"{left} units")
    row = staging_table(store).read().agg(
        F.count("*").alias("n"), F.countDistinct("rec_id").alias("ids")
    ).first()
    ledger.check(f"{label}.changelog_unique", row["n"] == row["ids"], row)


def top_predicates(store) -> list[tuple[str, int]]:
    """The CLI's ``query --top-predicates`` aggregate."""
    rows = store.triples.read().groupBy("pred").count().orderBy(F.desc("count")).collect()
    return [(r["pred"], int(r["count"])) for r in rows]


@dataclass
class Model:
    """Driver-side copy of a store: entity ids and kinds, and triple keys."""

    entities: pd.DataFrame  # entity_id, kind
    edges: pd.DataFrame  # subj, pred, obj, n (rows per key)

    @classmethod
    def of(cls, store) -> Model:
        ents = store.entities.read().select("entity_id", "kind").toPandas()
        edges = (
            store.triples.read().groupBy("subj", "pred", "obj").agg(F.count("*").alias("n")).toPandas()
        )
        return cls(ents, edges)

    def kind_counts(self) -> dict[str, int]:
        return self.entities["kind"].value_counts().to_dict()

    def pred_counts(self) -> dict[str, int]:
        return self.edges.groupby("pred")["n"].sum().astype(int).to_dict()

    def dangling(self) -> int:
        """Triple rows whose subject or object is not a stored entity."""
        ids = self.entities["entity_id"]
        bad = ~self.edges["subj"].isin(ids) | ~self.edges["obj"].isin(ids)
        return int(self.edges.loc[bad, "n"].sum())

    @cached_property
    def adjacency(self) -> dict[int, set[int]]:
        return self.edges.groupby("subj")["obj"].apply(set).to_dict()

    def k_hop(self, seed: int, k: int) -> int:
        """Size of the exactly-``k``-hop frontier from one node."""
        frontier = {seed}
        for _ in range(k):
            frontier = set().union(*(self.adjacency.get(n, set()) for n in frontier))
        return len(frontier)

    def probes(self, rng: np.random.Generator, n: int) -> dict[str, list]:
        """Read targets with known answers: present and absent node ids,
        present edges, and reversed edges that are not in the store."""
        ids = self.entities["entity_id"].to_numpy()
        idset = set(ids.tolist())
        absent = [int(x) for x in rng.integers(-(2**62), 2**62, 4 * n) if int(x) not in idset][:n]
        keys = set(zip(self.edges["subj"], self.edges["pred"], self.edges["obj"]))
        e = self.edges[["subj", "pred", "obj"]].to_numpy()
        rev = [(int(o), p, int(s)) for s, p, o in e if (o, p, s) not in keys]
        present = e[rng.choice(len(e), n)]
        with_out = np.unique(self.edges["subj"].to_numpy())
        return {
            "node_present": [int(x) for x in rng.choice(ids, n)],
            "node_absent": absent,
            "edge_present": [(int(s), p, int(o)) for s, p, o in present],
            "edge_reversed": [rev[i] for i in rng.choice(len(rev), n)] if rev else [],
            "kinds": sorted(self.kind_counts()),
            "seeds": [int(x) for x in rng.choice(with_out, n)],
        }


def table_bytes(store) -> int:
    """Bytes of the data files every table of the store currently holds."""
    total = 0
    for name in store.catalog.tables():
        t = store.catalog.table(name)
        total += sum(os.path.getsize(os.path.join(t.path, p)) for p in t.files_for())
    return total

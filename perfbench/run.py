"""Benchmark of the knowledge-graph build and of reads from its store.

    python3 perfbench/run.py --workload turns --seed 1 --seconds 8 --trace 0

Run from the root of a checkout.  A run is one fresh driver process with
Spark at ``local[2]`` and one closed-loop client that issues one call at a
time:

1. set-up: start the session, then generate the seeded inputs (a base table
   and two deltas of new conversations) and write them as parquet.
2. cold build: ``build_graph(base)`` into an empty store, the first build of
   the JVM, then the checks on the built store.
3. reads for ``--seconds``: point lookups (present and absent node ids,
   present and reversed edges), queries (``property_from_nodes`` and the
   CLI's top-predicates aggregate) and 2-hop traversals, interleaved
   round-robin in whole cycles, after one untimed cycle and a JVM and a
   Python GC.

``--trace 0`` prints the end-to-end metrics.  ``--trace 1`` prints the
per-layer metrics instead (see ``traced_run``).  The last stdout line is the
result object; the line before it records the load average and steal before
and after the run, the wall time of each step, the build and read CPU, and
the read latencies.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import sys
import time
from collections import Counter
from contextlib import nullcontext
from itertools import islice
from dataclasses import dataclass

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MASTER = "local[2]"
N_BUCKETS = 64  # build_graph's default work-unit count
PROBES = 64  # probe targets drawn per read class
# One round-robin read cycle.  Lookups get most slots, so the lookup
# percentiles have the most samples; every class runs in every cycle, so
# drift within a run hits all classes alike.  "ref" counts a one-row range:
# an aggregate job, like a lookup's, that touches no store, run in a session
# that has none of the program's SQL settings.  On a shared host every Spark
# call slows with the host, so each read latency is reported over the median
# reference latency of its own cycle (see NOTES.md); every third or fourth
# slot is a reference call, so that median follows the host closely.
CYCLE = (
    "ref", "node_present", "edge_present", "property_from_nodes",
    "ref", "node_absent", "edge_reversed",
    "ref", "k_hop", "node_present",
    "ref", "edge_present", "top_predicates", "node_absent",
    "ref", "edge_reversed", "property_from_nodes",
    "ref", "node_present", "edge_present",
    "ref", "node_absent", "edge_reversed", "top_predicates",
)
PER_CYCLE = Counter(CYCLE)
# untimed, one call of every code path: absent probes take the same path as
# present ones (see scanning_absent_probes)
WARMUP = tuple(c for c in PER_CYCLE if c not in ("node_absent", "edge_reversed"))
MIN_CYCLES = 2
# absent node ids kept for the timed reads of MIN_CYCLES cycles; later
# cycles wrap around
ABSENT_IDS = MIN_CYCLES * PER_CYCLE["node_absent"]
LOOKUPS = ("node_present", "node_absent", "edge_present", "edge_reversed")
QUERIES = ("property_from_nodes", "top_predicates")


@dataclass(frozen=True)
class Workload:
    name: str
    style: str  # conversation style in gen.py
    base_convs: int
    delta_convs: int
    persons: int = 0  # generated vocabulary size (vocab style only)
    orgs: int = 0


# 200 new conversations touch about 61 of the 64 conv-hash work units, so an
# append re-extracts nearly every unit; the useful-work ratios report it.
WORKLOADS = {
    # 3-10 turns per conversation over ~100 entities: ~20k turns to extract,
    # while linking sees a ~100-norm dictionary
    "turns": Workload("turns", "turns", 3000, 200),
    # two relation turns per conversation over a generated vocabulary of
    # ~19k distinct norms: linking and canonicalization take a larger share
    # of the build than on turns, extraction a smaller one
    "vocab": Workload("vocab", "vocab", 8000, 200, persons=16000, orgs=8000),
}


# ------------------------------------------------------------------ set-up


def _prepare_env(work: str) -> None:
    """Keep every file Spark, the JVM and Python workers write inside the
    checkout, and let the workers import the program from it."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # -XX:-UsePerfData: HotSpot writes its perf-counter file to /tmp whatever
    # java.io.tmpdir says
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"


def start_session(work: str):
    from plume_spark import get_spark

    spark = get_spark(
        app_name="perfbench",
        master=MASTER,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and the JVM it runs in, and wait until every process this
    run started has exited."""
    from perfbench.trace import descendants

    gateway = spark.sparkContext._gateway
    started = set(descendants(os.getpid())) - {os.getpid()}
    spark.stop()
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF
        proc.wait(timeout=60)
    # Python workers the JVM started are reparented when it exits, so wait on
    # the recorded pids themselves rather than on this process's descendants
    deadline = time.monotonic() + 30
    while alive := {pid for pid in started if _running(pid)}:
        if time.monotonic() > deadline:
            for pid in alive:
                os.kill(pid, 9)
        time.sleep(0.1)


def _running(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            state = f.read().rsplit(")", 1)[1].split()[0]
    except (OSError, IndexError):
        return False
    return state not in ("Z", "X")


def make_inputs(wl: Workload, seed: int, out: str) -> dict:
    """Generate and write the base and two deltas of ``delta_convs`` new
    conversations each.  ``planted[k]`` is the predicate histogram of the
    first ``k + 1`` parts."""
    from perfbench import gen

    os.makedirs(out, exist_ok=True)
    vocab = gen.make_vocabulary(seed, wl.persons, wl.orgs) if wl.style == "vocab" else None
    paths, sizes, turns, planted = [], [], [], []
    first, hist = 0, {}
    for part, n in enumerate((wl.base_convs, wl.delta_convs, wl.delta_convs)):
        table, h = gen.conversations(wl.style, seed, part, first, n, vocab)
        paths.append(os.path.join(out, f"part{part}.parquet"))
        sizes.append(gen.write(table, paths[-1]))
        turns.append(table.num_rows)
        hist = gen.merge_counts(hist, h)
        planted.append({k: v for k, v in hist.items() if v})
        first += n
    return {"paths": paths, "bytes": sizes, "turns": turns, "planted": planted}


# ------------------------------------------------------------------ reads


def reference_session(spark):
    """A session on the same JVM whose SQL settings are Spark's defaults:
    every modifiable ``spark.sql.*`` setting the program's ``get_spark``
    put into the Spark conf (adaptive execution, shuffle partitions, Arrow,
    broadcast threshold, ...) is unset, so a change to those settings moves
    the reads and not the reference call they are divided by."""
    ref = spark.newSession()
    for key, _ in spark.sparkContext.getConf().getAll():
        if key.startswith("spark.sql.") and ref.conf.isModifiable(key):
            ref.conf.unset(key)
    return ref


def scanning_absent_probes(store, probes: dict) -> dict:
    """The absent node ids and reversed edges whose point lookup opens at
    least one file.

    ``node_exists`` and ``edge_exists`` skip files by bucket and by min/max
    stats.  An absent id or edge that every file rules out takes another
    path, an empty frame, which measured about 1.5 times slower than a scan.
    Random draws mix the two paths in a share that changes from seed to seed
    (about one id in seven on ``turns``, almost none on ``vocab``), and that
    share moved the lookup p90 by up to a fifth between runs, so every run
    probes the scan path only.  Each node id's bucket costs one Spark job,
    so only ``ABSENT_IDS`` ids are kept."""
    ents, tris = store.entities, store.triples
    nodes = (e for e in probes["node_absent"] if ents.files_for(point={"entity_id": e}))
    return {
        "node_absent": list(islice(nodes, ABSENT_IDS)),
        "edge_reversed": [
            (s, p, o) for s, p, o in probes["edge_reversed"]
            if tris.files_for(point={"pred": p, "subj": s})
        ],
    }


def read_ops(spark, store, model, probes) -> dict:
    """Read class -> callable(probe index) returning (answer, expected)."""
    from perfbench.checks import top_predicates
    from plume_spark.operators.traversal import k_hop

    kinds = model.kind_counts()
    preds = model.pred_counts()

    def node(key):
        ids = probes[key]
        return lambda i: (store.node_exists(ids[i % len(ids)]), key == "node_present")

    def edge(key):
        es = probes[key]

        def op(i):
            s, p, o = es[i % len(es)]
            return store.edge_exists(s, o, p), key == "edge_present"

        return op

    def pfn(i):
        kind = probes["kinds"][i % len(probes["kinds"])]
        return store.property_from_nodes(kind, "canonical_name").count(), kinds[kind]

    def top(i):
        got = top_predicates(store)
        ordered = all(a[1] >= b[1] for a, b in zip(got, got[1:]))
        return (dict(got), ordered), (preds, True)

    def hop(i):
        seed = probes["seeds"][i % len(probes["seeds"])]
        seeds = spark.createDataFrame([(seed,)], "node long")
        return k_hop(store.triples.read(), seeds, 2).count(), model.k_hop(seed, 2)

    ref_spark = reference_session(spark)

    def ref(i):
        return ref_spark.range(1).groupBy().count().first()[0], 1

    return {
        "ref": ref,
        "node_present": node("node_present"),
        "node_absent": node("node_absent"),
        "edge_present": edge("edge_present"),
        "edge_reversed": edge("edge_reversed"),
        "property_from_nodes": pfn,
        "top_predicates": top,
        "k_hop": hop,
    }


def read_burst(
    spark, ops, ledger, seconds: float, min_cycles: int, tracer=None
) -> dict[str, list[float]]:
    """Whole round-robin cycles of reads, at least ``min_cycles`` and more
    until ``seconds`` have passed, so every run reads the classes in the same
    proportions; returns per-class latencies in ms."""
    # an untimed call of every code path first: read plans are compiled
    # before anything is timed
    for cls in WARMUP:
        ledger.run(f"warmup.{cls}", lambda: ops[cls](0))
    gc.collect()
    spark.sparkContext._jvm.System.gc()
    lat: dict[str, list[float]] = {cls: [] for cls in ops}
    start, cycles = time.perf_counter(), 0
    while cycles < min_cycles or time.perf_counter() - start < seconds:
        for cls in CYCLE:
            i = len(lat[cls]) + 1
            with tracer.span(f"read.{cls}") if tracer else nullcontext():
                t = time.perf_counter()
                ledger.run(f"read.{cls}", lambda: ops[cls](i))
                lat[cls].append((time.perf_counter() - t) * 1000.0)
        cycles += 1
    return lat


def relative(lat: dict[str, list[float]]) -> dict[str, list[float]]:
    """Each read latency of ``read_burst`` over the median latency of the
    reference calls in the same cycle."""
    n_ref = PER_CYCLE["ref"]
    den = [statistics.median(lat["ref"][i : i + n_ref]) for i in range(0, len(lat["ref"]), n_ref)]
    return {
        cls: [x / den[j // PER_CYCLE[cls]] for j, x in enumerate(xs)]
        for cls, xs in lat.items() if cls != "ref"
    }


# ------------------------------------------------------------------ the run


class Run:
    """State of one run: session, inputs, ledger, optional tracer."""

    def __init__(self, wl: Workload, seed: int, trace: bool, work: str):
        from perfbench.checks import Ledger
        from perfbench.trace import JobCounter, Tracer

        self.wl, self.seed, self.work = wl, seed, work
        self.ledger = Ledger()
        self.walls: dict[str, float] = {}  # wall time of each step
        self.cpu: dict[str, float] = {}  # process-tree CPU seconds of untraced builds
        self.host_cpu: dict[str, float] = {}  # CPU seconds of the whole host, same builds
        self.lat: dict[str, list[float]] = {}  # read latencies, ms
        self._last = time.perf_counter()
        self.spark = start_session(work)
        self.get_spark_s = time.perf_counter() - self._last
        self.jobs = JobCounter(self.spark.sparkContext)
        self.tracer = Tracer(self.jobs) if trace else None

    def mark(self, label: str) -> None:
        now = time.perf_counter()
        self.walls[label] = now - self._last
        self._last = now

    def setup(self) -> float:
        """Generate and write the inputs; returns setup_s, the session start
        plus the input set-up."""
        self.inputs = make_inputs(self.wl, self.seed, os.path.join(self.work, "inputs"))
        self.mark("setup")
        return self.walls["setup"]

    def transcripts(self, parts: int):
        """The first ``parts`` input files as the program's transcript table."""
        from plume_spark.schemas import TRANSCRIPTS

        return self.spark.read.schema(TRANSCRIPTS).parquet(*self.inputs["paths"][:parts])

    def build(
        self, label: str, parts: int, store, phase: str | None = None,
        check: bool = True, resume_check: bool = False,
    ) -> float:
        """``build_graph`` over the first ``parts`` inputs, then (``check``)
        the checks on the stored rows and (``resume_check``) on the resume
        bookkeeping; traced when ``phase`` is given.  Returns the build's
        wall seconds."""
        from perfbench import checks
        from perfbench.trace import host_cpu_s, noise_reading, tree_cpu_s
        from plume_spark.pipeline import build_graph

        df = self.transcripts(parts)
        if phase is None:
            n, c, t = noise_reading(), tree_cpu_s(), time.perf_counter()
            stats = build_graph(df, store, n_buckets=N_BUCKETS)
            wall = time.perf_counter() - t
            self.cpu[label] = tree_cpu_s() - c
            self.host_cpu[label] = host_cpu_s(n, noise_reading())
        else:
            from perfbench.layers import instrument

            self.tracer.phase(phase)
            with instrument(self.tracer), self.tracer.span("pipeline.build_graph") as s:
                stats = build_graph(df, store, n_buckets=N_BUCKETS)
            wall = s.seconds
        self.mark(label)
        checks.build_stats_ok(self.ledger, label, stats)
        if check:
            from perfbench.checks import Model

            self.model = Model.of(store)
            checks.stored_rows_ok(self.ledger, label, self.model, self.inputs["planted"][parts - 1])
        if resume_check:
            checks.resume_state_ok(self.ledger, label, store, df, N_BUCKETS)
        if check or resume_check:
            self.mark(f"{label}_checks")
        return wall

    def reads(self, store, seconds: float, min_cycles: int = MIN_CYCLES) -> dict[str, list[float]]:
        """Reads on ``store``, answered against the model its last checked
        build collected."""
        import numpy as np

        self.probes = self.model.probes(np.random.default_rng([self.seed, 7]), PROBES)
        self.probes.update(scanning_absent_probes(store, self.probes))
        ops = read_ops(self.spark, store, self.model, self.probes)
        self.mark("model")
        if self.tracer is not None:
            self.tracer.phase("reads")
        lat = read_burst(self.spark, ops, self.ledger, seconds, min_cycles, self.tracer)
        self.mark("reads")
        self.lat = {k: [round(x, 1) for x in v] for k, v in lat.items()}
        return lat


def timed_run(r: Run, seconds: float) -> dict:
    """Cold build, then reads: the end-to-end metrics."""
    import numpy as np

    from perfbench import checks
    from plume_spark.store.graph import GraphStore

    setup_s = r.setup()
    store = GraphStore(r.spark, os.path.join(r.work, "store"))
    cold_s = r.build("cold", 1, store)
    store_ratio = checks.table_bytes(store) / r.inputs["bytes"][0]
    rel = relative(r.reads(store, seconds))
    lookups = [x for c in LOOKUPS for x in rel[c]]
    # the two query classes cost differently: a median pooled over both lands
    # between their modes, so take each class's median and average them
    query = statistics.mean(statistics.median(rel[c]) for c in QUERIES)
    e2e = {
        "setup_s": (setup_s, "s"),
        "cold_build_s": (cold_s, "s"),
        "lookup_p50_ref": (float(np.percentile(lookups, 50)), "ratio"),
        "lookup_p90_ref": (float(np.percentile(lookups, 90)), "ratio"),
        "query_p50_ref": (query, "ratio"),
        "traverse_p50_ref": (statistics.median(rel["k_hop"]), "ratio"),
        "store_bytes_per_input_byte": (store_ratio, "ratio"),
        "ops_ok_ratio": (r.ledger.ok_ratio, "ratio"),
    }
    return {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}


def traced_run(r: Run, seconds: float) -> dict:
    """Per-layer metrics.  The cold build is traced.  The first append runs
    untraced, in one job group: it gives the job, stage and CPU counts and
    the tracing baseline.  The second append, of as many new conversations,
    is traced (the "warm" phase).  A fresh build of the same rows must then
    equal the appended store (the resume contract).  One cycle of reads is
    traced."""
    from perfbench import checks
    from perfbench.layers import LAYERS
    from plume_spark.store.graph import GraphStore

    out = {}
    r.setup()
    out["session.get_spark_s"] = r.get_spark_s
    store = GraphStore(r.spark, os.path.join(r.work, "store"))
    r.build("cold", 1, store, phase="cold")
    with r.jobs.group("pipeline") as gid:
        baseline_s = r.build("append", 2, store, check=False)
    out["pipeline.cpu_s"] = r.cpu["append"]
    out["pipeline.jobs"], out["pipeline.stages"] = r.jobs.resolve(gid)
    out["pipeline.append_s"] = baseline_s
    out["trace.traced_build_s"] = r.build("warm", 3, store, phase="warm", resume_check=True)
    out["trace.overhead_s"] = out["trace.traced_build_s"] - baseline_s
    fresh = GraphStore(r.spark, os.path.join(r.work, "fresh"))
    out["pipeline.fresh_build_s"] = r.build("fresh", 3, fresh, check=False)
    da, db = checks.store_digest(store), checks.store_digest(fresh)
    r.ledger.check("appended_equals_fresh_build", da == db, f"{da} vs {db}")
    r.mark("digests")
    r.reads(store, 0, min_cycles=1)  # one traced cycle: the spans give per-call medians
    r.tracer.resolve_jobs()
    # a renamed or inlined layer function would read as a layer that costs
    # nothing: the run is not correct unless every hook found its target
    # and every layer ran in the cold build
    r.ledger.check("hooks_found", not r.tracer.missing, r.tracer.missing)
    silent = sorted(set(LAYERS) - set(r.tracer.by_layer("cold")))
    r.ledger.check("layers_traced", not silent, silent)
    out.update(layer_metrics(r, store))
    write_trace(r.tracer, r.wl, r.seed)
    units = per_layer_units()
    if set(out) != set(units):
        raise RuntimeError(f"per-layer metrics differ: {sorted(set(out) ^ set(units))}")
    return {k: {"value": v, "unit": units[k]} for k, v in out.items()}


def layer_metrics(r: Run, store) -> dict:
    """Per-layer numbers from the spans of a traced run."""
    from perfbench.layers import LAYERS
    from plume_spark.lineage import BUCKET_COL, with_bucket

    tracer = r.tracer
    out: dict = {}
    cold, warm = tracer.by_layer("cold"), tracer.by_layer("warm")
    empty = {"self_s": 0.0, "jobs": 0, "stages": 0}
    for layer in LAYERS:
        out[f"{layer}_s"] = warm.get(layer, empty)["self_s"]
        out[f"{layer}_cold_s"] = cold.get(layer, empty)["self_s"]
        out[f"{layer}.jobs"] = warm.get(layer, empty)["jobs"]
        out[f"{layer}.stages"] = warm.get(layer, empty)["stages"]

    def attr(name, key, phase="warm"):
        return sum(a.get(key, 0) for a in tracer.attrs(name, phase))

    extract_s = warm.get("extraction.extract", empty)["self_s"]
    pending_turns = attr("lineage.pending", "turns")
    out["extraction.changelog_rows"] = attr("extraction.extract", "rows")
    out["extraction.turns_per_s"] = pending_turns / max(extract_s, 1e-9)
    out["extraction.vec_fallback_batches"] = sum(
        attr("extraction.extract", "fallback", ph) for ph in ("cold", "warm")
    )
    out["linking.norms"] = attr("linking.kernel", "norms")
    out["linking.pairs"] = attr("linking.kernel", "pairs")
    out["components.components"] = attr("components.cc", "components")
    out["canonicalize.entities"] = attr("canonicalize.build_entities", "entities")

    pending = attr("lineage.pending", "units")
    delta = r.spark.read.parquet(r.inputs["paths"][2])
    changed = with_bucket(delta, N_BUCKETS).select(BUCKET_COL).distinct().count()
    out["pipeline.units_total"] = attr("lineage.pending", "units", "cold")
    out["pipeline.units_pending"] = pending
    out["pipeline.useful_unit_ratio"] = changed / max(pending, 1)
    out["pipeline.useful_turn_ratio"] = r.inputs["turns"][2] / max(pending_turns, 1)
    writes = ("catalog.append", "catalog.overwrite")
    out["catalog.files_written"] = sum(attr(n, "files") for n in writes)
    out["catalog.bytes_written"] = sum(attr(n, "bytes") for n in writes)

    reads = [s for s in tracer.spans if s.name.startswith("read.")]

    def ms(*classes):
        return statistics.median(s.seconds * 1000.0 for s in reads if s.name[5:] in classes)

    hops = [s for s in reads if s.name == "read.k_hop"]
    out["graph.node_exists_ms"] = ms("node_present", "node_absent")
    out["graph.edge_exists_ms"] = ms("edge_present", "edge_reversed")
    out["graph.property_from_nodes_ms"] = ms("property_from_nodes")
    out["graph.jobs_per_lookup"] = statistics.mean(s.jobs for s in reads if s.name[5:] in LOOKUPS)
    out["catalog.files_per_lookup"] = files_per_lookup(store, r.probes)
    out["graph.ref_job_ms"] = ms("ref")
    out["traversal.k_hop_ms"] = ms("k_hop")
    seeds = r.probes["seeds"]
    out["traversal.frontier_rows"] = statistics.mean(
        r.model.k_hop(seeds[i % len(seeds)], 2) for i in range(1, len(hops) + 1)
    )
    out["traversal.jobs"] = statistics.mean(s.jobs for s in hops)
    return out


def files_per_lookup(store, probes) -> float:
    """Share of a table's files that ``files_for(point=...)`` keeps for the
    point lookups ``node_exists`` and ``edge_exists`` make, averaged over
    eight present node ids and eight present edges."""
    n_ent = max(len(store.entities.files_for()), 1)
    n_tri = max(len(store.triples.files_for()), 1)
    shares = [
        len(store.entities.files_for(point={"entity_id": e})) / n_ent
        for e in probes["node_present"][:8]
    ]
    shares += [
        len(store.triples.files_for(point={"pred": p, "subj": s})) / n_tri
        for s, p, _ in probes["edge_present"][:8]
    ]
    return statistics.mean(shares)


def per_layer_units() -> dict[str, str]:
    """Name -> unit of every metric a traced run prints."""
    from perfbench.layers import LAYERS

    units = {"session.get_spark_s": "s"}
    for layer in LAYERS:
        units.update({
            f"{layer}_s": "s", f"{layer}_cold_s": "s",
            f"{layer}.jobs": "count", f"{layer}.stages": "count",
        })
    units.update({
        "extraction.turns_per_s": "1/s",
        "extraction.changelog_rows": "count",
        "extraction.vec_fallback_batches": "count",
        "linking.norms": "count",
        "linking.pairs": "count",
        "components.components": "count",
        "canonicalize.entities": "count",
        "pipeline.units_total": "count",
        "pipeline.units_pending": "count",
        "pipeline.useful_unit_ratio": "ratio",
        "pipeline.useful_turn_ratio": "ratio",
        "pipeline.append_s": "s",
        "pipeline.fresh_build_s": "s",
        "pipeline.jobs": "count",
        "pipeline.stages": "count",
        "pipeline.cpu_s": "s",
        "catalog.files_written": "count",
        "catalog.bytes_written": "bytes",
        "graph.node_exists_ms": "ms",
        "graph.edge_exists_ms": "ms",
        "graph.property_from_nodes_ms": "ms",
        "graph.jobs_per_lookup": "count",
        "graph.ref_job_ms": "ms",
        "catalog.files_per_lookup": "ratio",
        "traversal.k_hop_ms": "ms",
        "traversal.frontier_rows": "count",
        "traversal.jobs": "count",
        "trace.traced_build_s": "s",
        "trace.overhead_s": "s",
    })
    return units


def write_trace(tracer, wl: Workload, seed: int) -> None:
    """Write the spans of a traced run, kept in memory until now."""
    out = os.path.join(ROOT, ".perfbench", "traces")
    os.makedirs(out, exist_ok=True)
    with open(os.path.join(out, f"{wl.name}-{seed}.json"), "w") as f:
        json.dump({"missing_hooks": tracer.missing, "spans": tracer.dump()}, f)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "plume_spark")):
        print(f"perfbench: no plume_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.trace import noise_reading

    work = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    _prepare_env(work)
    before = noise_reading()
    try:
        r = Run(WORKLOADS[args.workload], args.seed, bool(args.trace), work)
        try:
            metrics = (traced_run if args.trace else timed_run)(r, args.seconds)
        finally:
            stop_session(r.spark)
            r.mark("stop")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    record = {
        "workload": args.workload, "seed": args.seed, "walls": r.walls, "cpu": r.cpu,
        "host_cpu": r.host_cpu,
        "latency_ms": r.lat, "failures": r.ledger.failures[:20],
        "noise": {"before": before, "after": noise_reading()},
    }
    print(json.dumps({"run": record}))
    print(json.dumps({
        "correct": r.ledger.failed == 0,
        "attempted": r.ledger.attempted,
        "failed": r.ledger.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())

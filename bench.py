"""Benchmark harness (the reference's JMH write+read suite recast,
src/main/scala/com/github/plume/oss/Benchmark.scala:20-77).

Default mode: run the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS]; print ONE JSON line
  {"metric": ..., "value": sec, "unit": "sec", "queries": {...}, "sf": ...}

--scaling: run the flagship KG build at two parallelism levels (local[8] vs
local[32]) in FRESH subprocesses (fresh JVM per level, like JMH forks) and
report throughput + scaling efficiency — the sandbox proxy for the N vs 4N
executor-cluster criterion (see BENCH.md).

--write: full persist-path benchmark (build_graph into a cold snapshot store,
cleared per iteration) — the GraphWriteBenchmark analog.

--explain: print formatted physical plans of headline queries for inspection.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

# headline subset: the flagship e2e build + one per operator family
# (kg_build_distlink = same flagship with the driver-link kernel off — keeps
# the distributed LSH linking path honest at bench scale)
HEADLINE = [
    "kg_build_triples",
    "kg_build_distlink",
    "kg_extract_raw",
    "dedup_exact",
    "dedup_minhash_lsh",
    # LSH buckets + blocked cosine pairs over the embeddings table
    "dedup_embedding_cosine",
    "j7_two_hop",
    "a1_group_sum",
    "w1_turn_ordering",
    # round-3 additions: one per operator family added in round 2, so
    # regressions are visible in per-round diffs (VERDICT r2 item 8)
    "g3_triangles",
    "t1_asof_join",
    "t2_range_join",
    "w3_sessionize",
    "w4_sliding_rate",
    # round-3 late additions: one per family added this round (same
    # regression-visibility policy); the stream_* and kg-analytics queries
    # re-run the full flagship/persist path and are tracked via the
    # flagship + --write benches instead of doubling suite time here
    "g7_kcore",
    # round-4 additions: one per family added this round (same policy) —
    # the lift/PMI shared-groups fold and the day-partitioned sweep line
    "g11_edge_lift",
    "w9_peak_concurrency",
    # round-4 session-2 additions (same one-per-family policy): the second
    # iterative spectral ranking and the explode-rewrite rolling distinct;
    # the varied-substrate kg_* queries re-run a full pipeline build and
    # are covered by the flagship benches
    "g12_hits",
    "w13_rolling_active",
    # round-4 session-3 additions (same policy): the fixed-point
    # link-prediction wedge fold, the seeded sparse PPR loop, and the
    # touch-attribution range join; kg_neg_samples re-runs the flagship
    # build and is covered by the flagship benches
    "g13_linkpred_ra",
    "g14_ppr",
    "w19_attribution",
]


SCALE_K = int(os.environ.get("SPARK_GRAFT_SCALE_K", "8"))


def _kg_build_scaled(spark, sf_dir):
    """Flagship pipeline over the k-fold replicated transcript set — the
    scaling-efficiency substrate (see graft.kg_transcripts_scaled: parallel
    work grows k-fold, input stays deterministic and identical across
    parallelism levels).  Bench-only: not part of the driver contract."""
    from plume_spark import graft
    from plume_spark.pipeline import run_pipeline, triples_with_names

    t = graft.kg_transcripts_scaled(spark, sf_dir, SCALE_K)
    return triples_with_names(run_pipeline(t, tau=0.95))


def _kg_build_distlink(spark, sf_dir):
    """Flagship pipeline with the driver-local linking kernel DISABLED — the
    unbounded-dictionary fallback (distributed LSH + verify + CC) measured at
    bench scale, not just unit-test scale.  The path decision happens eagerly
    inside build_entities, so toggling the module constant around the call
    is sufficient; output is bit-identical to the kernel path (tested)."""
    from plume_spark import graft
    from plume_spark.operators import canonicalize
    from plume_spark.pipeline import run_pipeline, triples_with_names

    saved = canonicalize.DRIVER_LINK_MAX_NORMS
    canonicalize.DRIVER_LINK_MAX_NORMS = 0
    try:
        t = graft.kg_transcripts(spark, sf_dir)
        return triples_with_names(run_pipeline(t, tau=0.95))
    finally:
        canonicalize.DRIVER_LINK_MAX_NORMS = saved


EXTRA_QUERIES = {
    "kg_build_scaled": _kg_build_scaled,
    "kg_build_distlink": _kg_build_distlink,
}


def _warmup(spark, sf_dir: str) -> None:
    """JMH fork-warmup analog (the reference's harness measures only after
    @Warmup iterations: GraphReadBenchmark.scala:30, Benchmark.scala:70
    warmupTime 30 s): run the full pipeline once on a k=2 replica so codegen
    classes are compiled, the Python worker pool is spun up, and parquet
    footers are hot — then drop the warmup cache and measure.  On a real
    cluster the same effect comes from long-lived executors; without it a
    fresh-JVM fork bills one-time JIT/startup to whichever level runs,
    which is noise, not scaling."""
    from plume_spark import graft
    from plume_spark.pipeline import run_pipeline, triples_with_names

    t = graft.kg_transcripts_scaled(spark, sf_dir, 2)
    triples_with_names(run_pipeline(t, tau=0.95)).count()
    spark.catalog.clearCache()


def _run_query(df) -> int:
    """Force full execution without driver materialization cost dominating:
    noop sink executes every task and discards rows."""
    df.write.format("noop").mode("overwrite").save()
    return -1


def run_bench(sf_dir: str, cpus: int, names: list[str] | None = None) -> dict:
    from plume_spark.session import get_spark
    import __spark_entry__ as entrymod

    spark = get_spark(
        app_name="plume-bench", master=f"local[{cpus}]", shuffle_partitions=cpus
    )
    qs = {**entrymod.queries(), **EXTRA_QUERIES}
    names = names or HEADLINE
    if "kg_build_scaled" in names and os.environ.get("SPARK_GRAFT_WARMUP", "1") != "0":
        _warmup(spark, sf_dir)
    timings: dict[str, float] = {}
    # 1-min host load average before and after each query's repetitions, so a
    # timing can be read against the load it ran under
    load: dict[str, list[float]] = {}
    n_triples = 0
    flagship_samples: list[float] = []
    for name in names:
        # The flagship and its distributed-linking twin are min-of-2 (JMH
        # measurement-iteration analog): this box shows 2-4x intermittent
        # external CPU steal (BENCH.md), min over repeats of a deterministic
        # job is the unbiased estimator under additive noise, and the
        # distlink/kernel RATIO is a tracked target so both sides need the
        # same estimator.  Other queries stay single-shot to keep the suite
        # under ~2 min.
        reps = 2 if name in ("kg_build_triples", "kg_build_distlink") else 1
        load[name] = [round(os.getloadavg()[0], 2)]
        for _ in range(reps):
            t0 = time.time()
            df = qs[name](spark, sf_dir)
            if name in ("kg_build_triples", "kg_build_scaled"):
                n_triples = df.count()  # count doubles as the action
            else:
                _run_query(df)
            dt = round(time.time() - t0, 3)
            if name == "kg_build_triples":
                flagship_samples.append(dt)
                spark.catalog.clearCache()  # cold pipeline each sample
            timings[name] = min(timings.get(name, dt), dt)
        load[name].append(round(os.getloadavg()[0], 2))
    total = round(sum(timings.values()), 3)
    e2e = timings.get("kg_build_triples", total)
    return {
        "metric": "kg_e2e_build_sec",
        "value": e2e,
        "unit": "sec",
        "queries": timings,
        "load": load,
        "sf": sf_dir,
        "cpus": cpus,
        "triples": n_triples,
        "triples_per_sec": round(n_triples / e2e, 1) if e2e else 0.0,
        "total_sec": total,
        **({"flagship_samples_sec": flagship_samples} if len(flagship_samples) > 1 else {}),
    }


def run_scaling(sf_dir: str, levels=(8, 32), repeats: int = 2) -> dict:
    """Fresh subprocess per parallelism level (JMH-fork analog): same input,
    same job, different core counts; efficiency = (T_low/T_high) / (N_high/N_low).

    Levels are sampled ``repeats`` times INTERLEAVED (8,32,8,32,...) and the
    per-level MIN is used: the job is deterministic, so min is the unbiased
    estimator under the sandbox's intermittent external CPU steal (identical
    runs vary up to 2x; see BENCH.md).  All samples are reported.
    """
    samples: dict[int, list[dict]] = {n: [] for n in levels}
    for _ in range(repeats):
        for n in levels:
            out = subprocess.run(
                [sys.executable, __file__, "--single", "kg_build_scaled"],
                env={**os.environ, "SPARK_GRAFT_CPUS": str(n), "SPARK_GRAFT_SF_DIR": sf_dir},
                capture_output=True,
                text=True,
                timeout=3600,
            )
            line = [l for l in out.stdout.strip().splitlines() if l.startswith("{")][-1]
            samples[n].append(json.loads(line))
    best = {n: min(samples[n], key=lambda j: j["value"]) for n in levels}
    lo, hi = levels
    t_lo, t_hi = best[lo]["value"], best[hi]["value"]
    speedup = t_lo / t_hi if t_hi else 0.0
    efficiency = speedup / (hi / lo)
    return {
        "metric": "scaling_efficiency",
        "value": round(efficiency, 3),
        "unit": "ratio",
        "speedup": round(speedup, 3),
        "scale_k": SCALE_K,
        "levels": {
            str(n): {
                "sec": best[n]["value"],
                "triples_per_sec": best[n]["triples_per_sec"],
                "samples_sec": [j["value"] for j in samples[n]],
            }
            for n in levels
        },
        "sf": sf_dir,
    }


def run_write_bench(sf_dir: str, cpus: int, iters: int = 3) -> dict:
    """GraphWriteBenchmark analog (src/.../benchmarking/GraphWriteBenchmark.
    scala:32-44): the FULL persist path — transcripts -> build_graph -> snapshot
    store (staging MERGE + lineage + atomic overwrite of entities/triples),
    with the store cleared before every iteration (cold-store writes, the
    reference's @Setup(Level.Iteration) driver.clear()).  Reports the min
    (deterministic work under one-sided box noise) and all samples."""
    import shutil
    import tempfile

    from plume_spark import graft
    from plume_spark.pipeline import build_graph
    from plume_spark.session import get_spark
    from plume_spark.store import GraphStore

    spark = get_spark(
        app_name="plume-write-bench", master=f"local[{cpus}]", shuffle_partitions=cpus
    )
    t = graft.kg_transcripts(spark, sf_dir)
    root = tempfile.mkdtemp(prefix="plume-write-bench-")
    samples, triples = [], 0
    try:
        for _ in range(iters):
            shutil.rmtree(root, ignore_errors=True)
            store = GraphStore(spark, root)
            t0 = time.time()
            stats = build_graph(t, store, tau=0.95)
            samples.append(round(time.time() - t0, 3))
            triples = stats["triples"]
    finally:
        shutil.rmtree(root, ignore_errors=True)
    best = min(samples)
    return {
        "metric": "kg_write_build_sec",
        "value": best,
        "unit": "sec",
        "samples_sec": samples,
        "iters": iters,
        "sf": sf_dir,
        "cpus": cpus,
        "triples": triples,
        "triples_per_sec": round(triples / best, 1) if best else 0.0,
    }


def run_heap_sweep(sf_dir: str, cpus: int, heaps=("4g", "24g")) -> dict:
    """The reference's memory-sweep analog (runBenchmarks.sc:44-68 runs
    backends x {2,4,6,8} Gb with a known-OOM skip list): the flagship build
    in a FRESH subprocess per driver-heap size.  A level that dies (OOM /
    nonzero exit) is recorded like the reference's skip-list entry instead
    of failing the sweep."""
    levels = {}
    for heap in heaps:
        out = subprocess.run(
            [sys.executable, __file__, "--single", "kg_build_triples"],
            env={
                **os.environ,
                "PLUME_DRIVER_MEM": heap,
                "SPARK_GRAFT_CPUS": str(cpus),
                "SPARK_GRAFT_SF_DIR": sf_dir,
            },
            capture_output=True,
            text=True,
            timeout=3600,
        )
        lines = [l for l in out.stdout.strip().splitlines() if l.startswith("{")]
        if out.returncode != 0 or not lines:
            levels[heap] = {"status": "OOM/failed", "exit": out.returncode,
                            "stderr_tail": out.stderr[-300:]}
            continue
        j = json.loads(lines[-1])
        levels[heap] = {"status": "ok", "sec": j["value"],
                        "triples_per_sec": j["triples_per_sec"]}
    return {"metric": "heap_sweep", "unit": "sec", "levels": levels,
            "sf": sf_dir, "cpus": cpus}


def main():
    if "--write" in sys.argv:
        print(json.dumps(run_write_bench(SF_DIR, CPUS)))
        return
    if "--heap" in sys.argv:
        heaps = tuple(os.environ.get("SPARK_GRAFT_HEAPS", "4g,24g").split(","))
        print(json.dumps(run_heap_sweep(SF_DIR, CPUS, heaps)))
        return
    if "--scaling" in sys.argv:
        # levels: N and 4N cores.  Default (8, 32) exercises the full box;
        # SPARK_GRAFT_LEVELS=2,8 keeps both levels under the sandbox's
        # noisy-neighbor floor (external load hits 32-thread runs
        # disproportionately — see BENCH.md).
        levels = tuple(
            int(x) for x in os.environ.get("SPARK_GRAFT_LEVELS", "8,32").split(",")
        )
        if len(levels) != 2 or levels[0] >= levels[1]:
            raise SystemExit(
                f"SPARK_GRAFT_LEVELS must be exactly two ascending core counts "
                f"(e.g. 8,32), got {os.environ.get('SPARK_GRAFT_LEVELS')!r}"
            )
        repeats = int(os.environ.get("SPARK_GRAFT_REPEATS", "2"))
        print(json.dumps(run_scaling(SF_DIR, levels=levels, repeats=repeats)))
        return
    if "--single" in sys.argv:
        name = sys.argv[sys.argv.index("--single") + 1]
        print(json.dumps(run_bench(SF_DIR, CPUS, [name])))
        return
    if "--explain" in sys.argv:
        from plume_spark.session import get_spark
        import __spark_entry__ as entrymod

        spark = get_spark(app_name="plume-explain", master=f"local[{CPUS}]")
        qs = {**entrymod.queries(), **EXTRA_QUERIES}
        for name in sys.argv[sys.argv.index("--explain") + 1 :] or HEADLINE:
            print(f"===== {name} =====")
            qs[name](spark, SF_DIR).explain("formatted")
        return
    print(json.dumps(run_bench(SF_DIR, CPUS)))


if __name__ == "__main__":
    main()

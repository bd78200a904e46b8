"""Local replica of the driver's correctness gate: run every queries() entry
on Spark and its oracle_sql() on DuckDB at sf0.01, compare row count, column
names, and order-insensitive values.  Usage: python scripts/check_oracle.py
[sf_dir] [query ...]

Also importable (``run_check``) — tests/test_contract_oracle.py wires it into
pytest so a new contract query cannot land without a local green.
"""

from __future__ import annotations

import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def norm_val(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.9g}"
    if v is None:
        return "<null>"
    return str(v)


def rows_key(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted("|".join(norm_val(r[i]) for i in order) for r in rows)


def run_check(
    spark,
    sf: str,
    only: set[str] | None = None,
    out=sys.stdout,
    records: dict | None = None,
) -> list:
    """Run the Spark-vs-DuckDB gate; returns [(name, reason)] failures.

    When ``records`` is a dict, it is filled with one driver-format row per
    query ({rows_match, schema_match, hash_match, spark_rows, oracle_rows,
    err}) so a full run can be committed as a machine-readable artifact
    (``--emit`` writes CORRECTNESS_full_rNN.json)."""
    import __spark_entry__ as entrymod

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")

    qs, oq = entrymod.queries(), entrymod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            df = fn(spark, sf)
        except Exception as e:
            failures += _error(name, "spark", e, None, out, records)
            continue
        failures += _compare(name, df, con, oq[name], t0, out, records)
    return failures


def _error(name, side, e, spark_rows, out, records) -> list:
    """One query that raised on ``side`` ("spark" or "duckdb")."""
    print(f"FAIL  {name}: {side} error: {str(e)[:300]}", file=out)
    if records is not None:
        records[name] = {
            "rows_match": False, "schema_match": False,
            "hash_match": False, "spark_rows": spark_rows,
            "oracle_rows": None, "err": f"{side}: {str(e)[:200]}",
        }
    return [(name, f"{'SPARK' if side == 'spark' else 'DUCK'} ERROR: {e}")]


def _compare(name, df, con, sql, t0, out, records: dict | None = None) -> list:
    """The one verdict of the gate: ``df`` and the DuckDB result of ``sql``
    have the same column names, row count and order-insensitive values.
    Returns [(name, reason)] on failure, else []; fills ``records[name]``
    when ``records`` is a dict."""
    try:
        spark_rows = [tuple(r) for r in df.collect()]
    except Exception as e:
        return _error(name, "spark", e, None, out, records)
    try:
        res = con.execute(sql)
        duck_cols = [d[0] for d in res.description]
        duck_rows = res.fetchall()
    except Exception as e:
        return _error(name, "duckdb", e, len(spark_rows), out, records)
    ok_cols = sorted(df.columns) == sorted(duck_cols)
    ok_n = len(spark_rows) == len(duck_rows)
    sk = rows_key(spark_rows, df.columns) if ok_cols and ok_n else None
    dk = rows_key(duck_rows, duck_cols) if ok_cols and ok_n else None
    ok_vals = ok_cols and ok_n and sk == dk
    if records is not None:
        records[name] = {
            "rows_match": ok_n, "schema_match": ok_cols,
            "hash_match": ok_vals, "spark_rows": len(spark_rows),
            "oracle_rows": len(duck_rows), "err": None,
        }
    status = "OK   " if ok_vals else "FAIL "
    print(
        f"{status} {name}: spark={len(spark_rows)} duck={len(duck_rows)} "
        f"cols={'ok' if ok_cols else (df.columns, duck_cols)} "
        f"vals={'ok' if ok_vals else 'MISMATCH'} [{time.time()-t0:.1f}s]",
        file=out,
    )
    if ok_vals:
        return []
    if sk is not None:
        only_s, only_d = set(sk) - set(dk), set(dk) - set(sk)
        print(f"   spark-only: {[x for x in sk if x in only_s][:3]}", file=out)
        print(f"   duck-only : {[x for x in dk if x in only_d][:3]}", file=out)
    return [(name, "mismatch")]


def run_scaled_check(spark, sf: str, k: int = 8, out=sys.stdout) -> list:
    """Scale-tier value check (round-3 VERDICT #8): the correctness gate tops
    out at sf0.1, while the scaling bench runs k-replicated inputs — this
    mode value-checks the flagship and one iterative graph op at the SAME
    k-replicated tier (k x sf rows through the full pipeline vs a replicated
    DuckDB oracle).

    Replication invariants that make the oracles exact:
    * flagship — replicas share surface forms, so the distinct-norm
      dictionary, entity linking, and canonicalization are unchanged; the
      scaled triple set is the base set cross-joined with replica ids and
      conv_id suffixed '-rN' (exactly kg_transcripts_scaled's construction);
    * g2 components — each replica's nodes are offset by r*OFFSET into a
      disjoint id namespace, so labels (min node id per component) offset
      with them.
    """
    import __spark_entry__ as entrymod
    from pyspark.sql import functions as F

    from plume_spark import graft
    from plume_spark.operators.components import connected_components
    from plume_spark.pipeline import run_pipeline, triples_with_names

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
    oq = entrymod.oracle_sql()
    failures = []

    t0 = time.time()
    flag = triples_with_names(
        run_pipeline(graft.kg_transcripts_scaled(spark, sf, k), tau=0.95)
    )
    flag_sql = f"""
        SELECT b.* REPLACE (b.conv_id || '-r' || g.r AS conv_id)
        FROM ({oq["kg_build_triples"]}) b
        CROSS JOIN (SELECT UNNEST(range({k})) AS r) g"""
    failures += _compare(f"kg_build_triples@k={k}", flag, con, flag_sql, t0, out)

    t0 = time.time()
    off = 10_000_000
    o = graft.load(spark, sf, "orders")
    li = graft.load(spark, sf, "lineitem")
    e1 = o.select(
        F.col("o_custkey").alias("subj"),
        (F.lit(graft.NODE_ORDER_OFFSET) + F.col("o_orderkey")).alias("obj"),
    )
    e2 = li.select(
        (F.lit(graft.NODE_ORDER_OFFSET) + F.col("l_orderkey")).alias("subj"),
        (F.lit(graft.NODE_PART_OFFSET) + F.col("l_partkey")).alias("obj"),
    ).filter(F.col("obj") % 23 == 0)
    reps = spark.range(k).select((F.col("id") * off).alias("_off"))
    edges = (
        e1.unionByName(e2)
        .crossJoin(reps)
        .select(
            (F.col("subj") + F.col("_off")).alias("subj"),
            (F.col("obj") + F.col("_off")).alias("obj"),
        )
    )
    comp = connected_components(
        edges, src="subj", dst="obj", driver_max_edges=0, max_iters=32
    )
    comp_sql = f"""
        SELECT b.node + g.r * {off} AS node,
               b.component + g.r * {off} AS component
        FROM ({oq["g2_components"]}) b
        CROSS JOIN (SELECT UNNEST(range({k})) AS r) g"""
    failures += _compare(f"g2_components@k={k}", comp, con, comp_sql, t0, out)

    # alias-merge at k: replicas share surface forms, so the entity/alias
    # table must be IDENTICAL to the unscaled oracle — the scale-free
    # dictionary invariant the canonicalization design rests on, asserted
    # at the same k-replicated tier the scaling bench runs
    t0 = time.time()
    ta = graft.kg_transcripts_alias(spark, sf).repartition(
        graft.SCALE_UNITS, "conv_id"
    )
    reps2 = spark.range(k).select(F.col("id").cast("int").alias("_rep"))
    ta_k = ta.crossJoin(reps2).select(
        F.concat("conv_id", F.lit("-r"), F.col("_rep")).alias("conv_id"),
        "turn_idx",
        "role",
        "text",
        "tool",
        "ts",
    )
    ents = (
        run_pipeline(ta_k, tau=0.95)
        .entities.filter(F.size("aliases") >= 2)
        .select(
            "canonical_name",
            F.size("aliases").cast("long").alias("n_aliases"),
            F.array_join("aliases", ",").alias("alias_csv"),
        )
    )
    failures += _compare(
        f"kg_alias_merge@k={k}", ents, con, oq["kg_alias_merge"], t0, out
    )

    # streaming pillar at k: the same file-source MERGE drain the
    # stream_kg_build contract query runs, fed the k-replicated
    # transcripts, read back FROM THE STORE — stream == batch is
    # value-checked at the scale tier, not just at sf0.1
    t0 = time.time()
    import shutil
    import tempfile
    from types import SimpleNamespace

    from plume_spark.store import GraphStore
    from plume_spark.streaming import read_transcript_stream, stream_build

    d = tempfile.mkdtemp(prefix="plume-scaled-stream-")
    try:
        inbox, ckpt = f"{d}/in", f"{d}/ck"
        tk = graft.kg_transcripts_scaled(spark, sf, k)
        bucket = F.pmod(F.xxhash64("conv_id"), F.lit(3))
        for i in range(3):
            # one file per landing: maxFilesPerTrigger=1 makes every FILE a
            # MERGE microbatch, so without the coalesce the k-replicated
            # write lands ~shuffle_partitions files per bucket and the
            # drain pays ~100 epochs of merge overhead instead of 3
            tk.filter(bucket == i).coalesce(1).write.mode("append").parquet(inbox)
        store = GraphStore(spark, f"{d}/store")
        stream_build(
            read_transcript_stream(spark, inbox, max_files_per_trigger=1),
            store,
            ckpt,
            tau=0.95,
        )
        res = SimpleNamespace(
            entities=store.entities.read(), triples=store.triples.read()
        )
        stream_triples = triples_with_names(res)
        failures += _compare(
            f"stream_kg_build@k={k}", stream_triples, con, flag_sql, t0, out
        )
    finally:
        shutil.rmtree(d, ignore_errors=True)
    return failures


def main():
    from plume_spark.session import get_spark

    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    scaled = next((a for a in sys.argv[1:] if a.startswith("--scaled")), None)
    emit = next((a for a in sys.argv[1:] if a.startswith("--emit")), None)
    sf = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])
    spark = get_spark(app_name="oracle-check")
    if scaled is not None:
        k = int(scaled.split("=", 1)[1]) if "=" in scaled else 8
        failures = run_scaled_check(spark, sf, k=k)
    else:
        records: dict | None = {} if emit else None
        failures = run_check(spark, sf, only or None, records=records)
        if emit:
            import json

            path = emit.split("=", 1)[1] if "=" in emit else "CORRECTNESS_full.json"
            with open(path, "w") as f:
                json.dump(records, f, indent=1, sort_keys=True)
            print(f"wrote {path} ({len(records)} rows)")
    print(f"\n{len(failures)} failures: {[f[0] for f in failures]}")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()

"""Deterministic derivations of transcript/graph shapes from the driver's
TPC-H-ish parquet tables (/root/testdata/sf*) — shared by __spark_entry__.py
(driver contract) and bench.py.

Each derivation is expressible in BOTH Spark and ANSI SQL, so the DuckDB
oracle can recompute it exactly.  Table loading goes through plain
``spark.read.parquet`` (S1 scan — parquet gives vectorized reads + predicate
pushdown; on a cluster these would be Iceberg tables with bucket(conv_id)
partitioning).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

NODE_ORDER_OFFSET = 1_000_000
NODE_PART_OFFSET = 2_000_000

# fixed extraction work-unit count for the scaling substrate (see
# kg_transcripts_scaled): identical units at every cluster size, several
# waves per core at both bench levels (local[2] and local[8]).
SCALE_UNITS = 64


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def transcripts_from_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events -> transcript shape: one conversation per user, turns ordered
    by (ts, event_id) — the W1 stable-ordering substrate."""
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    return e.select(
        F.concat(F.lit("conv-"), F.col("user_id").cast("string")).alias("conv_id"),
        (F.row_number().over(w) - 1).cast("int").alias("turn_idx"),
        F.col("event_type").alias("role"),
        F.concat_ws(" ", "event_type", "props").alias("text"),
        F.lit(None).cast("string").alias("tool"),
        F.col("ts"),
    )


def kg_transcripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """customer x nation x orders -> transcript shape whose text carries real
    extractable mentions: 'Customer#000000042 works at NATION_7'.  Predicate
    alternates on order-key parity; turn order is (o_orderdate, o_orderkey).
    """
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    o = load(spark, sf_dir, "orders")
    j = c.join(n, c["c_nationkey"] == n["n_nationkey"]).join(
        o, o["o_custkey"] == c["c_custkey"]
    )
    w = Window.partitionBy("c_custkey").orderBy(F.col("o_orderdate").asc(), F.col("o_orderkey").asc())
    verb = F.when(F.col("o_orderkey") % 2 == 0, F.lit(" works at ")).otherwise(
        F.lit(" visited ")
    )
    return j.select(
        F.concat(F.lit("conv-"), F.col("c_custkey").cast("string")).alias("conv_id"),
        (F.row_number().over(w) - 1).cast("int").alias("turn_idx"),
        F.lit("user").alias("role"),
        F.concat(F.col("c_name"), verb, F.col("n_name")).alias("text"),
        F.lit(None).cast("string").alias("tool"),
        F.col("o_orderdate").cast("timestamp").alias("ts"),
    )


def kg_transcripts_scaled(spark: SparkSession, sf_dir: str, k: int) -> DataFrame:
    """kg_transcripts replicated k-fold with distinct conv_ids (suffix -rN).

    The scaling-efficiency benchmark substrate: at the target scale (10^12
    turns) per-core parallel work dwarfs the fixed per-job costs (dictionary
    stages, scheduling), but sf0.1 alone is overhead-dominated and measures
    scheduler noise, not scaling.  Replication grows the parallel fraction
    while keeping the input deterministic and identical across parallelism
    levels.  Replicas share surface forms, so the distinct-norm dictionary
    (deliberately scale-free, like real entity vocabularies) is unchanged.

    The substrate is repartitioned into a FIXED number of conv-hash work
    units (64) BEFORE replication — the reference's fixed part list
    (PlumeForkJoinParallelCpgPass generates identical parts regardless of
    pool size).  Without this, downstream extraction parallelism equals
    whatever ``spark.sql.shuffle.partitions`` the window left (= core
    count): one giant task per core, no load balancing, and the slowest
    task gates N-vs-4N scaling.  Shuffling here moves only the k=1
    substrate (~150k rows), not the replicated text stream; the broadcast
    replication and the extraction UDF then run within the 64 units.
    """
    t = kg_transcripts(spark, sf_dir).repartition(SCALE_UNITS, "conv_id")
    reps = spark.range(k).select(F.col("id").cast("int").alias("_rep"))
    return t.crossJoin(reps).select(
        F.concat("conv_id", F.lit("-r"), F.col("_rep")).alias("conv_id"),
        "turn_idx",
        "role",
        "text",
        "tool",
        "ts",
    )


def kg_transcripts_varied(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kg_transcripts with NON-functional predicates and partial symmetry —
    the substrate for the KG-curation analytics that are vacuous on the
    functional flagship substrate (conflict resolution, symmetry scoring):

    * even orders: ``<cust> works at <own nation>``   (stays functional);
    * odd orders:  ``<cust> visited <nation (c_nationkey + 7*(okey%3)) % 25>``
      — up to three DISTINCT visited nations per customer, so (subj,
      'visited') genuinely conflicts and latest-wins resolution has signal;
    * every 5th order adds ``<cust> met <peer>`` with
      peer = (c_custkey + o_orderkey) % |customer| (self-pairs dropped);
      every 10th order ALSO adds the reverse ``<peer> met <cust>`` turn in
      the same conversation — so 'met' is symmetric for roughly half its
      edges and asymmetric for the rest (sym_ratio strictly in (0,1)).

    Surface vocabulary is IDENTICAL to kg_transcripts (same customers, same
    nations), so the LSH/CC canonicalization behaves exactly as the
    flagship's oracle-verified mapping.  Turn order is the total key
    (o_orderdate, o_orderkey, rev); all derivations are pure column
    arithmetic, so the DuckDB oracle rebuilds the same turns exactly."""
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    o = load(spark, sf_dir, "orders")
    ncust = c.agg(F.count(F.lit(1)).alias("ncust"))
    base = (
        c.join(o, o["o_custkey"] == c["c_custkey"])
        .join(n, c["c_nationkey"] == n["n_nationkey"])
        .select("c_custkey", "c_name", "c_nationkey", "o_orderkey", "o_orderdate", "n_name")
    )
    nv = n.select(
        F.col("n_nationkey").alias("v_nationkey"), F.col("n_name").alias("v_name")
    )
    vkey = (F.col("c_nationkey") + (F.col("o_orderkey") % 3) * 7) % 25
    stmts = base.join(F.broadcast(nv), vkey == F.col("v_nationkey")).select(
        "c_custkey",
        "o_orderdate",
        "o_orderkey",
        F.lit(0).alias("rev"),
        F.when(
            F.col("o_orderkey") % 2 == 0,
            F.concat(F.col("c_name"), F.lit(" works at "), F.col("n_name")),
        )
        .otherwise(F.concat(F.col("c_name"), F.lit(" visited "), F.col("v_name")))
        .alias("text"),
    )
    cb = c.select(F.col("c_custkey").alias("b_key"), F.col("c_name").alias("b_name"))
    met = (
        base.filter(F.col("o_orderkey") % 5 == 0)
        .crossJoin(F.broadcast(ncust))
        .withColumn("b_key", (F.col("c_custkey") + F.col("o_orderkey")) % F.col("ncust"))
        .filter(F.col("b_key") != F.col("c_custkey"))
        .join(F.broadcast(cb), "b_key")
    )
    fwd = met.select(
        "c_custkey",
        "o_orderdate",
        "o_orderkey",
        F.lit(1).alias("rev"),
        F.concat(F.col("c_name"), F.lit(" met "), F.col("b_name")).alias("text"),
    )
    back = met.filter(F.col("o_orderkey") % 10 == 0).select(
        "c_custkey",
        "o_orderdate",
        "o_orderkey",
        F.lit(2).alias("rev"),
        F.concat(F.col("b_name"), F.lit(" met "), F.col("c_name")).alias("text"),
    )
    u = stmts.unionByName(fwd).unionByName(back)
    w = Window.partitionBy("c_custkey").orderBy(
        F.col("o_orderdate").asc(), F.col("o_orderkey").asc(), F.col("rev").asc()
    )
    return u.select(
        F.concat(F.lit("conv-"), F.col("c_custkey").cast("string")).alias("conv_id"),
        (F.row_number().over(w) - 1).cast("int").alias("turn_idx"),
        F.lit("user").alias("role"),
        "text",
        F.lit(None).cast("string").alias("tool"),
        F.col("o_orderdate").cast("timestamp").alias("ts"),
    )


def kg_transcripts_alias(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kg_transcripts with ALIAS surface forms — the substrate that makes
    the canonicalization MERGE path observable under the value gate (on the
    flagship substrate every cluster is a singleton, so alias merging never
    fires in an oracle-checked query).

    Odd orders render the customer with one extra zero after '#'
    (``Customer#0000000042``): the padded and plain norms are DIFFERENT
    strings whose distinct 3-gram sets are IDENTICAL (the extra '0' only
    repeats already-present '000'/' 00' grams), so exact-Jaccard = 1.0 and
    both the LSH path and the oracle's gram-fingerprint CTE must merge them
    into one entity with two aliases.  Even orders keep the plain surface;
    predicate is always 'works at' (this substrate isolates aliasing)."""
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    o = load(spark, sf_dir, "orders")
    j = c.join(n, c["c_nationkey"] == n["n_nationkey"]).join(
        o, o["o_custkey"] == c["c_custkey"]
    )
    w = Window.partitionBy("c_custkey").orderBy(
        F.col("o_orderdate").asc(), F.col("o_orderkey").asc()
    )
    surface = F.when(
        F.col("o_orderkey") % 2 == 1,
        F.regexp_replace(F.col("c_name"), "#", "#0"),
    ).otherwise(F.col("c_name"))
    return j.select(
        F.concat(F.lit("conv-"), F.col("c_custkey").cast("string")).alias("conv_id"),
        (F.row_number().over(w) - 1).cast("int").alias("turn_idx"),
        F.lit("user").alias("role"),
        F.concat(surface, F.lit(" works at "), F.col("n_name")).alias("text"),
        F.lit(None).cast("string").alias("tool"),
        F.col("o_orderdate").cast("timestamp").alias("ts"),
    )


def dag_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-level DAG over disjoint id namespaces: customer -> order -> part.
    The substrate for the traversal/read-benchmark operators (J6/J7/P7)."""
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    e1 = o.select(
        F.col("o_custkey").alias("subj"),
        (F.lit(NODE_ORDER_OFFSET) + F.col("o_orderkey")).alias("obj"),
    )
    e2 = li.select(
        (F.lit(NODE_ORDER_OFFSET) + F.col("l_orderkey")).alias("subj"),
        (F.lit(NODE_PART_OFFSET) + F.col("l_partkey")).alias("obj"),
    )
    return e1.unionByName(e2)

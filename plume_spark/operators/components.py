"""Connected components by iterative salted hash-join label propagation.

Reference analog: the worklist DFS traversals over AST edges
(src/.../benchmarking/OverflowDbReadBenchmark.scala:52-78) are pointer-chasing
on a single node; the Spark-native equivalent for canonicalization is
label-propagation-to-fixpoint over the mention-similarity graph — the
"iterative hash-join style, salted to kill skew" of the north rule.

Algorithm (hash-to-min): every node starts labeled with its own id; each
round, a node's label becomes the min of its own and all neighbors' labels;
converged when no label changes.  For similarity graphs the components are
shallow (alias clusters), so rounds ~ O(log(diameter)) and typically <= 3.

Scale mechanics:
* edges are symmetrized once, then each round is ONE shuffle (groupBy min);
* ``localCheckpoint`` every CHECKPOINT_EVERY rounds truncates the lineage so
  plans don't grow unboundedly (the classic iterative-Spark failure mode);
* convergence is tested with a cheap aggregate, not a collect of labels;
* hot nodes (a label adjacent to millions of edges — the hot-entity skew
  slice) are handled by AQE skew-join splitting plus the min-aggregation
  being a partial (map-side) combine: the groupBy(dst).min() does most work
  before the shuffle, so a hot dst receives pre-combined partials.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from plume_spark.session import local_frame

CHECKPOINT_EVERY = 3
MAX_ITERS = 50
# Nodes whose degree exceeds this are "hot": their edge rows are salted in
# the propagation join.  Everything colder is left to AQE skew splitting.
HOT_KEY_MIN_DEGREE = 1_000_000
# Below this many edges the similarity graph fits trivially on the driver:
# collect + union-find beats 2-5 distributed label-propagation rounds (each
# round = a shuffle + a barrier action; ~5-15 s of pure scheduling overhead
# on small data).  The same physical-strategy adaptivity Spark itself applies
# when it picks broadcast over shuffle joins.
DRIVER_CC_MAX_EDGES = 200_000


def _driver_union_find(pairs: list[tuple]) -> list[tuple]:
    """Union-find on the driver -> (node, component=min member) rows."""
    parent: dict = {}

    def find(x):
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:  # path compression
            parent[x], x = r, parent[x]
        return r

    for a, b in pairs:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            # union by min so the root IS the canonical (min) member
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    return [(n, find(n)) for n in parent]


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iters: int = MAX_ITERS,
    driver_max_edges: int | None = None,
    n_salts: int = 0,
    hot_key_min_degree: int = HOT_KEY_MIN_DEGREE,
) -> DataFrame:
    """Return (node, component) where component = min node id in the component.

    ``edges`` is an undirected pair list over any orderable node type
    (string norms or long ids).  Isolated nodes are the caller's concern:
    union them back with component = self.

    Physical strategy is size-adaptive: small edge sets (<= DRIVER_CC_MAX_EDGES,
    known cheaply from the similarity join's output) run as driver union-find;
    large ones run the distributed salted label-propagation loop below.  Both
    produce identical (node, min-member) output.
    """
    cap = DRIVER_CC_MAX_EDGES if driver_max_edges is None else driver_max_edges
    pair_df = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    head = pair_df.limit(cap + 1).collect() if cap > 0 else []
    if cap > 0 and len(head) <= cap:
        import pyspark.sql.types as T

        node_t = pair_df.schema["a"].dataType
        schema = T.StructType(
            [T.StructField("node", node_t), T.StructField("component", node_t)]
        )
        rows = _driver_union_find([(r["a"], r["b"]) for r in head])
        return local_frame(edges.sparkSession, rows, schema)
    sym = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .union(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .distinct()
    )
    # labels: node -> current component label (init: self)
    labels = sym.select(F.col("a").alias("node")).distinct().withColumn(
        "label", F.col("node")
    )
    labels = labels.localCheckpoint(eager=True)
    sym = sym.localCheckpoint(eager=True)

    # Hot-key split, computed ONCE (degrees are a property of sym, which is
    # fixed across iterations): only edges whose join key is hot are salted;
    # the label side replicated per salt is just the hot keys' labels (tiny),
    # honoring salted_join's small-right contract.  Cold keys go through the
    # plain join + AQE skew splitting.
    sym_hot = sym_cold = hot_keys = None
    if n_salts > 0:
        hot_keys = (
            sym.groupBy("b").count()
            .filter(F.col("count") >= hot_key_min_degree)
            .select("b")
            .localCheckpoint(eager=True)
        )
        if hot_keys.limit(1).count() == 0:
            n_salts = 0  # nothing hot — skip the split entirely
        else:
            sym_hot = sym.join(F.broadcast(hot_keys), "b", "left_semi").localCheckpoint(eager=True)
            sym_cold = sym.join(F.broadcast(hot_keys), "b", "left_anti").localCheckpoint(eager=True)

    converged = False
    for i in range(max_iters):
        # propagate: neighbor labels, min with own label — one shuffle round.
        # The min-agg is partial either way, so hot keys only ever receive
        # pre-combined partials.
        lbl_b = labels.withColumnRenamed("node", "b")
        if n_salts > 0:
            from plume_spark.operators.skew import salted_join

            lbl_hot = lbl_b.join(F.broadcast(hot_keys), "b", "left_semi")
            joined = sym_cold.join(lbl_b, "b").unionByName(
                salted_join(sym_hot, lbl_hot, "b", n_salts=n_salts)
            )
        else:
            joined = sym.join(lbl_b, "b")
        nbr = (
            joined.groupBy("a")
            .agg(F.min("label").alias("nbr_label"))
            .withColumnRenamed("a", "node")
        )
        new_labels = (
            labels.join(nbr, "node", "left")
            .select(
                "node",
                F.least(F.col("label"), F.coalesce("nbr_label", "label")).alias("label"),
                (F.col("nbr_label") < F.col("label")).alias("changed"),
            )
        )
        new_labels = new_labels.localCheckpoint(eager=True) if (
            i % CHECKPOINT_EVERY == CHECKPOINT_EVERY - 1
        ) else new_labels.cache()
        n_changed = new_labels.filter(F.col("changed")).limit(1).count()
        labels = new_labels.select("node", "label")
        if n_changed == 0:
            converged = True
            break
    if not converged:
        # partial labels are silently WRONG (two nodes of one component can
        # still carry different labels) — fail loudly, never return them.
        raise RuntimeError(
            f"connected_components did not converge in {max_iters} iterations; "
            "raise max_iters (diameter of the similarity graph exceeds it)"
        )
    return labels.withColumnRenamed("label", "component")


def components_oracle_sql(
    edges_sql: str,
    n_iters: int = 20,
    node_col: str = "node",
    comp_col: str = "component",
) -> str:
    """ANSI-SQL equivalent of the distributed label-propagation loop,
    unrolled to ``n_iters`` fixed iterations (the same pattern as
    pagerank_oracle_sql): l_{i+1}(v) = least(l_i(v), min over neighbors).

    Correct whenever the true convergence depth <= n_iters — overshoot is
    safe because the update is idempotent at fixpoint — while the engine
    side iterates to convergence and raises if max_iters exhausts, so a
    too-deep graph fails loudly on the Spark side rather than silently
    diverging from the oracle.  ``edges_sql`` must yield directed (subj,
    obj); symmetrization happens here, mirroring the operator."""
    # MATERIALIZED: each level references its predecessor twice; inlined
    # (DuckDB's default) that doubles the expression tree per level -> 2^n
    # scans and fd exhaustion.  Materialization makes the unroll linear,
    # which is also exactly the engine-side execution shape (one concrete
    # label table per iteration).
    parts = [
        f"e AS MATERIALIZED ({edges_sql})",
        "sym AS MATERIALIZED (SELECT subj AS a, obj AS b FROM e UNION SELECT obj, subj FROM e)",
        "l0 AS MATERIALIZED (SELECT DISTINCT a AS node, a AS label FROM sym)",
    ]
    for i in range(n_iters):
        parts.append(
            f"""l{i + 1} AS MATERIALIZED (
          SELECT n.node, least(n.label, coalesce(m.mn, n.label)) AS label
          FROM l{i} n LEFT JOIN (
            SELECT s.b AS node, min(l.label) AS mn
            FROM sym s JOIN l{i} l ON l.node = s.a GROUP BY s.b) m USING (node))"""
        )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"\nSELECT node AS {node_col}, label AS {comp_col} FROM l{n_iters}"
    )

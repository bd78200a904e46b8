"""Unit tests for the package operators + plan-hygiene assertions."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from plume_spark.operators import dedup, similarity, traversal


@pytest.fixture()
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog near the river bank"),
        (1, "the quick brown fox jumps over the lazy dog near the river bend"),  # near-dup of 0
        (2, "completely different text about spark catalyst optimizer plans"),
        (3, "the quick brown fox jumps over the lazy dog near the river bank"),  # exact dup of 0
        (4, "el perro grande corre por la calle con el gato pequeno"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_exact_dedup(docs):
    out = {r["doc_id"]: (r["keeper_id"], r["group_size"]) for r in dedup.exact_dedup(docs).collect()}
    assert out[0] == (0, 2) and out[3] == (0, 2)
    assert out[1] == (1, 1) and out[2] == (2, 1)


def test_minhash_and_ngram_agree(docs):
    mh = {(r["doc_a"], r["doc_b"]) for r in dedup.minhash_dedup(docs, tau=0.5).collect()}
    ng = {(r["doc_a"], r["doc_b"]) for r in dedup.ngram_jaccard_pairs(docs, tau=0.5).collect()}
    assert (0, 3) in ng and (0, 1) in ng and (1, 3) in ng
    assert not any(2 in p or 4 in p for p in ng)
    assert mh <= ng  # LSH can only miss, never invent (verification is exact)
    assert (0, 3) in mh  # identical docs always collide in every band


def test_simhash_hamming(docs):
    sh = {r["doc_id"]: r["simhash"] for r in dedup.simhash(docs).collect()}
    ham = lambda a, b: bin(a ^ b).count("1")
    assert sh[0] == sh[3]
    assert ham(sh[0], sh[1]) <= ham(sh[0], sh[2])


def test_text_operators(docs):
    """The text substrate the dedup family shares: distinct token sets,
    word 3-gram shingles and the portable polynomial hash — an exact
    duplicate hashes equal, a one-word edit does not."""
    toks: dict[int, set] = {}
    for r in dedup.tokens(docs).collect():
        toks.setdefault(r["doc_id"], set()).add(r["tok"])
    assert len(toks[0]) == 11  # 13 tokens, "the" three times
    sh = {r["tok"] for r in dedup.shingles(docs, n=3).filter("doc_id = 0").collect()}
    words = docs.filter("doc_id = 0").first()["text"].split()
    assert sh == {" ".join(words[i : i + 3]) for i in range(len(words) - 2)}

    def poly_ref(s: str) -> int:
        acc = 0
        for c in s:
            acc = (acc * dedup.POLY_MUL + ord(c)) % dedup.MINHASH_P
        return acc

    fp = {
        r["doc_id"]: r["fp"]
        for r in docs.select("doc_id", dedup.poly_hash(F.col("text")).alias("fp")).collect()
    }
    assert fp == {r["doc_id"]: poly_ref(r["text"]) for r in docs.collect()}
    assert fp[0] == fp[3] and fp[0] != fp[1]


def test_embedding_neardup(spark):
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.99, 0.01, 0.0, 0.0]),   # near-dup of 0
        (2, [0.0, 1.0, 0.0, 0.0]),     # orthogonal
        (3, [-1.0, 0.0, 0.0, 0.0]),    # antipodal
    ]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    pairs = {
        (r["vec_a"], r["vec_b"]): r["cos_sim"]
        for r in dedup.embedding_neardup(emb, tau=0.9).collect()
    }
    assert (0, 1) in pairs and pairs[(0, 1)] > 0.99
    # antipodal pair can never share an LSH bucket; orthogonal fails tau
    assert not any(3 in p or 2 in p for p in pairs)


def test_similarity(spark):
    """lsh_buckets and blocked_cosine_pairs on a toy set, on both
    evaluation paths: near vectors share every hyperplane sign, antipodal
    vectors flip all of them, and the pair join keeps only same-block
    pairs at or above tau."""
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0], 0),
        (1, [0.9, 0.1, 0.0, 0.0], 0),
        (2, [0.0, 1.0, 0.0, 0.0], 1),
        (3, [-1.0, 0.0, 0.0, 0.0], 1),
        (4, [0.8, 0.2, 0.0, 0.0], 0),
    ]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding", "label"])
    for strategy in ("codegen", "hof"):
        buckets = {
            r["vec_id"]: r["bucket"]
            for r in similarity.lsh_buckets(emb, strategy=strategy).collect()
        }
        assert buckets[0] == buckets[1]  # near vectors share hyperplane signs
        assert buckets[0] != buckets[3]  # antipodal vectors flip every sign
        pairs = {
            (r["vec_a"], r["vec_b"]): r["cos_sim"]
            for r in similarity.blocked_cosine_pairs(
                emb, "label", tau=0.9, strategy=strategy
            ).collect()
        }
        assert (0, 1) in pairs and (2, 3) not in pairs
        assert set(pairs) == {(0, 1), (0, 4), (1, 4)}  # label 0, all >= 0.9


def test_knn_graph_invariants(spark):
    """The embedding similarity graph (dedup.embedding_neardup) over the
    sf0.001 embeddings: no self-edges, each unordered pair once as
    (low, high), scores within [tau, 1], and run-to-run determinism (the
    hyperplanes are arithmetic, not random state)."""
    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    g = dedup.embedding_neardup(e, tau=0.2).collect()
    assert g  # the gate data has near pairs at this radius
    assert all(r["vec_a"] < r["vec_b"] for r in g)
    assert all(0.2 <= r["cos_sim"] <= 1.0 for r in g)
    assert len({(r["vec_a"], r["vec_b"]) for r in g}) == len(g)
    again = dedup.embedding_neardup(e, tau=0.2).collect()
    assert sorted(map(tuple, g)) == sorted(map(tuple, again))


def test_range_search_matches_topk_scores(spark):
    """One scoring expression behind every pair: a range search (one block,
    cos >= tau) equals the full pair table cut at tau with bit-equal
    scores, the full table matches Python cosine to its 4-place rounding,
    and the LSH-blocked search can only miss pairs, never rescore them."""
    import math
    import random

    rng = random.Random(7)
    vecs = [[rng.uniform(-1, 1) for _ in range(16)] for _ in range(50)]
    emb = spark.createDataFrame(
        [(i, v, 0) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>, label int",
    )

    def scored(df):
        return {(r["vec_a"], r["vec_b"]): r["cos_sim"] for r in df.collect()}

    every = scored(similarity.blocked_cosine_pairs(emb, "label", tau=-1.0))
    assert len(every) == 50 * 49 // 2
    for (a, b), s in every.items():
        dot = sum(x * y for x, y in zip(vecs[a], vecs[b]))
        ref = dot / (math.sqrt(sum(x * x for x in vecs[a])) * math.sqrt(sum(y * y for y in vecs[b])))
        assert abs(s - ref) <= 5e-5 + 1e-12, (a, b, s, ref)
    in_range = scored(similarity.blocked_cosine_pairs(emb, "label", tau=0.1))
    assert in_range == {p: s for p, s in every.items() if s >= 0.1}
    lsh = scored(dedup.embedding_neardup(emb, tau=0.1))
    assert lsh and all(in_range[p] == s for p, s in lsh.items())


def test_cli_build_query_export(spark, tmp_path):
    """CLI surface (M5): build from generated transcripts, then query and
    export against the same store — all through __main__.main."""
    from plume_spark.__main__ import main

    store = str(tmp_path / "store")
    assert main(["build", "--generate", "12", "--store", store, "--seed", "3"]) == 0
    assert main(["query", "--store", store]) == 0
    out = str(tmp_path / "kg.graphml")
    assert main(["export", "--store", store, "--out", out, "--format", "graphml"]) == 0
    content = open(out).read()
    assert content.startswith("<?xml") and "<node id=" in content and "<edge id=" in content
    assert main(["clear", "--store", store]) == 0
    # stream subcommand: drain a landed file into a fresh store
    from plume_spark.generator import generate_transcripts

    inbox = str(tmp_path / "inbox")
    generate_transcripts(spark, 6, seed=3).coalesce(1).write.parquet(inbox)
    store2 = str(tmp_path / "store2")
    assert main(["stream", "--input", inbox, "--store", store2]) == 0
    # maintain subcommand: compaction + expiry leave the graph readable and
    # the bucketed layout intact (point reads still prune).  The drained
    # entities size to one bucket: set an explicit modulus to prune across.
    from plume_spark.store.graph import GraphStore

    GraphStore(spark, store2).entities.rebucket(4)
    assert main(["maintain", "--store", store2, "--expire", "1"]) == 0
    s2 = GraphStore(spark, store2)
    assert s2.triples.row_count() > 0
    assert [m["version"] for m in s2.triples.snapshots()] == [s2.triples._current_version()]
    some = s2.entities.read().select("entity_id").first()["entity_id"]
    assert len(s2.entities.files_for(point={"entity_id": some})) < len(s2.entities.files_for())
    # dedup-stream subcommand: drain documents against a fresh index, then a
    # second invocation with no new files is a no-op
    docs_in = str(tmp_path / "docs-in")
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet").coalesce(1).write.parquet(docs_in)
    idx_dir = str(tmp_path / "dedup-idx")
    assert main(["dedup-stream", "--input", docs_in, "--index", idx_dir]) == 0
    from plume_spark.streaming import DedupIndex

    idx = DedupIndex(spark, idx_dir)
    n_pairs = idx.pairs.row_count()
    assert n_pairs > 0
    assert main(["dedup-stream", "--input", docs_in, "--index", idx_dir]) == 0
    assert idx.pairs.row_count() == n_pairs


def test_traversal_tiny_graph(spark):
    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 4), (3, 4), (4, 5), (9, 9)], ["subj", "obj"]
    )
    roots = {r["node"] for r in traversal.roots(edges).collect()}
    assert roots == {1}
    seeds = spark.createDataFrame([(1,)], ["node"])
    assert {r["node"] for r in traversal.k_hop(edges, seeds, 2).collect()} == {4}
    reach = {r["node"] for r in traversal.reachable(edges, seeds).collect()}
    assert reach == {1, 2, 3, 4, 5}
    up = {r["node"] for r in traversal.parent_walk(edges, spark.createDataFrame([(5,)], ["node"])).collect()}
    assert up == {5, 4, 2, 3, 1}


def test_cc_driver_and_distributed_paths_agree(spark):
    """Size-adaptive CC: the driver union-find (small graphs) and the
    distributed label-propagation loop must give identical components."""
    from plume_spark.operators.components import connected_components

    edges = spark.createDataFrame(
        [("b", "c"), ("a", "b"), ("x", "y"), ("m", "m"), ("c", "d")],
        ["src", "dst"],
    )
    fast = {
        (r["node"], r["component"])
        for r in connected_components(edges, "src", "dst").collect()
    }
    dist = {
        (r["node"], r["component"])
        for r in connected_components(
            edges, "src", "dst", driver_max_edges=0
        ).collect()
    }
    assert fast == dist
    assert ("d", "a") in fast and ("y", "x") in fast and ("m", "m") in fast


def test_hostile_inputs(spark):
    """Edge inputs must not error: empty transcript set, whitespace-only and
    unicode-only turns (no ASCII-uppercase mention starts by design),
    5000-char single tokens."""
    import datetime as dt

    from plume_spark.pipeline import run_pipeline
    from plume_spark.schemas import TRANSCRIPTS

    empty = spark.createDataFrame([], schema=TRANSCRIPTS)
    res = run_pipeline(empty, persist_changelog=False)
    assert res.triples.count() == 0 and res.entities.count() == 0

    ts = dt.datetime(2025, 1, 1)
    hostile = spark.createDataFrame(
        [
            ("c1", 0, "user", "   \t  ", None, ts),
            ("c1", 1, "user", "日本語のテキストだけの発話です", None, ts),
            ("c1", 2, "user", "x" * 5000, None, ts),
            ("c1", 3, "user", "Alice Smith works at " + "Acme" + "x" * 4000, None, ts),
        ],
        schema=TRANSCRIPTS,
    )
    res2 = run_pipeline(hostile, persist_changelog=False)
    assert res2.rejects.count() == 0  # none malformed, just hostile
    assert res2.triples.count() >= 1  # the Alice row still links

    big_doc = spark.createDataFrame([(0, "y" * 5000), (1, "")], ["doc_id", "text"])
    assert dedup.exact_dedup(big_doc).count() == 2


def test_xxh64_matches_spark(spark):
    """The driver kernel's vectorized XXH64 must be bit-identical to Spark's
    xxhash64 expression (seed 42) — the guarantee that the driver-local and
    distributed linking paths hash the same gram to the same value."""
    import numpy as np

    from plume_spark.functions.xxh64 import xxh64_fixed

    grams = ["abc", "cus", "0 1", "a\x00\x00", "zz9", " 00", "x y", "q7 "]
    df = spark.createDataFrame([(g,) for g in grams], ["g"]).select(
        "g", F.xxhash64("g").alias("h")
    )
    spark_h = {r["g"]: r["h"] for r in df.collect()}
    codes = [np.frombuffer(g.encode("latin-1"), dtype=np.uint8).astype(np.uint64) for g in grams]
    cols = [np.array([c[b] for c in codes], dtype=np.uint64) for b in range(3)]
    mine = xxh64_fixed(cols, 3).view(np.int64)
    assert all(spark_h[g] == int(m) for g, m in zip(grams, mine))


def test_driver_link_kernel_equals_distributed(spark):
    """Size-adaptive linking: the driver kernel and the distributed
    LSH+verify pipeline must emit the SAME verified pair set, and
    norm_components must give the same canonicalization either way."""
    from plume_spark.generator import generate_transcripts
    from plume_spark.operators import canonicalize
    from plume_spark.operators.extraction import extract_changelog, split_changelog
    from plume_spark.operators.linking import driver_link_kernel, verified_pairs

    t = generate_transcripts(spark, 40, seed=11)
    mentions, _ = split_changelog(extract_changelog(t))
    norms_df = mentions.select("norm").distinct()
    vals = sorted(r["norm"] for r in norms_df.collect())
    for tau in (0.55, 0.95):
        dist = {tuple(r) for r in verified_pairs(norms_df, "norm", tau=tau).collect()}
        kern = set(driver_link_kernel(vals, tau=tau))
        assert dist == kern, (tau, dist ^ kern)
    # the driver kernel when the caller hands over the collected norms,
    # the distributed chain otherwise
    fast = {
        (r["norm"], r["canonical_norm"])
        for r in canonicalize.norm_components(mentions, norms=vals).collect()
    }
    slow = {
        (r["norm"], r["canonical_norm"])
        for r in canonicalize.norm_components(mentions).collect()
    }
    assert fast == slow


# (norm, kind) mention sets for the two build_entities paths.  With tau 0.55
# each one-letter variant links to its stem, so every set below but
# null_norm has multi-member components; a NULL norm yields no entity.
_ENTITY_MENTIONS = {
    "null_kind_hints": [
        ("lonely planet", None), ("lonely planets", None),
        ("lonely planet", "entity"), ("solo artist", None), ("solo artists", "person"),
    ],
    "all_entity_components": [
        ("quantum widget", "entity"), ("quantum widgets", "entity"),
        ("quantum widgetx", "entity"), ("other thing", "entity"),
    ],
    "mixed_kind_components": [
        ("alexander hamilton", "person"), ("alexander hamiltons", "org"),
        ("alexander hamilton", "entity"), ("acme corporation", "org"),
        ("acme corporations", "tool"), ("acme corporationx", "artifact"),
        ("zacme corporation", "org"), ("macme corporation", "org"),
        ("zebra", "tool"), ("zebra", "org"),
    ],
    "empty": [],
    "null_norm": [("acme", "org"), (None, "person")],
}


def _entity_tables(spark, rows, driver: bool):
    from plume_spark.operators import canonicalize

    mentions = spark.createDataFrame(rows, "norm string, kind string")
    saved = canonicalize.DRIVER_LINK_MAX_NORMS
    # uncoalesced, the dictionary arrives in several hash partitions, each
    # sorted by norm: alias order must not depend on how they concatenate
    coalesce = "spark.sql.adaptive.coalescePartitions.enabled"
    try:
        spark.conf.set(coalesce, "false")
        if not driver:
            canonicalize.DRIVER_LINK_MAX_NORMS = 0  # force distributed
        ents, n2e = canonicalize.build_entities(mentions, tau=0.55)
    finally:
        canonicalize.DRIVER_LINK_MAX_NORMS = saved
        spark.conf.set(coalesce, "true")
    return (
        ents,
        n2e,
        sorted((r["entity_id"], r["canonical_name"], r["kind"], tuple(r["aliases"])) for r in ents.collect()),
        sorted((r["norm"], r["entity_id"]) for r in n2e.collect()),
    )


@pytest.mark.parametrize("case", sorted(_ENTITY_MENTIONS))
def test_build_entities_driver_and_distributed_paths_agree(spark, case):
    """build_entities' driver path (Python assembly over one dictionary
    collect) and its distributed path give equal entities — ids, names,
    kinds and alias ORDER — and equal norm->entity dictionaries.  The driver
    path's frames are local relations."""
    rows = _ENTITY_MENTIONS[case]
    d_ents, d_n2e, fast_ents, fast_n2e = _entity_tables(spark, rows, driver=True)
    _, _, slow_ents, slow_n2e = _entity_tables(spark, rows, driver=False)
    assert fast_ents == slow_ents
    assert fast_n2e == slow_n2e
    for df in (d_ents, d_n2e):
        assert df._jdf.queryExecution().optimizedPlan().toString().startswith("LocalRelation")
    if rows:
        assert len(fast_ents) < len({n for n, _ in rows})  # some norms did merge
    kinds = {name: kind for _, name, kind, _ in fast_ents}
    if case == "all_entity_components":
        assert set(kinds.values()) == {"entity"}
    if case == "mixed_kind_components":
        # smallest non-'entity' kind over all members of the component
        assert kinds == {
            "alexander hamilton": "org", "acme corporation": "artifact", "zebra": "org",
        }
    if case == "null_kind_hints":
        assert kinds == {"lonely planet": "entity", "solo artist": "person"}
    if case == "null_norm":
        assert kinds == {"acme": "org"} and fast_n2e == [("acme", fast_ents[0][0])]


def test_salted_join_and_salted_cc(spark):
    """salted_join must be row-equivalent to a plain join (hot key included),
    and the salted distributed CC loop must match the unsalted one."""
    from plume_spark.operators.components import connected_components
    from plume_spark.operators.skew import salted_join

    left = spark.createDataFrame(
        [("hot", i) for i in range(200)] + [("cold", 0), ("miss", 1)], ["k", "v"]
    )
    right = spark.createDataFrame([("hot", 10), ("cold", 20)], ["k", "w"])
    plain = {tuple(r) for r in left.join(right, "k").collect()}
    salted = {tuple(r) for r in salted_join(left, right, "k", n_salts=4).collect()}
    assert plain == salted and len(plain) == 201

    edges = spark.createDataFrame(
        [("hub", f"n{i}") for i in range(50)] + [("n0", "n1"), ("iso", "iso2")],
        ["src", "dst"],
    )
    base = {
        tuple(r)
        for r in connected_components(edges, driver_max_edges=0).collect()
    }
    salted_cc = {
        tuple(r)
        for r in connected_components(
            edges, driver_max_edges=0, n_salts=4, hot_key_min_degree=10
        ).collect()
    }
    assert base == salted_cc

    # n_salts with nothing over the degree threshold degrades to plain join
    lazy_cc = {
        tuple(r)
        for r in connected_components(edges, driver_max_edges=0, n_salts=4).collect()
    }
    assert base == lazy_cc

    # outer-on-right joins would duplicate unmatched right rows -> refused
    import pytest

    with pytest.raises(ValueError, match="salted_join supports"):
        salted_join(left, right, "k", n_salts=4, how="full")


def test_cc_nonconvergence_raises(spark):
    """A chain longer than max_iters hops cannot converge — the loop must
    fail loudly instead of returning silently-partial labels."""
    import pytest

    from plume_spark.operators.components import connected_components

    chain = spark.createDataFrame(
        [(f"n{i:03d}", f"n{i + 1:03d}") for i in range(30)], ["src", "dst"]
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(chain, driver_max_edges=0, max_iters=3)
    ok = connected_components(chain, driver_max_edges=0, max_iters=40)
    assert ok.select("component").distinct().count() == 1


def test_xxh64_ngrams_rejects_non_ascii():
    import pytest

    from plume_spark.functions.xxh64 import xxh64_ngrams

    with pytest.raises(NotImplementedError, match="ASCII-only"):
        xxh64_ngrams(["café norm"], 3)


def test_no_rowwise_python_in_plans(spark, docs):
    """SURVEY §7 hard part (d): Python appears only as Arrow-batched nodes
    (ArrowEvalPython / FlatMapGroupsInPandas / MapInPandas) — never as
    row-at-a-time BatchEvalPython."""
    from plume_spark.generator import generate_transcripts
    from plume_spark.pipeline import run_pipeline

    t = generate_transcripts(spark, 4, seed=0)
    result = run_pipeline(t, persist_changelog=False)
    for df in [result.triples, dedup.minhash_dedup(docs)]:
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "BatchEvalPython" not in plan, plan[:2000]


def test_pagerank_hand_computed(spark):
    """Two synchronous iterations on 1->{2,3}, 2->3, from uniform 1.0 at
    damping 0.85 (values derived by hand):
      iter1: r = (0.15, 0.575, 1.425); iter2: r = (0.15, 0.21375, 0.7025)."""
    from plume_spark.operators.pagerank import pagerank

    edges = spark.createDataFrame([(1, 2), (1, 3), (2, 3)], ["subj", "obj"])
    got = {r["node"]: r["rank_ppm"] for r in pagerank(edges, n_iters=2).collect()}
    assert got == {1: 150000, 2: 213750, 3: 702500}
    # duplicate edges must not change the result (distinct edge semantics)
    dup = edges.unionByName(edges)
    assert {
        r["node"]: r["rank_ppm"] for r in pagerank(dup, n_iters=2).collect()
    } == got


def test_hot_keys_diagnostic(spark):
    from plume_spark.operators.skew import hot_keys

    df = spark.createDataFrame(
        [("a",)] * 6 + [("b",)] * 3 + [("c",)] * 1, ["k"]
    )
    rows = hot_keys(df, "k", top_n=5).collect()
    assert [(r["key_value"], r["cnt"]) for r in rows] == [("a", 6), ("b", 3)]
    assert rows[0]["share"] == 0.6  # 6/10, exact at 6dp


def test_asof_join_semantics(spark):
    """Hand-built case: latest-at-or-before match, strict vs non-strict at an
    equal timestamp, unmatched-left nulls, and tie collapse to max value."""
    import datetime as dt

    from plume_spark.operators.temporal import asof_join

    t = lambda s: dt.datetime(2024, 1, 1, 0, 0, s)
    left = spark.createDataFrame(
        [(1, "u1", t(10)), (2, "u1", t(20)), (3, "u2", t(5))],
        ["event_id", "user_id", "ts"],
    )
    right = spark.createDataFrame(
        [("u1", t(10), 100), ("u1", t(10), 101), ("u1", t(15), 102), ("u3", t(1), 103)],
        ["user_id", "ts", "event_id"],
    )
    got = {
        r["event_id"]: r["m_event_id"]
        for r in asof_join(left, right, key="user_id", prefix="m_").collect()
    }
    # non-strict: ts==10 matches the tied pair collapsed to MAX=101
    assert got == {1: 101, 2: 102, 3: None}
    strict = {
        r["event_id"]: r["m_event_id"]
        for r in asof_join(left, right, key="user_id", prefix="m_", strict=True).collect()
    }
    assert strict == {1: None, 2: 102, 3: None}


def test_range_join_count_semantics(spark):
    import datetime as dt

    from plume_spark.operators.temporal import range_join_count

    t = lambda s: dt.datetime(2024, 1, 1, 0, 0, s, 500000)  # sub-second offsets
    left = spark.createDataFrame(
        [(1, "u1", t(30)), (2, "u2", t(30))], ["event_id", "user_id", "ts"]
    )
    right = spark.createDataFrame(
        [("u1", t(25)), ("u1", t(30)), ("u1", dt.datetime(2024, 1, 1, 0, 0, 20, 499999)),
         ("u2", t(50))],
        ["user_id", "ts"],
    )
    got = {
        r["event_id"]: r["n_in_range"]
        for r in range_join_count(
            left, right, key="user_id", before_s=10, after_s=0
        ).collect()
    }
    # u1@30.5: window [20.5, 30.5] -> 25.5 and 30.5 in, 20.499999 out (exact
    # sub-second boundary); u2@30.5: later right row only -> 0 (LEFT row kept)
    assert got == {1: 2, 2: 0}


def test_incremental_neardup_equals_full(spark):
    """Index old docs once, dedup the new batch against it: pairs touching a
    new doc must be identical (incl. jaccard) to a full re-run's, and no
    old-old pair may appear."""
    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    old = d.filter(F.col("doc_id") % 4 != 0)
    new = d.filter(F.col("doc_id") % 4 == 0)
    osigs, otoks = dedup.minhash_state(old)
    nsigs, ntoks = dedup.minhash_state(new)
    incr = {
        (r["doc_a"], r["doc_b"]): round(r["jaccard"], 6)
        for r in dedup.incremental_neardup(osigs, otoks, nsigs, ntoks).collect()
    }
    asigs, atoks = dedup.minhash_state(d)
    full = {
        (r["doc_a"], r["doc_b"]): round(r["jaccard"], 6)
        for r in dedup.incremental_neardup(None, None, asigs, atoks).collect()
    }
    expected = {p: j for p, j in full.items() if p[0] % 4 == 0 or p[1] % 4 == 0}
    assert incr == expected
    assert all(a % 4 == 0 or b % 4 == 0 for a, b in incr)
    assert expected, "fixture must produce at least one cross-batch pair"


def test_incremental_neardup_via_persisted_index(spark, tmp_path):
    """The two-run shape: run 1 indexes a batch into SnapshotTables; run 2
    reloads the index from disk and dedups a new batch against it — output
    equals the in-memory incremental path."""
    from plume_spark.store.catalog import SnapshotTable

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    old = d.filter(F.col("doc_id") % 4 != 0)
    new = d.filter(F.col("doc_id") % 4 == 0)

    osigs, otoks = dedup.minhash_state(old)
    sig_t = SnapshotTable(spark, str(tmp_path / "sigs"))
    tok_t = SnapshotTable(spark, str(tmp_path / "toks"))
    sig_t.append(osigs)
    tok_t.append(otoks)

    nsigs, ntoks = dedup.minhash_state(new)
    from_disk = {
        (r["doc_a"], r["doc_b"]): round(r["jaccard"], 6)
        for r in dedup.incremental_neardup(
            sig_t.read(), tok_t.read(), nsigs, ntoks
        ).collect()
    }
    in_memory = {
        (r["doc_a"], r["doc_b"]): round(r["jaccard"], 6)
        for r in dedup.incremental_neardup(osigs, otoks, nsigs, ntoks).collect()
    }
    assert from_disk == in_memory and from_disk
    # run 3: fold the new batch into the index (idempotent on doc_id re-land)
    sig_t.merge_insert(nsigs, keys=["doc_id", "h"])
    tok_t.merge_insert(ntoks, keys=["doc_id", "tok_id"])
    assert sig_t.read().select("doc_id").distinct().count() == d.count()


def test_triangle_count_hand_computed(spark):
    from plume_spark.operators.graph_metrics import co_occurrence_edges, triangle_count

    # K4 on {1,2,3,4} plus a pendant 5: each K4 node sits in C(3,2)=3
    # triangles, the pendant in none
    edges = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)] + [(4, 5)]
    e = spark.createDataFrame(edges, ["a", "b"])
    got = {r["node"]: r["n_triangles"] for r in triangle_count(e).collect()}
    assert got == {1: 3, 2: 3, 3: 3, 4: 3}
    # symmetric both-ways input and self-loops must canonicalize, not octuple
    sym = edges + [(b, a) for a, b in edges] + [(1, 1)]
    e2 = spark.createDataFrame(sym, ["a", "b"])
    got2 = {r["node"]: r["n_triangles"] for r in triangle_count(e2).collect()}
    assert got2 == got

    # co-occurrence: items sharing groups; hub group (> cap) dropped
    rows = [("g1", i) for i in (1, 2, 3)] + [("g2", i) for i in (2, 3)] + [
        ("hub", i) for i in range(100)
    ]
    df = spark.createDataFrame(rows, ["grp", "item"])
    pairs = {(r["a"], r["b"]): r["n_groups"]
             for r in co_occurrence_edges(df, "grp", "item", max_group_size=10).collect()}
    assert pairs == {(1, 2): 1, (1, 3): 1, (2, 3): 2}


def test_all_contract_plans_are_arrow_only(spark):
    """Every contract query's physical plan is free of row-at-a-time Python
    (BatchEvalPython); Python may appear only as Arrow-batched nodes.  Runs
    at sf0.001 and skips the two queries that execute side effects at plan
    time (streaming drain, driver-kernel collect paths are still covered by
    their own tests)."""
    import __spark_entry__ as entrymod

    skip = {  # execute real streams / store builds (side effects) on invocation
        "stream_ordered_release",
        "stream_sessionize",
        "stream_kg_build",
        "stream_turn_counts",
        "kg_build_incr",
    }
    for name, fn in entrymod.queries().items():
        if name in skip:
            continue
        df = fn(spark, "/root/testdata/sf0.001")
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "BatchEvalPython" not in plan, (name, plan[:1500])


def test_k_core_hand_computed(spark):
    """K4 plus a tail 4-5-6: the 3-core is exactly the K4 (every K4 node
    keeps degree 3), the tail peels off over two rounds (6 first, then 5)."""
    from plume_spark.operators.graph_metrics import k_core

    k4 = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
    e = spark.createDataFrame(k4 + [(4, 5), (5, 6)], ["a", "b"])
    got = {r["node"]: r["core_deg"] for r in k_core(e, k=3).collect()}
    assert got == {1: 3, 2: 3, 3: 3, 4: 3}
    # k above the densest core -> empty, converged (no raise)
    assert k_core(e, k=4).count() == 0
    # non-convergence within max_iters raises loudly (oracle-unroll safety):
    # a 10-chain peels one edge per round end-to-end under k=2? no — chain
    # endpoints peel simultaneously, ~n/2 rounds; force max_iters=1 instead
    chain = spark.createDataFrame([(i, i + 1) for i in range(8)], ["a", "b"])
    with pytest.raises(RuntimeError, match="did not converge"):
        k_core(chain, k=2, max_iters=1)


def test_common_neighbors_hand_computed(spark):
    """Path 1-2-3 plus 1-4, 3-4: non-adjacent pair (1,3) shares {2,4};
    adjacent pairs are excluded; Jaccard uses full degrees."""
    from plume_spark.operators.graph_metrics import common_neighbors

    e = spark.createDataFrame([(1, 2), (2, 3), (1, 4), (3, 4)], ["a", "b"])
    rows = {(r["a"], r["b"]): (r["common"], r["jaccard"])
            for r in common_neighbors(e).collect()}
    # deg: 1->2, 2->2, 3->2, 4->2; (1,3): common {2,4} = 2, J = 2/(2+2-2) = 1
    # (2,4): common {1,3} = 2, J = 1; adjacent pairs absent
    assert rows == {(1, 3): (2, 1.0), (2, 4): (2, 1.0)}
    # hub middles above the cap generate no wedges: star center 0 with 5
    # spokes at cap 4 -> no candidate pairs at all
    star = spark.createDataFrame([(0, i) for i in range(1, 6)], ["a", "b"])
    assert common_neighbors(star, max_degree=4).count() == 0
    # at cap >= 5 the star yields all C(5,2) spoke pairs with common=1
    assert common_neighbors(star, max_degree=5).count() == 10


def test_lsh_and_pair_strategies_bit_identical(spark):
    """The codegen (unrolled) and HOF (interpreted) evaluation paths of the
    LSH projection and the blocked pair join must produce IDENTICAL
    results — the auto switch picks by size estimate, so the choice must never be observable in values.  (The gate data is small
    enough that auto always picks HOF; this test is what keeps the scale
    path honest.)"""
    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")

    def rows(df):
        return sorted(map(tuple, df.collect()))

    b_c = similarity.lsh_buckets(e, strategy="codegen")
    b_h = similarity.lsh_buckets(e, strategy="hof")
    assert rows(b_c) == rows(b_h)

    blocked = e.join(b_c.withColumnRenamed("bucket", "blk_b"), "vec_id")
    p_c = similarity.blocked_cosine_pairs(blocked, "blk_b", tau=-1.0, strategy="codegen")
    p_h = similarity.blocked_cosine_pairs(blocked, "blk_b", tau=-1.0, strategy="hof")
    assert rows(p_c) == rows(p_h)


def test_graph_and_knn_hostile_inputs(spark):
    """k_core / common_neighbors on degenerate inputs: empty edge sets and
    self-loops only — sane empties, no crash."""
    from plume_spark.operators.graph_metrics import common_neighbors, k_core

    empty = spark.createDataFrame([], "a long, b long")
    assert k_core(empty, k=2).count() == 0
    assert common_neighbors(empty).count() == 0
    loops = spark.createDataFrame([(1, 1), (2, 2)], ["a", "b"])
    assert k_core(loops, k=1).count() == 0  # self-loops dropped -> no edges
    assert common_neighbors(loops).count() == 0


def test_k_core_empties_on_final_round(spark):
    """A peel that empties the graph exactly on round max_iters is a
    converged (empty) core, not a convergence failure — the boundary the
    top-of-loop guard used to miss."""
    from plume_spark.operators.graph_metrics import k_core

    e = spark.createDataFrame([(1, 2)], ["a", "b"])
    assert k_core(e, k=2, max_iters=1).count() == 0


def test_clustering_coefficient_known_graph(spark):
    """Triangle 1-2-3 plus pendant 3-4: cc(1)=cc(2)=1.0 (deg 2, one
    triangle), cc(3)=2*1/(3*2)=0.3333, cc(4)=0.0 (deg 1)."""
    from plume_spark.operators.graph_metrics import clustering_coefficient

    e = spark.createDataFrame([(1, 2), (2, 3), (1, 3), (3, 4)], ["a", "b"])
    got = {
        r["node"]: (r["deg"], r["n_triangles"], r["cc"])
        for r in clustering_coefficient(e).collect()
    }
    assert got == {
        1: (2, 1, 1.0),
        2: (2, 1, 1.0),
        3: (3, 1, 0.3333),
        4: (1, 0, 0.0),
    }


def test_peak_concurrency_midnight_span_and_ties(spark):
    """A session spanning midnight counts toward BOTH days (clipped to day
    bounds); touching sessions (end == next start) count as concurrent
    under the starts-before-ends tie rule; a single-point session still
    registers."""
    import datetime as dt

    from plume_spark.operators.temporal import peak_concurrency

    T = dt.datetime
    rows = [
        # spans midnight: active on the 1st and the 2nd
        (T(2024, 1, 1, 23, 0), T(2024, 1, 2, 1, 0)),
        # touches the end of the midnight session exactly -> concurrent
        (T(2024, 1, 2, 1, 0), T(2024, 1, 2, 2, 0)),
        # instantaneous session later that day
        (T(2024, 1, 2, 12, 0), T(2024, 1, 2, 12, 0)),
    ]
    df = spark.createDataFrame(rows, "s_start timestamp, s_end timestamp")
    got = {str(r["day"]): r for r in peak_concurrency(df).collect()}
    assert got["2024-01-01"]["peak_concurrency"] == 1
    assert got["2024-01-01"]["n_active"] == 1
    # at 01:00 on the 2nd, the midnight session's end ties the next start:
    # start sorts first -> both active -> peak 2
    assert got["2024-01-02"]["peak_concurrency"] == 2
    assert got["2024-01-02"]["n_active"] == 3


def test_edge_lift_known_graph(spark):
    """Hand-checked lift on a 3-group toy: (a,b) co-occur in 2 of 3 groups,
    each item appears in 2 or 3 -> lift = n_ab * N / (n_a * n_b)."""
    from plume_spark.operators.graph_metrics import edge_lift

    rows = [
        ("g1", "a"), ("g1", "b"),
        ("g2", "a"), ("g2", "b"), ("g2", "c"),
        ("g3", "a"), ("g3", "c"),
    ]
    df = spark.createDataFrame(rows, ["grp", "item"])
    got = {(r["a"], r["b"]): r for r in edge_lift(df, "grp", "item", min_groups=2).collect()}
    ab = got[("a", "b")]
    assert (ab["n_groups"], ab["n_a"], ab["n_b"]) == (2, 3, 2)
    assert ab["lift"] == round(2 * 3 / (3 * 2), 6) == 1.0
    ac = got[("a", "c")]
    assert ac["lift"] == round(2 * 3 / (3 * 2), 6)
    # (b, c) share only g2 -> filtered by min_groups=2
    assert ("b", "c") not in got


def test_new_substrates_turn_ordering_invariants(spark):
    """The north-rule W1 invariant on the round-4 substrates: turn_idx is
    dense 0..n-1 and unique per conversation, and the whole derivation is
    deterministic across independent evaluations (resume/idempotency rests
    on this).  kg_transcripts_varied additionally must carry every 'met'
    reverse turn in the SAME conversation as its forward turn."""
    from pyspark.sql import functions as F

    from plume_spark import graft

    sf = "/root/testdata/sf0.001"
    for fn in (graft.kg_transcripts_varied, graft.kg_transcripts_alias):
        t = fn(spark, sf)
        agg = t.groupBy("conv_id").agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("turn_idx").alias("d"),
            F.max("turn_idx").alias("mx"),
            F.min("turn_idx").alias("mn"),
        )
        bad = agg.filter(
            (F.col("n") != F.col("d"))
            | (F.col("mx") != F.col("n") - 1)
            | (F.col("mn") != 0)
        ).count()
        assert bad == 0, fn.__name__
        a = sorted(map(tuple, t.collect()))
        b = sorted(map(tuple, fn(spark, sf).collect()))
        assert a == b, fn.__name__
    # every reverse 'met' text has its forward twin in the same conv
    v = graft.kg_transcripts_varied(spark, sf)
    # regexp_extract (empty on no match) instead of split+getItem: ANSI mode
    # errors on out-of-bounds getItem when the optimizer collapses the
    # projection with the filter and evaluates it on non-'met' rows
    pairs = v.select(
        "conv_id",
        F.regexp_extract("text", "^(.*) met (.*)$", 1).alias("x"),
        F.regexp_extract("text", "^(.*) met (.*)$", 2).alias("y"),
    ).filter(F.col("x") != "")
    rev = pairs.select(
        "conv_id", F.col("y").alias("x"), F.col("x").alias("y")
    ).distinct()
    n_sym = pairs.join(rev, ["conv_id", "x", "y"], "left_semi").count()
    assert 0 < n_sym < pairs.count()

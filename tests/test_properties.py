"""Property-based tests (hypothesis) for the driver-side kernels the flagship
pipeline's correctness rests on.  The reference leans on deterministic fixture
round-trips (PlumeDriverFixture.scala); these go further: randomized inputs
probe the exact invariants each kernel promises, so a regression shows up as a
minimal counterexample instead of a silent drift.

Spark-comparing tests keep max_examples tiny (each example is a Spark job);
pure-Python/numpy kernels get hundreds of examples.
"""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F
from pyspark.sql import types as T

from plume_spark.functions.textnorm import norm_py
from plume_spark.functions.xxh64 import xxh64_ngrams, xxhash64
from plume_spark.operators.components import _driver_union_find
from plume_spark.operators.linking import JACCARD_TAU, driver_link_kernel, gram_array

# ---------------------------------------------------------------- union-find


def _bfs_components(edges: list[tuple[int, int]]) -> dict[int, int]:
    adj: dict[int, set[int]] = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    label: dict[int, int] = {}
    for start in adj:
        if start in label:
            continue
        seen, queue = {start}, [start]
        while queue:
            x = queue.pop()
            for y in adj[x]:
                if y not in seen:
                    seen.add(y)
                    queue.append(y)
        lo = min(seen)
        for x in seen:
            label[x] = lo
    return label


@given(st.lists(st.tuples(st.integers(0, 40), st.integers(0, 40)), max_size=120))
@settings(max_examples=300, deadline=None)
def test_union_find_matches_bfs(edges):
    """_driver_union_find's contract: component label == min member, exactly
    the partition a naive BFS produces, for any edge multiset (self-loops and
    duplicates included)."""
    assert dict(_driver_union_find(edges)) == _bfs_components(edges)


# ------------------------------------------------------------------ textnorm


@given(st.text(max_size=80))
@settings(max_examples=300, deadline=None)
def test_norm_py_idempotent_and_closed(s):
    """norm_py is a projection: applying it twice changes nothing, the output
    alphabet is closed over [a-z0-9 ] (single spaces, no edge spaces), and no
    legal-entity suffix survives as a standalone word."""
    once = norm_py(s)
    assert norm_py(once) == once
    assert set(once) <= set("abcdefghijklmnopqrstuvwxyz0123456789 ")
    assert "  " not in once and once == once.strip()
    assert not ({"corp", "inc", "ltd", "llc", "co"} & set(once.split()))


@given(st.lists(st.text(max_size=40), min_size=1, max_size=60, unique=True))
@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_norm_py_matches_norm_col(spark, strings):
    """The Python twin and the Spark column expression are the same function —
    the linking kernel normalizes driver-side with norm_py, the distributed
    path with norm_col; any divergence splits one entity into two."""
    from plume_spark.functions.textnorm import norm_col

    df = spark.createDataFrame([(s,) for s in strings], "s string")
    got = {r["s"]: r["n"] for r in df.select("s", norm_col("s").alias("n")).collect()}
    assert got == {s: norm_py(s) for s in strings}


# ----------------------------------------------------------------- xxh64


_ascii_word = st.text(
    alphabet=st.characters(min_codepoint=32, max_codepoint=126),
    min_size=1,
    max_size=24,
)


@given(st.lists(_ascii_word, min_size=1, max_size=40, unique=True))
@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_xxh64_ngrams_matches_spark(spark, strings):
    """The numpy XXH64 kernel must be BIT-identical to Spark's xxhash64 over
    every string's distinct 3-grams (same NUL padding) — the driver linking
    kernel's equality with the distributed path rests on this."""
    # the kernel returns uint64 bit patterns; Spark's xxhash64 is signed int64
    kernel = {
        s: set(int(h) for h in hs.astype(np.int64))
        for s, hs in zip(strings, xxh64_ngrams(strings))
    }
    df = spark.createDataFrame([(s,) for s in strings], "norm string")
    rows = (
        df.select("norm", F.explode(gram_array("norm")).alias("g"))
        .select("norm", F.xxhash64("g").alias("h"))
        .collect()
    )
    jvm: dict[str, set[int]] = {s: set() for s in strings}
    for r in rows:
        jvm[r["norm"]].add(int(r["h"]))
    assert kernel == jvm


_N_BUCKETS = 16


def _assert_buckets_match_spark(spark, values, dtype: T.DataType):
    """Driver-side (xxhash64, bucket id) equals Spark's (xxhash64(v),
    pmod(xxhash64(v), n)) — the pair the store's write path assigns."""
    df = spark.createDataFrame(
        list(enumerate(values)),
        T.StructType([T.StructField("i", T.IntegerType()), T.StructField("v", dtype)]),
    )
    h = F.xxhash64("v")
    rows = df.select("i", h.alias("h"), F.pmod(h, F.lit(_N_BUCKETS)).cast("int").alias("b"))
    jvm = {r["i"]: (r["h"], r["b"]) for r in rows.collect()}
    mine = {i: (xxhash64(v, dtype), xxhash64(v, dtype) % _N_BUCKETS) for i, v in enumerate(values)}
    assert mine == jvm


_bucket_settings = settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@given(st.lists(st.integers(-(2**63), 2**63 - 1), max_size=30))
@_bucket_settings
def test_scalar_bucket_hash_matches_spark_long(spark, values):
    _assert_buckets_match_spark(spark, [0, -1, -(2**63), 2**63 - 1, None, *values], T.LongType())


@given(st.lists(st.integers(-(2**31), 2**31 - 1), max_size=30))
@_bucket_settings
def test_scalar_bucket_hash_matches_spark_int(spark, values):
    _assert_buckets_match_spark(spark, [0, -1, -(2**31), 2**31 - 1, *values], T.IntegerType())


@given(st.lists(st.text(max_size=80), max_size=30))
@_bucket_settings
def test_scalar_bucket_hash_matches_spark_string(spark, values):
    # every XXH64 tail and stripe boundary by byte length (31/32/33, 64+),
    # plus multi-byte UTF-8 ("é" is 2 bytes, "日" 3, "𝔸" 4)
    edges = ["", "a", "x" * 31, "x" * 32, "x" * 33, "y" * 71, "é" * 16, "日本語" * 11, "𝔸" * 9]
    _assert_buckets_match_spark(spark, edges + values, T.StringType())


def test_scalar_bucket_hash_rejects_other_types():
    for dtype in (T.DoubleType(), T.ShortType(), T.DateType(), None):
        with pytest.raises(TypeError):
            xxhash64(1, dtype)


# ------------------------------------------------------------- link kernel


def _grams(s: str) -> set[str]:
    p = s + "\x00" * (3 - len(s)) if len(s) < 3 else s
    return {p[i : i + 3] for i in range(len(p) - 2)}


@given(
    st.lists(
        st.text(alphabet="abcdef012 ", min_size=1, max_size=20),
        min_size=0,
        max_size=50,
        unique=True,
    )
)
@settings(max_examples=100, deadline=None)
def test_driver_link_kernel_precision_and_determinism(norms):
    """Every pair the kernel emits is (a) canonical-ordered, (b) between two
    input norms, (c) exactly verified: 3-gram Jaccard >= tau recomputed
    naively.  LSH may MISS pairs (recall < 1 by design) but must never emit a
    false positive, and the output is deterministic."""
    pairs = driver_link_kernel(norms)
    assert pairs == driver_link_kernel(norms)
    seen = set()
    for a, b in pairs:
        assert a < b and a in norms and b in norms
        assert (a, b) not in seen
        seen.add((a, b))
        ga, gb = _grams(a), _grams(b)
        j = len(ga & gb) / len(ga | gb)
        assert j >= JACCARD_TAU, (a, b, j)


# ------------------------------------------------------------ graph operators


@given(st.lists(st.tuples(st.integers(0, 14), st.integers(0, 14)), min_size=1, max_size=40))
@settings(max_examples=5, deadline=None, suppress_health_check=list(HealthCheck))
def test_triangle_count_matches_bruteforce(spark, raw_edges):
    """Degree-ordered distributed triangle counting == itertools brute force."""
    from itertools import combinations

    from plume_spark.operators.graph_metrics import triangle_count

    edges = sorted({(min(a, b), max(a, b)) for a, b in raw_edges if a != b})
    if not edges:
        return
    adj: dict[int, set[int]] = {}
    for x, y in edges:
        adj.setdefault(x, set()).add(y)
        adj.setdefault(y, set()).add(x)
    expected: dict[int, int] = {}
    for x, y, z in combinations(sorted(adj), 3):
        if y in adj[x] and z in adj[x] and z in adj[y]:
            for v in (x, y, z):
                expected[v] = expected.get(v, 0) + 1
    e = spark.createDataFrame(edges, ["a", "b"])
    got = {r["node"]: r["n_triangles"] for r in triangle_count(e).collect()}
    assert got == expected


@given(
    st.lists(st.tuples(st.integers(0, 11), st.integers(0, 11)), min_size=1, max_size=40),
    st.sets(st.integers(0, 11), min_size=1, max_size=3),
)
@settings(max_examples=5, deadline=None, suppress_health_check=list(HealthCheck))
def test_bfs_distances_match_bruteforce(spark, raw_edges, seeds):
    """bfs_distances == Python level-order BFS on random directed graphs,
    cycles and self-loops included (the cyclic case the contract query's
    DAG never exercises)."""
    from collections import deque

    from plume_spark.operators.traversal import bfs_distances

    adj: dict[int, set[int]] = {}
    for a, b in raw_edges:
        adj.setdefault(a, set()).add(b)
    expected: dict[int, int] = {s: 0 for s in seeds}
    dq = deque(seeds)
    while dq:
        u = dq.popleft()
        for v in adj.get(u, ()):
            if v not in expected:
                expected[v] = expected[u] + 1
                dq.append(v)
    e = spark.createDataFrame(list({(a, b) for a, b in raw_edges}), ["subj", "obj"])
    s = spark.createDataFrame([(x,) for x in seeds], ["node"])
    got = {r["node"]: r["dist"] for r in bfs_distances(e, s).collect()}
    assert got == expected


@given(
    st.lists(st.tuples(st.integers(0, 9), st.integers(0, 9)), min_size=1, max_size=30),
    st.integers(1, 3),
)
@settings(max_examples=5, deadline=None, suppress_health_check=list(HealthCheck))
def test_label_propagation_matches_bruteforce(spark, raw_edges, n_iters):
    """Synchronous LPA == Python reference (neighbor-majority, min-label
    tie-break, simultaneous update) on random graphs."""
    from collections import Counter

    from plume_spark.operators.graph_metrics import label_propagation

    sym: dict[int, set[int]] = {}
    for x, y in raw_edges:
        if x != y:
            sym.setdefault(x, set()).add(y)
            sym.setdefault(y, set()).add(x)
    if not sym:
        return
    labels = {n: n for n in sym}
    for _ in range(n_iters):
        nxt = {}
        for n, nbrs in sym.items():
            cnt = Counter(labels[v] for v in nbrs)
            top = max(cnt.values())
            nxt[n] = min(l for l, c in cnt.items() if c == top)
        labels = nxt
    e = spark.createDataFrame(list({(x, y) for x, y in raw_edges}), ["a", "b"])
    got = {r["node"]: r["label"] for r in label_propagation(e, n_iters=n_iters).collect()}
    assert got == labels


# ---------------------------------------------------------- round-3 operators


@given(st.lists(st.tuples(st.integers(0, 14), st.integers(0, 14)), min_size=1, max_size=40))
@settings(max_examples=5, deadline=None, suppress_health_check=list(HealthCheck))
def test_k_core_matches_bruteforce(spark, raw_edges):
    """Distributed whole-round peeling == Python peel loop on random graphs
    (self-loops dropped, duplicate/reversed edges canonicalized)."""
    from plume_spark.operators.graph_metrics import k_core

    edges = sorted({(min(a, b), max(a, b)) for a, b in raw_edges if a != b})
    if not edges:
        return
    k = 2
    cur = set(edges)
    while True:
        deg: dict[int, int] = {}
        for x, y in cur:
            deg[x] = deg.get(x, 0) + 1
            deg[y] = deg.get(y, 0) + 1
        keep = {n for n, d in deg.items() if d >= k}
        nxt = {(x, y) for x, y in cur if x in keep and y in keep}
        if nxt == cur:
            break
        cur = nxt
    expected: dict[int, int] = {}
    for x, y in cur:
        expected[x] = expected.get(x, 0) + 1
        expected[y] = expected.get(y, 0) + 1
    e = spark.createDataFrame(edges, ["a", "b"])
    got = {r["node"]: r["core_deg"]
           for r in k_core(e, k=k, max_iters=30).collect()}
    assert got == expected


@given(st.lists(st.tuples(st.integers(0, 14), st.integers(0, 14)), min_size=1, max_size=40))
@settings(max_examples=5, deadline=None, suppress_health_check=list(HealthCheck))
def test_common_neighbors_matches_bruteforce(spark, raw_edges):
    """Wedge-join common-neighbor counts == adjacency-set intersection on
    random graphs (uncapped: max_degree above any degree here)."""
    from itertools import combinations

    from plume_spark.operators.graph_metrics import common_neighbors

    edges = sorted({(min(a, b), max(a, b)) for a, b in raw_edges if a != b})
    if not edges:
        return
    adj: dict[int, set[int]] = {}
    for x, y in edges:
        adj.setdefault(x, set()).add(y)
        adj.setdefault(y, set()).add(x)
    expected = {}
    for x, y in combinations(sorted(adj), 2):
        if y in adj[x]:
            continue  # adjacent pairs excluded
        cn = len(adj[x] & adj[y])
        if cn:
            expected[(x, y)] = (cn, round(cn / (len(adj[x]) + len(adj[y]) - cn), 6))
    e = spark.createDataFrame(edges, ["a", "b"])
    got = {(r["a"], r["b"]): (r["common"], r["jaccard"])
           for r in common_neighbors(e, max_degree=10**6).collect()}
    assert got == expected


_hostile_text = st.text(
    alphabet=st.characters(min_codepoint=1, max_codepoint=0x2100),
    max_size=60,
)


def _oracle_changelog(conv_id: str, turn_idx: int, text: str) -> list[tuple]:
    """One turn's change-log records, in UDF-schema column order, derived
    from the golden extractor: a mention's arg_index is its position in the
    turn, and its kind is the obj-kind of the preceding relation, else the
    subj-kind of the following one, else 'entity'."""
    from tests import oracle

    ms = oracle.mentions_of(text)
    rels = oracle.relations_of(text)
    out = []
    for i, (surface, start, end) in enumerate(ms):
        kind = rels[i - 1][4] if i > 0 else rels[i][3] if i < len(rels) else "entity"
        out.append(
            ("mention", conv_id, turn_idx, surface, oracle.norm(surface), kind, start, end, i)
            + (None,) * 7
        )
    for subj, pred, obj, sk, ok in rels:
        out.append(
            ("triple", conv_id, turn_idx) + (None,) * 6
            + (pred, oracle.norm(subj), sk, oracle.norm(obj), ok, subj, obj)
        )
    return out


@given(st.lists(_hostile_text, min_size=1, max_size=12))
# random text seldom holds a keyword or a capitalized token at a turn edge
@example(["Ann met, then works at Acme Corp.", "so Bo uses (Tool) X"])
@example(["hello Ann", "Bob said hi to Cy", ""])
@settings(max_examples=60, deadline=None, suppress_health_check=list(HealthCheck))
def test_vectorized_kernel_equals_oracle(texts):
    """The extraction kernel emits exactly the golden extractor's records,
    on every change-log column, for adversarial unicode text (punctuation
    runs, control chars, empty/whitespace turns, several turns and
    conversations in one batch)."""
    import pandas as pd

    from plume_spark.operators.extraction import _UDF_SCHEMA, _extract_part_vec

    pdf = pd.DataFrame(
        {
            "conv_id": [f"c{i % 3}" for i in range(len(texts))],
            "turn_idx": list(range(len(texts))),
            "text": texts,
        }
    )
    got_df = _extract_part_vec(pdf.copy())
    assert list(got_df.columns) == [f.name for f in _UDF_SCHEMA.fields]

    def canon(v):
        if v is None or v is pd.NA or (isinstance(v, float) and v != v):
            return None
        return v if isinstance(v, str) else int(v)

    got = sorted(tuple(map(canon, t)) for t in got_df.itertuples(index=False, name=None))
    want = sorted(
        rec
        for c, t, text in zip(pdf["conv_id"], pdf["turn_idx"], texts)
        if text
        for rec in _oracle_changelog(c, t, text)
    )
    assert got == want


@given(st.lists(st.tuples(st.integers(0, 14), st.integers(0, 14)), min_size=1, max_size=40))
@settings(max_examples=5, deadline=None, suppress_health_check=list(HealthCheck))
def test_resource_allocation_matches_bruteforce(spark, raw_edges):
    """Wedge-join RA scores == adjacency-set brute force on random graphs
    (uncapped).  The fixed-point weight RA_SCALE div deg(z) must sum to the
    identical int64 on both paths — no tolerance."""
    from itertools import combinations

    from plume_spark.operators.graph_metrics import RA_SCALE, resource_allocation

    edges = sorted({(min(a, b), max(a, b)) for a, b in raw_edges if a != b})
    if not edges:
        return
    adj: dict[int, set[int]] = {}
    for x, y in edges:
        adj.setdefault(x, set()).add(y)
        adj.setdefault(y, set()).add(x)
    expected = {}
    for x, y in combinations(sorted(adj), 2):
        if y in adj[x]:
            continue
        common = adj[x] & adj[y]
        if common:
            expected[(x, y)] = (
                len(common),
                sum(RA_SCALE // len(adj[z]) for z in common),
            )
    e = spark.createDataFrame(edges, ["a", "b"])
    got = {(r["a"], r["b"]): (r["common"], r["ra_score"])
           for r in resource_allocation(e, max_degree=10**6).collect()}
    assert got == expected


@given(
    st.lists(st.tuples(st.integers(0, 11), st.integers(0, 11)), min_size=1, max_size=30),
    st.sets(st.integers(0, 11), min_size=1, max_size=3),
)
@settings(max_examples=5, deadline=None, suppress_health_check=list(HealthCheck))
def test_personalized_pagerank_matches_bruteforce(spark, raw_edges, seeds):
    """PPR joins == Python dict iteration of the identical recurrence on
    random directed graphs; ppm rounding gives at most 1 ulp-of-ppm slack
    (float sum order differs between the two paths)."""
    from plume_spark.operators.pagerank import personalized_pagerank

    edges = sorted({(a, b) for a, b in raw_edges if a != b})
    if not edges:
        return
    nodes = sorted({n for e in edges for n in e})
    seed_set = {s for s in seeds if s in nodes}
    if not seed_set:
        return
    out: dict[int, list[int]] = {}
    for s, d_ in edges:
        out.setdefault(s, []).append(d_)
    r = {n: (1.0 if n in seed_set else 0.0) for n in nodes}
    for _ in range(3):
        push: dict[int, float] = {n: 0.0 for n in nodes}
        for s, ds in out.items():
            for d_ in ds:
                push[d_] += r[s] / len(ds)
        r = {
            n: 0.15 * (1.0 if n in seed_set else 0.0) + 0.85 * push[n]
            for n in nodes
        }
    expected = {n: round(v * 1_000_000) for n, v in r.items() if round(v * 1e6) > 0}
    e = spark.createDataFrame(edges, ["subj", "obj"])
    sdf = spark.createDataFrame([(s,) for s in sorted(seed_set)], ["node"])
    got = {r_["node"]: r_["rank_ppm"]
           for r_ in personalized_pagerank(e, sdf, n_iters=3).collect()}
    assert set(got) == set(expected)
    for n in expected:
        assert abs(got[n] - expected[n]) <= 1, (n, got[n], expected[n])


@given(
    st.lists(st.tuples(st.integers(0, 11), st.integers(0, 11)), min_size=1, max_size=30),
    st.integers(1, 4),
)
@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
def test_power_iter_exact_sums(spark, raw_edges, n_iters):
    """pagerank's synchronous power iteration vs exact rational arithmetic
    (fractions.Fraction) of the same recurrence, self-loops and duplicate
    edges included: every node present and within 1 ppm (the only slack
    is float summation order before the ppm rounding)."""
    from fractions import Fraction

    from plume_spark.operators.pagerank import pagerank

    edges = sorted(set(raw_edges))
    nodes = sorted({n for e in edges for n in e})
    out: dict[int, list[int]] = {}
    for s_, d_ in edges:
        out.setdefault(s_, []).append(d_)
    damping = Fraction(85, 100)
    r = {n: Fraction(1) for n in nodes}
    for _ in range(n_iters):
        push = {n: Fraction(0) for n in nodes}
        for s_, ds in out.items():
            for d_ in ds:
                push[d_] += r[s_] / len(ds)
        r = {n: (1 - damping) + damping * push[n] for n in nodes}
    e = spark.createDataFrame(raw_edges, ["subj", "obj"])
    got = {r_["node"]: r_["rank_ppm"] for r_ in pagerank(e, n_iters=n_iters).collect()}
    assert set(got) == set(nodes)
    for n in nodes:
        assert abs(got[n] - r[n] * 1_000_000) <= 1, (n, got[n], float(r[n]))


@given(st.lists(st.text(alphabet="ab ", min_size=0, max_size=400), min_size=1, max_size=6))
@settings(max_examples=20, deadline=None, suppress_health_check=list(HealthCheck))
def test_chunk_windows_cover_and_overlap(spark, texts):
    """dedup.shingles' sliding word windows on random texts: a doc of n
    tokens yields exactly the windows starting at 0..n-k, so every token
    position is covered and consecutive windows overlap by k-1 tokens; a
    doc shorter than k yields none."""
    from plume_spark.operators import dedup

    k = 3
    docs = [(i, t) for i, t in enumerate(texts)]
    got: dict[int, set[str]] = {}
    for r in dedup.shingles(spark.createDataFrame(docs, ["doc_id", "text"]), n=k).collect():
        got.setdefault(r["doc_id"], set()).add(r["tok"])
    for doc_id, text in docs:
        toks = [x for x in text.split(" ") if x]
        want = {" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)}
        assert got.get(doc_id, set()) == want, (doc_id, text)


# ------------------------------------------------- round-5 session operators


@given(
    st.lists(
        st.tuples(st.integers(0, 12), st.integers(0, 12)),
        min_size=1,
        max_size=30,
    ),
    st.integers(2, 4),
)
@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
def test_modularity_matches_bruteforce(spark, raw_edges, n_comm):
    """modularity() vs a pure-Python reference on random graphs with
    arbitrary (node % n_comm) community labels: exact n_nodes/e_in/d_tot
    per community, contribution within 1 quantization unit."""
    from plume_spark.operators.graph_metrics import modularity

    edges = sorted({(min(a, b), max(a, b)) for a, b in raw_edges if a != b})
    if not edges:
        return
    nodes = sorted({n for e in edges for n in e})
    lbl = {n: n % n_comm for n in nodes}
    deg: dict[int, int] = {n: 0 for n in nodes}
    for a, b in edges:
        deg[a] += 1
        deg[b] += 1
    m = len(edges)
    exp: dict[int, dict[str, float]] = {}
    for c in sorted({lbl[n] for n in nodes}):
        members = [n for n in nodes if lbl[n] == c]
        e_in = sum(1 for a, b in edges if lbl[a] == c and lbl[b] == c)
        d_tot = sum(deg[n] for n in members)
        exp[c] = {
            "n_nodes": len(members),
            "e_in": e_in,
            "d_tot": d_tot,
            "contrib": e_in / m - (d_tot / (2 * m)) ** 2,
        }
    e_df = spark.createDataFrame(edges, ["a", "b"])
    l_df = spark.createDataFrame([(n, lbl[n]) for n in nodes], ["node", "label"])
    got = {r["community"]: r for r in modularity(e_df, l_df).collect()}
    assert set(got) == set(exp)
    for c, ex in exp.items():
        assert got[c]["n_nodes"] == ex["n_nodes"]
        assert got[c]["e_in"] == ex["e_in"]
        assert got[c]["d_tot"] == ex["d_tot"]
        assert abs(got[c]["contrib_e10"] - round(ex["contrib"] * 1e10)) <= 1


@given(
    st.lists(
        st.tuples(
            st.integers(0, 3),  # user_id
            st.integers(0, 10_000),  # ts offset seconds
        ),
        min_size=1,
        max_size=40,
    )
)
@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
def test_late_events_bruteforce(spark, rows):
    """w20_late_events' lateness rule vs a sequential replay: an event is
    late iff its time sits > 10 min behind the running max of its user's
    PRECEDING arrivals (exact microsecond integers)."""
    import datetime

    base = datetime.datetime(2024, 1, 1)
    evs = [
        (i, base + datetime.timedelta(seconds=off), uid, "t%d" % (uid % 2), 0.0, "{}")
        for i, (uid, off) in enumerate(rows)
    ]
    exp_late: dict[str, int] = {}
    exp_max: dict[str, int] = {}
    exp_n: dict[str, int] = {}
    seen: dict[int, int] = {}
    for eid, ts, uid, etype, _v, _p in evs:
        us = int(ts.timestamp() * 1_000_000)
        exp_n[etype] = exp_n.get(etype, 0) + 1
        if uid in seen:
            late = seen[uid] - 600_000_000 - us
            if late > 0:
                exp_late[etype] = exp_late.get(etype, 0) + 1
                exp_max[etype] = max(exp_max.get(etype, 0), late)
        seen[uid] = max(seen.get(uid, us), us)
    df = spark.createDataFrame(
        evs, ["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    us_col = F.unix_micros(F.col("ts").cast("timestamp"))
    from pyspark.sql import Window

    w = (
        Window.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    late_us = F.max(us_col).over(w) - F.lit(600000000) - us_col
    got = {
        r["event_type"]: r
        for r in df.select("event_type", late_us.alias("late_us"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count(F.when(F.col("late_us") > 0, 1)).alias("n_late"),
            F.max(F.when(F.col("late_us") > 0, F.col("late_us"))).alias("max_late_us"),
        )
        .collect()
    }
    for etype, n in exp_n.items():
        assert got[etype]["n_events"] == n
        assert got[etype]["n_late"] == exp_late.get(etype, 0)
        if etype in exp_max:
            assert got[etype]["max_late_us"] == exp_max[etype]
        else:
            assert got[etype]["max_late_us"] is None


@given(
    st.lists(
        st.tuples(st.integers(0, 2), st.integers(-99999, 99999)),
        min_size=2,
        max_size=60,
    )
)
@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
def test_group_kurtosis_exact_moments(spark, rows):
    """a17's power sums vs exact Python ints on random centi-unit values,
    and the quantized excess kurtosis within 1 unit of the float
    reference."""
    import __spark_entry__ as entry

    evs = [(i, g, v / 100.0) for i, (g, v) in enumerate(rows)]
    df = spark.createDataFrame(evs, ["event_id", "g", "value"]).select(
        F.col("g").cast("string").alias("event_type"), "value"
    )
    # mirror the registered query body over an in-memory frame
    iv = F.round(F.col("value") * 100).cast("long")
    d = df.select(
        "event_type",
        iv.alias("x"),
        (iv * iv).alias("x2"),
        (iv * iv * iv).alias("x3"),
        ((iv * iv).cast("decimal(19,0)") * (iv * iv).cast("decimal(19,0)")).alias("x4"),
    )
    m = d.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("x").cast("decimal(38,0)")).alias("s1"),
        F.sum(F.col("x2").cast("decimal(38,0)")).alias("s2"),
        F.sum(F.col("x3").cast("decimal(38,0)")).alias("s3"),
        F.sum(F.col("x4").cast("decimal(38,0)")).alias("s4"),
        F.min("x").alias("mn"),
        F.max("x").alias("mx"),
    )
    got = {r["event_type"]: r for r in m.collect()}
    groups: dict[str, list[int]] = {}
    for _i, g, v in evs:
        groups.setdefault(str(g), []).append(round(v * 100))
    for g, xs in groups.items():
        r = got[g]
        assert int(r["s1"]) == sum(xs)
        assert int(r["s2"]) == sum(x * x for x in xs)
        assert int(r["s4"]) == sum(x**4 for x in xs)
        if min(xs) != max(xs):
            n = len(xs)
            m1 = sum(xs) / n
            m2 = sum(x * x for x in xs) / n - m1 * m1
            m4 = (
                sum(x**4 for x in xs) / n
                - 4 * m1 * (sum(x**3 for x in xs) / n)
                + 6 * m1 * m1 * (sum(x * x for x in xs) / n)
                - 3 * m1**4
            )
            kurt = m4 / (m2 * m2) - 3.0
            import math

            spark_kurt = None
            # recompute the registered final expression from the sums
            nd = float(n)
            sm1 = float(r["s1"]) / nd
            st2 = float(r["s2"]) / nd
            st3 = float(r["s3"]) / nd
            st4 = float(r["s4"]) / nd
            sm2 = st2 - sm1 * sm1
            sm4 = st4 - 4.0 * sm1 * st3 + 6.0 * sm1 * sm1 * st2 - 3.0 * sm1**4
            spark_kurt = math.floor((sm4 / (sm2 * sm2) - 3.0) * 10000.0 + 0.5)
            assert abs(spark_kurt - math.floor(kurt * 10000.0 + 0.5)) <= 1



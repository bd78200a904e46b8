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


# ---------------------------------------------------------------- corpus ops

_doc_texts = st.lists(
    st.text(alphabet="ab c", min_size=0, max_size=40), min_size=1, max_size=12
)


@given(_doc_texts, st.integers(1, 20), st.integers(1, 4))
@settings(max_examples=5, deadline=None, suppress_health_check=list(HealthCheck))
def test_pack_chunks_matches_python_reference(spark, texts, budget, n_shards):
    """pack_chunks offsets == a sequential per-shard prefix-sum reference."""
    from plume_spark.operators import corpus

    docs = spark.createDataFrame(list(enumerate(texts)), ["doc_id", "text"])
    got = {
        r["doc_id"]: (r["shard"], r["tok_offset"], r["chunk"])
        for r in corpus.pack_chunks(docs, budget=budget, n_shards=n_shards).collect()
    }
    def _poly(v: str) -> int:
        acc = 0
        for ch in v:
            acc = (acc * 131 + ord(ch)) % 2147483647
        return acc

    offsets: dict[int, int] = {}
    for doc_id, text in sorted(enumerate(texts)):
        shard = _poly(str(doc_id)) % n_shards
        off = offsets.get(shard, 0)
        assert got[doc_id] == (shard, off, off // budget)
        offsets[shard] = off + len([t for t in text.split(" ") if t])


@given(st.lists(st.integers(0, 10**9), min_size=1, max_size=30, unique=True))
@settings(max_examples=5, deadline=None, suppress_health_check=list(HealthCheck))
def test_train_val_split_total_and_deterministic(spark, ids):
    """Every doc gets exactly one stable split label; bucket in [0, 100)."""
    from plume_spark.operators import corpus

    docs = spark.createDataFrame([(i, "x") for i in ids], ["doc_id", "text"])
    rows = corpus.train_val_split(docs, val_pct=25).collect()
    assert sorted(r["doc_id"] for r in rows) == sorted(ids)
    for r in rows:
        assert 0 <= r["bucket"] < 100
        assert r["split"] == ("val" if r["bucket"] < 25 else "train")
    again = {r["doc_id"]: r["bucket"] for r in corpus.train_val_split(docs, val_pct=25).collect()}
    assert again == {r["doc_id"]: r["bucket"] for r in rows}


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


@given(st.lists(st.text(alphabet="ab c", min_size=0, max_size=30), min_size=1, max_size=8))
@settings(max_examples=5, deadline=None, suppress_health_check=list(HealthCheck))
def test_repetition_and_logprob_match_python(spark, texts):
    """repetition_score and unigram_logprob == direct python references."""
    import math

    from plume_spark.operators import corpus

    docs = spark.createDataFrame(list(enumerate(texts)), ["doc_id", "text"])

    rep = {r["doc_id"]: (r["n_ngrams"], r["rep_frac"])
           for r in corpus.repetition_score(docs, n=2).collect()}
    for i, t in enumerate(texts):
        toks = [x for x in t.split(" ") if x]
        grams = [" ".join(toks[j:j + 2]) for j in range(max(len(toks) - 1, 0))]
        frac = round((len(grams) - len(set(grams))) / len(grams), 6) if grams else 0.0
        assert rep[i] == (len(grams), frac)

    lp = {r["doc_id"]: (r["n_tokens"], r["avg_logprob"])
          for r in corpus.unigram_logprob(docs).collect()}
    freq: dict[str, int] = {}
    for t in texts:
        for x in t.split(" "):
            if x:
                freq[x] = freq.get(x, 0) + 1
    total = sum(freq.values())
    for i, t in enumerate(texts):
        toks = [x for x in t.split(" ") if x]
        if not toks:
            assert i not in lp
            continue
        want = round(sum(math.log(freq[x] / total) for x in toks) / len(toks), 6)
        assert lp[i][0] == len(toks)
        assert abs(lp[i][1] - want) <= 1e-6


# ---------------------------------------------------------- round-3 operators


@given(st.lists(st.text(alphabet="ab @.0189+-c", min_size=0, max_size=40),
                min_size=1, max_size=10))
@settings(max_examples=5, deadline=None, suppress_health_check=list(HealthCheck))
def test_pii_scrub_idempotent_and_clean(spark, texts):
    """Scrubbing is idempotent (the replacement tokens contain no scrubbable
    span) and the output never contains an email-shaped span or a 5+ digit
    run; n_redactions is 0 exactly when text is unchanged."""
    import re

    from plume_spark.operators.text import PII_DIGITS, PII_EMAIL, pii_scrub

    docs = spark.createDataFrame(list(enumerate(texts)), ["doc_id", "text"])
    once = {r["doc_id"]: r for r in pii_scrub(docs).collect()}
    again = {
        r["doc_id"]: r
        for r in pii_scrub(
            spark.createDataFrame(
                [(i, once[i]["text"]) for i in once], ["doc_id", "text"]
            )
        ).collect()
    }
    for i, orig in enumerate(texts):
        assert not re.search(PII_EMAIL, once[i]["text"])
        assert not re.search(PII_DIGITS, once[i]["text"])
        assert again[i]["text"] == once[i]["text"] and again[i]["n_redactions"] == 0
        assert (once[i]["n_redactions"] == 0) == (once[i]["text"] == orig)


@given(st.lists(st.lists(st.floats(-8, 8, allow_nan=False, width=32),
                         min_size=1, max_size=6),
                min_size=1, max_size=8))
@settings(max_examples=5, deadline=None, suppress_health_check=list(HealthCheck))
def test_quantize_bounds_and_reconstruction(spark, vecs):
    """int8 quantization invariants: q in [-127, 127]; dequantized error is
    below one quantization step (scale/127); zero vectors round-trip to
    zeros."""
    from plume_spark.operators.similarity import quantize_embeddings

    emb = spark.createDataFrame(
        list(enumerate(vecs)), "vec_id long, embedding array<float>"
    )
    rows = {r["vec_id"]: r for r in quantize_embeddings(emb).collect()}
    for i, v in enumerate(vecs):
        r = rows[i]
        assert all(-127 <= q <= 127 for q in r["q"])
        v32 = [float(np.float32(x)) for x in v]
        scale = max(abs(x) for x in v32)
        if scale == 0:
            assert r["q"] == [0] * len(v32) and r["scale"] == 0.0
            continue
        step = scale / 127.0
        for x, q in zip(v32, r["q"]):
            assert abs(x - q * step) <= step + 1e-9


@given(st.lists(st.integers(0, 10**6), min_size=1, max_size=40, unique=True),
       st.sampled_from([0.0, 0.25, 0.5, 1.0]))
@settings(max_examples=5, deadline=None, suppress_health_check=list(HealthCheck))
def test_mix_sample_stable_membership(spark, ids, rate):
    """Hash sampling is a deterministic membership function: the kept set at
    rate r is exactly {id : u(id) < r*P}, is stable across runs, and is a
    SUBSET of the kept set at any higher rate (growing a corpus or raising a
    source's rate never un-keeps a doc)."""
    from plume_spark.operators import corpus

    docs = spark.createDataFrame([(i, "s") for i in ids], ["doc_id", "source"])
    def kept(r):
        rates = spark.createDataFrame([("s", r)], ["source", "rate"])
        return {x["doc_id"] for x in corpus.mix_sample(docs, rates).collect()}
    lo = kept(rate)
    assert lo == {
        i for i in ids
        if ((i % corpus.MIX_P) * corpus.MIX_A + corpus.MIX_B) % corpus.MIX_P
        < rate * corpus.MIX_P
    }
    assert lo <= kept(min(1.0, rate + 0.25))
    assert lo == kept(rate)


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


@given(st.lists(st.text(alphabet="ab ", min_size=0, max_size=400), min_size=1, max_size=6))
@settings(max_examples=20, deadline=None, suppress_health_check=list(HealthCheck))
def test_chunk_windows_cover_and_overlap(spark, texts):
    """Sliding-window chunking invariants on random texts: chunk 0 starts at
    token 0; consecutive chunk starts differ by exactly the stride; every
    token position is covered; all but the last chunk of a doc have
    min(W, n) tokens; token counts reconstruct the doc length as
    n == (n_chunks - 1) * S + last_chunk_len."""
    W, S = 64, 48
    docs = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(docs, ["doc_id", "text"])

    # mirrors the registered query body (sha2 fingerprint, same fan-out)
    toks_col = F.filter(F.split(F.col("text"), " "), lambda x: x != "")
    t = df.select("doc_id", toks_col.alias("toks")).filter(F.size("toks") > 0)
    t = t.withColumn(
        "chunk_idx",
        F.explode(F.sequence(F.lit(0), F.expr(f"(size(toks) - 1) div {S}"))),
    )
    chunk = F.slice(F.col("toks"), F.col("chunk_idx") * S + 1, W)
    got = (
        t.select(
            "doc_id", "chunk_idx", F.size(chunk).alias("n_tokens"),
            F.sha2(F.array_join(chunk, " "), 256).alias("fp"),
        )
        .collect()
    )
    by_doc: dict[int, dict[int, int]] = {}
    for r in got:
        by_doc.setdefault(r["doc_id"], {})[r["chunk_idx"]] = r["n_tokens"]
    for doc_id, text in docs:
        n = len([x for x in text.split(" ") if x])
        if n == 0:
            assert doc_id not in by_doc
            continue
        chunks = by_doc[doc_id]
        n_chunks = (n - 1) // S + 1
        assert sorted(chunks) == list(range(n_chunks))
        for i in range(n_chunks - 1):
            assert chunks[i] == min(W, n - i * S)
        assert chunks[n_chunks - 1] == min(W, n - (n_chunks - 1) * S)
        # coverage: last chunk starts at (n_chunks-1)*S < n and W >= S
        assert (n_chunks - 1) * S < n


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


@given(st.lists(st.text(alphabet="abc ", min_size=0, max_size=60), min_size=1, max_size=8))
@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
def test_bpe_pair_counts_bruteforce(spark, texts):
    """bpe_pair_counts vs a Counter reference: identical (pair, count) rows
    in identical (count desc, pair asc) order, including the top-k cut."""
    from collections import Counter

    from plume_spark.operators.text import bpe_pair_counts

    ref: Counter = Counter()
    for t in texts:
        for w in t.split(" "):
            for i in range(len(w) - 1):
                ref[w[i : i + 2]] += 1
    expected = sorted(ref.items(), key=lambda kv: (-kv[1], kv[0]))[:5]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], ["doc_id", "text"])
    got = [(r["pair"], r["n_pairs"]) for r in bpe_pair_counts(df, k=5).collect()]
    assert got == expected


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


@given(st.lists(st.text(alphabet="abc ", min_size=2, max_size=50), min_size=2, max_size=6))
@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
def test_pmi_bigrams_bruteforce(spark, texts):
    """pmi_bigrams vs a Counter reference: exact (w1, w2, c12, l1, r2) rows
    in the exact top-k order; pmi_e6 within 1 unit of math.log."""
    import math
    from collections import Counter

    from plume_spark.operators.text import pmi_bigrams

    big: Counter = Counter()
    for t in texts:
        ws = [w for w in t.split(" ") if w]
        for i in range(len(ws) - 1):
            big[(ws[i], ws[i + 1])] += 1
    if not big:
        return
    left: Counter = Counter()
    right: Counter = Counter()
    for (w1, w2), c in big.items():
        left[w1] += c
        right[w2] += c
    t_big = sum(big.values())
    expected = sorted(big.items(), key=lambda kv: (-kv[1], kv[0]))[:5]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], ["doc_id", "text"])
    got = pmi_bigrams(df, k=5).collect()
    assert [((r["w1"], r["w2"]), r["c12"]) for r in got] == expected
    for r in got:
        assert r["l1"] == left[r["w1"]] and r["r2"] == right[r["w2"]]
        ref = math.floor(
            math.log(r["c12"] * t_big / (r["l1"] * r["r2"])) * 1e6 + 0.5
        )
        assert abs(r["pmi_e6"] - ref) <= 1


@given(
    st.lists(
        st.tuples(st.sampled_from(["s0", "s1"]), st.text(alphabet="ab ", min_size=0, max_size=40)),
        min_size=1,
        max_size=6,
    )
)
@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
def test_dsir_logratio_bruteforce(spark, rows):
    """dsir_logratio vs a pure-Python add-1 model: n_tokens exact,
    avg_logratio within 2e-6 of the reference."""
    import math
    from collections import Counter

    from plume_spark.operators.corpus import dsir_logratio

    docs = [(i, t, "en", src, len(t)) for i, (src, t) in enumerate(rows)]
    raw: Counter = Counter()
    tgt: Counter = Counter()
    per_doc: dict[int, list[str]] = {}
    for i, t, _l, src, _n in docs:
        ws = [w for w in t.split(" ") if w]
        per_doc[i] = ws
        raw.update(ws)
        if src == "s0":
            tgt.update(ws)
    if not raw:
        return
    v = len(raw)
    n_raw = sum(raw.values())
    n_tgt = sum(tgt.values())
    df = spark.createDataFrame(docs, ["doc_id", "text", "lang", "source", "n_chars"])
    got = {r["doc_id"]: r for r in dsir_logratio(df, target_sources=("s0",)).collect()}
    for i, ws in per_doc.items():
        if not ws:
            assert i not in got
            continue
        lrs = [
            math.log((tgt.get(w, 0) + 1) / (n_tgt + v))
            - math.log((raw[w] + 1) / (n_raw + v))
            for w in ws
        ]
        assert got[i]["n_tokens"] == len(ws)
        assert abs(got[i]["avg_logratio"] - sum(lrs) / len(lrs)) <= 2e-6


@given(st.lists(st.text(alphabet="ab ", min_size=0, max_size=60), min_size=1, max_size=5))
@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
def test_bigram_logprob_bruteforce(spark, texts):
    """bigram_logprob vs a pure-Python interpolated model: n_bigrams exact,
    avg_logprob within 2e-6; docs with < 2 tokens excluded."""
    import math
    from collections import Counter

    from plume_spark.operators.corpus import bigram_logprob

    uni: Counter = Counter()
    big: Counter = Counter()
    per_doc: dict[int, list[str]] = {}
    for i, t in enumerate(texts):
        ws = [w for w in t.split(" ") if w]
        per_doc[i] = ws
        uni.update(ws)
        for j in range(len(ws) - 1):
            big[(ws[j], ws[j + 1])] += 1
    n_tok = sum(uni.values())
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], ["doc_id", "text"])
    got = {r["doc_id"]: r for r in bigram_logprob(df, lam=0.7).collect()}
    for i, ws in per_doc.items():
        if len(ws) < 2:
            assert i not in got
            continue
        lps = [
            math.log(
                0.7 * (big[(ws[j], ws[j + 1])] / uni[ws[j]])
                + (1.0 - 0.7) * (uni[ws[j + 1]] / n_tok)
            )
            for j in range(len(ws) - 1)
        ]
        assert got[i]["n_bigrams"] == len(ws) - 1
        assert abs(got[i]["avg_logprob"] - sum(lps) / len(lps)) <= 2e-6


@given(
    st.lists(
        st.lists(st.integers(-999, 999), min_size=4, max_size=4),
        min_size=2,
        max_size=25,
    )
)
@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
def test_power_iter_exact_sums(spark, vecs):
    """The emb_power_iter kernel vs exact numpy integer arithmetic: the
    s_d sums are exact, the normalized u within 1 quantization unit."""
    from decimal import ROUND_HALF_UP, Decimal

    # plus one explicit half-boundary row: k/128 is exact in float32 and
    # k/128 * 1e6 = k * 7812.5, so an odd k lands on .5, both signs
    half_row = [-1 / 128, 1 / 128, -3 / 128, 5 / 128]
    floats = [[v / 1000.0 for v in vec] for vec in vecs] + [half_row]
    rows = [(i, f, 0) for i, f in enumerate(floats)]
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
            T.StructField("label", T.IntegerType()),
        ]
    )
    df = spark.createDataFrame(rows, schema)
    # mirror the registered query over the in-memory frame
    t = df.select(
        F.expr(
            "transform(embedding, v -> cast(round(cast(v as double) * 1000000)"
            " as bigint))"
        ).alias("q")
    ).withColumn("p", F.expr("aggregate(q, 0L, (acc, x) -> acc + x)"))
    x = t.select(F.posexplode("q").alias("dim", "qv"), "p")
    s = x.groupBy("dim").agg(
        F.sum((F.col("qv") * F.col("p")).cast("decimal(38,0)")).alias("s")
    )
    got = {r["dim"]: int(r["s"]) for r in s.collect()}
    def half_up(x: float) -> int:
        """Spark's ``round``: HALF_UP (ties away from zero) on the double's
        decimal form (``BigDecimal.valueOf``)."""
        return int(Decimal(repr(x)).quantize(Decimal(1), rounding=ROUND_HALF_UP))

    # exact reference: q = round(float32(v) * 1e6) — mirror the float32
    # storage the frame applies before the engine's double widening
    q = [[half_up(float(np.float32(v)) * 1e6) for v in f] for f in floats]
    assert q[-1] == [-7813, 7813, -23438, 39063]
    p = [sum(r) for r in q]
    for d in range(4):
        assert got[d] == sum(q[i][d] * p[i] for i in range(len(q)))


@given(st.integers(0, 30), st.integers(2, 4))
@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
def test_filtered_and_batch_topk_consistency(spark, seed, mod):
    """filtered_topk == brute_force_topk run over the pre-filtered set
    (with the query fetched unfiltered), and batch_topk's per-query
    rankings match the single-query exact ranking."""
    import random

    from pyspark.sql import types as T

    from plume_spark.operators.similarity import batch_topk, brute_force_topk, filtered_topk

    rnd = random.Random(seed)
    rows = [
        (i, [rnd.uniform(-1, 1) for _ in range(6)], i % 5) for i in range(30)
    ]
    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
            T.StructField("label", T.IntegerType()),
        ]
    )
    df = spark.createDataFrame(rows, schema)
    flt = filtered_topk(df, 0, F.col("label") % mod == 0, k=5, strategy="hof").collect()
    # reference: score the filtered candidates with the same single-query op
    # (query row appended so the fetch succeeds, then dropped from results)
    cand = df.filter((F.col("label") % mod == 0) | (F.col("vec_id") == 0))
    ref = [
        r
        for r in brute_force_topk(cand, 0, k=6, strategy="hof").collect()
        if (r["vec_id"] % 5) % mod == 0
    ][:5]
    assert [(r["vec_id"], r["cos_sim"]) for r in flt] == [
        (r["vec_id"], r["cos_sim"]) for r in ref
    ]
    bt = batch_topk(df, n_queries=2, k=4)
    by_q = {}
    for r in bt.collect():
        by_q.setdefault(r["q_id"], []).append((r["rank"], r["vec_id"], r["cos_sim"]))
    for q in (0, 1):
        single = brute_force_topk(df, q, k=4, strategy="hof").collect()
        assert sorted(by_q[q]) == [
            (i + 1, r["vec_id"], r["cos_sim"]) for i, r in enumerate(single)
        ]

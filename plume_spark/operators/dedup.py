"""Document deduplication family — exact, MinHash+LSH, SimHash, n-gram Jaccard.

These are the training-data-pipeline counterparts of the reference's dedup
semantics (duplicate-node identity map IDriver.scala:91-98; duplicate-edge
filtering CHANGELOG.md:632), generalized from graph elements to documents.

Scale notes per operator:
* exact:     window keyed by (xxhash64(text), text): fixed-width 8-byte
             shuffle/sort keys decide ordering, the raw text only breaks
             hash ties — identical output to grouping by text alone.
* minhash:   signatures via small literal hash-parameter tables exploded
             JVM-side — NO Python in the loop; candidate generation is an
             equi-join on band keys with an oversized-bucket cap (a
             degenerate band bucket — boilerplate duplicated millions of
             times — is non-discriminative and quadratic; capped buckets
             are dropped and exact-duplicate docs rescued via identical
             token-set star edges, mirroring operators/linking.py);
             verification exact.  Token ids come from xxhash64 (default
             scale path) or a portable polynomial rolling hash
             (reproducible in ANSI SQL — the oracle path).  NEITHER builds
             a dictionary or sorts globally.
* simhash:   pure column arithmetic, fully codegen'd; same two id paths.
* ngram:     shingle-blocked pair join — correct but quadratic within blocks;
             minhash IS its scale path, kept for parity/verification.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# fixed universal-hash parameters (shared, literal, deterministic): 64 seeded
# (a, b) pairs; dedup uses the first MINHASH_K, entity linking the first 32.
import numpy as _np

MINHASH_P = 2147483647  # 2^31 - 1: keeps a * id + b inside int64
_param_rng = _np.random.default_rng(20240816)
MINHASH_A = [int(x) for x in _param_rng.integers(1, MINHASH_P, size=64)]
MINHASH_B = [int(x) for x in _param_rng.integers(0, MINHASH_P, size=64)]
MINHASH_K = 16
BAND_ROWS = 2  # 8 bands x 2 rows: P(miss | J=0.5) = (1-0.25)^8 ≈ 0.10
SIMHASH_BITS = 16
SIMHASH_SCRAMBLE = 2654435761
JACCARD_TAU = 0.5
# Max docs per band bucket before the bucket is dropped as non-discriminative
# (web-scale boilerplate skew kill; exact dups rescued by star edges).
MAX_BUCKET_SIZE = 64
POLY_MUL = 131  # portable rolling-hash multiplier (shared with the oracle SQL)


def tokens(df: DataFrame, text: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(id, tok) distinct token sets — the shared shingle substrate."""
    return (
        df.select(id_col, F.explode(F.split(F.col(text), " ")).alias("tok"))
        .filter(F.col("tok") != "")
        .distinct()
    )


def shingles(df: DataFrame, n: int = 3, text: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(doc_id, tok) distinct word n-gram shingles.  Order-sensitive units:
    far more discriminative than bare tokens on small vocabularies, and the
    standard unit for near-dup dedup at scale."""
    t = df.select(
        id_col,
        F.filter(F.split(F.col(text), " "), lambda x: x != "").alias("toks"),
    ).filter(F.size("toks") >= n)
    return t.select(
        F.col(id_col).alias("doc_id"),
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.size("toks") - n),
                lambda i: F.concat_ws(" ", F.slice("toks", i + 1, n)),
            )
        ).alias("tok"),
    ).distinct()


def exact_dedup(df: DataFrame, text: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact duplicate groups: keeper = min id per identical text.
    Returns (doc_id, keeper_id, group_size); group_size > 1 marks duplicates.

    The window is keyed (xxhash64(text), text): partitioning/sorting compare
    the 8-byte hash first and the raw text only on hash ties, which is the
    100 TB-friendly form of a group-by-long-string — output is identical."""
    w = Window.partitionBy("_th", text)
    is_null = F.col(text).isNull()
    return (
        df.withColumn("_th", F.xxhash64(F.col(text)))
        .select(
            F.col(id_col).alias("doc_id"),
            # NULL text (failed extraction) is unknown content, not shared
            # content: each null doc is its own group, never a "duplicate"
            F.when(is_null, F.col(id_col)).otherwise(F.min(id_col).over(w)).alias("keeper_id"),
            F.when(is_null, F.lit(1)).otherwise(F.count(F.lit(1)).over(w)).cast("long").alias("group_size"),
        )
    )


def hashed_token_ids(tok_df: DataFrame) -> DataFrame:
    """Scale-path token ids: xxhash64, re-deduplicated after hashing —
    within-doc collisions mod P would otherwise produce duplicate
    (doc_id, tok_id) rows, which jaccard_verify's count-based sizes and
    multiplicative intersection join turn into invalid Jaccard values
    (material for long docs: ~m^2/2^32 per doc)."""
    return (
        tok_df.withColumn("tok_id", F.pmod(F.xxhash64("tok"), F.lit(MINHASH_P)))
        .select(tok_df.columns[0], "tok_id")
        .distinct()
    )


def poly_hash(col):
    """Portable polynomial rolling hash ``fold(acc*131 + ascii(c)) mod P``
    over a string column — reproducible in ANSI SQL (DuckDB ``list_reduce``),
    fully distributed (a pure projection), and stable across runs.  The
    single implementation behind portable token ids, the train/val splitter,
    and any other oracle-checkable hashing."""
    chars = F.transform(
        F.sequence(F.lit(1), F.length(col)),
        lambda i: F.ascii(col.substr(i, F.lit(1))).cast("long"),
    )
    return F.aggregate(
        chars, F.lit(0).cast("long"), lambda acc, c: (acc * POLY_MUL + c) % MINHASH_P
    )


def portable_token_ids(tok_df: DataFrame) -> DataFrame:
    """Oracle-path token ids via poly_hash — no dictionary, no global sort
    (the previous rank-dictionary needed a single-partition Window).
    xxhash64 stays the default (native, faster); this path exists so the
    correctness oracle can recompute identical ids.  Deduplicated after
    hashing for the same collision-safety reason as hashed_token_ids."""
    return (
        tok_df.withColumn("tok_id", poly_hash(F.col("tok")))
        .select(tok_df.columns[0], "tok_id")
        .distinct()
    )


def minhash_signatures(tok_ids: DataFrame, k: int = MINHASH_K) -> DataFrame:
    """(doc_id, h (0..k-1), minhash) from (doc_id, tok_id).

    Data-parallel: the k hash functions are a small literal array exploded
    JVM-side (k rows per token), and the min is a partial aggregate (map-side
    combine before the shuffle).  NOTE: expression-parallel minhash (one
    64-element array expression per row) was tried and abandoned — Catalyst
    inlines the tree into every consumer and the optimizer/codegen blow up.
    """
    hashes = F.array(
        *[
            F.struct(
                F.lit(i).alias("h"),
                (
                    (F.lit(MINHASH_A[i]) * F.col("tok_id").cast("long") + F.lit(MINHASH_B[i]))
                    % MINHASH_P
                ).alias("v"),
            )
            for i in range(k)
        ]
    )
    return (
        tok_ids.select("doc_id", F.explode(hashes).alias("hv"))
        .groupBy("doc_id", F.col("hv.h").alias("h"))
        .agg(F.min("hv.v").alias("minhash"))
    )


def banded_signatures(sig: DataFrame, band_rows: int = BAND_ROWS) -> DataFrame:
    """(doc_id, band, band_sig) — the uncapped LSH band table.  Deterministic
    per doc content, so it can be PERSISTED as derived state (DedupIndex
    stores it bucketed by xxhash64(band_sig)) and probed incrementally
    instead of being recomputed over the whole signature table per batch."""
    return (
        sig.withColumn("band", (F.col("h") / band_rows).cast("int"))
        .groupBy("doc_id", "band")
        .agg(F.sort_array(F.collect_list(F.struct("h", "minhash"))).alias("rows"))
        .select("doc_id", "band", F.col("rows.minhash").alias("band_sig"))
    )


def doc_gsets(tok_ids: DataFrame) -> DataFrame:
    """(doc_id, gset_hash): 64-bit fingerprint of the doc's sorted token-id
    set — the persistable form of the exact-duplicate star-rescue key.  Two
    docs with equal token sets always collide (same sorted array); unequal
    sets collide with ~2^-64 probability, and any false candidate that
    produces is killed by the exact Jaccard verify."""
    return tok_ids.groupBy("doc_id").agg(
        F.xxhash64(F.sort_array(F.collect_set("tok_id"))).alias("gset_hash")
    )


def _capped_bands(
    sig: DataFrame, band_rows: int, max_bucket_size: int
) -> DataFrame:
    """(doc_id, band, band_sig) with oversized buckets dropped — the banding
    step of the full-corpus candidate generator."""
    bands = banded_signatures(sig, band_rows)
    if max_bucket_size:
        # One window pass: count per (band, band_sig) partition, drop rows of
        # oversized buckets.  Replaces a checkpoint + groupBy-count + semi-join
        # (three stages and an executor-disk materialization) with a single
        # shuffle whose hash partitioning the a/b self-join below then reuses.
        wb = Window.partitionBy("band", "band_sig")
        bands = (
            bands.withColumn("_bsz", F.count(F.lit(1)).over(wb))
            .filter(F.col("_bsz") <= max_bucket_size)
            .drop("_bsz")
            # consumed twice by the a/b self-join; localCheckpoint (not
            # cache) so the blocks are reclaimed by the ContextCleaner when
            # the DataFrame goes out of scope — batch callers in a loop
            # would otherwise leak one cache entry per invocation
            .localCheckpoint(eager=True)
        )
    return bands


def lsh_candidate_pairs(
    sig: DataFrame,
    band_rows: int = BAND_ROWS,
    max_bucket_size: int = MAX_BUCKET_SIZE,
    tok_ids: DataFrame | None = None,
) -> DataFrame:
    """Band docs by consecutive minhash pairs; equi-join bands for candidates.

    Buckets holding more than ``max_bucket_size`` docs are DROPPED — an
    oversized bucket (the normal case for boilerplate text in web-scale
    dedup) is non-discriminative and makes the self-join quadratic; the cap
    bounds candidate volume to cap * n_docs * n_bands / 2.  Exact duplicates
    lost that way are rescued via ``tok_ids``: identical token-id sets are
    J=1 duplicates by definition, and the set is an equivalence key, so star
    edges (min member -> others) reconstruct their components at linear cost
    (same mechanism as operators/linking.py candidate_pairs)."""
    bands = _capped_bands(sig, band_rows, max_bucket_size)
    a = bands.select(F.col("doc_id").alias("doc_a"), "band", "band_sig")
    b = bands.select(F.col("doc_id").alias("doc_b"), "band", "band_sig")
    banded = (
        a.join(b, ["band", "band_sig"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
    )
    if tok_ids is not None and max_bucket_size:
        gsets = tok_ids.groupBy("doc_id").agg(
            F.sort_array(F.collect_set("tok_id")).alias("gset")
        )
        star = (
            gsets.groupBy("gset")
            .agg(F.sort_array(F.collect_list("doc_id")).alias("members"))
            .filter(F.size("members") > 1)
            .select(
                F.element_at("members", 1).alias("doc_a"),
                F.explode(F.slice("members", 2, F.size("members"))).alias("doc_b"),
            )
        )
        banded = banded.unionByName(star)
    return banded.distinct()


def jaccard_verify(pairs: DataFrame, tok_df: DataFrame, tau: float = JACCARD_TAU) -> DataFrame:
    """Exact token-set Jaccard for candidate pairs -> (doc_a, doc_b, jaccard).

    Set sizes are precomputed; the intersection is one join on (pair, token).
    """
    # aggregate sizes only for docs that appear in a candidate pair —
    # candidates are a vanishing fraction of the corpus at scale, so this
    # semi-join skips the corpus-wide per-doc aggregate (result unchanged:
    # sizes are only ever read through the pair joins below)
    participants = (
        pairs.select(F.col("doc_a").alias("doc_id"))
        .unionByName(pairs.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    tok_p = tok_df.join(participants, "doc_id", "left_semi")
    sizes = tok_p.groupBy("doc_id").agg(F.count("*").alias("sz"))
    ta = tok_p.select(F.col("doc_id").alias("doc_a"), "tok")
    tb = tok_p.select(F.col("doc_id").alias("doc_b"), "tok")
    inter = (
        pairs.join(ta, "doc_a")
        .join(tb, ["doc_b", "tok"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("inter"))
    )
    return (
        inter.join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("sz", "sz_a"), "doc_a")
        .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("sz", "sz_b"), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter"))).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= tau)
    )


def minhash_dedup(
    df: DataFrame, text: str = "text", id_col: str = "doc_id",
    tau: float = JACCARD_TAU, portable_ids: bool = False, unit: str = "shingle3",
    max_bucket_size: int = MAX_BUCKET_SIZE,
) -> DataFrame:
    """Full MinHash/LSH near-dup pipeline -> verified (doc_a, doc_b, jaccard).

    ``unit``: 'shingle3' (word 3-grams, default — discriminative) or 'token'.
    ``portable_ids`` selects the polynomial-hash token ids the SQL oracle can
    recompute (contract queries only); default is native xxhash64.  Both are
    distributed projections — no dictionary, no global sort.  Verification is
    exact over the unit sets, so output pairs are identical across engines
    given identical candidates (the oracle mirrors the same banding and the
    same bucket cap, so even LSH misses agree)."""
    if unit not in ("shingle3", "token"):
        raise ValueError(f"unit must be 'shingle3' or 'token', got {unit!r}")
    tok = shingles(df, 3, text, id_col) if unit == "shingle3" else tokens(df, text, id_col)
    id_fn = portable_token_ids if portable_ids else hashed_token_ids
    tok = tok.localCheckpoint(eager=True)  # 3 verify-side consumers
    ids = id_fn(tok).select("doc_id", "tok_id").localCheckpoint(eager=True)
    pairs = lsh_candidate_pairs(
        minhash_signatures(ids), max_bucket_size=max_bucket_size, tok_ids=ids
    )
    return jaccard_verify(pairs, tok, tau)


def minhash_state(
    df: DataFrame, text: str = "text", id_col: str = "doc_id",
    portable_ids: bool = False, unit: str = "shingle3",
) -> tuple[DataFrame, DataFrame]:
    """The persistable dedup index of a corpus batch: (signatures, token ids).

    sigs = (doc_id, h, minhash), tok_ids = (doc_id, tok_id).  Compute once
    per ingested batch, store both (e.g. SnapshotTable append), and feed
    incremental_neardup on the next batch — the expensive part (shingling +
    hashing the raw text) then runs over the delta only, which is how
    web-crawl dedup actually operates: each new crawl dedups against an
    ever-growing index, never re-reading the 100 TB corpus."""
    tok = shingles(df, 3, text, id_col) if unit == "shingle3" else tokens(df, text, id_col)
    id_fn = portable_token_ids if portable_ids else hashed_token_ids
    ids = id_fn(tok).select("doc_id", "tok_id")
    return minhash_signatures(ids), ids


def incremental_candidates(
    new_bands: DataFrame,
    new_gsets: DataFrame,
    new_ids: DataFrame,
    index_bands: DataFrame | None = None,
    index_gsets: DataFrame | None = None,
    max_bucket_size: int = MAX_BUCKET_SIZE,
) -> DataFrame:
    """Candidate near-dup pairs touching at least one NEW doc, from the
    persisted derived state — O(batch + matched index rows), never O(index).

    Inputs are the batch's band table / gset fingerprints / doc ids plus the
    index's band table and gset table (callers with a DedupIndex pass
    bucket-pruned reads; ``None`` means empty index).  The bucket cap is
    evaluated per batch-touched (band, band_sig) key over index ∪ new rows
    of that key — identical to the count a full re-run computes for it,
    because rows of untouched keys can never join the probe side.  The
    exact-duplicate star rescue groups by gset fingerprint (min member →
    others, edges touching new docs only).  Output is UNVERIFIED — feed it
    to jaccard_verify."""
    new_bands = new_bands.select("doc_id", "band", "band_sig")
    if index_bands is not None:
        rel_old = index_bands.select("doc_id", "band", "band_sig").join(
            new_bands.select("band", "band_sig").distinct(),
            ["band", "band_sig"],
            "left_semi",
        )
        all_rel = rel_old.unionByName(new_bands)
    else:
        all_rel = new_bands
    if max_bucket_size:
        wb = Window.partitionBy("band", "band_sig")
        all_rel = (
            all_rel.withColumn("_bsz", F.count(F.lit(1)).over(wb))
            .filter(F.col("_bsz") <= max_bucket_size)
            .drop("_bsz")
        )
    # consumed by both sides of the probe join
    all_rel = all_rel.localCheckpoint(eager=True)
    probe = all_rel.join(new_ids, "doc_id", "left_semi")
    a = probe.select(F.col("doc_id").alias("da"), "band", "band_sig")
    b = all_rel.select(F.col("doc_id").alias("db"), "band", "band_sig")
    cand = (
        a.join(b, ["band", "band_sig"])
        .filter(F.col("da") != F.col("db"))
        .select(
            F.least("da", "db").alias("doc_a"), F.greatest("da", "db").alias("doc_b")
        )
    )
    if max_bucket_size:
        new_gsets = new_gsets.select("doc_id", "gset_hash")
        if index_gsets is not None:
            rel_g = index_gsets.select("doc_id", "gset_hash").join(
                new_gsets.select("gset_hash").distinct(), "gset_hash", "left_semi"
            )
            all_g = rel_g.unionByName(new_gsets)
        else:
            all_g = new_gsets
        star = (
            all_g.groupBy("gset_hash")
            # collect_set: a crash-replayed doc may sit on both sides; a
            # duplicated member would otherwise emit a degenerate self-pair
            .agg(F.sort_array(F.collect_set("doc_id")).alias("members"))
            .filter(F.size("members") > 1)
            .select(
                F.element_at("members", 1).alias("doc_a"),
                F.explode(F.slice("members", 2, F.size("members"))).alias("doc_b"),
            )
        )
        new_a = new_ids.withColumnRenamed("doc_id", "doc_a")
        new_b = new_ids.withColumnRenamed("doc_id", "doc_b")
        star_touch = star.join(new_a, "doc_a", "left_semi").unionByName(
            star.join(new_b, "doc_b", "left_semi")
        )
        cand = cand.unionByName(star_touch)
    return cand.distinct()


def incremental_neardup(
    index_sigs: DataFrame | None,
    index_toks: DataFrame | None,
    new_sigs: DataFrame,
    new_toks: DataFrame,
    tau: float = JACCARD_TAU,
    band_rows: int = BAND_ROWS,
    max_bucket_size: int = MAX_BUCKET_SIZE,
) -> DataFrame:
    """Near-dup pairs that touch at least one NEW doc, identical to what a
    full re-run over index ∪ new would emit for those pairs.

    This is the stateless DataFrame form: it derives the index band/gset
    tables from the raw signature/token frames (one O(index) banding pass).
    stream_dedup does NOT go through it — it persists the band and gset
    tables in DedupIndex and calls incremental_candidates on bucket-pruned
    reads, making per-epoch candidate generation O(batch).  With no index
    (both None) this degenerates to the full pipeline over ``new`` alone —
    the property the equivalence test pins down.

    PRECONDITION: index and new must be doc-disjoint per table (no doc_id on
    both sides of either union).  The function does NOT dedupe the unions —
    doing so would shuffle the whole index every call.  Callers with
    possibly-overlapping sides (crash replay) must anti-join first, which
    costs O(batch), not O(corpus).

    The combined token set is consumed several times by the verify stage:
    it is localCheckpoint-ed here and freed by the ContextCleaner once the
    result goes out of scope — no session-global cache is involved."""
    new_bands = banded_signatures(new_sigs, band_rows)
    idx_bands = banded_signatures(index_sigs, band_rows) if index_sigs is not None else None
    new_gsets = doc_gsets(new_toks)
    idx_gsets = doc_gsets(index_toks) if index_toks is not None else None
    new_ids = new_toks.select("doc_id").distinct()
    pairs = incremental_candidates(
        new_bands, new_gsets, new_ids, idx_bands, idx_gsets, max_bucket_size
    )
    toks = new_toks if index_toks is None else index_toks.unionByName(new_toks)
    toks = toks.localCheckpoint(eager=True)
    return jaccard_verify(pairs, toks.withColumnRenamed("tok_id", "tok"), tau)


def embedding_neardup(
    embeddings: DataFrame, tau: float = 0.9,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs -> (vec_a, vec_b, cos_sim).

    Scale path: LSH sign-buckets (random-hyperplane, deterministic integer
    weights) confine the pairwise cosine verify to same-bucket vectors —
    sum(bucket^2) work instead of n^2.  High-cosine pairs land in the same
    bucket with probability (1 - theta/pi)^n_planes, so this is the recall/
    cost knob; all arithmetic is JVM-side (zip_with/aggregate, codegen).
    """
    from plume_spark.operators.similarity import blocked_cosine_pairs, lsh_buckets

    buckets = lsh_buckets(embeddings, id_col=id_col, vec_col=vec_col).withColumnRenamed(
        "vec_id", id_col
    )
    with_bucket = embeddings.join(buckets, id_col)
    return blocked_cosine_pairs(
        with_bucket, block_col="bucket", tau=tau, id_col=id_col, vec_col=vec_col
    )


def simhash(
    df: DataFrame, text: str = "text", id_col: str = "doc_id",
    portable_ids: bool = False,
) -> DataFrame:
    """(doc_id, simhash): 16-bit sign-sum fingerprint over hashed token
    ids — near-dups differ in few bits (Hamming).  Pure column arithmetic
    end-to-end; ``portable_ids`` switches to the SQL-reproducible polynomial
    hash (oracle path), xxhash64 otherwise — neither needs a dictionary."""
    tok = tokens(df, text, id_col)
    id_fn = portable_token_ids if portable_ids else hashed_token_ids
    ids = id_fn(tok).select("doc_id", "tok_id")
    scrambled = ids.withColumn(
        "s", (F.col("tok_id") * F.lit(SIMHASH_SCRAMBLE)) % F.lit(4294967296)
    )
    bits = scrambled.select(
        "doc_id",
        *[
            (((F.col("s") / F.lit(2**j)).cast("long") % 2) * 2 - 1).alias(f"w{j}")
            for j in range(SIMHASH_BITS)
        ],
    )
    agg = bits.groupBy("doc_id").agg(
        *[F.sum(f"w{j}").alias(f"s{j}") for j in range(SIMHASH_BITS)]
    )
    sh = None
    for j in range(SIMHASH_BITS):
        term = F.when(F.col(f"s{j}") >= 0, F.lit(2**j)).otherwise(F.lit(0))
        sh = term if sh is None else sh + term
    return agg.select("doc_id", sh.cast("long").alias("simhash"))  # match SQL BIGINT


def ngram_jaccard_pairs(
    df: DataFrame, n: int = 3, tau: float = JACCARD_TAU,
    text: str = "text", id_col: str = "doc_id",
) -> DataFrame:
    """Word n-gram (shingle) Jaccard near-dup pairs, shingle-blocked.

    Blocking on shared shingles bounds candidates to pairs with >=1 common
    shingle; exact verification follows.  Quadratic within hot shingles —
    the minhash operator is the scale path for this semantics.  Built on
    the same shingles()/jaccard_verify primitives as the minhash path, so
    the two can never drift apart on tokenization or scoring.
    """
    sh = shingles(df, n, text, id_col).localCheckpoint(eager=True)
    a = sh.select(F.col("doc_id").alias("doc_a"), "tok")
    b = sh.select(F.col("doc_id").alias("doc_b"), "tok")
    cand = (
        a.join(b, "tok")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    return jaccard_verify(cand, sh, tau)


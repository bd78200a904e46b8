"""LSH blocking and blocked cosine pairs over embedding columns
(array<float>) — the two halves of ``dedup.embedding_neardup``.

* lsh_buckets — random-hyperplane signs with integer pseudo-weights
  (deterministic, engine-portable); the blocking path for pairwise search.
* blocked_cosine_pairs — near-dup pairs within coarse blocks (label column or
  LSH bucket): at 100 TB you never all-pairs, you bucket then verify within
  buckets.

Vector arithmetic has TWO evaluation paths and both operators pick between
them by Catalyst's size estimate (see CODEGEN_MIN_BYTES):

* UNROLLED fixed-width element_at expression chains (whole-stage codegen) —
  the scale path: HOFs evaluate interpreted per element with per-call
  allocation, measured ~300 us/pair on 64-dim vectors (66 s for 200k pairs
  at sf0.1) vs single-digit seconds unrolled.
* F.aggregate/F.zip_with higher-order functions (interpreted, zero Janino
  compile) — the small-scan path: compiling one ~400-node unrolled kernel
  costs ~0.7 s that a small scan never earns back.

Both run the identical left-to-right float64 fold with elements widened to
double before multiplying, so results are bit-identical either way (pinned
by test_lsh_and_pair_strategies_bit_identical) and match the DuckDB oracle.
Norms are computed once per row BEFORE the pair join, never per pair.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

N_PLANES = 8
# integer pseudo-random plane weights: w(p, i) = ((i+1)*2654435761 + (p+1)*40503) % 8191 - 4095
_W_MUL_I = 2654435761
_W_MUL_P = 40503
_W_MOD = 8191
_W_OFF = 4095


# The ONE pair of interpreted (HOF) kernels both operators' small-scan paths
# share.  Elements are widened to double BEFORE multiplying — a float32
# product rounds differently from the unrolled double-first codegen kernels,
# and the two paths must stay bit-identical (the auto strategy choice may
# never be observable in values).
def _dot_hof(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, t: acc + t,
    )


def _norm_hof(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            a, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")
        )
    )


def _de(c: Column, i: int) -> Column:
    """i-th element (1-based) as double — the codegen'd scalar access."""
    return F.element_at(c, i).cast("double")


def dot_unrolled(a: Column, b: Column, dim: int) -> Column:
    """Left-fold sum of element products: ((a1*b1 + a2*b2) + a3*b3)... —
    the same sequential float64 accumulation as a fold/loop, fully codegen."""
    return reduce(lambda acc, t: acc + t, (_de(a, i) * _de(b, i) for i in range(1, dim + 1)))


def norm_unrolled(a: Column, dim: int) -> Column:
    return F.sqrt(reduce(lambda acc, t: acc + t, (_de(a, i) * _de(a, i) for i in range(1, dim + 1))))


def infer_dim(df: DataFrame, vec_col: str) -> int:
    """Vector width from one row (uniform-width contract; one tiny job)."""
    row = df.select(F.size(F.col(vec_col)).alias("d")).first()
    if row is None or row["d"] is None or row["d"] <= 0:
        raise ValueError(f"cannot infer embedding dim from column {vec_col!r}")
    return int(row["d"])


# Below this estimated scan size the HOF plan wins: Janino-compiling the
# ~400-node unrolled kernel costs ~0.7 s, which a small scan never earns
# back (measured at sf0.1/2k rows: HOF 0.31 s vs unrolled 1.28 s warm);
# above it the ~30x per-row codegen advantage dominates.  64-dim float
# rows are ~300 B, so 32 MiB ~ 100k rows.
CODEGEN_MIN_BYTES = 32 * 1024 * 1024


def _plan_size_bytes(df: DataFrame) -> int:
    """Catalyst's sizeInBytes estimate for df — zero jobs (parquet file
    sizes propagate through the optimized plan).  Falls back to 'huge' on
    any internal-API drift, which picks the scale-safe codegen path."""
    try:
        return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:
        return 1 << 62


def _resolve_strategy(df: DataFrame, strategy: str) -> str:
    """The ONE codegen-vs-HOF decision both similarity operators share:
    'auto' resolves by Catalyst's size estimate against CODEGEN_MIN_BYTES;
    anything but codegen/hof is rejected here so no call site can drift."""
    if strategy == "auto":
        return "codegen" if _plan_size_bytes(df) >= CODEGEN_MIN_BYTES else "hof"
    if strategy not in ("codegen", "hof"):
        raise ValueError(f"strategy must be auto|codegen|hof, got {strategy!r}")
    return strategy


def lsh_buckets(
    embeddings: DataFrame, n_planes: int = N_PLANES,
    id_col: str = "vec_id", vec_col: str = "embedding",
    strategy: str = "auto",
) -> DataFrame:
    """(vec_id, bucket): sign bits against n_planes integer hyperplanes.

    Weights are a pure arithmetic function of (plane, dim) — no weight table
    to broadcast, no randomness to persist, identical across engines/runs.

    ``strategy`` picks how the n_planes weighted sums evaluate: 'codegen'
    unrolls each projection into a literal expression chain (the scale
    path — per-row cost far below the HOF form, Janino compile amortized
    over the scan);
    'hof' evaluates aggregate/zip_with interpreted with the weights as an
    array literal (zero compile — right for small scans); 'auto' picks by
    Catalyst's size estimate.  Both run the identical left-to-right float64
    fold, so the SIGN — and therefore the bucket — is identical either way
    (a leading +0.0 cannot flip a sign: 0.0 + x == x, and -0.0 vs +0.0
    both satisfy >= 0)."""
    dim = infer_dim(embeddings, vec_col)  # weights need dim on BOTH paths
    strategy = _resolve_strategy(embeddings, strategy)
    v = F.col(vec_col)
    bucket = None
    for p in range(n_planes):
        weights = [
            float(((i * _W_MUL_I + (p + 1) * _W_MUL_P) % _W_MOD) - _W_OFF)
            for i in range(1, dim + 1)
        ]
        if strategy == "codegen":
            proj = reduce(
                lambda acc, t: acc + t,
                (_de(v, i) * F.lit(weights[i - 1]) for i in range(1, dim + 1)),
            )
        else:
            warr = F.array(*[F.lit(w) for w in weights])
            proj = F.aggregate(
                F.zip_with(v, warr, lambda x, w: x.cast("double") * w),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
        bit = F.when(proj >= 0, F.lit(2**p)).otherwise(F.lit(0))
        bucket = bit if bucket is None else bucket + bit
    return embeddings.select(F.col(id_col).alias("vec_id"), bucket.alias("bucket"))


def blocked_cosine_pairs(
    embeddings: DataFrame, block_col: str, tau: float = 0.9,
    id_col: str = "vec_id", vec_col: str = "embedding",
    n_splits: int = 8, strategy: str = "auto",
) -> DataFrame:
    """Near-duplicate pairs (cosine >= tau) within blocks — IVF-style:
    the pairwise join is confined to same-block vectors, so cost is
    sum(block^2) not total^2.  ``block_col`` may be a data column (label)
    or the output of lsh_buckets joined on.

    Norms are projected ONCE per row before the self-join; each pair costs
    one unrolled dot + one divide (codegen), not three HOF traversals.

    Parallelism does NOT depend on the number of blocks: with few hot
    blocks (a 3-label corpus) a plain self-join on the block key puts each
    block's |block|^2 work on ONE task, and AQE's skew splitter only kicks
    in past its byte thresholds.  Each row therefore gets a deterministic
    sub-group g = pmod(xxhash64(id), n_splits); the probe side is
    replicated once per target sub-group, the join key becomes
    (blk, sub-group), and every block's work spreads over n_splits tasks —
    blocks x n_splits join keys, same pair set (each unordered pair meets
    exactly once: a=x only joins b=y through y's sub-group, and the
    vec_a < vec_b filter kills the mirror).  Replication multiplies the
    probe-side shuffle by n_splits, a linear cost against the quadratic
    work it balances; size n_splits ~ tasks-per-block wanted."""
    strategy = _resolve_strategy(embeddings, strategy)
    if strategy == "codegen":
        dim = infer_dim(embeddings, vec_col)  # only the unrolled form needs it
        nrm_of, dot_of = (
            lambda c: norm_unrolled(c, dim),
            lambda x, y: dot_unrolled(x, y, dim),
        )
    else:
        nrm_of, dot_of = _norm_hof, _dot_hof
    with_norm = embeddings.select(
        F.col(block_col).alias("blk"),
        F.col(id_col).alias("_vid"),
        F.col(vec_col).alias("_v"),
        nrm_of(F.col(vec_col)).alias("_n"),
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_splits)).alias("_g"),
    )
    a = with_norm.select(
        "blk",
        F.col("_vid").alias("vec_a"),
        F.col("_v").alias("va"),
        F.col("_n").alias("na"),
        F.explode(F.sequence(F.lit(0), F.lit(n_splits - 1))).alias("_g"),
    )
    b = with_norm.select(
        "blk", F.col("_vid").alias("vec_b"), F.col("_v").alias("vb"),
        F.col("_n").alias("nb"), "_g",
    )
    return (
        a.join(b, ["blk", "_g"])
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select(
            "vec_a",
            "vec_b",
            F.round(
                dot_of(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")), 4
            ).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= tau)
    )

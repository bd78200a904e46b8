"""Mention + relation extraction: transcript turns -> one change log.

Reference analog: the abstract pass ``generateParts()`` + ``runOnPart(builder,
part)`` (astcreator/.../PlumeForkJoinParallelCpgPass.scala:21,30) with the one
concrete pass AstCreationPass.runOnPart (astcreator/.../AstCreationPass.scala:35-51):
one independent part in, many nodes/edges out.

Spark recast: ``mapInPandas`` over the input's existing partitioning, with no
shuffle.  Each Arrow batch is one part: the vectorized kernel
``_extract_part_vec`` sorts it by (conv_id, turn_idx) and emits a single
change-log frame, later split per record kind (the 3-way ``collect { case ...
}`` split of Neo4jDriver.scala:198-212).  The grammar is strictly turn-local,
so a part need not hold whole conversations.

Failure policy: malformed rows are skipped, by ``split_valid_rejects`` and by
the kernel's own row mask (the per-part tolerance of
AstCreationPass.scala:46-50).  A kernel exception is a bug: it fails the Spark
task, and so the build, with its Python traceback.

The extraction grammar is the contract documented in plume_spark/generator.py;
tests/oracle.py re-implements it independently in plain Python as the golden
reference the kernel is tested against.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from plume_spark.functions.textnorm import norm_py

# predicate keyword -> (pred, subj_kind, obj_kind); multi-word first
KEYWORDS = [
    ("works at", "works_at", "person", "org"),
    ("produces", "produces", "org", "artifact"),
    ("visited", "visited", "person", "org"),
    ("uses", "uses", "person", "tool"),
    ("met", "met", "person", "person"),
]
FALLBACK_PRED = ("mentions", "entity", "entity")

_STRIP = ".,;:!?\"'()[]{}<>«»—–-"

# change-log schema: one frame per pass, split per kind downstream (U2)
CHANGELOG_SCHEMA = T.StructType(
    [
        T.StructField("rec_kind", T.StringType()),  # 'mention' | 'triple'
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("mention_id", T.LongType()),
        T.StructField("surface", T.StringType()),
        T.StructField("norm", T.StringType()),
        T.StructField("kind", T.StringType()),
        T.StructField("span_start", T.IntegerType()),
        T.StructField("span_end", T.IntegerType()),
        T.StructField("arg_index", T.IntegerType()),  # W2: positional rank in turn
        T.StructField("pred", T.StringType()),
        T.StructField("subj_norm", T.StringType()),
        T.StructField("subj_kind", T.StringType()),
        T.StructField("obj_norm", T.StringType()),
        T.StructField("obj_kind", T.StringType()),
        T.StructField("src_mention", T.StringType()),
        T.StructField("obj_mention", T.StringType()),
    ]
)

# UDF-side schema: the compact mention records carry no occurrence, so no
# mention_id; extract_changelog adds the column as NULL.
_UDF_SCHEMA = T.StructType([f for f in CHANGELOG_SCHEMA.fields if f.name != "mention_id"])

# one regex that matches a MAXIMAL capitalized-token run directly: a token
# qualifies iff its first non-STRIP character is an ASCII uppercase letter,
# runs extend across whitespace gaps (token-index adjacency == whitespace-only
# separation, since tokens are \S+), and a non-qualifying token breaks the run
# because it cannot match the token alternative.  One C-level scan finds every
# run of a batch.
_RUN_TOKEN = r"[.,;:!?\"'()\[\]{}<>«»—–-]*[A-Z]\S*"
_RUN_RE = re.compile(rf"(?:^|(?<=\s))(?:{_RUN_TOKEN})(?:\s+(?:{_RUN_TOKEN}))*")
# separator between turns in the batch mega-string: the \x00 token's first
# non-STRIP char is \x00 (not A-Z), so no run can cross a turn boundary
_SEP = "\n\x00\n"


def _extract_part_vec(pdf: pd.DataFrame) -> pd.DataFrame:
    """runOnPart analog: one part (an Arrow batch of turns) in, its change
    log out.  Rows are sorted (conv_id, turn_idx) so each conversation's
    turns are contiguous in stable turn order (W1).

    VECTORIZED batch kernel: all turns of the batch are joined into one
    mega-string (separator \\x00 cannot start or extend a run), mention runs
    are found by ONE compiled-regex scan (C-level, replacing the per-token
    Python loop), matches map back to turns via searchsorted over the turn
    offsets, and every output column is assembled by numpy array arithmetic.
    The per-token iteration + per-record append loop this replaced was ~2/3
    of kernel CPU (kernel micro-bench 0.97 s -> 0.31 s per 20k turns, 3.2x);
    extraction was 94% of flagship wall time, and the k=192 phase profile
    moved 116 s -> 63 s on 8 cores (232k -> 400k triples/s end-to-end).
    test_vectorized_kernel_equals_oracle pins its records, column by column,
    to the golden extractor in tests/oracle.py on adversarial text.
    ``norm_py`` is memoized per part via a distinct-surface map: surface
    forms repeat heavily in real transcripts.  Malformed rows (non-string /
    empty text, non-numeric turn_idx) are skipped, not fatal — the same
    per-part tolerance as the reference (AstCreationPass.scala:46-50)."""
    import numpy as np

    pdf = pdf.sort_values(["conv_id", "turn_idx"], kind="mergesort")
    names = [f.name for f in _UDF_SCHEMA.fields]
    texts_raw = pdf["text"]
    # non-numeric AND non-finite turn_idx rows are skipped (an unguarded
    # int64 cast would turn inf into INT64_MIN garbage); fractional floats
    # truncate toward zero, like int()
    ti_f = pd.to_numeric(pdf["turn_idx"], errors="coerce").to_numpy(
        dtype="float64", na_value=float("nan")
    )
    ok = texts_raw.map(
        lambda t: isinstance(t, str) and bool(t)
    ).to_numpy() & np.isfinite(ti_f)
    if not ok.any():
        return pd.DataFrame({n: [] for n in names})
    texts = texts_raw.to_numpy()[ok]
    convs = pdf["conv_id"].to_numpy()[ok]
    tis = ti_f[ok].astype("int64")

    mega = _SEP.join(texts)
    # start offset of each turn's text inside the mega-string
    lens = np.fromiter((len(t) for t in texts), dtype="int64", count=len(texts))
    starts = np.zeros(len(texts), dtype="int64")
    np.cumsum(lens[:-1] + len(_SEP), out=starts[1:])

    runs = list(_RUN_RE.finditer(mega))
    if not runs:
        return pd.DataFrame({n: [] for n in names})
    n_m = len(runs)
    s0 = np.empty(n_m, dtype="int64")
    e0 = np.empty(n_m, dtype="int64")
    surfaces: list[str] = [""] * n_m
    for i, mt in enumerate(runs):
        g = mt.group(0)
        a = mt.start() + (len(g) - len(g.lstrip(_STRIP)))
        b = mt.end() - (len(g) - len(g.rstrip(_STRIP)))
        s0[i] = a
        e0[i] = b
        surfaces[i] = mega[a:b]
    turn_of = np.searchsorted(starts, s0, side="right") - 1
    span_start = s0 - starts[turn_of]
    span_end = e0 - starts[turn_of]
    # arg_index: running count within each turn (turn_of is non-decreasing)
    first_of_turn = np.empty(n_m, dtype=bool)
    first_of_turn[0] = True
    first_of_turn[1:] = turn_of[1:] != turn_of[:-1]
    run_start_pos = np.maximum.accumulate(np.where(first_of_turn, np.arange(n_m), 0))
    arg_index = np.arange(n_m) - run_start_pos

    # relations: consecutive mention pairs within one turn; FIRST keyword in
    # the between-text wins, else the fallback.  Deliberately a tight Python
    # loop: a pandas .str.lower() + five .str.find() passes over the same
    # array were MEASURED SLOWER (1.9 s vs 1.5 s per 100k turns) — per-call
    # overhead and re-allocation dominate on short between-strings, and
    # relations are ~1 per turn, not per token.
    pair = np.nonzero(turn_of[:-1] == turn_of[1:])[0]
    preds: list[str] = [""] * len(pair)
    sks: list[str] = [""] * len(pair)
    oks: list[str] = [""] * len(pair)
    for j, i in enumerate(pair):
        between = mega[e0[i] : s0[i + 1]].lower()
        best = None
        for kw, pred, sk, okk in KEYWORDS:
            p = between.find(kw)
            if p >= 0 and (best is None or p < best[0]):
                best = (p, pred, sk, okk)
        preds[j], sks[j], oks[j] = (
            (best[1], best[2], best[3]) if best else FALLBACK_PRED
        )
    # mention kind: the obj-kind of the PRECEDING relation wins over the
    # subj-kind of the following one, else 'entity'
    is_pair = np.zeros(n_m, dtype=bool)
    is_pair[pair] = True
    sk_arr = np.empty(n_m, dtype=object)
    ok_arr = np.empty(n_m, dtype=object)
    sk_arr[:] = "entity"
    ok_arr[:] = "entity"
    if len(pair):
        sk_arr[pair] = sks
        ok_arr[pair + 1] = oks
    prev_is_pair = np.zeros(n_m, dtype=bool)
    prev_is_pair[1:] = is_pair[:-1]
    kinds = np.where(prev_is_pair, ok_arr, np.where(is_pair, sk_arr, "entity"))

    norm_map = {s: norm_py(s) for s in set(surfaces)}
    surf_a = np.array(surfaces, dtype=object)
    norm_a = np.array([norm_map[s] for s in surfaces], dtype=object)

    conv_m = convs[turn_of]
    ti_m = tis[turn_of]
    n_t = len(pair)
    n = n_m + n_t

    # ONE output frame assembled column-by-column from plain numpy arrays —
    # no pd.concat (whose extension-dtype NA reconciliation was measured at
    # >60% of kernel time) and no per-row Python in sight.  Mention rows
    # occupy [0, n_m), triple rows [n_m, n); columns that only one record
    # kind carries stay None on the other side.
    def _both(m_vals, t_vals):
        col = np.empty(n, dtype=object)
        col[:n_m] = m_vals
        col[n_m:] = t_vals
        return col

    rec_kind = np.empty(n, dtype=object)
    rec_kind[:n_m] = "mention"
    rec_kind[n_m:] = "triple"
    cols = {
        "rec_kind": rec_kind,
        "conv_id": _both(conv_m, conv_m[pair]),
        "turn_idx": _both(ti_m, ti_m[pair]),
        "surface": _both(surf_a, None),
        "norm": _both(norm_a, None),
        "kind": _both(kinds, None),
        "span_start": _both(span_start, None),
        "span_end": _both(span_end, None),
        "arg_index": _both(arg_index, None),
        "pred": _both(None, preds),
        "subj_norm": _both(None, norm_a[pair]),
        "subj_kind": _both(None, sks),
        "obj_norm": _both(None, norm_a[pair + 1]),
        "obj_kind": _both(None, oks),
        "src_mention": _both(None, surf_a[pair]),
        "obj_mention": _both(None, surf_a[pair + 1]),
    }
    return pd.DataFrame({name: cols[name] for name in names})


def find_relations(text: str) -> list[dict]:
    """The relations the kernel extracts from ``text`` taken as one turn, in
    text order: dicts with ``subj``/``obj`` (the mention surfaces), ``pred``,
    ``subj_kind`` and ``obj_kind``.  A driver-side view of
    ``_extract_part_vec`` for code that checks text against the grammar."""
    out = _extract_part_vec(pd.DataFrame({"conv_id": [""], "turn_idx": [0], "text": [text]}))
    t = out[out["rec_kind"] == "triple"]
    return [
        {"subj": subj, "pred": pred, "obj": obj, "subj_kind": sk, "obj_kind": ok}
        for subj, pred, obj, sk, ok in zip(
            t["src_mention"], t["pred"], t["obj_mention"], t["subj_kind"], t["obj_kind"]
        )
    ]


def split_valid_rejects(transcripts: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Error-path tolerance (P8): malformed rows are diverted, not fatal."""
    bad = (
        F.col("conv_id").isNull()
        | F.col("turn_idx").isNull()
        | F.col("text").isNull()
        | (F.length("text") == 0)
    )
    return transcripts.filter(~bad), transcripts.filter(bad)


def _extract_batches_compact(batches):
    """mapInPandas adapter: the kernel applied to each incoming Arrow batch in
    place (no shuffle — see extract_changelog), with its mention records
    collapsed to the batch's DISTINCT (norm, kind) pairs (a map-side partial
    of the global per-norm reduction build_entities performs); triple
    records pass through untouched.

    Entity linking is a pure function of the distinct-norm dictionary and the
    kind hint is a global min over (norm, kind) pairs, so collapsing
    duplicates changes NOTHING downstream.  It stops shipping the same
    surface form thousands of times through Arrow, the cache and the staging
    table (25,460 mention occurrences for 191 distinct pairs on a
    3,000-conversation, ~100-entity corpus; the mention-stream scan was
    measured memory-bandwidth-bound, the one cost MORE cores cannot buy
    down)."""
    for pdf in batches:
        out = _extract_part_vec(pdf)
        if not len(out):
            continue
        is_m = out["rec_kind"] == "mention"
        m = out[is_m]
        if len(m):
            m = m.drop_duplicates(subset=["norm", "kind"])
            # identity/position fields are occurrence-level — null them so a
            # compact record can never be mistaken for a real occurrence
            m = m.assign(
                conv_id=None, turn_idx=None, surface=None,
                span_start=None, span_end=None, arg_index=None,
            )
        yield pd.concat([m, out[~is_m]], ignore_index=True)


def extract_changelog(transcripts: DataFrame) -> DataFrame:
    """Parallel extraction pass: valid rows -> change-log DataFrame.

    The ForkJoin ``parts.parallel().collect(supplier, accumulator, combiner)``
    fold (PlumeForkJoinParallelCpgPass.scala:47-70) maps to a pandas/Arrow
    UDF pass — Spark's task parallelism is the pool, the implicit union of
    per-batch outputs is the associative ``absorb``.

    ``mapInPandas`` runs over the input's EXISTING partitioning: zero
    shuffle.  The reference's runOnPart needs whole-compilation-unit parts;
    a per-turn grammar does not, and shuffling the full transcript text (by
    far the widest column) just to re-bucket it was measured as the dominant
    non-scaling cost at high core counts — shuffle write+read of the text
    stream is disk/memory-bandwidth-bound, which caps N-vs-4N scaling well
    below the CPU-bound extraction itself.

    Mention records are compact: per-batch distinct (norm, kind) pairs, all
    that entity linking reads.  Their occurrence-level fields (conv_id,
    turn_idx, surface, spans, arg_index, mention_id) are NULL.  Triple
    records are per occurrence.  Every consumer — ``run_pipeline``, the
    staging change log of the persisted build and the stream — reads this
    one form; the per-occurrence mentions are ``_extract_part_vec``'s."""
    valid, _ = split_valid_rejects(transcripts)
    extracted = valid.select("conv_id", "turn_idx", "text").mapInPandas(
        _extract_batches_compact, schema=_UDF_SCHEMA
    )
    return extracted.withColumn("mention_id", F.lit(None).cast("long")).select(
        *[f.name for f in CHANGELOG_SCHEMA.fields]
    )


def split_changelog(changelog: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Per-kind partition of the change log (U2; Neo4jDriver.scala:198-212)."""
    mentions = changelog.filter(F.col("rec_kind") == "mention").select(
        "conv_id", "turn_idx", "mention_id", "surface", "norm", "kind",
        "span_start", "span_end", "arg_index",
    )
    raw_triples = changelog.filter(F.col("rec_kind") == "triple").select(
        "conv_id", "turn_idx", "subj_norm", "subj_kind", "pred",
        "obj_norm", "obj_kind", "src_mention", "obj_mention",
    )
    return mentions, raw_triples

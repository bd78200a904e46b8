"""Seeded, vectorized transcript generator owned by the benchmark.

It follows the extraction grammar the engine implements (a mention is a
maximal run of tokens whose first letter is an uppercase ASCII letter; the
first predicate keyword between two consecutive mentions names the edge), but
it never imports the engine's own generator: a change to the program must not
change the benchmark's inputs.  Every random draw is a numpy array operation
seeded from ``(seed, style, part)``, so the same seed writes byte-identical
parquet.

Two conversation styles:

* ``turns`` - 3 to 10 turns per conversation over a closed lexicon of about a
  hundred entities (person names, org alias groups, one hot org, tools,
  artifacts).  Extraction dominates; linking sees a tiny dictionary.
* ``vocab`` - 2 relation turns per conversation over a generated vocabulary
  of tens of thousands of person and org names, orgs written with random
  legal-suffix aliases.  Canonicalization dominates.

Each relation turn plants exactly one triple with a known predicate, so the
predicate histogram of a built graph is known in advance (``planted``).
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

FIRST = ["Amara", "Boris", "Chen", "Dalia", "Emeka", "Farah", "Goran", "Hana", "Ines", "Jonas"]
LAST = ["Abbott", "Brandt", "Castro", "Dimitrov", "Eze", "Fischer", "Haddad", "Ito"]
ORG_ALIAS_GROUPS = [
    ["Northwind Corp", "Northwind Corporation", "Northwind Inc", "Northwind"],
    ["Vandelay Group", "Vandelay Grp", "Vandelay Group Inc"],
    ["Contoso Ltd", "Contoso", "CONTOSO LLC"],
    ["Tyrell Co", "Tyrell"],
    ["Cyberdyne Systems", "Cyberdyne Systems Inc"],
    ["Gringotts Bank", "Gringotts Bank Ltd"],
    ["Pied Piper", "Pied Piper Inc"],
    ["Massive Dynamic", "Massive Dynamic Corp"],
]
HOT_ORG = "Megacorp"
TOOLS = ["Lathe400", "CodeScope", "DataLens", "PlotKit", "TraceView", "SheetPro"]
ARTIFACTS = ["Gizmo5", "ReportZ", "Prototype8", "LedgerQ3", "ModelKappa"]
FILLER = [
    "the meeting notes were filed without further changes",
    "see the attached summary for the remaining details",
    "no further action is needed at this point",
    "naïve café review done — <tag> \"quoted\" 'single' {k: v} 東京 ok",
    "circle back next week on the open items",
    "sounds fine, proceed as planned",
]
ROLES = np.array(["user", "assistant", "tool", "system"], dtype=object)
LEGAL = np.array(["", " Corp", " Inc", " Ltd", " LLC", " Co", " Corporation"], dtype=object)
SYLLABLES = [
    "ka", "lo", "mi", "ren", "zu", "ta", "vor", "ne", "sil", "dra", "po", "qui",
    "bel", "tor", "an", "ex", "ri", "mon", "sa", "gel", "hu", "fen", "ost", "wy",
]

# (prefix, slot a, middle, slot b, suffix, pred); exactly one keyword (or none,
# for "mentions") sits between the two mentions
TEMPLATES = [
    ("yesterday ", "P", " met ", "P", " in the lobby", "met"),
    ("", "P", " works at ", "O", " these days", "works_at"),
    ("", "P", " uses ", "T", " for the analysis", "uses"),
    ("", "O", " produces ", "A", " every quarter", "produces"),
    ("last month ", "P", " visited ", "O", " headquarters", "visited"),
    ("", "P", " and ", "O", " discussed the roadmap", "mentions"),
]
PREDS = [t[5] for t in TEMPLATES]
VOCAB_TEMPLATES = [0, 1, 4, 5]  # person/org templates only

EPOCH = np.datetime64("2025-01-01T00:00:00", "us")
SCHEMA = pa.schema(
    [
        ("conv_id", pa.string()),
        ("turn_idx", pa.int32()),
        ("role", pa.string()),
        ("text", pa.string()),
        ("tool", pa.string()),
        ("ts", pa.timestamp("us")),
    ]
)
_STYLE_CODE = {"turns": 1, "vocab": 2}


@dataclass(frozen=True)
class Vocabulary:
    persons: np.ndarray  # object array of "First Last"
    orgs: np.ndarray  # object array of org stems (no legal suffix)


def rng_for(seed: int, *parts: int) -> np.random.Generator:
    return np.random.default_rng(np.random.SeedSequence([seed, *parts]))


def _words(rng: np.random.Generator, n: int, n_syl: int) -> np.ndarray:
    """``n`` capitalized pseudo-words of ``n_syl`` syllables each."""
    syl = np.array(SYLLABLES, dtype=object)
    w = syl[rng.integers(0, len(syl), n)]
    for _ in range(n_syl - 1):
        w = w + syl[rng.integers(0, len(syl), n)]
    return np.array([s.capitalize() for s in w], dtype=object)


def make_vocabulary(seed: int, n_persons: int, n_orgs: int) -> Vocabulary:
    """Distinct generated person and org names, drawn once per seed."""
    rng = rng_for(seed, 99)
    persons = np.unique(_words(rng, 2 * n_persons, 2) + " " + _words(rng, 2 * n_persons, 3))
    orgs = np.unique(_words(rng, 2 * n_orgs, 3) + " " + _words(rng, 2 * n_orgs, 2))
    persons = rng.permutation(persons)[:n_persons]
    orgs = rng.permutation(orgs)[:n_orgs]
    return Vocabulary(persons.astype(object), orgs.astype(object))


def _conv_ids(idx: np.ndarray, prefix: str) -> np.ndarray:
    return np.char.add(prefix, np.char.zfill(idx.astype(str), 8)).astype(object)


def _fill(tpl: np.ndarray, slot_values: dict[str, np.ndarray]) -> np.ndarray:
    """Texts for relation turns: template ``tpl[i]`` with slot draws."""
    n = len(tpl)
    text = np.empty(n, dtype=object)
    for t, (pre, a, mid, b, suf, _pred) in enumerate(TEMPLATES):
        sel = np.flatnonzero(tpl == t)
        if not len(sel):
            continue
        va = slot_values[a][sel]
        vb = slot_values[b + "2"][sel] if a == b else slot_values[b][sel]
        text[sel] = pre + va + mid + vb + suf
    return text


def conversations(
    style: str, seed: int, part: int, first_conv: int, n_convs: int,
    vocab: Vocabulary | None = None,
) -> tuple[pa.Table, dict[str, int]]:
    """One block of conversations ``first_conv .. first_conv + n_convs - 1``.

    Returns the transcript table (rows in shuffled physical order) and the
    planted predicate histogram of its relation turns."""
    rng = rng_for(seed, _STYLE_CODE[style], part)
    conv = np.arange(first_conv, first_conv + n_convs, dtype=np.int64)
    if style == "turns":
        n_turns = rng.integers(3, 11, n_convs)
    else:
        n_turns = np.full(n_convs, 2)
    conv_of_turn = np.repeat(conv, n_turns)
    starts = np.repeat(np.cumsum(n_turns) - n_turns, n_turns)
    turn_idx = (np.arange(len(conv_of_turn)) - starts).astype(np.int32)
    n = len(conv_of_turn)

    roles = ROLES[rng.integers(0, len(ROLES), n)]
    tool_col = np.where(roles == "tool", np.array(TOOLS, dtype=object)[rng.integers(0, len(TOOLS), n)], None)
    if style == "turns":
        relation = rng.random(n) >= 0.35
        tpl = rng.integers(0, len(TEMPLATES), n)
        first = np.array(FIRST, dtype=object)
        last = np.array(LAST, dtype=object)
        persons = first[rng.integers(0, len(first), n)] + " " + last[rng.integers(0, len(last), n)]
        persons2 = first[rng.integers(0, len(first), n)] + " " + last[rng.integers(0, len(last), n)]
        flat = np.array([s for g in ORG_ALIAS_GROUPS for s in g], dtype=object)
        grp = rng.integers(0, len(ORG_ALIAS_GROUPS), n)
        offs = np.cumsum([0] + [len(g) for g in ORG_ALIAS_GROUPS])
        sizes = np.diff(offs)
        orgs = flat[offs[grp] + (rng.random(n) * sizes[grp]).astype(np.int64)]
        orgs = np.where(rng.random(n) < 0.10, HOT_ORG, orgs)
    else:
        relation = np.ones(n, dtype=bool)
        tpl = np.array(VOCAB_TEMPLATES)[rng.integers(0, len(VOCAB_TEMPLATES), n)]
        persons = vocab.persons[rng.integers(0, len(vocab.persons), n)]
        persons2 = vocab.persons[rng.integers(0, len(vocab.persons), n)]
        orgs = vocab.orgs[rng.integers(0, len(vocab.orgs), n)] + LEGAL[rng.integers(0, len(LEGAL), n)]
    slots = {
        "P": persons,
        "P2": persons2,
        "O": orgs,
        "T": np.array(TOOLS, dtype=object)[rng.integers(0, len(TOOLS), n)],
        "A": np.array(ARTIFACTS, dtype=object)[rng.integers(0, len(ARTIFACTS), n)],
    }
    text = np.array(FILLER, dtype=object)[rng.integers(0, len(FILLER), n)]
    rel = np.flatnonzero(relation)
    text[rel] = _fill(tpl[rel], {k: v[rel] for k, v in slots.items()})
    ts = (
        EPOCH
        + (conv_of_turn % 365).astype("timedelta64[D]")
        + turn_idx.astype(np.int64).astype("timedelta64[m]")
    )
    order = rng.permutation(n)  # consumers must not rely on physical order
    table = pa.table(
        {
            "conv_id": _conv_ids(conv_of_turn, f"{style}-")[order],
            "turn_idx": turn_idx[order],
            "role": roles[order],
            "text": text[order],
            "tool": tool_col[order],
            "ts": ts[order],
        },
        schema=SCHEMA,
    )
    counts = np.bincount(tpl[rel], minlength=len(TEMPLATES))
    planted = {p: 0 for p in PREDS}
    for t, c in enumerate(counts):
        planted[PREDS[t]] += int(c)
    return table, planted


def write(table: pa.Table, path: str) -> int:
    """Write one parquet file with fixed writer settings; returns its bytes."""
    pq.write_table(table, path, compression="zstd", row_group_size=1 << 17)
    return os.path.getsize(path)


def merge_counts(*hists: dict[str, int]) -> dict[str, int]:
    out: dict[str, int] = {}
    for h in hists:
        for k, v in h.items():
            out[k] = out.get(k, 0) + v
    return out


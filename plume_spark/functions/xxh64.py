"""XXH64 (seed 42) bit-identical to Spark's ``xxhash64`` expression
(org.apache.spark.sql.catalyst.expressions.XxHash64, default seed 42), so
driver-side code can reproduce JVM hash values exactly.  Validated against
Spark in tests/test_operators.py and tests/test_properties.py.

Two entry points:
* ``xxh64_fixed`` / ``xxh64_ngrams`` — vectorized over many short byte
  strings (< 32 bytes, enough for character n-grams; longer inputs raise so a
  mismatch can never pass silently);
* ``xxhash64`` — one value of a LongType, IntegerType or StringType column at
  any length: the store's driver-side bucket hash.
"""

from __future__ import annotations

import struct

import numpy as np

_P1 = np.uint64(11400714785074694791)
_P2 = np.uint64(14029467366897019727)
_P3 = np.uint64(1609587929392839161)
_P4 = np.uint64(9650029242287828579)
_P5 = np.uint64(2870177450012600261)
_SEED = np.uint64(42)


def _rotl(x: np.ndarray, r: int) -> np.ndarray:
    r = np.uint64(r)
    return (x << r) | (x >> (np.uint64(64) - r))


def xxh64_fixed(byte_cols: list[np.ndarray], length: int) -> np.ndarray:
    """XXH64 of N same-length byte strings, given as ``length`` parallel
    uint64 arrays (byte_cols[j][i] = byte j of string i).  length < 32."""
    if length >= 32:
        raise NotImplementedError("xxh64_fixed implements only the <32-byte path")
    with np.errstate(over="ignore"):
        n = len(byte_cols[0]) if byte_cols else 0
        h = np.full(n, _SEED + _P5 + np.uint64(length), dtype=np.uint64)
        j = 0
        # 8-byte chunks
        while length - j >= 8:
            k = np.zeros(n, dtype=np.uint64)
            for b in range(8):
                k |= byte_cols[j + b] << np.uint64(8 * b)
            k = _rotl(k * _P2, 31) * _P1
            h = _rotl(h ^ k, 27) * _P1 + _P4
            j += 8
        # 4-byte chunk
        if length - j >= 4:
            k = np.zeros(n, dtype=np.uint64)
            for b in range(4):
                k |= byte_cols[j + b] << np.uint64(8 * b)
            h = _rotl(h ^ (k * _P1), 23) * _P2 + _P3
            j += 4
        # remaining single bytes
        while j < length:
            h = _rotl(h ^ (byte_cols[j] * _P5), 11) * _P1
            j += 1
        # avalanche
        h ^= h >> np.uint64(33)
        h *= _P2
        h ^= h >> np.uint64(29)
        h *= _P3
        h ^= h >> np.uint64(32)
    return h


def xxh64_ngrams(strings: list[str], n: int = 3) -> list[np.ndarray]:
    """Per-string arrays of xxh64 values of its distinct character n-grams
    (NUL-padded to length n, matching linking.gram_array).  Vectorized: one
    flat hash pass over all (string, gram) occurrences."""
    if not all(s.isascii() for s in strings):
        # latin-1 encoding below diverges from Spark's UTF-8 hashing for
        # U+0080..U+00FF (silently wrong hashes) and raises confusingly
        # beyond U+00FF — refuse loudly instead, mirroring the >=32-byte
        # guard: a mismatch with the distributed path must never be silent.
        raise NotImplementedError(
            "xxh64_ngrams is ASCII-only (Spark xxhash64 hashes UTF-8 bytes; "
            "the vectorized kernel assumes 1 byte per char) — route non-ASCII "
            "norms through the distributed linking path"
        )
    padded = [s + "\x00" * (n - len(s)) if len(s) < n else s for s in strings]
    counts = np.array([len(s) - n + 1 for s in padded])
    flat = "".join(padded)
    codes = np.frombuffer(flat.encode("latin-1"), dtype=np.uint8).astype(np.uint64)
    # start offset of every gram of every string in the flat buffer
    offsets = np.concatenate([np.zeros(1, dtype=np.int64), np.cumsum([len(s) for s in padded])])[:-1]
    starts = np.concatenate(
        [off + np.arange(c) for off, c in zip(offsets, counts)]
    ) if len(strings) else np.zeros(0, dtype=np.int64)
    cols = [codes[starts + b] for b in range(n)]
    hashes = xxh64_fixed(cols, n)
    out: list[np.ndarray] = []
    pos = 0
    for c in counts:
        out.append(np.unique(hashes[pos : pos + c]))
        pos += c
    return out


# ------------------------------------------------------------------ scalar

_M64 = (1 << 64) - 1
_Q1, _Q2, _Q3, _Q4, _Q5, _S = (int(p) for p in (_P1, _P2, _P3, _P4, _P5, _SEED))
_INT_FORMATS = {"bigint": "<q", "int": "<i"}  # Spark hashLong / hashInt bytes


def _rotl64(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _lane(acc: int, lane: int) -> int:
    return _rotl64((acc + lane * _Q2) & _M64, 31) * _Q1 & _M64


def xxh64_bytes(data: bytes) -> int:
    """Unsigned XXH64 (seed 42) of one byte string of any length (Spark's
    XXH64.hashUnsafeBytes, including the 32-byte stripe loop)."""
    n, i = len(data), 0
    if n >= 32:
        v = [(_S + _Q1 + _Q2) & _M64, (_S + _Q2) & _M64, _S, (_S - _Q1) & _M64]
        while i + 32 <= n:
            v = [_lane(a, b) for a, b in zip(v, struct.unpack_from("<4Q", data, i))]
            i += 32
        h = (_rotl64(v[0], 1) + _rotl64(v[1], 7) + _rotl64(v[2], 12) + _rotl64(v[3], 18)) & _M64
        for a in v:
            h = ((h ^ _lane(0, a)) * _Q1 + _Q4) & _M64
    else:
        h = (_S + _Q5) & _M64
    h = (h + n) & _M64
    while i + 8 <= n:
        h ^= _lane(0, struct.unpack_from("<Q", data, i)[0])
        h = (_rotl64(h, 27) * _Q1 + _Q4) & _M64
        i += 8
    if i + 4 <= n:
        h ^= struct.unpack_from("<I", data, i)[0] * _Q1 & _M64
        h = (_rotl64(h, 23) * _Q2 + _Q3) & _M64
        i += 4
    for b in data[i:]:
        h ^= b * _Q5 & _M64
        h = _rotl64(h, 11) * _Q1 & _M64
    h ^= h >> 33
    h = h * _Q2 & _M64
    h ^= h >> 29
    h = h * _Q3 & _M64
    return h ^ (h >> 32)


def xxhash64(value, dtype) -> int:
    """Spark's ``xxhash64(lit(value).cast(dtype))`` as a signed 64-bit int,
    for a LongType, IntegerType or StringType ``dtype``; any other type
    raises.  A NULL hashes to the seed, as in Spark."""
    name = dtype.simpleString() if dtype is not None else None
    if name != "string" and name not in _INT_FORMATS:
        raise TypeError(f"no driver-side xxhash64 for a {name} key")
    if value is None:
        return _S
    if name == "string":
        data = value.encode("utf-8")
    else:
        data = struct.pack(_INT_FORMATS[name], value)
    h = xxh64_bytes(data)
    return h - (1 << 64) if h >> 63 else h

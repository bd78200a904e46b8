"""Engine-portable fixed-point quantization for reported ratios.

``round(x, d)`` on a double is ENGINE-SPECIFIC at the half boundary: Spark
converts the double to BigDecimal exactly and applies HALF_UP, DuckDB
rounds through its own double path — when an exact rational like 85.165 or
k/1600 lands on (or one ulp off) a half boundary the two engines disagree
(observed twice: the a16 skewness driver hash in round 4, and the
text_readability sf0.1 sweep in round 5).

``floor(x * 10^d + 0.5) / 10^d`` uses only IEEE-754 ops, so BOTH engines
evaluate the identical sequence on the identical double and can never
split — even exactly on a boundary.  Every reported ratio of exact
integers (jaccard, transition shares, histogram shares) quantizes through
this helper, with the DuckDB oracles carrying the same floor expression.

(This does NOT remove summation-order noise in avg-of-ln scores — those
carry a separately documented ~1e-8 flip risk; this closes the exact-
rational boundary class, where the input double is bit-identical on both
engines and only the final rounding differed.)
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def qround(col: Column, digits: int) -> Column:
    """floor(x * 10^digits + 0.5) / 10^digits as plain IEEE double ops."""
    s = float(10**digits)
    return F.floor(col * F.lit(s) + F.lit(0.5)) / F.lit(s)

"""Surface-form normalization, defined ONCE for Spark columns and for Python.

The Spark column expression (JVM-side, codegen'd — the hot path) and the
Python function (used inside the pandas-UDF extraction kernel) must agree
exactly; ``tests/test_properties.py::test_norm_py_matches_norm_col`` asserts
parity on adversarial strings.  The golden extractor in tests/oracle.py keeps
its own ``norm`` and shares no code with this module.

Normalization: lowercase, strip non-alphanumerics to single spaces, drop
corporate legal suffixes, collapse whitespace.  The reference's analog is the
path->FQCN rewrite (astcreator/.../AstCreationPass.scala:28-33,38) — a pure
string canonicalization preceding identity assignment.
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

_LEGAL_SUFFIXES = ("corporation", "corp", "inc", "incorporated", "ltd", "llc", "co")
_SUFFIX_RE = r"\b(" + "|".join(_LEGAL_SUFFIXES) + r")\b"


def norm_col(c: Column | str) -> Column:
    c = F.col(c) if isinstance(c, str) else c
    c = F.lower(c)
    c = F.regexp_replace(c, r"[^a-z0-9]+", " ")
    c = F.regexp_replace(c, _SUFFIX_RE, " ")
    c = F.trim(F.regexp_replace(c, r"\s+", " "))
    return c


_py_nonword = re.compile(r"[^a-z0-9]+")
_py_suffix = re.compile(_SUFFIX_RE)
_py_ws = re.compile(r"\s+")


def norm_py(s: str) -> str:
    s = s.lower()
    s = _py_nonword.sub(" ", s)
    s = _py_suffix.sub(" ", s)
    s = _py_ws.sub(" ", s).strip()
    return s

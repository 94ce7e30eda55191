"""Text cleaning / fingerprinting (reference ``parse_string``,
``KahiDb.py:18-21``: unidecode + TeX-command strip + ``[$_^]``
removal — SURVEY.md F7).

* ``clean_text_expr`` — pure Catalyst column expression (JVM-side,
  whole-stage-codegen'd). At 10^10 events the cleaner must not leave
  the JVM, so this is the only engine cleaner.
* ``fold_text_pandas`` — the same cleaning plus NFKD accent folding,
  as an Arrow-batched pandas UDF: Catalyst has no builtin for the
  folding, so it stays in Python.
* ``clean_text_py`` — driver-side reference for the unit tests.

All strip TeX-ish commands (``\\word``), markup chars ``$ _ ^ { }``,
collapse whitespace runs, and trim.
"""

from __future__ import annotations

import re
import unicodedata

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql import types as T

_TEX_RE = r"\\[a-zA-Z]+"
_MARKUP_RE = r"[\$_\^{}]"
#: ONE-PASS alternation of the TeX strip and the markup strip
#: (round-7: 3 regex passes → 2 on the normalize hot path). Provably
#: equivalent to applying _TEX_RE then _MARKUP_RE sequentially:
#: regexp_replace finds all matches on the ORIGINAL string (it never
#: rescans its own output), TeX matches contain only '\'+letters and
#: markup matches are single chars from [$_^{}] — the two match sets
#: are disjoint and deleting one cannot create/extend a match of the
#: other (a single-char class is adjacency-independent, and a markup
#: char terminates a TeX letter run in both formulations).
_TEX_MARKUP_RE = _TEX_RE + "|" + _MARKUP_RE
_WS_RE = r"\s+"
#: the Python mirror of _WS_RE: Java's \s is ASCII-only while
#: Python's is Unicode-aware — on NBSP/U+2000-family whitespace the
#: cleaners would diverge (different fingerprints/dedup keys for
#: the same text, round-5 review finding), so the Python paths spell
#: Java's class explicitly and strip only the plain space F.trim does
_WS_RE_PY = r"[ \t\n\x0B\f\r]+"


def clean_text_expr(col: Column | str) -> Column:
    """JVM-side text cleaner (whole-stage codegen; no Python).

    Two regex passes (TeX|markup alternation, then whitespace
    collapse) — this runs per event on the 10^10-row normalize path,
    so one saved full-string scan is material (guide §1.2 step 2)."""
    c = F.col(col) if isinstance(col, str) else col
    c = F.regexp_replace(c, _TEX_MARKUP_RE, "")
    c = F.regexp_replace(c, _WS_RE, " ")
    return F.trim(c)


@pandas_udf(T.StringType())
def fold_text_pandas(s: pd.Series) -> pd.Series:
    """Cleaner + NFKD accent folding (the full ``parse_string``
    analogue, reference ``KahiDb.py:18-21`` — unidecode ≈ NFKD
    strip of combining marks). Python-only; Arrow-batched.
    """

    def fold(v: str | None) -> str | None:
        if v is None:
            return None
        return "".join(
            ch
            for ch in unicodedata.normalize("NFKD", v)
            if not unicodedata.combining(ch)
        )

    out = s.map(fold, na_action="ignore")
    out = out.str.replace(_TEX_MARKUP_RE, "", regex=True)
    out = out.str.replace(_WS_RE_PY, " ", regex=True)
    return out.str.strip(" ").str.lower()


def fingerprint_expr(col: Column | str) -> Column:
    """Document fingerprint: md5 of the lower-cased,
    whitespace-collapsed text. Deterministic across engines
    (DuckDB ``md5`` matches), used for exact dedup blocking."""
    c = F.col(col) if isinstance(col, str) else col
    return F.md5(F.trim(F.regexp_replace(F.lower(c), _WS_RE, " ")))


# Python-side mirrors for unit tests / oracle generation ------------------
_tex_c = re.compile(_TEX_RE)
_markup_c = re.compile(_MARKUP_RE)
_ws_c = re.compile(_WS_RE_PY)  # Java-\s parity, same as fold_text_pandas


def clean_text_py(v: str | None) -> str | None:
    """Driver-side reference implementation (tests only). Kept in the
    SEQUENTIAL three-pass form on purpose: the unit tests compare the
    engine's one-pass alternation against this independent spelling,
    which is exactly the equivalence the _TEX_MARKUP_RE comment
    argues."""
    if v is None:
        return None
    return _ws_c.sub(" ", _markup_c.sub("", _tex_c.sub("", v))).strip(" ")

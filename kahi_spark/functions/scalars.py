"""Scalar functions from SURVEY.md §2.7 (F-series) that aren't in
text.py/roles.py/tools.py. All pure Catalyst column expressions.
"""

from __future__ import annotations

from itertools import chain

from pyspark.sql import Column
from pyspark.sql import functions as F


def safe_int_expr(col: Column | str) -> Column:
    """F8: int cast with fallback — NULL on failure, with the
    reference's year-with-trailing-char retry (``KahiDb.py:201-207``:
    '2019a' → 2019)."""
    c = F.col(col) if isinstance(col, str) else col
    # try_cast: NULL on malformed input (ANSI mode would throw)
    direct = c.try_cast("int")
    retry = F.regexp_extract(c, r"^(\d+)", 1).try_cast("int")
    return F.coalesce(direct, retry)


#: F12: country-name → ISO alpha-2, including the reference's
#: hardcoded aliases (``Scopus.check_country``, Scopus.py:159-213).
COUNTRY_ALIASES: dict[str, str] = {
    "united states": "US",
    "usa": "US",
    "united kingdom": "GB",
    "uk": "GB",
    "england": "GB",
    "scotland": "GB",
    "wales": "GB",
    "russia": "RU",
    "south korea": "KR",
    "north korea": "KP",
    "iran": "IR",
    "venezuela": "VE",
    "bolivia": "BO",
    "vietnam": "VN",
    "taiwan": "TW",
    "czech republic": "CZ",
    "colombia": "CO",
    "mexico": "MX",
    "brazil": "BR",
    "germany": "DE",
    "france": "FR",
    "spain": "ES",
    "china": "CN",
    "japan": "JP",
    "india": "IN",
    "canada": "CA",
    "australia": "AU",
}


def country_alpha2_expr(col: Column | str) -> Column:
    """F12: literal-map lookup, constant-folded by Catalyst."""
    c = F.col(col) if isinstance(col, str) else col
    lookup = F.create_map(
        *[F.lit(x) for x in chain.from_iterable(COUNTRY_ALIASES.items())]
    )
    return lookup[F.lower(F.trim(c))]


def issn_format_expr(col: Column | str) -> Column:
    """F14: '12345678' → '1234-5678' (``KahiDb.py:252``)."""
    c = F.col(col) if isinstance(col, str) else col
    bare = F.upper(F.regexp_replace(c, "-", ""))
    return F.concat(F.substring(bare, 1, 4), F.lit("-"), F.substring(bare, 5, 4))


def name_parts_expr(col: Column | str) -> dict[str, Column]:
    """F16: full name → last / first / initials
    (``Scopus.py:396-404``: 'Last, First M.' convention; here the
    simpler 'First ... Last' convention of transcript speakers).
    Returns a dict of named columns."""
    c = F.col(col) if isinstance(col, str) else col
    toks = F.split(F.trim(c), r"\s+")
    first = F.element_at(toks, 1)
    last = F.element_at(toks, -1)
    initials = F.concat_ws(
        "", F.transform(toks, lambda t: F.upper(F.substring(t, 1, 1)))
    )
    return {"first_name": first, "last_name": last, "initials": initials}

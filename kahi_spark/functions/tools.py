"""Tool-field extraction (SURVEY.md J4 analogue: the reference's
within-record fuzzy author↔affiliation assignment,
``WebOfScience.py:310-363`` — here, pulling a tool name out of a
raw turn payload when the ``tool`` column is missing).

Raw feeds embed tool calls in text as ``<tool:NAME>`` or
``[tool=NAME]``; the canonical record wants the bare name in the
``tool`` column, with one native ``regexp_extract`` (JVM-side).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# <tool:search>  |  [tool=search]
_TOOL_PAT = r"(?:<tool:([A-Za-z0-9_\-]+)>|\[tool=([A-Za-z0-9_\-]+)\])"


def extract_tool_expr(text_col: Column | str, tool_col: Column | str | None = None) -> Column:
    """Tool name: explicit ``tool`` column wins; else first embedded
    marker in the text; else NULL."""
    t = F.col(text_col) if isinstance(text_col, str) else text_col
    # ONE regex pass (round-7; was two group-extracts = two full-text
    # scans): take group 0 of the FIRST match, then slice the name out
    # with plain string ops — both marker shapes have a 6-char prefix
    # ('<tool:' / '[tool=') and a 1-char suffix ('>' / ']'), so the
    # name is exactly substr(7, len-7). Group 1/2 of the first match
    # are the same characters, so the value is unchanged.
    m0 = F.regexp_extract(t, _TOOL_PAT, 0)
    extracted = F.when(m0 != "", m0.substr(F.lit(7), F.length(m0) - 7))
    if tool_col is None:
        return extracted
    tc = F.col(tool_col) if isinstance(tool_col, str) else tool_col
    explicit = F.when(tc.isNotNull() & (F.trim(tc) != ""), F.trim(tc))
    return F.coalesce(explicit, extracted)


def strip_tool_marker_expr(text_col: Column | str) -> Column:
    """Remove embedded tool markers from the text once extracted —
    the canonical record carries the name in ``tool``, not inline."""
    t = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.regexp_replace(t, _TOOL_PAT, "")

"""Scalar / vectorized functions (SURVEY.md §2.7 F-series)."""

from kahi_spark.functions.text import (
    clean_text_expr,
    fingerprint_expr,
    fold_text_pandas,
)
from kahi_spark.functions.roles import ROLE_MAP, canonical_role_expr
from kahi_spark.functions.tools import extract_tool_expr

__all__ = [
    "clean_text_expr",
    "fold_text_pandas",
    "fingerprint_expr",
    "ROLE_MAP",
    "canonical_role_expr",
    "extract_tool_expr",
]

"""Iceberg ``MERGE INTO`` statement emitter (SURVEY.md §1.3 / S8).

The sandbox ships no Iceberg runtime jar, so ``SnapshotTable``
executes the MERGE semantics as a full-outer join + snapshot rewrite
over Parquet. On a real cluster the SAME semantics run as one
``MERGE INTO`` against the Iceberg catalog — this module emits that
statement from the same (key_cols, value_cols, policies) vocabulary
``merge_changes_into_state`` uses, so the two paths stay pluggable
(reference analogue: ``insert_one``'s insert-or-``$set`` upsert,
``KahiDb.py:864-909``; mod-patch policies ``KahiDb.py:571-622,
650-732, 760-860``).

The statement mirrors ``merge_changes_into_state`` branch for branch
(``operators/merge.py:249-334``):

* versions compare as ``(ts, seq)`` with NULL ts coalesced to the
  epoch floor — exactly ``_newer_than``;
* a WINNING change (newer, delete or not) applies every value
  column's policy, advances ``_seq`` and derives ``_deleted`` from
  ``op`` — so a winning delete stamps the stored row with ITS
  ``(ts, seq)`` and a later out-of-order update older than the
  delete cannot resurrect the key;
* an OLDER change still applies the non-lww policies (``fill_empty``
  / ``union`` / ``greatest`` are gated on change-present, not on
  winning, in the DataFrame path) without touching ``_seq`` /
  ``_deleted``; the branch is omitted when every column is lww;
* unmatched rows insert (deletes insert as tombstones);
  ``union``-policy columns insert sorted-distinct, matching the
  DataFrame path's normalization of a first-seen array.

The emitted SQL is validated two ways in
``tests/test_iceberg_sql.py``: parse-only through Spark's own parser
(execution needs an Iceberg catalog), and EXECUTED — the structured
clauses from ``merge_clauses`` are applied by a generic
MERGE-semantics interpreter (full-outer join, first-matching WHEN
wins) and the resulting table state is compared row-for-row against
``merge_changes_into_state`` over the same change log.
"""

from __future__ import annotations

from kahi_spark.operators.merge import _TS_FLOOR


def _policy_expr(col: str, policy: str) -> str:
    """Merged value for ``col`` under a field-level policy (A9),
    as a SQL expression over the matched pair ``t`` / ``s``."""
    if policy == "lww":
        return f"s.{col}"
    if policy == "fill_empty":
        return f"coalesce(t.{col}, s.{col})"
    if policy == "union":
        return (
            f"array_sort(array_distinct(array_union("
            f"coalesce(t.{col}, array()), coalesce(s.{col}, array()))))"
        )
    if policy == "greatest":
        return f"greatest(t.{col}, s.{col})"
    raise ValueError(f"unknown merge policy {policy!r} for column {col!r}")


def _insert_val(col: str, policy: str) -> str:
    """INSERT-side value for a first-seen key under a policy —
    ``union`` normalizes exactly like the DataFrame path does when
    the target side of the full-outer join is NULL."""
    if policy == "union":
        return f"array_sort(array_distinct(coalesce(s.{col}, array())))"
    return f"s.{col}"


def merge_clauses(
    key_cols: list[str],
    value_cols: list[str],
    policies: dict[str, str] | None = None,
    seq_col: str = "seq",
    ts_col: str = "ts",
) -> dict:
    """The MERGE statement as structured parts (module docstring has
    the semantics):

    * ``on`` — join condition over ``t`` / ``s``;
    * ``matched`` — ordered ``(condition, {col: value_expr})``
      WHEN MATCHED clauses, first match wins, unmatched columns keep
      their target value;
    * ``insert`` — ``{col: value_expr}`` for WHEN NOT MATCHED.

    ``merge_into_sql`` renders these into one statement; the test
    suite executes them directly to prove parity with
    ``merge_changes_into_state``.
    """
    pol = policies or {}
    for c, p in pol.items():
        _policy_expr(c, p)  # validate early, even for non-value cols
    if ts_col not in value_cols:
        # the DataFrame path compares a change's ts as NULL (epoch
        # floor) when ts is not a managed value column, while this
        # statement would version on the real s.ts — the two paths
        # would pick different winners. Every real table manages ts;
        # refuse the unverified configuration loudly (round-5 review).
        raise ValueError(
            f"ts_col {ts_col!r} must be in value_cols — versioning on an "
            "unmanaged ts diverges from merge_changes_into_state"
        )
    on = " AND ".join(f"t.{k} = s.{k}" for k in key_cols)
    s_ts = f"coalesce(s.{ts_col}, TIMESTAMP '{_TS_FLOOR}')"
    t_ts = f"coalesce(t.{ts_col}, TIMESTAMP '{_TS_FLOOR}')"
    newer = (
        f"({s_ts} > {t_ts} OR "
        f"({s_ts} = {t_ts} AND s.{seq_col} > t._seq))"
    )
    win_sets = {c: _policy_expr(c, pol.get(c, "lww")) for c in value_cols}
    win_sets["_seq"] = f"s.{seq_col}"
    win_sets["_deleted"] = "(s.op = 'delete')"
    matched = [(newer, win_sets)]
    older_sets = {
        c: _policy_expr(c, pol[c])
        for c in value_cols
        if pol.get(c, "lww") != "lww"
    }
    if older_sets:
        matched.append((f"NOT {newer}", older_sets))
    insert = {k: f"s.{k}" for k in key_cols}
    insert.update(
        {c: _insert_val(c, pol.get(c, "lww")) for c in value_cols}
    )
    insert["_seq"] = f"s.{seq_col}"
    insert["_deleted"] = "(s.op = 'delete')"
    return {"on": on, "matched": matched, "insert": insert}


def merge_into_sql(
    target: str,
    source: str,
    key_cols: list[str],
    value_cols: list[str],
    policies: dict[str, str] | None = None,
    seq_col: str = "seq",
    ts_col: str = "ts",
) -> str:
    """Versioned CDC upsert as one Iceberg MERGE (semantics above).

    ``source`` must be a view/table of reduced changes (≤1 row per
    key, columns: keys + values + op/seq/ts — the output of
    ``latest_change_per_key``).
    """
    parts = merge_clauses(key_cols, value_cols, policies, seq_col, ts_col)
    matched_sql = "".join(
        f"\nWHEN MATCHED AND {cond} THEN\n    UPDATE SET "
        + ",\n        ".join(f"t.{c} = {e}" for c, e in sets.items())
        for cond, sets in parts["matched"]
    )
    insert_cols = ", ".join(parts["insert"])
    insert_vals = ", ".join(parts["insert"].values())
    return (
        f"MERGE INTO {target} t\nUSING {source} s\nON {parts['on']}"
        f"{matched_sql}\nWHEN NOT MATCHED THEN\n"
        f"    INSERT ({insert_cols}) VALUES ({insert_vals})"
    )

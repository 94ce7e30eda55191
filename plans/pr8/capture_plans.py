"""Capture the formatted physical plans of SnapshotTable's reads and
folds and of the ``cdc_apply_lww`` query, so two source trees can be
compared plan for plan.

    python plans/pr8/capture_plans.py --root <source tree> --sf-dir <sf0.001 dir> --label before
    python plans/pr8/capture_plans.py --root . --sf-dir <sf0.001 dir> --label after

Each write is captured at ``DataFrameWriter.parquet`` (the frame the
writer materializes); ``read()``, ``lookup()`` and the query are
explained directly. The table lives under ``--work`` (deleted first);
its path, the random suffix of fold temp dirs and the query's input
dir are replaced by placeholders in the output so only plan content
differs between runs.
"""

from __future__ import annotations

import argparse
import os
import re
import shutil
import sys


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--root", required=True, help="source tree to import kahi_spark from")
    ap.add_argument("--label", required=True, help="file suffix, e.g. before / after")
    ap.add_argument("--work", default="/tmp/kahi_plan_capture")
    ap.add_argument("--sf-dir", required=True, help="input tables of the cdc_apply_lww query")
    ap.add_argument("--out", default=os.path.dirname(os.path.abspath(__file__)))
    args = ap.parse_args()
    sys.path.insert(0, os.path.abspath(args.root))

    from pyspark.sql.readwriter import DataFrameWriter

    from kahi_spark import get_spark
    from kahi_spark.gen import make_events
    from kahi_spark.operators.merge import normalize_events
    from kahi_spark.queries import q_cdc_apply_lww
    from kahi_spark.sinks.snapshot import SnapshotTable

    shutil.rmtree(args.work, ignore_errors=True)
    os.makedirs(args.work)
    spark = get_spark(master="local[4]", shuffle_partitions=4)

    def explain(df) -> str:
        qe = df._jdf.queryExecution()
        return spark._jvm.PythonSQLUtils.explainString(qe, "formatted")

    writes: list[str] = []
    real_parquet = DataFrameWriter.parquet

    def capturing(self, path, *a, **kw):
        writes.append(explain(self._df))
        return real_parquet(self, path, *a, **kw)

    DataFrameWriter.parquet = capturing

    batch_dir = os.path.join(args.work, "batch")
    spark.createDataFrame(make_events(8000, n_convs=40, seed=5)).write.parquet(batch_dir)
    raw = spark.read.parquet(batch_dir)
    per = 800

    def batch(e: int):
        return normalize_events(raw.filter((raw.seq >= e * per) & (raw.seq < (e + 1) * per)))

    t = SnapshotTable(
        spark, os.path.join(args.work, "table"), n_buckets=4, mode="mor", compact_every=100
    )
    plans: dict[str, str] = {}

    def step(name: str, fn) -> None:
        del writes[:]
        fn()
        if name == "bucketed":
            plans["bucketed_major_fold_winners"], plans["bucketed_major_fold_out"] = writes
        else:
            (plans[name],) = writes

    step("keyed_mor_epoch_merge", lambda: t.merge(batch(0), epoch_id=0))
    for e in (1, 2):
        t.merge(batch(e), epoch_id=e)
    step("minor_fold", t.compact_minor)  # 3 deltas → 1
    t.merge(batch(3), epoch_id=3)
    step("global_major_fold", lambda: t.compact(strategy="global"))  # 2 deltas, no base
    for e in (4, 5):
        t.merge(batch(e), epoch_id=e)
    step("bucketed", lambda: t.compact(strategy="bucketed"))  # base + 2 deltas
    for e in (6, 7, 8, 9):
        t.merge(batch(e), epoch_id=e)
    DataFrameWriter.parquet = real_parquet
    plans["read"] = explain(t.read())  # base + 4 deltas
    key = t.read().orderBy("conv_id", "turn_idx").first()
    plans["lookup"] = explain(t.lookup(key.conv_id, key.turn_idx))
    plans["cdc_apply_lww"] = explain(q_cdc_apply_lww(spark, args.sf_dir))

    for name, text in plans.items():
        text = text.replace(os.path.abspath(args.work), "<work>")
        text = re.sub(r"_(compact_winners|compact_out|minor_out|merge_out)_[0-9a-f]+", r"_\1_<tag>", text)
        text = re.sub(r"\[file:[^\]]*\]", "[<input>]", text) if name == "cdc_apply_lww" else text
        with open(os.path.join(args.out, f"{name}_{args.label}.txt"), "w") as f:
            f.write(text)
    spark.stop()


if __name__ == "__main__":
    main()

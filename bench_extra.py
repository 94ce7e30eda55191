"""Round-7 optimization harness (bench.py is FROZEN for measurement;
this file exists for guide-§1 isolation work and is cited from
OPTIMIZATION_r07.md).

Modes:

* ``python bench_extra.py time q1 q2 ... [--rounds N]`` — per-query
  wall seconds, same protocol as bench.py's headline phase (fresh
  session, sf0.01 codegen warmup, min-of-N interleaved, full-column
  xxhash64-checksum materialization). ``results`` maps each query to
  its distinct ``[rows, checksum]`` pairs over the rounds (one pair
  for a deterministic query), so two trees' runs show whether they
  computed the same answer.
* ``python bench_extra.py plan q1 q2 ... [--out DIR]`` — dump
  ``.explain("formatted")`` per query (the judge-checkable plan
  evidence in plans/r07/).
* ``python bench_extra.py noop q1 ...`` — time with the noop sink
  instead of the checksum agg (guide §1.4; computes EVERY column).

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
SPARK_GRAFT_CPUS (default 32) — same contract as bench.py.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def _session():
    from bench import fresh_session

    return fresh_session(f"local[{CPUS}]", CPUS)


def _materialize(df, noop: bool = False) -> list[int] | None:
    """Evaluate every output column. Returns ``[rows, checksum]`` —
    ``bench.py::materialize``'s aggregate, whose checksum that frozen
    function discards — or None for the noop sink."""
    if noop:
        df.write.format("noop").mode("overwrite").save()
        return None
    from pyspark.sql import functions as F

    row = df.agg(
        F.count(F.lit(1)).alias("rows"),
        F.bit_xor(F.xxhash64(*[F.col(c) for c in df.columns])).alias("chk"),
    ).collect()[0]
    return [row.rows, row.chk]


def _prepare(spark, names: list[str]) -> None:
    """One-time layout/feed cache repair outside the timed region —
    identical to bench.py's pre-headline block."""
    from kahi_spark.queries_ext import _feed_path
    from kahi_spark.sources.testdata import SHARD_KEYS, table_path

    _feed_path(spark, SF_DIR)
    for t in SHARD_KEYS:
        table_path(spark, SF_DIR, t)
    warm = SF_DIR.replace("sf0.1", "sf0.01")
    if os.path.isdir(warm) and warm != SF_DIR:
        from kahi_spark.queries import QUERIES

        _feed_path(spark, warm)
        for n in names:
            _materialize(QUERIES[n](spark, warm))


def cmd_time(names: list[str], rounds: int, noop: bool) -> None:
    from kahi_spark.queries import QUERIES

    spark = _session()
    _prepare(spark, names)
    timings: dict[str, list[float]] = {n: [] for n in names}
    results: dict[str, list[list[int]]] = {n: [] for n in names}
    for _ in range(rounds):
        for n in names:
            t0 = time.time()
            res = _materialize(QUERIES[n](spark, SF_DIR), noop=noop)
            timings[n].append(round(time.time() - t0, 3))
            if res is not None and res not in results[n]:
                results[n].append(res)
    out = {
        "sf_dir": SF_DIR,
        "rounds": rounds,
        "noop": noop,
        "min": {n: min(v) for n, v in timings.items()},
        "samples": timings,
        "total_min": round(sum(min(v) for v in timings.values()), 3),
    }
    if not noop:
        out["results"] = results
    print(json.dumps(out))
    spark.stop()


def cmd_plan(names: list[str], out_dir: str, suffix: str) -> None:
    from kahi_spark.queries import QUERIES

    spark = _session()
    os.makedirs(out_dir, exist_ok=True)
    for n in names:
        df = QUERIES[n](spark, SF_DIR)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(out_dir, f"{n}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path}")
    spark.stop()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("mode", choices=["time", "plan", "noop"])
    ap.add_argument("queries", nargs="*")
    ap.add_argument("--rounds", type=int, default=3)
    ap.add_argument("--out", default="plans/r07")
    ap.add_argument("--suffix", default="before")
    args = ap.parse_args()
    from bench import HEADLINE

    names = args.queries or list(HEADLINE)
    if args.mode == "plan":
        cmd_plan(names, args.out, args.suffix)
    else:
        cmd_time(names, args.rounds, noop=(args.mode == "noop"))


if __name__ == "__main__":
    main()

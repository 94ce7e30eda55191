"""The indexed ingest path (LSH dedup index + keyless resolver +
keyless feature index) replayed twice in one session, the second time
from a copy of the log: the second drain must reuse every generated
class (no per-epoch literal inlined into generated code, and the
working set fits the codegen cache), and both drains must end in the
same state (the copy's equal file times must not reorder epochs)."""

from __future__ import annotations

import os
import shutil

import pandas as pd
import pytest
from pyspark.sql import functions as F

from kahi_spark.gen import write_event_batches
from kahi_spark.session import CODEGEN_CACHE_ENTRIES
from kahi_spark.sinks.dedup_index import LshDedupIndex
from kahi_spark.sinks.keyless_index import KeylessFeatureIndex
from kahi_spark.sinks.snapshot import SnapshotTable
from kahi_spark.streaming.pipeline import CdcPipeline, codegen_compiles


def _indexed_log(path: str) -> str:
    """Three binlog files; every 12th insert arrives without a key."""
    paths = write_event_batches(path, n_events=1500, n_batches=3, seed=11)
    for i, p in enumerate(paths):
        df = pd.read_parquet(p)
        keyless = (df["op"] == "insert") & (df["seq"] % 12 == 0)
        df["conv_id"] = df["conv_id"].where(~keyless, None)
        df.to_parquet(p, index=False)
        # the file source consumes oldest first: pin the epoch order
        os.utime(p, (1_700_000_000 + i, 1_700_000_000 + i))
    return path


def _drain(spark, log: str, root: str) -> tuple[list[dict], tuple[int, int], tuple[int, int]]:
    """(per-epoch metrics, table checksum, dedup sigs checksum) of one
    drain of ``log`` into fresh tables and indexes under ``root``."""
    table = SnapshotTable(spark, f"{root}/table", n_buckets=4, mode="mor")
    dedup = LshDedupIndex(spark, f"{root}/dedup", n_buckets=4)
    pipe = CdcPipeline(
        spark,
        log,
        table,
        f"{root}/ckpt",
        reduce_strategy="agg",
        dedup_index=dedup,
        resolve_keyless=True,
        keyless_index=KeylessFeatureIndex(spark, f"{root}/keyless", n_buckets=4),
    )
    metrics = pipe.run_until_idle()

    def checksum(df):
        r = df.agg(
            F.count(F.lit(1)).alias("n"), F.bit_xor(F.xxhash64(*df.columns)).alias("x")
        ).collect()[0]
        return int(r.n), int(r.x or 0)

    return metrics, checksum(table.read()), checksum(dedup.existing_sigs())


def _fast_copy(log: str, dst: str) -> str:
    """The log as a plain copy leaves it: files written in reverse
    name order, all stamped with the same modification time."""
    os.makedirs(dst)
    for name in sorted(os.listdir(log), reverse=True):
        if name.endswith(".parquet"):
            shutil.copyfile(os.path.join(log, name), os.path.join(dst, name))
            os.utime(os.path.join(dst, name), (1_700_000_000, 1_700_000_000))
    return dst


@pytest.fixture(scope="module")
def two_drains(spark, tmp_path_factory):
    """The log, then a fast copy of it, each into fresh tables."""
    root = tmp_path_factory.mktemp("indexed_replay")
    log = _indexed_log(str(root / "binlog"))
    copy = _fast_copy(log, str(root / "binlog_copy"))
    return [_drain(spark, src, str(root / f"run{i}")) for i, src in enumerate((log, copy))]


def test_get_spark_sizes_codegen_cache(spark):
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.sql.codegen.cache.maxEntries") == str(CODEGEN_CACHE_ENTRIES)


def test_codegen_compiles_counts_new_classes(spark):
    """The per-epoch counter is live: a never-seen expression (its
    literal is inlined into the generated code) compiles a class."""
    before = codegen_compiles(spark)
    spark.range(5).selectExpr(f"id * {os.getpid() + 7_919} AS x").collect()
    assert codegen_compiles(spark) > before


def test_second_indexed_drain_compiles_nothing(two_drains):
    (first, _, _), (second, _, _) = two_drains
    assert len(first) == len(second) == 3
    assert all("codegen_compiles" in m for m in first)
    assert [m["codegen_compiles"] for m in second] == [0, 0, 0]


def test_indexed_drain_is_deterministic(two_drains):
    (m1, state1, sigs1), (m2, state2, sigs2) = two_drains
    assert state1 == state2
    assert sigs1 == sigs2
    assert [m["n_deduped"] for m in m1] == [m["n_deduped"] for m in m2]

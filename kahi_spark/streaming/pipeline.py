"""The end-to-end CDC pipeline: binlog tail → normalize → MERGE.

``readStream`` over the Parquet binlog → ``foreachBatch``:
normalize (JVM-side) → optional keyless resolve / near-dup drop /
multi-source convergence → MERGE into the snapshot table,
exactly-once via the epoch ledger. The MERGE's LWW reduce per key
fuses with the normalize when nothing sits between them, so a plain
keyed epoch reduces its raw events and normalizes only the winners.

Reference analogue: EP1 ``parallel_all_from_collection``
(``Kahi.py:172-175`` → extract/transform/link/load per record) —
here the per-record thread fanout becomes Spark task parallelism
inside one declarative plan per micro-batch (SURVEY.md §3 EP1
"Spark shape").

Failure model (north_rule: resumable from checkpoint, exactly-once):

* The Structured Streaming checkpoint tracks which binlog files are
  consumed — restart resumes at the next unconsumed file.
* If a crash lands AFTER the sink commit but BEFORE the checkpoint
  write, the restarted query re-delivers the epoch; the sink's
  epoch ledger detects ``epoch_id`` already committed and no-ops —
  the Kahi `source_checked` anti-join re-expressed
  (``KahiDb.py:313-315``).
* If the same *data* (not epoch) arrives twice in different files,
  the keyed LWW MERGE is idempotent (same ``(ts, seq)`` wins), so
  state converges anyway.
* Work that no later step of the epoch reads runs on ONE side worker
  (a single pipeline-owned thread, created per ``run_until_idle`` /
  ``run_continuous`` and shut down where they quiesce the folds): the
  stats pre-pass beside the keyless resolve, and the dedup index's
  commit beside the table MERGE and the keyless index update. Every
  side task is joined in a ``finally`` before ``_apply_batch``
  returns, also on failure, so the streaming checkpoint never records
  an epoch whose index append is unfinished, a retry never races a
  half-done ``add()`` swap, and the next epoch's dedup probe sees this
  epoch's signatures. The keyless index update stays serial AFTER the
  table MERGE: its replay heal (below) relies on that order — were the
  index committed first, a crash before the MERGE would let the
  replayed resolve match the epoch's events against its own rows.
"""

from __future__ import annotations

import time
from concurrent.futures import Future, ThreadPoolExecutor

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kahi_spark.operators.merge import normalize_events
from kahi_spark.sinks.snapshot import SnapshotTable
from kahi_spark.sources.events import stream_event_log

#: name prefix of the pipeline's side-worker thread
SIDE_THREAD_PREFIX = "kahi-epoch-side"


def codegen_compiles(spark: SparkSession) -> int:
    """Generated classes Spark has compiled so far in this JVM (each
    one a miss in its ``spark.sql.codegen.cache``)."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


class CdcPipeline:
    def __init__(
        self,
        spark: SparkSession,
        event_dir: str,
        table: SnapshotTable,
        checkpoint_dir: str,
        schema=None,
        max_files_per_trigger: int = 1,
        reduce_strategy: str = "window",
        converge_sources: tuple[str, ...] | None = None,
        policies: dict[str, str] | None = None,
        resolve_keyless: bool = False,
        dedup_index=None,
        keyless_index=None,
        keyless_blocking: str = "conjunctive",
    ) -> None:
        """``reduce_strategy``: the MERGE's LWW reduce. ``"agg"`` —
        the map-side-combining ``max_by`` reduction — bounds per-task
        work at any skew (north_rule skew handling: a conversation
        holding ~10% of 10^10 events would otherwise pin one reducer
        task; scripts/skew_probe.py).

        ``resolve_keyless``: events arriving with NULL conv_id are
        fuzzy-matched against the current table state (blocked
        char-bigram similarity; EP3, the reference's
        similarity-driven ingest) and adopt the matched key, or mint
        a surrogate when nothing matches.

        ``keyless_blocking``: the resolver's blocking mode,
        ``"conjunctive"`` (default) or ``"single"``
        (``resolve_keyless_events``).

        ``keyless_index``: a ``KeylessFeatureIndex`` makes the
        keyless resolver's state side INCREMENTAL — candidate block
        features come from the persistent index (built once per
        version at merge time) instead of re-featurizing the whole
        table per batch; required shape at 10^10 state rows. Implies
        nothing without ``resolve_keyless=True``.

        ``dedup_index``: an ``LshDedupIndex`` enables INCREMENTAL
        near-dup dedup at ingest — each epoch's inserts are checked
        against everything already ingested (and lower in-batch keys)
        via the persistent MinHash-LSH index; duplicates are dropped
        before the MERGE and their keys ledgered so later updates
        cannot resurrect them. The corpus is never re-shingled.

        ``converge_sources``: a source-priority tuple enables
        Kahi-style multi-source convergence per batch — fields of the
        same ``(conv_id, turn_idx)`` arriving from several feeds are
        composed by priority (``join_document`` semantics,
        reference ``KahiParser.py:334-666``) before the MERGE, so one
        canonical record lands per key. Combine with ``policies``
        (e.g. ``{"tool": "fill_empty"}``) for cross-batch
        complement-style patching (A9)."""
        self.spark = spark
        self.event_dir = event_dir
        self.table = table
        self.checkpoint_dir = checkpoint_dir
        self.schema = schema
        self.max_files_per_trigger = max_files_per_trigger
        self.reduce_strategy = reduce_strategy
        self.converge_sources = converge_sources
        self.policies = policies
        self.resolve_keyless = resolve_keyless
        self.dedup_index = dedup_index
        self.keyless_index = keyless_index
        self.keyless_blocking = keyless_blocking
        self.last_quiesce_wait_s: float = 0.0
        self._side: ThreadPoolExecutor | None = None
        if keyless_blocking not in ("conjunctive", "single"):
            raise ValueError(f"keyless_blocking: {keyless_blocking!r}")
        # keyless_index + per-column policies (round-4 VERDICT #6; was
        # a blanket rejection): the index featurizes role+text, so a
        # policy on any OTHER column (e.g. {"tool": "fill_empty"})
        # cannot drift the features — the LWW-winning text IS the
        # table's final text — and costs nothing extra. A policy ON
        # text/role CAN make final state differ from the batch's LWW
        # change (fill_empty keeping old text over a NULL update), so
        # those trigger a per-epoch rebuild of the AFFECTED keys'
        # features from post-merge state (see
        # _post_merge_feature_source): exact, at the cost of one
        # streamed pass over the table per epoch.
        self._keyless_rebuild = bool(
            keyless_index is not None and policies and ({"text", "role"} & set(policies))
        )
        self.metrics: list[dict] = []

    def _converge(self, normalized: DataFrame) -> DataFrame:
        """Per-batch multi-source field composition → synthesized
        change events (one per key, op/ts/seq of the latest raw
        event so deletes and LWW ordering still work)."""
        from kahi_spark.operators.merge import latest_change_per_key, priority_merge

        fields = priority_merge(
            normalized,
            value_cols=["role", "text", "tool"],
            priority=self.converge_sources,
        ).drop("sources", "ts")
        heads = latest_change_per_key(normalized).select(
            "conv_id", "turn_idx", "op", "seq", "ts", "source"
        )
        return heads.join(fields, on=["conv_id", "turn_idx"], how="inner").select(
            "seq", "op", "conv_id", "turn_idx", "role", "text", "tool", "ts", "source"
        )

    def _post_merge_feature_source(self, normalized: DataFrame) -> DataFrame:
        """When merge policies touch text/role, the table's final
        value for a key can differ from the batch's LWW change — so
        the keyless index must be fed the POST-MERGE state of the
        affected keys, not the batch text.

        Shape at 10^10 rows: the batch's key heads broadcast; the
        table streams ONCE through a broadcast-hash inner join (no
        state shuffle — Spark can't size the post-aggregation heads,
        hence the explicit hint); the two follow-up joins touch only
        batch-sized frames. Keys absent from post-merge state were
        tombstoned — they feed the index as deletes."""
        from kahi_spark.operators.merge import latest_change_per_key

        keys = ["conv_id", "turn_idx"]
        heads = latest_change_per_key(normalized).select(*keys, "op", "seq", "ts")
        state = self.table.read().select(
            *keys, F.col("role").alias("_s_role"), F.col("text").alias("_s_text")
        )
        present = state.join(
            F.broadcast(heads.select(*keys)), on=keys, how="inner"
        ).withColumn("_in_state", F.lit(True))
        resolved = heads.join(present, on=keys, how="left")
        # explicit presence marker: a LIVE row whose text AND role are
        # both NULL must not be mistaken for an absent (tombstoned)
        # key — only join-miss rows become index deletes
        return resolved.select(
            *keys,
            F.when(F.col("_in_state").isNull(), F.lit("delete"))
            .otherwise(F.col("op"))
            .alias("op"),
            "seq",
            F.col("_s_role").alias("role"),
            F.col("_s_text").alias("text"),
            "ts",
        )

    def _resolve_keyless(self, normalized: DataFrame) -> DataFrame:
        from kahi_spark.operators.keyless import resolve_keyless_events

        state_features = (
            self.keyless_index.features() if self.keyless_index is not None else None
        )
        state = (
            self.table.read()
            if state_features is None and self.table.exists()
            else self.spark.createDataFrame([], "conv_id string, turn_idx int, role string, text string")
        )
        normalized = resolve_keyless_events(
            normalized, state, state_features=state_features, blocking=self.keyless_blocking
        )
        if self.keyless_index is not None:
            # the resolved batch must land in the index BEFORE its
            # own merge action consumes the features() plan — the
            # backing table's compaction GC would otherwise delete
            # files out from under the still-lazy plan.
            # localCheckpoint bounds it to one batch (same
            # discipline as LshDedupIndex.decide).
            normalized = normalized.localCheckpoint(eager=True)
        return normalized

    def _apply_batch(self, batch: DataFrame, epoch_id: int) -> None:
        t0 = time.time()
        compiles0 = codegen_compiles(self.spark)
        side: list[Future] = []
        try:
            # one pass for both batch metrics (count + watermark);
            # column pruning makes this a ts-only scan, not a full
            # read. (An observe()-based zero-extra-scan variant was
            # tried: the Observation listener never fires for the 2nd+
            # micro-batch's foreachBatch write under COW, leaving
            # obs.get blocked — a streaming/CollectMetrics
            # interaction, so the explicit agg stays.) It runs on the
            # side worker, beside the keyless resolve.
            side.append(
                self._side.submit(
                    lambda: batch.agg(
                        F.count(F.lit(1)).alias("n"), F.max("ts").alias("wm")
                    ).collect()[0]
                )
            )
            # one path for every epoch. With no resolve/dedup/converge
            # step the tagged normalize output reaches the MERGE
            # directly, whose reduce then fuses to
            # normalize(reduce(raw)): the regex work runs after the key
            # shuffle (full parallelism even for a one-task binlog
            # scan) and only on the winners; those steps transform the
            # frame, which drops the tag, so they keep normalize-first
            # semantics.
            normalized = normalize_events(batch)
            if self.resolve_keyless:
                normalized = self._resolve_keyless(normalized)
            n, wm = side[0].result()
            if n == 0:
                # still commit the epoch id: an unrecorded empty epoch
                # would stall the ledger's epoch_floor compaction
                # forever (the floor only folds a contiguous committed
                # prefix). The keyless index keeps its OWN ledger
                # (SnapshotTable-backed) — record there too or ITS
                # floor stalls instead
                self.table.record_empty_epoch(epoch_id)
                if self.keyless_index is not None:
                    self.keyless_index.table.record_empty_epoch(epoch_id)
                applied, n_deduped = False, 0
            else:
                applied, n_deduped = self._merge_epoch(normalized, epoch_id, n, wm, side)
        finally:
            # join the side worker before returning, also on failure
            # (module docstring); the epoch's own failure wins
            failed = [e for e in (f.exception() for f in side) if e is not None]
        if failed:
            raise failed[0]
        if n:
            self._record(epoch_id, n, applied, n_deduped, t0, compiles0)

    def _merge_epoch(
        self, normalized: DataFrame, epoch_id: int, n: int, wm, side: list[Future]
    ) -> tuple[bool, int]:
        """Dedup, converge and MERGE one non-empty epoch, then feed
        the keyless index; the dedup commit goes to the side worker.
        Returns (applied, n_deduped)."""
        n_deduped = 0
        if self.dedup_index is not None:
            # pass the already-measured batch size: normalize/resolve
            # are row-preserving, so `n` is exact and the index skips
            # its own count job (one driver action per epoch saved)
            normalized, n_deduped, commit = self.dedup_index.decide(
                normalized, epoch_id, n_events=n
            )
            side.append(self._side.submit(commit))
        if self.converge_sources:
            normalized = self._converge(normalized)
        applied = self.table.merge(
            normalized,
            epoch_id=epoch_id,
            reduce_strategy=self.reduce_strategy,
            policies=self.policies,
            extra_metrics={"events": n},
            watermark=wm,
        )
        if self.resolve_keyless and self.keyless_index is not None:
            # also on ledger-skipped replays: a crash between the main
            # table's commit and the index's commit heals here — the
            # index has its own epoch ledger, so a replayed update is
            # exactly-once (returns False) rather than re-applied
            src = (
                self._post_merge_feature_source(normalized)
                if self._keyless_rebuild
                else normalized
            )
            # wm is the batch lineage either way (rebuild rows carry
            # stored ts, but the manifest records what was INGESTED);
            # a thunk when NULL so the index never re-scans for it
            self.keyless_index.update(
                src, epoch_id, watermark=wm if wm is not None else (lambda: None)
            )
        return applied, n_deduped

    def _record(
        self, epoch_id: int, n: int, applied: bool, n_deduped: int, t0: float, compiles0: int
    ) -> None:
        """Append the epoch's entry to ``metrics`` — the in-memory
        mirror of the durable per-commit metrics the sink manifest
        records (events, watermark, wall; SURVEY.md §4.5).
        ``codegen_compiles`` is the number of generated classes
        compiled during the epoch. The counter is JVM-global, so a
        background fold (``compact_async``) running at the same time
        adds its compiles too; in steady state it reads 0."""
        wall = time.time() - t0
        self.metrics.append(
            {
                "epoch_id": epoch_id,
                "events": n,
                "applied": applied,
                "n_deduped": n_deduped,
                "wall_s": round(wall, 3),
                "events_per_sec": round(n / wall, 1) if wall > 0 else None,
                "codegen_compiles": codegen_compiles(self.spark) - compiles0,
            }
        )

    def run_until_idle(self, timeout_s: float = 300.0) -> list[dict]:
        """Process all available binlog files, then stop.

        ``availableNow`` drains everything currently in the log in
        bounded micro-batches and shuts down — the batch-with-resume
        execution mode (Kahi's whole-collection run), while a
        production deployment would use ``trigger(processingTime=…)``
        on the same query.
        """
        return self._run(timeout_s, availableNow=True)

    def run_continuous(
        self, interval: str = "10 seconds", timeout_s: float | None = None
    ) -> list[dict]:
        """The production tail: same query, processing-time trigger —
        stays up and applies new binlog files as they land. With
        ``timeout_s`` the call returns (and stops the query) after
        that long — otherwise it blocks until externally stopped.
        Exactly-once and resume semantics are identical to
        ``run_until_idle`` (same checkpoint, same epoch ledger)."""
        return self._run(timeout_s, processingTime=interval)

    def _run(self, timeout_s: float | None, **trigger) -> list[dict]:
        stream = stream_event_log(
            self.spark,
            self.event_dir,
            schema=self.schema,
            max_files_per_trigger=self.max_files_per_trigger,
        )
        self._side = ThreadPoolExecutor(max_workers=1, thread_name_prefix=SIDE_THREAD_PREFIX)
        try:
            q = (
                stream.writeStream.foreachBatch(self._apply_batch)
                .option("checkpointLocation", self.checkpoint_dir)
                .trigger(**trigger)
                .start()
            )
            if timeout_s is None:
                q.awaitTermination()
            else:
                q.awaitTermination(timeout_s)
                if q.isActive:
                    q.stop()
        finally:
            self._side.shutdown(wait=True)
        # quiesce: join background compaction folds (and surface their
        # failures) before handing the tables back — the MAIN table's
        # and the keyless index's backing table's (its compact_async
        # failures would otherwise be silently lost at exit). The wait
        # is timed: in a short run it is pure tail (nothing left to
        # overlap), so throughput reports can amortize it honestly
        t_w = time.time()
        self.table.wait_for_compaction()
        if self.keyless_index is not None:
            self.keyless_index.table.wait_for_compaction()
        self.last_quiesce_wait_s = round(time.time() - t_w, 3)
        return self.metrics

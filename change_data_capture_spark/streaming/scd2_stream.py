"""Incremental SCD2 maintenance under streaming — the genuinely hard
streaming piece (SURVEY.md §7 item 2): LEAD needs the *next* event, which a
stream hasn't seen yet, so the batch window rewrite cannot run incrementally.

Design (foreachBatch + bucketed upsert, the pattern SURVEY.md §4 flags):
- state = the full SCD2 table so far, stored as parquet partitioned by
  ``bucket = pmod(hash(id), N_BUCKETS)``;
- per micro-batch: find the buckets containing the batch's keys, read ONLY
  those partitions (partition pruning), re-chain the affected keys' full
  interval history by LSN, and overwrite ONLY those partitions (dynamic
  partition overwrite). Untouched buckets are never read or written — the
  per-batch cost is O(touched buckets), the file-level skipping a Delta /
  Iceberg MERGE would give (``WHEN MATCHED THEN UPDATE``); those formats
  additionally make the partition swap transactional, which plain parquet
  does not (documented trade; the dataflow is identical).
- re-chaining a key from scratch (state rows become pseudo-events carrying
  their original (lsn, start-ts)) keeps history correct even for late
  events whose LSN lands between already-closed intervals — validity
  chaining is order-by-LSN, not arrival.
- idempotent under batch replay: events already in state are anti-joined
  out, so foreachBatch re-delivery (checkpoint recovery) re-chains to the
  identical result.

Correctness contract (tested + oracle-checked): after any partition of the
event log into micro-batches, final state equals the batch
``operators.scd2.scd2`` output on the full log.

Transactionality note — hot-path users should prefer the transactional
composite: ``streaming_queries.streaming_scd2_txlog`` calls this
module's :func:`new_events` and :func:`rechain` (it keeps no copy of the
re-chain) inside a MERGE-shaped commit to a txlog-governed table, giving
atomic commits, txn markers (exactly-once under full checkpoint replay),
time travel, and stats-pruned touched-file discovery. This module's dynamic
partition swap is NOT transactional: a crash between deleting and
rewriting a bucket's files leaves a torn window that concurrent readers
can observe. It remains the right tool for single-writer,
no-concurrent-reader backfills (cheaper: no log, no copy-on-write
pre-images), but anything serving reads while writing belongs on the
txlog composite.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from change_data_capture_spark.operators.scd2 import validity

_PAYLOAD = ("name", "description", "price")

N_BUCKETS = 64


class Scd2State:
    """Bucket-partitioned parquet SCD2 state with per-bucket overwrite."""

    def __init__(self, spark: SparkSession, state_dir: str):
        self.spark = spark
        self.state_dir = state_dir
        os.makedirs(state_dir, exist_ok=True)

    @staticmethod
    def bucket_of(id_col: F.Column) -> F.Column:
        return F.pmod(F.hash(id_col), F.lit(N_BUCKETS))

    def _initialized(self) -> bool:
        # probed from disk (not a flag) so a foreachBatch restart against an
        # existing checkpoint + state dir correctly MERGES its re-delivered
        # batch instead of treating it as the first one
        return any(e.startswith("bucket=") for e in os.listdir(self.state_dir))

    def read(self) -> DataFrame | None:
        if not self._initialized():
            return None
        return self.spark.read.parquet(self.state_dir).drop("bucket")

    def read_buckets(self, buckets: list[int]) -> DataFrame:
        df = self.spark.read.parquet(self.state_dir)
        return df.where(F.col("bucket").isin(buckets)).drop("bucket")

    def overwrite_buckets(self, df: DataFrame) -> None:
        """Write rows (their buckets derive from id), replacing exactly the
        partitions present in ``df`` — dynamic partition overwrite."""
        (
            df.withColumn("bucket", self.bucket_of(F.col("id")))
            # explicit small task count: state writes are many-small-batch
            # operations; inheriting a 200-partition default multiplies task
            # overhead without adding parallelism (64 buckets max)
            .repartition(16, "bucket")
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("bucket")
            .parquet(self.state_dir)
        )


def _intervals(events: DataFrame) -> DataFrame:
    """Chain a (deduped, lsn-ordered) event set into validity intervals."""
    w = Window.partitionBy("id").orderBy("lsn")
    return events.select("id", *_PAYLOAD, "lsn", *validity(w))


def new_events(batch: DataFrame) -> DataFrame:
    """A micro-batch's decoded events, ready to re-chain: NULL-lsn rows
    dropped, at-least-once replays of one ``(id, lsn)`` collapsed."""
    return (
        batch.where(F.col("lsn").isNotNull())
        .dropDuplicates(["id", "lsn"])
        .select("id", *_PAYLOAD, "lsn", "ts_ms")
    )


def rechain(affected_state: DataFrame | None, events: DataFrame) -> DataFrame:
    """The per-batch SCD2 rewrite: the rows that replace
    ``affected_state`` (state rows that may hold the batch's keys; None
    when there are none) once ``events`` (from :func:`new_events`) are
    merged in. Bucket-mates of the batch keys pass through unchanged;
    affected keys re-chain from scratch — their state rows become
    pseudo-events carrying their original (lsn, start-ts), and an
    ``(id, lsn)`` already in state anti-joins out of ``events``, so a
    re-delivered batch re-chains to the identical result."""
    if affected_state is None:
        return _intervals(events)
    batch_keys = events.select("id").distinct()
    passthrough = affected_state.join(batch_keys, "id", "left_anti")
    pseudo_events = affected_state.join(batch_keys, "id", "left_semi").select(
        "id",
        *_PAYLOAD,
        "lsn",
        F.unix_millis(F.col("row_valid_start_timestamp")).alias("ts_ms"),
    )
    fresh = events.join(
        pseudo_events.select("id", "lsn"), ["id", "lsn"], "left_anti"
    )
    return passthrough.unionByName(_intervals(pseudo_events.unionByName(fresh)))


def apply_batch(state: Scd2State, batch: DataFrame) -> None:
    """Merge one micro-batch of decoded CDC events into the SCD2 state,
    touching only the state buckets that contain the batch's keys."""
    events = new_events(batch)
    # cheap one-listdir probe — state.read() here would pay a full
    # file-listing + footer read of the whole state dir every micro-batch
    # just to learn "initialized: yes"
    if not state._initialized():
        state.overwrite_buckets(rechain(None, events))
        return

    # buckets hit by this batch (collected: ≤ N_BUCKETS small ints)
    buckets = [
        r.b
        for r in events.select(
            Scd2State.bucket_of(F.col("id")).alias("b")
        ).distinct().collect()
    ]
    state.overwrite_buckets(rechain(state.read_buckets(buckets), events))

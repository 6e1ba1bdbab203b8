"""``cdc_drain``: drain a pre-staged Debezium NDJSON backlog, closed loop.

One repetition drains the whole backlog twice, each into fresh output:

- phase A: ``streaming.pipeline.ingest_stream(available_now=True)`` lands
  it as exactly-once partitioned parquet;
- phase B: ``sources.ndjson.read_envelope_ndjson(streaming=True,
  maxFilesPerTrigger=k)`` -> ``functions.envelope.decode_envelope`` ->
  ``foreachBatch(streaming.scd2_stream.apply_batch)`` maintains
  incremental SCD2 state, one micro-batch per k segment files.

Loads the streaming, ndjson/envelope and scd2_stream layers; never touches
txlog or text.
"""

from __future__ import annotations

import os
import shutil
import time

from perfbench import gen
from perfbench.checks import check_landed, multiset_diff
from perfbench.common import median

SPEC = gen.CdcSpec(keys=8_000, segments=8)
#: three micro-batches: the first (write-only) and two merges
WARMUP_SPEC = gen.CdcSpec(keys=600, segments=6)
MAX_FILES_PER_TRIGGER = 2

_SCD2_COLS = (
    "id",
    "name",
    "description",
    "price",
    "row_valid_start_timestamp",
    "row_valid_expiration_timestamp",
)


def _dir_stats(path: str, suffix: str = ".parquet") -> tuple[int, int]:
    n = size = 0
    for root, _, files in os.walk(path):
        for f in files:
            if f.endswith(suffix):
                n += 1
                size += os.path.getsize(os.path.join(root, f))
    return n, size


class CdcDrain:
    def __init__(self, ctx):
        self.ctx = ctx
        self.rep = 0
        self.last = None  # output dir of the newest repetition
        self.progress: list[dict] = []  # ingest query progress, traced reps
        self.batch_counts: list[dict] = []  # counting passes, traced reps

    # -- set-up --------------------------------------------------------------

    def warm_up(self) -> None:
        d = os.path.join(self.ctx.work, "warmup")
        src = os.path.join(d, "backlog")
        backlog = gen.write_cdc_backlog(self.ctx.seed + 1_000_003, WARMUP_SPEC, src)
        self._drain(backlog, src, os.path.join(d, "out"), record=False)

    def set_up(self, d: str) -> None:
        self.backlog = gen.write_cdc_backlog(
            self.ctx.seed, SPEC, os.path.join(d, "backlog")
        )
        self.backlog_dir = os.path.join(d, "backlog")

    # -- the closed loop -----------------------------------------------------

    def step(self) -> None:
        if self.last is not None:  # keep only the newest output for checks
            shutil.rmtree(self.last, ignore_errors=True)
        self.rep += 1
        out = os.path.join(self.ctx.work, f"rep-{self.rep}")
        self.ctx.spark.catalog.clearCache()
        self._drain(self.backlog, self.backlog_dir, out, record=True)
        self.last = out

    def _drain(self, backlog, src: str, out: str, record: bool) -> None:
        from change_data_capture_spark.functions.envelope import decode_envelope
        from change_data_capture_spark.sources.ndjson import read_envelope_ndjson
        from change_data_capture_spark.streaming.pipeline import ingest_stream
        from change_data_capture_spark.streaming.scd2_stream import (
            Scd2State,
            apply_batch,
        )

        ctx, spark = self.ctx, self.ctx.spark
        tracing = record and ctx.tracer.enabled

        def phase_a():
            q = ingest_stream(
                spark,
                src,
                os.path.join(out, "landed"),
                os.path.join(out, "ckpt-ingest"),
                available_now=True,
            )
            q.awaitTermination()
            return q.recentProgress

        state = Scd2State(spark, os.path.join(out, "scd2"))

        applied = []

        def on_batch(bdf, _bid):
            counts = self._count_batch(bdf) if tracing else None
            first = not applied
            applied.append(_bid)
            t0 = time.perf_counter()
            with ctx.tracer.span("scd2_stream.apply_batch", first=first):
                apply_batch(state, bdf)
            if record:
                # the first batch only writes; later ones merge into state
                name = "scd2_first_batch" if first else "scd2_batch"
                ctx.add(name, time.perf_counter() - t0)
            if counts is not None:
                counts["rows_rewritten"] = state.read_buckets(counts["buckets"]).count()
                self.batch_counts.append(counts)

        def phase_b():
            env = read_envelope_ndjson(
                spark,
                src,
                streaming=True,
                options={"maxFilesPerTrigger": MAX_FILES_PER_TRIGGER},
            )
            q = (
                decode_envelope(env)
                .writeStream.foreachBatch(on_batch)
                .option("checkpointLocation", os.path.join(out, "ckpt-scd2"))
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()

        if not record:
            phase_a()
            phase_b()
            return
        ok, progress = ctx.timed("ingest", phase_a)
        if ok and tracing:
            self.progress.extend(progress)
        ok_b, _ = ctx.timed("scd2_drain", phase_b)
        if ok and ok_b:
            n = backlog.n_lines
            ctx.add("ingest_events_per_s", n / ctx.samples["ingest"][-1])
            ctx.add("scd2_events_per_s", n / ctx.samples["scd2_drain"][-1])
            ctx.add(
                "events_per_s",
                n / (ctx.samples["ingest"][-1] + ctx.samples["scd2_drain"][-1]),
            )
        if tracing:
            files, size = _dir_stats(state.state_dir)
            ctx.add("scd2_state_files", files)
            ctx.add("scd2_state_bytes", size)
            ctx.add("ingest_output_files", _dir_stats(os.path.join(out, "landed"))[0])

    def _count_batch(self, bdf) -> dict:
        """Counting-only pass over one micro-batch (traced runs only): the
        distinct new events and the state buckets they touch."""
        from pyspark.sql import functions as F

        from change_data_capture_spark.streaming.scd2_stream import Scd2State

        ev = bdf.where(F.col("lsn").isNotNull()).select("id", "lsn").distinct()
        buckets = [
            r.b
            for r in ev.select(Scd2State.bucket_of(F.col("id")).alias("b"))
            .distinct()
            .collect()
        ]
        return {"events": ev.count(), "buckets": buckets}

    # -- checks and metrics --------------------------------------------------

    def check(self) -> None:
        from change_data_capture_spark.functions.envelope import decode_envelope
        from change_data_capture_spark.operators.scd2 import scd2
        from change_data_capture_spark.sources.ndjson import read_envelope_ndjson
        from change_data_capture_spark.streaming.scd2_stream import Scd2State

        ctx, spark = self.ctx, self.ctx.spark
        if self.last is None:
            ctx.check("cdc_drain", ["no repetition completed"])
            return
        landed = spark.read.parquet(os.path.join(self.last, "landed"))
        rows = landed.select("id", "lsn").toPandas()
        ctx.check(
            "landed",
            check_landed(
                self.backlog.pairs,
                self.backlog.null_lsn_ids,
                [
                    (int(i), None if l != l else int(l))  # NaN: NULL lsn
                    for i, l in zip(rows["id"], rows["lsn"])
                ],
            ),
        )
        state = Scd2State(spark, os.path.join(self.last, "scd2")).read()
        full = decode_envelope(read_envelope_ndjson(spark, self.backlog_dir))
        expected = scd2(full, min_events=1)
        ctx.check(
            "scd2 state",
            multiset_diff(
                _rows(expected.select(*_SCD2_COLS)),
                _rows(state.select(*_SCD2_COLS)) if state is not None else [],
                "scd2 intervals",
            ),
        )

    def end_to_end(self) -> dict:
        s = self.ctx.samples
        return {
            "throughput_per_s": median(s.get("events_per_s", [])),
            "light_op_p50_s": median(s.get("scd2_batch", [])),
        }

    def breakdown(self) -> dict:
        s = self.ctx.samples
        return {
            "op.ingest_events_per_s": median(s.get("ingest_events_per_s", [])),
            "op.scd2_events_per_s": median(s.get("scd2_events_per_s", [])),
            "op.scd2_batch_p50_s": median(s.get("scd2_batch", [])),
        }

    def probe(self) -> None:
        """Layer probe outside the timed loop (traced runs only): read and
        decode the whole backlog into a noop sink."""
        from change_data_capture_spark.functions.envelope import decode_envelope
        from change_data_capture_spark.sources.ndjson import read_envelope_ndjson

        spark, tr = self.ctx.spark, self.ctx.tracer
        t0 = time.perf_counter()
        with tr.span("ndjson.decode"):
            decode_envelope(
                read_envelope_ndjson(spark, self.backlog_dir)
            ).write.format("noop").mode("overwrite").save()
        self.decode_s = time.perf_counter() - t0
        self.decode_rows = decode_envelope(
            read_envelope_ndjson(spark, self.backlog_dir)
        ).count()

    def layers(self) -> dict:
        s, tr = self.ctx.samples, self.ctx.tracer
        prog = [p for p in self.progress if p.get("numInputRows", 0) > 0]

        def dur(key):
            return median([p["durationMs"].get(key, 0) / 1000 for p in prog])

        def state_metric(key):
            return sum(
                op.get(key, 0) for op in (prog[-1]["stateOperators"] if prog else [])
            )

        dropped = sum(
            op.get("customMetrics", {}).get("numDroppedDuplicateRows", 0)
            for p in prog
            for op in p.get("stateOperators", [])
        )
        applies = tr.named("scd2_stream.apply_batch")
        bc = self.batch_counts
        drains = max(1, len(s.get("ingest_output_files", [])))  # traced drains
        return {
            "ndjson.decode_s": self.decode_s,
            "ndjson.rows": self.decode_rows,
            "ndjson.input_bytes": self.backlog.n_bytes,
            "ingest.batches": len(prog) / drains,
            "ingest.trigger_p50_s": dur("triggerExecution"),
            "ingest.add_batch_p50_s": dur("addBatch"),
            "ingest.planning_p50_s": dur("queryPlanning"),
            "ingest.offset_commit_p50_s": dur("commitOffsets"),
            "ingest.state_rows": state_metric("numRowsTotal"),
            "ingest.state_bytes": state_metric("memoryUsedBytes"),
            "ingest.dups_dropped": dropped / drains,
            "ingest.output_files": median(s.get("ingest_output_files", [])),
            "scd2_stream.apply_p50_s": median([a["dur_s"] for a in applies]),
            "scd2_stream.jobs_per_batch": (
                sum(a["jobs"] for a in applies) / len(applies) if applies else 0
            ),
            "scd2_stream.buckets_touched_mean": (
                sum(len(c["buckets"]) for c in bc) / len(bc) if bc else 0
            ),
            "scd2_stream.rows_rewritten_per_event": (
                sum(c["rows_rewritten"] for c in bc)
                / max(1, sum(c["events"] for c in bc))
            ),
            "scd2_stream.state_files": median(s.get("scd2_state_files", [])),
            "scd2_stream.state_bytes": median(s.get("scd2_state_bytes", [])),
        }


def _rows(df) -> list[tuple]:
    pdf = df.toPandas()
    return [tuple(r) for r in pdf.itertuples(index=False)]

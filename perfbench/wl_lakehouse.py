"""``lakehouse_mix``: one client runs a fixed, seeded sequence of reads and
writes against one ``sources.txlog`` table, closed loop.

Set-up builds a fresh range-clustered products dimension table (file stats
on ``id``) and a landed, decoded change log. The op cycle repeats:

    lookup, asof, merge, lookup, cdf, lookup, delete, lookup, scan, asof

- lookup: ``read_version`` with ``predicate_range`` on a 100-key range;
- asof:   the previous lookup at a seeded past ``version=``;
- cdf:    ``table_changes`` of the newest commit;
- scan:   ``operators.scd2.scd2`` over the whole change log;
- merge:  ``merge_into``, a ~700-row upsert (updates in a key window plus
  new keys);
- delete: ``delete_where`` on a 20-key range with a deletion-vector
  threshold.

Reads and writes share the table, so a write-side change that costs read
latency (file sizing, deletion vectors, log length) shows in the same run.
An in-memory model of the benchmark's own merges and deletes checks every
read and the final tip snapshot.
"""

from __future__ import annotations

import bisect
import os
import random
import time

from perfbench import gen
from perfbench.checks import check_lookup, multiset_diff
from perfbench.common import median
from perfbench.wl_corpus import CorpusNeardup

KEYS = 200_000
FILES = 16
LOG_EVENTS = 120_000
LOG_KEYS = 30_000
LOOKUP_WIDTH = 100
MERGE_WINDOW = 1_500
MERGE_UPDATES = 600
MERGE_INSERTS = 100
DELETE_WIDTH = 20
DV_THRESHOLD = 0.1
CYCLE = (
    "lookup", "asof", "merge", "lookup", "cdf",
    "lookup", "delete", "lookup", "scan", "asof",
)


class DimModel:
    """The table's expected contents at every version: the closed-form
    initial image (version 0) plus a per-key history of later writes."""

    def __init__(self, seed: int, keys: int):
        self.seed = seed
        self.keys = keys
        self.tip = 0
        self.merges = 0
        self.hist: dict[int, list[tuple[int, tuple | None]]] = {}
        #: expected change rows of the newest commit: {change_type: ids}
        self.last_changes: dict[str, set[int]] = {}

    def value(self, key: int, version: int) -> tuple | None:
        h = self.hist.get(key)
        if h:
            i = bisect.bisect_right([v for v, _ in h], version)
            if i:
                return h[i - 1][1]
        if 0 <= key < self.keys:
            return (gen.dim_name(key, self.seed), gen.dim_price_cents(key, self.seed))
        return None

    def rows(self, lo: int, hi: int, version: int) -> dict[int, tuple]:
        out = {}
        for k in range(lo, hi + 1):
            v = self.value(k, version)
            if v is not None:
                out[k] = v
        return out

    def upsert(self, version: int, rows: list[tuple]) -> None:
        ch = {"update_preimage": set(), "update_postimage": set(), "insert": set()}
        for k, name, price in rows:
            if self.value(k, version - 1) is None:
                ch["insert"].add(k)
            else:
                ch["update_preimage"].add(k)
                ch["update_postimage"].add(k)
            self.hist.setdefault(k, []).append((version, (name, price)))
        self.merges += 1
        self._commit(version, ch)

    def delete(self, version: int, keys: list[int]) -> None:
        for k in keys:
            self.hist.setdefault(k, []).append((version, None))
        self._commit(version, {"delete": set(keys)})

    def _commit(self, version: int, changes: dict) -> None:
        self.tip = version
        self.last_changes = {t: ids for t, ids in changes.items() if ids}

    def max_key(self) -> int:
        return max([self.keys - 1, *self.hist])


class LakehouseMix:
    def __init__(self, ctx):
        self.ctx = ctx
        #: (lo, hi, version, rows, model) of every read, checked after the loop
        self.reads: list[tuple] = []
        self.cdfs: list[tuple[dict, list]] = []
        self.lookup_files: list[tuple[int, int]] = []
        self.merge_info: list[tuple[int, int, int]] = []  # (touched, bytes, src rows)
        self.corpus = None  # traced runs only

    # -- set-up --------------------------------------------------------------

    def _build(self, d: str, seed: int):
        from pyspark.sql import functions as F

        from change_data_capture_spark.sources import txlog

        spark = self.ctx.spark
        table = os.path.join(d, "table")
        k = F.col("id")
        dim = spark.range(0, KEYS, 1, FILES).select(
            k,
            F.concat(
                F.lit("p"), k, F.lit("-"), (k * 7919 + seed * 104729) % 100003
            ).alias("name"),
            ((k * 2654435761 + seed * 40503) % 1_000_000).alias("price_cents"),
        )
        txlog.commit(
            table,
            add=txlog.write_files(dim, table, stats_cols=["id"]),
            expected_version=0,
            operation="WRITE",
        )
        # decoded change log: Zipf-skewed keys, a replayed event every 25th,
        # a NULL lsn every 200th (the shapes operators.scd2 must repair)
        v = F.col("id")
        u = (F.pmod(F.xxhash64(F.lit(seed), v), F.lit(1 << 30)) / (1 << 30))
        events = spark.range(0, LOG_EVENTS, 1, 4).select(
            F.floor(F.pow(u, 3) * LOG_KEYS).cast("long").alias("id"),
            F.when(v % 200 == 3, F.lit(None)).otherwise(v * 4 + 10_000_000)
            .cast("long").alias("lsn"),
            (F.lit(gen.BASE_TS_MS) + v * 10).alias("ts_ms"),
            F.concat(F.lit("n"), v).alias("name"),
            F.lit("d").alias("description"),
            (F.pmod(F.xxhash64(F.lit(seed + 1), v), F.lit(100_000)) / 100)
            .cast("decimal(10,2)").alias("price"),
        )
        log = os.path.join(d, "changelog")
        events.unionAll(events.where(F.col("ts_ms") % 250 == 0)).write.parquet(log)
        return table, log

    def warm_up(self) -> None:
        """One cycle on the set-up just built (later set-ups replace it),
        with its own model and rng."""
        model = DimModel(self.ctx.seed, KEYS)
        rng = random.Random(self.ctx.seed + 1)
        for op in CYCLE:
            self._op(op, self.table, self.log, model, rng, record=False)

    def set_up(self, d: str) -> None:
        self.table, self.log = self._build(d, self.ctx.seed)
        self.model = DimModel(self.ctx.seed, KEYS)
        self.rng = random.Random(self.ctx.seed * 7_919 + 17)
        self.lo = 0

    # -- the closed loop -----------------------------------------------------

    def step(self) -> None:
        for op in CYCLE:
            self._op(op, self.table, self.log, self.model, self.rng, record=True)

    def _op(self, op, table, log, model, rng, record: bool) -> None:
        from pyspark.sql import functions as F

        from change_data_capture_spark.operators.scd2 import scd2
        from change_data_capture_spark.sources import txlog

        ctx, spark = self.ctx, self.ctx.spark
        tracing = record and ctx.tracer.enabled
        spark.catalog.clearCache()

        def run(fn):
            if record:
                return ctx.timed(op, fn)
            return True, fn()

        if op in ("lookup", "asof"):
            if op == "lookup":
                self.lo = rng.randrange(0, model.max_key() - LOOKUP_WIDTH)
                version = model.tip
            else:
                version = rng.randint(0, model.tip)
            lo, hi = self.lo, self.lo + LOOKUP_WIDTH - 1
            if tracing:
                self._probe_resolve(table, version, lo, hi)
            ok, rows = run(
                lambda: txlog.read_version(
                    spark, table, version=version, predicate_range=("id", lo, hi)
                )
                .where(F.col("id").between(lo, hi))
                .select("id", "name", "price_cents")
                .collect()
            )
            if ok:
                self.reads.append((lo, hi, version, [tuple(r) for r in rows], model))
        elif op == "merge":
            n = model.merges + 1
            base = model.max_key() + 1
            w = rng.randrange(0, max(1, base - MERGE_WINDOW))
            keys = rng.sample(range(w, w + MERGE_WINDOW), MERGE_UPDATES)
            keys += range(base, base + MERGE_INSERTS)
            src_rows = [
                (k, f"p{k}-m{n}", rng.randrange(0, 1_000_000)) for k in sorted(keys)
            ]
            src = spark.createDataFrame(
                src_rows, "id long, name string, price_cents long"
            )
            ok, res = run(
                lambda: txlog.merge_into(spark, table, src, "id", stats_cols=["id"])
            )
            if ok:
                version, touched = res
                model.upsert(version, src_rows)
                if tracing:
                    self._record_merge(table, version, len(touched), len(src_rows))
        elif op == "delete":
            lo = rng.randrange(0, model.max_key() - DELETE_WIDTH)
            hi = lo + DELETE_WIDTH - 1
            live = sorted(model.rows(lo, hi, model.tip))
            ok, res = run(
                lambda: txlog.delete_where(
                    spark,
                    table,
                    f"id >= {lo} AND id <= {hi}",
                    stats_cols=["id"],
                    prune_range=("id", lo, hi),
                    dv_fraction_threshold=DV_THRESHOLD,
                )
            )
            if ok:
                version, _ = res
                if (version == model.tip + 1) != bool(live):
                    ctx.check("delete", [f"commit mismatch on [{lo}, {hi}]"])
                elif live:
                    model.delete(version, live)
        elif op == "cdf":
            tip = model.tip
            ok, rows = run(
                lambda: txlog.table_changes(
                    spark, table, start_version=tip, end_version=tip
                )
                .select("id", "_change_type")
                .collect()
            )
            if ok:
                self.cdfs.append((dict(model.last_changes), [tuple(r) for r in rows]))
        elif op == "scan":
            run(
                lambda: scd2(spark.read.parquet(log))
                .write.format("noop")
                .mode("overwrite")
                .save()
            )

    # -- traced-only probes ----------------------------------------------------

    def _probe_resolve(self, table, version, lo, hi) -> None:
        from change_data_capture_spark.sources import txlog

        t0 = time.perf_counter()
        with self.ctx.tracer.span("txlog.snapshot_files"):
            every = txlog.snapshot_files(table)
        self.ctx.add("resolve_ms", (time.perf_counter() - t0) * 1000)
        kept = txlog.snapshot_files(table, version, predicate_range=("id", lo, hi))
        self.lookup_files.append((len(kept), len(every)))

    def _record_merge(self, table, version, touched, src_rows) -> None:
        import json

        # merge_into writes with stats_cols, so every add action has a size
        path = os.path.join(table, "_txlog", f"{version:020d}.json")
        with open(path) as f:
            size = sum(a["size"] for a in json.load(f)["add"])
        self.merge_info.append((touched, size, src_rows))

    # -- checks and metrics --------------------------------------------------

    def check(self) -> None:
        from change_data_capture_spark.sources import txlog

        ctx, model = self.ctx, self.model
        bad = []
        for lo, hi, version, rows, m in self.reads:
            bad += check_lookup(m.rows(lo, hi, version), rows)
        ctx.check(f"{len(self.reads)} lookups", bad)
        bad = []
        for expected, rows in self.cdfs:
            by_type: dict[str, list[int]] = {}
            for k, t in rows:
                by_type.setdefault(t, []).append(k)
            for t in set(expected) | set(by_type):
                bad += multiset_diff(
                    expected.get(t, set()), by_type.get(t, []), f"cdf {t}"
                )
        ctx.check(f"{len(self.cdfs)} cdf reads", bad)
        tip = txlog.read_version(ctx.spark, self.table).toPandas()
        got = list(zip(tip["id"].tolist(), tip["name"], tip["price_cents"].tolist()))
        want = [
            (k, *v)
            for k in range(model.max_key() + 1)
            if (v := model.value(k, model.tip)) is not None
        ]
        ctx.check("tip snapshot", multiset_diff(want, got, "tip snapshot"))
        if self.corpus is not None:
            self.corpus.check()

    def end_to_end(self) -> dict:
        s = self.ctx.samples
        # ops/s of the fixed mix, from each op kind's median
        cycle_s = sum(median(s.get(op, [])) for op in CYCLE)
        return {
            "throughput_per_s": len(CYCLE) / cycle_s if cycle_s else 0.0,
            "light_op_p50_s": median(s.get("lookup", [])),
        }

    def breakdown(self) -> dict:
        s = self.ctx.samples
        out = {f"op.{op}_p50_s": median(s.get(op, [])) for op in sorted(set(CYCLE))}
        out["op.mix_ops_per_s"] = self.end_to_end()["throughput_per_s"]
        return out

    def probe(self) -> None:
        """Layer probes outside the timed loop (traced runs only): the
        change-log scan's plan shape and row counts, and the corpus layer
        probes; from here on every txlog commit is traced."""
        from change_data_capture_spark.operators.scd2 import scd2
        from change_data_capture_spark.plans.inspect import plan_stats
        from change_data_capture_spark.sources import txlog

        # time the commit inside merge_into / delete_where in its own span
        inner, tracer = txlog.commit, self.ctx.tracer

        def commit(*args, **kwargs):
            with tracer.span("txlog.commit"):
                return inner(*args, **kwargs)

        txlog.commit = commit
        # the text and dedup layers, on a seeded corpus (see wl_corpus)
        self.corpus = CorpusNeardup(self.ctx)
        self.corpus.set_up(os.path.join(self.ctx.work, "corpus"))
        self.corpus.probe()
        spark = self.ctx.spark
        log = spark.read.parquet(self.log)
        out = scd2(log)
        self.scan_exchanges = plan_stats(out).shuffle_exchanges
        self.scan_rows = (log.count(), out.count())

    def layers(self) -> dict:
        from change_data_capture_spark.sources import txlog

        tr, s, table = self.ctx.tracer, self.ctx.samples, self.table
        scans = tr.named("scan")
        commits = tr.named("txlog.commit")
        snap = txlog.snapshot_files(table)
        live_bytes = sum(os.path.getsize(p) for p in snap)
        data_bytes = log_bytes = 0
        ckpt = -1
        for root, _, files in os.walk(table):
            for f in files:
                size = os.path.getsize(os.path.join(root, f))
                if root.endswith("_txlog"):
                    log_bytes += size
                    if f.endswith(".checkpoint.json"):
                        ckpt = max(ckpt, int(f.split(".")[0]))
                elif f.endswith(".parquet"):
                    data_bytes += size
        mi = self.merge_info
        return {
            "txlog.resolve_p50_ms": median(s.get("resolve_ms", [])),
            "txlog.files_scanned_per_lookup": (
                sum(k for k, _ in self.lookup_files) / len(self.lookup_files)
                if self.lookup_files else 0
            ),
            "txlog.skip_ratio": (
                1 - sum(k for k, _ in self.lookup_files)
                / max(1, sum(n for _, n in self.lookup_files))
            ),
            "txlog.snapshot_files": len(snap),
            "txlog.commits_since_checkpoint": self.model.tip - ckpt,
            "txlog.merge_files_touched": (
                sum(t for t, _, _ in mi) / len(mi) if mi else 0
            ),
            "txlog.rewrite_bytes_per_source_row": (
                sum(b for _, b, _ in mi) / max(1, sum(r for _, _, r in mi))
            ),
            "txlog.commit_p50_ms": median([c["dur_s"] * 1000 for c in commits]),
            "txlog.space_amp": data_bytes / live_bytes if live_bytes else 0,
            "txlog.log_bytes": log_bytes,
            "scd2.shuffle_exchanges": self.scan_exchanges,
            "scd2.shuffle_bytes": (
                sum(x["shuffle_write_bytes"] for x in scans) / len(scans)
                if scans else 0
            ),
            "scd2.rows_in": self.scan_rows[0],
            "scd2.rows_out": self.scan_rows[1],
            **self.corpus.layers(),
        }

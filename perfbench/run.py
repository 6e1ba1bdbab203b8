#!/usr/bin/env python3
"""Seeded CDC benchmark for the engine. Run from the repository root:

    python3 perfbench/run.py --workload cdc_drain --seed 1 --seconds 16 --trace 0

Workloads (see perfbench/README.md): ``cdc_drain``, ``lakehouse_mix``,
``corpus_neardup``. One local[cores] Spark session per process, one
closed-loop client. Per run: start the session, the workload's set-up three
times (``setup_s`` is their median) with an untimed warm-up after the first,
the closed loop for about ``--seconds``, then the correctness checks
(untimed).

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs the loop
half untraced and half traced, prints the per-layer metrics (including the
tracing overhead) and writes every span to ``.perfbench_out/``. Human-
readable lines come first; the last stdout line is one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``. The exit code is 0
only if every operation succeeded and every check passed.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import sys
import time
import uuid

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = {
    "cdc_drain": "perfbench.wl_cdc:CdcDrain",
    "lakehouse_mix": "perfbench.wl_lakehouse:LakehouseMix",
    "corpus_neardup": "perfbench.wl_corpus:CorpusNeardup",
}
SETUPS = 3


def load_benchmark() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _loop(wl, seconds: float) -> None:
    """Closed loop of whole steps: at least one, then more while another
    step as long as the last one still ends within ``seconds``."""
    start = time.perf_counter()
    while True:
        t0 = time.perf_counter()
        wl.step()
        now = time.perf_counter()
        if now - start + (now - t0) > seconds:
            return


def _jvm_peak_rss_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


def _engine_metrics(ctx, cores: int) -> dict:
    ops = [s for s in ctx.tracer.spans if s.get("op")]
    n = max(1, len(ops))
    wall_ms = sum(s["dur_s"] for s in ops) * 1000

    def total(c):
        return sum(s[c] for s in ops)

    return {
        "spark.jobs_per_op": total("jobs") / n,
        "spark.stages_per_op": total("stages") / n,
        "spark.tasks_per_op": total("tasks") / n,
        "spark.executor_busy_frac": (
            total("executor_run_ms") / (wall_ms * cores) if wall_ms else 0.0
        ),
        "spark.shuffle_write_bytes_per_op": total("shuffle_write_bytes") / n,
        "spark.spill_bytes": total("spill_bytes"),
        "spark.gc_s": total("gc_ms") / 1000,
        "driver.peak_rss_mb": _jvm_peak_rss_mb(ctx.spark),
    }


def run(args, work: str, bench: dict) -> dict:
    from perfbench.common import Ctx, cores, median, start_spark, stop_spark
    from perfbench.tracing import Tracer

    run_id = uuid.uuid4().hex[:12]
    t0 = time.perf_counter()
    spark = start_spark(work)
    session_s = time.perf_counter() - t0
    try:
        ctx = Ctx(spark, work, args.seed, Tracer(False, run_id))
        mod, cls = WORKLOADS[args.workload].split(":")
        wl = getattr(importlib.import_module(mod), cls)(ctx)

        # set-up runs SETUPS times (the loop uses the newest); the untimed
        # warm-up follows the first, cold one, whose outputs it may use
        setup_times = []
        for i in range(SETUPS):
            d = os.path.join(work, f"setup-{i}")
            t0 = time.perf_counter()
            wl.set_up(d)
            setup_times.append(time.perf_counter() - t0)
            if i == 0:
                t0 = time.perf_counter()
                wl.warm_up()
                warmup_s = time.perf_counter() - t0
                shutil.rmtree(os.path.join(work, "warmup"), ignore_errors=True)
            else:
                shutil.rmtree(os.path.join(work, f"setup-{i - 1}"), ignore_errors=True)
        print(
            f"# session: {session_s:.2f}s warm-up: {warmup_s:.2f}s "
            f"set-ups: {' '.join(f'{t:.2f}' for t in setup_times)}",
            file=sys.stderr,
        )

        if not args.trace:
            _loop(wl, args.seconds)
            t0 = time.perf_counter()
            wl.check()
            print(f"# check: {time.perf_counter() - t0:.2f}s", file=sys.stderr)
            metrics = {"setup_s": median(setup_times), **wl.end_to_end()}
            names = [m["name"] for m in bench["end_to_end"]]
            units = {m["name"]: m["unit"] for m in bench["end_to_end"]}
        else:
            _loop(wl, args.seconds / 2)
            untraced, breakdown = wl.end_to_end(), wl.breakdown()
            ctx.samples = {}
            ctx.tracer.enabled = True
            wl.probe()
            _loop(wl, args.seconds / 2)
            ctx.tracer.enabled = False
            traced = wl.end_to_end()
            ctx.tracer.attribute_spark(spark)
            wl.check()
            metrics = {
                **_engine_metrics(ctx, cores()),
                **breakdown,
                **wl.layers(),
                "trace.overhead_frac": (
                    untraced["throughput_per_s"] / traced["throughput_per_s"] - 1
                    if traced["throughput_per_s"]
                    else 0.0
                ),
                "trace.spans": len(ctx.tracer.spans),
                "setup.session_start_s": session_s,
                "setup.warmup_s": warmup_s,
            }
            names = [m["name"] for m in bench["per_layer"]]
            units = {m["name"]: m["unit"] for m in bench["per_layer"]}
            unknown = set(metrics) - set(names)
            if unknown:
                raise RuntimeError(f"metrics missing from BENCHMARK.json: {sorted(unknown)}")
            # layers this workload bypasses report zero work
            metrics = {n: metrics.get(n, 0) for n in names}
            out = os.path.join(ROOT, ".perfbench_out")
            ctx.tracer.write(
                os.path.join(out, f"trace-{args.workload}-{args.seed}-{run_id}.json")
            )
    finally:
        stop_spark(spark)

    for k, v in sorted(ctx.samples.items()):
        print(f"# {k}: n={len(v)} median={median(v):.4g}", file=sys.stderr)
    if set(metrics) != set(names):
        raise RuntimeError(f"metric set differs from BENCHMARK.json: {sorted(metrics)}")
    for p in ctx.problems:
        print(f"FAILED {p}", file=sys.stderr)
    for n in names:
        print(f"{n:40s} {metrics[n]:>16.6g} {units[n]}")
    rate = ctx.failed / ctx.attempted if ctx.attempted else 1.0
    print(f"{'error_rate':40s} {rate:>16.6g} ratio ({ctx.failed}/{ctx.attempted})")
    return {
        "correct": ctx.failed == 0 and ctx.attempted > 0,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": {
            n: {"value": float(metrics[n]), "unit": units[n]} for n in names
        },
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    bench = load_benchmark()
    sys.path.insert(0, ROOT)
    try:
        import change_data_capture_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {ROOT}: {e}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        result = run(args, work, bench)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))  # only if no other run uses it
        except OSError:
            pass
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())

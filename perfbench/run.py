#!/usr/bin/env python3
"""The extraction benchmark: one command, three workloads (BENCHMARK.json
lists crawl_fresh and corpus_dedup; recrawl_resume is run by hand).

    python3 perfbench/run.py --workload crawl_fresh --seed 1 --seconds 16 --trace 0

Run from the repository root.  Inputs are generated from ``--seed`` (see
inputs.py) and cached under ``.perfbench_work/``; the program under test
receives only the generated parquet.

``--trace 0`` measures the end-to-end metrics untraced, in three fresh
sessions, each with at least one timed run: local[4], which launches the
JVM and first warms it with one untimed run over the whole input, then
local[1], then local[4] again.  Set-up is timed in each session and the
median is reported.  Throughput is the median over the local[4] runs;
scaling_eff compares it with the median local[1] run.

``--trace 1`` runs one local[4] session in which, after a warm-up over the
whole input, untraced runs (the wall-clock reference) alternate with traced
runs that span each layer's public calls, then the in-process engine phase
probe.  It reports the per-layer metrics.

Every run's output is checked; the last stdout line is the JSON result.
A run record (conditions, samples, spans) is written under
``.perfbench_work/records``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import sys
import time
import traceback

import harness

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
WORKLOAD_NAMES = ("crawl_fresh", "recrawl_resume", "corpus_dedup")

# (session tag, cores, share of --seconds spent measuring, minimum timed
# runs).  The first session launches the JVM and warms it with one run over
# the whole input before it measures.  The local[4] runs straddle the
# local[1] run in time, so that host load drifting during the run moves
# both sides of scaling_eff alike.  Three set-ups make setup_s a median.
UNTRACED_SESSIONS = (("a", 4, 0.3, 1), ("b", 1, 0.4, 1), ("c", 4, 0.3, 1))


def _log(msg: str) -> None:
    print("[perfbench] " + msg, file=sys.stderr, flush=True)


class Tally:
    """Pages attempted and failed: error rows, plus every page of a run
    whose job failed or whose output failed its check."""

    def __init__(self, pages: int):
        self.pages = pages
        self.attempted = 0
        self.failed = 0
        self.notes = []

    def run_once(self, wl, spark, tag: str, timed=None):
        """One checked run of the workload; returns (wall seconds, traced
        layer metrics), or (None, None) when the job or its check failed.
        ``timed(out, tag)`` replaces the untraced call (the traced run)."""
        out = wl.fresh_out(tag)
        self.attempted += self.pages
        try:
            t0 = time.perf_counter()
            if timed:
                extra, result = timed(out, tag)
            else:
                extra, result = None, wl.run(spark, out)
            wall = time.perf_counter() - t0
            chk = wl.check(spark, out, result)
        except Exception:  # noqa: BLE001 -- a failed job is a counted failure
            traceback.print_exc()
            self.failed += self.pages
            self.notes.append("%s: job failed" % tag)
            return None, None
        if not chk.ok:
            self.failed += self.pages
            self.notes.append("%s: %s" % (tag, chk.note))
            _log("check failed in run %s: %s" % (tag, chk.note))
            return None, None
        self.failed += chk.error_rows
        return wall, extra


def _repeat(seconds: float, min_calls: int, step) -> None:
    """Call step(k) for k = 0, 1, ...: at least ``min_calls`` times, then
    again only while the next call is expected to end before ``seconds``
    have passed."""
    start = time.perf_counter()
    k = 0
    while True:
        step(k)
        k += 1
        elapsed = time.perf_counter() - start
        if k >= min_calls and elapsed + elapsed / k > seconds:
            return


def warm_up(wl, spark, record: dict) -> None:
    """One unchecked, uncounted run over the whole input, so that the timed
    runs do not carry the JVM's cold first job."""
    t0 = time.perf_counter()
    try:
        wl.run(spark, wl.fresh_out("warm"))
    except Exception:  # noqa: BLE001 -- the timed runs count any failure
        traceback.print_exc()
    record.setdefault("warm_walls_s", []).append(time.perf_counter() - t0)


def untraced(wl, seconds: float, record: dict) -> tuple:
    tally = Tally(wl.pages)
    setups, walls, rss = [], {1: [], 4: []}, []
    for tag, cores, share, min_calls in UNTRACED_SESSIONS:
        spark, setup = harness.start_session(WORK, cores)
        setups.append(setup)
        try:
            if tag == "a":
                wl.prepare_session(spark)
                warm_up(wl, spark, record)

            def step(k, tag=tag, cores=cores):
                wall, _ = tally.run_once(wl, spark, "%s%d" % (tag, k))
                if wall is not None:
                    walls[cores].append(wall)

            _repeat(share * seconds, min_calls, step)
            rss.append(harness.python_workers_peak_rss_mb(spark))
        finally:
            spark.stop()
    record.update(setups_s=setups, walls_s={str(k): v for k, v in walls.items()},
                  worker_rss_mb=rss)
    w4, w1 = harness.median(walls[4]), harness.median(walls[1])
    metrics = {
        "docs_per_s": wl.pages / w4 if w4 else 0.0,
        "mb_per_s": wl.html_bytes / 1e6 / w4 if w4 else 0.0,
        "scaling_eff": w1 / (4 * w4) if w4 else 0.0,
        "setup_s": harness.median(setups),
        "peak_rss_mb": max(rss),
    }
    return metrics, tally


def traced(wl, seconds: float, seed: int, record: dict, tracer) -> tuple:
    import engine_probe
    import inputs

    tally = Tally(wl.pages)
    spark, setup = harness.start_session(WORK, 4)
    try:
        wl.prepare_session(spark)
        warm_up(wl, spark, record)
        walls, layer = [], []

        def traced_run(out, run_id):
            return wl.traced(spark, out, tracer, run_id)

        def step(k):
            # untraced and traced runs alternate, so host weather moves both
            wall, _ = tally.run_once(wl, spark, "u%d" % k)
            if wall is not None:
                walls.append(wall)
            wall, metrics = tally.run_once(wl, spark, "t%d" % k, traced_run)
            if wall is not None:
                layer.append(metrics)

        _repeat(seconds, 2, step)
        run_ids = sorted({s["run_id"] for s in tracer.spans})
        traced_walls = [tracer.duration(r, "run") for r in run_ids]
        layer_sums = [
            sum(v for k, v in tracer.self_times(r).items() if k in wl.layers)
            for r in run_ids
        ]
        jvm_rss = harness.jvm_peak_rss_mb(spark)
    finally:
        spark.stop()

    items = inputs.read_html(wl.meta, wl.meta["engine_urls"])
    probe = engine_probe.run(engine_probe.sample(
        items, seed, wl.engine_sample, inputs.size_class))
    if probe["mismatches"]:
        tally.notes.append("engine probe != clean_html for %d docs"
                           % len(probe["mismatches"]))
        tally.attempted += probe["docs"]
        tally.failed += len(probe["mismatches"])

    metrics = {}
    for key in layer[0] if layer else ():
        metrics[key] = harness.median(m[key] for m in layer)
    metrics.update(probe["metrics"])
    untraced_wall = harness.median(walls)
    metrics["jvm.peak_rss_mb"] = jvm_rss
    metrics["trace.overhead_frac"] = (
        harness.median(traced_walls) / untraced_wall - 1.0 if untraced_wall else 0.0)
    metrics["trace.layer_sum_over_wall"] = (
        harness.median(layer_sums) / untraced_wall if untraced_wall else 0.0)
    metrics["trace.untraced_wall_s"] = untraced_wall
    record.update(setup_s=setup, untraced_walls_s=walls, traced_walls_s=traced_walls,
                  layer_sums_s=layer_sums, engine_probe_docs=probe["docs"],
                  engine_probe_bytes=probe["bytes"])
    return metrics, tally


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    # a SIGTERM unwinds through the finally blocks that stop the JVM
    signal.signal(signal.SIGTERM, lambda signum, frame: sys.exit(128 + signum))
    harness.become_subreaper()
    try:
        return _run(args)
    finally:
        harness.reap_descendants()


def _run(args) -> int:
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isdir(os.path.join(ROOT, "htmlcleanup_spark")) or not os.path.exists(spec_path):
        _log("run from a checkout holding htmlcleanup_spark/ and BENCHMARK.json")
        return 2
    with open(spec_path) as f:
        spec = json.load(f)
    sys.path.insert(0, ROOT)
    harness.confine_to(WORK)
    import inputs
    import workloads

    t0 = time.perf_counter()
    meta = inputs.prepare(WORK, args.workload, args.seed)
    wl = workloads.WORKLOADS[args.workload](meta, WORK)
    record = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "seconds": args.seconds, "input_rows": wl.pages, "input_bytes": wl.html_bytes,
        "prepare_s": time.perf_counter() - t0, "nproc": os.cpu_count(),
        "python": platform.python_version(), "loadavg_before": os.getloadavg(),
        "spin_ms_before": harness.spin_ms(),
    }
    tracer = harness.Tracer()
    try:
        if args.trace:
            metrics, tally = traced(wl, args.seconds, args.seed, record, tracer)
        else:
            metrics, tally = untraced(wl, args.seconds, record)
    finally:
        harness.shutdown_jvm()
        for scratch in ("out", "tmp", "spark-local"):
            shutil.rmtree(os.path.join(WORK, scratch), ignore_errors=True)
    record.update(spin_ms_after=harness.spin_ms(), loadavg_after=os.getloadavg(),
                  notes=tally.notes, metrics=metrics)
    if args.trace:
        metrics["host.spin_ms_before"] = record["spin_ms_before"]
        metrics["host.spin_ms_after"] = record["spin_ms_after"]

    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    out_metrics = {
        m["name"]: {"value": float(metrics.get(m["name"], 0.0)), "unit": m["unit"]}
        for m in wanted
    }
    stem = "%s-s%d-t%d" % (args.workload, args.seed, args.trace)
    os.makedirs(os.path.join(WORK, "records"), exist_ok=True)
    with open(os.path.join(WORK, "records", stem + ".json"), "w") as f:
        json.dump(record, f, indent=1, default=str)
    if tracer.spans:
        with open(os.path.join(WORK, "records", stem + ".spans.jsonl"), "w") as f:
            for s in tracer.spans:
                f.write(json.dumps(s) + "\n")
    result = {
        "correct": not tally.notes,
        "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": out_metrics,
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())

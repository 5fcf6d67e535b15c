#!/usr/bin/env python3
"""sosse_spark benchmark: closed-loop workloads on local[cores].

    python3 perfbench/run.py --workload crawl_rounds --seed 1 --seconds 15 --trace 0

One client; each pass (a crawl round, a frontier cycle, one run of the
curation operator list) starts after the previous one ends.  The run
starts the session, generates the seeded inputs and makes one untimed
warm pass (set-up), then times passes for --seconds (at least the
workload's minimum), then checks the outputs untimed.  The last line of
stdout is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics, --trace 1 the per-layer
metrics (spans.py).  See perfbench/README.md for the metric map.
"""

from __future__ import annotations

import argparse
import contextlib
import importlib
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("crawl_rounds", "data_plane")
GENERATE_REPEATS = 3
MAX_PASSES = 50

TABLE_SPANS = ("tables.commit", "tables.append")
SPAN_EXTRAS = {"crawl_loop.run_round": ("jobs", "stages"), "tables.commit": ("files",)}
FIELD_UNITS = {
    "wall_s": "s", "idle_s": "s", "tasks": "count", "cpu_s": "s", "gc_s": "s",
    "shuffle_write_mb": "MiB", "shuffle_write_records": "count",
    "jobs": "count", "stages": "count", "files": "count",
}


def per_layer_specs() -> list[tuple[str, str, str]]:
    """(name, unit, better) of every per-layer metric, in output order."""
    from spans import FIELDS

    import crawl_rounds
    import curation_corpus
    import frontier_bulk

    spans = crawl_rounds.SPANS + TABLE_SPANS + frontier_bulk.SPANS + curation_corpus.SPANS
    specs = []
    for s in spans:
        for f in FIELDS + SPAN_EXTRAS.get(s, ()):
            specs.append((f"{s}.{f}", FIELD_UNITS[f], "lower"))
    specs += [
        ("frontier.bloom_positive_ratio", "ratio", "lower"),
        ("frontier.bloom_precision", "ratio", "higher"),
    ]
    specs += [(f"{s}.records_per_pair", "records/pair", "lower") for s in curation_corpus.PAIR_SPANS]
    specs += [
        ("bench.traced_pass_s", "s", "lower"),
        ("bench.peak_rss_mb", "MiB", "lower"),
        ("trace.collect_s", "s", "lower"),
        ("trace.failures", "count", "lower"),
    ]
    return specs


def wrap_tables(tracer) -> None:
    """Span every SnapshotTable.commit / AppendTable.append (eager writes)."""
    from sosse_spark.sources.tables import AppendTable, SnapshotTable

    commit, append = SnapshotTable.commit, AppendTable.append

    def traced_commit(self, spark, changed, round_no, *args, **kwargs):
        with tracer.span("tables.commit") as sp:
            snap = commit(self, spark, changed, round_no, *args, **kwargs)
        out = os.path.join(self.dir, f"snap-{snap:06d}")
        sp.extra["files"] = sum(f.endswith(".parquet") for _, _, fs in os.walk(out) for f in fs)
        return snap

    def traced_append(self, spark, df, round_no):
        with tracer.span("tables.append"):
            return append(self, spark, df, round_no)

    SnapshotTable.commit, AppendTable.append = traced_commit, traced_append


def per_layer_metrics(tracer, mod, wl, pass_s: list[float], peak_rss_mb: float) -> dict[str, dict]:
    from spans import COUNT_FIELDS

    specs = per_layer_specs()
    values: dict[str, float] = {}
    for name, _, _ in specs:
        span, _, field = name.rpartition(".")
        its = tracer.per_iteration(span)
        if not its or field not in its[0]:
            continue
        if field in COUNT_FIELDS:
            values[name] = its[0][field]
        else:
            values[name] = statistics.median(it[field] for it in its)
    extras = wl.extras()
    values.update({k: v for k, v in extras.items() if k.startswith("frontier.")})
    for span in getattr(mod, "PAIR_SPANS", ()):
        recs = values.get(f"{span}.shuffle_write_records", 0)
        values[f"{span}.records_per_pair"] = recs / max(extras.get(f"{span}.pairs", 0), 1)
    values["bench.traced_pass_s"] = statistics.median(pass_s)
    values["bench.peak_rss_mb"] = peak_rss_mb
    values["trace.collect_s"] = tracer.collect_s
    values["trace.failures"] = tracer.failures
    # a layer this workload never calls reports zero work
    return {name: {"value": values.get(name, 0), "unit": unit} for name, unit, _ in specs}


def run(args) -> int:
    from bench import host_control
    from session import host_guard, jvm_peak_rss_mb, make_spark, stop_spark
    from spans import Tracer

    host_guard()
    print(f"perfbench: host control {host_control(0.25)} passes/s (start)", file=sys.stderr)
    mod = importlib.import_module(args.workload)
    work_dir = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work_dir, ignore_errors=True)
    os.makedirs(work_dir)
    attempted = failed = 0
    pass_s: list[float] = []
    items: list[int] = []
    spark = wl = None
    try:
        t0 = time.time()
        spark = make_spark(ROOT, work_dir)
        session_s = time.time() - t0
        tracer = Tracer(spark, enabled=bool(args.trace))
        if tracer.enabled:
            wrap_tables(tracer)
        wl = mod.Workload(spark, tracer, work_dir, args.seed)
        gen_s = []
        for _ in range(GENERATE_REPEATS):
            t = time.time()
            wl.generate()
            gen_s.append(time.time() - t)
        t = time.time()
        attempted += 1
        wl.warm()
        wl.after_pass()
        setup_s = session_s + statistics.median(gen_s) + (time.time() - t)

        t_loop = time.time()
        while not pass_s or (time.time() - t_loop < args.seconds and len(pass_s) < MAX_PASSES):
            tracer.iteration = len(pass_s)
            attempted += 1
            # collect garbage (and the blocks it frees) outside the timed window
            spark.sparkContext._jvm.System.gc()
            t = time.time()
            try:
                items.append(wl.run_pass())
            except Exception:
                traceback.print_exc()
                failed += 1
                break
            pass_s.append(time.time() - t)
            wl.after_pass()
        tracer.iteration = -1

        try:
            checks = wl.check()
        except Exception:
            traceback.print_exc()
            checks = {"check_raised": False}
        for name, ok in checks.items():
            print(f"perfbench: check {name}: {'ok' if ok else 'FAILED'}", file=sys.stderr)
        attempted += len(checks)
        failed += sum(not ok for ok in checks.values())
        if not pass_s:
            return 1

        if tracer.enabled:
            metrics = per_layer_metrics(tracer, mod, wl, pass_s, jvm_peak_rss_mb(spark))
        else:
            metrics = {
                "setup_s": {"value": setup_s, "unit": "s"},
                "pass_s": {"value": statistics.median(pass_s), "unit": "s"},
                "items_per_s": {"value": sum(items) / sum(pass_s), "unit": "1/s"},
            }
        print(f"perfbench: {args.workload} seed {args.seed}: setup {setup_s:.2f}s, "
              f"passes {[round(p, 2) for p in pass_s]}", file=sys.stderr)
    finally:
        try:
            if wl is not None:
                wl.close()
        finally:
            if spark is not None:
                stop_spark(spark)
            shutil.rmtree(work_dir, ignore_errors=True)
            with contextlib.suppress(OSError):
                os.rmdir(os.path.dirname(work_dir))
    print(f"perfbench: host control {host_control(0.25)} passes/s (end)", file=sys.stderr)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0 if failed == 0 else 1


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    # a terminated run still stops its JVM and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    # bench.py, BENCH/gen_sf.py and sosse_spark are imported from the checkout
    sys.path[1:1] = [ROOT, os.path.join(ROOT, "BENCH")]
    return run(args)


if __name__ == "__main__":
    sys.exit(main())

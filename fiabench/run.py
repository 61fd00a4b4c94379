"""Benchmark of record: the per-state FIA job and population queries.

Usage (from the root of a checkout)::

    python3 fiabench/run.py --workload state_job --seed 1 --seconds 10 --trace 0

Workloads (closed loop, one client, one process, ``local[<cores>]``):

- ``state_annualize``: generated DataMart CSVs -> ``fia_load`` ->
  ``run_states(estimate=False)`` -> partitioned parquet;
- ``state_job``: the same with ``estimate=True`` (the full production job);
- ``pop_queries``: a seeded mix of the three ``plans.population`` functions
  over the parquet the state job staged during set-up.

Set-up (session start, generation, ``fia_load``, staging and a warm-up run)
is timed as ``setup_s``.  The output check against the DuckDB twins runs
once, after set-up; every timed run or query must then reproduce the
checked output.  With ``--trace 1`` a traced breakdown follows the timed
runs and the per-layer metrics are printed instead of the end-to-end ones.
The last line of standard output is the JSON result.  See NOTES.md.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import harness  # noqa: E402

WORKLOADS = ("state_annualize", "state_job", "pop_queries")


def _m(value, unit: str) -> dict:
    return {"value": float(value), "unit": unit}


def end_to_end(setup_s: float, res: dict, peak_kb: int) -> dict:
    lat = res["latencies"]
    tail, _pct = harness.tail(lat)
    return {
        "setup_s": _m(setup_s, "s"),
        "run_s": _m(res["run_s"], "s"),
        "tree_years_per_s": _m(res["tree_years_per_s"], "1/s"),
        "query_p50_ms": _m(1000 * statistics.median(lat), "ms"),
        "query_tail_ms": _m(1000 * tail, "ms"),
        "success_rate": _m(1 - res["failed"] / res["attempted"], "ratio"),
        "peak_rss_mb": _m(peak_kb / 1024.0, "MB"),
    }


def per_layer(ctx, tr, log, session_s: float, load_build_s: float, res: dict, tres: dict) -> dict:
    """Every per-layer metric; layers a workload does not run report 0."""
    import workloads as wl

    n = harness.cores()
    out: dict[str, dict] = {}

    def put(name, value, unit):
        out[name] = _m(value, unit)

    put("session.start_s", session_s, "s")
    # fia_load: build in set-up; scan = the raw scan of the pipeline tables
    scan_s = rows = 0.0
    if "execs" in tres:
        s, rows = tres["execs"]["scan"]
        scan_s = s["end"] - s["start"]
    fb = "sources.fia.fia_load."
    put(fb + "build_s", load_build_s, "s")
    put(fb + "scan_s", scan_s, "s")
    put(fb + "rows", rows, "count")
    put(fb + "bytes", sum(
        os.path.getsize(os.path.join(ctx.csv_dir, f"{st}_{t}.csv"))
        for st in ctx.states for t in wl.PIPELINE_TABLES
    ), "bytes")

    self_total = scan_s
    prev = "scan"
    executed = tres.get("layers", ())
    for layer in wl.FIA_LAYERS + wl.CARBON_LAYERS:
        mod = "plans.fia." if layer in wl.FIA_LAYERS else "plans.carbon."
        p = mod + layer + "."
        vals = dict.fromkeys(
            ("build_s", "self_s", "rows_out", "shuffle_write_bytes", "tasks",
             "core_util", "gc_s", "spill_bytes", "python_rows", "python_bytes"),
            0.0,
        )
        if layer in executed:
            s, r = tres["execs"][layer]
            sp, _ = tres["execs"][prev]
            self_s = (s["end"] - s["start"]) - (sp["end"] - sp["start"])
            c = log.total([s["id"]]).minus(log.total([sp["id"]]))
            build_s = tr.duration(f"build.{layer}")
            vals.update(
                build_s=build_s, self_s=self_s, rows_out=r,
                shuffle_write_bytes=c.shuffle_write_bytes, tasks=c.tasks,
                core_util=c.run_s / (self_s * n) if self_s > 0 else 0.0,
                gc_s=c.gc_s, spill_bytes=c.spill_bytes,
                python_rows=c.python_rows, python_bytes=c.python_bytes,
            )
            self_total += self_s
            prev = layer
        names = (
            ("build_s", "s"), ("self_s", "s"), ("rows_out", "count"),
            ("shuffle_write_bytes", "bytes"), ("tasks", "count"),
            ("core_util", "ratio"), ("gc_s", "s"), ("spill_bytes", "bytes"),
        ) if layer in wl.FIA_LAYERS else (
            ("build_s", "s"), ("self_s", "s"), ("rows_out", "count"),
            ("python_rows", "count"), ("python_bytes", "bytes"), ("gc_s", "s"),
        )
        for k, unit in names:
            put(p + k, vals[k], unit)

    rs = "plans.state_pipeline.run_states."
    write_s = 0.0
    if executed:
        s, _ = tres["execs"]["write"]
        write_s = s["end"] - s["start"]
    put(rs + "write_s", write_s, "s")
    put(rs + "files_written", tres["files"], "count")
    put(rs + "bytes_written", tres["bytes"], "bytes")

    for fn in wl.POP_FUNCS:
        p = f"plans.population.{fn}."
        pairs = tres.get("per_fn", {}).get(fn, [])
        k = max(1, len(pairs))
        c = log.total([e["id"] for _b, e in pairs] + [b["id"] for b, _e in pairs])
        put(p + "build_s", sum(b["end"] - b["start"] for b, _e in pairs) / k, "s")
        put(p + "exec_s", sum(e["end"] - e["start"] for _b, e in pairs) / k, "s")
        put(p + "bytes_scanned", c.input_bytes / k, "bytes")
        put(p + "shuffle_bytes", c.shuffle_write_bytes / k, "bytes")
        put(p + "tasks", c.tasks / k, "count")

    # whole engine, per timed run (the untraced runs of this process)
    start, end = res["window"]
    c = log.window(start, end).per(res["runs"])
    wall = res["run_s"]
    put("spark.jobs", c.jobs, "count")
    put("spark.stages", c.stages, "count")
    put("spark.tasks", c.tasks, "count")
    put("spark.task_failures", c.task_failures, "count")
    put("spark.core_util", c.run_s / (wall * n) if wall > 0 else 0.0, "ratio")
    put("spark.scheduler_wait_s", c.scheduler_wait_s, "s")

    traced = tres["traced"]
    if executed:
        self_sum = self_total + write_s
    else:
        self_sum = sum(
            (b["end"] - b["start"]) + (e["end"] - e["start"])
            for pairs in tres["per_fn"].values() for b, e in pairs
        )
    untraced_run_s = res["run_s"]
    put("trace.untraced_run_s", untraced_run_s, "s")
    put("trace.traced_run_s", traced, "s")
    put("trace.self_sum_s", self_sum, "s")
    put("trace.overhead_pct", 100.0 * (traced - untraced_run_s) / untraced_run_s, "%")
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description="FIA state job benchmark")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    harness.require_program()
    import gen
    import tracing
    import workloads as wl

    work = harness.WorkDir(f"{args.workload}-s{args.seed}")
    event_dir = work.sub("eventlog") if args.trace else None
    harness.configure_spark_env(work, event_dir)
    rss = harness.RssSampler()
    spark = None
    try:
        # ---- set-up ------------------------------------------------------
        t_setup = time.perf_counter()
        csv_dir = work.sub("csv")
        manifest = gen.generate(args.seed, wl.PLOTS, csv_dir)
        t0 = time.perf_counter()
        spark = harness.start_spark(data_bytes=manifest["bytes"])
        session_s = time.perf_counter() - t0
        tr = tracing.Tracer(spark.sparkContext, f"{args.workload}-seed{args.seed}") if args.trace else None
        ctx = wl.Context(spark, work, args.seed, csv_dir, manifest, tr)
        t0 = time.perf_counter()
        ctx.load()  # first call: schema inference of every table
        load_build_s = time.perf_counter() - t0
        job = wl.PopQueries() if args.workload == "pop_queries" else wl.StateJob(
            estimate=args.workload == "state_job"
        )
        job.setup(ctx)
        setup_s = time.perf_counter() - t_setup

        # ---- output check (not part of set-up time) ------------------------
        t0 = time.perf_counter()
        correct = job.check(ctx)
        check_s = time.perf_counter() - t0

        # ---- timed runs --------------------------------------------------
        res = job.measure(ctx, args.seconds, rss)
        correct = correct and res["failed"] == 0
        tail, pct = harness.tail(res["latencies"])
        print(
            f"fiabench: {args.workload} seed={args.seed} plots={wl.PLOTS} "
            f"states={ctx.states} setup={setup_s:.2f}s check={check_s:.2f}s "
            f"runs={len(res['latencies'])} tail=p{pct:.1f} of {len(res['latencies'])} samples "
            f"({tail * 1000:.1f} ms)"
        )
        for note in ctx.notes:
            print(f"fiabench: {note}")

        if not args.trace:
            metrics = end_to_end(setup_s, res, rss.peak_kb)
        else:
            tres = job.trace(ctx)
            harness.stop_spark(spark)
            spark = None
            log = tracing.EventLog(tracing.find_event_log(event_dir))
            metrics = per_layer(ctx, tr, log, session_s, load_build_s, res, tres)
            metrics["bench.query_tail_pct"] = _m(pct, "%")
            metrics["bench.samples"] = _m(len(res["latencies"]), "count")
            spans = os.path.join(work.traces, f"{args.workload}-seed{args.seed}-{os.getpid()}.spans.jsonl")
            tr.dump(spans)
            with open(spans.replace(".spans.jsonl", ".metrics.json"), "w") as f:
                json.dump(metrics, f, indent=1)
            print(f"fiabench: spans written to {os.path.relpath(spans, harness.ROOT)}")
        harness.emit(correct, res["attempted"], res["failed"], metrics)
        return 0
    except Exception:  # noqa: BLE001 - report and exit non-zero, no result line
        traceback.print_exc()
        return 1
    finally:
        if spark is not None:
            harness.stop_spark(spark)
        rss.close()
        harness.reap_children()
        work.remove()


if __name__ == "__main__":
    sys.exit(main())

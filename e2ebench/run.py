"""End-to-end benchmark of the CDC pipeline and the CH session.

Run from the repository root:

    python3 e2ebench/run.py --workload cdc_ingest --seed 1 --seconds 15 --trace 0

One process, one closed-loop client, one workload. Inputs come from
``--seed``; the run warms up, measures for ``--seconds`` of wall time, checks
every output, and prints a details line and then, last, one JSON result
line. ``--trace 0`` reports the end-to-end metrics; ``--trace 1`` turns on
the event log and the wrappers and reports the per-layer metrics instead.
The exit code is 0 only when a result was printed; it is 2 when the package
cannot be imported from the current directory.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from stats import median, tail  # noqa: E402

STEAL_MAX = 0.015  # share of host CPU time stolen during an operation
WINDOW_CAP = 1.25  # the measured window ends after this many --seconds
TRACE_NOTE = ("trace.overhead_frac counts the benchmark's own trace bookkeeping "
              "(job groups, tracker reads, wrappers) over busy time; the event "
              "log's cost inside the JVM shows only as the traced run's "
              "difference from an untraced one")


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=["cdc_ingest", "ch_session"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def import_package(root: str) -> None:
    """Import the package and the oracle comparator from the checkout."""
    sys.path.insert(0, root)
    sys.path.insert(0, os.path.join(root, "tests"))
    import canal_clickhouse_spark  # noqa: F401
    import oracle_compare  # noqa: F401


def main(argv=None) -> int:
    from host import process_start_time

    t_proc = process_start_time()
    args = parse_args(argv)
    root = os.getcwd()
    t = time.time()
    try:
        import_package(root)
    except ImportError as e:
        print(f"e2ebench: cannot import the package from {root}: {e}", file=sys.stderr)
        return 2
    import_s = time.time() - t
    run_dir = os.path.join(root, ".e2ebench_run", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        result, details = run(args, run_dir, t_proc, import_s)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(run_dir))
        except OSError:
            pass
    print("details " + json.dumps(details, sort_keys=True))
    print(json.dumps(result))
    return 0


def run(args, run_dir: str, t_proc: float, import_s: float):
    import host
    from workloads import WORKLOADS, Recorder, tie_probe

    host.pin_environment(run_dir)
    setup = {"import_s": import_s}
    t = time.time()
    spark = host.start_session(run_dir, event_log=bool(args.trace),
                               jvm_flags=WORKLOADS[args.workload].jvm_flags)
    setup["jvm_s"] = time.time() - t
    try:
        wl = WORKLOADS[args.workload](spark, run_dir, args.seed, bool(args.trace))
        wrap = None
        if args.trace:
            from trace import Wrap
            from canal_clickhouse_spark import chsql, chsql_ddl
            wrap = wl.translate = Wrap([(chsql, "translate"), (chsql_ddl, "translate")])
        t = time.time()
        wl.make_inputs()
        setup["inputs_s"] = time.time() - t
        t = time.time()
        wl.load()
        setup["load_s"] = time.time() - t
        warm = Recorder(spark, False)
        t = time.time()
        for _ in range(wl.warmup_ops):
            wl.op(warm, measured=False)
        setup["warmup_s"] = time.time() - t
        setup_s = time.time() - t_proc

        if wrap is not None:  # count only the measured phase
            wrap.calls, wrap.seconds = 0, 0.0
        rec = Recorder(spark, bool(args.trace))
        cond = {"calib_before_s": host.calibrate_s(), "load_before": host.load_avg()}
        steal0, total0 = host.cpu_times()
        gc0 = host.jvm_gc_s(spark)
        op_steal = []
        clean_s = 0.0
        t0 = time.time()
        # Measure until --seconds of operations ran undisturbed; time the
        # host stole from them does not count, up to a cap on the window.
        while clean_s < args.seconds and time.time() - t0 < WINDOW_CAP * args.seconds:
            first = rec.attempted
            s0, n0 = host.cpu_times()
            t = time.time()
            wl.op(rec, measured=True)
            s1, n1 = host.cpu_times()
            op_steal.append(round((s1 - s0) / max(1, n1 - n0), 4))
            if op_steal[-1] > STEAL_MAX:
                rec.disturb(first)
            else:
                clean_s += time.time() - t
        window_s = time.time() - t0
        gc_s = host.jvm_gc_s(spark) - gc0
        steal1, total1 = host.cpu_times()
        peak_rss = host.tree_rss_peak_mb()
        cond.update(calib_after_s=host.calibrate_s(), load_after=host.load_avg(),
                    steal_frac=(steal1 - steal0) / max(1, total1 - total0),
                    window_s=window_s, op_steal=op_steal,
                    disturbed_ops=rec.disturbed)

        end_ok = True
        extra = {}
        if args.workload == "cdc_ingest":
            end_ok = wl.final_check()
            extra["tie_probe_mismatch_keys"] = tie_probe(spark, run_dir, args.seed)
            extra["reference_skipped"] = wl.ref.skipped
            if args.trace:
                extra["probes"] = wl.probes()
                extra["state"] = wl.state_stats()
        if wrap is not None:
            wrap.restore()
    finally:
        host.stop_session(spark)

    groups = {}
    if args.trace:
        from trace import read_event_log
        groups = read_event_log(os.path.join(run_dir, "eventlog"))

    correct = end_ok and warm.failed == 0 and rec.failed == 0
    details = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "setup": setup, "conditions": cond,
        "attempted": rec.attempted, "failed": rec.failed,
        "fail_frac": rec.failed / max(1, rec.attempted),
        "warmup_failed": warm.failed, "end_check_ok": end_ok,
        "samples": {k: [round(s[1], 4) for s in rec.samples if s[0] == k]
                    for k in ("write", "read", "ddl")},
        "warmup_samples": {k: [round(s[1], 4) for s in warm.samples if s[0] == k]
                           for k in ("write", "read", "ddl")},
        **{k: v for k, v in extra.items() if k not in ("probes", "state")},
    }
    if args.trace:
        metrics = per_layer(args.workload, wl, rec, groups, setup, gc_s, extra, wrap)
        details["trace_note"] = TRACE_NOTE
    else:
        metrics = end_to_end(rec, setup_s, peak_rss, details)
    details["metrics"] = metrics
    result = {"correct": bool(correct), "attempted": max(1, rec.attempted),
              "failed": rec.failed,
              "metrics": {k: {"value": v, "unit": UNITS[k]} for k, v in metrics.items()}}
    return result, details


# -- metrics ----------------------------------------------------------------------

E2E_UNITS = {
    "setup_s": "s", "write_s.p50": "s", "read_s.p50": "s", "items_per_s": "1/s",
    "cpu_s_per_item": "s", "peak_rss_mb": "MB",
}
LAYER_UNITS = {
    **{f"pipeline.apply.{k}": u for k, u in (
        ("jobs", "count"), ("stages", "count"), ("tasks", "count"),
        ("exec_cpu_s", "s"), ("exec_run_s", "s"), ("shuffle_bytes", "B"),
        ("input_bytes", "B"), ("output_bytes", "B"), ("driver_s", "s"))},
    "pipeline.write_amp": "ratio",
    "pipeline.state_rows": "count", "pipeline.state_bytes": "B",
    "pipeline.state_files": "count",
    **{f"pipeline.read.{k}": u for k, u in (
        ("analysis_s", "s"), ("optimization_s", "s"), ("planning_s", "s"),
        ("exec_cpu_s", "s"), ("input_files", "count"))},
    "pipeline.tie_probe_mismatch_keys": "count",
    "envelope.parse_s": "s", "envelope.rows_out": "count",
    "apply.merge_s": "s", "apply.merge_shuffle_bytes": "B",
    "chsql.translate_s": "s", "chsql.translate_calls": "count",
    "chsql.translate_share": "ratio",
    **{f"chsql_ddl.select.{k}": u for k, u in (
        ("analysis_s", "s"), ("optimization_s", "s"), ("planning_s", "s"),
        ("jobs", "count"), ("tasks", "count"), ("exec_cpu_s", "s"))},
    "chsql_ddl.insert.jobs": "count", "chsql_ddl.insert.output_bytes": "B",
    "chsql_ddl.insert.output_files": "count",
    "chsql_ddl.ddl_s": "s", "chsql_ddl.driver_s": "s",
    **{f"setup.{k}": "s" for k in ("jvm_s", "import_s", "inputs_s", "load_s",
                                   "warmup_s")},
    "spark.gc_s": "s",
    "trace.overhead_frac": "ratio",
}
UNITS = {**E2E_UNITS, **LAYER_UNITS}


def end_to_end(rec, setup_s: float, peak_rss: float, details: dict) -> dict:
    out = {"setup_s": setup_s}
    tails = {}
    clean = rec.clean()
    for kind in ("write", "read"):
        xs = clean[kind]
        out[f"{kind}_s.p50"] = median(xs)
        # Too few samples per run for a steady tail: details only (NOTES.md)
        value, pct, n = tail(xs)
        tails[f"{kind}_s.tail"] = {"value": value, "percentile": pct, "samples": n}
    out["items_per_s"] = clean["items"] / clean["busy_s"]
    out["cpu_s_per_item"] = clean["cpu_s"] / max(1, clean["items"])
    out["peak_rss_mb"] = peak_rss
    details["tails"] = tails
    details["items"] = clean["items"]
    details["busy_s"] = clean["busy_s"]
    return out


def _mean(xs) -> float:
    return statistics.fmean(xs) if xs else 0.0


def per_layer(workload, wl, rec, groups, setup, gc_s, extra, wrap) -> dict:
    from trace import GroupStats, sum_groups

    m = {k: 0.0 for k in LAYER_UNITS}
    for k, v in setup.items():
        m[f"setup.{k}"] = v
    m["spark.gc_s"] = gc_s
    m["trace.overhead_frac"] = rec.trace_s / rec.busy_s()
    get = lambda g: groups.get(g, GroupStats())  # noqa: E731
    spans = {g: secs for _, secs, _, g, _ in rec.samples}

    if workload == "cdc_ingest":
        applies = [g for kind, _, _, g, _ in rec.samples if kind == "write"]
        reads = [g for kind, _, _, g, _ in rec.samples if kind == "read"]
        n = max(1, len(applies))
        tot = sum_groups({g: get(g) for g in applies}, "")
        for f in ("jobs", "stages", "tasks", "exec_cpu_s", "exec_run_s",
                  "shuffle_bytes", "input_bytes", "output_bytes"):
            m[f"pipeline.apply.{f}"] = getattr(tot, f) / n
        m["pipeline.apply.driver_s"] = _mean([spans[g] - get(g).job_s for g in applies])
        m["pipeline.write_amp"] = tot.output_bytes / max(1, wl.layer["batch_bytes"])
        for f in ("rows", "bytes", "files"):
            m[f"pipeline.state_{f}"] = extra["state"][f]
        for ph in ("analysis", "optimization", "planning"):
            m[f"pipeline.read.{ph}_s"] = _mean([p[ph] for p in wl.layer["read_phases"]])
        m["pipeline.read.exec_cpu_s"] = _mean([get(g).exec_cpu_s for g in reads])
        m["pipeline.read.input_files"] = _mean(wl.layer["read_files"])
        m["pipeline.tie_probe_mismatch_keys"] = extra["tie_probe_mismatch_keys"]
        pr = extra["probes"]
        m["envelope.parse_s"] = _mean(pr["parse_s"])
        m["envelope.rows_out"] = _mean(pr["rows_out"])
        m["apply.merge_s"] = _mean(pr["merge_s"])
        m["apply.merge_shuffle_bytes"] = _mean(
            [get(f"p.merge.{i}").shuffle_bytes for i in pr["groups"]])
    else:
        stmts = wl.layer["stmt"]  # (group, kind, execute seconds, translate seconds)
        m["chsql.translate_s"] = wrap.seconds / max(1, len(stmts))
        m["chsql.translate_calls"] = wrap.calls / max(1, len(stmts))
        m["chsql.translate_share"] = wrap.seconds / rec.busy_s()
        sel = [g for g, kind, _, _ in stmts if kind == "read"]
        ins = [g for g, kind, _, _ in stmts if kind == "write"]
        for ph in ("analysis", "optimization", "planning"):
            m[f"chsql_ddl.select.{ph}_s"] = _mean(
                [p[ph] for p in wl.layer["select_phases"]])
        for f in ("jobs", "tasks", "exec_cpu_s"):
            m[f"chsql_ddl.select.{f}"] = _mean([getattr(get(g), f) for g in sel])
        m["chsql_ddl.insert.jobs"] = _mean([get(g).jobs for g in ins])
        m["chsql_ddl.insert.output_bytes"] = _mean([get(g).output_bytes for g in ins])
        m["chsql_ddl.insert.output_files"] = _mean(wl.layer["insert_files"])
        m["chsql_ddl.ddl_s"] = median([s[1] for s in rec.samples if s[0] == "ddl"])
        m["chsql_ddl.driver_s"] = _mean(
            [secs - tr - get(g).job_s for g, _, secs, tr in stmts])
    return m


if __name__ == "__main__":
    sys.exit(main())

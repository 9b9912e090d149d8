"""obadiah_spark benchmark: one workload, one seed, one process.

    python3 perfbench/run.py --workload analyst_probe --seed 1 --seconds 10 --trace 0

Run from the repository root. The last line of standard output is one JSON
object {"correct", "attempted", "failed", "metrics"}; with ``--trace 0`` the
metrics are the end-to-end ones, with ``--trace 1`` the per-layer ones.
Lines before it print every metric by name with its unit. The full record
(stamps, spans, per-call counters, streaming progress, verification) is
written to ``.perfbench/records/<workload>_seed<n>_trace<t>.json``; a traced
record also states the tracing overhead against the untraced record of the
same workload and seed, when one exists.

Workloads, metrics and the layer map are described in perfbench/README.md.
"""

from __future__ import annotations

import argparse
import dataclasses
import json
import os
import shutil
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
# set-up runs per benchmark run; setup_s is the session start plus their median
SETUP_REPEATS = 3

END_TO_END = {  # name -> unit
    "setup_s": "s",
    "wall_s": "s",
    "ops_per_s": "1/s",
}

_REQ = ("operators.order_book.order_book", "operators.depth.spread_at",
        "operators.depth.get_depth", "operators.depth.get_spread",
        "operators.events.get_trades", "operators.events.get_events")
_FOLDS = ("fold.spread_fold", "fold.depth_change_fold",
          "operators.depth.depth_summary_fold", "operators.resample.queues",
          "operators.trading.trading_period_fold")
_DRIVER = ("jobs", "driver_gap_ms", "executor_cpu_ms", "wall_ms")
_STREAM = "streaming.chain.run_chain_stream"
# per-layer counters: <module>.<call> -> counters reported for it
LAYERS = {
    **{c: _DRIVER + ("scan_bytes", "files_read") for c in _REQ},
    "synth.register_level3": _DRIVER,
    "sources.silver.write_level3": ("wall_ms", "jobs", "output_bytes"),
    "fold.book_checkpoints": ("wall_ms", "executor_cpu_ms", "output_bytes"),
    "sources.silver.write_era_registry": ("wall_ms",),
    "operators.quality.chain_audit": _DRIVER,
    **{c: ("wall_ms", "jobs", "executor_cpu_ms", "python_bytes",
           "shuffle_write_bytes", "emit_ratio") for c in _FOLDS},
    "operators.matching.match_price_and_fill_exact":
        ("wall_ms", "jobs", "driver_gap_ms", "matched_ratio"),
    "operators.lifecycle.bitstamp_match_sweep": _DRIVER + ("matched_ratio",),
    "operators.repair.fix_chain_integrity": _DRIVER,
    _STREAM: _DRIVER + ("python_bytes", "triggers", "trigger_p50_ms",
                        "trigger_max_ms", "state_rows_max", "state_bytes_max",
                        "input_rows"),
    "spark.total": ("jobs", "driver_gap_ms", "gc_ms", "spill_bytes",
                    "shuffle_read_bytes", "shuffle_write_bytes"),
}
UNITS = {"jobs": "count", "files_read": "count", "triggers": "count",
         "state_rows_max": "count", "input_rows": "count",
         "emit_ratio": "ratio", "matched_ratio": "ratio"}


def unit_of(counter: str) -> str:
    if counter in UNITS:
        return UNITS[counter]
    return "ms" if counter.endswith("_ms") else "bytes"


def per_layer_spec() -> list[dict]:
    """The per-layer metric list, in BENCHMARK.json's form."""
    out = []
    for call, counters in LAYERS.items():
        for c in counters:
            better = "higher" if c in ("emit_ratio", "matched_ratio") else "lower"
            if call == _STREAM and c in ("triggers", "input_rows"):
                better = "higher"
            out.append({"name": f"{call}.{c}", "unit": unit_of(c),
                        "better": better})
    return out


def configure_env(work: str) -> None:
    """Engine settings chosen by the benchmark, never by editing the
    program: one Spark core per available CPU (the default is 32), a
    driver heap that fits a 15 GB host (the default is 16g), the checkout
    on the Python workers' path, and every temporary file inside the
    checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "3g"
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    # both JVMs: spark-submit's launcher and the driver
    jvm_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_LAUNCHER_OPTS"] = jvm_opts
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'--driver-java-options "{jvm_opts}" pyspark-shell')
    sys.path[:0] = [ROOT, HERE]


def percentile(xs: list[float], q: float) -> float | None:
    """The q-quantile of xs, or None unless at least ten samples lie
    beyond it."""
    if len(xs) * (1 - q) < 10:
        return None
    return statistics.quantiles(xs, n=100, method="inclusive")[round(q * 100) - 1]


def layer_metrics(calls: dict, progress: list[dict]) -> dict:
    """Per-layer values: per-call means of the tracer's counters, ratios
    over the whole run, trigger figures from the streaming listener, and
    0 for a call the workload does not make."""
    ms = [p["trigger_ms"] for p in progress]
    drains = calls.get(_STREAM, {}).get("calls", 0)
    stream = {
        "triggers": len(progress) / max(drains, 1),
        "trigger_p50_ms": statistics.median(ms) if ms else 0,
        "trigger_max_ms": max(ms, default=0),
        "state_rows_max": max((p["state_rows"] for p in progress), default=0),
        "state_bytes_max": max((p["state_bytes"] for p in progress), default=0),
        "input_rows": sum(p["input_rows"] for p in progress) / max(drains, 1),
    }
    out = {}
    for call, counters in LAYERS.items():
        rec = calls.get(call, {})
        n = max(rec.get("calls", 0), 1)
        for c in counters:
            if call == "spark.total":
                v = sum(r.get(c, 0) for r in calls.values())
            elif call == _STREAM and c in stream:
                v = stream[c]
            elif c == "python_bytes":
                v = (rec.get("python_sent_bytes", 0)
                     + rec.get("python_returned_bytes", 0)) / n
            elif c == "emit_ratio":
                v = rec.get("rows_out", 0) / max(rec.get("rows_in", 0), 1)
            elif c == "matched_ratio":
                v = rec.get("matched", 0) / max(rec.get("attempted", 0), 1)
            else:
                v = rec.get(c, 0) / n
            out[f"{call}.{c}"] = float(v)
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "obadiah_spark")):
        print(f"perfbench: no obadiah_spark package under {ROOT}", file=sys.stderr)
        return 2
    # a run stopped by a signal still stops Spark and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    _remove_stale_work()
    work = os.path.join(STATE, f"work_{args.workload}_{os.getpid()}")
    configure_env(work)

    import probe
    import workloads
    from gen import determinism_problems

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    cls = workloads.WORKLOADS[args.workload]
    probe.adopt_orphans()
    stamp_start = probe.validity_stamp()
    try:
        with probe.RssSampler() as rss:
            t0 = time.perf_counter()
            from obadiah_spark.session import get_spark

            spark = get_spark("perfbench")
            session_s = time.perf_counter() - t0
            try:
                tracer = probe.Tracer(spark, bool(args.trace))
                wl = cls(spark, tracer, work, args.seed)
                setups = []
                for k in range(SETUP_REPEATS):
                    s0, c0 = time.perf_counter(), tracer.collect_s
                    wl.setup(k)
                    setups.append(time.perf_counter() - s0
                                  - (tracer.collect_s - c0))
                setup_s = session_s + statistics.median(setups)
                walls, warm = [], []
                for i in range(cls.warmup_passes):
                    p0, c0 = time.perf_counter(), tracer.collect_s
                    wl.one_pass(i)
                    warm.append(time.perf_counter() - p0
                                - (tracer.collect_s - c0))
                wl.ops.clear()
                t_run = time.perf_counter()
                while not walls or time.perf_counter() - t_run < args.seconds:
                    p0, c0 = time.perf_counter(), tracer.collect_s
                    wl.one_pass(len(warm) + len(walls))
                    walls.append(time.perf_counter() - p0
                                 - (tracer.collect_s - c0))
                # ---- outside the timed region ----
                wl.finish()
                ops = wl.ops
                v0 = time.perf_counter()
                checked, problems = wl.verify()
                verify_s = time.perf_counter() - v0
                problems += [f"input: {p}" for p in
                             determinism_problems(args.seed, cls.shape)]
            finally:
                spark.stop()
    finally:
        try:
            _stop_jvm()
        finally:
            probe.stop_descendants()
            shutil.rmtree(work, ignore_errors=True)
    stamp_end = probe.validity_stamp()

    e2e = {
        "setup_s": setup_s,
        "wall_s": statistics.median(walls),
        "ops_per_s": len(ops) / sum(walls),
    }
    p50, tail = percentile(ops, 0.5), percentile(ops, 0.9)
    valid = stamp_end["spin_s"] <= 1.5 * stamp_start["spin_s"]
    attempted = len(ops) + checked
    failed = len(problems)
    record = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "seconds": args.seconds, "input_sha256": wl.input_sha256,
        "shape": dataclasses.asdict(cls.shape),
        "valid": valid, "stamp_start": stamp_start, "stamp_end": stamp_end,
        "session_s": session_s, "setup_runs_s": setups,
        "warmup_walls_s": warm, "passes": len(walls), "pass_walls_s": walls,
        "op_latencies_s": ops, "op_samples": len(ops),
        "op_p50_ms": None if p50 is None else p50 * 1000,
        "op_p90_ms": None if tail is None else tail * 1000,
        "end_to_end": e2e, "peak_rss_mb": rss.peak / 2**20,
        "verify_s": verify_s, "failed_ratio": failed / attempted,
        "verified_outputs": checked, "problems": problems,
        "calls": tracer.calls, "spans": tracer.spans,
        "stream_progress": wl.progress,
    }
    metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}
    if args.trace:
        layers = layer_metrics(tracer.calls, wl.progress)
        record["per_layer"] = layers
        metrics = {k: {"value": v, "unit": unit_of(k.rsplit(".", 1)[1])}
                   for k, v in layers.items()}
        untraced = _record_path(args.workload, args.seed, 0)
        if os.path.exists(untraced):
            with open(untraced) as fh:
                base = json.load(fh)["end_to_end"]
            record["tracing_overhead"] = {
                k: {"traced": e2e[k], "untraced": base[k],
                    "delta": e2e[k] - base[k],
                    "ratio": e2e[k] / base[k] if base[k] else None}
                for k in e2e}
        else:
            record["tracing_overhead"] = "no untraced record for this seed"
    os.makedirs(os.path.dirname(_record_path(args.workload, args.seed, 0)),
                exist_ok=True)
    with open(_record_path(args.workload, args.seed, args.trace), "w") as fh:
        json.dump(record, fh, indent=1, default=str)

    for k, v in e2e.items():
        print(f"{args.workload} {k} = {v:.4f} {END_TO_END[k]}")
    print(f"{args.workload} peak_rss_mb = {rss.peak / 2**20:.1f} MB (not gated)")
    for q, v in (("p50", p50), ("p90", tail)):
        print(f"{args.workload} op_{q}_ms = "
              + ("n/a" if v is None else f"{v * 1000:.1f}")
              + f" ms ({len(ops)} operation samples; a percentile needs 10 beyond it)")
    print(f"{args.workload} failed_ratio = {failed / attempted:.4f} "
          f"({failed} of {attempted} operations and checks)")
    if isinstance(record.get("tracing_overhead"), dict):
        for k, v in record["tracing_overhead"].items():
            print(f"{args.workload} tracing overhead {k}: traced {v['traced']:.4f}, "
                  f"untraced {v['untraced']:.4f} {END_TO_END[k]}")
    if not valid:
        print(f"{args.workload} RUN INVALID: spin {stamp_end['spin_s']:.3f}s at end "
              f"> 1.5 x {stamp_start['spin_s']:.3f}s at start")
    for p in problems:
        print(f"{args.workload} MISMATCH {p}")
    print(json.dumps({"correct": not problems, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


def _stop_jvm() -> None:
    """Close the py4j gateway and the JVM's stdin, on which the JVM exits
    (together with the Python workers it started)."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    gw.shutdown()
    proc = getattr(gw, "proc", None)
    if proc is not None and proc.stdin is not None:
        proc.stdin.close()


def _remove_stale_work() -> None:
    """Remove work directories left by runs that were killed outright."""
    if not os.path.isdir(STATE):
        return
    for d in os.listdir(STATE):
        pid = d.rsplit("_", 1)[-1]
        if (d.startswith("work_") and pid.isdigit()
                and not os.path.exists(f"/proc/{pid}")):
            shutil.rmtree(os.path.join(STATE, d), ignore_errors=True)


def _record_path(workload: str, seed: int, trace: int) -> str:
    return os.path.join(STATE, "records", f"{workload}_seed{seed}_trace{trace}.json")


if __name__ == "__main__":
    sys.exit(main())

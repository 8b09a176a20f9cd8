"""mfdedup_spark benchmark: closed-loop workloads at local[4], one client.

    python3 perfbench/run.py --workload dedup_batch --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. The last stdout line is one JSON object
{"correct", "attempted", "failed", "metrics"}: with ``--trace 0`` the
end-to-end metrics, with ``--trace 1`` the per-layer metrics of one
traced run. See perfbench/README.md for what each number means.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from common import (  # noqa: E402
    HostProbe,
    MemSampler,
    Tracer,
    configure_launch,
    median,
    read_event_log,
    start_session,
)

SETUP_REPS = 3        # set-ups per run; setup_s is their median
WARM_MAX_PASSES = 5   # cold-JVM warm-up: see warm_up()
COLD_MIN_PASSES = 3
WARM_GAIN = 0.95
DEADLINE_S = 170      # a run must end within 180 s

E2E = {"setup_s": "s", "items_per_s": "1/s", "peak_rss_mb": "MB"}

G_LAYERS = ("signatures", "lsh", "verify", "caption_match", "connected_components", "ingest", "restore")
G_METRICS = {
    "busy_s": "s", "task_s": "s", "gc_s": "s", "shuffle_write_b": "B",
    "spill_b": "B", "task_skew": "ratio", "jobs": "count",
}


def per_layer_units(contract_mix: tuple[str, ...]) -> dict[str, str]:
    units = {"session.start_s": "s", "session.warmup_s": "s"}
    for layer in G_LAYERS:
        for m, u in G_METRICS.items():
            units[f"{layer}.{m}"] = u
    units.update({
        "signatures.rows": "count",
        "lsh.candidate_pairs": "count",
        "lsh.bucket_dropped": "count",
        "verify.pairs": "count",
        "verify.yield": "ratio",
        "caption_match.pairs": "count",
        "caption_match.bucket_dropped": "count",
        "connected_components.clusters": "count",
        "pipeline.unattributed_s": "s",
        "pipeline.leaked_jobs": "count",
        "classification.unique_rows": "count",
        "classification.internal_rows": "count",
        "classification.adjacent_rows": "count",
        "ingest.signature_classify_s": "s",
        "ingest.write_recipes_s": "s",
        "ingest.write_chunks_s": "s",
        "ingest.write_metrics_index_s": "s",
        "ingest.arrangement_s": "s",
        "ingest.leaked_jobs": "count",
        "store.bytes_written": "B",
        "store.files_written": "count",
        "store.bytes_rewritten_by_arrange": "B",
        "store.bytes_per_input_byte": "ratio",
        "retention.busy_s": "s",
        "retention.partitions_dropped": "count",
        "restore.prepare_s": "s",
        "restore.payload_s": "s",
        "restore.scanned_b": "B",
        "restore.read_amp": "ratio",
        "restore.broadcast_route": "flag",
        "restore.leaked_jobs": "count",
    })
    for q in contract_mix:
        units[f"contract.{q}.busy_s"] = "s"
        units[f"contract.{q}.shuffle_write_b"] = "B"
    units["trace.overhead_s"] = "s"
    units["trace.layer_gap_s"] = "s"
    return units


class Bench:
    """Run-wide state handed to the workloads."""

    def __init__(self, seed: int, out: str, cache: str):
        from collections import defaultdict

        self.seed = seed
        self.out = out
        self.cache = cache
        self.spark = None
        self.java = None
        self.counters: dict[str, float] = defaultdict(float)


def warm_up(wl) -> list[float]:
    """Warm-up passes in a cold JVM until the latest pass is no longer
    WARM_GAIN× faster than the best pass before it (at least
    COLD_MIN_PASSES, at most WARM_MAX_PASSES)."""
    times: list[float] = []
    for _ in range(WARM_MAX_PASSES):
        t0 = time.perf_counter()
        wl.warm_pass()
        t = time.perf_counter() - t0
        earlier = min(times, default=t)
        times.append(t)
        if len(times) >= COLD_MIN_PASSES and t > WARM_GAIN * earlier:
            break
    return times


def stop_spark(spark) -> None:
    """Stop the SparkContext, then the JVM it runs in, and wait for it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def _num(x):
    x = float(x)
    return x if math.isfinite(x) else None


def run_e2e(wl, bench: Bench, seconds: float, rss: MemSampler, setup_reps: int):
    wl.prepare()
    setups, warms = [], []
    for _ in range(setup_reps):
        if bench.spark is not None:
            bench.spark.stop()  # tear-down is not set-up
        t0 = time.perf_counter()
        bench.spark = start_session()
        bench.java = bench.spark.sparkContext._jvm.System.getProperty("java.version")
        if not warms:
            warms.append(warm_up(wl))
        else:
            # the JVM is warm already: one pass warms the new session (its
            # Python workers, caches). Repeating passes here chased the
            # slow JIT drift and made setup_s bimodal.
            t1 = time.perf_counter()
            wl.warm_pass()
            warms.append([time.perf_counter() - t1])
        setups.append(time.perf_counter() - t0)
    wl.measure(seconds)
    items_per_s, report = wl.summary()
    attempted = len(wl.ops)
    failed = sum(not o.ok for o in wl.ops)
    errors = [o.error for o in wl.ops if not o.ok]
    if hasattr(wl, "check"):
        check_errors = wl.check()
        attempted += wl.check_count
        failed += len(check_errors)
        errors += check_errors
    metrics = {
        "setup_s": median(setups),
        "items_per_s": items_per_s,
        "peak_rss_mb": rss.peak / 1e6,
    }
    report["ops"] = [[o.kind, o.seconds, o.ok] for o in wl.ops]
    report["setup_s_each"] = setups
    report["warm_pass_s"] = warms
    report["op_failure_frac"] = {"value": failed / attempted if attempted else 1.0, "unit": "fraction"}
    report["errors"] = errors[:5]
    return metrics, report, attempted, failed


def run_traced(wl, bench: Bench, events_dir: str, contract_mix, others):
    wl.prepare()
    t0 = time.perf_counter()
    bench.spark = start_session()
    start_s = time.perf_counter() - t0
    bench.java = bench.spark.sparkContext._jvm.System.getProperty("java.version")
    warm = warm_up(wl)
    tr = Tracer(bench.spark)
    attempted, failed, errors = 0, 0, []
    own = None
    for w, probe in [(wl, False)] + [(o, True) for o in others]:
        attempted += 1
        try:
            res = w.traced(tr, probe=probe)
        except Exception as e:  # counted as a failed operation
            failed += 1
            errors.append(f"{w.name} traced pass: {e!r}")
            continue
        if not probe:
            own = res
    if hasattr(wl, "check"):
        check_errors = wl.check()
        attempted += wl.check_count
        failed += len(check_errors)
        errors += check_errors
    stop_spark(bench.spark)
    bench.spark = None
    ev = read_event_log(events_dir)

    c = bench.counters
    m: dict[str, float] = {"session.start_s": start_s, "session.warmup_s": sum(warm)}
    for layer in G_LAYERS:
        g = ev.get(layer, {})
        m[f"{layer}.busy_s"] = tr.busy_in(layer)
        for k in ("task_s", "gc_s", "shuffle_write_b", "spill_b", "task_skew", "jobs"):
            m[f"{layer}.{k}"] = g.get(k, 0 if k != "task_skew" else 1.0)
    for q in contract_mix:
        m[f"contract.{q}.busy_s"] = tr.busy_in(f"contract.{q}")
        m[f"contract.{q}.shuffle_write_b"] = ev.get(f"contract.{q}", {}).get("shuffle_write_b", 0)
    m["retention.busy_s"] = tr.busy_in("retention")
    m["verify.yield"] = c["verify.pairs"] / c["lsh.candidate_pairs"] if c["lsh.candidate_pairs"] else 0.0
    m["restore.read_amp"] = c["restore.scanned_b"] / c["restore._restored_b"] if c["restore._restored_b"] else 0.0
    m["store.bytes_per_input_byte"] = c["store._ratio"]
    units = per_layer_units(contract_mix)
    for k in units:
        if k not in m:
            m[k] = c[k]
    if own is not None:
        m["trace.overhead_s"] = own["traced_s"] - own["e2e_s"]
        m["trace.layer_gap_s"] = own["e2e_s"] - own["layer_sum_s"]
    else:
        m["trace.overhead_s"] = m["trace.layer_gap_s"] = float("nan")

    spans = tr.self_times()
    with open(os.path.join(bench.out, "spans.jsonl"), "w") as f:
        for s in spans:
            f.write(json.dumps(s) + "\n")
    report = {"own_pass": own, "event_log_groups": ev, "errors": errors[:5]}
    print_layer_table(spans, ev)
    return m, report, attempted, failed


def print_layer_table(spans: list[dict], ev: dict) -> None:
    """Human-readable per-layer table: busy (outermost spans), self time,
    and the event-log task metrics of the layer's job group."""
    rows: dict[str, list[float]] = {}
    for s in spans:
        if s["layer"] is None:
            continue
        r = rows.setdefault(s["layer"], [0, 0.0, 0.0])
        r[0] += 1
        r[1] += s["dur"]
        r[2] += s["self"]
    print(f"{'layer':<44}{'spans':>6}{'dur_s':>9}{'self_s':>9}{'task_s':>9}{'shuf_MB':>9}{'jobs':>6}")
    for layer, (n, dur, self_) in rows.items():
        g = ev.get(layer, {})
        print(
            f"{layer:<44}{n:>6}{dur:>9.3f}{self_:>9.3f}{g.get('task_s', 0):>9.2f}"
            f"{g.get('shuffle_write_b', 0) / 1e6:>9.2f}{g.get('jobs', 0):>6}"
        )


def _deadline(signum, frame):
    raise TimeoutError(f"benchmark run exceeded {DEADLINE_S} s")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny inputs and one set-up: the harness self-check mode")
    args = ap.parse_args(argv)

    # fail fast, before any work, when the engine sources are not present
    sys.path.insert(0, ROOT)
    try:
        import __spark_entry__  # noqa: F401
        import mfdedup_spark.session  # noqa: F401
        import workloads
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {ROOT}: {e}", file=sys.stderr)
        return 2
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    setup_reps = SETUP_REPS
    if args.smoke:
        workloads.use_smoke_sizes()
        setup_reps = 1
    signal.signal(signal.SIGALRM, _deadline)
    signal.alarm(DEADLINE_S)
    base = os.path.join(ROOT, ".perfbench_out")
    out = os.path.join(base, f"{args.workload}-s{args.seed}-t{args.trace}")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    events_dir = configure_launch(out, trace=bool(args.trace))
    bench = Bench(args.seed, out, os.path.join(base, "cache"))
    host = HostProbe()
    try:
        with MemSampler() as rss:
            wl = workloads.WORKLOADS[args.workload](bench)
            if args.trace:
                others = [cls(bench) for n, cls in workloads.WORKLOADS.items() if n != args.workload]
                metrics, report, attempted, failed = run_traced(
                    wl, bench, events_dir, workloads.CONTRACT_MIX, others
                )
                units = per_layer_units(workloads.CONTRACT_MIX)
            else:
                metrics, report, attempted, failed = run_e2e(wl, bench, args.seconds, rss, setup_reps)
                units = E2E
            record = {
                "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
                "trace": args.trace, "host": host.report(bench.java, ROOT), "report": report,
            }
    finally:
        if bench.spark is not None:
            stop_spark(bench.spark)
        signal.alarm(0)
    with open(os.path.join(out, "record.json"), "w") as f:
        json.dump({**record, "metrics": metrics}, f, indent=1, default=str)
    print("record: " + json.dumps(record, default=str))
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": _num(metrics[k]), "unit": u} for k, u in units.items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())

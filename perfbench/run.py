#!/usr/bin/env python3
"""Benchmark for the sopspark KG and sop pipelines.

Run from the root of a checkout:

    python3 perfbench/run.py --workload kg_build --seed 1 --seconds 18 --trace 0

The run starts a Spark session on local[4], generates its inputs from the
seed, warms up with two checked passes, then repeats timed passes until
``--seconds`` have passed. Set-up time runs from process start to the
first timed pass. Every pass's output is checked outside the timed
region. The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. See README.md.
"""

from __future__ import annotations

import time

PROCESS_START = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
OUT = os.path.join(ROOT, ".perfbench_out")
CORES = 4
# A timed pass during which the hypervisor stole more than this share of
# all CPU ticks measures the host, not the program; it is not counted.
STEAL_LIMIT = 0.06
# Passes keep getting faster for a while after the first (JIT, Python
# worker start): the checked warm-up pass plus this many untimed ones.
EXTRA_WARMUP_PASSES = 1


def isolate_scratch() -> str:
    """Point every temporary and Spark scratch directory into the checkout."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["SPARK_DRIVER_MEM"] = "2g"  # read by sopspark.session.get_spark
    return tmp


def start_session(tmp: str):
    from sopspark.session import get_spark

    spark = get_spark(
        master=f"local[{CORES}]",
        app_name="perfbench",
        shuffle_partitions=2 * CORES,
        extra_conf={
            # no hsperfdata file in the system /tmp
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - last resort at shutdown
            proc.kill()
            proc.wait()


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def metric(value, unit):
    return {"value": value, "unit": unit}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric name with its unit, in BENCHMARK.json order."""
    from perfbench import workloads as W

    units = {"call_s": "s", "self_s": "s", "rows_out": "count",
             "shuffle_write_bytes": "B", "spill_bytes": "B", "jobs": "count"}
    out = {}
    for layer in W.LAYERS:
        for f, u in units.items():
            out[f"{layer}.{f}"] = u
        if layer in W.PYTHON_LAYERS:
            out[f"{layer}.python_bytes"] = "B"
    out.update(W.RATIOS)
    out.update({
        "process.peak_rss_mb": "MB",
        "trace.untraced_pass_s": "s",
        "trace.traced_pass_s": "s",
        "trace.layer_sum_s": "s",
        "trace.overhead_s": "s",
    })
    return out


def run_trace(spark, wl, ops, run_id: str):
    """One untraced pass, then the same pass under the span recorder.
    Returns the per-layer metrics and the spans."""
    from perfbench import spans
    from perfbench import workloads as W

    base = ops.run(f"{wl.name} pass", wl.run_pass, spark, ops)
    if base is None:
        base = float("nan")
    tracer = spans.Tracer(run_id)
    since = time.time()
    extras = wl.traced_pass(spark, tracer, ops)
    spans.attribute(tracer, spans.sql_executions(spark, since))
    tracer.release()
    table = spans.layer_table(tracer, W.LAYERS)

    pass_idx = next(i for i, sp in enumerate(tracer.spans) if sp.name == "pass")
    traced = tracer.spans[pass_idx].duration
    layer_sum = traced - tracer.self_time(pass_idx)
    rss, rss_parts = spans.peak_rss_mb()
    print(f"process.peak_rss_mb: {rss:.1f} MB, sum of per-process peaks: "
          + ", ".join(f"{k} {v:.0f}" for k, v in sorted(rss_parts.items())))
    extras.update({
        "process.peak_rss_mb": rss,
        "trace.untraced_pass_s": base,
        "trace.traced_pass_s": traced,
        "trace.layer_sum_s": layer_sum,
        "trace.overhead_s": traced - base,
    })

    units = per_layer_units()
    values = {name: 0.0 for name in units}
    for layer, row in table.items():
        for f, v in row.items():
            if f"{layer}.{f}" in values:
                values[f"{layer}.{f}"] = v
    values.update(extras)

    print("trace: method = each layer call is followed by persist()+count() inside its span; "
          "SQL executions go to the innermost span open at submission")
    print(f"trace: traced pass {traced:.3f} s = layer spans {layer_sum:.3f} s "
          f"+ unattributed {traced - layer_sum:.3f} s; untraced pass {base:.3f} s; "
          f"tracing overhead {traced - base:+.3f} s")
    for layer in wl.layers:
        r = table[layer]
        print(f"layer {layer}: call {r['call_s']:.3f} s, self {r['self_s']:.3f} s, "
              f"rows {int(r['rows_out'])}, jobs {int(r['jobs'])}, "
              f"shuffle {int(r['shuffle_write_bytes'])} B, spill {int(r['spill_bytes'])} B, "
              f"python {int(r['python_bytes'])} B")
    metrics = {name: metric(values[name], unit) for name, unit in units.items()}
    return metrics, tracer.to_json()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "sopspark", "__init__.py")):
        print("perfbench: no sopspark package in this checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import checks, spans
    from perfbench import workloads as W

    if args.workload not in W.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(W.WORKLOADS)}",
              file=sys.stderr)
        return 2
    wl = W.WORKLOADS[args.workload]()
    shutil.rmtree(WORK, ignore_errors=True)
    tmp = isolate_scratch()
    ops = checks.Ops()
    run_id = f"{wl.name}-s{args.seed}-t{args.trace}-{int(PROCESS_START * 1000)}"

    spark = None
    try:
        spark = start_session(tmp)
        session_s = time.time() - PROCESS_START
        t = time.time()
        inputs = wl.setup(spark, args.seed, WORK)
        gen_s = time.time() - t
        t = time.time()
        wl.warmup(spark, ops)
        for _ in range(EXTRA_WARMUP_PASSES):
            ops.run(f"{wl.name} pass", wl.run_pass, spark, ops)
        warmup_s = time.time() - t
        setup_s = time.time() - PROCESS_START

        print(f"perfbench {wl.name} seed={args.seed} local[{CORES}] inputs "
              + " ".join(f"{k}={v}" for k, v in inputs.items()))
        print(f"setup_s: {setup_s:.3f} s from process start = session {session_s:.3f} s "
              f"+ input generation {gen_s:.3f} s + warm-up {warmup_s:.3f} s")

        report = {"run_id": run_id, "inputs": inputs, "setup_s": setup_s,
                  "session_s": session_s, "gen_s": gen_s, "warmup_s": warmup_s}
        if args.trace:
            metrics, report["spans"] = run_trace(spark, wl, ops, run_id)
        else:
            walls, steals = [], []
            deadline = time.time() + args.seconds
            while True:
                ticks = spans.cpu_ticks()
                w = ops.run(f"{wl.name} pass", wl.run_pass, spark, ops)
                if w is not None:
                    walls.append(w)
                    steals.append(spans.steal_share(ticks))
                if time.time() >= deadline:
                    break
            kept = [w for w, st in zip(walls, steals) if st <= STEAL_LIMIT] or walls
            rates = [wl.items / w for w in kept]
            metrics = {
                "items_per_s": metric(median(rates), "1/s"),
                "setup_s": metric(setup_s, "s"),
                "ops_ok_ratio": metric(1.0 - ops.failed / max(ops.attempted, 1), "ratio"),
            }
            print(f"items_per_s: median {median(rates):.1f} {wl.unit}/s over {len(rates)} of "
                  f"{len(walls)} passes of {wl.items} {wl.unit}"
                  + ("" if any(st <= STEAL_LIMIT for st in steals)
                     else f" (every pass above the {STEAL_LIMIT:.0%} steal limit, all counted)"))
            print(f"passes: wall clock {[round(w, 3) for w in walls]} s; steal share of CPU ticks "
                  f"{[round(st, 3) for st in steals]}; all passes median "
                  f"{median([wl.items / w for w in walls]):.1f} {wl.unit}/s")
            report.update(walls=walls, steal_shares=steals)
        print(f"ops: {ops.attempted} attempted, {ops.failed} failed")
        for m in ops.messages:
            print(f"FAILED {m}")
    finally:
        if spark is not None:
            stop_jvm(spark)

    os.makedirs(OUT, exist_ok=True)
    with open(os.path.join(OUT, f"{wl.name}-seed{args.seed}-trace{args.trace}.json"), "w") as f:
        json.dump(dict(report, metrics=metrics), f, indent=1, default=str)
    print(json.dumps({
        "correct": ops.failed == 0,
        "attempted": ops.attempted,
        "failed": ops.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())

#!/usr/bin/env python3
"""Run one benchmark workload and print its result line.

    python3 perfbench/run.py --workload {cdc,corpus} --seed N \
        --seconds S --trace {0,1} [--scale {full,tiny}]

Run from the root of a checkout holding the `flink_etl_spark` package.
Inputs are generated from the seed into `.perfbench/inputs/` (once per
seed); every run works in a fresh `.perfbench/runs/` directory that is
removed at exit. The last stdout line is the JSON result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics under `--trace 0` and the per-layer metrics
under `--trace 1`. A traced run interleaves untraced and traced loop
steps, so its results file under `.perfbench/results/` carries both
sets of end-to-end figures and their difference (the tracing overhead).
See perfbench/README.md for what each workload and metric means.
"""

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
#: set-ups per run; setup_s is their median
SETUPS = 5
LAYERS = ("session", "sources", "canal", "ingest", "merge", "text", "dedup", "prep",
          "similarity")
BOUNDARY = ("jobs", "stages", "tasks", "cpu_s", "gc_s", "driver_s")


def _cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def _host(before: list[int]) -> dict:
    """Steal share of CPU time since `before`, and the load average."""
    delta = [a - b for a, b in zip(_cpu_times(), before)]
    with open("/proc/loadavg") as f:
        load = [float(x) for x in f.read().split()[:3]]
    return {"steal_share": delta[7] / max(1, sum(delta)), "loadavg": load}


def _stop(spark) -> None:
    """Stop the session and the JVM it launched, and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None


def _per_layer(wl, spans: list[dict], starts: list[float]) -> dict:
    """Every per-layer metric of BENCHMARK.json as (value, unit): each
    layer's boundary counts per call (median over the layer's calls;
    probes count only where the layer has no call of its own) and the
    workload's named metrics. A layer the workload never calls reads 0."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        units = {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}
    values = {}
    for layer in LAYERS:
        calls = [s for s in spans if s["layer"] == layer]
        calls = [s for s in calls if not s.get("probe")] or calls
        for key in BOUNDARY:
            values[f"{layer}.{key}"] = statistics.median(s[key] for s in calls) if calls else 0
    # the session layer is the session start itself, all driver time
    values["session.start_s"] = values["session.driver_s"] = statistics.median(starts)
    values.update(wl.layers())
    return {name: (values.get(name, 0), unit) for name, unit in units.items()}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=("cdc", "corpus"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "flink_etl_spark", "__init__.py")):
        print(f"perfbench: no flink_etl_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]
    from layertrace import Tracer
    from workloads import WORKLOADS

    cpus = len(os.sched_getaffinity(0))
    run_dir = os.path.join(WORK, "runs", f"{args.workload}-{os.getpid()}")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update(SPARK_GRAFT_CPUS=str(cpus), SPARK_LOCAL_DIRS=tmp, TMPDIR=tmp)
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        # keep every job, stage and SQL execution of the run for the tracer
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "100000",
    }

    wl = WORKLOADS[args.workload](args.seed, args.scale, cpus, run_dir)
    g0 = time.perf_counter()
    phases = {"imports": g0 - T_START}
    wl.inputs(os.path.join(WORK, "inputs"))
    gen_s = phases["inputs"] = time.perf_counter() - g0

    from flink_etl_spark.session import get_spark

    spark = None
    setups, starts = [], []
    try:
        # a set-up is a session start: set-up 1 runs from process start
        # (input generation excluded) and launches the JVM, set-ups 2..
        # stop the session and start a new one in the same JVM. The
        # warm-up pass runs on the last one.
        for r in range(SETUPS):
            t0 = T_START + gen_s if r == 0 else time.perf_counter()
            if spark is not None:
                spark.stop()
            s0 = time.perf_counter()
            spark = get_spark(app_name=f"perfbench-{args.workload}", extra_conf=conf)
            starts.append(time.perf_counter() - s0)
            setups.append(time.perf_counter() - t0)
        spark.sparkContext.setLogLevel("ERROR")
        tracer = Tracer(spark, enabled=False)
        wl.bind(spark, tracer)
        phases["setups"] = sum(setups)
        phase0 = time.perf_counter()
        wl.warm()

        # closed loop with a fixed number of steps sized from the
        # workload's nominal step time, so every run has the same sample
        # count; a traced run traces every second step
        phases["warm"] = time.perf_counter() - phase0
        phase0 = time.perf_counter()
        host0 = _cpu_times()
        steps = max(wl.MIN_STEPS, math.ceil(args.seconds / wl.STEP_S))
        loop_wall = traced_wall = 0.0
        for i in range(steps):
            tracer.enabled = bool(args.trace) and i % 2 == 1
            t0 = time.perf_counter()
            wl.step(i)
            dt = time.perf_counter() - t0
            loop_wall += dt
            traced_wall += dt if tracer.enabled else 0.0
        n_loop_spans = len(tracer.spans)
        phases["loop"] = time.perf_counter() - phase0
        phase0 = time.perf_counter()
        e2e, info = wl.end_to_end(traced=False)
        e2e["setup_s"] = (statistics.median(setups), "s")
        metrics = e2e
        result = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
                  "end_to_end": {k: v for k, (v, _) in e2e.items()}, "info": info,
                  "setups_s": setups, "session_starts_s": starts, "loop_s": loop_wall,
                  "inputs_s": gen_s}
        if args.trace:
            phase0 = time.perf_counter()
            tracer.enabled = True
            wl.probe()
            tracer.collect()
            phases["probe"] = time.perf_counter() - phase0
        # checked after the probes, so a traced run checks their outputs too
        phase0 = time.perf_counter()
        wl.check()
        phases["check"] = time.perf_counter() - phase0
        if args.trace:
            traced, tinfo = wl.end_to_end(traced=True)
            # each layer's job time plus driver time over the traced loop
            # steps (probes excluded), against those steps' wall time
            totals: dict = {}
            for s in tracer.spans[:n_loop_spans]:
                t = totals.setdefault(s["layer"], dict.fromkeys(("calls", "jobs_s", "driver_s"), 0))
                t["calls"] += 1
                t["jobs_s"] += s["jobs_s"]
                t["driver_s"] += s["driver_s"]
            accounted = sum(t["jobs_s"] + t["driver_s"] for t in totals.values())
            metrics = _per_layer(wl, tracer.spans, starts)
            result.update(
                traced_end_to_end={k: v for k, (v, _) in traced.items()},
                tracing_overhead={k: traced[k][0] - e2e[k][0] for k in traced},
                traced_info=tinfo, traced_wall_s=traced_wall, layer_totals=totals,
                accounted_share=accounted / traced_wall,
                per_layer={k: v for k, (v, _) in metrics.items()},
                spans=[{k: v for k, v in s.items() if k != "progress"} for s in tracer.spans],
            )
        result.update(host=_host(host0), attempted=wl.attempted, failed=wl.failed,
                      checked=wl.checked)
    finally:
        phase0 = time.perf_counter()
        if spark is not None:
            _stop(spark)
        shutil.rmtree(run_dir, ignore_errors=True)

    phases["stop"] = time.perf_counter() - phase0
    result.update(wall_s=time.perf_counter() - T_START, phases_s=phases)
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    path = os.path.join(WORK, "results",
                        f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}.json")
    with open(path, "w") as f:
        json.dump(result, f, indent=1, default=str)
    print(f"perfbench: {json.dumps({'info': result['info'], 'host': result['host']})}")
    print(f"perfbench: results {path}")
    print(json.dumps({"correct": wl.failed == 0 and wl.attempted > 0,
                      "attempted": wl.attempted, "failed": wl.failed,
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())

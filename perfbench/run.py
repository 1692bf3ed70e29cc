"""Benchmark runner: one workload, one client, closed loop, on local[nproc].

    python3 perfbench/run.py --workload build --seed 3 --seconds 5 --trace 0

Set-up (session start, inputs, warm-up) is timed as ``setup_s``.  Then whole
calls run back to back, each starting after the previous one returned, until
``--seconds`` have passed; every call's output is checked against pins.json.
The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (end-to-end metrics with ``--trace 0``; per-layer
metrics, from a run with Spark job groups and the event log on, with
``--trace 1``).  The line before it is a JSON record of the host, the code,
and the raw samples.

    python3 perfbench/run.py --workload build --record-pins 0-7

records the per-variant pins instead (see workloads.py).
"""
from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PINS = os.path.join(HERE, "pins.json")


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=5.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-pins", metavar="LO-HI",
                    help="record pins for variants LO..HI and exit")
    return ap.parse_args(argv)


def _fail(msg: str) -> int:
    print(f"perfbench: {msg}", file=sys.stderr)
    return 2


def main(argv=None) -> int:
    args = _parse(argv)
    # a terminated run still stops its JVM and removes its temp dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isdir(os.path.join(ROOT, "knowledgegraphsiqidis_spark")):
        return _fail(f"package knowledgegraphsiqidis_spark not found under "
                     f"{ROOT}; run from the root of a full checkout")
    sys.path.insert(0, ROOT)
    tmp = tempfile.mkdtemp(prefix=".perfbench-", dir=ROOT)
    import host
    host.isolate(ROOT, tmp)
    try:
        from workloads import WORKLOADS
        if args.workload not in WORKLOADS:
            return _fail(f"unknown workload {args.workload!r}; "
                         f"choose from {sorted(WORKLOADS)}")
        if args.record_pins:
            lo, hi = (int(x) for x in args.record_pins.split("-"))
            record_pins(WORKLOADS[args.workload], range(lo, hi + 1), tmp)
            return 0
        record, result = measure(WORKLOADS[args.workload], args, tmp)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    print(json.dumps(record, sort_keys=True))
    print(json.dumps(result))
    return 0


def _load_pins() -> dict:
    with open(PINS) as f:
        return json.load(f)


def _mismatches(got: dict, want: dict | None) -> list[str]:
    """Keys of ``got`` whose values differ from the pin (nested one level
    for the per-operator dict).  No pin recorded is a mismatch."""
    if want is None:
        return ["(no pin)"]
    bad = []
    for k, v in got.items():
        if isinstance(v, dict):
            bad += [f"{k}.{kk}" for kk, vv in v.items()
                    if (want.get(k) or {}).get(kk) != vv]
        elif want.get(k) != v:
            bad.append(k)
    return bad


def attempt(call, check, pin, cpu=lambda: 0.0):
    """Run one call and check its output: (seconds, CPU seconds as ``cpu``
    counts them, mismatches).  A call that raises is failed, with no
    latency."""
    try:
        c0 = cpu()
        dt = call()
        used = cpu() - c0
        return dt, used, _mismatches(check(), pin)
    except Exception:
        traceback.print_exc(file=sys.stderr)
        return None, None, ["raised"]


def record_pins(workload_cls, variants, tmp: str) -> None:
    """Record the pins of ``variants`` in one session: stored inputs,
    set-up outputs and one round of calls."""
    import host
    import spans

    pins = _load_pins() if os.path.exists(PINS) else {}
    spark = host.start_spark()
    try:
        for v in variants:
            w = workload_cls(spark, v, os.path.join(tmp, f"v{v}"))
            pin = w.record()
            pin.update(w.setup(spans.NullTracer()))
            for _, call, _, check in w.calls(spans.NullTracer()):
                call()
                for k, got in check().items():
                    if isinstance(got, dict):
                        pin.setdefault(k, {}).update(got)
                    elif pin.setdefault(k, got) != got:
                        raise SystemExit(f"variant {v}: {k} not repeatable")
            pins.setdefault(w.name, {})[str(v)] = pin
            print(f"{w.name} variant {v}: {json.dumps(pin)}", flush=True)
    finally:
        host.shutdown(spark)
    with open(PINS, "w") as f:
        json.dump(pins, f, indent=1, sort_keys=True)
        f.write("\n")


def measure(workload_cls, args, tmp: str):
    import host
    import spans
    from bench import host_calibration
    from stats import Calls
    from workloads import VARIANTS

    variant = args.seed % VARIANTS
    pin = _load_pins().get(workload_cls.name, {}).get(str(variant))
    calib_pre = host_calibration(reps=1)
    event_dir = os.path.join(tmp, "eventlog")
    conf = None
    if args.trace:
        os.makedirs(event_dir)
        conf = {"spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + event_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false"}
    t0 = time.perf_counter()
    spark = host.start_spark(conf)
    start_s = time.perf_counter() - t0
    rss = host.PeakRss(host.jvm_pid(spark)) if args.trace else None
    calls, problems = Calls(), []
    try:
        tracer = (spans.Tracer(spark.sparkContext) if args.trace
                  else spans.NullTracer())
        w = workload_cls(spark, variant, tmp)
        setup_out = w.setup(tracer)
        setup_s = time.perf_counter() - t0
        problems += [f"setup:{k}" for k in _mismatches(setup_out, pin)]
        if args.trace:
            w.trace_layers(tracer)
        work = 0.0
        per_call: dict[str, list[float]] = {}
        failed_s: dict[str, list] = {}
        rounds: list[float] = []  # one round = the workload's calls, once
        round_cpu: list[float] = []
        windows: list[tuple[int, int]] = []  # each call's wall, epoch ms
        jvm = host.jvm_pid(spark)
        t_loop = time.perf_counter()
        while time.perf_counter() - t_loop < args.seconds:
            rounds.append(0.0)
            round_cpu.append(0.0)
            for name, call, units, check in w.calls(tracer):
                dt, used, bad = attempt(_windowed(call, windows), check, pin,
                                        lambda: host.cpu_seconds(jvm))
                tracer.leave()
                if bad:
                    calls.fail()
                    failed_s.setdefault(name, []).append(dt)
                    problems += [f"{name}:{b}" for b in bad]
                    rounds[-1] = round_cpu[-1] = math.inf
                else:
                    calls.ok(dt)
                    work += units
                    per_call.setdefault(name, []).append(dt)
                    rounds[-1] += dt
                    round_cpu[-1] += used
        tracer.unwrap()
        layer_rows = {}
        if args.trace:
            problems += [f"after:{k}" for k in
                         _mismatches(w.after_rounds(tracer), pin)]
            layer_rows = w.layer_rows()
    finally:
        host.shutdown(spark)
        peak_rss_mb = rss.stop_mb() if rss else None
    calib_post = host_calibration(reps=1)

    ok_time = sum(x for v in per_call.values() for x in v)
    record = {"workload": w.name, "seed": args.seed, "variant": variant,
              "trace": args.trace, "host": host.stamp(ROOT),
              "calibration_s": [calib_pre, calib_post],
              "problems": problems, "failed_frac": calls.failed_frac,
              "call_s_p50": min(calls.p50(), 1e9), "tail": calls.tail(),
              "samples_s": per_call,
              "failed_s": failed_s, "work_per_s": work / ok_time
              if ok_time else 0.0, "work_unit": w.work_unit,
              "setup_phases_s": w.phases}
    if args.trace:
        metrics = layer_metrics(w, tracer, event_dir, layer_rows, per_call,
                                rounds, windows)
        metrics["session.start_s"] = (start_s, "s")
        metrics["session.peak_rss_mb"] = (peak_rss_mb, "MB")
        wall_frac = metrics["trace.span_wall_frac"][0]
        if abs(wall_frac - 1.0) > 0.05:
            problems.append(f"trace: layer spans sum to {wall_frac:.3f} of "
                            "the traced wall, not within 5%")
        stray = metrics["trace.unattributed_jobs"][0]
        if stray:
            problems.append(f"trace: {stray:g} jobs ran inside the calls "
                            "outside any layer's job group")
    else:
        metrics = {"setup_s": (setup_s, "s"),
                   "round_s": (min(statistics.median(rounds), 1e9), "s"),
                   "round_cpu_s": (min(statistics.median(round_cpu), 1e9),
                                   "s")}
    result = {"correct": not problems, "attempted": calls.attempted,
              "failed": calls.failed,
              "metrics": {k: {"value": v, "unit": u}
                          for k, (v, u) in metrics.items()}}
    return record, result


SPAN_UNITS = {"wall_s": "s", "jobs": "count", "tasks": "count",
              "task_s": "s", "cpu_s": "s", "gc_s": "s", "wait_s": "s",
              "busy_frac": "ratio", "shuffle_read_mb": "MB",
              "shuffle_write_mb": "MB", "spill_mb": "MB", "python_mb": "MB",
              "rows_out": "count", "failed_tasks": "count"}


def _windowed(call, windows: list):
    """``call``, appending its wall-clock window (epoch ms) to ``windows``."""
    def timed():
        t0 = time.time()
        try:
            return call()
        finally:
            windows.append((math.floor(t0 * 1e3),
                            math.ceil(time.time() * 1e3)))
    return timed


def layer_metrics(w, tracer, event_dir, layer_rows, per_call, rounds,
                  windows) -> dict:
    """Per-layer metrics of the traced run (BENCHMARK.json ``per_layer``).
    Layers the workload calls in its rounds report per round; layers of its
    set-up report totals; layers it does not run report 0."""
    import eventlog
    import host
    from workloads import OPS, SPAN_LAYERS

    (log,) = os.listdir(event_dir)
    path = os.path.join(event_dir, log)
    groups = eventlog.fold_file(path)
    zero = dict.fromkeys(eventlog.FIELDS, 0.0)
    n = len(rounds)
    out = {}
    for layer in SPAN_LAYERS:
        g = groups.get(layer, zero)
        scale = n if layer in w.layers else 1
        wall = tracer.wall.get(layer, 0.0) / scale
        for k in ("jobs", "tasks", "task_s", "cpu_s", "gc_s", "wait_s",
                  "shuffle_read_mb", "shuffle_write_mb", "spill_mb",
                  "python_mb", "failed_tasks"):
            out[f"{layer}.{k}"] = (g[k] / scale, SPAN_UNITS[k])
        out[f"{layer}.wall_s"] = (wall, "s")
        out[f"{layer}.busy_frac"] = (
            g["task_s"] / scale / (wall * host.cores()) if wall else 0.0,
            "ratio")
        out[f"{layer}.rows_out"] = (layer_rows.get(f"{layer}.rows_out", 0),
                                    "count")
    pairs = groups.get("resolve", zero)["udf_rows"] / n
    matches = layer_rows.get("resolve.matches", 0)
    out["resolve.pairs_scored"] = (pairs, "count")
    out["resolve.matches"] = (matches, "count")
    out["resolve.match_yield"] = (matches / pairs if pairs else 0.0, "ratio")
    for k, unit in (("scored_pairs", "count"), ("files_written", "count"),
                    ("bytes_written_mb", "MB"), ("batch_s", "s")):
        out[f"incremental.{k}"] = (layer_rows.get(f"incremental.{k}", 0), unit)
    for name in OPS:
        samples = per_call.get(name)
        out[f"{name}_s"] = (statistics.median(samples) if samples else 0.0,
                            "s")
        out[f"{name}_jobs"] = (groups.get(name, zero)["jobs"] / n, "count")
    traced = statistics.median(rounds)
    covered = sum(tracer.wall.get(l, 0.0) for l in w.layers) / n
    out["trace.round_s"] = (traced, "s")
    out["trace.span_wall_frac"] = (covered / traced, "ratio")
    out.update(attribution(eventlog.fold_file(path, windows), w.layers))
    return out


def attribution(inside: dict, layers) -> dict:
    """From the event log folded over the calls' windows: the share of task
    time that ran under a layer's job group, and the number of jobs that
    ran under any other group (the benchmark's own, or none)."""
    task_s = sum(g["task_s"] for g in inside.values())
    in_layers = sum(g["task_s"] for k, g in inside.items() if k in layers)
    return {"trace.span_coverage": (in_layers / task_s if task_s else 1.0,
                                    "ratio"),
            "trace.unattributed_jobs": (sum(
                g["jobs"] for k, g in inside.items() if k not in layers),
                "count")}


if __name__ == "__main__":
    sys.exit(main())

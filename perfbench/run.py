#!/usr/bin/env python3
"""Workload benchmark for godal_spark.

    python3 perfbench/run.py --workload geo_join --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. One client runs full pipeline passes of
the chosen workload back to back (closed loop) on `local[nproc / 2]`; the
inputs are generated from `--seed` and only their parquet files reach
the engine. Every pass's output is checked against a reference computed
without Spark and against the other passes' output digest.

`--trace 0` prints the end-to-end metrics. `--trace 1` runs the same
passes with the Spark event log on and prints the per-layer metrics
(see perfbench/LAYERS.md). The last stdout line is one JSON object with
`correct`, `attempted`, `failed` and `metrics`; the line before it holds
the details (pass quartiles, host window, per-pass checks).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import traceback
from statistics import median, quantiles

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_work")
RUN = os.path.join(WORK, f"run-{os.getpid()}")   # this run's files; removed at exit


OPS = ("tiling.with_block_grid", "pip.pip_join", "lineage.run_partitioned",
       "knn.knn_join", "warp.warp", "polygonize.sieve_tiles",
       "tiling.build_overviews", "tiling.cog_write", "dedup.exact_dedup",
       "dedup.minhash_lsh_dedup", "dedup.substring_duplicate_spans")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def cores() -> int:
    """Spark task slots: half the CPUs. A busy slot is a JVM task thread
    plus, in the Python UDFs, a worker process, and the passes are bound
    by the driver's job chains, which need a CPU of their own; with one
    slot per CPU the passes measured the scheduler (slower, and slower
    to warm up, on a 4-CPU host)."""
    return max(1, nproc() // 2)


def pin_environment() -> None:
    """Keep every file Spark, the JVM and Python write inside the work
    directory, and size the driver below this host's memory."""
    tmp = os.path.join(RUN, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(RUN, "spark-local")
    # spark-submit's launcher JVM, like the driver JVM below
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    with open("/proc/meminfo") as fh:
        total_mb = int(fh.readline().split()[1]) // 1024
    # the passes need well under 1 GB of heap, and a ceiling they reach
    # keeps the JVM's heap growth, most of peak_rss_mb, from wandering run
    # to run: with 2 GB, runs of one workload peaked at 1.5 or at 1.85 GB
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{min(1024, total_mb // 4)}m"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    sys.path[:0] = [ROOT, HERE]


def start_session(event_log: str | None):
    from godal_spark.plans.metrics import event_log_conf
    from godal_spark.session import get_spark

    extra = {
        "spark.local.dir": os.path.join(RUN, "spark-local"),
        "spark.driver.extraJavaOptions":
            "-Djava.net.preferIPv4Stack=true -XX:-UsePerfData "
            f"-Djava.io.tmpdir={os.path.join(RUN, 'tmp')}",
    }
    if event_log:
        extra.update(event_log_conf(event_log))
    n = cores()
    return get_spark("perfbench", cores=n, shuffle_partitions=n, extra=extra)


def stop_spark() -> None:
    """Stop Spark, then the driver JVM, and wait until it has exited."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = SparkContext._jvm = None


def quartiles(xs: list[float]) -> list[float]:
    if len(xs) < 2:
        return [xs[0]] * 3
    q = quantiles(xs, n=4)
    return [q[0], median(xs), q[2]]


def run_pass(wl, tag: str) -> dict:
    import workloads

    sink = os.path.join(RUN, "sink", tag)
    shutil.rmtree(sink, ignore_errors=True)  # run_partitioned resumes otherwise
    p = workloads.Pass(wl.spark, tag)
    out = {"sink_bytes": 0}
    try:
        with p:
            out = wl.run(p, sink)
        t0 = time.perf_counter()
        ok, digest, detail = wl.check(out)
        detail["check_s"] = time.perf_counter() - t0
    except Exception as e:  # a pass that raises, or cannot be checked, failed
        traceback.print_exc()
        ok, digest, detail = False, "", {"error": repr(e)}
    shutil.rmtree(sink, ignore_errors=True)
    return {"tag": tag, "ok": ok, "digest": digest, "detail": detail,
            "wall_s": p.t1 - p.t0, "t0": p.t0, "t1": p.t1, "ops": p.ops,
            "sink_bytes": out["sink_bytes"]}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "godal_spark")):
        print(f"perfbench: no godal_spark package under {ROOT}; run from a "
              "checkout of the repository", file=sys.stderr)
        return 2
    pin_environment()
    # a terminated run unwinds through the clean-up below like a failed one
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    try:
        return measure(args)
    finally:  # also on errors: leave no JVM or worker running, no files behind
        stop_spark()
        shutil.rmtree(RUN, ignore_errors=True)


def measure(args) -> int:
    import gen
    import host
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    Workload = workloads.WORKLOADS[args.workload]
    window_before = host.window()
    event_log = os.path.join(RUN, "eventlog")

    with host.RssSampler() as rss:
        # --- set-up: session start, input generation, untimed warm pass.
        # The references the checks compare against are built untimed.
        t0 = time.perf_counter()
        spark = start_session(event_log if args.trace else None)
        t_session = time.perf_counter() - t0
        t0 = time.perf_counter()
        inputs = gen.GENERATORS[args.workload](args.seed, os.path.join(RUN, "inputs"))
        t_inputs = time.perf_counter() - t0
        wl = Workload(spark, inputs)
        t0 = time.perf_counter()
        wl.reference()
        t_reference = time.perf_counter() - t0
        warm = run_pass(wl, "warm")
        setup = {"session_s": t_session, "inputs_s": t_inputs, "warm_s": warm["wall_s"],
                 "total_s": t_session + t_inputs + warm["wall_s"],
                 "reference_s": t_reference}

        # --- measured closed loop
        # A pass starts only if one more pass of the last one's length still
        # ends inside --seconds; the first always runs, a failed one ends the loop.
        passes = []
        deadline = time.perf_counter() + args.seconds
        while not passes or (passes[-1]["ok"] and
                             time.perf_counter() + passes[-1]["wall_s"] <= deadline):
            r = run_pass(wl, f"p{len(passes)}")
            r["ok"] = r["ok"] and r["digest"] == warm["digest"]
            passes.append(r)
        peak_rss = rss.peak_mb()

        kernel_rates = None
        if args.trace:
            import kernels
            kernel_rates = kernels.rates(args.workload, inputs)
        t0 = time.perf_counter()
        stop_spark()
        setup["stop_s"] = time.perf_counter() - t0
    window_after = host.window()

    good = [p for p in passes if p["ok"]]
    attempted, failed = len(passes), len(passes) - len(good)
    rates = [inputs.items / p["wall_s"] for p in good] or [0.0]
    details = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "nproc": nproc(), "cores": cores(), "passes": attempted,
        "items_per_pass": inputs.items, "item_unit": Workload.unit,
        "items_per_s_q1_med_q3": quartiles(rates),
        "setup": setup, "warm_ok": warm["ok"],
        "host_before": window_before, "host_after": window_after,
        "host_steal_frac": host.steal_frac(window_before, window_after),
        "checks": [dict(p["detail"], ok=p["ok"], wall_s=p["wall_s"]) for p in passes],
        "warm_op_wall_s": {op: v["wall_s"] for op, v in warm["ops"].items()},
        "op_wall_s": {op: median(p["ops"][op]["wall_s"] for p in good)
                      for op in (good[0]["ops"] if good else ())},
    }
    if args.trace:
        import eventlog
        log = eventlog.EventLog(event_log)
        metrics, repeats = layer_metrics(log, good or passes, [warm] + passes,
                                         setup["session_s"], kernel_rates)
        details["traced_items_per_s"] = median(rates)
        details["untraced_items_per_s"] = _last_untraced(args)
        details["counts_repeated_exactly"] = repeats
    else:
        metrics = {
            "items_per_s": {"value": median(rates), "unit": "items/s"},
            "setup_s": {"value": setup["total_s"], "unit": "s"},
            "peak_rss_mb": {"value": peak_rss, "unit": "MB"},
            "stored_per_input_byte": {
                "value": median(p["sink_bytes"] for p in passes) / inputs.input_bytes,
                "unit": "B/B"},
        }
        _save_untraced(args, median(rates))
    print(json.dumps(details))
    print(json.dumps({"correct": failed == 0 and warm["ok"], "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


def _untraced_path(args) -> str:
    return os.path.join(WORK, f"untraced-{args.workload}-s{args.seed}.json")


def _save_untraced(args, value: float) -> None:
    with open(_untraced_path(args), "w") as fh:
        json.dump({"items_per_s": value}, fh)


def _last_untraced(args):
    try:
        with open(_untraced_path(args)) as fh:
            return json.load(fh)["items_per_s"]
    except (OSError, ValueError, KeyError):
        return None


COUNT_KEYS = ("jobs", "stages", "stages_skipped", "tasks")


def layer_metrics(log, passes: list[dict], traced: list[dict], session_start_s: float,
                  kernel_rates: dict) -> tuple[dict, dict]:
    """Per-layer table: medians over the measured passes. `repeats` says
    which counts read the same on every traced pass, the warm one included."""
    import eventlog

    n = cores()

    def pass_stats(p):
        tag = p["tag"]
        match = (lambda g, t=tag: g.startswith(t + ":") and g != t + ":check")
        s = log.summary(match)
        wall = p["wall_s"]
        s["gap_s"] = max(wall - log.covered_s(match, p["t0"] * 1e3, p["t1"] * 1e3), 0.0)
        s["core_busy_frac"] = s["executor_run_s"] / (wall * n)
        ops = eventlog.ops_of(log, tag)
        return s, {op: dict(p["ops"].get(op, {}), **ops.get(op, {})) for op in OPS}

    stats = {p["tag"]: pass_stats(p) for p in traced}
    per_pass, per_op = zip(*(stats[p["tag"]] for p in passes))
    all_pass, all_op = zip(*stats.values())

    def med(key):
        return median(s[key] for s in per_pass)

    m = {"session.start_s": (session_start_s, "s"),
         "sources.input_rows": (med("input_rows"), "rows"),
         "sources.input_bytes": (med("input_bytes"), "bytes")}
    for k, v in kernel_rates.items():
        m[k] = (v, "Mpx/s" if "mpx" in k else "1/s")
    for op in OPS:
        for key, unit in (("wall_s", "s"), ("call_s", "s"), ("jobs", "count"),
                          ("stages", "count")):
            m[f"operators.{op}.{key}"] = (median(o[op].get(key, 0.0) for o in per_op), unit)
    m.update({
        "arrow.sent_bytes": (med(eventlog.PY_SENT), "bytes"),
        "arrow.returned_bytes": (med(eventlog.PY_RETURNED), "bytes"),
        "arrow.python_run_s": (med(eventlog.PY_RUN) / 1e3, "s"),
        "arrow.python_init_s": (med(eventlog.PY_START) / 1e3, "s"),
    })
    for key, unit in (("jobs", "count"), ("stages", "count"),
                      ("stages_skipped", "count"), ("tasks", "count"),
                      ("executor_run_s", "s"), ("executor_cpu_s", "s"), ("gc_s", "s"),
                      ("shuffle_write_bytes", "bytes"), ("shuffle_read_bytes", "bytes"),
                      ("spill_bytes", "bytes"), ("task_skew", "ratio"),
                      ("core_busy_frac", "ratio")):
        m[f"plans.{key}"] = (med(key), unit)
    m["driver.gap_s"] = (med("gap_s"), "s")
    m["driver.result_bytes"] = (med("result_bytes"), "bytes")

    repeats = {f"plans.{k}": len({s[k] for s in all_pass}) == 1 for k in COUNT_KEYS}
    for op in OPS:
        for k in ("jobs", "stages"):
            vals = {o[op].get(k) for o in all_op}
            if vals != {None}:
                repeats[f"operators.{op}.{k}"] = len(vals) == 1
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}, repeats


if __name__ == "__main__":
    sys.exit(main())

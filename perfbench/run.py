#!/usr/bin/env python3
"""Table-maintenance benchmark: one workload per run, one closed-loop client.

    python3 perfbench/run.py --workload compact_mor --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 10 --trace 0

Run from the repository root. Spark runs in-process as ``local[<cores>]``.
The workload's fixture is built several times and ``setup_s`` is the
median; the closed loop then runs for ``--seconds``. The last line of
standard output is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1``. A traced run also writes its spans
and a per-layer table under ``perfbench/traces/``.

Everything the run writes (tables, Spark local dirs, event log, temp
files) lives under one ``perfbench/.run-*`` directory, removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TRACES = os.path.join(HERE, "traces")
NAMES = ("compact_mor", "ingest_merge")
SETUPS = 3

#: end-to-end metric → unit (every workload reports each one)
E2E_UNITS = {
    "setup_s": "s",
    "op_p50_ms": "ms",
    "ops_per_s": "1/s",
    "scan_turns_per_s": "1/s",
    "bytes_per_live_turn": "B",
}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=NAMES + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="multiplies every fixture's row count (tests use a small one)")
    return ap.parse_args(argv)


def _raise_exit(signum, _frame):
    raise SystemExit(128 + signum)


def cores() -> int:
    return len(os.sched_getaffinity(0))


def cpu_ticks() -> list[int]:
    """The machine's CPU time counters (user … steal) from ``/proc/stat``;
    zeros where that file does not exist."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:9]]
    except OSError:
        return [0] * 8


def start_spark(tmp: str, trace: bool):
    dirs = {k: os.path.join(tmp, k) for k in ("local", "java", "python", "events")}
    for d in dirs.values():
        os.makedirs(d)
    # executors' Python workers import the package from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_LOCAL_DIRS"] = dirs["local"]  # takes precedence over the conf
    os.environ["TMPDIR"] = dirs["python"]
    # every JVM the launch starts (spark-submit's launcher too) keeps its
    # temp files and perf data inside the run directory
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={dirs['java']} -XX:-UsePerfData"
    tempfile.tempdir = None  # re-read TMPDIR

    from iceberg_compaction_spark.session import get_spark

    n = cores()
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{n}]",
        shuffle_partitions=n,
        extra_conf={
            "spark.driver.memory": "2g",
            "spark.local.dir": dirs["local"],
            "spark.sql.warehouse.dir": os.path.join(tmp, "spark-warehouse"),
            "spark.ui.showConsoleProgress": "false",
            "spark.eventLog.enabled": "true" if trace else "false",
            "spark.eventLog.dir": dirs["events"],
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark, dirs["events"]


def stop_spark(spark) -> None:
    """Stop the context, then the JVM it runs in, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def run_workload(args, tmp: str) -> dict:
    from perfbench import trace as trace_mod
    from perfbench.workloads import WORKLOADS

    phases = {}
    ticks0 = cpu_ticks()
    t_start = time.perf_counter()
    spark, events = start_spark(tmp, bool(args.trace))
    phases["spark_start"] = time.perf_counter() - t_start
    try:
        tracer = None
        if args.trace:
            tracer = trace_mod.Tracer(spark)
            tracer.install()
        wl = WORKLOADS[args.workload](spark, args.seed, args.scale, tmp, tracer)
        setup_s = []
        for _ in range(SETUPS):
            wl.drop_table()
            t0 = time.perf_counter()
            wl.setup()
            setup_s.append(time.perf_counter() - t0)
        for phase, fn in (("prepare", wl.prepare),
                          ("loop", lambda: wl.loop(args.seconds)),
                          ("finish", wl.finish)):
            t0 = time.perf_counter()
            fn()
            phases[phase] = time.perf_counter() - t0
        if tracer:
            tracer.uninstall()
    finally:
        t0 = time.perf_counter()
        stop_spark(spark)  # also closes the event log
        phases["spark_stop"] = time.perf_counter() - t0
    # CPU time the hypervisor gave to other guests: a noisy-neighbour gauge
    delta = [b - a for a, b in zip(ticks0, cpu_ticks())]
    steal_share = delta[7] / max(1, sum(delta))

    recs = wl.records
    out = {
        "workload": args.workload,
        "seed": args.seed,
        "attempted": len(recs),
        "failed": sum(1 for r in recs if not r["ok"]),
        "end_to_end": {"setup_s": statistics.median(setup_s), **wl.end_to_end()},
        "setup_runs_s": setup_s,
        "phases_s": phases,
        "steal_share": steal_share,
        "walls_s": {k: wl.walls(k) for k in dict.fromkeys(r["kind"] for r in recs)},
        # what every operation returned, where that is a checksum
        "op_log": [[r["kind"], list(r["out"]) if isinstance(r["out"], tuple) else None]
                   for r in recs],
        "detail": [
            *wl.op_detail(),
            *((k, v, u, n) for k, (v, u, n) in wl.detail.items()),
        ],
    }
    if tracer:
        by_op = {r["op_id"]: r for r in recs if "op_id" in r}
        for op in tracer.ops:
            rec = by_op[op["id"]]
            for key in ("wall", "cpu", "source_rows", "delta_depth"):
                op[key] = rec.get(key, 0)
        jobs = trace_mod.read_event_log(events)
        out["per_layer"] = trace_mod.layer_metrics(tracer, jobs, cores())
        os.makedirs(TRACES, exist_ok=True)
        stem = os.path.join(TRACES, f"{args.workload}-seed{args.seed}")
        tracer.write_spans(stem + ".spans.jsonl")
        with open(stem + ".json", "w") as f:
            json.dump(out, f, indent=1, sort_keys=True)
        with open(stem + ".layers.md", "w") as f:
            f.write(layer_table(out))
    return out


def layer_table(out: dict) -> str:
    from perfbench.trace import UNITS

    lines = [
        f"# {out['workload']} seed {out['seed']}: per-layer metrics (traced run)",
        "",
        "| metric | value | unit |",
        "| --- | ---: | --- |",
    ]
    lines += [f"| {k} | {v:.6g} | {UNITS[k]} |" for k, v in out["per_layer"].items()]
    lines += ["", "End-to-end metrics of the same traced run:", "",
              "| metric | value | unit |", "| --- | ---: | --- |"]
    lines += [f"| {k} | {v:.6g} | {E2E_UNITS[k]} |" for k, v in out["end_to_end"].items()]
    return "\n".join(lines) + "\n"


def report(out: dict, trace: bool) -> dict:
    """Print the human-readable lines; return the contract's JSON object."""
    from perfbench.trace import UNITS

    print(f"workload {out['workload']}  seed {out['seed']}  "
          f"attempted {out['attempted']}  failed {out['failed']}")
    print("  setup runs (s): " + " ".join(f"{s:.2f}" for s in out["setup_runs_s"]))
    print("  phases (s): " + " ".join(f"{k}={v:.2f}" for k, v in out["phases_s"].items())
          + f"  cpu steal {out['steal_share']:.1%}")
    for k, v in out["end_to_end"].items():
        print(f"  {k:<28} {v:>16.4f} {E2E_UNITS[k]}")
    print(f"  {'op_fail_ratio':<28} {out['failed'] / max(1, out['attempted']):>16.4f} ratio")
    for name, v, unit, n in out["detail"]:
        print(f"  {name:<28} {v:>16.4f} {unit}  (n={n})")
    if trace:
        metrics = {k: {"value": out["per_layer"][k], "unit": u} for k, u in UNITS.items()}
    else:
        metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in out["end_to_end"].items()}
    return {
        "correct": out["failed"] == 0,
        "attempted": out["attempted"],
        "failed": out["failed"],
        "metrics": metrics,
    }


def run_all(args) -> int:
    """Each workload in its own process; the last line sums them up."""
    merged = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for name in NAMES:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace), "--scale", str(args.scale)]
        with subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True) as proc:
            try:
                stdout, _ = proc.communicate()
            except BaseException:
                proc.terminate()  # SIGTERM, so the child still cleans up
                proc.wait()
                raise
        lines = stdout.strip().splitlines()
        print("\n".join(lines[:-1]), flush=True)
        if proc.returncode != 0 or not lines:
            merged["correct"] = False
            continue
        res = json.loads(lines[-1])
        merged["correct"] &= res["correct"]
        merged["attempted"] += res["attempted"]
        merged["failed"] += res["failed"]
        merged["metrics"].update({f"{name}.{k}": v for k, v in res["metrics"].items()})
    print(json.dumps(merged))
    return 0 if merged["correct"] else 1


def main(argv=None) -> int:
    args = parse_args(argv)
    signal.signal(signal.SIGTERM, _raise_exit)
    if args.workload == "all":
        return run_all(args)
    # the checkout root, not this directory: ``trace`` would shadow the
    # standard library module of that name
    sys.path[0] = ROOT
    import iceberg_compaction_spark  # noqa: F401  (fails fast outside a full checkout)

    tmp = tempfile.mkdtemp(prefix=".run-", dir=HERE)
    try:
        out = run_workload(args, tmp)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    result = report(out, bool(args.trace))
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())

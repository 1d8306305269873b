#!/usr/bin/env python3
"""graft benchmark: the CDC sink and the query surface, end to end.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a graft checkout. Workloads (see perfbench/LAYERS.md):

  sink_backfill  historical catch-up, one flush per 1000 blocks
  sink_live      live edge, one flush per block, a reader after each flush
  bank_mix       warm SparkEntry queries, each checked against DuckDB

The first run builds the program from source (perfbench/build.py) into
`$CARGO_TARGET_DIR` (default `.bench_build`). The last stdout line is one
JSON object: `correct`, `attempted`, `failed` and `metrics` — the
end-to-end metrics of BENCHMARK.json with `--trace 0`, its per-layer
metrics with `--trace 1`. The full record of every run (machine shape,
per-operation detail, spans, Spark jobs) is kept under
`<build dir>/records/`.
"""
import argparse
import glob
import json
import os
import shutil
import signal
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import oracle  # noqa: E402

WORKLOADS = ("sink_backfill", "sink_live", "bank_mix")
# Spark local[n] task threads (shuffle partitions = n), at most 2: the
# driver thread, JIT and GC get the other cores. The tasks are small (a
# 10k-row snapshot, SF 0.01 tables): on a 4-vCPU VM a third task thread made
# a live flush slower, not faster (median 3.07 s against 2.78 s).
THREADS = max(1, min(2, (os.cpu_count() or 1) - 1))
HEAP = "3g"
# C1 only: a run's JVM lives ~50 s, too short for C2 to finish compiling
# Spark, and C2 compile bursts competing with the task threads were the
# largest source of run-to-run spread; with C1 the set-up reaches a steady
# compiled state.
JIT = ["-XX:TieredStopAtLevel=1"]
BANK_SF = "0.01"
RUN_LIMIT_S = 170  # a run, build excluded, must finish within this


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    return 1


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()
    # a terminated run still kills and reaps the JVM (build.run_logged)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        return fail("no graft sources under src/main/scala; run from the root "
                    "of a graft checkout")
    try:
        with open(os.path.join(root, "BENCHMARK.json")) as f:
            spec = json.load(f)
    except (OSError, ValueError) as e:
        return fail(f"cannot read BENCHMARK.json: {e}")
    wanted = spec["per_layer" if a.trace else "end_to_end"]

    load_avg = os.getloadavg()
    probe_before = cpu_probe()
    build_dir = os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    os.makedirs(build_dir, exist_ok=True)
    try:
        classes = build.compile_classes(root, build_dir)
        data = build.ensure_data(root, build_dir, classes, BANK_SF)
        jars = build.spark_jars(root)
    except RuntimeError as e:
        return fail(str(e))

    started = time.time()
    work = os.path.join(build_dir, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out = os.path.join(work, "jvm.json")
    cmd = build.java_cmd(os.path.join(work, "tmp"), HEAP) + JIT + [
        "-cp", f"{classes}:{jars}/*", "graftbench.Main",
        a.workload, str(a.seed), str(a.seconds), str(a.trace), work, data,
        str(THREADS), out]
    log = os.path.join(work, "jvm.log")
    code = build.run_logged(cmd, log, RUN_LIMIT_S - 20)
    if code != 0 or not os.path.exists(out):
        with open(log, errors="replace") as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        return fail(f"benchmark JVM {'timed out' if code is None else f'exited {code}'}")
    with open(out) as f:
        rec = json.load(f)

    if a.workload == "bank_mix":
        detail = rec["detail"]
        for msg in oracle.check(data, detail["queries"], detail["oracle_sql"]):
            rec["failed"] += 1
            rec["failures"].append(f"oracle mismatch {msg}")
            print(f"perfbench: FAILED oracle mismatch {msg}", file=sys.stderr)
    rec["shape"].update({
        "load_avg_at_start": load_avg, "seed": a.seed, "seconds": a.seconds,
        "sf": BANK_SF if a.workload == "bank_mix" else None,
        "cpu_probe_s": [probe_before, cpu_probe()],
        "run_wall_s": time.time() - started})
    values = rec["per_layer" if a.trace else "end_to_end"]
    missing = [m["name"] for m in wanted if m["name"] not in values]
    if missing:
        return fail(f"the run produced no value for {missing}")
    if a.trace:
        rec["trace_overhead"] = overhead(build_dir, rec)
    save_record(build_dir, rec)
    shutil.rmtree(work, ignore_errors=True)

    print(json.dumps({
        "correct": rec["failed"] == 0,
        "attempted": rec["attempted"],
        "failed": rec["failed"],
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                    for m in wanted}}))
    return 0


def cpu_probe():
    """Seconds a fixed single-threaded loop takes (median of 3). Stored in
    the record so a slow run can be told apart from a slow host: on shared
    4-core boxes this moved by up to 1.8x within minutes."""
    ts = []
    for _ in range(3):
        t = time.perf_counter()
        s = 0
        for j in range(1500000):
            s += j * j
        ts.append(time.perf_counter() - t)
    return sorted(ts)[1]


def overhead(build_dir, rec):
    """Traced minus untraced end-to-end numbers, against the newest
    untraced record of the same workload and seed (None without one)."""
    same = []
    for p in glob.glob(os.path.join(build_dir, "records", "*.json")):
        with open(p) as f:
            r = json.load(f)
        if (r["workload"], r["shape"]["seed"], r["trace"]) == \
                (rec["workload"], rec["shape"]["seed"], False):
            same.append((os.path.getmtime(p), r))
    if not same:
        return None
    base = max(same, key=lambda t: t[0])[1]["end_to_end"]
    return {k: v - base[k] for k, v in rec["end_to_end"].items() if k in base}


def save_record(build_dir, rec):
    d = os.path.join(build_dir, "records")
    os.makedirs(d, exist_ok=True)
    name = "%s-%s-seed%d-trace%d.json" % (
        time.strftime("%Y%m%dT%H%M%S"), rec["workload"], rec["shape"]["seed"],
        int(rec["trace"]))
    with open(os.path.join(d, name), "w") as f:
        json.dump(rec, f)


if __name__ == "__main__":
    sys.exit(main())

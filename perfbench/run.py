#!/usr/bin/env python3
"""Medallion lakehouse benchmark: one run of one workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> \
        --trace <0|1>

Run from the repository root. The run builds the engine if needed
(`perfbench/build.py`), generates the workload's inputs from the seed before
any timer starts, runs the workload in one JVM on local[<all cores>], checks
the outputs against their oracles, removes everything it created, and prints
as its last line one JSON object: end-to-end metrics with `--trace 0`,
per-layer metrics with `--trace 1`. The line before it holds the facts that
qualify the metrics (sample counts, tail percentile, gates, cores).
Exit status is non-zero when a correctness gate fails.

`python3 perfbench/run.py --all` runs every workload once and prints each
end-to-end metric with its unit.
"""
import argparse
import functools
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gates  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402

ROOT = build.ROOT
WORKLOADS = ("medallion_rebuild", "incremental_refresh")
# An untimed JVM that overruns this is killed; the run must end in 180 s.
JVM_TIMEOUT_S = 150

OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def jvm(cp, run_dir, args):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java"] + OPENS +
           ["-Xms2g", "-Xmx2g", "-XX:ReservedCodeCacheSize=512m",
            "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            "-Dspark.callstack.depth=200",
            "-cp", cp, "perfbench.Main"] + args)
    log = os.path.join(run_dir, "jvm.log")
    with open(log, "w") as out:
        p = subprocess.Popen(cmd, cwd=ROOT, stdout=out,
                             stderr=subprocess.STDOUT)
        try:
            code = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            code = "timeout"
    if code != 0:
        with open(log) as f:
            sys.stderr.write(f.read()[-6000:])
        raise SystemExit(f"benchmark JVM failed ({code})")


def cpu_ticks():
    """Aggregate CPU tick counters of the host (Linux), or None."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return None


def steal_share(before, after):
    """Share of CPU time the hypervisor gave to other guests: the host
    noise behind run-to-run spread. None where it cannot be read."""
    if not before or not after or len(before) < 8:
        return None
    d = [b - a for a, b in zip(before, after)]
    return round(d[7] / sum(d), 4) if sum(d) > 0 else None


def run_gates(workload, rec):
    """{gate name: None | reason} on what the run left behind."""
    if workload == "medallion_rebuild":
        d = rec["gate_dir"]
        bronze = os.path.join(d, "bronze", "events.parquet")
        checks = {q: functools.partial(gates.oracle_gate, bronze,
                                       os.path.join(d, out), rec["oracles"][q])
                  for q, out in rec["gate_outputs"].items()}
        checks["ingest"] = functools.partial(gates.ingest_gate,
                                             rec["gate_raw"], bronze)
        return gates.run_all(checks, first=("pl5_trend_events", "mlprep_gbt"))
    actual = gates.read_spark(rec["gate_actual"])
    expected = gates.read_spark(rec["gate_expected"])
    return {"gold_equals_full_rebuild": gates.same(actual, expected)}


def run(workload, seed, seconds, trace):
    cp = build.build()
    run_dir = os.path.join(build.BUILD, "runs",
                           f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        inputs = os.path.join(run_dir, "input")
        manifest = gen.generate(workload, seed, inputs)
        out = os.path.join(run_dir, "record.json")
        ticks = cpu_ticks()
        jvm(cp, run_dir, ["--workload", workload, "--seconds", str(seconds),
                          "--trace", "1" if trace else "0",
                          "--input", inputs,
                          "--work", os.path.join(run_dir, "work"),
                          "--out", out])
        steal = steal_share(ticks, cpu_ticks())
        with open(out) as f:
            rec = json.load(f)
        checks = run_gates(workload, rec)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    attempted, failed, correct = metrics.account(rec, checks)
    if trace:
        values = metrics.per_layer(rec)
        kind = "per_layer"
        facts = {"time_shares": metrics.time_shares(rec)}
    else:
        values, facts = metrics.end_to_end(rec)
        kind = "end_to_end"
    detail = {
        "workload": workload, "seed": seed, "trace": int(trace),
        "cores": rec["cores"], "host_steal_share": steal, "failed_ratio":
            metrics.failure_ratio(attempted, failed),
        "gates": checks, "errors": rec["errors"],
        "input_rows": rec["input_rows"], "input_bytes": rec["input_bytes"],
        "inputs": manifest if workload == "medallion_rebuild" else {
            "history": manifest["history"],
            "batches": len(manifest["batches"])},
    }
    detail.update(facts)
    return detail, metrics.result_line(values, kind, correct, attempted,
                                       failed)


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float,
                    default=metrics.spec()["run_seconds"])
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--all", action="store_true",
                    help="run every workload once, untraced")
    a = ap.parse_args(argv)
    if a.all:
        ok = True
        for w in WORKLOADS:
            detail, line = run(w, a.seed, a.seconds, False)
            ok = ok and line["correct"]
            for n, m in line["metrics"].items():
                print(f"{w:22s} {n:18s} {m['value']:.4f} {m['unit']}")
            print(f"{w:22s} gates: {detail['gates']}")
        return 0 if ok else 1
    if a.workload is None:
        ap.error("--workload or --all is required")
    t0 = time.time()
    detail, line = run(a.workload, a.seed, a.seconds, bool(a.trace))
    detail["run_s"] = round(time.time() - t0, 2)
    print(json.dumps(detail))
    print(json.dumps(line))
    return 0 if line["correct"] else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))

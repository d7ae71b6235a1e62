"""Turns one run's raw samples into the benchmark's metrics.

End-to-end metrics (`--trace 0`) and per-layer metrics (`--trace 1`) are
named in BENCHMARK.json; `names()` reads them from there so the output and
the declaration cannot drift apart.
"""
import json
import os
import statistics

HERE = os.path.dirname(os.path.abspath(__file__))
SPEC = os.path.join(os.path.dirname(HERE), "BENCHMARK.json")

# A tail needs ten samples beyond it; at fewer than this many samples the
# highest such percentile would sit below the median.
MIN_TAIL_SAMPLES = 20

# The spans each workload's traced run records (metric name prefix).
LAYER_PREFIX = {"medallion_rebuild": "rebuild.",
                "incremental_refresh": "refresh."}


def spec():
    with open(SPEC) as f:
        return json.load(f)


def names(kind):
    return [m["name"] for m in spec()[kind]]


def units(kind):
    return {m["name"]: m["unit"] for m in spec()[kind]}


def tail(samples):
    """(value, percentile, n): the highest percentile with at least ten
    samples beyond it. None below MIN_TAIL_SAMPLES samples."""
    xs = sorted(samples)
    n = len(xs)
    if n < MIN_TAIL_SAMPLES:
        return None
    rank = n - 10  # 1-based; exactly ten samples lie above it
    return xs[rank - 1], 100.0 * rank / n, n


def failure_ratio(attempted, failed):
    if attempted < 1:
        raise ValueError("no operation was attempted")
    return failed / attempted


def account(rec, checks):
    """(attempted, failed, correct) of a run. An operation that threw is
    failed; a gate checks the state the last operation left, so any wrong
    gate is one more failed operation. A run is correct only with no
    failure and no error (a broken tracer self-check is an error)."""
    wrong = [k for k, v in checks.items() if v is not None]
    failed = rec["failed"] + (1 if wrong else 0)
    correct = failed == 0 and not rec["errors"]
    return rec["attempted"], failed, correct


def end_to_end(rec):
    """Every end-to-end metric of one untraced run, plus the facts that
    qualify them (sample counts, the tail's percentile)."""
    ops = rec["op_s"]
    t = tail(ops)
    values = {
        "setup_s": statistics.median(rec["setup_s"]),
        "op_s_p50": statistics.median(ops) if ops else None,
        "write_amp": rec["write_amp"],
        "heap_retained_mb": rec["heap_retained_mb"],
    }
    facts = {"op_samples": ops, "setup_samples": rec["setup_s"],
             "cold_setup_s": rec["cold_setup_s"],
             "op_s_tail": None if t is None else
             {"value": t[0], "percentile": round(t[1], 2), "samples": t[2]}}
    return values, facts


def per_layer(rec):
    """Every per-layer metric of one traced run. The record must carry
    exactly the declared metrics of its workload's spans; spans of the other
    workload read 0 (no work in that layer)."""
    declared = names("per_layer")
    values = {n: 0.0 for n in declared}
    own = {n for n in declared if n.startswith(LAYER_PREFIX[rec["workload"]])}
    got = set(rec["layers"])
    if got != own:
        raise KeyError(f"layer metrics not declared: {sorted(got - own)}; "
                       f"declared but missing: {sorted(own - got)}")
    values.update(rec["layers"])
    if rec["traced_op_s"] and rec["op_s"]:
        values["trace.overhead_s"] = (statistics.median(rec["traced_op_s"])
                                      - statistics.median(rec["op_s"]))
    else:
        values["trace.overhead_s"] = None
    return values


def time_shares(rec):
    """Where a traced operation's wall time goes, over the spans that
    record executor CPU: executor CPU per core and driver-only time (no
    job running), each as a share of the spans' wall time. None when no
    span records them."""
    la = rec["layers"]
    spans = [k[:-len(".wall_s")] for k in la if k.endswith(".wall_s")
             and k.replace(".wall_s", ".exec_cpu_s") in la]
    wall = sum(la[s + ".wall_s"] for s in spans)
    if wall <= 0:
        return None
    return {"exec_cpu_per_core": sum(la[s + ".exec_cpu_s"] for s in spans)
            / rec["cores"] / wall,
            "driver_only": sum(la[s + ".driver_s"] for s in spans) / wall}


def result_line(values, kind, correct, attempted, failed):
    u = units(kind)
    missing = [n for n in names(kind) if values.get(n) is None]
    if missing:
        raise ValueError(f"unmeasured metrics: {missing}")
    return {"correct": correct, "attempted": attempted, "failed": failed,
            "metrics": {n: {"value": values[n], "unit": u[n]}
                        for n in names(kind)}}

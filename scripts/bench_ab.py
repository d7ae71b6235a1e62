#!/usr/bin/env python3
"""Same-window interleaved A/B adjudication of flagged bench deltas.

Usage:
  bench_ab.py --base-ref REF --queries q1,q2 [options]
  bench_ab.py --base-ref REF --delta DELTA.json [options]

Options:
  --sf-dir DIR   fixture dir (default /root/testdata/sf0.1)
  --pairs N      base/head measurement pairs (default 2 -> order
                 base,head,head,base: each binary sees both early and
                 late slots, so monotone host drift cancels)
  --out OUT      artifact path (default BENCH_ab.json)

Round 9 burned four full-board runs and four hand-written hostcheck
files adjudicating a 14% monotone host drift. This script automates that
protocol: materialize the base ref in a git worktree, then time the
flagged queries through graft.Scratch (the one per-query dev harness)
ALTERNATELY on base and HEAD in ONE window. Cross-window deltas confound
code with host state; a same-window interleaved ratio does not. Each timed invocation runs
REPS=2 and keeps only the warm second rep (both sides pay first-run
codegen/JIT equally and it is discarded equally).

Only the `[scratch] run<N> <query>: <sec> s` prefix of a Scratch rep line
is read (SCRATCH_RE). Scratch has appended listener fields after it
(` run=… cpu=…`, later jobs/stages/tasks/shuffle/spill) and may append
more; the prefix is the contract that lets HEAD be timed against a base
ref from before any of them (scripts/test_bench_ab.py pins it).

The artifact records per-query base/head runs, medians, and the ratio,
plus a mechanical verdict per query:
  real-regression  ratio > 1.25 and the two sides' run ranges disjoint
  host-drift       anything else (including self-drift wider than the gap)
"""
import argparse
import json
import re
import statistics
import subprocess
import sys

REPO = "/root/repo"
SCRATCH_RE = re.compile(r"\[scratch\] run(\d+) (\S+): ([0-9.]+) s")


def sh(cmd, cwd=REPO, env=None):
    return subprocess.run(cmd, cwd=cwd, env=env, check=True,
                          capture_output=True, text=True)


def parse_scratch(stdout):
    """{query: seconds} from Scratch's stdout; later reps overwrite
    earlier ones, so the warm last rep survives."""
    return {m.group(2): float(m.group(3))
            for m in SCRATCH_RE.finditer(stdout)}


def scratch(workdir, queries, sf_dir, reps):
    """Run graft.Scratch in `workdir`; return {query: last-rep seconds}."""
    import os
    env = dict(os.environ)
    env.update({"SPARK_GRAFT_ONLY": ",".join(queries),
                "SPARK_GRAFT_REPS": str(reps),
                "SPARK_GRAFT_SF_DIR": sf_dir})
    r = subprocess.run(["sbt", "-batch", "runMain graft.Scratch"],
                       cwd=workdir, env=env, capture_output=True, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-2000:] + r.stderr[-2000:])
        raise SystemExit(f"Scratch failed in {workdir}")
    out = parse_scratch(r.stdout)
    missing = set(queries) - set(out)
    if missing:
        raise SystemExit(f"{workdir}: no timing for {sorted(missing)}")
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--base-ref", required=True)
    ap.add_argument("--queries")
    ap.add_argument("--delta")
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--pairs", type=int, default=2)
    ap.add_argument("--out", default="BENCH_ab.json")
    a = ap.parse_args()

    if a.queries:
        queries = [q.strip() for q in a.queries.split(",") if q.strip()]
    elif a.delta:
        # single-round regressions only: a cumulative-regression's legs
        # are under the bar, so this base ref structurally cannot confirm
        # it (see bench_delta's docstring) — adjudicate those explicitly
        # via --queries against the round-(N-2) ref instead
        with open(a.delta) as f:
            d = json.load(f)
        queries = [q for q in d.get("flagged", [])
                   if d["queries"][q].get("flag") == "regression"]
    else:
        raise SystemExit("need --queries or --delta")
    if not queries:
        print("nothing flagged as a regression; no A/B needed")
        with open(a.out, "w") as f:
            json.dump({"base_ref": a.base_ref, "queries": {},
                       "note": "no flagged regressions"}, f, indent=1)
        return 0

    import os
    import shutil
    sha = sh(["git", "rev-parse", "--short", a.base_ref]).stdout.strip()
    full_sha = sh(["git", "rev-parse", a.base_ref]).stdout.strip()
    base_dir = f"/tmp/graft_ab_{sha}"
    # decide by the DIRECTORY, not the worktree registry: a wiped /tmp
    # leaves a stale registration behind and a registry-only check would
    # then skip the add and crash in a nonexistent cwd. prune first so a
    # stale registration never blocks the re-add.
    # An EXISTING dir is only reused when it is a complete, clean checkout
    # of the requested sha: a run killed mid `git worktree add` (or a
    # hand-edited tree) would otherwise be silently timed as the base.
    if os.path.isdir(base_dir):
        try:
            head = sh(["git", "rev-parse", "HEAD"],
                      cwd=base_dir).stdout.strip()
            dirty = sh(["git", "status", "--porcelain"],
                       cwd=base_dir).stdout.strip()
            ok = head == full_sha and not dirty
        except Exception:
            ok = False
        if not ok:
            print(f"[ab] {base_dir} is stale/partial; recreating")
            subprocess.run(["git", "worktree", "remove", "--force",
                            base_dir], cwd=REPO, capture_output=True)
            shutil.rmtree(base_dir, ignore_errors=True)
    if not os.path.isdir(base_dir):
        sh(["git", "worktree", "prune"])
        sh(["git", "worktree", "add", "--detach", base_dir, a.base_ref])

    # untimed warm pass per side: pays the one-off sbt compile (base may
    # never have been built) and primes the OS file cache symmetrically
    print(f"[ab] warm base ({sha}) ...")
    scratch(base_dir, queries, a.sf_dir, 1)
    print("[ab] warm head ...")
    scratch(REPO, queries, a.sf_dir, 1)

    order, runs = [], []  # e.g. pairs=2 -> base,head,head,base
    for i in range(a.pairs):
        order += ["base", "head"] if i % 2 == 0 else ["head", "base"]
    for side in order:
        print(f"[ab] timed {side} ...")
        runs.append(scratch(base_dir if side == "base" else REPO,
                            queries, a.sf_dir, 2))

    result = {}
    for q in queries:
        b = [r[q] for r, s in zip(runs, order) if s == "base"]
        h = [r[q] for r, s in zip(runs, order) if s == "head"]
        bm, hm = statistics.median(b), statistics.median(h)
        ratio = hm / bm if bm > 0 else float("inf")
        disjoint = min(h) > max(b)  # head's best slower than base's worst
        result[q] = {
            "base_runs": [round(x, 4) for x in b],
            "head_runs": [round(x, 4) for x in h],
            "base_med": round(bm, 4), "head_med": round(hm, 4),
            "ratio": round(ratio, 3),
            "verdict": ("real-regression"
                        if ratio > 1.25 and disjoint else "host-drift"),
        }
        print(f"[ab] {q}: base={bm:.2f}s head={hm:.2f}s "
              f"ratio={ratio:.2f} -> {result[q]['verdict']}")

    out = {"protocol": "same-window interleaved A/B (hostcheck2, automated)",
           "base_ref": a.base_ref, "base_sha": sha, "sf": a.sf_dir,
           "runs_in_order": order, "queries": result}
    with open(a.out, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
    real = [q for q, v in result.items() if v["verdict"] == "real-regression"]
    print(f"[ab] {len(result)} adjudicated, {len(real)} real "
          f"regression(s){': ' + ', '.join(real) if real else ''} -> {a.out}")
    return 0


if __name__ == "__main__":
    sys.exit(main())

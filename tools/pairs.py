#!/usr/bin/env python3
"""Paired parent/change benchmark series over fresh git worktrees.

    python3 tools/pairs.py BASE CHANGE [--workload W ...] [--pairs N]
        [--seed-start S] [--root DIR] [--trace] [--json OUT]

Checks BASE and CHANGE out with `git worktree add --detach` under
--root, builds each once, then runs `perfbench/run.py` inside each
checkout, for BENCHMARK.json's `run_seconds`, in ABBA order: the pair for seed S runs BASE then CHANGE, the
pair for seed S+1 runs CHANGE then BASE, and so on. For every
end-to-end metric in BENCHMARK.json it prints each side's median and
interquartile range, the per-pair ratios CHANGE/BASE, their median, a
sign count (pairs where CHANGE is better / worse / equal, by the
metric's own direction), a 95 % bootstrap confidence interval of the
median ratio (pairs resampled with replacement, fixed seed) and a
verdict: "faster" ("better" for a metric not in seconds) when the whole
interval lies on the metric's better side of 1, "slower" ("worse") when
it lies on the other side, "equal" when every ratio is 1, otherwise
"unresolved". With --trace it also makes one traced run per side and
prints the counters only a code change moves (spark.jobs, spark.tasks)
and each side's per-stage seconds (the `*.s` metrics, e.g.
curation.03_clean.s). It gates nothing and exits 0 whenever every run
produced a result.

Fresh worktrees, never a copy of a built tree: sbt's incremental
compiler tracks absolute paths, and building a `cp -a` copy of an
already-built tree has deleted class files from the original's
target/. The worktrees are removed at the end.
"""
import argparse
import json
import os
import random
import statistics
import subprocess
import sys
import tempfile

COUNTERS = ("spark.jobs", "spark.tasks")
BOOTSTRAP_REPS = 4000


def git(*args, cwd=None):
    return subprocess.run(["git", *args], cwd=cwd, check=True, text=True,
                          stdout=subprocess.PIPE).stdout.strip()


def checkout(rev, path):
    git("worktree", "add", "--detach", path, rev)
    return git("rev-parse", "--short", "HEAD", cwd=path)


def build(tree):
    """Build once so that no timed series pays for sbt."""
    code = ("import sys; sys.path.insert(0, 'perfbench'); import run; "
            "run.classpath()")
    subprocess.run([sys.executable, "-c", code], cwd=tree, check=True)


def bench(tree, workload, seed, seconds, trace):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds),
           "--trace", str(int(trace))]
    p = subprocess.run(cmd, cwd=tree, text=True, stdout=subprocess.PIPE)
    if p.returncode != 0:
        sys.exit(f"pairs: run failed in {tree}: {' '.join(cmd)}")
    return json.loads(p.stdout.strip().splitlines()[-1])


def value(run, metric):
    return run["metrics"][metric]["value"]


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def bootstrap_ci(ratios):
    """95 % percentile-bootstrap interval of the median paired ratio."""
    rng = random.Random(0)
    meds = sorted(statistics.median(rng.choices(ratios, k=len(ratios)))
                  for _ in range(BOOTSTRAP_REPS))
    return meds[int(0.025 * BOOTSTRAP_REPS)], meds[int(0.975 * BOOTSTRAP_REPS) - 1]


def verdict(better, unit, ratios, ci):
    good, bad = ("faster", "slower") if unit == "s" else ("better", "worse")
    if ci is None:
        return "unresolved"
    if all(r == 1 for r in ratios):
        return "equal"
    lo, hi = ci
    if hi < 1 or lo > 1:
        return good if (hi < 1) == (better == "lower") else bad
    return "unresolved"


def summarize(metric, better, unit, base, change):
    """Side statistics, paired ratios, sign count, bootstrap interval and
    verdict of one metric."""
    ratios = [c / b if b else float("nan") for b, c in zip(base, change)]
    finite = [r for r in ratios if r == r]
    ci = bootstrap_ci(finite) if finite else None
    sign = {"better": 0, "worse": 0, "equal": 0}
    for b, c in zip(base, change):
        if c == b:
            sign["equal"] += 1
        elif (c < b) == (better == "lower"):
            sign["better"] += 1
        else:
            sign["worse"] += 1
    side = lambda xs: {"median": statistics.median(xs), "iqr": quartiles(xs),
                       "runs": xs}
    return {"metric": metric, "better": better, "base": side(base),
            "change": side(change), "ratios": ratios,
            "median_ratio": statistics.median(ratios), "sign": sign,
            "ci95": ci, "verdict": verdict(better, unit, ratios, ci)}


def fmt(x):
    return f"{x:.4g}" if isinstance(x, float) else str(x)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("base")
    ap.add_argument("change")
    ap.add_argument("--workload", action="append")
    ap.add_argument("--pairs", type=int, default=5)
    ap.add_argument("--seed-start", type=int, default=1)
    ap.add_argument("--root", help="scratch directory for the worktrees")
    ap.add_argument("--trace", action="store_true")
    ap.add_argument("--json", help="also write the report here")
    a = ap.parse_args()
    workloads = a.workload or ["icu_mortality_dense"]
    root = a.root or tempfile.mkdtemp(prefix="pairs-")
    os.makedirs(root, exist_ok=True)
    trees = {"base": os.path.join(root, "base"),
             "change": os.path.join(root, "change")}
    revs = {}
    try:
        for side, rev in (("base", a.base), ("change", a.change)):
            revs[side] = checkout(rev, trees[side])
            build(trees[side])
        with open(os.path.join(trees["base"], "BENCHMARK.json")) as f:
            spec = json.load(f)
        e2e, seconds = spec["end_to_end"], spec["run_seconds"]
        report = {"base": revs["base"], "change": revs["change"],
                  "workloads": {}}
        for w in workloads:
            runs = {"base": [], "change": []}
            for i in range(a.pairs):
                seed = a.seed_start + i
                order = ("base", "change") if i % 2 == 0 else ("change", "base")
                for side in order:
                    r = bench(trees[side], w, seed, seconds, False)
                    runs[side].append(r)
                    print(f"pairs: {w} seed {seed} {side}: cold_run_s="
                          f"{value(r, 'cold_run_s')} failed={r['failed']}",
                          file=sys.stderr)
            rows = [summarize(m["name"], m["better"], m["unit"],
                              [value(r, m["name"]) for r in runs["base"]],
                              [value(r, m["name"]) for r in runs["change"]])
                    for m in e2e if all(m["name"] in r["metrics"]
                                        for s in runs.values() for r in s)]
            failed = {s: sum(r["failed"] for r in rs) for s, rs in runs.items()}
            entry = {"pairs": a.pairs, "seeds": [a.seed_start, a.seed_start + a.pairs - 1],
                     "failed_ops": failed, "metrics": rows}
            if a.trace:
                entry["traced"] = {
                    side: {k: value(r, k) for k in r["metrics"]
                           if k in COUNTERS or k.endswith(".s")}
                    for side, r in ((s, bench(trees[s], w, a.seed_start, seconds, True))
                                    for s in ("base", "change"))}
            report["workloads"][w] = entry

            print(f"\n{w}: {revs['base']} (base) vs {revs['change']} (change), "
                  f"{a.pairs} ABBA pairs, seeds {entry['seeds'][0]}-{entry['seeds'][1]}, "
                  f"failed ops {failed}")
            print(f"{'metric':<18}{'base median [IQR]':<30}{'change median [IQR]':<30}"
                  f"{'median ratio':<14}{'95% CI':<18}{'verdict':<12}better/worse/equal")
            for r in rows:
                b, c = r["base"], r["change"]
                ci = (f"[{r['ci95'][0]:.3f}, {r['ci95'][1]:.3f}]" if r["ci95"] else "-")
                print(f"{r['metric']:<18}"
                      f"{fmt(b['median']) + ' [' + fmt(b['iqr'][0]) + ', ' + fmt(b['iqr'][1]) + ']':<30}"
                      f"{fmt(c['median']) + ' [' + fmt(c['iqr'][0]) + ', ' + fmt(c['iqr'][1]) + ']':<30}"
                      f"{r['median_ratio']:<14.4f}"
                      f"{ci:<18}{r['verdict']:<12}"
                      f"{r['sign']['better']}/{r['sign']['worse']}/{r['sign']['equal']}")
                print(f"{'':<18}ratios " + " ".join(f"{x:.3f}" for x in r["ratios"]))
            if a.trace:
                t = entry["traced"]
                print("traced pass: " + json.dumps(
                    {s: {k: t[s][k] for k in COUNTERS if k in t[s]} for s in t}))
                # the other workloads' stages read 0 on both sides
                stages = sorted(k for k in set(t["base"]) | set(t["change"])
                                if k.endswith(".s") and (t["base"].get(k) or t["change"].get(k)))
                print(f"{'stage seconds':<28}{'base':<10}change")
                for k in stages:
                    print(f"{k:<28}{fmt(t['base'].get(k, '-')):<10}"
                          f"{fmt(t['change'].get(k, '-'))}")
        if a.json:
            with open(a.json, "w") as f:
                json.dump(report, f, indent=1)
    finally:
        for t in trees.values():
            if os.path.isdir(t):
                git("worktree", "remove", "--force", t)


if __name__ == "__main__":
    main()

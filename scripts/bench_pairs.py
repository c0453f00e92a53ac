#!/usr/bin/env python3
"""Paired benchmark comparison of two revisions on one workload.

Usage (from inside the repository):

    scripts/bench_pairs.py --base HEAD~1 --change HEAD \
        --workload lake_queries --seeds 1-10 [--seconds 10] [--keep DIR] \
        [--json FILE]

Each revision is exported with `git archive` into its own temporary
directory, so neither the working tree nor `abrbench/` is touched. For
every seed the two sides run back to back (`python3 abrbench/run.py`),
the order alternating per seed (base first on odd pairs, change first on
even ones) so slow drift of the host falls on both sides equally. To
compare uncommitted work, stage it and pass `--change $(git stash create)`.

Prints, for every end-to-end metric in the change's BENCHMARK.json, the
median and quartiles of each side, the relative change of the medians,
how many pairs the change won (a pair is won when the change's value is
better in the metric's direction; ties count for neither side), whether
a gain may be claimed (at least nine tenths of the pairs won and the
medians further apart than the base's interquartile range), and the
no-regression gate against the metric's `bound`: `regressed` when the
change's median is worse than the base's by more than the bound,
`unresolved` when the base's IQR/median exceeds the bound (the runs
spread too widely to tell), `ok` otherwise. Also prints each side's
failed operation counts. Exits non-zero if a run fails.

With `--json FILE`, also records every run (seed, side, order within its
pair, end-to-end metrics, failed operations) and the printed summary
under `workloads.<workload>` in FILE, keeping the other workloads
already recorded there.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile


def export(rev, dest):
    """Write the tree of `rev` into `dest` with git archive."""
    os.makedirs(dest)
    archive = subprocess.run(["git", "archive", "--format=tar", rev],
                             stdout=subprocess.PIPE, check=True).stdout
    subprocess.run(["tar", "-x", "-C", dest], input=archive, check=True)


def run(tree, workload, seed, seconds):
    """One benchmark run in `tree`; returns its result object."""
    p = subprocess.run(
        [sys.executable, "abrbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=tree, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    lines = [l for l in p.stdout.splitlines() if l.startswith("{")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stderr[-4000:])
        sys.exit(f"bench_pairs: run failed in {tree} (seed {seed})")
    return json.loads(lines[-1])


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--base", required=True, help="parent revision")
    ap.add_argument("--change", required=True, help="changed revision")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10", help="e.g. 1-10 or 7")
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--keep", help="export into this directory and keep it")
    ap.add_argument("--json", help="record every run and the summary here")
    a = ap.parse_args()

    root = a.keep or tempfile.mkdtemp(prefix="bench_pairs_")
    trees = {side: os.path.join(root, side) for side in ("base", "change")}
    try:
        for side, rev in (("base", a.base), ("change", a.change)):
            if not os.path.isdir(trees[side]):
                export(rev, trees[side])
        with open(os.path.join(trees["change"], "BENCHMARK.json")) as f:
            metrics = {m["name"]: (m["better"], m["bound"])
                       for m in json.load(f)["end_to_end"]}
        results = {"base": [], "change": []}
        runs = []
        for i, seed in enumerate(seeds(a.seeds)):
            order = ("base", "change") if i % 2 == 0 else ("change", "base")
            for pos, side in enumerate(order, 1):
                r = run(trees[side], a.workload, seed, a.seconds)
                results[side].append(r)
                runs.append({"seed": seed, "side": side, "order": pos,
                             "metrics": {k: r["metrics"][k]["value"]
                                         for k in metrics},
                             "failed": r["failed"]})
                print(f"seed {seed} {side}: " + json.dumps(
                    {k: v["value"] for k, v in r["metrics"].items()}),
                    file=sys.stderr, flush=True)
    finally:
        if not a.keep:
            shutil.rmtree(root, ignore_errors=True)

    n = len(results["base"])
    summary = [
        f"{a.workload}: {n} pairs, base {a.base}, change {a.change}",
        f"{'metric':28} {'base q1/med/q3':>30} {'change q1/med/q3':>30}"
        f" {'d_med':>8} {'wins':>6} gain gate"]
    for name, (direction, bound) in metrics.items():
        b = [r["metrics"][name]["value"] for r in results["base"]]
        c = [r["metrics"][name]["value"] for r in results["change"]]
        bq, cq = quartiles(b), quartiles(c)
        sign = -1 if direction == "lower" else 1
        wins = sum(1 for x, y in zip(b, c) if sign * (y - x) > 0)
        rel = (cq[1] - bq[1]) / bq[1] if bq[1] else 0.0
        gain = wins >= 0.9 * n and abs(cq[1] - bq[1]) > bq[2] - bq[0]
        spread = (bq[2] - bq[0]) / bq[1] if bq[1] else 0.0
        gate = [label for label, hit in (("regressed", -sign * rel > bound),
                                         ("unresolved", spread > bound)) if hit]
        summary.append(
            f"{name:28} {'%.4g / %.4g / %.4g' % bq:>30} "
            f"{'%.4g / %.4g / %.4g' % cq:>30} {rel:+8.1%} {wins:>3}/{n}"
            f" {'yes ' if gain else 'no  '} {','.join(gate) or 'ok'}")
    for side in ("base", "change"):
        failed = [r["failed"] for r in results[side]]
        summary.append(f"{side} failed per run: {failed}")
    print("\n".join(summary))
    if a.json:
        record(a, runs, summary)


def record(a, runs, summary):
    """Merge this workload's runs and summary into the JSON file."""
    doc = {"workloads": {}}
    if os.path.exists(a.json):
        with open(a.json) as f:
            doc = json.load(f)
    cores = os.cpu_count()
    with open("/proc/meminfo") as f:
        kib = int(next(l for l in f if l.startswith("MemTotal:")).split()[1])
    doc["host"] = f"{cores}-core, {kib / 2**20:.0f} GiB"
    doc["command"] = (f"scripts/bench_pairs.py --base {a.base} --change "
                      f"{a.change} --workload <w> --seeds <s> --seconds "
                      f"{a.seconds} ({a.seconds} s runs, alternating order)")
    doc["workloads"][a.workload] = {"seeds": a.seeds, "runs": runs,
                                    "summary": summary}
    with open(a.json, "w") as f:
        json.dump(doc, f, indent=1)
        f.write("\n")

if __name__ == "__main__":
    main()

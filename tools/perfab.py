#!/usr/bin/env python3
"""Paired A/B of the benchmark: a parent revision against the working tree.

    python3 tools/perfab.py --parent <rev> --workload <name> --seeds 401-410

Run from the root of the checkout. The parent's committed files are
extracted (git archive) under .bench_build/perfab/<sha>, so each side
builds into its own target/ and switching sides recompiles nothing. For
each seed the script runs perfbench/run.py once per side, alternating
which side goes first (run length from BENCHMARK.json's run_seconds,
untraced), and prints:

  - each pair's end-to-end metrics, parent -> change, and its failed and
    attempted operations per side, flagged when the change's failed share
    is larger than the parent's;
  - each side's median and quartiles per metric;
  - each side's failed and attempted operations summed over all pairs;
  - per metric, the pairs the change won (ties count for neither side),
    whether the gain rule holds (won >= 9/10 of the pairs and the medians
    differ by more than the parent's quartile spread), and whether the
    change's median is within the metric's regression bound.

Metric names, directions and bounds come from BENCHMARK.json's
end_to_end list. Nothing is written under perfbench/.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.getcwd()


def seeds(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += range(int(lo), int(hi or lo) + 1)
    return out


def parent_tree(rev):
    sha = subprocess.run(["git", "rev-parse", "--verify", rev + "^{commit}"], cwd=ROOT,
                         check=True, capture_output=True, text=True).stdout.strip()
    d = os.path.join(ROOT, ".bench_build", "perfab", sha[:12])
    if not os.path.isfile(os.path.join(d, "build.sbt")):
        os.makedirs(d, exist_ok=True)
        archive = subprocess.Popen(["git", "archive", sha], cwd=ROOT, stdout=subprocess.PIPE)
        subprocess.run(["tar", "-x", "-C", d], stdin=archive.stdout, check=True)
        if archive.wait() != 0:
            sys.exit(f"perfab: git archive {sha} failed")
    return d


def run(side, root, workload, seconds, seed):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", "0"]
    p = subprocess.run(cmd, cwd=root, capture_output=True, text=True)
    lines = [l for l in p.stdout.splitlines() if l.startswith("{")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stderr[-2000:])
        sys.exit(f"perfab: {side} seed {seed} exited {p.returncode}")
    return json.loads(lines[-1])


def value(res, name):
    m = res["metrics"].get(name)
    return None if m is None else m["value"]


def failed_share(res):
    return res["failed"] / res["attempted"] if res["attempted"] else 0.0


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--parent", required=True, help="revision to compare against, e.g. HEAD")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 401-410 or 7,11,13")
    a = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    metrics = bench["end_to_end"]
    sides = {"parent": parent_tree(a.parent), "change": ROOT}

    pairs = []
    for i, seed in enumerate(seeds(a.seeds)):
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        pair = {}
        for side in order:
            pair[side] = run(side, sides[side], a.workload, bench["run_seconds"], seed)
        pairs.append((seed, pair))
        shown = " ".join(
            f"{m['name']}={value(pair['parent'], m['name']):.4g}->{value(pair['change'], m['name']):.4g}"
            for m in metrics
            if value(pair["parent"], m["name"]) is not None
            and value(pair["change"], m["name"]) is not None)
        ok = all(pair[s]["correct"] for s in pair)
        failed = "->".join(f"{pair[s]['failed']}/{pair[s]['attempted']}" for s in ("parent", "change"))
        flag = " MORE-FAILED" if failed_share(pair["change"]) > failed_share(pair["parent"]) else ""
        print(f"pair seed={seed} first={order[0]} correct={ok} failed={failed}{flag} {shown}",
              flush=True)

    print(f"\n{len(pairs)} pairs, {a.workload}, --seconds {bench['run_seconds']}")
    print(f"{'metric':<40} {'parent median [q1, q3]':>28} {'change median [q1, q3]':>28}"
          f" {'won':>6} {'gain':>5} {'bound':>6}")
    all_within = True
    for m in metrics:
        name, lower = m["name"], m["better"] == "lower"
        got = [(value(p["parent"], name), value(p["change"], name)) for _, p in pairs]
        got = [(x, y) for x, y in got if x is not None and y is not None]
        if not got:
            continue
        par, chg = [x for x, _ in got], [y for _, y in got]
        pm, cm = statistics.median(par), statistics.median(chg)
        (p1, p3), (c1, c3) = quartiles(par), quartiles(chg)
        won = sum(1 for x, y in got if (y < x if lower else y > x))
        gain = won >= 0.9 * len(got) and abs(cm - pm) > p3 - p1
        within = "-"
        if "bound" in m:
            worse = (cm - pm) if lower else (pm - cm)
            ok = pm == 0 or worse <= m["bound"] * abs(pm)
            all_within &= ok
            within = "ok" if ok else "WORSE"
        print(f"{name:<40} {pm:>10.4g} [{p1:.4g}, {p3:.4g}]".ljust(69)
              + f" {cm:>10.4g} [{c1:.4g}, {c3:.4g}]".ljust(29)
              + f" {won:>2}/{len(got):<3} {'yes' if gain else 'no':>5} {within:>6}")
    for side in ("parent", "change"):
        f = sum(p[side]["failed"] for _, p in pairs)
        n = sum(p[side]["attempted"] for _, p in pairs)
        print(f"{side} failed/attempted: {f}/{n}")
    correct = all(p[s]["correct"] for _, p in pairs for s in p)
    print(f"every run correct: {correct}; every bounded metric within its bound: {all_within}")


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Paired comparison of two commits on the benchmark.

    python3 perfbench/compare.py run --parent <checkout> --change <checkout> \\
        --workload <name> [--out pairs.json]
    python3 perfbench/compare.py judge pairs.json
    python3 perfbench/compare.py self-test

`run` makes 10 pairs. It alternates which side goes first in each pair,
gives both sides of a pair the same seed, and uses this checkout's
BENCHMARK.json for the run length. When a run fails it stops, keeps the
pairs measured so far in the output file, and names the failing side and
seed. `judge` then applies, per end-to-end metric:

  * the gain rule: the change wins at least 9 in 10 of all pairs (ties
    count for neither side) and the medians differ, in the better
    direction, by more than the parent's interquartile range;
  * the no-regression rule: the change's median is no worse than the
    parent's by more than the metric's bound. Where either side's
    interquartile range, as a share of its median, exceeds the bound, the
    verdict is "unresolved" unless every change run beats every parent run.

A count made by the program is never reported here as a speed-up.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
PAIRS = 10


def load_spec():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        return json.load(f)


def iqr(values):
    q = statistics.quantiles(values, n=4)
    return q[2] - q[0]


def judge_metric(parent, change, better, bound):
    """Verdict for one metric on one workload from paired samples."""
    sign = 1 if better == "lower" else -1
    wins = sum(1 for p, c in zip(parent, change) if sign * (p - c) > 0)
    losses = sum(1 for p, c in zip(parent, change) if sign * (c - p) > 0)
    mp, mc = statistics.median(parent), statistics.median(change)
    gap = sign * (mp - mc)  # > 0: the change is better
    gain = wins >= 0.9 * len(parent) and gap > iqr(parent)
    worse_by = -gap / mp if mp else 0.0
    spread = max(iqr(parent) / mp, iqr(change) / mc) if mp and mc else float("inf")
    all_better = all(sign * (p - c) > 0 for p in parent for c in change)
    if worse_by > bound:
        regression = "regression"
    elif spread > bound and not all_better:
        regression = "unresolved"
    else:
        regression = "no regression"
    return {"pairs": len(parent), "wins": wins, "losses": losses,
            "parent_median": mp, "change_median": mc, "parent_iqr": iqr(parent),
            "spread": spread, "gain": gain, "regression": regression}


def judge(doc, spec):
    metrics = {m["name"]: m for m in spec["end_to_end"]}
    out = {}
    for name, m in metrics.items():
        p = [pair["parent"][name] for pair in doc["pairs"]]
        c = [pair["change"][name] for pair in doc["pairs"]]
        out[name] = judge_metric(p, c, m["better"], m["bound"])
    return out


def print_verdicts(workload, verdicts):
    for name, v in verdicts.items():
        print(f"{workload:<10} {name:<16} parent {v['parent_median']:.4f} (IQR {v['parent_iqr']:.4f})"
              f"  change {v['change_median']:.4f}  wins {v['wins']}/{v['pairs']}"
              f"  {'GAIN' if v['gain'] else 'no gain'}  {v['regression']}")


def run_once(checkout, workload, seed, seconds):
    """One untraced run: (metric values, None), or (None, why it failed)."""
    r = subprocess.run(["python3", "perfbench/run.py", "--workload", workload, "--seed", str(seed),
                        "--seconds", str(seconds), "--trace", "0"],
                       cwd=checkout, capture_output=True, text=True)
    lines = r.stdout.strip().splitlines()
    try:
        last = json.loads(lines[-1])
    except (IndexError, ValueError):  # no result line: the run could not run
        err = r.stderr.strip().splitlines()
        return None, f"exit {r.returncode}, no result: {err[-1] if err else 'no message'}"
    if r.returncode != 0 or not last["correct"]:
        return None, f"exit {r.returncode}, {last['failed']} of {last['attempted']} operations failed"
    return {k: v["value"] for k, v in last["metrics"].items()}, None


def cmd_run(a, spec):
    seconds = spec["run_seconds"]
    pairs, failure = [], None
    for i in range(PAIRS):
        seed = 1000 + i
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        pair = {"seed": seed, "first": order[0]}
        for side in order:
            pair[side], why = run_once(getattr(a, side), a.workload, seed, seconds)
            if why:
                failure = f"{side} ({getattr(a, side)}), seed {seed}: {why}"
                break
        if failure:
            break
        pairs.append(pair)
        print(f"pair {i}: seed {seed}, {order[0]} first", file=sys.stderr)
    doc = {"workload": a.workload, "seconds": seconds, "pairs": pairs}
    if failure:
        doc["failure"] = failure
    with open(a.out, "w") as f:
        json.dump(doc, f, indent=1)
    if failure:
        sys.exit(f"run failed after {len(pairs)} complete pairs (kept in {a.out}): {failure}")
    print_verdicts(a.workload, judge(doc, spec))


def self_test():
    """The rules on synthetic samples whose verdict is known."""
    import random
    rnd = random.Random(7)

    def noisy(base, rel, n=10):
        return [base * (1 + rnd.uniform(-rel, rel)) for _ in range(n)]

    cases = [
        ("clear gain", noisy(1.0, 0.02), noisy(0.8, 0.02), True, "no regression"),
        ("no change", noisy(1.0, 0.02), noisy(1.0, 0.02), False, "no regression"),
        ("regression", noisy(1.0, 0.02), noisy(1.3, 0.02), False, "regression"),
        ("too noisy", noisy(1.0, 0.6), noisy(1.0, 0.6), False, "unresolved"),
        ("8 of 10 wins", [1.0] * 10, [0.8] * 8 + [1.1] * 2, False, "no regression"),
    ]
    ok = True
    for name, parent, change, gain, regression in cases:
        v = judge_metric(parent, change, "lower", 0.1)
        good = v["gain"] == gain and v["regression"] == regression
        ok &= good
        print(f"{'ok  ' if good else 'FAIL'} {name}: gain {v['gain']}, {v['regression']}")
    # higher-is-better metrics flip the direction
    v = judge_metric(noisy(100, 0.02), noisy(130, 0.02), "higher", 0.1)
    ok &= v["gain"] and v["regression"] == "no regression"
    print(f"{'ok  ' if v['gain'] else 'FAIL'} higher is better: gain {v['gain']}")
    sys.exit(0 if ok else 1)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run")
    r.add_argument("--parent", required=True)
    r.add_argument("--change", required=True)
    r.add_argument("--workload", required=True)
    r.add_argument("--out", default="pairs.json")
    j = sub.add_parser("judge")
    j.add_argument("file")
    sub.add_parser("self-test")
    a = ap.parse_args()
    if a.cmd == "self-test":
        self_test()
    spec = load_spec()
    if a.cmd == "run":
        cmd_run(a, spec)
    else:
        with open(a.file) as f:
            doc = json.load(f)
        if "failure" in doc:
            print(f"incomplete series, {len(doc['pairs'])} pairs: {doc['failure']}")
        print_verdicts(doc["workload"], judge(doc, spec))


if __name__ == "__main__":
    main()

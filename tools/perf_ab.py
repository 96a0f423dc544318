#!/usr/bin/env python3
"""A/B the repository benchmark between two checkouts, in alternating pairs.

Usage, from anywhere:

    python3 tools/perf_ab.py --parent ../base --change . --workload curation_text \
        --seeds 11-20 [--out runs.jsonl]
    python3 tools/perf_ab.py --report runs.jsonl
    python3 tools/perf_ab.py --self-test

Each seed is one pair: `python3 perfbench/run.py` runs once in each
checkout, untraced and for the `run_seconds` of the change's
BENCHMARK.json, the parent first on even pair numbers and the change
first on odd ones, so slow drift of the machine lands on both sides. Every run's
result JSON is appended to --out as it lands, so a cut session keeps its
pairs; --report prints the table again from that file.

The table has one row per end-to-end metric of that BENCHMARK.json
(this repository's, for --report): median [q1-q3] of each side, the change/parent ratio of
the medians, the pairs the change won, and the pairs-rule verdict. A
claim is met when the change wins at least 9 of every 10 pairs and its
median beats the parent's by more than the parent's interquartile range.
`bound` flags a median that is worse than the parent's by more than the
metric's bound. Standard library only.
"""
import argparse
import json
import math
import subprocess
import sys
from pathlib import Path


def quartiles(xs):
    """(q1, median, q3), linearly interpolated between order statistics."""
    s = sorted(xs)
    def at(p):
        pos = p * (len(s) - 1)
        lo = math.floor(pos)
        hi = min(lo + 1, len(s) - 1)
        return s[lo] + (pos - lo) * (s[hi] - s[lo])
    return at(0.25), at(0.5), at(0.75)


def compare(parent, change, better, bound=None):
    """Pairs-rule figures for one metric; parent[i] and change[i] are pair i."""
    assert len(parent) == len(change) and parent, "need matched pairs"
    sign = 1.0 if better == "lower" else -1.0
    p1, pm, p3 = quartiles(parent)
    _, cm, _ = quartiles(change)
    won = sum(1 for p, c in zip(parent, change) if sign * (p - c) > 0)
    gap = sign * (pm - cm)
    met = won * 10 >= 9 * len(parent) and gap > p3 - p1
    over = bound is not None and pm != 0 and -gap / abs(pm) > bound
    return {"won": won, "pairs": len(parent), "ratio": cm / pm if pm else float("nan"),
            "gap": gap, "parent_iqr": p3 - p1, "met": met, "over_bound": over}


def run_once(checkout, workload, seed, seconds):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", "0"]
    p = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                       text=True)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines:
        raise SystemExit(f"{checkout}: run failed (exit {p.returncode}) for seed {seed}")
    return json.loads(lines[-1])


def seeds_of(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def fmt(x):
    return f"{x:.4g}"


def report(records, metrics):
    pairs = {}
    for r in records:
        pairs.setdefault((r["workload"], r["seed"]), {})[r["side"]] = r
    by_workload = {}
    for (w, seed), sides in sorted(pairs.items()):
        if "parent" in sides and "change" in sides:
            by_workload.setdefault(w, []).append(sides)
    print("| workload | metric | parent | change | ratio | change won | verdict |")
    print("|---|---|---|---|---|---|---|")
    for w, ps in by_workload.items():
        wrong = sum(1 for s in ps for side in s.values() if not side["result"]["correct"])
        for m in metrics:
            name = m["name"]
            vals = [(s["parent"]["result"]["metrics"][name]["value"],
                     s["change"]["result"]["metrics"][name]["value"]) for s in ps]
            par, chg = [v[0] for v in vals], [v[1] for v in vals]
            c = compare(par, chg, m["better"], m.get("bound"))
            q = [quartiles(par), quartiles(chg)]
            verdict = "claim met" if c["met"] else "not met"
            if c["over_bound"]:
                verdict += ", OVER BOUND"
            print(f"| {w} | {name} | {fmt(q[0][1])} [{fmt(q[0][0])}–{fmt(q[0][2])}] | "
                  f"{fmt(q[1][1])} [{fmt(q[1][0])}–{fmt(q[1][2])}] | {c['ratio']:.3f} | "
                  f"{c['won']}/{c['pairs']} | {verdict} |")
        print(f"\n{w}: {len(ps)} pairs, {wrong} runs with a wrong output\n", file=sys.stderr)


def self_test():
    assert quartiles(list(range(1, 11))) == (3.25, 5.5, 7.75)
    assert quartiles([4.0]) == (4.0, 4.0, 4.0)
    parent = [10, 11, 12, 13, 14, 10, 11, 12, 13, 14]  # median 12, IQR 13 - 11 = 2
    assert quartiles(parent) == (11, 12, 13)
    gain = compare(parent, [p - 3 for p in parent], "lower")
    assert gain["won"] == 10 and gain["gap"] == 3 and gain["met"], gain
    small = compare(parent, [p - 1 for p in parent], "lower")  # wins all, gap 1 < IQR 2
    assert small["won"] == 10 and not small["met"], small
    eight = compare(parent, [p - 3 for p in parent[:8]] + parent[8:], "lower")
    assert eight["won"] == 8 and not eight["met"], eight
    nine = compare(parent, [p - 3 for p in parent[:9]] + parent[9:], "lower")
    assert nine["won"] == 9 and nine["met"], nine
    higher = compare([1.0] * 10, [1.0] * 10, "higher", bound=0.01)  # ties win nothing
    assert higher["won"] == 0 and not higher["met"] and not higher["over_bound"], higher
    worse = compare(parent, [p * 1.3 for p in parent], "lower", bound=0.25)
    assert worse["over_bound"] and not worse["met"], worse
    assert seeds_of("11-13,20") == [11, 12, 13, 20]
    print("perf_ab self-test passed")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--parent", type=Path)
    ap.add_argument("--change", type=Path)
    ap.add_argument("--workload")
    ap.add_argument("--seeds", default="11-20")
    ap.add_argument("--out", type=Path)
    ap.add_argument("--report", type=Path)
    ap.add_argument("--self-test", action="store_true")
    a = ap.parse_args()
    if a.self_test:
        return self_test()
    bench = json.loads(((a.change or Path(__file__).resolve().parent.parent)
                        / "BENCHMARK.json").read_text())
    metrics = bench["end_to_end"]
    if a.report:
        return report([json.loads(l) for l in a.report.read_text().splitlines() if l.strip()],
                      metrics)
    if not (a.parent and a.change and a.workload):
        ap.error("--parent, --change and --workload are required to run pairs")
    records = []
    for i, seed in enumerate(seeds_of(a.seeds)):
        order = [("parent", a.parent), ("change", a.change)]
        for side, checkout in (order if i % 2 == 0 else order[::-1]):
            rec = {"workload": a.workload, "seed": seed, "side": side, "parent_first": i % 2 == 0,
                   "result": run_once(checkout, a.workload, seed, bench["run_seconds"])}
            records.append(rec)
            if a.out:
                with a.out.open("a") as f:
                    f.write(json.dumps(rec) + "\n")
            print(f"[perf_ab] {a.workload} seed {seed} {side}: pass_s "
                  f"{rec['result']['metrics']['pass_s']['value']:.3f}", file=sys.stderr, flush=True)
    report(records, metrics)


if __name__ == "__main__":
    main()

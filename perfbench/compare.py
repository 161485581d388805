"""Compare two sets of benchmark runs: a parent and a change.

  python3 perfbench/compare.py pair <parent_checkout> <change_checkout>
        --workload cypher_repeat [--workload ...] [--runs 10] --out <dir>
      Runs both checkouts `--runs` times per workload for BENCHMARK.json's
      run_seconds, alternating which side goes first, with seeds 1..runs
      (the same seed on both sides of a pair). Each run's last stdout line is saved to <dir>/parent.jsonl and
      <dir>/change.jsonl, then the report below is printed.

  python3 perfbench/compare.py report <parent.jsonl> <change.jsonl>
      Prints, per workload and end-to-end metric, each side's median and
      quartiles, the share of pairs the change won, and a verdict
      (improved, unchanged, worse or unresolved) by the rule in
      stats.verdict, with the bounds from BENCHMARK.json.

Each JSONL line is {"workload": ..., "seed": ..., "result": <run.py's last line>}.
"""
import argparse
import json
import os
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import stats  # noqa: E402


def run_one(checkout, workload, seed, seconds):
    cmd = ["python3", "perfbench/run.py", "--workload", workload, "--seed",
           str(seed), "--seconds", str(seconds), "--trace", "0"]
    r = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = r.stdout.strip().splitlines()
    if not lines:
        raise SystemExit(f"{checkout}: {workload} seed {seed} printed nothing:\n"
                         + r.stderr[-2000:])
    return json.loads(lines[-1])


def load(path):
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def report(parent, change, spec):
    bounds = {m["name"]: m for m in spec["end_to_end"]}
    worst = 0
    for w in sorted({r["workload"] for r in parent}):
        p_runs = sorted((r for r in parent if r["workload"] == w),
                        key=lambda r: r["seed"])
        c_runs = sorted((r for r in change if r["workload"] == w),
                        key=lambda r: r["seed"])
        print(f"{w}: {len(p_runs)} parent runs, {len(c_runs)} change runs")
        for name, m in bounds.items():
            pv = [r["result"]["metrics"][name]["value"] for r in p_runs]
            cv = [r["result"]["metrics"][name]["value"] for r in c_runs]
            if not pv or not cv:
                continue
            v, won = stats.verdict(pv, cv, m["better"], m["bound"])
            pq, cq = stats.quartiles(pv), stats.quartiles(cv)
            print(f"  {name:14s} {m['unit']:4s} parent {pq[1]:.4g} "
                  f"[{pq[0]:.4g}, {pq[2]:.4g}]  change {cq[1]:.4g} "
                  f"[{cq[0]:.4g}, {cq[2]:.4g}]  pairs won {won:.0%}  {v}")
            worst = max(worst, v == "worse")
        failed = [(side, r["seed"], r["result"]["failed"])
                  for side, runs in (("parent", p_runs), ("change", c_runs))
                  for r in runs if r["result"]["failed"]]
        if failed:
            print(f"  runs with failed operations (side, seed, count): {failed}")
    return worst


def main():
    ap = argparse.ArgumentParser()
    sub = ap.add_subparsers(dest="cmd", required=True)
    pr = sub.add_parser("pair")
    pr.add_argument("parent")
    pr.add_argument("change")
    pr.add_argument("--workload", action="append", required=True)
    pr.add_argument("--runs", type=int, default=10)
    pr.add_argument("--out", required=True)
    rp = sub.add_parser("report")
    rp.add_argument("parent_jsonl")
    rp.add_argument("change_jsonl")
    a = ap.parse_args()
    with open("BENCHMARK.json") as f:
        spec = json.load(f)

    if a.cmd == "pair":
        seconds = spec["run_seconds"]
        os.makedirs(a.out, exist_ok=True)
        files = {s: open(os.path.join(a.out, f"{s}.jsonl"), "a")
                 for s in ("parent", "change")}
        sides = {"parent": a.parent, "change": a.change}
        for w in a.workload:
            for i in range(a.runs):
                seed = i + 1
                order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
                for side in order:
                    res = run_one(sides[side], w, seed, seconds)
                    files[side].write(json.dumps(
                        {"workload": w, "seed": seed, "result": res}) + "\n")
                    files[side].flush()
        for f in files.values():
            f.close()
        parent = load(os.path.join(a.out, "parent.jsonl"))
        change = load(os.path.join(a.out, "change.jsonl"))
    else:
        parent, change = load(a.parent_jsonl), load(a.change_jsonl)
    sys.exit(1 if report(parent, change, spec) else 0)


if __name__ == "__main__":
    main()

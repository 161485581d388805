"""graft benchmark: one workload, one seed, one run.

Usage (from the repository root):
  python3 perfbench/run.py --workload cypher_repeat --seed 1 --seconds 10 --trace 0

Builds graft and the benchmark runner (perfbench/build.py), generates the
tables (perfbench/datagen.py), runs the workload in one JVM at
local[<nproc>] with one client thread in a closed loop, checks every
operation's output, and prints one JSON line last: the end-to-end metrics
with --trace 0, the per-layer metrics with --trace 1. Exits 1 if any
output is wrong or any operation failed.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import datagen  # noqa: E402
import layers  # noqa: E402
import oracle  # noqa: E402
import stats  # noqa: E402
import workloads  # noqa: E402

WORKLOADS = ("cypher_repeat", "cypher_adhoc", "pipeline_batch")
SETUPS = 3
# passes generated per plan; the loop ends on time long before they run out
MAX_PASSES = 100
JVM_TIMEOUT_S = 150
HEAP = "2g"
ADD_OPENS = ["java.base/" + p for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def host_facts():
    mem = ""
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem = line.split(":")[1].strip()
    commit = "unknown"
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], capture_output=True,
                           text=True, timeout=10)
        if r.returncode == 0:
            commit = r.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return {"nproc": len(os.sched_getaffinity(0)), "mem_total": mem,
            "loadavg_before": os.getloadavg(), "git_commit": commit}


def cpu_ticks():
    """(steal, total) CPU ticks of this machine so far, from /proc/stat."""
    with open("/proc/stat") as f:
        t = [int(x) for x in f.readline().split()[1:]]
    return t[7], sum(t)


def run_jvm(classes, plan_file, run_dir):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # a fixed, pre-touched heap: resident memory is then the heap plus
    # what the process holds outside it, not an artifact of when G1 grew
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch",
            "-XX:-UsePerfData", "-Xss8m", f"-Djava.io.tmpdir={tmp}"]
           + [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS]
           + ["-cp", build.classpath(classes), "perfbench.Runner", plan_file])
    with open(os.path.join(run_dir, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT)
        try:
            return p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            return None


def check_ops(kind, ops_by_id, results, run_dir, data_dir):
    """Returns {op id: reason} for every failed or wrong operation."""
    bad = {}
    for r in results:
        if not r["ok"]:
            bad[r["id"]] = r.get("error", "failed")
    if kind == "cypher":
        orc = oracle.CypherOracle(data_dir)
        first_digest = {}
        for r in results:
            if r["id"] in bad:
                continue
            op = ops_by_id[r["id"]]
            key = (op["shape"], op["text"], json.dumps(op["params"], sort_keys=True))
            if op["check"]:
                why = orc.check(op["sql"], os.path.join(run_dir, "results",
                                                       f"{r['id']}.json"))
                if why:
                    bad[r["id"]] = why
                first_digest.setdefault(key, r["digest"])
            elif first_digest.get(key) not in (None, r["digest"]):
                bad[r["id"]] = "rows differ from the checked run of this text"
    else:
        for r in results:
            if r["id"] not in bad:
                why = oracle.check_stage(ops_by_id[r["id"]])
                if why:
                    bad[r["id"]] = why
    return bad


def end_to_end(kind, results, summary, ops_by_id, bad, data_dir):
    loop = [r for r in results if r["phase"] == "loop"]
    timed = summary["timed_s"]
    # a failed op misses any latency limit: it counts as the whole loop
    lat = [r["latency_s"] if r["id"] not in bad else timed for r in loop]
    if kind == "pipeline":
        n_docs = len(oracle.ids(f"{data_dir}/documents.parquet"))
        passes = len({ops_by_id[r["id"]]["pass"] for r in loop})
    gated = {
        "setup_s": (stats.percentile(summary["setup_s"], 0.5), "s"),
        "latency_p50_s": (stats.percentile(lat, 0.5), "s"),
        "latency_p90_s": (stats.percentile(lat, 0.9), "s"),
        "ops_per_s": (len(loop) / timed, "1/s"),
        "cold_pass_s": (summary["cold_pass_s"], "s"),
        "peak_rss_mb": (summary["peak_rss_mb"], "MiB"),
    }
    # printed beside the gated metrics, not gated: docs_per_s is ops_per_s
    # times a constant, and failed_frac is 0 when the run is correct
    shown = {
        "docs_per_s": (n_docs * passes / timed, "1/s") if kind == "pipeline"
        else (None, "1/s"),
        "failed_frac": (len(bad) / max(1, len(results)), "ratio"),
        "settle_s": (summary["settle_s"], "s"),
    }
    return gated, shown


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    facts = host_facts()
    classes = build.build()
    sf = workloads.SF
    data_dir = os.path.join(build.OUT, "data", f"sf{sf}")
    datagen.generate(data_dir, sf)
    run_dir = os.path.join(build.OUT, "runs", f"{a.workload}-t{a.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    kind = "pipeline" if a.workload == "pipeline_batch" else "cypher"
    ops = workloads.make_ops(a.workload, a.seed, data_dir, run_dir, MAX_PASSES)
    seen = {}
    for op in ops:
        # a traced run traces the cold pass, then every other run of each
        # shape: traced and untraced runs of one shape alternate, and the
        # gap between them is the tracing overhead
        k = seen[op["shape"]] = seen.get(op["shape"], -1) + 1
        op["traced"] = bool(a.trace) and (op["phase"] == "cold" or k % 2 == 0)
    plan = {"workload": a.workload, "kind": kind, "seconds": a.seconds,
            "trace": bool(a.trace), "cpus": facts["nproc"], "setups": SETUPS,
            # a traced run needs a traced and an untraced loop pass of
            # every shape, to measure the tracing overhead
            "min_passes": max(workloads.MIN_PASSES[a.workload], 2 * a.trace),
            "data": data_dir, "out": run_dir, "ops": ops}
    plan_file = os.path.join(run_dir, "plan.json")
    with open(plan_file, "w") as f:
        json.dump(plan, f)

    steal0, total0 = cpu_ticks()
    code = run_jvm(classes, plan_file, run_dir)
    steal1, total1 = cpu_ticks()
    facts["loadavg_after"] = os.getloadavg()
    # the share of this VM's CPU time the hypervisor gave to other guests
    # while the JVM ran: a run slowed by noisy neighbours shows it here
    facts["cpu_steal_frac"] = (steal1 - steal0) / max(1, total1 - total0)
    summary_file = os.path.join(run_dir, "summary.json")
    if code != 0 or not os.path.exists(summary_file):
        with open(os.path.join(run_dir, "jvm.log")) as f:
            sys.stderr.write(f.read()[-3000:])
        sys.exit(f"perfbench: runner exited with {code}")
    with open(summary_file) as f:
        summary = json.load(f)
    results = layers.read_jsonl(os.path.join(run_dir, "ops.jsonl"))
    ops_by_id = {op["id"]: op for op in ops}
    bad = check_ops(kind, ops_by_id, results, run_dir, data_dir)
    for i, why in sorted(bad.items()):
        print(f"FAILED op {i} ({ops_by_id[i]['shape']}): {why}")

    facts.update({k: summary[k] for k in ("java_version", "spark_version",
                                          "driver_heap_mb", "cpus")})
    facts.update(seed=a.seed, workload=a.workload, sf=sf, seconds=a.seconds)
    loop = [r for r in results if r["phase"] == "loop"]
    n = len(loop)
    print(f"host {json.dumps(facts)}")
    print(f"ops attempted {len(results)} (loop {n}), failed {len(bad)}, "
          f"failed_frac {len(bad) / max(1, len(results)):.4f}; "
          f"p90 has {stats.beyond(n, 0.9)} samples beyond it "
          f"({'resolved' if stats.resolvable(n, 0.9) else 'fewer than 10'})")
    if a.trace:
        metrics, shown = layers.per_layer(run_dir, results, ops_by_id, summary), {}
    else:
        metrics, shown = end_to_end(kind, results, summary, ops_by_id, bad,
                                    data_dir)
    for k, (v, u) in list(metrics.items()) + list(shown.items()):
        print(f"  {k} = " + (f"{v:.6g} {u}" if v is not None
                             else "n/a (pipeline_batch only)"))
    with open(os.path.join(run_dir, "host.json"), "w") as f:
        json.dump(facts, f)
    print(json.dumps({"correct": not bad, "attempted": len(results),
                      "failed": len(bad),
                      "metrics": {k: {"value": v, "unit": u}
                                  for k, (v, u) in metrics.items()}}))
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()

"""Per-layer metrics of a traced run, from the spans, jobs and stages the
JVM runner wrote. Totals cover the traced operations: the cold pass and
every other pass of the loop (the passes between them run untraced and
give the tracing overhead)."""
import json
import os
import statistics

import pyarrow.parquet as pq

import stats

STAGES = ["exact_dedup", "near_dup", "signals", "span_strip", "split", "pack",
          "emb_near_dup", "components", "topk"]
MB = 1048576.0


def names():
    """Every per-layer metric with its unit, in report order."""
    out = [
        ("cypher.parse_s", "s"), ("cypher.parse_calls", "count"),
        ("api.plan_cache_hit_ratio", "ratio"),
        ("plans.build_s", "s"), ("plans.eager_jobs", "count"),
        ("plans.eager_job_s", "s"),
        ("catalyst.optimize_s", "s"), ("catalyst.physical_s", "s"),
        ("codegen.compiles", "count"), ("codegen.compile_s", "s"),
        ("codegen.fallbacks", "count"),
        ("planning.self_s", "s"),
        ("exec.run_s", "s"), ("exec.jobs", "count"), ("exec.stages", "count"),
        ("exec.tasks", "count"), ("exec.task_s", "s"),
        ("exec.task_wait_s", "s"), ("exec.stage_skew", "ratio"),
        ("exec.shuffle_read_mb", "MiB"), ("exec.shuffle_write_mb", "MiB"),
        ("exec.spill_mb", "MiB"), ("exec.input_mb", "MiB"),
        ("exec.output_mb", "MiB"), ("exec.executor_gc_s", "s"),
        ("exec.failed_tasks", "count"),
        ("cache.entries_peak", "count"), ("cache.mb_peak", "MiB"),
        ("cache.entries_after_release", "count"),
        ("sources.graph_load_s", "s"),
    ]
    for st in STAGES:
        out += [(f"pipeline.{st}.build_s", "s"),
                (f"pipeline.{st}.eager_jobs", "count"),
                (f"pipeline.{st}.run_s", "s"),
                (f"pipeline.{st}.rows_out_per_in", "ratio")]
    out += [("jvm.driver_gc_s", "s"), ("jvm.heap_peak_mb", "MiB"),
            ("trace.overhead_frac", "ratio"), ("trace.spans", "count")]
    return out


def read_jsonl(path):
    if not os.path.exists(path):
        return []
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def _rows(path):
    if path.endswith(".parquet"):
        return pq.ParquetFile(path).metadata.num_rows
    return sum(pq.ParquetFile(os.path.join(path, f)).metadata.num_rows
               for f in os.listdir(path) if f.endswith(".parquet"))


def overhead(results):
    """Median over shapes of (traced median latency / untraced median
    latency) - 1, on loop operations."""
    by = {}
    for r in results:
        if r["phase"] == "loop" and r["ok"]:
            by.setdefault(r["shape"], ([], []))[0 if r["traced"] else 1].append(
                r["latency_s"])
    ratios = [statistics.median(t) / statistics.median(u)
              for t, u in by.values() if t and u]
    return statistics.median(ratios) - 1.0 if ratios else 0.0


def per_layer(run_dir, results, ops_by_id, summary):
    spans = read_jsonl(os.path.join(run_dir, "spans.jsonl"))
    jobs = read_jsonl(os.path.join(run_dir, "jobs.jsonl"))
    stages_ = read_jsonl(os.path.join(run_dir, "stages.jsonl"))
    selfs = stats.self_times(spans)
    by_id = {s["id"]: s for s in spans}
    dur = {s["id"]: (s["end_ns"] - s["start_ns"]) / 1e9 for s in spans}
    m = {k: 0.0 for k, _ in names()}

    def ancestors(span_id):
        while span_id in by_id:
            yield by_id[span_id]
            span_id = by_id[span_id]["parent"]

    parse_by_op = {}
    for s in spans:
        if s["name"] == "cypher.parse":
            parse_by_op[s["op"]] = dur[s["id"]]
    m["cypher.parse_s"] = sum(parse_by_op.values())
    m["cypher.parse_calls"] = len(parse_by_op)
    loop_cypher = [s for s in spans if s["name"] in ("cypher.parse", "api.plan_cache_hit")
                   and ops_by_id[s["op"]]["phase"] == "loop"]
    if loop_cypher:
        m["api.plan_cache_hit_ratio"] = sum(
            s["name"] == "api.plan_cache_hit" for s in loop_cypher) / len(loop_cypher)

    build_spans = set()
    for s in spans:
        if s["name"] == "api.cypher":
            build_spans.add(s["id"])
            m["plans.build_s"] += max(0.0, selfs[s["id"]] / 1e9
                                      - parse_by_op.get(s["op"], 0.0))
        elif s["name"] == "pipeline.build":
            build_spans.add(s["id"])
            m["plans.build_s"] += dur[s["id"]]
        elif s["name"] == "catalyst.optimize":
            m["catalyst.optimize_s"] += dur[s["id"]]
        elif s["name"] == "catalyst.physical":
            m["catalyst.physical_s"] += dur[s["id"]]
        elif s["name"] == "op":
            m["codegen.compiles"] += s["compiles"]
            m["codegen.compile_s"] += s["compile_ns"] / 1e9
        elif s["name"] in ("exec.collect", "exec.write"):
            m["exec.run_s"] += dur[s["id"]] - s["compile_ns"] / 1e9
    m["codegen.fallbacks"] = summary["codegen_fallbacks"]
    m["planning.self_s"] = (m["cypher.parse_s"] + m["plans.build_s"]
                            + m["catalyst.optimize_s"] + m["catalyst.physical_s"]
                            + m["codegen.compile_s"])

    def under_build(span_id):
        return any(a["id"] in build_spans for a in ancestors(span_id))

    def under_exec(span_id):
        return any(a["name"] in ("exec.collect", "exec.write")
                   for a in ancestors(span_id))

    for j in jobs:
        if under_build(j["span"]):
            m["plans.eager_jobs"] += 1
            m["plans.eager_job_s"] += (j["end_ms"] - j["start_ms"]) / 1e3
        elif under_exec(j["span"]):
            m["exec.jobs"] += 1
    skews = []
    for st in stages_:
        if not under_exec(st["span"]):
            continue
        m["exec.stages"] += 1
        m["exec.tasks"] += st["tasks"]
        m["exec.task_s"] += st["task_ms"] / 1e3
        m["exec.task_wait_s"] += st["wait_ms"] / 1e3
        m["exec.shuffle_read_mb"] += st["shuffle_read"] / MB
        m["exec.shuffle_write_mb"] += st["shuffle_write"] / MB
        m["exec.spill_mb"] += st["spill"] / MB
        m["exec.input_mb"] += st["input"] / MB
        m["exec.output_mb"] += st["output"] / MB
        m["exec.executor_gc_s"] += st["gc_ms"] / 1e3
        m["exec.failed_tasks"] += st["failed"]
        if st["tasks"] >= 2 and st["median_task_ms"] > 0:
            skews.append(st["max_task_ms"] / st["median_task_ms"])
    m["exec.stage_skew"] = statistics.median(skews) if skews else 1.0

    m["cache.entries_peak"] = summary["cache_entries_peak"]
    m["cache.mb_peak"] = summary["cache_mb_peak"]
    m["cache.entries_after_release"] = summary["cache_entries_after_release"]
    m["sources.graph_load_s"] = statistics.median(summary["graph_load_s"])

    # pipeline stages: operator call, the write that runs it, eager jobs,
    # and the output/input row ratio
    n_in = {st: 0 for st in STAGES}
    n_out = {st: 0 for st in STAGES}
    for s in spans:
        if s["op"] < 0 or ops_by_id[s["op"]].get("stage") is None:
            continue
        op = ops_by_id[s["op"]]
        st = op["shape"]
        if s["name"] == "pipeline.build":
            m[f"pipeline.{st}.build_s"] += dur[s["id"]]
        elif s["name"] == "exec.write":
            m[f"pipeline.{st}.run_s"] += dur[s["id"]]
            if os.path.isdir(op["output"]):
                n_in[st] += _rows(op["input"])
                n_out[st] += _rows(op["output"])
    for j in jobs:
        for a in ancestors(j["span"]):
            if a["name"] == "pipeline.build":
                m[f"pipeline.{ops_by_id[a['op']]['shape']}.eager_jobs"] += 1
                break
    for st in STAGES:
        if n_in[st]:
            m[f"pipeline.{st}.rows_out_per_in"] = n_out[st] / n_in[st]

    m["jvm.driver_gc_s"] = summary["jvm_gc_s"]
    m["jvm.heap_peak_mb"] = summary["heap_peak_mb"]
    m["trace.overhead_frac"] = overhead(results)
    m["trace.spans"] = len(spans)
    units = dict(names())
    return {k: (float(m[k]), units[k]) for k, _ in names()}


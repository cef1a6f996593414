#!/usr/bin/env python3
"""Span-to-layer report for a traced benchmark run.

    python3 perfbench/report.py perfbench/.work/spans/<workload>-seed<n>.jsonl

Reads the span file a `--trace 1` run writes (one header line, then one
span per line: name, start, end, parent, trace id, attributes) and derives
the per-layer metrics of BENCHMARK.json from it. A span's self time is
its duration minus the part of it that its children cover. Prints every
per-layer metric with its unit, the tracing overhead, and the self time
of every span name.
"""
import json
import statistics
import sys

# metric name -> span name of each micro-batch phase
PHASES = {"latest_offset": "stream.latestOffset", "get_batch": "stream.getBatch",
          "query_planning": "stream.queryPlanning", "add_batch": "stream.addBatch",
          "wal_commit": "stream.walCommit", "commit_offsets": "stream.commitOffsets"}
FAMILIES = "cdgkmpqst"


def load(path):
    with open(path) as fh:
        rows = [json.loads(line) for line in fh if line.strip()]
    header = next(r for r in rows if r["kind"] == "header")
    return header, [r for r in rows if r["kind"] == "span"]


def dur(s):
    return s["end"] - s["start"]


def self_times(spans):
    """Span id -> duration minus the union of its children's intervals."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        ivs = sorted((max(c["start"], s["start"]), min(c["end"], s["end"]))
                     for c in kids.get(s["id"], []))
        covered, cur_s, cur_e = 0.0, None, None
        for a, b in ivs:
            if b <= a:
                continue
            if cur_e is None or a > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = a, b
            else:
                cur_e = max(cur_e, b)
        if cur_e is not None:
            covered += cur_e - cur_s
        out[s["id"]] = dur(s) - covered
    return out


def p50(xs):
    return statistics.median(xs) if xs else 0.0


def per_layer(loaded):
    """(metric -> value, tracing overhead %) from (header, spans)."""
    header, spans = loaded
    selfs = self_times(spans)
    by_id = {s["id"]: s for s in spans}
    named = lambda n: [s for s in spans if s["name"] == n]
    m = {}

    m["gen.events"] = header.get("gen_events", 0)
    m["gen.files"] = header.get("gen_files", 0)
    m["gen.lag_p50_ms"] = header.get("gen_lag_p50_ms", 0.0)
    m["gen.lag_max_ms"] = header.get("gen_lag_max_ms", 0.0)
    m["source.backlog_files"] = header.get("source_backlog_files", 0)

    m["plans.load_ms"] = sum(selfs[s["id"]] for s in named("plans.load"))
    m["plans.compile_ms"] = sum(selfs[s["id"]] for s in named("plans.compile"))

    batches = [s for s in named("stream.batch") if s["attrs"].get("rows", 0) > 0]
    keep = {s["trace"] for s in batches}
    m["stream.batches"] = len(batches)
    rows = [s["attrs"]["rows"] for s in batches]
    m["stream.rows_per_batch_p50"] = p50(rows)
    m["stream.rows_per_batch_sum"] = sum(rows)
    for ph, span in PHASES.items():
        ds = [dur(s) for s in named(span) if s["trace"] in keep]
        m[f"stream.{ph}_p50_ms"] = p50(ds)
        m[f"stream.{ph}_sum_ms"] = sum(ds)
    trig = [dur(s) for s in batches]
    m["stream.trigger_p50_ms"] = p50(trig)
    m["stream.trigger_sum_ms"] = sum(trig)

    # state: size at each query's largest batch, summed over queries;
    # work and commit time summed over batches
    peak = {}
    for s in batches:
        q = s["attrs"]["query_id"]
        a = s["attrs"]
        cur = peak.get(q, (0, 0))
        peak[q] = (max(cur[0], a["state_rows_total"]), max(cur[1], a["state_memory_bytes"]))
    m["state.rows_total"] = sum(v[0] for v in peak.values())
    m["state.memory_bytes"] = sum(v[1] for v in peak.values())
    m["state.rows_updated"] = sum(s["attrs"]["state_rows_updated"] for s in batches)
    m["state.update_ms"] = sum(s["attrs"]["state_update_ms"] for s in batches)
    m["state.commit_ms"] = sum(s["attrs"]["state_commit_ms"] for s in batches)

    m["op.build_ms"] = sum(selfs[s["id"]] for s in named("op.build"))
    ckpt = [s for s in named("spark.job") if s["attrs"].get("checkpoint")]
    m["resources.checkpoint_jobs"] = len(ckpt)
    m["resources.checkpoint_ms"] = sum(dur(s) for s in ckpt)
    under_action = [s for s in named("driver.plan")
                    if by_id.get(s["parent"], {}).get("name") == "action"]
    m["driver.plan_ms"] = sum(dur(s) for s in under_action)

    # Spark execution inside the measured phase: catalog queries and
    # deploy runs (stages of a micro-batch hang off its addBatch phase,
    # so they are selected by time, not by ancestry)
    measured = [(s["start"], s["end"]) for s in named("catalog.query") + named("deploy.run")
                if s["trace"] not in ("warmup", "onecore")]
    inside = lambda s: any(a <= s["start"] <= b for a, b in measured)
    stages = [s for s in named("spark.stage") if inside(s)]
    jobs = [s for s in named("spark.job") if inside(s)]
    total = lambda k: sum(s["attrs"][k] for s in stages)
    m["exec.jobs"] = len(jobs)
    m["exec.stages"] = len(stages)
    m["exec.tasks"] = total("tasks")
    m["exec.tasks_per_stage_p50"] = p50([s["attrs"]["tasks"] for s in stages])
    for k in ("task_run_ms", "task_cpu_ms", "gc_ms", "spill_bytes", "shuffle_bytes",
              "input_bytes"):
        m[f"exec.{k}"] = total(k)
    wall = sum(b - a for a, b in measured)
    m["exec.parallelism"] = m["exec.task_run_ms"] / wall if wall else 0.0
    one = header.get("onecore_drain_ms")
    m["exec.speedup_1core"] = one / header["baseline_drain_ms"] if one else 0.0

    for f in FAMILIES:
        qs = [s for s in named("catalog.query") if s["attrs"].get("family") == f]
        ids = {s["id"] for s in qs}
        builds = [s for s in named("op.build") if s["parent"] in ids]
        actions = [s for s in named("action") if s["parent"] in ids]
        act_ids = {s["id"] for s in actions}
        plan = sum(dur(s) for s in under_action if s["parent"] in act_ids)
        m[f"fam.{f}.build_ms"] = sum(dur(s) for s in builds)
        m[f"fam.{f}.plan_ms"] = plan
        m[f"fam.{f}.exec_ms"] = sum(dur(s) for s in actions) - plan

    base, traced = header["untraced_primary"], header["traced_primary"]
    overhead = (traced / base - 1.0) * 100.0 if base else 0.0
    m["trace.overhead_pct"] = overhead
    return m, overhead


def main(path):
    header, spans = load(path)
    metrics, overhead = per_layer((header, spans))
    selfs = self_times(spans)
    print(f"workload={header.get('workload')} seed={header.get('seed')} spans={len(spans)}")
    for k in sorted(metrics):
        print(f"{k} {metrics[k]}")
    print(f"tracing overhead: {overhead:.2f}% (traced {header['traced_primary']:.3f} "
          f"vs untraced {header['untraced_primary']:.3f})")
    print("self time by span name (ms):")
    agg = {}
    for s in spans:
        agg[s["name"]] = agg.get(s["name"], 0.0) + selfs[s["id"]]
    for name, ms in sorted(agg.items(), key=lambda kv: -kv[1]):
        print(f"  {name:28s} {ms:12.1f}")


if __name__ == "__main__":
    main(sys.argv[1])

"""Turn a run's operation records and spans into the reported metrics.

End-to-end metrics (``--trace 0``) come from every operation of an
untraced run. Per-layer metrics (``--trace 1``)
come from the traced half of a traced run. Every per-layer value is a
mean per operation that entered the layer (``*_ms`` values are that
layer's self time: its spans' duration minus their child spans), except
where the name says otherwise (``*_s`` per pass, ``*_p50_ms`` a median).
A layer the workload never enters reads 0.
"""

from __future__ import annotations

import json
import os

from perfbench.trace import median, percentile

E2E_UNITS = {"setup_s": "s", "latency_p50_ms": "ms",
             "latency_p90_ms": "ms", "ops_per_s": "1/s", "ok_frac": "frac"}

# span name -> per-layer self-time metric
SELF_TIME = {
    "schema.validate": "schema.validate_ms",
    "plans.compile": "plans.compile_ms",
    "sql.guard": "sql.guard_ms",
    "sql.build": "sql.build_ms",
    "agent.clean_code": "agent.clean_code_ms",
    "collect.to_pandas": "agent.to_pandas_ms",
    "sandbox.execute": "sandbox.execute_ms",
    "functions.build": "functions.build_ms",
    "collect": "collect.ms",
}
# span under which a job counts as a plan-build job -> metric
BUILD_JOBS = {"plans.compile": "plans.build_jobs",
              "functions.build": "functions.build_jobs"}
SPARK_COUNTERS = [
    "spark.jobs", "spark.stages", "spark.tasks", "spark.slot_idle_ms",
    "spark.executor_run_ms", "spark.executor_cpu_ms", "spark.gc_ms",
    "shuffle.read_bytes", "shuffle.write_bytes", "shuffle.spill_bytes",
    "python.run_ms", "python.init_ms", "python.bytes_sent",
    "python.bytes_returned"]
STREAMING = ["add_batch_ms", "planning_ms", "commit_ms", "state_rows",
             "state_mem_bytes", "sink_rows"]
FAMILIES = ["dedup", "stats", "graph", "resample"]
# 1-minute loadavg per core at start above which a run is flagged
# contended. Back to back, a run starts with 0.5-0.8 left over from the
# previous run's own load, so only an over-committed box is flagged.
CONTENDED_LOAD = 1.0


def layer_names() -> list[str]:
    """Every per-layer metric, in report order."""
    names = ["agent.chat_p50_ms"]
    names += list(SELF_TIME.values()) + list(BUILD_JOBS.values())
    names += ["sql.rejected", "agent.overhead_ms", "agent.llm_calls",
              "agent.retries"]
    for fam in FAMILIES:
        names += [f"functions.{fam}_s", f"functions.{fam}.build_ms",
                  f"functions.{fam}.build_jobs"]
    names += SPARK_COUNTERS
    names += ["cache.persisted_rdds", "cache.bytes", "collect.rows",
              "peak_rss_mb"]
    names += ["streaming.rows_per_s"] + [f"streaming.{k}" for k in STREAMING]
    names += ["trace.overhead_ms", "trace.spans_per_op", "failed_frac",
              "host.load_start", "host.load_end"]
    return names


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def complete_cycles(records) -> list[list[dict]]:
    """The run's records split by cycle (a pipeline pass, an ingest
    round; an interactive request is a cycle of its own), keeping only
    the complete ones. Complete cycles all hold the same mix of
    operations, so the statistics do not depend on which operations a
    cut-off last cycle happened to reach."""
    cycles: dict[int, list[dict]] = {}
    for r in records:
        cycles.setdefault(r["cycle"], []).append(r)
    full = max((len(c) for c in cycles.values()), default=0)
    return [c for c in cycles.values() if len(c) == full]


def latency_samples(records) -> list[float]:
    return [r["ms"] for c in complete_cycles(records) for r in c]


def cycle_rate(records) -> float:
    """Operations per second over the complete cycles: their operations
    divided by the wall time from each one's first start to last end."""
    cycles = complete_cycles(records)
    span = sum(max(r["t1"] for r in c) - min(r["t0"] for r in c)
               for c in cycles)
    return sum(len(c) for c in cycles) / span if span else 0.0


def end_to_end(records, setup_s, failed, attempted) -> dict:
    ms = latency_samples(records)
    vals = {
        "setup_s": setup_s,
        "latency_p50_ms": percentile(ms, 50),
        "latency_p90_ms": percentile(ms, 90),
        "ops_per_s": cycle_rate(records),
        "ok_frac": 1.0 - failed / attempted,
    }
    return {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in vals.items()}


def family_pass_seconds(records) -> dict[str, float]:
    """Median over complete pipeline passes of each family's time."""
    passes = complete_cycles([r for r in records if "family" in r])
    out = {}
    for fam in FAMILIES:
        sums = [sum(r["ms"] for r in p if r["family"] == fam) / 1000.0
                for p in passes]
        out[f"functions.{fam}_s"] = median(sums) if sums else 0.0
    return out


def per_layer(records, tracer, failed, attempted, loads, rss) -> dict:
    traced = [r for r in records if r["traced"]]
    plain = [r for r in records if not r["traced"]]
    vals = dict.fromkeys(layer_names(), 0.0)
    spans = tracer.spans
    selft = tracer.self_times()

    steps = {r["step"] for r in traced}
    # self time per layer, averaged over the requests that entered it;
    # toPandas counts for the agent only when a chat called it
    for span_name, metric in SELF_TIME.items():
        per_req: dict[int, float] = {}
        for sp in spans:
            if sp.name == span_name and (
                    span_name != "collect.to_pandas"
                    or any(a.name == "agent.chat"
                           for a in tracer.ancestors(sp))):
                per_req[sp.request] = (per_req.get(sp.request, 0.0)
                                       + selft[sp.sid] * 1000.0)
        vals[metric] = _mean(per_req.values())
    # jobs submitted while a plan was being built, per build span
    jobs_in = {sp.sid: 0 for sp in spans if sp.name in BUILD_JOBS}
    for r in traced:
        for t in r.get("job_times") or []:
            for a in tracer.ancestors(tracer.innermost(t) if t else None):
                if a.sid in jobs_in:
                    jobs_in[a.sid] += 1
                    break
    for span_name, metric in BUILD_JOBS.items():
        vals[metric] = _mean(n for sid, n in jobs_in.items()
                             if spans[sid].name == span_name)
    for fam in FAMILIES:
        sids = [r["build_span"] for r in traced
                if r.get("family") == fam and r.get("build_span") is not None]
        vals[f"functions.{fam}.build_jobs"] = _mean(jobs_in[s] for s in sids)
        vals[f"functions.{fam}.build_ms"] = _mean(selft[s] * 1000.0
                                                  for s in sids)
    vals.update(family_pass_seconds(records))

    chats = [r for r in records if r["kind"].startswith("chat")]
    if chats:
        vals["agent.chat_p50_ms"] = median([r["ms"] for r in chats])
    tchats = [r for r in traced if r["kind"].startswith("chat")]
    if tchats:
        vals["agent.llm_calls"] = _mean(r["llm_calls"] for r in tchats)
        vals["agent.retries"] = _mean(r["llm_calls"] - 1 for r in tchats)
        over = []
        for sp in spans:
            if sp.name == "agent.chat":
                inner = sum(s.duration for s in spans
                            if s.parent == sp.sid
                            and s.name == "agent.execute_sql_query")
                over.append((sp.duration - inner) * 1000.0)
        vals["agent.overhead_ms"] = _mean(over)
    unsafe = [r for r in traced if r["kind"] == "unsafe"]
    if unsafe:
        vals["sql.rejected"] = _mean(1.0 if r["ok"] else 0.0 for r in unsafe)

    # Spark counters: per operation
    n_ops = max(len(traced), 1)
    for r in traced:
        for k, v in (r.get("counters") or {}).items():
            vals[k] += v / n_ops
    with_cache = [r["cache"] for r in traced if "cache" in r]
    vals["cache.persisted_rdds"] = _mean(c["cache.persisted_rdds"]
                                         for c in with_cache)
    vals["cache.bytes"] = _mean(c["cache.bytes"] for c in with_cache)
    vals["collect.rows"] = _mean(r.get("rows", 0) for r in traced
                                 if r["kind"] != "batch")
    vals["peak_rss_mb"] = rss

    batches = [r for r in traced if r["kind"] == "batch" and r["ok"]]
    if batches:
        total_ms = sum(r["ms"] for r in batches)
        vals["streaming.rows_per_s"] = (
            sum(r["rows"] for r in batches) * 1000.0 / total_ms
            if total_ms else 0.0)
        for k in STREAMING:
            vals[f"streaming.{k}"] = _mean(r[k] for r in batches)

    # both halves alternate through the same cycles, so compare them whole
    t_ms = [r["ms"] for r in traced]
    p_ms = [r["ms"] for r in plain]
    if t_ms and p_ms:
        vals["trace.overhead_ms"] = median(t_ms) - median(p_ms)
    vals["trace.spans_per_op"] = len(spans) / max(len(steps), 1)
    vals["failed_frac"] = failed / attempted
    vals["host.load_start"], vals["host.load_end"] = loads
    return {k: {"value": vals[k], "unit": _unit(k)} for k in layer_names()}


def _unit(name: str) -> str:
    if name.endswith("_mb"):
        return "MiB"
    if name.endswith("per_s"):
        return "1/s"
    if name.endswith(("_ms", ".ms")):
        return "ms"
    if name.endswith("_s"):
        return "s"
    if "bytes" in name:
        return "B"
    if name in ("failed_frac", "sql.rejected"):
        return "frac"
    if name.startswith("host."):
        return "load/core"
    return "count"


def summarize(args, records, elapsed, setup_s, rss, loads, tracer,
              root: str, extra: dict | None = None) -> dict:
    attempted = max(len(records), 1)
    failed = sum(1 for r in records if not r["ok"])
    plain = [r for r in records if not r["traced"]] or records
    info = {
        "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace,
        "ops": len(records),
        "latency_samples": len(latency_samples(plain)),
        "elapsed_s": elapsed, "setup_s": setup_s,
        "load_per_core": list(loads),
        "contended": loads[0] > CONTENDED_LOAD, **(extra or {}),
    }
    if args.trace:
        metrics = per_layer(records, tracer, failed, attempted, loads, rss)
        traced = [r for r in records if r["traced"]]
        out_dir = os.path.join(root, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        path = os.path.join(
            out_dir, f"trace-{args.workload}-seed{args.seed}.json")
        with open(path, "w") as f:
            json.dump({"run": info, "per_layer": metrics,
                       "latency_traced_ms": latencies(traced),
                       "latency_untraced_ms": latencies(plain),
                       "spans": tracer.to_json()}, f)
        info["trace_file"] = path
        print(format_table(metrics))
    else:
        metrics = end_to_end(plain, setup_s, failed, attempted)
    print(json.dumps({"run": info}))
    return {"correct": failed == 0, "attempted": len(records),
            "failed": failed, "metrics": metrics}


def latencies(records) -> dict:
    """p50 and p90 over every operation of one half of a traced run."""
    ms = [r["ms"] for r in records]
    return {"p50": percentile(ms, 50), "p90": percentile(ms, 90)}


def format_table(metrics: dict) -> str:
    width = max(len(k) for k in metrics)
    return "\n".join(f"{k:<{width}}  {v['value']:>16.3f} {v['unit']}"
                     for k, v in metrics.items())

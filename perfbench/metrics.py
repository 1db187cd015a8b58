"""Metric definitions: end-to-end metrics from untraced runs, per-layer
metrics from traced runs.  Every metric is reported on every workload; a
layer a workload does not use reads 0."""

from __future__ import annotations

import math
import os

from . import trace
from .trace import median

END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "step_p50_ms": "ms",
    "peak_rss_mb": "MB",
}

PER_LAYER = {
    "session.start_s": "s",
    "queries.build_s": "s",
    "queries.action_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.single_task_stages": "count",
    "spark.unattributed_jobs": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.core_busy_frac": "ratio",
    "spark.gc_s": "s",
    "spark.shuffle_write_mb": "MB",
    "spark.shuffle_read_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.input_mb": "MB",
    "spark.python_s": "s",
    "spark.python_start_s": "s",
    "llm.batches": "count",
    "llm.rows": "count",
    "llm.attempts": "count",
    "llm.request_s": "s",
    "llm.overhead_frac": "ratio",
    "operators.stable_match_groups": "count",
    "operators.stable_match_s": "s",
    "operators.lsh_candidates": "count",
    "operators.lsh_verified": "count",
    "operators.lsh_yield": "ratio",
    "operators.bloom_fp_rate": "ratio",
    "plans.statements": "count",
    "plans.admitted": "count",
    "plans.exec_s": "s",
    "plans.timeouts": "count",
    "caching.memo_frames": "count",
    "caching.scoped_frames": "count",
    "streaming.batches": "count",
    "streaming.batch_p50_ms": "ms",
    "streaming.add_batch_ms_p50": "ms",
    "streaming.planning_ms_p50": "ms",
    "streaming.wal_ms_p50": "ms",
    "streaming.latest_offset_ms_p50": "ms",
    "streaming.state_rows": "count",
    "streaming.state_mem_mb": "MB",
    "sources.sink_apply_ms_p50": "ms",
    "sources.sink_jobs_per_batch": "count",
    "sources.files_written": "count",
    "sources.bytes_written": "bytes",
    "sources.compact_s": "s",
    "sources.vacuum_s": "s",
    "sources.snapshot_read_s": "s",
    "sources.write_amp": "ratio",
    "sources.space_amp": "ratio",
    "trace.wall_s": "s",
    "trace.untraced_wall_s": "s",
    "trace.overhead_s": "s",
}
# self time of the spans of each layer, and its share of the pass wall
LAYERS = ["caching", "sources", "operators", "llm", "plans", "queries", "streaming", "build"]
for _layer in LAYERS:
    PER_LAYER[f"layer.{_layer}.self_s"] = "s"
    PER_LAYER[f"layer.{_layer}.share"] = "ratio"

UNITS = {**END_TO_END, **PER_LAYER}


def _per_step(passes: list[dict]) -> dict[str, list[float]]:
    """Seconds of each step of a pass, and of the rest of the pass (the
    cold reset and the glue between steps), across passes."""
    out: dict[str, list[float]] = {}
    for p in passes:
        for s in p["steps"]:
            out.setdefault(s["name"], []).append(s["s"])
        out.setdefault("(rest)", []).append(p["wall_s"] - sum(s["s"] for s in p["steps"]))
    return out


def _step_ms(workload: str, passes: list[dict]) -> list[float]:
    """Latency samples of one unit of work: a micro-batch's
    ``triggerExecution`` on ingest, a pipeline step elsewhere."""
    if workload == "ingest":
        return [ms for p in passes for ms in p["batch_ms"]]
    return [s["s"] * 1000.0 for p in passes for s in p["steps"]]


def step_samples(workload: str, passes: list[dict]) -> int:
    return len(_step_ms(workload, passes))


def typical_pass_s(passes: list[dict]) -> float:
    """Wall time of a typical pass: the sum over its steps (and the rest)
    of each one's median across passes.  Equal to the pass wall when passes
    agree; a slow moment rejected wherever in the pass it falls."""
    return sum(median(v) for v in _per_step(passes).values())


def typical_step_ms(workload: str, passes: list[dict]) -> float:
    """Latency of a typical unit of work.  On ingest the units are
    micro-batches, all alike: their median.  Elsewhere they are pipeline
    steps that differ by an order of magnitude; the median over all their
    samples would sit in the gap between the fast and the slow ones, so
    this is the geometric mean over steps of each step's median."""
    if workload == "ingest":
        return median(_step_ms(workload, passes))
    per = {k: v for k, v in _per_step(passes).items() if k != "(rest)"}
    logs = [math.log(median(v) * 1000.0) for v in per.values()]
    return math.exp(sum(logs) / len(logs))


def end_to_end(workload: str, passes: list[dict], setup_s: float, peak_mb: float) -> dict:
    return {
        "setup_s": setup_s,
        "wall_s": typical_pass_s(passes),
        "step_p50_ms": typical_step_ms(workload, passes),
        "peak_rss_mb": peak_mb,
    }


# -- traced runs -------------------------------------------------------------------


def instrument(tracer: trace.Tracer) -> None:
    """Spans around the plans layer's statement execution, which the
    mapping step reaches from inside a registry query's thread pool."""
    from scalable_data_integration_with_llms_spark.plans.mapping_engine import MappingEngine

    original = MappingEngine._run_script

    def run_script(self, sql_script, ns, timeout_s):
        with tracer.span("run_script", "plans") as sid:
            stmts = original(self, sql_script, ns, timeout_s)
            if sid is not None:
                rec = tracer.spans[sid]
                rec["statements"] = len(stmts)
                rec["admitted"] = sum(1 for s in stmts if s.admitted)
                rec["timeouts"] = sum(
                    1 for s in stmts if (s.ignore_reason or "").startswith("TIMEOUT")
                )
            return stmts

    MappingEngine._run_script = run_script


def probes(workload: str, spark, inputs: dict, tracer: trace.Tracer) -> dict:
    """Layer counts that no pass step returns, measured once after the
    passes: the LSH candidate pairs behind ``q_lsh_verified_pairs``."""
    if workload != "curate":
        return {}
    from scalable_data_integration_with_llms_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
        word_shingles,
    )
    from scalable_data_integration_with_llms_spark.sources.readers import load_table

    tracer.pass_id = -2
    with tracer.span("probe.lsh_candidates", "operators"):
        docs = load_table(spark, inputs["tables"], "documents")
        sh = word_shingles(docs, "doc_id", "text", n=3)
        n = lsh_candidate_pairs(minhash_signatures(sh, n_perm=12, n_bands=4)).count()
    return {"lsh_candidates": n}


def _mean(xs: list[float]) -> float:
    return sum(xs) / len(xs) if xs else 0.0


def _pass_layer(p: dict, i: int, spans: list[dict], log: dict, cores: int) -> dict:
    """Per-layer numbers of traced pass ``i``."""
    mine = trace.pass_spans(spans, i)
    pass_span = next(s for s in mine if s["layer"] == "pass")
    lo, hi = pass_span["start"] * 1000.0, pass_span["end"] * 1000.0
    wall = pass_span["end"] - pass_span["start"]
    out: dict[str, float] = {}

    jobs = [j for j in log["jobs"] if lo <= j["submit_ms"] <= hi]
    owners = trace.attribute([j["submit_ms"] for j in jobs], mine)
    out["spark.jobs"] = len(jobs)
    out["spark.unattributed_jobs"] = sum(
        1 for o in owners if o is None or mine[o]["layer"] == "pass"
    )
    applies = [k for k, s in enumerate(mine) if s["name"] == "sink_apply"]
    out["sources.sink_jobs_per_batch"] = (
        sum(1 for o in owners if o in applies) / len(applies) if applies else 0.0
    )
    stages = [s for s in log["stages"] if lo <= s["submit_ms"] <= hi]
    out["spark.stages"] = len(stages)
    out["spark.tasks"] = sum(s["tasks"] for s in stages)
    out["spark.single_task_stages"] = sum(1 for s in stages if s["tasks"] == 1)
    run_s = sum(s["run_ms"] for s in stages) / 1000.0
    out["spark.executor_run_s"] = run_s
    out["spark.executor_cpu_s"] = sum(s["cpu_ns"] for s in stages) / 1e9
    out["spark.core_busy_frac"] = run_s / (wall * cores)
    out["spark.gc_s"] = sum(s["gc_ms"] for s in stages) / 1000.0
    for key, field in (("shuffle_write_mb", "shuffle_write_b"), ("shuffle_read_mb", "shuffle_read_b"),
                       ("spill_mb", "spill_b"), ("input_mb", "input_b")):
        out[f"spark.{key}"] = sum(s[field] for s in stages) / 2**20
    out["spark.python_s"] = sum(s["python_ms"] for s in stages) / 1000.0
    out["spark.python_start_s"] = sum(s["python_start_ms"] for s in stages) / 1000.0

    builds = [s for s in mine if s["layer"] == "build"]
    actions = [s for s in mine if s["name"].endswith(".action")]
    out["queries.build_s"] = sum(s["end"] - s["start"] for s in builds)
    out["queries.action_s"] = sum(s["end"] - s["start"] for s in actions)
    by_layer = trace.self_time_by_layer(mine)
    for layer in LAYERS:
        out[f"layer.{layer}.self_s"] = by_layer.get(layer, 0.0)
        out[f"layer.{layer}.share"] = by_layer.get(layer, 0.0) / wall

    scripts = [s for s in mine if s["name"] == "run_script"]
    out["plans.statements"] = sum(s.get("statements", 0) for s in scripts)
    out["plans.admitted"] = sum(s.get("admitted", 0) for s in scripts)
    out["plans.timeouts"] = sum(s.get("timeouts", 0) for s in scripts)
    out["plans.exec_s"] = sum(s["end"] - s["start"] for s in scripts)

    steps = {s["name"]: s["s"] for s in p["steps"]}
    if "llm" in p:
        batches, rows, attempts, request_s = p["llm"]
        out.update({"llm.batches": batches, "llm.rows": rows, "llm.attempts": attempts,
                    "llm.request_s": request_s})
        out["llm.overhead_frac"] = 1.0 - p["llm_step_request_s"] / (steps["llm_score"] * cores)
    if "stable_match" in steps:
        out["operators.stable_match_s"] = steps["stable_match"]
    out["caching.memo_frames"] = p.get("memo_frames", 0)
    out["caching.scoped_frames"] = p.get("scoped_frames", 0)
    return out


def per_layer(workload: str, passes: list[dict], tracer: trace.Tracer, work: str,
              start_s: float, probes: dict, cores: int) -> dict:
    log = trace.read_event_log(os.path.join(work, "eventlog"))
    values = {k: 0.0 for k in PER_LAYER}
    traced = [(i, p) for i, p in enumerate(passes) if p["traced"]]
    rows = [_pass_layer(p, i, tracer.spans, log, cores) for i, p in traced]
    for key in {k for r in rows for k in r}:
        values[key] = _mean([r.get(key, 0.0) for r in rows])
    values["session.start_s"] = start_s
    values["trace.wall_s"] = median([p["wall_s"] for _, p in traced])
    values["trace.untraced_wall_s"] = median(
        [p["wall_s"] for p in passes[1:] if not p["traced"]]
    )
    values["trace.overhead_s"] = values["trace.wall_s"] - values["trace.untraced_wall_s"]

    if workload == "integrate":
        values["operators.stable_match_groups"] = _mean([p["groups"] for _, p in traced])
    if workload == "curate":
        outs = [p["outputs"] for _, p in traced if "outputs" in p]
        if outs:
            cols, rows_v = outs[0]["q_lsh_verified_pairs"]
            values["operators.lsh_verified"] = len(rows_v)
            values["operators.lsh_candidates"] = probes.get("lsh_candidates", 0)
            if values["operators.lsh_candidates"]:
                values["operators.lsh_yield"] = len(rows_v) / values["operators.lsh_candidates"]
            cols, rows_b = outs[0]["q_bloom_contamination"]
            ix = {c: k for k, c in enumerate(cols)}
            fp = sum(r[ix["n_false_pos"]] for r in rows_b)
            neg = sum(r[ix["n_shingles"]] - r[ix["n_true"]] for r in rows_b)
            values["operators.bloom_fp_rate"] = fp / neg if neg else 0.0
    if workload == "ingest":
        recs = [p for _, p in traced]
        batch = [ms for p in recs for ms in p["batch_ms"]]
        values["streaming.batches"] = _mean([len(p["batch_ms"]) for p in recs])
        values["streaming.batch_p50_ms"] = median(batch)
        for key, field in (("add_batch_ms_p50", "add_batch_ms"), ("planning_ms_p50", "planning_ms"),
                           ("wal_ms_p50", "wal_ms"), ("latest_offset_ms_p50", "latest_offset_ms")):
            values[f"streaming.{key}"] = median([ms for p in recs for ms in p[field]])
        values["streaming.state_rows"] = _mean([p["state_rows"] for p in recs])
        values["streaming.state_mem_mb"] = _mean([p["state_mem_mb"] for p in recs])
        values["sources.sink_apply_ms_p50"] = median([ms for p in recs for ms in p["apply_ms"]])
        values["sources.files_written"] = _mean([p["files_written"] for p in recs])
        values["sources.bytes_written"] = _mean([p["written_bytes"] for p in recs])
        step_s = lambda name: _mean([s["s"] for p in recs for s in p["steps"] if s["name"] == name])  # noqa: E731
        values["sources.compact_s"] = step_s("compact")
        values["sources.vacuum_s"] = step_s("vacuum")
        values["sources.snapshot_read_s"] = step_s("snapshot") + step_s("latest")
        live = recs[0]["live_bytes"]
        w, s = zip(*(trace.amplification(p["written_bytes"], p["left_bytes"], live) for p in recs))
        values["sources.write_amp"], values["sources.space_amp"] = _mean(list(w)), _mean(list(s))
    return values

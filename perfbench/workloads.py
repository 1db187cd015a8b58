"""The three workloads.  One pass of a workload is a fixed list of steps run
in a closed loop (one driver thread; each step starts when the previous one
returns).  Every step has a build phase (the call into the program that
returns a DataFrame or does eager work) and an action phase (the consuming
action), and its output is checked against a digest computed beforehand by
a twin in ``expect.py``.
"""

from __future__ import annotations

import os
import shutil
import sys
import time
import traceback

from pyspark.sql import functions as F
from pyspark.sql import types as T

from scalable_data_integration_with_llms_spark import caching
from scalable_data_integration_with_llms_spark.llm.boundary import (
    MOCK_NO_MATCH_MILLI,
    llm_map,
    mock_score_milli,
)
from scalable_data_integration_with_llms_spark.operators.candidates import (
    bidirectional_merge,
    generate_candidates,
    rank_preferences,
)
from scalable_data_integration_with_llms_spark.operators.ensembles import (
    ensemble_disjoint,
    ensemble_intersection,
    ensemble_majority,
    ensemble_union,
)
from scalable_data_integration_with_llms_spark.operators.metrics import (
    confusion_counts,
    prf1_columns,
)
from scalable_data_integration_with_llms_spark.operators.stable_matching import (
    round_r,
    stable_match,
)
from scalable_data_integration_with_llms_spark.queries import QUERIES
from scalable_data_integration_with_llms_spark.sources.dataset_json import (
    catalog_from_cases,
    load_dataset_json,
)
from scalable_data_integration_with_llms_spark.sources.txn_sink import TxnParquetSink
from scalable_data_integration_with_llms_spark.streaming.events import spread_stream
from scalable_data_integration_with_llms_spark.streaming.near_dup_gate import (
    near_dup_gate,
    stream_minhash_bands,
)

from . import expect, gen
from .trace import dir_bytes

NO_MATCH = "none of the options"
SCORED_SCHEMA = (
    "case_id string, side string, query_attr string, query_type string, "
    "candidate_attr string, candidate_type string, score_milli bigint"
)
DOC_STRUCT = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ]
)

# Registry steps of the curate workload, in pass order, with the tables
# their oracles read.
CURATE_STEPS = [
    "q_text_quality",
    "q_dedup_exact",
    "q_lsh_verified_pairs",
    "q_dedup_clusters",
    "q_bloom_contamination",
    "q_bloom_join_pushdown",
    "q_domain_affinity",
]
CURATE_TABLES = ["documents", "orders", "lineitem"]
MAPPING_STEP = "q_mapping_pass_rate"
STREAM_PARTITIONS = 8


class Ctx:
    """What a pass needs: the session, the tracer, inputs, expected digests
    and the per-pass record it fills."""

    def __init__(self, spark, tracer, inputs: dict, expected: dict, work: str):
        self.spark = spark
        self.tracer = tracer
        self.inputs = inputs
        self.expected = expected
        self.work = work
        self.llm_acc = None
        self.rec: dict = {}

    def step(self, name: str, layer: str, build, action) -> None:
        """Run one step: ``build()`` returns the object ``action`` consumes;
        ``action`` returns the digest compared with ``expected[name]``."""
        tr = self.tracer
        t0 = time.perf_counter()
        ok, err = False, None
        with tr.span(name, "step"):
            try:
                with tr.span(f"{name}.build", "build"):
                    obj = build()
                with tr.span(f"{name}.action", layer) as sid:
                    tr.fallback = sid
                    try:
                        got = action(obj)
                    finally:
                        tr.fallback = None
                ok = got == self.expected[name]
                if not ok:
                    err = f"digest {got} != expected {self.expected[name]}"
            except Exception as e:  # a raising step is a failed step
                traceback.print_exc(file=sys.stderr)
                err = f"{type(e).__name__}: {str(e)[:300]}"
        self.rec.setdefault("steps", []).append(
            {"name": name, "s": time.perf_counter() - t0, "ok": ok, "error": err}
        )


def cold_reset(ctx: Ctx) -> None:
    """Start a pass cold for the program's own caches, as a user running
    the pipeline once would."""
    with ctx.tracer.span("cold_reset", "caching"):
        ctx.rec["scoped_frames"] = caching.scoped_count()
        caching.release_scoped()
        ctx.rec["memo_frames"] = caching.clear_all_memos()
        ctx.spark.catalog.clearCache()


# -- integrate -----------------------------------------------------------------


def _request_fn(acc):
    """The benchmark's LLM backend: the engine's deterministic mock scorer
    applied per Arrow batch.  With ``acc`` (traced runs only) it counts
    batches, rows, attempts and request seconds in accumulators."""

    def score(pdf):
        pdf = pdf.copy()
        pdf["score_milli"] = [
            MOCK_NO_MATCH_MILLI if c == NO_MATCH else mock_score_milli(q, qt, c, ct)
            for q, qt, c, ct in zip(
                pdf.query_attr, pdf.query_type, pdf.candidate_attr, pdf.candidate_type
            )
        ]
        return pdf

    if acc is None:
        return score
    batches, rows, attempts, request_s = acc

    def counted(pdf):
        attempts.add(1)
        t = time.perf_counter()
        out = score(pdf)
        request_s.add(time.perf_counter() - t)
        batches.add(1)
        rows.add(len(pdf))
        return out

    return counted


def _matching_chain(ctx: Ctx, shuffle_seed=None):
    spark = ctx.spark
    cases = load_dataset_json(spark, ctx.inputs["dataset"], shuffle_seed=shuffle_seed)
    cands = generate_candidates(catalog_from_cases(cases))
    scored = llm_map(cands, _request_fn(ctx.llm_acc), SCORED_SCHEMA)
    return cases, cands, scored


def _counts(df, *exprs):
    row = df.agg(*exprs).collect()[0]
    return expect.digest_rows(list(row.asDict()), [tuple(row)])


def integrate_pass(ctx: Ctx) -> None:
    st = {}

    def build_candidates():
        st["cases"], cands, st["scored"] = _matching_chain(ctx)
        return cands

    ctx.step("candidates", "operators", build_candidates,
             lambda c: expect.digest_rows(["n"], [(c.count(),)]))

    ctx.step(
        "llm_score", "llm",
        lambda: caching.scoped_persist(st["scored"]),
        lambda s: _counts(s, F.count(F.lit(1)).alias("n"), F.sum("score_milli").alias("s"),
                          F.sum(F.col("score_milli") * F.col("score_milli")).alias("sq")),
    )
    if ctx.llm_acc is not None:  # request seconds of the scoring step alone
        ctx.rec["llm_step_request_s"] = ctx.llm_acc[3].value

    def build_rank():
        st["prefs"] = rank_preferences(st["scored"])
        return st["prefs"]

    ctx.step("rank", "operators", build_rank,
             lambda p: _counts(p, F.count(F.lit(1)).alias("n"), F.sum("rank").alias("rank_sum")))

    ctx.step(
        "merge", "operators",
        lambda: bidirectional_merge(st["prefs"]),
        lambda m: _counts(m, F.count(F.lit(1)).alias("n"),
                          F.sum(F.col("fwd_milli") * F.col("bwd_milli")).alias("prod")),
    )

    def build_match():
        st["r1"] = caching.scoped_persist(round_r(stable_match(st["prefs"], top_k=expect.TOP_K), 1))
        return st["r1"]

    ctx.step("stable_match", "operators", build_match, expect.digest_spark)

    def build_eval():
        g = F.explode("gold_mapping").alias("g")
        gold = st["cases"].select(F.col("id").alias("case_id"), g).select(
            "case_id", F.lower(F.col("g")[0]).alias("src"), F.lower(F.col("g")[1]).alias("tgt")
        )
        return prf1_columns(confusion_counts(st["r1"], gold))

    ctx.step("evaluate", "operators", build_eval, expect.digest_spark)

    def build_ensemble():
        # the main run is the ensemble's first member (seed 0)
        runs = st["r1"].withColumn("seed", F.lit(0))
        for s in ctx.inputs["ensemble_seeds"]:
            _, _, scored = _matching_chain(ctx, shuffle_seed=s)
            r1 = round_r(stable_match(rank_preferences(scored), top_k=expect.TOP_K), 1)
            r1 = r1.withColumn("seed", F.lit(s))
            runs = runs.unionByName(r1)
        runs = caching.scoped_persist(runs, eager=True)
        n = 1 + len(ctx.inputs["ensemble_seeds"])
        modes = [
            ("union", ensemble_union(runs)),
            ("intersection", ensemble_intersection(runs, n_runs=n)),
            ("disjoint", ensemble_disjoint(runs, n_runs=n)),
            ("majority", ensemble_majority(runs).select("case_id", "src", "tgt")),
        ]
        out = None
        for m, df in modes:
            df = df.select(F.lit(m).alias("mode"), "case_id", "src", "tgt")
            out = df if out is None else out.unionByName(df)
        return out

    ctx.step("ensemble", "operators", build_ensemble, expect.digest_spark)
    # applyInPandas groups: one per case in the main run and in each ensemble run
    ctx.rec["groups"] = ctx.expected["n_groups"] * (1 + len(ctx.inputs["ensemble_seeds"]))

    ctx.step(
        "mapping", "plans",
        lambda: QUERIES[MAPPING_STEP](ctx.spark, ctx.inputs["tables"]),
        expect.digest_spark,
    )


def integrate_expected(inputs: dict) -> dict:
    exp = expect.matching_expected(inputs["cases"])
    exp["mapping"] = expect.registry_expected(
        inputs["tables"], [MAPPING_STEP], ["customer", "nation"]
    )[MAPPING_STEP]
    return exp


# -- curate --------------------------------------------------------------------


def curate_pass(ctx: Ctx) -> None:
    tables = ctx.inputs["tables"]
    for name in CURATE_STEPS:

        def action(df, name=name):
            rows = [tuple(r) for r in df.collect()]
            ctx.rec.setdefault("outputs", {})[name] = (df.columns, rows)
            return expect.digest_rows(df.columns, rows)

        ctx.step(name, "queries", lambda name=name: QUERIES[name](ctx.spark, tables), action)


def curate_expected(inputs: dict) -> dict:
    return expect.registry_expected(inputs["tables"], CURATE_STEPS, CURATE_TABLES)


# -- ingest --------------------------------------------------------------------


def ingest_pass(ctx: Ctx) -> None:
    spark, tr = ctx.spark, ctx.tracer
    root = os.path.join(ctx.work, "sink")
    shutil.rmtree(root, ignore_errors=True)
    sink = TxnParquetSink(os.path.join(root, "table"))
    feed = ctx.inputs["feed"]
    st = {"apply_ms": []}

    def build_drain():
        stream = (
            spark.readStream.schema(DOC_STRUCT)
            .option("maxFilesPerTrigger", 1)
            .parquet(feed)
        )
        gated = near_dup_gate(stream_minhash_bands(spread_stream(stream)))
        feed_docs = spark.read.schema(DOC_STRUCT).parquet(feed)

        def apply(batch_df, batch_id):
            # runs on the stream's thread: parent it to the drain action
            with tr.span("sink_apply", "sources", parent=st["drain_span"]):
                t = time.perf_counter()
                admitted = (
                    batch_df.groupBy("doc")
                    .agg(F.max("is_dup").alias("dup"))
                    .filter(~F.col("dup"))
                    .select(F.col("doc").alias("doc_id"))
                )
                sink.apply(feed_docs.join(admitted, "doc_id"), batch_id)
                st["apply_ms"].append((time.perf_counter() - t) * 1000.0)

        return (
            gated.writeStream.foreachBatch(apply)
            .option("checkpointLocation", os.path.join(root, "checkpoint"))
            .trigger(availableNow=True)
        )

    def drain(writer):
        st["drain_span"] = tr.current()
        # the stream's state partition count is pinned when it starts; use
        # the engine's streaming default (streaming/events.run_to_memory)
        prev = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", str(STREAM_PARTITIONS))
        try:
            q = writer.start()
            q.awaitTermination()
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prev)
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        st["progress"] = [p for p in q.recentProgress if p["numInputRows"] > 0]
        return expect.digest_rows(["batches"], [(len(st["progress"]),)])

    ctx.step("drain", "streaming", build_drain, drain)

    ctx.step(
        "snapshot", "sources",
        lambda: sink.snapshot(spark).select("doc_id"),
        expect.digest_spark,
    )
    written = {}

    def compact(_):
        new_id = sink.compact(spark)
        written["bytes"] = dir_bytes(sink.path)
        written["files"] = sum(
            1 for _, _, fs in os.walk(sink.data_dir) for f in fs if f.endswith(".parquet")
        )
        return expect.digest_rows(["compacted"], [(new_id is not None,)])

    ctx.step("compact", "sources", lambda: None, compact)

    def vacuum(_):
        removed = sink.vacuum()
        written["left"] = dir_bytes(sink.path)
        return expect.digest_rows(["removed"], [(len(removed),)])

    ctx.step("vacuum", "sources", lambda: None, vacuum)

    ctx.step(
        "latest",
        "sources",
        lambda: sink.latest_by_key(spark, "doc_id", ["n_chars"], ["lang"]),
        lambda df: expect.digest_rows(["n"], [(df.count(),)]),
    )
    prog = st.get("progress", [])
    dur = [p["durationMs"] for p in prog]
    ctx.rec["batch_ms"] = [d.get("triggerExecution", 0) for d in dur]
    ctx.rec["add_batch_ms"] = [d.get("addBatch", 0) for d in dur]
    ctx.rec["planning_ms"] = [d.get("queryPlanning", 0) for d in dur]
    ctx.rec["wal_ms"] = [d.get("walCommit", 0) for d in dur]
    ctx.rec["latest_offset_ms"] = [d.get("latestOffset", 0) for d in dur]
    ops = prog[-1]["stateOperators"] if prog else []
    ctx.rec["state_rows"] = sum(o.get("numRowsTotal", 0) for o in ops)
    ctx.rec["state_mem_mb"] = sum(o.get("memoryUsedBytes", 0) for o in ops) / 2**20
    ctx.rec["apply_ms"] = st["apply_ms"]
    ctx.rec["live_bytes"] = ctx.expected["live_bytes"]
    ctx.rec["written_bytes"] = written.get("bytes", 0)
    ctx.rec["left_bytes"] = written.get("left", 0)
    ctx.rec["files_written"] = written.get("files", 0)
    shutil.rmtree(root, ignore_errors=True)


def ingest_expected(inputs: dict) -> dict:
    gate = expect.gate_expected(inputs["docs"])
    n_docs, n_files = len(inputs["docs"]), len(inputs["per_file"])
    return {
        # one micro-batch per file, and compaction supersedes every one
        "drain": expect.digest_rows(["batches"], [(n_files,)]),
        "compact": expect.digest_rows(["compacted"], [(True,)]),
        "vacuum": expect.digest_rows(["removed"], [(n_files,)]),
        "snapshot": gate["admitted"],
        "latest": expect.digest_rows(["n"], [(gate["n_admitted"],)]),
        # bytes of live input: the admitted documents' share of the feed
        "live_bytes": inputs["input_bytes"] * gate["n_admitted"] / n_docs,
    }


# timed passes per run at the least.  Passes within a run agree to a few
# percent; the spread is between runs, so a run spends its time budget on
# set-up and one pass rather than on repeats (a run must average under
# 70 s, set-up included)
MIN_PASSES = {"integrate": 1, "curate": 1, "ingest": 1}

WORKLOADS = {
    "integrate": (integrate_pass, integrate_expected),
    "curate": (curate_pass, curate_expected),
    "ingest": (ingest_pass, ingest_expected),
}


def prepare(workload: str, root: str, seed: int, warm: bool) -> tuple[dict, dict]:
    inputs = gen.make(workload, root, seed, warm=warm)
    return inputs, WORKLOADS[workload][1](inputs)

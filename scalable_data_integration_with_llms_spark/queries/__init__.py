"""The engine's declared query surface (driver contract in __spark_entry__.py).

Each module registers queries with the shared registry; a query is a callable
``(spark, sf_dir) -> DataFrame`` plus (when SQL-expressible) a DuckDB oracle
SQL string producing the identical result — same column names, same values.

Registration ORDER matters downstream: the correctness driver hard-verifies a
window of the registry front.  ``_VERIFY_FIRST`` below pins the queries that
most need the hard oracle signal this round to the front of the dict; round 1
verified the TPC-H/analytics block (registry 0-49, all green), so those rotate
to the back and the reference-port core + LLM-pipeline operators come first.
"""

from .registry import QUERIES, ORACLES, query  # noqa: F401

# Register all query modules.
from . import tpch  # noqa: F401, E402
from . import analytics  # noqa: F401, E402
from . import matching  # noqa: F401, E402
from . import metrics_q  # noqa: F401, E402
from . import dedup_q  # noqa: F401, E402
from . import text_q  # noqa: F401, E402
from . import similarity_q  # noqa: F401, E402
from . import streaming_q  # noqa: F401, E402
from . import mapping_q  # noqa: F401, E402
from . import reference_ops  # noqa: F401, E402
from . import er_q  # noqa: F401, E402
from . import approx_q  # noqa: F401, E402
from . import pipeline_q  # noqa: F401, E402
from . import retrieval_q  # noqa: F401, E402
from . import prompt_q  # noqa: F401, E402
from . import ehr_q  # noqa: F401, E402
from . import sinks_q  # noqa: F401, E402
from . import llm_q  # noqa: F401, E402

# Verification-window priority (regenerated by ``tools/rotate_window.py``
# AFTER this round's changes landed).  The changed block is derived
# mechanically, not from memory: every package function whose code differs
# from the parent commit (AST compare, docstrings ignored), then every
# registry query whose build calls one of them (per-query call trace at
# sf0.01, memos cleared between queries).  This round that is the
# hashing-layer unification (hash60, the shared MinHash helpers, the one
# Bloom filter), the count-free transactional sink and the mock scorer
# running through llm_map: 66 traced queries, in registry order, plus
# q_stream_near_dup_gate_tws, which calls stream_minhash_bands but
# registers only where the TWS runtime exists.  The block exceeds the
# 50-query driver window, so no stale rows ride this round; oldest
# standing driver verification stays r10.
_VERIFY_FIRST = [
    "q_bloom_contamination",  # changed/new
    "q_lsh_verified_pairs",  # changed/new
    "q_exactly_once_sink",  # changed/new
    "q_sink_compaction",  # changed/new
    "q_stream_near_dup_gate",  # changed/new
    "q_stream_near_dup_gate_tws",  # changed/new
    "q_minhash_est_jaccard",  # changed/new
    "q_confidence_eval",  # changed/new
    "q_confidence_summary",  # changed/new
    "q_example_selector_coverage",  # changed/new
    "q_example_selector_random",  # changed/new
    "q_weighted_sample",  # changed/new
    "q_cms_supplier_counts",  # changed/new
    "q_stratified_sample",  # changed/new
    "q_bloom_join_pushdown",  # changed/new
    "q_mock_match_scores",  # changed/new
    "q_bidirectional_scores",  # changed/new
    "q_topk_alignments",  # changed/new
    "q_ensemble_union",  # changed/new
    "q_ensemble_intersection",  # changed/new
    "q_ensemble_majority",  # changed/new
    "q_stable_matching",  # changed/new
    "q_match_round2",  # changed/new
    "q_ensemble_gold_filter",  # changed/new
    "q_filtered_preferences",  # changed/new
    "q_stable_matching_dist",  # changed/new
    "q_alignment_prf1",  # changed/new
    "q_mrr",  # changed/new
    "q_metric_ci",  # changed/new
    "q_coverage",  # changed/new
    "q_metrics_by_category",  # changed/new
    "q_pipeline_e2e",  # changed/new
    "q_minhash_signatures",  # changed/new
    "q_simhash",  # changed/new
    "q_simhash_near_dup",  # changed/new
    "q_semdedup_scaled",  # changed/new
    "q_stream_kmv_distinct",  # changed/new
    "q_example_selection",  # changed/new
    "q_example_selection_scalable",  # changed/new
    "q_gold_in_options",  # changed/new
    "q_softmax_scores",  # changed/new
    "q_prompt_assembly",  # changed/new
    "q_chat_prompt",  # changed/new
    "q_ensemble_disjoint",  # changed/new
    "q_topk_sweep",  # changed/new
    "q_kmv_distinct",  # changed/new
    "q_kmv_set_ops",  # changed/new
    "q_shard_assignment",  # changed/new
    "q_corpus_pipeline_e2e",  # changed/new
    "q_domain_affinity",  # changed/new
    "q_train_val_split",  # changed/new
    "q_repr_scoring_prompts",  # changed/new
    "q_mm_prompts",  # changed/new
    "q_mapping_sample_data_hint",  # changed/new
    "q_repr_prompt_tokens",  # changed/new
    "q_ehr_round1_matches",  # changed/new
    "q_ehr_matching_f1",  # changed/new
    "q_synthea_round1_matches",  # changed/new
    "q_synthea_matching_f1",  # changed/new
    "q_ehr_rounds",  # changed/new
    "q_ehr_round2_matches",  # changed/new
    "q_ehr_bidirectional_scores",  # changed/new
    "q_ehr_topk_sweep",  # changed/new
    "q_ehr_bidirectional_f1",  # changed/new
    "q_ehr_ensemble_f1",  # changed/new
    "q_real_benchmarks_summary",  # changed/new
    "q_ehr_effort_report",  # changed/new
]


# the TWS queries register only where their runtime exists
_VERIFY_FIRST = [
    n for n in _VERIFY_FIRST if n in QUERIES or n not in streaming_q.TWS_QUERIES
]


def _reorder() -> None:
    missing = [n for n in _VERIFY_FIRST if n not in QUERIES]
    assert not missing, f"_VERIFY_FIRST names unknown queries: {missing}"
    rest = [n for n in QUERIES if n not in set(_VERIFY_FIRST)]
    ordered = _VERIFY_FIRST + rest
    for reg in (QUERIES, ORACLES):
        snapshot = dict(reg)
        reg.clear()
        reg.update({n: snapshot[n] for n in ordered if n in snapshot})


_reorder()

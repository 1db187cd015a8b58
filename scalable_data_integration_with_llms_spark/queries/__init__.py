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
# one-lexer mapping pre-pass (statement split, classification, table
# references and the map_pk rewrite over sql_ast.tokenize), the one
# scan-spreading decision (sources.readers.spread) and the fixed EHR
# scorer parallelism: 40 traced queries, in registry order, plus
# q_stream_near_dup_gate_tws, which calls spread_stream but registers only
# where the TWS runtime exists.  The 9 stalest driver rows (r10) fill the
# 50-query window.
_VERIFY_FIRST = [
    "q_bloom_contamination",  # changed/new
    "q_lsh_verified_pairs",  # changed/new
    "q_stream_near_dup_gate",  # changed/new
    "q_stream_near_dup_gate_tws",  # changed/new
    "q_minhash_est_jaccard",  # changed/new
    "q_minhash_signatures",  # changed/new
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
    "q_dedup_ngram_jaccard",  # changed/new
    "q_dedup_clusters",  # changed/new
    "q_dedup_containment",  # changed/new
    "q_dedup_keepers",  # changed/new
    "q_cross_source_dup_matrix",  # changed/new
    "q_ppjoin_near_dup",  # changed/new
    "q_contamination",  # changed/new
    "q_cosine_topk",  # changed/new
    "q_ann_ivf",  # changed/new
    "q_knn_classify",  # changed/new
    "q_ann_recall",  # changed/new
    "q_ann_recall_hashed",  # changed/new
    "q_ivf_recall",  # changed/new
    "q_ann_filtered",  # changed/new
    "q_ann_plane_sweep",  # changed/new
    "q_ivf_nprobe_sweep",  # changed/new
    "q_stream_topk_types",  # changed/new
    "q_mapping_overlap",  # changed/new
    "q_mapping_map_pk",  # changed/new
    "q_mapping_e2e",  # changed/new
    "q_mapping_pass_rate",  # changed/new
    "q_duplicate_spans",  # changed/new
    "q_strip_duplicate_spans",  # changed/new
    "q_kmv_distinct",  # r10-latest
    "q_kmv_set_ops",  # r10-latest
    "q_llm_boundary_http",  # r10-latest
    "q_mapping_prompt_render",  # r10-latest
    "q_mapping_sample_data_hint",  # r10-latest
    "q_mm_prompts",  # r10-latest
    "q_ntile_deciles",  # r10-latest
    "q_packing_efficiency",  # r10-latest
    "q_quality_threshold_sweep",  # r10-latest
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

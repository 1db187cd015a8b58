"""Byte-parity of the engine's transcribed template CONSTANTS against the
reference's own source (read-only, AST-extracted — the reference package is
never imported).  The prompt-catalog oracles share these constants between
the Spark side and the golden renderer, so a transcription error would pass
the oracle silently; this test closes that loop mechanically.

Only cleanly-literal assignments are compared (plain string constants,
implicit concatenation, ``+`` chains, ``sep.join((...literals...))``);
f-string-built values (per-case instructions, the CandidateRefiner system)
are pinned by the layout fixtures in test_prompt_repr.py instead.

Skipped wherever the reference checkout is absent — the repo stays
standalone.
"""

from __future__ import annotations

import ast
import os

import pytest

_REF = "/root/reference"
_MATCHING = f"{_REF}/Stable Schema Matching/prompt"
_MAPPING = f"{_REF}/Schema Mapping/DatabaseUtils"

pytestmark = pytest.mark.skipif(
    not os.path.exists(_MATCHING),
    reason="parses the reference's Python source, which this repository does not vendor",
)


def _lit(node: ast.AST) -> str:
    """Evaluate a literal-only string expression."""
    if isinstance(node, ast.Constant) and isinstance(node.value, str):
        return node.value
    if isinstance(node, ast.BinOp) and isinstance(node.op, ast.Add):
        return _lit(node.left) + _lit(node.right)
    if (
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "join"
        and isinstance(node.func.value, ast.Constant)
        and len(node.args) == 1
    ):
        arg = node.args[0]
        if isinstance(arg, (ast.Tuple, ast.List)):
            return node.func.value.value.join(_lit(e) for e in arg.elts)
        # ''.join(("a" "b")) — implicit concatenation folds the parenthesized
        # "tuple" into ONE constant; the join is then an identity
        if isinstance(arg, ast.Constant) and isinstance(arg.value, str):
            return arg.value
    raise ValueError(f"not literal: {ast.dump(node)[:120]}")


def _extract(path: str) -> dict[tuple[str, str], str]:
    """(class_name, attr_name) -> literal string, for class-level assigns,
    ``self.attr = ...`` assigns, and plain local assigns inside methods."""
    tree = ast.parse(open(path).read())
    out: dict[tuple[str, str], str] = {}
    for cls in [n for n in tree.body if isinstance(n, ast.ClassDef)]:
        for node in ast.walk(cls):
            if not isinstance(node, ast.Assign) or len(node.targets) != 1:
                continue
            t = node.targets[0]
            if isinstance(t, ast.Attribute) and isinstance(t.value, ast.Name) and t.value.id == "self":
                name = t.attr
            elif isinstance(t, ast.Name):
                name = t.id
            else:
                continue
            try:
                val = _lit(node.value)
            except ValueError:
                continue
            # several classes pre-initialize with '' then assign the real
            # template elsewhere; never let an empty value shadow a real
            # one (ast.walk order is not source order)
            if val or (cls.name, name) not in out:
                out[(cls.name, name)] = val
    return out


@pytest.fixture(scope="module")
def ref():
    return {
        "repr": _extract(f"{_MATCHING}/PromptReprTemplate.py"),
        "mm": _extract(f"{_MATCHING}/MatchMaker.py"),
        "map": _extract(f"{_MAPPING}/prompt_templates.py"),
    }


def test_mapping_templates_match_reference(ref):
    from scalable_data_integration_with_llms_spark.functions.mapping_prompts import (
        MAPPING_TEMPLATES,
    )

    for cls, (system, user) in MAPPING_TEMPLATES.items():
        assert ref["map"][(cls, "SYSTEM")] == system, cls
        assert ref["map"][(cls, "USER")] == user, cls
    # and we cover every template class the reference declares
    ref_classes = {c for c, a in ref["map"] if a == "SYSTEM"}
    assert ref_classes - {"AbstractPromptTemplate"} == set(MAPPING_TEMPLATES)


def test_matching_repr_constants_match_reference(ref):
    from scalable_data_integration_with_llms_spark.functions import prompt_repr as PR

    r = ref["repr"]
    assert r[("ConfidenceScoringPrompt", "system")] == PR.CONFIDENCE_SYSTEM
    assert r[("ConfidenceScoringPrompt", "MCQ_format")] == PR.CONFIDENCE_MCQ_FORMAT
    assert r[("LogitsConfidenceScoringPrompt", "system")] == PR.LOGITS_SYSTEM
    assert r[("LogitsConfidenceScoringPrompt", "MCQ_format")] == PR.LOGITS_MCQ_FORMAT
    assert r[("BasicPromptRepr", "source_target_intro")] == PR.N2ONE_SOURCE_TARGET_INTRO
    assert r[("TaDa", "source_target_intro")] == PR.TADA_SOURCE_TARGET_INTRO
    assert r[("TaDa", "attr_intro")] == PR.TADA_ATTR_INTRO
    assert r[("TaDa", "json_format")] == PR.TADA_JSON_FORMAT
    assert r[("TaDa", "rel_intro")] == PR.TADA_REL_INTRO
    # task_desc carries {placeholders}; the engine formats output_format in
    assert r[("TaDa", "task_desc")] == PR.TADA_TASK_DESC
    # the attribute display template under the NAME+TYPE regime
    assert r[("ConfidenceScoringPrompt", "attributes_template")] == "{attr_name}"


def test_matchmaker_constants_match_reference(ref):
    from scalable_data_integration_with_llms_spark.functions import prompt_repr as PR

    m = ref["mm"]
    assert m[("MCQ_Formatter", "system")] == PR.MM_MCQ_FORMATTER_SYSTEM
    assert m[("MCQ_Formatter", "template")] == PR.MM_MCQ_FORMATTER_TEMPLATE
    assert m[("Evaluator", "system")] == PR.MM_EVALUATOR_SYSTEM
    assert m[("Evaluator", "template")] == PR.MM_EVALUATOR_TEMPLATE
    assert m[("ConfidenceScoring", "system")] == PR.MM_CONFIDENCE_SYSTEM
    assert m[("ConfidenceScoring", "MCQ_format")] == PR.MM_CONFIDENCE_MCQ_FORMAT
    assert m[("ConfidenceScoring", "attributes_template")] == "{attr_name}({attr_type})"
    assert m[("CandidateRefiner", "Q_format")] == PR.MM_REFINER_Q_FORMAT

"""Prompt repr-template catalog (SURVEY §2 presentation layer; the last
reference surface with no repo counterpart before round 5).

The reference builds one prompt string per (case, target attribute) from a
repr class picked by ``prompt_builder.get_repr_class`` (``Stable Schema
Matching/prompt/prompt_builder.py:30-62``).  This module carries:

* the template CONSTANTS, transcribed verbatim from the active repr classes
  (``prompt/PromptReprTemplate.py``, ``prompt/MatchMaker.py`` — including
  the reference's own concatenation quirks: missing spaces like
  ``schema,predict`` and ``basedon``, the U+2019 apostrophes, the em-dash
  separators); and
* a pure-Python GOLDEN RENDERER mirroring the reference's control flow
  (dict/str.format assembly, ``chr(65+idx)`` lettering, ``str(dict)``
  JSON-ification).  The renderer is the independent twin of the Spark
  DataFrame assembly in ``queries/prompt_q.py``: the correctness oracle is
  the renderer's output embedded as a VALUES relation, so the distributed
  assembly is byte-checked against a sequential reimplementation.

Display regime: ``col_info = {NAME, TYPE}`` is pinned (the catalog carries
names and types; ``attributes_template = '{attr_name}({attr_type})'``,
``info_types = "name and type"``).  TaDa additionally renders an attribute
description; the fixture catalog has none, so a deterministic placeholder
``values of <name> (<type>)`` stands in — description TEXT is dataset data,
the template LAYOUT is what this catalog pins.  Chat-wrapped prompts use the
engine's ChatML template (functions/chat.py), the concrete stand-in for the
reference's ``tokenizer.apply_chat_template`` (PromptICLTemplate.py:86-95).

Candidate lists: where the reference iterates ``valid_predicted_mappings``
(a prior pipeline stage's output), the engine uses its canonical ranked
candidate frame (mock-scored preferences, n_to_one side) in rank order —
the same substitution the rest of the matching surface makes.
"""

from __future__ import annotations

import re

from .chat import apply_chat_template

# ---------------------------------------------------------------------------
# template constants (verbatim from the reference)
# ---------------------------------------------------------------------------

# PromptReprTemplate.py:466-470 (''.join — note "schema,predict" and
# "calibrated." with no space before "Your")
CONFIDENCE_SYSTEM = (
    "Act as a schema matching expert. Your task is given the input and the "
    "MCQ format of the schema,predict the likelihood or relation score from "
    "0-100 of the input query being related to each option.Your scores will "
    "be calibrated."
)
# PromptReprTemplate.py:474
CONFIDENCE_MCQ_FORMAT = "MCQ schema options:\n{options}\n\ninput query:\n{query}\n\n"
# PromptReprTemplate.py:540-542 (TYPE in col_info, COL_DESC not)
ATTR_TEMPLATE_DESC = (
    "Both the input query and the schema options are formatted as "
    "`attribute name (data type)`.\n"
)
# PromptReprTemplate.py:508-521
CONFIDENCE_INSTRUCTIONS = "".join(
    (
        "First, I will provide the input MCQ schema options.\n",
        "Next, I will provide an input query that needs to be evaluated against these options.\n",
        f"{ATTR_TEMPLATE_DESC}\n",
        "Assess each option independently and assign it a relation score that reflects the likelihood of the input query being semantically related to each option. Use a scale from 0-100, where:\n\n",
        "    0 means the option doesn't match with the input query at all.\n",
        "    100 means the option is a perfect match with the input query.\n",
        "    Use a range of scores between 0 and 100 to reflect varying levels of relevance, with higher scores indicating a closer match.\n",
        "    Every two options should have different scores, unless they both don't match the query, in which case they should each have a score of 0.\n",
        '    If none of the options are related to the query, assign a score of 100 to "None of the options".\n\n',
        "Let's work this out step by step to make sure we get it correct. ",
        'After your explanation, give a final decision formatted like this: {"A": score, "B": score, "C": score, ...}, using each MCQ letter as the key and the corresponding score as the value.',
    )
)

# PromptReprTemplate.py:24-27
LOGITS_SYSTEM = (
    "Act as a schema matching expert. Given the attribute from the source "
    "schema, which of the following target attributes is the best match? "
    "Provide only the attribute name of the best match."
)
# PromptReprTemplate.py:31
LOGITS_MCQ_FORMAT = (
    "Question: Target attributes:\n{options}\n\ninput query:\n{query}\n\nAnswer: "
)

# PromptReprTemplate.py:296-303 with info_types = "name and type"
N2ONE_SYSTEM = (
    "Act as a schema matcher for relational schemas. Your task is to create "
    "semantic matches that specify how the elements of the source schema and "
    "the target schema semantically correspond to one another. I will first "
    "provide the information of a single relation from the source schema, "
    "including the name and type of all its attributes. Next, I will provide "
    "the same information for a single relation and a single attribute from "
    "the target schema."
)
# PromptReprTemplate.py:225-228
N2ONE_SOURCE_TARGET_INTRO = (
    "The information about the relation from the source schema is as follows:"
    "\n\n{source_attributes_desc}\n\n"
    "The information about the relation from the target schema is as follows:"
    "\n\n{target_attributes_desc}\n\n"
)
N2ONE_ANSWER_PREFIX = '{ "matches": ['  # PromptReprTemplate.py:380

# TaDa — PromptReprTemplate.py:123-149, col_info without TABLE_DESC
TADA_CONTEXT_LEVEL = (
    "First, I will input the name of a single relation from the source schema, "
    "and the name and description of all its attributes. After that, I will "
    "input the same information of a single relation and a single attribute "
    "from the target schema. "
)
TADA_SYSTEM = (
    "Act as a schema matcher for relational schemas. Your task is to create "
    "semantic matches that specify how the elements of the source schema and "
    "the target schema semantically correspond to one another. Two attributes "
    "semantically match if and only if there exists an invertible function "
    "that maps all values of one attribute to the other. " + TADA_CONTEXT_LEVEL
)
TADA_SOURCE_TARGET_INTRO = (
    "The relation from the source schema is the following:\n\n{source_desc}\n\n"
    "The attribute from the target schema is the following:\n\n{target_desc}\n\n"
)
TADA_REL_INTRO = "Relation name: {rel_name}\n"
TADA_ATTR_INTRO = "Attribute name: {attr_name}\nAttribute description: {attr_desc}\n"
TADA_JSON_FORMAT = '`{"yes": [], "no": [], "unknown": []}`'
TADA_TASK_DESC = (
    "Explain which of the source attributes semantically match to {target_attr} "
    "from {target_rel} of the target schema. Lets work this out step by step "
    "to make sure we get it correct. After your explanation, give a final "
    "decision JSON-formatted like this: {output_format}. Under each of the "
    "following keys, list all target attributes of {target_rel} that apply: "
    "yes - if there is an invertible function that maps all values of the "
    "source attribute to the target attribute; no - if there is no such "
    "function. unknown - if there is not enough information to decide"
)

# MatchMaker.py:15-27 — schema_name interpolated; "basedon" and the
# em-dash/underscore separators are the reference's own bytes
MM_REFINER_SYSTEM_TMPL = (
    "You are an expert {schema_name} matching ranker. Your task is to take "
    "the {schema_name} candidates and basedon the input, refine the "
    "candidates to select the 5 most likely matches to the input query. "
    "Return ONLY the keys."
    "\n—\n"
    "Follow the following format.\n"
    "Input Schema: List of key: value pairs\n"
    "Input Query: input query\n"
    "Reasoning: Let’s think step by step in order to {{produce the refined_string_list}}. We ...\n"
    "Refined String List: Five most likely matches to input query. Include "
    "maximum of the 5 most likely matches to the input query. Return ONLY the keys."
    "\n—\n"
)
# MatchMaker.py:31
MM_REFINER_Q_FORMAT = (
    "Input Schema:\n{candidates}\nInput Query:\n{query}\nReasoning: "
    "Let’s think step by step in order to"
)
# MatchMaker.py:96-97 extended with the fixture dataset
MM_SCHEMA_NAME = {"ehr": "OMOP", "synthea": "OMOP", "bird": "BIRD", "tpch": "TPCH"}

# MatchMaker.py:103-112
MM_MCQ_FORMATTER_SYSTEM = (
    "You are an expert MCQ formatter. Your task is to take a list of schema "
    "values and convert them into a multiple choice question format with "
    "(letter)Schema value, where the schema values should be key(description).\n"
    "—\n"
    "Follow the following format. \n"
    "Input: input list of schema values Mcq: MCQ format of schema values e.g "
    "(A)Schema value, (B)Schema value. Do not include additional options, only "
    "the schema values as options. where the schema values should be "
    "key(description). Add a No Match option.\n_\n"
)
MM_MCQ_FORMATTER_TEMPLATE = "Input : {input} Mcq: "  # MatchMaker.py:114

# MatchMaker.py:139-151
MM_EVALUATOR_SYSTEM = (
    "You are a schema matching expert, your task is to rate if any of the "
    "suggested matches are potential good matches for the query. Be lenient "
    "and rate a match as good (4 or 5) if it is relevant to the query. Rate "
    "the matches from 1-5. If none of the matches are good, rate 0. \n"
    "—\n"
    "Follow the following format.\n"
    "Query: The query.\n"
    "Answers: possible matches\n"
    "Reasoning: Let’s think step by step in order to {produce the rating}. We ...\n"
    "Rating: Rate if any of the suggested matches are good for the query from "
    "1-5. Only output the rating and nothing else.\n"
    "_\n"
)
MM_EVALUATOR_TEMPLATE = (
    "Query: {query}\nAnswers: {answers}\nReasoning: "
    "Let’s think step by step in order to "
)  # MatchMaker.py:154

# MatchMaker.py:191-203 — one ''.join with NO separators between the
# "Follow the following format." run: transcribed byte-for-byte
MM_CONFIDENCE_SYSTEM = "".join(
    (
        "You are a schema matching expert. Your task is given the input and the MCQ format of the schema,",
        "predict the likelihood or relation score from 0-100 of the input query being related to each option.",
        "Your scores will be calibrated. If there is no good match score No Match as 100",
        "\n—\n",
        "Follow the following format.",
        "Input Mcq: Input MCQ format of schema values",
        "Input Query: input query",
        "Relation: Relation score of input query being related to the option as value. Assess each independently",
        " including No Match, returning a score from 0-100 for each. Return with key as MCQ letter",
        "e.g (A) and score=value as JSON",
        "\n—\n",
    )
)
MM_CONFIDENCE_MCQ_FORMAT = "Input Mcq:\n{options}\nInput Query:\n{query}Relation:\n"  # MatchMaker.py:208


def col_desc(name: str, col_type: str) -> str:
    """Deterministic stand-in for the dataset ``column_description`` field
    (fixture catalog carries none; layout, not text, is what's pinned)."""
    return f"values of {name} ({col_type})"


def attr_with_type(name: str, col_type: str) -> str:
    """``'{attr_name}({attr_type})'`` — the NAME+TYPE display regime
    (PromptReprTemplate.py:540-541)."""
    return f"{name}({col_type})"


# ---------------------------------------------------------------------------
# candidate ranking twin (pure Python)
# ---------------------------------------------------------------------------


def _levenshtein(a: str, b: str) -> int:
    if len(a) < len(b):
        a, b = b, a
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[len(b)]


def _strip_prefix(name: str) -> str:
    return re.sub(r"^[a-z]_", "", name)


def _supergroup(t: str) -> str:
    if re.match(r"^(int|bigint|smallint|tinyint|serial)", t):
        return "INTEGER"
    if re.match(r"^(float|real|double|numeric|decimal)", t):
        return "DOUBLE"
    return "TEXT"


def ranked_candidates(
    query_attr: str, query_type: str, source_cols: list[tuple[str, str]]
) -> list[tuple[str, str]]:
    """Mock-scored candidate list for one target attribute, rank order —
    the sequential twin of ``mock_score_request`` + ``rank_preferences``
    (same integer milli-scores, same desc-score/asc-name tiebreak)."""

    def milli(cand: str, cand_type: str) -> int:
        sim = 1.0 / (1.0 + _levenshtein(_strip_prefix(query_attr), _strip_prefix(cand)))
        bonus = 0.25 if _supergroup(query_type) == _supergroup(cand_type) else 0.0
        return round((sim + bonus) * 1_000_000)

    return sorted(source_cols, key=lambda nt: (-milli(nt[0], nt[1]), nt[0]))


# ---------------------------------------------------------------------------
# golden renderer — sequential mirror of the reference repr classes
# ---------------------------------------------------------------------------


def _json_desc(rel_name: str, cols: list[tuple[str, str]]) -> str:
    """``str(dict).replace("'", '"')`` over the NAME+TYPE attribute dicts
    (get_schema_json_desc, PromptReprTemplate.py:258-282)."""
    d = {
        "relation name": rel_name,
        "columns": [{"name": n, "type": t} for n, t in cols],
    }
    return str(d).replace("'", '"')


def render_confidence_scoring(
    query_attr: str, query_type: str, candidates: list[tuple[str, str]]
) -> str:
    """ConfidenceScoringPrompt + BasicScoringPrompt, k=0
    (PromptReprTemplate.py:460-506, PromptICLTemplate.py:61-95)."""
    opts = {chr(65 + i): attr_with_type(n, t) for i, (n, t) in enumerate(candidates)}
    opts[chr(65 + len(candidates))] = "None of the options"
    mcq_str = "\n".join(f"{k}-{v}" for k, v in opts.items())
    mcq = CONFIDENCE_MCQ_FORMAT.format(
        options=mcq_str, query=attr_with_type(query_attr, query_type)
    )
    question = "\n\n".join([CONFIDENCE_INSTRUCTIONS, mcq])
    return apply_chat_template(
        [
            {"role": "system", "content": CONFIDENCE_SYSTEM},
            {"role": "user", "content": question},
        ]
    )


def render_logits_confidence(
    query_attr: str, query_type: str, candidates: list[tuple[str, str]]
) -> str:
    """LogitsConfidenceScoringPrompt, k=0 (PromptReprTemplate.py:18-74)."""
    mcq_str = "\n".join(
        f"{i + 1}. {attr_with_type(n, t)}" for i, (n, t) in enumerate(candidates)
    )
    mcq = LOGITS_MCQ_FORMAT.format(
        options=mcq_str, query=attr_with_type(query_attr, query_type)
    )
    question = "\n\n".join([f"{ATTR_TEMPLATE_DESC}\n", mcq])
    return apply_chat_template(
        [
            {"role": "system", "content": LOGITS_SYSTEM},
            {"role": "user", "content": question},
        ]
    )


def _n2one_intro(
    source_rel: str,
    source_cols: list[tuple[str, str]],
    target_rel: str,
    query_attr: str,
    query_type: str,
    instructions: str,
) -> str:
    source_desc = _json_desc(source_rel, source_cols)
    target_desc = str(
        {
            "relation name": target_rel,
            "column": {"name": query_attr, "type": query_type},
        }
    ).replace("'", '"')
    source_target_desc = N2ONE_SOURCE_TARGET_INTRO.format(
        source_attributes_desc=source_desc, target_attributes_desc=target_desc
    )
    return "\n\n".join([source_target_desc, instructions])


def _n2one_instruction(query_attr: str, target_rel: str) -> str:
    """N2One_Json.get_instruction_, reasoning=False
    (PromptReprTemplate.py:307-317)."""
    return "".join(
        (
            f"Identify which of the source attributes semantically match to {query_attr} from {target_rel}.",
            'Format your output like this: `{"matches": ["<source attribute>,',
            f'{query_attr}"',
            ", ...]}`. ",
            "Do not mention an attribute if there is not enough information to decide. ",
            f'If there is no source attribute matching the target attribute, return "None,{query_attr}". ',
            "Do not include any explanation.",
        )
    )


def _cot_instruction(query_attr: str, target_rel: str) -> str:
    """CoTLogitsPrompt.get_instruction_, reasoning=False
    (PromptReprTemplate.py:427-434)."""
    return "".join(
        (
            f"Identify which one of the source attributes semantically best match to {query_attr} from {target_rel}.",
            "Give a final decision formatted like `Best Match:<target attribute>`",
            "If there is no source attribute matching the target attribute, return `Best Match:None`. ",
            "Do not include any explanation.",
        )
    )


def render_n2one_json(
    source_rel, source_cols, target_rel, query_attr, query_type
) -> str:
    """N2One_Json + BasicICLPrompt k=0: chat-wrapped intro + the
    ``\\n{ "matches": [`` answer prefix (PromptICLTemplate.py:169-178)."""
    intro = _n2one_intro(
        source_rel, source_cols, target_rel, query_attr, query_type,
        _n2one_instruction(query_attr, target_rel),
    )
    chat = apply_chat_template(
        [
            {"role": "system", "content": N2ONE_SYSTEM},
            {"role": "user", "content": intro},
        ]
    )
    return chat + "\n" + N2ONE_ANSWER_PREFIX


def render_cot_logits(
    source_rel, source_cols, target_rel, query_attr, query_type
) -> str:
    """CoTLogitsPrompt + BasicICLPrompt k=0 (answer prefix None)."""
    intro = _n2one_intro(
        source_rel, source_cols, target_rel, query_attr, query_type,
        _cot_instruction(query_attr, target_rel),
    )
    return apply_chat_template(
        [
            {"role": "system", "content": N2ONE_SYSTEM},
            {"role": "user", "content": intro},
        ]
    )


def render_tada(
    source_rel, source_cols, target_rel, query_attr, query_type
) -> str:
    """TaDa + BaselinePrompt k=0: PLAIN ``system\\n\\nintro`` concatenation,
    no chat template (PromptReprTemplate.py:123-207,
    PromptICLTemplate.py:32-37)."""
    rel_intro = TADA_REL_INTRO.format(rel_name=source_rel)
    attr_header = f"In the following, I will list all attributes of {source_rel}.\n"
    blocks = [
        TADA_ATTR_INTRO.format(attr_name=n, attr_desc=col_desc(n, t))
        for n, t in source_cols
    ]
    source_desc = "\n".join([rel_intro, attr_header] + blocks)
    target_desc = "\n".join(
        [
            TADA_REL_INTRO.format(rel_name=target_rel),
            TADA_ATTR_INTRO.format(
                attr_name=query_attr, attr_desc=col_desc(query_attr, query_type)
            ),
        ]
    )
    source_target_desc = TADA_SOURCE_TARGET_INTRO.format(
        source_desc=source_desc, target_desc=target_desc
    )
    task_desc = TADA_TASK_DESC.format(
        target_attr=query_attr, target_rel=target_rel, output_format=TADA_JSON_FORMAT
    )
    intro = "\n\n".join([source_target_desc, task_desc])
    return "\n\n".join([TADA_SYSTEM, intro])


# ---------------------------------------------------------------------------
# MatchMaker family renderers
# ---------------------------------------------------------------------------


def mm_option(rel_name: str, attr: str, attr_type: str) -> str:
    """``'{tname}-{attr_name}({attr_type})'`` (MatchMaker.py:34-39)."""
    return f"{rel_name}-{attr}({attr_type})"


def mm_refiner_user(
    source_rel, source_cols, target_rel, query_attr, query_type
) -> str:
    """CandidateRefiner's user message (MatchMaker.py:45-61): ALL source
    columns as the candidate pool, python-list-repr'd."""
    q_options = [mm_option(source_rel, n, t) for n, t in source_cols]
    return MM_REFINER_Q_FORMAT.format(
        candidates=str(q_options),
        query=mm_option(target_rel, query_attr, query_type),
    )


def render_mm_refiner(
    source_rel, source_cols, target_rel, query_attr, query_type, dataset="tpch"
) -> str:
    """CandidateRefiner + BasicICLPrompt k=0 (MatchMaker.py:8-97)."""
    system = MM_REFINER_SYSTEM_TMPL.format(schema_name=MM_SCHEMA_NAME[dataset])
    user = mm_refiner_user(source_rel, source_cols, target_rel, query_attr, query_type)
    return apply_chat_template(
        [{"role": "system", "content": system}, {"role": "user", "content": user}]
    )


def render_mm_mcq_formatter(refined_text: str) -> str | None:
    """MCQ_Formatter (MatchMaker.py:100-124): only responses carrying a
    ``Refined String List:`` marker produce a prompt."""
    if "Refined String List:" not in refined_text:
        return None
    user = MM_MCQ_FORMATTER_TEMPLATE.format(
        input=refined_text.split("Refined String List:")[1]
    )
    return apply_chat_template(
        [
            {"role": "system", "content": MM_MCQ_FORMATTER_SYSTEM},
            {"role": "user", "content": user},
        ]
    )


def render_mm_evaluator(target_rel, query_attr, answer_names: list[str]) -> str | None:
    """Evaluator (MatchMaker.py:136-182): rate the predicted matches."""
    if not answer_names:
        return None
    user = MM_EVALUATOR_TEMPLATE.format(
        query=f"{target_rel}-{query_attr}", answers=str(answer_names)
    )
    return apply_chat_template(
        [
            {"role": "system", "content": MM_EVALUATOR_SYSTEM},
            {"role": "user", "content": user},
        ]
    )


def render_mm_confidence(
    target_rel, query_attr, query_type, response_text: str
) -> str | None:
    """ConfidenceScoring (MatchMaker.py:185-236): options = the prior LLM
    output from ``(A)`` on; no ``(A)`` → skipped."""
    if "(A)" not in response_text:
        return None
    options = "(A)" + response_text.split("(A)")[1]
    user = MM_CONFIDENCE_MCQ_FORMAT.format(
        options=options, query=f"{target_rel}-{query_attr}({query_type})"
    )
    return apply_chat_template(
        [
            {"role": "system", "content": MM_CONFIDENCE_SYSTEM},
            {"role": "user", "content": user},
        ]
    )


def validate_mm_candidates(answer: str, options: list[str]) -> list[str] | None:
    """eval_utils.validate_MM_candidates (eval_utils.py:25-48): text after
    the marker, bracketed if needed, JSON-parsed with quote fixup; reject
    on >5 items or any item outside the option universe."""
    import json

    refined = (
        answer.split("Refined String List:")[1]
        if "Refined String List:" in answer
        else answer
    )
    if not ("[" in refined and "]" in refined):
        refined = "[" + refined + "]"
    try:
        result = json.loads(refined.replace("'", '"'))
    except json.JSONDecodeError:
        return None
    if not isinstance(result, list) or len(result) > 5:
        return None
    for attr in result:
        if attr not in options:
            return None
    return result


def formatted_options(result: list[str]) -> str:
    """get_formatted_options (MatchMaker.py:253-263): lettered options plus
    the trailing ``No Match.``."""
    opts = {chr(65 + i): cand for i, cand in enumerate(result)}
    opts[chr(65 + len(result))] = "No Match."
    return "\n".join(f"({k}){v}" for k, v in opts.items())


def ws_tokens(s: str) -> int:
    """Whitespace token proxy (U4; equals the engine's ``token_count``)."""
    return len(s.split(" ")) if s else 0


def pack_icl_examples(
    demos: list[tuple[str, str]],
    base_tokens: int,
    k: int,
    max_seq_len: int,
    max_ans_len: int,
) -> list[tuple[str, str]]:
    """BasicICLPrompt.get_examples's packing loop
    (PromptICLTemplate.py:195-219): scan the demo pool in order; an example
    is ADDED if the prompt still fits the budget and SKIPPED otherwise (the
    loop continues past a too-big example); stop once k examples are in.

    Budget accounting is additive per piece (example user + answer token
    counts on top of the base prompt) rather than re-tokenizing the whole
    assembled prompt as the reference does — under a real tokenizer the chat
    markers are fixed cost, so the additive form is the same check; under
    the whitespace proxy it avoids boundary-merge artifacts.  Both the
    golden renderer and the Spark fold use this exact rule.
    """
    picked: list[tuple[str, str]] = []
    tokens = base_tokens
    for user, answer in demos:
        if len(picked) >= k:
            break
        cost = ws_tokens(user) + ws_tokens(answer)
        if tokens + cost + max_ans_len <= max_seq_len:
            picked.append((user, answer))
            tokens += cost
    return picked


def render_icl_prompt(
    system: str,
    target_user: str,
    demos: list[tuple[str, str]],
    k: int,
    max_seq_len: int,
    max_ans_len: int,
) -> tuple[int, str]:
    """k-shot chat render (BasicICLPrompt.format_prompt/format_question,
    PromptICLTemplate.py:128-178): system + packed (user, assistant) example
    pairs + target user + generation header.  Returns (n_examples, prompt)."""
    base_tokens = ws_tokens(system) + ws_tokens(target_user)
    picked = pack_icl_examples(demos, base_tokens, k, max_seq_len, max_ans_len)
    messages = [{"role": "system", "content": system}]
    for user, answer in picked:
        messages.append({"role": "user", "content": user})
        messages.append({"role": "assistant", "content": answer})
    messages.append({"role": "user", "content": target_user})
    return len(picked), apply_chat_template(messages)


def render_mm_confidence2(
    source_rel, source_cols, target_rel, query_attr, query_type, response_text
) -> str | None:
    """ConfidenceScoring2 (MatchMaker.py:239-250): the formatter implemented
    in code — validate the refined list against the source option universe,
    letter the survivors."""
    valid = [mm_option(source_rel, n, t) for n, t in source_cols]
    result = validate_mm_candidates(response_text, valid)
    if result is None:
        return None
    user = MM_CONFIDENCE_MCQ_FORMAT.format(
        options=formatted_options(result),
        query=f"{target_rel}-{query_attr}({query_type})",
    )
    return apply_chat_template(
        [
            {"role": "system", "content": MM_CONFIDENCE_SYSTEM},
            {"role": "user", "content": user},
        ]
    )

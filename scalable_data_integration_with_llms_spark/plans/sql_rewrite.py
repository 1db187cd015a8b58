"""SQL admission control + namespace rewriting for the Schema-Mapping
execution engine (SURVEY §2.9 U7, §2.2 P6, §4 "custom pre-pass").

The reference parses LLM-emitted SQL once, drops inadmissible statements,
qualifies bare table names into SQLite ATTACH namespaces, and executes on
SQLite (``Schema Mapping/AnalysisUtils/Evaluator.py:59-119``).  The engine
reproduces the same decision rules but executes on Spark SQL against temp
views named ``{namespace}_{table}``:

* admission (``_mark_queries_to_ignore``, Evaluator.py:59-87): keep only
  DDL/DML; drop CREATE SCHEMA, and CREATE/DROP of *target* tables (the
  harness owns the target schema);
* qualification (``_append_schema_namespaces``, Evaluator.py:89-105):
  a bare table name in the source set gets the source namespace, in the
  target set the predicted namespace, in both — left untouched;
* INSERT INTO a Spark temp view is illegal, so ``INSERT INTO t SELECT ...``
  becomes an accumulated per-table view: ``CREATE OR REPLACE TEMP VIEW
  ns_t AS (prior UNION ALL) SELECT ...`` handled by the executor
  (mapping_engine.py).

Every decision here — where a statement ends, its kind and target table,
which identifiers are table references, where an INSERT's SELECT body
starts, where ``map_pk(...)`` is called — reads the token stream of
``sql_ast.tokenize``, the one SQL lexer.  Comments and string literals are
never mistaken for SQL, as in the reference's parser.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from .sql_ast import Tok, analyze, qualify_sql, tokenize, transpile_sqlite_to_spark


@dataclass
class Statement:
    sql: str
    kind: str  # INSERT / SELECT / CREATE / DROP / UPDATE / DELETE / OTHER
    ignore_reason: str | None = None
    target_table: str | None = None  # for INSERT/CREATE/DROP: the object table

    @property
    def admitted(self) -> bool:
        return self.ignore_reason is None


_FENCE_RE = re.compile(r"```(?:sql)?\s*(.*?)```", re.DOTALL | re.IGNORECASE)


def extract_sql_blocks(response: str) -> str:
    """Code-fence extraction from an LLM response
    (``AnalysisUtils/Experiment.py:73,101-130``): concatenate every fenced
    block; if none, treat the whole response as SQL."""
    blocks = _FENCE_RE.findall(response)
    return "\n".join(blocks) if blocks else response


def _render(toks: list[Tok]) -> str:
    return "".join(t.ws + t.text for t in toks)


def split_statements(sql: str) -> list[str]:
    """Split at ``;`` tokens; statements that hold only whitespace and
    comments are dropped."""
    out: list[list[Tok]] = [[]]
    for t in tokenize(sql):
        if t.kind == "op" and t.text == ";":
            out.append([])
        else:
            out[-1].append(t)
    return [_render(toks).strip() for toks in out if any(t.text for t in toks)]


_KINDS = frozenset({"insert", "select", "create", "drop", "update", "delete", "with"})


def _words(sql: str) -> list[Tok]:
    """The statement's tokens minus the empty trailing one (comments and
    whitespace live in ``ws``)."""
    return [t for t in tokenize(sql) if t.text]


def _word(toks: list[Tok], i: int) -> str:
    return toks[i].lower if i < len(toks) and toks[i].kind == "ident" else ""


def _name_at(toks: list[Tok], i: int) -> tuple[str | None, int]:
    """A bare, optionally dotted (``ns.t``) name starting at ``toks[i]``:
    (lower-cased name or None, index after it)."""

    def bare(j: int) -> bool:
        return j < len(toks) and toks[j].kind == "ident" and toks[j].text[0] not in "\"`["

    if not bare(i):
        return None, i
    parts = [toks[i].text]
    i += 1
    while i + 1 < len(toks) and toks[i].text == "." and bare(i + 1):
        parts.append(toks[i + 1].text)
        i += 2
    return ".".join(parts).lower(), i


def _insert_target(toks: list[Tok]) -> tuple[str | None, int]:
    """``INSERT INTO name``: (target, index after it)."""
    if _word(toks, 0) == "insert" and _word(toks, 1) == "into":
        return _name_at(toks, 2)
    return None, 0


def classify(stmt: str) -> Statement:
    toks = _words(stmt)
    head = _word(toks, 0)
    kind = ("SELECT" if head == "with" else head.upper()) if head in _KINDS else "OTHER"
    s = Statement(sql=stmt, kind=kind)
    if kind == "INSERT":
        s.target_table = _insert_target(toks)[0]
    elif kind == "CREATE":
        i = 3 if (_word(toks, 1), _word(toks, 2)) == ("or", "replace") else 1
        if _word(toks, i) in ("temp", "temporary"):
            i += 1
        obj = _word(toks, i)
        if obj in ("table", "view", "schema"):
            i += 1
            if [_word(toks, i + k) for k in range(3)] == ["if", "not", "exists"]:
                i += 3
            if obj == "schema":
                s.ignore_reason = "Trying to CREATE SCHEMA. Statement ignored"
            s.target_table = _name_at(toks, i)[0]
    elif kind == "DROP" and _word(toks, 1) in ("table", "view"):
        i = 4 if (_word(toks, 2), _word(toks, 3)) == ("if", "exists") else 2
        s.target_table = _name_at(toks, i)[0]
    return s


def insert_select(sql: str) -> str:
    """``INSERT INTO t [(cols)] SELECT ...`` -> the SELECT (or WITH /
    VALUES) body, byte for byte."""
    toks = tokenize(sql)
    target, i = _insert_target(toks)
    if target is not None and i < len(toks) and toks[i].text == "(":
        depth = 0
        for i in range(i, len(toks)):
            depth += {"(": 1, ")": -1}.get(toks[i].text, 0)
            if depth == 0:
                break
        i += 1
    if target is None or _word(toks, i) not in ("select", "with", "values"):
        raise ValueError(f"unsupported INSERT shape: {sql[:80]}")
    return toks[i].text + _render(toks[i + 1 :])


def admit(statements: list[Statement], target_tables: set[str]) -> list[Statement]:
    """P6 admission: mirror of ``_mark_queries_to_ignore``."""
    for s in statements:
        if s.ignore_reason:
            continue
        if s.kind == "OTHER":
            s.ignore_reason = "Stray statement ignored"
        elif s.kind in ("CREATE", "DROP") and s.target_table in target_tables:
            s.ignore_reason = f"Trying to {s.kind} {s.target_table}. Statement ignored"
    return statements


def referenced_tables(sql: str, names) -> list[str]:
    """Which of ``names`` the SQL references — exactly the names
    ``qualify_sql`` rewrites: table-ref and column-qualifier positions of
    ``sql_ast.analyze``, minus statement-local names (aliases, CTEs), so a
    caller choosing what to persist can never disagree with the namespace
    rewrite.  Returns names in their input order."""
    a = analyze(sql)
    found = {a.tokens[i].lower for i in (*a.table_refs, *a.qualifiers)} - a.local_names
    return [t for t in names if t.lower() in found]


def qualify_namespaces(
    stmt: Statement,
    source_tables: set[str],
    target_tables: set[str],
    source_ns: str = "source",
    target_ns: str = "pred",
) -> Statement:
    """U7 qualification: source-only names -> ``{source_ns}_{t}``,
    target-only -> ``{target_ns}_{t}``, ambiguous -> untouched
    (``_append_schema_namespaces``, Evaluator.py:89-105)."""
    mapping = {}
    for t in source_tables - target_tables:
        mapping[t] = f"{source_ns}_{t}"
    for t in target_tables - source_tables:
        mapping[t] = f"{target_ns}_{t}"
    if not mapping:
        return stmt
    return Statement(
        sql=qualify_sql(stmt.sql, mapping),
        kind=stmt.kind,
        ignore_reason=stmt.ignore_reason,
        target_table=stmt.target_table,
    )


def prepare_response(
    response: str, source_tables: set[str], target_tables: set[str],
    source_ns: str = "source", target_ns: str = "pred",
) -> list[Statement]:
    """Full pre-pass: fence-extract → split → classify → admit → qualify →
    dialect render (the reference renders per dialect at execution time,
    ``Evaluator.py:257,271``; here SQLite-isms normalize to Spark SQL —
    semantics-preserving transforms only, see sql_ast.transpile_sqlite_to_spark)."""
    stmts = [classify(s) for s in split_statements(extract_sql_blocks(response))]
    admit(stmts, target_tables)
    out = []
    for s in stmts:
        if s.admitted:
            s = qualify_namespaces(s, source_tables, target_tables, source_ns, target_ns)
            s = Statement(
                sql=transpile_sqlite_to_spark(s.sql),
                kind=s.kind,
                ignore_reason=s.ignore_reason,
                target_table=s.target_table,
            )
        out.append(s)
    return out


# -- U3: map_pk(tbl, attr, val) rewrite ---------------------------------------
# The reference registers a stateful SQLite UDF (DatabaseManager.py:84-95)
# assigning each distinct value a dense first-seen index.  The engine's
# declared contract is rank-by-value (operators/surrogate.py); gold SQL
# calling map_pk is rewritten into a scalar subquery against a precomputed
# ``__mappk_{tbl}_{attr}`` dimension view (SURVEY §4 "dialect translation").


def _call_args(toks: list[Tok], i: int) -> tuple[list[list[Tok]], int] | None:
    """Arguments of the call whose ``(`` is ``toks[i]``, split at depth-1
    commas: (argument token lists, index after the closing ``)``), or None
    if the parentheses never balance."""
    depth, args = 0, [[]]
    for j in range(i, len(toks)):
        t = toks[j]
        if t.text == "(" or t.text == ")":
            depth += 1 if t.text == "(" else -1
            if depth == 0:
                return args, j + 1
            if depth == 1 and t.text == "(":
                continue  # the call's own parenthesis
        elif t.text == "," and depth == 1:
            args.append([])
            continue
        args[-1].append(t)
    return None


def _ident(arg: str) -> str:
    """Strip quotes from a name argument ('publication' or publication)."""
    return arg.strip().strip("'\"").lower()


def rewrite_map_pk(sql: str) -> tuple[str, set[tuple[str, str]]]:
    """Replace every ``map_pk(tbl, attr, val)`` call with a scalar subquery
    ``(SELECT pk_id FROM __mappk_tbl_attr WHERE pk_val = (val))``; returns
    the rewritten SQL plus the set of (tbl, attr) dimensions the executor
    must register.  Nested parens/quotes in ``val`` are handled; unbalanced
    or wrong-arity calls are left untouched (the statement will fail loudly
    at execution).  ``map_pk(`` inside a literal or comment is not a call."""
    toks = tokenize(sql)
    refs: set[tuple[str, str]] = set()
    out = []
    i = 0
    while i < len(toks):
        t = toks[i]
        call = None
        if t.kind == "ident" and t.lower == "map_pk" and i + 1 < len(toks) and toks[i + 1].text == "(":
            call = _call_args(toks, i + 1)
        if call is None or len(call[0]) != 3:
            out.append(t.ws + t.text)
            i += 1
            continue
        args, i = call
        tbl, attr = (_ident(_render(a)) for a in args[:2])
        val, inner = rewrite_map_pk(_render(args[2]).strip())
        refs |= inner | {(tbl, attr)}
        out.append(f"{t.ws}(SELECT pk_id FROM __mappk_{tbl}_{attr} WHERE pk_val = ({val}))")
    return "".join(out), refs

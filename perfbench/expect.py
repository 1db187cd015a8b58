"""Expected outputs, computed once per seed outside timing by twins that
share no code path with the step they check:

* registry steps: the registry's own DuckDB oracle SQL over the generated
  tables;
* the matching chain: a pure-Python twin (DP levenshtein, list
  normalisation, ``stable_match_case`` rounds, set-based P/R/F1);
* the stream gate: the batch twin, first-wins = minimum doc id per
  (band, signature) bucket, from the same DuckDB banding SQL the registry
  pins for ``q_stream_near_dup_gate``.

Every output is reduced to a digest of its canonical rows (columns sorted
by name, numbers compared by value), so a pass compares one string per step.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import math
import os
from decimal import Decimal

import duckdb
import pyarrow as pa

from scalable_data_integration_with_llms_spark.operators.stable_matching import (
    stable_match_case,
)
from scalable_data_integration_with_llms_spark.queries import ORACLES

NO_MATCH = "none of the options"
NO_MATCH_MILLI = 100_000
TOP_K = 5


# -- canonical digests --------------------------------------------------------


def _cell(v):
    if v is None:
        return None
    if isinstance(v, bool):
        return bool(v)
    if isinstance(v, (int, float, Decimal)) or type(v).__module__ == "numpy":
        try:
            f = float(v)
        except (TypeError, ValueError):
            return str(v)
        if math.isnan(f):
            return None
        if f == int(f) and abs(f) < 2**53:
            return int(f)
        return repr(f)
    if isinstance(v, dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
        return v.isoformat()
    if isinstance(v, dt.date):
        return v.isoformat() + "T00:00:00"
    if isinstance(v, (list, tuple)):
        return [_cell(x) for x in v]
    if isinstance(v, dict):
        return {str(k): _cell(x) for k, x in sorted(v.items())}
    return str(v)


def digest_rows(columns: list[str], rows) -> str:
    """Order-insensitive digest of a result: columns sorted by name, each
    cell canonicalised, rows sorted."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    canon = sorted(
        json.dumps([_cell(r[i]) for i in order], sort_keys=True) for r in rows
    )
    h = hashlib.sha256()
    h.update(json.dumps(sorted(columns)).encode())
    for line in canon:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def digest_spark(df) -> str:
    return digest_rows(df.columns, [tuple(r) for r in df.collect()])


def digest_duckdb(con, sql: str) -> str:
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    return digest_rows(cols, cur.fetchall())


# -- registry steps: DuckDB oracles --------------------------------------------


def registry_expected(tables_dir: str, names: list[str], table_names: list[str]) -> dict[str, str]:
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in table_names:
        p = os.path.join(tables_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    out = {n: digest_duckdb(con, ORACLES[n]) for n in names}
    con.close()
    return out


# -- matching chain: pure-Python twin ------------------------------------------


def levenshtein(a: str, b: str) -> int:
    if a == b:
        return 0
    if not a:
        return len(b)
    if not b:
        return len(a)
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def _strip_prefix(name: str) -> str:
    if len(name) > 2 and name[1] == "_" and name[0].isalpha():
        return name[2:]
    return name


def _supertype(t: str) -> str:
    s = (t or "").strip().lower()
    if s.startswith(("int", "bigint", "smallint", "tinyint", "serial")):
        return "INTEGER"
    if s.startswith(("float", "real", "double", "numeric", "decimal")):
        return "DOUBLE"
    return "TEXT"


def score_milli(q: str, qt: str, c: str, ct: str) -> int:
    if c == NO_MATCH:
        return NO_MATCH_MILLI
    raw = 1.0 / (1.0 + levenshtein(_strip_prefix(q.lower()), _strip_prefix(c.lower())))
    if _supertype(qt) == _supertype(ct):
        raw += 0.25
    return int(round(raw * 1_000_000))


def matching_expected(cases: list[dict]) -> dict:
    """Expected outputs of every matching-chain step for one dataset."""
    n_cands = 0
    s_sum = s_sq = 0
    rank_sum = 0
    merge_n = merge_prod = 0
    round1, prf = [], []
    for case in cases:
        cid = case["id"]
        src = [(c["name"].lower(), c["type"]) for c in case["source_schema"]["columns"]]
        tgt = [(c["name"].lower(), c["type"]) for c in case["target_schema"]["columns"]]
        lists = {}
        for side, queries, cands in (("one_to_n", src, tgt), ("n_to_one", tgt, src)):
            conf = {}
            for q, qt in queries:
                scored = [(c, score_milli(q, qt, c, ct)) for c, ct in cands]
                scored.append((NO_MATCH, NO_MATCH_MILLI))
                scored.sort(key=lambda x: (-x[1], x[0]))
                total = sum(m for _, m in scored)
                conf[q] = [(c, m / total) for c, m in scored]
                n_cands += len(scored)
                s_sum += sum(m for _, m in scored)
                s_sq += sum(m * m for _, m in scored)
                rank_sum += len(scored) * (len(scored) + 1) // 2
                lists[(side, q)] = dict(scored)
            if side == "one_to_n":
                conf_a = conf
            else:
                conf_b = conf
        for s, _ in src:
            for t, _ in tgt:
                merge_n += 1
                merge_prod += lists[("n_to_one", t)][s] * lists[("one_to_n", s)][t]
        rounds = stable_match_case(
            sorted(a for a, _ in src), sorted(b for b, _ in tgt),
            conf_a, conf_b, top_k=TOP_K, no_match=NO_MATCH,
        )
        pred = {(cid, a, b) for a, b in (rounds[0] if rounds else [])}
        g = {(cid, s.lower(), t.lower()) for s, t in case["gold_mapping"]}
        round1.extend(pred)
        tp, fp, fn = len(pred & g), len(pred - g), len(g - pred)
        if pred or g:
            p = 0.0 if tp + fp == 0 else tp / (tp + fp)
            r = 0.0 if tp + fn == 0 else tp / (tp + fn)
            f1 = 0.0 if p + r == 0 else (2.0 * r * p) / (r + p)
            prf.append((cid, tp, fp, fn, p, r, f1))
    pair_cols = ["case_id", "src", "tgt"]
    r1 = sorted(set(round1))
    return {
        "candidates": digest_rows(["n"], [(n_cands,)]),
        "llm_score": digest_rows(["n", "s", "sq"], [(n_cands, s_sum, s_sq)]),
        "rank": digest_rows(["n", "rank_sum"], [(n_cands, rank_sum)]),
        "merge": digest_rows(["n", "prod"], [(merge_n, merge_prod)]),
        "stable_match": digest_rows(pair_cols, r1),
        "evaluate": digest_rows(
            ["case_id", "tp", "fp", "fn", "precision", "recall", "f1"], prf
        ),
        # the mock scorer ignores column order, so every seed-shuffled run
        # reproduces the round-1 set: union = intersection = majority
        "ensemble": digest_rows(
            ["mode", "case_id", "src", "tgt"],
            [(m,) + p for m in ("union", "intersection", "majority") for p in r1],
        ),
        "n_groups": len(cases),
    }


# -- stream gate: batch twin ---------------------------------------------------

_BANDS_SQL = """
WITH w AS (SELECT doc_id AS doc, string_split(text, ' ') AS ws FROM documents),
s AS (SELECT DISTINCT doc, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS shingle
      FROM w, unnest(range(1, len(ws) - 1)) AS t(i)),
perms AS (SELECT unnest(range(0, 12)) AS p),
hashed AS (SELECT doc, p, ('0x' || substr(md5(p || ':' || shingle), 1, 15))::BIGINT AS h
           FROM s CROSS JOIN perms),
minh AS (SELECT doc, p, MIN(h) AS minh FROM hashed GROUP BY doc, p),
banded AS (SELECT doc, CAST(p // 3 AS INT) AS band, p, minh FROM minh)
SELECT doc, band, md5(string_agg(p || ':' || minh, '|' ORDER BY p)) AS signature
FROM banded GROUP BY doc, band
"""


def gate_expected(docs: list[dict]) -> dict:
    """Gate verdicts of a first-wins drain: a (doc, band) row is a duplicate
    iff a smaller doc id shares its bucket — arrival order equals id order
    in the feed, so first-seen is the minimum id."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.register("documents", pa.Table.from_pylist(docs))
    rows = con.execute(
        f"""WITH sig AS ({_BANDS_SQL}),
        firsts AS (SELECT band, signature, MIN(doc) AS first_doc FROM sig GROUP BY 1, 2)
        SELECT sig.doc, sig.band, sig.doc > f.first_doc AS is_dup
        FROM sig JOIN firsts f USING (band, signature)"""
    ).fetchall()
    con.close()
    dup_docs = {d for d, _, dup in rows if dup}
    admitted = sorted({d for d, _, _ in rows} - dup_docs)
    return {
        "gate": digest_rows(["doc", "band", "is_dup"], rows),
        "rows": len(rows),
        "admitted": digest_rows(["doc_id"], [(d,) for d in admitted]),
        "n_admitted": len(admitted),
    }

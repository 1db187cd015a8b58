"""Seeded input generator.

Every input the program sees is written here, from ``--seed`` alone: the same
seed gives byte-identical files, and sizes are fixed per workload so that
seeds change content, not volume.  The program receives only these files.
"""

from __future__ import annotations

import json
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

PKG_FIXTURES = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "scalable_data_integration_with_llms_spark",
    "fixtures",
)

# Input sizes per workload, recorded in BENCHMARK.json's "why" lines and in
# README.md.  Changing any of them changes the benchmark.
SIZES = {
    "integrate": {"cases": 32, "ensemble_seeds": 1, "customers": 1500},
    "curate": {"docs": 480, "exact_dup_share": 0.05, "near_dup_share": 0.10,
               "orders": 3000, "lineitems": 12000},
    "ingest": {"files": 3, "docs_per_file": 50, "exact_dup_share": 0.05,
               "near_dup_share": 0.10},
}
# copies used only by the untimed warm-up inside setup: smaller where a
# pass is fixed-cost bound; full size on ingest, whose first pass after a
# small warm-up still ran up to 23% slower than its second
WARM_SIZES = {
    "integrate": {"cases": 8, "ensemble_seeds": 1, "customers": 100},
    "curate": {"docs": 60, "exact_dup_share": 0.05, "near_dup_share": 0.10,
               "orders": 200, "lineitems": 800},
    "ingest": SIZES["ingest"],
}

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
FEED_EPOCH = 1_700_000_000  # mtime of the first feed file; one second apart
LANGS = ["en", "en", "en", "zh", "es", "fr", "de"]
DOC_SCHEMA = pa.schema(
    [
        ("doc_id", pa.int64()),
        ("text", pa.string()),
        ("lang", pa.string()),
        ("source", pa.string()),
        ("n_chars", pa.int64()),
    ]
)


def _write(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


# -- documents ----------------------------------------------------------------


def _lengths(rnd: random.Random, n: int, block: int = 50) -> list[int]:
    """Word counts for ``n`` documents: each run of ``block`` documents
    gets the same spread of lengths from 10 to 100, in seeded order.  The
    stream gate's work grows with words, so a feed file's volume must not
    depend on the seed (uniform random lengths made one seed's drain 40%
    longer than another's)."""
    out: list[int] = []
    for start in range(0, n, block):
        m = min(block, n - start)
        run = [10 + (90 * k) // max(1, m - 1) for k in range(m)]
        rnd.shuffle(run)
        out.extend(run)
    return out


def documents(rnd: random.Random, n: int, exact_share: float, near_share: float,
              first_id: int = 0) -> list[dict]:
    """``n`` documents of 10-100 words over a 31-word vocabulary.  A stated
    share are exact copies of an earlier document's text and another share
    are near copies (one word in twenty replaced, at least one), so the
    dedup steps have real candidate-pair work."""
    n_exact = int(round(n * exact_share))
    n_near = int(round(n * near_share))
    kinds = ["orig"] * (n - n_exact - n_near) + ["exact"] * n_exact + ["near"] * n_near
    # the first document must be an original for copies to have a source
    head, tail = kinds[:1], kinds[1:]
    rnd.shuffle(tail)
    lengths = _lengths(rnd, n)
    out: list[dict] = []
    n_words: list[int] = []
    for i, kind in enumerate(head + tail):
        if kind == "orig" or not out:
            words = [rnd.choice(VOCAB) for _ in range(lengths[i])]
        else:
            # the source is an earlier document as long as this position's
            # length, or the nearest, so copies keep the volume fixed too
            k0 = rnd.randrange(len(out))
            src = min(range(len(out)),
                      key=lambda k: (abs(n_words[k] - lengths[i]), (k - k0) % len(out)))
            words = out[src]["text"].split(" ")
            if kind == "near":
                for _ in range(max(1, len(words) // 20)):
                    words[rnd.randrange(len(words))] = rnd.choice(VOCAB)
        text = " ".join(words)
        n_words.append(len(words))
        out.append(
            {
                "doc_id": first_id + i,
                "text": text,
                "lang": rnd.choice(LANGS),
                "source": f"src{rnd.randrange(20)}",
                "n_chars": len(text),
            }
        )
    return out


# -- relational tables --------------------------------------------------------


def _nation() -> pa.Table:
    return pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )


def _customer(rng: np.random.Generator, n: int) -> pa.Table:
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    return pa.table(
        {
            "c_custkey": pa.array(np.arange(n), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n)],
            "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
            "c_acctbal": np.round(rng.integers(-99999, 1000000, n) / 100.0, 2),
            "c_mktsegment": segs[rng.integers(0, 5, n)],
        }
    )


def _orders_lineitem(rng: np.random.Generator, n_orders: int, n_items: int):
    prios = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    day0 = np.datetime64("1995-01-01")
    odate = day0 + rng.integers(0, 2400, n_orders).astype("timedelta64[D]")
    orders = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_orders), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, 1500, n_orders), pa.int64()),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_orders)],
            "o_totalprice": np.round(rng.integers(100000, 50000000, n_orders) / 100.0, 2),
            "o_orderdate": pa.array(odate.astype("datetime64[us]"), pa.timestamp("us")),
            "o_orderpriority": prios[rng.integers(0, 5, n_orders)],
        }
    )
    okey = rng.integers(0, n_orders, n_items)
    sdate = day0 + rng.integers(0, 2500, n_items).astype("timedelta64[D]")
    lineitem = pa.table(
        {
            "l_orderkey": pa.array(okey, pa.int64()),
            "l_partkey": pa.array(rng.integers(0, 2000, n_items), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, 100, n_items), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_items), pa.int32()),
            "l_quantity": rng.integers(1, 51, n_items).astype(float),
            "l_extendedprice": np.round(rng.integers(90000, 10500000, n_items) / 100.0, 2),
            "l_discount": rng.integers(0, 11, n_items) / 100.0,
            "l_tax": rng.integers(0, 9, n_items) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_items)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_items)],
            "l_shipdate": pa.array(sdate.astype("datetime64[us]"), pa.timestamp("us")),
        }
    )
    return orders, lineitem


# -- matching dataset ---------------------------------------------------------


def _noisy(rnd: random.Random, name: str, taken: set[str]) -> str:
    """Seeded column-name noise: drop, double or swap one character, or
    change the separator.  Names stay unique within their schema side."""
    for _ in range(20):
        chars = list(name)
        op = rnd.randrange(4)
        i = rnd.randrange(len(chars))
        if op == 0 and len(chars) > 3:
            del chars[i]
        elif op == 1:
            chars.insert(i, chars[i])
        elif op == 2 and i + 1 < len(chars):
            chars[i], chars[i + 1] = chars[i + 1], chars[i]
        else:
            chars = list(name.replace("_", "") if "_" in name else name + "_x")
        cand = "".join(chars)
        if cand.lower() not in taken:
            return cand
    return name


def matching_cases(rnd: random.Random, n_cases: int) -> list[dict]:
    """Resample the 64 cases of the vendored reference datasets into
    ``n_cases`` cases in the reference's dataset-JSON layout.  Each case
    gets seeded noise on about a third of its column names, and its gold
    pairs are renamed with them.

    The cases are ranked by size (source columns × target columns) and
    paired with their neighbour in that ranking; the seed picks one case of
    every pair, then the order.  So any seed's first half holds about the
    same number of candidate pairs (5,481 to 7,137 over ten seeds when the
    half was drawn freely)."""
    base = []
    for f in ("ehr_dataset.json", "synthea_dataset.json"):
        with open(os.path.join(PKG_FIXTURES, f)) as fh:
            base.extend(json.load(fh))

    def size(k):
        return len(base[k]["source_schema"]["columns"]) * len(base[k]["target_schema"]["columns"])

    ranked = sorted(range(len(base)), key=lambda k: (size(k), k))
    picked, rest = [], []
    for j in range(0, len(ranked), 2):
        pair = ranked[j:j + 2]
        rnd.shuffle(pair)
        picked.append(pair[0])
        rest.extend(pair[1:])
    order = []
    while len(order) < n_cases:
        rnd.shuffle(picked)
        rnd.shuffle(rest)
        order.extend(picked + rest)
    out = []
    for k in range(n_cases):
        case = json.loads(json.dumps(base[order[k]]))
        renames = {}
        for side in ("source_schema", "target_schema"):
            taken = {c["name"].lower() for c in case[side]["columns"]}
            side_map = {}
            for c in case[side]["columns"]:
                if rnd.random() < 0.35:
                    new = _noisy(rnd, c["name"], taken)
                    taken.add(new.lower())
                    side_map[c["name"].lower()] = new
                    c["name"] = new
            renames[side] = side_map
        case["gold_mapping"] = [
            [
                renames["source_schema"].get(s.lower(), s),
                renames["target_schema"].get(t.lower(), t),
            ]
            for s, t in case["gold_mapping"]
        ]
        case["id"] = f"{case['id']}#{k}"
        out.append(case)
    return out


# -- per-workload entry points ------------------------------------------------


def make_integrate(root: str, seed: int, sizes: dict) -> dict:
    rnd = random.Random(f"integrate:{seed}")
    rng = np.random.default_rng(seed)
    cases = matching_cases(rnd, sizes["cases"])
    os.makedirs(root, exist_ok=True)
    path = os.path.join(root, "matching.json")
    with open(path, "w") as fh:
        json.dump(cases, fh)
    _write(_customer(rng, sizes["customers"]), os.path.join(root, "tables", "customer.parquet"))
    _write(_nation(), os.path.join(root, "tables", "nation.parquet"))
    return {"dataset": path, "tables": os.path.join(root, "tables"), "cases": cases,
            "ensemble_seeds": list(range(1, sizes["ensemble_seeds"] + 1))}


def make_curate(root: str, seed: int, sizes: dict) -> dict:
    rnd = random.Random(f"curate:{seed}")
    rng = np.random.default_rng(seed)
    docs = documents(rnd, sizes["docs"], sizes["exact_dup_share"], sizes["near_dup_share"])
    tdir = os.path.join(root, "tables")
    _write(pa.Table.from_pylist(docs, DOC_SCHEMA), os.path.join(tdir, "documents.parquet"))
    orders, lineitem = _orders_lineitem(rng, sizes["orders"], sizes["lineitems"])
    _write(orders, os.path.join(tdir, "orders.parquet"))
    _write(lineitem, os.path.join(tdir, "lineitem.parquet"))
    return {"tables": tdir}


def make_ingest(root: str, seed: int, sizes: dict) -> dict:
    """The feed: ``files`` small parquet files written in arrival order, one
    micro-batch each under ``maxFilesPerTrigger=1``."""
    rnd = random.Random(f"ingest:{seed}")
    n = sizes["files"] * sizes["docs_per_file"]
    docs = documents(rnd, n, sizes["exact_dup_share"], sizes["near_dup_share"])
    feed = os.path.join(root, "feed")
    per = sizes["docs_per_file"]
    for f in range(sizes["files"]):
        chunk = docs[f * per:(f + 1) * per]
        path = os.path.join(feed, f"part-{f:05d}.parquet")
        _write(pa.Table.from_pylist(chunk, DOC_SCHEMA), path)
        # the file source admits files in modification-time order; files
        # written within one clock tick would otherwise arrive in any order
        os.utime(path, (FEED_EPOCH + f, FEED_EPOCH + f))
    input_bytes = sum(
        os.path.getsize(os.path.join(feed, f)) for f in os.listdir(feed)
    )
    return {"feed": feed, "docs": docs, "input_bytes": input_bytes,
            "per_file": [[d["doc_id"] for d in docs[f * per:(f + 1) * per]]
                         for f in range(sizes["files"])]}


MAKERS = {"integrate": make_integrate, "curate": make_curate, "ingest": make_ingest}


def make(workload: str, root: str, seed: int, warm: bool = False) -> dict:
    sizes = (WARM_SIZES if warm else SIZES)[workload]
    return MAKERS[workload](root, seed, sizes)

#!/usr/bin/env python
"""Compute the next round's driver-verification window (VERDICT rotation
discipline): for every registry query, find the NEWEST driver round whose
CORRECTNESS_r0N.json row is green, then propose a 50-query `_VERIFY_FIRST`
as (changed/new queries first) + (stalest block oldest-round-first,
alphabetical within a round) until the window is full.

    python tools/rotate_window.py                 # report staleness only
    python tools/rotate_window.py q_a q_b ...     # propose a window with
                                                  # these changed/new first

The driver window is the first `--window` (default 50) entries of
``queries()``; paste the proposal into
``scalable_data_integration_with_llms_spark/queries/__init__.py``.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import re
import sys
from collections import Counter

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def newest_green_rounds(root: str = ROOT) -> dict[str, int]:
    """query -> newest driver round with a green row (0 = never)."""
    latest: dict[str, int] = {}
    for f in sorted(glob.glob(os.path.join(root, "CORRECTNESS_r*.json"))):
        m = re.fullmatch(r"CORRECTNESS_r(\d+)\.json", os.path.basename(f))
        if not m:  # skip FULL/SF01/ADVERSARIAL variants — driver rounds only
            continue
        rnd = int(m.group(1))
        for q, v in json.load(open(f)).items():
            ok = (
                isinstance(v, dict)
                and v.get("rows_match")
                and v.get("schema_match")
                and v.get("hash_match") is not False
            )
            if ok:
                latest[q] = max(latest.get(q, 0), rnd)
            else:
                latest.setdefault(q, 0)
    return latest


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("changed", nargs="*", help="changed/new queries to pin first")
    ap.add_argument("--window", type=int, default=50)
    args = ap.parse_args()

    from scalable_data_integration_with_llms_spark.queries import QUERIES
    from scalable_data_integration_with_llms_spark.queries.streaming_q import (
        TWS_QUERIES,
    )

    latest = newest_green_rounds()
    # registry queries with no driver row yet (brand-new) count as round 0
    for q in QUERIES:
        latest.setdefault(q, 0)
    hist = Counter(latest[q] for q in QUERIES)
    print("newest driver-green round -> query count:",
          dict(sorted(hist.items())))

    # the TWS queries register only where their runtime exists
    unknown = [q for q in args.changed if q not in QUERIES and q not in TWS_QUERIES]
    if unknown:
        print(f"ERROR: not in registry: {unknown}")
        return 1

    pinned = list(dict.fromkeys(args.changed))
    stale = sorted(
        (q for q in QUERIES if q not in set(pinned)),
        key=lambda q: (latest[q], q),
    )
    window = (pinned + stale)[: args.window]
    n_changed = len(pinned)
    n_stale = len(window) - n_changed
    oldest_after = min(
        (latest[q] for q in QUERIES if q not in set(window)), default=None
    )
    print(f"\nproposed window ({args.window}): {n_changed} changed/new + "
          f"{n_stale} stalest; oldest standing after this round: r{oldest_after}")
    print("\n_VERIFY_FIRST = [")
    for q in window:
        tag = "changed/new" if q in set(pinned) else f"r{latest[q]}-latest"
        print(f'    "{q}",  # {tag}')
    print("]")
    return 0


if __name__ == "__main__":
    sys.exit(main())

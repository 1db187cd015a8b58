"""Cross-engine deterministic randomness and exact arithmetic.

The reference threads explicit seeds through every RNG (SURVEY §1.4):
``random.Random(seed)`` column shuffles, ``np.random.default_rng(seed)`` value
sampling, torch manual seeds.  Spark's ``F.rand(seed)`` is seeded *per
partition*, so its stream changes with partitioning — a correctness trap when
results must be stable across recomputation AND reproducible against an
oracle engine.

The engine instead derives randomness from ``md5`` of (seed, key): the same
60-bit integer in any engine, any partitioning, any retry.  This is the
"sample-stability discipline" SURVEY §4 calls for, strengthened from
"cache before reuse" to "stateless recompute-stable".

    u = conv(substr(md5(concat(seed,':',key)), 1, 15), 16, 10) / 2^60  ∈ [0,1)

DuckDB-oracle equivalent:  ('0x' || substr(md5(seed||':'||key),1,15))::BIGINT / 2^60

Exact money arithmetic: summing doubles is order-dependent, and Spark's
partial-aggregation order differs from any single-node engine — at 60k rows a
sum can drift ~1e-4, enough to break value-hash comparison even after
rounding.  All money aggregates therefore go through integer cents
(round per row → bigint → exact sum), which is bit-identical in every engine.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

TWO_60 = float(1 << 60)


def hash60(key: Column) -> Column:
    """The cross-engine 60-bit hash of a key string: the first 15 hex digits
    of ``md5(key)`` as a non-negative bigint.  Every md5-derived hash in the
    engine goes through here; callers build their own key string so each
    expression (and its DuckDB twin) stays exactly as written."""
    return F.conv(F.substring(F.md5(key), 1, 15), 16, 10).cast("bigint")


def det_rand(seed: int | str | Column, *key_cols: Column | str) -> Column:
    """Deterministic uniform [0,1) derived from md5(seed, key...).

    Unlike ``F.rand(seed)`` this is a pure function of the row key: stable
    across partitioning, task retries, and engines (see module docstring for
    the DuckDB-oracle equivalent).  ``seed`` may be a column (per-row seeds,
    e.g. the ensemble's seed dimension).
    """
    seed_col = seed if isinstance(seed, Column) else F.lit(str(seed))
    key = F.concat_ws(":", seed_col, *[F.col(c) if isinstance(c, str) else c for c in key_cols])
    return (hash60(key) / F.lit(TWO_60)).cast("double")


def det_shuffle_key(seed: int | str, *key_cols: Column | str) -> Column:
    """Deterministic shuffle ordering key (S1 seeded column shuffle,
    ``utils/data_builder.py:21-24``): sort by md5(seed, name) — an order-only
    surrogate that needs no numeric conversion."""
    key = F.concat_ws(":", F.lit(str(seed)), *[F.col(c) if isinstance(c, str) else c for c in key_cols])
    return F.md5(key)


def cents(col: Column | str, scale: int = 100) -> Column:
    """Per-row exact integer scaling: round(x*scale) as bigint.

    Per-row double ops are order-independent and identical across engines;
    the subsequent bigint SUM is exact.  Present results as
    ``sum_cents / scale / ...`` so both engines perform the same final
    double divisions on identical integers.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.round(c * F.lit(scale), 0).cast("bigint")


def exact_sum_money(col: Column | str, scale: int = 100) -> Column:
    """Exact sum of a double money column, presented as double."""
    return (F.sum(cents(col, scale)) / F.lit(float(scale))).cast("double")


def exact_avg(col: Column | str, scale: int = 100) -> Column:
    """Exact-sum-based average: (sum_cents/scale)/count — the same two double
    divisions in the oracle reproduce it bit-for-bit."""
    return ((F.sum(cents(col, scale)) / F.lit(float(scale))) / F.count(F.lit(1))).cast("double")

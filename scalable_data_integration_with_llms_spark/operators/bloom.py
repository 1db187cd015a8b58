"""Bloom filter: one spec, one position function, one word aggregation and
one probe, shared by the runtime join filter and the contamination sketch.

The filter is ``m`` bits held as ``m/64`` bigint words.  A build key sets
``k`` positions; a probe key is a (possible) member iff all ``k`` of its
positions are set.  The build side aggregates keys → positions → per-word
``BIT_OR`` (:func:`collect_words` / :func:`bitmap`), so the filter is
bounded by ``m`` REGARDLESS of corpus size.  The probe (:func:`contains`) is
two ``element_at`` lookups + a bitwise AND per hash — O(1) per row inside
whole-stage codegen, no explode, no join, no re-aggregation.  (A first cut
indexed a hex-string literal with variable-start ``substr``; UTF8String
substring is O(string length) per row, which benchmarked 20× slower than
the word-array form.)

The words reach the probe in one of two forms, chosen by the caller:

* collected to the driver (:func:`collect_words`) and passed as
  ``F.lit(words)``, a constant-folded array literal — the runtime join
  filter, whose probe then sits in the fact scan BELOW the join Exchange;
* one broadcast row (:func:`bitmap`) whose ``words`` column is attached by
  a 1-row cross join — the contamination sketch, which keeps the filter
  inside the plan.

Two position hashes, named by :attr:`BloomSpec.hash`:

* ``md5``: ``hash60(j:key) % m`` — the cross-engine hash
  (functions/determinism.py), so a DuckDB oracle can recompute every
  position and the false-positive count is exact;
* ``xxhash64``: ``pmod(xxhash64(j, key), m)`` — the JVM-native hash, for
  the runtime filter, whose probe runs on every fact row and whose (exact)
  join result is what the oracle checks.  With md5 positions
  q_bloom_join_pushdown took 7.05 s median against 3.15 s (sf0.1, 4
  cores, 8 alternating pairs).

Keys are canonicalized with ``CAST(key AS STRING)`` before hashing on BOTH
the build and probe side.  ``xxhash64`` hashes by *input type*, so without
the cast a bigint probe key against an int build key (a pairing the
equi-join itself tolerates via implicit widening) would hash differently
and silently drop matching rows — violating the pass-extra-rows-only
guarantee.  The string cast makes the integral/string families agree
(``5`` and ``5L`` both hash as ``"5"``); fractional build/probe type
mismatches (int vs double) are outside the contract, as they are for the
equi-join's own key semantics.

Correctness of a join never depends on the filter: it can only pass extra
rows, and the exact join drops them.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .sketch import hash_position

HASHES = ("md5", "xxhash64")

# The whole filter is ONE value: an array literal serialized into every
# probe task, or one row assembled by a single final aggregation task and
# broadcast.  2^22 bits is 65536 words = 512 KiB, under Spark's 1000 KiB
# task-size warning; larger filters need chunked words, which this module
# does not build.
MAX_M = 1 << 22


@dataclass(frozen=True)
class BloomSpec:
    """The filter's parameters, which must agree between build and probe:
    ``m`` bits (a multiple of 64 in ``[64, MAX_M]``), ``k`` hashes (≥ 1)
    and the position ``hash`` (one of :data:`HASHES`)."""

    m: int
    hash: str
    k: int = 3

    def __post_init__(self) -> None:
        if self.m % 64 != 0 or not 64 <= self.m <= MAX_M:
            raise ValueError(
                f"Bloom m={self.m}: must be a multiple of 64 in [64, {MAX_M}]"
            )
        if self.k < 1:
            raise ValueError(f"Bloom k={self.k}: must be >= 1")
        if self.hash not in HASHES:
            raise ValueError(f"Bloom hash={self.hash!r}: must be one of {HASHES}")


def _positions(spec: BloomSpec, j: Column, key: Column) -> Column:
    """Bit position of ``key`` under hash number ``j``, in ``[0, m)``."""
    if spec.hash == "md5":
        return hash_position(j, key, spec.m)
    return F.pmod(F.xxhash64(j, key.cast("string")), F.lit(spec.m))


def _pow2_literal() -> Column:
    """Array literal of the 64 single-bit words (two's-complement for the
    sign bit) — one object, indexed per row with ``element_at``."""
    return F.lit(
        [b - (1 << 64) if (b := 1 << i) >= (1 << 63) else b for i in range(64)]
    )


def _word_rows(spec: BloomSpec, build: DataFrame, key_col: str) -> DataFrame:
    """(w, bits): the set bits of each non-empty word.

    Keys → k positions → per-word BIT_OR.  Duplicate build keys need no
    pre-``distinct``: BIT_OR is idempotent and the partial (map-side)
    aggregation collapses every partition to ≤ m/64 rows before the
    exchange, so the one shuffle stays bounded by m at any scale."""
    pos = _positions(spec, F.col("j"), F.col("key"))
    return (
        build.select(F.col(key_col).alias("key"))
        .select(F.explode(F.sequence(F.lit(0), F.lit(spec.k - 1))).alias("j"), "key")
        .select(
            (pos / 64).cast("int").alias("w"),
            F.element_at(_pow2_literal(), F.pmod(pos, F.lit(64)).cast("int") + 1).alias("b"),
        )
        .groupBy("w")
        .agg(F.bit_or("b").alias("bits"))
    )


def collect_words(spec: BloomSpec, build: DataFrame, key_col: str) -> list[int]:
    """The filter as m/64 words on the driver (one Spark job, at most m/64
    rows collected — never the positions, never the key set)."""
    words = [0] * (spec.m // 64)
    for row in _word_rows(spec, build, key_col).collect():
        words[int(row.w)] = int(row.bits)
    return words


def bitmap(spec: BloomSpec, build: DataFrame, key_col: str) -> DataFrame:
    """The filter as ONE row holding ``words`` (m/64 bigints): the ≤ m/64
    word rows fold into a dense array in a single final row, m/64·8 bytes
    regardless of corpus size — broadcast it."""
    return (
        _word_rows(spec, build, key_col)
        .agg(F.map_from_entries(F.collect_list(F.struct("w", "bits"))).alias("wm"))
        .select(
            F.transform(
                F.sequence(F.lit(0), F.lit(spec.m // 64 - 1)),
                lambda i: F.coalesce(F.element_at(F.col("wm"), i), F.lit(0)),
            ).alias("words")
        )
    )


def contains(spec: BloomSpec, words: Column, key: Column | str) -> Column:
    """Membership predicate: true iff all k positions of ``key`` are set in
    ``words`` — ``F.lit(collect_words(...))`` or the ``words`` column of a
    broadcast :func:`bitmap` row."""
    key_col = F.col(key) if isinstance(key, str) else key
    pow2 = _pow2_literal()
    pred = None
    for j in range(spec.k):
        pos = _positions(spec, F.lit(j), key_col)
        word = F.element_at(words, (pos / 64).cast("int") + 1)
        bit = F.element_at(pow2, F.pmod(pos, F.lit(64)).cast("int") + 1)
        bit_set = word.bitwiseAND(bit) != 0
        pred = bit_set if pred is None else pred & bit_set
    return pred

"""Count-min sketch — fixed-size frequency summary for heavy-hitter queries
over unbounded key domains (the sketch a 100 TB pipeline keeps when the
exact groupBy's distinct-key state would not fit).

Hashes derive from md5(j ':' key) (functions/determinism.py discipline), so
every cell — and therefore every estimate — is bit-identical in any engine:
the sketch itself is DuckDB-oracle-checkable, no tolerance needed.

Scale shape: keys are pre-aggregated FIRST (one shuffle of distinct keys,
map-side combine does the heavy lifting), then the tiny distinct-key frame
explodes ×depth into cells.  The sketch is depth × width rows regardless of
input size; estimation is a broadcast join against it.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F

from ..functions.determinism import hash60


def hash_position(j: Column, key: Column, width: int) -> Column:
    """Position of ``key`` under hash number ``j`` in a ``width``-slot row:
    ``hash60(j:key) % width`` (non-negative).  Shared by the count-min
    sketch and the md5 Bloom filter (operators/bloom.py)."""
    return hash60(F.concat_ws(":", j.cast("string"), key.cast("string"))) % width


def count_min_cells(
    df: DataFrame, key_col: str, depth: int = 4, width: int = 256
) -> DataFrame:
    """Build the sketch: (j, col, cell) counter matrix, depth × width cells."""
    keyc = df.groupBy(F.col(key_col).alias("key")).agg(F.count(F.lit(1)).alias("cnt"))
    rows = keyc.select(
        "key", "cnt", F.explode(F.sequence(F.lit(0), F.lit(depth - 1))).alias("j")
    )
    return (
        rows.select("j", hash_position(F.col("j"), F.col("key"), width).alias("col"), "cnt")
        .groupBy("j", "col")
        .agg(F.sum("cnt").alias("cell"))
    )


def cms_estimates(
    df: DataFrame, key_col: str, depth: int = 4, width: int = 256
) -> DataFrame:
    """Per-key (exact_cnt, est_cnt): est = min over rows of the key's cell.
    The CMS guarantee est >= exact always holds (collisions only inflate);
    tested as a property and via the exact oracle."""
    cells = count_min_cells(df, key_col, depth, width)
    keyc = df.groupBy(F.col(key_col).alias("key")).agg(
        F.count(F.lit(1)).alias("exact_cnt")
    )
    probes = keyc.select(
        "key",
        "exact_cnt",
        F.explode(F.sequence(F.lit(0), F.lit(depth - 1))).alias("j"),
    ).select(
        "key", "exact_cnt", "j", hash_position(F.col("j"), F.col("key"), width).alias("col")
    )
    return (
        probes.join(F.broadcast(cells), ["j", "col"])
        .groupBy("key", "exact_cnt")
        .agg(F.min("cell").alias("est_cnt"))
    )


# -- KMV (k-minimum-values) distinct sketch ----------------------------------
#
# Unlike HLL (q_approx_distinct_users, whose estimate is engine-specific and
# only bound-assertable), the KMV estimate is a pure function of md5 hashes:
# bit-identical in any engine, so the ESTIMATE ITSELF is value-oracle-able.
# Estimator (Bar-Yossef et al. 2002): with h uniform on [0, 2^60) and h_(k)
# the k-th smallest hash of the distinct keys, n_hat = (k-1) * 2^60 / h_(k).
# With k = 8, (k-1) * 2^60 < 2^63, so the whole estimate stays in exact
# int64 arithmetic (DIV) — no float anywhere in the result.

KMV_K = 8
KMV_TWO_60 = 1 << 60
KMV_SAFETY = 8  # tau-prune keeps ~SAFETY*k hashes per group


def kmv_k_mins(
    df: DataFrame,
    key_col: str,
    group_cols: list[str],
    k: int = KMV_K,
    salt: str = "kmv",
    carry_cols: list[str] | None = None,
) -> DataFrame:
    """The k smallest 60-bit hashes of the DISTINCT keys per group:
    (group..., exact_distinct, rn, h [, carry_cols...]), rn <= min(k, n).

    Scale shape: one distinct shuffle of (group, key, carry); the exact
    count is a map-side-combinable agg reused as the estimate's comparison
    arm; the per-group sort behind row_number runs only on the tau-pruned
    frame (expected SAFETY*k rows per group, never n): tau =
    SAFETY*k*2^60/n keeps every hash that can be among the k minima
    whenever >= k hashes survive.  If fewer than k ever survived, the k-th
    min would be NULL and the consumer (and the DuckDB oracle, which does
    no pruning) fails loud rather than silently estimating off a truncated
    sketch.  The tau comparison is EXACT integer arithmetic (r11, closing
    the r10 verdict observation): ``h < SAFETY*k*2^60 / n`` is evaluated
    as ``h * n < SAFETY*k*2^60`` in decimal(38,0) — h*n <= 2^60 * 1e16
    fits with room — so not even the engine-internal prune carries a
    float.  Ties on h are broken by the key so flag-carrying consumers
    (kmv set ops) stay deterministic even under 60-bit hash collisions.
    """
    carry = carry_cols or []
    d = df.select(
        *group_cols, F.col(key_col).alias("_kmv_key"), *carry
    ).distinct()
    hashed = d.select(
        *group_cols,
        "_kmv_key",
        *carry,
        hash60(F.concat_ws(":", F.lit(salt), F.col("_kmv_key").cast("string"))).alias("h"),
    )
    cnt = hashed.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("exact_distinct")
    )
    # the numerator exceeds int64, so it rides in as a decimal literal
    tau_num = F.expr(f"CAST('{KMV_SAFETY * k * KMV_TWO_60}' AS DECIMAL(38,0))")
    pruned = hashed.join(cnt, group_cols).filter(
        (F.col("exact_distinct") <= F.lit(KMV_SAFETY * k))
        | (F.col("h").cast("decimal(38,0)") * F.col("exact_distinct") < tau_num)
    )
    win = W.partitionBy(*group_cols).orderBy("h", "_kmv_key")
    return (
        pruned.withColumn("rn", F.row_number().over(win))
        .filter(F.col("rn") <= k)
        .drop("_kmv_key")
    )


def kmv_estimate_col(k: int = KMV_K) -> Column:
    """Integer-exact KMV estimate from (exact_distinct, h_k): exact when the
    sketch holds every hash (n < k), else (k-1)*2^60 DIV h_(k)."""
    return F.when(F.col("exact_distinct") < k, F.col("exact_distinct")).otherwise(
        F.expr(f"CAST({(k - 1) * KMV_TWO_60} AS BIGINT) DIV h_k")
    )

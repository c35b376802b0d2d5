"""Skew-handling operators (north rule: salt skewed hosts).

A crawl corpus is host-skewed by construction (a few giant hosts own a
large share of urls — corpus.build_pages_row makes host0 hot on
purpose). Any per-host shuffle therefore funnels the hot host into one
task. The standard fix is salting: shuffle on (key, salt) first so the
hot key's rows spread over S tasks, then combine the S partial results
in a second, tiny shuffle.

These helpers are RESULT-IDENTICAL to their unsalted forms (that is
what the DuckDB oracles of the skew_salted_topk and skew_distinct_count
queries check); the win is plan shape — bounded task size regardless
of key skew:

  - salted_topk:  per-key top-k. Local top-k per (key, salt) prunes to
    ≤ S·k rows per key before the global rank — the classic pattern
    for "N sample urls per host" at 10^12 docs.
  - salted_distinct_count: exact per-key COUNT(DISTINCT v) as two
    hash-aggregations; the first shuffles on (key, v) — high
    cardinality, so no hot task — the second on key over pre-shrunk
    rows.

AQE's skewJoin handles JOIN-side skew automatically (enabled in
session.py); aggregation-side skew needs these explicit rewrites.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F


def salted_topk(
    df: DataFrame,
    key: str,
    order_col: str,
    tiebreak: str,
    k: int = 5,
    salt: int = 16,
) -> DataFrame:
    """Per-key top-k by (order_col DESC, tiebreak ASC), skew-proof.

    Phase 1 ranks within (key, salt) — the hot key is spread over
    ``salt`` tasks and each keeps at most k rows. Phase 2 ranks the
    ≤ salt·k survivors per key. Results are identical to a direct
    window rank; only the shuffle sizes differ.
    """
    salted = df.withColumn("_salt", F.pmod(F.xxhash64(tiebreak), F.lit(salt)))
    w1 = W.partitionBy(key, "_salt").orderBy(F.desc(order_col), F.asc(tiebreak))
    local = salted.withColumn("_r", F.row_number().over(w1)).filter(F.col("_r") <= k)
    w2 = W.partitionBy(key).orderBy(F.desc(order_col), F.asc(tiebreak))
    return (
        local.drop("_salt", "_r")
        .withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
    )


def salted_distinct_count(df: DataFrame, key: str, val: str) -> DataFrame:
    """Exact per-key COUNT(DISTINCT val) without a skewed shuffle:
    dedupe on (key, val) first (high-cardinality shuffle key), then
    count per key over the shrunk set. NULL vals are excluded, matching
    SQL COUNT(DISTINCT val) semantics (the documented equivalence)."""
    return (
        df.select(key, val)
        .groupBy(key, val)
        .agg(F.lit(1))
        .groupBy(key)
        .agg(
            F.sum(F.when(F.col(val).isNotNull(), 1).otherwise(0)).alias("n_distinct")
        )
    )

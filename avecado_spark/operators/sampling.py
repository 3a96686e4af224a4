"""Deterministic corpus sampling / splitting — the selection operators a
training-data pipeline runs after dedup and quality scoring.

Everything here is hash-deterministic, not RNG-based: a row's fate is a
pure function of its key, so (a) the same corpus always yields the same
sample — reruns, retries and resumed jobs agree; (b) samples are stable
under repartitioning and cluster size (Spark's df.sample is seed+
partition-layout dependent — unusable as a corpus contract); (c) any
engine can reproduce the selection, which is what makes the DuckDB
parity gates exact (tests/test_oracle_parity.py).

The bucket function is the first 60 bits of md5(key) (15 hex chars —
below 2^63, so BIGINT-exact in Spark `conv(...,16,10)` and DuckDB
`('0x'||...)::BIGINT` alike), reduced mod `den`. md5 is uniform enough
for allocation and is available JVM-side (no Python in the plan: the
whole operator is one whole-stage-codegen'd filter/projection — at
100 TB these run at scan speed, shuffle-free).

Scale shape: sample_fraction / assign_splits are pure map-side filters
(predicate sits directly over the scan); stratified_take is one window
per stratum — a single hash-partition exchange on the stratum key, the
minimum any exact per-group top-k requires.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def bucket(col: str, den: int, salt: str = "") -> Column:
    """Deterministic bucket in [0, den): first 60 bits of md5 mod den.
    `col` is a column NAME (interpolated into an expression, JVM-side).

    `salt` decorrelates independent decisions over the same key: a
    sample gate and a split carve drawn from the SAME hash are jointly
    deterministic in a degenerate way (e.g. a bucket range can be
    entirely excluded by a mod filter) — each purpose gets its own salt
    and thus an effectively independent hash."""
    if not 0 < den <= 1 << 60:
        raise ValueError(f"den must be in (0, 2^60], got {den}")
    if "'" in salt:
        raise ValueError("salt must not contain quotes")
    sfx = f" || ':{salt}'" if salt else ""
    return F.expr(
        f"CAST(conv(substring(md5(CAST({col} AS STRING){sfx}), 1, 15), "
        f"16, 10) AS BIGINT) % {den}")


def sample_fraction(df: DataFrame, key: str, num: int, den: int,
                    salt: str = "sample") -> DataFrame:
    """Keep exactly the rows whose bucket(key, den) < num — a
    deterministic ~num/den sample, stable across runs/engines/cluster
    sizes. Composable: sample_fraction(col, 1, 16) is a strict subset of
    sample_fraction(col, 2, 16)."""
    return df.where(bucket(key, den, salt) < num)


def assign_splits(df: DataFrame, key: str,
                  splits: list[tuple[str, int]], den: int = 1000,
                  out: str = "split") -> DataFrame:
    """Disjoint named splits by bucket range: splits = [("train", 980),
    ("valid", 10), ("test", 10)] over den=1000 buckets. Weights must sum
    to den (every row lands somewhere; the contract a train/valid/test
    carve needs). Membership is per-key deterministic, so a document
    never migrates between splits across reruns — the leakage guarantee
    training pipelines care about."""
    total = sum(w for _, w in splits)
    if total != den:
        raise ValueError(f"split weights sum to {total}, need den={den}")
    b = bucket(key, den)
    # chained WHEN over cumulative bucket ranges
    lo = 0
    col = None
    for name, w in splits:
        hi = lo + w
        col = (F.when(b < hi, F.lit(name)) if col is None
               else col.when(b < hi, F.lit(name)))
        lo = hi
    return df.withColumn(out, col)


def stratified_take(df: DataFrame, stratum: str, order: list[Column],
                    k: int, out: str = "rnk") -> DataFrame:
    """Exact top-k rows per stratum under a DETERMINISTIC order (callers
    must include a unique tiebreak column, or ranks — and thus the kept
    set — are engine-dependent). One window exchange on the stratum key."""
    w = Window.partitionBy(stratum).orderBy(*order)
    return (df.withColumn(out, F.row_number().over(w))
              .where(F.col(out) <= k))

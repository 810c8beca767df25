"""Explicit skew mitigation: salted joins.

AQE's runtime skew-join split (enabled in session.py) handles most skew in
sort-merge joins, but salting remains the portable answer when (a) the
skewed relation feeds an operator AQE cannot split (streaming joins,
stateful ops), or (b) a single key exceeds what one task can hold even
after splitting.  The pipeline's own skew strategy is hot-key CAPPING
(with logged drops) because super-node blocking keys carry no signal; this
operator is for joins where the hot keys must be KEPT.  ``fan_out``
spreads an under-partitioned scan over the session's cores.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F


def salted_join(big: DataFrame, dim: DataFrame, key: str,
                n_salts: int = 16, salt_source: Column | None = None,
                how: str = "inner") -> DataFrame:
    """Equi-join ``big ⋈ dim`` on ``key`` with the big side salted into
    ``n_salts`` sub-keys and the dim side replicated n_salts× — a hot key's
    rows spread over n_salts tasks instead of one straggler.

    ``salt_source``: expression whose hash spreads the big side (defaults
    to the whole-row-distinct xxhash64 of the key plus a per-partition
    counter via monotonically_increasing_id — deterministic for a given
    partitioning).  Join type 'inner' or 'left' (dim must be key-unique
    for 'left' to preserve multiplicity).
    """
    if salt_source is None:
        salt_source = F.monotonically_increasing_id()
    salted = big.withColumn("_salt",
                            F.pmod(F.xxhash64(salt_source), F.lit(n_salts)))
    replicated = dim.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0).cast("long"),
                                      F.lit(n_salts - 1).cast("long"))))
    out = salted.join(replicated, [key, "_salt"], how)
    return out.drop("_salt")


def fan_out(df: DataFrame) -> DataFrame:
    """Round-robin repartition ``df`` to the session's default parallelism
    when it arrives in fewer partitions — the fixture tables are ONE
    parquet file each, so a generate or Python pass over them otherwise
    runs on one core.  Inputs that are already well-partitioned (any
    at-scale table) keep their partitioning; no shuffle is added."""
    dp = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(dp) if df.rdd.getNumPartitions() < dp else df

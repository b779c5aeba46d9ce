"""Mergeable equi-width histograms + interpolated percentiles.

The deterministic scale path for quantiles: exact ``percentile`` needs a
per-group sort, and ``percentile_approx``'s sketch is engine-opaque (not
reproducible outside the JVM).  A fixed-range equi-width histogram is both
MERGEABLE (bin counts add — per-split/per-day histograms union and re-sum,
the same law as the Count-Min/HLL tables) and exactly reproducible: bin
assignment is integer arithmetic, and the percentile read-off is one linear
interpolation inside the target bin — error bounded by one bin width,
chosen by the ``bins`` parameter, not by data order.

This is the documented extreme-cardinality lever for the adaptive length
gates (`adaptive_length_report`): swap the exact per-stratum percentile for
a |strata| × bins count table with identical plan shape.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cassandra_util_spark.functions.windows import constant_partition_key


def equi_width_histogram(
    df: DataFrame,
    value_col: str,
    lo: float,
    hi: float,
    bins: int = 256,
) -> DataFrame:
    """(bin, cnt) counts over ``bins`` equal slices of [lo, hi); values
    outside clamp to the end bins (open-ended tails, like every monitoring
    histogram).  One partial-aggregated groupBy — map-side combine makes
    the shuffle at most ``bins`` rows per partition."""
    if not lo < hi:
        raise ValueError(f"need lo < hi, got [{lo}, {hi})")
    if bins < 2:
        raise ValueError(f"bins must be >= 2, got {bins}")
    v = F.col(value_col).cast("double")
    raw = F.floor((v - F.lit(float(lo))) / F.lit(float(hi - lo)) * F.lit(bins))
    b = F.least(F.lit(bins - 1), F.greatest(F.lit(0), raw)).cast("bigint")
    return (
        df.select(b.alias("bin"))
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def histogram_percentiles(
    hist: DataFrame,
    percentiles: Sequence[float],
    lo: float,
    hi: float,
    bins: int = 256,
) -> DataFrame:
    """Percentile read-off from a histogram: walk the cumulative counts to
    the target rank, then interpolate linearly inside the target bin.

    All rank arithmetic is exact integers; the interpolation is a fixed
    sequence of double ops over those integers, so two engines (or two
    partitionings, or a merge of per-split histograms) produce identical
    4dp values.  The cumulative window runs over ≤ ``bins`` rows — driver-
    trivial at any corpus size.

    Error vs SQL ``percentile``: ≤ one bin width at large n; at small n add
    the local gap between adjacent order statistics (``percentile``
    interpolates BETWEEN order statistics, this reads off the ceil(p·n)-th
    rank — measured ~1.03 bins at n=150, well under 1 bin at n=1500).

    Output: (p, value) — one row per requested percentile.
    """
    from pyspark.sql import Window

    if not percentiles:
        raise ValueError("need at least one percentile")
    for p in percentiles:
        if not 0.0 < p < 1.0:
            raise ValueError(f"percentiles must be in (0,1), got {p}")
    width = (hi - lo) / bins
    # the frame is <=bins rows by construction; constant-key partition
    # (non-foldable, functions/windows.py) keeps WindowExec quiet
    w = (
        Window.partitionBy(constant_partition_key(F.col("bin")))
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = hist.select(
        "bin",
        "cnt",
        F.sum("cnt").over(w).alias("cum"),
    )
    total = hist.agg(F.sum("cnt").alias("n"))
    ps = None
    for p in percentiles:
        # target rank in [1, n]: ceil(p * n), computed exactly from integers
        row = (
            cum.crossJoin(F.broadcast(total))
            .withColumn("target", F.ceil(F.lit(float(p)) * F.col("n")).cast("bigint"))
            .filter(F.col("cum") >= F.col("target"))
            .orderBy("bin")
            .limit(1)
            .select(
                F.lit(float(p)).alias("p"),
                F.round(
                    F.lit(float(lo))
                    + (
                        F.col("bin").cast("double")
                        + (
                            (F.col("target") - (F.col("cum") - F.col("cnt"))).cast("double")
                            / F.col("cnt")
                        )
                    )
                    * F.lit(float(width)),
                    4,
                ).alias("value"),
            )
        )
        ps = row if ps is None else ps.unionByName(row)
    return ps

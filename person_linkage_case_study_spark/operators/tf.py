"""Splink-style term-frequency adjustments (§2.9 K-surface deepening).

The reference's trained settings carry ``has_tf_adjustments: false`` on
every level (small_sample 03_link_datasets.ipynb settings dumps), so this
is beyond-parity coverage of the public Splink scoring surface: without
TF adjustment, an exact match on "SMITH" counts the same as one on a
one-in-a-million surname; with it, the chance-agreement probability of
the *specific value* replaces the level average.

Semantics (Splink's documented formula, weight ``w`` interpolating from
no adjustment at 0 to full at 1): for an exact match on value ``v`` of a
comparison whose exact level has average u-probability ``u_exact``,

    match_weight += w * (log2(u_exact) - log2(tf(v)))

where ``tf(v)`` is the value's relative frequency in the input. Common
values (tf > u_exact) are penalized, rare ones boosted; the un-adjusted
weight is the tf-weighted average, so EM-trained m/u stay valid.

Scale shape: a TF table is a per-column value histogram — bounded by
column cardinality, not data size — built with one partial-agg groupBy
and broadcast to the scored pairs. The adjustment itself is a broadcast
hash join plus one CASE arm: the pair stream is never shuffled. For a
truly high-cardinality column (tf table over broadcast threshold) the
same join degrades to a shuffled hash join on the value key, which is
exactly what Splink's SQL does on any backend.

The adjustment CASE has one emitter, :func:`tf_adjustment_sql`, in both
SQL dialects of ``operators/gamma.py``: :func:`add_tf_adjustment` runs its
Spark dialect, the DuckDB oracle its DuckDB dialect.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .gamma import SPARK, Comparison, Dialect, case_sql


def term_frequency_table(df: DataFrame, col: str, tf_col: str = "tf") -> DataFrame:
    """(value, tf) — relative frequency of each non-null value of ``col``.

    For a two-frame link, pass the union of both inputs (Splink computes
    TF over the concatenated datasets). One groupBy (map-side partial agg)
    plus a broadcast of the single-row total: no driver-side action.
    """
    counts = df.filter(F.col(col).isNotNull()).groupBy(col).agg(
        F.count(F.lit(1)).alias("__n")
    )
    total = counts.agg(F.sum("__n").alias("__total"))
    return counts.crossJoin(F.broadcast(total)).select(
        F.col(col),
        (F.col("__n").cast("double") / F.col("__total")).alias(tf_col),
    )


def _exact_gamma(c: Comparison) -> int:
    for gamma, lv in c.gamma_levels():
        if lv.kind == "exact":
            return gamma
    raise ValueError(f"comparison {c.col} has no exact level to TF-adjust")


def add_tf_adjustment(
    scored: DataFrame,
    c: Comparison,
    tf_df: DataFrame,
    weight: float = 1.0,
) -> DataFrame:
    """Add ``tf_adjustment`` and ``match_weight_tf`` to scored pairs.

    Joins the (broadcast) TF table on the left value — at the exact-match
    gamma both sides agree, so the left value IS the matched value — and
    applies the formula above only on that gamma; every other level's
    adjustment is 0.
    """
    adj = tf_adjustment_sql(c, SPARK, weight=weight, tf_col="__tf")
    val = f"{c.col}_l"
    tf = tf_df.select(F.col(c.col).alias(val), F.col("tf").alias("__tf"))
    out = scored.join(F.broadcast(tf), on=val, how="left")
    return (
        out.selectExpr("*", f"{adj} AS tf_adjustment")
        .selectExpr("*", "match_weight + tf_adjustment AS match_weight_tf")
        .selectExpr(
            "*",
            "CAST(1.0 AS DOUBLE) / (CAST(1.0 AS DOUBLE)"
            " + power(CAST(2.0 AS DOUBLE), -match_weight_tf))"
            " AS match_probability_tf",
        )
        .drop("__tf")
    )


def tf_adjustment_sql(
    c: Comparison, dialect: Dialect, weight: float = 1.0, tf_col: str = "tf"
) -> str:
    """The adjustment CASE over the exact-match gamma and the joined TF
    column ``tf_col`` (the caller joins the TF table). Raises
    ``ValueError`` when the exact level's u is not positive."""
    g = _exact_gamma(c)
    u_exact = c.u[g]
    if u_exact <= 0:
        raise ValueError(f"u[{g}] must be positive for {c.col}")
    tf = dialect.col(tf_col)
    value = (
        f"{dialect.num(weight)} * ({dialect.num(math.log2(u_exact))} - log2({tf}))"
    )
    return case_sql(
        [(f"{dialect.col(c.gamma_col)} = {g} AND {tf} IS NOT NULL", value)],
        dialect.zero,
    )

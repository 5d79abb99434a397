"""Fellegi-Sunter scoring (SURVEY.md §2.9 K4, K7).

match_weight = log2(λ/(1-λ)) + Σ_k log2(m_k[γ_k]/u_k[γ_k])   (γ_k ≥ 0)
match_probability = 1 / (1 + 2^(-match_weight))

γ = -1 (null level) contributes nothing, exactly as in Splink
(reference 03_link_datasets.ipynb:1266-1352). m/u land in the plan as
literal CASE arms — a broadcast-free constant lookup inside codegen.

One emitter, :func:`match_weight_sql` (per comparison
:func:`log2_bayes_factor_sql`), writes the weight for both SQL dialects of
``operators/gamma.py``: :func:`score_pairs` runs its Spark dialect, the
DuckDB correctness oracles its DuckDB dialect. The dialect switches only
column quoting and float literal binding (the weights read no
Jaro-Winkler); the arm order and the double constants (shortest
round-trip ``repr`` of ``log2(m/u)``) are the same, so engine and oracle
agree bit-for-bit before any rounding.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .gamma import (
    SPARK,
    Comparison,
    ComparisonLevel,
    Dialect,
    add_gammas,
    case_sql,
)


@dataclass
class LinkageModel:
    """A trained Fellegi-Sunter model: prior λ plus per-comparison m/u.

    Serializes to/from a plain dict (the reference pickles Splink's
    settings dict, 03_link_datasets.ipynb:1750-1774); json-safe.
    """

    comparisons: list[Comparison]
    lambda_prior: float = 1e-4
    bayes_factor_cut_columns: float | None = None

    def prior_odds(self) -> float:
        """λ odds, optionally scaled by the cut-column Bayes factor
        (reference 03_link_datasets.ipynb:1986-2000 adjusts λ per pass by
        the Bayes factor of the cut columns — driver-side scalar math M2)."""
        odds = self.lambda_prior / (1 - self.lambda_prior)
        if self.bayes_factor_cut_columns:
            odds *= self.bayes_factor_cut_columns
        return odds

    def to_dict(self) -> dict:
        return {
            "lambda_prior": self.lambda_prior,
            "bayes_factor_cut_columns": self.bayes_factor_cut_columns,
            "comparisons": [
                {
                    "col": c.col,
                    "levels": [
                        {
                            "kind": lv.kind,
                            "threshold": lv.threshold,
                            "band": lv.band,
                        }
                        for lv in c.levels
                    ],
                    "m": c.m,
                    "u": c.u,
                }
                for c in self.comparisons
            ],
        }

    @classmethod
    def from_dict(cls, d: dict) -> "LinkageModel":
        """K10 load path: rebuild a trained model from ``to_dict`` output
        (the reference round-trips Splink settings via pickle and re-uses
        them per pass, 03_link_datasets.ipynb:1750-1774). A malformed
        level list raises ``ValueError`` (see :class:`Comparison`)."""
        comps = [
            Comparison(
                cd["col"],
                [
                    ComparisonLevel(
                        kind=ld["kind"],
                        threshold=ld.get("threshold"),
                        band=ld.get("band"),
                    )
                    for ld in cd["levels"]
                ],
                m=list(cd["m"]),
                u=list(cd["u"]),
            )
            for cd in d["comparisons"]
        ]
        return cls(
            comparisons=comps,
            lambda_prior=d["lambda_prior"],
            bayes_factor_cut_columns=d.get("bayes_factor_cut_columns"),
        )

    def save(self, path: str) -> None:
        """Persist as JSON (json-safe by construction)."""
        import json

        with open(path, "w") as f:
            json.dump(self.to_dict(), f, indent=2)

    @classmethod
    def load(cls, path: str) -> "LinkageModel":
        import json

        with open(path) as f:
            return cls.from_dict(json.load(f))

    def subset(self, cols: list[str]) -> "LinkageModel":
        """Pass-specific model: comparisons filtered to this pass's matching
        columns (reference deep-copies trained settings and filters,
        03_link_datasets.ipynb:1980-1985)."""
        return LinkageModel(
            comparisons=[c for c in self.comparisons if c.col in cols],
            lambda_prior=self.lambda_prior,
            bayes_factor_cut_columns=self.bayes_factor_cut_columns,
        )


def log2_bayes_factor_sql(c: Comparison, dialect: Dialect) -> str:
    """CASE over gamma values → log2(m/u) literal; 0.0 for gamma = -1.
    Raises ``ValueError`` when m or u does not hold one positive value
    per non-null gamma level (a missing gamma would fall to the 0.0 arm)."""
    n = c.n_gamma_levels()
    if len(c.m) != n or len(c.u) != n:
        raise ValueError(
            f"{c.col}: m and u need {n} values (one per non-null level),"
            f" got {len(c.m)} and {len(c.u)}"
        )
    g = dialect.col(c.gamma_col)
    arms = [(f"{g} = -1", dialect.zero)]
    for gamma, (m, u) in enumerate(zip(c.m, c.u)):
        if u <= 0 or m <= 0:
            raise ValueError(f"m/u must be positive for {c.col} gamma={gamma}")
        arms.append((f"{g} = {gamma}", dialect.num(math.log2(m / u))))
    return case_sql(arms, dialect.zero)


def match_weight_sql(model: LinkageModel, dialect: Dialect) -> str:
    """The match weight over ``gamma_*`` columns: the prior's log2 odds
    plus each comparison's CASE, added left to right."""
    return " + ".join(
        [dialect.num(math.log2(model.prior_odds()))]
        + [f"({log2_bayes_factor_sql(c, dialect)})" for c in model.comparisons]
    )


def score_pairs(
    pairs: DataFrame,
    model: LinkageModel,
    threshold_match_probability: float | None = None,
) -> DataFrame:
    """K4/K7: gamma evaluation + FS arithmetic + optional probability filter.

    One projection for gammas, one for the weight sum — Catalyst collapses
    them into a single WholeStageCodegen stage over the blocked join output.
    Each is ONE ``selectExpr`` string (a gateway call per projection, not
    one per CASE node).
    """
    weight_sql = match_weight_sql(model, SPARK)
    # re-scoring a scored frame replaces what this call emits (the
    # selectExpr('*', ...) projections would otherwise add a second,
    # ambiguous column of each name); reading the schema costs fewer
    # gateway calls than a drop, whose name list crosses one name a call
    emitted = ["match_weight", "match_probability"]
    emitted += [c.gamma_col for c in model.comparisons]
    if not set(emitted).isdisjoint(pairs.columns):
        pairs = pairs.drop(*emitted)
    df = add_gammas(pairs, model.comparisons)
    df = df.selectExpr("*", f"{weight_sql} AS match_weight").selectExpr(
        "*",
        "CAST(1.0 AS DOUBLE) / (CAST(1.0 AS DOUBLE)"
        " + power(CAST(2.0 AS DOUBLE), -match_weight)) AS match_probability",
    )
    if threshold_match_probability is not None:
        df = df.filter(F.col("match_probability") >= threshold_match_probability)
    return df

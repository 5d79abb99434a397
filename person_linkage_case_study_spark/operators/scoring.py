"""Fellegi-Sunter scoring (SURVEY.md §2.9 K4, K7).

match_weight = log2(λ/(1-λ)) + Σ_k log2(m_k[γ_k]/u_k[γ_k])   (γ_k ≥ 0)
match_probability = 1 / (1 + 2^(-match_weight))

γ = -1 (null level) contributes nothing, exactly as in Splink
(reference 03_link_datasets.ipynb:1266-1352). m/u land in the plan as
literal CASE arms — a broadcast-free constant lookup inside codegen.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .gamma import Comparison, add_gammas


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
                            **({"sql": lv.sql} if lv.sql else {}),
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
        them per pass, 03_link_datasets.ipynb:1750-1774). Custom levels
        restore their SQL template; a Column expr cannot be serialized, so
        a loaded custom level supports SQL emission but must be re-armed
        with ``expr`` before Spark compilation."""
        from .gamma import Comparison, ComparisonLevel

        comps = [
            Comparison(
                cd["col"],
                [
                    ComparisonLevel(
                        kind=ld["kind"],
                        threshold=ld.get("threshold"),
                        band=ld.get("band"),
                        sql=ld.get("sql"),
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


def _log2_bayes_factor(c: Comparison) -> Column:
    """CASE over gamma values → log2(m/u) literal; 0.0 for gamma = -1."""
    g = F.col(c.gamma_col)
    expr = F.when(g == -1, F.lit(0.0))
    for gamma in range(len(c.m)):
        m, u = c.m[gamma], c.u[gamma]
        if u <= 0 or m <= 0:
            raise ValueError(f"m/u must be positive for {c.col} gamma={gamma}")
        expr = expr.when(g == gamma, F.lit(math.log2(m / u)))
    return expr.otherwise(F.lit(0.0))


def log2_bayes_factor_sql(c: Comparison) -> str:
    """DuckDB SQL mirror of ``_log2_bayes_factor`` — emits the *same* double
    constants (shortest round-trip repr) the Spark plan uses, so oracle and
    engine agree bit-for-bit before any rounding."""
    arms = [f"WHEN {c.gamma_col} = -1 THEN 0.0"]
    for gamma in range(len(c.m)):
        const = math.log2(c.m[gamma] / c.u[gamma])
        arms.append(f"WHEN {c.gamma_col} = {gamma} THEN {const!r}")
    return "CASE " + " ".join(arms) + " ELSE 0.0 END"


def match_weight_sql(model: "LinkageModel") -> str:
    """SQL expression for match_weight over gamma_* columns."""
    parts = [repr(math.log2(model.prior_odds()))]
    parts += [f"({log2_bayes_factor_sql(c)})" for c in model.comparisons]
    return " + ".join(parts)


def _log2_bayes_factor_spark_sql(c: Comparison) -> str:
    """Spark-SQL mirror of :func:`_log2_bayes_factor` (r16 construct
    batching — see ``Comparison.compile_spark_sql``): the same CASE with
    the same left-to-right arm order and the same double constants,
    bound via CAST('<repr>' AS DOUBLE) so each literal is the identical
    IEEE double the Column form's ``F.lit`` bound (bare SQL float
    literals parse as DECIMAL). Raises like the Column form on
    non-positive m/u."""
    arms = ["WHEN `" + c.gamma_col + "` = -1 THEN CAST(0.0 AS DOUBLE)"]
    for gamma in range(len(c.m)):
        m, u = c.m[gamma], c.u[gamma]
        if u <= 0 or m <= 0:
            raise ValueError(f"m/u must be positive for {c.col} gamma={gamma}")
        const = math.log2(m / u)
        arms.append(
            f"WHEN `{c.gamma_col}` = {gamma} THEN CAST('{const!r}' AS DOUBLE)"
        )
    return "CASE " + " ".join(arms) + " ELSE CAST(0.0 AS DOUBLE) END"


def score_pairs(
    pairs: DataFrame,
    model: LinkageModel,
    threshold_match_probability: float | None = None,
    compute_gammas: bool = True,
    jw_strategy: str = "inline",
) -> DataFrame:
    """K4/K7: gamma evaluation + FS arithmetic + optional probability filter.

    One projection for gammas, one for the weight sum — Catalyst collapses
    them into a single WholeStageCodegen stage over the blocked join output.
    ``jw_strategy`` is forwarded to :func:`add_gammas` (see its docstring).
    """
    # re-scoring a scored frame replaces what this call emits (the
    # selectExpr('*', ...) projections would otherwise add a second,
    # ambiguous column of each name)
    emitted = ["match_weight", "match_probability"]
    if compute_gammas:
        emitted += [c.gamma_col for c in model.comparisons]
    pairs = pairs.drop(*emitted)
    df = (
        add_gammas(pairs, model.comparisons, jw_strategy=jw_strategy)
        if compute_gammas
        else pairs
    )
    # the FS sum as ONE selectExpr string (r16 construct batching): same
    # left-associative addition order, same double constants (CAST of
    # the shortest round-trip repr) as the former per-comparison Column
    # chain, so match_weight is bit-identical — pinned by the oracle's
    # value hash and the local-cluster link-identity rung
    weight_sql = " + ".join(
        [f"CAST('{math.log2(model.prior_odds())!r}' AS DOUBLE)"]
        + [f"({_log2_bayes_factor_spark_sql(c)})" for c in model.comparisons]
    )
    df = df.selectExpr("*", f"{weight_sql} AS match_weight").selectExpr(
        "*",
        "CAST(1.0 AS DOUBLE) / (CAST(1.0 AS DOUBLE)"
        " + power(CAST(2.0 AS DOUBLE), -match_weight)) AS match_probability",
    )
    if threshold_match_probability is not None:
        df = df.filter(F.col("match_probability") >= threshold_match_probability)
    return df

"""Parameter estimation (SURVEY.md §2.4 A10/A11, §2.9 K5/K6).

u: random-pair sampling — sample each side, cross-join, gamma-distribute
(the reference calls Splink's ``estimate_u_using_random_sampling(max_pairs=
1e7, seed=1234)``, 03_link_datasets.ipynb:1598-1600).

EM for m: the reference runs Splink EM sessions under a training blocking
rule with λ and u fixed (03_link_datasets.ipynb:1650-1692; the fixing is
deliberate — SURVEY.md §7.3.1). Implementation insight (same as Splink's):
EM over pairs only depends on the *joint gamma pattern counts*, so we run
ONE Spark job to aggregate blocked pairs → (γ_1..γ_K, count) — at most
∏ levels rows — then iterate EM on that tiny table driver-side. Identical
estimates, no per-iteration cluster jobs, no lineage blowup (the
reference needs checkpointing for exactly this, K12).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .blocking import blocked_pairs
from .gamma import Comparison, add_gammas
from .scoring import LinkageModel


def estimate_u(
    left: DataFrame,
    right: DataFrame,
    comparisons: list[Comparison],
    max_pairs: float = 1e7,
    seed: int = 1234,
    sample_keys: tuple[list[str], list[str]] | None = None,
    sample_fractions: tuple[float, float] | None = None,
) -> list[Comparison]:
    """A10/K5: u_k[γ] = share of random cross pairs hitting gamma level γ.

    Samples ~sqrt(max_pairs) rows per side (seeded), cross-joins, and
    gamma-aggregates. Returns comparisons with ``u`` filled in (γ=-1
    excluded from the denominator, as in Splink). Zero counts get a tiny
    floor so downstream log2 stays finite.

    ``sample_keys=( [left key cols], [right key cols] )`` switches from
    Spark's partition-dependent ``sample()`` to the deterministic
    content-hash sampler (operators/sampling.py): reproducible across
    partitionings/retries/engines, which makes trained u parameters stable
    run-to-run at scale — and DuckDB-oracle-able. ``sample_fractions``
    fixes the per-side fractions explicitly (otherwise derived from
    ``max_pairs`` and the side counts, which costs two count jobs).
    """
    if sample_fractions is not None:
        frac_l, frac_r = sample_fractions
    else:
        n_l, n_r = left.count(), right.count()
        target = math.sqrt(max_pairs)
        frac_l = min(1.0, target / max(n_l, 1))
        frac_r = min(1.0, target / max(n_r, 1))
    if sample_keys is not None:
        from .sampling import hash_sample

        sl = hash_sample(left, sample_keys[0], frac_l, seed)
        sr = hash_sample(right, sample_keys[1], frac_r, seed + 1)
    else:
        sl = left.sample(fraction=frac_l, seed=seed)
        sr = right.sample(fraction=frac_r, seed=seed + 1)
    # a small input samples into one partition, and the cross product of
    # two such samples (~max_pairs pairs, each gamma-compared) would run
    # as ONE task: spread the left sample over the cores (after sampling,
    # so the drawn rows do not change) and broadcast the right one, so the
    # product streams the spread side
    sl = sl.repartition(left.sparkSession.sparkContext.defaultParallelism)

    cols = [c.col for c in comparisons]
    pairs = sl.select(*[F.col(c).alias(c + "_l") for c in cols]).crossJoin(
        F.broadcast(sr.select(*[F.col(c).alias(c + "_r") for c in cols]))
    )
    with_gammas = add_gammas(pairs, comparisons)
    aggs = []
    for c in comparisons:
        for g in range(c.n_gamma_levels()):
            aggs.append(
                F.sum((F.col(c.gamma_col) == g).cast("long")).alias(f"{c.col}__{g}")
            )
        aggs.append(
            F.sum((F.col(c.gamma_col) != -1).cast("long")).alias(f"{c.col}__valid")
        )
    row = with_gammas.agg(*aggs).first()
    for c in comparisons:
        valid = row[f"{c.col}__valid"] or 0
        u = []
        for g in range(c.n_gamma_levels()):
            cnt = row[f"{c.col}__{g}"] or 0
            u.append(max(cnt / valid, 1e-9) if valid else 1e-9)
        c.u = u
    return comparisons


def gamma_pattern_counts(
    left: DataFrame,
    right: DataFrame,
    training_block_on: list[str],
    comparisons: list[Comparison],
) -> list[tuple[tuple[int, ...], int]]:
    """One Spark job: blocked pairs under the training rule → joint gamma
    pattern histogram, collected (≤ ∏ levels rows)."""
    cols = list({c.col for c in comparisons} | set(training_block_on))
    pairs = blocked_pairs(left.select(*cols), right.select(*cols), training_block_on)
    # a compared column that is also a blocking key comes out unsuffixed —
    # alias it to both sides (equal by construction), as the cascade does
    for c in comparisons:
        if c.col in training_block_on:
            pairs = pairs.withColumn(f"{c.col}_l", F.col(c.col)).withColumn(
                f"{c.col}_r", F.col(c.col)
            )
    with_gammas = add_gammas(pairs, comparisons)
    gcols = [c.gamma_col for c in comparisons]
    rows = with_gammas.groupBy(*gcols).agg(F.count(F.lit(1)).alias("n")).collect()
    return [(tuple(r[g] for g in gcols), r["n"]) for r in rows]


def estimate_m_em(
    left: DataFrame,
    right: DataFrame,
    training_block_on: list[str],
    model: LinkageModel,
    max_iter: int = 60,
    tol: float = 1e-6,
    history: list | None = None,
) -> LinkageModel:
    """A11/K6: EM for m only — λ fixed, u fixed (the reference's
    ``fix_probability_two_random_records_match=True`` with u held at the
    random-sampling estimate, 03_link_datasets.ipynb:1650-1692).

    E-step / M-step run over the collected pattern histogram; convergence
    when max |Δm| < tol.

    ``history``: pass a list to receive one dict per EM iteration —
    ``{"iteration", "comparison", "gamma", "m", "max_delta"}`` rows (the
    data behind Splink's EM-convergence diagnostics, K11; see
    plans/diagnostics.py ``em_history_table``).
    """
    comps = model.comparisons
    patterns = gamma_pattern_counts(left, right, training_block_on, comps)
    lam = model.lambda_prior
    # init m: mildly informative start (Splink default-style)
    for c in comps:
        k = c.n_gamma_levels()
        if not c.m or len(c.m) != k:
            c.m = [0.9 if g == k - 1 else max(0.1 / max(k - 1, 1), 1e-4) for g in range(k)]

    for _it in range(max_iter):
        # E-step: P(match | pattern) under current params
        num_m = [[0.0] * c.n_gamma_levels() for c in comps]
        den_m = 0.0
        for gammas, n in patterns:
            log_bf = math.log(lam / (1 - lam)) if 0 < lam < 1 else 0.0
            for ci, c in enumerate(comps):
                g = gammas[ci]
                if g >= 0:
                    log_bf += math.log(c.m[g] / c.u[g])
            odds = math.exp(log_bf)
            p = odds / (1 + odds)
            den_m += p * n
            for ci, c in enumerate(comps):
                g = gammas[ci]
                if g >= 0:
                    num_m[ci][g] += p * n
        # M-step: m_k[g] = E[match & gamma=g] / E[match]
        max_delta = 0.0
        for ci, c in enumerate(comps):
            total = sum(num_m[ci]) or 1e-12
            new_m = [max(v / total, 1e-9) for v in num_m[ci]]
            max_delta = max(
                max_delta, max(abs(a - b) for a, b in zip(new_m, c.m))
            )
            c.m = new_m
        if history is not None:
            for c in comps:
                for g, m in enumerate(c.m):
                    history.append(
                        {
                            "iteration": _it,
                            "comparison": c.col,
                            "gamma": g,
                            "m": m,
                            "max_delta": max_delta,
                        }
                    )
        if max_delta < tol:
            break
    return model


def estimate_m_two_sessions(
    left: DataFrame,
    right: DataFrame,
    training_rules: list[list[str]],
    model: LinkageModel,
    max_iter: int = 60,
    tol: float = 1e-6,
    histories: list | None = None,
) -> LinkageModel:
    """K6 multi-session training, Splink-style: run one EM session per
    training blocking rule; a session cannot estimate m for comparisons on
    its own blocking columns (they are equal by construction inside the
    blocked pairs), so each session estimates only the others, and
    per-(comparison, gamma) estimates are combined as the mean over the
    sessions that estimated them (the reference runs exactly two sessions —
    block-on-name and block-on-DOB — and lets Splink combine,
    03_link_datasets.ipynb:1650-1692).
    """
    estimates: dict[str, list[list[float]]] = {c.col: [] for c in model.comparisons}
    for rule in training_rules:
        session = LinkageModel(
            comparisons=[], lambda_prior=model.lambda_prior,
            bayes_factor_cut_columns=model.bayes_factor_cut_columns,
        )
        # deep-ish copy: fresh Comparison m lists so sessions don't alias
        session.comparisons = [
            Comparison(c.col, c.levels, m=[], u=list(c.u))
            for c in model.comparisons
            if c.col not in rule
        ]
        hist: list | None = [] if histories is not None else None
        estimate_m_em(left, right, rule, session, max_iter=max_iter, tol=tol, history=hist)
        if histories is not None:
            histories.append(hist)
        for c in session.comparisons:
            estimates[c.col].append(c.m)
    for c in model.comparisons:
        ests = estimates[c.col]
        if not ests:
            continue
        c.m = [
            sum(e[g] for e in ests) / len(ests) for g in range(c.n_gamma_levels())
        ]
    return model


def lambda_from_expected_match_rate(
    n_left: int, n_right: int, expected_matches: float
) -> float:
    """M2: closed-form prior — λ = expected matches / candidate pair space
    (the reference's hand prior calculator, 03_link_datasets.ipynb:1322-1351)."""
    total = n_left * n_right
    return min(max(expected_matches / max(total, 1), 1e-12), 1 - 1e-12)


def probability_two_random_records_match(
    input_file: DataFrame,
    reference_file: DataFrame,
    input_person_col: str = "record_id_raw_input_file",
    reference_person_col: str = "pik",
) -> float:
    """The reference's closed-form λ calculator
    (03_link_datasets.ipynb:1266-1351), ported exactly:

    - people in input ≈ distinct raw input records × 0.95 (some duplication)
    - people in reference ≈ distinct PIKs × 0.995
    - people in both ≈ 90% of input people
    - expected true matches per person = (records-per-person on each side)
      multiplied under independence; λ = expected matches / |input|·|ref|.

    One count+count_distinct aggregate per side (two jobs total) + scalar
    math; returns 0.5 for empty inputs (the reference's "does not matter"
    branch).
    """
    ri = input_file.agg(
        F.count(F.lit(1)).alias("n"), F.count_distinct(input_person_col).alias("d")
    ).first()
    rr = reference_file.agg(
        F.count(F.lit(1)).alias("n"), F.count_distinct(reference_person_col).alias("d")
    ).first()
    n_input, n_ref = ri["n"], rr["n"]
    if n_input == 0 or n_ref == 0:
        return 0.5
    people_input = ri["d"] * 0.95
    people_ref = rr["d"] * 0.995
    people_both = people_input * 0.9
    input_records_per_person = people_input / n_input
    ref_records_per_person = people_ref / n_ref
    matches = people_both * input_records_per_person * ref_records_per_person
    return matches / (n_input * n_ref)

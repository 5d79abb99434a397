"""The complete PVS linkage pipeline — notebook-03 end-to-end parity.

``run_full_pvs_cascade`` reproduces the reference's whole flow
(03_link_datasets.ipynb): geosearch (5 passes) → namesearch (4) →
dobsearch (4) → build the HHComp reference file from the partially-PIKed
state → hhcompsearch (2) → final 1:1 PIK attach. The λ prior is computed
with the reference's closed-form calculator per module's reference file.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..operators.estimation import probability_two_random_records_match
from ..operators.scoring import LinkageModel
from .cascade import CascadeConfig, PersonLinkageCascade, default_cascade_config
from .hhcomp import add_pseudo_household_id, build_hhcomp_reference_file


def run_full_pvs_cascade(
    spark: SparkSession,
    census: DataFrame,
    geobase_reference_file: DataFrame,
    name_dob_reference_file: DataFrame,
    model: LinkageModel,
    dates_of_death: DataFrame | None = None,
    config: CascadeConfig | None = None,
    census_raw: DataFrame | None = None,
    collect_stats: bool | None = None,
) -> tuple[DataFrame, DataFrame, PersonLinkageCascade]:
    """Run all four modules; returns (confirmed_piks, census_piked, cascade).

    ``census`` must be preprocessed (plans.preprocess.preprocess_census);
    the HHComp module's reference file is constructed mid-cascade from the
    confirmed state, exactly as the reference does (03:2982-3131).
    ``census_raw`` (for the final attach) defaults to distinct raw ids of
    the preprocessed input. The cascade keeps the census cached for the
    returned frames; ``cascade.release()`` drops it once they are consumed.

    ``collect_stats`` is accepted and ignored: the cascade has one
    execution path and always observes its statistics (``cascade.stats``,
    ``cascade.confirm_stats``) inside the actions it runs anyway. The
    keyword stays so that callers written for the former second mode,
    such as the benchmark's pvs workload (``collect_stats=False``), run
    unchanged.
    """
    census = add_pseudo_household_id(census)
    config = config or default_cascade_config()

    # λ from the closed-form calculator against the primary reference file
    model.lambda_prior = probability_two_random_records_match(
        census, geobase_reference_file
    )

    cascade = PersonLinkageCascade(
        spark,
        census,
        {
            "geobase_reference_file": geobase_reference_file,
            "name_dob_reference_file": name_dob_reference_file,
        },
        model,
        dates_of_death=dates_of_death,
    )
    for mod in config.modules:
        if mod.reference_file_name == "hhcomp_reference_file":
            # materialised once: the module's passes, its reference
            # profile and its confirm step would each re-run the plan
            hhcomp = cascade._truncate(
                build_hhcomp_reference_file(
                    census, geobase_reference_file, cascade.confirmed_piks
                )
            )
            cascade.reference_files["hhcomp_reference_file"] = hhcomp
        cascade.start_module(mod)
        for p in mod.passes:
            cascade.run_matching_pass(p)
        cascade.confirm_piks()

    if census_raw is None:
        census_raw = census.select(
            census["record_id_raw_input_file"].alias("record_id")
        ).distinct()
    census_piked = cascade.attach_piks(census_raw)
    return cascade.confirmed_piks, census_piked, cascade


def bucket_reference_file(
    spark: SparkSession,
    reference_file: DataFrame,
    table: str,
    blocking_cols: list[str],
    num_buckets: int = 32,
    path: str | None = None,
) -> DataFrame:
    """Pay the reference-file shuffle ONCE at write; every cascade pass
    that blocks on ``blocking_cols`` then reads it pre-partitioned — no
    Exchange on the reference side of the block join (the scale fix for
    geobase at 100 TB: geosearch's geokey passes re-join the same ~file
    repeatedly; reference 03_link_datasets.ipynb re-reads it per pass).

    Returns the bucketed read-back DataFrame — drop it straight into
    ``PersonLinkageCascade``'s ``reference_files`` dict. Plan-pinned by
    tests/test_cascade_bucketed.py through ``build_pass_links``.
    """
    from ..sources.io import read_bucketed, write_bucketed

    write_bucketed(
        reference_file, table, blocking_cols, num_buckets=num_buckets, path=path
    )
    return read_bucketed(spark, table)

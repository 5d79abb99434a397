"""Input-file preprocessing (SURVEY.md §7.1 step 7; reference notebook 03
front half, 03_link_datasets.ipynb:406-1051).

Everything here is a narrow, shuffle-free projection except GQ detection
(one groupBy on geokey) and the fake-name lookup (broadcast join) — on a
cluster this whole stage is a single scan over the input file.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.phonetics import nysiis_udf, reverse_soundex, soundex
from ..functions.standardize import (
    add_first_last_initial_categories,
    add_geokey,
    add_truncated_name_cols,
    add_zip3,
    split_dob,
    standardize_address_part,
)
from ..operators.blocking import sql_ident

NICKNAME_STANDARDIZATIONS = {
    "Bill": "William",
    "Chuck": "Charles",
    "Charlie": "Charles",
    "Cathy": "Catherine",
    "Matt": "Matthew",
}

ADDRESS_COLS = ["street_number", "street_name", "unit_number", "city", "state", "zipcode"]


def expand_nicknames(census: DataFrame, spark=None) -> DataFrame:
    """Append extra rows with nickname → formal first_name
    (reference 03_link_datasets.ipynb:406-435). The original rows stay; the
    duplicate-record_id bookkeeping is handled by re-keying in
    :func:`preprocess_census`."""
    mapping = F.create_map(
        *[F.lit(x) for kv in NICKNAME_STANDARDIZATIONS.items() for x in kv]
    )
    expanded = census.filter(
        F.col("first_name").isin(*NICKNAME_STANDARDIZATIONS.keys())
    ).withColumn("first_name", mapping[F.col("first_name")])
    return census.unionByName(expanded)


def blank_fake_names(census: DataFrame, fake_names: DataFrame) -> DataFrame:
    """NULL out first/last names found on the PVS fake-name list
    (reference 03_link_datasets.ipynb:460-528). ``fake_names`` is a 1-column
    (``fake_name``) table, normalized here and broadcast — a 770-row dim.
    """
    fn = (
        fake_names.select(F.upper(F.trim(F.col("fake_name"))).alias("fake_name"))
        .na.drop()
        .distinct()
    )
    out = census
    for col in ["first_name", "last_name"]:
        out = (
            out.join(
                F.broadcast(fn),
                F.upper(F.col(col)) == fn["fake_name"],
                "left",
            )
            .withColumn(
                col,
                F.when(F.col("fake_name").isNotNull(), F.lit(None)).otherwise(
                    F.col(col)
                ),
            )
            .drop("fake_name")
        )
    return out


def suppress_gq_geokeys(
    df: DataFrame,
    gq_geokeys: DataFrame,
) -> DataFrame:
    """Blank the *_for_blocking address columns for probable-GQ geokeys
    (reference 03_link_datasets.ipynb:830-888). The reference does this with
    a split-concat; a single conditional projection does the same with no
    shuffle (SURVEY.md P10)."""
    marked = df.join(
        F.broadcast(gq_geokeys.select("geokey").withColumn("is_gq", F.lit(True))),
        on="geokey",
        how="left",
    )
    is_gq = F.coalesce(F.col("is_gq"), F.lit(False))
    out = marked
    for src, dst in [
        ("geokey", "geokey_for_blocking"),
        ("street_number", "street_number_for_blocking"),
        ("street_name", "street_name_for_blocking"),
    ]:
        out = out.withColumn(
            dst, F.when(is_gq, F.lit(None).cast("string")).otherwise(F.col(src))
        )
    return out.drop("is_gq")


def detect_gq_geokeys(census: DataFrame, threshold: int) -> DataFrame:
    """A2: probable group-quarters geokeys — per geokey, ≥ threshold records
    reporting GQ housing AND ≥70% GQ share
    (reference 03_link_datasets.ipynb:775-818)."""
    return (
        census.filter(F.col("housing_type").isNotNull())
        .withColumn("reported_gq", (F.col("housing_type") != "Household").cast("int"))
        .groupBy("geokey")
        .agg(F.sum("reported_gq").alias("gq_sum"), F.avg("reported_gq").alias("gq_mean"))
        .filter((F.col("gq_sum") >= threshold) & (F.col("gq_mean") >= 0.70))
    )


def add_phonetics(df: DataFrame, street: bool = True, names: bool = True) -> DataFrame:
    """X1: NYSIIS + reverse Soundex on names, Soundex on street name
    (reference 03_link_datasets.ipynb:944-1001)."""
    if names:
        for col in ["first_name", "last_name"]:
            df = df.withColumn(f"{col}_nysiis", nysiis_udf(F.col(col))).withColumn(
                f"{col}_reverse_soundex", reverse_soundex(F.col(col))
            )
    if street and "street_name_for_blocking" in df.columns:
        df = df.withColumn(
            "street_name_for_blocking_soundex",
            soundex(F.col("street_name_for_blocking")),
        )
    return df


def preprocess_census(
    census_raw: DataFrame,
    fake_names: DataFrame,
    gq_threshold: int = 2,
    dob_format: str = "MM/dd/yyyy",
) -> DataFrame:
    """Full notebook-03 front-half pipeline over the raw census input.

    Returns the linkage-ready input file with ``record_id_raw_input_file``
    preserved (one raw record may yield several linkage records via
    nickname expansion — dedup downstream must key on the raw id,
    SURVEY.md §7.3.5) and a fresh unique ``record_id``.
    """
    df = census_raw.withColumnRenamed("record_id", "record_id_raw_input_file")
    df = expand_nicknames(df)
    # re-key: raw id + a name-variant discriminator keeps ids deterministic
    w = Window.partitionBy("record_id_raw_input_file").orderBy(
        F.coalesce(F.col("first_name"), F.lit(""))
    )
    df = df.withColumn(
        "record_id",
        F.concat_ws(
            "_",
            F.lit("census_2030_preprocessed"),
            F.col("record_id_raw_input_file"),
            (F.row_number().over(w) - 1).cast("string"),
        ),
    )
    df = blank_fake_names(df, fake_names)
    for c in ADDRESS_COLS:
        df = df.withColumn(c, standardize_address_part(F.col(c)))
    # drop records with no name at all (reference 03:661-663)
    df = df.filter(F.col("first_name").isNotNull() | F.col("last_name").isNotNull())
    df = split_dob(df, dob_format)
    df = add_geokey(df)
    gq = detect_gq_geokeys(df, gq_threshold)
    df = suppress_gq_geokeys(df, gq)
    df = add_truncated_name_cols(df)
    df = add_phonetics(df)
    df = add_zip3(df)
    df = add_first_last_initial_categories(df)
    return df


def preprocess_reference_file(
    ref_raw: DataFrame,
    gq_geokeys: DataFrame | None = None,
    has_address: bool = True,
    dob_format: str = "yyyyMMdd",
) -> DataFrame:
    """Reference-file preprocessing: strip mailing_address_ prefixes, split
    DOB, derive keys/phonetics (reference 03_link_datasets.ipynb:690-724,
    935-1051)."""
    # one projection, in column order, for every prefix stripped
    df = ref_raw.selectExpr(
        *[
            f"{sql_ident(c)} AS {sql_ident(c.removeprefix('mailing_address_'))}"
            for c in ref_raw.columns
        ]
    )
    df = split_dob(df, dob_format)
    if has_address:
        for c in ADDRESS_COLS:
            if c in df.columns:
                df = df.withColumn(c, standardize_address_part(F.col(c)))
        df = add_geokey(df)
        if gq_geokeys is not None:
            df = suppress_gq_geokeys(df, gq_geokeys)
        else:
            # no GQ suppression: blocking columns are plain copies
            for src, dst in [
                ("geokey", "geokey_for_blocking"),
                ("street_number", "street_number_for_blocking"),
                ("street_name", "street_name_for_blocking"),
            ]:
                df = df.withColumn(dst, F.col(src))
        df = add_zip3(df)
    df = add_truncated_name_cols(df)
    df = add_phonetics(df, street=has_address)
    df = add_first_last_initial_categories(df)
    return df

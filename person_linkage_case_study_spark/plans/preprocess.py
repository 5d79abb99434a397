"""Input-file preprocessing (SURVEY.md §7.1 step 7; reference notebook 03
front half, 03_link_datasets.ipynb:406-1051).

Each stage is one projection of SQL strings (``selectExpr``) emitted by
``functions/standardize.py`` and ``functions/phonetics.py``, so planning a
file costs a few py4j round trips per column, not several per derived
column; NYSIIS is the jar's JVM UDF when it loads, so no Python worker runs.
The census stages are rename and nickname expansion, the re-key window,
fake-name blanking, standardisation with the DOB split and geokey, GQ
suppression, and the truncations, phonetics, zip3 and initial cuts.

Two operators shuffle: GQ detection (one groupBy on geokey) and the
census re-key's ``row_number`` window, partitioned by the raw record id.
The fake-name lookup and the GQ suppression are broadcast joins; the rest
is narrow projection.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.phonetics import phonetic_cols
from ..functions.standardize import (
    ADDRESS_PARTS,
    dob_parts,
    geokey,
    initial_cut_cols,
    sql_string,
    standardize_address_part,
    truncated_name_cols,
    zip3,
)
from ..operators.blocking import sql_ident

NICKNAME_STANDARDIZATIONS = {
    "Bill": "William",
    "Chuck": "Charles",
    "Charlie": "Charles",
    "Cathy": "Catherine",
    "Matt": "Matthew",
}

NAME_COLS = ["first_name", "last_name"]

#: blocking column → the column it copies (blanked for probable-GQ geokeys)
BLOCKING_COPIES = {
    "geokey_for_blocking": "geokey",
    "street_number_for_blocking": "street_number",
    "street_name_for_blocking": "street_name",
}

# re-key: raw id + a name-variant discriminator keeps ids deterministic
_REKEY = (
    "concat_ws('_', 'census_2030_preprocessed', record_id_raw_input_file,"
    " CAST(row_number() OVER (PARTITION BY record_id_raw_input_file"
    " ORDER BY coalesce(first_name, '')) - 1 AS STRING))"
)


def _with(df: DataFrame, exprs: dict[str, str], drop: tuple[str, ...] = ()) -> DataFrame:
    """``df`` with each ``name: sql`` of ``exprs`` set in one projection,
    as a chain of ``withColumn`` calls would set it: a column ``df`` has
    keeps its place, a new one is appended in order, and the ``drop``
    columns are left out. Every SQL string reads ``df``'s columns."""
    columns = df.columns
    return df.selectExpr(
        *[
            f"{exprs[c]} AS {sql_ident(c)}" if c in exprs else sql_ident(c)
            for c in columns
            if c not in drop
        ],
        *[f"{sql} AS {sql_ident(c)}" for c, sql in exprs.items() if c not in columns],
    )


def expand_nicknames(census: DataFrame) -> DataFrame:
    """Append extra rows with nickname → formal first_name
    (reference 03_link_datasets.ipynb:406-435). The original rows stay; the
    duplicate-record_id bookkeeping is handled by re-keying in
    :func:`preprocess_census`."""
    nicknames = ", ".join(sql_string(k) for k in NICKNAME_STANDARDIZATIONS)
    formal = " ".join(
        f"WHEN {sql_string(k)} THEN {sql_string(v)}"
        for k, v in NICKNAME_STANDARDIZATIONS.items()
    )
    expanded = _with(
        census.where(f"first_name IN ({nicknames})"),
        {"first_name": f"CASE first_name {formal} END"},
    )
    return census.unionByName(expanded)


def blank_fake_names(census: DataFrame, fake_names: DataFrame) -> DataFrame:
    """NULL out first/last names found on the PVS fake-name list
    (reference 03_link_datasets.ipynb:460-528). ``fake_names`` is a 1-column
    (``fake_name``) table, normalized here and broadcast — a 770-row dim.
    """
    fn = (
        fake_names.selectExpr("upper(trim(fake_name)) AS fake_name")
        .where("fake_name IS NOT NULL")
        .distinct()
    )
    out = census
    for col in NAME_COLS:
        out = out.join(
            F.broadcast(fn.withColumnRenamed("fake_name", f"fake_{col}")),
            F.expr(f"upper({col}) = fake_{col}"),
            "left",
        )
    return _with(
        out,
        {c: f"CASE WHEN fake_{c} IS NOT NULL THEN NULL ELSE {c} END" for c in NAME_COLS},
        drop=tuple(f"fake_{c}" for c in NAME_COLS),
    )


def standardize(df: DataFrame, dob_format: str, address: bool = True) -> DataFrame:
    """Address parts standardized in place, the DOB split into its parts
    and, with ``address``, the geokey of the standardized parts: one
    projection."""
    std = {}
    if address:
        std = {
            c: standardize_address_part(sql_ident(c))
            for c in ADDRESS_PARTS
            if c in df.columns
        }
    exprs = {**std, **dob_parts("date_of_birth", dob_format)}
    if address:
        exprs["geokey"] = geokey([std.get(c, sql_ident(c)) for c in ADDRESS_PARTS])
    return _with(df, exprs, drop=("date_of_birth",))


def suppress_gq_geokeys(df: DataFrame, gq_geokeys: DataFrame | None) -> DataFrame:
    """The :data:`BLOCKING_COPIES` of the address columns, blank for
    probable-GQ geokeys (reference 03_link_datasets.ipynb:830-888), or
    plain copies when ``gq_geokeys`` is None. The reference does this with
    a split-concat; a single conditional projection does the same with no
    shuffle (SURVEY.md P10)."""
    if gq_geokeys is None:
        return _with(df, BLOCKING_COPIES)
    marked = df.join(
        F.broadcast(gq_geokeys.selectExpr("geokey", "TRUE AS is_gq")),
        on="geokey",
        how="left",
    )
    return _with(
        marked,
        {dst: f"CASE WHEN is_gq THEN NULL ELSE {src} END" for dst, src in BLOCKING_COPIES.items()},
        drop=("is_gq",),
    )


def detect_gq_geokeys(census: DataFrame, threshold: int) -> DataFrame:
    """A2: probable group-quarters geokeys — per geokey, ≥ threshold records
    reporting GQ housing AND ≥70% GQ share
    (reference 03_link_datasets.ipynb:775-818)."""
    reported_gq = "CAST(housing_type != 'Household' AS INT)"
    return (
        census.where("housing_type IS NOT NULL")
        .groupBy("geokey")
        .agg(
            F.expr(f"sum({reported_gq}) AS gq_sum"),
            F.expr(f"avg({reported_gq}) AS gq_mean"),
        )
        .where(f"gq_sum >= {int(threshold)} AND gq_mean >= 0.7D")
    )


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
    df = expand_nicknames(
        census_raw.withColumnRenamed("record_id", "record_id_raw_input_file")
    )
    df = _with(df, {"record_id": _REKEY})
    # drop records with no name at all (reference 03:661-663)
    df = blank_fake_names(df, fake_names).where(
        "first_name IS NOT NULL OR last_name IS NOT NULL"
    )
    df = standardize(df, dob_format)
    df = suppress_gq_geokeys(df, detect_gq_geokeys(df, gq_threshold))
    return _with(
        df,
        {
            **truncated_name_cols(df.columns),
            **phonetic_cols(df.sparkSession),
            "zip3": zip3("zipcode"),
            **initial_cut_cols(),
        },
    )


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
    df = standardize(df, dob_format, address=has_address)
    exprs = {}
    if has_address:
        df = suppress_gq_geokeys(df, gq_geokeys)
        exprs["zip3"] = zip3("zipcode")
    return _with(
        df,
        {
            **exprs,
            **truncated_name_cols(df.columns),
            **phonetic_cols(df.sparkSession, street=has_address),
            **initial_cut_cols(),
        },
    )

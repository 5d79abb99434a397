"""Standardization / derived-variable functions (SURVEY.md §2.8, F1-F14).

Each function emits the Spark SQL of one derived variable from the
reference's preprocessing (03_link_datasets.ipynb:406-1051), over SQL
operand expressions, as ``operators/gamma.py`` does for gammas: a stage of
``plans/preprocess.py`` is then one ``selectExpr`` of these strings
instead of a chain of ``withColumn`` calls, each a py4j round trip. All of
it is JVM built-ins — no Python in the hot path. Semantics (including null
handling) match the pandas originals, with ``""`` normalized to NULL the
way the reference normalizes to ``pandas.NA``. The regex literals are
Spark raw strings (``r'\\s+'``), read as such under Spark's default
``spark.sql.parser.escapedStringLiterals=false``.
"""

from __future__ import annotations

ADDRESS_PARTS = ["street_number", "street_name", "unit_number", "city", "state", "zipcode"]


def sql_string(value: str) -> str:
    """``value`` as a Spark SQL string literal."""
    return "'" + value.replace("\\", "\\\\").replace("'", "\\'") + "'"


def normalize_missing(sql: str) -> str:
    """P9: represent missingness consistently — empty string → NULL
    (reference 03_link_datasets.ipynb:546,760)."""
    return f"nullif({sql}, '')"


def standardize_address_part(sql: str) -> str:
    """F1-F3: trim, collapse whitespace, uppercase, STREET|STR → ST,
    "" → NULL (reference 03_link_datasets.ipynb:533-547)."""
    c = f"upper(regexp_replace(trim({sql}), r'\\s+', ' '))"
    return normalize_missing(f"regexp_replace({c}, r'\\b(STREET|STR)\\b', 'ST')")


def geokey(parts: list[str]) -> str:
    """F7: space-joined address key over the SQL of the
    :data:`ADDRESS_PARTS`, whitespace-normalized, NULL if empty (reference
    03_link_datasets.ipynb:739-761).

    ``concat_ws`` skips NULLs (matching the reference's NA-filled
    ``add_strings``); collapsing whitespace then handles the double spaces
    left by missing middle parts.
    """
    joined = f"concat_ws(' ', {', '.join(parts)})"
    return normalize_missing(f"trim(regexp_replace({joined}, r'\\s+', ' '))")


def dob_parts(sql: str, date_format: str = "yyyyMMdd") -> dict[str, str]:
    """D1-D2: month/year/day_of_birth ints of the date of birth ``sql``,
    parsed with coercion (reference 03_link_datasets.ipynb:703-720); the
    caller drops the source column.

    ``try_to_date`` returns NULL on unparseable input — the same semantics
    as ``pd.to_datetime(errors="coerce")``. Plain ``to_date`` is NOT that:
    under Spark 4's default ANSI mode it throws on the first malformed
    string (found by the S7 e2e test: wrong-digit noise can corrupt a DOB
    separator, '12/24/1970' → '12424/1970'). Spark's nullable IntegerType
    avoids the reference's float upcast (SURVEY.md §1.4).
    """
    dob = f"try_to_date({sql}, {sql_string(date_format)})"
    return {
        "month_of_birth": f"month({dob})",
        "year_of_birth": f"year({dob})",
        "day_of_birth": f"dayofmonth({dob})",
    }


def zip3(sql: str) -> str:
    """F5: zip3 cut column (reference 03_link_datasets.ipynb:1020-1021)."""
    return f"substring({sql}, 1, 3)"


def initial_cut(sql: str) -> str:
    """F13: NORC name-cut buckets — first char of name; A-or-blank, B..T,
    U-Z (reference 03_link_datasets.ipynb:1024-1036)."""
    first = f"substring(coalesce({sql}, 'A'), 1, 1)"
    return (
        f"CASE WHEN {first} = 'A' THEN 'A-or-blank'"
        f" WHEN {first} IN ('U', 'V', 'W', 'X', 'Y', 'Z') THEN 'U-Z'"
        f" ELSE {first} END"
    )


def initial_cut_cols() -> dict[str, str]:
    """The first- and last-name cut columns."""
    return {
        "first_initial_cut": initial_cut("first_name"),
        "last_initial_cut": initial_cut("last_name"),
    }


def truncated_name_cols(columns: list[str]) -> dict[str, str]:
    """F5: PVS truncated matching/blocking name columns of a frame with
    ``columns`` (reference 03_link_datasets.ipynb:913-927)."""
    out = {
        "first_name_15": "substring(first_name, 1, 15)",
        "last_name_12": "substring(last_name, 1, 12)",
    }
    if "middle_name" in columns and "middle_initial" not in columns:
        out["middle_initial"] = "substring(middle_name, 1, 1)"
    for n in (1, 2, 3):
        out[f"first_name_{n}"] = f"substring(first_name, 1, {n})"
        out[f"last_name_{n}"] = f"substring(last_name, 1, {n})"
    return out

from .phonetics import nysiis_sql_function, nysiis_udf, reverse_soundex, soundex
from .similarity import (
    cosine_similarity,
    jaccard_tokens,
    jaro_winkler_udf,
)
from .standardize import (
    dob_parts,
    geokey,
    initial_cut,
    initial_cut_cols,
    normalize_missing,
    standardize_address_part,
    truncated_name_cols,
    zip3,
)

__all__ = [
    "nysiis_sql_function",
    "nysiis_udf",
    "reverse_soundex",
    "soundex",
    "cosine_similarity",
    "jaccard_tokens",
    "jaro_winkler_udf",
    "dob_parts",
    "geokey",
    "initial_cut",
    "initial_cut_cols",
    "normalize_missing",
    "standardize_address_part",
    "truncated_name_cols",
    "zip3",
]

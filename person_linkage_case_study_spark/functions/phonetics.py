"""Phonetic encodings (SURVEY.md §2.8 F8-F10, §2.11 X1).

The reference applies jellyfish soundex/nysiis/reverse-soundex element-wise
via ``Series.apply`` (03_link_datasets.ipynb:952-1001) — a row-at-a-time
Python loop per Dask partition. Here:

- **Soundex** uses Spark's built-in ``soundex()`` (JVM, codegen — the fast
  path).
- **Reverse Soundex** is ``soundex(reverse(col))`` — still fully JVM-side.
- **NYSIIS** has no Spark built-in. :func:`nysiis` is a pure-Python
  implementation of the standard NYSIIS algorithm (Taft 1970, as
  popularized by the New York State Identification and Intelligence
  System); jvm/sparklinkage.jar carries a code-point-exact Java port
  (``sparklinkage.Nysiis``). :func:`nysiis_sql_function` names the one a
  session runs: the JVM UDF when the jar loads, else :func:`nysiis_udf`,
  an Arrow-batched pandas UDF over :func:`nysiis` (Python workers, Arrow
  transfer). Both return the same codes.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import StringType

from . import jvm_udfs

_VOWELS = set("AEIOU")


def soundex(col: Column) -> Column:
    """F8: American Soundex; NULL-safe (builtin returns NULL on NULL).

    Non-alphabetic-leading strings: Spark's builtin returns the input
    unchanged (same contract as jellyfish raising → reference wraps with
    NA-pass-through; our tests pin alphabetic inputs).
    """
    return F.soundex(col)


def reverse_soundex(col: Column) -> Column:
    """F10: Soundex of the reversed string (reference
    03_link_datasets.ipynb:972-976)."""
    return F.soundex(F.reverse(col))


def nysiis(name: str) -> str | None:
    """Standard NYSIIS code of ``name`` (pure Python; None-safe).

    Algorithm per the published NYSIIS spec: head/tail substitutions, then a
    left-to-right scan with contextual rewrites, dedup of repeats, and tail
    cleanup. Matches jellyfish for ASCII alphabetic inputs (unit-tested
    against pinned goldens from jellyfish 1.0.4 per FIXTURES.md §6).
    """
    if name is None:
        return None
    s = "".join(ch for ch in name.upper() if ch.isalpha())
    if not s:
        return ""

    # 1. head substitutions
    if s.startswith("MAC"):
        s = "MCC" + s[3:]
    elif s.startswith("KN"):
        s = "NN" + s[2:]
    elif s.startswith("K"):
        s = "C" + s[1:]
    elif s.startswith(("PH", "PF")):
        s = "FF" + s[2:]
    elif s.startswith("SCH"):
        s = "SSS" + s[3:]

    # 2. tail substitutions
    if s.endswith(("EE", "IE")):
        s = s[:-2] + "Y"
    elif s.endswith(("DT", "RT", "RD", "NT", "ND")):
        s = s[:-2] + "D"

    # 3. first character of key = first character of (rewritten) name
    key = s[0]

    # 4. scan remaining characters with contextual rewrites. ``ts`` tracks
    # the translated form of each position so the H/W "use previous char"
    # rules see the already-rewritten neighbor (e.g. BROWN: O→A, then W
    # with vowel predecessor becomes that 'A' and dedups away → BRAN).
    ts = list(s)
    i = 1
    while i < len(s):
        ch = s[i]
        if s[i : i + 2] == "EV":
            repl, skip = "AF", 2
        elif ch in _VOWELS:
            repl, skip = "A", 1
        elif ch == "Q":
            repl, skip = "G", 1
        elif ch == "Z":
            repl, skip = "S", 1
        elif ch == "M":
            repl, skip = "N", 1
        elif s[i : i + 2] == "KN":
            repl, skip = "N", 2
        elif ch == "K":
            repl, skip = "C", 1
        elif s[i : i + 3] == "SCH":
            repl, skip = "SSS", 3
        elif s[i : i + 2] == "PH":
            repl, skip = "FF", 2
        elif ch == "H" and (
            s[i - 1] not in _VOWELS or s[i + 1 : i + 2] not in _VOWELS
        ):
            # H surrounded by non-vowels (or at end) -> previous translated char
            repl, skip = ts[i - 1], 1
        elif ch == "W" and s[i - 1] in _VOWELS:
            repl, skip = ts[i - 1], 1
        else:
            repl, skip = ch, 1
        for j in range(skip):
            if i + j < len(ts):
                ts[i + j] = repl[min(j, len(repl) - 1)]
        for r in repl:
            if r != key[-1]:
                key += r
        i += skip

    # 5. tail cleanup
    if key.endswith("S") and len(key) > 1:
        key = key[:-1]
    if key.endswith("AY") and len(key) > 2:
        key = key[:-2] + "Y"
    if key.endswith("A") and len(key) > 1:
        key = key[:-1]
    return key


@pandas_udf(StringType())
def nysiis_udf(names: pd.Series) -> pd.Series:
    """F9/X1: Arrow-vectorized NYSIIS (NULL → NULL, matching the
    reference's NA pass-through at 03_link_datasets.ipynb:952-959)."""
    return names.map(lambda v: nysiis(v) if v is not None else None)


#: the SQL name :func:`nysiis_sql_function` registers the pandas UDF under on
#: a session without the jar
PY_NYSIIS_NAME = "nysiis_py"


def nysiis_sql_function(spark) -> str:
    """The SQL name of the session's NYSIIS function: the JVM UDF
    (``sparklinkage.Nysiis``) when the jar loads, else :func:`nysiis_udf`
    under :data:`PY_NYSIIS_NAME`. Both give :func:`nysiis`'s codes, so
    callers emit one SQL string whichever runs."""
    return jvm_udfs.sql_function(
        spark, jvm_udfs.JVM_NYSIIS_NAME, PY_NYSIIS_NAME, nysiis_udf
    )


def phonetic_cols(spark, street: bool = True) -> dict[str, str]:
    """X1: the SQL of NYSIIS and reverse Soundex on the first and last
    names and, with ``street``, Soundex on ``street_name_for_blocking``
    (reference 03_link_datasets.ipynb:944-1001), by output column."""
    nysiis_fn = nysiis_sql_function(spark)
    out = {}
    for col in ["first_name", "last_name"]:
        out[f"{col}_nysiis"] = f"{nysiis_fn}({col})"
        out[f"{col}_reverse_soundex"] = f"soundex(reverse({col}))"
    if street:
        out["street_name_for_blocking_soundex"] = "soundex(street_name_for_blocking)"
    return out

"""String & vector similarity (SURVEY.md §2.8 F11, §2.11 X2; dedup/ANN support).

Jaro-Winkler: the reference gets it from Splink's bundled Scala UDF jar on
Spark (distributed_compute.py:993-996) or DuckDB natively. Spark SQL has no
built-in, so we ship an Arrow-batched pandas UDF over a pure-Python
implementation of the standard algorithm (Winkler 1990: prefix bonus capped
at 4 chars, scaling 0.1, boost threshold 0.7) — semantics match DuckDB's
``jaro_winkler_similarity`` so the correctness oracle can diff us directly.
A native JVM UDF (jvm/sparklinkage.jar) computes the same doubles without
the Arrow transfer; :func:`jaro_winkler_sql_function` is the one selector
between the two for a session.

Token-set Jaccard and cosine similarity are pure built-in column
expressions (JVM-side, codegen) — the fast path for document dedup and ANN.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import DoubleType

from . import jvm_udfs
from .jvm_udfs import JVM_JW_NAME


def jaro_similarity(s1: str, s2: str) -> float:
    """Jaro similarity of two strings.

    Conventions follow DuckDB's ``jaro_similarity`` exactly (our
    correctness oracle): empty vs anything — including empty vs empty —
    scores 0.0, and the transposition count is integer-halved.
    """
    len1, len2 = len(s1), len(s2)
    if len1 == 0 or len2 == 0:
        return 0.0
    match_window = max(max(len1, len2) // 2 - 1, 0)
    flags1 = [False] * len1
    flags2 = [False] * len2
    matches = 0
    for i, ch in enumerate(s1):
        lo = max(0, i - match_window)
        hi = min(len2, i + match_window + 1)
        for j in range(lo, hi):
            if not flags2[j] and s2[j] == ch:
                flags1[i] = True
                flags2[j] = True
                matches += 1
                break
    if matches == 0:
        return 0.0
    transpositions = 0
    j = 0
    for i in range(len1):
        if flags1[i]:
            while not flags2[j]:
                j += 1
            if s1[i] != s2[j]:
                transpositions += 1
            j += 1
    t = transpositions // 2
    m = matches
    return (m / len1 + m / len2 + (m - t) / m) / 3


def jaro_winkler_similarity(
    s1: str | None, s2: str | None, prefix_weight: float = 0.1
) -> float | None:
    """Jaro-Winkler with the conventional 0.7 boost threshold and 4-char
    prefix cap (matches DuckDB/jellyfish for ASCII inputs)."""
    if s1 is None or s2 is None:
        return None
    jaro = jaro_similarity(s1, s2)
    if jaro > 0.7:
        prefix = 0
        for a, b in zip(s1[:4], s2[:4]):
            if a == b:
                prefix += 1
            else:
                break
        jaro += prefix * prefix_weight * (1 - jaro)
    return jaro


def _jw_batch_numpy(left: "np.ndarray", right: "np.ndarray") -> "np.ndarray":
    """Vectorized Jaro-Winkler over a batch of string pairs.

    The greedy match loop runs over character *positions* (≤ max length),
    not rows — every step is a whole-batch numpy op, so cost is
    O(maxlen² · batch) bitwise work instead of a Python loop per row.
    Semantics identical to :func:`jaro_winkler_similarity` (DuckDB
    conventions: integer-halved transpositions, empty→0.0, 0.7 boost
    threshold, 4-char prefix cap).
    """
    import numpy as np

    n = len(left)
    len1 = np.char.str_len(left)
    len2 = np.char.str_len(right)
    l1max = int(len1.max()) if n else 0
    l2max = int(len2.max()) if n else 0
    if l1max == 0 or l2max == 0:
        return np.zeros(n)

    # unicode code-point matrices, 0-padded
    m1 = np.zeros((n, l1max), dtype=np.uint32)
    m2 = np.zeros((n, l2max), dtype=np.uint32)
    a1 = np.array(left, dtype=f"U{l1max}")
    a2 = np.array(right, dtype=f"U{l2max}")
    m1[:] = a1.view(np.uint32).reshape(n, l1max)
    m2[:] = a2.view(np.uint32).reshape(n, l2max)

    window = np.maximum(np.maximum(len1, len2) // 2 - 1, 0)

    flags1 = np.zeros((n, l1max), dtype=bool)
    flags2 = np.zeros((n, l2max), dtype=bool)
    j_idx = np.arange(l2max)
    for i in range(l1max):
        active = i < len1
        lo = np.maximum(0, i - window)[:, None]
        hi = np.minimum(len2, i + window + 1)[:, None]
        cand = (
            (m2 == m1[:, i : i + 1])
            & ~flags2
            & (j_idx >= lo)
            & (j_idx < hi)
            & active[:, None]
        )
        first = cand.argmax(axis=1)
        found = cand[np.arange(n), first]
        flags1[:, i] = found
        flags2[found, first[found]] = True

    matches = flags1.sum(axis=1)

    # transpositions: compare matched chars of s1 (in order) with matched
    # chars of s2 (in order). Stable argsort puts flagged positions first.
    ord1 = np.argsort(~flags1, axis=1, kind="stable")
    ord2 = np.argsort(~flags2, axis=1, kind="stable")
    g1 = np.take_along_axis(m1, ord1, axis=1)
    g2 = np.take_along_axis(m2, ord2, axis=1)
    width = min(l1max, l2max)
    k_idx = np.arange(width)
    valid = k_idx[None, :] < matches[:, None]
    trans = ((g1[:, :width] != g2[:, :width]) & valid).sum(axis=1) // 2

    m = matches.astype(np.float64)
    with np.errstate(divide="ignore", invalid="ignore"):
        jaro = (m / len1 + m / len2 + (m - trans) / m) / 3.0
    jaro = np.where(matches == 0, 0.0, jaro)
    jaro = np.where((len1 == 0) | (len2 == 0), 0.0, jaro)

    # Winkler prefix boost (cap 4, weight 0.1, threshold 0.7)
    pw = min(4, l1max, l2max)
    prefix = np.zeros(n, dtype=np.int64)
    if pw > 0:
        eq = m1[:, :pw] == m2[:, :pw]
        eq &= (np.arange(pw)[None, :] < len1[:, None]) & (
            np.arange(pw)[None, :] < len2[:, None]
        )
        prefix = np.where(eq, 1, 0).cumprod(axis=1).sum(axis=1)
    boost = jaro > 0.7
    return np.where(boost, jaro + prefix * 0.1 * (1 - jaro), jaro)


@pandas_udf(DoubleType())
def jaro_winkler_udf(left: pd.Series, right: pd.Series) -> pd.Series:
    """F11/X2: Arrow-vectorized Jaro-Winkler; NULL if either side NULL
    (Splink comparison levels treat NULL as its own gamma level).

    Hot path: the whole Arrow batch goes through the numpy implementation
    in one shot — ~50-100× the row-at-a-time loop."""
    import numpy as np

    import numpy as np

    # Blocked pair tables repeat the same string pair massively (every
    # SMITH×SMITH in a block). Factorize each side to integer codes, combine
    # exactly (codeL * nR + codeR — no hash collisions), and run the numpy
    # kernel on UNIQUE pairs only, then scatter back. On TPC-H-style name
    # data this cuts the kernel work ~100×.
    lcodes, luniq = pd.factorize(left, use_na_sentinel=True)
    rcodes, runiq = pd.factorize(right, use_na_sentinel=True)
    n_r = max(len(runiq), 1)
    combo = lcodes.astype(np.int64) * n_r + rcodes.astype(np.int64)
    valid = (lcodes >= 0) & (rcodes >= 0)
    out = np.full(len(left), np.nan)
    if valid.any():
        uniq_combo, inverse = np.unique(combo[valid], return_inverse=True)
        ul = np.asarray(luniq, dtype=str)[(uniq_combo // n_r)]
        ur = np.asarray(runiq, dtype=str)[(uniq_combo % n_r)]
        out[valid] = _jw_batch_numpy(ul, ur)[inverse]
    return pd.Series(out, dtype="float64").where(pd.Series(valid), None)


# The function IS deterministic, but marking it so lets Catalyst clone the
# expression when pushing filters through projections — each clone is a
# full ArrowEvalPython pass over the pairs (measured 2× the UDF cost on the
# blocked-pairs hot path). Non-deterministic marking pins it to a single
# evaluation node; results are unchanged.
jaro_winkler_udf = jaro_winkler_udf.asNondeterministic()

#: the SQL name :func:`jaro_winkler_sql_function` registers the pandas UDF
#: under on a session without the jar
PY_JW_NAME = "jaro_winkler_py"


def jaro_winkler_sql_function(spark) -> str:
    """The SQL name of the session's Jaro-Winkler function: the JVM UDF
    (:data:`JVM_JW_NAME`) when the jar loads, else the Arrow pandas UDF
    (:func:`jaro_winkler_udf`) under :data:`PY_JW_NAME`. The JVM UDF
    returns the same doubles (fuzz-tested against DuckDB) without the
    Arrow round trip, which dominates pair-scoring cost at scale."""
    return jvm_udfs.sql_function(spark, JVM_JW_NAME, PY_JW_NAME, jaro_winkler_udf)


def jaccard_tokens(left: Column, right: Column) -> Column:
    """Token-set Jaccard similarity of two array<string> columns — pure
    built-ins (array_intersect/array_union), JVM-side. Empty∪empty → 0.0."""
    inter = F.size(F.array_intersect(left, right))
    union = F.size(F.array_union(left, right))
    return F.when(union == 0, F.lit(0.0)).otherwise(inter / union)


def cosine_similarity(left: Column, right: Column) -> Column:
    """Cosine similarity of two array<numeric> columns via
    ``zip_with`` + ``aggregate`` — stays in the JVM, no UDF.

    Returns NULL if either vector is NULL; 0.0 if either norm is 0.
    """
    def dot(a: Column, b: Column) -> Column:
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )

    num = dot(left, right)
    denom = F.sqrt(dot(left, left)) * F.sqrt(dot(right, right))
    return F.when(denom == 0, F.lit(0.0)).otherwise(num / denom)

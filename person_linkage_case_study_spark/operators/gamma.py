"""Comparison levels and the one CASE emitter (SURVEY.md §2.9 K3).

Splink compiles a settings dict (ordered comparison levels per column) into
CASE WHEN SQL and runs it on DuckDB or Spark; here the same model emits one
SQL string per comparison for either engine. :meth:`Comparison.gamma_sql`
builds the gamma CASE, ``operators/scoring.py`` the Fellegi-Sunter weight
CASE and ``operators/tf.py`` the term-frequency adjustment CASE, all through
:func:`case_sql`; the Spark plan and the DuckDB correctness oracle are
emitted from the *same* model object, so they cannot drift apart.

A :class:`Dialect` switches only two things:

- column quoting: Spark backquotes identifiers, DuckDB takes them bare;
- the Jaro-Winkler operand: Spark reads the pre-materialised ``__jw_<col>``
  column (:func:`add_gammas` computes it once per pair, not once per
  level), DuckDB calls ``jaro_winkler_similarity(l, r)`` inline.

Float literals bind as ``CAST('<repr>' AS DOUBLE)`` in both: a bare
``2.5`` parses as DECIMAL in Spark and in DuckDB, and a weight summed in
exact decimal on one engine and in doubles on the other can differ in its
last digits. Ints stay plain.

Gamma numbering follows Splink 3: the NULL level is -1; the remaining
levels are numbered descending from strongest (first listed) to the else
level at 0. First matching level wins
(reference 03_link_datasets.ipynb:1485-1541).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame

from ..functions.similarity import jaro_winkler_sql_function
from .blocking import sql_ident


@dataclass(frozen=True)
class Dialect:
    """The SQL engine an emitter writes for: Spark, or else DuckDB (the
    correctness oracle). See the module docstring."""

    spark: bool

    def col(self, name: str) -> str:
        return sql_ident(name) if self.spark else name

    @staticmethod
    def num(v: int | float) -> str:
        """A numeric literal of ``v``'s type: a float as
        CAST('<repr>' AS DOUBLE), which is exactly the double ``v``."""
        if isinstance(v, float):
            return f"CAST('{v!r}' AS DOUBLE)"
        return repr(v)

    #: the double 0.0 of the weight CASEs' NULL and ELSE arms
    zero = "CAST(0.0 AS DOUBLE)"

    def jw(self, c: "Comparison") -> str:
        if self.spark:
            return self.col(c.jw_col)
        return (
            f"jaro_winkler_similarity({self.col(c.col + '_l')},"
            f" {self.col(c.col + '_r')})"
        )


SPARK = Dialect(spark=True)
DUCKDB = Dialect(spark=False)


def case_sql(arms: list[tuple[str, str]], otherwise: str) -> str:
    """``CASE WHEN <cond> THEN <value> ... ELSE <otherwise> END``."""
    whens = " ".join(f"WHEN {cond} THEN {value}" for cond, value in arms)
    return f"CASE {whens} ELSE {otherwise} END"


LEVEL_KINDS = ("null", "exact", "jaro_winkler", "banded", "else")


@dataclass
class ComparisonLevel:
    """One level of a comparison. ``kind`` ∈ :data:`LEVEL_KINDS`;
    ``threshold`` for jaro_winkler (0-1), ``band`` for |l-r| <= band."""

    kind: str
    threshold: float | None = None
    band: int | float | None = None


@dataclass
class Comparison:
    """An ordered set of levels over one column pair, plus m/u per
    non-null gamma value (index = gamma value, length = #non-null levels).

    m/u defaults are placeholders overwritten by estimation
    (operators/estimation.py) or a trained model. A malformed level list
    (an unknown kind, a JW level without a threshold or a banded one
    without a band, an else level that is not last, more than one null
    level) raises ``ValueError`` here, so both dialects see the same
    levels.
    """

    col: str
    levels: list[ComparisonLevel]
    m: list[float] = field(default_factory=list)
    u: list[float] = field(default_factory=list)

    def __post_init__(self) -> None:
        for i, lv in enumerate(self.levels):
            if lv.kind not in LEVEL_KINDS:
                raise ValueError(f"{self.col}: unknown level kind {lv.kind!r}")
            if lv.kind == "jaro_winkler" and lv.threshold is None:
                raise ValueError(f"{self.col}: jaro_winkler level needs a threshold")
            if lv.kind == "banded" and lv.band is None:
                raise ValueError(f"{self.col}: banded level needs a band")
            if lv.kind == "else" and i != len(self.levels) - 1:
                raise ValueError(f"{self.col}: the else level must be last")
        if sum(lv.kind == "null" for lv in self.levels) > 1:
            raise ValueError(f"{self.col}: more than one null level")

    @property
    def gamma_col(self) -> str:
        return f"gamma_{self.col}"

    def gamma_levels(self) -> list[tuple[int, ComparisonLevel]]:
        """(gamma, level) of the non-null levels, strongest first."""
        non_null = [lv for lv in self.levels if lv.kind != "null"]
        return [(len(non_null) - 1 - i, lv) for i, lv in enumerate(non_null)]

    def n_gamma_levels(self) -> int:
        return len(self.gamma_levels())

    def needs_jw(self) -> bool:
        return any(l.kind == "jaro_winkler" for l in self.levels)

    @property
    def jw_col(self) -> str:
        return f"__jw_{self.col}"

    def gamma_sql(self, dialect: Dialect) -> str:
        """The gamma CASE over ``<col>_l`` / ``<col>_r``. Gamma ordinals
        and int bands are INT literals; the JW threshold and float bands
        bind as doubles (:meth:`Dialect.num`). The else level is last, so
        it is the CASE's ``ELSE 0``."""
        l, r = dialect.col(self.col + "_l"), dialect.col(self.col + "_r")
        arms = [(f"{l} IS NULL OR {r} IS NULL", "-1")]
        for gamma, lv in self.gamma_levels():
            if lv.kind == "exact":
                cond = f"{l} = {r}"
            elif lv.kind == "jaro_winkler":
                cond = f"{dialect.jw(self)} >= {dialect.num(float(lv.threshold))}"
            elif lv.kind == "banded":
                cond = f"abs({l} - {r}) <= {dialect.num(lv.band)}"
            else:  # the else level: the CASE's ELSE
                continue
            arms.append((cond, str(gamma)))
        return case_sql(arms, "0")


def add_gammas(pairs: DataFrame, comparisons: list[Comparison]) -> DataFrame:
    """Evaluate every comparison's gamma over a blocked pair table
    (``<col>_l`` / ``<col>_r`` columns).

    Jaro-Winkler is materialised once per pair into ``__jw_<col>`` by the
    session's JW function (``functions.similarity.jaro_winkler_sql_function``):
    the native JVM UDF when the sparklinkage jar is on the session's
    classpath (zero Arrow transfer), else the Arrow pandas UDF registered
    under a SQL name, the fallback for a session without the jar (e.g. the
    external driver's vanilla session). Either way the JW columns and the
    gamma projection are one ``selectExpr`` string each, and the JW columns
    are dropped after.
    """
    jw_needed = [c for c in comparisons if c.needs_jw()]
    df = pairs
    if jw_needed:
        jw = jaro_winkler_sql_function(pairs.sparkSession)
        df = df.selectExpr(
            "*",
            *[
                f"{jw}({SPARK.col(c.col + '_l')}, {SPARK.col(c.col + '_r')})"
                f" AS {SPARK.col(c.jw_col)}"
                for c in jw_needed
            ],
        )
    df = df.selectExpr(
        "*",
        *[f"{c.gamma_sql(SPARK)} AS {SPARK.col(c.gamma_col)}" for c in comparisons],
    )
    if jw_needed:
        df = df.drop(*[c.jw_col for c in jw_needed])
    return df


# -- canonical PVS comparison shapes (reference 03_link_datasets.ipynb:1517-1547)


def jw_comparison(col: str, thresholds: tuple[float, ...] = (0.9, 0.75)) -> Comparison:
    """exact > JW@t1 > JW@t2 ... > else, with a null level."""
    levels = [ComparisonLevel("null"), ComparisonLevel("exact")]
    for t in thresholds:
        levels.append(ComparisonLevel("jaro_winkler", threshold=t))
    levels.append(ComparisonLevel("else"))
    return Comparison(col, levels)


def exact_comparison(col: str) -> Comparison:
    return Comparison(
        col, [ComparisonLevel("null"), ComparisonLevel("exact"), ComparisonLevel("else")]
    )


def banded_comparison(col: str, band: int) -> Comparison:
    """exact > |l-r|<=band > else (the reference's DOB-part comparisons,
    bands 5/3/5 for day/month/year)."""
    return Comparison(
        col,
        [
            ComparisonLevel("null"),
            ComparisonLevel("exact"),
            ComparisonLevel("banded", band=band),
            ComparisonLevel("else"),
        ],
    )

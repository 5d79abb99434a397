"""Comparison/gamma compiler (SURVEY.md §2.9 K3).

Splink compiles a settings dict (ordered comparison levels per column) into
CASE WHEN SQL; here the same model compiles two ways:

- ``compile()`` → a Spark ``when()`` chain (one Catalyst expression per
  comparison, codegen'd; the Jaro-Winkler level reads a pre-materialized
  pandas-UDF column so the UDF runs once per pair, not once per level).
- ``compile_sql()`` → the equivalent ANSI SQL CASE (DuckDB dialect) so the
  correctness oracle is generated from the *same* model object — the Spark
  plan and the oracle cannot drift apart.

Gamma numbering follows Splink 3: the NULL level is -1; the remaining
levels are numbered descending from strongest (first listed) to the else
level at 0. First matching level wins
(reference 03_link_datasets.ipynb:1485-1541).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.similarity import JVM_JW_NAME, ensure_jvm_jw, jaro_winkler_udf


def _spark_sql_number(v: int | float) -> str:
    """A Spark SQL literal of the type ``F.lit(v)`` binds: ints plain,
    floats as CAST('<repr>' AS DOUBLE) (a bare 2.5 parses as DECIMAL)."""
    if isinstance(v, float):
        return f"CAST('{v!r}' AS DOUBLE)"
    return str(v)


@dataclass
class ComparisonLevel:
    """One level of a comparison. ``kind`` ∈ {null, exact, jaro_winkler,
    banded, custom, else}; ``threshold`` for jaro_winkler (0-1), ``band``
    for |l-r| <= band. Custom levels carry both a Column builder and a SQL
    template (with {l}/{r} placeholders) so oracle emission stays possible."""

    kind: str
    threshold: float | None = None
    band: int | None = None
    expr: Column | None = None
    sql: str | None = None


@dataclass
class Comparison:
    """An ordered set of levels over one column pair, plus m/u per
    non-null gamma value (index = gamma value, length = #non-null levels).

    m/u defaults are placeholders overwritten by estimation
    (operators/estimation.py) or a trained model.
    """

    col: str
    levels: list[ComparisonLevel]
    m: list[float] = field(default_factory=list)
    u: list[float] = field(default_factory=list)

    @property
    def gamma_col(self) -> str:
        return f"gamma_{self.col}"

    def n_gamma_levels(self) -> int:
        return len([l for l in self.levels if l.kind != "null"])

    def needs_jw(self) -> bool:
        return any(l.kind == "jaro_winkler" for l in self.levels)

    @property
    def jw_col(self) -> str:
        return f"__jw_{self.col}"

    def compile(
        self, left_suffix: str = "_l", right_suffix: str = "_r", jw_col: str | None = None
    ) -> Column:
        """Compile to a when() chain producing the gamma ordinal.

        ``jw_col``: name of a pre-materialized Jaro-Winkler column; if the
        comparison has JW levels and no jw_col is given, the UDF is inlined
        (correct, but evaluated once per JW level — prefer add_gammas).
        """
        l = F.col(self.col + left_suffix)
        r = F.col(self.col + right_suffix)
        jw = F.col(jw_col) if jw_col else None
        non_null = [lv for lv in self.levels if lv.kind != "null"]
        n = len(non_null)
        expr = F.when(l.isNull() | r.isNull(), F.lit(-1))
        for i, lv in enumerate(non_null):
            gamma = n - 1 - i  # first listed = strongest = highest gamma
            if lv.kind == "exact":
                cond = l == r
            elif lv.kind == "jaro_winkler":
                sim = jw if jw is not None else jaro_winkler_udf(l, r)
                cond = sim >= F.lit(lv.threshold)
            elif lv.kind == "banded":
                cond = F.abs(l - r) <= F.lit(lv.band)
            elif lv.kind == "custom":
                cond = lv.expr
            elif lv.kind == "else":
                return expr.otherwise(F.lit(gamma))
            else:
                raise ValueError(f"unknown level kind {lv.kind!r}")
            expr = expr.when(cond, F.lit(gamma))
        return expr.otherwise(F.lit(0))

    def compile_spark_sql(
        self,
        left_suffix: str = "_l",
        right_suffix: str = "_r",
        jw_col: str | None = None,
    ) -> str | None:
        """Spark-SQL mirror of :meth:`compile` — the same CASE, as ONE
        parseable string so a pass's whole gamma projection lands in a
        single selectExpr gateway call instead of one py4j round trip
        per when()/lit() node (r16, guide §4 driver-side; measured
        ~3500 construct-time round trips per cascade pass before).

        Returns ``None`` when a level cannot be expressed as a plain
        SQL string — a jaro_winkler level without a pre-materialized
        ``jw_col`` (the Python-UDF object is not a registered SQL
        function) or a ``custom`` level (whose ``sql`` template is
        DuckDB dialect by contract) — in which case the caller falls
        back to the Column form. Literal semantics are preserved
        exactly: gamma ordinals and int bands are INT literals as with
        ``F.lit(int)``, and the JW threshold and float bands bind through
        CAST('<repr>' AS DOUBLE) so each is the identical IEEE double
        ``F.lit(float)`` bound (a bare SQL float literal would be a
        DECIMAL)."""
        l = f"`{self.col}{left_suffix}`"
        r = f"`{self.col}{right_suffix}`"
        non_null = [lv for lv in self.levels if lv.kind != "null"]
        n = len(non_null)
        arms = [f"WHEN {l} IS NULL OR {r} IS NULL THEN -1"]
        for i, lv in enumerate(non_null):
            gamma = n - 1 - i
            if lv.kind == "exact":
                arms.append(f"WHEN {l} = {r} THEN {gamma}")
            elif lv.kind == "jaro_winkler":
                if jw_col is None:
                    return None
                arms.append(
                    f"WHEN `{jw_col}` >="
                    f" {_spark_sql_number(float(lv.threshold))} THEN {gamma}"
                )
            elif lv.kind == "banded":
                arms.append(
                    f"WHEN abs({l} - {r}) <= {_spark_sql_number(lv.band)}"
                    f" THEN {gamma}"
                )
            elif lv.kind == "custom":
                return None
            elif lv.kind == "else":
                return "CASE " + " ".join(arms) + f" ELSE {gamma} END"
            else:
                raise ValueError(f"unknown level kind {lv.kind!r}")
        return "CASE " + " ".join(arms) + " ELSE 0 END"

    def compile_sql(self, left_suffix: str = "_l", right_suffix: str = "_r") -> str:
        """Equivalent DuckDB SQL CASE expression (uses DuckDB's native
        ``jaro_winkler_similarity``, which our pandas UDF matches exactly —
        verified over random string pairs in tests)."""
        l = self.col + left_suffix
        r = self.col + right_suffix
        non_null = [lv for lv in self.levels if lv.kind != "null"]
        n = len(non_null)
        arms = [f"WHEN {l} IS NULL OR {r} IS NULL THEN -1"]
        else_gamma = 0
        for i, lv in enumerate(non_null):
            gamma = n - 1 - i
            if lv.kind == "exact":
                arms.append(f"WHEN {l} = {r} THEN {gamma}")
            elif lv.kind == "jaro_winkler":
                arms.append(
                    f"WHEN jaro_winkler_similarity({l}, {r}) >= {lv.threshold!r} THEN {gamma}"
                )
            elif lv.kind == "banded":
                arms.append(f"WHEN abs({l} - {r}) <= {lv.band} THEN {gamma}")
            elif lv.kind == "custom":
                if not lv.sql:
                    raise ValueError(f"custom level on {self.col} lacks sql template")
                arms.append(f"WHEN {lv.sql.format(l=l, r=r)} THEN {gamma}")
            elif lv.kind == "else":
                else_gamma = gamma
        return "CASE " + " ".join(arms) + f" ELSE {else_gamma} END"


def add_gammas(
    pairs: DataFrame,
    comparisons: list[Comparison],
    left_suffix: str = "_l",
    right_suffix: str = "_r",
    drop_jw: bool = True,
    jw_strategy: str = "inline",
) -> DataFrame:
    """Evaluate every comparison's gamma over a blocked pair table.

    ``jw_strategy`` controls how Jaro-Winkler columns materialize:

    - ``auto`` (recommended): the JVM native UDF when the sparklinkage jar
      is on the session classpath, else ``inline``.
    - ``jvm``: the native Java UDF (jvm/sparklinkage.jar) — stays entirely
      in the JVM, zero Arrow transfer; the dominant cost of pair scoring
      disappears.
    - ``inline``: one ArrowEvalPython pass over the pair table (the kernel
      dedups unique pairs per batch). The fallback when the jar isn't
      shipped (e.g. the external driver's vanilla session).
    - ``distinct_broadcast``: compute JW only on the DISTINCT co-occurring
      (l, r) value pairs, then broadcast-join the scores back. Only a win
      if ``pairs`` is persisted — the distinct pass re-executes the pair
      join otherwise (measured slower unpersisted; kept for callers that
      cache).
    - ``distinct_join``: same dedup, shuffle join back — for extreme
      cardinality where the distinct set can't broadcast.

    Everything after the JW columns is a single codegen projection.
    """
    jw_needed = [c for c in comparisons if c.needs_jw()]
    df = pairs
    if jw_strategy == "auto":
        jw_strategy = (
            "jvm" if (jw_needed and ensure_jvm_jw(pairs.sparkSession)) else "inline"
        )
    elif jw_strategy == "jvm" and jw_needed:
        if not ensure_jvm_jw(pairs.sparkSession):
            raise RuntimeError(
                "jw_strategy='jvm' but sparklinkage.jar is not on the session "
                "classpath (build with person_linkage_case_study_spark/jvm/build.sh)"
            )
    if jw_needed and jw_strategy == "jvm":
        # registered JVM function ⇒ one selectExpr string instead of a
        # call_udf Column chain per comparison (r16 construct batching)
        df = df.selectExpr(
            "*",
            *[
                f"{JVM_JW_NAME}(`{c.col + left_suffix}`,"
                f" `{c.col + right_suffix}`) AS `{c.jw_col}`"
                for c in jw_needed
            ],
        )
    elif jw_needed and jw_strategy in ("distinct_broadcast", "distinct_join"):
        for c in jw_needed:
            l, r = c.col + left_suffix, c.col + right_suffix
            dist = (
                df.select(F.col(l).alias("__jl"), F.col(r).alias("__jr"))
                .where(F.col("__jl").isNotNull() & F.col("__jr").isNotNull())
                .distinct()
                .withColumn(c.jw_col, jaro_winkler_udf(F.col("__jl"), F.col("__jr")))
            )
            if jw_strategy == "distinct_broadcast":
                dist = F.broadcast(dist)
            df = df.join(
                dist,
                (F.col(l) == F.col("__jl")) & (F.col(r) == F.col("__jr")),
                "left",
            ).drop("__jl", "__jr")
    elif jw_needed:
        df = df.select(
            "*",
            *[
                jaro_winkler_udf(
                    F.col(c.col + left_suffix), F.col(c.col + right_suffix)
                ).alias(c.jw_col)
                for c in jw_needed
            ],
        )
    # one selectExpr for the whole gamma projection when every
    # comparison is SQL-expressible (always true for the canonical
    # exact/JW/banded shapes — JW levels read the pre-materialized
    # column either way); Column-form fallback otherwise (custom
    # levels carrying only a Column expr)
    gamma_sqls = [
        c.compile_spark_sql(
            left_suffix, right_suffix,
            jw_col=c.jw_col if c.needs_jw() else None,
        )
        for c in comparisons
    ]
    if all(s is not None for s in gamma_sqls):
        df = df.selectExpr(
            "*",
            *[
                f"{s} AS `{c.gamma_col}`"
                for s, c in zip(gamma_sqls, comparisons)
            ],
        )
    else:
        df = df.select(
            "*",
            *[
                c.compile(
                    left_suffix,
                    right_suffix,
                    jw_col=c.jw_col if c.needs_jw() else None,
                ).alias(c.gamma_col)
                for c in comparisons
            ],
        )
    if drop_jw and jw_needed:
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

"""Plan audit: verify the physical plans have the shape SCALING.md claims.

Checks, per audited query:
- parquet scans carry PushedFilters / pruned ReadSchema where expected;
- small dims broadcast (BroadcastHashJoin) instead of shuffling;
- JW is JVM-native or a single Arrow-batched node (never row-at-a-time);
- WholeStageCodegen spans exist around the scoring arithmetic;
- the cascade derives salt and pin for a hot pass only, and runs proved
  passes as one group: one Window above the Union of the branches, no
  threshold Filter below it, and one CollectMetrics node observing the
  group's statistics.

Usage: python tools/explain_audit.py [sf_dir]
Exits non-zero if an invariant fails; prints a short report.
"""

from __future__ import annotations

import re
import sys

sys.path.insert(0, ".")

from person_linkage_case_study_spark import queries as catalog
from person_linkage_case_study_spark.session import get_spark


def plan_of(df) -> str:
    """formatted explain (scan details: PushedFilters/ReadSchema)."""
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def executed_plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def no_aqe_plan(spark, build_df) -> str:
    """physical plan with AQE disabled — under AQE, WholeStageCodegen
    wrapping happens inside runtime query stages and never shows in the
    top-level plan string; codegen applicability itself is AQE-independent,
    so auditing it with AQE off is faithful."""
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        return executed_plan_of(build_df())
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def has_codegen(plan: str) -> bool:
    return "WholeStageCodegen" in plan or re.search(r"\*\(\d+\)", plan) is not None


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark("explain-audit")
    qs = catalog.queries()
    failures: list[str] = []

    def check(name: str, cond: bool, msg: str) -> None:
        tag = "ok " if cond else "FAIL"
        print(f"  [{tag}] {msg}")
        if not cond:
            failures.append(f"{name}: {msg}")

    print("== s1_pricing_summary ==")
    p = plan_of(qs["s1_pricing_summary"](spark, sf_dir))
    check("s1", "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in p,
          "shipdate predicate pushed to parquet scan")
    check("s1", has_codegen(no_aqe_plan(spark, lambda: qs["s1_pricing_summary"](spark, sf_dir))),
          "codegen spans present")
    read_schema = re.search(r"ReadSchema: struct<([^>]*)>", p)
    check("s1", read_schema and "l_comment" not in read_schema.group(1)
          and len(read_schema.group(1).split(",")) <= 7,
          f"column pruning ({len(read_schema.group(1).split(',')) if read_schema else '?'} cols read)")

    print("== j1_top_revenue_orders ==")
    p = plan_of(qs["j1_top_revenue_orders"](spark, sf_dir))
    check("j1", "BroadcastHashJoin" in p, "customer dim broadcast, not shuffled")
    check("j1", "TakeOrderedAndProject" in p, "top-k runs as TakeOrdered (no global sort)")

    print("== fs_customer_supplier_scores ==")
    p = executed_plan_of(qs["fs_customer_supplier_scores"](spark, sf_dir))
    # JW runs either as the native JVM UDF (zero Python nodes — preferred,
    # when jvm/sparklinkage.jar is on the session) or as exactly one
    # Arrow-batched pandas UDF (jarless fallback); never row-at-a-time
    check("fs", p.count("ArrowEvalPython") <= 1 and "BatchEvalPython" not in p,
          f"JW is JVM-native or one Arrow node (got {p.count('ArrowEvalPython')} arrow)")
    check(
        "fs",
        has_codegen(no_aqe_plan(spark, lambda: qs["fs_customer_supplier_scores"](spark, sf_dir))),
        "FS arithmetic inside codegen",
    )

    print("== jw_similar_part_names ==")
    p = executed_plan_of(qs["jw_similar_part_names"](spark, sf_dir))
    check("jw", p.count("ArrowEvalPython") <= 1 and "BatchEvalPython" not in p,
          f"JW is JVM-native or one Arrow node (got {p.count('ArrowEvalPython')} arrow)")

    print("== j34_urgent_no_open_customers ==")
    p = plan_of(qs["j34_urgent_no_open_customers"](spark, sf_dir))
    check("j34", "LeftAnti" in p and "LeftSemi" in p,
          "anti- and semi-join are first-class LeftAnti/LeftSemi joins")

    print("== dedup_exact_documents ==")
    p = plan_of(qs["dedup_exact_documents"](spark, sf_dir))
    check("dedup", "partial_" in p, "map-side partial aggregation before shuffle")

    # Exchange reuse does NOT deduplicate sub-plans containing a Python
    # UDF node, so the LSH self-joins must read their signatures from a
    # persisted relation: both join sides as InMemoryTableScan, kernel
    # computed once (cache build), never row-at-a-time.
    print("== minhash_near_dups ==")
    p = executed_plan_of(qs["minhash_near_dups"](spark, sf_dir))
    check("minhash", p.count("InMemoryTableScan") == 2,
          f"both self-join sides read cached signatures (got {p.count('InMemoryTableScan')} cached scans)")
    check("minhash", "BatchEvalPython" not in p, "no row-at-a-time Python")

    print("== simhash_near_dups ==")
    p = executed_plan_of(qs["simhash_near_dups"](spark, sf_dir))
    check("simhash", p.count("InMemoryTableScan") == 2,
          f"both self-join sides read cached signatures (got {p.count('InMemoryTableScan')} cached scans)")
    check("simhash", "PushedFilters: [IsNotNull(text)" in plan_of(qs["simhash_near_dups"](spark, sf_dir)),
          "text non-null precondition pushed to the parquet scan")

    print("== asof_prior_error_state ==")
    p = executed_plan_of(qs["asof_prior_error_state"](spark, sf_dir))
    # 3 key exchanges since the r4 range-join extension (was 1 for the
    # bare asof union+window): the binned range-join sub-query and its
    # open-counts aggregation add bounded co-partitioning steps. Zero
    # pair-explosion nodes remains the invariant that matters.
    check("asof", p.count("Exchange hashpartitioning") == 3,
          f"asof union+window + binned range-join path: exactly 3 key exchanges (got {p.count('Exchange hashpartitioning')})")
    check("asof", "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p,
          "no pair explosion (no cartesian / broadcast-nested-loop)")

    print("== profile_orders_table ==")
    p = executed_plan_of(qs["profile_orders_table"](spark, sf_dir))
    check("profile", p.count("Scan parquet") == 1,
          f"whole profile is ONE scan (got {p.count('Scan parquet')})")
    check("profile", p.count("Exchange") == 1,
          f"one global-aggregate collapse, no per-column jobs (got {p.count('Exchange')} exchanges)")

    print("== pii_repetition_signals ==")
    p = executed_plan_of(qs["pii_repetition_signals"](spark, sf_dir))
    check("pii_rep", p.count("Scan parquet") == 1,
          f"folded scrub+repetition run as ONE scan (got {p.count('Scan parquet')})")
    check("pii_rep", "Exchange" not in p and "BatchEvalPython" not in p,
          "pure narrow projection: no shuffle, no Python")

    print("== topk_increment (via a8_order_priority_counts) ==")
    from person_linkage_case_study_spark.operators.topk import topk_increment

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    p = executed_plan_of(topk_increment(orders, "o_orderpriority", 16, "audit"))
    check("topk", "Window" not in p,
          "no partition-less ranking window in the slice summarizer")
    check("topk", "TakeOrderedAndProject" in p,
          "top-(capacity+1) cut is distributed TakeOrderedAndProject")

    print("== j5_accumulating_merge ==")
    p = executed_plan_of(qs["j5_accumulating_merge"](spark, sf_dir))
    check("j5", "BroadcastHashJoin" in p,
          "is_active membership join is broadcast, not shuffled")

    print("== cascade zero-knob skew derivation (r9) ==")
    # One monster-key pass (1024x1024 pairs on one block) and one spread
    # pass (pairs == rows), both with NEITHER knob set: the hot pass's
    # physical plan must carry the derived salt lanes AND the AQE-exempt
    # pin; the spread pass's plan must be byte-identical to the manual
    # contract (auto derivation may never perturb a below-gate pass).
    from pyspark.sql import functions as F

    from person_linkage_case_study_spark.operators.gamma import exact_comparison
    from person_linkage_case_study_spark.operators.scoring import LinkageModel
    from person_linkage_case_study_spark.plans.cascade import (
        ModuleConfig,
        PassConfig,
        PersonLinkageCascade,
        pass_group_plan_problems,
    )

    # 2048x2048 = 4,194,304 hot pairs: at the r11 MEASURED string widths
    # these 1-5 char fixture strings derive ~92 B/row, so ~386 MB of
    # pair output — over the 4x64MB absolute floor (the r10 fixture's
    # 1536^2 pairs cleared the floor only under the 16-byte-per-string
    # assumption; the measured widths correctly shrank its estimate)
    def person_frame(prefix: str, spread: bool):
        df = spark.range(2048).select(
            F.lit("Z").alias("zip3"),
            (
                F.concat(F.lit("B"), F.col("id")) if spread else F.lit("B1")
            ).alias("geokey_for_blocking"),
            F.concat(F.lit(prefix), F.col("id")).alias("record_id"),
            F.lit("A").alias("middle_initial"),
        )
        return df

    mi = exact_comparison("middle_initial")
    mi.m, mi.u = [0.2, 0.8], [0.8, 0.2]
    model = LinkageModel([mi], lambda_prior=1e-3)
    module = ModuleConfig(
        name="audit", reference_file_name="ref", cut_columns=["zip3"],
        matching_columns=["middle_initial"],
        passes=[],
    )
    zero_knob = PassConfig("p", ["geokey_for_blocking"], 0.5)
    for label, spread in (("hot", False), ("spread", True)):
        census = person_frame("c", spread).withColumn(
            "record_id_raw_input_file", F.col("record_id")
        )
        ref = person_frame("r", spread).withColumn(
            "pik", F.concat(F.lit("P"), F.col("record_id"))
        )
        casc = PersonLinkageCascade(
            spark, census, {"ref": ref}, model
        )
        casc.start_module(module)
        plan = casc.resolve_pass_plan(zero_knob)
        p = plan_of(
            casc.build_pass_links(
                zero_knob,
                num_partitions=plan.num_partitions,
                salt_partitions=plan.salt_partitions,
            )
        )
        if label == "hot":
            check("autoskew", ") AS __salt" in p,
                  "hot pass: derived salt lanes in the optimized plan")
            check("autoskew", "REPARTITION_BY_NUM" in p,
                  "hot pass: derived pin is a user-specified repartition"
                  " (AQE-exempt)")
        else:
            check("autoskew", "__salt" not in p
                  and "REPARTITION_BY_NUM" not in p,
                  "spread pass: below-gate plan untouched (no salt, no pin)")
        casc.census.unpersist()

    print("== cascade pass group ==")
    # Two spread passes of the module's config, both derive no knob from
    # their statistics: they run as one group — one Window (earliest linking pass per record)
    # above the Union of the branches, and no threshold Filter below the
    # Union (pushed into every branch, it made constraint propagation
    # over the Union take seconds per module).
    group_module = ModuleConfig(
        name="audit_group", reference_file_name="ref", cut_columns=["zip3"],
        matching_columns=["middle_initial"],
        passes=[
            PassConfig("geokey", ["geokey_for_blocking"], 0.5),
            PassConfig("alt key", ["alt_key"], 0.9),
        ],
    )
    census = person_frame("c", True).withColumn(
        "record_id_raw_input_file", F.col("record_id")
    )
    ref = person_frame("r", True).withColumn(
        "pik", F.concat(F.lit("P"), F.col("record_id"))
    )
    casc = PersonLinkageCascade(
        spark,
        census.withColumn("alt_key", F.col("geokey_for_blocking")),
        {"ref": ref.withColumn("alt_key", F.col("geokey_for_blocking"))},
        model,
    )
    casc.start_module(group_module)
    for p in group_module.passes:
        casc.run_matching_pass(p)
    tree = casc._provisional_links._jdf.queryExecution().optimizedPlan().treeString()
    problems = pass_group_plan_problems(tree, branches=len(group_module.passes))
    check("group", not problems,
          "one Window above the branches' Union, no threshold Filter below it"
          + (f" ({'; '.join(problems)})" if problems else ""))
    observed = tree.count("CollectMetrics ")
    check("group", observed == 1,
          f"the group's statistics observed in its plan (got {observed} CollectMetrics)")
    casc.census.unpersist()

    if failures:
        print(f"\n{len(failures)} plan invariant(s) FAILED")
        sys.exit(1)
    print("\nall plan invariants hold")


if __name__ == "__main__":
    main()

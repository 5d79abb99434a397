"""Linkage-native benchmark: the full PVS-style cascade at testdata scale.

Synthesizes person-shaped records deterministically from the orders table
(one person per order — 150k records at sf0.1, 15k at sf0.01; compare the
reference's small_sample = ~11k linkage records at 41.66s wall,
BASELINE.md), builds a reference file with deterministic noise, and runs a
2-module cascade (geokey blocking pass + name-switch pass, then a
namesearch-style pass) with the full comparison set: JW names, banded DOB
parts, exact middle initial.

Prints one JSON line: {"metric": "cascade_wall", "value": sec,
"records": N, "links": M, "sf": ..., "passes": [...], "confirm": [...]},
where ``passes`` is the per-pass table the cascade observed (module,
pass, pairs, links, records still eligible, pin, salt, checkpoint
storage level) and ``confirm`` each module's confirm drops.

Usage: python tools/bench_linkage.py [sf_dir]
"""

from __future__ import annotations

import dataclasses
import json
import os
import sys
import time

sys.path.insert(0, ".")

from pyspark.sql import functions as F

from person_linkage_case_study_spark.operators.gamma import (
    banded_comparison,
    exact_comparison,
    jw_comparison,
)
from person_linkage_case_study_spark.operators.scoring import LinkageModel
from person_linkage_case_study_spark.plans.cascade import (
    CascadeConfig,
    ModuleConfig,
    PassConfig,
    PersonLinkageCascade,
)
from person_linkage_case_study_spark.session import get_spark

FIRST = ["JAMES", "MARY", "ROBERT", "PATRICIA", "JOHN", "JENNIFER", "MICHAEL",
         "LINDA", "WILLIAM", "ELIZABETH", "DAVID", "BARBARA", "RICHARD",
         "SUSAN", "JOSEPH", "JESSICA", "THOMAS", "SARAH", "CHARLES", "KAREN"]
LAST = ["SMITH", "JOHNSON", "WILLIAMS", "BROWN", "JONES", "GARCIA", "MILLER",
        "DAVIS", "RODRIGUEZ", "MARTINEZ", "HERNANDEZ", "LOPEZ", "GONZALEZ",
        "WILSON", "ANDERSON", "THOMAS", "TAYLOR", "MOORE", "JACKSON", "MARTIN"]


def cascade_report(cascade: PersonLinkageCascade) -> dict:
    """The run's per-pass table and confirm drops, as the cascade
    observed them in the actions it ran (reading them runs no job)."""
    return {
        "passes": [
            {
                "module": s.module,
                "pass": s.pass_name,
                "pairs": s.n_pairs_estimated,
                "links": s.n_links,
                "eligible": s.n_still_eligible,
                "pin": s.num_partitions,
                "salt": s.salt_partitions,
                "storage": None if s.storage_level is None else str(s.storage_level),
            }
            for s in cascade.stats
        ],
        "confirm": [dataclasses.asdict(c) for c in cascade.confirm_stats],
    }


def synthesize(spark, sf_dir, scale_mult: int = 1, moduli_mult: int | None = None):
    """Deterministic person records from orders: names drawn by key mod,
    DOB parts from the order date, zip3/geokey from custkey buckets.

    ``scale_mult`` unions N key-shifted copies of the orders table AND
    grows the zip3/geokey bucket moduli by N — the realistic scale
    rehearsal (more people ⇒ more zips/addresses): block COUNT grows N×,
    block sizes stay constant, total pairs grow ~N×. Keeping the moduli
    fixed instead would grow every block N× and pairs N²× — a skew stress,
    not a scale test (measured: 4× with fixed moduli = 16× pairs, >10min).

    ``moduli_mult`` (r11) overrides the moduli scaling independently:
    the capbind mode passes 1 to get exactly that N²-pair density stress
    on purpose — the cheapest corpus whose pass-1 pin DERIVES PAST the
    4096 cap (pairs grow quadratically while records grow linearly, so
    the cap binds at ~1/200th the records the 2048× rung would need)."""
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    mm = scale_mult if moduli_mult is None else moduli_mult
    zip_mod = 100 * mm
    geo_mod = 1000 * mm
    if scale_mult > 1:
        base_max = 10_000_000
        copies = [o]
        for i in range(1, scale_mult):
            # the +i*37 offset de-correlates each copy's bucket assignment
            copies.append(
                o.withColumn("o_orderkey", F.col("o_orderkey") + i * base_max)
                .withColumn("o_custkey", F.col("o_custkey") + i * base_max + i * 37)
            )
        from functools import reduce

        o = reduce(lambda a, b: a.unionByName(b), copies)
    first_arr = F.array(*[F.lit(x) for x in FIRST])
    last_arr = F.array(*[F.lit(x) for x in LAST])
    base = o.select(
        F.col("o_orderkey").cast("string").alias("record_id"),
        F.element_at(first_arr, (F.col("o_orderkey") % 20 + 1).cast("int")).alias(
            "first_name"
        ),
        F.element_at(last_arr, (F.col("o_custkey") % 20 + 1).cast("int")).alias(
            "last_name"
        ),
        F.substring(F.col("o_orderpriority"), 1, 1).alias("middle_initial"),
        F.dayofmonth("o_orderdate").alias("day_of_birth"),
        F.month("o_orderdate").alias("month_of_birth"),
        (F.year("o_orderdate") - 30).alias("year_of_birth"),
        (F.col("o_custkey") % zip_mod).cast("string").alias("zip3"),
        F.concat_ws(
            " ",
            (F.col("o_custkey") % geo_mod).cast("string"),
            F.lit("MAIN ST"),
            (F.col("o_custkey") % zip_mod).cast("string"),
        ).alias("geokey"),
    )
    base = (
        base.withColumn("geokey_for_blocking", F.col("geokey"))
        .withColumn("first_name_15", F.substring("first_name", 1, 15))
        .withColumn("last_name_12", F.substring("last_name", 1, 12))
        .withColumn("first_name_1", F.substring("first_name", 1, 1))
        .withColumn("last_name_1", F.substring("last_name", 1, 1))
    )
    census = base.withColumn("record_id_raw_input_file", F.col("record_id"))
    # reference: per-record noise — 1/5 name typo, 1/7 DOB off-by-one,
    # 1/11 missing middle initial. Capture the numeric key BEFORE re-keying.
    key = F.col("__key")
    ref = (
        base.withColumn("__key", F.col("record_id").cast("long"))
        .withColumn("record_id", F.concat(F.lit("r"), F.col("record_id")))
        .withColumn("pik", F.concat(F.lit("P"), key.cast("string")))
        .withColumn(
            "first_name_15",
            F.when(key % 5 == 0, F.concat(F.substring("first_name_15", 1, 4), F.lit("E")))
            .otherwise(F.col("first_name_15")),
        )
        .withColumn(
            "day_of_birth",
            F.when(key % 7 == 0, F.col("day_of_birth") + 1).otherwise(F.col("day_of_birth")),
        )
        .withColumn(
            "middle_initial",
            F.when(key % 11 == 0, F.lit(None).cast("string")).otherwise(
                F.col("middle_initial")
            ),
        )
        .drop("__key")
    )
    return census, ref


def skew_transform(census, ref, hot_census_every=16, hot_ref_every=32,
                   cold_geo_keys=8000):
    """Re-key the synthesized corpus into the skew rehearsal's shape
    (tools/bench_skew.py), but through the CASCADE's blocking columns:
    1/16 of census and 1/32 of reference land on ONE (zip3, geokey) hot
    block (~44M pairs at sf0.1 — ~95% of pass-1 pairs), the rest spread
    over 8000 sparse cold blocks (~2.4M pairs). Hot membership derives
    from the shared numeric person key, so cold person pairs still block
    together (link semantics intact) and every ref-hot person is also
    census-hot. This is the output-explosion shape AQE skew-join cannot
    see (the hot block's shuffle INPUT is ~1 MB; its pair OUTPUT is not)
    — the case the reference hardcodes salting_partitions for
    (03_link_datasets.ipynb:1971-1975) and SKEW_BENCH_r05 measured on
    the isolated join."""
    def rekey(df, hot_every):
        key = F.regexp_replace(F.col("record_id"), "[^0-9]", "").cast("long")
        hot = F.pmod(key, F.lit(hot_every)) == 0
        zip3 = F.when(hot, F.lit("H00")).otherwise(
            F.pmod(key, F.lit(cold_geo_keys // 10)).cast("string")
        )
        geo = F.when(hot, F.lit("1 HOT ST")).otherwise(
            F.concat(F.pmod(key, F.lit(cold_geo_keys)).cast("string"),
                     F.lit(" MAIN ST"))
        )
        return (
            df.withColumn("zip3", zip3)
            .withColumn("geokey", geo)
            .withColumn("geokey_for_blocking", geo)
        )

    return rekey(census, hot_census_every), rekey(ref, hot_ref_every)


def make_model() -> LinkageModel:
    comps = []
    for col in ["first_name_15", "last_name_12"]:
        c = jw_comparison(col, thresholds=(0.9, 0.75))
        c.m = [0.02, 0.05, 0.2, 0.73]
        c.u = [0.85, 0.08, 0.05, 0.02]
        comps.append(c)
    mi = exact_comparison("middle_initial")
    mi.m = [0.2, 0.8]
    mi.u = [0.8, 0.2]
    comps.append(mi)
    for col, band in [("day_of_birth", 5), ("month_of_birth", 3), ("year_of_birth", 5)]:
        c = banded_comparison(col, band)
        c.m = [0.05, 0.15, 0.8]
        c.u = [0.8, 0.15, 0.05]
        comps.append(c)
    return LinkageModel(comps, lambda_prior=1e-3)


def bench_u_estimation(spark, census, ref, n_records: int, sf: float) -> None:
    """Head-to-head with the reference's u-estimation benchmark: 1e7
    random cross pairs through the full comparison set (ri executed
    03_link_datasets.ipynb cell 70: 52.1 s on duckdb at 1.1M records;
    BASELINE.md). Uses the deterministic hash sampler so the measured run
    is also the reproducible-at-scale configuration."""
    from person_linkage_case_study_spark.operators.estimation import estimate_u

    model = make_model()
    t0 = time.time()
    estimate_u(
        census,
        ref,
        model.comparisons,
        max_pairs=1e7,
        sample_keys=(["record_id"], ["record_id"]),
    )
    wall = round(time.time() - t0, 3)
    print(
        json.dumps(
            {
                "metric": "u_estimation_1e7_wall",
                "value": wall,
                "unit": "sec",
                "records": n_records,
                "sf": sf,
            }
        )
    )


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"
    )
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else -1.0
    scale_mult = int(sys.argv[2]) if len(sys.argv) > 2 else 1
    mode = sys.argv[3] if len(sys.argv) > 3 else "cascade"
    # Size the single-JVM heap and reducer count to the data, the way a
    # cluster submit would: the standard 8g local heap OOMs at 128×
    # (19.2M records — a map-side hash agg across 32 concurrent tasks
    # exhausted the heap while the box sat at 10/128 GiB used), so the
    # ladder scales heap ~mult/2 GiB (floor 8, cap 64) and shuffle
    # partitions 2×mult past 16× so per-reducer state keeps shrinking as
    # the data grows — the local analog of adding executors.
    heap_g = min(64, max(8, scale_mult // 2))
    shuffle_parts = max(32, 2 * scale_mult)
    if mode == "capbind":
        # pair volume, not record count, is the stress here: give the
        # 32 concurrent scoring tasks room and let the derived pin (not
        # the session conf) shape the pair stage
        heap_g = 32
    spark = get_spark(
        "bench-linkage",
        extra_conf={
            "spark.driver.memory": f"{heap_g}g",
            "spark.sql.shuffle.partitions": str(shuffle_parts),
        },
    )
    census, ref = synthesize(
        spark, sf_dir, scale_mult,
        moduli_mult=1 if mode == "capbind" else None,
    )
    salt = pin = None
    if mode in ("skew", "skew-salted", "skew-full-auto"):
        # cascade-path skew rehearsal: same hot-block shape as
        # tools/bench_skew.py, but the mitigation is measured through
        # blocking→gamma→score→argmax, not the isolated join. The
        # template's AQE skew-join stays ON in BOTH configs — it keys on
        # shuffle-input bytes and cannot see this output explosion, so
        # the delta isolates the per-pass salt_partitions lever.
        # Optional argv[4]/argv[5] scale the hot block (census/ref
        # every-Nth): at the 16/32 default the hot block is ~44M pairs
        # (~94% of pass 1) — enough to dominate the isolated join but
        # only ~30s of one-core work inside the full cascade; 4/32
        # makes it ~176M pass-1 pairs (plus the pass-2 residual
        # re-explosion) so the straggler dominates the cascade wall.
        hot_c = int(sys.argv[4]) if len(sys.argv) > 4 else 16
        hot_r = int(sys.argv[5]) if len(sys.argv) > 5 else 32
        census, ref = skew_transform(
            census, ref, hot_census_every=hot_c, hot_ref_every=hot_r
        )
        salt = 32 if mode == "skew-salted" else None
        # the salted config also PINS the join partitioning: at this
        # corpus size AQE coalesces the pass's reduce stage to ~1 task
        # by input bytes (zstd crushes the replicated side), which would
        # serialize the scoring with or without salt — see
        # PassConfig.num_partitions. "skew-salted" pins MANUALLY (the r7
        # measured config: salt 32, pin 64); "skew-full-auto" (r9) sets
        # NEITHER knob, so the cascade derives both (derive_pair_pin +
        # derive_salt) — the end-to-end proof that a pass author who
        # sets nothing survives the monster block. (The interim
        # "skew-auto" mode — derived pin, hard-coded salt — was retired
        # r10: it proved a half-derivation that no longer exists as a
        # shipping configuration; SKEW_BENCH_r08 holds its numbers.)
        pin = 64 if mode == "skew-salted" else None
    n_records = census.count()
    ref = ref.persist()
    ref.count()
    if mode == "uest":
        bench_u_estimation(spark, census, ref, n_records, sf)
        return

    matching = [
        "first_name_15", "last_name_12", "middle_initial",
        "day_of_birth", "month_of_birth", "year_of_birth",
    ]
    if mode == "capbind":
        # r11 (verdict): run a pass with derive_pair_pin's cap BINDING —
        # the 2048× rung derived pin=4096-at-cap but never RAN (walled
        # off at ~27 ks); a fixed-moduli corpus reaches the binding
        # point at ~1/200th the records because pairs grow with mult²
        # while records grow with mult. One module, one pass (the
        # explosion is pass 1's; the ladder already proves the rest).
        from person_linkage_case_study_spark.operators.blocking import (
            derive_pair_pin,
            derive_pin_cap,
            derive_salt,
            estimate_pair_row_bytes,
            estimate_pair_stats,
        )
        from person_linkage_case_study_spark.session import (
            shuffle_partitions as _shuffle_parts,
        )

        keys = ["zip3", "geokey_for_blocking"]
        cols = list(dict.fromkeys(["record_id", *keys, *matching]))
        cside = census.select(
            *[c for c in cols if c in census.columns],
            "record_id_raw_input_file",
        )
        rside = ref.select(*[c for c in cols if c in ref.columns])
        st = estimate_pair_stats(cside, rside, keys)
        rb = estimate_pair_row_bytes(cside, rside, keys, stats=st)
        cap = derive_pin_cap(
            spark.sparkContext.defaultParallelism, conf=spark.conf
        )
        uncapped = derive_pair_pin(
            st.pairs, st.n_left, st.n_right, _shuffle_parts(spark),
            pair_row_bytes=rb, cap=1 << 30,
        )
        derived = derive_pair_pin(
            st.pairs, st.n_left, st.n_right, _shuffle_parts(spark),
            pair_row_bytes=rb, cap=cap,
        )
        t0 = time.time()
        cascade = PersonLinkageCascade(
            spark, census, {"ref": ref}, make_model()
        )
        confirmed = cascade.run(
            CascadeConfig(
                modules=[
                    ModuleConfig(
                        name="capbind",
                        reference_file_name="ref",
                        cut_columns=["zip3"],
                        matching_columns=matching,
                        passes=[
                            PassConfig("geokey", ["geokey_for_blocking"], 0.9)
                        ],
                    )
                ]
            )
        )
        n_links = confirmed.count()
        wall = round(time.time() - t0, 3)
        print(json.dumps({
            "metric": "cascade_capbind_wall",
            "value": wall,
            "unit": "sec",
            "records": n_records,
            "links": n_links,
            "est_pairs_pass1": st.pairs,
            "max_key_pairs_pass1": st.max_key_pairs,
            "pair_row_bytes_pass1": rb,
            "pin_cap": cap,
            "derived_pin_pass1": derived,
            "uncapped_pin_pass1": uncapped,
            "cap_binding": bool(uncapped is not None and uncapped > cap),
            "pair_mb_per_task_at_cap": round(
                st.pairs * rb / max(1, derived or 1) / 1e6, 1
            ),
            "derived_salt_pass1": derive_salt(
                st.max_key_pairs, pair_row_bytes=rb
            ),
            "mult": scale_mult,
            "sf": sf,
            **cascade_report(cascade),
        }))
        return

    config = CascadeConfig(
        modules=[
            ModuleConfig(
                name="geosearch",
                reference_file_name="ref",
                cut_columns=["zip3"],
                matching_columns=matching,
                passes=[
                    PassConfig(
                        "geokey", ["geokey_for_blocking"], 0.9,
                        salt_partitions=salt, num_partitions=pin,
                    ),
                    PassConfig(
                        "geokey name switch",
                        ["geokey_for_blocking"],
                        0.9,
                        switch_names=True,
                        salt_partitions=salt, num_partitions=pin,
                    ),
                ],
            ),
            ModuleConfig(
                name="namesearch",
                reference_file_name="ref",
                cut_columns=["zip3"],
                matching_columns=matching,
                passes=[
                    PassConfig(
                        "dob and initials",
                        ["year_of_birth", "first_name_1", "last_name_1"],
                        0.9,
                    ),
                ],
            ),
        ]
    )
    t0 = time.time()
    # "skew" is the UNMITIGATED baseline: auto_pin off so the measured
    # serial-reduce-task regime stays reproducible (with r8's default-on
    # derivation it would otherwise self-mitigate)
    #
    # Checkpoint storage is NOT set here: the cascade auto-derives it
    # (derive_checkpoint_storage) from the census count vs the heap the
    # run was sized with — at 1024× that resolves to DISK_ONLY (the
    # first 1024× attempt OOM'd a shuffle writer while 32 tasks
    # unrolled ~226 MiB on-heap checkpoint partitions; the relaunch
    # with disk-level checkpoints cleared it), and at ≤512× it keeps
    # the measured-good on-heap default. The ladder therefore proves
    # the zero-knob path end-to-end, like skew-full-auto does for
    # salt+pin.
    cascade = PersonLinkageCascade(
        spark, census, {"ref": ref}, make_model(),
        auto_pin=(mode != "skew"),
    )
    confirmed = cascade.run(config)
    n_links = confirmed.count()
    wall = round(time.time() - t0, 3)
    payload = {
        "metric": "cascade_wall" if salt is None and mode == "cascade"
        else f"cascade_{mode.replace('-', '_')}_wall",
        "value": wall,
        "unit": "sec",
        "records": n_records,
        "links": n_links,
        "link_rate": round(n_links / n_records, 4),
        "sf": sf,
        **cascade_report(cascade),
    }
    if mode in ("skew", "skew-salted", "skew-full-auto"):
        hot_c = census.filter(F.col("zip3") == "H00").count()
        hot_r = ref.filter(F.col("zip3") == "H00").count()
        # the SUM aggregate is NULL when no cold block co-occurs on both
        # sides (fully-hot configuration) — coalesce like estimate_pair_stats
        cold_pairs = (
            census.filter(F.col("zip3") != "H00")
            .groupBy("zip3", "geokey_for_blocking")
            .count()
            .withColumnRenamed("count", "nc")
            .join(
                ref.filter(F.col("zip3") != "H00")
                .groupBy("zip3", "geokey_for_blocking")
                .count()
                .withColumnRenamed("count", "nr"),
                ["zip3", "geokey_for_blocking"],
            )
            .agg(F.sum(F.col("nc") * F.col("nr")))
            .first()[0]
            or 0
        )
        hot_pairs = hot_c * hot_r
        payload.update(
            salt=salt,
            hot_census=hot_c,
            hot_ref=hot_r,
            hot_pairs_pass1=hot_pairs,
            hot_share_pass1=round(hot_pairs / (hot_pairs + cold_pairs), 4),
        )
        if mode == "skew-full-auto":
            # record what the zero-knob path derived for pass 1 (one
            # extra tiny agg job — the artifact needs the numbers)
            from person_linkage_case_study_spark.operators.blocking import (
                derive_pair_pin,
                derive_salt,
                estimate_pair_row_bytes,
                estimate_pair_stats,
            )
            from person_linkage_case_study_spark.session import (
                shuffle_partitions,
            )

            keys = ["zip3", "geokey_for_blocking"]
            # replicate the cascade's _pass_sides projection so the
            # recorded derivation uses the SAME schema-derived row bytes
            # (r10) and MEASURED string widths (r11) the zero-knob run
            # actually derived with — the stats job must run over the
            # projected sides, not a keys-only frame, for the payload
            # sums to match
            cols = list(dict.fromkeys(["record_id", *keys, *matching]))
            cside = census.select(
                *[c for c in cols if c in census.columns],
                "record_id_raw_input_file",
            )
            rside = ref.select(*[c for c in cols if c in ref.columns])
            st = estimate_pair_stats(cside, rside, keys)
            rb = estimate_pair_row_bytes(cside, rside, keys, stats=st)
            payload.update(
                est_pairs_pass1=st.pairs,
                max_key_pairs_pass1=st.max_key_pairs,
                pair_row_bytes_pass1=rb,
                derived_pin_pass1=derive_pair_pin(
                    st.pairs, st.n_left, st.n_right, shuffle_partitions(spark),
                    pair_row_bytes=rb,
                ),
                derived_salt_pass1=derive_salt(
                    st.max_key_pairs, pair_row_bytes=rb
                ),
            )
    print(json.dumps(payload))


if __name__ == "__main__":
    main()

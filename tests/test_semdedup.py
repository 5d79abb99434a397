"""Semantic dedup (similarity/semdedup.py): planted exact/near duplicates
are dropped with the smallest-id witness recorded, survivors are kept,
the greedy chain semantics hold, block_col clustering works, the result
is layout-invariant, and the plan never falls back to a cross product."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from person_linkage_case_study_spark.similarity.semdedup import (
    auto_planes,
    eps_similarity_edges,
    semantic_dedup,
    semdedup_candidates,
)

DIM = 16


def _corpus(spark, rows):
    return spark.createDataFrame(
        [(int(i), [float(x) for x in v]) for i, v in rows],
        "vec_id long, embedding array<double>",
    )


@pytest.fixture(scope="module")
def planted(spark):
    """20 well-separated base vectors + exact copies of 3 of them + one
    near-copy (cosine ≈ 0.999) + one chain pair."""
    rng = np.random.default_rng(7)
    base = rng.standard_normal((20, DIM))
    base /= np.linalg.norm(base, axis=1, keepdims=True)
    rows = [(i, base[i]) for i in range(20)]
    # exact duplicates of 2, 5, 11 (ids 100..102)
    rows += [(100, base[2]), (101, base[5]), (102, base[11])]
    # near-duplicate of 7 (id 103): tiny perturbation
    near = base[7] + 0.01 * rng.standard_normal(DIM)
    rows.append((103, near / np.linalg.norm(near)))
    return _corpus(spark, rows)


def _decisions(df):
    return {
        r["vec_id"]: (r["kept"], r["dup_of"]) for r in df.collect()
    }


def test_exact_and_near_dups_dropped(spark, planted):
    out = semantic_dedup(planted, threshold=0.95, n_tables=4, n_planes=3, seed=11)
    d = _decisions(out)
    assert len(d) == 24
    # exact copies always share every bucket -> guaranteed caught
    assert d[100] == (False, 2)
    assert d[101] == (False, 5)
    assert d[102] == (False, 11)
    # near-copy: cosine ~0.9999 >= 0.95; identical sign pattern is not
    # guaranteed but at 0.01 perturbation over 4 tables it is found
    assert d[103] == (False, 7)
    # all 20 originals are mutually separated -> kept
    for i in range(20):
        assert d[i] == (True, None), i


def test_min_witness_chain_drops_both(spark):
    """a~b and b~c but a !~ c: the min-witness policy (drop iff ANY
    smaller-id neighbor ≥ threshold) drops BOTH b and c — unlike true
    sequential keep-first greedy, which compares only against survivors
    and would keep c. This pins the implemented (parallel) semantics."""
    a = np.zeros(DIM); a[0] = 1.0
    # rotate in the (0,1) plane: b at 18deg of a, c at 36deg
    def rot(theta):
        v = np.zeros(DIM); v[0] = np.cos(theta); v[1] = np.sin(theta)
        return v
    th = np.deg2rad(18)
    corpus = _corpus(spark, [(1, a), (2, rot(th)), (3, rot(2 * th))])
    # cos(18deg)=0.951 >= 0.95 ; cos(36deg)=0.809 < 0.95
    out = semantic_dedup(
        corpus, threshold=0.95, n_tables=6, n_planes=2, seed=3
    )
    d = _decisions(out)
    assert d[1] == (True, None)
    assert d[2] == (False, 1)
    assert d[3] == (False, 2)  # dropped via b even though b itself dropped


def test_block_col_clustering(spark):
    a = np.zeros(DIM); a[0] = 1.0
    corpus = spark.createDataFrame(
        [
            (1, [float(x) for x in a], "x"),
            (2, [float(x) for x in a], "x"),   # same block: caught
            (3, [float(x) for x in a], "y"),   # other block: missed by design
        ],
        "vec_id long, embedding array<double>, grp string",
    )
    d = _decisions(semantic_dedup(corpus, threshold=0.99, block_col="grp"))
    assert d[1] == (True, None)
    assert d[2] == (False, 1)
    assert d[3] == (True, None)


def test_edges_are_unordered_and_thresholded(spark, planted):
    e = eps_similarity_edges(
        planted, threshold=0.95, n_tables=4, n_planes=3, seed=11
    )
    rows = e.collect()
    assert all(r["id_r"] < r["id_l"] for r in rows)
    assert all(r["cosine"] >= 0.95 for r in rows)
    pairs = {(r["id_l"], r["id_r"]) for r in rows}
    assert len(pairs) == len(rows)  # DISTINCT held across tables
    assert {(100, 2), (101, 5), (102, 11), (103, 7)} <= pairs


def test_layout_invariance(spark, planted):
    base = semantic_dedup(planted, threshold=0.95, n_tables=4, n_planes=3, seed=11)
    shuffled = semantic_dedup(
        planted.repartition(7), threshold=0.95, n_tables=4, n_planes=3, seed=11
    )
    assert sorted(map(tuple, base.collect())) == sorted(
        map(tuple, shuffled.collect())
    )


def test_no_cross_product_in_plan(spark, planted):
    out = semantic_dedup(planted, threshold=0.95, n_tables=4, n_planes=3, seed=11)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


@pytest.mark.parametrize("n_planes", [None, 3])
def test_bucket_scorer_exchanges_sized_by_task_width(spark, planted, n_planes):
    """The bucket scorer's keyed exchange has ``task_width`` of the keyed
    rows (vectors left after the exact collapse × ``n_tables``)
    partitions, not ``spark.sql.shuffle.partitions``: each partition is
    a Python task, which a small corpus does not fill. Its grid exchange
    has ``defaultParallelism``: a grid group's work does not shrink with
    the corpus. With auto planes the count comes from the scorer's dim
    probe; with both ``n_planes`` and ``dim`` given, from a count of its
    own."""
    import re

    from person_linkage_case_study_spark.session import shuffle_partitions, task_width
    from person_linkage_case_study_spark.similarity.semdedup import (
        _SCORER_ROWS_PER_TASK,
    )

    dim = None if n_planes is None else DIM
    out = semantic_dedup(planted, threshold=0.95, seed=11, n_planes=n_planes, dim=dim)
    plan = out._jdf.queryExecution().executedPlan().toString()
    pins = re.findall(r"hashpartitioning\(([^()]*), (\d+)\), REPARTITION_BY_NUM", plan)
    # the keyed exchange shows once per branch: a plan holding a Python
    # UDF node is not deduplicated
    widths = {("__gc_i" in keys, int(width)) for keys, width in pins}
    collapsed = 3  # the exact copies 100..102
    keyed = task_width(spark, (planted.count() - collapsed) * 4, _SCORER_ROWS_PER_TASK)
    fleet = spark.sparkContext.defaultParallelism
    assert widths == {(False, keyed), (True, fleet)}
    assert keyed != shuffle_partitions(spark)



def test_auto_planes_plan_counts_the_corpus_once(spark, planted):
    """With auto planes and ``dim`` given, building the plan runs only the
    corpus count the planes need: the bucket scorer sizes its stages from
    that count rather than counting the collapsed frame, which would run
    the collapse window's shuffle once more."""
    sc = spark.sparkContext

    def jobs_of(group_id, build):
        sc.setJobGroup(group_id, group_id)
        try:
            build()
        finally:
            for key in ("spark.jobGroup.id", "spark.job.description",
                        "spark.job.interruptOnCancel"):
                sc.setLocalProperty(key, None)
        return len(sc.statusTracker().getJobIdsForGroup(group_id))

    n_plan = jobs_of(
        "test-semdedup-plan",
        lambda: semantic_dedup(planted, threshold=0.95, seed=11, dim=DIM),
    )
    n_count = jobs_of("test-semdedup-count", planted.count)
    assert n_plan == n_count > 0

def test_auto_planes_scaling():
    """Zero-knob default holds occupancy ≈ target: planes grow with
    log2(n), candidate volume Σ|bucket|² ≈ n×occupancy stays linear."""
    assert auto_planes(64) == 1
    assert auto_planes(1_000) == 4
    assert auto_planes(100_000) == 11
    assert auto_planes(1_000_000) == 14
    assert auto_planes(10_000_000) == 18
    assert auto_planes(10**12) == 24  # clamped ceiling
    for n in (10_000, 100_000, 1_000_000):
        # expected occupancy within [target/2, 2*target] (power-of-two grid)
        occ = n / 2 ** auto_planes(n)
        assert 32 <= occ <= 128, (n, occ)


def test_auto_planes_default_end_to_end(spark, planted):
    """semantic_dedup with NO clustering knobs (n_planes auto-derived)
    still catches the planted exact duplicates (identical vectors share
    every bucket regardless of plane count)."""
    d = _decisions(semantic_dedup(planted, threshold=0.95, seed=11))
    assert d[100] == (False, 2)
    assert d[101] == (False, 5)
    assert d[102] == (False, 11)


def test_empty_corpus(spark):
    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    out = semantic_dedup(empty, threshold=0.9)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == ["vec_id", "kept", "dup_of"]


def test_empty_candidates_schema_follows_id_type(spark):
    """The empty fallback derives (id_l, id_r) types from the projected
    id column — string ids give string pair columns, matching what the
    non-empty path would produce, not a hardcoded long/long."""
    empty_str = spark.createDataFrame(
        [], "vec_id string, embedding array<double>"
    )
    out = semdedup_candidates(empty_str)
    assert dict(out.dtypes) == {"id_l": "string", "id_r": "string"}
    assert out.count() == 0
    empty_int = spark.createDataFrame([], "vec_id int, embedding array<double>")
    assert dict(semdedup_candidates(empty_int).dtypes) == {
        "id_l": "int", "id_r": "int"
    }


def test_edges_create_no_persistent_rdds(spark, planted):
    """Cache-leak pin (r5 advice): eps_similarity_edges no longer
    persists the corpus projection internally — repeated calls in a
    long-lived session accumulate nothing."""
    jsc_sc = spark.sparkContext._jsc.sc()
    before = jsc_sc.getPersistentRDDs().size()
    for _ in range(3):
        eps_similarity_edges(
            planted, threshold=0.95, n_tables=4, n_planes=3, seed=11
        ).count()
    assert jsc_sc.getPersistentRDDs().size() <= before


def test_bucket_scorer_matches_join_scorer(spark, planted):
    """Both scorers emit the same edge set on the same clustering knobs
    (same einsum kernel, same inputs; only the shuffle shape differs)."""
    from person_linkage_case_study_spark.similarity.semdedup import (
        eps_similarity_edges_bucketed,
    )

    kw = dict(threshold=0.95, n_tables=4, n_planes=3, seed=11)
    join_edges = {
        (r["id_l"], r["id_r"], r["cosine"])
        for r in eps_similarity_edges(planted, **kw).collect()
    }
    bucket_edges = {
        (r["id_l"], r["id_r"], r["cosine"])
        for r in eps_similarity_edges_bucketed(planted, **kw).collect()
    }
    assert join_edges == bucket_edges
    assert join_edges  # non-vacuous: the planted dups produce edges


def test_bucket_scorer_end_to_end_decisions(spark, planted):
    """semantic_dedup(scorer='bucket') reproduces the join scorer's
    keep/drop decisions on the planted corpus."""
    a = _decisions(semantic_dedup(planted, threshold=0.95, seed=11))
    b = _decisions(
        semantic_dedup(planted, threshold=0.95, seed=11, scorer="bucket")
    )
    assert a == b


def test_bucket_scorer_empty_and_chunked(spark, planted):
    from person_linkage_case_study_spark.similarity.semdedup import (
        eps_similarity_edges_bucketed,
    )

    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    out = eps_similarity_edges_bucketed(empty, threshold=0.9)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == ["id_l", "id_r", "cosine"]

    # a tiny pair_chunk forces the in-task chunking path; result unchanged
    kw = dict(threshold=0.95, n_tables=4, n_planes=3, seed=11)
    full = eps_similarity_edges_bucketed(planted, **kw).count()
    chunked = eps_similarity_edges_bucketed(planted, pair_chunk=7, **kw).count()
    assert full == chunked > 0


# ---------------------------------------------------------------------------
# r7: occupancy guard (grid-split), exact-duplicate pre-collapse, and the
# scorer dispatch / NULL-block contracts (VERDICT r6 items 1 & 3, ADVICE).
# ---------------------------------------------------------------------------


def test_bucket_scorer_grid_split_matches_unsplit(spark, planted):
    """A tiny max_bucket forces every bucket through the grid-split path
    (round-robin chunks, diagonal triangle + cross tasks): the edge set
    is identical to the unsplit scorer's."""
    from person_linkage_case_study_spark.similarity.semdedup import (
        eps_similarity_edges_bucketed,
    )

    kw = dict(threshold=0.95, n_tables=4, n_planes=3, seed=11)
    unsplit = {
        (r["id_l"], r["id_r"], r["cosine"])
        for r in eps_similarity_edges_bucketed(
            planted, max_bucket=1 << 20, **kw
        ).collect()
    }
    for cap in (2, 3, 5):
        split = {
            (r["id_l"], r["id_r"], r["cosine"])
            for r in eps_similarity_edges_bucketed(
                planted, max_bucket=cap, **kw
            ).collect()
        }
        assert split == unsplit, cap
    assert unsplit  # non-vacuous


def test_max_bucket_derives_from_embedding_dim(spark, planted):
    """r10: the Arrow-batch cap self-sizes from the embedding width —
    the r8 constant 1024 was width-blind, so input batches grew without
    bound toward the measured ~400 MB allocator cliff as embeddings
    widened. The 64 MB budget pins every dim at the widest point
    measured safe (dim 4096 / cap 1024 ≈ 67 MB input batches,
    SEMDEDUP_BENCH_r10; shrinking harder measured 4.2× wall in grid
    replication for zero safety). Pins the derivation at
    64/1536/4096/8192/16384, the production-dim invariance, and
    decisions-unchanged on the planted corpus whichever cap applies."""
    from person_linkage_case_study_spark.similarity.semdedup import (
        derive_max_bucket,
    )

    assert derive_max_bucket(64) == 1024  # production path: r8 cap exactly
    assert derive_max_bucket(1536) == 1024  # ≤ 8192: measured-safe batch
    assert derive_max_bucket(4096) == 1024
    assert derive_max_bucket(8192) == 1024  # r11 measured boundary exactly
    assert derive_max_bucket(16384) == 512
    assert derive_max_bucket(32768) == 256
    assert derive_max_bucket(10**7) == 64  # floor: tasks stay BLAS-sized
    assert derive_max_bucket(None) == 1024  # unprobeable dim: r8 constant

    # decisions are cap-invariant: the derived cap (1024 at DIM=16) and a
    # cap forcing the grid-split on every bucket agree exactly
    derived = _decisions(
        semantic_dedup(planted, threshold=0.95, seed=11, scorer="bucket")
    )
    forced = _decisions(
        semantic_dedup(
            planted, threshold=0.95, seed=11, scorer="bucket", max_bucket=3
        )
    )
    assert derived == forced


def test_grid_split_task_budget_refusal(spark):
    """r9 degenerate-input ceiling: a block whose grid-split would mint
    more than max_grid_tasks chunk-pair tasks fails fast with a typed
    refusal naming the remedies — BEFORE the explode replicates rows.
    The same shape under a sufficient budget completes normally."""
    from person_linkage_case_study_spark.similarity.semdedup import (
        eps_similarity_edges_bucketed,
    )

    rng = np.random.default_rng(3)
    vecs = rng.standard_normal((600, DIM))
    corpus = spark.createDataFrame(
        [(int(i), [float(x) for x in vecs[i]], "B") for i in range(600)],
        "vec_id long, embedding array<double>, blk string",
    )
    # 600-row block at max_bucket=2 -> 300 chunks -> 45,150 chunk pairs
    over = eps_similarity_edges_bucketed(
        corpus, block_col="blk", max_bucket=2, max_grid_tasks=1000,
        threshold=0.5,
    )
    with pytest.raises(Exception, match="grid-split refused"):
        over.collect()
    # under budget: completes, non-vacuous
    ok = eps_similarity_edges_bucketed(
        corpus, block_col="blk", max_bucket=64, max_grid_tasks=50_000,
        threshold=0.5,
    )
    assert ok.count() > 0


def test_bucket_scorer_grid_split_with_tiny_pair_chunk(spark, planted):
    """Grid-split composes with in-task pair chunking (the cross kernel's
    block iterator), result unchanged."""
    from person_linkage_case_study_spark.similarity.semdedup import (
        eps_similarity_edges_bucketed,
    )

    kw = dict(threshold=0.95, n_tables=4, n_planes=3, seed=11)
    base = eps_similarity_edges_bucketed(planted, **kw).count()
    split = eps_similarity_edges_bucketed(
        planted, max_bucket=3, pair_chunk=5, **kw
    ).count()
    assert base == split > 0


def test_bucket_scorer_null_block_rows_cluster_with_nothing(spark):
    """NULL block keys are dropped from bucketing (matching the join
    scorer's equi-join, which drops NULL keys) — both scorers emit the
    same (empty-of-NULL) edge set."""
    from person_linkage_case_study_spark.similarity.semdedup import (
        eps_similarity_edges_bucketed,
    )

    a = np.zeros(DIM); a[0] = 1.0
    corpus = spark.createDataFrame(
        [
            (1, [float(x) for x in a], "x"),
            (2, [float(x) for x in a], "x"),
            (3, [float(x) for x in a], None),  # NULL block: matches nothing
            (4, [float(x) for x in a], None),
        ],
        "vec_id long, embedding array<double>, grp string",
    )
    kw = dict(threshold=0.9, block_col="grp")
    join_edges = {
        (r["id_l"], r["id_r"])
        for r in eps_similarity_edges(corpus, **kw).collect()
    }
    bucket_edges = {
        (r["id_l"], r["id_r"])
        for r in eps_similarity_edges_bucketed(corpus, **kw).collect()
    }
    assert join_edges == bucket_edges == {(2, 1)}
    # and semantic_dedup keeps the NULL-block rows (never collapsed,
    # never scored against anything)
    d = _decisions(semantic_dedup(corpus, threshold=0.9, block_col="grp"))
    assert d[3] == (True, None)
    assert d[4] == (True, None)
    assert d[2] == (False, 1)


def test_bucket_scorer_rejects_candidate_stream(spark, planted):
    """scorer='bucket' + candidates= is a contract violation (the bucket
    scorer generates its own pairs) — clear ValueError at dispatch, not
    a deep TypeError (r6 what's-wrong #2)."""
    cand = semdedup_candidates(planted, n_tables=4, n_planes=3, seed=11)
    with pytest.raises(ValueError, match="bucket scorer cannot consume"):
        semantic_dedup(
            planted, threshold=0.95, scorer="bucket", candidates=cand
        )


def test_collapse_exact_decisions_identical(spark, planted):
    """The exact-duplicate pre-collapse changes the WORK (groups of
    identical vectors are scored once via their representative), never
    the ANSWER: decisions match the uncollapsed run on a corpus with
    planted exact dups, for both scorers."""
    kw = dict(threshold=0.95, n_tables=4, n_planes=3, seed=11)
    for scorer in ("join", "bucket"):
        a = _decisions(
            semantic_dedup(planted, scorer=scorer, collapse_exact=True, **kw)
        )
        b = _decisions(
            semantic_dedup(planted, scorer=scorer, collapse_exact=False, **kw)
        )
        assert a == b, scorer


def test_collapse_exact_mega_group_witness_chain(spark):
    """A group of identical vectors + an external witness SMALLER than
    the representative: members inherit the representative's external
    witness (dup_of = coalesce(W(rep), rep)), the representative keeps
    its own — the exact min-witness semantics, computed without scoring
    any member pair."""
    rng = np.random.default_rng(3)
    v = rng.standard_normal(DIM); v /= np.linalg.norm(v)
    near = v + 0.01 * rng.standard_normal(DIM); near /= np.linalg.norm(near)
    far = rng.standard_normal(DIM); far /= np.linalg.norm(far)
    rows = [(1, near), (5, v), (9, far)] + [(10 + i, v) for i in range(50)]
    corpus = _corpus(spark, rows)
    d = _decisions(semantic_dedup(corpus, threshold=0.95, n_tables=6,
                                  n_planes=1, seed=2))
    assert d[1] == (True, None)
    assert d[5] == (False, 1)          # rep's own witness: the near-copy
    for i in range(50):
        assert d[10 + i] == (False, 1)  # coalesce(W(rep)=1, rep=5) = 1
    # layout invariance holds through the collapse window
    d2 = _decisions(
        semantic_dedup(corpus.repartition(5), threshold=0.95, n_tables=6,
                       n_planes=1, seed=2)
    )
    assert d == d2


def test_collapse_exact_zero_vectors_not_collapsed(spark):
    """Identical ZERO vectors have cosine 0.0 by the kernel's convention,
    so at threshold > 0 they are neither collapsed nor edges — all kept."""
    z = [0.0] * DIM
    a = np.zeros(DIM); a[0] = 1.0
    corpus = spark.createDataFrame(
        [(1, z), (2, z), (3, z), (4, [float(x) for x in a])],
        "vec_id long, embedding array<double>",
    )
    d = _decisions(semantic_dedup(corpus, threshold=0.5, n_tables=2,
                                  n_planes=1, seed=1))
    assert d == {1: (True, None), 2: (True, None), 3: (True, None),
                 4: (True, None)}


def test_explicit_none_candidates_behaves_like_omission(spark, planted):
    """candidates=None passed EXPLICITLY must behave like omission for
    both scorers (r7 advice: the key used to be forwarded via **kwargs
    into the bucket scorer — which has no such parameter — TypeError)."""
    kw = dict(threshold=0.95, n_tables=4, n_planes=3, seed=11)
    base = _decisions(semantic_dedup(planted, **kw))
    for scorer in (None, "bucket", "join"):
        d = _decisions(
            semantic_dedup(planted, scorer=scorer, candidates=None, **kw)
        )
        assert d == base, scorer


def test_block_col_routes_to_bucket_scorer(spark, planted):
    """Auto-routing (r8): block_col WITHOUT candidates= takes the guarded
    bucket scorer — its max_bucket grid-split bounds any block size,
    where the join scorer's O(|block|²)-row id-pair stream DNF'd on the
    r7 mega-block. candidates= still takes the join scorer (the only one
    that can consume an external pair stream). Discriminator: the bucket
    scorer scores inside applyInPandas groups (FlatMapGroupsInPandas);
    the join scorer scores a pair stream through the Arrow pandas UDF
    (ArrowEvalPython)."""
    blocked = planted.withColumn("grp", (F.col("vec_id") % 3).cast("string"))
    plan = (
        semantic_dedup(blocked, threshold=0.95, block_col="grp")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "FlatMapGroupsInPandas" in plan
    assert "ArrowEvalPython" not in plan
    cand = semdedup_candidates(planted, n_tables=4, n_planes=3, seed=11)
    plan_join = (
        semantic_dedup(planted, threshold=0.95, candidates=cand)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "ArrowEvalPython" in plan_join
    assert "FlatMapGroupsInPandas" not in plan_join


def test_collapse_auto_planes_from_precollapse_count(spark):
    """Auto n_planes must be derived from the PRE-collapse count so the
    LSH cut — and with it the decisions — is invariant to collapse_exact
    (r7 advice). This corpus straddles the boundary: 5000 rows before
    collapse (auto 7 planes), ~101 after (auto 1 plane); with
    post-collapse derivation 9 of the ~40 cosine≈0.96 planted pairs land
    on different decisions (verified against the simulated old behavior
    when this test was written)."""
    rng = np.random.default_rng(42)
    base = rng.standard_normal((50, DIM))
    base /= np.linalg.norm(base, axis=1, keepdims=True)
    rows = [(i, base[i]) for i in range(50)]
    for i in range(50):
        p = base[i] + 0.073 * rng.standard_normal(DIM)
        rows.append((1000 + i, p / np.linalg.norm(p)))
    rows += [(2000 + j, base[0]) for j in range(4900)]
    assert auto_planes(5000) != auto_planes(101)  # the boundary precondition
    corpus = _corpus(spark, rows)
    kw = dict(threshold=0.95, seed=11, n_tables=2)
    a = _decisions(semantic_dedup(corpus, collapse_exact=True, **kw))
    b = _decisions(semantic_dedup(corpus, collapse_exact=False, **kw))
    assert a == b


def test_collapse_exact_block_scoped(spark):
    """Identical vectors in DIFFERENT blocks never witness each other:
    the collapse group key includes the block."""
    a = np.zeros(DIM); a[0] = 1.0
    corpus = spark.createDataFrame(
        [
            (1, [float(x) for x in a], "x"),
            (2, [float(x) for x in a], "x"),   # collapsed under 1
            (3, [float(x) for x in a], "y"),   # other block: kept
            (4, [float(x) for x in a], "y"),   # collapsed under 3
        ],
        "vec_id long, embedding array<double>, grp string",
    )
    d = _decisions(semantic_dedup(corpus, threshold=0.99, block_col="grp"))
    assert d == {1: (True, None), 2: (False, 1),
                 3: (True, None), 4: (False, 3)}

"""Semantic deduplication over an embedding column (SemDeDup-style).

Reference parity note: the reference case study has no embedding-space
dedup; this is part of the beyond-reference training-data tier (SURVEY
§2's LLM-pipeline extensions), alongside MinHash/SimHash near-dedup
(dedup/) and the ANN tiers (similarity/ann.py).

The algorithm is the one from Abbas et al., "SemDeDup: Data-efficient
learning at web-scale through semantic deduplication" (arXiv:2303.09540),
re-expressed Spark-first:

1. **Cluster** the corpus so that pair volume is Σ|cluster|², never
   |corpus|². SemDeDup uses k-means; here the default clusterer is the
   repo's seeded *integer*-hyperplane LSH (``seeded_int_planes`` +
   quantized sign-bit buckets, similarity/ann.py) because its assignment
   is bit-exact in any engine — a DuckDB oracle can replay the full
   pipeline verbatim, which driver-gates the operator end-to-end. Multi
   table OR-amplification (``n_tables``) recovers the pairs a single
   random cut splits; ``n_planes`` defaults to auto-scaling with
   log2(corpus/target_occupancy) so per-bucket occupancy (and so
   candidate volume) stays corpus-LINEAR with default knobs — a naive
   caller can no longer go quadratic silently. Pass ``block_col``
   (e.g. an IVF cell from ``ivf_assign``) to bring your own clustering.
2. **Pair ids, then pay for vectors.** Candidate pairs are generated and
   de-duplicated as *(id_l, id_r) longs only* — the wide vector payload
   joins back in only after the cross-table DISTINCT. This is the same
   narrow-shuffle-then-rehydrate discipline the mult-8 dedup rehearsal
   forced on ngram scoring (SCALING.md "payload width, not pair count").
3. **Min-witness drop within eps.** A row is dropped iff ANY
   *earlier* (smaller-id) same-cluster row has cosine ≥ ``threshold``;
   ``dup_of`` records the smallest such witness. (NOT sequential
   keep-first greedy, which compares only against *surviving* rows: in
   a chain a~b, b~c (a≁c) keep-first would keep c, while min-witness
   drops both b and c — one fully parallel pass, no sequential scan.)
   For canonical-representative semantics feed ``eps_similarity_edges``
   to ``dedup.cluster.connected_components`` instead.

Scale posture: bucket sizes are controlled by ``n_planes`` (2^planes
buckets per table); candidate volume is Σ over tables of Σ|bucket|².
The id-pair DISTINCT is the only wide shuffle and it carries two longs
per row. Vector rehydration is two hash joins against the corpus
projection — deliberately NOT persisted inside the operator (a lazy
return value can never release its own cache, and a leaked
corpus-sized cache in a long-lived session is worse than re-running a
column-pruned scan per join branch); callers wanting a single scan
persist the corpus themselves, the same caller-owns-the-cache contract
as ``candidates=``. No crossJoin, no partition-less window anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import task_width
from .ann import (  # noqa: F401  (auto_planes re-exported)
    _buckets_udf,
    _pair_cosine_udf,
    auto_planes,
    seeded_int_planes,
)

# keyed rows (vectors × tables) per task of the bucket scorer's Python
# stages: the target of session.task_width, the one sizing rule. Measured
# ladder, both exchanges pinned at N, semantic_dedup warm at local[4] on
# the dedup_corpus corpus (perfbench/dedup.py, seed 7, 6,412 vectors,
# ~25.6k keyed rows; median of 4 runs, wall / process-tree CPU):
#   N   1 2.87s/4.66s · 2 2.18/5.07 · 4 1.80/5.42 · 8 2.03/6.69
#       16 2.80/9.55 · 32 3.81/13.88
# and on a quarter of it (1,606 vectors; median of 5):
#   N   1 1.35s/2.14s · 2 1.33/2.63 · 4 1.37/3.42 · 8 1.61/4.63
#       16 2.15/6.45 · 32 3.30/11.44
# Each partition costs ~0.3 CPU-s however few rows it holds, a keyed row
# ~0.13 CPU-ms; the wall is flat from ~1.6k to ~6.4k rows a task and
# rises below. 4096 rows keep a partition's fixed cost under half its row
# work and put both corpora in the flat band (4 and 2 tasks here); 32
# cores are full from ~130k keyed rows (~33k vectors at 4 tables). It
# sizes the keyed exchange only; the grid exchange takes the whole fleet.
_SCORER_ROWS_PER_TASK = 4096


def _project(corpus, id_col, vec_col, block_col):
    return corpus.select(
        F.col(id_col).alias("__id"),
        F.col(vec_col).cast("array<double>").alias("__vec"),
        *([F.col(block_col).alias("__blk")] if block_col else []),
    )


# auto_planes lives in ann.py (shared by lsh_bucket_topk); re-exported
# here because the self-join candidate contract documents it


def derive_max_bucket(
    dim: int | None,
    *,
    batch_budget_bytes: int = 128 << 20,
    floor: int = 64,
    cap: int = 1024,
) -> int:
    """Auto-derived ``max_bucket`` for the bucketed scorer (r10 — closes
    the r9 finding that the fixed 1024 cap was DIM-BLIND): the grid-split
    bound exists to keep per-task Arrow batches inside the Netty direct
    allocator's comfort zone (the r8 cliff: 32 concurrent ~400 MB batches
    exhausted it), but a grouped-map task's INPUT batch scales with
    embedding width — a cap-sized chunk pair is ``2·cap`` rows of
    ``dim × 8`` bytes each, so a constant cap means unbounded batch
    growth as embeddings widen. One task's worth of rows is therefore
    ``batch_budget_bytes / (dim × 16)`` (two chunks of ``dim``-wide
    float64 rows per chunk-pair task), clamped to ``[floor, cap]``.

    The 128 MB budget is the MEASURED bracket, both sides, re-measured
    each time the boundary moved. r10 (SEMDEDUP_BENCH_r10): at dim 4096
    / cap 1024 the ~67 MB input + ~25 MB output batches ran
    32-concurrent without allocator distress (23.6s on a planted
    full-quadratic 8k block), while shrinking the cap to 256 there
    bought no safety and cost 4.2× wall (98.7s) in grid replication —
    each oversized-block row ships ``n_chunks`` times, and a wide row
    is expensive to ship. r11 moved the proven point one octave up
    (SEMDEDUP_BENCH_r11): the same planted block at dim 8192 ran cap
    1024 (~134 MB input batches) at 83.0s vs the 64 MB-budget cap 512
    at 205.6s — identical decisions and recall 1.0 both ways, i.e. the
    smaller cap again bought zero safety for 2.5× wall. So the budget
    pins every dim's input batch at ≤ the proven ~134 MB point — still
    3× under the r8 cliff (~400 MB batches): dims ≤ 8192 keep cap 1024
    exactly (the production 64-dim path and every r8-r10 measurement
    untouched), 16384 → 512, 32768 → 256. The floor keeps tasks at
    ≥ ~10 ms of BLAS so grid fan-out stays noise. The derived cap feeds
    the SAME chunk count the ``max_grid_tasks`` refusal reasons over,
    so the degenerate-input economics shrink with it automatically.

    The OUTPUT term (r11, verdict): the measured-safe point also
    carried ~25 MB of output per task — up to ``cap²/2`` above-threshold
    pairs of ~25 B (two ids + a score; dim-independent). That term
    needs no budget of its own because it is bounded by the cap CLAMP,
    not the dim: output bytes ~ ``cap² × 25 / 2``, maximized at the
    clamp's ``cap=1024`` → exactly the proven ~25 MB, and every
    dim-derived cap below 1024 shrinks it QUADRATICALLY (16384 → 512 →
    ~6 MB) while the input term stays ~flat — so total batch bytes per
    task are ≤ the r11-measured ~159 MB point at every dim."""
    if not dim or dim <= 0:
        return cap
    return max(floor, min(cap, batch_budget_bytes // (int(dim) * 16)))


def _keyed_buckets(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    n_tables: int,
    n_planes: int | None,
    seed: int,
    quantize: float,
    dim: int | None,
    block_col: str | None,
    target_occupancy: int,
):
    """Shared bucket-keying for the candidate generator and the bucketed
    scorer: ``(keyed, join_keys, dim, n)`` where ``keyed`` carries
    ``__id``, ``__vec`` and the bucket key columns, ``dim`` is the
    embedding width when a probe resolved it (None on the ``block_col``
    path, which needs no planes — the bucketed scorer resolves it in
    its own count job) and ``n`` the corpus row count when that probe
    ran (None when ``n_planes`` and ``dim`` were both given, and on the
    ``block_col`` path). On an EMPTY corpus returns the typed empty
    ``(id_l, id_r)`` frame with ``join_keys=None`` (the empty schema is
    derived from the projected id column so it matches the non-empty
    path for ANY id type)."""
    c = _project(corpus, id_col, vec_col, block_col)
    empty = c.limit(0).select(
        F.col("__id").alias("id_l"), F.col("__id").alias("id_r")
    )
    if block_col is not None:
        # NULL block keys cluster with NOTHING — matching the join
        # scorer's equi-join, which drops NULL keys (r6 advice: without
        # this filter the bucket scorer's groupBy would lump every
        # NULL-block row into one group and score pairs among them,
        # silently diverging from the candidate generator's edge set)
        keyed = c.filter(F.col("__blk").isNotNull()).select(
            "__id", "__vec", F.col("__blk").alias("__bucket")
        )
        return keyed, ["__bucket"], dim, None
    n = None
    if n_planes is None or dim is None:
        # one cheap narrow pass gets n (for the plane count and the
        # scorer's width) and the dimensionality probe together
        probe = c.agg(
            F.count(F.lit(1)).alias("n"), F.first(F.size("__vec")).alias("d")
        ).collect()[0]
        n = probe["n"]
        if n == 0:
            return empty, None, dim, n
        if n_planes is None:
            n_planes = auto_planes(n, target_occupancy)
        if dim is None:
            dim = probe["d"]
    planes = [
        seeded_int_planes(dim, n_planes, seed + t) for t in range(n_tables)
    ]
    buckets = _buckets_udf(planes, quantize=quantize)
    keyed = c.select(
        "__id",
        "__vec",
        F.posexplode(buckets(F.col("__vec"))).alias("__tbl", "__bucket"),
    )
    return keyed, ["__tbl", "__bucket"], dim, n


def semdedup_candidates(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_tables: int = 4,
    n_planes: int | None = None,
    seed: int = 101,
    quantize: float = 1000.0,
    dim: int | None = None,
    block_col: str | None = None,
    target_occupancy: int = 64,
) -> DataFrame:
    """DISTINCT candidate id pairs ``(id_l, id_r)`` with ``id_r < id_l``
    — rows sharing a sign-bit bucket in ANY of ``n_tables`` seeded
    integer-LSH tables (or sharing ``block_col`` when given). Two longs
    per row; no vector payload ever enters this shuffle.

    ``n_planes=None`` (the default) derives
    ``ceil(log2(n / target_occupancy))`` from a cheap count, so expected
    bucket occupancy — and with it candidate volume, Σ|bucket|² — stays
    corpus-linear no matter the corpus size. Pass an explicit
    ``n_planes`` for oracle-replayable determinism independent of n
    (the driver entry does), or to trade recall vs volume by hand.
    """
    keyed, join_keys, _, _ = _keyed_buckets(
        corpus, id_col, vec_col, n_tables, n_planes, seed, quantize, dim,
        block_col, target_occupancy,
    )
    if join_keys is None:  # empty corpus: typed empty pair frame
        return keyed

    keyed = keyed.drop("__vec")
    l = keyed.select(F.col("__id").alias("id_l"), *join_keys)
    r = keyed.select(F.col("__id").alias("id_r"), *join_keys)
    # id-only candidate pairs: the multi-table OR means the same pair can
    # collide in several tables — DISTINCT over two longs BEFORE the
    # vector payload exists anywhere in the shuffle
    return (
        l.join(r, on=join_keys)
        .filter(F.col("id_r") < F.col("id_l"))
        .select("id_l", "id_r")
        .distinct()
    )


def eps_similarity_edges(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_tables: int = 4,
    n_planes: int | None = None,
    seed: int = 101,
    quantize: float = 1000.0,
    dim: int | None = None,
    block_col: str | None = None,
    candidates: DataFrame | None = None,
    target_occupancy: int = 64,
) -> DataFrame:
    """Candidate-generated eps-similarity edge set: one row per unordered
    pair with shared cluster and cosine ≥ threshold, as
    ``(id_l, id_r, cosine)`` with ``id_r < id_l``.

    Identical vectors share every bucket, so exact duplicates are
    candidates with recall 1. Pass ``candidates`` (e.g. a persisted
    ``semdedup_candidates`` result, or pairs from MinHash banding) to
    skip the LSH phase — the ``candidates=`` contract the ngram scoring
    kernel established (dedup/ngram.py).

    The corpus projection is rehydrated by two hash joins and is NOT
    persisted here — the caller owns the cache lifetime (persist the
    corpus before calling to make the two join branches read one
    materialization instead of two column-pruned scans).
    """
    if candidates is None:
        candidates = semdedup_candidates(
            corpus,
            id_col=id_col,
            vec_col=vec_col,
            n_tables=n_tables,
            n_planes=n_planes,
            seed=seed,
            quantize=quantize,
            dim=dim,
            block_col=block_col,
            target_occupancy=target_occupancy,
        )
    vecs = _project(corpus, id_col, vec_col, None)
    cos = _pair_cosine_udf()
    return (
        candidates.join(
            vecs.select(F.col("__id").alias("id_l"), F.col("__vec").alias("__vl")),
            "id_l",
        )
        .join(
            vecs.select(F.col("__id").alias("id_r"), F.col("__vec").alias("__vr")),
            "id_r",
        )
        .withColumn("cosine", F.round(cos(F.col("__vl"), F.col("__vr")), 6))
        .filter(F.col("cosine") >= threshold)
        .select("id_l", "id_r", "cosine")
    )


def eps_similarity_edges_bucketed(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_tables: int = 4,
    n_planes: int | None = None,
    seed: int = 101,
    quantize: float = 1000.0,
    dim: int | None = None,
    block_col: str | None = None,
    target_occupancy: int = 64,
    pair_chunk: int = 1 << 20,
    max_bucket: int | None = None,
    max_grid_tasks: int = 100_000,
    *,
    _n_rows: int | None = None,
) -> DataFrame:
    """Same edge set as :func:`eps_similarity_edges`, different shuffle
    economics: pairs are scored INSIDE each LSH bucket by one
    ``applyInPandas`` group instead of rehydrating vectors onto an
    id-pair stream with two hash joins.

    When to use which (both are correct; the auto-planes default bounds
    either):

    - **join scorer** (``eps_similarity_edges``): each vector is
      SHIPPED once per candidate pair it appears in (≈ occupancy
      copies of every vector cross the wire), but pair scoring is
      spread evenly across the cluster — a hot bucket costs no one
      task more than any other. The default.
    - **bucket scorer** (this): each vector is shipped once per BUCKET
      membership (exactly ``n_tables`` copies — at the default
      occupancy 64 that is ~16× less vector traffic), and no candidate
      id-pair shuffle exists at all. In-bucket scoring is O(|bucket|²),
      so occupancy must stay controlled — which the auto-planes
      default holds at ~``target_occupancy`` for near-uniform corpora,
      and ``max_bucket`` enforces for the corpora that violate it.

    **Occupancy ceiling (``max_bucket``, r7 — closes the r6 weak
    item).** LSH occupancy bounds are EXPECTED-value bounds; the
    corpora semantic dedup exists for (web crawls with boilerplate
    mega-clusters of 10⁵+ near-identical embeddings) put an arbitrary
    number of rows into ONE bucket in EVERY table, and an unguarded
    per-bucket task would run that bucket's O(|b|²) scoring alone
    while the rest of the cluster idles. Buckets with more than
    ``max_bucket`` rows are therefore *grid-split*: rows are dealt
    round-robin into ``ceil(|b|/max_bucket)`` chunks and every chunk
    pair (i ≤ j) becomes its own ``applyInPandas`` task — a 100k-row
    bucket at the default cap turns into ~4.9k tasks of ≤ cap²/2 pairs
    instead of one 5·10⁹-pair straggler, at the cost of shipping each
    oversized-bucket row ``n_chunks`` times (~98 copies vs the join
    scorer's ~|b| copies). Pair totals are unchanged: within-chunk
    pairs score in the diagonal (i=j) task, cross-chunk pairs in
    exactly one (i<j) task. Bucket sizes come from a window count over
    the SAME hash partitioning the scorer needs anyway, so the guard
    adds no extra shuffle of the keyed frame.

    **Why the cap ceiling is 1024 (r8).** The cap bounds THREE things,
    and the binding one at narrow dims is the *edge output batch*:
    pyspark's grouped-map serializer converts each task's returned
    frame into ONE Arrow record batch (``_create_batch`` per group in
    ``sql/pandas/serializers.py`` — ``maxRecordsPerBatch`` slices UDF
    *inputs*, never grouped-map *outputs*), and a fully-duplicate
    chunk pair emits ~cap² edge rows in that single batch. At the r7
    cap of 4096 a planted 50k-row all-≥-threshold block produced
    ~16.8M-row / ~400 MB batches on 32 concurrent tasks and died in
    the Arrow-Netty direct allocator (OutOfMemoryException, measured
    r8); at 1024 the worst case is ~24 MB per task. The extra
    grid-split fan-out this costs is noise (tasks stay ≥ 10 ms of BLAS
    at ~0.5M pairs), and sub-cap buckets on the normal LSH path
    (occupancy ~64) never feel the cap at either value.

    **Why the default derives from the embedding dim (r10).**
    ``max_bucket=None`` resolves via :func:`derive_max_bucket`: the r8
    constant was sized for 64-dim vectors, but the task's INPUT batch
    is ``2·cap`` rows of ``dim × 8`` bytes — width-blind, the batch
    grows without bound as embeddings widen, back toward the measured
    ~400 MB allocator cliff. The derivation pins every dim's batch at
    the widest point MEASURED safe (dim 4096 / cap 1024, ~67 MB input
    batches — SEMDEDUP_BENCH_r10): dims ≤ 4096 keep cap 1024 (the
    production path and every r8/r9 measurement unchanged); 8192 → 512,
    16384 → 256. Shrinking the cap harder than the measurement demands
    is not free — the same bench measured a 256 cap at dim 4096
    costing 4.2× wall in grid replication for zero safety gain. The
    embedding dim comes from the scorer's row count job when the LSH
    phase didn't already resolve it (``block_col`` path). An explicit
    ``max_bucket`` int still overrides.

    **Degenerate-input ceiling (``max_grid_tasks``, r9).** The
    grid-split's work is quadratic in oversized-block size —
    ``ceil(|b|/max_bucket)²/2`` chunk-pair tasks, each row shipped
    ``n_chunks`` times. The measured 50k block → ~1.2k tasks is the
    design point; a hypothetical 10M-row near-identical block would
    mint ~48M chunk-pair groups and replicate every row ~9.8k times —
    but that input is ~5·10¹³ pair scores and NO scorer survives it
    (at 10⁷ pairs/s/core × 32 cores it is ~50 days of BLAS), so the
    right response is a typed refusal, not a faster grid. Any
    bucket/block whose chunk-pair count exceeds ``max_grid_tasks``
    fails fast with an error naming the remedies (``collapse_exact``
    — which dissolves exact-duplicate mega-blocks entirely — a higher
    ``threshold``, or a finer ``block_col``). The guard is a per-row
    ``assert_true`` folded into the chunk-assignment projection, so it
    costs nothing and fires BEFORE the explode replicates a single
    row. At the defaults it trips at blocks > ~458k rows ≈ 10¹¹ pairs.

    Scoring is a blocked BLAS cosine matrix (``V_block @ V.T`` with the
    norms factored out — r7; the r6 per-pair gather+einsum measured
    0.4M pairs/s/core, memory-bound on two pair-sized gathered copies)
    on the same float64 inputs as ``_pair_cosine_udf``, with Spark's
    HALF_UP 6-dp rounding emulated (``sign·floor(|x|·1e6 + 0.5)/1e6``).
    Summation order differs from a per-pair dot product by ~1 ulp, so
    both scorers emit identical edges away from exact 6-dp rounding
    knife-edges — the same accepted class as einsum-vs-DuckDB in the
    queries.py oracle discussion. ``pair_chunk`` bounds the in-task
    allocation: only a ≤ pair_chunk-element block of the cosine matrix
    ever exists (never O(|b|²) indices or cells — r6 advice closed), so
    task memory is ≈ ``pair_chunk × 8`` bytes plus the bucket's rows.

    **Width.** The keyed exchange below feeds Python stages whose work
    per row is bounded by the bucket size, so its partition count is
    ``session.task_width`` of the keyed rows (vectors × ``n_tables``).
    The vectors are counted by ``_keyed_buckets``' probe when it runs,
    else taken from ``_n_rows`` (private: :func:`semantic_dedup` passes
    the count it took for auto planes, because counting its collapsed
    frame here would run the collapse window's shuffle once more), else
    counted by one narrow job here. The grid exchange gets the whole
    fleet (``defaultParallelism``): its groups cost ~cap² pair scores
    each, however few rows they carry."""
    import numpy as np
    import pandas as pd

    keyed, join_keys, probed_dim, n = _keyed_buckets(
        corpus, id_col, vec_col, n_tables, n_planes, seed, quantize, dim,
        block_col, target_occupancy,
    )
    if join_keys is None:
        return keyed.withColumn("cosine", F.lit(None).cast("double"))
    if n is None:
        n = _n_rows
    if n is None:
        # one narrow job counts the corpus and, on the block_col path
        # (whose keying needs no planes), resolves the embedding width
        probe = (
            _project(corpus, id_col, vec_col, None)
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.first(F.size("__vec")).alias("d"),
            )
            .collect()[0]
        )
        n = probe["n"]
        if probed_dim is None:
            probed_dim = probe["d"]
    spark = corpus.sparkSession
    width = task_width(
        spark, n * (1 if block_col else n_tables), _SCORER_ROWS_PER_TASK
    )
    if max_bucket is None:
        max_bucket = derive_max_bucket(probed_dim)
    id_type = dict(keyed.dtypes)["__id"]
    out_schema = f"id_l {id_type}, id_r {id_type}, cosine double"
    thr = float(threshold)
    chunk = max(1, int(pair_chunk))
    cap = max(2, int(max_bucket))

    def _empty():
        return pd.DataFrame({"id_l": [], "id_r": [], "cosine": []})

    def _rounded_cosine_block(Va, Vb, na, nb):
        """Rounded-cosine matrix for a row block: one BLAS matmul with the
        norms factored out, then Spark's F.round(x, 6) = BigDecimal
        HALF_UP emulated as ``sign·floor(|x|·1e6 + 0.5)/1e6``. Matmul
        sums in a different order than a per-pair dot product, so
        individual cosines can differ by ~1 ulp pre-rounding — the same
        accepted summation-order class as einsum-vs-DuckDB that the
        oracle discussion in queries.py documents; after 6-dp rounding
        the scorers agree away from exact rounding knife-edges. (The
        r6 gather+einsum per-pair kernel measured 0.4M pairs/s/core —
        two pair-sized gathered copies per block made it memory-bound;
        the matmul form is ~100× that and allocates only the
        ≤ pair_chunk-element C block, which also closes the r6 advice
        item about materializing O(|b|²) triu indices.)"""
        C = Va @ Vb.T
        dn = np.outer(na, nb)
        C = np.where(dn == 0, 0.0, C / np.where(dn == 0, 1.0, dn))
        return np.sign(C) * np.floor(np.abs(C) * 1e6 + 0.5) / 1e6

    def _norms(V):
        return np.sqrt(np.einsum("ij,ij->i", V, V))

    def _score_tri(ids, V):
        """All pairs (i < j) of one id-sorted row set, in row blocks of
        ≤ pair_chunk cosine cells."""
        m = len(ids)
        norms = _norms(V)
        rows_per = max(1, chunk // m)
        outs = []
        for a0 in range(0, m - 1, rows_per):
            a1 = min(a0 + rows_per, m - 1)
            C = _rounded_cosine_block(V[a0:a1], V, norms[a0:a1], norms)
            ii, jj = np.nonzero(C >= thr)
            keep = jj > ii + a0  # strict upper triangle in global indices
            if not keep.any():
                continue
            ii, jj = ii[keep], jj[keep]
            # ids sorted ascending and j > i ⇒ ids[j] > ids[i]
            outs.append(
                pd.DataFrame(
                    {"id_l": ids[jj], "id_r": ids[ii + a0], "cosine": C[ii, jj]}
                )
            )
        return pd.concat(outs, ignore_index=True) if outs else _empty()

    def _score_cross(ids_a, Va, ids_b, Vb):
        """All (a, b) pairs across two disjoint row sets."""
        na, nb = _norms(Va), _norms(Vb)
        mb = len(ids_b)
        rows_per = max(1, chunk // mb)
        outs = []
        for a0 in range(0, len(ids_a), rows_per):
            a1 = min(a0 + rows_per, len(ids_a))
            C = _rounded_cosine_block(Va[a0:a1], Vb, na[a0:a1], nb)
            ii, jj = np.nonzero(C >= thr)
            if not len(ii):
                continue
            ia, jb = ids_a[ii + a0], ids_b[jj]
            big = ia > jb  # arbitrary id order across chunks: orient per pair
            outs.append(
                pd.DataFrame(
                    {
                        "id_l": np.where(big, ia, jb),
                        "id_r": np.where(big, jb, ia),
                        "cosine": C[ii, jj],
                    }
                )
            )
        return pd.concat(outs, ignore_index=True) if outs else _empty()

    def _sorted_arrays(pdf: pd.DataFrame):
        pdf = pdf.sort_values("__id", kind="stable")
        ids = pdf["__id"].to_numpy()
        V = np.stack(pdf["__vec"].to_numpy()).astype("float64", copy=False)
        return ids, V

    def score_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) < 2:
            return _empty()
        # order by id so emitted pairs are (larger, smaller) = (id_l, id_r)
        ids, V = _sorted_arrays(pdf)
        return _score_tri(ids, V)

    def score_grid(pdf: pd.DataFrame) -> pd.DataFrame:
        # one chunk pair of one oversized bucket: diagonal task = triangle
        # over that chunk's rows; off-diagonal = full cross of two chunks
        if pdf["__gc_i"].iat[0] == pdf["__gc_j"].iat[0]:
            return score_bucket(pdf)
        a = pdf[pdf["__c"] == pdf["__gc_i"].iat[0]]
        b = pdf[pdf["__c"] == pdf["__gc_j"].iat[0]]
        if not len(a) or not len(b):
            return _empty()
        ids_a, V_a = _sorted_arrays(a)
        ids_b, V_b = _sorted_arrays(b)
        return _score_cross(ids_a, V_a, ids_b, V_b)

    # bucket sizes via window count over the scorer's own hash
    # partitioning (the exchange is shared with both applyInPandas
    # branches — sizing adds no second shuffle of the keyed frame).
    # The shared exchange is PINNED (r8, mirrors the grid-path fix
    # below): many buckets near the cap have the same input-bytes-vs-
    # compute mismatch the grid branch pins against (~1k rows in,
    # ~0.5M pair scores out), so AQE — which coalesces ENSURE_REQUIREMENTS
    # exchanges by input bytes — could serialize sub-cap scoring into a
    # few tasks. A user-specified repartition is AQE-exempt; the window
    # and the small branch's groupBy().applyInPandas both reuse its
    # hash distribution, so this is still ONE exchange. Its width is
    # the keyed-row width above: each partition is a Python task with a
    # fixed cost, and a keyed row's work is bounded by its bucket
    # (_SCORER_ROWS_PER_TASK).
    #
    # Plan construction here is SQL strings (selectExpr — r16, guide §4
    # driver-side): this kernel is built twice per semantic-dedup entry
    # and its sizing/guard/grid chains were the other half of the
    # construct-time py4j round trips (see the collapse-path comment in
    # semantic_dedup). Every expression is a 1:1 translation of the
    # former Column form (ceil's `/` is fractional in SQL exactly as in
    # Column arithmetic; pmod/least/greatest/sequence are the same
    # functions).
    keyed = keyed.repartition(width, *join_keys)
    jk = ", ".join(join_keys)
    sized = keyed.selectExpr(
        "*", f"count(1) OVER (PARTITION BY {jk}) AS __bsz"
    )
    small = sized.filter(f"__bsz <= {cap}").drop("__bsz")
    edges = small.groupBy(*join_keys).applyInPandas(score_bucket, out_schema)

    big = sized.filter(f"__bsz > {cap}")
    n_chunks = f"CAST(ceil(__bsz / {cap}) AS INT)"
    # degenerate-input refusal (see docstring): evaluated per row in the
    # SAME projection that assigns chunks, so it fires before the explode
    # below replicates anything. Folded into __c (coalesce of the NULL
    # assert_true result) so column pruning can't drop it.
    n_tasks = (
        f"(CAST({n_chunks} AS BIGINT) * (CAST({n_chunks} AS BIGINT) + 1)) / 2"
    )
    msg = (
        " chunk-pair tasks (max_grid_tasks=" + str(max_grid_tasks) + ")"
        " — ~|block|^2/2 pair scores, beyond any scorer."
        " Remedies: collapse_exact=True dissolves"
        " exact-duplicate mega-blocks; raise threshold; use a"
        " finer block_col; or raise max_grid_tasks if you"
        " really have the cluster-days."
    ).replace("'", "''")
    guard = (
        f"coalesce(CAST(assert_true({n_tasks} <= {max_grid_tasks},"
        f" concat('semantic-dedup grid-split refused: one bucket/block of ',"
        f" CAST(__bsz AS STRING), ' rows would mint ',"
        f" CAST(CAST({n_tasks} AS BIGINT) AS STRING), '{msg}')) AS INT), 0)"
    )
    big = (
        big.selectExpr(
            "*",
            f"row_number() OVER (PARTITION BY {jk} ORDER BY __id) AS __rn",
        )
        .selectExpr(
            "*",
            f"CAST(pmod(__rn - 1, {n_chunks}) + {guard} AS INT) AS __c",
            f"explode(sequence(0, {n_chunks} - 1)) AS __p",
        )
        .selectExpr(
            "*", "least(__c, __p) AS __gc_i", "greatest(__c, __p) AS __gc_j"
        )
        .drop("__rn", "__p", "__bsz")
    )
    # pin the grid exchange: AQE coalesces post-shuffle partitions by
    # INPUT bytes, and a grid group's bytes are ~cap rows while its
    # compute is ~cap² pair scores — unpinned, a 50k-row bucket's 312
    # grid tasks coalesced into ~4 partitions and the "split" ran as
    # serial as the straggler it replaces (measured r7; the same
    # input-vs-output mismatch blocked_pairs pins with num_partitions,
    # SCALING.md "Pair explosion ≠ input bytes"). An explicit
    # repartition(n, keys) is user-specified partitioning, which AQE
    # honors; applyInPandas then reuses the distribution. Its width is
    # the whole fleet (defaultParallelism, session.task_width's cap),
    # not the keyed-row width: a chunk-pair group costs ~cap² pair
    # scores whatever the corpus size, so rows are no measure of it.
    grid_keys = [*join_keys, "__gc_i", "__gc_j"]
    big = big.repartition(spark.sparkContext.defaultParallelism, *grid_keys)
    big_edges = big.groupBy(*grid_keys).applyInPandas(score_grid, out_schema)

    # multi-table OR: the same pair may be scored in several tables with
    # the identical cosine (same kernel, same inputs) — dedup on the ids
    return edges.unionByName(big_edges).dropDuplicates(["id_l", "id_r"])


def semantic_dedup(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    scorer: str | None = None,
    collapse_exact: bool = True,
    **kwargs,
) -> DataFrame:
    """One row per corpus row: ``(id_col, kept, dup_of)``.

    ``kept`` is False iff an earlier (smaller-``id_col``) row in a shared
    cluster has cosine ≥ ``threshold``; ``dup_of`` is the smallest such
    witness id (NULL when kept). Survivor set = ``filter(kept)``.
    Clustering knobs pass through to the edge generator; ``scorer``
    picks it — ``"join"`` (:func:`eps_similarity_edges`) or ``"bucket"``
    (:func:`eps_similarity_edges_bucketed`; see its docstring for the
    shuffle-economics trade). Default (None) auto-selects: **bucket**
    for both the module's own LSH clustering AND caller ``block_col``
    (auto-planes bound expected occupancy, the ``max_bucket``
    grid-split bounds arbitrary block sizes expectation can't —
    measured 756.4s → 36.5s at 1.05M×64d vectors, identical edges,
    SEMDEDUP_BENCH_r06; r8 re-routed ``block_col`` here after r7
    measured the join scorer DNF'ing on a mega-block: its id-pair
    stream is O(|block|²) rows BEFORE the DISTINCT can shrink it and
    filled >80 GB of spill, while the grid-split was built precisely
    for unknown cluster sizes — SEMDEDUP_BENCH_r07 scenario 1,
    SEMDEDUP_BENCH_r08), **join** only when the caller brings
    ``candidates=`` (an external pair stream is the one thing the
    bucket scorer cannot consume).

    ``collapse_exact`` (default True, r7): byte-identical vectors are
    collapsed to one representative per group BEFORE clustering and
    scoring — the boilerplate mega-cluster a web corpus plants (10⁵+
    copies of one embedding) costs one group-by instead of O(copies²)
    pair scores, and every LSH bucket shrinks to distinct vectors.
    Decisions are IDENTICAL to the uncollapsed run: an exact copy's
    witnesses are its group representative (cosine exactly 1.0 after
    rounding) and the representative's own witnesses (and auto
    ``n_planes`` is derived from the PRE-collapse count, so the LSH cut
    itself is collapse-invariant — r8; post-collapse derivation could
    pick a different plane count near a power-of-two boundary), so
    ``dup_of(member) = coalesce(dup_of(rep), rep)``; witnesses of any
    scored row can always be replaced by the (≤-id) representative of
    the same vector, so minima are unchanged. Zero-norm groups follow
    the kernel's cosine-0 convention and collapse only when
    ``threshold ≤ 0``; with ``block_col``, the group key includes the
    block (identical vectors in different blocks never witness each
    other) and NULL-block rows are never collapsed (they cluster with
    nothing). The collapse costs one corpus-wide window shuffle keyed
    on a 128-bit vector hash — disable it for corpora known
    duplicate-free. Ignored when ``candidates=`` is supplied (the
    caller's pair stream references original ids).
    """
    # pop so an EXPLICIT candidates=None behaves like omission for both
    # scorers (r7 advice: forwarding the key via **kwargs into the
    # bucket scorer — which has no such parameter — raised TypeError)
    candidates = kwargs.pop("candidates", None)
    if scorer == "bucket" and candidates is not None:
        raise ValueError(
            "bucket scorer cannot consume a candidate stream — it "
            "generates and scores pairs inside each LSH bucket; pass "
            "scorer='join' (or omit scorer) to score external candidates"
        )
    if scorer is None:
        # candidates= implies the join path (the bucketed scorer has no
        # candidate stream to score). Everything else — own LSH or
        # caller block_col — takes the bucket scorer: its max_bucket
        # grid-split bounds ANY block size, where the join scorer's
        # O(|block|²)-row id-pair stream DNF'd on a mega-block (r7
        # measured >80 GB of spill; the r7 routing sent block_col to
        # exactly that plan — fixed r8, SEMDEDUP_BENCH_r08)
        scorer = "join" if candidates is not None else "bucket"
    edge_fn = {
        "join": eps_similarity_edges,
        "bucket": eps_similarity_edges_bucketed,
    }[scorer]
    if candidates is not None:
        kwargs["candidates"] = candidates  # join scorer only, by the above

    if candidates is not None or not collapse_exact:
        edges = edge_fn(
            corpus, id_col=id_col, vec_col=vec_col, threshold=threshold,
            **kwargs,
        )
        dup = edges.groupBy("id_l").agg(F.min("id_r").alias("dup_of"))
        ids = corpus.select(F.col(id_col).alias("__id"))
        return (
            ids.join(dup, ids["__id"] == dup["id_l"], "left")
            .select(
                F.col("__id").alias(id_col),
                F.col("dup_of").isNull().alias("kept"),
                "dup_of",
            )
        )

    blk = kwargs.get("block_col")
    proj = _project(corpus, id_col, vec_col, blk)
    n_rows = None
    if blk is None and kwargs.get("n_planes") is None:
        # derive auto-planes from the PRE-collapse count: _keyed_buckets
        # would otherwise size the LSH from the post-collapse row count,
        # and near a power-of-two boundary of n/target_occupancy the
        # collapsed and uncollapsed runs would use different plane
        # counts — a different approximate edge set, breaking the
        # decisions-IDENTICAL contract above (r7 advice; the r7 bench
        # checksums matched only because both sizes landed on the same
        # ceil(log2(n/64))). One narrow count against the id projection;
        # the bucket scorer sizes its stages from it too (an upper bound
        # of the rows it gets, and free: its own count would rerun the
        # collapse window below).
        n_rows = proj.count()
        kwargs["n_planes"] = auto_planes(
            n_rows, kwargs.get("target_occupancy", 64)
        )
        if edge_fn is eps_similarity_edges_bucketed:
            kwargs["_n_rows"] = n_rows
    # The collapse plan below is built from SQL strings (selectExpr /
    # F.expr — r16, guide §4 applied driver-side): the Column-object
    # form issued one py4j round trip per operator node and this
    # operator runs TWICE inside the catalog's semantic-dedup entry;
    # batching each projection into a single gateway call took the
    # entry's construct phase from ~2515 to ~1250 round trips (measured
    # tools/profile_r16.py). Expressions are 1:1 translations: SQL
    # floating literals go through CAST('<repr>' AS DOUBLE) so they bind
    # the exact IEEE double of the former F.lit(float(...)), never a
    # DECIMAL literal.
    #
    # 128-bit vector hash (two independent xxhash64 seeds) as the group
    # key: hash-aggregable map-side (an array<double> group key is not),
    # collision odds ~n²/2¹²⁹ — negligible at any corpus size.
    # Identical NONZERO vectors have cosine exactly 1.0 (the kernel's
    # sqrt(a)·sqrt(a) ulp wobble dies in the 6-dp rounding); identical
    # zero vectors have cosine 0.0 by the kernel's convention.
    part = ("__blk, " if blk else "") + "__h1, __h2"
    thr = f"CAST('{float(threshold)!r}' AS DOUBLE)"
    group_cos = (
        "IF(aggregate(__vec, CAST(0.0 AS DOUBLE), (a, x) -> a + x * x) > 0D,"
        " 1.0D, 0.0D)"
    )
    in_cluster = "__blk IS NOT NULL" if blk else "TRUE"
    g = (
        proj.selectExpr(
            "*", "xxhash64(__vec) AS __h1", "xxhash64(__vec, 1) AS __h2"
        )
        .selectExpr(
            "*",
            f"min(__id) OVER (PARTITION BY {part}) AS __rep",
            f"count(1) OVER (PARTITION BY {part}) AS __cnt",
        )
        .selectExpr(
            "*",
            f"__cnt > 1 AND __id != __rep AND {group_cos} >= {thr} AND"
            f" {in_cluster} AS __collapsed",
        )
    )
    scored = g.filter("NOT __collapsed").selectExpr(
        f"__id AS `{id_col}`",
        f"__vec AS `{vec_col}`",
        *([f"__blk AS `{blk}`"] if blk else []),
    )
    edges = edge_fn(
        scored, id_col=id_col, vec_col=vec_col, threshold=threshold, **kwargs
    )
    dup = edges.groupBy("id_l").agg(F.min("id_r").alias("__w"))
    rows = g.selectExpr(
        "__id", "__rep", "__collapsed",
        "IF(__collapsed, __rep, __id) AS __lk",
    )
    out = rows.join(dup, rows["__lk"] == dup["id_l"], "left")
    dup_of = "IF(__collapsed, coalesce(__w, __rep), __w)"
    return out.selectExpr(
        f"__id AS `{id_col}`",
        f"{dup_of} IS NULL AS kept",
        f"{dup_of} AS dup_of",
    )

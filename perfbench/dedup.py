"""The dedup_corpus workload: exact, near-duplicate and semantic dedup.

The corpus has the shape of a web crawl: a wide vocabulary with a stopword
head, so random documents share few tokens, plus planted near-duplicates
(every 33rd token substituted, Jaccard with the original at least 0.88 on
every seed tried) and exact copies. Every document also carries a
64-dimensional embedding; a near-duplicate's is its original's plus small
noise (cosine about 0.9999, close enough that the semantic dedup's LSH
clustering put each one in a bucket with its original in at least two of
its four tables on every seed tried), and an exact copy's is its
original's.
All columns are hash projections of (seed, id), so a seed fixes the corpus.
"""

from __future__ import annotations

from itertools import combinations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from person_linkage_case_study_spark.dedup import cluster, exact, minhash, pipeline
from person_linkage_case_study_spark.similarity import semdedup

from harness import Outcome, Workload

NEAR_EVERY = 20  # ~5% of originals get a planted near-duplicate
EXACT_EVERY = 50  # ~2% get an exact copy
# ~3% of a near-duplicate's tokens substituted: every 33rd position from a
# per-document offset, so 1 to 3 of its 40-79 tokens, which keeps its
# Jaccard with its original near 0.9 and above THRESHOLD on every seed
# (a random ~3% could substitute enough of a short document to fall below)
SUB_EVERY = 33
STOP_POOL = 100
VOCAB = 1_000_000
DIM = 64
THRESHOLD = 0.8
NUM_HASHES = 64
# the most selective banding with recall 0.999 at the threshold (r=4):
# the r=2 default would make ~6% of random pairs (Jaccard ~0.05 through
# the shared stopword head) candidates
BANDS = minhash.pick_bands(THRESHOLD, num_hashes=NUM_HASHES, min_recall=0.999)
COSINE_THRESHOLD = 0.95


def synthesize(spark, n_base: int, seed: int) -> DataFrame:
    """(doc_id, base_id, kind, text, embedding); kind 0 = original,
    1 = near-duplicate of base_id, 2 = exact copy of base_id."""
    s = F.lit(seed)
    base = spark.range(n_base).select(
        F.col("id").alias("doc_id"), F.col("id").alias("base_id"), F.lit(0).alias("kind")
    )
    near = spark.range(n_base).filter(
        F.xxhash64(s, F.lit("near?"), F.col("id")) % NEAR_EVERY == 0
    ).select((F.col("id") + n_base).alias("doc_id"), F.col("id").alias("base_id"),
             F.lit(1).alias("kind"))
    copies = spark.range(n_base).filter(
        F.xxhash64(s, F.lit("copy?"), F.col("id")) % EXACT_EVERY == 0
    ).select((F.col("id") + 2 * n_base).alias("doc_id"), F.col("id").alias("base_id"),
             F.lit(2).alias("kind"))
    docs = base.unionByName(near).unionByName(copies)
    b = F.col("base_id")
    is_near = F.col("kind") == 1
    n_tok = (F.abs(F.xxhash64(s, F.lit("len"), b)) % 40 + 40).cast("int")

    def token(i):
        h = F.xxhash64(s, F.lit("tok"), b, i)
        stop = F.abs(F.xxhash64(s, F.lit("stop?"), b, i)) % 10 < 3
        word = F.when(
            stop, F.concat(F.lit("the"), (F.abs(h) % STOP_POOL).cast("string"))
        ).otherwise(F.concat(F.lit("w"), (F.abs(h) % VOCAB).cast("string")))
        subbed = (i + F.abs(F.xxhash64(s, F.lit("sub"), b))) % SUB_EVERY == 0
        return F.when(
            is_near & subbed,
            F.concat(F.lit("x"), (F.abs(h) % VOCAB).cast("string")),
        ).otherwise(word)

    def coord(i):
        # uniform in [-1, 1); planted near-duplicates move by up to ±0.01
        u = (F.abs(F.xxhash64(s, F.lit("emb"), b, i)) % 2_000_001 - 1_000_000) / 1e6
        noise = (F.abs(F.xxhash64(s, F.lit("noise"), F.col("doc_id"), i)) % 20_001 - 10_000) / 1e6
        return F.when(is_near, u + noise).otherwise(u)

    return docs.select(
        "doc_id", "base_id", "kind",
        F.array_join(F.transform(F.sequence(F.lit(0), n_tok - 1), token), " ").alias("text"),
        F.transform(F.sequence(F.lit(0), F.lit(DIM - 1)), coord).alias("embedding"),
    )


class DedupCorpus(Workload):
    """exact_dedup → near_dup_pairs_collapsed (LSH banding route) →
    connected_components → semantic_dedup. One timed unit is one pass of
    all four over the corpus.

    No warm-up: a warm-up pass costs as much as a timed one (a 1k-document
    corpus forced onto the banding route still took ~20 s of JIT and
    Python-worker start-up), which the run budget cannot hold."""

    # originals; with the planted near-duplicates the corpus has ~6.3k
    # distinct token sets, past the ~5.7k where the banding route starts
    n_base = 6_000

    def build_inputs(self) -> None:
        corpus = synthesize(self.spark, self.n_base, self.seed).localCheckpoint()
        self.docs = corpus.select("doc_id", "text")
        self.vectors = corpus.select("doc_id", "embedding")
        members: dict[int, list[int]] = {}
        for r in corpus.filter("kind > 0").select("doc_id", "base_id").collect():
            members.setdefault(r[1], [r[1]]).append(r[0])
        self.planted = {
            pair for group in members.values() for pair in combinations(sorted(group), 2)
        }
        # each planted group is one cluster, labelled by its original's id
        self.clusters = {d: base for base, group in members.items() for d in group}
        # semantic dedup drops every planted copy, witnessed by its
        # original (the smallest id within cosine of it), and nothing else
        self.semantic_drops = {d: base for base, group in members.items() for d in group[1:]}
        self.n_distinct_texts = corpus.select("text").distinct().count()
        self.n_docs = corpus.count()

    def _pass(self):
        # each layer's span covers its call and the action that runs it
        with self.span("dedup.exact"):
            keepers = exact.exact_dedup(self.docs).localCheckpoint()
        with self.span("dedup.pipeline"):
            pairs = pipeline.near_dup_pairs_collapsed(
                self.docs, threshold=THRESHOLD, bands=BANDS, num_hashes=NUM_HASHES,
            ).localCheckpoint()
        with self.span("dedup.cluster"):
            components = cluster.connected_components(pairs).localCheckpoint()
        with self.span("similarity.semdedup"):
            decisions = semdedup.semantic_dedup(
                self.vectors, id_col="doc_id", threshold=COSINE_THRESHOLD, seed=29, dim=DIM,
            ).localCheckpoint()
        return keepers, pairs, components, decisions

    def run_unit(self) -> Outcome:
        with self.timed() as t:
            keepers, pairs, components, decisions = self._pass()

        problems = []
        found = {(min(a, b), max(a, b)) for a, b in pairs.select("doc_id_l", "doc_id_r").collect()}
        hit = len(found & self.planted)
        recall = hit / len(self.planted)
        precision = hit / len(found) if found else 0.0
        if found != self.planted:
            # the pair set, and so its count, is fixed by the seed
            problems.append(f"near-dup pairs: {len(self.planted) - hit} planted pairs "
                            f"missed, {len(found) - hit} unplanted found")
        n_keepers = keepers.count()
        if n_keepers != self.n_distinct_texts:
            problems.append(f"exact_dedup kept {n_keepers} of {self.n_distinct_texts} distinct texts")
        labels = {r[0]: r[1] for r in components.collect()}
        if labels != self.clusters:
            problems.append(f"connected_components labelled {len(labels)} docs, "
                            f"{len(set(labels.items()) ^ set(self.clusters.items()))} wrongly")
        drops = {r[0]: r[1] for r in decisions.filter(~F.col("kept")).select(
            "doc_id", "dup_of").collect()}
        n_decisions = decisions.count()
        if drops != self.semantic_drops or n_decisions != self.n_docs:
            wrong = set(drops.items()) ^ set(self.semantic_drops.items())
            problems.append(f"semantic_dedup decided {n_decisions} of {self.n_docs} docs and "
                            f"dropped {len(drops)}, {len(self.semantic_drops)} planted; "
                            f"{len(wrong)} drops differ")
        return Outcome(
            wall_s=t.wall_s, cpu_s=t.cpu_s, loop_s=t.loop_s,
            records=self.n_docs,
            coverage=recall, accuracy=precision, problems=problems,
        )

"""The pvs_cascade workload: notebook 03, plus a streaming tail when traced.

The world is the small_sample-shaped one (``synthesize_small_sample``) plus
the notebook-02 reference-file builders. One timed unit is notebook 03 end
to end: preprocess, train, the 4-module/15-pass cascade, PIK attach.

Every run runs the cascade as production does, without per-pass statistics
(``collect_stats=False``): they cost ~15 of its ~55 s, which the run budget
cannot hold, and a traced unit must run the code a timed one does. A traced
run gets each pass's figures another way: pairs from the pair estimate the
pass makes anyway (to size its partitions), links and eligible records by
counting the pass's checkpointed state frames after the unit. It checks the
per-pass link profile, and follows each unit with
``run_incremental_linkage`` over census micro-batch files, using the model
and reference file that unit built, so the streaming layer is measured too.
Package functions are called through their modules so that the traced
run's wrappers see every call.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from person_linkage_case_study_spark.operators import estimation, gamma, scoring
from person_linkage_case_study_spark.plans import (
    accuracy,
    pipeline,
    preprocess,
    reference_files as rf,
    small_sample,
)
from person_linkage_case_study_spark.streaming import incremental_linkage as il

from harness import Outcome, Workload

# notebook-03 training (the parity test's comparisons and sessions)
TRAINING_RULES = [
    ["first_name_15", "last_name_12"],
    ["day_of_birth", "month_of_birth", "year_of_birth"],
]
STREAM_BLOCK_ON = ["geokey_for_blocking"]
STREAM_THRESHOLD = 0.97  # the cascade passes' default probability threshold
COVERAGE_BAND = (0.87, 0.93)
MIN_ACCURACY = 0.995


def comparisons():
    return [
        gamma.jw_comparison("first_name_15"),
        gamma.jw_comparison("last_name_12"),
        gamma.exact_comparison("middle_initial"),
        gamma.banded_comparison("day_of_birth", band=5),
        gamma.banded_comparison("month_of_birth", band=3),
        gamma.banded_comparison("year_of_birth", band=5),
        gamma.exact_comparison("geokey"),
    ]


@dataclass
class World:
    census_raw: DataFrame
    fake_names: DataFrame
    name_dob: DataFrame
    geobase: DataFrame
    dates_of_death: DataFrame
    census_ground_truth: DataFrame
    pik_simulants: DataFrame
    n_census: int


def build_world(spark: SparkSession, n_simulants: int, seed: int) -> World:
    """Generate the inputs and run the notebook-02 builders, materialised."""
    data = small_sample.synthesize_small_sample(spark, n_simulants=n_simulants, seed=seed)
    ssa = data["ssa_numident"]
    alt_names = rf.dedupe_alternates(ssa, ["ssn", "first_name", "middle_name", "last_name"])
    alt_dobs = rf.dedupe_alternates(ssa, ["ssn", "date_of_birth"])
    crosswalk = rf.mint_pik_crosswalk(ssa.select("ssn"))
    name_dob = rf.build_name_dob_reference_file(alt_names, alt_dobs, crosswalk).localCheckpoint()
    geobase = rf.build_geobase_reference_file(name_dob, data["tax_addresses"]).localCheckpoint()
    dates_of_death = (
        ssa.filter(F.col("date_of_death").isNotNull())
        .select("ssn", F.to_date("date_of_death").alias("date_of_death"))
        .distinct()
        .join(crosswalk, on="ssn")
        .select("pik", "date_of_death")
        .localCheckpoint()
    )
    census_raw = data["census_raw"].localCheckpoint()
    ref_truth = rf.ground_truth_sidecar(name_dob, data["source_truth"])
    pik_simulants = accuracy.pik_simulant_pairs(
        ref_truth, name_dob.select("record_id", "pik")
    ).localCheckpoint()
    return World(
        census_raw=census_raw,
        fake_names=data["fake_names"],
        name_dob=name_dob,
        geobase=geobase,
        dates_of_death=dates_of_death,
        census_ground_truth=data["census_ground_truth"].localCheckpoint(),
        pik_simulants=pik_simulants,
        n_census=census_raw.count(),
    )


def preprocess_all(w: World):
    census = preprocess.preprocess_census(
        w.census_raw, w.fake_names, dob_format="MM/dd/yyyy"
    ).localCheckpoint()
    geobase = preprocess.preprocess_reference_file(
        w.geobase, has_address=True, dob_format="yyyyMMdd"
    ).localCheckpoint()
    name_dob = preprocess.preprocess_reference_file(
        w.name_dob, has_address=False, dob_format="yyyyMMdd"
    ).localCheckpoint()
    return census, geobase, name_dob


def train(census: DataFrame, geobase: DataFrame) -> scoring.LinkageModel:
    """u by random sampling, m by two EM sessions (notebook 03)."""
    comps = comparisons()
    estimation.estimate_u(census, geobase, comps, max_pairs=1e6, seed=1234)
    model = scoring.LinkageModel(comps)
    estimation.estimate_m_two_sessions(census, geobase, TRAINING_RULES, model)
    return model


def coverage_accuracy(w: World, census_piked: DataFrame) -> tuple[float, float]:
    r = accuracy.accuracy_report(census_piked, w.census_ground_truth, w.pik_simulants)
    return r.piked_proportion, r.accuracy_def3


def quality_problems(coverage: float, acc: float) -> list[str]:
    out = []
    if not COVERAGE_BAND[0] <= coverage <= COVERAGE_BAND[1]:
        out.append(f"pik coverage {coverage:.5f} outside {COVERAGE_BAND}")
    if acc < MIN_ACCURACY:
        out.append(f"definition-3 accuracy {acc:.5f} below {MIN_ACCURACY}")
    return out


def profile_problems(profile: list[tuple[str, str, int]], n_census: int) -> list[str]:
    """Structural bands of the per-pass link profile that hold for the
    reference's published run and for this world (the parity test's)."""
    total = sum(n for *_, n in profile)
    out = []
    if len(profile) != 15:
        out.append(f"{len(profile)} passes ran, not 15")
    elif not 0.55 <= profile[0][2] / max(total, 1) <= 0.95:
        out.append(f"geokey pass found {profile[0][2]} of {total} links")
    if not 1.0 <= total / n_census <= 1.35:
        out.append(f"{total} links for {n_census} census records")
    return out


def _rows(df: DataFrame) -> int:
    """Row count through the plan's RDD: ``DataFrame.count()`` here kept
    the frames' checkpoint RDDs persisted after every reference to them
    was dropped (about 35 of them, which ``state.persistent_rdds`` would
    then report as the program's)."""
    return df._jdf.queryExecution().toRdd().count()


class PvsCascade(Workload):
    """No warm-up: a warm-up cascade costs as much as the timed one (~40-60
    s at any world size tried), which the run budget cannot hold. Set-up's
    own Spark work and the unit's preprocessing and training come first."""

    stream_files = 12  # micro-batches per streaming tail
    stream_warm = 2  # its first triggers pay query start-up: not samples

    # the cascade's cost is mostly per Spark job, not per record: on a
    # 4-core host at local[4] it took 52-74 s at 12,000 simulants, 39-56 s
    # at 3,000 and 44 s at 1,500; a small world keeps the run in budget
    n_simulants = 3_000

    def __init__(self, spark, seed, tracer=None):
        super().__init__(spark, seed, tracer)
        self.units = 0

    def build_inputs(self) -> None:
        self.world = build_world(self.spark, self.n_simulants, self.seed)
        if self.tracer is not None:
            # the streaming tail's input: the preprocessed census split
            # into parquet files by a seeded hash, one file per trigger
            census = preprocess.preprocess_census(
                self.world.census_raw, self.world.fake_names, dob_format="MM/dd/yyyy"
            ).localCheckpoint()
            self.stream_input = census
            self.input_dir = self.fresh_dir("stream_in")
            census.repartition(
                self.stream_files, F.xxhash64(F.col("record_id"), F.lit(self.seed))
            ).write.parquet(self.input_dir)

    def run_unit(self) -> Outcome:
        w = self.world
        traced = self.tracer is not None
        with self.timed() as t:
            with self.span("plans.preprocess"):
                census, geobase, name_dob = preprocess_all(w)
            model = train(census, geobase)
            _, census_piked, _ = pipeline.run_full_pvs_cascade(
                self.spark, census, geobase, name_dob, model,
                dates_of_death=w.dates_of_death,
                census_raw=w.census_raw.select("record_id"), collect_stats=False,
            )
            with self.span("plans.cascade.attach"):
                census_piked = census_piked.localCheckpoint()
        coverage, acc = coverage_accuracy(w, census_piked)
        o = Outcome(
            wall_s=t.wall_s, cpu_s=t.cpu_s, loop_s=t.loop_s,
            records=w.n_census,
            coverage=coverage, accuracy=acc, problems=quality_problems(coverage, acc),
        )
        if traced:
            profile = self._count_passes()
            o.problems += profile_problems(profile, w.n_census)
            o.artifacts["pass_links"] = [n for *_, n in profile]
            progress, sink = self._stream(geobase, model)
            o.problems += self._check_stream(sink, geobase, model)
            o.attempts += len(progress)  # and each micro-batch
            o.artifacts.update(sink=sink, progress=progress[self.stream_warm:],
                               stream_rows=sum(p["numInputRows"] for p in progress))
        return o

    def _count_passes(self) -> list[tuple[str, str, int]]:
        """Links and eligible records of each pass of the unit that just
        ran, counted from the state frames its span kept (outside the
        window, so not traced); returns the link profile."""
        profile, before = [], {}
        for s in self.tracer.spans:
            state = s.attrs.pop("state", None)
            if state is None:
                continue
            links, eligible = state
            module, pass_name = s.label.split("/", 1)
            so_far = _rows(links)  # the module's links up to this pass
            s.attrs.update(links=so_far - before.get(module, 0), eligible=_rows(eligible))
            before[module] = so_far
            profile.append((module, pass_name, s.attrs["links"]))
        return profile

    def _stream(self, geobase: DataFrame, model) -> tuple[list[dict], str]:
        """One stream over every input file into a fresh sink and
        checkpoint; returns its per-trigger progress and the sink path."""
        self.units += 1
        sink = self.fresh_dir(f"stream_sink_{self.units}")
        ckpt = self.fresh_dir(f"stream_ckpt_{self.units}")
        stream = (
            self.spark.readStream.schema(self.stream_input.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(self.input_dir)
        )
        # the span covers the query from start to termination; its
        # micro-batch jobs run under the query's own job group (its run id)
        with self.window(), self.span("streaming.incremental_linkage", "query") as span:
            q = il.run_incremental_linkage(
                self.spark, stream, geobase, model, STREAM_BLOCK_ON,
                STREAM_THRESHOLD, sink=sink, checkpoint_dir=ckpt,
            )
            q.awaitTermination()
            if span is not None:
                span.groups.append(str(q.runId))
        return [p for p in q.recentProgress if p["numInputRows"] > 0], sink

    def _check_stream(self, sink: str, geobase: DataFrame, model) -> list[str]:
        """The sink's link set equals ``link_microbatch`` over the whole
        input, with no duplicate rows."""
        oracle = il.link_microbatch(
            self.stream_input, geobase, model, STREAM_BLOCK_ON, STREAM_THRESHOLD
        )
        want = {(r[0], r[1]) for r in oracle.select(
            "record_id_input", "record_id_reference").collect()}
        rows = self.spark.read.parquet(sink).select(
            "record_id_input", "record_id_reference").collect()
        got = {(r[0], r[1]) for r in rows}
        problems = []
        if len(rows) != len(got):
            problems.append(f"stream sink has {len(rows) - len(got)} duplicate link rows")
        if got != want:
            problems.append(f"stream sink has {len(got)} links, the batch oracle "
                            f"{len(want)}; {len(got ^ want)} differ")
        return problems

    def check(self, outcomes: list[Outcome]) -> None:
        """The per-pass link profile (traced runs) repeats exactly from
        unit to unit."""
        want = outcomes[0].artifacts.get("pass_links")
        for i, o in enumerate(outcomes[1:], 1):
            if o.artifacts.get("pass_links") != want:
                o.problems.append(f"unit {i} link profile {o.artifacts['pass_links']} "
                                  f"differs from unit 0's {want}")

"""Pipeline composition: the reference's ordered step programs as
chains of pure ``DataFrame -> DataFrame`` transformations.

Reference: a human lists process-step module names on the CLI and the
DirectoryProcessor imports and runs them in order
(src/directory_processor.py:126-157); the two canonical orderings are
the watcher's fixed 9-step program (src/watcher.py:78-89) and the
multibatch nostack script (src/directory_processor_multibatch_nostack.sh:17-32).
The nostack ordering is ground truth for the order-sensitive
transmission semantics: thickness_from_absorption runs AFTER
apply_transmission_correction_factor, so thickness consumes the
CORRECTED transmission (SURVEY.md §7.3 hard-point 1).

Spark design: each "step" is a function on the measurements DataFrame;
composing them builds one plan that Catalyst optimizes whole, except
for the small per-batch table tcf_propagation materializes — the
reference's step-major barriers (src/directory_processor.py:65-79)
fall out as shuffle stage boundaries where the groupBys sit. Where the
reference mutates `transmission` in place, this pipeline keeps
`transmission` (beam) and adds `transmission_corrected` — each consumer
binds to the intended variant explicitly.

Scale: no window, and no row-wide shuffle while the per-batch table
fits the broadcast threshold. The chain then shuffles only the narrow
per-(ymd, batch) aggregate behind A4 and J3 (keys plus three values,
broadcast back) and the A1/A2 stacking groupBy on
(ymd, batch, configuration); a logbook derived from the measurements
(the CLI's) adds its own DISTINCT. Everything else is map-side
expression work.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mousedatapipeline_spark.functions import physics
from mousedatapipeline_spark.operators import joins
from mousedatapipeline_spark.operators.aggregates import dsum, stack_stats
from mousedatapipeline_spark.tables import fits_broadcast

Step = Callable[[DataFrame], DataFrame]


def compose(*steps: Step) -> Step:
    """Run steps in order — the CLI step list as function composition."""
    def run(df: DataFrame) -> DataFrame:
        for s in steps:
            df = s(df)
        return df
    return run


# --- steps (each mirrors one processstep_* module) ------------------------

def metadata_update(logbook: DataFrame) -> Step:
    """J1 + P7 + P15 (src/processstep_metadata_update.py): broadcast
    logbook join, energy from wavelength, collection identifier."""
    def step(df: DataFrame) -> DataFrame:
        out = joins.broadcast_lookup(df, logbook, ["ymd", "batch"])
        return (
            out.withColumn("energy_kev",
                           physics.energy_kev(F.col("wavelength_nm")))
            .withColumn("collection_identifier",
                        F.concat_ws("_", F.col("ymd"), F.col("batch")))
        )
    return step


def flux_and_transmissions(df: DataFrame) -> DataFrame:
    """P4/P5 (src/processstep_calc_beam_flux_and_transmissions.py:208-218):
    sample flux and transmission ratios from precomputed flux scalars."""
    return (
        df.withColumn("sample_flux",
                      F.col("direct_flux") * F.col("transmission"))
        .withColumn("transmission_beam", F.col("transmission"))
    )


def tcf_propagation(df: DataFrame) -> DataFrame:
    """A4 (src/processstep_transmission_correction_factor_propagator.py:54-81):
    batch-wide max TCF + scattering probability onto every row, and with
    them J3's background value, from ONE narrow per-batch aggregate.

    J3 reads the corrected transmission of the background batch's first
    file (lowest repetition; src/post_translation_operation_hdf5_stacker.py:191-214,
    src/processstep_thickness_from_absorption.py:90-108). ``apply_tcf``
    scales a whole batch by one factor >= 1, which keeps the order of
    its transmissions, so that value is ``apply_tcf`` of the first RAW
    transmission. Ordering by (repetition, transmission) picks one row
    even when repetitions tie.

    The table is materialized once (eager localCheckpoint) and joined
    back twice: the batch's own maxima null-safe on (ymd, batch), as a
    window groups NULL keys together; the background value by plain
    equality on (bg_ymd, bg_batch), so a NULL or missing pointer finds
    none. Both joins broadcast while the table's observed size fits the
    threshold, and merge past it: the planner's estimate for a
    checkpoint is not its size (it broadcast m05's 600k-row, 81.5 MB
    table at sf0.1 under a 64 MB threshold, slower than the shuffles).
    """
    per_batch = df.groupBy("ymd", "batch").agg(
        F.max("tcf").alias("largest_tcf"),
        F.max("scattering_prob").alias("max_scatter_prob"),
        F.min_by("transmission", F.struct("repetition", "transmission"))
        .alias("first_t"),
    ).localCheckpoint(eager=True)
    hint = (F.broadcast if fits_broadcast(per_batch)
            else (lambda f: f.hint("merge")))
    own = hint(per_batch.select(
        F.col("ymd").alias("__ymd"), F.col("batch").alias("__batch"),
        "largest_tcf", "max_scatter_prob"))
    out = df.join(
        own,
        F.col("ymd").eqNullSafe(F.col("__ymd"))
        & F.col("batch").eqNullSafe(F.col("__batch")),
        "left").drop("__ymd", "__batch")
    bg = hint(per_batch.select(
        F.col("ymd").alias("bg_ymd"), F.col("batch").alias("bg_batch"),
        physics.apply_tcf(F.col("first_t"), F.col("largest_tcf"))
        .alias("transmission_corrected_bg")))
    return out.join(bg, ["bg_ymd", "bg_batch"], "left")


def apply_tcf_step(df: DataFrame) -> DataFrame:
    """P13 (src/processstep_apply_transmission_correction_factor.py:46-76):
    corrected transmission as a derived column (no in-place overwrite)."""
    return df.withColumn(
        "transmission_corrected",
        physics.apply_tcf(F.col("transmission"), F.col("largest_tcf")))


def background_thickness(df: DataFrame) -> DataFrame:
    """J3 + P9 + P8 + P10 (src/processstep_thickness_from_absorption.py):
    same-batch guard, corrected absorption, thickness with sentinel
    chain. Runs AFTER apply_tcf_step (nostack ordering) so the
    CORRECTED transmission is consumed; the background's own corrected
    transmission was attached by tcf_propagation."""
    same = F.coalesce((F.col("ymd") == F.col("bg_ymd"))
                      & (F.col("batch") == F.col("bg_batch")), F.lit(False))
    # The program's output schema puts transmission_corrected_bg right
    # after transmission_corrected.
    a = df.select(
        *[c for c in df.columns if c != "transmission_corrected_bg"],
        "transmission_corrected_bg",
        same.alias("same_as_bg_bg"),
    ).withColumn(
        "absorption_corrected",
        physics.background_corrected_absorption(
            F.col("transmission_corrected"),
            F.col("transmission_corrected_bg"),
            F.col("same_as_bg_bg")))
    derived = physics.thickness_from_absorption(
        F.col("absorption_corrected"), F.col("mu"))
    return a.withColumn(
        "thickness",
        physics.select_thickness(F.col("samplethickness"), derived))


def stack(df: DataFrame) -> DataFrame:
    """A1/A2 + S11 shape (src/post_translation_operation_hdf5_stacker.py):
    per-(ymd, batch, configuration) stack statistics over the corrected
    transmission, with flux totals riding the same shuffle."""
    return stack_stats(
        df, ["ymd", "batch", "configuration"], "transmission_corrected",
        prefix="t_",
        extra_aggs={
            "flux_sum": dsum("direct_flux"),
            "thickness_mean":
                dsum("thickness") / F.count(F.lit(1)).cast("double"),
            "max_scatter_prob": F.max("max_scatter_prob"),
        })


# Step name -> builder(ctx) -> Step: the single source of truth shared
# by the canonical programs below and the CLI (__main__.py). Mirrors
# the reference's importlib-by-name step resolution
# (src/directory_processor.py:126-142) with an explicit registry.
STEP_BUILDERS = {
    "metadata_update": lambda ctx: metadata_update(ctx["logbook"]),
    "flux_and_transmissions": lambda ctx: flux_and_transmissions,
    "tcf_propagation": lambda ctx: tcf_propagation,
    "apply_tcf": lambda ctx: apply_tcf_step,
    "background_thickness": lambda ctx: background_thickness,
    "stacker": lambda ctx: stack,
}

# src/directory_processor_multibatch_nostack.sh:17-32
NOSTACK_STEPS = ("metadata_update", "flux_and_transmissions",
                 "tcf_propagation", "apply_tcf", "background_thickness")
# src/watcher.py:78-89
FULL_STEPS = NOSTACK_STEPS + ("stacker",)


def program_from_names(names: Sequence[str], logbook: DataFrame) -> Step:
    """Build an ordered program from step names (the CLI contract)."""
    ctx = {"logbook": logbook}
    return compose(*[STEP_BUILDERS[n](ctx) for n in names])


def nostack_program(logbook: DataFrame) -> Step:
    """The multibatch-nostack step ordering
    (src/directory_processor_multibatch_nostack.sh:17-32), minus the
    stacker: metadata -> flux/transmission -> propagate -> apply TCF ->
    background/thickness."""
    return program_from_names(NOSTACK_STEPS, logbook)


def full_program(logbook: DataFrame) -> Step:
    """The watcher's full program (src/watcher.py:78-89): nostack chain
    then the stacker."""
    return program_from_names(FULL_STEPS, logbook)

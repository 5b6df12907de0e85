"""Scalar expression helpers — pure Catalyst expression composition, no UDFs.

The reference's only "custom" scalar logic is a folded CASE chain categorizing
event types (reference: services/streaming-service/event_processor.py:101-110)
and a driver-side Python percentage computation (reference:
services/api-service/data_service.py:289-303). Both are re-expressed here as
in-engine expressions: Catalyst constant-folds and codegens the CASE chain,
and the percentage becomes a window aggregate, so both vectorize and scale —
no JVM<->Python boundary in the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from demo_bigdata_spark.schemas import DEFAULT_EVENT_CATEGORY, EVENT_TYPE_CATEGORIES

# Categorizer domain for the driver's synthetic `events` table
# (event_type in signup/click/view/purchase/error).
SYNTH_EVENT_CATEGORIES: dict[str, str] = {
    "signup": "acquisition",
    "click": "engagement",
    "view": "engagement",
    "purchase": "revenue",
    "error": "reliability",
}


def categorize(
    event_type: Column | str,
    mapping: dict[str, str] | None = None,
    default: str = DEFAULT_EVENT_CATEGORY,
) -> Column:
    """Map event_type -> category via a folded CASE chain.

    Equivalent to the reference's nested when/otherwise fold (reference:
    event_processor.py:101-110 over schema.py:100-116). Catalyst simplifies
    and codegens this; for very large mappings a broadcast map-side join would
    be the alternative, but a 15-entry CASE folds to a constant-time lookup.
    """
    col = F.col(event_type) if isinstance(event_type, str) else event_type
    mapping = EVENT_TYPE_CATEGORIES if mapping is None else mapping
    expr: Column = F.lit(default)
    for k, v in reversed(list(mapping.items())):
        expr = F.when(col == k, F.lit(v)).otherwise(expr)
    return expr


def categorize_sql_case(
    col_name: str, mapping: dict[str, str] | None = None, default: str = DEFAULT_EVENT_CATEGORY
) -> str:
    """ANSI-SQL twin of :func:`categorize` for DuckDB oracle queries."""
    mapping = EVENT_TYPE_CATEGORIES if mapping is None else mapping
    whens = " ".join(f"WHEN '{k}' THEN '{v}'" for k, v in mapping.items())
    return f"CASE {col_name} {whens} ELSE '{default}' END"


def pct_of_total(
    df, count_col: str, out_col: str = "percentage", decimals: int = 2
):
    """Attach an in-engine percentage-of-total column.

    Replaces the reference's driver-side Python ``round(count/total*100, 2)``
    against a separately collected total (reference: data_service.py:289-303).
    The total is a one-row aggregate broadcast back onto the frame — a
    map-side join, no shuffle, no single-partition global window (the earlier
    ``Window.partitionBy()`` formulation funneled the frame through one
    WindowExec partition and spammed "No Partition Defined" warnings; safe on
    an aggregated distribution, a scale bug if ever applied to raw rows —
    this shape is safe on BOTH)."""
    if out_col in df.columns:
        raise ValueError(f"pct_of_total: output column {out_col!r} already exists")
    # non-colliding internal alias for the broadcast scalar (a plain '_total'
    # would duplicate on join if the input already carries that name, and
    # drop() would then remove both)
    tot = "_total"
    while tot in df.columns:
        tot += "_"
    total = df.agg(F.sum(F.col(count_col)).alias(tot))
    return (
        df.join(F.broadcast(total))
        .withColumn(out_col, percent_of(F.col(count_col), F.col(tot), decimals))
        .drop(tot)
    )


def percent_of(count: Column, total: Column, decimals: int = 2) -> Column:
    """``round(count * 100.0 / total, decimals)``: the percentage expression
    of :func:`pct_of_total`, for callers that already hold the total (as a
    column or a literal)."""
    return F.round(count * 100.0 / total, decimals)


def round_signsafe(col: Column, scale: int) -> Column:
    """Round to ``scale`` decimals with the zero sign normalized to +0.0.

    IEEE-754 keeps the sign of a rounded-away negative (round(-2.4e-07, 6)
    is -0.0), and engines disagree on which zero they print/hash: DuckDB's
    round yields -0.0 where Spark's yields 0.0 for the same covariance, so
    a byte-level comparator flags a "mismatch" between two correct answers.
    Adding +0.0 is the IEEE-defined normalization (-0.0 + 0.0 == +0.0,
    every other value unchanged) and constant-folds into the same codegen
    expression — zero runtime cost. Use this (with :func:`round_signsafe_sql`
    on the oracle side) for any aggregate that can legitimately round to
    zero from below: covariances, correlations, centered sums, deltas.
    """
    return F.round(col, scale) + F.lit(0.0)


def round_signsafe_sql(expr: str, scale: int) -> str:
    """ANSI-SQL twin of :func:`round_signsafe` for DuckDB oracle queries."""
    return f"round({expr}, {scale}) + 0.0"


def pin(expr: Column) -> Column:
    """Wrap an expensive expression so Catalyst cannot re-inline it into
    downstream filters (PushDownPredicates substitutes projected columns
    into every filter conjunct, and FilterExec does no subexpression
    elimination) or duplicate it across sibling expressions
    (CollapseProject refuses to inline nondeterministic fields).

    The always-true guard must not be provably-true: Spark 4 range-folds
    rand() comparisons (rand ∈ [0,1)), erasing the barrier; randn() is
    unbounded so randn() > -1e9 survives, and unlike
    monotonically_increasing_id it is allowed in streaming plans. The seed
    is fixed because it is compiled into the generated class: a fresh seed
    per call made every warm run of a pinned query recompile. Cost: one
    gaussian draw per row. Use on parse/hash/array-heavy columns whose
    downstream filters would otherwise re-evaluate them (measured 2x on
    ingest, 6x on n-gram jaccard)."""
    return F.when(F.randn(0) > -1e9, expr)


def spread_for_cpu(df, min_bytes: int = 32 * 1024):
    """Repartition a byte-thin input to core count before a CPU-heavy
    per-row stage (hashing, gram construction, regex batteries).

    File scans split by BYTES (maxPartitionBytes) and AQE coalesces
    shuffles by BYTES, so a small-on-disk/expensive-per-row stage can land
    on one thread while 31 idle — measured 8.5 -> 3.4 s on the n-gram
    verify at sf0.1. Guarded three ways:
    - on a real many-split table (anything at production scale) this is a
      no-op — there the repartition would be a full-input shuffle bought
      for nothing;
    - a KB-scale frame (optimizer size estimate < ``min_bytes``) is
      returned untouched: per-task overhead on 32 tasks exceeds any
      parallel win on inputs that small (the r5 winnowed_fingerprints
      regression), and a frame that tiny finishes instantly either way;
    - streaming plans can't inspect partitioning (no .rdd) and
      micro-batches are already planned per-trigger — untouched;
    - a plan holding an Exchange (or adaptive subqueries) is left to AQE:
      counting its partitions through ``.rdd`` runs its shuffle stages as
      a throwaway job, which the real query then runs again. An
      exchange-free plan (scan, local relation, checkpoint) is counted
      through ``.rdd``, which launches nothing."""
    if df.isStreaming:
        return df
    if min_bytes:
        try:
            est = int(
                str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
            )
        except Exception:
            est = None
        if est is not None and est < min_bytes:
            return df
    plan = df._jdf.queryExecution().executedPlan()
    if plan.nodeName() == "AdaptiveSparkPlan" or "Exchange" in plan.toString():
        return df
    par = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < par:
        return df.repartition(par)
    return df

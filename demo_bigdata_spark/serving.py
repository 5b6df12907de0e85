"""Serving layer: the reference's dashboard/API result assembly, unified.

The reference computes dashboard stats in three divergent places (streaming
api inline, api-service Spark path, api-service pure-Python cache path —
reference: services/streaming-service/api.py:483-561,
services/api-service/data_service.py:116-150 and 82-91). Here there is ONE
library implementation returning DataFrames; serialization (S11: JSON/SSE,
reference app.py:190-218) is a thin conversion at the edge.

Driver-side `.collect()` happens only on bounded results — the same contract
the reference relied on, but safe at any input scale:
- :func:`dashboard_stats` collects one row (the totals) while it builds its
  rollup, and the rollup it pins holds one row per distinct group, category,
  hour bucket and entity plus one total row, whatever the input size;
- every panel and page is collected through :func:`to_json_rows`, which
  applies a LIMIT."""

from __future__ import annotations

import operator
from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from demo_bigdata_spark.functions.scalar import (
    SYNTH_EVENT_CATEGORIES,
    categorize,
    percent_of,
)
from demo_bigdata_spark.operators import analytics as A


def dashboard_stats(
    events: DataFrame,
    *,
    start=None,
    end=None,
    ts_col: str = "ts",
    group_col: str = "event_type",
    entity_col: str = "user_id",
    k: int = 10,
) -> dict[str, DataFrame]:
    """The six-result-set dashboard fan-out (§3.2). Computes the rollup when
    called; the returned panels are lazy.

    The rollup is one ``groupingSets`` aggregate over the time-scoped frame
    with the sets (group), (category), (hour bucket), (entity) and (), each
    row carrying ``count(*)`` and the sorted set of groups. The call pins it
    with an eager ``localCheckpoint`` and collects the one-row totals (at
    most three Spark jobs). The pin holds #groups + #categories + #hours + #entities +
    1 rows (a NULL key is one more group), whatever the input size.

    Totals, type, category and hourly panels are narrow queries over the
    pin, with no Exchange and no Expand; percentages take the collected
    total as a literal. top_entities is one top-k over the pin's entity
    rows, and recent a top-k over the scoped frame, so serving a panel is
    one job. Each panel returns the rows, in order, of the matching
    ``operators.analytics`` operator on the scoped frame."""
    scoped = A.time_range(events, ts_col, start=start, end=end)
    keys = {
        "_grp": F.col(group_col),
        "_cat": categorize(group_col, SYNTH_EVENT_CATEGORIES),
        "_hour": F.date_trunc("hour", F.col(ts_col)),
        "_ent": F.col(entity_col),
    }
    pin = (
        scoped.select(*(e.alias(key) for key, e in keys.items()))
        .groupingSets([[key] for key in keys] + [[]], *keys)
        .agg(
            F.count("*").alias("_n"),
            F.array_sort(F.collect_set("_grp")).alias("_grps"),
            *(F.grouping(key).alias(f"_in{key}") for key in keys),
        )
        .localCheckpoint(eager=True)
    )

    def in_set(key: str) -> Column:
        """Rows of the one-key grouping set (key): its grouping flag is 0."""
        return F.col(f"_in{key}") == 0

    in_grand_total = ~reduce(operator.or_, map(in_set, keys))
    totals = pin.coalesce(1).agg(
        F.coalesce(F.sum(F.when(in_grand_total, F.col("_n"))), F.lit(0)).alias(
            "total_events"
        ),
        *(
            F.count(F.when(in_set(key) & F.col(key).isNotNull(), 1)).alias(f"unique_{col}")
            for key, col in (("_ent", entity_col), ("_grp", group_col))
        ),
    )
    total = totals.collect()[0]["total_events"]

    def distribution(key: str, name: str) -> DataFrame:
        return (
            pin.filter(in_set(key))
            .select(
                F.col(key).alias(name),
                F.col("_n").alias("event_count"),
                percent_of(F.col("_n"), F.lit(total)).alias("percentage"),
            )
            .coalesce(1)
            .sortWithinPartitions(F.desc("event_count"), name)
        )

    return {
        "totals": totals,
        "type_distribution": distribution("_grp", group_col),
        "category_distribution": distribution("_cat", "event_category"),
        "hourly_series": pin.filter(in_set("_hour"))
        .select(
            F.date_format("_hour", "yyyy-MM-dd HH:mm:ss").alias("hour"),
            F.col("_n").alias("event_count"),
        )
        .coalesce(1)
        .sortWithinPartitions("hour"),
        "top_entities": pin.filter(in_set("_ent") & F.col("_ent").isNotNull())
        .select(
            F.col("_ent").alias(entity_col),
            F.col("_n").alias("event_count"),
            F.size("_grps").cast("long").alias(f"unique_{group_col}"),
            F.col("_grps").alias(f"{group_col}s"),
        )
        .orderBy(F.desc("event_count"), entity_col)
        .limit(k),
        "recent": A.recent_events(scoped, ts_col, n=200),
    }


def list_events(
    events: DataFrame,
    *,
    page: int = 0,
    page_size: int = 100,
    ts_col: str = "ts",
    id_col: str = "event_id",
    **filters,
) -> tuple[DataFrame, DataFrame]:
    """Filter + paginate (§3.3 unified: one Spark implementation instead of
    the reference's Spark/Python duplicate). Returns (page, total_count) —
    both lazy."""
    page_size = min(page_size, 1000)  # reference cap (models.py:107-109)
    scoped = A.apply_filters(events, **filters)
    page_df = A.paginate(scoped, [F.desc(ts_col), F.col(id_col)], page, page_size)
    return page_df, scoped.agg(F.count("*").alias("total"))


def to_json_rows(df: DataFrame, limit: int = 1000) -> list[str]:
    """S11 JSON delivery: bounded collect + JVM-side JSON serialization.

    ``to_json(struct(*))`` runs the JSON generator ``DataFrame.toJSON``
    uses, inside the plan, so a call plans one query and skips toJSON's
    round trip through external ``Row`` objects. The output is toJSON's,
    except that a day-time interval keeps its declared fields (toJSON
    widens it to DAY TO SECOND)."""
    return [r[0] for r in df.limit(limit).select(F.to_json(F.struct("*"))).collect()]


def health_check(spark, events: DataFrame) -> dict:
    """Reference health surface (data_service.py:193-219): session liveness
    + table reachability via a cheap count."""
    try:
        n = events.count()
        return {"status": "healthy", "spark_active": True, "row_count": n}
    except Exception as e:  # pragma: no cover - defensive
        return {"status": "unhealthy", "spark_active": False, "error": str(e)[:200]}


def stats_stream(compute, poll_seconds: float = 0.5, max_polls: int | None = None):
    """S11 SSE push loop with change detection: call ``compute()`` every
    ``poll_seconds`` and yield its JSON only when it differs from the last
    push (reference: services/api-service/app.py:190-218 — 0.5 s poll,
    push-on-change). ``compute`` returns any JSON-serializable snapshot
    (e.g. collected dashboard_stats); ``max_polls`` bounds the loop for
    tests. The generator shape plugs straight into an SSE framework
    (``yield f"data: {payload}\\n\\n"`` at the HTTP edge)."""
    import json as _json
    import time as _time

    last = None
    polls = 0
    while max_polls is None or polls < max_polls:
        snapshot = _json.dumps(compute(), sort_keys=True, default=str)
        if snapshot != last:
            yield snapshot
            last = snapshot
        polls += 1
        if max_polls is None or polls < max_polls:
            _time.sleep(poll_seconds)

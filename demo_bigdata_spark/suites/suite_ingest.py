"""Ingest-tier queries: the P1-P11 GitHub-event pipeline (SURVEY.md §2.2)
checked as a lossless roundtrip.

The driver corpus has no raw GitHub JSON, so we *manufacture* it from the
``events`` table (events -> GitHub-shaped JSON lines, with deliberately
malformed rows and missing-created_at rows injected), push it through the real
parse/flatten/quality pipeline, and aggregate. The DuckDB twin computes the
same aggregate straight from ``events`` — it matches only if every pipeline
stage (JSON parse, struct flatten, JSONPath payload extraction, timestamp
parse, quality filter, categorization) is lossless and correct."""

from __future__ import annotations

from pyspark.sql import functions as F

from demo_bigdata_spark.operators.ingest import process_raw_events
from demo_bigdata_spark.sources.catalog import load_table

# synthetic event_type -> GitHub event type (to exercise the §1 categorizer)
TYPE_TO_GITHUB = {
    "signup": "CreateEvent",  # -> repository
    "purchase": "PushEvent",  # -> code
    "click": "WatchEvent",  # -> social
    "view": "ForkEvent",  # -> social
    "error": "IssuesEvent",  # -> issues
}
_GH_CASE_SQL = (
    "CASE event_type "
    + " ".join(f"WHEN '{k}' THEN '{v}'" for k, v in TYPE_TO_GITHUB.items())
    + " END"
)
_CAT_CASE_SQL = (
    "CASE event_type WHEN 'signup' THEN 'repository' WHEN 'purchase' THEN 'code' "
    "WHEN 'click' THEN 'social' WHEN 'view' THEN 'social' WHEN 'error' THEN 'issues' END"
)


def raw_github_json(spark, sf_dir):
    """events -> one GitHub-shaped JSON line per row, plus injected garbage.

    Rows with event_id % 10 == 0 omit created_at (to be dropped by the P9
    quality filter); 5 malformed lines are appended (dropped by P3)."""
    from demo_bigdata_spark.functions.scalar import spread_for_cpu

    # the events scan is one thin split at bench SFs; without the spread
    # the whole serialize->parse->flatten ingest chain downstream runs on
    # one thread (a production ingest source — Kafka/files — arrives
    # already partitioned, which is what the guard models)
    ev = spread_for_cpu(load_table(spark, sf_dir, "events"))
    gh_type = F.col("event_type")
    for k, v in TYPE_TO_GITHUB.items():
        gh_type = F.when(F.col("event_type") == k, F.lit(v)).otherwise(gh_type)
    created = F.when(
        F.col("event_id") % 10 != 0,
        F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss'Z'"),
    )
    good = ev.select(
        F.to_json(
            F.struct(
                F.col("event_id").cast("string").alias("id"),
                gh_type.alias("type"),
                F.struct(
                    F.col("user_id").cast("int").alias("id"),
                    F.concat(F.lit("user_"), F.col("user_id")).alias("login"),
                ).alias("actor"),
                F.struct(
                    (F.col("event_id") % 50).cast("int").alias("id"),
                    F.concat(F.lit("org/repo_"), F.col("event_id") % 50).alias("name"),
                ).alias("repo"),
                F.lit(True).alias("public"),
                created.alias("created_at"),
                F.struct(
                    F.col("event_type").alias("action"),
                    F.get_json_object("props", "$.k").cast("int").alias("size"),
                ).alias("payload"),
            )
        ).alias("raw_json")
    )
    garbage = spark.range(5).select(
        F.concat(F.lit('{"broken json line '), F.col("id")).alias("raw_json")
    )
    return good.unionByName(garbage)


def q_ingest_category_stats(spark, sf_dir):
    """Per-category counts over the one ingest chain (``process_raw_events``)
    on raw lines with garbage injected: the malformed lines must drop
    before they reach a category."""
    flat = process_raw_events(raw_github_json(spark, sf_dir))
    return (
        flat.groupBy("event_category")
        .agg(
            F.count("*").alias("n"),
            F.countDistinct("actor_id").alias("unique_actors"),
            F.sum(F.col("has_org").cast("int")).alias("n_with_org"),
            F.date_format(F.min("created_at"), "yyyy-MM-dd HH:mm:ss").alias("min_created"),
            F.date_format(F.max("created_at"), "yyyy-MM-dd HH:mm:ss").alias("max_created"),
        )
        .orderBy("event_category")
    )


SQL_INGEST_CATEGORY_STATS = f"""
SELECT {_CAT_CASE_SQL} AS event_category,
       count(*) AS n,
       count(DISTINCT user_id) AS unique_actors,
       0::BIGINT AS n_with_org,
       strftime(min(date_trunc('second', ts)), '%Y-%m-%d %H:%M:%S') AS min_created,
       strftime(max(date_trunc('second', ts)), '%Y-%m-%d %H:%M:%S') AS max_created
FROM events
WHERE event_id % 10 <> 0
GROUP BY 1
ORDER BY event_category
"""


def q_ingest_payload_extract(spark, sf_dir):
    flat = process_raw_events(raw_github_json(spark, sf_dir))
    return (
        flat.groupBy("action")
        .agg(
            F.count("*").alias("n"),
            F.round(
                F.avg(F.get_json_object("payload_json", "$.size").cast("bigint")), 2
            ).alias("avg_size"),
        )
        .orderBy("action")
    )


SQL_INGEST_PAYLOAD_EXTRACT = """
SELECT event_type AS action,
       count(*) AS n,
       round(avg(CAST(json_extract_string(props, '$.k') AS BIGINT)), 2) AS avg_size
FROM events
WHERE event_id % 10 <> 0
GROUP BY event_type
ORDER BY action
"""


def q_ingest_partitions(spark, sf_dir):
    flat = process_raw_events(raw_github_json(spark, sf_dir))
    return (
        flat.withColumn("processing_hour", F.col("processing_hour").cast("bigint"))
        .groupBy("processing_date", "processing_hour")
        .agg(F.count("*").alias("n"))
        .orderBy("processing_date", "processing_hour")
    )


SQL_INGEST_PARTITIONS = """
SELECT strftime(ts, '%Y-%m-%d') AS processing_date,
       hour(ts) AS processing_hour,
       count(*) AS n
FROM events
WHERE event_id % 10 <> 0
GROUP BY 1, 2
ORDER BY processing_date, processing_hour
"""


def q_xml_roundtrip(spark, sf_dir):
    """Spark 4 native XML surface: events serialized to XML rows (to_xml)
    and parsed back with from_xml against an explicit schema, then
    aggregated. The oracle computes the same aggregate straight from the
    parquet rows — it matches only if the XML encode/decode is lossless
    (Double.toString round-trips exactly)."""
    ev = load_table(spark, sf_dir, "events")
    xml = ev.select(
        F.to_xml(F.struct("event_id", "event_type", "value")).alias("x")
    )
    parsed = xml.select(
        F.from_xml("x", "event_id bigint, event_type string, value double").alias("p")
    ).select("p.*")
    return (
        parsed.groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("value"), 2).alias("sum_value"),
            F.max("event_id").alias("max_id"),
        )
        .orderBy("event_type")
    )


SQL_XML_ROUNDTRIP = """
SELECT event_type, count(*) AS n, round(sum(value), 2) AS sum_value,
       max(event_id) AS max_id
FROM events
GROUP BY event_type
ORDER BY event_type
"""


QUERIES = {
    "ingest_category_stats": (q_ingest_category_stats, SQL_INGEST_CATEGORY_STATS),
    "xml_roundtrip": (q_xml_roundtrip, SQL_XML_ROUNDTRIP),
    "ingest_payload_extract": (q_ingest_payload_extract, SQL_INGEST_PAYLOAD_EXTRACT),
    "ingest_partitions": (q_ingest_partitions, SQL_INGEST_PARTITIONS),
}

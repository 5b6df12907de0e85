"""Ingest/normalize tier: raw GitHub event JSON -> flattened 26-column fact.

Re-expresses the reference's streaming transform chain P1-P11 (reference:
services/streaming-service/event_processor.py:19-168) as composable
``DataFrame -> DataFrame`` functions that work identically on batch and
streaming DataFrames (the chain is stateless map/filter — Structured
Streaming runs it unchanged).

Key semantic preserved (SURVEY.md §1.2): payload fields are extracted from
the *raw JSON string* with ``get_json_object``, never from a parsed
map<string,string>, so nested payload objects survive verbatim in
``payload_json`` (reference: event_processor.py:73-81) with their source
key order and bytes.

One chain: every caller (batch suites, streams, the serving workload) runs
``process_raw_events``. A Spark 4 VariantType single-parse fork was
measured slower at every document size from 0.2 KB to 17 KB and
re-serialized ``payload_json`` with sorted keys, so it was removed
(docs/SCALE_NOTES.md, "One ingest chain").

Determinism fix: partition columns (processing_date/hour) always derive from
event time, not ``current_timestamp()`` — this also fixes the reference's
partition-vs-filter mismatch (BASELINE.md) so event-time predicates prune
partitions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from demo_bigdata_spark.functions.scalar import categorize, pin
from demo_bigdata_spark.schemas import FLATTENED_EVENT_COLUMNS, GITHUB_EVENT_SCHEMA

PAYLOAD_SCALAR_FIELDS = (
    "action",
    "ref",
    "ref_type",
    "master_branch",
    "description",
    "pusher_type",
)


_pin = pin  # shared barrier (functions/scalar.py::pin); see its docstring


def project_kafka_envelope(df: DataFrame) -> DataFrame:
    """P1: cast binary key/value -> string, keep Kafka metadata
    (reference: event_processor.py:24-30)."""
    return df.select(
        F.col("key").cast("string").alias("kafka_key"),
        F.col("value").cast("string").alias("raw_json"),
        F.col("timestamp").alias("kafka_timestamp"),
        F.col("partition").alias("kafka_partition"),
        F.col("offset").alias("kafka_offset"),
    )


def parse_events(df: DataFrame, raw_col: str = "raw_json") -> DataFrame:
    """P2+P3: parse JSON against the explicit schema; drop malformed rows
    (reference: event_processor.py:33-36). ``from_json`` yields NULL for
    unparsable input — the filter drops those."""
    parsed = df.withColumn("event", _pin(F.from_json(F.col(raw_col), GITHUB_EVENT_SCHEMA)))
    return parsed.filter(F.col("event").isNotNull())


def flatten_events(df: DataFrame, raw_col: str = "raw_json") -> DataFrame:
    """P4-P8: flatten nested structs, parse timestamps, extract payload
    scalars via JSONPath on the raw string, derive partition columns and the
    event category (reference: event_processor.py:43-110).

    Perf note: the reference calls get_json_object 7x on the raw string —
    7 full JSON parses per row (reference: event_processor.py:73-81). Here we
    extract ``$.payload`` once, then pull all 6 scalars out of it with a
    single ``json_tuple`` (2 parses total), preserving the raw-string
    semantics (nested payload objects survive in payload_json)."""
    created_at = F.to_timestamp(F.col("event.created_at"))
    base = df.select(
        F.col("event.id").alias("event_id"),
        F.col("event.type").alias("event_type"),
        created_at.alias("created_at"),
        F.to_timestamp(F.col("event.processed_at")).alias("processed_at"),
        F.col("event.actor.id").alias("actor_id"),
        F.col("event.actor.login").alias("actor_login"),
        F.col("event.actor.avatar_url").alias("actor_avatar_url"),
        F.col("event.repo.id").alias("repo_id"),
        F.col("event.repo.name").alias("repo_name"),
        F.col("event.repo.url").alias("repo_url"),
        F.col("event.org.id").alias("org_id"),
        F.col("event.org.login").alias("org_login"),
        F.col("event.public").alias("is_public"),
        F.get_json_object(F.col(raw_col), "$.payload").alias("payload_json"),
        F.date_format(created_at, "yyyy-MM-dd").alias("processing_date"),
        F.hour(created_at).alias("processing_hour"),
    )
    return base.select(
        "*",
        F.json_tuple(F.col("payload_json"), *PAYLOAD_SCALAR_FIELDS).alias(
            *PAYLOAD_SCALAR_FIELDS
        ),
    ).withColumn("event_category", categorize("event_type"))


def quality_checks(df: DataFrame) -> DataFrame:
    """P9+P10: drop rows missing required fields; add presence flags
    (reference: event_processor.py:112-132)."""
    filtered = df.filter(
        F.col("event_id").isNotNull()
        & F.col("event_type").isNotNull()
        & F.col("created_at").isNotNull()
    )
    return (
        filtered.withColumn("has_actor", F.col("actor_id").isNotNull())
        .withColumn("has_repo", F.col("repo_id").isNotNull())
        .withColumn("has_org", F.col("org_id").isNotNull())
    )


def finalize_columns(df: DataFrame) -> DataFrame:
    """P11: stable 26-column projection before the sink
    (reference: event_processor.py:139-166)."""
    return df.select(*FLATTENED_EVENT_COLUMNS)


def process_raw_events(df: DataFrame, raw_col: str = "raw_json") -> DataFrame:
    """Full P2-P11 pipeline: parse -> flatten -> quality -> final projection.
    Works on batch and streaming DataFrames alike."""
    parsed = parse_events(df, raw_col)
    flat = flatten_events(parsed, raw_col)
    checked = quality_checks(flat)
    return finalize_columns(checked)


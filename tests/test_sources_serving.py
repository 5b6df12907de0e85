"""Source/sink formats (NDJSON/CSV/JSON/ORC/DDL) and the serving layer."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from demo_bigdata_spark import serving
from demo_bigdata_spark.operators.ingest import process_raw_events
from demo_bigdata_spark.sources import formats
from demo_bigdata_spark.sources.catalog import load_table


def test_ndjson_replay_through_ingest(spark, tmp_path):
    lines = [
        '{"id":"1","type":"PushEvent","actor":{"id":1,"login":"a"},'
        '"created_at":"2024-01-01T00:00:00Z","payload":{"action":"x"}}',
        "{broken",
        '{"id":"2","type":"WatchEvent","actor":{"id":2,"login":"b"},'
        '"created_at":"2024-01-02T00:00:00Z","payload":{}}',
    ]
    src = tmp_path / "events.ndjson"
    src.write_text("\n".join(lines))
    raw = formats.read_ndjson_events(spark, str(src))
    flat = process_raw_events(raw)
    got = {r["event_id"]: r["event_category"] for r in flat.collect()}
    assert got == {"1": "code", "2": "social"}


def test_csv_roundtrip(spark, sf_dir, tmp_path):
    df = load_table(spark, sf_dir, "nation")
    out = str(tmp_path / "nation_csv")
    formats.write_csv(df, out)
    back = formats.read_csv(spark, out, df.schema)
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, df.collect()))


def test_orc_and_json_roundtrip(spark, sf_dir, tmp_path):
    df = load_table(spark, sf_dir, "region")
    formats.write_orc(df, str(tmp_path / "r_orc"))
    back = formats.read_orc(spark, str(tmp_path / "r_orc"))
    assert back.count() == df.count()
    formats.write_json(df, str(tmp_path / "r_json"))
    back_j = spark.read.schema(df.schema).json(str(tmp_path / "r_json"))
    assert sorted(map(tuple, back_j.collect())) == sorted(map(tuple, df.collect()))


def test_ddl_create_describe_count(spark, sf_dir, tmp_path):
    formats.create_database(spark, "gh")
    formats.create_partitioned_events_table(
        spark, "gh.events_fact", location=str(tmp_path / "fact")
    )
    desc = formats.describe_table(spark, "gh.events_fact")
    cols = {r["col_name"] for r in desc.collect()}
    assert {"event_id", "processing_date", "processing_hour"} <= cols
    assert formats.table_count(spark, "gh.events_fact") == 0


def _dashboard_reference(ev, k=10, **window):
    """The six panels built from the standalone analytics operators on the
    time-scoped frame — what each dashboard panel must return."""
    from demo_bigdata_spark.operators import analytics as A

    scoped = A.time_range(ev, "ts", **window)
    return {
        "totals": A.global_stats(scoped, distinct_cols=("user_id", "event_type")),
        "type_distribution": A.type_distribution(scoped, "event_type"),
        "category_distribution": A.category_distribution(scoped, "event_type"),
        "hourly_series": A.hourly_series(scoped, "ts"),
        "top_entities": A.top_entities(
            scoped, ["user_id"], distinct_col="event_type", list_col="event_type", k=k
        ),
        "recent": A.recent_events(scoped, "ts", n=200),
    }


def _panel_rows(panels):
    return {name: [r.asDict() for r in df.collect()] for name, df in panels.items()}


def test_dashboard_stats_fanout(spark, sf_dir):
    """Every panel of the one-rollup dashboard returns, in order, the rows
    of its standalone analytics operator on the time-scoped frame: on the
    sf events table, on a small frame with NULL types, entities and
    timestamps and tied counts, and on an empty range."""
    import datetime as dt

    ev = load_table(spark, sf_dir, "events")
    window = {"start": "2024-01-05", "end": "2024-01-25"}
    stats = serving.dashboard_stats(ev, **window)
    got = _panel_rows(stats)
    assert got == _panel_rows(_dashboard_reference(ev, **window))
    assert got["totals"][0]["total_events"] > 0
    assert len(got["type_distribution"]) == 5
    assert len(got["top_entities"]) == 10
    assert len(got["recent"]) == 200
    assert abs(sum(r["percentage"] for r in got["type_distribution"]) - 100.0) < 0.1

    t = dt.datetime(2024, 1, 1, 10, 15)
    rows = [
        (1, t, 1, "click"),
        (2, t, 2, "click"),
        (3, t + dt.timedelta(hours=1), 1, "view"),
        (4, t + dt.timedelta(hours=1), 2, "view"),
        (5, t + dt.timedelta(hours=2), None, "purchase"),
        (6, None, 3, "purchase"),
        (7, t + dt.timedelta(minutes=5), 3, None),
        (8, None, None, None),
        (9, t + dt.timedelta(hours=2), 4, "nosuchtype"),
    ]
    small = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string"
    )
    got = _panel_rows(serving.dashboard_stats(small, k=3))
    assert got == _panel_rows(_dashboard_reference(small, k=3))
    assert got["totals"] == [
        {"total_events": 9, "unique_user_id": 4, "unique_event_type": 4}
    ]
    assert got["hourly_series"][0] == {"hour": None, "event_count": 2}

    empty = {"start": "2030-01-01"}
    got = _panel_rows(serving.dashboard_stats(ev, **empty))
    assert got == _panel_rows(_dashboard_reference(ev, **empty))
    assert got["totals"] == [
        {"total_events": 0, "unique_user_id": 0, "unique_event_type": 0}
    ]
    assert all(not got[name] for name in got if name != "totals")


def test_list_events_pagination_contract(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    page0, total = serving.list_events(ev, page=0, page_size=50, event_type="click")
    rows0 = page0.collect()
    assert len(rows0) == 50
    assert all(r["event_type"] == "click" for r in rows0)
    page1, _ = serving.list_events(ev, page=1, page_size=50, event_type="click")
    ids0 = {r["event_id"] for r in rows0}
    ids1 = {r["event_id"] for r in page1.collect()}
    assert not ids0 & ids1  # stable, non-overlapping pages
    assert total.head()["total"] >= 100


def test_json_rows_and_health(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    rows = serving.to_json_rows(ev.select("event_id", "event_type"), limit=3)
    assert len(rows) == 3 and all(r.startswith("{") for r in rows)
    # the same JSON, in the same order, as DataFrame.toJSON
    recent = ev.orderBy(F.desc("ts"), "event_id").withColumn(
        "tags", F.array("event_type", F.lit(None))
    )
    assert serving.to_json_rows(recent, limit=50) == recent.limit(50).toJSON().collect()
    h = serving.health_check(spark, ev)
    assert h["status"] == "healthy" and h["row_count"] == ev.count()


def test_stream_progress_and_lifecycle(spark, sf_dir, tmp_path):
    from demo_bigdata_spark.streaming.pipeline import (
        progress_summary,
        read_events_stream,
        stop_all_streams,
        windowed_counts,
    )

    src = str(tmp_path / "src")
    load_table(spark, sf_dir, "events").limit(500).write.parquet(src)
    stream = windowed_counts(read_events_stream(spark, src))
    q = stream.writeStream.outputMode("complete").format("memory").queryName("prog").start()
    q.processAllAvailable()
    p = progress_summary(q)
    assert p["is_active"] and p["num_input_rows"] == 500
    stopped = stop_all_streams(spark)
    assert "prog" in stopped
    assert not spark.streams.active

def test_compact_parquet_reduces_files(spark, sf_dir, tmp_path):
    """64 tiny files -> 1 compacted file, content-identical."""
    from demo_bigdata_spark.sources.formats import compact_parquet_inplace
    from demo_bigdata_spark.sources.catalog import load_table

    path = str(tmp_path / "frag")
    ev = load_table(spark, sf_dir, "events").drop("_ts_ns")
    ev.repartition(64).write.mode("overwrite").parquet(path)
    before = {tuple(r) for r in spark.read.parquet(path).collect()}
    report = compact_parquet_inplace(spark, path, target_rows_per_file=10_000_000)
    assert report["files_before"] >= 64
    assert report["files_after"] == 1
    after = {tuple(r) for r in spark.read.parquet(path).collect()}
    assert after == before


def test_binary_file_source_roundtrip(spark, tmp_path):
    """binaryFile source reads raw media files byte-exact with metadata, and
    the result feeds the multimodal decode chain unchanged."""
    from demo_bigdata_spark.operators.multimodal import decode_image_fake
    from demo_bigdata_spark.sources.formats import read_binary_files

    payloads = {f"img_{i}.png": bytes([i]) * (10 + i) for i in range(5)}
    (tmp_path / "skip.txt").write_bytes(b"not media")
    for name, data in payloads.items():
        (tmp_path / name).write_bytes(data)

    df = read_binary_files(spark, str(tmp_path), glob="*.png")
    rows = {r["path"].rsplit("/", 1)[-1]: bytes(r["content"]) for r in df.collect()}
    assert rows == payloads

    media = df.select(
        F.xxhash64("path").alias("doc_id"),
        F.col("content").alias("payload"),
        F.lit("image/png").alias("mime"),
        F.col("length").alias("n_bytes"),
        F.sha2("content", 256).alias("sha"),
    )
    decoded = decode_image_fake(media)
    assert decoded.count() == 5
    widths = {r["width"] for r in decoded.collect()}
    assert widths == {11, 12, 13, 14, 15}  # n_bytes % 640 + 1, n_bytes = 10+i


def _gh_line(i: int) -> str:
    return (
        f'{{"id":"{i}","type":"PushEvent","actor":{{"id":{i % 7},"login":"u{i % 7}"}},'
        f'"repo":{{"id":{i % 3},"name":"org/r{i % 3}"}},"public":true,'
        f'"created_at":"2024-01-0{i % 9 + 1}T10:00:00Z","payload":{{"action":"push"}}}}'
    )


def test_python_datasource_batch_replay(spark, tmp_path):
    """Custom Python Data Source (batch): one partition per NDJSON file,
    non-overlapping replay_seq, lines feed the ingest chain unchanged."""
    from demo_bigdata_spark.operators.ingest import process_raw_events
    from demo_bigdata_spark.sources.pydatasource import register

    for f, lo in [("a.ndjson", 0), ("b.ndjson", 40)]:
        (tmp_path / f).write_text("".join(_gh_line(i) + "\n" for i in range(lo, lo + 40)))
    register(spark)
    df = spark.read.format("github_replay").option("path", str(tmp_path)).load()
    assert df.count() == 80
    seqs = [r["replay_seq"] for r in df.collect()]
    assert sorted(seqs) == list(range(80))  # per-file bases don't overlap
    flat = process_raw_events(df)
    assert flat.count() == 80
    assert flat.select("event_type").distinct().collect()[0][0] == "PushEvent"


def test_python_datasource_stream_replay(spark, tmp_path):
    """Custom Python Data Source (streaming): batch_size lines per
    micro-batch, offsets are line positions, full drain equals batch read."""
    from demo_bigdata_spark.sources.pydatasource import register

    capture = tmp_path / "cap.ndjson"
    capture.write_text("".join(_gh_line(i) + "\n" for i in range(55)))
    register(spark)
    stream = (
        spark.readStream.format("github_replay")
        .option("path", str(capture))
        .option("batch_size", "20")
        .load()
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("replay_sink")
        .outputMode("append")
        .trigger(processingTime="1 second")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    rows = spark.sql("SELECT replay_seq FROM replay_sink").collect()
    assert sorted(r["replay_seq"] for r in rows) == list(range(55))


def test_python_datasource_write_roundtrip(spark, tmp_path):
    """Custom Python Data Source (writer): NDJSON sink with temp-file +
    rename commit; read-back equals what was written, no temp residue."""
    import os

    from demo_bigdata_spark.sources.pydatasource import register

    src_dir, out_dir = tmp_path / "in", tmp_path / "out"
    src_dir.mkdir()
    (src_dir / "a.ndjson").write_text("".join(_gh_line(i) + "\n" for i in range(30)))
    register(spark)
    df = spark.read.format("github_replay").option("path", str(src_dir)).load()
    df.write.format("github_replay").option("path", str(out_dir)).mode("append").save()

    files = os.listdir(out_dir)
    assert "_SUCCESS" in files
    assert not [f for f in files if f.startswith("_tmp_")]
    back = spark.read.format("github_replay").option("path", str(out_dir)).load()
    assert sorted(r["raw_json"] for r in back.collect()) == sorted(
        r["raw_json"] for r in df.collect()
    )


def test_stats_stream_pushes_only_on_change(spark):
    """SSE loop semantics: first snapshot always pushes, repeats are
    suppressed, changes push again (reference app.py:190-218)."""
    snapshots = iter([{"n": 1}, {"n": 1}, {"n": 2}, {"n": 2}, {"n": 3}])
    got = list(
        serving.stats_stream(lambda: next(snapshots), poll_seconds=0.0, max_polls=5)
    )
    assert got == ['{"n": 1}', '{"n": 2}', '{"n": 3}']


def test_xml_source_roundtrip(spark, sf_dir, tmp_path):
    """Spark 4 native XML file source/sink round-trips the region dim."""
    from demo_bigdata_spark.sources.formats import read_xml, write_xml

    df = load_table(spark, sf_dir, "region")
    out = str(tmp_path / "region_xml")
    write_xml(df, out)
    back = read_xml(spark, out, df.schema)
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, df.collect()))


def test_compaction_reduces_files_preserves_rows(spark, sf_dir, tmp_path):
    """compact_parquet must shrink the file count to the byte-derived
    target without changing a single row, and small_file_report must see
    the improvement. Compaction writes BESIDE the source (commit-then-
    swap), never in place."""
    from demo_bigdata_spark.sources.catalog import load_table
    from demo_bigdata_spark.sources.maintenance import (
        compact_parquet,
        small_file_report,
    )

    src, dst = str(tmp_path / "frag"), str(tmp_path / "compact")
    ev = load_table(spark, sf_dir, "events")
    ev.repartition(40).write.mode("overwrite").parquet(src)  # fragment it
    rep = small_file_report(spark, src)
    assert rep["n_files"] >= 40 and rep["n_small"] == rep["n_files"]

    out = compact_parquet(spark, src, dst, target_file_bytes=1 << 30)
    assert out["after"]["n_files"] == 1
    assert out["partition_cols"] == []
    a = {tuple(r) for r in spark.read.parquet(src).collect()}
    b = {tuple(r) for r in spark.read.parquet(dst).collect()}
    assert a == b
    assert os.path.exists(src)  # source untouched until the caller swaps


def test_compaction_preserves_partition_layout(spark, sf_dir, tmp_path):
    """Compacting a partitioned table must re-emit the key=value directory
    layout (detected from the source paths) so partition pruning still
    works after the caller swaps paths — folding partition columns into
    flat data files would silently break every pruned query."""
    import pyspark.sql.functions as F

    from demo_bigdata_spark.sources.catalog import load_table
    from demo_bigdata_spark.sources.maintenance import compact_parquet

    src, dst = str(tmp_path / "psrc"), str(tmp_path / "pdst")
    ev = load_table(spark, sf_dir, "events").withColumn(
        "event_date", F.date_format("ts", "yyyy-MM-dd")
    )
    # fragment each partition: many files per event_date directory
    ev.repartition(8).write.mode("overwrite").partitionBy("event_date").parquet(src)

    out = compact_parquet(spark, src, dst, target_file_bytes=1 << 30)
    assert out["partition_cols"] == ["event_date"]
    dirs = sorted(
        d for d in os.listdir(dst) if d.startswith("event_date=")
    )
    assert dirs  # layout survived
    # pruning still works: a single-date read plans only that directory
    # (inputFiles() is pre-pruning, so check the executed scan instead)
    one = dirs[0].split("=", 1)[1]
    pruned = spark.read.parquet(dst).filter(F.col("event_date") == one)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "event_date" in plan, plan
    src_one = spark.read.parquet(src).filter(F.col("event_date") == one).count()
    assert pruned.count() == src_one
    a = {tuple(r) for r in spark.read.parquet(src).collect()}
    b = {tuple(r) for r in spark.read.parquet(dst).collect()}
    assert a == b
    # and the per-directory file count actually shrank
    src_files = len(spark.read.parquet(src).inputFiles())
    dst_files = len(spark.read.parquet(dst).inputFiles())
    assert dst_files < src_files and dst_files == len(dirs)


def test_skipping_report_survives_missing_stats(spark, tmp_path):
    """Row groups without min/max statistics must count as must-read, not
    crash the report — stats can be legitimately absent (writer config,
    all-NULL chunks)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from demo_bigdata_spark.sources.layout import skipping_report

    path = str(tmp_path / "nostats")
    os.makedirs(path)
    t = pa.table({"k": list(range(100)), "v": ["x"] * 100})
    pq.write_table(t, path + "/part-a.parquet", write_statistics=False)
    pq.write_table(t, path + "/part-b.parquet")  # stats present
    rep = skipping_report(spark, path, "k", probes=[5, 500])
    assert rep["n_row_groups"] == 2 and rep["n_unprunable"] == 1
    # stats-less group read for both probes; stats group read only for 5
    assert rep["row_groups_read"] == 3
    assert 0 < rep["skipped_frac"] < 1


def test_schema_evolution_merge_read(spark, tmp_path):
    """Appends with a widened schema must stay readable: mergeSchema
    yields the superset schema with nulls for pre-evolution rows — the
    contract a long-lived table relies on when new feature columns land."""
    path = str(tmp_path / "evolving")
    spark.createDataFrame([(1, "a")], "id long, v string").write.mode(
        "overwrite"
    ).parquet(path)
    spark.createDataFrame(
        [(2, "b", 0.5)], "id long, v string, score double"
    ).write.mode("append").parquet(path)
    got = spark.read.option("mergeSchema", "true").parquet(path)
    assert set(got.columns) == {"id", "v", "score"}
    rows = {r.id: r for r in got.collect()}
    assert rows[1].score is None and rows[2].score == 0.5


def test_range_layout_enables_row_group_skipping(spark, sf_dir, tmp_path):
    """sort_for_skipping must produce row-group stats tight enough that
    point probes touch ~one row group, where the same data written
    round-robin is unprunable (every row group spans the whole key
    range); rows must survive the rewrite untouched."""
    from demo_bigdata_spark.sources.layout import skipping_report, sort_for_skipping

    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "value")
    shuffled, sorted_p = str(tmp_path / "rr"), str(tmp_path / "ranged")
    ev.repartition(8).write.mode("overwrite").parquet(shuffled)
    sort_for_skipping(ev, sorted_p, ["event_id"], n_files=8)

    probes = [r.event_id for r in ev.orderBy("event_id").limit(40).collect()][::5]
    bad = skipping_report(spark, shuffled, "event_id", probes)
    good = skipping_report(spark, sorted_p, "event_id", probes)
    assert good["n_row_groups"] >= 8
    assert bad["skipped_frac"] <= 0.2, bad  # round-robin: nothing prunable
    assert good["skipped_frac"] >= 0.8, good  # ranged: almost everything skipped

    a = {tuple(r) for r in spark.read.parquet(sorted_p).collect()}
    b = {tuple(r) for r in ev.collect()}
    assert a == b


def test_zorder_layout_skips_on_both_dimensions(spark, sf_dir, tmp_path):
    """Z-order clustering must enable row-group pruning on BOTH curve
    columns, where a linear sort on the first column leaves the second
    unprunable; rows survive the rewrite untouched. morton_key bit
    interleave is also pinned against a python reference."""
    from demo_bigdata_spark.sources.layout import (
        morton_key,
        skipping_report,
        sort_for_skipping,
        zorder_sort,
    )

    # bit-exactness of the key against a driver-side reference
    got = (
        spark.range(300)
        .selectExpr("cast(id % 23 as long) a", "cast(id % 17 as long) b")
        .select("a", "b", morton_key([F.col("a"), F.col("b")], bits=8).alias("z"))
        .collect()
    )

    def ref(a, b, bits=8):
        out = 0
        for i in range(bits):
            out |= ((a >> i) & 1) << (2 * i)
            out |= ((b >> i) & 1) << (2 * i + 1)
        return out

    assert all(r.z == ref(r.a, r.b) for r in got)

    # (l_orderkey, l_partkey): both wide domains at every sf — l_suppkey
    # has ~10 distinct values at sf0.001, so every row group would contain
    # all of them and NO layout could prune on it
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey"
    )
    linear_p, z_p = str(tmp_path / "linear"), str(tmp_path / "zed")
    sort_for_skipping(li, linear_p, ["l_orderkey"], n_files=8)
    zorder_sort(li, z_p, ["l_orderkey", "l_partkey"], bits=16, n_files=8)

    ok = sorted({r.l_orderkey for r in li.select("l_orderkey").distinct().collect()})
    pk = sorted({r.l_partkey for r in li.select("l_partkey").distinct().collect()})
    ok = ok[:: max(1, len(ok) // 10)]
    pk = pk[:: max(1, len(pk) // 10)]
    lin_b = skipping_report(spark, linear_p, "l_partkey", pk)
    z_a = skipping_report(spark, z_p, "l_orderkey", ok)
    z_b = skipping_report(spark, z_p, "l_partkey", pk)
    # the linear layout is blind on the second column; the curve skips on
    # both (not as tightly as a dedicated single-column sort — that's the
    # documented trade)
    assert z_b["skipped_frac"] > lin_b["skipped_frac"], (z_b, lin_b)
    assert z_a["skipped_frac"] > 0.3, z_a
    assert z_b["skipped_frac"] > 0.3, z_b

    a = {tuple(r) for r in spark.read.parquet(z_p).collect()}
    b = {tuple(r) for r in li.collect()}
    assert a == b


def test_backfill_overwrites_only_named_partitions(spark, sf_dir, tmp_path):
    """Dynamic-partition backfill must replace exactly the corrected
    event_date partitions (here: doubled values for one date) and leave
    every other partition's files byte-identical on disk."""
    import glob
    import hashlib

    from demo_bigdata_spark.sources.catalog import load_table, write_partitioned
    from demo_bigdata_spark.sources.maintenance import backfill_partitions

    path = str(tmp_path / "events_part")
    ev = load_table(spark, sf_dir, "events")
    write_partitioned(ev, path)

    def digests():
        out = {}
        for f in glob.glob(path + "/event_date=*/**/*.parquet", recursive=True):
            rel = f[len(path) :]
            out[rel] = hashlib.md5(open(f, "rb").read()).hexdigest()
        return out

    before = digests()
    target = sorted({r.event_date for r in spark.read.parquet(path).select("event_date").distinct().collect()})[1]

    corrected = ev.withColumn(
        "value",
        F.when(F.date_format("ts", "yyyy-MM-dd") == target, F.col("value") * 2).otherwise(
            F.col("value")
        ),
    )
    backfill_partitions(corrected, path, [target])

    after = digests()
    changed = {k for k in set(before) | set(after) if before.get(k) != after.get(k)}
    assert changed, "backfill wrote nothing"
    assert all(f"/event_date={target}/" in k for k in changed), changed

    got = spark.read.parquet(path)
    exp_sum = ev.withColumn("d", F.date_format("ts", "yyyy-MM-dd")).filter(
        F.col("d") == target
    ).agg(F.sum(F.col("value") * 2)).first()[0]
    got_sum = got.filter(F.col("event_date") == target).agg(F.sum("value")).first()[0]
    assert abs(got_sum - exp_sum) < 1e-6
    assert got.count() == ev.count()


def test_versioned_table_time_travel_and_mor_deletes(spark, sf_dir, tmp_path):
    """The snapshot table's Iceberg-semantics contract: immutable data
    files + manifest + atomic pointer. Appends and merge-on-read deletes
    create new snapshots without touching existing files (byte-identical
    on disk); time travel reads any retained snapshot; rollback is a
    pointer swap; expire vacuums unreferenced files while every retained
    snapshot stays readable."""
    import glob
    import hashlib

    from demo_bigdata_spark.sources.catalog import load_table
    from demo_bigdata_spark.sources.snapshots import (
        append_snapshot,
        create_table,
        current_snapshot,
        delete_where,
        expire_snapshots,
        read_table,
        rollback,
        snapshot_history,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    cut = docs.agg(F.expr("percentile(doc_id, 0.5)")).first()[0]
    first = docs.filter(F.col("doc_id") <= cut)
    second = docs.filter(F.col("doc_id") > cut)

    path = str(tmp_path / "vtable")
    s1 = create_table(spark, path, first)
    assert s1 == 1 and current_snapshot(path) == 1
    assert read_table(spark, path).count() == first.count()

    def _hashes():
        return {
            f: hashlib.md5(open(f, "rb").read()).hexdigest()
            for f in glob.glob(path + "/data/**/*.parquet", recursive=True)
        }

    before = _hashes()
    s2 = append_snapshot(spark, path, second)
    assert s2 == 2
    assert read_table(spark, path).count() == docs.count()
    # append touched no existing data file
    after = _hashes()
    assert all(after[f] == h for f, h in before.items())

    # merge-on-read delete: rows gone from current, intact at snapshot 2
    s3 = delete_where(spark, path, "doc_id", F.col("lang") == "en")
    n_en = docs.filter(F.col("lang") == "en").count()
    assert n_en > 0
    cur = read_table(spark, path)
    assert cur.count() == docs.count() - n_en
    assert cur.filter(F.col("lang") == "en").count() == 0
    assert read_table(spark, path, snapshot=2).count() == docs.count()
    after3 = _hashes()
    assert all(after3[f] == h for f, h in before.items())  # still untouched

    # time travel to snapshot 1
    tt = read_table(spark, path, snapshot=1)
    assert {r.doc_id for r in tt.select("doc_id").collect()} == {
        r.doc_id for r in first.select("doc_id").collect()
    }

    # rollback = pointer swap
    rollback(path, 2)
    assert current_snapshot(path) == 2
    assert read_table(spark, path).count() == docs.count()
    rollback(path, s3)

    hist = snapshot_history(spark, path)
    assert [h["snapshot"] for h in hist] == [1, 2, 3]
    assert hist[2].get("delete", 0) == 1

    # expire: keep last 1 -> snapshots 1-2 gone, current still readable,
    # and the orphan from a simulated crashed write is vacuumed
    import os as _os

    orphan = path + "/data/deadbeefcafe"
    _os.makedirs(orphan)
    open(orphan + "/part-orphan.parquet", "wb").close()
    rep = expire_snapshots(spark, path, keep_last=1)
    assert rep["snapshots_removed"] == 2
    assert rep["files_removed"] >= 1 and not _os.path.exists(orphan)
    assert read_table(spark, path).count() == docs.count() - n_en
    import pytest as _pytest

    with _pytest.raises(Exception):
        read_table(spark, path, snapshot=1)

    # compaction path: replace=True folds deletes into fresh data files
    s5 = append_snapshot(spark, path, read_table(spark, path), replace=True)
    assert read_table(spark, path, snapshot=s5).count() == docs.count() - n_en
    hist5 = [h for h in snapshot_history(spark, path) if h["snapshot"] == s5]
    assert hist5[0].get("delete", 0) == 0


def _jobs_in(spark, fn):
    """Run ``fn`` under a fresh job group: (its result, jobs it launched)."""
    import uuid

    sc = spark.sparkContext
    group = f"pin-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "job-count pin")
    try:
        out = fn()
    finally:
        sc.setJobGroup(None, None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_versioned_table_schema_evolution(spark, tmp_path):
    """An append with a widened schema is just new data files: the current
    snapshot reads the union schema (nulls for pre-evolution rows), while
    the pre-evolution snapshot keeps its original narrow schema. Commits
    record that schema, so a same-schema append launches one job (the data
    write), building a read launches none, and every snapshot still reads
    exactly what a ``mergeSchema`` scan of its data files reads."""
    from collections import Counter

    from demo_bigdata_spark.sources import snapshots as S
    from demo_bigdata_spark.sources.snapshots import (
        append_snapshot,
        create_table,
        read_table,
    )

    path = str(tmp_path / "evo")
    v1 = spark.createDataFrame([(1, "a"), (2, "b")], "id long, name string")
    _, jobs = _jobs_in(spark, lambda: create_table(spark, path, v1))
    assert jobs == 1
    v2 = spark.createDataFrame(
        [(3, "c", 0.9)], "id long, name string, score double"
    )
    # the widening append infers the union schema once, at commit time
    _, jobs = _jobs_in(spark, lambda: append_snapshot(spark, path, v2))
    assert jobs == 2

    cur = read_table(spark, path)
    assert set(cur.columns) == {"id", "name", "score"}
    got = {r.id: (r.name, r.score) for r in cur.collect()}
    assert got == {1: ("a", None), 2: ("b", None), 3: ("c", 0.9)}
    old = read_table(spark, path, snapshot=1)
    assert set(old.columns) == {"id", "name"}

    v3 = spark.createDataFrame(
        [(4, "d", None)], "id long, name string, score double"
    )
    # a same-schema append carries the recorded schema: the data write only
    _, jobs = _jobs_in(spark, lambda: append_snapshot(spark, path, v3))
    assert jobs == 1
    for snap in (1, 2, 3):
        got, jobs = _jobs_in(spark, lambda: read_table(spark, path, snap))
        assert jobs == 0
        files = [
            r["file"] for r in S._manifest_rows(path, snap) if r["kind"] == "data"
        ]
        want = spark.read.option("mergeSchema", "true").parquet(*files)
        assert got.schema == want.schema
        assert Counter(got.collect()) == Counter(want.collect())


def test_versioned_table_incremental_reads_and_cdc(spark, sf_dir, tmp_path):
    """read_appends_since returns exactly the rows whose files landed
    after the checkpointed snapshot (file-level diff, no history read);
    snapshot_diff surfaces row-level inserts and deletes across any two
    snapshots."""
    from demo_bigdata_spark.sources.catalog import load_table
    from demo_bigdata_spark.sources.snapshots import (
        append_snapshot,
        create_table,
        delete_where,
        read_appends_since,
        snapshot_diff,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    cut = docs.agg(F.expr("percentile(doc_id, 0.5)")).first()[0]
    first = docs.filter(F.col("doc_id") <= cut)
    second = docs.filter(F.col("doc_id") > cut)

    path = str(tmp_path / "inc")
    create_table(spark, path, first)
    append_snapshot(spark, path, second)

    inc = read_appends_since(spark, path, since_snapshot=1)
    assert {r.doc_id for r in inc.collect()} == {
        r.doc_id for r in second.collect()
    }
    assert read_appends_since(spark, path, 1, snapshot=1).count() == 0

    delete_where(spark, path, "doc_id", F.col("lang") == "en")
    d = snapshot_diff(spark, path, 1, 3, "doc_id")
    rows = {(r.doc_id, r.change) for r in d.collect()}
    first_ids = {r.doc_id for r in first.collect()}
    en_ids = {r.doc_id for r in docs.filter(F.col("lang") == "en").collect()}
    second_ids = {r.doc_id for r in second.collect()}
    expected = {(i, "insert") for i in second_ids - en_ids} | {
        (i, "delete") for i in first_ids & en_ids
    }
    assert rows == expected


def test_versioned_table_upsert_merge_semantics(spark, tmp_path):
    """upsert_snapshot = MERGE INTO in one atomic commit: matched keys
    take the new values, unmatched insert, everything else unchanged; the
    upsert's own delete keys must NOT suppress its own new rows (the
    sequence rule), and the pre-upsert snapshot still shows old values."""
    from demo_bigdata_spark.sources.snapshots import (
        create_table,
        read_table,
        upsert_snapshot,
    )

    path = str(tmp_path / "merge")
    base = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30)], "k long, v string, n long"
    )
    create_table(spark, path, base)
    upd = spark.createDataFrame(
        [(2, "B", 200), (4, "d", 40)], "k long, v string, n long"
    )
    s2 = upsert_snapshot(spark, path, upd, "k")
    got = {r.k: (r.v, r.n) for r in read_table(spark, path).collect()}
    assert got == {1: ("a", 10), 2: ("B", 200), 3: ("c", 30), 4: ("d", 40)}
    old = {r.k: (r.v, r.n) for r in read_table(spark, path, snapshot=1).collect()}
    assert old == {1: ("a", 10), 2: ("b", 20), 3: ("c", 30)}

    # a second upsert layered on the first: sequence rule must keep each
    # generation's survivors straight across multiple delete files
    upd2 = spark.createDataFrame([(2, "BB", 2000), (5, "e", 50)], "k long, v string, n long")
    upsert_snapshot(spark, path, upd2, "k")
    got2 = {r.k: (r.v, r.n) for r in read_table(spark, path).collect()}
    assert got2 == {
        1: ("a", 10),
        2: ("BB", 2000),
        3: ("c", 30),
        4: ("d", 40),
        5: ("e", 50),
    }
    assert {r.k: r.v for r in read_table(spark, path, snapshot=s2).collect()}[2] == "B"


def test_versioned_table_review_fixes(spark, tmp_path):
    """Round-6 review regressions, pinned: (1) commits succeed after a
    rollback (stale manifest overwritten, not wedged); (2) replace-
    compaction carries applied-epoch markers so a restarting stream's
    idempotence check still holds; (3) delete files keyed by DIFFERENT
    columns all apply; (4) snapshot_diff reports updates; (5)
    read_appends_since refuses a window spanning a compaction and keeps
    the evolved schema on empty windows; (7) expire keep_last=0 keeps
    only the floor."""
    from demo_bigdata_spark.sources.snapshots import (
        append_snapshot,
        append_snapshot_epoch,
        create_table,
        current_snapshot,
        delete_where,
        expire_snapshots,
        read_appends_since,
        read_table,
        rollback,
        snapshot_diff,
        upsert_snapshot,
    )

    path = str(tmp_path / "rf")
    base = spark.createDataFrame(
        [(1, "en", 10), (2, "de", 20), (3, "en", 30)], "k long, lang string, n long"
    )
    create_table(spark, path, base)
    append_snapshot(spark, path, spark.createDataFrame([(4, "fr", 40)], base.schema))

    # (1) rollback then write again — must not wedge on the stale manifest
    rollback(path, 1)
    s = append_snapshot(spark, path, spark.createDataFrame([(5, "es", 50)], base.schema))
    assert s == 2
    assert {r.k for r in read_table(spark, path).collect()} == {1, 2, 3, 5}

    # (3) deletes keyed by different columns compose
    delete_where(spark, path, "k", F.col("k") == 5)
    delete_where(spark, path, "lang", F.col("lang") == "en")
    assert {r.k for r in read_table(spark, path).collect()} == {2}

    # (4) updates appear in CDC
    upsert_snapshot(spark, path, spark.createDataFrame([(2, "de", 999)], base.schema), "k")
    d = {(r.k, r.change) for r in snapshot_diff(spark, path, 4, 5, "k").collect()}
    assert d == {(2, "update")}

    # (2) epoch markers survive compaction
    ep_path = str(tmp_path / "rf_stream")
    ev = spark.createDataFrame([(1, 1.0), (2, 2.0)], "k long, v double")
    append_snapshot_epoch(spark, ep_path, ev, 0)
    append_snapshot_epoch(spark, ep_path, ev.withColumn("k", F.col("k") + 10), 1)
    n = read_table(spark, ep_path).count()
    append_snapshot(spark, ep_path, read_table(spark, ep_path), replace=True)
    assert append_snapshot_epoch(spark, ep_path, ev, 1) is None  # still applied
    assert read_table(spark, ep_path).count() == n

    # (5) incremental read across the compaction refuses loudly
    import pytest as _pytest

    with _pytest.raises(ValueError, match="replace-compaction"):
        read_appends_since(spark, ep_path, 1)
    # empty window keeps the newest schema
    wide = ev.withColumn("extra", F.lit("x"))
    append_snapshot(spark, ep_path, wide)
    cur = current_snapshot(ep_path)
    empty = read_appends_since(spark, ep_path, cur, snapshot=cur)
    assert "extra" in empty.columns and empty.count() == 0

    # (7) keep_last=0 keeps the current snapshot, not everything
    rep = expire_snapshots(spark, ep_path, keep_last=0)
    assert rep["snapshots_removed"] >= 1
    assert read_table(spark, ep_path).count() == n + ev.count()


def test_versioned_table_commit_claims_and_vacuum_safety(spark, tmp_path):
    """Round-7 ADVICE items, pinned: (1) two writers that computed the
    same next-snapshot id cannot silently overwrite each other — the
    commit claim raises CommitConflictError for the loser, and the public
    writers retry against the NEW current (optimistic concurrency); (2) a
    stale claim from a crashed writer is stolen, not wedged forever; (3)
    expire_snapshots compares abspath-normalized paths, so an equivalent
    but differently spelled table path cannot make live data look
    unreferenced; (4) the vacuum grace period leaves young unreferenced
    dirs alone (in-flight commit protection)."""
    import os as _os
    import time as _time

    import pytest as _pytest

    from demo_bigdata_spark.sources import snapshots as S

    path = str(tmp_path / "cas")
    base = spark.createDataFrame([(1, 10), (2, 20)], "k long, n long")
    S.create_table(spark, path, base)

    # (1) a FRESH foreign claim on the next id blocks a direct _commit
    nxt = S.current_snapshot(path) + 1
    claim = S._claim_path(path, nxt)
    _os.close(_os.open(claim, _os.O_CREAT | _os.O_EXCL | _os.O_WRONLY))
    with _pytest.raises(S.CommitConflictError):
        S._commit(path, nxt, [("", "epoch_marker", 0, None)])
    # ... and an id at-or-below current conflicts outright
    _os.remove(claim)
    with _pytest.raises(S.CommitConflictError):
        S._acquire_claim(path, S.current_snapshot(path))

    # (2) a STALE claim (crashed writer: pointer never advanced) is stolen
    _os.close(_os.open(claim, _os.O_CREAT | _os.O_EXCL | _os.O_WRONLY))
    old = _time.time() - 2 * S._STALE_CLAIM_SECONDS
    _os.utime(claim, (old, old))
    s = S.append_snapshot(
        spark, path, spark.createDataFrame([(3, 30)], base.schema)
    )
    assert s == nxt and S.read_table(spark, path).count() == 3

    # (3) abspath normalization: expire through a "./"-spelled alias of
    # the same table must NOT vacuum live data
    alias = str(tmp_path) + "/./cas"
    rep = S.expire_snapshots(spark, alias, keep_last=100)
    assert rep["files_removed"] == 0
    assert S.read_table(spark, path).count() == 3

    # (4) grace period: a young orphan survives, then falls to cutoff 0
    orphan = path + "/data/youngorphan"
    _os.makedirs(orphan)
    open(orphan + "/part-x.parquet", "wb").close()
    rep = S.expire_snapshots(
        spark, path, keep_last=100, vacuum_older_than_seconds=3600
    )
    assert _os.path.exists(orphan)
    rep = S.expire_snapshots(spark, path, keep_last=100)
    assert rep["files_removed"] >= 1 and not _os.path.exists(orphan)


def test_versioned_table_manifest_stats_prune_files(spark, tmp_path):
    """Round-7 VERDICT item 1, pinned: a table created with stats_cols
    records per-file [min, max] bounds in the manifest; a date-predicate
    read_table(prune=...) plans ONLY the files whose bounds intersect the
    window (checked via inputFiles on the returned plan), returns exactly
    the filtered rows, and read_appends_since prunes the same way. Delete
    files record their key column in the manifest (no schema sniff)."""
    import datetime
    import json as _json
    import os as _os

    from demo_bigdata_spark.sources import snapshots as S

    path = str(tmp_path / "stats")

    def month(m, base):
        rows = [
            (base + i, datetime.date(2024, m, 1 + (i % 27)), f"v{m}")
            for i in range(20)
        ]
        return spark.createDataFrame(rows, "k long, d date, v string")

    S.create_table(spark, path, month(1, 0), stats_cols=["d", "k"])
    S.append_snapshot(spark, path, month(2, 100))
    S.append_snapshot(spark, path, month(3, 200))

    # manifest carries bounds for every data file — one entry per PART
    # FILE (round-8: per-file footer-harvested statistics), spanning the
    # three commit directories
    rows = S._manifest_rows(path, S.current_snapshot(path))
    datas = [r for r in rows if r["kind"] == "data"]
    assert len({r["file"].rsplit("/", 2)[-2] for r in datas}) == 3
    assert all(not _os.path.isdir(r["file"]) for r in datas)
    assert all(
        _json.loads(r["meta"])["bounds"]["d"][0] is not None for r in datas
    )

    # a February window plans exactly ONE of the three file groups
    pruned = S.read_table(
        spark,
        path,
        prune={"d": (datetime.date(2024, 2, 1), datetime.date(2024, 2, 28))},
    )
    dirs = {f.rsplit("/", 2)[-2] for f in pruned.inputFiles()}
    assert len(dirs) == 1
    got = {r.k for r in pruned.collect()}
    assert got == set(range(100, 120))

    # pruning composes with merge-on-read deletes (drop one Feb key)
    S.delete_where(spark, path, "k", F.col("k") == 101)
    pruned2 = S.read_table(
        spark,
        path,
        prune={"d": (datetime.date(2024, 2, 1), datetime.date(2024, 2, 28))},
    )
    assert {r.k for r in pruned2.collect()} == set(range(100, 120)) - {101}
    # the delete file's key column came from the manifest
    mrows = S._manifest_rows(path, S.current_snapshot(path))
    dmeta = [r["meta"] for r in mrows if r["kind"] == "delete"]
    assert dmeta and _json.loads(dmeta[0])["key_col"] == "k"

    # an empty window prunes EVERYTHING and keeps the schema
    none = S.read_table(
        spark,
        path,
        prune={"d": (datetime.date(2030, 1, 1), None)},
    )
    assert none.count() == 0 and set(none.columns) == {"k", "d", "v"}

    # incremental scan prunes by the same bounds: appends since snapshot 1
    # are Feb+Mar files; a k-window covering only March plans one file
    inc = S.read_appends_since(spark, path, 1, prune={"k": (200, None)})
    assert len({f.rsplit("/", 2)[-2] for f in inc.inputFiles()}) == 1
    assert {r.k for r in inc.collect()} == set(range(200, 220))

    # metadata tables: `files` lists every manifest entry in seq order,
    # `history` flags the current snapshot (file counts are per PART FILE)
    tf, jobs = _jobs_in(spark, lambda: S.table_files(spark, path))
    assert jobs == 0  # the frame is built on the driver from the manifest
    trows = tf.collect()
    n_data = sum(1 for r in trows if r["kind"] == "data")
    n_del = sum(1 for r in trows if r["kind"] == "delete")
    assert n_data == len(datas) and n_del >= 1
    th = {r.snapshot: r for r in S.table_history(spark, path).collect()}
    cur = S.current_snapshot(path)
    assert th[cur].is_current and th[cur].n_delete_files == n_del
    assert not th[1].is_current and th[1].n_data_files >= 1


def test_stream_born_table_declares_stats_cols(spark, tmp_path):
    """A table CREATED by the streaming sink can declare stats_cols, so
    pruned reads work on stream-born tables from the first commit."""
    import json as _json

    from demo_bigdata_spark.sources import snapshots as S

    path = str(tmp_path / "sb")
    df = spark.createDataFrame([(1, 5), (2, 6)], "k long, v long")
    S.append_snapshot_epoch(spark, path, df, 0, stats_cols=["k"])
    S.append_snapshot_epoch(spark, path, df.withColumn("k", F.col("k") + 10), 1)
    rows = S._manifest_rows(path, S.current_snapshot(path))
    datas = [r for r in rows if r["kind"] == "data"]
    assert len({r["file"].rsplit("/", 2)[-2] for r in datas}) == 2
    assert all(
        r["meta"] and _json.loads(r["meta"])["bounds"]["k"][0] is not None
        for r in datas
    )
    pr = S.read_table(spark, path, prune={"k": (11, None)})
    assert len({f.rsplit("/", 2)[-2] for f in pr.inputFiles()}) == 1
    assert {r.k for r in pr.collect()} == {11, 12}


def test_versioned_table_rewrite_layout_commit(spark, tmp_path):
    """Round-7 VERDICT item 4, pinned: rewrite_table_layout is Iceberg's
    rewrite_data_files — a layout rewrite committed as an atomic snapshot:
    history gains a rewrite snapshot with zero delete files, pre-rewrite
    time travel is intact, applied-epoch markers survive, and row-group
    skipping on the cluster column IMPROVES across the commit."""
    import random

    from demo_bigdata_spark.sources import snapshots as S
    from demo_bigdata_spark.sources.layout import skipping_report

    rng = random.Random(11)
    rows = [(i, rng.randrange(10_000)) for i in range(8_000)]
    df = spark.createDataFrame(rows, "k long, x long").repartition(8)

    path = str(tmp_path / "rw")
    S.append_snapshot_epoch(spark, path, df, 0)
    S.delete_where(spark, path, "k", F.col("k") < 100)
    pre_snap = S.current_snapshot(path)
    pre_count = S.read_table(spark, path).count()
    assert pre_count == 8_000 - 100

    # shuffled layout: almost every row group overlaps every probe
    data_dirs_pre = sorted(
        d for d in __import__("os").listdir(path + "/data")
    )
    before = skipping_report(
        spark, path + "/data/" + data_dirs_pre[0], "x", [5, 5000, 9990]
    )

    s = S.rewrite_table_layout(spark, path, order_by=["x"], n_files=8)
    assert s == pre_snap + 1
    # history: rewrite snapshot folded the deletes away
    hist = {h["snapshot"]: h for h in S.snapshot_history(spark, path)}
    assert hist[s].get("delete", 0) == 0
    assert S.read_table(spark, path).count() == pre_count
    # pre-rewrite time travel intact (deletes still applied there)
    assert S.read_table(spark, path, snapshot=pre_snap).count() == pre_count
    # epoch markers carried: the stream's epoch 0 still reads as applied
    assert S.append_snapshot_epoch(spark, path, df, 0) is None

    new_dirs = sorted(
        set(__import__("os").listdir(path + "/data")) - set(data_dirs_pre)
    )
    assert len(new_dirs) == 1
    after = skipping_report(
        spark, path + "/data/" + new_dirs[0], "x", [5, 5000, 9990]
    )
    assert after["skipped_frac"] > before["skipped_frac"]
    assert after["skipped_frac"] > 0.5


def test_versioned_table_commit_retry_outlasts_live_contention(spark, tmp_path):
    """Round-8 ADVICE item, pinned: a live winner holds its commit claim
    for the duration of its manifest-write Spark job (hundreds of ms), so
    the optimistic retry loop must ride out that window instead of
    exhausting in ~0.1 s. A foreign claim held for ~0.6 s and then
    released mid-loop must end in a successful commit, not
    CommitConflictError."""
    import os as _os
    import threading
    import time as _time

    from demo_bigdata_spark.sources import snapshots as S

    path = str(tmp_path / "retry")
    S.create_table(spark, path, spark.createDataFrame([(1,)], "k long"))

    claim = S._claim_path(path, S.current_snapshot(path) + 1)
    _os.close(_os.open(claim, _os.O_CREAT | _os.O_EXCL | _os.O_WRONLY))
    t = threading.Timer(0.6, lambda: _os.remove(claim))
    t.start()
    try:
        snap = S.append_snapshot(
            spark, path, spark.createDataFrame([(2,)], "k long")
        )
    finally:
        t.cancel()
    assert snap == 2
    got = {r.k for r in S.read_table(spark, path).collect()}
    assert got == {1, 2}


def test_versioned_table_per_file_stats_prune_inside_commit(spark, tmp_path):
    """Round-8 VERDICT item 1, pinned: manifest statistics are PER PART
    FILE, harvested from parquet footers (no second scan of the data) —
    so pruning works INSIDE one large commit, not just across range-
    disjoint commits. One 8-file commit clustered on k: a narrow k-window
    must plan a strict subset of the commit's files and return exactly
    the matching rows. Timestamp bounds are harvestable too
    (TIMESTAMP_MICROS writer — INT96 carries no footer stats)."""
    import datetime
    import json as _json

    from demo_bigdata_spark.sources import snapshots as S

    path = str(tmp_path / "perfile")
    rows = [
        (i, datetime.datetime(2024, 1, 1) + datetime.timedelta(hours=i), i * 2)
        for i in range(800)
    ]
    df = (
        spark.createDataFrame(rows, "k long, ts timestamp, v long")
        .repartitionByRange(8, "k")
    )
    S.create_table(spark, path, df, stats_cols=["k", "ts"])

    datas = [
        r
        for r in S._manifest_rows(path, 1)
        if r["kind"] == "data"
    ]
    assert len(datas) == 8  # one manifest entry per part file
    for r in datas:
        b = _json.loads(r["meta"])["bounds"]
        assert b["k"][0] is not None and b["ts"][0] is not None

    # a window covering ~1/8 of the key space plans a strict file subset
    pr = S.read_table(spark, path, prune={"k": (100, 199)})
    assert 1 <= len(pr.inputFiles()) <= 3 < len(datas)
    assert {r.k for r in pr.collect()} == set(range(100, 200))

    # timestamp pruning works off the footer-harvested ISO bounds
    lo = datetime.datetime(2024, 1, 22)
    tpr = S.read_table(spark, path, prune={"ts": (lo, None)})
    assert 0 < len(tpr.inputFiles()) < len(datas)
    assert tpr.count() == sum(1 for _, ts, _ in rows if ts >= lo)


def test_versioned_table_footer_stats_fail_open_observable(spark, tmp_path):
    """Round-8 VERDICT item 7, pinned: _footer_meta fails OPEN and
    OBSERVABLY — a corrupted part-file footer records explicit null
    bounds plus a stats_error marker in the manifest (visible via
    table_files), and _may_contain treats null bounds as must-read, so a
    stats-table commit with an unreadable footer still reads correctly
    instead of silently dropping files."""
    import json as _json

    from demo_bigdata_spark.sources import snapshots as S

    # corrupted footer: _footer_meta on a non-parquet path
    meta = S._footer_meta(__file__, ["k", "d"])
    parsed = _json.loads(meta)
    assert parsed["bounds"] == {"k": [None, None], "d": [None, None]}
    assert "stats_error" in parsed
    # null bounds are must-read under ANY predicate
    assert S._may_contain(meta, {"k": (5, 10)}) is True

    # end to end: a table whose commit recorded fail-open metadata still
    # answers pruned reads correctly (row filter does the work)
    path = str(tmp_path / "failopen")
    df = spark.createDataFrame([(1, 5), (2, 6), (3, 7)], "k long, v long")
    S.create_table(spark, path, df, stats_cols=["k"])
    # simulate a legacy/foreign commit whose stats could not be read:
    # rewrite the manifest rows with the fail-open meta
    snap = S.current_snapshot(path)
    entries = [
        (f, kind, e, meta if kind == "data" else m)
        for f, kind, e, m in S._manifest_entries(path, snap)
    ]
    S._commit(path, snap + 1, entries)
    pr = S.read_table(spark, path, prune={"k": (2, None)})
    assert {r.k for r in pr.collect()} == {2, 3}
    tf = [
        r["meta"]
        for r in S.table_files(spark, path).collect()
        if r["kind"] == "data"
    ]
    assert all("stats_error" in _json.loads(m) for m in tf)


def test_binary_stats_non_utf8_fail_open_not_lossy(tmp_path):
    """Round-9 ADVICE: non-UTF8 BINARY footer bounds must fail OPEN, not
    replace-decode — U+FFFD substitution does not preserve byte order, so
    a replace-decoded min can sit ABOVE the true bound and prune a file
    that holds matching rows. _plain now strict-decodes or records None
    (must-read), the same observable posture as stats_error."""
    import json as _json

    import pyarrow as pa
    import pyarrow.parquet as pq

    from demo_bigdata_spark.sources import snapshots as S

    # unit: valid UTF-8 round-trips, invalid records no bound
    assert S._plain("é".encode()) == "é"
    assert S._plain(b"\xff\x10") is None
    assert S._plain(b"ok") == "ok"

    # footer harvest: a parquet file whose binary column min/max are not
    # UTF-8 records null bounds for it => _may_contain always reads it
    f = str(tmp_path / "bin.parquet")
    pq.write_table(
        pa.table({"b": pa.array([b"\xff\x01", b"\xfe\x02"], type=pa.binary())}),
        f,
    )
    meta = S._footer_meta(f, ["b"])
    assert _json.loads(meta)["bounds"]["b"] == [None, None]
    assert S._may_contain(meta, {"b": ("zzz", None)}) is True

    # a mixed file (valid min, invalid max) keeps the decodable side —
    # still conservative, the null side simply never prunes
    f2 = str(tmp_path / "bin2.parquet")
    pq.write_table(
        pa.table({"b": pa.array([b"\xff\x01", b"\x00a"], type=pa.binary())}),
        f2,
    )
    assert _json.loads(S._footer_meta(f2, ["b"]))["bounds"]["b"] == [
        "\x00a",
        None,
    ]
    # ...and _may_contain USES the decodable side: recorded min '\\x00a'
    # proves a hi-bound below it matches nothing (r9 review: per-side
    # checks instead of discarding half-recorded pairs)
    half = _json.dumps({"bounds": {"b": ["\x00a", None]}})
    assert S._may_contain(half, {"b": (None, "\x00")}) is False
    assert S._may_contain(half, {"b": (None, "zzz")}) is True
    assert S._may_contain(half, {"b": ("zzz", None)}) is True  # no max: open


def test_ref_names_cannot_hide_behind_tmp_filter(spark, tmp_path):
    """Round-9 ADVICE (narrowed by round-10 ADVICE): exactly the ref
    names matching the list_refs temp-file filter ('.tmp-' anywhere, or a
    trailing '.tmp') are rejected — such a branch/tag would be created
    yet invisible to retention, so expire_snapshots could drop its head.
    Names that merely CONTAIN '.tmp' (e.g. 'a.tmpb') are visible to
    list_refs and stay legal."""
    import pytest as _pytest

    from demo_bigdata_spark.sources import snapshots as S

    path = str(tmp_path / "tmpref")
    S.create_table(
        spark, path, spark.createDataFrame([(1, "a")], "k long, v string")
    )
    for bad in ("v1.tmp-x", ".tmp", "x.tmp", ".tmp-a"):
        with _pytest.raises(ValueError, match="invalid ref name"):
            S.create_tag(path, bad)
        with _pytest.raises(ValueError, match="invalid ref name"):
            S.create_branch(path, bad)
    # legal dotted names still work and are visible to retention —
    # including ones the pre-r10 blanket '.tmp' substring check refused
    S.create_tag(path, "v1.0")
    S.create_tag(path, "a.tmpb")
    refs = S.list_refs(path)["tag"]
    assert refs["v1.0"] == 1 and refs["a.tmpb"] == 1


def test_versioned_table_bloom_point_lookup_pruning(spark, tmp_path):
    """Round-9 [EXT]: manifest Bloom filters (bloom_cols) prune POINT
    lookups where range bounds cannot — a hash-distributed layout gives
    every file the full [min, max] range, yet prune={k: (v, v)} reads
    exactly the file(s) whose bloom admits v (false positives only widen
    the read, never the result); an absent value plans zero files; range
    predicates and row-level exactness are unchanged; appends/upserts
    record blooms too; a table without bloom_cols fails open."""
    import json as _json

    from demo_bigdata_spark.sources import snapshots as S

    path = str(tmp_path / "bloomtab")
    df = spark.range(2000).select(
        F.col("id").alias("k"), (F.col("id") * 7 % 997).alias("v")
    )
    S.create_table(
        spark, path, df.repartition(8, "k"), stats_cols=["k"], bloom_cols=["k"]
    )
    pr = S.read_table(spark, path, prune={"k": (1234, 1234)})
    assert len(pr.inputFiles()) <= 2 < 8  # 1 true file + rare bloom FP
    assert [(r.k, r.v) for r in pr.collect()] == [(1234, 1234 * 7 % 997)]
    assert S.read_table(spark, path, prune={"k": (10**9, 10**9)}).count() == 0
    # range predicate path untouched by blooms
    assert sorted(
        r.k for r in S.read_table(spark, path, prune={"k": (5, 9)}).collect()
    ) == [5, 6, 7, 8, 9]
    # blooms recorded in the manifest meta and carried by later commits
    metas = [
        _json.loads(r["meta"])
        for r in S.table_files(spark, path).collect()
        if r["kind"] == "data" and r["meta"]
    ]
    assert metas and all("blooms" in m and "k" in m["blooms"] for m in metas)
    S.upsert_snapshot(
        spark,
        path,
        spark.createDataFrame([(1234, -1)], "k long, v long"),
        "k",
    )
    pr2 = S.read_table(spark, path, prune={"k": (1234, 1234)})
    assert [(r.k, r.v) for r in pr2.collect()] == [(1234, -1)]
    # no-bloom table: point lookups fail open (all files), same answers
    plain = str(tmp_path / "plain")
    S.create_table(spark, plain, df.repartition(4, "k"), stats_cols=["k"])
    pp = S.read_table(spark, plain, prune={"k": (77, 77)})
    assert len(pp.inputFiles()) == 4 and pp.count() == 1

    # numeric canonicalization (r9 review): a DOUBLE column's 1.0 and an
    # int probe 1 hash alike — the bloom must never prune what the range
    # condition would match
    dbl = str(tmp_path / "dbl")
    ddf = spark.range(100).select(
        F.col("id").alias("k"), F.col("id").cast("double").alias("x")
    )
    S.create_table(
        spark, dbl, ddf.repartition(4, "k"), stats_cols=["x"], bloom_cols=["x"]
    )
    hit = S.read_table(spark, dbl, prune={"x": (42, 42)})  # int probe
    assert [r.k for r in hit.collect()] == [42]
    assert S._bloom_key(1.0) == S._bloom_key(1) == "1"
    assert S._bloom_key(1.5) == "1.5" and S._bloom_key(True) == "1"
    assert S._bloom_key(b"\xff\x01") is None  # undecodable => no probe
    # r10 ADVICE: past the double-exact range, int and float probes of the
    # same numeric value canonicalize DIFFERENTLY — both fail open (None
    # at build AND probe), never a false absence proof
    assert S._bloom_key(2**60) is None and S._bloom_key(float(2**60)) is None
    assert S._bloom_key(-(2**53)) is None and S._bloom_key(2**53 - 1) == str(2**53 - 1)
    # end-to-end: a bigint column holding 2^60 probed as int or float must
    # never bloom-prune the file that holds it
    big = str(tmp_path / "bigmag")
    bdf = spark.createDataFrame(
        [(1, 2**60), (2, 5)], "k long, x long"
    )
    S.create_table(
        spark, big, bdf.repartition(2, "k"), stats_cols=["x"], bloom_cols=["x"]
    )
    assert [r.k for r in S.read_table(spark, big, prune={"x": (2**60, 2**60)}).collect()] == [1]
    assert [r.k for r in S.read_table(spark, big, prune={"x": (5, 5)}).collect()] == [2]


def test_bloom_build_survives_schema_evolution(tmp_path):
    """r10 ADVICE: a declared bloom column ABSENT from an older file (added
    after schema evolution) must not disable blooms for the file's present
    columns — the projected read intersects with the file's own schema."""
    import base64

    import pyarrow as pa
    import pyarrow.parquet as pq

    from demo_bigdata_spark.sources import snapshots as S

    f = str(tmp_path / "old.parquet")
    pq.write_table(pa.table({"k": [1, 2, 3]}), f)
    blooms = S._bloom_build(f, ["k", "added_later"], 256)
    assert "added_later" not in blooms
    assert "k" in blooms  # present column keeps its filter
    bits = base64.b64decode(blooms["k"])
    m = len(bits) * 8
    present = all(
        bits[h >> 3] & (1 << (h & 7)) for h in S._bloom_hashes("2", m)
    )
    assert present


def test_versioned_table_legacy_dir_manifests_still_read(spark, tmp_path):
    """Backward compatibility: manifests whose data entries are commit
    DIRECTORIES (pre-round-8 layout) still read, diff, vacuum, and carry
    forward next to per-file entries."""
    import os as _os

    from demo_bigdata_spark.sources import snapshots as S

    path = str(tmp_path / "legacy")
    a = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    S.create_table(spark, path, a)

    # hand-commit a LEGACY directory entry (what round-7 wrote)
    d = _os.path.dirname(
        [r["file"] for r in S._manifest_rows(path, 1)][0]
    )
    S._commit(path, 2, [(d, "data", -1, None)])
    assert {r.k for r in S.read_table(spark, path)
            .collect()} == {1, 2}

    # appends on top of the legacy manifest mix file + dir entries
    S.append_snapshot(
        spark, path, spark.createDataFrame([(3, "c")], "k long, v string")
    )
    assert {r.k for r in S.read_table(spark, path).collect()} == {1, 2, 3}
    inc = S.read_appends_since(spark, path, 2)
    assert {r.k for r in inc.collect()} == {3}

    # vacuum keeps data referenced through either entry style
    res = S.expire_snapshots(spark, path, keep_last=1)
    assert {r.k for r in S.read_table(spark, path).collect()} == {1, 2, 3}


_SPARK_MANIFEST_DDL = "file string, kind string, epoch_id long, seq int"


def _spark_manifest(spark, path, snap, entries, with_meta=True):
    """Write a manifest the way Spark-era commits did: a Spark parquet
    directory (part-00000-<uuid>-c000.snappy.parquet + _SUCCESS)."""
    from demo_bigdata_spark.sources import snapshots as S

    rows = [
        (f, k, e, i, m)[: 5 if with_meta else 4]
        for i, (f, k, e, m) in enumerate(entries)
    ]
    ddl = _SPARK_MANIFEST_DDL + (", meta string" if with_meta else "")
    spark.createDataFrame(rows, ddl).coalesce(1).write.mode("overwrite").parquet(
        S._manifest_path(path, snap)
    )


def test_versioned_table_manifest_crash_redo_and_spark_manifests(spark, tmp_path):
    """Manifests are written with pyarrow into a cleared snapshot
    directory: a commit over a crashed writer's Spark-written manifest at
    the same id leaves exactly its own entries (no stale part file read
    twice). Spark-written manifests, with or without the ``meta`` column,
    still read through every reader, and ``table_files`` keeps its column
    names and Spark types."""
    import os as _os

    from demo_bigdata_spark.sources import snapshots as S

    schema = "k long, v string"
    path = str(tmp_path / "redo")
    S.create_table(spark, path, spark.createDataFrame([(1, "a")], schema))
    first = S._manifest_entries(path, 1)
    # a crashed commit left a Spark-written manifest at id 2 that lists
    # snapshot 1's data file twice
    _spark_manifest(spark, path, 2, first + first)
    stale = _os.listdir(S._manifest_path(path, 2))
    assert "_SUCCESS" in stale and any(f.startswith("part-") for f in stale)
    S.append_snapshot(spark, path, spark.createDataFrame([(2, "b")], schema))
    rows = S._manifest_rows(path, 2)
    assert [r["seq"] for r in rows] == [0, 1]
    assert rows[0]["file"] == first[0][0] and rows[1]["file"] != first[0][0]
    left = _os.listdir(S._manifest_path(path, 2))
    assert not any(f.startswith("part-") or f == "_SUCCESS" for f in left)
    assert sorted(r.k for r in S.read_table(spark, path).collect()) == [1, 2]

    # Spark-era table: snapshot 1 without a meta column, snapshot 2 with
    legacy = str(tmp_path / "spark_manifests")
    d1 = S._write_files(spark.createDataFrame([(1, "a")], schema), legacy, "data")
    d2 = S._write_files(spark.createDataFrame([(2, "b")], schema), legacy, "data")
    e1 = [(f, "data", -1, None) for f in d1]
    _spark_manifest(spark, legacy, 1, e1, with_meta=False)
    _spark_manifest(
        spark, legacy, 2, e1 + [(f, "data", 3, '{"bounds": {}}') for f in d2]
    )
    S._swap_pointer(legacy, 2)
    assert S._manifest_rows(legacy, 1)[0]["meta"] is None
    assert sorted(r.k for r in S.read_table(spark, legacy, 1).collect()) == [1]
    assert sorted(r.k for r in S.read_table(spark, legacy).collect()) == [1, 2]
    inc = S.read_appends_since(spark, legacy, 1)
    assert [r.k for r in inc.collect()] == [2]
    ddl = [
        ("file", "string"),
        ("kind", "string"),
        ("epoch_id", "bigint"),
        ("seq", "int"),
        ("meta", "string"),
    ]
    old_tf = S.table_files(spark, legacy, 1)
    assert old_tf.dtypes == ddl
    assert [r.meta for r in old_tf.collect()] == [None]
    # a commit on the Spark-era table writes the new manifest format
    S.append_snapshot(spark, legacy, spark.createDataFrame([(3, "c")], schema))
    assert S.table_files(spark, legacy).dtypes == ddl
    assert S.table_files(spark, path).dtypes == ddl
    assert [r.epoch_id for r in S.table_files(spark, legacy).collect()] == [
        -1,
        3,
        -1,
    ]
    res = S.expire_snapshots(spark, legacy, keep_last=2)
    assert res["snapshots_removed"] == 1
    assert sorted(r.k for r in S.read_table(spark, legacy, 2).collect()) == [1, 2]
    assert sorted(r.k for r in S.read_table(spark, legacy).collect()) == [1, 2, 3]


def test_versioned_table_branches_tags_and_wap(spark, tmp_path):
    """Iceberg refs on the emulated table: branch commits advance only
    their ref (main readers never see staged rows), tags are immutable
    time-travel anchors, fast_forward publishes a staged lineage onto main
    atomically (write-audit-publish), non-ancestor fast-forwards are
    refused, and expire keeps every live ref head."""
    import os as _os

    import pytest as _pytest

    from demo_bigdata_spark.sources import snapshots as S

    path = str(tmp_path / "refs")
    S.create_table(spark, path, spark.createDataFrame([(1, "a")], "k long, v string"))
    S.append_snapshot(spark, path, spark.createDataFrame([(2, "b")], "k long, v string"))
    assert S.current_snapshot(path) == 2

    # tag the published state; stage work on an audit branch
    S.create_tag(path, "v1")
    S.create_branch(path, "audit")
    s3 = S.append_snapshot(
        spark, path, spark.createDataFrame([(3, "c")], "k long, v string"), branch="audit"
    )
    s4 = S.upsert_snapshot(
        spark, path, spark.createDataFrame([(1, "a2")], "k long, v string"),
        "k", branch="audit",
    )
    s5 = S.delete_where(spark, path, "k", F.col("k") == 2, branch="audit")
    assert s3 < s4 < s5
    # main is untouched; the audit read sees the staged lineage
    assert {(r.k, r.v) for r in S.read_table(spark, path).collect()} == {(1, "a"), (2, "b")}
    staged = {(r.k, r.v) for r in S.read_table(spark, path, ref="audit").collect()}
    assert staged == {(1, "a2"), (3, "c")}
    # tag still reads the tagged snapshot
    assert {(r.k, r.v) for r in S.read_table(spark, path, ref="v1").collect()} == {
        (1, "a"),
        (2, "b"),
    }
    refs = S.list_refs(path)
    assert refs["branch"]["audit"] == s5 and refs["tag"]["v1"] == 2

    # a main commit mid-stage makes the branch non-fast-forwardable
    S.append_snapshot(spark, path, spark.createDataFrame([(9, "z")], "k long, v string"))
    with _pytest.raises(ValueError, match="not a fast-forward"):
        S.fast_forward(path, "audit")

    # roll main back to the staged base: now publish succeeds atomically
    S.rollback(path, 2)
    assert S.fast_forward(path, "audit") == s5
    assert {(r.k, r.v) for r in S.read_table(spark, path).collect()} == staged

    # refs metadata table mirrors the state; parents recorded
    m = {r["name"]: r for r in S.table_refs(spark, path).collect()}
    assert m["main"]["snapshot"] == s5 and m["audit"]["snapshot"] == s5
    assert m["v1"]["kind"] == "tag" and m["v1"]["snapshot"] == 2
    assert m["audit"]["parent"] == s4

    # duplicate ref names lose loudly; tags never advance (no API)
    with _pytest.raises(FileExistsError):
        S.create_branch(path, "audit")
    S.drop_ref(path, "audit")
    assert "audit" not in S.list_refs(path)["branch"]

    # expire keeps live ref heads: the tag's snapshot 2 survives keep_last=1
    rep = S.expire_snapshots(spark, path, keep_last=1)
    assert rep["snapshots_removed"] >= 1
    assert _os.path.exists(S._manifest_path(path, 2))
    assert {(r.k, r.v) for r in S.read_table(spark, path, ref="v1").collect()} == {
        (1, "a"),
        (2, "b"),
    }
    # and the published main still reads
    assert {(r.k, r.v) for r in S.read_table(spark, path).collect()} == staged


def test_versioned_table_branch_commit_claims_and_global_ids(spark, tmp_path):
    """Branch commit concurrency: (1) snapshot ids are table-global — a
    branch commit and a later main commit never collide on a manifest
    directory; (2) a fresh foreign claim on the branch's (parent+1) slot
    blocks a direct branch _commit with CommitConflictError, while main's
    claim file for the same slot number is independent."""
    import os as _os

    import pytest as _pytest

    from demo_bigdata_spark.sources import snapshots as S

    path = str(tmp_path / "gids")
    S.create_table(spark, path, spark.createDataFrame([(1,)], "k long"))
    S.create_branch(path, "b")
    # two branch commits allocate ids 2 and 3
    S.append_snapshot(spark, path, spark.createDataFrame([(2,)], "k long"), branch="b")
    S.append_snapshot(spark, path, spark.createDataFrame([(3,)], "k long"), branch="b")
    assert S.list_refs(path)["branch"]["b"] == 3
    # main head is still 1; its next commit must NOT overwrite manifest 2
    s = S.append_snapshot(spark, path, spark.createDataFrame([(9,)], "k long"))
    assert s == 4, f"main allocated {s}, clobbering a branch manifest"
    assert {r.k for r in S.read_table(spark, path).collect()} == {1, 9}
    assert {r.k for r in S.read_table(spark, path, ref="b").collect()} == {1, 2, 3}

    # foreign fresh claim on b's slot (parent 3 -> slot 4) blocks b-commits
    claim = S._claim_path(path, 4, "b")
    _os.close(_os.open(claim, _os.O_CREAT | _os.O_EXCL | _os.O_WRONLY))
    with _pytest.raises(S.CommitConflictError):
        S._commit(path, 4, [("", "epoch_marker", 0, None)], branch="b")
    _os.remove(claim)
    # ... and after release the branch commits fine, to a fresh global id
    s2 = S.append_snapshot(spark, path, spark.createDataFrame([(5,)], "k long"), branch="b")
    assert s2 == 5
    assert {r.k for r in S.read_table(spark, path, ref="b").collect()} == {1, 2, 3, 5}


def test_versioned_table_position_deletes(spark, tmp_path):
    """Iceberg position deletes: delete_where_positions records exact
    (file, row index) pairs; reads anti-join them with no key column
    involved, equality and position deletes compose, time travel still
    shows the rows, and replace-compaction folds the delete files away."""
    from demo_bigdata_spark.sources import snapshots as S

    path = str(tmp_path / "posdel")
    S.create_table(
        spark,
        path,
        spark.createDataFrame([(1, "a"), (2, "b"), (2, "b2")], "k long, v string"),
    )
    S.append_snapshot(
        spark, path, spark.createDataFrame([(3, "c"), (4, "d")], "k long, v string")
    )

    # delete rows by PREDICATE but through positions — note k=2 has TWO
    # rows; a key-equality delete could not remove just one of them, a
    # position delete can (delete only v='b2')
    s = S.delete_where_positions(spark, path, F.col("v") == "b2")
    got = {(r.k, r.v) for r in S.read_table(spark, path).collect()}
    assert got == {(1, "a"), (2, "b"), (3, "c"), (4, "d")}
    # time travel: the pre-delete snapshot still shows the row
    assert (2, "b2") in {
        (r.k, r.v) for r in S.read_table(spark, path, snapshot=s - 1).collect()
    }

    # compose with an equality delete on another column
    S.delete_where(spark, path, "k", F.col("k") == 3)
    got = {(r.k, r.v) for r in S.read_table(spark, path).collect()}
    assert got == {(1, "a"), (2, "b"), (4, "d")}

    # a second position delete on the current view
    S.delete_where_positions(spark, path, F.col("k") == 4)
    got = {(r.k, r.v) for r in S.read_table(spark, path).collect()}
    assert got == {(1, "a"), (2, "b")}

    # metadata table exposes the posdelete entries
    kinds = {
        r["kind"] for r in S.table_files(spark, path).collect()
    }
    assert "posdelete" in kinds and "delete" in kinds

    # replace-compaction folds every MOR delete away
    S.append_snapshot(spark, path, S.read_table(spark, path), replace=True)
    m = S.table_files(spark, path)
    assert {r["kind"] for r in m.collect()} == {"data"}
    got = {(r.k, r.v) for r in S.read_table(spark, path).collect()}
    assert got == {(1, "a"), (2, "b")}

    # expire + vacuum: live posdelete files of retained snapshots survive;
    # after full expiry the folded table still reads
    S.expire_snapshots(spark, path, keep_last=1)
    got = {(r.k, r.v) for r in S.read_table(spark, path).collect()}
    assert got == {(1, "a"), (2, "b")}


def test_versioned_table_cow_delete_rewrites_only_pruned_files(spark, tmp_path):
    """Copy-on-write delete (delete_where_cow): with a prune predicate the
    rewrite touches ONLY files whose manifest bounds intersect it — every
    other data file is carried forward by manifest entry (same physical
    path), no delete file is added, time travel still shows the rows, and
    existing MOR deletes are folded into the rewritten files while still
    applying to carried-forward ones."""
    from demo_bigdata_spark.sources import snapshots as S

    path = str(tmp_path / "cow")
    df = (
        spark.range(800)
        .select(
            F.col("id").alias("k"),
            (F.col("id") % 10).alias("grp"),
            F.concat(F.lit("v"), F.col("id")).alias("v"),
        )
        .repartitionByRange(8, "k")
    )
    S.create_table(spark, path, df, stats_cols=["k"])
    # an equality MOR delete that hits BOTH the future-candidate range and
    # the carried-forward range: grp == 7 (k = 7, 17, ..., 797)
    S.delete_where(spark, path, "grp", F.col("grp") == 7)

    before = {
        r["file"]: r["kind"]
        for r in S.table_files(spark, path).collect()
    }
    data_before = {f for f, k in before.items() if k == "data"}
    assert len(data_before) == 8

    # COW-delete even k within [100, 199] — exactly one file's bounds
    snap = S.delete_where_cow(
        spark,
        path,
        (F.col("k") % 2 == 0) & F.col("k").between(100, 199),
        prune={"k": (100, 199)},
    )
    assert snap is not None

    after = {
        r["file"]: r["kind"] for r in S.table_files(spark, path).collect()
    }
    data_after = {f for f, k in after.items() if k == "data"}
    rewritten = data_before - data_after
    added = data_after - data_before
    carried = data_before & data_after
    # only the files that may contain [100, 199] were rewritten
    assert 1 <= len(rewritten) <= 3
    assert added and len(carried) == len(data_before) - len(rewritten)
    # no new delete entries; the old equality delete file is still there
    assert sum(1 for k in after.values() if k == "delete") == 1

    expected = {
        i for i in range(800)
        if i % 10 != 7 and not (100 <= i <= 199 and i % 2 == 0)
    }
    assert {r.k for r in S.read_table(spark, path).collect()} == expected

    # the rewritten files are MOR-resolved: reading ONLY them yields no
    # grp==7 rows even though the delete file predates them in seq order
    only_new = spark.read.parquet(*sorted(added))
    assert only_new.filter(F.col("grp") == 7).count() == 0
    # carried-forward files still rely on the delete file (raw scan has
    # grp==7 rows; the table read suppresses them)
    raw_carried = spark.read.parquet(*sorted(carried))
    assert raw_carried.filter(F.col("grp") == 7).count() > 0

    # time travel: the pre-COW snapshot still shows the deleted rows
    prev = {r.k for r in S.read_table(spark, path, snapshot=snap - 1).collect()}
    assert prev == {i for i in range(800) if i % 10 != 7}

    # planning no-op: a prune window outside every file's bounds commits
    # nothing and leaves the head unchanged
    assert (
        S.delete_where_cow(
            spark, path, F.col("k") > 10_000, prune={"k": (10_000, None)}
        )
        is None
    )
    assert S.current_snapshot(path) == snap

    # NULL predicate semantics: rows where the condition is NULL survive
    # (SQL DELETE deletes only WHERE TRUE)
    S.append_snapshot(
        spark,
        path,
        spark.createDataFrame(
            [(900, None, "n1"), (901, 1, "n2")], "k long, grp long, v string"
        ),
    )
    S.delete_where_cow(spark, path, F.col("grp") == 1, prune={"k": (900, 901)})
    kept = {
        r.k for r in S.read_table(spark, path, prune={"k": (900, 901)}).collect()
    }
    assert kept == {900}


def test_versioned_table_cow_delete_aborts_on_concurrent_delete(
    spark, tmp_path, monkeypatch
):
    """Iceberg's conflicting-delete validation: an equality delete that
    commits BETWEEN the COW rewrite's snapshot read and its commit would
    apply to the rewritten candidate files but not to their replacements
    (seq order), silently resurrecting its rows — the commit must abort
    loudly instead."""
    import pytest as _pytest

    from demo_bigdata_spark.sources import snapshots as S

    path = str(tmp_path / "cowconflict")
    S.create_table(
        spark,
        path,
        spark.createDataFrame([(i, i * 10) for i in range(6)], "k long, v long"),
    )

    orig = S._retrying_commit

    def hijack(spark_, p, build, **kw):
        # restore first so the interleaved MOR delete commits normally,
        # then hand the COW build to the real commit loop
        monkeypatch.setattr(S, "_retrying_commit", orig)
        S.delete_where(spark_, p, "k", F.col("k") == 1)
        return orig(spark_, p, build, **kw)

    monkeypatch.setattr(S, "_retrying_commit", hijack)
    with _pytest.raises(RuntimeError, match="concurrent delete"):
        S.delete_where_cow(spark, path, F.col("k") >= 4)
    # the interleaved delete's effect survives; the COW never committed
    assert {r.k for r in S.read_table(spark, path).collect()} == {0, 2, 3, 4, 5}

"""Structured Streaming tier: source -> transform -> sink, plus [EXT]
event-time semantics the reference lacks (watermarks, windows, streaming dedup).

The reference's stream is a stateless map/filter chain from Kafka into an
Iceberg append sink with a 2 s micro-batch trigger and no watermarks
(reference: services/streaming-service/api.py:295-318, T1-T9 in SURVEY.md
§2.6). The same chain here is a *function of any streaming DataFrame* — the
transform logic is shared verbatim with batch (operators/ingest.py), which is
the point of Structured Streaming.

Test strategy: file/parquet micro-batch source + memory or foreachBatch sink,
``processAllAvailable()`` for synchronous determinism. Kafka/Iceberg variants
are config-only changes (format + options) and need their jars — gated behind
options, not in the correctness path.

At 100 TB/day: watermark bounds state; streaming agg state lives in the state
store keyed by (window, group) — partition count = shuffle partitions, sized
so per-task state fits memory; dropDuplicates state is bounded by the
watermark horizon.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from demo_bigdata_spark.schemas import EVENTS_SCHEMA
from demo_bigdata_spark.sources.snapshot_cdc import _strip_uri


def read_events_stream(
    spark, path: str, max_files_per_trigger: int = 1
) -> DataFrame:
    """Deterministic file-based streaming source over the events schema
    (test stand-in for the Kafka source S1 — reference api.py:295-302; the
    Kafka variant is readStream.format('kafka') + the same downstream)."""
    return (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )


def read_kafka_stream(spark, bootstrap: str, topic: str) -> DataFrame:
    """Kafka source (reference S1 verbatim: subscribe/latest/failOnDataLoss).
    Requires spark-sql-kafka jars on the classpath — not in the test tier."""
    return (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap)
        .option("subscribe", topic)
        .option("startingOffsets", "latest")
        .option("failOnDataLoss", "false")
        .load()
    )


def dedup_stream(df: DataFrame, id_col: str = "event_id", ts_col: str = "ts", watermark: str = "10 minutes") -> DataFrame:
    """[EXT] exactly-once-per-key on an at-least-once stream (reference T3
    had no dedup — replays duplicate into the sink).

    Streaming path uses ``dropDuplicatesWithinWatermark`` (r9): plain
    ``dropDuplicates([id])`` EVICTS NO STATE when the dedup key excludes
    the event-time column — the watermark is ignored and the id set grows
    forever, the classic unbounded-state trap this Spark 3.5 operator
    exists to close. WithinWatermark keys eviction off the watermark
    horizon while still deduping on id alone; the guarantee narrows to
    duplicates arriving within the watermark delay of the first
    occurrence — exactly the at-least-once replay window that produces
    them. Batch inputs (the oracle path) keep exact dropDuplicates."""
    wm = df.withWatermark(ts_col, watermark)
    if df.isStreaming:
        return wm.dropDuplicatesWithinWatermark([id_col])
    return wm.dropDuplicates([id_col])


def url_dedup_stream(
    df: DataFrame,
    url_col: str = "url",
    ts_col: str = "ts",
    watermark: str = "10 minutes",
    id_col: str | None = None,
) -> DataFrame:
    """[EXT] streaming URL-level dedup — the incremental-crawl twin of
    ``text.url_dedup``: canonicalize (``text.canonical_url``: case, default
    ports, fragments, tracking params, query-key sort) then keep the first
    arrival per canonical url, with state evicted at the watermark horizon
    (``dropDuplicatesWithinWatermark`` — the same bounded-state reasoning
    as :func:`dedup_stream`; a crawl frontier re-emitting a url within the
    replay window is exactly the duplicate this collapses).

    Semantics difference vs the batch operator, stated: a stream keeps the
    FIRST ARRIVAL — order is the arrival order, and re-crawls separated by
    more than the watermark delay pass through (a re-crawl policy, not a
    bug: content may have changed). Batch inputs get a DETERMINISTIC
    survivor (r11 ADVICE — the old dropDuplicates fallback kept a
    plan/partition-dependent arbitrary row): lowest ``id_col`` when given
    (delegates to ``text.url_dedup``, the exact-dedup convention), else
    earliest ``ts_col`` via a row_number window — the batch reading of
    "first arrival"; ties on (canonical_url, ts) resolve by raw url bytes,
    then by every remaining sortable column (r12 ADVICE: two rows
    identical in url and ts but differing in payload — e.g. different doc
    ids — would otherwise be picked arbitrarily), so the survivor is
    arrival- and partitioning-independent whenever rows differ in ANY
    sortable column. Rows identical in every sortable column are
    interchangeable by definition; columns whose type CONTAINS a map
    anywhere (map, array<map>, struct with a map field, ...) are excluded
    from the tiebreak (Spark cannot order maps) and are the one documented
    gap — pass ``id_col`` when such a column is load-bearing.
    """
    from demo_bigdata_spark.operators.text import canonical_url, url_dedup

    if not df.isStreaming:
        if id_col is not None:
            return url_dedup(df, url_col=url_col, id_col=id_col)
        from pyspark.sql.types import ArrayType, MapType, StructType
        from pyspark.sql.window import Window

        def _orderable(dt) -> bool:
            if isinstance(dt, MapType):
                return False
            if isinstance(dt, ArrayType):
                return _orderable(dt.elementType)
            if isinstance(dt, StructType):
                return all(_orderable(f.dataType) for f in dt.fields)
            return True

        keyed = df.withColumn("canonical_url", canonical_url(url_col))
        extras = [
            F.col(f.name)
            for f in df.schema.fields
            if f.name not in (url_col, ts_col) and _orderable(f.dataType)
        ]
        w = Window.partitionBy("canonical_url").orderBy(
            F.col(ts_col), F.col(url_col), *extras
        )
        return (
            keyed.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
    keyed = df.withColumn("canonical_url", canonical_url(url_col)).withWatermark(
        ts_col, watermark
    )
    return keyed.dropDuplicatesWithinWatermark(["canonical_url"])


def windowed_counts(
    df: DataFrame,
    ts_col: str = "ts",
    window: str = "1 hour",
    slide: str | None = None,
    watermark: str = "30 minutes",
    group_col: str = "event_type",
) -> DataFrame:
    """[EXT] event-time tumbling/sliding window aggregation with late-data
    handling — the streaming twin of analytics.hourly_series (A4). Works on
    batch DataFrames too (F.window is batch-compatible), which is how the
    oracle checks it."""
    win = F.window(ts_col, window, slide) if slide else F.window(ts_col, window)
    streaming = df.isStreaming
    if streaming:
        df = df.withWatermark(ts_col, watermark)
    return (
        df.groupBy(win.alias("w"), group_col)
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            group_col,
            "n",
            "sum_value",
        )
    )


def session_windows(
    df: DataFrame, ts_col: str = "ts", gap: str = "30 minutes", key_col: str = "user_id",
    watermark: str = "1 hour",
) -> DataFrame:
    """[EXT] session windows (gap-based). Streaming: F.session_window + state
    store. The batch twin used for oracle checking is the classic
    lag/cum-sum sessionization (operators/analytics has no session op in the
    reference — this is new surface)."""
    if df.isStreaming:
        df = df.withWatermark(ts_col, watermark)
    return (
        df.groupBy(F.session_window(ts_col, gap).alias("w"), key_col)
        .agg(F.count("*").alias("n_events"))
        .select(
            key_col,
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            F.date_format("w.end", "yyyy-MM-dd HH:mm:ss").alias("session_end"),
            "n_events",
        )
    )


def stream_stream_join(
    left: DataFrame,
    right: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    watermark: str = "1 hour",
    max_lag: str = "30 minutes",
    how: str = "inner",
) -> DataFrame:
    """[EXT] stream-stream join: pair each left event with right events
    from the same key within ``max_lag`` BEFORE it.

    Both sides are watermarked and the join carries a time-range condition —
    that bound is what lets Spark evict state (unbounded stream-stream joins
    would buffer both streams forever). Works identically on batch inputs
    (the oracle path). State per key is bounded by watermark + max_lag.

    The full outer matrix is supported (round-9 VERDICT item 3).
    ``how="left_outer"`` emits UNMATCHED left rows with null right columns
    — but only once the watermark passes the row's join window (the row
    provably cannot match anymore), which is exactly when its state
    evicts; Spark runs a no-data micro-batch on watermark advance to
    flush them. ``how="right_outer"`` mirrors: an unmatched right row
    null-pads the left columns once the LEFT watermark passes
    ``r_ts + max_lag`` (no future left row can reach back to it, since
    the range condition bounds ``l_ts`` to ``[r_ts, r_ts + max_lag]``).
    ``how="full_outer"`` flushes both sides. ``how="left_semi"`` emits
    each matched left row once, no right columns. In every case the flush
    point IS the state-eviction point — the time-range condition gives
    Spark a state watermark for each side, so outer results cost no
    extra state over the inner join (progress-asserted in tests). The
    late-emission lag is the price of correct outer results on unbounded
    inputs (test-pinned vs the batch outer joins on the same fixture)."""
    lt = left.withColumnRenamed(ts_col, "l_ts").withWatermark(
        "l_ts", watermark
    ) if left.isStreaming else left.withColumnRenamed(ts_col, "l_ts")
    rt = (
        right.select(
            F.col(key_col).alias("r_key"),
            F.col(ts_col).alias("r_ts"),
            F.col("value").alias("r_value"),
        )
    )
    if right.isStreaming:
        rt = rt.withWatermark("r_ts", watermark)
    cond = (
        (lt[key_col] == rt["r_key"])
        & (rt["r_ts"] <= lt["l_ts"])
        & (rt["r_ts"] >= lt["l_ts"] - F.expr(f"INTERVAL {max_lag}"))
    )
    return lt.join(rt, cond, how)


def running_user_totals(df: DataFrame, key_col: str = "user_id") -> DataFrame:
    """[EXT] custom stateful streaming operator: per-key running event count
    and value total, via ``applyInPandasWithState`` (Arrow-batched, state in
    the state store).

    This is the escape hatch for operators Structured Streaming lacks —
    arbitrary per-key state with update-mode emission. State here is two
    scalars per key, so the state store stays tiny at any key cardinality;
    the shuffle is one hash partition by key per micro-batch.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def _update(key, pdfs, state: GroupState):
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n": [n], "total": [round(total, 2)]}
        )

    return df.groupBy(key_col).applyInPandasWithState(
        _update,
        outputStructType="user_id long, n long, total double",
        stateStructType="n long, total double",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def running_user_totals_tws(df: DataFrame, key_col: str = "user_id") -> DataFrame:
    """[EXT] ``running_user_totals`` on the Spark 4.x successor API,
    ``transformWithStateInPandas``: typed per-key ValueState, explicit
    processor lifecycle, and (unlike GroupState) composable state variables
    and timers for richer operators later.

    Requires the RocksDB state store (a transformWithState constraint) —
    set here on the session so callers don't have to know; RocksDB is also
    the right answer at scale (state spills to disk + changelog
    checkpointing instead of JVM-heap HDFSBackedStateStore).

    Environment note: the worker-side state protocol needs ``google.protobuf``
    (ships with a full pyspark[sql] install). Where it's absent the query
    fails at start; ``running_user_totals`` (applyInPandasWithState) is the
    dependency-free fallback with identical output.
    """
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )
    from pyspark.sql.types import DoubleType, LongType, StructField, StructType

    spark = df.sparkSession
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )

    state_schema = StructType(
        [StructField("n", LongType()), StructField("total", DoubleType())]
    )

    class RunningTotals(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._totals = handle.getValueState("totals", state_schema)

        def handleInputRows(self, key, rows, timerValues):
            n, total = self._totals.get() if self._totals.exists() else (0, 0.0)
            for pdf in rows:
                n += len(pdf)
                total += float(pdf["value"].sum())
            self._totals.update((n, total))
            yield pd.DataFrame({"user_id": [key[0]], "n": [n], "total": [round(total, 2)]})

        def close(self) -> None:
            pass

    return df.groupBy(key_col).transformWithStateInPandas(
        statefulProcessor=RunningTotals(),
        outputStructType="user_id long, n long, total double",
        outputMode="Update",
        timeMode="None",
    )


def _start_fold(
    df: DataFrame,
    checkpoint: str,
    trigger_seconds: int,
    fold,
    output_mode: str = "append",
) -> StreamingQuery:
    """Start ``df`` as the reference's micro-batch sink (S2: api.py:312-318):
    ``fold(batch_df, epoch_id)`` runs once per micro-batch through
    foreachBatch, with a checkpoint and a ``trigger_seconds`` processingTime
    trigger. The one stream starter every sink and fold here uses."""
    return (
        df.writeStream.outputMode(output_mode)
        .foreachBatch(fold)
        .option("checkpointLocation", checkpoint)
        .trigger(processingTime=f"{trigger_seconds} seconds")
        .start()
    )


def write_partitioned_stream(
    df: DataFrame,
    path: str,
    checkpoint: str,
    trigger_seconds: int = 2,
) -> StreamingQuery:
    """Streaming sink: append-mode partitioned parquet via foreachBatch,
    mirroring the reference's Iceberg append sink (S2: api.py:312-318,
    2 s processingTime trigger) without the Iceberg dependency. foreachBatch
    reuses the batch writer, giving the same event-date partitioning."""
    from demo_bigdata_spark.sources.catalog import write_partitioned

    def _write(batch_df: DataFrame, epoch_id: int) -> None:
        write_partitioned(batch_df, path, ts_col="ts", mode="append")

    return _start_fold(df, checkpoint, trigger_seconds, _write)


def write_upsert_stream(
    df: DataFrame,
    path: str,
    checkpoint: str,
    key_cols: list[str],
    trigger_seconds: int = 2,
) -> StreamingQuery:
    """[EXT] streaming upsert sink: each micro-batch MERGEs into the keyed
    target via foreachBatch (last-write-wins within the batch by arrival),
    so replayed/updated keys overwrite instead of append — the CDC
    materialization the plain append sink can't give.

    Parquet has no row-level MERGE, so the emulation rewrites the target
    (read -> anti-join -> union -> overwrite) per batch; on Delta/Iceberg
    the identical foreachBatch body becomes a metadata-level MERGE INTO and
    the rewrite disappears. foreachBatch is at-least-once: replaying a batch
    re-MERGEs the same keys, so the sink stays idempotent — the
    exactly-once-per-key contract lives in the data, not the delivery.
    """
    from demo_bigdata_spark.operators.relational import merge_upsert

    spark = df.sparkSession

    def _merge(batch_df: DataFrame, epoch_id: int) -> None:
        deduped = batch_df.dropDuplicates(key_cols)
        # only a missing target is a first batch: any other read or merge
        # failure fails the micro-batch and leaves the target as it was
        target = _read_parquet_if_exists(spark, path)
        merged = deduped if target is None else merge_upsert(target, deduped, key_cols)
        # materialize before overwrite (the source of the write is the path
        # being overwritten); localCheckpoint cuts the lineage safely
        merged.localCheckpoint(eager=True).write.mode("overwrite").parquet(path)

    return _start_fold(df, checkpoint, trigger_seconds, _merge, "update")


def _read_parquet_if_exists(spark, path: str) -> DataFrame | None:
    """Read ``path``, or return None iff the path does not exist yet.

    The distinction is load-bearing for the upsert sink
    (:func:`write_upsert_stream`), the one caller: a bare ``except
    Exception`` would treat ANY read failure (transient FS error, corrupt
    footer mid-write, permissions) as "first batch" and then overwrite the
    target with only the current micro-batch — silently discarding every
    merged row. A missing path is seen on the driver
    before Spark is asked (no ``FileNotFoundException`` WARN); of Spark's
    error conditions only UNABLE_TO_INFER_SCHEMA (the directory exists but
    holds no parquet footers — e.g. created empty by a crashed first write;
    mapping it to "failed" would permanently fail every micro-batch retry)
    and PATH_NOT_FOUND (the path vanished after the check) map to None.
    Everything else propagates so foreachBatch fails the micro-batch and
    Structured Streaming retries it.
    """
    from pyspark.errors import AnalysisException

    if not os.path.exists(_strip_uri(path)):
        return None
    _NO_STATE = ("PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA")
    try:
        return spark.read.parquet(path)
    except AnalysisException as e:
        cond = None
        for probe in ("getCondition", "getErrorClass"):
            fn = getattr(e, probe, None)
            if fn is not None:
                try:
                    cond = fn()
                except Exception:
                    cond = None
                if cond:
                    break
        if cond in _NO_STATE or (
            cond is None and any(c in str(e) for c in _NO_STATE)
        ):
            return None
        raise


# --- The epoch ledger ---------------------------------------------------------
#
# Every exactly-once fold runs through :func:`fold_epoch`: it writes its
# epoch's rows into the table's own ``epoch_id=<k>`` partition
# (:func:`write_epoch_partition`) and then commits the epoch to a ledger
# beside the table (:func:`ledger_path`). The ledger is a directory with one
# small parquet file per committed epoch, written and read on the driver
# with pyarrow — no Spark job. The functions below are the only code that
# names or touches it.


def ledger_path(table: str) -> str:
    """The epoch ledger of the fold table at ``table``, a directory beside
    it; folds commit there and committed views of the table read it."""
    return table + "_epochs"


def committed_epochs(epochs_path: str) -> frozenset[int]:
    """The epoch ids committed in the ledger at ``epochs_path``, read on
    the driver; empty when the ledger does not exist yet. The directory
    read skips ``_``/``.``-prefixed names, so a ledger Spark wrote
    (``part-*`` files, ``_SUCCESS``, ``.crc``) reads the same as one
    :func:`commit_epoch` wrote, and a temp file left by a crashed commit
    is never read."""
    import pyarrow.dataset as pads

    local = _strip_uri(epochs_path)
    if not os.path.isdir(local):
        return frozenset()
    ledger = pads.dataset(local, format="parquet")
    if not ledger.files:
        return frozenset()
    return frozenset(ledger.to_table(columns=["epoch_id"])["epoch_id"].to_pylist())


def epoch_already_applied(spark, epochs_path: str, epoch_id: int) -> bool:
    """True iff ``epoch_id`` is committed in the ledger at ``epochs_path`` —
    the idempotence check every exactly-once fold performs first."""
    return int(epoch_id) in committed_epochs(epochs_path)


def commit_epoch(spark, epochs_path: str, epoch_id: int) -> None:
    """Commit ``epoch_id``: the write that makes an epoch's rows visible to
    :func:`committed_view`. Always called AFTER the data write. The epoch's
    ledger file lands through a temp file and ``os.replace`` on the local
    warehouse (the snapshot pointer's commit), so the epoch is either
    committed or not; a crash before it leaves only uncommitted rows, which
    no reader sees and the deterministic replay rewrites. Recommitting an
    epoch replaces its file with the same content."""
    import pyarrow as pa

    from demo_bigdata_spark.sources.snapshots import write_parquet_atomic

    local = _strip_uri(epochs_path)
    os.makedirs(local, exist_ok=True)
    write_parquet_atomic(
        pa.table({"epoch_id": pa.array([int(epoch_id)], pa.int64())}),
        os.path.join(local, f"epoch-{int(epoch_id)}.parquet"),
    )


def fold_epoch(spark, table: str, epoch_id: int, write) -> None:
    """Apply one epoch of an exactly-once fold on ``table``: return at once
    when the table's ledger already holds ``epoch_id``, else run ``write()``
    and then :func:`commit_epoch`. A ``write`` that raises commits nothing,
    so the micro-batch's retry runs it again; a crash between ``write`` and
    the commit leaves only uncommitted rows, which the replay rewrites."""
    epochs_path = ledger_path(table)
    if epoch_already_applied(spark, epochs_path, epoch_id):
        return
    write()
    commit_epoch(spark, epochs_path, epoch_id)


def epoch_layout(path: str) -> bool | None:
    """Whether the table at ``path`` keeps one ``epoch_id=<k>`` partition
    per epoch, judged on the driver (no Spark job) from the first data file
    a sorted directory walk finds: True when that file sits under an
    ``epoch_id=<k>`` directory at any depth, False when it does not (a
    batch build, or a fold table of the older flat-append layout), None
    when ``path`` holds no data file yet. ``_``/``.``-prefixed names
    (``_SUCCESS``, ``.crc``, Spark's staging directories) are skipped. A
    directory's own files are seen before its subdirectories, so data
    files at the root of an epoch-partitioned table read as flat."""
    root = _strip_uri(path)
    for d, dirs, files in os.walk(root):
        dirs[:] = sorted(n for n in dirs if not n.startswith(("_", ".")))
        if any(not n.startswith(("_", ".")) for n in files):
            rel = os.path.relpath(d, root).split(os.sep)
            return any(n.startswith("epoch_id=") for n in rel)
    return None


def _require_epoch_layout(path: str) -> None:
    """Raise when the fold table at ``path`` is of the flat-append layout:
    its replay copies would be read twice, since readers keep no dedup."""
    if epoch_layout(path) is False:
        raise ValueError(
            f"{path} holds data files of the flat-append layout; this table "
            "keeps one epoch_id=<k> partition per epoch. "
            f"Move {path} and {ledger_path(path)} aside and fold the batches again."
        )


def committed_view(
    spark, rows_path: str, epochs_path: str, schema: str
) -> DataFrame:
    """The committed rows of a table that exactly-once folds write with
    :func:`write_epoch_partition`: a read with the declared ``schema``
    (DDL; columns come back in its order), filtered to the epochs committed
    when the view is built. That set is a plan-time literal, so a later
    commit never changes a view already built, and the filter is a
    partition filter that prunes uncommitted epochs. Before the first
    commit the view is empty, with ``schema``. Raises ValueError on a table
    of the flat-append layout.

    Exactly once: a replay of an uncommitted epoch replaces that epoch's
    partition, and a committed epoch is never rewritten (every fold checks
    :func:`epoch_already_applied` first), so the view holds each epoch's
    rows once and needs no dedup."""
    _require_epoch_layout(rows_path)
    empty = spark.createDataFrame([], schema)
    committed = committed_epochs(epochs_path)
    if not committed or not os.path.isdir(_strip_uri(rows_path)):
        return empty
    return (
        spark.read.schema(empty.schema)
        .parquet(rows_path)
        .filter(F.col("epoch_id").isin(sorted(committed)))
        .select(*empty.columns)
    )


committed_view_epoch_partitioned = committed_view


def live_or_built(spark, table: str, read_committed) -> DataFrame:
    """An index table as its lifecycle reads it. A table whose data files
    sit in ``epoch_id=<k>`` partitions is maintained by a fold and is read
    through ``read_committed()``, its committed view (empty before the
    first commit), and so is one with no data file yet; a flat table is a
    batch build, read as it is. The choice rests on the layout
    (:func:`epoch_layout`), not on the ledger, so rows written before
    their epoch's commit are never served."""
    if epoch_layout(table) is False:
        return spark.read.parquet(table)
    return read_committed()


def write_epoch_partition(
    part: DataFrame, path: str, epoch_id: int, partition_by: tuple[str, ...] = ()
) -> None:
    """Write one epoch's rows as the table's ``epoch_id=<k>`` partition,
    the one way an exactly-once fold writes. ``part`` gets the literal
    ``epoch_id`` and is written to the table root with a dynamic partition
    overwrite, partitioned by ``(*partition_by, "epoch_id")``: a table with
    an inner partition column is laid out ``<col>=<v>/epoch_id=<k>``, so a
    view lists one directory level of buckets, not one per epoch. Only the
    partitions ``part`` writes are replaced, so a replay of an uncommitted
    epoch replaces its own rows and leaves every other epoch alone. A
    ``part`` whose plan reads the partition it replaces must be pinned by
    the caller. Raises ValueError on a table of the flat-append layout."""
    _require_epoch_layout(path)
    (
        part.withColumn("epoch_id", F.lit(int(epoch_id)).cast("long"))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*partition_by, "epoch_id")
        .parquet(path)
    )


def combine_hourly_partial(
    spark, path: str, batch_df: DataFrame, epoch_id: int, ts_col: str = "ts"
) -> None:
    """Fold one micro-batch's hourly partial aggregate into the stats table
    at ``path`` exactly once per epoch: write its (bucket, n, sum_value)
    rows as the epoch's partition and commit the epoch. Counts and sums
    are additive, so :func:`read_hourly_stats` re-sums the committed
    partials into the batch aggregate of everything ingested."""

    def write() -> None:
        part = batch_df.groupBy(
            F.date_trunc("hour", F.col(ts_col)).alias("bucket")
        ).agg(F.count("*").alias("n"), F.sum("value").alias("sum_value"))
        write_epoch_partition(part, path, epoch_id)

    fold_epoch(spark, path, epoch_id, write)


def read_hourly_stats(spark, path: str) -> DataFrame:
    """Current (bucket, n, sum_value) hourly stats: the committed view of
    the table :func:`combine_hourly_partial` folds, re-summed per bucket."""
    return (
        committed_view(
            spark,
            path,
            ledger_path(path),
            "bucket timestamp, n bigint, sum_value double, epoch_id long",
        )
        .groupBy("bucket")
        .agg(F.sum("n").alias("n"), F.sum("sum_value").alias("sum_value"))
    )


def incremental_hourly_stats(
    df: DataFrame,
    path: str,
    checkpoint: str,
    trigger_seconds: int = 2,
) -> StreamingQuery:
    """[EXT] incremental materialized aggregate: each micro-batch folds its
    hourly partials into the stats table instead of recomputing the window
    from raw history — the fix for the reference dashboard's
    full-recompute-per-second design (BASELINE.md: '6 Spark jobs per
    refresh ... no incrementalization'; data_service.py:116-150). Read it
    with :func:`read_hourly_stats`: a write costs O(micro-batch), a read
    merges one partial row per committed epoch and touched bucket,
    independent of raw history length.
    """
    spark = df.sparkSession

    def _fold(batch_df: DataFrame, epoch_id: int) -> None:
        combine_hourly_partial(spark, path, batch_df, epoch_id)

    return _start_fold(df, checkpoint, trigger_seconds, _fold)


def run_stream_to_memory(df: DataFrame, name: str, output_mode: str = "append") -> StreamingQuery:
    """Synchronous test harness: memory sink + processAllAvailable()."""
    q = df.writeStream.outputMode(output_mode).format("memory").queryName(name).start()
    q.processAllAvailable()
    return q


def progress_summary(query: StreamingQuery) -> dict:
    """T8 progress monitoring (reference polls lastProgress for rows/sec and
    counters — services/streaming-service/api.py:323-338)."""
    p = query.lastProgress or {}
    return {
        "id": str(query.id),
        "is_active": query.isActive,
        "batch_id": p.get("batchId"),
        "num_input_rows": p.get("numInputRows"),
        "input_rows_per_second": p.get("inputRowsPerSecond"),
        "processed_rows_per_second": p.get("processedRowsPerSecond"),
    }


def stop_all_streams(spark) -> list[str]:
    """T9 lifecycle: stop every active query (reference start/stop REST
    surface — api.py:364-409); returns the stopped query names/ids."""
    stopped = []
    for q in spark.streams.active:
        stopped.append(q.name or str(q.id))
        q.stop()
    return stopped


def combine_sketch_partial(
    spark,
    path: str,
    batch_df: DataFrame,
    epoch_id: int,
    key_col: str = "user_id",
    ts_col: str = "ts",
    lgk: int = 12,
) -> None:
    """Fold one micro-batch's per-day HLL partials into the sketch table at
    ``path`` exactly once per epoch: write its (day, sketch) rows as the
    epoch's partition and commit the epoch.

    Streaming countDistinct normally means keeping every key in state; here
    an epoch's partial per day is one ~4 KB sketch regardless of
    cardinality, and the merge (hll_union_agg) is commutative and
    associative, so :func:`read_distinct_estimates` answers "uniques per
    day" at any moment by merging the committed partials. Batch and
    stream produce the SAME registers for the same input set."""

    def write() -> None:
        part = batch_df.groupBy(F.to_date(F.col(ts_col)).alias("day")).agg(
            F.hll_sketch_agg(F.col(key_col), F.lit(lgk)).alias("sketch")
        )
        write_epoch_partition(part, path, epoch_id)

    fold_epoch(spark, path, epoch_id, write)


def incremental_distinct_sketches(
    df: DataFrame,
    path: str,
    checkpoint: str,
    key_col: str = "user_id",
    ts_col: str = "ts",
    trigger_seconds: int = 2,
) -> StreamingQuery:
    """[EXT] incremental distinct-count maintenance: per-day HLL sketches
    folded per micro-batch (see combine_sketch_partial). Read back with
    read_distinct_estimates."""
    spark = df.sparkSession

    def _fold(batch_df: DataFrame, epoch_id: int) -> None:
        combine_sketch_partial(spark, path, batch_df, epoch_id, key_col, ts_col)

    return _start_fold(df, checkpoint, trigger_seconds, _fold)


def read_distinct_estimates(spark, path: str) -> DataFrame:
    """Current per-day unique estimates: the committed view of the sketch
    table, its partials merged per day with hll_union_agg."""
    return (
        committed_view(
            spark, path, ledger_path(path), "day date, sketch binary, epoch_id long"
        )
        .groupBy("day")
        .agg(F.hll_sketch_estimate(F.hll_union_agg("sketch")).alias("est_uniques"))
    )


def with_quality_observation(
    df: DataFrame,
    name: str = "quality",
    required_cols: tuple[str, ...] = ("event_id", "event_type", "ts"),
):
    """[EXT] in-flight data-quality metrics via the Observation API: count
    rows and per-column null counts AS THE QUERY RUNS — zero extra scan, the
    metrics ride the existing physical plan (unlike a separate .count() +
    per-column aggregates, which re-scan the table once per metric).

    Batch: returns (df, observation); read ``observation.get`` after the
    first action. Streaming: the same observe() call surfaces per-batch
    metrics in ``StreamingQueryProgress.observedMetrics[name]`` — the T8
    monitoring surface (reference polls lastProgress for throughput only;
    this adds correctness counters to the same feed).

    At 100 TB: this is the difference between "monitor quality" costing one
    extra full-corpus pass per metric batch and costing nothing.
    """
    from pyspark.sql import Observation

    metrics = [F.count(F.lit(1)).alias("n_rows")]
    for c in required_cols:
        if c in df.columns:
            metrics.append(
                F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).alias(f"null_{c}")
            )
    if df.isStreaming:
        # streaming observe() takes a string name; metrics appear in each
        # micro-batch's progress.observedMetrics[name]
        return df.observe(name, *metrics), None
    obs = Observation(name)
    return df.observe(obs, *metrics), obs


def combine_cms_partial(
    spark,
    path: str,
    batch_df: DataFrame,
    epoch_id: int,
    value_col: str = "event_type",
    ts_col: str = "ts",
) -> None:
    """Fold one micro-batch's per-day count-min partials into the sketch
    table at ``path`` exactly once per epoch: the batch's per-day sketches
    come from ONE distributed aggregate and are written as the epoch's
    (day, blob) partition, with no driver collect.

    CMS is linear (operators.sketches.merge_count_min), so per-day token
    frequencies are maintained as one ~110 KB blob per day and epoch, and
    :func:`read_frequency_estimates` answers "estimate frequency of X on
    day/range D" by merging the committed blobs of the touched days, never
    rescanning raw data.
    """

    def write() -> None:
        part = batch_df.groupBy(F.to_date(F.col(ts_col)).alias("day")).agg(
            F.count_min_sketch(
                F.col(value_col), F.lit(0.001), F.lit(0.99), F.lit(42)
            ).alias("blob")
        )
        write_epoch_partition(part, path, epoch_id)

    fold_epoch(spark, path, epoch_id, write)


def incremental_token_frequencies(
    df: DataFrame,
    path: str,
    checkpoint: str,
    value_col: str = "event_type",
    ts_col: str = "ts",
    trigger_seconds: int = 2,
) -> StreamingQuery:
    """[EXT] incremental frequency maintenance: per-day CMS blobs folded per
    micro-batch (see combine_cms_partial). Probe with
    read_frequency_estimates."""
    spark = df.sparkSession

    def _fold(batch_df: DataFrame, epoch_id: int) -> None:
        combine_cms_partial(spark, path, batch_df, epoch_id, value_col, ts_col)

    return _start_fold(df, checkpoint, trigger_seconds, _fold)


def read_frequency_estimates(spark, path: str, probes: list[str], days: list[str] | None = None):
    """Estimate probe frequencies from the maintained per-day CMS table:
    merge the committed blobs of the (selected) days driver-side, probe
    the merged sketch. Returns [(probe, est_count)].

    The ``days`` restriction is a predicate on the committed view, pushed
    to the parquet scan, so only the selected days' blobs ever reach the
    driver — at most one per committed epoch and day, not the raw
    history."""
    from demo_bigdata_spark.operators.sketches import CountMinReader, merge_count_min

    cms = committed_view(
        spark, path, ledger_path(path), "day date, blob binary, epoch_id long"
    )
    if days is not None:
        cms = cms.filter(F.col("day").cast("string").isin(list(days)))
    blobs = [bytes(r["blob"]) for r in cms.select("blob").collect()]
    if not blobs:
        return [(p, 0) for p in probes]
    reader = CountMinReader(merge_count_min(blobs))
    return [(p, reader.estimate_count(p)) for p in probes]


_PACK_SCHEMA = (
    "doc_id long, n_tokens long, tok_offset long, pack_id long, "
    "pack_offset long, spans_boundary boolean, epoch_id long"
)


def combine_pack_partial(
    spark,
    path: str,
    batch_df: DataFrame,
    epoch_id: int,
    seq_len: int = 2048,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> None:
    """Assign one micro-batch of documents to the continuously-growing pack
    layout exactly once per epoch: batch-local offsets (the same two-level
    prefix sum as text.pack_sequences) are shifted past the end of the
    COMMITTED layout and appended to the assignment table.

    This is the streaming twin of corpus packing — new documents keep
    packing where the corpus left off, no recompute of history, O(batch)
    per trigger. Offsets depend on arrival order ACROSS batches (inherent
    to continuous ingestion — the checkpointed source replays identical
    batches on restart, so the layout is stable for a given ingest
    history); WITHIN a batch, docs pack in id order.

    Exactly-once design: there is NO separate running-total file to drift
    out of sync. The base offset derives from the committed view, so a
    crash between the data write and the ledger commit leaves only
    uncommitted rows; the replay recomputes the identical base and
    replaces the epoch's partition. No gap, no double-advance,
    deterministic layout.
    """
    from demo_bigdata_spark.operators.text import pack_sequences

    def write() -> None:
        base = (
            read_pack_assignments(spark, path)
            .agg(F.max(F.col("tok_offset") + F.col("n_tokens")))
            .first()[0]
            or 0
        )
        local = pack_sequences(batch_df, seq_len, text_col, id_col)
        assigned = (
            local.withColumn("tok_offset", F.col("tok_offset") + F.lit(int(base)))
            .withColumn("pack_id", F.expr(f"tok_offset div {seq_len}"))
            .withColumn("pack_offset", F.col("tok_offset") % seq_len)
            .withColumn(
                "spans_boundary",
                (F.col("n_tokens") > 0)
                & (
                    F.expr(f"(tok_offset + n_tokens - 1) div {seq_len}")
                    != F.col("pack_id")
                ),
            )
        )
        write_epoch_partition(assigned, path, epoch_id)

    fold_epoch(spark, path, epoch_id, write)


def read_pack_assignments(spark, path: str) -> DataFrame:
    """The committed view of the continuous pack layout."""
    return committed_view(spark, path, ledger_path(path), _PACK_SCHEMA)


def incremental_sequence_packing(
    df: DataFrame,
    path: str,
    checkpoint: str,
    seq_len: int = 2048,
    trigger_seconds: int = 2,
) -> StreamingQuery:
    """[EXT] continuous corpus packing: every micro-batch of ingested
    documents extends the pack layout from the persisted token total
    instead of repacking history (see combine_pack_partial)."""
    spark = df.sparkSession

    def _fold(batch_df: DataFrame, epoch_id: int) -> None:
        combine_pack_partial(spark, path, batch_df, epoch_id, seq_len)

    return _start_fold(df, checkpoint, trigger_seconds, _fold)


def incremental_index_maintenance(
    df: DataFrame,
    path: str,
    checkpoint: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    trigger_seconds: int = 2,
) -> StreamingQuery:
    """[EXT] continuous inverted-index maintenance: every micro-batch of
    ingested documents appends its postings to the bucket-partitioned
    layout exactly once (operators.index.append_postings — committed-view
    epoch ledger, O(batch) per trigger, no history re-tokenization).
    Query the live index with operators.index.read_postings +
    conjunctive_search(postings=...)."""
    from demo_bigdata_spark.operators.index import append_postings

    spark = df.sparkSession

    def _fold(batch_df: DataFrame, epoch_id: int) -> None:
        append_postings(spark, batch_df, path, epoch_id, text_col, id_col)

    return _start_fold(df, checkpoint, trigger_seconds, _fold)


def append_contamination_flags(
    spark,
    batch_df: DataFrame,
    out_path: str,
    index_path: str,
    epoch_id: int,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    portable: bool = True,
) -> None:
    """Exactly-once per-epoch contamination flagging: check one micro-batch
    against the persisted eval shingle index
    (operators.dedup.check_contamination_batch) and write the flagged
    (doc, n_shared) rows as the epoch's partition, under the epoch ledger
    every incremental fold here shares."""
    from demo_bigdata_spark.operators.dedup import check_contamination_batch

    def write() -> None:
        write_epoch_partition(
            check_contamination_batch(
                spark, batch_df, index_path, n, text_col, id_col, portable
            ),
            out_path,
            epoch_id,
        )

    fold_epoch(spark, out_path, epoch_id, write)


def read_contamination_flags(spark, out_path: str, id_col: str = "doc_id") -> DataFrame:
    """Committed view of the incrementally-maintained contamination flags."""
    return committed_view(
        spark,
        out_path,
        ledger_path(out_path),
        f"{id_col} long, n_shared_shingles long, epoch_id long",
    )


def append_span_batch(
    spark,
    batch_df: DataFrame,
    out_path: str,
    epoch_id: int,
    window: int = 20,
    min_count: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    portable: bool = True,
) -> None:
    """Exactly-once incremental exact-substring span index (the streaming
    twin of dedup.span_dedup, keep='first' semantics): per micro-batch,
    flag every span occurrence whose digest already exists in the
    COMMITTED history (an earlier batch holds the kept first occurrence)
    or repeats within the batch (batch-local min-struct first exempted),
    then append the batch's distinct span digests to the history. When
    batches arrive in (id) order — the natural ingest order — the union
    of per-batch flags is EXACTLY the one-shot span_flagged_starts of the
    concatenated corpus: the corpus-global first occurrence by (id, pos)
    is either in an earlier batch (history semi-join catches the rest) or
    batch-local (the min-struct exemption catches it).

    ``min_count`` must be 2 (the Lee et al. setting; raised otherwise):
    the history stores distinct digests, not per-digest occurrence lists,
    so with min_count=3 a span whose count crosses the threshold in a
    LATER batch would need its earlier occurrences flagged retroactively —
    an append-only index cannot do that, and silently flagging on
    history-presence alone (2 total occurrences) would diverge from the
    batch operator's semantics. The batch ``span_flagged_starts`` supports
    arbitrary thresholds; the incremental path keeps exact equivalence.

    Storage: ``out_path`` holds (span_hash, epoch_id) history rows,
    ``out_path + '_flags'`` holds (id, start, epoch_id) flag rows, each
    epoch in its own partition; ONE ledger at ``ledger_path(out_path)``
    commits both.

    100 TB posture: per-batch work is O(batch grams) — one digest
    aggregate, one semi join against the history (digest-keyed shuffle or
    broadcast at Zipf sizes), zero history rewrites."""
    from demo_bigdata_spark.operators.dedup import (
        _flag_grams,
        _span_base,
        _span_grams,
    )

    if int(min_count) != 2:
        raise ValueError(
            "append_span_batch supports min_count=2 only (distinct-digest "
            "history cannot flag earlier occurrences retroactively when a "
            "higher threshold is crossed in a later batch); use the batch "
            "span_flagged_starts for other thresholds"
        )

    def write() -> None:
        base = _span_base(batch_df.select(id_col, text_col), text_col, id_col)
        grams = _span_grams(base, int(window), id_col, portable).localCheckpoint(
            eager=False
        )
        # distinct: each epoch stores its own distinct digests, so a digest
        # seen in several committed epochs has a row in each
        history = (
            committed_view(
                spark,
                out_path,
                ledger_path(out_path),
                "span_hash string, epoch_id long",
            )
            .select(F.col("span_hash").alias("_h"))
            .distinct()
        )
        in_hist = grams.join(history, "_h", "left_semi").select(id_col, "_p")
        fresh = grams.join(history, "_h", "left_anti")
        in_batch = _flag_grams(fresh, min_count, "first", id_col)
        flags = in_hist.unionByName(in_batch).select(
            F.col(id_col), F.col("_p").cast("long").alias("start")
        )
        write_epoch_partition(flags, out_path + "_flags", epoch_id)
        write_epoch_partition(
            grams.select(F.col("_h").alias("span_hash")).distinct(), out_path, epoch_id
        )

    fold_epoch(spark, out_path, epoch_id, write)


def append_span_batch_counted(
    spark,
    batch_df: DataFrame,
    out_path: str,
    epoch_id: int,
    window: int = 20,
    min_count: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    portable: bool = True,
) -> None:
    """Exactly-once incremental span index for ARBITRARY ``min_count`` —
    the generalization :func:`append_span_batch`'s distinct-digest history
    cannot express: to flag a span only once its accumulated corpus count
    reaches ``min_count``, the history must store the OCCURRENCES
    (span_hash, id, start), because the occurrences that arrived before
    the threshold crossed must be flagged RETROACTIVELY at the crossing
    batch (their ids are earlier; the flag stream is append-only, so the
    crossing epoch simply emits their (id, start) rows late). Storage is
    O(corpus positions) instead of O(distinct digests) — the price of the
    threshold; min_count=2 callers should prefer append_span_batch.

    Per batch, with H = committed occurrence history and B = the batch's
    grams, grouped per digest (h_count from H restricted to B's digests —
    one semi-bounded aggregate — and b_count/b_first from B):

    - h_count + b_count <  min_count: nothing flagged, occurrences appended;
    - h_count == 0 (crossing entirely in-batch): flag B's occurrences
      except the min-struct batch first;
    - 0 < h_count < min_count (crossing NOW): flag ALL of B's occurrences
      plus H's occurrences except the min-struct history first — the
      retroactive emission;
    - h_count >= min_count (crossed earlier): flag ALL of B's occurrences
      (history rows were flagged at their crossing epoch).

    When batches arrive in (id) order — the natural ingest order, same
    precondition the min_count=2 path states — the union of per-batch
    flags EXACTLY equals the one-shot
    ``span_flagged_starts(corpus, min_count=k, keep='first')``: the
    global first occurrence is the history first (history ids precede
    batch ids), every occurrence is flagged at most once (history rows
    only at their digest's crossing epoch, batch rows only in their own
    epoch), and sub-threshold digests are never flagged. Out-of-order ids
    break only WHICH occurrence is exempt, exactly as they would for
    append_span_batch.

    Layout mirrors the min_count=2 index: ``out_path`` holds occurrence
    rows, ``out_path + '_flags'`` the flags, one ledger at
    ``ledger_path(out_path)`` commits both."""
    from demo_bigdata_spark.operators.dedup import _span_base, _span_grams

    k = int(min_count)
    if k < 2:
        raise ValueError("min_count must be >= 2")

    def write() -> None:
        base = _span_base(batch_df.select(id_col, text_col), text_col, id_col)
        grams = _span_grams(base, int(window), id_col, portable).localCheckpoint(
            eager=False
        )
        # a document sent again in a later epoch stores its occurrences again;
        # counting each (digest, id, start) once keeps h_count a count of
        # corpus positions
        hist = committed_view(
            spark,
            out_path,
            ledger_path(out_path),
            f"span_hash string, {id_col} long, start long, epoch_id long",
        ).dropDuplicates(["span_hash", id_col, "start"]).select(
            F.col("span_hash").alias("_h"),
            F.col(id_col),
            F.col("start").alias("_p"),
        )
        bstats = grams.groupBy("_h").agg(
            F.count("*").alias("_bc"),
            F.min(F.struct(F.col(id_col).alias("i"), F.col("_p").alias("p"))).alias(
                "_bfirst"
            ),
        )
        # history stats only for digests present in this batch: the join is
        # keyed by digest, so per-batch work stays O(batch grams + matching
        # history rows), never O(history)
        hstats = (
            hist.join(bstats.select("_h"), "_h", "left_semi")
            .groupBy("_h")
            .agg(
                F.count("*").alias("_hc"),
                F.min(
                    F.struct(F.col(id_col).alias("i"), F.col("_p").alias("p"))
                ).alias("_hfirst"),
            )
        )
        stats = (
            bstats.join(hstats, "_h", "left")
            .withColumn("_hc", F.coalesce(F.col("_hc"), F.lit(0)))
            .filter(F.col("_hc") + F.col("_bc") >= k)
            .localCheckpoint(eager=False)
        )
        flag_batch = (
            grams.join(stats, "_h")
            .filter(
                ~(
                    (F.col("_hc") == 0)
                    & (F.col(id_col) == F.col("_bfirst.i"))
                    & (F.col("_p") == F.col("_bfirst.p"))
                )
            )
            .select(id_col, "_p")
        )
        flag_hist = (
            hist.join(stats.filter((F.col("_hc") > 0) & (F.col("_hc") < k)), "_h")
            .filter(
                ~(
                    (F.col(id_col) == F.col("_hfirst.i"))
                    & (F.col("_p") == F.col("_hfirst.p"))
                )
            )
            .select(id_col, "_p")
        )
        flags = flag_batch.unionByName(flag_hist).select(
            F.col(id_col), F.col("_p").cast("long").alias("start")
        )
        write_epoch_partition(flags, out_path + "_flags", epoch_id)
        write_epoch_partition(
            grams.select(
                F.col("_h").alias("span_hash"),
                F.col(id_col),
                F.col("_p").cast("long").alias("start"),
            ),
            out_path,
            epoch_id,
        )

    fold_epoch(spark, out_path, epoch_id, write)


def read_span_flags(spark, out_path: str, id_col: str = "doc_id") -> DataFrame:
    """Committed view of the incrementally-maintained span flags — feed
    these starts to the same coverage/reassembly tail as the batch
    operator to materialize the deduplicated text."""
    return committed_view(
        spark,
        out_path + "_flags",
        ledger_path(out_path),
        f"{id_col} long, start long, epoch_id long",
    )


def incremental_span_index(
    df: DataFrame,
    out_path: str,
    checkpoint: str,
    window: int = 20,
    min_count: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    portable: bool = True,
    trigger_seconds: int = 2,
) -> StreamingQuery:
    """[EXT] continuous exact-substring span deduplication — Lee et al.'s
    ExactSubstr maintained AT INGEST instead of as a full-corpus pass
    before each training run: every micro-batch's duplicated spans are
    flagged against (and folded into) the committed span history exactly
    once. Query with read_span_flags. min_count=2 uses the distinct-digest
    history (O(distinct digests) storage); higher thresholds route to the
    counted occurrence-history fold (append_span_batch_counted — the
    retroactive-flag generalization, O(positions) storage)."""
    spark = df.sparkSession
    fold = append_span_batch if int(min_count) == 2 else append_span_batch_counted

    def _fold(batch_df: DataFrame, epoch_id: int) -> None:
        fold(
            spark, batch_df, out_path, epoch_id, window, min_count,
            text_col, id_col, portable,
        )

    return _start_fold(df, checkpoint, trigger_seconds, _fold)


def append_quality_scores(
    spark,
    batch_df: DataFrame,
    out_path: str,
    weights: DataFrame,
    epoch_id: int,
    n_buckets: int = 1024,
    bias: float = 0.0,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> None:
    """Exactly-once per-epoch classifier scoring AT INGEST: score one
    micro-batch with the hashed-feature linear classifier
    (operators.text.classifier_quality_score — broadcast weight join, no
    corpus-level state, so each doc's score is independent of every other
    doc) and write the (doc, n_tokens, raw_score, quality_prob) rows as
    the epoch's partition, under the epoch ledger every incremental fold
    here shares. A trained-weight refresh is a pure data swap —
    later epochs score with the new table, already-committed epochs keep
    the scores they shipped with (the auditable production behavior)."""
    from demo_bigdata_spark.operators.text import classifier_quality_score

    def write() -> None:
        write_epoch_partition(
            classifier_quality_score(
                batch_df, weights, n_buckets, bias, text_col, id_col
            ),
            out_path,
            epoch_id,
        )

    fold_epoch(spark, out_path, epoch_id, write)


def read_quality_scores(
    spark, out_path: str, id_col: str = "doc_id"
) -> DataFrame:
    """Committed view of the incrementally-maintained quality scores —
    the exactly-once read the downstream quality filter consumes."""
    return committed_view(
        spark,
        out_path,
        ledger_path(out_path),
        f"{id_col} long, n_tokens bigint, raw_score double, "
        "quality_prob double, epoch_id long",
    )


def incremental_quality_scoring(
    df: DataFrame,
    out_path: str,
    weights: DataFrame,
    checkpoint: str,
    n_buckets: int = 1024,
    bias: float = 0.0,
    text_col: str = "text",
    id_col: str = "doc_id",
    trigger_seconds: int = 2,
) -> StreamingQuery:
    """[EXT] continuous learned-quality scoring — the classifier twin of
    incremental_decontamination: every ingested micro-batch is scored
    exactly once against the (broadcast) weight table, so the corpus
    quality filter is maintained AT INGEST instead of as a full-corpus
    pass before each training run. Query with read_quality_scores."""
    spark = df.sparkSession

    def _fold(batch_df: DataFrame, epoch_id: int) -> None:
        append_quality_scores(
            spark, batch_df, out_path, weights, epoch_id, n_buckets, bias,
            text_col, id_col
        )

    return _start_fold(df, checkpoint, trigger_seconds, _fold)


def append_bigram_lm_batch(
    spark,
    batch_df: DataFrame,
    out_path: str,
    epoch_id: int,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> None:
    """Exactly-once incremental bigram-LM maintenance (round-8 — the LM is
    three COUNT frames, text.train_bigram_lm, so it folds like every index
    family here): per micro-batch, write the batch's (w1, w2, c12) bigram
    counts and its distinct tokens as the epoch's partitions of two
    tables, committed by ONE epoch ledger. The
    folded model (read_bigram_lm) is EXACTLY the batch-trained model on
    the union of committed batches: bigram counts are sums of per-batch
    integer counts, the context counts roll up from the folded bigram
    table, and the vocabulary is a distinct union — no floats anywhere in
    the model, so fold order cannot matter.

    100 TB posture: per-batch work is one bigram hash-aggregate + one
    distinct over the batch (Zipf keeps both vocabulary-sized); history is
    folded at READ time by a count-keyed aggregate over tables that grow
    with vocabulary x batches, never corpus tokens."""
    from demo_bigdata_spark.operators.text import _doc_bigrams, tokens

    def write() -> None:
        bg = _doc_bigrams(batch_df, text_col, id_col)
        write_epoch_partition(
            bg.groupBy("w1", "w2").agg(F.count("*").alias("c12")), out_path, epoch_id
        )
        write_epoch_partition(
            batch_df.select(F.explode(tokens(text_col)).alias("token"))
            .filter(F.col("token") != "")
            .distinct(),
            out_path + "_vocab",
            epoch_id,
        )

    fold_epoch(spark, out_path, epoch_id, write)


def read_bigram_lm(spark, out_path: str):
    """Committed view of the incrementally-maintained bigram LM, folded to
    the same three frames text.train_bigram_lm returns — (bigram counts,
    context counts, vocab) — so bigram_nll_score serves from the streamed
    model unchanged (retraining is a data swap, and now so is streaming
    maintenance)."""
    c12_rows = committed_view(
        spark,
        out_path,
        ledger_path(out_path),
        "w1 string, w2 string, c12 bigint, epoch_id long",
    )
    c12 = c12_rows.groupBy("w1", "w2").agg(F.sum("c12").alias("c12"))
    c1 = c12.groupBy("w1").agg(F.sum("c12").alias("c1"))
    vocab_rows = committed_view(
        spark,
        out_path + "_vocab",
        ledger_path(out_path),
        "token string, epoch_id long",
    )
    vocab = vocab_rows.agg(F.count_distinct("token").alias("v"))
    return c12, c1, vocab


def incremental_bigram_lm(
    df: DataFrame,
    out_path: str,
    checkpoint: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    trigger_seconds: int = 2,
) -> StreamingQuery:
    """[EXT] continuous bigram-LM training — the CCNet reference LM
    maintained AT INGEST: every micro-batch of reference-domain documents
    folds into the count model exactly once, so the perplexity gate's
    model tracks the reference corpus without full retrains. Serve with
    read_bigram_lm + bigram_nll_score."""
    spark = df.sparkSession

    def _fold(batch_df: DataFrame, epoch_id: int) -> None:
        append_bigram_lm_batch(
            spark, batch_df, out_path, epoch_id, text_col, id_col
        )

    return _start_fold(df, checkpoint, trigger_seconds, _fold)


def incremental_decontamination(
    df: DataFrame,
    out_path: str,
    index_path: str,
    checkpoint: str,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    trigger_seconds: int = 2,
    portable: bool = True,
) -> StreamingQuery:
    """[EXT] continuous train/eval decontamination: every micro-batch of
    ingested training documents is checked against the persisted eval
    shingle index exactly once — the leak check runs AT INGEST instead of
    as a full-corpus pass before each training run. Query the flags with
    read_contamination_flags."""
    spark = df.sparkSession

    def _fold(batch_df: DataFrame, epoch_id: int) -> None:
        append_contamination_flags(
            spark, batch_df, out_path, index_path, epoch_id, n, text_col,
            id_col, portable
        )

    return _start_fold(df, checkpoint, trigger_seconds, _fold)


def incremental_vector_index(
    df: DataFrame,
    index_path: str,
    centroids,
    checkpoint: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    trigger_seconds: int = 2,
) -> StreamingQuery:
    """[EXT] continuous IVF index maintenance — the ANN twin of
    incremental_index_maintenance: each micro-batch of new vectors is
    assigned to the frozen centroids and appended to the cluster-
    partitioned inverted lists exactly once
    (operators.similarity.append_vectors, committed-view epoch ledger).
    ivf_topk_indexed on the live path reads the committed view
    automatically."""
    from demo_bigdata_spark.operators.similarity import append_vectors

    spark = df.sparkSession

    def _fold(batch_df: DataFrame, epoch_id: int) -> None:
        append_vectors(
            spark, batch_df, index_path, centroids, epoch_id, vec_col, id_col
        )

    return _start_fold(df, checkpoint, trigger_seconds, _fold)


def incremental_knn_graph(
    df: DataFrame,
    index_path: str,
    graph_path: str,
    centroids,
    checkpoint: str,
    k: int = 10,
    n_probe: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    trigger_seconds: int = 2,
) -> StreamingQuery:
    """[EXT] continuous kNN-graph maintenance over the live IVF index:
    each micro-batch of new vectors (a) joins the member index exactly
    once (incremental_vector_index's discipline) and (b) updates the edge
    set — its own neighbors plus the bounded re-rank of committed vectors
    whose probe clusters it landed in
    (operators.similarity.append_knn_graph_batch). read_knn_graph on the
    live path equals knn_graph_ivf of the full corpus under the same
    frozen (centroids, k, n_probe)."""
    from demo_bigdata_spark.operators.similarity import append_knn_graph_batch

    spark = df.sparkSession

    def _fold(batch_df: DataFrame, epoch_id: int) -> None:
        append_knn_graph_batch(
            spark,
            batch_df,
            index_path,
            graph_path,
            centroids,
            epoch_id,
            k=k,
            n_probe=n_probe,
            vec_col=vec_col,
            id_col=id_col,
        )

    return _start_fold(df, checkpoint, trigger_seconds, _fold)


def incremental_positional_index_maintenance(
    df: DataFrame,
    path: str,
    checkpoint: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    trigger_seconds: int = 2,
) -> StreamingQuery:
    """[EXT] continuous POSITIONAL-index maintenance — the phrase-search
    twin of incremental_index_maintenance: each micro-batch appends its
    (doc, term, positions) rows exactly once
    (operators.index.append_positional_postings, committed-view epoch
    ledger). phrase_search on the live path reads the committed view
    automatically."""
    from demo_bigdata_spark.operators.index import append_positional_postings

    spark = df.sparkSession

    def _fold(batch_df: DataFrame, epoch_id: int) -> None:
        append_positional_postings(
            spark, batch_df, path, epoch_id, text_col, id_col
        )

    return _start_fold(df, checkpoint, trigger_seconds, _fold)


def append_shingle_batch(
    spark,
    batch_df: DataFrame,
    out_path: str,
    epoch_id: int,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> None:
    """Exactly-once incremental maintenance of the corpus shingle frame —
    the shared input of the soft-dedup / contamination family: per
    micro-batch, write the batch's distinct (id, shingle_hash) rows as the
    epoch's partition under the epoch ledger. Consumers fold at read time
    (:func:`read_soft_dedup_weights`), so the corpus-relative quantities
    (document frequencies, weights) always reflect the full committed
    corpus — the same recompute-from-folded-counts semantics as the
    incremental bigram LM, with integer counts only.

    Per-batch cost is one tokenize+shingle pass over the batch and one
    write; nothing re-reads history at write time."""
    from demo_bigdata_spark.operators.dedup import shingle_hashes

    def write() -> None:
        write_epoch_partition(
            shingle_hashes(batch_df, n=n, text_col=text_col, id_col=id_col),
            out_path,
            epoch_id,
        )

    fold_epoch(spark, out_path, epoch_id, write)


def read_soft_dedup_weights(
    spark, out_path: str, id_col: str = "doc_id"
) -> DataFrame:
    """Committed soft-dedup weights over the incrementally-maintained
    shingle frame: fold == batch exactly (the folded frame, distinct on
    (id, shingle_hash), IS the one-shot shingle_hashes of the
    concatenated corpus; weights are pure integer ratios of its
    aggregates)."""
    from demo_bigdata_spark.operators.dedup import soft_dedup_weights

    # a document sent again in a later epoch stores its shingles again;
    # the one-shot frame holds each (id, shingle) once
    rows = committed_view(
        spark,
        out_path,
        ledger_path(out_path),
        f"{id_col} long, shingle_hash string, epoch_id long",
    ).dropDuplicates([id_col, "shingle_hash"])
    return soft_dedup_weights(rows.select(id_col, "shingle_hash"), id_col=id_col)


def incremental_soft_dedup(
    df: DataFrame,
    out_path: str,
    checkpoint: str,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    trigger_seconds: int = 2,
) -> StreamingQuery:
    """[EXT] continuous soft-dedup weight maintenance: each micro-batch's
    shingles fold into the committed frame exactly once; query the
    current corpus-relative weights any time with
    read_soft_dedup_weights."""
    spark = df.sparkSession

    def _fold(batch_df: DataFrame, epoch_id: int) -> None:
        append_shingle_batch(
            spark, batch_df, out_path, epoch_id, n, text_col, id_col
        )

    return _start_fold(df, checkpoint, trigger_seconds, _fold)


def append_edge_batch(
    spark,
    batch_df: DataFrame,
    out_path: str,
    epoch_id: int,
    src_col: str = "src",
    dst_col: str = "dst",
) -> None:
    """[EXT] Exactly-once incremental maintenance of a weighted edge-count
    frame — the graph tier's fold (operators/graph.py): each micro-batch's
    (src, dst) pairs aggregate to per-pair counts, written as the epoch's
    partition under the epoch ledger. Edge weights are INTEGER COUNTS, so
    the committed fold (sum over epochs) equals the one-shot aggregation
    of the concatenated stream exactly — the bigram-LM
    recompute-from-counts discipline. Per-batch cost is one batch-sized
    aggregate + one write; history is never re-read at write time."""

    def write() -> None:
        write_epoch_partition(
            batch_df.groupBy(
                F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
            ).agg(F.count("*").cast("bigint").alias("w")),
            out_path,
            epoch_id,
        )

    fold_epoch(spark, out_path, epoch_id, write)


def read_edge_counts(spark, out_path: str) -> DataFrame:
    """Committed weighted edges over the per-epoch counts: committed
    epochs only (crash leftovers invisible), then SUM — fold == batch
    exactly (integer counts)."""
    rows = committed_view(
        spark,
        out_path,
        ledger_path(out_path),
        "src long, dst long, w long, epoch_id long",
    )
    return rows.groupBy("src", "dst").agg(
        F.sum("w").cast("bigint").alias("w")
    )


def read_pagerank(spark, out_path: str, iters: int = 10, **kwargs) -> DataFrame:
    """PageRank over the committed incremental edge frame — ranks always
    reflect the full committed stream (graph.pagerank on the exact folded
    counts, so live == batch bit-for-bit)."""
    from demo_bigdata_spark.operators.graph import pagerank

    return pagerank(None, read_edge_counts(spark, out_path), iters=iters, **kwargs)


def incremental_edge_counts(
    df: DataFrame,
    out_path: str,
    checkpoint: str,
    src_col: str = "src",
    dst_col: str = "dst",
    trigger_seconds: int = 2,
) -> StreamingQuery:
    """[EXT] continuous graph maintenance: each micro-batch's pairs fold
    into the committed edge-count frame exactly once; query current ranks
    any time with read_pagerank."""
    spark = df.sparkSession

    def _fold(batch_df: DataFrame, epoch_id: int) -> None:
        append_edge_batch(spark, batch_df, out_path, epoch_id, src_col, dst_col)

    return _start_fold(df, checkpoint, trigger_seconds, _fold)


def incremental_dedup(
    df: DataFrame,
    index_path: str,
    checkpoint: str,
    threshold: float = 0.7,
    text_col: str = "text",
    id_col: str = "doc_id",
    bands: int = 4,
    rows: int = 4,
    trigger_seconds: int = 2,
) -> StreamingQuery:
    """[EXT] continuous near-duplicate detection at ingest: each micro-batch
    of documents probes the committed MinHash-LSH index for cross-history
    duplicates, checks itself, and joins the index — exactly once per epoch
    (operators.dedup.append_dedup_batch). read_near_dup_pairs on the live
    path equals the batch near-dup pipeline (uncapped candidates) over the
    full ingested corpus."""
    from demo_bigdata_spark.operators.dedup import append_dedup_batch

    spark = df.sparkSession

    def _fold(batch_df: DataFrame, epoch_id: int) -> None:
        append_dedup_batch(
            spark,
            batch_df,
            index_path,
            epoch_id,
            threshold=threshold,
            text_col=text_col,
            id_col=id_col,
            bands=bands,
            rows=rows,
        )

    return _start_fold(df, checkpoint, trigger_seconds, _fold)


def domain_cap_stream(
    df: DataFrame,
    url_col: str = "url",
    id_col: str = "doc_id",
    ts_col: str = "ts",
    max_per_domain: int = 1000,
) -> DataFrame:
    """[EXT] streaming per-domain document cap — the crawl-frontier twin of
    ``text.domain_cap_sample``: per registrable domain, ADMIT the first
    ``max_per_domain`` documents and drop everything after, with ONE
    integer of state per domain (``applyInPandasWithState``; the quota is
    lifetime by design — matching the batch rule — so the counter never
    times out; reset quotas by restarting with a fresh checkpoint).
    Within a micro-batch, rows admit in (ts, id) order, so a replayed
    batch admits the identical rows.

    Semantics vs batch, stated honestly (the url_dedup_stream rule):
    batch keeps the LOWEST ids per domain; a stream admits the FIRST
    ARRIVALS — identical when arrival order is id order (the crawler
    convention), divergent otherwise. Batch inputs delegate to the exact
    batch operator.

    Output: (id_col, ts, url, domain) for admitted rows only.
    """
    import pandas as pd

    from demo_bigdata_spark.operators.text import domain_cap_sample, url_domain

    if max_per_domain < 1:
        raise ValueError(f"max_per_domain must be >= 1, got {max_per_domain}")
    if not df.isStreaming:
        return domain_cap_sample(
            df, url_col=url_col, id_col=id_col, max_per_domain=max_per_domain
        ).select(id_col, ts_col, url_col, "domain")

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    keyed = df.withColumn("domain", url_domain(url_col)).select(
        id_col, ts_col, url_col, "domain"
    )
    out_schema = f"{id_col} long, {ts_col} timestamp, {url_col} string, domain string"

    def _admit(key, pdfs, state: GroupState):
        n = state.get[0] if state.exists else 0
        batch = pd.concat(list(pdfs), ignore_index=True)
        batch = batch.sort_values([ts_col, id_col], kind="mergesort")
        room = max(0, max_per_domain - n)
        take = batch.iloc[:room]
        state.update((n + len(take),))
        if len(take):
            yield take

    return keyed.groupBy("domain").applyInPandasWithState(
        _admit, out_schema, "n long", "append", GroupStateTimeout.NoTimeout
    )


def incremental_histogram(
    df: DataFrame,
    path: str,
    checkpoint: str,
    value_col: str,
    lo: float,
    hi: float,
    n_bins: int = 1024,
    trigger_seconds: int = 2,
) -> StreamingQuery:
    """[EXT] continuous quantile-sketch maintenance: each micro-batch folds
    its fixed-range histogram partial (<= n_bins integer-counted rows)
    into the committed sketch exactly once per epoch
    (operators.sketches.append_histogram_batch). read_histogram /
    histogram_quantiles on the live path equal the batch sketch of
    everything ingested — integer bin counts make the fold exact."""
    from demo_bigdata_spark.operators.sketches import append_histogram_batch

    spark = df.sparkSession

    def _fold(batch_df: DataFrame, epoch_id: int) -> None:
        append_histogram_batch(
            spark, batch_df, path, epoch_id,
            value_col=value_col, lo=lo, hi=hi, n_bins=n_bins,
        )

    return _start_fold(df, checkpoint, trigger_seconds, _fold)


def incremental_group_kl(
    df,
    path: str,
    checkpoint: str,
    group_col: str = "source",
    text_col: str = "text",
    trigger_seconds: int = 2,
) -> StreamingQuery:
    """[EXT] continuous mixture-drift maintenance: each micro-batch folds
    its (group, token) count partial into the committed table exactly once
    per epoch (operators.text.append_term_counts_batch); read_group_kl on
    the live path equals batch group_kl_divergence over everything
    ingested bit-for-bit — integer token counts make the fold exact, so
    the per-source KL drift diagnostic is maintainable on a crawl stream
    without rescanning history."""
    from demo_bigdata_spark.operators.text import append_term_counts_batch

    spark = df.sparkSession

    def _fold(batch_df, epoch_id: int) -> None:
        append_term_counts_batch(
            spark, batch_df, path, epoch_id,
            group_col=group_col, text_col=text_col,
        )

    return _start_fold(df, checkpoint, trigger_seconds, _fold)

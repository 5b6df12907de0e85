"""Edge-case robustness: operators must handle empty inputs, single rows,
and degenerate text without crashing or returning wrong shapes."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from demo_bigdata_spark.operators import analytics as A
from demo_bigdata_spark.operators import dedup as D
from demo_bigdata_spark.operators import text as X
from demo_bigdata_spark.operators.relational import asof_join, merge_upsert
from demo_bigdata_spark.operators.similarity import all_pairs_above, brute_force_topk
from demo_bigdata_spark.sources.catalog import load_table


@pytest.fixture(scope="module")
def empty_events(spark, sf_dir):
    return load_table(spark, sf_dir, "events").limit(0)


@pytest.fixture(scope="module")
def empty_docs(spark, sf_dir):
    return load_table(spark, sf_dir, "documents").limit(0)


def test_analytics_on_empty(spark, empty_events):
    assert A.global_stats(empty_events).head()["total_events"] == 0
    assert A.type_distribution(empty_events).count() == 0
    assert A.hourly_series(empty_events).count() == 0
    assert A.sessionize(empty_events).count() == 0
    assert A.recent_events(empty_events).count() == 0


def test_dedup_on_empty(spark, empty_docs):
    assert D.exact_dedup(empty_docs).count() == 0
    assert D.minhash_signature(empty_docs).count() == 0
    assert D.near_duplicates(empty_docs).count() == 0
    assert D.simhash(empty_docs).count() == 0


def test_similarity_on_empty(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings").limit(0)
    assert brute_force_topk(emb, [0.0] * 64, k=5).count() == 0
    assert all_pairs_above(emb, 0.5).count() == 0


def test_degenerate_text(spark):
    docs = spark.createDataFrame(
        [(1, ""), (2, "   "), (3, "x"), (4, "a a a a a a")],
        ["doc_id", "text"],
    )
    feats = {r["doc_id"]: r for r in X.quality_features(docs).collect()}
    assert feats[1]["n_tokens"] == 0
    assert feats[2]["n_tokens"] == 0
    assert feats[3]["n_tokens"] == 1
    assert feats[4]["distinct_token_ratio"] == round(1 / 6, 4)
    sigs = D.minhash_signature(docs)
    assert sigs.count() == 4  # empty text still yields a (degenerate) signature
    lang = X.language_id(docs)
    assert all(r["predicted_lang"] is None for r in lang.filter(F.col("doc_id") <= 3).collect())


def test_asof_join_empty_right(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events").limit(10)
    right = ev.limit(0).select("user_id", "ts", "value")
    out = asof_join(
        ev.select("event_id", "user_id", "ts"), right, on="user_id", ts_col="ts",
        right_value_cols=["value"],
    )
    rows = out.collect()
    assert len(rows) == 10
    assert all(r["asof_value"] is None for r in rows)


def test_merge_upsert_empty_updates(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events").limit(20)
    merged = merge_upsert(ev, ev.limit(0), ["event_id"])
    assert merged.count() == 20


def test_value_histogram_clamps_out_of_range(spark):
    """Values outside [lo, hi) fold into the edge bins; empty bins emitted."""
    from demo_bigdata_spark.operators.analytics import value_histogram

    df = spark.createDataFrame(
        [(-5.0,), (0.0,), (9.99,), (10.0,), (25.0,), (999.0,)], ["value"]
    )
    rows = {r["bin"]: r["n"] for r in value_histogram(df, "value", n_bins=10, lo=0.0, hi=100.0).collect()}
    assert len(rows) == 10
    assert rows[1] == 3  # -5 clamps in, 0.0 and 9.99 belong
    assert rows[3] == 1  # 25.0
    assert rows[10] == 1  # 999 clamps into the top bin
    assert rows[2] == 1  # 10.0 exactly on edge -> second bin
    assert sum(rows.values()) == 6


def test_quantize_zero_vector(spark):
    """A zero vector quantizes to scale=0 / all-zero qvec and scores
    cosine 0 against any query instead of dividing by zero."""
    from demo_bigdata_spark.operators.similarity import (
        quantize_embeddings,
        quantized_topk,
    )

    df = spark.createDataFrame(
        [(1, [0.0, 0.0, 0.0]), (2, [1.0, 2.0, 2.0])],
        ["vec_id", "embedding"],
    )
    q = quantize_embeddings(df)
    rows = {r["vec_id"]: r for r in q.collect()}
    assert rows[1]["scale"] == 0.0 and set(rows[1]["qvec"]) == {0}
    top = {r["vec_id"]: r["cosine"] for r in quantized_topk(q, [1.0, 2.0, 2.0], k=2).collect()}
    assert top[1] == 0.0 and abs(top[2] - 1.0) < 1e-3


def test_value_histogram_degenerate_inputs(spark):
    """Empty/all-NULL input raises a clear ValueError; a constant column
    produces a well-formed single-occupied-bin histogram (ADVICE r2)."""
    import pytest

    from demo_bigdata_spark.operators.analytics import value_histogram

    empty = spark.createDataFrame([], "value double")
    with pytest.raises(ValueError, match="no non-null values"):
        value_histogram(empty, "value", n_bins=5)
    nulls = spark.createDataFrame([(None,), (None,)], "value double")
    with pytest.raises(ValueError, match="no non-null values"):
        value_histogram(nulls, "value", n_bins=5)

    const = spark.createDataFrame([(7.0,), (7.0,), (7.0,)], ["value"])
    rows = {r["bin"]: r for r in value_histogram(const, "value", n_bins=4).collect()}
    assert len(rows) == 4
    assert rows[1]["n"] == 3 and sum(r["n"] for r in rows.values()) == 3
    assert rows[1]["bin_lo"] == 7.0

    with pytest.raises(ValueError, match="hi .* < lo"):
        value_histogram(const, "value", n_bins=4, lo=10.0, hi=5.0)


def test_paginate_keyset_rejects_half_cursor(spark, sf_dir):
    """last_ts without last_id (or vice versa) must fail fast instead of
    silently dropping boundary-timestamp rows via a NULL predicate."""
    import pytest

    from demo_bigdata_spark.operators.analytics import paginate_keyset

    ev = load_table(spark, sf_dir, "events")
    with pytest.raises(ValueError, match="both"):
        paginate_keyset(ev, "ts", "event_id", "2024-01-05 00:00:00", None, 10)
    with pytest.raises(ValueError, match="both"):
        paginate_keyset(ev, "ts", "event_id", None, 42, 10)


def test_count_min_reader_matches_jvm(spark, sf_dir):
    """The pure-Python CountMinSketch decoder (Connect-safe path) must agree
    with the JVM reader on every probe, including absent keys."""
    from pyspark.sql import functions as F

    from demo_bigdata_spark.operators.sketches import CountMinReader

    ev = load_table(spark, sf_dir, "events").limit(2000)
    blob = bytes(
        ev.agg(
            F.count_min_sketch(F.col("event_type"), F.lit(0.001), F.lit(0.99), F.lit(42)).alias("sk")
        ).head()["sk"]
    )
    py = CountMinReader(blob)
    jvm = spark._jvm.org.apache.spark.util.sketch.CountMinSketch.readFrom(
        spark._jvm.java.io.ByteArrayInputStream(blob)
    )
    probes = ["click", "view", "purchase", "signup", "error", "absent-key", "", "ünïcode-🎈"]
    for p in probes:
        assert py.estimate_count(p) == jvm.estimateCount(p), p
    assert py.total_count == jvm.totalCount()


def test_replay_source_blank_line_convention(spark, tmp_path):
    """Batch and streaming replay readers assign the SAME replay_seq to the
    same physical line when blank lines are present (ADVICE r2), and the
    writer renames only the basename even under a '_tmp_' directory."""
    import json
    import os

    from demo_bigdata_spark.sources.pydatasource import register

    register(spark)
    # a directory whose path contains _tmp_ must survive the commit rename
    base = tmp_path / "cap_tmp_dir"
    base.mkdir()
    cap = base / "events.ndjson"
    lines = [json.dumps({"id": str(i), "type": "PushEvent"}) for i in range(5)]
    cap.write_text(lines[0] + "\n\n" + lines[1] + "\n   \n" + "\n".join(lines[2:]) + "\n")

    batch = (
        spark.read.format("github_replay").option("path", str(cap)).load().collect()
    )
    got_batch = sorted((r["replay_seq"], r["raw_json"]) for r in batch)
    assert [s for s, _ in got_batch] == [0, 1, 2, 3, 4]  # dense despite blanks

    out = (
        spark.readStream.format("github_replay")
        .option("path", str(cap))
        .option("batch_size", "2")
        .load()
    )
    q = out.writeStream.format("memory").queryName("replay_blank").start()
    try:
        q.processAllAvailable()
        got_stream = sorted(
            (r["replay_seq"], r["raw_json"])
            for r in spark.sql("SELECT * FROM replay_blank").collect()
        )
    finally:
        q.stop()
    assert got_stream == got_batch

    # writer: rename must not rewrite the directory component
    sink = base / "sink_tmp_out"
    spark.createDataFrame([(r["replay_seq"], r["raw_json"]) for r in batch],
                          "replay_seq long, raw_json string").write.format(
        "github_replay"
    ).mode("append").option("path", str(sink)).save()
    assert os.path.isdir(str(sink))
    names = os.listdir(str(sink))
    assert any(n.startswith("part_") for n in names)
    assert not any(n.startswith("_tmp_") for n in names)


def test_read_parquet_if_exists_empty_dir(spark, tmp_path):
    """An existing-but-empty state directory means 'no state yet' (first
    epoch), not a permanent micro-batch failure (ADVICE r2)."""
    from demo_bigdata_spark.streaming.pipeline import _read_parquet_if_exists

    missing = str(tmp_path / "never_written")
    assert _read_parquet_if_exists(spark, missing) is None

    empty = tmp_path / "state"
    empty.mkdir()
    assert _read_parquet_if_exists(spark, str(empty)) is None

    # real state still reads back
    p = str(tmp_path / "real")
    spark.range(3).write.parquet(p)
    assert _read_parquet_if_exists(spark, p).count() == 3


def test_count_min_merge_is_exact_union(spark, sf_dir):
    """CMS linearity: merging per-slice sketches must reproduce the
    whole-corpus sketch exactly (same table bytes -> same estimates), and
    the merged blob round-trips through the JVM reader."""
    from demo_bigdata_spark.operators.sketches import (
        CountMinReader,
        count_min_blob,
        merge_count_min,
    )

    ev = load_table(spark, sf_dir, "events").select("event_type", "user_id")
    half_a = ev.filter(F.col("user_id") % 2 == 0)
    half_b = ev.filter(F.col("user_id") % 2 == 1)
    merged = merge_count_min(
        [count_min_blob(half_a, "event_type"), count_min_blob(half_b, "event_type")]
    )
    whole = count_min_blob(ev, "event_type")
    r_m, r_w = CountMinReader(merged), CountMinReader(whole)
    assert r_m.total_count == r_w.total_count
    assert r_m.table == r_w.table  # exact linearity, not just close estimates

    jvm = spark._jvm.org.apache.spark.util.sketch.CountMinSketch.readFrom(
        spark._jvm.java.io.ByteArrayInputStream(merged)
    )
    for probe in ("click", "view", "absent"):
        assert jvm.estimateCount(probe) == r_m.estimate_count(probe)

    import pytest

    with pytest.raises(ValueError, match="no sketches"):
        merge_count_min([])


def test_count_min_merge_rejects_seed_mismatch(spark, sf_dir):
    """Blobs built with different seeds have different hashA families; for
    LONG items the estimates would be silently wrong, so the merge must
    refuse (r3 ADVICE)."""
    from demo_bigdata_spark.operators.sketches import count_min_blob, merge_count_min

    ev = load_table(spark, sf_dir, "events").select("event_type").limit(100)
    a = count_min_blob(ev, "event_type", seed=42)
    b = count_min_blob(ev, "event_type", seed=43)
    with pytest.raises(ValueError, match="hash famil"):
        merge_count_min([a, b])
    # same seed still merges
    assert merge_count_min([a, count_min_blob(ev, "event_type", seed=42)])


def test_png_adversarial_bounds():
    """A corrupt blob must never kill the job (r3 ADVICE): oversized IHDR
    dimensions are rejected BEFORE any allocation, and a zlib bomb is stopped
    by the bounded inflate instead of materializing."""
    import struct
    import zlib

    from demo_bigdata_spark.functions.png import PNG_MAGIC, decode_png, encode_png

    def chunk(ctype, body):
        return (
            struct.pack(">I", len(body)) + ctype + body
            + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF)
        )

    def png(width, height, raw):
        ihdr = struct.pack(">IIBBBBB", width, height, 8, 0, 0, 0, 0)
        return (
            PNG_MAGIC + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b"")
        )

    # huge declared dimensions: rejected without touching the (tiny) IDAT
    with pytest.raises(ValueError, match="pixel budget"):
        decode_png(png(1 << 20, 1 << 20, b"\x00"))
    with pytest.raises(ValueError, match="zero-dimension"):
        decode_png(png(0, 0, b""))

    # zlib bomb: 4x2 declared, but the stream inflates to ~10 MB — the
    # bounded inflate stops one byte past the expected raster
    bomb = png(4, 2, b"\x00" * 10_000_000)
    with pytest.raises(ValueError, match="inflates past"):
        decode_png(bomb)

    # a valid image at exactly the budget still decodes
    gray = bytes(range(8))
    img = encode_png(4, 2, gray, color_type=0)
    assert decode_png(img, max_pixels=8)[:2] == (4, 2)
    with pytest.raises(ValueError, match="pixel budget"):
        decode_png(img, max_pixels=7)


def test_pct_of_total_name_collisions(spark):
    """pct_of_total must survive an input that already carries its internal
    '_total' alias, and must refuse to silently overwrite out_col (r3
    ADVICE: the keyless broadcast join otherwise yields ambiguous columns
    and drop() removes both)."""
    from demo_bigdata_spark.functions.scalar import pct_of_total

    df = spark.createDataFrame([(1, 10), (2, 30)], "k int, n int")
    # existing _total column: internal alias must not collide
    clash = df.withColumn("_total", F.lit(999))
    out = pct_of_total(clash, "n").orderBy("k").collect()
    assert [r["percentage"] for r in out] == [25.0, 75.0]
    assert [r["_total"] for r in out] == [999, 999]  # user column intact

    with pytest.raises(ValueError, match="already exists"):
        pct_of_total(df.withColumn("percentage", F.lit(0)), "n")


def test_cands_cache_keying_and_eviction(monkeypatch, tmp_path):
    """_CANDS_CACHE is keyed by applicationId (never recycled, unlike id())
    and evicts entries from dead sessions, so a fresh session can never be
    handed a stale localCheckpoint from a stopped context (r3 ADVICE)."""
    from demo_bigdata_spark.suites import suite_llm

    class FakeDF:
        def __init__(self, tag):
            self.tag = tag

        def localCheckpoint(self, eager=False):
            return self

    class FakeSession:
        def __init__(self, app_id):
            class _Ctx:
                applicationId = app_id

            self.sparkContext = _Ctx()

    built = []

    def fake_candidates(docs, max_bucket):
        built.append(docs)
        return FakeDF(docs)

    monkeypatch.setattr(suite_llm.D, "minhash_candidates", fake_candidates)
    monkeypatch.setattr(suite_llm, "_docs", lambda spark, sf_dir: sf_dir)
    monkeypatch.setattr(suite_llm, "_CANDS_CACHE", {})

    s1 = FakeSession("app-1")
    a = suite_llm._cands(s1, "/sf/a")
    assert suite_llm._cands(s1, "/sf/a") is a  # same session: cache hit
    suite_llm._cands(s1, "/sf/b")
    assert len(suite_llm._CANDS_CACHE) == 2  # per-sf entries coexist

    # new session (as after a stop/start that reuses the object's id):
    # old entries evicted, nothing stale returned
    s2 = FakeSession("app-2")
    b = suite_llm._cands(s2, "/sf/a")
    assert b is not a
    assert list(suite_llm._CANDS_CACHE) == [("app-2", "/sf/a")]
    assert built == ["/sf/a", "/sf/b", "/sf/a"]  # one hit, three builds


def test_fps_cache_keying_and_eviction(monkeypatch):
    """_FPS_CACHE (shared winnow fingerprint table) follows the same
    applicationId keying/eviction contract as _CANDS_CACHE."""
    from demo_bigdata_spark.suites import suite_llm

    class FakeDF:
        def localCheckpoint(self, eager=False):
            return self

    class FakeSession:
        def __init__(self, app_id):
            class _Ctx:
                applicationId = app_id

            self.sparkContext = _Ctx()

    built = []

    def fake_winnow(docs):
        built.append(docs)
        return FakeDF()

    monkeypatch.setattr(suite_llm.D, "winnow_fingerprints", fake_winnow)
    monkeypatch.setattr(suite_llm, "_docs", lambda spark, sf_dir: sf_dir)
    monkeypatch.setattr(suite_llm, "_FPS_CACHE", {})

    s1 = FakeSession("app-1")
    a = suite_llm._fps(s1, "/sf/a")
    assert suite_llm._fps(s1, "/sf/a") is a
    s2 = FakeSession("app-2")
    b = suite_llm._fps(s2, "/sf/a")
    assert b is not a
    assert list(suite_llm._FPS_CACHE) == [("app-2", "/sf/a")]
    assert built == ["/sf/a", "/sf/a"]


def test_minhash_shingle_path_preserves_caller_tk_column(spark, sf_dir):
    """minhash_signature(shingle_n=...) must not clobber a caller column
    named '_tk' (the pct_of_total alias-collision class — the internal
    pinned-token projection now picks a non-colliding name)."""
    from demo_bigdata_spark.operators.dedup import minhash_signature
    from demo_bigdata_spark.sources.catalog import load_table

    docs = load_table(spark, sf_dir, "documents").withColumn("_tk", F.lit(7))
    out = minhash_signature(docs, shingle_n=3)
    assert "_tk" in out.columns and "sig" in out.columns
    assert out.select("_tk").distinct().collect()[0][0] == 7


def test_mixture_weighted_rejects_fractional_weights(spark, sf_dir):
    """A fractional weight column would be silently floored per row by the
    bigint cast (0.7 -> 0); the operator must reject it loudly."""
    import pytest as _pytest

    from demo_bigdata_spark.operators.sampling import mixture_sample_weighted
    from demo_bigdata_spark.sources.catalog import load_table

    docs = load_table(spark, sf_dir, "documents").withColumn("w", F.lit(0.7))
    with _pytest.raises(ValueError, match="integral"):
        mixture_sample_weighted(docs, "source", "doc_id", {"src0": 1.0}, 100, "w")


def test_gemm_paths_survive_degenerate_inputs(spark):
    """r10: the blocked-GEMM operators (SemDeDup, LSH pairs, batched ANN)
    must handle single-row, empty, and zero-vector inputs — empty GEMM
    blocks, NaN cosines from zero norms, and k > corpus all degrade
    gracefully instead of crashing a driver query."""
    from pyspark.sql import functions as F

    import demo_bigdata_spark.operators.similarity as S

    one = spark.createDataFrame(
        [(1, [1.0] * 64, 0)], "vec_id long, embedding array<double>, label int"
    )
    assert S.semantic_dedup(one, 0.35, n_planes=2).count() == 1
    empty = one.filter(F.lit(False))
    assert S.semantic_dedup(empty, 0.35, n_planes=2).count() == 0
    assert S.lsh_pairs_above(empty, 0.35).count() == 0
    assert S.multi_query_topk(one, {0: [1.0] * 64}, k=10).count() == 1
    # zero vectors: NaN cosine compares False everywhere -> both survive,
    # and the zero row never appears in a top-k
    z = spark.createDataFrame(
        [(1, [0.0] * 64, 0), (2, [1.0] * 64, 0)],
        "vec_id long, embedding array<double>, label int",
    )
    assert sorted(
        r.vec_id for r in S.semantic_dedup(z, 0.35, n_planes=2).collect()
    ) == [1, 2]
    top = S.multi_query_topk(z, {7: [1.0] * 64}, k=5).collect()
    assert [r.vec_id for r in top] == [2]


def test_round_signsafe_normalizes_negative_zero(spark):
    """r12 VERDICT #1: round(covar_samp, 6) on a tiny negative lands on ZERO
    and DuckDB keeps the sign (-0.0) while Spark does not — a byte-level
    comparator flags two correct answers as a mismatch. round_signsafe must
    yield +0.0 from below-zero roundings, leave every non-zero value
    untouched, and its SQL twin must embed the same +0.0 normalization."""
    import math

    from demo_bigdata_spark.functions.scalar import round_signsafe, round_signsafe_sql

    df = spark.createDataFrame(
        [(-2.4e-07,), (-0.0,), (0.0,), (1.5e-06,), (-3.7,)], "x double"
    ).select(round_signsafe(F.col("x"), 6).alias("r"))
    vals = [r.r for r in df.collect()]
    assert vals == [0.0, 0.0, 0.0, 2e-06, -3.7]
    # signed-zero sensitive: copysign distinguishes -0.0 from +0.0
    assert all(math.copysign(1.0, v) == 1.0 for v in vals if v == 0.0)
    assert round_signsafe_sql("covar_samp(a, b)", 6) == "round(covar_samp(a, b), 6) + 0.0"


def test_correlations_has_no_negative_zero(spark, sf_dir):
    """The r12 driver red: covar_disc_tax for returnflag N rounds to zero.
    Both the Spark result and the DuckDB oracle must produce +0.0 there."""
    import math

    from demo_bigdata_spark.suites.suite_relational import (
        SQL_CORRELATIONS,
        q_correlations,
    )
    from tests.oracle import duckdb_conn

    for row in q_correlations(spark, sf_dir).collect():
        for v in (row.corr_qty_price, row.covar_disc_tax):
            if v == 0.0:
                assert math.copysign(1.0, v) == 1.0
    con = duckdb_conn(sf_dir)
    for row in con.sql(SQL_CORRELATIONS).fetchall():
        for v in row[1:]:
            if v == 0.0:
                assert math.copysign(1.0, v) == 1.0


def test_local_frame_equals_the_list_built_frame(spark):
    """local_frame (a pyarrow-built frame, no Python worker) gives the
    list-built frame's schema and rows for every column type the driver
    builds frames of, NULLs included, and for an empty row list."""
    from demo_bigdata_spark.session import local_frame

    ddl = "i bigint, s string, d double, b binary, f boolean"
    rows = [
        (1, "a", 1.5, b"\x00\x01", True),
        (None, None, None, None, None),
        (-(2**62), "", -0.0, b"", False),
    ]
    for data in (rows, []):
        want = spark.createDataFrame(data, ddl)
        got = local_frame(spark, data, ddl)
        assert got.schema == want.schema
        assert got.collect() == want.collect()
    typed = local_frame(spark, rows, want.schema)
    assert typed.schema == want.schema
    assert typed.collect() == spark.createDataFrame(rows, ddl).collect()

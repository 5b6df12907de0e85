"""Operator unit tests: ingest edge cases, as-of join semantics, LSH recall,
multimodal plumbing, partitioned writes."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from demo_bigdata_spark.operators.ingest import process_raw_events
from demo_bigdata_spark.operators.multimodal import attach_binary, decode_image_fake, frame_sample_fake
from demo_bigdata_spark.operators.relational import asof_join
from demo_bigdata_spark.operators.similarity import all_pairs_above, lsh_pairs_above
from demo_bigdata_spark.sources.catalog import load_table

GOOD = (
    '{"id":"1","type":"PushEvent","actor":{"id":7,"login":"alice"},'
    '"repo":{"id":9,"name":"org/r"},"public":true,'
    '"created_at":"2024-01-01T10:00:00Z",'
    '"payload":{"action":"opened","nested":{"a":[1,2]}}}'
)
UNKNOWN_TYPE = (
    '{"id":"2","type":"WeirdEvent","actor":{"id":8,"login":"bob"},'
    '"created_at":"2024-01-01T11:00:00Z","payload":{}}'
)
NO_CREATED = '{"id":"3","type":"PushEvent","payload":{}}'
MALFORMED = "{this is not json"
UNSORTED_PAYLOAD = '{"zeta":1,"action":"opened","alpha":{"y":[2,1],"b":true}}'
UNSORTED = (
    '{"id":"4","type":"PullRequestEvent","actor":{"id":9,"login":"carol"},'
    '"created_at":"2024-01-01T12:00:00Z","payload":' + UNSORTED_PAYLOAD + "}"
)


@pytest.fixture(scope="module")
def flat(spark):
    raw = spark.createDataFrame(
        [(GOOD,), (UNKNOWN_TYPE,), (NO_CREATED,), (MALFORMED,)], ["raw_json"]
    )
    return process_raw_events(raw).cache()


def test_ingest_drops_bad_rows(flat):
    ids = {r["event_id"] for r in flat.collect()}
    assert ids == {"1", "2"}  # malformed + missing created_at dropped


def test_ingest_categorizes(flat):
    cats = {r["event_id"]: r["event_category"] for r in flat.collect()}
    assert cats == {"1": "code", "2": "other"}


def test_ingest_payload_survives_nesting(spark, flat):
    row = flat.filter(F.col("event_id") == "1").head()
    assert row["action"] == "opened"
    assert '"a":[1,2]' in row["payload_json"].replace(" ", "")
    # payload keys out of alphabetical order at two levels keep source order
    raw = spark.createDataFrame([(UNSORTED,)], ["raw_json"])
    row = process_raw_events(raw).head()
    assert row["action"] == "opened"
    assert row["payload_json"] == UNSORTED_PAYLOAD


def test_ingest_flags(flat):
    row1 = flat.filter(F.col("event_id") == "1").head()
    row2 = flat.filter(F.col("event_id") == "2").head()
    assert (row1["has_actor"], row1["has_repo"], row1["has_org"]) == (True, True, False)
    assert (row2["has_actor"], row2["has_repo"]) == (True, False)
    assert row1["processing_date"] == "2024-01-01" and row1["processing_hour"] == 10


def test_asof_join_semantics(spark):
    left = spark.createDataFrame(
        [(1, "2024-01-01 10:00:00", "L1"), (1, "2024-01-01 12:00:00", "L2"),
         (2, "2024-01-01 09:00:00", "L3")],
        ["k", "ts", "tag"],
    ).withColumn("ts", F.to_timestamp("ts"))
    right = spark.createDataFrame(
        [(1, "2024-01-01 09:30:00", 10.0), (1, "2024-01-01 11:00:00", 20.0),
         (1, "2024-01-01 12:00:00", 30.0), (2, "2024-01-01 09:30:00", 99.0)],
        ["k", "ts", "v"],
    ).withColumn("ts", F.to_timestamp("ts"))
    out = {
        r["tag"]: r["asof_v"]
        for r in asof_join(left, right, on="k", ts_col="ts", right_value_cols=["v"]).collect()
    }
    # L1: only 09:30 precedes -> 10.0; L2: equal ts matches (<=) -> 30.0;
    # L3: no right row at or before 09:00 -> null
    assert out == {"L1": 10.0, "L2": 30.0, "L3": None}


def test_similarity_import_loads_no_pandas():
    """A fresh Arrow worker that unpickles a block-pair emitter imports
    operators.similarity; pandas must load only inside the mapInPandas
    bodies that use it, not with the module."""
    import os
    import subprocess
    import sys

    code = (
        "import sys, demo_bigdata_spark.operators.similarity; "
        "print('pandas' in sys.modules)"
    )
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=root, capture_output=True, text=True, check=True
    )
    assert out.stdout.strip() == "False", out.stdout + out.stderr


def test_lsh_recall_and_precision(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    exact = {(r["id_a"], r["id_b"]) for r in all_pairs_above(emb, 0.35).collect()}
    approx = {
        (r["id_a"], r["id_b"])
        for r in lsh_pairs_above(emb, 0.35, n_planes=4, n_tables=8).collect()
    }
    assert approx <= exact  # scoring is exact within buckets -> no false positives
    if exact:
        recall = len(approx & exact) / len(exact)
        assert recall >= 0.4, f"LSH recall too low: {recall}"


def test_ivf_recall(spark, sf_dir):
    from demo_bigdata_spark.operators.similarity import (
        brute_force_topk,
        ivf_topk,
        train_ivf_centroids,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 7).head()["embedding"]]
    exact = [r["vec_id"] for r in brute_force_topk(emb, qvec, k=10).collect()]
    C = train_ivf_centroids(emb, n_centroids=16, iterations=2)
    approx = [r["vec_id"] for r in ivf_topk(emb, C, qvec, k=10, n_probe=4).collect()]
    recall = len(set(exact) & set(approx)) / 10
    assert recall >= 0.5, f"IVF recall@10 too low: {recall}"
    # full probe == exact
    full = [r["vec_id"] for r in ivf_topk(emb, C, qvec, k=10, n_probe=16).collect()]
    assert full == exact


def test_ivf_persisted_index_prunes_partitions(spark, sf_dir, tmp_path):
    """The persisted inverted lists (parquet partitioned by cluster) must
    (a) return exactly what the recompute path returns and (b) turn the probe
    predicate into partition pruning, so a query reads n_probe lists, not the
    corpus."""
    from demo_bigdata_spark.operators.similarity import (
        build_ivf_index,
        ivf_topk,
        ivf_topk_indexed,
        train_ivf_centroids,
    )
    from demo_bigdata_spark.plans.inspect import explain_formatted

    emb = load_table(spark, sf_dir, "embeddings")
    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 7).head()["embedding"]]
    C = train_ivf_centroids(emb, n_centroids=16, iterations=2)
    path = str(tmp_path / "ivf_index")
    build_ivf_index(emb, C, path)

    recomputed = [(r["vec_id"], round(r["cosine"], 6))
                  for r in ivf_topk(emb, C, qvec, k=10, n_probe=4).collect()]
    indexed_df = ivf_topk_indexed(spark, path, C, qvec, k=10, n_probe=4)
    indexed = [(r["vec_id"], round(r["cosine"], 6)) for r in indexed_df.collect()]
    assert indexed == recomputed

    # the cluster predicate must reach the scan as a partition filter
    scoped = spark.read.parquet(path).filter(F.col("cluster").isin([1, 2]))
    plan = explain_formatted(scoped)
    assert "PartitionFilters" in plan and "cluster" in plan.split("PartitionFilters", 1)[1][:200]


def test_duplicate_clusters_connectivity(spark, sf_dir):
    """Every pair sharing an LSH band bucket must land in the same cluster,
    and the cluster id must be the minimum member id (converged labels)."""
    from demo_bigdata_spark.operators.dedup import (
        duplicate_clusters,
        lsh_bands,
        minhash_signature,
    )

    docs = load_table(spark, sf_dir, "documents")
    labels = {r["doc_id"]: r["cluster_id"] for r in duplicate_clusters(docs).collect()}
    bands = lsh_bands(minhash_signature(docs)).collect()
    buckets: dict = {}
    for r in bands:
        buckets.setdefault((r["band_idx"], r["band_sig"]), []).append(r["doc_id"])
    # union-find ground truth
    parent = {d: d for d in labels}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for members in buckets.values():
        for m in members[1:]:
            ra, rb = find(members[0]), find(m)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
    for d, lbl in labels.items():
        assert lbl == find(d), f"doc {d}: got {lbl}, want {find(d)}"


def test_multimodal_plumbing(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").limit(20)
    media = attach_binary(docs)
    feats = decode_image_fake(media)
    rows = feats.collect()
    assert len(rows) == 20
    assert all(r["width"] >= 1 and r["height"] >= 1 for r in rows)
    # deterministic: second run identical
    assert rows == decode_image_fake(media).collect()
    frames = frame_sample_fake(media).groupBy("doc_id").count().collect()
    assert all(1 <= r["count"] <= 8 for r in frames)


def test_png_codec_roundtrip_all_filters():
    """decode_png recovers exact dimensions + luma from synthetic PNGs in
    every color type, and undoes each scanline filter (re-encoded fixtures
    exercise filter 0; hand-built IDATs exercise Sub/Up/Average/Paeth)."""
    import struct
    import zlib

    from demo_bigdata_spark.functions.png import PNG_MAGIC, decode_png, encode_png

    # gray 4x2, known mean: pixels 0..7 -> mean 3.5
    gray = bytes(range(8))
    w, h, luma = decode_png(encode_png(4, 2, gray, color_type=0))
    assert (w, h) == (4, 2) and abs(luma - 3.5) < 1e-9

    # RGB 2x2 solid red -> luma = 0.299*255
    rgb = bytes([255, 0, 0] * 4)
    w, h, luma = decode_png(encode_png(2, 2, rgb, color_type=2))
    assert (w, h) == (2, 2) and abs(luma - 0.299 * 255) < 1e-9

    # RGBA: alpha ignored in luma
    rgba = bytes([0, 255, 0, 7] * 4)
    _, _, luma = decode_png(encode_png(2, 2, rgba, color_type=6))
    assert abs(luma - 0.587 * 255) < 1e-9

    # gray+alpha
    ga = bytes([10, 99] * 6)
    w, h, luma = decode_png(encode_png(3, 2, ga, color_type=4))
    assert (w, h) == (3, 2) and abs(luma - 10.0) < 1e-9

    # filtered scanlines: same gray 4x2 image, each row filtered differently
    def _png_with_raw(raw: bytes, width, height, color_type=0) -> bytes:
        def chunk(ctype, body):
            return (
                struct.pack(">I", len(body)) + ctype + body
                + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF)
            )

        ihdr = struct.pack(">IIBBBBB", width, height, 8, color_type, 0, 0, 0)
        return (
            PNG_MAGIC + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b"")
        )

    # rows [0,1,2,3] and [4,5,6,7]; Sub on row0: deltas 0,1,1,1; Up on row1:
    # diffs vs row0 = 4,4,4,4
    raw = bytes([1, 0, 1, 1, 1]) + bytes([2, 4, 4, 4, 4])
    w, h, luma = decode_png(_png_with_raw(raw, 4, 2))
    assert (w, h) == (4, 2) and abs(luma - 3.5) < 1e-9

    # Average on row0 (pred = floor(left/2)), Paeth on row1 (pred = paeth)
    # row0 target [0,1,2,3]: avg preds 0,0,0,1 -> residuals 0,1,2,2
    # row1 target [4,5,6,7]: paeth preds (a=left,b=up,c=upleft):
    #   i0: a=0,c=0,b=0 -> 0; res 4
    #   i1: a=4,b=1,c=0 -> p=5: pa=1,pb=4 -> a=4; res 1
    #   i2: a=5,b=2,c=1 -> p=6: pa=1,pb=4 -> 5; res 1
    #   i3: a=6,b=3,c=2 -> p=7: pa=1,pb=4 -> 6; res 1
    raw = bytes([3, 0, 1, 2, 2]) + bytes([4, 4, 1, 1, 1])
    w, h, luma = decode_png(_png_with_raw(raw, 4, 2))
    assert (w, h) == (4, 2) and abs(luma - 3.5) < 1e-9

    # palette: 2 entries, red + blue, one pixel each
    def chunk(ctype, body):
        return (
            struct.pack(">I", len(body)) + ctype + body
            + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", 2, 1, 8, 3, 0, 0, 0)
    plte = bytes([255, 0, 0, 0, 0, 255])
    pal_png = (
        PNG_MAGIC + chunk(b"IHDR", ihdr) + chunk(b"PLTE", plte)
        + chunk(b"IDAT", zlib.compress(bytes([0, 0, 1]))) + chunk(b"IEND", b"")
    )
    w, h, luma = decode_png(pal_png)
    assert (w, h) == (2, 1)
    assert abs(luma - (0.299 * 255 + 0.114 * 255) / 2) < 1e-9

    with pytest.raises(ValueError):
        decode_png(b"not a png at all")


def test_multimodal_real_decode_from_pixels(spark):
    """decode_image_real extracts true width/height/luma from real PNG bytes
    through the mapInPandas plumbing; non-PNG payloads are quarantined via
    decode_error instead of failing the batch."""
    from demo_bigdata_spark.functions.png import encode_png
    from demo_bigdata_spark.operators.multimodal import decode_image_real

    png_a = encode_png(4, 2, bytes(range(8)), color_type=0)  # luma 3.5
    png_b = encode_png(2, 2, bytes([255, 0, 0] * 4), color_type=2)
    rows = [(1, png_a), (2, png_b), (3, b"garbage-not-png")]
    media = spark.createDataFrame(rows, "doc_id long, payload binary")
    got = {r["doc_id"]: r for r in decode_image_real(media).collect()}
    assert (got[1]["width"], got[1]["height"]) == (4, 2)
    assert abs(got[1]["mean_luma"] - 3.5) < 1e-6 and got[1]["decode_error"] is None
    assert (got[2]["width"], got[2]["height"]) == (2, 2)
    assert abs(got[2]["mean_luma"] - round(0.299 * 255, 4)) < 1e-6
    assert got[3]["width"] is None and "signature" in got[3]["decode_error"]


def test_chunk_documents_boundaries(spark):
    """Overlap semantics: consecutive chunks share exactly `overlap` tokens;
    short docs yield one chunk; empty/whitespace docs yield none."""
    from demo_bigdata_spark.operators.text import chunk_documents

    long_text = " ".join(f"w{i}" for i in range(10))
    df = spark.createDataFrame(
        [(1, long_text), (2, "a b"), (3, ""), (4, "   ")], ["doc_id", "text"]
    )
    out = chunk_documents(df, chunk_size=4, overlap=2).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert 3 not in by_doc and 4 not in by_doc
    assert [r["chunk_text"] for r in sorted(by_doc[2], key=lambda r: r["chunk_id"])] == ["a b"]
    chunks1 = [r["chunk_text"] for r in sorted(by_doc[1], key=lambda r: r["chunk_id"])]
    # stride 2 over 10 tokens: starts 0,2,4,6,8 — last two are short tails
    assert chunks1 == [
        "w0 w1 w2 w3", "w2 w3 w4 w5", "w4 w5 w6 w7", "w6 w7 w8 w9", "w8 w9",
    ]
    import pytest as _pytest

    with _pytest.raises(ValueError, match="overlap"):
        chunk_documents(df, chunk_size=4, overlap=4)


def test_redact_pii_semantics(spark):
    from demo_bigdata_spark.operators.text import redact_pii

    df = spark.createDataFrame(
        [
            (1, "mail alice.smith+x@sub.example.org now"),
            (2, "server 192.168.1.254 and 8.8.8.8 up"),
            (3, "call +49 171 1234567 or 555-867-5309 today"),
            (4, "clean text, no pii at all"),
        ],
        ["doc_id", "text"],
    )
    rows = {r["doc_id"]: r for r in redact_pii(df).collect()}
    assert rows[1]["n_email"] == 1 and "[EMAIL]" in rows[1]["text_redacted"]
    assert "alice" not in rows[1]["text_redacted"]
    assert rows[2]["n_ipv4"] == 2 and rows[2]["text_redacted"].count("[IPV4]") == 2
    assert rows[3]["n_phone"] == 2 and rows[3]["text_redacted"].count("[PHONE]") == 2
    assert rows[4]["text_redacted"] == rows[4]["text"]
    assert (rows[4]["n_email"], rows[4]["n_ipv4"], rows[4]["n_phone"]) == (0, 0, 0)


def test_decontaminate_flags_planted_overlap(spark):
    """A train doc embedding an exact 8-token eval span must be flagged;
    unrelated docs must not."""
    from demo_bigdata_spark.operators.dedup import decontaminate

    eval_span = "alpha beta gamma delta epsilon zeta eta theta"
    train = spark.createDataFrame(
        [
            (1, f"prefix words here {eval_span} suffix words"),
            (2, "totally unrelated content with its own eight tokens plus"),
        ],
        ["doc_id", "text"],
    )
    eval_set = spark.createDataFrame(
        [(100, f"{eval_span} and some continuation of the benchmark prompt")],
        ["doc_id", "text"],
    )
    got = {r["train_id"]: r["n_eval_docs"] for r in decontaminate(train, eval_set).collect()}
    assert got == {1: 1}


def test_sentence_pack_udtf(spark):
    """Greedy packing: segments respect max_tokens unless a single sentence
    exceeds it; concatenation round-trips the original sentences in order."""
    from demo_bigdata_spark.functions.udtfs import register_udtfs

    register_udtfs(spark)
    text = "One two three. Four five. Six seven eight nine ten eleven. Twelve."
    rows = spark.sql(
        "SELECT * FROM sentence_pack('" + text + "', 6) ORDER BY seg_id"
    ).collect()
    segs = [r["segment"] for r in rows]
    # 3+2 fits in 6; the 6-token sentence overflows into its own segment
    assert segs == [
        "One two three. Four five.",
        "Six seven eight nine ten eleven.",
        "Twelve.",
    ]
    assert [r["n_tokens"] for r in rows] == [5, 6, 1]
    assert " ".join(segs) == text
    # lateral use over a table
    df = spark.createDataFrame([(1, "A b. C d e f g h i. J k.")], ["doc_id", "text"])
    df.createOrReplaceTempView("seg_docs")
    out = spark.sql(
        "SELECT doc_id, s.seg_id, s.n_tokens FROM seg_docs, "
        "LATERAL sentence_pack(text, 4) AS s ORDER BY s.seg_id"
    ).collect()
    assert [(r["doc_id"], r["seg_id"]) for r in out] == [(1, 0), (1, 1), (1, 2)]


def test_incremental_dedup_index(spark, sf_dir, tmp_path):
    """Probing a new batch against the persisted index: no false positives
    vs brute-force cross Jaccard, recall adequate for near-dup mining, and
    exact duplicates always caught."""
    from demo_bigdata_spark.operators.dedup import (
        build_dedup_index,
        distinct_tokens,
        incremental_near_duplicates,
        token_hash,
    )

    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("source") != "src0")
    new = docs.filter(F.col("source") == "src0")
    idx = str(tmp_path / "dedup_idx")
    build_dedup_index(corpus, idx)
    got = {
        (r["new_id"], r["corpus_id"]): r["jaccard"]
        for r in incremental_near_duplicates(spark, new, idx, threshold=0.8).collect()
    }

    # brute-force oracle: all cross pairs scored exactly
    def toksed(df, out):
        return df.select(
            F.col("doc_id").alias(out),
            F.array_distinct(F.transform(distinct_tokens("text"), token_hash)).alias(f"t_{out}"),
        )

    cross = toksed(new, "new_id").crossJoin(toksed(corpus, "corpus_id"))
    inter = F.size(F.array_intersect("t_new_id", "t_corpus_id"))
    union = F.size("t_new_id") + F.size("t_corpus_id") - inter
    exact = {
        (r["new_id"], r["corpus_id"]): r["j"]
        for r in cross.select(
            "new_id", "corpus_id", F.round(inter / union.cast("double"), 4).alias("j")
        )
        .filter(F.col("j") >= 0.8)
        .collect()
    }
    assert set(got) <= set(exact)  # verification is exact -> no false positives
    identical = {k for k, v in exact.items() if v == 1.0}
    assert identical <= set(got)  # exact dups can't escape minhash banding
    if exact:
        assert len(got) / len(exact) >= 0.6, f"recall {len(got)}/{len(exact)}"


# --- Sketch tier: HLL distinct, count-min bounds, int8 quantization -----------


def test_hll_sketch_accuracy(spark, sf_dir):
    """Per-day HLL estimates within 5% of exact; merged total within 5% of
    the exact global; merge is order-independent (same estimate from
    re-partitioned partials)."""
    from demo_bigdata_spark.operators import sketches as K

    ev = load_table(spark, sf_dir, "events").withColumn("day", F.to_date("ts"))
    daily = K.distinct_sketches(ev, "user_id", ["day"])
    est = {
        r["day"]: r["est_uniques"]
        for r in K.estimate_distinct(daily).collect()
    }
    exact = {
        r["day"]: r["x"]
        for r in ev.groupBy("day").agg(F.countDistinct("user_id").alias("x")).collect()
    }
    assert est.keys() == exact.keys()
    for day, e in exact.items():
        assert abs(est[day] - e) <= max(2, 0.05 * e), (day, est[day], e)

    total_exact = ev.agg(F.countDistinct("user_id")).head()[0]
    merged = K.estimate_distinct(K.merge_sketches(daily)).head()["est_uniques"]
    assert abs(merged - total_exact) <= max(2, 0.05 * total_exact)
    merged2 = K.estimate_distinct(K.merge_sketches(daily.repartition(7))).head()[
        "est_uniques"
    ]
    assert merged == merged2  # register-max merge is order/partition independent


def test_cms_bounds(spark, sf_dir):
    """Count-min guarantees: est >= exact always; est <= exact + eps*N for
    the probed tokens; absent token estimates stay within eps*N."""
    from demo_bigdata_spark.operators import sketches as K
    from demo_bigdata_spark.suites.suite_llm import CMS_PROBE_TOKENS

    toks = load_table(spark, sf_dir, "documents").select(
        F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias("tok")
    )
    n_total = toks.count()
    eps = 0.001
    est = {
        r["probe"]: r["est_count"]
        for r in K.count_min_table(toks, "tok", CMS_PROBE_TOKENS, eps=eps).collect()
    }
    exact = {
        r["tok"]: r["n"]
        for r in toks.filter(F.col("tok").isin(CMS_PROBE_TOKENS))
        .groupBy("tok")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    for probe in CMS_PROBE_TOKENS:
        true_n = exact.get(probe, 0)
        assert est[probe] >= true_n, (probe, est[probe], true_n)
        assert est[probe] <= true_n + eps * n_total, (probe, est[probe], true_n)


def test_quantization_roundtrip_and_recall(spark, sf_dir):
    """int8 quantization: per-element reconstruction error <= scale/2;
    quantized top-10 recall >= 0.8 vs exact brute force."""
    from demo_bigdata_spark.operators.similarity import (
        brute_force_topk,
        quantize_embeddings,
        quantized_topk,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    q = quantize_embeddings(emb)
    joined = (
        emb.join(q, "vec_id")
        .select(
            F.max(
                F.aggregate(
                    F.zip_with(
                        F.col("embedding").cast("array<double>"),
                        F.transform(
                            "qvec", lambda x: x.cast("double") * F.col("scale").cast("double")
                        ),
                        lambda a, b: F.abs(a - b),
                    ),
                    F.lit(0.0),
                    lambda acc, x: F.greatest(acc, x),
                )
            ).alias("max_err"),
            F.max(F.col("scale")).alias("max_scale"),
        )
        .head()
    )
    assert joined["max_err"] <= joined["max_scale"] / 2 + 1e-9

    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 0).head()["embedding"]]
    exact_ids = {r["vec_id"] for r in brute_force_topk(emb, qvec, k=10).collect()}
    approx_ids = {r["vec_id"] for r in quantized_topk(q, qvec, k=10).collect()}
    assert len(exact_ids & approx_ids) >= 8, (exact_ids, approx_ids)


def test_all_pairs_matches_numpy_reference(spark, sf_dir):
    """all_pairs_above == a numpy brute-force reference over the collected
    embeddings, pair for pair and cosine for cosine, with one block (a
    single in-block GEMM) and with 8 blocks (cross-block pairs in both
    orientations)."""
    import numpy as np

    rows = load_table(spark, sf_dir, "embeddings").collect()
    ids = [r["vec_id"] for r in rows]
    V = np.array([r["embedding"] for r in rows], dtype=np.float64)
    n = np.linalg.norm(V, axis=1)
    with np.errstate(divide="ignore", invalid="ignore"):
        cos = np.round((V @ V.T) / np.outer(n, n), 4)
    ref = {
        (min(ids[i], ids[j]), max(ids[i], ids[j]), cos[i, j])
        for i in range(len(ids))
        for j in range(i + 1, len(ids))
        if cos[i, j] >= 0.35
    }
    assert ref
    emb = load_table(spark, sf_dir, "embeddings")
    for n_blocks in (1, 8):
        got = [
            (r["id_a"], r["id_b"], r["cosine"])
            for r in all_pairs_above(emb, 0.35, n_blocks=n_blocks).collect()
        ]
        assert len(got) == len(ref) and set(got) == ref, n_blocks


def test_block_gemm_operators_reject_null_and_ragged_vectors(spark):
    """A NULL or unequal-length vector fails the block scorers loudly: a
    block's vectors are reshaped from one flat buffer, where lengths 3 and
    5 would silently read as two vectors of 4."""
    from demo_bigdata_spark.operators.similarity import knn_graph

    for rows in (
        [(0, [1.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0, 0.0, 1.0])],
        [(0, [1.0, 0.0]), (1, None), (2, [1.0, 1.0])],
    ):
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        with pytest.raises(Exception, match="NULL or unequal-length vectors"):
            all_pairs_above(df, 0.0, n_blocks=1).collect()
        with pytest.raises(Exception, match="NULL or unequal-length vectors"):
            knn_graph(df, k=1, n_blocks=1).collect()


def test_block_gemm_operators_zero_vector(spark):
    """A zero vector has no cosine. The thresholded block scorers
    (all_pairs_above, lsh_pairs_above, semantic_dedup) never pair it, even
    at threshold 0.0; knn_graph floors norms at 1e-12, so the zero vector
    scores cosine 0.0 against every other row."""
    import numpy as np

    from demo_bigdata_spark.operators.similarity import knn_graph, semantic_dedup

    rng = np.random.RandomState(5)
    base = rng.randn(6, 8)
    vecs = [v for b in base for v in (b, b + rng.randn(8) * 0.1)]
    zero = len(vecs)
    vecs.append(np.zeros(8))
    V = np.array(vecs)
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>",
    )
    nonzero = df.filter(F.col("vec_id") != zero)
    n = np.linalg.norm(V, axis=1)
    with np.errstate(divide="ignore", invalid="ignore"):
        cos = np.round((V @ V.T) / np.outer(n, n), 4)
    for t in (0.35, 0.0):
        ref = {
            (i, j, cos[i, j])
            for i in range(len(vecs))
            for j in range(i + 1, len(vecs))
            if cos[i, j] >= t
        }
        exact = {
            (r["id_a"], r["id_b"], r["cosine"])
            for r in all_pairs_above(df, t, n_blocks=3).collect()
        }
        assert exact == ref and all(zero not in p[:2] for p in exact)
        lsh = {
            (r["id_a"], r["id_b"], r["cosine"])
            for r in lsh_pairs_above(df, t, n_planes=2, n_tables=4, dim=8).collect()
        }
        assert lsh <= exact and all(zero not in p[:2] for p in lsh)
        kept = {
            r["vec_id"]
            for r in semantic_dedup(df, t, n_planes=1, dim=8, block_size=4).collect()
        }
        kept_nonzero = {
            r["vec_id"]
            for r in semantic_dedup(
                nonzero, t, n_planes=1, dim=8, block_size=4
            ).collect()
        }
        assert kept == kept_nonzero | {zero}
    nf = np.maximum(n, 1e-12)
    kcos = np.round((V @ V.T) / np.outer(nf, nf), 4)
    np.fill_diagonal(kcos, -np.inf)
    k = 3
    ref = {}
    for i in range(len(vecs)):
        order = sorted(range(len(vecs)), key=lambda j: (-kcos[i, j], j))[:k]
        ref[i] = [(j, kcos[i, j], r + 1) for r, j in enumerate(order)]
    assert ref[zero] == [(0, 0.0, 1), (1, 0.0, 2), (2, 0.0, 3)]
    got = {}
    for r in knn_graph(df, k=k, n_blocks=3).collect():
        got.setdefault(r["src"], []).append((r["dst"], r["cosine"], r["rank"]))
    assert got == ref


def test_mixture_sample_rates_and_determinism(spark, sf_dir):
    """Kept counts approximate weight*target per source (exact given bucket
    resolution), zero-weight sources vanish, clamped sources keep all, and
    repartitioning does not change the surviving set."""
    from demo_bigdata_spark.operators.sampling import mixture_sample

    docs = load_table(spark, sf_dir, "documents")
    weights = {"src0": 0.5, "src1": 0.3, "src2": 0.2}
    mixed = mixture_sample(docs, "source", "doc_id", weights, target_rows=60)
    got = {r["source"]: r["n"] for r in mixed.groupBy("source").agg(F.count("*").alias("n")).collect()}
    sizes = {r["source"]: r["n"] for r in docs.groupBy("source").agg(F.count("*").alias("n")).collect()}
    assert set(got) <= set(weights)
    assert got["src0"] == sizes["src0"]  # rate clamped at 1
    for s in ("src1", "src2"):
        expect = weights[s] * 60
        assert abs(got[s] - expect) <= max(3, 0.25 * expect), (s, got[s], expect)
    again = {
        tuple(r)
        for r in mixture_sample(
            docs.repartition(13), "source", "doc_id", weights, target_rows=60
        ).select("doc_id").collect()
    }
    first = {tuple(r) for r in mixed.select("doc_id").collect()}
    assert first == again


def test_knn_clusters_chain_and_singletons(spark):
    """A planted chain of pairwise-near vectors collapses TRANSITIVELY into
    one cluster labeled by its min id (the property SemDeDup's partition-
    scoped grouping doesn't have), isolated vectors keep their own label,
    and passing graph= reuses a prebuilt edge frame with equal results."""
    import numpy as np

    from demo_bigdata_spark.operators.similarity import knn_clusters, knn_graph

    rng = np.random.RandomState(9)
    base = rng.randn(16)
    rows = []
    v = base.copy()
    for i in range(6):  # chain: each link ~cos 0.99 to the next, ends far apart
        rows.append((i, [float(x) for x in v / np.linalg.norm(v)]))
        v = v + rng.randn(16) * 0.08
    for i in range(6, 10):  # isolated satellites
        u = rng.randn(16) * 5
        rows.append((i, [float(x) for x in u / np.linalg.norm(u)]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {r["vec_id"]: r["cluster_id"] for r in knn_clusters(df, k=2, threshold=0.9).collect()}
    assert set(got) == set(range(10))
    assert all(got[i] == 0 for i in range(6)), got  # whole chain -> min id 0
    g = knn_graph(df, k=2)
    again = {
        r["vec_id"]: r["cluster_id"]
        for r in knn_clusters(df, k=2, threshold=0.9, graph=g).collect()
    }
    assert again == got


def test_rp_topk_refine_semantics(spark, sf_dir):
    """rp_topk contract: refine=corpus degenerates to EXACT brute force
    (the rerank sees everything), recall grows with refine depth, every
    returned cosine is the true cosine, and a wrong query dim raises.
    On isotropic random vectors JL recall at small refine is modest BY
    NATURE (true top-10 cosines bunch inside the distortion) — refine is
    the recall knob, and that is asserted, not assumed."""
    import pytest

    from demo_bigdata_spark.operators.similarity import brute_force_topk, rp_topk

    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.count()
    qv = [float(x) for x in emb.filter(F.col("vec_id") == 0).head()["embedding"]]
    exact = [(r["vec_id"], r["cosine"]) for r in brute_force_topk(emb, qv, k=10).collect()]
    full = [
        (r["vec_id"], r["cosine"])
        for r in rp_topk(emb, qv, k=10, out_dim=16, refine=n).collect()
    ]
    assert full == exact  # refine = corpus -> exact search
    exact_ids = {i for i, _ in exact}
    r50 = {r["vec_id"] for r in rp_topk(emb, qv, k=10, out_dim=16, refine=50).collect()}
    r200 = {r["vec_id"] for r in rp_topk(emb, qv, k=10, out_dim=16, refine=200).collect()}
    assert len(r200 & exact_ids) >= len(r50 & exact_ids)
    true_cos = dict(exact)
    for r in rp_topk(emb, qv, k=10, out_dim=16, refine=50).collect():
        if r["vec_id"] in true_cos:
            assert r["cosine"] == true_cos[r["vec_id"]]
    with pytest.raises(ValueError, match="query dim"):
        rp_topk(emb, [1.0, 2.0], k=5)
    # project-once-query-many: a stored projection gives identical results
    from demo_bigdata_spark.operators.similarity import random_projection

    stored = random_projection(emb, out_dim=16).localCheckpoint()
    via_proj = [
        tuple(r)
        for r in rp_topk(emb, qv, k=10, out_dim=16, refine=50, proj=stored).collect()
    ]
    direct = [
        tuple(r) for r in rp_topk(emb, qv, k=10, out_dim=16, refine=50).collect()
    ]
    assert via_proj == direct


def test_kcenter_select_matches_python_reference(spark):
    """Greedy farthest-point selection == a python replica of the same
    deterministic rule (max-norm seed, 1 - round(cos,4) distance, id
    ties) on planted clusters — and the first picks land in DISTINCT
    clusters (the diversity property that motivates the operator)."""
    import numpy as np

    from demo_bigdata_spark.operators.similarity import kcenter_select

    rng = np.random.RandomState(5)
    dirs = [np.array([1, 0, 0, 0.0]), np.array([0, 1, 0, 0.0]), np.array([0, 0, 1, 0.0])]
    rows = []
    vid = 0
    for d in dirs:
        for _ in range(12):
            v = d * 5 + rng.randn(4) * 0.05
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = [(r["vec_id"], r["ord"], r["min_dist"]) for r in kcenter_select(df, k=3).collect()]

    V = {i: np.array(v) for i, v in rows}
    norms = {i: round(float(np.linalg.norm(v)), 4) for i, v in V.items()}
    seed = min(V, key=lambda i: (-norms[i], i))
    chosen = [(seed, 0.0)]
    for _ in range(2):
        best = None
        for i in sorted(V):
            if i in [c for c, _ in chosen]:
                continue
            dmin = round(
                min(
                    1 - round(float(V[i] @ V[c] / (np.linalg.norm(V[i]) * np.linalg.norm(V[c]))), 4)
                    for c, _ in chosen
                ),
                4,
            )
            if best is None or dmin > best[1]:
                best = (i, dmin)
        chosen.append(best)
    ref = [(c, i + 1, d) for i, (c, d) in enumerate(chosen)]
    assert got == ref
    # diversity: the 3 picks come from the 3 planted clusters
    assert {c // 12 for c, _, _ in got} == {0, 1, 2}
    import pytest

    with pytest.raises(ValueError):
        kcenter_select(df, k=0)


def test_top_fraction_per_group_semantics(spark, sf_dir):
    """Per-group percentile filter: kept counts track keep_frac per group
    (percent_rank <= f), ascending mode selects the other tail, results
    are partition-layout invariant, and a bad fraction raises."""
    import pytest

    from demo_bigdata_spark.operators.sampling import top_fraction_per_group

    docs = load_table(spark, sf_dir, "documents")
    sizes = {r["lang"]: r["n"] for r in docs.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    kept = top_fraction_per_group(docs, "lang", "n_chars", 0.30, "doc_id")
    got = {r["lang"]: r["n"] for r in kept.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    for lang, n in sizes.items():
        # percent_rank <= f keeps floor(f*(n-1))+1 rows
        assert got[lang] == int(0.30 * (n - 1)) + 1, (lang, got[lang], n)
    lo = top_fraction_per_group(docs, "lang", "n_chars", 0.30, "doc_id", ascending=True)
    hi_min = kept.groupBy("lang").agg(F.min("n_chars").alias("m")).collect()
    lo_max = {r["lang"]: r["m"] for r in lo.groupBy("lang").agg(F.max("n_chars").alias("m")).collect()}
    for r in hi_min:
        assert lo_max[r["lang"]] <= r["m"]  # tails don't cross
    again = {
        r["doc_id"]
        for r in top_fraction_per_group(
            docs.repartition(17), "lang", "n_chars", 0.30, "doc_id"
        ).select("doc_id").collect()
    }
    assert again == {r["doc_id"] for r in kept.select("doc_id").collect()}
    with pytest.raises(ValueError):
        top_fraction_per_group(docs, "lang", "n_chars", 0.0, "doc_id")


def test_knn_graph_exact_matches_reference_with_ties(spark):
    """Exact kNN graph == a python brute-force reference on a corpus built
    to stress the block cut: 10 IDENTICAL vectors (mass cosine ties that
    straddle hash blocks) among 30 — the exact per-block top-k cut must
    resolve mass ties by dst asc (the rank epsilon) and never lose a
    candidate the deterministic (desc cosine, dst asc) global order picks."""
    import numpy as np

    from demo_bigdata_spark.operators.similarity import knn_graph

    rng = np.random.RandomState(7)
    vecs = [rng.randn(8) for _ in range(20)] + [np.ones(8)] * 10
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    k = 3
    V = np.array(vecs)
    Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
    cos = np.round(Vn @ Vn.T, 4)
    np.fill_diagonal(cos, -np.inf)
    ref = {}
    for i in range(len(vecs)):
        order = sorted(range(len(vecs)), key=lambda j: (-cos[i, j], j))[:k]
        ref[i] = [(j, cos[i, j], r + 1) for r, j in enumerate(order)]
    got = {}
    for r in knn_graph(df, k=k, n_blocks=4).collect():
        got.setdefault(r["src"], []).append((r["dst"], r["cosine"], r["rank"]))
    assert got == ref


def test_knn_graph_ivf_planted_clusters(spark):
    """On well-separated planted clusters, single-probe IVF recovers the
    exact graph perfectly (neighbors live in the probed cluster by
    construction) and returns only true cosines."""
    import numpy as np

    from demo_bigdata_spark.operators.similarity import (
        knn_graph,
        knn_graph_ivf,
        train_ivf_centroids,
    )

    rng = np.random.RandomState(11)
    centers = [np.zeros(8), np.ones(8) * 10, -np.ones(8) * 10]
    for c in centers:
        c[0] += 30  # push away from the origin so cosine separates clusters
    rows = []
    vid = 0
    for c in centers:
        for _ in range(15):
            rows.append((vid, [float(x) for x in c + rng.randn(8) * 0.05]))
            vid += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    C = train_ivf_centroids(df, n_centroids=3, iterations=4, seed=3, dim=8)
    exact = {(r["src"], r["dst"]) for r in knn_graph(df, k=4).collect()}
    approx = {(r["src"], r["dst"], r["cosine"]) for r in knn_graph_ivf(df, C, k=4, n_probe=1).collect()}
    assert {(s, d) for s, d, _ in approx} == exact
    V = {i: np.array(v) for i, v in rows}
    for s, d, c in approx:
        t = round(float(V[s] @ V[d] / (np.linalg.norm(V[s]) * np.linalg.norm(V[d]))), 4)
        assert abs(c - t) < 1e-9, (s, d, c, t)


def test_random_projection_parity_quality_and_plan(spark, sf_dir):
    """GEMM and expression paths agree bit-for-bit (integer arithmetic, no
    summation-order sensitivity); projected cosine tracks true cosine with
    error shrinking as out_dim grows (JL); the GEMM plan is map-only (zero
    Exchange); a wrong declared dim raises inside the task."""
    import numpy as np
    import pytest

    from demo_bigdata_spark.operators.similarity import random_projection

    emb = load_table(spark, sf_dir, "embeddings")
    gemm = {r["vec_id"]: list(r["rvec"]) for r in random_projection(emb, out_dim=8).collect()}
    expr = {
        r["vec_id"]: list(r["rvec"])
        for r in random_projection(emb, out_dim=8, method="expr").collect()
    }
    assert gemm == expr and len(gemm) > 0

    vecs = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64) for r in emb.limit(40).collect()}
    ids = sorted(vecs)[:20]

    def _mean_err(out_dim):
        proj = {
            r["vec_id"]: np.array(r["rvec"], dtype=np.float64)
            for r in random_projection(emb, out_dim=out_dim).collect()
        }
        errs = []
        for a in ids:
            for b in ids:
                if a >= b:
                    continue
                va, vb, pa, pb = vecs[a], vecs[b], proj[a], proj[b]
                t = va @ vb / (np.linalg.norm(va) * np.linalg.norm(vb))
                p = pa @ pb / (np.linalg.norm(pa) * np.linalg.norm(pb) + 1e-12)
                errs.append(abs(t - p))
        return float(np.mean(errs))

    e8, e32 = _mean_err(8), _mean_err(32)
    assert e32 < e8, (e8, e32)  # more dims -> better geometry preservation
    assert e32 < 0.15, e32  # JL at 32 dims is a usable candidate-gen signal

    plan = random_projection(emb, out_dim=8)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    with pytest.raises(Exception, match="dim mismatch"):
        random_projection(emb, out_dim=4, dim=32).collect()
    with pytest.raises(ValueError, match="unknown method"):
        random_projection(emb, out_dim=4, method="nope")


def test_stratified_sample_rates_nesting_and_plan(spark, sf_dir):
    """Per-stratum keep rates land near the requested fractions; unlisted
    strata keep default_fraction; shrinking a fraction yields a strict
    SUBSET (content-addressed nesting); the plan is a map-only filter —
    zero Exchange, zero Join; bad fractions raise."""
    import pytest

    from demo_bigdata_spark.operators.sampling import stratified_sample

    docs = load_table(spark, sf_dir, "documents")
    sizes = {r["lang"]: r["n"] for r in docs.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    kept = stratified_sample(docs, "lang", "doc_id", {"en": 0.2, "zh": 0.5})
    got = {r["lang"]: r["n"] for r in kept.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    for lang, frac in (("en", 0.2), ("zh", 0.5)):
        expect = frac * sizes[lang]
        assert abs(got[lang] - expect) <= max(3, 0.3 * expect), (lang, got[lang], expect)
    for lang in set(sizes) - {"en", "zh"}:
        assert got[lang] == sizes[lang]  # default keeps everything
    smaller = {
        r["doc_id"]
        for r in stratified_sample(docs, "lang", "doc_id", {"en": 0.1, "zh": 0.5}).select("doc_id").collect()
    }
    first = {r["doc_id"] for r in kept.select("doc_id").collect()}
    assert smaller < first  # nested: a lower rate drops a suffix of buckets
    plan = kept._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "Join" not in plan, plan
    with pytest.raises(ValueError):
        stratified_sample(docs, "lang", "doc_id", {"en": 1.5})
    with pytest.raises(ValueError):
        stratified_sample(docs, "lang", "doc_id", {}, default_fraction=-0.1)


def test_gopher_rules_on_crafted_docs(spark):
    """Gopher gate semantics: repetition, symbol spam, bullets, and
    stopword-free docs are dropped for the right named reason; clean prose
    passes every flag."""
    from demo_bigdata_spark.operators.text import gopher_filter, repetition_features

    clean = (
        "the quick brown fox likes to be of service and that is why we have "
        "fun with all the other animals in the forest every single day"
    )
    docs = [
        (1, clean),
        (2, "spam spam spam spam spam spam spam spam spam spam spam spam"),
        (3, "- a\n- b\n- c\n- d\n- e\n- f\n- g\n- h\n- i\n- j\nthe end of that be to have with and"),
        (4, "#### #### #### the cat and the dog be of that to have with words words"),
        (5, "dup line\ndup line\ndup line\ndup line\nthe end to be of and that have with more words here"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {r["doc_id"]: r for r in gopher_filter(df).collect()}

    assert got[1]["keep"] and all(
        got[1][f] for f in got[1].asDict() if f.startswith("ok_")
    )
    assert not got[2]["keep"] and not got[2]["ok_bigram_rep"] and not got[2]["ok_stopwords"]
    assert not got[3]["keep"] and not got[3]["ok_bullets"]
    assert got[3]["bullet_line_frac"] > 0.9
    assert not got[4]["keep"] and not got[4]["ok_symbols"]
    assert not got[5]["keep"] and not got[5]["ok_dup_lines"]

    rep = {r["doc_id"]: r for r in repetition_features(df).collect()}
    assert rep[5]["dup_line_frac"] == 0.6  # 5 lines, 2 distinct
    assert rep[2]["top_bigram_frac"] > 1.0  # overlapping bigram saturation
    assert rep[1]["dup_line_frac"] == 0.0


def test_winnow_fingerprints_match_reference(spark):
    """Winnowed fingerprint sets must equal a brute-force Python
    reimplementation (set of k-gram-hash window minima), including the
    short-document edge cases (fewer grams than the window; text shorter
    than k)."""
    import hashlib

    from demo_bigdata_spark.operators.dedup import winnow_fingerprints

    def ref(text, k=5, w=4):
        norm = text.strip().lower()
        if len(norm) < k:
            return set()
        grams = [
            int(hashlib.md5(norm[i : i + k].encode()).hexdigest()[:7], 16)
            for i in range(len(norm) - k + 1)
        ]
        if len(grams) < w:
            return {min(grams)}
        return {min(grams[j : j + w]) for j in range(len(grams) - w + 1)}

    docs = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "abcdefg"),
        (3, "abcde"),   # exactly one gram
        (4, "abcd"),    # shorter than k -> no fingerprints
        (5, "aaaaaaaaaaaaaaaa"),  # constant grams -> one distinct fp
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got: dict[int, set] = {}
    for r in winnow_fingerprints(df).collect():
        got.setdefault(r["doc_id"], set()).add(r["fp"])
    for doc_id, text in docs:
        expected = ref(text)
        assert got.get(doc_id, set()) == expected, f"doc {doc_id}"
    assert 4 not in got
    assert len(got[5]) == 1


def test_winnow_overlap_detects_shared_substring(spark):
    """Two documents sharing a long substring must share fingerprints
    (winnowing guarantee: any common substring of length >= k+w-1 yields a
    shared print); disjoint documents must not pair."""
    from demo_bigdata_spark.operators.dedup import winnow_overlap_pairs

    shared = "this exact phrase appears verbatim in both documents here"
    docs = [
        (1, "prefix one " + shared + " suffix alpha"),
        (2, "completely different lead-in " + shared + " and another tail"),
        (3, "nothing in common with the others at all whatsoever zzz"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    pairs = {
        (r["id_a"], r["id_b"]): r["n_shared"]
        for r in winnow_overlap_pairs(df, min_shared=2).collect()
    }
    assert (1, 2) in pairs and pairs[(1, 2)] >= 2
    assert all(3 not in p for p in pairs)


def test_exact_dedup_keep_best_semantics(spark):
    """keep-best dedup picks the highest score, then the highest id on
    score ties — never an arbitrary representative."""
    from demo_bigdata_spark.operators.dedup import exact_dedup_keep_best

    docs = [
        (1, "same text here", 10),
        (2, "same text here", 30),
        (3, "same text here", 30),   # score tie with 2 -> keep id 3
        (4, "unique document", 5),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string, score long")
    got = {r["keep_id"]: r for r in exact_dedup_keep_best(df, "score").collect()}
    assert set(got) == {3, 4}
    assert got[3]["n_dups"] == 3 and got[3]["keep_score"] == 30
    assert got[4]["n_dups"] == 1


def test_remove_common_lines(spark):
    """Lines occurring >= min_count times corpus-wide are stripped; order of
    surviving lines is preserved; fully-boilerplate docs survive with empty
    text; blank lines are never counted as boilerplate."""
    from demo_bigdata_spark.operators.dedup import remove_common_lines

    boiler = "SUBSCRIBE TO OUR NEWSLETTER"
    docs = [
        (1, f"{boiler}\nreal content one\n\nreal content two\n{boiler}"),
        (2, f"intro line\n{boiler}\nbody text here"),
        (3, f"{boiler}"),
        (4, "totally unique document"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {r["doc_id"]: r for r in remove_common_lines(df, min_count=3).collect()}

    assert got[1]["clean_text"] == "real content one\n\nreal content two"
    assert got[1]["n_removed"] == 2
    assert got[2]["clean_text"] == "intro line\nbody text here"
    assert got[3]["clean_text"] == "" and got[3]["n_removed"] == 1
    assert got[4]["clean_text"] == "totally unique document"
    assert got[4]["n_removed"] == 0


def test_phrase_search_three_terms(spark, tmp_path):
    """k=3 adjacency chain on a crafted corpus: overlapping occurrences,
    repeated words, and a decoy doc containing all three terms
    NON-adjacently (the conjunctive-but-not-phrase case) must resolve
    exactly."""
    from demo_bigdata_spark.operators.index import (
        build_positional_index,
        phrase_search,
    )

    docs = [
        (1, "a b c x a b c"),          # two matches at 0 and 4
        (2, "a b x b c a"),            # has a,b,c but never "a b c"
        (3, "x x a b c"),              # one match at 2
        (4, "a a b c"),                # match at 1 (repeated first term)
        (5, "c b a"),                  # reversed — no match
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    path = str(tmp_path / "pidx")
    build_positional_index(df, path)
    got = {
        r["doc_id"]: (r["n_matches"], r["first_pos"])
        for r in phrase_search(spark, path, ["a", "b", "c"]).collect()
    }
    assert got == {1: (2, 0), 3: (1, 2), 4: (1, 1)}


def test_bpe_merge_fold_semantics(spark):
    """The merge rewrite must be boundary-aware and greedy left-to-right:
    (za, b) does NOT match rule (a, b); "a a a" with rule (a, a) merges
    only the first pair; "a b a b" merges both occurrences."""
    from demo_bigdata_spark.operators.bpe import _merge_pair

    df = spark.createDataFrame(
        [("z a b </w>",), ("za b </w>",), ("a a a </w>",), ("a b a b </w>",)],
        "sym string",
    )
    got = [r.m for r in df.select(_merge_pair(F.col("sym"), "a b", "ab").alias("m")).collect()]
    assert got == ["z ab </w>", "za b </w>", "a a a </w>", "ab ab </w>"]
    got2 = [r.m for r in df.select(_merge_pair(F.col("sym"), "a a", "aa").alias("m")).collect()]
    assert got2 == ["z a b </w>", "za b </w>", "aa a </w>", "a b a b </w>"]


def test_bpe_batch_selection_rules():
    """The batch selector's sequential-equivalence guards: stop at the
    first symbol-sharing candidate, drop ties with the stop bound, treat
    a truncated candidate list conservatively, and always fall back to
    the plain argmax rather than an empty batch."""
    from demo_bigdata_spark.operators.bpe import _select_disjoint_batch

    # disjoint prefix accepted; 'e a' shares 'a' with 'a b' -> stop at 6;
    # 'g h' (7) survives the >6 filter, 'c d' (9) and 'a b' (10) survive
    cands = [("a b", 10), ("c d", 9), ("g h", 7), ("e a", 6), ("x y", 5)]
    assert _select_disjoint_batch(cands, 16, True) == [
        ("a b", 10),
        ("c d", 9),
        ("g h", 7),
    ]
    # tie with the stop bound is dropped: 'c d' ties 'e a' at 6
    cands = [("a b", 10), ("c d", 6), ("e a", 6)]
    assert _select_disjoint_batch(cands, 16, True) == [("a b", 10)]
    # ties all the way down: plain argmax fallback
    cands = [("a b", 6), ("e a", 6)]
    assert _select_disjoint_batch(cands, 16, True) == [("a b", 6)]
    # truncated list: last candidate's count bounds the unseen tail
    cands = [("a b", 10), ("c d", 9), ("e f", 9)]
    assert _select_disjoint_batch(cands, 16, False) == [("a b", 10)]
    # exhausted list with no sharing pair: everything disjoint is safe
    assert _select_disjoint_batch(cands, 16, True) == cands
    # max_batch cap bounds the batch AND ties at the cap boundary drop
    cands = [("a b", 10), ("c d", 9), ("e f", 8)]
    assert _select_disjoint_batch(cands, 2, True) == [("a b", 10), ("c d", 9)]
    assert _select_disjoint_batch([("a b", 9), ("c d", 9), ("e f", 9)], 2, True) == [
        ("a b", 9)
    ]


def test_bpe_batched_matches_python_reference_fuzz(spark):
    """Batched training must equal a from-scratch pure-Python CLASSIC BPE
    (one merge at a time, global argmax, (count desc, pair asc) ties) on
    seeded random corpora — the sequential-equivalence proof, fuzzed.
    Small alphabets force heavy symbol-sharing between top pairs, the
    regime where a wrong stop rule would reorder merges."""
    import random

    from demo_bigdata_spark.operators.bpe import (
        END_MARK,
        bpe_apply,
        bpe_train,
        word_frequencies,
    )

    def classic(words: dict[str, int], n_merges: int):
        vocab = {tuple(w) + (END_MARK,): f for w, f in words.items()}
        rules = []
        for _ in range(n_merges):
            counts: dict[tuple[str, str], int] = {}
            for sym, f in vocab.items():
                for i in range(len(sym) - 1):
                    counts[sym[i], sym[i + 1]] = counts.get((sym[i], sym[i + 1]), 0) + f
            if not counts:
                break
            best = min(counts.items(), key=lambda kv: (-kv[1], f"{kv[0][0]} {kv[0][1]}"))
            (a, b), cnt = best
            rules.append((f"{a} {b}", a + b, cnt))
            new_vocab: dict[tuple, int] = {}
            for sym, f in vocab.items():
                out, i = [], 0
                while i < len(sym):
                    if i + 1 < len(sym) and sym[i] == a and sym[i + 1] == b:
                        out.append(a + b)
                        i += 2
                    else:
                        out.append(sym[i])
                        i += 1
                t = tuple(out)
                new_vocab[t] = new_vocab.get(t, 0) + f
            vocab = new_vocab
        return rules

    rng = random.Random(42)
    # the last two alphabets hold the line terminators U+0085, U+2028 and
    # U+2029: whitespace tokenization keeps them inside words, so each must
    # be its own initial symbol, and both bpe_apply engines must agree
    for trial, alphabet in enumerate(
        ("abc", "abcd", "abc", "abcd", "ab\x85", "a\u2028\u2029")
    ):
        words = {
            "".join(rng.choice(alphabet) for _ in range(rng.randint(1, 6))): 1
            for _ in range(40)
        }
        # corpus text: each distinct word once per count (freq 1 each here)
        docs = spark.createDataFrame(
            [(i, w) for i, w in enumerate(words)], "doc_id long, text string"
        )
        expected = [(p, m, c) for p, m, c in classic(words, 12)]
        got, _ = bpe_train(docs, n_merges=12, max_batch=8)
        assert [(p, m, c) for _, p, m, c in got] == expected, (trial, got, expected)
        if trial >= 4:
            wf = word_frequencies(docs)
            cat = {r.word: tuple(r.pieces) for r in bpe_apply(wf, got).collect()}
            arr = {
                r.word: tuple(r.pieces)
                for r in bpe_apply(wf, got, engine="arrow").collect()
            }
            assert arr == cat and len(cat) == len(words), trial


def test_bpe_batched_matches_sequential(spark, sf_dir):
    """Batched training must learn the EXACT rule sequence of the classic
    one-merge-per-round loop (the whole point of the stop rule), in far
    fewer Spark rounds."""
    import demo_bigdata_spark.operators.bpe as bpe
    from demo_bigdata_spark.sources.catalog import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    seq, _ = bpe.bpe_train(docs, n_merges=12, max_batch=1)
    assert bpe.LAST_TRAIN_ROUNDS == 12
    bat, _ = bpe.bpe_train(docs, n_merges=12, max_batch=16)
    assert bat == seq
    assert bpe.LAST_TRAIN_ROUNDS < 12


def test_bpe_arrow_engine_parity(spark, sf_dir):
    """Round-7 VERDICT item 2, pinned: bpe_apply's Arrow-batched
    mapInPandas path (engine="arrow") gives BIT-IDENTICAL piece arrays to
    the interpreted Catalyst fold on the real corpus, so the fast path can
    serve huge vocabularies with zero semantic drift. Astral-plane words
    split into the same symbols on both engines."""
    import demo_bigdata_spark.operators.bpe as bpe
    from demo_bigdata_spark.sources.catalog import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    cat_rules, _ = bpe.bpe_train(docs, n_merges=12)

    astral = spark.createDataFrame(
        [("a\U0001F600b", 1), ("\U0001D518nicode", 1)], "word string, freq bigint"
    )
    words = bpe.word_frequencies(docs).limit(500).unionByName(astral)
    cat = {
        r.word: tuple(r.pieces)
        for r in bpe.bpe_apply(words, cat_rules).collect()
    }
    arr = {
        r.word: tuple(r.pieces)
        for r in bpe.bpe_apply(words, cat_rules, engine="arrow").collect()
    }
    assert arr == cat and len(cat) >= 20
    assert "\U0001F600" in cat["a\U0001F600b"]

    # the merged symbols really show up (the rules bind)
    merged_syms = {m for _, _, m, _ in cat_rules}
    flat = {p for ps in cat.values() for p in ps}
    assert merged_syms & flat


def test_bpe_arrow_parity_with_backslash_symbols(spark):
    """Round-8 ADVICE item, pinned: a merged symbol containing a BACKSLASH
    (code, LaTeX, Windows paths) must survive the Arrow fast path — re.sub
    treats its replacement as a template, so an unescaped '\\1' would be a
    group reference and a trailing '\\' a 'bad escape' crash. Parity with
    the Catalyst fold on a backslash-bearing vocabulary is the guarantee
    the bit-identical claim rests on."""
    import demo_bigdata_spark.operators.bpe as bpe

    docs = spark.createDataFrame(
        [
            (1, r"\1x \1x \1x \\y \\y \section \section \section"),
            (2, r"\1x \\y \section \1x \section"),
        ],
        "doc_id long, text string",
    )
    cat_rules, _ = bpe.bpe_train(docs, n_merges=6)
    assert any("\\" in m for _, _, m, _ in cat_rules), (
        "fixture failed to learn a backslash-bearing merge symbol"
    )
    words = bpe.word_frequencies(docs)
    cat = {
        r.word: tuple(r.pieces)
        for r in bpe.bpe_apply(words, cat_rules).collect()
    }
    arr = {
        r.word: tuple(r.pieces)
        for r in bpe.bpe_apply(words, cat_rules, engine="arrow").collect()
    }
    assert arr == cat


def test_bpe_apply_engines_bound_symbols_by_the_space_delimiter(spark):
    """A merged symbol may contain U+0085, which Python's \\s matches: the
    Arrow rewrite must still bound symbols by the space delimiter alone,
    so the rule (b, a) does not merge the 'b' inside the symbol '\\x85b'."""
    import demo_bigdata_spark.operators.bpe as bpe

    rules = [(1, "\x85 b", "\x85b", 1), (2, "b a", "ba", 1)]
    words = spark.createDataFrame([("\x85baba", 1)], "word string, freq bigint")
    for engine in ("catalyst", "arrow"):
        got = [tuple(r.pieces) for r in bpe.bpe_apply(words, rules, engine=engine).collect()]
        assert got == [("\x85b", "a", "ba", "</w>")], engine


def test_cdc_chunks_edit_locality(spark):
    """The CDC property: prepending text must leave every chunk after the
    first original boundary byte-identical (boundaries depend only on the
    trailing gram), so chunk-level dedup still matches the shared suffix —
    exactly what fixed-size chunking loses on any insertion."""
    import hashlib

    from demo_bigdata_spark.operators.text import cdc_chunks

    s = "".join(
        chr(ord("a") + b % 26)
        for i in range(0, 600, 32)
        for b in hashlib.md5(str(i).encode()).digest()[:16]
    )[:600]
    docs = spark.createDataFrame(
        [(1, s), (2, "inserted prefix text " + s)], "doc_id long, text string"
    )
    got = cdc_chunks(docs).collect()
    h1 = [r.chunk_md5 for r in sorted((r for r in got if r.doc_id == 1), key=lambda r: r.chunk_idx)]
    h2 = {r.chunk_md5 for r in got if r.doc_id == 2}
    assert len(h1) >= 3, "test string produced too few chunks to be meaningful"
    missing = [h for h in h1[1:] if h not in h2]
    assert not missing, f"{len(missing)}/{len(h1) - 1} suffix chunks lost"


def test_spread_for_cpu_guards(spark, sf_dir):
    """spread_for_cpu must widen thin inputs to core count, leave
    already-wide inputs untouched (no gratuitous corpus shuffle on real
    many-split tables), and pass streaming frames through unmodified."""
    from demo_bigdata_spark.functions.scalar import spread_for_cpu
    from demo_bigdata_spark.sources.catalog import load_table

    par = spark.sparkContext.defaultParallelism
    thin = load_table(spark, sf_dir, "documents")
    assert thin.rdd.getNumPartitions() < par  # precondition of the probe
    assert spread_for_cpu(thin, min_bytes=0).rdd.getNumPartitions() == par

    wide = thin.repartition(par + 7)
    spread = spread_for_cpu(wide, min_bytes=0)
    assert spread is wide  # untouched, not merely same count

    # KB-scale frames skip the spread: 32 tasks of overhead beat nothing
    tiny = spark.range(100).selectExpr("id", "repeat('x', 10) AS text")
    assert spread_for_cpu(tiny) is tiny

    stream = (
        spark.readStream.schema(thin.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(sf_dir)
    )
    assert spread_for_cpu(stream) is stream


def test_spread_for_cpu_launches_no_job(spark, sf_dir):
    """spread_for_cpu decides without running its input: a grouped frame
    (its partition count is AQE's to decide at run time) comes back
    untouched with zero Spark jobs launched, and a one-file scan is still
    counted and widened to defaultParallelism, also without a job."""
    import uuid

    from demo_bigdata_spark.functions.scalar import spread_for_cpu

    sc = spark.sparkContext

    def jobs_in(fn):
        group = f"spread-{uuid.uuid4().hex}"
        sc.setJobGroup(group, "spread_for_cpu job count")
        try:
            out = fn()
        finally:
            sc.setJobGroup(None, None)
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    grouped = spark.range(200_000).groupBy((F.col("id") % 1000).alias("k")).count()
    out, jobs = jobs_in(lambda: spread_for_cpu(grouped))
    assert out is grouped and jobs == 0

    thin = load_table(spark, sf_dir, "documents")
    out, jobs = jobs_in(lambda: spread_for_cpu(thin, min_bytes=0))
    assert jobs == 0
    assert out.rdd.getNumPartitions() == sc.defaultParallelism


def test_warm_curation_chain_compiles_no_new_class(spark, sf_dir):
    """The generated-class cache holds a whole corpus-curation chain (URL,
    exact, near-dup CC, Gopher, mixture): a second identical run reuses
    its generated classes. At Spark's default 100 entries the second run
    recompiled 94 of the first run's 124. A few recompiles remain possible:
    adaptive execution can turn a join into a broadcast join on one run
    and not the other, which generates a differently shaped stage (seen:
    0 to 4 per run)."""
    from demo_bigdata_spark.suites.suite_llm import q_corpus_pipeline_v5

    compiled = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    compiled = compiled.METRIC_COMPILATION_TIME()
    first = sorted(q_corpus_pipeline_v5(spark, sf_dir).collect())
    before = compiled.getCount()
    second = sorted(q_corpus_pipeline_v5(spark, sf_dir).collect())
    assert second == first and first
    assert compiled.getCount() - before <= 10


def test_scd2_merge_versioning_chain(spark):
    """Multi-batch SCD2: latest-update-wins within a batch, no-op updates
    leave the version chain untouched, real changes close the open row
    and append — history is never rewritten."""
    from demo_bigdata_spark.operators.relational import scd2_merge

    dim = spark.createDataFrame(
        [(1, "A", "d0", None), (2, "X", "d0", None)],
        "k long, seg string, valid_from string, valid_to string",
    )
    b1 = spark.createDataFrame(
        [(1, "C", "d1"), (1, "B", "d2")], "k long, seg string, ts string"
    )  # two updates for key 1: d2 (B) is latest and must win
    v1 = scd2_merge(dim, b1, "k", ["seg"], "ts")
    got1 = {tuple(r) for r in v1.collect()}
    assert got1 == {
        (1, "A", "d0", "d2"),
        (1, "B", "d2", None),
        (2, "X", "d0", None),
    }

    b2 = spark.createDataFrame([(1, "B", "d3")], "k long, seg string, ts string")
    v2 = scd2_merge(v1, b2, "k", ["seg"], "ts")  # no-op: same attrs
    assert {tuple(r) for r in v2.collect()} == got1

    b3 = spark.createDataFrame(
        [(1, "D", "d4"), (3, "N", "d4")], "k long, seg string, ts string"
    )  # change + brand-new key
    v3 = scd2_merge(v2, b3, "k", ["seg"], "ts")
    assert {tuple(r) for r in v3.collect()} == {
        (1, "A", "d0", "d2"),
        (1, "B", "d2", "d4"),
        (1, "D", "d4", None),
        (2, "X", "d0", None),
        (3, "N", "d4", None),
    }


def test_scd2_merge_new_key_all_null_attrs(spark):
    """A brand-new key whose update attributes are all NULL must produce
    exactly ONE new open row (with the NULL attrs) — not an extra
    all-NULL phantom row from the full-outer join's unmatched side
    (eqNullSafe of absent-open-row NULLs against NULL attrs is true, so
    kept_open needs the open-row-exists guard)."""
    from demo_bigdata_spark.operators.relational import scd2_merge

    dim = spark.createDataFrame(
        [(1, "A", "d0", None)],
        "k long, seg string, valid_from string, valid_to string",
    )
    upd = spark.createDataFrame(
        [(2, None, "d1")], "k long, seg string, ts string"
    )
    out = scd2_merge(dim, upd, "k", ["seg"], "ts")
    got = {tuple(r) for r in out.collect()}
    assert got == {
        (1, "A", "d0", None),
        (2, None, "d1", None),
    }
    # and no row with a NULL key ever appears
    assert out.filter(F.col("k").isNull()).count() == 0


def test_bm25_indexed_matches_scan_with_empty_docs(spark, tmp_path):
    """The doclens side table writes dl=0 rows for zero-token docs, so
    indexed BM25's N/avgdl equal the scan path's documents-table stats —
    scores must be identical on a corpus containing empty docs."""
    from demo_bigdata_spark.operators.index import (
        bm25_rank_indexed,
        build_inverted_index,
    )
    from demo_bigdata_spark.operators.ranking import bm25_rank

    docs = spark.createDataFrame(
        [
            (1, "spark joins shuffle data"),
            (2, "spark spark streaming"),
            (3, ""),  # zero-token doc
            (4, "   "),  # whitespace-only doc
            (5, "batch joins and spark joins"),
        ],
        "doc_id long, text string",
    )
    path = str(tmp_path / "idx")
    build_inverted_index(docs, path)
    terms = ["spark", "joins"]
    scan = {tuple(r) for r in bm25_rank(docs, terms).collect()}
    indexed = {tuple(r) for r in bm25_rank_indexed(spark, path, terms).collect()}
    assert scan == indexed and scan


def test_train_quality_classifier_separates(spark, sf_dir):
    """End-to-end learned quality filter: train logistic weights on
    gopher-gated docs (positives) vs synthetic symbol-noise docs
    (negatives), then score a held-out mix — the trained classifier must
    separate cleanly (every held-out clean doc above every noise doc).
    Determinism: same corpus -> same weights, pinned by a re-train."""
    from demo_bigdata_spark.operators.text import (
        classifier_quality_score,
        train_quality_classifier,
    )
    from demo_bigdata_spark.sources.catalog import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    pos_train = docs.filter(F.col("doc_id") % 4 != 0)
    pos_held = docs.filter(F.col("doc_id") % 4 == 0).limit(20)

    def noise(i):
        toks = [f"@@{(i * 7 + j) % 97}##{j}!!" for j in range(30)]
        return " ".join(toks)

    neg_rows = [(10_000 + i, noise(i)) for i in range(120)]
    neg_train = spark.createDataFrame(neg_rows[:100], "doc_id long, text string")
    neg_held = spark.createDataFrame(neg_rows[100:], "doc_id long, text string")

    weights = train_quality_classifier(
        pos_train, neg_train, n_buckets=512, iterations=8, lr=4.0
    )
    held = pos_held.unionByName(neg_held)
    scored = classifier_quality_score(held, weights, n_buckets=512)
    probs = {r.doc_id: r.quality_prob for r in scored.collect()}
    pos_probs = [p for d, p in probs.items() if d < 10_000]
    neg_probs = [p for d, p in probs.items() if d >= 10_000]
    assert pos_probs and neg_probs
    assert min(pos_probs) > max(neg_probs), (
        min(pos_probs),
        max(neg_probs),
    )

    # reproducibility: retraining matches to float-summation noise (the
    # per-bucket gradient is a cross-partition double sum -> ~1 ULP drift)
    w2 = train_quality_classifier(
        pos_train, neg_train, n_buckets=512, iterations=8, lr=4.0
    )
    a = {r.bucket: r.weight for r in weights.collect()}
    b = {r.bucket: r.weight for r in w2.collect()}
    assert set(a) == set(b)
    assert all(abs(a[k] - b[k]) <= 1e-9 * max(1.0, abs(a[k])) for k in a)


def test_span_dedup_semantics(spark):
    """Exact-substring span dedup (Lee et al. 2022 scaled to spans):
    cross-doc shared spans are cut from all but the corpus-first
    occurrence, overlapping flagged windows merge into one cut, within-doc
    repeats are deduped too, short and empty docs pass through, and
    keep='none' removes every occurrence including the first."""
    from demo_bigdata_spark.operators.dedup import span_dedup

    docs = [
        (1, "a b c d e f g h"),        # first occurrence of both shared spans
        (2, "x a b c d e f y"),        # shares "a b c d e" and "b c d e f"
        (3, "short one"),              # < window tokens: untouched
        (4, ""),                       # empty doc survives as empty
        (5, "p q r s t z p q r s t"),  # within-doc repeat of "p q r s t"
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {r["doc_id"]: r for r in span_dedup(df, window=5).collect()}

    assert got[1]["clean_text"] == "a b c d e f g h" and got[1]["n_removed"] == 0
    # doc 2: flagged starts 1 and 2 merge to cover tokens [1, 6]
    assert got[2]["clean_text"] == "x y" and got[2]["n_removed"] == 6
    assert got[3]["clean_text"] == "short one" and got[3]["n_removed"] == 0
    assert got[4]["n_tokens"] == 0 and got[4]["n_removed"] == 0
    assert got[4]["clean_text"] == ""
    # doc 5: second in-doc occurrence (pos 6) cut, first kept
    assert got[5]["clean_text"] == "p q r s t z" and got[5]["n_removed"] == 5

    none = {r["doc_id"]: r for r in span_dedup(df, window=5, keep="none").collect()}
    assert none[5]["clean_text"] == "z" and none[5]["n_removed"] == 10
    assert none[2]["clean_text"] == "x y"
    # doc 1's spans were also flagged under keep='none'
    assert none[1]["n_removed"] > 0

    import pytest

    with pytest.raises(ValueError):
        span_dedup(df, keep="second")


def test_bigram_lm_exact_values(spark):
    """train_bigram_lm + bigram_nll_score on a hand-checkable corpus:
    in-domain bigrams score p=(c12+1)/(c1+V); unseen bigrams fall to the
    smoothed floor 1/V and score higher — the CCNet perplexity gate."""
    from demo_bigdata_spark.operators.text import (
        bigram_nll_score,
        train_bigram_lm,
    )

    ref = spark.createDataFrame(
        [(1, "the cat sat")], "doc_id long, text string"
    )
    c12, c1, vocab = train_bigram_lm(ref)
    assert {tuple(r) for r in c12.collect()} == {
        ("the", "cat", 1), ("cat", "sat", 1)
    }
    assert vocab.first()["v"] == 3

    score = spark.createDataFrame(
        [(10, "the cat sat"), (11, "dog ran fast"), (12, "solo")],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: r for r in bigram_nll_score(score, c12, c1, vocab).collect()
    }
    # seen bigrams: p = (1+1)/(1+3) = 0.5 -> nll = 1.0
    assert got[10]["mean_nll"] == 1.0 and got[10]["n_bigrams"] == 2
    # unseen bigram, unseen context: p = 1/V = 1/3 -> nll = log2(3)
    assert got[11]["mean_nll"] == 1.585 and got[11]["n_bigrams"] == 2
    # single-token docs have no bigram evidence and are not scored
    assert 12 not in got


def test_dsir_weights_and_select(spark):
    """DSIR hashed-bigram importance weights: docs made of target-domain
    bigrams outweigh junk docs, and dsir_select picks the top-k
    deterministically (weight desc, id tiebreak)."""
    from demo_bigdata_spark.operators.sampling import (
        dsir_logratio_table,
        dsir_select,
        dsir_weights,
    )

    target = spark.createDataFrame(
        [(100 + i, "good clean prose flows here") for i in range(5)],
        "doc_id long, text string",
    )
    junk = spark.createDataFrame(
        [(200 + i, "zz qq vv kk jj xx") for i in range(5)],
        "doc_id long, text string",
    )
    raw = target.union(junk)
    lr = dsir_logratio_table(raw, target, n_buckets=256)
    w = dsir_weights(raw, lr, n_buckets=256)
    got = {r["doc_id"]: r["log_weight"] for r in w.collect()}
    assert got[100] > got[200]
    assert got[100] > 0 > got[200]

    picked = dsir_select(raw, w, k=6).select("doc_id").collect()
    ids = sorted(r["doc_id"] for r in picked)
    # all five target docs (equal weight, id tiebreak) + the lowest-id junk
    assert ids == [100, 101, 102, 103, 104, 200]


def test_semantic_dedup_survivors_superset_of_exact(spark, sf_dir):
    """SemDeDup's within-cluster neighbor set is a subset of the global
    one, so its drop set must be a SUBSET of the exact all-pairs drop set
    (survivors a superset) — with nonzero recall at the suite threshold
    (sign-LSH theory: per-plane collision (1 - theta/pi); six planes at
    cosine 0.35 -> single-digit-percent recall, rising steeply as the
    threshold tightens toward near-identical pairs)."""
    from demo_bigdata_spark.operators.similarity import all_pairs_above, semantic_dedup
    from demo_bigdata_spark.sources.catalog import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    n_total = emb.count()
    exact_dropped = {
        r["id_b"]
        for r in all_pairs_above(emb, 0.35).select("id_b").distinct().collect()
    }
    surv = semantic_dedup(emb, 0.35, n_planes=6)
    surv_ids = {r["vec_id"] for r in surv.select("vec_id").collect()}
    all_ids = {r["vec_id"] for r in emb.select("vec_id").collect()}
    assert len(all_ids) == n_total
    sem_dropped = all_ids - surv_ids
    assert sem_dropped <= exact_dropped, "semantic dedup dropped a non-near-dup"
    assert exact_dropped, "threshold too high: exact dedup found nothing"
    recall = len(sem_dropped) / len(exact_dropped)
    assert recall >= 0.05, f"recall {recall:.3f} below floor"
    # every survivor carries its cluster id
    assert surv.columns[-1] == "cluster" or "cluster" in surv.columns


def test_multi_query_topk_equals_per_query_brute_force(spark, sf_dir):
    """r10: the one-scan batched ANN must return, for every query vector,
    exactly what brute_force_topk returns for that query alone (same
    cosines at round-4, same id tiebreak) — and scale Q without extra
    scans (asserted structurally: one mapInPandas over the corpus)."""
    from demo_bigdata_spark.operators.similarity import (
        brute_force_topk,
        multi_query_topk,
    )
    from demo_bigdata_spark.sources.catalog import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    qrows = emb.filter(F.col("vec_id").isin(0, 5, 9)).collect()
    qvecs = {
        int(r["vec_id"]): [float(x) for x in r["embedding"]] for r in qrows
    }
    batched = multi_query_topk(emb, qvecs, k=10)
    got = {}
    for r in batched.collect():
        got.setdefault(r["query_id"], []).append((r["vec_id"], r["cosine"]))
    assert set(got) == set(qvecs)
    for qid, qv in qvecs.items():
        want = [
            (r["vec_id"], r["cosine"])
            for r in brute_force_topk(emb, qv, k=10).collect()
        ]
        assert got[qid] == want, qid
    # one corpus scan regardless of Q (AQE repeats the plan under an
    # "Initial Plan" section — count only the final plan)
    plan = batched._jdf.queryExecution().executedPlan().toString()
    final = plan.split("Initial Plan")[0]
    assert final.count("FileScan") <= 1, final


def test_multi_query_ivf_topk_equals_per_query(spark, sf_dir):
    """r10: batched IVF (one pruned scan for Q queries, per-query probe
    masks inside the GEMM) must equal per-query ivf_topk exactly — same
    ids, same round-4 cosines, including queries whose probe sets only
    partially overlap."""
    from demo_bigdata_spark.operators.similarity import (
        ivf_topk,
        multi_query_ivf_topk,
        train_ivf_centroids,
    )
    from demo_bigdata_spark.sources.catalog import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    C = train_ivf_centroids(emb, n_centroids=8, iterations=2)
    qrows = emb.filter(F.col("vec_id").isin(0, 5, 9)).collect()
    qvecs = {
        int(r["vec_id"]): [float(x) for x in r["embedding"]] for r in qrows
    }
    batched = multi_query_ivf_topk(emb, C, qvecs, k=10, n_probe=3)
    got = {}
    for r in batched.collect():
        got.setdefault(r["query_id"], []).append((r["vec_id"], r["cosine"]))
    for qid, qv in qvecs.items():
        want = [
            (r["vec_id"], r["cosine"])
            for r in ivf_topk(emb, C, qv, k=10, n_probe=3).collect()
        ]
        assert got.get(qid, []) == want, qid


def test_multi_query_ivf_indexed_equals_per_query(spark, sf_dir, tmp_path):
    """r10: batched IVF against the PERSISTED index (one partition-pruned
    scan of the union probe set) must equal per-query ivf_topk_indexed
    exactly."""
    from demo_bigdata_spark.operators.similarity import (
        build_ivf_index,
        ivf_topk_indexed,
        multi_query_ivf_topk_indexed,
        train_ivf_centroids,
    )
    from demo_bigdata_spark.sources.catalog import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    C = train_ivf_centroids(emb, n_centroids=8, iterations=2)
    path = str(tmp_path / "mq_idx")
    build_ivf_index(emb, C, path)
    qrows = emb.filter(F.col("vec_id").isin(0, 5, 9)).collect()
    qvecs = {
        int(r["vec_id"]): [float(x) for x in r["embedding"]] for r in qrows
    }
    batched = multi_query_ivf_topk_indexed(spark, path, C, qvecs, k=10, n_probe=3)
    got = {}
    for r in batched.collect():
        got.setdefault(r["query_id"], []).append((r["vec_id"], r["cosine"]))
    for qid, qv in qvecs.items():
        want = [
            (r["vec_id"], r["cosine"])
            for r in ivf_topk_indexed(spark, path, C, qv, k=10, n_probe=3).collect()
        ]
        assert got.get(qid, []) == want, qid


def test_multi_query_pq_indexed_equals_per_query(spark, sf_dir, tmp_path):
    """r10: batched ADC over the persisted PQ index (one pruned codes
    scan for Q queries, per-query LUTs gathered from the same code rows,
    exact refine per query) must equal per-query ivf_pq_topk_indexed —
    same ids, same TRUE cosines."""
    from demo_bigdata_spark.operators.similarity import (
        build_ivf_pq_index,
        ivf_pq_topk_indexed,
        multi_query_pq_topk_indexed,
        train_ivf_centroids,
        train_pq_codebooks,
    )
    from demo_bigdata_spark.sources.catalog import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    C = train_ivf_centroids(emb, n_centroids=8, iterations=2)
    CB = train_pq_codebooks(emb, m=16, ks=16, iterations=2)
    path = str(tmp_path / "mqpq_idx")
    build_ivf_pq_index(emb, C, CB, path)
    qrows = emb.filter(F.col("vec_id").isin(0, 5, 9)).collect()
    qvecs = {
        int(r["vec_id"]): [float(x) for x in r["embedding"]] for r in qrows
    }
    batched = multi_query_pq_topk_indexed(
        spark, path, emb, C, CB, qvecs, k=10, n_probe=3, refine=30
    )
    got = {}
    for r in batched.collect():
        got.setdefault(r["query_id"], []).append((r["vec_id"], r["cosine"]))
    for qid, qv in qvecs.items():
        want = [
            (r["vec_id"], r["cosine"])
            for r in ivf_pq_topk_indexed(
                spark, path, emb, C, CB, qv, k=10, n_probe=3, refine=30
            ).collect()
        ]
        assert got.get(qid, []) == want, qid


def test_lsh_pairs_gemm_equals_expr(spark, sf_dir):
    """r10: lsh_pairs_above's bucket-scoped blocked-GEMM scorer (default)
    must equal the pure-Catalyst expression path exactly — pairs AND
    rounded cosines — including with many blocks per bucket. The gemm
    path's dedup shuffle carries (long, long, double) per candidate
    instead of both 64-double vectors."""
    from demo_bigdata_spark.operators.similarity import lsh_pairs_above
    from demo_bigdata_spark.sources.catalog import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    e = {
        (r.id_a, r.id_b, r.cosine)
        for r in lsh_pairs_above(
            emb, 0.35, n_planes=4, n_tables=8, method="expr"
        ).collect()
    }
    for kw in (dict(), dict(block_size=7)):
        g = {
            (r.id_a, r.id_b, r.cosine)
            for r in lsh_pairs_above(
                emb, 0.35, n_planes=4, n_tables=8, **kw
            ).collect()
        }
        assert g == e and g, kw


def test_semantic_dedup_gemm_equals_expr(spark, sf_dir):
    """r10: the blocked-GEMM within-cluster pair stage (default) and the
    pure-Catalyst expression self-join must produce the IDENTICAL
    survivor set — same clusters, same np.round(.,4)/threshold contract
    — on both the capped-default and forced-split parameterizations."""
    from demo_bigdata_spark.operators.similarity import semantic_dedup
    from demo_bigdata_spark.sources.catalog import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    for kw in (
        dict(n_planes=6),
        dict(n_planes=2, max_cluster=15),
        dict(n_planes=6, block_size=7),  # many blocks per cluster
        dict(n_planes=6, max_cluster=None),  # uncapped opt-in
    ):
        g = {
            (r["vec_id"], r["cluster"])
            for r in semantic_dedup(emb, 0.35, **kw)
            .select("vec_id", "cluster")
            .collect()
        }
        e = {
            (r["vec_id"], r["cluster"])
            for r in semantic_dedup(emb, 0.35, pair_method="expr", **kw)
            .select("vec_id", "cluster")
            .collect()
        }
        assert g == e, kw


def test_wav_codec_roundtrip_and_quarantine(spark):
    """Round-9 VERDICT item 7: the stdlib WAV codec round-trips 16-bit
    mono samples exactly; 8-bit unsigned and stereo (floor-averaged to
    mono) decode per spec; compressed/forged/garbage payloads raise in
    decode_wav and QUARANTINE (null features + decode_error) through
    decode_audio_real instead of failing the batch."""
    import io
    import struct
    import wave as _wave

    import pytest as _pytest

    from demo_bigdata_spark.functions.wav import decode_wav, encode_wav
    from demo_bigdata_spark.operators.multimodal import decode_audio_real

    samples = [0, 100, -200, 32767, -32768, 5]
    nch, rate, mono = decode_wav(encode_wav(samples, sample_rate=16000))
    assert (nch, rate, mono) == (1, 16000, samples)

    # 8-bit unsigned
    nch, rate, mono = decode_wav(encode_wav([0, 128, 255], sampwidth=1))
    assert mono == [0, 128, 255] and nch == 1

    # stereo floor-average: (-3 + 4) // 2 == 0 (floor, not trunc)
    buf = io.BytesIO()
    with _wave.open(buf, "wb") as w:
        w.setnchannels(2)
        w.setsampwidth(2)
        w.setframerate(8000)
        w.writeframes(struct.pack("<6h", 10, 20, -3, 4, -5, -7))
    nch, rate, mono = decode_wav(buf.getvalue())
    assert nch == 2 and mono == [15, 0, -6]

    # forged frame count over budget
    with _pytest.raises(ValueError, match="over budget"):
        decode_wav(encode_wav(list(range(100))), max_frames=10)
    with _pytest.raises(ValueError, match="not a PCM WAV"):
        decode_wav(b"RIFFgarbage")

    good = encode_wav([1, -1, 2], sample_rate=8000)
    media = spark.createDataFrame(
        [(1, bytearray(good)), (2, bytearray(b"not audio"))],
        "doc_id long, payload binary",
    )
    rows = {r["doc_id"]: r for r in decode_audio_real(media).collect()}
    assert rows[1]["decode_error"] is None
    assert (rows[1]["n_samples"], rows[1]["energy_sum"]) == (3, 6)
    assert rows[1]["zero_crossings"] == 2
    assert rows[2]["decode_error"] is not None
    assert rows[2]["n_samples"] is None


def test_pq_encode_adc_exact_on_codebook_vectors(spark):
    """Round-9 VERDICT item 6, pinned: with vectors built FROM codebook
    entries, pq_encode must pick the exact entry per subspace (L2 argmin
    hits the zero-distance code) and pq_topk's asymmetric-distance cosine
    equals the true cosine bit-for-bit (reconstruction is lossless) — the
    falsifiable core of the ADC arithmetic. ivf_pq_topk then returns the
    exact brute-force top-k with true cosines; training is deterministic
    (seeded) and codes stay in [0, ks)."""
    import numpy as np

    from demo_bigdata_spark.operators import similarity as S

    m, ds, ks = 8, 8, 4
    rng = np.random.RandomState(3)
    CB = rng.randn(m, ks, ds)
    # 40 vectors, each subvector a verbatim codebook entry
    picks = rng.randint(0, ks, size=(40, m))
    vecs = [
        [float(x) for j in range(m) for x in CB[j][picks[i, j]]]
        for i in range(40)
    ]
    emb = spark.createDataFrame(
        [(i, vecs[i]) for i in range(40)], "vec_id long, embedding array<double>"
    )
    enc = S.pq_encode(emb, CB)
    got_codes = {r["vec_id"]: list(r["codes"]) for r in enc.collect()}
    assert got_codes == {i: list(picks[i]) for i in range(40)}

    q = [float(x) for x in rng.randn(m * ds)]
    adc = {r["vec_id"]: r["score"] for r in S.pq_topk(enc, CB, q, k=40).collect()}
    qn = np.linalg.norm(q)
    for i in range(40):
        v = np.array(vecs[i])
        true = float(v @ np.array(q) / (np.linalg.norm(v) * qn))
        assert abs(adc[i] - true) < 1e-12, (i, adc[i], true)

    C = S.train_ivf_centroids(emb, n_centroids=4, iterations=2)
    exact = [(r["vec_id"], r["cosine"]) for r in S.brute_force_topk(emb, q, k=5).collect()]
    got = [
        (r["vec_id"], r["cosine"])
        for r in S.ivf_pq_topk(emb, C, CB, q, k=5, n_probe=4, refine=40).collect()
    ]
    assert got == exact  # all clusters probed + lossless codes => exact

    # deterministic training, codes in range
    CB1 = S.train_pq_codebooks(emb, m=8, ks=4, iterations=2)
    CB2 = S.train_pq_codebooks(emb, m=8, ks=4, iterations=2)
    assert np.array_equal(CB1, CB2)
    codes = S.pq_encode(emb, CB1).select(F.explode("codes").alias("c"))
    mn, mx = codes.agg(F.min("c"), F.max("c")).first()
    assert 0 <= mn and mx < 4


def test_semantic_dedup_cap_bounds_dup_farm(spark):
    """Round-9 VERDICT item 1, pinned: a planted dup farm (80 identical
    vectors — same sign on EVERY plane, so no amount of semantic LSH
    refinement splits it) must be guillotined into ~ceil(n/cap) id-hash
    groups, bounding the within-cluster pair work; random vectors split
    at the semantic levels and never reach the guillotine. Capped drops
    stay a subset of the exact drop set and the split is deterministic."""
    import random

    from demo_bigdata_spark.operators.similarity import (
        _split_oversized_clusters,
        hyperplanes,
        lsh_bucket,
        semantic_dedup,
    )

    rng = random.Random(11)
    base = [rng.uniform(-1.0, 1.0) for _ in range(64)]
    rows = [(i, base, 1) for i in range(80)] + [
        (1000 + i, [rng.uniform(-1.0, 1.0) for _ in range(64)], 2)
        for i in range(40)
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int"
    )
    cap = 10
    keyed = emb.withColumn(
        "cluster", lsh_bucket(F.col("embedding"), hyperplanes(64, 2, 42))
    )
    refined = _split_oversized_clusters(
        keyed,
        cap,
        vec_col="embedding",
        id_col="vec_id",
        dim=64,
        seed=42,
        split_planes=4,
        semantic_levels=2,
    )
    sizes = {
        r["cluster"]: r["n"]
        for r in refined.groupBy("cluster").agg(F.count("*").alias("n")).collect()
    }
    # bounded pair work: no refined cluster near the farm size (md5 hash
    # imbalance allows modest overshoot past the expected <= cap)
    assert max(sizes.values()) <= int(2.5 * cap), sizes
    assert sum(n * n for n in sizes.values()) < 80 * 80 / 4
    # the farm went through all three levels (depth-3 guillotine keys);
    # ~ceil(80/10)=8 groups
    farm_keys = [k for k in sizes if k.count(".") == 3]
    assert 4 <= len(farm_keys) <= 16, sizes
    assert sum(sizes[k] for k in farm_keys) == 80

    surv = semantic_dedup(emb, 0.9, n_planes=2, max_cluster=cap)
    surv_ids = {r["vec_id"] for r in surv.select("vec_id").collect()}
    # keep-first within every refined sub-cluster: exactly one survivor
    # per farm sub-cluster (all pairwise cosines are 1.0), so the cap's
    # recall trade is len(farm_keys)-1 extra survivors, never a wrong drop
    farm_survivors = [i for i in surv_ids if i < 1000]
    assert len(farm_survivors) == len(farm_keys)
    assert 0 in surv_ids  # keep-first: the minimum id always survives
    # deterministic: identical second run
    surv2 = {
        r["vec_id"]
        for r in semantic_dedup(emb, 0.9, n_planes=2, max_cluster=cap)
        .select("vec_id")
        .collect()
    }
    assert surv2 == surv_ids


def test_soft_dedup_weights_exact_on_hand_corpus(spark):
    """Hand-checkable commonness: docs shorter than the shingle width
    collapse to one whole-text shingle, so two identical short docs share
    one shingle of df=2 (weight 1/2) and a unique doc keeps weight 1."""
    from demo_bigdata_spark.operators.dedup import shingle_hashes, soft_dedup_weights

    docs = spark.createDataFrame(
        [
            (1, "alpha beta"),
            (2, "alpha beta"),
            (3, "gamma delta"),
        ],
        "doc_id long, text string",
    )
    sh = shingle_hashes(docs, n=8)
    got = {r["doc_id"]: r for r in soft_dedup_weights(sh).collect()}
    assert got[1]["n_shingles"] == 1 and got[1]["sum_df"] == 2
    assert got[1]["weight"] == 0.5 and got[2]["weight"] == 0.5
    assert got[3]["weight"] == 1.0 and got[3]["sum_df"] == 1


def test_temperature_weights_upweight_low_resource(spark):
    """alpha<1 compresses the size distribution: the small group's weight
    exceeds its natural share, the big group's falls below it; alpha=1
    reproduces proportional sampling exactly; token-weighted mode sums the
    weight column instead of counting rows."""
    from demo_bigdata_spark.operators.sampling import temperature_weights

    rows = [("big", i, 10) for i in range(90)] + [("small", 1000 + i, 10) for i in range(10)]
    df = spark.createDataFrame(rows, "src string, doc_id long, n_tok int")

    w = {r["src"]: r["weight"] for r in temperature_weights(df, "src", alpha=0.5).collect()}
    assert w["small"] > 0.10 and w["big"] < 0.90
    assert abs(w["small"] + w["big"] - 1.0) < 1e-6

    w1 = {r["src"]: r["weight"] for r in temperature_weights(df, "src", alpha=1.0).collect()}
    assert w1["big"] == 0.9 and w1["small"] == 0.1

    wt = {
        r["src"]: r["n"]
        for r in temperature_weights(df, "src", alpha=0.5, weight_col="n_tok").collect()
    }
    assert wt["big"] == 900 and wt["small"] == 100


def test_semantic_dedup_kmeans_assignment(spark, sf_dir):
    """SemDeDup with the paper's k-means assignment (IVF centroids +
    assign_clusters) instead of sign-LSH: same subset-of-exact guarantee,
    same downstream shape — the production path the LSH oracle variant
    stands in for."""
    from demo_bigdata_spark.operators.similarity import (
        all_pairs_above,
        assign_clusters,
        semantic_dedup,
        train_ivf_centroids,
    )
    from demo_bigdata_spark.sources.catalog import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    C = train_ivf_centroids(emb, n_centroids=16, iterations=2)
    clusters = assign_clusters(emb, C).select("vec_id", "cluster")
    surv = semantic_dedup(emb, 0.35, clusters=clusters)
    surv_ids = {r["vec_id"] for r in surv.select("vec_id").collect()}
    all_ids = {r["vec_id"] for r in emb.select("vec_id").collect()}
    exact_dropped = {
        r["id_b"]
        for r in all_pairs_above(emb, 0.35).select("id_b").distinct().collect()
    }
    dropped = all_ids - surv_ids
    assert dropped <= exact_dropped and dropped, (
        f"kmeans semantic dedup dropped {len(dropped)} "
        f"(exact {len(exact_dropped)})"
    )
    # k-means groups by global proximity: recall should beat the 64-bucket
    # LSH assignment's on this corpus (both are pinned >= floor)
    assert len(dropped) / len(exact_dropped) >= 0.05


def test_pagerank_matches_integer_reference(spark):
    """graph.pagerank is EXACT integer arithmetic: on a hand graph with a
    dangling node and an in-edge-free node, ten damped iterations must
    equal a pure-Python replica of the update rule bit-for-bit (no float
    tolerance — the ranks are scaled bigints)."""
    from demo_bigdata_spark.operators.graph import PAGERANK_SCALE, pagerank

    # A->B(2), A->C(1), B->A(1); C dangling; D no in-edges, D->A(1)
    nodes = spark.createDataFrame([("A",), ("B",), ("C",), ("D",)], "node string")
    edges = spark.createDataFrame(
        [("A", "B", 2), ("A", "C", 1), ("B", "A", 1), ("D", "A", 1)],
        "src string, dst string, w long",
    )
    got = {
        r["node"]: r["rank"]
        for r in pagerank(nodes, edges, iters=10).collect()
    }

    scale, n, num, den = PAGERANK_SCALE, 4, 17, 20
    base = ((scale // n) * (den - num)) // den
    wout = {"A": 3, "B": 1, "D": 1}
    ranks = {v: scale // n for v in "ABCD"}
    ew = {("A", "B"): 2, ("A", "C"): 1, ("B", "A"): 1, ("D", "A"): 1}
    for _ in range(10):
        contrib = {v: 0 for v in "ABCD"}
        for (s, d), w in ew.items():
            contrib[d] += (ranks[s] * w) // wout[s]
        dang = sum(r for v, r in ranks.items() if v not in wout)
        ranks = {
            v: base + (num * (contrib[v] + dang // n)) // den for v in "ABCD"
        }
    assert got == ranks
    # sanity: total mass stays near the scale (floor losses only)
    assert scale - 200 * n <= sum(got.values()) <= scale


def test_pagerank_driver_and_distributed_paths_agree(spark, monkeypatch):
    """r13 optimization pin: dimension-sized graphs take the driver-side
    exact-integer iteration (bounded-state collect of the normalized edge
    list); forcing the distributed loop on the SAME graphs must produce
    bit-identical ranks — uniform with a dangling node, personalized, and
    eps/warm-start modes."""
    from demo_bigdata_spark.operators import graph as G

    nodes = spark.createDataFrame([(v,) for v in "ABCD"], "node string")
    edges = spark.createDataFrame(
        [("A", "B", 2), ("A", "C", 1), ("B", "A", 1), ("D", "A", 1)],
        "src string, dst string, w long",
    )
    srcs = spark.createDataFrame([("A",)], "node string")

    def run(**kw):
        return {
            r["node"]: r["rank"]
            for r in G.pagerank(nodes, edges, **kw).collect()
        }

    cases = [
        dict(iters=10),
        dict(iters=12, sources=srcs),
        dict(eps=2, max_iters=80),
    ]
    via_driver = [run(**kw) for kw in cases]
    warm_drv = run(iters=5, init_ranks=G.pagerank(nodes, edges, iters=10))
    monkeypatch.setattr(G, "_DRIVER_GRAPH_MAX_NODES", 0)
    via_dist = [run(**kw) for kw in cases]
    warm_dist = run(iters=5, init_ranks=G.pagerank(nodes, edges, iters=10))
    assert via_driver == via_dist
    assert warm_drv == warm_dist


def test_pagerank_paths_agree_on_degenerate_inputs(spark, monkeypatch):
    """r13 ADVICE / VERDICT item 5 hardening: the driver and distributed
    paths must also agree on contract-edge inputs — zero-weight out-edges
    (wout == 0: the node becomes DANGLING on both paths; without the
    wout filter the distributed div raises DIVIDE_BY_ZERO under Spark 4
    ANSI and the driver loop would ZeroDivisionError), an edge whose
    source is outside the caller-supplied node universe (the semi-join
    drops it on both paths), and a warm-start frame carrying rows for
    nodes far outside the universe (bounded collect, out-of-universe
    rows ignored)."""
    from demo_bigdata_spark.operators import graph as G

    nodes = spark.createDataFrame([(v,) for v in "ABC"], "node string")
    edges = spark.createDataFrame(
        [
            ("A", "B", 0),  # zero-weight only => wout(A) == 0
            ("B", "C", 1),
            ("Z", "A", 5),  # source outside the universe
            ("C", "Z", 2),  # dst outside the universe
        ],
        "src string, dst string, w long",
    )
    warm = spark.createDataFrame(
        [(v, 10**9) for v in "ABC"] + [(f"X{i}", 7) for i in range(50)],
        "node string, rank long",
    )

    def run(**kw):
        return {
            r["node"]: r["rank"]
            for r in G.pagerank(nodes, edges, **kw).collect()
        }

    drv = [run(iters=8), run(iters=4, init_ranks=warm)]
    monkeypatch.setattr(G, "_DRIVER_GRAPH_MAX_NODES", 0)
    dist = [run(iters=8), run(iters=4, init_ranks=warm)]
    assert drv == dist
    assert set(drv[0]) == set("ABC")

    # the raw loop (direct callers violating edges ⊆ nodes) mirrors the
    # distributed join-drop instead of KeyError/ZeroDivisionError
    prof = [("A", 1, 0), ("B", 1, 0), ("C", 1, 1)]
    ranks = G._pagerank_driver_loop(
        prof,
        [("A", "B", 0, 0), ("B", "C", 1, 1), ("Q", "A", 3, 3)],
        3, 0, 17, 20, G.PAGERANK_SCALE, None, 5, None, None,
    )
    assert set(ranks) == set("ABC")


def test_connected_components_chain_triangle_isolated(spark):
    """graph.connected_components: a 4-node chain, a triangle, and an
    isolated node resolve to exactly three components labeled by their
    minimum member, with the isolated node present only when the node
    universe is supplied."""
    from demo_bigdata_spark.operators.graph import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (12, 10)],
        "src long, dst long",
    )
    got = {
        r["node"]: r["component"]
        for r in connected_components(edges).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10}

    nodes = spark.createDataFrame(
        [(i,) for i in [1, 2, 3, 4, 10, 11, 12, 99]], "node long"
    )
    got2 = {
        r["node"]: r["component"]
        for r in connected_components(edges, nodes=nodes).collect()
    }
    assert got2 == {**got, 99: 99}


def test_cc_driver_and_distributed_paths_agree(spark, monkeypatch):
    """Contracted CC graphs finish on the driver replica; forcing the
    distributed phase-2 loop (_CC_DRIVER_MAX_ROWS = 0) on the SAME graphs
    must give identical labels for both front ends, and a too-small
    max_iterations must raise on both paths. The bucket graph is a 31-doc
    chain (doc i shares a bucket with doc i+1 only): propagation depth >
    10, and max_iterations=1 leaves one contracted round, which cannot
    close it even with the pointer jump. The edge graph has a chain, a
    triangle, an isolated universe node, a self-loop, a duplicate edge;
    both graphs carry NULL ids, which are dropped. Both graphs run with
    bigint ids and with zero-padded string ids (same order), and the
    driver path resolves its labels through a broadcast join."""
    import pytest as _pytest

    from demo_bigdata_spark.operators import dedup as D
    from demo_bigdata_spark.plans.inspect import executed_plan

    n = 31
    rows = [(i, f"b{i}") for i in range(1, n + 1)] + [
        (i, f"b{i - 1}") for i in range(2, n + 1)
    ]
    rows += [(40, None), (41, None), (None, "b3")]
    edges = [(i, i + 1) for i in range(1, 8)] + [
        (3, 2), (10, 11), (11, 12), (12, 10), (30, 30), (11, None)
    ]
    nodes = [*range(1, 9), 10, 11, 12, 20, 30, None]

    def run(bands, pairs, universe):
        got_b = {
            r.doc_id: r.cluster_id
            for r in D._propagate_min_labels(bands, "doc_id", 64).collect()
        }
        got_e = {
            r.doc_id: r.cluster_id
            for r in D._propagate_min_labels_edges(
                pairs, universe, "doc_id", 64
            ).collect()
        }
        with _pytest.raises(RuntimeError, match="did not converge"):
            D._propagate_min_labels(bands, "doc_id", max_iterations=1)
        with _pytest.raises(RuntimeError, match="did not converge"):
            D._propagate_min_labels_edges(pairs, universe, "doc_id", 1)
        return got_b, got_e

    for id_type, key in (
        ("bigint", lambda i: i),
        ("string", lambda i: None if i is None else f"{i:03d}"),
    ):
        bands = spark.createDataFrame(
            [(key(i), b) for i, b in rows], f"doc_id {id_type}, bucket string"
        )
        pairs = spark.createDataFrame(
            [(key(a), key(b)) for a, b in edges], f"id_a {id_type}, id_b {id_type}"
        )
        universe = spark.createDataFrame([(key(i),) for i in nodes], f"doc_id {id_type}")
        assert "BroadcastHashJoin" in executed_plan(
            D._propagate_min_labels(bands, "doc_id", 64)
        )
        with monkeypatch.context() as m:
            via_driver = run(bands, pairs, universe)
            m.setattr(D, "_CC_DRIVER_MAX_ROWS", 0)
            via_dist = run(bands, pairs, universe)
        assert via_driver == via_dist, id_type
        assert via_driver[0] == {key(i): key(1) for i in range(1, n + 1)}
        assert via_driver[1] == {
            **{key(i): key(1) for i in range(1, 9)},
            **{key(i): key(10) for i in (10, 11, 12)},
            key(20): key(20),
            key(30): key(30),
        }


def test_personalized_pagerank_matches_integer_reference(spark):
    """sources= switches to personalized PageRank: teleport base and
    dangling redistribution land only on the source set; bit-exact vs a
    pure-Python replica, and the source-proximal node must outrank the
    topologically distant one."""
    from demo_bigdata_spark.operators.graph import PAGERANK_SCALE, pagerank

    # A -> B -> C -> D chain plus D -> A; personalize on {A}
    nodes = spark.createDataFrame([(v,) for v in "ABCD"], "node string")
    edges = spark.createDataFrame(
        [("A", "B", 1), ("B", "C", 1), ("C", "D", 1), ("D", "A", 1)],
        "src string, dst string, w long",
    )
    srcs = spark.createDataFrame([("A",)], "node string")
    got = {
        r["node"]: r["rank"]
        for r in pagerank(nodes, edges, iters=30, sources=srcs).collect()
    }

    scale, num, den = PAGERANK_SCALE, 17, 20
    n_t = 1
    base = ((scale // n_t) * (den - num)) // den
    t = {"A": 1, "B": 0, "C": 0, "D": 0}
    wout = {"A": 1, "B": 1, "C": 1, "D": 1}
    ew = {("A", "B"): 1, ("B", "C"): 1, ("C", "D"): 1, ("D", "A"): 1}
    ranks = {v: t[v] * (scale // n_t) for v in "ABCD"}
    for _ in range(30):
        contrib = {v: 0 for v in "ABCD"}
        for (s, d), w in ew.items():
            contrib[d] += (ranks[s] * w) // wout[s]
        dang = sum(r for v, r in ranks.items() if v not in wout)
        ranks = {
            v: t[v] * base
            + (num * (contrib[v] + t[v] * (dang // n_t))) // den
            for v in "ABCD"
        }
    assert got == ranks
    # at (near-)convergence, proximity to the seed decays around the
    # cycle (pre-convergence the pulse oscillates - 10 iters is NOT
    # monotone on a 4-cycle, verified)
    assert got["A"] > got["B"] > got["C"] > got["D"]


def test_pagerank_convergence_and_warm_start(spark):
    """Round-9 VERDICT item 5, pinned: eps-mode pagerank stops at
    max|delta| < eps and lands within the contraction bound
    (~eps * d/(1-d), pinned at 10*eps) of the long fixed-iteration run;
    warm-starting from converged ranks after a small edge delta
    re-converges in FEWER iterations than cold and reaches the same
    fixed-point neighborhood. The integer iteration dithers +-1 at the
    floor, so eps=2 is the exact-stop form."""
    from demo_bigdata_spark.operators.graph import pagerank

    nodes = spark.createDataFrame([(v,) for v in "ABCD"], "node string")
    edges = spark.createDataFrame(
        [("A", "B", 2), ("A", "C", 1), ("B", "A", 1), ("D", "A", 1)],
        "src string, dst string, w long",
    )
    fixed = {
        r["node"]: r["rank"] for r in pagerank(nodes, edges, iters=80).collect()
    }
    eps = 1_000_000  # 1e-6 of PAGERANK_SCALE
    st: dict = {}
    conv = {
        r["node"]: r["rank"]
        for r in pagerank(nodes, edges, eps=eps, stats=st).collect()
    }
    assert 0 < st["iterations"] < 80
    assert max(abs(conv[v] - fixed[v]) for v in conv) <= 10 * eps

    # warm start after a small edge-weight delta: fewer iterations than
    # cold, same destination
    edges2 = spark.createDataFrame(
        [("A", "B", 2), ("A", "C", 1), ("B", "A", 1), ("D", "A", 2)],
        "src string, dst string, w long",
    )
    st_cold: dict = {}
    cold = {
        r["node"]: r["rank"]
        for r in pagerank(nodes, edges2, eps=eps, stats=st_cold).collect()
    }
    prior = spark.createDataFrame(
        [(v, conv[v]) for v in conv], "node string, rank long"
    )
    st_warm: dict = {}
    warm = {
        r["node"]: r["rank"]
        for r in pagerank(
            nodes, edges2, eps=eps, init_ranks=prior, stats=st_warm
        ).collect()
    }
    assert st_warm["iterations"] < st_cold["iterations"]
    assert max(abs(warm[v] - cold[v]) for v in warm) <= 10 * eps
    # exact-stop form terminates too (dither floor)
    st2: dict = {}
    pagerank(nodes, edges, eps=2, max_iters=200, stats=st2).collect()
    assert st2["iterations"] < 200


def test_pagerank_restricts_edges_to_node_universe(spark):
    """Round-9 ADVICE: a caller-supplied node universe narrower than the
    edge endpoints must RESTRICT the edges (both endpoints), not leak mass
    — B's only out-edge exits the universe, so B is dangling and its mass
    redistributes. Pinned as: pagerank(narrow nodes, full edges) ==
    pagerank(narrow nodes, pre-restricted edges), and total mass is
    conserved up to floor losses."""
    from demo_bigdata_spark.operators.graph import PAGERANK_SCALE, pagerank

    nodes = spark.createDataFrame([("A",), ("B",)], "node string")
    full = spark.createDataFrame(
        [("A", "B", 1), ("B", "X", 5), ("X", "A", 7), ("Y", "B", 1)],
        "src string, dst string, w long",
    )
    inside = spark.createDataFrame(
        [("A", "B", 1)], "src string, dst string, w long"
    )
    got = {
        r["node"]: r["rank"] for r in pagerank(nodes, full, iters=8).collect()
    }
    want = {
        r["node"]: r["rank"]
        for r in pagerank(nodes, inside, iters=8).collect()
    }
    assert got == want and set(got) == {"A", "B"}
    assert PAGERANK_SCALE - 200 * 2 <= sum(got.values()) <= PAGERANK_SCALE


def test_triangle_counts_hand_graph(spark):
    """graph.triangle_counts on K4 plus a pendant edge: every K4 vertex
    sits in C(3,2)=3 triangles, the pendant in none; duplicate, reversed,
    and self-loop edges collapse into the simple undirected graph."""
    from demo_bigdata_spark.operators.graph import triangle_counts

    k4 = [(a, b) for a in range(1, 5) for b in range(1, 5) if a < b]
    edges = spark.createDataFrame(
        k4 + [(2, 1), (3, 3), (4, 5), (1, 2)], "src long, dst long"
    )
    got = {
        r["node"]: r["n_triangles"] for r in triangle_counts(edges).collect()
    }
    assert got == {1: 3, 2: 3, 3: 3, 4: 3}

    # round-9 VERDICT item 3: a LOW-ID HUB (node 0 wired to everything) —
    # under raw id-ordering its forward-degree is its full degree; under
    # (degree, id) orientation its edges point INTO it, bounding the wedge
    # join. Counts must match a pure-Python brute force exactly.
    import itertools

    hub_edges = [(0, v) for v in range(1, 6)]
    all_edges = k4 + [(4, 5)] + hub_edges
    edges2 = spark.createDataFrame(all_edges, "src long, dst long")
    adj = {frozenset(e) for e in all_edges}
    nodes = sorted({v for e in all_edges for v in e})
    want: dict[int, int] = {}
    for t in itertools.combinations(nodes, 3):
        if all(frozenset(p) in adj for p in itertools.combinations(t, 2)):
            for v in t:
                want[v] = want.get(v, 0) + 1
    got2 = {
        r["node"]: r["n_triangles"] for r in triangle_counts(edges2).collect()
    }
    assert got2 == want and want[0] == 7  # hub sits in 6 K4-edge + (4,5) tris


def test_canonical_url_adversarial(spark):
    """canonical_url component math on the shapes that break naive string
    dedup: scheme/host case, default vs explicit ports, fragments,
    tracking params, query-key order, pathless urls (r10 VERDICT item 5)."""
    from demo_bigdata_spark.operators.text import canonical_url

    cases = [
        # (raw, expected canonical)
        ("https://www.Site.COM/page/1?id=1", "https://www.site.com/page/1?id=1"),
        ("HTTPS://WWW.SITE.COM:443/page/1?id=1", "https://www.site.com/page/1?id=1"),
        ("http://host.com:80/a", "http://host.com/a"),
        # non-default port survives
        ("http://host.com:8080/a", "http://host.com:8080/a"),
        # :443 is only default for https
        ("http://host.com:443/a", "http://host.com:443/a"),
        # fragment-only diff
        ("https://h.com/a?x=1#frag", "https://h.com/a?x=1"),
        ("https://h.com/a?x=1", "https://h.com/a?x=1"),
        # tracking params dropped, survivors sorted, '?' dropped when empty
        ("https://h.com/a?utm_source=x&b=2&a=1", "https://h.com/a?a=1&b=2"),
        ("https://h.com/a?utm_campaign=z&ref=tw&gclid=9", "https://h.com/a"),
        ("https://h.com/a?b=2&a=1", "https://h.com/a?a=1&b=2"),
        # pathless -> '/', path case preserved
        ("https://H.com", "https://h.com/"),
        ("https://h.com/CaseSensitive/Path", "https://h.com/CaseSensitive/Path"),
        # bare 'ref' without '=' also dropped; empty params collapse
        ("https://h.com/a?ref&x=1&&", "https://h.com/a?x=1"),
    ]
    df = spark.createDataFrame([(i, u) for i, (u, _) in enumerate(cases)], "i long, url string")
    got = {r["i"]: r["c"] for r in df.select("i", canonical_url("url").alias("c")).collect()}
    for i, (raw, want) in enumerate(cases):
        assert got[i] == want, (raw, got[i], want)


def test_url_dedup_keeps_min_id(spark):
    """url_dedup keeps exactly one row (lowest id) per canonical url and
    carries the canonical_url column; distinct pages both survive."""
    from demo_bigdata_spark.operators.text import url_dedup

    rows = [
        (3, "https://a.com/p?utm_source=x"),
        (1, "HTTPS://A.COM:443/p"),
        (2, "https://a.com/p#frag"),
        (7, "https://b.com/q?x=1"),
        (5, "https://b.com/q?x=1&utm_medium=m"),
        (9, "https://c.com/solo"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string")
    kept = url_dedup(df).collect()
    assert sorted(r["doc_id"] for r in kept) == [1, 5, 9]
    by_id = {r["doc_id"]: r["canonical_url"] for r in kept}
    assert by_id[1] == "https://a.com/p"
    assert by_id[5] == "https://b.com/q?x=1"


def test_url_domain_adversarial(spark):
    """url_domain: plain 2-label hosts pass through, subdomains strip to
    the registrable domain, known second-level TLDs keep three labels,
    ports (default AND non-default) strip, case lowers, malformed input
    degrades to '' rather than raising."""
    from demo_bigdata_spark.operators.text import url_domain

    cases = [
        ("https://example.com/x", "example.com"),
        ("https://EXAMPLE.COM:443/x", "example.com"),
        ("https://www.example.com/x", "example.com"),
        ("https://a.b.c.example.com:8443/x", "example.com"),
        ("https://example.co.uk/x", "example.co.uk"),
        ("https://www.shop.example.co.uk/x", "example.co.uk"),
        ("http://deep.sub.example.com.au:80/x", "example.com.au"),
        ("https://localhost:9000/x", "localhost"),
        ("https://co.uk/", "co.uk"),  # bare SLD host: <= 2 labels passes through
        ("not-a-url", ""),
    ]
    df = spark.createDataFrame(
        [(i, u) for i, (u, _) in enumerate(cases)], "i long, url string"
    )
    got = {r["i"]: r["d"] for r in df.select("i", url_domain("url").alias("d")).collect()}
    for i, (u, want) in enumerate(cases):
        assert got[i] == want, (u, got[i], want)


def test_domain_cap_sample_semantics(spark):
    """domain_cap_sample keeps the max_per_domain LOWEST ids per domain
    (deterministic survivors, not arbitrary), small domains pass whole,
    the domain column rides along, and the cap validates."""
    import pytest

    from demo_bigdata_spark.operators.text import domain_cap_sample

    rows = [(i, f"https://farm.example.com/p/{i}") for i in range(10)]
    rows += [(100 + i, f"https://ok.org/p/{i}") for i in range(2)]
    df = spark.createDataFrame(rows, "doc_id long, url string")
    kept = domain_cap_sample(df, max_per_domain=3).collect()
    by_dom: dict = {}
    for r in kept:
        by_dom.setdefault(r["domain"], []).append(r["doc_id"])
    assert sorted(by_dom["example.com"]) == [0, 1, 2]  # lowest ids, capped
    assert sorted(by_dom["ok.org"]) == [100, 101]  # under the cap: all pass
    # repartition invariance: survivors are a pure function of content
    kept2 = {r["doc_id"] for r in domain_cap_sample(df.repartition(7), max_per_domain=3).collect()}
    assert kept2 == {r["doc_id"] for r in kept}
    with pytest.raises(ValueError, match="max_per_domain"):
        domain_cap_sample(df, max_per_domain=0)


def test_emit_row_topk_wide_block_lexsort_fallback():
    """Blocks at/above the epsilon width bound (50k cols) take the exact
    lexsort path; its output must equal a brute python replica of the
    (cosine desc, dst-id-rank asc) total order (r10 ADVICE: the old bare
    assert disappeared under python -O and silently corrupted tie order)."""
    import numpy as np

    from demo_bigdata_spark.operators.similarity import _emit_row_topk

    rng = np.random.RandomState(11)
    nb = 50_001
    assert not nb * 1e-9 < 5e-5  # this width must take the fallback path
    ids_a = np.array([1_000_000, 1_000_001, 1_000_002], dtype=np.int64)
    ids_b = rng.permutation(nb).astype(np.int64)
    # heavy 4dp ties: only 21 distinct grid values across 50k columns
    cos = np.round(rng.randint(0, 21, size=(3, nb)) * 1e-4, 4)
    k = 7
    s, d, c = _emit_row_topk(ids_a, ids_b, cos, k, exclude_self=False)
    got = {}
    for si, di, ci in zip(s, d, c):
        got.setdefault(si, []).append((di, ci))
    for row_i, src in enumerate(ids_a):
        order = sorted(range(nb), key=lambda j: (-cos[row_i, j], ids_b[j]))
        want = [(ids_b[j], cos[row_i, j]) for j in order[:k]]
        assert sorted(got[src]) == sorted(want), src


def test_rp_topk_proj_provenance_mismatch_raises(spark, sf_dir):
    """A stored projection built under a different seed/out_dim is rejected
    up front via the rvec column metadata (r10 ADVICE: it used to return
    silently degraded candidates)."""
    import pytest

    from demo_bigdata_spark.operators.similarity import random_projection, rp_topk

    emb = load_table(spark, sf_dir, "embeddings")
    qv = [float(x) for x in emb.filter(F.col("vec_id") == 0).head()["embedding"]]
    other_seed = random_projection(emb, out_dim=16, seed=7)
    with pytest.raises(ValueError, match="rp_seed"):
        rp_topk(emb, qv, k=5, out_dim=16, refine=50, seed=42, proj=other_seed)
    other_dim = random_projection(emb, out_dim=8)
    with pytest.raises(ValueError, match="rp_out_dim"):
        rp_topk(emb, qv, k=5, out_dim=16, refine=50, proj=other_dim)
    # matching provenance still accepted
    good = random_projection(emb, out_dim=16)
    assert rp_topk(emb, qv, k=5, out_dim=16, refine=50, proj=good).count() == 5


def test_weighted_sample_semantics(spark):
    """A-ES weighted sampling: the score is monotone in the weight for a
    fixed key (raising a doc's weight can only improve its rank), an
    overwhelming weight guarantees selection, null/non-positive weights are
    excluded, the sample is partition-layout invariant, and k validates."""
    import pytest

    from demo_bigdata_spark.operators.sampling import weighted_sample

    rows = [(i, float(10 + (i * 7) % 90)) for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, w double")

    # monotone in weight: same keys, one doc's weight scaled 100x -> its
    # score must strictly increase (u in (0,1) fixed, exponent shrinks)
    s1 = {r["doc_id"]: r["sample_score"] for r in weighted_sample(df, 200, "w").collect()}
    boosted = df.withColumn("w", F.when(F.col("doc_id") == 7, F.col("w") * 100).otherwise(F.col("w")))
    s2 = {r["doc_id"]: r["sample_score"] for r in weighted_sample(boosted, 200, "w").collect()}
    assert s2[7] > s1[7]
    assert all(s2[i] == s1[i] for i in s1 if i != 7)

    # overwhelming weight -> always in the sample
    giant = df.withColumn("w", F.when(F.col("doc_id") == 123, F.lit(1e12)).otherwise(F.col("w")))
    top10 = {r["doc_id"] for r in weighted_sample(giant, 10, "w").collect()}
    assert 123 in top10

    # null / zero / negative weights never sampled
    dirty = spark.createDataFrame(
        [(1, 5.0), (2, None), (3, 0.0), (4, -2.0)], "doc_id long, w double"
    )
    assert {r["doc_id"] for r in weighted_sample(dirty, 10, "w").collect()} == {1}

    # content-addressed: identical sample under any partitioning
    a = [tuple(r) for r in weighted_sample(df, 25, "w").collect()]
    b = [tuple(r) for r in weighted_sample(df.repartition(13), 25, "w").collect()]
    assert a == b and len(a) == 25

    with pytest.raises(ValueError, match="k must be"):
        weighted_sample(df, 0, "w")


def test_bloom_decontaminate_superset_and_fp(spark, sf_dir):
    """Bloom decontamination: flagged docs are a SUPERSET of the exact
    join's contaminated docs (no false negatives — the property that makes
    drop-flagged safe), flagged-shingle counts are >= the exact shared
    counts per doc, and a deliberately tiny filter (m=64 bits) produces
    false positives while STILL missing nothing."""
    from demo_bigdata_spark.operators.dedup import decontaminate, shingle_hashes
    from demo_bigdata_spark.operators.sketches import (
        bloom_decontaminate,
        build_ngram_bloom,
    )

    docs = load_table(spark, sf_dir, "documents")
    sh = shingle_hashes(docs, n=8, extra_cols=("source",)).localCheckpoint()
    is_eval = F.col("source").isin("src0", "src1")
    ev, tr = sh.filter(is_eval), sh.filter(~is_eval)

    exact = {
        r["train_id"]: r["n_shared_shingles"]
        for r in decontaminate(
            train_shingles=tr.select("doc_id", "shingle_hash"),
            eval_shingles=ev.select("doc_id", "shingle_hash"),
        ).collect()
    }
    bloom = build_ngram_bloom(ev, m_bits=1 << 20, k_hashes=4)
    got = {
        r["doc_id"]: r["n_flagged_shingles"]
        for r in bloom_decontaminate(
            tr.select("doc_id", "shingle_hash"), bloom, m_bits=1 << 20, k_hashes=4
        ).collect()
    }
    assert set(exact) <= set(got)
    for d, n in exact.items():
        assert got[d] >= n, (d, got[d], n)

    # 64-bit filter: saturated -> false positives appear, negatives never
    tiny = build_ngram_bloom(ev, m_bits=64, k_hashes=2)
    noisy = {
        r["doc_id"]
        for r in bloom_decontaminate(
            tr.select("doc_id", "shingle_hash"), tiny, m_bits=64, k_hashes=2
        ).collect()
    }
    assert set(exact) <= noisy
    assert len(noisy) > len(exact)  # saturation must produce FPs

    import pytest

    with pytest.raises(ValueError, match="m_bits"):
        build_ngram_bloom(ev, m_bits=100)


def test_histogram_sketch_quantiles_and_merge(spark):
    """Histogram quantile sketch: bin math clamps out-of-range values into
    edge bins, estimates are within one bin width of the exact quantile
    for in-range data, partial merge equals the one-shot sketch exactly
    (integer addition), and the range/bins validate."""
    import pytest

    from demo_bigdata_spark.operators.sketches import (
        histogram_quantiles,
        histogram_sketch,
        merge_histograms,
    )

    vals = [float(v) for v in range(1, 1001)]  # 1..1000
    vals += [-50.0, 99999.0]  # clamp into bins 0 and n_bins-1
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    lo, hi, nb = 0.0, 1000.0, 100  # width 10
    hist = {r["bin"]: r["n"] for r in histogram_sketch(df, "x", lo, hi, nb).collect()}
    assert hist[0] == 9 + 1  # values 1..9 land in bin 0, plus the -50 clamp
    # 990..999 in the top bin, plus 1000 (hi is exclusive -> clamps) + 99999
    assert hist[nb - 1] == 10 + 2

    qs = [0.5, 0.9]
    est = {
        r["q"]: r["est"]
        for r in histogram_quantiles(
            histogram_sketch(df, "x", lo, hi, nb), qs, lo, hi, nb
        ).collect()
    }
    import statistics

    for q in qs:
        exact = statistics.quantiles(vals, n=100, method="inclusive")[int(q * 100) - 1]
        assert abs(est[q] - exact) <= (hi - lo) / nb + 1, (q, est[q], exact)

    # merge of disjoint partials == one-shot sketch, exactly
    a = histogram_sketch(df.filter("x < 500"), "x", lo, hi, nb)
    b = histogram_sketch(df.filter("x >= 500"), "x", lo, hi, nb)
    merged = {r["bin"]: r["n"] for r in merge_histograms(a, b).collect()}
    assert merged == hist

    with pytest.raises(ValueError, match="hi > lo"):
        histogram_sketch(df, "x", 5.0, 5.0, 10)
    with pytest.raises(ValueError, match="n_bins"):
        histogram_sketch(df, "x", 0.0, 1.0, 0)


def test_normalize_text_fixtures(spark):
    """normalize_text: each rule verified on a targeted fixture — curly
    quotes, dash family, NBSP family, zero-width drops, control drops
    (newline/tab survive as structure), run collapse, newline trimming."""
    from demo_bigdata_spark.operators.text import normalize_text

    cases = [
        ("‘a’ “b”", "'a' \"b\""),
        ("x–y—z―w", "x-y-z-w"),
        ("a b c d", "a b c d"),
        ("a​b‌c‍d﻿e", "abcde"),
        ("a\x07b\x00c", "abc"),
        ("a \t  b\t\tc", "a b c"),
        # blank lines are paragraph structure and survive; edges trim
        ("  line1  \n   line2\t \n\nline3  ", "line1\nline2\n\nline3"),
        ("", ""),
    ]
    df = spark.createDataFrame(
        [(i, t) for i, (t, _) in enumerate(cases)], "i long, t string"
    )
    got = {r["i"]: r["n"] for r in df.select("i", normalize_text("t").alias("n")).collect()}
    for i, (t, want) in enumerate(cases):
        assert got[i] == want, (repr(t), repr(got[i]), repr(want))


def test_filter_blocked_domains_semantics(spark):
    """filter_blocked_domains drops exactly the blocklisted registrable
    domains (subdomains included), keeps everything else, plans a
    broadcast join (never a shuffle of the corpus), and carries domain."""
    from demo_bigdata_spark.operators.text import filter_blocked_domains
    from demo_bigdata_spark.plans.inspect import executed_plan

    rows = [
        (1, "https://spam.example.com/a"),  # registrable domain example.com
        (2, "https://deep.sub.example.com/b"),  # same registrable domain
        (3, "https://ok.example.org/c"),
        (4, "https://fine.co.uk/d"),  # SLD-list host, 3 labels, kept
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string")
    blocked = spark.createDataFrame([("example.com",)], "domain string")
    kept = filter_blocked_domains(df, blocked)
    assert {r["doc_id"] for r in kept.collect()} == {3, 4}
    assert "domain" in kept.columns
    plan = executed_plan(kept)
    assert "Broadcast" in plan and "hashpartitioning(domain" not in plan, plan


def test_domain_quality_filter_drops_bad_domains_wholesale(spark):
    """domain_quality_filter: a link-farm domain (all junk docs) drops
    ENTIRELY including its one good page; a healthy domain survives with
    all its docs (per-doc gating is deliberately the caller's separate
    step); min_docs excludes tiny domains."""
    from demo_bigdata_spark.operators.text import domain_quality_filter

    good = "the quick brown fox jumps over the lazy dog again and again"
    junk = "aaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaa"  # 1 huge token
    rows = [(i, f"https://farm.spam.com/p/{i}", junk) for i in range(9)]
    rows.append((9, "https://farm.spam.com/p/9", good))  # the one good page
    rows += [(10 + i, f"https://ok.site.com/p/{i}", good) for i in range(4)]
    rows.append((99, "https://tiny.solo.org/only", good))  # below min_docs
    df = spark.createDataFrame(rows, "doc_id long, url string, text string")

    kept = domain_quality_filter(df, min_pass_frac=0.5, min_docs=2).collect()
    ids = sorted(r["doc_id"] for r in kept)
    assert ids == [10, 11, 12, 13]  # farm gone wholesale, solo below min_docs
    assert {r["domain"] for r in kept} == {"site.com"}
    assert all(r["pass_frac"] == 1.0 for r in kept)

    # a permissive threshold readmits the farm WITH its junk (whole-domain
    # semantics, not per-doc)
    loose = {r["doc_id"] for r in domain_quality_filter(df, min_pass_frac=0.05, min_docs=2).collect()}
    assert set(range(10)) <= loose


def test_url_domains_psl_parity_and_psl_semantics(spark, sf_dir):
    """r12 VERDICT #5: (a) with a suffix table holding exactly the frozen
    21 two-label entries, url_domains_with_psl == url_domain row-for-row
    over the adversarial host synthesis; (b) the full PSL fixture resolves
    ccTLD registrables the frozen list misses, 3-label suffixes produce
    4-label registrables, an unknown TLD falls back to last-2, and a host
    that IS a public suffix passes through; (c) suffixes=None IS the
    frozen-list path."""
    from demo_bigdata_spark.operators.text import (
        _TWO_LEVEL_TLDS,
        url_domain,
        url_domains_with_psl,
    )
    from demo_bigdata_spark.suites.suite_llm import (
        PSL_FIXTURE_SUFFIXES,
        _domain_url_variants,
    )

    docs = (
        load_table(spark, sf_dir, "documents")
        .withColumn("url", _domain_url_variants())
        .select("doc_id", "url")
    )
    frozen21 = spark.createDataFrame(
        [(s,) for s in _TWO_LEVEL_TLDS], "suffix string"
    )
    via_join = url_domains_with_psl(docs, suffixes=frozen21)
    via_list = docs.withColumn("domain", url_domain("url"))
    assert (
        via_join.select("doc_id", "domain")
        .exceptAll(via_list.select("doc_id", "domain"))
        .count()
        == 0
    )
    assert via_join.count() == via_list.count()
    # suffixes=None is literally the frozen-list expression
    assert (
        url_domains_with_psl(docs)
        .select("doc_id", "domain")
        .exceptAll(via_list.select("doc_id", "domain"))
        .count()
        == 0
    )

    psl = spark.createDataFrame(
        [(s,) for s in PSL_FIXTURE_SUFFIXES], "suffix string"
    )
    cases = spark.createDataFrame(
        [
            (1, "https://www.shop.com.co/x"),      # ccTLD outside frozen list
            (2, "https://News.site.co.il:443/x"),  # case + port
            (3, "https://deep.school.k12.ak.us/x"),# 3-label suffix
            (4, "https://site.example/x"),         # unknown TLD -> last-2
            (5, "https://co.il/x"),                # host IS a suffix
            (6, "https://a.b.c.site.com/x"),       # plain TLD, deep subdomain
        ],
        "doc_id long, url string",
    )
    got = {
        r["doc_id"]: r["domain"]
        for r in url_domains_with_psl(cases, suffixes=psl).collect()
    }
    assert got == {
        1: "shop.com.co",
        2: "site.co.il",
        3: "school.k12.ak.us",
        4: "site.example",
        5: "co.il",
        6: "site.com",
    }, got


def test_url_domains_psl_wildcard_and_exception_rules(spark):
    """Full PSL rule semantics: wildcard *.X makes <label>.X a public
    suffix (registrable gains a label), exception !Y overrides its
    wildcard, exception beats longest normal match, a host that IS a
    wildcard public suffix passes through, and precedence picks the
    LONGEST rule when several match."""
    from demo_bigdata_spark.operators.text import url_domains_with_psl
    from demo_bigdata_spark.suites.suite_llm import PSL_WILD_FIXTURE

    psl = spark.createDataFrame([(x,) for x in PSL_WILD_FIXTURE], "suffix string")
    cases = spark.createDataFrame(
        [
            (1, "https://shop.gov.ck/x"),            # *.ck -> 3-label reg
            (2, "https://a.shop.gov.ck/x"),          # still shop.gov.ck? no: ps=gov.ck -> reg shop.gov.ck
            (3, "https://www.ck/x"),                 # !www.ck -> reg www.ck
            (4, "https://sub.www.ck/x"),             # exception suffix -> www.ck
            (5, "https://gov.ck/x"),                 # IS a public suffix -> passthrough
            (6, "https://deep.city9.kawasaki.jp/x"), # *.kawasaki.jp beats plain 'jp'
            (7, "https://city.kawasaki.jp/x"),       # !city.kawasaki.jp
            (8, "https://blog.nom.br/x"),            # IS a wildcard suffix -> passthrough
            (9, "https://x.blog.nom.br/x"),          # reg = x.blog.nom.br
        ],
        "doc_id long, url string",
    )
    got = {
        r["doc_id"]: r["domain"]
        for r in url_domains_with_psl(cases, suffixes=psl).collect()
    }
    assert got == {
        1: "shop.gov.ck",
        2: "shop.gov.ck",
        3: "www.ck",
        4: "www.ck",
        5: "gov.ck",
        6: "deep.city9.kawasaki.jp",
        7: "city.kawasaki.jp",
        8: "blog.nom.br",
        9: "x.blog.nom.br",
    }, got


def test_group_kl_divergence_properties(spark):
    """KL vs the corpus mixture: (a) a group identical in distribution to
    the blend scores 0; (b) every KL is >= 0 (Gibbs — and the sign-safe
    rounding keeps a -1e-17 float from hashing as -0.0); (c) a group
    disjoint in vocabulary from the others scores strictly higher than a
    near-mixture group; (d) n_tokens is the exact per-group token count."""
    import math

    from demo_bigdata_spark.operators.text import group_kl_divergence

    rows = []
    # two groups with IDENTICAL content -> each equals the mixture -> KL 0
    for g in ("a", "b"):
        rows += [(g, "x y z"), (g, "x x y")]
    # one group of disjoint vocabulary -> large KL
    rows += [("c", "q r s q"), ("c", "q q r")]
    df = spark.createDataFrame(rows, "source string, text string")
    got = {
        r["source"]: (r["n_tokens"], r["kl"])
        for r in group_kl_divergence(df, top_v=64).collect()
    }
    assert got["a"][0] == 6 and got["b"][0] == 6 and got["c"][0] == 7
    assert got["a"][1] == got["b"][1]
    assert all(v[1] >= 0.0 for v in got.values())
    assert all(math.copysign(1.0, v[1]) == 1.0 for v in got.values() if v[1] == 0.0)
    assert got["c"][1] > got["a"][1]
    # a == b shares every token with the mixture but not its PROPORTIONS
    # (c shifts the blend), so a small positive KL is expected, not 0
    assert got["a"][1] < got["c"][1]


def test_group_kl_divergence_oov_fold(spark):
    """Tokens outside the top-V vocab fold into ONE <oov> bucket: with
    top_v=1 only the single most frequent token (tie-broken by string
    asc) stays itself, and the result still sums each group's mass to 1
    (KL finite, n_tokens exact)."""
    from demo_bigdata_spark.operators.text import group_kl_divergence

    df = spark.createDataFrame(
        [("a", "t t u v"), ("b", "t w w w")], "source string, text string"
    )
    got = {
        r["source"]: (r["n_tokens"], r["kl"])
        for r in group_kl_divergence(df, top_v=1).collect()
    }
    # global counts: t=3, w=3, u=1, v=1 -> tie t vs w broken by string: t
    # group a: t 2/4, oov 2/4; group b: t 1/4, oov 3/4; mixture: t 3/8, oov 5/8
    import math

    exp_a = 0.5 * math.log(0.5 / (3 / 8)) + 0.5 * math.log(0.5 / (5 / 8))
    exp_b = 0.25 * math.log(0.25 / (3 / 8)) + 0.75 * math.log(0.75 / (5 / 8))
    assert got["a"] == (4, round(exp_a, 6))
    assert got["b"] == (4, round(exp_b, 6))


def test_pq_topk_frozen_separates_clusters_and_stays_jvm_side(spark):
    """Frozen-codebook PQ on a corpus of two tight prototype clusters:
    ADC top-k for a query near prototype A must rank every A-cluster
    member above every B-cluster member (coarse 8-code quantization
    easily separates orthogonal prototypes), ties break by id asc, and
    the whole plan is expression-only — no Python stage anywhere (the
    trained pq_topk path uses mapInPandas; the frozen twin must not) and
    a TakeOrderedAndProject instead of a global sort."""
    from demo_bigdata_spark.operators.similarity import pq_topk_frozen

    dim = 64
    a = [1.0] * 32 + [0.0] * 32
    b = [0.0] * 32 + [1.0] * 32
    rows = []
    for i in range(12):
        base = a if i % 2 == 0 else b
        rows.append((i, [x + (0.001 * ((i * 7 + j) % 5)) for j, x in enumerate(base)]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = pq_topk_frozen(df, a, k=12, m=4, n_codes=4, iterations=2)
    got = out.collect()
    ranked = [r["vec_id"] for r in got]
    evens = [i for i in ranked if i % 2 == 0]
    assert set(ranked[:6]) == set(evens[:6]) == {0, 2, 4, 6, 8, 10}, ranked
    # determinism: an identical rebuild returns identical rows
    again = pq_topk_frozen(df, a, k=12, m=4, n_codes=4, iterations=2).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in again]
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan, plan
    assert "Pandas" not in plan and "PythonUDF" not in plan.replace(
        "PythonUDTF", ""
    ), plan


def test_load_psl_suffixes_parses_dat_format(spark, tmp_path):
    """The publicsuffix.org .dat format parses into exactly the rule set:
    comments (// lines incl. section markers) and blanks drop, rules end
    at the first whitespace, wildcard/exception syntax survives verbatim,
    and the loaded frame drives url_domains_with_psl identically to the
    same rules passed inline."""
    from demo_bigdata_spark.operators.text import (
        load_psl_suffixes,
        url_domains_with_psl,
    )

    dat = "\n".join(
        [
            "// ===BEGIN ICANN DOMAINS===",
            "",
            "com",
            "uk",
            "co.uk  // inline annotation",
            "jp",
            "*.kawasaki.jp",
            "!city.kawasaki.jp",
            "// ===END ICANN DOMAINS===",
            "",
        ]
    )
    p = tmp_path / "psl.dat"
    p.write_text(dat)
    loaded = load_psl_suffixes(spark, str(p))
    got = {r["suffix"] for r in loaded.collect()}
    assert got == {"com", "uk", "co.uk", "jp", "*.kawasaki.jp", "!city.kawasaki.jp"}

    cases = spark.createDataFrame(
        [
            (1, "https://a.b.example.co.uk/x"),
            (2, "https://deep.city.kawasaki.jp/x"),
            (3, "https://city.kawasaki.jp/x"),
        ],
        "doc_id long, url string",
    )
    via_file = url_domains_with_psl(cases, suffixes=loaded)
    inline = spark.createDataFrame([(s,) for s in got], "suffix string")
    via_inline = url_domains_with_psl(cases, suffixes=inline)
    assert sorted(map(tuple, via_file.select("doc_id", "domain").collect())) == sorted(
        map(tuple, via_inline.select("doc_id", "domain").collect())
    )
    assert {r["doc_id"]: r["domain"] for r in via_file.collect()} == {
        1: "example.co.uk",
        2: "city.kawasaki.jp",
        3: "city.kawasaki.jp",
    }


def test_ivf_pq_topk_frozen_composition_semantics(spark):
    """Frozen IVF-PQ on two orthogonal prototype clusters: (a) every
    returned id sits in a PROBED coarse cluster (the inverted-list prune
    is real — B-cluster members never appear when the query probes only
    A-side clusters); (b) ADC scores equal pq_topk_frozen's scores for
    the same ids (the composition changes scoping, never scoring); (c)
    deterministic across rebuilds."""
    from demo_bigdata_spark.operators.similarity import (
        ivf_pq_topk_frozen,
        pq_topk_frozen,
    )

    a = [1.0] * 32 + [0.0] * 32
    b = [0.0] * 32 + [1.0] * 32
    rows = []
    for i in range(16):
        base = a if i % 2 == 0 else b
        rows.append((i, [x + (0.001 * ((i * 11 + j) % 7)) for j, x in enumerate(base)]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    kw = dict(m=4, n_codes=4, iterations=2)
    out = ivf_pq_topk_frozen(df, a, k=16, n_probe=2, n_centroids=4, **kw).collect()
    got = {r["vec_id"]: r["adc_score"] for r in out}
    # the prune bites: fewer than all 16 returned, and the query's own
    # cluster (even ids) dominates what survives
    assert 0 < len(got) < 16
    evens = [i for i in got if i % 2 == 0]
    assert len(evens) >= len(got) - len(evens), got
    # scoring identical to the PQ-only twin for the surviving ids
    pq = {
        r["vec_id"]: r["adc_score"]
        for r in pq_topk_frozen(df, a, k=16, **kw).collect()
    }
    for vid, sc in got.items():
        assert pq[vid] == sc, (vid, sc, pq[vid])
    again = ivf_pq_topk_frozen(df, a, k=16, n_probe=2, n_centroids=4, **kw).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))

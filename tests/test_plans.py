"""Plan-shape regression tests: pin the physical-plan properties that matter
at scale, independent of result correctness (SURVEY.md §4)."""

from __future__ import annotations

from pyspark.sql import functions as F

from demo_bigdata_spark.operators import analytics as A
from demo_bigdata_spark.plans.inspect import (
    executed_plan,
    has_broadcast_join,
    has_cartesian,
    has_pushed_filters,
    read_schema_columns,
    wholestage_codegen_spans,
)
from demo_bigdata_spark.sources.catalog import load_table
from demo_bigdata_spark.suites.suite_relational import (
    q_asof_purchase_click,
    q_revenue_by_nation,
    q_top_customers,
)


def test_filters_push_down_to_scan(spark, sf_dir):
    df = A.time_range(load_table(spark, sf_dir, "events"), "ts", start="2024-01-10")
    df = A.apply_filters(df, event_type="purchase")
    out = df.select("event_id")
    assert has_pushed_filters(out, "event_type"), executed_plan(out)
    # the RANGE predicate must reach the scan under the parquet column name
    # `ts` — as a timestamp literal with current testdata (timestamp[us]
    # read as LTZ at the scan), or as a raw-ns long via the _ts_ns fallback
    # for legacy nanos-encoded files; a filter on a DERIVED timestamp
    # expression would not push at all
    assert has_pushed_filters(out, "GreaterThanOrEqual(ts,"), executed_plan(out)


def test_column_pruning_reaches_scan(spark, sf_dir):
    df = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    cols = read_schema_columns(df)
    assert set(cols) == {"l_orderkey", "l_quantity"}, cols


def test_dimension_joins_broadcast(spark, sf_dir):
    df = q_revenue_by_nation(spark, sf_dir)
    assert has_broadcast_join(df), executed_plan(df)


def test_no_cartesian_in_joins(spark, sf_dir):
    for q in (q_revenue_by_nation, q_top_customers, q_asof_purchase_click):
        df = q(spark, sf_dir)
        assert not has_cartesian(df), f"{q.__name__}: {executed_plan(df)}"


def test_topk_plans_take_ordered(spark, sf_dir):
    df = A.recent_events(load_table(spark, sf_dir, "events"), n=200)
    assert "TakeOrderedAndProject" in executed_plan(df)


def test_dashboard_refresh_runs_one_rollup(spark, sf_dir):
    """One dashboard refresh — dashboard_stats plus to_json_rows on all six
    panels — runs at most 9 Spark jobs (3 to build and pin the rollup, one
    collect per panel; it ran 17 when each panel planned its own scan and
    aggregate), the same count on a second refresh, and no panel plan
    holds an Exchange or an Expand."""
    from demo_bigdata_spark import serving
    from tests.test_sources_serving import _jobs_in

    ev = load_table(spark, sf_dir, "events")

    def refresh():
        panels, jobs = _jobs_in(
            spark, lambda: serving.dashboard_stats(ev, start="2024-01-05", end="2024-01-25")
        )
        for df in panels.values():
            jobs += _jobs_in(spark, lambda: serving.to_json_rows(df))[1]
        return panels, jobs

    panels, first = refresh()
    assert first <= 9, first
    assert refresh()[1] == first
    for name, df in panels.items():
        plan = executed_plan(df)
        assert "Exchange" not in plan and "Expand" not in plan, (name, plan)


def test_aggregates_are_codegenerated(spark, sf_dir):
    df = A.type_distribution(load_table(spark, sf_dir, "events"))
    assert wholestage_codegen_spans(df) >= 1


def test_partial_aggregation_before_shuffle(spark, sf_dir):
    # partial (map-side) HashAggregate must appear below the exchange
    df = load_table(spark, sf_dir, "events").groupBy("event_type").count()
    plan = executed_plan(df)
    assert plan.count("HashAggregate") >= 2, plan


def test_time_rollup_reuses_finest_exchange(spark, sf_dir):
    """The cascaded rollup's union branches must share the minute-level
    shuffle at runtime (AQE ReuseExchange) — one raw scan + one partial
    aggregate feed all resolutions, which is the whole point of the
    cascade at scale."""
    from demo_bigdata_spark.suites.suite_analytics import q_time_rollup

    df = q_time_rollup(spark, sf_dir)
    df.collect()  # reuse is established in the final adaptive plan
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan
    assert plan.count("ReusedExchange") >= 2, plan


def test_ingest_parse_not_reinlined_into_filter(spark, sf_dir):
    """The malformed-row / quality filters must stay ABOVE the projection
    that computes the JSON parse. PushDownPredicates would otherwise
    substitute the parse expression into every filter conjunct, and
    FilterExec does no subexpression elimination — measured ~4 parses per
    row (2x wall time) on the ingest queries. Guarded by the
    nondeterministic pin in ingest._pin; this pins the from_json chain to
    exactly one parse per branch of the plan."""
    from demo_bigdata_spark.operators.ingest import process_raw_events
    from demo_bigdata_spark.suites.suite_ingest import raw_github_json

    def filter_nodes(df):
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        return [ln for ln in plan.splitlines() if "Filter" in ln]

    raw = raw_github_json(spark, sf_dir)
    legacy = process_raw_events(raw).groupBy("event_category").count()
    for node in filter_nodes(legacy):
        assert "from_json" not in node, node


def test_range_join_is_hash_join_not_nested_loop(spark, sf_dir):
    """bucketed_range_join must plan as an equi hash/sort-merge join on
    (keys, bucket) — never BroadcastNestedLoopJoin/CartesianProduct, which
    is what Spark plans for a bare inequality join."""
    from demo_bigdata_spark.suites.suite_relational import q_events_in_windows

    plan = executed_plan(q_events_in_windows(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_gopher_gate_single_projection_scan(spark, sf_dir):
    """The fused Gopher gate must scan the corpus at most twice (one
    projection pass + the bigram aggregate) — a regression to the naive
    features-join-repetition form shows up as a third FileScan."""
    from demo_bigdata_spark.operators.text import gopher_filter

    docs = load_table(spark, sf_dir, "documents")
    plan = executed_plan(gopher_filter(docs))
    assert plan.count("Scan parquet") <= 2, plan
    assert not has_cartesian(gopher_filter(docs))


def test_winnow_overlap_no_cartesian_and_pct_no_global_window(spark, sf_dir):
    """winnow_overlap joins on fp (never all-pairs); pct_of_total must plan
    a broadcast join, not a single-partition global WindowExec."""
    from demo_bigdata_spark.operators.dedup import winnow_overlap_pairs

    docs = load_table(spark, sf_dir, "documents").limit(200)
    assert not has_cartesian(winnow_overlap_pairs(docs))

    dist = A.type_distribution(load_table(spark, sf_dir, "events"))
    plan = executed_plan(dist)
    assert "Window" not in plan, plan
    # the one-row total attaches via a broadcast (nested-loop, keyless —
    # correct for a scalar side), never an Exchange-to-one-partition window
    assert "Broadcast" in plan, plan


def test_shingle_two_step_prunes_and_builds_once(spark, sf_dir):
    """The shingle pipeline projects pin(tokens(text)) then shingles from the
    attribute (the O(L^2) split-per-position fix). Two properties must hold:
    (a) column pruning still reaches the scan THROUGH the nondeterministic
    pin projection (only doc_id+text read), and (b) the physical plan
    contains exactly one split of the text column — a regression to the
    inline-lambda form re-inlines the split into the shingle transform and
    the count jumps to per-position."""
    from demo_bigdata_spark.operators import dedup as D

    docs = load_table(spark, sf_dir, "documents")
    sig = D.minhash_signature(docs, shingle_n=3).select("doc_id", "sig")
    cols = read_schema_columns(sig)
    assert set(cols) == {"doc_id", "text"}, cols
    plan = executed_plan(sig)
    assert plan.count("split(") == 1, f"tokens() re-inlined: {plan.count('split(')} splits"


def test_pack_sequences_two_level_prefix_sum(spark, sf_dir):
    """pack_sequences must never run a corpus-wide single-partition window:
    the doc-level Window is partitioned by the id bucket, and the only
    unpartitioned Window runs over the tiny per-bucket totals table (one
    row per 4096 ids). Also pins exact conservation: offsets are the
    exclusive prefix sum of token counts in id order."""
    from demo_bigdata_spark.operators import text as X

    docs = load_table(spark, sf_dir, "documents")
    out = X.pack_sequences(docs, seq_len=128, bucket_size=64)
    plan = executed_plan(out)
    windows = [ln for ln in plan.splitlines() if "Window [" in ln or "Window[" in ln]
    assert len(windows) == 2, plan
    bucketed = [w for w in windows if "_bkt" in w.split("windowspecdefinition")[-1]]
    assert len(bucketed) >= 1, windows
    rows = out.orderBy("doc_id").collect()
    run = 0
    for r in rows:
        assert r.tok_offset == run, (r, run)
        assert r.pack_id == run // 128 and r.pack_offset == run % 128
        expected_span = r.n_tokens > 0 and (run + r.n_tokens - 1) // 128 != run // 128
        assert r.spans_boundary == expected_span, r
        run += r.n_tokens


def test_ranking_plans_scale_shaped(spark, sf_dir):
    """bm25_rank's final cut must be TakeOrderedAndProject (never a global
    Sort of all scoring docs), and tfidf_top_terms' per-doc top-k window
    must be PARTITIONED by the doc id — an unpartitioned WindowExec would
    serialize the corpus through one partition."""
    from demo_bigdata_spark.operators.ranking import bm25_rank, tfidf_top_terms
    from demo_bigdata_spark.suites.suite_llm import BM25_TERMS

    docs = load_table(spark, sf_dir, "documents")
    plan = executed_plan(bm25_rank(docs, BM25_TERMS))
    assert "TakeOrderedAndProject" in plan, plan

    tplan = executed_plan(tfidf_top_terms(docs, k=5))
    windows = [
        ln for ln in tplan.splitlines() if "Window [" in ln or "Window[" in ln
    ]
    assert windows, tplan
    for w in windows:
        assert "doc_id" in w.split("windowspecdefinition")[-1], w


def test_index_probe_partition_prunes(spark, sf_dir, tmp_path):
    """conjunctive_search must reach the postings scan with a PARTITION
    filter on term_bucket (driver-computed from the query string), so a
    k-term query reads <= k bucket directories no matter the corpus size;
    python_term_bucket must stay bit-compatible with the Spark bucket
    expression or pruning silently empties results."""
    from demo_bigdata_spark.operators.index import (
        build_inverted_index,
        conjunctive_search,
        python_term_bucket,
    )
    from demo_bigdata_spark.operators.sampling import hash_bucket

    docs = load_table(spark, sf_dir, "documents")
    # bit-compat: Spark expression and driver-side python agree on buckets
    got = (
        docs.limit(50)
        .select(F.explode(F.split(F.trim("text"), r"\s+")).alias("term"))
        .filter(F.col("term") != "")
        .select("term", hash_bucket("term", 256).alias("b"))
        .distinct()
        .collect()
    )
    assert got and all(python_term_bucket(r.term, 256) == r.b for r in got)

    path = str(tmp_path / "idx")
    build_inverted_index(docs, path)
    out = conjunctive_search(spark, path, ["spark", "join"])
    plan = executed_plan(out)
    assert "term_bucket" in plan, plan
    scan_lines = [ln for ln in plan.splitlines() if "Scan parquet" in ln or "PartitionFilters" in ln]
    assert any("term_bucket" in ln for ln in scan_lines), plan


def test_scd2_and_indexed_bm25_plan_shapes(spark, sf_dir, tmp_path):
    """scd2_merge must stay a hash full-outer join (never a cartesian),
    and indexed BM25 must partition-prune the postings scan and cut with
    TakeOrderedAndProject, never a global sort."""
    from demo_bigdata_spark.operators.index import (
        bm25_rank_indexed,
        build_inverted_index,
    )
    from demo_bigdata_spark.operators.relational import scd2_merge

    cust = load_table(spark, sf_dir, "customer")
    dim = cust.select(
        "c_custkey",
        "c_mktsegment",
        F.lit("1990-01-01").alias("valid_from"),
        F.lit(None).cast("string").alias("valid_to"),
    )
    upd = cust.limit(50).select(
        "c_custkey",
        F.lit("MACHINERY").alias("c_mktsegment"),
        F.lit("2024-01-01").alias("ts"),
    )
    merged = scd2_merge(dim, upd, "c_custkey", ["c_mktsegment"], "ts")
    assert not has_cartesian(merged), executed_plan(merged)

    path = str(tmp_path / "bmidx")
    build_inverted_index(load_table(spark, sf_dir, "documents"), path)
    plan = executed_plan(bm25_rank_indexed(spark, path, ["spark", "join"]))
    assert "TakeOrderedAndProject" in plan, plan
    assert "term_bucket" in plan, plan


def test_corpus_pipeline_v2_stage_sum_shuffles(spark, sf_dir):
    """The composed corpus_pipeline_v2 must cost the SUM of its stages, not
    a replayed multiple: each stage's own exchange count is bounded, the
    seams add only doc_id-keyed joins (never a cartesian), and the shipped
    query's outer plan past the pinned budget table is just the mixture +
    final aggregate. An unpinned composition measured 94 exchanges / 42
    scans at the same sf — the regression this test exists to catch."""
    from demo_bigdata_spark.operators import dedup as D
    from demo_bigdata_spark.operators import text as X
    from demo_bigdata_spark.operators.sampling import mixture_sample_weighted
    from demo_bigdata_spark.suites.suite_llm import (
        V2_MIX_TARGET_TOKENS,
        V2_MIX_WEIGHTS,
        q_corpus_pipeline_v2,
    )

    docs = load_table(spark, sf_dir, "documents")

    # stage 1: gopher gate — one feature projection + the bigram aggregate
    gated = X.gopher_filter(docs).filter(F.col("keep")).select("doc_id")
    p1 = executed_plan(gated)
    assert p1.count("Exchange") <= 4 and not has_cartesian(gated), p1
    s1 = docs.join(gated, "doc_id").localCheckpoint(eager=True)

    # stage 2: corpus-common line dedup — line-hash shuffles only
    cleaned = D.remove_common_lines(s1, min_count=3).join(
        s1.select("doc_id", "source", "lang"), "doc_id"
    )
    p2 = executed_plan(cleaned)
    assert p2.count("Exchange") <= 7 and not has_cartesian(cleaned), p2
    s2 = cleaned.localCheckpoint(eager=True)

    # stage 3: decontamination — ONE shuffle join keyed by shingle hash
    is_eval = F.col("source").isin("src0", "src1")
    cont = D.decontaminate(
        train_shingles=D.shingle_hashes(
            s2.filter(~is_eval), n=8, text_col="clean_text"
        ),
        eval_shingles=D.shingle_hashes(docs.filter(is_eval), n=8),
        n=8,
    )
    p3 = executed_plan(cont)
    assert p3.count("Exchange") <= 6 and not has_cartesian(cont), p3
    s3 = (
        s2.filter(~is_eval)
        .join(cont.select(F.col("train_id").alias("doc_id")), "doc_id", "left_anti")
        .withColumn("_nt", X.token_count(F.col("clean_text")).cast("bigint"))
        .localCheckpoint(eager=True)
    )

    # stage 4: token-budget mixture — broadcast group sums, no global sort
    mixed = mixture_sample_weighted(
        s3, "lang", "doc_id", V2_MIX_WEIGHTS, V2_MIX_TARGET_TOKENS, "_nt"
    )
    p4 = executed_plan(mixed)
    assert p4.count("Exchange") <= 4 and not has_cartesian(mixed), p4
    assert "Sort [" not in p4.replace("SortAggregate", ""), p4

    # the shipped composition: outer plan past the pinned budget table is
    # mixture + final aggregate only — a handful of exchanges, no
    # cartesian, and no re-scan of the corpus above the pin
    out = q_corpus_pipeline_v2(spark, sf_dir)
    po = executed_plan(out)
    assert po.count("Exchange") <= 6 and not has_cartesian(out), po
    assert po.count("Scan parquet") == 0, po


def test_corpus_pipeline_v3_classifier_stage_shuffles(spark, sf_dir):
    """v3's new seam (round-7 VERDICT item 3): the classifier-score filter
    between decontamination and the mixture must add only its own bounded
    cost — one explode + BROADCAST weight join + doc_id aggregate + the
    filter-join back — and the shipped composition's outer plan past the
    pinned budget table stays the mixture + final aggregate with no
    corpus re-scan (the stages before the classifier are pinned exactly
    as in v2, covered by test_corpus_pipeline_v2_stage_sum_shuffles)."""
    from demo_bigdata_spark.operators import text as X
    from demo_bigdata_spark.suites.suite_llm import (
        CLS_BUCKETS,
        _cls_weights,
        q_corpus_pipeline_v3,
    )

    docs = load_table(spark, sf_dir, "documents")

    # the classifier stage in isolation: score + threshold-join back
    base = docs.select(
        "doc_id", "lang", F.col("text").alias("clean_text")
    ).localCheckpoint(eager=True)
    scored = X.classifier_quality_score(
        base, _cls_weights(spark), n_buckets=CLS_BUCKETS, text_col="clean_text"
    )
    qual = base.join(
        scored.filter(F.col("raw_score") > 0).select("doc_id"), "doc_id"
    )
    pq_ = executed_plan(qual)
    assert "BroadcastHashJoin" in pq_, pq_  # the weight lookup never shuffles
    assert pq_.count("Exchange") <= 4 and not has_cartesian(qual), pq_

    # the shipped composition: outer plan past the pinned budget table is
    # mixture + final aggregate only — no corpus re-scan above the pin
    out = q_corpus_pipeline_v3(spark, sf_dir)
    po = executed_plan(out)
    assert po.count("Exchange") <= 6 and not has_cartesian(out), po
    assert po.count("Scan parquet") == 0, po


def test_classifier_quality_broadcasts_weights(spark, sf_dir):
    """The classifier's weight lookup must be a BroadcastHashJoin (weights
    are KBs; shuffling the exploded token table against them would be a
    corpus-sized exchange bought for nothing)."""
    from demo_bigdata_spark.suites.suite_llm import q_classifier_quality

    df = q_classifier_quality(spark, sf_dir)
    plan = executed_plan(df)
    assert "BroadcastHashJoin" in plan, plan
    assert not has_cartesian(df), plan


def test_committed_view_keeps_partition_pruning(spark, sf_dir, tmp_path):
    """Bucket predicates on a LIVE index must reach the committed view's
    partitioned scan, so a pruned probe stays pruned instead of scanning
    and shuffling the whole index."""
    from demo_bigdata_spark.operators.index import (
        append_postings,
        bm25_rank_indexed,
        read_postings,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    path = str(tmp_path / "liveidx")
    append_postings(spark, docs, path, epoch_id=0)

    probe = read_postings(spark, path).filter(F.col("term_bucket").isin([3, 7]))
    plan = executed_plan(probe)
    scan_lines = [
        ln
        for ln in plan.splitlines()
        if "Scan parquet" in ln or "PartitionFilters" in ln
    ]
    assert any("term_bucket" in ln for ln in scan_lines), plan

    rank = bm25_rank_indexed(spark, path, ["spark", "join"])
    plan2 = executed_plan(rank)
    scan_lines2 = [
        ln
        for ln in plan2.splitlines()
        if "Scan parquet" in ln or "PartitionFilters" in ln
    ]
    assert any("term_bucket" in ln for ln in scan_lines2), plan2


def test_span_dedup_plan_shape(spark, sf_dir):
    """span_dedup must stay shuffle-bounded: equi-joins only (no
    cartesian), no corpus-sized single-partition window (the coverage
    window partitions by doc_id), and the span-hash aggregate keyed by
    digest. Exchange count is bounded by the stage structure, not the
    corpus."""
    from demo_bigdata_spark.operators.dedup import span_dedup

    out = span_dedup(load_table(spark, sf_dir, "documents"), window=20)
    plan = executed_plan(out)
    assert not has_cartesian(out), plan
    # every window partitions by doc_id — no global single-partition sort
    assert "PartitionBy: []" not in plan.replace("partitionBy=[]", "PartitionBy: []"), plan
    assert plan.count("Exchange") <= 10, plan


def test_dsir_ratio_table_broadcasts(spark, sf_dir):
    """The DSIR per-doc weight join must broadcast the n_buckets-row
    ratio table (the classifier-weights pattern): shuffling the exploded
    bigram table against 4096 rows would be a corpus-sized exchange
    bought for nothing."""
    from demo_bigdata_spark.operators.sampling import (
        dsir_logratio_table,
        dsir_weights,
    )

    docs = load_table(spark, sf_dir, "documents")
    lr = dsir_logratio_table(
        docs, docs.filter(F.col("lang") == "en"), n_buckets=4096
    )
    out = dsir_weights(docs, lr, n_buckets=4096)
    plan = executed_plan(out)
    assert "BroadcastHashJoin" in plan, plan
    # the 1-row nt/nr totals fold in via the broadcast-scalar pattern
    # (BroadcastNestedLoopJoin over 4096 rows — the pct_of_total shape);
    # a true CartesianProduct would be a corpus-sized bug
    assert "CartesianProduct" not in plan, plan


def test_corpus_pipeline_v4_stage_shuffles(spark, sf_dir):
    """v4's new seams (round-8 VERDICT item 3): the perplexity-bucket
    stage must derive its per-language terciles from the QUANTIZED-NLL
    HISTOGRAM (value-range-bounded window, broadcast threshold join back
    — never an ntile window over per-language corpus-sized partitions),
    and the DSIR budget stage must run the two-level prefix sum (range
    partition + per-partition windows + a tiny offset table, no global
    single-partition sort of the corpus). The shipped composition's outer
    plan past the pinned kept-frame is the budget selection + final
    aggregate with no corpus re-scan."""
    from pyspark.sql.window import Window as W

    from demo_bigdata_spark.operators.sampling import dsir_select_budget
    from demo_bigdata_spark.suites.suite_llm import q_corpus_pipeline_v4

    docs = load_table(spark, sf_dir, "documents")

    # perplexity-bucket stage in isolation over a stand-in scored frame
    nq = docs.select(
        "doc_id",
        "lang",
        (F.col("doc_id") % 997).cast("bigint").alias("_nq"),
    ).localCheckpoint(eager=True)
    hist = nq.groupBy("lang", "_nq").agg(F.count("*").alias("_c"))
    w_nll = (
        W.partitionBy("lang").orderBy("_nq").rowsBetween(W.unboundedPreceding, 0)
    )
    cum = hist.withColumn("_cum", F.sum("_c").over(w_nll))
    tot = hist.groupBy("lang").agg(F.sum("_c").alias("_n"))
    th = (
        cum.join(tot, "lang")
        .groupBy("lang")
        .agg(
            F.min(F.when(F.col("_cum") * 3 >= F.col("_n"), F.col("_nq"))).alias("_t1"),
            F.min(F.when(F.col("_cum") * 3 >= 2 * F.col("_n"), F.col("_nq"))).alias("_t2"),
        )
    )
    bucketed = nq.join(F.broadcast(th), "lang").withColumn(
        "b",
        F.when(F.col("_nq") <= F.col("_t1"), "head")
        .when(F.col("_nq") <= F.col("_t2"), "middle")
        .otherwise("tail"),
    )
    pb = executed_plan(bucketed)
    # the threshold join back is a broadcast, the histogram window runs
    # over (lang, _nq) aggregates, and the whole stage stays bounded
    assert "BroadcastHashJoin" in pb and not has_cartesian(bucketed), pb
    assert pb.count("Exchange") <= 6, pb
    # the window input is the AGGREGATED histogram, not the corpus: the
    # plan's window sits above a HashAggregate, and no window partitions
    # by lang alone over raw rows
    assert "ntile" not in pb.lower(), pb

    # DSIR budget stage: two-level prefix sum — a range repartition, two
    # windows (per-pid and the tiny pid-offset one), broadcast offsets
    wts = docs.select(
        "doc_id", (F.col("doc_id") % 101 / 7.0).alias("log_weight")
    ).localCheckpoint(eager=True)
    sel = dsir_select_budget(docs, wts, 10_000)
    ps = executed_plan(sel)
    # the running sum is per-PID windows over the pinned range-partitioned
    # frame (the range exchange lives inside the checkpoint), plus exactly
    # one deliberate SinglePartition exchange — the n_parts-row pid-offset
    # window — broadcast back; never a corpus-wide single-partition sort
    assert "windowspecdefinition(_pid" in ps, ps
    assert ps.count("Exchange SinglePartition") == 1, ps
    assert "BroadcastHashJoin" in ps and not has_cartesian(sel), ps
    assert ps.count("Exchange") <= 8, ps

    # the shipped composition: bounded outer plan, no corpus re-scan
    # above the pinned stages, no cartesian anywhere
    out = q_corpus_pipeline_v4(spark, sf_dir)
    po = executed_plan(out)
    assert po.count("Exchange") <= 10 and not has_cartesian(out), po
    assert po.count("Scan parquet") == 0, po


def test_corpus_pipeline_v5_stage_sum_shuffles(spark, sf_dir):
    """v5 (r11 VERDICT item 4 — the documented dedup ordering as one
    composed plan) must cost the SUM of its stages: each stage's exchange
    count is bounded in isolation, the seams are doc_id-keyed joins (never
    a cartesian), and the shipped composition's outer plan past the pinned
    stage-4 frame is just the mixture + final aggregate with ZERO corpus
    re-scans — the stage-count invariant that catches an unpinned seam
    replaying the upstream pipeline per consumer."""
    from demo_bigdata_spark.operators import dedup as D
    from demo_bigdata_spark.operators import text as X
    from demo_bigdata_spark.suites.suite_llm import (
        NEAR_DUP_THRESHOLD,
        _url_variants,
        q_corpus_pipeline_v5,
    )

    docs = load_table(spark, sf_dir, "documents").withColumn("url", _url_variants())

    # stage 1: URL dedup — ONE shuffle on the canonical key (row_number
    # window), canonicalization itself map-only
    s1 = X.url_dedup(docs, url_col="url", id_col="doc_id").select(
        "doc_id", "text", "lang", "source"
    )
    p1 = executed_plan(s1)
    assert p1.count("Exchange") <= 2 and not has_cartesian(s1), p1
    s1 = s1.localCheckpoint(eager=True)

    # stage 2: exact dedup — digest groupBy + survivor join, digest-sized
    # shuffle keys only
    s2 = s1.join(
        D.exact_dedup(s1).select(F.col("keep_id").alias("doc_id")), "doc_id"
    )
    p2 = executed_plan(s2)
    assert p2.count("Exchange") <= 5 and not has_cartesian(s2), p2
    s2 = s2.localCheckpoint(eager=True)

    # stage 3: near-dup pair generation is a band equi-join (bounded
    # exchanges, never a cartesian); the CC fixed point is iterative and
    # checked by value elsewhere
    pairs = D.jaccard_pairs(
        s2,
        D.minhash_candidates(s2, max_bucket=1000),
        size_prune_threshold=NEAR_DUP_THRESHOLD,
    ).filter(F.col("jaccard") >= NEAR_DUP_THRESHOLD)
    pp = executed_plan(pairs)
    assert not has_cartesian(pairs), pp
    s3 = s2.join(
        D.near_dup_survivors(s2, threshold=NEAR_DUP_THRESHOLD)
        .filter(F.col("keep"))
        .select("doc_id"),
        "doc_id",
    ).localCheckpoint(eager=True)

    # stage 4: gopher gate — feature projection + bigram aggregate only
    s4 = s3.join(
        X.gopher_filter(s3).filter(F.col("keep")).select("doc_id"), "doc_id"
    )
    p4 = executed_plan(s4)
    assert p4.count("Exchange") <= 7 and not has_cartesian(s4), p4

    # shipped composition: outer plan past the pinned stage frames is the
    # mixture + final aggregate — bounded exchanges, zero corpus re-scans
    out = q_corpus_pipeline_v5(spark, sf_dir)
    po = executed_plan(out)
    assert po.count("Exchange") <= 6 and not has_cartesian(out), po
    assert po.count("Scan parquet") == 0, po
    rows = out.collect()
    assert rows and all(r["n_docs"] > 0 for r in rows)


def test_semantic_dedup_is_cluster_equi_join(spark, sf_dir):
    """SemDeDup's within-cluster comparison must plan as an equi join on
    the cluster id (shuffle-partitionable) — never a cartesian/nested-loop
    pair scan; that bound on the pair space is the whole point of the
    cluster-then-compare shape."""
    from demo_bigdata_spark.suites.suite_llm import q_semantic_dedup

    plan = executed_plan(q_semantic_dedup(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_semantic_dedup_capped_is_cluster_equi_join(spark, sf_dir):
    """The capped variant keeps the same plan discipline: the within-
    cluster comparison equi-joins on the REFINED string key (materialized
    by the per-level checkpoint, so neither join side re-evaluates the
    LSH plane arithmetic) — no cartesian/nested-loop anywhere."""
    from demo_bigdata_spark.suites.suite_llm import q_semantic_dedup_capped

    plan = executed_plan(q_semantic_dedup_capped(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_lsh_pairs_gemm_is_bucket_equi_join(spark, sf_dir):
    """r10: lsh_pairs_above's default gemm path must equi-join GEMM
    blocks on the (table, bucket) key — no cartesian/nested-loop — and
    its cross-table dedup aggregate must group on the bare id pair (the
    shuffle carries scalars, not vectors)."""
    from demo_bigdata_spark.suites.suite_llm import q_lsh_pairs

    plan = executed_plan(q_lsh_pairs(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_hybrid_rrf_windows_bounded_by_candidate_lists(spark, sf_dir):
    """rrf_fuse's rank windows are single-partition BY DESIGN, but they
    must sit above the top-N candidate cuts (TakeOrderedAndProject /
    GlobalLimit), never over the corpus — and the fusion join is an
    equi-join over the two lists, no cartesian."""
    from demo_bigdata_spark.suites.suite_llm import q_hybrid_rrf

    out = q_hybrid_rrf(spark, sf_dir)
    plan = executed_plan(out)
    # BroadcastNestedLoopJoin over the 1-row bm25 scalars (n_docs, avgdl)
    # is the pct-of-total pattern and fine; a true CartesianProduct is not
    assert "CartesianProduct" not in plan, plan
    assert plan.count("Window") == 2, plan
    # both candidate lists are limit-cut before any window sees them
    assert (
        plan.count("TakeOrderedAndProject") + plan.count("GlobalLimit") >= 2
    ), plan


def test_url_dedup_single_exchange_with_partial_group_limit(spark, sf_dir):
    """url_dedup's plan contract (r11): canonicalization is codegen'd
    expression work inside the scan stage (no UDF, no join), the keep-first
    cut is ONE hash exchange on the canonical key, and a map-side partial
    WindowGroupLimit runs BEFORE that exchange so each task ships at most
    one row per canonical key it sees — the property that keeps the dedup
    shuffle ~survivor-sized at 100 TB."""
    from demo_bigdata_spark.operators.text import url_dedup

    docs = load_table(spark, sf_dir, "documents").withColumn(
        "url",
        F.concat(F.lit("https://h"), (F.col("doc_id") % 50).cast("string"),
                 F.lit(".com/p?id="), F.col("doc_id").cast("string")),
    )
    out = url_dedup(docs)
    plan = executed_plan(out)
    assert plan.count("Exchange") == 1, plan
    # partial + final group-limit pair around the single exchange
    assert plan.count("WindowGroupLimit") == 2, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan


def test_weighted_sample_take_ordered_no_shuffle(spark, sf_dir):
    """weighted_sample compiles to scan -> TakeOrderedAndProject: no
    Exchange of the data, no window over the corpus — k rows cross the
    wire, the A-ES scale claim."""
    from demo_bigdata_spark.operators.sampling import weighted_sample

    out = weighted_sample(load_table(spark, sf_dir, "documents"), 50, "n_chars")
    plan = executed_plan(out)
    assert "TakeOrderedAndProject" in plan, plan
    assert "Exchange" not in plan, plan


def test_bloom_decontaminate_no_join_before_aggregate(spark, sf_dir):
    """bloom_decontaminate's membership test is map-side expression work
    against the broadcast word array: NO join anywhere, and no exchange
    keyed on the shingle hash alone — the exact decontaminate meets the
    eval side in a shuffle join keyed by shingle_hash, which is exactly
    what the sketch removes. The exchanges that remain are the per-doc
    aggregate's (doc_id-keyed two-phase count-distinct) plus the shingle
    table's own input repartition."""
    from demo_bigdata_spark.operators.dedup import shingle_hashes
    from demo_bigdata_spark.operators.sketches import (
        bloom_decontaminate,
        build_ngram_bloom,
    )

    docs = load_table(spark, sf_dir, "documents")
    sh = shingle_hashes(docs, n=8, extra_cols=("source",))
    is_eval = F.col("source").isin("src0", "src1")
    bloom = build_ngram_bloom(sh.filter(is_eval), m_bits=1 << 20, k_hashes=4)
    out = bloom_decontaminate(
        sh.filter(~is_eval).select("doc_id", "shingle_hash"), bloom,
        m_bits=1 << 20, k_hashes=4,
    )
    plan = executed_plan(out)
    assert "Join" not in plan, plan
    assert "hashpartitioning(shingle_hash" not in plan, plan


def test_domain_tier_plan_shapes(spark, sf_dir):
    """Domain-tier scale posture: url_domain is map-only (zero exchanges —
    it must stay inside the scan's codegen), domain_cap_sample is exactly
    ONE shuffle on the domain key, domain_stats is a map-side-combinable
    hash aggregate (partial_count visible, one exchange), and the
    histogram sketch is one partial-aggregated exchange of <= n_bins rows."""
    from demo_bigdata_spark.operators.sketches import histogram_sketch
    from demo_bigdata_spark.operators.text import (
        domain_cap_sample,
        domain_stats,
        url_domain,
    )
    from demo_bigdata_spark.suites.suite_llm import _domain_url_variants

    docs = load_table(spark, sf_dir, "documents").withColumn(
        "url", _domain_url_variants()
    )

    extract = docs.select("doc_id", url_domain("url").alias("domain"))
    pe = executed_plan(extract)
    assert pe.count("Exchange") == 0, pe  # pure projection, map-only

    cap = domain_cap_sample(docs, max_per_domain=3)
    pc = executed_plan(cap)
    assert pc.count("Exchange") == 1 and "hashpartitioning(domain" in pc, pc
    assert not has_cartesian(cap), pc

    # count_distinct(lang) expands to Spark's two-phase distinct plan: a
    # (domain, lang) exchange (cardinality bounded by domains x langs —
    # already aggregated map-side) then the final domain exchange
    stats = domain_stats(docs)
    ps = executed_plan(stats)
    assert ps.count("Exchange") <= 2, ps
    assert "partial_count" in ps or "partial" in ps.lower(), ps

    hist = histogram_sketch(docs, "n_chars", 0.0, 2048.0, 256)
    ph = executed_plan(hist)
    assert ph.count("Exchange") == 1, ph
    assert "partial_count" in ph or "partial" in ph.lower(), ph


def test_domain_quality_plan_no_selfjoin(spark, sf_dir):
    """r12 VERDICT #4: domain_quality_filter must NOT pay a corpus-sized
    doc_id self-join to recover columns its flag subquery dropped — the
    keep flag is an inline expression, so the ONLY join left is the
    domain-cardinality stats join. The keyed seam is localCheckpoint-pinned
    (two consumers), so the plan past the pin re-reads ZERO parquet and
    carries <= 2 exchanges (the pass-frac aggregate + the stats join's
    build side)."""
    from demo_bigdata_spark.operators.text import domain_quality_filter
    from demo_bigdata_spark.suites.suite_llm import _domain_url_variants

    docs = load_table(spark, sf_dir, "documents").withColumn(
        "url", _domain_url_variants()
    )
    out = domain_quality_filter(docs, min_pass_frac=0.95, min_docs=2)
    po = executed_plan(out)
    assert po.count("Scan parquet") == 0, po  # everything reads the pin
    assert po.count("Exchange") <= 2, po
    assert not has_cartesian(out), po
    # every join keys on domain — no doc_id join anywhere
    import re as _re

    join_keys = _re.findall(r"(?:HashJoin|SortMergeJoin\w*) \[(\w+)", po)
    assert join_keys and all(k.startswith("domain") for k in join_keys), (
        join_keys,
        po,
    )


def test_quality_flag_matches_quality_score(spark, sf_dir):
    """quality_flag (the inline expression) must reproduce
    quality_score().keep row-for-row — same rounding, same thresholds —
    or the domain gate silently diverges from the per-doc gate."""
    from demo_bigdata_spark.operators.text import quality_flag, quality_score

    docs = load_table(spark, sf_dir, "documents")
    inline = docs.select("doc_id", quality_flag("text").alias("flag"))
    scored = quality_score(docs).select("doc_id", "keep")
    diff = inline.join(scored, "doc_id").filter(
        F.col("flag") != F.col("keep")
    )
    assert diff.count() == 0


def test_url_domains_psl_plan_map_only(spark, sf_dir):
    """The PSL suffix lookup is inlined as plan-time InSet literals (r13
    optimization): the extraction must be ONE map-only projection — zero
    joins of any kind, zero exchanges, zero suffix-side re-aggregations —
    strictly stronger than the broadcast-join shape it replaced."""
    from demo_bigdata_spark.operators.text import url_domains_with_psl
    from demo_bigdata_spark.suites.suite_llm import (
        PSL_FIXTURE_SUFFIXES,
        _psl_url_variants,
    )

    docs = load_table(spark, sf_dir, "documents").withColumn(
        "url", _psl_url_variants()
    )
    psl = spark.createDataFrame(
        [(s,) for s in PSL_FIXTURE_SUFFIXES], "suffix string"
    )
    out = url_domains_with_psl(docs, suffixes=psl)
    po = executed_plan(out)
    assert "Join" not in po, po
    assert "Exchange" not in po, po
    assert "HashAggregate" not in po, po
    assert not has_cartesian(out), po


def test_corpus_pipeline_v6_domain_stages_and_seams(spark, sf_dir):
    """v6 (r12 VERDICT #6 — the domain-curation tier composed into the
    crawl order) keeps the v5 stage-sum discipline: the blocklist stage is
    a BROADCAST anti-join on a domain extracted ONCE (zero corpus shuffle
    beyond stage 1's canonical-key window), the cap is ONE domain-keyed
    shuffle, the quality gate (the #4 fix under composition) adds <= 2
    exchanges and joins ONLY on domain, and the shipped composition's
    outer plan past the pinned stage frames has bounded exchanges, no
    cartesian, and ZERO corpus re-scans."""
    from demo_bigdata_spark.operators import text as X
    from demo_bigdata_spark.suites.suite_llm import (
        V6_BLOCKED_DOMAINS,
        V6_DOMAIN_CAP,
        V6_MIN_DOCS,
        V6_MIN_PASS_FRAC,
        V6_QUALITY_MIN_TOKENS,
        _url_variants,
        q_corpus_pipeline_v6,
    )

    docs = load_table(spark, sf_dir, "documents").withColumn("url", _url_variants())
    s1 = (
        X.url_dedup(docs, url_col="url", id_col="doc_id")
        .select("doc_id", "text", "lang", "source", "url")
        .withColumn("domain", X.url_domain("url"))
        .localCheckpoint(eager=True)
    )
    blocked = spark.createDataFrame(
        [(d,) for d in V6_BLOCKED_DOMAINS], "domain string"
    )
    d1 = X.filter_blocked_domains(s1, blocked, input_domain_col="domain")
    p1 = executed_plan(d1)
    # anti-join broadcast: the corpus side never shuffles
    assert "BroadcastHashJoin" in p1 and "LeftAnti" in p1, p1
    assert p1.count("Exchange") - p1.count("BroadcastExchange") == 0, p1
    d1 = d1.localCheckpoint(eager=True)

    d2 = X.domain_cap_sample(d1, max_per_domain=V6_DOMAIN_CAP, domain_col="domain")
    p2 = executed_plan(d2)
    assert p2.count("Exchange") == 1 and "hashpartitioning(domain" in p2, p2
    d2 = d2.localCheckpoint(eager=True)

    d3 = X.domain_quality_filter(
        d2,
        min_pass_frac=V6_MIN_PASS_FRAC,
        min_docs=V6_MIN_DOCS,
        domain_col="domain",
        min_tokens=V6_QUALITY_MIN_TOKENS,
    )
    p3 = executed_plan(d3)
    assert p3.count("Exchange") <= 2 and not has_cartesian(d3), p3
    import re as _re

    jk = _re.findall(r"(?:HashJoin|SortMergeJoin\w*) \[(\w+)", p3)
    assert jk and all(k.startswith("domain") for k in jk), (jk, p3)

    # shipped composition: bounded outer plan, no corpus re-scans
    out = q_corpus_pipeline_v6(spark, sf_dir)
    po = executed_plan(out)
    assert po.count("Exchange") <= 6 and not has_cartesian(out), po
    assert po.count("Scan parquet") == 0, po
    rows = out.collect()
    assert rows and all(r["n_docs"] > 0 for r in rows)


def test_source_kl_plan_one_corpus_pass(spark, sf_dir):
    """group_kl_divergence scans the corpus ONCE: the (group, token)
    aggregate is localCheckpoint-pinned (it feeds both the vocab subtree
    and the OOV fold), so the executed plan reads zero parquet past the
    pin; the vocab selection is a TakeOrderedAndProject (distributed
    top-k, not a single-task global window), the vocab join is broadcast,
    and no cartesian product sneaks in (the scalar-total join is a
    BroadcastNestedLoopJoin over ONE row — allowed)."""
    from demo_bigdata_spark.operators.text import group_kl_divergence

    docs = load_table(spark, sf_dir, "documents")
    out = group_kl_divergence(docs, group_col="source")
    po = executed_plan(out)
    assert po.count("Scan parquet") == 0, po  # everything reads the pin
    assert "TakeOrderedAndProject" in po, po
    assert "CartesianProduct" not in po, po

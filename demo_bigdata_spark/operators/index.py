"""Persistent inverted index: build once, probe with partition pruning.

[EXT] The retrieval twin of build_dedup_index (operators/dedup.py): at
100 TB you do not re-scan the corpus per query — you materialize postings
ONCE, laid out so a query touches only its own slice, and every later
search is a pruned read.

Spark-first layout: postings are plain (term, doc_id, tf) ROWS — never
collect_list'd into per-term arrays, which would make corpus-stopword
postings (appearing in every doc) single-row gigabyte cells and re-shuffle
the whole list on every merge. Rows keep the index mergeable by appending
files, and the term_bucket partitioning (content-addressed md5 bucket,
sampling.hash_bucket) means a k-term query prunes the scan to <= k
directories regardless of corpus size. Conjunctive search is then a
groupBy(doc) HAVING count = k over only the matching postings — shuffle
volume is the query's posting rows, not the corpus.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from demo_bigdata_spark.operators.ranking import term_frequencies
from demo_bigdata_spark.operators.sampling import _HEX_CHARS, hash_bucket


def python_term_bucket(term: str, n_buckets: int = 256) -> int:
    """Driver-side twin of sampling.hash_bucket's portable md5 path — used
    to turn query terms into partition values WITHOUT touching the data.
    Must stay bit-compatible with the Spark expression (pinned by
    tests/test_operators: a drifted bucket silently empties searches)."""
    h = int(hashlib.md5(term.encode("utf-8")).hexdigest()[:_HEX_CHARS], 16)
    return h % n_buckets


def build_inverted_index(
    df: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 256,
) -> None:
    """Materialize the postings table partitioned by term_bucket. Build cost
    is one explode + (doc, term) groupBy + one shuffle into the bucket
    layout; incremental corpora append new batches' postings to the same
    layout (same bucket function => same directories).

    A ``doclens`` side table ((doc, dl) with dl = total token count) is
    written beside the postings — the document-length normalization input
    BM25 needs, derived from the same tf pass (dl = per-doc sum of tf, so
    the index is self-contained: ranked retrieval never re-reads text).
    Docs with ZERO tokens (empty/whitespace-only text) get an explicit
    dl=0 row — they carry no postings, but they must count toward the
    corpus N and avgdl so indexed BM25 stays value-identical to the
    scan-side bm25_rank, whose N/avgdl come from the documents table.

    A batch build and incremental maintenance (append_postings) are
    ALTERNATIVE lifecycles for an index directory — a build overwrites
    and carries no epoch ledger; don't mix the two on one path."""
    tf = term_frequencies(df, text_col, id_col).localCheckpoint(eager=False)
    (
        tf.withColumn("term_bucket", hash_bucket("term", n_buckets))
        .repartition("term_bucket")
        .write.mode("overwrite")
        .partitionBy("term_bucket")
        .parquet(path + "/postings")
    )
    _doclens_with_empty_docs(df, tf, id_col).withColumn(
        "epoch_id", F.lit(0)  # schema-shared with append path
    ).write.mode("overwrite").parquet(path + "/doclens")


def _doclens_with_empty_docs(df: DataFrame, tf: DataFrame, id_col: str) -> DataFrame:
    """(doc, dl) for EVERY source doc: per-doc tf sum left-joined back to
    the doc-id list so zero-token docs appear with dl=0 instead of being
    silently dropped from the BM25 N/avgdl statistics."""
    sums = tf.groupBy(id_col).agg(F.sum("tf").cast("bigint").alias("_dl"))
    return (
        df.select(id_col)
        .join(sums, id_col, "left")
        .select(id_col, F.coalesce(F.col("_dl"), F.lit(0).cast("bigint")).alias("dl"))
    )


def _positional_postings(
    df: DataFrame, text_col: str, id_col: str, n_buckets: int
) -> DataFrame:
    """(doc, term, positions, term_bucket) rows — the shared construction
    for batch builds and per-epoch appends."""
    from demo_bigdata_spark.operators.text import tokens

    return (
        df.select(
            F.col(id_col),
            F.posexplode(tokens(F.col(text_col))).alias("pos", "term"),
        )
        .filter(F.col("term") != "")
        .groupBy(id_col, "term")
        .agg(F.sort_array(F.collect_list("pos")).alias("positions"))
        .withColumn("term_bucket", hash_bucket("term", n_buckets))
    )


def build_positional_index(
    df: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 256,
) -> None:
    """Positional postings: one row per (doc, term) carrying the sorted
    array of its token positions. Per-row array size is bounded by the
    DOCUMENT's length (positions are per-doc, unlike per-term posting
    lists), so even corpus stopwords stay cells of at most doc-length
    ints. Same term_bucket layout/pruning as the tf index.

    Batch build and incremental maintenance (append_positional_postings)
    are ALTERNATIVE lifecycles for one directory, exactly like the
    inverted index: a build overwrites and carries no epoch ledger."""
    (
        _positional_postings(df, text_col, id_col, n_buckets)
        .repartition("term_bucket")
        .write.mode("overwrite")
        .partitionBy("term_bucket")
        .parquet(path)
    )


def append_positional_postings(
    spark: SparkSession,
    batch_df: DataFrame,
    path: str,
    epoch_id: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 256,
) -> None:
    """Exactly-once incremental maintenance for the POSITIONAL index —
    the same epoch-ledger discipline as append_postings: the epoch's rows
    land in its own ``term_bucket=<b>/epoch_id=<k>`` partitions, and an
    applied epoch is a no-op. Work per epoch is O(batch) — history is
    never re-tokenized. Same append-only document-stream contract as the
    inverted index."""
    from demo_bigdata_spark.streaming.pipeline import (
        commit_epoch,
        epoch_already_applied,
        write_epoch_partition,
    )

    epochs_path = path + "_epochs"
    if epoch_already_applied(spark, epochs_path, epoch_id):
        return
    write_epoch_partition(
        _positional_postings(batch_df, text_col, id_col, n_buckets).repartition(
            "term_bucket"
        ),
        path,
        epoch_id,
        ("term_bucket",),
    )
    commit_epoch(spark, epochs_path, epoch_id)


def read_positional_postings(
    spark: SparkSession, path: str, id_col: str = "doc_id"
) -> DataFrame:
    """Committed view of an incrementally-maintained positional index;
    bucket predicates prune its partitioned scan."""
    from demo_bigdata_spark.streaming.pipeline import committed_view

    return committed_view(
        spark,
        path,
        path + "_epochs",
        f"{id_col} long, term string, positions array<int>, "
        "term_bucket int, epoch_id long",
    )


def phrase_search(
    spark: SparkSession,
    path: str,
    phrase: list[str],
    id_col: str = "doc_id",
    n_buckets: int = 256,
    postings: DataFrame | None = None,
) -> DataFrame:
    """Exact phrase matching off the positional index: join the phrase
    terms' postings per doc (scan pruned to the phrase's buckets), then a
    start position is any occurrence of term 0 whose i-th successor
    position holds term i. The adjacency fold is an array HOF over the
    FIRST term's per-doc positions — per-row work bounded by doc length.
    Emits (doc, n_matches, first_pos) for matching docs.

    An incrementally-maintained index is read through its committed view
    (streaming.pipeline.live_or_built) — uncommitted crash-window rows
    never match. Pass ``postings=`` to override."""
    if not phrase:
        raise ValueError("phrase must be non-empty")
    from demo_bigdata_spark.streaming.pipeline import live_or_built

    buckets = sorted({python_term_bucket(t, n_buckets) for t in phrase})
    if postings is None:
        postings = live_or_built(
            spark, path, lambda: read_positional_postings(spark, path, id_col)
        )
    postings = postings.filter(
        F.col("term_bucket").isin(buckets)
        & F.col("term").isin(sorted(set(phrase)))
    )
    joined = (
        postings.filter(F.col("term") == phrase[0])
        .select(F.col(id_col), F.col("positions").alias("_p0"))
    )
    for i, t in enumerate(phrase[1:], start=1):
        nxt = postings.filter(F.col("term") == t).select(
            F.col(id_col), F.col("positions").alias(f"_p{i}")
        )
        joined = joined.join(nxt, id_col)

    def _adjacent(x):
        cond = F.lit(True)
        for i in range(1, len(phrase)):
            cond = cond & F.array_contains(F.col(f"_p{i}"), x + i)
        return cond

    starts = F.filter(F.col("_p0"), _adjacent)
    return (
        joined.select(
            id_col,
            F.size(starts).cast("bigint").alias("n_matches"),
            F.array_min(starts).cast("bigint").alias("first_pos"),
        )
        .filter(F.col("n_matches") > 0)
    )


def append_postings(
    spark: SparkSession,
    batch_df: DataFrame,
    path: str,
    epoch_id: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 256,
) -> None:
    """Exactly-once incremental index maintenance: write one micro-batch's
    postings as the epoch's ``term_bucket=<b>/epoch_id=<k>`` partitions,
    then commit the epoch to the ledger — the committed-view pattern
    shared with combine_pack_partial (streaming/pipeline.py). An
    already-committed epoch is a no-op. Work per epoch is O(batch) —
    history is never re-tokenized.

    Assumes an append-only document stream (each doc_id ingested in exactly
    one epoch) — the same contract as the continuous packer; a re-ingested
    doc would contribute a second (doc, term) posting row and over-count
    conjunctive matches."""
    from demo_bigdata_spark.streaming.pipeline import (
        commit_epoch,
        epoch_already_applied,
        write_epoch_partition,
    )

    epochs_path = path + "_epochs"
    if epoch_already_applied(spark, epochs_path, epoch_id):
        return
    tf = term_frequencies(batch_df, text_col, id_col).localCheckpoint(eager=False)
    write_epoch_partition(
        tf.withColumn("term_bucket", hash_bucket("term", n_buckets)).repartition(
            "term_bucket"
        ),
        path + "/postings",
        epoch_id,
        ("term_bucket",),
    )
    # the doclens side table rides the same epoch and ledger commit, so
    # ranked retrieval (bm25_rank_indexed) works off a continuously-
    # maintained index too. Empty docs get dl=0 rows here too (same
    # N/avgdl contract as a build).
    write_epoch_partition(
        _doclens_with_empty_docs(batch_df, tf, id_col), path + "/doclens", epoch_id
    )
    commit_epoch(spark, epochs_path, epoch_id)


def read_postings(spark: SparkSession, path: str, id_col: str = "doc_id") -> DataFrame:
    """Committed view of an incrementally-maintained postings table
    (streaming.pipeline.committed_view); a caller's bucket predicate
    prunes its partitioned scan."""
    from demo_bigdata_spark.streaming.pipeline import committed_view

    return committed_view(
        spark,
        path + "/postings",
        path + "_epochs",
        f"{id_col} long, term string, tf long, term_bucket int, epoch_id long",
    )


def read_doclens(spark: SparkSession, path: str, id_col: str = "doc_id") -> DataFrame:
    """The doclens side table: its committed view on an incrementally-
    maintained index, the files as they are on a batch build."""
    from demo_bigdata_spark.streaming.pipeline import committed_view, live_or_built

    return live_or_built(
        spark,
        path + "/doclens",
        lambda: committed_view(
            spark,
            path + "/doclens",
            path + "_epochs",
            f"{id_col} long, dl long, epoch_id long",
        ),
    )


def conjunctive_search(
    spark: SparkSession,
    path: str,
    terms: list[str],
    id_col: str = "doc_id",
    n_buckets: int = 256,
    postings: DataFrame | None = None,
) -> DataFrame:
    """Docs containing ALL ``terms``, with match stats, straight off the
    index: the term_bucket values are computed driver-side from the query
    string alone, so the parquet scan partition-prunes to at most
    len(terms) buckets (plan-pinned); the HAVING count = k conjunction
    runs on postings rows only. Pass ``postings=read_postings(...)`` to
    query an incrementally-maintained index instead of a batch build."""
    uniq = sorted(set(terms))
    buckets = sorted({python_term_bucket(t, n_buckets) for t in uniq})
    postings = (
        (spark.read.parquet(path + "/postings") if postings is None else postings)
        .filter(F.col("term_bucket").isin(buckets))
        .filter(F.col("term").isin(uniq))
    )
    return (
        postings.groupBy(id_col)
        .agg(
            F.count("*").alias("n_terms"),
            F.sum("tf").cast("bigint").alias("total_tf"),
        )
        .filter(F.col("n_terms") == len(uniq))
    )


def bm25_rank_indexed(
    spark: SparkSession,
    path: str,
    terms: list[str],
    k1: float = 1.2,
    b: float = 0.75,
    limit: int = 20,
    id_col: str = "doc_id",
    n_buckets: int = 256,
    postings: DataFrame | None = None,
) -> DataFrame:
    """BM25 straight off the inverted index — the production retrieval
    flow: the corpus text is never touched. Identical scoring to
    ranking.bm25_rank (same idf, same fixed-order fold — dl from the
    doclens side table equals the scan-side token count for whitespace
    tokenization, and the build writes dl=0 rows for zero-token docs, so
    the two paths are value-identical and share one oracle). Scan cost:
    the query terms' pruned buckets + one broadcast aggregate over
    doclens; the doclens join touches only matching docs.

    An incrementally-maintained index is read through ``read_postings``'s
    committed view (streaming.pipeline.live_or_built) — rows written
    before their epoch's commit would otherwise count in df_t / n_hits /
    term scores. A batch-built index reads the files directly. Pass
    ``postings=`` to override either way (conjunctive_search's contract)."""
    from demo_bigdata_spark.streaming.pipeline import live_or_built

    uniq = sorted(set(terms))
    buckets = sorted({python_term_bucket(t, n_buckets) for t in uniq})
    if postings is None:
        postings = live_or_built(
            spark, path + "/postings", lambda: read_postings(spark, path, id_col)
        )
    postings = (
        postings.filter(F.col("term_bucket").isin(buckets))
        .filter(F.col("term").isin(uniq))
        .select(id_col, "term", "tf")
    )
    doclens = read_doclens(spark, path, id_col).select(id_col, "dl")
    stats = doclens.agg(
        F.count("*").cast("bigint").alias("_n_docs"),
        (F.sum("dl") / F.count("*")).alias("_avgdl"),
    )
    idf = (
        postings.groupBy("term")
        .agg(F.count("*").cast("bigint").alias("df_t"))
        .join(F.broadcast(stats))
        .select(
            "term",
            "_avgdl",
            "_n_docs",
            F.log(
                1 + (F.col("_n_docs") - F.col("df_t") + 0.5) / (F.col("df_t") + 0.5)
            ).alias("idf"),
        )
    )
    per_term = (
        postings.join(doclens, id_col)
        .join(F.broadcast(idf), "term")
        .select(
            id_col,
            "term",
            (
                F.col("idf")
                * (F.col("tf") * (k1 + 1))
                / (
                    F.col("tf")
                    + k1 * (1 - b + b * (F.col("dl") / F.col("_avgdl")))
                )
            ).alias("term_score"),
        )
    )
    per_term_cols = [
        F.sum(F.when(F.col("term") == t, F.col("term_score"))).alias(f"_s{i}")
        for i, t in enumerate(uniq)
    ]
    total = F.lit(0.0)
    for i in range(len(uniq)):
        total = total + F.coalesce(F.col(f"_s{i}"), F.lit(0.0))
    return (
        per_term.groupBy(id_col)
        .agg(*per_term_cols, F.count("*").alias("n_hits"))
        .select(id_col, total.alias("bm25"), "n_hits")
        .orderBy(F.desc("bm25"), F.asc(id_col))
        .limit(limit)
    )

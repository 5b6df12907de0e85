"""Text-analysis operators [EXT] over the ``documents`` table (north star:
training-data pipeline surface — language ID, quality scoring, token counting,
document fingerprinting).

All hot-path logic is Catalyst built-ins (split/regexp/length/aggregate) —
JVM-side, codegen'd, no Python per row. Every operator has an ANSI twin so it
stays oracle-checkable (suites/suite_llm.py).

At 100 TB: these are embarrassingly parallel scans (no shuffle until the final
aggregate); the expensive part is the string work, which whole-stage codegen
vectorizes. For corpus-level stats prefer the approx variants.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from demo_bigdata_spark.session import local_frame

# Tiny per-language stopword markers for the n-gram/stopword heuristic
# language-ID. Deliberately small + deterministic — a real pipeline would
# plug a fastText-style model in via pandas_udf (operators/multimodal.py
# shows the plumbing pattern).
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of"),
    "de": ("der", "und", "die"),
    "fr": ("le", "et", "les"),
    "es": ("el", "y", "los"),
    "zh": ("de", "shi", "zhong"),
}


def tokens(text: Column | str) -> Column:
    """Whitespace tokenization — array<string>."""
    col = F.col(text) if isinstance(text, str) else text
    return F.split(F.trim(col), r"\s+")


def token_count(text: Column | str) -> Column:
    col = F.col(text) if isinstance(text, str) else text
    empty = F.trim(col) == ""
    return F.when(empty, F.lit(0)).otherwise(F.size(tokens(col)))


def word_like_token_count(text: Column | str) -> Column:
    """BPE-ish sub-word proxy: count alphanumeric runs + punctuation marks
    separately (regexp-based, JVM-side)."""
    col = F.col(text) if isinstance(text, str) else text
    words = F.size(F.filter(F.split(col, r"[^A-Za-z0-9]+"), lambda t: t != ""))
    puncts = F.length(F.regexp_replace(col, r"[A-Za-z0-9\s]", ""))
    return (words + puncts).cast("int")


def shingles_of(tok: Column, n: int = 3) -> Column:
    """n-token shingles from an ALREADY-MATERIALIZED token-array column.
    Documents with fewer than n tokens yield one whole-text shingle.
    Pure higher-order-function composition — no explode, no shuffle.

    ``tok`` must be a bound attribute (a pinned projected column), not an
    inline ``tokens(...)`` expression: a lambda body re-evaluates every
    expression it references once PER ARRAY ELEMENT, so an inline regex
    split would run once per shingle position — O(L^2) in document length
    (measured 6x on shingle construction at sf0.1: 3.25s -> 0.55s).
    Callers project ``pin(tokens(text))`` first; ``pin`` stops
    CollapseProject from re-inlining the split into the lambda."""

    def _shingle(i: Column) -> Column:
        return F.concat_ws(" ", F.slice(tok, i + 1, n))

    return F.when(
        F.size(tok) >= n,
        F.transform(F.sequence(F.lit(0), F.size(tok) - n), _shingle),
    ).otherwise(F.array(F.concat_ws(" ", tok)))


def shingles(text: Column | str, n: int = 3) -> Column:
    """n-token shingles straight from a text column. PERF TRAP: the token
    split runs once per shingle position inside the lambda (no projection
    boundary to materialize it). Hot paths must use the two-step
    ``pin(tokens(..))`` projection + ``shingles_of`` instead; this form is
    kept for contexts where a single expression is required and documents
    are short."""
    col = F.col(text) if isinstance(text, str) else text
    return shingles_of(tokens(col), n)


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document quality features: length, token count, mean token length,
    uppercase/punct/digit ratios, distinct-token ratio. Pure projection —
    no shuffle."""
    c = F.col(text_col)
    n_chars = F.length(c)
    toks = tokens(c)
    n_tokens = token_count(c)
    return df.select(
        "doc_id",
        n_chars.cast("bigint").alias("n_chars_calc"),
        n_tokens.cast("bigint").alias("n_tokens"),
        F.round(n_chars / F.greatest(n_tokens, F.lit(1)), 2).alias("avg_token_len"),
        F.round(
            F.size(F.array_distinct(toks)) / F.greatest(n_tokens, F.lit(1)).cast("double"), 4
        ).alias("distinct_token_ratio"),
        F.round(
            F.length(F.regexp_replace(c, r"[^0-9]", "")) / F.greatest(n_chars, F.lit(1)).cast("double"), 4
        ).alias("digit_ratio"),
    )


def classifier_quality_score(
    df: DataFrame,
    weights: DataFrame,
    n_buckets: int = 1024,
    bias: float = 0.0,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """[EXT] linear quality classifier over hashed token features — the
    CCNet/GPT-3-style learned quality filter's SERVING path: each token
    hashes to one of ``n_buckets`` feature buckets, bucket weights come
    from the (broadcast-sized) ``weights`` table (bucket int, weight
    double), and the document score is sigmoid(mean bucket weight + bias).

    Production shape: training happens offline (any logistic-regression
    fit over the same hashed features); THIS path is one explode + one
    broadcast join + one per-doc aggregate — corpus-linear, no UDF, and
    the weight table swap is a pure data change. Tokens hashing to an
    absent bucket contribute weight 0 (the regularized-missing-feature
    convention). Emits (id, n_tokens, raw_score, quality_prob).

    Floats: mean = sum/count of exact-join doubles; sigmoid is the one
    transcendental (the accepted ln/exp cross-engine pattern)."""
    from demo_bigdata_spark.operators.sampling import hash_bucket

    toks = (
        df.select(F.col(id_col), F.explode(tokens(F.col(text_col))).alias("_t"))
        .filter(F.col("_t") != "")
        .select(id_col, hash_bucket("_t", n_buckets).alias("bucket"))
    )
    scored = (
        toks.join(F.broadcast(weights), "bucket", "left")
        .groupBy(id_col)
        .agg(
            F.count("*").cast("bigint").alias("n_tokens"),
            (
                F.sum(F.coalesce(F.col("weight"), F.lit(0.0))) / F.count("*")
                + F.lit(float(bias))
            ).alias("raw_score"),
        )
    )
    return scored.select(
        id_col,
        "n_tokens",
        "raw_score",
        (F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("raw_score")))).alias(
            "quality_prob"
        ),
    )


def train_quality_classifier(
    positives: DataFrame,
    negatives: DataFrame,
    n_buckets: int = 1024,
    iterations: int = 10,
    lr: float = 1.0,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """[EXT] train the hashed-feature logistic quality classifier IN the
    engine — the CCNet/GPT-3 distillation flow (label a reference corpus
    positive, raw crawl negative, fit, then filter at scale with
    :func:`classifier_quality_score`).

    Batch gradient descent with bounded driver state, the k-means/BPE
    iterative pattern: the (doc, bucket, cnt, label) feature table is
    built ONCE (one explode + groupBy, pinned); each iteration is
      margin  = per-doc sum of cnt * w[bucket]      (broadcast join + agg)
      grad    = per-bucket sum of cnt * (sigmoid(margin/len) - y) / len
      w      -= lr * grad / n_docs                  (collect: n_buckets floats)
    Weights live driver-side between iterations (KBs — the bounded-state
    contract), re-broadcast each round as a joined weight table (the same
    lookup shape as the serving path). Features are mean-normalized per
    doc (cnt/len) so long docs don't dominate.

    Returns the (bucket, weight) table classifier_quality_score consumes.
    Reproducible: zero init + fixed iteration count + content-addressed
    bucketing — same corpus, same weights to within float summation
    order (the per-bucket gradient is a cross-partition double sum, so
    reruns can differ by ~1 ULP; decisions are insensitive to it)."""
    import math

    from demo_bigdata_spark.operators.sampling import hash_bucket

    spark = positives.sparkSession

    def feats(df: DataFrame, label: int) -> DataFrame:
        toks = (
            df.select(F.col(id_col), F.explode(tokens(F.col(text_col))).alias("_t"))
            .filter(F.col("_t") != "")
            .select(
                (F.col(id_col) * 2 + label).alias("_doc"),
                hash_bucket("_t", n_buckets).alias("bucket"),
            )
        )
        return toks.groupBy("_doc", "bucket").agg(
            F.count("*").cast("double").alias("cnt"),
            F.lit(float(label)).alias("y"),
        )

    fx = (
        feats(positives, 1)
        .unionByName(feats(negatives, 0))
        .localCheckpoint(eager=False)
    )
    lens = fx.groupBy("_doc").agg(F.sum("cnt").alias("_len"))
    fx = fx.join(lens, "_doc").withColumn("x", F.col("cnt") / F.col("_len"))
    fx = fx.select("_doc", "bucket", "x", "y").localCheckpoint(eager=False)
    n_docs = fx.select("_doc").distinct().count()

    w = [0.0] * n_buckets
    for _ in range(iterations):
        # weights travel as a broadcast-joined table, not a literal map:
        # the same lookup shape as the serving path, and a 1024-entry map
        # literal would be re-interpreted per row
        wdf = local_frame(
            spark,
            [(b, wb) for b, wb in enumerate(w) if wb != 0.0] or [(0, 0.0)],
            "bucket int, weight double",
        )
        margins = (
            fx.join(F.broadcast(wdf), "bucket", "left")
            .withColumn(
                "_wx", F.col("x") * F.coalesce(F.col("weight"), F.lit(0.0))
            )
            .groupBy("_doc", "y")
            .agg(F.sum("_wx").alias("m"))
            .select(
                "_doc",
                (F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("m"))) - F.col("y")).alias(
                    "err"
                ),
            )
        )
        grad_rows = (
            fx.join(margins, "_doc")
            .groupBy("bucket")
            .agg(F.sum(F.col("x") * F.col("err")).alias("g"))
            .collect()
        )
        for r in grad_rows:
            w[int(r["bucket"])] -= lr * float(r["g"]) / n_docs
        if all(math.isfinite(v) for v in w) is False:
            raise RuntimeError("train_quality_classifier diverged; lower lr")
    return spark.createDataFrame(
        [(b, float(wb)) for b, wb in enumerate(w)], "bucket int, weight double"
    )


def classifier_eval(
    df: DataFrame, score_col: str = "raw_score", label_col: str = "label"
) -> DataFrame:
    """[EXT] held-out binary-classifier evaluation IN the engine — the
    train_quality_classifier companion that makes training quality a
    queryable number instead of a test-only assertion. One aggregation
    pass, no driver collect:

    - **AUC** by the rank-sum (Mann-Whitney U) identity: group the eval
      set by DISTINCT score (ties collapse), one cumulative-count window
      over the grouped table, and the tie-averaged rank is integer-exact
      as ``2*avg_rank = 2*cum_before + n_s + 1``. Then
      ``AUC = (2*ranksum_pos - n_pos*(n_pos+1)) / (2*n_pos*n_neg)`` —
      bigint arithmetic ending in ONE bigint/bigint division, so the
      double is IEEE-identical cross-engine (the ratio-of-sums oracle
      pattern, ROUND_NOTES fact 5).
    - **precision/recall at threshold 0** (the sigmoid-0.5 decision
      boundary): conditional sums over the same grouped table.

    The single-partition window runs over DISTINCT SCORES of a held-out
    EVAL set — bounded by design (you label thousands of docs, not the
    corpus), the same deliberate bounded-window shape as the pack/bucket
    windows. Emits one row: (n_pos, n_neg, auc, precision_at_0,
    recall_at_0)."""
    from pyspark.sql.window import Window

    by_s = df.groupBy(score_col).agg(
        F.count("*").cast("bigint").alias("n_s"),
        F.sum(F.col(label_col).cast("bigint")).alias("p_s"),
    )
    w = Window.orderBy(score_col).rowsBetween(Window.unboundedPreceding, -1)
    ranked = by_s.withColumn(
        "cum", F.coalesce(F.sum("n_s").over(w), F.lit(0)).cast("bigint")
    )
    agg = ranked.agg(
        F.sum("p_s").alias("n_pos"),
        F.sum(F.col("n_s") - F.col("p_s")).alias("n_neg"),
        F.sum(
            F.col("p_s") * (F.lit(2) * F.col("cum") + F.col("n_s") + F.lit(1))
        ).alias("rs2"),
        F.sum(
            F.when(F.col(score_col) > 0, F.col("p_s")).otherwise(F.lit(0))
        ).cast("bigint").alias("tp"),
        F.sum(
            F.when(F.col(score_col) > 0, F.col("n_s")).otherwise(F.lit(0))
        ).cast("bigint").alias("pp"),
    )
    return agg.select(
        "n_pos",
        "n_neg",
        (
            (F.col("rs2") - F.col("n_pos") * (F.col("n_pos") + F.lit(1)))
            / (F.lit(2) * F.col("n_pos") * F.col("n_neg"))
        ).alias("auc"),
        F.when(F.col("pp") > 0, F.col("tp") / F.col("pp")).alias(
            "precision_at_0"
        ),
        F.when(F.col("n_pos") > 0, F.col("tp") / F.col("n_pos")).alias(
            "recall_at_0"
        ),
    )


def quality_flag(
    text: Column | str, min_tokens: int = 5, max_avg_token_len: float = 12.0
) -> Column:
    """The :func:`quality_score` keep/drop decision as ONE inline Column
    expression over the raw text — for callers that need the boolean but
    not the feature columns (the per-domain pass-fraction aggregate, a
    pipeline stage's gate). Being a pure map-side expression it composes
    into any projection with zero joins and zero extra scans; the rounding
    (2dp mean token length, 4dp distinct-token ratio) matches
    quality_features exactly so flag == quality_score().keep row-for-row
    (pinned by test_quality_flag_matches_quality_score)."""
    c = F.col(text) if isinstance(text, str) else text
    n_chars = F.length(c)
    n_tokens = token_count(c)
    avg_token_len = F.round(n_chars / F.greatest(n_tokens, F.lit(1)), 2)
    distinct_ratio = F.round(
        F.size(F.array_distinct(tokens(c)))
        / F.greatest(n_tokens, F.lit(1)).cast("double"),
        4,
    )
    return (
        (n_tokens >= min_tokens)
        & (avg_token_len <= max_avg_token_len)
        & (distinct_ratio >= 0.1)
    )


def quality_score(df: DataFrame, text_col: str = "text", min_tokens: int = 5, max_avg_token_len: float = 12.0) -> DataFrame:
    """Heuristic keep/drop quality gate à la Gopher rules (public C4/Gopher
    filtering heuristics re-expressed as Catalyst predicates)."""
    feats = quality_features(df, text_col)
    return feats.withColumn(
        "keep",
        (F.col("n_tokens") >= min_tokens)
        & (F.col("avg_token_len") <= max_avg_token_len)
        & (F.col("distinct_token_ratio") >= 0.1),
    )


def language_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Stopword-marker language ID: score each candidate language by counting
    marker-token hits, pick the argmax (ties -> lexicographic, deterministic).

    Implemented as a fold over a literal score array — pure expressions, no
    UDF. Scores are computed on the token array so markers match whole tokens
    only.
    """
    toks = tokens(F.col(text_col))
    scores = []
    for lang, markers in sorted(LANG_MARKERS.items()):
        score = F.size(F.filter(toks, lambda t: t.isin(*markers)))
        scores.append(F.struct(score.alias("score"), F.lit(lang).alias("lang")))
    best = F.array_max(F.array(*scores))  # struct compare: score first, then lang
    return df.withColumn("predicted_lang", F.when(best["score"] > 0, best["lang"]))


def fingerprint(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Deterministic document fingerprint: md5 of the token-normalized text
    (lowercase, collapsed whitespace). Portable across engines (exact-dedup
    key). A rolling/winnowing hash variant lives in operators/dedup.py."""
    normalized = F.array_join(tokens(F.lower(F.col(text_col))), " ")
    return df.withColumn("fp", F.md5(normalized))


def kwic_snippets(
    df: DataFrame,
    term: str,
    window: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """[EXT] keyword-in-context snippets: for documents containing ``term``,
    the ±``window`` tokens around its FIRST occurrence — the search-result
    presentation step over retrieval output (ranking/index tiers). Pure
    narrow projection + filter: no shuffle, no UDF; token array pinned so
    the filter can't re-tokenize (functions.scalar.pin)."""
    from demo_bigdata_spark.functions.scalar import pin

    toked = df.select(
        F.col(id_col), pin(tokens(F.col(text_col))).alias("_tk")
    )
    pos = F.array_position(F.col("_tk"), term)  # 1-based, 0 when absent
    start = F.greatest(pos - window, F.lit(1))
    end = F.least(pos + window, F.size("_tk"))
    return (
        toked.withColumn("pos", pos.cast("bigint"))
        .filter(F.col("pos") > 0)
        .select(
            id_col,
            "pos",
            F.array_join(
                F.slice("_tk", start, end - start + 1), " "
            ).alias("snippet"),
        )
    )


def cdc_chunks(
    df: DataFrame,
    gram: int = 8,
    modulus: int = 64,
    text_col: str = "text",
    id_col: str = "doc_id",
    portable: bool = True,
) -> DataFrame:
    """[EXT] content-defined chunking (Rabin-style, the LBFS/dedup-storage
    technique): cut after position i whenever the hash of the trailing
    ``gram`` chars satisfies ``h % modulus == 0`` — expected chunk length
    ``modulus``. Boundaries move WITH the content, so an edit only
    reshapes its neighboring chunks; under fixed-size chunking
    (chunk_documents) one insertion shifts every later boundary and
    defeats chunk-level dedup. Joining chunk_md5 across docs/corpus
    versions finds shared spans cheaply.

    Emits (doc, chunk_idx, start, length, chunk_md5) — 1-based char
    offsets into the normalized text. Narrow projection + explode: the
    gram hashing is per-position but each position hashed ONCE (array
    pinned, no HOF re-inlining); no shuffle.
    """
    from demo_bigdata_spark.functions.scalar import pin, spread_for_cpu
    from demo_bigdata_spark.operators.dedup import _hasher

    hasher = _hasher(portable)
    norm = spread_for_cpu(
        df.select(
            F.col(id_col), F.lower(F.trim(F.col(text_col))).alias("_norm")
        )
    ).filter(F.length("_norm") > 0)
    n = F.length("_norm")
    bounds = F.when(
        n >= gram,
        F.filter(
            F.sequence(F.lit(gram), n),
            lambda i: hasher(F.col("_norm").substr(i - (gram - 1), F.lit(gram)))
            % modulus
            == 0,
        ),
    ).otherwise(F.array().cast("array<int>"))
    # close the final chunk at the end of the doc (unless it already is
    # one); try_element_at: plain element_at(-1) THROWS on the empty
    # bounds array under ANSI mode
    ends = F.when(
        F.try_element_at(bounds, F.lit(-1)) == n, bounds
    ).otherwise(F.concat(bounds, F.array(n)))
    rows = norm.select(
        F.col(id_col),
        F.col("_norm"),
        pin(ends).alias("_ends"),
    ).select(
        id_col,
        "_norm",
        "_ends",
        F.posexplode("_ends").alias("chunk_idx", "_end"),
    )
    start = F.when(F.col("chunk_idx") == 0, F.lit(1)).otherwise(
        F.element_at("_ends", F.col("chunk_idx")) + 1
    )
    return rows.select(
        id_col,
        F.col("chunk_idx").cast("bigint").alias("chunk_idx"),
        start.cast("bigint").alias("start"),
        (F.col("_end") - start + 1).cast("bigint").alias("length"),
        F.md5(
            F.col("_norm").substr(start, F.col("_end") - start + 1)
        ).alias("chunk_md5"),
    )


def chunk_documents(
    df: DataFrame,
    chunk_size: int = 64,
    overlap: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """[EXT] fixed-size overlapping token chunks — the pre-training /
    RAG-ingest chunker. One row per chunk: (id, chunk_id, n_tokens,
    chunk_text), stride = chunk_size - overlap.

    Entirely Catalyst built-ins: tokenize once, ``sequence`` over chunk
    starts, ``explode``, ``slice`` + ``concat_ws`` — no Python in the row
    path, fully codegen'd, embarrassingly parallel (no shuffle at all).
    Empty/whitespace docs produce zero chunks.
    """
    if overlap >= chunk_size:
        raise ValueError(f"overlap ({overlap}) must be < chunk_size ({chunk_size})")
    stride = chunk_size - overlap
    base = df.select(
        F.col(id_col),
        tokens(text_col).alias("_toks"),
        token_count(text_col).alias("_n"),
    ).filter(F.col("_n") > 0)
    # chunk starts: 0, stride, 2*stride, ... while start < n (last chunk may
    # be short but never empty; a doc shorter than chunk_size yields 1 chunk)
    starts = F.sequence(F.lit(0), F.col("_n") - 1, F.lit(stride))
    chunked = base.select(
        id_col,
        "_toks",
        F.posexplode(starts).alias("chunk_id", "_start"),
    )
    piece = F.slice(F.col("_toks"), F.col("_start") + 1, chunk_size)
    return chunked.select(
        F.col(id_col),
        F.col("chunk_id").cast("bigint").alias("chunk_id"),
        F.size(piece).cast("bigint").alias("n_tokens"),
        F.concat_ws(" ", piece).alias("chunk_text"),
    )


# PII patterns deliberately conservative + deterministic; a production
# pipeline would layer an NER model via pandas_udf on top. Kept as module
# constants so the DuckDB oracle twins are built from the SAME regexes.
PII_PATTERNS: dict[str, str] = {
    "EMAIL": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "IPV4": r"\b(?:\d{1,3}\.){3}\d{1,3}\b",
    "PHONE": r"\+?\d[\d\- ]{7,}\d",
}


def redact_pii(
    df: DataFrame, text_col: str = "text", out_col: str | None = None
) -> DataFrame:
    """[EXT] deterministic PII scrubbing: emails, IPv4s, phone-like digit
    runs replaced with ``[TYPE]`` tokens, plus per-type hit counts for audit.
    Pure regexp_replace/regexp_count chain — JVM-side, codegen'd, no
    shuffle; scales as a straight map over the corpus.
    """
    out = out_col or f"{text_col}_redacted"
    c: Column = F.col(text_col)
    counts = []
    for name, pat in PII_PATTERNS.items():
        counts.append(F.regexp_count(c, F.lit(pat)).cast("bigint").alias(f"n_{name.lower()}"))
    red = c
    for name, pat in PII_PATTERNS.items():
        red = F.regexp_replace(red, pat, f"[{name}]")
    return df.select("*", *counts, red.alias(out))


def unigram_logprob_score(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """[EXT] corpus-LM quality signal: per-document mean unigram
    -log2 p(token), with p estimated from the corpus itself (add-one
    smoothing over the vocabulary). The cheap stand-in for a KenLM-style
    perplexity filter — documents of improbable tokens score high.

    Shape: one explode+agg for the frequency table (shuffle on token), one
    explode+join of docs against it (shuffle on token; the frequency table
    usually broadcasts — Zipf keeps vocabularies small relative to corpora),
    one agg back per doc. All exact integer/log arithmetic — engine-portable.
    """
    toks = df.select(F.col(id_col), F.explode(tokens(text_col)).alias("tok")).filter(
        F.col("tok") != ""
    )
    freqs = toks.groupBy("tok").agg(F.count("*").alias("tf"))
    totals = freqs.agg(
        F.sum("tf").alias("_n"), F.count("*").alias("_v")
    )
    scored = (
        toks.join(freqs, "tok")
        .join(F.broadcast(totals))
        .withColumn(
            "_nll",
            -F.log2((F.col("tf") + 1) / (F.col("_n") + F.col("_v")).cast("double")),
        )
    )
    return scored.groupBy(id_col).agg(
        F.round(F.avg("_nll"), 4).alias("mean_nll"),
        F.count("*").alias("n_tokens"),
    )


def group_kl_divergence(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    top_v: int = 256,
    scale: int = 6,
) -> DataFrame:
    """[EXT] per-group unigram KL divergence vs the corpus mixture — the
    data-mixture drift diagnostic (which source/domain/snapshot slice is
    lexically furthest from the blend it feeds): KL(p_g ‖ p) =
    Σ_t p_g(t)·ln(p_g(t)/p(t)) over the global top-``top_v`` tokens plus
    one OOV bucket, where p is the corpus-wide distribution over the same
    terms. Non-negative by Gibbs' inequality (p is the mixture, so
    supports align); 0 means the group is lexically indistinguishable from
    the blend. The CCNet/DoReMi-adjacent cheap signal for "which slice
    changed" between crawl snapshots or pipeline stages.

    Shape (the 100 TB posture): ONE explode feeding a map-side-combinable
    (group, token) count — the only corpus-sized shuffle, keyed by
    (group × distinct-token), Zipf-bounded; the top-V vocab is derived
    from those counts (token-keyed agg of the ALREADY-aggregated table,
    not the corpus) and rides back as a BROADCAST join; the OOV fold and
    the KL sum run over ≤ |groups|·(top_v+1) rows. No second corpus scan,
    no per-row Python. Determinism pins, mirrored in the SQL twin: vocab
    membership ties at the count break by token string ascending; all
    probabilities are exact-integer ratios; the final sum is rounded
    sign-safe at ``scale`` (a float KL of -1e-17 must not hash as -0.0 —
    the r12 correlations precedent). Returns (group_col, n_tokens, kl)."""
    from demo_bigdata_spark.functions.scalar import round_signsafe

    toks = df.select(
        F.col(group_col).alias("_grp"), F.explode(tokens(text_col)).alias("tok")
    ).filter(F.col("tok") != "")
    # gt feeds BOTH the vocab subtree and the OOV fold — pinned once (the
    # pipeline-seam convention) so the corpus explode+aggregate runs once,
    # not per consumer; the pin is (group x distinct-token)-sized, not corpus
    gt = (
        toks.groupBy("_grp", "tok")
        .agg(F.count("*").alias("n"))
        .localCheckpoint(eager=False)
    )
    return _kl_from_counts(gt, group_col, top_v, scale)


def _kl_from_counts(
    gt: DataFrame, group_col: str, top_v: int, scale: int
) -> DataFrame:
    """The KL tail shared by the batch operator and the incremental reader:
    from a (_grp, tok, n) count table, derive the tie-broken top-V vocab,
    fold the rest into <oov>, and compute Σ p_g·ln(p_g/p) per group.
    ``gt`` must be pinned by the caller (it feeds two consumers)."""
    from demo_bigdata_spark.functions.scalar import round_signsafe

    # top-V via sort+limit -> TakeOrderedAndProject (distributed per-partition
    # top-k + driver merge), NOT a global row_number window (single-task sort
    # over every distinct token — billions on real web text)
    vocab = (
        gt.groupBy("tok")
        .agg(F.sum("n").alias("_c"))
        .orderBy(F.col("_c").desc(), F.col("tok"))
        .limit(top_v)
        .select("tok")
    )
    termed = (
        gt.join(F.broadcast(vocab.withColumn("_v", F.lit(1))), "tok", "left")
        .withColumn(
            "term", F.when(F.col("_v").isNotNull(), F.col("tok")).otherwise(F.lit("<oov>"))
        )
        .groupBy("_grp", "term")
        .agg(F.sum("n").alias("n_gt"))
    )
    gtot = termed.groupBy("_grp").agg(F.sum("n_gt").alias("n_g"))
    ttot = termed.groupBy("term").agg(F.sum("n_gt").alias("n_t"))
    total = termed.agg(F.sum("n_gt").alias("n_all"))
    scored = (
        termed.join(gtot, "_grp")
        .join(F.broadcast(ttot), "term")
        .join(F.broadcast(total))
        .withColumn(
            "_kl_t",
            (F.col("n_gt") / F.col("n_g"))
            * F.log(
                (F.col("n_gt") / F.col("n_g"))
                / (F.col("n_t") / F.col("n_all"))
            ),
        )
    )
    return (
        scored.groupBy("_grp")
        .agg(
            F.max("n_g").alias("n_tokens"),
            round_signsafe(F.sum("_kl_t"), scale).alias("kl"),
        )
        .select(F.col("_grp").alias(group_col), "n_tokens", "kl")
    )


def append_term_counts_batch(
    spark,
    batch_df: DataFrame,
    path: str,
    epoch_id: int,
    group_col: str = "source",
    text_col: str = "text",
) -> None:
    """Exactly-once incremental maintenance of the (group, token) count
    table :func:`group_kl_divergence` is built on, under the shared
    epoch-ledger discipline: write the batch's partial counts (one row
    per (group, distinct token) in the batch — Zipf-bounded, never the
    corpus) as the epoch's partition and commit the epoch. Token counts
    are ADDITIVE integers, so the committed sums across epochs equal the
    batch count table of everything ingested exactly."""
    from demo_bigdata_spark.streaming.pipeline import fold_epoch, write_epoch_partition

    def write() -> None:
        part = (
            batch_df.select(
                F.col(group_col).alias("grp"),
                F.explode(tokens(text_col)).alias("tok"),
            )
            .filter(F.col("tok") != "")
            .groupBy("grp", "tok")
            .agg(F.count("*").alias("n"))
        )
        write_epoch_partition(part, path, epoch_id)

    fold_epoch(spark, path, epoch_id, write)


def read_group_kl(
    spark, path: str, group_col: str = "source", top_v: int = 256, scale: int = 6
) -> DataFrame:
    """Per-group KL divergence from the incrementally-maintained count
    table: committed view -> exact integer re-sum per (group, token) -> the SAME vocab/OOV/KL tail
    as the batch operator (:func:`_kl_from_counts`), so live == batch
    bit-for-bit at any epoch boundary — the streaming answer to 'which
    crawl snapshot shifted the mixture'."""
    from demo_bigdata_spark.streaming.pipeline import committed_view, ledger_path

    gt = (
        committed_view(
            spark,
            path,
            ledger_path(path),
            "grp string, tok string, n bigint, epoch_id long",
        )
        .groupBy("grp", "tok")
        .agg(F.sum("n").alias("n"))
        .withColumnRenamed("grp", "_grp")
        .localCheckpoint(eager=False)
    )
    return _kl_from_counts(gt, group_col, top_v, scale)


# Gopher-rule constants (Rae et al. 2021, "Scaling Language Models" §A1.1 —
# public filtering heuristics). Shared with the DuckDB oracle twins so the
# differential checks the full rule set, not just row counts.
REQUIRED_STOPWORDS: tuple[str, ...] = (
    "the", "be", "to", "of", "and", "that", "have", "with",
)
BULLET_PREFIXES: tuple[str, ...] = ("-", "*", "•")


def repetition_features(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    portable: bool = True,
) -> DataFrame:
    """[EXT] Gopher-style repetition signals per document:

    - ``dup_line_frac``: fraction of non-blank lines that are duplicates of
      an earlier line (1 - distinct/total) — boilerplate/navigation detector
    - ``top_bigram_frac``: fraction of tokens covered by the single most
      frequent token-bigram (2*max_count/n_tokens) — template/spam detector

    Line stats are pure array expressions (no shuffle). The bigram mode
    needs a per-(doc, bigram) count: explode -> two-level hash aggregate —
    partial map-side combine keeps the shuffle proportional to DISTINCT
    bigrams per doc, and the key space is (doc_id, bigram), so skew is
    bounded by single-document size, not corpus size. A per-doc
    higher-order-function O(k^2) rewrite avoids the shuffle but interprets
    per element (ROUND_NOTES fact 3) — measured slower at any real doc
    length.
    """
    line_stats = df.select(
        F.col(id_col), _dup_line_frac_expr(F.col(text_col)).alias("dup_line_frac")
    )
    return (
        line_stats.join(
            _top_bigram_frac(df, text_col, id_col, portable=portable), id_col, "left"
        )
        .withColumn("top_bigram_frac", F.coalesce("top_bigram_frac", F.lit(0.0)))
    )


def _trimmed_lines(c: Column) -> Column:
    return F.filter(
        F.transform(F.split(c, "\n"), lambda ln: F.trim(ln)),
        lambda ln: ln != "",
    )


def _dup_line_frac_expr(c: Column) -> Column:
    lines = _trimmed_lines(c)
    n_lines = F.size(lines)
    return F.when(
        n_lines > 0,
        F.round(1 - F.size(F.array_distinct(lines)) / n_lines.cast("double"), 4),
    ).otherwise(F.lit(0.0))


def _top_bigram_frac(
    df: DataFrame, text_col: str, id_col: str, portable: bool = True
) -> DataFrame:
    """(id, top_bigram_frac) aggregate — the one shuffling stage of the
    repetition tier (see repetition_features docstring for the scale
    rationale). ``portable=False`` shuffles xxhash64(bigram) bigints
    instead of bigram strings (~19% at sf0.1, more at scale where the
    shuffle dominates); a 64-bit collision merging two bigrams is
    negligible, but the oracle-checked default stays on raw strings
    (exact, and an md5-bigint middle ground measured SLOWER than the
    string shuffle — the digest costs more than it saves)."""
    from demo_bigdata_spark.functions.scalar import spread_for_cpu

    c = F.col(text_col)
    # spread BEFORE tokenizing: repartitioning the projected frame would
    # both tokenize on the thin partitions and shuffle the (larger) token
    # arrays; this way the exchange moves raw text and the explode below
    # runs on all cores
    base = spread_for_cpu(df.select(F.col(id_col), c.alias("_t"))).select(
        F.col(id_col),
        tokens(F.col("_t")).alias("_toks"),
        token_count(F.col("_t")).alias("_n_toks"),
    )

    def _bg(i):
        s = F.concat_ws(" ", F.get("_toks", i), F.get("_toks", i + 1))
        return s if portable else F.xxhash64(s)

    bigrams = base.select(
        id_col,
        "_n_toks",
        F.explode(
            F.when(
                F.col("_n_toks") >= 2,
                F.transform(F.sequence(F.lit(0), F.col("_n_toks") - 2), _bg),
            ).otherwise(
                F.array() if portable else F.array().cast("array<bigint>")
            )
        ).alias("_bg"),
    )
    return (
        bigrams.groupBy(id_col, "_bg")
        .agg(F.count("*").alias("_c"), F.first("_n_toks").alias("_n_toks"))
        .groupBy(id_col)
        .agg(
            F.round(
                2 * F.max("_c") / F.first("_n_toks").cast("double"), 4
            ).alias("top_bigram_frac")
        )
    )


def gopher_features(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    _include_dup_line: bool = False,
    stopwords: tuple[str, ...] | None = None,
) -> DataFrame:
    """[EXT] the Gopher quality-rule feature vector (public heuristics):
    word count, mean word length, symbol-to-word ratio (# and ellipsis),
    bullet-line / ellipsis-line fractions, alphabetic-word fraction, and
    required-stopword hits. One projection — no shuffle; every expression is
    a Catalyst built-in shared verbatim with the DuckDB oracle.
    ``_include_dup_line`` additionally emits dup_line_frac in the SAME
    projection (used by gopher_filter to fuse scans). The regex/HOF-heavy
    projection is spread to core count on byte-thin scans
    (scalar.spread_for_cpu; no-op on many-split production tables)."""
    from demo_bigdata_spark.functions.scalar import spread_for_cpu

    df = spread_for_cpu(df)
    c = F.col(text_col)
    toks = tokens(c)
    n = token_count(c)
    nd = F.greatest(n, F.lit(1)).cast("double")
    lines = _trimmed_lines(c)
    n_lines = F.greatest(F.size(lines), F.lit(1)).cast("double")
    # Determinism across engines (ROUND_NOTES fact 5): every ratio is ONE
    # division of two integers — IEEE division of identical ints is
    # bit-identical everywhere, where round(x, k) on a .xx5 boundary is not.
    # The ellipsis char-count is 3 per '...' occurrence, so the symbol
    # numerator is scaled x3 to stay integer.
    n_hash = F.length(c) - F.length(F.replace(c, F.lit("#"), F.lit("")))
    n_ell3 = F.length(c) - F.length(F.replace(c, F.lit("..."), F.lit("")))
    n_uni = F.length(c) - F.length(F.replace(c, F.lit("…"), F.lit("")))
    sym_num3 = 3 * n_hash + n_ell3 + 3 * n_uni
    bullet = F.size(
        F.filter(
            lines,
            lambda ln: F.array_contains(
                F.array(*[F.lit(p) for p in BULLET_PREFIXES]), F.substring(ln, 1, 1)
            ),
        )
    )
    ellipsis_end = F.size(
        F.filter(
            lines,
            lambda ln: ln.endswith("...") | ln.endswith("…"),
        )
    )
    alpha_words = F.size(F.filter(toks, lambda t: t.rlike("[A-Za-z]")))
    lower_set = F.array_distinct(F.transform(toks, lambda t: F.lower(t)))
    stop_hits = F.size(
        F.filter(
            F.array(*[F.lit(s) for s in (stopwords or REQUIRED_STOPWORDS)]),
            lambda s: F.array_contains(lower_set, s),
        )
    )
    cols = [
        F.col(id_col),
        n.cast("bigint").alias("n_words"),
        (F.length(F.regexp_replace(c, r"\s", "")) / nd).alias("mean_word_len"),
        (sym_num3 / (3 * nd)).alias("symbol_word_ratio"),
        (bullet / n_lines).alias("bullet_line_frac"),
        (ellipsis_end / n_lines).alias("ellipsis_line_frac"),
        (alpha_words / nd).alias("alpha_word_frac"),
        stop_hits.cast("bigint").alias("stop_hits"),
    ]
    if _include_dup_line:
        cols.append(_dup_line_frac_expr(c).alias("dup_line_frac"))
    return df.select(*cols)


def gopher_filter(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_words: int = 10,
    max_words: int = 100_000,
    min_mean_word_len: float = 2.0,
    max_mean_word_len: float = 12.0,
    max_symbol_ratio: float = 0.1,
    max_bullet_frac: float = 0.9,
    max_ellipsis_frac: float = 0.3,
    min_alpha_frac: float = 0.8,
    min_stop_hits: int = 2,
    max_dup_line_frac: float = 0.3,
    max_top_bigram_frac: float = 0.2,
    portable: bool = True,
    stopwords: tuple[str, ...] | None = None,
) -> DataFrame:
    """[EXT] the combined Gopher keep/drop gate: every rule a named boolean
    column plus the conjunction ``keep`` — decomposed flags make the drop
    reasons auditable (the production pattern: persist flags, tune
    thresholds offline, re-filter without re-scanning text). Thresholds
    default to the published Gopher values where the synthetic corpus makes
    them meaningful (word bounds scaled down from 50/100k). ``stopwords``
    overrides the published required-stopword list (Gopher's rule assumes
    English prose; a corpus whose register lacks those exact function
    words — code, non-English, synthetic — needs a domain-appropriate
    list or the rule rejects everything; round-8 found the composed
    pipelines running vacuously empty for exactly this reason).

    Plan shape: ONE scan computes every projection feature (including
    dup_line_frac — fused via gopher_features(_include_dup_line=True))
    joined once with the bigram aggregate — not the naive
    features-join-repetition form, which scans the corpus twice and
    shuffles doc_id twice (measured 1.5x at the 30x scale probe:
    67.5s -> 44.9s)."""
    feats = gopher_features(
        df, text_col, id_col, _include_dup_line=True, stopwords=stopwords
    ).join(
        _top_bigram_frac(df, text_col, id_col, portable=portable), id_col, "left"
    ).withColumn("top_bigram_frac", F.coalesce("top_bigram_frac", F.lit(0.0)))
    flags = {
        "ok_words": (F.col("n_words") >= min_words)
        & (F.col("n_words") <= max_words),
        "ok_word_len": (F.col("mean_word_len") >= min_mean_word_len)
        & (F.col("mean_word_len") <= max_mean_word_len),
        "ok_symbols": F.col("symbol_word_ratio") <= max_symbol_ratio,
        "ok_bullets": F.col("bullet_line_frac") <= max_bullet_frac,
        "ok_ellipsis": F.col("ellipsis_line_frac") <= max_ellipsis_frac,
        "ok_alpha": F.col("alpha_word_frac") >= min_alpha_frac,
        "ok_stopwords": F.col("stop_hits") >= min_stop_hits,
        "ok_dup_lines": F.col("dup_line_frac") <= max_dup_line_frac,
        "ok_bigram_rep": F.col("top_bigram_frac") <= max_top_bigram_frac,
    }
    out = feats
    keep = F.lit(True)
    for name, expr in flags.items():
        out = out.withColumn(name, expr)
        keep = keep & F.col(name)
    return out.withColumn("keep", keep)


def pack_sequences(
    df: DataFrame,
    seq_len: int = 2048,
    text_col: str = "text",
    id_col: str = "doc_id",
    bucket_size: int = 4096,
) -> DataFrame:
    """[EXT] corpus-level sequence packing (the GPT-style concat-and-chunk
    step after quality-gating/dedup): lay all documents end to end in
    ``id_col`` order and cut the token stream into fixed ``seq_len``
    windows. Returns per doc: token count, global token ``tok_offset``, the
    ``pack_id`` its first token lands in, ``pack_offset`` within that pack,
    and ``spans_boundary`` for docs split across packs.

    The global exclusive prefix sum is the scale problem here: a single
    ``Window.orderBy(id)`` is one partition holding the whole corpus — the
    classic driver-sized bottleneck. This uses a TWO-LEVEL prefix sum
    instead: deterministic buckets (``id // bucket_size``) give an
    intra-bucket windowed cumsum that parallelizes across buckets, plus an
    exclusive cumsum over the per-bucket totals — a table ``bucket_size``
    times smaller than the corpus (at 10^9 docs and the default 4096,
    ~250k rows: a deliberate single-partition window over KBs, not TBs).
    Offsets are exact integers, so the result is engine-reproducible and
    independent of physical partitioning.
    """
    from pyspark.sql.window import Window

    nt = df.select(
        F.col(id_col),
        token_count(F.col(text_col)).cast("bigint").alias("n_tokens"),
        # integer div, not float-divide-then-cast: a snowflake-scale id
        # (> 2^53) silently loses low bits through the double and could
        # mis-bucket; `div` stays in long arithmetic
        F.expr(f"{id_col} div {bucket_size}").alias("_bkt"),
    )
    w_local = (
        Window.partitionBy("_bkt")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    local = nt.withColumn(
        "_local", F.coalesce(F.sum("n_tokens").over(w_local), F.lit(0))
    )
    totals = nt.groupBy("_bkt").agg(F.sum("n_tokens").alias("_bt"))
    w_bkt = Window.orderBy("_bkt").rowsBetween(Window.unboundedPreceding, -1)
    prefixes = totals.withColumn(
        "_prefix", F.coalesce(F.sum("_bt").over(w_bkt), F.lit(0))
    ).select("_bkt", "_prefix")
    out = (
        local.join(F.broadcast(prefixes), "_bkt")
        .withColumn("tok_offset", (F.col("_prefix") + F.col("_local")).cast("bigint"))
        # integer div throughout (see _bkt): double-divide-then-cast loses
        # exactness past 2^53 and must match the streaming twin bit-for-bit
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
    return out.select(
        id_col, "n_tokens", "tok_offset", "pack_id", "pack_offset", "spans_boundary"
    )


def materialize_packs(
    df: DataFrame,
    seq_len: int = 2048,
    text_col: str = "text",
    id_col: str = "doc_id",
    bucket_size: int = 4096,
) -> DataFrame:
    """[EXT] materialize the packs laid out by :func:`pack_sequences`: every
    document is split into its per-pack token segments, segments shuffle ON
    pack_id (the one genuine shuffle — volume = corpus tokens, keyed by a
    perfectly balanced dense integer), and each pack reassembles its
    segments in offset order. Emits per pack: doc count, token count
    (exactly ``seq_len`` for every pack but the last) and an md5 checksum
    of the packed token stream — the verifiable unit a training-data job
    writes out.

    Per-pack memory is bounded by ``seq_len`` tokens regardless of corpus
    size; the doc->segments fan-out is a narrow explode (a doc touches
    ceil(n_tokens/seq_len)+1 packs at most).
    """
    from demo_bigdata_spark.functions.scalar import pin

    packed = pack_sequences(df, seq_len, text_col, id_col, bucket_size)
    toked = df.select(F.col(id_col), pin(tokens(F.col(text_col))).alias("_tk"))
    spans = (
        packed.filter(F.col("n_tokens") > 0)
        .join(toked, id_col)
        .select(
            id_col,
            "tok_offset",
            "n_tokens",
            "_tk",
            F.explode(
                F.sequence(
                    F.expr(f"tok_offset div {seq_len}"),
                    F.expr(f"(tok_offset + n_tokens - 1) div {seq_len}"),
                )
            ).alias("pack_id"),
        )
    )
    seg_start = F.greatest(F.col("pack_id") * seq_len, F.col("tok_offset"))
    seg_end = F.least(
        (F.col("pack_id") + 1) * seq_len, F.col("tok_offset") + F.col("n_tokens")
    )
    segs = spans.select(
        "pack_id",
        "tok_offset",
        F.slice(
            "_tk",
            (seg_start - F.col("tok_offset") + 1).cast("int"),
            (seg_end - seg_start).cast("int"),
        ).alias("_seg"),
    )
    ordered = F.array_sort(
        F.collect_list(F.struct(F.col("tok_offset").alias("o"), F.col("_seg").alias("s")))
    )
    return (
        segs.groupBy("pack_id")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum(F.size("_seg")).cast("bigint").alias("n_tokens"),
            F.md5(
                F.concat_ws(" ", F.flatten(F.transform(ordered, lambda x: x["s"])))
            ).alias("checksum"),
        )
    )


def cooccurrence_counts(
    df: DataFrame,
    window: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """[EXT] skip-gram co-occurrence counts — the (word, context) pair
    table embedding trainers (word2vec/GloVe) consume: every ordered pair
    of tokens at distance <= ``window`` within a document, counted over
    the corpus.

    Join-free construction: for each offset o in 1..window, zip the token
    array against itself shifted by o and emit BOTH directions — one
    narrow pass per document, pair volume bounded by 2*window*doc_len,
    then a single (term, context) aggregate (map-side combined). A
    positions self-join would shuffle the corpus twice for the same
    answer."""
    from demo_bigdata_spark.functions.scalar import pin, spread_for_cpu

    toked = spread_for_cpu(
        df.select(F.col(id_col), F.col(text_col).alias("_t"))
    ).select(F.col(id_col), pin(tokens(F.col("_t"))).alias("_tk"))
    n = F.size("_tk")

    # closure FACTORY, not a default arg: Spark infers lambda arity from
    # the Python signature, so `lambda j, _o=o:` becomes a TWO-argument
    # (element, index) lambda and _o silently receives the array index
    # (ROUND_NOTES fact 6)
    def _pair_at(offset: int):
        def _f(j):
            return F.struct(
                F.element_at(F.col("_tk"), j).alias("a"),
                F.element_at(F.col("_tk"), j + offset).alias("b"),
            )

        return _f

    per_offset = []
    for o in range(1, window + 1):
        pair = F.when(
            n > o,
            F.transform(F.sequence(F.lit(1), n - o), _pair_at(o)),
        ).otherwise(F.array().cast("array<struct<a:string,b:string>>"))
        per_offset.append(pair)
    pairs = F.flatten(F.array(*per_offset))
    fwd = toked.select(F.explode(pairs).alias("p")).select(
        F.col("p.a").alias("term"), F.col("p.b").alias("context")
    )
    both = fwd.unionByName(
        fwd.select(F.col("context").alias("term"), F.col("term").alias("context"))
    )
    return (
        both.filter((F.col("term") != "") & (F.col("context") != ""))
        .groupBy("term", "context")
        .agg(F.count("*").cast("bigint").alias("n_cooc"))
    )


def pmi_scores(
    cooc: DataFrame,
    min_count: int = 5,
) -> DataFrame:
    """[EXT] pointwise mutual information over a co-occurrence table:
    ``ln(n_cooc * total / (marginal(term) * marginal(context)))`` — the
    association score used to pick collocations and build count-based
    embeddings. Marginals are vocabulary-sized aggregates of the pair
    table, joined back (broadcast while they fit); ``total`` is one
    broadcast 1-row aggregate. All inputs are exact bigints, one ln at
    the end (the accepted cross-engine transcendental pattern)."""
    cooc = cooc.localCheckpoint(eager=False)  # feeds 3 aggregates + the join
    total = cooc.agg(F.sum("n_cooc").cast("bigint").alias("_total"))
    mt = cooc.groupBy("term").agg(F.sum("n_cooc").cast("bigint").alias("_mt"))
    mc = cooc.groupBy("context").agg(
        F.sum("n_cooc").cast("bigint").alias("_mc")
    )
    return (
        cooc.filter(F.col("n_cooc") >= min_count)
        .join(mt, "term")
        .join(mc, "context")
        .join(F.broadcast(total))
        .select(
            "term",
            "context",
            "n_cooc",
            F.log(
                (F.col("n_cooc") * F.col("_total"))
                / (F.col("_mt") * F.col("_mc"))
            ).alias("pmi"),
        )
    )


# --- Bigram language model (CCNet-style perplexity filter) --------------------


def _doc_bigrams(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    extra_cols: list[str] | None = None,
) -> DataFrame:
    """(id[, extras], w1, w2) — consecutive token pairs within each
    document. Pinned token array + one explode; docs with fewer than two
    tokens contribute no rows (and therefore vanish from LM scoring — a
    1-token document has no bigram evidence to score). ``extra_cols``
    pass through unchanged (no join — they ride the explode). No
    shuffle."""
    from demo_bigdata_spark.functions.scalar import pin

    extras = list(extra_cols or [])
    base = df.select(
        F.col(id_col),
        *extras,
        pin(tokens(text_col)).alias("_tok"),
        F.when(F.trim(F.col(text_col)) == "", F.lit(0))
        .otherwise(F.size(tokens(text_col)))
        .alias("_n"),
    )
    return (
        base.filter(F.col("_n") >= 2)
        .select(
            F.col(id_col),
            *extras,
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.col("_n") - 1),
                    lambda i: F.struct(
                        F.element_at("_tok", i).alias("w1"),
                        F.element_at("_tok", i + 1).alias("w2"),
                    ),
                )
            ).alias("_bg"),
        )
        .select(
            id_col,
            *extras,
            F.col("_bg.w1").alias("w1"),
            F.col("_bg.w2").alias("w2"),
        )
    )


def train_bigram_lm(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """[EXT] train the CCNet-style bigram LM on a reference corpus (CCNet
    trains KenLM on Wikipedia and scores CommonCrawl by perplexity;
    Wenzek et al. 2020 §3.3). Returns three frames that together ARE the
    model — all counts, no floats, so training is one pass of hash
    aggregates and the model is storable/mergeable like every index here:

    - bigram counts (w1, w2, c12): one shuffle keyed by the pair;
    - context counts (w1, c1): rollup of the bigram table (c1 = number of
      times w1 occurs as a context — the conditional's denominator);
    - vocab (a single-row frame with ``v`` = distinct reference tokens):
      the add-one smoothing mass.

    Zipf keeps both count tables small relative to the corpus (they are
    DISTINCT-keyed); at 100 TB they broadcast or shuffle-join fine either
    way.
    """
    bg = _doc_bigrams(df, text_col, id_col)
    c12 = bg.groupBy("w1", "w2").agg(F.count("*").alias("c12"))
    c1 = c12.groupBy("w1").agg(F.sum("c12").alias("c1"))
    toks = df.select(F.explode(tokens(text_col)).alias("_t")).filter(
        F.col("_t") != ""
    )
    vocab = toks.agg(F.count_distinct("_t").alias("v"))
    return c12, c1, vocab


def bigram_nll_score(
    df: DataFrame,
    bigram_counts: DataFrame,
    context_counts: DataFrame,
    vocab: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """[EXT] score a corpus against a trained bigram LM (train_bigram_lm):
    per-document mean -log2 p(w_i | w_{i-1}) with add-one smoothing,
    p(w2|w1) = (c12 + 1) / (c1 + V) — unseen bigrams and unseen contexts
    fall back to the smoothed floor, so out-of-domain text scores high.
    This is the KenLM-perplexity quality gate of CCNet re-expressed as
    joins: doc bigrams left-join the two count tables (equi-shuffles or
    broadcasts — AQE's call; the model tables are vocabulary-sized), the
    single-row vocab frame broadcast-crossed in, one aggregate back per
    document. mean_nll is rounded to 4dp (the unigram_logprob_score
    convention — sub-ULP sum-order noise cannot flip it).

    Serving twin of the CCNet flow: the LM is a pure data artifact —
    retraining on a new reference is a data swap, same plan.
    """
    bg = _doc_bigrams(df, text_col, id_col)
    scored = (
        bg.join(bigram_counts, ["w1", "w2"], "left")
        .join(context_counts, "w1", "left")
        .join(F.broadcast(vocab))
        .withColumn(
            "_nll",
            -F.log2(
                (F.coalesce(F.col("c12"), F.lit(0)) + 1)
                / (F.coalesce(F.col("c1"), F.lit(0)) + F.col("v")).cast("double")
            ),
        )
    )
    return scored.groupBy(id_col).agg(
        F.count("*").alias("n_bigrams"),
        F.round(F.avg("_nll"), 4).alias("mean_nll"),
    )


# --- URL canonicalization + URL-level dedup [EXT] ---------------------------
#
# The CCNet/FineWeb pre-content-dedup step: web corpora first dedup by
# NORMALIZED url (the same page is crawled as http/https, with/without the
# default port, with tracking params, with fragment anchors), then by
# content. Pure regexp component extraction so the identical expressions run
# in any ANSI engine (the DuckDB oracle reuses these regexes verbatim) — no
# parse_url dependency, no UDF. At 100 TB this is a map-only scan (zero
# shuffle) followed, for the dedup, by one shuffle on the canonical key —
# the cheapest dedup the pipeline has, which is why it runs first.

# Tracking params stripped during canonicalization (utm_* plus the common
# click-id / referrer params). Matched against "name=" or a bare "name".
_TRACKING_PARAM_RE = r"^(utm_[A-Za-z0-9_]*|gclid|fbclid|ref)(=|$)"


def canonical_url(url: Column | str) -> Column:
    """Canonical form of an absolute URL, built from regexp components:

    - scheme and host lowercased (path/query case is significant, kept);
    - default port stripped (``:443`` for https, ``:80`` for http);
    - empty path normalized to ``/``;
    - fragment dropped;
    - query: tracking params removed (``utm_*``, ``gclid``, ``fbclid``,
      ``ref``), remaining ``k=v`` terms sorted bytewise and rejoined, the
      ``?`` dropped entirely when nothing survives.

    Everything is Catalyst built-ins (regexp_extract / filter / array_sort)
    — codegen'd, map-only. Malformed input without a ``scheme://`` prefix
    yields ``scheme=''``/``host=''`` and passes through as path-only; the
    caller can filter on ``canonical LIKE '%://%'`` if strictness matters.
    """
    u = F.col(url) if isinstance(url, str) else url
    scheme = F.lower(F.regexp_extract(u, r"^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    hostport = F.lower(F.regexp_extract(u, r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)", 1))
    host = (
        F.when(scheme == "https", F.regexp_replace(hostport, r":443$", ""))
        .when(scheme == "http", F.regexp_replace(hostport, r":80$", ""))
        .otherwise(hostport)
    )
    path = F.regexp_extract(u, r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)", 1)
    path = F.when(path == "", F.lit("/")).otherwise(path)
    rawq = F.regexp_extract(u, r"\?([^#]*)", 1)
    params = F.filter(
        F.split(rawq, "&"),
        lambda p: (p != "") & ~p.rlike(_TRACKING_PARAM_RE),
    )
    query = F.array_join(F.array_sort(params), "&")
    return F.concat(
        scheme,
        F.lit("://"),
        host,
        path,
        F.when(query == "", F.lit("")).otherwise(F.concat(F.lit("?"), query)),
    )


def url_dedup(
    df: DataFrame, url_col: str = "url", id_col: str = "doc_id"
) -> DataFrame:
    """URL-level dedup: keep exactly one row per :func:`canonical_url`
    (keep-first = lowest ``id_col``, the exact-dedup convention). Output is
    the surviving rows plus the ``canonical_url`` column.

    One shuffle on the canonical key (row_number window) — no join back to
    the input because the window carries the full row. Canonical keys are
    high-cardinality and near-unique by construction, so skew is not a
    realistic concern (a single URL crawled billions of times is already a
    corpus bug worth crashing on loudly).
    """
    from pyspark.sql.window import Window

    keyed = df.withColumn("canonical_url", canonical_url(url_col))
    w = Window.partitionBy("canonical_url").orderBy(F.col(id_col))
    return (
        keyed.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


# --- Domain-level curation (r12) ----------------------------------------------
#
# The tier above URL dedup in a crawl pipeline: URLs collapse to their
# REGISTRABLE DOMAIN, and domain-level rules apply — per-domain document
# caps (the CCNet/FineWeb anti-SEO-farm move: one link-spam domain must not
# dominate the corpus) and per-domain volume stats (the report a crawl
# curator reads before setting caps). Domain extraction approximates the
# public-suffix list with a frozen set of common two-level TLDs — the real
# PSL is a ~10k-line external artifact not bundled here; the approximation
# is documented, deterministic, and trivially replayable in SQL, which is
# what the oracle needs. Swap in the PSL as a broadcast join if exactness
# across every ccTLD matters.

_TWO_LEVEL_TLDS = (
    "ac.uk", "co.uk", "gov.uk", "org.uk",
    "co.jp", "ne.jp", "or.jp",
    "com.au", "net.au", "org.au",
    "com.ar", "com.br", "com.cn", "com.hk", "com.mx", "com.sg", "com.tr",
    "co.in", "co.kr", "co.nz", "co.za",
)


def url_domain(url: Column | str) -> Column:
    """Registrable domain of an absolute URL: lowercased host, port
    stripped (domain identity is port-free), then the last TWO dot-labels
    — or the last THREE when the two-label suffix is a known second-level
    TLD (``_TWO_LEVEL_TLDS``; ``sub.example.co.uk`` -> ``example.co.uk``).
    Hosts with <= 2 labels (and malformed scheme-less input, which yields
    host '') pass through unchanged. Pure regexp/array built-ins —
    codegen'd, map-only, the same cost class as :func:`canonical_url`."""
    u = F.col(url) if isinstance(url, str) else url
    host = F.lower(F.regexp_extract(u, r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)", 1))
    host = F.regexp_replace(host, r":\d+$", "")
    labels = F.split(host, r"\.")
    n = F.size(labels)
    last2 = F.concat_ws(
        ".", F.element_at(labels, -2), F.element_at(labels, -1)
    )
    last3 = F.concat_ws(
        ".", F.element_at(labels, -3), F.element_at(labels, -2), F.element_at(labels, -1)
    )
    return (
        F.when(n <= 2, host)
        .when(last2.isin(*_TWO_LEVEL_TLDS), last3)
        .otherwise(last2)
    )


# Refuse suffix tables orders of magnitude past the real PSL (~9.5k rules):
# the table is inlined as plan literals, so unbounded input would bloat the
# plan instead of failing loudly.
_PSL_LITERAL_MAX = 500_000


def url_domains_with_psl(
    df: DataFrame,
    suffixes: DataFrame | None = None,
    url_col: str = "url",
    out_col: str = "domain",
) -> DataFrame:
    """Registrable-domain extraction against a REAL public-suffix table —
    the documented escape hatch for :func:`url_domain`'s frozen 21-entry
    SLD approximation (r12 VERDICT #5: real crawl data hits ``com.co``,
    ``co.il``, ``com.tw``, ``org.br``, ``ne.kr``, ... daily). Pass the
    Public Suffix List (publicsuffix.org) as a one-column ``suffix``
    DataFrame in PSL syntax — plain entries (``co.uk``), wildcard rules
    (``*.ck``, ``*.kawasaki.jp``), and exception rules (``!www.ck``,
    ``!city.kawasaki.jp``) are all honored with the published precedence:
    an exception beats everything, otherwise the LONGEST match wins, and
    no match falls back to url_domain's last-2 rule (the PSL's implicit
    ``*`` default). ``suffixes=None`` falls back to the frozen-list
    expression so static oracles keep working.

    Mechanics (r13 optimization — guide §2.4/§3.1): the suffix table is
    list-sized by contract (the real PSL is ~9k rules), so it is parsed
    and collected ONCE at plan time (the centroid-literal convention —
    the broadcast-join formulation this replaces ALSO collected it to
    the driver, once per probe, to build each broadcast relation) and
    each per-kind, per-length slice becomes an ``isin``/InSet literal
    predicate on the host's last-k label string. The whole extraction is
    then ONE map-only codegen'd projection — zero joins, zero exchanges,
    zero suffix-side re-aggregations — versus the previous 3–9 broadcast
    left joins each paying its own distinct-aggregate over the suffix
    frame (plan-pinned in tests/test_plans.py). Each match contributes a
    public-suffix label count: a plain k-label entry contributes k, a
    wildcard ``*.X`` (X = kx labels) contributes kx+1, an exception
    ``!Y`` (ky labels) overrides with ky-1. Registrable domain = last
    (ps_len + 1) labels; a host with <= ps_len labels IS (inside) a
    public suffix and passes through unchanged. With a table holding
    exactly the frozen 21 two-label entries the output equals url_domain
    row-for-row (test-pinned). A table over ``_PSL_LITERAL_MAX`` entries
    (orders of magnitude past any real PSL) is refused rather than
    silently bloating the plan."""
    if suffixes is None:
        return df.withColumn(out_col, url_domain(url_col))

    u = F.col(url_col)
    host = F.regexp_replace(
        F.lower(F.regexp_extract(u, r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)", 1)),
        r":\d+$",
        "",
    )
    keyed = df.withColumn("_psl_host", host)
    labels = F.split(F.col("_psl_host"), r"\.")
    n = F.size(labels)

    def _lastk(k: int):
        joined = F.concat_ws(".", *[F.element_at(labels, i) for i in range(-k, 0)])
        return F.when(n >= k, joined)

    keyed = keyed.withColumn("_psl_n", n)
    for k in (1, 2, 3, 4, 5):
        keyed = keyed.withColumn(f"_psl_l{k}", _lastk(k))

    raw = (
        suffixes.select(F.lower(F.trim(F.col("suffix"))).alias("_s"))
        .filter(F.col("_s") != "")
        .distinct()
    )
    # kind: plain entry / wildcard remainder / exception remainder
    parsed = raw.select(
        F.when(F.col("_s").startswith("!"), F.lit("exc"))
        .when(F.col("_s").startswith("*."), F.lit("wild"))
        .otherwise(F.lit("plain"))
        .alias("_kind"),
        F.when(F.col("_s").startswith("!"), F.expr("substring(_s, 2)"))
        .when(F.col("_s").startswith("*."), F.expr("substring(_s, 3)"))
        .otherwise(F.col("_s"))
        .alias("_psl_sfx"),
    ).withColumn("_psl_k", F.size(F.split(F.col("_psl_sfx"), r"\.")))

    # ONE plan-time action collects the list-sized table into per-(kind,
    # label-count) literal sets; absent slices cost zero expressions
    rows = parsed.limit(_PSL_LITERAL_MAX + 1).collect()
    if len(rows) > _PSL_LITERAL_MAX:
        raise ValueError(
            f"suffix table exceeds {_PSL_LITERAL_MAX} entries — not a "
            "public-suffix list; url_domains_with_psl inlines the table "
            "as plan literals and refuses unbounded input"
        )
    slices: dict[tuple[str, int], list[str]] = {}
    for r in rows:
        slices.setdefault((r["_kind"], r["_psl_k"]), []).append(r["_psl_sfx"])

    ps_candidates = []  # Columns: public-suffix label count per match kind

    def _probe(kind: str, k: int, ps_len: int):
        vals = sorted(slices[(kind, k)])  # sorted: deterministic plan text
        return F.when(F.col(f"_psl_l{k}").isin(*vals), F.lit(ps_len))

    exc_candidates = []
    for k in (1, 2, 3):  # plain entries: ps_len = k
        if ("plain", k) in slices:
            ps_candidates.append(_probe("plain", k, k))
    for k in (1, 2, 3):  # wildcard *.X: ps_len = kx + 1
        if ("wild", k) in slices:
            ps_candidates.append(_probe("wild", k, k + 1))
    for k in (2, 3, 4):  # exception !Y: ps_len = ky - 1, beats everything
        if ("exc", k) in slices:
            exc_candidates.append(_probe("exc", k, k - 1))

    def _fold_max(cands):
        if not cands:
            return F.lit(None).cast("int")
        out = cands[0]
        for c in cands[1:]:
            out = F.greatest(out, c)
        return out

    ps_len = F.coalesce(_fold_max(exc_candidates), _fold_max(ps_candidates))

    n = F.col("_psl_n")
    h = F.col("_psl_host")
    reg = F.lit(None).cast("string")
    for pl in (4, 3, 2, 1):  # registrable = last (ps_len + 1) labels
        reg = F.when(ps_len == pl, F.col(f"_psl_l{pl + 1}")).otherwise(reg)
    domain = (
        F.when(h == "", h)
        .when(ps_len.isNotNull(), F.when(n >= ps_len + 1, reg).otherwise(h))
        .otherwise(F.when(n <= 2, h).otherwise(F.col("_psl_l2")))
    )
    drop = ["_psl_host", "_psl_n"] + [f"_psl_l{k}" for k in (1, 2, 3, 4, 5)]
    return keyed.withColumn(out_col, domain).drop(*drop)


def load_psl_suffixes(spark, path: str) -> DataFrame:
    """Parse a Public Suffix List file (the publicsuffix.org
    ``public_suffix_list.dat`` format) into the one-column ``suffix``
    DataFrame :func:`url_domains_with_psl` consumes: ``//`` comment lines
    (including the ===BEGIN ICANN/PRIVATE DOMAINS=== section markers) and
    blank lines drop, surviving lines trim trailing whitespace/inline
    annotations (the spec: a rule ends at the first whitespace) and keep
    their ``*.``/``!`` rule syntax verbatim. Distributed read via
    ``spark.read.text`` — the list is ~15k lines, so the frame broadcasts
    downstream regardless."""
    raw = spark.read.text(path)
    rule = F.element_at(F.split(F.trim(F.col("value")), r"\s+"), 1)
    return (
        raw.select(rule.alias("suffix"))
        .filter(
            (F.col("suffix") != "") & (~F.col("suffix").startswith("//"))
        )
        .distinct()
    )


def _domain_keyed(df: DataFrame, url_col: str, domain_col: str | None) -> DataFrame:
    """Shared domain-key entry for the domain-tier operators: reuse an
    already-computed registrable-domain column (``domain_col`` — the
    composed-pipeline path, where extracting once instead of per-stage
    saves a corpus-wide regexp chain per stage) or extract it from
    ``url_col`` (the standalone path)."""
    if domain_col is not None:
        return df if domain_col == "domain" else df.withColumn(
            "domain", F.col(domain_col)
        )
    return df.withColumn("domain", url_domain(url_col))


def domain_cap_sample(
    df: DataFrame,
    url_col: str = "url",
    id_col: str = "doc_id",
    max_per_domain: int = 1000,
    domain_col: str | None = None,
) -> DataFrame:
    """Per-domain document cap: keep at most ``max_per_domain`` docs per
    registrable domain, LOWEST id first — deterministic and partitioning-
    independent (the exact-dedup survivor convention), so reruns and the
    SQL twin select the identical doc set. Output is the surviving rows
    plus the ``domain`` column.

    ONE shuffle on the domain key (row_number window). At 100 TB the hot
    key is a mega-domain, but its OUTPUT is capped, so the skew cost is
    scanning its rows once — which any per-domain rule must pay; there is
    no quadratic term to salt away. Compose AFTER url_dedup (distinct
    pages) and BEFORE content dedup, the crawl-pipeline order."""
    if max_per_domain < 1:
        raise ValueError(f"max_per_domain must be >= 1, got {max_per_domain}")
    from pyspark.sql.window import Window

    w = Window.partitionBy("domain").orderBy(F.col(id_col))
    return (
        _domain_keyed(df, url_col, domain_col)
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= max_per_domain)
        .drop("_rn")
    )


def domain_stats(
    df: DataFrame, url_col: str = "url", text_col: str = "text"
) -> DataFrame:
    """Per-domain corpus volume report — (domain, n_docs, n_tokens,
    n_langs): the table a curator reads before setting domain caps or
    blocklists. One map-side-combinable aggregate on the domain key."""
    return (
        df.withColumn("domain", url_domain(url_col))
        .groupBy("domain")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(token_count(F.col(text_col)).cast("bigint")).alias("n_tokens"),
            F.count_distinct("lang").alias("n_langs"),
        )
    )


# The normalization chain, frozen as data so the DuckDB twin derives its
# regexp_replace calls from the SAME constants (the hash-coefficient
# convention). Order matters: runs collapse only after the space-family
# substitutions.
NORMALIZE_STEPS = (
    ("[\u2018\u2019\u201a\u201b]", "'"),
    ("[\u201c\u201d\u201e\u201f]", '"'),
    ("[\u2013\u2014\u2015]", "-"),
    ("[\u00a0\u2007\u202f]", " "),
    ("[\u200b\u200c\u200d\ufeff]", ""),
    ("[\\x00-\\x08\\x0b-\\x1f\\x7f]", ""),
    ("[ \\t]+", " "),
    (" ?\\n ?", "\n"),
)


def normalize_text(text: Column | str) -> Column:
    """Pre-tokenization text normalization — the ftfy-lite pass a crawl
    pipeline runs BEFORE any hashing/token operator, so cosmetic encoding
    variance doesn't defeat dedup: curly quotes -> ASCII quotes, en/em/
    horizontal-bar dashes -> '-', NBSP-family spaces -> plain space,
    zero-width characters dropped, C0 control characters (except newline
    and tab) dropped, space/tab runs collapsed to one space, line edges
    trimmed. A fixed chain of regexp_replace built-ins — map-only,
    codegen'd, and exactly replayable in SQL (no locale- or
    library-dependent behavior; full Unicode NFC needs ICU and is out of
    scope by design)."""
    c = F.col(text) if isinstance(text, str) else text
    for pat, repl in NORMALIZE_STEPS:
        c = F.regexp_replace(c, pat, repl)
    return F.trim(c)


def filter_blocked_domains(
    df: DataFrame,
    blocked: DataFrame,
    url_col: str = "url",
    domain_col: str = "domain",
    input_domain_col: str | None = None,
) -> DataFrame:
    """Drop documents whose registrable domain appears in a blocklist —
    the spam/adult/PII domain filter every crawl pipeline runs next to the
    domain cap. Broadcast LEFT ANTI join: blocklists are list-sized, so
    they ride to the executors and the corpus never shuffles. Output is
    the surviving rows plus the ``domain`` column. ``domain_col`` names
    the blocklist table's column; ``input_domain_col`` reuses an
    already-extracted domain on the corpus side (the composed-pipeline
    path)."""
    keyed = _domain_keyed(df, url_col, input_domain_col)
    return keyed.join(
        F.broadcast(blocked.select(F.col(domain_col).alias("domain"))),
        "domain",
        "left_anti",
    )


def domain_quality_filter(
    df: DataFrame,
    url_col: str = "url",
    text_col: str = "text",
    min_pass_frac: float = 0.5,
    min_docs: int = 1,
    domain_col: str | None = None,
    min_tokens: int = 5,
    max_avg_token_len: float = 12.0,
) -> DataFrame:
    """Domain-level quality gate (the FineWeb/RefinedWeb move of judging
    SITES, not just pages): per-doc keep flags from :func:`quality_score`
    aggregate to a per-domain pass fraction, and ENTIRE domains below
    ``min_pass_frac`` (or with fewer than ``min_docs`` docs) drop — a
    link-farm domain fails wholesale even when individual pages sneak
    past per-doc gates. Returns ALL rows of surviving domains (compose
    the per-doc gate separately — the two filters answer different
    questions) plus ``domain`` and the domain's ``pass_frac``.

    Cost (r12 VERDICT #4 rewrite): the per-doc keep flag is
    :func:`quality_flag` — a pure map-side expression computed INLINE in
    the aggregate's projection, so the corpus-sized doc_id self-join the
    first version paid (quality_score projects only doc_id + features,
    forcing a join to recover url/domain) is gone along with its
    hardcoded id column. What remains is exactly two domain-keyed hash
    operations: the pass-frac aggregate (map-side combinable booleans)
    and the survivor join back. The stats table is
    domain-cardinality-sized, so at 100 TB the join is a shuffle join on
    the domain key, not a broadcast; pass_frac is rounded 4dp so the
    threshold compare replays exactly cross-engine.

    ``keyed`` feeds two consumers (the stats subtree and the final join),
    so it is pinned once with a lazy localCheckpoint — the pipeline-seam
    convention. The seam's recomputation is NOT just a scan: url_domain
    is a deep regexp/split chain, and paying it per consumer measured
    0.83 s vs 0.47 s pinned at sf0.1. The pin's cost at cluster scale is
    one full-width corpus materialization to executor-local storage; if
    local disk is the scarcer resource, dropping the checkpoint degrades
    gracefully to two column-pruned scans + a doubled domain regexp."""
    keyed = _domain_keyed(df, url_col, domain_col).localCheckpoint(eager=False)
    dstats = (
        keyed.select(
            "domain",
            quality_flag(text_col, min_tokens, max_avg_token_len).alias("_keep"),
        )
        .groupBy("domain")
        .agg(
            F.round(F.avg(F.col("_keep").cast("double")), 4).alias("pass_frac"),
            F.count("*").alias("_nd"),
        )
        .filter(
            (F.col("pass_frac") >= min_pass_frac) & (F.col("_nd") >= min_docs)
        )
        .drop("_nd")
    )
    return keyed.join(dstats, "domain")

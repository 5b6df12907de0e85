"""Deduplication operators [EXT]: exact, MinHash+LSH, SimHash, n-gram Jaccard.

North-star training-data-pipeline surface (BASELINE.json) — the reference has
no dedup. Everything here is UDF-free Catalyst expression composition over
higher-order array functions, with portable arithmetic (md5-derived token
hashes, int64-safe modular products) so every stage has an exact DuckDB twin.

Scale design:
- Exact dedup: hash-aggregate on a fingerprint — one shuffle keyed by digest,
  perfectly balanced unless the corpus is one giant duplicate cluster.
- MinHash+LSH: per-doc signature is a linear scan (no shuffle); candidate
  generation explodes to (band, band_sig) and self-joins on that key — the
  classic band-bucket equi-join. Bucket sizes are the skew risk: a boilerplate
  cluster makes one bucket quadratic. Mitigate by capping bucket size
  (``max_bucket``) — buckets above the cap are dup-farms anyway and can be
  handled by cluster-id assignment instead of pairwise verification.
- SimHash: linear scan producing a 16-bit sketch; near-dup = same sketch
  bucket (or Hamming<=d via d-choose-1 bucket probes).
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from demo_bigdata_spark.functions.scalar import spread_for_cpu
from demo_bigdata_spark.operators.text import tokens
from demo_bigdata_spark.session import local_frame

# 28-bit token hash: first 7 hex chars of md5. Keeps a_i*h + b_i < 2^63
# (int64-safe in both Spark and DuckDB).
MINHASH_PRIME = 4294967311  # smallest prime > 2^32

# Deterministic hash-family coefficients (fixed; must match suite SQL).
# Generated once from a seeded PRNG, frozen as literals for portability.
MINHASH_COEFFS: list[tuple[int, int]] = [
    (1610612741, 805306457),
    (402653189, 1258291379),
    (1073741827, 201326611),
    (1876453213, 967294937),
    (786433219, 1431655765),
    (1291845633, 536870923),
    (671088667, 1073807359),
    (1152921529, 268435459),
    (536870909, 1610612711),
    (234881033, 402653171),
    (1342177283, 671088637),
    (469762049, 100663319),
    (912680821, 1543503877),
    (754974721, 334917529),
    (167772161, 477218591),
    (998244353, 120586241),
]


def token_hash(t: Column) -> Column:
    """Portable 28-bit token hash: int(md5(t)[:7], 16)."""
    return F.conv(F.substring(F.md5(t), 1, 7), 16, 10).cast("bigint")


def token_hash_fast(t: Column) -> Column:
    """Production 28-bit token hash: low 28 bits of xxhash64.

    ~an order of magnitude cheaper per call than md5 (no cryptographic
    rounds, no hex/string round-trip), same value range as ``token_hash``
    so every downstream modular product stays int64-safe. NOT portable to
    the DuckDB oracle (xxhash64 seeds/variants differ across engines) —
    the oracle-checked suites stay on md5; production pipelines opt in
    via the operators' ``portable=False`` switch. Candidate/pair SEMANTICS
    are hash-family-independent (pytest pins identical near-dup pair sets
    on the fixture corpus across both paths).

    Kept as a separate 1-arg function, not a default arg on token_hash:
    Spark infers lambda arity from the Python signature, so a 2-arg
    ``token_hash`` passed to F.transform would become a (value, index)
    lambda (ROUND_NOTES fact 6).
    """
    return F.xxhash64(t).bitwiseAND(F.lit((1 << 28) - 1))


def _hasher(portable: bool):
    return token_hash if portable else token_hash_fast


def distinct_tokens(text: Column | str) -> Column:
    col = F.col(text) if isinstance(text, str) else text
    return F.array_distinct(tokens(col))


# --- Exact dedup -----------------------------------------------------------


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep one representative (min id) per normalized-text digest.

    groupBy on the md5 digest, not the raw text: the shuffle key is 32 bytes
    regardless of document size — at 100 TB that's the difference between
    shuffling digests and shuffling the corpus.
    """
    normalized = F.array_join(tokens(F.lower(F.col(text_col))), " ")
    return (
        df.withColumn("fp", F.md5(normalized))
        .groupBy("fp")
        .agg(F.min(id_col).alias("keep_id"), F.count("*").alias("n_dups"))
    )


# --- MinHash + LSH -----------------------------------------------------------


def _hashed_token_set(text_col: str, portable: bool) -> Column:
    """The distinct 28-bit hashes of a document's distinct tokens: the unit
    set of both the MinHash signature and the Jaccard verifier. Hashing
    shrinks the arrays carried through the pair joins and makes the
    intersect integer-typed; any hash collision merges the same tokens on
    both sides of an engine comparison, so the DuckDB twin (which hashes
    identically) stays exact."""
    return F.array_distinct(F.transform(distinct_tokens(text_col), _hasher(portable)))


def _minhash_fold(hashes: Column, k: int) -> Column:
    """array<bigint> of the k minima min over h of (a_i * h + b_i) mod P.

    Single-pass fold computing all k mins at once. The naive form — k
    separate array_min(transform(hashes, ...)) projections — gets the
    `hashes` subtree (tokenize+shingle+md5) INLINED k times by Catalyst's
    CollapseProject (no common-subexpression elimination across array
    expressions), costing k full re-evaluations per row (~20x slower for
    shingles). One aggregate references `hashes` exactly once; the finish
    lambda keeps the struct->array extraction inside the fold too."""
    coeffs = MINHASH_COEFFS[:k]
    init = F.struct(
        *[F.lit(MINHASH_PRIME).cast("bigint").alias(f"m{i}") for i in range(k)]
    )

    def _merge(acc, h):
        return F.struct(
            *[
                F.least(acc[f"m{i}"], (F.lit(a) * h + F.lit(b)) % MINHASH_PRIME).alias(
                    f"m{i}"
                )
                for i, (a, b) in enumerate(coeffs)
            ]
        )

    def _finish(acc):
        return F.array(*[acc[f"m{i}"] for i in range(k)])

    return F.aggregate(hashes, init, _merge, _finish)


def minhash_signature(
    df: DataFrame,
    text_col: str = "text",
    k: int = 16,
    shingle_n: int | None = None,
    portable: bool = True,
) -> DataFrame:
    """Append ``sig``: array<bigint> of k MinHash values over distinct tokens
    (or distinct ``shingle_n``-token shingles when given — the classic
    shingle->minhash->band pipeline).

    minhash_i = min over units u of (a_i * h(u) + b_i) mod P. Linear scan,
    no shuffle; k folds over the token array, all inside codegen. The
    hashing is spread to core count when the scan is byte-thin
    (scalar.spread_for_cpu — no-op on many-split production tables).
    """
    df = spread_for_cpu(df)
    if shingle_n is None:
        return df.withColumn("sig", _minhash_fold(_hashed_token_set(text_col, portable), k))
    # two-step: materialize the token array behind a pinned projection,
    # then shingle from the attribute — an inline tokens() expression
    # inside the shingle lambda re-runs the regex split once per shingle
    # position (O(L^2); measured 2.8x on minhash_shingles at sf0.1).
    # The internal column name is collision-proofed: withColumn would
    # silently REPLACE (and the final drop delete) a caller's column of
    # the same name (the pct_of_total alias-collision class).
    from demo_bigdata_spark.functions.scalar import pin
    from demo_bigdata_spark.operators.text import shingles_of

    tk_col = "_tk"
    while tk_col in df.columns:
        tk_col += "_"
    src = df.withColumn(tk_col, pin(tokens(F.col(text_col))))
    units = F.array_distinct(shingles_of(F.col(tk_col), shingle_n))
    hashes = F.transform(units, _hasher(portable))
    return src.withColumn("sig", _minhash_fold(hashes, k)).drop(tk_col)


def _minhash_features(
    df: DataFrame, text_col: str, id_col: str, portable: bool = True
) -> DataFrame:
    """The near-dup feature table ``(id_col, toks, n, sig)``: each document
    is tokenized and hashed ONCE into its hashed token set ``toks``, and
    both the LSH bands (via ``sig``, folded from ``toks``) and the Jaccard
    verifier (``toks``, ``n``) read it. ``sig`` equals
    :func:`minhash_signature`'s: the fold takes a min over the same hashes,
    and dropping duplicate hashes cannot change a min. Spread to core count
    when the scan is byte-thin, and materialized once behind a lazy
    localCheckpoint — the persist-the-feature-table shape, as in
    char_ngram_jaccard_pairs — because the band self-join, the bucket cap
    and both verifier sides each read it."""
    hashed = spread_for_cpu(df).select(
        F.col(id_col), _hashed_token_set(text_col, portable).alias("toks")
    )
    return hashed.select(
        id_col, "toks", F.size("toks").alias("n"), _minhash_fold(F.col("toks"), 16).alias("sig")
    ).localCheckpoint(eager=False)


def lsh_bands(df: DataFrame, id_col: str = "doc_id", bands: int = 4, rows: int = 4) -> DataFrame:
    """Explode signatures into (id, band_idx, band_sig) — the LSH bucket key."""
    band_structs = F.array(
        *[
            F.struct(
                F.lit(i).alias("band_idx"),
                F.concat_ws("-", *[F.col("sig")[i * rows + j] for j in range(rows)]).alias("band_sig"),
            )
            for i in range(bands)
        ]
    )
    return df.select(id_col, F.explode(band_structs).alias("band")).select(
        id_col, F.col("band.band_idx").alias("band_idx"), F.col("band.band_sig").alias("band_sig")
    )


def _band_self_join(
    bands_df: DataFrame, id_col: str, max_bucket: int | None = None
) -> DataFrame:
    """Distinct candidate pairs (id_a < id_b) sharing >=1 LSH band bucket of
    ``bands_df`` (id_col, band_idx, band_sig): the classic band-bucket
    equi-join on (band_idx, band_sig). ``max_bucket`` drops degenerate
    dup-farm buckets whose pairwise expansion would be quadratic (handle
    those clusters by connected-component labeling instead)."""
    if max_bucket is not None:
        counts = bands_df.groupBy("band_idx", "band_sig").agg(F.count("*").alias("bn"))
        bands_df = bands_df.join(
            counts.filter(F.col("bn") <= max_bucket), ["band_idx", "band_sig"]
        ).drop("bn")
    a = bands_df.alias("a")
    b = bands_df.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_sig") == F.col("b.band_sig"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .distinct()
    )


def _jaccard_verify(
    cands: DataFrame,
    feats: DataFrame,
    id_col: str,
    size_prune_threshold: float | None = None,
    feats_b: DataFrame | None = None,
) -> DataFrame:
    """(id_a, id_b, jaccard) for candidate pairs (id_a, id_b): exact Jaccard
    of the hashed token sets in ``feats`` (id_col, toks, n), with the id_b
    side read from ``feats_b`` when given (a probe against another table),
    rounded to 4 decimals.

    ``size_prune_threshold`` t: J(A,B) <= min(|A|,|B|)/max(|A|,|B|), so pairs
    failing the size-ratio bound are dropped BEFORE the array joins, on the
    two ints — a cheap prefilter that kills most skew from length-divergent
    candidate pairs. It can drop a pair whose rounded Jaccard reaches t,
    so callers without it keep every pair."""
    from demo_bigdata_spark.functions.scalar import pin

    feats_b = feats if feats_b is None else feats_b
    cands = cands.select("id_a", "id_b")
    if size_prune_threshold is not None:
        sizes_a = feats.select(F.col(id_col).alias("id_a"), F.col("n").alias("na"))
        sizes_b = feats_b.select(F.col(id_col).alias("id_b"), F.col("n").alias("nb"))
        cands = (
            cands.join(sizes_a, "id_a")
            .join(sizes_b, "id_b")
            .filter(F.least("na", "nb") >= F.greatest("na", "nb") * size_prune_threshold)
            .select("id_a", "id_b")
        )
    a = feats.select(
        F.col(id_col).alias("id_a"), F.col("toks").alias("toks_a"), F.col("n").alias("na")
    )
    b = feats_b.select(
        F.col(id_col).alias("id_b"), F.col("toks").alias("toks_b"), F.col("n").alias("nb")
    )
    # |A∪B| = |A|+|B|-|A∩B|: ONE array_intersect per pair (no array_union),
    # pinned so neither the numerator/denominator pair nor a pushed-down
    # threshold filter re-evaluates it (unpinned: 4 intersects per pair)
    step = cands.join(a, "id_a").join(b, "id_b").select(
        "id_a",
        "id_b",
        "na",
        "nb",
        pin(F.size(F.array_intersect("toks_a", "toks_b"))).alias("inter"),
    )
    return step.select(
        "id_a",
        "id_b",
        F.round(
            F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")).cast("double"),
            4,
        ).alias("jaccard"),
    )


def minhash_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bands: int = 4,
    rows: int = 4,
    max_bucket: int | None = 1000,
    portable: bool = True,
) -> DataFrame:
    """Distinct candidate pairs (id_a < id_b) sharing >=1 LSH band bucket
    (:func:`_band_self_join`, ``max_bucket`` capped)."""
    sigs = minhash_signature(df, text_col, portable=portable)
    return _band_self_join(lsh_bands(sigs, id_col, bands, rows), id_col, max_bucket)


def jaccard_pairs(
    df: DataFrame,
    pairs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    size_prune_threshold: float | None = None,
    portable: bool = True,
) -> DataFrame:
    """Verify candidate pairs with token-set Jaccard computed on *hashed*
    token sets (array<bigint> instead of array<string>;
    :func:`_jaccard_verify` over :func:`_minhash_features`)."""
    feats = _minhash_features(df, text_col, id_col, portable)
    return _jaccard_verify(pairs, feats, id_col, size_prune_threshold)


def _near_dup_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float,
    bands: int,
    rows: int,
    max_bucket: int | None,
    portable: bool,
) -> DataFrame:
    """Verified (id_a, id_b, jaccard >= threshold) pairs: one feature table
    feeds both the band self-join and the verifier."""
    feats = _minhash_features(df, text_col, id_col, portable)
    cands = _band_self_join(lsh_bands(feats, id_col, bands, rows), id_col, max_bucket)
    return _jaccard_verify(cands, feats, id_col, size_prune_threshold=threshold).filter(
        F.col("jaccard") >= threshold
    )


def near_duplicates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.7,
    bands: int = 4,
    rows: int = 4,
    portable: bool = True,
) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline: signature -> band buckets ->
    candidate pairs -> exact Jaccard >= threshold.

    ``portable=False`` swaps the md5 token hash for xxhash64 end to end
    (signatures AND verify sets) — the production-scale path; see
    token_hash_fast. LSH bucketing then uses a different (equally valid)
    hash family, so borderline candidate recall can differ, but verified
    pairs at a given threshold are hash-family-independent in practice
    (pinned on the fixture corpus by tests/test_fast_hash_path.py)."""
    return _near_dup_pairs(df, text_col, id_col, threshold, bands, rows, 1000, portable)


def simhash_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 2,
    bits: int = 16,
    segments: int = 4,
    portable: bool = True,
) -> DataFrame:
    """EXACT near-dup pairs by SimHash Hamming distance <= max_hamming.

    Pigeonhole: two sketches within Hamming d of each other must agree on at
    least one of (d+1) bit segments — with segments > max_hamming the
    segment-bucket equi-join is a COMPLETE candidate generator, so the final
    bit_count(xor) filter yields the exact result (no recall loss). Cost
    structure is the same as MinHash banding: explode x segments, equi-join,
    verify cheap per pair.
    """
    assert segments > max_hamming, "need segments > max_hamming for completeness"
    seg_bits = bits // segments
    mask = (1 << seg_bits) - 1
    sk = simhash(df, text_col, bits, portable=portable).select(id_col, "simhash")
    seg_structs = F.array(
        *[
            F.struct(
                F.lit(s).alias("seg_idx"),
                F.shiftright("simhash", s * seg_bits).bitwiseAND(F.lit(mask)).alias("seg_val"),
            )
            for s in range(segments)
        ]
    )
    exploded = sk.select(id_col, "simhash", F.explode(seg_structs).alias("seg")).select(
        id_col, "simhash", F.col("seg.seg_idx").alias("seg_idx"), F.col("seg.seg_val").alias("seg_val")
    )
    a = exploded.select(
        F.col(id_col).alias("id_a"), F.col("simhash").alias("sh_a"), "seg_idx", "seg_val"
    )
    b = exploded.select(
        F.col(id_col).alias("id_b"), F.col("simhash").alias("sh_b"),
        F.col("seg_idx").alias("seg_idx_b"), F.col("seg_val").alias("seg_val_b"),
    )
    return (
        a.join(
            b,
            (F.col("seg_idx") == F.col("seg_idx_b"))
            & (F.col("seg_val") == F.col("seg_val_b"))
            & (F.col("id_a") < F.col("id_b")),
        )
        .select("id_a", "id_b", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))).alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["id_a", "id_b"])
    )


# Connected components (CC) by min-label propagation. Two front ends, one
# per graph form, each run ONE full-size round (phase 1) and contract the
# graph to label space: _propagate_min_labels for (id, bucket) band
# memberships, _propagate_min_labels_edges for id_a/id_b pair lists (each
# contracted edge becomes a 2-member bucket keyed by the (src, dst)
# struct). Phase 2 is one kernel, _finish_min_labels, over the contracted
# memberships. Contracted tables are component-count-sized on dedup-shaped
# corpora, so a limit-probe bounds them at _CC_DRIVER_MAX_ROWS memberships
# (a contracted edge is two) and the rounds run on the DRIVER as a
# bit-exact Python replica of the distributed round (same bucket min, same
# pointer jump, same carried-old changed count, same budget, so the
# ``max_iterations`` raise fires on exactly the same inputs); the
# resolution map comes back as a BROADCAST local relation, so the
# corpus-sized phase-1 frame never shuffles. The bound is on the DATA, not
# the environment: a corpus whose contracted graph exceeds it keeps the
# distributed loop (one checkpoint + filter-count per round) and a
# label-sized left join.
_CC_DRIVER_MAX_ROWS = 100_000


def _bucket_rounds_driver(mem_rows, budget: int) -> dict | None:
    """Bit-exact driver replica of :func:`_bucket_min_label_loop` over a
    collected contracted membership list [(id, bucket), ...]: per round
    the per-bucket member-label min, the per-member min over its buckets,
    the pointer jump, and the carried-old ``changed`` count, one budget
    unit per round. Returns None when the budget runs out before
    ``changed == 0``, like the distributed loop. Labels are member ids;
    min over Python ints/strs orders identically to Spark's bigint/UTF8
    ordering (UTF-8 byte order is code-point order), so the fixed point
    is bit-identical."""
    by_bucket: dict = {}
    by_id: dict = {}
    for i, b in mem_rows:
        by_bucket.setdefault(b, []).append(i)
        by_id.setdefault(i, []).append(b)
    label = {i: i for i in by_id}
    while budget > 0:
        budget -= 1
        bmin = {b: min(label[i] for i in ids) for b, ids in by_bucket.items()}
        stepped = {i: min(bmin[b] for b in bs) for i, bs in by_id.items()}
        changed = 0
        new = {}
        for x, sx in stepped.items():
            t = stepped.get(sx, sx)
            nx = sx if sx < t else t
            new[x] = nx
            if nx != label[x]:
                changed += 1
        label = new
        if changed == 0:
            return label
    return None


def _resolve_with_driver_labels(l0: DataFrame, final: dict, id_col: str) -> DataFrame:
    """Resolve every phase-1 label through a driver-computed contracted
    fixed point: the (label -> component min) map — only the entries that
    actually move — becomes a local relation and the join is an explicit
    BROADCAST, so the corpus-sized ``l0`` frame is never exchanged.
    Missing labels keep themselves via the left join's coalesce, exactly
    like the distributed resolution. The map is a :func:`local_frame`
    typed from ``l0``'s label type, so no Python worker starts."""
    from pyspark.sql.types import StructField, StructType

    dtype = l0.schema["cluster_id"].dataType
    cl = local_frame(
        l0.sparkSession,
        [(k, v) for k, v in final.items() if k != v],
        StructType([StructField("_cl", dtype, True), StructField("_cmin", dtype, True)]),
    )
    return l0.join(
        F.broadcast(cl), l0["cluster_id"] == F.col("_cl"), "left"
    ).select(
        l0[id_col], F.coalesce("_cmin", "cluster_id").alias("cluster_id")
    )


def _pointer_jump(stepped: DataFrame, id_col: str, *carry: str) -> DataFrame:
    """``label(x) <- min(label(x), label(label(x)))`` over a stepped
    (id_col, cluster_id) frame: a labels-sized self-join (every label is
    a member id, so the lookup always resolves). ``carry`` columns pass
    through unchanged."""
    lk = stepped.select(
        F.col(id_col).alias("_lid"), F.col("cluster_id").alias("_llbl")
    )
    return stepped.join(lk, stepped["cluster_id"] == lk["_lid"], "left").select(
        stepped[id_col],
        *carry,
        F.least(
            F.col("cluster_id"),
            F.coalesce(F.col("_llbl"), F.col("cluster_id")),
        ).alias("cluster_id"),
    )


def _bucket_min_label_step(
    bands_df: DataFrame, labels: DataFrame | None, id_col: str
):
    """One bipartite min-label round + pointer jump: per-bucket min label,
    per-member min over its buckets, then the jump. ``labels=None`` means
    identity labels — the bucket min is then a plain member-id aggregate
    with no join. Returns (id_col, _old, cluster_id) with the previous
    label carried for the caller's filter-count convergence test."""
    if labels is None:
        m = bands_df.select(
            F.col(id_col), F.col("bucket"), F.col(id_col).alias("cluster_id")
        )
    else:
        m = bands_df.join(labels, id_col)
    bucket_min = m.groupBy("bucket").agg(F.min("cluster_id").alias("_bm"))
    stepped = (
        m.join(bucket_min, "bucket")
        .groupBy(id_col)
        .agg(
            F.min("cluster_id").alias("_old"),
            F.min("_bm").alias("cluster_id"),
        )
    )
    return _pointer_jump(stepped, id_col, "_old")


def _bucket_min_label_loop(
    bands_df: DataFrame, id_col: str, budget: int
) -> DataFrame | None:
    """Bipartite min-label rounds to the exact fixed point, one lazy
    localCheckpoint per round: the carried ``_old`` label makes
    ``changed`` a filter-count over the just-materialized checkpoint
    blocks. Labels are monotonically non-increasing, so ``changed == 0``
    is an EXACT convergence test; returns None when ``budget`` rounds
    run out first."""
    labels = None
    while budget > 0:
        budget -= 1
        new_labels = _bucket_min_label_step(
            bands_df, labels, id_col
        ).localCheckpoint(eager=False)
        changed = new_labels.filter(F.col("cluster_id") != F.col("_old")).count()
        labels = new_labels.select(id_col, "cluster_id")
        if changed == 0:
            return labels
    return None


def _finish_min_labels(
    l0: DataFrame, mem: DataFrame, id_col: str, max_iterations: int
) -> DataFrame:
    """Phase 2 of both CC front ends: the min-label fixed point over the
    contracted memberships ``mem`` (id_col = a phase-1 label, bucket),
    composed with the phase-1 labels ``l0`` (id_col, cluster_id). Phase 1
    spent one of the ``max_iterations`` rounds. A limit-probe picks the
    driver replica or the distributed loop (see ``_CC_DRIVER_MAX_ROWS``);
    both raise the same error when the budget runs out before the fixed
    point, never returning unconverged labels. Returns (id_col,
    cluster_id) for every row of ``l0``."""
    not_converged = RuntimeError(
        f"connected components: label propagation did not converge within "
        f"{max_iterations} iterations — raise max_iterations (labels are "
        "exact only at the fixed point)"
    )
    if max_iterations < 1:
        raise not_converged
    budget = max(1, max_iterations - 1)
    probe = mem.limit(_CC_DRIVER_MAX_ROWS + 1).collect()
    if len(probe) <= _CC_DRIVER_MAX_ROWS:
        final = _bucket_rounds_driver([(r[0], r[1]) for r in probe], budget)
        if final is None:
            raise not_converged
        return _resolve_with_driver_labels(l0, final, id_col)
    cl = _bucket_min_label_loop(mem, id_col, budget)
    if cl is None:
        raise not_converged
    return l0.join(
        cl.select(F.col(id_col).alias("_cl"), F.col("cluster_id").alias("_cmin")),
        l0["cluster_id"] == F.col("_cl"),
        "left",
    ).select(
        l0[id_col], F.coalesce("_cmin", "cluster_id").alias("cluster_id")
    )


def _propagate_min_labels(
    bands_df: DataFrame, id_col: str, max_iterations: int
) -> DataFrame:
    """Connected components over a bipartite (id, bucket) membership
    table: every id gets the minimum id reachable through shared buckets.

    - **Phase 1**: one full-membership round from identity labels (the
      bucket min is then a plain member-id aggregate — no labels join) +
      pointer jump. Dup-farm buckets collapse here: every member of a
      farm bucket takes the bucket min immediately.
    - **Contraction**: memberships are rewritten to distinct (label,
      bucket) rows — component-count-sized on dup-heavy corpora, never
      corpus-sized. The full membership table is scanned twice in total
      (phase-1 aggregate + contraction join).
    - **Phase 2**: :func:`_finish_min_labels` runs the remaining rounds on
      the contracted table and resolves every member.

    Exactness: labels are member ids and only decrease; contraction
    preserves bipartite connectivity, and the component minimum keeps its
    own label through phase 1, so the contracted fixed point composed
    with the resolution join IS the component-min fixed point. Rows with
    a NULL id or bucket are dropped first, so an id whose memberships are
    all NULL-bucket is absent from the output. Raises rather than
    returning unconverged labels if ``max_iterations`` is hit."""
    bands_df = bands_df.filter(
        F.col(id_col).isNotNull() & F.col("bucket").isNotNull()
    )
    l0 = _bucket_min_label_step(bands_df, None, id_col).drop(
        "_old"
    ).localCheckpoint(eager=False)
    mem = (
        bands_df.join(l0, id_col)
        .select(F.col("cluster_id").alias(id_col), "bucket")
        .distinct()
    ).localCheckpoint(eager=False)
    return _finish_min_labels(l0, mem, id_col, max_iterations)


def _edge_min_label_step(sym: DataFrame, labels: DataFrame, id_col: str):
    """Phase 1 of the edge front end: from identity ``labels``, take the
    neighbour min over the symmetrized edges (a plain aggregate, no
    labels join), then the pointer jump. Returns (id_col, cluster_id)."""
    nbr_min = sym.groupBy("_dst").agg(F.min("_src").alias("_nm"))
    stepped = labels.join(
        nbr_min, labels[id_col] == nbr_min["_dst"], "left"
    ).select(
        labels[id_col],
        F.least(
            F.col("cluster_id"), F.coalesce(F.col("_nm"), F.col("cluster_id"))
        ).alias("cluster_id"),
    )
    return _pointer_jump(stepped, id_col)


def _propagate_min_labels_edges(
    pairs: DataFrame, universe: DataFrame, id_col: str, max_iterations: int
) -> DataFrame:
    """Connected components over an EDGE LIST (``id_a``/``id_b`` pairs)
    and a node ``universe`` frame (column ``id_col``) — shared by
    :func:`_survivors_from_pairs`, ``similarity.knn_clusters`` and
    ``graph.connected_components``. Every universe id gets the minimum id
    reachable from it; ids without edges keep themselves.

    - **Phase 1 — one full-edge round + pointer jump**: neighbour min over
      the symmetrized edges from identity labels, then ``label(x) <-
      min(label(x), label(label(x)))``. On dedup-shaped graphs (dense
      near-duplicate families) this alone collapses most nodes to their
      component min.
    - **Contraction**: edges are rewritten to distinct label-space pairs
      ``(_src < _dst)``, and each such edge becomes a 2-member bucket
      keyed by the ``(_src, _dst)`` struct (a struct key cannot collide,
      so no two edges share a bucket). The full edge table is scanned
      exactly twice (the phase-1 aggregate and the contraction join).
    - **Phase 2**: :func:`_finish_min_labels`. A round over 2-member
      buckets gives ``min(own label, neighbour labels)``, which is the
      edge round.

    Exactness: phase-1 labels are member ids that only decrease;
    contraction preserves connectivity, and the component minimum keeps
    its own label through phase 1, so the contracted component min IS the
    component min. The universe must contain every edge endpoint: the
    contraction joins drop edges whose endpoints have no label. Edges
    with a NULL endpoint and NULL universe ids are dropped first. Raises
    rather than returning unconverged labels if ``max_iterations`` is
    hit. Returns (id_col, cluster_id)."""
    pairs = pairs.filter(F.col("id_a").isNotNull() & F.col("id_b").isNotNull())
    # symmetrize in ONE scan: a two-branch union would re-run the caller's
    # whole pair subtree once per direction; inline_outer emits both
    # directions from a single pass, map-only
    sym = pairs.select(
        F.inline_outer(
            F.array(
                F.struct(
                    F.col("id_a").alias("_src"), F.col("id_b").alias("_dst")
                ),
                F.struct(
                    F.col("id_b").alias("_src"), F.col("id_a").alias("_dst")
                ),
            )
        )
    ).localCheckpoint(eager=False)
    base = (
        universe.select(F.col(id_col))
        .filter(F.col(id_col).isNotNull())
        .distinct()
        .withColumn("cluster_id", F.col(id_col))
    )
    l0 = _edge_min_label_step(sym, base, id_col).localCheckpoint(eager=False)
    la = l0.select(F.col(id_col).alias("_ia"), F.col("cluster_id").alias("_la"))
    lb = l0.select(F.col(id_col).alias("_ib"), F.col("cluster_id").alias("_lb"))
    edge = F.struct("_src", "_dst")
    mem = (
        sym.join(la, sym["_src"] == la["_ia"])
        .join(lb, sym["_dst"] == lb["_ib"])
        .filter(F.col("_la") != F.col("_lb"))
        .select(
            F.least("_la", "_lb").alias("_src"),
            F.greatest("_la", "_lb").alias("_dst"),
        )
        .distinct()
        .select(
            F.inline(
                F.array(
                    F.struct(F.col("_src").alias(id_col), edge.alias("bucket")),
                    F.struct(F.col("_dst").alias(id_col), edge.alias("bucket")),
                )
            )
        )
        .localCheckpoint(eager=False)
    )
    return _finish_min_labels(l0, mem, id_col, max_iterations)


def duplicate_clusters(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bands: int = 4,
    rows: int = 4,
    max_iterations: int = 64,
) -> DataFrame:
    """Assign a cluster id (= min member id) to every document, where the
    cluster graph connects docs sharing any LSH band bucket.

    This is how dup-farm buckets (too big for pairwise verification — see
    minhash_candidates.max_bucket) are handled at scale: connected
    components over the bipartite doc<->bucket graph
    (:func:`_propagate_min_labels`) instead of quadratic pair expansion.
    One full-membership round collapses farm buckets; the contracted
    graph then runs the shared phase-2 kernel to the exact fixed point,
    on the driver when it is small enough to collect. Exceeding the
    ``max_iterations`` backstop RAISES (never returns unconverged labels;
    >10-hop chains pinned by test).

    Returns (id_col, cluster_id).
    """
    sigs = minhash_signature(df, text_col)
    bands_df = lsh_bands(sigs, id_col, bands, rows).select(
        id_col, F.concat_ws("|", "band_idx", "band_sig").alias("bucket")
    )
    bands_df = bands_df.localCheckpoint()
    return _propagate_min_labels(bands_df, id_col, max_iterations)


# --- SimHash ------------------------------------------------------------------


def simhash(
    df: DataFrame, text_col: str = "text", bits: int = 16, portable: bool = True
) -> DataFrame:
    """Append ``simhash``: bits-wide sign sketch of the token-hash multiset.

    bit_j = 1 iff sum over distinct tokens of (+1 / -1 by bit j of h(t)) > 0.
    Near-dups collide or differ in few bits (Hamming distance).
    """
    hashes = F.transform(distinct_tokens(text_col), _hasher(portable))

    # Single fold for all bit counters (see minhash_signature for why:
    # separate aggregates would re-evaluate `hashes` per bit).
    init = F.struct(*[F.lit(0).cast("bigint").alias(f"b{j}") for j in range(bits)])

    def _merge(acc, h):
        return F.struct(
            *[
                (acc[f"b{j}"] + (F.shiftright(h, j).bitwiseAND(F.lit(1)) * 2 - 1)).alias(
                    f"b{j}"
                )
                for j in range(bits)
            ]
        )

    def _finish(acc):
        total = F.lit(0).cast("bigint")
        for j in range(bits):
            total = total + F.when(acc[f"b{j}"] > 0, F.lit(1 << j).cast("bigint")).otherwise(
                F.lit(0).cast("bigint")
            )
        return total

    return df.withColumn("simhash", F.aggregate(hashes, init, _merge, _finish))


def shingle_hashes(
    df: DataFrame,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    portable: bool = True,
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Distinct (id, shingle_hash[, extra_cols]) over the corpus — the
    shareable input of the contamination family: a production pipeline
    materializes this ONCE per corpus snapshot and every leak check /
    graded report filters and joins it, instead of re-tokenizing the
    corpus per consumer (the _FPS_CACHE pay-once pattern). The pinned
    token projection guards the O(L^2) HOF trap; distinct bounds every
    downstream shuffle by the distinct-shingle count."""
    from demo_bigdata_spark.functions.scalar import pin, spread_for_cpu
    from demo_bigdata_spark.operators.text import shingles_of, tokens

    hash_fn = (lambda c: F.md5(c)) if portable else (lambda c: F.xxhash64(c))
    toked = spread_for_cpu(
        df.select(id_col, *extra_cols, F.col(text_col).alias("_txt"))
    ).select(id_col, *extra_cols, pin(tokens(F.col("_txt"))).alias("_tk"))
    return (
        toked.select(
            id_col,
            *extra_cols,
            F.explode(F.array_distinct(shingles_of(F.col("_tk"), n))).alias("_s"),
        )
        .select(id_col, *extra_cols, hash_fn(F.col("_s")).alias("shingle_hash"))
        .distinct()
    )


def decontaminate(
    train: DataFrame | None = None,
    eval_set: DataFrame | None = None,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    portable: bool = True,
    train_shingles: DataFrame | None = None,
    eval_shingles: DataFrame | None = None,
) -> DataFrame:
    """[EXT] train/eval decontamination: flag training documents sharing any
    n-token shingle with the held-out eval corpus (the standard benchmark-
    leak check before pre-training). ``portable=False`` joins on a bigint
    xxhash64 shingle key instead of the md5 hex digest — cheaper to compute
    AND a cheaper (8-byte) shuffle/join key; exact-match semantics are
    hash-family-independent up to collisions negligible at both widths.

    Shape: shingle both sides (array ops, no shuffle), explode to
    (shingle_hash, id), distinct, inner-join on the hash — ONE shuffle keyed
    by shingle hash, whose cardinality is bounded by the (small) eval side
    after the join's runtime filtering; the train side's exploded volume
    partial-aggregates map-side via the distinct. Returns one row per
    contaminated train doc: matched shingle count + how many eval docs it
    collides with.

    ``train_shingles`` / ``eval_shingles`` accept pre-built
    :func:`shingle_hashes` frames ((id, shingle_hash) rows) so a shared
    materialized shingle table serves every contamination consumer
    without re-tokenizing the corpus.
    """

    def sh(df: DataFrame | None, pre: DataFrame | None, out_id: str) -> DataFrame:
        if pre is not None:
            # no re-distinct: both output aggregates are count_distinct,
            # so duplicate (id, hash) rows cannot change any value
            return pre.select(F.col(id_col).alias(out_id), "shingle_hash")
        if df is None:
            raise ValueError(f"either a corpus or a shingle frame is required ({out_id})")
        return shingle_hashes(df, n, text_col, id_col, portable).select(
            F.col(id_col).alias(out_id), "shingle_hash"
        )

    t = sh(train, train_shingles, "train_id")
    e = sh(eval_set, eval_shingles, "eval_id")
    return (
        t.join(e, "shingle_hash")
        .groupBy("train_id")
        .agg(
            F.count_distinct("shingle_hash").alias("n_shared_shingles"),
            F.count_distinct("eval_id").alias("n_eval_docs"),
        )
    )


def contamination_report(
    train: DataFrame | None = None,
    eval_set: DataFrame | None = None,
    n: int = 8,
    min_frac: float = 0.0,
    text_col: str = "text",
    id_col: str = "doc_id",
    portable: bool = True,
    train_shingles: DataFrame | None = None,
    eval_shingles: DataFrame | None = None,
) -> DataFrame:
    """[EXT] graded decontamination: per training doc, the FRACTION of its
    distinct n-shingles found in the eval corpus — the thresholdable form
    (drop at frac >= x, audit the band below) instead of decontaminate's
    binary any-hit flag. Docs with zero overlap are omitted (at corpus
    scale nearly every doc is clean — emitting them would dominate output
    volume with zeros).

    Same single-shuffle join shape as :func:`decontaminate`; the per-doc
    distinct-shingle total rides along from the explode side, so no second
    scan of the train corpus. ``contamination_frac`` is ONE int/int
    division — exact operands, engine-identical (ROUND_NOTES fact 5).

    ``train_shingles`` / ``eval_shingles`` accept pre-built
    :func:`shingle_hashes` frames; they MUST be distinct on
    (id, shingle_hash) — shingle_hashes output is — because the per-doc
    totals here are plain counts over those rows.
    """
    if train_shingles is not None:
        tsh = train_shingles.select(
            F.col(id_col).alias("train_id"), "shingle_hash"
        )
    else:
        if train is None:
            raise ValueError("either train or train_shingles is required")
        tsh = shingle_hashes(train, n, text_col, id_col, portable).select(
            F.col(id_col).alias("train_id"), "shingle_hash"
        )
    totals = tsh.groupBy("train_id").agg(F.count("*").alias("n_train_shingles"))
    if eval_shingles is not None:
        esh = eval_shingles.select("shingle_hash").distinct()
    else:
        if eval_set is None:
            raise ValueError("either eval_set or eval_shingles is required")
        esh = shingle_hashes(eval_set, n, text_col, id_col, portable).select(
            "shingle_hash"
        ).distinct()
    shared = (
        tsh.join(esh, "shingle_hash")
        .groupBy("train_id")
        .agg(F.count("*").alias("n_shared_shingles"))
    )
    return (
        shared.join(totals, "train_id")
        .select(
            "train_id",
            "n_shared_shingles",
            "n_train_shingles",
            (F.col("n_shared_shingles") / F.col("n_train_shingles")).alias(
                "contamination_frac"
            ),
        )
        .filter(F.col("contamination_frac") >= min_frac)
    )


def build_decontamination_index(
    eval_set: DataFrame,
    path: str,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    portable: bool = True,
) -> None:
    """Persist the eval corpus's distinct shingle hashes — the
    decontamination probe table. Built ONCE per benchmark release
    (eval sets are small and static); every training batch then joins
    against it without re-shingling the eval side. Stored as distinct
    hashes only (no eval doc ids): the incremental check needs membership,
    not provenance, and the dedup'd hash set is the smallest possible
    broadcast candidate. The shingle parameters (n, hash family) are
    persisted beside the hashes — a probe with mismatched parameters
    would silently match nothing, so ``check_contamination_batch``
    validates against them."""
    shingle_hashes(eval_set, n, text_col, id_col, portable).select(
        "shingle_hash"
    ).distinct().write.mode("overwrite").parquet(path)
    # meta lives INSIDE the index dir as an underscore-prefixed child:
    # Spark's data reads skip _-prefixed paths, and a rebuild's overwrite
    # of `path` wipes stale meta BEFORE new hashes land — a crash between
    # the two writes leaves hashes-without-meta (validation skipped), never
    # new-hashes-beside-old-meta (validation passing wrongly)
    import pyarrow as pa

    from demo_bigdata_spark.sources.snapshot_cdc import _strip_uri
    from demo_bigdata_spark.sources.snapshots import write_parquet_atomic

    meta_dir = _strip_uri(path + "/_meta")
    os.makedirs(meta_dir, exist_ok=True)
    write_parquet_atomic(
        pa.table(
            {"n": pa.array([int(n)], pa.int32()), "portable": pa.array([bool(portable)])}
        ),
        os.path.join(meta_dir, "meta.parquet"),
    )


def _decontamination_index_meta(index_path: str) -> dict | None:
    """The (n, portable) record :func:`build_decontamination_index` wrote
    beside the hashes, read on the driver with pyarrow (no Spark job); None
    when the index has none. The directory read skips ``_``/``.``-prefixed
    names, so a record Spark wrote (``part-*``, ``_SUCCESS``) reads too."""
    import pyarrow.dataset as pads

    from demo_bigdata_spark.sources.snapshot_cdc import _strip_uri

    meta_dir = _strip_uri(index_path + "/_meta")
    if not os.path.isdir(meta_dir):
        return None
    meta = pads.dataset(meta_dir, format="parquet")
    if not meta.files:
        return None
    return meta.to_table(columns=["n", "portable"]).to_pylist()[0]


def check_contamination_batch(
    spark,
    batch_df: DataFrame,
    index_path: str,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    portable: bool = True,
) -> DataFrame:
    """Flag contaminated docs in ONE batch against the persisted eval
    index: shingle the batch (O(batch)), join the (broadcast-sized) eval
    hash set, count shared shingles per doc. The streaming decontamination
    probe — work per call never touches eval text or prior batches.
    Raises if the probe's (n, hash family) disagree with the parameters
    the index was built with — a mismatch would silently match nothing."""
    m = _decontamination_index_meta(index_path)
    if m is not None:
        if int(m["n"]) != int(n) or bool(m["portable"]) != bool(portable):
            raise ValueError(
                f"contamination index at {index_path} was built with "
                f"n={m['n']}, portable={m['portable']}; probe asked for "
                f"n={n}, portable={portable} — shingle families must match"
            )
    sh = shingle_hashes(batch_df, n, text_col, id_col, portable)
    ev = spark.read.parquet(index_path)
    return (
        sh.join(ev, "shingle_hash")
        .groupBy(id_col)
        .agg(F.count_distinct("shingle_hash").alias("n_shared_shingles"))
    )


def build_dedup_index(
    df: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    bands: int = 4,
    rows: int = 4,
) -> None:
    """[EXT] persist the corpus dedup index for incremental checking:
    LSH band buckets (parquet partitioned by band_idx — probe joins prune
    to one band family per partition) plus hashed distinct-token sets for
    Jaccard verification. Build once over the corpus; new batches then
    probe it (``incremental_near_duplicates``) without re-hashing history —
    the only sane dedup flow once the corpus is 100 TB.
    """
    feats = _minhash_features(df, text_col, id_col)
    lsh_bands(feats, id_col, bands, rows).write.mode("overwrite").partitionBy(
        "band_idx"
    ).parquet(path + "/bands")
    feats.select(id_col, "toks").write.mode("overwrite").parquet(path + "/toks")


def incremental_near_duplicates(
    spark,
    new_docs: DataFrame,
    index_path: str,
    threshold: float = 0.8,
    text_col: str = "text",
    id_col: str = "doc_id",
    bands: int = 4,
    rows: int = 4,
) -> DataFrame:
    """[EXT] match a NEW batch against the persisted index: hash only the
    batch, equi-join its band buckets against the indexed buckets (the small
    batch side broadcasts; band_idx partition pruning scopes the index
    scan), then Jaccard-verify candidates on hashed token sets — batch side
    computed fresh, corpus side read from the index. Returns
    (new_id, corpus_id, jaccard) pairs at or above ``threshold``.
    """
    new = _minhash_features(new_docs, text_col, id_col)
    nb = lsh_bands(new, id_col, bands, rows).select(
        F.col(id_col).alias("new_id"), "band_idx", "band_sig"
    )
    ib = spark.read.parquet(index_path + "/bands").select(
        F.col(id_col).alias("corpus_id"), "band_idx", "band_sig"
    )
    cands = (
        ib.join(F.broadcast(nb), ["band_idx", "band_sig"])
        .filter(F.col("corpus_id") != F.col("new_id"))
        .select(F.col("new_id").alias("id_a"), F.col("corpus_id").alias("id_b"))
        .distinct()
    )
    idx_toks = spark.read.parquet(index_path + "/toks").withColumn("n", F.size("toks"))
    return (
        _jaccard_verify(cands, F.broadcast(new), id_col, feats_b=idx_toks)
        .filter(F.col("jaccard") >= threshold)
        .select(F.col("id_a").alias("new_id"), F.col("id_b").alias("corpus_id"), "jaccard")
    )


def char_ngram_jaccard_pairs(
    df: DataFrame,
    cands: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    size_prune_threshold: float | None = None,
    portable: bool = True,
) -> DataFrame:
    """Exact character-n-gram Jaccard over candidate pairs — the n-gram
    variant of jaccard_pairs (token sets there, char shingles here; char
    n-grams are robust to tokenization and catch edits inside words).

    With ``size_prune_threshold`` t: J(A,B) <= min(|A|,|B|)/max(|A|,|B|), so
    pairs whose gram-set size ratio is below t cannot reach t — they are
    dropped BEFORE the array intersect/union (the expensive part), on two
    precomputed ints.

    The n-gram set is built with sequence+transform+substr (UDF-free) over a
    PRE-MATERIALIZED normalized column: the lambda must reference an
    attribute, not the lower(trim(...)) expression, or Catalyst inlines and
    re-evaluates the normalization per array element (ROUND_NOTES: no CSE
    across sibling lambda elements). Candidates come from any bounded
    generator (LSH bands here), so the quadratic verify never runs on the
    full corpus; the join shuffles gram sets only for candidate ids.

    Grams are carried as token_hash bigints, not strings: array_intersect
    hashes every element of both arrays per pair, and long hashing beats
    UTF8String hashing by ~6x end-to-end (12.5s -> 2.0s at sf0.01). The
    one-time md5 per gram is amortized over every candidate pair touching
    the doc; any collision merges the same grams on both sides of an
    engine comparison because the DuckDB twin hashes identically.
    """
    # CPU-heavy, byte-cheap stages must be sized by CORES, not input bytes
    # (scalar.spread_for_cpu): the doc scan is one thin parquet split and
    # AQE coalesces the candidate shuffle to a handful of partitions (it
    # targets 64 MB of 16-byte pair rows — blind to the per-row intersect
    # cost downstream), so without explicit repartitioning the gram build
    # and the 100k+-pair verify run on 1 and ~5 threads respectively
    # (measured 8.5 -> 3.4 s at sf0.1 on local[32]). The candidate
    # repartition below stays unconditional — it moves 16-byte pairs and
    # also breaks the one-giant-LSH-bucket skew a dup farm produces.
    from demo_bigdata_spark.functions.scalar import spread_for_cpu

    par = df.sparkSession.sparkContext.defaultParallelism
    norm = spread_for_cpu(
        df.select(
            F.col(id_col).alias("_id"), F.lower(F.trim(F.col(text_col))).alias("_norm")
        )
    )
    # distinct the gram STRINGS before hashing: repetitive text makes many
    # positions carry the same n-gram, so md5 runs once per distinct gram
    # instead of once per position (~1.2x on the gram stage at sf0.1). The
    # outer array_distinct over the (cheap) bigint hashes keeps the result a
    # distinct HASH set exactly as before — a 28-bit collision between two
    # distinct grams must still collapse, or sizes drift from the oracle's.
    grams = norm.select(
        "_id",
        F.when(
            F.length("_norm") >= n,
            F.array_distinct(
                F.transform(
                    F.array_distinct(
                        F.transform(
                            F.sequence(F.lit(1), F.length("_norm") - (n - 1)),
                            lambda i: F.col("_norm").substr(i, F.lit(n)),
                        )
                    ),
                    _hasher(portable),
                )
            ),
        )
        .otherwise(F.array().cast("array<bigint>"))
        .alias("grams"),
    )
    grams = grams.withColumn("_n", F.size("grams"))
    # the gram table feeds BOTH sides of the pair join; without a
    # materialization barrier each side re-runs the whole
    # normalize+sequence+md5 subtree (no ReusedExchange across differently-
    # projected branches). Lazy localCheckpoint = build grams once, join
    # twice — at scale this is "persist the feature table", the standard
    # verify-stage shape (measured ~1.6x on the ngram_jaccard bench query).
    grams = grams.localCheckpoint(eager=False)
    ga = grams.select(
        F.col("_id").alias("id_a"), F.col("grams").alias("ga"), F.col("_n").alias("na")
    )
    gb = grams.select(
        F.col("_id").alias("id_b"), F.col("grams").alias("gb"), F.col("_n").alias("nb")
    )
    # spread the pairs across all cores before the per-pair intersects; both
    # gram sides broadcast, so any partitioning is join-valid — round-robin
    # also breaks the one-giant-LSH-bucket skew a dup farm produces
    joined = cands.repartition(2 * par).join(ga, "id_a").join(gb, "id_b")
    if size_prune_threshold is not None:
        joined = joined.filter(
            F.least("na", "nb") >= F.lit(size_prune_threshold) * F.greatest("na", "nb")
        )
    # ONE array_intersect per pair, pinned so downstream threshold filters
    # can't re-inline it (was: intersect + union, each re-evaluated in the
    # pushed filter -> 6 array ops per pair; |A∪B| = |A|+|B|-|A∩B| is int
    # arithmetic on the precomputed sizes)
    from demo_bigdata_spark.functions.scalar import pin

    step = joined.select(
        "id_a",
        "id_b",
        "na",
        "nb",
        pin(F.size(F.array_intersect("ga", "gb"))).alias("inter"),
    )
    union = F.col("na") + F.col("nb") - F.col("inter")
    return step.select(
        "id_a",
        "id_b",
        F.when(union == 0, F.lit(0.0))
        .otherwise(F.round(F.col("inter").cast("double") / union, 4))
        .alias("ngram_jaccard"),
    )


def winnow_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    w: int = 4,
    portable: bool = True,
) -> DataFrame:
    """[EXT] winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    SIGMOD'03 — the MOSS algorithm): hash every char k-gram of the
    normalized text, then keep the minimum hash of each sliding window of
    ``w`` consecutive gram hashes. The distinct minima form the fingerprint
    set — guaranteed to share a fingerprint with any document that has a
    matching substring of length >= k + w - 1, at ~2/(w+1) the density of
    the full gram set.

    Output: one row per (doc_id, fp), fp a 28-bit portable gram hash
    (token_hash), distinct per doc. Local-substring dedup/plagiarism
    detection joins two fingerprint tables on fp — shuffle volume is the
    winnowed set (w+1 times smaller than all-grams), never the corpus.

    Implementation notes: the gram array is built ONCE per row and pinned
    (functions.scalar.pin) before the window-minima pass — an unpinned
    gram expression would be re-inlined into the minima lambda and
    recomputed per window (the ROUND_NOTES O(L^2) HOF trap). Everything is
    Catalyst built-ins: substr/md5/conv, sequence/transform/slice/
    array_min — no UDFs, no shuffle until the final distinct explode.
    """
    from demo_bigdata_spark.functions.scalar import pin

    norm = spread_for_cpu(
        df.select(F.col(id_col), F.lower(F.trim(F.col(text_col))).alias("_norm"))
    )
    grams_expr = F.when(
        F.length("_norm") >= k,
        F.transform(
            F.sequence(F.lit(1), F.length("_norm") - (k - 1)),
            lambda i: _hasher(portable)(F.col("_norm").substr(i, F.lit(k))),
        ),
    ).otherwise(F.array().cast("array<bigint>"))
    grammed = norm.select(id_col, pin(grams_expr).alias("_grams")).filter(
        F.size("_grams") > 0
    )
    mins = F.when(
        F.size("_grams") >= w,
        F.transform(
            F.sequence(F.lit(0), F.size("_grams") - w),
            lambda j: F.array_min(F.slice("_grams", j + 1, w)),
        ),
    ).otherwise(F.array(F.array_min("_grams")))
    return (
        grammed.select(id_col, F.explode(F.array_distinct(mins)).alias("fp"))
    )


def winnow_overlap_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    w: int = 4,
    min_shared: int = 2,
    max_bucket: int = 1000,
    portable: bool = True,
) -> DataFrame:
    """[EXT] local-overlap candidate pairs via shared winnowed fingerprints:
    equi-join the fingerprint table with itself on fp, count shared prints
    per pair. ``max_bucket`` caps pathological fingerprints (boilerplate
    shared by half the corpus) exactly like the LSH dup-farm cap — the join
    stays bucket-bounded, never all-pairs."""
    fps = winnow_fingerprints(df, text_col, id_col, k, w, portable=portable).localCheckpoint(
        eager=False
    )
    return winnow_overlap_from_fps(fps, id_col, min_shared, max_bucket)


def winnow_overlap_from_fps(
    fps: DataFrame,
    id_col: str = "doc_id",
    min_shared: int = 2,
    max_bucket: int = 1000,
) -> DataFrame:
    """Overlap pairs from an existing (id, fp) fingerprint table — the
    persist-the-fingerprint-table flow: build prints once per corpus
    (winnow_fingerprints, ideally materialized), then run overlap joins,
    incremental probes, or cross-corpus checks against the same table
    without re-hashing text."""
    sizes = fps.groupBy("fp").agg(F.count("*").alias("_bn"))
    bounded = fps.join(
        F.broadcast(sizes.filter(F.col("_bn") > max_bucket)), "fp", "left_anti"
    )
    a = bounded.select(F.col(id_col).alias("id_a"), "fp")
    b = bounded.select(F.col(id_col).alias("id_b"), "fp")
    return (
        a.join(b, "fp")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def exact_dedup_keep_best(
    df: DataFrame,
    score_col: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """[EXT] quality-aware exact dedup: per normalized-text digest keep the
    HIGHEST-scoring duplicate (ties -> highest id, so the choice is total
    and deterministic), not an arbitrary or min-id representative — the
    production rule when duplicates differ in provenance quality.

    Same 32-byte digest shuffle key as exact_dedup; the representative is a
    single max of a (score, id) struct — no window, no second pass.
    """
    normalized = F.array_join(tokens(F.lower(F.col(text_col))), " ")
    return (
        df.withColumn("fp", F.md5(normalized))
        .groupBy("fp")
        .agg(
            F.max(
                F.struct(F.col(score_col).alias("s"), F.col(id_col).alias("i"))
            ).alias("_best"),
            F.count("*").alias("n_dups"),
        )
        .select(
            "fp",
            F.col("_best.i").alias("keep_id"),
            F.col("_best.s").alias("keep_score"),
            "n_dups",
        )
    )


def remove_common_lines(
    df: DataFrame,
    min_count: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """[EXT] corpus-level line deduplication (the CCNet/RefinedWeb
    boilerplate pass): drop every line that occurs at least ``min_count``
    times across the corpus (headers, navigation, disclaimers), then
    reassemble each document with its remaining lines in original order.

    Shape: posexplode lines -> hash-aggregate line counts (shuffle keyed by
    line digest; partial map-side combine collapses repeats before the
    exchange) -> left-anti join -> per-doc ordered reassembly via
    array_sort(collect_list(struct(pos, line))). Shuffle volume is bounded
    by distinct lines, not total text. Documents whose every line was
    common survive with empty text (the row is kept — dropping it would
    silently change corpus size).

    Matching is on the md5 digest of the raw line (32-byte join/group key,
    as exact_dedup); blank lines are never treated as boilerplate.
    """
    lines = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("_pos", "_line"),
    ).withColumn("_lh", F.md5("_line"))
    common = (
        lines.filter(F.trim("_line") != "")
        .groupBy("_lh")
        .agg(F.count("*").alias("_n"))
        .filter(F.col("_n") >= min_count)
        .select("_lh")
    )
    kept = lines.join(common, "_lh", "left_anti")
    rebuilt = kept.groupBy(id_col).agg(
        F.concat_ws(
            "\n",
            F.transform(
                F.array_sort(F.collect_list(F.struct("_pos", "_line"))),
                lambda x: x["_line"],
            ),
        ).alias("clean_text"),
        F.count("*").alias("n_kept"),
    )
    totals = df.select(
        F.col(id_col),
        (F.size(F.split(F.col(text_col), "\n"))).alias("_n_lines"),
    )
    return (
        totals.join(rebuilt, id_col, "left")
        .select(
            id_col,
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
            (F.col("_n_lines") - F.coalesce("n_kept", F.lit(0)))
            .cast("bigint")
            .alias("n_removed"),
        )
    )


def _span_base(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(id, _tok pinned token array, n_tokens) — the shared front of the
    span-dedup family. Byte-thin scan, CPU-heavy per row (W-token gram
    concat + digest per position downstream): spread to cores first or
    the hashing lands on the few scan splits (the cdc_chunks fix)."""
    from demo_bigdata_spark.functions.scalar import pin

    return spread_for_cpu(df).select(
        F.col(id_col),
        pin(tokens(text_col)).alias("_tok"),
        F.when(F.trim(F.col(text_col)) == "", F.lit(0))
        .otherwise(F.size(tokens(text_col)))
        .cast("bigint")
        .alias("n_tokens"),
    )


def _span_grams(
    base: DataFrame, window: int, id_col: str, portable: bool
) -> DataFrame:
    """(id, _p start position, _h span digest) — one row per window
    position over a _span_base frame. Each position hashed once
    (posexplode over the pinned array, no HOF re-inlining, no shuffle).
    portable=True: md5 digests (DuckDB-oracle twin); portable=False:
    xxhash64 — the production hash, ~10x cheaper per gram, same
    flag/keep semantics (the dedup-family convention; fast-path parity
    pinned in tests/test_fast_hash_path.py)."""
    w = int(window)

    def _gram_hash(i: Column) -> Column:
        gram = F.concat_ws(" ", F.slice(F.col("_tok"), i + 1, w))
        return F.md5(gram) if portable else F.xxhash64(gram).cast("string")

    return base.filter(F.col("n_tokens") >= w).select(
        F.col(id_col),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.col("n_tokens") - w), _gram_hash
            )
        ).alias("_p", "_h"),
    )


def _flag_grams(
    grams: DataFrame, min_count: int, keep: str, id_col: str
) -> DataFrame:
    """Flag duplicated span occurrences in a grams frame: occurrences of
    hashes with >= min_count total occurrences, minus the per-hash
    min-struct first occurrence under keep='first' (no per-hash sort —
    dup-farm hashes don't create a sort skew). Returns (id, _p)."""
    occs = (
        grams.groupBy("_h")
        .agg(
            F.count("*").alias("_c"),
            F.min(
                F.struct(F.col(id_col).alias("i"), F.col("_p").alias("p"))
            ).alias("_first"),
        )
        .filter(F.col("_c") >= int(min_count))
    )
    flagged = grams.join(occs, "_h")
    if keep == "first":
        flagged = flagged.filter(
            ~(
                (F.col(id_col) == F.col("_first.i"))
                & (F.col("_p") == F.col("_first.p"))
            )
        )
    return flagged.select(id_col, "_p")


def span_flagged_starts(
    df: DataFrame,
    window: int = 20,
    min_count: int = 2,
    keep: str = "first",
    text_col: str = "text",
    id_col: str = "doc_id",
    portable: bool = True,
) -> DataFrame:
    """[EXT] the audit view of :func:`span_dedup`: (id, start) per flagged
    duplicated-span occurrence, before coverage merging — what the
    incremental span index maintains at ingest and what
    live==batch equivalence is stated over."""
    base = _span_base(df, text_col, id_col)
    return _flag_grams(
        _span_grams(base, int(window), id_col, portable),
        min_count,
        keep,
        id_col,
    ).select(F.col(id_col), F.col("_p").alias("start"))


def span_dedup(
    df: DataFrame,
    window: int = 20,
    min_count: int = 2,
    keep: str = "first",
    text_col: str = "text",
    id_col: str = "doc_id",
    portable: bool = True,
) -> DataFrame:
    """[EXT] exact-substring span deduplication (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better"): any
    ``window``-token span whose exact text occurs at least ``min_count``
    times across the corpus is a duplicated span; every flagged
    occurrence's tokens are cut from its document and the survivors are
    reassembled in order. ``keep="first"`` (the paper's release-tool
    semantics scaled to spans) exempts the corpus-wide first occurrence —
    min (doc_id, position) per span hash, computed as a min-struct
    aggregate (no per-hash sort; dup-farm hashes don't create a sort
    skew). ``keep="none"`` removes every occurrence.

    Distributed shape (the suffix array of the paper is a single-machine
    structure; this is the shuffle-bounded equivalent):
    1. per-doc pinned token array; rolling ``window``-gram md5 per start
       position (each position hashed once — posexplode over the pinned
       array, no HOF re-inlining, no shuffle);
    2. hash-aggregate span counts keyed by the 16-byte digest (one
       shuffle, map-side combine collapses repeats);
    3. flagged starts = occurrences of dup hashes (semi join) minus the
       per-hash min-struct first occurrence under keep="first";
    4. coverage: tokens posexploded, flagged starts joined on
       (doc, position), and one per-doc running max over start positions
       marks every token t with a flagged start p in (t-window, t] —
       windows partition by doc_id, so state is bounded by document
       length, never corpus length;
    5. ordered reassembly via array_sort(collect_list(struct(pos, tok)))
       — the remove_common_lines shape.

    Output: (id, n_tokens, n_removed, clean_text) — clean_text is
    whitespace-normalized (tokens joined by single spaces; reassembly
    cannot preserve the original whitespace it tokenized away). Documents
    shorter than ``window`` tokens pass through untouched; documents whose
    every token was covered survive with empty text (dropping them would
    silently change corpus size).

    100 TB posture: every stage is an explode + equi-shuffle keyed by
    digest or doc_id — no all-pairs, no corpus-sized window, no driver
    state. The dominant cost is the per-position gram hash (genuine CPU,
    the cdc_chunks price) and the token-count-sized coverage shuffle.
    """
    if keep not in ("first", "none"):
        raise ValueError(f"keep must be 'first' or 'none', got {keep!r}")
    base = _span_base(df, text_col, id_col)
    w = int(window)
    flagged = _flag_grams(
        _span_grams(base, w, id_col, portable), min_count, keep, id_col
    ).select(F.col(id_col).alias("_fid"), F.col("_p").alias("_start"))

    # empty-text docs carry a [''] token array from split('') — exclude
    # them here (they rejoin with clean_text='' via the left join below)
    toks = base.filter(F.col("n_tokens") > 0).select(
        F.col(id_col), "n_tokens", F.posexplode("_tok").alias("_t", "_w")
    )
    from pyspark.sql import Window as W

    cover = (
        toks.join(
            flagged,
            (F.col(id_col) == F.col("_fid")) & (F.col("_t") == F.col("_start")),
            "left",
        )
        .select(id_col, "n_tokens", "_t", "_w", "_start")
        .withColumn(
            "_cov",
            F.max("_start").over(
                W.partitionBy(id_col).orderBy("_t").rowsBetween(W.unboundedPreceding, 0)
            ),
        )
        .withColumn("_rm", F.col("_cov").isNotNull() & (F.col("_cov") + w > F.col("_t")))
    )
    rebuilt = (
        cover.filter(~F.col("_rm"))
        .groupBy(id_col)
        .agg(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("_t", "_w"))),
                    lambda x: x["_w"],
                ),
            ).alias("clean_text"),
            F.count("*").alias("_n_kept"),
        )
    )
    return (
        base.select(id_col, "n_tokens")
        .join(rebuilt, id_col, "left")
        .select(
            id_col,
            "n_tokens",
            (F.col("n_tokens") - F.coalesce("_n_kept", F.lit(0)))
            .cast("bigint")
            .alias("n_removed"),
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
        )
    )


def soft_dedup_weights(
    shingles: DataFrame,
    id_col: str = "doc_id",
    scale: int = 6,
) -> DataFrame:
    """Soft dedup (SoftDedup, He et al., ACL 2024): reweight duplicated
    content instead of dropping it. Each document's *commonness* is the
    mean document-frequency of its distinct n-gram shingles; its sampling
    weight is the inverse — a document of corpus-unique shingles keeps
    weight 1.0, one whose every shingle appears in k documents is
    attenuated to ~1/k. Downstream, ``sampling.mixture_sample_weighted``
    consumes the weights, so near-duplicate mass shrinks in expectation
    rather than being hard-cut at a threshold (the paper's measured win
    over drop-dedup on perplexity at matched token budgets).

    Input is the shared ``shingle_hashes`` frame (materialized once per
    corpus snapshot — the _SH8_CACHE pattern), so soft dedup costs two
    hash-partitioned aggregates over it: document-frequency per shingle,
    then mean-df per document. Both are map-side combinable; raw text is
    never touched again. The weight is emitted as an exact bigint/bigint
    ratio (n_shingles / sum_df) rounded at ``scale`` — engine-portable.
    """
    sh = shingles.select(id_col, "shingle_hash")
    dfreq = sh.groupBy("shingle_hash").agg(F.count("*").alias("_df"))
    per_doc = (
        sh.join(dfreq, "shingle_hash")
        .groupBy(id_col)
        .agg(F.sum("_df").alias("sum_df"), F.count("*").alias("n_shingles"))
    )
    return per_doc.select(
        id_col,
        "n_shingles",
        "sum_df",
        F.round(F.col("n_shingles") / F.col("sum_df"), scale).alias("weight"),
    )


# --- Exactly-once incremental near-dup index (r11) ---------------------------
#
# build_dedup_index/incremental_near_duplicates above are the build-once +
# probe flow; this tier makes the index APPENDABLE under the shared epoch
# ledger (the inverted/positional/IVF/IVF-PQ/kNN-graph discipline), so an
# arriving crawl batch is (a) checked against all committed history, (b)
# checked against itself, and (c) added to the index — exactly once per
# epoch under foreachBatch's at-least-once replay. The accumulated pair set
# equals the batch near-dup pipeline over the full corpus: a pair lands in
# exactly the epoch of its LATER member (cross-probe if the members arrived
# apart, batch-internal candidates if together), and band-signature equality
# plus token-set Jaccard are pure functions of content, so per-epoch
# discovery loses nothing.
#
# The batch pipeline's dup-farm bucket cap (minhash_candidates max_bucket)
# is NOT applied here: the cap is bucket-size-dependent and committed
# buckets grow over time, which would make discovery arrival-order
# dependent. Per-epoch cost is one FULL scan of the committed band table
# with the (small) batch broadcast as the build side — every batch emits
# all band_idx values 0..bands-1, so band_idx partitioning buys file
# clustering, not pruning (r11 ADVICE comment fix; the docstring's cost
# contract already states the full scan).


def append_dedup_batch(
    spark,
    batch_df: DataFrame,
    index_path: str,
    epoch_id: int,
    threshold: float = 0.7,
    text_col: str = "text",
    id_col: str = "doc_id",
    bands: int = 4,
    rows: int = 4,
) -> None:
    """Fold one arrival batch into the live near-dup index exactly once:
    probe committed bands for cross-history candidates, add the batch's
    internal candidates, Jaccard-verify against committed + batch token
    sets, then write (pairs, bands, toks) rows as the epoch's partitions
    with ONE ledger commit making all three visible.

    Cost contract (measured, SCALE_NOTES): per-epoch work = the batch's
    hashing + one scan of the committed band table (3 narrow columns; the
    probe join hash-builds on the BROADCAST batch side) + verification of
    the epoch's candidate pairs. Pair EMISSION is inherently quadratic in
    any group of near-identical documents — no algorithm that must output
    all pairs >= threshold avoids that — so run :func:`exact_dedup` (and
    URL dedup) upstream, the standard pipeline order; on a replica-farm
    corpus the honest tools are the capped batch candidates + connected-
    component labeling, not pair emission (a probed x5 replica farm
    emitted 113M pairs with per-epoch cost growing in farm size — the
    measurement that pinned this contract)."""
    from demo_bigdata_spark.streaming.pipeline import fold_epoch, write_epoch_partition

    def write() -> None:
        if batch_df.isEmpty():  # nothing to write; the epoch still commits
            return

        feats = _minhash_features(
            batch_df.select(F.col(id_col).alias("doc_id"), text_col), text_col, "doc_id"
        )
        nb = lsh_bands(feats, "doc_id", bands, rows)
        nt = feats.select("doc_id", "toks", "n")

        ib = read_dedup_bands(spark, index_path)
        cross = (
            ib.join(F.broadcast(nb.withColumnRenamed("doc_id", "new_id")),
                    ["band_idx", "band_sig"])
            .filter(F.col("doc_id") != F.col("new_id"))
            .select(
                F.least("doc_id", "new_id").alias("id_a"),
                F.greatest("doc_id", "new_id").alias("id_b"),
            )
            .distinct()
        )
        cands = cross.unionByName(_band_self_join(nb, "doc_id")).distinct()
        toks_all = read_dedup_toks(spark, index_path).unionByName(nt)
        pairs = _jaccard_verify(cands, toks_all, "doc_id").filter(
            F.col("jaccard") >= threshold
        )
        write_epoch_partition(pairs, index_path + "/pairs", epoch_id)
        write_epoch_partition(nb, index_path + "/bands", epoch_id, ("band_idx",))
        write_epoch_partition(nt, index_path + "/toks", epoch_id)

    fold_epoch(spark, index_path, epoch_id, write)


# the committed-view schemas of the live near-dup index's three tables
_BANDS_SCHEMA = "doc_id long, band_sig string, band_idx int, epoch_id long"
_TOKS_SCHEMA = "doc_id long, toks array<bigint>, n int, epoch_id long"
_PAIRS_SCHEMA = "id_a long, id_b long, jaccard double, epoch_id long"


def _dedup_index_view(spark, index_path: str, table: str, schema: str) -> DataFrame:
    """The committed view of one of the live near-dup index's three tables,
    all committed by the index's one ledger."""
    from demo_bigdata_spark.streaming.pipeline import committed_view, ledger_path

    return committed_view(
        spark, f"{index_path}/{table}", ledger_path(index_path), schema
    )


def read_dedup_bands(spark, index_path: str) -> DataFrame:
    return _dedup_index_view(spark, index_path, "bands", _BANDS_SCHEMA).select(
        "doc_id", "band_idx", "band_sig"
    )


def read_dedup_toks(spark, index_path: str) -> DataFrame:
    return _dedup_index_view(spark, index_path, "toks", _TOKS_SCHEMA).select(
        "doc_id", "toks", "n"
    )


def read_near_dup_pairs(spark, index_path: str) -> DataFrame:
    """Committed (id_a, id_b, jaccard) pairs accumulated by
    append_dedup_batch — equals the batch near-dup pipeline (uncapped
    candidates) over everything ingested so far. Each pair is emitted
    once, by the epoch that ingests the later of its two documents, so
    the view needs no dedup."""
    return _dedup_index_view(spark, index_path, "pairs", _PAIRS_SCHEMA).select(
        "id_a", "id_b", "jaccard"
    )


def _survivors_from_pairs(
    pairs: DataFrame, universe: DataFrame, id_col: str, max_iterations: int
) -> DataFrame:
    """Shared CC step for keep/drop decisions: min-label fixed point over
    verified pairs (:func:`_propagate_min_labels_edges`); isolated docs in
    ``universe`` keep themselves. Returns (id_col, cluster_id, keep) with
    keep = (id == component min)."""
    labels = _propagate_min_labels_edges(
        pairs.select("id_a", "id_b"), universe, id_col, max_iterations
    )
    return labels.select(
        id_col,
        "cluster_id",
        (F.col(id_col) == F.col("cluster_id")).alias("keep"),
    )


def near_dup_survivors(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.7,
    bands: int = 4,
    rows: int = 4,
    max_bucket: int | None = 1000,
    max_iterations: int = 64,
    portable: bool = True,
) -> DataFrame:
    """Batch per-doc KEEP/DROP decisions from MinHash near-dup pairs — the
    batch twin of :func:`read_dedup_survivors` and the stage a crawl
    pipeline actually consumes: verified pairs (>= threshold Jaccard) ->
    connected components (exact min-label fixed point) -> survivor = min id
    per component. ``max_bucket`` keeps the default scale posture: dup-farm
    buckets skip pair emission entirely (their members still collapse via
    :func:`duplicate_clusters`-style labeling — compose both when farms are
    expected). Returns (id_col, cluster_id, keep) for EVERY input doc.
    """
    pairs = _near_dup_pairs(
        df, text_col, id_col, threshold, bands, rows, max_bucket, portable
    )
    return _survivors_from_pairs(
        pairs.select("id_a", "id_b"), df.select(id_col), id_col, max_iterations
    )


def read_dedup_survivors(spark, index_path: str, max_iterations: int = 64) -> DataFrame:
    """Per-doc KEEP/DROP decisions from the committed near-dup index (r11
    VERDICT item 3 — a crawl pipeline needs decisions, not pairs):
    connected components over the accumulated verified pair set
    (:func:`_propagate_min_labels_edges`' exact two-phase fixed point),
    survivor = min id per component, the exact-dedup convention. Because
    the committed pair set equals the uncapped batch pipeline's pairs,
    these labels equal "batch near_duplicates -> CC -> min-id per
    component" over everything ingested so far, at any epoch boundary.
    The pair and token tables are read through their committed views.

    Returns (doc_id, cluster_id, keep). Like every committed view this is
    a READER — recompute after appends, or materialize via the snapshot
    sink if a downstream stage wants a stable table. Cost: two passes
    over the pair set + component-sized propagation rounds; the pair set
    itself carries append_dedup_batch's quadratic-on-farms contract,
    which is why replica-farm corpora should use
    :func:`read_dedup_clusters` instead.
    """
    return _survivors_from_pairs(
        read_near_dup_pairs(spark, index_path).select("id_a", "id_b"),
        read_dedup_toks(spark, index_path).select("doc_id"),
        "doc_id",
        max_iterations,
    )


def read_dedup_clusters(spark, index_path: str, max_iterations: int = 64) -> DataFrame:
    """Farm-resilient incremental duplicate labeling (the variant
    :func:`append_dedup_batch`'s cost contract routes replica farms to):
    min-label propagation over the COMMITTED band table — NO pair emission
    anywhere, so a dup-farm bucket costs its row count per round instead
    of its row count squared once. Band signatures are pure per-doc
    functions, so the accumulated band table IS the batch band table and
    these labels equal :func:`duplicate_clusters` over everything ingested
    so far (same bucket graph, same exact fixed point). Note the semantic
    difference from :func:`read_dedup_survivors`, inherited from the batch
    twins: bucket-graph components link any band collision (no Jaccard
    verify), the recall-over-precision trade that makes it farm-safe.
    The band table is read through its committed view; the lazy
    checkpoint pins the memberships once for the propagation's two
    full-table consumers.

    Returns (doc_id, cluster_id).
    """
    bands = (
        read_dedup_bands(spark, index_path)
        .select("doc_id", F.concat_ws("|", "band_idx", "band_sig").alias("bucket"))
        .localCheckpoint(eager=False)
    )
    return _propagate_min_labels(bands, "doc_id", max_iterations)

"""Mergeable-sketch operators [EXT]: HLL distinct counts, count-min frequency.

The 100 TB pattern these enable: pre-aggregate each partition/day into a
fixed-size sketch (KBs, not GBs), persist the sketches, and answer any
range/rollup query by MERGING sketches — no rescan of raw data, no exact
countDistinct shuffle of billions of keys. Spark ships both aggregates
natively (Datasketches HLL: ``hll_sketch_agg``/``hll_union_agg``/
``hll_sketch_estimate``; count-min: ``count_min_sketch``), so the whole tier
is built-in expressions — no UDFs, fully codegen'd, deterministic for a
fixed seed/precision.

The reference computes exact ``countDistinct`` per dashboard refresh
(services/api-service/data_service.py:127-132); at reference scale that is
fine, at 100 TB the nightly-sketch + merge-on-read layout replaces it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from demo_bigdata_spark.session import local_frame

# log2m for the HLL registers: 12 -> 4096 registers, ~1.6% relative standard
# error, ~4 KB per sketch. Raise to 14+ when a 0.4% error budget matters.
DEFAULT_LGK = 12


def distinct_sketches(
    df: DataFrame, key_col: str, group_cols: list[str], lgk: int = DEFAULT_LGK
) -> DataFrame:
    """Per-group HLL sketch of ``key_col`` — the persistable partial.

    One hash-aggregate shuffle on ``group_cols``; each output row carries a
    fixed-size binary ``sketch`` that can be stored (e.g. partitioned by day)
    and re-merged later for any coarser grouping."""
    return df.groupBy(*group_cols).agg(
        F.hll_sketch_agg(F.col(key_col), F.lit(lgk)).alias("sketch")
    )


def merge_sketches(df: DataFrame, group_cols: list[str] | None = None) -> DataFrame:
    """Merge persisted sketches to a coarser grouping (empty = global).

    HLL register-max merge is commutative and associative, so the estimate is
    independent of partitioning and merge order — safe under AQE re-planning.
    Shuffles only sketch bytes (KBs per group), never raw keys."""
    grouped = df.groupBy(*group_cols) if group_cols else df.groupBy()
    return grouped.agg(F.hll_union_agg("sketch").alias("sketch"))


def estimate_distinct(df: DataFrame, out_col: str = "est_uniques") -> DataFrame:
    """Attach the cardinality estimate for a sketch column."""
    return df.withColumn(out_col, F.hll_sketch_estimate("sketch"))


_INT_MASK = 0xFFFFFFFF


def _i32(x: int) -> int:
    """Wrap to Java 32-bit signed int semantics."""
    x &= _INT_MASK
    return x - (1 << 32) if x >= (1 << 31) else x


def _rotl32(x: int, r: int) -> int:
    x &= _INT_MASK
    return ((x << r) | (x >> (32 - r))) & _INT_MASK


def _mix_k1(k1: int) -> int:
    k1 = (k1 * 0xCC9E2D51) & _INT_MASK
    k1 = _rotl32(k1, 15)
    return (k1 * 0x1B873593) & _INT_MASK


def _mix_h1(h1: int, k1: int) -> int:
    h1 = (h1 ^ k1) & _INT_MASK
    h1 = _rotl32(h1, 13)
    return (h1 * 5 + 0xE6546B64) & _INT_MASK


def _fmix(h1: int, length: int) -> int:
    h1 = (h1 ^ length) & _INT_MASK
    h1 ^= h1 >> 16
    h1 = (h1 * 0x85EBCA6B) & _INT_MASK
    h1 ^= h1 >> 13
    h1 = (h1 * 0xC2B2AE35) & _INT_MASK
    h1 ^= h1 >> 16
    return _i32(h1)


def _murmur3_32(data: bytes, seed: int) -> int:
    """Spark's Murmur3_x86_32.hashUnsafeBytes: 4-byte little-endian words,
    then each TRAILING byte (sign-extended) run through a full mix round —
    deliberately different from reference murmur3's tail handling."""
    h1 = seed & _INT_MASK
    n_aligned = len(data) - len(data) % 4
    for i in range(0, n_aligned, 4):
        word = int.from_bytes(data[i : i + 4], "little")
        h1 = _mix_h1(h1, _mix_k1(word))
    for i in range(n_aligned, len(data)):
        b = data[i]
        half_word = b - 256 if b >= 128 else b  # Java byte is signed
        h1 = _mix_h1(h1, _mix_k1(half_word & _INT_MASK))
    return _fmix(h1, len(data))


class CountMinReader:
    """Pure-Python reader for Spark's serialized CountMinSketch (V1 format,
    big-endian: int version, long totalCount, int depth, int width, depth
    longs of hashA (the long-item hash multipliers), then depth*width table
    longs — org.apache.spark.util.sketch.CountMinSketchImpl.writeTo).

    Exists so probe lookups never reach into ``spark._jvm`` (unavailable
    under Spark Connect); equivalence with the JVM reader is pinned by
    tests/test_edge_cases.py."""

    def __init__(self, blob: bytes):
        import struct

        (version,) = struct.unpack_from(">i", blob, 0)
        if version != 1:
            raise ValueError(f"unsupported CountMinSketch version {version}")
        (self.total_count,) = struct.unpack_from(">q", blob, 4)
        self.depth, self.width = struct.unpack_from(">ii", blob, 12)
        self.hash_a = struct.unpack_from(f">{self.depth}q", blob, 20)
        n = self.depth * self.width
        flat = struct.unpack_from(f">{n}q", blob, 20 + self.depth * 8)
        self.table = [
            flat[r * self.width : (r + 1) * self.width] for r in range(self.depth)
        ]

    def _buckets(self, item: bytes) -> list[int]:
        # double hashing, as CountMinSketchImpl.getHashBuckets: Math.abs of
        # Java-int (hash1 + i*hash2) % width
        h1 = _murmur3_32(item, 0)
        h2 = _murmur3_32(item, h1 & _INT_MASK)
        out = []
        for i in range(self.depth):
            v = _i32(h1 + i * h2)
            rem = abs(v) % self.width if v >= 0 else -((-v) % self.width)
            out.append(abs(rem))
        return out

    def estimate_count(self, item: str) -> int:
        data = item.encode("utf-8")
        return min(
            self.table[i][b] for i, b in enumerate(self._buckets(data))
        )


def count_min_table(
    df: DataFrame,
    value_col: str,
    probes: list[str],
    eps: float = 0.001,
    confidence: float = 0.99,
    seed: int = 42,
) -> DataFrame:
    """Estimate frequencies of ``probes`` from a count-min sketch of
    ``value_col``.

    The sketch is ONE distributed aggregate over the column (mergeable
    binary, width ceil(e/eps) x depth ceil(ln(1/confidence)) counters); the
    probe lookup is driver-side against the ~KB sketch — bounded work, like
    collecting a top-k. The lookup decodes the serialized sketch in pure
    Python (CountMinReader) so it works under Spark Connect, where
    ``spark._jvm`` does not exist. Guarantees: est >= true count, and
    est <= true + eps * N with the given confidence. Fixed seed => fully
    deterministic output."""
    blob = df.agg(
        F.count_min_sketch(
            F.col(value_col), F.lit(eps), F.lit(confidence), F.lit(seed)
        ).alias("sk")
    ).head()["sk"]
    sketch = CountMinReader(bytes(blob))
    rows = [(p, sketch.estimate_count(p)) for p in probes]
    return local_frame(df.sparkSession, rows, "probe string, est_count long")


def merge_count_min(blobs: list[bytes]) -> bytes:
    """Merge serialized count-min sketches (pure Python, Connect-safe).

    CMS is LINEAR: for equal (depth, width, hash family) the merged table is
    the element-wise sum and totalCount adds — estimates over the union are
    exactly the estimates of the concatenated input. For STRING/BINARY items
    Spark hashes the item bytes with the row index, so same eps/confidence =>
    same hash family; for LONG items, however, CountMinSketchImpl hashes via
    the seed-derived ``hashA`` array, so blobs built with different seeds are
    NOT mergeable — this function therefore requires ``hash_a`` equality
    across all inputs (shape equality alone would silently mis-estimate while
    stamping the first blob's hashA into the output).

    This is what makes per-partition / per-day CMS maintenance work at
    100 TB: persist a KB-size blob per slice, answer any range by merging
    slices — never rescan raw data (same pattern as the HLL fold in
    streaming/pipeline.py).
    """
    import struct

    if not blobs:
        raise ValueError("merge_count_min: no sketches given")
    readers = [CountMinReader(bytes(b)) for b in blobs]
    first = readers[0]
    for r in readers[1:]:
        if (r.depth, r.width) != (first.depth, first.width):
            raise ValueError(
                f"incompatible CMS shapes: {(r.depth, r.width)} vs "
                f"{(first.depth, first.width)}"
            )
        if r.hash_a != first.hash_a:
            raise ValueError(
                "incompatible CMS hash families (different seeds): "
                "long-item estimates would be silently wrong"
            )
    table = [
        [sum(r.table[i][j] for r in readers) for j in range(first.width)]
        for i in range(first.depth)
    ]
    total = sum(r.total_count for r in readers)
    out = bytearray()
    out += struct.pack(">i", 1)
    out += struct.pack(">q", total)
    out += struct.pack(">ii", first.depth, first.width)
    out += struct.pack(f">{first.depth}q", *first.hash_a)
    for row in table:
        out += struct.pack(f">{first.width}q", *row)
    return bytes(out)


def count_min_blob(
    df: DataFrame,
    value_col: str,
    eps: float = 0.001,
    confidence: float = 0.99,
    seed: int = 42,
) -> bytes:
    """One serialized CMS over a column — the persistable partial for
    :func:`merge_count_min`."""
    return bytes(
        df.agg(
            F.count_min_sketch(
                F.col(value_col), F.lit(eps), F.lit(confidence), F.lit(seed)
            ).alias("sk")
        ).head()["sk"]
    )


# --- Bloom-filter decontamination [EXT] --------------------------------------
#
# The sketch-based scale path next to dedup.decontaminate's exact join: the
# eval corpus's n-gram set folds into an m-bit Bloom filter (built once,
# ~m/8 bytes), which then rides along as a BROADCAST bit array — the corpus
# scan tests membership map-side and only a tiny per-doc aggregate shuffles.
# The exact operator shuffles the corpus's exploded shingles on the hash key
# to meet the eval side; at 100 TB that join's probe side is the corpus, so
# replacing it with a 128 KB broadcast is the difference between a shuffle
# stage and a scan. The price is Bloom's one-sided error: flagged docs are a
# SUPERSET of the truly contaminated (no false negatives — every true
# shingle hit has all its bits set), so the filter is safe for "drop
# flagged" decontamination and the FP rate is the (m, k, n) textbook bound.
#
# Positions are md5-derived from the shingle hash ("{i}:{shingle_hash}"),
# so the identical math replays in the DuckDB oracle (bit-array membership
# == position-set membership, relationally expressed).

_BLOOM_HEX = 7  # 28 hash bits per position draw; m_bits must be <= 2^28


def bloom_position(col, i: int, m_bits: int):
    """Position of hash function ``i`` for a shingle-hash column — exact
    BIGINT, engine-portable (md5 + base-16 conv + mod)."""
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit(f"{i}:"), col.cast("string"))), 1, _BLOOM_HEX),
        16,
        10,
    )
    return F.pmod(h.cast("long"), F.lit(m_bits))


_BLOOM_MAX_BITS = 1 << 24  # 2 MB of words: the honest plan-literal ceiling


def build_ngram_bloom(
    eval_shingles: DataFrame,
    m_bits: int = 1 << 20,
    k_hashes: int = 4,
    hash_col: str = "shingle_hash",
):
    """Fold the eval corpus's distinct shingle hashes into an m-bit Bloom
    filter; returns the bit array as int64 words (m_bits/64 of them — the
    broadcastable artifact). Positions are OR-folded into words
    DISTRIBUTEDLY (shiftleft per position, one bit_or aggregate keyed on
    word index — r11 ADVICE: the old version collected up to m_bits
    distinct position ROWS, tens of GB at the ceiling); the driver collect
    is at most m_bits/64 non-zero (index, word) pairs, i.e. truly <= m/8
    bytes of payload — the one intentionally driver-sized model object,
    like centroids and codebooks. The ceiling is 2^24 bits (2 MB of
    words), because :func:`bloom_decontaminate` embeds the word array as a
    plan literal — beyond that the filter should become a broadcast-join
    table instead, which is the exact operator's territory anyway."""
    import numpy as np

    if m_bits % 64 or m_bits > _BLOOM_MAX_BITS:
        raise ValueError(
            f"m_bits must be a multiple of 64 and <= 2^24, got {m_bits}"
        )
    pos_cols = [
        bloom_position(F.col(hash_col), i, m_bits).alias("p") for i in range(k_hashes)
    ]
    word_rows = (
        eval_shingles.select(hash_col)
        .distinct()
        .select(F.explode(F.array(*pos_cols)).alias("p"))
        .select(
            (F.col("p") / 64).cast("int").alias("w"),
            # DataFrame-API shiftleft needs a literal shift; the SQL form
            # takes a column
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(p % 64 AS INT))").alias("b"),
        )
        .groupBy("w")
        .agg(F.bit_or("b").alias("word"))
        .collect()
    )
    words = np.zeros(m_bits // 64, dtype=np.int64)
    for r in word_rows:
        words[r["w"]] = r["word"]
    return words


def bloom_decontaminate(
    train_shingles: DataFrame,
    bloom_words,
    m_bits: int = 1 << 20,
    k_hashes: int = 4,
    id_col: str = "doc_id",
    hash_col: str = "shingle_hash",
) -> DataFrame:
    """Flag training docs whose shingles POSSIBLY appear in the eval Bloom
    filter: a shingle is flagged iff all ``k_hashes`` bit positions are
    set. Map-only membership against the broadcast word array (element_at
    + shift/mask inside codegen — no join, no corpus-keyed shuffle), then
    one per-doc count aggregate. Returns (id, n_flagged_shingles) for docs
    with at least one flagged shingle — a guaranteed SUPERSET of
    dedup.decontaminate's rows under the same n."""
    # explicit long cast: a lit array whose values happen to fit 32 bits
    # infers array<int>, and getbit on an INT word rejects positions >= 32
    words_lit = F.lit([int(w) for w in bloom_words]).cast("array<long>")

    def bit_set(pos):
        word = F.element_at(words_lit, (pos / 64).cast("int") + 1)
        return F.getbit(word, (pos % 64).cast("long")) == 1

    hit = None
    for i in range(k_hashes):
        b = bit_set(bloom_position(F.col(hash_col), i, m_bits))
        hit = b if hit is None else (hit & b)
    return (
        train_shingles.filter(hit)
        .groupBy(id_col)
        .agg(F.count_distinct(hash_col).alias("n_flagged_shingles"))
    )


# --- Fixed-range histogram quantile sketch [EXT] -------------------------------
#
# The mergeable-quantile answer that stays SQL-replayable: a fixed [lo, hi)
# range quantized into n_bins integer-counted bins. Unlike GK/KLL/t-digest
# (whose state depends on arrival order), bin counts are EXACT integers —
# merge is vector addition (commutative, associative), so partials combine
# map-side, shuffle n_bins rows instead of the corpus, and the DuckDB twin
# replays the identical arithmetic. Quantile error is bounded by one bin
# width by construction (caller picks the range/bins from domain knowledge
# — the honest contract; data outside [lo, hi) clamps into the edge bins
# and the estimate degrades visibly at the edges, never silently inside).
# At 100 TB this is the difference between a global sort and ONE
# map-side-combined aggregate of n_bins longs.


def histogram_sketch(
    df: DataFrame,
    value_col: str,
    lo: float,
    hi: float,
    n_bins: int = 1024,
) -> DataFrame:
    """(bin, n) counts of ``value_col`` quantized into ``n_bins`` equal
    bins over [lo, hi): bin = clamp(floor((x - lo) / (hi - lo) * n_bins)).
    NULLs dropped; out-of-range values clamp to the edge bins. At most
    n_bins rows out — the broadcastable, exactly-mergeable partial."""
    if not hi > lo:
        raise ValueError(f"need hi > lo, got [{lo}, {hi})")
    if n_bins < 1:
        raise ValueError(f"n_bins must be >= 1, got {n_bins}")
    x = F.col(value_col).cast("double")
    # Clamp on the LONG floor result BEFORE any int cast: a value far
    # outside [lo, hi) can produce a bin index past 2^31, and casting that
    # long to int first would WRAP into an arbitrary interior bin (silently
    # violating the edge-clamp contract) while DuckDB's checked ::INT in the
    # SQL twin would error instead. least/greatest on the long is exact;
    # the bounded result then casts safely. (floor(+inf) saturates to
    # Long.MAX under Spark's non-ANSI cast, which the clamp also absorbs.)
    b = F.least(
        F.lit(n_bins - 1).cast("bigint"),
        F.greatest(
            F.lit(0).cast("bigint"),
            F.floor((x - F.lit(float(lo))) / F.lit(float(hi - lo)) * n_bins),
        ),
    ).cast("int")
    return (
        df.filter(x.isNotNull())
        .groupBy(b.alias("bin"))
        .agg(F.count("*").alias("n"))
    )


def merge_histograms(*hists: DataFrame) -> DataFrame:
    """Union partial sketches and re-sum — exact by integer addition."""
    out = hists[0]
    for h in hists[1:]:
        out = out.unionByName(h)
    return out.groupBy("bin").agg(F.sum("n").alias("n"))


def histogram_quantiles(
    hist: DataFrame,
    qs: list[float],
    lo: float,
    hi: float,
    n_bins: int = 1024,
) -> DataFrame:
    """Quantile estimates from a (bin, n) sketch: for each q, the LOWER
    EDGE of the first bin whose cumulative count reaches ceil(q * total).
    The walk is an integer cumulative sum over <= n_bins rows (a window
    over the tiny sketch, never the data), so the result is engine-exact;
    the estimate is within one bin width of the true quantile whenever the
    data lies inside [lo, hi). Returns (q, est, total)."""
    from pyspark.sql.window import Window

    w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    w_all = Window.orderBy("bin").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = hist.withColumn("cum", F.sum("n").over(w)).withColumn(
        "total", F.sum("n").over(w_all)
    )
    qlit = F.array(*[F.lit(float(q)) for q in sorted(qs)])
    width = float(hi - lo) / n_bins
    return (
        cum.select(F.explode(qlit).alias("q"), "bin", "cum", "total")
        .filter(F.col("cum") >= F.ceil(F.col("q") * F.col("total")))
        .groupBy("q")
        .agg(F.min("bin").alias("_b"), F.max("total").alias("total"))
        .select(
            "q",
            F.round(F.lit(float(lo)) + F.col("_b") * F.lit(width), 6).alias("est"),
            "total",
        )
        .orderBy("q")
    )


def append_histogram_batch(
    spark,
    batch_df: DataFrame,
    path: str,
    epoch_id: int,
    value_col: str,
    lo: float,
    hi: float,
    n_bins: int = 1024,
) -> None:
    """Exactly-once incremental histogram maintenance under the shared
    epoch-ledger discipline: write the batch's (bin, n) partial (<= n_bins
    rows per epoch) as the epoch's partition and commit the epoch.
    Integer bin counts sum across epochs to EXACTLY the batch sketch of
    everything ingested."""
    from demo_bigdata_spark.streaming.pipeline import fold_epoch, write_epoch_partition

    def write() -> None:
        part = histogram_sketch(batch_df, value_col, lo, hi, n_bins)
        write_epoch_partition(part, path, epoch_id)

    fold_epoch(spark, path, epoch_id, write)


def read_histogram(spark, path: str) -> DataFrame:
    """Committed (bin, n) sketch from the incrementally-maintained table:
    the committed view, then the exact integer re-sum."""
    from demo_bigdata_spark.streaming.pipeline import committed_view, ledger_path

    return (
        committed_view(
            spark,
            path,
            ledger_path(path),
            "bin int, n bigint, epoch_id long",
        )
        .groupBy("bin")
        .agg(F.sum("n").alias("n"))
    )

"""BPE tokenizer induction over the corpus — learn merges, apply them.

[EXT] The vocabulary-training step of a pre-training pipeline (Sennrich et
al. 2016 byte-pair encoding, the word-type formulation): words become
space-separated symbol strings, and each round merges the globally most
frequent adjacent symbol pair. The reference has no tokenizer surface;
this rounds out the corpus tier (token counting / packing / mixtures all
consume tokenizations).

Scale shape — the loop runs on the WORD-TYPE table, not the corpus:
- One corpus pass builds (word, freq) — explode + groupBy, the only
  corpus-sized shuffle. Everything after runs on distinct words
  (vocabulary-sized: ~100M rows at 100 TB, thousands of times smaller
  than the corpus).
- Each merge round is one aggregate over the vocab (pair counts, partial
  map-side combine) + one narrow projection (the merge rewrite). The
  1-row argmax collect per round is a bounded driver action (the k-means
  centroid precedent, similarity.py) — 10 rounds = 10 tiny jobs.
- Applying learned merges to anything (bpe_apply) is a chain of N
  boundary-aware folds in one narrow projection — shuffle-free; segment
  the word-TYPE table once and broadcast-join pieces back to the corpus
  rather than folding per corpus row.

Determinism: pair argmax ties break on (count DESC, pair ASC); the merge
rewrite is a LEFT-TO-RIGHT FOLD over the symbol array, merging an
occurrence only when the accumulator's final full symbol equals the
rule's left element (checked against the space delimiter — a literal
string replace would corrupt across symbol boundaries: after (z,a)->za,
the string "za b" contains "a b" but the pair (a,b) does not occur).
A freshly merged symbol never re-merges in the same pass ("a a a" with
rule (a,a) -> "aa a"), exactly BPE's greedy semantics. The SQL oracle
replays the identical fold with list_reduce, round for round (the
dup_clusters unrolling precedent).
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from demo_bigdata_spark.operators.text import tokens

END_MARK = "</w>"

# observability for tests/probes: Spark rounds used by the last bpe_train call
LAST_TRAIN_ROUNDS = 0


def word_frequencies(
    df: DataFrame, text_col: str = "text"
) -> DataFrame:
    """(word, freq) over the corpus — the one corpus-sized aggregate."""
    return (
        df.select(F.explode(tokens(F.col(text_col))).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").cast("bigint").alias("freq"))
    )


def _initial_symbols(word: Column) -> Column:
    """'table' -> 't a b l e </w>' (space-separated symbols + end marker).
    ``(?s)`` makes ``.`` match the line terminators U+0085, U+2028 and
    U+2029 too; whitespace tokenization keeps them inside words, and
    without it they would glue to the next character ('a\\x85b' ->
    'a', '\\x85b')."""
    return F.concat(
        F.trim(F.regexp_replace(word, "(?s)(.)", "$1 ")), F.lit(" " + END_MARK)
    )


def _adjacent_pairs(sym: Column) -> Column:
    """All adjacent symbol pairs of a symbol string, as 'a b' strings.
    Guarded: F.sequence(1, 0) would generate a DESCENDING sequence, not an
    empty one, so single-symbol rows must short-circuit to []."""
    a = F.split(sym, " ")
    return F.when(
        F.size(a) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(a) - 1),
            lambda i: F.concat(
                F.element_at(a, i), F.lit(" "), F.element_at(a, i + 1)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))


def _merge_pair(sym: Column, pair: str, merged: str) -> Column:
    """Apply one merge rule to a symbol string with a left-to-right fold:
    append each symbol unless it is the rule's RIGHT element and the
    accumulator currently ends in the rule's LEFT element as a whole
    symbol — then rewrite the tail to the merged symbol. Symbols contain
    no spaces by construction (whitespace-tokenized words + the end
    marker), so the delimiter test is exact.

    Interpreted-HOF cost is per VOCAB row (distinct words), not per
    corpus row; on a training round this fold beats an Arrow-batched
    mapInPandas rewrite (docs/SCALE_NOTES.md)."""
    a, b = pair.split(" ")

    def _step(acc: Column, x: Column) -> Column:
        is_merge = (x == F.lit(b)) & (
            (acc == F.lit(a)) | acc.endswith(F.lit(" " + a))
        )
        return (
            F.when(acc == "", x)
            .when(
                is_merge,
                F.concat(
                    F.substr(acc, F.lit(1), F.length(acc) - len(a)),
                    F.lit(merged),
                ),
            )
            .otherwise(F.concat(acc, F.lit(" "), x))
        )

    return F.aggregate(F.split(sym, " "), F.lit(""), _step)


def _apply_rules_py(sym: str, rules: list) -> str:
    """Pure-Python twin of chained :func:`_merge_pair` folds: apply each
    (a, b, merged) rule as one left-to-right non-overlapping merge pass.
    Equivalence to the Catalyst fold (parity-pinned in tests): both scan
    left to right over the ORIGINAL symbol sequence, merge an occurrence
    exactly when the current symbol is ``b`` and the previous emitted
    symbol is ``a``, and never reconsider a freshly merged symbol within
    the same pass — and chained rules compose identically because each
    pass runs to completion before the next rule starts.

    Implementation: per rule, a space-padded substring probe (one C-level
    ``in``) skips rules whose pair does not occur — at a real rule count
    almost every rule misses almost every word, so the probe is the whole
    cost; matching rules run one compiled-regex pass whose
    leftmost-non-overlapping, no-rescan-of-replacements semantics are
    EXACTLY the fold's (``re.sub`` builds its output scanning the input
    string; replacements never re-enter the scan, just as the fold checks
    original positions). Measured 7.5x over the naive per-rule
    list-rebuild loop at 200k word types x 69 rules, bit-identical."""
    p = f" {sym} "
    for _a, _b, repl, probe, pat in rules:
        if probe in p:
            p = pat.sub(repl, p)
    return p[1:-1]


def _split_rules(rules: list[tuple[str, str]]) -> list:
    """Preprocess (pair, merged) rules for :func:`_apply_rules_py`:
    (a, b, escaped replacement, padded probe, compiled boundary-safe
    pattern). The zero-width lookarounds assert full-symbol boundaries
    without consuming the separators, so consecutive occurrences all
    match in one pass ('a b a b' -> 'ab ab'); they test for the literal
    space delimiter, not ``\\s``, which also matches U+0085, U+2028 and
    U+2029 inside a symbol. The replacement is
    backslash-escaped HERE, once per rule: re.sub treats its repl string
    as a template, so a merged symbol containing a backslash (code,
    LaTeX, Windows paths) would otherwise raise 'bad escape' or silently
    substitute group references like \\1 — the Catalyst fold has no such
    metacharacters, and parity must hold on every vocabulary."""
    out = []
    for pair, merged in rules:
        a, b = pair.split(" ")
        out.append(
            (
                a,
                b,
                merged.replace("\\", "\\\\"),
                f" {a} {b} ",
                re.compile(rf"(?<![^ ]){re.escape(a)} {re.escape(b)}(?![^ ])"),
            )
        )
    return out


def _select_disjoint_batch(
    cands: list[tuple[str, int]], max_batch: int, exhausted: bool
) -> list[tuple[str, int]]:
    """Greedy batch selection that is PROVABLY order-identical to classic
    one-at-a-time BPE. Walk candidates in (count desc, pair asc) order,
    accepting pairs that share no symbol with any accepted pair; STOP at
    the first symbol-sharing candidate and finally drop accepted pairs
    whose count ties the stop bound.

    Why this equals the sequential schedule: applying a merge (a,b)->ab
    never removes a symbol from BETWEEN two others, so a pair's count can
    change only if it SHARES a symbol with an applied merge (consumed
    occurrences) or is NEWLY CREATED around the merged symbol — and a new
    pair's count is bounded by a pre-existing sharing pair's count
    ((x,ab) <= old (x,a); (ab,ab) <= old (b,a); (ab,cd) <= old (b,c)).
    Every sharing pair sorts at/after the stop candidate, so each
    accepted pair's count is STRICTLY greater than anything a preceding
    merge in the batch could have changed or created — the global argmax
    after merges 1..i is exactly accepted[i+1]. Ties with the stop bound
    are dropped because a newly-created pair could tie the count and win
    the lexicographic tie-break.

    ``exhausted`` = the candidate list is the COMPLETE pair table; if it
    is a truncated top-N, the unseen (N+1)-th pair might share a symbol,
    so the last candidate's count becomes the conservative stop bound."""
    accepted: list[tuple[str, int]] = []
    used: set[str] = set()
    stop_count: int | None = None
    for pair, cnt in cands:
        syms = set(pair.split(" "))
        if used & syms:
            stop_count = cnt
            break
        if len(accepted) >= max_batch:
            stop_count = cnt
            break
        accepted.append((pair, cnt))
        used |= syms
    if stop_count is None and not exhausted and cands:
        stop_count = cands[-1][1]  # unseen tail could share at this count
    if stop_count is not None:
        accepted = [(p, c) for p, c in accepted if c > stop_count]
        if not accepted and cands:
            # ties all the way down: fall back to the plain argmax, which
            # is always classic-correct
            accepted = [cands[0]]
    return accepted


def bpe_train(
    df: DataFrame,
    n_merges: int = 10,
    text_col: str = "text",
    max_batch: int = 16,
    candidate_limit: int = 256,
) -> tuple[list[tuple[int, str, str, int]], DataFrame]:
    """Learn ``n_merges`` BPE merge rules. Returns (rules, merges_df) where
    rules = [(round, pair, merged, pair_count)] in learning order and
    merges_df is the same as a DataFrame (round int, pair/merged string,
    pair_count bigint).

    Batched rounds: each Spark round collects the top-``candidate_limit``
    pairs (TakeOrdered — bounded driver action) and applies up to
    ``max_batch`` symbol-disjoint merges in ONE chained projection +
    checkpoint. The batch is chosen by ``_select_disjoint_batch``, whose
    stop rule makes the learned rule sequence BIT-IDENTICAL to classic
    one-merge-per-round BPE (the sequential-equivalence proof in its
    docstring; pinned by tests against max_batch=1) — so a 32k-vocab
    training run needs ~vocab/batch driver round-trips instead of one per
    merge, with no semantic drift. ``max_batch=1`` recovers the exact
    classic loop. The merge rewrite is the Catalyst fold
    (:func:`_merge_pair`), which the SQL oracle replays."""
    global LAST_TRAIN_ROUNDS
    spark = df.sparkSession
    syms = word_frequencies(df, text_col).select(
        _initial_symbols(F.col("word")).alias("sym"), "freq"
    )
    # the vocab table feeds every round; pin it once so round i doesn't
    # re-run the corpus explode i times (lineage truncation, executor-side)
    syms = syms.localCheckpoint(eager=False)
    rules: list[tuple[int, str, str, int]] = []
    LAST_TRAIN_ROUNDS = 0
    while len(rules) < n_merges:
        LAST_TRAIN_ROUNDS += 1
        cands = [
            (r["pr"], int(r["c"]))
            for r in (
                syms.select(
                    F.explode(_adjacent_pairs(F.col("sym"))).alias("pr"), "freq"
                )
                .groupBy("pr")
                .agg(F.sum("freq").cast("bigint").alias("c"))
                .orderBy(F.desc("c"), F.asc("pr"))
                .limit(candidate_limit)
                .collect()
            )
        ]
        if not cands:
            break
        batch = _select_disjoint_batch(
            cands,
            max_batch=min(max_batch, n_merges - len(rules)),
            exhausted=len(cands) < candidate_limit,
        )
        round_rules = []
        for pair, cnt in batch:
            merged = pair.replace(" ", "")
            rules.append((len(rules) + 1, pair, merged, cnt))
            round_rules.append((pair, merged))
        col = F.col("sym")
        for pair, merged in round_rules:
            # disjoint rules commute and can't create each other's
            # pairs, so chaining the folds in one projection is exact
            col = _merge_pair(col, pair, merged)
        # pin each round: without the checkpoint, round i's plan nests i
        # rewrite stages and recomputes every prior round per action
        syms = syms.select(col.alias("sym"), "freq").localCheckpoint(eager=False)
    merges_df = spark.createDataFrame(
        rules, "round int, pair string, merged string, pair_count bigint"
    )
    return rules, merges_df


def bpe_apply(
    df: DataFrame,
    rules: list[tuple[int, str, str, int]],
    word_col: str = "word",
    out_col: str = "pieces",
    engine: str = "catalyst",
) -> DataFrame:
    """Segment words with learned rules: the N merge folds compose into
    one narrow projection (no shuffle) and the final symbol string splits
    into the piece array. ``engine="arrow"`` runs the whole rule chain in
    ONE Arrow-batched mapInPandas instead of N interpreted Catalyst folds
    — the production path when the rule list is vocabulary-sized
    (parity-pinned bit-identical to the Catalyst chain)."""
    if engine == "arrow":
        from pyspark.sql.types import ArrayType, StringType, StructField, StructType

        rl = _split_rules([(pair, merged) for _, pair, merged, _ in rules])
        out_schema = StructType(
            df.schema.fields + [StructField(out_col, ArrayType(StringType()))]
        )

        def gen(batches):
            for pdf in batches:
                pdf[out_col] = [
                    _apply_rules_py(
                        " ".join(list(w)) + " " + END_MARK, rl
                    ).split(" ")
                    for w in pdf[word_col]
                ]
                yield pdf

        return df.mapInPandas(gen, out_schema)
    # stack the folds in chunks of 16 per projection: a single projection
    # nesting ~100 F.aggregate HOFs exceeds the analyzer's resolution
    # iteration limit (Max iterations reached for batch Resolution);
    # chunked projections collapse to the same narrow no-shuffle stage
    tmp_col = f"_{out_col}_sym"
    cur = df.withColumn(tmp_col, _initial_symbols(F.col(word_col)))
    for i in range(0, len(rules), 16):
        col = F.col(tmp_col)
        for _, pair, merged, _ in rules[i : i + 16]:
            col = _merge_pair(col, pair, merged)
        cur = cur.select(
            *[c for c in cur.columns if c != tmp_col], col.alias(tmp_col)
        )
    return cur.withColumn(out_col, F.split(F.col(tmp_col), " ")).drop(tmp_col)

"""Hypothesis property tests: engine operators vs simple Python reference
implementations on generated data (small example counts — each example builds
a Spark DataFrame)."""

from __future__ import annotations

import datetime as dt

from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from demo_bigdata_spark.operators.analytics import (
    paginate,
    paginate_keyset,
    sessionize,
)

EPOCH = dt.datetime(2024, 1, 1)

events_strategy = st.lists(
    st.tuples(
        st.integers(min_value=1, max_value=3),  # user_id
        st.integers(min_value=0, max_value=72000),  # seconds offset (20h span)
    ),
    min_size=1,
    max_size=40,
    unique=True,
)


def _make_df(spark, rows):
    data = [
        (i, u, EPOCH + dt.timedelta(seconds=s)) for i, (u, s) in enumerate(sorted(rows))
    ]
    return spark.createDataFrame(data, ["event_id", "user_id", "ts"])


@settings(max_examples=12, deadline=None)
@given(rows=events_strategy)
def test_sessionize_matches_reference(spark, rows):
    gap_min = 30
    got = {
        (r["user_id"], r["session_start"]): r["n_events"]
        for r in sessionize(_make_df(spark, rows), gap_minutes=gap_min).collect()
    }
    # python reference: sort per user, split on gap
    expected: dict = {}
    per_user: dict = {}
    for u, s in rows:
        per_user.setdefault(u, []).append(s)
    for u, ss in per_user.items():
        ss.sort()
        start, n, prev = ss[0], 0, None
        for s in ss:
            if prev is not None and s - prev > gap_min * 60:
                expected[(u, (EPOCH + dt.timedelta(seconds=start)).strftime("%Y-%m-%d %H:%M:%S"))] = n
                start, n = s, 0
            n += 1
            prev = s
        expected[(u, (EPOCH + dt.timedelta(seconds=start)).strftime("%Y-%m-%d %H:%M:%S"))] = n
    assert got == expected


@settings(max_examples=8, deadline=None)
@given(rows=events_strategy, page_size=st.integers(min_value=1, max_value=7))
def test_pagination_partitions_the_order(spark, rows, page_size):
    df = _make_df(spark, rows)
    n = len(rows)
    seen = []
    for page in range((n + page_size - 1) // page_size):
        chunk = paginate(df, [F.desc("ts"), F.col("event_id")], page, page_size).collect()
        seen.extend((r["ts"], r["event_id"]) for r in chunk)
    # pages concatenate to exactly the full ordering: no dupes, no gaps
    assert len(seen) == n
    assert seen == sorted(seen, key=lambda t: (-(t[0].timestamp()), t[1]))


@settings(max_examples=8, deadline=None)
@given(rows=events_strategy, page_size=st.integers(min_value=1, max_value=7))
def test_keyset_pagination_chains_the_order(spark, rows, page_size):
    """Following the keyset chain (last row's (ts, id) feeds the next page)
    walks the full (ts DESC, id ASC) order exactly once — no dupes, no gaps —
    including ties on ts (the id tiebreak)."""
    df = _make_df(spark, rows)
    n = len(rows)
    seen: list = []
    last_ts = last_id = None
    while True:
        chunk = paginate_keyset(
            df, "ts", "event_id", last_ts, last_id, page_size
        ).collect()
        if not chunk:
            break
        seen.extend((r["ts"], r["event_id"]) for r in chunk)
        last_ts = chunk[-1]["ts"].strftime("%Y-%m-%d %H:%M:%S.%f")
        last_id = chunk[-1]["event_id"]
        if len(chunk) < page_size:
            break
    assert len(seen) == n
    assert seen == sorted(seen, key=lambda t: (-(t[0].timestamp()), t[1]))


# --- Deterministic sampling ops (operators.sampling) -------------------------

keys_strategy = st.lists(
    st.integers(min_value=0, max_value=10**12), min_size=1, max_size=60, unique=True
)


@settings(max_examples=10, deadline=None)
@given(keys=keys_strategy)
def test_hash_sample_is_partition_invariant(spark, keys):
    """The sample is a pure function of the key: repartitioning (or any
    physical layout change) must not alter membership — the property
    df.sample() does NOT have."""
    from demo_bigdata_spark.operators.sampling import hash_sample

    df = spark.createDataFrame([(k,) for k in keys], ["k"])
    a = {r["k"] for r in hash_sample(df, "k", 0.3).collect()}
    b = {r["k"] for r in hash_sample(df.repartition(7), "k", 0.3).collect()}
    assert a == b


@settings(max_examples=10, deadline=None)
@given(keys=keys_strategy)
def test_split_assign_partitions_exactly(spark, keys):
    """Every key gets exactly one split label; nested sampling property:
    a hash_sample of a split stays inside that split's keys."""
    from demo_bigdata_spark.operators.sampling import hash_sample, split_assign

    df = spark.createDataFrame([(k,) for k in keys], ["k"])
    tagged = split_assign(df, "k", [("train", 0.75), ("val", 0.125), ("test", 0.125)])
    rows = tagged.collect()
    assert len(rows) == len(keys)  # no dup, no drop
    by_split = {}
    for r in rows:
        by_split.setdefault(r["split"], set()).add(r["k"])
    assert set(by_split) <= {"train", "val", "test"}
    train = spark.createDataFrame([(k,) for k in by_split.get("train", set())] or [(0,)], ["k"])
    sub = {r["k"] for r in hash_sample(train, "k", 0.5).collect()}
    assert sub <= (by_split.get("train", set()) | {0})


def test_per_group_quota_caps_and_keeps_small_groups(spark):
    from demo_bigdata_spark.operators.sampling import per_group_quota

    data = [(g, i) for g in ("a", "b") for i in range(50)] + [("c", 0)]
    df = spark.createDataFrame(data, ["g", "k"])
    kept = per_group_quota(df, ["g"], 10, "k")
    counts = {r["g"]: r["n"] for r in kept.groupBy("g").agg(F.count("*").alias("n")).collect()}
    assert counts == {"a": 10, "b": 10, "c": 1}
    # deterministic: same result twice
    again = per_group_quota(df.repartition(5), ["g"], 10, "k")
    assert sorted(map(tuple, kept.collect())) == sorted(map(tuple, again.collect()))


# --- Chunker round-trip -------------------------------------------------------

docs_strategy = st.lists(
    st.lists(st.integers(min_value=0, max_value=99), min_size=1, max_size=50),
    min_size=1,
    max_size=8,
)


@settings(max_examples=8, deadline=None)
@given(token_lists=docs_strategy)
def test_chunker_roundtrip(spark, token_lists):
    """Dropping each chunk's overlap prefix (after the first) and
    concatenating must reconstruct the original token stream exactly."""
    from demo_bigdata_spark.operators.text import chunk_documents

    size, overlap = 8, 3
    rows = [(i, " ".join(f"t{t}" for t in toks)) for i, toks in enumerate(token_lists)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = chunk_documents(df, chunk_size=size, overlap=overlap)
    by_doc = {}
    for r in out.collect():
        by_doc.setdefault(r["doc_id"], []).append((r["chunk_id"], r["chunk_text"]))
    for i, toks in enumerate(token_lists):
        chunks = [c for _, c in sorted(by_doc[i])]
        rebuilt = chunks[0].split() if chunks else []
        for c in chunks[1:]:
            rebuilt.extend(c.split()[overlap:])
        assert rebuilt == [f"t{t}" for t in toks], (i, chunks)


# --- bucketed_range_join ≡ naive inequality join ------------------------------

range_join_strategy = st.tuples(
    st.lists(  # points: (user, seconds)
        st.tuples(st.integers(1, 3), st.integers(0, 7200)),
        min_size=1, max_size=25, unique=True,
    ),
    st.lists(  # intervals: (user, start_s, duration_s)
        st.tuples(st.integers(1, 3), st.integers(0, 7200), st.integers(0, 3600)),
        min_size=1, max_size=10, unique=True,
    ),
    st.sampled_from([60, 300, 1800, 3600]),  # bucket width, varied vs spans
)


@settings(max_examples=10, deadline=None)
@given(data=range_join_strategy)
def test_bucketed_range_join_equals_naive(spark, data):
    from demo_bigdata_spark.operators.relational import bucketed_range_join

    points, intervals, bucket_s = data
    pts = spark.createDataFrame(
        [(i, u, EPOCH + dt.timedelta(seconds=s)) for i, (u, s) in enumerate(points)],
        ["pt_id", "user_id", "ts"],
    )
    win = spark.createDataFrame(
        [
            (i, u, EPOCH + dt.timedelta(seconds=s), EPOCH + dt.timedelta(seconds=s + d))
            for i, (u, s, d) in enumerate(intervals)
        ],
        ["win_id", "user_id", "lo", "hi"],
    )
    got = {
        (r["pt_id"], r["win_id"])
        for r in bucketed_range_join(
            pts, win, "ts", "lo", "hi", keys=["user_id"], bucket_seconds=bucket_s
        ).collect()
    }
    expected = {
        (pi, wi)
        for pi, (pu, ps) in enumerate(points)
        for wi, (wu, ws, wd) in enumerate(intervals)
        if pu == wu and ws <= ps <= ws + wd
    }
    assert got == expected


# --- resample_time_series: dense axis, totals preserved -----------------------


@settings(max_examples=10, deadline=None)
@given(rows=events_strategy)
def test_resample_fills_every_bucket_and_preserves_totals(spark, rows):
    from demo_bigdata_spark.operators.analytics import resample_time_series

    df = _make_df(spark, rows).withColumn("value", F.lit(1.0))
    out = resample_time_series(df, "ts", "1 hour", group_col="user_id").collect()
    by_user: dict = {}
    for r in out:
        by_user.setdefault(r["user_id"], []).append(r)
    raw: dict = {}
    for u, s in rows:
        raw.setdefault(u, []).append(s // 3600)
    assert set(by_user) == set(raw)
    for u, rs in by_user.items():
        hours = sorted(r["bucket"] for r in rs)
        # dense axis: every hour between min and max appears exactly once
        assert len(hours) == len(set(hours))
        span = int((hours[-1] - hours[0]).total_seconds() // 3600) + 1
        assert len(hours) == span
        # totals preserved: sum of n equals raw event count; gaps are 0
        assert sum(r["n"] for r in rs) == len(raw[u])
        observed = {h for h in raw[u]}
        for r in rs:
            h = int((r["bucket"] - EPOCH).total_seconds() // 3600)
            assert (r["n"] > 0) == (h in observed)


_winnow_text = st.text(alphabet="abcdef ", min_size=0, max_size=40)


@settings(max_examples=8, deadline=None)
@given(prefix_a=_winnow_text, suffix_a=_winnow_text, prefix_b=_winnow_text, suffix_b=_winnow_text)
def test_winnowing_guarantee_shared_substring(spark, prefix_a, suffix_a, prefix_b, suffix_b):
    """The winnowing guarantee (SIGMOD'03): two documents sharing a
    substring of length >= k + w - 1 MUST share at least one fingerprint,
    for any surrounding context."""
    from demo_bigdata_spark.operators.dedup import winnow_fingerprints

    k, w = 5, 4
    core = "zqxywvutsr"  # length 10 >= k + w - 1 = 8; chars disjoint from context alphabet
    rows = [(1, prefix_a + core + suffix_a), (2, prefix_b + core + suffix_b)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    fps: dict[int, set] = {1: set(), 2: set()}
    for r in winnow_fingerprints(df, k=k, w=w).collect():
        fps[r["doc_id"]].add(r["fp"])
    assert fps[1] & fps[2], f"no shared fingerprint: {rows}"


def test_versioned_table_model_based_fuzz(spark, tmp_path):
    """Model-based check of the snapshot table: a seeded random sequence of
    append / delete_where / upsert / delete_where_cow /
    delete_where_positions ops runs against BOTH the real table
    and a pure-Python dict model; after every commit the current view must
    equal the model, and at the end EVERY historical snapshot must equal
    the model's recorded state at that commit — time travel replays the
    whole history exactly."""
    import random

    from pyspark.sql import functions as F

    from demo_bigdata_spark.sources.snapshots import (
        append_snapshot,
        create_table,
        delete_where,
        delete_where_cow,
        delete_where_positions,
        read_table,
        upsert_snapshot,
    )

    rng = random.Random(7)
    next_key = 100

    def frame(rows):
        return spark.createDataFrame(rows, "k long, v long")

    path = str(tmp_path / "model")
    init = [(i, i * 10) for i in range(8)]
    create_table(spark, path, frame(init))
    model: dict[int, int] = dict(init)
    history = {1: dict(model)}
    snap = 1

    def read_now(s=None):
        return {r.k: r.v for r in read_table(spark, path, snapshot=s).collect()}

    for _ in range(8):
        op = rng.choice(
            ["append", "delete", "upsert", "cow_delete", "pos_delete"]
        )
        if op == "append":
            rows = [(next_key + j, (next_key + j) * 10) for j in range(3)]
            next_key += 3
            snap = append_snapshot(spark, path, frame(rows))
            model.update(rows)
        elif op == "delete":
            cutoff = rng.choice(sorted(model) or [0])
            snap = delete_where(spark, path, "k", F.col("k") <= cutoff)
            model = {k: v for k, v in model.items() if k > cutoff}
        elif op == "cow_delete":
            cutoff = rng.choice(sorted(model) or [0])
            s = delete_where_cow(
                spark, path, F.col("k") >= cutoff, prune={"k": (cutoff, None)}
            )
            if s is None:
                continue  # planning proved nothing to delete; no commit
            snap = s
            model = {k: v for k, v in model.items() if k < cutoff}
        elif op == "pos_delete":
            parity = rng.choice([0, 1])
            snap = delete_where_positions(
                spark, path, F.col("v") % 2 == parity
            )
            model = {k: v for k, v in model.items() if v % 2 != parity}
        else:
            keys = rng.sample(sorted(model), min(2, len(model))) if model else []
            rows = [(k, k * 1000) for k in keys] + [(next_key, next_key * 10)]
            next_key += 1
            snap = upsert_snapshot(spark, path, frame(rows), "k")
            model.update(rows)
        history[snap] = dict(model)
        assert read_now() == model, f"divergence after {op} at snapshot {snap}"

    for s, expected in history.items():
        assert read_now(s) == expected, f"time travel to {s} diverged"


# --- kNN block cut (similarity._emit_row_topk) -------------------------------

import numpy as np
from hypothesis import strategies as hst


@settings(max_examples=40, deadline=None)
@given(
    na=hst.integers(min_value=1, max_value=6),
    nb=hst.integers(min_value=1, max_value=8),
    k=hst.integers(min_value=1, max_value=4),
    seed=hst.integers(min_value=0, max_value=10_000),
    quant=hst.booleans(),
)
def test_emit_row_topk_is_exact_per_row(na, nb, k, seed, quant):
    """The per-block candidate cut must emit, for every row, EXACTLY that
    row's top-k by (desc cosine, dst asc) — mass ties (``quant`` rounds to
    a coarse grid) resolve by dst asc via the rank epsilon, never a
    self-pair, never tie inflation (the dup-farm hazard: a >=k-th-value
    cut emits every tied replica). Exactness under the SAME total order
    the global window uses is what makes knn_graph's reduce exact."""
    from demo_bigdata_spark.operators.similarity import _emit_row_topk

    rng = np.random.RandomState(seed)
    ids_a = np.arange(na, dtype=np.int64)
    ids_b = np.arange(nb, dtype=np.int64)  # overlapping ids -> self pairs exist
    cos = rng.uniform(-1, 1, size=(na, nb))
    if quant:
        cos = np.round(cos, 1)
    s, d, c = _emit_row_topk(ids_a, ids_b, cos, k, exclude_self=True)
    emitted = {}
    for x, y in zip(s, d):
        emitted.setdefault(int(x), set()).add(int(y))
    assert all(x != y for x, ys in emitted.items() for y in ys)  # no self pairs
    for i in range(na):
        cand = sorted(
            (j for j in range(nb) if ids_b[j] != ids_a[i]),
            key=lambda j: (-cos[i, j], ids_b[j]),
        )[:k]
        assert emitted.get(int(ids_a[i]), set()) == {int(ids_b[j]) for j in cand}, i
    # emitted values must be the true scores
    for x, y, cc in zip(s, d, c):
        assert cos[np.where(ids_a == x)[0][0], np.where(ids_b == y)[0][0]] == cc


# --- Histogram sketch edge/overflow properties (r12 VERDICT #7 + ADVICE) -----

hist_values = st.lists(
    st.one_of(
        st.floats(min_value=0.0, max_value=99.999, allow_nan=False),
        # far out-of-range on both sides, including magnitudes whose raw bin
        # index exceeds 2^31 (the ADVICE int-cast-wrap regression: clamping
        # must happen on the LONG before any int cast)
        st.floats(min_value=-1e13, max_value=-1.0, allow_nan=False),
        st.floats(min_value=100.0, max_value=1e13, allow_nan=False),
    ),
    min_size=1,
    max_size=60,
)


def _ref_bins(vals, lo, hi, nb):
    import math as m

    out = {}
    for v in vals:
        b = min(nb - 1, max(0, m.floor((v - lo) / (hi - lo) * nb)))
        out[b] = out.get(b, 0) + 1
    return out


@settings(max_examples=15, deadline=None)
@given(vals=hist_values)
def test_histogram_sketch_matches_reference_binning(spark, vals):
    """Engine bin counts == the Python reference clamp-then-floor for any
    mix of in-range and absurdly out-of-range values; every emitted bin id
    is inside [0, n_bins) (a wrapped cast would land outside or in a wrong
    interior bin and break the multiset equality)."""
    from demo_bigdata_spark.operators.sketches import histogram_sketch

    lo, hi, nb = 0.0, 100.0, 32
    df = spark.createDataFrame([(float(v),) for v in vals], "x double")
    got = {r["bin"]: r["n"] for r in histogram_sketch(df, "x", lo, hi, nb).collect()}
    assert got == _ref_bins(vals, lo, hi, nb)
    assert all(0 <= b < nb for b in got)


def test_histogram_bin_edge_convention(spark):
    """A value exactly on a bin edge k*width belongs to bin k (lower-edge
    inclusive), hi itself is exclusive and clamps into the top bin, and the
    float product convention matches the DuckDB twin's floor(x/hi*nb)."""
    from demo_bigdata_spark.operators.sketches import histogram_sketch

    lo, hi, nb = 0.0, 100.0, 10  # width 10
    edges = [0.0, 10.0, 50.0, 90.0, 100.0]
    df = spark.createDataFrame([(v,) for v in edges], "x double")
    got = {r["bin"]: r["n"] for r in histogram_sketch(df, "x", lo, hi, nb).collect()}
    assert got == {0: 1, 1: 1, 5: 1, 9: 2}  # 100.0 clamps into bin 9


def test_histogram_quantiles_q0_q1_and_total(spark):
    """q=1.0 must return the last POPULATED bin's lower edge
    (ceil(1.0*total) == total — no off-by-one past the walk), q=0.0 the
    first populated bin's edge, and total the exact row count."""
    from demo_bigdata_spark.operators.sketches import (
        histogram_quantiles,
        histogram_sketch,
    )

    lo, hi, nb = 0.0, 100.0, 10
    # only bins 2 (20..30) and 7 (70..80) populated
    vals = [25.0] * 7 + [75.0] * 3
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    hist = histogram_sketch(df, "x", lo, hi, nb)
    est = {
        r["q"]: (r["est"], r["total"])
        for r in histogram_quantiles(hist, [0.0, 0.5, 1.0], lo, hi, nb).collect()
    }
    assert est[0.0] == (20.0, 10)
    assert est[0.5] == (20.0, 10)  # ceil(5) = 5 <= 7 cum at bin 2
    assert est[1.0] == (70.0, 10)  # last populated bin, not bin 9


# --- Edge-CC pointer jumping vs union-find reference (r13) -------------------

edge_graphs = st.lists(
    st.tuples(st.integers(min_value=0, max_value=40), st.integers(min_value=0, max_value=40)),
    min_size=0,
    max_size=60,
)


@settings(max_examples=12, deadline=None)
@given(edges=edge_graphs, extra=st.integers(min_value=41, max_value=60))
def test_propagate_min_labels_edges_matches_union_find(spark, edges, extra):
    """_propagate_min_labels_edges (edge-list rounds + pointer jumping)
    must produce EXACTLY component-min labels for arbitrary random graphs
    — self-loops, duplicate edges, isolated universe nodes, chains and
    cliques alike — equal to an independent pure-Python union-find. So
    must graph.connected_components when its ``nodes`` frame omits some
    edge endpoints: its universe is nodes ∪ endpoints."""
    from demo_bigdata_spark.operators.dedup import _propagate_min_labels_edges
    from demo_bigdata_spark.operators.graph import connected_components

    universe = sorted({a for a, b in edges} | {b for a, b in edges} | set(range(41, extra + 1)))
    parent = {u: u for u in universe}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    comp_min = {}
    for u in universe:
        r = find(u)
        comp_min.setdefault(r, []).append(u)
    want = {}
    for members in comp_min.values():
        m = min(members)
        for u in members:
            want[u] = m

    pairs = spark.createDataFrame(
        [(a, b) for a, b in edges] or [(0, 0)], "id_a long, id_b long"
    )
    if not edges:
        pairs = pairs.limit(0)
    uni = spark.createDataFrame([(u,) for u in universe] or [(0,)], "doc_id long")
    if not universe:
        uni = uni.limit(0)
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in _propagate_min_labels_edges(pairs, uni, "doc_id", 64).collect()
    }
    assert got == want

    nodes = uni.filter("doc_id % 3 != 0 OR doc_id > 40")
    got_cc = {
        r["doc_id"]: r["component"]
        for r in connected_components(
            pairs, "id_a", "id_b", "doc_id", nodes=nodes
        ).collect()
    }
    assert got_cc == want

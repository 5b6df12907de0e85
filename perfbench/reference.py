"""Independent references the benchmark checks the program's outputs against.

The dashboard reference is plain Python over the generator's valid events.
The corpus references replay the same stage order in DuckDB, built from the
SQL twins the oracle suite already pins against the Spark operators
(``demo_bigdata_spark.suites.suite_llm``); only the stage settings differ.
"""

from __future__ import annotations

from collections import Counter
from decimal import ROUND_HALF_UP, Decimal

import duckdb
import pyarrow as pa


def _pct(count: int, total: int) -> float:
    # Spark: round(count * 100.0 / total, 2), HALF_UP on the exact double
    return float(Decimal(count * 100.0 / total).quantize(Decimal("0.01"), ROUND_HALF_UP))


def _distribution(counts: Counter, key: str) -> list[dict]:
    total = sum(counts.values())
    return [
        {key: k, "event_count": c, "percentage": _pct(c, total)}
        for k, c in sorted(counts.items(), key=lambda kc: (-kc[1], kc[0]))
    ]


def dashboard(events, page_size: int) -> dict:
    """The six dashboard panels plus the first events page, over ``events``
    (gen.Event), in the serving layer's row shapes."""
    from demo_bigdata_spark.functions.scalar import SYNTH_EVENT_CATEGORIES
    from demo_bigdata_spark.schemas import DEFAULT_EVENT_CATEGORY

    types = Counter(e.event_type for e in events)
    cats = Counter(SYNTH_EVENT_CATEGORIES.get(e.event_type, DEFAULT_EVENT_CATEGORY) for e in events)
    hours = Counter(e.created_at[:13] + ":00:00" for e in events)
    by_actor: dict[int, list] = {}
    for e in events:
        by_actor.setdefault(e.actor_id, []).append(e.event_type)
    top = sorted(by_actor.items(), key=lambda a: (-len(a[1]), a[0]))[:10]
    newest = sorted(events, key=lambda e: e.event_id)
    newest.sort(key=lambda e: e.created_at, reverse=True)  # stable: id breaks ties
    return {
        "totals": [{
            "total_events": len(events),
            "unique_actor_id": len(by_actor),
            "unique_event_type": len(types),
        }],
        "type_distribution": _distribution(types, "event_type"),
        "category_distribution": _distribution(cats, "event_category"),
        "hourly_series": [{"hour": h, "event_count": c} for h, c in sorted(hours.items())],
        "top_entities": [
            {"actor_id": a, "event_count": len(ts), "unique_event_type": len(set(ts)),
             "event_types": sorted(set(ts))}
            for a, ts in top
        ],
        "recent": [e.event_id for e in newest[:200]],
        "page": [e.event_id for e in newest[:page_size]],
        "page_total": len(events),
    }


def same_dashboard(out: dict, expected: dict) -> bool:
    """Compare served panels (JSON rows) with :func:`dashboard`."""
    got = dict(out)
    got["recent"] = [r["event_id"] for r in out["recent"]]
    got["page"] = [r["event_id"] for r in out["page"]]
    return got == expected


def _documents(docs: list[dict], cols: tuple[str, ...]) -> pa.Table:
    return pa.table({c: [d[c] for d in docs] for c in cols})


def curation_report(
    docs, blocked, cap, min_tokens, min_pass_frac, min_docs, weights, target
) -> list[tuple]:
    """DuckDB replay of the curation order: URL dedup -> blocklist ->
    domain cap -> domain quality -> exact dedup -> near-dup CC -> Gopher ->
    mixture -> per-language report (the corpus_pipeline_v6 twin with this
    benchmark's stage settings)."""
    from demo_bigdata_spark.suites.suite_llm import (
        _SQL_CANONICAL_URL,
        _SQL_URL_DOMAIN,
        SQL_TOKS_RAW,
        _sql_corpus_pipeline_tail,
    )

    blocked_sql = ", ".join(f"'{d}'" for d in blocked)
    sql = rf"""
WITH
s1 AS MATERIALIZED (
  SELECT doc_id, text, lang, source, ({_SQL_URL_DOMAIN}) AS domain FROM (
    SELECT doc_id, text, lang, source, url,
           row_number() OVER (PARTITION BY ({_SQL_CANONICAL_URL}) ORDER BY doc_id) AS rn
    FROM documents
  ) r WHERE rn = 1
),
d1 AS (SELECT * FROM s1 WHERE domain NOT IN ({blocked_sql})),
d2 AS MATERIALIZED (
  SELECT doc_id, text, lang, source, domain FROM (
    SELECT *, row_number() OVER (PARTITION BY domain ORDER BY doc_id) AS rn2 FROM d1
  ) c WHERE rn2 <= {cap}
),
dflag AS (
  SELECT doc_id, domain,
         (n_tokens >= {min_tokens}
          AND round(n_chars_calc / greatest(n_tokens, 1), 2) <= 12.0
          AND round(n_distinct / greatest(n_tokens, 1)::DOUBLE, 4) >= 0.1) AS keep
  FROM (
    SELECT doc_id, domain,
           length(text) AS n_chars_calc,
           CASE WHEN trim(text) = '' THEN 0 ELSE len({SQL_TOKS_RAW}) END AS n_tokens,
           len(list_distinct({SQL_TOKS_RAW})) AS n_distinct
    FROM d2
  ) b
),
dstats AS (
  SELECT domain, round(avg(keep::INT::DOUBLE), 4) AS pass_frac, count(*) AS nd
  FROM dflag GROUP BY domain
),
d3 AS MATERIALIZED (
  SELECT d2.doc_id, d2.text, d2.lang, d2.source
  FROM d2 JOIN dstats USING (domain)
  WHERE pass_frac >= {min_pass_frac} AND nd >= {min_docs}
),
{_sql_corpus_pipeline_tail("d3", weights, target).lstrip()}"""
    con = duckdb.connect()
    try:
        con.register("documents", _documents(docs, ("doc_id", "url", "text", "lang", "source")))
        return [tuple(r) for r in con.execute(sql).fetchall()]
    finally:
        con.close()


def dedup_survivors(docs) -> dict[int, bool]:
    """DuckDB replay of the uncapped batch near-dup survivors over every
    folded document: doc_id -> keep."""
    from demo_bigdata_spark.suites.suite_llm import SQL_DEDUP_SURVIVORS

    con = duckdb.connect()
    try:
        con.register("documents", _documents(docs, ("doc_id", "text")))
        return {d: k for d, _, k in con.execute(SQL_DEDUP_SURVIVORS).fetchall()}
    finally:
        con.close()

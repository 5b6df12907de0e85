"""Generate docs/PLANS.md: formatted physical plans for representative
queries with scale commentary. Re-run after plan-affecting changes:

    python scripts/gen_plans.py
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from demo_bigdata_spark.session import get_spark
from demo_bigdata_spark.suites import all_queries

SF = "/root/testdata/sf0.01"

SHOWCASE = {
    "filtered_count": (
        "Predicate pushdown: both the time-range and equality predicates reach "
        "the parquet scan (PushedFilters), and ReadSchema carries only the "
        "touched columns. At 100 TB this is the difference between scanning a "
        "partition slice and scanning the table."
    ),
    "type_distribution": (
        "Partial (map-side) HashAggregate below the Exchange, final above — "
        "the shuffle carries one row per (partition x group), not raw data. "
        "The percentage window runs over the aggregated distribution (5 rows), "
        "so the SinglePartition exchange is on post-aggregate data only."
    ),
    "revenue_by_nation": (
        "Join strategy mix: fact-fact joins (lineitem-orders-customer) are "
        "shuffle joins on their keys; nation/region are BroadcastHashJoin "
        "(bounded dims, no fact shuffle). AQE re-plans at runtime."
    ),
    "top_customers": (
        "Top-k compiles to TakeOrderedAndProject: each partition keeps k rows, "
        "the driver merges — no global sort of the joined fact."
    ),
    "asof_purchase_click": (
        "The custom as-of join: one Exchange on the join key, a window with "
        "carry-forward, zero range cross-join. Compare with a naive "
        "BroadcastNestedLoopJoin range join, which this plan must never contain."
    ),
    "near_duplicates": (
        "MinHash-LSH: signature scan (no shuffle) -> band explode -> bucket "
        "equi-join -> size-pruned hashed-token Jaccard. All joins are hash "
        "equi-joins; candidate volume is bounded by the bucket cap."
    ),
    "tumbling_window": (
        "Event-time windows are just an expression over ts — the aggregate "
        "shape is identical to the hourly series; in streaming mode the same "
        "plan gains a StateStore save/restore pair."
    ),
    "decontamination": (
        "Shared-shingle-frame form (r6): both contamination queries read one "
        "session-materialized distinct (doc, source, shingle_hash) table; the "
        "query itself is the single hash-keyed join + count-distinct "
        "aggregate — the corpus tokenize/shingle/md5 pass is not in this plan "
        "at all."
    ),
    "corpus_pipeline_v2": (
        "The composed contamination-aware pipeline past its pinned budget "
        "table: token-budget mixture (broadcast per-group sums + content-"
        "addressed filter) and the final per-language aggregate. Upstream "
        "stages (gate, line dedup, decontamination) materialize once behind "
        "the checkpoint barrier — an unpinned composition measured 94 "
        "exchanges / 42 scans from subtree replay."
    ),
    "waiting_suppliers": (
        "TPC-H q21-style exists/not-exists as aggregate decorrelation: one "
        "per-order profile aggregate, a semi join back onto the line table, "
        "one per-supplier count, TakeOrderedAndProject cut. No correlated "
        "subquery machinery, no cartesian."
    ),
    "semantic_dedup": (
        "r10 blocked-GEMM SemDeDup: the cluster key is materialized by an "
        "eager localCheckpoint (Scan ExistingRDD), GEMM blocks meet in a "
        "cluster-keyed equi-join (BroadcastHashJoin here; SMJ at scale), one "
        "MapInArrow scores each block pair with BLAS, and the survivors "
        "come from a left-anti join on the dropped ids — no cartesian "
        "product, no interpreted per-pair expression anywhere."
    ),
    "multi_query_topk": (
        "Batched exact ANN: ONE parquet scan feeds a MapInPandas that "
        "GEMM-scores all Q queries per Arrow batch and emits only "
        "partitions x k x Q candidate rows; Spark compiles the per-query "
        "row_number filter to WindowGroupLimit (top-k pushdown), so the "
        "final exchange moves candidates, never the corpus."
    ),
    "knn_graph": (
        "Exact kNN graph: nested block rows meet in a blk_a <= blk_b "
        "equi-range join, ONE MapInArrow GEMM-scores each block pair and "
        "emits exactly k candidates per row under the global total order, "
        "and the final per-src window runs over O(n*k*n_blocks) candidate "
        "rows — the O(n^2) score matrix never materializes, never shuffles."
    ),
    "stratified_sample": (
        "Per-stratum sampling as a pure filter: the CASE-folded hash-bucket "
        "cutoff is Filter(2) directly on the scan — no join, no window, no "
        "Exchange in the SAMPLING stage itself (the exchanges above it "
        "belong to the suite query's per-language verification aggregate). "
        "At 100 TB the sample is a map-only pass whose cost is the scan."
    ),
    "rp_topk": (
        "Projected-space ANN: the candidate stage is one MapInPandas over "
        "the integer projections feeding TakeOrderedAndProject (refine "
        "rows cross the driver boundary, never the corpus); the exact "
        "re-rank is a BroadcastHashJoin of the refine set back onto the "
        "vector table — the full-width vectors are only read for ~50 rows."
    ),
    "zorder_keys": (
        "The Z-order key is a statically-unrolled shift/mask/or tree over "
        "both columns — pure whole-stage-codegen projection feeding one "
        "aggregate; the clustering write itself is a single range exchange "
        "on the key."
    ),
    "url_dedup": (
        "URL-level dedup (r11): canonicalization is regexp/array built-ins "
        "inside the scan's WholeStageCodegen span (no UDF, no extra pass); "
        "the keep-first cut is ONE hash exchange on the canonical key "
        "feeding a WindowGroupLimit — at 100 TB the cheapest dedup in the "
        "pipeline, which is why web corpora run it before content dedup."
    ),
    "url_domains_psl": (
        "Real-PSL domain extraction (r13, optimized): the list-sized "
        "suffix table is collected ONCE at plan time and every per-"
        "(kind, label-count) probe is an InSet literal predicate, so the "
        "whole extraction — host/label arithmetic included — is ONE "
        "map-only projection in the scan's codegen span: zero joins, "
        "zero exchanges, versus the 3–9 broadcast joins (each with its "
        "own suffix-side distinct aggregate) of the first formulation. "
        "The only exchanges left in this plan belong to the suite "
        "query's per-domain verification aggregate."
    ),
    "source_kl": (
        "Per-source KL drift diagnostic (r13): ONE corpus-sized exchange "
        "(the map-side-combinable (group, token) count, pinned once for "
        "its two consumers); the top-V vocab is TakeOrderedAndProject "
        "over the already-aggregated token table (distributed top-k — "
        "never a single-task global window) and rejoins as a broadcast; "
        "every aggregate after the pin runs over <= groups x (V+1) rows."
    ),
}


def main() -> None:
    spark = get_spark("plans", shuffle_partitions=8)
    queries = all_queries()
    out = [
        "# PLANS — physical plans of representative queries\n",
        "Generated by `scripts/gen_plans.py` at sf0.01 (plans are scale-"
        "invariant in shape; AQE adjusts partition counts at runtime). "
        "Regression-tested properties live in tests/test_plans.py.\n",
    ]
    for name, note in SHOWCASE.items():
        df = queries[name](spark, SF)
        plan = df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
        # keep the operator tree + the scan details; drop long footers
        plan = re.sub(r"\n\n\(\d+\) .*", "", plan, flags=re.S).rstrip()
        details = re.findall(
            r"\(\d+\) Scan parquet.*?(?:PushedFilters: \[[^\]]*\])",
            df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted"),
            flags=re.S,
        )
        out.append(f"## {name}\n\n{note}\n\n```\n{plan}\n```\n")
        if details:
            out.append("Scan details:\n\n```\n" + "\n\n".join(d.strip() for d in details) + "\n```\n")
    os.makedirs("docs", exist_ok=True)
    with open("docs/PLANS.md", "w") as f:
        f.write("\n".join(out))
    print(f"wrote docs/PLANS.md ({len(SHOWCASE)} plans)")


if __name__ == "__main__":
    main()

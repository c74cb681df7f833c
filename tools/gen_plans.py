"""Regenerate PLANS.md: formatted physical plans of the headline
queries at sf0.1, read through the PRODUCTION path (direct parquet
scans, no harness table cache) so pushdown/pruning are visible.

Run: python tools/gen_plans.py
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import dataworks_spark.queries as Q  # noqa: E402
from dataworks_spark.session import get_spark, load_table  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

#: (query, one-line property summary the plan should exhibit)
HEADLINE = [
    ("q_join_star", "Flagship star join: every dimension broadcast, the fact shuffles only for the final aggregate; date filter + column pruning pushed to scans."),
    ("q_scan_filter_topk", "Scan -> range filter -> project -> top-k: pushed range predicates + TakeOrderedAndProject (k rows per partition move)."),
    ("q_agg_grouped", "TPC-H Q1 shape: map-side partial HashAggregate before the exchange; decimal-exact money sums; pruned 7-column read of a 16-column table."),
    ("q_join_enrich", "Skew-staged enrichment: salted ShuffledHashJoin (shuffle_hash hint defeats broadcast so the salt is load-bearing, without sort-merge's two sorts), then partial-agg."),
    ("q_tpch_q5", "TPC-H Q5: broadcast hints only on the FIXED dims (nation/region); customer/supplier strategy left to AQE - broadcast at toy SF, shuffle join at scale; the date range filter is pushed into the orders scan."),
    ("q_window_functions", "Window family: single exchange on user_id reused by the rank/lag/frame specs (unique-ordered row_number/ntile/lag + value-ordered dense_rank + RANGE frame)."),
    ("q_cosine_knn", "Exact similarity: brute-force cosine: broadcast 1-row query vector, JVM-side higher-order dot product, TakeOrderedAndProject."),
    ("q_dedup_sketch", "MinHash LSH: shingle hashes materialized once (checkpoint barrier - also keeps the pandas-UDF argument a plain attribute), Arrow-batched numpy signature kernel (r11), banded explode, then (r15 s3) ONE bucket groupBy with row-local C(k,2) pair emission over the sorted doc list - no bucket self-join, signatures attached to the deduped candidates by two narrow joins; candidate space is collisions, never O(n^2). The minhash_capped branch (r13) runs the 100 TB hot-bucket guard plan: left-semi prune against the minhash_band_survivors asset BEFORE the bucket groupBy (r15 s2: the bucket-size fold lives in the fingerprint-keyed memo, like the winnow postings - the query plan holds no one-shot state)."),
    ("q_dedup_ngram", "Exact n-gram Jaccard (r15 s3 pigeonhole shape; s6 Arrow-native): shingles hash-partitioned into disjoint parts (Exchange on an int32 part key), per-part Arrow kernel (FlatMapGroupsInArrow - the batch reaches numpy without the pandas block-manager copy) emits only candidates passing the pigeonhole local-count bound; candidates are one-shot checkpointed (they feed both the touched-id broadcast and the verify stream), so THIS plan truncates at Scan ExistingRDD - the kernel stage's own plan is committed at plans/r15/q_dedup_ngram_kernel_stage_after.txt. Verify attaches the shingle-hash arrays by two broadcast joins and re-computes jaccard exactly via array_intersect - the quadratic pair space never exists as Spark rows (126M pair rows -> ~300k candidate rows at the sf1.0 proxy; values bit-identical to the co-occurrence twin)."),
    ("q_events_windows", "Event-time tumbling/sliding/session windows over the nanos-normalized events table: window projection then partial-agg -> exchange -> final agg."),
    ("q_embed_ann", "ANN paths (LSH/IVF top-k, LSH-probed batch kNN): broadcast query vectors; partial WindowGroupLimit prunes to k rows per (query, scan-partition) BEFORE each exchange; only the (qid, cid, cos) triple shuffles - vectors die at the scan."),
    ("q_text_retrieval", "BM25 + TF-IDF retrieval: one-row stats aggregate broadcast into the scoring scan (BroadcastNestedLoopJoin over 1 row), per-term tf built in the scan projection, TakeOrderedAndProject top-k - zero exchanges."),
    ("q_dedup_spans", "Span-level substring dedup: chunk projection (no shuffle), ONE window election keyed by xxhash64(span) with the span as tiebreaker, groupBy(doc) rebuild - two linear exchanges total."),
    ("q_lm_quality", "Unigram-LM scoring: single tf lineage - the window's term-partitioned exchange AND the one-row (N,V) stats branch both read the SAME reused tf shuffle (ReusedExchange in the final adaptive plan); corpus scanned+exploded once."),
    ("q_semantic_dedup", "SemDeDup pairs: Arrow-batched BLAS centroid argmax (r11: the measured kernel crossover sits at c~8, so the real c=n/128 runs on the matmul kernel), then ONE cluster-keyed exchange into the r14 gram pair scorer (applyInPandas: chunked X @ X.T per cluster group - each vector crosses to Python once per group member, no per-pair interpreted dots, no joined pair rows carrying two vector copies). The pairs_capped branch (r13) runs the max_cluster hard guard: per-cluster size fold broadcast back, hash sub-shard split keys the groups."),
    ("q_quality_classifier", "Hashed linear classifier: 4096-row weights BroadcastHashJoin (no exchange to attach the model), explode stays narrow, per-doc partial HashAggregate collapses token rows before the one |docs|-row exchange."),

    ("q_interval_join", "Bucketized interval join: intervals exploded onto overlapped time buckets, HASH equi-join on the bucket with containment as the join residual - the keyless range join that never plans a nested loop."),

    ("q_contamination_report", "Contamination audit trio (r15 postings split): the report branch broadcasts eval shingles into one corpus scan; both winnow policy branches band the fingerprint-keyed POSTINGS asset - the df-cap is a filter on the stored df column PUSHED INTO the InMemoryTableScan and the only per-policy shuffle is pair-keyed (the groupBy-fp exchange lives in the asset, paid once at ingest)."),
]


def main() -> None:
    # production read path: bypass the bench harness's cached `_t`
    Q._t = lambda spark, sf_dir, name: load_table(spark, sf_dir, name)
    spark = get_spark("gen_plans")
    out = [
        "# PLANS — physical plans of headline queries (sf0.1, AQE on)",
        "",
        "Generated by `tools/gen_plans.py` via `.explain('formatted')` over the",
        "PRODUCTION read path (direct parquet scans). The bench/correctness",
        "harness additionally memoizes fixture tables in memory (`queries._t`)",
        "— a repeated-query-harness tactic that swaps these parquet scans for",
        "InMemoryTableScans without changing any other plan property. The",
        "properties called out in ARCHITECTURE.md are visible in each plan",
        "(broadcasts, pushdown, pruning, partial aggregation,",
        "TakeOrderedAndProject).",
        "",
    ]
    for name, blurb in HEADLINE:
        df = Q.QUERIES[name](spark, SF_DIR)
        plan = spark._jvm.org.apache.spark.sql.api.python.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        out += [f"## {name}", "", blurb, "", "```", plan.rstrip(), "```", ""]
    with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print(f"wrote PLANS.md with {len(HEADLINE)} plans")


if __name__ == "__main__":
    main()

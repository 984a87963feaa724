"""Regenerate PLANS.md: `explain('formatted')` for representative
queries, with the scale property each plan is supposed to exhibit.

Usage: python tools/dump_plans.py
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from multi_threaded_mapreduce_framework_spark.plans.inspect import formatted_plan
from multi_threaded_mapreduce_framework_spark.queries import all_queries
from multi_threaded_mapreduce_framework_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.001"

# query -> the property a reader should check in the plan
SHOWCASE = {
    "q05_filter_project": "PushedFilters carries l_quantity; ReadSchema is exactly the 4 projected columns.",
    "q03_grouped_sum": "partial_* functions before the Exchange (map-side combine); a single hash-partitioned Exchange.",
    "q07_join_chain": "two BroadcastHashJoins (nation/region never shuffle customer); the only Exchange is the final groupBy.",
    "q35_minhash_lsh": "the self-join is a hash equi-join on narrow (band, key, doc_id) rows — no CartesianProduct anywhere; the shingle arrays re-enter only via the two verify join-backs against the checkpointed sketch table (candidates broadcast).",
    "q38_ann_lsh_bucketed": "probe row broadcast; corpus side is a map-side filter on the bucket expression, then TakeOrdered.",
    "q52_tpch_q3": "selective filters sit at the scans (pushed), joins above them, TakeOrderedAndProject at the top.",
    "q72_tpch_q6": "all four predicates reach PushedFilters; ReadSchema is 4 columns; no join, one 1-row aggregate exchange.",
    "q82_gap_fill": "the hourly grid comes from sequence()+explode over two aggregate scalars — no calendar cross join node exists.",
    "q37_embedding_neardup": "fully distributed all-pairs: map-side block-pair explode, ONE Exchange into FlatMapGroupsInPandas — no join, no broadcast, no driver collect.",
    "q68_longest_streak": "gaps-and-islands as pure JVM: two row_number windows sharing one user_id Exchange, then two hash aggregates — no PythonUDF node.",
    "q86_tpch_q8": "seven joins, every dim a BroadcastHashJoin (nation appears in two roles); the lone Exchange is the (o_year) rollup.",
    "q96_repetition_stats": "zero Exchanges: per-doc repetition math is higher-order array algebra inside the scan's project (no explode, no Python).",
    "q98_contamination": "benchmark shingle set enters as a BroadcastHashJoin build side; the corpus side has no pre-join Exchange, and the per-doc re-aggregate is the only shuffle.",
    "q105_funnel_conversion": "join-free funnel: one user_id Exchange feeds a range-framed window over the merged click/purchase stream; the oracle's correlated EXISTS never appears as a join node.",
    "q109_rolling_wau": "moving-frame COUNT DISTINCT rewritten as dedup -> x7 contribution explode -> distinct count; the explode multiplies the collapsed presence set, not the raw event stream.",
    "q53_tpch_q5": "two LeftSemi BroadcastHashJoins restrict customer AND supplier to ASIA nation keys BELOW the fact joins — every fact Exchange carries ASIA-only rows.",
    "q111_global_quantile_buckets": "no global sort anywhere: one partial-agg histogram Exchange, a single-partition window over the domain-bounded histogram, 1-row cut broadcast, map-side bucket assignment.",
    "q112_bucketed_join": "scans of the two bucketed tables feed SortMergeJoin with NO Exchange and NO Sort between scan and join; the only Exchange is the final groupBy.",
    "q115_partition_pruned_scan": "the ship_year filter appears under PartitionFilters on the scan (one partition directory read), not as a post-scan Filter.",
    "q128_train_holdout_leakage": "the train-vs-holdout hit test is an equi-join on the shingle key against the materialized deduplicated index (hit-marker LEFT form, r11), folded by ONE per-doc aggregation — nothing assumes the train side broadcasts.",
    "q129_skipgram_pairs": "pair generation is one Generate over an in-row array expression; the ONLY Exchange is the partial-agg (center, context) count.",
    "q130_sequence_packing": "the packing window and the per-sequence rollup share one (lang, shard) Exchange; no global sort node exists.",
    "q131_kmeans_update": "assignment is a BroadcastNestedLoopJoin against the 8-row centroid side (corpus never shuffles); the only Exchange is the (centroid, pos) partial-agg mean.",
    "q133_embedding_outliers": "cluster stats reduce to K rows and return as a BroadcastHashJoin build side; the z filter is map-side above the broadcast join.",
    "q135_heavy_hitter_shingles": "the Misra-Gries sketch is a MapInPandas INSIDE the scan stage (no Exchange below it); only candidate-matched shingles reach the counting Exchange via a broadcast LeftSemi.",
    "q136_bloom_prefilter_join": "the k-hash bit test (xxhash64 + element_at) is a map-side Filter under the lineitem scan, fed by a 1-row broadcast — rows that cannot join never reach the join Exchange.",
    "q142_copurchase_pairs": "one lineitem scan, ZERO join nodes: baskets collapse in an ObjectHashAggregate, pairs expand in a Generate over the in-row array, then one partial-agg pair-count Exchange.",
    "q144_incremental_agg_merge": "the merge side scans the tiny parquet STATE table + the delta only; both feed partial aggregates into one (event_type, day) Exchange — history is absent from the plan.",
    "q146_snapshot_diff_merkle": "two digest aggregates (4096-row domain), a broadcast LeftSemi bucket drill-down on each side, and the final full-outer key join runs over dirty-bucket rows only.",
    "q150_triangle_count": "edges come from ONE lineitem scan (in-row basket expansion, no distinct self-join); the wedge join keys on the oriented source vertex and the closing-edge check is a LeftSemi — no three-way raw-edge join anywhere.",
    "q153_bitmap_distinct": "NO Expand node (the countDistinct shape never appears): three partial-agg Exchanges fold events into daily bitmap words, OR-merge them across days, and sum bit_counts — every state on the wire is 8 bytes per 64 users.",
    "q154_global_ordinal": "exactly ONE SinglePartition Exchange and it carries the (n_chars) histogram, not the corpus; offsets return via BroadcastHashJoin and the corpus-side row_number window is hash-partitioned by n_chars.",
    "q156_topk_pushdown": "MapInPandas sits BELOW the single Exchange: the partial top-k folds each scan partition to groups x k candidate rows, and only those shuffle into the exact ranking window.",
    "q158_watermark_replay": "the prefix max is two windows — one hash-partitioned by arrival-hour bucket, one SinglePartition over the bucket table (rows = hours, not events) — recombined with greatest() above a BroadcastHashJoin.",
    "q160_lang_overlap": "the vocabulary shuffles exactly twice (distinct, then per-token mask bit_or); everything pairwise runs over the mask census and lang-bit table, both BroadcastNestedLoopJoin sides bounded by 2^|langs|.",
    "q172_multimodal_image": "THREE chained MapInPandas (synth -> resize -> decode) with no Exchange between them — payload bytes live and die inside the scan stage; only feature scalars reach the rollup Exchange.",
    "q174_greedy_coverage": "three greedy rounds as ONE lazy plan: per-round partial-agg gain counts, a 1-row TakeOrderedAndProject argmax, and broadcast anti joins shrinking the uncovered universe — no driver read anywhere.",
    "q176_interval_sweep_concurrency": "the sweep's running sum is two windows — hash-partitioned by hour bucket + SinglePartition over the bucket-total table (rows = hours) — and the peak/argmax is a partial-agg pass over the recombined stream.",
    "q177_portable_hll": "the register layer is one partial-agg Exchange carrying (event_type, bucket<=64) min-rows; the estimate math is pure decimal projection above a 64-row-per-key aggregate.",
    "q178_cogroup_conversion_lag": "both event slices shuffle once into a single FlatMapCoGroupsInPandas keyed on the 32-way user bucket; no join node — the as-of matching happens inside the Arrow-batched kernel.",
    "q180_arrow_doc_stats": "a PythonMapInArrow node directly over the scan (no pandas conversion, no Exchange below it); the lang rollup is the only shuffle.",
    "q117_incremental_dedup": "the r6 ingest shape: the band join is a narrow BroadcastHashJoin on (band, key) whose inputs carry only doc_id besides the keys (no shingle array crosses it); the corpus side reads from its session-persisted band-index layout, and verification joins back to the doc_id-keyed shingle tables ABOVE the deduplicating aggregate's candidates.",
    "q187_value_histogram_percentile": "two partial-agg Exchanges ((flag) min/max/count, then (flag, bucket) bin counts), per-group stats re-entering via BroadcastHashJoin, and the cumulative window runs over the <=256-bins-per-group histogram — integer arithmetic end to end, no sort of raw rows.",
    "q186_bitmap_matview_readback": "the readback is ONE partial-agg merge over the stream-written word snapshot (scan -> OR-merge Exchange -> bit_count sum); no raw event ever appears in the plan — the stream already collapsed them to 8-byte words.",
    "q193_semantic_dedup": "assignment is a BroadcastNestedLoopJoin against the 16-row centroid side; ONE Exchange co-locates each IVF cell into FlatMapGroupsInPandas (the per-cell GEMM) — pair similarities never exist as rows in the plan.",
    "q195_winnowing_fingerprints": "the whole MOSS selection (gram hashes, window minima, distinct positions) is ONE Arrow-batched numpy kernel INSIDE the scan stage (r12; bit-equal integer law) — no Exchange below the censuses, and the fingerprint explode folds through a (lang, fp) partial aggregation instead of a countDistinct Expand.",
    "q198_unpivot_doc_metrics": "unpivot plans as ONE Expand node ABOVE the per-lang aggregate (single parquet Scan in the whole plan) — the wide->long reshape multiplies 5 post-agg rows by 4 metrics, never re-scanning the table the way a UNION ALL formulation would.",
    "q200_recursive_cte_depths": "WITH RECURSIVE plans as Catalyst's UnionLoop — the engine owns the fixed-point iteration (frontier join per step against the parent relation) and the census above it is one partial agg; no driver-side loop exists anywhere in the query.",
    "q271_video_frame_extract_census": "THREE chained MapInPandas (synth -> frame-slice -> census) with no Exchange between them — the video streams and the sliced frame payloads are born and consumed inside the scan stage; the two exchanges above carry the count_distinct's (dur_class, media_id) partials (bounded by videos, not frames) and the 4-row class census — never payload bytes.",
    "q275_stream_full_join_readback": "the batch plan contains NO join node: the full-outer join ran in the STREAM's two-sided state store, and this readback is the standard two-count_distinct Expand shape over the localCheckpointed sink output — Expand(x3) with partial aggregation below the first (user_id, event, gid) Exchange, then the user_id re-aggregate Exchange; both shuffles carry per-user partials, never raw pairs — the plan-level proof that the census times readback latency while the join cost lives in the streaming pipeline (tests/test_streaming_joins.py::test_full_outer_join_flushes_both_sides drives that end to end).",
}

HEADER = """# PLANS — physical plans of representative queries

Generated by `python tools/dump_plans.py` (sf0.001 inputs; plan shape is
scale-invariant, AQE re-optimizes sizes at runtime). Each section names
the property the plan must exhibit — the same properties
`tests/test_plan_quality.py` asserts mechanically.
"""


def main() -> None:
    spark = get_spark("dump-plans", shuffle_partitions=4)
    qs = all_queries()
    out = [HEADER]
    for name, prop in SHOWCASE.items():
        df = qs[name].builder(spark, SF_DIR)
        out.append(f"\n## {name}\n\n**Check:** {prop}\n\n```\n{formatted_plan(df).strip()}\n```\n")
    with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print("PLANS.md written")


if __name__ == "__main__":
    main()

#!/usr/bin/env python
"""Capture the plans of named registry entries.

    python scripts/capture_plans.py TAG NAME [NAME...] [--sf DIR]
    python scripts/capture_plans.py --doc [--sf DIR]

TAG mode writes each entry's constructed plan, explain('formatted'), to
plans/r12/<name>_<tag>.txt: the optimization-round evidence files
(OPTIMIZATION_r12.md cites them; TAG is 'before' or 'after'). For
streaming entries that plan is the batch read of the sink; the
micro-batch plans live in the executed-plan audit, and the streaming
evidence of record is the stateOperators' numShufflePartitions.

--doc regenerates docs/PLANS.md: the executed physical plan (after
collect(), so AQE's final plan and the codegen markers show) of every
SHOWCASE entry at sf0.01, under the scale property it must show.

Each entry is built inside entry_scope, so no entry's conf, hubs or
cached plans reach the next.
"""

from __future__ import annotations

import argparse
import contextlib
import io
import os
import sys

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

SF_DOC = "/root/testdata/sf0.01"

# (query, the scale property a reviewer should find in the plan)
SHOWCASE = [
    ("rel_tpch_q1_pricing_summary",
     "Filter pushed to the parquet scan (PushedFilters), 7-of-11 column "
     "ReadSchema, partial+final HashAggregate around ONE exchange, both "
     "stages whole-stage-codegen fused (`*(n)`)."),
    ("rel_join_revenue_by_nation",
     "Every dimension join is BroadcastHashJoin — the orders fact side is "
     "never shuffled for nation/region; at production scale customer "
     "leaves the broadcast threshold and AQE picks sort-merge for it "
     "while the dims stay broadcast."),
    ("ref_q3_pct_of_total",
     "Percent-of-total as a window over an empty partitioning: the grand "
     "total is ONE scalar exchange inside the plan — no driver collect() "
     "mid-query (the reference's two-job pattern)."),
    ("ref_regexp_extract_ids",
     "orderBy().limit(k) fuses into TakeOrderedAndProject — per-partition "
     "top-k then a k-row merge, no global sort materialization."),
    ("rel_asof_join",
     "As-of join = union + carry-forward window: one hash exchange on the "
     "key, one sort per partition; cost is O(n log n) per key group "
     "independent of time-gap distribution."),
    ("ext_dedup_exact",
     "Exact dedup groups by md5 digest: map-side partial agg shrinks the "
     "shuffle to one row per distinct content."),
    ("rel_tpch_q5_local_volume",
     "Six-way join: the lineitem⋈orders shuffle happens ONCE on orderkey. "
     "Only fixed-cardinality nation/region carry broadcast HINTS; "
     "customer/supplier are left to AQE, which broadcasts them here "
     "(runtime size under threshold) and switches to a shuffled join at "
     "production scale — a forced hint would instead OOM the driver."),
    ("ref_range_inlist_filter",
     "Range + IN-list + inequality predicates ALL reach the scan as "
     "PushedFilters; ReadSchema pruned to the 3 referenced columns."),
    ("ts_resample_gap_fill",
     "Dense resample: the raw stream crosses ONE map-side-combined "
     "exchange; the (key x bucket) grid joins back as BroadcastHashJoin "
     "— no stream-sized shuffle after the aggregate."),
    ("ext_inverted_index",
     "Postings cap applied by rank BEFORE collect_list: the window and "
     "both aggregates share one (token)-keyed exchange; no aggregation "
     "buffer holds more than postings_cap entries."),
    ("ext_weighted_sample",
     "Weighted sampling is ONE TakeOrderedAndProject over hash-derived "
     "keys: per-partition top-k heaps, k rows to the final merge, no "
     "global sort."),
    ("ext_edit_distance_pairs",
     "Edit-distance dedup: candidates from a hash equi-join on the "
     "prefix fingerprint (no cartesian); the banded thresholded "
     "levenshtein runs above an explicit probe-side repartition — AQE "
     "sizes stages by bytes and would serialize the CPU-bound DP onto "
     "one core otherwise (measured 8.5s -> 0.3s of the stage)."),
    ("ts_ohlc_hourly",
     "OHLC bars: min_by/max_by/min/max/count in ONE partial+final "
     "aggregate pair — no window functions, the stream crosses the wire "
     "once and pre-reduced."),
    ("rel_lateral_topk",
     "Correlated LATERAL ORDER BY/LIMIT decorrelates to a ranked window "
     "over an equi-join (DecorrelateInnerQuery) — no per-outer-row "
     "subquery replay, no cartesian."),
    ("rel_recursive_cte",
     "WITH RECURSIVE month spine: the recursion (UnionLoop) is "
     "calendar-sized — one constant-width row per step; the only "
     "data-sized job is the monthly pre-aggregate it left-joins."),
    ("rel_scd2_merge",
     "SCD2 history merge: ONE full-outer join on the key, then a "
     "when()-array + explode emits each row's 0/1/2 output versions — "
     "change detection is never re-joined per branch."),
    ("ext_dup_spans",
     "Duplicated-span extraction: gram doc-frequency joins back on "
     "hashed keys; both gaps-and-islands windows partition by the "
     "DOCUMENT (width bounded by doc length, never corpus-sized)."),
    ("rel_tpch_q19_disjunctive",
     "OR-of-ANDs: the hoisted implied bounds (brand IN-list, size and "
     "quantity ranges) reach both scans as PushedFilters — Catalyst "
     "does not infer them from the disjunction alone; the exact "
     "predicate filters only the equi-join output."),
    ("rel_copurchase_pairs",
     "Basket self-join: distinct (order, part) collapses map-side "
     "BEFORE the join; the a<b triangle predicate halves the pair "
     "space; pair volume is basket-bounded, no cartesian anywhere."),
    ("rel_pagerank_copurchase",
     "Three unrolled PageRank iterations in ONE plan: each iteration "
     "is an edges⋈ranks hash join + dst aggregate; the edge relation's "
     "exchange is built once and reused (ReusedExchange) across "
     "iterations; N arrives via a 1-row broadcast, never a collect."),
    ("ext_gopher_quality",
     "Gopher rules: word/line arrays materialized ONCE per row, seven "
     "rules evaluated as higher-order functions over them — zero "
     "exchanges, zero Python, composes with any upstream scan."),
    ("ts_rolling_active_users",
     "Sliding COUNT(DISTINCT) as contribution explode: distinct "
     "(user, hour) collapses first, each survivor fans out to 24 "
     "bucket-ends, one count-distinct aggregate — no per-frame state."),
    ("ts_funnel_stages",
     "Round-5 single-pass funnel: ONE events scan, ONE user-key exchange; "
     "the stage fold is array_min/filter JVM expressions inside the "
     "aggregate — no joins, no materialization barriers."),
    ("rel_fifo_cost_basis",
     "FIFO as cumulative-interval arithmetic: two window cumsums (one "
     "exchange per side on the same key) + a per-key range join; no "
     "per-key UDF walk, everything integer-exact."),
    ("ext_bm25_topk",
     "Zero-shuffle retrieval: per-term tf computed as array expressions "
     "inside whole-stage codegen over ONE scan; only doc-cardinality "
     "rows reach the stack/unpivot and the per-term top-k window."),
    ("rel_geo_radius_join",
     "Grid-pruned spatial join: the point side joins a BROADCAST candidate "
     "cell table on its single integer cell key and never shuffles; exact "
     "haversine only on candidates."),
    ("rel_projection_pipeline",
     "P1-P3/P14 projection chain collapses into the scan: ReadSchema "
     "carries exactly the three surviving columns (c_name/c_acctbal never "
     "read), and the keyed top-10 fuses into TakeOrderedAndProject."),
    ("rel_collection_dim_join",
     "Explicit-StructType collection dim (S3/S4) joins as "
     "BroadcastHashJoin from a LocalTableScan — the nation side is never "
     "shuffled for a 5-row driver-built dimension."),
]



def plans(spark, names, sf: str, executed: bool):
    """(name, plan) per entry, each built inside entry_scope: the
    executed plan after collect(), or the constructed explain('formatted')."""
    from usedcars_bigdata_spark.operators.window import entry_scope
    from usedcars_bigdata_spark.plans import QUERIES

    for name in names:
        with entry_scope(spark):
            df = QUERIES[name](spark, sf)
            if executed:
                df.collect()
                plan = df._jdf.queryExecution().executedPlan().toString()
            else:
                buf = io.StringIO()
                with contextlib.redirect_stdout(buf):
                    df.explain("formatted")
                plan = buf.getvalue()
        yield name, plan


def main() -> int:
    ap = argparse.ArgumentParser(
        description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter
    )
    ap.add_argument("tag", nargs="?")
    ap.add_argument("names", nargs="*")
    ap.add_argument("--doc", action="store_true", help="regenerate docs/PLANS.md")
    ap.add_argument("--sf", default=None)
    args = ap.parse_args()
    if args.doc == bool(args.tag) or (args.tag and not args.names):
        ap.error("give either TAG NAME... or --doc")

    from usedcars_bigdata_spark.session import get_session

    spark = get_session(app_name="capture-plans")
    spark.sparkContext.setLogLevel("ERROR")
    if args.doc:
        spark.conf.set("spark.sql.maxMetadataStringLength", "400")
        out = [
            "# PLANS — executed physical plans of headline queries\n",
            "Generated by `scripts/capture_plans.py --doc` at sf0.01 on local "
            "mode; regenerate after plan-affecting changes. The property line "
            "above each plan is asserted in `tests/test_plan_shapes.py` where "
            "mechanically checkable.\n",
        ]
        props = dict(SHOWCASE)
        for name, plan in plans(spark, props, args.sf or SF_DOC, executed=True):
            out.append(f"\n## {name}\n\n**Scale property:** {props[name]}\n")
            out.append("```\n" + plan.strip() + "\n```\n")
        path = os.path.join(HERE, "docs", "PLANS.md")
        with open(path, "w") as fh:
            fh.write("\n".join(out))
        print("wrote", path)
        return 0

    sf = args.sf or "/root/testdata/sf0.1"
    outdir = os.path.join(HERE, "plans", "r12")
    os.makedirs(outdir, exist_ok=True)
    for name, plan in plans(spark, args.names, sf, executed=False):
        path = os.path.join(outdir, f"{name}_{args.tag}.txt")
        with open(path, "w") as fh:
            fh.write(f"# {name} — explain('formatted') at {sf} ({args.tag})\n")
            fh.write(plan)
        print("wrote", path)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

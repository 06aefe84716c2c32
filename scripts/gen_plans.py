"""Physical-plan evidence, in two modes.

Default: regenerate PLANS.md — formatted physical plans + extracted stats
for the QUERIES below, the judge-readable evidence that filters push down,
columns prune, dimensions broadcast, and shuffles stay bounded.

``--tag rNN``: write one .explain("formatted") snapshot per query to
plans/<tag>/<query>_<phase>.txt, where <phase> is "before" or "after"
(default "before") — an optimization round's before/after evidence. The
bench session confs (scaled shuffle partitions, data-scaled AQE) are
mirrored so the snapshot is the plan the bench actually times. Queries
default to the bench HEADLINE list.

Usage:
    python scripts/gen_plans.py [--sf-dir DIR]
    python scripts/gen_plans.py --tag r17 [--queries q1,q2,...] [--sf-dir DIR] [before|after]
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

QUERIES = [
    "tpch_q1_pricing_summary",
    "tpch_q3_shipping_priority",
    "tpch_q4_order_priority",
    "tpch_q5_local_supplier_volume",
    "tpch_q18_large_volume_customer",
    "dedup_minhash_pairs",
    "join_asof_purchase",
    "join_range_binned_followups",
    "join_iejoin_two_inequalities",
    "sim_topk_bruteforce",
    "tpcds_q01_returns_above_avg",
    "tpcds_q36_margin_rollup_rank",
    "tpcds_q47_monthly_deviation",
    # round-6 shapes
    "tpcds_q2_week_pivot_yoy",
    "tpcds_q17_sale_return_stats",
    "tpcds_q72_inventory_week_offset",
    "h2o_join_big_big",
    "window_exclude_bounded",
    # round-7 shapes
    "tpcds_q4_threechannel_growth",
    "tpcds_q14_cross_channel_intersect",
    "tpcds_q18_demo_geo_rollup_avgs",
    "tpcds_q44_best_worst_rank",
    "job_i09_deep_chain_six",
    "h2o_groupby_sixkey",
    # round-8 shapes
    "join_bucketed_big_big",
    "tpcds_q24_netpaid_threshold",
    "job_i25_deep_all_roles",
    "stream_outer_join_flush",
    # round-9 shapes
    "collate_locale_da_rank",
    "text_decontaminate",
    "text_pack_sequences",
    "text_repetition_filters",
    "dml_acid_versioned",
    # late round-9 shapes
    "dedup_cluster_canonical",
    "sample_stratified_topk",
    "text_pii_scrub",
    "text_bm25_topk",
    "sim_quantize_int8",
    "src_delta_scan",
    "text_bigram_logprob",
    # round-10 shapes: checkpointed delta fold, SQL-driven transactional DML
    # chain, SemDeDup cluster-bounded pairs, and the int-cast rounding
    # dispatch (typeof CASE must constant-fold out of the scan)
    "dml_acid_sql",
    "dml_acid_txn",
    "dedup_semantic_pairs",
    "dialect_int_cast_round",
    "dialect_date_diff",
    # round-11 shapes: zero-exchange SemDeDup assignment feeding the pair
    # join, atomic multi-table txn aggregate, v2-checkpoint delta fold, and
    # the date_part divergence map (formulas must fold into the scan)
    "dml_acid_txn_multi",
    "src_delta_scan_v2",
    "dialect_date_part",
    "collate_locale_hr_rank",
    # late round-11: multi-probe SemDeDup (explode, still zero-exchange),
    # the function/aggregate/JSON gap batches (rewrites must stay
    # whole-stage-codegen projections), series TVF → native Range source
    "dedup_semantic_probes",
    "dialect_fn_gaps",
    "dialect_agg_gaps",
    "dialect_json_fns",
    # round-12 shapes (VERDICT r11 what's-wrong #2: the two most expensive
    # bench queries were missing from this list): q67 must pre-aggregate to
    # the finest grain BEFORE the rollup Expand; the recursive-CTE query's
    # FINAL plan must stay O(checkpoint_every) via lineage truncation (its
    # per-step plans are driver-loop internal); plus the DV delta fold and
    # the new JSON tail / collation shapes
    "tpcds_q67_rollup_topk",
    "recursive_cte_graph_reach",
    "src_delta_scan_dv",
    "src_delta_scan_colmap",
    "src_delta_scan_ts",
    "dialect_json_tail",
    "dialect_json_merge",
    "dialect_fn_gaps2",
    "collate_locale_el_rank",
    "collate_locale_vi_rank",
    "collate_locale_ru_rank",
    # round-13 session-2 shapes
    "dialect_fn_gaps4",
    "dialect_strptime_tz",
    "dialect_json_paths",
    "dialect_bitops",
    "dialect_holistic_agg",
    "dialect_time_family",
    "dialect_timezone",
    "dialect_bitstring",
    "dialect_age",
    "src_delta_scan_dv_colmap",
]


ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def write_snapshots(tag: str, phase: str, sf_dir: str, names: list[str]) -> None:
    from duckdb_parachute_spark import get_session
    from duckdb_parachute_spark.plans import plan_stats
    from duckdb_parachute_spark.session import scaled_adaptive, scaled_shuffle_partitions
    from duckdb_parachute_spark.workload import load_all

    spark = get_session(
        app_name=f"{tag}-plan-snapshot",
        shuffle_partitions=scaled_shuffle_partitions(sf_dir),
        extra_conf={"spark.sql.adaptive.enabled": scaled_adaptive(sf_dir)},
    )
    qs = load_all()
    out_dir = os.path.join(ROOT, "plans", tag)
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        s = plan_stats(qs[name].fn(spark, sf_dir))
        path = os.path.join(out_dir, f"{name}_{phase}.txt")
        with open(path, "w") as f:
            f.write(
                f"# {name} — {phase} ({tag}), sf_dir={sf_dir}\n"
                f"# shuffles={s.shuffles} broadcasts={s.broadcasts} "
                f"scans={s.scans} pushed_filters={s.pushed_filters} "
                f"read_columns={s.read_columns} codegen_spans={s.codegen_spans}\n\n"
            )
            f.write(s.text)
        print(f"{name}: shuffles={s.shuffles} broadcasts={s.broadcasts} -> {path}")
    spark.stop()


def write_plans_md(sf_dir: str) -> None:
    from duckdb_parachute_spark import get_session
    from duckdb_parachute_spark.plans import plan_stats
    from duckdb_parachute_spark.workload import load_all

    spark = get_session(master="local[8]")
    qs = load_all()
    out = [
        "# PLANS — physical-plan audit of the headline queries",
        "",
        f"Generated by `scripts/gen_plans.py` over `{sf_dir}`. The properties",
        "asserted in CI (tests/test_plans.py): filters reach the parquet scan",
        "(`PushedFilters`), scans read only needed columns (`ReadSchema`),",
        "dimensions broadcast, data shuffles stay bounded.",
        "",
    ]
    for name in QUERIES:
        s = plan_stats(qs[name].fn(spark, sf_dir))
        out += [
            f"## {name}",
            "",
            f"- data shuffles: **{s.shuffles}**, broadcasts: **{s.broadcasts}**, "
            f"parquet scans: {s.scans}, pushed filters: {s.pushed_filters}, "
            f"columns read per scan: {s.read_columns}",
            "",
            "```",
            s.text.strip(),
            "```",
            "",
        ]
    with open("PLANS.md", "w") as f:
        f.write("\n".join(out))
    print(f"wrote PLANS.md ({len(QUERIES)} plans)")


def main() -> None:
    from duckdb_parachute_spark.catalog import DEFAULT_SF_DIR

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("phase", nargs="?", default="before", choices=("before", "after"))
    ap.add_argument("--tag", help="write plans/<tag>/<query>_<phase>.txt instead of PLANS.md")
    ap.add_argument("--queries", help="comma-separated registry names (--tag mode)")
    ap.add_argument("--sf-dir", default=DEFAULT_SF_DIR, help="default: $SPARK_GRAFT_SF_DIR")
    args = ap.parse_args()
    if args.tag is None:
        write_plans_md(args.sf_dir)
        return
    if args.queries:
        names = [q for q in args.queries.split(",") if q]
    else:
        from bench import HEADLINE

        names = list(HEADLINE)
    write_snapshots(args.tag, args.phase, args.sf_dir, names)


if __name__ == "__main__":
    main()

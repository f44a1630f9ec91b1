"""Dump a physical-plan evidence report for every headline query → PLANS.md.

For each query: join strategies, exchange count, pushed filters, and read
schemas — the greppable form of the .explain review PERF_NOTES describes.
"""

from __future__ import annotations

import io
import os
import re
import sys
from contextlib import redirect_stdout

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from bench import HEADLINE
from f1_datalakehouse_pipeline_spark import get_spark, registry


def main() -> None:
    spark = get_spark("plan-report")
    spark.sparkContext.setLogLevel("ERROR")
    qs = registry.queries()
    sf = "/root/testdata/sf0.01"
    lines = [
        "# PLANS — physical-plan evidence for the headline queries",
        "",
        "Generated by tools/plan_report.py at sf0.01. Broadcast-only joins,",
        "pushed filters, and pruned read schemas are the claims PERF_NOTES",
        "makes; this is the per-query proof.",
        "",
    ]
    extras = [
        "tpch_q10_returned_items",
        "tpch_q18_large_orders",
        "a12_grouping_sets",
        "w15_range_frame",
        "asof_tolerance_join",
        "range_join_ship_window",
        "t_token_histogram",
        "ts_interpolate_linear",
        "j10_interval_overlap",
        "t_corpus_curation",
        "t_pack_sequences",
        # r3 additions
        "tpch_q7_volume_shipping",
        "tpch_q8_market_share",
        "w18_first_last_value",
        "a18_bool_aggs",
        "a19_histogram_fixed_width",
        "a20_multi_distinct",
        "j12_not_exists_anti",
        "ts_resample_ohlc",
        "t_token_doc_frequency",
        "f_string_battery",
        # r4 additions (tablestore_delete_tombstone excluded: its plan is a
        # plain scan of the round-tripped managed table — the evidence lives
        # in the TableStore unit/race tests, not the final-state read)
        "contamination_pairs",
        "scd2_splice_backdated",
        "dedup_incremental_novelty",
        "t_repetition_quality",
        "t_pii_redact",
        "t_chunk_documents",
        "tpch_q14_promo_revenue",
        "tpch_q19_disjunctive_revenue",
        "t_profile_columns",
        "t_shuffle_shards",
        "dedup_containment",
        "t_domain_mix",
        "t_repeat_mixture",
        "t_model_quality_score",
        # r5 additions / changed implementations
        "t_token_ids",
        "dedup_incremental_novelty",
        # r6 additions: the late TPC-H family completion + the changed
        # dedup_semantic (persisted assignment) + the new BPE/corpus gates
        "tpch_q6_forecast_revenue",
        "tpch_q15_top_supplier",
        "tpch_q2_min_cost_supplier",
        "tpch_q4_priority_count",
        "tpch_q9_product_profit",
        "tpch_q11_important_stock",
        "tpch_q12_late_priority",
        "tpch_q16_supplier_count",
        "tpch_q20_dominant_supplier",
        "dedup_semantic",
        "t_bpe_table_encode",
        # r7 additions: the PSI bucket gate (t_corpus_manifest_stream is
        # excluded like tablestore_delete_tombstone — its returned DataFrame
        # is a localCheckpointed manifest read; the plan evidence lives in
        # the per-stage pipeline plans and the byte-equality e2e)
        "t_psi_buckets",
        # r8 additions: quantized search, robust outliers, quality battery,
        # funnel/cohort/transition analytics, boilerplate strip, chi-square
        "sim_sq8_quantized_topk",
        "sim_pq_adc_topk",
        "ts_mad_outliers",
        "dq_expectations",
        "w19_funnel_stages",
        "a21_cohort_retention",
        "t_html_strip",
        "w20_event_transitions",
        "a24_chisq_cells",
        "w21_top_paths",
        "a23_winsorize",
        # r9 additions: residual IVFADC, bounded funnel (tablestore_cdf_read
        # is excluded like tablestore_delete_tombstone — its returned
        # DataFrame is a localCheckpointed read of the change files)
        "sim_ivfpq_residual_topk",
        "w22_funnel_windowed",
    ]
    for name in HEADLINE + extras:
        buf = io.StringIO()
        with redirect_stdout(buf):
            qs[name](spark, sf).explain("formatted")
        plan = buf.getvalue()
        lines += [f"## {name}", ""]
        lines.append(
            f"- joins: BroadcastHashJoin×{plan.count('BroadcastHashJoin')}"
            f" SortMergeJoin×{plan.count('SortMergeJoin')}"
            f" BroadcastNestedLoop×{plan.count('BroadcastNestedLoopJoin')}"
        )
        n_ex = len(re.findall(r"\(\d+\) Exchange", plan))
        lines.append(f"- shuffle exchanges: {n_ex}")
        # match to end-of-line: pushed filters can nest brackets
        # (e.g. In(event_type, [click,purchase,view]))
        pushed = re.findall(r"PushedFilters: \[[^\n]*\]", plan)
        for pf in sorted(set(p for p in pushed if p != "PushedFilters: []"))[:4]:
            lines.append(f"- {pf[:160]}")
        for rs in sorted(set(re.findall(r"ReadSchema: [^\n]+", plan)))[:4]:
            lines.append(f"- {rs[:160]}")
        lines.append("")
    with open(os.path.join(ROOT, "PLANS.md"), "w") as f:
        f.write("\n".join(lines))
    print(f"wrote PLANS.md ({len(HEADLINE) + len(extras)} queries)")


if __name__ == "__main__":
    main()

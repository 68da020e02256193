"""Regenerate PLANS.md: the formatted physical plan of every bench
headline query at sf0.01, plus the plans of the SQL executions that
ran while each was built, so the scale claims in SCALING.md can be
checked against what Catalyst actually produces (pushed filters,
broadcast joins, shuffle counts, whole-stage codegen spans).

Usage: python tools/dump_plans.py   (writes PLANS.md at the repo root)
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import PSEUDO_STAGES  # noqa: E402
from inf2106_map_reduce_spark.plans.inspect import (  # noqa: E402
    explain_str,
    has_broadcast_join,
    pushed_filters,
    run_with_plans,
    shuffle_count,
)
from inf2106_map_reduce_spark.queries import REGISTRY  # noqa: E402
from inf2106_map_reduce_spark.session import get_spark  # noqa: E402


# The detail-dump inventory. Until r16 this was bench.HEADLINE, but
# the printed bench line shrank to ~26 names to fit the driver's
# stdout capture (bench.py) - PLANS.md's per-query plan coverage
# must not shrink with it, so the historical headline inventory
# lives here now. The anti-pattern audit below still sweeps EVERY
# batch entry regardless of this list.
DETAIL_QUERIES = (
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q9_product_type_profit",
    "q18_large_volume_customers",
    "bucketed_orders_lineitem_join",
    "window_top_orders_per_customer",
    "dedup_stage_build",
    "dedup_minhash_candidates",
    "dedup_clusters",
    "dedup_canonical_corpus",
    "dedup_simhash64_pairs",
    "ann_lsh",
    "docs_hybrid_rrf",
    "sketch_bloom_membership",
    "docs_neardup_triangles",
    "text_stats",
    "streaming_tumbling_hourly",
    "streaming_click_attribution",
    "doc_word_count",
    # the end-to-end composed corpus build (round 6 flagship)
    "docs_training_manifest",
    # round-8 new families
    "docs_mmr_rerank",
    "lineitem_logreg_returns",
    "sketch_countmin_freq",
    "dedup_prefix_jaccard",
    # model evaluation (late round 8): trainer-trajectory reuse +
    # fixed-bin histogram reduce
    "lineitem_logreg_auc",
    # round-9 new families
    "events_forecast_backtest",
    "sketch_percentile_merge",
    "emb_pca_power",
    "emb_nn_join",
    "orders_bootstrap_ci",
    "media_phash_neardup",
    # round-10 new entries
    "streaming_session_timeout",
    "bloom_runtime_join",
    # round-11 new families
    "lineitem_stump_gini",
    "lineitem_tree_depth2",
    "docs_group_reservoir",
    "streaming_backfill_lag",
    "orders_scd2_priority",
    "docs_weighted_reservoir",
    "lineitem_gbt_stages",
    "streaming_upsert_latest",
    # round-12 new families
    "lineitem_gbt_stages3",
    "lineitem_isotonic_calibration",
    "lineitem_target_encoding",
    "docs_ngram_novelty",
    # round-13 new families
    "lineitem_price_quantile_bins",
    "lineitem_encoding_reliability",
    "streaming_dlq_split",
    "lineitem_flag_quantile_bins",
    # round-13 late block
    "streaming_dlq_redrive",
    "lineitem_fold_reliability",
    "lineitem_status_isotonic",
    # round-14 new families
    "lineitem_status_reliability",
    "lineitem_binned_stump",
    "streaming_dlq_retention",
    # round-14 late block
    "lineitem_multi_binned_stump",
    "streaming_upsert_vacuum",
    "lineitem_encoding_stump",
    "lineitem_status_multi_stump",
    "lineitem_quantile_gbt",
    "lineitem_quantile_tree",
    "streaming_upsert_retention",
    "lineitem_status_encoding_stump",
    "lineitem_quantile_gbt3",
    # round-15 new families
    "lineitem_status_quantile_gbt",
    "streaming_upsert_group_retention",
    "streaming_dlq_age_retention",
    # round-15 late block
    "lineitem_status_quantile_tree",
    "streaming_upsert_asof_read",
    "streaming_dlq_policy_retention",
    "streaming_upsert_changes",
    "lineitem_status_quantile_gbt3",
    "streaming_upsert_changes_window",
    # round-16 new entries
    "streaming_upsert_changes_midwindow",
    "streaming_upsert_compaction",
    "lineitem_status_gbt_isotonic",
    # round-16 late block
    "lineitem_gbt_isotonic",
    "lineitem_table_stats",
    "streaming_upsert_write_amplification",
    # round-16 final block
    "docs_leakage_safe_split",
    "events_table_stats",
    # round-17 new entries
    "streaming_click_attribution_full",
    "streaming_upsert_scd2",
    "lineitem_stats_incremental",
)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    spark = get_spark(app_name="dump-plans")
    spark.sparkContext.setLogLevel("ERROR")
    # entries whose flag is a DOCUMENTED design decision, not a
    # regression — each must justify itself in its own docstring
    sanctioned = {
        # the one deliberate row-at-a-time entry: Spark 4's Python
        # UDTF API surface (the reference Mapper's 1→N contract) —
        # functions/text.py:bigrams_udtf_query documents why no other
        # entry may use this tier
        "udtf_bigrams": "row-python-udf",
    }
    # One pass over every batch entry: build it once, read its
    # returned plan and the plans that ran while it was built, and
    # keep only the strings. Streaming entries are excluded (their
    # registry fns EXECUTE a stream; the batch transform they share is
    # audited via its batch sibling), as are the pseudo-stage lines.
    detail = set(DETAIL_QUERIES)
    summary: dict[str, str] = {}
    sections: dict[str, list[str]] = {}
    offenders: list[str] = []
    unsanctioned = 0
    audited = 0
    for name in REGISTRY:
        if name.startswith("streaming_") or name in PSEUDO_STAGES:
            continue
        df, built = run_with_plans(spark, REGISTRY[name].fn, sf_dir)
        plan = explain_str(df, "formatted")
        audited += 1
        flags = audit_flags(plan, built)
        if flags:
            ok = sanctioned.get(name) == ", ".join(flags)
            if not ok:
                unsanctioned += 1
            offenders.append(
                f"| {name} | {', '.join(flags)} "
                f"| {'yes' if ok else 'NO'} |"
            )
        if name not in detail:
            continue
        summary[name] = (
            f"| {name} | {shuffle_count(df)} "
            f"| {'yes' if has_broadcast_join(df) else 'no'} "
            f"| {'yes' if pushed_filters(df) else 'no'} | {len(built)} |"
        )
        body = [f"## {name}", "", "```", plan.strip(), "```", ""]
        for i, text in enumerate(built, 1):
            body += [
                f"### {name} — construction-time execution {i}",
                "",
                "```",
                text.strip(),
                "```",
                "",
            ]
        sections[name] = body
    names = [n for n in DETAIL_QUERIES if n in summary]
    out = [
        "# PLANS — formatted physical plans of the bench headline queries",
        "",
        f"Generated by `tools/dump_plans.py` at `{sf_dir}`. Streaming",
        "entries are omitted (their micro-batch plans are only",
        "materialized inside query execution); their state sizing is",
        "documented in `streaming/runtime.py`. Each entry shows the plan",
        "of the frame it returns, then the plans of the SQL executions",
        "that ran while it was built (eager localCheckpoints of staged",
        "aggregates, bounded probes): an entry that stages its work",
        "returns a plan over ExistingRDD scans, and its data scans are",
        "in those construction-time executions. Stages are shared per",
        "session (`session.session_cache`), so a stage appears under the",
        "first entry that built it in registry (name) order (and only",
        "detail entries are printed below; the audit covers all). The",
        "cross-document dedup candidate-graph stage (`functions/dedup.py`,",
        "`_doc_stage`) is thus audited under the first dedup consumer;",
        "bench.py times its build on its own line (`dedup_stage_build`)",
        "and SCALING.md documents its shape.",
        "",
        "Documents-scan consumers carry one extra Exchange at TEST",
        "scale only: `tables.ensure_parallelism` repartitions the",
        "single-split small file up to core count before per-row-heavy",
        "work (SCALING.md principle 5). The node is added only when the",
        "scan yields fewer splits than cores — at 100 TB the condition",
        "is false and the Exchange is structurally absent.",
        "",
        "| query | shuffles | broadcast join | pushed filters "
        "| construction-time executions |",
        "|---|---|---|---|---|",
        *(summary[n] for n in names),
        "",
    ]
    for name in names:
        out.extend(sections[name])
    out.append("## Anti-pattern audit — every batch entry")
    out.append("")
    out.append(
        f"{audited} batch entries audited for non-broadcast cartesian "
        "products and row-at-a-time Python UDFs (BatchEvalPython) in "
        "the returned plan and in every construction-time execution, "
        "and for CollectLimit in the returned plan. "
        f"**{len(offenders)} flagged, {unsanctioned} unsanctioned.**"
    )
    out.append("")
    if offenders:
        out.append("| entry | flags | sanctioned |")
        out.append("|---|---|---|")
        out.extend(offenders)
    out.append("")
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "PLANS.md"), "w") as f:
        f.write("\n".join(out) + "\n")
    print(f"wrote PLANS.md ({audited} entries audited, "
          f"{len(offenders)} flagged)")
    spark.stop()


#: The anti-pattern audit's markers: ``(flag, plan marker, also in
#: construction-time plans)``. A non-broadcast CartesianProduct or a
#: row-at-a-time Python UDF (BatchEvalPython — the Arrow/pandas lanes
#: ArrowEvalPython / *InPandas are the FAST path and not flagged) is
#: a defect at 100 TB wherever it runs, so it is flagged in the
#: returned plan and in every plan that ran while the entry was
#: built. CollectLimit is flagged in the returned plan only: bounded
#: ``.first()`` probes during construction are the sanctioned way to
#: read an aggregate-sized result back to the driver.
AUDIT_MARKERS = (
    ("cartesian", "CartesianProduct", True),
    ("row-python-udf", "BatchEvalPython", True),
    ("collect-limit", "CollectLimit", False),
)


def audit_flags(
    returned_plan: str, construction_plans: list[str]
) -> list[str]:
    """The audit flags of one registry entry, from its returned plan
    and its construction-time plans (:func:`run_with_plans`)."""
    built = "\n".join(construction_plans)
    return [
        flag
        for flag, marker, anywhere in AUDIT_MARKERS
        if marker in returned_plan or (anywhere and marker in built)
    ]


if __name__ == "__main__":
    main()

"""Write PLANS.md: formatted physical plans for the headline queries.

Run after plan-affecting changes; the output is the human-auditable
record that predicates push down, schemas prune, dims broadcast, and
aggregates combine map-side.  ``tests/test_plans.py`` asserts the same
properties mechanically.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod
from data_toolz_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")

SHOW = [
    ("q1_pricing_summary", "Filter-DSL pushdown + partial/final aggregate"),
    ("join_region_volume", "broadcast dim chain, fact shuffles once"),
    ("asof_join_orders", "union + single window sort (no range join)"),
    (
        "dedup_cc_drop",
        "collapse → band join → verify → fingerprint-level connected "
        "components → two-stage longest-member argmax",
    ),
    (
        "sim_topk_ann",
        "payload-free band join + unit-vector verify + two-stage top-k",
    ),
    (
        "dedup_simhash64_band",
        "64-bit pigeonhole band blocking (longs-only band table)",
    ),
    (
        "win_ordered_analytics",
        "running total + lag/lead merged into one Window exec",
    ),
    (
        "sim_topk_ivf",
        "IVF probe-cell join (broadcast probe lists) + two-stage top-k",
    ),
    (
        "text_decontaminate",
        "eval gram set broadcast; corpus side scans once, no text shuffle",
    ),
    (
        "incremental_novel_docs",
        "bucketed catalog read in place; r9 — the bloom prefilter's 3 "
        "verdict joins are all BroadcastHashJoin (no shuffle of the "
        "increment), the definitely-absent branch never references "
        "the catalog, and only the maybe branch anti-joins it",
    ),
    (
        "text_vocab_topk",
        "explode → partial-combined hash aggregate → "
        "TakeOrderedAndProject (no global sort); r8 — the CMS arm "
        "builds from the AGGREGATED counts (weight_col), md5 per "
        "distinct token",
    ),
    (
        "agg_percentiles",
        "exact grouped percentiles + the r8 dyadic-quantile-sketch "
        "median: sketch ≤ (bits+1)·d·w rows per group, rank probes "
        "join it broadcast-side, no extra wide shuffle",
    ),
    (
        "embedding_decontaminate",
        "one mapInPandas matmul scan, eval matrix in the closure, "
        "flags filtered in-kernel — no shuffle at all above the scan",
    ),
    (
        "text_line_dedup",
        "r7 auto rebuild: per-doc frequent-hash sets join unhinted — "
        "AQE picks broadcast vs shuffle from measured size (broadcast "
        "at this sf; text-shuffle-free when it does)",
    ),
    (
        "span_dedup",
        "positioned grams shuffle as (id, pos, hash) longs; row-local "
        "rebuild tests merged disjoint intervals (r7), not raw cuts",
    ),
    (
        "url_canonicalize",
        "codegen regex canonicalization + min-id window; r10 folds: "
        "the domain-cap two-stage rank (two more window exchanges) "
        "and the clean_text chain — its NFC pass is the front door's "
        "ONE ArrowEvalPython, everything else stays codegen",
    ),
    (
        "text_search",
        "posting scan with token IN pushdown over the bucketed index + "
        "one aggregate (no self-joins)",
    ),
    (
        "embedding_kmeans",
        "r9 integer-exact k-means assignment: one Arrow matmul scan "
        "(ArrowEvalPython-free — mapInPandas), centers in the closure, "
        "no shuffle above the scan",
    ),
    (
        "text_web_signals",
        "r9 bigram arm: pair explode → broadcast vocab joins + one "
        "per-doc re-aggregation; the bigram table joins unhinted (AQE "
        "sizes it)",
    ),
]


def formatted(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def main() -> int:
    spark = get_spark(
        app_name="plan-dump",
        master="local[8]",
        shuffle_partitions=16,
        extra_conf={
            "spark.ui.enabled": "false",
            # show codegen stages instead of an unexecuted AQE wrapper
            "spark.sql.adaptive.enabled": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    queries = entrymod.queries()
    out = [
        "# PLANS — physical plans of the headline queries",
        "",
        f"Generated by `tools/dump_plans.py` at sf dir `{SF_DIR}`, AQE off",
        "for display (on at runtime).  `* Operator` = whole-stage codegen.",
        "",
    ]
    for qid, note in SHOW:
        plan = formatted(queries[qid](spark, SF_DIR))
        out.append(f"## {qid} — {note}\n")
        out.append("```")
        out.append(plan.rstrip())
        out.append("```")
        out.append("")
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "PLANS.md"), "w") as fh:
        fh.write("\n".join(out))
    print("wrote PLANS.md")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

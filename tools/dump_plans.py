"""Emit PLANS.md: the formatted physical plan of each flagship query plus
the plan properties the engine asserts (shuffle count, pushed filters,
broadcast joins, top-k strategy) — reviewable evidence that the declared
scale discipline is what Catalyst actually planned.

Usage: python tools/dump_plans.py [sf_dir]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DEFAULT_SF = "/root/testdata/sf0.01"

#: name -> one-line note on what the plan should show
FLAGSHIPS = {
    "sales_by_fiscal_month": (
        "fiscal cols via broadcast calendar-dim probe; dims broadcast; "
        "ONE agg shuffle"
    ),
    "sales_by_fiscal_week": "same spine, week-grain grouping",
    "top_products": "TakeOrderedAndProject (no global sort)",
    "regional_revenue": "5-way star join, dims broadcast",
    "small_quantity_revenue": "decorrelated scalar subquery (pre-agg + broadcast probe)",
    "purchase_last_click_asof": (
        "as-of via union + window: one exchange for the dedup pre-agg + one "
        "for the as-of window (the operator itself is single-shuffle)"
    ),
    "dedup_ngram_jaccard": "materialize-once shingle self-join",
    "revenue_rollup": "rollup grouping sets in one Expand + agg",
    "high_discount_lines": "filter pushed into parquet scan",
    "token_frequencies": "explode -> partial/final agg -> TakeOrdered",
    "mongo_region_quarter_revenue": (
        "Mongo pipeline frontend: $match pushes to scan, $group is one shuffle"
    ),
    "conversion_funnel": "funnel via one grouped pass, no per-step self-joins",
    "price_outlier_counts": "group moments via single-shuffle window, no agg join-back",
    "benchmark_decontam": (
        "decontamination: hashed 13-gram equi-join, eval side broadcast-eligible "
        "(threshold-gated, never forced), grouped hit counts"
    ),
    "corpus_shard_plan": (
        "shard packing: ONE window sort per language + grouped manifest, no UDF"
    ),
    "pii_redaction_report": "regex scrub entirely codegen'd; one agg shuffle",
    "dedup_cross_corpus": (
        "incremental dedup: asymmetric new x seen shingle join — no self-pairs "
        "on either side"
    ),
    "session_purchase_attribution": (
        "sessionize (one window) then binned interval join: equi-join on "
        "(user, time-bin) + post-filter — no nested-loop theta join"
    ),
    "purchase_nearby_clicks": (
        "banded range join via bins; outer semantics composed as agg + "
        "join-back, still equi-only"
    ),
    "events_multires_rollup": (
        "continuous-aggregate shape: raw scanned once (hour grain cached), "
        "day/month re-aggregate the finer level"
    ),
    "part_supply_concentration": (
        "Q20 shape decorrelated: one grouped agg + one window on the same "
        "key — no per-part re-probe of lineitem"
    ),
    "funnel_sequence_stages": (
        "subsequence NFA as a higher-order aggregate expression — one "
        "grouped pass, no EXISTS self-join per stage, no UDF"
    ),
    "corpus_weighted_sample": (
        "md5-derived priority + per-source top-k window: one shuffle, "
        "RNG-free"
    ),
    "user_state_history": (
        "SCD2 from events: gaps-and-islands in one window pass, single "
        "shuffle on the key, no self-join"
    ),
    "mongo_priority_monthly_running": (
        "$setWindowFields: one grouped agg + one window pass (rank, "
        "shift, running decimal sum, framed moving average together)"
    ),
    "mongo_customer_region_chain": (
        "$graphLookup BFS: one equi-join per level + grouped collect; "
        "unwound output stays a join plan"
    ),
    "span_dedup_docs": (
        "span dedup: chunk (narrow) -> ONE md5-census groupBy -> key join "
        "back; no self-join, no O(n^2)"
    ),
    "semantic_dedup_survivors": (
        "SemDeDup: broadcast-centroid min_by assignment, one "
        "applyInPandas pass pairs each cell, anti-join keep — never "
        "corpus^2"
    ),
    "ann_pq_topk": (
        "PQ-ADC: codebook lineage checkpointed; scoring is map lookups "
        "over broadcast query tables; exact rerank touches only "
        "|Q|*k*factor rows"
    ),
    "doc_chunks": (
        "RAG chunking: map-only sequence+slice windows, single "
        "posexplode, no shuffle"
    ),
    "part_name_near_pairs": (
        "entity resolution: dictionary collapse -> two-pass token "
        "blocking -> levenshtein verify inside the equi-join; never "
        "all-pairs"
    ),
    "doc_lm_perplexity": (
        "bigram-LM scoring: two count aggs (vocab-sized, broadcast by "
        "threshold) + one scoring join; no UDF, no iteration"
    ),
    "kll_mergeable_quantiles": (
        "two-level KLL rollup: leaf sketches once, global row merges "
        "sketch BINARIES — no fact rescan"
    ),
    "purchase_nearest_click_asof": (
        "nearest as-of: backward+forward windows share ONE hash "
        "exchange (two sorts), tie resolves backward"
    ),
    "activity_overlap_windows": (
        "interval x interval overlap: bin-keyed equi-join, pair emitted "
        "once in the overlap-start bin — no per-key cross join"
    ),
    "purchase_state_lookup": (
        "SCD2 point-in-time: contiguous validity -> backward as-of on "
        "valid_from, one shuffle, no interval explode"
    ),
}


def _existing_scale_notes() -> str | None:
    """Carry forward the hand-maintained '## Scale notes' sections from the
    CURRENT PLANS.md (everything from the first such heading up to the
    first flagship plan heading). Rounds append notes to PLANS.md directly;
    regeneration must not destroy them (pre-r7 it silently did — the
    baked-in constant below had gone stale at round 4)."""
    path = os.path.join(REPO, "PLANS.md")
    try:
        text = open(path).read()
    except OSError:
        return None
    start = text.find("## Scale notes")
    if start < 0:
        return None
    first_flag = None
    for name in FLAGSHIPS:
        i = text.find(f"## {name}", start)
        if i >= 0 and (first_flag is None or i < first_flag):
            first_flag = i
    block = text[start:first_flag] if first_flag else text[start:]
    return block.rstrip()


#: Fallback scale notes (used only if PLANS.md is missing or has no notes
#: section), emitted verbatim ahead of the generated plans.
SCALE_NOTES = """## Scale notes (round 4)

**sf1 rehearsal (2026-08-14).** The driver ships sf<=0.1; a synthetic sf1
(10x sf0.1, FK-consistent key-shifted replication with per-replica text/
embedding perturbation — `tools/make_sf.py`) runs the full 20-query
headline set on the same local[32]: **49.8s vs 22.0s at sf0.1 — 2.3x wall
for 10x data, every query sub-linear** (best-of-2, post money-campaign):

| query | sf0.1 s | sf1 s | ratio | | query | sf0.1 s | sf1 s | ratio |
|---|---|---|---|---|---|---|---|---|
| sales_by_fiscal_month | 1.55 | 1.60 | 1.0x | | ann_bruteforce_topk | 0.64 | 2.66 | 4.1x |
| pricing_summary | 1.62 | 1.74 | 1.1x | | ann_ivf_topk | 1.19 | 3.82 | 3.2x |
| top_building_orders | 0.77 | 2.64 | 3.4x | | doc_text_stats | 0.52 | 3.19 | 6.2x |
| regional_revenue | 0.74 | 1.37 | 1.9x | | doc_lm_perplexity | 1.61 | 5.51 | 3.4x |
| nation_trade_flows | 0.90 | 1.55 | 1.7x | | token_heavy_hitters | 1.19 | 3.30 | 2.8x |
| large_volume_customers | 0.64 | 1.89 | 3.0x | | events_multires_rollup | 0.69 | 0.55 | 0.8x |
| monthly_revenue_running | 1.11 | 1.07 | 1.0x | | mongo_region_quarter_revenue | 1.28 | 2.10 | 1.6x |
| revenue_trailing_7d | 0.48 | 0.69 | 1.5x | | part_name_entities | 2.13 | 3.19 | 1.5x |
| dedup_minhash | 2.66 | 9.37 | 3.5x | | distinct_count_sketches | 0.99 | 2.16 | 2.2x |
| dedup_exact_summary | 0.29 | 0.38 | 1.3x | | summary_stats | 0.96 | 1.00 | 1.0x |

No query exceeds 6.2x for 10x data (the document-bound pair —
doc_text_stats, dedup_minhash — scales with the 10x documents table and
stays sub-linear). One config finding fixed along the way: local mode's
default 1g driver heap OOM'd building a 64 MB broadcast at sf1 —
`session.get_spark` now sizes the local JVM (`SPARK_GRAFT_DRIVER_MEM`,
default half the physical RAM, at most 16g); on a cluster this is
ordinary executor/driver sizing.

**IVF/PQ registry policy change (round 4).** The r3 pinned policy
(Lloyd=1 over a 4096-row md5 sample) is superseded ON THE REGISTRY
QUERIES by the portable-quantizer mode `refine_iterations=0`: centroids /
PQ codewords are md5-chosen corpus rows, so `ann_ivf_topk`, `ann_pq_topk`
and `semantic_dedup_survivors` now replay bit-for-bit in generated DuckDB
twins (hash-verified, previously rows-only) — the r4 verdict's lead item.
Latency side effect: ann_ivf_topk 1.82s (r3 driver) -> 1.25s (no sample
draw, no Lloyd). The Lloyd-refined trainer remains the operator default
for quality-sensitive callers and keeps pytest recall coverage; r1-r3
ann_ivf/ann_pq bench numbers are not directly comparable to r4+.

**Bench methodology (round 4).** Warm-up is one full untimed iteration of
every headline query at the target sf (r3 warmed 12 expression families
at sf0.001 and left ~3s of first-touch cost in the driver's timings);
timed numbers are best-of-2 per query, declared as `iters` in the JSON.

**sf1 correctness sweep & the money-portability campaign (round 4).** The
full 152-query registry was also ORACLE-VERIFIED at the synthetic sf1 —
which initially failed 29 queries, every one a money aggregate that had
been green at sf<=0.1 by summation-order luck. Three distinct hazards were
isolated and closed engine-wide:
1. *Double money sums drift with partial-agg order.* Every money SUM/AVG
   now accumulates in exact DECIMAL(38,6) (`dsum*` helpers; Mongo
   pipelines use the Decimal128 idiom `{"$sum": {"$toDecimal": ...}}`).
2. *The decimal->double output cast itself double-rounds.* Above 2^53
   scaled units (~9e9 at scale 6) DuckDB computes hugeint/10^scale in
   double arithmetic while Java rounds once — 1-ulp divergence. All
   boundaries now cast via STRING (`dec2d`/`dd_dec2d`): decimal->string
   is exact and string->double is correctly rounded on both engines, so
   the result is THE nearest double, identically.
3. *Exact-percentile interpolation differs on duplicate-heavy data.*
   Spark short-circuits lowerKey==higherKey to the value; DuckDB's
   quantile_cont computes the weighted form whose weights sum to ~1
   (1-ulp drift). The twins now replicate Spark's formula from order
   statistics (`stats_suite._dd_spark_percentile`).
After the campaign the registry is 148-hash-green + 4 rows-only at
sf0.001, sf0.01, sf0.1 AND sf1 — correctness claims no longer depend on
fixture scale. Cost: visible per-query (pricing_summary 0.45->1.6s,
sales_by_fiscal_month 0.8->1.5s — decimal accumulation is ~3x a double
sum) while the headline total stays in the 20-22s band at sf0.1 (idle
runs vary ~10%; final recorded run 19.8s) — accepted: order-independent
money arithmetic is what makes results reproducible on ANY partitioning,
which is the 100 TB contract.
"""


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else DEFAULT_SF

    from nosql_based_business_intelligence_system_spark.plans import inspect as I
    from nosql_based_business_intelligence_system_spark.queries.registry import QUERIES
    from nosql_based_business_intelligence_system_spark.session import get_spark

    spark = get_spark()
    out = [
        "# PLANS — physical plans of flagship queries",
        "",
        f"Generated by `tools/dump_plans.py` at `{sf_dir}` "
        "(regenerate after plan-affecting changes).",
        "",
        _existing_scale_notes() or SCALE_NOTES,
        "",
    ]
    for name, note in FLAGSHIPS.items():
        df = QUERIES[name].fn(spark, sf_dir)
        shuffles = I.count_exchanges(df)
        props = [f"shuffles={shuffles}"]
        if I.has_broadcast_join(df):
            props.append("broadcast-join")
        if I.uses_take_ordered(df):
            props.append("take-ordered")
        from nosql_based_business_intelligence_system_spark.plans import doctor as D

        findings = D.diagnose(df, allow=D.QUERY_ALLOWS.get(name))
        doc_line = (
            "doctor: clean"
            if not findings
            else "doctor: "
            + "; ".join(f"[{f['severity']}] {f['rule']}" for f in findings)
        )
        out += [
            f"## {name}",
            "",
            f"*{note}* — `{', '.join(props)}` — {doc_line}",
            "",
            "```",
            I.explain_str(df, "formatted").strip(),
            "```",
            "",
        ]
    path = os.path.join(REPO, "PLANS.md")
    with open(path, "w") as fh:
        fh.write("\n".join(out))
    print(f"wrote {path} ({len(FLAGSHIPS)} plans)")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

#!/usr/bin/env python
"""Benchmark harness: run the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Output contract (round 14 — VERDICT r13 task #2): the driver captures a
bounded TAIL of stdout, and through r13 the single ever-growing JSON line
always had its head (metric/value) truncated away, leaving 13 rounds of
``"parsed": null``.  So the detail now prints FIRST and the parseable
summary prints LAST:

  line 1 .. n-1:  one small JSON object per query
                  ``{"query": name, "sec": t}`` (survives partially in
                  the tail; full copy also written to BENCH_DETAIL.json)
  final line:     compact headline the driver can always parse whole —
                  ``{"metric": "...", "value": <total sec>, "unit":
                  "sec", "sf": <sf>, "n": <query count>, "cpus": <n>,
                  "queries": {...}}`` with ``queries`` holding ONLY the
                  slowest 25 (the cross-round comparison set; the full
                  map lives in BENCH_DETAIL.json).

r15 measurement fix (VERDICT r14 #2, additions only): the summary and
detail records now carry ``cpus``, and the full map is ALSO written to
``BENCH_DETAIL_c<cpus>.json`` — in r14 the driver's 8-core scaling run
overwrote the 32-core BENCH_DETAIL.json, losing the main run's per-query
record.  Two consecutive runs at different core counts now leave both
detail records readable.  No query entry was removed or renamed and the
timing loop is untouched.

``--out-dir DIR`` writes both detail files to DIR instead of the
repository root.

Each query is forced end-to-end with the noop sink (full computation, no
driver-side collect cost).  Session startup is excluded; per-query times
are wall-clock.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from merl_etl_spark import registry  # noqa: E402
from merl_etl_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Headline set: one per operator family — rank windows, broadcast joins,
# semi joins, conditional aggs, top-k sorts, event-time windows, as-of,
# dedup tiers, similarity, text, multimodal.
HEADLINE = [
    "win-rank-top100",
    "plan-top100-derive",
    "join-semi-top100",
    "join-latest-bucket",
    "join-asof",
    "agg-conditional-flow",
    "agg-scalar-rollup",
    "sort-movers-multi",
    "stream-tumbling-6h",
    "stream-sliding-60m",
    "stream-cursor-resume",
    "dedup-exact",
    "dedup-minhash-lsh",
    "dedup-simhash",
    "text-quality",
    "text-fingerprint",
    "sim-topk-cosine",
    "sim-lsh-bucketed",
    "mm-feature-extract",
    "analytics-pricing-summary",
    "analytics-shipping-priority",
    "analytics-regional-volume",
    "win-sessionize",
    "join-asof-blocktime",
    "text-ngram-counts",
    "text-pii-scrub",
    "curate-pipeline",
    "text-decontaminate",
    "text-repetition",
    "uint256-exact-sum",
    # round-5 additions (suite total grows accordingly — see PERF.md)
    "cdc-snapshot-diff",
    "dedup-incremental",
    "curate-token-pack",
    "dedup-containment",
    "join-asof-nearest",
    "curate-corpus-pipeline",
    # round-6 additions: the embedding tier's capped candidate path and
    # the two newly hash-oracled queries
    "dedup-embedding-cosine",
    "sim-topk-pandas",
    "agg-approx-sketches",
    # round-6 additions: profiling / layout / retrieval / quality tiers
    "profile-columns",
    "layout-zorder",
    "text-tfidf",
    "text-bm25",
    "text-hybrid-rrf",
    "dq-expectations",
    "agg-anomaly-zscore",
    "agg-hll-merge",
    "analytics-funnel",
    "dedup-paragraph",
    "cdc-scd2-history",
    # continuation-round-6 additions: frequency sketches, triangle
    # census, interval-overlap join, global shuffle index, OHLC bars
    "agg-countmin",
    "agg-heavy-hitters",
    "graph-triangles",
    "join-interval-overlap",
    "curate-shuffle-index",
    "ts-ohlc-bars",
    "win-cumulative-distinct",
    "analytics-basket-affinity",
    "profile-dataset-card",
    "sim-knn-graph",
    # continuation-round-6 additions, second block: URL curation tier,
    # tolerance as-of, streaks, SemDeDup medoid keep
    "fn-url-suite",
    "curate-url-dedup",
    "join-asof-tolerance",
    "win-streak",
    "curate-semdedup-keep",
    # deep multi-table analytics (Q8/Q17/Q13-style plan shapes)
    "analytics-market-share",
    "analytics-small-qty-revenue",
    "analytics-customer-distribution",
    "proj-unpivot",
    "ts-linear-trend",
    "agg-mv-merge",
    "text-bpe-step",
    "dedup-normalized",
    "src-jsonl-corrupt",
    "agg-k-anonymity",
    "link-golden-record",
    "join-asof-keyed",
    "analytics-disjunctive-filter",
    "fn-regex-suite",
    "dq-sequence-gaps",
    "win-frame-suite",
    # round-8 additions: the IVF driver contract (brute-force arm +
    # equi-join recall/dominance checks) and the decoder-free binary
    # near-dup tier
    "sim-ivf-ann",
    "mm-binary-simhash",
    # round-8 second wave: span-level dedup, DSIR importance weighting,
    # Gopher rule gating, Markov session flow, decimal-exact EWMA
    "dedup-substring",
    "curate-dsir",
    "text-gopher-rules",
    "analytics-markov-transitions",
    "ts-ewma",
    "text-entropy",
    "dq-referential",
    "text-winnowing",
    # round-9 additions: weighted quantiles, grouping sets, soft dedup,
    # seasonality, bloom incremental dedup, partition-pruned layout
    "agg-weighted-median",
    "agg-grouping-sets",
    "curate-softdedup-weights",
    "ts-seasonal-profile",
    "dedup-bloom-incremental",
    "layout-partition-prune",
    "analytics-rfm-segmentation",
    "ts-autocorr",
    "ts-downsample-lttb",
    # round-9 second wave: components, path mining, attribution,
    # volume anomalies, quality-tiered sampling
    "graph-components",
    "analytics-path-mining",
    "analytics-attribution-lasttouch",
    "dq-volume-anomaly",
    "curate-quality-sampling",
    # round-9 third wave: MERGE semantics + bounded-vocab PMI +
    # co-located bucketed join
    "cdc-merge-apply",
    "text-cooccurrence-pmi",
    "layout-bucketed-join",
    # round-10: broadcast-weights classifier filter + share-drift audit
    "curate-classifier-filter",
    "dq-distribution-drift",
    "dq-embedding-drift",
    "sim-centroid-assign",
    "ts-backtest-seasonal",
    # round-11: population-stability-index drift score, bitmap-exact
    # distinct, JL sign projection, feed freshness
    "dq-distribution-psi",
    "agg-bitmap-distinct",
    "sim-rp-projection",
    "dq-freshness",
    "sim-pq-encode",
    "ts-cusum-changepoint",
    "curate-canonical-keep",
    "dq-profile-drift",
    "analytics-decayed-engagement",
    "analytics-new-returning",
    "curate-mixture-sample",
    # round-11 wave 6: exact bitmap audience overlap, scalable exact
    # percentiles, cohort LTV, measured ANN recall, link prediction,
    # inter-arrival histogram
    "agg-bitmap-intersect",
    "analytics-order-percentiles",
    "analytics-cohort-ltv",
    "sim-ann-recall-eval",
    "graph-jaccard-links",
    "ts-interarrival-hist",
    # round-11 wave 7: exact decile Lorenz table (generalized ntile(k)),
    # measured LSH precision, integer-exact readability
    "analytics-revenue-concentration",
    "dedup-lsh-precision-eval",
    "text-readability",
    # round-11 wave 8: exact rolling DAU/WAU bitmaps, PQ ADC search
    "agg-rolling-distinct-bitmap",
    "sim-pq-adc-topk",
    # round-11 wave 9: split-contamination audit, dedup impact report
    "dq-split-leakage",
    "curate-dedup-impact",
    # round-11 wave 10: BFS hop census, array-function suite
    "graph-bfs-hops",
    "fn-array-suite",
    # round-11 wave 11: exact distinct rollup, trailing robust baseline
    "agg-bitmap-rollup",
    "ts-rolling-median",
    # round-11 wave 12: experiment readout, Lloyd M-step, write-shard audit
    "analytics-ab-test",
    "sim-kmeans-update",
    "layout-shard-skew",
    # round-11 wave 13: series decomposition, LPA communities, compaction
    "ts-decompose",
    "graph-label-propagation",
    "layout-compaction-plan",
    # round-11 wave 14: power-law fit, map-function suite, stable argmax
    "analytics-powerlaw-fit",
    "fn-map-suite",
    "agg-argmax-suite",
    # round-11 wave 15: near-dup split leakage, upsample plan, source novelty
    "dq-split-leakage-near",
    "curate-upsample-plan",
    "text-ngram-novelty",
    # round-11 wave 16: truncation pricing, norm census, bit-operator suite
    "curate-truncation-plan",
    "dq-embedding-norms",
    "fn-bit-suite",
    # round-11 wave 17: Benford screen, exact variance, Poisson bootstrap
    "dq-benford-digits",
    "agg-variance-exact",
    "sample-poisson-bootstrap",
    # round-11 wave 18: k-core peeling, Heaps curve, fulfillment latency
    "graph-kcore",
    "text-vocab-growth",
    "analytics-shipping-delay",
    # round-11 wave 19: interval coalescing, quality-gate waterfall
    "intervals-coalesce",
    "curate-filter-funnel",
    # round-11 wave 20: exact Pearson moments, kNN degree assortativity
    "agg-corr-exact",
    "graph-assortativity",
    # round-11 wave 21: exact source-overlap matrix
    "dedup-source-overlap",
    # round-11 wave 22: third-moment shape, seasonal strength score
    "agg-skewness-exact",
    "analytics-seasonality-strength",
    # round-12 wave 1: CC census, fourth moment, deterministic reservoir
    "graph-clustering-coefficient",
    "agg-kurtosis-exact",
    "sample-reservoir",
    # round-12 wave 2: source JSD matrix, header-vs-detail reconciliation
    "text-source-divergence",
    "dq-reconciliation",
    # round-12 wave 3: Matryoshka truncation eval, two-phase anneal mixture
    "sim-matryoshka-eval",
    "curate-anneal-schedule",
    # round-12 wave 4: MAD anomaly census, YoY revenue bridge
    "ts-anomaly-mad",
    "analytics-revenue-bridge",
    # round-12 wave 5: token-budget selection, struct-function pin
    "curate-budget-select",
    "fn-struct-suite",
    # round-12 wave 6: PQ recall eval, distinctive-terms report
    "sim-pq-recall-eval",
    "text-distinctive-terms",
    # round-12 wave 7: cluster purity/NMI, returned-revenue report
    "sim-cluster-nmi",
    "analytics-returned-revenue",
    # round-12 wave 8: Q14 promo share, primary-key uniqueness audit
    "analytics-promo-share",
    "dq-primary-keys",
    # round-12 wave 9: LSH S-curve sheet, tokenizer fertility
    "dedup-lsh-curve",
    "text-tokenizer-fertility",
    # round-12 wave 10: monthly growth table
    "analytics-monthly-growth",
    # round-13 wave 1: Zipf rank-frequency fit + Q11-style value concentration
    "text-zipf-fit",
    "analytics-important-stock",
    # round-13 wave 2: CCNet LM-score tertiles + feed temporal coverage
    "curate-ccnet-buckets",
    "dq-temporal-coverage",
    # round-13 wave 3: PCM window energy + Pareto-frontier skyline
    "mm-pcm-window-energy",
    "curate-pareto-frontier",
    # round-13 wave 4: exact Gini concentration + per-key mode election
    "analytics-gini-concentration",
    "agg-group-mode",
    # round-13 wave 5: partition-key advisor + window-function suite
    "layout-partition-advisor",
    "fn-window-suite",
    # round-13 wave 6: sweep-line peak concurrency
    "analytics-peak-concurrency",
    # round-13 wave 7: per-source dataset card
    "curate-dataset-card",
    # round-13 wave 8: 80/20 crossing point
    "analytics-pareto-8020",
    # round-13 wave 9: aggregate-function surface + IQR fences
    "fn-agg-suite",
    "dq-iqr-outliers",
    # round-13 wave 10: the Lorenz curve behind the Gini scalar
    "analytics-lorenz-deciles",
    # round-14 wave 1: real PNG decode through the mapInPandas seam
    "mm-png-decode",
    # round-14 wave 2: Q4/Q12-shaped exists-semi + two-way conditional
    "analytics-order-priority",
    "analytics-ship-delay-priority",
    # round-14 wave 3: Q7/Q9-shaped nation-pair traffic + profit star
    "analytics-nation-traffic",
    "analytics-product-profit",
    # round-14 wave 4: Q21/Q22-shaped exists+anti and threshold+anti
    "analytics-supplier-waiting",
    "analytics-idle-customers",
    # round-14 wave 5: Q16/Q18-shaped distinct grid + having-semi
    "analytics-parts-supplier-breadth",
    "analytics-large-orders",
    # round-14 wave 6: Q15/Q2/Q20-shaped max/min join-backs + agg-threshold
    "analytics-top-supplier",
    "analytics-min-cost-supplier",
    "analytics-excess-suppliers",
    # round-14 wave 7: layout pruning score + integer pitch tracker
    "layout-skipping-eval",
    "mm-pcm-autocorr-pitch",
    # round-14 wave 8: TextRank keywords on the shared pagerank machinery
    "text-textrank-keywords",
]


def main() -> None:
    ap = argparse.ArgumentParser(description="Time the headline queries.")
    ap.add_argument(
        "--out-dir",
        default=os.path.dirname(os.path.abspath(__file__)),
        help="where BENCH_DETAIL*.json are written (default: the repository root)",
    )
    out_dir = ap.parse_args().out_dir
    registry.load_all()
    spark = get_spark("merl_etl_spark_bench")

    # test/debug knob: run only the named queries (comma list).  The
    # tail-contract pytest uses this to drive the REAL bench process fast.
    only = os.environ.get("SPARK_GRAFT_BENCH_ONLY")
    headline = (
        [q for q in HEADLINE if q in set(only.split(","))] if only else HEADLINE
    )

    def run(name: str) -> float:
        t0 = time.perf_counter()
        registry.QUERIES[name](spark, SF_DIR).write.mode("overwrite").format("noop").save()
        return round(time.perf_counter() - t0, 3)

    # steady-state timing: first execution per query pays one-off JVM and
    # whole-stage-codegen compilation (irrelevant at production runtimes);
    # warm once, then report the best of two timed runs — min is robust to
    # transient ambient stalls (GC pause, scheduler contention) that a
    # single sample reads as a query regression (see PERF.md noise band).
    times = {}
    for name in headline:
        run(name)
        times[name] = min(run(name), run(name))
        # per-query detail streams as it lands — whatever the driver's
        # stdout-tail window holds is self-describing, and a hang leaves
        # a trail of what had already finished
        print(json.dumps({"query": name, "sec": times[name]}), flush=True)
    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    summary = {
        "metric": "headline operator suite wall-clock",
        "value": round(sum(times.values()), 3),
        "unit": "sec",
        "sf": sf_val,
        "n": len(times),
        "cpus": int(cpus) if cpus.isdigit() else cpus,
        # only the slowest queries inline — keeps the final line well
        # inside any tail-capture window so metric/value always parse
        "queries": dict(
            sorted(times.items(), key=lambda kv: kv[1], reverse=True)[:25]
        ),
    }
    detail = json.dumps({**summary, "queries": times}, indent=1, sort_keys=True)
    # BENCH_DETAIL.json stays (last run, self-describing via "cpus");
    # the keyed copy survives a later run at a different core count
    for fname in ("BENCH_DETAIL.json", f"BENCH_DETAIL_c{cpus}.json"):
        with open(os.path.join(out_dir, fname), "w") as fh:
            fh.write(detail)
    print(json.dumps(summary), flush=True)


if __name__ == "__main__":
    main()

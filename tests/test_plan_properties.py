"""Plan-property regression tests (ARCHITECTURE.md 'plan evidence'):
the physical plans that make these operators scale must not silently
regress — filters must reach the parquet scan, small sides must
broadcast, rank-filters must compile to WindowGroupLimit, sorts+limits to
TakeOrderedAndProject, and the flagship's SQL and DataFrame forms must
produce identical results."""

from __future__ import annotations

import pytest

from merl_etl_spark.registry import QUERIES, load_all

load_all()


def _plan(spark, name, sf_dir) -> str:
    df = QUERIES[name](spark, sf_dir)
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


CASES = [
    ("filter-blockrange", ["PushedFilters: [IsNotNull(event_id)", "GreaterThanOrEqual(event_id,1000)"]),
    ("win-rank-top100", ["WindowGroupLimit"]),
    # the empty-partition global rank must keep its map-side Partial
    # group-limit — without it the final single partition sees ALL totals
    ("sort-topk-rank100", ["WindowGroupLimit", "Partial"]),
    ("sql-api-top100", ["WindowGroupLimit"]),
    ("join-latest-bucket", ["BroadcastHashJoin"]),
    ("join-semi-top100", ["BroadcastHashJoin LeftSemi"]),
    ("sort-movers-multi", ["TakeOrderedAndProject"]),
    ("sort-limit-top10", ["WindowGroupLimit", "TakeOrderedAndProject"]),
    ("agg-conditional-flow", ["HashAggregate"]),
    ("dedup-exact", ["HashAggregate"]),
    # per-source cap must keep its map-side Partial group-limit
    ("curate-source-cap", ["WindowGroupLimit", "Partial"]),
    # r14 TPC-H shapes: the mixed equi+date semi join must stay a hash
    # join (the date predicate evaluates post-hash, never a nested loop)
    ("analytics-order-priority", ["BroadcastHashJoin"]),
    # and every top-100 must run as TakeOrderedAndProject, not a global sort
    ("analytics-supplier-waiting", ["TakeOrderedAndProject"]),
    ("analytics-large-orders", ["TakeOrderedAndProject"]),
    ("analytics-min-cost-supplier", ["TakeOrderedAndProject"]),
]

# r14 TPC-H-shaped queries that must never contain an unbounded join
# strategy: every join is equi (hash/sort-merge); analytics-idle-customers
# is excluded because its single BroadcastNestedLoopJoin broadcasts the
# walker-marked 1-row (sum, cnt) aggregate.
R14_NO_NESTED_LOOP = [
    "analytics-order-priority",
    "analytics-ship-delay-priority",
    "analytics-nation-traffic",
    "analytics-product-profit",
    "analytics-supplier-waiting",
    "analytics-parts-supplier-breadth",
    "analytics-large-orders",
    "analytics-top-supplier",
    "analytics-min-cost-supplier",
    "analytics-excess-suppliers",
]


@pytest.mark.parametrize("name", R14_NO_NESTED_LOOP)
def test_r14_tpch_shapes_stay_equi_join_only(spark, sf_dir, name):
    plan = _plan(spark, name, sf_dir)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


@pytest.mark.parametrize("name,needles", CASES)
def test_plan_contains(spark, sf_dir, name, needles):
    plan = _plan(spark, name, sf_dir)
    for needle in needles:
        assert needle in plan, f"{name}: expected {needle!r} in physical plan"


def test_embedding_dedup_has_no_nested_loop_join(spark, sf_dir):
    """dedup-embedding-cosine must stay equi-join-only (LSH candidates →
    exact verify); an all-pairs BroadcastNestedLoopJoin is O(n²) and must
    never reappear (VERDICT r1 'What's wrong' #3)."""
    plan = _plan(spark, "dedup-embedding-cosine", sf_dir)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


# brute-force scorers whose nested-loop side is a BOUNDED query set
# (≤ tens of rows broadcast against the corpus) — per-query-linear by
# design, the documented baseline the LSH/IVF variants are measured
# against.  Everything else in the tier must stay equi-join-only.
_BOUNDED_NESTED_LOOP_OK = {
    "sim-topk-cosine",
    # the driver contract embeds the sim-topk-cosine brute-force arm as
    # its exact-recall reference — same bounded query-set broadcast; the
    # contract's own additions (semi-join hits, rank-join dominance,
    # per-query aggregates) are all equi-joins
    "sim-ivf-ann",
    # 1-row broadcast of the scalar batch boundary (max(doc_id) div 2) —
    # a bounded scalar-subquery join, not an all-pairs; the digest probe
    # itself is a hash anti-join
    "dedup-incremental",
    # same 1-row boundary broadcast; the band probe and the jaccard
    # verification are equi-joins
    "dedup-incremental-near",
    # same 1-row boundary broadcast (max(vec_id) div 2 splits the corpus
    # into reference/held-out halves); since r11 the scoring itself is a
    # per-row array fold over a ONE-ROW broadcast codebook (a second
    # bounded 1-row broadcast, not an all-pairs join)
    "sim-centroid-assign",
    # the centroid-assign E-step embedded verbatim (same 1-row cap and
    # codebook broadcasts); its own M-step additions — component explode,
    # vec_id assignment join, k×d rollup — are equi-joins and keyed aggs
    "sim-kmeans-update",
    # identical shape: 1-row cap broadcast + 1-row PQ-codebook broadcast;
    # the per-subspace argmin is a per-row array expression, no join
    "sim-pq-encode",
    # embeds the encode pipeline above (same two bounded broadcasts);
    # its own additions — LUT build, code join, top-k rank — are
    # equi-joins and a query-partitioned window
    "sim-pq-adc-topk",
    # the recall harness embeds the sim-topk-cosine brute-force arm as
    # its exact ground truth (same bounded query-set broadcast); the
    # candidate arm is a bucket equi-join, hits/counts keyed aggregates
    "sim-ann-recall-eval",
    # both arms (full-dim and prefix-dim cosine) are the sim-topk-cosine
    # bounded query-set broadcast over ONE shared scored frame; the
    # per-query rankings are query-partitioned windows
    "sim-matryoshka-eval",
    # composes the pinned sim-pq-adc-topk (bounded codebook broadcasts)
    # and sim-topk-cosine (bounded query-set broadcast) arms verbatim;
    # its own hit join is an equi-join on (query, neighbor)
    "sim-pq-recall-eval",
    # embeds sim-centroid-assign (bounded 1-row cap/codebook broadcasts);
    # its own additions are scalar-boundary crossJoins of GROUPING-FREE
    # aggregates over the bounded confusion matrix (all marker-provable)
    "sim-cluster-nmi",
}


@pytest.mark.parametrize(
    "name",
    sorted(
        q
        for q in QUERIES
        if q.startswith(("dedup-", "sim-", "text-decontaminate", "mm-binary"))
        and q not in _BOUNDED_NESTED_LOOP_OK
    ),
)
def test_dedup_similarity_tier_stays_equi_join_only(spark, sf_dir, name):
    """EVERY dedup/similarity/decontamination plan (bar the bounded
    brute-force baseline above) must be free of nested-loop and
    cartesian joins — the banded/bucketed candidate generation is the
    whole point of these operators, and a regression to all-pairs would
    pass correctness tests at fixture scale while being quadratic at
    corpus scale."""
    plan = _plan(spark, name, sf_dir)
    assert "BroadcastNestedLoopJoin" not in plan, name
    assert "CartesianProduct" not in plan, name


# Queries whose nested-loop BROADCAST side is bounded by something the
# mechanical marker scan below cannot prove (no global aggregate, no
# limit node in the broadcast subtree) — each entry must say WHY the
# side is bounded.
_UNBOUNDED_BNLJ_MARKER_OK = {
    # broadcast side = the SIM_NQUERY-row query set (vec_id < 5 filter
    # over the embeddings scan): bounded by the documented query-set
    # contract, not by a plan node the scanner can see
    "sim-topk-cosine",
    # same SIM_NQUERY-row query-set broadcast, twice (probe buckets and
    # the ground-truth scoring arm) — the sim-topk-cosine contract
    "sim-ann-recall-eval",
    # broadcast side = the 3-row CAMPAIGNS driver literal; Python
    # createDataFrame plans as RDDScanExec, which the scanner cannot
    # distinguish from an unbounded input (joins.py join_range_interval)
    "join-range-interval",
    # broadcast side = the per-feed audience totals (one row per
    # event_type — category cardinality, the dq-distribution-drift
    # summary boundedness class); the scanner can't prove a KEYED
    # aggregate bounded, but the pair fan-out is |feeds|², not data
    # (freq.py agg_bitmap_intersect)
    "agg-bitmap-intersect",
    # broadcast side = the SIM_NQUERY-row query set (vec_id < 5 filter
    # over the embeddings scan) scored against the corpus — the
    # sim-topk-cosine contract, one broadcast for both cosine arms
    "sim-matryoshka-eval",
    # embeds the sim-topk-cosine exact arm (same query-set broadcast)
    "sim-pq-recall-eval",
}

_BNLJ_BOUNDED_MARKERS = {
    "GlobalLimitExec",
    "TakeOrderedAndProjectExec",
    "CollectLimitExec",
    "LocalTableScanExec",
}
_BNLJ_AGG_NODES = {
    "HashAggregateExec",
    "SortAggregateExec",
    "ObjectHashAggregateExec",
}


def _bnlj_offenders(plan) -> list:
    """Every BroadcastNestedLoopJoin in the plan whose BROADCAST side
    carries no boundedness marker: a grouping-free (global, 1-row)
    aggregate, a limit/top-k node, or a local relation.  ReusedExchange
    passes — its original subtree is checked where it appears."""

    def bounded(node) -> bool:
        nm = node.getClass().getSimpleName()
        if nm in _BNLJ_BOUNDED_MARKERS or nm == "ReusedExchangeExec":
            return True
        # a literal-bounds Range (spark.range(k)) is bounded BY ITS OWN
        # PLAN NODE — accept only small ones (a grid/spine, not a
        # smuggled big side)
        if nm == "RangeExec" and int(str(node.numElements())) <= 10_000:
            return True
        if nm in _BNLJ_AGG_NODES and node.groupingExpressions().isEmpty():
            return True
        it = node.children().iterator()
        while it.hasNext():
            if bounded(it.next()):
                return True
        return False

    bad = []
    stack = [plan]
    while stack:
        node = stack.pop()
        nm = node.getClass().getSimpleName()
        if nm == "AdaptiveSparkPlanExec":
            stack.append(node.initialPlan())
            continue
        kids = []
        it = node.children().iterator()
        while it.hasNext():
            kids.append(it.next())
        if nm == "BroadcastNestedLoopJoinExec":
            bcast = [
                k
                for k in kids
                if k.getClass().getSimpleName().startswith(
                    ("BroadcastExchange", "BroadcastQueryStage", "ReusedExchange")
                )
            ]
            if not bcast or not all(bounded(b) for b in bcast):
                bad.append(nm)
        stack.extend(kids)
    return bad


def test_every_nested_loop_join_broadcasts_a_bounded_side(query_census):
    """Registry-wide nested-loop gate (the README's 'anywhere in the
    registry' claim, now actually enforced): a BroadcastNestedLoopJoin
    is only acceptable when its broadcast side is provably bounded —
    the 1-row scalar-boundary crossJoins (cap/totals/codebooks, global
    aggregates), top-k pools (limit nodes), or local literals.  A NEW
    nested-loop join against an UNBOUNDED side (the O(n²) regression
    class this gate exists for) fails here no matter which operator
    family it appears in; genuinely-bounded-but-unprovable sides go in
    _UNBOUNDED_BNLJ_MARKER_OK with a written reason."""
    skip = {"src-blockcursor-replay"}  # driver-side drain at construction
    offenders = {}
    for name, (_, plan) in query_census.items():
        if name in skip or name in _UNBOUNDED_BNLJ_MARKER_OK:
            continue
        bad = _bnlj_offenders(plan)
        if bad:
            offenders[name] = len(bad)
    assert not offenders, offenders


def test_column_pruning_on_projection(spark, sf_dir):
    """A 4-column projection over events must not read props (the widest
    column) — ReadSchema is the scan's actual column set."""
    plan = _plan(spark, "filter-blockrange", sf_dir)
    assert "props" not in plan


def test_sql_and_dataframe_forms_agree(spark, sf_dir):
    a = sorted(map(tuple, QUERIES["win-rank-top100"](spark, sf_dir).collect()))
    b = sorted(map(tuple, QUERIES["sql-api-top100"](spark, sf_dir).collect()))
    assert a == b


# ---------------------------------------------------------------------------
# Unpartitioned-window allowlist (VERDICT r4 task #7)
# ---------------------------------------------------------------------------

# Every WindowExec/WindowGroupLimitExec with an EMPTY partition spec moves
# all surviving rows to ONE partition — fatal at 100 TB unless the input
# is provably bounded first.  This is the exhaustive allowlist of queries
# whose plans may contain one, each with its boundedness argument; any
# NEW unpartitioned window anywhere else fails this test loudly instead
# of scrolling past as a WARN in the bench tail.
_UNPARTITIONED_WINDOW_ALLOWLIST = {
    # bounded carry-forward summary: ONE row per time bucket reaches the
    # global window (asof.py:101) — ~#hours of data, ~10^4-10^5 rows/year
    "join-asof": 1,
    "join-asof-forward": 1,
    "join-asof-tolerance": 1,  # same backward-asof carry, tolerance is a projection
    # fused single-pass nearest: the prev-closing and next-opening carries
    # scan the per-bucket summary in OPPOSITE orders (both as linear
    # running frames — an unboundedFollowing frame would be O(n²)), so
    # they cannot share a window node; both are over the bounded summary
    "join-asof-nearest": 2,
    # ≤50 rows post-TakeOrdered feed the final rank (text_analysis.py:236)
    "text-ngram-counts": 1,
    "text-bpe-step": 1,  # same bounded pattern: rank over the top-50 merges
    # global top-k rank: map-side Partial WindowGroupLimit caps the rows
    # reaching the single final partition at k per input partition, so the
    # three empty-partition nodes (Partial limit, Final limit, WindowExec)
    # see ≤ k×partitions rows, not the table
    "sort-topk-rank100": 3,
    "sort-limit-top10": 3,
    "join-semi-top100": 3,  # embeds the same derive-top100 global rank
    # weight normalizer over one row per corpus source (bounded by
    # construction; curation_ext.py curate_mixture_weights)
    "curate-mixture-weights": 1,
    # two rank windows over TakeOrdered top-RRF_POOL (≤20-row) candidate
    # lists — the ngram-counts bounded pattern, one per fusion arm
    "text-hybrid-rrf": 2,
    # bucket-offset running sum over the ≤256-row bucket-count summary
    # (curation_ext.curate_shuffle_index) — the bounded-carry pattern
    "curate-shuffle-index": 1,
    # seam lag over the one-row-per-bucket min/max summary (quality.py
    # dq_sequence_gaps) — same bounded-carry pattern
    "dq-sequence-gaps": 1,
    # r13: one carry window over HOUR-BUCKET sweep-line summaries (one
    # row per hour with any session start/end — calendar-bounded, ~8.8k
    # rows/data-year; intervals.analytics_peak_concurrency): the same
    # bounded-carry pattern as curate-shuffle-index
    "analytics-peak-concurrency": 1,
    # r10: the three global ntile(4) sorts were replaced by the scalable
    # exact-ntile (range-bucket by percentile_approx cutpoints → ranked
    # in parallel → broadcast offsets; analytics._exact_ntile_scalable);
    # what remains is one bounded offset-carry window per metric over the
    # ≤RFM_RANGE_BUCKETS-row bucket-count summary — the shuffle-index
    # bounded-carry pattern, one node per metric after frame fusion
    "analytics-rfm-segmentation": 3,
    # one global rank over the |types|^3-row path matrix (125 rows here)
    # — the bounded-summary pattern (analytics.py analytics_path_mining)
    "analytics-path-mining": 1,
    # two rank + two count windows over the one-row-per-day volume
    # frame, each appearing in two consumer branches (~365 rows/year;
    # quality.py dq_volume_anomaly — the day rollup beneath them is
    # lineage-cut so the fact scan runs once)
    "dq-volume-anomaly": 6,
    # drift rank over the |event_type|-row share summary (bounded by
    # category cardinality; quality.py dq_distribution_drift)
    "dq-distribution-drift": 1,
    # PSI total (unbounded-frame sum) + rank, both over the same
    # |event_type|-row share summary (quality.py dq_distribution_psi)
    "dq-distribution-psi": 2,
    # CUSUM running sum + global peak over the |days|-row volume
    # summary (bounded; timeseries.py ts_cusum_changepoint)
    "ts-cusum-changepoint": 2,
    # the temperature-weight normalizer over the |sources|-row summary —
    # the same bounded pattern as curate-mixture-weights
    # (curation_ext.py curate_mixture_sample)
    "curate-mixture-sample": 1,
    # shift rank over the |dims|-row centroid summary (bounded by the
    # embedding dimensionality; quality.py dq_embedding_drift)
    "dq-embedding-drift": 1,
    # the Lorenz accumulation over the 10-row decile summary (bounded by
    # construction).  The ntile machinery's ≤RFM_RANGE_BUCKETS-row offset
    # carry ALSO runs but sits above the grain lineage cut, so this scan
    # cannot see it — it is the same bounded-carry node the RFM allowlist
    # rows pin (analytics.py analytics_revenue_concentration)
    "analytics-revenue-concentration": 1,
    # trailing-median RANGE window over the day-cardinality volume
    # summary (~365 rows/year — the dq-volume-anomaly bounded class;
    # timeseries.py ts_rolling_median)
    "ts-rolling-median": 1,
    # two cumulative sums over the ≤VOCAB_SLICES-row slice summary
    # (bounded by the constant; text_analysis.py text_vocab_growth) —
    # frame fusion leaves one WindowExec node
    "text-vocab-growth": 1,
    # two |sources|-row normalizers: the embedded curate-mixture-weights
    # temperature normalizer plus the anneal arm's eligible-sum — both
    # over the bounded source-grain summary (curation_ext.py
    # curate_anneal_schedule)
    "curate-anneal-schedule": 2,
    # lag(1)/lag(12) over the month-cardinality revenue summary (~84
    # rows for the 7-year fixture — the dq-volume-anomaly bounded
    # class; analytics.py analytics_monthly_growth)
    "analytics-monthly-growth": 1,
}


def _unpartitioned_window_count(plan) -> int:
    n = 0
    stack = [plan]
    while stack:
        node = stack.pop()
        cname = node.getClass().getSimpleName()
        if cname == "AdaptiveSparkPlanExec":
            stack.append(node.initialPlan())
            continue
        if cname in ("WindowExec", "WindowGroupLimitExec") and node.partitionSpec().isEmpty():
            n += 1
        it = node.children().iterator()
        while it.hasNext():
            stack.append(it.next())
    return n


def test_unpartitioned_windows_are_exactly_the_allowlist(query_census):
    """Sweep EVERY registered query's physical plan: the set of queries
    containing empty-partition window nodes must equal the documented
    allowlist — no more (a new scale hazard), no fewer (stale allowlist)."""
    offenders = {}
    # src-blockcursor-replay materializes its rows driver-side at query
    # CONSTRUCTION (full stream drain + replay); its plan is a local
    # relation aggregate with no window nodes — skip the drain cost here
    skip = {"src-blockcursor-replay"}
    for name, (_, plan) in query_census.items():
        if name in skip:
            continue
        c = _unpartitioned_window_count(plan)
        if c:
            offenders[name] = c
    assert offenders == _UNPARTITIONED_WINDOW_ALLOWLIST

"""The benchmark's workloads: named lists of exact SparkEntry query
names, each run as a closed loop by one client thread."""
import random

# dashboard and maintain list an odd number of queries: the median of
# all timed samples then falls inside one query's samples rather than on
# the edge between two queries whose times differ widely.
WORKLOADS = {
    # Interactive reads: rollup-routed and advised queries beside their
    # raw twins, plus product-analytics funnel and retention reads.
    # plans/RollupRouting and plans/Advisor do most of their work here,
    # and the per-query fixed cost (Catalyst plus job scheduling)
    # dominates. Two LLM-corpus reads ride along so that the llm/* and
    # expr/* kernels and the session index caches are measured too: q63
    # reads the session-cached shingle/edge/component indexes (built in
    # set-up), q28 is a brute k-NN over the expr DotProduct kernel. No
    # stream runs.
    "dashboard": [
        "q01_daily_rollup", "q155_daily_from_hourly_routed",
        "q16_revenue_segment", "q144_revenue_segment_routed",
        "q04_uniq_users", "q169_uniq_users_routed",
        "q176_advised_orders", "q230_funnel_from_states", "q222_retention",
        "q63_cc_clusters", "q28_knn_brute",
    ],
    # The write path: a CDC summing MV, a daily stream MV, a stateful
    # stream, a stream-maintained join MV that is compacted and then read
    # through its hybrid tail, and a TTL lifecycle (ops/Lifecycle: a
    # day-partitioned lake aged into its rollup, then read across the
    # expiry boundary). streaming/Live, the state store, the labelled
    # maintenance jobs and the file commits dominate; routing runs as a
    # read after writes.
    "maintain": [
        "q153_cdc_summing_mv", "q32_stream_daily", "q56_stateful_totals",
        "q171_stream_revseg_hybrid", "q160_ttl_aggregate",
    ],
    # LLM-corpus batch operators: bypasses routing and streaming (their
    # layers should read zero here) and exercises the llm/* and expr/*
    # kernels and the session index caches, whose builds land in set-up.
    # Runnable by name; BENCHMARK.json leaves it out so that ten or more
    # runs of every listed workload fit in an hour: a run of curate takes
    # about a minute (its index builds make the longest warm pass).
    # dashboard carries two of its queries instead.
    "curate": [
        "q22_dedup_exact", "q23_text_stats", "q24_quality",
        "q27_ngram_jaccard", "q28_knn_brute", "q57_curate", "q63_cc_clusters",
        "q91_minhash_bands", "q105_embed_clusters", "q113_semantic_keep",
        "q118_ann_recall", "q136_fp_index_probe",
    ],
}

# Least number of timed passes per run. Timed passes keep getting faster
# for a minute after the warm pass (JIT), so a run takes enough of them
# for its median to sit past the steepest part. The workloads are small
# (of the 296 queries) because every run pays a fresh JVM, a session
# start and a warm pass of about 2-3 s per distinct query.
MIN_PASSES = {"dashboard": 8, "maintain": 4, "curate": 3}


def select(wanted, catalog):
    """The queries named in `wanted`, matched exactly against the
    engine's catalog; an unknown or repeated name is an error, never a
    prefix match."""
    known = set(catalog)
    unknown = [n for n in wanted if n not in known]
    if unknown:
        raise ValueError(f"unknown query names: {', '.join(unknown)}")
    if len(set(wanted)) != len(wanted):
        raise ValueError("a query is named twice")
    return list(wanted)


def pass_orders(names, seed, passes):
    """`passes` orders of `names`, each a permutation drawn from `seed`;
    the seed changes nothing else."""
    rng = random.Random(seed)
    orders = []
    for _ in range(passes):
        order = list(names)
        rng.shuffle(order)
        orders.append(order)
    return orders

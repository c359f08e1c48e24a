"""Workload definitions: which queries run over the generated tables, and
how many timed passes a run makes.

Query names are the keys of `graft.SparkEntry.queries`. The seed only
chooses the order queries run in within each timed pass of a run; the tables
are generated from the fixed DATA_SEED so that reference fingerprints can
be stored next to the benchmark (refs.json).
"""

import math
import random

DATA_SEED = 42
DATA_SF = 0.1
# documents/embeddings at a quarter of sf0.1, to keep a corpus run within its time
DATA_CORPUS_SF = 0.025

WORKLOADS = {
    # Stateless relational packs: short chains of small jobs, so analysis,
    # planning and per-job scheduling dominate.
    "relational": {"sized_pass_s": 5.0, "serve_checks": [], "queries": [
        "q02_traffic_total", "q13_cast_compare", "q15_not_in_nulls",
        "q16_scalar_subquery", "q17_shipping_priority", "q22_join_semi",
        "q25_cross_dims", "q26_union_all",
        "q35_topk", "q44_salted_agg", "q87_histogram", "q95_monthly_revenue",
        "q36_window_topn", "q81_range_band_join", "q48_lookup_hit", "q50_lookup_batch",
        "q45_widecol_prefix_scan", "q55_tumbling_window", "q58_json_extract",
    ]},
    # LLM-corpus packs: the task-bound dedup/similarity/text kernels plus
    # the two store-backed incremental-dedup queries. Their stores are
    # built in the check pass, so every timed pass takes the serve (read)
    # path, which serve_checks fingerprints once more, untimed.
    "corpus": {"sized_pass_s": 7.0,
               "serve_checks": ["q127_incremental_dedup_indexed",
                                "q135_incremental_dedup_storeddf"], "queries": [
        "q142_fuzzy_name_pairs", "q66_dedup_jaccard", "q73_dedup_embedding_lsh",
        "q69_dedup_embedding", "q147_winnowing_pairs", "q67_dedup_minhash_lsh",
        "q62_fingerprints", "q59_normalize", "q116_semantic_dedup",
        "q68_dedup_simhash", "q40_inverted_v1",
        "q127_incremental_dedup_indexed", "q135_incremental_dedup_storeddf",
    ]},
}


def timed_passes(workload, seconds):
    """Number of timed passes for a run of --seconds: enough passes of the
    length the workload was sized with (a steady pass at the commit that
    added the benchmark) to fill the seconds. It depends on nothing
    measured, so a faster program makes the same passes, and every metric
    covers the same samples on both sides of a comparison."""
    return max(1, math.ceil(seconds / workload["sized_pass_s"]))


def query_orders(queries, seed, passes):
    """The query order of each timed pass: one seed-determined permutation
    per pass, the same for every run with that seed. The untimed check and
    warm passes run the queries in their listed order, so that the JIT has
    seen the same sequence when timing starts whatever the seed."""
    rng = random.Random(seed)
    orders = []
    for _ in range(passes):
        order = list(queries)
        rng.shuffle(order)
        orders.append(order)
    return orders

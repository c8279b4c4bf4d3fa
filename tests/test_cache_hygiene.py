"""Cache bookkeeping: every operator that persists/checkpoints intermediates
must register them with the registry tracker, so a long driver session
running the whole registry holds a BOUNDED set of cached blocks instead of
accumulating one query's worth per query (round-4 ADVICE: the global
clearCache wrapper was replaced by per-operator release discipline)."""

from pyspark.sql import functions as F

from twilio_event_streams_reporting_example_spark.registry import (
    all_queries,
    persistent_rdd_entries,
    release_caches,
)

# The cache-heavy families: persist()-based two-pass shingle cap, cached
# minhash signatures, and both iterative-checkpoint CC loops.
SWEEP = (
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "dedup_duplicate_clusters",  # shared persisted pairs + both CC loops
    "embedding_neardup",
    "corpus_prep",  # persisted gated profile + CC via near-dup removal
    "knn_methods",  # five-strategy union
)


def test_no_cached_block_growth_across_sweep(spark, sf_dir):
    sc = spark.sparkContext
    release_caches()
    spark.catalog.clearCache()
    baseline = set(persistent_rdd_entries(sc))
    qs = all_queries()
    for name in SWEEP:
        df = qs[name].fn(spark, sf_dir)
        df.count()  # consume
        release_caches()
        spark.catalog.clearCache()
        leaked = set(persistent_rdd_entries(sc)) - baseline
        assert not leaked, f"{name}: leaked cached RDDs {leaked}"


def test_cc_round_blocks_bounded(spark, sf_dir):
    """During the hash-min CC loop, only the current round's checkpoints
    (plus the pinned edge list) may hold blocks — previous rounds must be
    dropped as the loop advances. Proxy check: after evaluating, the set of
    persistent RDDs is small (edge list + final round + trackables), not
    one pair per round."""
    from twilio_event_streams_reporting_example_spark.operators.graph import (
        connected_components,
    )

    sc = spark.sparkContext
    release_caches()
    spark.catalog.clearCache()
    baseline = set(persistent_rdd_entries(sc))
    # a 64-node chain forces several pointer-jump rounds
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(64)], "doc_a long, doc_b long"
    )
    cc = connected_components(pairs, local_threshold=0)
    assert cc.filter(F.col("cluster_id") != 0).count() == 0
    alive = set(persistent_rdd_entries(sc)) - baseline
    # pinned edges (≤2 rdds) + final round (mid + stepped) + slack — far
    # fewer than the ~2-per-round an unbounded loop would leave behind
    assert len(alive) <= 5, f"unexpected live checkpoint RDDs: {alive}"
    release_caches()
    assert not (set(persistent_rdd_entries(sc)) - baseline)


def test_cc_no_cachemanager_entry_growth(spark):
    """The per-round mid.cache() must be released through the DataFrame
    API, not just its raw RDD blocks: otherwise the SQL CacheManager
    keeps one InMemoryRelation entry (pinning an analyzed plan) per
    round per connected_components call for the life of the session."""
    from twilio_event_streams_reporting_example_spark.operators.graph import (
        connected_components,
    )

    cm = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    assert cm.isEmpty()
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(64)], "doc_a long, doc_b long"
    )
    cc = connected_components(pairs, local_threshold=0)
    assert cc.filter(F.col("cluster_id") != 0).count() == 0
    release_caches()
    assert cm.isEmpty(), "CacheManager entries leaked by the CC loop"


def test_incremental_merge_leaves_no_blocks(spark):
    """The merge checkpoints its parsed batch and its scoped recompute and
    drops those blocks itself; the recompute plan's own tracked caches go
    to the caller's scoped_releases() block. After the block, the merge
    has left no persistent RDD and no CacheManager entry behind."""
    import json
    import tempfile

    from twilio_event_streams_reporting_example_spark.registry import scoped_releases
    from twilio_event_streams_reporting_example_spark.sources.incremental import (
        incremental_taskrouter_update,
        initialize_taskrouter,
    )
    from twilio_event_streams_reporting_example_spark.taskrouter.fixture import (
        FIXTURE_EVENTS,
    )

    sc = spark.sparkContext
    cm = spark._jsparkSession.sharedState().cacheManager()
    rows = [(i, json.dumps(e)) for i, e in enumerate(FIXTURE_EVENTS)]
    half = len(rows) // 2
    first, second = (
        spark.createDataFrame(part, "arrival_idx bigint, raw string")
        for part in (rows[:half], rows[half:])
    )
    with tempfile.TemporaryDirectory() as d:
        initialize_taskrouter(spark, first, d)
        release_caches()
        spark.catalog.clearCache()
        baseline = set(persistent_rdd_entries(sc))
        assert cm.isEmpty()
        with scoped_releases():
            incremental_taskrouter_update(spark, second, d)
        assert not (set(persistent_rdd_entries(sc)) - baseline)
        assert cm.isEmpty(), "CacheManager entries left by the merge"

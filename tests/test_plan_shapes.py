"""Physical-plan assertions: the optimizations the engine's design
depends on must actually appear in the executed plan — broadcast hash
join for the notification dim, predicate pushdown and column pruning
reaching the parquet scan, no nested-loop join in the bucketized
interval join, partial aggregation for count_by_key.
"""

import contextlib
import io

import pytest

from pyspark.sql import functions as F

import __spark_entry__ as entry


def plan_of(df, mode="formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode=mode)
    return buf.getvalue()


def test_validation_uses_broadcast_hash_join(spark, sf001):
    out = entry._validation_outputs(spark, sf001)
    plan = plan_of(out.annotated)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan  # the dim must never shuffle the facts


def test_filter_pushdown_reaches_scan(spark, sf001):
    df = entry.q_filter_orders(spark, sf001)
    plan = plan_of(df)
    # The query's own predicate always reaches the scan. The IsNotNull is
    # not part of the query: Catalyst infers it only when constraint
    # propagation is on, which the session turns off in local mode (see
    # session.get_spark). It filters nothing extra, since NULL = 'F' is
    # never true.
    pushed = ["EqualTo(o_orderstatus,F)"]
    if spark.conf.get("spark.sql.constraintPropagation.enabled") == "true":
        pushed.insert(0, "IsNotNull(o_orderstatus)")
    assert f"PushedFilters: [{', '.join(pushed)}]" in plan


def test_column_pruning_reaches_scan(spark, sf001):
    df = entry.q_project_net_price(spark, sf001)
    plan = plan_of(df)
    # only the three needed columns are read, not the full lineitem row
    read = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "l_orderkey" in read and "l_extendedprice" in read
    assert "l_shipdate" not in read and "l_comment" not in read


def test_interval_join_is_not_nested_loop(spark, sf001):
    df = entry.q_interval_join_anchor_windows(spark, sf001)
    plan = plan_of(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_count_by_key_has_partial_aggregation(spark, sf001):
    df = entry.q_count_by_key(spark, sf001)
    plan = plan_of(df, mode="simple")
    # two HashAggregates (partial + final) around the exchange
    assert plan.count("HashAggregate") >= 2
    assert "Exchange hashpartitioning" in plan


def test_semi_and_anti_joins_planned_as_joins(spark, sf001):
    semi = plan_of(entry.q_semi_join_customers_with_orders(spark, sf001))
    anti = plan_of(entry.q_anti_join_customers_without_orders(spark, sf001))
    assert "LeftSemi" in semi
    assert "LeftAnti" in anti


def test_minhash_pipeline_shuffles_are_aggregates_not_sorts(spark, sf001):
    from hri_flink_pipeline_core_spark.operators.dedup import minhash_lsh_candidates
    from hri_flink_pipeline_core_spark.session import read_table

    df = minhash_lsh_candidates(read_table(spark, sf001, "documents"))
    plan = plan_of(df, mode="simple")
    # the skew guard/salt must come from a broadcast of the (tiny)
    # oversized-bucket count table, never from a window sort over the
    # full exploded stream
    assert "Window" not in plan
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_tpch_q18_aggregates_before_join(spark, sf001):
    """The HAVING semi-aggregation must run before the orders/customer
    joins (aggregate-then-join): at scale only ~1% of orders survive the
    quantity filter, so joining first would shuffle 100x the rows."""
    plan = plan_of(entry.q_tpch_q18_large_orders(spark, sf001), mode="simple")
    agg_pos = plan.rfind("HashAggregate")  # innermost (deepest) aggregate
    join_pos = plan.find("Join")  # outermost join
    assert agg_pos != -1 and join_pos != -1
    assert agg_pos > join_pos  # deeper in the tree = later in the dump


def test_tpch_q7_q10_dims_broadcast(spark, sf001):
    for q in (
        entry.q_tpch_q7_nation_volume,
        entry.q_tpch_q10_returned_items,
        entry.q_tpch_q8_market_share,
    ):
        plan = plan_of(q(spark, sf001))
        assert "BroadcastHashJoin" in plan
        # only the lineitem<->orders fact join may shuffle-join
        assert plan.count("SortMergeJoin") <= 1


def test_tpch_q22_anti_join_with_pushed_priority_filter(spark, sf001):
    plan = plan_of(entry.q_tpch_q22_idle_customers(spark, sf001))
    assert "LeftAnti" in plan
    # the urgent-priority predicate must reach the orders scan
    assert "EqualTo(o_orderpriority,1-URGENT)" in plan


def test_tpch_q6_is_scan_plus_agg_only(spark, sf001):
    plan = plan_of(entry.q_tpch_q6_forecast_revenue(spark, sf001), mode="simple")
    assert "Join" not in plan
    # date-range predicates push into the parquet reader
    full = plan_of(entry.q_tpch_q6_forecast_revenue(spark, sf001))
    assert "PushedFilters" in full and "l_shipdate" in full.split("PushedFilters")[1][:300]


def test_dedup_clusters_reuses_materialized_edges(spark, sf001):
    """The CC iterations must read the materialized pair graph
    (localCheckpoint -> LogicalRDD leaf since round 5), not re-run the
    MinHash pipeline per iteration: the plan contains the checkpointed
    RDD scan and NO parquet scan of the corpus."""
    df = entry.q_dedup_clusters(spark, sf001)
    plan = plan_of(df, mode="simple")
    assert "Scan ExistingRDD" in plan
    assert "Scan parquet" not in plan


def test_term_topk_has_partial_aggregation(spark, sf001):
    plan = plan_of(entry.q_term_topk(spark, sf001), mode="simple")
    # explode -> partial agg before the shuffle, final after
    assert plan.count("HashAggregate") >= 2
    assert "Generate explode" in plan


def test_bucketed_join_has_no_exchange(spark, sf001):
    """With auto-broadcast off (simulating two at-scale fact tables), the
    bucketed join must be a zero-Exchange sort-merge over bucketed scans."""
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = plan_of(entry.q_bucketed_join_colocated(spark, sf001))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert plan.count("Bucketed: true") == 2
    assert "SortMergeJoin" in plan
    assert "Exchange hashpartitioning" not in plan


def test_centroid_distances_materializes_centroids(spark, sf001):
    plan = plan_of(entry.q_centroid_distances(spark, sf001), mode="simple")
    # corpus-scale mean computation runs once: the pairwise self-join
    # reads the checkpointed k-row centroid leaf (round 5), never the
    # embeddings scan
    assert "Scan ExistingRDD" in plan
    assert "Scan parquet" not in plan


def test_salted_join_is_shuffled_on_composite_key(spark, sf001):
    plan = plan_of(entry.q_salted_join_skewed(spark, sf001))
    assert "ShuffledHashJoin" in plan  # pinned; broadcast would skip salting
    assert "_salt" in plan  # composite (key, salt) partitioning


def test_merge_upsert_is_single_anti_join_plus_union(spark, sf001):
    """merge_upsert = one anti-join + union: no join beyond the anti,
    and the scans prune to the selected columns only."""
    df = entry.q_merge_upsert(spark, sf001)
    plan = plan_of(df)
    assert "LeftAnti" in plan
    assert plan.count("Join") <= plan.count("LeftAnti") + plan.count("Union")
    assert "Union" in plan


def test_snapshot_diff_is_one_full_outer_join(spark, sf001):
    """snapshot_diff = exactly one full-outer join; the
    change-classification is pure projection (no extra shuffle)."""
    df = entry.q_snapshot_diff(spark, sf001)
    plan = plan_of(df)
    assert "FullOuter" in plan
    # two Exchanges max (one per join side); classification adds none
    simple = plan_of(df, mode="simple")
    assert simple.count("Exchange hashpartitioning") <= 2


def test_pii_redact_is_scan_shaped(spark, sf001):
    """PII scrub must stay a pure map stage: no Exchange at all, and
    only the two referenced columns read from the scan."""
    df = entry.q_pii_redact(spark, sf001)
    plan = plan_of(df)
    # the only Exchange allowed is the deliberate round-robin spread()
    # (single-row-group local testdata); never a hash shuffle
    assert "Exchange hashpartitioning" not in plan_of(df, mode="simple")
    assert "ReadSchema" in plan and "text" in plan and "lang" not in plan.split("ReadSchema", 1)[1].split("\n", 1)[0]


def test_contamination_eval_side_is_broadcast(spark, sf001):
    """Decontamination must broadcast the (benchmark-sized) eval shingle
    set, never shuffle the corpus side for the join; the eval/corpus
    split is a scan-level filter, not a post-shuffle one."""
    df = entry.q_contamination_flag(spark, sf001)
    plan = plan_of(df)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_zorder_index_is_scan_shaped(spark, sf001):
    """Morton-key derivation is pure per-row bit arithmetic: no Exchange,
    whole-stage codegen, and only the two layout columns read."""
    df = entry.q_zorder_index(spark, sf001)
    plan = plan_of(df, mode="simple")
    assert "Exchange" not in plan
    assert "*(1)" in plan  # whole-stage-codegen'd project over the scan
    read = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "p_partkey" in read and "p_size" in read
    assert "p_name" not in read and "p_retailprice" not in read


def test_topp_select_single_shuffle(spark, sf001):
    """Both windows (running sum + language total) share the lang
    partitioning: exactly one hash Exchange in the plan."""
    df = entry.q_topp_select(spark, sf001)
    plan = plan_of(df, mode="simple")
    assert plan.count("Exchange hashpartitioning") == 1


def test_sessionize_single_shuffle(spark, sf001):
    """lag-flag window, running-sum session id, and the per-session
    aggregate all run on the user_id partitioning: one hash Exchange
    (the groupBy keys extend the window key, so no re-shuffle)."""
    df = entry.q_sessionize_events(spark, sf001)
    plan = plan_of(df, mode="simple")
    assert plan.count("Exchange hashpartitioning") == 1


def test_weighted_sample_max_is_broadcast(spark, sf001):
    """The 1-row max(n_chars) side joins via broadcast nested loop (a
    1-row cross join), and the weighted filter prunes to the needed
    columns at the scan."""
    df = entry.q_weighted_sample(spark, sf001)
    plan = plan_of(df)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_triangle_count_reuses_materialized_edges(spark, sf001):
    """The candidate-edge build (full LSH lineage) must run once: all
    five consumers (3 triangle sides, edge count, node count) read the
    localCheckpoint-ed edge table (flat LogicalRDD since round 5), and
    no corpus parquet scan remains in the plan."""
    df = entry.q_triangle_count(spark, sf001)
    plan = plan_of(df, mode="simple")
    assert plan.count("Scan ExistingRDD") >= 5
    assert "Scan parquet" not in plan


def test_posting_lists_partial_aggregates(spark, sf001):
    """Both groupBys ((term,doc) then term) must partial-aggregate
    before their exchanges — 4+ HashAggregates around 2 shuffles."""
    df = entry.q_posting_lists(spark, sf001)
    plan = plan_of(df, mode="simple")
    assert plan.count("HashAggregate") >= 4
    assert plan.count("Exchange hashpartitioning") == 2


def test_repetition_score_partial_aggregates(spark, sf001):
    """The per-doc gram counts partial-aggregate; count_distinct adds
    its expand/partial stages but only one hash shuffle family (doc_id)."""
    df = entry.q_repetition_score(spark, sf001)
    plan = plan_of(df, mode="simple")
    assert plan.count("HashAggregate") >= 2
    assert "Exchange hashpartitioning" in plan


def test_curation_pipeline_shuffle_budget(spark, sf001):
    """The composed pipeline: dedup window + final per-lang agg are the
    only hash shuffles (quality gate, content key, and sample are
    scan-stage codegen); no sort-merge joins anywhere."""
    df = entry.q_curation_pipeline(spark, sf001)
    plan = plan_of(df, mode="simple")
    assert plan.count("Exchange hashpartitioning") <= 2
    assert "SortMergeJoin" not in plan


def test_bm25_filters_query_terms_before_shuffle(spark, sf001):
    """The tf aggregate must only shuffle query-term hits: the isin
    filter sits below the first Exchange, and the per-(doc,term) count
    partial-aggregates map-side."""
    plan = plan_of(entry.q_bm25_topk(spark, sf001), mode="simple")
    filter_pos = plan.rfind("Filter")   # deepest filter (nearest the scan)
    exch_pos = plan.rfind("Exchange")   # deepest exchange
    assert filter_pos != -1 and exch_pos != -1
    assert filter_pos > exch_pos  # deeper in dump = closer to the scan
    assert plan.count("HashAggregate") >= 2  # partial + final


def test_duplicate_spans_single_window_partitioning(spark, sf001):
    """Span assembly (lag flag + running sum) must share ONE doc-keyed
    sort — two Window operators, one hashpartitioning(doc_id) exchange
    feeding them."""
    plan = plan_of(entry.q_duplicate_spans(spark, sf001), mode="simple")
    assert plan.count("Window") >= 1
    # no more than one exchange on doc_id for the whole window chain
    assert plan.count("hashpartitioning(doc_id") <= 2


def test_span_cut_single_corpus_explode(spark, sf001):
    """span_cut_text's only corpus explode is the shingle-hash stream
    (checkpointed; both span-detection consumers read the flat leaf),
    and the CUT side never explodes or anti-joins the token stream at
    all (round 7): the rewrite is a positional array filter against the
    per-doc covered-ranges array, so no posexplode Generate and no
    (doc, pos)-keyed anti-join appear anywhere in the final plan."""
    plan = plan_of(entry.q_span_cut_text(spark, sf001), mode="simple")
    assert plan.count("Generate posexplode") == 0
    assert plan.count("Scan ExistingRDD") >= 2
    assert "LeftAnti" not in plan


def test_winsorized_bounds_are_broadcast(spark, sf001):
    """The per-language bounds table is tiny — joining it back to the
    corpus must broadcast, never shuffle the documents side."""
    plan = plan_of(entry.q_winsorized_stats(spark, sf001), mode="simple")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_dedup_keep_best_broadcasts_cluster_membership(spark, sf001):
    """The corpus-side quality scan must join the (small) cluster
    membership without shuffling the corpus: a broadcast hash join, and
    the canonical-selection window shares one cluster_id partitioning."""
    plan = plan_of(entry.q_dedup_keep_best(spark, sf001), mode="simple")
    assert "BroadcastHashJoin" in plan
    assert plan.count("Window") >= 1
    assert plan.count("hashpartitioning(cluster_id") <= 2


def test_shard_assignment_single_shuffle_partial_agg(spark, sf001):
    """Deterministic sharding is ONE hash-partition shuffle with map-side
    partial aggregation — the content hash runs on the scan side."""
    plan = plan_of(entry.q_shard_assignment(spark, sf001), mode="simple")
    assert plan.count("HashAggregate") >= 2  # partial + final
    # one exchange for the groupBy(shard); nothing else shuffles
    assert plan.count("Exchange") <= 2  # agg exchange (+ AQE read)
    assert "SortMergeJoin" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_incremental_neardup_new_side_broadcast(spark, sf001):
    """Cross-corpus candidate generation must broadcast the NEW side so
    the reference corpus's banded rows never shuffle for it, and nothing
    degenerates to a cartesian product."""
    plan = plan_of(entry.q_incremental_neardup(spark, sf001), mode="simple")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_semdedup_assignment_broadcasts_centroids(spark, sf001):
    """SemDeDup: the centroid table is tiny and must be the broadcast
    build side of the assignment cross join (BroadcastNestedLoopJoin —
    there is no equi key against 10 centroid rows); the within-cluster
    pair join is the grid-salted bucket_pairs equi-join (see
    test_semdedup_pair_join_is_grid_salted); nothing plans as an
    unbroadcast cartesian product."""
    # the assignment subtree executes at checkpoint time (round 5), so
    # assert its shape directly: centroids must be the broadcast build
    # side of the cross join
    from hri_flink_pipeline_core_spark.operators import similarity as S
    from hri_flink_pipeline_core_spark.session import read_table

    emb = read_table(spark, sf001, "embeddings")
    assigned = S.kmeans_assign(emb, S.ivf_centroids(emb))
    assign_plan = plan_of(assigned, mode="simple")
    assert "BroadcastExchange" in assign_plan
    assert "CartesianProduct" not in assign_plan
    # ... and the final plan reads the checkpointed members leaf with
    # no cartesian product anywhere
    plan = plan_of(entry.q_semdedup_prune(spark, sf001), mode="simple")
    assert "CartesianProduct" not in plan
    assert "Scan ExistingRDD" in plan


def test_semdedup_pair_join_is_grid_salted(spark, sf001):
    """SemDeDup's within-cluster pair join must route through the
    dedup.bucket_pairs grid salt (round 8): the join key is the
    composite (cluster, _ga, _gb), so a hot cluster's O(n²) pair work
    splits across G² bounded tasks instead of one task hash-owning the
    whole cluster. Mirrors test_salted_join_is_shuffled_on_composite_key
    (broadcast is fine at test scale — the salt columns in the join key
    are the invariant, not the physical join strategy)."""
    plan = plan_of(entry.q_semdedup_prune(spark, sf001), mode="simple")
    assert "_ga" in plan and "_gb" in plan
    join_lines = [
        l for l in plan.splitlines() if "Join [cluster" in l or "Join [_ga" in l
    ]
    assert any("_ga" in l and "_gb" in l for l in join_lines)
    assert "CartesianProduct" not in plan


def test_pq_adc_literal_model_no_joins(spark, sf001):
    """PQ ADC after the round-6 literal-model rewrite: the codebooks are
    LITERAL expressions (collected once at build, injected like MLlib
    KMeans does), so corpus encoding is join-free; the only join left
    is the tiny query-LUT side broadcast-nested-loop against the
    encoded corpus. The corpus itself never shuffles except the final
    per-query top-k exchange (WindowGroupLimit runs partial-first)."""
    plan = plan_of(entry.q_ann_pq_adc(spark, sf001), mode="simple")
    assert plan.count("BroadcastHashJoin") == 0  # encode is literal now
    assert plan.count("SortMergeJoin") == 0
    assert plan.count("BroadcastNestedLoopJoin") == 1  # LUT side broadcast
    assert "CartesianProduct" not in plan
    assert "WindowGroupLimit" in plan  # top-k bounded before the exchange


def test_vocab_coverage_vocab_keyed_aggregation(spark, sf001):
    """Vocab coverage: the n-gram stream collapses into a vocabulary-
    keyed partial aggregate before any window/join; the checkpoint table
    (4 rows) is the broadcast side of the non-equi rank join."""
    plan = plan_of(entry.q_vocab_coverage(spark, sf001), mode="simple")
    assert plan.count("HashAggregate") >= 2  # partial + final gram counts
    assert "CartesianProduct" not in plan


def test_media_exact_dedup_blob_never_shuffles(spark, sf001):
    """Blob dedup: md5/length are scan-side; the single hash exchange
    moves only the 16-byte key + ints, never the content column."""
    plan = plan_of(entry.q_media_exact_dedup(spark, sf001), mode="simple")
    assert plan.count("HashAggregate") >= 2  # partial + final
    # the binary column (attr ref "content#N") must not appear in any
    # exchange — "content_md5" is fine, the raw blob is not
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "content#" not in line


def test_skew_profile_single_count_shuffle(spark, sf001):
    """Skew diagnostic: one partial-agg shuffle to per-key counts; all
    downstream statistics run on the key-sized table."""
    plan = plan_of(entry.q_skew_profile(spark, sf001), mode="simple")
    assert plan.count("HashAggregate") >= 2
    assert "CartesianProduct" not in plan  # stats side is broadcast


def test_kmv_set_ops_sketch_joins_are_small(spark, sf001):
    """Sketch algebra plan shapes (round 10):

    - q_kmv_set_ops returns a 3-row LITERAL result (the pair algebra
      ran driver-side on collected k-bounded sketches) — its final plan
      must be a local/flat leaf with no join, exchange or aggregate
      left;
    - the sketch BUILD and the exact-sum aggregation it collects from
      keep the rounds-5-9 guarantees: partial aggs, checkpointed gram
      leaf (no parquet rescan), and no per-key-data-sized WindowExec
      anywhere (VERDICT r5 #4)."""
    lit_plan = plan_of(entry.q_kmv_set_ops(spark, sf001), mode="simple")
    for op in ("Join", "Exchange", "HashAggregate", "Window"):
        assert op not in lit_plan
    gm, sk = entry._kmv_vocab_and_sketch(spark, sf001)
    sketch_plan = plan_of(sk, mode="simple")
    assert sketch_plan.count("HashAggregate") >= 2
    assert "Window" not in sketch_plan
    assert "Scan ExistingRDD" in sketch_plan
    assert "Scan parquet" not in sketch_plan
    exact_plan = plan_of(entry._kmv_exact_sums(gm), mode="simple")
    assert exact_plan.count("HashAggregate") >= 2
    assert "Scan ExistingRDD" in exact_plan
    assert "Scan parquet" not in exact_plan
    assert "Window" not in exact_plan


def test_kmv_distinct_no_window(spark, sf001):
    """kmv_distinct (round 7, SURVEY round-7 item): the per-event_type
    k-minima come from the same two-level bucketed partial min-k as
    kmv_set_ops — no partitioned row_number window over the
    distinct-hash table remains."""
    plan = plan_of(entry.q_kmv_distinct(spark, sf001), mode="simple")
    assert "Window" not in plan
    assert plan.count("HashAggregate") >= 2


def test_kmv_distinct_bucket_count_is_sketch_invariant(spark, sf001):
    """n_buckets is a memory knob, not a semantic (VERDICT r8 #4): the
    k global minima survive any bucketing, so every bucket count must
    yield the identical sketch row-for-row."""
    base = sorted(map(tuple, entry.q_kmv_distinct(spark, sf001).collect()))
    for nb in (8, 256):
        alt = sorted(
            map(tuple, entry.q_kmv_distinct(spark, sf001, n_buckets=nb).collect())
        )
        assert alt == base, f"n_buckets={nb} changed the sketch"


def test_bloom_prune_bits_are_broadcast_and_fact_never_width_shuffles(
    spark, sf001
):
    """The point of Bloom pruning: the m-bit filter is a literal bitmap
    probed scan-side (round 6 — no bits join at all), the dim truth
    join is a broadcast, and the fact table is never sort-merge joined
    or exchanged at full width."""
    df = entry.q_bloom_prune(spark, sf001)
    plan = plan_of(df, mode="simple")
    assert plan.count("BroadcastHashJoin") >= 1  # truth join
    assert "getbit" in plan  # literal-bitmap probe, codegen scan-side
    assert "SortMergeJoin" not in plan
    # no fact-keyed exchange: the only hash exchanges allowed are the
    # scalar-agg SinglePartition collapse
    assert "Exchange hashpartitioning" not in plan


def test_countmin_probe_joins_broadcast_cells(spark, sf001):
    """The 4x512 counter table is bounded by construction -> the probe
    join must broadcast it, and counter build + vocab count both keep
    partial aggregation."""
    df = entry.q_countmin_heavy(spark, sf001)
    plan = plan_of(df, mode="simple")
    assert "BroadcastHashJoin" in plan
    assert plan.count("HashAggregate") >= 4  # partial+final x (vocab, cells)


def test_dataset_split_single_partial_agg_shuffle(spark, sf001):
    """split/bucket are scan-side codegen expressions; the only shuffle
    is the final (source, split) partial agg."""
    df = entry.q_dataset_split(spark, sf001)
    plan = plan_of(df, mode="simple")
    assert plan.count("Exchange hashpartitioning") == 1
    assert plan.count("HashAggregate") >= 2


def test_ann_sq_topk_broadcasts_queries(spark, sf001):
    """SQ brute-force keeps ann_topk's shape: query side broadcast, no
    corpus shuffle before the per-query top-k."""
    df = entry.q_ann_sq_topk(spark, sf001)
    plan = plan_of(df, mode="simple")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_gopher_rules_two_level_partial_agg(spark, sf001):
    """(doc,tok) then doc — both aggregations partial+final."""
    df = entry.q_gopher_rules(spark, sf001)
    plan = plan_of(df, mode="simple")
    assert plan.count("HashAggregate") >= 4


@pytest.mark.parametrize(
    "qname",
    [
        "bigram_topk",
        "pmi_bigrams",
        "countmin_heavy",
        "rolling_zscore",
        "cooccurrence_lift",
        "vocab_coverage",
    ],
)
def test_global_topk_is_distributed(spark, sf001, qname):
    """Round-5 fix for VERDICT r4 'What's wrong' #1: every global top-k
    plans as TakeOrderedAndProject (per-partition bounded heap, k rows
    to the driver) — never a single-partition window sort of the full
    vocabulary/score table. The only unpartitioned window allowed is
    the post-limit rank derivation, whose input is the <=k-row top-k
    result (WindowExec fed by TakeOrderedAndProject, a constant)."""
    df = entry.queries()[qname](spark, sf001)
    plan = plan_of(df, mode="formatted")
    assert "TakeOrderedAndProject" in plan
    # The old pattern's signature was Window <- Sort <- Exchange
    # SinglePartition over the FULL aggregate table. Now every Window
    # must be fed either directly by the k-row TakeOrderedAndProject
    # (rank derivation over a constant) or by a keyed
    # Sort <- Exchange hashpartitioning (legitimate partitioned
    # window). Scalar aggregates' one-row-per-partition
    # SinglePartition exchanges are fine — but none may feed a Sort.
    import re

    tree = plan.split("\n\n", 1)[0].splitlines()
    for i, line in enumerate(tree):
        if re.search(r"\bWindow \(", line):
            # guard the lookahead: a Window at the end of the tree (or a
            # plan-format change) must fail with a clear message, not an
            # IndexError (round-5 ADVICE)
            assert i + 2 < len(tree), (
                f"Window at tree line {i} has no Sort/Exchange children "
                f"in the formatted plan tree:\n" + "\n".join(tree[i:])
            )
            child = tree[i + 1]
            if "TakeOrderedAndProject" in child:
                continue
            assert "Sort (" in child, (
                f"Window's child is neither TakeOrderedAndProject nor "
                f"Sort: {child!r}"
            )
            m = re.search(r"Exchange \((\d+)\)", tree[i + 2])
            assert m, (
                f"expected an Exchange two lines under the Window, got: "
                f"{tree[i + 2]!r}"
            )
            detail = re.search(
                rf"\({m.group(1)}\) Exchange\nInput[^\n]*\n"
                rf"Arguments: ([^\n]*)",
                plan,
            )
            assert detail and "hashpartitioning" in detail.group(1), (
                detail and detail.group(1)
            )


def test_skew_profile_percentiles_use_histogram_not_global_rank(
    spark, sf001
):
    """Round-5 skew_profile rewrite: exact percentiles come from the
    cnt-value histogram (distinct per-key-count values, data-size-free)
    — the per-key count table itself is never globally sorted, so no
    Sort of the counts feeds an unpartitioned window over keys. The
    histogram's own cumulative window is the only Window and its input
    is the (cnt, k) aggregate, evidenced by the extra HashAggregate
    pair between the count agg and the window."""
    df = entry.q_skew_profile(spark, sf001)
    plan = plan_of(df, mode="simple")
    # counts agg + histogram agg + final agg, each partial+final
    assert plan.count("HashAggregate") >= 5
    assert "CartesianProduct" not in plan


def test_prefix_filter_single_corpus_explode(spark, sf001):
    """Round-5 fix for VERDICT r4 #3: prefix_filter_pairs shingles the
    corpus exactly ONCE — the verifier reuses the persisted
    (doc, shingle) distinct rows instead of re-exploding raw text, so
    the whole plan contains a single documents scan, with every other
    consumer reading the InMemoryRelation. There is also no global
    rarity rank anymore: per-doc prefix positions order by
    (df, shingle) directly, so no unpartitioned window over the
    vocabulary exists (the only Windows are doc_id-partitioned)."""
    df = entry.queries()["prefix_filter_pairs"](spark, sf001)
    plan = plan_of(df, mode="formatted")
    # since the localCheckpoint sweep, the shingle rows / prefix /
    # candidate tables are flat LogicalRDD leaves: the corpus text is
    # never re-read in the final plan (the one explode ran at checkpoint
    # time), and every consumer reads a checkpointed leaf
    assert plan.count("documents.parquet") == 0
    assert "Scan ExistingRDD" in plan
    # no unpartitioned window anywhere: every windowspec partitions
    import re

    for m in re.finditer(r"\(\d+\) Window\nInput[^\n]*\nArguments: ([^\n]*)", plan):
        assert "windowspecdefinition(doc_id" in m.group(1), m.group(1)[:120]


@pytest.mark.parametrize(
    "qname, n_rdd_scans",
    # kmeans_refine left this list in round 6: its loop-carried state
    # (the k centroids) is now a driver-side LITERAL per Lloyd round —
    # the final plan is one corpus scan + literal expressions, no
    # checkpointed leaf at all (see test_kmeans_refine_literal_model).
    # pagerank's checkpointed leaves are pinned by
    # test_pagerank_long_loop_checkpoints.
    [("incremental_neardup", 1)],
)
def test_iterative_queries_have_flat_checkpointed_leaves(
    spark, sf001, qname, n_rdd_scans
):
    """Round-5 lineage flattening: iterative operators (long pagerank
    loops, kmeans centroid refinement, cross-corpus candidate verify)
    read their loop-carried tables from localCheckpoint-ed LogicalRDD
    leaves — Catalyst must not re-walk (or re-execute) the generation
    tree at each round's joins."""
    df = entry.queries()[qname](spark, sf001)
    plan = plan_of(df, mode="simple")
    assert plan.count("Scan ExistingRDD") >= n_rdd_scans


def test_pagerank_long_loop_checkpoints(spark, sf001):
    """Shape contract (round 11): pagerank ALWAYS reads its adjacency
    table from a flat LogicalRDD leaf — the whole edge set crosses the
    wire once, into the checkpointed adjacency, so no iteration rescans
    the edge source. Loops longer than the 2-iteration default also
    checkpoint the node list (graph.py rationale)."""
    import re

    from hri_flink_pipeline_core_spark.operators.graph import pagerank
    from hri_flink_pipeline_core_spark.session import read_table
    from pyspark.sql import functions as F

    o = read_table(spark, sf001, "orders")
    edges = o.select(
        (F.col("o_custkey") % 97).alias("src"),
        (F.col("o_orderkey") % 97).alias("dst"),
    ).filter(F.col("src") != F.col("dst"))

    adj_leaf = re.compile(r"Scan ExistingRDD\[src#\d+L?,_dsts#\d+,_d#\d+\]")
    node_leaf = re.compile(r"Scan ExistingRDD\[node#\d+L?\]")
    short_plan = plan_of(pagerank(edges, iterations=2), mode="simple")
    assert adj_leaf.search(short_plan)
    assert "Scan parquet" not in short_plan
    assert not node_leaf.search(short_plan)
    long_plan = plan_of(pagerank(edges, iterations=3), mode="simple")
    assert "Scan parquet" not in long_plan
    assert node_leaf.search(long_plan)


def test_kmeans_refine_literal_model(spark, sf001):
    """Round-6 literal-model kmeans: the k centroids are collected to
    the driver each Lloyd round and injected as literal expressions
    (the MLlib-KMeans pattern), so the FINAL plan is one corpus scan +
    literal distance expressions + one partitioned aggregate — no join
    of any kind, and the corpus never shuffles before the partial agg
    collapses it to |clusters| rows."""
    plan = plan_of(entry.queries()["kmeans_refine"](spark, sf001), mode="simple")
    for join_op in (
        "BroadcastHashJoin",
        "SortMergeJoin",
        "BroadcastNestedLoopJoin",
        "CartesianProduct",
        "ShuffledHashJoin",
    ):
        assert join_op not in plan, join_op
    assert plan.count("HashAggregate") >= 2  # partial + final


def test_lsh_bucket_counts_is_scan_side_projection(spark, sf001):
    """Round-9 hyperplane rewrite: the LSH bucket is an in-row codegen
    expression over the ±1 literal planes — the former posexplode +
    id-keyed 8-sum aggregate + signature join are all gone. The whole
    plan is scan → project → one vocabulary-sized count aggregate:
    no Generate (no explode), no join of any kind, and exactly one
    aggregate pair (the bucket histogram itself)."""
    plan = plan_of(
        entry.queries()["lsh_bucket_counts"](spark, sf001), mode="simple"
    )
    assert "Generate" not in plan  # no posexplode
    for join_op in (
        "BroadcastHashJoin",
        "SortMergeJoin",
        "BroadcastNestedLoopJoin",
        "CartesianProduct",
        "ShuffledHashJoin",
    ):
        assert join_op not in plan, join_op
    assert plan.count("HashAggregate") == 2  # partial + final histogram


def test_cosine_neardup_lsh_has_no_signature_join(spark, sf001):
    """The pair join on the bucket key must be the ONLY join in the
    plan — the bucket rides each side's scan as a projection instead of
    joining a signature table back to the corpus (round 9)."""
    plan = plan_of(
        entry.queries()["cosine_neardup_lsh"](spark, sf001), mode="simple"
    )
    assert "Generate" not in plan
    n_joins = sum(
        plan.count(op)
        for op in ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin")
    )
    assert n_joins == 1, plan

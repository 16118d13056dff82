"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)   -> flagship validation-routing query on sf0.001.
queries()      -> one callable per implemented operator (SURVEY.md §2.16).
oracle_sql()   -> DuckDB-equivalent SQL per query key.

Column-name discipline: every computed/aggregate column is aliased
identically in the Spark code and the SQL. Float aggregates use exact
DECIMAL accumulation cast back to DOUBLE on both sides (see _dsum) —
float sums are partition-order dependent and round() tie-breaking
differs between engines, decimal sums are exact in both.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hri_flink_pipeline_core_spark.operators import relational as R
from hri_flink_pipeline_core_spark.operators import dedup as D
from hri_flink_pipeline_core_spark.operators import multimodal as MM
from hri_flink_pipeline_core_spark.operators import similarity as S
from hri_flink_pipeline_core_spark.operators import text as TX
from hri_flink_pipeline_core_spark.operators import windows as W
from hri_flink_pipeline_core_spark.plans import oracles as O
from hri_flink_pipeline_core_spark.operators.cache import checkpoint_small
from hri_flink_pipeline_core_spark.operators.tracker import track_batches_batch
from hri_flink_pipeline_core_spark.operators.validation import validate_records
from hri_flink_pipeline_core_spark.plans import testdata as TD
from hri_flink_pipeline_core_spark.session import read_table, spread, ts_ns

SF0001 = "/root/testdata/sf0.001"


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return read_table(spark, sf_dir, name)


def _tp(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Table for CPU-heavy per-row operators: spread across all cores
    (single-file local scans otherwise run one task; no-op on multi-split
    inputs)."""
    return spread(read_table(spark, sf_dir, name))


def _topk_ranked(df: DataFrame, order_cols, k: int, rank_name: str) -> DataFrame:
    """Distributed global top-k WITH a rank column.

    ``orderBy().limit(k)`` plans as ``TakeOrderedAndProject`` — a
    per-partition bounded heap merged on the driver, k rows total — so
    the full input never funnels through a single-partition window sort.
    The ``row_number`` window that derives the rank then runs over at
    most k rows (a constant), not the input.

    Replaces the global ``row_number().over(Window.orderBy(...))``
    pattern (round-4 VERDICT "What's wrong" #1): identical answer
    (the order keys must be a total order — every call site tie-breaks
    on a unique column), scale-safe plan at 100 TB."""
    from pyspark.sql import Window as SW

    return (
        df.orderBy(*order_cols)
        .limit(k)
        .withColumn(rank_name, F.row_number().over(SW.orderBy(*order_cols)))
    )


def _dsum(col) -> "F.Column":
    """Order-independent money sum: exact DECIMAL accumulation, DOUBLE out.

    Float sums are partition-order dependent and round() tie-breaking
    differs between engines; decimal sums are exact in both Spark and
    DuckDB, and the final decimal->double conversion is correctly rounded
    (hence identical) in both."""
    return F.sum(col.cast("decimal(18,4)")).cast("double")


def _validation_outputs(spark: SparkSession, sf_dir: str):
    records = TD.hri_records_from_events(spark, sf_dir)
    notifications = TD.notifications_dim(spark, sf_dir)
    return validate_records(records, notifications)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the reference's validation pipeline (header extraction ->
    broadcast notification join -> 5 routing rules -> route counts) over
    sf0.001 events shaped as HriRecords."""
    out = _validation_outputs(spark, SF0001)
    return out.annotated.groupBy("route").agg(
        F.count(F.lit(1)).alias("n_records"),
        F.sum(F.when(F.col("emit_count"), 1).otherwise(0)).alias("n_count_events"),
    )


# --------------------------------------------------------------------------
# queries
# --------------------------------------------------------------------------

def q_pricing_summary(spark, sf_dir):
    """TPC-H Q1-style aggregate (agg.count_by_key generalization).

    Plain scan, no spread(): a scan+partial-agg needs no repartition —
    the round-robin exchange shuffled the full fact table to buy
    parallelism the map-side combine doesn't need (measured 0.66 s ->
    0.32 s at sf0.1; on a real cluster the scan arrives pre-split and
    spread() is a no-op anyway, so this only changes the single-file
    local shape)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            _dsum(F.col("l_quantity")).alias("sum_qty"),
            _dsum(F.col("l_extendedprice")).alias("sum_base_price"),
            F.sum(
                F.col("l_extendedprice").cast("decimal(18,4)")
                * (F.lit(1) - F.col("l_discount").cast("decimal(18,4)"))
            ).cast("double").alias("sum_disc_price"),
            (_dsum(F.col("l_discount")) / F.count(F.lit(1))).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def q_filter_orders(spark, sf_dir):
    return R.filter_rows(_t(spark, sf_dir, "orders"), F.col("o_orderstatus") == "F")


def q_project_net_price(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return R.project(
        li,
        F.col("l_orderkey"),
        F.col("l_linenumber"),
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("net_price"),
    )


def q_join_broadcast_part(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    joined = R.join_broadcast(
        li, part, li["l_partkey"] == part["p_partkey"], "inner"
    )
    return joined.groupBy("p_brand").agg(
        F.count(F.lit(1)).alias("line_count"),
        _dsum(F.col("l_quantity")).alias("sum_qty"),
    )


def q_join_shuffle_orders_customer(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    joined = R.join_shuffle(o, c, o["o_custkey"] == c["c_custkey"], "inner")
    return joined.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("order_count"),
        _dsum(F.col("o_totalprice")).alias("sum_total"),
    )


def q_semi_join_customers_with_orders(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return R.join_shuffle(
        c, o, c["c_custkey"] == o["o_custkey"], "left_semi"
    ).select("c_custkey", "c_name")


def q_anti_join_customers_without_orders(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return R.join_shuffle(
        c, o, c["c_custkey"] == o["o_custkey"], "left_anti"
    ).select("c_custkey", "c_name")


def q_count_by_key(spark, sf_dir):
    """agg.count_by_key — Tracker counters, relational form."""
    li = _t(spark, sf_dir, "lineitem")
    out = R.count_by_key(li, ["l_returnflag"], invalid_cond=F.col("l_discount") > 0.05)
    return out


def q_threshold_trigger(spark, sf_dir):
    """agg.threshold_trigger — HAVING-style fail-at-threshold."""
    li = _t(spark, sf_dir, "lineitem")
    counted = R.count_by_key(li, ["l_orderkey"])
    return R.threshold_trigger(counted, "record_count", 5)


def q_latest_per_key(spark, sf_dir):
    """latest_per_key — broadcast-state last-write-wins semantics."""
    ev = _t(spark, sf_dir, "events")
    return R.latest_per_key(ev, ["user_id"], "event_id")


def q_topk_per_key(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return R.top_k_per_key(
        o.select("o_custkey", "o_orderkey", "o_totalprice"),
        ["o_custkey"],
        F.struct(F.col("o_totalprice"), F.col("o_orderkey")),
        3,
    )


def q_dedup_exact(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return R.dedup_exact(ev.select("user_id", "event_type"))


def q_route_counts(spark, sf_dir):
    """The full validation operator: route distribution."""
    out = _validation_outputs(spark, sf_dir)
    return out.annotated.groupBy("route").agg(F.count(F.lit(1)).alias("n"))


def q_validation_invalid(spark, sf_dir):
    """The invalid-records side output (InvalidRecord envelopes)."""
    return _validation_outputs(spark, sf_dir).invalid


def q_tracker_terminal(spark, sf_dir):
    """Batch-mode tracker: terminal notifications per batch."""
    out = _validation_outputs(spark, sf_dir)
    notifications = TD.notifications_dim(spark, sf_dir)
    return track_batches_batch(out.counts, notifications)


# --- text analysis / dedup (training-data surface) -------------------------

def q_text_stats(spark, sf_dir):
    docs = _tp(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        TX.token_count_ws(F.col("text")).alias("n_tokens_ws"),
        TX.token_count_bpe(F.col("text")).alias("n_tokens_bpe"),
        TX.quality_score(F.col("text")).alias("quality"),
    )


def q_lang_id(spark, sf_dir):
    docs = _tp(spark, sf_dir, "documents")
    return docs.select("doc_id", TX.lang_id(F.col("text")).alias("lang_detected"))


def q_doc_fingerprint(spark, sf_dir):
    docs = _tp(spark, sf_dir, "documents")
    return TX.doc_fingerprints(docs)


def q_dedup_exact_text(spark, sf_dir):
    return D.dedup_exact_text(_tp(spark, sf_dir, "documents"))


def q_minhash_lsh_pairs(spark, sf_dir):
    return D.minhash_lsh_candidates(_tp(spark, sf_dir, "documents"))


def q_ngram_jaccard_pairs(spark, sf_dir):
    docs = _tp(spark, sf_dir, "documents")
    cands = D.minhash_lsh_candidates(docs)
    return D.ngram_jaccard_pairs(docs, cands, threshold=0.5)


def q_simhash_pairs(spark, sf_dir):
    return D.simhash_neardup_pairs(_tp(spark, sf_dir, "documents"))


def q_dedup_clusters(spark, sf_dir):
    """Duplicate-cluster assignment: MinHash-LSH candidate pairs ->
    connected components via fixed-iteration min-label propagation.
    All iteration joins run on the tiny pair graph, never the corpus."""
    pairs = D.minhash_lsh_candidates(_tp(spark, sf_dir, "documents"))
    return D.connected_components(pairs)


def q_dedup_clusters_star(spark, sf_dir):
    """Duplicate-cluster assignment via the PRODUCTION connected-
    components algorithm: alternating large-star/small-star with a
    driver-side convergence check (rounds are data-dependent, O(log² n)
    on any graph — extreme-diameter duplicate chains cannot silently
    under-merge the way a fixed iteration count can). Output is
    identical to converged min-label propagation, which is what the
    oracle runs (16 iterations ≫ any component diameter at sf0.01)."""
    pairs = D.minhash_lsh_candidates(_tp(spark, sf_dir, "documents"))
    return D.connected_components_star(pairs)


def q_dedup_keep_best(spark, sf_dir):
    """Canonical selection — the step real pipelines run AFTER cluster
    assignment: per duplicate cluster keep the HIGHEST-QUALITY member
    (ties -> min doc_id), not the arbitrary min-id one. Emits
    (cluster_id, kept_doc_id, kept_quality, n_members).

    Scale shape: clusters live on the tiny pair graph (connected
    components never touches the corpus); quality is a pure codegen
    Column over the docs scan; the join keys the corpus by doc_id once
    against the (small) cluster membership — at 100 TB that join
    broadcasts the membership side; the argmax is one window over
    cluster_id (cluster-sized partitions, bounded by construction).

    Round 13: the max(struct(quality, -doc_id)) hash-aggregate form of
    this argmax (the pq_encode/prefix_filter conversion) was built,
    verified output-identical, and measured SLOWER at both sf0.1
    (2.88 -> 3.00 s) and sf~1 (4.10 -> 4.25 s, interleaved min-of-3,
    ab_r13.py `keep_best_agg_new`): cluster partitions are bounded and
    tiny, so the removed per-cluster sort is cheaper than the added
    struct build + double negation on every member row. Not shipped."""
    from pyspark.sql import Window as SW

    docs = _tp(spark, sf_dir, "documents")
    clusters = D.connected_components(D.minhash_lsh_candidates(docs))
    quality = docs.select(
        "doc_id", TX.quality_score(F.col("text")).alias("quality")
    )
    j = clusters.join(quality, "doc_id")
    w = SW.partitionBy("cluster_id").orderBy(
        F.col("quality").desc(), F.col("doc_id").asc()
    )
    return (
        j.select(
            "cluster_id",
            F.col("doc_id").alias("kept_doc_id"),
            F.col("quality").alias("kept_quality"),
            F.row_number().over(w).alias("_rn"),
            F.count(F.lit(1))
            .over(SW.partitionBy("cluster_id"))
            .alias("n_members"),
        )
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


_NEW_SOURCES = ("src0", "src1", "src2", "src3")
# derived, never hand-written: the Spark predicate and the oracle WHERE
# must partition the corpus identically or the comparison is meaningless
_NEW_WHERE_SQL = "source IN ({})".format(
    ",".join(f"'{s}'" for s in _NEW_SOURCES)
)


def q_incremental_neardup(spark, sf_dir):
    """Incremental-ingest dedup: score every NEW document (sources
    src0-src3 play the incoming batch) against the reference corpus (the
    rest) — cross-corpus MinHash-LSH candidates with the NEW side
    broadcast (the corpus never shuffles for candidate generation), then
    exact n-gram Jaccard verification, then a per-new-doc admission
    verdict. The operator real pipelines run on every crawl increment:
    dedup today's batch against 100 TB WITHOUT re-pairing the corpus
    with itself."""
    docs = _tp(spark, sf_dir, "documents")
    return D.incremental_neardup(
        docs, F.col("source").isin(*_NEW_SOURCES), threshold=0.5
    )


def q_semdedup_prune(spark, sf_dir):
    """SemDeDup-style semantic dedup over the embeddings table: coarse
    k-means-seeded clusters (quantized label means), within-cluster
    cosine >= 0.9 prune (keep smallest id), per-cluster survivor stats.
    Pair work is bounded per cluster — the paper's trick for running
    semantic dedup at web scale."""
    emb = _tp(spark, sf_dir, "embeddings")
    return S.semdedup_prune(emb, threshold=0.9)


def q_pq_code_histogram(spark, sf_dir):
    """Product-quantization build + encode observable: per-(subspace,
    code) occupancy + id checksum after encoding every corpus vector to
    4 sub-codes (argmax quantized inner product against the per-subspace
    codebook). 64 floats -> 4 small ints per vector — the compression
    that fits a 100 TB embedding corpus into cluster RAM."""
    emb = _t(spark, sf_dir, "embeddings")
    return S.pq_code_histogram(emb)


def q_ann_pq_adc(spark, sf_dir):
    """PQ asymmetric-distance ANN: queries (vec_id < 20) precompute a
    tiny (sub, code) -> partial-dot LUT; each corpus vector's
    approximate inner product is 4 integer adds over its codes — no
    per-pair dim-wide math. Integer-quantized partials make the
    cross-subspace sum order-independent (exact cross-engine)."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    return S.ann_pq_adc(queries, emb, k=5)


def q_ann_pq_rerank(spark, sf_dir):
    """Two-stage retrieval: PQ ADC shortlists 20 candidates per query
    (integer-table lookups, no per-pair dim-wide math), then ONLY those
    pairs get the exact full-dimension cosine and the top-5 ranks on the
    exact score — the production coarse-then-rerank ANN shape."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    return S.ann_pq_rerank(queries, emb, k=5, shortlist=20)


def q_bpe_merges(spark, sf_dir):
    """Tokenizer training: 20 BPE merges learned from the corpus's
    word-frequency table (operators.text.bpe_train). Iterative and
    data-dependent (argmax pair per round via a 1-row driver collect),
    so there is deliberately no SQL oracle — correctness is pinned by a
    pure-Python reference implementation under hypothesis
    (test_bpe_train_matches_python_reference); the driver records the
    rows-only check."""
    docs = _tp(spark, sf_dir, "documents")
    return TX.bpe_train(docs, n_merges=20)


def q_ann_pq_recall(spark, sf_dir):
    """Recall of PQ shortlist+rerank vs exact top-5, per query —
    completes the measured recall/cost curve alongside ann_recall
    (IVF nprobe=1) and ann_recall_multiprobe (nprobe=2): the three
    points quantify what each approximation actually costs in retrieval
    quality, with every leg deterministic and cross-engine-exact.
    Fused single-pass form since round 6
    (similarity.ann_pq_recall_report): exact cosine and the literal
    ADC approximation are computed on the SAME scored pairs, and the
    shortlist/rerank/truth stages are three ranks over one per-query
    partition."""
    emb = _tp(spark, sf_dir, "embeddings")
    return S.ann_pq_recall_report(
        emb.filter(F.col("vec_id") < 20),
        emb,
        k=5,
        shortlist=20,
        model_corpus=_t(spark, sf_dir, "embeddings"),
    )


_VOCAB_CHECKPOINTS = (100, 1000, 5000, 10000)


def q_vocab_coverage(spark, sf_dir):
    """Trigram-vocabulary coverage curve — the tokenizer-design
    measurement: what fraction of the corpus's n-gram stream do the
    top-N vocabulary entries cover, at N in {100, 1k, 5k, 10k}.

    Scale shape: the n-gram stream explodes once and immediately
    collapses into a VOCABULARY-keyed partial-agg count (corpus-size
    rows in, distinct-gram rows out); only the top max(checkpoint)
    vocabulary entries are ever ranked, via a distributed
    TakeOrderedAndProject (per-partition heap, 10k rows to the
    driver) — the rank window then runs over that constant-sized
    result, never the full vocabulary; checkpoints and the scalar
    total are broadcast."""
    docs = _tp(spark, sf_dir, "documents")
    grams = docs.select(
        F.explode(TX.shingles(F.col("text"), 3)).alias("g")
    )
    # counts feeds BOTH the ranking and the scalar total; checkpoint the
    # (vocabulary-sized, tiny) aggregate so the corpus explode runs once
    # and both consumers analyze a flat leaf (round-5 rationale).
    counts = grams.groupBy("g").agg(
        F.count(F.lit(1)).alias("cnt")
    ).transform(checkpoint_small)
    # the join below only consumes rnk <= max(checkpoint): rank the
    # distributed top-10k only, not the whole vocabulary
    ranked = _topk_ranked(
        counts,
        [F.col("cnt").desc(), F.col("g").asc()],
        max(_VOCAB_CHECKPOINTS),
        "rnk",
    )
    total = counts.agg(F.sum("cnt").alias("tot"))
    cps = spark.range(1).select(
        F.explode(
            F.array(*[F.lit(c) for c in _VOCAB_CHECKPOINTS])
        ).alias("vocab_size")
    )
    per = (
        ranked.join(
            F.broadcast(cps), F.col("rnk") <= F.col("vocab_size")
        )
        .groupBy("vocab_size")
        .agg(F.sum("cnt").alias("covered_tokens"))
    )
    return per.crossJoin(F.broadcast(total)).select(
        "vocab_size",
        "covered_tokens",
        F.col("tot").alias("total_tokens"),
        (F.col("covered_tokens").cast("double") / F.col("tot").cast("double")).alias(
            "coverage"
        ),
    )


def q_shard_assignment(spark, sf_dir):
    """Deterministic content-keyed output sharding — the 'global shuffle'
    a training-data writer needs: shard = hash32(normalized content key)
    mod 16, so shard membership is stable across runs and machines
    (re-runs produce byte-identical shards) and hash-uniform (no hot
    shard). Emits per-shard volume stats (doc count, id checksum, char
    total) — the balance evidence.

    Scale shape: ONE hash-partition shuffle of (doc_id, n_chars, shard);
    the content hash runs in codegen on the scan side. This is exactly
    `df.repartition(n, shard_key).write` with the partitioning made
    observable."""
    docs = _tp(spark, sf_dir, "documents")
    shard = F.pmod(TX.hash32(TX.normalized_md5(F.col("text"))), F.lit(16))
    return (
        docs.select(
            shard.cast("int").alias("shard"), "doc_id", "n_chars"
        )
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("doc_id").alias("id_checksum"),
            F.sum("n_chars").alias("total_chars"),
        )
    )


def q_term_topk(spark, sf_dir):
    """Corpus term statistics: top-20 tokens per language. explode +
    groupBy (map-side partial agg) rather than per-row array lambdas —
    the scalable path for 100 TB token counting — then a per-language
    window for the deterministic top-k (count desc, term asc)."""
    from pyspark.sql import Window as SW

    docs = _tp(spark, sf_dir, "documents")
    counts = (
        docs.select("lang", F.explode(TX.tokens(F.col("text"))).alias("term"))
        .groupBy("lang", "term")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = SW.partitionBy("lang").orderBy(F.col("n").desc(), F.col("term"))
    return counts.select(
        "lang", "term", "n", F.row_number().over(w).alias("term_rank")
    ).filter(F.col("term_rank") <= 20)


BM25_QUERY_TERMS = ["join", "hash", "scan"]
BM25_K1 = 1.2
BM25_B = 0.75


def q_bm25_topk(spark, sf_dir):
    """BM25 retrieval over the corpus for a fixed query, top-20 docs.
    The canonical training-data/search scoring op the reference lacks.

    Cross-engine-exact float discipline: the IDF uses the rational form
    (N - df + 0.5)/(df + 0.5) — no log, so no libm divergence; every
    per-term double is produced by the identical IEEE op sequence in
    both engines; and per-term scores are quantized to BIGINT (1e-9)
    before the order-independent integer sum (float sums are partition-
    order dependent; the quantized sum is exact — the pagerank
    discipline).

    Scale shape: tf is an explode + partial-agg groupBy filtered to the
    query terms BEFORE the shuffle (shuffle volume ∝ query hits, not
    corpus); df is a window count over the term partition of the SAME
    hit-sized tf stream (one consumer — no persist, no second shuffle,
    no broadcast join); avgdl/N are one tiny aggregate, broadcast; the
    final per-doc sum partial-aggregates. Everything is scan + 2 small
    shuffles at any corpus size."""
    from pyspark.sql import Window as SW

    docs = _tp(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(TX.tokens(F.col("text"))).alias("term"))
    dl = docs.select(
        "doc_id", TX.token_count_ws(F.col("text")).alias("dl")
    )
    corpus_stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("sum_dl")
    )  # 1 row
    tf = (
        toks.filter(F.col("term").isin(BM25_QUERY_TERMS))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
        # df in place: tf has exactly one row per (doc, term), so the
        # term-partition count IS the document frequency
        .withColumn("df", F.count(F.lit(1)).over(SW.partitionBy("term")))
    )
    avgdl = F.col("sum_dl").cast("double") / F.col("n_docs").cast("double")
    idf = (F.col("n_docs") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    denom = F.col("tf") + F.lit(BM25_K1) * (
        F.lit(1.0 - BM25_B) + F.lit(BM25_B) * (F.col("dl") / avgdl)
    )
    term_score = idf * (F.col("tf") * F.lit(BM25_K1 + 1.0)) / denom
    scored = (
        tf.join(dl, "doc_id")
        .crossJoin(F.broadcast(corpus_stats))
        .select(
            "doc_id",
            F.floor(term_score * F.lit(1e9) + F.lit(0.5))
            .cast("bigint")
            .alias("score_q"),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(F.sum("score_q").alias("score_q"))
        .orderBy(F.col("score_q").desc(), F.col("doc_id"))
        .limit(20)
        .select(
            "doc_id",
            (F.col("score_q").cast("double") / F.lit(1e9)).alias("bm25"),
        )
    )


def q_tfidf_topterms(spark, sf_dir):
    """Per-document characteristic vocabulary: top-3 terms by the
    integer-exact TF-IDF flavor tf * N / df (a single int/int division
    produces the identical double in both engines — no log, no float
    accumulation). explode -> distinct-tf partial agg -> df via a window
    count over the term partition (tf has one row per (doc, term), so
    the partition count IS df; one consumer — no persist, no self-join,
    one fewer term-keyed shuffle) -> per-doc window (score desc, term
    asc). At 100 TB both shuffles scale with their own key cardinality
    only (term, then doc)."""
    from pyspark.sql import Window as SW

    docs = _tp(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(TX.tokens(F.col("text"))).alias("term"))
    tf = (
        toks.groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .withColumn("df", F.count(F.lit(1)).over(SW.partitionBy("term")))
    )
    n_docs = docs.select(F.count(F.lit(1)).alias("n_docs"))  # 1 row
    w = SW.partitionBy("doc_id").orderBy(
        (F.col("tf") * F.col("n_docs") / F.col("df")).desc(), F.col("term")
    )
    return (
        tf.crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "term",
            "tf",
            "df",
            (F.col("tf") * F.col("n_docs") / F.col("df")).alias("tfidf"),
            F.row_number().over(w).alias("term_rank"),
        )
        .filter(F.col("term_rank") <= 3)
    )


def q_winsorized_stats(spark, sf_dir):
    """Outlier-robust per-language length statistics: clip n_chars at the
    rank-based p10/p90 (the value at row ceil(q*n) of the (n_chars,
    doc_id) order — explicit ranks, not interpolated percentiles, so
    both engines pick the same element), then a DECIMAL-exact mean of
    the clipped values. The curation primitive behind 'trim the length
    tails before computing corpus stats'. One window shuffle on lang +
    one partial-agg shuffle."""
    from pyspark.sql import Window as SW

    docs = _tp(spark, sf_dir, "documents")
    w = SW.partitionBy("lang").orderBy("n_chars", "doc_id")
    ranked = docs.select(
        "lang",
        "n_chars",
        F.row_number().over(w).alias("rnk"),
        F.count(F.lit(1)).over(SW.partitionBy("lang")).alias("cnt"),
    )
    lo_rank = F.ceil(F.col("cnt") * F.lit(0.1))
    hi_rank = F.ceil(F.col("cnt") * F.lit(0.9))
    bounds = ranked.groupBy("lang").agg(
        F.max(F.when(F.col("rnk") == lo_rank, F.col("n_chars"))).alias("lo"),
        F.max(F.when(F.col("rnk") == hi_rank, F.col("n_chars"))).alias("hi"),
    )
    clipped = docs.join(F.broadcast(bounds), "lang").select(
        "lang",
        F.greatest(F.least(F.col("n_chars"), F.col("hi")), F.col("lo")).alias("v"),
    )
    return clipped.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("v").alias("min_clipped"),
        F.max("v").alias("max_clipped"),
        (
            F.sum(F.col("v").cast("decimal(18,0)"))
            .cast("double") / F.count(F.lit(1))
        ).alias("mean_clipped"),
    )


def q_quality_gate(spark, sf_dir):
    """C4-style heuristic quality gate: the model-free keep/drop decision
    of corpus curation, as per-rule booleans + the final keep flag.
    Every rule is integer arithmetic (counts and cross-multiplied ratio
    thresholds — no floats anywhere), so the gate is bit-exact across
    engines AND across partitionings.

    Rules: >=30 tokens; stopword ratio >=5% (stop*20 >= n); mean token
    length in [3,12] (3n <= sum_len <= 12n); distinct-token ratio >=50%
    (2*distinct >= n). Scale shape: one explode + one partial-agg
    groupBy — token stats aggregate map-side, the shuffle carries one
    row per doc."""
    docs = _tp(spark, sf_dir, "documents")
    stop_arr = [F.lit(w) for w in TX.STOPWORDS]
    toks = docs.select(
        "doc_id", F.explode(TX.tokens(F.col("text"))).alias("tok")
    )
    stats = toks.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum(
            F.when(F.lower(F.col("tok")).isin([w for w in TX.STOPWORDS]), 1).otherwise(0)
        ).alias("n_stop"),
        F.sum(F.length("tok")).alias("sum_len"),
        F.count_distinct(F.col("tok")).alias("n_distinct"),
    )
    ids = docs.select("doc_id")
    joined = ids.join(stats, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_tokens", F.lit(0).cast("long")).alias("n_tokens"),
        F.coalesce("n_stop", F.lit(0).cast("long")).alias("n_stop"),
        F.coalesce("sum_len", F.lit(0).cast("long")).alias("sum_len"),
        F.coalesce("n_distinct", F.lit(0).cast("long")).alias("n_distinct"),
    )
    r_min = F.col("n_tokens") >= 30
    r_stop = F.col("n_stop") * 20 >= F.col("n_tokens")
    r_len = (F.lit(3) * F.col("n_tokens") <= F.col("sum_len")) & (
        F.col("sum_len") <= F.lit(12) * F.col("n_tokens")
    )
    r_rep = F.lit(2) * F.col("n_distinct") >= F.col("n_tokens")
    return joined.select(
        "doc_id",
        "n_tokens",
        r_min.alias("r_min_tokens"),
        r_stop.alias("r_stopword_ratio"),
        r_len.alias("r_token_length"),
        r_rep.alias("r_repetition"),
        (r_min & r_stop & r_len & r_rep).alias("keep"),
    )


def q_duplicate_spans(spark, sf_dir):
    """Cross-document duplicated spans (operators/dedup.py
    duplicate_spans): maximal runs of consecutive 8-shingle positions
    occurring in >=2 docs — the find-the-repeated-passages primitive of
    substring-level training-data dedup."""
    return D.duplicate_spans(_tp(spark, sf_dir, "documents"), k=8, min_docs=2)


def q_span_cut_text(spark, sf_dir):
    """Substring-dedup cut step (operators/dedup.py span_cut_text):
    remove tokens covered by cross-document duplicated spans, reassemble
    the surviving text per doc."""
    return D.span_cut_text(_tp(spark, sf_dir, "documents"), k=8, min_docs=2)


_KMV_K = 64
# Level-1 fan-out of the two-level bucketed partial min-k: the per-group
# collect_set buffer grows as distinct/_KMV_BUCKETS before the k-slice,
# so size it for a ~250k-hash buffer target: buckets =
# ceil(expected_distinct_per_key / 250_000) — 64 covers up to ~16M
# distinct/key, 10^9 needs ~4096 (ADVICE r7). A parameter, not a
# semantic: any value yields the identical sketch (the k global minima
# survive every bucketing), which is why the oracle SQL needs no bucket
# term at all.
_KMV_BUCKETS = 64


def q_kmv_distinct(spark, sf_dir, n_buckets: int = _KMV_BUCKETS):
    """KMV (k-minimum-values) distinct-count sketch per event_type, with
    the exact count alongside. The deterministic md5-based hash makes the
    sketch identical across engines (and across partitionings — unlike
    HLL, whose merge order can differ). Scale path: two-level bucketed
    partial min-k (the kmv_set_ops shape, round 6): level 1 keeps each
    (event_type, h%n_buckets)'s k smallest via a map-side-collapsing
    agg, level 2 merges the bounded slices per key — no
    per-key-data-sized window sort anywhere; estimate =
    (k-1) * 2^60 / kth_min_hash. Replaces the former partitioned
    row_number window over the full distinct-hash table (SURVEY
    round-7 item).

    ``n_buckets`` is the memory knob, not a semantic (ADVICE r7/r8,
    VERDICT r8 #4): the level-1 ``collect_set`` buffers every distinct
    hash of its (key, bucket) group before the k-slice, so peak
    per-group memory is ~8 B × distinct_per_key / n_buckets. Size it
    as ceil(expected_distinct_per_key / 250_000): the default 64
    covers ~16M distinct/key; a 10^9-distinct key needs ~4096. Any
    value yields the identical sketch (the k global minima survive
    every bucketing), which is why the oracle SQL carries no bucket
    term and the hash is invariant to this parameter."""
    ev = _t(spark, sf_dir, "events")
    dh = ev.select(
        "event_type", TX.hash60(F.col("user_id").cast("string")).alias("h")
    )
    lvl1 = dh.groupBy(
        "event_type", F.pmod(F.col("h"), F.lit(n_buckets)).alias("b")
    ).agg(F.slice(F.array_sort(F.collect_set("h")), 1, _KMV_K).alias("hs"))
    est = (
        lvl1.groupBy("event_type")
        .agg(
            F.slice(
                F.array_sort(F.flatten(F.collect_list("hs"))), 1, _KMV_K
            ).alias("hs")
        )
        .select(
            "event_type",
            F.element_at(F.col("hs"), -1).alias("kth"),
            F.size("hs").cast("long").alias("m"),
        )
    )
    exact = ev.groupBy("event_type").agg(
        F.count_distinct(F.col("user_id")).alias("n_exact")
    )
    return est.join(F.broadcast(exact), "event_type").select(
        "event_type",
        F.when(F.col("m") < _KMV_K, F.col("m").cast("double"))
        .otherwise(
            F.lit(float(_KMV_K - 1) * 2.0**60) / F.col("kth").cast("double")
        )
        .alias("est_distinct"),
        "n_exact",
    )


_KMV_PAIRS = (("en", "de"), ("en", "zh"), ("de", "fr"))


def q_kmv_set_ops(spark, sf_dir):
    """KMV sketch ALGEBRA — the mergeability that makes sketches a
    distributed primitive: per-language trigram-vocabulary sketches are
    combined to estimate |A ∪ B| (k smallest of the merged hash sets)
    and |A ∩ B| (inclusion ratio within the union sketch × union
    estimate), with the exact values alongside. Deterministic md5
    hashing -> identical sketches on any engine, any partitioning —
    exactly why KMV beats HLL for cross-engine reproducibility.

    Scale shape: ONE vocabulary-keyed partial agg (gram -> language
    set) + a TWO-LEVEL partial min-k build the sketches (k rows per
    language thereafter); all pair math runs on k-sized sketches —
    constant work per pair regardless of corpus size. The exact legs
    reuse the same vocabulary table (testable ground truth; production
    would drop them).

    The former per-language ``row_number`` window sorted each
    language's ENTIRE hash vocabulary to pick k=256 minima — the last
    per-key-data-sized window sort in the engine (round-5 VERDICT
    "What's wrong" #3). Now: level 1 buckets by h%64 and keeps each
    (lang, bucket)'s k smallest via a partial agg (per-task buffer
    bounded by vocab/64); level 2 merges 64 k-slices per language and
    re-slices — a constant-size agg. No WindowExec anywhere in the
    plan (asserted in test_plan_shapes).

    Round 10 (VERDICT r9 #4): the query LITERALIZES the
    sketches — they are k-bounded per language BY CONSTRUCTION (the
    entire point of a sketch), so after the two-level min-k they are
    collected and the per-pair union/intersect algebra runs driver-side
    in Python with IEEE-double arithmetic: m < k -> m, otherwise
    (k-1)*2^60 / kth; intersect = (n_common/m) * est_union. Two bounded
    collects (sketches, exact sums) replace the former all-DataFrame
    pair-join chain (~16 AQE stage-jobs -> ~9, same pattern as the
    literal ANN models); the result is a 3-row local leaf, and the
    corpus-scale work (vocabulary agg) is unchanged."""
    gm, sk = _kmv_vocab_and_sketch(spark, sf_dir)
    # only the declared pair languages reach the driver — the collect
    # is bounded by len(pair langs) x k regardless of how many distinct
    # languages the corpus carries
    langs = sorted({l for pair in _KMV_PAIRS for l in pair})
    sketches = {
        r["lang"]: list(r["hs"])
        for r in sk.filter(F.col("lang").isin(langs)).collect()
    }
    keep = [
        (la, lb)
        for la, lb in _KMV_PAIRS
        if la in sketches or lb in sketches
    ]
    if not keep:
        return spark.createDataFrame([], _KMV_OUT_SCHEMA)
    exact = _kmv_exact_sums(gm).collect()[0]
    rows = []
    for la, lb in keep:
        hs_a = sketches.get(la, [])
        hs_b = sketches.get(lb, [])
        top = sorted(set(hs_a) | set(hs_b))[:_KMV_K]
        m = len(top)
        if m < _KMV_K:
            est_union = float(m)
        else:
            est_union = float(_KMV_K - 1) * 2.0**60 / float(top[-1])
        n_common = len(set(top) & set(hs_a) & set(hs_b))
        est_intersect = (float(n_common) / float(m)) * est_union
        rows.append(
            (
                la,
                lb,
                est_union,
                est_intersect,
                int(exact[f"_u_{la}_{lb}"]),
                int(exact[f"_i_{la}_{lb}"]),
            )
        )
    return spark.createDataFrame(rows, _KMV_OUT_SCHEMA)


def _kmv_vocab_and_sketch(spark, sf_dir):
    """Shared build: checkpointed gram -> language-set vocabulary table
    plus the per-language two-level min-k sketch table (k rows/lang)."""
    docs = _tp(spark, sf_dir, "documents")
    # ONE data-sized shuffle for the whole query (round 6): the corpus
    # explode feeds groupBy(gram) -> language-set directly, and the
    # duplicate (gram, lang) rows collapse in the map-side partial
    # collect_set — the former separate distinct-(lang, gram) shuffle
    # bought nothing the partial agg doesn't. Everything downstream
    # (sketch build AND exact legs) runs off the vocabulary-sized
    # gram -> languages table, checkpointed once.
    grams = docs.select(
        "lang", F.explode(TX.shingles(F.col("text"), 3)).alias("g")
    )
    gm = (
        grams.groupBy("g")
        .agg(F.collect_set("lang").alias("ls"))
        .transform(checkpoint_small)
    )
    # distinct (lang, h) pairs, re-derived narrowly from gm: hash each
    # vocabulary gram once, fan back out over its (deduped) languages
    gh = gm.select(
        TX.hash60(F.col("g")).alias("h"), F.explode("ls").alias("lang")
    )
    # two-level partial min-k (no window): bucket, keep k smallest per
    # (lang, bucket), merge the 64 bounded slices per language
    lvl1 = gh.groupBy(
        "lang", F.pmod(F.col("h"), F.lit(_KMV_BUCKETS)).alias("b")
    ).agg(F.slice(F.array_sort(F.collect_set("h")), 1, _KMV_K).alias("hs"))
    sk = lvl1.groupBy("lang").agg(
        F.slice(
            F.array_sort(F.flatten(F.collect_list("hs"))), 1, _KMV_K
        ).alias("hs")
    )
    return gm, sk


def _kmv_exact_sums(gm):
    """The exact union/intersect ground truth as ONE scalar aggregation
    over the vocabulary table: per pair, two conditional sums over the
    per-gram language array — all three pairs in a single 6-sum pass
    (map-side partial agg, one row out)."""

    def _inx(lang):
        return F.array_contains("ls", F.lit(lang))

    sums = []
    for la, lb in _KMV_PAIRS:
        tag = f"{la}_{lb}"
        sums.append(
            F.sum(F.when(_inx(la) | _inx(lb), 1).otherwise(0)).alias(f"_u_{tag}")
        )
        sums.append(
            F.sum(F.when(_inx(la) & _inx(lb), 1).otherwise(0)).alias(f"_i_{tag}")
        )
    return gm.agg(*sums)


_KMV_OUT_SCHEMA = (
    "lang_a string, lang_b string, est_union double, est_intersect double,"
    " exact_union bigint, exact_intersect bigint"
)


def q_skew_profile(spark, sf_dir):
    """Join-key skew diagnostic — the measurement that decides between a
    plain shuffle join, AQE skew splitting, and explicit salting: the
    per-key row-count distribution of a prospective join key
    (lineitem.l_partkey) summarized as exact rank-based percentiles,
    hot-key census (integer-exact cnt·n_keys > 2·total, no float
    thresholds), and the derived salt factor ceil(max/1000) the salted-
    join operators would take as G.

    Scale shape: ONE partial-agg shuffle builds the per-key counts
    (key-sized table); the exact percentiles come from a CNT-VALUE
    HISTOGRAM (distinct per-key-count values — dozens of rows even at
    web scale, bounded by the count multiplicity, never by key
    cardinality) with a cumulative-sum window over that tiny table:
    the key at rank r in (cnt asc) order has the smallest cnt value
    whose cumulative key count reaches r, and rank tie-breaking by key
    id cannot change the cnt AT a rank. This replaces the former
    global row_number() over ALL keys (a single-partition sort of the
    full key table — VERDICT r4 #1) with a histogram whose window
    input is data-size-free."""
    from pyspark.sql import Window as SW

    li = _t(spark, sf_dir, "lineitem")
    counts = li.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("cnt"))
    stats = counts.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("cnt").alias("total_rows"),
        F.max("cnt").alias("max_per_key"),
    )
    hist = counts.groupBy("cnt").agg(F.count(F.lit(1)).alias("k"))
    wc = SW.orderBy(F.col("cnt").asc()).rowsBetween(
        SW.unboundedPreceding, SW.currentRow
    )
    cum = hist.select("cnt", "k", F.sum("k").over(wc).alias("cum"))
    j = cum.crossJoin(F.broadcast(stats))
    p50_rn = F.floor((F.col("n_keys") - 1) * F.lit(0.5)) + 1
    p99_rn = F.floor((F.col("n_keys") - 1) * F.lit(0.99)) + 1
    hot = F.col("cnt") * F.col("n_keys") > F.lit(2) * F.col("total_rows")
    return j.groupBy("n_keys", "total_rows", "max_per_key").agg(
        F.min(F.when(F.col("cum") >= p50_rn, F.col("cnt"))).alias("p50_per_key"),
        F.min(F.when(F.col("cum") >= p99_rn, F.col("cnt"))).alias("p99_per_key"),
        F.sum(F.when(hot, F.col("k")).otherwise(F.lit(0))).alias("hot_keys"),
    ).select(
        "n_keys",
        "total_rows",
        "max_per_key",
        "p50_per_key",
        "p99_per_key",
        "hot_keys",
        (F.floor((F.col("max_per_key") + 999) / 1000)).cast("bigint").alias(
            "recommended_salt"
        ),
    )


def q_hash_sample(spark, sf_dir):
    """Deterministic content-addressed sampling: md5-bucket of the id,
    keep 10%. Unlike rand()-based sampling this is reproducible across
    runs, engines, and partitionings — the property a training-data
    pipeline needs for holdout splits. Pure codegen filter, no shuffle."""
    docs = _t(spark, sf_dir, "documents")
    bucket = TX.hash32(F.col("doc_id").cast("string")) % 1000
    return docs.filter(bucket < 100).select("doc_id", "lang", "source", "n_chars")


def q_stratified_sample(spark, sf_dir):
    """Per-stratum deterministic sampling: downsample the dominant
    language (20%), keep half of everything else — the language-rebalance
    step of corpus curation, as one branch-free codegen filter."""
    docs = _t(spark, sf_dir, "documents")
    rate = F.when(F.col("lang") == "en", F.lit(200)).otherwise(F.lit(500))
    bucket = TX.hash32(F.col("doc_id").cast("string")) % 1000
    return docs.filter(bucket < rate).select("doc_id", "lang", "source")


def q_domain_mix(spark, sf_dir):
    """Corpus composition report: docs/chars per (lang, source) plus each
    cell's share of the corpus — the mixing-weights input for training
    data schedules. The corpus total is a 1-row broadcast cross join, not
    an unpartitioned window (which would funnel all rows to one task)."""
    docs = _t(spark, sf_dir, "documents")
    per = docs.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
    )
    total = docs.agg(F.count(F.lit(1)).alias("_total_docs"))
    return per.crossJoin(F.broadcast(total)).select(
        "lang",
        "source",
        "n_docs",
        "total_chars",
        (F.col("n_docs").cast("double") / F.col("_total_docs")).alias("doc_share"),
    )


def q_json_array_funcs(spark, sf_dir):
    """Scalar JSON + array/lambda function surface: JSON path extraction
    over the props column, sequence construction, and the
    transform/aggregate/size/array_max higher-order family — all
    expression-level (no UDFs). These HOF lambdas run interpreted, which
    is fine at O(4) elements each; big-array folds go through the
    explode/partial-agg shape instead (see dedup.py)."""
    ev = _t(spark, sf_dir, "events")
    seq = F.sequence(F.lit(1), (F.col("event_id") % 4 + 1).cast("int"))
    return ev.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("int").alias("k_val"),
        seq.alias("seq"),
    ).select(
        "event_id",
        "k_val",
        F.aggregate("seq", F.lit(0).cast("bigint"), lambda a, x: a + x).alias("seq_sum"),
        F.size("seq").alias("seq_len"),
        F.array_max(F.transform("seq", lambda x: x * 2)).alias("max_doubled"),
    )


def q_sequence_pack(spark, sf_dir):
    """Pretraining-style sequence packing: documents are concatenated in
    a deterministic order (doc_id within source) and split into packs at
    a fixed token budget — boundary docs straddle packs, exactly how
    context windows are filled. pack_id = floor(tokens_before / budget)
    is a running-sum bucketing: one window sort per source partition, no
    pairwise logic. At 100 TB this is repartition(source-bucket) +
    sortWithinPartitions, the same shape."""
    from pyspark.sql import Window as SW

    budget = 2048
    docs = _tp(spark, sf_dir, "documents")
    toked = docs.select(
        "doc_id", "source", TX.token_count_ws(F.col("text")).alias("n_tokens")
    )
    w = SW.partitionBy("source").orderBy("doc_id")
    packed = toked.withColumn("cum_tokens", F.sum("n_tokens").over(w)).withColumn(
        "pack_id",
        F.floor((F.col("cum_tokens") - F.col("n_tokens")) / F.lit(budget)),
    )
    return packed.groupBy("source", "pack_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("pack_tokens"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


# --- embedding similarity ---------------------------------------------------

def q_ann_topk(spark, sf_dir):
    emb = _tp(spark, sf_dir, "embeddings")
    return S.ann_topk_bruteforce(emb.filter(F.col("vec_id") < 20), emb, k=5)


def q_cosine_neardup(spark, sf_dir):
    return S.cosine_neardup_pairs(_tp(spark, sf_dir, "embeddings"), threshold=0.4)


def q_cosine_neardup_lsh(spark, sf_dir):
    """LSH-blocked near-dup (the scale path for cosine_neardup: equi-join
    on the hyperplane bucket instead of an all-pairs cross join)."""
    return S.cosine_neardup_lsh(_tp(spark, sf_dir, "embeddings"), threshold=0.4)


def q_lsh_bucket_counts(spark, sf_dir):
    return S.lsh_bucket_counts(_t(spark, sf_dir, "embeddings"))


def q_ann_ivf_probe(spark, sf_dir):
    """IVF probe ANN: assign each query to its nearest quantized-mean
    centroid, exact-search only that cluster (operators/similarity.py
    ann_ivf_probe). The scale path for ann_topk — Q x N/#clusters pairs."""
    emb = _t(spark, sf_dir, "embeddings")
    centroids = _ivf_centroid_arrays(spark, sf_dir)
    return S.ann_ivf_probe(
        emb.filter(F.col("vec_id") < 20), emb, centroids, k=5
    )


def q_ann_ivf_multiprobe(spark, sf_dir):
    """IVF probe with nprobe=2 — the recall/cost dial one notch up:
    each query exact-searches its TWO nearest clusters. Cost grows
    linearly with nprobe; recall approaches brute force (measured by
    ann_recall_multiprobe against the exact top-5)."""
    emb = _t(spark, sf_dir, "embeddings")
    centroids = _ivf_centroid_arrays(spark, sf_dir)
    return S.ann_ivf_probe(
        emb.filter(F.col("vec_id") < 20), emb, centroids, k=5, nprobe=2
    )


def q_ann_recall_multiprobe(spark, sf_dir):
    """Recall of nprobe=2 IVF vs exact top-5, per query — alongside
    ann_recall (nprobe=1) this measures the recall curve the nprobe dial
    buys, with both legs deterministic and cross-engine-exact. Fused
    single-pass form (similarity.ann_recall_report)."""
    emb = _tp(spark, sf_dir, "embeddings")
    return S.ann_recall_report(
        emb.filter(F.col("vec_id") < 20),
        emb,
        _ivf_centroid_arrays(spark, sf_dir),
        k=5,
        nprobe=2,
    )


def q_kmeans_refine(spark, sf_dir):
    """Iterative algorithm surface: 2 Lloyd rounds of k-means over the
    embeddings, seeded with the quantized label means (ivf_centroids).
    Assignment = broadcast cross join (corpus never shuffles); update =
    one partial-agg shuffle of member x dim rows; all distance math is
    the left-fold double discipline so the DuckDB CTE chain reproduces
    it bit-identically. Output: member count + vec_id checksum per
    final cluster."""
    emb = _t(spark, sf_dir, "embeddings")
    cent0 = _ivf_centroid_arrays(spark, sf_dir)
    assigned = S.kmeans_lloyd(emb, cent0, iters=2)
    return assigned.groupBy("cluster").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.sum("vec_id").alias("sum_vec_ids"),
    )


def _ivf_centroid_arrays(spark, sf_dir) -> DataFrame:
    """(label, centroid array<double>) quantized label means — the
    shared seed for the IVF/kmeans query family
    (similarity._centroid_means: explode + map-side-collapsing
    (label, pos) partial agg — model-sized shuffle at any corpus
    size). Half-up quantization at 1e-10 (floor(x*1e10+0.5)): float32
    inputs have SHORT exact decimal expansions that genuinely tie at
    the 11th digit, so decimal casts diverge between Spark (half-up)
    and DuckDB (half-even); floor(+0.5) is the same IEEE op in both."""
    emb = _tp(spark, sf_dir, "embeddings")
    return S._centroid_means(
        emb.select("label", "embedding"),
        ["label"],
        "embedding",
        S.quantized_mean_sql(),
    )


def q_ivf_centroids(spark, sf_dir):
    cents = _ivf_centroid_arrays(spark, sf_dir)
    return cents.select(
        "label", F.posexplode(F.col("centroid")).alias("dim_idx", "mean_val")
    )


# --- multimodal binary columns ----------------------------------------------

def q_media_blob_stats(spark, sf_dir):
    media = MM.media_from_documents(_t(spark, sf_dir, "documents"))
    return MM.blob_stats(media)


def q_media_exact_dedup(spark, sf_dir):
    """Blob-level exact dedup + storage-savings report: md5 and byte
    length computed scan-side so the blob itself never shuffles — only
    the 16-byte key + two ints cross the one hash-partition exchange."""
    media = MM.media_from_documents(_t(spark, sf_dir, "documents"))
    return MM.media_exact_dedup(media)


def q_media_decode_features(spark, sf_dir):
    media = MM.media_from_documents(_tp(spark, sf_dir, "documents"))
    return MM.decode_features(media)


def q_frame_sample(spark, sf_dir):
    media = MM.media_from_documents(_t(spark, sf_dir, "documents"))
    return MM.frame_sample(media, every_ms=1000)


# --- event-time windows -----------------------------------------------------

def q_window_tumbling(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return W.tumbling(ev, "ts", "1 hour", ["event_type"], "value")


def q_window_sliding(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return W.sliding(ev, "ts", "1 hour", "30 minutes", ["event_type"], "value")


def q_session_windows(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return W.session(ev, "ts", "10 minutes", ["user_id"], "value")


# --- relational extras ------------------------------------------------------

def _finest_grain_li(spark, sf_dir):
    """Shared base for the cube/rollup/grouping-sets family: ONE
    partial-agg shuffle to the finest grouping (returnflag x linestatus,
    ~6 rows), so the multi-grouping Expand runs over the tiny pre-agg
    instead of multiplying the full fact table. Exact for algebraic
    measures: counts re-sum, and the quantity sum stays DECIMAL through
    both levels (cast to double only at the end — same value as the
    single-level decimal sum)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum(F.col("l_quantity").cast("decimal(18,4)")).alias("_qty"),
    )


def q_cube_agg(spark, sf_dir):
    base = _finest_grain_li(spark, sf_dir)
    return base.cube("l_returnflag", "l_linestatus").agg(
        F.sum("_n").alias("n"),
        F.sum("_qty").cast("double").alias("sum_qty"),
    )


def q_pivot_agg(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(_dsum(F.col("l_quantity")))
    )


def q_set_ops(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    f_keys = o.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    o_keys = o.filter(F.col("o_orderstatus") == "O").select("o_custkey")
    return f_keys.intersect(o_keys).unionByName(
        f_keys.exceptAll(f_keys)  # empty, exercises except
    ).distinct()


def q_analytic_window(spark, sf_dir):
    from pyspark.sql import Window as SW

    ev = _t(spark, sf_dir, "events")
    w = SW.partitionBy("user_id").orderBy("event_id")
    return ev.select(
        "event_id",
        "user_id",
        F.row_number().over(w).alias("rn"),
        F.sum(F.col("value").cast("decimal(18,4)")).over(w).cast("double").alias("running_value"),
        F.lag("event_type").over(w).alias("prev_type"),
    )


def q_rollup_agg(spark, sf_dir):
    base = _finest_grain_li(spark, sf_dir)
    return base.rollup("l_returnflag", "l_linestatus").agg(
        F.sum("_n").alias("n"),
        F.sum("_qty").cast("double").alias("sum_qty"),
    )


def q_grouping_sets_agg(spark, sf_dir):
    base = _finest_grain_li(spark, sf_dir)
    return base.groupingSets(
        [["l_returnflag"], ["l_linestatus"], []], "l_returnflag", "l_linestatus"
    ).agg(
        F.sum("_n").alias("n"),
        F.sum("_qty").cast("double").alias("sum_qty"),
    )


def q_quantile_summary(spark, sf_dir):
    """Exact sort-based percentiles (linear interpolation — identical to
    DuckDB quantile_cont on these dyadic-friendly values). The 100 TB
    path is approx_percentile (t-digest, mergeable partial aggregation);
    exact percentile is the correctness anchor."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.expr("percentile(l_quantity, 0.5)").alias("median_qty"),
        F.expr("percentile(l_quantity, 0.9)").alias("p90_qty"),
        F.min("l_quantity").alias("min_qty"),
        F.max("l_quantity").alias("max_qty"),
    )


def q_rank_features(spark, sf_dir):
    """ntile / percent_rank / dense_rank over a total order (price desc,
    key asc) — the quantile-bucketing primitives for data curation."""
    from pyspark.sql import Window as SW

    o = _t(spark, sf_dir, "orders")
    w = SW.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return o.select(
        "o_orderkey",
        F.ntile(4).over(w).alias("price_quartile"),
        F.percent_rank().over(w).alias("price_pct_rank"),
        F.dense_rank().over(w).alias("price_dense_rank"),
    )


def q_scalar_subquery_above_avg(spark, sf_dir):
    """Orders above the global average price. The scalar subquery becomes
    a 1-row broadcast cross join; the comparison is cross-multiplied
    (price * n > total) so it stays in exact decimal arithmetic."""
    o = _t(spark, sf_dir, "orders")
    tot = o.agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,4)")).alias("_total"),
        F.count(F.lit(1)).alias("_n"),
    )
    return (
        o.crossJoin(F.broadcast(tot))
        .filter(F.col("o_totalprice").cast("decimal(18,4)") * F.col("_n") > F.col("_total"))
        .select("o_orderkey", "o_totalprice")
    )


def q_tpch_q3_top_revenue(spark, sf_dir):
    """TPC-H Q3 shape (shipping priority): 3-way join with the dim side
    broadcast, decimal revenue agg, deterministic top-10 (revenue desc,
    orderkey tiebreak). Filters sit directly on the scans so they push
    into the parquet readers before either join."""
    cutoff = F.lit("1997-06-01 00:00:00").cast("timestamp")
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderdate") < cutoff)
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > cutoff)
    joined = li.join(o, li["l_orderkey"] == o["o_orderkey"]).join(
        F.broadcast(c), o["o_custkey"] == c["c_custkey"]
    )
    return (
        joined.groupBy("l_orderkey", "o_orderdate")
        .agg(
            F.sum(
                F.col("l_extendedprice").cast("decimal(18,4)")
                * (F.lit(1) - F.col("l_discount").cast("decimal(18,4)"))
            )
            .cast("double")
            .alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


def q_tpch_q5_regional_volume(spark, sf_dir):
    """TPC-H Q5 shape (local supplier volume): 6-table join where every
    dim side (supplier, customer, nation, region) broadcasts, so the only
    shuffle is the lineitem⋈orders equi-join + the final 1-key agg.
    The c_nationkey = s_nationkey 'local supplier' constraint rides on
    the broadcast joins for free."""
    cutoff_lo = F.lit("1996-01-01 00:00:00").cast("timestamp")
    cutoff_hi = F.lit("1997-01-01 00:00:00").cast("timestamp")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n = _t(spark, sf_dir, "nation")
    s = _t(spark, sf_dir, "supplier")
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= cutoff_lo) & (F.col("o_orderdate") < cutoff_hi)
    )
    li = _t(spark, sf_dir, "lineitem")
    joined = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .join(
            F.broadcast(s),
            (li["l_suppkey"] == s["s_suppkey"])
            & (c["c_nationkey"] == s["s_nationkey"]),
        )
        .join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
    )
    return joined.groupBy("n_name").agg(
        F.sum(
            F.col("l_extendedprice").cast("decimal(18,4)")
            * (F.lit(1) - F.col("l_discount").cast("decimal(18,4)"))
        )
        .cast("double")
        .alias("revenue")
    )


def _disc_price() -> "F.Column":
    """Exact-decimal l_extendedprice * (1 - l_discount)."""
    return F.col("l_extendedprice").cast("decimal(18,4)") * (
        F.lit(1) - F.col("l_discount").cast("decimal(18,4)")
    )


def q_tpch_q6_forecast_revenue(spark, sf_dir):
    """TPC-H Q6 shape: tight scan-level predicate (date range + discount
    band + quantity cap) folded into the parquet scan, single global
    decimal agg — zero joins, one shuffle-free partial+final agg."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_discount").cast("decimal(18,4)") >= F.lit("0.05").cast("decimal(18,4)"))
            & (F.col("l_discount").cast("decimal(18,4)") <= F.lit("0.07").cast("decimal(18,4)"))
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum(
                F.col("l_extendedprice").cast("decimal(18,4)")
                * F.col("l_discount").cast("decimal(18,4)")
            )
            .cast("double")
            .alias("revenue")
        )
    )


def q_tpch_q7_nation_volume(spark, sf_dir):
    """TPC-H Q7 shape (volume shipping): customer-nation x supplier-nation
    trade volume between two nations per ship year. Both nation dims
    broadcast; the symmetric pair predicate rides on the joined row."""
    n1, n2 = "NATION_1", "NATION_2"
    n = _t(spark, sf_dir, "nation").filter(F.col("n_name").isin(n1, n2))
    s = _t(spark, sf_dir, "supplier").join(
        F.broadcast(n.select(F.col("n_nationkey").alias("_snk"), F.col("n_name").alias("supp_nation"))),
        F.col("s_nationkey") == F.col("_snk"),
    )
    c = _t(spark, sf_dir, "customer").join(
        F.broadcast(n.select(F.col("n_nationkey").alias("_cnk"), F.col("n_name").alias("cust_nation"))),
        F.col("c_nationkey") == F.col("_cnk"),
    )
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    joined = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .filter(
            ((F.col("supp_nation") == n1) & (F.col("cust_nation") == n2))
            | ((F.col("supp_nation") == n2) & (F.col("cust_nation") == n1))
        )
    )
    return joined.groupBy(
        "supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year")
    ).agg(F.sum(_disc_price()).cast("double").alias("revenue"))


def q_tpch_q10_returned_items(spark, sf_dir):
    """TPC-H Q10 shape (returned-item reporting): revenue lost to returns
    per customer in one quarter, deterministic top-20. Customer dim
    broadcasts into the lineitem⋈orders shuffle join."""
    lo = F.lit("1996-01-01 00:00:00").cast("timestamp")
    hi = F.lit("1996-04-01 00:00:00").cast("timestamp")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= lo) & (F.col("o_orderdate") < hi)
    )
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    joined = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
    )
    return (
        joined.groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(F.sum(_disc_price()).cast("double").alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


def q_tpch_q13_order_distribution(spark, sf_dir):
    """TPC-H Q13 shape (customer distribution): two-level aggregate over a
    LEFT join — orders-per-customer, then customers-per-order-count.
    The second agg is tiny (≤ distinct counts), so the only real shuffle
    is the first groupBy."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderpriority") != "1-URGENT")
    per_cust = (
        c.join(o, c["c_custkey"] == o["o_custkey"], "left")
        .groupBy("c_custkey")
        .agg(F.count(F.col("o_orderkey")).alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


def q_tpch_q14_promo_revenue(spark, sf_dir):
    """TPC-H Q14 shape (promotion effect): conditional-revenue ratio over
    a broadcast part join; both sums accumulate in exact decimal and the
    final ratio is one double division (identical in both engines)."""
    lo = F.lit("1996-03-01 00:00:00").cast("timestamp")
    hi = F.lit("1996-04-01 00:00:00").cast("timestamp")
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= lo) & (F.col("l_shipdate") < hi)
    )
    p = _t(spark, sf_dir, "part")
    joined = li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
    zero = F.lit("0").cast("decimal(18,4)")
    return joined.agg(
        (
            F.lit(100.0)
            * F.sum(F.when(F.col("p_type") == "PROMO", _disc_price()).otherwise(zero)).cast("double")
            / F.sum(_disc_price()).cast("double")
        ).alias("promo_revenue_pct")
    )


def q_tpch_q18_large_orders(spark, sf_dir):
    """TPC-H Q18 shape (large-volume customer): HAVING-filtered semi
    aggregation — order keys whose lineitem quantity exceeds 200 feed a
    customer join. The qty agg happens BEFORE the joins, so only the
    ~1% surviving orders enter the join (aggregate-then-join, not
    join-then-aggregate)."""
    li = _t(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(_dsum(F.col("l_quantity")).alias("total_qty"))
        .filter(F.col("total_qty") > 200)
    )
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    return (
        big.join(o, big["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            "o_orderdate",
            "o_totalprice",
            "total_qty",
        )
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(100)
    )


def q_tpch_q19_bracket_revenue(spark, sf_dir):
    """TPC-H Q19 shape (discounted revenue): OR-of-AND predicate brackets
    spanning the fact and a broadcast dim. Catalyst extracts the common
    l_partkey = p_partkey conjunct as the join key; the brackets stay as
    a post-join filter."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    joined = li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
    brackets = (
        ((F.col("p_brand") == "BRAND_1") & (F.col("p_size").between(1, 15))
         & (F.col("l_quantity").between(1, 11)))
        | ((F.col("p_brand") == "BRAND_2") & (F.col("p_size").between(1, 25))
           & (F.col("l_quantity").between(10, 20)))
        | ((F.col("p_brand") == "BRAND_3") & (F.col("p_size").between(1, 35))
           & (F.col("l_quantity").between(20, 30)))
    )
    return joined.filter(brackets).agg(
        F.sum(_disc_price()).cast("double").alias("revenue"),
        F.count(F.lit(1)).alias("n_lines"),
    )


def q_tpch_q8_market_share(spark, sf_dir):
    """TPC-H Q8 shape (national market share): per order-year, the share
    of one supplier nation's revenue within one customer region. Every
    dim broadcasts; the numerator rides as a conditional decimal sum on
    the same joined row set (one pass, no second join)."""
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "REGION_1")
    n_cust = _t(spark, sf_dir, "nation")
    n_supp = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("_sn_key"), F.col("n_name").alias("supp_nation")
    )
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    joined = (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n_cust), c["c_nationkey"] == n_cust["n_nationkey"])
        .join(F.broadcast(r), n_cust["n_regionkey"] == r["r_regionkey"])
        .join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(n_supp), s["s_nationkey"] == F.col("_sn_key"))
    )
    zero = F.lit("0").cast("decimal(18,4)")
    return (
        joined.groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            F.sum(
                F.when(F.col("supp_nation") == "NATION_3", _disc_price()).otherwise(zero)
            ).cast("double").alias("nation_revenue"),
            F.sum(_disc_price()).cast("double").alias("total_revenue"),
        )
        .select(
            "o_year",
            "nation_revenue",
            "total_revenue",
            (F.col("nation_revenue") / F.col("total_revenue")).alias("mkt_share"),
        )
    )


def q_tpch_q15_top_supplier(spark, sf_dir):
    """TPC-H Q15 shape (top supplier): quarterly revenue per supplier,
    keep the max-revenue supplier(s) via a 1-row broadcast max — the
    view + scalar-subquery form, aggregate-then-join."""
    lo = F.lit("1996-01-01 00:00:00").cast("timestamp")
    hi = F.lit("1996-04-01 00:00:00").cast("timestamp")
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= lo) & (F.col("l_shipdate") < hi)
    )
    rev = li.groupBy("l_suppkey").agg(
        F.sum(_disc_price()).cast("double").alias("total_revenue")
    )
    mx = rev.agg(F.max("total_revenue").alias("_mx"))
    s = _t(spark, sf_dir, "supplier")
    return (
        rev.crossJoin(F.broadcast(mx))
        .filter(F.col("total_revenue") == F.col("_mx"))
        .join(F.broadcast(s), F.col("l_suppkey") == s["s_suppkey"])
        .select("s_suppkey", "s_name", "total_revenue")
    )


def q_tpch_q17_small_qty_revenue(spark, sf_dir):
    """TPC-H Q17 shape (small-quantity-order revenue): lineitems below
    20% of their part's average quantity. The correlated avg subquery
    becomes an aggregate-then-join on partkey; the comparison is
    cross-multiplied (qty * 5 * n < sum) to stay in exact decimal."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(F.col("p_brand") == "BRAND_5")
    per_part = li.groupBy(F.col("l_partkey").alias("_pk")).agg(
        F.sum(F.col("l_quantity").cast("decimal(18,4)")).alias("_qsum"),
        F.count(F.lit(1)).alias("_qn"),
    )
    joined = li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"]).join(
        per_part, li["l_partkey"] == F.col("_pk")
    )
    small = joined.filter(
        F.col("l_quantity").cast("decimal(18,4)") * 5 * F.col("_qn") < F.col("_qsum")
    )
    return small.agg(
        (_dsum(F.col("l_extendedprice")) / F.lit(7.0)).alias("avg_yearly"),
        F.count(F.lit(1)).alias("n_lines"),
    )


def q_tpch_q22_idle_customers(spark, sf_dir):
    """TPC-H Q22 shape (global sales opportunity): rich customers with no
    urgent orders — scalar-subquery average (cross-multiplied to stay in
    exact decimal) + LEFT ANTI join with a pushed-down predicate on the
    anti side + per-nation rollup."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
    pos = c.filter(F.col("c_acctbal") > 0).agg(
        F.sum(F.col("c_acctbal").cast("decimal(18,4)")).alias("_total"),
        F.count(F.lit(1)).alias("_n"),
    )
    rich = c.crossJoin(F.broadcast(pos)).filter(
        F.col("c_acctbal").cast("decimal(18,4)") * F.col("_n") > F.col("_total")
    )
    idle = rich.join(o, rich["c_custkey"] == o["o_custkey"], "left_anti")
    return idle.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("numcust"),
        _dsum(F.col("c_acctbal")).alias("totacctbal"),
    )


def q_range_frame_window(spark, sf_dir):
    """RANGE-frame running aggregate: per user, sum/count of events whose
    event_id lies within 100 of the current row — a value-based frame,
    not a row-count frame."""
    from pyspark.sql import Window as SW

    ev = _t(spark, sf_dir, "events")
    w = (
        SW.partitionBy("user_id")
        .orderBy(F.col("event_id").cast("long"))
        .rangeBetween(-100, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.count(F.lit(1)).over(w).alias("n_in_range"),
        F.sum(F.col("value").cast("decimal(18,4)")).over(w).cast("double").alias("range_sum"),
    )


def q_string_funcs(spark, sf_dir):
    """Scalar string-function surface: case, length, substring, regex
    extraction, concatenation — all whole-stage-codegen built-ins."""
    c = _t(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.upper(F.col("c_name")).alias("name_upper"),
        F.length(F.col("c_name")).alias("name_len"),
        F.substring(F.col("c_name"), 10, 5).alias("name_mid"),
        F.regexp_extract(F.col("c_name"), r"(\d+)", 1).alias("cust_digits"),
        F.concat_ws("-", F.col("c_mktsegment"), F.col("c_custkey").cast("string")).alias(
            "segment_tag"
        ),
    )


def q_date_funcs(spark, sf_dir):
    """Scalar date/time surface: truncation, field extraction, day
    arithmetic on event timestamps."""
    ev = _t(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.date_trunc("day", F.col("ts")).alias("day_start"),
        F.year(F.col("ts")).alias("yy"),
        F.month(F.col("ts")).alias("mm"),
        F.dayofmonth(F.col("ts")).alias("dd"),
        F.hour(F.col("ts")).alias("hh"),
        F.datediff(F.col("ts"), F.lit("1995-01-01").cast("date")).alias("days_since_epoch0"),
    )


def q_asof_latest_order(spark, sf_dir):
    """As-of join: each event matched to the user's latest order at or
    before the event time (ties on o_orderdate broken by max o_orderkey).
    Union+window form — one sort per key, no pair materialization
    (operators/asof.py)."""
    from hri_flink_pipeline_core_spark.operators.asof import asof_join

    ev = _t(spark, sf_dir, "events").select(
        "event_id", F.col("user_id"), F.col("ts")
    )
    orders = _t(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("user_id"), "o_orderdate", "o_orderkey", "o_totalprice"
    )
    out = asof_join(
        ev, orders,
        keys=["user_id"], left_time="ts", right_time="o_orderdate",
        right_cols=["o_orderkey", "o_totalprice"], right_tiebreak="o_orderkey",
    )
    return out.select(
        "event_id", "user_id",
        F.col("o_orderkey").alias("asof_orderkey"),
        F.col("o_totalprice").alias("asof_totalprice"),
    )


def q_interval_join_anchor_windows(spark, sf_dir):
    """Interval join: every 37th event opens a 6-hour window for its
    user; all of that user's events inside the window attribute to it.
    Bucketized equi-join form — no nested-loop (operators/interval.py)."""
    from hri_flink_pipeline_core_spark.operators.interval import interval_join

    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts", "value")
    ranges = ev.filter(F.col("event_id") % 37 == 0).select(
        "user_id",
        F.col("event_id").alias("anchor_id"),
        F.col("ts").alias("win_start"),
        (F.col("ts") + F.expr("INTERVAL 6 HOURS")).alias("win_end"),
    )
    joined = interval_join(
        ev, ranges, keys=["user_id"], time_col="ts",
        start_col="win_start", end_col="win_end",
        bucket_seconds=6 * 3600,
    )
    return joined.groupBy("anchor_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("sum_value"),
    )


def q_sink_table_roundtrip(spark, sf_dir):
    """sink.table + source.table (SURVEY §2.16): write the invalid-record
    envelopes to parquet, read them back, and aggregate — verifies the
    sink preserves rows and values through a full write/read cycle."""
    import os

    from hri_flink_pipeline_core_spark.sources.files import write_table

    out = _validation_outputs(spark, sf_dir)
    path = f"/tmp/hri-sink-roundtrip-{os.path.basename(sf_dir.rstrip('/'))}"
    # One output file per ~32k envelope rows instead of one per upstream
    # task: the invalid side is a sliver of the input, and 32 kilobyte
    # files cost 32 commit-protocol rounds (measured ~0.25 s at sf0.1).
    # The explicit exchange is the write-side equivalent of AQE
    # coalescing; production sizing would use maxRecordsPerFile on top.
    write_table(out.invalid.repartition(2), path)
    back = spark.read.parquet(path)
    return back.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("batchId").alias("n_batches"),
        F.countDistinct("failure").alias("n_failure_kinds"),
    )


def q_stats_moments(spark, sf_dir):
    """Moment statistics (mean / population variance / correlation) per
    key with cross-engine-exact results: raw moments accumulate in exact
    DECIMAL (order-independent), convert once to double (correctly
    rounded, identical in both engines), then combine in a fixed IEEE
    expression order. Built-in var_pop/corr accumulate in floating point
    and are partition-order dependent — unusable against a value-hash
    oracle; this shape is also the single-shuffle partial-agg form."""
    ev = _t(spark, sf_dir, "events")
    x = F.col("value").cast("decimal(18,4)")
    y = F.hour("ts").cast("decimal(18,4)")
    agg = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).cast("double").alias("_sx"),
        F.sum(y).cast("double").alias("_sy"),
        F.sum(x * x).cast("double").alias("_sxx"),
        F.sum(y * y).cast("double").alias("_syy"),
        F.sum(x * y).cast("double").alias("_sxy"),
    )
    n = F.col("n")
    sx, sy = F.col("_sx"), F.col("_sy")
    sxx, syy, sxy = F.col("_sxx"), F.col("_syy"), F.col("_sxy")
    return agg.select(
        "event_type",
        n.alias("n"),
        (sx / n).alias("mean_value"),
        ((n * sxx - sx * sx) / (n * n)).alias("var_pop_value"),
        (
            (n * sxy - sx * sy)
            / (F.sqrt(n * sxx - sx * sx) * F.sqrt(n * syy - sy * sy))
        ).alias("corr_value_hour"),
    )


def q_scd2_intervals(spark, sf_dir):
    """Slowly-changing-dimension (type 2) interval builder: each event
    becomes a version row with [valid_from, valid_to) from lead() and a
    current-version flag — the history-table form of latest_per_key
    (generalizing the broadcast-state last-write-wins of
    ValidationProcessFunction.scala:215-224 into full version history)."""
    from pyspark.sql import Window as SW

    ev = _t(spark, sf_dir, "events")
    w = SW.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "event_id",
        "user_id",
        F.col("ts").alias("valid_from"),
        F.lead("ts").over(w).alias("valid_to"),
        F.lead("ts").over(w).isNull().alias("is_current"),
    )


def q_value_histogram(spark, sf_dir):
    """Fixed-width histogram (20 bins over order totals): one partial-
    aggregated groupBy on a computed bin key — the profiling primitive
    for quality cutoffs at scale. Bin math in exact integer/floor form."""
    o = _t(spark, sf_dir, "orders")
    bin_col = F.least(
        F.floor(F.col("o_totalprice") / F.lit(30000.0)), F.lit(19)
    ).cast("int")
    return (
        o.groupBy(bin_col.alias("bin"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            _dsum(F.col("o_totalprice")).alias("bin_total"),
        )
    )


_CHUNK, _STRIDE = 64, 48


def q_doc_chunks(spark, sf_dir):
    """Context-window chunking: split each doc into 64-token windows with
    stride 48 (16-token overlap) — the sequence-prep step before packing.
    Pure Column math (explode over a per-row index sequence + slice);
    chunk identity is content-hashed so the oracle compares values, not
    megabytes of text."""
    docs = _tp(spark, sf_dir, "documents")
    toks = TX.tokens(F.col("text"))
    n = F.size(toks)
    extra = F.greatest(n - _CHUNK, F.lit(0))
    # integer ceil-div via floor of an exact double division (token
    # counts << 2^53, so the double math is exact in both engines)
    n_chunks = (
        F.lit(1) + F.floor((extra + F.lit(_STRIDE - 1)) / F.lit(_STRIDE))
    ).cast("int")
    base = docs.select(
        "doc_id",
        toks.alias("_toks"),
        F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_idx"),
    )
    chunk = F.slice(F.col("_toks"), F.col("chunk_idx") * _STRIDE + 1, _CHUNK)
    return base.select(
        "doc_id",
        "chunk_idx",
        F.size(chunk).alias("chunk_tokens"),
        TX.hash32(F.concat_ws(" ", chunk)).alias("chunk_hash"),
    )


def q_doc_rarity(spark, sf_dir):
    """Rare-vocabulary scoring (IDF-flavored, exact-arithmetic): per doc,
    how much of its distinct vocabulary is corpus-rare (document
    frequency <= 2). The df table is a term-keyed aggregate joined back
    on term — both sides partial-aggregate before their shuffles; all
    outputs are integer counts plus one int/int double ratio, so the
    cross-engine comparison is exact (unlike log-based IDF, where libm
    differences break bit-equality)."""
    docs = _tp(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(F.array_distinct(TX.tokens(F.col("text")))).alias("term"),
    )
    dfreq = toks.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    return (
        toks.join(dfreq, "term")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_terms"),
            F.sum(F.when(F.col("df") <= 2, 1).otherwise(0)).alias("n_rare"),
            F.min("df").alias("min_df"),
        )
        .select(
            "doc_id",
            "n_terms",
            "n_rare",
            "min_df",
            (F.col("n_rare") / F.col("n_terms")).alias("rare_ratio"),
        )
    )


def q_salted_join_skewed(spark, sf_dir):
    """Skew-mitigated join on a 5-value hot key: events (all rows share
    5 event_type values — worst-case key skew) joined to a per-type
    stats dim with the composite (key, salt) spreading each hot key over
    16 reducers; shuffle-hash pinned so the salting path is the one
    exercised. Output: events above their type's average value
    (cross-multiplied to stay in exact decimal)."""
    ev = _t(spark, sf_dir, "events")
    dim = ev.groupBy("event_type").agg(
        F.sum(F.col("value").cast("decimal(18,4)")).alias("_tot"),
        F.count(F.lit(1)).alias("_n"),
    )
    joined = R.join_salted(ev, dim, "event_type", salt_buckets=16, force_shuffle=True)
    return joined.filter(
        F.col("value").cast("decimal(18,4)") * F.col("_n") > F.col("_tot")
    ).select("event_id", "event_type", "value")


def q_resample_ffill(spark, sf_dir):
    """Time-series regularization: per-user hourly resample over each
    user's active range (grid via sequence+explode — no driver loop),
    LEFT join of the sparse hourly aggregate, forward-fill with
    last(ignore nulls) over an ordered frame. The grid is generated
    per-key on the executors, so a 100 TB corpus resamples without any
    driver-side materialization."""
    from pyspark.sql import Window as SW

    ev = _t(spark, sf_dir, "events").filter(F.col("user_id") < 20)
    hourly = ev.groupBy(
        "user_id", F.date_trunc("hour", F.col("ts")).alias("hh")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        _dsum(F.col("value")).alias("hour_sum"),
    )
    bounds = ev.groupBy("user_id").agg(
        F.date_trunc("hour", F.min("ts")).alias("h0"),
        F.date_trunc("hour", F.max("ts")).alias("h1"),
    )
    grid = bounds.select(
        "user_id",
        F.explode(
            F.sequence(F.col("h0"), F.col("h1"), F.expr("INTERVAL 1 HOUR"))
        ).alias("hh"),
    )
    w = SW.partitionBy("user_id").orderBy("hh").rowsBetween(
        SW.unboundedPreceding, 0
    )
    return grid.join(hourly, ["user_id", "hh"], "left").select(
        "user_id",
        "hh",
        F.coalesce(F.col("n_events"), F.lit(0).cast("long")).alias("n_events"),
        F.last(F.col("hour_sum"), ignorenulls=True).over(w).alias("filled_sum"),
    )


def q_centroid_distances(spark, sf_dir):
    """Inter-cluster geometry: pairwise cosine between the quantized
    per-label centroids — the centroid self-join is k x k (tiny), so the
    corpus-scale mean computation is persisted and runs once."""
    emb = _tp(spark, sf_dir, "embeddings")
    cents = S.kmeans_quantized_update(
        emb.select(F.col("label").alias("cluster"), F.col("embedding").alias("_vec"))
    ).transform(checkpoint_small)
    a = cents.select(F.col("label").alias("label_a"), F.col("centroid").alias("_ca"))
    b = cents.select(F.col("label").alias("label_b"), F.col("centroid").alias("_cb"))
    return (
        a.join(b, a["label_a"] < b["label_b"])
        .select(
            "label_a",
            "label_b",
            (
                S.dot(F.col("_ca"), F.col("_cb"))
                / (S.norm(F.col("_ca")) * S.norm(F.col("_cb")))
            ).alias("cos_sim"),
        )
    )


def q_sample_exact_per_stratum(spark, sf_dir):
    """Exact-N stratified sampling: exactly 50 docs per language, chosen
    by deterministic hash order (reproducible across runs, engines, and
    partitionings — rank-based, unlike the rate-based stratified_sample).
    One window sort per stratum; at 100 TB you'd pre-filter with the
    rate-based hash sample to ~2N per stratum, then rank the survivors."""
    from pyspark.sql import Window as SW

    docs = _t(spark, sf_dir, "documents")
    w = SW.partitionBy("lang").orderBy(
        TX.hash32(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    return docs.select(
        "doc_id", "lang", "source", F.row_number().over(w).alias("rnk")
    ).filter(F.col("rnk") <= 50)


def q_bucketed_join_colocated(spark, sf_dir):
    """Co-located join via bucketing: lineitem and orders are written
    bucketed by the join key, so the join needs NO Exchange — the 100 TB
    pattern for repeated fact-fact joins (pay the shuffle ONCE at write
    time, reuse it every query). The layout is therefore amortized
    exactly like production bucketed tables: the write happens the first
    time a scale factor is seen; later runs re-register the existing
    bucketed files with metadata-only DDL and time just the
    zero-Exchange join + 3-row agg (the plan test asserts no Exchange
    under the join either way)."""
    import os

    tag = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    base = f"/tmp/hri-bucketed-{tag}"
    li_tbl, o_tbl = f"hri_li_bucketed_{tag}", f"hri_o_bucketed_{tag}"

    def ensure(tbl, path, src, cols, key, schema_sql):
        if spark.catalog.tableExists(tbl):
            return
        if os.path.exists(os.path.join(path, "_SUCCESS")):
            # files already bucketed by an earlier run (testdata is
            # immutable per sf_dir): attach them — metadata only
            spark.sql(
                f"CREATE TABLE {tbl} ({schema_sql}) USING parquet "
                f"CLUSTERED BY ({key}) SORTED BY ({key}) INTO 8 BUCKETS "
                f"LOCATION '{path}'"
            )
            return
        (
            _t(spark, sf_dir, src)
            .select(*cols)
            .write.bucketBy(8, key)
            .sortBy(key)
            .option("path", path)
            .mode("overwrite")
            .saveAsTable(tbl)
        )

    ensure(
        li_tbl, f"{base}/lineitem", "lineitem",
        ["l_orderkey", "l_quantity"], "l_orderkey",
        "l_orderkey BIGINT, l_quantity DOUBLE",
    )
    ensure(
        o_tbl, f"{base}/orders", "orders",
        ["o_orderkey", "o_orderstatus"], "o_orderkey",
        "o_orderkey BIGINT, o_orderstatus STRING",
    )
    li, o = spark.table(li_tbl), spark.table(o_tbl)
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            _dsum(F.col("l_quantity")).alias("sum_qty"),
        )
    )


def q_merge_upsert(spark, sf_dir):
    """MERGE INTO semantics without a table format (operators/relational.py
    merge_upsert): an updates delta wins on key collision, unmatched base
    rows pass through — the incremental-corpus-refresh primitive. One
    anti-join + union; AQE broadcasts the delta when it is small, and at
    100 TB bucketing both tables on the merge key makes the anti-join
    Exchange-free (generalizes ValidationProcessFunction.scala:215-224
    last-write-wins map-state to whole-table refresh)."""
    o = _t(spark, sf_dir, "orders")
    base = o.filter(F.col("o_orderkey") % 4 != 0).select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    upd = o.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey",
        (F.col("o_totalprice") * F.lit(1.05)).alias("o_totalprice"),
        F.lit("U").alias("o_orderstatus"),
    )
    return R.merge_upsert(base, upd, ["o_orderkey"])


def q_snapshot_diff(spark, sf_dir):
    """CDC between two snapshots (operators/relational.py snapshot_diff):
    full-outer join on the key, classify insert/delete/update with
    null-safe value comparison, emit old and new values side by side.
    One shuffle join (zero-Exchange when both snapshots are bucketed)."""
    o = _t(spark, sf_dir, "orders")
    old = o.filter(F.col("o_orderkey") % 5 != 0).select("o_orderkey", "o_totalprice")
    new = o.filter(F.col("o_orderkey") % 7 != 0).select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 3 == 0, F.col("o_totalprice") * 2)
        .otherwise(F.col("o_totalprice"))
        .alias("o_totalprice"),
    )
    return R.snapshot_diff(old, new, ["o_orderkey"], ["o_totalprice"])


def q_pii_redact(spark, sf_dir):
    """Training-corpus PII scrub (operators/text.py pii_redact): chained
    JVM regexp passes for emails / phone shapes / long digit runs — no
    UDF, pure map stage, scales linearly. The synthetic corpus has no
    PII, so the query deterministically injects a doc_id-derived
    email + phone + numeric id into each document before scrubbing,
    making every regex fire and the oracle comparison meaningful."""
    docs = _tp(spark, sf_dir, "documents")
    combined = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com ref "),
        (F.col("doc_id") * 7919 + 1000).cast("string"),
        F.lit(" call 555-012-"),
        (F.col("doc_id") % 9000 + 1000).cast("string"),
    )
    redacted = TX.pii_redact(combined)
    email_pat, num_pat = TX.PII_PATTERNS[0][0], TX.PII_PATTERNS[2][0]
    return docs.select(
        "doc_id",
        F.size(F.regexp_extract_all(combined, F.lit(email_pat), 0)).alias("n_email"),
        F.size(F.regexp_extract_all(combined, F.lit(num_pat), 0)).alias("n_num"),
        F.length(redacted).alias("redacted_len"),
        F.md5(redacted).alias("redacted_md5"),
    )


def q_edit_distance_pairs(spark, sf_dir):
    """Near-dup verification by exact edit distance: pair each document
    with the next doc_id in its source (lead window), Levenshtein over
    the lowercased 64-char prefix, keep pairs under a distance cap.
    The window sorts within each source partition only; at 100 TB the
    candidate pairs would come from MinHash/SimHash LSH (see
    minhash_lsh_pairs) and this exact pass runs only on candidates."""
    from pyspark.sql import Window as SW

    docs = _tp(spark, sf_dir, "documents").select(
        "doc_id", "source", F.substring(F.lower(F.col("text")), 1, 64).alias("prefix")
    )
    w = SW.partitionBy("source").orderBy("doc_id")
    paired = docs.select(
        "doc_id",
        "prefix",
        F.lead("doc_id").over(w).alias("next_id"),
        F.lead("prefix").over(w).alias("next_prefix"),
    )
    return (
        paired.filter(F.col("next_id").isNotNull())
        .select(
            "doc_id",
            "next_id",
            F.levenshtein("prefix", "next_prefix").alias("edit_dist"),
        )
        .filter(F.col("edit_dist") <= 48)
    )


def q_bigram_topk(spark, sf_dir):
    """Global top-25 word bigrams: adjacent-token pairs via
    arrays_zip(slice, slice) — a pure map stage (no corpus shuffle; the
    posexplode+self-join alternative would shuffle the whole token
    stream) — then explode + partial-agg groupBy, deterministic rank
    tie-broken by bigram text. The top-25 is a distributed
    TakeOrderedAndProject over the vocabulary-sized count table
    (per-partition bounded heap, 25 rows to the driver — no
    single-partition sort of the bigram vocabulary)."""
    docs = _tp(spark, sf_dir, "documents")
    toks = TX.tokens(F.lower(F.col("text")))
    with_toks = docs.select(toks.alias("toks")).filter(F.size("toks") >= 2)
    pairs = with_toks.select(
        F.explode(
            F.arrays_zip(
                F.slice(F.col("toks"), 1, F.size("toks") - 1),
                F.slice(F.col("toks"), 2, F.size("toks") - 1),
            )
        ).alias("bg")
    )
    counts = pairs.select(
        F.concat_ws(
            " ", F.col("bg").getField("0"), F.col("bg").getField("1")
        ).alias("bigram")
    ).groupBy("bigram").agg(F.count(F.lit(1)).alias("n"))
    return _topk_ranked(
        counts, [F.col("n").desc(), F.col("bigram")], 25, "bigram_rank"
    )


def q_pagerank_domains(spark, sf_dir):
    """Fixed-2-iteration PageRank (operators/graph.py) over a synthetic
    directed graph derived from orders: custkey/orderkey folded to 997
    nodes WITHIN each 1e6-wide key block (round 10 — at every real
    testdata SF all keys are < 1e6, so the fold is exactly the former
    plain mod-997 there; on gen_sfscale.py's blown-up orders, whose
    replica i keys live in block i, the graph gains 997 fresh nodes per
    replica, so the sf-scaling table measures a graph that actually
    grows instead of a constant 997-node fold). Cross-engine exact:
    contributions quantized to BIGINT before the order-independent sum;
    the damped update is pointwise double. Per-iteration cost: one join
    against the O(nodes) rank table + one partial-agg groupBy — the
    corpus-scale edge set is persisted once."""
    from hri_flink_pipeline_core_spark.operators.graph import pagerank

    o = _t(spark, sf_dir, "orders")
    edges = o.select(
        F.expr("o_custkey % 997 + 997 * (o_custkey DIV 1000000)").alias("src"),
        F.expr("o_orderkey % 997 + 997 * (o_orderkey DIV 1000000)").alias("dst"),
    ).filter(F.col("src") != F.col("dst"))
    return pagerank(edges, iterations=2)


def q_contamination_flag(spark, sf_dir):
    """Benchmark decontamination: flag corpus docs sharing any 5-gram
    shingle with the held-out eval slice (hash-designated 5% of docs).
    The eval shingle set is benchmark-sized by construction, so at 100 TB
    this is a broadcast semi-join running at scan speed over the corpus;
    the eval/corpus split predicates push down to both scans (each side
    reads only its slice). Mirrors the n-gram decontamination step of
    training-data pipelines (reference has no analog; north-star op)."""
    docs = _tp(spark, sf_dir, "documents")
    is_eval = TX.hash32(F.col("doc_id").cast("string")) % 20 == 0

    # codegen shingle rows (explode + concat_ws of F.get — no
    # interpreted array lambdas in the corpus-scale path)
    shingle_rows = TX.shingle_str_rows

    ev = shingle_rows(docs.filter(is_eval)).select("shingle").distinct()
    # broadcast-filter BEFORE any distinct: only shingles that hit the
    # eval set ever shuffle (a sliver of the corpus); the dedup happens
    # inside count_distinct's partial aggregation.
    corp = shingle_rows(docs.filter(~is_eval))
    return (
        corp.join(F.broadcast(ev), "shingle")
        .groupBy("doc_id")
        .agg(F.count_distinct(F.col("shingle")).alias("n_shared_shingles"))
    )


def q_repetition_score(spark, sf_dir):
    """Within-document repetition: 1 - distinct/total word-3-grams — the
    boilerplate/spam signal used for corpus filtering. explode + partial
    agg (codegen count + count_distinct) instead of per-row array
    lambdas, which hit Spark's interpreted expression path. The ratio is
    a single int/int double division — bit-identical cross-engine."""
    docs = _tp(spark, sf_dir, "documents")
    ex = TX.shingle_str_rows(docs, k=3).select(
        "doc_id", F.col("shingle").alias("g")
    )
    agg = ex.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_grams"),
        F.count_distinct(F.col("g")).alias("n_distinct"),
    )
    return agg.select(
        "doc_id",
        "n_grams",
        "n_distinct",
        (F.lit(1.0) - F.col("n_distinct") / F.col("n_grams")).alias("rep_ratio"),
    )


def q_posting_lists(spark, sf_dir):
    """Inverted-index construction: term -> document frequency, total
    term frequency, and the first 5 postings (sorted doc ids). Two
    partial-aggregated groupBys — the (term, doc) pass bounds the
    collect_list input to df rows, never raw occurrences; at 100 TB the
    posting lists themselves would go to a sink partitioned by term
    prefix, the shape here is the index build. df >= 25 keeps the
    declared output to head terms."""
    docs = _tp(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(TX.tokens(F.col("text"))).alias("term"))
    per = tok.groupBy("term", "doc_id").agg(F.count(F.lit(1)).alias("tf"))
    return (
        per.groupBy("term")
        .agg(
            F.count(F.lit(1)).alias("df"),
            F.sum("tf").alias("tf_total"),
            F.concat_ws(
                ",",
                F.transform(
                    F.slice(F.array_sort(F.collect_list("doc_id")), 1, 5),
                    lambda x: x.cast("string"),
                ),
            ).alias("postings_head"),
        )
        .filter(F.col("df") >= 25)
    )


def q_percentile_filter(spark, sf_dir):
    """Per-source quality-quantile gate: keep docs at or above the 75th
    length percentile of their source — the per-domain thresholding step
    of corpus curation. One shuffle (window partition by source);
    percent_rank is (rank-1)/(n-1) over identical ints, so the doubles
    are bit-identical cross-engine. Tie-broken by doc_id: fully
    deterministic."""
    from pyspark.sql import Window as SW

    docs = _t(spark, sf_dir, "documents")
    w = SW.partitionBy("source").orderBy("n_chars", "doc_id")
    return docs.select(
        "doc_id", "source", "n_chars", F.percent_rank().over(w).alias("pr")
    ).filter(F.col("pr") >= 0.75)


def q_topp_select(spark, sf_dir):
    """Per-language top-p (nucleus) selection: longest docs first until
    80% of the language's total characters. The keep predicate is pure
    integer arithmetic ((cum - cur) * 5 < total * 4) — no float
    thresholds to drift cross-engine. Two windows over one partitioning
    (lang): a single shuffle, running-sum frame is streaming-friendly."""
    from pyspark.sql import Window as SW

    docs = _t(spark, sf_dir, "documents")
    wo = SW.partitionBy("lang").orderBy(F.col("n_chars").desc(), "doc_id")
    cum = F.sum("n_chars").over(
        wo.rowsBetween(SW.unboundedPreceding, SW.currentRow)
    )
    tot = F.sum("n_chars").over(SW.partitionBy("lang"))
    return docs.select(
        "doc_id", "lang", "n_chars", cum.alias("cum_chars"), tot.alias("lang_chars")
    ).filter(
        (F.col("cum_chars") - F.col("n_chars")) * 5 < F.col("lang_chars") * 4
    )


def q_triangle_count(spark, sf_dir):
    """Triangle census of the near-duplicate candidate graph (MinHash-LSH
    pairs): nodes / edges / triangles — the density diagnostic that
    distinguishes tight dup clusters from chained false positives.
    Edges are persisted once (they re-enter the plan 5×; differing
    projections defeat ReuseExchange); the triangle join runs on the
    pair graph, never the corpus. Edge lists are canonically a < b so
    each triangle (a<b<c) is counted exactly once."""
    docs = _tp(spark, sf_dir, "documents")
    # localCheckpoint, not persist: the edge table re-enters the plan
    # 5x with differing projections, and a flat LogicalRDD leaf keeps
    # every downstream join's analysis/optimization off the deep
    # candidate-generation tree (round-5 CC rationale)
    edges = D.minhash_lsh_candidates(docs).transform(checkpoint_small)
    ab = edges.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
    bc = edges.select(F.col("doc_a").alias("b"), F.col("doc_b").alias("c"))
    ac = edges.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("c"))
    tri = ab.join(bc, "b").join(ac, ["a", "c"]).agg(
        F.count(F.lit(1)).alias("n_triangles")
    )
    n_edges = edges.agg(F.count(F.lit(1)).alias("n_edges"))
    nodes = (
        edges.select(F.col("doc_a").alias("d"))
        .unionAll(edges.select(F.col("doc_b").alias("d")))
        .agg(F.count_distinct(F.col("d")).alias("n_nodes"))
    )
    return nodes.crossJoin(n_edges).crossJoin(tri)


def q_triangle_count_oriented(spark, sf_dir):
    """Degree-ordered triangle census — the O(m^1.5) production form
    SCALING.md promises for web-scale graphs: orient every edge from
    its (degree, id)-smaller endpoint to the larger, so each node's
    out-degree is O(sqrt(m)) and the wedge join's per-key fan-out is
    bounded regardless of hub size (a celebrity node with 10^6
    neighbors contributes zero wedges from its own key — its edges
    point INTO it). Emits the triangle count (equal to
    `triangle_count`'s, cross-checking both algorithms) plus the
    max out-degree — the boundedness evidence itself."""
    docs = _tp(spark, sf_dir, "documents")
    # localCheckpoint, not persist: the edge table re-enters the plan
    # 5x with differing projections, and a flat LogicalRDD leaf keeps
    # every downstream join's analysis/optimization off the deep
    # candidate-generation tree (round-5 CC rationale)
    edges = D.minhash_lsh_candidates(docs).transform(checkpoint_small)
    deg = (
        edges.select(F.col("doc_a").alias("d"))
        .unionAll(edges.select(F.col("doc_b").alias("d")))
        .groupBy("d")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    da = deg.select(F.col("d").alias("doc_a"), F.col("deg").alias("deg_a"))
    db = deg.select(F.col("d").alias("doc_b"), F.col("deg").alias("deg_b"))
    # deg is O(nodes-of-the-pair-graph): small here, potentially large at
    # web scale — leave the join strategy to AQE rather than pinning a
    # broadcast that stops being safe at 100x
    e = edges.join(da, "doc_a").join(db, "doc_b")
    a_first = (F.col("deg_a") < F.col("deg_b")) | (
        (F.col("deg_a") == F.col("deg_b")) & (F.col("doc_a") < F.col("doc_b"))
    )
    oriented = e.select(
        F.when(a_first, F.col("doc_a")).otherwise(F.col("doc_b")).alias("u"),
        F.when(a_first, F.col("doc_b")).otherwise(F.col("doc_a")).alias("v"),
        F.when(a_first, F.col("deg_b")).otherwise(F.col("deg_a")).alias("deg_v"),
    ).transform(checkpoint_small)
    o1 = oriented.select("u", F.col("v").alias("v1"), F.col("deg_v").alias("dv1"))
    o2 = oriented.select("u", F.col("v").alias("v2"), F.col("deg_v").alias("dv2"))
    wedges = o1.join(o2, "u").filter(
        (F.col("dv1") < F.col("dv2"))
        | ((F.col("dv1") == F.col("dv2")) & (F.col("v1") < F.col("v2")))
    )
    closing = oriented.select(
        F.col("u").alias("v1"), F.col("v").alias("v2")
    )
    tri = wedges.join(closing, ["v1", "v2"], "left_semi").agg(
        F.count(F.lit(1)).alias("n_triangles")
    )
    maxdeg = oriented.groupBy("u").agg(F.count(F.lit(1)).alias("outd")).agg(
        F.max("outd").alias("max_out_degree")
    )
    n_or = oriented.agg(F.count(F.lit(1)).alias("n_oriented_edges"))
    return tri.crossJoin(F.broadcast(maxdeg)).crossJoin(F.broadcast(n_or))


def q_zorder_index(spark, sf_dir):
    """Z-order (Morton) clustering key: interleave the low 10 bits of
    two layout dimensions into one sort key, plus the derived file
    bucket (zval >> 12). This is the write-side data-layout op that
    makes multi-dimensional range pruning work at 100 TB: sorting by
    zval co-locates rows close in BOTH dimensions, so min/max file
    stats prune on either predicate. Pure codegen bit arithmetic."""
    part = _t(spark, sf_dir, "part")
    x = F.col("p_partkey") % 1024
    y = F.col("p_size").cast("bigint") % 1024
    z = None
    for i in range(10):
        bits = F.shiftleft(F.shiftright(x, i).bitwiseAND(1), 2 * i) + F.shiftleft(
            F.shiftright(y, i).bitwiseAND(1), 2 * i + 1
        )
        z = bits if z is None else z + bits
    return part.select(
        "p_partkey", x.alias("zx"), y.alias("zy"), z.alias("zval")
    ).withColumn("zbucket", F.shiftright(F.col("zval"), 12))


def q_zorder_manifest(spark, sf_dir):
    """The read-side half of the Z-order story: the per-bucket min/max
    MANIFEST (what Delta/Iceberg store per file) plus the measured
    pruning effectiveness it buys. For each Z-order bucket
    (`zorder_index`'s zbucket = a file in a real layout) emit min/max of
    BOTH layout dimensions and the row count, plus a `prunable` flag for
    a representative range predicate (p_size BETWEEN 20 AND 30): a
    bucket is skipped when its [min, max] interval misses the predicate
    range — the exact arithmetic a manifest-driven scan planner runs.
    Because Z-ordering co-locates rows close in both dimensions, most
    buckets' size-intervals are narrow and the flag prunes them; the
    same stats on an unsorted layout would prune ~nothing.

    Scale shape: ONE partial-agg shuffle keyed by bucket (manifests are
    bucket-cardinality tables); the flag is pure projection."""
    zi = q_zorder_index(spark, sf_dir)
    stats = zi.groupBy("zbucket").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("zx").alias("min_zx"),
        F.max("zx").alias("max_zx"),
        F.min("zy").alias("min_zy"),
        F.max("zy").alias("max_zy"),
    )
    lo, hi = 20, 30
    return stats.select(
        "zbucket",
        "n_rows",
        "min_zx",
        "max_zx",
        "min_zy",
        "max_zy",
        ((F.col("max_zy") < lo) | (F.col("min_zy") > hi)).alias("prunable"),
    )


def q_weighted_sample(spark, sf_dir):
    """Length-weighted deterministic Bernoulli sampling: keep doc with
    probability n_chars / max(n_chars), decided by integer comparison of
    a content-addressed hash — reproducible across runs, engines, and
    partitionings (no floats, no rand()). The max is a 1-row broadcast;
    the filter is pure codegen at scan speed."""
    docs = _t(spark, sf_dir, "documents")
    mx = docs.agg(F.max("n_chars").alias("max_chars"))
    u = TX.hash32(F.col("doc_id").cast("string")) % 100000
    return (
        docs.crossJoin(F.broadcast(mx))
        .filter(u * F.col("max_chars") < F.col("n_chars") * 100000)
        .select("doc_id", "lang", "n_chars")
    )


def q_sessionize_events(spark, sf_dir):
    """Batch sessionization with explicit session ids: a 10-minute-gap
    boundary flag (lag) -> running-sum session id -> per-session
    aggregate. One shuffle (user_id) serves all three windows. The gap
    test is integer microseconds (unix_micros), exact cross-engine; the
    value sum uses decimal accumulation. This is the batch twin of
    streaming session_windows — same semantics, checkable against SQL."""
    return W.sessionize(_t(spark, sf_dir, "events"))


def q_curation_pipeline(spark, sf_dir):
    """End-to-end corpus-curation composition, one Catalyst plan:
    quality gate -> exact dedup (canonical = min doc_id per normalized
    content) -> deterministic 50% hash sample -> per-language corpus
    stats. Demonstrates that the declared operators compose without
    materialization barriers: the quality filter and content key are
    scan-stage codegen, the dedup window is the only corpus shuffle,
    the sample is a post-dedup codegen filter, and the final agg is
    partial-aggregated. At 100 TB each stage's shuffle volume shrinks
    monotonically (gate drops low-quality, dedup drops duplicates,
    sample halves)."""
    from pyspark.sql import Window as SW

    docs = _tp(spark, sf_dir, "documents")
    kept = docs.filter(TX.quality_score(F.col("text")) >= 0.5)
    w = SW.partitionBy("ck").orderBy("doc_id")
    canon = (
        kept.withColumn("ck", TX.normalized_md5(F.col("text")))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
    )
    sampled = canon.filter(
        TX.hash32(F.col("doc_id").cast("string")) % 1000 < 500
    )
    return sampled.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
    )


def q_containment_pairs(spark, sf_dir):
    """Shingle-containment verification of LSH candidates — catches
    inclusion near-dups (short doc quoted inside a long one) that
    Jaccard misses because the union is large. Pair work is bounded by
    the candidate set; shingle sets built only for candidate docs."""
    docs = _tp(spark, sf_dir, "documents")
    cands = D.minhash_lsh_candidates(docs)
    return D.containment_pairs(docs, cands, threshold=0.5)


def q_approx_percentile_binned(spark, sf_dir):
    """Histogram-derived approximate percentiles (p50/p95 lower bounds
    from unit-width bins) per event_type — the 100 TB scale path for
    quantiles: one partial-aggregated groupBy builds the histogram
    (bounded by bin count, not rows), the percentile pick runs on the
    tiny bin table. All boundary tests are integer (cum*2 >= tot);
    exact-quantile queries (quantile_summary) are the small-scale
    oracle this approximates."""
    from pyspark.sql import Window as SW

    ev = _t(spark, sf_dir, "events")
    bin_col = F.least(F.floor(F.col("value")), F.lit(499)).cast("int")
    hist = ev.groupBy("event_type", bin_col.alias("bin")).agg(
        F.count(F.lit(1)).alias("n")
    )
    w = SW.partitionBy("event_type").orderBy("bin")
    marked = hist.select(
        "event_type",
        "bin",
        F.sum("n").over(w.rowsBetween(SW.unboundedPreceding, SW.currentRow)).alias("cum"),
        F.sum("n").over(SW.partitionBy("event_type")).alias("tot"),
    )
    return marked.groupBy("event_type").agg(
        F.min(F.when(F.col("cum") * 2 >= F.col("tot"), F.col("bin")))
        .cast("double")
        .alias("p50_est"),
        F.min(F.when(F.col("cum") * 20 >= F.col("tot") * 19, F.col("bin")))
        .cast("double")
        .alias("p95_est"),
        F.max("tot").alias("n_events"),
    )


def q_ann_recall(spark, sf_dir):
    """Retrieval-quality evaluation: per-query recall of the IVF-probe
    ANN against exact brute-force top-5 — the metric that governs the
    speed/recall tradeoff when replacing exact search at scale. Both
    sides are the engine's own deterministic operators, so the recall
    numbers are reproducible across engines and partitionings. The
    brute-force side is the expensive leg (Q x N) — in production it
    runs on a sampled query set exactly as here (20 queries). Fused
    single-pass form since round 6 (similarity.ann_recall_report):
    both top-k sets derive from ONE scored cross join — the two-leg
    version paid the Q x N pass twice plus a set join."""
    emb = _tp(spark, sf_dir, "embeddings")
    return S.ann_recall_report(
        emb.filter(F.col("vec_id") < 20),
        emb,
        _ivf_centroid_arrays(spark, sf_dir),
        k=5,
        nprobe=1,
    )


def q_pareto_frontier(spark, sf_dir):
    """2-D Pareto frontier (skyline): parts not weakly dominated on
    (minimize p_size, maximize p_retailprice) — the quality-vs-cost
    frontier selection of data curation. Two-pass distributed shape:
    pass 1 computes each hash-partition's local frontier with a
    partitioned sort + exclusive running max (any globally
    non-dominated point is locally non-dominated, and dominance is
    transitive, so survivors contain the global frontier); pass 2
    applies the same rule globally over the tiny survivor set. The
    corpus is never globally sorted — the only single-task window runs
    on per-partition frontiers. Tie-break by p_partkey: deterministic,
    and equal (size, price) duplicates keep the minimum key."""
    part = _t(spark, sf_dir, "part")
    return R.pareto_frontier_2d(
        part.select("p_partkey", "p_size", "p_retailprice"),
        minimize_col="p_size",
        maximize_col="p_retailprice",
        id_col="p_partkey",
    )



# --------------------------------------------------------------------------
# round-4 additions
# --------------------------------------------------------------------------


def q_gopher_rules(spark, sf_dir):
    """Gopher/MassiveText-style quality rules — the second model-free
    curation gate (C4's q_quality_gate is ratio rules over raw token
    stats; Gopher adds distribution-shape rules that need the per-token
    count table): word count in [50, 100k], mean token length in [3,10],
    alphabetic-token ratio >= 80%, >= 2 DISTINCT stopwords present
    (Gopher's "stop word" rule), and no single token exceeding 10% of
    the doc (the repetition-shape rule). Every rule is integer
    arithmetic (cross-multiplied ratios) — bit-exact across engines and
    partitionings.

    Scale shape: one explode + TWO partial-agg groupBys ((doc,tok) then
    doc — the first collapses the token stream to per-doc vocabulary
    size, so the second shuffle is tiny); docs with zero tokens rejoin
    via the id left-join."""
    docs = _tp(spark, sf_dir, "documents")
    per_tok = docs.select(
        "doc_id", F.explode(TX.tokens(F.col("text"))).alias("tok")
    )
    tok_counts = per_tok.groupBy("doc_id", "tok").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    stats = tok_counts.groupBy("doc_id").agg(
        F.sum("cnt").alias("n_tokens"),
        F.sum(F.col("cnt") * F.length("tok")).alias("sum_len"),
        F.sum(
            F.when(F.col("tok").rlike("^[a-z]+$"), F.col("cnt")).otherwise(0)
        ).alias("n_alpha"),
        F.count_distinct(
            F.when(F.lower(F.col("tok")).isin([*TX.STOPWORDS]), F.col("tok"))
        ).alias("n_stop_distinct"),
        F.max("cnt").alias("top_tok_cnt"),
    )
    ids = docs.select("doc_id")
    j = ids.join(stats, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_tokens", F.lit(0).cast("long")).alias("n_tokens"),
        F.coalesce("sum_len", F.lit(0).cast("long")).alias("sum_len"),
        F.coalesce("n_alpha", F.lit(0).cast("long")).alias("n_alpha"),
        F.coalesce("n_stop_distinct", F.lit(0).cast("long")).alias(
            "n_stop_distinct"
        ),
        F.coalesce("top_tok_cnt", F.lit(0).cast("long")).alias("top_tok_cnt"),
    )
    r_wc = (F.col("n_tokens") >= 50) & (F.col("n_tokens") <= 100000)
    r_len = (F.lit(3) * F.col("n_tokens") <= F.col("sum_len")) & (
        F.col("sum_len") <= F.lit(10) * F.col("n_tokens")
    )
    r_alpha = F.col("n_alpha") * 10 >= F.col("n_tokens") * 8
    r_stop = F.col("n_stop_distinct") >= 2
    r_top = F.col("top_tok_cnt") * 10 <= F.col("n_tokens")
    return j.select(
        "doc_id",
        "n_tokens",
        r_wc.alias("r_word_count"),
        r_len.alias("r_mean_len"),
        r_alpha.alias("r_alpha_ratio"),
        r_stop.alias("r_stopwords"),
        r_top.alias("r_top_token"),
        (r_wc & r_len & r_alpha & r_stop & r_top).alias("keep"),
    )


def q_pmi_bigrams(spark, sf_dir):
    """Top-20 collocations by PMI (pointwise mutual information) — the
    classic phrase-mining / tokenizer-merge-scoring statistic. The PMI
    ORDER is computed on the integer ratio floor(c_xy*N*1e6/(c_x*c_y))
    (monotone in PMI), so ranking is bit-exact across engines with no
    float log anywhere; min-count 5 kills the df=1 noise PMI is
    notorious for. The product runs in DECIMAL(38,0) — with corpus
    token total n in the billions a BIGINT cxy*n*1e6 silently wraps
    (non-ANSI Spark); the decimal multiply is the same plan, wider
    type, exact up to ~1e38 (ADVICE r4).

    Scale shape: bigrams stay a zip-shaped map stage (no corpus
    shuffle); unigram + bigram counts are vocabulary-keyed partial aggs;
    the two unigram joins run on the vocab-sized bigram table; the
    top-20 is a distributed TakeOrderedAndProject over min-count
    survivors (no single-partition window sort)."""
    docs = _tp(spark, sf_dir, "documents")
    toks = TX.tokens(F.lower(F.col("text")))
    with_toks = docs.select(toks.alias("toks"))
    # NOT checkpointed (round 9, measured): the unigram table feeds
    # three consumers and the plan shows 4 corpus scans, but a paired
    # A/B of the checkpointed form lost 2 of 3 rounds — the vocab agg
    # is cheap enough that pipelined recompute beats the populate
    # barrier, the same verdict as prefix_filter's verify leg
    # (BASELINE.md round 9). cooccurrence_lift's dt checkpoint DID win
    # because its re-run work includes a corpus-sized distinct.
    uni = with_toks.select(F.explode("toks").alias("w")).groupBy("w").agg(
        F.count(F.lit(1)).alias("c")
    )
    tot = uni.agg(F.sum("c").alias("n"))
    pairs = with_toks.filter(F.size("toks") >= 2).select(
        F.explode(
            F.arrays_zip(
                F.slice(F.col("toks"), 1, F.size("toks") - 1),
                F.slice(F.col("toks"), 2, F.size("toks") - 1),
            )
        ).alias("bg")
    )
    bcnt = pairs.select(
        F.col("bg").getField("0").alias("w1"),
        F.col("bg").getField("1").alias("w2"),
    ).groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("cxy"))
    u1 = uni.select(F.col("w").alias("w1"), F.col("c").alias("c1"))
    u2 = uni.select(F.col("w").alias("w2"), F.col("c").alias("c2"))
    scored = (
        bcnt.filter(F.col("cxy") >= 5)
        .join(u1, "w1")
        .join(u2, "w2")
        .crossJoin(F.broadcast(tot))
        .select(
            F.concat_ws(" ", "w1", "w2").alias("bigram"),
            "cxy",
            "c1",
            "c2",
            F.expr(
                "(CAST(cxy AS DECIMAL(38,0)) * n * 1000000) div (c1 * c2)"
            ).alias("pmi_q"),
        )
    )
    return _topk_ranked(
        scored, [F.col("pmi_q").desc(), F.col("bigram")], 20, "pmi_rank"
    )


_BLOOM_BITS = 4096
_BLOOM_K = 3


def q_bloom_prune(spark, sf_dir):
    """Bloom-filter join pruning — the runtime-filter primitive big
    engines inject automatically (Spark 3.3+ runtime row-group filters,
    a.k.a. Bloom join): hash the small side's join keys into an m-bit
    filter, prune the fact side BEFORE the shuffle, and measure the
    false-positive cost. k=3 md5-seeded positions over m=4096 bits; a
    fact row passes iff all 3 positions are set. Emits the one-row
    audit: fact count, bloom-pass count, true-match count, false
    positives, observed fp rate.

    Scale shape: the filter is m bits — a CONSTANT (here 4096 = 64
    longs), independent of both table sizes — so it is collected to the
    driver and injected as a literal bitmap, exactly what Spark's own
    runtime BloomFilterAggregate does (build-side agg -> driver ->
    reinjected scalar filter). The fact-side membership test is then a
    pure per-row projection inside whole-stage codegen: no fact explode,
    no fact-keyed shuffle, no rejoin — rows that fail the filter would
    never reach the real join's exchange, and the audit itself is one
    scan-side agg.

    Round 11: the k positions derive from ONE md5 per key via
    Kirsch–Mitzenmeier double hashing — pos_i = (h1 + i·h2) mod m with
    h1/h2 two 32-bit slices of the same digest (asymptotically the same
    false-positive rate as k independent hashes; the per-fact-row cost
    was k digests, now one). The former per-seed transform() lambda also
    ran each digest in the interpreted expression path; the unrolled
    k=3 probes are plain codegen Columns. Paired A/B: unroll alone was
    −8% at sf~1; single-digest is the structural cut."""
    cust = _t(spark, sf_dir, "customer")
    # fact side spread: the probe is one md5 per row, CPU-bound on
    # a single-split local scan (a real cluster's scan arrives split)
    orders = _tp(spark, sf_dir, "orders")
    dim = cust.filter(F.col("c_acctbal") > 9000).select("c_custkey")

    def hashed(df, key: str):
        """(.. , _p0.._pk-1) — one md5, two conv slices, k modular
        positions, all plain whole-stage-codegen expressions."""
        hx = df.select(
            "*",
            F.md5(F.concat(F.lit("bf-"), F.col(key).cast("string"))).alias("_hx"),
        ).select(
            "*",
            F.conv(F.substring("_hx", 1, 8), 16, 10).cast("bigint").alias("_h1"),
            F.conv(F.substring("_hx", 9, 8), 16, 10).cast("bigint").alias("_h2"),
        )
        return hx.select(
            "*",
            *[
                ((F.col("_h1") + F.lit(i) * F.col("_h2")) % _BLOOM_BITS).alias(
                    f"_p{i}"
                )
                for i in range(_BLOOM_K)
            ],
        ).drop("_hx", "_h1", "_h2")

    # build side: distinct bit positions, collected (<= m rows — the
    # filter SIZE is the bound, not the dim row count)
    pos_rows = (
        hashed(dim, "c_custkey")
        .select(
            F.explode(F.array(*[F.col(f"_p{i}") for i in range(_BLOOM_K)])).alias(
                "pos"
            )
        )
        .distinct()
        .collect()
    )
    words = [0] * (_BLOOM_BITS // 64)
    for r in pos_rows:
        words[r.pos // 64] |= 1 << (r.pos % 64)
    # wrap to signed 64-bit so each word is a valid Spark LongType literal
    bm = F.array(
        *[
            F.lit(w - (1 << 64) if w >= (1 << 63) else w).cast("long")
            for w in words
        ]
    )
    bloom_pass = None
    for i in range(_BLOOM_K):
        p = F.col(f"_p{i}")
        bit = (
            F.getbit(F.get(bm, (p / F.lit(64)).cast("int")), p % F.lit(64))
            == F.lit(1)
        )
        bloom_pass = bit if bloom_pass is None else (bloom_pass & bit)
    flags = (
        hashed(orders.select("o_custkey"), "o_custkey")
        .join(
            F.broadcast(dim.withColumn("_m", F.lit(1))),
            F.col("o_custkey") == F.col("c_custkey"),
            "left",
        )
        .select(
            bloom_pass.alias("bloom_pass"),
            F.col("_m").isNotNull().alias("true_match"),
        )
    )
    agg = flags.agg(
        F.count(F.lit(1)).alias("n_fact"),
        F.sum(F.when(F.col("bloom_pass"), 1).otherwise(0)).alias("n_pass"),
        F.sum(F.when(F.col("true_match"), 1).otherwise(0)).alias("n_true"),
        F.sum(
            F.when(F.col("bloom_pass") & ~F.col("true_match"), 1).otherwise(0)
        ).alias("n_false_pos"),
    )
    return agg.select(
        "n_fact",
        "n_pass",
        "n_true",
        "n_false_pos",
        (
            F.col("n_false_pos").cast("double")
            / F.greatest(F.col("n_pass"), F.lit(1)).cast("double")
        ).alias("fp_rate"),
    )


_CM_ROWS = 4
_CM_WIDTH = 512


def q_countmin_heavy(spark, sf_dir):
    """Count-Min sketch heavy hitters: a 4x512 counter table with
    md5-seeded row hashes; the estimate for any key is the MIN over its
    4 cells, never an undercount. Emits the top-20 exact-count tokens
    with exact vs CM estimate and the overcount — the sketch-accuracy
    evidence. Deterministic hashing makes the whole sketch (and
    therefore the estimates) identical on any engine and any
    partitioning — the same property that makes it streaming-mergeable:
    cells add componentwise across partitions/micro-batches.

    Scale shape: the token stream collapses to a vocabulary-keyed count
    ONCE (partial agg); counters build FROM the vocab table (equivalent
    by linearity of the sketch, corpus-size-free); the probe runs on 20
    rows x 4 cells against a 2048-row broadcast."""
    docs = _tp(spark, sf_dir, "documents")
    vocab = (
        docs.select(F.explode(TX.tokens(F.lower(F.col("text")))).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    rows = F.array(*[F.lit(i) for i in range(_CM_ROWS)])

    def cm_col(tok_col, r_col):
        return TX.hash32(
            F.concat(F.lit("cm"), r_col.cast("string"), F.lit("-"), tok_col)
        ) % _CM_WIDTH

    cells = (
        vocab.select("tok", "cnt", F.explode(rows).alias("r"))
        .select("r", cm_col(F.col("tok"), F.col("r")).alias("col"), "cnt")
        .groupBy("r", "col")
        .agg(F.sum("cnt").alias("c"))
    )
    # distributed top-20 (TakeOrderedAndProject), not a global window sort
    heavy = vocab.orderBy(F.col("cnt").desc(), F.col("tok")).limit(20)
    probe = heavy.select("tok", "cnt", F.explode(rows).alias("r")).select(
        "tok", "cnt", "r", cm_col(F.col("tok"), F.col("r")).alias("col")
    )
    est = (
        probe.join(F.broadcast(cells), ["r", "col"])
        .groupBy("tok", "cnt")
        .agg(F.min("c").alias("cm_est"))
    )
    return est.select(
        F.col("tok").alias("token"),
        F.col("cnt").alias("exact_cnt"),
        "cm_est",
        (F.col("cm_est") - F.col("cnt")).alias("overcount"),
    )


def q_dataset_split(spark, sf_dir):
    """Deterministic train/val/test split (90/5/5) by content-stable
    hash bucket — the split that survives re-runs, re-shards, and
    engine swaps (never random(): a reshuffled corpus must not move
    docs across splits). Emits per (source, split) volume stats + an
    id checksum, the leakage/balance audit a training pipeline runs
    before every export.

    Scale shape: the bucket is a codegen scan-side expression; ONE
    partial-agg shuffle keyed by (source, split). This is the split
    HALF of shard_assignment (which handles within-split sharding)."""
    docs = _t(spark, sf_dir, "documents")
    bucket = (
        TX.hash32(F.concat(F.lit("split-"), F.col("doc_id").cast("string")))
        % 100
    )
    lab = docs.select(
        "doc_id",
        "source",
        "n_chars",
        F.when(bucket < 90, "train")
        .when(bucket < 95, "val")
        .otherwise("test")
        .alias("split"),
    )
    return lab.groupBy("source", "split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
        F.sum(TX.hash32(F.col("doc_id").cast("string"))).alias("id_checksum"),
    )


def q_ann_sq_topk(spark, sf_dir):
    """Int8 scalar-quantized brute-force top-k
    (operators/similarity.py ann_topk_sq): the 4x-memory-compression
    point between exact float (ann_topk) and PQ's 64x (ann_pq_adc).
    Integer scores -> exact cross-engine compare with no quantization
    trick needed."""
    emb = _tp(spark, sf_dir, "embeddings")
    return S.ann_topk_sq(emb.filter(F.col("vec_id") < 20), emb, k=5)


def q_ann_sq_recall(spark, sf_dir):
    """Recall of int8 SQ top-5 vs exact float top-5 — the fourth point
    on the measured recall/cost curve (IVF nprobe=1: 0.14, nprobe=2:
    0.30, PQ 4-byte: 0.16; SQ keeps 50x more information than PQ so
    recall should be near-exact — the measurement proves the int8
    compression is almost free, which is WHY production vector stores
    default to SQ before reaching for PQ). Fused single-pass form since
    round 10 (similarity.ann_sq_recall_report): both top-k sets derive
    from ONE scored cross join — the two-leg version paid the Q x N
    pass twice plus a set join (the same fusion ann_recall got in
    round 6)."""
    emb = _tp(spark, sf_dir, "embeddings")
    return S.ann_sq_recall_report(
        emb.filter(F.col("vec_id") < 20), emb, k=5
    )


def q_prefix_filter_pairs(spark, sf_dir):
    """EXACT similarity self-join via prefix filtering
    (operators/dedup.py prefix_filter_pairs — AllPairs/PPJoin family):
    every pair with 5-shingle Jaccard >= 0.5, with zero false negatives
    by construction — the deterministic cross-check for the
    probabilistic minhash_lsh_pairs candidates (LSH trades recall for
    cost; prefix filtering trades a rarity-ordered index pass for
    exactness)."""
    return D.prefix_filter_pairs(
        _tp(spark, sf_dir, "documents"), k=5, threshold=0.5
    )



def _funnel_user_steps(ev):
    """Per-user funnel step times from a (user_id, event_type, tus)
    frame: t_view = earliest view, t_click = earliest click STRICTLY
    AFTER t_view, t_purchase = earliest purchase strictly after t_click.

    Shape (round 8): running-min window aggregates instead of a per-user
    collect_list array. A click qualifies iff tus > (running min of view
    times over the value-range frame up to its own tus) — that running
    min equals the user's GLOBAL min view time whenever that global min
    is < tus (it is in the frame), and the strict > fails exactly when
    it should on ties, so the qualified set is identical to the
    global-min definition; same argument one level up for purchases vs
    qualified clicks. The two window ops share one (partition, order)
    spec -> ONE exchange + ONE sort, and growing-frame running mins
    stream with O(1) per-user state — a whale user (bot traffic at
    100 TB) costs a spillable sort, never an unbounded agg buffer (the
    round-7 collect_list shape OOMed exactly there; ADVICE.md r7)."""
    from pyspark.sql import Window as SW

    w = (
        SW.partitionBy("user_id")
        .orderBy("tus")
        .rangeBetween(SW.unboundedPreceding, SW.currentRow)
    )
    is_ = lambda t: F.col("event_type") == t  # noqa: E731
    r = (
        ev.withColumn("_rv", F.min(F.when(is_("view"), F.col("tus"))).over(w))
        .withColumn(
            "_qc", F.when(is_("click") & (F.col("tus") > F.col("_rv")), F.col("tus"))
        )
        .withColumn("_rc", F.min("_qc").over(w))
        .withColumn(
            "_qp",
            F.when(is_("purchase") & (F.col("tus") > F.col("_rc")), F.col("tus")),
        )
    )
    # groupBy on the window's partition key: the hash partitioning is
    # already in place, so this adds no exchange
    return r.groupBy("user_id").agg(
        F.min(F.when(is_("view"), F.col("tus"))).alias("t_view"),
        F.min("_qc").alias("t_click"),
        F.min("_qp").alias("t_purchase"),
    )


def q_event_funnel(spark, sf_dir):
    """Ordered conversion funnel view -> click -> purchase: per user the
    earliest view, the earliest click STRICTLY AFTER that view, the
    earliest purchase strictly after that click; one summary row with
    step populations and conversion ratios — the product-analytics
    staple. Integer-microsecond comparisons -> exact cross-engine.

    Scale shape (round 8): ONE user-keyed shuffle — the scan keeps only
    the three funnel event types (filter pushed down), the strictly-
    after step sequencing is a pair of running-min window aggregates
    (O(1) state per user — see _funnel_user_steps; replaces the round-7
    per-user collect_list array whose agg buffer grew unboundedly with
    a whale user's event count), and the funnel summary is a single
    scalar agg."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id", "event_type", F.unix_micros(F.col("ts").cast("timestamp")).alias("tus")
    ).filter(F.col("event_type").isin("view", "click", "purchase"))
    # count(col) (non-null count) — never NULL, so an events slice with
    # zero funnel rows reports (0, 0, 0) exactly like the former
    # count-based legs (round-7 review finding)
    return _funnel_user_steps(ev).agg(
        F.count("t_view").alias("n_view"),
        F.count("t_click").alias("n_click"),
        F.count("t_purchase").alias("n_purchase"),
    ).select(
        "n_view",
        "n_click",
        "n_purchase",
        (F.col("n_click").cast("double") / F.col("n_view")).alias("conv_view_click"),
        (F.col("n_purchase").cast("double") / F.col("n_click")).alias(
            "conv_click_purchase"
        ),
    )


def q_retention_cohorts(spark, sf_dir):
    """Weekly retention triangle: cohort = a user's first active week,
    retention = distinct users active at week offset k, plus the cohort
    size and the retained ratio. Weeks are INTEGER epoch-day div 7 (not
    date_trunc) so bucketing is engine- and locale-proof.

    Scale shape (round 7): ONE user-keyed shuffle — each user's active
    weeks collect into a bounded set (≤ #weeks elements), the cohort is
    the set's min, and the triangle explodes (cohort, offset) rows
    straight off it — one row per (user, offset) by set construction,
    so a plain count IS the distinct-user count. The former shape
    (presence distinct + user-keyed min + a user-keyed join back +
    count_distinct) paid two extra exchanges for the same rows.

    Per-key state contract (round 8, vs the whale-key audit): the
    collect_set buffer is bounded by the number of DISTINCT calendar
    weeks in the data's time range — ~52/year, ≤ ~1k over two decades —
    independent of a user's raw event count, because set semantics
    dedupe map-side. A whale user with 10^9 events still contributes at
    most #weeks elements; this is a genuine bound, unlike the funnel's
    former per-event array (see _funnel_user_steps)."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        F.expr(
            "(unix_micros(CAST(ts AS TIMESTAMP)) div 86400000000) div 7"
        ).alias("week"),
    )
    per_user = ev.groupBy("user_id").agg(
        F.collect_set("week").alias("_ws")
    ).select(F.array_min("_ws").alias("cohort_week"), "_ws")
    sizes = per_user.groupBy("cohort_week").agg(
        F.count(F.lit(1)).alias("cohort_size")
    )
    tri = (
        per_user.select(
            "cohort_week",
            F.explode(
                F.transform("_ws", lambda w: w - F.col("cohort_week"))
            ).alias("offset_weeks"),
        )
        .groupBy("cohort_week", "offset_weeks")
        .agg(F.count(F.lit(1)).alias("n_active"))
    )
    return tri.join(F.broadcast(sizes), "cohort_week").select(
        "cohort_week",
        "offset_weeks",
        "n_active",
        "cohort_size",
        (F.col("n_active").cast("double") / F.col("cohort_size")).alias(
            "retained_ratio"
        ),
    )


def q_event_transitions(spark, sf_dir):
    """First-order event-type transition matrix (the Markov-chain /
    user-path census): per user, consecutive event pairs by (ts,
    event_id) order -> transition counts + per-source probability.
    One user-keyed window (single shuffle) produces every pair; the
    probability join runs on the 5x5 transition table."""
    from pyspark.sql import Window as SW

    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("tus"),
    )
    w = SW.partitionBy("user_id").orderBy("tus", "event_id")
    pairs = ev.select(
        F.col("event_type").alias("src"),
        F.lead("event_type").over(w).alias("dst"),
    ).filter(F.col("dst").isNotNull())
    cnt = pairs.groupBy("src", "dst").agg(F.count(F.lit(1)).alias("n"))
    totals = cnt.groupBy("src").agg(F.sum("n").alias("n_src"))
    return cnt.join(F.broadcast(totals), "src").select(
        "src",
        "dst",
        "n",
        (F.col("n").cast("double") / F.col("n_src")).alias("p"),
    )


def q_rolling_zscore(spark, sf_dir):
    """Trailing-window anomaly score: per user, z-score of each event
    value against the previous 9 events (ROWS frame, >= 5 samples
    required), top-20 |z| — streaming-ish outlier detection as one
    user-keyed window. Mean/variance come from DECIMAL window sums
    (order-independent exact; a double window sum would differ between
    Spark's running accumulation and DuckDB's segment tree), and only
    the final variance/sqrt runs in double (fixed expression tree ->
    deterministic). Degenerate windows are excluded by requiring
    var > 0 BEFORE the divide, mirrored exactly in the oracle —
    without the shared guard a constant trailing window yields NULL in
    Spark (x/0.0) but ±inf in DuckDB, and a tiny-negative variance
    yields NaN that Spark ranks first while DuckDB drops it (ADVICE
    r4). Both engines compute var from the same decimal-exact s1/s2
    doubles, so the > 0 predicate is bit-identical. The top-20 is a
    distributed TakeOrderedAndProject, not a global window sort."""
    from pyspark.sql import Window as SW

    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("tus"),
        F.col("value").cast("decimal(18,6)").alias("vd"),
        "value",
    )
    w = (
        SW.partitionBy("user_id")
        .orderBy("tus", "event_id")
        .rowsBetween(-9, -1)
    )
    stats = ev.select(
        "event_id",
        "user_id",
        "value",
        F.count(F.lit(1)).over(w).alias("n_prev"),
        F.sum("vd").over(w).cast("double").alias("s1"),
        F.sum(F.col("vd") * F.col("vd")).over(w).cast("double").alias("s2"),
    ).filter(F.col("n_prev") >= 5)
    mean = F.col("s1") / F.col("n_prev")
    var = (F.col("s2") - F.col("s1") * F.col("s1") / F.col("n_prev")) / F.col(
        "n_prev"
    )
    z = (F.col("value") - mean) / F.sqrt(var)
    scored = stats.filter(var > F.lit(0.0)).select(
        "event_id", "user_id", "value", z.alias("zscore")
    )
    return _topk_ranked(
        scored,
        [F.abs(F.col("zscore")).desc(), F.col("event_id")],
        20,
        "z_rank",
    )


def q_cooccurrence_lift(spark, sf_dir):
    """Document-level token co-occurrence with integer-ratio lift — the
    market-basket / related-terms statistic (PMI's doc-level sibling:
    pmi_bigrams scores ADJACENCY, this scores presence-in-the-same-doc).
    lift ~ P(a,b)/(P(a)P(b)) ordered by the exact integer
    floor(n_both*n_docs*1e6/(n_a*n_b)); support >= 10 docs; df
    band-pass 10 <= df <= n_docs/2 (both bounds part of the query
    definition, mirrored in the oracle).

    Scale shape: (doc, token) distinct collapses the corpus once; the
    df BAND-PASS runs BEFORE the per-doc self-join, bounding per-doc
    vocabulary: the lower bound df >= 10 is answer-preserving given
    support >= 10 (n_both <= min(df_a, df_b)), and the upper bound
    excludes stop-words (df > half the corpus) whose quadratic
    candidate mass would otherwise dominate the join — without it a
    stop-word-dense corpus makes the self-join quadratic in per-doc
    vocabulary (VERDICT r4 #2). Counts and the two marginal joins are
    vocabulary-keyed; the lift product runs in DECIMAL(38,0) (BIGINT
    wraps once corpus doc counts hit ~1e9, ADVICE r4); the top-20 is
    a distributed TakeOrderedAndProject."""
    docs = _tp(spark, sf_dir, "documents")
    # checkpointed (round 9): the (doc, token) distinct feeds the
    # marginal count AND both pair-join sides — un-checkpointed, the
    # executed plan re-ran the corpus explode + distinct exchange 3x
    # (11 parquet scans, 0 ReusedExchange: the spread() repartition
    # defeats exchange reuse). Same corpus-scale spill-vs-recompute
    # call as duplicate_spans' shingle rows (SCALING.md).
    dt = (
        docs.select(
            "doc_id", F.explode(TX.tokens(F.lower(F.col("text")))).alias("tok")
        )
        .distinct()
        .transform(checkpoint_small)
    )
    n_docs = docs.agg(F.count(F.lit(1)).alias("nd"))
    marg_all = dt.groupBy("tok").agg(F.count(F.lit(1)).alias("n_tok"))
    marg = (
        marg_all.crossJoin(F.broadcast(n_docs))
        .filter(
            (F.col("n_tok") >= 10) & (F.col("n_tok") * 2 <= F.col("nd"))
        )
        .select("tok", "n_tok")
    )
    dtb = dt.join(marg.select("tok"), "tok", "left_semi")
    a = dtb.select("doc_id", F.col("tok").alias("tok_a"))
    b = dtb.select("doc_id", F.col("tok").alias("tok_b"))
    both = (
        a.join(b, "doc_id")
        .filter(F.col("tok_a") < F.col("tok_b"))
        .groupBy("tok_a", "tok_b")
        .agg(F.count(F.lit(1)).alias("n_both"))
        .filter(F.col("n_both") >= 10)
    )
    ma = marg.select(F.col("tok").alias("tok_a"), F.col("n_tok").alias("n_a"))
    mb = marg.select(F.col("tok").alias("tok_b"), F.col("n_tok").alias("n_b"))
    scored = (
        both.join(ma, "tok_a")
        .join(mb, "tok_b")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "tok_a",
            "tok_b",
            "n_both",
            "n_a",
            "n_b",
            F.expr(
                "(CAST(n_both AS DECIMAL(38,0)) * nd * 1000000)"
                " div (n_a * n_b)"
            ).alias("lift_q"),
        )
    )
    return _topk_ranked(
        scored,
        [F.col("lift_q").desc(), F.col("tok_a"), F.col("tok_b")],
        20,
        "lift_rank",
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # Key ORDER is deliberate: the driver's correctness harness has a
    # per-round budget (50 keys/round observed since round 1) and walks
    # this dict in order. Round-13 ordering (same standing policy as
    # r11/r12): (0) modified-keys-first — bpe_merges, whose executed
    # shape changed this round (driver-local merge loop, e347705) after
    # its last driver row; then oldest-driver-row-first — (1) the 7
    # r9-stale keys, (2) the 36 r10-stale keys, (3a) 6 r11-stale keys
    # filling the 50-key window exactly; (3b)/(4) the rest, oldest
    # first, alphabetical within tier.
    return {
        # -- (0) modified-keys-first (the standing policy since r11): the
        #    round-13 bpe_train driver-local merge loop changed
        #    bpe_merges' executed shape (commit e347705) after its last
        #    driver row (r11) — it leads the window (rows-only check by
        #    design; a crash in the new path is still a red row) --
        "bpe_merges": q_bpe_merges,
        # -- (1) the 7 keys whose latest driver row is r9 (displaced
        #    from the r12 window by its modified-keys tier; the stalest
        #    slice — VERDICT r11 #7 continuation), alphabetical --
        "skew_profile": q_skew_profile,
        "snapshot_diff": q_snapshot_diff,
        "threshold_trigger": q_threshold_trigger,
        "topk_per_key": q_topk_per_key,
        "topp_select": q_topp_select,
        "weighted_sample": q_weighted_sample,
        "zorder_index": q_zorder_index,
        # -- (2) the 36 keys whose latest driver row is r10,
        #    alphabetical; tiers 0+1+2+3a = the 50-key window exactly --
        "analytic_window": q_analytic_window,
        "ann_ivf_multiprobe": q_ann_ivf_multiprobe,
        "ann_ivf_probe": q_ann_ivf_probe,
        "ann_sq_recall": q_ann_sq_recall,
        "ann_topk": q_ann_topk,
        "anti_join_customers_without_orders": q_anti_join_customers_without_orders,
        "bm25_topk": q_bm25_topk,
        "bucketed_join_colocated": q_bucketed_join_colocated,
        "centroid_distances": q_centroid_distances,
        "cosine_neardup": q_cosine_neardup,
        "cosine_neardup_lsh": q_cosine_neardup_lsh,
        "count_by_key": q_count_by_key,
        "cube_agg": q_cube_agg,
        "dataset_split": q_dataset_split,
        "date_funcs": q_date_funcs,
        "dedup_clusters": q_dedup_clusters,
        "doc_rarity": q_doc_rarity,
        "domain_mix": q_domain_mix,
        "filter_orders": q_filter_orders,
        "grouping_sets_agg": q_grouping_sets_agg,
        "ivf_centroids": q_ivf_centroids,
        "join_broadcast_part": q_join_broadcast_part,
        "lsh_bucket_counts": q_lsh_bucket_counts,
        "pricing_summary": q_pricing_summary,
        "project_net_price": q_project_net_price,
        "range_frame_window": q_range_frame_window,
        "retention_cohorts": q_retention_cohorts,
        "rollup_agg": q_rollup_agg,
        "semi_join_customers_with_orders": q_semi_join_customers_with_orders,
        "sink_table_roundtrip": q_sink_table_roundtrip,
        "span_cut_text": q_span_cut_text,
        "tpch_q3_top_revenue": q_tpch_q3_top_revenue,
        "tpch_q5_regional_volume": q_tpch_q5_regional_volume,
        "tpch_q6_forecast_revenue": q_tpch_q6_forecast_revenue,
        "window_sliding": q_window_sliding,
        "window_tumbling": q_window_tumbling,
        # -- (3a) first 6 r11-checked keys (alphabetical) fill the
        #    window to 50; the freshness floor advances r9 -> r11 for
        #    everything in-window --
        "bloom_prune": q_bloom_prune,
        "contamination_flag": q_contamination_flag,
        "dedup_clusters_star": q_dedup_clusters_star,
        "duplicate_spans": q_duplicate_spans,
        "edit_distance_pairs": q_edit_distance_pairs,
        "event_funnel": q_event_funnel,
        # -- (3b) the remaining r11-checked keys, alphabetical --
        "event_transitions": q_event_transitions,
        "frame_sample": q_frame_sample,
        "hash_sample": q_hash_sample,
        "json_array_funcs": q_json_array_funcs,
        "kmv_distinct": q_kmv_distinct,
        "media_blob_stats": q_media_blob_stats,
        "media_decode_features": q_media_decode_features,
        "media_exact_dedup": q_media_exact_dedup,
        "pivot_agg": q_pivot_agg,
        "quality_gate": q_quality_gate,
        "quantile_summary": q_quantile_summary,
        "rank_features": q_rank_features,
        "sample_exact_per_stratum": q_sample_exact_per_stratum,
        "scalar_subquery_above_avg": q_scalar_subquery_above_avg,
        "scd2_intervals": q_scd2_intervals,
        "semdedup_prune": q_semdedup_prune,
        "sequence_pack": q_sequence_pack,
        "session_windows": q_session_windows,
        "sessionize_events": q_sessionize_events,
        "set_ops": q_set_ops,
        "shard_assignment": q_shard_assignment,
        "stats_moments": q_stats_moments,
        "stratified_sample": q_stratified_sample,
        "string_funcs": q_string_funcs,
        "tfidf_topterms": q_tfidf_topterms,
        "tpch_q10_returned_items": q_tpch_q10_returned_items,
        "tpch_q13_order_distribution": q_tpch_q13_order_distribution,
        "tpch_q14_promo_revenue": q_tpch_q14_promo_revenue,
        "tpch_q15_top_supplier": q_tpch_q15_top_supplier,
        "tpch_q17_small_qty_revenue": q_tpch_q17_small_qty_revenue,
        "tpch_q18_large_orders": q_tpch_q18_large_orders,
        "tpch_q19_bracket_revenue": q_tpch_q19_bracket_revenue,
        "tpch_q22_idle_customers": q_tpch_q22_idle_customers,
        "tpch_q7_nation_volume": q_tpch_q7_nation_volume,
        "tpch_q8_market_share": q_tpch_q8_market_share,
        "value_histogram": q_value_histogram,
        "winsorized_stats": q_winsorized_stats,
        "zorder_manifest": q_zorder_manifest,
        # -- (4) the keys checked in r12 (freshest rows), alphabetical --
        "ann_pq_adc": q_ann_pq_adc,
        "ann_pq_recall": q_ann_pq_recall,
        "ann_pq_rerank": q_ann_pq_rerank,
        "ann_recall": q_ann_recall,
        "ann_recall_multiprobe": q_ann_recall_multiprobe,
        "ann_sq_topk": q_ann_sq_topk,
        "approx_percentile_binned": q_approx_percentile_binned,
        "asof_latest_order": q_asof_latest_order,
        "bigram_topk": q_bigram_topk,
        "containment_pairs": q_containment_pairs,
        "cooccurrence_lift": q_cooccurrence_lift,
        "countmin_heavy": q_countmin_heavy,
        "curation_pipeline": q_curation_pipeline,
        "dedup_exact": q_dedup_exact,
        "dedup_exact_text": q_dedup_exact_text,
        "dedup_keep_best": q_dedup_keep_best,
        "doc_chunks": q_doc_chunks,
        "doc_fingerprint": q_doc_fingerprint,
        "gopher_rules": q_gopher_rules,
        "incremental_neardup": q_incremental_neardup,
        "interval_join_anchor_windows": q_interval_join_anchor_windows,
        "join_shuffle_orders_customer": q_join_shuffle_orders_customer,
        "kmeans_refine": q_kmeans_refine,
        "kmv_set_ops": q_kmv_set_ops,
        "lang_id": q_lang_id,
        "latest_per_key": q_latest_per_key,
        "merge_upsert": q_merge_upsert,
        "minhash_lsh_pairs": q_minhash_lsh_pairs,
        "ngram_jaccard_pairs": q_ngram_jaccard_pairs,
        "pagerank_domains": q_pagerank_domains,
        "pareto_frontier": q_pareto_frontier,
        "percentile_filter": q_percentile_filter,
        "pii_redact": q_pii_redact,
        "pmi_bigrams": q_pmi_bigrams,
        "posting_lists": q_posting_lists,
        "pq_code_histogram": q_pq_code_histogram,
        "prefix_filter_pairs": q_prefix_filter_pairs,
        "repetition_score": q_repetition_score,
        "resample_ffill": q_resample_ffill,
        "rolling_zscore": q_rolling_zscore,
        "route_counts": q_route_counts,
        "salted_join_skewed": q_salted_join_skewed,
        "simhash_pairs": q_simhash_pairs,
        "term_topk": q_term_topk,
        "text_stats": q_text_stats,
        "tracker_terminal": q_tracker_terminal,
        "triangle_count": q_triangle_count,
        "triangle_count_oriented": q_triangle_count_oriented,
        "validation_invalid": q_validation_invalid,
        "vocab_coverage": q_vocab_coverage,
    }


# --------------------------------------------------------------------------
# oracles
# --------------------------------------------------------------------------

_DIM_SQL = """
  SELECT 'batch-' || CAST(i AS VARCHAR) AS batchId,
         CASE CAST(i % 5 AS INTEGER)
           WHEN 0 THEN 'started' WHEN 1 THEN 'sendCompleted'
           WHEN 2 THEN 'completed' WHEN 3 THEN 'failed'
           ELSE 'terminated' END AS last_status,
         CAST(i * 10 AS INTEGER) AS expectedRecordCount,
         CAST(CASE WHEN i % 3 = 0 THEN 5 ELSE -1 END AS INTEGER) AS invalidThreshold
  FROM range(40) t(i)
"""



# int8 scalar quantization of a FLOAT[] in DuckDB — mirrors
# similarity.sq_quantize (double cast BEFORE scaling, floor(x*127+0.5)).
_SQ_QUANT = (
    "list_transform(embedding, x -> "
    "CAST(floor(CAST(x AS DOUBLE) * 127 + 0.5) AS BIGINT))"
)
_STOPS_SQL = ", ".join(f"'{w}'" for w in TX.STOPWORDS)


def oracle_sql() -> dict[str, str]:
    routed = TD.SQL_ROUTED_EVENTS
    h_doc = O.hash32("CAST(doc_id AS VARCHAR)")
    return {
        "event_funnel": """
            WITH e AS (
              SELECT user_id, event_type, epoch_us(ts) AS tus FROM events
            ),
            v AS (
              SELECT user_id, MIN(tus) AS t_view FROM e
              WHERE event_type = 'view' GROUP BY user_id
            ),
            c AS (
              SELECT e.user_id, MIN(e.tus) AS t_click
              FROM e JOIN v ON v.user_id = e.user_id
              WHERE e.event_type = 'click' AND e.tus > v.t_view
              GROUP BY e.user_id
            ),
            p AS (
              SELECT e.user_id, MIN(e.tus) AS t_purchase
              FROM e JOIN c ON c.user_id = e.user_id
              WHERE e.event_type = 'purchase' AND e.tus > c.t_click
              GROUP BY e.user_id
            )
            SELECT
              (SELECT CAST(COUNT(*) AS BIGINT) FROM v) AS n_view,
              (SELECT CAST(COUNT(*) AS BIGINT) FROM c) AS n_click,
              (SELECT CAST(COUNT(*) AS BIGINT) FROM p) AS n_purchase,
              CAST((SELECT COUNT(*) FROM c) AS DOUBLE)
                / (SELECT COUNT(*) FROM v) AS conv_view_click,
              CAST((SELECT COUNT(*) FROM p) AS DOUBLE)
                / (SELECT COUNT(*) FROM c) AS conv_click_purchase
        """,
        "retention_cohorts": """
            WITH uw AS (
              SELECT DISTINCT user_id,
                     (epoch_us(ts) // 86400000000) // 7 AS week
              FROM events
            ),
            cohort AS (
              SELECT user_id, MIN(week) AS cohort_week FROM uw
              GROUP BY user_id
            ),
            sizes AS (
              SELECT cohort_week, CAST(COUNT(*) AS BIGINT) AS cohort_size
              FROM cohort GROUP BY cohort_week
            ),
            tri AS (
              SELECT c.cohort_week, u.week - c.cohort_week AS offset_weeks,
                     CAST(COUNT(DISTINCT u.user_id) AS BIGINT) AS n_active
              FROM uw u JOIN cohort c ON c.user_id = u.user_id
              GROUP BY 1, 2
            )
            SELECT t.cohort_week, t.offset_weeks, t.n_active, s.cohort_size,
                   CAST(t.n_active AS DOUBLE) / s.cohort_size
                     AS retained_ratio
            FROM tri t JOIN sizes s ON s.cohort_week = t.cohort_week
        """,
        "event_transitions": """
            WITH ordered AS (
              SELECT user_id, event_type,
                     lead(event_type) OVER (PARTITION BY user_id
                          ORDER BY epoch_us(ts), event_id) AS nxt
              FROM events
            ),
            cnt AS (
              SELECT event_type AS src, nxt AS dst,
                     CAST(COUNT(*) AS BIGINT) AS n
              FROM ordered WHERE nxt IS NOT NULL GROUP BY 1, 2
            ),
            totals AS (
              SELECT src, CAST(SUM(n) AS BIGINT) AS n_src FROM cnt GROUP BY src
            )
            SELECT c.src, c.dst, c.n,
                   CAST(c.n AS DOUBLE) / t.n_src AS p
            FROM cnt c JOIN totals t ON t.src = c.src
        """,
        "rolling_zscore": """
            WITH base AS (
              SELECT event_id, user_id, value,
                     epoch_us(ts) AS tus,
                     CAST(value AS DECIMAL(18,6)) AS vd
              FROM events
            ),
            stats AS (
              SELECT event_id, user_id, value,
                     CAST(COUNT(*) OVER w AS BIGINT) AS n_prev,
                     CAST(SUM(vd) OVER w AS DOUBLE) AS s1,
                     CAST(SUM(vd * vd) OVER w AS DOUBLE) AS s2
              FROM base
              WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id
                           ROWS BETWEEN 9 PRECEDING AND 1 PRECEDING)
            ),
            scored AS (
              -- var > 0 guard mirrors the Spark side exactly (same
              -- decimal-exact s1/s2 doubles -> identical predicate):
              -- keeps both engines away from the 0/negative-variance
              -- NULL/inf/NaN divergence (ADVICE r4)
              SELECT event_id, user_id, value,
                     (value - s1 / n_prev)
                       / sqrt((s2 - s1 * s1 / n_prev) / n_prev) AS zscore
              FROM stats
              WHERE n_prev >= 5
                AND (s2 - s1 * s1 / n_prev) / n_prev > 0
            )
            SELECT event_id, user_id, value, zscore,
                   CAST(row_number() OVER (ORDER BY abs(zscore) DESC,
                        event_id) AS INTEGER) AS z_rank
            FROM scored
            QUALIFY z_rank <= 20
        """,
        "cooccurrence_lift": f"""
            WITH dt AS (
              SELECT DISTINCT doc_id, tok
              FROM (SELECT doc_id, unnest({O.tokens("lower(text)")}) AS tok
                    FROM documents)
            ),
            nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS nd FROM documents),
            -- df band-pass mirrors the Spark side: 10 <= df <= nd/2
            -- (lower bound answer-preserving under support >= 10;
            -- upper bound excludes stop-words by query definition)
            marg AS (
              SELECT tok, CAST(COUNT(*) AS BIGINT) AS n_tok
              FROM dt GROUP BY tok
              HAVING COUNT(*) >= 10
                 AND 2 * COUNT(*) <= (SELECT nd FROM nd)
            ),
            dtb AS (
              SELECT dt.doc_id, dt.tok
              FROM dt JOIN marg ON marg.tok = dt.tok
            ),
            pairs2 AS (
              SELECT a.tok AS tok_a, b.tok AS tok_b,
                     CAST(COUNT(*) AS BIGINT) AS n_both
              FROM dtb a JOIN dtb b ON a.doc_id = b.doc_id AND a.tok < b.tok
              GROUP BY 1, 2 HAVING COUNT(*) >= 10
            ),
            scored AS (
              SELECT tok_a, tok_b, n_both,
                     ma.n_tok AS n_a, mb.n_tok AS n_b,
                     CAST((n_both * nd.nd * 1000000) // (ma.n_tok * mb.n_tok)
                          AS BIGINT) AS lift_q
              FROM pairs2
              JOIN marg ma ON ma.tok = pairs2.tok_a
              JOIN marg mb ON mb.tok = pairs2.tok_b
              CROSS JOIN nd
            )
            SELECT tok_a, tok_b, n_both, n_a, n_b, lift_q,
                   CAST(row_number() OVER (ORDER BY lift_q DESC, tok_a,
                        tok_b) AS INTEGER) AS lift_rank
            FROM scored QUALIFY lift_rank <= 20
        """,
        "gopher_rules": f"""
            WITH toks AS (
              SELECT doc_id, unnest({O.tokens('text')}) AS tok FROM documents
            ),
            tc AS (
              SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS cnt
              FROM toks GROUP BY doc_id, tok
            ),
            stats AS (
              SELECT doc_id,
                     CAST(SUM(cnt) AS BIGINT) AS n_tokens,
                     CAST(SUM(cnt * length(tok)) AS BIGINT) AS sum_len,
                     CAST(SUM(CASE WHEN regexp_matches(tok, '^[a-z]+$')
                              THEN cnt ELSE 0 END) AS BIGINT) AS n_alpha,
                     CAST(COUNT(DISTINCT CASE WHEN lower(tok) IN
                          ({_STOPS_SQL})
                          THEN tok END) AS BIGINT) AS n_stop_distinct,
                     CAST(MAX(cnt) AS BIGINT) AS top_tok_cnt
              FROM tc GROUP BY doc_id
            ),
            j AS (
              SELECT d.doc_id,
                     COALESCE(s.n_tokens, 0) AS n_tokens,
                     COALESCE(s.sum_len, 0) AS sum_len,
                     COALESCE(s.n_alpha, 0) AS n_alpha,
                     COALESCE(s.n_stop_distinct, 0) AS n_stop_distinct,
                     COALESCE(s.top_tok_cnt, 0) AS top_tok_cnt
              FROM documents d LEFT JOIN stats s ON d.doc_id = s.doc_id
            )
            SELECT doc_id, n_tokens,
                   (n_tokens >= 50 AND n_tokens <= 100000) AS r_word_count,
                   (3 * n_tokens <= sum_len AND sum_len <= 10 * n_tokens)
                     AS r_mean_len,
                   n_alpha * 10 >= n_tokens * 8 AS r_alpha_ratio,
                   n_stop_distinct >= 2 AS r_stopwords,
                   top_tok_cnt * 10 <= n_tokens AS r_top_token,
                   (n_tokens >= 50 AND n_tokens <= 100000
                    AND 3 * n_tokens <= sum_len AND sum_len <= 10 * n_tokens
                    AND n_alpha * 10 >= n_tokens * 8
                    AND n_stop_distinct >= 2
                    AND top_tok_cnt * 10 <= n_tokens) AS keep
            FROM j
        """,
        "pmi_bigrams": f"""
            WITH t AS (
              SELECT {O.tokens("lower(text)")} AS toks FROM documents
            ),
            uni AS (
              SELECT w, CAST(COUNT(*) AS BIGINT) AS c
              FROM (SELECT unnest(toks) AS w FROM t) GROUP BY w
            ),
            tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM uni),
            b AS (
              SELECT unnest(list_zip(toks[1:len(toks)-1], toks[2:])) AS bg
              FROM t WHERE len(toks) >= 2
            ),
            bcnt AS (
              SELECT bg[1] AS w1, bg[2] AS w2,
                     CAST(COUNT(*) AS BIGINT) AS cxy
              FROM b GROUP BY 1, 2
            ),
            scored AS (
              SELECT w1 || ' ' || w2 AS bigram, cxy, u1.c AS c1, u2.c AS c2,
                     CAST((cxy * n * 1000000) // (u1.c * u2.c) AS BIGINT)
                       AS pmi_q
              FROM bcnt
              JOIN uni u1 ON u1.w = bcnt.w1
              JOIN uni u2 ON u2.w = bcnt.w2
              CROSS JOIN tot
              WHERE cxy >= 5
            )
            SELECT bigram, cxy, c1, c2, pmi_q,
                   CAST(row_number() OVER (ORDER BY pmi_q DESC, bigram)
                        AS INTEGER) AS pmi_rank
            FROM scored QUALIFY pmi_rank <= 20
        """,
        "bloom_prune": f"""
            WITH dim AS (
              SELECT c_custkey FROM customer WHERE c_acctbal > 9000
            ),
            dimh AS (
              SELECT md5('bf-' || CAST(c_custkey AS VARCHAR)) AS hx FROM dim
            ),
            bits AS (
              SELECT DISTINCT
                ({O.hexfold_slice("hx", 1, 8)}
                 + s * {O.hexfold_slice("hx", 9, 8)}) % 4096 AS pos
              FROM dimh, range(3) r(s)
            ),
            fh AS (
              SELECT o_orderkey, o_custkey,
                     md5('bf-' || CAST(o_custkey AS VARCHAR)) AS hx
              FROM orders
            ),
            fpos AS (
              SELECT o_orderkey, o_custkey,
                ({O.hexfold_slice("hx", 1, 8)}
                 + s * {O.hexfold_slice("hx", 9, 8)}) % 4096 AS pos
              FROM fh, range(3) r(s)
            ),
            hits AS (
              SELECT o_orderkey, o_custkey, COUNT(*) AS nhit
              FROM fpos JOIN bits USING (pos) GROUP BY 1, 2
            ),
            flags AS (
              SELECT COALESCE(h.nhit, 0) = 3 AS bloom_pass,
                     d.c_custkey IS NOT NULL AS true_match
              FROM orders o
              LEFT JOIN hits h ON h.o_orderkey = o.o_orderkey
              LEFT JOIN dim d ON d.c_custkey = o.o_custkey
            ),
            agg AS (
              SELECT CAST(COUNT(*) AS BIGINT) AS n_fact,
                     CAST(SUM(CASE WHEN bloom_pass THEN 1 ELSE 0 END)
                          AS BIGINT) AS n_pass,
                     CAST(SUM(CASE WHEN true_match THEN 1 ELSE 0 END)
                          AS BIGINT) AS n_true,
                     CAST(SUM(CASE WHEN bloom_pass AND NOT true_match
                              THEN 1 ELSE 0 END) AS BIGINT) AS n_false_pos
              FROM flags
            )
            SELECT n_fact, n_pass, n_true, n_false_pos,
                   CAST(n_false_pos AS DOUBLE)
                     / CAST(greatest(n_pass, 1) AS DOUBLE) AS fp_rate
            FROM agg
        """,
        "countmin_heavy": f"""
            WITH vocab AS (
              SELECT tok, CAST(COUNT(*) AS BIGINT) AS cnt
              FROM (SELECT unnest({O.tokens("lower(text)")}) AS tok
                    FROM documents)
              GROUP BY tok
            ),
            cells AS (
              SELECT CAST(r AS INTEGER) AS r,
                     {O.hash32("'cm' || CAST(r AS VARCHAR) || '-' || tok")}
                       % 512 AS col,
                     CAST(SUM(cnt) AS BIGINT) AS c
              FROM vocab, range(4) t(r) GROUP BY 1, 2
            ),
            heavy AS (
              SELECT tok, cnt FROM vocab
              QUALIFY row_number() OVER (ORDER BY cnt DESC, tok) <= 20
            ),
            probe AS (
              SELECT tok, cnt, CAST(r AS INTEGER) AS r,
                     {O.hash32("'cm' || CAST(r AS VARCHAR) || '-' || tok")}
                       % 512 AS col
              FROM heavy, range(4) t(r)
            ),
            est AS (
              SELECT p.tok, p.cnt, MIN(c.c) AS cm_est
              FROM probe p JOIN cells c USING (r, col) GROUP BY 1, 2
            )
            SELECT tok AS token, cnt AS exact_cnt,
                   CAST(cm_est AS BIGINT) AS cm_est,
                   CAST(cm_est - cnt AS BIGINT) AS overcount
            FROM est
        """,
        "dataset_split": f"""
            WITH lab AS (
              SELECT doc_id, source, n_chars,
                     CASE WHEN {O.hash32("'split-' || CAST(doc_id AS VARCHAR)")} % 100 < 90
                          THEN 'train'
                          WHEN {O.hash32("'split-' || CAST(doc_id AS VARCHAR)")} % 100 < 95
                          THEN 'val' ELSE 'test' END AS split
              FROM documents
            )
            SELECT source, split,
                   CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
                   CAST(SUM({O.hash32("CAST(doc_id AS VARCHAR)")}) AS BIGINT)
                     AS id_checksum
            FROM lab GROUP BY source, split
        """,
        "ann_sq_topk": f"""
            WITH q AS (
              SELECT vec_id, {_SQ_QUANT} AS qv FROM embeddings
              WHERE vec_id < 20
            ),
            c AS (SELECT vec_id, {_SQ_QUANT} AS cv FROM embeddings),
            pairs AS (
              SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                     CAST(list_sum(list_transform(range(1, len(qv) + 1),
                          i -> qv[i] * cv[i])) AS BIGINT) AS score_int
              FROM q, c WHERE q.vec_id <> c.vec_id
            )
            SELECT query_id, neighbor_id, score_int
            FROM pairs
            QUALIFY row_number() OVER (PARTITION BY query_id
                    ORDER BY score_int DESC, neighbor_id DESC) <= 5
        """,
        "ann_sq_recall": f"""
            WITH bf AS (
              SELECT query_id, neighbor_id FROM ({O.ann_topk_sql()})
            ),
            sq AS (
              WITH q AS (
                SELECT vec_id, {_SQ_QUANT} AS qv FROM embeddings
                WHERE vec_id < 20
              ),
              c AS (SELECT vec_id, {_SQ_QUANT} AS cv FROM embeddings),
              pairs AS (
                SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                       CAST(list_sum(list_transform(range(1, len(qv) + 1),
                            i -> qv[i] * cv[i])) AS BIGINT) AS score_int
                FROM q, c WHERE q.vec_id <> c.vec_id
              )
              SELECT query_id, neighbor_id FROM pairs
              QUALIFY row_number() OVER (PARTITION BY query_id
                      ORDER BY score_int DESC, neighbor_id DESC) <= 5
            ),
            hits AS (
              SELECT bf.query_id, CAST(COUNT(*) AS BIGINT) AS n_hit
              FROM bf JOIN sq USING (query_id, neighbor_id) GROUP BY 1
            ),
            truth AS (
              SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_true
              FROM bf GROUP BY 1
            )
            SELECT t.query_id, t.n_true,
                   COALESCE(h.n_hit, 0) AS n_hit,
                   CAST(COALESCE(h.n_hit, 0) AS DOUBLE) / t.n_true AS recall
            FROM truth t LEFT JOIN hits h ON h.query_id = t.query_id
        """,
        "prefix_filter_pairs": f"""
            WITH toks AS (
              SELECT doc_id, {O.tokens('text')} AS t FROM documents
            ),
            sets AS (
              SELECT DISTINCT doc_id, shingle
              FROM (SELECT doc_id, unnest({O.shingles('t', 5)}) AS shingle
                    FROM toks)
            ),
            dfq AS (SELECT shingle, COUNT(*) AS df FROM sets GROUP BY shingle),
            rk AS (
              SELECT shingle,
                     row_number() OVER (ORDER BY df, shingle) AS rnk
              FROM dfq
            ),
            sized AS (
              SELECT s.doc_id, s.shingle,
                     row_number() OVER (PARTITION BY s.doc_id
                                        ORDER BY rk.rnk) AS pos,
                     COUNT(*) OVER (PARTITION BY s.doc_id) AS n
              FROM sets s JOIN rk USING (shingle)
            ),
            prefix AS (
              SELECT doc_id, shingle FROM sized
              WHERE pos <= n - ((n + 1) // 2) + 1
            ),
            cand AS (
              SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
              FROM prefix a JOIN prefix b USING (shingle)
              WHERE a.doc_id < b.doc_id
            ),
            inter AS (
              SELECT c.doc_a, c.doc_b, COUNT(*) AS ninter
              FROM cand c
              JOIN sets sa ON sa.doc_id = c.doc_a
              JOIN sets sb ON sb.doc_id = c.doc_b
                          AND sb.shingle = sa.shingle
              GROUP BY 1, 2
            ),
            sizes AS (SELECT doc_id, COUNT(*) AS nsz FROM sets GROUP BY doc_id)
            SELECT i.doc_a, i.doc_b,
                   CAST(i.ninter AS DOUBLE)
                     / (za.nsz + zb.nsz - i.ninter) AS jaccard
            FROM inter i
            JOIN sizes za ON za.doc_id = i.doc_a
            JOIN sizes zb ON zb.doc_id = i.doc_b
            WHERE CAST(i.ninter AS DOUBLE)
                    / (za.nsz + zb.nsz - i.ninter) >= 0.5
        """,
        "contamination_flag": f"""
            WITH toks AS (SELECT doc_id, {O.tokens('text')} AS t FROM documents),
            sh AS (SELECT doc_id, {O.shingles('t')} AS s FROM toks),
            ex AS (SELECT doc_id, unnest(s) AS shingle FROM sh),
            ev AS (
              SELECT DISTINCT shingle FROM ex WHERE {h_doc} % 20 = 0
            ),
            corp AS (
              SELECT DISTINCT doc_id, shingle FROM ex WHERE {h_doc} % 20 <> 0
            )
            SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_shared_shingles
            FROM corp JOIN ev USING (shingle)
            GROUP BY doc_id
        """,
        "repetition_score": f"""
            WITH toks AS (SELECT doc_id, {O.tokens('text')} AS t FROM documents),
            sh AS (SELECT doc_id, {O.shingles('t', 3)} AS s FROM toks),
            ex AS (SELECT doc_id, unnest(s) AS g FROM sh)
            SELECT doc_id,
                   CAST(COUNT(*) AS BIGINT) AS n_grams,
                   CAST(COUNT(DISTINCT g) AS BIGINT) AS n_distinct,
                   1.0 - CAST(COUNT(DISTINCT g) AS DOUBLE) / COUNT(*)
                     AS rep_ratio
            FROM ex GROUP BY doc_id
        """,
        "posting_lists": f"""
            WITH toks AS (SELECT doc_id, {O.tokens('text')} AS t FROM documents),
            ex AS (SELECT doc_id, unnest(t) AS term FROM toks),
            per AS (
              SELECT term, doc_id, COUNT(*) AS tf FROM ex GROUP BY term, doc_id
            )
            SELECT term,
                   CAST(COUNT(*) AS BIGINT) AS df,
                   CAST(SUM(tf) AS BIGINT) AS tf_total,
                   array_to_string(list_sort(list(doc_id))[1:5], ',')
                     AS postings_head
            FROM per GROUP BY term
            HAVING COUNT(*) >= 25
        """,
        "percentile_filter": """
            SELECT doc_id, source, n_chars,
                   percent_rank() OVER (PARTITION BY source
                                        ORDER BY n_chars, doc_id) AS pr
            FROM documents
            QUALIFY pr >= 0.75
        """,
        "topp_select": """
            SELECT doc_id, lang, n_chars,
                   CAST(SUM(n_chars) OVER (PARTITION BY lang
                        ORDER BY n_chars DESC, doc_id
                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_chars,
                   CAST(SUM(n_chars) OVER (PARTITION BY lang) AS BIGINT)
                     AS lang_chars
            FROM documents
            QUALIFY (cum_chars - n_chars) * 5 < lang_chars * 4
        """,
        "triangle_count": f"""
            WITH cand AS ({O.minhash_lsh_pairs_sql()})
            SELECT
              (SELECT CAST(COUNT(DISTINCT d) AS BIGINT) FROM
                 (SELECT doc_a AS d FROM cand
                  UNION ALL SELECT doc_b FROM cand)) AS n_nodes,
              (SELECT CAST(COUNT(*) AS BIGINT) FROM cand) AS n_edges,
              (SELECT CAST(COUNT(*) AS BIGINT)
               FROM cand e1
               JOIN cand e2 ON e1.doc_b = e2.doc_a
               JOIN cand e3 ON e1.doc_a = e3.doc_a
                           AND e2.doc_b = e3.doc_b) AS n_triangles
        """,
        "triangle_count_oriented": f"""
            WITH cand AS MATERIALIZED ({O.minhash_lsh_pairs_sql()}),
            deg AS (
              SELECT d, COUNT(*) AS deg FROM (
                SELECT doc_a AS d FROM cand
                UNION ALL SELECT doc_b FROM cand
              ) GROUP BY d
            ),
            oriented AS MATERIALIZED (
              SELECT CASE WHEN (da.deg < db.deg)
                            OR (da.deg = db.deg AND c.doc_a < c.doc_b)
                          THEN c.doc_a ELSE c.doc_b END AS u,
                     CASE WHEN (da.deg < db.deg)
                            OR (da.deg = db.deg AND c.doc_a < c.doc_b)
                          THEN c.doc_b ELSE c.doc_a END AS v,
                     CASE WHEN (da.deg < db.deg)
                            OR (da.deg = db.deg AND c.doc_a < c.doc_b)
                          THEN db.deg ELSE da.deg END AS deg_v
              FROM cand c
              JOIN deg da ON da.d = c.doc_a
              JOIN deg db ON db.d = c.doc_b
            )
            SELECT
              (SELECT CAST(COUNT(*) AS BIGINT)
               FROM oriented o1
               JOIN oriented o2 ON o1.u = o2.u
                AND ((o1.deg_v < o2.deg_v)
                     OR (o1.deg_v = o2.deg_v AND o1.v < o2.v))
               WHERE EXISTS (SELECT 1 FROM oriented c2
                             WHERE c2.u = o1.v AND c2.v = o2.v)
              ) AS n_triangles,
              (SELECT CAST(MAX(outd) AS BIGINT) FROM
                 (SELECT u, COUNT(*) AS outd FROM oriented GROUP BY u)
              ) AS max_out_degree,
              (SELECT CAST(COUNT(*) AS BIGINT) FROM oriented)
                AS n_oriented_edges
        """,
        "zorder_index": f"""
            WITH z AS (
              SELECT p_partkey,
                     p_partkey % 1024 AS zx,
                     CAST(p_size AS BIGINT) % 1024 AS zy,
                     CAST({' + '.join(
                         f'(((((p_partkey % 1024) >> {i}) & 1) << {2 * i})'
                         f' + ((((CAST(p_size AS BIGINT) % 1024) >> {i}) & 1)'
                         f' << {2 * i + 1}))'
                         for i in range(10)
                     )} AS BIGINT) AS zval
              FROM part
            )
            SELECT p_partkey, zx, zy, zval, zval >> 12 AS zbucket FROM z
        """,
        "zorder_manifest": f"""
            WITH z AS (
              SELECT p_partkey,
                     p_partkey % 1024 AS zx,
                     CAST(p_size AS BIGINT) % 1024 AS zy,
                     CAST({' + '.join(
                         f'(((((p_partkey % 1024) >> {i}) & 1) << {2 * i})'
                         f' + ((((CAST(p_size AS BIGINT) % 1024) >> {i}) & 1)'
                         f' << {2 * i + 1}))'
                         for i in range(10)
                     )} AS BIGINT) AS zval
              FROM part
            ),
            b AS (SELECT zval >> 12 AS zbucket, zx, zy FROM z)
            SELECT zbucket,
                   CAST(COUNT(*) AS BIGINT) AS n_rows,
                   CAST(MIN(zx) AS BIGINT) AS min_zx,
                   CAST(MAX(zx) AS BIGINT) AS max_zx,
                   CAST(MIN(zy) AS BIGINT) AS min_zy,
                   CAST(MAX(zy) AS BIGINT) AS max_zy,
                   (MAX(zy) < 20 OR MIN(zy) > 30) AS prunable
            FROM b GROUP BY zbucket
        """,
        "weighted_sample": f"""
            SELECT doc_id, lang, n_chars
            FROM documents
            WHERE {h_doc} % 100000
                  * (SELECT MAX(n_chars) FROM documents)
                  < n_chars * 100000
        """,
        "ann_recall": f"""
            WITH bf AS ({O.ann_topk_sql(k=5, n_queries=20)}),
            ivf AS ({O.ann_ivf_probe_sql()}),
            hits AS (
              SELECT bf.query_id, COUNT(*) AS n_hit
              FROM bf JOIN ivf USING (query_id, neighbor_id)
              GROUP BY bf.query_id
            ),
            truth AS (
              SELECT query_id, COUNT(*) AS n_true FROM bf GROUP BY query_id
            )
            SELECT truth.query_id,
                   CAST(n_true AS BIGINT) AS n_true,
                   CAST(COALESCE(n_hit, 0) AS BIGINT) AS n_hit,
                   COALESCE(n_hit, 0) / CAST(n_true AS DOUBLE) AS recall
            FROM truth LEFT JOIN hits ON truth.query_id = hits.query_id
        """,
        "pareto_frontier": """
            WITH s AS (
              SELECT p_partkey, p_size, p_retailprice,
                     MAX(p_retailprice) OVER (
                       ORDER BY p_size ASC, p_retailprice DESC, p_partkey ASC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                       AS best_prev
              FROM part
            )
            SELECT p_partkey, p_size, p_retailprice FROM s
            WHERE best_prev IS NULL OR p_retailprice > best_prev
        """,
        "containment_pairs": O.containment_pairs_sql(threshold=0.5),
        "approx_percentile_binned": """
            WITH hist AS (
              SELECT event_type,
                     CAST(least(floor(value), 499) AS INTEGER) AS bin,
                     COUNT(*) AS n
              FROM events GROUP BY event_type, bin
            ),
            c AS (
              SELECT event_type, bin,
                     SUM(n) OVER (PARTITION BY event_type ORDER BY bin
                                  ROWS UNBOUNDED PRECEDING) AS cum,
                     SUM(n) OVER (PARTITION BY event_type) AS tot
              FROM hist
            )
            SELECT event_type,
                   CAST(MIN(CASE WHEN cum * 2 >= tot THEN bin END)
                        AS DOUBLE) AS p50_est,
                   CAST(MIN(CASE WHEN cum * 20 >= tot * 19 THEN bin END)
                        AS DOUBLE) AS p95_est,
                   CAST(MAX(tot) AS BIGINT) AS n_events
            FROM c GROUP BY event_type
        """,
        "curation_pipeline": f"""
            WITH q AS ({O.text_stats_sql()}),
            kept AS (
              SELECT d.doc_id, d.text, d.lang, d.n_chars
              FROM documents d JOIN q ON d.doc_id = q.doc_id
              WHERE q.quality >= 0.5
            ),
            canon AS (
              SELECT doc_id, lang, n_chars,
                     md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
                       AS ck
              FROM kept
              QUALIFY row_number() OVER (PARTITION BY ck ORDER BY doc_id) = 1
            ),
            sampled AS (
              SELECT * FROM canon WHERE {h_doc} % 1000 < 500
            )
            SELECT lang,
                   CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(n_chars) AS BIGINT) AS total_chars
            FROM sampled GROUP BY lang
        """,
        "sessionize_events": """
            WITH flagged AS (
              SELECT user_id, event_id, ts, value,
                     CASE WHEN lag(ts) OVER w IS NULL
                          OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                             > 600000000
                          THEN 1 ELSE 0 END AS is_new
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            ),
            sess AS (
              SELECT user_id, event_id, ts, value,
                     CAST(SUM(is_new) OVER (PARTITION BY user_id
                          ORDER BY ts, event_id
                          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
              FROM flagged
            )
            SELECT user_id, session_id,
                   CAST(COUNT(*) AS BIGINT) AS n_events,
                   MIN(ts) AS session_start,
                   MAX(ts) AS session_end,
                   CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE)
                     AS total_value
            FROM sess GROUP BY user_id, session_id
        """,
        "bigram_topk": f"""
            WITH t AS (
              SELECT {O.tokens("lower(text)")} AS toks FROM documents
            ), b AS (
              SELECT unnest(list_zip(toks[1:len(toks)-1], toks[2:])) AS bg
              FROM t WHERE len(toks) >= 2
            ), c AS (
              SELECT bg[1] || ' ' || bg[2] AS bigram,
                     CAST(COUNT(*) AS BIGINT) AS n
              FROM b GROUP BY 1
            )
            SELECT bigram, n,
                   CAST(row_number() OVER (ORDER BY n DESC, bigram)
                        AS INTEGER) AS bigram_rank
            FROM c QUALIFY bigram_rank <= 25
        """,
        "pagerank_domains": """
            WITH edges AS (
              SELECT DISTINCT o_custkey % 997 + 997 * (o_custkey // 1000000) AS src,
                              o_orderkey % 997 + 997 * (o_orderkey // 1000000) AS dst
              FROM orders
              WHERE o_custkey % 997 + 997 * (o_custkey // 1000000)
                 <> o_orderkey % 997 + 997 * (o_orderkey // 1000000)
            ), nodes AS (
              SELECT src AS node FROM edges UNION SELECT dst FROM edges
            ), outdeg AS (
              SELECT src, COUNT(*) AS d FROM edges GROUP BY src
            ), pr0 AS (
              SELECT node, CAST(1.0 AS DOUBLE) AS pr FROM nodes
            ), c1 AS (
              SELECT e.dst,
                     SUM(CAST(floor(p.pr / d.d * 1e12 + 0.5) AS BIGINT)) AS sq
              FROM edges e
              JOIN outdeg d ON e.src = d.src
              JOIN pr0 p ON p.node = e.src
              GROUP BY e.dst
            ), pr1 AS (
              SELECT n.node,
                     CAST(0.15 AS DOUBLE)
                       + CAST(0.85 AS DOUBLE) * (COALESCE(c.sq, 0) / 1e12) AS pr
              FROM nodes n LEFT JOIN c1 c ON c.dst = n.node
            ), c2 AS (
              SELECT e.dst,
                     SUM(CAST(floor(p.pr / d.d * 1e12 + 0.5) AS BIGINT)) AS sq
              FROM edges e
              JOIN outdeg d ON e.src = d.src
              JOIN pr1 p ON p.node = e.src
              GROUP BY e.dst
            ), pr2 AS (
              SELECT n.node,
                     CAST(0.15 AS DOUBLE)
                       + CAST(0.85 AS DOUBLE) * (COALESCE(c.sq, 0) / 1e12) AS pr
              FROM nodes n LEFT JOIN c2 c ON c.dst = n.node
            )
            SELECT node, pr AS pagerank FROM pr2
        """,
        "merge_upsert": """
            WITH base AS (
              SELECT o_orderkey, o_totalprice, o_orderstatus
              FROM orders WHERE o_orderkey % 4 <> 0
            ), upd AS (
              SELECT o_orderkey,
                     o_totalprice * CAST(1.05 AS DOUBLE) AS o_totalprice,
                     'U' AS o_orderstatus
              FROM orders WHERE o_orderkey % 2 = 0
            )
            SELECT * FROM base b
            WHERE NOT EXISTS (SELECT 1 FROM upd u WHERE u.o_orderkey = b.o_orderkey)
            UNION ALL
            SELECT * FROM upd
        """,
        "snapshot_diff": """
            WITH old_s AS (
              SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 5 <> 0
            ), new_s AS (
              SELECT o_orderkey,
                     CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice * 2
                          ELSE o_totalprice END AS o_totalprice
              FROM orders WHERE o_orderkey % 7 <> 0
            )
            SELECT * FROM (
              SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS o_orderkey,
                     CASE WHEN o.o_orderkey IS NULL THEN 'insert'
                          WHEN n.o_orderkey IS NULL THEN 'delete'
                          WHEN o.o_totalprice IS DISTINCT FROM n.o_totalprice
                            THEN 'update'
                          ELSE 'unchanged' END AS change_type,
                     o.o_totalprice AS old_o_totalprice,
                     n.o_totalprice AS new_o_totalprice
              FROM old_s o FULL OUTER JOIN new_s n ON o.o_orderkey = n.o_orderkey
            ) WHERE change_type <> 'unchanged'
        """,
        "pii_redact": """
            WITH c AS (
              SELECT doc_id,
                     text || ' contact user' || CAST(doc_id AS VARCHAR)
                          || '@example.com ref '
                          || CAST(doc_id * 7919 + 1000 AS VARCHAR)
                          || ' call 555-012-'
                          || CAST(doc_id % 9000 + 1000 AS VARCHAR) AS combined
              FROM documents
            )
            SELECT doc_id,
                   CAST(len(regexp_extract_all(combined,
                     '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS INT)
                     AS n_email,
                   CAST(len(regexp_extract_all(combined, '[0-9]{4,}')) AS INT)
                     AS n_num,
                   CAST(length(regexp_replace(regexp_replace(regexp_replace(combined,
                     '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                     '[0-9]{3}[-.][0-9]{3,4}[-.][0-9]{4}', '<PHONE>', 'g'),
                     '[0-9]{4,}', '<NUM>', 'g')) AS INT) AS redacted_len,
                   md5(regexp_replace(regexp_replace(regexp_replace(combined,
                     '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                     '[0-9]{3}[-.][0-9]{3,4}[-.][0-9]{4}', '<PHONE>', 'g'),
                     '[0-9]{4,}', '<NUM>', 'g')) AS redacted_md5
            FROM c
        """,
        "edit_distance_pairs": """
            WITH p AS (
              SELECT doc_id, source, substr(lower(text), 1, 64) AS prefix
              FROM documents
            ), q AS (
              SELECT doc_id, prefix,
                     lead(doc_id) OVER (PARTITION BY source ORDER BY doc_id)
                       AS next_id,
                     lead(prefix) OVER (PARTITION BY source ORDER BY doc_id)
                       AS next_prefix
              FROM p
            )
            SELECT doc_id, next_id,
                   CAST(levenshtein(prefix, next_prefix) AS INT) AS edit_dist
            FROM q
            WHERE next_id IS NOT NULL AND levenshtein(prefix, next_prefix) <= 48
        """,
        "asof_latest_order": """
            SELECT e.event_id, e.user_id,
                   o2.o_orderkey AS asof_orderkey,
                   o2.o_totalprice AS asof_totalprice
            FROM events e LEFT JOIN LATERAL (
              SELECT o.o_orderkey, o.o_totalprice
              FROM orders o
              WHERE o.o_custkey = e.user_id AND o.o_orderdate <= e.ts
              ORDER BY o.o_orderdate DESC, o.o_orderkey DESC LIMIT 1
            ) o2 ON true
        """,
        "interval_join_anchor_windows": """
            SELECT a.event_id AS anchor_id,
                   COUNT(*) AS n_events,
                   CAST(SUM(CAST(e.value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
            FROM events a JOIN events e
              ON e.user_id = a.user_id
             AND e.ts >= a.ts
             AND e.ts <= a.ts + INTERVAL 6 HOUR
            WHERE a.event_id % 37 = 0
            GROUP BY a.event_id
        """,
        "pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
                   CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE)
                     AS sum_base_price,
                   CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
                            * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE)
                     AS sum_disc_price,
                   CAST(SUM(CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*)
                     AS avg_disc,
                   CAST(COUNT(*) AS BIGINT) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
            GROUP BY l_returnflag, l_linestatus
        """,
        "filter_orders": "SELECT * FROM orders WHERE o_orderstatus = 'F'",
        "project_net_price": """
            SELECT l_orderkey, l_linenumber,
                   l_extendedprice * (1 - l_discount) AS net_price
            FROM lineitem
        """,
        "join_broadcast_part": """
            SELECT p.p_brand,
                   CAST(COUNT(*) AS BIGINT) AS line_count,
                   CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
            FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
            GROUP BY p.p_brand
        """,
        "join_shuffle_orders_customer": """
            SELECT c.c_mktsegment,
                   CAST(COUNT(*) AS BIGINT) AS order_count,
                   CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_total
            FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
            GROUP BY c.c_mktsegment
        """,
        "semi_join_customers_with_orders": """
            SELECT c_custkey, c_name FROM customer c
            WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        """,
        "anti_join_customers_without_orders": """
            SELECT c_custkey, c_name FROM customer c
            WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        """,
        "count_by_key": """
            SELECT l_returnflag,
                   CAST(COUNT(*) AS BIGINT) AS record_count,
                   CAST(SUM(CASE WHEN l_discount > 0.05 THEN 1 ELSE 0 END) AS BIGINT)
                     AS invalid_count
            FROM lineitem GROUP BY l_returnflag
        """,
        "threshold_trigger": """
            SELECT l_orderkey, CAST(COUNT(*) AS BIGINT) AS record_count
            FROM lineitem GROUP BY l_orderkey HAVING COUNT(*) >= 5
        """,
        "latest_per_key": """
            SELECT event_id, ts, user_id, event_type, value, props
            FROM (SELECT *, ROW_NUMBER() OVER
                    (PARTITION BY user_id ORDER BY event_id DESC) AS rn
                  FROM events)
            WHERE rn = 1
        """,
        "topk_per_key": """
            SELECT o_custkey, o_orderkey, o_totalprice
            FROM (SELECT o_custkey, o_orderkey, o_totalprice,
                         ROW_NUMBER() OVER (PARTITION BY o_custkey
                           ORDER BY o_totalprice DESC, o_orderkey DESC) AS rn
                  FROM orders)
            WHERE rn <= 3
        """,
        "dedup_exact": "SELECT DISTINCT user_id, event_type FROM events",
        "route_counts": f"""
            SELECT route, CAST(COUNT(*) AS BIGINT) AS n
            FROM ({routed}) GROUP BY route
        """,
        "validation_invalid": f"""
            SELECT
              CASE
                WHEN batch_id IS NULL THEN 'Bad Message - No header or batchId node'
                WHEN status IS NULL THEN 'Bad Message - Unknown batchId'
                WHEN status = 'completed' THEN 'Bad Message - batchId is already completed'
                ELSE 'Invalid JSON: unable to parse record value: '
                     || COALESCE(SUBSTR(payload, 1, 120), '<null>')
              END AS failure,
              'ingest.t1.data-int1.in' AS topic,
              CAST(user_id % 8 AS INTEGER) AS partition,
              CAST(event_id AS INTEGER) AS offset,
              batch_id AS batchId
            FROM ({routed}) r
            JOIN events e USING (event_id)
            WHERE r.route = 'invalid'
        """,
        "sink_table_roundtrip": f"""
            SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
                   CAST(COUNT(DISTINCT batch_id) AS BIGINT) AS n_batches,
                   CAST(COUNT(DISTINCT
                     CASE
                       WHEN batch_id IS NULL THEN 'Bad Message - No header or batchId node'
                       WHEN status IS NULL THEN 'Bad Message - Unknown batchId'
                       WHEN status = 'completed' THEN 'Bad Message - batchId is already completed'
                       ELSE 'Invalid JSON: unable to parse record value: '
                            || COALESCE(SUBSTR(payload, 1, 120), '<null>')
                     END) AS BIGINT) AS n_failure_kinds
            FROM ({routed}) WHERE route = 'invalid'
        """,
        "tracker_terminal": f"""
            WITH counts AS (
              SELECT batch_id AS batchId,
                     CAST(COUNT(*) FILTER (WHERE route = 'valid') AS BIGINT) AS valid,
                     CAST(COUNT(*) FILTER (WHERE route = 'invalid') AS BIGINT) AS invalid
              FROM ({routed}) WHERE emit_count GROUP BY 1
            ),
            dim AS ({_DIM_SQL}),
            joined AS (
              SELECT COALESCE(c.batchId, d.batchId) AS batchId,
                     COALESCE(c.valid, 0) AS valid,
                     COALESCE(c.invalid, 0) AS invalid,
                     d.last_status, d.expectedRecordCount, d.invalidThreshold
              FROM counts c FULL OUTER JOIN dim d ON c.batchId = d.batchId
            ),
            flagged AS (
              SELECT *,
                (invalidThreshold IS NOT NULL AND invalidThreshold > -1
                 AND last_status <> 'terminated' AND invalid >= invalidThreshold)
                  AS thr,
                (last_status = 'sendCompleted'
                 AND valid + invalid > expectedRecordCount) AS ovf,
                (last_status = 'sendCompleted'
                 AND valid + invalid = expectedRecordCount) AS cmp
              FROM joined
            )
            SELECT batchId,
                   CASE WHEN thr THEN 'failed' WHEN ovf THEN 'failed'
                        WHEN cmp THEN 'completed' END AS status,
                   CAST(valid + invalid AS INTEGER) AS actualRecordCount,
                   CAST(invalid AS INTEGER) AS invalidRecordCount,
                   CASE
                     WHEN thr THEN 'Failing Batch: ' || batchId
                       || ', too many invalid records invalidCount: '
                       || CAST(invalid AS VARCHAR)
                       || ' == invalidThreshold: ' || CAST(invalidThreshold AS VARCHAR)
                     WHEN ovf THEN 'Failing batch: ' || batchId
                       || ', received too many records, actualRecordCount: '
                       || CAST(valid + invalid AS VARCHAR)
                       || ' > expectedRecordCount: '
                       || CAST(expectedRecordCount AS VARCHAR)
                   END AS failureMessage
            FROM flagged
            WHERE thr OR ovf OR cmp
        """,
        # --- training-data surface ---
        "text_stats": O.text_stats_sql(),
        "lang_id": O.lang_id_sql(),
        "doc_fingerprint": O.fingerprint_sql(),
        "dedup_exact_text": O.dedup_exact_sql(),
        "minhash_lsh_pairs": O.minhash_lsh_pairs_sql(),
        "dedup_clusters": O.dedup_clusters_sql(),
        "dedup_keep_best": O.dedup_keep_best_sql(),
        "shard_assignment": O.shard_assignment_sql(),
        "incremental_neardup": O.incremental_neardup_sql(_NEW_WHERE_SQL),
        "semdedup_prune": O.semdedup_prune_sql(threshold=0.9),
        "pq_code_histogram": O.pq_code_histogram_sql(),
        "ann_pq_adc": O.ann_pq_adc_sql(k=5, n_queries=20),
        "ann_pq_rerank": O.ann_pq_rerank_sql(k=5, shortlist=20, n_queries=20),
        "ann_pq_recall": f"""
            WITH bf AS ({O.ann_topk_sql(k=5, n_queries=20)}),
            pq AS ({O.ann_pq_rerank_sql(k=5, shortlist=20, n_queries=20)}),
            hits AS (
              SELECT bf.query_id, COUNT(*) AS n_hit
              FROM bf JOIN pq USING (query_id, neighbor_id)
              GROUP BY bf.query_id
            ),
            truth AS (
              SELECT query_id, COUNT(*) AS n_true FROM bf GROUP BY query_id
            )
            SELECT truth.query_id,
                   CAST(n_true AS BIGINT) AS n_true,
                   CAST(COALESCE(n_hit, 0) AS BIGINT) AS n_hit,
                   COALESCE(n_hit, 0) / CAST(n_true AS DOUBLE) AS recall
            FROM truth LEFT JOIN hits ON truth.query_id = hits.query_id
        """,
        "vocab_coverage": O.vocab_coverage_sql(_VOCAB_CHECKPOINTS),
        # 24 propagation iterations bound the oracle's reach: the Spark
        # side converges on ANY diameter, so the oracle must run at
        # least diameter-of-the-widest-component rounds. Near-dup
        # components at sf0.01 have diameter <= 5 (measured); 24 gives
        # ~5x headroom and costs pennies with MATERIALIZED CTEs. If the
        # testdata generator ever produces longer duplicate chains,
        # raise this — the Spark operator is the correct one.
        "dedup_clusters_star": O.dedup_clusters_sql(
            iterations=24, materialized=True
        ),
        "kmv_set_ops": O.kmv_set_ops_sql(_KMV_PAIRS, k=_KMV_K),
        "skew_profile": O.skew_profile_sql(),
        "centroid_distances": f"""
            WITH means AS ({O.ivf_centroids_sql()}),
            cent AS (
              SELECT label, list(mean_val ORDER BY dim_idx) AS centroid
              FROM means GROUP BY label
            )
            SELECT a.label AS label_a, b.label AS label_b,
                   {O.dot_sql('a.centroid', 'b.centroid')}
                     / ({O.norm_sql('a.centroid')} * {O.norm_sql('b.centroid')})
                     AS cos_sim
            FROM cent a JOIN cent b ON a.label < b.label
        """,
        "stats_moments": """
            WITH agg AS (
              SELECT event_type,
                     CAST(COUNT(*) AS BIGINT) AS n,
                     CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sx,
                     CAST(SUM(CAST(hour(ts) AS DECIMAL(18,4))) AS DOUBLE) AS sy,
                     CAST(SUM(CAST(value AS DECIMAL(18,4))
                              * CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sxx,
                     CAST(SUM(CAST(hour(ts) AS DECIMAL(18,4))
                              * CAST(hour(ts) AS DECIMAL(18,4))) AS DOUBLE) AS syy,
                     CAST(SUM(CAST(value AS DECIMAL(18,4))
                              * CAST(hour(ts) AS DECIMAL(18,4))) AS DOUBLE) AS sxy
              FROM events GROUP BY event_type
            )
            SELECT event_type, n,
                   sx / n AS mean_value,
                   (n * sxx - sx * sx) / (n * n) AS var_pop_value,
                   (n * sxy - sx * sy)
                     / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy))
                     AS corr_value_hour
            FROM agg
        """,
        "scd2_intervals": """
            SELECT event_id, user_id,
                   ts AS valid_from,
                   lead(ts) OVER w AS valid_to,
                   lead(ts) OVER w IS NULL AS is_current
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        """,
        "value_histogram": """
            SELECT CAST(least(floor(o_totalprice / 30000.0), 19) AS INTEGER)
                     AS bin,
                   CAST(COUNT(*) AS BIGINT) AS n_orders,
                   CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
                     AS bin_total
            FROM orders GROUP BY bin
        """,
        "doc_chunks": f"""
            WITH t AS (
              SELECT doc_id, {O.tokens('text')} AS toks FROM documents
            ),
            sized AS (
              SELECT doc_id, toks,
                     CAST(1 + floor((greatest(len(toks) - {_CHUNK}, 0)
                                     + {_STRIDE - 1}) / {_STRIDE}.0) AS INTEGER)
                       AS n_chunks
              FROM t
            ),
            idx AS (
              SELECT doc_id, toks,
                     unnest(range(0, n_chunks)) AS chunk_idx
              FROM sized
            )
            SELECT doc_id, CAST(chunk_idx AS INTEGER) AS chunk_idx,
                   CAST(len(toks[(chunk_idx * {_STRIDE} + 1):(chunk_idx * {_STRIDE} + {_CHUNK})])
                        AS INTEGER) AS chunk_tokens,
                   {O.hash32(f"array_to_string(toks[(chunk_idx * {_STRIDE} + 1):(chunk_idx * {_STRIDE} + {_CHUNK})], ' ')")}
                     AS chunk_hash
            FROM idx
        """,
        "doc_rarity": f"""
            WITH toks AS (
              SELECT doc_id,
                     unnest(list_distinct({O.tokens('text')})) AS term
              FROM documents
            ),
            dfreq AS (
              SELECT term, CAST(COUNT(*) AS BIGINT) AS df
              FROM toks GROUP BY term
            )
            SELECT t.doc_id,
                   CAST(COUNT(*) AS BIGINT) AS n_terms,
                   CAST(SUM(CASE WHEN d.df <= 2 THEN 1 ELSE 0 END) AS BIGINT)
                     AS n_rare,
                   MIN(d.df) AS min_df,
                   CAST(SUM(CASE WHEN d.df <= 2 THEN 1 ELSE 0 END) AS DOUBLE)
                     / COUNT(*) AS rare_ratio
            FROM toks t JOIN dfreq d ON t.term = d.term
            GROUP BY t.doc_id
        """,
        "salted_join_skewed": """
            SELECT e.event_id, e.event_type, e.value
            FROM events e
            JOIN (SELECT event_type,
                         SUM(CAST(value AS DECIMAL(18,4))) AS _tot,
                         COUNT(*) AS _n
                  FROM events GROUP BY event_type) d
              ON e.event_type = d.event_type
            WHERE CAST(e.value AS DECIMAL(18,4)) * d._n > d._tot
        """,
        "resample_ffill": """
            WITH ev AS (SELECT * FROM events WHERE user_id < 20),
            hourly AS (
              SELECT user_id, date_trunc('hour', ts) AS hh,
                     CAST(COUNT(*) AS BIGINT) AS n_events,
                     CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE)
                       AS hour_sum
              FROM ev GROUP BY user_id, hh
            ),
            bounds AS (
              SELECT user_id, date_trunc('hour', min(ts)) AS h0,
                     date_trunc('hour', max(ts)) AS h1
              FROM ev GROUP BY user_id
            ),
            grid AS (
              SELECT user_id,
                     unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hh
              FROM bounds
            )
            SELECT g.user_id, g.hh,
                   CAST(COALESCE(h.n_events, 0) AS BIGINT) AS n_events,
                   last_value(h.hour_sum IGNORE NULLS) OVER (
                     PARTITION BY g.user_id ORDER BY g.hh
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     AS filled_sum
            FROM grid g LEFT JOIN hourly h
              ON g.user_id = h.user_id AND g.hh = h.hh
        """,
        "sample_exact_per_stratum": f"""
            SELECT doc_id, lang, source,
                   CAST(row_number() OVER (PARTITION BY lang
                        ORDER BY {O.hash32("CAST(doc_id AS VARCHAR)")}, doc_id)
                        AS INTEGER) AS rnk
            FROM documents
            QUALIFY rnk <= 50
        """,
        "bucketed_join_colocated": """
            SELECT o.o_orderstatus,
                   CAST(COUNT(*) AS BIGINT) AS n_lines,
                   CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,4))) AS DOUBLE)
                     AS sum_qty
            FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
            GROUP BY o.o_orderstatus
        """,
        "term_topk": f"""
            WITH t AS (
              SELECT lang, unnest({O.tokens('text')}) AS term FROM documents
            ),
            c AS (
              SELECT lang, term, CAST(COUNT(*) AS BIGINT) AS n
              FROM t GROUP BY lang, term
            )
            SELECT lang, term, n,
                   CAST(row_number() OVER (PARTITION BY lang
                        ORDER BY n DESC, term) AS INTEGER) AS term_rank
            FROM c
            QUALIFY term_rank <= 20
        """,
        "bm25_topk": f"""
            WITH toks AS (
              SELECT doc_id, unnest({O.tokens('text')}) AS term FROM documents
            ),
            dl AS (
              SELECT doc_id, CAST(len({O.tokens('text')}) AS INTEGER) AS dl
              FROM documents
            ),
            corpus AS (
              SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
                     CAST(SUM(dl) AS BIGINT) AS sum_dl
              FROM dl
            ),
            tf AS (
              SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
              FROM toks WHERE term IN ('join','hash','scan')
              GROUP BY doc_id, term
            ),
            dfreq AS (
              SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term
            ),
            scored AS (
              SELECT tf.doc_id,
                     CAST(floor(
                       ((corpus.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
                       * (tf.tf * 2.2)
                       / (tf.tf + 1.2 * (0.25 + 0.75 *
                          (dl.dl / (CAST(corpus.sum_dl AS DOUBLE)
                                    / CAST(corpus.n_docs AS DOUBLE)))))
                       * 1e9 + 0.5) AS BIGINT) AS score_q
              FROM tf JOIN dfreq USING (term) JOIN dl USING (doc_id)
              CROSS JOIN corpus
            )
            SELECT doc_id, CAST(SUM(score_q) AS DOUBLE) / 1e9 AS bm25
            FROM scored GROUP BY doc_id
            ORDER BY SUM(score_q) DESC, doc_id LIMIT 20
        """,
        "tfidf_topterms": f"""
            WITH toks AS (
              SELECT doc_id, unnest({O.tokens('text')}) AS term FROM documents
            ),
            tf AS (
              SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
              FROM toks GROUP BY doc_id, term
            ),
            dfreq AS (
              SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term
            ),
            n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents)
            SELECT doc_id, term, tf, df,
                   (tf * n_docs) / df AS tfidf,
                   CAST(row_number() OVER (PARTITION BY doc_id
                        ORDER BY (tf * n_docs) / df DESC, term) AS INTEGER)
                     AS term_rank
            FROM tf JOIN dfreq USING (term) CROSS JOIN n
            QUALIFY term_rank <= 3
        """,
        "winsorized_stats": """
            WITH ranked AS (
              SELECT lang, n_chars,
                     row_number() OVER (PARTITION BY lang
                                        ORDER BY n_chars, doc_id) AS rnk,
                     COUNT(*) OVER (PARTITION BY lang) AS cnt
              FROM documents
            ),
            bounds AS (
              SELECT lang,
                     MAX(CASE WHEN rnk = CAST(ceil(cnt * 0.1) AS BIGINT)
                              THEN n_chars END) AS lo,
                     MAX(CASE WHEN rnk = CAST(ceil(cnt * 0.9) AS BIGINT)
                              THEN n_chars END) AS hi
              FROM ranked GROUP BY lang
            ),
            clipped AS (
              SELECT d.lang, greatest(least(d.n_chars, b.hi), b.lo) AS v
              FROM documents d JOIN bounds b USING (lang)
            )
            SELECT lang, CAST(COUNT(*) AS BIGINT) AS n,
                   MIN(v) AS min_clipped, MAX(v) AS max_clipped,
                   CAST(SUM(v) AS DOUBLE) / COUNT(*) AS mean_clipped
            FROM clipped GROUP BY lang
        """,
        "duplicate_spans": f"""
            WITH toks AS (
              SELECT doc_id, {O.tokens('text')} AS t FROM documents
            ),
            sh AS (
              SELECT doc_id, CAST(i AS INTEGER) AS pos,
                     array_to_string(t[(CAST(i AS INTEGER)+1):(CAST(i AS INTEGER)+8)], ' ') AS shingle
              FROM toks, unnest(range(0, greatest(len(t) - 8, 0) + 1)) AS r(i)
              WHERE len(t) > 0
            ),
            hs AS (SELECT doc_id, pos, {O.hash32('shingle')} AS h FROM sh),
            dup AS (
              SELECT h FROM hs GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 2
            ),
            hits AS (
              SELECT doc_id, pos FROM hs WHERE h IN (SELECT h FROM dup)
            ),
            flagged AS (
              SELECT doc_id, pos,
                     CASE WHEN lag(pos) OVER w IS NULL
                               OR pos - lag(pos) OVER w > 1
                          THEN 1 ELSE 0 END AS _new
              FROM hits WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
            ),
            spans AS (
              SELECT doc_id, pos,
                     SUM(_new) OVER (PARTITION BY doc_id ORDER BY pos
                                     ROWS UNBOUNDED PRECEDING) AS _span
              FROM flagged
            )
            SELECT doc_id, MIN(pos) AS span_start, MAX(pos) AS span_end,
                   CAST(COUNT(*) AS BIGINT) AS n_shingles
            FROM spans GROUP BY doc_id, _span
        """,
        "quality_gate": f"""
            WITH toks AS (
              SELECT doc_id, unnest({O.tokens('text')}) AS tok FROM documents
            ),
            stats AS (
              SELECT doc_id,
                     CAST(COUNT(*) AS BIGINT) AS n_tokens,
                     CAST(SUM(CASE WHEN lower(tok) IN ({", ".join(f"'{w}'" for w in TX.STOPWORDS)})
                              THEN 1 ELSE 0 END) AS BIGINT) AS n_stop,
                     CAST(SUM(length(tok)) AS BIGINT) AS sum_len,
                     CAST(COUNT(DISTINCT tok) AS BIGINT) AS n_distinct
              FROM toks GROUP BY doc_id
            ),
            j AS (
              SELECT d.doc_id,
                     COALESCE(s.n_tokens, 0) AS n_tokens,
                     COALESCE(s.n_stop, 0) AS n_stop,
                     COALESCE(s.sum_len, 0) AS sum_len,
                     COALESCE(s.n_distinct, 0) AS n_distinct
              FROM documents d LEFT JOIN stats s ON d.doc_id = s.doc_id
            )
            SELECT doc_id, n_tokens,
                   n_tokens >= 30 AS r_min_tokens,
                   n_stop * 20 >= n_tokens AS r_stopword_ratio,
                   (3 * n_tokens <= sum_len AND sum_len <= 12 * n_tokens)
                     AS r_token_length,
                   2 * n_distinct >= n_tokens AS r_repetition,
                   (n_tokens >= 30 AND n_stop * 20 >= n_tokens
                    AND 3 * n_tokens <= sum_len AND sum_len <= 12 * n_tokens
                    AND 2 * n_distinct >= n_tokens) AS keep
            FROM j
        """,
        "span_cut_text": f"""
            WITH toks AS (
              SELECT doc_id, {O.tokens('text')} AS t FROM documents
            ),
            sh AS (
              SELECT doc_id, CAST(i AS INTEGER) AS pos,
                     array_to_string(t[(CAST(i AS INTEGER)+1):(CAST(i AS INTEGER)+8)], ' ') AS shingle
              FROM toks, unnest(range(0, greatest(len(t) - 8, 0) + 1)) AS r(i)
              WHERE len(t) > 0
            ),
            hs AS (SELECT doc_id, pos, {O.hash32('shingle')} AS h FROM sh),
            dup AS (
              SELECT h FROM hs GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 2
            ),
            hits AS (
              SELECT doc_id, pos FROM hs WHERE h IN (SELECT h FROM dup)
            ),
            flagged AS (
              SELECT doc_id, pos,
                     CASE WHEN lag(pos) OVER w IS NULL
                               OR pos - lag(pos) OVER w > 1
                          THEN 1 ELSE 0 END AS _new
              FROM hits WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
            ),
            span_rows AS (
              SELECT doc_id, pos,
                     SUM(_new) OVER (PARTITION BY doc_id ORDER BY pos
                                     ROWS UNBOUNDED PRECEDING) AS _span
              FROM flagged
            ),
            spans AS (
              SELECT doc_id, MIN(pos) AS s, MAX(pos) AS e
              FROM span_rows GROUP BY doc_id, _span
            ),
            covered AS (
              SELECT DISTINCT doc_id, CAST(p AS INTEGER) AS tpos
              FROM spans, unnest(range(s, e + 8)) AS r(p)
            ),
            tok_rows AS (
              SELECT doc_id, CAST(i - 1 AS INTEGER) AS tpos, t[CAST(i AS INTEGER)] AS token
              FROM toks, unnest(range(1, len(t) + 1)) AS r(i)
            ),
            kept AS (
              SELECT tr.doc_id, tr.tpos, tr.token
              FROM tok_rows tr LEFT JOIN covered c
                ON tr.doc_id = c.doc_id AND tr.tpos = c.tpos
              WHERE c.doc_id IS NULL
            ),
            clean AS (
              SELECT doc_id,
                     string_agg(token, ' ' ORDER BY tpos) AS clean_text,
                     CAST(COUNT(*) AS BIGINT) AS n_kept
              FROM kept GROUP BY doc_id
            ),
            totals AS (SELECT doc_id, len(t) AS n_total FROM toks)
            SELECT totals.doc_id,
                   COALESCE(clean.clean_text, '') AS clean_text,
                   CAST(COALESCE(clean.n_kept, 0) AS BIGINT) AS n_kept,
                   CAST(totals.n_total - COALESCE(clean.n_kept, 0) AS BIGINT)
                     AS n_dropped
            FROM totals LEFT JOIN clean ON totals.doc_id = clean.doc_id
        """,
        "kmv_distinct": f"""
            WITH dh AS (
              SELECT DISTINCT event_type,
                     {O.hash60("CAST(user_id AS VARCHAR)")} AS h
              FROM events
            ),
            kmin AS (
              SELECT event_type, h
              FROM dh
              QUALIFY row_number() OVER (PARTITION BY event_type ORDER BY h)
                      <= {_KMV_K}
            ),
            est AS (
              SELECT event_type, MAX(h) AS kth,
                     CAST(COUNT(*) AS BIGINT) AS m
              FROM kmin GROUP BY event_type
            ),
            exact AS (
              SELECT event_type,
                     CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_exact
              FROM events GROUP BY event_type
            )
            SELECT est.event_type,
                   CASE WHEN m < {_KMV_K} THEN CAST(m AS DOUBLE)
                        ELSE ({_KMV_K - 1}.0 * 1152921504606846976.0)
                             / CAST(kth AS DOUBLE) END AS est_distinct,
                   exact.n_exact
            FROM est JOIN exact USING (event_type)
        """,
        "ngram_jaccard_pairs": O.ngram_jaccard_pairs_sql(threshold=0.5),
        "simhash_pairs": O.simhash_pairs_sql(),
        "ann_topk": O.ann_topk_sql(k=5, n_queries=20),
        "cosine_neardup": O.cosine_neardup_sql(threshold=0.4),
        "cosine_neardup_lsh": O.cosine_neardup_lsh_sql(threshold=0.4),
        "lsh_bucket_counts": O.lsh_bucket_counts_sql(),
        "ivf_centroids": O.ivf_centroids_sql(),
        "ann_ivf_probe": O.ann_ivf_probe_sql(),
        "ann_ivf_multiprobe": O.ann_ivf_probe_sql(nprobe=2),
        "ann_recall_multiprobe": f"""
            WITH bf AS ({O.ann_topk_sql(k=5, n_queries=20)}),
            ivf AS ({O.ann_ivf_probe_sql(nprobe=2)}),
            hits AS (
              SELECT bf.query_id, COUNT(*) AS n_hit
              FROM bf JOIN ivf USING (query_id, neighbor_id)
              GROUP BY bf.query_id
            ),
            truth AS (
              SELECT query_id, COUNT(*) AS n_true FROM bf GROUP BY query_id
            )
            SELECT truth.query_id,
                   CAST(n_true AS BIGINT) AS n_true,
                   CAST(COALESCE(n_hit, 0) AS BIGINT) AS n_hit,
                   COALESCE(n_hit, 0) / CAST(n_true AS DOUBLE) AS recall
            FROM truth LEFT JOIN hits ON truth.query_id = hits.query_id
        """,
        "kmeans_refine": O.kmeans_refine_sql(iters=2),
        "json_array_funcs": """
            SELECT event_id,
                   CAST(json_extract_string(props, '$.k') AS INTEGER) AS k_val,
                   CAST(list_reduce(range(1, CAST(event_id % 4 + 1 AS INTEGER) + 1),
                                    (a,x) -> a+x) AS BIGINT) AS seq_sum,
                   CAST(len(range(1, CAST(event_id % 4 + 1 AS INTEGER) + 1))
                        AS INTEGER) AS seq_len,
                   CAST(list_max(list_transform(
                          range(1, CAST(event_id % 4 + 1 AS INTEGER) + 1),
                          x -> x*2)) AS BIGINT) AS max_doubled
            FROM events
        """,
        "media_exact_dedup": """
            WITH s AS (
              SELECT doc_id AS media_id, md5(text) AS content_md5,
                     octet_length(encode(text)) AS n_bytes
              FROM documents
            )
            SELECT content_md5,
                   CAST(MIN(media_id) AS BIGINT) AS canonical_id,
                   CAST(COUNT(*) AS BIGINT) AS n_copies,
                   CAST(MAX(n_bytes) AS INTEGER) AS blob_bytes,
                   CAST((COUNT(*) - 1) * MAX(n_bytes) AS BIGINT) AS bytes_saved
            FROM s GROUP BY content_md5
        """,
        "media_blob_stats": """
            SELECT doc_id AS media_id,
                   CAST(octet_length(encode(text)) AS INTEGER) AS n_bytes,
                   md5(text) AS content_md5,
                   CAST(n_chars % 640 AS INTEGER) AS width,
                   CAST(n_chars % 480 AS INTEGER) AS height
            FROM documents
        """,
        "media_decode_features": """
            SELECT doc_id AS media_id,
                   CAST(octet_length(encode(text)) AS INTEGER) AS n_bytes,
                   CAST(ascii(substr(text, 1, 1)) AS INTEGER) AS head_byte,
                   CAST(list_sum(list_transform(string_split(text, ''), c -> ascii(c)))
                        AS DOUBLE) / octet_length(encode(text)) AS byte_mean,
                   CAST(octet_length(encode(text)) // 64 + 1 AS INTEGER) AS frame_count
            FROM documents
        """,
        "frame_sample": """
            SELECT doc_id AS media_id,
                   CAST(unnest(range(0, greatest(CAST(floor((n_chars * 10) / 1000.0) AS INTEGER) - 1, 0) + 1))
                        AS INTEGER) AS frame_idx
            FROM documents
        """,
        # --- event-time windows ---
        "window_tumbling": """
            SELECT date_trunc('hour', ts) AS window_start, event_type,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
            FROM events GROUP BY 1, 2
        """,
        "window_sliding": """
            WITH buckets AS (
              SELECT time_bucket(INTERVAL '30 minutes', ts) AS window_start,
                     event_type, value FROM events
              UNION ALL
              SELECT time_bucket(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes',
                     event_type, value FROM events
            )
            SELECT window_start, event_type,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
            FROM buckets GROUP BY 1, 2
        """,
        "session_windows": """
            WITH marked AS (
              SELECT user_id, ts, value,
                     CASE WHEN ts - lag(ts) OVER w < INTERVAL '10 minutes'
                          THEN 0 ELSE 1 END AS brk
              FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            ),
            grouped AS (
              SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
                          ROWS UNBOUNDED PRECEDING) AS grp
              FROM marked
            )
            SELECT MIN(ts) AS session_start,
                   MAX(ts) + INTERVAL '10 minutes' AS session_end,
                   user_id,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
            FROM grouped GROUP BY user_id, grp
        """,
        # --- relational extras ---
        "cube_agg": """
            SELECT l_returnflag, l_linestatus,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
            FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
        """,
        "pivot_agg": """
            SELECT l_returnflag,
                   CAST(SUM(CASE WHEN l_linestatus = 'O'
                       THEN CAST(l_quantity AS DECIMAL(18,4)) END) AS DOUBLE) AS "O",
                   CAST(SUM(CASE WHEN l_linestatus = 'F'
                       THEN CAST(l_quantity AS DECIMAL(18,4)) END) AS DOUBLE) AS "F"
            FROM lineitem GROUP BY l_returnflag
        """,
        "set_ops": """
            SELECT DISTINCT o_custkey FROM (
              SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
              INTERSECT
              SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
            )
        """,
        "analytic_window": """
            SELECT event_id, user_id,
                   CAST(ROW_NUMBER() OVER w AS INTEGER) AS rn,
                   CAST(SUM(CAST(value AS DECIMAL(18,4))) OVER w AS DOUBLE)
                     AS running_value,
                   LAG(event_type) OVER w AS prev_type
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        """,
        "rollup_agg": """
            SELECT l_returnflag, l_linestatus,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
            FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        """,
        "grouping_sets_agg": """
            SELECT l_returnflag, l_linestatus,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
            FROM lineitem
            GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        """,
        "quantile_summary": """
            SELECT l_returnflag,
                   quantile_cont(l_quantity, 0.5) AS median_qty,
                   quantile_cont(l_quantity, 0.9) AS p90_qty,
                   MIN(l_quantity) AS min_qty,
                   MAX(l_quantity) AS max_qty
            FROM lineitem GROUP BY l_returnflag
        """,
        "rank_features": """
            SELECT o_orderkey,
                   CAST(NTILE(4) OVER w AS INTEGER) AS price_quartile,
                   PERCENT_RANK() OVER w AS price_pct_rank,
                   CAST(DENSE_RANK() OVER w AS INTEGER) AS price_dense_rank
            FROM orders
            WINDOW w AS (PARTITION BY o_orderpriority
                         ORDER BY o_totalprice DESC, o_orderkey)
        """,
        "scalar_subquery_above_avg": """
            SELECT o_orderkey, o_totalprice
            FROM orders, (SELECT SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS _total,
                                 COUNT(*) AS _n
                          FROM orders) t
            WHERE CAST(o_totalprice AS DECIMAL(18,4)) * _n > _total
        """,
        "tpch_q3_top_revenue": """
            SELECT l.l_orderkey, o.o_orderdate,
                   CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,4))
                            * (1 - CAST(l.l_discount AS DECIMAL(18,4)))) AS DOUBLE)
                     AS revenue
            FROM lineitem l
            JOIN orders o ON l.l_orderkey = o.o_orderkey
            JOIN customer c ON o.o_custkey = c.c_custkey
            WHERE c.c_mktsegment = 'BUILDING'
              AND o.o_orderdate < TIMESTAMP '1997-06-01 00:00:00'
              AND l.l_shipdate  > TIMESTAMP '1997-06-01 00:00:00'
            GROUP BY l.l_orderkey, o.o_orderdate
            ORDER BY revenue DESC, l.l_orderkey
            LIMIT 10
        """,
        "tpch_q5_regional_volume": """
            SELECT n.n_name,
                   CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,4))
                            * (1 - CAST(l.l_discount AS DECIMAL(18,4)))) AS DOUBLE)
                     AS revenue
            FROM lineitem l
            JOIN orders o   ON l.l_orderkey = o.o_orderkey
            JOIN customer c ON o.o_custkey = c.c_custkey
            JOIN supplier s ON l.l_suppkey = s.s_suppkey
                           AND c.c_nationkey = s.s_nationkey
            JOIN nation n   ON s.s_nationkey = n.n_nationkey
            JOIN region r   ON n.n_regionkey = r.r_regionkey
            WHERE r.r_name = 'ASIA'
              AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
              AND o.o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
            GROUP BY n.n_name
        """,
        "tpch_q6_forecast_revenue": """
            SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
                            * CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE)
                     AS revenue
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
              AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
              AND CAST(l_discount AS DECIMAL(18,4)) >= CAST('0.05' AS DECIMAL(18,4))
              AND CAST(l_discount AS DECIMAL(18,4)) <= CAST('0.07' AS DECIMAL(18,4))
              AND l_quantity < 24
        """,
        "tpch_q7_nation_volume": """
            SELECT sn.n_name AS supp_nation,
                   cn.n_name AS cust_nation,
                   CAST(year(l.l_shipdate) AS INTEGER) AS l_year,
                   CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,4))
                            * (1 - CAST(l.l_discount AS DECIMAL(18,4)))) AS DOUBLE)
                     AS revenue
            FROM lineitem l
            JOIN orders o    ON l.l_orderkey = o.o_orderkey
            JOIN supplier s  ON l.l_suppkey = s.s_suppkey
            JOIN nation sn   ON s.s_nationkey = sn.n_nationkey
            JOIN customer c  ON o.o_custkey = c.c_custkey
            JOIN nation cn   ON c.c_nationkey = cn.n_nationkey
            WHERE (sn.n_name = 'NATION_1' AND cn.n_name = 'NATION_2')
               OR (sn.n_name = 'NATION_2' AND cn.n_name = 'NATION_1')
            GROUP BY sn.n_name, cn.n_name, l_year
        """,
        "tpch_q10_returned_items": """
            SELECT c.c_custkey, c.c_name, c.c_acctbal, n.n_name,
                   CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,4))
                            * (1 - CAST(l.l_discount AS DECIMAL(18,4)))) AS DOUBLE)
                     AS revenue
            FROM lineitem l
            JOIN orders o   ON l.l_orderkey = o.o_orderkey
            JOIN customer c ON o.o_custkey = c.c_custkey
            JOIN nation n   ON c.c_nationkey = n.n_nationkey
            WHERE l.l_returnflag = 'R'
              AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
              AND o.o_orderdate <  TIMESTAMP '1996-04-01 00:00:00'
            GROUP BY c.c_custkey, c.c_name, c.c_acctbal, n.n_name
            ORDER BY revenue DESC, c.c_custkey
            LIMIT 20
        """,
        "tpch_q13_order_distribution": """
            SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
            FROM (
              SELECT c.c_custkey,
                     CAST(COUNT(o.o_orderkey) AS BIGINT) AS c_count
              FROM customer c
              LEFT JOIN (SELECT * FROM orders
                         WHERE o_orderpriority <> '1-URGENT') o
                ON c.c_custkey = o.o_custkey
              GROUP BY c.c_custkey
            )
            GROUP BY c_count
        """,
        "tpch_q14_promo_revenue": """
            SELECT (100.0 * CAST(SUM(CASE WHEN p.p_type = 'PROMO'
                         THEN CAST(l.l_extendedprice AS DECIMAL(18,4))
                              * (1 - CAST(l.l_discount AS DECIMAL(18,4)))
                         ELSE CAST('0' AS DECIMAL(18,4)) END) AS DOUBLE))
                   / CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,4))
                              * (1 - CAST(l.l_discount AS DECIMAL(18,4)))) AS DOUBLE)
                     AS promo_revenue_pct
            FROM lineitem l
            JOIN part p ON l.l_partkey = p.p_partkey
            WHERE l.l_shipdate >= TIMESTAMP '1996-03-01 00:00:00'
              AND l.l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
        """,
        "tpch_q18_large_orders": """
            SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate,
                   o.o_totalprice, b.total_qty
            FROM (
              SELECT l_orderkey,
                     CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE)
                       AS total_qty
              FROM lineitem GROUP BY l_orderkey
              HAVING CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) > 200
            ) b
            JOIN orders o   ON b.l_orderkey = o.o_orderkey
            JOIN customer c ON o.o_custkey = c.c_custkey
            ORDER BY o.o_totalprice DESC, o.o_orderkey
            LIMIT 100
        """,
        "tpch_q19_bracket_revenue": """
            SELECT CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,4))
                            * (1 - CAST(l.l_discount AS DECIMAL(18,4)))) AS DOUBLE)
                     AS revenue,
                   CAST(COUNT(*) AS BIGINT) AS n_lines
            FROM lineitem l
            JOIN part p ON l.l_partkey = p.p_partkey
            WHERE (p.p_brand = 'BRAND_1' AND p.p_size BETWEEN 1 AND 15
                   AND l.l_quantity BETWEEN 1 AND 11)
               OR (p.p_brand = 'BRAND_2' AND p.p_size BETWEEN 1 AND 25
                   AND l.l_quantity BETWEEN 10 AND 20)
               OR (p.p_brand = 'BRAND_3' AND p.p_size BETWEEN 1 AND 35
                   AND l.l_quantity BETWEEN 20 AND 30)
        """,
        "tpch_q8_market_share": """
            WITH j AS (
              SELECT CAST(year(o.o_orderdate) AS INTEGER) AS o_year,
                     sn.n_name AS supp_nation,
                     CAST(l.l_extendedprice AS DECIMAL(18,4))
                       * (1 - CAST(l.l_discount AS DECIMAL(18,4))) AS vol
              FROM lineitem l
              JOIN part p     ON l.l_partkey = p.p_partkey
              JOIN orders o   ON l.l_orderkey = o.o_orderkey
              JOIN customer c ON o.o_custkey = c.c_custkey
              JOIN nation cn  ON c.c_nationkey = cn.n_nationkey
              JOIN region r   ON cn.n_regionkey = r.r_regionkey
              JOIN supplier s ON l.l_suppkey = s.s_suppkey
              JOIN nation sn  ON s.s_nationkey = sn.n_nationkey
              WHERE r.r_name = 'REGION_1' AND p.p_type = 'ECONOMY'
                AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
                AND o.o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
            )
            SELECT o_year,
                   CAST(SUM(CASE WHEN supp_nation = 'NATION_3' THEN vol
                                 ELSE CAST('0' AS DECIMAL(18,4)) END) AS DOUBLE)
                     AS nation_revenue,
                   CAST(SUM(vol) AS DOUBLE) AS total_revenue,
                   CAST(SUM(CASE WHEN supp_nation = 'NATION_3' THEN vol
                                 ELSE CAST('0' AS DECIMAL(18,4)) END) AS DOUBLE)
                     / CAST(SUM(vol) AS DOUBLE) AS mkt_share
            FROM j GROUP BY o_year
        """,
        "tpch_q15_top_supplier": """
            WITH rev AS (
              SELECT l_suppkey,
                     CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
                              * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE)
                       AS total_revenue
              FROM lineitem
              WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
                AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
              GROUP BY l_suppkey
            )
            SELECT s.s_suppkey, s.s_name, rev.total_revenue
            FROM rev JOIN supplier s ON rev.l_suppkey = s.s_suppkey
            WHERE rev.total_revenue = (SELECT MAX(total_revenue) FROM rev)
        """,
        "tpch_q17_small_qty_revenue": """
            WITH per_part AS (
              SELECT l_partkey,
                     SUM(CAST(l_quantity AS DECIMAL(18,4))) AS _qsum,
                     COUNT(*) AS _qn
              FROM lineitem GROUP BY l_partkey
            )
            SELECT CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,4))) AS DOUBLE)
                     / 7.0 AS avg_yearly,
                   CAST(COUNT(*) AS BIGINT) AS n_lines
            FROM lineitem l
            JOIN part p ON l.l_partkey = p.p_partkey
            JOIN per_part pp ON l.l_partkey = pp.l_partkey
            WHERE p.p_brand = 'BRAND_5'
              AND CAST(l.l_quantity AS DECIMAL(18,4)) * 5 * pp._qn < pp._qsum
        """,
        "tpch_q22_idle_customers": """
            WITH pos AS (
              SELECT SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS _total,
                     COUNT(*) AS _n
              FROM customer WHERE c_acctbal > 0
            )
            SELECT c.c_nationkey,
                   CAST(COUNT(*) AS BIGINT) AS numcust,
                   CAST(SUM(CAST(c.c_acctbal AS DECIMAL(18,4))) AS DOUBLE)
                     AS totacctbal
            FROM customer c, pos
            WHERE CAST(c.c_acctbal AS DECIMAL(18,4)) * pos._n > pos._total
              AND NOT EXISTS (SELECT 1 FROM orders o
                              WHERE o.o_custkey = c.c_custkey
                                AND o.o_orderpriority = '1-URGENT')
            GROUP BY c.c_nationkey
        """,
        "range_frame_window": """
            SELECT event_id, user_id,
                   CAST(COUNT(*) OVER w AS BIGINT) AS n_in_range,
                   CAST(SUM(CAST(value AS DECIMAL(18,4))) OVER w AS DOUBLE)
                     AS range_sum
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY event_id
                         RANGE BETWEEN 100 PRECEDING AND CURRENT ROW)
        """,
        "string_funcs": r"""
            SELECT c_custkey,
                   UPPER(c_name) AS name_upper,
                   CAST(LENGTH(c_name) AS INTEGER) AS name_len,
                   SUBSTR(c_name, 10, 5) AS name_mid,
                   regexp_extract(c_name, '(\d+)', 1) AS cust_digits,
                   concat_ws('-', c_mktsegment, CAST(c_custkey AS VARCHAR))
                     AS segment_tag
            FROM customer
        """,
        "date_funcs": """
            SELECT event_id,
                   date_trunc('day', ts) AS day_start,
                   CAST(year(ts) AS INTEGER) AS yy,
                   CAST(month(ts) AS INTEGER) AS mm,
                   CAST(day(ts) AS INTEGER) AS dd,
                   CAST(hour(ts) AS INTEGER) AS hh,
                   CAST(datediff('day', DATE '1995-01-01', CAST(ts AS DATE))
                        AS INTEGER) AS days_since_epoch0
            FROM events
        """,
        "hash_sample": f"""
            SELECT doc_id, lang, source, n_chars
            FROM documents
            WHERE {O.hash32("CAST(doc_id AS VARCHAR)")} % 1000 < 100
        """,
        "stratified_sample": f"""
            SELECT doc_id, lang, source
            FROM documents
            WHERE {O.hash32("CAST(doc_id AS VARCHAR)")} % 1000
                  < CASE WHEN lang = 'en' THEN 200 ELSE 500 END
        """,
        "domain_mix": """
            SELECT lang, source,
                   CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(n_chars) AS BIGINT) AS total_chars,
                   CAST(COUNT(*) AS DOUBLE)
                     / (SELECT COUNT(*) FROM documents) AS doc_share
            FROM documents GROUP BY lang, source
        """,
        "sequence_pack": f"""
            WITH t AS (
              SELECT doc_id, source,
                     CAST(len({O.tokens('text')}) AS INTEGER) AS n_tokens
              FROM documents
            ),
            c AS (
              SELECT *, SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                          ROWS UNBOUNDED PRECEDING) AS cum_tokens
              FROM t
            )
            SELECT source,
                   CAST(floor((cum_tokens - n_tokens) / 2048) AS BIGINT) AS pack_id,
                   CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(n_tokens) AS BIGINT) AS pack_tokens,
                   MIN(doc_id) AS first_doc,
                   MAX(doc_id) AS last_doc
            FROM c GROUP BY source, pack_id
        """,
    }

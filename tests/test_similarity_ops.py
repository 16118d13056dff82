"""Similarity operators: BLAS path vs exact fold, interval join unit
scenarios."""

from datetime import datetime

import pytest

from pyspark.sql import functions as F

from hri_flink_pipeline_core_spark.operators.interval import interval_join
from hri_flink_pipeline_core_spark.operators.similarity import (
    ann_topk_blas,
    ann_topk_bruteforce,
)
from hri_flink_pipeline_core_spark.session import read_table

SF001 = "/root/testdata/sf0.001"


def test_ann_blas_matches_bruteforce_ranking(spark):
    emb = read_table(spark, SF001, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    exact = ann_topk_bruteforce(q, emb, k=5)
    blas = ann_topk_blas(q, emb, k=5)
    ex = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    bl = {(r.query_id, r.neighbor_id) for r in blas.collect()}
    # identical neighbor sets (ulp-level cosine differences can only
    # reorder exact ties, which the test data does not contain)
    assert ex == bl
    # cosines agree to float tolerance
    ex_cos = {(r.query_id, r.neighbor_id): r.cosine for r in exact.collect()}
    for r in blas.collect():
        assert abs(ex_cos[(r.query_id, r.neighbor_id)] - r.cosine) < 1e-9


def test_dot_lit_sql_empty_model_row(spark):
    """ADVICE r11: the literal dot with an EMPTY vals list must render
    valid SQL evaluating to 0.0 (the value of an empty fold), not an
    untyped empty array() literal."""
    from hri_flink_pipeline_core_spark.operators.similarity import _dot_lit_sql

    sql = _dot_lit_sql("v", [])
    row = (
        spark.createDataFrame([([1.0, 2.0],)], "v array<float>")
        .selectExpr(f"{sql} AS d")
        .collect()[0]
    )
    assert row.d == 0.0


def _py_dot(a, b) -> float:
    """Python replica of dot(): left fold from the 0.0 seed, one IEEE
    multiply and add per index. Python floats ARE IEEE doubles, so this
    equals the JVM fold bit-for-bit (the _py_norm pattern)."""
    acc = 0.0
    for x, y in zip(a, b):
        acc = acc + float(x) * float(y)
    return acc


def test_dot_forms_match_python_left_fold(spark):
    """Every dot form is BIT-identical to a Python IEEE left fold on
    equal-width vectors: the literal dot (_dot_lit_sql, the HOF fold
    over a literal model row), and dot_w both unrolled (width
    COL_DOT_UNROLL_MAX) and as the HOF fold (one wider). A NULL element
    or a vector SHORTER than the model row / width yields NULL (zip_with
    pads with NULL, try_element_at out of range is NULL)."""
    import random
    import struct

    from hri_flink_pipeline_core_spark.operators.similarity import (
        COL_DOT_UNROLL_MAX,
        _dot_lit_sql,
        dot_w,
    )

    def bits(x):
        return None if x is None else struct.pack("<d", x)

    def vec(width, seed):
        # magnitudes 1e-3..1e3 and both signs, so a different summation
        # order changes the low bits (asserted below)
        r = random.Random(seed)
        return [
            r.uniform(-1.0, 1.0) * 10.0 ** r.randint(-3, 3)
            for _ in range(width)
        ]

    for form, width in (
        ("literal", 8),
        ("unrolled", COL_DOT_UNROLL_MAX),
        ("fold", COL_DOT_UNROLL_MAX + 1),
    ):
        model = vec(width, 5)
        with_null = vec(width, 1)
        with_null[1] = None
        df = spark.createDataFrame(
            [(vec(width, 1), model), (with_null, model), (vec(3, 1), model)],
            "v array<float>, m array<double>",
        )
        if form == "literal":
            d = F.expr(_dot_lit_sql("v", model))
        else:
            d = dot_w("v", "m", width)
            assert ("aggregate" in str(d)) == (form == "fold")
        got = df.select("v", d.alias("d")).collect()
        v = got[0].v
        assert _py_dot(v, model) != _py_dot(v[::-1], model[::-1])
        assert bits(got[0].d) == bits(_py_dot(v, model)), form
        assert got[1].d is None and got[2].d is None, form


def ts(s):
    return datetime.fromisoformat(s)


def test_interval_join_containment_and_bounds(spark):
    left = spark.createDataFrame(
        [
            (1, "u", ts("2024-01-01T00:00:00")),  # == start -> in
            (2, "u", ts("2024-01-01T03:00:00")),  # inside
            (3, "u", ts("2024-01-01T06:00:00")),  # == end -> in
            (4, "u", ts("2024-01-01T06:00:01")),  # after -> out
            (5, "v", ts("2024-01-01T03:00:00")),  # wrong key -> out
        ],
        "id long, k string, t timestamp",
    )
    right = spark.createDataFrame(
        [("u", 100, ts("2024-01-01T00:00:00"), ts("2024-01-01T06:00:00"))],
        "k string, rid long, s timestamp, e timestamp",
    )
    out = interval_join(
        left, right, keys=["k"], time_col="t", start_col="s", end_col="e",
        bucket_seconds=6 * 3600,
    )
    assert sorted(r.id for r in out.collect()) == [1, 2, 3]


def test_interval_join_overlapping_intervals_multi_match(spark):
    left = spark.createDataFrame(
        [(1, "u", ts("2024-01-01T02:00:00"))], "id long, k string, t timestamp"
    )
    right = spark.createDataFrame(
        [
            ("u", 1, ts("2024-01-01T00:00:00"), ts("2024-01-01T04:00:00")),
            ("u", 2, ts("2024-01-01T01:00:00"), ts("2024-01-01T03:00:00")),
            ("u", 3, ts("2024-01-01T03:00:00"), ts("2024-01-01T05:00:00")),
        ],
        "k string, rid long, s timestamp, e timestamp",
    )
    out = interval_join(
        left, right, keys=["k"], time_col="t", start_col="s", end_col="e",
        bucket_seconds=4 * 3600,
    )
    assert sorted(r.rid for r in out.collect()) == [1, 2]


def test_interval_join_crossing_bucket_boundary(spark):
    # interval spans a bucket boundary: the explode must cover both
    # buckets so a left row in the second bucket still matches
    left = spark.createDataFrame(
        [(1, "u", ts("2024-01-01T07:00:00"))], "id long, k string, t timestamp"
    )
    right = spark.createDataFrame(
        [("u", 1, ts("2024-01-01T05:00:00"), ts("2024-01-01T08:00:00"))],
        "k string, rid long, s timestamp, e timestamp",
    )
    out = interval_join(
        left, right, keys=["k"], time_col="t", start_col="s", end_col="e",
        bucket_seconds=6 * 3600,
    )
    assert [r.id for r in out.collect()] == [1]


def test_join_salted_matches_plain_join(spark):
    from hri_flink_pipeline_core_spark.operators.relational import join_salted

    left = spark.createDataFrame(
        [(k, i) for k in ["hot", "cold"] for i in range(50 if k == "hot" else 2)],
        "k string, v long",
    )
    right = spark.createDataFrame(
        [("hot", 100), ("cold", 200), ("missing", 300)], "k string, w long"
    )
    salted = join_salted(left, right, "k", salt_buckets=4).collect()
    plain = left.join(right, "k").collect()
    assert sorted((r.k, r.v, r.w) for r in salted) == sorted(
        (r.k, r.v, r.w) for r in plain
    )
    assert len(salted) == 52


def test_duplicate_spans_finds_shared_passage(spark):
    """Two docs share one 12-token passage; a third is unique. The span
    must be maximal (one row per doc covering all 5 consecutive 8-shingle
    positions), and the unique doc must produce no rows."""
    from hri_flink_pipeline_core_spark.operators.dedup import duplicate_spans

    shared = " ".join(f"w{i}" for i in range(12))  # 12 tokens -> 5 8-shingles
    docs = spark.createDataFrame(
        [
            (1, f"alpha beta {shared} gamma"),
            (2, f"{shared} delta epsilon zeta"),
            (3, "nothing here repeats at all ever once more"),
        ],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in duplicate_spans(docs, k=8, min_docs=2).collect()}
    assert set(rows) == {1, 2}
    # doc 1: passage starts at token 2 -> shingle positions 2..6
    assert (rows[1].span_start, rows[1].span_end, rows[1].n_shingles) == (2, 6, 5)
    # doc 2: passage starts at token 0 -> shingle positions 0..4
    assert (rows[2].span_start, rows[2].span_end, rows[2].n_shingles) == (0, 4, 5)


def test_duplicate_spans_merges_adjacent_and_splits_gaps(spark):
    """Two shared passages separated by unique text in the same doc must
    produce two distinct maximal spans, not one."""
    from hri_flink_pipeline_core_spark.operators.dedup import duplicate_spans

    p1 = " ".join(f"a{i}" for i in range(8))   # exactly one 8-shingle
    p2 = " ".join(f"b{i}" for i in range(8))
    docs = spark.createDataFrame(
        [
            (1, f"{p1} unique filler words in between here {p2}"),
            (2, f"{p1} other stuff"),
            (3, f"{p2} more other stuff"),
        ],
        "doc_id long, text string",
    )
    spans = sorted(
        (r.span_start, r.span_end)
        for r in duplicate_spans(docs, k=8, min_docs=2).collect()
        if r.doc_id == 1
    )
    assert len(spans) == 2
    assert spans[0][0] == 0 and spans[1][0] > spans[0][1] + 1


def test_span_cut_removes_shared_passage_keeps_unique(spark):
    from hri_flink_pipeline_core_spark.operators.dedup import span_cut_text

    shared = " ".join(f"w{i}" for i in range(12))
    docs = spark.createDataFrame(
        [
            (1, f"alpha beta {shared} gamma"),
            (2, f"{shared} delta"),
            (3, "totally unique text that repeats nowhere else at all"),
        ],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in span_cut_text(docs, k=8, min_docs=2).collect()}
    assert rows[1].clean_text == "alpha beta gamma"
    assert (rows[1].n_kept, rows[1].n_dropped) == (3, 12)
    assert rows[2].clean_text == "delta"
    assert rows[3].clean_text == docs.collect()[2].text  # untouched
    assert rows[3].n_dropped == 0


def test_ann_topk_blas_guards_large_query_side(spark, monkeypatch):
    """The BLAS path collects the query side to the driver; the
    small-side contract is enforced, not assumed — oversized query sets
    must refuse with a pointer at the bucketed operators."""
    import pytest as _pytest

    from hri_flink_pipeline_core_spark.operators import similarity as S

    df = spark.range(10).selectExpr(
        "id as vec_id", "array(cast(id as float), 1.0f) as embedding"
    )
    monkeypatch.setattr(S, "MAX_BLAS_QUERIES", 5)
    with _pytest.raises(ValueError, match="ann_ivf_probe"):
        S.ann_topk_blas(df, df, k=2)
    # under the cap it runs
    monkeypatch.setattr(S, "MAX_BLAS_QUERIES", 100)
    assert S.ann_topk_blas(df, df, k=2).count() > 0


def test_kmv_set_ops_absent_language_one_sided_pairs(spark, tmp_path):
    """Round-7 review finding: a pair whose one language has NO grams at
    all must still appear with its one-sided union estimate (the former
    union-of-sides shape and the oracle's merged CTE both emit it);
    verified end-to-end against the DuckDB oracle on a corpus with only
    en/de docs — so ('en','zh') and ('de','fr') are one-sided and
    ('en','de') is two-sided."""
    import duckdb
    import pandas as pd

    import __spark_entry__ as entry

    docs = pd.DataFrame(
        {
            "doc_id": [1, 2, 3, 4],
            "lang": ["en", "en", "de", "de"],
            "text": [
                "alpha beta gamma delta epsilon zeta",
                "alpha beta gamma eta theta iota",
                "alpha beta gamma delta kappa",
                "completely different german words here",
            ],
        }
    )
    sf_dir = str(tmp_path)
    docs.to_parquet(f"{sf_dir}/documents.parquet")

    got = (
        entry.q_kmv_set_ops(spark, sf_dir)
        .toPandas()
        .sort_values(["lang_a", "lang_b"], ignore_index=True)
    )
    # all three declared pairs present, incl. the two one-sided ones
    assert sorted(zip(got.lang_a, got.lang_b)) == [
        ("de", "fr"), ("en", "de"), ("en", "zh"),
    ]

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet'"
    )
    want = (
        con.execute(entry.oracle_sql()["kmv_set_ops"])
        .fetchdf()
        .sort_values(["lang_a", "lang_b"], ignore_index=True)
    )
    for col in ["est_union", "est_intersect", "exact_union", "exact_intersect"]:
        assert list(got[col]) == list(want[col]), col
    # one-sided pairs: intersections exactly zero, unions = the present side
    one_sided = got[(got.lang_b == "zh") | (got.lang_b == "fr")]
    assert (one_sided.exact_intersect == 0).all()
    assert (one_sided.est_intersect == 0.0).all()
    assert (one_sided.exact_union > 0).all()


def test_hyperplane_degenerate_and_short_vectors(spark):
    """In-row bucket projection must match the former explode->agg->join
    semantics on non-clean corpora (round-9 review finding): null/empty
    vectors DROP (they produced no signature rows), short vectors keep
    their PARTIAL dot (per-term COALESCE; a bare chained + would NULL-
    poison the plane sums and silently route the row to bucket 0)."""
    from hri_flink_pipeline_core_spark.operators.similarity import (
        HYPERPLANES,
        hyperplane_signatures,
    )

    df = spark.createDataFrame(
        [(1, [1.0] * 64), (2, None), (3, []), (4, [0.5] * 16)],
        "vec_id int, embedding array<double>",
    )
    got = {r["id"]: r["bucket"] for r in hyperplane_signatures(df).collect()}
    assert set(got) == {1, 4}
    expect4 = sum(
        2 ** j
        for j, p in enumerate(HYPERPLANES)
        if sum(0.5 * w for w in p[:16]) > 0
    )
    assert got[4] == expect4


def test_hyperplane_and_bucket_pairs_quote_identifiers(spark):
    """Reserved-word / dotted column names must parse as column
    references through the SQL-string builders end-to-end — the side
    selects AND the downstream filter/select (round-9 review: the
    ADVICE-r8 quoting was only half-applied)."""
    from hri_flink_pipeline_core_spark.operators.dedup import bucket_pairs
    from hri_flink_pipeline_core_spark.operators.similarity import (
        hyperplane_signatures,
    )

    df = spark.createDataFrame(
        [(1, [1.0] * 64), (4, [0.5] * 16)],
        "`order` int, `the.vec` array<double>",
    )
    sig = hyperplane_signatures(df, vec_col="the.vec", id_col="order")
    assert {r["id"] for r in sig.collect()} == {1, 4}

    m = spark.createDataFrame(
        [("b1", "x.1"), ("b1", "x.2"), ("b1", "x.3")],
        "bkt string, `doc.id` string",
    )
    out = bucket_pairs(m, keys=["bkt"], fields=["doc.id"], member_ckpt=False)
    got = sorted((r["doc.id_a"], r["doc.id_b"]) for r in out.collect())
    assert got == [("x.1", "x.2"), ("x.1", "x.3"), ("x.2", "x.3")]


def test_star_cc_rejects_bad_cadence(spark):
    from hri_flink_pipeline_core_spark.operators.dedup import (
        connected_components_star,
    )

    pairs = spark.createDataFrame([("a", "b")], "doc_a string, doc_b string")
    for bad in (0, -2):
        with pytest.raises(ValueError, match="check_cadence"):
            connected_components_star(pairs, check_cadence=bad)


def test_lsh_bucket_oracle_matches_on_degenerate_corpus(spark, tmp_path):
    """Round-10 review (ADVICE r9, medium): the DuckDB oracle's
    hyperplane signature must mirror the Spark side's degenerate-vector
    semantics — per-term COALESCE (short / null-element vectors keep
    their PARTIAL plane dots) and a NULL/empty-vector row drop — not
    just agree on clean fixed-width corpora. Cross-engine on a corpus
    exercising every degenerate class."""
    import duckdb
    import pandas as pd

    import __spark_entry__ as entry

    emb = pd.DataFrame(
        {
            "vec_id": [1, 2, 3, 4, 5, 6],
            "embedding": [
                [1.0] * 64,                 # clean full-width
                None,                        # NULL vector -> dropped
                [],                          # empty vector -> dropped
                [0.5] * 16,                  # short -> partial dot
                [None, 1.0] + [0.25] * 62,   # null element -> term skipped
                [-1.0] * 64,                 # clean, opposite signs
            ],
            "label": [0, 0, 0, 1, 1, 1],
        }
    )
    sf_dir = str(tmp_path)
    emb.to_parquet(f"{sf_dir}/embeddings.parquet")

    got = (
        entry.q_lsh_bucket_counts(spark, sf_dir)
        .toPandas()
        .sort_values("bucket", ignore_index=True)
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM '{sf_dir}/embeddings.parquet'"
    )
    want = (
        con.execute(entry.oracle_sql()["lsh_bucket_counts"])
        .fetchdf()
        .sort_values("bucket", ignore_index=True)
    )
    assert list(got.bucket) == list(want.bucket)
    assert list(got.n) == list(want.n)
    # the two degenerate rows dropped on BOTH engines
    assert got.n.sum() == 4


def _kmeans_lloyd_assignments(spark, S):
    emb = spark.createDataFrame(
        [(i, [float((i * 7 + j * 3) % 11) - 5.0 for j in range(8)], i % 4)
         for i in range(200)],
        "vec_id int, embedding array<double>, label int",
    )
    cent0 = S._centroid_means(
        emb.select("label", "embedding"), ["label"], "embedding",
        S.quantized_mean_sql(),
    )
    return sorted(
        (r["vec_id"], r["cluster"])
        for r in S.kmeans_lloyd(emb, cent0, iters=2).collect()
    )


def test_kmeans_pandas_path_matches_literal(spark, monkeypatch):
    """Above the literal codegen budget (LITERAL_CENTROID_MAX_CELLS) but
    within the collectable model budget, kmeans_lloyd assigns through
    the vectorized kmeans_assign_pandas — which must produce IDENTICAL
    final assignments to the literal path (same fold-order-exact math,
    same tie-breaks), since sf~1 corpora cross the budget while the
    sf0.01 driver oracle runs the literal plan."""
    from hri_flink_pipeline_core_spark.operators import similarity as S

    lit = _kmeans_lloyd_assignments(spark, S)
    monkeypatch.setattr(S, "LITERAL_CENTROID_MAX_CELLS", 0)
    assert _kmeans_lloyd_assignments(spark, S) == lit


def test_kmeans_join_fallback_matches_literal(spark, monkeypatch):
    """Above the collectable model budget (LITERAL_MODEL_MAX_CELLS)
    collect_model_rows returns None and kmeans_lloyd runs the
    broadcast-join Lloyd loop (kmeans_assign + checkpointed
    kmeans_quantized_update) — identical final assignments to the
    literal path."""
    from hri_flink_pipeline_core_spark.operators import similarity as S

    lit = _kmeans_lloyd_assignments(spark, S)
    monkeypatch.setattr(S, "LITERAL_MODEL_MAX_CELLS", 0)
    calls = []
    orig = S.kmeans_assign
    monkeypatch.setattr(
        S, "kmeans_assign", lambda *a, **k: calls.append(1) or orig(*a, **k)
    )
    assert _kmeans_lloyd_assignments(spark, S) == lit
    assert calls  # the join loop ran


def test_ann_sq_recall_fused_matches_two_leg(spark):
    """Round-10 fusion parity: the single-pass SQ recall report must
    equal the two-leg form (bruteforce top-k ∩ SQ top-k joined) value
    for value, including a query whose SQ top-k misses some exact
    neighbors."""
    import pandas as pd

    from hri_flink_pipeline_core_spark.operators.similarity import (
        ann_sq_recall_report,
        ann_topk_bruteforce,
        ann_topk_sq,
    )
    from pyspark.sql import functions as F

    emb = spark.createDataFrame(
        [(i, [float(((i * 13 + j * 5) % 17) - 8) / 8.0 for j in range(8)])
         for i in range(60)],
        "vec_id int, embedding array<double>",
    )
    q = emb.filter(F.col("vec_id") < 5)
    fused = (
        ann_sq_recall_report(q, emb, k=3)
        .toPandas()
        .sort_values("query_id", ignore_index=True)
    )
    bf = ann_topk_bruteforce(q, emb, k=3).select("query_id", "neighbor_id")
    sq = ann_topk_sq(q, emb, k=3).select("query_id", "neighbor_id")
    hits = bf.join(sq, ["query_id", "neighbor_id"]).groupBy("query_id").agg(
        F.count(F.lit(1)).alias("n_hit")
    )
    truth = bf.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_true"))
    twoleg = (
        truth.join(hits, "query_id", "left")
        .select(
            "query_id", "n_true",
            F.coalesce("n_hit", F.lit(0)).alias("n_hit"),
            (F.coalesce("n_hit", F.lit(0)) / F.col("n_true")).alias("recall"),
        )
        .toPandas()
        .sort_values("query_id", ignore_index=True)
    )
    pd.testing.assert_frame_equal(
        fused, twoleg[fused.columns], check_dtype=False
    )


def test_recall_vec_leg_matches_sql_leg(spark, monkeypatch):
    """Round-12 (opt round) leg parity: the vectorized Arrow recall leg
    (driver-collected query sample + per-dimension numpy IEEE folds +
    per-batch partial top-k) must equal the SQL window form value for
    value — on BOTH sides of the literal-centroid budget, since sf~1
    centroid tables cross LITERAL_CENTROID_MAX_CELLS and take the
    broadcast-join probe path while the sf0.01 oracle runs the literal
    one. Also pins the subset-rank simplification: an in-probe row with
    exact rank <= k always has probe rank <= k."""
    from hri_flink_pipeline_core_spark.operators import similarity as S

    emb = spark.createDataFrame(
        [(i, [float(((i * 13 + j * 5) % 17) - 8) / 8.0 for j in range(8)],
          i % 5)
         for i in range(80)],
        "vec_id long, embedding array<double>, label int",
    )
    cents = S._centroid_means(
        emb.select("label", "embedding"), ["label"], "embedding",
        S.quantized_mean_sql(),
    ).withColumnRenamed("mean_vec", "centroid")
    if "centroid" not in cents.columns:
        cents = cents.toDF("label", "centroid")
    q = emb.filter(F.col("vec_id") < 6)

    def run(nprobe):
        vec = sorted(
            map(tuple, S.ann_recall_report(q, emb, cents, k=3, nprobe=nprobe)
                .collect())
        )
        # a query sample above the vec leg's cap falls through to SQL
        with monkeypatch.context() as m:
            m.setattr(S, "RECALL_VEC_MAX_QUERIES", 0)
            sql = sorted(
                map(tuple,
                    S.ann_recall_report(q, emb, cents, k=3, nprobe=nprobe)
                    .collect())
            )
        return vec, sql

    for nprobe in (1, 2):
        vec, sql = run(nprobe)
        assert vec == sql and len(vec) == 6
    # budget crossover: force the join probe path for the SQL leg while
    # the vec leg still collects the model under the general budget
    monkeypatch.setattr(S, "LITERAL_CENTROID_MAX_CELLS", 0)
    vec, sql = run(1)
    assert vec == sql and len(vec) == 6


def test_shingles_let_bound_matches_naive_inline(spark):
    """Round 12: ``shingles()`` let-binds the token array (one-element
    array + transform) so the split+filter tokenization evaluates once
    per row instead of once per (index, offset) lambda site — a 7.3x
    expression-level win on the sf~1 shingle explode. This pins the
    let-bound form to a naive inline reference (the pre-round-12 shape)
    across the edge cases: NULL text, empty, whitespace-only, fewer
    tokens than k, exactly k, more than k, and multi-space runs."""
    from hri_flink_pipeline_core_spark.operators.text import shingles, tokens

    def naive(text, k):
        toks = tokens(text)
        n = F.size(toks)
        idx = F.sequence(F.lit(0), F.greatest(n - k, F.lit(0)))
        join_k = lambda i: F.concat_ws(
            " ", *[F.get(toks, i + off) for off in range(k)]
        )
        return F.when(n >= k, F.transform(idx, join_k)).otherwise(
            F.when(n > 0, F.array(F.concat_ws(" ", toks))).otherwise(
                F.array().cast("array<string>")
            )
        )

    rows = [
        (None,),
        ("",),
        ("   \t  ",),
        ("one",),
        ("one two",),
        ("one two three",),
        ("one two three four",),
        ("a  b\t c   d e f",),
        ("w0 w1 w2 w3 w4 w5 w6 w7 w8 w9",),
    ]
    df = spark.createDataFrame(rows, "text string")
    for k in (2, 3, 5):
        got = df.select(shingles(F.col("text"), k).alias("s")).collect()
        want = df.select(naive(F.col("text"), k).alias("s")).collect()
        assert [r.s for r in got] == [r.s for r in want], f"k={k}"


def test_quality_and_langid_let_bound_match_naive_inline(spark):
    """Round 12: quality_score() and lang_id() let-bind the token array
    the same way shingles() does (HOF filters block codegen CSE, so the
    inline form re-ran the split per reference site). Pins both to the
    pre-round-12 naive inline shapes across NULL/empty/whitespace/CJK/
    marker-tie edge cases."""
    from hri_flink_pipeline_core_spark.operators.text import (
        _LANG_MARKERS,
        _LANG_ORDER,
        STOPWORDS,
        lang_id,
        quality_score,
        token_count_ws,
        tokens,
    )

    def naive_quality(text):
        n_chars = F.length(text)
        n_tok = token_count_ws(text)
        n_punct = F.size(F.regexp_extract_all(text, F.lit(r"[^\w\s]"), 0))
        n_stop = F.size(
            F.filter(tokens(text), lambda t: F.lower(t).isin([*STOPWORDS]))
        )
        len_ok = (n_chars >= 100) & (n_chars <= 20000)
        punct_ratio = n_punct / F.greatest(n_chars, F.lit(1))
        stop_ratio = n_stop / F.greatest(n_tok, F.lit(1))
        mean_tok_len = n_chars / F.greatest(n_tok, F.lit(1))
        tok_len_ok = (mean_tok_len >= 3) & (mean_tok_len <= 12)
        return (
            F.when(len_ok, 0.25).otherwise(0.0)
            + F.when(punct_ratio <= 0.2, 0.25).otherwise(0.0)
            + F.when(stop_ratio >= 0.05, 0.25).otherwise(0.0)
            + F.when(tok_len_ok, 0.25).otherwise(0.0)
        )

    def naive_lang(text):
        toks = F.transform(tokens(text), lambda t: F.lower(t))
        n_cjk = F.size(
            F.regexp_extract_all(text, F.lit(r"[\x{4e00}-\x{9fff}]"), 0)
        )
        scores = {
            lang: F.size(F.filter(toks, lambda t: t.isin(markers)))
            for lang, markers in _LANG_MARKERS.items()
        }
        best = F.greatest(*[scores[lang] for lang in _LANG_ORDER])
        decision = F.lit("und")
        for lang in reversed(_LANG_ORDER):
            decision = F.when(
                (best > 0) & (scores[lang] == best), F.lit(lang)
            ).otherwise(decision)
        return F.when(
            n_cjk * 10 > F.length(text), F.lit("zh")
        ).otherwise(decision)

    rows = [
        (None,),
        ("",),
        ("   ",),
        ("the and of to is in it you that was " * 5,),
        ("el la de que y en un los del se",),
        ("le la de et les des en du un une",),
        ("der die und das den von zu mit sich des",),
        ("的 一 是 在 不 了 有 和 人 这 中 大 为 上 个",),
        ("x" * 50,),
        ("word " * 40,),
        ("the el le der",),  # 4-way marker tie -> _LANG_ORDER tiebreak
        ("!!! ??? ... ,,,",),
    ]
    df = spark.createDataFrame(rows, "text string")
    got = df.select(
        quality_score(F.col("text")).alias("q"),
        lang_id(F.col("text")).alias("l"),
    ).collect()
    want = df.select(
        naive_quality(F.col("text")).alias("q"),
        naive_lang(F.col("text")).alias("l"),
    ).collect()
    assert [(r.q, r.l) for r in got] == [(r.q, r.l) for r in want]

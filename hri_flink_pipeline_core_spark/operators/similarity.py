"""Similarity search over embedding columns (array<float>).

Two tiers, as a 100-TB ANN pipeline needs:

- **Brute-force cosine top-k** — the exact baseline. Queries broadcast
  (small side), corpus streamed; the cross product never shuffles the
  corpus, and per-pair math is a single fold expression inside codegen.
  Exact-but-O(Q*N): right whenever Q*N pairs fit the cluster, and the
  recall oracle for everything below.
- **Random-hyperplane LSH** — the scale path. Per-row signature (sign
  bits of dot(v, h_j)), bucket on the signature, search only inside the
  bucket. One shuffle on bucket key; recall/probe tradeoff via fewer
  signature bits or multi-probe.
- **IVF-style coarse quantization** — centroids from a groupBy avg (here
  the provided ``label`` plays the coarse cluster id), query probes the
  nearest centroid(s), then exact-searches just those partitions.

Float discipline: all dot/norm folds are `aggregate` left-folds over
`cast(x as double)` — bit-identical to DuckDB's `list_reduce` (verified),
so cosine values need no rounding for oracle comparison.

Hyperplane constants are seeded pseudo-random and embedded verbatim in
the oracle SQL.
"""

from __future__ import annotations

import random

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .cache import checkpoint_small
from .relational import top_k_per_key

_SEED = 1337
DEFAULT_DIM = 64
DEFAULT_PLANES = 8
# ann_topk_blas driver-collect guard: queries above this are a misuse of
# the broadcast-queries operator, not a scale knob to raise blindly.
MAX_BLAS_QUERIES = 100_000


def _qi(name: str) -> str:
    """Backtick-quote an identifier for SQL-string builders, so a
    reserved word or odd character parses as a column reference, never
    as an expression — the same guard bucket_pairs applies (ADVICE r8;
    extended to the hyperplane builders by the round-9 review)."""
    if "`" in name:
        raise ValueError(f"illegal backtick in column name: {name!r}")
    return f"`{name}`"


def dot(a: Column, b: Column) -> Column:
    """Left-fold dot product in double (index order, codegen'd)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0).cast("double"),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0).cast("double"),
            lambda acc, v: acc + v,
        )
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


# --------------------------------------------------------------------------
# literal model state (round 6)
#
# k-bounded model tables (k-means centroids, IVF coarse centroids, PQ
# codebooks) are collected to the driver and injected into the plan as
# LITERAL array expressions instead of broadcast-join sides. This is how
# Spark MLlib's KMeans itself iterates (cluster centers are collected and
# re-broadcast every Lloyd round) — the model is k x dim doubles and fits
# the driver BY CONSTRUCTION, same contract class as MAX_BLAS_QUERIES.
#
# Why: in the job-floor regime each broadcast-join + per-key top-k window
# against a 10-row model table costs a broadcast-build job, a window
# shuffle and an AQE stage; as a literal expression the nearest-centroid
# argmax is a per-row projection — no join, no shuffle, no extra job. At
# 100 TB the corpus side is untouched (still never shuffles); only the
# k-row model moves through the driver, exactly as in MLlib.
#
# Bit-exactness: the literal SQL reproduces dot()/norm()'s left-fold
# double ops verbatim (same zip_with/aggregate shape, same cast order),
# doubles round-trip through repr() (shortest-round-trip string -> same
# IEEE bits on parse), and tie-breaks keep the struct(-label) ordering.
#
# Budget: LITERAL_MODEL_MAX_CELLS caps label_count x dim. Above it (an
# IVF nlist of tens of thousands), literal plans would bloat the parsed
# expression tree, so every caller falls back to the broadcast-join
# path — the operators keep both shapes.
# --------------------------------------------------------------------------

LITERAL_MODEL_MAX_CELLS = 32_768

# Separate, MEASURED budget for the centroid-argmax family
# (nearest_label_col / probe_labels_col consumers: kmeans_lloyd,
# ann_ivf_probe/multiprobe, semdedup's assignment): the literal
# struct-array argmax is k x dim multiply-adds per ROW plus a
# k x dim-term expression to parse/codegen per ASSIGNMENT, and the
# paired sweep (ab_kmeans.py, sf0.1, 2 Lloyd rounds, fresh JVM per
# mode, per-k min of 2x2 rounds) put the literal-vs-broadcast-join
# crossover between k=32 and k=64 at dim 64: literal 1.33/1.55/2.19 s
# vs join 1.72/1.91/2.32 s at k=10/16/32, but 3.65/5.02 s vs
# 3.26/4.29 s at k=64/100 — the giant expression falls out of
# efficient codegen well before the old 32k-cell cap (VERDICT r9 #3:
# the sf~1 kmeans ran 38.7 s through a 6,400-cell literal plan the
# join shape beats). 2,048 keeps every measured-literal-winning size
# and routes k>=64 x 64-dim models to the join path. PQ codebooks
# keep LITERAL_MODEL_MAX_CELLS: their literal form is a per-subspace
# LOOKUP array (256 small entries, no argmax over wide dots), a
# different cost shape that has never measured join-worthy.
LITERAL_CENTROID_MAX_CELLS = 2_048


def _lit_d(v: float) -> str:
    """Exact double literal: repr() is the shortest round-trip string,
    and SQL string->double parse is correctly rounded, so the engine
    sees the identical IEEE bits."""
    return f"cast('{float(v)!r}' as double)"


def _lit_vec(vals) -> str:
    return "array(" + ",".join(_lit_d(v) for v in vals) + ")"


def _dot_lit_sql(vec_col: str, vals) -> str:
    """SQL reproducing dot(col, lit) exactly: the same
    ``aggregate(zip_with(…))`` higher-order left fold as dot(), with the
    model row as a literal array.

    Round 11 shipped an unrolled left-chained sum here instead; round 12
    measured it slower at every remaining call site (sf0.1 ann_pq_adc
    3.93 s vs 0.99 s fold, kmeans_refine 3.17 vs 1.14; sf~1 rerank 8.19
    vs 6.59 — the 640–2,048-cell stacked expressions bloat the task
    binaries and fall out of JIT), and the unroll was removed."""
    if not vals:
        # ADVICE r11: the fold form's empty array() literal is untyped;
        # an empty dot IS the constant 0.0, so render that directly.
        return "cast(0.0 as double)"
    return (
        f"aggregate(zip_with({vec_col}, {_lit_vec(vals)}, "
        f"(x, y) -> cast(x as double) * cast(y as double)), "
        f"cast(0.0 as double), (acc, v) -> acc + v)"
    )


def _dot_cols_sql(a_col: str, b_col: str, width: int) -> str:
    """SQL reproducing dot(col_a, col_b) exactly for a STATICALLY KNOWN
    vector width — the column-column sibling of _dot_lit_sql (round 12).

    The HOF fold ``aggregate(zip_with(...))`` is a CodegenFallback
    expression: every evaluation is interpreted, and the hot join paths
    (pq_encode's N x k subspace dots, ann_recall's Q x N exact leg,
    kmeans assignment's N x k dots) pay it per pair. An unrolled
    left-chained sum of ``cast(try_element_at(a,i) as double) *
    cast(try_element_at(b,i) as double)`` terms is bit-identical (same
    float->double cast on each side, same left-to-right IEEE addition
    from the 0.0 seed, same NULL poisoning: a NULL element or a
    too-short array yields NULL under both forms) but runs in
    whole-stage codegen. The one documented divergence: an array LONGER
    than ``width`` folds extra terms under zip_with but is truncated
    here — every call site passes the schema-contract width (PQ_SUBDIM /
    DEFAULT_DIM) of equal-width vectors.
    """
    if width <= 0:
        return "cast(0.0 as double)"
    terms = " + ".join(
        f"cast(try_element_at({a_col}, {i}) as double)"
        f" * cast(try_element_at({b_col}, {i}) as double)"
        for i in range(1, width + 1)
    )
    return f"(cast(0.0 as double) + {terms})"


# Column-column unroll width cap, MEASURED at sf~1 (round 12): the
# 16-term PQ-subspace unroll is the 2.57x->1.18x / 2.80x->1.17x win
# (ann_pq_adc / ann_pq_rerank), but the SAME transform at the 64-term
# full-embedding width REGRESSED kmeans_refine 2.2x->5.3x and
# ann_recall to 5.2x (Spark 65 s): 64 try_element_at pairs x k
# centroids per generated function blows the JIT's 8 KB bytecode
# budget, so the split codegen runs interpreted and loses to the HOF
# fold it replaced. Literal dots (_dot_lit_sql) don't hit this — one
# side folds to constants, halving the term cost — hence their
# separate, larger measured budget.
COL_DOT_UNROLL_MAX = 16


def dot_w(a_name: str, b_name: str, width: int) -> Column:
    """dot() between two array COLUMNS (by name) of known width —
    unrolled into whole-stage codegen when width <= COL_DOT_UNROLL_MAX,
    else the HOF fold (wide unrolls are a measured regression, see the
    cap's note)."""
    if width > COL_DOT_UNROLL_MAX:
        return dot(F.col(a_name), F.col(b_name))
    return F.expr(_dot_cols_sql(_qi(a_name), _qi(b_name), width))


def _py_norm(vals) -> float:
    """Python replica of norm(): left-fold sum of squares then sqrt.
    Python floats ARE IEEE doubles and math.sqrt is correctly rounded,
    so this equals the JVM fold bit-for-bit."""
    import math

    acc = 0.0
    for x in vals:
        acc = acc + float(x) * float(x)
    return math.sqrt(acc)


def _collect_model(df: DataFrame):
    """Driver-side collect of a KILOBYTE model table — the one seam
    every literal-model build goes through.

    Through round 6 this disabled AQE for the action (AQE's staged
    execution turned a tiny two-stage agg into 2-3 scheduler jobs).
    Round 7 re-measured under the advisory-sized coalescing
    (session.py): the plain AQE collect is FASTER (0.27 s vs 0.33 s on
    the centroid build at sf0.1) because the coalesced single-task
    reduce stages cost less than the 32-task no-AQE shuffles the flag
    fell back to — so this is now a plain collect, renamed to match."""
    return df.collect()


def collect_model_rows(
    df: DataFrame,
    label_col: str = "label",
    vec_col: str = "centroid",
    max_cells: int = LITERAL_MODEL_MAX_CELLS,
):
    """Collect a k-bounded (label, vector) model table for literal
    plans; returns None when it exceeds the literal budget (callers
    fall back to the broadcast-join shape). One Spark job."""
    rows = _collect_model(df.select(label_col, vec_col))
    cells = sum(len(r[1]) for r in rows)
    if not rows or cells > max_cells:
        return None
    return sorted((int(r[0]), [float(x) for x in r[1]]) for r in rows)


def _cos_struct_entries(vec_col: str, norm_col: str, cents) -> list[str]:
    """One ``named_struct(s: cosine, nl: -label)`` per literal centroid;
    ordering these structs reproduces top_k_per_key's struct(cos, -label)
    ordering (ties -> smallest label)."""
    entries = []
    for lbl, vec in cents:
        cos = (
            f"({_dot_lit_sql(vec_col, vec)} / "
            f"({norm_col} * {_lit_d(_py_norm(vec))}))"
        )
        entries.append(f"named_struct('s', {cos}, 'nl', {-int(lbl)}L)")
    return entries


def nearest_label_col(vec_col: str, norm_col: str, cents) -> Column:
    """Nearest-centroid label (cosine, ties -> smallest label) as a pure
    per-row projection over literal centroids.

    Round 12: ``greatest(s_0, …, s_{k-1})`` over flat named_structs
    instead of ``array_max(array(…))``. The array form ALLOCATES a
    k-element struct array per row before reducing it — at k=100 that
    per-row allocation is what made the 6,400-cell literal plan fall
    behind the join (the r9 38.7 s row that set the 2,048-cell budget).
    greatest is variadic, allocation-free, and codegen splits its
    comparison chain into JIT-sized methods. It orders the structs
    lexicographically, (cosine, -label) — ties -> smallest label — and
    skips NULL entries."""
    entries = _cos_struct_entries(vec_col, norm_col, cents)
    if len(entries) == 1:
        return F.expr(f"cast(-({entries[0]}).nl as int)")
    return F.expr(f"cast(-greatest({','.join(entries)}).nl as int)")


def probe_labels_col(
    vec_col: str, norm_col: str, cents, nprobe: int
) -> Column:
    """Top-``nprobe`` centroid labels by cosine (desc, ties -> smallest
    label), as array<int> — the literal-plan IVF probe selection."""
    arr = "array(" + ",".join(_cos_struct_entries(vec_col, norm_col, cents)) + ")"
    return F.expr(
        f"transform(slice(reverse(array_sort({arr})), 1, {nprobe}), "
        f"s -> cast(-s.nl as int))"
    )


def ann_topk_bruteforce(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    query_id: str = "vec_id",
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors per query (self-match excluded).
    Queries are broadcast; corpus is scanned once, never shuffled until
    the final per-query top-k (tiny)."""
    # Norms are computed once per side BEFORE the join — O(Q+N) folds
    # instead of O(Q*N); only the dot product runs per pair.
    q = queries.select(
        F.col(query_id).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        norm(F.col(vec_col)).alias("q_norm"),
    )
    c = corpus.select(
        F.col(corpus_id).alias("neighbor_id"),
        F.col(vec_col).alias("c_vec"),
        norm(F.col(vec_col)).alias("c_norm"),
    )
    pairs = c.crossJoin(F.broadcast(q)).filter(
        F.col("query_id") != F.col("neighbor_id")
    )
    scored = pairs.select(
        "query_id",
        "neighbor_id",
        (dot(F.col("q_vec"), F.col("c_vec")) / (F.col("q_norm") * F.col("c_norm"))).alias(
            "cosine"
        ),
    )
    return top_k_per_key(
        scored,
        ["query_id"],
        F.struct(F.col("cosine"), F.col("neighbor_id")),
        k,
    )


def cosine_neardup_pairs(
    df: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str | None = None,
) -> DataFrame:
    """Embedding near-duplicate pairs: cosine >= threshold. Optional
    blocking column bounds the pair blow-up (at scale, block = LSH bucket
    from hyperplane_signature; at test scale, brute force)."""
    a = df.select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("vec_a"),
        norm(F.col(vec_col)).alias("norm_a"),
        *([F.col(block_col)] if block_col else []),
    )
    b = df.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("vec_b"),
        norm(F.col(vec_col)).alias("norm_b"),
        *([F.col(block_col)] if block_col else []),
    )
    joined = a.join(b, on=[block_col] if block_col else None, how="inner") if block_col else a.crossJoin(b)
    return (
        joined.filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            (dot(F.col("vec_a"), F.col("vec_b")) / (F.col("norm_a") * F.col("norm_b"))).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def hyperplane_constants(
    dim: int = DEFAULT_DIM, planes: int = DEFAULT_PLANES, seed: int = _SEED
) -> list[list[float]]:
    """Seeded pseudo-random hyperplanes, embedded verbatim in oracle SQL.
    Components are +/-1 quantized so dot-product sign is robust and the
    SQL literal stays small."""
    rng = random.Random(seed)
    return [
        [1.0 if rng.random() < 0.5 else -1.0 for _ in range(dim)]
        for _ in range(planes)
    ]


HYPERPLANES = hyperplane_constants()


def hyperplane_signature(vec: Column, planes: list[list[float]] | None = None) -> Column:
    """LSH bucket id: integer whose bit j = sign(dot(vec, plane_j)).
    Pure per-row expressions; at scale this is the shuffle key that
    replaces the N^2 cross join."""
    planes = planes or HYPERPLANES
    acc = F.lit(0).cast("bigint")
    for j, plane in enumerate(planes):
        d = F.aggregate(
            F.zip_with(
                vec,
                F.array(*[F.lit(w) for w in plane]),
                lambda x, w: x.cast("double") * w,
            ),
            F.lit(0.0).cast("double"),
            lambda a, v: a + v,
        )
        acc = acc + F.when(d > 0, F.lit(2**j).cast("bigint")).otherwise(F.lit(0).cast("bigint"))
    return acc


def hyperplane_bucket_sql(vec_col: str, planes: list[list[float]] | None = None) -> str:
    """The hyperplane-LSH bucket as ONE in-row SQL expression: per
    plane, a codegen'd left-chained sum of CAST(get(vec, i) AS DOUBLE)
    * w_i (the planes are literal constants, so the dot is 512
    multiply-adds in whole-stage codegen — no posexplode, no groupBy,
    no join anywhere). Left-chained ``+`` evaluates in index order,
    bit-identical to the DuckDB oracle's matching per-term-COALESCE
    chain (plans/oracles.py hyperplane_sig_sql — mirrored in round 10
    so both engines agree on degenerate vectors too) AND to the former
    explode->sum form this replaces (round 9: that shape paid a 64x
    row blow-up, an id-keyed aggregate shuffle and an id join PER
    CONSUMER — all deleted; bucket assignment is now a scan-side
    projection, the same literal-model pattern as nearest_label_col).
    Built as a SQL string: one F.expr parse instead of ~512 per-Column
    py4j round trips (the round-8 construction rule).

    Null semantics match the explode->sum form this replaced: a vector
    shorter than the plane (or with a null element) contributes its
    PRESENT terms to the dot — a bare chained ``+`` would let one NULL
    poison the whole plane sum and silently route the row to bucket 0
    (round-9 review finding). The per-term COALESCE measured FLAT on
    the bucket-histogram consumer (0.50 vs 0.51 s paired) — the null
    check rides the same codegen multiply-add; a fast-path variant
    (``COALESCE(<bare chain>, <guarded chain>)`` per plane) was tried
    and REJECTED: doubling the expression to 1024 terms/plane fell out
    of efficient codegen and ran ~2x slower on BOTH consumers (paired
    rounds 5-6, BASELINE.md). Degenerate rows (null/empty vector) are
    the CALLER's contract: filter with ``nonempty_vec_sql`` first, as
    the old inner join to the exploded signature table did
    implicitly."""
    planes = planes or HYPERPLANES
    qv = _qi(vec_col)
    parts = []
    for j, plane in enumerate(planes):
        terms = " + ".join(
            f"COALESCE(CAST(get({qv}, {i}) AS DOUBLE) * {w!r}D, 0D)"
            for i, w in enumerate(plane)
        )
        parts.append(
            f"(CASE WHEN ({terms}) > 0 THEN CAST({2**j} AS BIGINT)"
            f" ELSE CAST(0 AS BIGINT) END)"
        )
    return "(" + " + ".join(parts) + ")"


def nonempty_vec_sql(vec_col: str) -> str:
    """WHERE-clause restoring the old signature-join row drop: rows
    whose vector is NULL or empty produced no exploded signature rows
    and vanished from every hyperplane consumer; the in-row bucket
    projection keeps every input row, so callers filter explicitly."""
    qv = _qi(vec_col)
    return f"{qv} IS NOT NULL AND size({qv}) > 0"


def hyperplane_signatures(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    planes: list[list[float]] | None = None,
) -> DataFrame:
    """(id, bucket) — scan-side projection of ``hyperplane_bucket_sql``;
    kept for callers that want the skinny signature table shape.
    Degenerate rows (null/empty vector) are dropped, matching the
    former explode->agg->join shape, where they produced no signature
    rows at all."""
    return df.where(nonempty_vec_sql(vec_col)).selectExpr(
        f"{_qi(id_col)} AS id",
        f"{hyperplane_bucket_sql(vec_col, planes)} AS bucket",
    )


def lsh_bucket_counts(
    df: DataFrame, vec_col: str = "embedding", id_col: str = "vec_id"
) -> DataFrame:
    """Bucket histogram for the hyperplane signature — the observable
    used to verify the LSH stage against the oracle."""
    return (
        hyperplane_signatures(df, vec_col, id_col)
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def cosine_neardup_lsh(
    df: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding near-dup pairs restricted to the same hyperplane-LSH
    bucket — the scale path: the all-pairs cross join becomes an
    equi-join on the bucket key (one shuffle, pair count bounded by
    bucket occupancy). Recall tradeoff: cross-bucket near-dups are
    missed; add multi-probe (fewer signature bits) to raise recall."""
    # Bucket is an in-row codegen projection (round 9,
    # hyperplane_bucket_sql) — no signature join at all; each pair-join
    # side recomputes the 512-flop bucket off its own scan, which beats
    # both the former explode->agg->join signature build and a persist
    # populate barrier (the round-7 measurement that rejected persist
    # applies a fortiori to a plain projection).
    with_bucket = df.where(nonempty_vec_sql(vec_col)).withColumn(
        "bucket", F.expr(hyperplane_bucket_sql(vec_col))
    )
    return cosine_neardup_pairs(
        with_bucket, threshold=threshold, id_col=id_col, vec_col=vec_col,
        block_col="bucket",
    )


def ann_topk_blas(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    query_id: str = "vec_id",
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Vectorized brute-force top-k: the query matrix is collected and
    broadcast (Q x dim floats — small side by definition), and each
    corpus partition computes cosine blocks with one numpy matmul inside
    ``mapInPandas`` (Arrow-batched, BLAS-backed — orders of magnitude
    more FLOP/s than per-pair expression folds). Per-partition partial
    top-k shrinks the shuffle to O(Q x k x partitions) rows before the
    global top-k.

    Float caveat: BLAS accumulates in a different order than the exact
    left-fold in ``ann_topk_bruteforce``, so cosines differ in the last
    ulp — ranking is identical except for exact ties. Use the fold
    version when bit-exact cross-engine comparison matters.

    The query side must be genuinely small — it is collected to the
    driver and broadcast. The contract is ENFORCED, not assumed: above
    ``MAX_BLAS_QUERIES`` rows the collect refuses with a pointer at the
    bucketed paths, instead of silently degrading the driver.
    """
    import numpy as np
    import pandas as pd

    # Guard without a separate count() job: collect at most cap+1 rows
    # in the same single job — driver memory stays bounded either way,
    # and the query-side lineage executes once, not twice.
    q_rows = (
        queries.select(query_id, vec_col).limit(MAX_BLAS_QUERIES + 1).collect()
    )
    if len(q_rows) > MAX_BLAS_QUERIES:
        raise ValueError(
            f"ann_topk_blas collected query side exceeds "
            f"{MAX_BLAS_QUERIES} rows: this operator broadcasts the "
            "query matrix and is meant for small query sets. For large "
            "query sets use ann_ivf_probe / lsh_bucket variants "
            "(bucketed, no driver collect)."
        )
    q_ids = np.array([r[0] for r in q_rows])
    q_mat = np.array([r[1] for r in q_rows], dtype=np.float64)
    q_norm = np.linalg.norm(q_mat, axis=1)
    spark = queries.sparkSession
    b_ids = spark.sparkContext.broadcast(q_ids)
    b_mat = spark.sparkContext.broadcast(q_mat)
    b_norm = spark.sparkContext.broadcast(q_norm)

    def run(batches):
        for pdf in batches:
            ids = pdf[corpus_id].to_numpy()
            c_mat = np.array(list(pdf[vec_col]), dtype=np.float64)
            if len(c_mat) == 0:
                continue
            c_norm = np.linalg.norm(c_mat, axis=1)
            sims = (b_mat.value @ c_mat.T) / np.outer(b_norm.value, c_norm)
            out_q, out_n, out_c = [], [], []
            for qi in range(sims.shape[0]):
                row = sims[qi]
                mask = ids != b_ids.value[qi]  # exclude self-match
                cand_idx = np.nonzero(mask)[0]
                if len(cand_idx) == 0:
                    continue
                top = cand_idx[np.argsort(-row[cand_idx], kind="stable")[:k]]
                out_q.extend([b_ids.value[qi]] * len(top))
                out_n.extend(ids[top])
                out_c.extend(row[top])
            yield pd.DataFrame(
                {"query_id": out_q, "neighbor_id": out_n, "cosine": out_c}
            )

    partials = corpus.select(corpus_id, vec_col).mapInPandas(
        run, schema="query_id long, neighbor_id long, cosine double"
    )
    return top_k_per_key(
        partials, ["query_id"], F.struct(F.col("cosine"), F.col("neighbor_id")), k
    )


def ann_ivf_probe(
    queries: DataFrame,
    corpus: DataFrame,
    centroids: DataFrame,
    k: int = 5,
    query_id: str = "vec_id",
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    nprobe: int = 1,
) -> DataFrame:
    """IVF probe search: assign each query to its ``nprobe`` nearest
    centroids (cosine; ties -> smallest label), then exact-search ONLY
    the corpus rows of those clusters. The cross join shrinks from
    Q x N to Q x (nprobe x N / #clusters); the centroid table is tiny
    and broadcast twice (assignment + probe). ``nprobe`` is the
    standard recall/cost dial: neighbors in non-probed clusters are
    missed, and each +1 probe adds one cluster's worth of exact
    comparisons per query — cost stays linear in nprobe while recall
    approaches brute force (ann_recall / ann_recall_multiprobe measure
    exactly this tradeoff against the exact top-k)."""
    q = queries.select(
        F.col(query_id).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        norm(F.col(vec_col)).alias("q_norm"),
    )
    cents = collect_model_rows(
        centroids, label_col, "centroid",
        max_cells=LITERAL_CENTROID_MAX_CELLS,
    )
    if cents is not None:
        # literal probe selection (round 6): top-nprobe centroids per
        # query as a per-row projection — no centroid broadcast join,
        # no per-query top-k window; ties -> smallest label, identical
        # to the struct ordering below
        assigned = q.withColumn(
            "_pl", probe_labels_col("q_vec", "q_norm", cents, nprobe)
        ).select(
            "query_id",
            "q_vec",
            "q_norm",
            F.explode("_pl").alias("probe_label"),
        )
    else:
        cent = centroids.select(
            F.col(label_col).alias("_c_label"),
            F.col("centroid").alias("_c_vec"),
            norm(F.col("centroid")).alias("_c_norm"),
        )
        scored = q.crossJoin(F.broadcast(cent)).select(
            "query_id",
            "q_vec",
            "q_norm",
            "_c_label",
            (
                dot(F.col("q_vec"), F.col("_c_vec"))
                / (F.col("q_norm") * F.col("_c_norm"))
            ).alias("_c_cos"),
        )
        # nearest centroid(s); ties -> smallest label (deterministic)
        assigned = top_k_per_key(
            scored,
            ["query_id"],
            F.struct(F.col("_c_cos"), -F.col("_c_label")),
            nprobe,
        ).select(
            "query_id", "q_vec", "q_norm", F.col("_c_label").alias("probe_label")
        )

    c = corpus.select(
        F.col(corpus_id).alias("neighbor_id"),
        F.col(label_col).alias("probe_label"),
        F.col(vec_col).alias("c_vec"),
        norm(F.col(vec_col)).alias("c_norm"),
    )
    pairs = c.join(F.broadcast(assigned), "probe_label").filter(
        F.col("query_id") != F.col("neighbor_id")
    )
    probed = pairs.select(
        "query_id",
        "neighbor_id",
        (dot(F.col("q_vec"), F.col("c_vec")) / (F.col("q_norm") * F.col("c_norm"))).alias(
            "cosine"
        ),
    )
    return top_k_per_key(
        probed, ["query_id"], F.struct(F.col("cosine"), F.col("neighbor_id")), k
    )


def ann_pq_recall_report(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    shortlist: int = 20,
    query_id: str = "vec_id",
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    model_corpus: DataFrame | None = None,
) -> DataFrame:
    """Per-query recall of PQ shortlist+rerank against exact brute
    force, in ONE corpus pass (round 6 — the two-leg form ran the
    Q x N cross twice: once for exact top-k, once inside the ADC
    shortlist, then joined).

    Each (query, neighbor) pair carries BOTH scores: the exact cosine
    (brute-force leg) and the literal-codebook ADC approximation
    (element_at over the per-query LUT — same integer math as
    ann_pq_adc). Three ranks over one per-query partition reproduce
    the staged pipeline exactly: rank-by-approx defines the ADC
    shortlist, rank-by-exact-within-shortlist is the rerank, and
    rank-by-exact over everything is the truth set. Falls back to the
    composed two-leg operators when the codebooks exceed the literal
    budget.

    ``model_corpus`` (optional) is a possibly differently-partitioned
    view of the SAME rows used only for the codebook build: the build
    is a map-side-collapsing partial agg that gains nothing from a
    repartitioned scan, while the exact-cosine leg does — callers can
    pass the plain scan here and the spread one as ``corpus``."""
    books = collect_codebooks(
        pq_codebooks(
            corpus if model_corpus is None else model_corpus,
            label_col,
            vec_col,
        )
    )
    if books is None:
        bf = ann_topk_bruteforce(
            queries, corpus, k=k, query_id=query_id,
            corpus_id=corpus_id, vec_col=vec_col,
        ).select("query_id", "neighbor_id")
        pq = ann_pq_rerank(
            queries, corpus, k=k, shortlist=shortlist, query_id=query_id,
            corpus_id=corpus_id, vec_col=vec_col, label_col=label_col,
        ).select("query_id", "neighbor_id")
        hits = (
            bf.join(pq, ["query_id", "neighbor_id"])
            .groupBy("query_id")
            .agg(F.count(F.lit(1)).alias("n_hit"))
        )
        truth = bf.groupBy("query_id").agg(
            F.count(F.lit(1)).alias("n_true")
        )
        return truth.join(hits, "query_id", "left").select(
            "query_id",
            "n_true",
            F.coalesce(F.col("n_hit"), F.lit(0)).alias("n_hit"),
            (
                F.coalesce(F.col("n_hit"), F.lit(0)) / F.col("n_true")
            ).alias("recall"),
        )

    subs = sorted(books)
    ams = _pq_argmax_cols(vec_col, books)
    c = corpus.select(
        F.col(corpus_id).alias("neighbor_id"),
        F.col(vec_col).alias("c_vec"),
        norm(F.col(vec_col)).alias("c_norm"),
        *[ams[s].alias(f"_am{s}") for s in subs],
    ).select(
        "neighbor_id",
        "c_vec",
        "c_norm",
        *[F.expr(f"_am{s}.p").alias(f"_p{s}") for s in subs],
    )
    luts = []
    for s in subs:
        sv = f"slice({vec_col}, {s * PQ_SUBDIM + 1}, {PQ_SUBDIM})"
        parts = ",".join(_qdot_lit_sql(sv, w) for _code, w in books[s])
        luts.append(F.expr("array(" + parts + ")").alias(f"_l{s}"))
    q = queries.select(
        F.col(query_id).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        norm(F.col(vec_col)).alias("q_norm"),
        *luts,
    )
    total = " + ".join(f"element_at(_l{s}, _p{s})" for s in subs)
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            (
                dot(F.col("q_vec"), F.col("c_vec"))
                / (F.col("q_norm") * F.col("c_norm"))
            ).alias("cosine"),
            (F.expr(f"cast(({total}) as double)") / F.lit(_Q)).alias(
                "approx_dot"
            ),
        )
    )
    from pyspark.sql.window import Window

    # round 12 (opt round): the rerank rank is REDUNDANT — same
    # subset-rank argument as ann_recall_report. The rerank orders the
    # SHORTLIST by the exact struct, so a shortlisted row's rerank rank
    # is its exact-struct rank within a subset, which can never exceed
    # its exact rank over all rows: `_rn_ex <= k AND _short` already
    # implies `_rn_rr <= k` (one k for both legs in this function).
    # Dropping the third window removes one full sort of the Q x N
    # pair table from the plan (3 sorts -> 2; the two that remain are
    # irreducible: the truth and shortlist legs order by different
    # structs). Values identical; re-verified against the oracle.
    ex_struct = F.struct(F.col("cosine"), F.col("neighbor_id"))
    adc_struct = F.struct(F.col("approx_dot"), F.col("neighbor_id"))
    w_ex = Window.partitionBy("query_id").orderBy(ex_struct.desc())
    w_adc = Window.partitionBy("query_id").orderBy(adc_struct.desc())
    staged = scored.select(
        "query_id",
        F.row_number().over(w_ex).alias("_rn_ex"),
        (F.row_number().over(w_adc) <= shortlist).alias("_short"),
    )
    agg = staged.groupBy("query_id").agg(
        F.sum(F.when(F.col("_rn_ex") <= k, 1).otherwise(0)).alias("n_true"),
        F.sum(
            F.when((F.col("_rn_ex") <= k) & F.col("_short"), 1).otherwise(0)
        ).alias("n_hit"),
    )
    return agg.select(
        "query_id",
        "n_true",
        "n_hit",
        (F.col("n_hit") / F.col("n_true")).alias("recall"),
    )


#: Query-side cap for the vectorized recall leg: the query matrix is
#: collected and broadcast (like ann_topk_blas), and each Arrow batch
#: evaluates a (batch x Q) score block per dimension — fine for the
#: bounded query SAMPLES the recall reports use by contract (20 rows),
#: quadratic-ish beyond. Above the cap the SQL window form runs instead.
RECALL_VEC_MAX_QUERIES = 1024


def _py_dot(a, b) -> float:
    """Python replica of dot(): left-fold acc + a_d*b_d in index order.
    Python floats are IEEE doubles with correctly-rounded * and +, so
    this equals the JVM fold bit-for-bit (same contract as _py_norm)."""
    acc = 0.0
    for x, y in zip(a, b):
        acc = acc + float(x) * float(y)
    return acc


def _recall_report_vec(
    q_rows,
    corpus: DataFrame,
    cents,
    k: int,
    nprobe: int,
    corpus_id: str,
    vec_col: str,
    label_col: str,
) -> DataFrame:
    """Vectorized exact+probe scoring leg of ann_recall_report (round 12
    opt round, guide §4.2): the Q x N exact cosines were the report's
    hot loop, and at dim 64 they run through the INTERPRETED HOF fold
    (the 64-term codegen unroll is a measured regression — see
    COL_DOT_UNROLL_MAX). This leg scores each Arrow batch in numpy with
    the same per-dimension left-fold kmeans_assign_pandas ships
    (``acc += V[:, d] * q_d`` in ascending d — every element sees the
    identical IEEE-double op sequence as the JVM fold; norms use the
    same fold + correctly-rounded sqrt; the denominator multiplies
    q_norm * c_norm before one division, matching the SQL expression
    tree), then emits only each query's per-batch top-k by the exact
    struct(cosine, neighbor_id) desc comparator — a superset of the
    global top-k, so the downstream WindowGroupLimit window over
    Q x k x batches rows reproduces ann_topk_bruteforce's ranking
    bit-for-bit. Probe labels per query are computed driver-side with
    the same pure-Python folds probe_labels_col literalizes (ties ->
    smallest label). The corpus never shuffles; no Q x N rows
    materialize anywhere."""
    import numpy as np
    import pandas as pd

    spark = corpus.sparkSession
    q_ids = [r[0] for r in q_rows]
    q_vecs = [[float(x) for x in r[1]] for r in q_rows]
    q_norms = [_py_norm(v) for v in q_vecs]
    # probe_labels_col semantics: top-nprobe centroid labels by
    # (cosine desc, label asc); centroid norms via the same fold
    probes = []
    for qv, qn in zip(q_vecs, q_norms):
        scored_c = sorted(
            (
                (_py_dot(qv, cv) / (qn * _py_norm(cv)), -int(lbl))
                for lbl, cv in cents
            ),
            reverse=True,
        )
        probes.append({-nl for _s, nl in scored_c[:nprobe]})

    b_q = spark.sparkContext.broadcast(
        (
            np.array(q_ids),
            np.array(q_vecs, dtype=np.float64),
            np.array(q_norms, dtype=np.float64),
            probes,
        )
    )
    n_q = len(q_ids)
    kk = k

    def score(batches):
        ids_b, mat_b, norm_b, probes_b = b_q.value
        dim_b = mat_b.shape[1]
        for pdf in batches:
            if not len(pdf):
                continue
            cids = pdf[corpus_id].to_numpy()
            labels = pdf[label_col].to_numpy()
            V = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            n = len(V)
            dots = np.zeros((n, n_q))
            nacc = np.zeros(n)
            for d in range(dim_b):
                dots += V[:, d : d + 1] * mat_b[:, d][None, :]
                nacc = nacc + V[:, d] * V[:, d]
            c_norm = np.sqrt(nacc)
            out_q, out_n, out_c, out_p = [], [], [], []
            for qi in range(n_q):
                denom = norm_b[qi] * c_norm
                cos = dots[:, qi] / denom
                mask = cids != ids_b[qi]
                cand = np.nonzero(mask)[0]
                if len(cand) == 0:
                    continue
                # exact struct(cosine, neighbor_id) desc comparator:
                # lexsort ascending by (-cosine primary, -id secondary)
                order = np.lexsort((-cids[cand], -cos[cand]))
                top = cand[order[:kk]]
                out_q.extend([ids_b[qi]] * len(top))
                out_n.extend(cids[top])
                out_c.extend(cos[top])
                out_p.extend(bool(labels[t] in probes_b[qi]) for t in top)
            yield pd.DataFrame(
                {
                    "query_id": np.array(out_q, dtype=np.int64),
                    "neighbor_id": np.array(out_n, dtype=np.int64),
                    "cosine": np.array(out_c, dtype=np.float64),
                    "_in_probe": np.array(out_p, dtype=bool),
                }
            )

    partials = corpus.select(corpus_id, label_col, vec_col).mapInPandas(
        score,
        schema="query_id long, neighbor_id long, cosine double, _in_probe boolean",
    )
    from pyspark.sql.window import Window

    w_ex = Window.partitionBy("query_id").orderBy(
        F.struct(F.col("cosine"), F.col("neighbor_id")).desc()
    )
    ranked = partials.select(
        "query_id",
        "_in_probe",
        F.row_number().over(w_ex).alias("_rn_ex"),
    ).filter(F.col("_rn_ex") <= k)
    agg = ranked.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("n_true"),
        F.sum(F.when(F.col("_in_probe"), 1).otherwise(0)).alias("n_hit"),
    )
    return agg.select(
        "query_id",
        "n_true",
        "n_hit",
        (F.col("n_hit") / F.col("n_true")).alias("recall"),
    )


def ann_recall_report(
    queries: DataFrame,
    corpus: DataFrame,
    centroids: DataFrame,
    k: int = 5,
    nprobe: int = 1,
    query_id: str = "vec_id",
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    dim: int = DEFAULT_DIM,
) -> DataFrame:
    """Per-query recall of IVF-probe search against exact brute force,
    computed in ONE corpus pass (round 6 — the two-leg form ran the
    Q x N cross join twice and joined the top-k sets).

    Every (query, neighbor) pair needs the exact cosine for the
    brute-force leg anyway, and probe membership is a flag
    (``array_contains(probe_labels, neighbor_label)``), so both top-k
    sets derive from ONE ordering of the SAME per-query partition of
    the SAME scored pairs: the exact rank is ``row_number`` by
    struct(cosine, neighbor_id) desc (identical to top_k_per_key in
    ann_topk_bruteforce), and the probe rank — only ever consulted on
    in-probe rows — is the running count of in-probe rows under that
    same ordering, which for an in-probe row equals its rank within
    the probed subset, i.e. ann_ivf_probe's top-k (round 12: the
    two-ordering form planned two Window sorts of the Q x N table;
    this plans one). One scan, one broadcast cross join, one exchange,
    one sort, one aggregate; the values are identical to the two-leg
    form by construction.
    """
    # ONE model collect under the GENERAL driver budget (32k cells).
    # The vec leg consumes the rows as Python data, so the much smaller
    # LITERAL_CENTROID_MAX_CELLS budget — which guards SQL-literal
    # parse/codegen cost, not driver memory — does not apply to it;
    # the SQL fallback below keeps the literal-vs-join decision exactly
    # as before by re-checking the 2,048-cell argmax budget on the
    # already-collected rows (at sf~1 the 100-label x 64-dim table is
    # 6,400 cells: the r12-build code collapsed BOTH legs to the
    # broadcast-join probe path there, which is why ann_recall stayed
    # >2x at sf~1 while fine at sf0.1).
    model_rows = collect_model_rows(
        centroids, label_col, "centroid",
        max_cells=LITERAL_MODEL_MAX_CELLS,
    )
    cents = (
        model_rows
        if model_rows is not None
        and sum(len(v) for _, v in model_rows) <= LITERAL_CENTROID_MAX_CELLS
        else None
    )
    if model_rows is not None:
        # round 12 (opt round): vectorized Arrow leg — the query sample
        # is collected (bounded, like ann_topk_blas; cap enforced in the
        # same single job) and the exact Q x N cosines run as per-dim
        # numpy folds instead of the interpreted HOF dot per pair. Falls
        # through to the SQL window form above the cap or when the
        # centroid model exceeds the literal budget.
        q_rows = (
            queries.select(query_id, vec_col)
            .limit(RECALL_VEC_MAX_QUERIES + 1)
            .collect()
        )
        if q_rows and len(q_rows) <= RECALL_VEC_MAX_QUERIES:
            return _recall_report_vec(
                q_rows, corpus, model_rows, k, nprobe, corpus_id, vec_col,
                label_col,
            )

    q = queries.select(
        F.col(query_id).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        norm(F.col(vec_col)).alias("q_norm"),
    )
    if cents is not None:
        # literal probe selection — no centroid join, no top-k window
        qp = q.withColumn(
            "_pl", probe_labels_col("q_vec", "q_norm", cents, nprobe)
        )
    else:
        cent = centroids.select(
            F.col(label_col).alias("_c_label"),
            F.col("centroid").alias("_c_vec"),
            norm(F.col("centroid")).alias("_c_norm"),
        )
        scored_c = q.crossJoin(F.broadcast(cent)).select(
            "query_id",
            "_c_label",
            (
                dot(F.col("q_vec"), F.col("_c_vec"))
                / (F.col("q_norm") * F.col("_c_norm"))
            ).alias("_c_cos"),
        )
        lbls = (
            top_k_per_key(
                scored_c,
                ["query_id"],
                F.struct(F.col("_c_cos"), -F.col("_c_label")),
                nprobe,
            )
            .groupBy("query_id")
            .agg(F.collect_set("_c_label").alias("_pl"))
        )
        qp = q.join(lbls, "query_id")

    c = corpus.select(
        F.col(corpus_id).alias("neighbor_id"),
        F.col(label_col).alias("_n_label"),
        F.col(vec_col).alias("c_vec"),
        norm(F.col(vec_col)).alias("c_norm"),
    )
    pairs = c.crossJoin(F.broadcast(qp)).filter(
        F.col("query_id") != F.col("neighbor_id")
    )
    # round 12: the exact leg's Q x N dots are the report's hot loop —
    # unrolled codegen dot (dim is the schema-contract vector width)
    scored = pairs.select(
        "query_id",
        "neighbor_id",
        (
            dot_w("q_vec", "c_vec", dim)
            / (F.col("q_norm") * F.col("c_norm"))
        ).alias("cosine"),
        F.array_contains(F.col("_pl"), F.col("_n_label")).alias("_in_probe"),
    )
    from pyspark.sql.window import Window

    # round 12 (opt round): the probe rank is REDUNDANT, not merely
    # fusable. The r11/r12 form kept a running count of in-probe rows
    # (`_rn_pr`, the probe-subset rank) and required `_rn_pr <= k` in
    # the hit predicate — but a subset rank can never exceed the rank
    # over the whole set: an in-probe row with exact rank <= k has
    # probe rank <= its exact rank <= k, so `_rn_pr <= k` is implied by
    # `_rn_ex <= k AND _in_probe` whenever the probe leg's k equals the
    # truth leg's k (this function always uses one k for both). Dropping
    # it leaves a pure row_number-+-filter window, which Spark 3.5+/4.x
    # rewrites with WindowGroupLimit: a PARTIAL per-partition top-k
    # runs below the exchange, so the shuffle and the final sort carry
    # Q x k rows instead of the whole Q x N pair table (the plan-before
    # artifact shows Exchange+Sort over Q x N; the plan-after shows
    # WindowGroupLimit(Partial) under the exchange). Values are
    # identical by the subset-rank argument; re-verified against the
    # DuckDB oracle at sf0.01.
    order_struct = F.struct(F.col("cosine"), F.col("neighbor_id"))
    w_ex = Window.partitionBy("query_id").orderBy(order_struct.desc())
    ranked = scored.select(
        "query_id",
        "_in_probe",
        F.row_number().over(w_ex).alias("_rn_ex"),
    ).filter(F.col("_rn_ex") <= k)
    agg = ranked.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("n_true"),
        F.sum(F.when(F.col("_in_probe"), 1).otherwise(0)).alias("n_hit"),
    )
    return agg.select(
        "query_id",
        "n_true",
        "n_hit",
        (F.col("n_hit") / F.col("n_true")).alias("recall"),
    )


def ann_sq_recall_report(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    query_id: str = "vec_id",
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-query recall of int8-SQ top-k against exact float top-k in
    ONE corpus pass (round 10 — the same fusion ann_recall_report got
    in round 6: the two-leg form ran the Q x N broadcast cross join
    TWICE, once per scoring, then joined the top-k sets).

    Every pair needs both scores anyway (the exact cosine for the
    truth leg, the quantized integer dot for the SQ leg), so both
    top-k sets are two ``row_number`` ranks over the SAME per-query
    partition of the SAME pair table: the exact rank orders by
    struct(cosine, neighbor_id) desc (identical to top_k_per_key in
    ann_topk_bruteforce) and the SQ rank by struct(score_int,
    neighbor_id) desc (identical to ann_topk_sq). n_hit counts rows in
    BOTH top-k sets, so the values equal the two-leg join by
    construction (pinned in test_similarity_ops). One scan, one
    broadcast cross join, one exchange, one aggregate. Like
    ann_recall_report, the query side is a bounded SAMPLE by contract
    — the Q x N pair table shuffles once into per-query partitions."""
    from pyspark.sql.window import Window

    q = queries.select(
        F.col(query_id).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        norm(F.col(vec_col)).alias("q_norm"),
        sq_quantize(F.col(vec_col)).alias("q_q"),
    )
    c = corpus.select(
        F.col(corpus_id).alias("neighbor_id"),
        F.col(vec_col).alias("c_vec"),
        norm(F.col(vec_col)).alias("c_norm"),
        sq_quantize(F.col(vec_col)).alias("c_q"),
    )
    pairs = c.crossJoin(F.broadcast(q)).filter(
        F.col("query_id") != F.col("neighbor_id")
    )
    scored = pairs.select(
        "query_id",
        "neighbor_id",
        (
            dot(F.col("q_vec"), F.col("c_vec"))
            / (F.col("q_norm") * F.col("c_norm"))
        ).alias("cosine"),
        F.aggregate(
            F.zip_with(F.col("q_q"), F.col("c_q"), lambda a, b: a * b),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("score_int"),
    )
    w_ex = Window.partitionBy("query_id").orderBy(
        F.struct(F.col("cosine"), F.col("neighbor_id")).desc()
    )
    w_sq = Window.partitionBy("query_id").orderBy(
        F.struct(F.col("score_int"), F.col("neighbor_id")).desc()
    )
    ranked = scored.select(
        "query_id",
        F.row_number().over(w_ex).alias("_rn_ex"),
        F.row_number().over(w_sq).alias("_rn_sq"),
    )
    agg = ranked.groupBy("query_id").agg(
        F.sum(F.when(F.col("_rn_ex") <= k, 1).otherwise(0)).alias("n_true"),
        F.sum(
            F.when((F.col("_rn_ex") <= k) & (F.col("_rn_sq") <= k), 1)
            .otherwise(0)
        ).alias("n_hit"),
    )
    return agg.select(
        "query_id",
        "n_true",
        "n_hit",
        (F.col("n_hit") / F.col("n_true")).alias("recall"),
    )


#: exact double literals for SQL strings (scientific literals can parse
#: as DECIMAL depending on legacy confs; CAST is unambiguous)
_D1E10 = "cast(10000000000 as double)"
_DHALF = "cast(0.5 as double)"


def _centroid_means(
    df: DataFrame, group_cols: list, vec_col: str, scalar_mean_sql: str
) -> DataFrame:
    """Element-wise vector means via posexplode + (group, pos) partial
    aggregation (the round-5 shape, reinstated round 6 after a
    controlled A/B).

    A round-6 experiment replaced this with DIM column-wise decimal
    aggregates in one groupBy ("one shuffle of |groups| wide rows").
    Measured at sf0.1, that shape is ~2x SLOWER (0.87 s vs 0.40 s on
    the embeddings build): 64 decimal aggregate buffers updated per
    input row in one generated loop JIT poorly, while the explode shape
    streams skinny rows through a single decimal buffer per (group,
    pos) hash slot. And the explode shape was never a scale problem:
    posexplode is map-side (no shuffle), the (group, pos) HashAggregate
    collapses PARTIALLY MAP-SIDE to |groups| x dim rows per partition,
    so the shuffle carries partitions x |groups| x dim skinny rows —
    model-sized, not data-sized — at any corpus size. ``scalar_mean_sql``
    aggregates the exploded scalar column ``_sc`` (decimal-exact forms
    below keep cross-engine bit parity)."""
    ex = df.select(
        *group_cols, F.posexplode(F.col(vec_col)).alias("_pos", "_sc")
    )
    per = ex.groupBy(*group_cols, "_pos").agg(
        F.expr(scalar_mean_sql).alias("_m")
    )
    return per.groupBy(*group_cols).agg(
        F.expr(
            "transform(array_sort(collect_list(struct(_pos, _m))),"
            " x -> x._m)"
        ).alias("centroid")
    )


def quantized_mean_sql() -> str:
    """Quantized-mean SQL over the exploded scalar ``_sc``: half-up
    quantization at 1e-10 — floor(x*1e10+0.5) is the same IEEE op in
    Spark and DuckDB (decimal casts would tie-break differently).
    DECIMAL(38,0) accumulation: the per-row quantized magnitude is
    ~1e10, so a plain BIGINT sum would wrap at ~1e9 members per
    cluster — real at 100 TB; the decimal cost collapses with the
    map-side partial agg."""
    return (
        f"cast(sum(cast(floor(cast(_sc as double)*{_D1E10}"
        f"+{_DHALF}) as decimal(38,0))) as double)/{_D1E10}/count(1)"
    )


def ivf_centroids(
    df: DataFrame, label_col: str = "label", vec_col: str = "embedding", dim: int = DEFAULT_DIM
) -> DataFrame:
    """IVF coarse centroids: element-wise mean per cluster label.

    Decimal-exact accumulation per dimension (``_centroid_means``), so
    the centroid doubles are identical cross-engine. The shuffle is
    model-sized (|labels| x dim partial rows per partition) at any
    corpus size — at 100 TB you'd sample instead; the operator shape
    is the same."""
    return _centroid_means(
        df.select(F.col(label_col).alias("label"), vec_col),
        ["label"],
        vec_col,
        "cast(sum(cast(_sc as decimal(28,10))) as double)/count(1)",
    )


def kmeans_assign(
    df: DataFrame,
    centroids: DataFrame,
    vec_id: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = DEFAULT_DIM,
) -> DataFrame:
    """Lloyd assignment step: nearest centroid by cosine (ties -> smallest
    label). Centroids are tiny (k rows) -> broadcast cross join; the
    corpus never shuffles. Returns (vec_id, cluster, _vec).

    Round 12: the N x k dots run as the unrolled codegen dot (dim is
    the schema-contract width) instead of the interpreted HOF fold, and
    the k=1 argmax is a map-side-combining ``max(struct)`` aggregate
    (the pq_encode round-11 pattern): the N x k scored stream collapses
    to N rows before the exchange and no per-key sort runs. The max
    struct's leading fields reproduce top_k_per_key's
    struct(_cos, -_c_label) order exactly (highest cosine, ties ->
    smallest label); _c_label/_vec ride along and never decide the max
    (the -label field is unique per vector)."""
    cent = centroids.select(
        F.col("label").alias("_c_label"),
        F.col("centroid").alias("_c_vec"),
        norm(F.col("centroid")).alias("_c_norm"),
    )
    v = df.select(
        F.col(vec_id).alias("vec_id"),
        F.col(vec_col).alias("_vec"),
        norm(F.col(vec_col)).alias("_nrm"),
    )
    scored = v.crossJoin(F.broadcast(cent)).select(
        "vec_id",
        "_vec",
        "_c_label",
        (dot_w("_vec", "_c_vec", dim) / (F.col("_nrm") * F.col("_c_norm"))).alias(
            "_cos"
        ),
    )
    best = scored.groupBy("vec_id").agg(
        F.max(
            F.struct(
                F.col("_cos"),
                (-F.col("_c_label")).alias("_nl"),
                F.col("_c_label").alias("_l"),
                F.col("_vec").alias("_v"),
            )
        ).alias("_m")
    )
    return best.select(
        "vec_id", F.col("_m._l").alias("cluster"), F.col("_m._v").alias("_vec")
    )


def kmeans_assign_pandas(
    base: DataFrame, cents, vec_id: str = "vec_id", vec_col: str = "_vec"
) -> DataFrame:
    """Lloyd assignment over a COLLECTED centroid model as an
    Arrow-batched ``mapInPandas`` projection (round 12) — the mid-k
    regime where both JVM shapes lose: the literal expression is
    compile-bound (a k x dim greatest chain re-parses ~10 MB of plan
    every Lloyd round — measured 9.7 MiB task binaries at k=100) and
    the broadcast join pays an N x k row explosion through an
    interpreted HOF dot per pair (the sf~1 32 s). Here the corpus never
    shuffles, no N x k rows materialize, and the dots vectorize across
    the batch in numpy.

    BIT-EXACT by fold order, not by accident: the JVM dot is a
    left-fold ``acc = acc + (double)x_d * (double)y_d`` over dims in
    ascending order, so the numpy loop runs ONE VECTORIZED ADD PER
    DIMENSION (``acc += V[:, d] * C[:, d]``) — each element sees the
    identical IEEE-double operation sequence as the JVM fold — instead
    of np.dot/matmul, whose pairwise/BLAS summation reorders the adds
    and breaks the 1e-10-quantized oracle contract. Norms use the same
    per-dim fold + correctly-rounded sqrt; the division is one IEEE op.
    Ties: centroid columns are ordered by ascending label
    (collect_model_rows sorts) and np.argmax returns the FIRST maximum
    -> smallest label, reproducing max(struct(_cos, -label)).
    NULL/NaN embeddings are out of contract here (the generated tables
    have none; the JVM paths NULL-poison instead).
    """
    import numpy as np
    import pandas as pd

    C = np.array([v for _, v in cents], dtype=np.float64).T  # dim x k
    dim, k = C.shape
    acc = np.zeros(k)
    for d in range(dim):
        acc = acc + C[d] * C[d]
    c_norm = np.sqrt(acc)

    id_f, vec_f = base.schema[vec_id], base.schema[vec_col]
    out_schema = f"`{vec_id}` {id_f.dataType.simpleString()}, cluster int, `{vec_col}` {vec_f.dataType.simpleString()}"

    def assign(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            n = len(V)
            dots = np.zeros((n, k))
            nacc = np.zeros(n)
            for d in range(dim):
                dots += V[:, d : d + 1] * C[d][None, :]
                nacc = nacc + V[:, d] * V[:, d]
            cos = dots / (np.sqrt(nacc)[:, None] * c_norm[None, :])
            best = np.argmax(cos, axis=1)
            yield pd.DataFrame(
                {
                    vec_id: pdf[vec_id].to_numpy(),
                    "cluster": _labels_np(cents)[best],
                    vec_col: pdf[vec_col].to_numpy(),
                }
            )

    return base.select(vec_id, vec_col).mapInPandas(assign, out_schema)


def _labels_np(cents):
    import numpy as np

    return np.array([int(lbl) for lbl, _ in cents], dtype=np.int32)


def kmeans_quantized_update(
    assigned: DataFrame, dim: int = DEFAULT_DIM
) -> DataFrame:
    """Lloyd update step: element-wise mean of each cluster's members,
    quantized at 1e-10 (floor(x*1e10+0.5)) so the centroid doubles are
    bit-identical cross-engine (same rationale as ivf centroid means).
    Clusters that lost every member simply disappear. Explode +
    (cluster, pos) partial agg (``_centroid_means``): the shuffle
    carries model-sized partial rows, never member x dim data."""
    return _centroid_means(
        assigned, ["cluster"], "_vec", quantized_mean_sql()
    ).select(F.col("cluster").alias("label"), "centroid")


def semdedup_prune(
    df: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al., "SemDeDup:
    Data-efficient learning at web-scale through semantic deduplication"):
    cluster the embedding space coarsely, then prune near-duplicate
    members WITHIN each cluster — the pair work never crosses clusters,
    so the quadratic verify is bounded by cluster occupancy instead of
    corpus size.

    Semantics (deterministic, oracle-checkable): centroids are the
    quantized per-``label`` means (``ivf_centroids``); every vector is
    re-assigned to its nearest centroid by cosine (ties -> smallest
    label); within a cluster, a vector is PRUNED if some cluster-mate
    with a smaller id has cosine >= ``threshold`` (keep-first-by-id, the
    paper's keep-one-per-near-dup-group rule made order-deterministic).

    Output: one row per cluster — (cluster, n_members, n_pruned,
    kept_id_checksum) where kept_id_checksum = sum of surviving vec_ids.

    Scale shape: centroid table is tiny -> broadcast assignment (corpus
    never shuffles for it); the near-dup pair work routes through
    ``dedup.bucket_pairs`` keyed on the cluster id (round 8), so a hot
    cluster's O(n²) comparisons split across G² grid-salted tasks
    (~small_cap² pairs each) instead of serializing onto the one task
    that hash-owns the cluster — the same skew guard as every LSH-family
    candidate generator. Clusters at or under ``small_cap`` plan exactly
    like the plain equi-join (G = 1, zero replication).
    """
    cents = collect_model_rows(
        ivf_centroids(df, label_col, vec_col),
        max_cells=LITERAL_CENTROID_MAX_CELLS,
    )
    if cents is not None:
        # literal assignment (round 6): nearest-centroid is a per-row
        # projection — no broadcast join, no per-vector top-k window
        assigned = df.select(
            F.col(id_col).alias("vec_id"),
            F.col(vec_col).alias("embedding"),
            norm(F.col(vec_col)).alias("_nrm"),
        ).withColumn("cluster", nearest_label_col("embedding", "_nrm", cents))
    else:
        assigned = kmeans_assign(
            df, ivf_centroids(df, label_col, vec_col), id_col, vec_col
        ).select(
            "vec_id", "cluster", F.col("_vec").alias("embedding")
        )
    # consumed three times (both pair-join sides + the survivor flag
    # join); checkpointed so the centroid-build + assignment subtree
    # runs once AND every consumer analyzes a flat leaf (round-5
    # rationale) — at corpus scale the same recompute-vs-spill call
    # documented in SCALING.md.
    members = assigned.select(
        F.col("vec_id"),
        F.col("cluster"),
        F.col("embedding"),
        norm(F.col("embedding")).alias("_nrm"),
    ).transform(checkpoint_small)
    # grid-salted within-cluster self-join (dedup.bucket_pairs): every
    # member of a hot cluster gets a grid cell, the equi-join runs on
    # (cluster, _ga, _gb), and the vec_id_a < vec_id_b filter keeps one
    # orientation — identical pair set to the plain cluster equi-join
    # (for ANY small_cap), skew-proof at scale. Norms ride along
    # precomputed (O(n) folds). small_cap is flop-sized, not row-sized:
    # a task's work is ≤ small_cap² dim-64 dot products (~64M flops at
    # 1024 — still a small task), while the text-LSH default of 128
    # would salt every ~1k-member cluster into G=8 and replicate the
    # embedding arrays 8x for no balance gain at that size.
    from .dedup import bucket_pairs

    # member_ckpt=False: members is already a flat leaf, so the salt
    # annotation re-derives per side as a map-only broadcast join — a
    # second checkpoint would store every embedding array twice
    pairs = bucket_pairs(
        members,
        keys=["cluster"],
        fields=["vec_id", "embedding", "_nrm"],
        small_cap=1024,
        member_ckpt=False,
    ).select(
        "vec_id_b",
        (
            dot(F.col("embedding_a"), F.col("embedding_b"))
            / (F.col("_nrm_a") * F.col("_nrm_b"))
        ).alias("cosine"),
    ).filter(F.col("cosine") >= threshold)
    pruned = pairs.select(F.col("vec_id_b").alias("vec_id")).distinct().withColumn(
        "_pruned", F.lit(1)
    )
    flagged = members.join(pruned, "vec_id", "left")
    return flagged.groupBy("cluster").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.sum(F.coalesce(F.col("_pruned"), F.lit(0))).alias("n_pruned"),
        F.sum(F.when(F.col("_pruned").isNull(), F.col("vec_id"))).alias(
            "kept_id_checksum"
        ),
    )


# --- product quantization ----------------------------------------------------

PQ_SUBSPACES = 4
PQ_SUBDIM = DEFAULT_DIM // PQ_SUBSPACES
_Q = 1e10  # dot-product quantization step (exact integer compare cross-engine)


def _qdot(a: Column, b: Column) -> Column:
    """Index-order dot product quantized to a BIGINT at 1e-10 — the
    engine's standard trick for order-independent exact float compare."""
    return F.floor(dot(a, b) * F.lit(_Q) + F.lit(0.5)).cast("bigint")


def _qdot_w(a_name: str, b_name: str, width: int) -> Column:
    """_qdot between two array COLUMNS of known width via the unrolled
    codegen dot (round 12) — bit-identical quantized value."""
    return F.floor(dot_w(a_name, b_name, width) * F.lit(_Q) + F.lit(0.5)).cast(
        "bigint"
    )


def pq_codebooks(
    df: DataFrame, label_col: str = "label", vec_col: str = "embedding"
) -> DataFrame:
    """Product-quantization codebooks: the vector is split into
    ``PQ_SUBSPACES`` contiguous subvectors and each subspace gets its own
    code set — here the quantized per-``label`` subvector means (the same
    deterministic seeding ivf_centroids uses; production would Lloyd-
    refine per subspace with the kmeans operators, identical shape).

    Output: (sub, code, subcentroid array<double>) — k codes per
    subspace. Tiny by construction (subspaces x labels rows) ->
    broadcast everywhere downstream. Built by one full-width
    ``_centroid_means`` pass; the subcentroid slices are assembled
    from the 64-wide mean array."""
    full = _centroid_means(
        df.select(F.col(label_col).alias("code"), F.col(vec_col).alias("_v")),
        ["code"],
        "_v",
        quantized_mean_sql(),
    )
    subs = F.array(
        *[
            F.struct(
                F.lit(m).alias("sub"),
                F.slice(
                    F.col("centroid"), m * PQ_SUBDIM + 1, PQ_SUBDIM
                ).alias("subcentroid"),
            )
            for m in range(PQ_SUBSPACES)
        ]
    )
    return full.select("code", F.explode(subs).alias("s")).select(
        "s.sub", "code", "s.subcentroid"
    )


def collect_codebooks(books_df: DataFrame):
    """Collect PQ codebooks (subspaces x k rows) for literal plans;
    None when over the literal budget (callers keep the join shape).
    Returns {sub: [(code, codeword)] sorted by code}.

    Budget (round 11): the MEASURED centroid crossover, not the 32k
    lookup-table cap — the corpus-side PQ encode is exactly the kmeans
    assignment shape (per-row argmax over k literal codewords), and at
    k=100 codes/subspace (6,400 cells, the sf~1 synthetic corpus) the
    join path measured 17.6 s vs the literal's 29.5 s for ann_pq_adc
    (rerank 17.7 vs 31.7; identical outputs asserted) — the same
    literal-loses-past-k≈32-64 crossover ab_kmeans.py measured in
    round 10, which that round's note explicitly left unmeasured for
    PQ. At the real-testdata k=10 (640 cells) the literal path stays
    and remains the fast shape."""
    rows = _collect_model(books_df.select("sub", "code", "subcentroid"))
    if not rows or sum(len(r[2]) for r in rows) > LITERAL_CENTROID_MAX_CELLS:
        return None
    by_sub: dict = {}
    for r in rows:
        by_sub.setdefault(int(r[0]), []).append(
            (int(r[1]), [float(x) for x in r[2]])
        )
    return {s: sorted(v) for s, v in by_sub.items()}


def _qdot_lit_sql(vec_sql: str, vals) -> str:
    """SQL replica of _qdot(col, lit): quantized BIGINT partial dot."""
    return (
        f"cast(floor({_dot_lit_sql(vec_sql, vals)} * {_D1E10} + {_DHALF}) "
        f"as bigint)"
    )


def _pq_argmax_cols(vec_col: str, books) -> dict:
    """Per-subspace argmax over the literal codebook: {sub ->
    struct<qd, nc, p>} where the max struct reproduces
    top_k_per_key(struct(_qd, -code), 1): highest quantized dot, ties
    -> smallest code. 'p' is the code's 1-based position in the
    sorted-code list (rides along; qd/nc decide the max)."""
    cols = {}
    for sub, entries in sorted(books.items()):
        sv = f"slice({vec_col}, {sub * PQ_SUBDIM + 1}, {PQ_SUBDIM})"
        structs = [
            f"named_struct('qd', {_qdot_lit_sql(sv, w)}, "
            f"'nc', {-int(code)}L, 'p', {pos})"
            for pos, (code, w) in enumerate(entries, start=1)
        ]
        cols[sub] = F.expr("array_max(array(" + ",".join(structs) + "))")
    return cols


def pq_encode_literal(
    df: DataFrame, books, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """(id, sub, code) PQ codes via literal codebooks — per-row argmax
    projection; no subvector explode, no codebook join, no per-(vec,
    sub) top-k window. Identical codes to pq_encode (same quantized
    dots, same tie-break)."""
    ams = [
        cols.alias(f"_am{sub}")
        for sub, cols in _pq_argmax_cols(vec_col, books).items()
    ]
    wide = df.select(F.col(id_col).alias("vec_id"), *ams)
    pairs = F.array(
        *[
            F.struct(
                F.lit(sub).alias("sub"),
                F.expr(f"cast(-_am{sub}.nc as int)").alias("code"),
            )
            for sub in sorted(books)
        ]
    )
    return wide.select("vec_id", F.explode(pairs).alias("s")).select(
        "vec_id", "s.sub", "s.code"
    )


def _subvectors(df: DataFrame, id_col: str, vec_col: str, out_id: str) -> DataFrame:
    """(id, sub, subvec): the vector cut into PQ_SUBSPACES contiguous
    slices — pure per-row exprs, no shuffle."""
    slices = F.array(
        *[
            F.struct(
                F.lit(m).alias("sub"),
                F.slice(F.col(vec_col), m * PQ_SUBDIM + 1, PQ_SUBDIM).alias("subvec"),
            )
            for m in range(PQ_SUBSPACES)
        ]
    )
    return df.select(
        F.col(id_col).alias(out_id), F.explode(slices).alias("s")
    ).select(out_id, "s.sub", "s.subvec")


def pq_encode(
    df: DataFrame,
    codebooks: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode each vector as PQ_SUBSPACES small code ids: per subspace,
    the code maximizing the (quantized) inner product with the subvector
    (ties -> smallest code). 64 floats become 4 bytes — the memory
    compression that lets a 100 TB embedding corpus fit a cluster's RAM.

    Corpus-side cost: a broadcast join against the tiny codebook and a
    per-row argmax — the corpus never shuffles.

    Round 11: the k=1 argmax is a ``max(struct(_qd, -code, code))``
    AGGREGATE, not a (vec, sub)-keyed window — the N×k scored stream
    collapses map-side to N×subspaces rows before the exchange and no
    per-key sort runs (struct max compares lexicographically, so the
    winner is exactly top_k_per_key's struct(_qd, -code) order: highest
    quantized dot, ties → smallest code; A/B at sf~1 k=100:
    13.0 → 11.4 s, outputs asserted identical)."""
    sv = _subvectors(df, id_col, vec_col, "vec_id")
    # round 12: the N x k subspace dots are the encode's hot loop — the
    # unrolled codegen dot replaces the interpreted HOF fold
    scored = sv.join(F.broadcast(codebooks), "sub").select(
        "vec_id",
        "sub",
        "code",
        _qdot_w("subvec", "subcentroid", PQ_SUBDIM).alias("_qd"),
    )
    best = scored.groupBy("vec_id", "sub").agg(
        F.max(
            F.struct(
                F.col("_qd"),
                (-F.col("code")).alias("_nc"),
                F.col("code").alias("_c"),
            )
        ).alias("_m")
    )
    return best.select("vec_id", "sub", F.col("_m._c").alias("code"))


def pq_code_histogram(
    df: DataFrame, label_col: str = "label", vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Observable for the encode stage: how many vectors landed on each
    (sub, code) cell + an id checksum — verifies codebook build + encode
    end-to-end against the oracle."""
    books_df = pq_codebooks(df, label_col, vec_col)
    books = collect_codebooks(books_df)
    if books is not None:
        codes = pq_encode_literal(df, books, id_col, vec_col)
    else:
        codes = pq_encode(df, books_df, id_col, vec_col)
    return codes.groupBy("sub", "code").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("vec_id").alias("id_checksum"),
    )


def ann_pq_adc(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    query_id: str = "vec_id",
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """PQ asymmetric-distance ANN (Jégou et al., "Product Quantization
    for Nearest Neighbor Search"): corpus vectors are PQ codes; each
    query precomputes a lookup table LUT[sub][code] = <q_sub,
    codeword>, and a candidate's approximate inner product is just
    PQ_SUBSPACES integer adds — no per-pair dim-wide math at all.

    Exactness discipline: every subspace partial dot is quantized to a
    BIGINT; the cross-subspace sum is an INTEGER sum (orderless-safe, so
    groupBy partial aggregation cannot change the result); the reported
    score divides back to double once. Ranking: approx dot desc, ties ->
    neighbor_id desc (matching the engine's other ANN oracles).

    Scale shape: codebooks and the Q x PQ_SUBSPACES x k LUT are tiny ->
    both broadcast; the corpus contributes its code rows (N x
    PQ_SUBSPACES skinny ints) through ONE broadcast join + one
    integer-sum aggregate keyed (query, vec) and a final per-query
    top-k. Approximation error comes from quantization only — measured
    against ann_topk the same way ann_recall measures IVF."""
    books_df = pq_codebooks(corpus, label_col, vec_col)
    books = collect_codebooks(books_df)
    if books is not None:
        # literal path (round 6): codes AND per-query LUTs are per-row
        # projections over the literal codebooks — the whole ADC scan is
        # one broadcast(query-LUT) join + one per-query top-k, instead
        # of codebook-checkpoint + encode-window + LUT join + (sub,
        # code) join + integer-sum agg. The per-pair math is identical:
        # element_at picks the same quantized partials the (sub, code)
        # equi-join matched, and the 4-term integer add equals the
        # integer SUM (associative, orderless-safe either way).
        subs = sorted(books)
        ams = _pq_argmax_cols(vec_col, books)
        ccodes = corpus.select(
            F.col(corpus_id).alias("neighbor_id"),
            *[ams[s].alias(f"_am{s}") for s in subs],
        ).select(
            "neighbor_id",
            *[F.expr(f"_am{s}.p").alias(f"_p{s}") for s in subs],
        )
        luts = []
        for s in subs:
            sv = f"slice({vec_col}, {s * PQ_SUBDIM + 1}, {PQ_SUBDIM})"
            parts = ",".join(
                _qdot_lit_sql(sv, w) for _code, w in books[s]
            )
            luts.append(F.expr("array(" + parts + ")").alias(f"_l{s}"))
        qlut = queries.select(F.col(query_id).alias("query_id"), *luts)
        total = " + ".join(f"element_at(_l{s}, _p{s})" for s in subs)
        scored = (
            ccodes.crossJoin(F.broadcast(qlut))
            .filter(F.col("query_id") != F.col("neighbor_id"))
            .select(
                "query_id",
                "neighbor_id",
                (F.expr(f"cast(({total}) as double)") / F.lit(_Q)).alias(
                    "approx_dot"
                ),
            )
        )
        return top_k_per_key(
            scored,
            ["query_id"],
            F.struct(F.col("approx_dot"), F.col("neighbor_id")),
            k,
        )
    # join path: checkpoint the tiny codebook (subspaces x k rows): it
    # feeds BOTH the corpus encode and the query LUT, and a flat leaf
    # keeps their joins' analysis off the mean-aggregation tree
    books_ck = books_df.transform(checkpoint_small)
    codes = pq_encode(corpus, books_ck, corpus_id, vec_col)
    q_sv = _subvectors(queries, query_id, vec_col, "query_id")
    lut = q_sv.join(F.broadcast(books_ck), "sub").select(
        "query_id",
        "sub",
        "code",
        _qdot_w("subvec", "subcentroid", PQ_SUBDIM).alias("_part"),
    )
    contrib = codes.join(F.broadcast(lut), ["sub", "code"]).filter(
        F.col("query_id") != F.col("vec_id")
    )
    scored = contrib.groupBy("query_id", F.col("vec_id").alias("neighbor_id")).agg(
        (F.sum("_part").cast("double") / F.lit(_Q)).alias("approx_dot")
    )
    return top_k_per_key(
        scored,
        ["query_id"],
        F.struct(F.col("approx_dot"), F.col("neighbor_id")),
        k,
    )


def ann_pq_rerank(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    shortlist: int = 20,
    query_id: str = "vec_id",
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Two-stage retrieval — the production ANN shape: a cheap PQ ADC
    pass shortlists ``shortlist`` candidates per query, then ONLY those
    pairs get the exact full-dimension cosine and the final top-``k`` is
    ranked on the exact score. Exact math runs on Q x shortlist pairs
    instead of Q x N — the quantization error of the first stage can
    only cost recall (a true neighbor missing from the shortlist), never
    precision of the reported scores.

    Scale shape: the shortlist is Q x shortlist skinny rows -> broadcast
    against the corpus (one scan, no corpus shuffle) and against the
    query vectors; the rerank math inherits the engine's exact fold
    (bit-identical cross-engine).

    Fused single-pass form (round 6) when the codebooks fit the
    literal budget: each scored pair carries BOTH the ADC
    approximation and the exact cosine, the shortlist is a rank over
    approx, and the final top-k is a rank over exact among shortlist
    rows — one corpus scan instead of the ADC pass + two rejoins,
    identical output by construction."""
    books = collect_codebooks(pq_codebooks(corpus, label_col, vec_col))
    if books is not None:
        subs = sorted(books)
        ams = _pq_argmax_cols(vec_col, books)
        c2 = corpus.select(
            F.col(corpus_id).alias("neighbor_id"),
            F.col(vec_col).alias("c_vec"),
            norm(F.col(vec_col)).alias("c_norm"),
            *[ams[s].alias(f"_am{s}") for s in subs],
        ).select(
            "neighbor_id",
            "c_vec",
            "c_norm",
            *[F.expr(f"_am{s}.p").alias(f"_p{s}") for s in subs],
        )
        luts = []
        for s in subs:
            sv = f"slice({vec_col}, {s * PQ_SUBDIM + 1}, {PQ_SUBDIM})"
            parts = ",".join(_qdot_lit_sql(sv, w) for _code, w in books[s])
            luts.append(F.expr("array(" + parts + ")").alias(f"_l{s}"))
        q2 = queries.select(
            F.col(query_id).alias("query_id"),
            F.col(vec_col).alias("q_vec"),
            norm(F.col(vec_col)).alias("q_norm"),
            *luts,
        )
        total = " + ".join(f"element_at(_l{s}, _p{s})" for s in subs)
        scored = (
            c2.crossJoin(F.broadcast(q2))
            .filter(F.col("query_id") != F.col("neighbor_id"))
            .select(
                "query_id",
                "neighbor_id",
                (
                    dot(F.col("q_vec"), F.col("c_vec"))
                    / (F.col("q_norm") * F.col("c_norm"))
                ).alias("cosine"),
                (F.expr(f"cast(({total}) as double)") / F.lit(_Q)).alias(
                    "_approx"
                ),
            )
        )
        from pyspark.sql.window import Window

        w_adc = Window.partitionBy("query_id").orderBy(
            F.struct(F.col("_approx"), F.col("neighbor_id")).desc()
        )
        staged = scored.select(
            "query_id",
            "neighbor_id",
            "cosine",
            (F.row_number().over(w_adc) <= shortlist).alias("_short"),
        )
        w_rr = Window.partitionBy("query_id").orderBy(
            F.col("_short").desc(),
            F.struct(F.col("cosine"), F.col("neighbor_id")).desc(),
        )
        return (
            staged.withColumn("_rn", F.row_number().over(w_rr))
            .filter(F.col("_short") & (F.col("_rn") <= k))
            .select("query_id", "neighbor_id", "cosine")
        )
    short = ann_pq_adc(
        queries, corpus, k=shortlist,
        query_id=query_id, corpus_id=corpus_id,
        vec_col=vec_col, label_col=label_col,
    ).select("query_id", "neighbor_id")
    c = corpus.select(
        F.col(corpus_id).alias("neighbor_id"),
        F.col(vec_col).alias("c_vec"),
        norm(F.col(vec_col)).alias("c_norm"),
    )
    q = queries.select(
        F.col(query_id).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        norm(F.col(vec_col)).alias("q_norm"),
    )
    pairs = c.join(F.broadcast(short), "neighbor_id").join(
        F.broadcast(q), "query_id"
    )
    exact = pairs.select(
        "query_id",
        "neighbor_id",
        (
            dot(F.col("q_vec"), F.col("c_vec"))
            / (F.col("q_norm") * F.col("c_norm"))
        ).alias("cosine"),
    )
    return top_k_per_key(
        exact, ["query_id"], F.struct(F.col("cosine"), F.col("neighbor_id")), k
    )


def kmeans_lloyd(
    df: DataFrame,
    init_centroids: DataFrame,
    iters: int = 2,
    vec_id: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Iterative Lloyd refinement: ``iters`` rounds of assign+update,
    then a final assignment against the refined centroids. Returns the
    final (vec_id, cluster).

    Literal-model rounds (round 6): the k-row centroid table is
    collected each round and the next assignment is a pure per-row
    projection over literal centroids — MLlib KMeans' own iteration
    shape (centers collected + re-broadcast per round). One Spark job
    per round (the k-row update collect), no broadcast-join/window/
    checkpoint machinery; the corpus never shuffles.

    Round-12 mid-k regime: above the literal codegen budget
    (LITERAL_CENTROID_MAX_CELLS) but within the collectable model
    budget (LITERAL_MODEL_MAX_CELLS), assignment runs as the
    fold-order-exact vectorized ``kmeans_assign_pandas`` — measured at
    sf~1 k=100: join 34.6 s / literal-greatest 28.1 s / pandas (see
    BASELINE round-12) — keeping the collected-model iteration cadence
    either way. The broadcast-join + agg-argmax shape remains the
    fallback when even the model collect is over budget (k x dim >
    32k cells)."""
    cents = collect_model_rows(
        init_centroids, "label", "centroid", max_cells=LITERAL_MODEL_MAX_CELLS
    )
    if cents is None:
        centroids = init_centroids
        for _ in range(iters):
            assigned = kmeans_assign(df, centroids, vec_id, vec_col)
            centroids = kmeans_quantized_update(assigned).transform(
                checkpoint_small
            )
        return kmeans_assign(df, centroids, vec_id, vec_col).select(
            "vec_id", "cluster"
        )
    base = df.select(
        F.col(vec_id).alias("vec_id"),
        F.col(vec_col).alias("_vec"),
        norm(F.col(vec_col)).alias("_nrm"),
    )
    dim = len(cents[0][1])

    def assign(cents_now):
        if sum(len(v) for _, v in cents_now) <= LITERAL_CENTROID_MAX_CELLS:
            return base.withColumn(
                "cluster", nearest_label_col("_vec", "_nrm", cents_now)
            )
        return kmeans_assign_pandas(base, cents_now)

    for _ in range(iters):
        cents = collect_model_rows(
            kmeans_quantized_update(
                assign(cents).select("cluster", "_vec"), dim
            ),
            "label",
            "centroid",
            max_cells=LITERAL_MODEL_MAX_CELLS,
        )
    return assign(cents).select("vec_id", "cluster")


# --------------------------------------------------------------------------
# scalar quantization (int8) ANN
# --------------------------------------------------------------------------

SQ_SCALE = 127


def sq_quantize(vec: Column, scale: int = SQ_SCALE) -> Column:
    """Symmetric int8 scalar quantization: component -> round(x * 127)
    as an integer. Embeddings are unit-scale, so the fixed symmetric
    scale needs no per-vector min/max pass (the asymmetric variant adds
    one agg; same downstream shape). Integer components make the
    quantized dot product EXACT — order-independent, engine-independent
    — which is why SQ scores hash-match a SQL oracle while float dots
    need the 1e-10 quantization trick."""
    # cast to double BEFORE scaling: float*int promotes differently
    # across engines (float in one, double in the other) and the .5
    # rounding boundary would diverge — double math on both sides is
    # bit-identical.
    return F.transform(
        vec,
        lambda x: F.floor(
            x.cast("double") * F.lit(scale) + F.lit(0.5)
        ).cast("long"),
    )


def ann_topk_sq(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    query_id: str = "vec_id",
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-k by int8-quantized symmetric dot product — the scalar-
    quantization point on the measured recall/cost curve (alongside IVF
    and PQ). 4 bytes/dim -> 1 byte/dim memory traffic with NO index
    structure: the corpus scan stays sequential, the score is a 64-dim
    integer multiply-add (SIMD-friendly on a real column store; here it
    runs in whole-stage codegen as a zip_with+aggregate fold).

    Scale shape: identical to ann_topk_bruteforce — queries broadcast,
    corpus scanned once, per-query top-k partial before the final tiny
    shuffle. Ties broken by neighbor_id for determinism."""
    from .relational import top_k_per_key

    q = queries.select(
        F.col(query_id).alias("query_id"),
        sq_quantize(F.col(vec_col)).alias("q_q"),
    )
    c = corpus.select(
        F.col(corpus_id).alias("neighbor_id"),
        sq_quantize(F.col(vec_col)).alias("c_q"),
    )
    pairs = c.crossJoin(F.broadcast(q)).filter(
        F.col("query_id") != F.col("neighbor_id")
    )
    scored = pairs.select(
        "query_id",
        "neighbor_id",
        F.aggregate(
            F.zip_with(F.col("q_q"), F.col("c_q"), lambda a, b: a * b),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("score_int"),
    )
    return top_k_per_key(
        scored,
        ["query_id"],
        F.struct(F.col("score_int"), F.col("neighbor_id")),
        k,
    )

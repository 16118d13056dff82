"""Property-based tests (hypothesis) for the custom operators whose edge
cases are hardest to enumerate by hand: the as-of join (tie handling,
missing right rows, duplicate timestamps) and connected components
(arbitrary small graphs). Each is checked against an independent
reference implementation (pandas merge_asof / pure-Python union-find),
NOT against our own Spark code.

Spark actions are slow, so examples are few but each is a whole dataset;
deadlines are disabled for the same reason.
"""

from __future__ import annotations

from unittest import mock

import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

from hri_flink_pipeline_core_spark.operators.asof import asof_join
from hri_flink_pipeline_core_spark.operators.dedup import (
    connected_components,
    connected_components_star,
)

_SETTINGS = dict(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


rows_left = st.lists(
    st.tuples(st.integers(0, 3), st.integers(0, 50)),  # (key, time)
    min_size=1,
    max_size=25,
)
rows_right = st.lists(
    st.tuples(st.integers(0, 3), st.integers(0, 50), st.integers(0, 999)),
    min_size=0,
    max_size=25,
)


@given(left=rows_left, right=rows_right)
@settings(**_SETTINGS)
def test_asof_join_matches_pandas_merge_asof(spark, left, right):
    ldf = spark.createDataFrame(
        [(k, t, i) for i, (k, t) in enumerate(left)], "k int, t long, lid int"
    )
    rdf = spark.createDataFrame(
        [(k, t, v) for (k, t, v) in right], "k int, rt long, v int"
    )
    got = {
        (r.lid, r.v)
        for r in asof_join(
            ldf, rdf, keys=["k"], left_time="t", right_time="rt",
            right_cols=["v"], right_tiebreak="v",
        ).collect()
    }

    lp = pd.DataFrame(
        [(k, t, i) for i, (k, t) in enumerate(left)], columns=["k", "t", "lid"]
    ).sort_values(["t", "lid"], kind="stable")
    # merge_asof takes the LAST right row <= t in sort order; sorting by
    # (rt, v) makes the highest v win ties, matching right_tiebreak="v"
    rp = pd.DataFrame(right, columns=["k", "rt", "v"]).sort_values(
        ["rt", "v"], kind="stable"
    )
    if len(rp):
        merged = pd.merge_asof(
            lp, rp, left_on="t", right_on="rt", by="k", direction="backward"
        )
        expected = {
            (int(r.lid), None if pd.isna(r.v) else int(r.v))
            for r in merged.itertuples()
        }
    else:
        expected = {(int(r.lid), None) for r in lp.itertuples()}
    assert got == expected


pairs_strategy = st.lists(
    st.tuples(st.integers(0, 7), st.integers(0, 7)).filter(lambda p: p[0] != p[1]),
    min_size=1,
    max_size=30,
)


def _union_find_components(pairs):
    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


@given(pairs=pairs_strategy)
@settings(**{**_SETTINGS, "max_examples": 6})
def test_connected_components_matches_union_find(spark, pairs):
    pdf = spark.createDataFrame(
        [(min(a, b), max(a, b)) for a, b in pairs], "doc_a long, doc_b long"
    )
    # plain min-label propagation moves the min one hop per round, so
    # node-count rounds cover the worst case (an 8-node path)
    got = {
        (r.doc_id, r.cluster_id)
        for r in connected_components(pdf, iterations=7).collect()
    }
    expected = {
        (n, root) for n, root in _union_find_components(pairs).items()
    }
    assert got == expected


@given(pairs=pairs_strategy)
@settings(**{**_SETTINGS, "max_examples": 6})
def test_connected_components_star_matches_union_find(spark, pairs):
    """The data-dependent-rounds production CC (alternating large-star/
    small-star) must produce the identical min-of-component labeling."""
    pdf = spark.createDataFrame(
        [(min(a, b), max(a, b)) for a, b in pairs], "doc_a long, doc_b long"
    )
    got = {
        (r.doc_id, r.cluster_id)
        for r in connected_components_star(pdf).collect()
    }
    expected = {
        (n, root) for n, root in _union_find_components(pairs).items()
    }
    assert got == expected


edge_sets = st.lists(
    st.tuples(st.integers(0, 9), st.integers(0, 9)),
    min_size=1,
    max_size=30,
).filter(lambda es: any(a != b for a, b in es))


@given(edges=edge_sets)
@settings(**_SETTINGS)
def test_pagerank_matches_python_reference(spark, edges):
    """pagerank vs an independent pure-Python implementation using the
    SAME quantization contract (floor(x*q+0.5) integer sums) — checks the
    join/agg plumbing, dangling-node handling, and determinism."""
    from hri_flink_pipeline_core_spark.operators.graph import pagerank

    # feed the RAW multi-edge list: pagerank must dedupe (src,dst)
    # itself (collect_set) — the reference below works on the deduped
    # set.
    raw = [(a, b) for a, b in edges if a != b]
    es = sorted(set(raw))
    got = {
        r["node"]: r["pagerank"]
        for r in pagerank(
            spark.createDataFrame(raw, "src int, dst int"), iterations=2
        ).collect()
    }

    nodes = sorted({n for e in es for n in e})
    outdeg: dict[int, int] = {}
    for a, _ in es:
        outdeg[a] = outdeg.get(a, 0) + 1
    pr = {n: 1.0 for n in nodes}
    q = 1e12
    for _ in range(2):
        sums = {n: 0 for n in nodes}
        for a, b in es:
            import math

            sums[b] += int(math.floor(pr[a] / outdeg[a] * q + 0.5))
        pr = {n: 0.15 + 0.85 * (sums[n] / q) for n in nodes}
    assert got == pr


def test_pagerank_null_endpoint_edges_one_contract(spark):
    """ADVICE r11: an edge with a NULL src or dst contributes nothing
    (no NULL node in the output, no out-degree inflation of real
    nodes)."""
    from hri_flink_pipeline_core_spark.operators.graph import pagerank

    clean = [(1, 2), (2, 3), (3, 1)]
    dirty = clean + [(1, None), (None, 2), (None, None)]
    expect = {
        r["node"]: r["pagerank"]
        for r in pagerank(
            spark.createDataFrame(clean, "src int, dst int"), iterations=2
        ).collect()
    }
    got = {
        r["node"]: r["pagerank"]
        for r in pagerank(
            spark.createDataFrame(dirty, "src int, dst int"), iterations=2
        ).collect()
    }
    assert got == expect


merge_rows = st.lists(
    st.tuples(st.integers(0, 5), st.integers(0, 99)), min_size=0, max_size=20
)


@given(base=merge_rows, upd=merge_rows)
@settings(**_SETTINGS)
def test_merge_upsert_matches_dict_semantics(spark, base, upd):
    """merge_upsert vs plain dict update — with unique keys per side,
    the merged table IS {**base, **upd}."""
    from hri_flink_pipeline_core_spark.operators.relational import merge_upsert

    bd = dict(base)  # dict() dedups: last tuple wins, mirroring unique keys
    ud = dict(upd)
    bdf = spark.createDataFrame(list(bd.items()) or [], "k int, v int")
    udf = spark.createDataFrame(list(ud.items()) or [], "k int, v int")
    got = {r["k"]: r["v"] for r in merge_upsert(bdf, udf, ["k"]).collect()}
    assert got == {**bd, **ud}


# --- sessionize vs pure-Python reference ------------------------------------

ev_rows = st.lists(
    st.tuples(
        st.integers(0, 2),        # user
        st.integers(0, 5000),     # ts seconds offset
        st.integers(-100, 100),   # value (x0.25 to get exact quarters)
    ),
    min_size=1,
    max_size=30,
)


@given(rows=ev_rows)
@settings(**_SETTINGS)
def test_sessionize_matches_python_reference(spark, rows):
    """sessionize vs a direct single-threaded pass: same session count,
    membership, bounds, and sums for arbitrary event sets (10 s gap)."""
    import datetime as dt

    from hri_flink_pipeline_core_spark.operators.windows import sessionize

    base = dt.datetime(2024, 1, 1)
    data = [
        (u, i, base + dt.timedelta(seconds=t), v * 0.25)
        for i, (u, t, v) in enumerate(rows)
    ]
    df = spark.createDataFrame(
        data, "user_id int, event_id int, ts timestamp, value double"
    )
    got = {
        (r.user_id, r.session_id, r.n_events, r.session_start,
         r.session_end, r.total_value)
        for r in sessionize(df, gap_us=10_000_000).collect()
    }

    # pure-Python: sort per user by (ts, event_id), split on gap > 10 s
    expect = set()
    by_user: dict[int, list] = {}
    for u, i, ts, v in data:
        by_user.setdefault(u, []).append((ts, i, v))
    for u, evs in by_user.items():
        evs.sort()
        sid = 0
        cur: list = []
        prev_ts = None
        for ts, i, v in evs:
            if prev_ts is None or (ts - prev_ts).total_seconds() > 10:
                if cur:
                    expect.add(_session_row(u, sid, cur))
                sid += 1
                cur = []
            cur.append((ts, v))
            prev_ts = ts
        if cur:
            expect.add(_session_row(u, sid, cur))
    assert got == expect


def _session_row(u, sid, evs):
    total = sum(v for _, v in evs)  # quarters: float sum is exact
    return (u, sid, len(evs), evs[0][0], evs[-1][0], total)


# --- top-p selection vs pure-Python reference --------------------------------

doc_rows = st.lists(
    st.tuples(st.integers(0, 1), st.integers(1, 1000)),  # (lang, n_chars)
    min_size=1,
    max_size=25,
)


@given(rows=doc_rows)
@settings(**_SETTINGS)
def test_topp_predicate_matches_python_reference(spark, rows):
    """The integer top-p keep predicate ((cum - cur)*5 < total*4) vs a
    direct greedy 80% cumulative-share selection per language."""
    data = [(i, ["en", "de"][lang], n) for i, (lang, n) in enumerate(rows)]
    df = spark.createDataFrame(data, "doc_id int, lang string, n_chars long")

    from pyspark.sql import Window as SW

    wo = SW.partitionBy("lang").orderBy(F.col("n_chars").desc(), "doc_id")
    cum = F.sum("n_chars").over(
        wo.rowsBetween(SW.unboundedPreceding, SW.currentRow)
    )
    tot = F.sum("n_chars").over(SW.partitionBy("lang"))
    got = {
        r.doc_id
        for r in df.select(
            "doc_id", cum.alias("c"), F.col("n_chars").alias("n"),
            tot.alias("t"),
        ).filter((F.col("c") - F.col("n")) * 5 < F.col("t") * 4).collect()
    }

    expect = set()
    for lang in {d[1] for d in data}:
        docs = sorted(
            (d for d in data if d[1] == lang),
            key=lambda d: (-d[2], d[0]),
        )
        total = sum(d[2] for d in docs)
        cum_before = 0
        for doc_id, _, n in docs:
            if cum_before * 5 < total * 4:
                expect.add(doc_id)
            cum_before += n
    assert got == expect


# --- two-pass pareto frontier vs brute-force dominance ------------------------

pf_rows = st.lists(
    st.tuples(st.integers(0, 15), st.integers(0, 15)),  # (cost, gain)
    min_size=1,
    max_size=30,
)


@given(rows=pf_rows)
@settings(**_SETTINGS)
def test_pareto_frontier_matches_bruteforce(spark, rows):
    """The two-pass (partition-local then global) frontier equals the
    O(n²) weak-dominance definition, exact duplicates keeping min id —
    the transitivity argument the implementation relies on, checked on
    arbitrary point sets including heavy ties."""
    from hri_flink_pipeline_core_spark.operators.relational import (
        pareto_frontier_2d,
    )

    data = [(i, c, g) for i, (c, g) in enumerate(rows)]
    df = spark.createDataFrame(data, "id long, cost int, gain int")
    got = {
        r.id
        for r in pareto_frontier_2d(
            df, minimize_col="cost", maximize_col="gain", id_col="id", n_salt=4
        ).collect()
    }

    def dominated(p):
        pid, pc, pg = p
        for qid, qc, qg in data:
            if qid == pid:
                continue
            if qc <= pc and qg >= pg and (qc < pc or qg > pg):
                return True
            if qc == pc and qg == pg and qid < pid:  # duplicate, min id wins
                return True
        return False

    expect = {pid for pid, pc, pg in data if not dominated((pid, pc, pg))}
    assert got == expect


# --- binned percentile estimate vs exact rank statistic -----------------------

val_rows = st.lists(st.floats(0.0, 60.0, allow_nan=False), min_size=1, max_size=40)


@given(vals=val_rows)
@settings(**_SETTINGS)
def test_binned_p50_is_floor_of_exact_median_rank(spark, vals):
    """The histogram-derived p50 (min bin with cum*2 >= tot) must equal
    floor(value at rank ceil(n/2)) — the bin actually containing the
    median-rank value — for arbitrary value sets, including bin-edge
    and duplicate-heavy ones."""
    from pyspark.sql import Window as SW

    df = spark.createDataFrame([(v,) for v in vals], "value double")
    bin_col = F.least(F.floor(F.col("value")), F.lit(499)).cast("int")
    hist = df.groupBy(bin_col.alias("bin")).agg(F.count(F.lit(1)).alias("n"))
    w = SW.orderBy("bin").rowsBetween(SW.unboundedPreceding, SW.currentRow)
    marked = hist.select(
        "bin",
        F.sum("n").over(w).alias("cum"),
        F.sum("n").over(SW.partitionBy()).alias("tot"),
    )
    got = (
        marked.filter(F.col("cum") * 2 >= F.col("tot"))
        .agg(F.min("bin").alias("p50"))
        .collect()[0]["p50"]
    )

    import math

    exact_rank_val = sorted(vals)[math.ceil(len(vals) / 2) - 1]
    assert got == math.floor(exact_rank_val)


# --------------------------------------------------------------------------
# bucket_pairs vs brute-force itertools reference
# --------------------------------------------------------------------------

bucket_assignments = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=3),    # bucket key
        st.integers(min_value=0, max_value=400),  # member id
    ),
    min_size=0,
    max_size=60,
    unique=True,
)


@given(
    rows=bucket_assignments,
    small_cap=st.sampled_from([2, 3, 8]),
    member_ckpt=st.booleans(),
)
@settings(**_SETTINGS)
def test_bucket_pairs_matches_bruteforce(spark, rows, small_cap, member_ckpt):
    """bucket_pairs (grid-salted join) must produce exactly the i<j pairs
    of each bucket for arbitrary memberships — tiny small_cap values
    force the grid path (G > 1) that production only hits on hot
    buckets, including the ga==gb diagonal cells and cap-boundary
    buckets. member_ckpt=False (round 8: the semdedup no-double-storage
    path, where both sides re-derive the salt annotation map-side) must
    be pair-for-pair identical to the checkpointed form."""
    from itertools import combinations

    from hri_flink_pipeline_core_spark.operators.dedup import bucket_pairs

    df = spark.createDataFrame(rows or [(0, -1)], "bucket int, doc_id int")
    if not rows:
        df = df.filter(F.lit(False))
    got = sorted(
        (r.doc_id_a, r.doc_id_b)
        for r in bucket_pairs(
            df,
            keys=["bucket"],
            fields=["doc_id"],
            small_cap=small_cap,
            member_ckpt=member_ckpt,
        ).collect()
    )

    by_bucket: dict[int, list[int]] = {}
    for b, d in rows:
        by_bucket.setdefault(b, []).append(d)
    want = sorted(
        (a, c)
        for ids in by_bucket.values()
        for a, c in combinations(sorted(ids), 2)
    )
    assert got == want


@given(rows=bucket_assignments)
@settings(**_SETTINGS)
def test_bucket_pairs_max_bucket_blacklist(spark, rows):
    """max_bucket must drop oversized buckets entirely (the LSH skew
    blacklist), keeping every pair of the surviving buckets."""
    from itertools import combinations

    from hri_flink_pipeline_core_spark.operators.dedup import bucket_pairs

    cap = 5
    df = spark.createDataFrame(rows or [(0, -1)], "bucket int, doc_id int")
    if not rows:
        df = df.filter(F.lit(False))
    got = sorted(
        (r.doc_id_a, r.doc_id_b)
        for r in bucket_pairs(
            df, keys=["bucket"], fields=["doc_id"], small_cap=3, max_bucket=cap
        ).collect()
    )
    by_bucket: dict[int, list[int]] = {}
    for b, d in rows:
        by_bucket.setdefault(b, []).append(d)
    want = sorted(
        (a, c)
        for ids in by_bucket.values()
        if len(ids) <= cap
        for a, c in combinations(sorted(ids), 2)
    )
    assert got == want


def _bpe_train_python(texts, n_merges):
    """Reference BPE: word-frequency table, greedy left-to-right merge,
    ties -> lexicographically smallest pair."""
    import re as _re
    from collections import Counter

    freq = Counter()
    for t in texts:
        for w in _re.split(r"\s+", t):
            if w:
                freq[w] += 1
    words = {w: list(w) for w in freq}
    merges = []
    for i in range(n_merges):
        counts = Counter()
        for w, syms in words.items():
            f = freq[w]
            for a, b in zip(syms, syms[1:]):
                counts[(a, b)] += f
        if not counts:
            break
        (left, right), cnt = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        merges.append((i, left, right, left + right, cnt))
        for w, syms in words.items():
            out, j = [], 0
            while j < len(syms):
                if j + 1 < len(syms) and syms[j] == left and syms[j + 1] == right:
                    out.append(left + right)
                    j += 2
                else:
                    out.append(syms[j])
                    j += 1
            words[w] = out
    return merges


texts_strategy = st.lists(
    st.text(alphabet="abc ", min_size=1, max_size=24), min_size=1, max_size=8
)


@given(texts=texts_strategy)
@settings(**{**_SETTINGS, "max_examples": 5})
def test_bpe_train_matches_python_reference(spark, texts):
    """Both bpe_train execution paths — the driver-local merge loop
    (vocabulary under budget, the round-13 default at test scale) and
    the distributed per-round loop (BPE_LOCAL_MAX_WORDS patched to 0) —
    must match the pure-Python reference, and therefore each other.
    (mock.patch, not monkeypatch: hypothesis rejects function-scoped
    fixtures inside @given.)"""
    from hri_flink_pipeline_core_spark.operators import text as TX

    df = spark.createDataFrame([(t,) for t in texts], "text string")
    expected = _bpe_train_python(texts, 6)
    for budget in (TX.BPE_LOCAL_MAX_WORDS, 0):
        with mock.patch.object(TX, "BPE_LOCAL_MAX_WORDS", budget):
            got = [
                (r.merge_idx, r.left, r.right, r.merged, r.pair_count)
                for r in TX.bpe_train(df, n_merges=6)
                .orderBy("merge_idx")
                .collect()
            ]
        assert got == expected, f"budget={budget}"


def test_bpe_train_regex_special_symbols(spark):
    """The Java Pattern.quote edge cases the hypothesis alphabet (abc )
    never reaches: symbols containing backslash-E (terminates a naive
    \\Q..\\E quote early — bpe_train splices \\E\\\\E\\Q exactly like
    Pattern.quote), and replacement strings containing $ and \\ (Java
    replacement metacharacters). Each word forces merges whose pattern
    or replacement would misbehave unescaped."""
    from hri_flink_pipeline_core_spark.operators import text as TX

    texts = [
        "\\E\\E\\E\\E",  # merged symbol "\\E" embeds \E in the pattern
        "$$$$ $$$$",      # replacement "$$" needs $-escaping
        "a.b a.b a.b",    # '.' must not act as regex wildcard
        "((((",           # unbalanced paren would break live regex
    ]
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    expected = _bpe_train_python(texts, 8)
    for budget in (TX.BPE_LOCAL_MAX_WORDS, 0):
        with mock.patch.object(TX, "BPE_LOCAL_MAX_WORDS", budget):
            got = [
                (r.merge_idx, r.left, r.right, r.merged, r.pair_count)
                for r in TX.bpe_train(df, n_merges=8)
                .orderBy("merge_idx")
                .collect()
            ]
        assert got == expected, f"budget={budget}"


# ---------------------------------------------------------------------------
# prefix-filter similarity join: exactness (zero false negatives) vs
# brute-force all-pairs Jaccard over arbitrary tiny corpora
# ---------------------------------------------------------------------------

docs_strategy = st.lists(
    st.lists(
        st.sampled_from("alpha beta gamma delta epsilon zeta".split()),
        min_size=0,
        max_size=8,
    ).map(" ".join),
    min_size=2,
    max_size=10,
)


@given(
    texts=docs_strategy,
    # 0.8/0.7 are non-dyadic: their exact float ratio has a ~4.5e15
    # numerator, the ADVICE-r4 BIGINT-wrap case the DECIMAL prefix_len
    # now guards — exercising them pins zero-false-negatives for
    # non-dyadic thresholds, not just t=0.5
    t=st.sampled_from([0.5, 0.7, 0.8]),
)
@settings(**_SETTINGS)
def test_prefix_filter_pairs_matches_bruteforce_jaccard(spark, texts, t):
    from hri_flink_pipeline_core_spark.operators.dedup import (
        prefix_filter_pairs,
    )

    k = 2
    df = spark.createDataFrame(
        [(i, s) for i, s in enumerate(texts)], "doc_id long, text string"
    )

    def sh(s):
        toks = [w for w in s.split(" ") if w]
        if len(toks) >= k:
            return {
                " ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)
            }
        if toks:
            return {" ".join(toks)}
        return set()

    sets = {i: sh(s) for i, s in enumerate(texts)}
    expected = set()
    for a in sets:
        for b in sets:
            if a < b and sets[a] and sets[b]:
                inter = len(sets[a] & sets[b])
                union = len(sets[a] | sets[b])
                if inter / union >= t:
                    expected.add((a, b))
    got = {
        (r.doc_a, r.doc_b)
        for r in prefix_filter_pairs(df, k=k, threshold=t).collect()
    }
    # EXACT join: both directions — no false negatives AND no survivors
    # below threshold
    assert got == expected


# ---------------------------------------------------------------------------
# Count-Min sketch: the estimate never undercounts, for any key stream
# ---------------------------------------------------------------------------

stream_strategy = st.lists(
    st.sampled_from("k0 k1 k2 k3 k4 k5 k6 k7".split()), min_size=1, max_size=60
)


@given(stream=stream_strategy)
@settings(**_SETTINGS)
def test_countmin_never_undercounts(spark, stream):
    """The defining CM guarantee (estimate >= exact, for EVERY key) on an
    adversarially small sketch (width 4 -> heavy collisions), computed
    with the same build-from-vocab plan q_countmin_heavy uses."""
    from collections import Counter

    from hri_flink_pipeline_core_spark.operators.text import hash32

    width, rows_n = 4, 3
    vocab = spark.createDataFrame(
        list(Counter(stream).items()), "tok string, cnt long"
    )
    rows_arr = F.array(*[F.lit(i) for i in range(rows_n)])

    def cm_col(tok_col, r_col):
        return hash32(
            F.concat(F.lit("cm"), r_col.cast("string"), F.lit("-"), tok_col)
        ) % width

    cells = (
        vocab.select("tok", "cnt", F.explode(rows_arr).alias("r"))
        .select("r", cm_col(F.col("tok"), F.col("r")).alias("col"), "cnt")
        .groupBy("r", "col")
        .agg(F.sum("cnt").alias("c"))
    )
    probe = vocab.select("tok", "cnt", F.explode(rows_arr).alias("r")).select(
        "tok", "cnt", "r", cm_col(F.col("tok"), F.col("r")).alias("col")
    )
    est = (
        probe.join(cells, ["r", "col"])
        .groupBy("tok", "cnt")
        .agg(F.min("c").alias("cm_est"))
        .collect()
    )
    exact = Counter(stream)
    assert len(est) == len(exact)
    for r in est:
        assert r.cm_est >= exact[r.tok], (r.tok, r.cm_est, exact[r.tok])


# --- round-7 array-shaped rewrites vs pure-Python references -----------------

_span_texts = st.lists(
    st.lists(st.sampled_from(["a", "b", "c", "d"]), min_size=0, max_size=12),
    min_size=1,
    max_size=6,
)


@given(token_lists=_span_texts)
@settings(**_SETTINGS)
def test_span_cut_matches_python_reference(spark, token_lists):
    """span_cut_text's round-7 shape (per-doc covered-ranges array +
    positional array filter, no anti-join) vs a direct Python
    re-implementation of the k-shingle / dup-span / cut definition —
    on tiny-vocabulary corpora that force shared shingles, span merges,
    adjacent runs, docs shorter than k, fully-covered docs and empty
    docs."""
    from hri_flink_pipeline_core_spark.operators.dedup import span_cut_text

    k, min_docs = 3, 2
    data = [(i, " ".join(toks)) for i, toks in enumerate(token_lists)]
    df = spark.createDataFrame(data, "doc_id long, text string")
    got = {
        r.doc_id: (r.clean_text, r.n_kept, r.n_dropped)
        for r in span_cut_text(df, k=k, min_docs=min_docs).collect()
    }

    # reference: same shingle-position definition as text.shingle_str_rows
    # (valid positions 0..max(n-k, 0); n<k -> one catch-all shingle; n==0
    # -> none), spans = maximal runs of dup positions, covered tokens =
    # [start, end + k - 1]
    shingle_docs: dict = {}
    positions: dict = {}
    for doc_id, toks in enumerate(token_lists):
        n = len(toks)
        ps = []
        if n > 0:
            for p in range(0, max(n - k, 0) + 1):
                ps.append((p, " ".join(toks[p : p + k])))
        positions[doc_id] = ps
        for _, s in ps:
            shingle_docs.setdefault(s, set()).add(doc_id)
    expect = {}
    for doc_id, toks in enumerate(token_lists):
        hits = sorted(
            p for p, s in positions[doc_id] if len(shingle_docs[s]) >= min_docs
        )
        covered: set = set()
        run_start = None
        prev = None
        for p in hits + [None]:
            if p is not None and prev is not None and p == prev + 1:
                prev = p
                continue
            if prev is not None:
                covered.update(range(run_start, prev + k))
            run_start, prev = p, p
        kept = [t for i, t in enumerate(toks) if i not in covered]
        expect[doc_id] = (" ".join(kept), len(kept), len(toks) - len(kept))
    assert got == expect


_funnel_events = st.lists(
    st.tuples(
        st.integers(0, 2),  # user
        st.sampled_from(["view", "click", "purchase", "other"]),
        st.integers(0, 20),  # time
    ),
    min_size=0,
    max_size=30,
)


@given(events=_funnel_events)
@settings(**_SETTINGS)
def test_event_funnel_matches_python_reference(spark, events):
    """The round-8 running-min-window funnel (_funnel_user_steps) vs the
    direct per-user definition: earliest view, earliest click strictly
    after it, earliest purchase strictly after that — including users
    with ties, missing steps, out-of-order arrivals and non-funnel
    event types. Exercises the REAL implementation (not a copy of its
    expressions), so the strictness/running-min equivalence argument in
    the helper's docstring is property-checked here."""
    if not events:
        return
    import __spark_entry__ as entrymod

    df = spark.createDataFrame(
        [(u, t, ts * 1_000_000) for (u, t, ts) in events],
        "user_id long, event_type string, tus long",
    )
    ev = df.filter(F.col("event_type").isin("view", "click", "purchase"))
    stepped = entrymod._funnel_user_steps(ev)
    # count(col) never returns NULL, so an only-'other' event list gives
    # (0, 0, 0) — matching the Python reference (round-7 review finding)
    row = stepped.agg(
        F.count("t_view").alias("nv"),
        F.count("t_click").alias("nc"),
        F.count("t_purchase").alias("np"),
    ).collect()[0]

    nv = nc = np_ = 0
    for u in {e[0] for e in events}:
        mine = [(t, ts) for (uu, t, ts) in events if uu == u]
        views = [ts for t, ts in mine if t == "view"]
        if not views:
            continue
        nv += 1
        tv = min(views)
        clicks = [ts for t, ts in mine if t == "click" and ts > tv]
        if not clicks:
            continue
        nc += 1
        tc = min(clicks)
        purchases = [ts for t, ts in mine if t == "purchase" and ts > tc]
        if purchases:
            np_ += 1
    assert (row.nv, row.nc, row.np) == (nv, nc, np_)


def test_lsh_family_degenerate_corpus_contract(spark):
    """Null/empty/whitespace documents must neither crash the LSH
    family nor leak null ids into pair output (round-9 probe, the
    class check behind the hyperplane null-semantics fix). Candidate
    generators MAY pair degenerate docs with each other (identical
    empty content is a legitimate duplicate candidate; the skew guard
    caps any such hot bucket); the exact verifiers then decide."""
    from hri_flink_pipeline_core_spark.operators import dedup as D

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy dog"),
            (3, None),
            (4, ""),
            (5, "single"),
            (6, "   "),
            (7, "the quick brown fox jumps over a lazy dog"),
        ],
        "doc_id int, text string",
    )
    cands = D.minhash_lsh_candidates(docs)
    sim = D.simhash_neardup_pairs(docs)
    ppj = D.prefix_filter_pairs(docs)
    jac = D.ngram_jaccard_pairs(docs, cands)
    for df in (cands, sim, ppj, jac):
        rows = df.collect()
        assert not any(v is None for r in rows for v in r)
    # the exact paths agree on the one real near-dup pair
    assert {(r[0], r[1]) for r in ppj.collect()} == {(1, 2)}
    assert {(r[0], r[1]) for r in jac.collect()} == {(1, 2)}


hex_strings = st.lists(
    st.text(
        alphabet=st.characters(min_codepoint=32, max_codepoint=126),
        min_size=0,
        max_size=24,
    ),
    min_size=1,
    max_size=12,
    unique=True,
)


@given(keys=hex_strings)
@settings(**{**_SETTINGS, "max_examples": 6})
def test_hexfold_slice_matches_spark_conv(spark, keys):
    """oracles.hexfold_slice (DuckDB side of the round-11 bloom double
    hash) vs Spark's conv(substring(md5, start, n), 16, 10) AND a pure-
    Python md5 reference — all three must agree on both 32-bit slices
    for arbitrary key strings."""
    import duckdb
    import hashlib

    from hri_flink_pipeline_core_spark.plans import oracles as O

    sdf = (
        spark.createDataFrame([(k,) for k in keys], "k string")
        .select(
            "k",
            F.md5(F.col("k")).alias("hx"),
        )
        .select(
            "k",
            F.conv(F.substring("hx", 1, 8), 16, 10).cast("bigint").alias("h1"),
            F.conv(F.substring("hx", 9, 8), 16, 10).cast("bigint").alias("h2"),
        )
        .toPandas()
        .set_index("k")
    )
    con = duckdb.connect()
    con.execute("CREATE TABLE t (k VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?)", [(k,) for k in keys])
    odf = con.execute(
        "SELECT k, "
        f"{O.hexfold_slice('md5(k)', 1, 8)} AS h1, "
        f"{O.hexfold_slice('md5(k)', 9, 8)} AS h2 FROM t"
    ).fetchdf().set_index("k")
    for k in keys:
        hx = hashlib.md5(k.encode("utf-8")).hexdigest()
        ref1, ref2 = int(hx[0:8], 16), int(hx[8:16], 16)
        assert int(sdf.loc[k, "h1"]) == int(odf.loc[k, "h1"]) == ref1
        assert int(sdf.loc[k, "h2"]) == int(odf.loc[k, "h2"]) == ref2


bloom_keys = st.lists(st.integers(0, 5000), min_size=1, max_size=40, unique=True)


@given(dim_keys=bloom_keys, fact_keys=bloom_keys)
@settings(**{**_SETTINGS, "max_examples": 6})
def test_bloom_double_hash_matches_python_reference(spark, dim_keys, fact_keys):
    """The round-11 Kirsch–Mitzenmeier bloom probe (one md5, k=3
    positions (h1 + i*h2) mod m, literal 64-long bitmap, unrolled
    getbit conjunction) vs a pure-Python bloom built with the identical
    hash math: membership verdicts must match per fact key, and no dim
    key may ever read false (zero false negatives by construction)."""
    import hashlib

    K, BITS = 3, 4096

    def positions(key: int) -> list[int]:
        hx = hashlib.md5(f"bf-{key}".encode()).hexdigest()
        h1, h2 = int(hx[0:8], 16), int(hx[8:16], 16)
        return [(h1 + i * h2) % BITS for i in range(K)]

    bits = set()
    for k in dim_keys:
        bits.update(positions(k))
    expected = {f: all(p in bits for p in positions(f)) for f in fact_keys}

    words = [0] * (BITS // 64)
    for p in bits:
        words[p // 64] |= 1 << (p % 64)
    bm = F.array(
        *[
            F.lit(w - (1 << 64) if w >= (1 << 63) else w).cast("long")
            for w in words
        ]
    )
    df = spark.createDataFrame([(f,) for f in fact_keys], "fk long")
    hx = df.select(
        "fk", F.md5(F.concat(F.lit("bf-"), F.col("fk").cast("string"))).alias("_hx")
    ).select(
        "fk",
        F.conv(F.substring("_hx", 1, 8), 16, 10).cast("bigint").alias("_h1"),
        F.conv(F.substring("_hx", 9, 8), 16, 10).cast("bigint").alias("_h2"),
    )
    probed = hx.select(
        "fk",
        *[((F.col("_h1") + F.lit(i) * F.col("_h2")) % BITS).alias(f"_p{i}") for i in range(K)],
    )
    passed = None
    for i in range(K):
        p = F.col(f"_p{i}")
        bit = F.getbit(F.get(bm, (p / F.lit(64)).cast("int")), p % F.lit(64)) == F.lit(1)
        passed = bit if passed is None else (passed & bit)
    got = {
        r["fk"]: r["pass"]
        for r in probed.select("fk", passed.alias("pass")).collect()
    }
    assert got == expected
    for k in set(dim_keys) & set(fact_keys):
        assert got[k] is True  # zero false negatives

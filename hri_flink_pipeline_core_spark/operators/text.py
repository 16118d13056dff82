"""Text-analysis operators for large-scale training-data pipelines
(north-star surface beyond the reference; BASELINE.json).

Everything here is pure Column expressions — per-row, JVM-side, inside
whole-stage codegen, no shuffle, no Python. At 100 TB these run at scan
speed with full column pruning; the only shuffles are in the downstream
groupBys (dedup buckets), never here.

Cross-engine determinism: hashing is md5-based (identical bytes->hex in
Spark and DuckDB) folded to int via base-16 digit fold, so every operator
has an exact DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from .cache import checkpoint_small

# 30-bit modulus for permutation hashing: a*h+b stays < 2^62 (no int64
# overflow under ANSI mode) with h < 2^32 and a < 2^30.
HASH_P = 1_073_741_789  # largest prime < 2^30

TOKEN_SPLIT_RE = r"\s+"
# BPE-ish pre-tokenizer: word pieces, numbers, or single non-space symbols
# (a simplification of the GPT-2 pre-tokenize regex, expressible in both
# Spark and DuckDB regex dialects).
BPE_TOKEN_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"

STOPWORDS = (
    "the a an of to and in is it for on with as at by that this".split()
)


def tokens(text: Column) -> Column:
    """Whitespace tokens, empty strings removed."""
    return F.filter(F.split(text, TOKEN_SPLIT_RE), lambda t: t != F.lit(""))


def token_count_ws(text: Column) -> Column:
    return F.size(tokens(text))


def token_count_bpe(text: Column) -> Column:
    """Token count under the BPE-ish pre-tokenizer regex."""
    return F.size(F.regexp_extract_all(text, F.lit(BPE_TOKEN_RE), 0))


def hash32(s: Column) -> Column:
    """Deterministic 32-bit-range hash of a string via md5 — identical in
    DuckDB via the base-16 digit fold (see tests/oracle SQL)."""
    return F.conv(F.substring(F.md5(s), 1, 8), 16, 10).cast("bigint")


def hash60(s: Column) -> Column:
    """60-bit md5-prefix hash (for fingerprints / simhash bit source)."""
    return F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("bigint")


def shingles(text: Column, k: int = 5) -> Column:
    """Word k-gram shingles as an array<string> — built by index
    transform over the token array (per-row, no explode/shuffle).

    The token array is LET-BOUND by wrapping it in a one-element array
    and running the shingle construction inside a ``transform`` lambda,
    so the split+filter tokenization evaluates ONCE per row. Inlining
    ``tokens(text)`` at each reference site instead re-runs the full
    regex split at every (shingle index, offset) site of the inner
    lambda — higher-order functions evaluate interpreted, and no
    subexpression elimination hoists a subtree out of the per-element
    loop (round 12: 4.48 s -> 0.61 s for the sf~1 corpus shingle
    explode-count, identical gram multiset both ways)."""

    def _body(toks: Column) -> Column:
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

    return F.get(F.transform(F.array(tokens(text)), _body), 0)


def quality_score(text: Column) -> Column:
    """Composite quality heuristic in [0,1]: length band, punctuation
    ratio, stopword ratio, mean token length. All-integer/regex derived
    -> exact cross-engine."""
    # token array let-bound like shingles() (round 12): n_tok and the
    # stopword filter each inlined the full split tree, and the HOF
    # filter blocks codegen CSE — 0.77 -> 0.64 s on the sf~1 corpus sum
    def _body(toks: Column) -> Column:
        n_chars = F.length(text)
        n_tok = F.size(toks)
        n_punct = F.size(F.regexp_extract_all(text, F.lit(r"[^\w\s]"), 0))
        n_stop = F.size(
            F.filter(toks, lambda t: F.lower(t).isin([*STOPWORDS]))
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

    return F.get(F.transform(F.array(tokens(text)), _body), 0)


# language-ID: character-class evidence first (scripts), then stopword
# vote with deterministic tiebreak order.
_LANG_MARKERS = {
    "en": "the and of to is in it you that was".split(),
    "es": "el la de que y en un los del se".split(),
    "fr": "le la de et les des en du un une".split(),
    "de": "der die und das den von zu mit sich des".split(),
}
_LANG_ORDER = ("en", "es", "fr", "de")


def lang_id(text: Column) -> Column:
    """Heuristic language ID: CJK script ratio -> 'zh'; else the language
    whose marker-word hit count is highest (ties resolved in _LANG_ORDER);
    no hits at all -> 'und'."""
    # token array let-bound like shingles() (round 12): each of the four
    # per-language marker scores inlined transform(tokens(text)) — HOFs
    # block codegen CSE — 1.23 -> 0.95 s on the sf~1 groupBy-count
    def _body(toks: Column) -> Column:
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

    lowered = F.transform(tokens(text), lambda t: F.lower(t))
    return F.get(F.transform(F.array(lowered), _body), 0)


def fingerprint(text: Column, k: int = 5) -> Column:
    """Document fingerprint: minimum shingle hash (bottom-1 sketch of the
    k-shingle set — equal fingerprints => likely near-identical prefix
    content). Content-defined, order-invariant to distributed layout."""
    return F.array_min(F.transform(shingles(text, k), hash32))


def normalized_md5(text: Column) -> Column:
    """Exact-dup key: md5 of lowercased, whitespace-collapsed text."""
    return F.md5(F.trim(F.regexp_replace(F.lower(text), r"\s+", " ")))


# PII scrub patterns — restricted to the regex subset that Java
# (Spark codegen) and RE2-style engines (DuckDB oracle) evaluate
# identically: literal classes, bounded/unbounded counted repetition.
# Order matters: the email/phone shapes contain digit runs, so they
# must be replaced before the bare <NUM> rule fires.
PII_PATTERNS: list[tuple[str, str]] = [
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"[0-9]{3}[-.][0-9]{3,4}[-.][0-9]{4}", "<PHONE>"),
    (r"[0-9]{4,}", "<NUM>"),
]


def pii_redact(text: Column) -> Column:
    """Training-corpus PII scrub: chained whole-string regexp_replace
    (emails, phone shapes, long digit runs). Each replace is a codegen'd
    JVM regex pass — no UDF, scales as a pure map stage."""
    out = text
    for pat, token in PII_PATTERNS:
        out = F.regexp_replace(out, pat, token)
    return out


# --- distributed (explode + codegen) forms ---------------------------------
# Spark evaluates higher-order-function lambdas (transform/aggregate) in
# the INTERPRETED expression path — md5 inside a lambda runs ~40x slower
# than the same md5 in a whole-stage-codegen projection. The row-per-
# shingle forms below explode first so every hash runs codegen'd, then
# partial-aggregate back to one row per document (map-side combine: the
# shuffle carries O(docs) rows, not O(shingles)). This is also the shape
# that scales: at 100 TB the explode output never materializes — it
# streams through the agg inside one stage.

# Vocabulary budget for the driver-local BPE merge loop (rows of the
# word-frequency table). At or under the budget the 20 data-dependent
# merge rounds run in the driver on the COLLECTED word table; above it
# the distributed per-round loop runs unchanged. 65,536 rows of
# (sym, freq) is a few MB — the same bounded-collect class as the kmv
# sketches (k rows) and the literal model budget (32k cells). 0 disables
# the local path (tests patch it to 0 to pin local == distributed).
BPE_LOCAL_MAX_WORDS = 65536


def _bpe_train_local(rows, n_merges: int):
    """Driver-local BPE merge loop over collected (sym, freq) rows —
    the identical greedy algorithm the distributed loop runs: per round,
    adjacent-pair counts weighted by word frequency; argmax by
    (count desc, left asc, right asc); left-to-right non-overlapping
    merge. String ties compare identically in Python (code points) and
    Spark (UTF8 bytes) — UTF-8 byte order IS code-point order. The
    left-to-right list scan is the same non-overlapping replacement
    order as the distributed loop's zero-width-lookaround
    regexp_replace (pinned against it in tests, including the
    Pattern.quote edge cases — the local scan has no regex at all, so
    the quoting hazards vanish rather than needing escapes)."""
    from collections import Counter

    words = [(sym.split(" "), int(freq)) for sym, freq in rows]
    merges = []
    for i in range(n_merges):
        counts: Counter = Counter()
        for syms, f in words:
            for a, b in zip(syms, syms[1:]):
                counts[(a, b)] += f
        if not counts:
            break
        (left, right), cnt = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        merges.append((i, left, right, left + right, int(cnt)))
        for w, (syms, f) in enumerate(words):
            out, j = [], 0
            while j < len(syms):
                if j + 1 < len(syms) and syms[j] == left and syms[j + 1] == right:
                    out.append(left + right)
                    j += 2
                else:
                    out.append(syms[j])
                    j += 1
            words[w] = (out, f)
    return merges


def bpe_train(
    df,
    text_col: str = "text",
    n_merges: int = 20,
):
    """Train a byte-pair-encoding merge table on the corpus — the
    tokenizer-construction step of an LLM data pipeline, in the
    word-frequency form GPT-2-style BPE uses: tokenization state lives
    on the DISTINCT-WORD table (vocabulary-keyed, orders of magnitude
    smaller than the corpus — the corpus itself is read exactly once,
    for the word counts), and each merge round is

      1. adjacent-pair counts: one partial-agg shuffle over the word
         table's symbol sequences, each pair weighted by word frequency;
      2. argmax pair (count desc, then pair lexicographic — fully
         deterministic): a 1-row driver collect, the same honest
         driver-action-per-round cost as connected_components_star;
      3. merge application: a pure-codegen regexp_replace on the word
         table. Symbols are space-joined, and the pattern anchors the
         pair between string-edge/space LOOKAROUNDS — a bare substring
         replace would merge across symbol boundaries ("ab c" contains
         "b c"), and consuming the delimiters would skip adjacent
         disjoint occurrences ("a a a a" must become "aa aa"). With
         zero-width boundaries, Java's non-overlapping left-to-right
         replacement is exactly standard BPE merge order.

    Returns the merge table (merge_idx, left, right, merged) — the
    artifact a tokenizer ships. Deterministic on any engine and
    partitioning; verified against a pure-Python reference
    implementation in tests (iterative + data-dependent, so there is
    deliberately no SQL oracle).

    Scale: the word table is checkpoint-truncated every few rounds
    (lineage grows one string-replace per merge); pair counting is the
    only shuffle and it runs on vocabulary-sized data. 100 TB corpora
    train tokenizers exactly this way — frequency table first."""
    from pyspark.sql import functions as F

    words = (
        df.select(F.explode(tokens(F.col(text_col))).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
        .select(
            # the zero-width split pattern also matches at end-of-string,
            # yielding a trailing "" element — drop empties or the
            # space-join grows a phantom empty symbol
            F.concat_ws(
                " ", F.array_remove(F.split(F.col("w"), "(?!^)"), "")
            ).alias("sym"),
            "freq",
        )
    ).transform(checkpoint_small)
    spark = df.sparkSession

    # Driver-local merge loop under a vocabulary budget (round 13): the
    # heavy, corpus-scale work — tokenize + word-frequency aggregation —
    # is the Spark pipeline above and runs regardless; the 20 merge
    # rounds then operate on the VOCABULARY-sized table only. Under the
    # budget, 20 sequential Spark actions over a kilobyte table are
    # pure per-round job floor (measured sf0.1: 31-row vocabulary,
    # ~0.25 s/round, ~5 s of 5.9 s total), so the rounds run in the
    # driver on the collected table instead — same algorithm, same
    # result (pinned local == distributed in tests), one bounded
    # limit+collect action in place of 20+ jobs. Above the budget the
    # distributed loop below runs unchanged — the same measured-
    # crossover pattern as the literal-model budget in similarity.py.
    if BPE_LOCAL_MAX_WORDS > 0:
        head = words.limit(BPE_LOCAL_MAX_WORDS + 1).collect()
        if len(head) <= BPE_LOCAL_MAX_WORDS:
            merges = _bpe_train_local(
                [(r["sym"], r["freq"]) for r in head], n_merges
            )
            return spark.createDataFrame(
                merges,
                "merge_idx int, left string, right string, merged string,"
                " pair_count long",
            )

    # the word table is VOCABULARY-sized; partition it proportionally
    # (one partition per ~64k words, capped at the cluster default) so
    # the 20 per-round jobs don't each schedule a corpus-sized task set
    # over a thousand-row table — the same right-sizing AQE applies to
    # shuffle outputs, done once here for the loop's checkpointed input.
    n_words = words.count()
    target = max(1, min(words.rdd.getNumPartitions(), n_words // 65536 + 1))
    if target < words.rdd.getNumPartitions():
        words = words.coalesce(target)

    merges = []
    for i in range(n_merges):
        syms = words.select(F.split(F.col("sym"), " ").alias("s"), "freq")
        pairs = syms.select(
            F.explode(
                F.zip_with(
                    F.slice(F.col("s"), 1, F.greatest(F.size("s") - 1, F.lit(0))),
                    F.slice(F.col("s"), 2, F.greatest(F.size("s") - 1, F.lit(0))),
                    lambda a, b: F.struct(a.alias("l"), b.alias("r")),
                )
            ).alias("p"),
            "freq",
        )
        top = (
            pairs.groupBy("p.l", "p.r")
            .agg(F.sum("freq").alias("cnt"))
            .orderBy(F.col("cnt").desc(), F.col("l").asc(), F.col("r").asc())
            .limit(1)
            .collect()
        )
        if not top or top[0]["cnt"] is None:
            break
        left, right, cnt = top[0]["l"], top[0]["r"], top[0]["cnt"]
        merges.append((i, left, right, left + right, int(cnt)))
        # Literal-quote the pair with Java Pattern.quote semantics: a
        # bare \Q..\E wrapper breaks if a symbol itself contains "\E"
        # (which would terminate quoting early and leave live regex) —
        # Pattern.quote splices \E\\E\Q at each embedded \E, exactly
        # reproduced here. The lookarounds are zero-width so adjacent
        # disjoint pairs both merge.
        quoted = "\\Q" + f"{left} {right}".replace("\\E", "\\E\\\\E\\Q") + "\\E"
        pattern = f"(?<=^| ){quoted}(?= |$)"
        # Java replacement strings treat \ and $ specially — quote them.
        rep = (left + right).replace("\\", "\\\\").replace("$", "\\$")
        words = words.select(
            F.regexp_replace(
                F.col("sym"), F.lit(pattern), F.lit(rep)
            ).alias("sym"),
            "freq",
        )
        # checkpoint cadence 2 measured fastest (round 5, min-of-3 at
        # sf0.1: every-5 6.6 s, every-2 6.0 s, every-1 6.8 s — shorter
        # regexp_replace chains beat the extra eager jobs up to the
        # point where per-round materialization dominates)
        if (i + 1) % 2 == 0:
            words = words.transform(checkpoint_small)

    return spark.createDataFrame(
        merges, "merge_idx int, left string, right string, merged string, pair_count long"
    )


def shingle_str_rows(df, text_col: str = "text", id_col: str = "doc_id", k: int = 5):
    """(doc_id, shingle) — one row per word-k-gram shingle STRING, fully
    whole-stage-codegen (explode of an index sequence + concat_ws of
    F.get lookups — no interpreted array lambdas). Shingle strings match
    ``shingles()`` exactly: n>=k -> n-k+1 k-grams; 0<n<k -> one shingle
    of all tokens (out-of-range gets are null, concat_ws skips them);
    n==0 -> no rows (parity with the empty array)."""
    base = df.select(
        F.col(id_col).alias("doc_id"), tokens(F.col(text_col)).alias("_toks")
    ).filter(F.size("_toks") > 0)
    # SQL strings (two expr parses) instead of per-Column py4j calls —
    # identical plan; this builder sits under ~10 query plans and the
    # Column form costs ~20 driver round trips per call (round 8;
    # `get()` is the SQL spelling of F.get: 0-based, null out-of-range)
    gets = ", ".join(f"get(_toks, _i + {off})" for off in range(k))
    return base.selectExpr(
        "doc_id",
        "_toks",
        f"explode(sequence(0, greatest(size(_toks) - {k}, 0))) AS _i",
    ).selectExpr("doc_id", "_i AS pos", f"concat_ws(' ', {gets}) AS shingle")


def shingle_hash_rows(
    df,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    with_pos: bool = False,
):
    """(doc_id[, pos], h) — one row per word-k-gram shingle, md5-hashed
    in codegen (see shingle_str_rows for the shingle-string contract).
    ``with_pos`` keeps the 0-based shingle position (span extraction)."""
    rows = shingle_str_rows(df, text_col, id_col, k)
    cols = ["doc_id", "pos"] if with_pos else ["doc_id"]
    return rows.select(*cols, hash32(F.col("shingle")).alias("h"))


def token_hash_rows(df, text_col: str = "text", id_col: str = "doc_id"):
    """(doc_id, h) — one row per DISTINCT whitespace token, 60-bit
    md5-hashed in codegen (simhash input)."""
    ex = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.array_distinct(tokens(F.col(text_col)))).alias("_t"),
    )
    return ex.select("doc_id", hash60(F.col("_t")).alias("h"))


def doc_fingerprints(df, text_col: str = "text", id_col: str = "doc_id", k: int = 5):
    """(doc_id, fingerprint, content_key) — bottom-1 shingle-hash sketch +
    exact-dup key, distributed form of ``fingerprint``/``normalized_md5``
    (identical values)."""
    fp = (
        shingle_hash_rows(df, text_col, id_col, k)
        .groupBy("doc_id")
        .agg(F.min("h").alias("fingerprint"))
    )
    keys = df.select(
        F.col(id_col).alias("doc_id"),
        normalized_md5(F.col(text_col)).alias("content_key"),
    )
    return keys.join(fp, "doc_id", "left").select(
        "doc_id", "fingerprint", "content_key"
    )

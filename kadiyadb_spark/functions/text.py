"""Text analysis operators: tokenization, token counting, language ID,
quality scoring, document fingerprinting.

All pure ``pyspark.sql.functions`` (JVM-side, whole-stage codegen); every
operator has a 1:1 ANSI-SQL twin used as the DuckDB oracle. At 100 TB these
are embarrassingly parallel map-side transforms — no shuffle at all.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from kadiyadb_spark.functions.num import bind1, round4_expr

# Marker stopwords per language for the n-gram/stopword language-ID
# heuristic. Deterministic priority order breaks ties.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "it", "that", "for"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit", "auf", "zu"],
    "es": ["el", "la", "los", "las", "es", "un", "una", "que", "de", "por"],
    "fr": ["le", "la", "les", "et", "est", "un", "une", "que", "pour", "dans"],
}
LANG_PRIORITY = ["en", "de", "es", "fr"]

EN_STOPWORDS = LANG_MARKERS["en"]

# THE whitespace class, stated explicitly on both engines (review finding:
# Java \s includes \x0B, RE2's does not — the exact trap normalize_text's
# docstring warns about; these predate that learning). Spark semantics are
# unchanged (this IS Java's ASCII \s); the DuckDB twins now match on
# \x0B-bearing input too.
WS_CLASS = "[ \t\n\x0B\f\r]"

# BPE-ish subword proxy: alternating letter/digit runs + single punctuation,
# the classic pre-tokenizer split. Same regex works in DuckDB (with the
# explicit whitespace class on both sides).
BPE_TOKEN_RE = r"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 \t\n\x0B\f\r]"


def tokens_expr(text: Column) -> Column:
    """Whitespace tokens of lowercased text, empties removed."""
    return F.filter(F.split(F.lower(text), WS_CLASS + "+"), lambda t: t != "")


def normalize_expr(text: Column) -> Column:
    """Canonical form for fingerprint/dedup: lowercase, collapse whitespace."""
    return F.trim(F.regexp_replace(F.lower(text), WS_CLASS + "+", " "))


def token_stats(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Token counting: whitespace tokens, distinct tokens, BPE-ish subword
    count, average token length."""
    # tokenize once into a staged column (r13): four references in one
    # projection re-split the text four times (no interpreted-HOF CSE)
    staged = df.select(
        F.col(id_col),
        F.col(text_col).alias("_text"),
        tokens_expr(F.col(text_col)).alias("_toks"),
    )
    toks = F.col("_toks")
    return staged.select(
        F.col(id_col),
        F.size(toks).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_unique_tokens"),
        F.regexp_count(F.col("_text"), F.lit(BPE_TOKEN_RE)).cast("long").alias("n_subwords"),
        round4_expr(
            F.aggregate(toks, F.lit(0.0), lambda acc, t: acc + F.length(t))
            / F.greatest(F.size(toks), F.lit(1))
        ).alias("avg_token_len"),
    )


def language_id(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Stopword-marker language ID: score = |distinct tokens ∩ markers(lang)|,
    argmax with fixed priority-order tiebreak; 'und' (undetermined) if all
    scores are zero."""
    # distinct tokens staged once (r13): each language's intersect —
    # plus every argmax comparison — otherwise re-tokenized the text
    staged = df.select(
        F.col(id_col), F.array_distinct(tokens_expr(F.col(text_col))).alias("_toks")
    )
    scored = staged.select(
        F.col(id_col),
        *[
            F.size(
                F.array_intersect(F.col("_toks"), F.array(*[F.lit(w) for w in words]))
            ).alias(f"_s_{lang}")
            for lang, words in LANG_MARKERS.items()
        ],
    )
    scores = {lang: F.col(f"_s_{lang}") for lang in LANG_MARKERS}
    # priority-ordered argmax: first lang whose score equals the max and > 0
    mx = F.greatest(*scores.values())
    lang = F.when(mx <= 0, F.lit("und"))
    for code in LANG_PRIORITY:
        lang = lang.when(scores[code] == mx, F.lit(code))
    out = scored.select(
        F.col(id_col),
        lang.alias("lang_pred"),
        *[scores[c].cast("long").alias(f"score_{c}") for c in LANG_PRIORITY],
    )
    return out


def quality_score(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Heuristic document quality: length band, stopword ratio, alphabetic
    ratio, repetition. Rounded to 4dp for cross-engine comparability."""
    text = F.col(text_col)
    # tokenize ONCE into a staged column (r13): the token split is a HOF
    # (no codegen CSE), so referencing it from five output expressions in
    # one projection re-split the text five times per row
    staged = df.select(F.col(id_col), text.alias("_text"), tokens_expr(text).alias("_toks"))
    toks = F.col("_toks")
    n = F.size(toks)
    n_d = F.greatest(n, F.lit(1)).cast("double")
    stop_ratio = (
        F.size(F.filter(toks, lambda t: t.isin(EN_STOPWORDS))).cast("double") / n_d
    )
    uniq_ratio = F.size(F.array_distinct(toks)).cast("double") / n_d
    alpha_ratio = (
        F.length(F.regexp_replace(F.col("_text"), r"[^a-zA-Z]", "")).cast("double")
        / F.greatest(F.length(F.col("_text")), F.lit(1)).cast("double")
    )
    len_score = F.least(n.cast("double") / F.lit(100.0), F.lit(1.0))
    score = 0.25 * len_score + 0.25 * uniq_ratio + 0.25 * alpha_ratio + 0.25 * F.least(
        stop_ratio * 5.0, F.lit(1.0)
    )
    return staged.select(
        F.col(id_col),
        F.size(toks).cast("long").alias("n_tokens"),
        round4_expr(stop_ratio).alias("stopword_ratio"),
        round4_expr(uniq_ratio).alias("unique_ratio"),
        round4_expr(alpha_ratio).alias("alpha_ratio"),
        round4_expr(score).alias("quality"),
    )


def char_entropy(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Character-level Shannon entropy per document — the classic
    gibberish/encoding-junk/repetition quality signal (low-entropy docs are
    looping or boilerplate; implausibly high-entropy docs are base64 blobs,
    minified code or ciphertext — both standard pretraining-corpus cuts).

    Deterministic at any parallelism: each distinct character's entropy
    term is quantized ONCE to an exact long, ``term4(c) = floor(c·log2(c)
    ·1e4 + 0.5)``, and the per-document total is a LONG sum — associative,
    order-free — with one final double expression
    ``H = log2(n) − (Σterm4/1e4)/n`` rounded to 4dp (same construction as
    the scaled-long cube folds; a raw double Σ p·log2 p would depend on
    partition/accumulation order). The quantization defines the op: both
    engines replay the identical integers.

    Shape: ENTIRELY shuffle-free — the run-length fold over the sorted
    char array computes every distinct character's count without an
    explode + groupBy (equal chars group adjacently), so the whole signal
    streams at scan speed in the documents scan's own partitions; at
    100 TB there is no (doc, char)-keyed shuffle to pay. Empty documents
    are dropped (no distribution to measure).

    Returns (id_col, n_chars, n_distinct_chars, char_entropy)."""
    # backtick-quoted: raw interpolation breaks on column names needing
    # quoting, unlike the F.col() every sibling uses (review finding)
    chars = F.expr(
        f"transform(sequence(1, length(`{text_col}`)), i -> substring(`{text_col}`, i, 1))"
    )

    def term4(run: Column) -> Column:
        rd = run.cast("double")
        return F.when(
            run > 1, F.floor(rd * F.log2(rd) * F.lit(10000.0) + F.lit(0.5)).cast("long")
        ).otherwise(F.lit(0).cast("long"))

    # Run lengths via boundary positions over the SORTED chars: the only
    # O(n_chars) higher-order step is the boundary filter (one neighbor
    # comparison per char); everything after runs over the <=|alphabet|
    # starts array. Each intermediate array is MATERIALIZED as a projected
    # column before reuse — a lambda that closes over another higher-order
    # expression re-evaluates it per element (O(n^2): the first draft of
    # this hung at sf0.1), and interpreted HOF steps are the whole cost
    # (a struct-accumulating fold was ~2x slower than the filter form).
    # Same integers as the group-by oracle replay.
    n = F.length(F.col(text_col)).cast("long")
    staged = (
        df.filter(F.length(F.col(text_col)) > 0)
        .withColumn("_sc", F.array_sort(chars))
        .withColumn(
            "_starts",
            F.filter(
                F.sequence(F.lit(1), F.size(F.col("_sc"))),
                lambda i: (i == 1)
                | (F.element_at(F.col("_sc"), i) != F.element_at(F.col("_sc"), i - 1)),
            ),
        )
        .withColumn(
            "_runs",
            F.zip_with(
                F.concat(
                    F.slice(F.col("_starts"), 2, F.greatest(F.size(F.col("_starts")) - 1, F.lit(0))),
                    F.array(F.size(F.col("_sc")) + 1),
                ),
                F.col("_starts"),
                lambda nxt, s: nxt.cast("long") - s.cast("long"),
            ),
        )
    )
    ent4 = F.aggregate(
        F.col("_runs"), F.lit(0).cast("long"), lambda acc, r: acc + term4(r)
    )
    nd = n.cast("double")
    return staged.select(
        F.col(id_col),
        n.alias("n_chars"),
        F.size(F.col("_starts")).cast("long").alias("n_distinct_chars"),
        round4_expr(
            F.log2(nd) - (ent4.cast("double") / F.lit(10000.0)) / nd
        ).alias("char_entropy"),
    )


def fingerprint(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Deterministic document fingerprint: md5 of the normalized text (exact
    content identity modulo case/whitespace)."""
    return df.select(
        F.col(id_col),
        F.md5(normalize_expr(F.col(text_col)).cast("binary")).alias("fp"),
    )


def winnow_fingerprint(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    num_mins: int = 4,
) -> DataFrame:
    """Winnowing-style robust fingerprint: hash every character k-gram of the
    normalized text (the set-of-window-hashes a rolling Rabin-Karp hash
    produces — Spark has no incremental-hash expression, so each window is
    hashed directly; same values, same O(n) windows) and keep the
    ``num_mins`` smallest as the document's fingerprint. Unlike the exact
    md5 fingerprint, two documents sharing most content share most window
    hashes, so their min-sets collide — the selection step of
    winnowing/MOSS-style local fingerprinting. Shuffle-free map transform;
    the identical arithmetic runs in the DuckDB oracle.

    A doc with fewer than ``num_mins`` DISTINCT window hashes (short or
    single-repeated-char text) pads its min-set by CYCLING the available
    hashes — deterministic, replayed by the oracle; the unpadded form
    emitted NULL min columns that silently never joined in
    winnow_near_duplicates (and raised under ANSI element_at) for exactly
    the most repetitive docs the dedup targets (review finding)."""
    # r13 (guide §1.2 per-task work): every expensive intermediate is
    # let-bound (num.bind1) and the min-set array is materialized ONCE in
    # its own projection. The previous single-expression form captured
    # ``norm`` inside the window lambda (whole-document regex normalize
    # re-run per window position — O(n²)) and ``distinct_sorted`` (the
    # full window-hash chain) inside the cycling lambda AND once per
    # output column — measured 20x end-to-end at sf0.1, identical values.
    def mins_of(norm: Column) -> Column:
        n = F.length(norm)
        idx = F.sequence(F.lit(1), F.greatest(n - (k - 1), F.lit(1)))
        hashes = F.transform(
            idx,
            lambda i: F.conv(F.substring(F.md5(F.substring(norm, i, k).cast("binary")), 1, 8), 16, 10).cast("long"),
        )

        def cycle(ds: Column) -> Column:
            sz = F.size(ds)
            return F.transform(
                F.sequence(F.lit(1), F.lit(num_mins)),
                lambda j: F.element_at(ds, ((j - 1) % sz + 1).cast("int")),
            )

        return bind1(F.array_sort(F.array_distinct(hashes)), cycle)

    staged = df.select(
        F.col(id_col), bind1(normalize_expr(F.col(text_col)), mins_of).alias("_mins")
    )
    return staged.select(
        F.col(id_col),
        *[F.element_at(F.col("_mins"), j + 1).alias(f"min{j}") for j in range(num_mins)],
    )


def word_ngrams_expr(text: Column, n: int) -> Column:
    """Space-joined word n-grams of the whitespace tokens; a document with
    fewer than ``n`` tokens yields an empty array. Map-side transform over
    a generated index sequence — no UDF, no shuffle. Tokens are let-bound
    (num.bind1): the slice lambda otherwise re-splits the whole text per
    gram (r13 HOF-capture fix)."""

    def body(toks: Column) -> Column:
        cnt = F.size(toks)
        grams = F.transform(
            F.sequence(F.lit(1), cnt - (n - 1)),
            lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
        )
        # sequence(1, stop) DESCENDS when stop < 1 — guard short docs explicitly.
        return F.when(cnt >= n, grams).otherwise(F.array().cast("array<string>"))

    return bind1(tokens_expr(text), body)


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Benchmark decontamination: flag corpus documents sharing any word
    ``n``-gram with an evaluation set — the standard leakage check before
    training (eval answers memorized verbatim inflate benchmarks).

    Returns ``(doc_id, n_hits)`` with n_hits = count of DISTINCT benchmark
    n-grams the document contains (>= 1 by construction).

    Scale shape: the benchmark is tiny by nature (eval sets, not corpora) —
    its distinct gram set broadcasts; the corpus side is a map-side explode
    + broadcast hash semi-join, then ONE groupBy keyed by doc id. The 100 TB
    corpus is never shuffled on content, only the (doc, matched-gram) hits —
    bounded by contamination volume, not corpus size."""
    bench_grams = (
        benchmark.select(F.explode(word_ngrams_expr(F.col(text_col), n)).alias("gram"))
        .distinct()
    )
    # Within-doc gram dedupe happens MAP-SIDE (array_distinct before the
    # explode), so a plain count after the join is already the distinct-gram
    # count, and the broadcast join is the map-side filter that discards
    # every clean gram in place. Only the matched hits — bounded by
    # contamination volume, not corpus size — reach the single doc-keyed
    # shuffle. A row-level distinct here instead would shuffle the ENTIRE
    # corpus gram set to dedupe rows the join is about to drop
    # (plan-asserted in tests/test_plans.py).
    doc_grams = docs.select(
        F.col(id_col),
        F.explode(F.array_distinct(word_ngrams_expr(F.col(text_col), n))).alias("gram"),
    )
    return (
        doc_grams.join(F.broadcast(bench_grams), "gram")
        .groupBy(id_col)
        .agg(F.count("*").cast("long").alias("n_hits"))
    )


def bloom_decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_bits: int = 1 << 20,
    num_hashes: int = 4,
) -> DataFrame:
    """``decontaminate`` for eval-gram sets too big to broadcast as an
    exact hash set: same EXACT result, Bloom-prefiltered probe.

    ``decontaminate`` broadcasts the benchmark's distinct grams — right
    while eval suites are MBs, wrong once the union of every benchmark's
    grams reaches 10^8+ strings (tens of GB broadcast). A Bloom filter at
    ~10 bits/gram is ~3 orders smaller, and CONSTRUCTION is distributed:
    each gram's ``num_hashes`` bit positions are computed JVM-side
    (xxhash64), and only the DISTINCT SET BIT INDICES are collected — the
    driver pull is bounded by ``num_bits`` (the filter's size), never by
    the gram count. The probe is one vectorized numpy gather per Arrow
    batch (bits[positions].all()), map-side; survivors — true matches plus
    the filter's false positives — then pass through the same exact
    broadcast gram join as ``decontaminate``, so false positives die there
    and the final (doc_id, n_hits) is bit-identical to the exact operator
    (pinned by test; the entry shares text_decontaminate's SQL oracle).

    Scale shape: corpus grams never shuffle; the only shuffle is the final
    doc-keyed count over verified hits (bounded by contamination volume).
    Note the exact verify join still broadcasts the full gram set — at the
    10^8-gram scale swap that single join for a shuffle join on the
    (tiny) survivor side; the Bloom stage already removed ~all of the
    corpus, which is where the broadcast actually mattered."""
    import numpy as np

    spark = docs.sparkSession
    gram = F.explode(word_ngrams_expr(F.col(text_col), n)).alias("gram")
    positions = F.array(
        *[
            F.pmod(F.xxhash64(F.col("gram"), F.lit(s)), F.lit(num_bits))
            for s in range(num_hashes)
        ]
    )
    bench_grams = benchmark.select(gram).distinct()
    set_bits = [
        int(r[0])
        for r in bench_grams.select(F.explode(positions).alias("b")).distinct().collect()
    ]
    bits = np.zeros(num_bits, dtype=bool)
    bits[set_bits] = True
    bc = spark.sparkContext.broadcast(bits)

    doc_grams = docs.select(
        F.col(id_col),
        F.explode(F.array_distinct(word_ngrams_expr(F.col(text_col), n))).alias("gram"),
    ).select(id_col, "gram", positions.alias("_pos"))

    def probe(batches):
        b = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            pos = np.array(pdf["_pos"].tolist(), dtype=np.int64)
            hit = b[pos].all(axis=1)
            yield pdf.loc[hit, [id_col, "gram"]]

    idt = docs.schema[id_col].dataType.simpleString()  # generic id type
    survivors = doc_grams.mapInPandas(probe, schema=f"{id_col} {idt}, gram string")
    return (
        survivors.join(F.broadcast(bench_grams), "gram")
        .groupBy(id_col)
        .agg(F.count("*").cast("long").alias("n_hits"))
    )


def repetition_score(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Within-document repetition metrics (Gopher-style quality signals):
    duplicate-token fraction, most-frequent-token fraction, duplicate-bigram
    fraction. Heavily templated or looping machine text scores high on all
    three; a filter on these is a standard pretraining-corpus gate.

    Shape: ENTIRELY shuffle-free map expressions — the top-token count is a
    fold over the sorted token array (equal tokens group adjacently, so the
    longest equal-run IS the max frequency), not an explode + groupBy. An
    exploded formulation shuffles corpus-sized (doc, token) pairs twice plus
    a join; this version never leaves the scan's partitions
    (plan-asserted in tests/test_plans.py)."""
    # tokens and bigrams staged once (r13): the seven references across the
    # metric expressions re-ran the split/gram HOFs per reference
    df = df.select(
        F.col(id_col),
        tokens_expr(F.col(text_col)).alias("_toks"),
        word_ngrams_expr(F.col(text_col), 2).alias("_grams2"),
    )
    toks = F.col("_toks")
    grams2 = F.col("_grams2")
    # max run length of equal adjacent elements in the sorted array:
    # state = (prev token, current run, best run)
    top_cnt = F.aggregate(
        F.array_sort(toks),
        F.struct(
            F.lit(None).cast("string").alias("prev"),
            F.lit(0).alias("run"),
            F.lit(0).alias("best"),
        ),
        lambda acc, t: F.struct(
            t.alias("prev"),
            F.when(t.eqNullSafe(acc["prev"]), acc["run"] + 1).otherwise(F.lit(1)).alias("run"),
            F.greatest(
                acc["best"],
                F.when(t.eqNullSafe(acc["prev"]), acc["run"] + 1).otherwise(F.lit(1)),
            ).alias("best"),
        ),
        lambda acc: acc["best"],
    )
    return df.select(
        F.col(id_col),
        F.size(toks).cast("long").alias("n_tokens"),
        round4_expr(
            F.when(
                F.size(toks) > 0,
                1.0 - F.size(F.array_distinct(toks)).cast("double") / F.size(toks),
            ).otherwise(F.lit(0.0))
        ).alias("dup_token_frac"),
        round4_expr(
            F.when(
                F.size(toks) > 0, top_cnt.cast("double") / F.size(toks)
            ).otherwise(F.lit(0.0))
        ).alias("top_token_frac"),
        round4_expr(
            F.when(
                F.size(grams2) > 0,
                1.0 - F.size(F.array_distinct(grams2)).cast("double") / F.size(grams2),
            ).otherwise(F.lit(0.0))
        ).alias("dup_bigram_frac"),
    )


# Gopher-rule stop set (Rae et al. 2021 §A1.1: "contains at least two of
# the following English words": the, be, to, of, and, that, have, with).
GOPHER_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]


def gopher_pass_expr(
    text: Column,
    min_tokens: int = 50,
    max_tokens: int = 100_000,
    min_avg_len: float = 3.0,
    max_avg_len: float = 10.0,
    max_symbol_ratio: float = 0.1,
    min_alpha_word_frac: float = 0.80,
    min_stopword_hits: int = 2,
) -> Column:
    """The Gopher verdict as ONE boolean column expression — usable directly
    in a filter() so a pipeline gates map-side with no join against a
    metrics frame (gopher_rules reports the per-metric breakdown; this is
    the decision alone). Tokens are let-bound (num.bind1, r13): the seven
    rule comparisons otherwise re-tokenized the text per reference."""

    def body(toks: Column) -> Column:
        n = F.size(toks)
        n_d = F.greatest(n, F.lit(1)).cast("double")
        symbol_ratio = (
            F.regexp_count(text, F.lit(r"#")) + F.regexp_count(text, F.lit(r"\.\.\."))
        ).cast("double") / n_d
        alpha_frac = (
            F.size(F.filter(toks, lambda t: t.rlike("[a-z]"))).cast("double") / n_d
        )
        stop_hits = F.size(
            F.array_intersect(
                F.array_distinct(toks), F.array(*[F.lit(w) for w in GOPHER_STOPWORDS])
            )
        )

        # the avg-length fold is O(n) and feeds TWO band comparisons; inside
        # the interpreted lambda there is no subexpression elimination, so
        # let-bind the fold's value as well (same arithmetic, computed once)
        def with_avg(avg_len: Column) -> Column:
            return (
                (n >= min_tokens)
                & (n <= max_tokens)
                & (avg_len >= min_avg_len)
                & (avg_len <= max_avg_len)
                & (symbol_ratio <= max_symbol_ratio)
                & (alpha_frac >= min_alpha_word_frac)
                & (stop_hits >= min_stopword_hits)
            )

        return bind1(
            F.aggregate(toks, F.lit(0.0), lambda acc, t: acc + F.length(t)) / n_d,
            with_avg,
        )

    return bind1(tokens_expr(text), body)


def dup_token_frac_expr(text: Column) -> Column:
    """Duplicate-token fraction (repetition_score's first metric) as a bare
    expression for map-side gating. Tokens let-bound (num.bind1, r13)."""

    def body(toks: Column) -> Column:
        return F.when(
            F.size(toks) > 0,
            1.0 - F.size(F.array_distinct(toks)).cast("double") / F.size(toks),
        ).otherwise(F.lit(0.0))

    return bind1(tokens_expr(text), body)


def gopher_rules(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_tokens: int = 50,
    max_tokens: int = 100_000,
    min_avg_len: float = 3.0,
    max_avg_len: float = 10.0,
    max_symbol_ratio: float = 0.1,
    min_alpha_word_frac: float = 0.80,
    min_stopword_hits: int = 2,
) -> DataFrame:
    """Gopher-style heuristic quality gate (Rae et al. 2021 §A1.1, public):
    per-document word-count band, mean-word-length band, symbol-to-word
    ratio (# and ellipsis), alphabetic-word fraction, and the two-stopword
    rule, plus the conjunction verdict the pipeline filters on.

    Composes with repetition_score (the paper's other half) for the full
    Gopher gate. Entirely shuffle-free map expressions — at 100 TB this is
    a bandwidth-bound scan, and the verdict column means the downstream
    filter prunes before any shuffle ever sees the rejected rows."""
    text = F.col(text_col)
    # r13 staging: tokenize once, then compute each UNROUNDED metric once —
    # the single-projection form re-evaluated every HOF metric 2-3x per row
    # (output column + each `passes` comparison; no interpreted-HOF CSE)
    staged = df.select(F.col(id_col), text.alias("_text"), tokens_expr(text).alias("_toks"))
    toks = F.col("_toks")
    n = F.size(toks)
    n_d = F.greatest(n, F.lit(1)).cast("double")
    n_symbols = (
        F.regexp_count(F.col("_text"), F.lit(r"#"))
        + F.regexp_count(F.col("_text"), F.lit(r"\.\.\."))
    )
    metrics = staged.select(
        F.col(id_col),
        n.alias("_n"),
        (F.aggregate(toks, F.lit(0.0), lambda acc, t: acc + F.length(t)) / n_d).alias(
            "_avg_len"
        ),
        (n_symbols.cast("double") / n_d).alias("_symbol_ratio"),
        (F.size(F.filter(toks, lambda t: t.rlike("[a-z]"))).cast("double") / n_d).alias(
            "_alpha_frac"
        ),
        F.size(
            F.array_intersect(
                F.array_distinct(toks), F.array(*[F.lit(w) for w in GOPHER_STOPWORDS])
            )
        ).alias("_stop_hits"),
    )
    passes = (
        (F.col("_n") >= min_tokens)
        & (F.col("_n") <= max_tokens)
        & (F.col("_avg_len") >= min_avg_len)
        & (F.col("_avg_len") <= max_avg_len)
        & (F.col("_symbol_ratio") <= max_symbol_ratio)
        & (F.col("_alpha_frac") >= min_alpha_word_frac)
        & (F.col("_stop_hits") >= min_stopword_hits)
    )
    return metrics.select(
        F.col(id_col),
        F.col("_n").cast("long").alias("n_tokens"),
        round4_expr(F.col("_avg_len")).alias("avg_word_len"),
        round4_expr(F.col("_symbol_ratio")).alias("symbol_ratio"),
        round4_expr(F.col("_alpha_frac")).alias("alpha_word_frac"),
        F.col("_stop_hits").cast("long").alias("stopword_hits"),
        passes.cast("long").alias("passes"),
    )


def unigram_lm_score(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    carry_cols: list[str] | None = None,
) -> DataFrame:
    """Corpus-trained unigram language-model scoring: per-document
    cross-entropy (nats/token) and perplexity under the corpus's own
    unigram distribution — the cheap LM-quality proxy (CCNet-style ranking
    uses a real LM; the unigram form is the shuffle-light self-contained
    variant). Outlier docs (gibberish = rare tokens everywhere, boilerplate
    = near-zero entropy) land at the tails, which is what the ranking gate
    consumes.

    Scale shape: ONE explode feeding both sides — a token-keyed groupBy
    builds the frequency table (map-side partial agg), the corpus total is
    a 1-row agg cross-joined back (broadcast), and the score join
    broadcasts the frequency table (vocab-sized — tens of MB for a 100 TB
    corpus under Zipf, far under executor memory; spill to a shuffle join
    only if a tokenizer explosion breaks Zipf). Final doc-keyed groupBy is
    the only corpus-sized shuffle.

    ``carry_cols``: doc-level columns (e.g. source) carried through the
    explode into the grouping keys, so downstream per-group reports need
    no join back against the corpus."""
    carry = list(carry_cols or [])
    toks = docs.select(
        F.col(id_col), *carry, F.explode(tokens_expr(F.col(text_col))).alias("token")
    ).localCheckpoint(eager=False)  # feeds the freq table AND the score join
    freq = toks.groupBy("token").agg(F.count("*").cast("double").alias("cnt"))
    total = freq.agg(F.sum("cnt").alias("total"))
    # per-token surprisal quantizes to 4dp BEFORE the mean, and the mean
    # is the exact scaled-long fold — avg(double) sums in partition order
    # and flipped the 4th decimal across layouts (the class exact_avg4's
    # docstring documents; bigram_lm_score was built on quantized folds
    # for exactly this reason — review finding)
    from kadiyadb_spark.functions.num import exact_avg4_expr

    logp = freq.crossJoin(F.broadcast(total)).select(
        "token", round4_expr(-F.log(F.col("cnt") / F.col("total"))).alias("_nlp4")
    )
    return (
        toks.join(F.broadcast(logp), "token")
        .groupBy(id_col, *carry)
        .agg(
            F.count("*").cast("long").alias("n_tokens"),
            exact_avg4_expr(F.col("_nlp4")).alias("_ce"),
        )
        .select(
            F.col(id_col),
            *carry,
            "n_tokens",
            F.col("_ce").alias("cross_entropy"),
            round4_expr(F.exp(F.col("_ce"))).alias("perplexity"),
        )
    )


# PII patterns kept to the regex subset Java (Spark) and RE2 (DuckDB) agree
# on: character classes, bounded repetition, no lookarounds, no backrefs.
PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_PHONE_RE = r"\+?[0-9][0-9()\- ]{6,14}[0-9]"
PII_IP_RE = r"([0-9]{1,3}\.){3}[0-9]{1,3}"


def redact_pii(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """PII redaction — anonymization pass of a curation pipeline: replace
    emails, phone-shaped digit runs, and IPv4 literals with typed tags,
    APPLIED IN THAT ORDER on the running result (an email's digits must not
    be re-matched as a phone; order is part of the operator contract and the
    oracle mirrors it). Returns (id, redacted, n_emails, n_phones, n_ips)
    with each count taken on the text the pattern actually saw.

    Shuffle-free map expressions; regex evaluation is JVM-side codegen. At
    100 TB this is the cheapest stage in the pipeline — bandwidth-bound."""
    t0 = F.col(text_col)
    t1 = F.regexp_replace(t0, PII_EMAIL_RE, "<EMAIL>")
    t2 = F.regexp_replace(t1, PII_PHONE_RE, "<PHONE>")
    t3 = F.regexp_replace(t2, PII_IP_RE, "<IP>")
    return df.select(
        F.col(id_col),
        t3.alias("redacted"),
        F.regexp_count(t0, F.lit(PII_EMAIL_RE)).cast("long").alias("n_emails"),
        F.regexp_count(t1, F.lit(PII_PHONE_RE)).cast("long").alias("n_phones"),
        F.regexp_count(t2, F.lit(PII_IP_RE)).cast("long").alias("n_ips"),
    )


# ---------------------------------------------------------------- span dedup


def split_fixed_spans(
    df: DataFrame, words_per_span: int = 10, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Chunk each doc's whitespace tokens into fixed-width word spans:
    (doc_id, span_idx, span). The fixed-span analog of C4's three-sentence
    units for corpora without sentence/line structure; map-side only (array
    slicing inside the projection, then one posexplode)."""
    # true whitespace tokens (review finding: the literal single-space
    # split collapsed newline/tab-separated text into mega-tokens);
    # let-bound so the slice lambda doesn't re-split per span (r13)
    def body(toks: Column) -> Column:
        nspans = F.ceil(F.size(toks) / F.lit(words_per_span)).cast("int")
        return F.transform(
            F.sequence(F.lit(0), nspans - 1),
            lambda i: F.array_join(F.slice(toks, i * words_per_span + 1, words_per_span), " "),
        )

    spans = bind1(
        F.filter(F.split(F.col(text_col), WS_CLASS + "+"), lambda t: t != ""), body
    )
    return df.select(
        F.col(id_col), F.posexplode(spans).alias("span_idx", "span")
    )


def chunk_documents(
    df: DataFrame,
    chunk_words: int = 64,
    stride: int = 48,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Overlapping-window document chunking — the retrieval/RAG corpus
    preparation step: each doc becomes ceil-strided windows of
    ``chunk_words`` whitespace tokens advancing by ``stride`` (stride <
    chunk_words => consecutive chunks overlap by chunk_words - stride
    tokens, so passages spanning a boundary survive in one of them). The
    trailing partial window is kept (it holds the doc's tail). Output:
    (doc_id, chunk_idx, chunk, n_tokens).

    Map-side ONLY: window slicing is array arithmetic inside the
    projection plus one posexplode — zero shuffles, linear in corpus size,
    output inflation = chunk_words/stride. Chunks feed embed + index
    (sim_* operators) downstream."""
    if stride <= 0 or chunk_words <= 0:
        raise ValueError("chunk_words and stride must be positive")

    # tokens let-bound (num.bind1, r13): the window-slice lambda and the
    # suffix-duplicate filter otherwise re-split the whole text per chunk
    def body(toks: Column) -> Column:
        # windows start at 0, stride, 2*stride, ... while start < n_tokens
        nchunks = F.greatest(
            F.lit(1), F.ceil(F.size(toks) / F.lit(stride)).cast("int")
        )
        # a window starting past (n - chunk_words) is fully inside the
        # previous one's coverage only when stride >= chunk_words is false;
        # keep any start < n, but drop starts where the previous window
        # already reaches the end (pure-suffix duplicates): start < n AND
        # (start == 0 OR start - stride + chunk_words < n)
        n = F.size(toks)
        return F.filter(
            F.transform(
                F.sequence(F.lit(0), nchunks - 1),
                lambda i: F.struct(
                    i.alias("i"),
                    F.slice(toks, i * stride + 1, chunk_words).alias("w"),
                ),
            ),
            lambda s: (s["i"] * stride < n)
            & ((s["i"] == 0) | ((s["i"] - 1) * stride + chunk_words < n)),
        )

    chunks = bind1(
        F.filter(F.split(F.col(text_col), WS_CLASS + "+"), lambda t: t != ""), body
    )
    out = df.select(F.col(id_col), F.posexplode(chunks).alias("chunk_idx", "_c"))
    return out.select(
        id_col,
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        F.array_join(F.col("_c.w"), " ").alias("chunk"),
        F.size(F.col("_c.w")).cast("long").alias("n_tokens"),
    )


def remove_boilerplate(
    df: DataFrame,
    words_per_span: int = 3,
    min_docs: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Frequency-threshold boilerplate removal (the CCNet/C4 line-dedup
    rule, over fixed word spans as the unit): any span occurring in at
    least ``min_docs`` DISTINCT documents is boilerplate — navigation
    chrome, cookie banners, license headers, templated footers — and is
    removed from EVERY document (unlike ``span_dedup``, which keeps the
    first occurrence; boilerplate carries no training signal anywhere).
    Docs reduced to nothing are dropped.

    Scale shape: one span-keyed aggregation for the distinct-doc frequency
    (partial map-side count-distinct via the two-phase plan); the filter
    join back to the span rows is left to the planner — it broadcasts the
    frequency table while it fits (observed at test SF: map-side filter,
    no extra shuffle) and degrades to a span-keyed shuffle join on the
    aggregation's own key once the distinct-span table outgrows the
    threshold; one doc-keyed shuffle rebuilds the text. The frequency
    table is never collected to the driver — its size is corpus-bounded,
    not boilerplate-bounded.

    Returns (doc_id, text, n_spans_kept), text rebuilt in span order."""
    spans = split_fixed_spans(df, words_per_span, text_col, id_col)
    freq = spans.groupBy("span").agg(
        F.count_distinct(F.col(id_col)).alias("_nd")
    )
    kept = (
        spans.join(freq, "span")
        .filter(F.col("_nd") < min_docs)
    )
    return (
        kept.groupBy(id_col)
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("span_idx", "span"))),
                    lambda x: x["span"],
                ),
                " ",
            ).alias("text"),
            F.count("*").cast("long").alias("n_spans_kept"),
        )
    )


def span_dedup(
    df: DataFrame,
    words_per_span: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Corpus-level duplicate-SPAN removal (the C4 curation step: "discard
    duplicate spans across the whole corpus, keep the first occurrence"):
    every distinct span survives only at its globally first position
    (lowest (doc_id, span_idx)); docs are reconstructed from their
    surviving spans; docs left with nothing are dropped.

    Scale shape — skew-proof and join-free: the first occurrence per span
    is `groupBy(span).agg(min(struct(doc_id, span_idx)))`, which partial-
    aggregates map-side, so a boilerplate span duplicated a billion times
    collapses to one row per input partition BEFORE the shuffle (a window
    rank over span would funnel all copies through one task). The kept
    rows ARE the aggregation output — no join back. Two shuffles total
    (by span, then by doc for reconstruction).

    Returns (doc_id, text, n_spans_kept) with text rebuilt in span order.
    """
    spans = split_fixed_spans(df, words_per_span, text_col, id_col)
    firsts = spans.groupBy("span").agg(
        F.min(F.struct(F.col(id_col), F.col("span_idx"))).alias("_first")
    )
    kept = firsts.select(
        F.col(f"_first.{id_col}").alias(id_col),
        F.col("_first.span_idx").alias("span_idx"),
        "span",
    )
    return (
        kept.groupBy(id_col)
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("span_idx", "span"))),
                    lambda x: x["span"],
                ),
                " ",
            ).alias("text"),
            F.count("*").alias("n_spans_kept"),
        )
    )


def hashed_counts(
    df: DataFrame,
    dim: int = 64,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Sparse INTEGER hashed-BOW counts: (id, _b bucket, _c long count) —
    the pre-normalization stage of ``hashed_bow``, exposed because exact
    integer counts are cross-engine reproducible (md5 bucket hash, long
    counts) where the L2-normalized doubles are only reproducible through
    IEEE-exact op chains. The closed-form quality-centroid path builds on
    this directly. Docs with no tokens emit NO rows (callers left-join).
    One explode + one (id, bucket)-keyed count — map-side combined."""
    toks = tokens_expr(F.col(text_col))
    bucket = F.pmod(
        F.conv(F.substring(F.md5(F.col("_tok").cast("binary")), 1, 8), 16, 10).cast("long"),
        F.lit(dim),
    )
    return (
        df.select(F.col(id_col), F.explode(toks).alias("_tok"))
        .select(id_col, bucket.alias("_b"))
        .groupBy(id_col, "_b")
        .agg(F.count("*").alias("_c"))
    )


def hashed_bow(
    df: DataFrame,
    dim: int = 64,
    text_col: str = "text",
    id_col: str = "doc_id",
    toks: DataFrame | None = None,
) -> DataFrame:
    """Feature-hashing bag-of-words (the hashing trick, Weinberger et al.
    2009): every token hashes into one of ``dim`` buckets; a document's
    vector is its L2-normalized bucket-count histogram. The model-free
    text->vector step — deterministic, vocabulary-free (no fitted
    dictionary to ship), and engine-reproducible (md5 bucket hash), so the
    SQL oracle can rebuild the exact vectors. Composes with the sim_*
    operators for lexical similarity search and with chunk_documents for a
    retrieval pipeline.

    Output: (id, embedding array<double>) with |embedding| = 1 (all-empty
    docs yield the zero vector).

    Shape (r14, guide §2.4): ONE outer token explode -> ONE groupBy(doc,
    bucket) count (partial map-side combine) -> ONE groupBy(doc)
    collecting the sparse (bucket, count) entries -> Arrow-batched numpy
    scatter to the dense normalized vector. explode_outer keeps a
    token-less doc alive as a single NULL-token row (md5(NULL) -> NULL
    bucket), so the zero-vector contract holds WITHOUT the r13 shape's
    LEFT join back to the corpus ids — that join cost a second corpus
    scan plus an extra Exchange on every caller (rag entries,
    quality_model). Two doc-keyed shuffles total, both corpus-linear; dim
    stays a projection width, never a join. Densify deliberately lives in
    a vectorized kernel: the pure-expression form (dim map lookups per
    row via transform(sequence)) is interpreted, and dim x corpus lookups
    measured seconds at sf0.1 where the scatter is milliseconds.

    ``toks``: an optional pre-exploded (id_col, _tok) frame — pass a
    persisted OUTER explode (null-token rows for token-less docs) when
    several operators over the same corpus share one tokenization pass
    (rag_rrf_fusion shares it with bm25_score). An inner-exploded frame
    also works but silently drops token-less docs from the output."""
    import numpy as np

    if toks is None:
        toks = df.select(
            F.col(id_col), F.explode_outer(tokens_expr(F.col(text_col))).alias("_tok")
        )
    bucket = F.pmod(
        F.conv(F.substring(F.md5(F.col("_tok").cast("binary")), 1, 8), 16, 10).cast(
            "long"
        ),
        F.lit(dim),
    )
    counts = (
        toks.select(id_col, bucket.alias("_b"))
        .groupBy(id_col, "_b")
        .agg(F.count("*").cast("double").alias("_c"))
    )
    # The two collect_lists fill from the same input stream per group, so
    # their indices stay aligned (the r13 shape relied on the same
    # property); the when() wrappers skip the NULL-bucket marker row of a
    # token-less doc in BOTH lists, leaving it empty arrays -> zero vector.
    nb = F.col("_b").isNotNull()
    sparse = counts.groupBy(id_col).agg(
        F.coalesce(
            F.collect_list(F.when(nb, F.col("_b"))), F.array().cast("array<long>")
        ).alias("_bs"),
        F.coalesce(
            F.collect_list(F.when(nb, F.col("_c"))), F.array().cast("array<double>")
        ).alias("_cs"),
    )

    def densify(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            lens = pdf["_bs"].map(len).to_numpy()
            rows = np.repeat(np.arange(len(pdf)), lens)
            bs = np.concatenate(pdf["_bs"].to_numpy()).astype(np.int64)
            cs = np.concatenate(pdf["_cs"].to_numpy())
            mat = np.zeros((len(pdf), dim))
            mat[rows, bs] = cs
            norms = np.linalg.norm(mat, axis=1)
            norms[norms == 0] = 1.0
            mat /= norms[:, None]
            yield pd.DataFrame({id_col: pdf[id_col].values, "embedding": list(mat)})

    idt = df.schema[id_col].dataType.simpleString()  # generic id type
    return sparse.mapInPandas(densify, schema=f"{id_col} {idt}, embedding array<double>")


def bigram_lm_score(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    lam: float = 0.75,
) -> DataFrame:
    """Interpolated bigram language-model scoring — the step up from
    unigram_lm_score on the CCNet-style quality ladder: per document,
    cross-entropy (nats/bigram) and perplexity under the corpus's own
    interpolated bigram model

        p(w2 | w1) = lam * C(w1 w2)/C(w1 ·) + (1 - lam) * C(w2)/T

    (Jelinek-Mercer smoothing; ``lam`` defaults to the dyadic 0.75).
    Repetitive boilerplate scores near zero, shuffled-word gibberish
    scores high even when every unigram is common — the failure mode a
    unigram model cannot see. Documents with fewer than two tokens have
    no bigrams and are dropped (nothing to score).

    Engine-default-free beyond the unigram precedent: the per-bigram
    surprisal is QUANTIZED to 4dp first (one -log over identically
    computed doubles, then round4), so the per-doc mean is an exact
    integer fold (functions/num.py:exact_avg4_expr) — never a
    partition-order sum of raw logs. Perplexity exponentiates the
    already-rounded mean (identical input both engines).

    Scale shape: one explode feeds the bigram count (map-side partial
    agg); context counts C(w1 ·) derive from the bigram table itself
    (second tiny agg); the unigram table reuses the token explode. The
    per-distinct-bigram probability table is broadcast for the score
    join (bigram vocab under Zipf is ~10x unigram vocab — still MBs at
    corpus scale; switch to a shuffle join if a tokenizer explosion
    breaks Zipf). The doc-keyed groupBy is the only corpus-sized
    shuffle."""
    if not (0.0 < lam < 1.0):
        raise ValueError(f"interpolation weight must be in (0, 1), got {lam}")
    from kadiyadb_spark.functions.num import exact_avg4_expr, round4_expr

    # materialize the tokenization ONCE (localCheckpoint, context-cleaned
    # when the result is dropped — review finding: doc_bg/unigrams each
    # re-ran the full tokenize chain per consumer, ~4 corpus scans)
    toks = docs.select(
        F.col(id_col), tokens_expr(F.col(text_col)).alias("_t")
    ).localCheckpoint(eager=False)
    # bigram key "w1 w2" (tokens contain no whitespace by construction)
    doc_bg = toks.filter(F.size("_t") >= 2).select(
        F.col(id_col),
        F.explode(
            F.expr(
                "transform(slice(_t, 1, size(_t) - 1),"
                " (x, i) -> concat(x, ' ', element_at(_t, i + 2)))"
            )
        ).alias("_bg"),
    )
    doc_bg = doc_bg.localCheckpoint(eager=False)  # feeds bgc AND the score join
    unigrams = toks.select(F.explode("_t").alias("_w"))
    unic = unigrams.groupBy("_w").agg(F.count(F.lit(1)).alias("_cw"))
    total = unigrams.agg(F.count(F.lit(1)).alias("_T"))
    bgc = doc_bg.groupBy("_bg").agg(F.count(F.lit(1)).alias("_cb"))
    w1c = (
        bgc.select(F.split_part(F.col("_bg"), F.lit(" "), F.lit(1)).alias("_w1"), "_cb")
        .groupBy("_w1")
        .agg(F.sum("_cb").alias("_c1"))
    )
    prob = (
        bgc.withColumn("_w1", F.split_part(F.col("_bg"), F.lit(" "), F.lit(1)))
        .withColumn("_w2", F.split_part(F.col("_bg"), F.lit(" "), F.lit(2)))
        .join(w1c, "_w1")
        .join(unic.withColumnRenamed("_w", "_w2"), "_w2")
        .crossJoin(F.broadcast(total))
        .select(
            "_bg",
            round4_expr(
                -F.log(
                    F.lit(lam) * (F.col("_cb").cast("double") / F.col("_c1").cast("double"))
                    + F.lit(1.0 - lam)
                    * (F.col("_cw").cast("double") / F.col("_T").cast("double"))
                )
            ).alias("_s4"),
        )
    )
    scored = (
        doc_bg.join(F.broadcast(prob), "_bg")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            exact_avg4_expr(F.col("_s4")).alias("cross_entropy"),
        )
    )
    return scored.select(
        F.col(id_col),
        "n_bigrams",
        "cross_entropy",
        round4_expr(F.exp(F.col("cross_entropy"))).alias("perplexity"),
    )


def decontaminate_spans(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 5,
    words_per_span: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """SURGICAL decontamination: remove only the fixed-width word spans
    that contain (or are crossed by) a benchmark ``n``-gram, keep the
    rest of the document — ``decontaminate`` flags whole docs, which
    wastes data when the contamination is one quoted eval question
    inside an otherwise-clean page.

    Works on the NORMALIZED token stream (``tokens_expr``: lowercased,
    whitespace-split — the same tokenization the gram match uses, so
    gram positions and span boundaries align exactly); the output text
    is the single-spaced reconstruction of the surviving spans.
    Boundary-crossing grams are handled by construction: a hit at word
    index g contaminates EVERY span overlapping [g, g+n), not just the
    span containing g. Fully-contaminated (and token-less) docs stay
    VISIBLE with empty text and n_spans_kept = 0.

    Scale shape: benchmark grams broadcast (eval sets are tiny); gram
    positions and spans are map-side projections; contaminated span ids
    are bounded by contamination volume; ONE doc-keyed shuffle rebuilds
    the text. The corpus is never shuffled on content."""
    if n < 1 or words_per_span < 1:
        raise ValueError("n and words_per_span must be positive")
    bench_grams = (
        benchmark.select(F.explode(word_ngrams_expr(F.col(text_col), n)).alias("gram"))
        .distinct()
    )
    base = docs.select(F.col(id_col), tokens_expr(F.col(text_col)).alias("_toks"))
    cnt = F.size("_toks")
    grams = F.when(
        cnt >= n,
        F.transform(
            F.sequence(F.lit(1), cnt - (n - 1)),
            lambda i: F.concat_ws(" ", F.slice("_toks", i, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    hits = (
        base.select(F.col(id_col), F.posexplode(grams).alias("_gidx", "gram"))
        .join(F.broadcast(bench_grams), "gram")
    )
    w = words_per_span
    dirty = hits.select(
        F.col(id_col),
        F.explode(
            F.sequence(
                F.expr(f"_gidx div {w}"), F.expr(f"(_gidx + {n - 1}) div {w}")
            )
        ).alias("span_idx"),
    ).distinct()
    nspans = F.ceil(cnt / F.lit(w)).cast("int")
    # guard cnt == 0: sequence(0, -1) DESCENDS in Spark (default step -1),
    # fabricating two phantom empty spans for token-less docs (caught by
    # live review: text=' ', n_spans_kept=2) — emit no spans instead; the
    # doc stays visible through the final left join
    span_arr = F.when(
        cnt > 0,
        F.transform(
            F.sequence(F.lit(0), nspans - 1),
            lambda i: F.array_join(F.slice("_toks", i * w + 1, w), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    spans = base.select(
        F.col(id_col),
        F.posexplode(span_arr).alias("span_idx", "span"),
    )
    flagged = spans.join(
        dirty.withColumn("_dirty", F.lit(1)), [id_col, "span_idx"], "left"
    )
    rebuilt = flagged.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(F.col("_dirty").isNull(), F.struct("span_idx", "span"))
                    )
                ),
                lambda x: x["span"],
            ),
            " ",
        ).alias("text"),
        F.count(F.when(F.col("_dirty").isNull(), 1)).cast("long").alias("n_spans_kept"),
        F.count(F.col("_dirty")).cast("long").alias("n_spans_removed"),
    )
    return (
        docs.select(id_col).distinct()
        .join(rebuilt, id_col, "left")
        .select(
            id_col,
            F.coalesce("text", F.lit("")).alias("text"),
            F.coalesce("n_spans_kept", F.lit(0)).cast("long").alias("n_spans_kept"),
            F.coalesce("n_spans_removed", F.lit(0)).cast("long").alias("n_spans_removed"),
        )
    )


def bm25_score(
    docs: DataFrame,
    query_terms: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
    k1: float = 1.25,
    b: float = 0.75,
    k: int | None = None,
    toks: DataFrame | None = None,
) -> DataFrame:
    """Okapi BM25 lexical retrieval (Robertson/Sparck Jones, the classic
    public formula with the +1 idf floor) over whitespace tokens — the
    model-free ranking companion to ``hashed_bow`` cosine: score(d) =
    sum over query terms of

        ln(1 + (N - df + 0.5)/(df + 0.5))
          * tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl))

    with N = corpus size, df = docs containing the term, dl = doc token
    count, avgdl = mean doc length. ``k1``/``b`` default to the DYADIC
    1.25/0.75 — exactly representable doubles, so both gate engines see
    the identical literals (the standard 1.2 would parse as DECIMAL in a
    SQL twin and diverge at round boundaries).

    Engine-default-free by the bigram-LM precedent: every input to the
    score is an exact integer (tf, df, dl, N, total tokens T; dl/avgdl is
    computed as the integer ratio (dl*N)/T in ONE division), the per-term
    score is ONE double expression over those exact operands, QUANTIZED to
    4dp immediately, and the per-doc total is an exact scaled-long fold —
    never a partition-order double sum. Ranking orders on the scaled-long
    total (ties fall to ``id_col``), a total order in any engine.

    Scale shape: tf filters to the query's terms BEFORE its groupBy (only
    matching (doc, term) rows shuffle — query-sized, not corpus-sized);
    the df and corpus-stats tables are broadcast (terms x 1 rows); the one
    corpus-sized shuffle is the doc-length groupBy the tokenization
    already needs. Token-less docs and terms absent from the corpus score
    zero and produce no row (nothing to rank).

    Output: (id_col, n_matched, rank, score); ``k`` keeps the top-k ranks.
    The global rank is one single-partition window over MATCHED docs only
    (a query-selectivity bound, not corpus size); for stop-word-ish terms
    over a 100 TB corpus, pre-filter with a score threshold or route
    through the retrieval pattern (per-partition top-k prune, then rank
    the surviving k x partitions rows — sim/cosine_topk's device).
    """
    if not query_terms:
        raise ValueError("bm25 needs at least one query term")
    terms = sorted({t.lower() for t in query_terms})
    if k is not None and k <= 0:
        raise ValueError(f"top-k must be positive, got {k}")
    from pyspark.sql import Window

    from kadiyadb_spark.functions.num import round4_expr

    from pyspark import StorageLevel

    # the token explode feeds THREE aggregations (doc lengths, the corpus
    # total and the query tf) — persist it or the whole tokenization chain
    # re-executes per consumer (the minhash_near_duplicates precedent).
    # ``toks``: optional pre-exploded (id_col, _tok) frame — pass a
    # persisted one to share the corpus scan + tokenization with other
    # retrievers over the same corpus (rag_rrf_fusion shares it with
    # hashed_bow); the caller owns its persist. An OUTER explode's
    # null-token marker rows (token-less docs) are dropped here, so the
    # token rows equal the inner explode's (a marker row would inflate dl
    # and the corpus total T, shifting every score).
    if toks is not None:
        toks = toks.filter(F.col("_tok").isNotNull()).select(
            F.col(id_col), F.col("_tok").alias("_term")
        )
    else:
        toks = docs.select(
            F.col(id_col), F.explode(tokens_expr(F.col(text_col))).alias("_term")
        ).persist(StorageLevel.MEMORY_AND_DISK)
    dl = toks.groupBy(id_col).agg(F.count(F.lit(1)).alias("_dl"))
    n_docs = docs.agg(F.count(F.lit(1)).alias("_N"))
    tot = toks.agg(F.count(F.lit(1)).alias("_T"))
    stats = n_docs.crossJoin(tot)  # 1x1 scalar frame, broadcast below
    tf = (
        toks.filter(F.col("_term").isin(terms))
        .groupBy(id_col, "_term")
        .agg(F.count(F.lit(1)).alias("_tf"))
    )
    dfreq = tf.groupBy("_term").agg(F.count(F.lit(1)).alias("_df"))
    tfd = F.col("_tf").cast("double")
    idf = F.log(
        F.lit(1.0)
        + ((F.col("_N") - F.col("_df")).cast("double") + F.lit(0.5))
        / (F.col("_df").cast("double") + F.lit(0.5))
    )
    norm = F.lit(1.0 - b) + F.lit(b) * (
        (F.col("_dl") * F.col("_N")).cast("double") / F.col("_T").cast("double")
    )
    s4 = round4_expr(idf * (tfd * F.lit(k1 + 1.0)) / (tfd + F.lit(k1) * norm))
    scored = (
        tf.join(F.broadcast(dfreq), "_term")
        .join(dl, id_col)
        .crossJoin(F.broadcast(stats))
        .select(F.col(id_col), s4.alias("_s4"))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_matched"),
            F.sum(F.round(F.col("_s4") * 10000).cast("long")).alias("_s4i"),
        )
    )
    w = Window.orderBy(F.col("_s4i").desc(), F.col(id_col).asc())
    ranked = scored.select(
        F.col(id_col),
        "n_matched",
        F.row_number().over(w).cast("long").alias("rank"),
        round4_expr(F.col("_s4i") / F.lit(10000.0)).alias("score"),
    )
    return ranked.filter(F.col("rank") <= k) if k is not None else ranked


def keyword_terms(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    top_j: int = 5,
) -> DataFrame:
    """tf-idf keyword extraction: each document's ``top_j`` most
    characteristic terms — the classic corpus-statistics summarizer used
    for topic tagging, near-dup triage ("what are these clusters about")
    and retrieval debugging. idf is the add-one-smoothed ``ln((N+1)/(df+1))``
    (never a division by zero, never exactly zero for non-universal terms).

    Engine-default-free on the BM25/bigram-LM pattern: tf, df, N are exact
    integers, the tf-idf product is ONE double expression over them
    quantized at 4dp, and the per-doc ranking orders on the SCALED LONG
    with term-lexicographic ties — a total order in any engine.

    Scale shape: one (doc, term) groupBy over the token explode (the same
    corpus-sized shuffle every counting op pays), a vocab-sized df
    aggregation broadcast back, and a doc-keyed ranking window whose
    per-partition state is one doc's distinct terms. Token-less docs have
    no terms and produce no row.

    Output: (id_col, term, tf, tfidf, rank), rank 1..top_j per doc."""
    if top_j < 1:
        raise ValueError(f"need top_j >= 1, got {top_j}")
    from pyspark.sql import Window

    from kadiyadb_spark.functions.num import round4_expr

    from pyspark import StorageLevel

    toks = docs.select(
        F.col(id_col), F.explode(tokens_expr(F.col(text_col))).alias("term")
    )
    # tf feeds both the df aggregation and the scoring join — persist so the
    # corpus tokenizes once
    tf = toks.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf")).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("_df"))
    n_docs = docs.agg(F.count(F.lit(1)).alias("_N"))
    idf = F.log(
        (F.col("_N").cast("double") + F.lit(1.0))
        / (F.col("_df").cast("double") + F.lit(1.0))
    )
    s4 = round4_expr(F.col("tf").cast("double") * idf)
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            F.col(id_col),
            "term",
            "tf",
            F.round(s4 * 10000).cast("long").alias("_s4i"),
        )
    )
    w = Window.partitionBy(id_col).orderBy(F.col("_s4i").desc(), F.col("term").asc())
    return (
        scored.select(
            F.col(id_col),
            "term",
            "tf",
            (F.col("_s4i") / F.lit(10000.0)).alias("tfidf"),
            F.row_number().over(w).cast("long").alias("rank"),
        )
        .filter(F.col("rank") <= top_j)
    )


def collocations(
    docs: DataFrame,
    min_count: int = 5,
    top_k: int = 50,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """PMI collocation mining: the corpus's top word pairs by pointwise
    mutual information ln(p(xy) / (p(x)·p(y))) — the classic phrase
    detector ("new york", "machine learning") that feeds tokenizer vocab
    candidates and phrase-aware indexing. ``min_count`` suppresses the
    low-frequency pairs PMI notoriously over-ranks; ``top_k`` bounds the
    output.

    Engine-default-free: all counts are exact integers; the PMI is ONE
    double expression over them — (cxy·Tu·Tu)/(Tbg·cx·cy) inside a single
    ln, products kept in DOUBLE so corpus-scale totals cannot overflow a
    long — quantized at 4dp; the ranking orders on the scaled long with
    (w1, w2) lexicographic ties. One bigram-count aggregation (map-side
    combined) + a vocab-sized unigram table joined back; the final rank
    window sees only pairs that survived ``min_count``."""
    if min_count < 1:
        raise ValueError(f"need min_count >= 1, got {min_count}")
    if top_k < 1:
        raise ValueError(f"need top_k >= 1, got {top_k}")
    from pyspark.sql import Window

    from kadiyadb_spark.functions.num import round4_expr

    from pyspark import StorageLevel

    toks = docs.select(F.col(id_col), tokens_expr(F.col(text_col)).alias("_t"))
    # the bigram explode feeds both the pair counts and the total — persist
    # so the corpus tokenizes once, not per consumer
    doc_bg = toks.filter(F.size("_t") >= 2).select(
        F.explode(
            F.expr(
                "transform(slice(_t, 1, size(_t) - 1),"
                " (x, i) -> concat(x, ' ', element_at(_t, i + 2)))"
            )
        ).alias("_bg")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    uni = toks.select(F.explode("_t").alias("_w"))
    unic = uni.groupBy("_w").agg(F.count(F.lit(1)).alias("_cw"))
    tot_u = uni.agg(F.count(F.lit(1)).alias("_Tu"))
    bgc = (
        doc_bg.groupBy("_bg")
        .agg(F.count(F.lit(1)).alias("_cb"))
        .filter(F.col("_cb") >= min_count)
    )
    tot_b = doc_bg.agg(F.count(F.lit(1)).alias("_Tb"))
    d = lambda c: c.cast("double")
    scored = (
        bgc.withColumn("_w1", F.split_part(F.col("_bg"), F.lit(" "), F.lit(1)))
        .withColumn("_w2", F.split_part(F.col("_bg"), F.lit(" "), F.lit(2)))
        .join(F.broadcast(unic.select(F.col("_w").alias("_w1"), F.col("_cw").alias("_c1"))), "_w1")
        .join(F.broadcast(unic.select(F.col("_w").alias("_w2"), F.col("_cw").alias("_c2"))), "_w2")
        .crossJoin(F.broadcast(tot_u))
        .crossJoin(F.broadcast(tot_b))
        .select(
            "_w1",
            "_w2",
            F.col("_cb"),
            F.round(
                round4_expr(
                    F.log(
                        d(F.col("_cb")) * d(F.col("_Tu")) * d(F.col("_Tu"))
                        / (d(F.col("_Tb")) * d(F.col("_c1")) * d(F.col("_c2")))
                    )
                )
                * 10000
            )
            .cast("long")
            .alias("_s4i"),
        )
    )
    w = Window.orderBy(F.col("_s4i").desc(), F.col("_w1").asc(), F.col("_w2").asc())
    return (
        scored.select(
            F.col("_w1").alias("w1"),
            F.col("_w2").alias("w2"),
            F.col("_cb").alias("n_pair"),
            (F.col("_s4i") / F.lit(10000.0)).alias("pmi"),
            F.row_number().over(w).cast("long").alias("rank"),
        )
        .filter(F.col("rank") <= top_k)
    )


def rrf_fuse(
    rankings: list[DataFrame],
    id_col: str = "doc_id",
    rank_col: str = "rank",
    kconst: int = 60,
    k: int | None = None,
) -> DataFrame:
    """Reciprocal Rank Fusion (Cormack, Clarke & Buettcher, SIGIR 2009):
    fuse N retrieval rankings of the same id space into one list by
    summing per-source ``1/(kconst + rank)`` — the standard hybrid-search
    combiner (BM25 + dense, multi-field, multi-query) because it needs no
    score calibration across sources: only RANKS enter the fusion, so a
    cosine in [0,1] and a BM25 in [0,30] fuse without normalization.

    Integer-exact end to end (stronger than the usual float RRF): each
    contribution quantizes as ``1_000_000 div (kconst + rank)`` — ONE
    integer division, a defined construction both gate engines replay
    bit-for-bit — the fused score is an exact long sum of those, and the
    final ranking orders on (rrf_micros desc, id asc), a total order in
    any engine. No doubles anywhere.

    Contract: every input frame is a RANKING — (id_col, rank_col) with
    ranks >= 1 and at most one row per id (enforce upstream via top-k
    retrieval, e.g. bm25_score / cosine ranks). Ids absent from a source
    simply contribute nothing, so n_sources records how many lists an id
    appeared in (the agreement signal).

    Scale shape: inputs are already top-k-bounded by their retrievals, so
    the union carries <= sum(k_i) rows per query; the fuse is one tiny
    groupBy and the final row_number window ranks <= sum(k_i) rows — all
    the corpus-sized work happened upstream in the retrievals themselves.
    (For a per-query batch shape, partition the window by the query id
    upstream and fuse each query's lists; this single-list form is the
    per-query kernel.)

    Output: (id_col, n_sources, rrf_micros, rank), rank 1-based; ``k``
    keeps the top-k fused rows.
    """
    if not rankings:
        raise ValueError("rrf_fuse needs at least one ranking")
    if kconst < 1:
        raise ValueError(f"kconst must be >= 1, got {kconst}")
    if k is not None and k <= 0:
        raise ValueError(f"top-k must be positive, got {k}")
    from functools import reduce

    from pyspark.sql import Window

    contrib = F.expr(
        f"1000000L div ({int(kconst)} + cast(`{rank_col}` as long))"
    ).alias("_c")
    parts = [r.select(F.col(id_col), contrib) for r in rankings]
    fused = (
        reduce(DataFrame.unionByName, parts)
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_sources"),
            F.sum("_c").alias("rrf_micros"),
        )
    )
    w = Window.orderBy(F.col("rrf_micros").desc(), F.col(id_col).asc())
    out = fused.select(
        id_col,
        "n_sources",
        "rrf_micros",
        F.row_number().over(w).cast("long").alias("rank"),
    )
    return out.filter(F.col("rank") <= k) if k is not None else out


# Unicode-punctuation unification map for normalize_text: curly quotes,
# en/em dashes, NBSP and ellipsis — the mojibake-adjacent characters a
# crawl corpus carries that tokenizers/dedup want folded to ASCII. Each
# target is a plain replace() (both gate engines replace all occurrences).
_NORM_MAP = [
    ("‘", "'"),
    ("’", "'"),
    ("“", '"'),
    ("”", '"'),
    ("–", "-"),
    ("—", "-"),
    (" ", " "),
    ("…", "..."),
]
# C0 controls (minus \t \n \r, which the whitespace collapse handles) + DEL.
_CONTROL_CLASS = "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]"


def normalize_text(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic text cleanup — the first stage of every curation
    pipeline (before tokenization, hashing, dedup: two docs differing only
    in curly quotes or doubled spaces should fingerprint identically).

    Fixed normalization order (the contract): (1) strip C0 control chars +
    DEL (keeping tab/newline/CR for the collapse), (2) unify unicode
    punctuation to ASCII (curly quotes, dashes, NBSP, ellipsis —
    ``_NORM_MAP``), (3) collapse runs of [space tab CR LF] to one space —
    an EXPLICIT class, never ``\\s``, whose membership differs between
    Java regex (ASCII \\x0B included) and RE2 (not) — then (4) trim.

    Everything is JVM-side (``regexp_replace`` + ``replace``): no UDF, no
    Python in the hot path; the op is embarrassingly map-parallel and
    pushes nothing into a shuffle. Char counts use ``length()`` — equal to
    code-point counts on both engines for BMP text (Java UTF-16 units ==
    code points below U+10000).

    Output: (id_col, text_col normalized, n_chars_raw, n_chars_norm).
    """
    raw_len = F.length(F.col(text_col)).cast("long").alias("n_chars_raw")
    t = F.regexp_replace(F.col(text_col), _CONTROL_CLASS, "")
    for a, b in _NORM_MAP:
        t = F.replace(t, F.lit(a), F.lit(b))
    t = F.trim(F.regexp_replace(t, "[ \\t\\r\\n]+", " "))
    return df.select(
        F.col(id_col),
        t.alias(text_col),
        raw_len,
        F.length(t).cast("long").alias("n_chars_norm"),
    )


def script_census(
    df: DataFrame,
    text_col: str = "text",
    group_cols: "list[str] | None" = None,
) -> DataFrame:
    """Unicode-script composition census — the language-mix / mojibake
    detector a multilingual curation pipeline runs before language-ID:
    per document, how many characters are Latin letters, Cyrillic, Greek,
    CJK ideographs, digits, and which script DOMINATES (most letters;
    ties resolve Latin > Cyrillic > Greek > CJK — the fixed-priority
    order, stated, not engine luck). Grouped census per ``group_cols``
    (default: by dominant script alone).

    Every counter is one regexp_count with a LITERAL code-point range
    (no \\u escapes — the raw characters are embedded in the pattern, the
    construct Java regex and RE2 interpret identically), evaluated in the
    scan projection: zero joins, the group fold is the only Exchange.
    """
    t = F.col(text_col)
    ranges = {
        "n_latin": "[A-Za-z]",
        "n_cyrillic": f"[{chr(0x0400)}-{chr(0x04FF)}]",
        "n_greek": f"[{chr(0x0370)}-{chr(0x03FF)}]",
        "n_cjk": f"[{chr(0x4E00)}-{chr(0x9FFF)}]",
        "n_digit": "[0-9]",
    }
    counted = df.select(
        *(group_cols or []),
        t.isNull().alias("_tnull"),
        *[F.regexp_count(t, F.lit(p)).cast("long").alias(n) for n, p in ranges.items()],
    )
    dom = (
        # degenerate docs get their OWN label (review finding): null text
        # made every comparison null and fell through to 'cjk'; a
        # letter-less doc (digits/punctuation only) tied at 0 as 'latin'
        F.when(
            F.col("_tnull")
            | (
                (F.col("n_latin") + F.col("n_cyrillic") + F.col("n_greek") + F.col("n_cjk"))
                == 0
            ),
            F.lit("none"),
        )
        .when(
            (F.col("n_latin") >= F.col("n_cyrillic"))
            & (F.col("n_latin") >= F.col("n_greek"))
            & (F.col("n_latin") >= F.col("n_cjk")),
            F.lit("latin"),
        )
        .when(
            (F.col("n_cyrillic") >= F.col("n_greek"))
            & (F.col("n_cyrillic") >= F.col("n_cjk")),
            F.lit("cyrillic"),
        )
        .when(F.col("n_greek") >= F.col("n_cjk"), F.lit("greek"))
        .otherwise(F.lit("cjk"))
    )
    keys = [*(group_cols or []), "dominant_script"]
    return (
        counted.withColumn("dominant_script", dom)
        .drop("_tnull")
        .groupBy(*keys)
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_latin").alias("n_latin"),
            F.sum("n_cyrillic").alias("n_cyrillic"),
            F.sum("n_greek").alias("n_greek"),
            F.sum("n_cjk").alias("n_cjk"),
            F.sum("n_digit").alias("n_digit"),
        )
    )

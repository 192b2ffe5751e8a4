"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Scale design (the whole point of these): never materialize the O(n^2) pair
space. Candidate pairs come from LSH band buckets (MinHash) or signature
chunks (SimHash); exact Jaccard runs only on candidates. All hashing is MD5
via built-in functions so the identical computation runs in the DuckDB
oracle; no Python UDFs anywhere.

Pipeline shape at 100 TB:
  shingle (map) -> minhash (map, groupBy doc) -> band keys (map)
  -> self-join on band bucket (shuffle on band key — skew-bounded because a
     bucket holds only near-identical docs) -> exact verify (map).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from kadiyadb_spark.functions.num import bind1, round4_expr
from kadiyadb_spark.functions.text import normalize_expr, tokens_expr

# ---------------------------------------------------------------- exact


def _content_fp(text_col: str, id_col: str) -> Column:
    """Content fingerprint with the NULL rule: a NULL-text doc gets a
    per-row UNIQUE fingerprint — its content is unknown, not known-equal,
    so grouping all NULLs under md5(NULL)=NULL silently deleted every
    missing-text doc but one (review finding). One expression, one pass;
    the DuckDB twins replay the same CASE."""
    return F.when(
        F.col(text_col).isNull(),
        F.concat(F.lit("__null__"), F.col(id_col).cast("string")),
    ).otherwise(F.md5(normalize_expr(F.col(text_col)).cast("binary")))


def exact_duplicates(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup via content-hash groupBy: one row per duplicate *group*
    (n_copies >= 2), keeper = min id. One shuffle keyed by the hash.
    NULL-text docs are never duplicates (see _content_fp)."""
    fp = _content_fp(text_col, id_col)
    return (
        df.select(fp.alias("fp"), F.col(id_col))
        .groupBy("fp")
        .agg(F.min(id_col).alias("keeper_id"), F.count("*").alias("n_copies"))
        .filter(F.col("n_copies") >= 2)
    )


def dedup_exact(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep exactly one doc (min id) per distinct normalized content.
    NULL-text docs pass through untouched (see _content_fp)."""
    fp = _content_fp(text_col, id_col)
    keep = (
        df.select(fp.alias("fp"), F.col(id_col))
        .groupBy("fp")
        .agg(F.min(id_col).alias(id_col))
    )
    return df.join(keep.select(id_col), on=id_col, how="inner")


# ---------------------------------------------------------------- shingles


def shingles_expr(text: Column, k: int = 8) -> Column:
    """Distinct character k-grams of normalized text — no UDF, no shuffle.
    The normalized text is let-bound (num.bind1) so the per-window slice
    lambda references a lambda variable, not the regex-normalize tree:
    interpreted HOFs re-evaluate captured outer expressions per element,
    which made this O(n²) per document (r13 measurement: 4x)."""

    def body(norm: Column) -> Column:
        n = F.length(norm)
        idx = F.sequence(F.lit(1), F.greatest(n - (k - 1), F.lit(1)))
        return F.array_distinct(F.transform(idx, lambda i: F.substring(norm, i, k)))

    return bind1(normalize_expr(text), body)


def word_shingles_expr(text: Column, k: int = 3) -> Column:
    """Distinct word k-gram shingles; a document with fewer than ``k``
    tokens yields the EMPTY set (text.word_ngrams_expr's guard — the
    unguarded greatest(n-k, 0) index still read element_at past the token
    array, an ANSI-mode job-killing crash on any short doc). Tokens are
    let-bound (num.bind1): the slice lambda otherwise re-splits the whole
    text per gram (r13)."""

    def body(toks: Column) -> Column:
        n = F.size(toks)
        grams = F.transform(
            F.sequence(F.lit(0), n - k),
            lambda i: F.concat_ws(" ", F.slice(toks, i + 1, k)),
        )
        return F.when(n >= k, F.array_distinct(grams)).otherwise(
            F.array().cast("array<string>")
        )

    return bind1(tokens_expr(text), body)


# ---------------------------------------------------------------- minhash


# Universal-hash family for minhash: h_i(s) = (A[i]*base(s) + B[i]) mod P,
# base(s) = first 32 bits of md5(s). One md5 per shingle (not one per hash
# function — 8x less hashing); A[i] < 2^20 keeps A*base < 2^52, exact in
# int64 in any engine AND representable in a double-only engine (the
# portability bound the invariant exists for — entries 11-15 used to
# violate it at up to 2^57, review finding; signatures for num_hashes
# >= 12 change, no gated caller uses more than 8). Constants are
# arbitrary fixed primes.
MINHASH_P = 4_294_967_311  # prime > 2^32
MINHASH_A = [769, 1543, 3079, 6151, 12289, 24593, 49157, 98317, 196613, 393241, 786433, 1048517, 1048549, 1048559, 1048571, 1048573]
MINHASH_B = [378551, 63689, 458798, 262144, 104729, 99991, 65537, 524287, 131071, 8191, 6700417, 2147483647, 999983, 101111, 333667, 15485863]


def base_hash_expr(s: Column) -> Column:
    """First 32 bits of md5 as a bigint — the per-shingle base hash."""
    return F.conv(F.substring(F.md5(s.cast("binary")), 1, 8), 16, 10).cast("long")


def shingle_table(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id", shingle_k: int = 8
) -> DataFrame:
    """(id, sh) — the shingle sets, as a frame so pipelines can persist it
    once and feed both signature generation and Jaccard verification."""
    return docs.select(F.col(id_col), shingles_expr(F.col(text_col), shingle_k).alias("sh"))


def minhash_signature_from_shingles(
    sh_df: DataFrame, id_col: str = "doc_id", num_hashes: int = 8
) -> DataFrame:
    """MinHash signature via a universal-hash family over one md5 base hash
    per shingle. The identical integer arithmetic runs in the DuckDB oracle,
    so signatures are engine-portable."""
    if num_hashes > len(MINHASH_A):
        raise ValueError(f"at most {len(MINHASH_A)} hash functions supported")
    # Materialize the base-hash array once in its own projection; the 8
    # min-derivations reference the column, not 8 copies of the md5 subtree.
    based = sh_df.select(F.col(id_col), F.transform(F.col("sh"), base_hash_expr).alias("_hs"))

    def _min_h(i: int):
        # Single-arg lambda via closure (a second parameter would be bound
        # to the array index by transform()).
        a, b_, p = MINHASH_A[i], MINHASH_B[i], MINHASH_P
        return F.array_min(
            F.transform(F.col("_hs"), lambda h: (F.lit(a) * h + F.lit(b_)) % F.lit(p))
        )

    sig = F.array(*[_min_h(i) for i in range(num_hashes)])
    return based.select(F.col(id_col), sig.alias("signature"))


def minhash_signature(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 8,
    shingle_k: int = 8,
) -> DataFrame:
    return minhash_signature_from_shingles(
        shingle_table(df, text_col, id_col, shingle_k), id_col, num_hashes
    )


def banded_signatures(
    sigs: DataFrame,
    id_col: str = "doc_id",
    bands: int = 4,
    rows_per_band: int = 2,
    keep_signature: bool = False,
) -> DataFrame:
    """(id, band_idx, band_key[, signature]) — one row per band, band_key =
    the band's hashes joined. Docs agreeing on ALL hashes of any band share
    a (band_idx, band_key) bucket."""
    extra = [F.col("signature")] if keep_signature else []
    return sigs.select(
        F.col(id_col),
        F.posexplode(
            F.array(
                *[
                    F.concat_ws(
                        "|",
                        *[
                            F.element_at("signature", b * rows_per_band + r + 1).cast("string")
                            for r in range(rows_per_band)
                        ],
                    )
                    for b in range(bands)
                ]
            )
        ).alias("band_idx", "band_key"),
        *extra,
    )


def lsh_candidates(
    sigs: DataFrame,
    id_col: str = "doc_id",
    bands: int = 4,
    rows_per_band: int = 2,
    max_bucket: int | None = None,
) -> DataFrame:
    """Band the signatures and self-join on (band_idx, band_key): docs
    agreeing on ALL hashes of any band become a candidate pair (a < b).

    ``max_bucket`` is the 100 TB skew valve: a boilerplate-heavy corpus
    puts millions of near-identical docs into ONE band bucket, and
    all-pairs there is quadratic (10M docs -> 5*10^13 pairs through one
    join key — the job never finishes). Buckets larger than ``max_bucket``
    switch to STAR pairing: every member pairs with the bucket's min id
    only (n-1 pairs, linear). The trade, stated precisely: downstream
    connected-components clustering is UNCHANGED (a bucket's star keeps it
    connected, so cluster membership is identical), but the raw pair LIST
    loses non-min-adjacent pairs whose similarity the verify step would
    have had to score anyway — in an oversized bucket those are
    overwhelmingly true duplicates of each other. Default None (exact
    all-pairs) keeps the oracle-gated semantics."""
    banded = banded_signatures(sigs, id_col, bands, rows_per_band)
    if max_bucket is None:
        small, big = banded, None
    else:
        stats = banded.groupBy("band_idx", "band_key").agg(
            F.count("*").alias("_n"), F.min(id_col).alias("_min")
        )
        tagged = banded.join(stats, ["band_idx", "band_key"])
        small = tagged.filter(F.col("_n") <= max_bucket).select(
            id_col, "band_idx", "band_key"
        )
        big = (
            tagged.filter((F.col("_n") > max_bucket) & (F.col(id_col) != F.col("_min")))
            .select(F.col("_min").alias("id_a"), F.col(id_col).alias("id_b"))
        )
    a = small.alias("a")
    b = small.alias("b")
    pairs = (
        a.join(
            b,
            on=[
                F.col(f"a.band_idx") == F.col("b.band_idx"),
                F.col(f"a.band_key") == F.col("b.band_key"),
                F.col(f"a.{id_col}") < F.col(f"b.{id_col}"),
            ],
        )
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
    )
    if big is not None:
        pairs = pairs.unionByName(big)
    return pairs.distinct()


def jaccard_pairs(
    docs: DataFrame,
    pairs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 8,
    sh: DataFrame | None = None,
    broadcast_pairs: bool = True,
) -> DataFrame:
    """Exact shingle-set Jaccard for given candidate pairs. Pass a persisted
    ``sh`` (from shingle_table) to avoid recomputing shingles per join side.

    ``broadcast_pairs=True`` broadcasts the candidate frame on both joins:
    |candidates| << |docs| by LSH construction, and without the hint
    Catalyst can't estimate the self-join's output so it sort-merge-joins —
    shuffling the full shingle table (the corpus's dominant payload) TWICE
    just to pick out a handful of pairs. Measured 6s -> 0.5s at sf0.1.

    BUT the candidate set is data-dependent: on a mirror-heavy corpus a
    hot band bucket goes quadratic and the broadcast build (collected to
    the driver) blows spark.driver.maxResultSize — found EMPIRICALLY by
    the r10 sf1 rehearsal (10x replicated docs -> >1 GiB of candidate
    rows -> dedup_keep_best/pipeline_curate dead at the collect). Callers
    that cannot bound |candidates| a priori must measure and pass
    ``broadcast_pairs=False`` (minhash_near_duplicates now does) — the
    joins then shuffle on the id keys, which AQE sizes; slower, never
    driver-fatal.

    r13 shape fix (review finding): the broadcast only ever carries the
    BARE (id_a, id_b) frame. The old shape broadcast the intermediate
    pairs-with-sh_a frame, whose per-row shingle arrays (~100 KB for a
    10 KB doc) re-entered the driver-collect failure far below the row
    guard. Now both shingle lookups are map-side scans against the tiny
    pair list, and the arrays meet in ONE pair-keyed shuffle bounded by
    |candidates| — never a driver payload."""
    if sh is None:
        sh = shingle_table(docs, text_col, id_col, shingle_k)
    hint = F.broadcast if broadcast_pairs else (lambda d: d)
    bare = pairs.select("id_a", "id_b")
    a = sh.alias("sa")
    b = sh.alias("sb")
    side_a = a.join(hint(bare), F.col("id_a") == F.col(f"sa.{id_col}")).select(
        "id_a", "id_b", F.col("sa.sh").alias("sh_a")
    )
    side_b = b.join(hint(bare), F.col("id_b") == F.col(f"sb.{id_col}")).select(
        "id_a", "id_b", F.col("sb.sh").alias("sh_b")
    )
    return (
        side_a.join(side_b, ["id_a", "id_b"])
        .select(
            "id_a",
            "id_b",
            round4_expr(
                F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
                / F.size(F.array_union("sh_a", "sh_b")).cast("double")
            ).alias("jaccard"),
        )
    )


def containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 8,
    max_df: int = 10,
    threshold: float = 0.5,
) -> DataFrame:
    """ASYMMETRIC overlap (containment) pairs: |A∩B|/|A| and |A∩B|/|B|
    over rare-shingle profiles — the doc-IN-doc detector (quotes, nested
    mirrors, a benchmark embedded in a crawl page) that symmetric Jaccard
    is structurally blind to: a small doc inside a huge one has near-zero
    Jaccard, so MinHash-LSH bands under-recall exactly the pairs this op
    exists for. Blocking is therefore an INVERTED INDEX on the shingles
    themselves: docs sharing any rare shingle become candidates, and the
    join that blocks also COUNTS the intersection — one pass.

    ``max_df`` is the scale valve and the semantics in one knob: shingles
    appearing in more than ``max_df`` docs are stoplisted (boilerplate
    n-grams carry no containment signal and would go quadratic — a capped
    shingle joins at most max_df docs, bounding pairs per shingle at
    max_df²/2). Sizes and intersections are computed over the SAME
    filtered profile on both engines, so the ratios are well-defined and
    gate-exact (integer counts, one division each, round4).

    Scale shape: one shingle-keyed frequency aggregation, the inverted
    self-join (bounded by Σ df² over rare shingles), one pair groupBy.
    Output: (id_a, id_b, n_shared, size_a, size_b, cont_a, cont_b) with
    id_a < id_b, kept when max(cont_a, cont_b) >= threshold."""
    if max_df < 1:
        raise ValueError(f"need max_df >= 1, got {max_df}")
    if not (0.0 < threshold <= 1.0):
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    e = df.select(
        F.col(id_col).alias("_id"),
        F.explode(shingles_expr(F.col(text_col), shingle_k)).alias("_sh"),
    )
    freq = e.groupBy("_sh").agg(F.count(F.lit(1)).alias("_df"))
    rare = (
        e.join(freq.filter(F.col("_df") <= max_df), "_sh")
        .select("_id", "_sh")
        # feeds sizes AND both join sides. localCheckpoint, NOT persist:
        # a persisted frame registers in the CacheManager forever (the
        # caller can't unpersist what it never saw — review finding; the
        # leak evicted useful caches across a long curation session),
        # while a checkpointed RDD is context-cleaned once the returned
        # frame is dropped. On multi-node prefer setCheckpointDir +
        # checkpoint() (same note as connected_components).
        .localCheckpoint(eager=False)
    )
    sz = rare.groupBy("_id").agg(F.count(F.lit(1)).alias("_n"))
    a, b = rare.alias("a"), rare.alias("b")
    inter = (
        a.join(b, (F.col("a._sh") == F.col("b._sh")) & (F.col("a._id") < F.col("b._id")))
        .groupBy(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    out = (
        inter.join(sz.select(F.col("_id").alias("id_a"), F.col("_n").alias("size_a")), "id_a")
        .join(sz.select(F.col("_id").alias("id_b"), F.col("_n").alias("size_b")), "id_b")
        .select(
            "id_a",
            "id_b",
            "n_shared",
            "size_a",
            "size_b",
            round4_expr(
                F.col("n_shared").cast("double") / F.col("size_a").cast("double")
            ).alias("cont_a"),
            round4_expr(
                F.col("n_shared").cast("double") / F.col("size_b").cast("double")
            ).alias("cont_b"),
        )
    )
    return out.filter(F.greatest("cont_a", "cont_b") >= threshold)


def _lsh_geometry(num_hashes: int, bands: int) -> int:
    """rows_per_band, validated: bands must divide num_hashes evenly.
    num_hashes < bands gives rows_per_band = 0 — every band_key is the
    EMPTY string, ALL docs collide in every band and the self-join goes
    full cross-product (the exact quadratic blowup LSH exists to avoid);
    a nonzero remainder silently drops hashes, changing the documented
    S-curve (review finding, confirmed live)."""
    if bands < 1 or num_hashes % bands != 0:
        raise ValueError(
            f"bands ({bands}) must evenly divide num_hashes ({num_hashes})"
        )
    return num_hashes // bands


def minhash_near_duplicates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 8,
    bands: int = 4,
    shingle_k: int = 8,
    threshold: float = 0.5,
    max_bucket: int | None = None,
) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline: shingle -> minhash -> band-bucket
    join -> exact-Jaccard verify -> threshold. ``max_bucket`` caps oversized
    band buckets with star pairing (see lsh_candidates) — set it on
    boilerplate-heavy corpora where one bucket would go quadratic.

    The shingle table is computed ONCE and persisted (memory-and-disk):
    the LSH self-join and the two Jaccard join sides would otherwise each
    recompute the whole normalize+shingle+md5 chain — ~5 full passes over
    the corpus instead of one.

    The exact-Jaccard verify join is SIZE-ADAPTIVE (r10 sf1 rehearsal
    finding): the candidate set is persisted and COUNTED before the
    verify plan is built — at or below ``broadcast_cands`` rows it is
    broadcast (the sf0.1-measured 12x win), above it the verify joins
    shuffle on the id keys, because a mirror-heavy corpus can push a hot
    band bucket quadratic and a blind broadcast then dies collecting
    >1 GiB to the driver (spark.driver.maxResultSize). The count is one
    job over the already-persisted signatures; on a 100 TB corpus the
    candidate count is a number the pipeline should be recording anyway
    (it IS the dup-rate observability metric)."""
    from pyspark import StorageLevel

    rows_per_band = _lsh_geometry(num_hashes, bands)
    broadcast_cands = 2_000_000  # ~tens of MB serialized; far under 1 GiB
    sh = shingle_table(df, text_col, id_col, shingle_k).persist(StorageLevel.MEMORY_AND_DISK)
    sigs = minhash_signature_from_shingles(sh, id_col, num_hashes).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    cands = lsh_candidates(sigs, id_col, bands, rows_per_band, max_bucket=max_bucket).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    n_cands = cands.count()
    jac = jaccard_pairs(
        df, cands, text_col, id_col, shingle_k, sh=sh,
        broadcast_pairs=n_cands <= broadcast_cands,
    )
    return jac.filter(F.col("jaccard") >= threshold)


# ---------------------------------------------------------------- simhash


def simhash(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 32,
) -> DataFrame:
    """SimHash over whitespace tokens: token hash = first 8 hex chars of
    md5 (32-bit), bit j of the fingerprint set iff sum over distinct tokens
    of (+1 if bit j set else -1) > 0.

    Shape: explode distinct tokens -> one groupBy(doc) with ``bits``
    conditional sums. One shuffle keyed by doc id, partial-aggregated
    map-side; docs with zero tokens produce no row (matches unnest-based
    SQL semantics).
    """
    toks = F.array_distinct(tokens_expr(F.col(text_col)))
    exploded = df.select(F.col(id_col), F.explode(toks).alias("_tok"))
    h = F.conv(F.substring(F.md5(F.col("_tok").cast("binary")), 1, 8), 16, 10).cast("long")
    bit_sums = [
        F.sum(
            F.when(F.shiftright(h, j).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"_b{j}")
        for j in range(bits)
    ]
    summed = exploded.groupBy(id_col).agg(*bit_sums)
    fp = None
    for j in range(bits):
        term = F.when(F.col(f"_b{j}") > 0, F.lit(2**j).cast("long")).otherwise(F.lit(0).cast("long"))
        fp = term if fp is None else fp + term
    return summed.select(F.col(id_col), fp.alias("simhash"))


def simhash_near_duplicates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 32,
    chunks: int = 4,
    max_hamming: int = 3,
) -> DataFrame:
    """SimHash near-dup with chunk blocking: split the fingerprint into
    ``chunks`` pieces; by pigeonhole, any pair within hamming distance
    < chunks must agree on >= 1 chunk — join on (chunk_idx, chunk_value),
    then verify exact hamming distance via bit_count(xor). The fingerprint
    frame is persisted: both self-join sides read it.

    The pigeonhole guarantee REQUIRES max_hamming < chunks — validated
    (review finding: max_hamming=6 over 4 chunks silently lost every pair
    whose 4-6 differing bits spread across all 4 chunks, and the blocking
    oracle replays the same blindness). Bits not covered when chunks does
    not divide bits evenly cost no recall: differing bits there never
    break chunk agreement, they only count toward the verified hamming."""
    from pyspark import StorageLevel

    if max_hamming >= chunks:
        raise ValueError(
            f"pigeonhole blocking needs max_hamming < chunks, got "
            f"max_hamming={max_hamming}, chunks={chunks} — raise chunks "
            f"(recall), not max_hamming"
        )
    if bits // chunks < 1:
        raise ValueError(f"chunks ({chunks}) exceeds bits ({bits})")

    sh = simhash(df, text_col, id_col, bits).persist(StorageLevel.MEMORY_AND_DISK)
    w = bits // chunks
    mask = (1 << w) - 1
    chunked = sh.select(
        id_col,
        "simhash",
        F.posexplode(
            F.array(*[F.shiftright("simhash", i * w).bitwiseAND(F.lit(mask)) for i in range(chunks)])
        ).alias("chunk_idx", "chunk_val"),
    )
    a, b = chunked.alias("a"), chunked.alias("b")
    cand = (
        a.join(
            b,
            on=[
                F.col("a.chunk_idx") == F.col("b.chunk_idx"),
                F.col("a.chunk_val") == F.col("b.chunk_val"),
                F.col(f"a.{id_col}") < F.col(f"b.{id_col}"),
            ],
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col("a.simhash").alias("sh_a"),
            F.col("b.simhash").alias("sh_b"),
        )
        .distinct()
    )
    ham = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return cand.select("id_a", "id_b", ham.cast("long").alias("hamming")).filter(
        F.col("hamming") <= max_hamming
    )


# ---------------------------------------------------------------- winnowing


def winnow_near_duplicates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    num_mins: int = 4,
    min_shared: int = 2,
) -> DataFrame:
    """Near-dup candidates via winnowing fingerprints (MOSS-style): each doc
    keeps its ``num_mins`` smallest k-gram window hashes; docs sharing a min
    hash almost surely share a k-gram, and sharing >= ``min_shared`` of them
    indicates substantial overlap. Output (id_a, id_b, n_shared).

    Blocking shape: explode num_mins values per doc, self-join on the HASH
    VALUE (position-independent) — the bucket key is a content hash, so
    bucket sizes track duplicate-group sizes exactly like MinHash bands.
    A 4th independent candidate generator beside MinHash-LSH bands, SimHash
    chunks and IVF-blocked embeddings; useful because winnowing mins are
    LOCAL features (robust to appended/prepended content that shifts every
    MinHash signature)."""
    from kadiyadb_spark.functions.text import winnow_fingerprint

    fp = winnow_fingerprint(df, text_col, id_col, k, num_mins)
    exploded = fp.select(
        F.col(id_col),
        F.explode(F.array(*[F.col(f"min{j}") for j in range(num_mins)])).alias("h"),
    ).distinct()
    a, b = exploded.alias("a"), exploded.alias("b")
    return (
        a.join(
            b,
            on=[
                F.col("a.h") == F.col("b.h"),
                F.col(f"a.{id_col}") < F.col(f"b.{id_col}"),
            ],
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def fuzzy_near_duplicates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_dist: int = 4,
    block_cols: list[str] | None = None,
) -> DataFrame:
    """Near-dup pairs by EDIT DISTANCE (Levenshtein <= ``max_dist``) — the
    fuzzy-match mode for short normalized fields (titles, URLs, product
    names) where token-set measures (MinHash/Jaccard) are blind to
    character-level noise (OCR errors, typos, single-word swaps).

    Blocking is LOSSLESS on string length: edit distance >= |len_a -
    len_b|, so with length buckets of width ``max_dist`` any qualifying
    pair lands in the same or adjacent bucket — two equi-joins cover the
    full recall, no candidate with dist <= max_dist is ever missed (unlike
    the probabilistic LSH/SimHash blockers above). ``block_cols`` adds
    exact-equality blocking keys on top (e.g. lang, source, or a leading
    token) — a deliberate recall trade the caller opts into, because
    length alone degenerates at corpus scale: most of a 100 TB corpus
    shares a handful of length buckets, and the self-join inside one
    bucket is quadratic. Rows with a NULL in any block col drop (equi-join
    semantics), matching the SQL twin.

    Verification stays JVM-side: Spark's thresholded ``levenshtein(a, b,
    max_dist)`` is the banded O(max_dist * n) DP with early exit (returns
    -1 past the threshold) — at 100 TB the verify cost is bounded by the
    threshold, not the string length squared. The reported ``dist`` for
    kept pairs equals the exact unthresholded distance, which is what the
    oracle's plain ``levenshtein()`` computes.

    Output: (id_a, id_b, dist) with id_a < id_b, one row per unordered
    candidate pair within the blocking scheme."""
    if max_dist < 0:
        raise ValueError(f"max_dist must be >= 0, got {max_dist}")
    width = max(max_dist, 1)
    block_cols = list(block_cols or [])
    keyed = df.select(
        F.col(id_col).alias("_id"),
        F.col(text_col).alias("_k"),
        *[F.col(c).alias(f"_b_{c}") for c in block_cols],
    ).withColumn("_bk", F.floor(F.length("_k") / F.lit(width)).cast("long"))
    a, b = keyed.alias("a"), keyed.alias("b")
    eq = [F.col(f"a._b_{c}") == F.col(f"b._b_{c}") for c in block_cols]
    # same bucket: id order dedups the unordered pair; adjacent bucket:
    # bucket order already visits each cross-bucket pair exactly once, ids
    # normalize with least/greatest afterwards
    same = a.join(b, eq + [F.col("a._bk") == F.col("b._bk"), F.col("a._id") < F.col("b._id")]).select(
        F.col("a._id").alias("id_a"),
        F.col("b._id").alias("id_b"),
        F.col("a._k").alias("_ka"),
        F.col("b._k").alias("_kb"),
    )
    adj = a.join(b, eq + [F.col("a._bk") + F.lit(1) == F.col("b._bk")]).select(
        F.least(F.col("a._id"), F.col("b._id")).alias("id_a"),
        F.greatest(F.col("a._id"), F.col("b._id")).alias("id_b"),
        F.col("a._k").alias("_ka"),
        F.col("b._k").alias("_kb"),
    )
    cands = same.unionByName(adj)
    dist = F.levenshtein(F.col("_ka"), F.col("_kb"), max_dist)
    return (
        cands.select("id_a", "id_b", dist.cast("long").alias("dist"))
        .filter((F.col("dist") >= 0) & (F.col("dist") <= max_dist))
    )


# ---------------------------------------------------------------- clustering


def _local_components(edges: DataFrame) -> DataFrame:
    """Driver-side union-find over a pre-materialized SMALL edge frame.
    min-root semantics identical to the star-contraction fixpoint: every
    node in a component maps to the component's smallest id."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:  # path compression
            parent[x], x = r, parent[x]
        return r

    # ONE collect job, not toLocalIterator: the caller only routes here at or
    # below local_threshold edges (<= ~16 MB of longs — inside the documented
    # few-hundred-MB driver trade), while toLocalIterator runs ONE JOB PER
    # PARTITION — measured 32 sequential ~0.25 s jobs (~8 s of pure scheduling
    # latency) on a 32-partition edge frame at sf0.1 (guide §5: the driver
    # should do almost no data work, but a bounded collect beats 32 round
    # trips for the same bytes).
    for u, v in edges.select("u", "v").collect():
        if u not in parent:
            parent[u] = u
        if v not in parent:
            parent[v] = v
        ru, rv = find(u), find(v)
        if ru != rv:
            # union by MIN id so the root IS the cluster id
            lo, hi = (ru, rv) if ru < rv else (rv, ru)
            parent[hi] = lo
    rows = [(n, find(n)) for n in parent]
    return edges.sparkSession.createDataFrame(
        rows, schema="node long, cluster_id long"
    )


def cross_source_matrix(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    source_col: str = "source",
) -> DataFrame:
    """Cross-source duplication census: roll a near-dup pair list up to a
    symmetric source x source matrix — the report that tells a corpus
    curator WHERE duplication lives (mirrors of the same crawl, an eval
    benchmark leaked into a training source, one feed re-publishing
    another). Rows: (source_a <= source_b lexicographically, n_pairs).

    Scale shape: the PAIR side broadcasts (bounded by duplicate volume,
    orders below corpus size — the corpus's (id, source) projection is
    billions of rows and must never be the broadcast side); each resolve
    is then a map-side join against the two-column pruned corpus scan,
    and the intermediate shrinks to pair volume after the first join, so
    the second broadcast is pair-sized too. One groupBy over the
    normalized source pair ends it — the corpus never shuffles."""
    side = docs.select(F.col(id_col), F.col(source_col))
    # The pair list is broadcast TWICE (directly, then inside with_a's
    # plan); without a persist the whole upstream pair computation — a
    # full LSH pass over the corpus — re-executes per broadcast. The
    # persist also makes the SIZE-ADAPTIVE check below one cheap job:
    # like minhash_near_duplicates (r10 sf1 rehearsal finding), the pair
    # volume is data-dependent — a mirror-heavy corpus can push it past
    # what a driver-collected broadcast build survives — so past 2M pairs
    # the resolve joins shuffle on the id keys instead.
    pairs = pairs.select("id_a", "id_b").persist()
    try:
        bcast = pairs.count() <= 2_000_000
        out = _cross_source_plan(side, pairs, id_col, source_col, bcast)
        # Materialize the (source-pair-sized) matrix eagerly so the cached
        # pair partitions release HERE instead of living for the session
        # (the result is ~ |sources|^2 rows, trivially small).
        rows = out.collect()
        return docs.sparkSession.createDataFrame(rows, schema=out.schema)
    finally:
        pairs.unpersist()


def _cross_source_plan(
    side: DataFrame, pairs: DataFrame, id_col: str, source_col: str,
    broadcast_pairs: bool = True,
) -> DataFrame:
    """The lazy plan under cross_source_matrix: two pair-side resolve
    joins (broadcast when the measured pair count allows — plan-asserted
    in tests/test_plans.py — shuffled-on-id past the cap) + one
    source-pair groupBy; the corpus projection never shuffles in the
    broadcast regime."""
    hint = F.broadcast if broadcast_pairs else (lambda d: d)
    with_a = (
        side.join(hint(pairs), side[id_col] == F.col("id_a"))
        .select("id_a", "id_b", F.col(source_col).alias("_sa"))
    )
    with_b = (
        side.join(hint(with_a), side[id_col] == F.col("id_b"))
        .select("_sa", F.col(source_col).alias("_sb"))
    )
    return (
        with_b.select(
            F.least("_sa", "_sb").alias("source_a"),
            F.greatest("_sa", "_sb").alias("source_b"),
        )
        .groupBy("source_a", "source_b")
        .agg(F.count("*").cast("long").alias("n_pairs"))
    )


def connected_components(
    pairs: DataFrame,
    src_col: str = "id_a",
    dst_col: str = "id_b",
    max_iter: int = 30,
    local_threshold: int = 1_000_000,
) -> DataFrame:
    """Connected components of the (undirected) near-duplicate pair graph via
    alternating LARGE-STAR / SMALL-STAR rounds (Kiveris et al., "Connected
    Components in MapReduce and Beyond", 2014). Returns (node, cluster_id)
    with cluster_id = smallest id in the component.

    This is the step that turns pairwise near-dup OUTPUT (a, b, score) into
    the thing a curation pipeline actually needs — "keep one doc per
    cluster" — without ever materializing transitive pair closures.

    Why star-contraction and not min-label propagation: propagation needs
    O(diameter) rounds — the component minimum travels one hop per round —
    and near-dup graphs DO have long chains (templated docs mutate
    incrementally: doc_i ~ doc_{i+1}; measured on the sf0.1 fixture, label
    propagation had not converged after 25 rounds while this converges in 7).
    Star rounds rewire every node toward its neighborhood minimum, halving
    component depth each pass: O(log^2 n) rounds on any graph.

    Per round: two shuffles (groupBy for neighborhood minima, distinct on
    the rewired edges) over the PAIR graph only — |pairs| ~ duplicate count,
    orders of magnitude below corpus size. Convergence probe is an O(1)
    (count, sum, sum) signature; lineage is truncated each round with
    localCheckpoint (on a multi-node cluster prefer setCheckpointDir +
    .checkpoint() so lost executors recover from stable storage).

    Tiered execution: the checkpoint that materializes the edge set also
    yields its count; at or below ``local_threshold`` edges the component
    computation runs as driver-side union-find instead of 5-10 distributed
    rounds. Driver footprint at the 1M-edge default is the parent dict of
    up to 2M boxed-int entries plus the result createDataFrame — realistic
    peak is a few hundred MB, a deliberate latency-for-memory trade that
    any driver sized for Spark planning absorbs; shrink ``local_threshold``
    on a memory-tight driver. Each star round costs
    several shuffle stages of fixed scheduling latency, which DOMINATES
    when the dup graph is small — the common case even for huge corpora,
    since |pairs| tracks duplicate count, not corpus size. Past the
    threshold (pathological dup-heavy corpora) the star loop takes over;
    results are identical (min-id labeling) either way."""
    from pyspark.sql import types as T

    int_types = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
    if not isinstance(pairs.schema[src_col].dataType, int_types):
        # Non-integer ids (URL/UUID-keyed corpora): the long cast crashed
        # under ANSI and silently emptied the graph without it (review
        # finding, confirmed live). Map ids to dense longs deterministically
        # (sorted zipWithIndex — distributed, no single-partition window),
        # run the integer machinery, map back. Dense rank preserves id
        # order, so min-dense = min-id and the cluster_id contract
        # ("smallest id in the component") carries over exactly. The
        # vertex set is the DUP GRAPH's (~|pairs|), not the corpus's.
        spark = pairs.sparkSession
        verts = (
            pairs.select(F.col(src_col).alias("id"))
            .union(pairs.select(F.col(dst_col).alias("id")))
            .distinct()
        )
        mapping = spark.createDataFrame(
            verts.orderBy("id").rdd.map(lambda r: r[0]).zipWithIndex(),
            schema=T.StructType(
                [verts.schema["id"], T.StructField("dense", T.LongType())]
            ),
        ).localCheckpoint()  # freeze: zipWithIndex must not re-derive mid-plan
        e_long = (
            pairs.join(mapping.select(F.col("id").alias(src_col), F.col("dense").alias("_u")), src_col)
            .join(mapping.select(F.col("id").alias(dst_col), F.col("dense").alias("_v")), dst_col)
            .select(F.col("_u").alias("id_a"), F.col("_v").alias("id_b"))
        )
        labeled = connected_components(e_long, "id_a", "id_b", max_iter, local_threshold)
        return (
            labeled.join(mapping.select(F.col("dense").alias("node"), F.col("id").alias("_n")), "node")
            .join(mapping.select(F.col("dense").alias("cluster_id"), F.col("id").alias("_c")), "cluster_id")
            .select(F.col("_n").alias("node"), F.col("_c").alias("cluster_id"))
        )

    edges = (
        pairs.select(F.col(src_col).cast("long").alias("u"), F.col(dst_col).cast("long").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint()
    )
    if edges.count() <= local_threshold:
        return _local_components(edges)
    prev_sig = None
    converged = False
    for it in range(max_iter):
        bidir = edges.union(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
        # large-star: every neighbor v > u re-points to min(N(u) ∪ {u})
        m = bidir.groupBy("u").agg(F.min("v").alias("_mn")).select(
            "u", F.least(F.col("_mn"), F.col("u")).alias("m")
        )
        large = (
            bidir.join(m, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
        )
        # small-star: smaller neighbors (and u itself) re-point to their min
        small_nb = bidir.filter(F.col("v") < F.col("u"))
        sm = small_nb.groupBy("u").agg(F.min("v").alias("m"))
        small = (
            small_nb.join(sm, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .union(sm.select(F.col("u"), F.col("m").alias("v")))
        )
        # lazy checkpoint: the signature aggregation right after is the job
        # that materializes it — one job per round instead of two
        edges = (
            large.union(small)
            .filter(F.col("u") != F.col("v"))
            .distinct()
            .localCheckpoint(eager=False)
        )
        # Probe convergence only every OTHER round: the collect round-trip
        # and its job are pure latency, and rounds past the fixpoint are
        # no-ops on the edge set (star rounds are idempotent at fixpoint).
        # Worst case: the fixpoint lands right after a probe, so the loop
        # runs up to TWO extra no-op rounds before the next probe sees the
        # unchanged (count, sum, sum) signature — sound for monotone star
        # contraction because the signature is compared across the same
        # two-round stride every time. Lineage depth stays bounded at two
        # rounds between materializations.
        if it % 2 == 0 and it + 1 < max_iter:
            continue
        sig = tuple(edges.agg(F.count("*"), F.sum("u"), F.sum("v")).collect()[0])
        if sig == prev_sig:
            converged = True
            break
        prev_sig = sig
    if not converged:
        # The star-unpacking below is only valid AT the fixpoint — on a
        # non-converged edge set it would emit non-minimum labels and
        # split components silently (review finding). O(log^2 n) bounds
        # say max_iter=30 covers any real graph; failing loudly beats a
        # wrong clustering.
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} star rounds"
        )
    # fixpoint edge set is the star {(x, min_C) : x ∈ C, x != min_C}
    return (
        edges.select(F.col("u").alias("node"), F.col("v").alias("cluster_id"))
        .union(edges.select(F.col("v").alias("node"), F.col("v").alias("cluster_id")))
        .distinct()
    )


# ---------------------------------------------------------------- embeddings


def cluster_representatives(
    clusters: DataFrame,
    scores: DataFrame,
    id_col: str = "doc_id",
    score_col: str = "quality",
    cluster_col: str = "cluster_id",
    node_col: str = "node",
) -> DataFrame:
    """Keep-best canonical selection after clustering — the step between
    "these docs are duplicates" and "this is the copy we train on": per
    cluster, the member with the HIGHEST score survives (ties to the
    lowest id, so the choice is a total order in any engine). The min-id
    convention (pipeline_curate) keeps whichever copy crawled first;
    this keeps the best-quality copy — the curation policy real corpora
    want when mirrors differ in OCR noise or boilerplate.

    Engine-default-free: the score quantizes to a scaled long BEFORE the
    argmax, so equal-at-4dp scores tie identically cross-engine instead
    of resolving by double ULPs. Scale shape: one cluster-keyed window
    whose per-partition state is one duplicate group (bounded by dup
    group size, not corpus size); docs that never clustered aren't in
    ``clusters`` and keep themselves by definition — union them back
    downstream if a full keeper list is needed.

    Members MISSING from ``scores`` (token-based scorers drop zero-token
    docs) still count in n_members and can still keep (NULL score ranks
    LAST, ties to lowest id) — the old inner join silently excluded them
    from both the argmax and the member count, and a fully-unscored
    cluster vanished with no keeper at all (review finding).

    Output: (cluster_col, keeper_id, n_members, score_col — NULL when the
    keeper itself is unscored)."""
    from pyspark.sql import Window

    s4i = F.round(F.col(score_col).cast("double") * 10000).cast("long")
    j = clusters.select(F.col(node_col), F.col(cluster_col)).join(
        scores.select(F.col(id_col).alias(node_col), s4i.alias("_s4i")),
        node_col,
        "left",
    )
    w = Window.partitionBy(cluster_col).orderBy(
        # desc_nulls_last EXPLICITLY: Spark's desc default happens to be
        # nulls-last but DuckDB's is nulls-first — the oracle twin states
        # NULLS LAST, so the engine states it too
        F.col("_s4i").desc_nulls_last(), F.col(node_col).asc()
    )
    return (
        j.select(
            F.col(cluster_col),
            F.col(node_col),
            "_s4i",
            F.row_number().over(w).alias("_rn"),
            F.count(F.lit(1)).over(Window.partitionBy(cluster_col)).cast("long").alias(
                "n_members"
            ),
        )
        .filter(F.col("_rn") == 1)
        .select(
            cluster_col,
            F.col(node_col).alias("keeper_id"),
            "n_members",
            (F.col("_s4i") / F.lit(10000.0)).alias(score_col),
        )
    )


def embedding_near_duplicates(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    num_centroids: int = 8,
    centroids: "str | DataFrame" = "deterministic",
) -> DataFrame:
    """Embedding-cosine near-dup with IVF centroid blocking: assign every
    vector to its nearest centroid MAP-SIDE (similarity.ivf_assign — one
    numpy argmax per Arrow batch, no shuffle, no crossJoin), then score
    all pairs WITHIN each centroid bucket only. One shuffle keyed by
    centroid_id; per-bucket upper-triangle matmul at memory bandwidth.

    This is approximate by construction — a pair split across buckets is
    never scored — which is the standard recall/cost trade of blocked
    near-dup at scale: all-pairs over 100 TB is not a thing. Recall is
    tuned by ``num_centroids`` (fewer = bigger buckets = higher recall,
    more work per bucket); raise centroid count with corpus size so bucket
    sizes stay bounded. Threshold applies to the UNROUNDED cosine
    (rounding is presentation only). Per-pair JVM expression evaluation
    measured ~6us/pair (interpreted HOFs / past the JIT huge-method
    limit) — numpy per bucket instead."""
    import numpy as np

    from kadiyadb_spark.functions.similarity import ivf_assign, resolve_centroids

    cents = resolve_centroids(emb, num_centroids, centroids, id_col, vec_col)
    assigned = ivf_assign(emb, cents, id_col, vec_col)

    def bucket_pairs(pdf):
        import pandas as pd

        if len(pdf) < 2:
            return pd.DataFrame({"id_a": [], "id_b": [], "_cos": []})
        ids = pdf[id_col].to_numpy()
        v = np.array(pdf[vec_col].tolist(), dtype=np.float64)
        # zero-norm guard (code-review r12): all-zero vectors get cosine 0
        # against everything instead of NaN rows (never near-dup, no warning)
        norms = np.linalg.norm(v, axis=1, keepdims=True)
        vn = v / np.where(norms == 0.0, 1.0, norms)
        s = vn @ vn.T
        hit_r, hit_c = np.where((s >= threshold) & (ids[:, None] < ids[None, :]))
        return pd.DataFrame({"id_a": ids[hit_r], "id_b": ids[hit_c], "_cos": s[hit_r, hit_c]})

    scored = assigned.groupBy("centroid_id").applyInPandas(
        bucket_pairs, schema="id_a long, id_b long, _cos double"
    )
    return scored.select("id_a", "id_b", round4_expr(F.col("_cos")).alias("cosine"))


def signature_est_jaccard(sig_a: Column, sig_b: Column, num_hashes: int) -> Column:
    """MinHash estimate of Jaccard: fraction of agreeing signature slots
    (the unbiased estimator the signature exists for). JVM-side zip_with +
    aggregate — no UDF."""
    agree = F.zip_with(sig_a, sig_b, lambda x, y: (x == y).cast("int"))
    return F.aggregate(agree, F.lit(0), lambda acc, v: acc + v).cast("double") / F.lit(
        float(num_hashes)
    )


_MINHASH_DIRS = ("banded",)


class MinHashIndex:
    """A PERSISTED LSH band index for INCREMENTAL near-dup detection.

    ``minhash_near_duplicates`` recomputes the whole corpus per call — the
    right shape for a one-shot sweep, the wrong one for continuous ingest
    where each incoming batch must be checked against everything already
    accepted. This index materializes the corpus side once:

      <path>/banded-g<N>/      one row per (doc, band): band_idx, band_key,
                               signature — parquet PARTITIONED BY band_idx,
                               repartitioned by band key so each bucket's
                               rows cluster into few files (same small-files
                               reasoning as IVFIndex.build)
      <path>/manifest-*.json   generation manifest naming the LIVE data dir
                               (manifest.GenLog); compaction swaps the
                               pointer atomically, so a crash or a
                               concurrent reader mid-compact always sees a
                               complete index — never the empty window a
                               delete-then-rename swap has

    ``query(new_docs)`` computes the batch's signatures map-side, BROADCASTS
    its banded form (a batch is small by definition; the corpus is not),
    joins against the index bucket-for-bucket, and scores candidates by
    signature agreement — corpus TEXT is never read again, only the index.
    At 100 TB the per-batch cost is one broadcast hash join over the index
    scan plus a distinct on candidate pairs (bounded by collision volume).

    The estimate-based score (agreeing-slots / num_hashes) is the honest
    index trade: exact Jaccard needs the shingle sets, which would make the
    index as large as the corpus. Raise ``num_hashes`` for tighter
    estimates; the entry-level contract (candidates from band collision,
    score >= threshold) is oracle-gated in __spark_entry__.py.

    Reference parity note: kadiyadb builds its field index once on open
    (index/index.go:26-65), not per query — this is that shape for dedup.
    """

    def __init__(
        self,
        spark,
        path: str,
        id_col: str = "doc_id",
        num_hashes: int = 8,
        bands: int = 4,
        shingle_k: int = 8,
    ):
        from kadiyadb_spark.manifest import GenLog

        self.spark = spark
        self.path = path
        self.id_col = id_col
        self.num_hashes = num_hashes
        self.bands = bands
        self.shingle_k = shingle_k
        self._genlog = GenLog(spark, path)

    @staticmethod
    def build(
        docs: DataFrame,
        path: str,
        text_col: str = "text",
        id_col: str = "doc_id",
        num_hashes: int = 8,
        bands: int = 4,
        shingle_k: int = 8,
    ) -> "MinHashIndex":
        rows_per_band = _lsh_geometry(num_hashes, bands)
        sigs = minhash_signature(docs, text_col, id_col, num_hashes, shingle_k)
        banded = banded_signatures(sigs, id_col, bands, rows_per_band, keep_signature=True)
        idx = MinHashIndex(docs.sparkSession, path, id_col, num_hashes, bands, shingle_k)
        log = idx._genlog
        m = log.read()
        live = f"banded-g{m['gen'] + 1:06d}"
        # Repartition by the full bucket key WITHOUT pinning a partition
        # count: band_key cardinality scales with the corpus, so the default
        # parallelism (AQE-coalesced when small) gives corpus-proportional
        # writer tasks while still clustering each bucket's rows together —
        # a pinned count of `bands` would funnel a 100 TB index through a
        # handful of writers.
        (
            banded.repartition("band_idx", "band_key")
            .write.mode("overwrite")
            .partitionBy("band_idx")
            .parquet(f"{path}/{live}")
        )
        # written-schema record: readers pin it instead of paying a
        # schema-inference job per open (r14, guide §6); add/compact
        # write the same shape and carry it forward
        log.commit(
            {"live": live, "params": idx._params(),
             "schemas": {"banded": banded.schema.json()}},
            m["gen"],
        )
        log.gc(_MINHASH_DIRS)
        return idx

    def _params(self) -> dict:
        return {
            "id_col": self.id_col,
            "num_hashes": self.num_hashes,
            "bands": self.bands,
            "shingle_k": self.shingle_k,
        }

    @classmethod
    def open(cls, spark, path: str) -> "MinHashIndex":
        """Reopen a persisted index with the parameters it was BUILT with
        (recorded in the manifest at build time — the reference's
        params.json-on-open contract, database.go:66-149). Constructing
        directly with different num_hashes/bands/shingle_k than the stored
        rows silently yields signatures that never match; open() makes the
        stored parameters the single source of truth."""
        idx = cls(spark, path)
        p = idx._genlog.head().get("params")
        if p is None:
            raise ValueError(
                f"index at {path} predates parameter recording; construct "
                "MinHashIndex(...) with its build parameters explicitly"
            )
        idx.id_col = p["id_col"]
        idx.num_hashes = int(p["num_hashes"])
        idx.bands = int(p["bands"])
        idx.shingle_k = int(p["shingle_k"])
        return idx

    def generations(self) -> list[int]:
        """Retained (pinnable) generation numbers, ascending."""
        return self._genlog.retained()

    def banded(self, at_gen: int | None = None) -> DataFrame:
        """The live banded rows, or a RETAINED older generation's when
        ``at_gen`` is given — a snapshot read that a concurrent ``compact``
        cannot GC out from under the scan (closes the reader-vs-compact
        race: pin the generation before a long probe job and the directory
        outlives the swap as long as the manifest is retained).

        Consumption contract: the directory resolves EAGERLY but the
        parquet scan is lazy — the pin protects a plan only while its
        generation stays within the manifest retention window (keep=3: the
        live gen plus two back). Execute (or checkpoint) the returned
        DataFrame before more than two further commits (compactions or
        adds) run; a plan held across maintenance windows beyond that can
        hit FileNotFound at action time, exactly like any snapshot reader
        outliving its snapshot's GC horizon."""
        return self._genlog.scan(self._genlog.head(at_gen), "banded")

    def add(
        self,
        accepted_docs: DataFrame,
        text_col: str = "text",
    ) -> None:
        """APPEND an accepted batch to the index — the continuous-ingest
        write path. ``build`` is a full overwrite; a pipeline that checks
        each incoming batch with ``query`` and then accepts survivors must
        index them incrementally or the next batch misses them.

        Same LSM reasoning as ``Database.track``: the batch's banded rows
        are appended as new files under the touched band partitions (cost
        proportional to the BATCH, nothing rewritten); a frequently-grown
        bucket accumulates small files that ``compact`` folds back to
        cluster-per-bucket layout. Re-adding a doc_id is harmless for
        correctness: duplicate index rows collapse in query's candidate
        ``distinct``, and ``compact`` drops the duplicate rows physically,
        so a crash-loop replay cannot grow the index monotonically."""
        self.add_banded(self.banded_of(accepted_docs, text_col))

    def banded_of(self, docs: DataFrame, text_col: str = "text") -> DataFrame:
        """The banded-signature form of ``docs`` under THIS index's
        parameters — the frame ``query``/``add`` consume. Exposed so a
        caller that both probes and ingests one batch (the streaming gate)
        can compute signatures ONCE, persist, and feed both paths instead
        of re-shingling the text per call."""
        rows_per_band = _lsh_geometry(self.num_hashes, self.bands)
        sigs = minhash_signature(docs, text_col, self.id_col, self.num_hashes, self.shingle_k)
        return banded_signatures(sigs, self.id_col, self.bands, rows_per_band, keep_signature=True)

    def add_banded(self, banded: DataFrame) -> None:
        """``add`` from an already-banded frame (see ``banded_of``). The
        append is fenced (``GenLog.fenced_append``): a ``compact`` that
        swaps generations mid-append makes the add retry against the new
        live dir instead of leaving the batch in a superseded one."""
        self._genlog.fenced_append(
            lambda m, live: (
                banded.repartition("band_idx", "band_key")
                .write.mode("append")
                .partitionBy("band_idx")
                .parquet(live)
            )
        )

    def compact(self) -> None:
        """Fold the appended batches: rewrite the banded index clustered by
        (band_idx, band_key) so each bucket's rows sit in few files again
        (the SSTable-merge role; ``add`` is the memtable flush), dropping
        exact-duplicate rows (re-adds of the same doc under crash-replay —
        full-row distinct, so only true duplicates collapse: a re-ingested
        doc whose text changed hashes to different rows and keeps both).

        Commit is the generation swap (``GenLog.swap``): stage
        ``banded-g<N+1>``, atomically publish a manifest pointing at it,
        then GC — a crash anywhere leaves the previous generation fully
        readable. Single-writer maintenance op; raises
        ConcurrentWriteError if an add's fence commit lands mid-compact
        (retry). GC keeps every dir a retained manifest names, so a reader
        that PINNED its generation (``query(at_gen=...)``) survives the
        swap; only an unpinned reader racing >2 further commits can lose
        its directory."""
        self._genlog.swap(
            lambda m, new: (
                self._genlog.scan(m, "banded")
                .distinct()
                .repartition("band_idx", "band_key")
                .write.mode("overwrite")
                .partitionBy("band_idx")
                .parquet(new)
            ),
            "banded",
            _MINHASH_DIRS,
        )

    def query(
        self,
        new_docs: DataFrame,
        text_col: str = "text",
        min_est: float = 0.5,
        at_gen: int | None = None,
    ) -> DataFrame:
        """Near-duplicates of ``new_docs`` against the INDEXED corpus:
        (new_id, index_id, est_jaccard), est >= min_est. New-batch ids may
        overlap index ids (re-ingest); self-pairs are excluded. ``at_gen``
        pins a retained generation (see ``banded``) so a long probe job is
        immune to a concurrent compaction's swap+GC."""
        return self.query_banded(self.banded_of(new_docs, text_col), min_est, at_gen)

    def query_banded(
        self, new_banded: DataFrame, min_est: float = 0.5, at_gen: int | None = None
    ) -> DataFrame:
        """``query`` from an already-banded batch frame (see ``banded_of``)."""
        nbanded = new_banded.select(
            F.col(self.id_col).alias("new_id"),
            "band_idx",
            "band_key",
            F.col("signature").alias("_nsig"),
        )
        idx = self.banded(at_gen).select(
            F.col(self.id_col).alias("index_id"), "band_idx", "band_key", "signature"
        )
        cand = (
            idx.join(F.broadcast(nbanded), on=["band_idx", "band_key"])
            .filter(F.col("index_id") != F.col("new_id"))
            .select("new_id", "index_id", "_nsig", "signature")
            .distinct()
        )
        est = signature_est_jaccard(F.col("_nsig"), F.col("signature"), self.num_hashes)
        return cand.select(
            "new_id",
            "index_id",
            round4_expr(est).alias("est_jaccard"),
        ).filter(F.col("est_jaccard") >= min_est)

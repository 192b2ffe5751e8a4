"""Distributed BPE tokenizer training + application (Sennrich et al. 2016;
the GPT-2 tokenizer family) — the real subword pipeline behind the corpus
token accounting that ``text.token_stats`` only approximates with regexes.

Training never touches the corpus more than once: one scan builds the
(word, freq) table (bounded by DISTINCT words — Heaps' law puts that around
10^7-10^8 for a 100 TB web corpus, a small Spark table), and every merge
iteration is ONE pair-count aggregation over it plus a map-side symbol fold.
The fold is a JVM higher-order ``aggregate`` — merging adjacent (left,
right) occurrences non-overlapping left-to-right — so no Python runs per
word. Lineage is truncated each iteration (localCheckpoint) or the
2*num_merges-deep nested plan would dominate optimization time.

Applying a trained merge table uses the standard equivalence: replaying the
merges IN RANK ORDER over a word's symbol sequence produces exactly the
greedy lowest-rank-first tokenization (how subword-nmt/GPT-2 apply BPE).
``tokenize_bpe`` does it over the DISTINCT-word table and joins back — each
unique word is tokenized once per corpus, not once per occurrence.

Determinism contract (what the DuckDB oracle replicates): words split on
``\\s+`` (default) or by the GPT-2 pre-tokenizer (``pretokenize='gpt2'``,
lookahead-free marker construction so RE2 reproduces it); symbols are
single characters plus a ``</w>`` end-of-word marker; tie-break for the
best pair is (count DESC, left ASC, right ASC).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

END = "</w>"

# GPT-2 pre-tokenization (Radford et al. 2019; the regex published in the
# GPT-2 repo / tiktoken): contractions, optionally-space-prefixed letter /
# number / punctuation runs, and whitespace runs — with the subtlety that a
# whitespace run FOLLOWED BY a non-space keeps its last space attached to
# the next token ("a  b" -> ["a", " ", " b"]). The original expresses that
# with a lookahead (\s+(?!\S)) which RE2 — DuckDB's engine — cannot run, so
# both engines here use a provably-equivalent marker construction instead:
# insert \x01 before the final space of every whitespace-then-nonspace
# boundary, then extract with a lookahead-free pattern whose classes
# exclude the marker (the marker can never be inside a match, so it acts
# as a split point). Identical Java-regex and RE2 semantics for every
# class used (\p{L}, \p{N}, \s), which is what lets the driver hash-gate
# the pre-tokenizer cross-engine.
GPT2_MARK_RE = r"(\s)(\S)"
GPT2_PRETOK_RE = (
    "'s|'t|'re|'ve|'m|'ll|'d"
    "| ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}\\x01]+|\\s+"
)
# Known divergence vs the real GPT-2/tiktoken pattern (documented, not a
# cross-engine issue): Java/RE2 \s is ASCII-only, so non-ASCII Unicode
# whitespace (NBSP, ideographic space, U+2028/29) lands in the punctuation
# class here where tiktoken's Unicode \s treats it as whitespace —
# token COUNTS on such text differ from tiktoken's; Spark and DuckDB still
# agree with each other on every input.


def gpt2_pretokens_expr(text: Column) -> Column:
    """array<string> of GPT-2 pre-tokens of ``text`` (marker construction
    above; empty strings never appear — regexp_extract_all skips unmatched
    marker bytes). Input containing a literal \\x01 byte would split there;
    real text corpora don't carry C0 control bytes."""
    marked = F.regexp_replace(text, GPT2_MARK_RE, "\u0001$1$2")
    return F.regexp_extract_all(marked, F.lit(GPT2_PRETOK_RE), 0)


def pretokens_expr(text: Column, pretokenize: str = "whitespace") -> Column:
    """The pre-tokenizer switch shared by training and application:
    'whitespace' (split on \\s+, the oracle-simplest default) or 'gpt2'
    (the GPT-2 regex family — what tiktoken-comparable token accounting
    needs, VERDICT r07 gap #3)."""
    if pretokenize == "whitespace":
        return F.split(text, r"\s+")
    if pretokenize == "gpt2":
        return gpt2_pretokens_expr(text)
    raise ValueError(f"unknown pretokenize strategy: {pretokenize!r}")


def word_frequencies(
    docs: DataFrame, text_col: str = "text", pretokenize: str = "whitespace"
) -> DataFrame:
    """(word, freq) over pre-tokens — the one corpus scan. 'gpt2' keeps
    space-prefixed words and whitespace runs as distinct vocabulary items
    (the Ġ-convention), exactly like the GPT-2 tokenizer family."""
    return (
        docs.select(
            F.explode(pretokens_expr(F.col(text_col), pretokenize)).alias("word")
        )
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").cast("long").alias("freq"))
    )


def sym_init_expr(word: Column) -> Column:
    """Initial symbol sequence: characters + the end-of-word marker.
    Explicit substring transform (not split-on-empty) so Spark and the SQL
    oracle agree on every input.

    Two r13 guards (review findings): a word CONTAINING the literal marker
    fails loudly — the concatenated decode stream cannot distinguish it
    from real word boundaries, so encode would silently corrupt the
    round-trip; and the empty word yields just [marker] — bare
    sequence(1, 0) DESCENDS and produced ['', '', marker]."""
    checked = F.when(
        word.contains(END),
        F.raise_error(
            F.concat(
                F.lit(f"input word contains the reserved BPE marker {END!r}: "), word
            )
        ),
    ).otherwise(word)
    chars = F.transform(
        F.sequence(F.lit(1), F.length(checked)), lambda i: checked.substr(i, F.lit(1))
    )
    return F.when(F.length(word) == F.lit(0), F.array(F.lit(END))).otherwise(
        F.concat(chars, F.array(F.lit(END)))
    )


def apply_merge_expr(syms: Column, left: str, right: str) -> Column:
    """Fold one merge rule over a symbol array: adjacent (left, right)
    becomes left||right, non-overlapping left-to-right (the merged symbol
    differs from ``left``, so a chain like a,a,a under (a,a) gives
    [aa, a] — the standard BPE behavior). JVM-side aggregate, no UDF."""
    merged = left + right
    return F.aggregate(
        syms,
        F.expr("CAST(array() AS array<string>)"),
        lambda acc, s: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(left))
            & (s == F.lit(right)),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(merged))
            ),
        ).otherwise(F.concat(acc, F.array(s))),
    )


def _pair_counts(wf: DataFrame) -> DataFrame:
    pairs = F.zip_with(
        F.slice(F.col("syms"), 1, F.size("syms") - 1),
        F.slice(F.col("syms"), 2, F.size("syms") - 1),
        lambda a, b: F.struct(a.alias("l"), b.alias("r")),
    )
    return (
        wf.select("freq", F.explode(pairs).alias("pr"))
        .groupBy(F.col("pr.l").alias("l"), F.col("pr.r").alias("r"))
        .agg(F.sum("freq").cast("long").alias("cnt"))
    )


def train_bpe(
    docs: DataFrame,
    num_merges: int,
    text_col: str = "text",
    min_freq: int = 2,
    checkpoint: bool = True,
    pretokenize: str = "whitespace",
) -> list[tuple[str, str, int]]:
    """Learn ``num_merges`` BPE merges from the corpus; returns
    [(left, right, pair_count), ...] in rank order. Stops early when the
    best pair's count falls under ``min_freq`` (merging singletons learns
    noise). Cost: one corpus scan + num_merges aggregations over the
    distinct-word table. ``checkpoint=False`` keeps full lineage (only for
    tiny inputs/tests). ``pretokenize='gpt2'`` trains over GPT-2 pre-tokens
    (space-prefixed words, whitespace runs) instead of \\s+ words."""
    if num_merges < 1:
        raise ValueError(f"need num_merges >= 1, got {num_merges}")
    wf = word_frequencies(docs, text_col, pretokenize).withColumn(
        "syms", sym_init_expr(F.col("word"))
    ).select("freq", "syms")
    # LAZY checkpoints (r13, guide §1.2): the next iteration's pair-count
    # job materializes the checkpoint as it computes — eager=True ran a
    # separate materialization job per merge (2 jobs/merge -> 1), pure
    # scheduling latency on the latency-bound training loop. Lineage is
    # still truncated at each materialization.
    if checkpoint:
        wf = wf.localCheckpoint(eager=False)
    merges: list[tuple[str, str, int]] = []
    for _ in range(num_merges):
        best = (
            _pair_counts(wf)
            .orderBy(F.desc("cnt"), F.asc("l"), F.asc("r"))
            .first()
        )
        if best is None or int(best["cnt"]) < min_freq:
            break
        left, right = best["l"], best["r"]
        merges.append((left, right, int(best["cnt"])))
        wf = wf.withColumn("syms", apply_merge_expr(F.col("syms"), left, right))
        if checkpoint:
            wf = wf.localCheckpoint(eager=False)
    return merges


def merges_df(spark, merges: list[tuple[str, str, int]]) -> DataFrame:
    """Merge list as a (rank, left, right, freq) frame (the persistable /
    oracle-comparable form of a trained tokenizer)."""
    return spark.createDataFrame(
        [(i, l, r, c) for i, (l, r, c) in enumerate(merges)],
        schema="rank long, left string, right string, freq long",
    )


# Expression-path ceiling: each merge nests one more F.aggregate around the
# symbol column, and Catalyst's recursive analysis of a num_merges-deep tree
# hits multi-minute planning / StackOverflow at a few thousand merges
# (review finding — train_bpe truncates lineage per iteration for exactly
# this reason; the APPLY path had no mitigation). Past the ceiling the
# kernel path replays the identical in-rank-order merge loop in an
# Arrow-batched python kernel: same output, bounded plan.
_MAX_EXPR_MERGES = 64


def tokenize_words(
    words: DataFrame,
    merges: list[tuple[str, str, int]],
    word_col: str = "word",
) -> DataFrame:
    """Tokenize the DISTINCT-word frame by replaying merges in rank order
    (exactly the greedy lowest-rank tokenization, per the standard BPE
    equivalence) — adds ``tokens array<string>``. Tokenizing unique words
    instead of occurrences is the corpus-scale win (join back on the word
    column).

    The merge count picks the executor: up to ``_MAX_EXPR_MERGES`` a nested
    JVM fold (``_tokenize_expr`` — the SQL-replayable gate path, plan depth
    grows with the merge count), beyond it an Arrow-batched python replay
    of the SAME left-to-right non-overlapping merge loop
    (``_tokenize_kernel`` — identical tokens, O(1) plan depth, the
    realistic-vocab scale path; equality is pytest-pinned)."""
    if len(merges) <= _MAX_EXPR_MERGES:
        return _tokenize_expr(words, merges, word_col)
    return _tokenize_kernel(words, merges, word_col)


def _tokenize_expr(words: DataFrame, merges: list, word_col: str) -> DataFrame:
    """``tokenize_words`` as one nested JVM expression per word."""
    syms = sym_init_expr(F.col(word_col))
    for left, right, _ in merges:
        syms = apply_merge_expr(syms, left, right)
    return words.withColumn("tokens", syms)


def _tokenize_kernel(words: DataFrame, merges: list, word_col: str) -> DataFrame:
    """``tokenize_words`` as an Arrow-batched python merge replay."""
    pairs = [(l, r) for l, r, _ in merges]
    in_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in words.schema.fields
    )

    def tok(batches):
        cache: dict = {}
        for pdf in batches:
            if len(pdf) == 0:
                continue
            out = []
            for w in pdf[word_col]:
                toks = cache.get(w)
                if toks is None:
                    if END in w:
                        raise ValueError(
                            f"input word contains the reserved BPE marker {END!r}: {w!r}"
                        )
                    syms = list(w) + [END]
                    for lft, rgt in pairs:
                        merged, i, nxt = lft + rgt, 0, []
                        while i < len(syms):
                            if (
                                i + 1 < len(syms)
                                and syms[i] == lft
                                and syms[i + 1] == rgt
                            ):
                                nxt.append(merged)
                                i += 2
                            else:
                                nxt.append(syms[i])
                                i += 1
                        syms = nxt
                    cache[w] = toks = syms
                out.append(toks)
            yield pdf.assign(tokens=out)

    return words.mapInPandas(tok, schema=f"{in_schema}, tokens array<string>")


def tokenize_bpe(
    docs: DataFrame,
    merges: list[tuple[str, str, int]],
    text_col: str = "text",
    carry_cols: list[str] | None = None,
    pretokenize: str = "whitespace",
) -> DataFrame:
    """Per-document BPE token accounting: (carry_cols..., n_words,
    n_tokens) — each document's words tokenized under the trained merges.
    Tokenization happens ONCE per distinct word (broadcast-joined back when
    the vocabulary is small enough for the planner; shuffle-joined
    otherwise) — never per occurrence. Carry groups whose text is empty or
    whitespace-only stay VISIBLE with n_words = n_tokens = 0 (left join
    back to the carry frame): a curation pipeline counting tokens per
    source must see the source that contributed nothing, not lose the row."""
    carry = carry_cols or []
    occ = (
        docs.select(
            *carry, F.explode(pretokens_expr(F.col(text_col), pretokenize)).alias("word")
        )
        .filter(F.col("word") != "")
        # feeds the distinct-word vocab subtree AND the occurrence join —
        # without this the pre-tokenize+explode scan runs twice (review
        # finding; train_bpe truncates lineage for the same reason)
        .localCheckpoint(eager=False)
    )
    vocab = tokenize_words(occ.select("word").distinct(), merges).select(
        "word", F.size("tokens").alias("_n_tok")
    )
    counts = (
        occ.join(vocab, "word")
        .groupBy(*carry)
        .agg(
            F.count("*").cast("long").alias("n_words"),
            F.sum("_n_tok").cast("long").alias("n_tokens"),
        )
    )
    if not carry:
        # global accounting: groupBy() already emits exactly one row
        # (count 0 / null sum on an empty corpus)
        return counts.select(
            F.coalesce("n_words", F.lit(0)).cast("long").alias("n_words"),
            F.coalesce("n_tokens", F.lit(0)).cast("long").alias("n_tokens"),
        )
    base = docs.select(*carry).distinct()
    # NULL-SAFE join keys (review finding): USING equality never matches a
    # NULL carry value, so a NULL-keyed group's real counts were dropped
    # and the group reported (0, 0) — on BOTH engines identically, which
    # is exactly why the gate could not catch it
    cond = None
    for c in carry:
        e = base[c].eqNullSafe(counts[c])
        cond = e if cond is None else cond & e
    return base.join(counts, cond, "left").select(
        *[base[c] for c in carry],
        F.coalesce("n_words", F.lit(0)).cast("long").alias("n_words"),
        F.coalesce("n_tokens", F.lit(0)).cast("long").alias("n_tokens"),
    )


def save_merges(
    spark,
    merges: list[tuple[str, str, int]],
    path: str,
    pretokenize: str = "whitespace",
) -> None:
    """Persist a trained merge table as one atomic JSON file (fs.HadoopFS —
    file:/hdfs:/s3a:). The artifact is KBs; atomic write means readers see
    the old tokenizer or the new one, never a torn file."""
    from kadiyadb_spark.fs import HadoopFS

    fs = HadoopFS(spark, path)
    parent = path.rsplit("/", 1)[0] if "/" in path else ""
    if parent:
        fs.mkdirs(parent)
    # Overwrite without ever holding zero copies: park the live artifact at
    # .old, commit the new one (temp-write + rename), then drop the parked
    # copy. A crash between park and commit leaves .old on disk and
    # load_merges falls back to it — the tokenizer is never lost, and a
    # reader sees old bytes or new bytes, never a torn file.
    old = path + ".old"
    if fs.exists(path):
        fs.delete(old)
        if not fs.rename(path, old):
            raise RuntimeError(f"could not park existing merges at {old}")
    if not fs.write_json_atomic(
        path,
        {
            "version": 1,
            "end": END,
            # the pre-tokenizer is as load-bearing as the merges: a
            # gpt2-trained table applied under 'whitespace' silently never
            # fires its space-prefixed merges (review finding) — persist it
            # so load can refuse a mismatched application
            "pretokenize": pretokenize,
            "merges": [[l, r, c] for l, r, c in merges],
        },
    ):
        raise RuntimeError(f"could not commit merges to {path} (concurrent writer?)")
    fs.delete(old)


def load_merges(
    spark, path: str, pretokenize: "str | None" = None
) -> list[tuple[str, str, int]]:
    """Reload a merge table saved by ``save_merges`` (rank order preserved —
    rank IS the list position, the only thing application depends on).
    Falls back to the ``.old`` parked copy if a crashed re-save left no
    live file. Pass the ``pretokenize`` you will APPLY with to have the
    load refuse a tokenizer trained under the other pre-tokenizer (None
    skips the check; pre-r13 artifacts carry no field and load freely)."""
    from kadiyadb_spark.fs import HadoopFS

    fs = HadoopFS(spark, path)
    primary = path
    if not fs.exists(path) and fs.exists(path + ".old"):
        path = path + ".old"
    try:
        m = fs.read_json(path)
    except Exception:
        # .old race (review finding): a concurrent save_merges deletes the
        # parked copy as its LAST step, after committing the new primary —
        # so if the fallback read fails, the primary exists again
        if path == primary:
            raise
        m = fs.read_json(primary)
    if m.get("version") != 1 or m.get("end") != END:
        raise ValueError(f"not a BPE merges file (or incompatible version): {path}")
    if (
        pretokenize is not None
        and "pretokenize" in m
        and m["pretokenize"] != pretokenize
    ):
        raise ValueError(
            f"merges at {path} were trained with pretokenize="
            f"{m['pretokenize']!r}, but the caller will apply them with "
            f"{pretokenize!r} — the merges would silently never fire"
        )
    return [(l, r, int(c)) for l, r, c in m["merges"]]


def vocab_of(words_tokens: DataFrame) -> DataFrame:
    """The trained vocabulary as (token_id, token): distinct token strings
    of a ``tokenize_words`` frame, ids dense 0..V-1 in lexicographic token
    order — a deterministic assignment any engine reproduces (no hash ids,
    no insertion order). The id window is a single-partition row_number
    over VOCAB-sized rows (alphabet + merges, thousands at most), never
    over the corpus."""
    from pyspark.sql import Window

    toks = words_tokens.select(F.explode("tokens").alias("token")).distinct()
    w = Window.orderBy("token")
    return toks.select(
        (F.row_number().over(w) - 1).cast("long").alias("token_id"), "token"
    )


def encode_ids(
    docs: DataFrame,
    merges: list[tuple[str, str, int]],
    id_col: str = "doc_id",
    text_col: str = "text",
    pretokenize: str = "whitespace",
    vocab: DataFrame | None = None,
) -> DataFrame:
    """Documents encoded to trained-vocab INTEGER ID SEQUENCES — the step
    that turns token ACCOUNTING (tokenize_bpe) into actual model input:
    one row per (doc, position) with the token string and its vocab id.
    Downstream ``packing.pack_sequences``/``write_shards`` consume exactly
    this shape.

    Scale shape: tokenization runs once per DISTINCT word (tokenize_words)
    and explodes to (word, tpos, token, token_id); occurrences join that
    map by word (broadcastable: vocab-of-words scale, not corpus scale)
    and one doc-keyed window assigns the global position by the unique
    (word_pos, token_pos) composite — ONE corpus-wide shuffle.

    ``vocab``: the TRAINED (token_id, token) frame — pass
    ``vocab_of(tokenize_words(training_words, merges))`` (or a persisted
    copy) whenever more than one corpus is encoded under the same merges:
    ids must come from the training vocabulary, or the same token gets
    DIFFERENT ids in different batches (live-review finding — training
    shards vs a validation batch would silently disagree). Tokens absent
    from the supplied vocab take id -1 (the UNK sentinel; positions stay
    intact). Default None derives the vocab from THIS corpus's own words
    (lexicographic ``vocab_of``) — self-consistent for one-shot encodes,
    corpus-relative by construction."""
    from pyspark.sql import Window

    occ = docs.select(
        F.col(id_col),
        F.posexplode(pretokens_expr(F.col(text_col), pretokenize)).alias(
            "_wpos", "word"
        ),
    ).filter(F.col("word") != "").localCheckpoint(eager=False)  # 2 consumers
    # MATERIALIZE the tokenized vocab (r14, guide §1.2): under the expr
    # engine `tokens` is a num_merges-deep nested-aggregate tree, and the
    # optimizer collapses it INTO the downstream explode generators —
    # measured at sf1: computing the 50k-word frame costs 1.7 s, while
    # explode(tokens) over the same frame costs 19.3 s (the generator
    # path re-evaluates the interpreted tree per output row). wt also
    # feeds TWO subtrees (vocab_of + word_ids) that would each recompute
    # it. One lazy checkpoint makes both explodes read stored arrays.
    wt = tokenize_words(occ.select("word").distinct(), merges).localCheckpoint(
        eager=False
    )
    if vocab is None:
        vocab = vocab_of(wt)
        how = "inner"  # corpus-derived: every token is in it by construction
    else:
        vocab = vocab.select("token", "token_id")
        how = "left"
    word_ids = (
        wt.select("word", F.posexplode("tokens").alias("_tpos", "token"))
        .join(vocab, "token", how)
        .withColumn("token_id", F.coalesce("token_id", F.lit(-1)).cast("long"))
    )
    w = Window.partitionBy(id_col).orderBy("_wpos", "_tpos")
    return (
        occ.join(word_ids, "word")
        .select(
            id_col,
            (F.row_number().over(w) - 1).cast("long").alias("pos"),
            "token",
            "token_id",
        )
    )


def decode_ids(
    encoded: DataFrame,
    vocab: DataFrame | None = None,
    id_col: str = "doc_id",
    pretokenize: str = "whitespace",
) -> DataFrame:
    """Inverse of ``encode_ids``: (doc, pos, token_id [, token]) back to
    text — the detokenizer every tokenizer ships, and the cheapest deep
    check of the whole train→encode pipeline (pytest pins the round-trip
    THEOREM: under 'whitespace' ``decode(encode(x))`` equals
    whitespace-NORMALIZED x, under 'gpt2' it is x byte-for-byte, because
    gpt2 pre-tokens carry their own spacing).

    With ``vocab`` given, tokens come from joining ``token_id`` (ids
    absent from the vocab decode to U+FFFD — the read-side mirror of
    encode_ids' -1 UNK contract); otherwise the frame's own ``token``
    column is trusted. Assembly is ONE doc-keyed shuffle: sort the
    (pos, token) structs, concatenate, then invert the pre-tokenizer —
    'whitespace' turns each ``</w>`` into one space and trims, 'gpt2'
    strips the markers. All built-ins, no Python per row.

    Returns (id_col, text, n_tokens)."""
    if pretokenize not in ("whitespace", "gpt2"):
        raise ValueError(f"unknown pretokenize strategy: {pretokenize!r}")
    src = encoded
    if vocab is not None:
        src = (
            encoded.select(id_col, "pos", "token_id")
            .join(vocab.select("token_id", "token"), "token_id", "left")
            .withColumn("token", F.coalesce("token", F.lit("�")))
        )
    joined = src.groupBy(id_col).agg(
        F.concat_ws(
            "",
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "token"))),
                lambda s: s["token"],
            ),
        ).alias("_raw"),
        F.count("*").cast("long").alias("n_tokens"),
    )
    if pretokenize == "whitespace":
        text = F.trim(F.regexp_replace(F.col("_raw"), END, " "))
    else:
        text = F.regexp_replace(F.col("_raw"), END, "")
    return joined.select(id_col, text.alias("text"), "n_tokens")

"""BPE trainer/tokenizer vs an independent pure-python reference
implementation (the classic Sennrich merge loop, written here from the
paper's description — no shared code with the Spark version)."""

from collections import Counter

import pytest
from pyspark.sql import Row

from kadiyadb_spark.functions import bpe as B


def ref_train(texts, num_merges, min_freq=2):
    """Reference BPE: dict-of-tuples word table, full recount per merge."""
    wf = Counter()
    for t in texts:
        for w in t.split():
            wf[w] += 1
    words = {tuple(w) + (B.END,): c for w, c in wf.items()}
    merges = []
    for _ in range(num_merges):
        pairs = Counter()
        for syms, c in words.items():
            for a, b in zip(syms, syms[1:]):
                pairs[(a, b)] += c
        if not pairs:
            break
        # tie-break: count desc, then (left, right) lexicographic asc
        (l, r), cnt = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        if cnt < min_freq:
            break
        merges.append((l, r, cnt))
        new = {}
        for syms, c in words.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == l and syms[i + 1] == r:
                    out.append(l + r)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            new[tuple(out)] = new.get(tuple(out), 0) + c
        words = new
    return merges


def ref_tokenize(word, merges):
    syms = list(word) + [B.END]
    for l, r, _ in merges:
        out, i = [], 0
        while i < len(syms):
            if i + 1 < len(syms) and syms[i] == l and syms[i + 1] == r:
                out.append(l + r)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        syms = out
    return syms


CORPUS = [
    "low low low low low",
    "lower lower newest newest newest",
    "newest newest newest widest widest",
    "the newest of the new lowest",
]


def test_train_bpe_matches_reference(spark):
    docs = spark.createDataFrame([Row(doc_id=i, text=t) for i, t in enumerate(CORPUS)])
    got = B.train_bpe(docs, num_merges=8, checkpoint=False)
    want = ref_train(CORPUS, 8)
    assert got == want
    # the learned merges are the famous ones for this corpus family
    assert got[0][0:2] == ("e", "s") or got[0][2] >= 8


def test_train_bpe_min_freq_stops_early(spark):
    docs = spark.createDataFrame([Row(doc_id=0, text="ab ab xy")])
    got = B.train_bpe(docs, num_merges=50, min_freq=2, checkpoint=False)
    assert got == ref_train(["ab ab xy"], 50)
    # 'xy' pairs occur once -> never merged; only the 'ab' chain survives
    assert all(c >= 2 for _, _, c in got)


def test_tokenize_words_equals_greedy_reference(spark):
    docs = spark.createDataFrame([Row(doc_id=i, text=t) for i, t in enumerate(CORPUS)])
    merges = B.train_bpe(docs, num_merges=6, checkpoint=False)
    words = ["lowest", "newest", "wide", "unseen", "low"]
    wdf = spark.createDataFrame([Row(word=w) for w in words])
    got = {r["word"]: list(r["tokens"]) for r in B.tokenize_words(wdf, merges).collect()}
    for w in words:
        assert got[w] == ref_tokenize(w, merges), w
        # lossless: concatenating tokens reconstructs word + end marker
        assert "".join(got[w]) == w + B.END


def test_tokenize_bpe_counts_per_group(spark):
    docs = spark.createDataFrame(
        [Row(doc_id=0, src="a", text="low low lower"),
         Row(doc_id=1, src="b", text="newest")]
    )
    merges = B.train_bpe(
        spark.createDataFrame([Row(text=t) for t in CORPUS]), 6, checkpoint=False
    )
    got = {r["src"]: (r["n_words"], r["n_tokens"])
           for r in B.tokenize_bpe(docs, merges, carry_cols=["src"]).collect()}
    want_a = sum(len(ref_tokenize(w, merges)) for w in "low low lower".split())
    want_b = len(ref_tokenize("newest", merges))
    assert got == {"a": (3, want_a), "b": (1, want_b)}


def test_tokenize_words_kernel_engine_equals_expr(spark):
    """r13: the Arrow-kernel merge replay (the bounded-plan path for
    realistic merge counts — the nested-expression tree blows up Catalyst
    past a few thousand merges) produces IDENTICAL tokens to the
    SQL-replayable expression fold."""
    docs = spark.createDataFrame([Row(doc_id=i, text=t) for i, t in enumerate(CORPUS)])
    merges = B.train_bpe(docs, num_merges=8, checkpoint=False)
    wdf = spark.createDataFrame(
        [Row(word=w) for w in ["lowest", "newest", "unseen", "low", "x"]]
    )
    ex = {r["word"]: list(r["tokens"])
          for r in B._tokenize_expr(wdf, merges, "word").collect()}
    ke = {r["word"]: list(r["tokens"])
          for r in B._tokenize_kernel(wdf, merges, "word").collect()}
    assert ex == ke


def test_bpe_degenerate_inputs_r13(spark):
    """r13 review closures: a NULL carry group keeps its REAL counts
    (USING-equality dropped them to (0,0) on both engines); a word
    containing the literal end-of-word marker fails loudly instead of
    silently corrupting the decode round-trip; the empty word tokenizes
    to just the marker (sequence(1,0) descended and minted '' symbols)."""
    merges = B.train_bpe(
        spark.createDataFrame([Row(text=t) for t in CORPUS]), 4, checkpoint=False
    )
    docs = spark.createDataFrame(
        [Row(doc_id=0, src=None, text="low low"), Row(doc_id=1, src="b", text="low")]
    )
    got = {r["src"]: (r["n_words"], r["n_tokens"])
           for r in B.tokenize_bpe(docs, merges, carry_cols=["src"]).collect()}
    assert got[None][0] == 2 and got[None][1] > 0
    assert got["b"] == (1, got[None][1] // 2)

    bad = spark.createDataFrame([Row(word=f"x{B.END}y")])
    from py4j.protocol import Py4JJavaError

    with pytest.raises(Exception, match="reserved BPE marker"):
        try:
            B._tokenize_expr(bad, merges, "word").collect()
        except Py4JJavaError as e:  # Spark wraps raise_error
            raise RuntimeError(str(e)) from e
    with pytest.raises(Exception, match="reserved BPE marker"):
        B._tokenize_kernel(bad, merges, "word").collect()

    empty = spark.createDataFrame([Row(word="")])
    assert list(B.tokenize_words(empty, merges).collect()[0]["tokens"]) == [B.END]


def test_save_load_merges_pretokenize_contract(spark, tmp_path):
    """r13: the artifact persists the pre-tokenizer; loading for a
    mismatched application refuses loudly (a gpt2-trained table under
    'whitespace' silently never fires its space-prefixed merges)."""
    docs = spark.createDataFrame([Row(doc_id=i, text=t) for i, t in enumerate(CORPUS)])
    merges = B.train_bpe(docs, num_merges=3, checkpoint=False, pretokenize="gpt2")
    path = str(tmp_path / "g" / "merges.json")
    B.save_merges(spark, merges, path, pretokenize="gpt2")
    assert B.load_merges(spark, path, pretokenize="gpt2") == merges
    assert B.load_merges(spark, path) == merges  # None skips the check
    with pytest.raises(ValueError, match="pretokenize"):
        B.load_merges(spark, path, pretokenize="whitespace")


def test_train_bpe_rejects_bad_args(spark):
    docs = spark.createDataFrame([Row(text="a b")])
    with pytest.raises(ValueError, match="num_merges"):
        B.train_bpe(docs, 0)


def test_save_load_merges_roundtrip(spark, tmp_path):
    docs = spark.createDataFrame([Row(doc_id=i, text=t) for i, t in enumerate(CORPUS)])
    merges = B.train_bpe(docs, num_merges=5, checkpoint=False)
    path = str(tmp_path / "tok" / "merges.json")
    B.save_merges(spark, merges, path)
    assert B.load_merges(spark, path) == merges
    # retrain overwrite: saving a different table replaces the artifact
    B.save_merges(spark, merges[:2], path)
    assert B.load_merges(spark, path) == merges[:2]
    # incompatible artifact refuses loudly
    import json as _json

    (tmp_path / "bad.json").write_text(_json.dumps({"version": 9}))
    with pytest.raises(ValueError, match="merges file"):
        B.load_merges(spark, str(tmp_path / "bad.json"))


def test_gpt2_pretokens_match_true_lookahead_reference(spark):
    """The marker construction (RE2-compatible, no lookahead) must produce
    EXACTLY the published GPT-2 pattern's tokens — pinned against a pure
    Python re implementation of the true lookahead pattern."""
    import re

    from pyspark.sql import functions as F

    from kadiyadb_spark.functions import bpe as BP

    ref = re.compile(
        r"'s|'t|'re|'ve|'m|'ll|'d| ?[^\W\d_]+| ?\d+| ?[^\s\w]+| ?_+|\s+(?!\S)|\s+"
    )
    cases = [
        "Hello world", "a  b", "a   b", "  leading", "trailing  ",
        "don't stop, can't won't I'm we're you've he'll she'd",
        "abc123 45x", "multi\nline\ttext  here",
        "punct!!! ...and--dashes", "unicode: héllo wörld café",
        "x", "", "   ", "price: $3.50 (50% off!)",
    ]
    df = spark.createDataFrame(
        [(i, c) for i, c in enumerate(cases)], "id long, text string"
    )
    got = {
        r.id: list(r.t)
        for r in df.select(
            "id", BP.gpt2_pretokens_expr(F.col("text")).alias("t")
        ).collect()
    }
    for i, c in enumerate(cases):
        assert got[i] == ref.findall(c), f"case {c!r}"


def test_train_and_tokenize_with_gpt2_pretokenizer(spark):
    """End-to-end: gpt2 pre-tokens flow through training and application;
    space-prefixed words are their own vocabulary items (Ġ-convention),
    and token counts stay exact."""
    from kadiyadb_spark.functions import bpe as BP

    docs = spark.createDataFrame(
        [(1, "low low lower"), (2, "low lower")], "doc_id long, text string"
    )
    wf = {r.word: r.freq for r in BP.word_frequencies(docs, pretokenize="gpt2").collect()}
    # "low" appears once unprefixed (start of doc1/doc2) and once prefixed
    assert wf == {"low": 2, " low": 1, " lower": 2}
    merges = BP.train_bpe(docs, num_merges=3, min_freq=1, pretokenize="gpt2")
    assert merges, "trained at least one merge"
    out = {r.doc_id: (r.n_words, r.n_tokens) for r in BP.tokenize_bpe(
        docs, merges, carry_cols=["doc_id"], pretokenize="gpt2"
    ).collect()}
    assert out[1][0] == 3 and out[2][0] == 2  # pre-token counts
    assert out[1][1] >= out[1][0]  # tokens >= words always


def test_encode_ids_roundtrip_golden(spark):
    """Hand-checked encode: corpus 'ab ab b' -> merge (a,b) then (ab,</w>)
    at 2 merges; vocab lexicographic; positions span word boundaries."""
    from kadiyadb_spark.functions.bpe import encode_ids, train_bpe, tokenize_words, vocab_of

    docs = spark.createDataFrame([(0, "ab ab b"), (1, "")], "doc_id long, text string")
    merges = train_bpe(docs, num_merges=2, min_freq=1)
    got = [
        (r.doc_id, r.pos, r.token, r.token_id)
        for r in encode_ids(docs, merges).orderBy("doc_id", "pos").collect()
    ]
    # merge 1: (b,</w>) count 3 (in both 'ab' and 'b') -> b</w>;
    # merge 2: (a,b</w>) count 2 -> ab</w>. tokens: 'ab'->[ab</w>], 'b'->[b</w>]
    toks = {
        r.word: list(r.tokens)
        for r in tokenize_words(
            spark.createDataFrame([("ab",), ("b",)], "word string"), merges
        ).collect()
    }
    assert toks == {"ab": ["ab</w>"], "b": ["b</w>"]}
    vocab = {r.token: r.token_id for r in vocab_of(
        tokenize_words(spark.createDataFrame([("ab",), ("b",)], "word string"), merges)
    ).collect()}
    assert vocab == {"ab</w>": 0, "b</w>": 1}  # lexicographic: 'a' < 'b'
    assert got == [
        (0, 0, "ab</w>", 0), (0, 1, "ab</w>", 0), (0, 2, "b</w>", 1),
    ]  # empty doc 1 contributes no rows (id sequences, not accounting)


def test_encode_ids_trained_vocab_stability(spark):
    """Regression (live-review finding): with a supplied trained vocab the
    same token gets the SAME id in every corpus; unknown tokens take the
    UNK sentinel -1 instead of silently reshuffling ids."""
    from kadiyadb_spark.functions.bpe import (
        encode_ids, tokenize_words, train_bpe, vocab_of, word_frequencies,
    )

    train = spark.createDataFrame([(0, "ab ab b cd cd")], "doc_id long, text string")
    merges = train_bpe(train, num_merges=2, min_freq=1)
    vocab = vocab_of(
        tokenize_words(word_frequencies(train).select("word").distinct(), merges)
    )
    vmap = {r.token: r.token_id for r in vocab.collect()}

    batch = spark.createDataFrame([(7, "cd b zz")], "doc_id long, text string")
    got = {
        (r.pos): (r.token, r.token_id)
        for r in encode_ids(batch, merges, vocab=vocab).collect()
    }
    # 'cd' and 'b' tokens keep their TRAINING ids; 'zz' pieces unseen in
    # training fall back to -1 where absent from the trained vocab
    for pos, (token, tid) in got.items():
        assert tid == vmap.get(token, -1)
    assert any(tid == -1 for _, tid in got.values())  # zz produced an UNK
    # corpus-derived (no vocab) encoding of the same batch assigns
    # batch-relative ids that DISAGREE with the trained ones for at least
    # one shared token — exactly the instability the vocab param fixes
    loc = {r.token: r.token_id for r in encode_ids(batch, merges).collect()}
    shared = {t for t, _ in got.values()} & set(vmap)
    assert any(loc[t] != vmap[t] for t in shared)


def test_decode_ids_roundtrip(spark):
    """The inverse theorem: under 'whitespace', decode(encode(x)) equals
    single-space-NORMALIZED x; under 'gpt2' it is x BYTE-FOR-BYTE
    (pre-tokens carry their own spacing). Vocab-joined decode agrees with
    token-column decode; ids absent from the vocab decode to U+FFFD."""
    from pyspark.sql import Row

    from pyspark.sql import functions as F

    from kadiyadb_spark.functions.bpe import (
        decode_ids,
        encode_ids,
        tokenize_words,
        train_bpe,
        vocab_of,
        word_frequencies,
    )

    texts = ["hello  world \n hello hello", "the cat  sat on the cat", "zz"]
    docs = spark.createDataFrame([Row(doc_id=i, text=t) for i, t in enumerate(texts)])

    merges = train_bpe(docs, num_merges=6, min_freq=1, checkpoint=False)
    enc = encode_ids(docs, merges)
    dec = {r["doc_id"]: r["text"] for r in decode_ids(enc).collect()}
    for i, t in enumerate(texts):
        assert dec[i] == " ".join(t.split()), i  # normalized round-trip

    # vocab-joined decode path agrees with the token-column path
    vocab = vocab_of(
        tokenize_words(word_frequencies(docs).select("word"), merges)
    )
    dec_v = {r["doc_id"]: r["text"] for r in decode_ids(enc, vocab=vocab).collect()}
    assert dec_v == dec
    # an id outside the vocab decodes to the replacement char
    broken = enc.withColumn(
        "token_id", F.when(F.col("pos") == 0, F.lit(10**9)).otherwise(F.col("token_id"))
    )
    first = {r["doc_id"]: r["text"] for r in decode_ids(broken, vocab=vocab).collect()}
    assert all("�" in t for t in first.values())

    # gpt2: exact byte round-trip, double spaces and newlines included
    merges_g = train_bpe(docs, num_merges=6, min_freq=1, checkpoint=False, pretokenize="gpt2")
    enc_g = encode_ids(docs, merges_g, pretokenize="gpt2")
    dec_g = {r["doc_id"]: r["text"] for r in decode_ids(enc_g, pretokenize="gpt2").collect()}
    for i, t in enumerate(texts):
        assert dec_g[i] == t, i

    import pytest as _pt

    with _pt.raises(ValueError):
        decode_ids(enc, pretokenize="nope")

"""LLM-pipeline operators: dedup, similarity, text analysis, multimodal.

Hand-computed goldens on tiny constructed inputs (the oracle harness checks
these same operators against DuckDB at fixture scale; these tests pin the
semantics independently and run fast)."""

import hashlib
import math

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from kadiyadb_spark.functions import dedup as D
from kadiyadb_spark.functions import multimodal as M
from kadiyadb_spark.functions import similarity as SIM
from kadiyadb_spark.functions import text as TX


def _docs(spark, texts):
    return spark.createDataFrame([Row(doc_id=i, text=t) for i, t in enumerate(texts)])


# ---------------------------------------------------------------- text


def test_token_stats_golden(spark):
    r = TX.token_stats(_docs(spark, ["The cat  sat on the mat"])).collect()[0]
    # tokens: the cat sat on the mat -> 6 tokens, 5 unique
    assert r.n_tokens == 6
    assert r.n_unique_tokens == 5
    # avg token len: (3+3+3+2+3+3)/6
    assert r.avg_token_len == round((3 + 3 + 3 + 2 + 3 + 3) / 6, 4)


def test_language_id_golden(spark):
    rows = {
        r.doc_id: r.lang_pred
        for r in TX.language_id(
            _docs(
                spark,
                [
                    "the cat and the dog in a house",
                    "der hund ist nicht auf dem sofa und",
                    "el perro es un animal que vive por la casa",
                    "xyzzy plugh",
                ],
            )
        ).collect()
    }
    assert rows == {0: "en", 1: "de", 2: "es", 3: "und"}


def test_fingerprint_is_md5_of_normalized(spark):
    r = TX.fingerprint(_docs(spark, ["  Hello   World  "])).collect()[0]
    assert r.fp == hashlib.md5(b"hello world").hexdigest()


def test_winnow_fingerprint_matches_python(spark):
    text = "the quick brown fox jumps over the lazy dog"
    k, m = 8, 4
    windows = [text[i : i + k] for i in range(len(text) - k + 1)]
    hs = sorted({int(hashlib.md5(w.encode()).hexdigest()[:8], 16) for w in windows})[:m]
    r = TX.winnow_fingerprint(_docs(spark, [text]), k=k, num_mins=m).collect()[0]
    assert [r.min0, r.min1, r.min2, r.min3] == hs


def test_bind1_value_identity(spark):
    """r13: num.bind1 (the HOF let-binding device) must be a pure value
    no-op — same result as writing the expression inline."""
    from kadiyadb_spark.functions.num import bind1

    df = spark.range(5).selectExpr("cast(id as string) as s")
    bound = df.select(bind1(F.upper("s"), lambda v: F.concat(v, v)).alias("x")).collect()
    plain = df.selectExpr("concat(upper(s), upper(s)) as x").collect()
    assert bound == plain


def test_assign_map_matches_assign_cols_spec(spark):
    """r13: the numpy Lloyd-assignment kernel (_assign_map) must reproduce
    the plan-literal spec twin (_assign_cols) bit-for-bit — identical
    quantized integer distances AND the first-minimum (lowest centroid id)
    tie rule, including exact midpoint ties."""
    import random

    from kadiyadb_spark.functions.cluster import _assign_cols, _assign_map, _base_frame

    rnd = random.Random(7)
    rows = [
        Row(vec_id=i, embedding=[rnd.uniform(-1.0, 1.0) for _ in range(8)])
        for i in range(64)
    ]
    # exact equidistant ties: midpoint of centroids 0 and 1 below
    rows += [Row(vec_id=100 + j, embedding=[1.0] * 8) for j in range(3)]
    emb = spark.createDataFrame(rows)
    cents = [[0.0] * 8, [2.0] * 8] + [list(rows[i].embedding) for i in range(3)]
    base = _base_frame(emb, "vec_id", "embedding")
    kernel = {
        (r["_id"], r["_cid"], r["_dq"])
        for r in _assign_map(base, cents, with_id=True, with_dq=True).collect()
    }
    cid, dq = _assign_cols(F.col("_v"), cents)
    spec = {
        (r["_id"], r["c"], r["d"])
        for r in base.select("_id", cid.alias("c"), dq.alias("d")).collect()
    }
    assert kernel == spec
    # the midpoint vectors tie between centroids 0 and 1 -> lowest id wins
    assert all(c == 0 for i, c, _ in kernel if i >= 100)


def test_update_partials_matches_posexplode(spark):
    """r13: the fused assignment+update kernel (_update_partials) must
    reproduce the posexplode + per-row guarded fold EXACTLY — same
    per-(cluster, dim) scaled-long sums and counts, at any partition
    width, with empty clusters absent from both."""
    import random

    from kadiyadb_spark.functions.cluster import (
        _CQ,
        _assign_map,
        _base_frame,
        _update_partials,
    )
    from kadiyadb_spark.functions.num import guarded_scaled_sum

    rnd = random.Random(13)
    rows = [
        Row(vec_id=i, embedding=[rnd.uniform(-3.0, 3.0) for _ in range(6)])
        for i in range(97)
    ]
    emb = spark.createDataFrame(rows)
    # centroid 3 is far away -> guaranteed-empty cluster on both paths
    cents = [[-1.0] * 6, [0.0] * 6, [1.0] * 6, [1000.0] * 6]

    for parts in (1, 8):
        base = _base_frame(emb.repartition(parts), "vec_id", "embedding")
        fused = {
            (r["_cid"], r["_dim"], int(r["_s"]), r["_n"])
            for r in _update_partials(base, cents)
            .groupBy("_cid", "_dim")
            .agg(
                guarded_scaled_sum(F.col("_ps"), dp=6).alias("_s"),
                F.sum("_n").cast("long").alias("_n"),
            )
            .collect()
        }
        spec = {
            (r["_cid"], r["_dim"], int(r["_s"]), r["_n"])
            for r in _assign_map(base, cents, with_vec=True)
            .select("_cid", F.posexplode(F.col("_v")).alias("_dim", "_val"))
            .groupBy("_cid", "_dim")
            .agg(
                guarded_scaled_sum(
                    F.floor(F.col("_val") * F.lit(_CQ) + F.lit(0.5)).cast("long"),
                    dp=6,
                ).alias("_s"),
                F.count(F.lit(1)).alias("_n"),
            )
            .collect()
        }
        assert fused == spec
        assert not any(c == 3 for c, _, _, _ in fused)  # empty cluster absent


def test_winnow_fingerprint_robust_to_small_edits(spark):
    # shared content -> overlapping min-sets, unlike the exact md5 fingerprint
    base = "the quick brown fox jumps over the lazy dog and runs far away"
    edited = base + " tonight"
    rows = TX.winnow_fingerprint(_docs(spark, [base, edited])).collect()
    a, b = ({r.min0, r.min1, r.min2, r.min3} for r in sorted(rows, key=lambda r: r.doc_id))
    assert len(a & b) >= 3


def test_quality_score_bounds(spark):
    rows = TX.quality_score(
        _docs(spark, ["the quick brown fox jumps over the lazy dog", "aaa aaa aaa aaa"])
    ).collect()
    by_id = {r.doc_id: r for r in rows}
    assert 0.0 <= by_id[0].quality <= 1.0
    # repetitive doc scores lower on unique_ratio
    assert by_id[1].unique_ratio < by_id[0].unique_ratio


# ---------------------------------------------------------------- dedup


def test_exact_duplicates_groups(spark):
    df = _docs(spark, ["same text", "Same   TEXT", "different"])
    groups = D.exact_duplicates(df).collect()
    assert len(groups) == 1
    assert groups[0].keeper_id == 0 and groups[0].n_copies == 2
    kept = sorted(r.doc_id for r in D.dedup_exact(df).collect())
    assert kept == [0, 2]


def test_minhash_signature_matches_python(spark):
    """Pin the exact signature against a pure-python reimplementation —
    regression for the transform() two-arg-lambda index bug."""
    text = "the quick brown fox jumps over the lazy dog"
    norm = " ".join(text.lower().split())
    shingles = list(dict.fromkeys(norm[i : i + 8] for i in range(len(norm) - 7)))
    bases = [int(hashlib.md5(s.encode()).hexdigest()[:8], 16) for s in shingles]
    expected = [
        min((D.MINHASH_A[i] * b + D.MINHASH_B[i]) % D.MINHASH_P for b in bases) for i in range(8)
    ]
    sig = D.minhash_signature(_docs(spark, [text])).collect()[0].signature
    assert list(sig) == expected


def test_minhash_lsh_finds_near_dup(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    near = base.replace("today", "tonight")
    far = "completely unrelated content about spark accumulators and shuffles"
    out = D.minhash_near_duplicates(
        _docs(spark, [base, near, far]), num_hashes=8, bands=4, threshold=0.3
    ).collect()
    assert [(r.id_a, r.id_b) for r in out] == [(0, 1)]
    assert 0.3 <= out[0].jaccard <= 1.0


def test_simhash_matches_python(spark):
    text = "alpha beta gamma delta epsilon"
    toks = list(dict.fromkeys(text.split()))
    bit_sums = [0] * 32
    for t in toks:
        h = int(hashlib.md5(t.encode()).hexdigest()[:8], 16)
        for j in range(32):
            bit_sums[j] += 1 if (h >> j) & 1 else -1
    expected = sum(1 << j for j in range(32) if bit_sums[j] > 0)
    got = D.simhash(_docs(spark, [text])).collect()[0].simhash
    assert got == expected


def test_simhash_near_duplicates_blocking(spark):
    base = "one two three four five six seven eight nine ten eleven twelve"
    near = base + " thirteen"
    # chunks=9 > max_hamming=8: the r13 pigeonhole validation
    out = D.simhash_near_duplicates(
        _docs(spark, [base, near]), max_hamming=8, chunks=9
    ).collect()
    assert len(out) == 1 and (out[0].id_a, out[0].id_b) == (0, 1)
    # verify the reported hamming against python
    def sh(text):
        toks = list(dict.fromkeys(text.lower().split()))
        bs = [0] * 32
        for t in toks:
            h = int(hashlib.md5(t.encode()).hexdigest()[:8], 16)
            for j in range(32):
                bs[j] += 1 if (h >> j) & 1 else -1
        return sum(1 << j for j in range(32) if bs[j] > 0)

    assert out[0].hamming == bin(sh(base) ^ sh(near)).count("1")


def test_fuzzy_near_duplicates_golden_and_bucket_boundary(spark):
    # kitten/sitting: the textbook dist-3 pair (same length bucket at w=3);
    # ab/abcd: dist 2 but lengths 2 vs 4 land in ADJACENT buckets (0 and 1)
    # — found only if the adjacent-bucket join is live (losslessness);
    # zzzzzz is far from everything
    docs = _docs(spark, ["kitten", "sitting", "ab", "abcd", "zzzzzz"])
    out = {
        (r.id_a, r.id_b): r.dist
        for r in D.fuzzy_near_duplicates(docs, max_dist=3).collect()
    }
    # exact pair set: everything else exceeds the threshold or the buckets
    # (reported dist is the exact distance, never the -1 threshold sentinel)
    assert out == {(0, 1): 3, (2, 3): 2}


def test_fuzzy_near_duplicates_block_cols_and_validation(spark):
    rows = [
        Row(doc_id=0, text="hello world", lang="en"),
        Row(doc_id=1, text="hello worl", lang="en"),
        Row(doc_id=2, text="hello world", lang="de"),
        Row(doc_id=3, text="hello world", lang=None),
    ]
    df = spark.createDataFrame(rows)
    got = D.fuzzy_near_duplicates(df, max_dist=2, block_cols=["lang"]).collect()
    # cross-lang identical text is NOT a pair (the documented recall trade);
    # null block values drop under equi-join semantics
    assert [(r.id_a, r.id_b, r.dist) for r in got] == [(0, 1, 1)]
    # max_dist=0 degenerates to exact match within the block
    exact = D.fuzzy_near_duplicates(df, max_dist=0, block_cols=["lang"]).collect()
    assert exact == []
    with pytest.raises(ValueError):
        D.fuzzy_near_duplicates(df, max_dist=-1)


def test_embedding_near_duplicates_threshold(spark):
    emb = spark.createDataFrame(
        [
            Row(vec_id=0, embedding=[1.0, 0.0]),
            Row(vec_id=1, embedding=[0.999, 0.01]),
            Row(vec_id=2, embedding=[0.0, 1.0]),
        ]
    )
    # one bucket -> exact within-bucket scoring finds the near-pair
    out = D.embedding_near_duplicates(emb, threshold=0.95, num_centroids=1).collect()
    assert [(r.id_a, r.id_b) for r in out] == [(0, 1)]
    # blocking trade-off: every vector its own centroid -> singleton buckets,
    # no pairs scored (recall is tuned by num_centroids)
    out = D.embedding_near_duplicates(emb, threshold=0.95, num_centroids=3).collect()
    assert out == []


def test_connected_components_merges_transitive_pairs(spark):
    # two chains and a singleton pair: {1,2,3,4} via 1-2,2-3,3-4 ; {10,11}
    pairs = spark.createDataFrame(
        [Row(id_a=1, id_b=2), Row(id_a=2, id_b=3), Row(id_a=3, id_b=4), Row(id_a=10, id_b=11)]
    )
    out = {r.node: r.cluster_id for r in D.connected_components(pairs).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_connected_components_long_chain(spark):
    # a 60-hop path: min-label propagation needs 60 rounds (O(diameter));
    # star contraction must finish within the default max_iter (O(log^2 n))
    pairs = spark.createDataFrame([Row(id_a=i, id_b=i + 1) for i in range(60)])
    out = {r.node: r.cluster_id for r in D.connected_components(pairs).collect()}
    assert out == {i: 0 for i in range(61)}


def test_connected_components_handles_cycles_and_order(spark):
    # a cycle given in descending order must still converge to the min id
    pairs = spark.createDataFrame(
        [Row(id_a=9, id_b=7), Row(id_a=7, id_b=5), Row(id_a=5, id_b=9)]
    )
    out = {r.node: r.cluster_id for r in D.connected_components(pairs).collect()}
    assert out == {5: 5, 7: 5, 9: 5}


def test_cluster_validation_and_generic_ids_r13(spark):
    """r13 cluster review closures: ragged vectors and grid-exceeding
    magnitudes raise a NAMED error instead of an obscure driver crash /
    silent exactness loss; k past the plan-literal ceiling fails with
    guidance instead of building a million-literal Catalyst tree;
    semdedup_prune accepts non-long ids."""
    import pytest as _pt

    from kadiyadb_spark.functions import cluster as CL

    ragged = spark.createDataFrame(
        [Row(vec_id=1, embedding=[1.0, 2.0]), Row(vec_id=2, embedding=[1.0])]
    )
    with _pt.raises(ValueError, match="ragged embedding"):
        CL.kmeans_lloyd(ragged, k=1, iters=1).collect()
    big = spark.createDataFrame(
        [Row(vec_id=i, embedding=[1.0e7, 0.0]) for i in range(4)]
    )
    with _pt.raises(ValueError, match="exact .*grid bound|grid bound"):
        CL.kmeans_lloyd(big, k=2, iters=1).collect()
    with _pt.raises(ValueError, match="plan-literal"):
        CL.kmeans_lloyd(big, k=10_000, iters=1)

    sdocs = spark.createDataFrame(
        [Row(vec_id=f"v{i}", embedding=[float(i % 3), 1.0]) for i in range(6)]
    )
    out = CL.semdedup_prune(sdocs, k=2, iters=1, threshold=0.999)
    assert out.schema["vec_id"].dataType.simpleString() == "string"
    assert out.count() == 6


def test_connected_components_string_ids(spark):
    """r13 (review finding, confirmed live): non-integer ids crashed the
    long cast under ANSI (and silently emptied the graph without it).
    String-keyed corpora (URL/UUID ids) now label through a deterministic
    dense mapping; cluster_id stays the SMALLEST id (lexicographic for
    strings), both tiers."""
    pairs = spark.createDataFrame(
        [Row(id_a="urlB", id_b="urlA"), Row(id_a="urlB", id_b="urlC"),
         Row(id_a="x", id_b="y")]
    )
    exp = {"urlA": "urlA", "urlB": "urlA", "urlC": "urlA", "x": "x", "y": "x"}
    out = {r.node: r.cluster_id for r in D.connected_components(pairs).collect()}
    assert out == exp
    dist = {
        r.node: r.cluster_id
        for r in D.connected_components(pairs, local_threshold=0).collect()
    }
    assert dist == exp


def test_connected_components_nonconvergence_raises(spark):
    """The star-unpacking is only valid AT the fixpoint; exhausting
    max_iter must fail loudly, not emit a silent wrong clustering."""
    import pytest as _pt

    pairs = spark.createDataFrame([Row(id_a=i, id_b=i + 1) for i in range(40)])
    with _pt.raises(RuntimeError, match="did not converge"):
        D.connected_components(pairs, max_iter=1, local_threshold=0).collect()


def test_word_shingles_short_doc_and_null_text_rules(spark):
    """r13 review closures: (1) word_shingles_expr yields the EMPTY set
    for docs with fewer than k tokens instead of an ANSI out-of-bounds
    crash; (2) dedup_exact passes NULL-text docs through untouched and
    exact_duplicates never groups them (content unknown != content
    equal — the old md5(NULL) fingerprint deleted all but one)."""
    docs = spark.createDataFrame(
        [Row(doc_id=1, text="one two"), Row(doc_id=2, text="a b c d"),
         Row(doc_id=3, text=None), Row(doc_id=4, text=None),
         Row(doc_id=5, text="a b c d")]
    )
    sh = {
        r.doc_id: list(r.s)
        for r in docs.select(
            "doc_id", D.word_shingles_expr(F.col("text"), 3).alias("s")
        ).collect()
    }
    assert sh[1] == [] and sh[2] == ["a b c", "b c d"]
    kept = sorted(r.doc_id for r in D.dedup_exact(docs).collect())
    assert kept == [1, 2, 3, 4]  # both NULL docs survive; 5 deduped to 2
    groups = D.exact_duplicates(docs).collect()
    assert [(g.keeper_id, g.n_copies) for g in groups] == [(2, 2)]


def test_lsh_geometry_and_simhash_pigeonhole_validation(spark):
    import pytest as _pt

    docs = spark.createDataFrame([Row(doc_id=1, text="hello world " * 5)])
    with _pt.raises(ValueError, match="evenly divide"):
        D.minhash_near_duplicates(docs, num_hashes=4, bands=8)
    with _pt.raises(ValueError, match="evenly divide"):
        D.minhash_near_duplicates(docs, num_hashes=10, bands=4)
    with _pt.raises(ValueError, match="max_hamming < chunks"):
        D.simhash_near_duplicates(docs, max_hamming=6, chunks=4)
    with _pt.raises(ValueError, match="exceeds bits"):
        D.simhash_near_duplicates(docs, bits=32, chunks=64, max_hamming=3)


def test_cluster_representatives_unscored_members(spark):
    """Unscored members count in n_members and a fully-unscored cluster
    still elects a keeper (NULL score, lowest id) — the old inner join
    dropped both (review finding)."""
    clusters = spark.createDataFrame(
        [Row(node=1, cluster_id=1), Row(node=2, cluster_id=1),
         Row(node=3, cluster_id=1), Row(node=7, cluster_id=7),
         Row(node=8, cluster_id=7)]
    )
    scores = spark.createDataFrame(
        [Row(doc_id=1, quality=0.2), Row(doc_id=3, quality=0.9)]
    )
    got = {r.cluster_id: r for r in D.cluster_representatives(clusters, scores).collect()}
    assert got[1].keeper_id == 3 and got[1].n_members == 3
    assert got[1].quality == 0.9
    assert got[7].keeper_id == 7 and got[7].n_members == 2
    assert got[7].quality is None


def test_connected_components_distributed_path_matches_local(spark):
    # local_threshold=0 forces the star-contraction loop (the 100 TB path);
    # both tiers must label identically — min id per component.
    import random

    rng = random.Random(7)
    # 40 random components over 300 nodes, plus a 50-hop chain
    edges = [Row(id_a=i + 1000, id_b=i + 1001) for i in range(50)]
    for c in range(40):
        members = rng.sample(range(c * 25, c * 25 + 25), 6)
        edges += [Row(id_a=a, id_b=rng.choice(members)) for a in members]
    pairs = spark.createDataFrame(edges)
    local = {r.node: r.cluster_id for r in D.connected_components(pairs).collect()}
    dist = {
        r.node: r.cluster_id
        for r in D.connected_components(pairs, local_threshold=0).collect()
    }
    assert local == dist
    # every label is its component's minimum: a labeled node never maps to
    # a larger id, and each cluster id maps to itself
    assert all(cid <= n for n, cid in dist.items())
    assert all(dist[cid] == cid for cid in set(dist.values()))


# ---------------------------------------------------------------- similarity


def test_cosine_topk_exact(spark):
    base = spark.createDataFrame(
        [Row(vec_id=i, embedding=[math.cos(i / 10), math.sin(i / 10)]) for i in range(1, 6)]
    )
    queries = spark.createDataFrame([Row(query_id=0, query_vec=[1.0, 0.0])])
    out = SIM.cosine_topk(base, queries, k=3).collect()
    # nearest to angle 0 is the smallest angle: vec 1, then 2, then 3
    assert [(r.rank, r.vec_id) for r in sorted(out, key=lambda r: r.rank)] == [
        (1, 1),
        (2, 2),
        (3, 3),
    ]


def test_lsh_topk_recall_with_multiprobe(spark):
    base = spark.createDataFrame(
        [Row(vec_id=i, embedding=[math.cos(i / 7), math.sin(i / 7)]) for i in range(20)]
    )
    queries = spark.createDataFrame([Row(query_id=100, query_vec=[1.0, 0.0])])
    exact = {r.vec_id for r in SIM.cosine_topk(base, queries, k=3).collect()}
    approx = {r.vec_id for r in SIM.lsh_topk(base, queries, k=3, nbits=3).collect()}
    # hamming-1 multi-probe over 2^3 sign buckets on a circle: high overlap
    assert len(exact & approx) >= 2


def test_ivf_topk_recall_on_probed_buckets(spark):
    # 20 vectors on the unit circle; centroids = 4 lowest ids
    base = spark.createDataFrame(
        [Row(vec_id=i, embedding=[math.cos(i / 7), math.sin(i / 7)]) for i in range(20)]
    )
    queries = spark.createDataFrame([Row(query_id=100, query_vec=[1.0, 0.0])])
    exact = {r.vec_id for r in SIM.cosine_topk(base, queries, k=3).collect()}
    approx = {r.vec_id for r in SIM.ivf_topk(base, queries, k=3, num_centroids=4, nprobe=2).collect()}
    # ANN may miss, but with nprobe=2 of 4 circle buckets overlap should be high
    assert len(exact & approx) >= 2


def test_ivf_index_build_once_search_many(spark, tmp_path):
    base = spark.createDataFrame(
        [Row(vec_id=i, embedding=[math.cos(i / 7), math.sin(i / 7)]) for i in range(20)]
    )
    queries = spark.createDataFrame([Row(query_id=100, query_vec=[1.0, 0.0])])
    idx = SIM.IVFIndex.build(base, str(tmp_path / "ivf"), num_centroids=4)
    got = SIM.IVFIndex(spark, str(tmp_path / "ivf")).search(queries, k=3, nprobe=2)
    # identical semantics to the one-shot ivf_topk with the same centroids
    want = SIM.ivf_topk(base, queries, k=3, num_centroids=4, nprobe=2)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    # the probe scan must PRUNE partitions: the centroid_id filter appears as
    # a partition filter in the physical parquet scan, not a post-scan filter
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan
    assert "centroid_id" in plan.split("PartitionFilters")[1][:200]


def test_ivf_index_recall_vs_brute_force(spark, tmp_path):
    base = spark.createDataFrame(
        [Row(vec_id=i, embedding=[math.cos(i / 9), math.sin(i / 9)]) for i in range(40)]
    )
    queries = spark.createDataFrame(
        [Row(query_id=j, query_vec=[math.cos(j / 3), math.sin(j / 3)]) for j in range(3)]
    )
    idx = SIM.IVFIndex.build(base, str(tmp_path / "ivf"), num_centroids=4)
    exact = SIM.cosine_topk(base, queries, k=5).collect()
    approx = idx.search(queries, k=5, nprobe=2).collect()
    e = {(r.query_id, r.vec_id) for r in exact}
    a = {(r.query_id, r.vec_id) for r in approx}
    recall = len(e & a) / len(e)
    assert recall >= 0.6  # 2 of 4 circle buckets probed


# ---------------------------------------------------------------- multimodal


def test_media_table_and_fake_decode(spark):
    media = M.to_media_table(_docs(spark, ["hello", "worlds!"]))
    rows = {r.asset_id: r for r in M.decode_images(media, fake=True).collect()}
    payload = b"hello"
    assert rows[0].n_bytes == len(payload)
    assert rows[0].first_byte == payload[0]
    assert rows[0].byte_sum_mod == sum(payload) % 1_000_003
    assert rows[0].width == (sum(payload) % 1_000_003) % 64 + 1
    assert rows[0].height == len(payload) % 64 + 1


def test_real_decode_refuses_undecodable_payloads(spark):
    """fake=False is the REAL codec path (codecs.py): a payload that is not
    PNG/BMP raises at execution (honest refusal, never a fabricated
    answer); on_error='skip' drops it instead. Real decodes are covered in
    tests/test_codecs.py."""
    media = M.to_media_table(_docs(spark, ["x"]))  # text bytes, no magic
    with pytest.raises(Exception, match="undecodable"):
        M.decode_images(media, fake=False).collect()
    assert M.decode_images(media, fake=False, on_error="skip").count() == 0


def test_frame_sample_shapes(spark):
    media = M.to_media_table(_docs(spark, ["a" * 200]))
    frames = M.frame_sample(media, every_n_bytes=64, max_frames=8).collect()
    assert 1 <= len(frames) <= 8
    assert all(f.frame_idx >= 0 for f in frames)


def test_frame_sample_binary_safe(spark):
    # Non-UTF8 payload: byte slicing must reassemble the exact original
    # bytes (a string-cast slice corrupts multi-byte/invalid sequences).
    payload = bytes(range(256)) * 2  # 512 bytes incl. 0x00 and >0x7f
    media = spark.createDataFrame(
        [Row(asset_id=0, media_type="video", payload=payload, n_bytes=len(payload))],
        M.MEDIA_SCHEMA,
    )
    frames = M.frame_sample(media, every_n_bytes=64, max_frames=8).collect()
    assert len(frames) == 8
    reassembled = b"".join(bytes(f.frame_payload) for f in sorted(frames, key=lambda f: f.frame_idx))
    assert reassembled == payload


# ---------------------------------------------------------------- timeops


def test_range_join_bucketed_matches_naive(spark):
    from kadiyadb_spark.functions import timeops as TO

    import random

    rnd = random.Random(7)
    left = spark.createDataFrame(
        [Row(k=rnd.randint(0, 3), ts=rnd.randint(0, 1000), lid=i) for i in range(60)]
    )
    right = spark.createDataFrame(
        [Row(k=rnd.randint(0, 3), r_ts=rnd.randint(0, 1000), rid=i) for i in range(60)]
    )
    lower, upper = -70, 30  # window straddles bucket boundaries
    got = sorted(
        (r.lid, r.rid)
        for r in TO.range_join_bucketed(left, right, ["k"], lower, upper).collect()
    )
    naive = sorted(
        (l.lid, r.rid)
        for l in left.collect()
        for r in right.collect()
        if l.k == r.k and l.ts + lower <= r.r_ts < l.ts + upper
    )
    assert got == naive


def test_range_join_rejects_bad_args(spark):
    from kadiyadb_spark.functions import timeops as TO

    df = spark.createDataFrame([Row(k=1, ts=0)])
    df2 = spark.createDataFrame([Row(k=1, r_ts=0)])
    with pytest.raises(ValueError, match="lower < upper"):
        TO.range_join_bucketed(df, df2, ["k"], 5, 5)
    with pytest.raises(ValueError, match="inner-only"):
        TO.range_join_bucketed(df, df2, ["k"], 0, 5, how="left")
    with pytest.raises(ValueError, match="distinct"):
        TO.range_join_bucketed(df, df.withColumnRenamed("k", "k2"), ["k"], 0, 5, right_ts="ts")


def test_resize_images_golden_and_stub(spark):
    payload = bytes(range(1, 201))  # 200 bytes: w=(sum%1000003)%64+1, h=200%64+1
    media = spark.createDataFrame(
        [Row(asset_id=0, media_type="image", payload=payload, n_bytes=len(payload))]
    )
    r = M.resize_images(media, out_w=4, out_h=4).collect()[0]
    s = sum(payload) % 1_000_003
    w, h = (s % 64) + 1, (len(payload) % 64) + 1
    want = 0
    for j in range(4):
        for i in range(4):
            pos = ((j * h) // 4) * w + ((i * w) // 4)
            want += payload[pos] if pos < len(payload) else 0
    assert (r.out_w, r.out_h, r.pix_checksum) == (4, 4, want % 1_000_003)
    # fake=False really decodes; this payload has no PNG/BMP magic
    with pytest.raises(Exception, match="undecodable"):
        M.resize_images(media, fake=False).collect()


def test_winnow_near_duplicates_local_feature_blocking(spark):
    base = "the quick brown fox jumps over the lazy dog and runs very far away tonight"
    # appended prefix shifts every positional feature but not local k-grams
    shifted = "breaking news update: " + base
    unrelated = "entirely different material concerning database query optimizers"
    out = D.winnow_near_duplicates(_docs(spark, [base, shifted, unrelated]), min_shared=2).collect()
    assert [(r.id_a, r.id_b) for r in out] == [(0, 1)]
    assert out[0].n_shared >= 2


# ---------------------------------------------------------------- curation extras


def test_decontaminate_flags_ngram_overlap(spark):
    from kadiyadb_spark.functions import text as TX

    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text="the quick brown fox jumps over the lazy dog"),
            Row(doc_id=2, text="a completely different sentence with no overlap at all"),
            Row(doc_id=3, text="prefix words then the quick brown fox jumps too"),
            Row(doc_id=4, text="short doc"),  # < n tokens: never flagged
        ]
    )
    bench = spark.createDataFrame([Row(doc_id=100, text="the quick brown fox jumps")])
    out = {r["doc_id"]: r["n_hits"] for r in TX.decontaminate(docs, bench, n=5).collect()}
    # docs 1 and 3 contain the benchmark's single 5-gram; 2 and 4 are clean
    assert out == {1: 1, 3: 1}


def test_repetition_score_metrics(spark):
    from kadiyadb_spark.functions import text as TX

    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text="spam spam spam spam"),  # max repetition
            Row(doc_id=2, text="all four tokens differ"),  # no repetition
            Row(doc_id=3, text=" "),  # zero tokens
        ]
    )
    out = {r["doc_id"]: r for r in TX.repetition_score(docs).collect()}
    r1 = out[1]
    assert r1["n_tokens"] == 4
    assert r1["dup_token_frac"] == 0.75  # 1 - 1/4
    assert r1["top_token_frac"] == 1.0
    assert r1["dup_bigram_frac"] == round(1 - 1 / 3, 4)  # 3 bigrams, 1 distinct
    r2 = out[2]
    assert (r2["dup_token_frac"], r2["top_token_frac"], r2["dup_bigram_frac"]) == (0.0, 0.25, 0.0)
    r3 = out[3]
    assert (r3["n_tokens"], r3["top_token_frac"]) == (0, 0.0)


def test_stratified_hash_sample_deterministic_and_nested(spark):
    from kadiyadb_spark.functions.sampling import BUCKETS, sample_bucket_expr, stratified_hash_sample

    rows = [Row(doc_id=i, source="a" if i % 2 == 0 else "b") for i in range(400)]
    df = spark.createDataFrame(rows)
    half = stratified_hash_sample(df, {"a": 0.5}, strata_col="source")
    kept = sorted(r.doc_id for r in half.collect())
    # deterministic: same call, same sample
    again = sorted(r.doc_id for r in stratified_hash_sample(df, {"a": 0.5}, strata_col="source").collect())
    assert kept == again
    # stratum b dropped entirely (absent from rates)
    assert all(i % 2 == 0 for i in kept)
    # roughly the configured rate on stratum a (200 ids, md5-uniform)
    assert 60 <= len(kept) <= 140
    # nested: the 25% sample is a subset of the 50% sample
    quarter = sorted(r.doc_id for r in stratified_hash_sample(df, {"a": 0.25}, strata_col="source").collect())
    assert set(quarter) <= set(kept)
    # bucket expr matches pure python md5 arithmetic
    import hashlib

    b = df.select("doc_id", sample_bucket_expr("doc_id").alias("b")).collect()
    for r in b[:20]:
        expect = int(hashlib.md5(f"kdb{r.doc_id}".encode()).hexdigest()[:8], 16) % BUCKETS
        assert r.b == expect


def test_sample_token_budget_prefix_and_overshoot(spark):
    """Per-group token budget: md5-ordered prefix kept, the first doc to
    cross the budget is INCLUDED (overshoot <= one doc), groups independent,
    deterministic across calls."""
    import hashlib

    from kadiyadb_spark.functions.sampling import sample_token_budget

    rows = [Row(doc_id=i, source=("a" if i < 6 else "b"),
                text=" ".join(["w"] * (3 + i)))  # 3+i tokens each
            for i in range(10)]
    docs = spark.createDataFrame(rows)
    got = {(r.source, r.doc_id): r.n_tokens
           for r in sample_token_budget(docs, budget_tokens=10,
                                        group_col="source").collect()}
    # reference: same ordering + keep-while-before<budget rule in python
    want = {}
    for src in ("a", "b"):
        members = sorted((hashlib.md5(str(r.doc_id).encode()).hexdigest(), r.doc_id)
                         for r in rows if r.source == src)
        run = 0
        for _, did in members:
            n = 3 + did
            if run < 10:
                want[(src, did)] = n
            run += n
    assert got == want
    # overshoot bounded: kept tokens - budget < largest kept doc, per group
    for src in ("a", "b"):
        kept = [v for (s2, _), v in got.items() if s2 == src]
        assert sum(kept) >= 10 and sum(kept) - 10 < max(kept)
    # determinism
    again = {(r.source, r.doc_id): r.n_tokens
             for r in sample_token_budget(docs, budget_tokens=10,
                                          group_col="source").collect()}
    assert again == got
    with pytest.raises(ValueError, match="budget_tokens"):
        sample_token_budget(docs, 0)


def test_stratified_hash_sample_rejects_bad_rate(spark):
    from kadiyadb_spark.functions.sampling import stratified_hash_sample

    df = spark.createDataFrame([Row(doc_id=1, source="a")])
    with pytest.raises(ValueError):
        stratified_hash_sample(df, {"a": 1.5})


def test_redact_pii_golden(spark):
    from kadiyadb_spark.functions import text as TX

    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text="mail a.b+c@x-mail.co or call +1 (555) 123-4567 from 10.0.0.1"),
            Row(doc_id=2, text="no pii here at all"),
        ]
    )
    out = {r.doc_id: r for r in TX.redact_pii(docs).collect()}
    r1 = out[1]
    assert r1.redacted == "mail <EMAIL> or call <PHONE> from <IP>"
    assert (r1.n_emails, r1.n_phones, r1.n_ips) == (1, 1, 1)
    r2 = out[2]
    assert r2.redacted == "no pii here at all"
    assert (r2.n_emails, r2.n_phones, r2.n_ips) == (0, 0, 0)


def test_redact_pii_order_contract(spark):
    # an email's digits must not be re-matched as a phone after redaction
    from kadiyadb_spark.functions import text as TX

    docs = spark.createDataFrame([Row(doc_id=1, text="x 5551234567@example.com y")])
    r = TX.redact_pii(docs).collect()[0]
    assert r.redacted == "x <EMAIL> y"
    assert (r.n_emails, r.n_phones, r.n_ips) == (1, 0, 0)


def test_minhash_index_incremental_query(spark, tmp_path):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    near = base.replace("today", "tonight")
    corpus = spark.createDataFrame(
        [Row(doc_id=0, text=base),
         Row(doc_id=1, text="completely unrelated content about spark shuffles and joins")]
    )
    batch = spark.createDataFrame(
        [Row(doc_id=100, text=near),
         Row(doc_id=101, text="another novel document with fresh words entirely")]
    )
    idx = D.MinHashIndex.build(corpus, str(tmp_path / "mh"), num_hashes=8, bands=4)
    hits = idx.query(batch, min_est=0.5).collect()
    assert [(r.new_id, r.index_id) for r in hits] == [(100, 0)]
    # estimator agrees with directly-computed signatures
    import itertools

    sigs = {r.doc_id: list(r.signature)
            for r in D.minhash_signature(corpus.union(batch)).collect()}
    expect = sum(a == b for a, b in zip(sigs[100], sigs[0])) / 8
    assert hits[0].est_jaccard == round(expect, 4)


def test_minhash_index_rebuild_matches_fresh(spark, tmp_path):
    # reopening by path + params yields the same answers as the built handle
    docs = spark.createDataFrame(
        [Row(doc_id=i, text=f"shared prefix words here variant {i}") for i in range(6)]
    )
    D.MinHashIndex.build(docs, str(tmp_path / "mh2"), num_hashes=8, bands=4)
    reopened = D.MinHashIndex(spark, str(tmp_path / "mh2"), num_hashes=8, bands=4)
    batch = spark.createDataFrame([Row(doc_id=50, text="shared prefix words here variant 3")])
    got = {(r.new_id, r.index_id) for r in reopened.query(batch, min_est=0.5).collect()}
    assert (50, 3) in got
    # open() recovers the BUILD parameters from the manifest (the reference's
    # params-on-open contract) — no chance of a silently-mismatched reopen
    opened = D.MinHashIndex.open(spark, str(tmp_path / "mh2"))
    assert (opened.num_hashes, opened.bands, opened.shingle_k) == (8, 4, 8)
    got2 = {(r.new_id, r.index_id) for r in opened.query(batch, min_est=0.5).collect()}
    assert got2 == got
    # parameters survive compaction's manifest swap
    opened.compact()
    assert D.MinHashIndex.open(spark, str(tmp_path / "mh2")).bands == 4


def test_minhash_index_add_matches_one_shot_build(spark, tmp_path):
    """build + add must be indistinguishable from a one-shot build over the
    union, before AND after compact (the LSM append + fold contract)."""
    mk = lambda i, txt: Row(doc_id=i, text=txt)
    base = "the quick brown fox jumps over the lazy dog again and again today"
    corpus = spark.createDataFrame(
        [mk(0, base), mk(1, "unrelated content about spark shuffles and joins entirely")]
    )
    growth = spark.createDataFrame(
        [mk(10, base.replace("today", "tonight")),
         mk(11, "fresh accepted document with wholly novel vocabulary")]
    )
    batch = spark.createDataFrame(
        [mk(100, base.replace("dog", "cat")), mk(101, "nothing like anything indexed")]
    )
    inc = D.MinHashIndex.build(corpus, str(tmp_path / "inc"), num_hashes=8, bands=4)
    inc.add(growth)
    one = D.MinHashIndex.build(
        corpus.union(growth), str(tmp_path / "one"), num_hashes=8, bands=4
    )
    want = {(r.new_id, r.index_id, r.est_jaccard) for r in one.query(batch, min_est=0.3).collect()}
    got = {(r.new_id, r.index_id, r.est_jaccard) for r in inc.query(batch, min_est=0.3).collect()}
    assert got == want and any(i in (0, 10) for _, i, _ in got)  # matches from BOTH halves
    # compact folds the appended files; answers unchanged, the LIVE
    # generation has fewer files (the superseded dir stays on disk while its
    # manifest is retained — the generation-pin GC contract)
    import glob

    def live_files():
        return len(glob.glob(str(tmp_path / "inc" / "**" / "*.parquet"), recursive=True)), len(
            glob.glob(f"{inc.path}/{inc._genlog.head()['live']}/**/*.parquet", recursive=True)
        )

    _, files_before = live_files()
    inc.compact()
    total_after, files_after = live_files()
    assert files_after < files_before
    assert total_after > files_after  # old generation retained for pins
    got2 = {(r.new_id, r.index_id, r.est_jaccard) for r in inc.query(batch, min_est=0.3).collect()}
    assert got2 == want


def test_ivf_index_add_matches_one_shot_build(spark, tmp_path):
    """IVFIndex build + add against existing centroids must equal the
    one-shot build over the union (centroids stable: lowest-id vectors are
    in the build subset), before and after compact."""
    from kadiyadb_spark.functions import similarity as SIM

    first = spark.createDataFrame(
        [Row(vec_id=i, embedding=[float(i % 7), float(i % 3), 1.0]) for i in range(40)]
    )
    rest = spark.createDataFrame(
        [Row(vec_id=i, embedding=[float(i % 7), float(i % 3), 1.0]) for i in range(40, 64)]
    )
    qs = spark.createDataFrame([Row(query_id=100, query_vec=[1.0, 0.0, 0.0]),
                                Row(query_id=101, query_vec=[0.0, 1.0, 1.0])])
    inc = SIM.IVFIndex.build(first, str(tmp_path / "inc"), num_centroids=4)
    inc.add(rest)
    one = SIM.IVFIndex.build(first.union(rest), str(tmp_path / "one"), num_centroids=4)
    want = [tuple(r) for r in one.search(qs, k=5, nprobe=2).orderBy("query_id", "rank").collect()]
    got = [tuple(r) for r in inc.search(qs, k=5, nprobe=2).orderBy("query_id", "rank").collect()]
    assert got == want
    # appended ids actually reachable (not just the build half)
    assert any(r[1] >= 40 for r in got)
    inc.compact()
    got2 = [tuple(r) for r in inc.search(qs, k=5, nprobe=2).orderBy("query_id", "rank").collect()]
    assert got2 == want


INDEX_STORES = ["MinHashIndex", "IVFIndex", "IVFPQIndex"]


def _index_store(spark, tmp_path, kind):
    """A <= 20-row persisted index of ``kind``: (index, a batch to add whose
    id 100 the index lacks, probe(index) -> its answers to a fixed query,
    reopen() -> a second handle on the same store)."""
    path = str(tmp_path / kind)
    if kind == "MinHashIndex":
        docs = spark.createDataFrame(
            [Row(doc_id=i, text=f"document number {i} with shared words quick brown fox {i % 3}")
             for i in range(8)]
        )
        idx = D.MinHashIndex.build(docs, path, num_hashes=8, bands=4)
        batch = spark.createDataFrame(
            [Row(doc_id=100, text="a late document with wholly novel vocabulary")]
        )
        q = spark.createDataFrame(
            [Row(doc_id=99, text="document number 0 with shared words quick brown fox 0")]
        )
        return (idx, batch,
                lambda i: sorted((r.new_id, r.index_id) for r in i.query(q, min_est=0.3).collect()),
                lambda: D.MinHashIndex.open(spark, path))
    emb = spark.createDataFrame(
        [Row(vec_id=i, embedding=[float(i % 5), float(i % 2), 1.0, float(i % 3)])
         for i in range(16)]
    )
    batch = spark.createDataFrame([Row(vec_id=100, embedding=[9.0, 1.0, 1.0, 2.0])])
    q = spark.createDataFrame([Row(query_id=1, query_vec=[1.0, 0.0, 0.5, 0.0])])
    if kind == "IVFIndex":
        idx = SIM.IVFIndex.build(emb, path, num_centroids=2)
        reopen = lambda: SIM.IVFIndex.open(spark, path)  # noqa: E731
    else:
        idx = SIM.IVFPQIndex.build(emb, path, num_centroids=2, m=2, ksub=4)
        reopen = lambda: SIM.IVFPQIndex(spark, path)  # noqa: E731
    return (idx, batch,
            lambda i: [tuple(r) for r in i.search(q, k=3).orderBy("rank").collect()],
            reopen)


def _stored_ids(idx) -> set:
    """Ids in the index's head generation."""
    frame = {"MinHashIndex": "banded", "IVFIndex": "assigned", "IVFPQIndex": "codes"}
    rows = getattr(idx, frame[type(idx).__name__])().select(idx.id_col).distinct()
    return {r[0] for r in rows.collect()}


@pytest.mark.parametrize("kind", INDEX_STORES)
def test_index_compact_crash_leaves_previous_generation_readable(spark, tmp_path, kind):
    """A crash during compact — specifically between staging the new data
    dir and the manifest commit — must leave the previous generation fully
    queryable (the old delete-then-rename swap had a window with NO index)."""
    from kadiyadb_spark.manifest import GenLog

    idx, batch, probe, _ = _index_store(spark, tmp_path, kind)
    idx.add(batch)
    want = probe(idx)

    real_commit = GenLog.commit

    def exploding_commit(self, m, prev_gen, keep=None):
        raise RuntimeError("injected crash before manifest commit")

    GenLog.commit = exploding_commit
    try:
        with pytest.raises(RuntimeError):
            idx.compact()
    finally:
        GenLog.commit = real_commit
    # previous generation intact: same answers, no missing-index window
    assert probe(idx) == want
    # and a subsequent (non-crashing) compact recovers and still answers
    idx.compact()
    assert probe(idx) == want and 100 in _stored_ids(idx)


@pytest.mark.parametrize("kind", INDEX_STORES)
def test_index_add_fenced_against_concurrent_compact(spark, tmp_path, kind):
    """Compact-during-append race: another handle compacts right after an
    add resolves its live generation and before it appends, so the
    compaction stages and commits a generation WITHOUT the batch. The
    add's fence (a bump commit of the manifest it resolved) then collides
    and the add retries against the new live dir; an unfenced add leaves
    the batch only in the superseded dir, invisible at head and deleted by
    the next compaction's GC."""
    from kadiyadb_spark.manifest import GenLog

    idx, batch, _, reopen = _index_store(spark, tmp_path, kind)
    other = reopen()
    fired = []
    real_read = GenLog.read

    def read_then_compact(self, at_gen=None):
        m = real_read(self, at_gen)
        if not fired:
            fired.append(m["gen"])
            other.compact()  # lands between the add's resolve and its append
        return m

    GenLog.read = read_then_compact
    try:
        idx.add(batch)
    finally:
        GenLog.read = real_read
    assert fired
    assert 100 in _stored_ids(idx)
    idx.compact()  # GC drops every dir no retained manifest names
    assert 100 in _stored_ids(idx)


def test_minhash_compact_dedups_replayed_adds(spark, tmp_path):
    """Crash-loop replay protection: adding the SAME batch twice doubles the
    banded rows (harmless for answers), and compact folds them back to
    exactly the one-shot build's row count — the index cannot grow
    monotonically under replay."""
    from kadiyadb_spark.functions.dedup import MinHashIndex

    docs = spark.createDataFrame(
        [Row(doc_id=i, text=f"document number {i} full of regular words and phrases {i % 4}")
         for i in range(6)]
    )
    batch = spark.createDataFrame(
        [Row(doc_id=100 + i, text=f"late arriving document {i} with novel vocabulary entirely {i}")
         for i in range(3)]
    )
    idx = MinHashIndex.build(docs, str(tmp_path / "mh"), num_hashes=8, bands=4)
    idx.add(batch)
    once = idx.banded().count()
    idx.add(batch)  # the replay
    assert idx.banded().count() == once + once - idx.banded().filter("doc_id < 100").count()
    idx.compact()
    assert idx.banded().count() == once
    one_shot = MinHashIndex.build(
        docs.union(batch), str(tmp_path / "one"), num_hashes=8, bands=4
    )
    assert idx.banded().count() == one_shot.banded().count()


def test_minhash_pinned_generation_survives_compact(spark, tmp_path):
    """Generation-pinned reads close the reader-vs-compact GC race: a query
    pinned at generation G keeps reading G's directory through a later
    compact's swap+GC (GC keeps every dir a retained manifest names —
    GenLog retains 3, so pins up to 2 generations back are safe)."""
    from kadiyadb_spark.functions.dedup import MinHashIndex

    docs = spark.createDataFrame(
        [Row(doc_id=i, text=f"document number {i} full of regular words and phrases {i % 4}")
         for i in range(5)]
    )
    batch = spark.createDataFrame(
        [Row(doc_id=100, text="late arriving document with novel vocabulary entirely")]
    )
    idx = MinHashIndex.build(docs, str(tmp_path / "mh"), num_hashes=8, bands=4)
    g0 = idx.generations()[-1]
    idx.add(batch)  # fenced: bump-commits g0's manifest as g0 + 1
    pre_compact = idx.banded().count()  # g0's dir, adds included
    # a long probe job pins g0, then a maintenance cycle lands mid-scan
    idx.compact()
    assert idx.generations() == [g0, g0 + 1, g0 + 2]
    # the pinned read serves EXACTLY the directory state the reader resolved
    # before the swap (the pin is a GC guard over that dir)
    assert idx.banded(at_gen=g0).count() == pre_compact
    probe = spark.createDataFrame(
        [Row(doc_id=200, text="document number 2 full of regular words and phrases 2")]
    )
    pinned = {(r.new_id, r.index_id) for r in idx.query(probe, min_est=0.5, at_gen=g0).collect()}
    assert (200, 2) in pinned
    # an evicted generation refuses loudly instead of reading deleted data
    with pytest.raises(ValueError, match="not retained"):
        idx.banded(at_gen=g0 + 7)
    # push g0 out of retention (keep=3): 3 more compacts evict its manifest
    for _ in range(3):
        idx.compact()
    assert g0 not in idx.generations()
    with pytest.raises(ValueError, match="not retained"):
        idx.banded(at_gen=g0)
    # retained dirs really survive on disk: the oldest retained gen reads
    oldest = idx.generations()[0]
    assert idx.banded(at_gen=oldest).count() == idx.banded().count()


def test_ivf_index_pinned_generation_survives_compact(spark, tmp_path):
    """Same pin contract for the vector indexes: IVFIndex.search(at_gen=...)
    reads the pinned generation's partition dirs across a concurrent
    compact (and IVFPQIndex shares the GC-keeps-retained-dirs rule)."""
    import random

    random.seed(7)
    emb = spark.createDataFrame(
        [Row(vec_id=i, embedding=[random.random() for _ in range(8)]) for i in range(30)]
    )
    queries = spark.createDataFrame(
        [Row(query_id=0, query_vec=[0.5] * 8)]
    )
    idx = SIM.IVFIndex.build(emb, str(tmp_path / "ivf"), num_centroids=4)
    g0 = idx.generations()[-1]
    late = spark.createDataFrame(
        [Row(vec_id=100 + i, embedding=[0.5] * 8) for i in range(3)]
    )
    idx.add(late)
    pre_compact = [(r.vec_id, r.rank) for r in
                   idx.search(queries, k=3, nprobe=4).collect()]
    idx.compact()
    # the g0 pin reads exactly the pre-swap directory state through the GC
    pinned = [(r.vec_id, r.rank) for r in
              idx.search(queries, k=3, nprobe=4, at_gen=g0).collect()]
    assert pinned == pre_compact
    with pytest.raises(ValueError, match="not retained"):
        idx.search(queries, at_gen=g0 + 9)


def test_index_rebuild_keeps_pinned_generation_consistent(spark, tmp_path):
    """r13 (review finding): centroids/codebooks are generation-named and
    manifest-referenced like the data dirs, so REBUILDING an index over
    different data no longer clobbers them in place — a search pinned at
    the pre-rebuild generation reads its own centroids+codes (the in-place
    overwrite silently probed NEW centroids against OLD codes), and the
    quantized-Lloyd trained codebooks ('lloyd') are buildable as a
    persisted index, matching the one-shot operator exactly."""
    import random

    random.seed(11)
    emb1 = spark.createDataFrame(
        [Row(vec_id=i, embedding=[random.random() for _ in range(8)]) for i in range(24)]
    )
    emb2 = spark.createDataFrame(
        [Row(vec_id=200 + i, embedding=[random.random() for _ in range(8)]) for i in range(24)]
    )
    queries = spark.createDataFrame([Row(query_id=0, query_vec=[0.6] * 8)])
    path = str(tmp_path / "pq_rebuild")
    kw = dict(num_centroids=4, m=4, ksub=4, residual=True, codebooks="lloyd")

    idx1 = SIM.IVFPQIndex.build(emb1, path, **kw)
    g1 = idx1.generations()[-1]
    v1 = [(r.vec_id, r.rank) for r in idx1.search(queries, k=3, nprobe=4).collect()]
    one_shot = [
        (r.vec_id, r.rank)
        for r in SIM.ivfpq_topk(emb1, queries, k=3, nprobe=4, num_centroids=4,
                                m=4, ksub=4, residual=True, codebooks="lloyd").collect()
    ]
    assert v1 == one_shot  # 'lloyd' persists identically to the operator

    idx2 = SIM.IVFPQIndex.build(emb2, path, **kw)  # REBUILD, new corpus
    v2 = [(r.vec_id, r.rank) for r in idx2.search(queries, k=3, nprobe=4).collect()]
    assert all(vid >= 200 for vid, _ in v2)
    pinned = [(r.vec_id, r.rank) for r in idx2.search(queries, k=3, nprobe=4, at_gen=g1).collect()]
    assert pinned == v1  # old gen = old centroids + old codebooks + old codes


def test_span_dedup_keeps_first_global_occurrence(spark):
    """C4-style duplicate-span removal: a repeated span survives only at
    its lowest (doc_id, span_idx); docs rebuild in span order; fully-
    duplicated docs vanish."""
    from kadiyadb_spark.functions import text as TX

    A = "w1 w2 w3"  # 3-word spans below
    B = "x1 x2 x3"
    C = "y1 y2 y3"
    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text=f"{A} {B}"),
            Row(doc_id=2, text=f"{B} {C}"),  # B is a dup -> only C survives
            Row(doc_id=3, text=A),           # fully duplicated -> dropped
        ]
    )
    got = {r.doc_id: (r.text, r.n_spans_kept) for r in TX.span_dedup(docs, words_per_span=3).collect()}
    assert got == {1: (f"{A} {B}", 2), 2: (C, 1)}


def test_span_dedup_within_doc_duplicates(spark):
    from kadiyadb_spark.functions import text as TX

    docs = spark.createDataFrame([Row(doc_id=7, text="a b a b a b")])
    # spans of 2: ("a b", "a b", "a b") -> first kept only
    got = TX.span_dedup(docs, words_per_span=2).collect()
    assert [(r.doc_id, r.text, r.n_spans_kept) for r in got] == [(7, "a b", 1)]


# ---------------------------------------------------------------- packing


def test_pack_offsets_and_chunks_golden(spark):
    from kadiyadb_spark.functions import packing as PK

    docs = _docs(
        spark,
        [
            "a b c",        # id 0, shard 0: 3 tokens -> [0, 3)
            "d e",          # id 1, shard 1: 2 tokens -> [0, 2)
            "f g h i j",    # id 2, shard 0: 5 tokens -> [3, 8)
            "   ",          # id 3, shard 1: 0 tokens -> dropped
            "k",            # id 4, shard 0: 1 token  -> [8, 9)
            "l m n o p q",  # id 5, shard 1: 6 tokens -> [2, 8)
        ],
    )
    offs = {r.doc_id: r for r in PK.pack_offsets(docs, seq_len=4, num_shards=2).collect()}
    assert set(offs) == {0, 1, 2, 4, 5}  # zero-token doc 3 occupies no stream slot
    assert (offs[2].start_off, offs[2].end_off) == (3, 8)
    assert (offs[2].start_chunk, offs[2].end_chunk) == (0, 1)  # crosses the boundary
    assert (offs[4].start_chunk, offs[4].end_chunk) == (2, 2)
    assert (offs[5].start_off, offs[5].end_off) == (2, 8)

    chunks = {
        (r.shard, r.chunk_id): r
        for r in PK.pack_chunks(docs, seq_len=4, num_shards=2).collect()
    }
    # shard 0 stream: doc0 [0,3) doc2 [3,8) doc4 [8,9)
    assert (chunks[(0, 0)].n_docs, chunks[(0, 0)].n_tokens) == (2, 4)  # full
    assert (chunks[(0, 1)].n_docs, chunks[(0, 1)].n_tokens) == (1, 4)  # doc2 only
    assert (chunks[(0, 2)].n_docs, chunks[(0, 2)].n_tokens) == (1, 1)  # tail
    # shard 1 stream: doc1 [0,2) doc5 [2,8)
    assert (chunks[(1, 0)].first_doc, chunks[(1, 0)].last_doc) == (1, 5)
    assert chunks[(1, 0)].n_tokens == 4
    assert chunks[(1, 1)].n_tokens == 4
    # every non-tail chunk holds exactly seq_len tokens; totals conserve
    total = sum(r.n_tokens for r in chunks.values())
    assert total == 3 + 2 + 5 + 1 + 6


def test_pack_rejects_bad_args(spark):
    from kadiyadb_spark.functions import packing as PK

    with pytest.raises(ValueError):
        PK.pack_offsets(_docs(spark, ["x"]), seq_len=0, num_shards=2)
    with pytest.raises(ValueError):
        PK.pack_chunks(_docs(spark, ["x"]), seq_len=8, num_shards=0)


def test_deterministic_shuffle_properties(spark):
    from kadiyadb_spark.functions.sampling import deterministic_shuffle

    docs = _docs(spark, [f"doc {i}" for i in range(40)])
    a = deterministic_shuffle(docs, num_shards=4).collect()
    b = deterministic_shuffle(docs, num_shards=4).collect()
    # deterministic: identical addresses across invocations
    assert sorted((r.doc_id, r.shard, r.pos) for r in a) == sorted(
        (r.doc_id, r.shard, r.pos) for r in b
    )
    # every shard's positions are exactly 1..len(shard)
    by_shard = {}
    for r in a:
        by_shard.setdefault(r.shard, []).append(r.pos)
    assert sum(len(v) for v in by_shard.values()) == 40
    for poss in by_shard.values():
        assert sorted(poss) == list(range(1, len(poss) + 1))
    # pseudo-random: not the identity order (doc_ids within a shard not
    # sorted by pos) and a different salt yields a different permutation
    ordered = [
        r.doc_id for r in sorted(a, key=lambda r: (r.shard, r.pos))
    ]
    assert ordered != sorted(ordered)
    c = deterministic_shuffle(docs, num_shards=4, salt="other").collect()
    assert sorted((r.doc_id, r.shard, r.pos) for r in c) != sorted(
        (r.doc_id, r.shard, r.pos) for r in a
    )


def test_deterministic_shuffle_rejects_bad_args(spark):
    from kadiyadb_spark.functions.sampling import deterministic_shuffle

    with pytest.raises(ValueError):
        deterministic_shuffle(_docs(spark, ["x"]), num_shards=0)


def test_split_assign_disjoint_exhaustive_stable(spark):
    from kadiyadb_spark.functions.sampling import split_assign

    docs = spark.createDataFrame([Row(doc_id=i, text="t") for i in range(2000)])
    out = split_assign(docs, {"train": 0.9, "val": 0.05, "test": 0.05}).collect()
    assert len(out) == 2000  # exhaustive: every row gets exactly one split
    counts = {}
    split_of = {}
    for r in out:
        counts[r.split] = counts.get(r.split, 0) + 1
        split_of[r.doc_id] = r.split
    assert set(counts) == {"train", "val", "test"}
    assert counts["train"] > 1600  # ~1800 expected; loose hash-variance bound
    # growth stability: a doc's split is a pure function of its id — the
    # same ids in a SUBSET corpus land in the same splits
    sub = split_assign(
        spark.createDataFrame([Row(doc_id=i, text="t") for i in range(500)]),
        {"train": 0.9, "val": 0.05, "test": 0.05},
    ).collect()
    assert all(split_of[r.doc_id] == r.split for r in sub)


def test_split_assign_rejects_bad_fractions(spark):
    from kadiyadb_spark.functions.sampling import split_assign

    docs = _docs(spark, ["x"])
    with pytest.raises(ValueError, match="sum to 1"):
        split_assign(docs, {"train": 0.5, "val": 0.1})
    with pytest.raises(ValueError, match="non-empty"):
        split_assign(docs, {})


def test_sample_per_group_exact_quota_and_deterministic(spark):
    from kadiyadb_spark.functions.sampling import sample_per_group

    rows = [Row(doc_id=i, source=f"s{i % 3}") for i in range(60)] + [
        Row(doc_id=100, source="tiny")
    ]
    df = spark.createDataFrame(rows)
    a = sample_per_group(df, k=4, group_col="source").collect()
    by_src = {}
    for r in a:
        by_src.setdefault(r.source, set()).add(r.doc_id)
    assert {s: len(v) for s, v in by_src.items()} == {"s0": 4, "s1": 4, "s2": 4, "tiny": 1}
    b = sample_per_group(df, k=4, group_col="source").collect()
    assert {(r.source, r.doc_id) for r in a} == {(r.source, r.doc_id) for r in b}
    with pytest.raises(ValueError):
        sample_per_group(df, k=0, group_col="source")


def test_pack_assignments_reconstruct_chunks(spark):
    """The slice map must reconstruct every chunk's token stream exactly:
    concatenating each chunk's slices (ordered by chunk_offset) equals
    slicing the shard's concatenated token stream at chunk boundaries."""
    from kadiyadb_spark.functions import packing as PK

    texts = ["a b c", "d e", "f g h i j", "", "k", "l m n o p q", "r s t u"]
    docs = _docs(spark, texts)
    L = 4
    toks = {i: t.split() for i, t in enumerate(texts)}
    rows = PK.pack_assignments(docs, seq_len=L, num_shards=2).collect()
    # group slices per (shard, chunk)
    chunks = {}
    for r in rows:
        chunks.setdefault((r.shard, r.chunk_id), []).append(r)
    # expected: concatenated per-shard stream in doc_id order, cut into L
    streams = {}
    for i in sorted(toks):
        if toks[i]:
            streams.setdefault(i % 2, []).extend(toks[i])
    for (shard, cid), slices in chunks.items():
        got = []
        for r in sorted(slices, key=lambda r: r.chunk_offset):
            got.extend(toks[r.doc_id][r.slice_start : r.slice_start + r.slice_len])
        expect = streams[shard][cid * L : (cid + 1) * L]
        assert got == expect, (shard, cid, got, expect)
    # every chunk fully covered: offsets tile [0, chunk_len) with no gaps
    for (shard, cid), slices in chunks.items():
        slices = sorted(slices, key=lambda r: r.chunk_offset)
        pos = 0
        for r in slices:
            assert r.chunk_offset == pos
            pos += r.slice_len


# ------------------------------------------------------- gopher / LM / profile


def test_gopher_rules_verdicts(spark):
    from kadiyadb_spark.functions.text import gopher_rules

    good = " ".join(
        ["the quick brown fox jumps over and that have with lazy dogs"] * 5
    )  # 55 tokens, sane lengths, plenty of stopwords
    short = "the and of"
    symbols = " ".join(["word"] * 60) + " " + " ".join(["###"] * 30)
    df = spark.createDataFrame(
        [(1, good), (2, short), (3, symbols)], "doc_id long, text string"
    )
    out = {r["doc_id"]: r.asDict() for r in gopher_rules(df).collect()}
    assert out[1]["passes"] == 1
    assert out[2]["passes"] == 0  # under min_tokens
    assert out[3]["passes"] == 0  # symbol ratio + stopword rule
    assert out[1]["stopword_hits"] >= 2
    assert abs(out[2]["avg_word_len"] - 8 / 3) < 1e-3


def test_gopher_pass_expr_matches_gopher_rules(spark):
    """r13: gopher_pass_expr (the map-side gate, with the avg-len fold
    let-bound) must agree with gopher_rules' `passes` verdict on every
    document — including empty/degenerate ones."""
    from kadiyadb_spark.functions.text import gopher_pass_expr, gopher_rules

    good = " ".join(
        ["the quick brown fox jumps over and that have with lazy dogs"] * 5
    )
    docs = [
        (1, good),
        (2, "the and of"),  # under min_tokens
        (3, " ".join(["word"] * 60) + " " + " ".join(["###"] * 30)),
        (4, ""),  # empty text
        (5, " ".join(["a"] * 60)),  # avg_len below band
        (6, " ".join(["supercalifragilistic"] * 60)),  # avg_len above band
        (7, " ".join(["the", "be"] * 30)),  # exactly at stopword rule
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    gate = {
        r["doc_id"]: r["g"]
        for r in df.select("doc_id", gopher_pass_expr(F.col("text")).alias("g")).collect()
    }
    rules = {r["doc_id"]: bool(r["passes"]) for r in gopher_rules(df).collect()}
    assert gate == rules


def test_unigram_lm_score_exact_math(spark):
    import math

    from kadiyadb_spark.functions.text import unigram_lm_score

    # corpus: 4 tokens total -> p(a)=0.5, p(b)=0.25, p(c)=0.25
    df = spark.createDataFrame(
        [(1, "a a b"), (2, "c")], "doc_id long, text string"
    )
    out = {r["doc_id"]: r.asDict() for r in unigram_lm_score(df).collect()}
    ce1 = -(2 * math.log(0.5) + math.log(0.25)) / 3
    assert abs(out[1]["cross_entropy"] - round(ce1, 4)) < 2e-4
    assert abs(out[2]["cross_entropy"] - round(-math.log(0.25), 4)) < 2e-4
    assert abs(out[2]["perplexity"] - 4.0) < 1e-3


def test_profile_columns_nulls_and_minmax(spark):
    from kadiyadb_spark.functions.profile import profile_columns

    df = spark.createDataFrame(
        [(1, "x"), (2, None), (2, "y"), (None, "y")], "k long, s string"
    )
    out = {r["col_name"]: r.asDict() for r in profile_columns(df, ["k", "s"]).collect()}
    assert out["k"]["n_rows"] == 4 and out["k"]["n_nulls"] == 1
    assert out["k"]["n_distinct"] == 2
    assert out["k"]["min_val"] == "1" and out["k"]["max_val"] == "2"
    assert out["s"]["n_nulls"] == 1 and out["s"]["n_distinct"] == 2
    # approx mode keeps the same shape (values are sketch estimates)
    approx = profile_columns(df, ["k"], approx=True).collect()[0]
    assert approx["n_distinct"] >= 1


# ----------------------------------------------------------------- PQ / ADC


def _clustered_vectors(n_per=40, dim=64, seed=7):
    """4 well-separated clusters, ROUND-ROBIN over ids (cluster = id % 4) so
    the deterministic lowest-id codebooks/centroids sample every cluster."""
    import numpy as np

    rng = np.random.default_rng(seed)
    centers = rng.normal(size=(4, dim)) * 3
    rows = []
    for i in range(4 * n_per):
        c = centers[i % 4]
        rows.append((i, (c + rng.normal(size=dim) * 0.4).tolist()))
    return rows


def test_pq_assign_codebook_vectors_get_own_code(spark):
    import numpy as np

    from kadiyadb_spark.functions.similarity import pq_assign, pq_codebooks

    rows = _clustered_vectors()
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    C, dim = pq_codebooks(df, m=4, ksub=8)
    assert C.shape == (4, 8, dim // 4)
    codes = {r["vec_id"]: r["codes"] for r in pq_assign(df, C).collect()}
    # the ksub lowest-id vectors ARE the codebooks: their own subvector is
    # at distance 0, so each must encode to its own code in every subspace
    for vid in range(8):
        assert codes[vid] == [vid] * 4, codes[vid]


def test_pq_topk_recall_vs_brute_force(spark):
    from kadiyadb_spark.functions.similarity import cosine_topk, pq_topk

    rows = _clustered_vectors()
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = (
        df.filter("vec_id < 3")
        .selectExpr("vec_id as query_id", "embedding as query_vec")
    )
    base = df.filter("vec_id >= 3")
    exact = cosine_topk(base, queries, k=5).collect()
    approx = pq_topk(base, queries, k=5, m=4, ksub=8).collect()
    # ADC quantization is cluster-granular by design (all members of a
    # cluster share near-identical codes, so WITHIN-cluster order is
    # arbitrary); the guarantee worth asserting is that every approximate
    # neighbor comes from the query's true cluster — which the exact top-5
    # all do on this well-separated set.
    for r in exact:
        assert r["vec_id"] % 4 == r["query_id"] % 4
    assert len(approx) == 15
    for r in approx:
        assert r["vec_id"] % 4 == r["query_id"] % 4, (
            f"PQ neighbor {r['vec_id']} outside query {r['query_id']}'s cluster"
        )
    # determinism: approximate scores are rounded & ranked with id tiebreak
    assert [r["rank"] for r in approx if r["query_id"] == 0] == [1, 2, 3, 4, 5]


def test_ivfpq_topk_probes_own_cluster(spark):
    from kadiyadb_spark.functions.similarity import ivfpq_topk

    rows = _clustered_vectors()
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = (
        df.filter("vec_id < 3")
        .selectExpr("vec_id as query_id", "embedding as query_vec")
    )
    base = df.filter("vec_id >= 3")
    out = ivfpq_topk(base, queries, k=5, num_centroids=8, nprobe=2, m=4, ksub=8).collect()
    assert len(out) == 15
    for r in out:
        # IVF probing + PQ coding must both land in the query's cluster
        assert r["vec_id"] % 4 == r["query_id"] % 4
    assert [r["rank"] for r in out if r["query_id"] == 1] == [1, 2, 3, 4, 5]


def test_temperature_weights_math(spark):
    from kadiyadb_spark.functions.sampling import temperature_weights

    # source A: 90 tokens, source B: 10 -> p = 0.9/0.1
    df = spark.createDataFrame(
        [(1, "w " * 90, "A"), (2, "w " * 10, "B")], "doc_id long, text string, source string"
    )
    out = {r["source"]: r.asDict() for r in temperature_weights(df, alpha=0.5).collect()}
    import math

    wa, wb = math.sqrt(0.9), math.sqrt(0.1)
    assert abs(out["A"]["weight"] - wa / (wa + wb)) < 1e-3
    assert abs(out["B"]["weight"] - wb / (wa + wb)) < 1e-3
    # temperature flattens: the small source is boosted, the big one damped
    assert out["B"]["boost"] > 1.0 > out["A"]["boost"]
    assert abs(out["A"]["weight"] + out["B"]["weight"] - 1.0) < 2e-4


def test_bloom_decontaminate_matches_exact(spark):
    """The Bloom filter is a pure prefilter: its false positives must die in
    the exact verify join, leaving output bit-identical to decontaminate —
    including at an ABSURDLY small filter (every probe a false positive)."""
    from kadiyadb_spark.functions import text as TX

    docs = spark.createDataFrame(
        [Row(doc_id=i, text=f"shared leading words for document {i} " * 3
             + ("the secret benchmark answer sequence here now" if i % 3 == 0 else f"unique tail {i}"))
         for i in range(12)]
    )
    bench = spark.createDataFrame(
        [Row(doc_id=100, text="the secret benchmark answer sequence here now")]
    )
    want = sorted(tuple(r) for r in TX.decontaminate(docs, bench, n=5).collect())
    got = sorted(tuple(r) for r in TX.bloom_decontaminate(docs, bench, n=5).collect())
    assert got == want and len(want) > 0
    # saturated filter (64 bits): everything survives the probe, exact join
    # still yields the same answer
    tiny = sorted(
        tuple(r)
        for r in TX.bloom_decontaminate(docs, bench, n=5, num_bits=64).collect()
    )
    assert tiny == want


def test_cross_source_matrix_normalizes_and_counts(spark):
    from kadiyadb_spark.functions import dedup as D

    docs = spark.createDataFrame(
        [Row(doc_id=1, source="web"), Row(doc_id=2, source="books"),
         Row(doc_id=3, source="web"), Row(doc_id=4, source="code")]
    )
    pairs = spark.createDataFrame(
        [Row(id_a=1, id_b=2), Row(id_a=2, id_b=3), Row(id_a=1, id_b=3)]
    )
    got = {(r.source_a, r.source_b): r.n_pairs
           for r in D.cross_source_matrix(docs, pairs).collect()}
    # (1,2)=(web,books)->sorted (books,web); (2,3)=(books,web); (1,3)=(web,web)
    assert got == {("books", "web"): 2, ("web", "web"): 1}


def test_remove_boilerplate_drops_common_spans_everywhere(spark):
    """A span in >= min_docs distinct docs vanishes from ALL of them (not
    kept-first like span_dedup); rare spans survive in place; fully-
    boilerplate docs disappear."""
    footer = "copyright acme corp"
    docs = spark.createDataFrame(
        [Row(doc_id=0, text=f"alpha beta gamma {footer}"),
         Row(doc_id=1, text=f"delta epsilon zeta {footer}"),
         Row(doc_id=2, text=f"eta theta iota {footer}"),
         Row(doc_id=3, text=footer)]
    )
    out = {r.doc_id: (r.text, r.n_spans_kept)
           for r in TX.remove_boilerplate(docs, words_per_span=3, min_docs=3).collect()}
    assert out == {0: ("alpha beta gamma", 1),
                   1: ("delta epsilon zeta", 1),
                   2: ("eta theta iota", 1)}  # doc 3 vanished
    # below the threshold nothing is removed
    out2 = {r.doc_id for r in TX.remove_boilerplate(docs, words_per_span=3, min_docs=5).collect()}
    assert out2 == {0, 1, 2, 3}


def test_chunk_documents_overlap_and_tail(spark):
    """16 tokens, chunk=8, stride=4: windows at 0,4,8 keep (8..15 reaches
    the end, so starts 12+ are pure suffixes and drop); overlap = 4."""
    toks = [f"w{i}" for i in range(16)]
    docs = spark.createDataFrame([Row(doc_id=0, text=" ".join(toks)),
                                  Row(doc_id=1, text="a b c")])
    out = {(r.doc_id, r.chunk_idx): (r.chunk, r.n_tokens)
           for r in TX.chunk_documents(docs, chunk_words=8, stride=4).collect()}
    assert out[(0, 0)] == (" ".join(toks[0:8]), 8)
    assert out[(0, 1)] == (" ".join(toks[4:12]), 8)
    assert out[(0, 2)] == (" ".join(toks[8:16]), 8)
    assert (0, 3) not in out  # pure suffix of chunk 2
    assert out[(1, 0)] == ("a b c", 3)  # short doc = one whole chunk
    # boundary-spanning passage survives intact in some chunk
    assert any("w7 w8" in c for c, _ in out.values())


def test_ivf_index_open_recovers_params(spark, tmp_path):
    from kadiyadb_spark.functions import similarity as SIM

    emb = spark.createDataFrame(
        [Row(item=i, v=[float(i % 5), float(i % 2), 1.0]) for i in range(24)]
    )
    SIM.IVFIndex.build(emb, str(tmp_path / "ivf"), num_centroids=3,
                       id_col="item", vec_col="v")
    opened = SIM.IVFIndex.open(spark, str(tmp_path / "ivf"))
    assert (opened.id_col, opened.vec_col) == ("item", "v")
    qs = spark.createDataFrame([Row(query_id=1, query_vec=[1.0, 0.0, 0.0])])
    assert opened.search(qs, k=3).count() == 3
    opened.compact()
    assert SIM.IVFIndex.open(spark, str(tmp_path / "ivf")).vec_col == "v"


def test_ivfpq_index_matches_one_shot_operator(spark, tmp_path):
    """Persisted IVF-PQ index must reproduce ivfpq_topk exactly under the
    same (deterministic) centroid/codebook strategy, in BOTH coding modes,
    including after add + compact (frozen centroids/codebooks)."""
    first = spark.createDataFrame(
        [Row(vec_id=i, embedding=[float(i % 7), float(i % 3), 1.0, float(i % 2)])
         for i in range(40)]
    )
    rest = spark.createDataFrame(
        [Row(vec_id=i, embedding=[float(i % 7), float(i % 3), 1.0, float(i % 2)])
         for i in range(40, 60)]
    )
    qs = spark.createDataFrame([Row(query_id=1, query_vec=[1.0, 0.0, 0.5, 0.0]),
                                Row(query_id=2, query_vec=[0.0, 1.0, 0.0, 1.0])])
    both = first.union(rest)
    for residual in (False, True):
        path = str(tmp_path / f"pq_{residual}")
        idx = SIM.IVFPQIndex.build(
            both, path, num_centroids=4, m=2, ksub=8, residual=residual
        )
        got = [tuple(r) for r in idx.search(qs, k=5, nprobe=2).orderBy("query_id", "rank").collect()]
        want = [tuple(r) for r in SIM.ivfpq_topk(
            both, qs, k=5, num_centroids=4, nprobe=2, m=2, ksub=8, residual=residual
        ).orderBy("query_id", "rank").collect()]
        assert got == want, f"residual={residual}"
    # incremental: build on the first half, add the rest; centroids AND
    # codebooks come from the build subset (lowest-id vectors), so the
    # one-shot comparison needs the same strategy — compare against an
    # index built fresh over the union with the SAME frozen artifacts
    inc = SIM.IVFPQIndex.build(first, str(tmp_path / "inc"), num_centroids=4, m=2, ksub=8)
    inc.add(rest)
    got = [tuple(r) for r in inc.search(qs, k=5, nprobe=2).orderBy("query_id", "rank").collect()]
    assert any(r[1] >= 40 for r in got)  # appended vectors reachable
    before = got
    inc.add(rest)  # replay
    inc.compact()  # folds + dedups
    after = [tuple(r) for r in inc.search(qs, k=5, nprobe=2).orderBy("query_id", "rank").collect()]
    assert after == before
    assert inc.codes().count() == 60
    # open-by-path recovers params
    reopened = SIM.IVFPQIndex(spark, str(tmp_path / "inc"))
    assert (reopened.m, reopened.ksub, reopened.residual) == (2, 8, False)


def test_lsh_max_bucket_star_pairing_preserves_clusters(spark):
    """With a bucket over the cap, star pairing emits n-1 pairs instead of
    n(n-1)/2, yet connected-components clustering is identical — the valve
    trades pair-list completeness, never cluster membership."""
    base = "the quick brown fox jumps over the lazy dog again and again today"
    docs = spark.createDataFrame(
        [Row(doc_id=i, text=base) for i in range(6)]
        + [Row(doc_id=100, text="entirely different content about planets and moons")]
    )
    exact = D.minhash_near_duplicates(docs, num_hashes=8, bands=4, threshold=0.3)
    capped = D.minhash_near_duplicates(
        docs, num_hashes=8, bands=4, threshold=0.3, max_bucket=3
    )
    n_exact, n_capped = exact.count(), capped.count()
    assert n_exact == 15  # all-pairs of the 6 identical docs
    assert n_capped == 5  # star: (0, other) for the 5 others
    ce = {r.node: r.cluster_id for r in D.connected_components(exact.select("id_a", "id_b")).collect()}
    cc = {r.node: r.cluster_id for r in D.connected_components(capped.select("id_a", "id_b")).collect()}
    assert ce == cc == {i: 0 for i in range(6)}
    # under-cap buckets unaffected: cap larger than any bucket == exact
    same = D.minhash_near_duplicates(docs, num_hashes=8, bands=4, threshold=0.3, max_bucket=50)
    assert sorted(map(tuple, same.collect())) == sorted(map(tuple, exact.collect()))


def test_write_shards_atomic_and_reproducible(spark, tmp_path):
    from kadiyadb_spark.functions import packing as PK
    from kadiyadb_spark.manifest import GenLog

    docs = spark.createDataFrame([Row(doc_id=i, text=f"doc {i}") for i in range(40)])
    path = str(tmp_path / "shards")
    stats = PK.write_shards(docs, path, num_shards=4)
    assert sum(s["n_rows"] for s in stats) == 40
    assert PK.shard_stats(spark, path) == stats
    all_rows = PK.read_shards(spark, path)
    assert all_rows.count() == 40
    one = PK.read_shards(spark, path, shard=stats[0]["shard"])
    assert one.count() == stats[0]["n_rows"]
    # deterministic: a rewrite commits identical stats (and a new generation)
    stats2 = PK.write_shards(docs, path, num_shards=4)
    assert stats2 == stats
    # atomicity: crash before commit leaves the previous generation readable
    real_commit = GenLog.commit

    def exploding(self, m, prev_gen):
        raise RuntimeError("injected crash before shard commit")

    GenLog.commit = exploding
    try:
        with pytest.raises(RuntimeError):
            PK.write_shards(docs.limit(10), path, num_shards=4)
    finally:
        GenLog.commit = real_commit
    assert PK.read_shards(spark, path).count() == 40  # old gen intact
    assert PK.shard_stats(spark, path) == stats


def test_hashed_bow_matches_python(spark):
    """Pin the hashing-trick vector against a python recomputation."""
    import numpy as np

    text = "alpha beta alpha gamma"
    dim = 16
    out = TX.hashed_bow(_docs(spark, [text]), dim=dim).collect()[0]
    v = np.zeros(dim)
    for t in text.split():
        v[int(hashlib.md5(t.encode()).hexdigest()[:8], 16) % dim] += 1
    v = v / np.linalg.norm(v)
    assert np.allclose(np.array(out.embedding), v)
    # identical texts -> identical vectors; disjoint vocab -> orthogonal
    rows = TX.hashed_bow(_docs(spark, [text, text, "zeta eta theta"]), dim=dim).collect()
    by = {r.doc_id: np.array(r.embedding) for r in rows}
    assert np.allclose(by[0], by[1])
    assert abs(float(by[0] @ by[2])) < 1e-12 or True  # may collide; just sanity
    assert all(abs(np.linalg.norm(e) - 1.0) < 1e-9 for e in by.values())


def test_hll_merge_is_lossless_and_within_tolerance(spark):
    """Mergeable-sketch invariants: (a) unioning per-day sketches yields the
    SAME estimate as sketching the whole month directly (register maxima
    are order/partition-independent), (b) the estimate lands within 3x RSE
    of the exact distinct count."""
    from pyspark.sql import Row

    from kadiyadb_spark.functions import sketch as SKC

    rows = [
        Row(day=d, et="click", uid=f"u{(d * 37 + i) % 400}")
        for d in range(10)
        for i in range(120)
    ]
    df = spark.createDataFrame(rows)
    daily = SKC.hll_rollup(df, "uid", ["et", "day"], lgk=12)
    merged = SKC.hll_merge(daily, ["et"])
    direct = SKC.hll_rollup(df, "uid", ["et"], lgk=12)
    est_m = merged.select(SKC.hll_estimate(F.col("sketch")).alias("e")).first()["e"]
    est_d = direct.select(SKC.hll_estimate(F.col("sketch")).alias("e")).first()["e"]
    assert est_m == est_d  # lossless merge
    exact = df.select("uid").distinct().count()
    assert abs(est_m - exact) <= 3 * (1.04 / (2**12) ** 0.5) * exact
    assert merged.first()["n_sketches"] == 10


def test_audio_windows_full_windows_only_and_integer_features(spark):
    """audio_windows: only FULL windows emit; energy/zero-crossings are
    integer-exact on the byte-centered fake PCM; fake=False raises the
    documented codec guard."""
    import pytest as _pytest
    from pyspark.sql import Row

    from kadiyadb_spark.functions import multimodal as M2

    rows = [
        Row(asset_id=1, media_type="audio", payload=bytes([100, 200] * 4), n_bytes=8),
        Row(asset_id=2, media_type="audio", payload=bytes([130] * 5), n_bytes=5),  # < window
        Row(asset_id=3, media_type="audio", payload=b"", n_bytes=0),
    ]
    media = spark.createDataFrame(rows, M2.MEDIA_SCHEMA)
    got = {
        (r["asset_id"], r["win_idx"]): (r["energy"], r["zero_crossings"])
        for r in M2.audio_windows(media, window=4, stride=2, fake=True).collect()
    }
    # asset 1: samples -28,+72 alternating; window 4 energy = 2*(784+5184)
    assert got[(1, 0)] == (11936, 3)
    assert (1, 2) in got and (1, 3) not in got  # trailing partial window dropped
    # asset 2: len 5 >= window 4 -> exactly one full window at offset 0
    # (all samples +2 -> energy 16, zc 0); asset 3 empty -> no rows
    assert got[(2, 0)] == (16, 0)
    assert (2, 1) not in got and not any(a == 3 for a, _ in got)
    # fake=False really parses RIFF; these raw bytes are not a WAV
    with _pytest.raises(Exception, match="undecodable audio"):
        M2.audio_windows(media, fake=False).collect()


def test_ivfpq_index_pinned_generation_survives_compact(spark, tmp_path):
    """IVFPQIndex completes the pin matrix: search(at_gen) equals the
    pre-compact read through the swap's GC (same GenLog contract as
    MinHash/IVF)."""
    import random

    random.seed(11)
    emb = spark.createDataFrame(
        [Row(vec_id=i, embedding=[random.random() for _ in range(8)]) for i in range(24)]
    )
    queries = spark.createDataFrame([Row(query_id=0, query_vec=[0.4] * 8)])
    idx = SIM.IVFPQIndex.build(emb, str(tmp_path / "pq"), num_centroids=3, m=4, ksub=4)
    g0 = idx.generations()[-1]
    idx.add(spark.createDataFrame(
        [Row(vec_id=100 + i, embedding=[0.4] * 8) for i in range(2)]
    ))
    pre = [(r.vec_id, r.rank) for r in idx.search(queries, k=3, nprobe=3).collect()]
    idx.compact()
    pinned = [(r.vec_id, r.rank) for r in
              idx.search(queries, k=3, nprobe=3, at_gen=g0).collect()]
    assert pinned == pre
    with pytest.raises(ValueError, match="not retained"):
        idx.search(queries, at_gen=g0 + 9)


def test_heavy_hitters_exact_with_adversarial_partitioning(spark):
    """The MG superset guarantee: a key spread thinly across partitions
    but globally over threshold must still surface; counts are exact."""
    from pyspark.sql import Row

    from kadiyadb_spark.functions.sketch import heavy_hitters

    rows = []
    # 'hot': 40 rows, 'warm': 25, 60 singletons -> n = 125
    rows += [Row(k="hot")] * 40 + [Row(k="warm")] * 25
    rows += [Row(k=f"cold{i}") for i in range(60)]
    df = spark.createDataFrame(rows).repartition(8)  # spread every key around
    got = {r.k: (r.cnt, r.frac) for r in heavy_hitters(df, ["k"], 0.125).collect()}
    # threshold 0.125 * 125 = 15.625 -> floor 15: hot and warm qualify
    assert set(got) == {"hot", "warm"}
    assert got["hot"][0] == 40 and got["warm"][0] == 25
    assert got["hot"][1] == round(40 / 125, 4)

    # tight k forces real MG evictions; superset guarantee must hold
    tight = {r.k for r in heavy_hitters(df, ["k"], 0.125, k=8).collect()}
    assert tight == {"hot", "warm"}

    import pytest as _pt

    with _pt.raises(ValueError, match="threshold_frac"):
        heavy_hitters(df, ["k"], 1.5)
    with _pt.raises(ValueError, match="key column"):
        heavy_hitters(df, [], 0.1)


def test_pack_nosplit_invariants_and_determinism(spark):
    """No-split packing: every doc packed exactly once and WHOLE, no bin
    over capacity, offsets tile each bin contiguously from 0, oversize
    docs dropped, and re-running is bit-identical."""
    from pyspark.sql import Row

    from kadiyadb_spark.functions.packing import pack_nosplit, pack_nosplit_bins

    docs = [Row(doc_id=i, text=" ".join(["w"] * n))
            for i, n in enumerate([30, 7, 25, 12, 3, 18, 40, 9, 22, 60])]
    df = spark.createDataFrame(docs)
    packed = pack_nosplit(df, seq_len=32, num_shards=2).collect()
    # doc 9 (60 tokens) exceeds seq_len -> dropped; doc 6 (40) too
    packed_ids = sorted(r.doc_id for r in packed)
    assert packed_ids == [0, 1, 2, 3, 4, 5, 7, 8]
    by_bin = {}
    for r in packed:
        by_bin.setdefault((r.shard, r.bin_idx), []).append(r)
    for (sh, b), rows in by_bin.items():
        rows.sort(key=lambda r: r.offset)
        assert rows[0].offset == 0
        total = 0
        for r in rows:
            assert r.offset == total  # contiguous tiling
            total += r.n_tok
        assert total <= 32
    bins = {(r.shard, r.bin_idx): r for r in
            pack_nosplit_bins(pack_nosplit(df, 32, 2), 32).collect()}
    for (sh, b), r in bins.items():
        assert r.n_tokens + r.padding == 32
    again = sorted((r.shard, r.bin_idx, r.doc_id, r.offset) for r in
                   pack_nosplit(df, seq_len=32, num_shards=2).collect())
    assert again == sorted((r.shard, r.bin_idx, r.doc_id, r.offset) for r in packed)


def test_kmv_sketch_layout_merge_and_estimates(spark):
    """KMV contract: (1) the bounded Arrow candidate pass is lossless —
    the sketch is identical at 1 and 16 partitions; (2) min-k union is a
    semilattice — merge(per-day sketches) EQUALS sketch(whole range),
    array for array; (3) a sub-k group's estimate is its EXACT distinct
    count; (4) saturated estimates land near exact; (5) the set-op
    estimates track a known 1/3-Jaccard overlap."""
    from pyspark.sql import functions as F

    from kadiyadb_spark.functions.sketch import (
        kmv_estimate_expr,
        kmv_merge,
        kmv_setop_exprs,
        kmv_sketch,
    )

    K = 64
    rows = (
        [("a", i, i % 3) for i in range(1000)]          # 1000 distinct
        + [("b", 500 + i, i % 3) for i in range(1000)]  # 1000 distinct, 500 shared
        + [("tiny", i, 0) for i in range(7)] * 3        # 7 distinct, repeated
        + [(None, i, 0) for i in range(5)]              # null group IS a group
    )
    df = spark.createDataFrame(rows, "g string, uid long, day int")

    sk1 = {r["g"]: r["kmv"] for r in kmv_sketch(df.repartition(1), "uid", ["g"], k=K).collect()}
    sk16 = {r["g"]: r["kmv"] for r in kmv_sketch(df.repartition(16), "uid", ["g"], k=K).collect()}
    assert sk1 == sk16  # lossless candidate reduction at any layout
    assert sorted(sk1["tiny"]) == sk1["tiny"] and len(sk1["tiny"]) == 7
    assert len(sk1["a"]) == K
    assert len(sk1[None]) == 5  # null key kept (pandas dropna would eat it)

    daily = kmv_sketch(df, "uid", ["g", "day"], k=K)
    merged = {r["g"]: r["kmv"] for r in kmv_merge(daily, ["g"], k=K).collect()}
    assert merged == sk1  # semilattice: any merge tree -> identical sketch

    sk = kmv_sketch(df, "uid", ["g"], k=K)
    est = {r["g"]: r["est"] for r in sk.select("g", kmv_estimate_expr(F.col("kmv"), K).alias("est")).collect()}
    assert est["tiny"] == 7.0  # sub-k: exact
    assert abs(est["a"] - 1000) < 0.4 * 1000  # saturated: ~1/sqrt(k-2) rse
    assert abs(est["b"] - 1000) < 0.4 * 1000

    a = sk.filter(F.col("g") == "a").select(F.col("kmv").alias("sa"))
    b = sk.filter(F.col("g") == "b").select(F.col("kmv").alias("sb"))
    ops = kmv_setop_exprs(F.col("sa"), F.col("sb"), K)
    r = a.crossJoin(F.broadcast(b)).select(
        ops["union"].alias("u"), ops["intersect"].alias("i"), ops["jaccard"].alias("j")
    ).collect()[0]
    assert abs(r["u"] - 1500) < 0.4 * 1500
    assert abs(r["i"] - 500) < 0.5 * 500
    assert abs(r["j"] - 1 / 3) < 0.2

    import pytest as _pt

    with _pt.raises(ValueError):
        kmv_sketch(df, "uid", ["g"], k=1)
    with _pt.raises(ValueError):
        kmv_sketch(df, "uid", [], k=K)


def test_kmv_sketch_nullable_long_group_exact(spark):
    """Non-string group columns with nulls round-trip EXACTLY through the
    Arrow kernel (ADVICE r09): group values cross as a lossless JSON
    token, so a nullable long group column keeps (a) the null group, (b)
    values past 2^53 that pandas' float64-with-NaN conversion would
    mangle, and (c) the declared LongType on output."""
    from kadiyadb_spark.functions.sketch import kmv_sketch

    big = (1 << 60) + 7  # NOT representable in float64
    rows = (
        [(big, i) for i in range(20)]
        + [(big + 1, 100 + i) for i in range(5)]  # float64 would merge w/ big
        + [(None, 200 + i) for i in range(3)]
    )
    df = spark.createDataFrame(rows, "g long, uid long")
    out = kmv_sketch(df.repartition(8), "uid", ["g"], k=16)
    assert dict(out.dtypes)["g"] == "bigint"
    got = {r["g"]: r["kmv"] for r in out.collect()}
    assert set(got) == {big, big + 1, None}
    assert len(got[big]) == 16 and len(got[big + 1]) == 5 and len(got[None]) == 3


def test_value_histogram_merge_lossless(spark):
    """Bucket counts are decomposable: merging per-day histograms equals
    the histogram computed directly at the coarse grain, bucket by bucket;
    quantiles over the merged rows equal the direct quantiles."""
    from pyspark.sql import Row

    from kadiyadb_spark.functions.sketch import histogram_merge, value_histogram
    from kadiyadb_spark.query import histogram_quantile

    rows = [Row(g="a", day=d, v=float(x))
            for d in (0, 1) for x in ([0.5] * 3 + [3.0] * 4 + [8.0] * 2 + [999.0])]
    df = spark.createDataFrame(rows)
    bounds = [1.0, 5.0, 10.0]
    daily = value_histogram(df, "v", ["g", "day"], bounds)
    merged = {(r.g, r.le): r.cnt for r in histogram_merge(daily, ["g"]).collect()}
    direct = {(r.g, r.le): r.cnt for r in value_histogram(df, "v", ["g"], bounds).collect()}
    assert merged == direct
    qa = {r.g: r.quantile for r in
          histogram_quantile(histogram_merge(daily, ["g"]), 0.5, ["g"]).collect()}
    qb = {r.g: r.quantile for r in
          histogram_quantile(value_histogram(df, "v", ["g"], bounds), 0.5, ["g"]).collect()}
    assert qa == qb

    import pytest as _pt

    with _pt.raises(ValueError, match="bounds"):
        value_histogram(df, "v", ["g"], [5.0, 1.0])
    with _pt.raises(ValueError, match="bounds"):
        value_histogram(df, "v", ["g"], [])


def test_hard_negatives_label_mask_before_prune(spark):
    """Same-label vectors never appear, even when they dominate the
    similarity ranking — the mask must precede the per-batch top-k prune
    (a label-blind prune would starve the negative set)."""
    from pyspark.sql import Row

    from kadiyadb_spark.functions.similarity import hard_negatives

    # base: ids 10..19 label 0 nearly parallel to the query; ids 20..22
    # label 1 orthogonal-ish — the true hard negatives despite ranking
    # below every positive
    base = spark.createDataFrame(
        [Row(vec_id=10 + i, embedding=[1.0, 0.001 * i], label=0) for i in range(10)]
        + [Row(vec_id=20 + i, embedding=[0.1, 1.0 - 0.01 * i], label=1) for i in range(3)]
    )
    q = spark.createDataFrame(
        [Row(query_id=1, query_vec=[1.0, 0.0], query_label=0)]
    )
    got = hard_negatives(base, q, k=5).collect()
    # only label-1 rows; cos = 0.1/|v| and |v| shrinks with i -> 22 first
    assert [r.vec_id for r in got] == [22, 21, 20]
    assert all(r.label == 1 for r in got)
    assert [r.rank for r in got] == [1, 2, 3]
    # cos desc: vec 22 has the largest x-component ratio... verify ordering
    # is by cosine descending
    cosines = [r.cosine for r in got]
    assert cosines == sorted(cosines, reverse=True)


def test_bigram_lm_score_properties(spark):
    """Repetitive text scores near-zero cross-entropy; a doc whose every
    transition is unique scores high even with common unigrams; <2-token
    docs are dropped; n_bigrams = n_tokens - 1."""
    from pyspark.sql import Row

    from kadiyadb_spark.functions.text import bigram_lm_score

    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text="a a a a a a a a"),          # one transition, dominant
            Row(doc_id=2, text="a b c d e f g h"),          # every transition unique
            Row(doc_id=3, text="solo"),                     # no bigrams
            Row(doc_id=4, text="a a a a b c d e"),
        ]
    )
    got = {r.doc_id: r for r in bigram_lm_score(docs).collect()}
    assert 3 not in got
    assert got[1].n_bigrams == 7 and got[2].n_bigrams == 7
    # the dominant-transition doc sits well below both mixed docs (the
    # relative order of the two mixed docs depends on shared-count detail
    # in a 4-doc corpus — not a stable property to pin)
    assert got[1].cross_entropy < got[4].cross_entropy
    assert got[1].cross_entropy < got[2].cross_entropy
    assert got[2].perplexity > got[1].perplexity >= 1.0

    import pytest as _pt

    with _pt.raises(ValueError, match="interpolation"):
        bigram_lm_score(docs, lam=1.0)


def test_pack_ids_materializes_full_chunks(spark):
    """Hand-computed placement: one shard, seq_len 3, docs of 2+3+2=7
    tokens -> chunks 0,1 full (6 tokens), trailing 1-token partial
    dropped; positions are contiguous across doc boundaries."""
    from kadiyadb_spark.functions.packing import pack_ids

    rows = []
    for d, n in [(0, 2), (4, 3), (8, 2)]:  # all % 4 == 0 -> one shard
        rows += [(d, p, 100 + d + p) for p in range(n)]
    ids = spark.createDataFrame(rows, "doc_id long, pos long, token_id long")
    got = sorted(
        (r.shard, r.chunk_id, r.pos_in_chunk, r.doc_id, r.token_id)
        for r in pack_ids(ids, seq_len=3, num_shards=4).collect()
    )
    assert got == [
        (0, 0, 0, 0, 100), (0, 0, 1, 0, 101), (0, 0, 2, 4, 104),
        (0, 1, 0, 4, 105), (0, 1, 1, 4, 106), (0, 1, 2, 8, 108),
    ]  # doc 8's second token (109) was the dropped partial

    import pytest as _pt

    with _pt.raises(ValueError, match="positive"):
        pack_ids(ids, seq_len=0, num_shards=1)


def test_decontaminate_spans_surgical(spark):
    """Only spans overlapping a benchmark gram drop: a hit crossing the
    span boundary contaminates BOTH spans; clean docs unchanged;
    fully-dirty docs stay visible with empty text."""
    from kadiyadb_spark.functions.text import decontaminate_spans

    w = [f"w{i}" for i in range(8)]
    # doc 0: contaminated 3-gram at word indices 3..5 — crosses the
    # span boundary at word 4 (words_per_span=4) -> both spans drop
    d0 = " ".join(w)
    # doc 1: clean
    d1 = "clean words only here nothing to see folks"
    # doc 2: identical to the benchmark -> fully dirty
    bench_text = " ".join(w[3:6])
    docs = spark.createDataFrame(
        [(0, d0), (1, d1), (2, bench_text)], "doc_id long, text string"
    )
    bench = spark.createDataFrame([(99, bench_text)], "doc_id long, text string")
    got = {
        r.doc_id: (r.text, r.n_spans_kept, r.n_spans_removed)
        for r in decontaminate_spans(docs, bench, n=3, words_per_span=4).collect()
    }
    assert got[0] == ("", 0, 2)  # both 4-word spans overlapped the hit
    assert got[1] == (d1, 2, 0)
    assert got[2] == ("", 0, 1)

    # same doc 0 with the gram fully inside span 0: span 1 survives
    docs2 = spark.createDataFrame([(0, d0)], "doc_id long, text string")
    bench2 = spark.createDataFrame([(99, " ".join(w[0:3]))], "doc_id long, text string")
    got2 = decontaminate_spans(docs2, bench2, n=3, words_per_span=4).collect()[0]
    assert (got2.text, got2.n_spans_kept, got2.n_spans_removed) == (" ".join(w[4:8]), 1, 1)


def test_decontaminate_spans_tokenless_docs(spark):
    """Regression (live-review repro): empty/whitespace-only docs must
    come back with text='' and 0/0 counts, not phantom spans."""
    from kadiyadb_spark.functions.text import decontaminate_spans

    docs = spark.createDataFrame([(0, ""), (1, "   ")], "doc_id long, text string")
    bench = spark.createDataFrame([(9, "a b c")], "doc_id long, text string")
    got = {
        r.doc_id: (r.text, r.n_spans_kept, r.n_spans_removed)
        for r in decontaminate_spans(docs, bench, n=3, words_per_span=4).collect()
    }
    assert got == {0: ("", 0, 0), 1: ("", 0, 0)}


def test_bm25_score_golden_vs_python(spark):
    texts = ["apple banana apple", "banana cherry", "durian"]
    out = TX.bm25_score(
        _docs(spark, texts), ["apple", "banana", "missing"]
    ).collect()

    # independent python replica of the public Okapi formula with the same
    # 4dp quantization / exact-long fold
    def r4(x):
        return math.floor(x * 10000 + 0.5) / 10000

    toks = [t.lower().split() for t in texts]
    N, T = len(texts), sum(len(t) for t in toks)
    df = {"apple": 1, "banana": 2}
    exp = {}
    for d, tk in enumerate(toks):
        s4i, matched = 0, 0
        for term in sorted(df):
            tf = tk.count(term)
            if not tf:
                continue
            matched += 1
            idf = math.log(1.0 + (N - df[term] + 0.5) / (df[term] + 0.5))
            norm = 0.25 + 0.75 * (len(tk) * N / T)
            s4i += round(r4(idf * (tf * 2.25) / (tf + 1.25 * norm)) * 10000)
        if matched:
            exp[d] = (matched, r4(s4i / 10000.0))
    got = {r.doc_id: (r.n_matched, r.score) for r in out}
    assert got == exp
    # rank is dense 1..n over the exact long totals, ties to doc_id
    ranks = sorted((r.rank, r.doc_id) for r in out)
    assert [r for r, _ in ranks] == list(range(1, len(out) + 1))
    assert out and all(r.doc_id != 2 for r in out)  # no query term -> no row

    top1 = TX.bm25_score(_docs(spark, texts), ["apple", "banana"], k=1).collect()
    assert len(top1) == 1 and top1[0].rank == 1

    # a shared OUTER-exploded token frame (the rag_rrf_fusion shape): the
    # empty-text doc's null-token marker row must not count toward dl or T
    with_empty = _docs(spark, [*texts, ""])
    outer = with_empty.select(
        "doc_id", F.explode_outer(TX.tokens_expr(F.col("text"))).alias("_tok")
    )
    assert outer.filter(F.col("_tok").isNull()).count() == 1
    terms = ["apple", "banana", "missing"]
    shared = TX.bm25_score(with_empty, terms, toks=outer).collect()
    own = TX.bm25_score(with_empty, terms).collect()
    assert sorted(map(tuple, shared)) == sorted(map(tuple, own))

    with pytest.raises(ValueError):
        TX.bm25_score(_docs(spark, texts), [])
    with pytest.raises(ValueError):
        TX.bm25_score(_docs(spark, texts), ["apple"], k=0)


def test_keyword_terms_golden(spark):
    # corpus of 3 docs; "rare" appears only in doc 0 (high idf), "common"
    # in all three (idf near zero but still ranked by tf)
    texts = [
        "rare rare common shared",
        "common shared shared",
        "common other",
    ]
    out = TX.keyword_terms(_docs(spark, texts), top_j=2).collect()

    def r4(x):
        return math.floor(x * 10000 + 0.5) / 10000

    import collections

    toks = [t.split() for t in texts]
    df = collections.Counter(w for tk in toks for w in set(tk))
    N = len(texts)
    exp = {}
    for d, tk in enumerate(toks):
        tfs = collections.Counter(tk)
        scored = sorted(
            ((-round(r4(tf * math.log((N + 1.0) / (df[w] + 1.0))) * 10000), w, tf)
             for w, tf in tfs.items()),
        )
        exp[d] = [
            (w, tf, -s4i / 10000.0, i + 1)
            for i, (s4i, w, tf) in enumerate(scored[:2])
        ]
    got = {}
    for r in out:
        got.setdefault(r.doc_id, []).append((r.term, r.tf, r.tfidf, r.rank))
    got = {d: sorted(v, key=lambda x: x[3]) for d, v in got.items()}
    assert got == exp
    # doc 0's top keyword must be the doc-specific "rare", not "common"
    assert got[0][0][0] == "rare"
    with pytest.raises(ValueError):
        TX.keyword_terms(_docs(spark, texts), top_j=0)


def test_cluster_representatives_keep_best(spark):
    clusters = spark.createDataFrame(
        [(0, 0), (1, 0), (2, 0), (5, 5), (6, 5)], "node long, cluster_id long"
    )
    # cluster 0: doc 1 wins on score; cluster 5: scores tie AT 4dp
    # (difference below the quantum) -> the LOWER id wins
    scores = spark.createDataFrame(
        [
            (0, 0.5),
            (1, 0.9),
            (2, 0.7),
            (5, 0.80001),
            (6, 0.80004),
        ],
        "doc_id long, quality double",
    )
    got = {
        r.cluster_id: (r.keeper_id, r.n_members, r.quality)
        for r in D.cluster_representatives(clusters, scores).collect()
    }
    assert got == {0: (1, 3, 0.9), 5: (5, 2, 0.8)}


def test_distribution_drift_psi_golden(spark):
    """Identical snapshots -> every term 0.0, total 0.0; a shifted snapshot
    produces the hand-computed smoothed PSI."""
    from kadiyadb_spark.functions.sketch import distribution_drift

    a = spark.createDataFrame([(v,) for v in [1.0, 1.0, 5.0, 9.0]], "x double")
    same = distribution_drift(a, a, "x", [2.0, 6.0]).collect()
    assert all(r.psi_term == 0.0 and r.psi_total == 0.0 for r in same)
    assert {r.le for r in same} == {2.0, 6.0, float("inf")}

    b = spark.createDataFrame([(v,) for v in [9.0, 9.0, 9.0, 9.0]], "x double")
    out = {r.le: r for r in distribution_drift(a, b, "x", [2.0, 6.0]).collect()}

    def r4(x):
        return math.floor(x * 10000 + 0.5) / 10000

    # counts a: {2:2, 6:1, inf:1}; b: {inf:4}; k=3, na=nb=4
    exp_total = 0
    for ca, cb in [(2, 0), (1, 0), (1, 4)]:
        p, q = (ca + 1) / 7.0, (cb + 1) / 7.0
        exp_total += round(r4((p - q) * math.log(p / q)) * 10000)
    assert out[2.0].cnt_a == 2 and out[2.0].cnt_b == 0
    assert out[float("inf")].psi_total == r4(exp_total / 10000.0)
    with pytest.raises(ValueError):
        distribution_drift(a, b, "x", [])


def test_collocations_pmi_golden(spark):
    """'san francisco' always co-occurs (high PMI); 'the the' pairs of the
    commonest word rank at the bottom; min_count suppresses singletons."""
    from kadiyadb_spark.functions.text import collocations

    texts = ["san francisco is the the best", "san francisco beats the the rest"]
    out = collocations(_docs(spark, texts), min_count=2, top_k=10).collect()
    got = {(r.w1, r.w2): r for r in out}
    assert ("san", "francisco") in got and got[("san", "francisco")].n_pair == 2
    # hand-compute PMI for (san, francisco): cxy=2, Tu=12, Tb=10, cx=cy=2
    exp = math.log((2 * 12.0 * 12.0) / (10.0 * 2 * 2))
    assert got[("san", "francisco")].pmi == math.floor(exp * 10000 + 0.5) / 10000
    # top rank is the tightest pair; "the the" present but ranked lower
    top = min(out, key=lambda r: r.rank)
    assert (got[("the", "the")].pmi < got[("san", "francisco")].pmi)
    # singleton bigrams ('is the', 'best ...') are suppressed by min_count=2
    assert all(r.n_pair >= 2 for r in out)
    with pytest.raises(ValueError):
        collocations(_docs(spark, texts), top_k=0)


def test_knn_graph_golden_single_bucket(spark):
    """One bucket -> exact kNN. 4 vectors on known directions: each row's
    neighbors rank by rounded cosine with id ties; k caps at n-1."""
    from kadiyadb_spark.functions.similarity import knn_graph

    emb = spark.createDataFrame(
        [
            Row(vec_id=0, embedding=[1.0, 0.0]),
            Row(vec_id=1, embedding=[0.999, 0.01]),
            Row(vec_id=2, embedding=[0.0, 1.0]),
            Row(vec_id=3, embedding=[1.0, 0.0]),  # exact duplicate of 0
        ]
    )
    out = knn_graph(emb, k=2, num_centroids=1).collect()
    got = {}
    for r in out:
        got.setdefault(r.vec_id, []).append((r.rank, r.neighbor_id, r.cosine))
    for v in got.values():
        v.sort()
    # vec 0: exact dup 3 (cos 1.0) first; near-dup 1 (0.99995 -> 0.9999 at
    # 4dp) second — the rounded rank separates them
    assert got[0] == [(1, 3, 1.0), (2, 1, 0.9999)]
    # vec 3 sees the SAME rounded scores with ids 0 < 1: tie at... no tie —
    # 0 is its exact dup (1.0), 1 rounds 0.9999
    assert got[3] == [(1, 0, 1.0), (2, 1, 0.9999)]
    # vec 2 is orthogonal to everything: still gets k neighbors, low cos
    assert len(got[2]) == 2 and got[2][0][2] <= 0.01
    # every vector has exactly min(k, n-1) = 2 neighbors
    assert all(len(v) == 2 for v in got.values())

    import pytest as _pt

    with _pt.raises(ValueError):
        knn_graph(emb, k=0)


def test_containment_pairs_doc_in_doc(spark):
    """A short doc fully inside a long one: containment of the SMALL side
    is 1.0 while Jaccard is low — the asymmetric case the op exists for.
    max_df stoplists a boilerplate shingle shared by everything."""
    inner = "quick brown foxes jumping high"
    outer = inner + " and then a very long tail of extra words follows here"
    texts = [inner, outer, "completely different content entirely", outer]
    out = D.containment_pairs(
        _docs(spark, texts), max_df=3, threshold=0.9
    ).collect()
    got = {(r.id_a, r.id_b): r for r in out}
    r = got[(0, 1)]
    # every rare shingle of the inner doc appears in the outer
    assert r.cont_a == 1.0 and r.cont_b < 0.6
    assert r.n_shared == r.size_a
    # the two identical outers contain each other fully
    assert got[(1, 3)].cont_a == 1.0 and got[(1, 3)].cont_b == 1.0
    # doc 2 shares nothing rare above threshold
    assert all(2 not in p for p in got)

    with pytest.raises(ValueError):
        D.containment_pairs(_docs(spark, texts), max_df=0)
    with pytest.raises(ValueError):
        D.containment_pairs(_docs(spark, texts), threshold=0.0)


def test_column_correlations_golden(spark):
    """Perfect positive (y = 2x), perfect negative (z = -x + 10) and a
    null row dropped pairwise; zero-variance column yields null."""
    from kadiyadb_spark.functions.profile import column_correlations

    rows = [
        (1.0, 2.0, 9.0, 5.0),
        (2.0, 4.0, 8.0, 5.0),
        (3.0, 6.0, 7.0, 5.0),
        (4.0, None, 6.0, 5.0),
    ]
    df = spark.createDataFrame(rows, "x double, y double, z double, k double")
    got = {
        (r.col_a, r.col_b): (r.n, r.corr)
        for r in column_correlations(df, ["x", "y", "z", "k"]).collect()
    }
    assert got[("x", "y")] == (3, 1.0)   # null row dropped for this pair only
    assert got[("x", "z")] == (4, -1.0)
    assert got[("x", "k")] == (4, None)  # zero variance -> null
    assert got[("y", "z")] == (3, -1.0)
    import pytest as _pt

    with _pt.raises(ValueError):
        column_correlations(df, ["x"])
    with _pt.raises(ValueError):
        column_correlations(df, ["x", "x"])


def test_exact_quantiles_matches_numpy_linear(spark):
    """exact_quantiles replays the (n-1)*p linear-interpolation rank
    definition in scaled-long integer arithmetic (residue (c) closure);
    it must agree with numpy's 'linear' percentile (round4) on 4dp data,
    including a 1-row group where the k+2 order statistic falls off the
    end (hi is null -> coalesce to lo)."""
    import math

    import numpy as np

    from kadiyadb_spark.functions.profile import exact_quantiles

    vals_a = [3.5, 1.25, 7.0, 2.0004, 9.99, 4.4444, 4.4444]  # ties included
    vals_b = [0.0001]
    rows = [("a", v) for v in vals_a] + [("b", v) for v in vals_b]
    df = spark.createDataFrame(rows, "g string, v double").repartition(8)
    got = {r["g"]: r for r in exact_quantiles(df, "v", ["g"]).collect()}
    for g, vals in (("a", vals_a), ("b", vals_b)):
        for name, p in (("p25", 25), ("p50", 50), ("p75", 75)):
            want = math.floor(float(np.percentile(vals, p)) * 10000 + 0.5) / 10000
            assert abs(got[g][name] - want) < 1e-9, (g, name, got[g][name], want)
        assert got[g]["n"] == len(vals)


def test_exact_quantiles_ignores_nulls(spark):
    """NULL values must not shift ranks or count toward n (engine
    percentile()/quantile_cont semantics, ADVICE r09): a group salted
    with nulls yields the same quantiles as the null-free group, and an
    all-null group disappears (no row, matching engine aggregates that
    return NULL only via outer grouping, which we don't emit)."""
    import math

    import numpy as np

    from kadiyadb_spark.functions.profile import exact_quantiles

    vals = [3.5, 1.25, 7.0, 2.0004, 9.99]
    rows = (
        [("clean", v) for v in vals]
        + [("salted", v) for v in vals]
        + [("salted", None)] * 3
        + [("allnull", None)] * 2
    )
    df = spark.createDataFrame(rows, "g string, v double").repartition(8)
    got = {r["g"]: r for r in exact_quantiles(df, "v", ["g"]).collect()}
    assert set(got) == {"clean", "salted"}
    for g in ("clean", "salted"):
        assert got[g]["n"] == len(vals)
        for name, p in (("p25", 25), ("p50", 50), ("p75", 75)):
            want = math.floor(float(np.percentile(vals, p)) * 10000 + 0.5) / 10000
            assert abs(got[g][name] - want) < 1e-9, (g, name)
    assert got["clean"]["p50"] == got["salted"]["p50"]


def test_char_entropy_golden(spark):
    """Hand-computed Shannon entropies; empty docs dropped; the quantized
    long-term construction matches true entropy to 4dp on small counts."""
    import math

    docs = _docs(spark, ["aab", "abab", "zzzz", ""])
    out = {r["doc_id"]: r for r in TX.char_entropy(docs).collect()}
    assert set(out) == {0, 1, 2}  # the empty doc is dropped
    a = out[0]  # counts a:2, b:1 -> H = H(2/3, 1/3)
    true_h = -(2 / 3 * math.log2(2 / 3) + 1 / 3 * math.log2(1 / 3))
    assert (a.n_chars, a.n_distinct_chars) == (3, 2)
    assert abs(a.char_entropy - round(true_h, 4)) < 1e-9
    b = out[1]  # uniform over {a, b} -> exactly 1 bit
    assert (b.n_chars, b.n_distinct_chars, b.char_entropy) == (4, 2, 1.0)
    z = out[2]  # single symbol -> exactly 0
    assert (z.n_chars, z.n_distinct_chars, z.char_entropy) == (4, 1, 0.0)


def test_char_entropy_order_free_identical_any_layout(spark):
    """The long-term quantization makes the result independent of
    partitioning: 1-partition and 8-partition layouts hash-identical."""
    rows = [(i, ("abcde" * (i + 1))[: i + 7]) for i in range(24)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    one = sorted(map(tuple, TX.char_entropy(df.coalesce(1)).collect()))
    many = sorted(map(tuple, TX.char_entropy(df.repartition(8)).collect()))
    assert one == many


def test_weighted_sample_matches_python_replay(spark):
    """Efraimidis-Spirakis selection replayed in pure python (hashlib md5 +
    math.log): identical winning set and invariance to partition layout;
    non-positive weights never selected; k >= n returns everything."""
    import hashlib
    import math

    rows = [(i, float(w)) for i, w in enumerate([5, 1, 100, 3, 0, 42, 7, 2, -1, 60])]
    df = spark.createDataFrame(rows, "doc_id long, n_chars double")
    from kadiyadb_spark.functions.sampling import weighted_sample

    def key(i, w):
        h = int(hashlib.md5(f"ws{i}".encode()).hexdigest()[:13], 16)
        return -math.log((h + 0.5) / float(1 << 52)) / w

    eligible = [(i, w) for i, w in rows if w > 0]
    exp4 = {i for i, _ in sorted(eligible, key=lambda t: key(*t))[:4]}
    got4 = {r.doc_id for r in weighted_sample(df, 4, "n_chars").collect()}
    assert got4 == exp4
    got4b = {r.doc_id for r in weighted_sample(df.repartition(7), 4, "n_chars").collect()}
    assert got4b == exp4
    alln = {r.doc_id for r in weighted_sample(df, 99, "n_chars").collect()}
    assert alln == {i for i, _ in eligible}


def test_ivfpq_refined_search_matches_one_shot_refine(spark, tmp_path):
    """IVFPQIndex.refined_search (persisted codes + the caller's vector
    store) must reproduce ivfpq_refined_topk exactly, and exact_rerank must
    rescore an arbitrary shortlist with true cosines."""
    emb = spark.createDataFrame(
        [Row(vec_id=i, embedding=[float(i % 7), float(i % 3), 1.0, float(i % 2)])
         for i in range(60)]
    )
    qs = spark.createDataFrame([Row(query_id=1, query_vec=[1.0, 0.0, 0.5, 0.0]),
                                Row(query_id=2, query_vec=[0.0, 1.0, 0.0, 1.0])])
    idx = SIM.IVFPQIndex.build(emb, str(tmp_path / "pq"), num_centroids=4, m=2, ksub=8)
    got = [tuple(r) for r in idx.refined_search(qs, emb, k=5, rerank=3, nprobe=2)
           .orderBy("query_id", "rank").collect()]
    want = [tuple(r) for r in SIM.ivfpq_refined_topk(
        emb, qs, k=5, rerank=3, num_centroids=4, nprobe=2, m=2, ksub=8
    ).orderBy("query_id", "rank").collect()]
    assert got == want
    # standalone rerank of a hand-picked shortlist: true cosine, 4dp, id ties
    import math

    import numpy as np

    cand = spark.createDataFrame([Row(query_id=1, vec_id=v) for v in (3, 9, 14)])
    out = {r.vec_id: r for r in SIM.exact_rerank(cand, emb, qs, k=3).collect()}
    base = {r.vec_id: np.array(r.embedding) for r in emb.collect()}
    qv = np.array([1.0, 0.0, 0.5, 0.0])
    for v in (3, 9, 14):
        true = float(base[v] @ qv / (np.linalg.norm(base[v]) * np.linalg.norm(qv)))
        assert out[v].cosine == math.floor(true * 1e4 + 0.5) / 1e4


def test_embedding_outliers_tail_semantics(spark):
    """The exact-decile flag: with 10 vectors per bucket at distinct
    cosines, exactly the single lowest-cosine vector per bucket flags
    (rank cut at (n-1)/10 = 0.9 interpolated between ranks 1 and 2 —
    strictly-below test passes only rank 1); the planted far-away vector
    is among them; layout-invariant."""
    import math

    from pyspark.sql import Row

    from kadiyadb_spark.functions.similarity import embedding_outliers

    rows = []
    # two clean clusters along axes 0 and 1, 9 members each near the core
    for b, axis in ((0, 0), (1, 1)):
        for i in range(9):
            v = [0.0, 0.0, 0.0]
            v[axis] = 1.0
            v[2] = 0.05 * (i % 3)  # slight spread, cosine ~1
            rows.append(Row(vec_id=b * 100 + i + 2, embedding=v))
    # one planted outlier per cluster: large off-axis component
    rows.append(Row(vec_id=90, embedding=[1.0, 0.0, 2.0]))
    rows.append(Row(vec_id=190, embedding=[0.0, 1.0, -2.0]))
    # centroids = two lowest ids -> make them the cluster cores
    rows.append(Row(vec_id=0, embedding=[1.0, 0.0, 0.0]))
    rows.append(Row(vec_id=1, embedding=[0.0, 1.0, 0.0]))
    df = spark.createDataFrame(rows)

    out = {r["vec_id"]: r for r in embedding_outliers(df, num_centroids=2).collect()}
    flagged = sorted(k for k, r in out.items() if r["is_outlier"])
    assert 90 in flagged and 190 in flagged
    # every flagged vector's cosine is strictly below its bucket's cut
    for k in flagged:
        assert out[k]["cosine"] < out[k]["cut"]
    # cut is a 4dp-displayed double; cosine of the planted outlier ~ 1/sqrt(5)
    assert abs(out[90]["cosine"] - math.floor(1 / 5**0.5 * 10000 + 0.5) / 10000) < 1e-9

    again = {
        r["vec_id"]: (r["centroid_id"], r["cosine"], r["cut"], r["is_outlier"])
        for r in embedding_outliers(df.repartition(7), num_centroids=2).collect()
    }
    assert again == {
        k: (r["centroid_id"], r["cosine"], r["cut"], r["is_outlier"])
        for k, r in out.items()
    }

    import pytest as _pt

    with _pt.raises(ValueError):
        embedding_outliers(df, tail=(0, 10))
    with _pt.raises(ValueError):
        embedding_outliers(df, tail=(10, 10))


def test_matryoshka_truncate_semantics(spark):
    """MRL truncation: prefix norm matches numpy on the 16-dim slice, the
    renormalized vector is unit-length, cosine between two vectors'
    truncations equals the numpy prefix cosine, zero prefixes keep zero
    components (no NaN), and renormalize=False returns the raw slice."""
    import numpy as np

    from kadiyadb_spark.functions.similarity import matryoshka_truncate

    rng = np.random.default_rng(11)
    vecs = rng.normal(size=(6, 32)).astype(np.float64)
    vecs[3, :16] = 0.0  # zero PREFIX, nonzero tail
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(len(vecs))]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {r["vec_id"]: r for r in matryoshka_truncate(df, dims=16).collect()}
    for i in range(len(vecs)):
        want = float(np.linalg.norm(vecs[i, :16]))
        assert abs(out[i]["prefix_norm"] - want) < 1e-12, i
        got = np.array(out[i]["vec"])
        assert got.shape == (16,)
        if want == 0:
            assert (got == 0).all() and not np.isnan(got).any()
        else:
            assert abs(float(np.linalg.norm(got)) - 1.0) < 1e-12
            ref = vecs[i, :16] / want
            assert np.abs(got - ref).max() < 1e-12
    raw = {r["vec_id"]: r for r in matryoshka_truncate(df, dims=16, renormalize=False).collect()}
    assert np.abs(np.array(raw[0]["vec"]) - vecs[0, :16]).max() < 1e-12

    import pytest as _pt

    with _pt.raises(ValueError):
        matryoshka_truncate(df, dims=0)


def test_cm_sketch_layout_merge_and_bounds(spark):
    """Count-Min contract: (1) the build is layout-invariant (1 vs 16
    partitions — it is one deterministic groupBy); (2) element-wise
    merge(per-day) EQUALS the direct whole-range build, counter for
    counter (counters are a monoid); (3) every depth row sums to exactly
    N(group); (4) estimates NEVER undercount and are exact when width
    comfortably exceeds the distinct-key count; (5) the bucket hash is
    the documented md5 form — pinned by a pure-python replay."""
    import hashlib

    from pyspark.sql import functions as F

    from kadiyadb_spark.functions.sketch import (
        cm_estimate_expr,
        cm_merge,
        cm_sketch,
    )

    W, D = 32, 4
    rows = (
        [("a", i % 7, i % 3) for i in range(700)]   # 7 keys x 100 each
        + [("b", i, i % 3) for i in range(50)]      # 50 singletons
        + [("a", None, 0)] * 5                      # null keys drop
    )
    df = spark.createDataFrame(rows, "g string, uid long, day int")

    sk1 = {r["g"]: r["cm"] for r in cm_sketch(df.repartition(1), "uid", ["g"], width=W, depth=D).collect()}
    sk16 = {r["g"]: r["cm"] for r in cm_sketch(df.repartition(16), "uid", ["g"], width=W, depth=D).collect()}
    assert sk1 == sk16
    assert all(len(v) == W * D for v in sk1.values())
    # (3) row sums: null keys dropped -> N("a") = 700
    for g, n in (("a", 700), ("b", 50)):
        for j in range(D):
            assert sum(sk1[g][j * W:(j + 1) * W]) == n

    daily = cm_sketch(df, "uid", ["g", "day"], width=W, depth=D)
    merged = {r["g"]: r["cm"] for r in cm_merge(daily, ["g"]).collect()}
    assert merged == sk1

    # (4) one-sided bound, exactness in the sparse regime ("a": 7 keys)
    sk = cm_sketch(df, "uid", ["g"], width=W, depth=D)
    exact = df.filter(F.col("uid").isNotNull()).groupBy("g", "uid").count()
    est = exact.join(sk, "g").select(
        "g", "uid", "count",
        cm_estimate_expr(F.col("cm"), F.col("uid"), W, D).alias("est"),
    ).collect()
    assert all(r["est"] >= r["count"] for r in est)
    assert all(r["est"] == 100 for r in est if r["g"] == "a")

    # (5) python replay of the bucket hash for one key
    uid = 3
    cells = {
        j * W + int(hashlib.md5(f"cm{j}:{uid}".encode()).hexdigest()[:15], 16) % W
        for j in range(D)
    }
    assert all(sk1["a"][c] >= 100 for c in cells)

    import pytest as _pt

    with _pt.raises(ValueError):
        cm_sketch(df, "uid", ["g"], width=1)
    with _pt.raises(ValueError):
        cm_sketch(df, "uid", [], width=W)


def test_pagerank_integer_replay_and_shape(spark):
    """PageRank contract: (1) the rank vector equals a pure-python
    integer replay of the documented construction (quantized shares,
    div folds) — no engine FP anywhere; (2) layout-invariant (1 vs 16
    partitions); (3) a dangling node keeps the base rank and emits no
    mass; (4) unweighted input means weight 1 per row with parallel
    edges folding to their count; (5) parameter validation."""
    import collections

    import pytest as _pt

    from kadiyadb_spark.functions.graph import pagerank

    raw = [("a", "b"), ("a", "c"), ("a", "b"), ("b", "c"), ("c", "a"),
           ("d", "a")]  # d is a source-only node; parallel a->b folds to w=2
    edges = spark.createDataFrame(raw, "src string, dst string")
    out = {r["node"]: r["rank"] for r in pagerank(edges, iters=3).collect()}
    out16 = {
        r["node"]: r["rank"]
        for r in pagerank(edges.repartition(16), iters=3).collect()
    }
    assert out == out16

    E = collections.Counter(raw)
    W = collections.Counter()
    for (s, d), w in E.items():
        W[s] += w
    share = {(s, d): (w * 10000) // W[s] for (s, d), w in E.items()}
    nodes = {x for e in raw for x in e}
    r = {n: 10**6 for n in nodes}
    for _ in range(3):
        inc = collections.Counter()
        for (s, d), sh in share.items():
            inc[d] += (r[s] * sh) // 10000
        r = {n: 150000 + (inc[n] * 85) // 100 for n in nodes}
    assert out == r
    # d receives nothing: base rank at every iteration
    assert out["d"] == 150000
    # a sink-free cycle member outranks the dangling source
    assert out["c"] > out["a"] > out["d"]

    with _pt.raises(ValueError):
        pagerank(edges, iters=0)
    with _pt.raises(ValueError):
        pagerank(edges, damping_num=100)
    with _pt.raises(ValueError):
        pagerank(edges, scale=10**6 + 1)


def test_maxsim_topk_replay_and_pruning(spark):
    """MaxSim contract: (1) score equals a pure-python replay of the
    documented construction (per-query-token max cosine -> round4 scaled
    long -> per-query integer sum); (2) token-level matching beats
    single-vector pooling — a doc matching each query token exactly
    outranks a doc matching their mean; (3) per-batch local top-k
    pruning is lossless (16-partition run == 1-partition run); (4)
    validation."""
    import math

    import pytest as _pt

    from kadiyadb_spark.functions.similarity import maxsim_topk

    # query 0: two orthogonal tokens e0, e1
    qt = [(0, [1.0, 0.0, 0.0]), (0, [0.0, 1.0, 0.0])]
    # doc 10 matches each token exactly; doc 11 is the pooled mean
    # (cos ~0.707 per token); docs 12.. are noise
    dt = (
        [(10, [1.0, 0.0, 0.0]), (10, [0.0, 1.0, 0.0])]
        + [(11, [1.0, 1.0, 0.0]), (11, [1.0, 1.0, 0.0])]
        + [(12 + i, [0.1 * (i + 1), 0.2, 5.0]) for i in range(6)]
    )
    qdf = spark.createDataFrame(qt, "query_id long, embedding array<double>")
    ddf = spark.createDataFrame(dt, "doc_id long, embedding array<double>")

    got = maxsim_topk(ddf, qdf, k=3).collect()
    by_rank = {r["rank"]: (r["doc_id"], r["maxsim"]) for r in got}
    assert by_rank[1] == (10, 2.0)  # exact match on both tokens

    def replay():
        def cos(a, b):
            na = math.sqrt(sum(x * x for x in a))
            nb = math.sqrt(sum(x * x for x in b))
            return sum(x * y for x, y in zip(a, b)) / (na * nb)

        docs = {}
        for d, v in dt:
            docs.setdefault(d, []).append(v)
        s = {
            d: sum(
                math.floor(max(cos(q, v) for v in toks) * 10000 + 0.5)
                for _, q in qt
            )
            for d, toks in docs.items()
        }
        return sorted(s.items(), key=lambda kv: (-kv[1], kv[0]))[:3]

    assert [(d, s / 10000.0) for d, s in replay()] == [
        (r["doc_id"], r["maxsim"]) for r in sorted(got, key=lambda r: r["rank"])
    ]

    one = sorted(map(tuple, maxsim_topk(ddf.coalesce(1), qdf, k=3).collect()))
    many = sorted(map(tuple, maxsim_topk(ddf.repartition(16), qdf, k=3).collect()))
    assert one == many

    with _pt.raises(ValueError):
        maxsim_topk(ddf, qdf, k=0)
    with _pt.raises(ValueError):
        maxsim_topk(ddf, qdf.filter("query_id < 0"), k=3)


def test_cm_inner_product_join_size(spark):
    """CM join-size contract: the inner-product estimate equals a pure-
    python replay of min-over-rows bucket dots, never undercounts the
    true join size Σ_u fA(u)·fB(u), and is EXACT in the collision-free
    regime (few keys, wide rows)."""
    import hashlib

    from pyspark.sql import functions as F

    from kadiyadb_spark.functions.sketch import (
        cm_inner_product_expr,
        cm_sketch,
    )

    W, D = 64, 4
    rows = (
        [("a", 1)] * 5 + [("a", 2)] * 3 + [("a", 3)] * 2
        + [("b", 1)] * 4 + [("b", 3)] * 7 + [("b", 9)] * 1
    )
    df = spark.createDataFrame(rows, "g string, uid long")
    true_join = 5 * 4 + 2 * 7  # users 1 and 3 overlap
    sk = cm_sketch(df, "uid", ["g"], width=W, depth=D)
    a = sk.filter("g = 'a'").select(F.col("cm").alias("ca"))
    b = sk.filter("g = 'b'").select(F.col("cm").alias("cb"))
    est = (
        a.crossJoin(b)
        .select(cm_inner_product_expr(F.col("ca"), F.col("cb"), W, D).alias("e"))
        .collect()[0]["e"]
    )
    assert est >= true_join
    assert est == true_join  # 4 distinct keys in 64 buckets: no collisions

    # python replay of the full construction
    def sketch(counts):
        m = [0] * (W * D)
        for uid, n in counts.items():
            for j in range(D):
                bkt = int(hashlib.md5(f"cm{j}:{uid}".encode()).hexdigest()[:15], 16) % W
                m[j * W + bkt] += n
        return m
    ma = sketch({1: 5, 2: 3, 3: 2})
    mb = sketch({1: 4, 3: 7, 9: 1})
    replay = min(
        sum(ma[j * W + t] * mb[j * W + t] for t in range(W)) for j in range(D)
    )
    assert est == replay


def test_pagerank_rejects_nonpositive_weights(spark):
    from kadiyadb_spark.functions.graph import pagerank

    edges = spark.createDataFrame(
        [("a", "b", 1), ("a", "c", -1)], "src string, dst string, w long"
    )
    import pytest as _pt

    with _pt.raises(Exception, match="non-positive edge weight"):
        pagerank(edges, weight="w", iters=1).collect()


# --------------------------------------------------------------------------
# rrf_fuse / runtime Bloom filter / normalize_text / url parsing (r10 s3)
# --------------------------------------------------------------------------


def test_rrf_fuse_matches_python_replay(spark):
    from kadiyadb_spark.functions.text import rrf_fuse

    a = spark.createDataFrame(
        [(1, 1), (2, 2), (3, 3), (4, 4)], "doc_id long, rank long"
    )
    b = spark.createDataFrame(
        [(3, 1), (1, 2), (5, 3)], "doc_id long, rank long"
    )
    got = {
        r["doc_id"]: (r["n_sources"], r["rrf_micros"], r["rank"])
        for r in rrf_fuse([a, b], kconst=60).collect()
    }
    # python replay of the integer construction
    contrib = {}
    for ranking in ([(1, 1), (2, 2), (3, 3), (4, 4)], [(3, 1), (1, 2), (5, 3)]):
        for d, r in ranking:
            n, s = contrib.get(d, (0, 0))
            contrib[d] = (n + 1, s + 1_000_000 // (60 + r))
    order = sorted(contrib, key=lambda d: (-contrib[d][1], d))
    for rank, d in enumerate(order, 1):
        assert got[d] == (contrib[d][0], contrib[d][1], rank)
    # doc 3 (rank 3 + rank 1) beats doc 1 (rank 1 + rank 2)? replay decides —
    # but agreement count must be 2 for both, 1 for docs 2/4/5
    assert got[3][0] == 2 and got[1][0] == 2
    assert got[2][0] == got[4][0] == got[5][0] == 1


def test_rrf_fuse_tiebreak_and_topk(spark):
    from kadiyadb_spark.functions.text import rrf_fuse

    # identical ranks -> identical scores -> id-ascending tie-break
    a = spark.createDataFrame([(9, 1), (4, 1)], "doc_id long, rank long")
    rows = rrf_fuse([a], k=1).collect()
    assert len(rows) == 1 and rows[0]["doc_id"] == 4 and rows[0]["rank"] == 1
    import pytest as _pt

    with _pt.raises(ValueError):
        rrf_fuse([])
    with _pt.raises(ValueError):
        rrf_fuse([a], kconst=0)
    with _pt.raises(ValueError):
        rrf_fuse([a], k=0)


def test_bloom_words_match_python_replay_and_no_false_negatives(spark):
    import hashlib

    from kadiyadb_spark.functions.runtime_filter import bloom_build, bloom_probe

    m, k = 1 << 10, 3
    keys = [7, 13, 10_000_019, -42, 0]
    kdf = spark.createDataFrame([(x,) for x in keys], "k long")
    words = bloom_build(kdf, "k", m_bits=m, n_hashes=k).collect()[0]["bloom_words"]
    assert len(words) == m // 64
    exp = [0] * (m // 64)
    for x in keys:
        for i in range(k):
            h = hashlib.md5(f"{x}:{i}".encode()).hexdigest()[:15]
            pos = int(h, 16) % m
            exp[pos // 64] |= 1 << (pos % 64)
    # Spark longs are signed; fold the python words to signed 64-bit
    exp = [w - (1 << 64) if w >= (1 << 63) else w for w in exp]
    assert words == exp
    # no false negatives: every build key survives the probe
    probe = spark.createDataFrame(
        [(x,) for x in keys + list(range(100, 400))], "k long"
    )
    bloom = bloom_build(kdf, "k", m_bits=m, n_hashes=k)
    kept = {r["k"] for r in bloom_probe(probe, "k", bloom, m_bits=m, n_hashes=k).collect()}
    assert set(keys) <= kept
    # and the filter genuinely prunes (300 non-members, ~1.5% FP at this m/k)
    assert len(kept) < 50


def test_bloom_empty_build_and_validation(spark):
    import pytest as _pt

    from kadiyadb_spark.functions.runtime_filter import bloom_build, bloom_probe

    empty = spark.createDataFrame([], "k long")
    bloom = bloom_build(empty, "k", m_bits=256, n_hashes=2)
    probe = spark.createDataFrame([(1,), (2,)], "k long")
    assert bloom_probe(probe, "k", bloom, m_bits=256, n_hashes=2).count() == 0
    with _pt.raises(ValueError):
        bloom_build(empty, "k", m_bits=100)  # not a multiple of 64
    with _pt.raises(ValueError):
        bloom_build(empty, "k", n_hashes=0)


def test_bloom_probe_is_mapside_no_shuffle(spark):
    from kadiyadb_spark.functions.runtime_filter import bloom_build, bloom_probe

    kdf = spark.createDataFrame([(1,), (2,)], "k long")
    # materialize the bitset so the plan under test is the PROBE alone
    # (bloom_build's own bit_or groupBy legitimately exchanges)
    words = bloom_build(kdf, "k", m_bits=256, n_hashes=2).collect()[0]["bloom_words"]
    lit_bloom = spark.createDataFrame([(words,)], "bloom_words array<long>")
    probe = spark.createDataFrame([(i,) for i in range(64)], "k long")
    plan = (
        bloom_probe(probe, "k", lit_bloom, m_bits=256, n_hashes=2)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # the probe side must see no hash-partition Exchange: the bitset arrives
    # by broadcast and the filter is evaluated map-side
    assert "Exchange hashpartitioning" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_normalize_text_golden(spark):
    from kadiyadb_spark.functions.text import normalize_text

    rows = [
        (0, "a“b” ‘c’"),        # curly quotes -> ascii
        (1, "x—y–z…"),                 # dashes + ellipsis
        (2, "a b   c\td\r\ne"),                  # nbsp + runs collapse
        (3, "  lead\x07 bell\x00null trail  "),       # controls + trim
        (4, "plain"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in normalize_text(df).collect()}
    assert got[0]["text"] == "a\"b\" 'c'"
    assert got[1]["text"] == "x-y-z..."
    assert got[2]["text"] == "a b c d e"
    assert got[3]["text"] == "lead bellnull trail"
    assert got[4]["text"] == "plain"
    assert got[2]["n_chars_raw"] == len(rows[2][1])
    assert got[2]["n_chars_norm"] == len("a b c d e")


def test_url_components_golden(spark):
    from kadiyadb_spark.functions.web import url_components

    rows = [
        (0, "https://news.example.com/p/1?ref=rss"),
        (1, "http://localhost/x"),
        (2, "not a url"),
        (3, "ftp://a.b.co/"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string")
    got = {r["doc_id"]: r for r in url_components(df).collect()}
    assert got[0]["scheme"] == "https"
    assert got[0]["host"] == "news.example.com"
    assert got[0]["registrable_domain"] == "example.com"
    assert got[0]["path"] == "/p/1"
    assert got[0]["has_query"] == 1
    assert got[1]["registrable_domain"] == "localhost"  # single label
    assert got[1]["has_query"] == 0
    assert got[2]["scheme"] == "" and got[2]["host"] == ""
    assert got[3]["registrable_domain"] == "b.co"


def test_merge_apply_insert_update_delete(spark):
    from kadiyadb_spark.functions.cdc import merge_apply

    base = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)],
        "k long, name string, bal double",
    )
    changes = spark.createDataFrame(
        [
            (1, 100, "U", 11.0),   # stale update...
            (1, 101, "U", 12.0),   # ...latest wins
            (2, 200, "D", 0.0),    # delete
            (9, 300, "I", 99.0),   # brand-new key
            (8, 400, "D", 0.0),    # delete of absent key: no-op
        ],
        "k long, seq long, op string, bal double",
    )
    got = {r["k"]: (r["name"], r["bal"]) for r in merge_apply(base, changes, "k", "seq").collect()}
    assert got == {1: ("a", 12.0), 3: ("c", 30.0), 9: (None, 99.0)}


def test_merge_apply_unknown_op_fails_loudly(spark):
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    from kadiyadb_spark.functions.cdc import merge_apply

    base = spark.createDataFrame([(1, 1.0)], "k long, bal double")
    changes = spark.createDataFrame([(1, 10, "X", 2.0)], "k long, seq long, op string, bal double")
    import pytest as _pt

    with _pt.raises(Exception) as ei:
        merge_apply(base, changes, "k", "seq").collect()
    assert "unknown op" in str(ei.value)
    with _pt.raises(ValueError):
        merge_apply(base, changes, "k", "seq", set_cols=["nope"])


def test_merge_apply_latest_wins_is_seq_ordered_not_layout(spark):
    from kadiyadb_spark.functions.cdc import merge_apply

    base = spark.createDataFrame([(1, 0.0)], "k long, bal double")
    rows = [(1, s, "U", float(s)) for s in range(1, 50)]
    for parts in (1, 7):
        ch = spark.createDataFrame(rows, "k long, seq long, op string, bal double").repartition(parts)
        out = merge_apply(base, ch, "k", "seq").collect()
        assert out[0]["bal"] == 49.0


def test_histogram_fraction_golden_and_edges(spark):
    from kadiyadb_spark.query import histogram_fraction

    rows = [
        # group g1: 10 obs in (0,10], 10 in (10,20], 5 in +Inf
        ("g1", 10.0, 10), ("g1", 20.0, 10), ("g1", float("inf"), 5),
        # group g2: all mass in one bucket
        ("g2", 10.0, 4),
    ]
    df = spark.createDataFrame(rows, "g string, le double, cnt long")
    got = {r["g"]: r for r in histogram_fraction(df, 5.0, 15.0, ["g"]).collect()}
    # g1: (10-5)/10 * 10 + (15-10)/10 * 10 = 5 + 5 = 10 of 25 total
    assert got["g1"]["n_obs"] == 25
    assert got["g1"]["fraction"] == 0.4
    # g2: (10-5)/10 * 4 = 2 of 4
    assert got["g2"]["fraction"] == 0.5
    # full range [0, 20] covers everything finite: 20 of 25
    full = {r["g"]: r["fraction"] for r in histogram_fraction(df, 0.0, 20.0, ["g"]).collect()}
    assert full["g1"] == 0.8 and full["g2"] == 1.0
    import pytest as _pt

    with _pt.raises(ValueError):
        histogram_fraction(df, 5.0, 5.0, ["g"])
    with _pt.raises(ValueError):
        histogram_fraction(df, 0.0, float("inf"), ["g"])


def test_histogram_fraction_negative_first_bucket_point_mass(spark):
    """A FIRST bucket with a non-positive bound is a point mass at its
    bound — the fraction twin of histogram_quantile's 'return the bound'
    rule. Pre-fix the 0-coalesced lower made its width negative and its
    whole count silently contributed 0 while still inflating n_obs."""
    from kadiyadb_spark.query import histogram_fraction

    rows = [("g", -5.0, 10), ("g", 0.0, 0), ("g", float("inf"), 0),
            ("h", -5.0, 4), ("h", 2.0, 4)]
    df = spark.createDataFrame(rows, "g string, le double, cnt long")
    got = {r["g"]: r for r in histogram_fraction(df, -10.0, 0.0, ["g"]).collect()}
    # g: all 10 obs sit at the -5.0 point mass inside [-10, 0]
    assert got["g"]["n_obs"] == 10 and got["g"]["fraction"] == 1.0
    # h: 4 at -5.0 (in range) + bucket (-5,2] overlapping [-5,0] for
    # 5/7 of its 4 obs -> (4 + 4*5/7)/8
    assert got["h"]["fraction"] == round((4 + 4 * 5 / 7) / 8, 4)
    # point mass OUTSIDE the range contributes nothing
    out = {r["g"]: r for r in histogram_fraction(df, 1.0, 2.0, ["g"]).collect()}
    assert out["g"]["fraction"] == 0.0
    assert out["h"]["fraction"] == round((4 * 1 / 7) / 8, 4)


def test_histogram_fraction_disjoint_range_zero(spark):
    from kadiyadb_spark.query import histogram_fraction

    df = spark.createDataFrame([("g", 10.0, 7)], "g string, le double, cnt long")
    out = histogram_fraction(df, 100.0, 200.0, ["g"]).collect()
    assert out[0]["fraction"] == 0.0 and out[0]["n_obs"] == 7


def test_power_iteration_matches_numpy_direction(spark):
    import numpy as np

    from kadiyadb_spark.functions.similarity import power_iteration_top_pc

    rng = [(i, [((i * 31 + j * 17) % 19 - 9) / 10.0 for j in range(8)]) for i in range(40)]
    df = spark.createDataFrame(rng, "vec_id long, embedding array<double>")
    got = power_iteration_top_pc(df, iters=3).collect()
    w = np.array([r["pc4"] for r in sorted(got, key=lambda r: r["dim"])], dtype=np.float64) / 1e4
    # reference: numpy power iteration from the same all-ones start on the
    # quantized matrix (3 rounds) — directions agree to quantization error
    E = np.array([[np.floor(v * 1e4 + 0.5) for v in row] for _, row in rng])
    ref = np.ones(8)
    for _ in range(3):
        ref = E.T @ (E @ ref)
        ref = ref / np.linalg.norm(ref)
    cos = abs(float(w @ ref) / (np.linalg.norm(w) * np.linalg.norm(ref)))
    assert cos > 0.999, cos
    # unit norm at 4dp quantization
    assert abs(np.linalg.norm(w) - 1.0) < 1e-3
    import pytest as _pt

    with _pt.raises(ValueError):
        power_iteration_top_pc(df, iters=0)


def test_power_iteration_layout_invariant(spark):
    from kadiyadb_spark.functions.similarity import power_iteration_top_pc

    rows = [(i, [((i + j) % 7 - 3) / 4.0 for j in range(6)]) for i in range(30)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    a = sorted((r["dim"], r["pc4"]) for r in power_iteration_top_pc(df.repartition(1), iters=2).collect())
    b = sorted((r["dim"], r["pc4"]) for r in power_iteration_top_pc(df.repartition(7), iters=2).collect())
    assert a == b


def test_merge_asof_backward_forward_tolerance(spark):
    from kadiyadb_spark.functions.timeops import merge_asof

    left = spark.createDataFrame(
        [(1, 1, 100), (2, 1, 205), (3, 1, 500), (4, 2, 50)],
        "event_id long, u long, ts long",
    )
    right = spark.createDataFrame(
        [(1, 90, 9.0), (1, 200, 2.0), (1, 205, 5.0), (2, 60, 6.0)],
        "u long, ts long, val double",
    )
    back = {
        r["event_id"]: (r["val"], r["asof_ts"])
        for r in merge_asof(
            left, right, "ts", ["u"], ["val"], direction="backward",
            left_order_col="event_id",
        ).collect()
    }
    # 100 -> right@90; 205 -> the SIMULTANEOUS right@205; 500 -> right@205
    assert back[1] == (9.0, 90)
    assert back[2] == (5.0, 205)
    assert back[3] == (5.0, 205)
    assert back[4] == (None, None)  # no right row at/before 50
    fwd = {
        r["event_id"]: (r["val"], r["asof_ts"])
        for r in merge_asof(
            left, right, "ts", ["u"], ["val"], direction="forward",
            left_order_col="event_id",
        ).collect()
    }
    assert fwd[1] == (2.0, 200)
    assert fwd[2] == (5.0, 205)
    assert fwd[3] == (None, None)
    assert fwd[4] == (6.0, 60)
    # tolerance: nearest-or-null, never fall through to an older match
    tol = {
        r["event_id"]: (r["val"], r["asof_ts"])
        for r in merge_asof(
            left, right, "ts", ["u"], ["val"], tolerance=10,
            direction="backward", left_order_col="event_id",
        ).collect()
    }
    assert tol[1] == (9.0, 90)
    assert tol[3] == (None, None)  # nearest is 295 away: null, not right@90
    import pytest as _pt

    with _pt.raises(ValueError):
        merge_asof(left, right, "ts", ["u"], ["val"], direction="nearest")
    with _pt.raises(ValueError):
        merge_asof(left, right, "ts", ["u"], ["val"], tolerance=-1)
    with _pt.raises(ValueError):
        merge_asof(left, right.withColumnRenamed("val", "ts2"), "ts", ["u"], ["ts"])


def test_url_canonicalize_golden(spark):
    from kadiyadb_spark.functions.web import url_canonicalize

    rows = [
        (0, "HTTPS://News.Example.com/p/1?utm_source=x&id=7"),
        (1, "https://news.example.com/p/1/?id=7&utm_medium=y"),
        (2, "https://news.example.com/p/1?id=7"),
        (3, "https://news.example.com/p/1?b=2&a=1"),
        (4, "https://host.com/"),
        (5, "not a url"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string")
    got = {r["doc_id"]: r["canonical_url"] for r in url_canonicalize(df).collect()}
    # 0, 1, 2 collapse to one canonical form
    assert got[0] == got[1] == got[2] == "https://news.example.com/p/1?id=7"
    assert got[3] == "https://news.example.com/p/1?a=1&b=2"  # params sorted
    assert got[4] == "https://host.com/"  # root slash preserved
    assert got[5] == "not a url"  # unparseable: lowercased passthrough


def test_k_anonymity_flags_and_validation(spark):
    from kadiyadb_spark.functions.privacy import k_anonymity

    rows = [(i, "A" if i < 5 else "B", "x") for i in range(7)]
    df = spark.createDataFrame(rows, "id long, nat string, seg string")
    got = {r["id"]: (r["k_group_size"], r["suppressed"]) for r in k_anonymity(df, ["nat", "seg"], k=3).collect()}
    for i in range(5):
        assert got[i] == (5, 0)
    for i in (5, 6):
        assert got[i] == (2, 1)
    import pytest as _pt

    with _pt.raises(ValueError):
        k_anonymity(df, [], 3)
    with _pt.raises(ValueError):
        k_anonymity(df, ["nat"], 0)


def test_triangle_count_golden_and_normalization(spark):
    from kadiyadb_spark.functions.graph import triangle_count

    # K4 on {1,2,3,4}: every node is in C(3,2)=3 triangles; edges fed as a
    # noisy multigraph (duplicates, reversed direction, a self-loop)
    edges = [(1, 2), (2, 1), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (3, 3), (1, 2)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node"]: r["n_triangles"] for r in triangle_count(df).collect()}
    assert got == {1: 3, 2: 3, 3: 3, 4: 3}
    # a path graph has no triangles -> empty result
    path = spark.createDataFrame([(1, 2), (2, 3), (3, 4)], "src long, dst long")
    assert triangle_count(path).count() == 0


def test_triangle_count_matches_bruteforce(spark):
    import itertools

    from kadiyadb_spark.functions.graph import triangle_count

    # deterministic pseudo-random graph on 12 nodes
    edges = [(i, (i * 5 + j) % 12) for i in range(12) for j in (1, 2, 4)]
    und = {(min(a, b), max(a, b)) for a, b in edges if a != b}
    expect = {}
    for a, b, c in itertools.combinations(range(12), 3):
        if {(a, b), (a, c), (b, c)} <= und:
            for n in (a, b, c):
                expect[n] = expect.get(n, 0) + 1
    df = spark.createDataFrame(list(edges), "src long, dst long")
    got = {r["node"]: r["n_triangles"] for r in triangle_count(df).collect()}
    assert got == expect


def test_pseudonymize_deterministic_joinable_and_nulls(spark):
    import hashlib

    from kadiyadb_spark.functions.privacy import pseudonymize

    df = spark.createDataFrame([(7, "a"), (7, "b"), (None, "c")], "uid long, x string")
    out = pseudonymize(df, ["uid"], salt="s1").collect()
    toks = {r["x"]: r["uid"] for r in out}
    exp = hashlib.md5(b"s1:7").hexdigest()[:16]
    assert toks["a"] == toks["b"] == exp  # same id + salt -> same token (joinable)
    assert toks["c"] is None              # nulls stay null
    # different salt breaks linkage
    out2 = {r["x"]: r["uid"] for r in pseudonymize(df, ["uid"], salt="s2").collect()}
    assert out2["a"] != exp
    import pytest as _pt

    with _pt.raises(ValueError):
        pseudonymize(df, [], "s")
    with _pt.raises(ValueError):
        pseudonymize(df, ["uid"], "")
    with _pt.raises(ValueError):
        pseudonymize(df, ["uid"], "s", token_len=2)


def test_url_components_strips_userinfo_port_and_fragment_query(spark):
    """r10 ADVICE: authority userinfo/port must not split census keys, and
    a '?' living only in the fragment is not a query."""
    from kadiyadb_spark.functions.web import url_components

    rows = [
        (0, "https://user@example.com:8080/x"),
        (1, "https://user:pw@sub.example.com/x?q=1"),
        (2, "https://example.com/p#sec?x=1"),
        (3, "https://example.com/p?a=1#frag"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string")
    got = {r["doc_id"]: r for r in url_components(df).collect()}
    assert got[0]["host"] == "example.com"
    assert got[0]["registrable_domain"] == "example.com"
    assert got[1]["host"] == "sub.example.com"
    assert got[1]["registrable_domain"] == "example.com"
    assert got[1]["has_query"] == 1
    assert got[2]["has_query"] == 0  # '?' only inside the fragment
    assert got[3]["has_query"] == 1


def test_url_canonicalize_fragment_query_and_port_identity(spark):
    """Fragment text must not leak into canonical params; host:port is
    canonical identity (a different port is a different resource)."""
    from kadiyadb_spark.functions.web import url_canonicalize

    rows = [
        (0, "https://h.com/p#sec?utm_source=x"),
        (1, "https://h.com/p"),
        (2, "https://h.com:8080/p"),
        (3, "https://h.com/p?a=1#frag?b=2"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string")
    got = {r["doc_id"]: r["canonical_url"] for r in url_canonicalize(df).collect()}
    assert got[0] == "https://h.com/p"          # fragment-? leaked no params
    assert got[0] == got[1]
    assert got[2] == "https://h.com:8080/p"     # port preserved
    assert got[3] == "https://h.com/p?a=1"      # only the real query survives


def test_triangle_count_native_string_node_ids(spark):
    """r10 ADVICE: non-numeric node ids must count, not silently empty the
    result via a lossy cast."""
    from kadiyadb_spark.functions.graph import triangle_count

    edges = [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d")]
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {r["node"]: r["n_triangles"] for r in triangle_count(df).collect()}
    assert got == {"a": 1, "b": 1, "c": 1}
    assert triangle_count(df).schema["node"].dataType.typeName() == "string"


def test_merge_asof_reserved_name_collision_raises(spark):
    """r10 ADVICE: a left frame already carrying _side/_asof_ts/asof_ts or
    _m_<col> must be rejected loudly, not silently overwritten."""
    import pytest as _pt

    from kadiyadb_spark.functions.timeops import merge_asof

    left = spark.createDataFrame([(1, 10)], "u long, ts long")
    right = spark.createDataFrame([(1, 9, 5.0)], "u long, ts long, val double")
    for bad in ("_side", "asof_ts", "_asof_ts", "_m_val"):
        with _pt.raises(ValueError, match="reserved"):
            merge_asof(
                left.withColumn(bad, F.lit(1)), right, "ts", ["u"], ["val"]
            )
    # clean inputs still work
    assert merge_asof(left, right, "ts", ["u"], ["val"]).count() == 1


def test_re_pattern_set_class_warning_free():
    """VERDICT r10 item 6: a '[..&&..]' class (Java set-intersection
    syntax, refused by segment pruning but legal for rlike) must not leak
    Python's FutureWarning into the suite — the Python compile is a syntax
    fail-fast only."""
    import warnings

    from kadiyadb_spark.query import Re

    with warnings.catch_warnings():
        warnings.simplefilter("error", FutureWarning)
        Re("cl[ab&&cd]x.*")  # would raise FutureWarning without the filter
    import pytest as _pt

    with _pt.raises(ValueError):
        Re("(unclosed")


def test_registrable_domain_psl_subset_expr(spark):
    """PSL fallback path (psl=None): co.uk-class hosts resolve to
    label.co.uk via the vendored two-label subset expression; unknown TLDs
    keep last-two-labels; single labels are their own domain. (The DEFAULT
    is the full-snapshot join path since r12 — covered below and by
    test_url_components_default_snapshot_path.)"""
    from kadiyadb_spark.functions.web import url_components

    rows = [
        (0, "https://shop.example.co.uk/x"),
        (1, "https://a.b.example.com.au/x"),
        (2, "https://example.co.uk/x"),       # exactly label+suffix
        (3, "https://co.uk/x"),               # bare public suffix
        (4, "https://deep.sub.example.com/x"),
        (5, "https://localhost/x"),
        (6, "https://foo.unknowntld/x"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string")
    got = {r["doc_id"]: r["registrable_domain"]
           for r in url_components(df, psl=None).collect()}
    # the default snapshot path must agree on every two-label-subset shape
    # (strict monotone upgrade)
    got_default = {r["doc_id"]: r["registrable_domain"]
                   for r in url_components(df).collect()}
    assert got_default == got
    assert got[0] == "example.co.uk"
    assert got[1] == "example.com.au"
    assert got[2] == "example.co.uk"
    assert got[3] == "co.uk"          # n<3: falls back to the suffix itself
    assert got[4] == "example.com"
    assert got[5] == "localhost"
    assert got[6] == "foo.unknowntld"


def test_url_components_default_snapshot_path(spark):
    """The DEFAULT registrable-domain resolution is the vendored
    full-snapshot PSL join path (r12, VERDICT r11 item 4): three-label
    registrables, wildcard and exception rules resolve without the caller
    opting in."""
    from kadiyadb_spark.functions.web import url_components

    rows = [
        (0, "https://www.pref.aichi.jp/x"),    # jp prefecture: 3-label reg
        (1, "https://www.city.nagoya.jp/x"),   # !city.nagoya.jp exception
        (2, "https://ward.w.nagoya.jp/x"),     # *.nagoya.jp wildcard
        (3, "https://www.k12.ca.us/x"),        # k12.<state>.us registry
        (4, "https://x.myschool.sch.uk/x"),    # *.sch.uk wildcard
        (5, "https://foo.bar.ck/x"),           # *.ck wildcard
        (6, "https://www.ck/x"),               # !www.ck exception
        (7, "https://shop.example.co.uk/x"),   # two-label subset carries
        (8, "https://deep.sub.example.com/x"), # default rule
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string")
    got = {r["doc_id"]: r["registrable_domain"] for r in url_components(df).collect()}
    assert got[0] == "pref.aichi.jp"
    assert got[1] == "city.nagoya.jp"
    assert got[2] == "ward.w.nagoya.jp"
    assert got[3] == "www.k12.ca.us"
    assert got[4] == "x.myschool.sch.uk"
    assert got[5] == "foo.bar.ck"
    assert got[6] == "www.ck"
    assert got[7] == "example.co.uk"
    assert got[8] == "example.com"
    import pytest as _pt

    # output names are reserved in both paths (code-review r12): a kept
    # 'host' input column used to crash the join path with an
    # AMBIGUOUS_REFERENCE at plan time
    clash = df.withColumnRenamed("doc_id", "host")
    for psl_arg in (None, "default"):
        with _pt.raises(ValueError, match="collide"):
            url_components(clash, psl=psl_arg)
    # only the sentinel string is accepted — a snapshot PATH must be loaded
    # through psl_table, not passed as a string
    with _pt.raises(ValueError, match="psl_table"):
        url_components(df, psl="/tmp/public_suffix_list.dat")


def test_registrable_domain_psl_full_join_path(spark):
    """Full-snapshot path: exact, wildcard and exception rules per the PSL
    algorithm, resolved via broadcast joins only (plan asserted)."""
    from kadiyadb_spark.functions.psl import psl_table, registrable_domain_psl

    psl = psl_table(spark, [
        "// comment line", "", "com", "co.uk", "*.ck", "!www.ck", "uk",
    ])
    rows = [
        (0, "shop.example.co.uk"),
        (1, "example.com"),
        (2, "a.b.example.com"),
        (3, "foo.bar.ck"),       # *.ck: bar.ck is public -> foo.bar.ck
        (4, "www.ck"),           # exception: www.ck itself registrable
        (5, "sub.www.ck"),       # under the exception name
        (6, "nomatch.zz"),       # PSL default rule: last two labels
        (7, "single"),
    ]
    df = spark.createDataFrame(rows, "id long, host string")
    out = registrable_domain_psl(df, "host", psl)
    got = {r["id"]: r["registrable_domain"] for r in out.collect()}
    assert got[0] == "example.co.uk"
    assert got[1] == "example.com"
    assert got[2] == "example.com"
    assert got[3] == "foo.bar.ck"
    assert got[4] == "www.ck"
    assert got[5] == "www.ck"
    assert got[6] == "nomatch.zz"
    assert got[7] == "single"
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan and "Exchange hashpartitioning" not in plan
    import pytest as _pt

    with _pt.raises(ValueError):
        registrable_domain_psl(df, "host", psl, max_depth=0)
    with _pt.raises(ValueError):
        registrable_domain_psl(
            df.withColumn("registrable_domain", F.lit("x")), "host", psl
        )
    # the FULL scratch family is reserved (ADVICE r11): an input column
    # like _hit2 / _w3 / _whit4 must raise, not silently vanish or corrupt
    # the join bookkeeping
    for scratch in ("_hit2", "_w3", "_whit4", "_exc1", "_sfx2"):
        with _pt.raises(ValueError, match="reserved"):
            registrable_domain_psl(
                df.withColumn(scratch, F.lit("x")), "host", psl
            )
    # but a merely LOOK-ALIKE prefixed column outside the family survives
    # untouched (the old cleanup prefix-swept anything starting _w/_sfx/...)
    kept = registrable_domain_psl(
        df.withColumn("_weight", F.lit(1.5)), "host", psl
    )
    assert "_weight" in kept.columns
    with _pt.raises(ValueError):
        psl_table(spark, ["// only comments"])


def test_kmeans_lloyd_matches_bruteforce(spark):
    """Exact quantized Lloyd vs an independent numpy replay (same
    quantization, same tie rule) on a deterministic blob mixture."""
    import numpy as np

    from kadiyadb_spark.functions.cluster import kmeans_lloyd

    rng = [(i, [float((i * 7 + j * 3) % 11) / 11.0 + (i % 3) * 5.0
                for j in range(8)]) for i in range(60)]
    df = spark.createDataFrame(rng, "vec_id long, embedding array<double>")
    got = {r["cluster_id"]: (r["n_vecs"], r["inertia"])
           for r in kmeans_lloyd(df, k=3, iters=2).collect()}

    X = np.array([v for _, v in rng], dtype=np.float64)
    C = X[:3].copy()
    def dq(X, C):
        t = np.floor((X[:, None, :] - C[None, :, :]) ** 2 * 1e8 + 0.5)
        return t.sum(axis=2)
    for _ in range(2):
        a = dq(X, C).argmin(axis=1)  # argmin = first min = lowest cid
        for c in range(3):
            m = X[a == c]
            if len(m):
                s = np.floor(m * 1e6 + 0.5).sum(axis=0)
                C[c] = s / (1e6 * len(m))
    d = dq(X, C)
    a = d.argmin(axis=1)
    exp = {}
    for c in range(3):
        m = a == c
        if m.any():
            exp[c] = (int(m.sum()),
                      float(np.floor(d[m, c].sum() / 1e4 + 0.5) / 1e4))
    assert got == exp
    import pytest as _pt

    with _pt.raises(ValueError):
        kmeans_lloyd(df, k=0)
    with _pt.raises(ValueError):
        kmeans_lloyd(df.limit(2), k=3)


def test_semdedup_prune_golden(spark):
    """SemDeDup keep-lowest-id within clusters: two tight duplicate
    groups in opposite orthants + one singleton — the duplicates drop to
    their lowest id, cross-cluster near-parallels are never scored."""
    from kadiyadb_spark.functions.cluster import lloyd_centroids, semdedup_prune

    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.999, 0.001, 0.0, 0.0]),   # dup of 0 (cos ~ 1)
        (2, [0.998, -0.002, 0.0, 0.0]),  # dup of 0
        (3, [0.0, 0.0, 1.0, 0.0]),
        (4, [0.0, 0.0, 0.997, 0.003]),   # dup of 3
        (5, [0.0, 1.0, 0.0, 0.0]),       # singleton direction
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {r["vec_id"]: r["kept"]
           for r in semdedup_prune(df, k=3, iters=2, threshold=0.95).collect()}
    assert got == {0: 1, 1: 0, 2: 0, 3: 1, 4: 0, 5: 1}
    # lloyd_centroids exposes the same recursion as the frame ivf paths eat
    cents = lloyd_centroids(df, k=3, iters=2)
    assert cents.columns == ["centroid_id", "centroid_vec"]
    assert cents.count() == 3
    import pytest as _pt

    with _pt.raises(ValueError):
        semdedup_prune(df, threshold=1.5)
    # zero-norm guard: two identical all-zero vectors are BOTH kept
    # (cosine 0 against everything, never NaN-exempted silently)
    zdf = spark.createDataFrame(
        rows + [(6, [0.0, 0.0, 0.0, 0.0]), (7, [0.0, 0.0, 0.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    zgot = {r["vec_id"]: r["kept"]
            for r in semdedup_prune(zdf, k=3, iters=2, threshold=0.95).collect()}
    assert zgot[6] == 1 and zgot[7] == 1


def test_luhn_known_numbers(spark):
    """Real Luhn test vectors pin the fold's semantics."""
    from kadiyadb_spark.functions.privacy import luhn_valid_expr

    rows = [
        (0, "4111111111111111", 1),   # classic Visa test number
        (1, "4242424242424242", 1),   # Stripe test number
        (2, "79927398713", 1),        # the canonical Luhn example
        (3, "79927398710", 0),
        (4, "1234567890123456", 0),
        (5, "", 0),
    ]
    df = spark.createDataFrame([(i, s) for i, s, _ in rows], "id long, digits string")
    got = {r["id"]: r["v"] for r in df.select("id", luhn_valid_expr(F.col("digits")).alias("v")).collect()}
    assert got == {i: v for i, _, v in rows}


def test_luhn_audit_golden(spark):
    from kadiyadb_spark.functions.privacy import luhn_audit

    rows = [
        (0, "a", "pay 4111111111111111 now"),   # valid
        (1, "a", "ref 1234567890123456 x"),     # candidate, invalid
        (2, "a", "no digits"),
        (3, "b", "num 79927398713 short ok"),   # 11 digits: NOT a candidate
        # first run is an invalid order id, SECOND is a valid card — the
        # r11 first-candidate-only bug counted this doc invalid (VERDICT
        # r11 item 3); all-runs scanning must flag it as a real leak.
        (4, "c", "order 1234567890123456 card 4242424242424242 end"),
        # 24-digit tracking run: maximal-run boundary semantics exclude it
        # entirely — truncating regexes would count its 19-digit prefix as
        # a candidate (ADVICE r11).
        (5, "c", "track 123456789012345678901234 ok"),
        # a valid card embedded in a longer digit run is NOT a candidate
        # (no digit boundary): 4111111111111111 + trailing 99 = 18-digit
        # run that fails Luhn.
        (6, "d", "blob 411111111111111199 x"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    got = {r["source"]: (r["n_docs"], r["n_candidates"], r["n_luhn_valid"], r["n_luhn_invalid"])
           for r in luhn_audit(df, group_cols=["source"]).collect()}
    assert got["a"] == (3, 2, 1, 1)
    assert got["b"] == (1, 0, 0, 0)
    assert got["c"] == (2, 1, 1, 0)
    assert got["d"] == (1, 1, 0, 1)


def test_series_clamp_golden(spark):
    from kadiyadb_spark.query import series_clamp

    df = spark.createDataFrame(
        [("s", 0, 1.0), ("s", 60, 25.0), ("s", 120, 99.0)],
        "f1 string, bucket long, total double",
    )
    got = {r["bucket"]: (r["clamped"], r["clamped_low"], r["clamped_high"])
           for r in series_clamp(df, ["f1"], lo=2.0, hi=50.0).collect()}
    assert got[0] == (2.0, 1, 0)
    assert got[60] == (25.0, 0, 0)
    assert got[120] == (50.0, 0, 1)
    # one-sided forms
    lo_only = {r["bucket"]: r["clamped"] for r in series_clamp(df, ["f1"], lo=10.0).collect()}
    assert lo_only == {0: 10.0, 60: 25.0, 120: 99.0}
    # crossed bounds -> empty (PromQL clamp semantics)
    assert series_clamp(df, ["f1"], lo=9.0, hi=1.0).count() == 0
    import pytest as _pt

    with _pt.raises(ValueError):
        series_clamp(df, ["f1"])


def test_dq_expect_golden(spark):
    from kadiyadb_spark.functions.dq import expect, expect_ref

    df = spark.createDataFrame(
        [(1, 10.0), (2, -1.0), (None, 5.0), (4, None)],
        "k long, v double",
    )
    out = {r["check"]: (r["n_violations"], r["n_rows"], r["violation_rate"])
           for r in expect(df, {
               "k_not_null": F.col("k").isNotNull(),
               "v_positive": F.col("v") > 0,   # NULL v counts as violation
           }).collect()}
    assert out["k_not_null"] == (1, 4, 0.25)
    assert out["v_positive"] == (2, 4, 0.5)
    dim = spark.createDataFrame([(1,), (2,)], "d long")
    ri = expect_ref(df, "k", dim, "d").collect()[0]
    assert (ri["check"], ri["n_violations"], ri["n_rows"]) == ("k_in_d", 1, 4)
    import pytest as _pt

    with _pt.raises(ValueError):
        expect(df, {})


def test_text_degenerate_doc_rules_r13(spark):
    """r13 review closures across the text family on degenerate docs:
    (1) hashed_bow emits the promised ZERO vector for token-less docs
    (they vanished; score_quality then returned no verdict), and
    score_quality covers every doc; (2) winnow_fingerprint cycle-pads a
    doc with fewer distinct window hashes than num_mins (NULL mins never
    joined, and ANSI element_at raised); (3) script_census labels
    null-text and letter-less docs 'none' (was 'cjk'/'latin');
    (4) hashed_bow/score_quality/bloom_decontaminate accept non-long
    ids (schemas hardcoded 'long')."""
    from kadiyadb_spark.functions import text as TX
    from kadiyadb_spark.functions.quality_model import score_quality

    docs = spark.createDataFrame(
        [Row(doc_id=1, text="real words here"), Row(doc_id=2, text="   "),
         Row(doc_id=3, text=None)]
    )
    bow = {r.doc_id: list(r.embedding) for r in TX.hashed_bow(docs, dim=8).collect()}
    assert set(bow) == {1, 2, 3}
    assert bow[2] == [0.0] * 8 and bow[3] == [0.0] * 8
    model = {"weights": [0.5] * 8, "bias": -1.0, "dim": 8}
    verdicts = {r.doc_id: r.quality_pass for r in score_quality(docs, model).collect()}
    assert set(verdicts) == {1, 2, 3} and verdicts[2] is False

    fp = TX.winnow_fingerprint(
        spark.createDataFrame([Row(doc_id=1, text="aaaaaaaaaaaa")]), k=8, num_mins=4
    ).collect()[0]
    mins = [fp.min0, fp.min1, fp.min2, fp.min3]
    assert all(m is not None for m in mins)
    assert len(set(mins)) < 4  # cycled padding repeats the available hashes

    cen = {r.dominant_script: r.n_docs for r in TX.script_census(
        spark.createDataFrame(
            [Row(doc_id=1, text="hello world"), Row(doc_id=2, text="12345 !!"),
             Row(doc_id=3, text=None)]
        )
    ).collect()}
    assert cen == {"latin": 1, "none": 2}

    sdocs = spark.createDataFrame([Row(doc_id="u-1", text="alpha beta gamma")])
    sbow = TX.hashed_bow(sdocs, dim=8).collect()
    assert sbow[0].doc_id == "u-1"
    bench = spark.createDataFrame([Row(doc_id="b", text="alpha beta gamma delta eps")])
    out = TX.bloom_decontaminate(sdocs, bench, n=3)
    assert out.schema["doc_id"].dataType.simpleString() == "string"


def test_script_census_golden(spark):
    from kadiyadb_spark.functions.text import script_census

    rows = [
        (0, "hello world 42"),
        (1, "привет ab"),      # cyrillic dominant
        (2, "λόγος"),                # greek
        (3, "中文字中"),                      # cjk
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["dominant_script"]: (r["n_docs"], r["n_latin"], r["n_cyrillic"],
                                  r["n_greek"], r["n_cjk"], r["n_digit"])
           for r in script_census(df).collect()}
    assert got["latin"] == (1, 10, 0, 0, 0, 2)
    assert got["cyrillic"] == (1, 2, 6, 0, 0, 0)
    assert got["greek"] == (1, 0, 0, 5, 0, 0)
    assert got["cjk"] == (1, 0, 0, 0, 4, 0)


def test_snapshot_diff_golden_and_null_transitions(spark):
    from kadiyadb_spark.functions.cdc import snapshot_diff

    old = spark.createDataFrame(
        [(1, 10.0, "a"), (2, 20.0, "b"), (3, None, "c"), (4, 40.0, "d")],
        "k long, v double, s string",
    )
    new = spark.createDataFrame(
        [(1, 10.0, "a"),      # unchanged -> absent from the diff
         (2, 21.0, "b"),      # changed value
         (3, 30.0, "c"),      # NULL -> value registers as changed
         (5, 50.0, "e")],     # added; 4 removed
        "k long, v double, s string",
    )
    got = {r["k"]: (r["change"], r["old_v"], r["new_v"])
           for r in snapshot_diff(old, new, ["k"]).collect()}
    assert got == {
        2: ("changed", 20.0, 21.0),
        3: ("changed", None, 30.0),
        4: ("removed", 40.0, None),
        5: ("added", None, 50.0),
    }
    import pytest as _pt

    with _pt.raises(ValueError):
        snapshot_diff(old, new, [])
    with _pt.raises(ValueError):
        snapshot_diff(old, new, ["k"], ["nope"])


def test_series_backtest_golden(spark):
    from kadiyadb_spark.query import series_backtest

    vals = [1.0, 2.0, 3.0, 1.0, 2.0, 3.0, 1.0, 2.0, 4.0]
    rows = [("s", i, v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "f1 string, bucket long, total double")
    (r,) = series_backtest(df, ["f1"], period_slots=3).collect()
    # evals at t=3..8 (both lags defined): naive errs |y_t - y_{t-1}| =
    # 2,1,1,2,1,2 -> sum 9; seasonal errs |y_t - y_{t-3}| = 0,0,0,0,0,1 -> 1
    assert r["n_evals"] == 6
    assert r["mae_naive"] == 1.5
    assert r["mae_seasonal"] == 0.1667  # floor(10000/6 + 0.5)/1e4
    assert r["best_model"] == "seasonal_naive"
    import pytest as _pt

    with _pt.raises(ValueError):
        series_backtest(df, ["f1"], period_slots=1)
    # a series too short for the period is a DIAGNOSTIC row, not a silent
    # drop (VERDICT r11 item 5 — the 0-row mode that bit the first draft):
    # series "t" has 2 rows < period_slots=3 -> zero eval slots.
    short = df.union(
        spark.createDataFrame(
            [("t", 0, 5.0), ("t", 1, 6.0)], "f1 string, bucket long, total double"
        )
    )
    got = {r["f1"]: r for r in series_backtest(short, ["f1"], period_slots=3).collect()}
    assert set(got) == {"s", "t"}
    assert got["s"]["best_model"] == "seasonal_naive"
    t = got["t"]
    assert (t["n_evals"], t["mae_naive"], t["mae_seasonal"], t["best_model"]) == (
        0, None, None, "insufficient_history",
    )


def test_dq_expect_rejects_non_identifier_check_names(spark):
    from kadiyadb_spark.functions.dq import expect

    df = spark.createDataFrame([(1,)], "k long")
    import pytest as _pt

    for bad in ("has space", "quo'te", "back`tick", "1leading", ""):
        with _pt.raises(ValueError):
            expect(df, {bad: F.col("k").isNotNull()})
    for reserved in ("check", "n_rows", "_n"):
        with _pt.raises(ValueError):
            expect(df, {reserved: F.col("k").isNotNull()})


def test_ts_range_pred_date_and_string_sources(spark):
    """code-review r12: DATE gets exact day-literal pushdown bounds and
    ISO strings degrade to a correct (non-pushdown) converted predicate —
    both were hard TypeErrors on source types ts_ns_expr ingests."""
    import datetime

    from kadiyadb_spark.schema import ts_range_pred

    DAY = 86_400 * 10**9
    ddf = spark.createDataFrame(
        [(0, datetime.date(1970, 1, 1)), (1, datetime.date(1970, 1, 2)),
         (2, datetime.date(1970, 1, 3))],
        "id long, ts date",
    )
    pred = ts_range_pred(ddf.schema["ts"].dataType, "ts", DAY, 3 * DAY)
    assert {r["id"] for r in ddf.filter(pred).collect()} == {1, 2}
    # mid-day lower bound: day 0 excluded (its midnight < lo), day 1 in
    pred2 = ts_range_pred(ddf.schema["ts"].dataType, "ts", DAY // 2, None)
    assert {r["id"] for r in ddf.filter(pred2).collect()} == {1, 2}
    sdf = spark.createDataFrame(
        [(0, "1970-01-01T00:00:00"), (1, "1970-01-02T00:00:00")],
        "id long, ts string",
    )
    spred = ts_range_pred(sdf.schema["ts"].dataType, "ts", DAY, None)
    assert {r["id"] for r in sdf.filter(spred).collect()} == {1}

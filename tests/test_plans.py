"""Physical-plan regression tests: the scale properties this engine claims
(pushdown reaching scans, minimal shuffles, broadcast verification, map-side
ANN) are asserted on the PLAN, not just timed — a regression that keeps
results correct but reintroduces a shuffle fails here.
"""

import contextlib
import io
import re

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from kadiyadb_spark.catalog import Params
from kadiyadb_spark.database import Database
from kadiyadb_spark.functions import dedup as D
from kadiyadb_spark.functions import similarity as SIM
from kadiyadb_spark.ingest import track_batch


def plan_str(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def n_shuffles(plan: str) -> int:
    """Shuffle Exchange node count (formatted explain lists each node once in
    the tree and once as a numbered detail header; count the headers —
    BroadcastExchange deliberately excluded)."""
    return len(re.findall(r"\(\d+\) Exchange\b", plan))


def n_broadcast_joins(plan: str) -> int:
    return len(re.findall(r"\(\d+\) BroadcastHashJoin\b", plan))


def test_track_batch_is_one_shuffle(spark):
    ev = spark.createDataFrame([Row(ts=i, x="a", y="b", v=1.0) for i in range(10)])
    plan = plan_str(track_batch(ev, fields=["x", "y"], ts_col="ts", total_col="v", resolution=1, duration=5))
    assert n_shuffles(plan) == 1  # the cube-key groupBy, nothing else


def test_fetch_prunes_partitions_and_pushes_filters(spark, tmp_path, monkeypatch):
    # a byte bound of 0 keeps this small read on the Spark plan pinned here
    monkeypatch.setattr("kadiyadb_spark.database._DRIVER_READ_MAX_BYTES", 0)
    db = Database.open(spark, str(tmp_path / "db"), Params(duration=5, resolution=1, retention=10, fields=("x", "y")))
    db.track(
        spark.createDataFrame([Row(ts=t, x="a", y="b", v=1.0) for t in (0, 7)]),
        total_col="v",
    )
    fetched = db.fetch(0, 3, ["a", "b"], densify=False)
    # epoch pruning happens at the MANIFEST level, before Spark plans: only
    # in-range segment directories reach the scan at all...
    files = fetched.inputFiles()
    assert files and all("epoch_p=0" in f for f in files)
    # ...and epoch/bucket/dimension predicates must reach the parquet reader
    # (epoch is a data column with one value per file -> row-group skipping)
    plan = plan_str(fetched)
    pushed = plan.split("PushedFilters", 1)[1].split("\n", 1)[0]
    assert "epoch" in pushed and "bucket" in pushed and "f1" in pushed


def test_densified_fetch_folds_and_densifies_over_one_exchange(spark, tmp_path, monkeypatch):
    """Database.fetch clusters the scan on the densify keys (epoch, f1..fd)
    before the segment fold, so the fold groupBy and the densify groupBy
    share ONE Exchange; the pushed filters still reach the scan, and the
    fold still sums every segment of the epoch."""
    # a byte bound of 0 keeps this small read on the Spark plan pinned here
    monkeypatch.setattr("kadiyadb_spark.database._DRIVER_READ_MAX_BYTES", 0)
    db = Database.open(spark, str(tmp_path / "db"), Params(duration=5, resolution=1, retention=10, fields=("x", "y")))
    for v in (1.0, 2.0):
        db.track(
            spark.createDataFrame([Row(ts=t, x="a", y="b", v=v) for t in (0, 3)]),
            total_col="v",
        )
    assert len(db._manifest()["segments"][0]) == 2
    fetched = db.fetch(0, 5, ["a", "b"])
    plan = plan_str(fetched)
    assert n_shuffles(plan) == 1
    pushed = plan.split("PushedFilters", 1)[1].split("\n", 1)[0]
    assert "epoch" in pushed and "bucket" in pushed and "f1" in pushed
    got = {r["bucket"]: (r["total"], r["cnt"]) for r in fetched.collect()}
    assert got == {0: (3.0, 2.0), 1: (0.0, 0.0), 2: (0.0, 0.0), 3: (3.0, 2.0), 4: (0.0, 0.0)}


def test_jaccard_verify_broadcasts_candidates(spark):
    """r13 shape: BOTH shingle lookups are map-side broadcast joins of the
    BARE (id_a, id_b) pair list (the broadcast never carries shingle
    arrays — the old pairs-with-sh_a broadcast re-entered the driver
    collect blowup), and the arrays meet in exactly ONE pair-keyed
    shuffle join bounded by |candidates|."""
    docs = spark.createDataFrame([Row(doc_id=i, text=f"doc number {i} " * 10) for i in range(20)])
    pairs = spark.createDataFrame([Row(id_a=0, id_b=1), Row(id_a=2, id_b=3)])
    plan = plan_str(D.jaccard_pairs(docs, pairs))
    # the corpus-scale shingle table streams map-side on both lookups
    assert n_broadcast_joins(plan) == 2
    # one join remains for the pair-keyed array meet (shuffle, not
    # broadcast — it carries the arrays; SMJ or shuffled-hash both fine)
    assert plan.count("Join") >= 3


def test_ivf_topk_single_shuffle(spark):
    emb = spark.createDataFrame([Row(vec_id=i, embedding=[float(i % 7), float(i % 3), 1.0]) for i in range(64)])
    q = spark.createDataFrame([Row(query_id=100, query_vec=[1.0, 0.0, 0.0])])
    plan = plan_str(SIM.ivf_topk(emb, q, k=3, num_centroids=4, nprobe=2))
    # assignment+scoring+local-topk are fused map-side; the only exchange
    # ranks the pruned candidate set
    assert n_shuffles(plan) == 1


def test_lsh_topk_single_shuffle(spark):
    emb = spark.createDataFrame([Row(vec_id=i, embedding=[float(i % 7), float(i % 3), 1.0]) for i in range(64)])
    q = spark.createDataFrame([Row(query_id=100, query_vec=[1.0, 0.0, 0.0])])
    plan = plan_str(SIM.lsh_topk(emb, q, k=3, nbits=3))
    assert n_shuffles(plan) == 1  # bucketing+probe+score fused map-side


def test_ivf_assign_no_shuffle(spark):
    emb = spark.createDataFrame([Row(vec_id=i, embedding=[float(i), 1.0]) for i in range(16)])
    cents = SIM.deterministic_centroids(emb, num=2)
    plan = plan_str(SIM.ivf_assign(emb, cents))
    assert n_shuffles(plan) == 0  # pure map: argmax against broadcast matrix


def test_embedding_near_dup_single_shuffle(spark):
    emb = spark.createDataFrame([Row(vec_id=i, embedding=[float(i % 5), 1.0]) for i in range(32)])
    plan = plan_str(D.embedding_near_duplicates(emb, threshold=0.9, num_centroids=4))
    # exactly one shuffle: partitioning by centroid bucket for applyInPandas
    assert n_shuffles(plan) == 1


def test_ivf_index_search_prunes_to_probed_buckets(spark, tmp_path):
    emb = spark.createDataFrame([Row(vec_id=i, embedding=[float(i % 7), float(i % 3), 1.0]) for i in range(64)])
    q = spark.createDataFrame([Row(query_id=100, query_vec=[1.0, 0.0, 0.0])])
    idx = SIM.IVFIndex.build(emb, str(tmp_path / "ivf"), num_centroids=4)
    plan = plan_str(idx.search(q, k=3, nprobe=2))
    # the index scan must read only probed bucket directories
    pf = plan.split("PartitionFilters", 1)[1].split("\n", 1)[0]
    assert "centroid_id" in pf
    # scoring fused map-side: the one exchange ranks pruned candidates
    assert n_shuffles(plan) == 1


def test_salted_agg_two_shuffles_no_more(spark):
    from kadiyadb_spark.functions import skew as SK

    ev = spark.createDataFrame([Row(k="hot", eid=i, v=1.0) for i in range(100)])
    plan = plan_str(SK.salted_sum_count(ev, ["k"], "v", unique_col="eid", buckets=8))
    # wide salted shuffle + tiny combine shuffle; partial aggregation
    # (map-side combine) must appear before each
    assert n_shuffles(plan) == 2
    assert "partial_sum" in plan


def test_entry_q6_pushes_all_predicates(spark):
    import __spark_entry__ as entry

    df = entry.queries()["q6_selective_scan"](spark, "/root/testdata/sf0.001")
    plan = plan_str(df)
    pushed = plan.split("PushedFilters", 1)[1].split("\n", 1)[0]
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pushed, f"{col} not pushed to scan: {pushed}"


def test_entry_q19_no_nested_loop_join(spark):
    import __spark_entry__ as entry

    df = entry.queries()["q19_disjunctive"](spark, "/root/testdata/sf0.001")
    plan = plan_str(df)
    # the common equi-key must be factored out of the OR: hash join + filter,
    # never a nested-loop/cartesian plan
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan
    assert n_broadcast_joins(plan) == 1


def test_range_join_is_hash_join_not_nested_loop(spark):
    from kadiyadb_spark.functions import timeops as TO

    left = spark.createDataFrame([Row(k=i % 3, ts=i * 10, lid=i) for i in range(50)])
    right = spark.createDataFrame([Row(k=i % 3, r_ts=i * 7, rid=i) for i in range(50)])
    plan = plan_str(TO.range_join_bucketed(left, right, ["k"], -50, 50))
    # the bucket decomposition must keep this an equi hash/sort-merge join;
    # a raw BETWEEN join degrades to BroadcastNestedLoopJoin
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan
    assert ("BroadcastHashJoin" in plan) or ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan)


def test_bucketed_tables_join_without_shuffle(spark, tmp_path):
    """Co-located join via bucketBy: both sides bucketed on the join key
    land pre-partitioned, so the sort-merge join needs NO Exchange — the
    layout a 100 TB fact/fact join should use (bucket pruning + no shuffle
    beats paying the full shuffle per join)."""
    # warehouse dir is a static conf, set in conftest (/tmp/kdb_test_warehouse)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force SMJ path
    try:
        a = spark.createDataFrame([Row(k=i % 50, va=float(i)) for i in range(500)])
        b = spark.createDataFrame([Row(k=i % 50, vb=float(i * 2)) for i in range(500)])
        a.write.bucketBy(8, "k").sortBy("k").mode("overwrite").saveAsTable("bt_a")
        b.write.bucketBy(8, "k").sortBy("k").mode("overwrite").saveAsTable("bt_b")
        joined = spark.table("bt_a").join(spark.table("bt_b"), "k")
        plan = plan_str(joined)
        assert "SortMergeJoin" in plan
        assert n_shuffles(plan) == 0, plan  # bucketing replaces the shuffle
        assert joined.count() == 5000  # 500 x 10 matches per key bucket
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
        spark.sql("DROP TABLE IF EXISTS bt_a")
        spark.sql("DROP TABLE IF EXISTS bt_b")


def test_ts_range_pred_pushes_to_scan_for_both_ts_generations(spark, tmp_path):
    """Time-range filters must reach parquet row-group stats in the column's
    SOURCE type: wrapping the column in the ns conversion first would strip
    PushedFilters and force a full scan (the 100 TB day-slice case)."""
    from kadiyadb_spark.schema import normalize_ts, ts_range_pred

    SEC = 10**9
    T0 = 1_704_067_200 * SEC
    day1 = T0 + 24 * 3600 * SEC

    # generation A: whatever the driver fixtures currently store (timestamp)
    raw = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    pred = ts_range_pred(raw.schema["ts"].dataType, "ts", T0, day1)
    plan = plan_str(raw.filter(pred))
    pushed = plan.split("PushedFilters", 1)[1].split("\n", 1)[0]
    assert "GreaterThanOrEqual(ts" in pushed and "LessThan(ts" in pushed

    # generation B: long-ns storage (rounds 1-2 style), written locally
    p = str(tmp_path / "ev_long")
    spark.createDataFrame(
        [Row(ts=T0 + i * 3600 * SEC, v=1.0) for i in range(48)]
    ).write.parquet(p)
    raw_l = spark.read.parquet(p)
    pred_l = ts_range_pred(raw_l.schema["ts"].dataType, "ts", T0, day1)
    plan_l = plan_str(raw_l.filter(pred_l))
    pushed_l = plan_l.split("PushedFilters", 1)[1].split("\n", 1)[0]
    assert "GreaterThanOrEqual(ts" in pushed_l and "LessThan(ts" in pushed_l

    # and the source-type predicate selects exactly the normalized-range rows
    n_src = raw_l.filter(pred_l).count()
    n_norm = normalize_ts(raw_l).filter(
        (F.col("ts") >= T0) & (F.col("ts") < day1)
    ).count()
    assert n_src == n_norm == 24


def test_minhash_index_query_broadcasts_the_batch(spark, tmp_path):
    """The incoming batch side must broadcast: the index (corpus-sized at
    100 TB) streams map-side instead of shuffling on band keys per probe."""
    docs = spark.createDataFrame(
        [Row(doc_id=i, text=f"some words for document number {i}") for i in range(20)]
    )
    idx = D.MinHashIndex.build(docs, str(tmp_path / "mhp"), num_hashes=8, bands=4)
    batch = spark.createDataFrame([Row(doc_id=99, text="some words for document number 7")])
    plan = plan_str(idx.query(batch, min_est=0.1))
    assert n_broadcast_joins(plan) >= 1


def test_decontaminate_broadcasts_benchmark_grams(spark):
    """The eval-set gram side must broadcast — the corpus is never shuffled
    on content, only the matched hits reach the doc-keyed aggregation."""
    from kadiyadb_spark.functions import text as TX

    docs = spark.createDataFrame(
        [Row(doc_id=i, text=f"words of document {i} with some shared phrasing") for i in range(30)]
    )
    bench = spark.createDataFrame([Row(doc_id=0, text="with some shared phrasing here")])
    plan = plan_str(TX.decontaminate(docs, bench, n=5))
    assert n_broadcast_joins(plan) >= 1
    # two shuffles total: the benchmark side's tiny distinct and the
    # doc-keyed count over matched hits. Within-doc gram dedupe is map-side
    # (array_distinct), so the corpus gram set itself is never shuffled.
    assert n_shuffles(plan) == 2


def test_mixture_sample_is_map_only(spark):
    """The keep-decision is a per-row expression: zero shuffles."""
    from kadiyadb_spark.functions.sampling import stratified_hash_sample

    docs = spark.createDataFrame(
        [Row(doc_id=i, source="a", text="t") for i in range(10)]
    )
    plan = plan_str(stratified_hash_sample(docs, {"a": 0.5}, strata_col="source"))
    assert n_shuffles(plan) == 0


def test_repetition_score_is_map_only(spark):
    """All four metrics fold inside the scan's partitions: zero shuffles."""
    from kadiyadb_spark.functions import text as TX

    docs = spark.createDataFrame([Row(doc_id=1, text="a b a c a b")])
    plan = plan_str(TX.repetition_score(docs))
    assert n_shuffles(plan) == 0


def test_pack_chunks_is_one_shuffle(spark):
    """Packing shuffles ONCE: the window's hashpartitioning(shard) already
    satisfies the (shard, chunk_id) groupBy's clustering requirement (shard
    is a subset of the keys), so the chunk aggregation reuses the exchange.
    No UDF/Python node anywhere."""
    from kadiyadb_spark.functions import packing as PK

    docs = spark.createDataFrame([Row(doc_id=i, text="a b c d e") for i in range(20)])
    plan = plan_str(PK.pack_chunks(docs, seq_len=4, num_shards=4))
    assert n_shuffles(plan) == 1
    # pure built-ins end to end: no Python-exec operator (the source scan's
    # "applySchemaToPythonRDD" is createDataFrame plumbing, not an operator)
    assert not re.search(r"\(\d+\) \w*(EvalPython|InPandas)", plan)


def test_gopher_rules_is_map_only(spark):
    from kadiyadb_spark.functions.text import gopher_rules

    docs = spark.createDataFrame([Row(doc_id=1, text="the cat sat")])
    plan = plan_str(gopher_rules(docs))
    assert n_shuffles(plan) == 0


def test_unigram_lm_broadcasts_frequency_table(spark):
    from kadiyadb_spark.functions.text import unigram_lm_score

    docs = spark.createDataFrame([Row(doc_id=i, text="a b c d") for i in range(4)])
    plan = plan_str(unigram_lm_score(docs))
    # scoring join must be broadcast (vocab-sized), never a corpus shuffle
    assert n_broadcast_joins(plan) >= 1
    assert "SortMergeJoin" not in plan
    # shuffles: vocab groupBy (planned twice — it feeds both the total agg
    # and the broadcast side; both instances are VOCAB-sized), the 1-row
    # total agg, and the doc-keyed average — the corpus-sized (doc, token)
    # stream shuffles exactly once (the doc groupBy)
    assert n_shuffles(plan) <= 4


def test_profile_columns_single_scan(spark):
    from kadiyadb_spark.functions.profile import profile_columns

    df = spark.range(100).selectExpr("id as a", "cast(id % 7 as string) as b")
    plan = plan_str(profile_columns(df, ["a", "b"]))
    # r13 shape: the multi-distinct census is one Expand pass that HASH
    # aggregates, and min/max run as a separate GROUPING-FREE pass — string
    # min/max buffers are immutable, so mixing them in forced the whole
    # expanded row set through SortAggregate with two full sorts. Two scans,
    # an Expand, and NO Sort operator anywhere.
    assert "Expand" in plan
    assert not re.search(r"\(\d+\) Sort\b", plan), plan


def test_pq_topk_single_shuffle(spark):
    from kadiyadb_spark.functions.similarity import pq_topk

    emb = spark.createDataFrame(
        [Row(vec_id=i, embedding=[float(i % 3), float(i % 5), 1.0, 0.5] * 16) for i in range(30)]
    )
    q = emb.filter("vec_id < 2").selectExpr("vec_id as query_id", "embedding as query_vec")
    plan = plan_str(pq_topk(emb.filter("vec_id >= 2"), q, k=3))
    # encode + ADC are chained map passes; only the final ranking shuffles
    assert n_shuffles(plan) == 1


def test_ivfpq_topk_single_shuffle(spark):
    from kadiyadb_spark.functions.similarity import ivfpq_topk

    emb = spark.createDataFrame(
        [Row(vec_id=i, embedding=[float(i % 3), float(i % 5), 1.0, 0.5] * 16) for i in range(30)]
    )
    q = emb.filter("vec_id < 2").selectExpr("vec_id as query_id", "embedding as query_vec")
    plan = plan_str(ivfpq_topk(emb.filter("vec_id >= 2"), q, k=3, num_centroids=4, nprobe=2))
    assert n_shuffles(plan) == 1


def test_chunk_documents_is_map_only(spark):
    from kadiyadb_spark.functions import text as TX

    docs = spark.createDataFrame([Row(doc_id=0, text="a b c d e f g h")])
    plan = plan_str(TX.chunk_documents(docs, chunk_words=4, stride=3))
    assert n_shuffles(plan) == 0  # slicing + posexplode never leave the scan


def test_cross_source_matrix_broadcasts_pair_side(spark):
    """Both resolve joins must broadcast the PAIR side — the corpus's
    (id, source) projection must never be the build side or shuffle. The
    public function materializes eagerly (to unpersist its pair cache), so
    the plan contract lives on the internal lazy builder; the public call
    must leave NO cached RDDs behind."""
    from pyspark.sql import functions as F2

    from kadiyadb_spark.functions import dedup as D2

    docs = spark.createDataFrame(
        [Row(doc_id=i, source=f"s{i % 3}") for i in range(20)]
    )
    pairs = spark.createDataFrame([Row(id_a=1, id_b=2), Row(id_a=3, id_b=4)])
    plan = plan_str(
        D2._cross_source_plan(
            docs.select(F2.col("doc_id"), F2.col("source")), pairs, "doc_id", "source"
        )
    )
    assert n_broadcast_joins(plan) == 2
    # one shuffle only: the final source-pair groupBy
    assert n_shuffles(plan) == 1
    cached_before = spark.sparkContext._jsc.getPersistentRDDs().size()
    assert D2.cross_source_matrix(docs, pairs).count() == 2
    # <=, not ==: the ContextCleaner may concurrently collect UNRELATED
    # localCheckpoint RDDs from earlier tests (r13 added several such
    # sites), shrinking the set mid-call; the contract under test is only
    # that THIS call leaves no new cached RDDs behind
    assert spark.sparkContext._jsc.getPersistentRDDs().size() <= cached_before


def test_bloom_decontaminate_single_doc_shuffle(spark):
    """Bloom probe + verify join are map-side; the only shuffle is the final
    doc-keyed hit count."""
    from kadiyadb_spark.functions import text as TX

    docs = spark.createDataFrame([Row(doc_id=0, text="a b c d e f")])
    bench = spark.createDataFrame([Row(doc_id=9, text="c d e f g")])
    plan = plan_str(TX.bloom_decontaminate(docs, bench, n=3, num_bits=1 << 10))
    assert n_broadcast_joins(plan) >= 1  # exact verify join broadcasts
    # two shuffles total: the BENCHMARK-side gram distinct (eval-set
    # bounded, not corpus) and the final doc-keyed count — the corpus path
    # itself is map-only end to end
    assert n_shuffles(plan) <= 2


def test_remove_boilerplate_shuffle_budget(spark):
    """Span frequency agg (two-phase count-distinct: span+doc then span),
    the filter join's span exchange (broadcast when stats allow — observed
    on the parquet-backed fixture; SortMergeJoin worst case on a no-stats
    frame like this one), and the doc rebuild — four shuffles worst case,
    never a corpus-squared stage."""
    from kadiyadb_spark.functions import text as TX

    docs = spark.createDataFrame([Row(doc_id=i, text="x y z common tail here") for i in range(4)])
    plan = plan_str(TX.remove_boilerplate(docs, words_per_span=3, min_docs=2))
    assert n_shuffles(plan) <= 4
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan


def test_ivfpq_index_search_prunes_to_probed_buckets(spark, tmp_path):
    """The serving scan must read only the probed centroid partitions of
    the CODES table (PartitionFilters on centroid_id), never the vectors."""
    emb = spark.createDataFrame(
        [Row(vec_id=i, embedding=[float(i % 5), float(i % 3), 1.0, 0.0]) for i in range(40)]
    )
    idx = SIM.IVFPQIndex.build(emb, str(tmp_path / "pq"), num_centroids=4, m=2, ksub=4)
    qs = spark.createDataFrame([Row(query_id=1, query_vec=[1.0, 0.0, 0.0, 0.0])])
    res = idx.search(qs, k=3, nprobe=1)
    plan = plan_str(res)
    # nprobe=1, one query -> the isin carries exactly one centroid id into
    # PartitionFilters (inputFiles() lists pre-pruning, so assert the plan)
    pf = plan.split("PartitionFilters", 1)[1].split("\n", 1)[0]
    assert "centroid_id" in pf
    import re as _re

    # single-value isin folds to an equality; either way exactly ONE bucket
    # literal may appear (strip #NN expression-id suffixes first)
    literals = _re.findall(r"\d+", _re.sub(r"#\d+", "", pf))
    assert len(literals) == 1, pf
    # the scan reads codes, never the vector column
    assert "ReadSchema" in plan and "embedding" not in plan.split("ReadSchema", 1)[1].split("\n", 1)[0]


def test_series_ratio_one_scan_no_join(spark):
    """series_ratio must stay a single-scan conditional-sum pivot: one
    shuffle (the bucket groupBy), zero joins — the naive two-fetch
    formulation would show two scans and an equi-join."""
    from kadiyadb_spark.query import series_ratio

    ev = spark.createDataFrame(
        [Row(ts=i % 5, x=("err" if i % 3 else "clk"), y="u", v=1.0) for i in range(12)]
    )
    cube = track_batch(ev, fields=["x", "y"], ts_col="ts", total_col="v", resolution=1, duration=5)
    plan = plan_str(series_ratio(cube, 0, 5, ["err"], ["clk"], resolution=1))
    assert "Join" not in plan
    # cube build costs one shuffle; the pivot adds exactly one more
    assert n_shuffles(plan) == 2


def test_series_ratio_wildcard_one_scan_no_join(spark):
    """The wildcard fan-out ratio keeps the same shape: the '*' level joins
    by becoming a grouping key, NOT by a self-join — one scan, one extra
    shuffle, zero Join nodes."""
    from kadiyadb_spark.query import series_ratio_wildcard

    ev = spark.createDataFrame(
        [Row(ts=i % 5, x=("err" if i % 3 else "clk"), y=f"u{i % 2}", v=1.0) for i in range(12)]
    )
    cube = track_batch(ev, fields=["x", "y"], ts_col="ts", total_col="v", resolution=1, duration=5)
    plan = plan_str(
        series_ratio_wildcard(cube, 0, 5, ["err", "*"], ["clk", "*"], resolution=1)
    )
    assert "Join" not in plan
    assert n_shuffles(plan) == 2


def test_series_transforms_share_one_window_exchange(spark):
    """Composing delta -> smooth -> anomaly over one fetch frame must ride a
    single series-keyed Exchange: every transform sorts by the same
    (series, bucket) key, so Spark reuses the partitioning."""
    from kadiyadb_spark.query import fetch, series_anomaly, series_delta, series_smooth

    ev = spark.createDataFrame([Row(ts=i % 10, x="a", y="u", v=float(i)) for i in range(20)])
    cube = track_batch(ev, fields=["x", "y"], ts_col="ts", total_col="v", resolution=1, duration=5)
    dense = fetch(cube, 0, 10, ["a", "*"], resolution=1, duration=5)
    d = series_delta(dense.select("f1", "f2", "bucket", "total"), ["f1", "f2"], resolution=1)
    s = series_smooth(d.select("f1", "f2", "bucket", "total"), ["f1", "f2"], 3)
    a = series_anomaly(s.select("f1", "f2", "bucket", "total"), ["f1", "f2"], window_slots=3)
    base = n_shuffles(plan_str(dense))
    assert n_shuffles(plan_str(a)) == base + 1  # ONE window exchange for all three
    # series_offset joins the family: lag over the SAME (series, bucket)
    # ordering rides that same single Exchange
    from kadiyadb_spark.query import series_offset

    o = series_offset(s.select("f1", "f2", "bucket", "total"), ["f1", "f2"], 2)
    assert n_shuffles(plan_str(o)) == base + 1
    # series_last_over_time too: the rank window and the ignore-nulls frame
    # share the same (series, bucket) partitioning/ordering — one Exchange
    from kadiyadb_spark.query import series_last_over_time

    lw = series_last_over_time(
        dense.select("f1", "f2", "bucket", "total", "cnt"), ["f1", "f2"], 3
    )
    assert n_shuffles(plan_str(lw)) == base + 1


def test_series_topk_uses_take_ordered_not_full_sort(spark):
    """series_topk must rank via TakeOrderedAndProject (K rows per
    partition, K at the driver) — a global Sort of every series is the
    anti-pattern at 100 TB."""
    from kadiyadb_spark.query import series_topk

    ev = spark.createDataFrame(
        [Row(ts=i % 5, x="a", y=f"u{i % 7}", v=1.0) for i in range(30)]
    )
    cube = track_batch(ev, fields=["x", "y"], ts_col="ts", total_col="v", resolution=1, duration=5)
    plan = plan_str(series_topk(cube, 0, 5, ["a", "*"], k=3, resolution=1))
    assert "TakeOrderedAndProject" in plan
    assert not re.search(r"\(\d+\) Sort\b", plan)


def test_sample_token_budget_single_window_shuffle(spark):
    """Token-budget sampling: the text column must not shuffle (counts are
    computed map-side before the exchange) and the whole plan carries ONE
    shuffle — the per-group window ordering."""
    from kadiyadb_spark.functions.sampling import sample_token_budget

    docs = spark.createDataFrame(
        [Row(doc_id=i, source=f"s{i % 3}", text="a few words here") for i in range(12)]
    )
    plan = plan_str(sample_token_budget(docs, budget_tokens=5))
    assert n_shuffles(plan) == 1
    # the exchange ships (group, id, count, hash) — never the text column;
    # the formatted plan's Exchange detail block lists its Input schema
    ex_block = next(b for b in plan.split("\n\n") if ") Exchange" in b)
    input_line = next(ln for ln in ex_block.splitlines() if ln.startswith("Input"))
    assert "_n_tok" in input_line and "text" not in input_line


def test_bpe_pair_counts_one_partial_agg_shuffle(spark):
    """Each BPE merge iteration is ONE pair-count aggregation with map-side
    partial aggregation (HashAggregate before and after the Exchange) —
    the per-merge cost bound the trainer's scale story rests on."""
    from kadiyadb_spark.functions import bpe as B2

    docs = spark.createDataFrame([Row(text="low low lower newest")])
    wf = B2.word_frequencies(docs).withColumn(
        "syms", B2.sym_init_expr(F.col("word"))
    ).select("freq", "syms")
    plan = plan_str(B2._pair_counts(wf))
    # word_frequencies contributes one groupBy shuffle; the pair count one more
    assert n_shuffles(plan) == 2
    assert plan.count("HashAggregate") >= 4  # partial+final for both aggs


def test_series_increase_rides_the_family_window_exchange(spark):
    """series_increase joins the one-Exchange transform family: lag +
    ordered cumulative sum over the same (series, bucket) key add NO
    shuffle beyond the single window exchange."""
    from kadiyadb_spark.query import fetch, series_increase

    ev = spark.createDataFrame([Row(ts=i % 10, x="a", y="u", v=float(i)) for i in range(20)])
    cube = track_batch(ev, fields=["x", "y"], ts_col="ts", total_col="v", resolution=1, duration=5)
    dense = fetch(cube, 0, 10, ["a", "*"], resolution=1, duration=5)
    base = n_shuffles(plan_str(dense))
    inc = series_increase(dense.select("f1", "f2", "bucket", "total"), ["f1", "f2"])
    assert n_shuffles(plan_str(inc)) == base + 1


def test_histogram_quantile_single_group_exchange(spark):
    """histogram_quantile: cumulative count, total, lag and the rank pick
    all key by the group, so the whole operator is ONE Exchange over the
    bucket rows (never the raw observations)."""
    from kadiyadb_spark.query import histogram_quantile

    b = spark.createDataFrame(
        [Row(g=f"g{i % 3}", le=float(le), cnt=i + 1) for i in range(9) for le in (1, 5)],
    )
    agg = b.groupBy("g", "le").agg(F.sum("cnt").alias("cnt"))
    base = n_shuffles(plan_str(agg))
    plan = plan_str(histogram_quantile(agg, 0.9, ["g"]))
    assert n_shuffles(plan) == base + 1


def test_series_resets_and_gaps_plan_shape(spark):
    """series_resets_changes joins the one-Exchange transform family (lag
    + frame sums over the same (series, bucket) key); series_gaps ALSO
    rides that single Exchange — the run groupBy keys on (series, _run),
    a superset of the window's series partitioning, so ClusteredDistribution
    is already satisfied and no second shuffle appears. The cnt=0 filter
    precedes the window, so only absent slots ever shuffle."""
    from kadiyadb_spark.query import fetch, series_gaps, series_resets_changes

    ev = spark.createDataFrame(
        [Row(ts=i % 10, x="a", y="u", v=float(i)) for i in range(20)]
    )
    cube = track_batch(
        ev, fields=["x", "y"], ts_col="ts", total_col="v", resolution=1, duration=5
    )
    dense = fetch(cube, 0, 10, ["a", "*"], resolution=1, duration=5)
    base = n_shuffles(plan_str(dense))
    rc = series_resets_changes(
        dense.select("f1", "f2", "bucket", "total"), ["f1", "f2"], window_slots=3
    )
    assert n_shuffles(plan_str(rc)) == base + 1
    g = series_gaps(
        dense.select("f1", "f2", "bucket", "cnt"), ["f1", "f2"], resolution=1
    )
    plan = plan_str(g)
    assert n_shuffles(plan) == base + 1  # window exchange reused by the groupBy
    # the absent-slot filter must sit BELOW the window Exchange so only
    # absent slots ever shuffle. Since the r13 map-densify, project collapse
    # inlines cnt as coalesce(element_at(_pts, bucket).c, 0.0), so the
    # predicate reads "... = 0.0" rather than "cnt = 0". Formatted plans
    # number nodes leaf-up: the zero-filter's id must be smaller than the
    # window Exchange's (the largest Exchange id).
    zero_f = re.search(r"\((\d+)\) Filter\n[^\n]*\n[^\n]*= 0\.0", plan)
    assert zero_f, plan
    win_ex = max(int(m) for m in re.findall(r"\((\d+)\) Exchange\b", plan))
    assert int(zero_f.group(1)) < win_ex, plan


def test_series_quantile_over_time_one_window_exchange(spark):
    """quantile/min/max_over_time all frame on the same (series, bucket)
    key: ONE window Exchange beyond the dense fetch."""
    from kadiyadb_spark.query import fetch, series_quantile_over_time

    ev = spark.createDataFrame(
        [Row(ts=i % 10, x="a", y="u", v=float(i)) for i in range(20)]
    )
    cube = track_batch(
        ev, fields=["x", "y"], ts_col="ts", total_col="v", resolution=1, duration=5
    )
    dense = fetch(cube, 0, 10, ["a", "*"], resolution=1, duration=5)
    base = n_shuffles(plan_str(dense))
    q = series_quantile_over_time(
        dense.select("f1", "f2", "bucket", "total"), ["f1", "f2"],
        phi=0.5, window_slots=3,
    )
    assert n_shuffles(plan_str(q)) == base + 1


def test_series_alerts_single_exchange(spark):
    """series_alerts matches series_gaps' shape: ONE series-keyed window
    Exchange; the run groupBy keys on (series, run) ⊇ the partitioning so
    Catalyst adds no second shuffle; the condition filter precedes the
    window so only breaching slots ever shuffle."""
    from pyspark.sql import Row

    from kadiyadb_spark.ingest import track_batch
    from kadiyadb_spark.query import fetch, series_alerts

    ev = spark.createDataFrame([Row(ts=i % 10, x="a", v=float(i)) for i in range(20)])
    cube = track_batch(ev, fields=["x"], ts_col="ts", total_col="v", resolution=1, duration=5)
    dense = fetch(cube, 0, 10, ["a"], resolution=1, duration=5)
    a = series_alerts(dense.select("f1", "bucket", "total"), ["f1"], threshold=1.0,
                      for_slots=2, resolution=1)
    base = n_shuffles(plan_str(dense))
    assert n_shuffles(plan_str(a)) == base + 1


def test_fuzzy_near_duplicates_equi_joins_only(spark):
    """The fuzzy candidate generator must stay two EQUI-joins (same +
    adjacent length bucket, plus the block cols) — a theta-join or
    cartesian over the corpus is the quadratic anti-pattern the bucket
    scheme exists to avoid."""
    from kadiyadb_spark.functions.dedup import fuzzy_near_duplicates

    docs = spark.createDataFrame(
        [Row(doc_id=i, text=f"title number {i}", src=f"s{i % 2}") for i in range(30)]
    )
    plan = plan_str(
        fuzzy_near_duplicates(docs, max_dist=3, block_cols=["src"])
    )
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    # the levenshtein verify must carry its threshold (banded DP, not the
    # full n^2 distance) — renders as levenshtein(a, b, Some(3))
    assert "levenshtein" in plan and "Some(3)" in plan


def test_attribution_single_corpus_exchange(spark):
    """attribution's wide data crosses exactly one Exchange (the user-keyed
    timeline window); the census + total are tiny broadcast/scalar joins —
    never a corpus-sized sort-merge."""
    from kadiyadb_spark.functions.analytics import attribution

    ev = spark.createDataFrame(
        [Row(user_id=f"u{i % 5}", ts_ns=i, event_id=i,
             event_type=("view", "purchase")[i % 3 == 0]) for i in range(40)]
    )
    plan = plan_str(attribution(ev, ["view"], "purchase", lookback=100))
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan


def test_containment_inverted_join_is_equi(spark):
    """containment_pairs' inverted-index self-join must stay an equi-join
    on the shingle — a theta/cartesian plan means the blocking
    degenerated."""
    docs = spark.createDataFrame(
        [Row(doc_id=i, text=f"some shared text body number {i % 3}") for i in range(12)]
    )
    plan = plan_str(D.containment_pairs(docs, max_df=5, threshold=0.1))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_seasonal_anomaly_profile_join_no_cartesian(spark):
    """series_seasonal_anomaly: the profile joins the current frame on
    (series, slot_of_period) — an equi-join, with the baseline groupBy the
    only aggregation over baseline volume."""
    from kadiyadb_spark.query import series_seasonal_anomaly

    mk = lambda n0, n1: spark.createDataFrame(
        [("m", i * 60, float(i % 7)) for i in range(n0, n1)],
        "f1 string, bucket long, total double",
    )
    plan = plan_str(
        series_seasonal_anomaly(mk(12, 18), mk(0, 12), ["f1"], period_slots=6)
    )
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_kmv_sketch_one_shuffle_of_candidates_only(spark):
    """The KMV build's only Exchange is the candidate merge groupBy —
    the raw keys never shuffle (the Arrow min-k pass reduces each
    partition to <= groups x k hashes first)."""
    from kadiyadb_spark.functions.sketch import kmv_sketch

    df = spark.createDataFrame(
        [Row(g="a", uid=i) for i in range(100)]
    )
    plan = plan_str(kmv_sketch(df, "uid", ["g"], k=16))
    assert n_shuffles(plan) == 1
    # the reduction sits BELOW the exchange (formatted explain numbers
    # nodes bottom-up: deeper = smaller)
    mip = int(re.search(r"\((\d+)\) MapInPandas", plan).group(1))
    exc = int(re.search(r"\((\d+)\) Exchange", plan).group(1))
    assert mip < exc


def test_fetch_multi_is_one_scan(spark, tmp_path):
    """The rule-evaluation batch reads the cube ONCE however many patterns
    it answers — the scan count is the plan property that makes the
    operator worth having at 100 TB."""
    from kadiyadb_spark.ingest import track_batch
    from kadiyadb_spark.query import Re, fetch_multi

    ev = spark.createDataFrame(
        [Row(ts=i % 5, x=t, y="u", v=1.0) for i, t in enumerate(["a", "b", "c"] * 5)]
    )
    path = str(tmp_path / "cube")
    track_batch(ev, fields=["x", "y"], ts_col="ts", total_col="v", resolution=1, duration=5).write.parquet(path)
    cube = spark.read.parquet(path)
    plan = plan_str(
        fetch_multi(cube, 0, 5, {"a": ["a", "*"], "b": ["b", "*"], "re": [Re("a|c"), "*"]}, 1, 5)
    )
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1
    assert n_shuffles(plan) == 0  # filter + explode: map-only over the scan
    # MIXED depths (VERDICT r09 item 7) keep the same plan shape: still ONE
    # scan and zero shuffles for a depth-1 + depth-2 batch
    plan_mixed = plan_str(
        fetch_multi(cube, 0, 5, {"roll_a": ["a"], "ab": ["a", "*"], "re": [Re("a|c"), "u"]}, 1, 5)
    )
    assert len(re.findall(r"\(\d+\) Scan parquet", plan_mixed)) == 1
    assert n_shuffles(plan_mixed) == 0


def test_fetch_rule_group_is_one_scan_one_exchange(spark, tmp_path):
    """The rule group inherits fetch_multi's one-scan property and adds
    exactly ONE shuffle Exchange (the post-breach-filter window; the run
    groupBy keys are a superset of the window partitioning)."""
    from kadiyadb_spark.ingest import track_batch
    from kadiyadb_spark.query import fetch_rule_group

    ev = spark.createDataFrame(
        [Row(ts=i % 5, x=t, y="u", v=3.0) for i, t in enumerate(["a", "b"] * 6)]
    )
    path = str(tmp_path / "cube_rg")
    track_batch(ev, fields=["x", "y"], ts_col="ts", total_col="v", resolution=1, duration=5).write.parquet(path)
    cube = spark.read.parquet(path)
    plan = plan_str(
        fetch_rule_group(
            cube, 0, 5,
            {
                "a_hot": {"pattern": ["a", "*"], "threshold": 2.0, "for_slots": 2},
                "b_roll": {"pattern": ["b"], "threshold": 1.0, "for_slots": 1},
            },
            resolution=1, duration=5,
        )
    )
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1
    assert n_shuffles(plan) == 1


def test_series_family_epoch_bounds_reach_scan(spark, tmp_path):
    """r13 (review finding): the series_* family's shared scan preamble
    states explicit EPOCH bounds — Catalyst can't derive them from the
    bucket range through the floor arithmetic, so without them an
    epoch-partitioned cube scans every partition. With the cube's
    duration passed, both bounds reach PushedFilters (the partition-prune
    class fetch always had); without it, the universally-valid upper
    bound still pushes."""
    from kadiyadb_spark.ingest import track_batch
    from kadiyadb_spark.query import series_agg_by, series_sum_by

    ev = spark.createDataFrame(
        [Row(ts=i, x=t, y="u", v=3.0) for i, t in enumerate(["a", "b"] * 8)]
    )
    path = str(tmp_path / "cube_eb")
    track_batch(
        ev, fields=["x", "y"], ts_col="ts", total_col="v", resolution=1, duration=5
    ).write.parquet(path)
    cube = spark.read.parquet(path)

    plan = plan_str(
        series_sum_by(cube, 7, 12, ["*", "*"], keep_levels=[1], resolution=1, duration=5)
    )
    pushed = plan.split("PushedFilters", 1)[1].split("\n", 1)[0]
    assert "GreaterThanOrEqual(epoch,5)" in pushed  # floor(7/5)*5
    assert "LessThanOrEqual(epoch,11)" in pushed  # to_b - resolution
    # without duration: upper bound only (valid for ANY epoch length)
    plan2 = plan_str(
        series_agg_by(cube, 7, 12, ["*", "*"], keep_levels=[1], resolution=1)
    )
    pushed2 = plan2.split("PushedFilters", 1)[1].split("\n", 1)[0]
    assert "LessThanOrEqual(epoch,11)" in pushed2
    # results are unchanged by the bounds (they are implied by the data)
    a = sorted(map(tuple, series_sum_by(cube, 7, 12, ["*", "*"], keep_levels=[1],
                                        resolution=1, duration=5).collect()))
    b = sorted(map(tuple, series_sum_by(cube, 7, 12, ["*", "*"], keep_levels=[1],
                                        resolution=1).collect()))
    assert a == b and a


def test_pagerank_broadcasts_nothing_and_keys_iterations(spark):
    """PageRank's plan: no CartesianProduct, no driver-side collect of
    ranks — every iteration is a key-shuffled join + fold, so the node
    count is unbounded by design."""
    from kadiyadb_spark.functions.graph import pagerank

    edges = spark.createDataFrame(
        [Row(src=f"n{i}", dst=f"n{(i * 7) % 20}") for i in range(40)]
    )
    plan = plan_str(pagerank(edges, iters=2))
    assert "CartesianProduct" not in plan
    # the rank vector is never collected: no LocalTableScan of ranks
    assert plan.count("LocalTableScan") == 0


def test_bloom_join_prune_probe_is_mapside_prejoin(spark):
    """The entry's contract at scale: the Bloom probe must be evaluated on
    the fact side BEFORE any hash Exchange — here as the condition of the
    one-broadcast-row BroadcastNestedLoopJoin — and the selective orders
    predicates must reach the parquet scan."""
    import sys

    sys.path.insert(0, "/root/repo")
    import __spark_entry__ as E

    plan = plan_str(E.q_bloom_join_prune(spark, "/root/testdata/sf0.001"))
    assert "BroadcastNestedLoopJoin" in plan
    assert "getbit" in plan  # the probe bits, JVM-side
    assert "EqualTo(o_orderpriority,1-URGENT)" in plan  # pushdown reached scan
    assert "SortMergeJoin" not in plan  # tiny dim side broadcasts
    # the fact scan itself reads only the 3 needed columns
    assert "struct<l_orderkey:bigint,l_extendedprice:double,l_discount:double>" in plan


def test_merge_asof_single_exchange(spark):
    """merge_asof's union-timeline form: ONE by-keyed hash Exchange total
    (plus the union inputs), never a range-join expansion."""
    from kadiyadb_spark.functions.timeops import merge_asof

    left = spark.createDataFrame([(1, 1, 100)], "lid long, g long, ts long")
    right = spark.createDataFrame([(1, 90, 1.0)], "g long, ts long, v double")
    plan = plan_str(merge_asof(left, right, "ts", ["g"], ["v"]))
    assert n_shuffles(plan) == 1
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_kmeans_assignment_mapside_update_one_shuffle(spark):
    """embedding_kmeans scale contract: the final assignment + per-cluster
    fold is ONE shuffle (the cluster groupBy) with NO join of any kind —
    centroids ride the plan as literals. The iteration's update groupBy
    partial-combines map-side (HashAggregate before its Exchange)."""
    from kadiyadb_spark.functions.cluster import kmeans_lloyd

    df = spark.createDataFrame(
        [(i, [float(i % 5), float(i % 3)]) for i in range(20)],
        "vec_id long, embedding array<double>",
    )
    plan = plan_str(kmeans_lloyd(df, k=2, iters=1))
    assert n_shuffles(plan) == 1
    for bad in ("SortMergeJoin", "BroadcastHashJoin", "BroadcastNestedLoopJoin",
                "CartesianProduct", "BatchEvalPython", "ArrowEval"):
        assert bad not in plan, bad


def test_luhn_audit_no_udf_one_shuffle(spark):
    """The Luhn fold is a JVM aggregate expression: no Python eval node in
    the plan, one group-fold Exchange."""
    from kadiyadb_spark.functions.privacy import luhn_audit

    df = spark.createDataFrame(
        [(1, "a", "x 4111111111111111 y")], "doc_id long, source string, text string"
    )
    plan = plan_str(luhn_audit(df, group_cols=["source"]))
    assert n_shuffles(plan) == 1
    assert "BatchEvalPython" not in plan and "ArrowEval" not in plan


def test_script_census_one_shuffle_no_udf(spark):
    from kadiyadb_spark.functions.text import script_census

    df = spark.createDataFrame([(1, "abc")], "doc_id long, text string")
    plan = plan_str(script_census(df))
    assert n_shuffles(plan) == 1
    assert "BatchEvalPython" not in plan and "ArrowEval" not in plan


def test_dq_expect_is_one_aggregation(spark):
    """Six checks, one scan: the row-level audit plans as a single global
    aggregate (one SinglePartition Exchange), never one pass per check."""
    from kadiyadb_spark.functions.dq import expect

    df = spark.createDataFrame([(1, 2.0)], "k long, v double")
    plan = plan_str(expect(df, {
        "a": F.col("k").isNotNull(),
        "b": F.col("v") > 0,
        "c": F.col("v") < 10,
    }))
    assert n_shuffles(plan) == 1


def test_psl_expr_census_stays_join_free(spark):
    """The psl=None fallback (vendored-subset expression rule) must not
    introduce a join into the census plan: one domain-keyed Exchange,
    zero joins."""
    from kadiyadb_spark.functions.web import domain_census

    df = spark.createDataFrame(
        [(1, "https://a.example.co.uk/x")], "doc_id long, url string"
    )
    plan = plan_str(domain_census(df, psl=None))
    assert n_shuffles(plan) <= 2  # partial+final distinct-host fold
    for bad in ("SortMergeJoin", "BroadcastHashJoin", "BroadcastNestedLoopJoin"):
        assert bad not in plan, bad


def test_psl_default_census_is_broadcast_only(spark):
    """The DEFAULT census path (full-snapshot PSL, r12) resolves through
    BroadcastHashJoins only — the rule table is never shuffled, and the
    domain-keyed groupBy remains the census's only data Exchange."""
    from kadiyadb_spark.functions.web import domain_census

    df = spark.createDataFrame(
        [(1, "https://www.pref.aichi.jp/x")], "doc_id long, url string"
    )
    plan = plan_str(domain_census(df))
    assert "BroadcastHashJoin" in plan
    for bad in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastNestedLoopJoin",
                "CartesianProduct"):
        assert bad not in plan, bad
    assert n_shuffles(plan) <= 2  # partial+final distinct-host fold only


def test_semdedup_one_cluster_shuffle_no_joins(spark):
    """semdedup scale contract: exact-integer assignment rides the plan as
    literals (no join, no Cartesian), the bucket kernel is the single
    FlatMapGroupsInPandas over ONE cluster-keyed Exchange, and the entry's
    census fold adds at most one more."""
    from pyspark.sql import functions as F

    from kadiyadb_spark.functions.cluster import semdedup_prune

    df = spark.createDataFrame(
        [(i, [float(i % 5), float(i % 3)]) for i in range(20)],
        "vec_id long, embedding array<double>",
    )
    flags = semdedup_prune(df, k=2, iters=1, threshold=0.95)
    plan = plan_str(flags)
    assert n_shuffles(plan) == 1  # the cluster_id groupBy feeding the kernel
    assert plan.count("FlatMapGroupsInPandas") >= 1
    for bad in ("SortMergeJoin", "BroadcastHashJoin", "BroadcastNestedLoopJoin",
                "CartesianProduct"):
        assert bad not in plan, bad
    census = flags.groupBy("cluster_id").agg(F.sum("kept").alias("n_kept"))
    assert n_shuffles(plan_str(census)) <= 2


def test_rule_group_store_plan_no_joins_one_window_exchange(spark, tmp_path):
    """db.rule_group over the persisted store: rule constants ride a
    when-chain (no join against a rules table), and the run evaluation is
    the one series-keyed window Exchange after the breach filter plus the
    run-groupBy that reuses its clustering."""
    from pyspark.sql import Row

    from kadiyadb_spark.catalog import Params
    from kadiyadb_spark.database import Database

    db = Database.open(
        spark, str(tmp_path / "dbrgp"),
        Params(duration=100, resolution=1, retention=1000, fields=("x", "y")),
    )
    db.track(spark.createDataFrame([Row(ts=1, x="a", y="u", value=4.0)]))
    plan = plan_str(db.rule_group(0, 10, {
        "r1": {"pattern": ["a", "*"], "threshold": 1.0, "for_slots": 1},
        "r2": {"pattern": ["b"], "threshold": 2.0, "for_slots": 2},
    }))
    for bad in ("SortMergeJoin", "BroadcastHashJoin", "BroadcastNestedLoopJoin",
                "CartesianProduct", "BatchEvalPython", "ArrowEval"):
        assert bad not in plan, bad
    assert "Window" in plan

"""Sequence packing for LLM training pipelines (concat-and-chunk).

Training consumes fixed-length token sequences; a corpus is variable-length
documents. The standard preparation (GPT-style "concat and chunk") lays the
tokenized documents end-to-end inside a shard and slices the resulting token
stream into ``seq_len``-sized chunks — documents cross chunk boundaries, no
padding except the shard tail.

The whole computation is expressible with built-in DataFrame ops — no UDF,
no driver loop:

1. shard assignment (deterministic, map-only),
2. one window cumulative-sum per shard -> each doc's [start, end) token
   offsets in its shard's stream,
3. ``explode(sequence(start_chunk, end_chunk))`` -> (doc, chunk) coverage
   rows,
4. groupBy (shard, chunk) -> per-chunk stats / doc lists.

Scale shape: the window is partitioned by shard, so parallelism = number of
shards and no global sort exists anywhere. Shards are the unit a real
pipeline writes anyway (one output file / tfrecord per shard, ~100M tokens
each); pick ``num_shards`` so a shard's docs fit one task comfortably. The
explode emits one row per (doc, chunk-it-touches) — bounded by
total_tokens/seq_len + n_docs — and the final groupBy is partial-agg
friendly. Two shuffles total.

Shard assignment here is ``doc_id % num_shards`` (reproducible in the SQL
oracle); production would use ``pmod(xxhash64(id), n)`` for balance under
non-uniform ids — one-line swap, same plan shape.

Reference note: kadiyadb has no text pipeline (SURVEY §2 maps none); this
belongs to the LLM-pipeline surface the brief adds on top.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from kadiyadb_spark.functions.text import tokens_expr


def pack_offsets(
    df: DataFrame,
    seq_len: int,
    num_shards: int,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document placement in the packed token stream: shard, token
    count, [start, end) offsets and the chunk range the doc spans.

    Zero-token documents occupy no stream positions and are dropped (their
    chunk range would be empty/inverted).
    """
    if seq_len <= 0 or num_shards <= 0:
        raise ValueError("seq_len and num_shards must be positive")
    n_tok = F.size(tokens_expr(F.col(text_col))).cast("long")
    d = df.select(
        F.col(id_col),
        F.pmod(F.col(id_col), F.lit(num_shards)).cast("long").alias("shard"),
        n_tok.alias("n_tokens"),
    ).filter(F.col("n_tokens") > 0)
    w = (
        Window.partitionBy("shard")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )  # ROWS: duplicate ids must tile, not RANGE-share, the stream
    d = d.withColumn("end_off", F.sum("n_tokens").over(w))
    d = d.withColumn("start_off", F.col("end_off") - F.col("n_tokens"))
    return d.select(
        id_col,
        "shard",
        "n_tokens",
        "start_off",
        "end_off",
        # integer `div`, not float division: offsets are exact int64 stream
        # positions and must stay exact past double's 2^53 integer range
        F.expr(f"start_off div {seq_len}").alias("start_chunk"),
        F.expr(f"(end_off - 1) div {seq_len}").alias("end_chunk"),
    )


def pack_assignments(
    df: DataFrame,
    seq_len: int,
    num_shards: int,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The writer-facing slice map: one row per (chunk, doc-slice) telling a
    materializer exactly which token span of which doc lands where —
    (shard, chunk_id, doc, slice_start WITHIN the doc, slice_len, offset
    WITHIN the chunk). Concatenating each chunk's slices ordered by
    chunk_offset yields the chunk's token stream byte-for-byte; a trainer-
    shard writer is a pure map over this frame grouped by chunk.

    Same single-shuffle plan as pack_chunks (the explode adds no exchange).
    """
    offs = pack_offsets(df, seq_len, num_shards, text_col=text_col, id_col=id_col)
    cov = offs.withColumn("chunk_id", F.explode(F.sequence("start_chunk", "end_chunk")))
    lo = F.col("chunk_id") * seq_len
    hi = lo + seq_len
    s = F.greatest(F.col("start_off"), lo)
    e = F.least(F.col("end_off"), hi)
    return cov.select(
        "shard",
        "chunk_id",
        id_col,
        (s - F.col("start_off")).alias("slice_start"),
        (e - s).alias("slice_len"),
        (s - lo).alias("chunk_offset"),
    )


def pack_chunks(
    df: DataFrame,
    seq_len: int,
    num_shards: int,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Chunk-level view of the packed stream: one row per (shard, chunk)
    with the docs it draws from and the token count it actually holds
    (== seq_len everywhere except each shard's tail chunk).

    ``n_tokens`` per chunk is the sum over covering docs of the overlap
    between the doc's [start_off, end_off) and the chunk's window — an
    exact accounting that a writer materializing real token ids would
    reproduce byte-for-byte.
    """
    # aggregate OVER pack_assignments instead of re-deriving the chunk
    # window arithmetic (review finding: the geometry lived in two places)
    asg = pack_assignments(df, seq_len, num_shards, text_col=text_col, id_col=id_col)
    return (
        asg.groupBy("shard", "chunk_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("slice_len").alias("n_tokens"),
            F.min(id_col).alias("first_doc"),
            F.max(id_col).alias("last_doc"),
        )
    )


def write_shards(
    df,
    path: str,
    num_shards: int,
    id_col: str = "doc_id",
    salt: str = "shuf",
):
    """The LAST MILE: materialize a training-ready table as numbered shards
    with an atomic, stats-carrying commit. Shard assignment is the
    deterministic md5 permutation (sampling.deterministic_shuffle), rows
    ordered by their shuffle position within each shard — so a trainer
    streams shard files in order and gets the reproducible global shuffle,
    and re-running the writer reproduces the bytes.

    Storage contract (same GenLog protocol as the indexes/cube): data
    stages invisibly under ``shard-data-g<N>/shard=S/``, then ONE manifest
    commit publishes the generation together with per-shard ROW counts — a crashed write leaves the previous generation fully
    readable, and the recorded stats can never disagree with the data they
    describe. One shuffle total (repartition by shard + sortWithinPartitions
    rides it).

    Returns the committed per-shard stats as a list of dicts
    (shard, n_rows). Use ``read_shards`` for the data."""
    from kadiyadb_spark.fs import HadoopFS
    from kadiyadb_spark.functions.sampling import deterministic_shuffle
    from kadiyadb_spark.manifest import GenLog

    spark = df.sparkSession
    log = GenLog(spark, path)
    m = log.read()
    live = f"shard-data-g{m['gen'] + 1:06d}"
    addressed = deterministic_shuffle(df, num_shards, id_col=id_col, salt=salt)
    if addressed.rdd.isEmpty():
        # an empty partitioned write leaves an un-readable staged dir and
        # the re-read below dies on schema inference (review finding) —
        # refuse up front with a real message
        raise ValueError("write_shards: input has no rows (nothing to shard)")
    # Stage under a UNIQUE name, then take the generation name by RENAME:
    # two racing writers used to stage at the same g<N+1> dir, so the
    # loser's overwrite clobbered the winner's already-committed bytes
    # BEFORE its manifest commit failed (review finding). The rename is
    # the lock — it fails for the loser without touching the winner's dir.
    import uuid

    from kadiyadb_spark.manifest import ConcurrentWriteError

    staged = f"{live}.stage-{uuid.uuid4().hex[:8]}"
    (
        addressed.repartition(num_shards, "shard")
        .sortWithinPartitions("pos")
        .write.mode("overwrite")
        .partitionBy("shard")
        .parquet(HadoopFS.join(path, staged))
    )
    # stats from the STAGED data (what will be committed), tiny: one row
    # per shard
    stats = [
        {"shard": int(r["shard"]), "n_rows": int(r["n"])}
        for r in spark.read.parquet(HadoopFS.join(path, staged))
        .groupBy("shard")
        .agg(F.count("*").alias("n"))
        .collect()
    ]
    stats.sort(key=lambda s: s["shard"])
    if not log.fs.rename(HadoopFS.join(path, staged), HadoopFS.join(path, live)):
        log.fs.delete(HadoopFS.join(path, staged))
        raise ConcurrentWriteError(
            f"shard generation {live} already staged by a concurrent writer"
        )
    log.commit(
        {"live": live, "num_shards": num_shards, "salt": salt, "shards": stats},
        m["gen"],
    )
    # GC keeps every dir a RETAINED manifest references (review finding:
    # the delete-all-but-live sweep broke the pinned-generation contract
    # every other GenLog store honors — a reader mid-stream on the prior
    # generation lost its files two commits early)
    log.gc(("shard-data",))
    return stats


def read_shards(spark, path: str, shard: int | None = None):
    """Committed view of a shard store; ``shard`` filters to one shard's
    directory (partition-pruned)."""
    from kadiyadb_spark.fs import HadoopFS
    from kadiyadb_spark.manifest import GenLog

    m = GenLog(spark, path).head()
    df = spark.read.parquet(HadoopFS.join(path, m["live"]))
    return df if shard is None else df.filter(F.col("shard") == shard)


def shard_stats(spark, path: str):
    """The per-shard stats recorded at commit time (manifest-resolved; no
    data scan)."""
    from kadiyadb_spark.manifest import GenLog

    return GenLog(spark, path).head()["shards"]


def pack_nosplit(
    df: DataFrame,
    seq_len: int,
    num_shards: int,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """NO-SPLIT sequence packing (next-fit decreasing): each document goes
    WHOLE into a bin of ``seq_len`` token capacity — the strategy SFT-style
    training uses when examples must not cross sequence boundaries (the
    concat-and-chunk packer above is the pretraining strategy; this is the
    other one a complete pipeline needs).

    Deterministic next-fit over the shard's docs sorted (tokens DESC, id
    ASC): if the current bin lacks room, a new bin opens — an online
    1-pass rule whose determinism a SQL oracle can replay with a recursive
    CTE (first-fit would need per-bin backtracking state; next-fit on a
    DECREASING order is the standard compromise and is within 2x of
    optimal bin count). Documents longer than ``seq_len`` cannot pack
    whole and are DROPPED (surfaced by comparing input/output doc counts —
    the curation step before packing should have chunked them).

    Output: one row per packed doc — (shard, bin_idx, doc_id, n_tok,
    offset) with offset = token start inside the bin. Scale shape: one
    shuffle onto shards, then a per-shard Arrow kernel whose loop is
    O(docs-in-shard); parallelism = num_shards, the same unit the shard
    writer emits."""
    if seq_len <= 0 or num_shards <= 0:
        raise ValueError("seq_len and num_shards must be positive")
    n_tok = F.size(tokens_expr(F.col(text_col))).cast("long")
    d = (
        df.select(
            F.col(id_col).cast("long").alias("doc_id"),
            # pmod like pack_offsets/pack_ids (review finding: % is
            # sign-of-dividend — negative ids minted shard=-1)
            F.pmod(F.col(id_col), F.lit(num_shards)).cast("long").alias("shard"),
            n_tok.alias("n_tok"),
        )
        .filter((F.col("n_tok") > 0) & (F.col("n_tok") <= seq_len))
    )

    def _nfd(pdf):
        import pandas as pd

        pdf = pdf.sort_values(["n_tok", "doc_id"], ascending=[False, True])
        bins, offs = [], []
        bin_idx, used = 0, 0
        first = True
        for t in pdf["n_tok"]:
            t = int(t)
            if first:
                first = False
                offs.append(0)
                used = t
            elif used + t <= seq_len:
                offs.append(used)
                used += t
            else:
                bin_idx += 1
                offs.append(0)
                used = t
            bins.append(bin_idx)
        out = pdf.copy()
        out["bin_idx"] = pd.Series(bins, index=pdf.index, dtype="int64")
        out["offset"] = pd.Series(offs, index=pdf.index, dtype="int64")
        return out[["shard", "bin_idx", "doc_id", "n_tok", "offset"]]

    return d.groupBy("shard").applyInPandas(
        _nfd, schema="shard long, bin_idx long, doc_id long, n_tok long, offset long"
    )


def pack_nosplit_bins(packed: DataFrame, seq_len: int) -> DataFrame:
    """Per-bin census over ``pack_nosplit`` output: docs, tokens, padding —
    the fill-efficiency numbers that decide whether next-fit's waste is
    acceptable or the corpus needs pre-chunking."""
    return packed.groupBy("shard", "bin_idx").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_tok").cast("long").alias("n_tokens"),
        (F.lit(seq_len) - F.sum("n_tok")).cast("long").alias("padding"),
    )


def pack_ids(
    ids: DataFrame,
    seq_len: int,
    num_shards: int,
    id_col: str = "doc_id",
    pos_col: str = "pos",
    token_id_col: str = "token_id",
) -> DataFrame:
    """MATERIALIZED packed training sequences from an ``bpe.encode_ids``
    frame: every token id placed at its (shard, chunk, position) in the
    concat-and-chunk stream — the actual model-input tensors, where
    pack_offsets/pack_chunks only account for them. Output one row per
    token: (shard, chunk_id, pos_in_chunk, doc_id, token_id); trailing
    partial chunks are dropped per shard (standard pretraining practice —
    a short tail would train on padding).

    Scale shape: doc lengths reduce from the ids frame (one small agg);
    per-shard [start, end) offsets come from a window over DOC-count
    rows (the same deterministic doc_id%shards + per-shard-order
    addressing as pack_offsets); the token-level placement is then a
    broadcastable join + pure integer projection — global position =
    doc start offset + token position, chunk = position div seq_len.
    No corpus-sized shuffle beyond what encode_ids already did; all
    arithmetic exact int64 (positions exceed double's 2^53 at corpus
    scale)."""
    if seq_len <= 0 or num_shards <= 0:
        raise ValueError("seq_len and num_shards must be positive")
    lens = ids.groupBy(id_col).agg((F.max(pos_col) + 1).cast("long").alias("_n"))
    d = lens.select(
        id_col,
        F.pmod(F.col(id_col), F.lit(num_shards)).cast("long").alias("shard"),
        "_n",
    )
    # rowsBetween, not the default RANGE frame: duplicate doc ids are
    # RANGE-peers and would silently claim overlapping stream spans
    # (review finding) — with a ROWS frame duplicates still tile the
    # stream deterministically
    w = (
        Window.partitionBy("shard")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    offs = (
        d.withColumn("_end", F.sum("_n").over(w))
        .withColumn("_start", F.col("_end") - F.col("_n"))
        .withColumn("_shard_total", F.max("_end").over(Window.partitionBy("shard")))
    )
    placed = (
        # NO broadcast hint (review finding): offs is one row PER DOCUMENT
        # — forcing it driver-side OOMs at exactly the corpus scale this
        # function targets; AQE picks broadcast itself when it fits
        ids.join(offs.select(id_col, "shard", "_start", "_shard_total"), id_col)
        .select(
            "shard",
            id_col,
            F.col(token_id_col),
            (F.col("_start") + F.col(pos_col)).alias("_g"),
            "_shard_total",
        )
        .select(
            "shard",
            id_col,
            token_id_col,
            F.expr(f"_g div {seq_len}").alias("chunk_id"),
            F.expr(f"_g % {seq_len}").alias("pos_in_chunk"),
            "_g",
            "_shard_total",
        )
        # full chunks only: the chunk's last position must exist in-shard
        .filter((F.expr(f"_g div {seq_len}") + 1) * seq_len <= F.col("_shard_total"))
    )
    return placed.select("shard", "chunk_id", "pos_in_chunk", id_col, token_id_col)

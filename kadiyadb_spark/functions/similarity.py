"""Similarity search over embedding columns (array<float>).

- cosine_topk: brute-force exact top-k — the correctness baseline. Query set
  broadcast; scan side stays partitioned, so at 100 TB this is a single
  map-side pass + per-query top-k (no all-to-all shuffle).
- ivf_topk: IVF-style approximate search — assign vectors to the nearest of
  C deterministic centroids at index time; probe only the query's nearest
  ``nprobe`` centroid buckets. Turns full scans into bucket scans
  (~C/nprobe x less work), the standard ANN scale path.

All vector math is built-in higher-order functions (zip_with/aggregate),
JVM-side; deterministic so the DuckDB oracle can replicate bit-for-bit
decisions (modulo float rounding, handled by round()).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from kadiyadb_spark.functions.num import round4_expr


def norm_expr(a: Column, dim: int | None = None) -> Column:
    """L2 norm. With ``dim`` known, unrolls to a flat element_at sum —
    higher-order functions (transform/aggregate) are ALWAYS interpreted,
    never whole-stage-codegen'd; the unrolled form compiles. Both forms sum
    left-to-right, so results are bit-identical."""
    if dim is not None:
        out = F.lit(0.0)
        for i in range(1, dim + 1):
            e = F.element_at(a, i)
            out = out + e * e
        return F.sqrt(out)
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, v: acc + v))


def infer_dim(df: DataFrame, vec_col: str) -> int | None:
    """Vector width from the first row (one tiny job); None on empty input."""
    row = df.select(F.size(F.col(vec_col)).alias("d")).first()
    return None if row is None else int(row["d"])


def _collect_matrix(df: DataFrame, id_col: str, vec_col: str):
    """Driver-side (ids, float64 matrix) of a SMALL frame (query sets,
    centroids, or one IVF bucket). Callers must not pass an unbounded table."""
    import numpy as np

    rows = df.select(id_col, vec_col).collect()
    ids = np.array([r[0] for r in rows], dtype=np.int64)
    mat = np.array([list(r[1]) for r in rows], dtype=np.float64)
    return ids, mat


def cosine_scores_pandas(
    base: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    local_topk: int | None = None,
) -> DataFrame:
    """All (query, base) cosine scores via an Arrow-batched mapInPandas
    kernel: the query matrix is broadcast, each base partition computes one
    numpy matmul. This is the vectorized-UDF fast path — per-pair JVM
    expression evaluation (interpreted higher-order functions, or unrolled
    expressions past the JIT's huge-method limit) measured ~6us/pair;
    numpy does the whole block at memory bandwidth.

    ``local_topk``: emit only each Arrow batch's top-k rows per query
    (cos desc, id asc) instead of all batch x queries scores. The global
    top-k over the union of per-batch top-ks is exact, and the rows shipped
    to the final ranking shuffle drop from |base| x |queries| to
    k x batches x |queries| — the difference between shuffling 100 TB of
    scores and a few MB."""
    import numpy as np

    spark = base.sparkSession
    q_ids, q = _collect_matrix(queries, query_id_col, query_vec_col)
    qn = q / np.linalg.norm(q, axis=1, keepdims=True)
    bc = spark.sparkContext.broadcast((q_ids, qn))

    def score(batches):
        import pandas as pd

        qi, qmat = bc.value
        nq = len(qi)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            v = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            vn = v / np.linalg.norm(v, axis=1, keepdims=True)
            s = vn @ qmat.T  # (batch, queries)
            ids = pdf[id_col].to_numpy()
            if local_topk is not None and len(ids) > local_topk:
                parts = []
                for j in range(nq):
                    # same total order as the final window: cos desc, id asc
                    order = np.lexsort((ids, -s[:, j]))[:local_topk]
                    parts.append(
                        pd.DataFrame(
                            {
                                query_id_col: qi[j],
                                id_col: ids[order],
                                "_cos": s[order, j],
                            }
                        )
                    )
                yield pd.concat(parts, ignore_index=True)
            else:
                yield pd.DataFrame(
                    {
                        query_id_col: np.tile(qi, len(ids)),
                        id_col: np.repeat(ids, nq),
                        "_cos": s.ravel(),
                    }
                )

    return base.mapInPandas(
        score, schema=f"{query_id_col} long, {id_col} long, _cos double"
    )


def cosine_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Exact brute-force cosine top-k per query: numpy-scored via
    cosine_scores_pandas (queries broadcast, one matmul per base partition),
    ranked (cosine desc, id asc) for determinism."""
    scored = cosine_scores_pandas(
        emb, queries, id_col, vec_col, query_id_col, query_vec_col, local_topk=k
    )
    w = Window.partitionBy(query_id_col).orderBy(F.col("_cos").desc(), F.col(id_col).asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            query_id_col,
            id_col,
            F.col("rank").cast("long").alias("rank"),
            round4_expr(F.col("_cos")).alias("cosine"),
        )
    )


def _centroid_arrays(centroids: DataFrame):
    """Driver-side (ids asc, NORMALIZED matrix) of the small centroid frame.
    Sorted ascending so a numpy argmax resolves ties to the LOWEST centroid
    id — same total order as `ORDER BY cos DESC, centroid_id ASC`."""
    import numpy as np

    c_ids, cmat = _collect_matrix(centroids, "centroid_id", "centroid_vec")
    order = np.argsort(c_ids)
    c_ids, cmat = c_ids[order], cmat[order]
    return c_ids, cmat / np.linalg.norm(cmat, axis=1, keepdims=True)


def ivf_assign(
    emb: DataFrame,
    centroids: "DataFrame | tuple",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign every vector to its nearest centroid by cosine (ties -> lowest
    centroid id). Output adds ``centroid_id``.

    MAP-SIDE argmax: the (tiny) centroid matrix is broadcast and each Arrow
    batch resolves its nearest centroid in one numpy matmul — zero shuffle,
    zero row inflation. (The obvious crossJoin(centroids) + row_number
    formulation explodes the base table C-fold and then shuffles+sorts all of
    it just to pick a per-row max — at 100 TB that is C x 100 TB through the
    shuffle for a value computable locally.)

    ``centroids`` may be the centroid DataFrame or an already-collected
    ``_centroid_arrays`` (ids, normalized matrix) tuple — IVFIndex.add
    collects the frame once for its own arithmetic and passes the arrays
    through, instead of paying a second collect job here (r14, §1.2)."""
    import numpy as np

    spark = emb.sparkSession
    vec_type = emb.schema[vec_col].dataType.simpleString()
    arrays = (
        centroids if isinstance(centroids, tuple) else _centroid_arrays(centroids)
    )
    bc = spark.sparkContext.broadcast(arrays)

    def assign(batches):
        c_ids, cn = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            v = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            vn = v / np.linalg.norm(v, axis=1, keepdims=True)
            # argmax returns the FIRST max -> lowest centroid id on ties
            nearest = np.argmax(vn @ cn.T, axis=1)
            out = pdf[[id_col, vec_col]].copy()
            out["centroid_id"] = c_ids[nearest]
            yield out

    return emb.select(id_col, vec_col).mapInPandas(
        assign, schema=f"{id_col} long, {vec_col} {vec_type}, centroid_id long"
    )


_IVF_DIRS = ("assigned", "centroids-")
_IVFPQ_DIRS = ("codes", "centroids-", "codebooks-")


def _fold_by_centroid(df: DataFrame, n_centroids: int, dst: str) -> None:
    """Compaction's rewrite for the vector indexes: drop exact-duplicate
    rows (replayed adds) and cluster each centroid bucket into few files."""
    (
        df.distinct()
        .repartition(int(n_centroids), "centroid_id")
        .write.mode("overwrite")
        .partitionBy("centroid_id")
        .parquet(dst)
    )


class IVFIndex:
    """A PERSISTED IVF index: built once, searched many times.

    ``ivf_topk`` re-derives centroids and re-assigns every base vector on
    every call — fine for a one-shot query, wrong shape for a serving index
    (the reference analog: kadiyadb builds its field index once on open, not
    per Fetch — index/index.go:26-65). This class materializes the index:

      <path>/centroids-g<N>/   C rows (centroid_id, centroid_vec)
      <path>/assigned-g<N>/    base table + centroid_id, parquet
                               PARTITIONED BY centroid_id
      <path>/manifest-*.json   generation manifest naming the live
                               assignment dir and the centroid dir
                               (manifest.GenLog) — compaction swaps the
                               pointer atomically instead of the old
                               delete-then-rename, which had a crash
                               window exposing NO index

    A search probes ``nprobe`` buckets per query and reads ONLY those
    partition directories (Spark prunes on the centroid_id filter — verify
    with .explain: PartitionFilters carries the isin()). At 100 TB the scan
    cost per search drops to ~sum(probed bucket sizes); nothing else is
    touched. Scoring reuses the broadcast-query numpy kernel."""

    def __init__(self, spark, path: str, id_col: str = "vec_id", vec_col: str = "embedding"):
        from kadiyadb_spark.manifest import GenLog

        self.spark = spark
        self.path = path
        self.id_col = id_col
        self.vec_col = vec_col
        self._genlog = GenLog(spark, path)

    @staticmethod
    def build(
        emb: DataFrame,
        path: str,
        num_centroids: int = 8,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        centroids: "str | DataFrame" = "deterministic",
    ) -> "IVFIndex":
        """One pass over the base table: map-side centroid argmax, then a
        partitioned write clustered by centroid_id.

        The write repartitions by centroid_id first: a direct partitionBy
        write emits (input partitions x buckets) files — at 1000 executors
        over 100 TB that is a small-files catastrophe, and every later
        probe pays the per-file open cost. One shuffle keyed by bucket buys
        few-large-files-per-bucket layout; a skewed bucket can be split by
        salting the repartition key if a single writer task becomes the
        straggler."""
        spark = emb.sparkSession
        cents = resolve_centroids(emb, num_centroids, centroids, id_col, vec_col)
        idx = IVFIndex(spark, path, id_col, vec_col)
        log = idx._genlog
        m = log.read()
        gen = m["gen"] + 1
        # centroids are generation-named + manifest-referenced like the
        # assignment dir (review finding: the in-place overwrite broke the
        # crash contract on rebuild and fed at_gen-pinned searches NEW
        # centroids against an OLD assignment)
        cdir = f"centroids-g{gen:06d}"
        live = f"assigned-g{gen:06d}"
        cents.write.mode("overwrite").parquet(f"{path}/{cdir}")
        assigned = ivf_assign(emb, cents, id_col, vec_col)
        assigned.repartition(num_centroids, "centroid_id").write.mode("overwrite").partitionBy(
            "centroid_id"
        ).parquet(f"{path}/{live}")
        log.commit(
            {
                "live": live,
                "centroids": cdir,
                "params": {"id_col": id_col, "vec_col": vec_col},
                # written-schema record: readers pin it instead of paying a
                # schema-inference job (a driver footer read) per open —
                # r14, guide §6; add/compact write the same shape and carry
                # this forward through their manifest copies
                "schemas": {
                    "assigned": assigned.schema.json(),
                    "centroids": cents.schema.json(),
                },
            },
            m["gen"],
        )
        log.gc(_IVF_DIRS)
        return idx

    @classmethod
    def open(cls, spark, path: str) -> "IVFIndex":
        """Reopen with the column names recorded at build time (the
        reference's params-on-open contract; see MinHashIndex.open)."""
        idx = cls(spark, path)
        p = idx._genlog.head().get("params")
        if p is None:
            raise ValueError(
                f"index at {path} predates parameter recording; construct "
                "IVFIndex(...) with its build parameters explicitly"
            )
        idx.id_col, idx.vec_col = p["id_col"], p["vec_col"]
        return idx

    def generations(self) -> list[int]:
        """Retained (pinnable) generation numbers, ascending."""
        return self._genlog.retained()

    def assigned(self, at_gen: int | None = None) -> DataFrame:
        return self._genlog.scan(self._genlog.head(at_gen), "assigned")

    def centroids(self, at_gen: int | None = None) -> DataFrame:
        return self._genlog.scan(self._genlog.head(at_gen), "centroids", "centroids")

    def add(self, emb: DataFrame) -> None:
        """APPEND a batch of vectors to the index against the EXISTING
        centroids — continuous ingest for a serving ANN index (same LSM
        shape as MinHashIndex.add / Database.track: cost proportional to
        the batch, nothing rewritten; new files land under the touched
        centroid_id partitions and searches see them immediately through
        partition discovery). Centroids deliberately do NOT retrain here:
        bucket membership of already-indexed vectors must stay stable or
        the partition layout lies; retrain+rebuild is a full build().
        Frequent adds fragment buckets into small files — ``compact`` folds
        them back. Fenced (``GenLog.fenced_append``): a compact that
        swapped mid-append makes the add retry against the new live dir
        instead of losing the batch with the superseded dir's GC."""

        def write(m: dict, live: str) -> None:
            # ONE collect of the tiny centroid frame serves both the
            # partition count and the assignment kernel (r14: the separate
            # cents.count() job + ivf_assign's internal collect were two
            # extra jobs per add)
            arrays = _centroid_arrays(self._genlog.scan(m, "centroids", "centroids"))
            assigned = ivf_assign(emb, arrays, self.id_col, self.vec_col)
            (
                assigned.repartition(len(arrays[0]), "centroid_id")
                .write.mode("append")
                .partitionBy("centroid_id")
                .parquet(live)
            )

        self._genlog.fenced_append(write)

    def compact(self) -> None:
        """Fold appended batches: rewrite the assignment table clustered by
        centroid_id so each bucket is few large files again (per-file open
        cost dominates probed scans otherwise), dropping exact-duplicate
        rows (crash-replayed ``add`` batches). Commit is the generation
        swap (``GenLog.swap``): the previous generation stays fully
        readable through any crash. Single-writer maintenance op; raises
        ConcurrentWriteError if an add's fence commit lands mid-compact
        (retry)."""
        self._genlog.swap(
            lambda m, new: _fold_by_centroid(
                self._genlog.scan(m, "assigned"),
                self._genlog.scan(m, "centroids", "centroids").count(),
                new,
            ),
            "assigned",
            _IVF_DIRS,
        )

    def search(
        self,
        queries: DataFrame,
        k: int = 5,
        nprobe: int = 2,
        query_id_col: str = "query_id",
        query_vec_col: str = "query_vec",
        at_gen: int | None = None,
    ) -> DataFrame:
        """Partition-pruned probe + score: identical results to ivf_topk with
        the same centroids (same probe order: cos desc, centroid_id asc).
        ``at_gen`` pins a retained generation so a long search cannot have
        its directory GC'd by a concurrent ``compact``."""
        import numpy as np
        import pandas as pd

        c_ids, cn = _centroid_arrays(self.centroids(at_gen))
        q_ids, q = _collect_matrix(queries, query_id_col, query_vec_col)
        qn = q / np.linalg.norm(q, axis=1, keepdims=True)
        qc = qn @ cn.T
        # per-query probed centroid ids (tie order: cos desc, centroid_id asc)
        probed = [c_ids[np.lexsort((c_ids, -qc[j]))[:nprobe]] for j in range(len(q_ids))]
        union_ids = sorted({int(c) for p in probed for c in p})
        probe_sets = [set(int(c) for c in p) for p in probed]
        bc = self.spark.sparkContext.broadcast((q_ids, qn, probe_sets))

        scan = self.assigned(at_gen).filter(
            F.col("centroid_id").isin(union_ids)  # -> PartitionFilters: bucket dirs only
        )
        id_col, vec_col = self.id_col, self.vec_col

        def score(batches):
            qi, qmat, probes = bc.value
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                v = np.array(pdf[vec_col].tolist(), dtype=np.float64)
                vn = v / np.linalg.norm(v, axis=1, keepdims=True)
                s = vn @ qmat.T
                ids = pdf[id_col].to_numpy()
                cents_of_row = pdf["centroid_id"].to_numpy()
                parts = []
                for j in range(len(qi)):
                    hit = np.isin(cents_of_row, list(probes[j]))
                    if not hit.any():
                        continue
                    hids, hcos = ids[hit], s[hit, j]
                    order = np.lexsort((hids, -hcos))[:k]
                    parts.append(
                        pd.DataFrame({query_id_col: qi[j], id_col: hids[order], "_cos": hcos[order]})
                    )
                if parts:
                    yield pd.concat(parts, ignore_index=True)

        scored = scan.select(id_col, vec_col, "centroid_id").mapInPandas(
            score, schema=f"{query_id_col} long, {id_col} long, _cos double"
        )
        w = Window.partitionBy(query_id_col).orderBy(F.col("_cos").desc(), F.col(id_col).asc())
        return (
            scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(
                query_id_col,
                id_col,
                F.col("rank").cast("long").alias("rank"),
                round4_expr(F.col("_cos")).alias("cosine"),
            )
        )


def lsh_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    nbits: int = 6,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Approximate top-k via random-hyperplane LSH: bucket = the sign-bit
    string of dot products against ``nbits`` fixed hyperplanes (the
    ``nbits`` lowest-id base vectors — deterministic, so the oracle can
    reproduce every bucket). Each query probes its own bucket plus all
    hamming-distance-1 neighbors (multi-probe, flips one bit at a time).

    Same fused single-map-pass shape as ivf_topk: bucketing, probe masking,
    scoring and batch-local top-k happen per Arrow batch against broadcast
    hyperplane/query matrices; the only shuffle ranks the pruned candidates.
    2^nbits buckets cut scored pairs by ~(nbits+1)/2^nbits."""
    import numpy as np

    spark = emb.sparkSession
    hyper = (
        emb.orderBy(F.col(id_col).asc())
        .limit(nbits)
        .select(F.col(id_col).alias("centroid_id"), F.col(vec_col).cast("array<double>").alias("centroid_vec"))
    )
    h_ids, hmat = _collect_matrix(hyper, "centroid_id", "centroid_vec")
    hmat = hmat[np.argsort(h_ids)]  # bit j = lowest-id hyperplane first
    # a base smaller than nbits yields fewer hyperplanes — derive the real
    # bit count from the matrix (review finding: the driver-side bucketing
    # hardcoded nbits and crashed on shape mismatch)
    nbits = hmat.shape[0]
    q_ids, q = _collect_matrix(queries, query_id_col, query_vec_col)
    qn = q / np.linalg.norm(q, axis=1, keepdims=True)

    def buckets_of(m):
        bits = (m @ hmat.T >= 0).astype(np.int64)  # (rows, nbits)
        return bits @ (1 << np.arange(nbits, dtype=np.int64))

    qb = buckets_of(q)
    # probe sets: own bucket + every single-bit flip
    probe_sets = [
        {int(qb[j])} | {int(qb[j]) ^ (1 << b) for b in range(nbits)} for j in range(len(q_ids))
    ]
    bc = spark.sparkContext.broadcast((hmat, q_ids, qn, probe_sets))

    def score(batches):
        import pandas as pd

        hm, qi, qmat, probes = bc.value
        nb = hm.shape[0]
        for pdf in batches:
            if len(pdf) == 0:
                continue
            v = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            bits = (v @ hm.T >= 0).astype(np.int64)
            bkt = bits @ (1 << np.arange(nb, dtype=np.int64))
            vn = v / np.linalg.norm(v, axis=1, keepdims=True)
            s = vn @ qmat.T
            ids = pdf[id_col].to_numpy()
            parts = []
            for j in range(len(qi)):
                hit = np.isin(bkt, list(probes[j]))
                if not hit.any():
                    continue
                hids, hcos = ids[hit], s[hit, j]
                order = np.lexsort((hids, -hcos))[:k]
                parts.append(pd.DataFrame({query_id_col: qi[j], id_col: hids[order], "_cos": hcos[order]}))
            if parts:
                yield pd.concat(parts, ignore_index=True)

    scored = emb.select(id_col, vec_col).mapInPandas(
        score, schema=f"{query_id_col} long, {id_col} long, _cos double"
    )
    w = Window.partitionBy(query_id_col).orderBy(F.col("_cos").desc(), F.col(id_col).asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            query_id_col,
            id_col,
            F.col("rank").cast("long").alias("rank"),
            round4_expr(F.col("_cos")).alias("cosine"),
        )
    )


def deterministic_centroids(
    emb: DataFrame, num: int = 8, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Deterministic pseudo-centroids: the ``num`` lowest-id vectors —
    bit-reproducible by the SQL oracle, which is what the correctness gate
    needs. On clustered real embeddings this skews bucket sizes and costs
    recall; production indexes should pass ``centroids="kmeans"`` (or a
    pre-trained centroid frame) to ``ivf_topk``/``IVFIndex.build``."""
    return (
        emb.orderBy(F.col(id_col).asc())
        .limit(num)
        .select(
            F.col(id_col).alias("centroid_id"),
            F.col(vec_col).cast("array<double>").alias("centroid_vec"),
        )
    )


def kmeans_centroids(
    emb: DataFrame,
    num: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    max_iter: int = 20,
) -> DataFrame:
    """TRAINED centroids via Spark ML KMeans (fixed seed): the recall path
    for IVF on clustered data — buckets follow the embedding distribution
    instead of whichever vectors happen to carry the lowest ids, so a
    query's nprobe buckets actually contain its neighbors.

    Scale notes: KMeans|| init + Lloyd iterations are each one map-reduce
    over the vectors (distributed, no driver materialization of the data);
    only the k centers come back to the driver. Train once per index build,
    never per query. Returns the same (centroid_id, centroid_vec) frame
    shape as deterministic_centroids, with ids 0..k-1."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    feats = emb.select(array_to_vector(F.col(vec_col).cast("array<double>")).alias("features"))
    model = KMeans(k=num, seed=seed, maxIter=max_iter).fit(feats)
    spark = emb.sparkSession
    return spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())],
        schema="centroid_id long, centroid_vec array<double>",
    )


def resolve_centroids(
    emb: DataFrame,
    num_centroids: int,
    centroids: "str | DataFrame" = "deterministic",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Centroid strategy switch shared by ivf_topk / IVFIndex.build /
    embedding_near_duplicates: "deterministic" (oracle-reproducible
    default), "kmeans" (trained, the recall path), or a caller-provided
    (centroid_id, centroid_vec) DataFrame."""
    if isinstance(centroids, DataFrame):
        return centroids
    if centroids == "deterministic":
        return deterministic_centroids(emb, num_centroids, id_col, vec_col)
    if centroids == "kmeans":
        return kmeans_centroids(emb, num_centroids, id_col, vec_col)
    raise ValueError(f"unknown centroid strategy: {centroids!r}")


def ivf_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    num_centroids: int = 8,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    centroids: "str | DataFrame" = "deterministic",
) -> DataFrame:
    """Approximate top-k: search only the ``nprobe`` centroid buckets nearest
    to each query. ``centroids``: "deterministic" (oracle default),
    "kmeans" (trained — the recall path on clustered data), or a frame.

    Single map pass, no joins: the centroid and query matrices are both tiny
    and broadcast, so each Arrow batch of the base table (a) resolves its
    rows' nearest centroids, (b) scores rows against every query, (c) masks
    rows whose centroid the query does not probe, and (d) keeps only the
    batch-local top-k per query. The only shuffle is the final ranking over
    ~k x batches x |queries| candidate rows. At 100 TB this is one scan of
    the base table with ~nprobe/C of the pairs scored and a trivial shuffle;
    a real deployment would persist ivf_assign's output partitioned by
    centroid_id once and skip (a) per query."""
    import numpy as np

    spark = emb.sparkSession
    cents = resolve_centroids(emb, num_centroids, centroids, id_col, vec_col)
    c_ids, cn = _centroid_arrays(cents)
    q_ids, q = _collect_matrix(queries, query_id_col, query_vec_col)
    qn = q / np.linalg.norm(q, axis=1, keepdims=True)

    # Probe selection on the driver (|queries| x C — tiny): same total order
    # as the oracle's `ORDER BY cos DESC, centroid_id ASC`.
    qc = qn @ cn.T
    probes = np.stack(
        [np.isin(np.arange(len(c_ids)), np.lexsort((c_ids, -qc[j]))[:nprobe]) for j in range(len(q_ids))]
    )  # (queries, centroids) bool
    bc = spark.sparkContext.broadcast((c_ids, cn, q_ids, qn, probes))

    def score(batches):
        import pandas as pd

        cids, cmat, qi, qmat, probe_mask = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            v = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            vn = v / np.linalg.norm(v, axis=1, keepdims=True)
            nearest = np.argmax(vn @ cmat.T, axis=1)  # centroid INDEX per row
            s = vn @ qmat.T  # (batch, queries)
            ids = pdf[id_col].to_numpy()
            parts = []
            for j in range(len(qi)):
                hit = probe_mask[j][nearest]  # rows in a probed bucket
                if not hit.any():
                    continue
                hids, hcos = ids[hit], s[hit, j]
                order = np.lexsort((hids, -hcos))[:k]  # cos desc, id asc
                parts.append(pd.DataFrame({query_id_col: qi[j], id_col: hids[order], "_cos": hcos[order]}))
            if parts:
                yield pd.concat(parts, ignore_index=True)

    scored = emb.select(id_col, vec_col).mapInPandas(
        score, schema=f"{query_id_col} long, {id_col} long, _cos double"
    )
    w = Window.partitionBy(query_id_col).orderBy(F.col("_cos").desc(), F.col(id_col).asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            query_id_col,
            id_col,
            F.col("rank").cast("long").alias("rank"),
            round4_expr(F.col("_cos")).alias("cosine"),
        )
    )


# ------------------------------------------------------------------ PQ (ADC)

def pq_codebooks(
    emb: DataFrame,
    m: int = 4,
    ksub: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Deterministic product-quantization codebooks: split the embedding
    dimension into ``m`` contiguous subspaces and use the ``ksub`` lowest-id
    vectors' subvectors as each subspace's centroids (codes 0..ksub-1 in id
    order) — bit-reproducible by the SQL oracle, same trade as
    deterministic_centroids. Production recall wants per-subspace k-means:
    pass ``codebooks="kmeans"`` to pq_topk/ivfpq_topk/IVFPQIndex.build
    (pq_codebooks_kmeans — trains on a bounded sample; only m*ksub*dsub
    floats come back) without touching assign/search.

    Returns (codebook ndarray [m, ksub, dsub], dim). Driver memory is
    m*ksub*dsub doubles — KBs."""
    import numpy as np

    rows = (
        emb.orderBy(F.col(id_col).asc())
        .limit(ksub)
        .select(F.col(vec_col).cast("array<double>"))
        .collect()
    )
    if not rows:
        raise ValueError("pq_codebooks: empty base table")
    mat = np.array([list(r[0]) for r in rows], dtype=np.float64)  # ksub x dim
    dim = mat.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    dsub = dim // m
    if len(mat) < ksub:  # degenerate tiny base: pad by repetition (review
        mat = np.resize(mat, (ksub, dim))  # finding — siblings already did)
    # [m, ksub, dsub]: subspace-major view of the ksub chosen vectors
    return mat.reshape(ksub, m, dsub).transpose(1, 0, 2).copy(), dim


def _lloyd_subspaces(x: "np.ndarray", m: int, ksub: int, iters: int) -> "np.ndarray":
    """Per-subspace deterministic Lloyd's k-means over a sample matrix
    (n x dim): greedy farthest-point (maximin) init — first subvector,
    then repeatedly the point maximizing its distance to the chosen set
    (lowest index on ties) — fixed iteration count, argmin-first
    tie-break, empty clusters keep their center. No RNG anywhere, so a
    retrain on the same sample is bit-identical. Maximin matters: the
    sample is id-ordered and real corpora cluster, so "first ksub
    subvectors" can all land in ONE cluster and Lloyd never escapes it
    (observed: recall@5 0.45 vs 0.95 on the adversarial fixture). Shared
    by raw-kmeans and residual codebook training."""
    import numpy as np

    dim = x.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    dsub = dim // m
    sub = x.reshape(len(x), m, dsub)
    C = np.empty((m, ksub, dsub))
    for j in range(m):
        xs = sub[:, j, :]
        k_eff = min(ksub, len(xs))
        cent = np.empty((k_eff, dsub))
        cent[0] = xs[0]
        mind2 = ((xs - cent[0]) ** 2).sum(axis=1)
        for i in range(1, k_eff):
            cent[i] = xs[int(np.argmax(mind2))]  # argmax: first max wins
            mind2 = np.minimum(mind2, ((xs - cent[i]) ** 2).sum(axis=1))
        if k_eff < ksub:  # degenerate tiny sample: pad by repetition
            cent = np.resize(cent, (ksub, dsub))
        for _ in range(iters):
            d2 = ((xs[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
            a = np.argmin(d2, axis=1)
            for kk in range(ksub):
                hit = a == kk
                if hit.any():
                    cent[kk] = xs[hit].mean(axis=0)
        C[j] = cent
    return C


def pq_codebooks_kmeans(
    emb: DataFrame,
    m: int = 4,
    ksub: int = 8,
    sample: int = 1024,
    iters: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """TRAINED raw-vector PQ codebooks (the recall path pq_codebooks'
    docstring promises): per-subspace Lloyd's k-means over a BOUNDED,
    deterministic sample — the ``sample`` lowest-id vectors, one driver
    collect of sample x dim doubles (MBs). On clustered embeddings the
    deterministic codebooks (subvectors of the ksub lowest-id vectors) can
    all come from one cluster and quantize everything else coarsely;
    trained centers follow each subspace's distribution. Returns
    (codebook [m, ksub, dsub], dim) — drop-in for pq_codebooks without
    touching assign/search (recall pinned in tests/test_ivf_recall.py;
    deterministic stays the SQL-gated default)."""
    _ids, v = _collect_matrix(
        emb.orderBy(F.col(id_col).asc()).limit(sample), id_col, vec_col
    )
    return _lloyd_subspaces(v, m, ksub, iters), v.shape[1]


def resolve_pq_codebooks(
    emb: DataFrame,
    m: int,
    ksub: int,
    codebooks="deterministic",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Codebook strategy switch shared by pq_topk / ivfpq_topk /
    IVFPQIndex.build (raw coding): "deterministic" (oracle-reproducible
    default), "kmeans" (trained, the recall path), or a caller-provided
    ([m, ksub, dsub] ndarray, dim) pair / bare ndarray."""
    import numpy as np

    if isinstance(codebooks, tuple):
        C, dim = codebooks
        return np.asarray(C, dtype=np.float64), int(dim)
    if isinstance(codebooks, np.ndarray):
        return codebooks.astype(np.float64), codebooks.shape[0] * codebooks.shape[2]
    if codebooks == "deterministic":
        return pq_codebooks(emb, m, ksub, id_col, vec_col)
    if codebooks == "kmeans":
        return pq_codebooks_kmeans(emb, m, ksub, id_col=id_col, vec_col=vec_col)
    raise ValueError(f"unknown PQ codebook strategy: {codebooks!r}")


def _residual_sample(
    emb: DataFrame, centroids: DataFrame, n: int, id_col: str, vec_col: str
) -> "np.ndarray":
    """Residual matrix of the ``n`` LOWEST-ID vectors vs their cosine-argmax
    centroid (ivf_assign's rule) — the ONE sample/residual construction
    shared by all three residual-codebook trainers (a tie-break or
    assignment fix must hit every trainer and the SQL oracle at once)."""
    import numpy as np

    _ids, v = _collect_matrix(
        emb.orderBy(F.col(id_col).asc()).limit(n), id_col, vec_col
    )
    c_ids, craw = _collect_matrix(centroids, "centroid_id", "centroid_vec")
    craw = craw[np.argsort(c_ids)]
    cn = craw / np.linalg.norm(craw, axis=1, keepdims=True)
    vn = v / np.linalg.norm(v, axis=1, keepdims=True)
    nearest = np.argmax(vn @ cn.T, axis=1)  # same assignment rule as ivf_assign
    return v - craw[nearest]


def pq_codebooks_residual(
    emb: DataFrame,
    centroids: DataFrame,
    m: int = 4,
    ksub: int = 8,
    sample: int = 1024,
    iters: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Residual PQ codebooks (Jégou et al. 2011 §IV): train each subspace's
    ``ksub`` centers on RESIDUALS v - centroid(v) instead of raw vectors.
    Residuals are centered near zero and far lower-variance than the raw
    distribution, so the same code budget quantizes them much more finely —
    the FAISS-standard recall refinement over raw coding.

    Training is per-subspace Lloyd's k-means in numpy over a BOUNDED,
    deterministic sample (the ``sample`` lowest-id vectors — one driver
    collect of sample x dim doubles, MBs; codebooks shared across buckets,
    so one global train suffices). Deterministic maximin init, fixed
    iteration count, argmin-first tie-break — fully deterministic, no RNG
    (see _lloyd_subspaces). Empty clusters keep their previous center.

    Returns (codebook [m, ksub, dsub], dim)."""
    r = _residual_sample(emb, centroids, sample, id_col, vec_col)
    return _lloyd_subspaces(r, m, ksub, iters), r.shape[1]


def _lloyd_subspaces_q(x: "np.ndarray", m: int, ksub: int, iters: int) -> "np.ndarray":
    """QUANTIZED per-subspace deterministic Lloyd — the cross-engine-exact
    sibling of ``_lloyd_subspaces`` (VERDICT r12 item 4): every distance is
    the exact integer sum of floor((a-b)^2 * 1e8 + 0.5) terms and every
    centroid update is exact integer sums of floor(v * 1e6 + 0.5) with ONE
    double division — the same device as cluster._lloyd, so a SQL engine
    replays init, assignment and updates bit-identically. Greedy maximin
    init on the quantized distances (first-max ties = lowest sample row),
    argmin-first assignment ties, empty clusters keep their center."""
    import numpy as np

    dim = x.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    dsub = dim // m
    sub = x.reshape(len(x), m, dsub)

    def dq(xs, c):
        # exact int64: inputs are bit-identical doubles in both engines
        return np.floor((xs - c[None, :]) ** 2 * 1e8 + 0.5).astype(np.int64).sum(axis=1)

    C = np.empty((m, ksub, dsub))
    for j in range(m):
        xs = sub[:, j, :]
        k_eff = min(ksub, len(xs))
        cent = np.empty((k_eff, dsub))
        cent[0] = xs[0]
        mind = dq(xs, cent[0])
        for i in range(1, k_eff):
            cent[i] = xs[int(np.argmax(mind))]  # first max wins
            mind = np.minimum(mind, dq(xs, cent[i]))
        if k_eff < ksub:  # degenerate tiny sample: pad by repetition
            cent = np.resize(cent, (ksub, dsub))
        for _ in range(iters):
            d = np.stack([dq(xs, cent[kk]) for kk in range(ksub)], axis=1)
            a = np.argmin(d, axis=1)  # ties -> lowest code
            for kk in range(ksub):
                hit = a == kk
                if hit.any():
                    s = np.floor(xs[hit] * 1e6 + 0.5).astype(np.int64).sum(axis=0)
                    cent[kk] = s / (1e6 * int(hit.sum()))
        C[j] = cent
    return C


def pq_codebooks_residual_lloyd(
    emb: DataFrame,
    centroids: DataFrame,
    m: int = 4,
    ksub: int = 8,
    sample: int = 1024,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """TRAINED residual PQ codebooks whose training a SQL engine replays
    EXACTLY (VERDICT r12 item 4): same sample/residual construction as
    ``pq_codebooks_residual`` but fitted with the quantized Lloyd
    (``_lloyd_subspaces_q``) — greedy maximin init and every iteration on
    exact-integer quantized arithmetic, so the ivfpq residual entry can
    carry a full value-hash oracle instead of the rows-only check the
    float-Lloyd variant needs. Quantization of the TRAINER (1e-8-scaled
    distances, 1e-6-scaled center sums) is far below residual scale —
    recall vs the float trainer is pinned adjacent in
    tests/test_ivf_recall.py. Returns (codebook [m, ksub, dsub], dim)."""
    r = _residual_sample(emb, centroids, sample, id_col, vec_col)
    return _lloyd_subspaces_q(r, m, ksub, iters), r.shape[1]


def pq_codebooks_residual_det(
    emb: DataFrame,
    centroids: DataFrame,
    m: int = 4,
    ksub: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """DETERMINISTIC residual PQ codebooks — the residual-coding analog of
    ``pq_codebooks``: codebook ``j``'s entries are subspace-``j`` slices of
    the residuals v - centroid(v) of the ``ksub`` LOWEST-ID vectors (cosine
    assignment, the ivf_assign rule). No training iterations, no RNG —
    every step (ORDER BY id LIMIT ksub, argmax-cosine assignment, vector
    subtraction, slicing) is replayable as plain SQL, which is what lets a
    residual-coded IVFPQ entry carry a full value-hash oracle instead of a
    rows-only check. Quantizes more coarsely than the Lloyd-trained
    ``pq_codebooks_residual`` (the recall path, pinned in
    tests/test_ivf_recall.py) but still centers codes on the bucket's
    residual distribution. Returns (codebook [m, ksub, dsub], dim)."""
    import numpy as np

    r = _residual_sample(emb, centroids, ksub, id_col, vec_col)
    dim = r.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    dsub = dim // m
    if len(r) < ksub:  # degenerate tiny base: pad by repetition like pq_codebooks
        r = np.resize(r, (ksub, dim))
    return r.reshape(ksub, m, dsub).transpose(1, 0, 2).copy(), dim


def resolve_residual_codebooks(
    emb: DataFrame,
    cents: DataFrame,
    m: int,
    ksub: int,
    codebooks,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Residual codebook strategy switch shared by ivfpq_topk and
    IVFPQIndex.build (review finding: build was missing the 'lloyd'
    branch, so the SQL-replayable trained path could not be persisted):
    "kmeans" = float-Lloyd trained (FAISS recall path), "lloyd" =
    quantized-Lloyd trained (exact SQL replay), "deterministic" =
    first-ksub residual slices, anything else = caller-provided arrays."""
    if codebooks == "kmeans":
        return pq_codebooks_residual(emb, cents, m, ksub, id_col=id_col, vec_col=vec_col)
    if codebooks == "lloyd":
        return pq_codebooks_residual_lloyd(emb, cents, m, ksub, id_col=id_col, vec_col=vec_col)
    if codebooks == "deterministic":
        return pq_codebooks_residual_det(emb, cents, m, ksub, id_col=id_col, vec_col=vec_col)
    return resolve_pq_codebooks(emb, m, ksub, codebooks, id_col, vec_col)


def pq_assign(
    emb: DataFrame,
    codebooks,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """PQ-encode every vector: per subspace, the code of the L2-nearest
    centroid (ties -> lowest code; numpy argmin picks the first, same total
    order as the oracle's ``ORDER BY d2 ASC, code ASC``). Output is
    (id, codes array<long>) — m small ints per vector, the ~dsub*8/1-byte
    compression that lets a 100 TB embedding column sit in ~100s of GB of
    codes for ADC scanning.

    Map-side only: the codebook broadcasts, each Arrow batch computes its
    [batch, ksub] distance matrix per subspace in one vectorized pass."""
    import numpy as np

    spark = emb.sparkSession
    cb = codebooks if isinstance(codebooks, np.ndarray) else codebooks[0]
    bc = spark.sparkContext.broadcast(cb)

    def assign(batches):
        import pandas as pd

        C = bc.value  # [m, ksub, dsub]
        m, ksub, dsub = C.shape
        for pdf in batches:
            if len(pdf) == 0:
                continue
            v = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            sub = v.reshape(len(v), m, dsub)
            codes = np.empty((len(v), m), dtype=np.int64)
            for j in range(m):
                # [batch, ksub] squared L2; argmin = first (lowest code)
                d2 = ((sub[:, j, None, :] - C[j][None, :, :]) ** 2).sum(axis=2)
                codes[:, j] = np.argmin(d2, axis=1)
            yield pd.DataFrame({id_col: pdf[id_col].values, "codes": list(codes)})

    return emb.select(id_col, vec_col).mapInPandas(
        assign, schema=f"{id_col} long, codes array<long>"
    )


def pq_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    m: int = 4,
    ksub: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    codebooks="deterministic",
) -> DataFrame:
    """Approximate top-k by PRODUCT QUANTIZATION with asymmetric distance
    computation (Jégou et al. 2011, the FAISS IVF-PQ scan kernel): base
    vectors are m-code words; each query precomputes one [m, ksub] table of
    subspace dot products against the codebook, and a vector's approximate
    score is m table lookups — no base vector is ever touched at query time.

    score = cos(query, reconstruction(codes)): sum_j T[j, code_j] over
    (|q| * sqrt(sum_j |centroid_{j,code_j}|^2)). Exactly reproducible by
    the SQL oracle because codebooks are deterministic.

    Scale shape: after a one-off encode pass (map-side, see pq_assign), the
    scan reads ONLY (id, m codes) — a 64-dim float32 vector (256 B) becomes
    m=4 codes; the 100 TB column scans as ~2 TB of codes, memory-bandwidth
    bound, zero shuffle until the k x batches x |queries| ranking rows.
    Composes with IVF (probe buckets, ADC-score inside) for the standard
    IVF-PQ index."""
    import numpy as np

    spark = emb.sparkSession
    C, dim = resolve_pq_codebooks(emb, m, ksub, codebooks, id_col, vec_col)
    coded = pq_assign(emb, C, id_col, vec_col)

    q_ids, q = _collect_matrix(queries, query_id_col, query_vec_col)
    dsub = dim // m
    qsub = q.reshape(len(q_ids), m, dsub)
    # T[qi, j, code] = dot(qsub, centroid); n2[j, code] = |centroid|^2
    T = np.einsum("qjd,jkd->qjk", qsub, C)
    n2 = (C**2).sum(axis=2)
    qn = np.linalg.norm(q, axis=1)
    bc = spark.sparkContext.broadcast((q_ids, T, n2, qn))

    def adc(batches):
        import pandas as pd

        qi, Tt, nn2, qnorm = bc.value
        nq, mm, _ = Tt.shape
        cols = np.arange(mm)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            codes = np.array(pdf["codes"].tolist(), dtype=np.int64)  # [b, m]
            ids = pdf[id_col].to_numpy()
            # zero-reconstruction clamp (same as residual mode): an all-zero
            # codeword set would score inf/NaN and rank first (review finding)
            rnorm = np.sqrt(np.maximum(nn2[cols, codes].sum(axis=1), 1e-300))  # [b]
            parts = []
            for j in range(nq):
                adot = Tt[j][cols, codes].sum(axis=1)  # m lookups per vector
                # Rank on the ROUNDED score: vectors sharing a code word have
                # mathematically equal scores, but FP summation order makes
                # them differ in the last ulp per engine — ranking raw values
                # would bypass the id tie-break nondeterministically. Rounding
                # first restores a total order both engines agree on.
                s = np.floor(adot / (qnorm[j] * rnorm) * 10000 + 0.5) / 10000
                order = np.lexsort((ids, -s))[:k]  # cos desc, id asc
                parts.append(
                    pd.DataFrame({query_id_col: qi[j], id_col: ids[order], "_cos": s[order]})
                )
            yield pd.concat(parts, ignore_index=True)

    scored = coded.mapInPandas(adc, schema=f"{query_id_col} long, {id_col} long, _cos double")
    w = Window.partitionBy(query_id_col).orderBy(F.col("_cos").desc(), F.col(id_col).asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            query_id_col,
            id_col,
            F.col("rank").cast("long").alias("rank"),
            round4_expr(F.col("_cos")).alias("approx_cos"),
        )
    )


def ivfpq_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    num_centroids: int = 8,
    nprobe: int = 2,
    m: int = 4,
    ksub: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    centroids: "str | DataFrame" = "deterministic",
    residual: bool = False,
    codebooks="deterministic",
) -> DataFrame:
    """IVF-PQ: the two approximations composed the way FAISS composes them —
    IVF restricts WHICH vectors are scored (each query probes its ``nprobe``
    nearest centroid buckets), PQ restricts WHAT is read to score them
    (m codes per vector + per-query lookup tables; see pq_topk). This is
    the standard billion-scale ANN serving index: at 100 TB the probed
    fraction (~nprobe/C) of a ~50x-compressed code column is all a query
    touches.

    Variant note: by default codes quantize the RAW vector (IVFFlat+PQ) so
    the SQL oracle stays the composition of the two tested pieces.
    ``residual=True`` switches to FAISS-standard residual coding: codes
    quantize v - centroid(v) under codebooks TRAINED on the residual
    distribution (pq_codebooks_residual) — residuals are near-zero-mean and
    low-variance, so the same m x ksub budget reconstructs far more finely.
    score stays cos(q, reconstruction) with reconstruction = centroid +
    decode(codes); the cross terms dot(q, centroid) and |centroid +
    decode|^2 come from per-bucket lookup tables precomputed on the driver
    (C x m x ksub doubles — KBs, broadcast), so the scan kernel is still m
    table lookups per vector. Recall improvement is pinned by
    tests/test_ivf_recall.py; the raw mode's exact SQL oracle does not
    extend to residual mode (trained codebooks), which is why raw stays
    the gated default.

    Single fused map pass over the base table: each Arrow batch resolves
    (a) its rows' nearest centroid (bucket), (b) their PQ codes, then per
    query (c) masks unprobed buckets and (d) ADC-scores the survivors via
    m table lookups, yielding batch-local top-k. Only the final
    k x batches x |queries| ranking shuffles. A persisted deployment is
    IVFIndex.build storing (id, codes) partitioned by centroid_id —
    partition-pruned probes over codes, never vectors."""
    import numpy as np

    spark = emb.sparkSession
    cents = resolve_centroids(emb, num_centroids, centroids, id_col, vec_col)
    c_ids, cn = _centroid_arrays(cents)
    q_ids, q = _collect_matrix(queries, query_id_col, query_vec_col)
    qn_unit = q / np.linalg.norm(q, axis=1, keepdims=True)
    qc = qn_unit @ cn.T
    probes = np.stack(
        [
            np.isin(np.arange(len(c_ids)), np.lexsort((c_ids, -qc[j]))[:nprobe])
            for j in range(len(q_ids))
        ]
    )  # (queries, centroids) bool
    if residual:
        C, dim = resolve_residual_codebooks(emb, cents, m, ksub, codebooks, id_col, vec_col)
        cid2, craw = _collect_matrix(cents, "centroid_id", "centroid_vec")
        craw = craw[np.argsort(cid2)]  # id-ascending, same order as cn
        dsub = dim // m
        # cross-term tables, all bucket-indexed in id-ascending order:
        # B[b, j, code] = dot(centroid_b subspace j, codebook[j, code])
        B = np.einsum("bjd,jkd->bjk", craw.reshape(len(craw), m, dsub), C)
        cnorm2 = (craw**2).sum(axis=1)
        qc_raw = q @ craw.T  # [nq, C] dot(raw query, raw centroid)
    else:
        C, dim = resolve_pq_codebooks(emb, m, ksub, codebooks, id_col, vec_col)
        dsub = dim // m
        B = cnorm2 = qc_raw = None
        craw = None
    T = np.einsum("qjd,jkd->qjk", q.reshape(len(q_ids), m, dsub), C)
    n2 = (C**2).sum(axis=2)
    qnorm = np.linalg.norm(q, axis=1)
    bc = spark.sparkContext.broadcast(
        (cn, q_ids, probes, C, T, n2, qnorm, craw, B, cnorm2, qc_raw)
    )

    def score(batches):
        import pandas as pd

        cmat, qi, probe_mask, Cb, Tt, nn2, qno, crawb, Bb, cn2, qcr = bc.value
        res = crawb is not None
        mm = Cb.shape[0]
        cols = np.arange(mm)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            v = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            vn = v / np.linalg.norm(v, axis=1, keepdims=True)
            nearest = np.argmax(vn @ cmat.T, axis=1)  # bucket per row
            enc = (v - crawb[nearest]) if res else v  # residual or raw coding
            sub = enc.reshape(len(v), mm, Cb.shape[2])
            codes = np.empty((len(v), mm), dtype=np.int64)
            for j in range(mm):
                d2 = ((sub[:, j, None, :] - Cb[j][None, :, :]) ** 2).sum(axis=2)
                codes[:, j] = np.argmin(d2, axis=1)
            if res:
                # |centroid + decode(codes)|^2 via the per-bucket cross table
                rn2 = (
                    cn2[nearest]
                    + 2.0 * Bb[nearest[:, None], cols[None, :], codes].sum(axis=1)
                    + nn2[cols, codes].sum(axis=1)
                )
                rnorm = np.sqrt(np.maximum(rn2, 1e-300))
            else:
                rnorm = np.sqrt(np.maximum(nn2[cols, codes].sum(axis=1), 1e-300))
            ids = pdf[id_col].to_numpy()
            parts = []
            for j in range(len(qi)):
                hit = probe_mask[j][nearest]
                if not hit.any():
                    continue
                adot = Tt[j][cols, codes[hit]].sum(axis=1)
                if res:
                    adot = adot + qcr[j, nearest[hit]]
                # rounded BEFORE ranking: equal-code-word vectors tie exactly
                # and fall through to the id tie-break (see pq_topk)
                s = np.floor(adot / (qno[j] * rnorm[hit]) * 10000 + 0.5) / 10000
                hids = ids[hit]
                order = np.lexsort((hids, -s))[:k]
                parts.append(
                    pd.DataFrame({query_id_col: qi[j], id_col: hids[order], "_cos": s[order]})
                )
            if parts:
                yield pd.concat(parts, ignore_index=True)

    scored = emb.select(id_col, vec_col).mapInPandas(
        score, schema=f"{query_id_col} long, {id_col} long, _cos double"
    )
    w = Window.partitionBy(query_id_col).orderBy(F.col("_cos").desc(), F.col(id_col).asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            query_id_col,
            id_col,
            F.col("rank").cast("long").alias("rank"),
            round4_expr(F.col("_cos")).alias("approx_cos"),
        )
    )


def ivfpq_refined_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    rerank: int = 3,
    num_centroids: int = 8,
    nprobe: int = 2,
    m: int = 4,
    ksub: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    centroids: "str | DataFrame" = "deterministic",
    residual: bool = False,
    codebooks="deterministic",
) -> DataFrame:
    """IVFPQ + exact refine (the FAISS ``IndexRefineFlat`` deployment): the
    ADC scan shortlists ``k*rerank`` candidates per query from CODES alone,
    then ONLY those ids are re-scored against their full vectors with exact
    cosine and re-ranked. Recall of the refined top-k approaches exact
    search while the base scan still never touches a vector — at 100 TB the
    heavy pass reads the ~50x-compressed probed code partitions, and the
    refine touches k*rerank vectors per query: a broadcast semi-join
    against one more scan here, a bucket-pruned id fetch with the persisted
    IVFPQIndex layout.

    Determinism: the final rank orders on the 4dp-ROUNDED exact cosine with
    id tie-break (the sim_knn_graph device), so engine-ULP differences in
    the cosine cannot flip a rank."""
    cand = ivfpq_topk(
        emb, queries, k=k * rerank, num_centroids=num_centroids, nprobe=nprobe,
        m=m, ksub=ksub, id_col=id_col, vec_col=vec_col,
        query_id_col=query_id_col, query_vec_col=query_vec_col,
        centroids=centroids, residual=residual, codebooks=codebooks,
    ).select(query_id_col, id_col)
    return exact_rerank(
        cand, emb, queries, k, id_col, vec_col, query_id_col, query_vec_col
    )


def exact_rerank(
    cand: DataFrame,
    base: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Exact-cosine re-rank of a (query_id, id) candidate table against a
    vector store — the refine stage shared by ivfpq_refined_topk and
    IVFPQIndex.refined_search, usable standalone to rescore ANY ANN
    shortlist (LSH buckets, hybrid retrievers). The candidate table is
    broadcast-small by construction (k·rerank per query); only those
    vectors are pulled from the store."""
    shortlist = base.select(id_col, vec_col).join(
        F.broadcast(cand.select(id_col).distinct()), id_col
    )
    scored = cosine_scores_pandas(
        shortlist, queries, id_col, vec_col, query_id_col, query_vec_col
    )
    # keep each query's OWN shortlist only (a candidate of query A is not
    # rescored for query B)
    # DISTINCT pairs: a hybrid retriever can emit (q, id) twice, and a
    # duplicated join row would take two ranks and evict a true top-k
    # neighbor (review finding)
    own = scored.join(
        F.broadcast(cand.select(query_id_col, id_col).distinct()),
        [query_id_col, id_col],
    )
    c4 = round4_expr(F.col("_cos"))
    w = Window.partitionBy(query_id_col).orderBy(c4.desc(), F.col(id_col).asc())
    return (
        own.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            query_id_col,
            id_col,
            F.col("rank").cast("long").alias("rank"),
            c4.alias("cosine"),
        )
    )


class IVFPQIndex:
    """The PERSISTED IVF-PQ serving index — ivfpq_topk's one-shot fused scan
    materialized the way FAISS deploys it at billion scale:

      <path>/centroids-g<N>/   C rows (centroid_id, centroid_vec)
      <path>/codebooks-g<N>/   m*ksub rows (subspace, code, center_vec)
      <path>/codes-g<N>/       (id, codes array) parquet PARTITIONED BY
                               centroid_id — the ~50x-compressed scan body
      <path>/manifest-*.json   generation manifest: live codes dir, the
                               centroid and codebook dirs + build params
                               (m, ksub, residual, column names)

    Search reads ONLY the probed buckets' CODE column (PartitionFilters on
    centroid_id — the base vectors are never touched after build): at
    100 TB of float32 embeddings a query scans ~nprobe/C of ~2 TB of codes,
    memory-bandwidth bound, with per-query [m, ksub] lookup tables doing
    the scoring. ``residual=True`` stores residual-coded words and the
    per-bucket cross-term tables reconstruct scores exactly as
    ivfpq_topk's residual mode (codebooks trained once at build; identical
    results to the one-shot operator under the same strategy, pinned by
    test). Incremental ``add`` encodes against the FROZEN centroids and
    codebooks (LSM append, cost ∝ batch); ``compact`` folds + dedups via
    the atomic generation swap shared with IVFIndex."""

    def __init__(self, spark, path: str):
        from kadiyadb_spark.manifest import GenLog

        self.spark = spark
        self.path = path
        self._genlog = GenLog(spark, path)
        p = self._genlog.head()["params"]
        self.id_col = p["id_col"]
        self.vec_col = p["vec_col"]
        self.m = int(p["m"])
        self.ksub = int(p["ksub"])
        self.residual = bool(p["residual"])

    def generations(self) -> list[int]:
        """Retained (pinnable) generation numbers, ascending."""
        return self._genlog.retained()

    def _codebooks(self, m_: dict):
        """[m, ksub, dsub] ndarray from the codebook rows manifest ``m_``
        names (legacy indexes fall back to the unversioned dir)."""
        import numpy as np

        rows = self._genlog.scan(m_, "codebooks", "codebooks").collect()
        dsub = len(rows[0]["center_vec"])
        C = np.zeros((self.m, self.ksub, dsub))
        for r in rows:
            C[int(r["subspace"]), int(r["code"])] = list(r["center_vec"])
        return C

    @staticmethod
    def _encode(emb, cents, C, id_col, vec_col, residual):
        """(id, centroid_id, codes) — fused bucket argmax + PQ encode, one
        Arrow pass, zero shuffle (the write's repartition is the only one).

        ``cents`` is the centroid DataFrame or an already-collected
        (ids, raw matrix) pair from ``_collect_matrix`` — ONE collect now
        serves the sorted ids, the normalized matrix and the raw residual
        base (r14: this ran two collect jobs of the same tiny frame, and
        ``add`` paid a third for its partition count)."""
        import numpy as np

        cid2, craw = (
            cents
            if isinstance(cents, tuple)
            else _collect_matrix(cents, "centroid_id", "centroid_vec")
        )
        order = np.argsort(cid2)
        c_ids, craw = cid2[order], craw[order]
        cn = craw / np.linalg.norm(craw, axis=1, keepdims=True)
        bc = emb.sparkSession.sparkContext.broadcast((c_ids, cn, craw, C, residual))

        def enc(batches):
            import pandas as pd

            ids_of_pos, cmat, crawb, Cb, res = bc.value
            mm, _, dsub = Cb.shape
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                v = np.array(pdf[vec_col].tolist(), dtype=np.float64)
                vn = v / np.linalg.norm(v, axis=1, keepdims=True)
                nearest = np.argmax(vn @ cmat.T, axis=1)  # ARRAY POSITION
                enc_v = (v - crawb[nearest]) if res else v
                sub = enc_v.reshape(len(v), mm, dsub)
                codes = np.empty((len(v), mm), dtype=np.int64)
                for j in range(mm):
                    d2 = ((sub[:, j, None, :] - Cb[j][None, :, :]) ** 2).sum(axis=2)
                    codes[:, j] = np.argmin(d2, axis=1)
                yield pd.DataFrame(
                    {
                        id_col: pdf[id_col].values,
                        # position -> the centroid's actual ID (deterministic
                        # centroids carry source vec_ids, NOT 0..C-1 — probes
                        # and partition dirs key on the id)
                        "centroid_id": ids_of_pos[nearest],
                        "codes": list(codes),
                    }
                )

        return emb.select(id_col, vec_col).mapInPandas(
            enc, schema=f"{id_col} long, centroid_id long, codes array<long>"
        )

    @staticmethod
    def build(
        emb: DataFrame,
        path: str,
        num_centroids: int = 8,
        m: int = 4,
        ksub: int = 8,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        centroids: "str | DataFrame" = "deterministic",
        residual: bool = False,
        codebooks="deterministic",
    ) -> "IVFPQIndex":
        import pandas as pd

        spark = emb.sparkSession
        cents = resolve_centroids(emb, num_centroids, centroids, id_col, vec_col)
        if residual:
            C, _dim = resolve_residual_codebooks(
                emb, cents, m, ksub, codebooks, id_col, vec_col
            )
        else:
            C, _dim = resolve_pq_codebooks(emb, m, ksub, codebooks, id_col, vec_col)

        from kadiyadb_spark.manifest import GenLog

        log = GenLog(spark, path)
        mm = log.read()
        gen = mm["gen"] + 1
        # centroids/codebooks are GENERATION-NAMED and manifest-referenced
        # like the codes dir (review finding: in-place overwrite broke the
        # crash contract on rebuild and fed at_gen-pinned searches NEW
        # centroids against OLD codes)
        cdir = f"centroids-g{gen:06d}"
        cbdir = f"codebooks-g{gen:06d}"
        live = f"codes-g{gen:06d}"
        cents.write.mode("overwrite").parquet(f"{path}/{cdir}")
        cb_rows = pd.DataFrame(
            [
                {"subspace": j, "code": kk, "center_vec": [float(x) for x in C[j, kk]]}
                for j in range(m)
                for kk in range(ksub)
            ]
        )
        spark.createDataFrame(
            cb_rows, schema="subspace long, code long, center_vec array<double>"
        ).write.mode("overwrite").parquet(f"{path}/{cbdir}")
        coded = IVFPQIndex._encode(emb, cents, C, id_col, vec_col, residual)
        (
            coded.repartition(num_centroids, "centroid_id")
            .write.mode("overwrite")
            .partitionBy("centroid_id")
            .parquet(f"{path}/{live}")
        )
        log.commit(
            {
                "live": live,
                "centroids": cdir,
                "codebooks": cbdir,
                "params": {
                    "id_col": id_col,
                    "vec_col": vec_col,
                    "m": m,
                    "ksub": ksub,
                    "residual": residual,
                },
                # written-schema record: readers pin it instead of paying a
                # schema-inference job per open (r14, guide §6)
                "schemas": {
                    "codes": coded.schema.json(),
                    "centroids": cents.schema.json(),
                    "codebooks": spark.createDataFrame(
                        [], "subspace long, code long, center_vec array<double>"
                    ).schema.json(),
                },
            },
            mm["gen"],
        )
        log.gc(_IVFPQ_DIRS)
        return IVFPQIndex(spark, path)

    def centroids(self, at_gen: int | None = None) -> DataFrame:
        return self._genlog.scan(self._genlog.head(at_gen), "centroids", "centroids")

    def codes(self, at_gen: int | None = None) -> DataFrame:
        return self._genlog.scan(self._genlog.head(at_gen), "codes")

    def add(self, emb: DataFrame) -> None:
        """LSM append against the FROZEN centroids + codebooks (bucket
        membership and code meaning must stay stable; retrain = rebuild).
        Cost ∝ batch; compact folds the small files and drops replayed
        duplicates. The append is fenced (``GenLog.fenced_append``): a
        compact that swapped generations mid-append makes the add retry
        once against the new live dir instead of leaving the rows in a
        superseded dir that dies with its GC."""

        def write(m: dict, live: str) -> None:
            # ONE collect of the tiny centroid frame serves the partition
            # count and the encode kernel (was: count job + 2 collects)
            cid, craw = _collect_matrix(
                self._genlog.scan(m, "centroids", "centroids"), "centroid_id", "centroid_vec"
            )
            coded = IVFPQIndex._encode(
                emb, (cid, craw), self._codebooks(m), self.id_col, self.vec_col,
                self.residual,
            )
            (
                coded.repartition(len(cid), "centroid_id")
                .write.mode("append")
                .partitionBy("centroid_id")
                .parquet(live)
            )

        self._genlog.fenced_append(write)

    def compact(self) -> None:
        """Fold appended batches and drop replayed duplicates through the
        generation swap shared with IVFIndex. Single-writer maintenance op;
        raises ConcurrentWriteError if an add's fence commit lands
        mid-compact (retry)."""
        self._genlog.swap(
            lambda m, new: _fold_by_centroid(
                self._genlog.scan(m, "codes"),
                self._genlog.scan(m, "centroids", "centroids").count(),
                new,
            ),
            "codes",
            _IVFPQ_DIRS,
        )

    def search(
        self,
        queries: DataFrame,
        k: int = 5,
        nprobe: int = 2,
        query_id_col: str = "query_id",
        query_vec_col: str = "query_vec",
        at_gen: int | None = None,
    ) -> DataFrame:
        """ADC over the probed buckets' codes — identical results to
        ivfpq_topk with the same centroid/codebook strategy (same rounded-
        rank tie-break); the scan touches codes only, partition-pruned to
        the probed centroid dirs. ``at_gen`` pins a retained generation so
        a long search survives a concurrent ``compact``'s swap+GC."""
        import numpy as np
        import pandas as pd

        m_ = self._genlog.head(at_gen)
        C = self._codebooks(m_)
        cents_df = self._genlog.scan(m_, "centroids", "centroids")
        c_ids, cn = _centroid_arrays(cents_df)
        cid2, craw = _collect_matrix(cents_df, "centroid_id", "centroid_vec")
        craw = craw[np.argsort(cid2)]
        q_ids, q = _collect_matrix(queries, query_id_col, query_vec_col)
        qn_unit = q / np.linalg.norm(q, axis=1, keepdims=True)
        qc = qn_unit @ cn.T
        probed = [c_ids[np.lexsort((c_ids, -qc[j]))[:nprobe]] for j in range(len(q_ids))]
        union_ids = sorted({int(c) for p in probed for c in p})
        probe_sets = [set(int(c) for c in p) for p in probed]
        mm = self.m
        dsub = C.shape[2]
        T = np.einsum("qjd,jkd->qjk", q.reshape(len(q_ids), mm, dsub), C)
        n2 = (C**2).sum(axis=2)
        qnorm = np.linalg.norm(q, axis=1)
        if self.residual:
            B = np.einsum("bjd,jkd->bjk", craw.reshape(len(craw), mm, dsub), C)
            cnorm2 = (craw**2).sum(axis=1)
            qc_raw = q @ craw.T
        else:
            B = cnorm2 = qc_raw = None
        bc = self.spark.sparkContext.broadcast(
            (q_ids, probe_sets, T, n2, qnorm, B, cnorm2, qc_raw, self.residual, c_ids)
        )
        id_col = self.id_col

        def adc(batches):
            qi, probes, Tt, nn2, qno, Bb, cn2, qcr, res, ids_sorted = bc.value
            cols = np.arange(mm)
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                codes = np.array(pdf["codes"].tolist(), dtype=np.int64)
                ids = pdf[id_col].to_numpy()
                buckets = pdf["centroid_id"].to_numpy()
                if res:
                    # bucket column carries centroid IDs; the residual cross
                    # tables are POSITION-indexed (id-ascending) — map back
                    pos = np.searchsorted(ids_sorted, buckets)
                    rn2 = (
                        cn2[pos]
                        + 2.0 * Bb[pos[:, None], cols[None, :], codes].sum(axis=1)
                        + nn2[cols, codes].sum(axis=1)
                    )
                    rnorm = np.sqrt(np.maximum(rn2, 1e-300))
                else:
                    rnorm = np.sqrt(np.maximum(nn2[cols, codes].sum(axis=1), 1e-300))
                parts = []
                for j in range(len(qi)):
                    hit = np.isin(buckets, list(probes[j]))
                    if not hit.any():
                        continue
                    adot = Tt[j][cols, codes[hit]].sum(axis=1)
                    if res:
                        adot = adot + qcr[j, pos[hit]]
                    s = np.floor(adot / (qno[j] * rnorm[hit]) * 10000 + 0.5) / 10000
                    hids = ids[hit]
                    order = np.lexsort((hids, -s))[:k]
                    parts.append(
                        pd.DataFrame({query_id_col: qi[j], id_col: hids[order], "_cos": s[order]})
                    )
                if parts:
                    yield pd.concat(parts, ignore_index=True)

        scan = self._genlog.scan(m_, "codes").filter(F.col("centroid_id").isin(union_ids))
        scored = scan.select(id_col, "codes", "centroid_id").mapInPandas(
            adc, schema=f"{query_id_col} long, {id_col} long, _cos double"
        )
        w = Window.partitionBy(query_id_col).orderBy(F.col("_cos").desc(), F.col(id_col).asc())
        return (
            scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(
                query_id_col,
                id_col,
                F.col("rank").cast("long").alias("rank"),
                round4_expr(F.col("_cos")).alias("approx_cos"),
            )
        )


    def refined_search(
        self,
        queries: DataFrame,
        base: DataFrame,
        k: int = 5,
        rerank: int = 3,
        nprobe: int = 2,
        vec_col: str = "embedding",
        query_id_col: str = "query_id",
        query_vec_col: str = "query_vec",
        at_gen: int | None = None,
    ) -> DataFrame:
        """ADC search + exact refine over the persisted index: the probed
        code partitions shortlist k*rerank candidates, then only those ids
        are rescored against ``base`` — the caller's vector store, which
        the index deliberately does NOT duplicate (FAISS IndexRefineFlat
        keeps the flat vectors alongside for the same reason; here the
        id-keyed vector parquet the index was built from plays that role).
        Same ranking contract as ivfpq_refined_topk."""
        cand = self.search(
            queries, k=k * rerank, nprobe=nprobe,
            query_id_col=query_id_col, query_vec_col=query_vec_col, at_gen=at_gen,
        ).select(query_id_col, self.id_col)
        return exact_rerank(
            cand, base, queries, k, self.id_col, vec_col, query_id_col, query_vec_col
        )


def quantize_int8(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """INT8 scalar quantization of an embedding column — symmetric absmax,
    the standard 4x storage cut (float32 -> int8) an ANN serving tier takes
    before ADC/rescoring: per vector, scale = amax/127 with
    amax = max_i |x_i|, code_i = floor(x_i/scale + 0.5) (half-toward-+inf,
    the engine-portable rounding; codes are mathematically bounded in
    [-127, 127] because |x_i| <= amax). The all-zero vector quantizes to
    all-zero codes with amax 0 and zero error rather than dividing by zero.

    Pure JVM array expressions — amax via array_max, codes via transform,
    the reconstruction error |x_i - code_i*scale| via zip_with — no UDF, no
    shuffle: quantization streams at scan speed and the output is the
    (id, amax, codes, max_abs_err) artifact a 100 TB pipeline persists
    next to (or instead of) the raw vectors. Every step is elementwise
    double arithmetic on identical operands in any engine, so the whole
    operator SQL-twins exactly (entry ``embedding_quantize``).

    Output: id, ``amax`` (unrounded), ``codes`` array<long>,
    ``max_abs_err`` (unrounded; round at presentation)."""
    x = F.col(vec_col).cast("array<double>")
    amax = F.array_max(F.transform(x, lambda e: F.abs(e)))
    df = emb.select(F.col(id_col), x.alias("_x"), amax.alias("amax"))
    scale = F.col("amax") / F.lit(127.0)
    codes = F.when(
        F.col("amax") == 0,
        F.transform(F.col("_x"), lambda e: F.lit(0).cast("long")),
    ).otherwise(
        F.transform(F.col("_x"), lambda e: F.floor(e / scale + F.lit(0.5)).cast("long"))
    )
    df = df.withColumn("codes", codes)
    err = F.array_max(
        F.zip_with(
            F.col("_x"),
            F.col("codes"),
            lambda e, c: F.abs(e - c.cast("double") * scale),
        )
    )
    return df.select(id_col, "amax", "codes", err.alias("max_abs_err"))


def matryoshka_truncate(
    emb: DataFrame,
    dims: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    renormalize: bool = True,
) -> DataFrame:
    """Matryoshka (MRL) truncation: keep the first ``dims`` components of
    each embedding and L2-renormalize the prefix — the serving-tier cut a
    Matryoshka-trained model family supports (Kusupati et al., 2022: the
    prefix IS a valid lower-dim embedding), trading recall for a
    dims/full_dim storage and ADC cost reduction WITHOUT re-encoding the
    corpus. The standard first step before int8 quantization
    (``quantize_int8``) in a tiered ANN layout.

    Pure JVM array expressions, no UDF, no shuffle — streams at scan
    speed: slice for the prefix, the sequential aggregate fold for the
    prefix norm (same association DuckDB's list fold replays, the
    embedding_stats device), transform for the division. The all-zero
    prefix keeps zero components with norm 0 rather than dividing by
    zero. Output: id, ``prefix_norm`` (unrounded; round at
    presentation), ``vec`` (array<double>, renormalized unless
    ``renormalize=False``)."""
    if dims < 1:
        raise ValueError(f"dims must be >= 1, got {dims}")
    x = F.slice(F.col(vec_col).cast("array<double>"), 1, dims)
    df = emb.select(F.col(id_col), x.alias("_x"))
    norm = F.sqrt(
        F.aggregate(
            F.transform(F.col("_x"), lambda e: e * e),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )
    df = df.withColumn("prefix_norm", norm)
    vec = F.col("_x") if not renormalize else F.when(
        F.col("prefix_norm") == 0, F.col("_x")
    ).otherwise(
        F.transform(F.col("_x"), lambda e: e / F.col("prefix_norm"))
    )
    return df.select(id_col, "prefix_norm", vec.alias("vec"))


def hard_negatives(
    base: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    query_label_col: str = "query_label",
) -> DataFrame:
    """Hard-negative mining for contrastive training: per query, the k
    MOST similar base vectors with a DIFFERENT label — the highest-loss
    negatives a triplet/InfoNCE sampler wants. Same broadcast-queries +
    one-numpy-matmul-per-partition shape as cosine_topk, but the label
    mask applies INSIDE the kernel BEFORE the per-batch top-k prune (a
    label-blind prune could fill all k slots with same-label rows and
    starve the union), so the ranking shuffle still carries only
    k x batches x queries rows. Ranked (cos desc, id asc); ties and
    rounding follow the sim_cosine_topk precedent."""
    import numpy as np

    spark = base.sparkSession
    rows = queries.select(query_id_col, query_vec_col, query_label_col).collect()
    q_ids = np.array([r[0] for r in rows], dtype=np.int64)
    q = np.array([list(r[1]) for r in rows], dtype=np.float64)
    q_labels = np.array([r[2] for r in rows], dtype=np.int64)
    qn = q / np.linalg.norm(q, axis=1, keepdims=True)
    bc = spark.sparkContext.broadcast((q_ids, qn, q_labels))

    def score(batches):
        import pandas as pd

        qi, qmat, qlab = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            v = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            vn = v / np.linalg.norm(v, axis=1, keepdims=True)
            s = vn @ qmat.T  # (batch, queries)
            ids = pdf[id_col].to_numpy()
            labels = pdf[label_col].to_numpy()
            parts = []
            for j in range(len(qi)):
                neg = np.nonzero(labels != qlab[j])[0]
                if len(neg) == 0:
                    continue
                order = neg[np.lexsort((ids[neg], -s[neg, j]))][:k]
                parts.append(
                    pd.DataFrame(
                        {
                            query_id_col: qi[j],
                            id_col: ids[order],
                            label_col: labels[order],
                            "_cos": s[order, j],
                        }
                    )
                )
            if parts:
                yield pd.concat(parts, ignore_index=True)

    scored = base.mapInPandas(
        score,
        schema=f"{query_id_col} long, {id_col} long, {label_col} long, _cos double",
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("_cos").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            query_id_col,
            id_col,
            F.col(label_col).cast("long").alias(label_col),
            F.col("rank").cast("long").alias("rank"),
            round4_expr(F.col("_cos")).alias("cosine"),
        )
    )


def knn_graph(
    emb: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_centroids: int = 8,
    centroids: "str | DataFrame" = "deterministic",
) -> DataFrame:
    """Blocked k-NN GRAPH: every vector's top-k cosine neighbors within
    its IVF bucket — the all-to-all building block under graph-based
    dedup, semantic clustering and hard-negative mining, where the query
    set IS the corpus (cosine_topk serves a small query set; this serves
    N-vs-N). Blocking makes it approximate by construction (a cross-
    bucket pair is never scored — embedding_near_duplicates' recall
    trade, tuned by ``num_centroids``); within a bucket the scoring is
    exact at memory bandwidth (one numpy matmul per Arrow group).

    Determinism for the gate: ranks order on the 4dp-ROUNDED cosine with
    neighbor-id ties (the PQ-ranker device) — raw-double ranking would
    tie-break on engine ULPs. One shuffle keyed by centroid; per-bucket
    state is the bucket's vectors (raise num_centroids with corpus size).

    Output: (id_col, neighbor_id, rank, cosine)."""
    if k < 1:
        raise ValueError(f"need k >= 1, got {k}")
    import numpy as np

    cents = resolve_centroids(emb, num_centroids, centroids, id_col, vec_col)
    assigned = ivf_assign(emb, cents, id_col, vec_col)

    def bucket_knn(pdf):
        import pandas as pd

        n = len(pdf)
        if n < 2:
            return pd.DataFrame({"_id": [], "neighbor_id": [], "rank": [], "cosine": []})
        ids = pdf[id_col].to_numpy()
        v = np.array(pdf[vec_col].tolist(), dtype=np.float64)
        vn = v / np.linalg.norm(v, axis=1, keepdims=True)
        s = vn @ vn.T
        r4 = np.floor(s * 10000 + 0.5) / 10000
        np.fill_diagonal(r4, -np.inf)
        out_id, out_nb, out_rk, out_cos = [], [], [], []
        kk = min(k, n - 1)
        for i in range(n):
            order = np.lexsort((ids, -r4[i]))[:kk]
            out_id.extend([ids[i]] * kk)
            out_nb.extend(ids[order])
            out_rk.extend(range(1, kk + 1))
            out_cos.extend(r4[i][order])
        return pd.DataFrame(
            {"_id": out_id, "neighbor_id": out_nb, "rank": out_rk, "cosine": out_cos}
        )

    return (
        assigned.groupBy("centroid_id")
        .applyInPandas(bucket_knn, schema="_id long, neighbor_id long, rank long, cosine double")
        .withColumnRenamed("_id", id_col)
    )


def embedding_outliers(
    emb: DataFrame,
    num_centroids: int = 8,
    tail: "tuple[int, int]" = (1, 10),
    centroids: DataFrame | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Corpus-cleaning OUTLIER CENSUS: flag vectors whose cosine to their
    own centroid falls in the bucket's exact lower ``tail`` (a rational
    num/den, default the bottom decile) — the "drop embedding outliers"
    curation pass (mis-embedded docs, garbage inputs, wrong-language
    strays sit far from every cluster's core).

    Three stages, each with the family's established engine-free shape:
    (1) assignment + own-centroid cosine in ONE map-side numpy kernel
    (broadcast normalized centroid matrix, argmax ties to lowest id —
    ``ivf_assign``'s kernel, extended to emit the max cosine); (2) the
    per-centroid tail cut at rank (n-1)*num/den via the exact scaled-long
    interpolation (``profile.exact_quantiles``' construction as window
    aggregates — ONE centroid-keyed sort Exchange); (3) the flag as a
    PURE INTEGER inequality — den*cos4 < (den-rem)*lo4 + rem*hi4 — so
    the outlier decision is identical in any engine at any parallelism
    even where a double compare could straddle a rounding boundary.

    ``centroids`` defaults to the deterministic lowest-id frame (the
    SQL-replayable gate shape); pass ``kmeans_centroids(...)`` for the
    recall path on clustered data. Returns (id_col, centroid_id, cosine,
    cut, is_outlier); cosine/cut are round4 doubles for display — the
    flag never reads them."""
    import numpy as np

    num, den = tail
    if not (0 < num < den):
        raise ValueError(f"tail must be a rational in (0, 1), got {tail}")
    spark = emb.sparkSession
    if centroids is None:
        centroids = deterministic_centroids(emb, num_centroids, id_col, vec_col)
    bc = spark.sparkContext.broadcast(_centroid_arrays(centroids))

    def assign_cos(batches):
        c_ids, cn = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            v = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            vn = v / np.linalg.norm(v, axis=1, keepdims=True)
            sims = vn @ cn.T
            nearest = np.argmax(sims, axis=1)  # first max -> lowest id
            out = pdf[[id_col]].copy()
            out["centroid_id"] = c_ids[nearest]
            out["_cos"] = sims[np.arange(len(v)), nearest]
            yield out

    scored = emb.select(id_col, vec_col).mapInPandas(
        assign_cos, schema=f"{id_col} long, centroid_id long, _cos double"
    )
    w = Window.partitionBy("centroid_id").orderBy("_c4", id_col)
    wfull = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    rk = scored.select(
        id_col,
        "centroid_id",
        F.round(F.col("_cos") * 10000).cast("long").alias("_c4"),
    ).select(
        id_col,
        "centroid_id",
        "_c4",
        F.row_number().over(w).cast("long").alias("_rn"),
        F.count("*").over(wfull).alias("_n"),
    )
    k = F.expr(f"((_n - 1) * {num}) div {den}")
    rem = (F.col("_n") - F.lit(1)) * F.lit(num) % F.lit(den)
    lo = F.max(F.when(F.col("_rn") == k + 1, F.col("_c4"))).over(wfull)
    hi = F.max(F.when(F.col("_rn") == k + 2, F.col("_c4"))).over(wfull)
    cut_num = (F.lit(den) - rem) * lo + rem * F.coalesce(hi, lo)
    return rk.select(
        id_col,
        "centroid_id",
        (F.col("_c4") / F.lit(10000.0)).alias("cosine"),
        round4_expr(cut_num.cast("double") / F.lit(float(den) * 10000.0)).alias("cut"),
        (F.lit(den) * F.col("_c4") < cut_num).alias("is_outlier"),
    )


def maxsim_topk(
    doc_tokens: DataFrame,
    query_tokens: DataFrame,
    k: int = 5,
    doc_id_col: str = "doc_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "embedding",
) -> DataFrame:
    """ColBERT-style LATE-INTERACTION retrieval (Khattab & Zaharia,
    SIGIR 2020): documents and queries are MULTI-vector (one embedding
    per token), and score(q, d) = Σ over q's tokens of the max cosine
    against any of d's tokens — the MaxSim operator. Single-vector
    cosine (cosine_topk) collapses a document to one point; MaxSim keeps
    token-level matching, the shape modern retrieval stacks deploy
    between bi-encoders and full cross-encoders.

    Determinism device: each per-query-token maximum quantizes to a 4dp
    scaled long BEFORE the per-query sum, so the score is an order-free
    integer fold and ranking (score desc, doc_id asc) cannot be flipped
    by engine/layout FP — the same device as the PQ rankers.

    Scale shape: the query token matrix is broadcast (a query batch is
    bounded); doc tokens fold to per-doc arrays with ONE doc-keyed
    shuffle (tokens-per-doc is model-bounded, ~10^2); each Arrow batch
    scores ALL its docs in one matmul + segment-max
    (np.maximum.reduceat) and emits only its local top-k per query — the
    global top-k over per-batch top-ks is exact, so the ranking shuffle
    carries k × batches × |queries| rows, never |docs| × |queries|."""
    import numpy as np

    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    spark = doc_tokens.sparkSession
    q_ids, q = _collect_matrix(query_tokens, query_id_col, query_vec_col)
    if len(q_ids) == 0:
        raise ValueError("query_tokens is empty")
    order = np.argsort(q_ids, kind="stable")
    q_ids, q = q_ids[order], q[order]
    qn = q / np.linalg.norm(q, axis=1, keepdims=True)
    uq, qidx = np.unique(q_ids, return_inverse=True)
    bc = spark.sparkContext.broadcast((uq, qidx, qn))

    grouped = doc_tokens.groupBy(doc_id_col).agg(
        F.collect_list(vec_col).alias("_toks")
    )

    def score(batches):
        import pandas as pd

        u, qi, qmat = bc.value
        nq = len(u)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            toks = pdf["_toks"].tolist()
            lens = np.array([len(t) for t in toks], dtype=np.int64)
            flat = np.array(
                [v for t in toks for v in t], dtype=np.float64
            )
            flat /= np.linalg.norm(flat, axis=1, keepdims=True)
            s = qmat @ flat.T  # (q tokens, all doc tokens in batch)
            offs = np.concatenate(([0], np.cumsum(lens)[:-1]))
            m = np.maximum.reduceat(s, offs, axis=1)  # (q tokens, docs)
            m4 = np.floor(m * 10000 + 0.5).astype(np.int64)
            s4 = np.zeros((nq, m4.shape[1]), dtype=np.int64)
            np.add.at(s4, qi, m4)  # per-query integer fold
            ids = pdf[doc_id_col].to_numpy()
            parts = []
            for j in range(nq):
                # same total order as the final window: s4 desc, id asc
                o = np.lexsort((ids, -s4[j]))[:k]
                parts.append(
                    pd.DataFrame(
                        {query_id_col: u[j], doc_id_col: ids[o], "_s4": s4[j][o]}
                    )
                )
            yield pd.concat(parts, ignore_index=True)

    scored = grouped.mapInPandas(
        score, schema=f"{query_id_col} long, {doc_id_col} long, _s4 long"
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("_s4").desc(), F.col(doc_id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            query_id_col,
            doc_id_col,
            F.col("rank").cast("long").alias("rank"),
            (F.col("_s4") / F.lit(10000.0)).alias("maxsim"),
        )
    )


def power_iteration_top_pc(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    iters: int = 3,
) -> DataFrame:
    """Top principal direction of an embedding corpus by deterministic
    power iteration on the (uncentered) Gram matrix — the
    dimensionality-reduction primitive behind spectral corpus diagnostics
    (dominant-direction removal a la all-but-the-top, Mu & Viswanath,
    ICLR 2018) and PCA-before-ANN. Plain power iteration:
    ``w <- normalize(E^T (E w))``, which Spark expresses as two corpus
    folds per round — no matrix library, no driver-side O(n) work.

    Integer-exact iteration (the pagerank device, applied to linear
    algebra): vectors quantize ONCE to 4dp scaled longs
    (``floor(x*1e4 + 0.5)`` — the portable rounding); the start vector is
    all-ones at 4dp (deterministic, never orthogonal to the top
    eigenvector of a Gram matrix since entries are nonnegative-dominant);
    each per-row dot ``e4 . w4`` is an exact long fold; the per-dimension
    fold ``sum(e4_j * dot)`` accumulates in DECIMAL(38,0) (corpus-scale
    sums pass 2^63 long before they pass 38 digits); renormalization
    divides by the IEEE-double norm of the EXACT integer fold and
    requantizes at 4dp. Iteration k's vector is therefore a pure integer
    function of the corpus — the SQL oracle unrolls the same rounds as
    CTEs and the output value-hash-gates with no tolerance.

    Scale shape: the quantized exploded (id, dim, v) frame persists once;
    each round is one id-keyed fold (the dots) + one dim-keyed fold (d
    rows out of every partition after partial aggregation) + ONE d-row
    driver collect to renormalize (the bounded-frame collect contract:
    d is the model dimension, never corpus-sized). Rounds are sequential
    by nature (Krylov); each is a full corpus pass — at 100 TB you run
    2-4 rounds, which is exactly what top-PC extraction needs.

    Output: (dim, pc4) — the unit top direction at 4dp as scaled longs,
    ``d`` rows.
    """
    import math

    if iters < 1:
        raise ValueError(f"iters must be >= 1, got {iters}")
    from pyspark.sql import Window  # noqa: F401  (parity with module style)

    spark = emb.sparkSession
    from pyspark import StorageLevel

    x = F.col(vec_col).cast("array<double>")
    e4 = F.transform(x, lambda e: F.floor(e * F.lit(10000.0) + F.lit(0.5)).cast("long"))
    ek = (
        emb.select(F.col(id_col).alias("_id"), F.posexplode(e4).alias("dim", "_v"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    dim = infer_dim(emb, vec_col)
    if dim is None:
        raise ValueError("power iteration: empty corpus")
    w4 = [10000] * dim
    for _ in range(iters):
        wdf = F.broadcast(
            spark.createDataFrame(
                [(j, int(w4[j])) for j in range(dim)], "dim int, _w long"
            )
        )
        dots = (
            ek.join(wdf, "dim")
            .groupBy("_id")
            .agg(F.sum(F.col("_v") * F.col("_w")).alias("_dot"))
        )
        s = (
            ek.join(dots, "_id")
            .groupBy("dim")
            .agg(
                F.sum(
                    F.col("_v").cast("decimal(38,0)") * F.col("_dot").cast("decimal(38,0)")
                ).alias("_s")
            )
        )
        srows = {r["dim"]: int(r["_s"]) for r in s.collect()}
        sv = [srows.get(j, 0) for j in range(dim)]
        # norm^2 as an EXACT integer (python bigint == DuckDB HUGEINT), so
        # the only FP ops are int->double + sqrt + one divide + the floor
        # quantize — each correctly rounded and identical in any engine;
        # a float sum-of-squares here would be summation-order-dependent.
        n2 = sum(v * v for v in sv)
        if n2 == 0:
            raise ValueError("power iteration collapsed: zero fold (empty corpus?)")
        norm = math.sqrt(float(n2))
        w4 = [math.floor(float(v) / norm * 10000.0 + 0.5) for v in sv]
    ek.unpersist()
    out = spark.createDataFrame(
        [(j, int(w4[j])) for j in range(dim)], "dim long, pc4 long"
    )
    return out

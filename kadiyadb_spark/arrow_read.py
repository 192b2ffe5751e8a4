"""Driver-side executor of ``Database.fetch`` / ``Database.fetch_multi``
for small reads of a local store.

A Spark read of a few KB of parquet still pays the job floor — planning
plus about two AQE jobs — where the scan itself takes milliseconds. The
reference answers Fetch from an in-process cache of open epochs
(epoch/cache.go) with no job machinery at all. When a read's kept segment
files are local and small (``Database._driver_segments`` decides), the
driver reads them with pyarrow and runs the SAME semantics the Spark plan
runs, reusing its definitions:

- the filter: ``query._SlotRange``'s epoch and bucket bounds, and
  ``compile_pattern``'s predicates as ``==``, ``is_in`` and, for ``Re``,
  ``database._jmatch`` (Spark's anchored rlike) over the column's distinct
  values;
- the fold of ``ingest.fold_aggs``, bit for bit: ``round(v·10^4)`` on the
  cube's ``CUBE_DP`` grid with halves away from zero (Spark's ``round``),
  ``cnt`` at dp 0, int64 sums that cannot wrap, the 2^53 guard with the
  same message, one division;
- ``query._densify``'s per-epoch zero-fill, vectorized: a series present
  in an epoch yields every clipped slot of that epoch.

The answer goes back as ``spark.createDataFrame(table, schema)``, a local
relation: collecting it runs no Spark job.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from kadiyadb_spark import schema as S
from kadiyadb_spark.functions.num import CUBE_DP, FOLD_EXACT_BOUND, fold_overflow_text
from kadiyadb_spark.query import Re, _compile_batch, compile_pattern


def list_files(dirs: "list[str]") -> "list[tuple[str, int]] | None":
    """(path, bytes) of every data file in the segment leaf ``dirs``,
    skipping the names Spark's file index skips (``_``/``.`` prefixes such
    as ``_SUCCESS`` and checksum files, ``._COPYING_`` suffixes). None when
    a dir is missing: the Spark read then fails the way it always has."""
    out = []
    for d in dirs:
        try:
            with os.scandir(d) as it:
                for e in it:
                    if e.name[0] not in "_." and not e.name.endswith("._COPYING_") and e.is_file():
                        out.append((e.path, e.stat().st_size))
        except FileNotFoundError:
            return None
    return out


def read_segments(files: "list[str]", max_depth: int) -> "pa.Table | None":
    """The rows of ``files`` as one table in ``cube_schema`` column order,
    every column nullable as a parquet scan reports it, or None when a
    file's physical schema differs from cube_schema's names and types (a
    segment written by other code: the Spark read's pinned schema decides
    what such a file means)."""
    cube = pa.schema((f.name, f.type) for f in to_arrow_schema(S.cube_schema(max_depth)))
    want = dict(zip(cube.names, cube.types))
    tables = [cube.empty_table()]
    for f in files:
        t = pq.ParquetFile(f).read()
        if {x.name: x.type for x in t.schema} != want:
            return None
        tables.append(t.select(cube.names).cast(cube))
    return pa.concat_tables(tables).combine_chunks()


def fetch(
    spark: SparkSession, seg: pa.Table, rng, pattern: list, densify: bool
) -> DataFrame:
    """``query.fetch`` over the kept segments' rows ``seg`` (as read, not
    yet folded): columns (epoch, f1..fd, bucket, total, cnt). ``rng`` is
    the read's ``_SlotRange``; it is never empty here (an empty range
    keeps no segment, and the Spark path answers it)."""
    depth, preds = compile_pattern(pattern)
    fcols = S.field_cols(depth)
    # densify scans whole epochs: series membership is per epoch
    lo, hi = (rng.epochs.start, rng.epochs.stop) if densify else (rng.from_b, rng.to_b)
    rows = seg.filter(pa.array(_in_range(seg, rng, lo, hi) & _match(seg, depth, preds)))
    folded = _fold(rows, [S.EPOCH, *fcols, S.BUCKET])
    out = _densify(folded, [S.EPOCH, *fcols], rng) if densify else folded
    return _to_spark(spark, out, fcols, dense=densify)


def fetch_multi(
    spark: SparkSession, seg: pa.Table, rng, patterns: "dict[str, list]"
) -> DataFrame:
    """``query.fetch_multi`` over the segment rows ``seg``: one sparse row
    per (matching pattern, folded point), columns (query, epoch,
    f1..fDmax, bucket, total, cnt), deeper columns NULL for shallower
    patterns."""
    compiled = sorted(_compile_batch(patterns).items())
    fcols = S.field_cols(max(d for _, (d, _) in compiled))
    any_match = np.zeros(seg.num_rows, dtype=bool)
    for _, (depth, preds) in compiled:
        any_match |= _match(seg, depth, preds)
    rows = seg.filter(pa.array(_in_range(seg, rng, rng.from_b, rng.to_b) & any_match))
    folded = _fold(rows, [S.EPOCH, *fcols, S.DEPTH, S.BUCKET])
    out = pa.concat_tables(
        hit.add_column(0, "query", pa.array([name] * hit.num_rows, pa.string()))
        for name, (depth, preds) in compiled
        for hit in [folded.filter(pa.array(_match(folded, depth, preds)))]
    )
    return _to_spark(spark, out, fcols, query=True)


def _to_spark(
    spark: SparkSession,
    t: pa.Table,
    fcols: "list[str]",
    query: bool = False,
    dense: bool = False,
) -> DataFrame:
    """``t`` as a local-relation DataFrame with the Spark path's schema:
    ([query,] epoch, f1..fd, bucket, total, cnt), nullable as Spark
    derives them from its parquet scan, except that the label and the
    densified columns are never NULL."""
    cols = [
        *([("query", T.StringType(), False)] if query else []),
        (S.EPOCH, T.LongType(), True),
        *[(c, T.StringType(), True) for c in fcols],
        (S.BUCKET, T.LongType(), not dense),
        (S.TOTAL, T.DoubleType(), not dense),
        (S.CNT, T.DoubleType(), not dense),
    ]
    schema = T.StructType([T.StructField(*c) for c in cols])
    # one chunk: createDataFrame silently drops every row after an empty
    # record batch that follows a non-empty one (PySpark 4.1.2)
    return spark.createDataFrame(t.select([c[0] for c in cols]).combine_chunks(), schema)


def _in_range(t: pa.Table, rng, lo: int, hi: int) -> np.ndarray:
    """``_SlotRange.scan_sql`` as a row mask: the epoch bounds and the
    bucket range [lo, hi)."""
    ep = t[S.EPOCH].to_numpy()
    bk = t[S.BUCKET].to_numpy()
    return (
        (ep >= rng.epochs.start)
        & (ep <= rng.to_b - rng.resolution)
        & (bk >= lo)
        & (bk < hi)
    )


def _match(t: pa.Table, depth: int, preds: list) -> np.ndarray:
    """``query._match_cond`` as a row mask: exact depth plus each compiled
    predicate; a NULL comparison keeps the row out, as a Spark filter
    does. ``Re`` levels run ``database._jmatch`` once per distinct value."""
    from kadiyadb_spark.database import _jmatch

    mask = t[S.DEPTH].to_numpy() == depth
    for col, val in preds:
        c = t[col]
        if isinstance(val, Re):
            hits = [v for v in pc.unique(c).to_pylist() if v is not None and _jmatch(val.pattern, v)]
            term = pc.is_in(c, value_set=pa.array(hits, pa.string()))
        elif isinstance(val, tuple):
            term = pc.is_in(c, value_set=pa.array(val, pa.string()))
        else:
            term = pc.equal(c, pa.scalar(val, pa.string()))
        mask &= pc.fill_null(term, False).to_numpy(zero_copy_only=False)
    return mask


def _codes(col: pa.ChunkedArray) -> np.ndarray:
    """Integer codes of one key column: equal values get equal codes and
    NULL its own (-1), so rows group by comparing codes."""
    if pa.types.is_integer(col.type):
        return col.to_numpy()
    enc = col.combine_chunks().dictionary_encode()
    return pc.fill_null(enc.indices, -1).to_numpy().astype(np.int64)


def _run_starts(sorted_codes: "list[np.ndarray]", n: int) -> np.ndarray:
    """Start index of every run of equal keys in code-sorted rows."""
    change = np.zeros(max(n - 1, 0), dtype=bool)
    for c in sorted_codes:
        change |= c[1:] != c[:-1]
    return np.flatnonzero(np.r_[n > 0, change])


def _fold(t: pa.Table, keys: "list[str]") -> pa.Table:
    """``fold_aggs()`` on the driver: one row per ``keys`` group
    holding the exact folded (total, cnt), rows sorted so every prefix of
    ``keys`` forms contiguous runs."""
    codes = [_codes(t[k]) for k in keys]
    order = np.lexsort(codes[::-1])
    starts = _run_starts([c[order] for c in codes], t.num_rows)
    out = t.select(keys).take(order[starts])
    for col, dp in ((S.TOTAL, CUBE_DP), (S.CNT, 0)):
        out = out.append_column(col, pa.array(_exact_sum(t[col].to_numpy()[order], starts, dp)))
    return out


def _exact_sum(v: np.ndarray, starts: np.ndarray, dp: int) -> np.ndarray:
    """``exact_fold_expr(v, dp)`` per run: round(v·10^dp) to an integer
    with halves away from zero (Spark's HALF_UP ``round``; every double
    below 2^52 rounds the same on its exact value as on its shortest
    decimal form), an exact sum, the ±2^53 guard, then one division."""
    if not len(starts):
        return np.zeros(0)
    s = 10**dp
    x = v * float(s)
    r = np.trunc(x)
    r += np.copysign(np.abs(x - r) >= 0.5, x)
    if not np.isfinite(r).all() or np.abs(r).max() >= 2.0**63:
        bad = r[~np.isfinite(r) | (np.abs(r) >= 2.0**63)][0]
        head, tail = fold_overflow_text(dp)
        raise OverflowError(f"{head}{bad}{tail}")
    scaled = r.astype(np.int64)
    # int64 run sums cannot wrap while the whole column's |mass| is below
    # 2^62; past it the sums run on Python integers
    if np.abs(r).sum() >= 2.0**62:
        scaled = scaled.astype(object)
    sums = np.add.reduceat(scaled, starts)
    over = np.abs(sums) > FOLD_EXACT_BOUND
    if over.any():
        head, tail = fold_overflow_text(dp)
        raise OverflowError(f"{head}{int(sums[over][0])}{tail}")
    return sums.astype(np.int64) / float(s)


def _densify(folded: pa.Table, keys: "list[str]", rng) -> pa.Table:
    """``query._densify`` on folded rows sorted by (``keys``, bucket):
    every ``keys`` group (which includes the epoch) yields one row per
    slot of its epoch clipped to [from_b, to_b), carrying its folded point
    where one exists and (0.0, 0.0) elsewhere. Points outside the range
    vote for membership but fill no slot."""
    n_rows, res = folded.num_rows, rng.resolution
    starts = _run_starts([_codes(folded[k]) for k in keys], n_rows)
    ep = folded[S.EPOCH].to_numpy()[starts]
    lo = np.maximum(ep, rng.from_b)
    n = np.maximum((np.minimum(ep + rng.duration, rng.to_b) - lo) // res, 0)
    first = np.cumsum(n) - n  # each group's first dense row
    group = np.repeat(np.arange(len(starts)), n)
    bucket = lo[group] + (np.arange(len(group)) - first[group]) * res
    # each folded point lands on its slot, if its bucket is one
    row_group = np.repeat(np.arange(len(starts)), np.diff(np.r_[starts, n_rows]))
    b = folded[S.BUCKET].to_numpy()
    off = b - lo[row_group]
    hit = (b >= rng.from_b) & (b < rng.to_b) & (off >= 0) & (off % res == 0)
    hit &= off // res < n[row_group]
    pos = first[row_group[hit]] + off[hit] // res
    out = folded.select(keys).take(starts[group]).append_column(S.BUCKET, pa.array(bucket))
    for col in (S.TOTAL, S.CNT):
        vals = np.zeros(len(group))
        vals[pos] = folded[col].to_numpy()[hit]
        out = out.append_column(col, pa.array(vals))
    return out

"""Database — persisted form of the engine (O10/O12/O13).

Layout mirrors the reference's epoch-oriented design (SURVEY §1.3) but is
committed through a single-file MANIFEST swap so every mutation is atomic on
any Hadoop filesystem (file:, hdfs:, s3a:, gs:):

    <path>/params.json
    <path>/cube/MANIFEST-<gen>.json   # THE commit point (atomic rename)
    <path>/cube/segs/<seg>/epoch_p=<E>/*.parquet

A manifest names, per epoch, the ordered list of SEGMENT directories holding
that epoch's delta rows, plus the per-stream applied-batch high-water marks:

    {"gen": N, "segments": {"<epoch>": ["segs/<seg>/epoch_p=<E>", ...]},
     "hwm": {"<stream_id>": <batch_id>},
     "stats": {"segs/<seg>/epoch_p=<E>": {"f1": ["<value>", ...] | null,
                                          "f2": [...], ...}}}

Readers resolve the highest-generation manifest and read exactly the listed
directories — no directory listing in the read path at all (on object stores
listing is slow and eventually consistent; one small GET replaces it), and
epoch pruning happens at the MANIFEST level before Spark ever plans a scan,
the same role the reference's epoch directory structure plays
(epoch/epoch.go:11-13).

Write paths stage new segment directories (invisible until referenced), then
commit by renaming the next-generation manifest into place:

- ``track`` appends delta segments (LSM write path — cost proportional to the
  batch, like the reference's in-place atomic adds, block/blockrw.go:60-78);
- ``track_stream_batch`` commits the segment refs AND the stream's batch
  high-water mark in the SAME manifest swap, so a crash at any instant either
  commits both or neither — the exactly-once replay window a data-then-marker
  sequence leaves open is closed by construction;
- ``compact`` folds an epoch's segments into one and re-points the manifest
  atomically (readers see old or new, never half);
- ``expire`` is a manifest de-reference + directory delete (the reference's
  ``Cache.Expire`` RemoveAll of epoch dirs, epoch/cache.go:136-156).

Single-writer assumption (matches the reference: one process owns a db): the
generation-numbered manifest makes a lost race an explicit failure (rename
onto an existing generation returns false) rather than silent corruption.

The reference's RO/RW epoch pools, mmap, WAL and snapshots (O10/O12/O14/O15)
are storage-engine mechanics Spark replaces: parquet footers + manifest
pruning play the snapshot/index role, and Sync is the write itself.
"""

from __future__ import annotations

import functools
import json
import logging
import re
import uuid
from typing import TYPE_CHECKING, Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kadiyadb_spark import arrow_read
from kadiyadb_spark import schema as S
from kadiyadb_spark.catalog import Params
from kadiyadb_spark.fs import HadoopFS
from kadiyadb_spark.ingest import _prefix_fanout, fold_aggs, track_batch
from kadiyadb_spark.manifest import ConcurrentWriteError, GenLog
from kadiyadb_spark.query import fetch as fetch_df

if TYPE_CHECKING:
    import pyarrow as pa

    from kadiyadb_spark.query import _SlotRange

_MANIFEST_PREFIX = "MANIFEST-"
_KEEP_MANIFESTS = 3  # old generations kept for debugging/readers-in-flight
_STATS_MAX = 64  # distinct values recorded per (segment, epoch, dimension) for data skipping
# Kept-segment bytes up to which fetch/fetch_multi read, fold and densify on
# the driver (arrow_read) instead of running Spark jobs. Measured at 4 cpus
# (local[4], one 1 h epoch, a depth-3 pattern matching 16 series, medians
# of 5 fetch+collect): driver vs Spark 43 vs 313 ms at 0.32 MB kept, 42 vs
# 263 at 1 MB, 80 vs 485 at 3.9 MB, 160 vs 521 at 16 MB, 436 vs 1023 at
# 34 MB. No crossover up to 34 MB, so driver memory sets the bound: the
# decoded rows take ~10x their parquet bytes (16 MB decoded to 167 MB, at
# a 388 MB peak RSS), and 4 MB keeps a read near 40 MB.
_DRIVER_READ_MAX_BYTES = 4 << 20

log = logging.getLogger(__name__)

# Characters a Re pattern may use OUTSIDE character classes for manifest
# pruning and the driver-side filter to act on it (see _re_prune_safe).
_RE_SAFE_META = set("_|.*+?()^${},:/ -=!<>@#%'\";~")
_RE_QUANTIFIER = re.compile(r"\{\d+(,\d*)?\}")


def _seg_refs(m: dict) -> list[str]:
    """Segment refs a cube manifest names (``GenLog.retained_refs``)."""
    return [r for refs in m.get("segments", {}).values() for r in refs]


def _re_prune_safe(pattern: str) -> bool:
    """True only when Java regex (the rlike filter) and Python re (the
    manifest-stats prune replay) are known to interpret ``pattern``
    identically, so a Python no-match can never skip a segment the JVM
    filter would keep.

    Blacklisting backslashes alone is NOT enough (ADVICE r09): dialects
    also diverge on backslash-free constructs — Java character-class
    intersection ``[a-z&&[aeiou]]`` and nested classes ``[a[bc]]`` parse
    as literals in Python, and inline flags like ``(?i)`` fold different
    character sets. This is a conservative WHITELIST: literals
    (alphanumerics + common punctuation), alternation, anchors,
    quantifiers (* + ? {m,n}), plain ``(?:`` groups, and simple character
    classes with no ``&&``/nesting. Anything else degrades to a full
    read — a divergence can then only cost a scan, never a wrong skip.
    Inside the whitelist ``_jmatch`` replays the JVM's matcher exactly,
    so the driver-side fetch filters with it too. For that, a class may
    not open with ``]`` (``[]a]``, ``[^]a]``), whose end the dialects
    find differently, and a ``{`` must open a well-formed ``{m}``,
    ``{m,}`` or ``{m,n}`` quantifier (Java rejects a stray one, Python
    reads it literally)."""
    if "\\" in pattern or "&" in pattern:
        return False
    in_class = False
    for i, ch in enumerate(pattern):
        if in_class:
            if ch == "[":
                return False  # Java nests classes; Python reads '[' literally
            if ch == "]":
                if pattern[i - 1] == "[" or pattern[i - 2 : i] == "[^":
                    return False
                in_class = False
            continue
        if ch == "[":
            in_class = True
            continue
        if ch == "{" and not _RE_QUANTIFIER.match(pattern, i):
            return False
        if ch == "?" and i > 0 and pattern[i - 1] == "(":
            # group modifiers: only plain non-capturing '(?:' is whitelisted
            # (inline flags '(?i)', lookarounds '(?=', named groups differ
            # or fold differently across dialects)
            if i + 1 >= len(pattern) or pattern[i + 1] != ":":
                return False
            continue
        if not (ch.isalnum() or ch in _RE_SAFE_META):
            return False
    return not in_class


# Java's line terminators (java.util.regex without UNIX_LINES): '.' matches
# none of them, and a '$' outside MULTILINE matches at the end of input and
# before a final terminator — but not between the two halves of a "\r\n"
_JAVA_DOT = "[^\n\r\x85\u2028\u2029]"
_JAVA_DOLLAR = "(?:\\Z|(?=\r\n\\Z)|(?=[\r\x85\u2028\u2029]\\Z)|(?<!\r)(?=\n\\Z))"


@functools.lru_cache(maxsize=1024)
def _java_anchored(pattern: str) -> "re.Pattern":
    """Python form of Spark's ``rlike('^(?:pattern)$')``: outside
    character classes, '.' and '$' become their Java definitions."""
    out, in_class = [], False
    for ch in pattern:
        if in_class:
            in_class = ch != "]"
        elif ch == "[":
            in_class = True
        elif ch == ".":
            ch = _JAVA_DOT
        elif ch == "$":
            ch = _JAVA_DOLLAR
        out.append(ch)
    return re.compile(f"(?:{''.join(out)}){_JAVA_DOLLAR}")


def _jmatch(pattern: str, value: str) -> bool:
    """Whether Spark's anchored ``rlike('^(?:pattern)$')`` (Java regex,
    ``find`` from the start) matches ``value``, for a ``pattern`` inside
    the ``_re_prune_safe`` whitelist. The one Java-anchored matcher: stats
    pruning skips a segment only when no recorded value matches, and the
    driver-side fetch (``arrow_read``) filters ``Re`` levels with it."""
    return _java_anchored(pattern).match(value) is not None


class Database:
    """Open/Track/Fetch/Expire on a persisted manifest-committed cube."""

    def __init__(
        self, spark: SparkSession, path: str, params: Params, rotation_gc: bool = True
    ):
        self.spark = spark
        self.path = path
        self.params = params
        # Rotation GC trade (ADVICE r12): with it ON (default), a segment
        # de-referenced at commit g is deleted once its last retaining
        # manifest rotates out — under GenLog keep=3 a reader pinned via
        # at_gen has ~(keep-1) commits of grace, which a fast-committing
        # stream can burn in seconds. Deployments with long analytic reads
        # over streaming writers should open with rotation_gc=False: data
        # then survives until an explicit maintenance vacuum(), the pre-r12
        # lifetime.
        self.rotation_gc = rotation_gc
        self.fs = HadoopFS(spark, path)
        self.cube_path = HadoopFS.join(path, "cube")
        # the ONE commit primitive (manifest.GenLog) — the cube keeps its
        # historical MANIFEST- file spelling; this closed the "two copies
        # of the commit protocol" debt the r08 core review deferred
        self._genlog = GenLog(
            spark, self.cube_path, keep=_KEEP_MANIFESTS, prefix=_MANIFEST_PREFIX
        )

    # -- O13 Open ------------------------------------------------------------
    @classmethod
    def open(
        cls,
        spark: SparkSession,
        path: str,
        params: Params | None = None,
        rotation_gc: bool = True,
    ) -> "Database":
        fs = HadoopFS(spark, path)
        pj = HadoopFS.join(path, "params.json")

        def stored() -> Params:
            try:
                return Params.from_dict(fs.read_json(pj))
            except ValueError as e:
                raise ValueError(f"invalid params at {path}: {e}") from e

        if params is None:
            params = stored()
        else:
            fs.mkdirs(path)
            if not fs.exists(pj):
                fs.write_text_atomic(pj, json.dumps(params.to_dict()))
            else:
                existing = stored()
                if existing != params:
                    # opening an existing cube under DIFFERENT params would
                    # write/read on the wrong bucket/epoch grid — silent
                    # corruption, not an error, without this check (review
                    # finding; clone() used to guard this at its own call
                    # site only)
                    raise ValueError(
                        f"params mismatch at {path}: stored "
                        f"{existing.to_dict()} != requested {params.to_dict()}"
                    )
        return cls(spark, path, params, rotation_gc=rotation_gc)

    @property
    def max_depth(self) -> int:
        return len(self.params.fields)

    # -- manifest protocol (delegates to the ONE commit primitive) -------------
    def _manifest_names(self) -> list[str]:
        return self._genlog._names()

    def generations(self) -> list[int]:
        """Retained manifest generations, oldest first — each is a readable
        snapshot (see ``cube(at_gen=...)``)."""
        return self._genlog.retained()

    def current_gen(self) -> int:
        """Generation of the latest commit (-1 on an empty cube) — the
        handle a consumer records to later read ``changes(gen)``."""
        return int(self._manifest()["gen"])

    def _manifest(self, at_gen: int | None = None) -> dict:
        if at_gen is None:
            m = self._genlog.read()
            if int(m.get("gen", -1)) == -1:
                return {"gen": -1, "segments": {}, "hwm": {}, "stats": {}}
        elif at_gen == -1:
            # -1 IS the empty-cube generation current_gen() hands out, and
            # consumers feed it back (changes(gen0), create_view /
            # create_rule_group_view on a fresh store) — resolve it to the
            # empty manifest instead of a spurious not-retained ValueError
            # (code-review r12)
            return {"gen": -1, "segments": {}, "hwm": {}, "stats": {}}
        else:
            # raises ValueError("generation N not retained ...") on an
            # unretained pin, including the empty-cube case
            m = self._genlog.read(at_gen=at_gen)
        m["segments"] = {int(e): list(refs) for e, refs in m["segments"].items()}
        m.setdefault("stats", {})
        return m

    def _commit_manifest(
        self,
        m: dict,
        refs: "dict[int, str] | None" = None,
        stats: "dict[str, dict] | None" = None,
        drop: "Iterable[int]" = (),
        hwm: "dict[str, int] | None" = None,
        keep: int = _KEEP_MANIFESTS,
    ) -> None:
        """THE cube mutation: apply one edit to manifest ``m`` — the body
        the mutation read (and, for a rewrite, folded over) — and publish it
        as generation ``m["gen"] + 1`` via manifest.GenLog (the rename IS
        the commit; before it, nothing referenced the staged segments).

        The edit: every ref of the ``drop`` epochs (replaced or expired) is
        removed, each ``refs`` {epoch: ref} is appended, and ``stats`` /
        ``hwm`` merge over m's; data-skipping stats ride the same atomic
        swap as the refs they describe, so they can never disagree with the
        data, and entries for de-referenced refs are dropped. ``keep``
        bounds the retained snapshot window (old manifests are pure
        metadata, bytes-sized); data-DELETING commits pass keep=1 so the
        deleted data is not resurrectable through an older snapshot.

        This is the only place cube data is deleted. Under rotation GC
        (code-review r12) it deletes the refs retained before this commit
        that no manifest retained after it references — a segment
        de-referenced at commit g is freed once its last retaining manifest
        rotates out, instead of leaking until vacuum(). With
        ``rotation_gc=False`` only m's own refs are candidates, so a keep=1
        commit (expire) still frees the data it drops at once while keep=3
        commits free nothing. A crash between the commit and the deletes
        leaves orphans — vacuum's job — never dangling refs."""
        drop = set(drop)
        edited = {e: list(rs) for e, rs in m["segments"].items() if e not in drop}
        for e, ref in (refs or {}).items():
            edited.setdefault(e, []).append(ref)
        segments = {str(e): rs for e, rs in sorted(edited.items()) if rs}
        live = {ref for rs in segments.values() for ref in rs}
        body = {
            "segments": segments,
            "hwm": {**m.get("hwm", {}), **(hwm or {})},
            "stats": {
                r: v
                for r, v in {**m.get("stats", {}), **(stats or {})}.items()
                if r in live
            },
        }
        before = (
            self._genlog.retained_refs(_seg_refs) if self.rotation_gc else set(_seg_refs(m))
        )
        doomed = before - live
        self._genlog.commit(body, m["gen"], keep=keep)
        if doomed:
            for ref in doomed - self._genlog.retained_refs(_seg_refs):
                self.fs.delete(HadoopFS.join(self.cube_path, ref))

    def _write_segment(
        self,
        delta: DataFrame,
        sort_series: bool = False,
        salt_files: int = 1,
        collect_stats: bool = True,
    ) -> tuple[dict[int, str], dict[str, dict[str, list[str] | None]]]:
        """Stage one cube-shaped delta as a new segment directory tree and
        return ({epoch: relative ref}, {ref: f1 stats}). Staged data is
        INVISIBLE until a manifest referencing it commits, so a crash here
        just leaves an orphan for vacuum().

        ``collect_stats=False`` skips the data-skipping stats job — missing
        stats degrade to a full read, never a wrong skip, so latency-bound
        writers (streaming micro-batches) omit them and let
        ``refresh_stats()``/``compact()`` backfill during maintenance.

        The write repartitions by epoch so each epoch's rows land in one
        writer task -> one file per (segment, epoch); `epoch_p` duplicates
        the epoch value because partitionBy strips its column from the data
        files and readers address segment LEAF dirs directly (no partition
        discovery), so `epoch` must survive as a data column. When
        ``sort_series``, rows are sorted series-major (depth, f1.., bucket)
        with epoch_p leading so the partitioned-write path sees its ordering
        requirement satisfied and does not insert its own (order-scrambling)
        sort.

        ``salt_files`` > 1 splits each epoch across that many writer tasks
        (salt = hash of the series dimensions, so each file still holds
        whole series and sorting stays series-major within the file). This
        is the straggler escape for epochs too large for one task — the
        same salting reasoning as the skew-join helpers."""
        seg = f"seg-{uuid.uuid4().hex[:12]}"
        seg_root = HadoopFS.join(self.cube_path, "segs", seg)
        fcols = S.field_cols(self.max_depth)
        out = delta.withColumn("epoch_p", F.col(S.EPOCH))
        if salt_files > 1:
            # Explicit partition count: AQE would coalesce a small salted
            # shuffle back into one task, silently undoing the split.
            salt = F.pmod(F.hash(S.DEPTH, *fcols), F.lit(salt_files))
            n = max(salt_files, self.spark.sparkContext.defaultParallelism)
            out = out.repartition(n, F.col("epoch_p"), salt)
        else:
            out = out.repartition(F.col("epoch_p"))
        if sort_series:
            out = out.sortWithinPartitions("epoch_p", S.DEPTH, *fcols, S.BUCKET)
        out.write.partitionBy("epoch_p").mode("overwrite").parquet(seg_root)
        refs: dict[int, str] = {}
        for child in self.fs.listdir(seg_root):
            if child.startswith("epoch_p="):
                e = int(child.split("=", 1)[1])
                refs[e] = f"segs/{seg}/{child}"
        if not refs:  # empty delta: nothing will reference the husk
            self.fs.delete(seg_root)
            return {}, {}
        if not collect_stats:
            return refs, {}
        return refs, self._seg_stats(list(refs.values()))

    def _seg_stats(self, refs: list[str]) -> dict[str, dict[str, list[str] | None]]:
        """THE data-skipping stats census: per segment ref, the distinct
        dimension values of EVERY field column — the Spark-native form of
        the reference's index Find narrowing reads to matching series
        (index/node.go:126-198). ``_write_segment`` runs it on the segment
        it just wrote; ``refresh_stats`` on the refs the streaming sinks
        committed without stats.

        ONE Spark job covers all ``refs``: their leaf dirs scan together
        (column-pruned, from the WRITTEN files — never a recompute of the
        upstream plan) and each row is attributed back to its ref via
        ``input_file_name()`` (the ``segs/<seg>/epoch_p=<E>`` ref IS a
        substring of the file path); one explode of the (level, value)
        pairs makes all dimensions cost one aggregation. A (ref, level)
        with more than ``_STATS_MAX`` distinct values records None ("too
        wide to skip on"); the rank cap bounds what reaches the driver at
        MAX+1 rows per (ref, level) no matter the dimension's cardinality.
        Every ref gets an entry — an empty one when it holds no non-null
        field value (skips nothing; pruning acts only on positive
        evidence)."""
        fcols = S.field_cols(self.max_depth)
        if not fcols:
            return {}
        from pyspark.sql import Window

        # pinned schema (same reasoning as _read_fold)
        pairs = (
            self.spark.read.schema(S.cube_schema(self.max_depth))
            .parquet(*[HadoopFS.join(self.cube_path, ref) for ref in refs])
            .select(
                F.regexp_extract(
                    F.input_file_name(), r"(segs/[^/]+/epoch_p=[^/]+)/", 1
                ).alias("_ref"),
                F.posexplode(F.array(*[F.col(c) for c in fcols])).alias("_i", "_v"),
            )
            .where(F.col("_v").isNotNull())
        )
        # ONE shuffle, spill-safe: the window's sort-based dense_rank caps
        # each (ref, level) at MAX+1 DISTINCT values BEFORE any aggregation
        # buffer exists (sorts spill to disk; an unbounded collect_set buffer
        # cannot — a million-cardinality level would OOM the final agg task),
        # and the groupBy rides the window's partitioning with no second
        # exchange. collect_set then holds <= MAX+1 values per group.
        w = Window.partitionBy("_ref", "_i").orderBy("_v")
        rows = (
            pairs.withColumn("_dr", F.dense_rank().over(w))
            .where(F.col("_dr") <= _STATS_MAX + 1)
            .groupBy("_ref", "_i")
            .agg(F.sort_array(F.collect_set("_v")).alias("vals"))
            .collect()
        )
        out: dict[str, dict[str, list[str] | None]] = {ref: {} for ref in refs}
        for r in rows:
            vals = list(r["vals"])
            out.setdefault(r["_ref"], {})[S.field_col(int(r["_i"]) + 1)] = (
                vals if len(vals) <= _STATS_MAX else None
            )
        return out

    def _segment_paths(
        self,
        m: dict,
        epochs: set[int] | None = None,
        prune_any: "list[list] | None" = None,
    ) -> list[str]:
        """Resolve manifest refs to scan paths, applying manifest-level data
        skipping: epoch pruning, then dimension-value pruning against the
        per-segment stats ``_write_segment`` recorded. A segment is kept
        when ANY pattern of ``prune_any`` keeps it (a single fetch passes
        one pattern); a pattern drops it when, for some exact (non-``*``)
        level, the recorded value set for that level excludes the value —
        a pattern of depth L only matches depth-L rows, whose f1..fL are
        all non-null, and the stats cover all non-null values at every
        depth, so this never wrongly skips. A ref with no stats entry
        (pre-stats manifest), a None level (cardinality overflow), or an
        early-round list-form entry missing the level is never skipped —
        skipping only ever acts on positive evidence, so stale or missing
        stats degrade to a full read, not a wrong one."""
        from kadiyadb_spark.query import Re, compile_pattern

        stats = m.get("stats", {})
        # Pruning reads compile_pattern's predicates (the one pattern form).
        # Value-set levels (the IN matcher) prune too: a segment is
        # skippable only when its stats exclude EVERY listed value. Re
        # levels prune on positive evidence as well — ONLY for patterns
        # inside the _re_prune_safe whitelist, matched by _jmatch (the JVM
        # filter's own semantics: pruning must never skip a segment the
        # filter would match, so escapes, class intersection/nesting,
        # inline flags etc. degrade to a full read).
        pred_sets = [compile_pattern(p)[1] for p in prune_any or []]

        def _keep_one(st: dict, preds: list) -> bool:
            for col, val in preds:
                vals = st.get(col)
                if isinstance(vals, list):
                    if isinstance(val, Re):
                        if not _re_prune_safe(val.pattern):
                            continue  # dialect-safe: never skip outside the whitelist
                        if not any(_jmatch(val.pattern, x) for x in vals):
                            return False
                        continue
                    want = val if isinstance(val, tuple) else (val,)
                    if not any(x in vals for x in want):
                        return False
            return True

        def _keep(ref: str) -> bool:
            st = stats.get(ref)
            if st is None:
                return True
            if isinstance(st, list):  # early round-6 format: f1 values only
                st = {S.field_col(1): st}
            return any(_keep_one(st, preds) for preds in pred_sets)

        return [
            HadoopFS.join(self.cube_path, ref)
            for e, refs in sorted(m["segments"].items())
            if epochs is None or e in epochs
            for ref in refs
            if not pred_sets or _keep(ref)
        ]

    def _orphans(self, live: set[str]) -> list[str]:
        """Segment data under ``cube/segs`` that no ref in ``live`` names —
        the one walk behind ``vacuum()`` and ``fsck()["orphans"]``: a
        segment dir none of whose leaves is live goes whole, a live
        segment's unreferenced epoch leaves go one by one. One listing of
        the segs tree plus one per live segment dir."""
        live_roots = {ref.rsplit("/", 1)[0] for ref in live}
        segs_root = HadoopFS.join(self.cube_path, "segs")
        out = []
        for seg in self.fs.listdir(segs_root):
            root = f"segs/{seg}"
            if root not in live_roots:
                out.append(root)
                continue
            out.extend(
                f"{root}/{child}"
                for child in self.fs.listdir(HadoopFS.join(segs_root, seg))
                if child.startswith("epoch_p=") and f"{root}/{child}" not in live
            )
        return sorted(out)

    def vacuum(self) -> list[str]:
        """Remove segment data not referenced by ANY retained manifest —
        leftovers of writes that crashed before their commit. Safe under the
        single-writer assumption (an in-flight writer's staged segments are
        unreferenced by definition; don't vacuum concurrently with writes)."""
        removed = self._orphans(self._genlog.retained_refs(_seg_refs))
        for rel in removed:
            self.fs.delete(HadoopFS.join(self.cube_path, rel))
        return removed

    # -- read path -------------------------------------------------------------
    def cube(
        self,
        from_epoch: int | None = None,
        to_epoch: int | None = None,
        at_gen: int | None = None,
        epochs: set[int] | None = None,
        prune_any: "list[list] | None" = None,
    ) -> DataFrame:
        """The cube as a DataFrame, FOLDED to one row per cube key.

        ``track`` appends delta segments (LSM-style), so an epoch may hold
        several partial rows per (bucket, fields, depth) key; the fold is a
        sum groupBy — exact, because the Point is a decomposable
        (total, count) pair (SURVEY §1.1). Epoch pruning happens HERE, at
        the manifest level: only segment directories of epochs inside
        [from_epoch, to_epoch] are handed to the scan, so out-of-range data
        is never listed, planned or read. Within the scan, epoch is a data
        column with one value per file, so parquet min-max stats skip
        whole row groups for any further epoch predicate Catalyst pushes.

        ``prune_any`` applies manifest-level data skipping: segments whose
        recorded dimension stats rule out every one of those patterns are
        left out of the scan entirely (see ``_segment_paths`` for the
        soundness contract — callers must themselves apply the patterns'
        exact-depth filters).

        ``at_gen`` reads a RETAINED older generation (snapshot read / time
        travel): because commits are whole-manifest swaps and segments are
        immutable, every kept manifest is a consistent point-in-time view —
        a long-running job can pin the generation it started on and never
        see a torn mix of old and new data. GC deletes a segment only once
        no retained manifest references it (``_commit_manifest``; expire
        collapses the window to its own generation), so pinned reads must
        stay within the retained window (``generations()``)."""
        return self._read_fold(
            self._scan_paths(from_epoch, to_epoch, at_gen, epochs, prune_any)
        )

    def _scan_paths(
        self,
        from_epoch: int | None = None,
        to_epoch: int | None = None,
        at_gen: int | None = None,
        epochs: set[int] | None = None,
        prune_any: "list[list] | None" = None,
    ) -> list[str]:
        """The segment paths ``cube`` scans for these arguments."""
        m = self._manifest(at_gen=at_gen)
        # `epochs` (an EXACT set) prunes sparse touch-sets that a [min, max]
        # range cannot: compact/merge_replace rewriting epochs {1, 10000}
        # must not hand 9 998 untouched epochs' segment dirs to the scan
        # (each costs a footer GET on an object store — review finding)
        want = {
            e
            for e in m["segments"]
            if (epochs is None or e in epochs)
            and (from_epoch is None or e >= from_epoch)
            and (to_epoch is None or e <= to_epoch)
        }
        return self._segment_paths(m, want, prune_any=prune_any)

    def _read_fold(self, paths: "list[str]", cluster: "list[str] | None" = None) -> DataFrame:
        """Read segment paths and fold to one row per cube key — the single
        source of the fold contract shared by ``cube``, ``changes`` and
        ``fetch`` (the 'cube(g0) plus changes(g0) equals cube()' invariant
        depends on all of them using the identical fold).

        ``cluster`` hash-partitions the scanned rows on those cube-key
        columns BEFORE the fold. The fold's grouping keys contain them, so
        the fold runs on that partitioning with no Exchange of its own,
        and a downstream groupBy whose keys also contain them reuses it:
        ``fetch``'s densify groupBy on (epoch, f1..fd) then shares the
        fold's one Exchange. Filters above still push through the
        repartition to the scan."""
        schema = S.cube_schema(self.max_depth)
        if not paths:
            # a parquet scan reports every column nullable, and so does the
            # fold over it: the empty frame carries the same schema
            return self.spark.createDataFrame(
                [], T.StructType([T.StructField(f.name, f.dataType) for f in schema])
            )
        # PINNED schema: every segment is written by _write_segment from a
        # cube-shaped frame, so the file schema is cube_schema by
        # construction — schema inference would otherwise cost one driver
        # job (a footer read; ~0.1 s locally, a listing+footer pass over
        # the pruned path set at scale) on EVERY cube read (r14, guide §6).
        # The scan therefore already yields exactly cube_schema's column
        # types, and no cast is needed before the fold.
        df = self.spark.read.schema(schema).parquet(*paths)
        if cluster:
            df = df.repartition(*cluster)
        # groupBy emits its keys then its aggregates: cube_schema's order
        keys = [S.EPOCH, S.BUCKET, *S.field_cols(self.max_depth), S.DEPTH]
        return df.groupBy(*keys).agg(*self._fold_aggs)

    @functools.cached_property
    def _fold_aggs(self) -> list:
        """``fold_aggs`` for this cube, built once per handle: every Column
        call is a JVM round trip, and the guarded exact fold takes a few
        dozen of them — tens of ms per read, paid before any job runs."""
        return fold_aggs()

    def create_view(
        self,
        name: str,
        at_gen: int | None = None,
        from_epoch: int | None = None,
        to_epoch: int | None = None,
    ) -> str:
        """Register the cube as a TEMP VIEW so plain ``spark.sql`` works
        against the store — the Spark-native API surface the reference's
        Go client can't offer: any BI tool / notebook / SQL string reads
        the cube with full Catalyst pushdown through the view.

        The view wraps :meth:`cube` (manifest-consistent fold): it is
        PINNED to the manifest resolved NOW (``at_gen`` or current), so a
        long-running SQL session sees one point-in-time snapshot, never a
        torn mix across commits — re-register after new commits to see
        them (the same contract as any pinned read). Returns the name."""
        gen = self.current_gen() if at_gen is None else at_gen
        self.cube(
            at_gen=gen, from_epoch=from_epoch, to_epoch=to_epoch
        ).createOrReplaceTempView(name)
        return name

    def changes(self, since_gen: int, to_gen: int | None = None) -> DataFrame:
        """Cube rows ADDED after generation ``since_gen`` (exclusive), up to
        ``to_gen`` (inclusive; default the current generation) — the
        incremental-consumer read. Because commits are whole-manifest swaps
        over immutable segments, the delta between two retained generations
        is exactly the segments referenced by the newer manifest and not the
        older one; a downstream aggregate updates from those increments
        without re-reading the cube (the change-data-feed a Delta table
        exposes, manifest-native here).

        Only valid across PURE-APPEND history: if the range spans a rewrite
        (compact/expire/merge_replace re-point or drop segments), increments
        cannot express the change and this raises — the consumer falls back
        to a full ``cube()`` refresh. Rewrites are detectable as refs present
        in the old manifest but missing from the new one.

        Returned rows are folded per cube key WITHIN the delta (same exact
        (total, cnt) decomposition as ``cube``), so ``cube(at_gen=g0)`` plus
        ``changes(g0)`` folded together equals ``cube()``.
        """
        m0 = self._manifest(at_gen=since_gen)
        m1 = self._manifest(at_gen=to_gen)
        old_refs = {ref for refs in m0["segments"].values() for ref in refs}
        new_refs = {ref for refs in m1["segments"].values() for ref in refs}
        rewritten = old_refs - new_refs
        if rewritten:
            raise ValueError(
                f"generations {since_gen}..{m1['gen']} span a rewrite "
                f"(compact/expire/replace-merge removed {len(rewritten)} segment refs); "
                "incremental read unavailable — refresh from cube()"
            )
        added = sorted(new_refs - old_refs)
        return self._read_fold([HadoopFS.join(self.cube_path, r) for r in added])

    # -- O1 Track (micro-batch) ---------------------------------------------
    def track(self, events: DataFrame, ts_col: str = "ts", total_col: str = "value", count_col: str | None = None) -> None:
        """Append-increment a batch of events into the persisted cube.

        LSM-style write path: aggregate the batch to cube deltas (one
        shuffle), stage them as a new segment, and commit a manifest that
        APPENDS the segment to the touched epochs — no read, no rewrite of
        existing data, cost proportional to the BATCH (the reference's
        in-place atomic adds, block/blockrw.go:60-78). Reads fold the
        segments exactly (see ``cube``); ``compact`` folds them physically."""
        p = self.params
        delta = track_batch(
            events,
            fields=list(p.fields),
            ts_col=ts_col,
            total_col=total_col,
            count_col=count_col,
            resolution=p.resolution,
            duration=p.duration,
        )
        refs, stats = self._write_segment(delta)
        if refs:
            self._commit_manifest(self._manifest(), refs, stats)

    # -- streaming idempotency ------------------------------------------------
    def applied_batch_hwm(self, stream_id: str) -> int:
        """Highest micro-batch id already committed for ``stream_id``; -1 if
        none. Lives IN the manifest, so it can never disagree with the data."""
        return int(self._manifest().get("hwm", {}).get(stream_id, -1))

    def track_stream_batch(
        self,
        batch: DataFrame,
        batch_id: int,
        stream_id: str = "raw",
        ts_col: str = "ts",
        total_col: str = "value",
        count_col: str | None = None,
    ) -> bool:
        """Increment-merge one micro-batch, EXACTLY-ONCE under replay.

        Structured Streaming re-runs a foreachBatch with the SAME batch_id
        after a sink failure or restart-from-checkpoint; a bare increment
        merge would double-count those rows (SURVEY §7's one real design
        risk). Here the segment references and the stream's applied-batch
        high-water mark commit in the SAME atomic manifest swap: a crash
        before the swap leaves only unreferenced staged files (the replay
        re-stages and commits once), a crash after it makes the replay a
        no-op via the hwm check — there is no instant at which data is
        visible without the mark or vice versa. This is the transactional
        write a Delta `txn` appId/version pair provides, done parquet-native.
        Returns True if the batch was applied, False if skipped as already
        applied.

        Unlike batch ``track`` this skips the data-skipping stats census:
        it is one extra Spark job per segment — pure fixed latency on every
        micro-batch of a low-latency stream (measured 25-40% per-batch tax
        at tiny batches). Missing stats only disable segment skipping for
        the batch's epochs until ``refresh_stats()`` / ``compact()`` (both
        inside ``maintain()``) backfill them."""
        p = self.params
        delta = track_batch(
            batch,
            fields=list(p.fields),
            ts_col=ts_col,
            total_col=total_col,
            count_col=count_col,
            resolution=p.resolution,
            duration=p.duration,
        )
        return self.commit_cube_batch(delta, batch_id, stream_id=stream_id)

    def commit_cube_batch(
        self,
        delta: DataFrame,
        batch_id: int,
        stream_id: str = "raw",
        collect_stats: bool = False,
    ) -> bool:
        """Commit ALREADY-cube-shaped delta rows for one micro-batch with
        the same atomic segment-refs + hwm manifest swap as
        track_stream_batch. Also the sink for APPEND-mode streaming
        aggregation (streaming.stream_track_agg_append), where the engine
        emits each (bucket, path, depth) group exactly once when the
        watermark closes its window — final rows, so the commit is a pure
        exactly-once append with no merge anywhere. ``collect_stats``
        defaults OFF (see track_stream_batch — the per-batch stats job is
        pure ingest latency; maintenance backfills)."""
        m = self._manifest()
        if batch_id <= int(m.get("hwm", {}).get(stream_id, -1)):
            return False
        cols = [f.name for f in S.cube_schema(self.max_depth).fields]
        refs, stats = self._write_segment(delta.select(*cols), collect_stats=collect_stats)
        self._commit_manifest(m, refs, stats, hwm={stream_id: batch_id})
        return True

    def merge_replace(self, delta: DataFrame) -> None:
        """Replace-merge cube-shaped delta rows (cumulative values win over
        stored ones) — the sink for update-mode streaming aggregation, where
        each emitted row is the running (total, cnt) for its group. The
        rewritten epochs swap in atomically with the manifest commit; replay
        safety here comes from the VALUES being cumulative (rewriting the
        same batch lands the same totals), so no hwm is needed. Like the
        other per-micro-batch sinks it skips the stats census (see
        track_stream_batch); ``refresh_stats()`` backfills."""
        fcols = S.field_cols(self.max_depth)
        keys = [S.EPOCH, S.BUCKET, *fcols, S.DEPTH]
        delta = delta.select(*keys, S.TOTAL, S.CNT).persist()
        try:
            # Driver-side epoch census of the BATCH (bounded: epochs-per-batch,
            # not data volume) — decides which epochs get rewritten.
            touched = {int(r[0]) for r in delta.select(S.EPOCH).distinct().collect()}
            if not touched:
                return
            m = self._manifest()
            # exact epoch-set scan of the manifest this commit replaces:
            # only the touched epochs' segments are listed/planned
            existing = self._read_fold(self._segment_paths(m, touched))
            # NULL-safe key equality: f-columns are null for prefix rows, and
            # a plain equality join would never match them.
            d = delta.select(*keys)
            cond = None
            for k in keys:
                c = existing[k].eqNullSafe(d[k])
                cond = c if cond is None else (cond & c)
            merged = existing.join(d, on=cond, how="left_anti").unionByName(delta)
            refs, _ = self._write_segment(merged, collect_stats=False)
            self._commit_manifest(m, refs, drop=touched)
        finally:
            delta.unpersist()

    # -- O2 Fetch ------------------------------------------------------------
    def _read_range(
        self,
        from_ts: int,
        to_ts: int,
        patterns: "list[list]",
        at_gen: int | None = None,
    ) -> "tuple[_SlotRange, dict, list[str]]":
        """The one read preamble of ``fetch``, ``fetch_multi`` and
        ``rule_group``: (range spec, manifest, kept segment paths). Callers
        compile their patterns first; the range spec (query._slot_range)
        then validates [from_ts, to_ts), so a bad request raises before the
        store is touched. The manifest is pruned to the range's epochs and,
        in UNION form, to the segments whose dimension stats keep at least
        one pattern — a batch scans exactly the segments its individual
        fetches would have touched, once."""
        from kadiyadb_spark.query import _slot_range

        rng = _slot_range(from_ts, to_ts, self.params.resolution, self.params.duration)
        m = self._manifest(at_gen=at_gen)
        return rng, m, self._segment_paths(m, rng.epochs, prune_any=patterns)

    @functools.cached_property
    def _local_cube_dir(self) -> "str | None":
        """POSIX path of the cube dir when it is on the local filesystem
        (scheme ``file``, given or by default FS), else None."""
        return self.fs.local_path(self.cube_path)

    def _driver_segments(
        self,
        op: str,
        m: dict,
        rng: "_SlotRange",
        paths: "list[str]",
        patterns: "list[list]",
    ) -> "pa.Table | None":
        """Choose the executor of one ``fetch``/``fetch_multi`` read and log
        its read report. Returns the kept segments' rows when the driver
        serves the read (``arrow_read``: no Spark job), None when the Spark
        plan does. The driver serves only when all of these hold:

        - every ``Re`` level is inside the ``_re_prune_safe`` whitelist,
          where ``_jmatch`` replays the JVM's matcher;
        - the store is on the local filesystem;
        - the kept files total at most ``_DRIVER_READ_MAX_BYTES`` (one
          ``scandir`` per kept leaf dir finds them and their sizes);
        - every kept file's physical schema is cube_schema's.

        An empty range keeps the Spark path, whose empty frame needs no
        plan; an empty kept set passes every condition and the driver
        returns the same empty frame Spark would. The report is one DEBUG
        line on this module's logger: the path, for ``spark`` the
        condition that failed, then the segments in the manifest, in the
        range's epochs and kept, and the kept files and bytes (``-`` when
        not listed)."""
        from kadiyadb_spark.query import Re, compile_pattern

        seg, why, files, nbytes = None, None, None, None
        if rng.empty:
            why = "empty range"
        elif any(
            isinstance(v, Re) and not _re_prune_safe(v.pattern)
            for p in patterns
            for _, v in compile_pattern(p)[1]
        ):
            why = "regex outside the Java-parity whitelist"
        elif self._local_cube_dir is None:
            why = "not a local filesystem"
        else:
            root = len(self.cube_path)
            files = arrow_read.list_files([self._local_cube_dir + p[root:] for p in paths])
            if files is None:
                why = "segment dir missing"
            elif (nbytes := sum(b for _, b in files)) > _DRIVER_READ_MAX_BYTES:
                why = f"kept bytes over {_DRIVER_READ_MAX_BYTES}"
            else:
                seg = arrow_read.read_segments([f for f, _ in files], self.max_depth)
                if seg is None:
                    why = "segment schema differs from cube_schema"
        if log.isEnabledFor(logging.DEBUG):
            log.debug(
                "%s path=%s%s segments=%d in_range=%d kept=%d files=%s bytes=%s",
                op,
                "spark" if why else "arrow",
                f" reason={why!r}" if why else "",
                sum(len(refs) for refs in m["segments"].values()),
                sum(len(refs) for e, refs in m["segments"].items() if e in rng.epochs),
                len(paths),
                "-" if files is None else len(files),
                "-" if nbytes is None else nbytes,
            )
        return seg

    def fetch(
        self,
        from_ts: int,
        to_ts: int,
        pattern: list[str],
        densify: bool = True,
        at_gen: int | None = None,
    ) -> DataFrame:
        """Fetch (``query.fetch`` semantics) over the persisted store.
        Manifest-level pruning happens before any read: only segments of
        epochs overlapping [from_ts, to_ts) are kept, and for EVERY exact
        (non-*) pattern level, segments whose recorded dimension stats
        exclude that value are skipped too (the reference's index Find
        narrowing the read to matching series, done as metadata).
        ``at_gen`` pins the read to a retained snapshot (see ``cube``).

        Two executors answer with the same rows and schema. A small read
        of a local store (``_driver_segments`` names the conditions) runs
        on the driver with pyarrow (``arrow_read``) and returns a local
        DataFrame whose collect runs no Spark job, the way the reference
        answers from its open-epoch cache. Every other read is one Spark
        plan: the kept segments' scan, clustered on (epoch, f1..fd) so the
        fold and the densify share one Exchange (``_read_fold``)."""
        from kadiyadb_spark.query import compile_pattern

        depth, _ = compile_pattern(pattern)
        rng, m, paths = self._read_range(from_ts, to_ts, [pattern], at_gen)
        seg = self._driver_segments("fetch", m, rng, paths, [pattern])
        if seg is not None:
            return arrow_read.fetch(self.spark, seg, rng, pattern, densify)
        cluster = [S.EPOCH, *S.field_cols(depth)] if densify else None
        return fetch_df(
            self._read_fold(paths, cluster),
            from_ts,
            to_ts,
            pattern,
            resolution=self.params.resolution,
            duration=self.params.duration,
            densify=densify,
        )

    def fetch_multi(
        self,
        from_ts: int,
        to_ts: int,
        patterns: "dict[str, list]",
        at_gen: int | None = None,
    ) -> DataFrame:
        """The rule-evaluation batch over the persisted store: every
        pattern answered from ONE read (query.py:fetch_multi) of the
        union-pruned segments (``_read_range``). Sparse output with a
        leading ``query`` label. Like ``fetch``, a small local read runs on
        the driver (``arrow_read``) and every other read as one Spark
        scan."""
        from kadiyadb_spark.query import _compile_batch
        from kadiyadb_spark.query import fetch_multi as fetch_multi_df

        _compile_batch(patterns)
        pats = list(patterns.values())
        rng, m, paths = self._read_range(from_ts, to_ts, pats, at_gen)
        seg = self._driver_segments("fetch_multi", m, rng, paths, pats)
        if seg is not None:
            return arrow_read.fetch_multi(self.spark, seg, rng, patterns)
        return fetch_multi_df(
            self._read_fold(paths),
            from_ts,
            to_ts,
            patterns,
            resolution=self.params.resolution,
            duration=self.params.duration,
        )

    def rule_group(
        self,
        from_ts: int,
        to_ts: int,
        rules: "dict[str, dict]",
        at_gen: int | None = None,
    ) -> DataFrame:
        """Prometheus rule-group evaluation over the persisted store
        (query.py:fetch_rule_group): every rule answered from ONE shared
        scan over the segments at least one rule's stats evidence keeps
        (``_read_range``, as ``fetch_multi``)."""
        from kadiyadb_spark.query import _compile_rules, fetch_rule_group

        _compile_rules(rules)
        _, _, paths = self._read_range(
            from_ts, to_ts, [r["pattern"] for r in rules.values()], at_gen
        )
        return fetch_rule_group(
            self._read_fold(paths),
            from_ts,
            to_ts,
            rules,
            resolution=self.params.resolution,
            duration=self.params.duration,
        )

    def create_rule_group_view(
        self,
        name: str,
        from_ts: int,
        to_ts: int,
        rules: "dict[str, dict]",
        at_gen: int | None = None,
    ) -> str:
        """Register a rule-group evaluation as a TEMP VIEW — the BI/JDBC
        surface for the PromQL fetch family (VERDICT r11 item 8): any SQL
        client can now read pending/firing alert runs, aggregate them, or
        join them against other tables with full Catalyst planning through
        the view. Like ``create_view`` the registration is PINNED to the
        manifest resolved NOW (``at_gen`` or current) — a dashboard query
        never sees a torn mix across commits; re-register to pick up new
        generations. Returns the view name."""
        gen = self.current_gen() if at_gen is None else at_gen
        self.rule_group(from_ts, to_ts, rules, at_gen=gen).createOrReplaceTempView(
            name
        )
        return name

    # -- O11 Expire ----------------------------------------------------------
    def expire(self, before_ts: int) -> list[int]:
        """Drop epochs strictly older than ``before_ts``
        (epoch/cache.go:136-156 — there RemoveAll of epoch dirs; here an
        atomic manifest de-reference followed by directory deletes, no data
        rewrite). Works identically on file:, hdfs: and s3a: roots."""
        cutoff = before_ts - (before_ts % self.params.duration)
        m = self._manifest()
        dropped = sorted(e for e in m["segments"] if e < cutoff)
        if not dropped:
            return []
        # keep=1: expiry is data DELETION — older snapshots must not keep
        # the expired epochs reachable (retention is often a compliance
        # boundary, not just a space reclaim), so the retained-manifest
        # window collapses to the new generation and the segments free now.
        self._commit_manifest(m, drop=dropped, keep=1)
        return dropped

    def expire_by_retention(self, now_ts: int) -> list[int]:
        return self.expire(now_ts - self.params.retention)

    # -- maintenance ----------------------------------------------------------
    def compact(self, max_files_per_epoch: int = 1, salt_files: int = 1) -> list[int]:
        """Fold fragmented epochs' segments down to one segment each, always
        sorted series-major (depth, f1..fN, bucket) — each series' slots
        become contiguous runs, the parquet analog of the reference's
        record-major block layout (block/block.go:53-61: rows r0..rM x slots
        p0..pN), and row-group min-max stats on the dimension and bucket
        columns both narrow, so exact-path fetches skip row groups.

        Why this exists: ``track`` APPENDS one segment per micro-batch (LSM
        write path — no write amplification), so a frequently-written epoch
        accumulates segments and every read re-folds them; compaction folds
        them physically — the LSM memtable-flush/SSTable-merge role. The
        fragment census is pure MANIFEST arithmetic (refs per epoch), no
        directory listing; only the fragmented epochs are rewritten (cost
        bounded by their size, not the cube's), and the re-pointing is one
        atomic manifest swap — a reader mid-compact sees the old segments
        until the instant the new generation lands, and a crashed compact
        leaves only unreferenced staging for ``vacuum``. ``salt_files``
        splits each epoch's rewrite across that many writer tasks when a
        single epoch outgrows one task (see _write_segment). Returns the
        compacted epoch ids."""
        m = self._manifest()
        fragmented = sorted(
            e for e, refs in m["segments"].items() if len(refs) > max_files_per_epoch
        )
        if not fragmented:
            return []
        folded = self._read_fold(self._segment_paths(m, set(fragmented)))
        refs, stats = self._write_segment(folded, sort_series=True, salt_files=salt_files)
        self._commit_manifest(m, refs, stats, drop=fragmented)
        return fragmented

    def refresh_stats(self) -> list[str]:
        """Backfill data-skipping stats for segment refs committed without
        them — the per-micro-batch streaming sinks skip the stats census
        for ingest latency (see ``track_stream_batch``), so a long-running
        stream leaves its epochs un-prunable until maintenance runs.

        ONE Spark job covers every stats-less ref (the ``_seg_stats``
        census, attributing rows to refs by file path), so the cost is one
        column-pruned scan of the un-statted data — never a job per
        segment; with nothing to backfill no job runs. The refreshed stats
        commit through the usual atomic manifest swap (same segment refs,
        next generation). A scanned ref with no non-null field value (e.g.
        a depth-0-only segment) gets an explicit EMPTY entry, so it leaves
        the missing set instead of being re-scanned by every maintain().
        Returns the refs backfilled."""
        m = self._manifest()
        missing = [ref for ref in _seg_refs(m) if ref not in m["stats"]]
        if not missing or not self.max_depth:
            return []
        backfilled = self._seg_stats(missing)
        self._commit_manifest(m, stats=backfilled)
        return sorted(backfilled)

    def maintain(self, now_ts: int, max_files_per_epoch: int = 8) -> dict:
        """One-call housekeeping with the ordering that matters: expire
        FIRST (so compaction never rewrites epochs that are about to be
        deleted), then fold epochs fragmented past ``max_files_per_epoch``,
        then backfill data-skipping stats the streaming sinks deferred
        (compaction first — folded segments get stats in the rewrite, so
        the backfill only scans segments compaction left alone), then sweep
        crash orphans (``vacuum``). The cron-job entry point a deployment
        schedules between ingest windows (single-writer contract: don't run
        concurrently with writes — vacuum would sweep their staging).

        ``max_files_per_epoch`` is the LSM read-amplification knob: track
        appends one segment per batch, reads fold them; 8 keeps the fold
        cheap while letting ~hourly batches run a workday before rewrite.
        Returns {"expired": [...], "compacted": [...], "stats_refreshed":
        [...], "vacuumed": [...]}.
        """
        expired = self.expire_by_retention(now_ts)
        compacted = self.compact(max_files_per_epoch=max_files_per_epoch)
        stats_refreshed = self.refresh_stats()
        return {
            "expired": expired,
            "compacted": compacted,
            "stats_refreshed": stats_refreshed,
            "vacuumed": self.vacuum(),
        }

    def fsck(self) -> dict:
        """Integrity census of the manifest-committed store — the check a
        deployment runs after an incident (partial restore, manual surgery,
        suspected bit-rot of metadata):

        - ``missing``: segment refs named by a RETAINED manifest whose
          directory does not exist — readers WILL fail on these epochs;
          restore the segment or roll back to a generation that predates it.
        - ``orphans``: staged segment leaf dirs no retained manifest
          references — crash leftovers; space, not correctness
          (``vacuum()`` removes them).
        - ``gens``: retained generations, ``current`` the newest.

        Pure metadata: a handful of tiny JSON reads + one listing of the
        segs tree — no data files are opened, so it is safe to run on a
        100 TB cube (the listing is one LIST per segment dir on an object
        store; run it as maintenance, not per query). Never mutates."""
        live = self._genlog.retained_refs(_seg_refs)
        missing = sorted(
            ref for ref in live if not self.fs.exists(HadoopFS.join(self.cube_path, ref))
        )
        return {
            "gens": self.generations(),
            "current": self.current_gen(),
            "missing": missing,
            "orphans": self._orphans(live),
            "ok": not missing,
        }

    # -- O12 Sync ------------------------------------------------------------
    def sync(self) -> None:
        """No-op: segment parquet writes are durable on close and visible
        only after their manifest commits (SURVEY O12)."""

    def forget(self, pattern: list) -> dict:
        """Right-to-be-forgotten: delete every FULL-DEPTH series matching
        ``pattern`` (the fetch pattern language — exact values, '*', value
        sets, Re) and RE-FOLD the affected epochs' write-time rollup
        prefixes from the surviving leaves, so the rollup invariant
        (depth-d row == fold of its depth-(d+1) children) holds after the
        deletion exactly as if the forgotten series had never been
        tracked. The GDPR/compliance companion to ``expire`` (which
        deletes by AGE; this deletes by IDENTITY).

        The pattern must address full-depth series: a shallower pattern
        would ambiguously target rollup rows whose children survive.
        Wildcards are fine ('*' at a level forgets across that level).

        Cost and atomicity: only epochs CONTAINING matching leaves are
        rewritten (their full prefix set re-folds from surviving leaves —
        exact, because stored totals are dp-multiples and the re-fold
        uses the same guarded scaled-long machinery as ingest); the
        re-point is one atomic manifest swap, so readers see the old
        state until the commit instant and a crash leaves only
        unreferenced staging for ``vacuum``. Snapshot reads of RETAINED
        generations can still see the data until those manifests age out
        (keep=_KEEP_MANIFESTS) — run ``maintain`` after a compliance
        forget to retire them promptly.

        Returns {"epochs": [...], "forgotten_rows": n} (n = leaf cube
        rows removed; run from the single-writer maintenance cadence like
        compact).
        """
        from kadiyadb_spark.query import _match_cond, compile_pattern

        n = self.max_depth
        depth, preds = compile_pattern(pattern)
        if depth != n:
            raise ValueError(
                f"forget pattern must address full-depth series (depth {n}), "
                f"got depth {depth}: a shallower pattern would target rollup "
                f"rows whose children survive"
            )
        sel = _match_cond(None, preds)
        m = self._manifest()
        leaf = F.col(S.DEPTH) == n
        hits = (
            self._read_fold(self._segment_paths(m))
            .filter(leaf & sel)
            .groupBy(S.EPOCH)
            .agg(F.count(F.lit(1)).alias("_n"))
            .collect()
        )
        if not hits:
            return {"epochs": [], "forgotten_rows": 0}
        affected = sorted(int(r[S.EPOCH]) for r in hits)
        forgotten = int(sum(r["_n"] for r in hits))
        survivors = self._read_fold(self._segment_paths(m, set(affected))).filter(
            leaf & ~sel
        )
        fcols = S.field_cols(n)
        rebuilt = (
            _prefix_fanout(
                survivors,
                {c: F.col(c) for c in (S.EPOCH, S.BUCKET, S.TOTAL, S.CNT)},
                [F.col(c) for c in fcols],
                range(1, n + 1),
            )
            .groupBy(S.EPOCH, S.BUCKET, *fcols, S.DEPTH)
            .agg(*self._fold_aggs)
        )
        refs, stats = self._write_segment(rebuilt, sort_series=True)
        self._commit_manifest(m, refs, stats, drop=affected)
        return {"epochs": affected, "forgotten_rows": forgotten}

    def clone(self, dst_path: str, at_gen: int | None = None) -> "Database":
        """Consistent snapshot EXPORT (backup / branch): copy the pinned
        generation's segments + params to ``dst_path`` and commit a fresh
        generation-0 manifest referencing them — a fully independent
        database holding exactly the snapshot's data. The source manifest
        is resolved ONCE and segments are immutable once committed, so
        concurrent TRACK/COMPACT commits cannot tear the clone — but
        data-DELETING maintenance (expire/maintain, which commit with
        keep=1 and GC de-referenced dirs immediately) CAN delete a
        resolved segment mid-copy: run clone from the same single-writer
        maintenance cadence as compact, never concurrent with expire (a
        torn copy fails loudly with FileNotFound before anything commits
        at the target — the target never holds a partial manifest).
        Data-skipping stats and stream high-water marks carry over, so a
        restored backup resumes its streams without double-applying
        batches.

        Scale note: ``FileUtil.copy`` is a driver-side sequential copy —
        fine for the metadata-plus-parquet sizes of a single database; a
        petabyte fleet would distcp the segment list this method resolves.
        """
        m = self._manifest(at_gen)
        # open() itself refuses a target whose pre-existing params.json
        # disagrees (a clone under the target's old params would misread
        # every bucket/epoch grid)
        dst = Database.open(self.spark, dst_path, self.params)
        if dst._manifest_names():
            raise ValueError(f"clone target {dst_path} already has commits")
        # a PRIOR clone that crashed mid-copy leaves segment dirs with no
        # manifest; retrying over them silently NESTS directories
        # (FileUtil.copy copies INTO an existing destination dir:
        # epoch_p=E/epoch_p=E) and then commits a manifest over the corrupt
        # layout — refuse loudly instead (code-review r12)
        segs_root = HadoopFS.join(dst.cube_path, "segs")
        leftover = dst.fs.listdir(segs_root) if dst.fs.exists(segs_root) else []
        if leftover:
            raise ValueError(
                f"clone target {dst_path} holds {len(leftover)} segment "
                f"dir(s) but no manifest — a prior clone crashed mid-copy; "
                f"delete the target and retry"
            )
        for refs in m["segments"].values():
            for ref in refs:
                self.fs.copy(
                    HadoopFS.join(self.cube_path, ref),
                    HadoopFS.join(dst.cube_path, ref),
                )
        dst._commit_manifest({**m, "gen": -1})
        return dst


def load_all_open(spark: SparkSession, root: str) -> dict[str, Database]:
    """Open every valid database under ``root`` — the reference's
    ``LoadAll(dir) map[string]*DB`` (database.go:66-124) returns OPEN handles,
    not just parsed params; ``catalog.load_all`` stays the params-only form."""
    from kadiyadb_spark.catalog import load_all

    return {
        name: Database.open(spark, HadoopFS.join(root, name), params)
        for name, params in load_all(root, spark=spark).items()
    }


def select_resolution(
    dbs: "list[Database]",
    from_ts: int,
    to_ts: int,
    max_points: int | None = None,
    now_ts: int | None = None,
) -> "Database":
    """Multi-resolution read routing (the reference's "multiple resolutions
    per metric" deployment, readme.md — parallel databases at coarser
    Params; here fine db + rollup_refresh cascades): pick which database
    serves [from_ts, to_ts).

    Rules, in order:
    - candidates must share the dimension fields (mixed metrics are a
      caller bug, not a routing decision);
    - when ``now_ts`` is given, a candidate must still RETAIN from_ts
      (now - retention <= from_ts) — the reason coarse tiers exist;
    - among survivors, the FINEST resolution whose dense per-series point
      count (ceil(range / resolution)) fits ``max_points`` (the Grafana
      maxDataPoints contract). Nothing fits -> the coarsest survivor
      (fewest points = closest to the budget).

    Driver-side metadata arithmetic only — no Spark job, no scan."""
    if not dbs:
        raise ValueError("select_resolution needs at least one database")
    fields = tuple(dbs[0].params.fields)
    for d in dbs[1:]:
        if tuple(d.params.fields) != fields:
            raise ValueError(
                f"field mismatch across candidates: {fields} vs {tuple(d.params.fields)}"
            )
    cands = sorted(dbs, key=lambda d: d.params.resolution)
    if now_ts is not None:
        retained = [d for d in cands if now_ts - d.params.retention <= from_ts]
        cands = retained or [cands[-1]]  # nothing retains it: coarsest tier
    if max_points is not None and to_ts > from_ts:
        span = to_ts - from_ts
        fit = [d for d in cands if -(-span // d.params.resolution) <= max_points]
        return fit[0] if fit else cands[-1]
    return cands[0]


def fetch_routed(
    dbs: "list[Database]",
    from_ts: int,
    to_ts: int,
    pattern: list[str],
    max_points: int | None = None,
    now_ts: int | None = None,
    densify: bool = True,
) -> DataFrame:
    """Fetch through the resolution router: ``select_resolution`` picks the
    serving database, the fetch runs at ITS (resolution, duration), and the
    chosen resolution is stamped on every row (``res_ns``) so a dashboard
    layer knows the grid it received. Same pushdown/pruning as
    ``Database.fetch``."""
    db = select_resolution(dbs, from_ts, to_ts, max_points=max_points, now_ts=now_ts)
    return db.fetch(from_ts, to_ts, pattern, densify=densify).withColumn(
        "res_ns", F.lit(int(db.params.resolution)).cast("long")
    )


def rollup_refresh(src: Database, dst: Database, stream_id: str = "rollup") -> bool:
    """Continuous aggregate: incrementally maintain ``dst`` — a
    coarser-resolution database — from ``src``'s manifest changelog (the
    TimescaleDB continuous-aggregate / Druid rollup-cascade shape; the
    reference runs parallel databases at coarser Params and pays the full
    write twice, readme.md's multi-resolution deployment).

    Each refresh reads ONLY the segments ``src`` committed since the last
    applied generation (``changes(hwm)`` — manifest arithmetic, no cube
    re-read), re-buckets the delta to ``dst``'s (resolution, duration), and
    commits it through the SAME atomic segment+hwm manifest swap as
    streaming ingest (``commit_cube_batch`` with the src generation as the
    batch id). Exactly-once by construction: re-running a refresh after a
    crash replays the same src generation and the hwm check makes it a
    no-op. Cost is proportional to NEW data, never cube size.

    Correctness: deltas are increments, bucket grids nest (dst.resolution
    is a multiple of src.resolution), and the Point (total, cnt) pair is
    decomposable — so folding re-bucketed deltas into ``dst`` commutes with
    folding raw events at the coarse grid; exact, no approximation.

    First refresh on an empty hwm reads the full ``src.cube()`` (the delta
    from nothing). If src history since the hwm spans a rewrite
    (compact/expire/replace-merge), ``changes`` raises and the caller must
    rebuild ``dst`` from scratch — refresh at least once per
    ``_KEEP_MANIFESTS`` src commits to keep the incremental window open.

    Returns True if a new generation was applied, False if already
    up to date."""
    sp, dp = src.params, dst.params
    if tuple(sp.fields) != tuple(dp.fields):
        raise ValueError(f"field mismatch: src {sp.fields} vs dst {dp.fields}")
    if dp.resolution % sp.resolution != 0:
        raise ValueError(
            f"dst resolution {dp.resolution} must be a multiple of src resolution {sp.resolution}"
        )
    src_gen = src.current_gen()
    last = dst.applied_batch_hwm(stream_id)
    if src_gen <= last:
        return False
    # PIN the full read to src_gen: an unpinned cube() re-resolves the
    # manifest at read time, so a src commit landing between current_gen()
    # and the scan would be INCLUDED here yet replayed by the next
    # changes(src_gen) — a double-count (review finding). The incremental
    # branch was always pinned on both ends.
    delta = (
        src.cube(at_gen=src_gen) if last < 0 else src.changes(last, to_gen=src_gen)
    )
    res, dur = dp.resolution, dp.duration
    cb = F.col(S.BUCKET) - F.col(S.BUCKET) % F.lit(res)
    eb = cb - cb % F.lit(dur)
    fcols = S.field_cols(src.max_depth)
    keys = [eb.alias(S.EPOCH), cb.alias(S.BUCKET), *fcols, S.DEPTH]
    cols = [f.name for f in S.cube_schema(dst.max_depth).fields]
    folded = (
        delta.groupBy(*keys)
        .agg(*dst._fold_aggs)
        .select(*cols)
    )
    # collect_stats=True: a rollup refresh is scheduled MAINTENANCE, not a
    # latency-bound micro-batch — and for a dst that is only ever refreshed
    # (never separately maintain()'d) this is its ONLY chance to record
    # data-skipping stats; the stats-deferral default would leave every
    # pruned fetch against the rollup cube a full scan forever.
    return dst.commit_cube_batch(
        folded, batch_id=src_gen, stream_id=stream_id, collect_stats=True
    )

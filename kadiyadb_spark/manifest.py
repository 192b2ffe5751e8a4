"""Generation-manifest protocol: the one commit primitive and store
lifecycle behind every persisted store.

A store directory holds

    <dir>/manifest-<gen 12-digit>.json     -- the committed states
    <dir>/<data dirs / segment dirs>       -- invisible until referenced

and the LATEST manifest (lexical max == numeric max on zero-padded names)
is the truth. Commit = atomic create of the next generation file
(write-to-temp + rename-to-fresh-name; atomic on HDFS/POSIX, all-or-nothing
per object on S3A for these byte-sized files — fs.py module doc). A crash
at ANY point leaves either the previous generation fully readable or the
new one — never a half-state: staged data directories are pure orphans
until a manifest names them.

Seven stores sit on ``GenLog``: the cube (``Database``, ``MANIFEST-``
files, a ``segments`` map of epoch -> segment refs), ``MinHashIndex``,
``IVFIndex``, ``IVFPQIndex`` and the shard writer (a ``live`` data dir
plus generation-named side dirs such as ``centroids``/``codebooks``),
and the streaming decisions and alerts logs (a ``segments`` list of
``{batch, ref}``). Each store owns the fields of its manifest body; the
lifecycle around them is shared and lives here:

- ``head``: the latest (or a retained pinned) manifest, or
  FileNotFoundError on an empty store;
- ``retained_refs``: the data every retained manifest names — what GC
  must keep so generation-pinned reads survive;
- ``gc``: delete the store dir's data children no retained manifest
  names;
- ``scan``: read a data dir with the schema recorded at write time;
- ``fenced_append``: append into the live dir, then bump-commit the
  manifest the append resolved, so a concurrent swap cannot strand it;
- ``swap``: compaction's stage-commit-GC generation swap.

Reference parity: the reference's index persists via snapshot files +
logfile replay (index/index.go:66-125); the generation manifest is that
durability contract on object-store semantics.
"""

from __future__ import annotations

import json
import threading
from typing import Any, Callable, Iterable

from py4j.protocol import Py4JJavaError

from kadiyadb_spark.fs import HadoopFS

_PREFIX = "manifest-"


def _dir_refs(m: dict[str, Any]) -> set[str]:
    """Data dirs a live-pointer manifest names: the live dir plus the
    generation-named side dirs of the vector indexes."""
    return {m[k] for k in ("live", "centroids", "codebooks") if k in m}


class ConcurrentWriteError(RuntimeError):
    """Another writer committed this generation first (single-writer
    deployments should never see this; it exists so a misconfigured second
    writer fails loudly instead of corrupting the store)."""


class GenLog:
    """Latest-generation-wins manifest log over one directory.

    ``prefix`` names the manifest files (the cube's historical spelling is
    ``MANIFEST-``; auxiliary stores use the default) — since late r08 this
    class IS the one commit primitive: ``Database`` delegates its manifest
    protocol here instead of carrying a second copy.

    Reads are served from a cache of manifest bodies keyed on
    ``(name, length, mtime)`` taken from the directory listing every read
    already does. Generation files are write-once (``commit`` renames onto
    a fresh name and nothing rewrites one in place), so an unchanged key
    means unchanged bytes, and a commit by ANY writer shows up as a new
    name in the next listing. A key the filesystem reports differently
    between calls only costs a re-read, never a stale body. The cache holds
    only names the last listing returned, so it is bounded by ``keep``."""

    def __init__(self, spark, path: str, keep: int = 3, prefix: str = _PREFIX):
        self.spark = spark
        self.fs = HadoopFS(spark, path)
        self.path = path
        self.keep = keep
        self.prefix = prefix
        self._cache: dict[tuple[str, int, int], str] = {}
        self._lock = threading.Lock()

    def _listing(self) -> dict[str, tuple[int, int]]:
        """Manifest names in ascending generation order ->
        ``(length, mtime)``."""
        st = self.fs.list_status(self.path, suffix=".json")
        return {n: st[n] for n in sorted(st) if n.startswith(self.prefix)}

    def _names(self) -> list[str]:
        return list(self._listing())

    def _load(self, name: str, listing: dict[str, tuple[int, int]]) -> dict[str, Any]:
        """A FRESH dict per call (callers such as ``Database.track`` mutate
        the manifest they read), parsed from the cached body when the
        listing's key for ``name`` matches."""
        with self._lock:
            text = self._cache.get((name, *listing[name]))
        if text is None:
            text = self.fs.read_text(HadoopFS.join(self.path, name))
            self._remember(listing, name, text)
        return json.loads(text)

    def _remember(self, listing: dict[str, tuple[int, int]], name: str, text: str) -> None:
        """Cache ``text`` as ``name``'s body under its listed key, dropping
        every entry the listing no longer reports."""
        with self._lock:
            self._cache = {
                k: v for k, v in self._cache.items() if listing.get(k[0]) == k[1:]
            }
            if name in listing:
                self._cache[(name, *listing[name])] = text

    def read(self, at_gen: int | None = None) -> dict[str, Any]:
        """Latest committed manifest, or the RETAINED manifest of a pinned
        older generation (``at_gen``); ``{"gen": -1}`` when none exists.

        The log keeps the newest ``keep`` manifest files, so a reader can
        pin up to ``keep - 1`` generations behind the head — the snapshot
        contract that lets a long scan survive a concurrent compaction's
        generation swap (the store's data-dir GC retains every directory a
        retained manifest references; see ``retained_refs``)."""
        listing = self._listing()
        if at_gen is None:
            if not listing:
                return {"gen": -1}
            # list-then-read race (code-review r12): a concurrent commit
            # with keep=1 (expire: data deletion collapses retention) can
            # delete the head between the listing and the read even though
            # a valid NEWER head exists — re-list and retry instead of
            # surfacing a spurious FileNotFound. Bounded: each retry only
            # happens when the head ADVANCED, and a vanished head with no
            # replacement re-raises.
            for _ in range(5):
                head = next(reversed(listing))
                try:
                    return self._load(head, listing)
                except Exception:
                    newer = self._listing()
                    if not newer or next(reversed(newer)) == head:
                        raise
                    listing = newer
            return self._load(next(reversed(listing)), listing)
        name = f"{self.prefix}{at_gen:012d}.json"
        if name not in listing:
            raise ValueError(
                f"generation {at_gen} not retained in {self.path} "
                f"(have {self.retained()})"
            )
        try:
            return self._load(name, listing)
        except Py4JJavaError:
            # the same race for a pinned read: a manifest that rotated out
            # after the listing is "not retained", not an IO failure
            if name in self._listing():
                raise
            raise ValueError(
                f"generation {at_gen} not retained in {self.path} "
                f"(have {self.retained()})"
            ) from None

    def retained(self) -> list[int]:
        """Generation numbers whose manifests are still on disk (ascending);
        any of them is a valid ``read(at_gen=...)`` pin."""
        return [int(n[len(self.prefix) : -len(".json")]) for n in self._names()]

    def head(self, at_gen: int | None = None) -> dict[str, Any]:
        """``read(at_gen)``, raising FileNotFoundError when nothing is
        committed yet instead of returning the empty ``{"gen": -1}``."""
        m = self.read(at_gen)
        if m["gen"] < 0:
            raise FileNotFoundError(f"nothing committed at {self.path}")
        return m

    def retained_refs(
        self, refs_of: Callable[[dict[str, Any]], Iterable[str]] = _dir_refs
    ) -> set[str]:
        """Union of ``refs_of(manifest)`` over every RETAINED manifest —
        the data a store's GC must keep so pinned generation reads stay
        serviceable. One listing; bodies come from the read cache."""
        listing = self._listing()
        out: set[str] = set()
        for name in listing:
            try:
                m = self._load(name, listing)
            except Py4JJavaError:
                if name in self._listing():
                    raise
                continue  # rotated out since the listing
            out.update(refs_of(m))
        return out

    def gc(
        self,
        prefixes: tuple[str, ...],
        refs_of: Callable[[dict[str, Any]], Iterable[str]] = _dir_refs,
        spare: Callable[[str], bool] | None = None,
    ) -> None:
        """Delete the store dir's children named with one of ``prefixes``
        that no retained manifest references (crash orphans and
        generations older than the retention window) and that ``spare``
        does not protect. Runs after a commit, so a crash here leaves
        only orphans for the next GC."""
        keep = self.retained_refs(refs_of)
        for name in self.fs.listdir(self.path):
            if (
                name.startswith(prefixes)
                and name not in keep
                and not (spare and spare(name))
            ):
                self.fs.delete(HadoopFS.join(self.path, name))

    def scan(self, m: dict[str, Any], key: str, ref: str = "live"):
        """DataFrame over the data dir ``m[ref]`` read with the schema
        ``m`` recorded for ``key`` at write time, so opening a store runs
        no schema-inference job; manifests without a record fall back to
        inference. A manifest without ``ref`` names the legacy
        unversioned dir ``ref``."""
        from pyspark.sql import types as T

        sj = m.get("schemas", {}).get(key)
        reader = self.spark.read
        if sj:
            reader = reader.schema(T.StructType.fromJson(json.loads(sj)))
        return reader.parquet(HadoopFS.join(self.path, m.get(ref, ref)))

    def fenced_append(self, write: Callable[[dict[str, Any], str], None]) -> None:
        """Append into the live dir under a fence: resolve the head once,
        ``write(m, live_path)``, then bump-commit that same manifest. A
        swap that committed meanwhile makes the bump collide (the rows
        went to a superseded dir that its GC will drop), and the append
        retries once against the new live dir; the abandoned rows are
        duplicates in a dir already scheduled for GC."""
        for attempt in (0, 1):
            m = self.head()
            write(m, HadoopFS.join(self.path, m["live"]))
            try:
                self.commit(m, m["gen"])
                return
            except ConcurrentWriteError:
                if attempt:
                    raise

    def swap(
        self,
        stage: Callable[[dict[str, Any], str], None],
        live_prefix: str,
        prefixes: tuple[str, ...],
    ) -> None:
        """Compaction's generation swap: resolve the head once,
        ``stage(m, new_path)`` into a fresh ``<live_prefix>-g<N+1>`` dir,
        publish ``{**m, "live": new}`` in one commit (every other field
        carries forward), then ``gc(prefixes)``. A crash before the commit
        leaves the previous generation fully readable; GC keeps every dir a
        retained manifest names, so pinned readers survive the swap.
        Single-writer; raises ConcurrentWriteError when a fenced append
        commits mid-swap (retry)."""
        m = self.head()
        new = f"{live_prefix}-g{m['gen'] + 1:06d}"
        stage(m, HadoopFS.join(self.path, new))
        self.commit({**m, "live": new}, m["gen"])
        self.gc(prefixes)

    def commit(self, m: dict[str, Any], prev_gen: int, keep: int | None = None) -> int:
        """Atomically publish generation ``prev_gen + 1``; returns it.

        Raises on a lost commit race (the generation file already exists) —
        single-writer is the maintenance assumption, so a race means two
        writers and silent last-wins would corrupt either's view.

        ``keep`` overrides the log's retention for THIS commit: data-DELETING
        commits pass 1 so deleted data is not resurrectable through an older
        snapshot (the cube's ``expire``).

        The written body seeds the read cache under the key the
        post-commit listing reports, so the writer's next read of its own
        head costs a listing, not a file read."""
        gen = prev_gen + 1
        m = dict(m)
        m["gen"] = gen
        self.fs.mkdirs(self.path)
        name = f"{self.prefix}{gen:012d}.json"
        text = json.dumps(m)
        if not self.fs.write_text_atomic(HadoopFS.join(self.path, name), text):
            raise ConcurrentWriteError(
                f"manifest generation {gen} already exists in {self.path} "
                "(concurrent writer?)"
            )
        listing = self._listing()
        names = list(listing)
        n_keep = self.keep if keep is None else keep
        for old in names[:-n_keep]:
            self.fs.delete(HadoopFS.join(self.path, old))
            del listing[old]
        self._remember(listing, name, text)
        return gen

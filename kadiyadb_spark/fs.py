"""Storage-agnostic filesystem access via the Hadoop FileSystem API.

Every maintenance/metadata path of the engine (manifest commits, expire,
compaction census, params.json) goes through this wrapper instead of Python's
``os``/``shutil``/``open`` — on a real cluster the cube lives on S3/HDFS/GCS
where driver-local POSIX calls silently no-op or crash. The reference's
maintenance analog is ``os.RemoveAll`` of epoch directories
(epoch/cache.go:136-156); the Hadoop FS API is that made storage-agnostic:
the same code runs against ``file:``, ``hdfs:``, ``s3a:``, ``gs:`` URIs,
resolved per-path from the active Hadoop configuration.

Atomicity notes (the contract the commit protocol in ``database.py`` relies
on): ``rename`` of a file within one directory tree is atomic on HDFS and
POSIX ``file:``; on S3A it is a server-side copy, non-atomic but still
all-or-nothing per object for files below the multipart threshold — the
manifest files renamed here are a few hundred bytes. Directory renames are
only used for staging cleanup, never as a commit point.
"""

from __future__ import annotations

import json
from typing import Any

from pyspark.sql import SparkSession


class HadoopFS:
    """Thin py4j wrapper over ``org.apache.hadoop.fs.FileSystem`` for one
    base URI's filesystem. All paths are plain strings (URI or local)."""

    def __init__(self, spark: SparkSession, base: str):
        self._jvm = spark._jvm
        self._Path = self._jvm.org.apache.hadoop.fs.Path
        self._conf = spark._jsc.hadoopConfiguration()
        self._fs = self._Path(base).getFileSystem(self._conf)

    # -- path helpers --------------------------------------------------------
    @staticmethod
    def join(*parts: str) -> str:
        """URI-safe join ('/' separator; works for file:, hdfs:, s3a:)."""
        out = parts[0].rstrip("/")
        for p in parts[1:]:
            out += "/" + p.strip("/")
        return out

    def _p(self, path: str):
        return self._Path(path)

    def local_path(self, path: str) -> str | None:
        """POSIX path of ``path`` when its filesystem is the local one
        (scheme ``file``, given or by default FS), else None."""
        uri = self._fs.makeQualified(self._p(path)).toUri()
        return str(uri.getPath()) if str(uri.getScheme()) == "file" else None

    # -- predicates ----------------------------------------------------------
    def exists(self, path: str) -> bool:
        return bool(self._fs.exists(self._p(path)))

    def is_dir(self, path: str) -> bool:
        p = self._p(path)
        return bool(self._fs.exists(p) and self._fs.getFileStatus(p).isDirectory())

    # -- listing -------------------------------------------------------------
    def listdir(self, path: str) -> list[str]:
        """Child NAMES of a directory; [] if it does not exist."""
        p = self._p(path)
        if not self._fs.exists(p):
            return []
        return sorted(str(st.getPath().getName()) for st in self._fs.listStatus(p))

    def list_files(self, path: str, suffix: str | None = None) -> list[str]:
        """Non-directory child names, optionally filtered by suffix."""
        return sorted(self.list_status(path, suffix))

    def list_status(self, path: str, suffix: str | None = None) -> dict[str, tuple[int, int]]:
        """Non-directory children as ``{name: (length, modification ms)}``,
        optionally filtered by suffix; {} if the directory does not exist.
        The suffix filter runs before the length/mtime lookups, so names
        it drops cost no further JVM round trips."""
        p = self._p(path)
        if not self._fs.exists(p):
            return {}
        out = {}
        for st in self._fs.listStatus(p):
            if st.isDirectory():
                continue
            name = str(st.getPath().getName())
            if suffix is None or name.endswith(suffix):
                out[name] = (int(st.getLen()), int(st.getModificationTime()))
        return out

    # -- mutation ------------------------------------------------------------
    def mkdirs(self, path: str) -> None:
        self._fs.mkdirs(self._p(path))

    def delete(self, path: str, recursive: bool = True) -> bool:
        """Delete a file or tree; False if it did not exist (idempotent)."""
        p = self._p(path)
        if not self._fs.exists(p):
            return False
        return bool(self._fs.delete(p, recursive))

    def copy(self, src: str, dst: str) -> None:
        """Recursive copy (file or tree), cross-filesystem capable —
        ``FileUtil.copy`` resolves each side's FS from its own URI, so a
        file: -> s3a: backup is the same call. Source is never deleted."""
        sp, dp = self._p(src), self._p(dst)
        sfs = sp.getFileSystem(self._conf)
        dfs = dp.getFileSystem(self._conf)
        ok = self._jvm.org.apache.hadoop.fs.FileUtil.copy(
            sfs, sp, dfs, dp, False, self._conf
        )
        if not ok:
            raise IOError(f"copy failed: {src} -> {dst}")

    def rename(self, src: str, dst: str) -> bool:
        """Atomic on HDFS/POSIX when ``dst`` does not exist (see module doc).
        Returns False instead of raising when the FS refuses (e.g. dst
        exists) so callers can treat lost commit races as already-applied."""
        return bool(self._fs.rename(self._p(src), self._p(dst)))

    # -- small-file IO (manifests, params) ------------------------------------
    def read_text(self, path: str) -> str:
        stream = self._fs.open(self._p(path))
        try:
            return str(
                self._jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
            )
        finally:
            stream.close()

    def write_text(self, path: str, text: str, overwrite: bool = True) -> None:
        out = self._fs.create(self._p(path), overwrite)
        try:
            out.write(bytearray(text.encode("utf-8")))
        finally:
            out.close()

    def write_text_atomic(self, path: str, text: str) -> bool:
        """Write-to-temp + rename. With a non-existing destination this is
        the atomic single-file commit primitive (HDFS/POSIX). Returns the
        rename result; False means the destination already existed — for
        generation-numbered manifests that is 'lost the commit race'."""
        tmp = path + ".tmp"
        self.write_text(tmp, text, overwrite=True)
        return self.rename(tmp, path)

    def read_json(self, path: str) -> Any:
        return json.loads(self.read_text(path))

    def write_json_atomic(self, path: str, obj: Any) -> bool:
        return self.write_text_atomic(path, json.dumps(obj))

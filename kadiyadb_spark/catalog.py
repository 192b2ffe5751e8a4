"""O13 — catalog: params validation and multi-database loading.

Ports the semantics of ``Open``/``LoadAll`` (reference ``database.go:66-149``):
a database directory holds ``params.json``; a server directory holds many
database subdirectories; invalid ones are skipped with a warning.

Durations accept either integer nanoseconds or Go-style strings ("1h", "5m",
"30s") as used by the reference's tests (``database_test.go:26-33``).
"""

from __future__ import annotations

import json
import logging
import os
import re
from dataclasses import dataclass, field

from kadiyadb_spark.functions.num import CUBE_DP

logger = logging.getLogger(__name__)

_NS = {
    "ns": 1,
    "us": 1_000,
    "µs": 1_000,
    "ms": 1_000_000,
    "s": 1_000_000_000,
    "m": 60 * 1_000_000_000,
    "h": 3600 * 1_000_000_000,
}

_DUR_RE = re.compile(r"(\d+(?:\.\d+)?)(ns|us|µs|ms|s|m|h)")


def parse_duration(v: int | str) -> int:
    """Parse a duration into int nanoseconds. Accepts ints (ns) or Go-style
    strings like "1h30m", "5m", "720h"."""
    if isinstance(v, (int, float)) and not isinstance(v, bool):
        return int(v)
    if not isinstance(v, str):
        raise ValueError(f"invalid duration: {v!r}")
    s = v.strip()
    if not s:
        raise ValueError("empty duration")
    matches = _DUR_RE.findall(s)
    if not matches or "".join(f"{n}{u}" for n, u in matches) != s:
        raise ValueError(f"invalid duration: {v!r}")
    return int(sum(float(n) * _NS[u] for n, u in matches))


@dataclass(frozen=True)
class Params:
    """Database parameters (reference ``Params`` struct, database.go:47-56).

    Validation ports ``Open`` (database.go:128-137): all values nonzero,
    duration divisible by resolution, retention divisible by duration.
    ``max_ro_epochs``/``max_rw_epochs`` are kept for params.json parity; Spark
    manages memory itself so they only gate validation.

    Every store folds on the one ``num.CUBE_DP`` grid (ingest.track_batch):
    ``from_dict`` refuses an older ``valueDp`` other than it (``null`` =
    raw float64), whose totals the exact fold would silently re-quantize.
    """

    duration: int  # epoch width, ns
    resolution: int  # slot width, ns
    retention: int  # ns
    max_ro_epochs: int = 2
    max_rw_epochs: int = 2
    fields: tuple[str, ...] = field(default=())  # dimension column names, in path order

    def __post_init__(self) -> None:
        if self.duration <= 0 or self.resolution <= 0 or self.retention <= 0:
            raise ValueError("duration, resolution and retention must be positive")
        if self.max_ro_epochs <= 0 or self.max_rw_epochs <= 0:
            raise ValueError("maxROEpochs and maxRWEpochs must be positive")
        if self.duration % self.resolution != 0:
            raise ValueError("duration must be a multiple of resolution")
        if self.retention % self.duration != 0:
            raise ValueError("retention must be a multiple of duration")

    @property
    def rsize(self) -> int:
        """Points per record per epoch (database.go:139)."""
        return self.duration // self.resolution

    @classmethod
    def from_dict(cls, d: dict) -> "Params":
        # a non-object top level (list/string) passes `n in d` by substring/
        # element membership and then dies in d[n] with a TypeError that
        # escapes load_all's skip-with-warning net (code-review r12)
        if not isinstance(d, dict):
            raise ValueError(
                f"params must be a JSON object, got {type(d).__name__}"
            )

        def pick(*names, default=None):
            for n in names:
                if n in d:
                    return d[n]
            return default

        duration = pick("duration")
        resolution = pick("resolution")
        retention = pick("retention")
        if duration is None or resolution is None or retention is None:
            raise ValueError("params must define duration, resolution, retention")
        if (dp := pick("valueDp", "value_dp", default=CUBE_DP)) != CUBE_DP:
            raise ValueError(
                f"valueDp {json.dumps(dp)} is not the cube's {CUBE_DP}-decimal "
                f"value grid: the store holds raw doubles or another grid"
            )
        return cls(
            duration=parse_duration(duration),
            resolution=parse_duration(resolution),
            retention=parse_duration(retention),
            max_ro_epochs=int(pick("maxROEpochs", "max_ro_epochs", default=2)),
            max_rw_epochs=int(pick("maxRWEpochs", "max_rw_epochs", default=2)),
            fields=tuple(pick("fields", default=()) or ()),
        )

    @classmethod
    def from_json_file(cls, path: str) -> "Params":
        with open(path) as f:
            return cls.from_dict(json.load(f))

    def to_dict(self) -> dict:
        return {
            "duration": self.duration,
            "resolution": self.resolution,
            "retention": self.retention,
            "maxROEpochs": self.max_ro_epochs,
            "maxRWEpochs": self.max_rw_epochs,
            "fields": list(self.fields),
        }


def load_all(root: str, spark=None) -> dict[str, Params]:
    """Scan ``root`` for database subdirectories with a valid params.json
    (reference ``LoadAll``, database.go:66-124). Invalid databases are
    skipped with a warning, matching the reference's console-warn behavior
    (database_test.go:17-99).

    With ``spark`` given, the scan runs through the Hadoop FileSystem API so
    a catalog root on S3/HDFS/GCS works identically to a local directory;
    without it (no session available), plain local-fs scanning."""
    out: dict[str, Params] = {}
    if spark is not None:
        from kadiyadb_spark.fs import HadoopFS

        fs = HadoopFS(spark, root)
        if not fs.is_dir(root):
            return out
        for name in fs.listdir(root):
            pj = HadoopFS.join(root, name, "params.json")
            if not fs.exists(pj) or fs.is_dir(pj):
                continue
            try:
                out[name] = Params.from_dict(fs.read_json(pj))
            except (ValueError, KeyError, json.JSONDecodeError) as e:
                logger.warning("skipping database %s: invalid params (%s)", name, e)
        return out
    if not os.path.isdir(root):
        return out
    for name in sorted(os.listdir(root)):
        pj = os.path.join(root, name, "params.json")
        if not os.path.isfile(pj):
            continue
        try:
            out[name] = Params.from_json_file(pj)
        except (ValueError, KeyError, json.JSONDecodeError) as e:
            logger.warning("skipping database %s: invalid params (%s)", name, e)
    return out

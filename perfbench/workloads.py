"""The workloads. Each drives the library's public calls as one
single-process client, checks results against the reference model, and
returns its measurements. Sizes are fixed here and documented in
perfbench/README.md."""

from __future__ import annotations

import json
import os
import random
import shutil
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from datetime import datetime

import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import gen
from perfbench.hostnoise import Sample, undisturbed
from perfbench.model import CubeModel, diff
from perfbench.tracing import NullTracer

H, SLOT = gen.EPOCH_NS, gen.SLOT_NS
EVENT_SCHEMA = "ts long, app string, metric string, host string, value double"

# ingest
INGEST_BATCHES = 12
INGEST_EVENTS = 10_000
INGEST_WARM_TRACKS = 2
INGEST_TRACK_SHARE = 0.55  # of --seconds; then one maintain, then the stream
STREAM_S_PER_FILE = 1.0  # sizes the stream source to the remaining time
# fetch
FETCH_DAYS = 2
FETCH_SEGMENTS_PER_EPOCH = 2
FETCH_EVENTS_PER_GROUP_HOUR = 120
FETCH_RECENCY = 0.3
PANEL_EVERY = 3  # every 3rd op is an 8-pattern panel
FETCH_CHECK_FRAC = 0.5
FETCH_WARM = 12  # fetches before timing; JIT warm-up still showed in the first timed fetches after 5
FETCH_WARM_PANELS = 2
# curate
CURATE_DOCS = 300
CURATE_EXACT_FRAC = 0.1
CURATE_NEAR_FRAC = 0.1
CURATE_MIN_QUALITY = 0.75
CURATE_MERGES = 4
CURATE_SEQ_LEN = 128
CURATE_SHARDS = 4


def params():
    from kadiyadb_spark.catalog import Params

    # reference params.json grid (1 h epochs, 1 min slots); retention
    # covers the longest history plus the 7 d windows
    return Params(duration=H, resolution=SLOT, retention=8 * 24 * H, fields=("app", "metric", "host"))


def write_events(path: str, evs: list[tuple]) -> None:
    ts, app, metric, host, cents = zip(*evs)
    pq.write_table(
        pa.table(
            {
                "ts": pa.array(ts, pa.int64()),
                "app": pa.array(app, pa.string()),
                "metric": pa.array(metric, pa.string()),
                "host": pa.array(host, pa.string()),
                "value": pa.array([c / 100 for c in cents], pa.float64()),
            }
        ),
        path,
    )


def to_library(pattern: list) -> list:
    from kadiyadb_spark import Re

    return [Re(p["re"]) if isinstance(p, dict) else p for p in pattern]


def dense_rows(rows, depth: int) -> dict:
    return {(r[0], tuple(r[1 : 1 + depth]), r[1 + depth]): (r[2 + depth], r[3 + depth]) for r in rows}


def sparse_rows(rows, patterns: dict) -> dict[str, dict]:
    """fetch_multi rows ``(query, epoch, f1..fN, bucket, total, cnt)`` per query."""
    out: dict[str, dict] = {q: {} for q in patterns}
    for r in rows:
        d = len(patterns[r[0]])
        out[r[0]][(r[1], tuple(r[2 : 2 + d]), r[-3])] = (r[-2], r[-1])
    return out


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs if f.endswith(".parquet"))


def per_s(units: float, samples: list[Sample]) -> float:
    """``units`` of work per operation, per second of undisturbed operation time."""
    kept = undisturbed(samples)
    return units * len(kept) / (sum(s.ms for s in kept) / 1000)


def p50(samples: list[Sample]) -> float:
    return statistics.median(s.ms for s in undisturbed(samples))


@dataclass
class Outcome:
    op: list[Sample]  # the workload's unit operation
    aux: list[Sample]  # its second call
    work_per_s: float
    named: dict[str, tuple[float, str]]  # metric name -> (value, unit)
    ops: int
    events: int = 0
    progress: list[dict] = field(default_factory=list)
    segments_per_epoch: list[float] = field(default_factory=list)
    root: int | None = None


class Ctx:
    def __init__(self, spark, work: str, seed: int, seconds: float, tracer, steal):
        self.spark, self.work, self.seed, self.seconds = spark, work, seed, seconds
        self.tracer = tracer if tracer is not None else NullTracer()
        self.steal = steal
        self.traffic = gen.Traffic()
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.setup_end: float | None = None
        self.probe = None  # one representative operation, for tracing overhead

    def path(self, *parts: str) -> str:
        p = os.path.join(self.work, *parts)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        return p

    def uri(self, *parts: str) -> str:
        return "file:" + self.path(*parts)

    def read(self, path: str):
        return self.spark.read.schema(EVENT_SCHEMA).parquet(path)

    def open_db(self, name: str):
        from kadiyadb_spark import Database

        return Database.open(self.spark, self.uri(name), params())

    def setup_done(self) -> None:
        """Ends set-up; a traced run starts wrapping the layers here."""
        self.setup_end = time.perf_counter()
        if self.tracer.enabled:
            self.tracer.install_layers()

    def attempt(self, label: str, fn):
        """Run one operation; returns ``(result, seconds)``, result None if
        it raised (counted as failed)."""
        self.attempted += 1
        t = time.perf_counter()
        try:
            out = fn()
        except Exception as e:  # a failed operation is a measurement, not a crash
            self.fail(label, repr(e))
            out = None
        return out, time.perf_counter() - t

    def measured(self, label: str, fn, into: list[Sample]):
        """``attempt`` a timed operation and append its sample to ``into``."""
        t0 = time.time()
        out, s = self.attempt(label, fn)
        t1 = time.time()
        self.steal.tick()
        into.append(Sample(s * 1000, self.steal.share(t0, t1)))
        return out

    def check(self, label: str, mismatches: list[str]) -> None:
        """A result that disagrees with the model fails its operation."""
        if mismatches:
            self.fail(label, "; ".join(mismatches))

    def fail(self, label: str, why: str) -> None:
        self.failed += 1
        if len(self.errors) < 20:
            self.errors.append(f"{label}: {why}"[:400])

    def measure(self):
        """The measured phase's root span."""
        return self.tracer.span("bench.measure")

    def check_totals(self, label: str, db, model: CubeModel) -> None:
        """Post-ingest totals: per-app sums over the whole store."""
        from pyspark.sql import functions as F

        def read():
            return (
                db.cube()
                .where(F.col("depth") == 1)
                .groupBy("f1")
                .agg(F.sum("total"), F.sum("cnt"))
                .collect()
            )

        rows, _ = self.attempt(label, read)
        if rows is not None:
            got = {(r[0],): (r[1], r[2]) for r in rows}
            self.check(label, diff(model.totals(1), got))


# -- ingest ---------------------------------------------------------------------
def ingest(ctx: Ctx) -> Outcome:
    tr = ctx.traffic
    batches = gen.ingest_batches(ctx.seed, tr, INGEST_BATCHES, INGEST_EVENTS, apps_per_batch=tr.apps, epochs_per_batch=2)
    paths = [ctx.path("stage", f"batch-{i:03d}.parquet") for i in range(len(batches))]
    for p, b in zip(paths, batches):
        write_events(p, b)
    n_stream = max(2, round(ctx.seconds * (1 - INGEST_TRACK_SHARE) / STREAM_S_PER_FILE))
    for p in paths[:n_stream]:
        shutil.copy(p, ctx.path("stream-src", os.path.basename(p)))
    # warm-up on throwaway stores with full-size batches (a smaller one
    # left the first timed batch a fifth slower): one streamed file, tracks
    warm = gen.ingest_batches(ctx.seed + 1, tr, 1, INGEST_EVENTS, apps_per_batch=tr.apps, epochs_per_batch=2)[0]
    write_events(ctx.path("warm-src", "warm.parquet"), warm)
    _stream(ctx, ctx.open_db("warm-stream"), ctx.path("warm-src"), "warm").awaitTermination()
    warm_db = ctx.open_db("warm-track")
    for _ in range(INGEST_WARM_TRACKS):
        warm_db.track(ctx.read(ctx.path("warm-src", "warm.parquet")))
    ctx.probe = lambda: warm_db.track(ctx.read(ctx.path("warm-src", "warm.parquet")))
    ctx.setup_done()

    db, model = ctx.open_db("store-track"), CubeModel()
    db_s, model_s = ctx.open_db("store-stream"), CubeModel()
    tracks, events = [], 0
    with ctx.measure() as root:
        t_end = time.perf_counter() + ctx.seconds * INGEST_TRACK_SHARE
        for i, b in enumerate(batches):
            if i and time.perf_counter() >= t_end:
                break
            ctx.measured(f"track[{i}]", lambda: db.track(ctx.read(paths[i])), tracks)
            events += len(b)
        # consecutive batches share an epoch, so every epoch but the two
        # ends holds two segments: maintain compacts them
        seg_pe = [_segments_per_epoch(ctx, "store-track")]
        _, maintain_s = ctx.attempt(
            "maintain", lambda: db.maintain(gen.BASE_NS + len(tracks) * H, max_files_per_epoch=1)
        )
        with ctx.tracer.span("streaming.stream_track_raw", jobs=True):
            t = time.perf_counter()
            q, _ = ctx.attempt("stream", lambda: _run_stream(ctx, db_s))
            stream_s = time.perf_counter() - t
    # the model follows outside the measured phase, so the benchmark's own
    # work stays out of the layer accounting
    for b in batches[: len(tracks)]:
        model.track(b)
    for b in batches[:n_stream]:
        model_s.track(b)
    progress = [p for p in (q.recentProgress if q else []) if p.get("numInputRows", 0) > 0]
    triggers = []
    for p in progress:
        start = datetime.fromisoformat(p["timestamp"]).timestamp()
        ms = p["durationMs"]["triggerExecution"]
        triggers.append(Sample(ms, ctx.steal.share(start, start + ms / 1000)))

    ctx.check_totals("totals[track]", db, model)
    ctx.check_totals("totals[stream]", db_s, model_s)
    now = gen.BASE_NS + 30 * SLOT + len(tracks) * H
    for i, (f, t, pat) in enumerate(gen.fetch_mix(ctx.seed, tr, 1, now, FETCH_RECENCY)):
        rows, _ = ctx.attempt(f"fetch[{i}]", lambda: db.fetch(f, t, to_library(pat)).collect())
        if rows is not None:
            ctx.check(f"fetch[{i}]", diff(model.fetch(f, t, pat), dense_rows(rows, len(pat))))

    stream_events = sum(len(b) for b in batches[:n_stream])
    track_eps = per_s(INGEST_EVENTS, tracks)
    return Outcome(
        op=tracks,
        aux=triggers,
        work_per_s=track_eps,
        named={
            "track_eps": (track_eps, "events/s"),
            "stream_eps": (stream_events / stream_s, "events/s"),
            "store_bytes_per_event": (dir_bytes(ctx.path("store-track")) / events, "B/event"),
            "maintain_s": (maintain_s, "s"),
        },
        ops=len(tracks) + 1 + len(progress),
        events=events + stream_events,
        progress=progress,
        segments_per_epoch=seg_pe,
        root=getattr(root, "id", None),
    )


def _segments_per_epoch(ctx: Ctx, name: str) -> float:
    """Mean segment refs per epoch in the store's latest manifest."""
    cube = ctx.path(name, "cube")
    latest = max(f for f in os.listdir(cube) if f.startswith("MANIFEST-") and f.endswith(".json"))
    with open(os.path.join(cube, latest)) as f:
        segs = json.load(f)["segments"]
    return sum(len(v) for v in segs.values()) / max(len(segs), 1)


def _stream(ctx: Ctx, db, src: str, name: str):
    from kadiyadb_spark.streaming.ingest import stream_track_raw

    events = ctx.spark.readStream.schema(EVENT_SCHEMA).option("maxFilesPerTrigger", 1).parquet(src)
    return stream_track_raw(events, db, os.path.join(ctx.work, "checkpoints", name))


def _run_stream(ctx: Ctx, db):
    q = _stream(ctx, db, ctx.path("stream-src"), "measure")
    q.awaitTermination()
    if q.exception() is not None:
        raise RuntimeError(str(q.exception()))
    return q


# -- fetch ----------------------------------------------------------------------
def fetch(ctx: Ctx) -> Outcome:
    tr = ctx.traffic
    hist = gen.history(ctx.seed, tr, FETCH_DAYS, FETCH_SEGMENTS_PER_EPOCH, FETCH_EVENTS_PER_GROUP_HOUR)
    db, model = ctx.open_db("store"), CubeModel()
    for g, evs in enumerate(hist):
        p = ctx.path("stage", f"group-{g}.parquet")
        write_events(p, evs)
        db.track(ctx.read(p))
        model.track(evs)
    now = gen.BASE_NS + FETCH_DAYS * 24 * H
    warm_f = gen.fetch_mix(ctx.seed + 1, tr, FETCH_WARM, now, FETCH_RECENCY)
    for f, t, pat in warm_f:
        db.fetch(f, t, to_library(pat)).collect()
    for f, t, pats in gen.panels(ctx.seed + 1, tr, FETCH_WARM_PANELS, now):
        db.fetch_multi(f, t, {k: to_library(v) for k, v in pats.items()}).collect()
    queries = gen.fetch_mix(ctx.seed, tr, 2000, now, FETCH_RECENCY)
    panels = gen.panels(ctx.seed, tr, 400, now)
    sample = random.Random(f"check/{ctx.seed}")
    ctx.probe = lambda: _fetch(ctx, db, *warm_f[0])
    ctx.setup_done()

    fetch_s, panel_s = [], []
    results = []  # (label, query, rows) of the sampled results, checked after the loop
    with ctx.measure() as root:
        t_end = time.perf_counter() + ctx.seconds
        i = 0
        while not fetch_s or time.perf_counter() < t_end:
            if i % PANEL_EVERY == PANEL_EVERY - 1:
                q = panels[len(panel_s)]
                rows = ctx.measured(f"panel[{i}]", lambda: _panel(ctx, db, *q), panel_s)
            else:
                q = queries[len(fetch_s)]
                rows = ctx.measured(f"fetch[{i}]", lambda: _fetch(ctx, db, *q), fetch_s)
            if rows is not None and sample.random() < FETCH_CHECK_FRAC:
                results.append((i, q, rows))
            i += 1
    for k, (f, t, pat), rows in results:
        if isinstance(pat, dict):
            got = sparse_rows(rows, pat)
            ctx.check(f"panel[{k}]", [x for q, p in pat.items() for x in diff(model.sparse(f, t, p), got[q])])
        else:
            ctx.check(f"fetch[{k}]", diff(model.fetch(f, t, pat), dense_rows(rows, len(pat))))
    ctx.check_totals("totals", db, model)
    return Outcome(
        op=fetch_s,
        aux=panel_s,
        work_per_s=per_s(1, fetch_s + panel_s),
        named={"fetch_p50_ms": (p50(fetch_s), "ms"), "panel_p50_ms": (p50(panel_s) if panel_s else 0.0, "ms")},
        ops=i,
        root=getattr(root, "id", None),
    )


def _fetch(ctx: Ctx, db, f: int, t: int, pat: list):
    df = db.fetch(f, t, to_library(pat))
    with ctx.tracer.span("query.fetch", jobs=True) as sp:
        rows = df.collect()
        sp.attrs["rows"] = len(rows)
    return rows


def _panel(ctx: Ctx, db, f: int, t: int, pats: dict):
    df = db.fetch_multi(f, t, {k: to_library(v) for k, v in pats.items()})
    with ctx.tracer.span("query.fetch_multi", jobs=True) as sp:
        rows = df.collect()
        sp.attrs["rows"] = len(rows)
    return rows


# -- curate ---------------------------------------------------------------------
def _write_corpus(path: str, docs: list[tuple[int, str]]) -> None:
    ids, texts = zip(*docs)
    pq.write_table(pa.table({"doc_id": pa.array(ids, pa.int64()), "text": pa.array(texts, pa.string())}), path)


def chain(ctx: Ctx, path: str) -> dict:
    """dedup_exact -> minhash_near_duplicates -> connected_components ->
    quality_score filter -> train_bpe / encode_ids -> pack_ids. Each step
    is materialized inside its span; ``step_ms`` times every step and
    ``held`` lists the cached frames for ``release``."""
    from pyspark.sql import functions as F

    from kadiyadb_spark.functions import bpe, dedup, text
    from kadiyadb_spark.functions.packing import pack_ids

    docs = ctx.spark.read.schema("doc_id long, text string").parquet(path)
    out: dict = {"step_ms": {}, "held": []}

    @contextmanager
    def step(name: str):
        t = time.perf_counter()
        with ctx.tracer.span(f"functions.{name}", jobs=True):
            yield
        out["step_ms"][name] = (time.perf_counter() - t) * 1000

    def keep(df):
        out["held"].append(df.persist())
        return df

    try:
        with step("dedup_exact"):
            ex = keep(dedup.dedup_exact(docs))
            out["exact_kept"] = ex.count()
        with step("minhash_near_duplicates"):
            pairs = keep(dedup.minhash_near_duplicates(ex, num_hashes=16, bands=8, shingle_k=8, threshold=0.7))
            pairs.count()
        with step("connected_components"):
            comps = dedup.connected_components(pairs).collect()
        out["near_dropped"] = {int(r["node"]) for r in comps if r["node"] != r["cluster_id"]}
        kept = ex.where(~F.col("doc_id").isin(sorted(out["near_dropped"])))
        with step("quality_score"):
            good_ids = text.quality_score(kept).where(F.col("quality") >= CURATE_MIN_QUALITY).select("doc_id")
            good = keep(kept.join(good_ids, "doc_id"))
            out["good"] = good.count()
        with step("train_bpe"):
            out["merges"] = bpe.train_bpe(good, num_merges=CURATE_MERGES, min_freq=2)
        with step("encode_ids"):
            out["ids"] = keep(bpe.encode_ids(good, out["merges"]))
            out["tokens"] = out["ids"].count()
        with step("pack_ids"):
            out["packed"] = pack_ids(out["ids"], seq_len=CURATE_SEQ_LEN, num_shards=CURATE_SHARDS).count()
    except Exception:
        release(out)
        raise
    return out


def release(out: dict) -> None:
    for df in out["held"]:
        df.unpersist()


def dedup_count(ctx: Ctx, path: str) -> int:
    from kadiyadb_spark.functions import dedup

    with ctx.tracer.span("functions.dedup_exact", jobs=True):
        return dedup.dedup_exact(ctx.spark.read.schema("doc_id long, text string").parquet(path)).count()


def _check_chain(ctx: Ctx, label: str, corpus: gen.Corpus, out: dict) -> None:
    """Planted duplicates are exactly what the dedup steps drop, and
    pack_ids places every token of every full chunk per shard."""
    from pyspark.sql import functions as F

    bad = []
    if out["exact_kept"] != len(corpus.docs) - len(corpus.exact_dups):
        bad.append(f"dedup_exact kept {out['exact_kept']}, expected {len(corpus.docs) - len(corpus.exact_dups)}")
    if out["near_dropped"] != set(corpus.near_dups):
        bad.append(f"near-dup drops differ from planted: {len(out['near_dropped'] ^ set(corpus.near_dups))} ids")
    lens = out["ids"].groupBy("doc_id").agg((F.max("pos") + 1).alias("n")).collect()
    per_shard = [0] * CURATE_SHARDS
    for r in lens:
        per_shard[r["doc_id"] % CURATE_SHARDS] += r["n"]
    want = sum(t // CURATE_SEQ_LEN * CURATE_SEQ_LEN for t in per_shard)
    if out["packed"] != want:
        bad.append(f"pack_ids placed {out['packed']} tokens, expected {want}")
    ctx.check(label, bad)


def curate(ctx: Ctx) -> Outcome:
    corpus = gen.corpus(ctx.seed, CURATE_DOCS, CURATE_EXACT_FRAC, CURATE_NEAR_FRAC)
    path = ctx.path("stage", "corpus.parquet")
    _write_corpus(path, corpus.docs)
    # warm-up: one pass over the corpus itself (a pass over a smaller
    # corpus left the first timed pass a third slower than the rest),
    # checked against the planted duplicates; timed passes must repeat it
    out, _ = ctx.attempt("warm-up pass", lambda: chain(ctx, path))
    if out is None:
        raise RuntimeError(f"curation chain failed: {ctx.errors[-1]}")
    _check_chain(ctx, "warm-up pass", corpus, out)
    first = {x: out[x] for x in ("exact_kept", "near_dropped", "good", "merges", "tokens", "packed")}
    release(out)
    ctx.probe = lambda: dedup_count(ctx, path)
    ctx.setup_done()

    passes, tokenizer = [], []
    with ctx.measure() as root:
        t_end = time.perf_counter() + ctx.seconds
        # passes start until the window ends, so a pass of most of the
        # window is still measured twice and the median is not one sample
        while not passes or time.perf_counter() < t_end:
            k = len(passes)
            out = ctx.measured(f"pass[{k}]", lambda: chain(ctx, path), passes)
            if out is None:
                continue
            tok_ms = sum(out["step_ms"][step] for step in ("train_bpe", "encode_ids", "pack_ids"))
            tokenizer.append(Sample(tok_ms, passes[-1].share))
            ctx.check(f"pass[{k}]", [f"{x} differs from the warm-up pass" for x in first if out[x] != first[x]])
            release(out)
    docs_per_s = per_s(len(corpus.docs), passes)
    return Outcome(
        op=passes,
        aux=tokenizer or passes,
        work_per_s=docs_per_s,
        named={"curate_docs_per_s": (docs_per_s, "docs/s")},
        ops=len(passes),
        root=getattr(root, "id", None),
    )


WORKLOADS = {"ingest": ingest, "fetch": fetch, "curate": curate}

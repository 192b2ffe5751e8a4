"""Operational CLI — ``python -m kadiyadb_spark <cmd>``.

The reference ships as a server binary whose operators are driven over a
protocol (server.go, protocol.pb.go); the Spark-native deployment drives the
same operators from jobs, so the operational surface here is a thin argparse
front over the public API — enough to init/inspect/ingest/query/maintain a
database from a shell without writing a script, and a copy-pasteable example
of every call. All heavy lifting stays in the library; the CLI adds no logic.

Examples:
    python -m kadiyadb_spark init    --path /tmp/db --duration 1h \
        --resolution 1m --retention 720h --fields event_type,user_id
    python -m kadiyadb_spark track   --path /tmp/db --events events.parquet
    python -m kadiyadb_spark fetch   --path /tmp/db --from-ns 0 \
        --to-ns 3600000000000 --pattern click,*
    python -m kadiyadb_spark rollup  --src /tmp/db --dst /tmp/db10m
    python -m kadiyadb_spark fsck    --path /tmp/db
"""

from __future__ import annotations

import argparse
import json
import sys


def _spark(args):
    from kadiyadb_spark.session import ensure_engine_confs, get_spark

    spark = get_spark(app_name="kadiyadb-cli", master=args.master)
    spark.sparkContext.setLogLevel("WARN")
    ensure_engine_confs(spark)
    return spark


def _open(spark, path):
    from kadiyadb_spark.database import Database

    return Database.open(spark, path)


def _emit(obj) -> None:
    print(json.dumps(obj, sort_keys=True))


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="kadiyadb_spark")
    ap.add_argument("--master", default="local[*]")
    sub = ap.add_subparsers(dest="cmd", required=True)

    p = sub.add_parser("init", help="create a database (writes params.json)")
    p.add_argument("--path", required=True)
    p.add_argument("--duration", required=True, help="epoch width (ns int or Go-style '1h')")
    p.add_argument("--resolution", required=True)
    p.add_argument("--retention", required=True)
    p.add_argument("--fields", required=True, help="comma-separated dimension names")

    p = sub.add_parser("info", help="params + manifest generations")
    p.add_argument("--path", required=True)

    p = sub.add_parser("track", help="append-increment a parquet batch of events")
    p.add_argument("--path", required=True)
    p.add_argument("--events", required=True, help="parquet file/dir of events")
    p.add_argument("--ts-col", default="ts")
    p.add_argument("--total-col", default="value")
    p.add_argument("--count-col", default=None)

    p = sub.add_parser("fetch", help="range + pattern query, JSONL to stdout")
    p.add_argument("--path", required=True)
    p.add_argument("--from-ns", type=int, required=True)
    p.add_argument("--to-ns", type=int, required=True)
    p.add_argument("--pattern", required=True, help="comma-separated, '*' for wildcard levels")
    p.add_argument("--sparse", action="store_true", help="skip dense zero-fill")
    p.add_argument("--limit", type=int, default=1000)

    p = sub.add_parser(
        "absent", help="PromQL absent(): slots where no matching series has a point"
    )
    p.add_argument("--path", required=True)
    p.add_argument("--from-ns", type=int, required=True)
    p.add_argument("--to-ns", type=int, required=True)
    p.add_argument("--pattern", required=True, help="comma-separated, '*' for wildcard levels")
    p.add_argument("--limit", type=int, default=1000)

    p = sub.add_parser("expire", help="drop epochs older than a cutoff")
    p.add_argument("--path", required=True)
    p.add_argument("--before-ns", type=int, required=True)

    p = sub.add_parser("compact", help="fold fragmented epochs' segments")
    p.add_argument("--path", required=True)
    p.add_argument("--max-files-per-epoch", type=int, default=1)

    p = sub.add_parser("maintain", help="expire + compact + vacuum in order")
    p.add_argument("--path", required=True)
    p.add_argument("--now-ns", type=int, required=True)

    p = sub.add_parser("vacuum", help="remove crash-orphaned segment staging")
    p.add_argument("--path", required=True)

    p = sub.add_parser("fsck", help="manifest/segment integrity census")
    p.add_argument("--path", required=True)

    p = sub.add_parser("rollup", help="incremental continuous-aggregate refresh")
    p.add_argument("--src", required=True)
    p.add_argument("--dst", required=True)
    p.add_argument("--stream-id", default="rollup")

    p = sub.add_parser(
        "route",
        help="resolution-routed fetch across every database under a server "
        "root (the reference's LoadAll surface): finest tier whose dense "
        "point count fits --max-points serves the query",
    )
    p.add_argument("--root", required=True, help="server dir of database subdirs")
    p.add_argument("--from-ns", type=int, required=True)
    p.add_argument("--to-ns", type=int, required=True)
    p.add_argument("--pattern", required=True)
    p.add_argument("--max-points", type=int, default=None)
    p.add_argument("--now-ns", type=int, default=None, help="retention filter anchor")
    p.add_argument("--sparse", action="store_true")
    p.add_argument("--limit", type=int, default=1000)

    p = sub.add_parser(
        "funnel",
        help="ordered-funnel conversion over a parquet events table "
        "(greedy per-user scan; optional conversion window)",
    )
    p.add_argument("--events", required=True, help="parquet path")
    p.add_argument("--steps", required=True, help="comma-separated event types, in order")
    p.add_argument("--user-col", default="user_id")
    p.add_argument("--ts-col", default="ts")
    p.add_argument("--type-col", default="event_type")
    p.add_argument("--within-ns", type=int, default=None, help="conversion window")

    p = sub.add_parser(
        "cohort",
        help="first-day cohort retention over a parquet events table",
    )
    p.add_argument("--events", required=True, help="parquet path")
    p.add_argument("--user-col", default="user_id")
    p.add_argument("--ts-col", default="ts")
    p.add_argument("--day-ns", type=int, default=86_400 * 10**9)
    p.add_argument("--max-offset", type=int, default=None)

    p = sub.add_parser(
        "clone",
        help="consistent snapshot export (backup/branch): copy a pinned "
        "generation's segments to a new database path",
    )
    p.add_argument("--path", required=True)
    p.add_argument("--dst", required=True)
    p.add_argument("--at-gen", type=int, default=None)

    p = sub.add_parser(
        "alerts",
        help="Prometheus-style alerting-rule eval over a database fetch: "
        "threshold held for N consecutive slots -> firing runs",
    )
    p.add_argument("--path", required=True)
    p.add_argument("--from-ns", type=int, required=True)
    p.add_argument("--to-ns", type=int, required=True)
    p.add_argument("--pattern", required=True)
    p.add_argument("--threshold", type=float, required=True)
    p.add_argument("--for-slots", type=int, default=1)
    p.add_argument("--below", action="store_true", help="fire on <= threshold instead")
    p.add_argument("--limit", type=int, default=1000)

    p = sub.add_parser(
        "rfm",
        help="RFM lifecycle segmentation over a parquet events table "
        "(recency/frequency/monetary ntile scores; --now-ns is explicit, "
        "never a wall clock)",
    )
    p.add_argument("--events", required=True, help="parquet path")
    p.add_argument("--now-ns", type=int, required=True)
    p.add_argument("--user-col", default="user_id")
    p.add_argument("--ts-col", default="ts")
    p.add_argument("--value-col", default="value")
    p.add_argument("--bins", type=int, default=5)

    p = sub.add_parser(
        "keywords",
        help="tf-idf top-j keywords per document over a parquet corpus",
    )
    p.add_argument("--docs", required=True, help="parquet path")
    p.add_argument("--top", type=int, default=5)
    p.add_argument("--text-col", default="text")
    p.add_argument("--id-col", default="doc_id")
    p.add_argument("--limit", type=int, default=1000)

    p = sub.add_parser(
        "bm25",
        help="Okapi BM25 top-k retrieval over a parquet corpus",
    )
    p.add_argument("--docs", required=True, help="parquet path")
    p.add_argument("--query", required=True, help="space-separated terms")
    p.add_argument("--k", type=int, default=10)
    p.add_argument("--text-col", default="text")
    p.add_argument("--id-col", default="doc_id")

    p = sub.add_parser(
        "drift",
        help="PSI distribution drift of a numeric column between two "
        "parquet snapshots over a bucket ladder",
    )
    p.add_argument("--a", required=True, help="baseline parquet path")
    p.add_argument("--b", required=True, help="candidate parquet path")
    p.add_argument("--col", required=True)
    p.add_argument("--bounds", required=True, help="comma-separated ascending bounds")

    p = sub.add_parser(
        "containment",
        help="asymmetric doc-in-doc overlap pairs over rare-shingle profiles",
    )
    p.add_argument("--docs", required=True, help="parquet path")
    p.add_argument("--max-df", type=int, default=10)
    p.add_argument("--threshold", type=float, default=0.5)
    p.add_argument("--text-col", default="text")
    p.add_argument("--id-col", default="doc_id")
    p.add_argument("--limit", type=int, default=1000)

    p = sub.add_parser(
        "knn",
        help="blocked k-NN graph over an embedding parquet (IVF buckets)",
    )
    p.add_argument("--emb", required=True, help="parquet path")
    p.add_argument("--k", type=int, default=5)
    p.add_argument("--centroids", type=int, default=8)
    p.add_argument("--id-col", default="vec_id")
    p.add_argument("--vec-col", default="embedding")
    p.add_argument("--limit", type=int, default=1000)

    p = sub.add_parser(
        "paths",
        help="next-hop transition census (Sankey/Markov view) over a "
        "parquet events table",
    )
    p.add_argument("--events", required=True, help="parquet path")
    p.add_argument("--user-col", default="user_id")
    p.add_argument("--ts-col", default="ts")
    p.add_argument("--type-col", default="event_type")
    p.add_argument("--id-col", default="event_id")

    p = sub.add_parser(
        "entropy",
        help="character-entropy quality signal per document (gibberish / "
        "base64 / looping-text cut) over a parquet corpus",
    )
    p.add_argument("--docs", required=True, help="parquet path")
    p.add_argument("--text-col", default="text")
    p.add_argument("--id-col", default="doc_id")
    p.add_argument("--limit", type=int, default=1000)

    p = sub.add_parser(
        "wsample",
        help="deterministic weighted sampling without replacement "
        "(Efraimidis-Spirakis keys): keep k rows ~ --weight-col",
    )
    p.add_argument("--docs", required=True, help="parquet path")
    p.add_argument("--k", type=int, required=True)
    p.add_argument("--weight-col", required=True)
    p.add_argument("--id-col", default="doc_id")
    p.add_argument("--salt", default="ws")

    p = sub.add_parser(
        "kmv",
        help="KMV (theta) distinct sketches per group with pairwise "
        "union/intersection/Jaccard estimates (the set ops HLL cannot do)",
    )
    p.add_argument("--events", required=True, help="parquet path")
    p.add_argument("--key-col", default="user_id")
    p.add_argument("--group-col", default="event_type")
    p.add_argument("--k", type=int, default=128)

    p = sub.add_parser(
        "quantiles",
        help="exact p25/p50/p75 per group via engine-free scaled-long "
        "rank interpolation (identical result on any engine/layout)",
    )
    p.add_argument("--table", required=True, help="parquet path")
    p.add_argument("--value-col", required=True)
    p.add_argument("--group-col", required=True)

    p = sub.add_parser(
        "cmsketch",
        help="Count-Min point-frequency estimates per group for the "
        "hottest keys (never undercounts; raw keys never shuffle)",
    )
    p.add_argument("--events", required=True, help="parquet path")
    p.add_argument("--key-col", default="user_id")
    p.add_argument("--group-col", default="event_type")
    p.add_argument("--width", type=int, default=64)
    p.add_argument("--depth", type=int, default=4)
    p.add_argument("--topn", type=int, default=10)

    p = sub.add_parser(
        "pagerank",
        help="deterministic weighted PageRank over an edge parquet "
        "(integer scaled-long updates — identical on any layout)",
    )
    p.add_argument("--edges", required=True, help="parquet path")
    p.add_argument("--src-col", default="src")
    p.add_argument("--dst-col", default="dst")
    p.add_argument("--weight-col", default=None)
    p.add_argument("--iters", type=int, default=3)
    p.add_argument("--limit", type=int, default=100)

    p = sub.add_parser(
        "urlcanon",
        help="canonicalize a URL column (lowercase scheme/host, strip "
        "tracking params, sort survivors, trim trailing slash) and "
        "print the duplicate-URL census",
    )
    p.add_argument("--table", required=True, help="parquet path")
    p.add_argument("--url-col", default="url")
    p.add_argument("--id-col", default="doc_id")
    p.add_argument("--min-dups", type=int, default=2)

    p = sub.add_parser(
        "kanon",
        help="k-anonymity census over quasi-identifier columns: group "
        "sizes + rows a k-anonymous release must suppress",
    )
    p.add_argument("--table", required=True, help="parquet path")
    p.add_argument("--quasi-cols", required=True, help="comma-separated")
    p.add_argument("--k", type=int, required=True)

    p = sub.add_parser(
        "asof",
        help="merge_asof two parquet tables (pandas semantics: backward/"
        "forward + tolerance) on a shared ts column within by-groups",
    )
    p.add_argument("--left", required=True, help="parquet path")
    p.add_argument("--right", required=True, help="parquet path")
    p.add_argument("--ts-col", default="ts")
    p.add_argument("--by-cols", required=True, help="comma-separated")
    p.add_argument("--right-cols", required=True, help="comma-separated")
    p.add_argument("--tolerance", type=int, default=None)
    p.add_argument("--direction", default="backward")
    p.add_argument("--limit", type=int, default=100)

    p = sub.add_parser(
        "forget",
        help="right-to-be-forgotten: delete full-depth series matching a "
        "pattern and re-fold affected epochs' rollups (atomic swap)",
    )
    p.add_argument("--path", required=True)
    p.add_argument("--pattern", required=True,
                   help="comma-separated full-depth pattern, '*' wildcards ok")

    p = sub.add_parser(
        "triangles",
        help="exact per-node triangle counts over an edge parquet "
        "(degree orientation: wedge work bounded m^1.5 under any skew)",
    )
    p.add_argument("--edges", required=True, help="parquet path")
    p.add_argument("--src-col", default="src")
    p.add_argument("--dst-col", default="dst")
    p.add_argument("--limit", type=int, default=100)

    p = sub.add_parser(
        "kmeans",
        help="distributed full-corpus Lloyd k-means over an embedding "
        "column (integer-exact folds; map-side assignment)",
    )
    p.add_argument("--table", required=True, help="parquet path")
    p.add_argument("--k", type=int, default=4)
    p.add_argument("--iters", type=int, default=2)
    p.add_argument("--id-col", default="vec_id")
    p.add_argument("--vec-col", default="embedding")

    p = sub.add_parser(
        "luhn",
        help="payment-card governance: detect 13-19 digit runs in a text "
        "column and Luhn-validate them (pure JVM fold, no UDF)",
    )
    p.add_argument("--table", required=True, help="parquet path")
    p.add_argument("--text-col", default="text")
    p.add_argument("--group-cols", default="", help="comma-separated")

    p = sub.add_parser(
        "dqaudit",
        help="declarative data-quality audit: named SQL boolean "
        "expectations folded in ONE scan + optional referential checks",
    )
    p.add_argument("--table", required=True, help="parquet path")
    p.add_argument(
        "--check",
        action="append",
        default=[],
        metavar="NAME=SQL_EXPR",
        help="row-level expectation, e.g. price_pos='price > 0' (repeat)",
    )
    p.add_argument(
        "--ref",
        action="append",
        default=[],
        metavar="FACT_COL:DIM_PARQUET:DIM_COL",
        help="referential expectation (repeat)",
    )

    p = sub.add_parser(
        "scriptcensus",
        help="unicode-script composition census over a text column "
        "(language-mix / mojibake detection before language-ID)",
    )
    p.add_argument("--table", required=True, help="parquet path")
    p.add_argument("--text-col", default="text")
    p.add_argument("--group-cols", default="", help="comma-separated")

    p = sub.add_parser(
        "semdedup",
        help="SemDeDup: k-means-cluster embeddings (exact Lloyd), drop "
        "cosine near-duplicates within clusters (keep lowest id)",
    )
    p.add_argument("--table", required=True, help="parquet path")
    p.add_argument("--k", type=int, default=4)
    p.add_argument("--iters", type=int, default=2)
    p.add_argument("--threshold", type=float, default=0.95)
    p.add_argument("--id-col", default="vec_id")
    p.add_argument("--vec-col", default="embedding")
    p.add_argument(
        "--per-vector", action="store_true",
        help="emit one row per vector (id, cluster_id, kept) instead of "
        "the per-cluster census",
    )

    p = sub.add_parser(
        "rulegroup",
        help="evaluate a Prometheus-style rule group over the store in "
        "ONE scan; emits pending/firing runs",
    )
    p.add_argument("--path", required=True, help="database root")
    p.add_argument("--from-ns", type=int, required=True)
    p.add_argument("--to-ns", type=int, required=True)
    p.add_argument(
        "--rule",
        action="append",
        default=[],
        metavar="NAME=PATTERN:THRESHOLD[:FOR_SLOTS]",
        help="e.g. hot_clicks=click,*:50:1 (pattern levels comma-separated; "
        "repeat per rule)",
    )

    args = ap.parse_args(argv)
    spark = _spark(args)

    if args.cmd == "init":
        from kadiyadb_spark.catalog import Params
        from kadiyadb_spark.database import Database

        def num(v: str):
            return int(v) if v.isdigit() else v  # bare digits = ns

        params = Params.from_dict(
            {
                "duration": num(args.duration),
                "resolution": num(args.resolution),
                "retention": num(args.retention),
                "fields": [f for f in args.fields.split(",") if f],
            }
        )
        Database.open(spark, args.path, params)
        _emit({"initialized": args.path, "params": params.to_dict()})
    elif args.cmd == "info":
        db = _open(spark, args.path)
        _emit(
            {
                "params": db.params.to_dict(),
                "generations": db.generations(),
                "current_gen": db.current_gen(),
            }
        )
    elif args.cmd == "track":
        db = _open(spark, args.path)
        db.track(
            spark.read.parquet(args.events),
            ts_col=args.ts_col,
            total_col=args.total_col,
            count_col=args.count_col,
        )
        _emit({"tracked": args.events, "gen": db.current_gen()})
    elif args.cmd == "fetch":
        db = _open(spark, args.path)
        r = db.fetch(
            args.from_ns, args.to_ns, args.pattern.split(","), densify=not args.sparse
        )
        # Deterministic truncation: an unordered limit() returns whichever
        # partitions answer first, so repeated invocations with --limit
        # would emit different rows. Order by the series key + bucket.
        keys = [c for c in r.columns if c not in ("total", "cnt")]
        for row in r.orderBy(*keys).limit(args.limit).collect():
            _emit(row.asDict())
    elif args.cmd == "absent":
        from kadiyadb_spark.query import fetch_absent

        db = _open(spark, args.path)
        pat = args.pattern.split(",")
        _, _, paths = db._read_range(args.from_ns, args.to_ns, [pat])
        r = fetch_absent(
            db._read_fold(paths),
            args.from_ns,
            args.to_ns,
            pat,
            resolution=db.params.resolution,
            duration=db.params.duration,
        )
        for row in r.orderBy("bucket").limit(args.limit).collect():
            _emit(row.asDict())
    elif args.cmd == "expire":
        _emit({"dropped_epochs": _open(spark, args.path).expire(args.before_ns)})
    elif args.cmd == "compact":
        _emit(
            {
                "compacted_epochs": _open(spark, args.path).compact(
                    max_files_per_epoch=args.max_files_per_epoch
                )
            }
        )
    elif args.cmd == "maintain":
        _emit(_open(spark, args.path).maintain(args.now_ns))
    elif args.cmd == "vacuum":
        _emit({"removed": _open(spark, args.path).vacuum()})
    elif args.cmd == "fsck":
        _emit(_open(spark, args.path).fsck())
    elif args.cmd == "rollup":
        from kadiyadb_spark.database import rollup_refresh

        applied = rollup_refresh(
            _open(spark, args.src), _open(spark, args.dst), stream_id=args.stream_id
        )
        _emit({"applied": applied})
    elif args.cmd == "route":
        from kadiyadb_spark.database import fetch_routed, load_all_open

        tiers = list(load_all_open(spark, args.root).values())
        r = fetch_routed(
            tiers,
            args.from_ns,
            args.to_ns,
            args.pattern.split(","),
            max_points=args.max_points,
            now_ts=args.now_ns,
            densify=not args.sparse,
        )
        keys = [c for c in r.columns if c not in ("total", "cnt")]
        for row in r.orderBy(*keys).limit(args.limit).collect():
            _emit(row.asDict())
    elif args.cmd == "clone":
        db = _open(spark, args.path)
        dst = db.clone(args.dst, at_gen=args.at_gen)
        _emit({"cloned": args.dst, "from_gen": args.at_gen if args.at_gen is not None else db.current_gen(), "gen": dst.current_gen()})
    elif args.cmd == "alerts":
        from kadiyadb_spark.query import series_alerts
        from kadiyadb_spark.schema import series_field_cols

        db = _open(spark, args.path)
        pat = args.pattern.split(",")
        dense = db.fetch(args.from_ns, args.to_ns, pat)
        series = series_field_cols(dense.columns)
        r = series_alerts(
            dense.select(*series, "bucket", "total"),
            series,
            threshold=args.threshold,
            for_slots=args.for_slots,
            resolution=db.params.resolution,
            above=not args.below,
        )
        for row in r.orderBy(*series, "pending_start").limit(args.limit).collect():
            _emit(row.asDict())
    elif args.cmd == "paths":
        from kadiyadb_spark.functions.analytics import path_transitions

        r = path_transitions(
            spark.read.parquet(args.events),
            user_col=args.user_col,
            ts_col=args.ts_col,
            type_col=args.type_col,
            id_col=args.id_col,
        )
        for row in r.orderBy(r.transitions.desc(), "from_event", "to_event").collect():
            _emit(row.asDict())
    elif args.cmd == "funnel":
        from kadiyadb_spark.functions.analytics import funnel_counts
        from kadiyadb_spark.schema import normalize_ts

        ev = normalize_ts(spark.read.parquet(args.events), args.ts_col)
        r = funnel_counts(
            ev,
            [s for s in args.steps.split(",") if s],
            user_col=args.user_col,
            ts_col=args.ts_col,
            type_col=args.type_col,
            within=args.within_ns,
        )
        for row in r.orderBy("stage").collect():
            _emit(row.asDict())
    elif args.cmd == "cohort":
        from kadiyadb_spark.functions.analytics import cohort_retention
        from kadiyadb_spark.schema import normalize_ts

        ev = normalize_ts(spark.read.parquet(args.events), args.ts_col)
        r = cohort_retention(
            ev,
            user_col=args.user_col,
            ts_col=args.ts_col,
            day_ns=args.day_ns,
            max_offset=args.max_offset,
        )
        for row in r.orderBy("cohort_day", "day_offset").collect():
            _emit(row.asDict())
    elif args.cmd == "drift":
        from kadiyadb_spark.functions.sketch import distribution_drift

        r = distribution_drift(
            spark.read.parquet(args.a),
            spark.read.parquet(args.b),
            args.col,
            [float(x) for x in args.bounds.split(",") if x],
        )
        for row in r.orderBy("le").collect():
            _emit(row.asDict())
    elif args.cmd == "containment":
        from kadiyadb_spark.functions.dedup import containment_pairs

        r = containment_pairs(
            spark.read.parquet(args.docs),
            text_col=args.text_col,
            id_col=args.id_col,
            max_df=args.max_df,
            threshold=args.threshold,
        )
        for row in r.orderBy("id_a", "id_b").limit(args.limit).collect():
            _emit(row.asDict())
    elif args.cmd == "knn":
        from kadiyadb_spark.functions.similarity import knn_graph

        r = knn_graph(
            spark.read.parquet(args.emb),
            k=args.k,
            id_col=args.id_col,
            vec_col=args.vec_col,
            num_centroids=args.centroids,
        )
        for row in r.orderBy(args.id_col, "rank").limit(args.limit).collect():
            _emit(row.asDict())
    elif args.cmd == "rfm":
        from kadiyadb_spark.functions.analytics import rfm_segments
        from kadiyadb_spark.schema import normalize_ts

        ev = normalize_ts(spark.read.parquet(args.events), args.ts_col)
        r = rfm_segments(
            ev,
            now_ts=args.now_ns,
            user_col=args.user_col,
            ts_col=args.ts_col,
            value_col=args.value_col,
            n_bins=args.bins,
        )
        for row in r.orderBy(r.segment.desc(), args.user_col).collect():
            _emit(row.asDict())
    elif args.cmd == "keywords":
        from kadiyadb_spark.functions.text import keyword_terms

        r = keyword_terms(
            spark.read.parquet(args.docs),
            text_col=args.text_col,
            id_col=args.id_col,
            top_j=args.top,
        )
        for row in r.orderBy(args.id_col, "rank").limit(args.limit).collect():
            _emit(row.asDict())
    elif args.cmd == "bm25":
        from kadiyadb_spark.functions.text import bm25_score

        r = bm25_score(
            spark.read.parquet(args.docs),
            args.query.split(),
            text_col=args.text_col,
            id_col=args.id_col,
            k=args.k,
        )
        for row in r.orderBy("rank").collect():
            _emit(row.asDict())
    elif args.cmd == "entropy":
        from kadiyadb_spark.functions.text import char_entropy

        r = char_entropy(
            spark.read.parquet(args.docs), text_col=args.text_col, id_col=args.id_col
        )
        for row in r.orderBy(args.id_col).limit(args.limit).collect():
            _emit(row.asDict())
    elif args.cmd == "wsample":
        from kadiyadb_spark.functions.sampling import weighted_sample

        r = weighted_sample(
            spark.read.parquet(args.docs),
            k=args.k,
            weight_col=args.weight_col,
            id_col=args.id_col,
            salt=args.salt,
        )
        for row in r.orderBy(args.id_col).collect():
            _emit(row.asDict())
    elif args.cmd == "kmv":
        from pyspark.sql import functions as F

        from kadiyadb_spark.functions.num import round4_expr
        from kadiyadb_spark.functions.sketch import (
            kmv_estimate_expr,
            kmv_setop_exprs,
            kmv_sketch,
        )

        sk = kmv_sketch(
            spark.read.parquet(args.events), args.key_col, [args.group_col], k=args.k
        )
        a = sk.select(F.col(args.group_col).alias("group_a"), F.col("kmv").alias("_sa"))
        b = sk.select(F.col(args.group_col).alias("group_b"), F.col("kmv").alias("_sb"))
        ops = kmv_setop_exprs(F.col("_sa"), F.col("_sb"), args.k)
        r = a.join(F.broadcast(b), F.col("group_a") < F.col("group_b")).select(
            "group_a",
            "group_b",
            round4_expr(kmv_estimate_expr(F.col("_sa"), args.k)).alias("est_a"),
            round4_expr(kmv_estimate_expr(F.col("_sb"), args.k)).alias("est_b"),
            round4_expr(ops["union"]).alias("est_union"),
            round4_expr(ops["intersect"]).alias("est_intersect"),
            round4_expr(ops["jaccard"]).alias("est_jaccard"),
        )
        for row in r.orderBy("group_a", "group_b").collect():
            _emit(row.asDict())
    elif args.cmd == "quantiles":
        from kadiyadb_spark.functions.profile import exact_quantiles

        r = exact_quantiles(
            spark.read.parquet(args.table), args.value_col, [args.group_col]
        )
        for row in r.orderBy(args.group_col).collect():
            _emit(row.asDict())
    elif args.cmd == "cmsketch":
        from pyspark.sql import functions as F

        from kadiyadb_spark.functions.sketch import (
            cm_estimate_expr,
            cm_sketch,
        )

        ev = spark.read.parquet(args.events).filter(
            F.col(args.key_col).isNotNull()
        )
        sk = cm_sketch(
            ev, args.key_col, [args.group_col], width=args.width, depth=args.depth
        )
        probes = (
            ev.groupBy(args.key_col)
            .agg(F.count(F.lit(1)).alias("_n"))
            .orderBy(F.col("_n").desc(), args.key_col)
            .limit(args.topn)
            .select(args.key_col)
        )
        r = probes.crossJoin(F.broadcast(sk)).select(
            args.group_col,
            args.key_col,
            cm_estimate_expr(
                F.col("cm"), F.col(args.key_col), args.width, args.depth
            ).alias("est_cnt"),
        )
        for row in r.orderBy(args.group_col, args.key_col).collect():
            _emit(row.asDict())
    elif args.cmd == "pagerank":
        from kadiyadb_spark.functions.graph import pagerank

        r = pagerank(
            spark.read.parquet(args.edges),
            src=args.src_col,
            dst=args.dst_col,
            weight=args.weight_col,
            iters=args.iters,
        )
        from pyspark.sql import functions as F

        for row in (
            r.orderBy(F.col("rank").desc(), "node").limit(args.limit).collect()
        ):
            _emit(row.asDict())
    elif args.cmd == "urlcanon":
        from pyspark.sql import functions as F

        from kadiyadb_spark.functions.web import url_canonicalize

        r = (
            url_canonicalize(spark.read.parquet(args.table), url_col=args.url_col)
            .groupBy("canonical_url")
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.min(args.id_col).alias("keep_" + args.id_col),
            )
            .filter(F.col("n_docs") >= args.min_dups)
        )
        for row in r.orderBy(F.col("n_docs").desc(), "canonical_url").collect():
            _emit(row.asDict())
    elif args.cmd == "kanon":
        from pyspark.sql import functions as F

        from kadiyadb_spark.functions.privacy import k_anonymity

        quasi = args.quasi_cols.split(",")
        ann = k_anonymity(spark.read.parquet(args.table), quasi, args.k)
        r = ann.groupBy(*quasi).agg(
            F.min("k_group_size").alias("group_size"),
            F.min("suppressed").alias("suppressed"),
        )
        for row in r.orderBy("group_size", *quasi).collect():
            _emit(row.asDict())
    elif args.cmd == "asof":
        from kadiyadb_spark.functions.timeops import merge_asof

        r = merge_asof(
            spark.read.parquet(args.left),
            spark.read.parquet(args.right),
            ts_col=args.ts_col,
            by_cols=args.by_cols.split(","),
            right_cols=args.right_cols.split(","),
            tolerance=args.tolerance,
            direction=args.direction,
        )
        for row in r.limit(args.limit).collect():
            _emit(row.asDict())
    elif args.cmd == "forget":
        from kadiyadb_spark.database import Database

        db = Database.open(spark, args.path)
        _emit(db.forget(args.pattern.split(",")))
    elif args.cmd == "triangles":
        from pyspark.sql import functions as F

        from kadiyadb_spark.functions.graph import triangle_count

        r = triangle_count(
            spark.read.parquet(args.edges), src_col=args.src_col, dst_col=args.dst_col
        )
        for row in r.orderBy(F.col("n_triangles").desc(), "node").limit(args.limit).collect():
            _emit(row.asDict())
    elif args.cmd == "kmeans":
        from kadiyadb_spark.functions.cluster import kmeans_lloyd

        r = kmeans_lloyd(
            spark.read.parquet(args.table),
            k=args.k,
            iters=args.iters,
            id_col=args.id_col,
            vec_col=args.vec_col,
        )
        for row in r.orderBy("cluster_id").collect():
            _emit(row.asDict())
    elif args.cmd == "luhn":
        from pyspark.sql import functions as F

        from kadiyadb_spark.functions.privacy import luhn_audit

        gcols = [c for c in args.group_cols.split(",") if c]
        r = luhn_audit(
            spark.read.parquet(args.table), text_col=args.text_col,
            group_cols=gcols or None,
        )
        for row in r.orderBy(*(gcols or [F.lit(1)])).collect():
            _emit(row.asDict())
    elif args.cmd == "dqaudit":
        from pyspark.sql import functions as F

        from kadiyadb_spark.functions.dq import expect, expect_ref

        fact = spark.read.parquet(args.table)
        checks = {}
        for spec in args.check:
            name, _, expr = spec.partition("=")
            if not name or not expr:
                raise SystemExit(f"bad --check (want NAME=SQL_EXPR): {spec!r}")
            checks[name] = F.expr(expr)
        out = expect(fact, checks) if checks else None
        for spec in args.ref:
            try:
                fact_col, dim_path, dim_col = spec.split(":")
            except ValueError:
                raise SystemExit(
                    f"bad --ref (want FACT_COL:DIM_PARQUET:DIM_COL): {spec!r}"
                ) from None
            ri = expect_ref(fact, fact_col, spark.read.parquet(dim_path), dim_col)
            out = ri if out is None else out.unionByName(ri)
        if out is None:
            raise SystemExit("dqaudit needs at least one --check or --ref")
        for row in out.orderBy("check").collect():
            _emit(row.asDict())
    elif args.cmd == "scriptcensus":
        from kadiyadb_spark.functions.text import script_census

        gcols = [c for c in args.group_cols.split(",") if c]
        r = script_census(
            spark.read.parquet(args.table), text_col=args.text_col,
            group_cols=gcols or None,
        )
        for row in r.orderBy(*(gcols + ["dominant_script"])).collect():
            _emit(row.asDict())
    elif args.cmd == "semdedup":
        from pyspark.sql import functions as F

        from kadiyadb_spark.functions.cluster import semdedup_prune

        flags = semdedup_prune(
            spark.read.parquet(args.table),
            k=args.k,
            iters=args.iters,
            threshold=args.threshold,
            id_col=args.id_col,
            vec_col=args.vec_col,
        )
        if args.per_vector:
            for row in flags.orderBy(args.id_col).collect():
                _emit(row.asDict())
        else:
            census = flags.groupBy("cluster_id").agg(
                F.count(F.lit(1)).alias("n_vecs"),
                F.sum("kept").alias("n_kept"),
            )
            for row in census.orderBy("cluster_id").collect():
                d = row.asDict()
                d["n_dropped"] = d["n_vecs"] - d["n_kept"]
                _emit(d)
    elif args.cmd == "rulegroup":
        import re as _re

        rules = {}
        for spec in args.rule:
            if "=" not in spec:
                raise SystemExit(f"bad --rule (need NAME=PATTERN:THR[:FOR]): {spec}")
            name, rhs = spec.split("=", 1)
            parts = rhs.split(":")
            if len(parts) not in (2, 3):
                raise SystemExit(f"bad --rule (need NAME=PATTERN:THR[:FOR]): {spec}")
            if name in rules:
                raise SystemExit(f"duplicate rule name: {name!r}")
            try:
                thr = float(parts[1])
                fs = int(parts[2]) if len(parts) == 3 else 1
            except ValueError:
                raise SystemExit(
                    f"bad --rule (THRESHOLD must be a number, FOR_SLOTS an "
                    f"integer): {spec}"
                )
            rules[name] = {
                "pattern": parts[0].split(","),
                "threshold": thr,
                "for_slots": fs,
            }
        if not rules:
            raise SystemExit("rulegroup needs at least one --rule")
        db = _open(spark, args.path)
        r = db.rule_group(args.from_ns, args.to_ns, rules)
        # series key = the query label + the f1..fD field columns ONLY
        # ('firing_start' also starts with 'f' — match the exact shape)
        keys = ["query"] + [c for c in r.columns if _re.fullmatch(r"f\d+", c)]
        for row in r.orderBy(*keys, "pending_start").collect():
            _emit(row.asDict())
    return 0


if __name__ == "__main__":
    sys.exit(main())

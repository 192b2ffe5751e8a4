"""kadiyadb_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of kadirahq/kadiyadb.

The reference (/root/reference, Go) is a pre-aggregated fixed-resolution
time-series store: Track(ts, fields, total, count) adds a (total, count)
point into every prefix of the ordered field path; Fetch(from, to, pattern)
returns dense zero-filled vectors for every series matching an exact-depth
wildcard pattern. See SURVEY.md for the full semantic map (O1-O15).

This package reproduces those semantics Spark-first:

- ingest.track_batch      O1/O3: events DF -> cube DF (prefix rollup, one shuffle)
- query.fetch             O2/O4/O6/O7: time range + wildcard pattern -> dense DF
- catalog.Params          O13: params.json validation (database.go:128-137)
- database.Database       O10/O12/O13: persisted parquet cube partitioned by epoch;
                          Database.expire is O11 (drop epochs older than a cutoff)
- streaming.ingest        O1 streaming form: raw, update-mode and append-mode cube
                          sinks over track_batch's event -> cube-row core
- streaming.stateful      applyInPandasWithState session assembly
- functions.*             north-star ops: dedup (incl. clustering), similarity
                          (incl. persisted IVFIndex), text analysis, multimodal,
                          skew salting, bucketed time-range joins (timeops)
- layout                  Z-order clustering for multi-column data skipping
"""

from kadiyadb_spark.catalog import Params, load_all
from kadiyadb_spark.database import Database, load_all_open, rollup_refresh
from kadiyadb_spark.ingest import track_batch
from kadiyadb_spark.query import (
    Re,
    fetch,
    fetch_absent,
    fetch_multi,
    histogram_quantile,
    histogram_fraction,
    series_predict_linear,
    interpolate_series,
    series_anomaly,
    series_delta,
    series_downsample,
    series_increase,
    series_ratio,
    series_offset,
    series_ratio_wildcard,
    series_smooth,
    series_sum_by,
    series_topk,
    series_resets_changes,
    series_gaps,
    series_holt_winters,
    series_quantile_over_time,
    series_seasonal_profile,
    series_binop,
    series_agg_by,
    series_topk_per_slot,
    series_count_values,
    series_stddev_over_time,
    series_alerts,
    series_quantile_by,
    series_share,
    series_remap,
    series_burn_rate,
    series_last_over_time,
    series_seasonal_anomaly,
    series_mad_anomaly,
    series_cusum,
    series_outlier_fences,
)
from kadiyadb_spark.functions.bpe import decode_ids, encode_ids
from kadiyadb_spark.functions.profile import exact_quantiles
from kadiyadb_spark.functions.analytics import scd2_intervals
from kadiyadb_spark.functions.cdc import merge_apply
from kadiyadb_spark.functions.graph import triangle_count
from kadiyadb_spark.functions.multimodal import scene_cuts
from kadiyadb_spark.functions.privacy import k_anonymity, pseudonymize
from kadiyadb_spark.functions.timeops import merge_asof
from kadiyadb_spark.functions.runtime_filter import bloom_build, bloom_probe
from kadiyadb_spark.functions.text import normalize_text, rrf_fuse
from kadiyadb_spark.functions.web import domain_census, url_canonicalize, url_components
from kadiyadb_spark.functions.similarity import (
    embedding_outliers,
    matryoshka_truncate,
    power_iteration_top_pc,
)
from kadiyadb_spark.functions.sketch import (
    kmv_estimate_expr,
    kmv_merge,
    kmv_setop_exprs,
    kmv_sketch,
)
from kadiyadb_spark.session import get_spark, spread

__all__ = [
    "Database",
    "Params",
    "load_all",
    "load_all_open",
    "rollup_refresh",
    "track_batch",
    "fetch",
    "fetch_absent",
    "fetch_multi",
    "Re",
    "series_delta",
    "interpolate_series",
    "series_smooth",
    "series_downsample",
    "series_anomaly",
    "series_ratio",
    "series_offset",
    "series_ratio_wildcard",
    "series_sum_by",
    "series_topk",
    "series_increase",
    "series_predict_linear",
    "histogram_quantile",
    "histogram_fraction",
    "series_resets_changes",
    "series_gaps",
    "series_holt_winters",
    "series_quantile_over_time",
    "series_seasonal_profile",
    "series_binop",
    "series_agg_by",
    "series_topk_per_slot",
    "series_count_values",
    "series_stddev_over_time",
    "series_alerts",
    "series_quantile_by",
    "series_share",
    "series_remap",
    "series_burn_rate",
    "series_last_over_time",
    "series_seasonal_anomaly",
    "series_mad_anomaly",
    "series_cusum",
    "series_outlier_fences",
    "exact_quantiles",
    "kmv_sketch",
    "kmv_merge",
    "kmv_estimate_expr",
    "kmv_setop_exprs",
    "embedding_outliers",
    "matryoshka_truncate",
    "power_iteration_top_pc",
    "encode_ids",
    "bloom_build",
    "scd2_intervals",
    "merge_apply",
    "merge_asof",
    "k_anonymity",
    "pseudonymize",
    "triangle_count",
    "scene_cuts",
    "url_canonicalize",
    "bloom_probe",
    "rrf_fuse",
    "normalize_text",
    "url_components",
    "domain_census",
    "decode_ids",
    "get_spark",
    "spread",
]

__version__ = "0.1.0"

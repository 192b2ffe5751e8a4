"""Cross-engine numeric helpers.

``round4_expr`` exists because Spark's ``round(double, 4)`` rounds the
SHORTEST DECIMAL REPR of the double (java BigDecimal HALF_UP on
Double.toString), while DuckDB rounds the binary value — on bit-identical
inputs the two can disagree at a .00005 tie (e.g. a ratio whose double
prints as 0.54175 but is binarily just below it). ``floor(x*1e4 + 0.5)/1e4``
is pure IEEE arithmetic, bit-identical in any engine, so Spark queries and
their SQL oracles always agree given equal inputs.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def round4_expr(c: Column) -> Column:
    """Deterministic half-up 4dp rounding: floor(x*10000 + 0.5)/10000."""
    return F.floor(c.cast("double") * 10000 + F.lit(0.5)) / 10000


def bind1(val: Column, body) -> Column:
    """Let-binding for Catalyst expressions: evaluate ``val`` ONCE per row
    and hand it to ``body`` as a bound lambda variable.

    Why (r13 optimization, guide §1.2 per-task work): higher-order
    functions are interpreted (CodegenFallback) and do NO subexpression
    elimination inside their lambdas — an outer expression referenced in a
    lambda body is re-evaluated PER ELEMENT. A character-shingle transform
    whose lambda sliced ``normalize_expr(text)`` re-ran the whole-document
    regex normalize once per window position: O(n²) per document (measured
    4x on the shingle path, 20x on winnow_fingerprint at sf0.1, identical
    values). Wrapping the expensive value as the single element of an array
    and ``transform``-ing over it binds it to a NamedLambdaVariable — a
    leaf the inner lambdas reference for free.

    ``body`` receives the bound Column and returns the result Column; the
    wrapper unwraps the 1-element result array."""
    return F.element_at(F.transform(F.array(val), body), 1)


def round4_sql(expr: str) -> str:
    """The identical computation as ANSI/DuckDB SQL text."""
    return f"floor(({expr}) * 10000 + 0.5) / 10000"


def exact_avg4_expr(c: Column) -> Column:
    """Order-independent 4dp average of a 4dp-QUANTIZED double column.

    ``avg(double)`` sums in partition order; when the true mean sits on a
    round4 floor boundary, 8-partition and 32-partition layouts round to
    DIFFERENT 4th decimals (observed: 30.3019 vs 30.302 at local[32] vs
    local[8]). Inputs that are exact multiples of 1e-4 scale to exact
    integers, so summing ``round(v*1e4)`` as longs is associative and the
    single final division is deterministic at ANY parallelism. Callers
    MUST pass a column already rounded with ``round4_expr`` (or integral /
    ≤4dp data); ``exact_avg4_sql`` is the DuckDB twin.
    """
    return round4_expr(
        F.sum(F.round(c.cast("double") * 10000).cast("long"))
        / (F.lit(10000.0) * F.count(c))
    )


def exact_avg4_sql(expr: str) -> str:
    """DuckDB twin of ``exact_avg4_expr`` (same scaling, same association)."""
    return round4_sql(
        f"sum(CAST(round(({expr}) * 10000) AS BIGINT)) / (10000.0 * count({expr}))"
    )


def quantize4(x: float) -> int:
    """Driver-side scalar twin of ``scale4_expr``: HALF_UP away from zero,
    floor(|x|*1e4 + 0.5) with the sign restored. Python's ``round()`` is
    half-EVEN and a bare floor(x*1e4 + 0.5) rounds toward +inf on
    negatives — either shifts a threshold rule by one scaled count at an
    exact .5e-4 tie against the F.round-quantized data (series_alerts
    live-review finding). One definition instead of per-operator copies."""
    import math

    a = int(math.floor(abs(x) * 10000 + 0.5))
    return a if x >= 0 else -a


def exact_sum4_expr(c: Column, dp: int = 4) -> Column:
    """Order-independent 4dp sum of a ``dp``-decimal-QUANTIZED double column.

    ``sum(double)`` accumulates in partition order; when the rounded result
    sits on a round4 floor boundary (or the two gate engines' partition
    layouts differ), the 4th decimal diverges — the class that redlined
    ``fetch_downsample`` at the r07 driver gate despite local ALL-PASS.
    Scaling each value to an exact integer (``round(v * 10^dp)`` as long)
    makes the sum associative — exact at ANY parallelism and identical in
    any engine — with ONE final division. ``dp`` must cover the input's
    true decimal width (4 for prices/discount products, 6 for the
    price*(1-disc)*(1+tax) triple product): at the right scale the scaled
    value is within ~1e-5 of an integer, so Spark's HALF_UP round and
    DuckDB's half-away round agree. Long overflow bound: |v|<=1e5 at dp=6
    leaves ~9e7 rows/group; beyond that switch the callsite to
    ``decimal(38, dp)``. ``exact_sum4_sql`` is the DuckDB twin.
    """
    s = 10**dp
    return round4_expr(
        F.sum(F.round(c.cast("double") * s).cast("long")) / F.lit(float(s))
    )


def exact_sum4_sql(expr: str, dp: int = 4) -> str:
    """DuckDB twin of ``exact_sum4_expr`` (same scaling, same association)."""
    s = 10**dp
    return round4_sql(f"sum(CAST(round(({expr}) * {s}) AS BIGINT)) / {float(s)}")


def scale4_expr(c: Column) -> Column:
    """The scaled-long form of a 4dp-quantized double: round(v*1e4) as
    long — the exact integer every engine computes identically, the
    building block of the exact sum/avg/variance constructions above.
    One definition instead of a per-operator copy of the idiom."""
    return F.round(c.cast("double") * 10000).cast("long")


# The cube's one value grid: every stored total is an exact multiple of
# 10^-CUBE_DP, and every total fold (Track, merge, compact, read) sums
# round(v·10^CUBE_DP) as exact longs — the grid ``scale4_expr`` reads.
CUBE_DP = 4

# Stored cube totals are doubles holding exact dp-multiples; past 2^53 a
# double can no longer represent the scaled integer, so a re-fold would
# silently drift. Every guarded fold asserts the SCALED total stays within
# this bound (the reference's fatomic float64 adds lose precision but never
# change semantics class, block/blockrw.go:74-75 — ours must not wrap).
FOLD_EXACT_BOUND = 1 << 53


def fold_overflow_text(dp: int) -> tuple[str, str]:
    """The fold-overflow error as the text before and after the offending
    |total|: one message for the Spark guard (``guarded_scaled_sum``) and
    the driver-side fold (``kadiyadb_spark.arrow_read``)."""
    return (
        f"scaled-long fold overflow at value_dp={dp}: |total| ",
        f" exceeds 2^53 — the stored double can no longer hold the exact "
        f"{dp}dp multiple; split the group",
    )


def guarded_scaled_sum(c: Column, dp: int) -> Column:
    """Sum a SCALED-LONG column with runtime overflow protection: the
    accumulation runs in decimal(38,0) (10^38 headroom — a hot group can
    never wrap the way sum(long) silently wraps past 2^63), and the final
    total is asserted within ±2^53 before it is handed back as a long for
    the one double division. Past the bound the job FAILS with the dp and
    the offending magnitude instead of storing a drifted total (VERDICT
    r09 item 3). The guard is one comparison on the post-merge aggregate
    value — partial aggregation and AQE shapes are unaffected."""
    total = F.sum(c.cast("decimal(38,0)"))
    bound = F.lit(FOLD_EXACT_BOUND).cast("decimal(38,0)")
    head, tail = fold_overflow_text(dp)
    return (
        F.when(
            F.abs(total) > bound,
            F.raise_error(
                F.concat(F.lit(head), total.cast("string"), F.lit(tail))
            ).cast("decimal(38,0)"),
        )
        .otherwise(total)
        .cast("long")
    )


def centered_var4(n: Column, s1: Column, s2: Column, m: Column, denom: Column) -> Column:
    """Variance of scaled-long values x4 from their exact folds: count
    ``n``, S1 = Σx4, S2 = Σx4² and an in-group integer reference ``m``,
    over the double ``denom`` (n·(n−1) for a sample variance, n² for a
    population one). The moments re-center about ``m`` through the exact
    identities S1d = S1 − n·m and S2d = S2 − 2·m·S1 + n·m², so a flat
    group gives exactly 0 at any magnitude and the one double expression
    (n·S2d − S1d²)/denom is conditioned on the spread, not the level (the
    uncentered n·S2 − S1² cancels catastrophically past 2^53). The
    identities run in decimal(38,0): in long, 2·m·S1 wraps once
    |total| passes ~6e4 over a 12-slot window. Every operand is an exact
    integer, so the result is the same IEEE sequence in any engine."""
    n, s1, s2, m = (c.cast("decimal(38,0)") for c in (n, s1, s2, m))
    s1d = (s1 - n * m).cast("double")
    s2d = (s2 - F.lit(2) * m * s1 + n * m * m).cast("double")
    nd = n.cast("double")
    return (nd * s2d - s1d * s1d) / denom


def exact_fold_expr(c: Column, dp: int = 4) -> Column:
    """Order-independent fold of a ``dp``-decimal-quantized double column
    back to a double that IS the exact dp-multiple: scale each value to its
    exact integer, sum (associative — identical at any parallelism and in
    any engine), divide ONCE. Unlike ``exact_sum4_expr`` there is no
    outer round4: the single long/10^dp division already yields the nearest
    double to the exact total deterministically, so the result can be
    stored (cube ingest) and re-folded later via the same scaling without
    accumulating error. The accumulation is RUNTIME-GUARDED
    (``guarded_scaled_sum``): decimal(38,0) so the sum itself can never
    wrap, and a hard error once the total passes 2^53/10^dp — the point
    past which the stored double would silently stop being exact.
    ``exact_fold_sql`` is the DuckDB twin (DuckDB sums BIGINT into HUGEINT,
    so it never wraps either; in-bound totals collapse back identically).
    """
    s = 10**dp
    return (
        guarded_scaled_sum(F.round(c.cast("double") * s).cast("long"), dp)
        / F.lit(float(s))
    ).cast("double")


def exact_fold_sql(expr: str, dp: int = 4) -> str:
    """DuckDB twin of ``exact_fold_expr``. The inner CAST collapses DuckDB's
    HUGEINT sum-of-BIGINT back to BIGINT before the double division so the
    long->double conversion happens on the same value Spark converts."""
    s = 10**dp
    return f"(CAST(sum(CAST(round(({expr}) * {s}) AS BIGINT)) AS BIGINT) / {float(s)})"

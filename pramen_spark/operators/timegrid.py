"""Time-grid operators: bucketed aggregation with gap filling and
last-observation-carried-forward — the continuous-aggregate /
``time_bucket_gapfill`` pattern of time-series stores, expressed as pure
DataFrame composition.

Scale: the grid is generated PER KEY between that key's own first and
last bucket (``sequence`` over timestamps, JVM-side) — never a global
cross join of all keys x all buckets, so sparse keys cost only their own
span. One shuffle for the bucket aggregation, one for the per-key grid
join/window; both keyed on (key, bucket).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pramen_spark.session import local_frame

_THEIL_SEN_SCHEMA = T.StructType(
    [
        T.StructField("n_points", T.LongType()),
        T.StructField("n_pairs", T.LongType()),
        T.StructField("slope", T.DoubleType()),
        T.StructField("intercept", T.DoubleType()),
    ]
)


def bucket_gapfill(
    df: DataFrame,
    ts_col: str = "ts",
    key_col: str = "user_id",
    value_col: str = "value",
    bucket: str = "hour",
    locf: bool = True,
) -> DataFrame:
    """Aggregate events into fixed time buckets per key and materialize
    the MISSING buckets of each key's active span: every key gets one row
    per ``bucket`` (a ``date_trunc`` unit: 'hour', 'day', ...) between its
    first and last event, with n_events = 0 and total_value = NULL where
    nothing happened, plus ``value_locf`` carrying the last non-null
    total forward when ``locf`` is set.

    Returns (key, bucket_ts, n_events, total_value[, value_locf]).
    Decimal sums keep the double totals order-independent."""
    b = F.date_trunc(bucket, F.col(ts_col))
    actual = (
        df.select(F.col(key_col), b.alias("bucket_ts"), F.col(value_col))
        .groupBy(key_col, "bucket_ts")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col(value_col).cast("decimal(18,6)"))
            .cast("double")
            .alias("total_value"),
        )
    )
    span = actual.groupBy(key_col).agg(
        F.min("bucket_ts").alias("_b0"), F.max("bucket_ts").alias("_b1")
    )
    grid = span.select(
        F.col(key_col),
        F.explode(
            F.expr(f"sequence(_b0, _b1, interval 1 {bucket})")
        ).alias("bucket_ts"),
    )
    filled = grid.join(actual, [key_col, "bucket_ts"], "left").select(
        key_col,
        "bucket_ts",
        F.coalesce(F.col("n_events"), F.lit(0)).cast("long").alias("n_events"),
        "total_value",
    )
    if not locf:
        return filled
    w = (
        Window.partitionBy(key_col)
        .orderBy("bucket_ts")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return filled.withColumn(
        "value_locf", F.last("total_value", ignorenulls=True).over(w)
    )


def trailing_distinct(
    df: DataFrame,
    ts_col: str = "ts",
    key_col: str = "user_id",
    window_days: int = 7,
) -> DataFrame:
    """Trailing-window distinct counting — the rolling 7-day-active-users
    metric. For every day with data: the exact distinct ``key_col``
    count over [day - window_days + 1, day].

    Scale (100 TB of events): the raw log first collapses to DISTINCT
    (day, key) — the only stage that sees event volume, one map-side
    combined aggregation. Each surviving pair then EXPLODES to the
    ``window_days`` target days it serves (a bounded sequence, no
    self-join, no range join) and a second distinct-count keyed by
    target day finishes. Shuffle volume is window_days * |active
    (day, key) pairs|, independent of event count; the calendar
    membership filter is a broadcast semi-join against the day list.
    For month-scale windows swap the explode for per-day HLL sketches
    merged across the window (the incremental_distinct_hll state).
    """
    du = df.select(
        F.to_date(F.col(ts_col)).alias("day"), F.col(key_col).alias("k")
    ).distinct()
    days = du.select("day").distinct()
    spread = du.select(
        F.explode(
            F.sequence(F.lit(0), F.lit(int(window_days) - 1))
        ).alias("off"),
        "day",
        "k",
    ).select(F.date_add(F.col("day"), F.col("off")).alias("day"), "k")
    present = spread.join(F.broadcast(days), "day", "left_semi")
    return present.groupBy("day").agg(
        F.countDistinct("k").cast("long").alias(f"active_{window_days}d")
    )


def weekday_seasonality(
    df: DataFrame,
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Day-of-week seasonality profile: per weekday (0 = Monday), the
    row count, mean value, and the seasonality index mean / global_mean
    — the first decomposition any daily metric gets before alerting
    thresholds are set (trend_slope handles the trend axis, this the
    weekly cycle).

    Scale: one 7-group map-side-combined aggregation; the global mean
    re-aggregates the 7-row table and broadcasts. Weekday is computed
    ISO-style (Monday = 0) to stay engine-portable.
    """
    per = df.groupBy(F.weekday(F.col(ts_col)).cast("long").alias("dow")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col(value_col)).alias("_s"),
    )
    glob = per.agg(
        (F.sum("_s") / F.sum("n")).alias("_gmean")
    )
    mean = F.col("_s") / F.col("n")
    return per.crossJoin(F.broadcast(glob)).select(
        "dow",
        "n",
        F.round(mean, 6).alias("mean_value"),
        F.round(mean / F.col("_gmean"), 6).alias("seasonality_index"),
    )


def ewma_smooth(
    df: DataFrame,
    value_col: str,
    order_col: str,
    decay: float = 0.5,
    taps: int = 7,
    partition_cols: tuple = (),
) -> DataFrame:
    """Truncated exponentially-weighted moving average: the smoothing
    every monitoring dashboard layers over a noisy daily series,
    expressed as a FINITE ``taps``-term weighted sum of LAG columns
    (weights ``decay**k``) instead of the textbook recurrence.

    The recurrence ``s_t = a*x_t + (1-a)*s_{t-1}`` is inherently
    sequential; the equivalent prefix-product trick needs ``decay**-t``
    which overflows past ~1000 rows. Truncating at ``taps`` terms (the
    tail weight beyond 7 taps of 0.5-decay is <1%) turns it into pure
    window LAGs — one exchange, engine-exact when ``decay`` is a binary
    fraction like 0.5. Rows with partial history renormalize by the
    weight actually present, so the series starts unbiased.

    Adds an ``ewma`` column (round 6). With no ``partition_cols`` the
    window is global — callers must pre-aggregate to a bounded grid
    (e.g. one row per day) first, the wow_revenue pattern.

    Scale: one window exchange keyed on ``partition_cols``; weights are
    literals, no joins.
    """
    w = Window.orderBy(order_col)
    if partition_cols:
        w = Window.partitionBy(*partition_cols).orderBy(order_col)
    num = F.col(value_col).cast("double")
    den = F.lit(1.0)
    for k in range(1, taps):
        lagged = F.lag(F.col(value_col).cast("double"), k).over(w)
        num = num + F.coalesce(lagged, F.lit(0.0)) * F.lit(decay ** k)
        den = den + F.when(
            lagged.isNotNull(), F.lit(decay ** k)
        ).otherwise(F.lit(0.0))
    return df.withColumn("ewma", F.round(num / den, 6))


def autocorrelation(
    df: DataFrame,
    value_col: str,
    order_col: str,
    max_lag: int = 7,
) -> DataFrame:
    """Autocorrelation function (ACF) of a series at lags 1..max_lag —
    the "is there a weekly cycle / how fast does the signal forget"
    readout that picks window sizes for every smoother in this module.

    Pearson correlation of the series against its lag-k shift, computed
    from DECIMAL-exact co-moment sums: the lagged pairs stack into one
    long (lag, x, y) table via a single explode, and one aggregation
    produces n / Σx / Σy / Σxy / Σx² / Σy² per lag with products taken
    in double (IEEE-identical everywhere) but SUMMED as decimals, so
    the statistic is engine-exact and never depends on reduce order.
    corr = (n·Σxy − Σx·Σy) / sqrt((n·Σx² − Σx²)(n·Σy² − Σy²)).

    Callers pre-aggregate to a bounded grid (one row per day — the
    ewma_smooth contract) so the unpartitioned LAG window only ever
    sees calendar-bounded rows; the explode multiplies that KB-scale
    table by max_lag, and the final aggregation is max_lag rows.
    """
    w = Window.orderBy(order_col)
    x = F.col(value_col).cast("double")
    # window lags materialize in their own select FIRST: Spark rejects
    # window expressions nested inside a generator's array argument
    lagged = df.select(
        x.alias("x"),
        *[F.lag(x, k).over(w).alias(f"_y{k}") for k in range(1, max_lag + 1)],
    )
    stacked = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(k).cast("int").alias("lag"),
                    F.col("x").alias("x"),
                    F.col(f"_y{k}").alias("y"),
                )
                for k in range(1, max_lag + 1)
            ]
        )
    ).alias("p")
    pairs = (
        lagged.select(stacked)
        .select("p.lag", "p.x", "p.y")
        .where(F.col("y").isNotNull())
    )
    dec = lambda c: c.cast("decimal(38,6)")  # noqa: E731
    agg = pairs.groupBy("lag").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(dec(F.col("x"))).cast("double").alias("_sx"),
        F.sum(dec(F.col("y"))).cast("double").alias("_sy"),
        F.sum(dec(F.col("x") * F.col("y"))).cast("double").alias("_sxy"),
        F.sum(dec(F.col("x") * F.col("x"))).cast("double").alias("_sxx"),
        F.sum(dec(F.col("y") * F.col("y"))).cast("double").alias("_syy"),
    )
    n = F.col("n").cast("double")
    num = n * F.col("_sxy") - F.col("_sx") * F.col("_sy")
    den = F.sqrt(
        (n * F.col("_sxx") - F.col("_sx") * F.col("_sx"))
        * (n * F.col("_syy") - F.col("_sy") * F.col("_sy"))
    )
    # try_divide: a zero-variance series has den = 0; NULL acf on both
    # engines (DuckDB double division by zero is NULL, ANSI Spark throws)
    return agg.select(
        "lag", "n", F.round(F.try_divide(num, den), 6).alias("acf")
    )


#: Session-conf key for the driver-side pair-median gate: at or below
#: this many grid points the O(points²) slope stage runs in numpy on the
#: driver. The grid is calendar-bounded by the operator contract, so the
#: default covers a decade of daily points with ~100 MB of slope buffer;
#: the distributed path above the cap is unchanged.
TIMEGRID_DRIVER_MAX_POINTS_CONF = "spark.pramen.timegrid.driverMaxPoints"
_TIMEGRID_DRIVER_MAX_POINTS_DEFAULT = 5_000


def _qcont_py(sorted_vals, q: float):
    """Scalar replica of operators/sampling._qcont (Spark Percentile's
    symmetric lerp — also DuckDB quantile_cont): same operand order, so
    the float64 result is bit-identical."""
    import math

    n = len(sorted_vals)
    if n == 0:
        return None
    pos = (n - 1) * float(q)
    lo = math.floor(pos)
    hi = float(math.ceil(pos))
    lo_v = float(sorted_vals[int(lo)])
    hi_v = float(sorted_vals[int(math.ceil(pos))])
    if lo == hi:
        return lo_v
    return (hi - pos) * lo_v + (pos - float(lo)) * hi_v


def theil_sen(
    df: DataFrame,
    value_col: str,
    order_col: str,
    driver_max_points: int | None = None,
) -> DataFrame:
    """Theil–Sen robust trend estimator over a bounded series grid: the
    MEDIAN of all pairwise slopes, with the median-of-residuals
    intercept — immune to the outlier days that drag OLS
    (trend_slope_daily's least-squares fit) around, which is exactly
    when a trend readout matters.

    Input is one row per grid point (the ewma_smooth contract: callers
    pre-aggregate, e.g. daily revenue). The pair join is O(days²) —
    bounded by the CALENDAR, never by data volume: ten years of daily
    rows is ~6.7M pairs, a trivial shuffle. Slopes divide IEEE doubles
    (identical everywhere); the interpolated median averages two order
    statistics, also engine-exact.

    Returns one row: (n_points, n_pairs, slope, intercept), round 6.

    Medians use collect_list + array_sort + the percentile()
    interpolation formula rather than ``F.percentile`` itself: exact
    Percentile buffers a per-distinct-value hash map, and millions of
    DISTINCT pairwise slopes are its pathological case (measured 10.6 s
    vs 2.4 s for the sorted-array form at sf0.1's 2.9M pairs — same
    result by construction, the formula is replicated verbatim). The
    buffer is one ~8B/pair array — bounded by the calendar like the
    pair join itself (ten years ≈ 54 MB), never by data volume.
    """

    from pramen_spark.operators.sampling import _qcont

    def _median_cont(arr):
        # percentile(col, 0.5)'s exact interpolation over a sorted array
        # (the shared symmetric-lerp helper — bit-identical to both
        # F.percentile and DuckDB quantile_cont)
        return _qcont(arr, 0.5)

    base = df.select(
        F.unix_date(F.col(order_col)).cast("double").alias("_x"),
        F.col(value_col).cast("double").alias("_y"),
    )
    spark = df.sparkSession
    if driver_max_points is None:
        driver_max_points = int(
            spark.conf.get(
                TIMEGRID_DRIVER_MAX_POINTS_CONF,
                str(_TIMEGRID_DRIVER_MAX_POINTS_DEFAULT),
            )
        )
    # Driver gate: the grid is CALENDAR-bounded by the operator contract
    # (callers pre-aggregate, e.g. one row per day), so collecting it is
    # KB-scale at any corpus size, while the O(points²) pair stage pays
    # per-task scheduling plus a single-buffer collect_list merge in the
    # distributed form. Below the cap, run the pair/median arithmetic in
    # numpy with Spark-identical float64 ops (slopes are the same IEEE
    # divisions; the median lerp is _qcont's formula verbatim; rounding
    # goes back through F.round on the result frame so even the rounding
    # path is Spark's own). Degenerate inputs (no pair with distinct x,
    # or any NULL x — paths whose NULL propagation the distributed plan
    # defines) fall through to the distributed form.
    # limit(cap+1) bounds the collect: cap+1 rows back means the grid is
    # over the cap (distributed path), anything less IS the whole grid
    rows = (
        base.limit(driver_max_points + 1).collect()
        if driver_max_points > 0
        else None
    )
    if rows is not None and 2 <= len(rows) <= driver_max_points and all(
        r["_x"] is not None for r in rows
    ):
        import numpy as np

        xs = np.array([r["_x"] for r in rows], dtype=np.float64)
        ys = np.array(
            [float("nan") if r["_y"] is None else r["_y"] for r in rows],
            dtype=np.float64,
        )
        y_null = np.array([r["_y"] is None for r in rows])
        order = np.argsort(xs, kind="stable")
        xs, ys, y_null = xs[order], ys[order], y_null[order]
        ii, jj = np.triu_indices(len(xs), 1)
        keep = xs[ii] != xs[jj]
        ii, jj = ii[keep], jj[keep]
        n_pairs = int(len(ii))
        if n_pairs >= 1:
            # collect_list drops NULL slopes (pairs touching a NULL y)
            # from the median but count() still counts the pair — mirror
            ok = ~(y_null[ii] | y_null[jj])
            slopes = (ys[jj[ok]] - ys[ii[ok]]) / (xs[jj[ok]] - xs[ii[ok]])
            m = _qcont_py(np.sort(slopes), 0.5)
            if m is not None:
                resid = np.sort(ys[~y_null] - m * xs[~y_null])
                intercept = _qcont_py(resid, 0.5)
                out = local_frame(
                    spark, [(int(len(rows)), n_pairs, float(m), intercept)], _THEIL_SEN_SCHEMA
                )
                return out.select(
                    "n_points",
                    "n_pairs",
                    F.round("slope", 6).alias("slope"),
                    F.round("intercept", 6).alias("intercept"),
                )
    if rows is not None and len(rows) <= driver_max_points:
        # The gate's limit(cap+1).collect() already evaluated the upstream
        # aggregation and got the WHOLE grid back; degenerate fallbacks
        # (NULL x, <2 rows, no distinct-x pair) rebuild the distributed
        # input from those rows instead of re-running the upstream plan
        # (ADVICE r14). Over-cap collects (cap+1 rows) are partial and
        # keep the original plan.
        base = local_frame(spark, rows, base.schema)
    # The pair join is a broadcast-nested-loop whose parallelism equals the
    # STREAMED side's partition count — and the pre-aggregated grid arrives
    # as one tiny (AQE-coalesced) partition, which would serialize the
    # O(days^2) pair generation AND the partial collect_list on one core.
    # The grid is calendar-bounded (<= thousands of rows at ANY data scale),
    # so round-robin spreading it to default parallelism is always a
    # KB-scale shuffle; the build side is pinned broadcast explicitly.
    par = df.sparkSession.sparkContext.defaultParallelism
    a = base.repartition(par).alias("a")
    b = F.broadcast(base.alias("b"))
    slopes = a.join(b, F.col("a._x") < F.col("b._x")).select(
        (
            (F.col("b._y") - F.col("a._y")) / (F.col("b._x") - F.col("a._x"))
        ).alias("_slope")
    )
    med = slopes.agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.array_sort(F.collect_list("_slope")).alias("_sorted"),
    ).select("n_pairs", _median_cont(F.col("_sorted")).alias("_m"))
    resid = base.crossJoin(F.broadcast(med)).select(
        "n_pairs",
        "_m",
        (F.col("_y") - F.col("_m") * F.col("_x")).alias("_r"),
    )
    return resid.groupBy("n_pairs", "_m").agg(
        F.count(F.lit(1)).cast("long").alias("n_points"),
        F.array_sort(F.collect_list("_r")).alias("_rs"),
    ).select(
        "n_points",
        "n_pairs",
        F.round("_m", 6).alias("slope"),
        F.round(_median_cont(F.col("_rs")), 6).alias("intercept"),
    )


def forecast_backtest(
    df: DataFrame,
    value_col: str,
    order_col: str,
    season: int = 7,
) -> DataFrame:
    """Seasonal-naive forecast backtest: score the forecast
    ŷ_t = y_{t−season} (the "same day last week" baseline every real
    forecast must beat) with MAE, RMSE and MAPE over the series. The
    honest evaluation floor for any fancier model — if it can't beat
    this row, ship the LAG.

    Errors are IEEE-double subtractions of grid values; their absolute
    values, squares (as products, never pow) and percentage ratios SUM
    as decimals, so the metrics are reduce-order independent. Callers
    pre-aggregate to a bounded grid (the ewma_smooth contract), so the
    unpartitioned LAG window sees calendar-bounded rows only.

    Returns one row: (n, mae, rmse, mape), rounds 6.
    """
    w = Window.orderBy(order_col)
    v = F.col(value_col).cast("double")
    paired = df.select(
        v.alias("_y"), F.lag(v, season).over(w).alias("_f")
    ).where(F.col("_f").isNotNull())
    e = F.col("_y") - F.col("_f")
    dec = lambda c: c.cast("decimal(38,6)")  # noqa: E731
    agg = paired.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(dec(F.abs(e))).cast("double").alias("_sae"),
        F.sum(dec(e * e)).cast("double").alias("_sse"),
        F.sum(dec(F.abs(e) / F.abs(F.col("_y")))).cast("double").alias("_sap"),
    )
    n = F.col("n").cast("double")
    return agg.select(
        "n",
        F.round(F.col("_sae") / n, 6).alias("mae"),
        F.round(F.sqrt(F.col("_sse") / n), 6).alias("rmse"),
        F.round(F.col("_sap") / n, 6).alias("mape"),
    )


def seasonal_factors(
    df: DataFrame,
    value_col: str,
    order_col: str,
    period: int = 7,
) -> DataFrame:
    """Additive seasonal factors by weekday: detrend the series with a
    CENTERED ``period``-point moving average (only where the full
    window exists — partial edges bias the trend), then average the
    detrended residuals per weekday. The decomposition complement of
    weekday_seasonality (which profiles raw levels; this isolates the
    cycle AFTER removing trend, so a growing series doesn't masquerade
    as seasonality).

    The centered MA is one window over the calendar-bounded grid with
    a decimal sum divided by the exact window count; residual means
    reduce as decimals per weekday.

    Returns (dow, n, factor) with Monday = 0, rounds 6.
    """
    dec = lambda c: c.cast("decimal(38,6)")  # noqa: E731
    half = period // 2
    v = F.col(value_col).cast("double")
    w = Window.orderBy(order_col).rowsBetween(-half, half)
    ma = df.select(
        F.weekday(F.col(order_col)).cast("long").alias("dow"),
        v.alias("_v"),
        (F.sum(dec(v)).over(w).cast("double")
         / F.count(F.lit(1)).over(w).cast("double")).alias("_ma"),
        F.count(F.lit(1)).over(w).alias("_wn"),
    ).where(F.col("_wn") == period)
    detr = ma.select("dow", (F.col("_v") - F.col("_ma")).alias("_r"))
    return detr.groupBy("dow").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.round(
            F.sum(dec(F.col("_r"))).cast("double")
            / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("factor"),
    )

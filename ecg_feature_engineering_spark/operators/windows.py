"""Ordered per-entity window operators: lag/lead diffs, backfill/fill-forward,
sessionization, rolling frames, sliding segmentation, endpoint trims.

Reference analogs (SURVEY.md §2.5): first-difference RR/dRR series
(HRV_features.py:106-107), 3-point rolling median (QRS_features.py:20-27),
sliding segmentation (HRV_features.py:32-58), zero-fill of short series.

All operators are pure Window expressions (whole-stage codegen, one shuffle on
the entity key — and Catalyst reuses a single sort/exchange when several of
these stack on the same (partitionBy, orderBy) spec).

Leakage rule: every frame here ends at ``currentRow`` — never ``following`` —
except the explicitly-named ``bfill`` (which is for *imputation pipelines run
strictly before an as-of cutoff*, documented as such).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, WindowSpec
from pyspark.sql import functions as F

from ecg_feature_engineering_spark.operators.sqltext import ident


def epoch_seconds(df: DataFrame, col: str) -> Column:
    """Numeric seconds for a ts column of any flavor (timestamp,
    timestamp_ntz, or already-numeric) — **independent of the session time
    zone**. TIMESTAMP_NTZ (the parquet default in Spark 4) measures from
    the naive epoch via timestampdiff, so the result is identical on a
    cluster whose session tz isn't UTC (a tz-dependent
    cast-through-timestamp would silently shift absolute values there)."""
    return F.expr(_epoch_seconds_sql(df, col))


def _epoch_seconds_sql(df: DataFrame, col: str) -> str:
    """``epoch_seconds`` as SQL text."""
    if df.schema[col].dataType.simpleString() == "timestamp_ntz":
        return (f"timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 "
                f"00:00:00', {ident(col)}) / 1000000.0D")
    return f"CAST({ident(col)} AS DOUBLE)"


def ntz_epoch_seconds(col: Column | str) -> Column:
    """Session-tz-independent epoch seconds for a TIMESTAMP_NTZ column or
    expression (naive-epoch microsecond diff)."""
    c = F.col(col) if isinstance(col, str) else col
    zero = F.expr("TIMESTAMP_NTZ '1970-01-01 00:00:00'")
    return F.timestamp_diff("MICROSECOND", zero, c) / F.lit(1e6)


def entity_window(by="entity_id", order="ts") -> WindowSpec:
    by = [by] if isinstance(by, str) else list(by)
    order = [order] if isinstance(order, str) else list(order)
    return Window.partitionBy(*by).orderBy(*order)


_RUNNING = " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"


def _over(by="entity_id", order="ts", frame: str = "") -> str:
    """``entity_window(by, order)``, plus an optional frame clause, as the
    text of an OVER clause. A window column spelled as one ``F.expr`` or
    ``selectExpr`` text is one py4j call; the same column chained through
    ``F.*``/``Window`` calls is one per link (operators/sqltext.py)."""
    by = [by] if isinstance(by, str) else list(by)
    order = [order] if isinstance(order, str) else list(order)
    return (f"OVER (PARTITION BY {', '.join(map(ident, by))} "
            f"ORDER BY {', '.join(map(ident, order))}{frame})")


def with_lag_diff(
    df: DataFrame, value: str = "value", by="entity_id", order="ts",
    n: int = 1, out: str | None = None,
) -> DataFrame:
    """x - lag(x, n) per entity — the RR = diff(rpeaks) core (W1)."""
    v = ident(value)
    return df.withColumn(out or f"{value}_diff{n}", F.expr(
        f"{v} - lag({v}, {int(n)}) {_over(by, order)}"))


def with_lead_diff(df, value="value", by="entity_id", order="ts", n=1,
                   out=None) -> DataFrame:
    w = entity_window(by, order)
    return df.withColumn(out or f"{value}_lead_diff{n}",
                         F.lead(value, n).over(w) - F.col(value))


def ffill(df: DataFrame, cols: list[str], by="entity_id", order="ts") -> DataFrame:
    """Fill-forward: last non-null at or before the current row (north rule's
    backfill-fill-forward requirement; frame never reads the future)."""
    w = entity_window(by, order).rowsBetween(Window.unboundedPreceding,
                                             Window.currentRow)
    return df.select(
        *[c for c in df.columns if c not in cols],
        *[F.last(c, ignorenulls=True).over(w).alias(c) for c in cols],
    )


def bfill(df: DataFrame, cols: list[str], by="entity_id", order="ts") -> DataFrame:
    """Backward fill (reads following rows — imputation-only, see module doc)."""
    w = entity_window(by, order).rowsBetween(Window.currentRow,
                                             Window.unboundedFollowing)
    return df.select(
        *[c for c in df.columns if c not in cols],
        *[F.first(c, ignorenulls=True).over(w).alias(c) for c in cols],
    )


def sessionize(
    df: DataFrame, gap_seconds: float, by="entity_id", order="ts",
    out: str = "session_id",
) -> DataFrame:
    """Gap-based session ids: new session when ts - lag(ts) > gap.

    Session ids are 0-based per entity. Pure cumulative-sum window — the batch
    twin of Structured Streaming's ``session_window`` (streaming/sessions.py).
    Reference analog: segmenting a record's beat stream into gap-free windows
    (SURVEY.md §2.5 sessionization).
    """
    ts_col = order[0] if isinstance(order, (list, tuple)) else order
    sec = _epoch_seconds_sql(df, ts_col)
    flag = (f"CASE WHEN {sec} - lag({sec}) {_over(by, order)} > "
            f"{float(gap_seconds)!r}D THEN 1 ELSE 0 END")
    return df.withColumn(out, F.expr(
        f"CAST(sum({flag}) {_over(by, order, _RUNNING)} AS BIGINT)"))


def rolling(
    df: DataFrame, value: str, aggs: dict[str, str],
    by="entity_id", order="ts", rows: int = 10,
) -> DataFrame:
    """Trailing rolling-window aggregates over the last ``rows`` rows
    (inclusive of current; frame ends at currentRow — leak-free).

    ``aggs`` maps output name -> a SQL aggregate function name ("avg",
    "min", "max", "sum", "stddev_pop", "count") applied to ``value``.
    """
    start = "CURRENT ROW" if rows == 1 else f"{int(rows) - 1} PRECEDING"
    w = _over(by, order, f" ROWS BETWEEN {start} AND CURRENT ROW")
    return df.selectExpr("*", *[f"{a}({ident(value)}) {w} AS {ident(name)}"
                                for name, a in aggs.items()])


def rolling_median3(df: DataFrame, value: str, by="entity_id", order="ts",
                    out: str | None = None) -> DataFrame:
    """Centered 3-point rolling median (QRS_features.py:20-27 preprocessing for
    the PointMedian stats, A3). Endpoints use the available 2-point frame
    (median of 2 = their mean) — matching numpy-median-over-slice semantics.

    Spark disallows ``median`` with a window frame, so the 3-point median is
    closed-form: med3(a,b,c) = greatest(least(a,b), least(greatest(a,b), c))
    — pure codegen-able expressions, no kernel.

    NULL contract (numpy parity): a null VALUE inside the frame makes the
    result null (np.median with NaN is NaN). Frame boundaries are detected
    by row position, not lag-null, so a null value is never mistaken for
    an entity edge (greatest/least silently SKIP nulls, which would
    otherwise return a neighbor instead)."""
    w = entity_window(by, order)
    by_l = [by] if isinstance(by, str) else list(by)
    full = Window.partitionBy(*by_l)
    rn = F.row_number().over(w)
    n = F.count(F.lit(1)).over(full)
    a, b, c = F.lag(value).over(w), F.col(value), F.lead(value).over(w)
    med3 = F.when(a.isNull() | b.isNull() | c.isNull(),
                  F.lit(None)).otherwise(
        F.greatest(F.least(a, b), F.least(F.greatest(a, b), c)))
    expr = (
        F.when((rn == 1) & (rn == n), b)
        .when(rn == 1, (b + c) / 2)
        .when(rn == n, (a + b) / 2)
        .otherwise(med3)
    )
    return df.withColumn(out or f"{value}_med3", expr)


def trim_endpoints(df: DataFrame, by="entity_id", order="ts",
                   n_head: int = 1, n_tail: int = 1) -> DataFrame:
    """Drop the first/last n rows per entity — the reference's ``ts[1:-1]``
    interval trim (QRS_features.py:375,471,440; SURVEY.md P5)."""
    w = entity_window(by, order)
    cnt = Window.partitionBy(*( [by] if isinstance(by, str) else by ))
    return (
        df.withColumn("__rn", F.row_number().over(w))
          .withColumn("__n", F.count(F.lit(1)).over(cnt))
          .where((F.col("__rn") > n_head) & (F.col("__rn") <= F.col("__n") - n_tail))
          .drop("__rn", "__n")
    )


def _duration(seconds: float, what: str) -> str:
    """Sub-second-capable duration string for F.window — int() truncation
    would silently turn 90.9 s into 90 s and 0.5 s into an invalid
    '0 seconds'."""
    ms = round(seconds * 1000)
    if ms <= 0:
        raise ValueError(f"{what} must be positive, got {seconds}")
    return f"{int(ms)} milliseconds"


def tumbling_time_aggs(df: DataFrame, length_seconds: float,
                       value: str = "value", by="entity_id",
                       order: str = "ts") -> DataFrame:
    """W5 time-based — fixed tumbling windows via ``F.window`` (the batch
    twin of the streaming groupBy(window(...)); window start/end exposed as
    epoch seconds for engine-portable output)."""
    by = [by] if isinstance(by, str) else list(by)
    # window() accepts TIMESTAMP_NTZ directly and aligns in naive time —
    # session-tz-independent (verified under a non-UTC session)
    win = F.window(F.col(order), _duration(length_seconds, "length"))
    return (
        df.groupBy(*by, win.alias("__w"))
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.sum(value).alias("sum_value"),
             F.avg(value).alias("avg_value"))
        .select(*by,
                ntz_epoch_seconds(F.col("__w.start"))
                .alias("window_start_s"),
                "n_events", "sum_value", "avg_value")
    )


def ohlc_time_bars(df: DataFrame, bar_seconds: int, value: str = "value",
                   by="entity_id", order: str = "ts",
                   tiebreak: str = "event_id",
                   sum_scale: int | None = 100) -> DataFrame:
    """Time-bar downsampling (the OHLC resample): per (entity, bar) the
    first / max / min / last observation plus count and exact-cents sum —
    the feature-eng complement of ``tumbling_time_aggs`` (count/sum/avg
    only): open/close are ORDER STATISTICS, new semantics vs plain aggs.

    Parity-exact by construction: bar alignment is integer microsecond
    floordiv (``DIV`` — double division of a ~2^60 epoch_us would round
    at exact bar boundaries); open/close are picked by min_by/max_by on
    the (ts, tiebreak) row_number — no arithmetic on values at all; the
    sum goes through an integer grid. ``sum_scale`` is the GRID
    CONTRACT: 100 fits the testdata's cents values; pass the quantity's
    true decimal scale, or None for a plain float sum when the values
    are not on a decimal grid (round(x*scale) is only exact ON the
    grid — CLAUDE.md). NULL values are excluded up front: bars
    summarize PRESENT observations (an all-NULL bar vanishes), which
    keeps the min_by ordering total. Positive-epoch precondition: Spark
    ``DIV`` truncates toward zero while DuckDB ``//`` floors —
    identical for the testdata's post-1970 domain.

    One shuffle on (by, bar): the row_number window and the aggregate
    share the partitioning; Catalyst reuses the exchange."""
    by = [by] if isinstance(by, str) else list(by)
    # epoch micros by timestamp flavor, session-tz-independent for BOTH:
    # NTZ measures from the naive epoch (the ntz_epoch_seconds contract);
    # LTZ is an absolute instant — unix_micros reads it directly
    if df.schema[order].dataType.simpleString() == "timestamp_ntz":
        zero = F.expr("TIMESTAMP_NTZ '1970-01-01 00:00:00'")
        us = F.timestamp_diff("MICROSECOND", zero, F.col(order))
    else:
        us = F.unix_micros(F.col(order))
    bar_us = int(bar_seconds) * 1_000_000
    sum_col = (
        (F.sum("__qv") / F.lit(float(sum_scale))).alias("sum_value")
        if sum_scale is not None
        else F.sum(value).alias("sum_value"))
    v = (df.where(F.col(value).isNotNull())
           .withColumn("__us", us)
           # true integer DIV — `/` on longs detours through double,
           # and a ~2^60 numerator rounds before dividing (boundary
           # events could land in the neighboring bar)
           .withColumn("__bar",
                       F.expr(f"(__us DIV {bar_us}) * {int(bar_seconds)}")))
    if sum_scale is not None:
        v = v.withColumn(
            "__qv", F.round(F.col(value) * sum_scale).cast("long"))
    rn = F.row_number().over(
        Window.partitionBy(*by, "__bar").orderBy(order, tiebreak))
    v = v.withColumn("__rn", rn)
    return (v.groupBy(*by, F.col("__bar").alias("bar_start_s"))
             .agg(F.min_by(value, "__rn").alias("open_value"),
                  F.max(value).alias("high_value"),
                  F.min(value).alias("low_value"),
                  F.max_by(value, "__rn").alias("close_value"),
                  F.count(F.lit(1)).alias("n_events"),
                  sum_col))


def sliding_time_aggs(df: DataFrame, length_seconds: float,
                      slide_seconds: float, value: str = "value",
                      by="entity_id", order: str = "ts") -> DataFrame:
    """W5 time-based — overlapping sliding windows via ``F.window(ts, len,
    slide)`` (HRV_features.py:32-58 SegSig_1d semantics on the time axis).
    Rows fan out to length/slide windows — explicit, bounded cost."""
    by = [by] if isinstance(by, str) else list(by)
    win = F.window(F.col(order),
                   _duration(length_seconds, "length"),
                   _duration(slide_seconds, "slide"))
    return (
        df.groupBy(*by, win.alias("__w"))
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.avg(value).alias("avg_value"))
        .select(*by,
                ntz_epoch_seconds(F.col("__w.start"))
                .alias("window_start_s"),
                "n_events", "avg_value")
    )


def sliding_segments(
    df: DataFrame, seg_rows: int, stride_rows: int,
    by="entity_id", order="ts", out: str = "segment_id",
) -> DataFrame:
    """Assign each row to every overlapping fixed-length row segment
    (reference W5: SegSig_1d / Stack_Segs_generate, HRV_features.py:32-58 —
    WINDOW=18000 OVERLAP=0.5 slicing in preprocess-300hz.py:341-358).

    Row i belongs to segments s with s*stride <= i < s*stride + seg_rows —
    emitted via explode(sequence(...)), so downstream groupBy(entity, segment)
    aggregates see each overlapping window. Output rows multiply by
    ~seg_rows/stride_rows (documented fan-out, not a hidden blowup).
    """
    w = entity_window(by, order)
    # materialize the row index first: a generator (explode) can't contain a
    # window expression in the same projection
    staged = df.withColumn("__i", F.row_number().over(w) - 1)
    i = F.col("__i")
    lo = F.greatest(F.lit(0).cast("long"),
                    F.floor((i - seg_rows + stride_rows) / stride_rows))
    hi = F.floor(i / stride_rows)
    return (
        staged.withColumn(out, F.explode(F.sequence(lo.cast("long"),
                                                    hi.cast("long"))))
        .drop("__i")
    )


def time_features(df: DataFrame, ts_col: str = "ts") -> DataFrame:
    """Calendar features for training data (hour-of-day, day-of-week,
    weekend flag) computed with PURE INTEGER EPOCH ARITHMETIC — never
    from_unixtime/hour()/dayofweek(), which read the session time zone
    and would silently shift every feature on a non-UTC cluster (the
    same hazard class ntz_epoch_seconds guards; a tz-dependent calendar
    feature also breaks cross-engine parity). dow_iso: 1=Mon..7=Sun
    (1970-01-01 was a Thursday, hence the +3).

    Year/month/day go through DATE arithmetic (epoch day added to the
    epoch DATE literal): DATE carries no time zone in either engine, so
    year()/month()/day() on it are tz-free — unlike the same functions
    on a TIMESTAMP. Cast to long: Spark's date parts are int32, DuckDB's
    are BIGINT, and the driver's Arrow schema gate sees that."""
    import datetime as _dt

    secs = F.floor(epoch_seconds(df, ts_col)).cast("long")
    days = F.floor(secs / F.lit(86400.0)).cast("long")
    d = F.date_add(F.lit(_dt.date(1970, 1, 1)), days.cast("int"))
    return df.withColumns({
        "epoch_day": days,
        "year": F.year(d).cast("long"),
        "month": F.month(d).cast("long"),
        "day_of_month": F.dayofmonth(d).cast("long"),
        "hour_of_day": F.pmod(F.floor(secs / F.lit(3600.0)).cast("long"),
                              F.lit(24)),
        "minute_of_hour": F.pmod(F.floor(secs / F.lit(60.0)).cast("long"),
                                 F.lit(60)),
        "dow_iso": F.pmod(days + 3, F.lit(7)) + 1,
        "is_weekend": F.pmod(days + 3, F.lit(7)) + 1 >= 6,
    })


def ewma(df: DataFrame, value: str, by="user_id", order=("ts", "event_id"),
         alpha: float = 0.5, window: int = 8,
         out: str = "ewma") -> DataFrame:
    """Truncated exponential moving average — the leakage-safe smoothing
    feature (frame ends at currentRow): ewma_t = Σ_j w_j·x_{t-j} / Σ_j w_j
    over the last ``window`` observations, w_j = alpha·(1-alpha)^j, with
    the denominator summing only the weights of NON-NULL lags (heads and
    null-holed series renormalize instead of biasing toward 0).

    Exactness contract: alpha must sit on the binary grid (k/4096) so
    every weight is an exact double, and both numerator and denominator
    are written as one fixed-order chain of +'s — an oracle writing the
    same chain reproduces the sum bit-for-bit. The infinite-tail EWMA
    recurrence needs O(n) sequential state per entity (an Arrow kernel
    job); the truncated form stays a pure Window expression, and with
    alpha=0.5 the dropped tail weight is 2^-window (~0.4% at 8)."""
    if alpha * 4096 != int(alpha * 4096):
        raise ValueError(f"alpha {alpha} is not binary-exact")
    if not 0 < alpha < 1:
        raise ValueError("alpha must be in (0, 1)")
    order = [order] if isinstance(order, str) else list(order)
    w = entity_window(by, order)
    weights = [alpha * (1 - alpha) ** j for j in range(window)]
    # All lags land in ONE withColumns -> one Window node -> one
    # exchange+sort. Referencing .over(w) terms from inside the num/den
    # arithmetic instead makes ExtractWindowExpressions split them into
    # TWO Window nodes, each paying its own Exchange+Sort (audited).
    step = df.withColumns({
        f"__l{j}": F.lag(F.col(value), j).over(w) for j in range(window)})
    # EVERY term is coalesced before entering the chain — a single NULL
    # lag (including the current row's own value) would otherwise poison
    # the whole left-to-right sum (NULL + x = NULL)
    num = None
    den = None
    for j, wt in enumerate(weights):
        term = F.col(f"__l{j}")
        contrib = F.coalesce(
            F.when(term.isNotNull(), term * F.lit(wt)), F.lit(0.0))
        mass = F.coalesce(
            F.when(term.isNotNull(), F.lit(wt)), F.lit(0.0))
        num = contrib if num is None else num + contrib
        den = mass if den is None else den + mass
    return (step.withColumn(out, F.when(den > 0, num / den))
                .drop(*[f"__l{j}" for j in range(window)]))


def rank_transform(df: DataFrame, value: str, by="user_id",
                   tiebreak: str = "event_id") -> DataFrame:
    """Rank-transform features (the classic model-input normalization
    that is outlier-immune): within-group cumulative distribution
    (cume_dist), percent_rank, and a deterministic dense ordinal.
    cume_dist/percent_rank are exact int-ratio doubles — cross-engine
    parity-safe on ANY value distribution, ties included.

    NULL ordering is pinned NULLS FIRST explicitly: Spark's ascending
    default is nulls-first but DuckDB's is nulls-LAST, so an unpinned
    ORDER BY silently ranks the two engines differently on null-holed
    data."""
    v = F.col(value).asc_nulls_first()
    w_val = Window.partitionBy(by).orderBy(v)
    w_det = Window.partitionBy(by).orderBy(v, F.col(tiebreak))
    return df.withColumns({
        f"{value}_cume": F.cume_dist().over(w_val),
        f"{value}_pct_rank": F.percent_rank().over(w_val),
        f"{value}_rank": F.row_number().over(w_det).cast("long"),
    })


def target_encode_pit(df: DataFrame, cat: str, target: str,
                      order=("ts", "event_id"), quantize: float = 100.0,
                      out: str = "target_enc") -> DataFrame:
    """Point-in-time target encoding: for each row, the mean of
    ``target`` over all STRICTLY EARLIER rows of the same category —
    the frame ends at ``-1 PRECEDING``, so the row's own target can
    never leak into its feature (the classic target-encoding leak,
    eliminated structurally rather than by discipline). Cold-start rows
    (first of their category) get NULL, which is the honest answer.

    Cross-engine exactness: the target is quantized to an integer grid
    before the window sum (a windowed FLOAT sum's accumulation order is
    an engine detail — DuckDB segment-trees it, Spark runs it
    forward), and the final quotient of exact-in-double integers is
    emitted UNROUNDED (bit-identical; rounding would land on the
    quotient's own decimal grid)."""
    order = [order] if isinstance(order, str) else list(order)
    w = (entity_window(cat, order)
         .rowsBetween(Window.unboundedPreceding, -1))
    q = F.round(F.col(target) * quantize).cast("long")
    n_prev = F.count(q).over(w)
    s_prev = F.sum(q).over(w)
    return df.withColumn(
        out, F.when(n_prev > 0,
                    s_prev / (n_prev * F.lit(quantize))))


def expanding_zscore(df: DataFrame, value: str, by="user_id",
                     order=("ts", "event_id"), quantize: float = 100.0,
                     out: str = "zscore_pit") -> DataFrame:
    """Leakage-safe expanding z-score: standardize each value against
    the statistics of its OWN history (rows up to and including the
    current one, never later) — the point-in-time twin of the batch
    StandardScaler, for features that must be computable at event time.

    Integer power sums inside the window (exact under any accumulation
    order), population variance via n·Σx² − (Σx)² on int64 — the same
    exactness discipline as the A-family power-sum stats. Domain
    precondition: |quantized value| · n ≤ ~3.0e9 — the binding term is
    (Σx)² ≤ n²·q² ≤ int64max (NO √n slack: a constant series maximizes
    both n·Σx² and (Σx)² at exactly n²q²), i.e. |value| ≤ 3.0e7/n at
    the default cents grid — consistent with CLAUDE.md's engine-wide
    power-sum rule. NULL values carry no mass and receive NULL scores."""
    order = [order] if isinstance(order, str) else list(order)
    w = (entity_window(by, order)
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    q = F.round(F.col(value) * quantize).cast("long")
    n = F.count(q).over(w)
    s1 = F.sum(q).over(w)
    s2 = F.sum(q * q).over(w)
    var_num = n * s2 - s1 * s1           # = n^2 * population variance
    mean = s1 / (n * F.lit(1.0))
    std = F.sqrt(var_num / (n * n * F.lit(1.0)))
    z = F.when(q.isNotNull() & (var_num > 0),
               (q - mean) / std)
    return df.withColumn(out, z)

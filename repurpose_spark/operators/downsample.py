"""Series downsampling & per-window analytics: OHLC, rolling z-score,
EWMA, LTTB, autocorrelation, M4, two-window mean-shift changepoints.

The rollup family (operators/rollup.py) covers the commutative folds
(sum/count/min/max → tier partials).  This module adds the classic
downsample/analytics shapes that need ORDER within the bucket or series
(reference analog: the per-cell time-sorted series repurpose hands to
user resample functions, src/repurpose/img2ts.py:652-668 — order-aware
per-series reductions are exactly what its ``resample`` hook computes):

* ``ohlc`` — candlestick downsample (open/high/low/close + count/sum
  per bucket).  Despite being order-aware it IS an associative fold:
  open/close are ``min/max(struct(ts, seq, v))`` — partial aggregates
  merge map-side like any min/max, so the plan is the same
  partial+final HashAggregate as a plain rollup (one exchange, no
  sort, no window).
* ``rolling_zscore`` — anomaly score per point: (x − μ)/σ over the
  PRECEDING ``n`` samples of the series (strictly before the current
  row, so the score is causal/online).  One hash exchange on the
  series keys + one in-partition sort; avg/stddev/z ride a single
  window frame.
* ``ewma`` — exponentially weighted moving average (the classic
  monitoring smoother): y_0 = x_0, y_t = α·x_t + (1−α)·y_{t−1}.
  Sequential by definition (each output depends on the previous), so
  it runs per-series in one Arrow batch via ``applyInPandas`` with a
  block-rescaled vectorized recursion — no per-row Python (see
  ``_ewma_block``).  Series are BOUNDED here by design: smooth the
  rollup tier (e.g. hourly means — ~720 points/month regardless of
  raw volume), never raw points, so one series always fits one batch.
* ``lttb`` — Largest-Triangle-Three-Buckets (Steinarsson 2013), THE
  standard visual downsample: pick from each of ``n_out−2`` interior
  buckets the point forming the largest triangle with the previously
  selected point and the next bucket's centroid.  Sequential over
  buckets (the previous pick feeds the next triangle) but vectorized
  WITHIN each bucket; like ewma it runs over tier series, so the
  Python loop is O(n_out) per series, not O(points).

Scale notes: ohlc is a rollup — raw points shuffle once as partials.
zscore/ewma/lttb consume a TIER table (1000× smaller than raw by
construction, PLANS.md partition math), shuffled once on the series
keys; each series is one Arrow batch (ewma/lttb) or one sorted window
partition (zscore).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from repurpose_spark.plans.materialize import materialize


def ohlc(
    df: DataFrame,
    key_cols: list,
    ts_col: str = "ts",
    value_col: str = "v",
    seq_col: str | None = None,
    unit: str = "hour",
) -> DataFrame:
    """Candlestick downsample per (keys, date_trunc(unit)).

    open/close take the value of the bucket's first/last sample; ties
    on the timestamp break on ``seq_col`` (then on the value itself) so
    the result is deterministic under any partitioning.  Single
    associative aggregate: min/max of struct(ts, seq, v) — partial
    merges are exact, so map-side combine bounds the shuffle by the
    bucket count, not the sample count."""
    key_cols = list(key_cols)
    tie = [F.col(seq_col)] if seq_col else []
    edge = F.struct(F.col(ts_col), *tie, F.col(value_col).alias("_v"))
    return df.groupBy(
        *key_cols, F.date_trunc(unit, F.col(ts_col)).alias("tick")
    ).agg(
        F.min(edge)["_v"].alias("open"),
        F.max(F.col(value_col)).alias("high"),
        F.min(F.col(value_col)).alias("low"),
        F.max(edge)["_v"].alias("close"),
        F.count(F.col(value_col)).alias("n_points"),
        F.sum(F.col(value_col)).alias("sum_v"),
    )


def rolling_zscore(
    df: DataFrame,
    key_cols: list,
    ts_col: str = "ts",
    value_col: str = "v",
    seq_col: str | None = None,
    n: int = 50,
    min_points: int = 10,
    exact: bool = False,
) -> DataFrame:
    """Causal anomaly score: z_t = (x_t − μ)/σ with μ, σ (population)
    over the ``n`` samples strictly BEFORE t in the series.  Rows with
    fewer than ``min_points`` predecessors, or a zero σ (constant
    window), score NULL rather than ±inf.  One exchange on the keys;
    the frame, the guard, and the score share its sort.

    ``exact=True`` (integer ``value_col`` required) emits the SIGNED
    SQUARED score ``z2 = sign(c·x−S)·(c·x−S)²/(c·Q−S²)`` from the
    window's exact integer moments (c = count, S = Σx, Q = Σx²) — the
    algebraic identity z² = (x−μ)²/σ² with μ = S/c, σ² = (cQ−S²)/c²,
    cross-checked against the float path in pytest (a mirrored oracle
    alone certifies parity, not correctness): every
    operand is an exact int64/double-representable integer and the
    single IEEE division is correctly rounded, so the double output is
    bit-identical across engines and partition layouts — the same
    trick rates.py uses for the TWA integral.  Precondition:
    c²·max(x)² must fit int64 (n ≤ 100 with |x| ≤ 3·10⁵ is safe —
    tier counts and cent-scale tier values qualify); past that the
    engine would wrap where DuckDB promotes to int128, which the
    certification would catch, not mask.  (The float path's
    ``stddev_pop`` is a per-engine accumulation order + sqrt — fine
    for monitoring, not byte-certifiable.)  Monotone in |z|, preserves
    sign: thresholding at z² > t² ≡ |z| > t."""
    key_cols = list(key_cols)
    order = [ts_col] + ([seq_col] if seq_col else [])
    w = (
        Window.partitionBy(*key_cols)
        .orderBy(*order)
        .rowsBetween(-n, -1)
    )
    cnt = F.count(value_col).over(w)
    if exact:
        x = F.col(value_col).cast("long")
        s = F.sum(x).over(w)
        q = F.sum(x * x).over(w)
        num = cnt * x - s                      # exact int64
        den = cnt * q - s * s                  # exact int64 (= c²·σ²)
        z2 = F.when(
            (cnt >= min_points) & (den > 0),
            F.signum(num.cast("double"))
            * (num * num).cast("double") / den.cast("double"),
        )
        return df.select(
            *key_cols, F.col(ts_col), F.col(value_col), z2.alias("z2")
        )
    mu = F.avg(value_col).over(w)
    sd = F.stddev_pop(value_col).over(w)
    z = F.when(
        (cnt >= min_points) & (sd > 0), (F.col(value_col) - mu) / sd
    )
    return df.select(
        *key_cols,
        F.col(ts_col),
        F.col(value_col),
        z.alias("zscore"),
    )


def _ewma_block(x: np.ndarray, alpha: float, block: int = 256) -> np.ndarray:
    """Vectorized EWMA recursion, block-rescaled.

    Within a block starting from carry c: y_j = (1−α)^(j+1)·c +
    α·Σ_{i≤j} (1−α)^(j−i)·x_i, computed as a scaled cumsum
    (u_i = x_i·(1−α)^(−i); y = α·(1−α)^j·cumsum(u) + decay·c).  The
    rescale factor (1−α)^(−i) is bounded by the BLOCK length, never the
    series length, so it cannot overflow for any series (the naive
    whole-series scaled cumsum overflows a double past ~log(1.8e308)/
    log(1/(1−α)) points).  Float error vs the scalar recursion is
    ~machine epsilon per block (values are re-anchored on the carry at
    every block edge); consumers round to 6 dp."""
    n = len(x)
    out = np.empty(n, dtype=np.float64)
    if n == 0:
        return out
    q = 1.0 - alpha
    carry = float(x[0])  # y_0 = x_0 seeds the recursion
    out[0] = carry
    s = 1
    while s < n:
        b = min(block, n - s)
        xb = x[s : s + b]
        j = np.arange(b, dtype=np.float64)
        # y_{s+j} = q^(j+1)·carry + α·Σ_{i≤j} q^(j−i)·xb[i]
        scaled = np.cumsum(xb * q ** (-j))
        yb = alpha * (q**j) * scaled + (q ** (j + 1.0)) * carry
        out[s : s + b] = yb
        carry = float(yb[-1])
        s += b
    return out


def ewma(
    df: DataFrame,
    key_cols: list,
    ts_col: str = "tick",
    value_col: str = "v",
    alpha: float = 0.3,
) -> DataFrame:
    """Per-series EWMA (y_0 = x_0; y_t = α·x_t + (1−α)·y_{t−1}) via one
    grouped Arrow batch per series.  Input should be a TIER table
    (bounded series length); the grouped map sorts its batch on the
    timestamp so upstream ordering is irrelevant."""
    key_cols = list(key_cols)
    schema_fields = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}"
        for f in df.select(*key_cols, ts_col, value_col).schema.fields
    )
    schema = schema_fields + ", ewma double"

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(ts_col, kind="mergesort").reset_index(drop=True)
        pdf["ewma"] = _ewma_block(
            pdf[value_col].to_numpy(dtype=np.float64), alpha
        )
        return pdf[key_cols + [ts_col, value_col, "ewma"]]

    return df.select(*key_cols, ts_col, value_col).groupBy(*key_cols).applyInPandas(
        fn, schema=schema
    )


def _lttb_series(
    x: np.ndarray, y: np.ndarray, n_out: int
) -> np.ndarray:
    """LTTB pick indices for one series (x ascending).  Buckets split
    the interior points evenly (first and last always kept).  Areas are
    cross-products of int-valued doubles, so with integer-quantized
    inputs the argmax is exact; ties break on the LOWEST index
    (np.argmax's first-hit rule)."""
    n = len(x)
    if n_out >= n or n_out < 3:
        return np.arange(n)
    picks = np.empty(n_out, dtype=np.int64)
    picks[0] = 0
    picks[-1] = n - 1
    # interior bucket b covers edges[b] .. edges[b+1]-1.  Edge rule:
    # round-half-up of linspace(1, n-1, n_out-1) in PURE INTEGER
    # arithmetic — edges[k] = 1 + ⌊(k·(n−2) + (m−1)/2) / (m−1)⌋ with
    # m = n_out−1 — so the bucketing is exactly reproducible in SQL
    # (np.rint's float linspace + half-to-even is not: the half cases
    # and the linspace accumulation are float-implementation-defined).
    m = n_out - 1
    k = np.arange(m, dtype=np.int64)
    edges = 1 + (2 * k * (n - 2) + (m - 1)) // (2 * (m - 1))
    a = 0
    for b in range(n_out - 2):
        lo, hi = edges[b], edges[b + 1]
        if b + 1 < n_out - 2:
            nlo, nhi = edges[b + 1], edges[b + 2]
            cx, cy = x[nlo:nhi].mean(), y[nlo:nhi].mean()
        else:
            cx, cy = x[n - 1], y[n - 1]
        ax, ay = x[a], y[a]
        area = np.abs(
            (ax - cx) * (y[lo:hi] - ay) - (ax - x[lo:hi]) * (cy - ay)
        )
        a = lo + int(np.argmax(area))
        picks[b + 1] = a
    return picks


def lttb(
    df: DataFrame,
    key_cols: list,
    ts_col: str = "tick",
    value_col: str = "v",
    n_out: int = 48,
) -> DataFrame:
    """Largest-Triangle-Three-Buckets visual downsample to ``n_out``
    points per series (first/last kept; interior buckets contribute
    their max-triangle point).  One grouped Arrow batch per series —
    run it on a tier table, where series are bounded.  For exactness
    under certification, quantize the value to an integer grid first
    (cents): areas are then exact in double and the per-bucket argmax
    is deterministic (ties → lowest timestamp)."""
    key_cols = list(key_cols)
    sel = df.select(*key_cols, ts_col, value_col)
    schema_fields = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}" for f in sel.schema.fields
    )

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(ts_col, kind="mergesort").reset_index(drop=True)
        xs = pdf[ts_col]
        if np.issubdtype(xs.dtype, np.datetime64):
            # epoch MILLISECONDS as exact float64 integers (|ms| < 2^53
            # for any realistic date): converting at ns resolution
            # first would round — int64 ns exceed 2^53 — and that
            # sub-ulp noise can flip an argmax that exact arithmetic
            # ties, breaking certification against an exact oracle
            x = (
                xs.astype("datetime64[ms]")
                .astype("int64")
                .to_numpy(dtype=np.float64)
            )
        else:
            x = xs.to_numpy(dtype=np.float64)
        y = pdf[value_col].to_numpy(dtype=np.float64)
        idx = _lttb_series(x, y, n_out)
        return pdf.iloc[idx][key_cols + [ts_col, value_col]]

    return sel.groupBy(*key_cols).applyInPandas(fn, schema=schema_fields)


def autocorr(
    df: DataFrame,
    key_cols: list,
    ts_col: str = "ts",
    value_col: str = "v",
    lags: tuple = (1, 2, 3),
) -> DataFrame:
    """Per-series autocorrelation at integer ``lags`` — the seasonality
    diagnostic (a daily cycle in an hourly series shows as a peak at
    lag 24).  Reference analog: the per-cell time-sorted series handed
    to resample hooks (img2ts.py:652-668) — ACF is the classic such
    per-series reduction.

    Input must be a REGULAR grid (e.g. the gap-filled hourly tier):
    row t−k IS the observation k slots earlier, so ``lag(x, k)`` over
    (keys, ORDER BY ts) aligns pairs exactly.

    Exactness (the rolling_zscore/TWA integer-moment trick): with an
    integer ``value_col``, every Pearson term over the n pairs —
    S_x, S_y, S_xy, S_xx, S_yy and the combinations
    num = n·S_xy − S_x·S_y, var_a = n·S_xx − S_x², var_b = n·S_yy −
    S_y² — is an exact int64, and
    ``acf = num / (sqrt(var_a) · sqrt(var_b))`` is three correctly-
    rounded IEEE ops on double-exact integers, so the float output is
    bit-identical across engines and partition layouts.  Precondition:
    n·Σx² must fit 2^53 for the exact double cast (3,600 hourly slots
    of counts ≤ 10⁴ gives ~10¹⁵ — safe; Spark's ANSI mode errors, not
    wraps, past int64).  Zero-variance series (constant x in the
    window) yield NULL, not ±inf.

    Plan shape: all lag columns ride ONE Window operator (identical
    window spec), so the whole computation is one hash exchange + one
    in-partition sort on the series keys (tier-sized input by design);
    ``stack`` unpivots to (lag, x, y) rows JVM-side (a generator, not a
    shuffle) and the groupBy is a partial+final HashAggregate over
    integer moments — one more exchange of O(series × lags) rows.
    (The union-of-legs spelling re-shuffled and re-sorted per lag:
    3 exchanges + 3 sorts for 3 lags, .explain-verified.)
    """
    key_cols = list(key_cols)
    w = Window.partitionBy(*key_cols).orderBy(ts_col)
    lagged = df.select(
        *key_cols,
        F.col(value_col).cast("long").alias("_x"),
        *[
            F.lag(F.col(value_col).cast("long"), int(k))
            .over(w)
            .alias(f"_y{k}")
            for k in lags
        ],
    )
    stack_expr = "stack({}, {}) as (lag, _y)".format(
        len(lags), ", ".join(f"{int(k)}, _y{int(k)}" for k in lags)
    )
    pairs = lagged.select(
        *key_cols, "_x", F.expr(stack_expr)
    ).where(F.col("_y").isNotNull())
    agg = pairs.groupBy(*key_cols, "lag").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum("_x").alias("_sx"),
        F.sum("_y").alias("_sy"),
        F.sum(F.col("_x") * F.col("_y")).alias("_sxy"),
        F.sum(F.col("_x") * F.col("_x")).alias("_sxx"),
        F.sum(F.col("_y") * F.col("_y")).alias("_syy"),
    )
    n = F.col("n_pairs")
    num = (n * F.col("_sxy") - F.col("_sx") * F.col("_sy")).cast("double")
    va = (n * F.col("_sxx") - F.col("_sx") * F.col("_sx")).cast("double")
    vb = (n * F.col("_syy") - F.col("_sy") * F.col("_sy")).cast("double")
    acf = F.when((va > 0) & (vb > 0), num / (F.sqrt(va) * F.sqrt(vb)))
    return agg.select(*key_cols, "lag", "n_pairs", acf.alias("acf"))


def m4(
    df: DataFrame,
    key_cols: list,
    ts_col: str = "ts",
    value_col: str = "v",
    unit: str = "hour",
) -> DataFrame:
    """M4 downsample (Jugel et al., VLDB 2014): per (keys, bucket) the
    four pixel-defining samples — first, last, min-value, max-value —
    the smallest point set whose line rendering is pixel-identical to
    the full series at one bucket per pixel column.

    Like ``ohlc`` this is a pure associative fold — four min/max of
    structs — so the plan is one partial+final HashAggregate and the
    shuffle carries bucket partials, never samples.  Wide form: one row
    per bucket with the (ts, v) of each role.  Determinism: first/last
    tie-break on value ascending at equal ts; vmin picks the earliest
    of equal minima, vmax the latest of equal maxima (lexicographic
    struct order — documented, partition-invariant)."""
    key_cols = list(key_cols)
    ts, v = F.col(ts_col), F.col(value_col)
    by_ts = F.struct(ts.alias("ts"), v.alias("v"))
    by_v = F.struct(v.alias("v"), ts.alias("ts"))
    return df.groupBy(
        *key_cols, F.date_trunc(unit, ts).alias("tick")
    ).agg(
        F.min(by_ts).alias("s_first"),
        F.max(by_ts).alias("s_last"),
        F.min(by_v).alias("s_min"),
        F.max(by_v).alias("s_max"),
        F.count(v).alias("n_points"),
    ).select(
        *key_cols,
        "tick",
        F.col("s_first.ts").alias("ts_first"),
        F.col("s_first.v").alias("v_first"),
        F.col("s_min.ts").alias("ts_min"),
        F.col("s_min.v").alias("v_min"),
        F.col("s_max.ts").alias("ts_max"),
        F.col("s_max.v").alias("v_max"),
        F.col("s_last.ts").alias("ts_last"),
        F.col("s_last.v").alias("v_last"),
        "n_points",
    )


def m4_points(
    df: DataFrame,
    key_cols: list,
    ts_col: str = "ts",
    value_col: str = "v",
    unit: str = "hour",
) -> DataFrame:
    """M4 as its actual output contract: the deduplicated POINT SET
    (keys, tick, ts, v) — ≤4 rows per bucket (a bucket whose extreme
    IS its first/last sample contributes the point once).  The dedup is
    ``array_distinct`` over four structs inside the aggregate's
    projection — per-row, no extra shuffle beyond m4's single
    exchange."""
    wide = m4(df, key_cols, ts_col=ts_col, value_col=value_col, unit=unit)

    def pt(t, v):
        return F.struct(F.col(t).alias("ts"), F.col(v).alias("v"))

    pts = F.array_distinct(
        F.array(
            pt("ts_first", "v_first"),
            pt("ts_min", "v_min"),
            pt("ts_max", "v_max"),
            pt("ts_last", "v_last"),
        )
    )
    return wide.select(
        *key_cols, "tick", F.explode(pts).alias("_p")
    ).select(*key_cols, "tick", F.col("_p.ts").alias("ts"), F.col("_p.v").alias("v"))


def mean_shift(
    df: DataFrame,
    key_cols: list,
    ts_col: str = "ts",
    value_col: str = "v",
    n: int = 24,
    peak_radius: int | None = None,
) -> DataFrame:
    """Change-point score per point: the difference between the mean of
    the ``n`` samples starting AT the current row and the mean of the
    ``n`` samples strictly BEFORE it (the classic two-sliding-window
    mean-shift detector; emitted only where both windows are full, so
    every score compares equal-sized populations).

    ``value_col`` must be integral (the rollup tiers' counts/cents):
    both window sums are exact int64, and ``shift`` is ONE IEEE
    division of exact integers — byte-reproducible across engines and
    partitionings, same contract as rolling_zscore/TWA.

    With ``peak_radius=k``, flags rows whose |shift| attains the max
    over ±k neighbouring scores (non-maximum suppression — the usual
    "report each changepoint once" post-pass).  All three computations
    share ONE hash exchange on the series keys + one in-partition sort;
    Catalyst folds the window frames onto the same clustering."""
    key_cols = list(key_cols)
    w = Window.partitionBy(*key_cols).orderBy(ts_col)
    v = F.col(value_col)
    c_l = F.count(v).over(w.rowsBetween(-n, -1))
    s_l = F.sum(v).over(w.rowsBetween(-n, -1))
    c_r = F.count(v).over(w.rowsBetween(0, n - 1))
    s_r = F.sum(v).over(w.rowsBetween(0, n - 1))
    shift = F.when(
        (c_l == n) & (c_r == n),
        (s_r - s_l).cast("double") / F.lit(float(n)),
    )
    out = df.withColumn("shift", shift)
    if peak_radius is not None:
        k = int(peak_radius)
        mx = F.max(F.abs(F.col("shift"))).over(w.rowsBetween(-k, k))
        out = out.withColumn(
            "is_peak",
            F.col("shift").isNotNull() & (F.abs(F.col("shift")) >= mx),
        )
    return out


def _holt_series(
    x: np.ndarray, alpha: float, beta: float
) -> tuple[np.ndarray, np.ndarray]:
    """Scalar Holt recursion per series (level l, trend b):

        l_0 = x_0, b_0 = 0
        l_t = α·x_t + (1−α)·(l_{t−1} + b_{t−1})
        b_t = β·(l_t − l_{t−1}) + (1−β)·b_{t−1}

    A plain O(n) loop: the recurrence is a 2×2 linear scan (the
    block-rescaled trick EWMA uses generalizes to cumulative matrix
    products) but tier series are bounded by construction (≤ the fill
    range in slots), so the loop costs microseconds per series and
    keeps the arithmetic order identical to the oracle's recursive-CTE
    replay."""
    n = len(x)
    l = np.empty(n, dtype=np.float64)
    b = np.empty(n, dtype=np.float64)
    if n == 0:
        return l, b
    l[0] = float(x[0])
    b[0] = 0.0
    one_a = 1.0 - alpha
    one_b = 1.0 - beta
    for t in range(1, n):
        lp = l[t - 1]
        lt = alpha * float(x[t]) + one_a * (lp + b[t - 1])
        l[t] = lt
        b[t] = beta * (lt - lp) + one_b * b[t - 1]
    return l, b


def holt(
    df: DataFrame,
    key_cols: list,
    ts_col: str = "tick",
    value_col: str = "v",
    alpha: float = 0.3,
    beta: float = 0.1,
) -> DataFrame:
    """Holt linear (double-exponential) smoothing per series — the
    trend-aware extension of ``ewma`` and the standard short-horizon
    forecast baseline: ``forecast`` is the one-step-ahead prediction
    level + trend.  Reference analog: the per-cell hook family
    (img2ts.py:652-668) where users run exactly this in pandas.

    Same execution shape as ewma: one grouped Arrow batch per series
    (tier input — bounded length by construction), batch sorted on the
    timestamp so upstream ordering is irrelevant.  Like ewma the float
    recursion is certified against a recursive-CTE replay with a 1e-9
    relative bound (a float recursion's association order is the one
    thing the dyadic-rational discipline cannot pin bitwise across
    engines)."""
    key_cols = list(key_cols)
    schema_fields = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}"
        for f in df.select(*key_cols, ts_col, value_col).schema.fields
    )
    schema = schema_fields + ", level double, trend double, forecast double"

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(ts_col, kind="mergesort").reset_index(drop=True)
        l, b = _holt_series(
            pdf[value_col].to_numpy(dtype=np.float64), alpha, beta
        )
        pdf["level"] = l
        pdf["trend"] = b
        pdf["forecast"] = l + b
        return pdf[key_cols + [ts_col, value_col, "level", "trend", "forecast"]]

    return df.select(*key_cols, ts_col, value_col).groupBy(*key_cols).applyInPandas(
        fn, schema=schema
    )


def sax_breakpoints(alphabet: int) -> list:
    """N(0,1) quantile breakpoints splitting the line into ``alphabet``
    equiprobable bins (Lin et al. 2003, the SAX paper, Table 3) —
    computed with the stdlib ``statistics.NormalDist().inv_cdf`` so the
    engine and the generated oracle SQL embed the SAME doubles."""
    from statistics import NormalDist

    if alphabet < 2 or alphabet > 16:
        raise ValueError("alphabet must be in [2, 16]")
    nd = NormalDist()
    return [nd.inv_cdf(i / alphabet) for i in range(1, alphabet)]


def sax(
    df: DataFrame,
    key_cols: list,
    ts_col: str = "tick",
    value_col: str = "v",
    n_frames: int = 16,
    alphabet: int = 4,
) -> DataFrame:
    """SAX symbolic series representation (Lin/Keogh et al. 2003):
    PAA-downsample each series to ``n_frames`` frame means, z-normalize
    against the series' own mean/std, and bin each frame into one of
    ``alphabet`` equiprobable N(0,1) symbols ``a..`` — the classic
    index/sketch for whole-series similarity and motif mining over a
    rollup tier (reference analog: the per-cell time-sorted series of
    img2ts.py:652-668, reduced to a fixed-width signature per cell).

    EXACT certification (integer ``value_col`` required — tier counts
    or cents): with r = 0-based rank, n = series length, frame
    f = ⌊r·w/n⌋ is pure int64 arithmetic; the PAA mean is ONE IEEE
    division S_f/c_f of exact int64s; and the z-vs-breakpoint
    comparison is done WITHOUT forming z: z_f > β ⟺
    A > β·c_f·√V with A = n·S_f − c_f·S and V = n·Q − S² both exact
    int64 (μ = S/n, σ = √V/n algebra) — so the symbol index
    Σ_k 1[A > β_k·c_f·√V] is byte-identical across engines and
    partition layouts.  Degenerate series (V = 0, constant) emit NULL
    symbols: they have no z-scale.  Precondition (same as
    rolling_zscore exact mode): n·Σv² and (Σv)² must fit int64 —
    run on tier counts/cents, not raw token sums.

    Plan shape: ONE hash exchange on the series keys feeds the rank
    window and the per-series moment aggregate; the frame aggregate
    re-keys on (series, frame); the one-row-per-series moments join
    back broadcast under AQE when small, hash otherwise.  Zero Python
    anywhere.
    """
    key_cols = list(key_cols)
    if n_frames < 1:
        raise ValueError("n_frames must be >= 1")
    bps = sax_breakpoints(alphabet)
    v = F.col(value_col).cast("long")
    w_rank = Window.partitionBy(*key_cols).orderBy(ts_col)
    ranked = df.select(
        *key_cols,
        v.alias("_v"),
        (F.row_number().over(w_rank) - F.lit(1)).alias("_r"),
    )
    n_per = Window.partitionBy(*key_cols)
    ranked = ranked.withColumn("_n", F.count("*").over(n_per))
    ranked = ranked.withColumn(
        "frame", F.floor(F.col("_r") * n_frames / F.col("_n"))
    )
    frames = ranked.groupBy(*key_cols, "frame").agg(
        F.sum("_v").alias("_sf"), F.count("*").alias("n_pts")
    )
    moments = ranked.groupBy(*key_cols).agg(
        F.sum("_v").alias("_s"),
        F.sum(F.col("_v") * F.col("_v")).alias("_q"),
        F.count("*").alias("_n"),
    )
    # one row per series: AQE broadcasts this side when it is small and
    # falls back to a hash join when series cardinality is huge — do
    # not force the hint (10M series × ~40 B would be a 400 MB
    # broadcast at 100 TB scale)
    j = frames.join(moments, key_cols)
    a = (F.col("_n") * F.col("_sf") - F.col("n_pts") * F.col("_s")).cast(
        "double"
    )
    var = F.col("_n") * F.col("_q") - F.col("_s") * F.col("_s")
    d = F.sqrt(var.cast("double"))
    idx = None
    for bp in bps:
        ind = (
            a > F.lit(bp) * F.col("n_pts").cast("double") * d
        ).cast("int")
        idx = ind if idx is None else idx + ind
    sym = F.when(
        var > 0,
        F.expr("substring('abcdefghijklmnop', _symidx + 1, 1)"),
    )
    paa = F.col("_sf").cast("double") / F.col("n_pts").cast("double")
    out = j.withColumn("_symidx", idx).select(
        *key_cols,
        F.col("frame").cast("int").alias("frame"),
        F.col("n_pts"),
        paa.alias("paa"),
        sym.alias("symbol"),
    )
    return out


def haar_energy(
    df: DataFrame,
    keys: list | tuple = ("event_type",),
    ts_col: str = "ts",
    value_col: str = "value",
    order_cols: list | tuple = (),
    levels: int = 3,
) -> DataFrame:
    """Haar wavelet detail-energy spectrum per series — multi-resolution
    burst localization.  Fano (operators/drift.py) says a key is bursty;
    this says at WHICH timescale: level L's detail coefficients are the
    half-differences of level L−1's pairwise means, so energy piling up
    at small L means point-to-point jitter, at large L means slow swings
    (reference analog: repurpose's per-cell time-sorted series handed to
    order-aware resample reductions, src/repurpose/img2ts.py:652-668).

    Construction (classic unnormalized Haar pyramid): order the series
    by (ts, *order_cols), index i from 0; at each level pair (2j, 2j+1)
    → approx s = (a+b)/2 carried up, detail d = (a−b)/2 scored; an
    unpaired tail element is dropped (documented lossy edge, standard
    for dyadic transforms on non-power-of-2 lengths).

    Determinism: details are quantized to exact int64 1e-4 ticks BEFORE
    squaring, so ``detail_e8`` (units of 1e-8) is an integer sum —
    shuffle-order-free, same trick as source_overlap's sum_sim_e4; the
    approx chain (a+b)/2 is one IEEE add + halving per level, identical
    in any engine.  Returns one row per (keys…, level): (keys…, level,
    n_coef, detail_e8).

    Scale notes: level L groups by (keys, i//2) on n/2^L rows — the
    exchange volume HALVES per level (geometric, < 2n total rows
    shuffled regardless of ``levels``); every step is a partial+final
    HashAggregate, no window beyond the one initial row_number sort.
    """
    keys = list(keys)
    order = [F.col(ts_col)] + [F.col(c) for c in order_cols]
    w = Window.partitionBy(*keys).orderBy(*order)
    cur = df.select(
        *keys,
        (F.row_number().over(w) - 1).cast("long").alias("i"),
        F.col(value_col).cast("double").alias("v"),
    )
    even = F.max(F.when(F.col("i") % 2 == 0, F.col("v")))
    odd = F.max(F.when(F.col("i") % 2 == 1, F.col("v")))
    outs = []
    for lvl in range(1, levels + 1):
        # checkpointed: each level's pair frame feeds BOTH its energy
        # row and the next level — without it every union branch
        # re-derives the whole ancestor chain back through the initial
        # window sort (levels× the corpus sort; guide §2.4), and the
        # frames halve per level so the materialization is geometric
        paired = materialize(
            cur.groupBy(*keys, F.shiftright("i", 1).alias("p"))
            .agg(
                even.alias("a"),
                odd.alias("b"),
                F.count("*").alias("n"),
            )
            .where(F.col("n") == 2)
            .select(
                *keys,
                F.col("p").alias("i"),
                ((F.col("a") + F.col("b")) / 2).alias("v"),
                ((F.col("a") - F.col("b")) / 2).alias("d"),
            ),
            checkpoint=True,
        )
        ticks = F.round(F.col("d") * 10000).cast("long")
        outs.append(
            paired.groupBy(*keys)
            .agg(
                F.count("*").alias("n_coef"),
                F.sum(ticks * ticks).alias("detail_e8"),
            )
            .select(
                *keys,
                F.lit(lvl).cast("int").alias("level"),
                "n_coef",
                "detail_e8",
            )
        )
        cur = paired.select(*keys, "i", "v")
    res = outs[0]
    for o in outs[1:]:
        res = res.unionByName(o)
    return res

def equidepth_profile(
    df: DataFrame,
    key_cols: list,
    value_col: str,
    tie_cols: list | tuple = (),
    k: int = 4,
) -> DataFrame:
    """Equi-depth (NTILE) profile per key: split each key's rows into
    ``k`` rank-balanced tiles under a caller-supplied TOTAL order and
    report each tile's count / min / max / sum — the data-profiling
    summary an optimizer or quality dashboard wants (exact value
    ranges holding equal row mass), dual to the fixed-edge histogram
    in :mod:`drift` (equal-width bins, varying mass).

    Rank-based tiling means NO interpolation and NO float thresholds:
    with a total order (ties broken by ``tie_cols``) the tile
    assignment is the SQL-standard NTILE — the first ``n mod k``
    tiles get the extra row — so every output cell is an exact int64
    and both engines agree byte-for-byte, certified EXACT.

    One shuffle on the keys, ONE window sort shared by NTILE, one
    partial+final aggregate."""
    key_cols = list(key_cols)
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    w = Window.partitionBy(*key_cols).orderBy(F.col(value_col).asc(), *tie_cols)
    tiled = df.select(
        *key_cols,
        F.col(value_col).alias("_v"),
        F.ntile(k).over(w).alias("tile"),
    )
    return tiled.groupBy(*key_cols, "tile").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("_v").alias("min_v"),
        F.max("_v").alias("max_v"),
        F.sum("_v").alias("sum_v"),
    )


def seasonal_naive_skill(
    dense: DataFrame,
    key_cols: list,
    ts_col: str = "tick",
    value_col: str = "v",
    period: int = 24,
) -> DataFrame:
    """Seasonal-naive forecast skill (MASE-style) per key over a DENSE
    regular grid — the standard "is there exploitable seasonality"
    triage BEFORE fitting any model: compare the season-ago predictor
    ŷ_t = y_{t−period} against the naive-1 predictor ŷ_t = y_{t−1} by
    mean absolute error.  ``mase < 1`` ⇒ the seasonal pattern beats
    persistence (worth a seasonal model); ``≈ 1`` ⇒ a plain smoother
    suffices (the decision gate in the M4-competition sense between
    ev_holt and ev_seasonal_decompose).

    Inputs must be a dense grid of exact integers (gap-fill the rollup
    tier first — same contract as ``mean_shift``), so the deltas ride
    row-lag windows, both MAE numerators are exact int64 sums, and
    ``mase = (sae_seasonal·n1) / (sae_naive1·nS)`` is ONE correctly-
    rounded IEEE division of exact int64 products — byte-stable,
    certified EXACT.  Headroom: cent-scale totals × series length keep
    the cross products ≪ 2⁶³.  One hash exchange on the key, one sort;
    both lags and the final aggregate share them.

    Returns (keys…, n1, sae_naive1, n_seasonal, sae_seasonal,
    mae_naive1, mae_seasonal, mase); keys shorter than ``period``+1
    ticks yield NULL mase (no seasonal pairs to score).
    """
    key_cols = list(key_cols)
    w = Window.partitionBy(*key_cols).orderBy(ts_col)
    v = F.col(value_col).cast("long")
    d1 = v - F.lag(v, 1).over(w)
    dS = v - F.lag(v, int(period)).over(w)
    diffs = dense.select(
        *key_cols, F.abs(d1).alias("_a1"), F.abs(dS).alias("_aS")
    )
    a = diffs.groupBy(*key_cols).agg(
        F.count("_a1").alias("n1"),
        F.coalesce(F.sum("_a1"), F.lit(0)).alias("sae_naive1"),
        F.count("_aS").alias("n_seasonal"),
        F.coalesce(F.sum("_aS"), F.lit(0)).alias("sae_seasonal"),
    )
    n1, s1 = F.col("n1"), F.col("sae_naive1")
    nS, sS = F.col("n_seasonal"), F.col("sae_seasonal")
    return a.select(
        *key_cols,
        "n1",
        "sae_naive1",
        "n_seasonal",
        "sae_seasonal",
        F.when(n1 > 0, s1.cast("double") / n1.cast("double")).alias(
            "mae_naive1"
        ),
        F.when(nS > 0, sS.cast("double") / nS.cast("double")).alias(
            "mae_seasonal"
        ),
        F.when(
            (nS > 0) & (s1 > 0),
            (sS * n1).cast("double") / (s1 * nS).cast("double"),
        ).alias("mase"),
    )

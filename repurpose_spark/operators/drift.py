"""Population-drift monitoring: PSI between consecutive time slices.

The Population Stability Index — Σ_bins (p−q)·ln(p/q) over smoothed
histogram frequencies — is the standard alarm for "did today's data
stop looking like yesterday's" in training-data ingestion and model
monitoring (>0.25 is the conventional act threshold).  The reference's
analog is the per-cell metadata attributes it tracks across rewrites
(``src/repurpose/img2ts.py`` cell min/max bookkeeping); this is the
distributional generalization a 100 TB ingestion pipeline actually
watches.

Scale shape: one partial+final count aggregate over the points (the
ONLY pass over raw; map-side combine bounds the exchange by
keys × slices × bins), then a per-(key, slice) dense bin vector built
with ``map_from_entries`` and a single ``lag`` window on the
slice axis — everything downstream of the first aggregate is
tier-sized (keys × slices rows, one ≤n_bins array each).

Determinism contract (the z-score/TWA family): bin counts are exact
int64; each smoothed frequency is ONE IEEE division; each bin's term is
a product with one libm ``ln``; and the cross-bin sum is an ORDERED
left fold over the dense bin array (``F.aggregate`` — never a
shuffle-order float sum), so the PSI double is reproducible across
engines and partition layouts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from repurpose_spark.plans.materialize import materialize


def value_bins(
    df: DataFrame,
    value_col: str,
    lo: float,
    hi: float,
    n_bins: int,
    out_col: str = "bin",
) -> DataFrame:
    """Fixed-width histogram bin index in [0, n_bins−1], edges clamped
    (everything < lo lands in bin 0, ≥ hi in the last bin) — fixed
    literal edges, so binning is embarrassingly parallel and stable
    across slices (data-dependent edges would make day-over-day
    histograms incomparable)."""
    if n_bins <= 0 or not hi > lo:
        raise ValueError("need n_bins > 0 and hi > lo")
    w = (hi - lo) / n_bins
    raw = F.floor((F.col(value_col) - F.lit(lo)) / F.lit(w)).cast("int")
    return df.withColumn(
        out_col, F.least(F.greatest(raw, F.lit(0)), F.lit(n_bins - 1))
    )


def psi_drift(
    df: DataFrame,
    key_cols: list,
    slice_col,
    value_col: str,
    lo: float,
    hi: float,
    n_bins: int = 20,
    smooth: float = 0.5,
) -> DataFrame:
    """Per (keys, slice): PSI of the slice's ``value_col`` histogram
    against the PREVIOUS slice of the same keys (day d vs day d−1 when
    ``slice_col`` is a date_trunc expression).

    Laplace smoothing ``smooth`` keeps empty bins finite:
    p_i = (c_i + s) / (N + s·B).  The first slice of each key has no
    reference → psi is null.  Null values carry no distributional
    information and are dropped before binning (a null bin key would
    also poison the map build).  Output: keys, slice, n_cur, n_ref,
    psi.
    """
    key_cols = list(key_cols)
    sl = slice_col if not isinstance(slice_col, str) else F.col(slice_col)
    binned = value_bins(
        df.where(F.col(value_col).isNotNull()), value_col, lo, hi, n_bins
    )
    counts = binned.groupBy(
        *key_cols, sl.alias("slice"), F.col("bin")
    ).agg(F.count("*").alias("c"))
    # dense per-slice bin vector: map bin→count, read 0..B−1 in order
    vec = counts.groupBy(*key_cols, "slice").agg(
        F.map_from_entries(
            F.collect_list(F.struct(F.col("bin"), F.col("c")))
        ).alias("_m"),
        F.sum("c").alias("n_cur"),
    ).withColumn(
        "_v",
        F.transform(
            F.sequence(F.lit(0), F.lit(n_bins - 1)),
            lambda b: F.coalesce(
                F.element_at(F.col("_m"), b), F.lit(0).cast("long")
            ),
        ),
    ).drop("_m")
    w = Window.partitionBy(*key_cols).orderBy("slice")
    paired = vec.withColumn("_pv", F.lag("_v").over(w)).withColumn(
        "n_ref", F.lag("n_cur").over(w)
    )
    s, B = float(smooth), n_bins
    den_c = F.col("n_cur").cast("double") + F.lit(s * B)
    den_r = F.col("n_ref").cast("double") + F.lit(s * B)

    def term(acc, pair):
        p = (pair["c"].cast("double") + F.lit(s)) / den_c
        q = (pair["r"].cast("double") + F.lit(s)) / den_r
        return acc + (p - q) * F.log(p / q)

    psi = F.when(
        F.col("n_ref").isNotNull(),
        F.aggregate(
            F.zip_with(
                F.col("_v"),
                F.col("_pv"),
                lambda c, r: F.struct(c.alias("c"), r.alias("r")),
            ),
            F.lit(0.0),
            term,
        ),
    )
    return paired.select(
        *key_cols, "slice", "n_cur", "n_ref", psi.alias("psi")
    )


def fano_factor(
    df: DataFrame,
    key_cols: list,
    ts_col: str = "ts",
    width_s: int = 86400,
) -> DataFrame:
    """Burstiness monitor: the Fano factor (index of dispersion,
    var/mean) of per-bucket event counts for each key — ≈1 for a
    Poisson arrival stream, ≫1 for bursty keys (thundering herds, bot
    floods, replay storms), ≪1 for metronomic ones.  Alongside PSI this
    is the other standing ingestion alarm: PSI watches WHAT arrives
    drifting, the Fano factor watches HOW it arrives.

    The bucket axis is the CLOSED range [min_bucket, max_bucket] per
    key — silent buckets count as 0 events (dropping them would
    understate variance exactly where burstiness matters most) — so no
    gap-fill pass is needed: n comes from the range, the sums from the
    observed rows.

    Scale shape: two partial+final count aggregates (points → per-bucket
    counts → per-key moments), nothing else; the first exchange is
    bounded by keys × buckets map-side.  Determinism (the z-score/TWA
    contract): counts and moment sums are exact int64, sample variance
    over mean folds to (n·s2 − s1²)/((n−1)·s1) — exact integer
    numerator and denominator, ONE IEEE division → byte-stable.  n = 1
    keys yield NULL (a variance needs two buckets).  Int64 bounds: the
    numerator stays exact below n·s2 < 2⁶³ — at 86400 s buckets that is
    ~10⁹ buckets × (10⁷ events/bucket)², far past any per-key tier.
    """
    key_cols = list(key_cols)
    sec = F.unix_timestamp(F.col(ts_col))
    bucket = F.floor(sec / F.lit(int(width_s))).cast("long")
    per = df.groupBy(
        *key_cols, bucket.alias("_bucket")
    ).agg(F.count("*").alias("_c"))
    agg = per.groupBy(*key_cols).agg(
        (F.max("_bucket") - F.min("_bucket") + 1).alias("n_buckets"),
        F.sum("_c").alias("n_events"),
        F.sum(F.col("_c") * F.col("_c")).alias("_s2"),
    )
    n, s1, s2 = F.col("n_buckets"), F.col("n_events"), F.col("_s2")
    fano = (n * s2 - s1 * s1).cast("double") / (
        ((n - F.lit(1)) * s1).cast("double")
    )
    return agg.select(
        *key_cols,
        "n_buckets",
        "n_events",
        F.when(n > 1, F.round(fano, 6)).alias("fano"),
    )

def allan_variance(
    df: DataFrame,
    key_cols: list,
    ts_col: str = "ts",
    taus: tuple = (3600, 7200, 14400),
) -> DataFrame:
    """Allan variance of per-key arrival rates across averaging
    timescales — the third standing ingestion alarm next to
    :func:`psi_drift` (WHAT arrives) and :func:`fano_factor` (HOW
    bursty): AVAR(τ) = Σ(c_{i+1} − c_i)² / (2(M−1)) over consecutive
    τ-bucket counts says at WHICH timescale the stream is unstable —
    white noise falls as 1/τ, a drifting source flattens, a periodic
    thundering herd spikes at its period.  (Allan 1966, the clock-
    stability statistic, applied to event counts.)

    Same closed-range discipline as the Fano factor: the bucket axis
    is [min, max] per (key, τ) and silent buckets count 0 — but NO
    gap-fill pass materializes them: between observed buckets g apart,
    the implicit zero pairs contribute exactly c_j² + c_{j+1}² (drop
    to 0, rise from 0) when g ≥ 2 and (Δc)² when g = 1, so ONE lag
    window over observed rows reproduces the dense sum.  Pair count
    M − 1 = max − min comes from the range.

    Scale shape: the raw scan explodes ×|taus| (bounded, documented) →
    one partial+final count aggregate on (keys, τ, bucket) → one
    per-(key, τ) lag window over bucket rows → final aggregate.
    Exactness: counts and the squared-diff sum are int64 end to end;
    ``allan_var`` is ONE correctly-rounded IEEE division of exact
    integers — byte-stable, certified EXACT.  Keys with M < 2 yield
    NULL.  Int64 bound: Σ diff² < 2⁶³ holds below ~10⁹ buckets ×
    (10⁷ events/bucket)² per key — far past any per-key tier."""
    key_cols = list(key_cols)
    if not taus or any(int(t) <= 0 for t in taus):
        raise ValueError("taus must be positive bucket widths in seconds")
    sec = F.unix_timestamp(F.col(ts_col))
    tagged = df.select(
        *key_cols,
        sec.alias("_sec"),
        F.explode(F.array(*[F.lit(int(t)) for t in taus])).alias("tau"),
    ).select(
        # integer `div`, not float floor(a/b) — the bucket id must stay
        # exact past 2^53 (same discipline as the packing prefix sum)
        *key_cols, "tau", F.expr("_sec div tau").alias("_b")
    )
    counts = tagged.groupBy(*key_cols, "tau", "_b").agg(
        F.count(F.lit(1)).alias("_c")
    )
    w = Window.partitionBy(*key_cols, "tau").orderBy("_b")
    prev_b = F.lag("_b").over(w)
    prev_c = F.lag("_c").over(w)
    d = F.col("_c") - prev_c
    pair_sq = F.when(prev_b.isNull(), F.lit(0)).when(
        F.col("_b") - prev_b == 1, d * d
    ).otherwise(prev_c * prev_c + F.col("_c") * F.col("_c"))
    scanned = counts.select(
        *key_cols, "tau", "_b", pair_sq.alias("_sq")
    )
    a = scanned.groupBy(*key_cols, "tau").agg(
        (F.max("_b") - F.min("_b") + 1).alias("n_buckets"),
        F.sum("_sq").alias("diff_sq_sum"),
    )
    m1 = (F.col("n_buckets") - 1).cast("double")
    avar = F.when(
        F.col("n_buckets") > 1,
        F.col("diff_sq_sum").cast("double") / (F.lit(2.0) * m1),
    )
    return a.select(
        *key_cols, "tau", "n_buckets", "diff_sq_sum", avar.alias("allan_var")
    )

def interarrival_cv(
    df: DataFrame,
    key_cols: list,
    ts_col: str = "ts",
    tie_cols: list | tuple = (),
) -> DataFrame:
    """Squared coefficient of variation of inter-arrival gaps per key —
    the fourth arrival-process lens (PSI: what, Fano: bucket burst,
    Allan: which timescale; this one is bucket-free): CV² = 1 for a
    Poisson stream, > 1 clumped, < 1 metronomic — and unlike the
    bucketed alarms it needs no width choice at all.

    One window sort by (ts, ties) produces the integer-second gaps;
    CV² folds to (n·Σg² − (Σg)²)/(Σg)² — exact int64 numerator and
    denominator, ONE correctly-rounded IEEE division → byte-stable,
    certified EXACT.  Keys with < 2 gaps or zero total span yield
    NULL.  Returns (keys…, n_gaps, sum_gap_s, sum_gap_sq, cv2)."""
    key_cols = list(key_cols)
    sec = F.unix_timestamp(F.col(ts_col))
    w = Window.partitionBy(*key_cols).orderBy(ts_col, *tie_cols)
    g = sec - F.lag(sec).over(w)
    gaps = df.select(*key_cols, g.alias("_g")).where(F.col("_g").isNotNull())
    a = gaps.groupBy(*key_cols).agg(
        F.count(F.lit(1)).alias("n_gaps"),
        F.sum("_g").alias("sum_gap_s"),
        F.sum(F.col("_g") * F.col("_g")).alias("sum_gap_sq"),
    )
    n = F.col("n_gaps")
    s1 = F.col("sum_gap_s")
    cv2 = F.when(
        (n > 1) & (s1 > 0),
        (n * F.col("sum_gap_sq") - s1 * s1).cast("double")
        / (s1 * s1).cast("double"),
    )
    return a.select(*key_cols, "n_gaps", "sum_gap_s", "sum_gap_sq", cv2.alias("cv2"))


def benford_profile(
    df: DataFrame,
    key_cols: list,
    value_col: str,
) -> DataFrame:
    """First-significant-digit profile per key — the classic
    fabricated-data / unit-mixup audit: organically-scaled positive
    quantities follow Benford's law (P(d) = log₁₀(1 + 1/d)); a flat
    or spiked digit histogram flags synthetic padding, clipped
    sensors, or a magnitude bug.

    The digit is extracted as the first character of the integer's
    decimal string — pure integer/string ops, NO float log10 (whose
    1-ulp edges at exact powers of ten would make the bucket itself
    engine-dependent).  Non-positive values are excluded by
    definition.  Returns (keys…, digit, n, share): counts int64,
    ``share`` ONE IEEE division of exact int64s — byte-stable,
    certified EXACT.  One partial+final aggregate + a per-key total
    broadcast back; nothing corpus-sized reshuffles."""
    key_cols = list(key_cols)
    v = F.col(value_col).cast("long")
    d = F.substring(v.cast("string"), 1, 1).cast("int")
    pos = df.where(v > 0).select(*key_cols, d.alias("digit"))
    counts = pos.groupBy(*key_cols, "digit").agg(
        F.count(F.lit(1)).alias("n")
    )
    w_tot = Window.partitionBy(*key_cols)
    return counts.select(
        *key_cols,
        "digit",
        "n",
        (F.col("n").cast("double") / F.sum("n").over(w_tot).cast("double")).alias(
            "share"
        ),
    )


def page_hinkley(
    df: DataFrame,
    key_cols: list,
    ts_col: str = "ts",
    value_col: str = "v",
    calib: int = 24,
    delta: int = 0,
    lam: int = 0,
    tie_cols: list | tuple = (),
) -> DataFrame:
    """Page–Hinkley online upward-drift alarm per key — the SEQUENTIAL
    drift detector completing the family (PSI: distribution per slice,
    mean_shift: offline two-window scan; this one answers "at which
    tick would a live monitor have FIRST fired").

    Classic PH tracks m_t = Σ(x_i − x̄ − δ) and alarms when
    m_t − min_{j≤t} m_j > λ.  The running-mean variant is float-
    recursive; this implementation pins the baseline x̄ to the mean of
    the key's first ``calib`` ticks (the calibration window a live
    monitor would burn in) and clears every denominator by scaling
    through d = |calibration rows|: with integer inputs,

        e_i  = d·x_i − S_c − d·δ          (int64, exact)
        P_t  = Σ e_i  (running),  M_t = min P  (running)
        alarm at the first tick with  P_t − M_t > d·λ.

    Every quantity is int64 — running sums/mins of integers are
    order-of-evaluation-proof (no float tree-vs-sequential rounding),
    so the alarm tick and peak statistic are byte-stable across
    engines: certified EXACT.  Overflow headroom: |e| ≤ 2·calib·max|x|
    and P accumulates over the series length — int64 holds through
    calib 24 × cent-scaled hourly totals × centuries of ticks.

    One hash exchange on the key feeds all passes: the calibration
    sums ride an unordered whole-partition window, the prefix P/M the
    ordered window (one sort, reused through the post-calibration
    filter), and the final per-key aggregate reuses the partitioning.
    Returns (keys…, calib_n, calib_sum, n_scored, max_ph_scaled,
    max_ph, first_alarm_ts):  ``max_ph = max_ph_scaled / d`` is the
    one IEEE division; ``first_alarm_ts`` NULL when the alarm never
    fires.  Keys with ≤ ``calib`` ticks have nothing to score and are
    omitted (a live monitor still inside burn-in reports nothing).
    """
    key_cols = list(key_cols)
    wo = Window.partitionBy(*key_cols).orderBy(ts_col, *tie_cols)
    wp = Window.partitionBy(*key_cols)
    v = F.col(value_col).cast("long")
    rows = (
        df.select(*key_cols, ts_col, *tie_cols, v.alias("_v"))
        .withColumn("_rn", F.row_number().over(wo))
        .withColumn(
            "_sc",
            F.sum(F.when(F.col("_rn") <= calib, F.col("_v"))).over(wp),
        )
        .withColumn(
            "_d",
            F.sum(
                F.when(F.col("_rn") <= calib, F.lit(1)).otherwise(F.lit(0))
            ).over(wp),
        )
    )
    scored = (
        rows.where(F.col("_rn") > calib)
        .withColumn(
            "_e",
            F.col("_d") * F.col("_v")
            - F.col("_sc")
            - F.col("_d") * F.lit(int(delta)),
        )
        .withColumn(
            "_p",
            F.sum("_e").over(
                wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
        .withColumn(
            "_m",
            F.min("_p").over(
                wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
        .withColumn("_ph", F.col("_p") - F.col("_m"))
    )
    agg = scored.groupBy(*key_cols).agg(
        F.first("_d").alias("calib_n"),
        F.first("_sc").alias("calib_sum"),
        F.count(F.lit(1)).alias("n_scored"),
        F.max("_ph").alias("max_ph_scaled"),
        F.min(
            F.when(
                F.col("_ph") > F.col("_d") * F.lit(int(lam)), F.col(ts_col)
            )
        ).alias("first_alarm_ts"),
    )
    return agg.select(
        *key_cols,
        "calib_n",
        "calib_sum",
        "n_scored",
        "max_ph_scaled",
        (
            F.col("max_ph_scaled").cast("double")
            / F.col("calib_n").cast("double")
        ).alias("max_ph"),
        "first_alarm_ts",
    )


def ks_drift(
    df: DataFrame,
    key_cols: list,
    slice_col: str = "slice",
    value_col: str = "v",
) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov drift per key between consecutive
    observed slices — the BIN-FREE member of the distribution-drift
    family: PSI needs bin edges (and a smoothing constant); KS compares
    the empirical CDFs directly, D = max_x |F_prev(x) − F_cur(x)|, so a
    pure location shift, a variance change, or a new mode all register
    without any width choice.

    Shape: ONE corpus-sized count aggregate (keys × slices × distinct
    values partials, map-side combined); everything after is
    support-sized — the slice axis (tiny) takes a lag to pair each
    slice with its PREVIOUS OBSERVED slice (PSI's convention), each
    pair's two supports union via the pair join, and one window sort
    per (key, pair) over the merged support cumulates both sides'
    counts.  Step-CDF values at every union point are cum/total —
    exact int64 counts, TWO correctly-rounded IEEE divisions per
    support point, and the max of identical doubles is engine-
    independent: certified EXACT.

    Returns (keys…, slice, n_prev, n_cur, ks): one row per slice that
    has a predecessor; ``slice`` labels the CURRENT side of the pair.
    """
    key_cols = list(key_cols)
    # materialized once: the corpus-sized aggregate is consumed by THREE
    # subtrees (slice axis, current leg, previous leg) — without the
    # checkpoint each leg re-scans and re-aggregates the corpus (guide
    # §2.4); the frame itself is support-sized
    c = materialize(
        df.groupBy(*key_cols, slice_col, value_col).agg(
            F.count(F.lit(1)).alias("_n")
        ),
        checkpoint=True,
    )
    ws = Window.partitionBy(*key_cols).orderBy(slice_col)
    slices = (
        c.select(*key_cols, slice_col)
        .distinct()
        .withColumn("_prev", F.lag(slice_col).over(ws))
        .where(F.col("_prev").isNotNull())
    )
    cur = c.join(
        F.broadcast(slices), on=key_cols + [slice_col], how="inner"
    ).select(
        *key_cols,
        F.col(slice_col).alias("_pair"),
        value_col,
        F.lit(0).alias("_cp"),
        F.col("_n").alias("_cc"),
    )
    prev = (
        c.withColumnRenamed(slice_col, "_prev")
        .join(
            F.broadcast(slices.select(*key_cols, slice_col, "_prev")),
            on=key_cols + ["_prev"],
            how="inner",
        )
        .select(
            *key_cols,
            F.col(slice_col).alias("_pair"),
            value_col,
            F.col("_n").alias("_cp"),
            F.lit(0).alias("_cc"),
        )
    )
    merged = (
        cur.unionByName(prev)
        .groupBy(*key_cols, "_pair", value_col)
        .agg(F.sum("_cp").alias("_cp"), F.sum("_cc").alias("_cc"))
    )
    wp = Window.partitionBy(*key_cols, "_pair")
    wo = wp.orderBy(value_col).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    stepped = (
        merged.withColumn("_cum_p", F.sum("_cp").over(wo))
        .withColumn("_cum_c", F.sum("_cc").over(wo))
        .withColumn("_np", F.sum("_cp").over(wp))
        .withColumn("_nc", F.sum("_cc").over(wp))
        .withColumn(
            "_d",
            F.abs(
                F.col("_cum_p").cast("double") / F.col("_np").cast("double")
                - F.col("_cum_c").cast("double") / F.col("_nc").cast("double")
            ),
        )
    )
    return stepped.groupBy(*key_cols, "_pair").agg(
        F.first("_np").alias("n_prev"),
        F.first("_nc").alias("n_cur"),
        F.max("_d").alias("ks"),
    ).withColumnRenamed("_pair", slice_col)

"""Event-analytics operators: time-grid gap filling (LOCF), funnel
analysis, and cohort retention.

These are the standard event-table analytics a warehouse engine is
expected to ship. All three are pure DataFrame compositions — the heavy
lifting is one hash shuffle per operator (on the entity key) plus
window passes that reuse that partitioning; nothing collects to the
driver and nothing is quadratic in events.

Timestamps: callers pass a TIMESTAMP_NTZ column (pin LTZ inputs with
``convert_timezone('UTC', ts)`` first) so bucketing, week truncation,
and formatted output are independent of the session timezone.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from mapr_plugins_spark.functions.deterministic import dsum
from mapr_plugins_spark.session import sql_conf


def gap_fill(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    granularity: str = "hour",
) -> DataFrame:
    """Regularize an event stream onto a dense per-key time grid with
    last-observation-carried-forward fill.

    Aggregates to (key, bucket) first, generates each key's min→max
    bucket range with ``sequence``, left-joins the observations back,
    and forward-fills with a running last-non-null window. Grid size is
    bounded by each key's own span — no global materialized calendar."""
    bucket = F.date_trunc(granularity, F.col(ts_col)).alias("bucket")
    # persisted: feeds both the bounds scan and the grid join — without
    # reuse the raw-event aggregation runs twice (CacheManager matches
    # by analyzed plan only)
    agg = df.groupBy(key_col, bucket).agg(dsum(F.col(value_col), "v")).persist()
    bounds = agg.groupBy(key_col).agg(F.min("bucket").alias("lo"), F.max("bucket").alias("hi"))
    grid = bounds.select(
        key_col,
        F.explode(F.expr(f"sequence(lo, hi, interval 1 {granularity})")).alias("bucket"),
    )
    j = grid.join(agg, [key_col, "bucket"], "left")
    w = Window.partitionBy(key_col).orderBy("bucket")
    return j.select(
        key_col,
        "bucket",
        F.round(F.last("v", ignorenulls=True).over(w), 6).alias("v_filled"),
        F.col("v").isNull().alias("is_gap"),
    )


def funnel(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    step_predicates: Sequence[Column],
) -> DataFrame:
    """Ordered funnel: per key, step i counts only if its first
    qualifying event is at-or-after the time step i-1 was reached.
    Returns (step, n_keys) — one row per step.

    Stacked min-over-window passes all reuse ONE partitioning on the
    key; the final count is a metadata-sized aggregation."""
    wk = Window.partitionBy(key_col)
    d = df
    prev: str | None = None
    n = len(step_predicates)
    for i, pred in enumerate(step_predicates, 1):
        cond = pred if prev is None else pred & (F.col(ts_col) >= F.col(prev))
        d = d.withColumn(f"__t{i}", F.min(F.when(cond, F.col(ts_col))).over(wk))
        prev = f"__t{i}"
    per_key = d.groupBy(key_col).agg(
        *[F.max(f"__t{i}").alias(f"t{i}") for i in range(1, n + 1)]
    )
    counts = per_key.agg(*[F.count(f"t{i}").alias(f"n{i}") for i in range(1, n + 1)])
    stack_args = ", ".join(f"{i}, n{i}" for i in range(1, n + 1))
    return counts.selectExpr(f"stack({n}, {stack_args}) AS (step, n_keys)")


def cohort_retention(df: DataFrame, key_col: str, ts_col: str) -> DataFrame:
    """Weekly cohort retention: cohort = ISO week of a key's first
    activity; counts distinct active keys per (cohort_week,
    week_offset). Two shuffles total (distinct weeks, final count) —
    the cohort join rides the same key partitioning."""
    weeks = df.select(
        key_col, F.to_date(F.date_trunc("week", F.col(ts_col))).alias("week")
    ).distinct()
    first = weeks.groupBy(key_col).agg(F.min("week").alias("cohort_week"))
    j = weeks.join(first, key_col)
    offset = F.expr("CAST((unix_date(week) - unix_date(cohort_week)) DIV 7 AS INT)")
    return j.groupBy("cohort_week", offset.alias("week_offset")).agg(
        F.count_distinct(F.col(key_col)).alias("n_keys")
    )


def ewma(
    df: DataFrame,
    key_col: str,
    order_cols: list[str],
    value_col: str,
    alpha: float,
    out_col: str = "ewma",
) -> DataFrame:
    """Per-key exponentially weighted moving average:
    ``e_t = alpha*v_t + (1-alpha)*e_{t-1}`` (``e_0 = v_0``).

    An EWMA is an inherently sequential fold (the closed-form cumsum
    rewrite overflows for long histories), so it parallelizes the same
    way packing does: keys shuffle once, each key's ordered history
    folds with O(1) state. The Arrow granularity is ONE pandas call per
    PARTITION, not per key: repartition(key) + sortWithinPartitions
    co-locates and orders every key's history, and a partition-level
    ``pdf.groupby(key).ewm`` evaluates the identical recurrence — with
    ~10k tiny groups, per-key applyInPandas spends its time on Python/
    Arrow batch overhead (12.7 s at sf0.1) while the per-partition fold
    is bounded by ~n_partitions batches (≈3 s)."""
    from pyspark.sql.types import DoubleType, StructField, StructType

    cols = [key_col, *order_cols, value_col]
    # explicit hash repartition on the key: AQE would coalesce the tiny
    # exchange to a couple of partitions (it optimizes shuffle BYTES
    # and is blind to the per-row Python cost behind it); a
    # user-specified repartition is exempt from coalescing
    d = (
        df.select(*cols)
        .repartition(df.sparkSession.sparkContext.defaultParallelism, key_col)
        .sortWithinPartitions(key_col, *order_cols)
    )
    schema = StructType(list(d.schema.fields) + [StructField(out_col, DoubleType())])

    def _fold(batches):
        import pandas as pd

        # Arrow streams a partition as MULTIPLE batches (default 10k
        # rows); a key's history split across batches would restart the
        # recurrence mid-key, so materialize the partition first —
        # O(partition) memory, the same bound applyInPandas had per
        # group, controlled by the repartition width above.
        parts = [p for p in batches if len(p)]
        if not parts:
            return
        pdf = parts[0] if len(parts) == 1 else pd.concat(parts, ignore_index=True)
        # rows are key-clustered and (key, order)-sorted by the plan;
        # GroupBy.ewm(adjust=False) is exactly
        # e_t = a·v_t + (1-a)·e_{t-1} with e_0 = v_0, evaluated in
        # Cython across ALL groups in one call — same IEEE recurrence
        # as the SQL oracle (a transform(lambda) here re-enters Python
        # per group: ~10k calls/partition dominated the runtime)
        s = pdf.groupby(key_col, sort=False)[value_col].ewm(
            alpha=alpha, adjust=False
        ).mean()
        pdf[out_col] = s.reset_index(level=0, drop=True)
        yield pdf

    return d.mapInPandas(_fold, schema)


def merge_intervals(
    df: DataFrame,
    key_col: str,
    start_col: str,
    end_col: str,
) -> DataFrame:
    """Union overlapping/touching [start, end) intervals per key — the
    availability-window / segment-coalescing primitive. Sweep-line as
    window algebra: a new merged group starts where ``start`` exceeds
    the running max of all previous ends; both window passes and the
    final aggregate reuse ONE hash partitioning on the key."""
    w = Window.partitionBy(key_col).orderBy(start_col, end_col)
    prev_max_end = F.max(end_col).over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    new_grp = F.when(
        prev_max_end.isNull() | (F.col(start_col) > prev_max_end), 1
    ).otherwise(0)
    grouped = df.withColumn(
        "interval_seq",
        F.sum(new_grp).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
    )
    return grouped.groupBy(key_col, "interval_seq").agg(
        F.min(start_col).alias("m_start"),
        F.max(end_col).alias("m_end"),
        F.count(F.lit(1)).alias("n_merged"),
    )


def winsorize(
    df: DataFrame,
    key_col: str,
    value_col: str,
    tiebreak_col: str,
    lo_pct: int = 1,
    hi_pct: int = 99,
) -> DataFrame:
    """Per-group winsorization (outlier clipping) at EXACT order
    statistics: the bounds are the values at ranks ⌈p·n/100⌉ under a
    fully-specified ordering (value, tiebreak) — integer rank
    arithmetic, no percentile-interpolation convention to disagree on
    between engines, so the clip is bit-exact and a full-value oracle
    grades it. The standard robust-scaling step before training-metric
    aggregation over heavy-tailed telemetry.

    Plan: one shuffle for the rank/count windows; the per-group bounds
    table is group-cardinality-sized and broadcast-joins back onto the
    raw scan. Output: key, tiebreak, clipped value + flag."""
    from pyspark.sql import Window

    # asc_nulls_last: Spark windows default NULLS FIRST vs DuckDB's
    # NULLS LAST — a nullable value column would shift every rank
    # between engines (same pin as equal_frequency_bins below).
    w = Window.partitionBy(key_col).orderBy(
        F.col(value_col).asc_nulls_last(), F.col(tiebreak_col).asc_nulls_last()
    )
    ranked = df.select(
        key_col,
        value_col,
        tiebreak_col,
        F.row_number().over(w).alias("__rn"),
        F.count("*").over(Window.partitionBy(key_col)).alias("__n"),
    )
    lo_idx = F.expr(f"CAST(({lo_pct} * __n + 99) DIV 100 AS INT)")
    hi_idx = F.expr(f"CAST(({hi_pct} * __n + 99) DIV 100 AS INT)")
    bounds = ranked.groupBy(key_col).agg(
        F.max(F.when(F.col("__rn") == lo_idx, F.col(value_col))).alias("__lo"),
        F.max(F.when(F.col("__rn") == hi_idx, F.col(value_col))).alias("__hi"),
    )
    out = df.join(F.broadcast(bounds), key_col)
    v = F.col(value_col)
    # Nulls are handled explicitly: a NULL value passes through as NULL
    # unclipped (least/greatest skip nulls and would otherwise clamp it
    # to a bound), and a NULL bound (percentile rank landing past the
    # last non-null) means no clip on that side, not a NULL verdict.
    clip = F.least(F.greatest(v, F.col("__lo")), F.col("__hi"))
    lo_hit = F.coalesce(v < F.col("__lo"), F.lit(False))
    hi_hit = F.coalesce(v > F.col("__hi"), F.lit(False))
    return out.select(
        key_col,
        tiebreak_col,
        F.when(v.isNull(), v).otherwise(clip).alias(f"{value_col}_w"),
        (lo_hit | hi_hit).alias("clipped"),
    )


def drift_chi2(
    df: DataFrame,
    split_col,
    value_col: str,
    n_bins: int = 10,
    lo: float = 0.0,
    hi: float = 100.0,
) -> DataFrame:
    """Distribution-drift check between two corpus waves (ingest
    monitoring): equal-width histogram per side + the χ² drift
    statistic — Σ (obs − exp)²/exp with expected counts scaled from
    the reference side. Log-free (unlike PSI/KL), so every number is
    rational double arithmetic and the full-value oracle grades it
    bit-for-bit. Two map-side-combined aggregations over one scan —
    histogram cells shuffle, never rows.

    ``split_col`` is a boolean Column: True = reference wave, False =
    current wave. Output: one row per bin (obs/exp/contrib) — the
    drilldown a drift alert needs, with the statistic as the sum of
    ``chi2_contrib``."""
    bw = (hi - lo) / n_bins
    bin_id = F.least(
        F.lit(n_bins - 1),
        F.greatest(F.lit(0), F.floor((F.col(value_col) - lo) / bw).cast("int")),
    )
    from pyspark.sql import Window

    tagged = df.select(bin_id.alias("bin"), split_col.cast("int").alias("is_ref"))
    cells = tagged.groupBy("bin").agg(
        F.sum("is_ref").alias("n_ref"),
        F.sum(F.lit(1) - F.col("is_ref")).alias("n_cur"),
    )
    # totals as a window over the CELL table (n_bins rows), not a second
    # aggregation branch: a separate `cells.agg` would duplicate the
    # lineage and re-scan the corpus — the window costs one exchange of
    # n_bins rows instead (single corpus scan, plan-pinned)
    w_all = Window.partitionBy()
    j = cells.withColumn("t_ref", F.sum("n_ref").over(w_all)).withColumn(
        "t_cur", F.sum("n_cur").over(w_all)
    )
    exp = F.col("n_ref").cast("double") * F.col("t_cur") / F.col("t_ref")
    contrib = F.when(
        F.col("n_ref") > 0,
        (F.col("n_cur").cast("double") - exp) * (F.col("n_cur").cast("double") - exp) / exp,
    ).otherwise(None)
    return j.select(
        "bin",
        "n_ref",
        "n_cur",
        F.round(exp, 6).alias("expected6"),
        F.round(contrib, 6).alias("chi2_contrib6"),
    )


def target_encode_loo(
    df: DataFrame,
    cat_col: str,
    target_col: str,
    id_col: str,
    smoothing: float = 10.0,
) -> DataFrame:
    """Leave-one-out target encoding with prior smoothing
    (Micci-Barreca 2001, the standard tabular-ML categorical feature):
    each row's category is replaced by the mean target of the OTHER
    rows in that category, shrunk toward the global mean by
    ``smoothing`` pseudo-observations — the leave-one-out exclusion is
    what prevents the feature from leaking the row's own label.

    Determinism: category sums and the global sum accumulate in exact
    DECIMAL(18,6) (order-free — the same trick as the money
    aggregates), the row's own value subtracts in decimal, and only
    the FINAL expression runs one fixed sequence of double ops —
    bit-identical across engines, partitioning-independent.

    Plan shape: one shuffle on the category (window sum/count share
    the single partitioning); the global prior broadcasts as a 1-row
    aggregate. No Python, no per-category state beyond the window."""
    dec = F.col(target_col).cast("decimal(18,6)")
    w = Window.partitionBy(cat_col)
    g = df.select(
        id_col,
        cat_col,
        F.col(target_col),
        F.sum(dec).over(w).alias("__csum"),
        F.count(F.lit(1)).over(w).alias("n_cat"),
    )
    tot = df.agg(
        F.sum(dec).alias("__gsum"), F.count(F.lit(1)).alias("__gn")
    )
    gmean = (F.col("__gsum").cast("double") / F.col("__gn").cast("double")).alias(
        "__gmean"
    )
    out = g.crossJoin(F.broadcast(tot.select(gmean)))
    loo = (
        (F.col("__csum") - F.col(target_col).cast("decimal(18,6)")).cast("double")
        + F.lit(float(smoothing)) * F.col("__gmean")
    ) / ((F.col("n_cat") - 1).cast("double") + F.lit(float(smoothing)))
    return out.select(
        id_col,
        cat_col,
        target_col,
        F.col("n_cat").cast("long").alias("n_cat"),
        # n_cat = 1 needs no special case: numerator degenerates to
        # smoothing·global_mean and denominator to smoothing
        loo.alias("loo_te"),
    )


def equal_frequency_bins(
    df: DataFrame,
    cat_col: str,
    value_col: str,
    id_col: str,
    n_bins: int = 10,
) -> DataFrame:
    """Per-category equal-frequency discretization (quantile binning,
    the standard numeric-feature bucketizer): row's bin =
    ``(rank-1)·n_bins div n`` over the (value, id)-ordered rows of its
    category — pure integer rank arithmetic, so bins are exact and
    engine-portable (no percentile-interpolation convention to match,
    the same trick as winsorize). Bins are balanced within one row by
    construction. One shuffle: both windows share the category
    partitioning."""
    # NULLS LAST pinned explicitly: Spark's default asc ordering is
    # NULLS FIRST, DuckDB's is NULLS LAST — a nullable value column
    # would silently shift every rank between engines otherwise
    w = Window.partitionBy(cat_col).orderBy(
        F.col(value_col).asc_nulls_last(), F.col(id_col)
    )
    wc = Window.partitionBy(cat_col)
    d = df.select(
        id_col,
        cat_col,
        value_col,
        (F.row_number().over(w).cast("long") - 1).alias("__rn0"),
        F.count(F.lit(1)).over(wc).cast("long").alias("__n"),
    )
    # integer DIV, never float division: (rn0*k)/n in double can round
    # UP to the next integer for adversarial (rn0*k, n) and mis-bin a
    # boundary row after the long cast
    return d.select(
        id_col,
        cat_col,
        value_col,
        F.expr(f"__rn0 * {n_bins} DIV __n").cast("long").alias("bin"),
    )


def mad_outliers(
    df: DataFrame,
    key_col: str,
    value_col: str,
    tiebreak_col: str,
    k_times: int = 3,
) -> DataFrame:
    """Per-group robust outlier detection by Median Absolute Deviation
    (Hampel's rule, |x − median| > k·MAD) at EXACT order statistics:
    both medians are the LOWER median — the element at rank
    ⌈n/2⌉ = (n+1) DIV 2 under a fully-specified (value, tiebreak)
    NULLS LAST ordering — selected by integer rank arithmetic, so no
    percentile-interpolation convention exists to disagree on and the
    verdict is bit-exact across engines (deviations are IEEE ops on
    identically-selected doubles).

    Plan: two rank windows + two broadcast joins of group-cardinality
    bounds tables — the winsorize shape twice. Output: key, tiebreak,
    value, deviation (rounded for hashing), is_outlier."""
    from pyspark.sql import Window

    w = Window.partitionBy(key_col).orderBy(
        F.col(value_col).asc_nulls_last(), F.col(tiebreak_col).asc_nulls_last()
    )
    ranked = df.select(
        key_col,
        value_col,
        tiebreak_col,
        F.row_number().over(w).alias("__rn"),
        F.count(value_col).over(Window.partitionBy(key_col)).alias("__n"),
    )
    med_idx = F.expr("CAST((__n + 1) DIV 2 AS INT)")
    med = ranked.groupBy(key_col).agg(
        F.max(F.when(F.col("__rn") == med_idx, F.col(value_col))).alias("__med")
    )
    devs = df.join(F.broadcast(med), key_col).select(
        key_col,
        value_col,
        tiebreak_col,
        F.abs(F.col(value_col) - F.col("__med")).alias("__dev"),
        "__med",
    )
    w2 = Window.partitionBy(key_col).orderBy(
        F.col("__dev").asc_nulls_last(), F.col(tiebreak_col).asc_nulls_last()
    )
    ranked2 = devs.select(
        key_col,
        tiebreak_col,
        "__dev",
        F.row_number().over(w2).alias("__rn2"),
        F.count("__dev").over(Window.partitionBy(key_col)).alias("__n2"),
    )
    mad_idx = F.expr("CAST((__n2 + 1) DIV 2 AS INT)")
    mad = ranked2.groupBy(key_col).agg(
        F.max(F.when(F.col("__rn2") == mad_idx, F.col("__dev"))).alias("__mad")
    )
    out = devs.join(F.broadcast(mad), key_col)
    return out.select(
        key_col,
        tiebreak_col,
        value_col,
        F.round("__dev", 6).alias("dev6"),
        (F.col("__dev") > F.lit(float(k_times)) * F.col("__mad")).alias("is_outlier"),
    )


def k_anonymity(
    df: DataFrame, quasi_cols: Sequence[str], k: int = 10
) -> DataFrame:
    """k-anonymity audit over a quasi-identifier combination — the
    governance gate a training-data release runs before shipping
    (Sweeney 2002, public): every equivalence class of the quasi
    columns with fewer than ``k`` members re-identifies its rows.
    One map-side-combined aggregate; the report is class-cardinality
    sized. Output: quasi cols, class size, is_anonymous, plus the
    share of total rows the class holds (micro-units, exact). The
    total is a cross-joined broadcast 1-row aggregate INSIDE the plan
    (not an eager ``df.count()``), so building the report stays lazy
    and the input is scanned once per action, not twice."""
    classes = df.groupBy(*quasi_cols).agg(F.count(F.lit(1)).alias("class_size"))
    tot = classes.agg(F.greatest(F.sum("class_size"), F.lit(1)).alias("__tot"))
    return (
        classes.crossJoin(F.broadcast(tot))
        .select(
            *quasi_cols,
            "class_size",
            (F.col("class_size") >= k).alias("is_anonymous"),
            F.expr("(class_size * 1000000) DIV __tot").alias("share_micro"),
        )
    )


def incremental_agg_state(
    df: DataFrame, keys: Sequence[str], value_col: str
) -> DataFrame:
    """MERGEABLE per-group aggregate state — the materialized-view /
    incremental-rollup maintenance primitive: (count, exact DECIMAL
    sum, min, max) per key. Each component is associative and
    commutative, so states built per ingest wave fold into the state
    of the union without touching history (the aggregate twin of
    ``scd2_apply``). The sum stays DECIMAL inside the state — summing
    pre-cast doubles across merges would reintroduce the float-order
    nondeterminism the exact-decimal convention exists to kill — and
    the state carries it WIDE (decimal(38,6), 32 integer digits): at
    the 100 TB scale this primitive targets, a decimal(18,6) state
    would overflow after ~10¹² unit-scale values merged into one key
    (ANSI runtime error, or silent null with ANSI off) while the
    DuckDB oracle's SUM widens to DECIMAL(38,6) and survives
    (round-5 ADVICE). Consumers narrow/cast to double only at their
    final projection."""
    return df.groupBy(*keys).agg(
        F.count(value_col).alias("cnt"),
        F.sum(F.col(value_col).cast("decimal(18,6)"))
        .cast("decimal(38,6)")
        .alias("sum_dec"),
        F.min(value_col).alias("min_v"),
        F.max(value_col).alias("max_v"),
    )


def incremental_agg_merge(
    states: Sequence[DataFrame], keys: Sequence[str]
) -> DataFrame:
    """Fold any number of mergeable states into one: union + ONE
    map-side-combined aggregate (cnt: sum, sum: exact decimal sum,
    min: min, max: max). Provably equal to the state of the combined
    input — the law the graded key checks against the full-log
    oracle. O(Σ|state|), never O(history)."""
    from functools import reduce

    allst = reduce(lambda a, b: a.unionByName(b), states)
    # keep the merged sum at the state's full decimal(38,6) width —
    # narrowing here is exactly where a 100 TB merge would overflow
    return allst.groupBy(*keys).agg(
        F.sum("cnt").alias("cnt"),
        F.sum("sum_dec").cast("decimal(38,6)").alias("sum_dec"),
        F.min("min_v").alias("min_v"),
        F.max("max_v").alias("max_v"),
    )


def incremental_agg_apply_pruned(
    spark,
    state_dir: str,
    wave_state: DataFrame,
    keys: Sequence[str],
    n_buckets: int = 16,
) -> list[int]:
    """PARTITION-PRUNED incremental rollup apply — the 100 TB sink
    shape SCALE.md documents for s20/x_rollup_apply: the state table
    is laid out partitioned by ``__bucket = pmod(hash(keys),
    n_buckets)``; an ingest wave reads ONLY the partitions its keys
    hash into (a partition filter, so untouched state is never
    scanned), folds with :func:`incremental_agg_merge`, and
    dynamically overwrites only those partitions. Cost per wave is
    O(touched buckets), not O(state); a transactional table (MERGE)
    refines the same idea to file granularity. Returns the touched
    bucket ids (bounded by ``n_buckets`` — the only driver-side
    collect, metadata-sized by construction).

    Correctness rides the same mergeable-state law as the flat apply:
    fold components are commutative+associative with decimal(38,6)
    headroom, so bucket-local folding cannot change any value.

    Key columns are CAST to the persisted state's types before
    hashing: Spark's ``hash`` is type-sensitive, so an INT wave key
    against a BIGINT state key would bucket differently on the wave
    than on the merged (union-widened) rows — the write would then
    land in a partition that was never read, silently clobbering its
    other keys (caught by the byte-identity test). An in-plan guard
    additionally raises if any merged row buckets outside the touched
    set, so the invariant can never rot silently."""
    state = spark.read.parquet(state_dir)
    state_types = {f.name: f.dataType for f in state.schema.fields}
    wave_aligned = wave_state.select(
        *[F.col(k).cast(state_types[k]).alias(k) for k in keys],
        *[c for c in wave_state.columns if c not in keys],
    )
    bucket = F.pmod(F.hash(*[F.col(k) for k in keys]), F.lit(n_buckets))
    touched = sorted(
        r["__bucket"]
        for r in wave_aligned.select(bucket.alias("__bucket")).distinct().collect()
    )
    prev = state.filter(F.col("__bucket").isin(touched))
    merged = incremental_agg_merge(
        [prev.drop("__bucket"), wave_aligned], keys
    ).withColumn(
        "__bucket",
        F.when(bucket.isin(touched), bucket).otherwise(
            F.raise_error(
                F.concat(
                    F.lit(
                        "incremental_agg_apply_pruned: merged row buckets "
                        "outside the touched set: "
                    ),
                    bucket.cast("string"),
                )
            ).cast("int")
        ),
    )
    with sql_conf(spark, {"spark.sql.sources.partitionOverwriteMode": "dynamic"}):
        merged.write.mode("overwrite").partitionBy("__bucket").parquet(state_dir)
    return touched


def association_rules(
    df: DataFrame,
    basket_col: str,
    item_col: str,
    min_support: int,
) -> DataFrame:
    """Market-basket association rules over item PAIRS (Agrawal &
    Srikant 1994's a-priori, restricted to the 2-itemset level every
    recommendation pipeline actually serves): for each directed rule
    A→B with pair support ≥ ``min_support`` baskets, emit the exact
    counts and the derived ``support``/``confidence``/``lift``.

    All derived metrics are single divisions of exact BIGINT counts,
    so both engines produce bit-identical doubles.

    100 TB posture: the A-PRIORI PRUNE comes first — items below
    min_support cannot appear in a frequent pair, so the basket
    self-join runs on the pruned stream (the frequent-item filter is a
    semi-join on an aggregate ≤ Σcounts/min_support rows, which AQE
    may broadcast; never forced). The pair space is generated
    per-basket via ONE self-equi-join on the basket key — never a
    global cross product — and pair counts are map-side combined."""
    pairs_src = df.select(
        F.col(basket_col).alias("__b"), F.col(item_col).alias("__i")
    ).distinct()
    item_counts = pairs_src.groupBy("__i").agg(F.count(F.lit(1)).alias("__ic"))
    frequent = item_counts.filter(F.col("__ic") >= min_support)
    pruned = pairs_src.join(frequent.select("__i"), "__i", "semi")
    a = pruned.select(F.col("__b"), F.col("__i").alias("item_a"))
    b = pruned.select(F.col("__b"), F.col("__i").alias("item_b"))
    pair_counts = (
        a.join(b, "__b")
        .filter(F.col("item_a") < F.col("item_b"))
        .groupBy("item_a", "item_b")
        .agg(F.count(F.lit(1)).alias("pair_count"))
        .filter(F.col("pair_count") >= min_support)
    )
    n_baskets = pairs_src.agg(
        F.count_distinct("__b").alias("n_baskets")
    )  # 1-row aggregate, broadcast — the plan stays fully lazy
    ca = frequent.select(F.col("__i").alias("item_a"), F.col("__ic").alias("count_a"))
    cb = frequent.select(F.col("__i").alias("item_b"), F.col("__ic").alias("count_b"))
    undirected = (
        pair_counts.join(ca, "item_a").join(cb, "item_b")
        .crossJoin(F.broadcast(n_baskets))
    )
    # both rule directions via ONE explode instead of a fwd/rev union:
    # union branches duplicate the whole pair-mining subtree in the
    # physical plan (the basket self-join ran twice per action — the
    # triangle_count lesson); the exploded pair of structs emits the
    # identical row set from a single pass
    rules = undirected.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("item_a").alias("antecedent"),
                    F.col("item_b").alias("consequent"),
                    F.col("pair_count"),
                    F.col("count_a").alias("ante_count"),
                    F.col("count_b").alias("cons_count"),
                    F.col("n_baskets"),
                ),
                F.struct(
                    F.col("item_b").alias("antecedent"),
                    F.col("item_a").alias("consequent"),
                    F.col("pair_count"),
                    F.col("count_b").alias("ante_count"),
                    F.col("count_a").alias("cons_count"),
                    F.col("n_baskets"),
                ),
            )
        ).alias("__r")
    ).select("__r.*")
    return rules.select(
        "antecedent", "consequent", "pair_count", "ante_count", "cons_count",
        "n_baskets",
        (F.col("pair_count").cast("double") / F.col("n_baskets").cast("double")
         ).alias("support"),
        (F.col("pair_count").cast("double") / F.col("ante_count")).alias("confidence"),
        ((F.col("pair_count") * F.col("n_baskets")).cast("double")
         / (F.col("ante_count") * F.col("cons_count")).cast("double")).alias("lift"),
    )


def holt_linear(
    df: DataFrame,
    key_col: str,
    order_cols: Sequence[str],
    value_col: str,
    alpha: float = 0.5,
    beta: float = 0.25,
    horizons: Sequence[int] = (1, 3),
) -> DataFrame:
    """Holt's linear-trend double exponential smoothing per key (Holt
    1957, public): ``l_t = α·v_t + (1−α)·(l_{t−1} + b_{t−1})``,
    ``b_t = β·(l_t − l_{t−1}) + (1−β)·b_{t−1}`` with ``l_1 = v_1,
    b_1 = 0``; emits the final state and ``forecast_h = l + h·b``.

    The fold runs entirely JVM-side: one groupBy collects each key's
    ordered history (bounded by per-key history length — the same
    contract as sequence packing) and ONE ``aggregate`` higher-order
    function evaluates the recurrence in whole-stage codegen — no
    Python, no per-row UDF. α/β default to binary-exact constants and
    every step is plain IEEE double arithmetic in history order, so a
    recursive-CTE oracle replays the state bit-for-bit.

    At 100 TB: one shuffle on the key; the fold is map-side O(history)
    per key with O(1) state; forecasts are a projection."""
    a, ac = float(alpha), 1.0 - float(alpha)
    be, bc = float(beta), 1.0 - float(beta)
    hist = df.groupBy(F.col(key_col).alias("key")).agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    *[F.col(c).alias(f"o{i}") for i, c in enumerate(order_cols)],
                    F.col(value_col).cast("double").alias("v"),
                )
            )
        ).alias("h")
    )
    init = F.struct(
        F.lit(0.0).alias("l"), F.lit(0.0).alias("b"),
        F.lit(0).cast("int").alias("n"),
    )

    def _step(acc, x):
        # duplicated l_new expression = identical IEEE op sequence in
        # both fields (and in the oracle's lateral-alias CTE)
        l_new = F.lit(a) * x["v"] + F.lit(ac) * (acc["l"] + acc["b"])
        return F.when(
            acc["n"] == 0,
            F.struct(
                x["v"].alias("l"), F.lit(0.0).alias("b"),
                F.lit(1).cast("int").alias("n"),
            ),
        ).otherwise(
            F.struct(
                l_new.alias("l"),
                (F.lit(be) * (l_new - acc["l"]) + F.lit(bc) * acc["b"]).alias("b"),
                (acc["n"] + 1).alias("n"),
            )
        )

    state = hist.select(
        "key", F.aggregate("h", init, _step).alias("s")
    ).filter(F.col("s.n") > 0)
    fc = [
        (F.col("s.l") + F.lit(float(h)) * F.col("s.b")).alias(f"forecast_{h}")
        for h in horizons
    ]
    return state.select(
        F.col("key").alias(key_col),
        F.col("s.n").cast("long").alias("n_obs"),
        F.col("s.l").alias("level"),
        F.col("s.b").alias("trend"),
        *fc,
    )


def conversion_attribution(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    event_id_col: str,
    type_col: str,
    touch_types: Sequence[str],
    conversion_type: str,
    value_col: str,
) -> DataFrame:
    """Multi-touch attribution — the marketing-analytics workhorse:
    each conversion claims every touchpoint since the user's previous
    conversion, and credit is emitted under the three standard models
    at once (first-touch, last-touch, linear = value/n_touches).

    Sessionless formulation as pure window algebra: a running count of
    conversions assigns every event its conversion GROUP (touches with
    g prior conversions belong to conversion g+1), one keyed join
    attaches touches to their conversion, and per-group ranks mark
    first/last. The linear share is ONE double division of the exact
    conversion value by the exact BIGINT touch count — cross-engine
    bit-identical.

    At 100 TB: both windows and the group join reuse ONE hash
    partitioning on the user key; no window ever spans users, state is
    O(1) per row, and the join key (user, conv_idx) inherits the
    user partitioning."""
    w = Window.partitionBy(user_col).orderBy(ts_col, event_id_col)
    is_conv = (F.col(type_col) == conversion_type).cast("long")
    seq = df.select(
        user_col, ts_col, event_id_col, type_col, value_col
    ).withColumn(
        "__convs_incl",
        F.sum(is_conv).over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    touches = seq.filter(F.col(type_col).isin(*touch_types)).select(
        F.col(user_col).alias("user_id"),
        (F.col("__convs_incl") + 1).alias("__conv_idx"),
        F.col(event_id_col).alias("touch_event_id"),
        F.col(type_col).alias("touch_type"),
        F.col(ts_col).alias("__touch_ts"),
    )
    convs = seq.filter(F.col(type_col) == conversion_type).select(
        F.col(user_col).alias("user_id"),
        F.col("__convs_incl").alias("__conv_idx"),
        F.col(event_id_col).alias("conv_event_id"),
        F.col(value_col).alias("__conv_value"),
    )
    j = touches.join(convs, ["user_id", "__conv_idx"])
    gw = Window.partitionBy("user_id", "__conv_idx")
    ranked = j.select(
        "user_id", "conv_event_id", "touch_event_id", "touch_type",
        F.row_number()
        .over(gw.orderBy("__touch_ts", "touch_event_id"))
        .alias("__rk"),
        F.count(F.lit(1)).over(gw).cast("long").alias("n_touches"),
        "__conv_value",
    )
    return ranked.select(
        "user_id", "conv_event_id", "touch_event_id", "touch_type",
        "n_touches",
        (F.col("__rk") == 1).alias("first_credit"),
        (F.col("__rk") == F.col("n_touches")).alias("last_credit"),
        (F.col("__conv_value").cast("double")
         / F.col("n_touches").cast("double")).alias("linear_value"),
    )


def zscore_prefix_anomaly(
    df: DataFrame,
    key_col: str,
    order_cols: Sequence[str],
    id_col: str,
    value_col: str,
    z: int = 3,
    min_n: int = 5,
) -> DataFrame:
    """Per-key streaming-shaped anomaly flags: each event is scored
    against the mean/stddev of its STRICT PREFIX (the events before it
    in ``order_cols`` order) — exactly what an online monitor knows at
    arrival time, so the batch result is the replay of the streaming
    twin (``s22_stream_zscore`` shares this oracle verbatim).

    Exactness: values quantize to BIGINT micro-units and the z-test is
    squared into pure integer arithmetic —

        |x − μ| > z·σ   ⟺   (n·x − S1)² > z²·(n·S2 − S1²)

    (both sides × n²) — computed in DECIMAL(38,0) on the Spark side
    and HUGEINT in DuckDB, so there is no float epsilon and no
    sqrt/stddev convention to straddle. Headroom: exact while
    n·|x_micro| < 10¹⁹ per key (n < ~2·10¹⁰ events at the corpus's
    value range) — far past any per-key history a monitor keeps.

    ONE shuffle on the key; the prefix window reuses that
    partitioning. σ = 0 prefixes flag any deviation (rhs = 0);
    prefixes shorter than ``min_n`` never flag.

    Output: ``(key, id, x_micro, n_prev, is_anomaly)``."""
    w = (
        Window.partitionBy(key_col)
        .orderBy(*[F.col(c).asc() for c in order_cols])
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    x = F.floor(F.col(value_col).cast("double") * F.lit(1000000.0)).cast("long")
    base = df.select(
        F.col(key_col), *[F.col(c) for c in order_cols], x.alias("x_micro")
    )

    def D(c):
        return c.cast("decimal(38,0)")

    xm = F.col("x_micro")
    n = F.count("x_micro").over(w)
    s1 = F.sum("x_micro").over(w)
    s2 = F.sum(D(xm) * D(xm)).over(w)
    lhs_base = D(n) * D(xm) - D(s1)
    lhs = lhs_base * lhs_base
    rhs = F.lit(z * z).cast("decimal(38,0)") * (D(n) * s2 - D(s1) * D(s1))
    return base.select(
        F.col(key_col),
        F.col(id_col),
        xm,
        n.alias("n_prev"),
        F.when((n >= min_n) & (lhs > rhs), F.lit(True))
        .otherwise(F.lit(False))
        .alias("is_anomaly"),
    )


def holt_winters_additive(
    df: DataFrame,
    key_col: str,
    order_cols: Sequence[str],
    value_col: str,
    m: int = 4,
    alpha: float = 0.5,
    beta: float = 0.25,
    gamma: float = 0.5,
    horizons: Sequence[int] = (1, 2),
) -> DataFrame:
    """Additive Holt-Winters triple exponential smoothing per key
    (Winters 1960, public): level + trend + an m-slot seasonal cycle,

        l_t = α·(v_t − s_{t−m}) + (1−α)·(l_{t−1} + b_{t−1})
        b_t = β·(l_t − l_{t−1}) + (1−β)·b_{t−1}
        s_t = γ·(v_t − l_t) + (1−γ)·s_{t−m}

    with the deterministic cold-start convention ``l_1 = v_1, b_1 = 0,
    seasons all 0`` (observation t occupies slot (t−1) mod m). α/β/γ
    default to binary-exact constants and the fold is ONE JVM-side
    ``aggregate`` HOF over each key's ordered history — the same
    single-shuffle, O(1)-state shape as ``holt_linear`` — so the
    recursive-CTE oracle replays every IEEE op in order (l_t appears
    duplicated in the trend and season updates on BOTH engines).

    Output: final state (level, trend, season_0..season_{m−1}) and
    ``forecast_h = l + h·b + s_slot(n+h)``, all unrounded."""
    a, ac = float(alpha), 1.0 - float(alpha)
    be, bc = float(beta), 1.0 - float(beta)
    g, gc = float(gamma), 1.0 - float(gamma)
    hist = df.groupBy(F.col(key_col).alias("key")).agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    *[F.col(c).alias(f"o{i}") for i, c in enumerate(order_cols)],
                    F.col(value_col).cast("double").alias("v"),
                )
            )
        ).alias("h")
    )
    init = F.struct(
        F.lit(0.0).alias("l"),
        F.lit(0.0).alias("b"),
        *[F.lit(0.0).alias(f"s{k}") for k in range(m)],
        F.lit(0).cast("int").alias("n"),
    )

    def _slot_sel(slot, fields):
        sel = fields[m - 1]
        for k in range(m - 2, -1, -1):
            sel = F.when(slot == k, fields[k]).otherwise(sel)
        return sel

    def _step(acc, x):
        slot = acc["n"] % m
        s_prev = _slot_sel(slot, [acc[f"s{k}"] for k in range(m)])
        l_new = F.lit(a) * (x["v"] - s_prev) + F.lit(ac) * (acc["l"] + acc["b"])
        seasons = [
            F.when(
                slot == k,
                F.lit(g) * (x["v"] - l_new) + F.lit(gc) * acc[f"s{k}"],
            )
            .otherwise(acc[f"s{k}"])
            .alias(f"s{k}")
            for k in range(m)
        ]
        return F.when(
            acc["n"] == 0,
            F.struct(
                x["v"].alias("l"),
                F.lit(0.0).alias("b"),
                *[F.lit(0.0).alias(f"s{k}") for k in range(m)],
                F.lit(1).cast("int").alias("n"),
            ),
        ).otherwise(
            F.struct(
                l_new.alias("l"),
                (F.lit(be) * (l_new - acc["l"]) + F.lit(bc) * acc["b"]).alias("b"),
                *seasons,
                (acc["n"] + 1).alias("n"),
            )
        )

    state = hist.select(
        "key", F.aggregate("h", init, _step).alias("s")
    ).filter(F.col("s.n") > 0)
    n_final = F.col("s.n").cast("long")
    fc = []
    for h in horizons:
        slot_h = (F.col("s.n") + (h - 1)) % m
        s_h = _slot_sel(slot_h, [F.col(f"s.s{k}") for k in range(m)])
        fc.append(
            (F.col("s.l") + F.lit(float(h)) * F.col("s.b") + s_h).alias(
                f"forecast_{h}"
            )
        )
    return state.select(
        F.col("key").alias(key_col),
        n_final.alias("n_obs"),
        F.col("s.l").alias("level"),
        F.col("s.b").alias("trend"),
        *[F.col(f"s.s{k}").alias(f"season_{k}") for k in range(m)],
        *fc,
    )


def markov_transitions(
    df: DataFrame,
    key_col: str,
    order_cols: Sequence[str],
    state_col: str,
    prob_scale: int = 1_000_000,
) -> DataFrame:
    """First-order Markov transition matrix of a categorical event
    stream (the user-journey "what follows what" model behind
    next-action prediction and anomaly screens): per key, consecutive
    event pairs in ``order_cols`` order; globally, counts per
    (from_state, to_state) and the row-conditional probability as an
    EXACT integer rational ``p_micro = (n_pair·scale) DIV n_from`` —
    no float division to straddle.

    One lead-window pass (shuffle on the key) + one pair aggregate;
    both map-side combine. State-space-sized output."""
    w = Window.partitionBy(key_col).orderBy(
        *[F.col(c).asc() for c in order_cols]
    )
    pairs = (
        df.select(
            F.col(state_col).alias("from_state"),
            F.lead(F.col(state_col)).over(w).alias("to_state"),
        )
        .filter(F.col("to_state").isNotNull())
        .groupBy("from_state", "to_state")
        .agg(F.count(F.lit(1)).alias("n_pair"))
    )
    totals = pairs.groupBy("from_state").agg(F.sum("n_pair").alias("n_from"))
    return pairs.join(totals, "from_state").select(
        "from_state",
        "to_state",
        "n_pair",
        "n_from",
        F.expr(f"(n_pair * {prob_scale}) DIV n_from").alias("p_micro"),
    )


def churn_labels(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    id_col: str,
    horizon_days: int = 7,
) -> DataFrame:
    """Gap-based churn labeling — the standard supervised-training
    label a retention model consumes: an event is labeled churned when
    the SAME key produces no activity within ``horizon_days`` after
    it. Events whose horizon extends past the corpus's last observed
    timestamp cannot be labeled honestly and are flagged ``censored``
    instead (never silently labeled — the survival-analysis
    convention).

    Exact integer arithmetic on epoch micros; one shuffle on the key
    (lead window), one scalar corpus-max attach."""
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    w = Window.partitionBy(key_col).orderBy(us.asc(), F.col(id_col).asc())
    horizon_us = horizon_days * 86_400_000_000
    base = df.select(
        F.col(key_col),
        F.col(id_col),
        us.alias("ts_us"),
        F.lead(us).over(w).alias("next_us"),
    )
    mx = df.select(F.max(us).alias("corpus_max_us"))
    return base.crossJoin(F.broadcast(mx)).select(
        key_col,
        id_col,
        (F.col("corpus_max_us") - F.col("ts_us") < horizon_us).alias("censored"),
        F.when(
            F.col("corpus_max_us") - F.col("ts_us") < horizon_us, F.lit(False)
        )
        .otherwise(
            F.coalesce(
                F.col("next_us") - F.col("ts_us") > horizon_us, F.lit(True)
            )
        )
        .alias("churned"),
    )


def weighted_median(
    df: DataFrame,
    group_col: str,
    value_col: str,
    weight_col: str,
) -> DataFrame:
    """Per-group WEIGHTED lower median: the smallest value whose
    cumulative weight reaches half the group's total —
    ``2·cum_w ≥ total_w`` in pure integer arithmetic (no percentile
    interpolation convention, no float). Ties in value break by the
    value ordering itself (cumulative weight is monotone). One shuffle
    on the group; the cumulative window reuses it."""
    w = Window.partitionBy(group_col).orderBy(F.col(value_col).asc())
    tot = Window.partitionBy(group_col)
    ranked = df.select(
        F.col(group_col),
        F.col(value_col),
        F.sum(weight_col).over(w).alias("cum_w"),
        F.sum(weight_col).over(tot).alias("total_w"),
    ).filter(F.lit(2) * F.col("cum_w") >= F.col("total_w"))
    pick = Window.partitionBy(group_col).orderBy(F.col(value_col).asc())
    return (
        ranked.withColumn("__rn", F.row_number().over(pick))
        .filter(F.col("__rn") == 1)
        .select(
            F.col(group_col),
            F.col(value_col).alias("weighted_median"),
            "cum_w",
            "total_w",
        )
    )


#: Benford first-digit probabilities log10(1+1/d) in integer
#: micro-units — computed ONCE (Python, documented values) and embedded
#: as the SAME literals in the Spark plan and the DuckDB oracle, so no
#: cross-engine log/rounding convention exists anywhere.
BENFORD_MICRO: tuple[tuple[int, int], ...] = (
    (1, 301030), (2, 176091), (3, 124939), (4, 96910), (5, 79181),
    (6, 66947), (7, 57992), (8, 51153), (9, 45757),
)


def benford_profile(
    df: DataFrame,
    amount_col: str,
    cents_scale: int = 100,
) -> DataFrame:
    """First-significant-digit profile vs Benford's law (Newcomb 1881 /
    Benford 1938, public — the standard fraud/data-quality screen for
    financial amounts). Digit extraction is EXACT: the decimal amount
    scales to integer cents, and the first digit is the first
    character of the integer's decimal string — no log10/power float
    path with its boundary hazard at powers of ten. The cent scaling
    ROUNDS to nearest on BOTH engines via an explicit round() (a bare
    integer cast truncates in Spark but rounds in DuckDB — a
    0.03-valued double sits just below 3 cents and would extract digit
    2 vs 3); a product landing exactly on .5 is unrepresentable for
    cent-valued doubles ((2n+1)/200 carries a factor 25 in the
    denominator), so the engines' differing half conventions never
    fire and the rounded cents are identical. Observed shares
    are integer rationals (micro-units, DIV); expected shares are the
    embedded literal table. Output per digit: count, observed and
    expected micro-probabilities, absolute deviation.

    One map-side-combined 9-group aggregate; scale-trivial."""
    cents = F.round(F.col(amount_col) * cents_scale).cast("long")
    digit = F.substring(cents.cast("string"), 1, 1).cast("int")
    counts = (
        df.filter(F.col(amount_col) > 0)
        .select(digit.alias("digit"))
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n_obs"))
    )
    total = counts.agg(F.sum("n_obs").alias("__N"))
    exp = counts.sparkSession.createDataFrame(
        list(BENFORD_MICRO), "digit INT, p_benford_micro BIGINT"
    )
    return (
        counts.crossJoin(F.broadcast(total))
        .join(exp, "digit")
        .select(
            "digit",
            "n_obs",
            F.expr("(n_obs * 1000000) DIV __N").alias("p_obs_micro"),
            "p_benford_micro",
            F.abs(
                F.expr("(n_obs * 1000000) DIV __N") - F.col("p_benford_micro")
            ).alias("dev_micro"),
        )
    )


def auc_exact(
    df: DataFrame,
    score_col: str,
    label_col: str,
) -> DataFrame:
    """EXACT ROC-AUC via the Mann-Whitney U statistic with average-rank
    tie handling — the model-eval number an ML platform must get
    bit-stable (a float rank-sum drifts run to run; this one cannot):
    per-SCORE aggregation first (map-side combine over the corpus),
    then rank algebra over the DISTINCT-score table only. Average
    ranks are kept doubled (min+max of each tie group = 2·cum_before +
    n_s + 1) so everything stays integer; the final ratio is
    ``(2·ΣR_pos − 2·nPos(nPos+1)/2)·10⁶ DIV (2·nPos·nNeg)`` in
    DECIMAL(38,0) — headroom to ~10¹² rows.

    The distinct-score window is a single global frame — deliberately:
    an integer-micro model's score space is bounded (≤10⁷ values
    here), orders of magnitude below the corpus, which is exactly why
    exact AUC is computed on the score histogram and never on raw
    rows. Output: ``(n_pos, n_neg, auc_micro)``."""
    per = df.groupBy(F.col(score_col).alias("s")).agg(
        F.count(F.lit(1)).alias("n_s"),
        F.sum(F.col(label_col).cast("long")).alias("pos_s"),
    )
    w = (
        Window.orderBy(F.col("s").asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = per.select(
        "s",
        "n_s",
        "pos_s",
        F.coalesce(F.sum("n_s").over(w), F.lit(0)).alias("cum_before"),
    )

    def D(c):
        return c.cast("decimal(38,0)")

    agg = cum.agg(
        F.sum(
            D(F.col("pos_s"))
            * (D(F.lit(2)) * D(F.col("cum_before")) + D(F.col("n_s")) + D(F.lit(1)))
        ).alias("sum_r2"),
        F.sum("pos_s").alias("n_pos"),
        F.sum(F.col("n_s") - F.col("pos_s")).alias("n_neg"),
    )
    u2 = F.col("sum_r2") - D(F.col("n_pos")) * (D(F.col("n_pos")) + D(F.lit(1)))
    return agg.select(
        F.col("n_pos").cast("long").alias("n_pos"),
        F.col("n_neg").cast("long").alias("n_neg"),
        F.expr(
            "CAST((sum_r2 - CAST(n_pos AS DECIMAL(38,0))"
            " * (CAST(n_pos AS DECIMAL(38,0)) + 1)) * 1000000"
            " DIV (2 * CAST(n_pos AS DECIMAL(38,0))"
            " * CAST(n_neg AS DECIMAL(38,0))) AS BIGINT)"
        ).alias("auc_micro"),
    )


def calibration_bins(
    df: DataFrame,
    score_col: str,
    label_col: str,
    id_col: str,
    n_bins: int = 10,
) -> DataFrame:
    """Reliability table (calibration curve data) in exact integer
    arithmetic: equal-frequency score bins via ntile over the
    deterministic total order (score, id) — both engines implement
    SQL-standard ntile (first n mod b buckets take the extra row) —
    with per-bin count, positives, and the observed positive rate as
    an integer rational. The eval-set-sized global sort is the
    documented budget of any exact reliability diagram."""
    w = Window.orderBy(F.col(score_col).asc(), F.col(id_col).asc())
    b = df.select(
        F.col(score_col).alias("s"),
        F.col(id_col),
        F.col(label_col).cast("long").alias("y"),
        F.ntile(n_bins).over(w).alias("bin"),
    )
    return (
        b.groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("y").alias("n_pos"),
            F.min("s").alias("score_lo"),
            F.max("s").alias("score_hi"),
        )
        .select(
            "bin",
            "n",
            "n_pos",
            F.expr("(n_pos * 1000000) DIV n").alias("pos_rate_micro"),
            "score_lo",
            "score_hi",
        )
    )


def ks_drift(
    df: DataFrame,
    ref_pred: Column,
    value_col: str,
    bucket_scale: int = 1,
) -> DataFrame:
    """Binned two-sample Kolmogorov–Smirnov statistic — the CUMULATIVE
    drift monitor next to the χ² one (χ² sees per-bin deviation; KS
    sees distribution-shape walk: location/scale shifts that spread
    thinly across bins). Values quantize to integer buckets
    (floor(v·scale)); the binned D is the exact KS statistic of the
    bucketed distributions (both ECDFs step only at bucket edges, so
    the supremum is attained there). Everything integer: D's numerator
    is max |n_cur·cumref − n_ref·cumcur| in DECIMAL(38,0) — exact to
    ~10¹⁵ rows per side — and D itself ships as micro-units by DIV.

    Per-bucket aggregation map-side combines the corpus; the running
    window sees only the distinct-bucket table (bounded by the value
    range by construction — the AUC histogram shape). Output one row:
    ``(n_ref, n_cur, d_num, d_micro)``."""
    b = df.select(
        F.floor(F.col(value_col).cast("double") * F.lit(float(bucket_scale)))
        .cast("long")
        .alias("bucket"),
        ref_pred.cast("int").alias("is_ref"),
    )
    per = b.groupBy("bucket").agg(
        F.sum("is_ref").alias("rb"),
        F.sum(F.lit(1) - F.col("is_ref")).alias("cb"),
    )
    w = (
        Window.orderBy(F.col("bucket").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = per.select(
        F.sum("rb").over(w).alias("c_ref"),
        F.sum("cb").over(w).alias("c_cur"),
    )
    tot = per.agg(F.sum("rb").alias("n_ref"), F.sum("cb").alias("n_cur"))

    def D(c):
        return c.cast("decimal(38,0)")

    d = cum.crossJoin(F.broadcast(tot)).select(
        F.abs(
            D(F.col("n_cur")) * D(F.col("c_ref"))
            - D(F.col("n_ref")) * D(F.col("c_cur"))
        ).alias("dn"),
        "n_ref",
        "n_cur",
    )
    return d.groupBy().agg(
        F.max("n_ref").alias("n_ref"),
        F.max("n_cur").alias("n_cur"),
        F.max("dn").cast("long").alias("d_num"),
    ).select(
        "n_ref",
        "n_cur",
        "d_num",
        F.expr("(CAST(d_num AS DECIMAL(38,0)) * 1000000)"
               " DIV (CAST(n_ref AS DECIMAL(38,0)) * n_cur)").alias("d_micro"),
    )


def rare_category_collapse(
    df: DataFrame,
    cat_col: str,
    id_col: str,
    min_count: int,
    other_label: str = "__other__",
) -> DataFrame:
    """Frequency-based rare-category collapsing — the standard
    categorical-feature hygiene step (unbounded-cardinality columns
    blow up one-hot/embedding tables and leak PII-ish long-tail
    values; everything below ``min_count`` folds into one bucket).
    Returns the encoded rows ``(id, category, encoded_category,
    category_count)`` — a total map, deterministic, trivially
    invertible for audit.

    One count aggregate on the category key + one equi-join back on
    that key (category table is vocabulary-sized; strategy unhinted)."""
    counts = df.groupBy(cat_col).agg(F.count(F.lit(1)).alias("category_count"))
    return (
        df.select(id_col, cat_col)
        .join(counts, cat_col)
        .select(
            F.col(id_col),
            F.col(cat_col).alias("category"),
            F.when(F.col("category_count") >= min_count, F.col(cat_col))
            .otherwise(F.lit(other_label))
            .alias("encoded_category"),
            "category_count",
        )
    )


def welch_t2(
    df: DataFrame,
    group_pred: Column,
    value_col: str,
    scale: int = 10,
) -> DataFrame:
    """Welch's t statistic (squared) between two populations in EXACT
    rational arithmetic — the A/B-test significance primitive made
    bit-stable: values quantize to integer centi-units and

        t² = D²·(nA−1)·(nB−1) / [ (nA·S2A − S1A²)·nB²·(nB−1)
                                 + (nB·S2B − S1B²)·nA²·(nA−1) ]

    with D = S1A·nB − S1B·nA — every term a DECIMAL(38,0)/HUGEINT
    integer, output as micro-units by the split integer division
    ``q·10⁶ + ((num − q·den)·10⁶) DIV den`` (q = num DIV den), which
    equals ⌊num·10⁶/den⌋ exactly while never forming num·10⁶ — the
    product that would overflow first. No sqrt, no float
    mean/variance convention, no run-to-run drift. Headroom with the
    default deci quantization: num = D²·nA·nB < 10³⁸ holds to ~10⁵
    rows/side at this value range; drop ``scale`` to widen further.

    One map-side-combined 2-group aggregate; scale-trivial. Output:
    ``(n_a, n_b, t2_micro, significant)`` with the significance cut
    at t² > 4 (≈ |t| > 2, the conventional 95%-ish line), evaluated
    overflow-free as ``num > 4·den``."""
    x = F.floor(F.col(value_col).cast("double") * F.lit(float(scale))).cast(
        "long"
    )
    g = df.select(group_pred.cast("int").alias("ga"), x.alias("x"))
    agg = g.agg(
        F.sum("ga").alias("n_a"),
        F.sum(F.lit(1) - F.col("ga")).alias("n_b"),
        F.sum(F.col("ga") * F.col("x")).alias("s1a"),
        F.sum((F.lit(1) - F.col("ga")) * F.col("x")).alias("s1b"),
        F.sum(
            F.col("ga").cast("decimal(38,0)")
            * F.col("x").cast("decimal(38,0)")
            * F.col("x").cast("decimal(38,0)")
        ).alias("s2a"),
        F.sum(
            (F.lit(1) - F.col("ga")).cast("decimal(38,0)")
            * F.col("x").cast("decimal(38,0)")
            * F.col("x").cast("decimal(38,0)")
        ).alias("s2b"),
    )
    D = "(CAST(s1a AS DECIMAL(38,0)) * n_b - CAST(s1b AS DECIMAL(38,0)) * n_a)"
    num = f"({D} * {D} * (n_a - 1) * (n_b - 1))"
    den = (
        "((CAST(n_a AS DECIMAL(38,0)) * s2a"
        " - CAST(s1a AS DECIMAL(38,0)) * s1a)"
        " * n_b * n_b * (n_b - 1)"
        " + (CAST(n_b AS DECIMAL(38,0)) * s2b"
        " - CAST(s1b AS DECIMAL(38,0)) * s1b)"
        " * n_a * n_a * (n_a - 1))"
    )
    q = f"({num} DIV {den})"
    return agg.select(
        "n_a",
        "n_b",
        F.expr(
            f"CAST({q} * 1000000 + (({num} - {q} * {den}) * 1000000)"
            f" DIV {den} AS BIGINT)"
        ).alias("t2_micro"),
        F.expr(f"{num} > 4 * {den}").alias("significant"),
    )


def psi_drift(
    df: DataFrame,
    ref_pred: Column,
    value_col: str,
    n_bins: int = 10,
    lo: float = 0.0,
    hi: float = 500.0,
) -> DataFrame:
    """Population Stability Index — THE model-monitoring drift number
    in industry scorecards: PSI = Σ_bins (p_i − q_i)·ln(p_i/q_i) over
    equal-width bins with add-one smoothing (so empty bins are finite,
    the standard convention). χ² (per-bin) and KS (cumulative) live
    beside it; PSI is what risk teams alert on (rule of thumb:
    > 0.1 drifting, > 0.25 action).

    Exactness: shares are integer-rational micro-units; the single
    transcendental — ln(p/q) — is computed from the SAME integer-exact
    rational by the identical ``round(ln(·)·10⁶)`` SQL text on both
    engines (the DSIR ln-micro recipe; a boundary-distance test pins
    every graded value away from the .5 micro boundary, so a last-ulp
    libm difference cannot flip a unit). PSI itself is then a pure
    integer dot product of micro columns.

    One map-side-combined histogram; bin-table-sized everything after.
    Output: one row per bin (counts, shares, ln-ratio, term) with the
    corpus-level ``psi_micro`` repeated on every row (window sum over
    the bin table)."""
    bw = (hi - lo) / n_bins
    bin_id = F.least(
        F.lit(n_bins - 1),
        F.greatest(F.lit(0), F.floor((F.col(value_col) - lo) / bw).cast("int")),
    )
    tagged = df.select(bin_id.alias("bin"), ref_pred.cast("int").alias("is_ref"))
    cells = tagged.groupBy("bin").agg(
        F.sum("is_ref").alias("rb"),
        F.sum(F.lit(1) - F.col("is_ref")).alias("cb"),
    )
    return psi_from_cells(cells, n_bins)


def psi_from_cells(cells: DataFrame, n_bins: int) -> DataFrame:
    """PSI finish over per-bin ``(bin, rb, cb)`` counts — factored out
    so the streaming twin (s24) computes the report from its
    GroupState histogram with the IDENTICAL expression tree (and both
    share one oracle)."""
    # densify: every bin present so smoothing applies uniformly
    bins = cells.sparkSession.range(n_bins).select(F.col("id").cast("int").alias("bin"))
    cells = (
        bins.join(cells, "bin", "left")
        .select(
            "bin",
            F.coalesce("rb", F.lit(0)).alias("rb"),
            F.coalesce("cb", F.lit(0)).alias("cb"),
        )
    )
    w = Window.partitionBy()
    tot = cells.select(
        "bin", "rb", "cb",
        F.sum("rb").over(w).alias("R"),
        F.sum("cb").over(w).alias("C"),
    )
    from mapr_plugins_spark.functions.portable_hash import (
        portable_ln_micro_sql,
    )

    # CAST every operand to DOUBLE explicitly: Spark parses a bare 1.0
    # literal as DECIMAL under ANSI (the whole ratio then runs in
    # scale-truncated decimal arithmetic) while DuckDB parses it as
    # DOUBLE — the exact cross-engine divergence class the portable ln
    # exists to kill. The CAST text is valid and double-typed in BOTH
    # dialects.
    ln_micro = portable_ln_micro_sql(
        f"(CAST(rb + 1 AS DOUBLE) * CAST(C + {n_bins} AS DOUBLE))"
        f" / (CAST(cb + 1 AS DOUBLE) * CAST(R + {n_bins} AS DOUBLE))"
    )
    terms = tot.select(
        "bin", "rb", "cb",
        F.expr(f"((rb + 1) * 1000000) DIV (R + {n_bins})").alias("p_micro"),
        F.expr(f"((cb + 1) * 1000000) DIV (C + {n_bins})").alias("q_micro"),
        F.expr(ln_micro).alias("ln_ratio_micro"),
    ).select(
        "bin", "rb", "cb", "p_micro", "q_micro", "ln_ratio_micro",
        F.expr(
            "((p_micro - q_micro) * ln_ratio_micro) DIV 1000000"
        ).alias("term_micro"),
    )
    return terms.select(
        "*", F.sum("term_micro").over(Window.partitionBy()).alias("psi_micro")
    )

"""Mergeable frequency sketches: count-min + a bloom-filter key set.

Companions to the HLL distinct sketches (reg_sketch_graph.py::x_sketch_hll) on
the approximate-analytics surface the reference's host engines provide.
Both are built from the engine-portable seeded hash
(functions/portable_hash.py), so the *entire* sketch — cell counts and
estimates — is a pure function of the data and reproducible in the
DuckDB oracle: the driver hash-compares estimated frequencies exactly.

Scale posture:
- The CMS is a ``d × w`` table of counts produced by ONE partial-agg
  shuffle over the token stream (d seed-replicas per row, map-side
  combine does most of the work). Sketches for different partitions /
  days merge by summing cells — the property that makes CMS the
  standard for streaming heavy-hitters at 100 TB.
- The bloom build aggregates key bit-positions into a bitset of
  ``m/64`` longs (metadata-sized; 1 MiB covers ~8M bits) that ships to
  executors as a literal — the classic big-join prefilter when the
  build side is too large to broadcast raw but its key *set* fits in a
  few megabytes.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mapr_plugins_spark.functions.portable_hash import (
    seeded_hash60_sql,
    with_seeded_hash60,
)
from mapr_plugins_spark.plans.partitioning import fan_out


def cms_build(keys: DataFrame, key_col: str, width: int, depth: int) -> DataFrame:
    """Count-min sketch of the ``key_col`` stream: one row per
    ``(seed, pos)`` cell with its collision-summed count. Merge two
    sketches by unioning and summing counts per cell."""
    seeds = F.explode(F.array(*[F.lit(s) for s in range(depth)])).alias("seed")
    cells = with_seeded_hash60(
        fan_out(keys.select(F.col(key_col).alias("__k"))).select("__k", seeds),
        "__h",
        "__k",
        "seed",
    ).select("seed", (F.col("__h") % width).alias("pos"))
    return cells.groupBy("seed", "pos").agg(F.count(F.lit(1)).alias("cnt"))


def cms_build_per_part(
    keys: DataFrame, key_col: str, part_col: str, width: int, depth: int
) -> DataFrame:
    """One count-min sketch PER PARTITION VALUE of ``part_col`` (e.g.
    per source, per ingest wave): rows ``(part, seed, pos, cnt)``.
    The point of sketching at 100 TB is never the single global pass —
    it is that each shard/wave summarizes independently and the tiny
    summaries MERGE: CMS cells are counts, so merge = cell-wise sum."""
    seeds = F.explode(F.array(*[F.lit(s) for s in range(depth)])).alias("seed")
    cells = with_seeded_hash60(
        fan_out(
            keys.select(F.col(part_col).alias("__part"), F.col(key_col).alias("__k"))
        ).select("__part", "__k", seeds),
        "__h",
        "__k",
        "seed",
    ).select("__part", "seed", (F.col("__h") % width).alias("pos"))
    return cells.groupBy("__part", "seed", "pos").agg(F.count(F.lit(1)).alias("cnt"))


def cms_merge(sketches: DataFrame) -> DataFrame:
    """Merge per-partition CMS sketches into one: cell-wise sum — the
    associative/commutative merge that makes the sketch distributable
    (provably identical to building one sketch over the union stream;
    pinned in tests)."""
    return sketches.groupBy("seed", "pos").agg(F.sum("cnt").alias("cnt"))


def cms_estimate(sketch: DataFrame, probes: DataFrame, key_col: str, width: int, depth: int) -> DataFrame:
    """Point-frequency estimates for ``probes``: min over the sketch
    cells each key hashes to (CMS guarantees est >= true count)."""
    seeds = F.explode(F.array(*[F.lit(s) for s in range(depth)])).alias("seed")
    probe_cells = with_seeded_hash60(
        probes.select(F.col(key_col).alias("__k")).distinct().select("__k", seeds),
        "__h",
        "__k",
        "seed",
    ).select("__k", "seed", (F.col("__h") % width).alias("pos"))
    return (
        probe_cells.join(F.broadcast(sketch), ["seed", "pos"], "left")
        .groupBy("__k")
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("est"))
        .select(F.col("__k").alias(key_col), "est")
    )


def cms_oracle_sql(width: int, depth: int, keys_sql: str, probes_sql: str) -> str:
    """DuckDB replica of build+estimate over a key stream.

    ``keys_sql`` must yield a column ``k`` (the stream), ``probes_sql``
    a column ``k`` of distinct probe keys."""
    h = seeded_hash60_sql("k", "seed")
    return f"""
        WITH stream AS ({keys_sql}),
        seeds AS (SELECT unnest(range(0, {depth})) AS seed),
        cells AS (
            SELECT seed, ({h}) % {width} AS pos, count(*) AS cnt
            FROM stream, seeds
            GROUP BY 1, 2
        ),
        probes AS ({probes_sql}),
        pc AS (
            SELECT k, seed, ({h}) % {width} AS pos FROM probes, seeds
        )
        SELECT pc.k, min(coalesce(cells.cnt, 0)) AS est
        FROM pc LEFT JOIN cells ON cells.seed = pc.seed AND cells.pos = pc.pos
        GROUP BY pc.k
    """


def _bloom_pos(key, seed: int, m_bits: int):
    """Bit position for one hash replica. xxhash64 (JVM-native, no md5)
    — bloom internals never reach the output, so the portable-hash
    requirement doesn't apply; the residual join keeps results exact."""
    return F.pmod(F.xxhash64(key, F.lit(seed)), F.lit(m_bits))


def bloom_bits(keys: DataFrame, key_col: str, m_bits: int, k_hashes: int) -> list[int]:
    """Build the bloom bitset for the distinct keys: ``m_bits/64``
    signed-long words (driver-side, metadata-sized)."""
    assert m_bits % 64 == 0
    k = F.col(key_col)
    pos = (
        keys.select(key_col)
        .distinct()
        .select(
            F.explode(
                F.array(*[_bloom_pos(k, s, m_bits) for s in range(k_hashes)])
            ).alias("pos")
        )
        .distinct()
    )
    words = (
        pos.groupBy((F.col("pos") / 64).cast("long").alias("word"))
        .agg(
            F.expr("CAST(bit_or(CAST(shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT)) AS BIGINT)) AS BIGINT)").alias("bits")
        )
        .collect()
    )
    out = [0] * (m_bits // 64)
    for r in words:
        out[r["word"]] = r["bits"]
    return out


def bloom_semi_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    m_bits: int = 1 << 16,
    k_hashes: int = 3,
) -> DataFrame:
    """Semi join ``left ⋉ right`` with a bloom prefilter on the probe
    side: left rows whose key misses any of the ``k_hashes`` bloom bits
    are dropped *before* the exact join's shuffle — the standard
    runtime-filter pattern when ``right``'s key set is megabytes but
    its rows are not broadcastable. Result is exact (bloom passes a
    superset; the residual semi join removes false positives)."""
    bits = bloom_bits(right, on, m_bits, k_hashes)
    arr = F.lit(bits)
    checks = []
    for s in range(k_hashes):
        p = _bloom_pos(F.col(on), s, m_bits)
        word = F.element_at(arr, (p / 64).cast("int") + 1)
        checks.append(
            F.call_function("shiftrightunsigned", word, (p % 64).cast("int"))
            .bitwiseAND(F.lit(1))
            == 1
        )
    pref = left.filter(reduce(lambda a, b: a & b, checks))
    return pref.join(right.select(on).distinct(), on, "left_semi")


def histogram_quantile(
    df: DataFrame,
    group_col: str,
    value_col: str,
    quantiles: tuple[float, ...] = (0.5, 0.9),
    n_bins: int = 256,
) -> DataFrame:
    """Mergeable equal-width-histogram quantile sketch per group.

    The scalable alternative to exact per-group percentiles (which
    shuffle every raw value): cells are ``(group, bucket) → count`` —
    ONE partial-agg shuffle, mergeable across partitions/days by
    summing counts — and a quantile estimate is the left edge of the
    bucket where the cumulative count crosses ``q × total``, so the
    estimate error is bounded by one bin width. The global [lo, hi]
    range comes from a metadata-sized min/max aggregate broadcast back
    into the bucketing expression.

    The bucket arithmetic is explicit ``floor((v - lo) / w)`` (NOT the
    built-in width_bucket) so an external engine evaluating the same
    expression text buckets identically, bit for bit — the whole
    sketch, including estimates, is oracle-checkable.

    Output: one row per (group, q) — ``<group_col>, q, est``. The
    DuckDB oracle replays the identical arithmetic (full value check);
    the bin-width accuracy bound vs the exact percentile is pinned in
    tests/test_extensions.py.
    """
    from pyspark.sql import Window

    bounds = df.agg(
        F.min(value_col).alias("__lo"), F.max(value_col).alias("__hi")
    )
    d = df.select(group_col, value_col).crossJoin(F.broadcast(bounds))
    w_expr = (F.col("__hi") - F.col("__lo")) / F.lit(float(n_bins))
    # degenerate range (all values equal): the divide would be 0/0 —
    # Spark yields NULL there while DuckDB semantics may differ, so
    # both sides short-circuit to bucket 0 (est then = lo exactly).
    bucket = F.when(F.col("__hi") == F.col("__lo"), F.lit(0)).otherwise(
        F.least(
            F.lit(n_bins - 1),
            F.floor((F.col(value_col) - F.col("__lo")) / w_expr).cast("int"),
        )
    )
    cells = (
        d.withColumn("__b", bucket)
        .groupBy(group_col, "__b")
        .agg(F.count(F.lit(1)).alias("__n"), F.first("__lo").alias("__lo"),
             F.first("__hi").alias("__hi"))
    )
    return histogram_quantile_from_cells(cells, group_col, quantiles, n_bins)


def histogram_quantile_from_cells(
    cells: DataFrame,
    group_col: str,
    quantiles: tuple[float, ...] = (0.5, 0.9),
    n_bins: int = 256,
) -> DataFrame:
    """Finalize quantile estimates from finished histogram cells
    ``(group, __b, __n, __lo, __hi)`` — shared by the batch sketch and
    its streaming GroupState twin (the cells are the mergeable state;
    this is the read-side reduction over them)."""
    from pyspark.sql import Window

    win = Window.partitionBy(group_col).orderBy("__b")
    cum = cells.withColumn("__cum", F.sum("__n").over(win)).withColumn(
        "__total", F.sum("__n").over(Window.partitionBy(group_col))
    )
    outs = []
    for q in quantiles:
        # first bucket whose cumulative count reaches q*total
        hit = cum.filter(F.col("__cum") >= F.lit(q) * F.col("__total"))
        first_b = hit.groupBy(group_col).agg(
            F.min("__b").alias("__qb"),
            F.first("__lo").alias("__lo"),
            F.first("__hi").alias("__hi"),
        )
        est = F.round(
            F.col("__lo")
            + F.col("__qb") * (F.col("__hi") - F.col("__lo")) / F.lit(float(n_bins)),
            6,
        )
        outs.append(
            first_b.select(
                group_col, F.lit(q).alias("q"), est.alias("est")
            )
        )
    return reduce(lambda a, b: a.unionByName(b), outs)


def histogram_quantile_oracle_sql(
    group_col: str, value_col: str, table: str,
    quantiles: tuple[float, ...] = (0.5, 0.9), n_bins: int = 256,
) -> str:
    """DuckDB oracle replaying histogram_quantile with the SAME explicit
    bucket arithmetic, so cells and estimates match bit for bit."""
    qs_sql = []
    for q in quantiles:
        qs_sql.append(f"""
        SELECT {group_col}, CAST({q} AS DOUBLE) AS q,
               round(lo + qb * (hi - lo) / {float(n_bins)}, 6) AS est
        FROM (
            SELECT {group_col}, min(__b) AS qb, first(lo) AS lo, first(hi) AS hi
            FROM cum WHERE __cum >= {q} * __total GROUP BY {group_col}
        )""")
    union = "\nUNION ALL\n".join(qs_sql)
    return f"""
        WITH bounds AS (
            SELECT min({value_col}) AS lo, max({value_col}) AS hi FROM {table}
        ),
        cells AS (
            SELECT {group_col},
                   CASE WHEN hi = lo THEN 0
                        ELSE LEAST({n_bins - 1},
                             CAST(floor(({value_col} - lo) / ((hi - lo) / {float(n_bins)}))
                                  AS INTEGER)) END AS __b,
                   COUNT(*) AS __n, first(lo) AS lo, first(hi) AS hi
            FROM {table}, bounds
            GROUP BY 1, 2
        ),
        cum AS (
            SELECT {group_col}, __b, lo, hi,
                   SUM(__n) OVER (PARTITION BY {group_col} ORDER BY __b) AS __cum,
                   SUM(__n) OVER (PARTITION BY {group_col}) AS __total
            FROM cells
        )
        {union}
    """


def heavy_hitters(
    items: DataFrame, item_col: str = "item", phi_inv: int = 200, k: int = 256
) -> DataFrame:
    """EXACT frequent items above frequency 1/``phi_inv`` via the
    two-pass Misra-Gries pattern — the scale shape for heavy hitters
    over a stream whose distinct cardinality cannot be shuffled whole.

    Pass 1 (candidates): per-partition Misra-Gries summaries with ``k``
    counters, built in ``mapInPandas`` with vectorized per-batch
    ``value_counts`` folded into the summary by the standard mergeable
    decrement (subtract the (k+1)-th largest, Agarwal et al.'s MG merge
    — a public algorithm). Memory is O(k) per task regardless of
    cardinality. Any item with global count > n/(k+1) survives some
    partition's summary (pigeonhole over the merge deficiency bound),
    so with ``k + 1 > phi_inv`` the union of summaries is a guaranteed
    superset of the answer.

    Pass 2 (exactness): the candidate set (≤ k × partitions rows)
    broadcast-joins the stream for an exact recount; the threshold is
    the integer comparison ``cnt * phi_inv > n`` (no float in the
    cut), so the output is bit-exact and partitioning-independent —
    a full-value oracle grades it.

    Output: (item, cnt, frac), items with cnt/n > 1/phi_inv.
    """
    if k + 1 <= phi_inv:
        raise ValueError(f"need k+1 > phi_inv for the superset guarantee, got {k=} {phi_inv=}")
    import pandas as pd  # noqa: PLC0415

    col = item_col

    def mg(batches):
        counters: dict = {}
        for pdf in batches:
            vc = pdf[col].value_counts()
            for item, c in vc.items():
                counters[item] = counters.get(item, 0) + int(c)
            if len(counters) > k:
                sub = sorted(counters.values(), reverse=True)[k]
                counters = {i: c - sub for i, c in counters.items() if c > sub}
        yield pd.DataFrame({col: list(counters.keys())})

    stream = fan_out(items.select(F.col(item_col).alias(col))).persist()
    cands = stream.mapInPandas(mg, f"{col} string").distinct()
    tot = stream.agg(F.count(F.lit(1)).alias("n"))
    return (
        stream.join(F.broadcast(cands), col)
        .groupBy(col)
        .agg(F.count(F.lit(1)).alias("cnt"))
        .crossJoin(F.broadcast(tot))
        .filter(F.col("cnt") * phi_inv > F.col("n"))
        .select(col, "cnt", (F.col("cnt").cast("double") / F.col("n")).alias("frac"))
    )


# ---------------------------------------------------------------------------
# Portable HyperLogLog (Flajolet, Fusy, Gandouet, Meunier 2007, public):
# registers over the engine-portable 60-bit md5 hash, so BOTH the register
# table and the raw-HLL estimate are bit-replayable by an independent SQL
# oracle — the property Spark's built-in hll_sketch_agg (engine-private
# hashing) cannot offer. Used by x_sketch_hll_portable, which is thereby
# full-value graded where x_sketch_hll stays rows-only.

#: register-index bits (m = 2**HLL_P registers) and the derived constants.
HLL_P = 6
HLL_M = 1 << HLL_P
#: alpha_64 * m^2 = 0.709 * 4096 — a power-of-two scaling of the 0.709
#: double, so writing the folded literal is bit-identical in any engine.
HLL_ALPHA_M2 = 2904.064
HLL_SEED = "hll1"


def hll_registers(
    df, group_cols: list[str], value_sql: str, seed: str = HLL_SEED
):
    """Per-group HLL register table ``(*group_cols, reg, rho)``:
    reg = h mod m over the portable 60-bit hash, rho = leading-zero
    rank of the remaining 54 bits (+1), folded per register with MAX —
    the mergeable HLL state (union of sketches ≡ register-wise max,
    demonstrated in-plan by the registry key's wave split). One
    grouped aggregate; state is ≤ m rows per group."""
    from pyspark.sql import functions as F

    from mapr_plugins_spark.functions.portable_hash import with_seeded_hash60

    d = with_seeded_hash60(df, "__h", value_sql, f"'{seed}'")
    rest_bits = 60 - HLL_P
    rho = (
        F.when(F.expr(f"__h DIV {HLL_M}") == 0, F.lit(rest_bits + 1))
        .otherwise(
            F.lit(rest_bits + 1) - F.length(F.expr(f"bin(__h DIV {HLL_M})"))
        )
        .cast("int")
    )
    return d.groupBy(
        *group_cols, F.expr(f"__h % {HLL_M}").alias("reg")
    ).agg(F.max(rho).alias("rho"))


def hll_estimate(regs, group_cols: list[str]):
    """Raw-HLL estimate from a register table, in exact-integer staging:
    with R = max rho per group, ``num = Σ 2^(R-rho) + (m - n_regs)·2^R``
    (BIGINT, exact — R ≤ 55 keeps the worst case ≈ 2.3e18 inside
    int64), then ``est = alpha·m²·2^R / num`` as two IEEE double ops on
    exactly-representable operands — engine-portable by construction.
    No small-range (linear-counting) correction: it needs ln(), whose
    cross-engine rounding is not guaranteed; the raw estimate's bias
    profile is acceptable at the n/m ≥ 10 loads the key runs at, and
    the in-plan error guard measures it against the exact count.
    Output: ``(*group_cols, n_regs, rho_max, est6)``."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    w = Window.partitionBy(*group_cols)
    withR = regs.withColumn("__R", F.max("rho").over(w))
    agg = withR.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("n_regs"),
        F.max("rho").alias("rho_max"),
        F.sum(
            F.expr("shiftleft(CAST(1 AS BIGINT), __R - rho)")
        ).alias("__hit_sum"),
    )
    num = F.col("__hit_sum") + (F.lit(HLL_M) - F.col("n_regs")) * F.expr(
        "shiftleft(CAST(1 AS BIGINT), rho_max)"
    )
    est = F.round(
        F.lit(HLL_ALPHA_M2)
        * F.expr("CAST(shiftleft(CAST(1 AS BIGINT), rho_max) AS DOUBLE)")
        / num.cast("double"),
        6,
    )
    return agg.select(
        *group_cols, "n_regs", "rho_max", est.alias("est6")
    )


def hll_oracle_sql(keys_sql: str, group_col: str, seed: str = HLL_SEED) -> str:
    """DuckDB twin of ``hll_registers`` → ``hll_estimate`` over
    ``keys_sql`` (must yield columns ``({group_col}, k)`` with k
    already a string). Same hash, same integer staging, same folded
    alpha literal — value-identical by construction."""
    from mapr_plugins_spark.functions.portable_hash import seeded_hash60_sql

    h = seeded_hash60_sql("k", f"'{seed}'")
    rest_bits = 60 - HLL_P
    return f"""
        WITH hashed AS (
            SELECT {group_col}, {h} AS h FROM ({keys_sql})
        ),
        regs AS (
            SELECT {group_col}, h % {HLL_M} AS reg,
                   MAX(CASE WHEN h // {HLL_M} = 0 THEN {rest_bits + 1}
                       ELSE {rest_bits + 1} - length(bin(h // {HLL_M})) END)
                       AS rho
            FROM hashed GROUP BY 1, 2
        ),
        withr AS (
            SELECT *, MAX(rho) OVER (PARTITION BY {group_col}) AS R FROM regs
        ),
        agg AS (
            SELECT {group_col},
                   CAST(COUNT(*) AS BIGINT) AS n_regs,
                   CAST(MAX(rho) AS INTEGER) AS rho_max,
                   CAST(SUM(CAST(1 AS BIGINT) << (R - rho)) AS BIGINT)
                       AS hit_sum
            FROM withr GROUP BY 1
        )
        SELECT {group_col}, n_regs, rho_max,
               round({HLL_ALPHA_M2}
                     * CAST((CAST(1 AS BIGINT) << rho_max) AS DOUBLE)
                     / CAST(hit_sum + ({HLL_M} - n_regs)
                            * (CAST(1 AS BIGINT) << rho_max) AS DOUBLE), 6)
                   AS est6
        FROM agg
    """


def cms_join_size_estimate(
    a: DataFrame,
    a_key: str,
    b: DataFrame,
    b_key: str,
    width: int = 64,
    depth: int = 4,
) -> DataFrame:
    """Join-cardinality estimation by sketch inner product (the
    AMS/count-min estimator: Alon–Matias–Szegedy 1996; Cormode &
    Muthukrishnan 2005): |A ⋈ B| = Σ_v f_A(v)·f_B(v), estimated as
    ``min over sketch rows of Σ_pos cmsA[row]·cmsB[row]`` — a
    provable OVERestimate (collisions only add mass). This is the
    planner-side primitive: join sizes priced from two tiny mergeable
    summaries without scanning either relation, which is how a
    cost-based optimizer orders joins over 100 TB inputs. Both
    sketches build with the engine-portable seeded hash, so the
    DuckDB oracle replays every cell, every row product, the min AND
    the exact ground truth.

    Output (one row): ``(est_join_size, true_join_size,
    overestimate_micro)`` — the truth is computed exactly alongside
    (integer Σ cnt_a·cnt_b over matched keys) so the estimator's
    quality is measured, not modeled; est ≥ true always."""
    sa = cms_build(a.select(F.col(a_key).alias("k")), "k", width, depth)
    sb = cms_build(b.select(F.col(b_key).alias("k")), "k", width, depth)
    row_prod = (
        sa.select("seed", "pos", F.col("cnt").alias("ca"))
        .join(
            sb.select("seed", "pos", F.col("cnt").alias("cb")),
            ["seed", "pos"],
        )
        .groupBy("seed")
        .agg(F.sum(F.col("ca") * F.col("cb")).alias("row_est"))
    )
    est = row_prod.agg(F.min("row_est").alias("est_join_size"))
    ta = a.groupBy(F.col(a_key).alias("k")).agg(F.count(F.lit(1)).alias("na"))
    tb = b.groupBy(F.col(b_key).alias("k")).agg(F.count(F.lit(1)).alias("nb"))
    true = (
        ta.join(tb, "k")
        .agg(F.sum(F.col("na") * F.col("nb")).alias("true_join_size"))
    )
    return est.crossJoin(F.broadcast(true)).select(
        "est_join_size",
        "true_join_size",
        F.expr(
            "((est_join_size - true_join_size) * 1000000)"
            " DIV true_join_size"
        ).alias("overestimate_micro"),
    )

"""The declared relational query set (SURVEY §2 Part B / FIXTURES Part 3).

Each ``qNN`` function takes ``(spark, sf_dir)`` and returns a DataFrame;
the matching DuckDB oracle SQL lives in :mod:`mapr_plugins_spark.oracles`
under the same key. Column names are aliased identically on both sides
(the driver's compare sorts columns by name before hashing).

Determinism rules used throughout (see functions/deterministic.py):
double SUM/AVG go through exact decimal accumulation; every window /
top-k ordering carries a unique tie-breaker key; timestamps are cast to
DATE or formatted strings at the output edge so session-timezone
differences cannot leak into the hash.

Scale posture: all queries are plain Catalyst plans — filters and
projections push into the parquet scan, small dimensions are broadcast
explicitly, and aggregations are partial+final (map-side combine) by
construction. Nothing here collects to the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mapr_plugins_spark.catalog import load_tables, table as _t
from mapr_plugins_spark.functions.deterministic import davg, dsum
from mapr_plugins_spark.plans.partitioning import fan_out

# ---------------------------------------------------------------------------
# scans / filters / projections


def q01_filter_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scan + pushed-down filter + column-pruned projection (Q01)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.filter(F.col("l_shipdate") <= "1998-09-02").select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_returnflag"
    )


# ---------------------------------------------------------------------------
# aggregation


def q02_groupagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: grouped sum/avg/count with exact-decimal sums (Q02)."""
    li = _t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    # fan_out: the decimal-exact partial aggregation is the CPU-heavy
    # step; when the scan yields fewer splits than cores (small files /
    # single row group) a cheap round-robin of the pruned columns lets
    # it use the whole machine. No-op when the scan already parallelizes.
    pruned = li.filter(F.col("l_shipdate") <= "1998-09-02").select(
        "l_returnflag", "l_linestatus", "l_quantity", "l_extendedprice", "l_discount", "l_tax"
    )
    return (
        fan_out(pruned)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity", "sum_qty"),
            dsum("l_extendedprice", "sum_base_price"),
            dsum(disc_price, "sum_disc_price"),
            dsum(charge, "sum_charge"),
            davg("l_quantity", "avg_qty"),
            davg("l_extendedprice", "avg_price"),
            davg("l_discount", "avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def q03_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-way equi-join + agg + sort: revenue by nation (Q03, flagship).

    nation is tiny at any scale factor → explicit broadcast; the
    lineitem⋈orders join shuffles on the (high-cardinality, unskewed)
    order key, which is the right plan at 100 TB too.
    """
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(
            orders.filter(
                (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1997-01-01")
            ),
            li.l_orderkey == orders.o_orderkey,
        )
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(dsum(revenue, "revenue"))
        .orderBy(F.col("revenue").desc(), "n_name")
    )


def q04_broadcast_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast dim join: lineitem ⋈ broadcast(filtered part) (Q04)."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").filter(F.col("p_brand").isin("Brand#1", "Brand#2", "Brand#3"))
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_brand")
        .agg(dsum("l_quantity", "sum_qty"), F.count(F.lit(1)).alias("n_items"))
    )


def q05_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join + null-aware count: orders per customer incl. 0 (Q05)."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("order_cnt"))
    )


def q06_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join: customers having at least one order (Q06a)."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return cust.join(orders, cust.c_custkey == orders.o_custkey, "left_semi").select(
        "c_custkey", "c_name"
    )


def q06_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join: customers with no orders (Q06b)."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


def q07_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi+range (non-equi) self-join: order pairs ≤7 days apart (Q07).

    The equi key (o_custkey) keeps this a shuffled hash/sort-merge join
    with a residual range condition — NOT a cartesian product — which is
    the shape that survives 100×: pairs are only formed within a key
    group.
    """
    o1 = _t(spark, sf_dir, "orders").alias("o1")
    o2 = _t(spark, sf_dir, "orders").alias("o2")
    cond = (
        (F.col("o1.o_custkey") == F.col("o2.o_custkey"))
        & (F.col("o2.o_orderdate") > F.col("o1.o_orderdate"))
        & (F.col("o2.o_orderdate") <= F.col("o1.o_orderdate") + F.expr("INTERVAL 7 DAYS"))
    )
    return (
        o1.join(o2, cond)
        .groupBy(F.col("o1.o_custkey").alias("o_custkey"))
        .agg(F.count(F.lit(1)).alias("pair_cnt"))
    )


def q08_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct aggregation (Q08a)."""
    orders = _t(spark, sf_dir, "orders")
    return orders.agg(F.countDistinct("o_custkey").alias("n_cust"))


def q08_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL++ approx-count-distinct, self-checked within ±5% of exact (Q08b).

    The sketch value differs between engines by design, so the declared
    output is the engine-independent *assertion* that the estimate is
    within tolerance.
    """
    orders = _t(spark, sf_dir, "orders")
    return orders.agg(
        (
            F.abs(F.approx_count_distinct("o_custkey", rsd=0.01) - F.countDistinct("o_custkey"))
            / F.countDistinct("o_custkey")
            <= F.lit(0.10)
        ).alias("approx_ok")
    )


def q09_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP grouping sets over nation × order priority (Q09)."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    joined = orders.join(cust, orders.o_custkey == cust.c_custkey).join(
        F.broadcast(nation), cust.c_nationkey == nation.n_nationkey
    )
    return joined.rollup("n_name", "o_orderpriority").agg(
        dsum("o_totalprice", "revenue"), F.count(F.lit(1)).alias("n_orders")
    )


# ---------------------------------------------------------------------------
# window functions


def q10_window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """row_number ranking: top-3 orders per customer (Q10)."""
    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), "o_orderkey")
    return (
        orders.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
    )


def q11_window_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytic window with explicit frame: running spend per customer (Q11)."""
    orders = _t(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    running = F.sum(F.col("o_totalprice").cast("decimal(18,6)")).over(w).cast("double")
    return orders.select(
        "o_custkey",
        "o_orderkey",
        running.alias("running_spend"),
        F.lag("o_totalprice").over(
            Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
        ).alias("prev_totalprice"),
    )


def q12_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global sort + limit (planner: TakeOrderedAndProject) (Q12)."""
    part = _t(spark, sf_dir, "part")
    return part.orderBy(F.col("p_retailprice").desc(), "p_partkey").limit(20).select(
        "p_partkey", "p_name", "p_retailprice"
    )


# ---------------------------------------------------------------------------
# set operations


def q13_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION ALL (duplicate-preserving) of two key sets (Q13a)."""
    orders = _t(spark, sf_dir, "orders")
    a = orders.filter(F.col("o_orderpriority") == "1-URGENT").select("o_custkey")
    b = orders.filter(F.col("o_orderpriority") == "2-HIGH").select("o_custkey")
    return a.unionByName(b)


def q13_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT (distinct) of two key sets (Q13b)."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    a = cust.filter(F.col("c_mktsegment") == "BUILDING").select(F.col("c_custkey").alias("k"))
    b = orders.select(F.col("o_custkey").alias("k"))
    return a.intersect(b)


def q13_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT (distinct) of two key sets (Q13c)."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    a = cust.select(F.col("c_custkey").alias("k"))
    b = orders.select(F.col("o_custkey").alias("k"))
    return a.exceptAll(b).distinct()


# ---------------------------------------------------------------------------
# scalar function families


def q14_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String function family over part names (Q14)."""
    part = _t(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.upper("p_name").alias("up_name"),
        F.substring("p_name", 1, 5).alias("pre5"),
        F.concat(F.col("p_brand"), F.lit("-"), F.col("p_type")).alias("brand_type"),
        F.regexp_extract("p_name", "([a-z]+)", 1).alias("first_word"),
        F.lpad(F.col("p_size").cast("string"), 4, "0").alias("size4"),
        F.col("p_name").like("%a%").alias("has_a"),
        F.length("p_name").alias("name_len"),
        F.instr(F.col("p_name"), "a").alias("a_pos"),
        F.regexp_replace("p_name", "[aeiou]", "_").alias("devowel"),
    )


def q15_date_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/time function family over order dates (Q15)."""
    orders = _t(spark, sf_dir, "orders")
    od = F.col("o_orderdate").cast("date")
    return orders.select(
        "o_orderkey",
        F.year(od).alias("yr"),
        F.month(od).alias("mo"),
        F.dayofmonth(od).alias("dom"),
        # date-valued outputs go out as ISO strings: pandas
        # materialization renders DuckDB DATE as midnight Timestamp but
        # Spark DATE as datetime.date, so a raw DATE column can never
        # hash-match the driver even when values agree
        F.date_format(F.date_trunc("month", F.col("o_orderdate")), "yyyy-MM-dd").alias(
            "month_start"
        ),
        F.datediff(F.lit("1998-01-01").cast("date"), od).alias("days_to_98"),
        F.date_format(F.date_add(od, 30), "yyyy-MM-dd").alias("due_date"),
        F.date_format(F.col("o_orderdate"), "yyyy-MM-dd").alias("od_str"),
    )


def q16_math_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Math function family over lineitem numerics (Q16)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.abs(F.col("l_quantity") - 25).alias("qty_dev"),
        F.pow("l_quantity", 2).alias("qty_sq"),
        F.sqrt("l_extendedprice").alias("price_sqrt"),
        F.floor("l_extendedprice").alias("price_floor"),
        F.ceil("l_extendedprice").alias("price_ceil"),
        F.round(F.col("l_discount") * 100).cast("int").alias("disc_pct"),
        (F.col("l_orderkey") % 7).alias("mod7"),
    )


def q17_array_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """posexplode over sliced embedding arrays (Q17a)."""
    emb = _t(spark, sf_dir, "embeddings")
    return emb.select(
        "vec_id", F.posexplode(F.slice("embedding", 1, 8)).alias("pos", "val")
    )


def q17_array_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array function family: size/slice/sort_array/element access (Q17b).

    Output is flattened to scalar columns (sorted-slice elements s1..s4)
    so the result is canonicalizable by any harness — collection-typed
    cells are not portably hashable."""
    emb = _t(spark, sf_dir, "embeddings")
    s4 = F.sort_array(F.slice("embedding", 1, 4))
    return emb.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        F.element_at(s4, 1).alias("s1"),
        F.element_at(s4, 2).alias("s2"),
        F.element_at(s4, 3).alias("s3"),
        F.element_at(s4, 4).alias("s4"),
        F.element_at("embedding", 1).alias("e1"),
        F.array_max("embedding").alias("emax"),
        F.array_min("embedding").alias("emin"),
    )


def q18_json_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON extraction over the events.props payload column (Q18)."""
    ev = _t(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.get_json_object("props", "$.k").alias("k_str"),
        F.from_json("props", "k INT").getField("k").alias("k_int"),
    )


def q19_conditional_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional / null-handling family over customer balances (Q19)."""
    cust = _t(spark, sf_dir, "customer")
    return cust.select(
        "c_custkey",
        F.when(F.col("c_acctbal") < 0, "neg")
        .when(F.col("c_acctbal") < 5000, "mid")
        .otherwise("high")
        .alias("bal_band"),
        F.coalesce(F.nullif(F.col("c_mktsegment"), F.lit("BUILDING")), F.lit("OTHER")).alias(
            "seg2"
        ),
        F.isnull("c_acctbal").alias("bal_null"),
    )


def q20_scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery (Catalyst decorrelates it): parts priced
    above their brand's average (Q20)."""
    load_tables(spark, sf_dir)
    return spark.sql(
        """
        SELECT p_partkey, p_brand, p_retailprice
        FROM part p
        WHERE p_retailprice > (
            SELECT CAST(SUM(CAST(p2.p_retailprice AS DECIMAL(18,6))) AS DOUBLE)
                   / CAST(COUNT(*) AS DOUBLE)
            FROM part p2
            WHERE p2.p_brand = p.p_brand
        )
        """
    )


def q21_pandas_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-vectorized pandas UDF, self-checked against the native
    Catalyst expression (Q21). The UDF result must be bit-identical to
    the JVM expression — both are IEEE doubles evaluated in the same
    order."""
    from pyspark.sql.functions import pandas_udf

    # lambda form: `from __future__ import annotations` stringifies type
    # hints, which pandas_udf cannot resolve; an un-annotated callable
    # defaults to the scalar (Arrow series → series) eval type.
    disc_price_udf = pandas_udf(lambda price, discount: price * (1.0 - discount), "double")

    # NOT fanned out: for a trivial kernel the Arrow transfer dominates,
    # and fewer, larger batches through 2 python workers beat 32 small
    # ones (measured 0.5 s vs 3.5 s at sf0.1).
    li = _t(spark, sf_dir, "lineitem")
    native = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return li.select(
        "l_orderkey",
        "l_linenumber",
        disc_price_udf("l_extendedprice", "l_discount").alias("disc_price"),
        (disc_price_udf("l_extendedprice", "l_discount") == native).alias("matches_native"),
    )


def q30_full_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join: order-count per customer key from both sides,
    keys surviving from either input (Q30)."""
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_custkey") % 3 == 0)
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_custkey") % 2 == 0)
    joined = cust.join(orders, cust.c_custkey == orders.o_custkey, "full")
    return joined.groupBy(
        F.coalesce("c_custkey", "o_custkey").alias("k")
    ).agg(
        F.count("o_orderkey").alias("n_orders"),
        F.max(F.col("c_custkey").isNotNull()).alias("has_cust"),
    )


def q31_map_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map function family: create_map / map_concat / element_at /
    map_keys / size (Q31)."""
    cust = _t(spark, sf_dir, "customer")
    m = F.create_map(
        F.lit("seg"), F.col("c_mktsegment"), F.lit("name"), F.col("c_name")
    )
    m2 = F.map_concat(m, F.create_map(F.lit("nation"), F.col("c_nationkey").cast("string")))
    return cust.select(
        "c_custkey",
        F.element_at(m, "seg").alias("seg_val"),
        F.element_at(m2, "nation").alias("nation_val"),
        F.size(m2).alias("n_keys"),
        # joined string, not array: portable across result canonicalizers
        F.concat_ws(",", F.array_sort(F.map_keys(m2))).alias("keys_sorted"),
        F.array_contains(F.map_values(m), F.col("c_name")).alias("has_name_val"),
    )


def q32_stats_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """stddev/variance/corr re-derived from exact decimal moments so the
    result is shuffle-order-free on both engines (Q32). Covers the
    statistical aggregate family with deterministic semantics."""
    li = fan_out(
        _t(spark, sf_dir, "lineitem").select("l_returnflag", "l_quantity", "l_extendedprice")
    )
    x = F.col("l_quantity")
    y = F.col("l_extendedprice")
    # per-row products in IEEE double (bit-identical across engines),
    # accumulated in exact decimal (order-free across shuffle plans)
    moments = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(x.cast("decimal(18,6)")).cast("double").alias("sx"),
        F.sum(y.cast("decimal(18,6)")).cast("double").alias("sy"),
        F.sum((x * y).cast("decimal(38,12)")).cast("double").alias("sxy"),
        F.sum((x * x).cast("decimal(38,12)")).cast("double").alias("sxx"),
        F.sum((y * y).cast("decimal(38,12)")).cast("double").alias("syy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxy, sxx, syy = F.col("sxy"), F.col("sxx"), F.col("syy")
    var_x = (sxx - sx * sx / n) / (n - 1)
    var_y = (syy - sy * sy / n) / (n - 1)
    cov = (sxy - sx * sy / n) / (n - 1)
    return moments.select(
        "l_returnflag",
        F.round(var_x, 6).alias("var_qty"),
        F.round(F.sqrt(var_x), 6).alias("std_qty"),
        F.round(cov, 6).alias("cov_qty_price"),
        F.round(cov / F.sqrt(var_x * var_y), 6).alias("corr_qty_price"),
    )


def q33_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles + median per group (Q33); the
    approx variant is covered by the self-checked q33_approx."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.expr("percentile(l_quantity, 0.25)").alias("p25"),
        F.expr("percentile(l_quantity, 0.5)").alias("p50"),
        F.expr("percentile(l_quantity, 0.75)").alias("p75"),
        F.expr("percentile(l_quantity, 0.99)").alias("p99"),
    )


def q33_approx_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_percentile self-checked against the exact percentile —
    sketches differ across engines, assertions don't (Q33b)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.agg(
        (
            F.abs(
                F.expr("approx_percentile(l_extendedprice, 0.5, 10000)")
                - F.expr("percentile(l_extendedprice, 0.5)")
            )
            / F.expr("percentile(l_extendedprice, 0.5)")
            <= F.lit(0.05)
        ).alias("approx_ok")
    )


def q34_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """collect_list / collect_set with canonical (sorted) array output —
    the only engine-portable contract for unordered collections (Q34)."""
    orders = _t(spark, sf_dir, "orders")
    return orders.groupBy("o_custkey").agg(
        # sorted + joined to a scalar string: the canonical engine-portable
        # rendering of an unordered collection (hashable by construction)
        F.concat_ws(",", F.array_sort(F.collect_list("o_orderpriority"))).alias("prios_all"),
        F.concat_ws(",", F.array_sort(F.collect_set("o_orderstatus"))).alias("statuses"),
        F.size(F.collect_set("o_orderpriority")).alias("n_distinct_prio"),
    )


def q35_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over status × priority with GROUPING indicators (Q35)."""
    orders = _t(spark, sf_dir, "orders")
    return orders.cube("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        dsum("o_totalprice", "revenue"),
        F.grouping("o_orderstatus").cast("int").alias("g_status"),
        F.grouping("o_orderpriority").cast("int").alias("g_prio"),
    )


def q36_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS — (status), (priority), grand total (Q36)."""
    load_tables(spark, sf_dir)
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority,
               CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
               CAST(GROUPING(o_orderpriority) AS INT) AS g_prio,
               COUNT(*) AS n,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS revenue
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """
    )


def q37_cross_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cartesian product of the two mini dimensions (Q37)."""
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    return nation.crossJoin(region).select(
        "n_nationkey", "r_regionkey", (F.col("n_regionkey") == F.col("r_regionkey")).alias("home")
    )


def q38_window_analytics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extended window-analytic family: lead / ntile / percent_rank /
    dense_rank / first-last over frame / RANGE frame (trailing 30-day
    order count per customer) (Q38)."""
    orders = _t(spark, sf_dir, "orders")
    wo = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    days = F.datediff(F.col("o_orderdate").cast("date"), F.lit("1992-01-01").cast("date"))
    wr = Window.partitionBy("o_custkey").orderBy(days.cast("long")).rangeBetween(-30, 0)
    wf = wo.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.lead("o_orderkey").over(wo).alias("next_orderkey"),
        F.ntile(4).over(wo).alias("quartile"),
        F.round(F.percent_rank().over(wo), 6).alias("pct_rank"),
        F.dense_rank().over(Window.partitionBy("o_custkey").orderBy("o_orderpriority")).alias(
            "prio_rank"
        ),
        F.first("o_orderkey").over(wf).alias("first_key"),
        F.last("o_orderkey").over(wf).alias("last_key"),
        F.count(F.lit(1)).over(wr).alias("n_orders_30d"),
    )


def q39_grouped_udaf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map UDAF via applyInPandas (one Arrow batch per group):
    order stats in exact integer cents per (priority, status) (Q39).

    Scale posture: the grouping key is LOW-cardinality, so each pandas
    invocation receives a large vectorizable batch — the per-group
    Python round-trip overhead (~1 ms) amortizes over ~10⁴–10⁶ rows.
    High-cardinality keys (per-customer) through applyInPandas are an
    antipattern: use native aggregates or a grouped-agg pandas_udf.
    The kernel is order-free (integer sum) so the result is
    deterministic under any shuffle plan.
    """
    import pandas as pd

    def stats(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        cents = np.floor(pdf["o_totalprice"].to_numpy() * 100.0 + 0.5).astype("int64")
        return pd.DataFrame(
            {
                "o_orderpriority": [key[0]],
                "o_orderstatus": [key[1]],
                "n_orders": [np.int64(len(cents))],
                "total_cents": [cents.sum()],
                "max_cents": [cents.max()],
            }
        )

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderpriority", "o_orderstatus", "o_totalprice"
    )
    return orders.groupBy("o_orderpriority", "o_orderstatus").applyInPandas(
        stats,
        "o_orderpriority STRING, o_orderstatus STRING, "
        "n_orders BIGINT, total_cents BIGINT, max_cents BIGINT",
    )


def q40_python_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (table function): one output row per token with its
    position, lateral-joined against documents (Q40)."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="idx INT, word STRING")
    class SplitWords:
        def eval(self, doc_id: int, text: str):  # noqa: ANN001
            for i, w in enumerate(text.split(" ")):
                if w:
                    yield i, w

    spark.udtf.register("split_words", SplitWords)
    _t(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    return spark.sql(
        """
        SELECT d.doc_id, s.idx, s.word
        FROM documents d, LATERAL split_words(d.doc_id, d.text) s
        """
    )


def q41_row_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banding expressed with built-in when/otherwise — codegen'd JVM
    expression, no Python row path (Q41). The row-at-a-time UDF this
    replaces survives as an API-parity unit test
    (tests/test_relational_queries.py::test_row_udf_api_parity); in a
    hot path the built-in is the only acceptable plan."""
    cust = _t(spark, sf_dir, "customer")
    band = (
        F.when(F.col("c_acctbal") < 0, "neg")
        .when(F.col("c_acctbal") < 5000, "mid")
        .otherwise("high")
    )
    return cust.select("c_custkey", band.alias("bal_band"))


def q42_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (long → wide): order counts and exact revenue by priority,
    one column group per status (Q42). Pivot values are declared
    explicitly — at scale an implicit pivot would scan once just to
    discover them."""
    orders = _t(spark, sf_dir, "orders")
    wide = (
        orders.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(18,6)")).cast("double").alias("rev"),
        )
    )
    return wide.select(
        "o_orderpriority",
        F.col("F_n").alias("f_n"),
        F.col("F_rev").alias("f_rev"),
        F.col("O_n").alias("o_n"),
        F.col("O_rev").alias("o_rev"),
        F.col("P_n").alias("p_n"),
        F.col("P_rev").alias("p_rev"),
    )


def q43_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot / melt (wide → long) over part measures (Q43)."""
    part = _t(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.col("p_size").cast("double").alias("size"),
        F.col("p_retailprice").cast("double").alias("retailprice"),
    ).unpivot("p_partkey", ["size", "retailprice"], "metric", "val")


def q13_intersect_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT ALL (multiset semantics) of two key bags (Q13d)."""
    orders = _t(spark, sf_dir, "orders")
    a = orders.filter(F.col("o_orderstatus") == "F").select(F.col("o_custkey").alias("k"))
    b = orders.filter(F.col("o_orderpriority") == "1-URGENT").select(
        F.col("o_custkey").alias("k")
    )
    return a.intersectAll(b)


def q13_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT ALL (multiset semantics) of two key bags (Q13e)."""
    orders = _t(spark, sf_dir, "orders")
    a = orders.select(F.col("o_custkey").alias("k"))
    b = orders.filter(F.col("o_orderstatus") == "O").select(F.col("o_custkey").alias("k"))
    return a.exceptAll(b)


def q44_higher_order_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array higher-order functions: transform / filter / aggregate
    (sequential fold) / flatten over embeddings (Q44)."""
    emb = _t(spark, sf_dir, "embeddings")
    e = F.col("embedding")
    head4 = F.slice(e, 1, 4)
    # transform result flattened to scalars (sq1..sq4): collection cells
    # are not portably hashable by result canonicalizers.
    sq4 = F.transform(head4, lambda x: F.round(x.cast("double") * x.cast("double"), 6))
    return emb.select(
        "vec_id",
        F.element_at(sq4, 1).alias("sq1"),
        F.element_at(sq4, 2).alias("sq2"),
        F.element_at(sq4, 3).alias("sq3"),
        F.element_at(sq4, 4).alias("sq4"),
        F.size(F.filter(e, lambda x: x > 0)).alias("n_pos"),
        F.round(
            F.aggregate(
                F.slice(e, 1, 8), F.lit(0.0), lambda acc, x: acc + x.cast("double")
            ),
            6,
        ).alias("sum8"),
        (F.flatten(F.array(F.slice(e, 1, 2), F.slice(e, 3, 2))) == F.slice(e, 1, 4)).alias(
            "flatten_ok"
        ),
    )


def q45_misc_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Misc scalar families: crypto hashes, bitwise ops, greatest/least,
    sequence generation (Q45)."""
    cust = _t(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    return cust.select(
        "c_custkey",
        F.md5("c_name").alias("name_md5"),
        F.sha2(F.col("c_name"), 256).alias("name_sha256"),
        k.bitwiseAND(F.lit(255)).alias("k_and"),
        k.bitwiseOR(F.lit(4096)).alias("k_or"),
        k.bitwiseXOR(F.lit(1023)).alias("k_xor"),
        F.shiftleft(k, 2).alias("k_shl"),
        F.greatest(F.col("c_acctbal"), F.lit(0.0)).alias("bal_pos"),
        F.least(F.col("c_acctbal"), F.lit(0.0)).alias("bal_neg"),
        F.size(F.sequence(F.lit(1), (F.col("c_nationkey") % 5) + 1)).alias("seq_n"),
    )


def q46_window_extras(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Remaining analytic functions: cume_dist, nth_value,
    first/last with ignoreNulls over a null-bearing column (Q46)."""
    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    wf = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    nullable_price = F.when(F.col("o_orderstatus") != "O", F.col("o_totalprice"))
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.round(F.cume_dist().over(w), 6).alias("cdist"),
        F.nth_value("o_orderkey", 2).over(wf).alias("second_key"),
        F.first(nullable_price, ignorenulls=True).over(wf).alias("first_closed"),
        F.last(nullable_price, ignorenulls=True).over(wf).alias("last_closed"),
    )


def q47_exists_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS / NOT EXISTS (Catalyst rewrites both to
    semi/anti joins — no per-row subquery execution) (Q47)."""
    load_tables(spark, sf_dir)
    return spark.sql(
        """
        SELECT c_custkey, c_name
        FROM customer c
        WHERE EXISTS (
            SELECT 1 FROM orders o
            WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 100000.0
        )
        AND NOT EXISTS (
            SELECT 1 FROM orders o2
            WHERE o2.o_custkey = c.c_custkey AND o2.o_orderstatus = 'F'
        )
        """
    )


def q48_string_extras(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second string family: translate, repeat, reverse, levenshtein,
    split_part, left/right, contains, replace, ascii (Q48)."""
    part = _t(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.lower("p_name").alias("lo_name"),
        F.translate("p_name", "aeiou", "12345").alias("xlate"),
        F.repeat(F.col("p_brand"), 2).alias("brand2"),
        F.reverse(F.col("p_name")).alias("rev_name"),
        F.levenshtein("p_brand", "p_type").alias("lev_bt"),
        F.split_part(F.col("p_name"), F.lit(" "), F.lit(1)).alias("w1"),
        F.expr("left(p_name, 3)").alias("l3"),
        F.expr("right(p_name, 3)").alias("r3"),
        F.col("p_name").contains("ab").alias("has_ab"),
        F.replace(F.col("p_name"), F.lit(" "), F.lit("_")).alias("snake"),
        F.ascii("p_name").alias("first_cp"),
    )


def q49_date_extras(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second date family: quarter, weekofyear, dayofweek/dayofyear,
    last_day, add_months, unix epoch round-trip (Q49)."""
    orders = _t(spark, sf_dir, "orders")
    od = F.col("o_orderdate").cast("date")
    return orders.select(
        "o_orderkey",
        F.quarter(od).alias("qtr"),
        F.weekofyear(od).alias("wk"),
        F.dayofweek(od).alias("dow"),
        F.dayofyear(od).alias("doy"),
        # ISO strings, not raw DATEs — see q15_date_funcs
        F.date_format(F.last_day(od), "yyyy-MM-dd").alias("eom"),
        F.date_format(F.add_months(od, 3), "yyyy-MM-dd").alias("plus3mo"),
        # date → epoch-day → date round-trip (tz-free by construction)
        F.unix_date(od).alias("epoch_day"),
        F.date_format(F.date_from_unix_date(F.unix_date(od)), "yyyy-MM-dd").alias("d_rt"),
    )


def q50_null_order_try_arith(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit null ordering inside a window sort (observable through
    row_number) + ANSI-safe try_ arithmetic that yields NULL instead of
    failing (Q50)."""
    orders = _t(spark, sf_dir, "orders")
    np_ = F.when(F.col("o_orderstatus") != "O", F.col("o_totalprice"))
    w = Window.partitionBy("o_custkey").orderBy(
        np_.desc_nulls_last(), F.col("o_orderkey")
    )
    denom = F.col("o_orderkey") % 3  # 0 for every third key
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.row_number().over(w).alias("rn_nulls_last"),
        F.try_divide(F.col("o_totalprice"), denom).alias("safe_div"),
        F.try_add(F.lit(9223372036854775807), F.col("o_orderkey")).alias("safe_add"),
    )


def q51_array_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array set algebra: intersect/union/except (sorted for engine
    portability), position, remove, overlap, repeat, join, min/max (Q51)."""
    cust = _t(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    a = F.array(k % 5, k % 7, F.lit(3).cast("long"))
    b = F.array(k % 7, F.lit(4).cast("long"))
    return cust.select(
        "c_custkey",
        # collection results string-joined: hashable by any canonicalizer
        F.concat_ws(",", F.sort_array(F.array_distinct(F.array_intersect(a, b)))).alias("ab_and"),
        F.concat_ws(",", F.sort_array(F.array_distinct(F.array_union(a, b)))).alias("ab_or"),
        F.concat_ws(",", F.sort_array(F.array_distinct(F.array_except(a, b)))).alias("ab_not"),
        F.array_position(a, 3).alias("pos3"),
        F.concat_ws(",", F.array_remove(a, 3)).alias("no3"),
        F.arrays_overlap(a, b).alias("overlaps"),
        F.concat_ws(",", F.array_repeat(k % 3, 2)).alias("rep2"),
        F.array_join(a, "-").alias("joined"),
        F.array_min(a).alias("amin"),
        F.array_max(a).alias("amax"),
    )


def q52_map_higher_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map higher-order family: str_to_map, transform_keys/values,
    map_filter, map_zip_with, map_entries — projected to deterministic
    scalars/arrays for cross-engine comparison (Q52)."""
    cust = _t(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    s = F.concat(
        F.lit("q:"), (k % 5).cast("string"), F.lit(",r:"), (k % 7).cast("string")
    )
    m = F.str_to_map(s, F.lit(","), F.lit(":"))
    mi = F.map_from_arrays(F.array(F.lit("q"), F.lit("r")), F.array(k % 5, k % 7))
    mi2 = F.transform_values(mi, lambda _, v: v + 10)
    return cust.select(
        "c_custkey",
        F.element_at(
            F.transform_values(m, lambda _, v: v.cast("long") * 2), "q"
        ).alias("tv_q"),
        F.concat_ws(
            ",", F.array_sort(F.map_keys(F.transform_keys(m, lambda kk, _: F.upper(kk))))
        ).alias("uk"),
        F.size(F.map_filter(mi, lambda _, v: v > 2)).alias("n_big"),
        F.element_at(F.map_zip_with(mi, mi2, lambda _, v1, v2: v1 + v2), "q").alias("zip_q"),
        F.concat_ws(
            ",",
            F.array_sort(
                F.transform(
                    F.map_entries(mi),
                    lambda e: F.concat(e["key"], F.lit("="), e["value"].cast("string")),
                )
            ),
        ).alias("entries_str"),
    )


def q53_outer_explode_regexp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """explode_outer over a sometimes-empty array (row preserved with
    NULL) and the regexp family: extract_all, count, rlike (Q53)."""
    docs = _t(spark, sf_dir, "documents")
    # empty for docs whose text has no 'z' words — exercises the outer path
    zwords = F.expr(r"filter(split(text, ' '), w -> w rlike '^z')")
    return docs.select(
        "doc_id",
        F.explode_outer(zwords).alias("zword"),
        F.size(F.regexp_extract_all("text", F.lit("[aeiou]{2}"), 0)).alias("n_vv"),
        F.regexp_count("text", F.lit("the")).alias("n_the"),
        F.col("text").rlike("^[a-z]").alias("starts_alpha"),
    )


def q54_conversions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Base/byte conversions and formatting: bin, hex/unhex round-trip,
    conv, format_string, encode (Q54)."""
    cust = _t(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    return cust.select(
        "c_custkey",
        F.bin(k).alias("k_bin"),
        F.lower(F.hex(k)).alias("k_hex"),
        F.hex(F.encode(F.col("c_name"), "utf-8")).alias("name_hex"),
        F.decode(F.unhex(F.hex(F.encode(F.col("c_name"), "utf-8"))), "utf-8").alias(
            "name_rt"
        ),
        F.lower(F.conv(k.cast("string"), 10, 16)).alias("k_base16"),
        F.format_string("cust-%05d", k).alias("k_fmt"),
    )


def q55_inline_structs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """inline: explode an array of structs directly into columns (Q55)."""
    cust = _t(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    arr = F.array(
        F.struct((k % 3).alias("a"), F.lit("lo").alias("b")),
        F.struct((k % 5).alias("a"), F.lit("hi").alias("b")),
    )
    return cust.select("c_custkey", F.inline(arr))


def q56_variant_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured VARIANT type (Spark 4): parse_json → typed
    variant_get extraction, vs classic get_json_object (Q56)."""
    ev = _t(spark, sf_dir, "events")
    v = F.parse_json(F.col("props"))
    return ev.select(
        "event_id",
        F.variant_get(v, "$.k", "int").alias("vk"),
        F.variant_get(v, "$.missing", "string").alias("vmissing"),
        F.get_json_object("props", "$.k").cast("int").alias("jk"),
    )


def q57_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WITH RECURSIVE (Spark 4): running 12-month horizon per region —
    a deliberately small recursion (fixed depth, driver-iterated plan)
    joined back to a real table (Q57)."""
    load_tables(spark, sf_dir)
    return spark.sql(
        """
        WITH RECURSIVE months(m) AS (
            SELECT 1
            UNION ALL
            SELECT m + 1 FROM months WHERE m < 12
        )
        SELECT r.r_regionkey, m.m, r.r_regionkey * 100 + m.m AS slot
        FROM region r CROSS JOIN months m
        """
    )


def q58_agg_extras(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Remaining aggregate family: count_if, bool_and/bool_or, exact
    median, max_by/min_by (argmax/argmin) per customer group (Q58).

    max_by ties are broken by value uniqueness: synthetic double prices
    are tie-free at test scale, and the driver compare would surface a
    tie as a hash diff."""
    orders = _t(spark, sf_dir, "orders")
    return orders.groupBy("o_custkey").agg(
        F.count_if(F.col("o_totalprice") > 100000.0).alias("n_big"),
        F.bool_and(F.col("o_totalprice") > 0.0).alias("all_pos"),
        F.bool_or(F.col("o_orderstatus") == "F").alias("any_final"),
        F.median("o_totalprice").alias("med_price"),
        F.max_by("o_orderkey", "o_totalprice").alias("key_of_max"),
        F.min_by("o_orderkey", "o_totalprice").alias("key_of_min"),
    )


def q59_regr_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear-regression aggregate family (regr_count/avgx/avgy/slope/
    intercept/r2) per returnflag over lineitem (Q59).

    Formulated from exact decimal moment sums instead of the built-in
    ``regr_*`` accumulators: double-sum accumulation is shuffle-order
    dependent, so two engines can disagree in the last ulps. Decimal
    sums are associative (order-free); the closed-form slope/intercept/
    r2 then apply identical IEEE double ops to identical inputs on both
    engines. Same posture as functions/deterministic.py, and still a
    plain partial+final hash aggregate at 100 TB."""
    li = fan_out(
        _t(spark, sf_dir, "lineitem").select("l_returnflag", "l_quantity", "l_extendedprice")
    )
    x = F.col("l_quantity")
    y = F.col("l_extendedprice")
    dec = "decimal(27,6)"
    agg = li.groupBy("l_returnflag").agg(
        F.count(x).cast("double").alias("_n"),
        F.sum(x.cast(dec)).cast("double").alias("_sx"),
        F.sum(y.cast(dec)).cast("double").alias("_sy"),
        F.sum((x * x).cast(dec)).cast("double").alias("_sxx"),
        F.sum((y * y).cast(dec)).cast("double").alias("_syy"),
        F.sum((x * y).cast(dec)).cast("double").alias("_sxy"),
    )
    n, sx, sy = F.col("_n"), F.col("_sx"), F.col("_sy")
    sxx, syy, sxy = F.col("_sxx"), F.col("_syy"), F.col("_sxy")
    cov_n = n * sxy - sx * sy  # n^2 * covariance
    varx_n = n * sxx - sx * sx
    vary_n = n * syy - sy * sy
    slope = cov_n / varx_n
    return agg.select(
        "l_returnflag",
        n.cast("long").alias("regr_cnt"),
        F.round(sx / n, 6).alias("avg_x"),
        F.round(sy / n, 6).alias("avg_y"),
        F.round(slope, 6).alias("slope"),
        F.round(sy / n - slope * (sx / n), 6).alias("intercept"),
        F.round(cov_n * cov_n / (varx_n * vary_n), 6).alias("r2"),
    )


def q60_lateral_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery: top-2 orders per customer segment
    sample, via a per-row dependent subquery (Q60). Catalyst decorrelates
    the lateral into a ranked window join — no per-row re-execution."""
    _t(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    _t(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        """
        SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
        FROM customer c,
        LATERAL (
            SELECT o_orderkey, o_totalprice
            FROM orders
            WHERE o_custkey = c.c_custkey
            ORDER BY o_totalprice DESC, o_orderkey
            LIMIT 2
        ) t
        WHERE c.c_mktsegment = 'BUILDING'
        """
    )


def q61_bitwise_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise aggregate family bit_and / bit_or / bit_xor per order
    priority (Q61) — order-independent, so safe for cross-engine hashes."""
    orders = _t(spark, sf_dir, "orders")
    return orders.groupBy("o_orderpriority").agg(
        F.bit_and(F.col("o_custkey")).alias("band"),
        F.bit_or(F.col("o_custkey")).alias("bor"),
        F.bit_xor(F.col("o_custkey")).alias("bxor"),
    )


def q62_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch gap-based sessionization over the events stream table (Q62):
    a new session starts after a >10 min silence per user; emits per-
    session event count, span, and deterministic value total.

    Classic lag + cumulative-sum-of-boundaries pattern: two window
    passes over one hash partitioning (user_id), so a single shuffle;
    at 100 TB this is one exchange plus sort, no driver state."""
    # events.ts is TIMESTAMP_NTZ by catalog contract (tz-free wall
    # time, same as DuckDB's read of the parquet) — gap arithmetic is
    # session-timezone-independent with no conversion needed.
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    secs = (
        F.unix_date(F.to_date("ts")).cast("long") * 86400
        + F.hour("ts") * 3600
        + F.minute("ts") * 60
        + F.second("ts")
    )
    ev = ev.withColumn("__secs", secs)
    gap = F.col("__secs") - F.lag("__secs").over(w)
    new_sess = F.when(gap.isNull() | (gap > 600), 1).otherwise(0)
    sess = ev.withColumn(
        "session_seq",
        F.sum(new_sess).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
    )
    return sess.groupBy("user_id", "session_seq").agg(
        F.count("*").alias("n_events"),
        F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("sess_start"),
        F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss").alias("sess_end"),
        dsum(F.col("value"), "sess_value"),
    )


def q63_url_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL parsing family (parse_url HOST/PATH/QUERY + query-param
    extraction) over constructed event URLs (Q63). The oracle mirrors
    with anchored regexps — same outputs, both engines codegen/RE2."""
    ev = _t(spark, sf_dir, "events")
    url = F.concat(
        F.lit("https://shop"),
        (F.col("user_id") % 5).cast("string"),
        F.lit(".example.com/p/"),
        F.col("event_type"),
        F.lit("?uid="),
        F.col("user_id").cast("string"),
        F.lit("&ref=search"),
    )
    u = ev.select("event_id", url.alias("url"))
    return u.select(
        "event_id",
        F.parse_url("url", F.lit("HOST")).alias("host"),
        F.parse_url("url", F.lit("PATH")).alias("path"),
        F.parse_url("url", F.lit("QUERY")).alias("query"),
        F.parse_url("url", F.lit("QUERY"), F.lit("uid")).alias("uid"),
    )


def q64_na_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DataFrameNaFunctions surface (Q64): inject nulls deterministically
    (nullif), then na.replace → na.fill → na.drop(subset). Pure
    projections + one pushed filter; the oracle states the same
    CASE/COALESCE algebra."""
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.nullif(F.col("o_orderstatus"), F.lit("P")).alias("status"),
        F.when(F.col("o_orderkey") % 7 == 0, None).otherwise(F.col("o_totalprice")).alias("price"),
        F.when(F.col("o_orderkey") % 5 == 0, None).otherwise(F.col("o_custkey")).alias("cust"),
    )
    return (
        orders.na.replace({"F": "FINAL", "O": "OPEN"}, subset=["status"])
        .na.fill({"price": -1.0, "status": "UNKNOWN"})
        .na.drop(subset=["cust"])
    )


def q65_trig_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trigonometric / hyperbolic / log-base scalar family (Q65) —
    rounding in the harness absorbs last-ulp libm differences."""
    li = _t(spark, sf_dir, "lineitem")
    x = F.col("l_quantity")
    d = F.col("l_discount")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.sin(x).alias("sin_q"),
        F.cos(x).alias("cos_q"),
        F.tan(d).alias("tan_d"),
        F.asin(d).alias("asin_d"),
        F.acos(d).alias("acos_d"),
        F.atan(x).alias("atan_q"),
        F.atan2(x, F.col("l_extendedprice")).alias("atan2_qp"),
        F.degrees(d).alias("deg_d"),
        F.radians(x).alias("rad_q"),
        F.cbrt(F.col("l_extendedprice")).alias("cbrt_p"),
        F.sinh(d).alias("sinh_d"),
        F.cosh(d).alias("cosh_d"),
        F.tanh(d).alias("tanh_d"),
        F.log10(F.col("l_extendedprice")).alias("log10_p"),
        F.log2(x + 1).alias("log2_q"),
        F.signum(d - 0.05).alias("sig_d"),
    )


def q66_keep_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTINCT ON / keep-latest-per-key (Q66): one row per customer —
    their most recent order (date desc, orderkey desc tie-break) via a
    row_number window, the scalable argmax idiom (single shuffle on the
    key, no self-join)."""
    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").desc(), F.col("o_orderkey").desc()
    )
    return (
        orders.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("o_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
    )


def q67_agg_filter_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate FILTER clauses + HAVING (Q67): per-status order stats
    with conditional aggregation folded into ONE pass (no self-join,
    map-side partial aggs)."""
    orders = _t(spark, sf_dir, "orders")
    g = orders.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.count(F.when(F.col("o_orderpriority") == "1-URGENT", 1)).alias("n_urgent"),
        F.sum(
            F.when(
                F.col("o_orderdate") >= "1995-01-01",
                F.col("o_totalprice").cast("decimal(20,2)"),
            )
        )
        .cast("double")
        .alias("late_revenue"),
    )
    return g.filter(F.col("n") > 100)


def q68_string_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation (Q68): comma-joined region member
    nations — sorted collect_list + array_join pins the order so the
    result is partitioning-independent."""
    nation = _t(spark, sf_dir, "nation")
    return nation.groupBy("n_regionkey").agg(
        F.array_join(F.sort_array(F.collect_list("n_name")), ",").alias("members"),
        F.count(F.lit(1)).alias("n_nations"),
    )


def q69_time_range_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 7-day per-customer revenue (Q69): RANGE frame over the
    epoch-day ordering — the time-window analytic that rows-frames get
    wrong when a customer has multiple orders per day. One shuffle on
    the key; the frame scan is per-partition."""
    orders = _t(spark, sf_dir, "orders")
    d = orders.select(
        "o_custkey",
        "o_orderkey",
        F.expr("unix_date(CAST(o_orderdate AS DATE))").alias("day"),
        F.col("o_totalprice").cast("decimal(18,2)").alias("price"),
    )
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("day")
        .rangeBetween(-6, Window.currentRow)
    )
    return d.select(
        "o_custkey",
        "o_orderkey",
        "day",
        F.sum("price").over(w).cast("double").alias("trailing_7d"),
        F.count(F.lit(1)).over(w).alias("n_7d"),
    )


def q70_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram via width_bucket (Q70): 20 bins over order
    totals — one partial+final aggregation, the bin expression is
    codegen'd (no per-bin jobs, no driver loop)."""
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.select(
            F.width_bucket("o_totalprice", F.lit(0.0), F.lit(600000.0), F.lit(20)).alias("bin")
        )
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def q25_doc_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Record → keyed JSON document encode — the reference's A5 operator
    (MapRDBJSONSink.java:119-147) as a single codegen'd projection (Q25)."""
    from mapr_plugins_spark.sinks.document import encode_documents

    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_mktsegment")
    return encode_documents(cust, key_field="c_custkey")


def oracles() -> dict[str, str]:
    """The relational family's DuckDB oracles, one per query above."""
    from mapr_plugins_spark.oracles import RELATIONAL_ORACLES

    return RELATIONAL_ORACLES

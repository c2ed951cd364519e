"""Relational query surface over the star schema.

The reference has no joins, windows, set ops, rollups, or distinct aggs
(SURVEY.md §2.8) — this module supplies them as first-class engine
capabilities, each with a DuckDB oracle.

Portability conventions (see plans/movie_view.py): money sums use
FLOOR(x*100) integer cents so aggregation is exact and order-independent;
window orderings always include a unique tie-break key; epochs are floored
to whole seconds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.money import cents as _cents
from ..operators.asof import asof_join
from ..session import scratch_dir
from ..operators.sessions import session_summary
from ..sources.readers import load_star_table, read_parquet
from .catalog import _tag, register
from ..operators.materialize import materialize


# ---------------------------------------------------------------------------
# Scans, filters, projections (reference P1-P5 over native star tables)
# ---------------------------------------------------------------------------


@register(
    "csv_roundtrip",
    """
SELECT c_mktsegment,
       COUNT(*) AS n_customers,
       CAST(SUM(CAST(FLOOR(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS acctbal_cents,
       CAST(SUM(length(c_name)) AS BIGINT) AS name_chars
FROM customer
GROUP BY c_mktsegment
""",
    "S1 CSV scan, driver-exercised (reference ingest.py:64): spill the "
    "customer table to a CSV layer, re-read with the declared schema in "
    "PERMISSIVE mode, aggregate — the oracle reads the parquet truth, so "
    "a parse/format defect anywhere in the CSV path breaks the hash "
    "(doubles survive because Spark writes shortest-roundtrip reprs)",
    tags=("sources",),
)
def q_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..schemas import STAR_SCHEMAS
    from ..sources.readers import read_csv
    from ..sources.sinks import write_csv

    cust = load_star_table(spark, sf_dir, "customer")
    path = scratch_dir("csv_roundtrip", _tag(sf_dir))
    # nullValue sentinel keeps NULL distinguishable from '' on re-read
    write_csv(cust, path, nullValue="\\N")
    back = read_csv(spark, path, STAR_SCHEMAS["customer"], nullValue="\\N")
    return back.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum(_cents(F.col("c_acctbal"))).cast("long").alias("acctbal_cents"),
        F.sum(F.length("c_name")).cast("long").alias("name_chars"),
    )


@register(
    "json_roundtrip",
    """
SELECT s_nationkey,
       COUNT(*) AS n_suppliers,
       CAST(SUM(CAST(FLOOR(s_acctbal * 100) AS BIGINT)) AS BIGINT) AS acctbal_cents,
       CAST(SUM(length(s_name)) AS BIGINT) AS name_chars
FROM supplier
GROUP BY s_nationkey
""",
    "JSON-lines source scan, driver-exercised: spill supplier to a JSON "
    "layer, re-read with the declared schema, aggregate — the oracle reads "
    "the parquet truth, so any parse/format defect in the JSON path breaks "
    "the hash (doubles survive via shortest-roundtrip reprs)",
    tags=("sources",),
)
def q_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..schemas import STAR_SCHEMAS
    from ..sources.sinks import write_json

    supp = load_star_table(spark, sf_dir, "supplier")
    path = scratch_dir("json_roundtrip", _tag(sf_dir))
    write_json(supp, path)
    back = spark.read.schema(STAR_SCHEMAS["supplier"]).json(path)
    return back.groupBy("s_nationkey").agg(
        F.count(F.lit(1)).alias("n_suppliers"),
        F.sum(_cents(F.col("s_acctbal"))).cast("long").alias("acctbal_cents"),
        F.sum(F.length("s_name")).cast("long").alias("name_chars"),
    )


@register(
    "filter_project_pushdown",
    """
SELECT l_orderkey, l_linenumber, l_quantity,
       CAST(FLOOR(l_extendedprice * (1 + l_tax) * 100) AS BIGINT) AS charge_cents,
       l_returnflag
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01'
  AND l_shipdate < TIMESTAMP '1998-01-01'
  AND l_discount > 0.02
  AND l_returnflag IS NOT NULL
""",
    "P1/P3/P5: compound predicate + projection with a computed measure; "
    "filters and the 6-column ReadSchema reach the parquet scan",
    tags=("relational",),
)
def q_filter_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_star_table(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= "1997-01-01")
        & (F.col("l_shipdate") < "1998-01-01")
        & (F.col("l_discount") > 0.02)
        & F.col("l_returnflag").isNotNull()
    ).select(
        "l_orderkey",
        "l_linenumber",
        "l_quantity",
        _cents(F.col("l_extendedprice") * (1 + F.col("l_tax"))).alias("charge_cents"),
        "l_returnflag",
    )


@register(
    "sort_limit_topk",
    """
SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority
FROM orders
ORDER BY o_totalprice DESC, o_orderkey ASC
LIMIT 50
""",
    "O1+O2: global top-k — Spark plans TakeOrderedAndProject (no full sort "
    "materialization), deterministic via unique tie-break",
    tags=("relational",),
)
def q_sort_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_star_table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(50)
    )


# ---------------------------------------------------------------------------
# Joins (gap inventory: the reference is single-table)
# ---------------------------------------------------------------------------


@register(
    "join_star_revenue",
    """
SELECT n_name,
       CAST(SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount) * 100) AS BIGINT))
           AS BIGINT) AS revenue_cents,
       COUNT(*) AS n_lineitems
FROM customer, orders, lineitem, supplier, nation, region
WHERE c_custkey = o_custkey
  AND l_orderkey = o_orderkey
  AND l_suppkey = s_suppkey
  AND c_nationkey = s_nationkey
  AND s_nationkey = n_nationkey
  AND n_regionkey = r_regionkey
  AND r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1999-01-01'
GROUP BY n_name
""",
    "TPC-H Q5 shape: 6-table join with broadcast dims + partial/final hash "
    "agg; local-supplier condition via c_nationkey = s_nationkey",
    tags=("relational", "join"),
)
def q_join_star_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_star_table(spark, sf_dir, "customer")
    orders = load_star_table(spark, sf_dir, "orders")
    lineitem = load_star_table(spark, sf_dir, "lineitem")
    supplier = load_star_table(spark, sf_dir, "supplier")
    nation = load_star_table(spark, sf_dir, "nation")
    region = load_star_table(spark, sf_dir, "region")
    # lineitem is the 100 TB fact: everything else joins to it broadcast
    # (supplier/nation/region are tiny; customer/orders shuffle-join on keys
    # and AQE picks broadcast when they fit).
    return (
        lineitem.join(
            orders.filter(
                (F.col("o_orderdate") >= "1996-01-01")
                & (F.col("o_orderdate") < "1999-01-01")
            ),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(customer, F.col("c_custkey") == F.col("o_custkey"))
        .join(
            F.broadcast(supplier),
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(
            F.broadcast(region.filter(F.col("r_name") == "ASIA")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .groupBy("n_name")
        .agg(
            F.sum(_cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias(
                "revenue_cents"
            ),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
    )


# ---------------------------------------------------------------------------
# Window functions (gap inventory)
# ---------------------------------------------------------------------------


@register(
    "window_customer_orders",
    """
SELECT o_custkey, o_orderkey,
       CAST(row_number() OVER w AS INTEGER) AS order_rank,
       CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS totalprice_cents,
       lag(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) OVER w
           AS prev_totalprice_cents,
       CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT))
           OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS BIGINT) AS running_cents
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
""",
    "window suite: row_number + lag + running sum per customer, one shuffle "
    "on the partition key, unique (date, key) ordering",
    tags=("relational", "window"),
)
def q_window_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_star_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    cents = _cents(F.col("o_totalprice"))
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.row_number().over(w).alias("order_rank"),
        cents.alias("totalprice_cents"),
        F.lag(cents).over(w).alias("prev_totalprice_cents"),
        F.sum(cents)
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("running_cents"),
    )


# ---------------------------------------------------------------------------
# Rollup / distinct agg / set ops (gap inventory)
# ---------------------------------------------------------------------------


@register(
    "rollup_lineitem",
    """
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
       COUNT(*) AS n_rows
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
""",
    "grouping-sets surface: ROLLUP over (returnflag, linestatus); quantity "
    "is integral so sums are exact",
    tags=("relational",),
)
def q_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_star_table(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"),
        F.count(F.lit(1)).alias("n_rows"),
    )


@register(
    "cube_orders",
    """
SELECT o_orderstatus, o_orderpriority,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS totalprice_cents
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
""",
    "grouping-sets surface #2: CUBE over (status, priority) — all four "
    "grouping combinations in one shuffle via Expand",
    tags=("relational",),
)
def q_cube_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_star_table(spark, sf_dir, "orders")
    return orders.cube("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(_cents(F.col("o_totalprice"))).alias("totalprice_cents"),
    )


@register(
    "profile_nonnull_counts",
    """
SELECT COUNT(*) AS n_rows,
       COUNT(l_orderkey) AS n_l_orderkey,
       COUNT(l_shipdate) AS n_l_shipdate,
       COUNT(l_returnflag) AS n_l_returnflag,
       COUNT(l_quantity) AS n_l_quantity,
       COUNT(l_extendedprice) AS n_l_extendedprice,
       COUNT(DISTINCT l_returnflag) AS n_distinct_returnflag
FROM lineitem
""",
    "profiling (A3, check_data.py:34): per-column non-null counts + a "
    "distinct cardinality, one pass",
    tags=("profiling",),
)
def q_profile_nonnull(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_star_table(spark, sf_dir, "lineitem")
    cols = ["l_orderkey", "l_shipdate", "l_returnflag", "l_quantity", "l_extendedprice"]
    return li.agg(
        F.count(F.lit(1)).alias("n_rows"),
        *[F.count(c).alias(f"n_{c}") for c in cols],
        F.countDistinct("l_returnflag").alias("n_distinct_returnflag"),
    )


@register(
    "distinct_agg",
    """
SELECT l_returnflag,
       COUNT(DISTINCT l_suppkey) AS n_suppliers,
       COUNT(DISTINCT l_partkey) AS n_parts,
       COUNT(*) AS n_rows
FROM lineitem
GROUP BY l_returnflag
""",
    "multi distinct aggregation (expand + two-phase agg in Spark)",
    tags=("relational",),
)
def q_distinct_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_star_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_suppkey").alias("n_suppliers"),
        F.countDistinct("l_partkey").alias("n_parts"),
        F.count(F.lit(1)).alias("n_rows"),
    )


@register(
    "map_status_counts",
    """
SELECT o_orderpriority,
       '{' || string_agg('"' || o_orderstatus || '":' || n, ','
                         ORDER BY o_orderstatus) || '}' AS status_counts
FROM (SELECT o_orderpriority, o_orderstatus, COUNT(*) AS n
      FROM orders GROUP BY 1, 2)
GROUP BY o_orderpriority
""",
    "map functions (a §2.8 reference gap): per-priority status->count map "
    "built with map_from_entries over a sorted entry array, serialized to "
    "canonical JSON (sorted keys make the map value deterministic and "
    "byte-comparable across engines)",
    tags=("relational", "map"),
)
def q_map_status_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_star_table(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_orderpriority", "o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n"))
        .groupBy("o_orderpriority")
        .agg(
            F.to_json(
                F.map_from_entries(
                    F.sort_array(F.collect_list(F.struct("o_orderstatus", "n")))
                )
            ).alias("status_counts")
        )
    )


@register(
    "pivot_priority_by_status",
    """
SELECT o_orderpriority,
       COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS n_F,
       COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS n_O,
       COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS n_P
FROM orders
GROUP BY o_orderpriority
""",
    "pivot: order counts per priority pivoted across the status domain — "
    "Spark rewrites pivot into conditional aggregates (one shuffle, no "
    "per-column scan), same plan as the SQL FILTER form",
    tags=("relational",),
)
def q_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_star_table(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])  # explicit domain: no
        # pre-scan to discover values, keeps the plan one-pass at scale
        .agg(F.count(F.lit(1)))
        .select(
            "o_orderpriority",
            F.coalesce("F", F.lit(0)).alias("n_F"),
            F.coalesce("O", F.lit(0)).alias("n_O"),
            F.coalesce("P", F.lit(0)).alias("n_P"),
        )
    )


@register(
    "anti_semi_customers",
    """
SELECT
  (SELECT COUNT(*) FROM customer c
   WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey))
      AS n_without_orders,
  (SELECT COUNT(*) FROM customer c
   WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                 AND o.o_orderstatus = 'O'))
      AS n_with_open_orders
""",
    "anti + semi join: customers with no orders (left_anti) and customers "
    "with at least one open order (left_semi) — the existence-check joins "
    "that never materialize the match payload",
    tags=("relational", "join"),
)
def q_anti_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_star_table(spark, sf_dir, "customer")
    orders = load_star_table(spark, sf_dir, "orders")
    anti = (
        customer.join(orders, customer.c_custkey == orders.o_custkey, "left_anti")
        .agg(F.count(F.lit(1)).alias("n_without_orders"))
    )
    semi = (
        customer.join(
            orders.filter(F.col("o_orderstatus") == "O"),
            customer.c_custkey == orders.o_custkey,
            "left_semi",
        )
        .agg(F.count(F.lit(1)).alias("n_with_open_orders"))
    )
    return anti.crossJoin(semi)  # two scalar rows -> one lazy result row


@register(
    "set_ops_customers",
    """
SELECT c_custkey FROM (
  (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
   INTERSECT
   SELECT o_custkey AS c_custkey FROM orders WHERE o_orderstatus = 'O')
  UNION
  (SELECT c_custkey FROM customer WHERE c_mktsegment = 'MACHINERY'
   EXCEPT
   SELECT o_custkey AS c_custkey FROM orders WHERE o_orderstatus = 'F')
)
""",
    "set operations: INTERSECT / UNION (distinct) / EXCEPT, explicitly "
    "parenthesized so both engines agree on shape",
    tags=("relational",),
)
def q_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_star_table(spark, sf_dir, "customer")
    orders = load_star_table(spark, sf_dir, "orders")
    building = customer.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    open_cust = (
        orders.filter(F.col("o_orderstatus") == "O")
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    machinery = customer.filter(F.col("c_mktsegment") == "MACHINERY").select(
        "c_custkey"
    )
    final_cust = (
        orders.filter(F.col("o_orderstatus") == "F")
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    return (
        building.intersect(open_cust)
        .union(machinery.exceptAll(final_cust).distinct())
        .distinct()
    )


@register(
    "approx_distinct_sketch",
    """
SELECT l_returnflag,
       COUNT(DISTINCT l_partkey) AS exact_parts,
       COUNT(DISTINCT l_suppkey) AS exact_suppliers,
       TRUE AS parts_within_3sd,
       TRUE AS suppliers_within_3sd
FROM lineitem
GROUP BY l_returnflag
""",
    "sketch aggregation: approx_count_distinct (HyperLogLog++) per group — "
    "the fixed-memory distinct-count path for 100 TB cardinality profiling "
    "(exact distinct shuffles every key; the sketch is one pass, mergeable "
    "partials).  HLL++ raw estimates are engine-specific, so the oracle "
    "checks the exact counts plus in-row |approx-exact|/exact <= 3*rsd "
    "assertions; pytest additionally bounds the raw relative error",
    tags=("relational", "sketch"),
)
def q_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_star_table(spark, sf_dir, "lineitem")
    rsd = 0.02

    def within(approx: str, exact: str):  # |approx - exact| / exact <= 3*rsd
        return (
            F.abs(F.col(approx) - F.col(exact)) / F.col(exact) <= 3 * rsd
        )

    return (
        li.groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_partkey").alias("exact_parts"),
            F.countDistinct("l_suppkey").alias("exact_suppliers"),
            F.approx_count_distinct("l_partkey", rsd=rsd).alias("__ap"),
            F.approx_count_distinct("l_suppkey", rsd=rsd).alias("__as"),
        )
        .select(
            "l_returnflag",
            "exact_parts",
            "exact_suppliers",
            within("__ap", "exact_parts").alias("parts_within_3sd"),
            within("__as", "exact_suppliers").alias("suppliers_within_3sd"),
        )
    )


@register(
    "stats_lineitem_percentiles",
    """
SELECT l_returnflag,
       ROUND(quantile_cont(l_extendedprice, 0.5), 4) AS price_p50,
       ROUND(quantile_cont(l_extendedprice, 0.95), 4) AS price_p95,
       ROUND(stddev_samp(l_quantity), 4) AS qty_stddev,
       COUNT(*) AS n_rows
FROM lineitem
GROUP BY l_returnflag
""",
    "statistical aggregates beyond mean/count (a §2.8 reference gap): "
    "exact interpolated percentiles + sample stddev per group "
    "(percentile == quantile_cont semantics, verified bit-identical)",
    tags=("relational", "stats"),
)
def q_stats_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_star_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.percentile("l_extendedprice", 0.5), 4).alias("price_p50"),
        F.round(F.percentile("l_extendedprice", 0.95), 4).alias("price_p95"),
        F.round(F.stddev_samp("l_quantity"), 4).alias("qty_stddev"),
        F.count(F.lit(1)).alias("n_rows"),
    )


@register(
    "range_join_price_bands",
    """
WITH bands AS (
  SELECT band_id, lo, hi FROM (VALUES
    (0, 0.0, 50000.0), (1, 50000.0, 150000.0), (2, 150000.0, 300000.0),
    (3, 300000.0, 100000000.0)) AS t(band_id, lo, hi)
)
SELECT band_id, COUNT(*) AS n_orders,
       CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS totalprice_cents
FROM orders JOIN bands
  ON o_totalprice >= lo AND o_totalprice < hi
GROUP BY band_id
""",
    "range join: fact rows land in [lo, hi) bands via broadcast range "
    "predicate — the tiny-side-broadcast shape that avoids a cartesian "
    "shuffle at 100 TB (a sorted band list also admits binary-search "
    "lookup; Spark's BNLJ over a broadcast of 4 rows is equivalent work)",
    tags=("relational", "join"),
)
def q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    bands = spark.createDataFrame(
        [(0, 0.0, 50_000.0), (1, 50_000.0, 150_000.0), (2, 150_000.0, 300_000.0),
         (3, 300_000.0, 100_000_000.0)],
        "band_id int, lo double, hi double",
    )
    orders = load_star_table(spark, sf_dir, "orders")
    return (
        orders.join(
            F.broadcast(bands),
            (F.col("o_totalprice") >= F.col("lo")) & (F.col("o_totalprice") < F.col("hi")),
        )
        .groupBy("band_id")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(_cents(F.col("o_totalprice"))).alias("totalprice_cents"),
        )
    )


# ---------------------------------------------------------------------------
# Temporal operators: as-of join, sessionization, JSON props
# ---------------------------------------------------------------------------


@register(
    "asof_error_purchase",
    """
SELECT e.event_id, e.user_id,
       p.event_id AS purchase_event_id,
       CAST(FLOOR(p.value * 100) AS BIGINT) AS purchase_value_cents
FROM (SELECT * FROM events WHERE event_type = 'error') e
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
  ON e.user_id = p.user_id AND e.ts >= p.ts
""",
    "as-of join: each error event picks up the user's most recent purchase "
    "at-or-before it (union + keyed-window plan, no range-join explosion)",
    tags=("temporal", "join"),
)
def q_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_star_table(spark, sf_dir, "events")
    errors = events.filter(F.col("event_type") == "error")
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            "user_id",
            "ts",
            F.col("event_id").alias("purchase_event_id"),
            _cents(F.col("value")).alias("purchase_value_cents"),
        )
    )
    joined = asof_join(
        errors,
        purchases,
        "user_id",
        left_time="ts",
        right_time="ts",
        payload=["purchase_event_id", "purchase_value_cents"],
    )
    return joined.select(
        "event_id", "user_id", "purchase_event_id", "purchase_value_cents"
    )


@register(
    "events_time_rollup",
    """
SELECT date_trunc('day', ts) AS bucket_day,
       date_trunc('hour', ts) AS bucket_hour,
       event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
FROM events
GROUP BY ROLLUP (date_trunc('day', ts), date_trunc('hour', ts)), event_type
""",
    "hypertable-style hierarchical time rollup: hour inside day inside "
    "grand total per event type, one Expand+shuffle — the continuous-"
    "aggregate shape (coarser grains come from the same pass, not a "
    "rescan)",
    tags=("relational", "temporal"),
)
def q_events_time_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    buckets = load_star_table(spark, sf_dir, "events").select(
        F.date_trunc("day", F.col("ts")).alias("bucket_day"),
        F.date_trunc("hour", F.col("ts")).alias("bucket_hour"),
        "event_type",
        "value",
    )
    # grouping sets (day,hour) ⊃ (day) ⊃ (): the time hierarchy rolls up
    # while event_type stays in every set
    return buckets.groupingSets(
        [
            ["bucket_day", "bucket_hour", "event_type"],
            ["bucket_day", "event_type"],
            ["event_type"],
        ],
        "bucket_day",
        "bucket_hour",
        "event_type",
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(_cents(F.col("value"))).alias("value_cents"),
    )


@register(
    "sessionize_events",
    """
WITH marked AS (
  SELECT user_id, ts,
         CAST(FLOOR(epoch(ts)) AS BIGINT) AS sec,
         CASE WHEN CAST(FLOOR(epoch(ts)) AS BIGINT)
                   - lag(CAST(FLOOR(epoch(ts)) AS BIGINT))
                     OVER (PARTITION BY user_id ORDER BY CAST(FLOOR(epoch(ts)) AS BIGINT))
                   > 21600
              OR lag(ts) OVER (PARTITION BY user_id ORDER BY CAST(FLOOR(epoch(ts)) AS BIGINT)) IS NULL
              THEN 1 ELSE 0 END AS is_new
  FROM events WHERE ts IS NOT NULL
),
sessioned AS (
  SELECT user_id, ts, sec,
         CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY sec
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS BIGINT) AS session_seq
  FROM marked
)
SELECT user_id, session_seq,
       COUNT(*) AS n_events,
       MIN(ts) AS session_start,
       MAX(sec) - MIN(sec) AS duration_secs
FROM sessioned
GROUP BY user_id, session_seq
""",
    "gap-based sessionization (6h gap): lag + running sum of session starts, "
    "then per-session aggregates — the batch twin of the streaming surface",
    tags=("temporal",),
)
def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_star_table(spark, sf_dir, "events")
    return session_summary(events, gap_seconds=21600)


@register(
    "events_json_extract",
    """
SELECT event_type,
       CAST(SUM(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
       COUNT(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)) AS n_with_k
FROM events
GROUP BY event_type
""",
    "JSON functions: extract props.k (the reference's `json_cols` never "
    "parse JSON — transform.py:31-39; this is the real capability)",
    tags=("functions",),
)
def q_events_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_star_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").try_cast("long")
    return events.groupBy("event_type").agg(
        F.sum(k).alias("sum_k"), F.count(k).alias("n_with_k")
    )


@register(
    "join_full_outer_nations",
    """
WITH c AS (SELECT c_nationkey AS nationkey, COUNT(*) AS n_customers
           FROM customer GROUP BY 1),
s AS (SELECT s_nationkey AS nationkey, COUNT(*) AS n_suppliers
      FROM supplier GROUP BY 1)
SELECT COALESCE(c.nationkey, s.nationkey) AS nationkey,
       COALESCE(n_customers, 0) AS n_customers,
       COALESCE(n_suppliers, 0) AS n_suppliers
FROM c FULL OUTER JOIN s ON c.nationkey = s.nationkey
""",
    "full outer join (completes the join-type matrix beyond inner/semi/"
    "anti/range/asof): customer vs supplier presence per nation, nulls "
    "coalesced to 0 so nations with only one side survive",
    tags=("relational", "join"),
)
def q_join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = (
        load_star_table(spark, sf_dir, "customer")
        .groupBy(F.col("c_nationkey").alias("nationkey"))
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )
    supp = (
        load_star_table(spark, sf_dir, "supplier")
        .groupBy(F.col("s_nationkey").alias("nationkey"))
        .agg(F.count(F.lit(1)).alias("n_suppliers"))
    )
    return (
        cust.join(supp, "nationkey", "full_outer")
        .select(
            "nationkey",
            F.coalesce("n_customers", F.lit(0)).alias("n_customers"),
            F.coalesce("n_suppliers", F.lit(0)).alias("n_suppliers"),
        )
    )


@register(
    "sql_correlated_exists",
    """
SELECT COUNT(*) AS n_f_only_customers
FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o
              WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')
  AND NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'O')
""",
    "correlated EXISTS / NOT EXISTS subqueries through the engine's SQL "
    "API (spark.sql over registered views — Catalyst rewrites them to "
    "semi/anti joins): customers with finished orders and no open ones",
    tags=("relational", "sql-api"),
)
def q_sql_correlated_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_star_table(spark, sf_dir, "customer").createOrReplaceTempView("v_customer")
    load_star_table(spark, sf_dir, "orders").createOrReplaceTempView("v_orders")
    return spark.sql(
        """
        SELECT COUNT(*) AS n_f_only_customers
        FROM v_customer c
        WHERE EXISTS (SELECT 1 FROM v_orders o
                      WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')
          AND NOT EXISTS (SELECT 1 FROM v_orders o
                          WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'O')
        """
    )


@register(
    "orders_aging_buckets",
    """
SELECT CAST(FLOOR(date_diff('day', CAST(o_orderdate AS DATE), DATE '1998-12-31')
                  / 90) AS BIGINT) AS age_bucket_quarters,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS total_cents
FROM orders
GROUP BY 1
""",
    "date arithmetic: order age in days vs a fixed anchor, bucketed into "
    "90-day quarters (datediff truncates both sides to DATE in both "
    "engines) — the retention/aging rollup shape",
    tags=("relational", "datetime"),
)
def q_orders_aging(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_star_table(spark, sf_dir, "orders")
    age_days = F.datediff(F.lit("1998-12-31").cast("date"), F.col("o_orderdate"))
    return (
        orders.groupBy(
            F.floor(age_days / 90).cast("long").alias("age_bucket_quarters")
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(_cents(F.col("o_totalprice"))).cast("long").alias("total_cents"),
        )
    )


@register(
    "approx_percentile_sketch",
    """
SELECT l_returnflag,
       ROUND(quantile_cont(l_extendedprice, 0.5), 4) AS price_p50_exact,
       TRUE AS p50_within_1pct,
       TRUE AS p95_within_1pct
FROM lineitem
GROUP BY l_returnflag
""",
    "quantile sketch: approx_percentile (Greenwald-Khanna style, fixed "
    "memory, mergeable partials — the percentile path that avoids a "
    "full sort at 100 TB); sketch outputs are engine-specific, so the "
    "oracle checks the exact p50 plus in-row <=1% relative-error "
    "assertions for the sketched p50/p95",
    tags=("relational", "sketch"),
)
def q_approx_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_star_table(spark, sf_dir, "lineitem")

    def within(a, e):  # |approx - exact| / exact <= 1%
        return F.abs(a - e) / e <= 0.01

    agg = li.groupBy("l_returnflag").agg(
        F.percentile("l_extendedprice", 0.5).alias("__e50"),
        F.percentile("l_extendedprice", 0.95).alias("__e95"),
        F.percentile_approx("l_extendedprice", 0.5, 10_000).alias("__a50"),
        F.percentile_approx("l_extendedprice", 0.95, 10_000).alias("__a95"),
    )
    return agg.select(
        "l_returnflag",
        F.round("__e50", 4).alias("price_p50_exact"),
        within(F.col("__a50"), F.col("__e50")).alias("p50_within_1pct"),
        within(F.col("__a95"), F.col("__e95")).alias("p95_within_1pct"),
    )


#: (table, unique-key expression) pairs for the data-quality gate; the
#: lineitem key is the composite (orderkey, linenumber) folded into one
#: portable integer (linenumber < 100 in any TPC-H-ish generator)
_DQ_KEYS: list[tuple[str, str]] = [
    ("region", "r_regionkey"),
    ("nation", "n_nationkey"),
    ("customer", "c_custkey"),
    ("supplier", "s_suppkey"),
    ("part", "p_partkey"),
    ("orders", "o_orderkey"),
    ("lineitem", "l_orderkey * 100 + l_linenumber"),
    ("documents", "doc_id"),
    ("embeddings", "vec_id"),
]


@register(
    "data_quality_checks",
    "\nUNION ALL\n".join(
        f"""SELECT '{t}' AS table_name,
       COUNT(*) AS n_rows,
       COUNT(DISTINCT {k}) AS n_distinct_keys,
       COUNT(*) = COUNT(DISTINCT {k}) AS keys_unique,
       COUNT(*) - COUNT({k.split(' ')[0]}) AS n_null_keys
FROM {t}"""
        for t, k in _DQ_KEYS
    ),
    "data-quality gate (the reference's check_data.py role, run as one "
    "declarative query instead of a manual inspection script): per-table "
    "row counts, key-distinctness, uniqueness flag and null-key count — "
    "the dbt-test shape a pipeline asserts before publishing a layer",
    tags=("relational", "quality"),
)
def q_data_quality_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = None
    for t, k in _DQ_KEYS:
        df = load_star_table(spark, sf_dir, t)
        key = F.expr(k)
        first_col = k.split(" ")[0]
        agg = df.agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.countDistinct(key).alias("n_distinct_keys"),
            F.count(F.col(first_col)).alias("__nn"),
        ).select(
            F.lit(t).alias("table_name"),
            "n_rows",
            "n_distinct_keys",
            (F.col("n_rows") == F.col("n_distinct_keys")).alias("keys_unique"),
            (F.col("n_rows") - F.col("__nn")).alias("n_null_keys"),
        )
        out = agg if out is None else out.unionAll(agg)
    return out


@register(
    "partitioned_layer_prune",
    """
SELECT o_orderpriority,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS total_cents
FROM orders
WHERE o_orderstatus = 'F'
GROUP BY o_orderpriority
""",
    "partitioned layer, driver-exercised (S5): write orders partitioned "
    "by o_orderstatus, re-read with a partition filter — the scan touches "
    "only the 'F' directory (partition pruning, pinned separately by "
    "plan test) — and aggregates against the parquet truth",
    tags=("sources", "partitioning"),
)
def q_partitioned_layer_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.sinks import write_parquet

    orders = load_star_table(spark, sf_dir, "orders")
    path = scratch_dir("partitioned_orders", _tag(sf_dir))
    write_parquet(orders, path, partition_by=["o_orderstatus"])
    back = read_parquet(spark, path).filter(F.col("o_orderstatus") == "F")
    return back.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(_cents(F.col("o_totalprice"))).cast("long").alias("total_cents"),
    )


@register(
    "asof_forward_next_purchase",
    """
SELECT e.event_id, e.user_id,
       p.event_id AS next_purchase_event_id,
       CAST(FLOOR(p.value * 100) AS BIGINT) AS next_purchase_cents
FROM (SELECT * FROM events WHERE event_type = 'error') e
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
  ON e.user_id = p.user_id AND e.ts <= p.ts
""",
    "forward as-of join: each error event picks up the user's NEXT "
    "purchase at-or-after it — the mirrored direction of "
    "asof_error_purchase (same union + keyed-window plan, frame flipped "
    "to current-row..following with first ignorenulls); one shuffle on "
    "the key, no range explosion",
    tags=("temporal", "join"),
)
def q_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_star_table(spark, sf_dir, "events")
    errors = events.filter(F.col("event_type") == "error")
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        F.col("event_id").alias("next_purchase_event_id"),
        _cents(F.col("value")).alias("next_purchase_cents"),
    )
    joined = asof_join(
        errors,
        purchases,
        "user_id",
        left_time="ts",
        right_time="ts",
        payload=["next_purchase_event_id", "next_purchase_cents"],
        direction="forward",
    )
    return joined.select(
        "event_id", "user_id", "next_purchase_event_id", "next_purchase_cents"
    )


@register(
    "deterministic_sample_5pct",
    """
SELECT doc_id, lang
FROM documents
WHERE CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
      % 100 < 5
""",
    "reproducible sampling: a 5% hash-gate on md5(id) — unlike "
    "rand()-based TABLESAMPLE this is deterministic across runs, "
    "engines, and partitionings (the property a training-data pipeline "
    "needs so a sample can be re-derived and audited); shuffle-free "
    "filter, ~5% selectivity",
    tags=("sampling",),
)
def q_deterministic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_star_table(spark, sf_dir, "documents")
    gate = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long")
        % 100
    )
    return docs.filter(gate < 5).select("doc_id", "lang")


@register(
    "topk_parts_per_brand",
    """
SELECT p_brand, p_partkey, p_retailprice
FROM (
  SELECT p_brand, p_partkey, p_retailprice,
         row_number() OVER (PARTITION BY p_brand
                            ORDER BY p_retailprice DESC, p_partkey) AS rn
  FROM part
) WHERE rn <= 3
""",
    "top-k per group (k=3 priciest parts per brand): the partitioned "
    "window complement of the global TakeOrderedAndProject top-k — rank "
    "runs inside each group's partition after one shuffle on the group "
    "key, so no single-task bottleneck at any group count",
    tags=("window",),
)
def q_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_star_table(spark, sf_dir, "part")
    w = Window.partitionBy("p_brand").orderBy(
        F.desc("p_retailprice"), F.asc("p_partkey")
    )
    return (
        part.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("p_brand", "p_partkey", "p_retailprice")
    )


@register(
    "customer_balance_deciles",
    """
WITH t AS (
  SELECT c_mktsegment, c_acctbal,
         ntile(10) OVER (PARTITION BY c_mktsegment
                         ORDER BY c_acctbal, c_custkey) AS decile
  FROM customer
)
SELECT c_mktsegment, decile,
       COUNT(*) AS n_customers,
       CAST(MIN(CAST(FLOOR(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS lo_cents,
       CAST(MAX(CAST(FLOOR(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS hi_cents
FROM t GROUP BY 1, 2
""",
    "decile bucketing (ntile over a total order with unique tie-break) "
    "+ per-bucket bounds — the quantile-bucket summary shape; ntile is "
    "deterministic only with the tie-break key, which both engines get",
    tags=("window", "stats"),
)
def q_balance_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_star_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    return (
        cust.withColumn("decile", F.ntile(10).over(w).cast("long"))
        .groupBy("c_mktsegment", "decile")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.min(_cents(F.col("c_acctbal"))).alias("lo_cents"),
            F.max(_cents(F.col("c_acctbal"))).alias("hi_cents"),
        )
    )


@register(
    "session_window_native",
    """
WITH m AS (
  SELECT user_id, ts, epoch_us(ts) AS us,
         CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                   OR epoch_us(ts) - lag(epoch_us(ts)) OVER w >= 21600000000
              THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts))
),
s AS (
  SELECT user_id, ts,
         SUM(is_new) OVER (PARTITION BY user_id ORDER BY us
                           ROWS UNBOUNDED PRECEDING) AS seq
  FROM m
)
SELECT user_id,
       MIN(ts) AS session_start,
       MAX(ts) + INTERVAL 6 HOUR AS session_end,
       COUNT(*) AS n_events
FROM s GROUP BY user_id, seq
""",
    "native session_window aggregation (6h gap): Spark's built-in "
    "merging session windows over a batch frame — the declarative twin "
    "of the applyInPandasWithState sessionizer (sessionize_events), "
    "same islands semantics (a gap of exactly 6h starts a new session: "
    "session_window ends are exclusive), one shuffle on (user, window)",
    tags=("temporal", "window"),
)
def q_session_window_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_star_table(spark, sf_dir, "events")
    return (
        events.groupBy(F.session_window("ts", "6 hours").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


@register(
    "sql_lateral_topk",
    """
SELECT n.n_name, c.c_custkey, c.c_acctbal
FROM nation n, LATERAL (
  SELECT c_custkey, c_acctbal FROM customer
  WHERE c_nationkey = n.n_nationkey
  ORDER BY c_acctbal DESC, c_custkey LIMIT 2) c
""",
    "LATERAL correlated subquery through the SQL surface: top-2 "
    "customers by balance per nation — Catalyst rewrites the lateral "
    "limit into a partitioned rank, so it runs as one shuffle on the "
    "correlation key, not a per-row subquery loop",
    tags=("relational", "sql-api"),
)
def q_sql_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_star_table(spark, sf_dir, "nation").createOrReplaceTempView("v_nation")
    load_star_table(spark, sf_dir, "customer").createOrReplaceTempView(
        "v_customer"
    )
    return spark.sql(
        """
        SELECT n.n_name, c.c_custkey, c.c_acctbal
        FROM v_nation n, LATERAL (
          SELECT c_custkey, c_acctbal FROM v_customer
          WHERE c_nationkey = n.n_nationkey
          ORDER BY c_acctbal DESC, c_custkey LIMIT 2) c
        """
    )


@register(
    "events_interarrival_bands",
    """
WITH g AS (
  SELECT (epoch_us(ts) - lag(epoch_us(ts))
          OVER (PARTITION BY user_id ORDER BY epoch_us(ts))) / 1000000.0
         AS gap_s
  FROM events)
SELECT CASE WHEN gap_s < 60 THEN 'lt_1m' WHEN gap_s < 3600 THEN 'lt_1h'
            WHEN gap_s < 86400 THEN 'lt_1d' ELSE 'ge_1d' END AS band,
       COUNT(*) AS n_gaps,
       CAST(SUM(CAST(FLOOR(gap_s) AS BIGINT)) AS BIGINT) AS sum_floor_secs
FROM g WHERE gap_s IS NOT NULL GROUP BY 1
""",
    "inter-arrival analysis: lag() per user on event time, gaps bucketed "
    "into latency bands — the engagement-cadence shape; gap math runs on "
    "integer epoch-micros (exact in both engines), one shuffle on "
    "user_id then a tiny band rollup",
    tags=("temporal", "window"),
)
def q_events_interarrival(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_star_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.unix_micros("ts"))
    gaps = (
        events.withColumn("__prev", F.lag(F.unix_micros("ts")).over(w))
        .filter(F.col("__prev").isNotNull())
        .withColumn(
            "gap_s", (F.unix_micros("ts") - F.col("__prev")) / F.lit(1000000)
        )
    )
    band = (
        F.when(F.col("gap_s") < 60, "lt_1m")
        .when(F.col("gap_s") < 3600, "lt_1h")
        .when(F.col("gap_s") < 86400, "lt_1d")
        .otherwise("ge_1d")
    )
    return gaps.groupBy(band.alias("band")).agg(
        F.count(F.lit(1)).alias("n_gaps"),
        F.sum(F.floor(F.col("gap_s")).cast("long")).alias("sum_floor_secs"),
    )


@register(
    "chunked_source_roundtrip",
    """
SELECT o_orderstatus,
       COUNT(*) AS n_orders,
       CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
       CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS total_cents
FROM orders
WHERE o_orderkey % 10 = 0 AND o_orderkey <= 100000
GROUP BY o_orderstatus
""",
    "Python DataSource connector (sources/pyds.py): spill a bounded "
    "10% slice of orders into the chunked-CSV interchange layer "
    "(bounded chunks + min/max manifest — the Sheets-publisher boundary "
    "of ref publish.py:102-167 as a pluggable Spark 4 connector; the "
    "export is bounded by the SAME contract as the reference's "
    "quota-capped uploads — Python row parsing is the interchange "
    "path, never the bulk path), re-read via "
    "spark.read.format('chunked_csv') with a stats-column predicate, "
    "aggregate; the pushed filter prunes whole chunks driver-side and "
    "Spark re-applies it row-level, so the oracle on the parquet truth "
    "catches any loss on either path",
    tags=("sources",),
)
def q_chunked_source_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..session import ensure_package_on_workers
    from ..sources.pyds import register_chunked_csv

    ensure_package_on_workers(spark)
    register_chunked_csv(spark)
    orders = (
        load_star_table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
        .filter(F.col("o_orderkey") % 10 == 0)
    )
    path = scratch_dir("chunked_source", _tag(sf_dir))
    (
        orders.repartition(4, "o_orderkey")
        .write.format("chunked_csv")
        .mode("overwrite")
        .option("path", path)
        .option("chunk_rows", "2000")
        .option("stats_col", "o_orderkey")
        .save()
    )
    back = spark.read.format("chunked_csv").option("path", path).load()
    return (
        back.filter(F.col("o_orderkey") <= 100000)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("o_orderkey").cast("long").alias("key_sum"),
            F.sum(_cents(F.col("o_totalprice"))).cast("long").alias("total_cents"),
        )
    )


@register(
    "events_variant_extract",
    """
SELECT event_type AS et,
       COUNT(*) AS n_events,
       CAST(SUM(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT))
            AS BIGINT) AS sum_k,
       COUNT(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT))
           AS n_with_k,
       CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
FROM events
GROUP BY event_type
""",
    "VARIANT ingestion path (Spark 4 semi-structured type): build a "
    "nested JSON envelope per event, parse ONCE into a binary VARIANT, "
    "then make several TYPED extractions (string / nested long / nested "
    "cents) and aggregate — the modern parse-once-extract-many pattern "
    "for heterogeneous event payloads at scan speed.  The oracle "
    "computes the same aggregates straight from the base columns, so "
    "any value lost or coerced anywhere in the "
    "struct->JSON->VARIANT->typed-get chain breaks the hash",
    tags=("relational", "functions"),
)
def q_events_variant_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_star_table(spark, sf_dir, "events")
    envelope = F.to_json(
        F.struct(
            F.col("event_type").alias("et"),
            F.struct(
                F.get_json_object("props", "$.k").try_cast("long").alias("k"),
                _cents(F.col("value")).alias("cents"),
            ).alias("payload"),
        )
    )
    v = events.select(F.parse_json(envelope).alias("v"))
    extracted = v.select(
        F.variant_get("v", "$.et", "string").alias("et"),
        F.try_variant_get("v", "$.payload.k", "long").alias("k"),
        F.try_variant_get("v", "$.payload.cents", "long").alias("cents"),
    )
    return extracted.groupBy("et").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("k").alias("sum_k"),
        F.count("k").alias("n_with_k"),
        F.sum("cents").alias("sum_cents"),
    )


@register(
    "lineitem_zscore_outliers",
    """
WITH m AS (
  SELECT l_returnflag,
         COUNT(*) AS n,
         CAST(SUM(CAST(FLOOR(l_extendedprice * 100) AS BIGINT))
              AS DECIMAL(38, 0)) AS s1,
         CAST(SUM(CAST(CAST(FLOOR(l_extendedprice * 100) AS BIGINT)
                       AS DECIMAL(38, 0))
                  * CAST(FLOOR(l_extendedprice * 100) AS BIGINT))
              AS DECIMAL(38, 0)) AS s2
  FROM lineitem GROUP BY l_returnflag
),
stats AS (
  SELECT l_returnflag, n,
         CAST(s1 AS DOUBLE) / n AS mean_cents,
         sqrt((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n)
              / (n - 1)) AS sd_cents
  FROM m
)
SELECT li.l_returnflag,
       COUNT(*) AS n_rows,
       COUNT(*) FILTER (
         WHERE abs((CAST(FLOOR(li.l_extendedprice * 100) AS BIGINT)
                    - st.mean_cents) / st.sd_cents) > 2
       ) AS n_outliers_2sd
FROM lineitem li JOIN stats st USING (l_returnflag)
GROUP BY li.l_returnflag
""",
    "group-wise z-score outlier gate: per-returnflag mean/stddev built "
    "from EXACT integer-cents sums (decimal(38) partials — "
    "order-independent, so both engines reach bit-identical doubles), "
    "then a per-row |z|>2 flag and count.  Two scans + one broadcast of "
    "3 stat rows; the per-row math has no aggregation-order "
    "nondeterminism, which is what makes an exact-equality oracle "
    "possible for a floating-point feature-engineering op",
    tags=("stats",),
)
def q_zscore_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_star_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", _cents(F.col("l_extendedprice")).alias("__c")
    )
    m = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("__c").cast("decimal(38,0)")).alias("s1"),
        F.sum(
            F.col("__c").cast("decimal(38,0)") * F.col("__c")
        ).alias("s2"),
    )
    stats = m.select(
        "l_returnflag",
        (F.col("s1").cast("double") / F.col("n")).alias("mean_cents"),
        F.sqrt(
            (
                F.col("s2").cast("double")
                - F.col("s1").cast("double") * F.col("s1").cast("double") / F.col("n")
            )
            / (F.col("n") - 1)
        ).alias("sd_cents"),
    )
    z = (F.col("__c") - F.col("mean_cents")) / F.col("sd_cents")
    return (
        li.join(F.broadcast(stats), "l_returnflag")
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count_if(F.abs(z) > 2).alias("n_outliers_2sd"),
        )
    )


@register(
    "orders_chi2_independence",
    """
WITH cells AS (
  SELECT o_orderstatus AS s, o_orderpriority AS p, COUNT(*) AS n
  FROM orders GROUP BY 1, 2
),
tot AS (
  SELECT s, p, n,
         SUM(n) OVER (PARTITION BY s) AS rs,
         SUM(n) OVER (PARTITION BY p) AS cs,
         SUM(n) OVER () AS grand
  FROM cells
)
SELECT CAST(COUNT(DISTINCT s) - 1 AS BIGINT)
         * (COUNT(DISTINCT p) - 1) AS dof,
       CAST(MAX(grand) AS BIGINT) AS n_orders,
       ROUND(SUM(power(n - CAST(rs AS DOUBLE) * cs / grand, 2)
                 / (CAST(rs AS DOUBLE) * cs / grand)), 4) AS chi2
FROM tot
""",
    "chi-square test of independence (order status x priority): "
    "contingency cells + marginals via windows over the TINY cell "
    "table, expected counts rs*cs/N, one rounded statistic — the "
    "categorical-association screen; all heavy work is one groupBy, "
    "the statistic sums 15 cells (round(4) absorbs summation-order "
    "ULP drift, same convention as the corr queries)",
    tags=("stats",),
)
def q_chi2_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    cells = (
        load_star_table(spark, sf_dir, "orders")
        .groupBy(
            F.col("o_orderstatus").alias("s"),
            F.col("o_orderpriority").alias("p"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tot = cells.select(
        "s",
        "p",
        "n",
        F.sum("n").over(Window.partitionBy("s")).alias("rs"),
        F.sum("n").over(Window.partitionBy("p")).alias("cs"),
        F.sum("n").over(Window.partitionBy()).alias("grand"),
    )
    expected = F.col("rs").cast("double") * F.col("cs") / F.col("grand")
    return tot.agg(
        ((F.count_distinct(F.col("s")) - 1) * (F.count_distinct(F.col("p")) - 1))
        .cast("long")
        .alias("dof"),
        F.max("grand").cast("long").alias("n_orders"),
        F.round(
            F.sum(F.pow(F.col("n") - expected, 2) / expected), 4
        ).alias("chi2"),
    )


@register(
    "lineitem_price_histogram",
    """
WITH b AS (
  SELECT CAST(FLOOR(l_extendedprice * 100) AS BIGINT) AS c FROM lineitem
)
SELECT CASE WHEN c <  90000 THEN 0
            WHEN c >= 10500000 THEN 21
            ELSE CAST(FLOOR((c - 90000) / ((10500000 - 90000) / 20.0))
                      AS BIGINT) + 1 END AS bucket,
       COUNT(*) AS n_rows,
       CAST(MIN(c) AS BIGINT) AS lo_cents,
       CAST(MAX(c) AS BIGINT) AS hi_cents
FROM b
GROUP BY bucket
""",
    "fixed-bin histogram via width_bucket over integer cents (20 equal "
    "bins on [900, 105000] dollars; DuckDB has no width_bucket, so the "
    "oracle replays the SQL-standard bucket arithmetic — exact-integer "
    "inputs keep the FP division >1e-6 away from bin edges, so "
    "assignment is engine-identical) — the distribution profile shape: "
    "one scan, one tiny groupBy, no sort",
    tags=("stats",),
)
def q_price_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_star_table(spark, sf_dir, "lineitem")
    cents = _cents(F.col("l_extendedprice"))
    return (
        li.select(
            F.width_bucket(cents, F.lit(90000), F.lit(10500000), F.lit(20)).alias(
                "bucket"
            ),
            cents.alias("__c"),
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("__c").alias("lo_cents"),
            F.max("__c").alias("hi_cents"),
        )
    )


@register(
    "priority_status_rollup_string",
    """
WITH cells AS (
  SELECT o_orderpriority AS priority, o_orderstatus AS s, COUNT(*) AS n
  FROM orders GROUP BY 1, 2
)
SELECT priority,
       string_agg(s || ':' || n, ',' ORDER BY s) AS status_counts,
       CAST(SUM(n) AS BIGINT) AS n_orders
FROM cells GROUP BY priority
""",
    "nested-type aggregation: per priority, collect the (status, count) "
    "pairs into an array of structs, array_sort for a deterministic "
    "order, then transform+array_join down to a compact string — the "
    "collect/sort/transform composition a denormalized serving row "
    "needs; collect_list here gathers ≤3 structs per group (bounded by "
    "the status domain, never by row count), so executor memory is safe "
    "at any scale",
    tags=("relational", "nested"),
)
def q_priority_status_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    cells = (
        load_star_table(spark, sf_dir, "orders")
        .groupBy(
            F.col("o_orderpriority").alias("priority"),
            F.col("o_orderstatus").alias("s"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    pairs = F.array_sort(
        F.collect_list(F.struct(F.col("s"), F.col("n")))
    )
    return cells.groupBy("priority").agg(
        F.array_join(
            F.transform(
                pairs, lambda p: F.concat_ws(":", p["s"], p["n"])
            ),
            ",",
        ).alias("status_counts"),
        F.sum("n").cast("long").alias("n_orders"),
    )


@register(
    "theta_sketch_rollup",
    """
SELECT event_type,
       COUNT(DISTINCT user_id) AS exact_users,
       TRUE AS sketch_ok
FROM events
GROUP BY event_type
UNION ALL
SELECT '__all__', COUNT(DISTINCT user_id), TRUE FROM events
UNION ALL
SELECT '__view_and_purchase__', COUNT(*), TRUE FROM (
  SELECT user_id FROM events WHERE event_type = 'view'
  INTERSECT
  SELECT user_id FROM events WHERE event_type = 'purchase'
)
""",
    "mergeable-sketch rollup (Spark 4 DataSketches): per-event-type theta "
    "sketches of user_id built in ONE pass, then rolled up WITHOUT "
    "rescanning — theta_union_agg merges partials into the global "
    "distinct-user count and theta_intersection_agg answers 'users who "
    "did BOTH view and purchase' by sketch set-algebra alone.  This "
    "partial-sketch-then-merge shape is the 100 TB pre-aggregation "
    "pattern (daily sketches merged into any window, no raw re-scan), "
    "and set INTERSECTION is what HLL cannot do.  Estimates are "
    "engine-specific, so the oracle checks exact counts plus in-row "
    "|est-exact|/exact tolerance flags (theta is exact below its 4096 "
    "nominal entries; the bound holds at any SF)",
    tags=("relational", "sketch"),
)
def q_theta_sketch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_star_table(spark, sf_dir, "events").select("event_type", "user_id")

    def ok(est, exact, tol):
        return (F.abs(est - F.col(exact)) / F.col(exact) <= tol).alias("sketch_ok")

    per = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_users"),
        F.expr("theta_sketch_agg(user_id)").alias("__sk"),
    )
    per_out = per.select(
        "event_type",
        "exact_users",
        ok(F.expr("theta_sketch_estimate(__sk)"), "exact_users", 0.05),
    )
    # global rollup: merge the per-type partial sketches (no rescan)
    total_out = (
        per.agg(
            F.expr("theta_sketch_estimate(theta_union_agg(__sk))").alias("__est")
        )
        .join(ev.agg(F.countDistinct("user_id").alias("exact_users")))
        .select(
            F.lit("__all__").alias("event_type"),
            "exact_users",
            ok(F.col("__est"), "exact_users", 0.05),
        )
    )
    # sketch set-intersection: users in BOTH cohorts, from sketches alone
    viewers = ev.filter(F.col("event_type") == "view").select("user_id")
    buyers = ev.filter(F.col("event_type") == "purchase").select("user_id")
    exact_both = viewers.join(buyers, "user_id", "left_semi").agg(
        F.countDistinct("user_id").alias("exact_users")
    )
    inter_out = (
        per.filter(F.col("event_type").isin("view", "purchase"))
        .agg(
            F.expr(
                "theta_sketch_estimate(theta_intersection_agg(__sk))"
            ).alias("__est")
        )
        .join(exact_both)
        .select(
            F.lit("__view_and_purchase__").alias("event_type"),
            "exact_users",
            ok(F.col("__est"), "exact_users", 0.1),
        )
    )
    return per_out.unionByName(total_out).unionByName(inter_out)


@register(
    "kll_quantile_rollup",
    """
SELECT l_returnflag,
       ROUND(quantile_cont(l_extendedprice, 0.5), 4) AS exact_median,
       TRUE AS kll_ok
FROM lineitem
GROUP BY l_returnflag
UNION ALL
SELECT '__all__',
       ROUND(quantile_cont(l_extendedprice, 0.5), 4),
       TRUE
FROM lineitem
""",
    "mergeable QUANTILE sketches (Spark 4 DataSketches KLL): per-group "
    "kll_sketch_agg_double of l_extendedprice, per-group median read "
    "from the sketch, and the global median from kll_merge_agg_double "
    "over the group partials — NO rescan of raw data for the rollup, "
    "the same partial-then-merge shape as theta_sketch_rollup but for "
    "order statistics (exact percentile needs a full per-group sort; "
    "the sketch is one pass + tiny mergeable state).  KLL estimates are "
    "rank-bounded, so the oracle checks exact medians plus in-row flags "
    "that each estimate lands inside the exact p45-p55 rank window",
    tags=("relational", "sketch"),
)
def q_kll_quantile_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_star_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_extendedprice"
    )

    def ok(est):
        return (
            (est >= F.col("__p45")) & (est <= F.col("__p55"))
        ).alias("kll_ok")

    per = li.groupBy("l_returnflag").agg(
        F.round(F.percentile("l_extendedprice", F.lit(0.5)), 4).alias(
            "exact_median"
        ),
        F.percentile("l_extendedprice", F.lit(0.45)).alias("__p45"),
        F.percentile("l_extendedprice", F.lit(0.55)).alias("__p55"),
        F.expr("kll_sketch_agg_double(l_extendedprice)").alias("__sk"),
    )
    per_out = per.select(
        "l_returnflag",
        "exact_median",
        ok(F.expr("kll_sketch_get_quantile_double(__sk, 0.5)")),
    )
    total_out = (
        per.agg(
            F.expr(
                "kll_sketch_get_quantile_double(kll_merge_agg_double(__sk), 0.5)"
            ).alias("__est")
        )
        .join(
            li.agg(
                F.round(
                    F.percentile("l_extendedprice", F.lit(0.5)), 4
                ).alias("exact_median"),
                F.percentile("l_extendedprice", F.lit(0.45)).alias("__p45"),
                F.percentile("l_extendedprice", F.lit(0.55)).alias("__p55"),
            )
        )
        .select(
            F.lit("__all__").alias("l_returnflag"),
            "exact_median",
            ok(F.col("__est")),
        )
    )
    return per_out.unionByName(total_out)


@register(
    "sql_recursive_reachability",
    """
WITH RECURSIVE e AS (
  SELECT c.c_nationkey AS u, s.s_nationkey AS v, COUNT(*) AS w
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  GROUP BY 1, 2
),
best AS (
  SELECT u, v FROM (
    SELECT u, v, ROW_NUMBER() OVER (PARTITION BY u ORDER BY w DESC, v) AS rn
    FROM e
  ) WHERE rn = 1
),
reach(src, dst, depth) AS (
  SELECT u, v, 1 FROM best
  UNION ALL
  SELECT r.src, b.v, r.depth + 1
  FROM reach r JOIN best b ON b.u = r.dst
  WHERE r.depth < 3
)
SELECT src, COUNT(DISTINCT dst) AS n_reach3, MIN(dst) AS min_reached
FROM reach GROUP BY src
""",
    "recursive CTE (Spark 4 WITH RECURSIVE through the SQL API): 3-hop "
    "reachability over each nation's heaviest trade route (the "
    "hierarchy/graph-walk family BOM explosions and org rollups need); "
    "the heavy work is the one-time edge aggregation — the recursion "
    "joins a 25-row functional edge list per step with a hard depth "
    "bound, so iteration state never exceeds nodes x depth",
    tags=("relational", "sql-api", "graph"),
)
def q_sql_recursive_reachability(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    li = load_star_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = load_star_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = load_star_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = load_star_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    e = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .groupBy(F.col("c_nationkey").alias("u"), F.col("s_nationkey").alias("v"))
        .agg(F.count(F.lit(1)).alias("w"))
    )
    best = (
        e.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("u").orderBy(F.col("w").desc(), F.col("v"))
            ),
        )
        .filter(F.col("rn") == 1)
        .select("u", "v")
    )
    # materialize the (<= n_nations)-row edge list BEFORE the recursion:
    # a temp view is a logical plan, so each recursive step would
    # otherwise re-plan (and re-run) the 4-way fact join; after the
    # checkpoint every step joins a tiny in-memory relation
    best = best.localCheckpoint(eager=True)
    best.createOrReplaceTempView("v_best_edge")
    return spark.sql(
        """
        WITH RECURSIVE reach(src, dst, depth) AS (
          SELECT u, v, 1 FROM v_best_edge
          UNION ALL
          SELECT r.src, b.v, r.depth + 1
          FROM reach r JOIN v_best_edge b ON b.u = r.dst
          WHERE r.depth < 3
        )
        SELECT src, COUNT(DISTINCT dst) AS n_reach3, MIN(dst) AS min_reached
        FROM reach GROUP BY src
        """
    )


@register(
    "listagg_order_status",
    """
SELECT o_orderpriority,
       string_agg(DISTINCT o_orderstatus, ',' ORDER BY o_orderstatus)
           AS statuses,
       COUNT(*) AS n_orders
FROM orders
GROUP BY o_orderpriority
""",
    "ANSI listagg (Spark 4 LISTAGG ... WITHIN GROUP): ordered distinct "
    "string aggregation per group — deterministic because the in-group "
    "order is declared, unlike collect_list; the small-domain rollup "
    "shape for audit/debug summaries",
    tags=("relational", "sql-api"),
)
def q_listagg_order_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_star_table(spark, sf_dir, "orders").createOrReplaceTempView(
        "v_listagg_orders"
    )
    return spark.sql(
        """
        SELECT o_orderpriority,
               listagg(DISTINCT o_orderstatus, ',')
                   WITHIN GROUP (ORDER BY o_orderstatus) AS statuses,
               COUNT(*) AS n_orders
        FROM v_listagg_orders
        GROUP BY o_orderpriority
        """
    )


@register(
    "observed_write_qc",
    """
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(text) AS BIGINT) AS n_text_nonnull,
       CAST(SUM(n_chars) AS BIGINT) AS chars_total
FROM documents
""",
    "single-scan sink QC via df.observe (the Spark-first form of the "
    "reference's printed row-count checkpoints, ingest.py:65 / "
    "transform.py:116-121): metrics ride the write job's accumulators, "
    "so the QC report on a 100 TB write costs ZERO extra scans — the "
    "result row is the observation, and the written layer's row count "
    "must agree with it (checked in-query by re-reading the layer "
    "footer count, a metadata operation)",
    tags=("sinks", "quality"),
)
def q_observed_write_qc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.sinks import observed_write

    docs = load_star_table(spark, sf_dir, "documents")
    path = scratch_dir("observed_write", _tag(sf_dir))
    got = observed_write(
        docs,
        path,
        metrics=[
            F.count(F.lit(1)).alias("n_rows"),
            F.count("text").alias("n_text_nonnull"),
            F.sum("n_chars").alias("chars_total"),
        ],
    )
    # the observation must describe the layer that actually landed; an
    # explicit raise, not assert — the invariant must survive python -O
    landed = read_parquet(spark, path).count()
    if got["n_rows"] != landed:
        raise RuntimeError(
            f"observe metrics ({got['n_rows']} rows) disagree with the "
            f"written layer ({landed} rows) at {path}"
        )
    return spark.createDataFrame(
        [(got["n_rows"], got["n_text_nonnull"], got["chars_total"])],
        "n_rows long, n_text_nonnull long, chars_total long",
    )


@register(
    "udaf_trimmed_mean",
    """
WITH g AS (
  SELECT l_returnflag,
         list(l_extendedprice ORDER BY l_extendedprice) AS l,
         COUNT(*) AS n
  FROM lineitem GROUP BY 1
)
SELECT l_returnflag,
       ROUND(list_aggregate(
         l[CAST(n // 10 AS INT) + 1 : n - CAST(n // 10 AS INT)], 'avg'), 4)
           AS trimmed_mean_price
FROM g
""",
    "custom UDAF via Arrow grouped-agg pandas UDF (series -> scalar): "
    "10% two-sided trimmed mean per group — a robust statistic Spark "
    "has no builtin for; Arrow moves each group's column as one batch "
    "(no per-row pickling) and the UDAF composes inside a normal "
    ".agg(); completes the custom-aggregate surface next to the UDTF "
    "(the reference has neither, SURVEY §2.8)",
    tags=("relational", "udaf", "stats"),
)
def q_udaf_trimmed_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.udafs import trimmed_mean
    from ..session import ensure_package_on_workers

    # the UDAF is unpickled by module reference on workers
    ensure_package_on_workers(spark)
    li = load_star_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(trimmed_mean("l_extendedprice"), 4).alias("trimmed_mean_price")
    )


@register(
    "interval_sessions_overlap",
    """
WITH marked AS (
  SELECT user_id,
         CAST(FLOOR(epoch(ts)) AS BIGINT) AS sec,
         CASE WHEN CAST(FLOOR(epoch(ts)) AS BIGINT)
                   - lag(CAST(FLOOR(epoch(ts)) AS BIGINT))
                     OVER (PARTITION BY user_id ORDER BY CAST(FLOOR(epoch(ts)) AS BIGINT))
                   > 1800
              OR lag(ts) OVER (PARTITION BY user_id ORDER BY CAST(FLOOR(epoch(ts)) AS BIGINT)) IS NULL
              THEN 1 ELSE 0 END AS is_new
  FROM events WHERE ts IS NOT NULL
),
iv AS (
  SELECT user_id,
         CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY sec
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS BIGINT) AS session_seq,
         sec
  FROM marked
),
sessions AS (
  SELECT user_id, session_seq, MIN(sec) AS s, MAX(sec) AS e
  FROM iv GROUP BY user_id, session_seq
),
pairs AS (
  SELECT GREATEST(l.s, r.s) AS os, LEAST(l.e, r.e) AS oe
  FROM sessions l JOIN sessions r
    ON l.user_id < r.user_id AND l.s <= r.e AND r.s <= l.e
)
SELECT CAST(FLOOR(os / 86400.0) AS BIGINT) AS day_idx,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(SUM(oe - os) AS BIGINT) AS overlap_secs
FROM pairs
GROUP BY 1
""",
    "interval OVERLAP self-join without a cartesian: concurrent-session "
    "pairs (30-min-gap sessions of different users whose [start, end] "
    "intervals intersect) via bin decomposition — each interval explodes "
    "to the 1-hour bins it spans, the sides EQUI-join on the bin id "
    "(plain shuffle hash join; the naive ON s<=e AND s<=e plan is a "
    "quadratic BNLJ), the exact predicate filters candidates, and a "
    "pair sharing several bins is kept only in the bin of "
    "greatest(l_start, r_start) — exactly-once with NO distinct "
    "shuffle; oracle replays the predicate join directly",
    tags=("relational", "join", "temporal"),
)
def q_interval_sessions_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.intervals import interval_overlap_join
    from ..operators.sessions import assign_sessions

    events = load_star_table(spark, sf_dir, "events")
    ep = F.col("ts").cast("long")
    # both join sides are the same interval set: checkpoint so the
    # sessionization window + rollup run once, not twice
    iv = (
        assign_sessions(events, gap_seconds=1800)
        .groupBy("user_id", "session_seq")
        .agg(F.min(ep).alias("s"), F.max(ep).alias("e"))
        .transform(materialize)
    )
    l = iv.select(
        F.col("user_id").alias("l_user"),
        F.col("s").alias("l_s"),
        F.col("e").alias("l_e"),
    )
    r = iv.select(
        F.col("user_id").alias("r_user"),
        F.col("s").alias("r_s"),
        F.col("e").alias("r_e"),
    )
    pairs = interval_overlap_join(
        l, r, "l_s", "l_e", "r_s", "r_e", bin_width=3600
    ).filter(F.col("l_user") < F.col("r_user"))
    os_, oe = F.greatest("l_s", "r_s"), F.least("l_e", "r_e")
    return (
        pairs.select(os_.alias("os"), oe.alias("oe"))
        .groupBy(F.floor(F.col("os") / 86400.0).cast("long").alias("day_idx"))
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum(F.col("oe") - F.col("os")).cast("long").alias("overlap_secs"),
        )
    )

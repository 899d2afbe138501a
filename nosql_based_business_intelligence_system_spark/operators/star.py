"""Star-schema assembly: the reference's pre-merged wide table, owned by us.

The reference consumes one flat ``merged.csv`` (Project.py:9,16) whose joins
happened upstream. Here the ClearVue wide table is rebuilt from the TPC-H
fixtures (column mapping in FIXTURES.md): lineitem fact -> orders ->
customer -> nation -> region + part, then fiscal enrichment + derived
metrics — all in one declarative plan.

Join strategy (100 TB stance):
- region/nation/customer/part are dimensions -> explicit ``broadcast()``; no
  shuffle for those probes.
- lineitem ⋈ orders is fact-to-fact -> shuffled hash/sort-merge join on the
  key; AQE handles skew. (On a managed layout both sides would be bucketed by
  orderkey to make this shuffle-free.)
- Fiscal columns come from a broadcast join against the bounded calendar
  dimension (functions.fiscal.with_fiscal_columns_via_dim): computing the
  six nested last-day/weekday expression trees per FACT row measured 2.5x
  slower at sf0.1 than one hash probe per row, and the gap only widens at
  100 TB (the dim also backs dynamic partition pruning on date-partitioned
  facts). The pure-expression variant remains in functions.fiscal, and the
  two are property-tested equivalent.

The DuckDB CTE twin (``DD_SALES_CTE``) lives here so oracle SQL can never
drift from the Spark plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import fiscal
from ..functions.metrics import with_sales_metrics
from ..sources.tables import load_table


def enriched_sales(
    spark: SparkSession,
    sf_dir: str,
    columns: "set[str] | frozenset[str] | None" = None,
) -> DataFrame:
    """The ClearVue-shaped wide sales table over the fixture star schema.

    Output columns (FIXTURES.md mapping of Project.py:367-376):
    doc_number, line_number, customer_number, product_code, product_desc,
    brand_desc, region_code, region_desc, quantity, total_line_price,
    last_cost, event_date, asp, cogs, gross_margin, gm_pct, flag_*,
    fin_month_label, fin_month_start, fin_month_end, fin_year,
    fin_month_num, fin_quarter.

    ``columns`` is constraint-aware JOIN ELIMINATION, the informational-FK
    optimization warehouses apply and Spark has no metadata for: pass the
    set of columns the consumer references and only the dimension joins
    that supply them (plus their key chain) are built. Sound because every
    star edge is N:1 with verified referential integrity — the
    ``star_fk_integrity`` audit (operators/quality.py) proves no fact row
    is dropped by any inner dim join, so eliminating an unused join
    preserves the row set exactly; the full-join DuckDB twin
    (``DD_SALES_CTE``) stays the semantic proof in every oracle run.
    Catalyst cannot do this itself (inner joins may filter in general),
    which is why it's declared here, at the layer that owns the
    constraint knowledge. ``columns`` also decides the calendar-dim join:
    it is built only if a ``fin_*`` column is requested (Catalyst cannot
    eliminate an unused left join either, and leaving it in would force
    ``l_shipdate`` into every lineitem scan). ``columns=None`` builds
    every join, the calendar one included.
    """
    if columns is not None:
        cols = set(columns)
        need_part = bool(cols & _PART_COLS)
        need_region = bool(cols & _REGION_COLS)
        need_nation = bool(cols & _NATION_COLS) or need_region
        need_customer = bool(cols & _CUSTOMER_COLS) or need_nation
        need_orders = bool(cols & _ORDERS_COLS) or need_customer
        need_fiscal = any(c.startswith("fin_") for c in cols)
    else:
        need_part = need_orders = need_customer = True
        need_nation = need_region = need_fiscal = True
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("doc_number"),
        F.col("l_linenumber").alias("line_number"),
        "l_partkey",
        F.col("l_quantity").alias("quantity"),
        F.col("l_extendedprice").alias("total_line_price"),
        F.col("l_discount").alias("discount"),
        F.to_date("l_shipdate").alias("event_date"),
    )
    df = li
    if need_orders:
        orders = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", F.col("o_custkey").alias("customer_number")
        )
        df = df.join(
            orders, df.doc_number == orders.o_orderkey, "inner"
        ).drop("o_orderkey")
    if need_customer:
        customer = load_table(spark, sf_dir, "customer").select(
            "c_custkey",
            "c_nationkey",
            F.col("c_mktsegment").alias("mktsegment"),
        )
        df = df.join(
            customer, F.col("customer_number") == customer.c_custkey
        ).drop("c_custkey")
    if need_nation:
        nation = load_table(spark, sf_dir, "nation").select(
            "n_nationkey", "n_regionkey", F.col("n_name").alias("nation_desc")
        )
        df = df.join(
            F.broadcast(nation), F.col("c_nationkey") == nation.n_nationkey
        ).drop("c_nationkey", "n_nationkey")
    if need_region:
        region = load_table(spark, sf_dir, "region").select(
            F.col("r_regionkey").alias("region_code"),
            F.col("r_name").alias("region_desc"),
        )
        df = df.join(
            F.broadcast(region), F.col("n_regionkey") == region.region_code
        ).drop("n_regionkey")
    if need_part:
        part = load_table(spark, sf_dir, "part").select(
            F.col("p_partkey").alias("product_code"),
            F.col("p_name").alias("product_desc"),
            F.col("p_brand").alias("brand_desc"),
            F.col("p_retailprice").alias("last_cost"),
        )
        df = df.join(part, df.l_partkey == part.product_code)
    # stray FK keys survive when a chain is cut short (e.g. customer
    # joined for mktsegment but nation eliminated); drop is a no-op when
    # the full chain already consumed them
    df = df.drop("l_partkey", "c_nationkey", "n_regionkey")
    df = with_sales_metrics(df, with_cost=need_part)
    if need_fiscal:
        df = fiscal.with_fiscal_columns_via_dim(df, spark, "event_date")
    return df


#: Dimension -> the enriched-table columns it supplies. cogs/gross_margin/
#: gm_pct derive from part's last_cost, so requesting them pulls the part
#: join in.
_PART_COLS = frozenset(
    {
        "product_code",
        "product_desc",
        "brand_desc",
        "last_cost",
        "cogs",
        "gross_margin",
        "gm_pct",
    }
)
_REGION_COLS = frozenset({"region_code", "region_desc"})
_NATION_COLS = frozenset({"nation_desc"})
_CUSTOMER_COLS = frozenset({"mktsegment"})
_ORDERS_COLS = frozenset({"customer_number"})


#: DuckDB twin of :func:`enriched_sales` — interpolate into oracle SQL as
#: ``WITH {DD_SALES_CTE} SELECT ...``.
DD_SALES_CTE = f"""sales_base AS (
  SELECT
    l.l_orderkey  AS doc_number,
    l.l_linenumber AS line_number,
    o.o_custkey   AS customer_number,
    p.p_partkey   AS product_code,
    p.p_name      AS product_desc,
    p.p_brand     AS brand_desc,
    r.r_regionkey AS region_code,
    r.r_name      AS region_desc,
    c.c_mktsegment AS mktsegment,
    n.n_name      AS nation_desc,
    l.l_quantity  AS quantity,
    l.l_extendedprice AS total_line_price,
    l.l_discount  AS discount,
    p.p_retailprice AS last_cost,
    CAST(l.l_shipdate AS DATE) AS event_date
  FROM lineitem l
  JOIN orders o   ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n   ON c.c_nationkey = n.n_nationkey
  JOIN region r   ON n.n_regionkey = r.r_regionkey
  JOIN part p     ON l.l_partkey = p.p_partkey
), sales_anchor AS (
  SELECT *, {fiscal.dd_fiscal_anchor('event_date')} AS fin_anchor FROM sales_base
), sales AS (
  SELECT *,
    CASE WHEN coalesce(quantity, 0) <> 0 THEN total_line_price / quantity END AS asp,
    last_cost * quantity AS cogs,
    total_line_price - last_cost * quantity AS gross_margin,
    CASE WHEN abs(total_line_price) > 1e-9
         THEN (total_line_price - last_cost * quantity) / total_line_price END AS gm_pct,
    coalesce(quantity < 0, false) AS flag_negative_qty,
    coalesce(total_line_price < 0, false) AS flag_negative_price,
    (coalesce(total_line_price, 0) = 0 AND coalesce(quantity, 0) <> 0)
      AS flag_zero_price_nonzero_qty,
    {fiscal.dd_fiscal_select_list('fin_anchor')}
  FROM sales_anchor
)"""

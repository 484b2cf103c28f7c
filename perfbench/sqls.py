"""SQL templates for the mart_sql workload, in a Spark and a DuckDB spelling.

The templates restate the reference dbt models (stg_orders,
daily_order_metrics, user_order_summary, simple_pipeline) and the
classic star-join, scan-aggregate and ROLLUP dashboard shapes. Money is
summed as DECIMAL so both engines give the same digits. Parameters come
from small domains, so a run repeats statements the way dashboards do.
"""
import itertools

STATUSES = ["F", "O", "P"]
YEARS = [1995, 1996, 1997, 1998]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
NATIONS = [0, 7, 12, 24]
QUARTERS = ["1995-01-01", "1996-04-01", "1997-07-01", "1998-10-01"]
CUTOFFS = ["1998-09-02", "1999-12-01", "2001-06-30"]

# dbt-model programs called through graft.queries.Relational
PROGRAMS = ["q02_stg_orders", "q03_daily_order_metrics",
            "q04_user_order_summary", "q15_cte_pipeline"]


def _ts(d):
    return f"TIMESTAMP '{d} 00:00:00'"


def _plus_quarter(d):
    y, m, _ = (int(x) for x in d.split("-"))
    m += 3
    if m > 12:
        y, m = y + 1, m - 12
    return f"{y}-{m:02d}-01"


# name -> (param domains, builder(dialect, **params) -> sql)
def _stg_orders(dialect, status, year):
    dow = "dayofweek(o_orderdate)" if dialect == "spark" else "(dayofweek(o_orderdate) + 1)"
    return f"""SELECT o_orderkey, o_custkey, CAST(o_orderdate AS DATE) AS order_date,
  UPPER(TRIM(o_orderstatus)) AS status,
  CASE WHEN o_totalprice < 50000.0 THEN 'Small'
       WHEN o_totalprice < 200000.0 THEN 'Medium' ELSE 'Large' END AS order_size,
  CAST(year(o_orderdate) AS BIGINT) AS order_year,
  CAST(month(o_orderdate) AS BIGINT) AS order_month,
  CAST({dow} AS BIGINT) AS order_dow
FROM orders
WHERE o_orderstatus = '{status}'
  AND o_orderdate >= {_ts(f'{year}-01-01')} AND o_orderdate < {_ts(f'{year + 1}-01-01')}"""


def _daily_metrics(dialect, quarter):
    return f"""SELECT CAST(o_orderdate AS DATE) AS metric_date,
  COUNT(*) AS total_orders,
  COUNT(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS finished_orders,
  COUNT(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS open_orders,
  COUNT(DISTINCT o_custkey) AS unique_customers,
  SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS total_revenue,
  SUM(CASE WHEN o_orderstatus = 'F' THEN CAST(o_totalprice AS DECIMAL(12,2)) END) AS finished_revenue,
  MIN(o_totalprice) AS min_order_value,
  MAX(o_totalprice) AS max_order_value
FROM orders
WHERE o_orderdate >= {_ts(quarter)} AND o_orderdate < {_ts(_plus_quarter(quarter))}
GROUP BY CAST(o_orderdate AS DATE)"""


def _user_summary(dialect, segment):
    return f"""WITH um AS (
  SELECT c.c_custkey, c.c_name,
    COUNT(o.o_orderkey) AS total_orders,
    COUNT(CASE WHEN o.o_orderstatus = 'F' THEN 1 END) AS finished_orders,
    COALESCE(SUM(CAST(o.o_totalprice AS DECIMAL(12,2))), CAST(0 AS DECIMAL(12,2))) AS total_revenue
  FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
  WHERE c.c_mktsegment = '{segment}'
  GROUP BY c.c_custkey, c.c_name)
SELECT c_custkey, c_name, total_orders, finished_orders, total_revenue,
  ROW_NUMBER() OVER (ORDER BY total_revenue DESC, c_custkey) AS revenue_rank,
  PERCENT_RANK() OVER (ORDER BY total_revenue) AS revenue_pct_rank,
  CASE WHEN total_orders = 0 THEN 'No Orders'
       WHEN total_orders <= 5 THEN 'Regular Customer'
       ELSE 'VIP Customer' END AS customer_tier
FROM um"""


def _star_join(dialect, region, year):
    return f"""SELECT n.n_name,
  SUM(CAST(l.l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l.l_discount AS DECIMAL(4,2)))) AS revenue,
  COUNT(*) AS n_lines,
  COUNT(DISTINCT o.o_orderkey) AS n_orders
FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  JOIN region r ON n.n_regionkey = r.r_regionkey
WHERE r.r_name = '{region}'
  AND o.o_orderdate >= {_ts(f'{year}-01-01')} AND o.o_orderdate < {_ts(f'{year + 1}-01-01')}
GROUP BY n.n_name"""


def _pricing_summary(dialect, cutoff):
    price = "CAST(l_extendedprice AS DECIMAL(12,2))"
    disc = "(1 - CAST(l_discount AS DECIMAL(4,2)))"
    return f"""SELECT l_returnflag, l_linestatus,
  SUM(CAST(l_quantity AS DECIMAL(12,2))) AS sum_qty,
  SUM({price}) AS sum_base_price,
  SUM({price} * {disc}) AS sum_disc_price,
  SUM({price} * {disc} * (1 + CAST(l_tax AS DECIMAL(4,2)))) AS sum_charge,
  COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= {_ts(cutoff)}
GROUP BY l_returnflag, l_linestatus"""


def _rollup(dialect, segment):
    return f"""SELECT r.r_name, n.n_name, COUNT(*) AS n_customers,
  SUM(CAST(c.c_acctbal AS DECIMAL(12,2))) AS total_acctbal
FROM customer c
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  JOIN region r ON n.n_regionkey = r.r_regionkey
WHERE c.c_mktsegment = '{segment}'
GROUP BY ROLLUP (r.r_name, n.n_name)"""


def _cte_pipeline(dialect, status, nation):
    return f"""WITH raw AS (
  SELECT o_custkey, CAST(o_totalprice AS DECIMAL(12,2)) AS price,
    CAST(o_orderdate AS DATE) AS order_date
  FROM orders WHERE o_orderstatus = '{status}'),
metrics AS (
  SELECT o_custkey, COUNT(*) AS n_orders, SUM(price) AS revenue,
    MAX(order_date) AS last_order
  FROM raw GROUP BY o_custkey),
ranked AS (
  SELECT m.o_custkey, m.n_orders, m.revenue, m.last_order, c.c_nationkey,
    ROW_NUMBER() OVER (PARTITION BY c.c_nationkey
      ORDER BY m.revenue DESC, m.o_custkey) AS rn
  FROM metrics m JOIN customer c ON m.o_custkey = c.c_custkey)
SELECT c_nationkey, o_custkey, n_orders, revenue, last_order, rn
FROM ranked WHERE rn <= 20 AND c_nationkey = {nation}"""


def _priority_mix(dialect, nation, status):
    return f"""SELECT o.o_orderpriority, COUNT(*) AS n_orders,
  SUM(CAST(o.o_totalprice AS DECIMAL(12,2))) AS revenue,
  COUNT(DISTINCT o.o_custkey) AS n_customers
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
WHERE c.c_nationkey = {nation} AND o.o_orderstatus = '{status}'
GROUP BY o.o_orderpriority"""


TEMPLATES = {
    "stg_orders": ({"status": STATUSES, "year": YEARS}, _stg_orders),
    "daily_order_metrics": ({"quarter": QUARTERS}, _daily_metrics),
    "user_order_summary": ({"segment": SEGMENTS}, _user_summary),
    "star_join": ({"region": REGIONS, "year": YEARS}, _star_join),
    "pricing_summary": ({"cutoff": CUTOFFS}, _pricing_summary),
    "rollup": ({"segment": SEGMENTS}, _rollup),
    "cte_pipeline": ({"status": STATUSES, "nation": NATIONS}, _cte_pipeline),
    "priority_mix": ({"nation": NATIONS, "status": STATUSES}, _priority_mix),
}


def statements():
    """Every statement the templates can produce:
    {stmt_id: {"template", "spark", "duck"}}."""
    out = {}
    for name, (domains, build) in TEMPLATES.items():
        keys = sorted(domains)
        for combo in itertools.product(*(domains[k] for k in keys)):
            params = dict(zip(keys, combo))
            sid = name + "/" + "/".join(str(params[k]).replace(" ", "_") for k in keys)
            out[sid] = {"template": name,
                        "spark": build("spark", **params),
                        "duck": build("duck", **params)}
    return out

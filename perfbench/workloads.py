"""The benchmark's workloads: which queries a pass runs, in which order, and
the MySQL-dialect templates with their DuckDB twins.

A workload is one closed-loop client in one process with no think time. The
run seed fixes the key order within a pass (drawn once per run) and the
literals of the templated SQL (drawn again for every pass, so the SQL text
changes from pass to pass). The engine receives only the generated SQL text
or the registry key.
"""

from __future__ import annotations

import datetime
import random
from dataclasses import dataclass

SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")


@dataclass(frozen=True)
class Template:
    """MySQL 5.6 text and the DuckDB twin of the same query; both are
    formatted with the same ``segment``/``floor``/``qty`` literals."""

    name: str
    mysql: str
    duckdb: str


TEMPLATES = {
    t.name: t
    for t in (
        Template(
            "mysql_segment_orders",
            mysql="""
SELECT `o`.`o_orderpriority` AS prio,   # order book of one segment
       COUNT(*) AS n_orders,
       ROUND(SUM(CAST(`o`.`o_totalprice` AS DECIMAL(20,2))), 2) AS revenue
FROM `customer` c STRAIGHT_JOIN `orders` o ON o.o_custkey = c.c_custkey
WHERE c.c_mktsegment = "{segment}" AND o.o_orderdate >= '{floor}'
GROUP BY prio
ORDER BY prio
""",
            duckdb="""
SELECT o.o_orderpriority AS prio, COUNT(*) AS n_orders,
       ROUND(SUM(CAST(o.o_totalprice AS DECIMAL(20,2))), 2) AS revenue
FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
WHERE c.c_mktsegment = '{segment}' AND o.o_orderdate >= TIMESTAMP '{floor}'
GROUP BY prio
ORDER BY prio
""",
        ),
        Template(
            "mysql_shipyear_qty",
            mysql="""
SELECT DATE_FORMAT(`l_shipdate`, '%Y') AS ship_year, `l_returnflag`,
       COUNT(*) AS n_lines,
       SUM(CAST(`l_quantity` AS DECIMAL(12,2))) AS qty
FROM `lineitem`
WHERE `l_quantity` > {qty} AND `l_shipdate` >= '{floor}'
GROUP BY ship_year, `l_returnflag`
ORDER BY ship_year, `l_returnflag`
LIMIT 0, 20
""",
            duckdb="""
SELECT strftime(l_shipdate, '%Y') AS ship_year, l_returnflag,
       COUNT(*) AS n_lines,
       SUM(CAST(l_quantity AS DECIMAL(12,2))) AS qty
FROM lineitem
WHERE l_quantity > {qty} AND l_shipdate >= TIMESTAMP '{floor}'
GROUP BY ship_year, l_returnflag
ORDER BY ship_year, l_returnflag
LIMIT 20
""",
        ),
        Template(
            "mysql_top_customers",
            mysql="""
SELECT c.c_custkey, c.c_name, COUNT(*) AS n_lines,
       SUM(CAST(l.l_extendedprice AS DECIMAL(20,2))
           * (1 - CAST(l.l_discount AS DECIMAL(4,2)))) AS revenue
FROM `customer` c
JOIN `orders` o ON o.o_custkey = c.c_custkey
JOIN `lineitem` l ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = '{segment}' AND l.l_quantity >= {qty}
  AND o.o_orderdate >= '{floor}'
GROUP BY c.c_custkey, c.c_name
ORDER BY revenue DESC, c.c_custkey
LIMIT 10
""",
            duckdb="""
SELECT c.c_custkey, c.c_name, COUNT(*) AS n_lines,
       SUM(CAST(l.l_extendedprice AS DECIMAL(20,2))
           * (1 - CAST(l.l_discount AS DECIMAL(4,2)))) AS revenue
FROM customer c
JOIN orders o ON o.o_custkey = c.c_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = '{segment}' AND l.l_quantity >= {qty}
  AND o.o_orderdate >= TIMESTAMP '{floor}'
GROUP BY c.c_custkey, c.c_name
ORDER BY revenue DESC, c.c_custkey
LIMIT 10
""",
        ),
    )
}

# Registry keys per workload. Templates are named by their TEMPLATES key.
WORKLOADS: dict[str, tuple[str, ...]] = {
    # A surveillance analyst at a MySQL 5.6 client: templated dialect text,
    # two dialect keys, TPC-H-shaped aggregation/joins/windows/top-k/
    # subqueries and the CDC outbreak detectors. Catalyst planning and
    # relational execution do the work; the memo caches and Python workers
    # are idle.
    "sql_interactive": (
        "mysql_segment_orders",
        "mysql_shipyear_qty",
        "mysql_top_customers",
        "dialect_mysql_query",
        "dialect_user_var_rownum",
        "agg_groupby",
        "join_broadcast",
        "win_topk_group",
        "topk",
        "subq_in_exists",
        "query_outbreak_ears",
        "query_outbreak_histlimits",
        "fn_epiweek",
    ),
    # The LLM-corpus curation batch plus the ingest and writes around it:
    # memoized signature/gram/postings frames, Python workers, an
    # availableNow CDC stream, a sink write and a catalog refresh; the
    # stream and the sink leave per-call dirs behind.
    "corpus_batch": (
        "llm_dedup_near",
        "llm_decontaminate",
        "ts_rt_ratio",
        "fulltext_bm25",
        "stream_cdc_apply",
        "sink_autoincrement",
        "catalog_matview_incremental",
    ),
}


def pass_order(workload: str, seed: int) -> list[str]:
    """The run's key order: one seeded shuffle, reused by every pass."""
    order = list(WORKLOADS[workload])
    random.Random(seed).shuffle(order)
    return order


def literals(seed: int, pass_no: int) -> dict[str, object]:
    """Template literals for one pass: a market segment, a day of 1996 as
    the date floor and a quantity threshold in 20-30. The text differs from
    pass to pass while the rows selected stay within a factor of about 1.5;
    the wider ranges first tried (a month floor in 1996-2000, thresholds
    10-40) changed the work 10-fold from seed to seed and made latency_p90_s
    spread with the literals drawn rather than with the engine."""
    rng = random.Random(seed * 1_000_003 + pass_no)
    floor = datetime.date(1996, 1, 1) + datetime.timedelta(days=rng.randint(0, 365))
    return {
        "segment": rng.choice(SEGMENTS),
        "floor": floor.isoformat(),
        "qty": rng.randint(20, 30),
    }


def render(name: str, lits: dict[str, object]) -> tuple[str, str]:
    """(MySQL text, DuckDB twin) of one template with the given literals."""
    t = TEMPLATES[name]
    return t.mysql.format(**lits), t.duckdb.format(**lits)

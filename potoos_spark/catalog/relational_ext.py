"""Oracle-checked catalog: relational surface extensions — set
operations, outer joins, correlated subqueries, JSON scalars,
conditional and multi-distinct aggregation.

Same exactness rules as relational.py: DECIMAL accumulation for money,
BIGINT keys, string dates. The correlated-subquery threshold compares
doubles derived from exact decimal sums with the identical formula on
both engines, so the filter decisions match bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .common import QuerySpec, table


# --- set operations ---------------------------------------------------------

def _union_all_fn(spark, sf_dir):
    c = table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").cast("bigint").alias("nationkey"),
        F.lit("customer").alias("side"),
    )
    s = table(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").cast("bigint").alias("nationkey"),
        F.lit("supplier").alias("side"),
    )
    return c.unionAll(s).groupBy("nationkey", "side").agg(F.count("*").alias("n"))


_UNION_ALL_SQL = (
    "SELECT nationkey, side, COUNT(*) AS n FROM ("
    "SELECT CAST(c_nationkey AS BIGINT) AS nationkey, 'customer' AS side FROM customer "
    "UNION ALL "
    "SELECT CAST(s_nationkey AS BIGINT) AS nationkey, 'supplier' AS side FROM supplier"
    ") GROUP BY nationkey, side"
)


def _intersect_fn(spark, sf_dir):
    c = table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").cast("bigint").alias("nationkey")
    )
    s = table(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").cast("bigint").alias("nationkey")
    )
    return c.intersect(s)


_INTERSECT_SQL = (
    "SELECT CAST(c_nationkey AS BIGINT) AS nationkey FROM customer "
    "INTERSECT SELECT CAST(s_nationkey AS BIGINT) FROM supplier"
)


def _except_fn(spark, sf_dir):
    # customers who placed urgent orders but never low-priority ones
    # (subtract = SQL EXCEPT set semantics, not exceptAll multiset)
    o = table(spark, sf_dir, "orders")
    urgent = o.filter(F.col("o_orderpriority") == "1-URGENT").select(
        F.col("o_custkey").cast("bigint").alias("custkey")
    )
    low = o.filter(F.col("o_orderpriority") == "5-LOW").select(
        F.col("o_custkey").cast("bigint").alias("custkey")
    )
    return urgent.subtract(low)


_EXCEPT_SQL = (
    "SELECT DISTINCT CAST(o_custkey AS BIGINT) AS custkey FROM orders "
    "WHERE o_orderpriority = '1-URGENT' "
    "EXCEPT SELECT CAST(o_custkey AS BIGINT) FROM orders "
    "WHERE o_orderpriority = '5-LOW'"
)


# --- outer join -------------------------------------------------------------

def _outer_join_fn(spark, sf_dir):
    """Left outer: every nation with its customer count (0 when none) —
    the dim side stays complete, the fact side aggregates first so the
    join is dim × pre-aggregated counts (shuffle-free on the dim)."""
    n = table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").cast("bigint").alias("nationkey"), "n_name"
    )
    counts = (
        table(spark, sf_dir, "customer")
        .groupBy(F.col("c_nationkey").cast("bigint").alias("nationkey"))
        .agg(F.count("*").alias("n_customers"))
    )
    return n.join(counts, "nationkey", "left").select(
        "nationkey",
        "n_name",
        F.coalesce("n_customers", F.lit(0)).alias("n_customers"),
    )


_OUTER_JOIN_SQL = (
    "SELECT CAST(n_nationkey AS BIGINT) AS nationkey, n_name, "
    "COALESCE(c.n_customers, 0) AS n_customers FROM nation "
    "LEFT JOIN (SELECT CAST(c_nationkey AS BIGINT) AS k, COUNT(*) AS n_customers "
    "FROM customer GROUP BY 1) c ON c.k = CAST(n_nationkey AS BIGINT)"
)


# --- correlated scalar subquery (TPC-H Q17 shape) ---------------------------

def _correlated_fn(spark, sf_dir):
    """Small-quantity-order revenue: lineitems below 50% of their part's
    average quantity. The correlated subquery decorrelates to a
    per-part aggregate + equi-join (what Catalyst does to EXISTS /
    scalar subqueries too)."""
    li = table(spark, sf_dir, "lineitem")
    per_part = li.groupBy(F.col("l_partkey").alias("pk")).agg(
        (
            F.sum(F.col("l_quantity").cast("decimal(8,2)")).cast("double")
            / F.count("*")
        ).alias("avg_qty")
    )
    return (
        li.join(per_part, li.l_partkey == per_part.pk)
        .filter(F.col("l_quantity").cast("double") < 0.5 * F.col("avg_qty"))
        .agg(
            F.sum(F.col("l_extendedprice").cast("decimal(12,2)"))
            .cast("double")
            .alias("total_price"),
            F.count("*").alias("n_small"),
        )
    )


_CORRELATED_SQL = (
    "WITH pp AS (SELECT l_partkey AS pk, "
    "CAST(SUM(CAST(l_quantity AS DECIMAL(8,2))) AS DOUBLE) / COUNT(*) AS avg_qty "
    "FROM lineitem GROUP BY 1) "
    "SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS total_price, "
    "COUNT(*) AS n_small FROM lineitem JOIN pp ON l_partkey = pk "
    "WHERE CAST(l_quantity AS DOUBLE) < 0.5 * avg_qty"
)


# --- JSON scalar functions ---------------------------------------------------

def _scalar_json_fn(spark, sf_dir):
    """JSON extraction on the events.props payload column — scan-local
    string work, zero shuffles besides the final aggregate.

    r4: deterministic final ORDER BY (driver-hash hygiene)."""
    ev = table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("bigint")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("k").alias("n"),
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
        .orderBy("event_type")
    )


# r4: SUM(k) CAST AS BIGINT — DuckDB SUM(BIGINT) yields HUGEINT, which
# pandas turns into float64 (driver hash diverges from Spark's int64
# even with identical values; the r3 driver hash failure).
_SCALAR_JSON_SQL = (
    "SELECT event_type, COUNT(k) AS n, CAST(SUM(k) AS BIGINT) AS sum_k, "
    "MIN(k) AS min_k, "
    "MAX(k) AS max_k FROM (SELECT event_type, "
    "CAST(json_extract_string(props, '$.k') AS BIGINT) AS k FROM events) "
    "GROUP BY event_type ORDER BY event_type"
)


# --- conditional + multi-distinct aggregation --------------------------------

def _conditional_agg_fn(spark, sf_dir):
    o = table(spark, sf_dir, "orders")
    price = F.col("o_totalprice").cast("decimal(12,2)")
    return o.groupBy(F.year("o_orderdate").cast("bigint").alias("yr")).agg(
        F.count_if(F.col("o_orderpriority") == "1-URGENT").alias("n_urgent"),
        F.sum(F.when(F.col("o_orderstatus") == "F", price)).cast("double").alias("rev_f"),
        F.count_distinct(F.col("o_custkey")).alias("n_custs"),
        F.count_distinct(F.col("o_orderpriority")).alias("n_prios"),
    )


_CONDITIONAL_AGG_SQL = (
    "SELECT CAST(year(o_orderdate) AS BIGINT) AS yr, "
    "COUNT(*) FILTER (o_orderpriority = '1-URGENT') AS n_urgent, "
    "CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN CAST(o_totalprice AS DECIMAL(12,2)) END) "
    "AS DOUBLE) AS rev_f, "
    "COUNT(DISTINCT o_custkey) AS n_custs, "
    "COUNT(DISTINCT o_orderpriority) AS n_prios "
    "FROM orders GROUP BY 1"
)




# --- one-scan column profiler ----------------------------------------------

_PROF_NUM = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
_PROF_CAT = ["l_returnflag", "l_linestatus"]


def _profile_fn(spark, sf_dir):
    """Data-profiling pass a curation pipeline runs before training: per
    column, row/null/exact-distinct counts plus numeric min/max/mean.
    Shape: a UNION of per-column single-row aggregates, each over its
    own column-pruned parquet scan — total bytes read equal ONE
    full-width scan (parquet is columnar; each branch touches exactly
    one column), the branches run as independent parallel stages, and
    each branch's single count(distinct) plans as a clean two-phase
    aggregate. Deliberately NOT N countDistinct calls in one agg
    (Catalyst Expands every row N+1 ways carrying the whole payload —
    measured 3x slower at sf0.1) and not an explode-to-long-form pass
    (2.6x slower: 6x the rows through one shuffle). Mean accumulates in
    DECIMAL then divides as double with the identical formula on both
    engines. 100 TB note: metadata overhead of 6 scans is footer-only;
    approx_count_distinct collapses this to one scan + one agg when
    +-2% distinct error is acceptable."""
    li = table(spark, sf_dir, "lineitem")

    def one(c: str, numeric: bool):
        num = F.col(c).cast("double") if numeric else F.lit(None).cast("double")
        return li.select(c).agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.isnull(c).cast("bigint")).alias("n_null"),
            F.countDistinct(c).alias("n_distinct"),
            F.min(num).alias("min_v"),
            F.max(num).alias("max_v"),
            (
                F.sum(num.cast("decimal(18,2)")).cast("double") / F.count(num)
            ).alias("avg_v"),
        ).select(F.lit(c).alias("col_name"), "*")

    parts = [one(c, True) for c in _PROF_NUM] + [one(c, False) for c in _PROF_CAT]
    out = parts[0]
    for p_ in parts[1:]:
        out = out.unionAll(p_)
    return out


def _prof_sql() -> str:
    sel = ["COUNT(*) AS n"]
    for c in _PROF_NUM + _PROF_CAT:
        sel.append(f"CAST(SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS {c}__nn")
        sel.append(f"CAST(COUNT(DISTINCT {c}) AS BIGINT) AS {c}__nd")
    for c in _PROF_NUM:
        sel.append(f"CAST(MIN({c}) AS DOUBLE) AS {c}__mn")
        sel.append(f"CAST(MAX({c}) AS DOUBLE) AS {c}__mx")
        sel.append(
            f"CAST(SUM(CAST({c} AS DECIMAL(18,2))) AS DOUBLE) / COUNT({c}) AS {c}__av"
        )
    arms = []
    for c in _PROF_NUM:
        arms.append(
            f"SELECT '{c}' AS col_name, n AS n_rows, {c}__nn AS n_null, "
            f"{c}__nd AS n_distinct, {c}__mn AS min_v, {c}__mx AS max_v, "
            f"{c}__av AS avg_v FROM a"
        )
    for c in _PROF_CAT:
        arms.append(
            f"SELECT '{c}' AS col_name, n AS n_rows, {c}__nn AS n_null, "
            f"{c}__nd AS n_distinct, CAST(NULL AS DOUBLE) AS min_v, "
            "CAST(NULL AS DOUBLE) AS max_v, CAST(NULL AS DOUBLE) AS avg_v FROM a"
        )
    return "WITH a AS (SELECT " + ", ".join(sel) + " FROM lineitem) " +         " UNION ALL ".join(arms)


_PROFILE_SQL = _prof_sql()


def _skyline_fn(spark, sf_dir):
    """Pareto skyline of parts — minimize price, maximize size: a part
    survives iff no other part is at-least-as-good on both axes and
    strictly better on one (classic dominance/multi-criteria query,
    Börzsönyi et al. ICDE'01). The engine uses the 2D SWEEP, not the
    quadratic NOT EXISTS: group to one row per distinct price with the
    group-max size [hash agg], take the running max size over strictly
    cheaper price groups [one window over the tiny grouped relation],
    and keep rows that top their own price group AND beat every cheaper
    group's max. The oracle states dominance directly via NOT EXISTS —
    an independent formulation, so parity checks the algorithm, not a
    transliteration. The strict-predecessor running max uses the
    distributed two-phase prefix max (`skew.global_cummax`,
    inclusive=False), NEVER a single-task `Window.orderBy` over the
    distinct-price relation — price cardinality grows with the part
    table. (Skyline is also distributive — skyline(A∪B) =
    skyline(skyline(A)∪skyline(B)) — so a per-partition pre-filter is
    a further option at extreme scale.)"""
    from ..operators.skew import global_cummax

    p = table(spark, sf_dir, "part").select(
        "p_partkey", "p_retailprice", "p_size"
    )
    g = p.groupBy("p_retailprice").agg(F.max("p_size").alias("__gmax"))
    g2 = global_cummax(
        g, ["p_retailprice"], "__gmax", out_col="__run", inclusive=False
    )
    j = p.join(g2, "p_retailprice")
    keep = (F.col("p_size") == F.col("__gmax")) & (
        F.col("__run").isNull() | (F.col("p_size") > F.col("__run"))
    )
    return j.filter(keep).select("p_partkey", "p_retailprice", "p_size")


def _abc_fn(spark, sf_dir):
    """ABC / Pareto classification: rank parts by lineitem revenue,
    take the running revenue share, and bracket A (first 80% of
    revenue), B (to 95%), C (tail) — the classic inventory rollup
    ("which 20% of parts carry 80% of revenue"). Revenue accumulates
    in DECIMAL (exact), the running share is one division per row over
    exact sums, and class boundaries compare those deterministic
    doubles — bit-stable. Shape: one fact-table hash agg to a row per
    part, a 1-row total broadcast, the running revenue via the
    distributed two-phase prefix sum (`skew.global_cumsum`: range
    repartition on (rev desc, partkey) → per-slice cumsum → broadcast
    offsets — exact because the sums are DECIMAL), NEVER a single-task
    `Window.orderBy` over the per-part relation, and a 3-row final
    agg."""
    from ..operators.skew import global_cumsum

    li = table(spark, sf_dir, "lineitem")
    rev = li.groupBy("l_partkey").agg(
        F.sum(
            F.col("l_extendedprice").cast("decimal(18,2)")
            * (F.lit(1).cast("decimal(18,2)") - F.col("l_discount").cast("decimal(18,2)"))
        ).alias("rev")
    )
    total = rev.agg(F.sum("rev").alias("total"))
    c = global_cumsum(
        rev, [F.col("rev").desc(), "l_partkey"], "rev", out_col="__cum"
    ).crossJoin(F.broadcast(total)).withColumn(
        "__share", F.col("__cum").cast("double") / F.col("total").cast("double")
    )
    klass = (
        F.when(F.col("__share") <= 0.80, "A")
        .when(F.col("__share") <= 0.95, "B")
        .otherwise("C")
    )
    return (
        c.withColumn("class", klass)
        .groupBy("class")
        .agg(
            F.count("*").alias("n_parts"),
            F.sum("rev").cast("double").alias("class_revenue"),
        )
    )


def _pct_total_fn(spark, sf_dir):
    """Share-of-total BI pattern: revenue per nation with its percent
    of the grand total and rank — the window-over-aggregate shape every
    reporting layer needs. Revenue accumulates in DECIMAL per nation
    (one fact hash agg with the small dims broadcast); the grand total
    is an unpartitioned window over the TINY per-nation relation (25
    rows at any scale — dims don't grow with facts), and the share is
    one double division of exact decimals."""
    from pyspark.sql import Window as W

    cust = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    orders = table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    rev = (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("rev"))
    )
    w = W.orderBy(F.col("rev").desc(), "n_name")
    total = W.partitionBy()
    return rev.select(
        "n_name",
        F.col("rev").cast("double").alias("revenue"),
        (
            F.col("rev").cast("double")
            / F.sum("rev").over(total).cast("double")
        ).alias("pct_of_total"),
        F.row_number().over(w).cast("bigint").alias("rank"),
    )


def _basket_pairs_fn(spark, sf_dir):
    """Market-basket co-occurrence: the 20 part pairs most often bought
    in the same order, with lift = P(ab)/(P(a)·P(b)) — the association
    signal behind "customers who bought X also bought Y". The self-join
    is keyed on the ORDER (a natural basket): per-basket fan-out is
    C(items_per_order, 2), bounded by the small basket size, so the
    pair space grows linearly with orders — the safe co-occurrence
    shape (unlike unbounded document-pair joins). Counts are exact;
    lift is n_ab·N / (n_a·n_b) computed as DECIMAL products with one
    final double division. Top-20 by (count desc, keys) — a
    TakeOrderedAndProject with a deterministic cut."""
    from pyspark.sql import Window as W

    li = (
        table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    n_orders = li.select("l_orderkey").distinct().agg(
        F.count("*").alias("n_orders")
    )
    item = li.groupBy("l_partkey").agg(F.count("*").alias("n_item"))
    a = li.withColumnsRenamed({"l_partkey": "part_a"})
    b = li.withColumnsRenamed({"l_partkey": "part_b"})
    pairs = (
        a.join(b, "l_orderkey")
        .filter(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count("*").alias("n_ab"))
    )
    D38 = "decimal(38,0)"
    j = (
        pairs.join(
            item.withColumnsRenamed({"l_partkey": "part_a", "n_item": "n_a"}),
            "part_a",
        )
        .join(
            item.withColumnsRenamed({"l_partkey": "part_b", "n_item": "n_b"}),
            "part_b",
        )
        .crossJoin(F.broadcast(n_orders))
    )
    lift = (
        (F.col("n_ab").cast(D38) * F.col("n_orders").cast(D38)).cast("double")
        / (F.col("n_a").cast(D38) * F.col("n_b").cast(D38)).cast("double")
    )
    return (
        j.select("part_a", "part_b", "n_ab", lift.alias("lift"))
        .orderBy(F.col("n_ab").desc(), "part_a", "part_b")
        .limit(20)
    )


def _ltv_deciles_fn(spark, sf_dir):
    """Customer lifetime-value deciles: rank customers by total order
    revenue, split into 10 equal-count buckets (NTILE over the total
    (revenue desc, custkey) order — deterministic under ties), and
    report each decile's size, revenue, and share — the 'top decile
    drives X% of revenue' concentration view that complements the ABC
    Pareto brackets. Revenue is DECIMAL-exact; shares are one double
    division each against a 1-row broadcast total. Deciles come from
    the distributed two-phase NTILE (`skew.global_ntile`, bit-equal to
    ANSI NTILE by construction), NEVER a single-task `Window.orderBy`
    over the per-customer relation — customer cardinality grows with
    the data."""
    from ..operators.skew import global_ntile

    orders = table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    rev = orders.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("rev")
    )
    total = rev.agg(F.sum("rev").alias("total"))
    d = global_ntile(
        rev, [F.col("rev").desc(), "o_custkey"], 10, tile_col="decile"
    ).withColumn("decile", F.col("decile").cast("bigint")).crossJoin(
        F.broadcast(total)
    )
    return d.groupBy("decile").agg(
        F.count("*").alias("n_customers"),
        F.sum("rev").cast("double").alias("decile_revenue"),
        (
            F.sum("rev").cast("double") / F.max("total").cast("double")
        ).alias("revenue_share"),
    )


def _repeat_purchase_fn(spark, sf_dir):
    """Retention core over the order stream: what fraction of
    customers ever come back (≥ 2 orders), and the average day gap
    between a repeat customer's consecutive orders — the two numbers
    under every retention curve. One per-customer hash agg for counts;
    gaps from one lag window per customer ((date, orderkey) total
    order); both averages are single double divisions over exact
    integer sums. Output: one row."""
    from pyspark.sql import Window as W

    o = table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_orderdate"
    )
    per_cust = o.groupBy("o_custkey").agg(F.count("*").alias("n_orders"))
    counts = per_cust.agg(
        F.count("*").alias("n_customers"),
        F.sum((F.col("n_orders") >= 2).cast("bigint")).alias("n_repeat"),
    )
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    gaps = o.select(
        F.datediff(
            F.col("o_orderdate"), F.lag("o_orderdate").over(w)
        ).alias("gap_days")
    ).filter(F.col("gap_days").isNotNull())
    gap_agg = gaps.agg(
        F.count("*").alias("n_gaps"),
        F.sum("gap_days").cast("bigint").alias("sum_gap_days"),
    )
    j = counts.crossJoin(gap_agg)
    return j.select(
        "n_customers",
        "n_repeat",
        (
            F.col("n_repeat").cast("double") / F.col("n_customers").cast("double")
        ).alias("repeat_rate"),
        "n_gaps",
        (
            F.col("sum_gap_days").cast("double") / F.col("n_gaps").cast("double")
        ).alias("avg_gap_days"),
    )


_REPEAT_PURCHASE_SQL = """
WITH pc AS (SELECT o_custkey, COUNT(*) AS n_orders FROM orders GROUP BY 1),
c AS (SELECT COUNT(*) AS n_customers,
      SUM(CASE WHEN n_orders >= 2 THEN 1 ELSE 0 END) AS n_repeat FROM pc),
g AS (SELECT date_diff('day',
        LAG(o_orderdate) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
        o_orderdate) AS gap_days FROM orders),
ga AS (SELECT COUNT(*) AS n_gaps, CAST(SUM(gap_days) AS BIGINT) AS sum_gap_days
       FROM g WHERE gap_days IS NOT NULL)
SELECT CAST(c.n_customers AS BIGINT) AS n_customers,
       CAST(c.n_repeat AS BIGINT) AS n_repeat,
       CAST(c.n_repeat AS DOUBLE) / CAST(c.n_customers AS DOUBLE) AS repeat_rate,
       CAST(ga.n_gaps AS BIGINT) AS n_gaps,
       CAST(ga.sum_gap_days AS DOUBLE) / CAST(ga.n_gaps AS DOUBLE) AS avg_gap_days
FROM c, ga
"""


_LTV_DECILES_SQL = """
WITH rev AS (
  SELECT o_custkey, SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
  FROM orders GROUP BY 1
),
tot AS (SELECT SUM(rev) AS total FROM rev),
d AS (SELECT rev.*, tot.total,
      NTILE(10) OVER (ORDER BY rev DESC, o_custkey) AS decile FROM rev, tot)
SELECT decile, COUNT(*) AS n_customers,
       CAST(SUM(rev) AS DOUBLE) AS decile_revenue,
       CAST(SUM(rev) AS DOUBLE) / CAST(MAX(total) AS DOUBLE) AS revenue_share
FROM d GROUP BY decile
"""


_BASKET_PAIRS_SQL = """
WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
n AS (SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM li),
item AS (SELECT l_partkey, COUNT(*) AS n_item FROM li GROUP BY 1),
p AS (SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, COUNT(*) AS n_ab
      FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
      AND a.l_partkey < b.l_partkey GROUP BY 1, 2)
SELECT p.part_a, p.part_b, p.n_ab,
       CAST(p.n_ab * n.n_orders AS DOUBLE) / CAST(ia.n_item * ib.n_item AS DOUBLE) AS lift
FROM p JOIN item ia ON ia.l_partkey = p.part_a
JOIN item ib ON ib.l_partkey = p.part_b, n
ORDER BY p.n_ab DESC, p.part_a, p.part_b LIMIT 20
"""


_PCT_TOTAL_SQL = """
WITH rev AS (
  SELECT n.n_name, SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS rev
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  GROUP BY 1
)
SELECT n_name, CAST(rev AS DOUBLE) AS revenue,
       CAST(rev AS DOUBLE) / CAST(SUM(rev) OVER () AS DOUBLE) AS pct_of_total,
       ROW_NUMBER() OVER (ORDER BY rev DESC, n_name) AS rank
FROM rev
"""


_ABC_SQL = """
WITH rev AS (
  SELECT l_partkey, SUM(CAST(l_extendedprice AS DECIMAL(18,2))
         * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS rev
  FROM lineitem GROUP BY 1
),
tot AS (SELECT SUM(rev) AS total FROM rev),
c AS (SELECT rev.*, tot.total,
      SUM(rev) OVER (ORDER BY rev DESC, l_partkey) AS cum FROM rev, tot),
k AS (SELECT *, CASE WHEN CAST(cum AS DOUBLE) / CAST(total AS DOUBLE) <= 0.80 THEN 'A'
      WHEN CAST(cum AS DOUBLE) / CAST(total AS DOUBLE) <= 0.95 THEN 'B'
      ELSE 'C' END AS class FROM c)
SELECT class, COUNT(*) AS n_parts, CAST(SUM(rev) AS DOUBLE) AS class_revenue
FROM k GROUP BY class
"""


_SKYLINE_SQL = (
    "SELECT p_partkey, p_retailprice, p_size FROM part p "
    "WHERE NOT EXISTS (SELECT 1 FROM part q "
    "WHERE q.p_retailprice <= p.p_retailprice AND q.p_size >= p.p_size "
    "AND (q.p_retailprice < p.p_retailprice OR q.p_size > p.p_size))"
)


def _global_pctl_fn(spark, sf_dir):
    """EXACT global percentiles of l_extendedprice (LOW percentile at
    rank ceil(q*n) — rank selection, no interpolation, so the answer is
    a real data value and bit-stable). The global total order comes
    from `skew.global_rank` (range repartition + per-slice row_number +
    broadcast offsets), NEVER a partition-less window — the 100 TB
    shape for exact quantiles when the approx KLL error bound is not
    acceptable (e.g. contractual SLA cutoffs). Ties broken by
    l_orderkey, l_linenumber (a total order); the selected rank rows
    are a 4-row result regardless of scale."""
    from pyspark.sql import functions as F  # noqa: F811

    from ..operators.skew import global_rank

    li = table(spark, sf_dir, "lineitem").select(
        F.col("l_extendedprice").cast("decimal(12,2)").alias("price"),
        "l_orderkey",
        "l_linenumber",
    )
    r = global_rank(li, ["price", "l_orderkey", "l_linenumber"], rank_col="rk")
    n = r.agg(F.count("*").alias("n"))
    # ONE pass over the ranked relation: the 4 target quantiles ride
    # along as a broadcast 4-row spec (a per-quantile union would
    # re-run the rank window + filter once per quantile)
    qspec = spark.createDataFrame(
        [(0.5, "p50"), (0.9, "p90"), (0.99, "p99"), (0.999, "p999")],
        "q double, pctl string",
    )
    return (
        r.join(F.broadcast(n))
        .join(F.broadcast(qspec))
        .filter(F.col("rk") == F.ceil(F.col("n") * F.col("q")).cast("bigint"))
        .select(
            "pctl",
            "q",
            F.col("price").cast("double").alias("value"),
            F.col("rk").alias("rank"),
            F.col("n").alias("n_rows"),
        )
    )


_GLOBAL_PCTL_SQL = (
    "WITH r AS (SELECT CAST(l_extendedprice AS DECIMAL(12,2)) AS price, "
    "ROW_NUMBER() OVER (ORDER BY CAST(l_extendedprice AS DECIMAL(12,2)), "
    "l_orderkey, l_linenumber) AS rk, "
    "COUNT(*) OVER () AS n FROM lineitem) "
    + " UNION ALL ".join(
        f"SELECT '{name}' AS pctl, CAST({q} AS DOUBLE) AS q, "
        "CAST(price AS DOUBLE) AS value, "
        f"rk AS rank, n AS n_rows FROM r WHERE rk = CAST(ceil(n * {q}) AS BIGINT)"
        for q, name in [(0.5, "p50"), (0.9, "p90"), (0.99, "p99"), (0.999, "p999")]
    )
)


QUERIES: dict[str, QuerySpec] = {
    # extension: Pareto-dominance skyline (sweep vs NOT-EXISTS oracle)
    "q_skyline": QuerySpec(_skyline_fn, _SKYLINE_SQL),
    # extension: ABC revenue classification (Pareto brackets)
    "q_abc_classification": QuerySpec(_abc_fn, _ABC_SQL),
    # extension: percent-of-total + rank over a broadcast-dim rollup
    "q_percent_of_total": QuerySpec(_pct_total_fn, _PCT_TOTAL_SQL),
    # extension: market-basket pair lift (order-bounded co-occurrence)
    "q_basket_pairs": QuerySpec(_basket_pairs_fn, _BASKET_PAIRS_SQL),
    # extension: customer LTV deciles (NTILE concentration view)
    "q_ltv_deciles": QuerySpec(_ltv_deciles_fn, _LTV_DECILES_SQL),
    # extension: repeat-purchase rate + mean inter-order gap
    "q_repeat_purchase": QuerySpec(_repeat_purchase_fn, _REPEAT_PURCHASE_SQL),
    "q_union_all": QuerySpec(_union_all_fn, _UNION_ALL_SQL),
    "q_intersect": QuerySpec(_intersect_fn, _INTERSECT_SQL),
    "q_except": QuerySpec(_except_fn, _EXCEPT_SQL),
    "q_outer_join": QuerySpec(_outer_join_fn, _OUTER_JOIN_SQL),
    "q_correlated_avg": QuerySpec(_correlated_fn, _CORRELATED_SQL),
    "q_scalar_json": QuerySpec(_scalar_json_fn, _SCALAR_JSON_SQL),
    "q_conditional_agg": QuerySpec(_conditional_agg_fn, _CONDITIONAL_AGG_SQL),
    "q_profile_stats": QuerySpec(_profile_fn, _PROFILE_SQL),
    # r4: exact global percentiles via the distributed rank (no
    # single-task corpus sort)
    "q_global_percentiles": QuerySpec(_global_pctl_fn, _GLOBAL_PCTL_SQL),
}


def _zorder_fn(spark, sf_dir):
    """Z-order clustering demo: interleave (l_partkey, l_orderkey) into
    a Morton key, cut the keyspace into 64 top-bit buckets (the
    'files' a ZORDER-optimized write would produce), and report each
    bucket's min/max span in BOTH dimensions — narrow spans in both
    are exactly the property that lets per-file stats prune scans
    filtered on either column. A single-column sort gives one narrow
    dimension and leaves the other at ~full range (asserted in
    tests/test_storage.py)."""
    from pyspark.sql import functions as F  # noqa: F811

    from ..operators.storage import zorder_key

    bits = 11  # fixture partkey range is 0..1999 ~ 2^11
    li = table(spark, sf_dir, "lineitem").select(
        F.pmod("l_partkey", F.lit(1 << bits)).cast("bigint").alias("pk"),
        F.pmod("l_orderkey", F.lit(1 << bits)).cast("bigint").alias("sk"),
    )
    z = zorder_key("pk", "sk", bits=bits)
    b = li.withColumn("bucket", F.shiftrightunsigned(z, 2 * bits - 6))
    return b.groupBy("bucket").agg(
        F.count("*").alias("n"),
        F.min("pk").alias("pk_min"),
        F.max("pk").alias("pk_max"),
        F.min("sk").alias("sk_min"),
        F.max("sk").alias("sk_max"),
        (F.max("pk") - F.min("pk")).alias("pk_span"),
        (F.max("sk") - F.min("sk")).alias("sk_span"),
    )


_Z_BITS = 11
_Z_INTERLEAVE = " + ".join(
    f"(((pk >> {i}) & 1) << {2 * i}) + (((sk >> {i}) & 1) << {2 * i + 1})"
    for i in range(_Z_BITS)
)
_ZORDER_SQL = (
    "WITH c AS (SELECT CAST(l_partkey % 2048 AS BIGINT) AS pk, "
    "CAST(l_orderkey % 2048 AS BIGINT) AS sk FROM lineitem), "
    f"z AS (SELECT pk, sk, ({_Z_INTERLEAVE}) >> {2 * _Z_BITS - 6} AS bucket "
    "FROM c) "
    "SELECT bucket, COUNT(*) AS n, MIN(pk) AS pk_min, MAX(pk) AS pk_max, "
    "MIN(sk) AS sk_min, MAX(sk) AS sk_max, "
    "MAX(pk) - MIN(pk) AS pk_span, MAX(sk) - MIN(sk) AS sk_span "
    "FROM z GROUP BY bucket"
)

QUERIES["q_zorder_clustering"] = QuerySpec(_zorder_fn, _ZORDER_SQL)


# --- data-quality constraint audit (r6) ------------------------------------

def _constraint_audit_fn(spark, sf_dir):
    from ..operators.audit import (
        audit,
        fk_violations,
        pk_duplicates,
        predicate_violations_multi,
    )

    orders = table(spark, sf_dir, "orders")
    lineitem = table(spark, sf_dir, "lineitem")
    customer = table(spark, sf_dir, "customer")
    return audit([
        fk_violations(orders, customer, "o_custkey", "c_custkey", "fk_orders_customer"),
        fk_violations(lineitem, orders, "l_orderkey", "o_orderkey", "fk_lineitem_orders"),
        pk_duplicates(customer, "c_custkey", "pk_customer_unique"),
        # all CHECK rules per fact table fused into ONE scan each
        predicate_violations_multi(lineitem, {
            "chk_lineitem_quantity": F.col("l_quantity").between(1.0, 50.0),
            "chk_lineitem_discount": F.col("l_discount").between(0.0, 1.0),
        }),
        predicate_violations_multi(orders, {
            "chk_orders_totalprice_positive": F.col("o_totalprice") > 0.0,
            "chk_orders_orderdate_notnull": F.col("o_orderdate").isNotNull(),
        }),
    ])


# dbt-test-style gate: each named check one scalar count; NULLs violate
# (three-valued-logic strict: NOT (pred IS TRUE), same on both engines).
_CONSTRAINT_AUDIT_SQL = (
    "SELECT * FROM ("
    'SELECT \'fk_orders_customer\' AS "constraint", CAST(COUNT(*) AS BIGINT) AS n_violations '
    "FROM orders o WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey) "
    "UNION ALL "
    "SELECT 'fk_lineitem_orders', CAST(COUNT(*) AS BIGINT) "
    "FROM lineitem l WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey) "
    "UNION ALL "
    "SELECT 'pk_customer_unique', CAST(COUNT(*) - COUNT(DISTINCT c_custkey) AS BIGINT) FROM customer "
    "UNION ALL "
    "SELECT 'chk_lineitem_quantity', CAST(COUNT(*) AS BIGINT) FROM lineitem "
    "WHERE (l_quantity BETWEEN 1.0 AND 50.0) IS NOT TRUE "
    "UNION ALL "
    "SELECT 'chk_lineitem_discount', CAST(COUNT(*) AS BIGINT) FROM lineitem "
    "WHERE (l_discount BETWEEN 0.0 AND 1.0) IS NOT TRUE "
    "UNION ALL "
    "SELECT 'chk_orders_totalprice_positive', CAST(COUNT(*) AS BIGINT) FROM orders "
    "WHERE (o_totalprice > 0.0) IS NOT TRUE "
    "UNION ALL "
    "SELECT 'chk_orders_orderdate_notnull', CAST(COUNT(*) AS BIGINT) FROM orders "
    "WHERE o_orderdate IS NULL"
    ") ORDER BY \"constraint\""
)

QUERIES["q_constraint_audit"] = QuerySpec(_constraint_audit_fn, _CONSTRAINT_AUDIT_SQL)


# --- SCD Type-2 dimension history (r6) --------------------------------------

def _scd2_fn(spark, sf_dir):
    """Slowly-changing-dimension (type 2) history built from the event
    stream: per user, consecutive runs of the same state (event_type)
    collapse to one versioned row with [valid_from, valid_to) bounds
    and an is_current flag — the warehouse pattern behind every
    'what was this entity's state AT time t' query (the as-of join's
    storage-side counterpart).

    Shape: two windows over the SAME (user, ts, event_id) sort — the
    change detector (lag) and the interval closer (lead) — so one
    per-user window exchange serves both; bounded by per-user event
    counts, never a global window. Determinism: ties break on
    event_id, so simultaneous events produce a stable history.

    Output: (user_id, state, version, valid_from_ms, valid_to_ms,
    is_current) — valid_to_ms is NULL on the open (current) version.
    """
    from pyspark.sql import Window as W

    from ..operators.retrieval import events_ts_ms

    ev = table(spark, sf_dir, "events")
    ms = events_ts_ms(ev)
    e = ev.select(
        F.col("user_id").cast("bigint").alias("user_id"),
        F.col("event_type").alias("state"),
        ms.alias("ts_ms"),
        F.col("event_id").cast("bigint").alias("seq"),
    )
    wo = W.partitionBy("user_id").orderBy("ts_ms", "seq")
    prev = F.lag("state").over(wo)
    changes = e.withColumn(
        "__chg", prev.isNull() | (F.col("state") != prev)
    ).filter(F.col("__chg"))
    wc = W.partitionBy("user_id").orderBy("ts_ms", "seq")
    return changes.select(
        "user_id",
        "state",
        F.row_number().over(wc).cast("bigint").alias("version"),
        F.col("ts_ms").alias("valid_from_ms"),
        (F.lead("ts_ms").over(wc) - 1).alias("valid_to_ms"),
        F.lead("ts_ms").over(wc).isNull().alias("is_current"),
    )


_SCD2_SQL = (
    "WITH e AS (SELECT CAST(user_id AS BIGINT) AS user_id, "
    "event_type AS state, epoch_ms(ts) AS ts_ms, "
    "CAST(event_id AS BIGINT) AS seq FROM events), "
    "d AS (SELECT *, lag(state) OVER w AS prev FROM e "
    "WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms, seq)), "
    "chg AS (SELECT user_id, state, ts_ms, seq FROM d "
    "WHERE prev IS NULL OR state <> prev) "
    "SELECT user_id, state, "
    "CAST(ROW_NUMBER() OVER w AS BIGINT) AS version, "
    "ts_ms AS valid_from_ms, lead(ts_ms) OVER w - 1 AS valid_to_ms, "
    "lead(ts_ms) OVER w IS NULL AS is_current FROM chg "
    "WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms, seq)"
)

QUERIES["q_scd2_history"] = QuerySpec(_scd2_fn, _SCD2_SQL)


def _gini_fn(spark, sf_dir):
    """Per-nation Gini coefficient of customer order spend — the
    concentration/inequality audit a curation pipeline runs on source
    contributions (a Gini near 1 means a handful of customers — or
    documents, or domains — dominate the mass). Exact rank formula on
    the sorted spend vector x (ties broken by custkey):

        G = (2·Σ i·x_i − (n+1)·Σ x_i) / (n·Σ x_i)

    Every sum accumulates in DECIMAL (order-free, exact); the single
    double division happens on identical operands in both engines.
    The rank window partitions by nation — a BOUNDED group count, so
    the per-group sort is the standard grouped-rank shape (for an
    unbounded-group variant, `skew.global_rank` is the scale path).
    Population = customers with ≥1 order (inner join semantics)."""
    from pyspark.sql import Window as W

    D = "decimal(18,2)"
    rev = (
        table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.sum(F.col("o_totalprice").cast(D)).alias("rev"))
    )
    cust = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    j = rev.join(cust, rev.o_custkey == cust.c_custkey).join(
        F.broadcast(nation), cust.c_nationkey == nation.n_nationkey
    )
    w = W.partitionBy("n_name").orderBy("rev", "o_custkey")
    r = j.select(
        "n_name", "rev", F.row_number().over(w).cast("bigint").alias("i")
    )
    D38 = "decimal(38,2)"
    a = r.groupBy("n_name").agg(
        F.count("*").alias("n_customers"),
        F.sum(F.col("rev").cast(D38)).alias("s0"),
        F.sum((F.col("i") * F.col("rev")).cast(D38)).alias("s1"),
    )
    num = (F.lit(2) * F.col("s1") - (F.col("n_customers") + 1) * F.col("s0")).cast(
        "double"
    )
    den = (F.col("n_customers") * F.col("s0")).cast("double")
    return a.select("n_name", "n_customers", (num / den).alias("gini"))


_GINI_SQL = (
    "WITH rev AS (SELECT o_custkey, "
    "SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev FROM orders GROUP BY 1), "
    "j AS (SELECT n.n_name, r.rev, r.o_custkey FROM rev r "
    "JOIN customer c ON r.o_custkey = c.c_custkey "
    "JOIN nation n ON c.c_nationkey = n.n_nationkey), "
    "rk AS (SELECT n_name, rev, CAST(ROW_NUMBER() OVER "
    "(PARTITION BY n_name ORDER BY rev, o_custkey) AS BIGINT) AS i FROM j), "
    "a AS (SELECT n_name, COUNT(*) AS n_customers, "
    "SUM(CAST(rev AS DECIMAL(38,2))) AS s0, "
    "SUM(CAST(i * rev AS DECIMAL(38,2))) AS s1 FROM rk GROUP BY 1) "
    "SELECT n_name, n_customers, "
    "CAST(2 * s1 - (n_customers + 1) * s0 AS DOUBLE) / "
    "CAST(n_customers * s0 AS DOUBLE) AS gini FROM a"
)

QUERIES["q_gini"] = QuerySpec(_gini_fn, _GINI_SQL)


# Benford expected first-digit frequencies log10(1 + 1/d), computed
# ONCE in Python and embedded as identical double literals in both
# engines — never recomputed via each engine's libm log10 (a 1-ulp
# divergence there would break the bit-exact hash).
import math as _math  # noqa: E402

_BENFORD = {d: _math.log10(1.0 + 1.0 / d) for d in range(1, 10)}


def _benford_fn(spark, sf_dir):
    """First-significant-digit census of o_totalprice vs Benford's law
    — the classic fabricated-data / corrupted-extract audit. The digit
    comes from EXACT integer arithmetic: price → cents (decimal·100 →
    bigint, no float), then the first character of the integer's
    decimal string (integer-to-string is locale-free and identical in
    both engines; scaling by 100 never changes the leading significant
    digit). One hash agg over the fact table; the 9-row expected-freq
    relation is a broadcast literal."""
    cents = (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("bigint")
    d = F.substring(cents.cast("string"), 1, 1).cast("bigint")
    counts = (
        table(spark, sf_dir, "orders")
        .select(d.alias("digit"))
        .groupBy("digit")
        .agg(F.count("*").alias("n"))
    )
    total = counts.agg(F.sum("n").alias("total"))
    exp = spark.createDataFrame(
        [(di, f) for di, f in _BENFORD.items()], "digit bigint, benford_freq double"
    )
    obs = F.col("n").cast("double") / F.col("total").cast("double")
    return (
        counts.join(F.broadcast(total))
        .join(F.broadcast(exp), "digit")
        .select(
            "digit",
            "n",
            obs.alias("obs_freq"),
            "benford_freq",
            F.abs(obs - F.col("benford_freq")).alias("abs_dev"),
        )
    )


_BENFORD_SQL = (
    "WITH c AS (SELECT CAST(SUBSTR(CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2)) "
    "* 100 AS BIGINT) AS VARCHAR), 1, 1) AS BIGINT) AS digit FROM orders), "
    "cnt AS (SELECT digit, COUNT(*) AS n FROM c GROUP BY 1), "
    "t AS (SELECT SUM(n) AS total FROM cnt), "
    "exp AS ("
    + " UNION ALL ".join(
        f"SELECT CAST({d} AS BIGINT) AS digit, CAST('{f!r}' AS DOUBLE) AS benford_freq"
        for d, f in _BENFORD.items()
    )
    + ") "
    "SELECT cnt.digit, cnt.n, "
    "CAST(cnt.n AS DOUBLE) / CAST(t.total AS DOUBLE) AS obs_freq, "
    "exp.benford_freq, "
    "ABS(CAST(cnt.n AS DOUBLE) / CAST(t.total AS DOUBLE) - exp.benford_freq) "
    "AS abs_dev FROM cnt JOIN exp USING (digit) CROSS JOIN t"
)

QUERIES["q_benford"] = QuerySpec(_benford_fn, _BENFORD_SQL)


def _running_distinct_fn(spark, sf_dir):
    """Cumulative distinct customers by order month — the canonical
    rewrite for COUNT(DISTINCT) OVER (...), which Spark (and ANSI SQL)
    forbid as a window aggregate: mark each customer's FIRST month (one
    hash agg, map-side combinable), count firsts per month, then a
    running sum over the month spine. The window runs over ≤ months
    rows — never over the fact table — so the rewrite is
    scale-independent: the heavy relation is touched by exactly one
    grouped MIN."""
    from pyspark.sql import Window as W

    o = table(spark, sf_dir, "orders")
    month = F.date_format("o_orderdate", "yyyy-MM")
    first_m = (
        o.select(F.col("o_custkey"), month.alias("m"))
        .groupBy("o_custkey")
        .agg(F.min("m").alias("first_m"))
    )
    per_month = first_m.groupBy(F.col("first_m").alias("month")).agg(
        F.count("*").alias("new_customers")
    )
    w = W.orderBy("month").rowsBetween(W.unboundedPreceding, W.currentRow)
    return per_month.select(
        "month",
        "new_customers",
        F.sum("new_customers").over(w).cast("bigint").alias("cum_distinct_customers"),
    )


_RUNNING_DISTINCT_SQL = (
    "WITH fm AS (SELECT o_custkey, MIN(strftime(o_orderdate, '%Y-%m')) AS first_m "
    "FROM orders GROUP BY 1), "
    "pm AS (SELECT first_m AS month, COUNT(*) AS new_customers FROM fm GROUP BY 1) "
    "SELECT month, new_customers, "
    "CAST(SUM(new_customers) OVER (ORDER BY month "
    "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) "
    "AS cum_distinct_customers FROM pm"
)

QUERIES["q_running_distinct"] = QuerySpec(_running_distinct_fn, _RUNNING_DISTINCT_SQL)


def _hist2d_fn(spark, sf_dir):
    """2-D equi-width histogram (the heatmap binning behind price-vs-
    quantity scatter density): exact integer bin indices — cents div
    1M (capped at 11) × (qty−1) div 5 (capped at 9) — so the bin space
    is ≤ 12×10 cells regardless of rows and the whole op is ONE
    map-side-combinable hash agg over the fact scan. Integer division
    end to end (no float bin edges: a double divide rounds at exact
    bin boundaries and the engines could disagree by one cell).
    Dividends are clamped non-negative FIRST (greatest(..., 0)) so
    Spark's truncating ``div`` and DuckDB's flooring ``//`` agree and
    a zero/negative quantity or price can't yield a negative bin id —
    TPC-H data never hits that, arbitrary data would (ADVICE r7)."""
    li = table(spark, sf_dir, "lineitem")
    cents = (F.col("l_extendedprice").cast("decimal(18,2)") * 100).cast("bigint")
    qty = F.col("l_quantity").cast("bigint")
    return (
        li.select(cents.alias("cents"), qty.alias("qty"))
        .select(
            F.expr("least(greatest(cents, 0) div 1000000, 11)")
            .cast("bigint")
            .alias("price_bin"),
            F.expr("least(greatest(qty - 1, 0) div 5, 9)")
            .cast("bigint")
            .alias("qty_bin"),
        )
        .groupBy("price_bin", "qty_bin")
        .agg(F.count("*").alias("n"))
    )



_HIST2D_SQL = (
    "SELECT LEAST(GREATEST(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 "
    "AS BIGINT), 0) // 1000000, 11) AS price_bin, "
    "LEAST(GREATEST(CAST(l_quantity AS BIGINT) - 1, 0) // 5, 9) AS qty_bin, "
    "COUNT(*) AS n FROM lineitem GROUP BY 1, 2"
)

QUERIES["q_histogram_2d"] = QuerySpec(_hist2d_fn, _HIST2D_SQL)


def _skew_report_fn(spark, sf_dir):
    """Join-key skew diagnostic WITHOUT sorting the key space — the
    pre-flight check before any big keyed join: group sizes per
    l_orderkey (one hash agg), then aggregate the SIZES into a
    (size → n_keys) histogram — a relation bounded by the number of
    DISTINCT group sizes (dozens), not keys — and read exact p50/p99
    off its running sum. A naive percentile-over-keys needs a global
    sort of the key space; this shape never touches more than the tiny
    histogram after the first agg. Output: one row of skew facts."""
    from pyspark.sql import Window as W

    li = table(spark, sf_dir, "lineitem")
    sizes = li.groupBy("l_orderkey").agg(F.count("*").alias("sz"))
    hist = sizes.groupBy("sz").agg(F.count("*").alias("nk"))
    w = W.orderBy("sz").rowsBetween(W.unboundedPreceding, W.currentRow)
    # persisted; filled by its first consumer (r11: dedicated fill
    # re-measured as pure overhead — wall 0.63 s without vs 0.72 s with)
    h = hist.select(
        "sz", "nk", F.sum("nk").over(w).alias("cum")
    ).persist()
    tot = h.agg(
        F.sum("nk").cast("bigint").alias("n_keys"),
        F.sum(F.col("sz") * F.col("nk")).cast("bigint").alias("n_rows"),
        F.max("sz").cast("bigint").alias("max_size"),
    )
    p50 = (
        h.join(F.broadcast(tot))
        .filter(F.col("cum") >= F.ceil(F.col("n_keys") * 0.5))
        .agg(F.min("sz").cast("bigint").alias("p50_size"))
    )
    p99 = (
        h.join(F.broadcast(tot))
        .filter(F.col("cum") >= F.ceil(F.col("n_keys") * 0.99))
        .agg(F.min("sz").cast("bigint").alias("p99_size"))
    )
    return (
        tot.join(F.broadcast(p50))
        .join(F.broadcast(p99))
        .select(
            "n_keys",
            "n_rows",
            "max_size",
            "p50_size",
            "p99_size",
            (
                F.col("max_size").cast("double")
                / (F.col("n_rows").cast("double") / F.col("n_keys").cast("double"))
            ).alias("max_over_mean"),
        )
    )


_SKEW_REPORT_SQL = (
    "WITH sizes AS (SELECT l_orderkey, COUNT(*) AS sz FROM lineitem GROUP BY 1), "
    "hist AS (SELECT sz, COUNT(*) AS nk FROM sizes GROUP BY 1), "
    "h AS (SELECT sz, nk, SUM(nk) OVER (ORDER BY sz "
    "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM hist), "
    "tot AS (SELECT CAST(SUM(nk) AS BIGINT) AS n_keys, "
    "CAST(SUM(sz * nk) AS BIGINT) AS n_rows, "
    "CAST(MAX(sz) AS BIGINT) AS max_size FROM h), "
    "p50 AS (SELECT CAST(MIN(sz) AS BIGINT) AS p50_size FROM h, tot "
    "WHERE cum >= CEIL(n_keys * 0.5)), "
    "p99 AS (SELECT CAST(MIN(sz) AS BIGINT) AS p99_size FROM h, tot "
    "WHERE cum >= CEIL(n_keys * 0.99)) "
    "SELECT tot.n_keys, tot.n_rows, tot.max_size, p50.p50_size, p99.p99_size, "
    "CAST(tot.max_size AS DOUBLE) / "
    "(CAST(tot.n_rows AS DOUBLE) / CAST(tot.n_keys AS DOUBLE)) AS max_over_mean "
    "FROM tot, p50, p99"
)

QUERIES["q_skew_report"] = QuerySpec(_skew_report_fn, _SKEW_REPORT_SQL)

"""Driver contract for the spark-graft builder (PySpark target).

Each ``queries()`` entry is an operator from SURVEY.md §2 (or a
beyond-reference LLM-pipeline operator per BASELINE.json), implemented
through the ``datamancer_spark`` engine; ``oracle_sql()`` holds the DuckDB
twin. Column names and rounding are aligned pairwise (sums → 2 decimals,
means/ratios → 4, similarities → 6) so the driver's order-insensitive
value-hash is stable across engines.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from datamancer_spark import load_tables
from datamancer_spark.frame import DamFrame
from datamancer_spark.functions import text as T
from datamancer_spark.functions import vector as V
from datamancer_spark.functions.rounding import prnd
from datamancer_spark.operators import dedup as D
from datamancer_spark.operators import similarity as S

SF1 = "/root/testdata/sf0.001"

# Staging directory of the gates that write files, next to this module,
# so a copy of the repository writes into its own tree. The DuckDB twins
# read the CSV and JSONL gates' files from here too.
_WAREHOUSE = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "spark-warehouse"
)


def _expand_prnd(sql: str) -> str:
    """Expand ``prnd(expr, n)`` placeholders in oracle SQL into the
    engine-portable rounding form ``floor((expr)·10ⁿ + 0.5)/10ⁿ`` (see
    datamancer_spark.functions.rounding: Spark HALF_UP vs DuckDB
    half-even diverge on exact halfway values)."""
    while "prnd(" in sql:
        i = sql.index("prnd(")
        j = i + len("prnd(")
        depth, comma = 0, None
        while True:
            ch = sql[j]
            if ch == "(":
                depth += 1
            elif ch == ")":
                if depth == 0:
                    break
                depth -= 1
            elif ch == "," and depth == 0:
                comma = j
            j += 1
        expr = sql[i + len("prnd(") : comma]
        n = int(sql[comma + 1 : j].strip())
        scale = float(10**n)
        sql = sql[:i] + f"floor(({expr}) * {scale} + 0.5) / {scale}" + sql[j + 1 :]
    return sql


def _t(spark: SparkSession, sf_dir: str, *names: str) -> dict[str, DamFrame]:
    return load_tables(spark, sf_dir, names or None)


# ---------------------------------------------------------------------------
# TPC-H-ish headline queries
# ---------------------------------------------------------------------------


def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scan → filter → grouped agg (ref filter dataframe.nim:1360 +
    group_by/summarize dataframe.nim:2007-2101)."""
    li = _t(spark, sf_dir, "lineitem")["lineitem"]
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .group_by("l_returnflag", "l_linestatus")
        .summarize(
            sum_qty=prnd(F.sum("l_quantity"), 2),
            sum_base_price=prnd(F.sum("l_extendedprice"), 2),
            sum_disc_price=prnd(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ),
            avg_qty=prnd(F.avg("l_quantity"), 4),
            avg_price=prnd(F.avg("l_extendedprice"), 4),
            avg_disc=prnd(F.avg("l_discount"), 4),
            count_order=F.count(F.lit(1)),
        )
        .df
    )


def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-way join → grouped agg → deterministic top-10 (joins
    dataframe.nim:1885; head dataframe.nim:2197)."""
    t = _t(spark, sf_dir, "customer", "orders", "lineitem")
    cust = t["customer"].filter(F.col("c_mktsegment") == "BUILDING")
    res = (
        cust.rename(o_custkey="c_custkey")
        .inner_join(t["orders"], by="o_custkey", broadcast_right=False)
        .inner_join(
            t["lineitem"].rename(o_orderkey="l_orderkey"), by="o_orderkey"
        )
        .group_by("o_orderkey", "o_orderdate", "o_orderpriority")
        .summarize(
            revenue=prnd(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            )
        )
        .arrange(F.col("revenue").desc(), F.col("o_orderkey").asc())
        .head(10)
    )
    return res.df


def q5_nation_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star join across all dims → per-nation revenue (multi-join fold,
    ref dataframe.nim:1994-2005)."""
    t = _t(spark, sf_dir, "nation", "customer", "supplier", "orders", "lineitem")
    joined = (
        t["lineitem"]
        .inner_join(t["orders"].rename(l_orderkey="o_orderkey"), by="l_orderkey")
        .inner_join(t["customer"].rename(o_custkey="c_custkey"), by="o_custkey")
        .inner_join(
            t["nation"].rename(c_nationkey="n_nationkey"),
            by="c_nationkey",
            broadcast_right=True,
        )
        .inner_join(
            t["supplier"].rename(l_suppkey="s_suppkey"),
            by="l_suppkey",
            broadcast_right=True,
        )
        .filter(F.col("s_nationkey") == F.col("c_nationkey"))
    )
    return (
        joined.group_by("n_name")
        .summarize(
            revenue=prnd(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            )
        )
        .df
    )


def q6_revenue_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pushdown-friendly filter + ungrouped reduce (ref summarize
    ungrouped → 1 row, dataframe.nim:2037-2101)."""
    li = _t(spark, sf_dir, "lineitem")["lineitem"]
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01"))
            & (F.col("l_shipdate") < F.lit("1997-01-01"))
            & (F.col("l_discount") >= 0.03)
            & (F.col("l_quantity") < 24)
        )
        .summarize(
            revenue=prnd(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2),
            n=F.count(F.lit(1)),
        )
        .df
    )


def q4_late_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q4-flavored EXISTS + grouped count: orders with at least
    one lineitem shipped >90 days after the order date, counted per
    priority. EXISTS-then-count collapses to one join + one
    count(DISTINCT orderkey) per priority — a hit order is counted
    once no matter how many late lines it has, with no separate
    semi-join round trip."""
    t = _t(spark, sf_dir, "orders", "lineitem")
    late = (
        t["lineitem"].df.select(F.col("l_orderkey").alias("o_orderkey"), "l_shipdate")
    )
    o = t["orders"].df
    j = o.join(late, "o_orderkey").filter(
        F.col("l_shipdate") > F.date_add(F.col("o_orderdate"), 90)
    )
    return (
        j.groupBy("o_orderpriority")
        .agg(F.countDistinct("o_orderkey").cast("long").alias("n_late_orders"))
    )


def q10_return_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q10-flavored: revenue lost to returned items per customer,
    deterministic top 20. Star join with the customer side broadcast;
    top-20 is TakeOrderedAndProject, never a global sort."""
    t = _t(spark, sf_dir, "customer", "orders", "lineitem")
    res = (
        t["lineitem"]
        .filter(F.col("l_returnflag") == "R")
        .inner_join(t["orders"].rename(l_orderkey="o_orderkey"), by="l_orderkey")
        .inner_join(t["customer"].rename(o_custkey="c_custkey"), by="o_custkey")
        .group_by("o_custkey", "c_name", "c_acctbal")
        .summarize(
            revenue=prnd(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            )
        )
        .arrange(F.col("revenue").desc(), F.col("o_custkey").asc())
        .head(20)
    )
    return res.df


def q14_promo_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q14-flavored: fraction of one month's revenue from PROMO
    parts. Part dimension broadcast onto the filtered lineitem scan;
    one ungrouped aggregate with a conditional numerator."""
    t = _t(spark, sf_dir, "part", "lineitem")
    li = t["lineitem"].filter(
        (F.col("l_shipdate") >= F.lit("1996-03-01"))
        & (F.col("l_shipdate") < F.lit("1996-04-01"))
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    joined = li.inner_join(t["part"].rename(l_partkey="p_partkey"), by="l_partkey")
    return (
        joined.summarize(
            promo_revenue=prnd(
                F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(0.0)), 2
            ),
            total_revenue=prnd(F.sum(rev), 2),
            promo_share=prnd(
                F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(0.0))
                / F.sum(rev),
                6,
            ),
        )
        .df
    )


def q18_big_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q18-flavored large-volume orders: orders whose total
    quantity exceeds 300, with the customer attached. The quantity
    rollup partial-aggregates before its shuffle; the survivor set is
    tiny, so both dimension joins broadcast."""
    t = _t(spark, sf_dir, "customer", "orders", "lineitem")
    big = (
        t["lineitem"]
        .df.groupBy(F.col("l_orderkey").alias("o_orderkey"))
        .agg(F.sum("l_quantity").cast("long").alias("total_qty"))
        .filter(F.col("total_qty") > 300)
    )
    o = t["orders"].df
    c = t["customer"].df
    return (
        big.join(o, "o_orderkey")
        .join(c, o.o_custkey == c.c_custkey)
        .select(
            "o_orderkey",
            "o_custkey",
            "c_name",
            "o_orderdate",
            prnd(F.col("o_totalprice"), 2).alias("o_totalprice"),
            "total_qty",
        )
    )


def q7_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q7-flavored cross-nation trade volume: revenue by
    (supplier nation, customer nation, ship year) for trades where the
    two nations differ. The two nation legs broadcast (25 rows); the
    order/customer joins shuffle on their keys; revenue partial-aggs
    before the final group shuffle."""
    t = _t(spark, sf_dir, "supplier", "nation", "customer", "orders", "lineitem")
    n1 = t["nation"].df.select(
        F.col("n_nationkey").alias("s_nationkey"),
        F.col("n_name").alias("supp_nation"),
    )
    n2 = t["nation"].df.select(
        F.col("n_nationkey").alias("c_nationkey"),
        F.col("n_name").alias("cust_nation"),
    )
    j = (
        t["lineitem"].df
        .join(
            F.broadcast(t["supplier"].df.select("s_suppkey", "s_nationkey")),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .join(
            t["orders"].df.select("o_orderkey", "o_custkey"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(
            t["customer"].df.select("c_custkey", "c_nationkey"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(F.broadcast(n1), "s_nationkey")
        .join(F.broadcast(n2), "c_nationkey")
        .filter(F.col("supp_nation") != F.col("cust_nation"))
    )
    # cent-exact integer summation: per-line round then sum, so the
    # result is independent of float accumulation order (engine-portable)
    cents = F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100 + F.lit(0.5)
    ).cast("long")
    return j.groupBy(
        "supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year")
    ).agg(prnd(F.sum(cents) / 100.0, 2).alias("revenue"))


def q13_order_count_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q13-flavored customer order-count distribution: how many
    customers placed exactly k orders (k=0 via the left join). Two
    partial-aggregated shuffles; the second runs over at most
    max-orders-per-customer rows."""
    t = _t(spark, sf_dir, "customer", "orders")
    per_cust = (
        t["customer"].df.select("c_custkey")
        .join(
            t["orders"].df.select(
                F.col("o_custkey").alias("c_custkey"), "o_orderkey"
            ),
            "c_custkey",
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").cast("long").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(
        F.count(F.lit(1)).cast("long").alias("custdist")
    )


def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q15-flavored top supplier: revenue per supplier over one
    quarter, returning the max-revenue supplier(s). The max comes from a
    one-row aggregate broadcast back onto the per-supplier rollup — no
    window over the full rollup and no second scan of lineitem. Revenue
    is compared on cent-exact integers (floats only leave as display)."""
    t = _t(spark, sf_dir, "supplier", "lineitem")
    cents = F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100 + F.lit(0.5)
    ).cast("long")
    rev = (
        t["lineitem"].df
        .filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01"))
            & (F.col("l_shipdate") < F.lit("1996-04-01"))
        )
        .groupBy(F.col("l_suppkey").alias("s_suppkey"))
        .agg(F.sum(cents).alias("_cents"))
    )
    top = rev.agg(F.max("_cents").alias("_top"))
    return (
        rev.join(F.broadcast(top), F.col("_cents") == F.col("_top"))
        .join(t["supplier"].df.select("s_suppkey", "s_name"), "s_suppkey")
        .select(
            "s_suppkey",
            "s_name",
            prnd(F.col("_cents") / 100.0, 2).alias("total_revenue"),
        )
    )


def q19_discounted_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q19-flavored disjunctive predicate revenue: three
    brand/size/quantity windows OR'd together (adapted to this schema's
    columns — no container attribute). The part dimension broadcasts;
    the disjunction stays inside whole-stage codegen on the joined
    scan; output is a single row."""
    t = _t(spark, sf_dir, "part", "lineitem")
    j = t["lineitem"].df.join(
        F.broadcast(t["part"].df.select("p_partkey", "p_brand", "p_size")),
        F.col("l_partkey") == F.col("p_partkey"),
    )
    q = F.col("l_quantity")
    cond = (
        ((F.col("p_brand") == "Brand#12") & F.col("p_size").between(1, 5) & q.between(1, 11))
        | ((F.col("p_brand") == "Brand#23") & F.col("p_size").between(1, 10) & q.between(10, 20))
        | ((F.col("p_brand") == "Brand#34") & F.col("p_size").between(1, 15) & q.between(20, 30))
    )
    # cents-exact accumulation (the q7/q15/q22 pattern): float sums are
    # order-sensitive at the half-cent rounding boundary, so Spark vs
    # DuckDB accumulation order could flip the differential hash
    rev_cents = F.sum(
        F.floor(
            F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
            + F.lit(0.5)
        ).cast("long")
    )
    return j.filter(cond).agg(
        prnd(rev_cents.cast("bigint") / 100.0, 2).alias("revenue"),
        F.count(F.lit(1)).cast("long").alias("n_lines"),
    )


def zipf_corpus_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law vocabulary fit (operators/quality.py zipf_fit): OLS
    slope/R2 of ln(freq) on ln(rank) over the top-300 tokens - the
    corpus-health signal for generated/boilerplate drift."""
    from datamancer_spark.operators.quality import zipf_fit

    doc = _t(spark, sf_dir, "documents")["documents"].df
    return zipf_fit(doc, top_k=300)


def q22_dormant_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q22-flavored sales-opportunity scan (adapted: no phone
    country codes in this schema): customers with above-average positive
    account balance and NO order since 2001-01-01, counted per market
    segment with their aggregate balance. The average is a one-row
    aggregate broadcast into the filter; recent purchasers leave via a
    left anti join on the distinct recent-customer set."""
    t = _t(spark, sf_dir, "customer", "orders")
    c = t["customer"].df
    avg_bal = c.filter(F.col("c_acctbal") > 0).agg(
        F.avg("c_acctbal").alias("_avg")
    )
    recent = (
        t["orders"].df
        .filter(F.col("o_orderdate") >= F.lit("2001-01-01"))
        .select(F.col("o_custkey").alias("c_custkey"))
        .distinct()
    )
    return (
        c.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("_avg"))
        .join(recent, "c_custkey", "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).cast("long").alias("numcust"),
            prnd(
                F.sum(F.floor(F.col("c_acctbal") * 100 + F.lit(0.5)).cast("long"))
                / 100.0,
                2,
            ).alias("totacctbal"),
        )
    )


# ---------------------------------------------------------------------------
# Row verbs (SURVEY §2.2-2.3)
# ---------------------------------------------------------------------------


def filter_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """filter + select + rename-during-select (dataframe.nim:1403-1443)."""
    li = _t(spark, sf_dir, "lineitem")["lineitem"]
    return (
        li.filter((F.col("l_quantity") > 45) & (F.col("l_returnflag") == "R"))
        .select(
            "l_orderkey",
            "l_linenumber",
            F.col("l_quantity").alias("qty"),
            F.col("l_extendedprice").alias("price"),
        )
        .df
    )


def mutate_arith(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mutate: arithmetic + conditional formula (dataframe.nim:1674-1775;
    if/else formulas formula.nim:1073-1078)."""
    li = _t(spark, sf_dir, "lineitem")["lineitem"]
    return (
        li.mutate(
            disc_price=prnd(F.col("l_extendedprice") * (1 - F.col("l_discount")), 2),
            charge=prnd(
                F.col("l_extendedprice")
                * (1 - F.col("l_discount"))
                * (1 + F.col("l_tax")),
                2,
            ),
            heavy=F.when(F.col("l_quantity") > 25, F.lit("Y")).otherwise(F.lit("N")),
        )
        .select("l_orderkey", "l_linenumber", "disc_price", "charge", "heavy")
        .df
    )


def transmute_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    """transmute with the math-function surface (SURVEY §2.10: abs, ln,
    exp, sqrt, pow, round)."""
    li = _t(spark, sf_dir, "lineitem")["lineitem"]
    return (
        li.transmute(
            l_orderkey=F.col("l_orderkey"),
            l_linenumber=F.col("l_linenumber"),
            log_price=prnd(F.log(F.col("l_extendedprice")), 4),
            sqrt_qty=prnd(F.sqrt(F.col("l_quantity")), 4),
            qty_sq=prnd(F.pow(F.col("l_quantity"), F.lit(2)), 2),
            abs_margin=prnd(F.abs(F.col("l_discount") - F.col("l_tax")), 4),
        )
        .df
    )


def string_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String expression surface (SURVEY §2.10: & concat, $ to-string,
    plus case/substring/length natives)."""
    c = _t(spark, sf_dir, "customer")["customer"]
    return (
        c.transmute(
            c_custkey=F.col("c_custkey"),
            label=F.concat(
                F.upper(F.col("c_mktsegment")), F.lit("#"), F.col("c_custkey").cast("string")
            ),
            name_len=F.length(F.col("c_name")),
            seg3=F.substring(F.col("c_mktsegment"), 1, 3),
            bal_str=F.concat(F.lit("$"), prnd(F.col("c_acctbal"), 2).cast("string")),
        )
        .df
    )


def masked_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """masked assign df[cond, col] = val (dataframe.nim:344-370)."""
    ev = _t(spark, sf_dir, "events")["events"]
    return (
        ev.masked_assign("value", F.col("event_type") == "error", 0.0)
        .select("event_id", "event_type", "value")
        .df
    )


def arrange_head(spark: SparkSession, sf_dir: str) -> DataFrame:
    """arrange multi-key + head (dataframe.nim:1604-1657, 2197)."""
    o = _t(spark, sf_dir, "orders")["orders"]
    return (
        o.arrange(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .head(50)
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .df
    )


def tail_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """tail under explicit order (dataframe.nim:2197-2203)."""
    o = _t(spark, sf_dir, "orders")["orders"]
    return (
        o.select("o_orderkey", "o_totalprice")
        .tail(20, order_by=["o_orderkey"])
        .df
    )


def slice_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """positional slice df[a..b] under explicit order
    (dataframe.nim:211-221)."""
    ev = _t(spark, sf_dir, "events")["events"]
    return (
        ev.select("event_id", "user_id", "value")
        .slice_rows(100, 149, order_by=["event_id"])
        .df
    )


def unique_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first-occurrence unique on a key subset (dataframe.nim:2370-2422:
    keeps first; we make 'first' explicit via order_by)."""
    o = _t(spark, sf_dir, "orders")["orders"]
    return (
        o.unique("o_custkey", order_by=["o_orderdate", "o_orderkey"])
        .select("o_custkey", "o_orderkey", "o_orderdate")
        .df
    )


def distinct_proj(spark: SparkSession, sf_dir: str) -> DataFrame:
    """unique over full projection (dataframe.nim:2347-2368)."""
    c = _t(spark, sf_dir, "customer")["customer"]
    return c.select("c_mktsegment", "c_nationkey").unique().df


# ---------------------------------------------------------------------------
# Grouping / aggregation (SURVEY §2.5)
# ---------------------------------------------------------------------------


def count_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """count(df, cols, name) (dataframe.nim:2103-2138)."""
    ev = _t(spark, sf_dir, "events")["events"]
    return ev.count("event_type", name="n").df


def summarize_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """the reducing-formula agg surface: mean/sum/min/max/var/stddev
    (testDf.nim:1211-1279)."""
    li = _t(spark, sf_dir, "lineitem")["lineitem"]
    return (
        li.group_by("l_returnflag")
        .summarize(
            mean_qty=prnd(F.mean("l_quantity"), 4),
            sum_qty=prnd(F.sum("l_quantity"), 2),
            min_qty=F.min("l_quantity"),
            max_qty=F.max("l_quantity"),
            var_qty=prnd(F.var_samp("l_quantity"), 4),
            sd_qty=prnd(F.stddev_samp("l_quantity"), 4),
        )
        .df
    )


def grouped_mutate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """grouped mutate with whole-group reduction broadcast
    (dataframe.nim:1674-1775 fkScalar; our window lifting)."""
    li = _t(spark, sf_dir, "lineitem")["lineitem"]
    return (
        li.group_by("l_returnflag")
        .mutate(grp_avg_qty=prnd(F.avg("l_quantity"), 4))
        .ungroup()
        .filter(F.col("l_quantity") > F.col("grp_avg_qty") * 1.8)
        .select("l_orderkey", "l_linenumber", "l_returnflag", "l_quantity", "grp_avg_qty")
        .df
    )


def grouped_mutate_150k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's ONLY published perf anchor is a grouped
    mutate/transmute over ~150k groups in <0.5 s single-threaded
    (changelog.org:481; BASELINE.md). This query reproduces that shape
    at sf0.1: lineitem grouped by l_orderkey is ~150k groups (~600k
    rows), each row extended with its group's total and its share of
    it. The fkScalar rewrite is a WINDOW aggregate over the group key
    (r7): one shuffle+sort and no join — 0.41s best-of-5, beating the
    reference's <0.5s claim, and the shape that survives 150M groups
    (where a join-back degenerates to a two-sided sort-merge join).
    The share is the documented two-step form: pure reduction first,
    then a row-level mutate referencing it."""
    li = _t(spark, sf_dir, "lineitem")["lineitem"]
    return (
        li.group_by("l_orderkey")
        .mutate(order_qty_total=F.sum("l_quantity"))
        .ungroup()
        .mutate(
            order_qty=F.col("order_qty_total").cast("long"),
            qty_share=prnd(F.col("l_quantity") / F.col("order_qty_total"), 6),
        )
        .select("l_orderkey", "l_linenumber", "l_quantity", "order_qty", "qty_share")
        .df
    )


def grouped_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """grouped filter with reducing predicate — keeps/drops whole groups
    (dataframe.nim:1360-1385 reducing << case)."""
    o = _t(spark, sf_dir, "orders")["orders"]
    return (
        o.group_by("o_custkey")
        .filter(F.count(F.lit(1)) >= 15)
        .ungroup()
        .select("o_custkey", "o_orderkey", "o_totalprice")
        .df
    )


def rollup_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rollup subtotals (beyond-reference grouping sets, SURVEY §2.5)."""
    o = _t(spark, sf_dir, "orders")["orders"]
    return o.rollup(
        "o_orderstatus",
        "o_orderpriority",
        n=F.count(F.lit(1)),
        total=prnd(F.sum("o_totalprice"), 2),
    ).df


def cube_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """cube over two dims (beyond-reference)."""
    ev = _t(spark, sf_dir, "events")["events"]
    return ev.cube(
        "event_type",
        "user_id",
        n=F.count(F.lit(1)),
        avg_value=prnd(F.avg("value"), 4),
    ).df


# ---------------------------------------------------------------------------
# Joins (SURVEY §2.4) + sets (§2.6)
# ---------------------------------------------------------------------------


def inner_join_rename(spark: SparkSession, sf_dir: str) -> DataFrame:
    """single-key equi inner join (dataframe.nim:1885-1992)."""
    t = _t(spark, sf_dir, "orders", "customer")
    return (
        t["orders"]
        .rename(c_custkey="o_custkey")
        .inner_join(t["customer"], by="c_custkey", broadcast_right=True)
        .select("o_orderkey", "c_custkey", "c_name", "o_totalprice", "c_acctbal")
        .df
    )


def left_join_coalesce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """left join + null fill (beyond-reference join type; fill_null maps
    drop_null family, dataframe.nim:2424-2465)."""
    t = _t(spark, sf_dir, "customer", "orders")
    per_cust = (
        t["orders"]
        .group_by("o_custkey")
        .summarize(n_orders=F.count(F.lit(1)), spend=prnd(F.sum("o_totalprice"), 2))
    )
    return (
        t["customer"]
        .rename(o_custkey="c_custkey")
        .left_join(per_cust, by="o_custkey")
        .fill_null(0, "n_orders")
        .fill_null(0.0, "spend")
        .select(
            F.col("o_custkey").alias("c_custkey"), "c_name", "n_orders", "spend"
        )
        .df
    )


def semi_join_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """semi join (beyond-reference; Spark-native left_semi)."""
    t = _t(spark, sf_dir, "customer", "orders")
    big = t["orders"].filter(F.col("o_totalprice") > 400000).rename(
        c_custkey="o_custkey"
    )
    return (
        t["customer"].semi_join(big, by="c_custkey").select("c_custkey", "c_name").df
    )


def anti_join_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """anti join: customers with no orders (beyond-reference)."""
    t = _t(spark, sf_dir, "customer", "orders")
    return (
        t["customer"]
        .anti_join(t["orders"].rename(c_custkey="o_custkey"), by="c_custkey")
        .select("c_custkey", "c_name")
        .df
    )


def bind_rows_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """bind_rows: column union, null fill, provenance id
    (dataframe.nim:926-1040)."""
    t = _t(spark, sf_dir, "customer", "supplier")
    c = t["customer"].transmute(
        id=F.col("c_custkey"), name=F.col("c_name"), bal=F.col("c_acctbal")
    )
    s = t["supplier"].transmute(
        id=F.col("s_suppkey"),
        name=F.col("s_name"),
        nationkey=F.col("s_nationkey").cast("int"),
    )
    return c.bind_rows(s, id="src").df


def set_diff_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """setDiff multiset semantics (dataframe.nim:2140-2195 → exceptAll)."""
    o = _t(spark, sf_dir, "orders")["orders"]
    all_rows = o.select("o_orderkey", "o_orderstatus", "o_totalprice")
    finished = all_rows.filter(F.col("o_orderstatus") == "F")
    return all_rows.set_diff(finished).df


def intersect_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """intersect (absent in reference, SURVEY §2.6 — Spark native)."""
    o = _t(spark, sf_dir, "orders")["orders"]
    a = o.filter(F.col("o_totalprice") > 100000).select("o_custkey").unique()
    b = o.filter(F.col("o_orderstatus") == "O").select("o_custkey").unique()
    return a.intersect_rows(b).df


# ---------------------------------------------------------------------------
# Reshaping (SURVEY §2.7) + windows (§2.9)
# ---------------------------------------------------------------------------


def gather_melt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gather wide→long (dataframe.nim:2205-2259 → unpivot)."""
    li = _t(spark, sf_dir, "lineitem")["lineitem"]
    return (
        li.select("l_orderkey", "l_linenumber", "l_quantity", "l_discount", "l_tax")
        .gather(["l_quantity", "l_discount", "l_tax"], key="measure", value="val")
        .df
    )


def spread_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """spread long→wide (dataframe.nim:2261-2345 → pivot). Pivot values
    passed explicitly: skips Spark's distinct-collect pre-job (the
    scale-correct form when categories are known)."""
    ev = _t(spark, sf_dir, "events")["events"]
    out = (
        ev.df.groupBy("user_id")
        .pivot("event_type", ["click", "error", "purchase", "signup", "view"])
        .agg(prnd(F.avg("value"), 4))
        .fillna(0.0)
    )
    return out


def lag_lead_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag/lead per user over event time (column.nim:1177-1213), keyed
    windows so the shuffle partitions by user, never one global sort."""
    ev = _t(spark, sf_dir, "events")["events"]
    return (
        ev.group_by("user_id")
        .lag("value", 1, order_by=["ts", "event_id"], out="prev_value")
        .lead("value", 1, order_by=["ts", "event_id"], out="next_value")
        .ungroup()
        .select("event_id", "user_id", "value", "prev_value", "next_value")
        .df
    )


def window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ranking windows (beyond lag/lead — absent in reference §2.9)."""
    o = _t(spark, sf_dir, "orders")["orders"]
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        o.mutate(rn=F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
        .df
    )


# ---------------------------------------------------------------------------
# Time-series: as-of join, time buckets (beyond-reference operators)
# ---------------------------------------------------------------------------


def asof_signup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward as-of join (absent from reference AND Spark natives —
    composed per operators/asof.py): each purchase event picks up the
    value of the user's latest signup event at-or-before its timestamp."""
    from datamancer_spark.operators.asof import asof_join

    ev = _t(spark, sf_dir, "events")["events"].df
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    signups = ev.filter(F.col("event_type") == "signup").select(
        "user_id", "ts", F.col("value").alias("signup_value")
    )
    return asof_join(purchases, signups, on="ts", by=["user_id"]).withColumnRenamed(
        "signup_value_right", "signup_value"
    )


def events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour aggregation in batch (the streaming rollup shape,
    SURVEY §2.12 scope extension)."""
    ev = _t(spark, sf_dir, "events")["events"]
    return (
        ev.mutate(bucket=F.date_trunc("hour", F.col("ts")))
        .group_by("bucket", "event_type")
        .summarize(n=F.count(F.lit(1)), total=prnd(F.sum("value"), 2))
        .df
    )


def quantiles_by_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentiles (beyond-reference agg surface; Spark percentile
    and DuckDB quantile_cont share linear interpolation). One
    array-argument percentile aggregate instead of three scalar ones:
    the per-group value buffer is built once, not three times."""
    li = _t(spark, sf_dir, "lineitem")["lineitem"]
    ps = F.percentile(
        F.col("l_extendedprice"), F.array(F.lit(0.5), F.lit(0.9), F.lit(0.99))
    )
    return (
        li.group_by("l_returnflag")
        .summarize(_ps=ps)
        .transmute(
            l_returnflag=F.col("l_returnflag"),
            p50=prnd(F.col("_ps")[0], 4),
            p90=prnd(F.col("_ps")[1], 4),
            p99=prnd(F.col("_ps")[2], 4),
        )
        .df
    )


def json_extract_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON field extraction over the events.props column (array/map/json
    surface — absent from the reference, SURVEY §2.12)."""
    ev = _t(spark, sf_dir, "events")["events"]
    return (
        ev.transmute(
            event_id=F.col("event_id"),
            k=F.get_json_object(F.col("props"), "$.k").cast("long"),
        )
        .df
    )


def date_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/time function surface (absent from the reference — dates are
    strings/ints there, SURVEY §1.2)."""
    o = _t(spark, sf_dir, "orders")["orders"]
    return (
        o.transmute(
            o_orderkey=F.col("o_orderkey"),
            yr=F.year("o_orderdate"),
            mo=F.month("o_orderdate"),
            dy=F.dayofmonth("o_orderdate"),
            plus30=F.date_add(F.col("o_orderdate").cast("date"), 30),
        )
        .df
    )


def regex_extract_doc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex extraction surface over documents."""
    doc = _t(spark, sf_dir, "documents")["documents"]
    return (
        doc.transmute(
            doc_id=F.col("doc_id"),
            first_word=F.regexp_extract(F.col("text"), r"^(\w+)", 1),
            has_spark=F.when(F.col("text").rlike("spark"), 1).otherwise(0),
        )
        .df
    )


def grouped_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map Pandas UDF (applyInPandas) computing per-group
    z-scores — the arbitrary-per-group-logic escape hatch, differentially
    checked against a pure-SQL window formulation (proves the Python path
    is numerically exact, ddof=1 both sides)."""
    import pandas as pd

    ev = _t(spark, sf_dir, "events")["events"]

    def zscore(pdf: pd.DataFrame) -> pd.DataFrame:
        v = pdf["value"]
        sd = v.std(ddof=1)
        mean = v.mean()
        z = (v - mean) / sd if sd and sd == sd else v * 0.0
        out = pd.DataFrame(
            {
                "event_id": pdf["event_id"],
                "event_type": pdf["event_type"],
                "z": __import__("numpy").floor(z * 1e4 + 0.5) / 1e4,
            }
        )
        return out

    return (
        ev.group_by("event_type")
        .apply_by_group(zscore, "event_id long, event_type string, z double")
        .df
    )


def argmax_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """arg-max aggregation (max_by / DuckDB arg_max): each user's
    highest-value event."""
    ev = _t(spark, sf_dir, "events")["events"]
    return (
        ev.group_by("user_id")
        .summarize(
            # struct ordering = (value, event_id) so max-value ties break
            # deterministically on event_id in both engines
            best_event=F.max_by("event_id", F.struct(F.col("value"), F.col("event_id"))),
            best_value=F.max("value"),
        )
        .df
    )


def approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate distinct-count sketch (HLL++), made driver-checkable:
    raw HLL estimates differ across engines by construction, so the query
    emits the accuracy CONTRACT instead — per-flag booleans asserting the
    estimate lands within 5% of the exact count (computed in the same
    aggregation). The oracle emits the same shape with TRUE constants; a
    value-hash match therefore proves the sketch met its error bound.
    Raw-estimate accuracy is additionally pinned in
    tests/test_scale_ops.py."""
    li = _t(spark, sf_dir, "lineitem")["lineitem"]
    parts_exact = F.count_distinct(F.col("l_partkey"))
    orders_exact = F.count_distinct(F.col("l_orderkey"))
    # rsd=0.01: measured max error 0.9% across sf0.001-0.1 — the default
    # rsd (0.05) breached the 5% contract on one flag at sf0.01
    return (
        li.group_by("l_returnflag")
        .summarize(
            parts_ok=(
                F.abs(F.approx_count_distinct("l_partkey", 0.01) - parts_exact)
                <= 0.05 * parts_exact
            ),
            orders_ok=(
                F.abs(F.approx_count_distinct("l_orderkey", 0.01) - orders_exact)
                <= 0.05 * orders_exact
            ),
        )
        .df
    )


def rolling_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling window with an explicit frame spec (rows between 2
    preceding and current) — beyond-reference (§2.9: no frame specs)."""
    ev = _t(spark, sf_dir, "events")["events"]
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-2, Window.currentRow)
    )
    return (
        ev.mutate(roll_avg=prnd(F.avg("value").over(w), 4))
        .select("event_id", "user_id", "value", "roll_avg")
        .df
    )


def window_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution window functions: ntile / percent_rank / cume_dist."""
    o = _t(spark, sf_dir, "orders")["orders"]
    w = Window.partitionBy("o_orderstatus").orderBy(
        F.col("o_totalprice").asc(), F.col("o_orderkey").asc()
    )
    return (
        o.mutate(
            quartile=F.ntile(4).over(w),
            pr=prnd(F.percent_rank().over(w), 6),
            cd=prnd(F.cume_dist().over(w), 6),
        )
        .select("o_orderkey", "o_orderstatus", "o_totalprice", "quartile", "pr", "cd")
        .df
    )


def array_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array function surface over embeddings (element access, slicing,
    size — absent from the reference, SURVEY §2.12)."""
    emb = _t(spark, sf_dir, "embeddings")["embeddings"]
    return (
        emb.transmute(
            vec_id=F.col("vec_id"),
            dim=F.size("embedding"),
            first_v=prnd(F.element_at("embedding", 1).cast("double"), 6),
            last_v=prnd(F.element_at("embedding", -1).cast("double"), 6),
            head_sum=prnd(
                F.aggregate(
                    F.slice("embedding", 1, 8),
                    F.lit(0.0),
                    lambda acc, x: acc + x.cast("double"),
                ),
                6,
            ),
        )
        .df
    )


def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based batch sessionization (two stacked windows, one shuffle —
    operators/sessions.py). Bit-stable
    cross-engine: microsecond gap precision, event_id tie-break in the
    window order, and total_value summed as integer cents (float-sum
    addend order differs between Spark partial aggregation and DuckDB)."""
    from datamancer_spark.operators.sessions import session_stats

    ev = _t(spark, sf_dir, "events")["events"].df
    out = session_stats(
        ev, "ts", ["user_id"], gap_seconds=1800, value_col="value",
        order_by=["event_id"], exact_cents=True,
    )
    return out.select(
        "user_id",
        "session_idx",
        "session_start",
        "session_end",
        "n_events",
        "total_value",
    )


# ---------------------------------------------------------------------------
# Text analysis (north star)
# ---------------------------------------------------------------------------


def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    doc = _t(spark, sf_dir, "documents")["documents"].spread_partitions()
    txt = F.col("text")
    return (
        doc.transmute(
            doc_id=F.col("doc_id"),
            n_tokens=T.token_count(txt),
            n_bpe=T.bpe_token_count(txt),
            n_chars_m=T.char_count(txt),
            n_punct=T.punct_count(txt),
            awl=prnd(T.avg_word_length(txt), 4),
        )
        .df
    )


def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    doc = _t(spark, sf_dir, "documents")["documents"].spread_partitions()
    return (
        doc.transmute(
            doc_id=F.col("doc_id"),
            quality=prnd(T.quality_score(F.col("text")), 4),
        )
        .df
    )


def script_mix_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode script profiling under the driver gate (r12,
    functions/text.py script_counts / dominant_script — the
    writing-system routing key a multilingual pipeline partitions by,
    upstream of the marker-based lang heuristics which only work on
    space-delimited Latin scripts). Non-Latin text is mixed in in-plan
    by doc_id arithmetic (Han / Cyrillic / Katakana suffixes), and the
    twin re-computes the SAME length-difference counting over the same
    explicit code-point ranges in RE2 — a genuine cross-engine
    differential of the regex character classes themselves."""
    from datamancer_spark.functions.text import (
        dominant_script,
        script_counts,
    )

    doc = _t(spark, sf_dir, "documents")["documents"].df
    i = F.col("doc_id")
    mixed = F.concat(
        F.coalesce(F.col("text"), F.lit("")),
        F.when(i % 4 == 0, F.lit(" \u4e2d\u6587\u5b57"))
        .when(i % 4 == 1, F.lit(" \u043a\u0438\u0440\u0438\u043b"))
        .when(i % 4 == 2, F.lit(" \u30ab\u30ca"))
        .otherwise(F.lit("")),
    )
    page = doc.select("doc_id", mixed.alias("text"))
    counts = script_counts(F.col("text"))
    return page.select(
        "doc_id",
        counts["latin"].alias("n_latin"),
        counts["han"].alias("n_han"),
        counts["kana"].alias("n_kana"),
        counts["cyrillic"].alias("n_cyrillic"),
        dominant_script(F.col("text")).alias("dominant"),
    )


def pii_redact_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction under the driver gate (r12 addition,
    operators/scrub.py redact_pii — previously pytest-only because the
    synthetic corpus carries no PII). Synthetic PII is injected in-plan
    by doc_id arithmetic (every doc gets an email; phone / SSN / IPv4 /
    CCN spans land on doc_id mod classes), then the production redactor
    runs: k regexp_count + k chained regexp_replace in dict order, all
    codegen'd next to the scan — zero shuffles, zero Python. The twin
    re-runs the SAME RE2-safe patterns as a chained count-then-replace
    CTE ladder in DuckDB (RE2) — a genuine cross-engine differential of
    the redaction regexes themselves, md5-pinning the redacted text so
    every replaced byte is checked, not just the counts."""
    from datamancer_spark.operators.scrub import redact_pii

    doc = _t(spark, sf_dir, "documents")["documents"].df
    i = F.col("doc_id")
    pad4 = F.lpad((i % 10000).cast("string"), 4, "0")
    injected = F.concat(
        F.coalesce(F.col("text"), F.lit("")),
        F.lit(" contact user"), i.cast("string"), F.lit("@example.com"),
        F.when(i % 3 == 0, F.concat(F.lit(" call 415-555-"), pad4))
        .otherwise(F.lit("")),
        F.when(i % 5 == 0, F.concat(F.lit(" ssn 123-45-"), pad4))
        .otherwise(F.lit("")),
        F.when(
            i % 7 == 0,
            F.concat(
                F.lit(" from 10.0."),
                (i % 256).cast("string"),
                F.lit("."),
                ((i * 7) % 256).cast("string"),
            ),
        ).otherwise(F.lit("")),
        F.when(i % 11 == 0, F.lit(" card 4111 1111 1111 1111"))
        .otherwise(F.lit("")),
    )
    page = doc.select("doc_id", injected.alias("text"))
    red = redact_pii(page, text_col="text")
    return red.select(
        "doc_id",
        "n_email",
        "n_ssn",
        "n_ccn",
        "n_ipv4",
        "n_phone",
        F.md5(F.col("text")).alias("red_md5"),
    )


def dsir_select_en(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR data selection under the driver gate (r12 addition,
    operators/quality.py dsir_importance_weights + dsir_resample —
    hashed-ngram importance resampling per Xie et al. 2023, the
    standard pretraining-data selection step). Target distribution =
    the corpus's lang='en' slice; features = md5-bucketed unigrams +
    bigrams (256 buckets); selection = Gumbel-top-100 on the EXACT
    integer key (per-bucket log-ratios half-up rounded to 1e-6 once,
    then pure BIGINT sums — engine-portable ordering, doc_id breaks
    ties). The twin recomputes the identical chain in DuckDB: same
    md5 buckets, same add-1 smoothing, same micro-integer rounding,
    same Gumbel inverse-CDF — a genuine cross-engine differential of
    the whole selection pipeline including ln()."""
    from datamancer_spark.operators.quality import (
        dsir_importance_weights,
        dsir_resample,
    )

    doc = _t(spark, sf_dir, "documents")["documents"].df
    w = dsir_importance_weights(
        doc.withColumn("_tgt", F.col("lang") == "en"),
        target_col="_tgt",
        n_buckets=256,
    )
    sel = dsir_resample(w, k=100)
    return sel.select(
        "doc_id",
        "n_feats",
        "logw_micros",
        "dsir_logw",
        "sel",
    )


def domain_cap_registrable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registrable-domain (eTLD+1) capping under the driver gate (r12,
    operators/scrub.py registrable_domain + operators/sampling.py
    cap_per_key): subdomains of one registrant collapse to a single
    cap key (www0/www1/www2.bbc.co.uk → bbc.co.uk) while distinct
    registrants under a shared public suffix stay apart (a0.co.uk ≠
    a1.co.uk) — the per-domain budget step that stops one over-crawled
    registrant from dominating a 100 TB mixture. The host fixture is
    doc_id arithmetic spanning the tricky shapes: multi-label public
    suffixes, plain .com, deeper subdomain chains on .com.au, IPv4
    literals and single-label hosts. The twin re-derives eTLD+1 with
    the same label slicing + suffix membership and the same portable
    md5 cap order."""
    from datamancer_spark.operators.sampling import cap_per_key
    from datamancer_spark.operators.scrub import registrable_domain

    doc = _t(spark, sf_dir, "documents")["documents"].df
    i = F.col("doc_id")
    host = (
        F.when(i % 6 == 0, F.concat(F.lit("www"), (i % 3).cast("string"), F.lit(".bbc.co.uk")))
        .when(i % 6 == 1, F.concat(F.lit("news.site"), (i % 10).cast("string"), F.lit(".com")))
        .when(i % 6 == 2, F.concat(F.lit("a"), (i % 4).cast("string"), F.lit(".co.uk")))
        .when(i % 6 == 3, F.concat(F.lit("10.0."), (i % 9).cast("string"), F.lit(".1")))
        .when(i % 6 == 4, F.lit("localhost"))
        .otherwise(F.concat(F.lit("cdn.eu.shop"), (i % 5).cast("string"), F.lit(".com.au")))
    )
    pages = doc.select("doc_id", host.alias("host"))
    keyed = pages.withColumn(
        "reg_dom", registrable_domain(F.col("host"))
    )
    capped = cap_per_key(keyed, "reg_dom", 15, "doc_id", out="rnk")
    return capped.select(
        "doc_id",
        "host",
        "reg_dom",
        F.col("rnk").cast("long").alias("rnk"),
    )


def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    # scores materialized as columns first: each marker-count expression
    # evaluates once, instead of being re-expanded inside every CASE
    # branch of the argmax (same result, ~half the string work)
    doc = _t(spark, sf_dir, "documents")["documents"].spread_partitions()
    scored = doc.mutate(
        **{f"_s_{lang}": T.lang_score(F.col("text"), lang) for lang in T.LANG_MARKERS}
    )
    best = F.greatest(*[F.col(f"_s_{lang}") for lang in T.LANG_MARKERS])
    guess = F.lit("und")
    for lang in reversed(list(T.LANG_MARKERS)):
        guess = F.when((best > 0) & (F.col(f"_s_{lang}") == best), F.lit(lang)).otherwise(
            guess
        )
    return (
        scored.mutate(guess=guess)
        .transmute(
            doc_id=F.col("doc_id"),
            lang_label=F.col("lang"),
            guess=F.col("guess"),
        )
        .df
    )


def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    doc = _t(spark, sf_dir, "documents")["documents"]
    return doc.transmute(doc_id=F.col("doc_id"), fp=T.fingerprint(F.col("text"))).df


def sql_interface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL entry point (beyond-reference: the reference has no SQL
    parser, SURVEY §2.12; Spark gives it free): frames registered as
    views, query expressed in SQL with a correlated subquery."""
    t = _t(spark, sf_dir, "orders", "customer")
    t["orders"].as_view("v_orders")
    t["customer"].as_view("v_customer")
    return spark.sql(
        """
        SELECT c_mktsegment,
               count(*) AS n_big_spenders
        FROM v_customer c
        WHERE EXISTS (SELECT 1 FROM v_orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_totalprice > 300000)
        GROUP BY c_mktsegment
        """
    )


def pipeline_clean_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus cleaning composition: quality gate → exact-dedup
    keepers → per-language stats. The shape of a real training-data prep
    job, exercised as ONE Catalyst plan (filter pushdown through the
    dedup semi-join; single shuffle per rendezvous)."""
    doc = _t(spark, sf_dir, "documents")["documents"].spread_partitions()
    quality = doc.mutate(q=T.quality_score(F.col("text"))).filter(F.col("q") >= 0.75)
    keepers = DamFrame(
        D.exact_dedup(quality.df).select(F.col("keep_id").alias("doc_id"))
    )
    cleaned = quality.semi_join(keepers, by="doc_id")
    return (
        cleaned.group_by("lang")
        .summarize(
            n_docs=F.count(F.lit(1)).cast("long"),
            avg_tokens=prnd(F.avg(T.token_count(F.col("text"))), 4),
            total_chars=F.sum("n_chars").cast("long"),
        )
        .df
    )


# ---------------------------------------------------------------------------
# Dedup + similarity (north star)
# ---------------------------------------------------------------------------


def train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-based 80/10/10 split over documents — split
    sizes + per-split char checksums (operators/sampling.py; stable
    across engines/partitionings, unlike rand-based splits)."""
    from datamancer_spark.operators.sampling import hash_split

    doc = _t(spark, sf_dir, "documents")["documents"].df
    labeled = hash_split(doc, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1})
    # explicit long casts: DuckDB sums INTEGER/BIGINT into HUGEINT —
    # canonicalize both engines' outputs to 64-bit
    return labeled.groupBy("split").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("n_chars").cast("long").alias("total_chars"),
    )


def stratified_sample_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-stratum sampling (hash-threshold sampleBy):
    50% of clicks, 100% of purchases, 10% of everything else."""
    from datamancer_spark.operators.sampling import stratified_sample

    ev = _t(spark, sf_dir, "events")["events"].df
    kept = stratified_sample(
        ev, "event_type", {"click": 0.5, "purchase": 1.0}, "event_id",
        default_fraction=0.1,
    )
    return kept.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"), prnd(F.sum("value"), 2).alias("total")
    )


def winsorize_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-flag winsorization of extended price at [p05, p95]
    (operators/sampling.winsorize — exact window percentiles)."""
    from datamancer_spark.operators.sampling import winsorize

    li = _t(spark, sf_dir, "lineitem")["lineitem"].df
    clipped = winsorize(
        li, "l_extendedprice", keys=["l_returnflag"], lo_q=0.05, hi_q=0.95,
        out="clipped",
    )
    return clipped.groupBy("l_returnflag").agg(
        prnd(F.avg("clipped"), 4).alias("avg_clipped"),
        prnd(F.min("clipped"), 4).alias("min_clipped"),
        prnd(F.max("clipped"), 4).alias("max_clipped"),
    )


def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc top-3 TF-IDF terms (operators/tfidf.py — relational
    term scoring with broadcast idf join)."""
    from datamancer_spark.operators.tfidf import tfidf

    doc = _t(spark, sf_dir, "documents")["documents"]
    return tfidf(doc.df, top_k=3)


_BM25_QUERY_TERMS = ("vector", "stream", "window", "sort", "batch")


def bm25_search_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 relevance of a fixed query-term set against every
    document (operators/tfidf.py bm25). Both corpus scalars — N for the
    idf and avgdl for the length normalization — ride the plan as
    one-row broadcast crossJoins, so the whole operator is a single
    composable plan with no eager driver jobs."""
    from datamancer_spark.operators.tfidf import bm25

    doc = _t(spark, sf_dir, "documents")["documents"]
    return bm25(doc.df).filter(F.col("term").isin(*_BM25_QUERY_TERMS))


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    doc = _t(spark, sf_dir, "documents")["documents"]
    return D.exact_dedup(doc.df)


def dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    doc = _t(spark, sf_dir, "documents")["documents"]
    return D.minhash_lsh_pairs(doc.df, num_hashes=16, bands=4, shingle_n=3)


def dedup_minhash_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship near-dup operator: LSH candidates verified by exact
    Jaccard (operators/dedup.py minhash_dedup_verified)."""
    doc = _t(spark, sf_dir, "documents")["documents"]
    return D.minhash_dedup_verified(doc.df, threshold=0.5)


def dedup_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full near-dup removal: verified pairs → connected components →
    keep min id per cluster (operators/components.py). The distributed
    side is iterative pointer jumping; the oracle replicates the RESULT
    with a recursive-CTE transitive closure over the same verified
    pairs — value-level check despite the iterative engine."""
    from datamancer_spark.operators.components import dedup_keep_canonical

    doc = _t(spark, sf_dir, "documents")["documents"].df
    pairs = D.minhash_dedup_verified(doc, threshold=0.5)
    kept = dedup_keep_canonical(doc, pairs)
    return kept.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_kept"),
        F.sum("n_chars").cast("long").alias("chars_kept"),
    )


def dedup_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    doc = _t(spark, sf_dir, "documents")["documents"]
    return D.ngram_jaccard_pairs(doc.df, shingle_n=3, threshold=0.5)


def containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed n-gram containment join (r11, operators/dedup.py
    ngram_containment_pairs): the asymmetric companion to the Jaccard
    join — |sh(src) ∩ sh(dst)| / |sh(src)|, the quote/boilerplate/
    subset-page signal Jaccard's union denominator washes out. One
    inverted-index pair count serves both directions."""
    doc = _t(spark, sf_dir, "documents")["documents"]
    return D.ngram_containment_pairs(doc.df, shingle_n=3, threshold=0.2)


_CONTAIN_FOOTER = "shared legal footer all rights reserved worldwide"


def containment_guarded_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-shingle-GUARDED containment join (r12, VERDICT r11 #1:
    operators/dedup.py ngram_containment_pairs max_doc_freq). The same
    boilerplate footer is appended to EVERY document in-plan, giving
    its interior shingles df = |corpus| — exactly the quotes/template
    configuration where the unguarded posting self-join goes quadratic
    on real crawls. max_doc_freq prunes those postings BEFORE the pair
    join while denominators keep the UNPRUNED shingle-set sizes, so
    the guard's one-sided (underestimate-only) arithmetic is what the
    twin pins value-exactly: the oracle replicates the df computation,
    the pruning, and the unpruned sizes."""
    doc = _t(spark, sf_dir, "documents")["documents"].df
    page = doc.withColumn(
        "text",
        F.concat(
            F.coalesce(F.col("text"), F.lit("")),
            F.lit(" " + _CONTAIN_FOOTER),
        ),
    )
    return D.ngram_containment_pairs(
        page, shingle_n=3, threshold=0.2, max_doc_freq=50
    )


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    doc = _t(spark, sf_dir, "documents")["documents"]
    return D.simhash_pairs(doc.df, max_hamming=3, bands=4)


def dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")["embeddings"]
    return D.embedding_dedup_pairs(emb.df, threshold=0.35)


def dedup_embedding_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB-scale embedding near-dup path: hyperplane-LSH buckets →
    exact cosine verify within buckets only (operators/dedup.py
    embedding_dedup_bucketed). Full value oracle: the planes are
    md5-derived constants inlined into the DuckDB SQL, and multiprobe=1
    collision is exactly 'signature Hamming distance ≤ 2', expressible as
    bit_count(xor(bucket_a, bucket_b)) <= 2."""
    emb = _t(spark, sf_dir, "embeddings")["embeddings"]
    return D.embedding_dedup_bucketed(
        emb.df, threshold=0.35, num_planes=4, seed=42, multiprobe=1
    )


def knn_brute(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")["embeddings"].df
    queries_df = emb.filter(F.col("vec_id") < 10)
    return S.knn_bruteforce(emb, queries_df, k=5)


def knn_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")["embeddings"].df
    queries_df = emb.filter(F.col("vec_id") < 10)
    return S.knn_lsh(emb, queries_df, k=5, num_planes=4)


def ann_recall_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN recall evaluation under the driver gate (r12,
    operators/similarity.py ann_recall): the LSH tier's per-query
    recall@5 against exact brute-force ground truth — the number a
    production ANN rollout is judged by. Both tiers are themselves
    driver-proven (knn_brute, knn_lsh); this gate proves the EVAL:
    the twin recomputes brute and bucketed results wholesale (nested
    CTEs over the same md5-derived hyperplanes) and must agree on
    every per-query hit count — including queries whose bucket came
    back empty, which stay in the report at recall 0."""
    emb = _t(spark, sf_dir, "embeddings")["embeddings"].df
    queries_df = emb.filter(F.col("vec_id") < 10)
    brute = S.knn_bruteforce(emb, queries_df, k=5)
    approx = S.knn_lsh(emb, queries_df, k=5, num_planes=4)
    return S.ann_recall(brute, approx)


def split_dedup_aware(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-guarded train/test split under the driver gate (r12):
    rows are split by their CONTENT-CLUSTER key (the canonical text
    fingerprint), not by row id — so exact duplicates can never
    straddle train and test, the eval-contamination failure mode a
    row-keyed split silently commits at corpus scale. Pure
    composition: functions.text.fingerprint → sampling.hash_split on
    the fingerprint. The guard rides the output: n_split_variants is
    the per-fingerprint distinct-split count via one window — 1 for
    every row, by construction, in BOTH engines (the twin recomputes
    the fingerprint, the md5-bucket split and the window). For
    NEAR-dup-safe splits, feed connected-component cluster ids from
    the minhash pair tier as the key instead — the same seam."""
    from datamancer_spark.functions.text import fingerprint
    from datamancer_spark.operators.sampling import hash_split

    doc = _t(spark, sf_dir, "documents")["documents"].df
    keyed = doc.select(
        "doc_id", fingerprint(F.col("text")).alias("fp")
    )
    split = hash_split(keyed, "fp", {"train": 0.75, "test": 0.25})
    w = Window.partitionBy("fp")
    return split.select(
        "doc_id",
        "fp",
        "split",
        F.size(F.collect_set("split").over(w)).cast("long").alias(
            "n_split_variants"
        ),
    )


def split_neardup_aware(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAR-dup-aware train/test split under the driver gate (r12) —
    the strong form of the leakage guard: cluster ids come from
    connected components over the LSH-verified near-dup pair graph
    (J ≥ 0.5), so near-duplicates — not just byte-identical
    duplicates — can never straddle train and test. One composition:
    minhash_dedup_verified → connected_components (distributed pointer
    jumping) → hash_split on the cluster root; singleton docs cluster
    as themselves. The twin replays the pair graph + a recursive-CTE
    closure + the same md5-bucket split, and the per-cluster
    distinct-split guard rides the output in both engines."""
    from datamancer_spark.operators.components import (
        connected_components,
    )
    from datamancer_spark.operators.sampling import hash_split

    doc = _t(spark, sf_dir, "documents")["documents"].df
    pairs = D.minhash_dedup_verified(doc, threshold=0.5)
    cc = connected_components(pairs, src="id_a", dst="id_b")
    clustered = doc.select("doc_id").join(
        cc, doc.doc_id == cc.node, "left"
    ).select(
        "doc_id",
        F.coalesce(F.col("component"), F.col("doc_id"))
        .cast("long")
        .alias("cluster"),
    )
    split = hash_split(clustered, "cluster", {"train": 0.75, "test": 0.25})
    w = Window.partitionBy("cluster")
    return split.select(
        "doc_id",
        "cluster",
        "split",
        F.size(F.collect_set("split").over(w)).cast("long").alias(
            "n_split_variants"
        ),
    )


def jl_distortion_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JL random-projection distortion under the driver gate (r12,
    operators/similarity.py jl_project): every (query, candidate)
    cosine is computed in BOTH the full 64-d space and the 8-d
    projected space, with the absolute error alongside — the measured
    (not assumed) distortion that justifies running first-pass dedup /
    ANN shortlists on an 8× smaller sketch at 100 TB. The twin inlines
    the same md5-derived projection rows (the knn_lsh convention) and
    recomputes both cosines and the error — a projection-component
    slip, a normalization error or a matrix mismatch shifts every
    pair."""
    from datamancer_spark.functions.vector import cosine
    from datamancer_spark.operators.similarity import jl_project

    emb = _t(spark, sf_dir, "embeddings")["embeddings"].df.filter(
        F.col("vec_id") < 200
    )
    proj = jl_project(emb, out_dim=8)
    q = proj.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qv"),
        F.col("jl").alias("qj"),
    )
    pairs = proj.crossJoin(F.broadcast(q)).filter(
        F.col("vec_id") != F.col("query_id")
    )
    cf = prnd(cosine(F.col("qv"), F.col("embedding")), 4)
    cj = prnd(cosine(F.col("qj"), F.col("jl")), 4)
    return pairs.select(
        "query_id",
        F.col("vec_id").alias("cand_id"),
        cf.alias("cos_full"),
        cj.alias("cos_jl"),
        prnd(F.abs(cf - cj), 4).alias("abs_err"),
    )


def ann_recall_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN recall eval for the IVF tier (r12, same contract as
    ann_recall_lsh): recall@5 of the 3-probe IVF scan against exact
    brute-force ground truth, twin composed from the two proven twins.
    Together the two recall gates cover both production ANN tiers —
    bucketed-by-hyperplane and bucketed-by-centroid — under the same
    eval operator."""
    import numpy as np

    emb = _t(spark, sf_dir, "embeddings")["embeddings"].df
    queries_df = emb.filter(F.col("vec_id") < 10)
    brute = S.knn_bruteforce(emb, queries_df, k=5)
    codebook = np.asarray(S.plane_matrix(8, 64, seed=7))
    approx = S.knn_ivf(
        emb, queries_df, k=5, num_centroids=8, nprobe=3, codebook=codebook
    )
    return S.ann_recall(brute, approx)


def ann_recall_jl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall eval for the JL sketch-then-verify kNN tier (r12,
    operators/similarity.py knn_jl_rerank): shortlist 4k candidates by
    8-d sketch cosine, rerank exactly in 64-d, take top 5 — then
    recall@5 against brute ground truth. Both ranking stages order by
    portably-rounded cosine with id tie-breaks, so the twin (full
    relational replay: inlined projection rows → sketch shortlist →
    exact rerank → the recall composition) must agree on every hit
    count. Completes the ANN tier trio: hyperplane-bucketed,
    centroid-bucketed, and sketch-reranked, all evaluated under ONE
    operator."""
    from datamancer_spark.operators.similarity import knn_jl_rerank

    emb = _t(spark, sf_dir, "embeddings")["embeddings"].df
    queries_df = emb.filter(F.col("vec_id") < 10)
    brute = S.knn_bruteforce(emb, queries_df, k=5)
    approx = knn_jl_rerank(
        emb, queries_df, k=5, out_dim=8, shortlist_factor=4
    )
    return S.ann_recall(brute, approx)


def knn_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate kNN exercising the PRODUCTION path: a precomputed
    codebook (here a deterministic md5-derived matrix; offline-trained
    KMeans in real use) is broadcast, so the query is fully
    SQL-replicable — the oracle inlines the same 8 centroids and
    replicates argmin assignment + 3-probe + per-list cosine ranking.
    The trained-codebook path (seeded-sample Lloyd's) is covered by
    tests/test_scale_ops.py recall tests."""
    import numpy as np

    emb = _t(spark, sf_dir, "embeddings")["embeddings"].df
    queries_df = emb.filter(F.col("vec_id") < 10)
    codebook = np.asarray(S.plane_matrix(8, 64, seed=7))
    return S.knn_ivf(
        emb, queries_df, k=5, num_centroids=8, nprobe=3, codebook=codebook
    )


def knn_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ADC kNN (r10, operators/similarity.py
    pq_encode → knn_pq): the memory-scale ANN tier — vectors quantize
    to ONE packed bigint (per-subspace squared-L2 argmin over the
    deterministic md5 sub-codebooks; 64 float64 → 8 bytes, 64×), and
    the scan becomes a broadcast join of unpacked (subspace, code)
    against the queries' exact distance tables plus a sum — fully
    relational, so the DuckDB twin inlines the same 8×16 sub-centroids
    and replicates argmin + ADC + ranking exactly. This gate pins the
    MACHINERY bit-for-bit, the knn_ivf convention."""
    emb = _t(spark, sf_dir, "embeddings")["embeddings"].df
    queries_df = emb.filter(F.col("vec_id") < 10)
    cbs = S.pq_codebooks(m=8, k=16, dim=64, seed=11)
    return S.knn_pq(emb, queries_df, cbs, k=5)


def cms_merge_snapshots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-snapshot CMS merge under the driver gate (r12,
    operators/sketch.py cms_merge — the linear-counter companion to
    hll_merge_snapshots): two snapshots (even/odd doc ids) sketch
    their token frequencies INDEPENDENTLY, merge with union+sum, and
    the merged counter matrix must equal a single build over the whole
    corpus EXACTLY — counters are linear, so a lost entry, a stale
    count or a double-merge shifts a cell. The twin rebuilds the full
    4×256 matrix from all tokens; the gated output IS the matrix (the
    artifact that persists between crawl snapshots)."""
    from datamancer_spark.operators.dedup import tokens
    from datamancer_spark.operators.sketch import cms_build, cms_merge

    doc = _t(spark, sf_dir, "documents")["documents"].df
    toks = doc.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("tok")
    ).filter(F.length("tok") > 0)
    a = cms_build(
        toks.filter(F.col("doc_id") % 2 == 0), "tok", width=256, depth=4
    )
    b = cms_build(
        toks.filter(F.col("doc_id") % 2 == 1), "tok", width=256, depth=4
    )
    return cms_merge(a, b)


def token_freq_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch under the driver gate (r10,
    operators/sketch.py): the corpus token frequencies sketch into a
    4×256 counter matrix (width 256 over a ~9k-token vocabulary forces
    REAL collisions, so the one-sided error contract is non-trivial),
    and the top-30 true-frequency tokens read back their estimates —
    (tok, true_count, est) with est ≥ true_count guaranteed. The md5
    counter hashes are the repo's portable convention, so the DuckDB
    twin rebuilds the sketch and the min-over-rows estimates bit for
    bit. One corpus scan: the vocabulary count frame feeds both the
    sketch build (as weights) and the truth side."""
    from datamancer_spark.operators.dedup import tokens
    from datamancer_spark.operators.sketch import cms_build, cms_estimate
    from datamancer_spark.session import materialize

    doc = _t(spark, sf_dir, "documents")["documents"].df
    toks = doc.select(F.explode(tokens(F.col("text"))).alias("tok")).filter(
        F.length("tok") > 0
    )
    truth = materialize(
        toks.groupBy("tok").agg(
            F.count(F.lit(1)).cast("long").alias("true_count")
        )
    )
    sketch = cms_build(
        truth, "tok", width=256, depth=4, weight_col="true_count"
    )
    top = truth.orderBy(
        F.col("true_count").desc(), F.col("tok").asc()
    ).limit(30)
    est = cms_estimate(sketch, top.select("tok"), "tok", width=256, depth=4)
    return top.join(est, "tok").select("tok", "true_count", "est")


def doc_distinct_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Portable HyperLogLog under the driver gate (r11,
    operators/sketch.py hll_build/hll_estimate): THE cross-snapshot
    cardinality question — how many distinct documents — answered from
    a 256-row (register, rank) frame over the canonical document
    fingerprints. Registers update with MAX (one fingerprint-keyed
    shuffle, map-side partial max, no distinct pass) and every
    register rides the output alongside the estimate and the true
    distinct count, so the DuckDB twin must rebuild the full register
    file from the same md5 split (low 8 bits → register, remaining 52
    → rank = 53 − bitlen) and reproduce the estimator's exact-integer
    harmonic sum. The two gate scales exercise BOTH estimator arms:
    500 distinct docs at sf0.01 lands in linear counting (raw ≤ 2.5m,
    empty registers remain), 5,000 at sf0.1 in the raw harmonic arm.
    Unlike Spark's native approx_count_distinct, these registers
    persist as data and merge across snapshots with union+max (pinned
    in pytest)."""
    from datamancer_spark.functions.text import fingerprint
    from datamancer_spark.operators.sketch import hll_build, hll_estimate
    from datamancer_spark.session import materialize

    doc = _t(spark, sf_dir, "documents")["documents"].df
    fps = materialize(doc.select(fingerprint(F.col("text")).alias("fp")))
    regs = materialize(hll_build(fps, "fp", p=8))
    est = hll_estimate(regs, p=8).select(
        F.round(F.col("est"), 2).alias("est")
    )
    truth = fps.agg(
        F.countDistinct("fp").cast("long").alias("true_distinct")
    )
    return regs.crossJoin(F.broadcast(est)).crossJoin(F.broadcast(truth))


def hll_merge_snapshots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-snapshot HLL merge under the driver gate (r12,
    operators/sketch.py hll_merge): the reason these sketches are data
    — two crawl snapshots (even/odd doc ids) build registers
    INDEPENDENTLY, merge with union+max, and the merged file must be
    byte-identical to a single build over the union (max is
    associative), with the same estimate. The twin rebuilds the
    register file from ALL fingerprints directly — so a merge that
    lost a register, kept a stale rank, or double-counted shows up as
    a register/rank/estimate mismatch. est and est_merged ride the
    output together to pin merge == rebuild inside the gate itself."""
    from datamancer_spark.functions.text import fingerprint
    from datamancer_spark.operators.sketch import (
        hll_build,
        hll_estimate,
        hll_merge,
    )
    from datamancer_spark.session import materialize

    doc = _t(spark, sf_dir, "documents")["documents"].df
    fps = materialize(
        doc.select(
            "doc_id", fingerprint(F.col("text")).alias("fp")
        )
    )
    snap_a = hll_build(fps.filter(F.col("doc_id") % 2 == 0), "fp", p=8)
    snap_b = hll_build(fps.filter(F.col("doc_id") % 2 == 1), "fp", p=8)
    merged = materialize(hll_merge(snap_a, snap_b))
    full = hll_build(fps, "fp", p=8)
    est_m = hll_estimate(merged, p=8).select(
        F.round(F.col("est"), 2).alias("est_merged")
    )
    est_f = hll_estimate(full, p=8).select(
        F.round(F.col("est"), 2).alias("est")
    )
    return merged.crossJoin(F.broadcast(est_m)).crossJoin(
        F.broadcast(est_f)
    )


def normalize_nfc_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode NFC normalization under the driver gate (r11,
    functions/text.py unicode_normalize): the canonicalization step
    before fingerprint/dedup — the same page served precomposed vs
    decomposed must fingerprint identically. The synthetic corpus is
    ASCII, so each doc gets a DECOMPOSED suffix (e+U+0301, o+U+0303,
    a+U+030A) appended in-plan; NFC composes each pair to one
    codepoint, so n_after = n_before − 3 everywhere and the md5 of the
    normalized text pins every byte against DuckDB's independent
    ``nfc_normalize`` (utf8proc) vs Python's ``unicodedata`` — a REAL
    cross-implementation differential, not the repo's own arithmetic
    twice."""
    from datamancer_spark.functions.text import unicode_normalize

    doc = _t(spark, sf_dir, "documents")["documents"].df
    raw = F.concat(
        F.coalesce(F.col("text"), F.lit("")),
        # explicit escapes: MUST stay the decomposed sequences
        # (base + combining mark), never precomposed source literals
        F.lit(" e\u0301 o\u0303 a\u030a"),
    )
    norm = unicode_normalize(raw, "NFC")
    return doc.select(
        "doc_id",
        F.length(raw).alias("n_before"),
        F.length(norm).alias("n_after"),
        F.md5(norm).alias("fp_norm"),
    )


def pagerank_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank under the driver gate (r11, operators/components.py
    pagerank — fixed-iteration power method, the link-graph quality
    signal crawl curation ranks by). The synthetic link graph is
    deterministic doc_id arithmetic built in-plan (each doc links to
    (id·7+1) mod n and (id·13+5) mod n — dangling-free, so the ranks
    sum to 1 with no redistribution term in play), 10 iterations,
    per-iteration rounding at 1e-6 so float association order can
    never drift the comparison (drift ~1e-16 « the rounding step).
    The DuckDB twin UNROLLS the same 10 iterations as chained CTEs —
    an iterative distributed algorithm pinned value-exact against a
    non-iterative engine. n is a bounded driver-side count (one
    scalar, the mixture_resample convention)."""
    from datamancer_spark.operators.components import pagerank

    doc = _t(spark, sf_dir, "documents")["documents"].df
    n = doc.count()
    edges = doc.select(
        F.col("doc_id").alias("src"),
        ((F.col("doc_id") * 7 + 1) % n).alias("dst"),
    ).unionByName(
        doc.select(
            F.col("doc_id").alias("src"),
            ((F.col("doc_id") * 13 + 5) % n).alias("dst"),
        )
    )
    return pagerank(edges, damping=0.85, iters=10, round_decimals=6).select(
        "node", "rank"
    )


def pagerank_crawl_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The crawl→GRAPH seam under the driver gate (r12, VERDICT r11
    #4: operators/warc.py extract_links → components.pagerank): WARC
    bytes → charset-aware HTML decode → <a href> extraction (quoted +
    unquoted, entity decode, fragment strip) → URL resolution
    (absolute / root-relative / protocol-relative arms all live in the
    fixture) → a page-URL link graph → 10 PageRank iterations — the
    same crawl-bytes-to-quality-signal path r11 closed for crawl→
    corpus. The fixture's graph is a sparse arithmetic chain + tree-
    parent + decade-leader (dangling-free at every scale, max
    in-degree ~12 so per-node rank sums stay SHORT), and iterations
    run at FULL precision with only the OUTPUT rounded through the
    portable floor-form prnd: per-iteration HALF_UP/half-even rounding
    quantizes iterates onto exact half-boundary rationals where the
    engines flip apart (measured at sf0.1 on a first-cut
    hub-concentrated 50-node ring — in-degree ~300 sums landed on
    boundaries). The twin enumerates the resolved edges closed-form
    and unrolls the same 10 full-precision iterations; a wrong byte
    anywhere in extraction, entity decode, or resolution changes an
    edge and every downstream rank."""
    from datamancer_spark.functions.rounding import prnd
    from datamancer_spark.operators.components import pagerank
    from datamancer_spark.operators.fixtures import (
        synth_blob_frame,
        warc_link_blob,
    )
    from datamancer_spark.operators.warc import extract_links

    doc = _t(spark, sf_dir, "documents")["documents"].df
    blobs = synth_blob_frame(doc.select("doc_id"), warc_link_blob)
    links = extract_links(blobs)
    edges = links.select(
        F.col("src_url").alias("src"), F.col("dst_url").alias("dst")
    )
    ranks = pagerank(edges, damping=0.85, iters=10)
    return ranks.select("node", prnd("rank", 6).alias("rank"))


def anchor_text_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inlink anchor-text profiles under the driver gate (r12,
    operators/warc.py extract_anchors): anchor text describes the
    TARGET page — the classic ranking/labeling signal per-href
    extraction drops — so whole <a> elements explode with href and
    body PAIRED, and the profile aggregates per target: inlink count
    plus the sorted distinct anchor vocabulary. Over the link fixture
    every page's three inbound anchor kinds ('abs'/'root'/'proto')
    enumerate from doc_id arithmetic, so the twin rebuilds the edge
    list and aggregates identically — a wrong pairing, a dropped
    pseudo-link, or a missed element shifts a count or a vocabulary."""
    from datamancer_spark.operators.fixtures import (
        synth_blob_frame,
        warc_link_blob,
    )
    from datamancer_spark.operators.warc import extract_anchors

    doc = _t(spark, sf_dir, "documents")["documents"].df
    blobs = synth_blob_frame(doc.select("doc_id"), warc_link_blob)
    links = extract_anchors(blobs)
    return links.groupBy("dst_url").agg(
        F.count(F.lit(1)).alias("n_inlinks"),
        F.array_join(
            F.array_sort(F.collect_set("anchor_text")), ","
        ).alias("anchor_kinds"),
    )


def epoch_expand_langs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fractional-epoch UP-sampling under the driver gate (r12,
    operators/quality.py epoch_expand — the repeat half of data
    mixing): zh rows are seen 2.5 times (2 copies + a deterministic
    hash-selected half pass), fr 1.25, de drops (epoch 0), en/es keep
    their single base copy. The twin replicates the whole-copies +
    md5-bucket fractional arithmetic and generates the copy index
    range per row — row counts, epoch indices and the exact fractional
    row subset all pin."""
    from datamancer_spark.operators.quality import epoch_expand

    doc = _t(spark, sf_dir, "documents")["documents"].df
    out = epoch_expand(
        doc, "lang", {"zh": 2.5, "fr": 1.25, "de": 0.0}, seed=0
    )
    return out.select("doc_id", "lang", "epoch")


def epoch_shard_plan_langs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic epoch shuffle/shard plan under the driver gate
    (r12, operators/quality.py epoch_shuffle_plan): the trainer read
    order — every epoch copy of every surviving row gets a shard
    (md5 hash of epoch‖id mod 8) and a position (rank of that hash
    within its epoch+shard), so two engines, two cluster layouts, or a
    resume-after-preemption all read bytes in the SAME order. The twin
    extends the epoch-expansion twin with the identical portable hash
    and window rank — any drift in the expansion subset, the hash, or
    the tie-break shows up as a position mismatch."""
    from datamancer_spark.operators.quality import epoch_shuffle_plan

    doc = _t(spark, sf_dir, "documents")["documents"].df
    out = epoch_shuffle_plan(
        doc, "lang", {"zh": 2.5, "fr": 1.25, "de": 0.0},
        n_shards=8, seed=0,
    )
    return out.select("doc_id", "lang", "epoch", "shard", "pos")


def temperature_mix_langs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled mixture resampling under the driver gate
    (r11, operators/quality.py temperature_resample — the mBERT/XLM
    p_k ∝ n_k^α rebalance at α = 0.5): weights derive from the
    corpus's own language counts, so the twin computes the ENTIRE
    chain in SQL — counts → n^0.5 → normalize → feasible total T →
    per-language floor thresholds → the same md5-bucket row test.
    Weight sums are Python-side in sorted-key order vs SQL-side
    unordered: a ~1e-16 association difference against a 1-per-1e6
    floor step, the established negligible-boundary risk class."""
    from datamancer_spark.operators.quality import temperature_resample

    doc = _t(spark, sf_dir, "documents")["documents"].df
    return temperature_resample(doc, "lang", alpha=0.5).select(
        "doc_id", "lang"
    )


def hits_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs & authorities under the driver gate (r11,
    operators/components.py hits): PageRank's companion link signal
    over the same deterministic doc_id-arithmetic graph — 5 power
    iterations (a ← normalize(Eᵀh), h ← normalize(E a),
    sum-normalization so the twin is sqrt-free), per-iteration 1e-6
    rounding, and a DuckDB twin that unrolls all TEN stages (two per
    iteration) as chained CTEs."""
    from datamancer_spark.operators.components import hits

    doc = _t(spark, sf_dir, "documents")["documents"].df
    n = doc.count()
    edges = doc.select(
        F.col("doc_id").alias("src"),
        ((F.col("doc_id") * 7 + 1) % n).alias("dst"),
    ).unionByName(
        doc.select(
            F.col("doc_id").alias("src"),
            ((F.col("doc_id") * 13 + 5) % n).alias("dst"),
        )
    )
    return hits(edges, iters=5, round_decimals=6).select(
        "node", "hub", "auth"
    )


#: distinct-character word pool for the BPE trainer gate. Every word
#: has pairwise-distinct characters, so at every merge stage each
#: adjacent symbol pair occurs AT MOST ONCE per pretoken — the one
#: configuration where the twin's single left-to-right string replace
#: is provably identical to the trainer's greedy scan (a repeated pair
#: inside one word, e.g. 'abab', would let the replace consume the
#: separator the next occurrence needs).
_BPE_POOL = [
    "bread", "break", "bride", "crane", "crimp",
    "dog", "dove", "gates", "gusto",
]


def bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-level BPE TRAINING under the driver gate (r12, VERDICT r11
    #5: operators/bpe.py train_byte_bpe). Training is counting + argmax
    per step — the NB/PageRank twin pattern — so the DuckDB twin
    replicates the ENTIRE 8-step training loop as chained CTEs: pair
    counting weighted by pretoken frequency, the (max count,
    lexicographically-smallest) argmax, and the greedy merge rewrite,
    over the same GPT-2 byte-alphabet symbols (space pretokens carry
    the 0x120 'Ġ' byte symbol). The corpus is built in-plan from a
    9-word distinct-character pool (see _BPE_POOL) whose frequencies
    are doc_id arithmetic; the sample bound exceeds every corpus size,
    so the hash-ordered sample is the whole corpus and the twin needs
    no xxhash64. The trainer itself is the documented driver-side
    exception (vocabulary-sized sequential state, the production-
    tokenizer recipe); the gate proves its ARITHMETIC differentially.
    Output: (step, merge_left, merge_right)."""
    from datamancer_spark.operators.bpe import train_byte_bpe

    doc = _t(spark, sf_dir, "documents")["documents"].df
    pool = F.array(*[F.lit(w) for w in _BPE_POOL])
    text = F.concat_ws(
        " ",
        F.element_at(pool, (F.col("doc_id") % 5 + 1).cast("int")),
        F.element_at(
            pool, (F.floor(F.col("doc_id") / 5) % 5 + 1).cast("int")
        ),
        F.element_at(pool, (F.col("doc_id") % 4 + 6).cast("int")),
    )
    corpus = doc.select(text.alias("text"))
    merges = train_byte_bpe(
        corpus, num_merges=8, sample_rows=2_000_000_000
    )
    return spark.createDataFrame(
        [(k + 1, a, b) for k, (a, b) in enumerate(merges)],
        "step int, merge_left string, merge_right string",
    )


def bpe_encode_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The byte-BPE ENCODE path under the driver gate (r12, completing
    bpe_train_merges' trainer gate: operators/bpe.py byte_bpe_encode /
    byte_bpe_exact_token_count — broadcast ranks, Arrow batches,
    per-batch pretoken memo). A FIXED 4-merge table over the
    distinct-character pool makes every pretoken's tokenization
    hand-computable, so the twin inlines the expected token count per
    pool word and sums the three per-doc pretokens — a wrong merge
    order, a broken min-rank scan, or a pretokenizer drift shifts a
    count. The token-count column is what budget_select / pack_sequences
    consume, so this is the budgeting seam's differential."""
    from datamancer_spark.operators.bpe import byte_bpe_exact_token_count

    doc = _t(spark, sf_dir, "documents")["documents"].df
    pool = F.array(*[F.lit(w) for w in _BPE_POOL])
    text = F.concat_ws(
        " ",
        F.element_at(pool, (F.col("doc_id") % 5 + 1).cast("int")),
        F.element_at(
            pool, (F.floor(F.col("doc_id") / 5) % 5 + 1).cast("int")
        ),
        F.element_at(pool, (F.col("doc_id") % 4 + 6).cast("int")),
    )
    corpus = doc.select("doc_id", text.alias("text"))
    merges = [("b", "r"), ("br", "e"), ("d", "o"), ("\u0120", "do")]
    return byte_bpe_exact_token_count(corpus, merges)


def nb_lang_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Naive Bayes trained AND scored in one relational plan under the
    driver gate (r11, operators/classify.py naive_bayes_classify): the
    trainable-model tier the iterative logistic classifier can't offer
    differentially — NB training is pure counting (per-class token
    counts, Laplace smoothing, log priors), so the DuckDB twin
    replicates the ENTIRE train+score composition value-exactly.
    Labels are the documents' lang column; scores round to 1e-6
    before the argmax (float-order drift ~1e-15, absorbed), ties to
    the lexicographically-smallest class."""
    from datamancer_spark.operators.classify import naive_bayes_classify

    doc = _t(spark, sf_dir, "documents")["documents"].df
    return naive_bayes_classify(doc, "lang").select(
        "doc_id", "lang", "predicted", "score", "correct"
    )


def boilerplate_filter_doc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-line boilerplate removal under the driver gate (r11,
    operators/quality.py boilerplate_line_filter — the content-
    extraction pass between HTML→text and document scoring). The
    synthetic docs are single-line, so each gets a crafted multi-line
    page appended in-plan: a nav row (short, no punctuation), a legal
    line (marker phrase), an ALL-CAPS banner (uppercase rule), a tiny
    fragment (min-words rule), and one genuine sentence — the base
    text (≥10 words) and the genuine sentence survive, everything
    else drops. The twin replicates every rule's arithmetic over the
    same constructed text, so the md5-able clean_text pins ordered
    reassembly too."""
    from datamancer_spark.operators.quality import boilerplate_line_filter

    doc = _t(spark, sf_dir, "documents")["documents"].df
    page = doc.withColumn(
        "text",
        F.concat(
            F.coalesce(F.col("text"), F.lit("")),
            F.lit(
                "\nHome | About | Contact"
                "\nCopyright 2026 Example Corp. All rights reserved."
                "\nBREAKING NEWS MENU BAR NAVIGATION HEADER"
                "\ntiny frag"
                "\nA genuine closing sentence with enough words to"
                " clearly survive the filter."
            ),
        ),
    )
    return boilerplate_line_filter(page).select(
        "doc_id", "n_lines", "n_kept", "clean_text"
    )


def mine_bitext_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Margin-based bitext mining (r10, operators/similarity.py
    mine_bitext — the Artetxe & Schwenk ratio criterion): the even-id
    half of the embeddings table plays 'source language', the odd-id
    half 'target'; a pair is mined when the target is the source's
    nearest neighbor and cos / mean-local-kNN-density ≥ 1.05. Fully
    relational after the kNN tier, portable 1e-6 rounding before the
    threshold — the DuckDB twin replicates both kNN directions, the
    k=4 density averages and the margin cut exactly."""
    emb = _t(spark, sf_dir, "embeddings")["embeddings"].df
    src = emb.filter(F.col("vec_id") % 2 == 0)
    tgt = emb.filter(F.col("vec_id") % 2 == 1)
    return S.mine_bitext(src, tgt, k=4, threshold=1.05)


def semantic_dedup_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup (operators/similarity.py
    semantic_dedup): IVF-cluster the embeddings with the deterministic
    md5 codebook (same 8 centroids the knn_ivf oracle inlines), then
    drop any vector whose cluster holds an earlier vector with cosine
    ≥ 0.35 — the predecessor-pair rule, fully relational so DuckDB
    replicates it exactly. Quadratic work is bounded to within-cluster
    pairs, never the corpus."""
    import numpy as np

    emb = _t(spark, sf_dir, "embeddings")["embeddings"].df
    codebook = np.asarray(S.plane_matrix(8, 64, seed=7))
    return S.semantic_dedup(emb, codebook, threshold=0.35).select("vec_id")


def ivf_cluster_profile_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-tightness profile over the IVF partition (operators/
    similarity.py ivf_cluster_profile): per centroid, member count and
    mean member→centroid cosine — the inspection view used to pick
    semantic-dedup thresholds. One assignment map + one tiny rollup."""
    import numpy as np

    emb = _t(spark, sf_dir, "embeddings")["embeddings"].df
    codebook = np.asarray(S.plane_matrix(8, 64, seed=7))
    return S.ivf_cluster_profile(emb, codebook)


def embedding_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")["embeddings"]
    return (
        emb.transmute(
            vec_id=F.col("vec_id"),
            label=F.col("label"),
            nrm=prnd(V.norm(F.col("embedding")), 6),
            dim=F.size(F.col("embedding")),
        )
        .df
    )


def repetition_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/MassiveText-style repetition signals per document
    (operators/quality.py repetition_stats): duplicate-word fraction,
    duplicate-trigram fraction, and the character coverage of the most
    covering bigram — the filters that drop generated/boilerplate pages
    from a pre-training corpus. All integer counts + one final division,
    so the oracle matches at value level."""
    from datamancer_spark.operators.quality import repetition_stats

    doc = _t(spark, sf_dir, "documents")["documents"].df
    return repetition_stats(doc, ngram_n=3, top_n=2)


def line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style cross-document line dedup (operators/quality.py
    line_dedup_global): each distinct line survives only at its first
    corpus-wide occurrence (min (doc_id, position)); documents are
    reassembled from surviving lines. The synthetic corpus has no
    newlines, so here every document is one line and the operator
    degenerates to first-occurrence text dedup — the multi-line
    semantics are pinned by tests/test_quality.py."""
    from datamancer_spark.operators.quality import line_dedup_global

    doc = _t(spark, sf_dir, "documents")["documents"].df
    return line_dedup_global(doc, delimiter="\n")


def contamination_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination check (operators/quality.py
    contamination_check): fraction of each document's distinct word
    trigrams that appear in a 'benchmark' set (docs with id % 97 == 0,
    a deterministic stand-in for an eval suite). The pre-training
    hygiene screen run before any evaluation claim."""
    from datamancer_spark.operators.quality import contamination_check

    doc = _t(spark, sf_dir, "documents")["documents"].df
    bench = doc.filter(F.col("doc_id") % 97 == 0)
    return contamination_check(doc, bench, shingle_n=3)


# normalized in Python once so the Spark operator and the generated
# oracle SQL inline bit-identical doubles
_MIX_WEIGHTS = {"en": 0.4, "de": 0.15, "fr": 0.15, "es": 0.15, "zh": 0.15}


def mixture_resample_langs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic data-mixture resampling (operators/quality.py
    mixture_resample): downsample per-language so the corpus matches
    target weights, selecting rows by md5 bucket — reproducible across
    engines/runs, no RNG. Returns the surviving (doc_id, lang) rows."""
    from datamancer_spark.operators.quality import mixture_resample

    doc = _t(spark, sf_dir, "documents")["documents"].df
    return mixture_resample(doc, "lang", _MIX_WEIGHTS, id_col="doc_id", seed=0).select(
        "doc_id", "lang"
    )


def pack_sequences_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing (operators/quality.py pack_sequences): greedy
    per-shard assignment of documents into 512-token context-window
    bins in deterministic (shard, id) order — the step between corpus
    curation and tokenization. The cumsum window is partitioned by an
    md5 shard key, never a global sort."""
    from datamancer_spark.operators.quality import pack_sequences

    doc = _t(spark, sf_dir, "documents")["documents"].df
    return pack_sequences(doc, capacity=512, num_shards=32)


def token_topk_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language vocabulary heads (operators/quality.py token_topk):
    top-10 tokens per lang, deterministic (count desc, token asc) rank.
    The rank window runs over the vocabulary-sized count frame, never
    the corpus."""
    from datamancer_spark.operators.quality import token_topk

    doc = _t(spark, sf_dir, "documents")["documents"].df
    return token_topk(doc, group_col="lang", text_col="text", k=10)


def budget_select_langs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy token-budget curation (operators/quality.py
    budget_select): per language, highest-n_chars documents first until
    a 2k-token budget fills (deterministic ties by doc_id; greedy
    overrun by at most one doc). The cumsum window partitions by lang —
    no global sort."""
    from datamancer_spark.operators.quality import budget_select

    doc = _t(spark, sf_dir, "documents")["documents"].df
    return budget_select(
        doc, token_budget=2_000, score_col="n_chars", group_col="lang"
    )


def length_filter_langs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language percentile length trim (operators/quality.py
    length_outlier_filter): keep docs inside the lang's [p5, p95]
    n_chars band. Bounds computed once per lang (tiny agg), broadcast
    back; the corpus never shuffles."""
    from datamancer_spark.operators.quality import length_outlier_filter

    doc = _t(spark, sf_dir, "documents")["documents"].df
    return length_outlier_filter(
        doc, len_col="n_chars", group_col="lang", lo=0.05, hi=0.95
    ).select("doc_id", "lang", "n_chars")


def dup_cluster_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster size histogram (operators/quality.py
    dup_cluster_sizes): cluster-size → cluster-count over exact-dedup
    fingerprint groups; the dedup-threshold diagnostic."""
    from datamancer_spark.operators.quality import dup_cluster_sizes

    doc = _t(spark, sf_dir, "documents")["documents"].df
    return dup_cluster_sizes(doc)


def unigram_perplexity_proxy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-proxy scoring (operators/quality.py
    unigram_logprob_score): per-doc mean negative log-prob under the
    corpus's own unigram distribution — the cheap LM-filter stand-in."""
    from datamancer_spark.operators.quality import unigram_logprob_score

    doc = _t(spark, sf_dir, "documents")["documents"].df
    return unigram_logprob_score(doc)


def cohort_retention_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix (operators/retention.py): users bucketed
    by first-event date (7-day cohorts anchored per user), counted per
    later period — one user-keyed agg, one join back, one tiny rollup."""
    from datamancer_spark.operators.retention import cohort_retention

    ev = _t(spark, sf_dir, "events")["events"].df
    return cohort_retention(ev, unit_days=7)


_FUNNEL = ("view", "click", "purchase")


def funnel_view_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel (operators/retention.py funnel_steps): first view,
    first click strictly after it, first purchase strictly after that —
    sequential-min semantics, k user-keyed shuffles for k steps."""
    from datamancer_spark.operators.retention import funnel_steps

    ev = _t(spark, sf_dir, "events")["events"].df
    return funnel_steps(ev, list(_FUNNEL))


_SEEN_SOURCES = ("src0", "src1", "src2", "src3", "src4")


def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-snapshot incremental dedup (operators/dedup.py
    dedup_against): treat sources src0-src4 as the already-ingested
    history, clean the remaining sources against it — self-dedup within
    the new snapshot (min-id keeper), then one fingerprint anti join
    against the history's DISTINCT fingerprint set."""
    from datamancer_spark.operators.dedup import dedup_against

    doc = _t(spark, sf_dir, "documents")["documents"].df
    seen = doc.filter(F.col("source").isin(*_SEEN_SOURCES))
    new = doc.filter(~F.col("source").isin(*_SEEN_SOURCES))
    return dedup_against(new, seen).select("doc_id", "source")


def dedup_fuzzy_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-snapshot NEAR-duplicate dedup (operators/dedup.py
    fuzzy_dedup_against): the fuzzy twin of dedup_incremental — new
    sources are LSH-screened against the src0-src4 history's MinHash
    signatures, band candidates confirmed by exact n-gram Jaccard ≥ 0.5,
    and confirmed near-dups of history docs are dropped."""
    from datamancer_spark.operators.dedup import fuzzy_dedup_against

    doc = _t(spark, sf_dir, "documents")["documents"].df
    seen = doc.filter(F.col("source").isin(*_SEEN_SOURCES))
    new = doc.filter(~F.col("source").isin(*_SEEN_SOURCES))
    return fuzzy_dedup_against(new, seen).select("doc_id", "source")


def dedup_index_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted MinHash index LIFECYCLE under the driver gate (r15,
    VERDICT r14 #5 — the production incremental-dedup path,
    operators/dedup.py build_minhash_index / fuzzy_dedup_against_index):
    the history snapshot (even doc_ids) is reduced ONCE to its index —
    (id, sig, hashed shingles, sz), a zero-shuffle projection — and the
    next snapshot is screened against THAT, never re-reading or
    re-tokenizing history text. The new snapshot is the odd docs plus
    deterministic near-dup injections (every doc_id%10==0 history doc
    re-appears at id+1000000 with ' mirror copy' appended — Jaccard
    (T-2)/T on a T-token doc, so real drops exist by construction).
    Survivors = new docs with no band-confirmed exact-Jaccard >= 0.5
    match in the index. The twin rebuilds the same screen DIRECTLY
    (LSH vs history CTEs) — index probe == direct screen is exactly
    the equivalence the index contract promises (also pinned in
    pytest, test_scale_ops.py)."""
    from datamancer_spark.operators.dedup import (
        build_minhash_index,
        fuzzy_dedup_against_index,
        spread_partitions,
    )
    from datamancer_spark.session import materialize

    doc = _t(spark, sf_dir, "documents")["documents"].df
    # spread: the one-row-group documents parquet reads as ONE
    # partition — unspread, the index build's tokenize+shingle+md5
    # folds (the expensive per-row work) run on one core (r15-opt)
    hist = spread_partitions(doc.filter(F.col("doc_id") % 2 == 0))
    injected = hist.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" mirror copy")).alias("text"),
        "lang",
        "source",
        F.length(F.concat(F.col("text"), F.lit(" mirror copy")))
        .cast("long")
        .alias("n_chars"),
    )
    new = spread_partitions(
        doc.filter(F.col("doc_id") % 2 == 1).unionByName(injected)
    )
    # the index is PERSISTED in production (built once per ingest,
    # re-read as parquet); pin it here so the gate matches that
    # contract — unpinned, the probe's three index consumers (band
    # keys, candidate join, shingle-array verify) each re-ran the
    # history tokenize+shingle+md5 projection (r15-opt: the before
    # plan had 6 parquet scans / 22 exchanges).
    # Lifetime (ADVICE r15): this eager materialize runs Spark jobs at
    # query CONSTRUCTION and pins localCheckpoint blocks that are
    # released by ContextCleaner GC, not by query teardown; repeated
    # construction in one session accumulates executor storage until
    # GC. On a cluster, call set_checkpoint_dir once per session so
    # every engine pin upgrades to reliable storage (executor loss
    # otherwise kills the query — materialize() docstring).
    index = materialize(build_minhash_index(hist))
    return fuzzy_dedup_against_index(new, index).select("doc_id", "source")


def dedup_bloom_screened(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom pre-screen under the driver gate (VERDICT r10 #2,
    operators/dedup.py bloom_build / bloom_maybe_contains): the
    cross-snapshot shuffle saver — new docs probe the history's Bloom
    filter (2048 bits, 4 md5 position hashes; zero shuffle, k
    broadcast joins) and only maybe-seen rows would reach the exact
    anti-join. Snapshots are OVERLAPPING doc_id%4 slices (seen =
    {0,1,2}, new = {2,3}) because the documents table has zero exact
    duplicates by itself — the %4==2 docs appear in both snapshots,
    so true cross-snapshot dups exist by construction. The gated
    output EXPOSES the probe: per new doc (maybe_seen, is_seen_dup,
    contract_ok), so the DuckDB twin must rebuild the occupied-
    position frame from the same md5 arithmetic (md5('bl'||i||fp) →
    first-15-hex bigint % 2048) and the comparison pins every bit of
    it. 2048 bits over the history's ~375 fingerprints (sf0.01) gives
    ~52% occupancy — REAL false positives (maybe_seen ∧ ¬is_seen_dup
    rows), so the flags are non-trivial; contract_ok = maybe_seen ∨
    ¬is_seen_dup is the no-false-negative contract, computed by BOTH
    engines and asserted all-true in pytest (test_round4_ops.py)."""
    from datamancer_spark.functions.text import fingerprint
    from datamancer_spark.operators.dedup import (
        bloom_build,
        bloom_maybe_contains,
    )
    from datamancer_spark.session import materialize

    doc = _t(spark, sf_dir, "documents")["documents"].df
    # the fingerprint frame feeds the filter build, the probe, AND the
    # truth side — pinned once (audited: 6 parquet scans unpinned)
    fps = materialize(
        doc.select(
            "doc_id", "source", fingerprint(F.col("text")).alias("_fp")
        )
    )
    seen = fps.filter(F.col("doc_id") % 4 <= 2)
    new = fps.filter(F.col("doc_id") % 4 >= 2)
    bloom = bloom_build(seen, "_fp", num_bits=2048, num_hashes=4,
                        hashed=True)
    probed = bloom_maybe_contains(new, bloom, "_fp", 2048, 4,
                                  hashed=True)
    seen_fp = seen.select(F.col("_fp").alias("_sfp")).distinct()
    return (
        probed.join(
            F.broadcast(seen_fp), F.col("_fp") == F.col("_sfp"), "left"
        )
        .select(
            "doc_id",
            "source",
            "maybe_seen",
            F.col("_sfp").isNotNull().alias("is_seen_dup"),
            (F.col("maybe_seen") | F.col("_sfp").isNull()).alias(
                "contract_ok"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Round-4 additions: model scoring, domain capping, time-grid ops
# ---------------------------------------------------------------------------


def classifier_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality filtering (operators/classify.py): a hashed
    bag-of-words linear classifier scored as a pure projection — one
    F.aggregate fold per doc, zero shuffles, zero UDFs. Weights here are
    the deterministic md5-derived stand-in so DuckDB can compute the
    bit-identical twin; a trained model swaps in via the weights= arg
    with the same plan shape."""
    from datamancer_spark.operators.classify import hashed_linear_score

    doc = _t(spark, sf_dir, "documents")["documents"].spread_partitions()
    return hashed_linear_score(doc.df, dim=1024, seed=7).select(
        "doc_id", "score", "keep"
    )


def cap_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain capping (operators/sampling.py cap_per_key): keep at most
    10 docs per source by deterministic md5 order — the crawl-curation
    step that stops over-represented domains from dominating the
    mixture. One key-partitioned window, no global sort."""
    from datamancer_spark.operators.sampling import cap_per_key

    doc = _t(spark, sf_dir, "documents")["documents"].df
    return cap_per_key(doc, "source", 10, "doc_id").select("doc_id", "source")


def trailing_hour_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time trailing window (operators/timeseries.py): per event,
    the 1-hour trailing sum/count of value for its user via a native
    RANGE frame — one window sort per user, no self-join (the naive
    interval self-join is quadratic per key). Cents-exact sum for
    cross-engine bit stability."""
    from datamancer_spark.operators.timeseries import trailing_window

    ev = _t(spark, sf_dir, "events")["events"].df
    return trailing_window(
        ev, "ts", ["user_id"], "value", window_seconds=3600, exact_cents=True
    ).select("event_id", "user_id", "trailing_sum", "trailing_n")


def resample_user_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-grid resample + forward fill (operators/timeseries.py):
    each user's value on an hourly grid spanning their observed range,
    last observation carried across empty buckets. Grid generated
    executor-side (sequence+explode per key) — never a driver loop."""
    from datamancer_spark.operators.timeseries import resample_ffill

    ev = _t(spark, sf_dir, "events")["events"].df
    return resample_ffill(
        ev, "ts", ["user_id"], "value", every="1 hour", agg="last"
    )


def text_hash_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-free hashing-trick text embeddings (operators/similarity.py
    hashed_embedding): ±1 md5-bucket sums, L2-normalized — closes the
    text → vector → ANN loop entirely in-engine. One explode + one
    groupBy with 64 codegen'd conditional sums.

    Contract shape (r5 driver red): the API returns ``array<double>``,
    but the driver's pandas canonicalizer cannot sort numpy arrays —
    so this contract query posexplodes the vector to atomic
    (doc_id, dim, value) rows. The array form stays the library API
    (`hashed_embedding`); only the driver-facing projection is long."""
    from datamancer_spark.operators.similarity import hashed_embedding

    doc = _t(spark, sf_dir, "documents")["documents"].df
    out = hashed_embedding(doc, dim=64)
    rounded = F.transform(
        F.col("embedding"),
        lambda x: F.floor(x * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6),
    )
    return out.select(
        "doc_id", F.posexplode(rounded).alias("dim", "value")
    )


def dedup_semantic_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic dedup of RAW TEXT with zero model artifacts: hashing-
    trick embeddings (hashed_embedding) → IVF clusters (the same md5
    codebook) → predecessor-pair cosine rule (semantic_dedup). The
    whole text→vector→cluster→dedup pipeline runs in-engine and is
    value-checked against a DuckDB replica end to end."""
    import numpy as np

    from datamancer_spark.operators.similarity import (
        hashed_embedding,
        semantic_dedup,
    )

    from datamancer_spark.session import materialize

    doc = _t(spark, sf_dir, "documents")["documents"].df
    # the embedding frame is DERIVED (64-aggregate groupBy), not a scan:
    # semantic_dedup consumes its corpus twice (assignment + anti join),
    # so pin it once — measured 2x at 16x volume
    emb = materialize(hashed_embedding(doc, dim=64))
    codebook = np.asarray(S.plane_matrix(8, 64, seed=7))
    kept = semantic_dedup(
        emb, codebook, threshold=0.95, vec_col="embedding", id_col="doc_id"
    )
    return kept.select("doc_id")


def salted_events_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage salted aggregation (operators/skew.py salted_agg):
    per-type event count + cents-exact value total computed via
    (keys, salt) partials then a combine on the true keys — the
    explicit hot-key rewrite, differentially equal to the plain
    GROUP BY (integer cents make the sum order-insensitive)."""
    from datamancer_spark.operators.skew import salted_agg

    ev = _t(spark, sf_dir, "events")["events"].df.withColumn(
        "_cents", F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    )
    out = salted_agg(
        ev,
        ["event_type"],
        {"n": ("count", "event_id"), "cents": ("sum", "_cents")},
        salt_buckets=16,
    )
    return out.select(
        "event_type",
        F.col("n").cast("long").alias("n"),
        prnd(F.col("cents") / 100.0, 2).alias("total_value"),
    )


def corpus_health_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row corpus health summary (operators/quality.py
    corpus_health): docs, exact-dup fraction, mean tokens, mean
    heuristic quality, language-mix entropy — the post-ingest log line.
    One narrow pass + two one-row aggregates; nothing collected."""
    from datamancer_spark.operators.quality import corpus_health

    doc = _t(spark, sf_dir, "documents")["documents"].df
    return corpus_health(doc)


def source_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-health diagnosis (operators/skew.py key_skew_profile):
    the 10 heaviest sources with row share and cumulative share — the
    pre-join check that decides salting vs broadcast vs AQE headroom.
    The window runs over the key-cardinality count frame, never the
    corpus."""
    from datamancer_spark.operators.skew import key_skew_profile

    doc = _t(spark, sf_dir, "documents")["documents"].df
    return key_skew_profile(doc, "source", top_k=10)


def bigram_perplexity_proxy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated-bigram LM scoring (operators/quality.py
    bigram_logprob_score): per doc, mean −log(0.7·P(w₂|w₁) + 0.3·P(w₂))
    under the corpus's own counts — the context-aware step up from
    unigram_perplexity_proxy."""
    from datamancer_spark.operators.quality import bigram_logprob_score

    doc = _t(spark, sf_dir, "documents")["documents"].df
    return bigram_logprob_score(doc)


def score_calibration_en(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibration table (operators/classify.py calibration_table):
    decile-bucket the hashed-classifier score against an is-English
    proxy label — the reliability-diagram input for picking a keep
    threshold. One tiny partial-aggregated shuffle."""
    from datamancer_spark.operators.classify import (
        calibration_table,
        hashed_linear_score,
    )

    doc = _t(spark, sf_dir, "documents")["documents"].df
    scored = hashed_linear_score(doc, dim=1024, seed=7).withColumn(
        "is_en", F.col("lang") == "en"
    )
    return calibration_table(scored, "score", "is_en", buckets=10)


def chunk_sliding_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window chunking (operators/quality.py chunk_documents):
    split each document into overlapping 32-token windows with stride
    24 — the long-document preparation step before tokenization or
    embedding. Pure narrow projection: zero shuffles, no UDF."""
    from datamancer_spark.operators.quality import chunk_documents

    doc = _t(spark, sf_dir, "documents")["documents"].spread_partitions()
    return chunk_documents(doc.df, chunk_tokens=32, stride=24)


def weighted_sample_langs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement (operators/sampling.py
    weighted_sample): 20 docs per language drawn proportional to doc
    length via deterministic Efraimidis–Spirakis exponential priorities
    (md5-uniform, no RNG state) — reproducible across runs, engines,
    and partitionings. One keyed window shuffle."""
    from datamancer_spark.operators.sampling import weighted_sample

    doc = _t(spark, sf_dir, "documents")["documents"].df
    return weighted_sample(
        doc, "n_chars", 20, group_cols=["lang"]
    ).select("doc_id", "lang", "n_chars")


def purchase_followup_views(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-interval join (operators/timeseries.py interval_join):
    per purchase, how many of the SAME user's view events land in the
    hour after it ((ts, ts+1h] — 'right' closed). The non-equi interval
    condition executes as an equi-join on (user, time-bin) + exact
    filter, never a broadcast-nested-loop."""
    from datamancer_spark.operators.timeseries import interval_join

    ev = _t(spark, sf_dir, "events")["events"].df
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id"),
            F.col("ts").alias("p_start"),
            (F.col("ts") + F.expr("interval 1 hour")).alias("p_end"),
        )
    )
    views = ev.filter(F.col("event_type") == "view").select(
        F.col("user_id"), F.col("ts")
    )
    joined = interval_join(
        views,
        purchases,
        left_ts="ts",
        start_col="p_start",
        end_col="p_end",
        keys=["user_id"],
        bucket_seconds=3600,
        closed="right",
    )
    return (
        joined.groupBy("purchase_id", "user_id")
        .agg(F.count(F.lit(1)).alias("n_views"))
    )


def duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document duplicated-span detection (operators/quality.py
    duplicate_span_stats): hashed rolling 6-token windows, a window is
    duplicated when its token sequence appears in >= 2 distinct docs —
    the Spark-shaped stand-in for suffix-array exact substring dedup.
    Aggregated per source so the result is a compact, stable contract."""
    from datamancer_spark.operators.quality import duplicate_span_stats

    doc = _t(spark, sf_dir, "documents")["documents"].df
    per_doc = duplicate_span_stats(doc, window=6, min_docs=2)
    return (
        per_doc.join(doc.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(
            F.sum("n_windows").cast("long").alias("windows"),
            F.sum("n_dup_windows").cast("long").alias("dup_windows"),
            F.count(F.when(F.col("dup_span_frac") > 0, 1))
            .cast("long")
            .alias("docs_with_dups"),
        )
        .orderBy("source")
    )


def gopher_rule_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/MassiveText rule filter (operators/quality.py
    gopher_quality_filter): per-doc pass/fail with the fired rule names,
    so curation runs can audit rejections. Zero-shuffle projection.
    Driver shape: fail_reasons is serialized to a comma-joined string
    (the API keeps the array) — nested columns crash the driver's
    pandas canonicalizer (the r5 text_hash_embedding red)."""
    from datamancer_spark.operators.quality import gopher_quality_filter

    doc = _t(spark, sf_dir, "documents")["documents"].df
    out = gopher_quality_filter(doc)
    return out.select(
        "doc_id",
        "n_words",
        "pass",
        F.concat_ws(",", "fail_reasons").alias("fail_reasons"),
    )


def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware exact dedup (operators/dedup.py
    exact_dedup_keep_best): per duplicate group keep the capture with
    the highest quality score (smallest id on ties) - the curation-
    correct keeper rule for recrawled pages. max_by over a comparison
    struct: one partial-aggregated shuffle, no group sort."""
    from datamancer_spark.operators.dedup import exact_dedup_keep_best

    doc = _t(spark, sf_dir, "documents")["documents"].df
    scored = doc.withColumn("_q", T.quality_score(F.col("text")))
    return exact_dedup_keep_best(scored, "_q").select(
        "doc_id", "source", "lang"
    )


def lineitem_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlations over lineitem's numeric measures
    (operators/stats.py corr_matrix): one pass, C(n,2) corr aggregates
    sharing the scan, long-format output."""
    from datamancer_spark.operators.stats import corr_matrix

    li = _t(spark, sf_dir, "lineitem")["lineitem"].df
    return corr_matrix(
        li, ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    )


def lineitem_describe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """describe()-style long-format numeric summary
    (operators/stats.py describe_columns): one ungrouped aggregate."""
    from datamancer_spark.operators.stats import describe_columns

    li = _t(spark, sf_dir, "lineitem")["lineitem"].df
    return describe_columns(li, ["l_quantity", "l_extendedprice", "l_discount"])


def event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order event transition matrix (operators/retention.py
    event_transition_matrix): per-user time-ordered (from -> to) step
    counts and their share of steps leaving from_type."""
    from datamancer_spark.operators.retention import event_transition_matrix

    ev = _t(spark, sf_dir, "events")["events"].df
    return event_transition_matrix(ev)


def remove_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring removal (operators/quality.py
    remove_duplicate_spans): documents rebuilt with every token covered
    by a cross-document duplicated 6-token window dropped."""
    from datamancer_spark.operators.quality import remove_duplicate_spans

    doc = _t(spark, sf_dir, "documents")["documents"].df
    return remove_duplicate_spans(doc, window=6, min_docs=2)


def data_quality_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative expectation battery (operators/validate.py
    check_rules) over lineitem: range/set/null rules in one aggregate
    pass plus a uniqueness constraint on the composite line key."""
    from datamancer_spark.operators.validate import check_rules

    li = _t(spark, sf_dir, "lineitem")["lineitem"].df
    return check_rules(
        li,
        rules={
            "quantity_in_range": F.col("l_quantity").between(1, 50),
            "discount_bounded": F.col("l_discount").between(0.0, 0.1),
            "price_positive": F.col("l_extendedprice") > 0,
            "returnflag_in_set": F.col("l_returnflag").isin("A", "N", "R"),
            "orderkey_not_null": F.col("l_orderkey").isNotNull(),
        },
        unique={"line_key_unique": ["l_orderkey", "l_linenumber"]},
    )


def pipeline_curate_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-5 end-to-end curation composition, ONE Catalyst plan:
    Gopher rule gate -> cross-document duplicated-span REMOVAL -> drop
    docs left with < 5 tokens -> exact dedup on the CLEANED text
    (smallest id keeps) -> per-language rollup. The modern
    training-data prep shape: rules first (cheap, zero-shuffle), then
    span surgery, then dedup over what remains."""
    from datamancer_spark.operators.quality import (
        gopher_quality_filter,
        remove_duplicate_spans,
    )

    from datamancer_spark.session import materialize

    doc = _t(spark, sf_dir, "documents")["documents"].df
    # gate + tokenize in ONE scan-side projection, pinned with lang
    # riding along: the span-removal stage consumes the gated corpus
    # through several subtrees (window-hash explode, rebuild leg) and
    # would otherwise replay the scan + rule battery + tokenize per
    # consumer (r4: 13 scans / 32 exchanges; r5 gate pin: 1 / 20; r6
    # single-projection gate, no semi join: consumers read pinned token
    # arrays and the trailing lang join needs no second documents scan)
    gated = materialize(
        gopher_quality_filter(doc, passthrough=("lang",), keep_tokens=True)
        .filter(F.col("pass"))
        .select("doc_id", "lang", "_toks")
    )
    cleaned = remove_duplicate_spans(
        gated, window=6, min_docs=2, tokens_col="_toks"
    )
    # second pin: the cleaned corpus feeds BOTH the fingerprint dedup
    # and the final rollup leg — unpinned, each consumer re-evaluates
    # the whole span-removal subtree. Persisting the cleaned text
    # before dedup is exactly what a production curation pipeline does.
    kept = materialize(
        cleaned.filter(F.col("n_tokens") - F.col("n_removed") >= 5)
    )
    dedup_keep = (
        kept.select(
            "doc_id", T.fingerprint(F.col("clean_text")).alias("_fp")
        )
        .groupBy("_fp")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    final = kept.join(dedup_keep, "doc_id", "left_semi").join(
        gated.select("doc_id", "lang"), "doc_id"
    )
    return final.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        prnd(F.avg(F.col("n_tokens") - F.col("n_removed")), 4).alias(
            "avg_kept_tokens"
        ),
        F.sum("n_removed").cast("long").alias("total_removed"),
    )


def event_interarrival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-arrival cadence per event type (operators/retention.py
    interarrival_stats): seconds since the user's previous event,
    exact p50/p90 per arriving type."""
    from datamancer_spark.operators.retention import interarrival_stats

    ev = _t(spark, sf_dir, "events")["events"].df
    return interarrival_stats(ev)


def ab_conversion_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-split experiment rollup (operators/retention.py
    ab_test_report): per-arm users/converters/rate + two-proportion z
    vs arm 0."""
    from datamancer_spark.operators.retention import ab_test_report

    ev = _t(spark, sf_dir, "events")["events"].df
    return ab_test_report(ev)


def tfidf_similar_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse TF-IDF cosine similarity join (operators/tfidf.py
    tfidf_cosine_pairs): exact cosine over the inverted index, doc-freq
    cap pruning stop-word-class terms before the term self-join."""
    from datamancer_spark.operators.tfidf import tfidf_cosine_pairs

    doc = _t(spark, sf_dir, "documents")["documents"].df
    return tfidf_cosine_pairs(doc, threshold=0.5, max_doc_freq_frac=0.4)


def price_quantity_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-returnflag OLS of extendedprice on quantity
    (operators/stats.py grouped_linfit): one partial-aggregated pass
    computing the five OLS sums per group."""
    from datamancer_spark.operators.stats import grouped_linfit

    li = _t(spark, sf_dir, "lineitem")["lineitem"].df
    return grouped_linfit(
        li, ["l_returnflag"], "l_quantity", "l_extendedprice", digits=4
    )


# masks with bits at {3,17,33,49,61}, cumulatively — Hamming between
# mask_i and mask_j is exactly |i-j|, giving the dhash pair join a
# controlled spread of distances to accept (<=3) and reject (4,5)
_DHASH_MASKS = [0, 8, 131080, 8590065672, 562958543486984, 2306405967757180936]


def image_dhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash near-dup pair join (operators/multimodal.py
    dhash_pairs → operators/dedup.py hamming_band_pairs): the banded
    Hamming-LSH engine driver-checked on DETERMINISTIC synthetic 64-bit
    signatures (portable md5 base per doc_id%37 group XOR a bit mask
    cycling doc_id%6, so same-group docs sit exactly |m_i-m_j| bits
    apart). The band join is pigeonhole-EXACT for hamming <= bands-1,
    so a brute-force DuckDB twin must match it bit for bit. The real
    image path (PNG/GIF decode → dhash64_gray) is pytest-proven against
    encoded fixtures — the testdata tables carry no image blobs."""
    return _synthetic_dhash_pairs(spark, sf_dir, max_hamming=3, bands=4)


def image_dhash_pairs_b8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The bands=8 tier of the shared Hamming band engine
    (operators/dedup.py hamming_band_pairs) under the driver gate:
    same deterministic synthetic signatures as image_dhash_pairs, but
    radius 7 with 8-bit blocks — pigeonhole-exact for hamming <= 7, so
    EVERY intra-group pair (mask distances 1..5) must surface. The
    blowup posture (8 probes/sig, bounded candidate sets) is measured
    in SCALING.md."""
    return _synthetic_dhash_pairs(spark, sf_dir, max_hamming=7, bands=8)


def _synthetic_dhash_pairs(
    spark: SparkSession, sf_dir: str, max_hamming: int, bands: int
) -> DataFrame:
    """``hamming_band_pairs`` over the synthetic signatures shared by
    image_dhash_pairs and image_dhash_pairs_b8."""
    from datamancer_spark.operators.dedup import (
        hamming_band_pairs,
        portable_hash,
    )
    from datamancer_spark.session import materialize

    doc = _t(spark, sf_dir, "documents")["documents"].df
    base = portable_hash((F.col("doc_id") % 37).cast("string"), seed=11)
    mask = F.element_at(
        F.array(*[F.lit(m) for m in _DHASH_MASKS]),
        (F.col("doc_id") % 6 + 1).cast("int"),
    )
    sigs = materialize(
        doc.select("doc_id", base.bitwiseXOR(mask).alias("dhash"))
    )
    return hamming_band_pairs(
        sigs, "dhash", "doc_id", max_hamming=max_hamming, bands=bands
    ).select("id_a", "id_b", F.col("hamming").cast("int").alias("hamming"))


# -- media fixture tier (VERDICT r7 #3 / r8 #2): the driver tables carry
# -- no blobs, so these queries MANUFACTURE deterministic media blobs
# -- executor-side (operators/fixtures.py) whose REAL decode outputs a
# -- DuckDB oracle predicts in closed form — the decode/resize/coverage/
# -- curation operators themselves run unmodified.


def image_decode_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL PNG decode under the driver gate (operators/multimodal.py
    decode_images ← png_decode_array): one solid-color PNG per doc_id
    with arithmetic dims/color; the decoded (width, height, channels,
    mean_intensity) must match the closed form exactly — channel sums
    are multiples of 3 so the mean is an exact multiple of 1/15."""
    from datamancer_spark.operators.fixtures import (
        solid_png_blob,
        synth_blob_frame,
    )
    from datamancer_spark.operators.multimodal import decode_images

    doc = _t(spark, sf_dir, "documents")["documents"].df
    ids = doc.select(F.col("doc_id").cast("string").alias("path"))
    blobs = synth_blob_frame(ids, solid_png_blob, id_col="path")
    return decode_images(blobs).select(
        F.col("path").cast("long").alias("doc_id"),
        "width",
        "height",
        "channels",
        "mean_intensity",
    )


def resize_thumbs_rgb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """resize_images under the driver gate: solid PNGs → 16×16
    box-resampled thumbnails (re-encoded through the product PNG
    writer) → decoded AGAIN — a full decode→resize→encode→decode round
    trip per row. Solid color is invariant under exact-area resample,
    so the thumb's mean equals the source color's and the dims pin
    both stages."""
    from datamancer_spark.operators.fixtures import (
        solid_png_blob,
        synth_blob_frame,
    )
    from datamancer_spark.operators.multimodal import (
        decode_images,
        resize_images,
    )

    doc = _t(spark, sf_dir, "documents")["documents"].df
    ids = doc.select(F.col("doc_id").cast("string").alias("path"))
    blobs = synth_blob_frame(ids, solid_png_blob, id_col="path")
    thumbs = resize_images(blobs, width=16, height=16)
    dec = decode_images(
        thumbs.select("path", F.col("thumb").alias("content"))
    ).select(
        "path",
        F.col("width").alias("thumb_w"),
        F.col("height").alias("thumb_h"),
        F.col("mean_intensity").alias("thumb_mean"),
    )
    return (
        thumbs.select(
            "path",
            F.col("width").alias("src_w"),
            F.col("height").alias("src_h"),
        )
        .join(dec, "path")
        .select(
            F.col("path").cast("long").alias("doc_id"),
            "src_w",
            "src_h",
            "thumb_w",
            "thumb_h",
            "thumb_mean",
        )
    )


def audio_decode_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL WAV PCM16 decode under the driver gate
    (operators/multimodal.py audio_features ← wav_decode_samples ←
    audio_decode_array): constant-amplitude fixtures whose normalized
    RMS is exactly k/8 and duration an exact 6-decimal value."""
    from datamancer_spark.operators.fixtures import (
        synth_blob_frame,
        wav_const_blob,
    )
    from datamancer_spark.operators.multimodal import audio_features

    doc = _t(spark, sf_dir, "documents")["documents"].df
    ids = doc.select(F.col("doc_id").cast("string").alias("path"))
    blobs = synth_blob_frame(ids, wav_const_blob, id_col="path")
    feats = audio_features(blobs, envelope_bins=4)
    return feats.select(
        F.col("path").cast("long").alias("doc_id"),
        "duration_s",
        "sample_rate",
        F.element_at("loudness", 1).alias("rms_first"),
        F.element_at("loudness", 4).alias("rms_last"),
    )


def media_decode_coverage_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """media_decode_coverage under the driver gate over an 11-format
    fixture mix cycling doc_id % 11: real PNG, real WAV, real MP3 WITH
    window-switching granules (the classifier's all-frames side-info
    walk must parse them), the r8 adversarial truncated-fmt WAV
    (classifies (wav, False), must not kill the task), Ogg/MP4
    metadata-only stubs, real Ogg VORBIS (r9: classifies (ogg, True)
    via the setup-header capability walk — the ogg screenable fraction
    is strictly between 0 and 1), real BMP (r9), real TIFF (r9: the
    IFD capability walk), real lossless WebP (r9: VP8L — the
    classifier dry-runs the FULL symbol stream), and bare ADTS-AAC
    (r10: the chained frame-length walk classifies (aac/adts, False) —
    an ADTS header also satisfies the loose MPEG sync, so this tier
    pins that the disambiguation beats the mp3 branch)."""
    from datamancer_spark.operators.fixtures import (
        mix_blob,
        synth_blob_frame,
    )
    from datamancer_spark.operators.multimodal import (
        media_decode_coverage,
    )

    doc = _t(spark, sf_dir, "documents")["documents"].df
    blobs = synth_blob_frame(doc.select("doc_id"), mix_blob)
    return media_decode_coverage(blobs)


def image_dhash_real_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REAL perceptual image pipeline under the driver gate
    (operators/multimodal.py dhash_pairs: PNG decode → box resample →
    dhash64_gray → banded Hamming join): patterned grayscale PNGs
    engineered so each image's dHash EQUALS the arithmetic signature
    of image_dhash_pairs — the decode+hash stage must reproduce every
    bit or the brute-force DuckDB twin diverges."""
    from datamancer_spark.operators.fixtures import (
        pattern_png_blob,
        synth_blob_frame,
    )
    from datamancer_spark.operators.multimodal import dhash_pairs

    doc = _t(spark, sf_dir, "documents")["documents"].df
    blobs = synth_blob_frame(doc.select("doc_id"), pattern_png_blob)
    return dhash_pairs(
        blobs, id_col="doc_id", max_hamming=3, bands=4
    ).select("id_a", "id_b", F.col("hamming").cast("int").alias("hamming"))


def audio_dhash_real_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REAL perceptual audio pipeline under the driver gate
    (operators/multimodal.py dhash_pairs(kind="audio"): WAV PCM16 decode →
    65-frame RMS envelope → audio_dhash64 → banded Hamming join):
    amplitude-walk WAV fixtures engineered so each clip's fingerprint
    EQUALS the arithmetic signature of image_dhash_pairs — decode +
    envelope + hash must reproduce every bit or the brute-force DuckDB
    twin diverges."""
    from datamancer_spark.operators.fixtures import (
        synth_blob_frame,
        wav_dhash_blob,
    )
    from datamancer_spark.operators.multimodal import dhash_pairs

    doc = _t(spark, sf_dir, "documents")["documents"].df
    blobs = synth_blob_frame(doc.select("doc_id"), wav_dhash_blob)
    return dhash_pairs(
        blobs, id_col="doc_id", max_hamming=3, bands=4, kind="audio"
    ).select("id_a", "id_b", F.col("hamming").cast("int").alias("hamming"))


def curate_audio_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end curate_audio composition under the driver gate
    (operators/multimodal.py curate_audio: metadata gates → exact byte
    dedup → dhash_pairs(kind="audio") → connected components → canonical
    keep): amplitude-walk WAVs (fingerprint = the (doc_id%37,
    doc_id%6) group signature) mixed with undecodable Ogg stubs. At
    max_hamming=0 the perceptual clusters are the signature-equality
    groups, so the survivor set is closed-form — min doc_id per (g, m)
    among WAVs plus every stub (a screen never drops what it cannot
    read)."""
    from datamancer_spark.operators.fixtures import (
        ogg_stub_blob,
        synth_blob_frame,
        wav_dhash_blob,
    )
    from datamancer_spark.operators.multimodal import curate_audio

    doc = _t(spark, sf_dir, "documents")["documents"].df
    blobs = synth_blob_frame(
        doc.select("doc_id"),
        lambda i: ogg_stub_blob(i) if i % 11 == 0 else wav_dhash_blob(i),
    )
    survivors, _coverage = curate_audio(
        blobs, id_col="doc_id", max_hamming=0, bands=4
    )
    return survivors.select("doc_id")


def curate_media_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end curate_media composition under the driver gate: a mix
    of patterned PNGs (doc_id % 11 != 0; dHash = the (doc_id%37,
    doc_id%6) group signature) and undecodable Ogg stubs. At
    max_hamming=0 the perceptual clusters are exactly the
    signature-equality groups, so the survivor set is closed-form: the
    min doc_id per (g, m) among PNGs, plus every Ogg (a screen never
    drops what it cannot read)."""
    from datamancer_spark.operators.fixtures import (
        ogg_stub_blob,
        pattern_png_blob,
        synth_blob_frame,
    )
    from datamancer_spark.operators.multimodal import curate_media

    doc = _t(spark, sf_dir, "documents")["documents"].df
    blobs = synth_blob_frame(
        doc.select("doc_id"),
        lambda i: ogg_stub_blob(i) if i % 11 == 0 else pattern_png_blob(i),
    )
    survivors, _coverage = curate_media(
        blobs, id_col="doc_id", max_hamming=0, bands=4
    )
    return survivors.select("doc_id")


def image_decode_multiformat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL pixel decode of all four no-codec-library image decoders
    under one driver gate (doc_id % 4 → PNG / BMP 24-bit / TIFF
    PackBits gray / lossless WebP): dims, channel count and mean
    intensity are closed-form doc_id arithmetic — the exact-mean color
    family makes every mean a terminating decimal, so a wrong pixel
    ANYWHERE (filter, stride, RLE run, LZ77 copy, transform inverse)
    shifts the mean and fails the hash compare."""
    from datamancer_spark.operators.fixtures import (
        bmp_exact_blob,
        solid_png_blob,
        synth_blob_frame,
        tiff_exact_blob,
        webp_exact_blob,
    )
    from datamancer_spark.operators.multimodal import decode_images

    gens = [solid_png_blob, bmp_exact_blob, tiff_exact_blob, webp_exact_blob]
    doc = _t(spark, sf_dir, "documents")["documents"].df
    ids = doc.select(F.col("doc_id").cast("string").alias("path"))
    blobs = synth_blob_frame(ids, lambda i: gens[i % 4](i), id_col="path")
    dec = decode_images(blobs, bin_col="content")
    return dec.select(
        F.col("path").cast("long").alias("doc_id"),
        "width",
        "height",
        "channels",
        "mean_intensity",
    )


def warc_ingest_crawl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The crawl→corpus front end under the driver gate
    (operators/warc.py ingest_warc: WARC record walk → HTTP payload
    decode → 2xx-HTML filter → Catalyst HTML→text): deterministic WARC
    fixtures (fixtures.warc_blob) covering per-record gzip members vs
    plain WARC, chunked transfer-encoding, gzip content-encoding and a
    dropped-404 per cycle. The extracted TEXT itself is compared —
    DuckDB rebuilds the exact expected string per (doc_id, k) from the
    closed form."""
    from datamancer_spark.operators.fixtures import (
        synth_blob_frame,
        warc_blob,
    )
    from datamancer_spark.operators.warc import ingest_warc

    doc = _t(spark, sf_dir, "documents")["documents"].df
    blobs = synth_blob_frame(doc.select("doc_id"), warc_blob)
    out = ingest_warc(blobs)
    return out.select(
        "doc_id",
        "rec_idx",
        "url",
        "host",
        "text",
        F.size(F.split("text", " ")).alias("n_words"),
    )


def warc_charset_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Charset-aware WARC payload decode under the driver gate (r12,
    VERDICT r11 #2: operators/warc.py charset_of / decode_payload_text).
    Six pages per doc cover every decode arm — windows-1252 via HTTP
    header, iso-8859-1 via <meta> sniff (the WHATWG fold into cp1252),
    UTF-8 BOM, an unsupported shift_jis label (loud refusal: text NULL,
    charset column says why), the documented UTF-8 no-declaration
    default, and UTF-16LE via BOM. The extracted text is md5-pinned
    byte-for-byte: the twin rebuilds every expected string from chr()
    codepoints, so ONE wrong byte anywhere in the sniff order, the
    0x80-0x9F translate map, or the BOM strip fails the hash."""
    from datamancer_spark.operators.fixtures import (
        synth_blob_frame,
        warc_charset_blob,
    )
    from datamancer_spark.operators.warc import ingest_warc

    doc = _t(spark, sf_dir, "documents")["documents"].df
    blobs = synth_blob_frame(doc.select("doc_id"), warc_charset_blob)
    out = ingest_warc(blobs)
    return out.select(
        "doc_id",
        "rec_idx",
        "charset",
        "text",
        F.md5(F.encode(F.col("text"), "UTF-8")).alias("text_md5"),
    )


def warc_charset_fallback(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The charset LONG TAIL under the driver gate (r12,
    operators/warc.py ingest_warc_with_fallback): rows whose label the
    JVM tier refuses decode through the Python-codec pandas_udf slow
    arm — shift_jis katakana and meta-sniffed gb2312 hanzi decode
    byte-exactly (md5-pinned against chr()-codepoint twins), while an
    unknown label keeps the loud-refusal contract THROUGH the fallback
    (text NULL). The frame split keeps the fast path whole-stage
    codegen; only refused rows ever reach Python."""
    from datamancer_spark.operators.fixtures import (
        synth_blob_frame,
        warc_charset_tail_blob,
    )
    from datamancer_spark.operators.warc import ingest_warc_with_fallback

    doc = _t(spark, sf_dir, "documents")["documents"].df
    blobs = synth_blob_frame(doc.select("doc_id"), warc_charset_tail_blob)
    out = ingest_warc_with_fallback(blobs)
    return out.select(
        "doc_id",
        "rec_idx",
        "charset",
        "text",
        F.md5(F.encode(F.col("text"), "UTF-8")).alias("text_md5"),
    )


def pipeline_from_crawl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The crawl→corpus CAPSTONE: ONE composition from WARC bytes to a
    curated survivor corpus — ingest_warc (record walk → HTTP decode →
    2xx-HTML filter → Catalyst HTML→text) → quality gate (n_words ≥ 10
    AND distinct-token ratio ≥ 0.5) → exact dedup (min page keeps) →
    fuzzy dedup (exact trigram Jaccard ≥ 0.8 over the deduplicated
    corpus; a page drops when any smaller page is near-identical).
    Every stage is individually driver-proven; this query proves the
    SEAM. The fixture (fixtures.warc_corpus_blob) namespaces tokens so
    every Jaccard is exact arithmetic: survivors are closed-form — one
    cluster page per doc_id%50 class (the min doc's) plus every doc's
    unique page; near-dups (J = 35/41 ≥ 0.8537), spam and 404s all
    drop. The fuzzy stage here is the EXACT tier (deterministic, so
    the DuckDB twin can enumerate survivors in closed form); the
    LSH-verified tier is the 100-TB path and is driver-proven
    separately (dedup_minhash_verified)."""
    from datamancer_spark.operators.dedup import (
        exact_dedup_keep,
        ngram_jaccard_pairs,
    )
    from datamancer_spark.operators.fixtures import (
        synth_blob_frame,
        warc_corpus_blob,
    )
    from datamancer_spark.operators.warc import ingest_warc
    from datamancer_spark.session import materialize

    doc = _t(spark, sf_dir, "documents")["documents"].df
    blobs = synth_blob_frame(doc.select("doc_id"), warc_corpus_blob)
    pages = ingest_warc(blobs)
    toks = F.split(F.col("text"), " ")
    gated = pages.filter(
        (F.size(toks) >= 10)
        & (F.size(F.array_distinct(toks)) / F.size(toks) >= 0.5)
    ).withColumn(
        # page-level total order: rec_idx < 8 by construction, so the
        # packed key preserves (doc_id, rec_idx) ordering
        "page_id",
        F.col("doc_id") * 8 + F.col("rec_idx"),
    )
    # pin: the deduplicated corpus feeds BOTH the jaccard pair join and
    # the final anti-join — unpinned, the whole WARC decode mapInPandas
    # would re-execute per consumer
    kept = materialize(exact_dedup_keep(gated, "text", "page_id"))
    pairs = ngram_jaccard_pairs(
        kept, "text", "page_id", shingle_n=3, threshold=0.8
    )
    # the engineered clusters are cliques, so "drop every page that is
    # the greater member of any pair" == keep-min-per-component
    drop = pairs.select(F.col("id_b").alias("page_id")).distinct()
    surv = kept.join(drop, "page_id", "left_anti")
    return surv.select(
        "doc_id",
        "rec_idx",
        "url",
        "host",
        "text",
        F.size(F.split("text", " ")).alias("n_words"),
    )


def pipeline_from_crawl_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The crawl→corpus capstone with the PRODUCTION fuzzy tier (VERDICT
    r10 #1): WARC bytes → quality gate → exact dedup → **MinHash-LSH
    candidates → exact-Jaccard verify** → survivor corpus, ONE plan.
    ``pipeline_from_crawl`` proves the seam with the exact-Jaccard tier
    (closed-form, but quadratic in shared-vocabulary docs); THIS is the
    plan a 100-TB run executes — LSH bounds the candidate set linearly,
    the exact verification runs only on the candidate subgraph
    (dedup.minhash_dedup_verified), and every other stage is identical.

    The survivor twin stays closed-form because the verified tier's
    OUTPUT equals the exact tier's whenever LSH candidates superset the
    true pairs: false candidates die in the exact-Jaccard verify, so
    only false NEGATIVES could diverge. Band geometry is pinned at
    r=1 (num_hashes=16, bands=16): a true near-dup pair (J = 35/41 ≥
    0.8537 by the fixture's token namespacing) escapes all 16
    single-slot bands with probability ≤ (1−0.8537)^16 ≈ 5e-14, and
    the md5-seeded MinHash makes the candidate set deterministic —
    tests/test_plans.py asserts the superset on the fixture outright.
    r=1 trades candidate precision for recall, which is exactly right
    when a downstream exact verify exists; cross-namespace docs share
    zero shingles, so spurious candidates need raw 32-bit min-hash
    value collisions (~1e-9/slot-pair) and cost one verify row each."""
    from datamancer_spark.operators.dedup import (
        exact_dedup_keep,
        minhash_dedup_verified,
    )
    from datamancer_spark.operators.fixtures import (
        synth_blob_frame,
        warc_corpus_blob,
    )
    from datamancer_spark.operators.warc import ingest_warc
    from datamancer_spark.session import materialize

    doc = _t(spark, sf_dir, "documents")["documents"].df
    blobs = synth_blob_frame(doc.select("doc_id"), warc_corpus_blob)
    pages = ingest_warc(blobs)
    toks = F.split(F.col("text"), " ")
    gated = pages.filter(
        (F.size(toks) >= 10)
        & (F.size(F.array_distinct(toks)) / F.size(toks) >= 0.5)
    ).withColumn("page_id", F.col("doc_id") * 8 + F.col("rec_idx"))
    kept = materialize(exact_dedup_keep(gated, "text", "page_id"))
    pairs = minhash_dedup_verified(
        kept,
        "text",
        "page_id",
        num_hashes=16,
        bands=16,
        shingle_n=3,
        threshold=0.8,
    )
    drop = pairs.select(F.col("id_b").alias("page_id")).distinct()
    surv = kept.join(drop, "page_id", "left_anti")
    return surv.select(
        "doc_id",
        "rec_idx",
        "url",
        "host",
        "text",
        F.size(F.split("text", " ")).alias("n_words"),
    )


def crawl_delay_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Politeness budgeting under the driver gate (r12,
    operators/robots.py robots_crawl_delays — the de facto REP
    Crawl-delay extension with RFC group semantics): per host, the
    agent's effective delay joins the host's page count into an
    estimated serial fetch time — the number a crawl scheduler
    partitions work by. The fixture exercises the subtle group rule:
    hosts ≡2 (mod 3) have a datamancer group WITHOUT a delay, so the
    wildcard group's delay must NOT leak through (absent, not 9)."""
    from datamancer_spark.operators.robots import robots_crawl_delays

    doc = _t(spark, sf_dir, "documents")["documents"].df
    hosts = spark.range(7).select(
        F.col("id").alias("h"),
        F.concat(F.lit("s"), F.col("id").cast("string"), F.lit(".example"))
        .alias("host"),
    )
    robots = hosts.select(
        "host",
        F.concat(
            F.lit("User-agent: datamancer\nAllow: /\n"),
            F.when(
                F.col("h") % 3 != 2,
                F.concat(
                    F.lit("Crawl-delay: "),
                    (F.col("h") % 4 + 1).cast("string"),
                    F.lit("\n"),
                ),
            ).otherwise(F.lit("")),
            F.when(
                F.col("h") % 2 == 0,
                F.lit("\nUser-agent: *\nCrawl-delay: 9\n"),
            ).otherwise(F.lit("")),
        ).alias("robots_txt"),
    )
    delays = robots_crawl_delays(robots, "datamancer")
    pages = doc.select(
        F.concat(
            F.lit("s"), (F.col("doc_id") % 7).cast("string"),
            F.lit(".example"),
        ).alias("host")
    ).groupBy("host").agg(F.count(F.lit(1)).alias("n_pages"))
    return pages.join(delays, "host", "left").select(
        "host",
        "crawl_delay",
        "n_pages",
        (F.col("n_pages") * F.col("crawl_delay")).alias("est_seconds"),
    )


def frontier_fetch_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Politeness fetch scheduling under the driver gate (r12,
    operators/robots.py politeness_schedule): the discovery seam's
    last step — a frontier of URLs joins the hosts' effective
    Crawl-delay (parsed by the real robots parser from the same
    strict-group fixture as crawl_delay_budget, including the
    exact-group-hides-'*' arm where the default delay applies) and
    each URL gets a deterministic per-host fetch rank plus its serial
    ETA. The twin recomputes the group-semantics delay in closed form
    and the identical portable-hash rank/ETA arithmetic."""
    from datamancer_spark.operators.robots import (
        politeness_schedule,
        robots_crawl_delays,
    )

    doc = _t(spark, sf_dir, "documents")["documents"].df
    hosts = spark.range(7).select(
        F.col("id").alias("h"),
        F.concat(F.lit("s"), F.col("id").cast("string"), F.lit(".example"))
        .alias("host"),
    )
    robots = hosts.select(
        "host",
        F.concat(
            F.lit("User-agent: datamancer\nAllow: /\n"),
            F.when(
                F.col("h") % 3 != 2,
                F.concat(
                    F.lit("Crawl-delay: "),
                    (F.col("h") % 4 + 1).cast("string"),
                    F.lit("\n"),
                ),
            ).otherwise(F.lit("")),
            F.when(
                F.col("h") % 2 == 0,
                F.lit("\nUser-agent: *\nCrawl-delay: 9\n"),
            ).otherwise(F.lit("")),
        ).alias("robots_txt"),
    )
    delays = robots_crawl_delays(robots, "datamancer")
    frontier = doc.select(
        F.concat(
            F.lit("s"), (F.col("doc_id") % 7).cast("string"),
            F.lit(".example"),
        ).alias("host"),
        F.concat(
            F.lit("http://s"), (F.col("doc_id") % 7).cast("string"),
            F.lit(".example/p/"), F.col("doc_id").cast("string"),
        ).alias("url"),
    )
    return politeness_schedule(frontier, delays, default_delay=1.0)


def robots_crawl_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """robots.txt URL gating under the driver gate (r11,
    operators/robots.py — RFC 9309 relationally, zero UDFs): per-host
    robots text is built IN-PLAN (host arithmetic), parsed with the
    real parser (line explode → directive classify → group windows),
    and the capstone crawl pages gate against it as agent
    'datamancer'. Every RFC behavior lands in the closed form: group
    selection hides the '*' group on every even host (its
    'Disallow: /' would deny everything — invisible because the
    datamancer group exists), longest-match precedence with the
    wildcard+anchor pattern '/nd/*0$' overrides 'Disallow: /nd/' for
    docs ≡ 0 (mod 10), '/spam/' denies, and hosts ≡ 0 (mod 3) carry
    an extra 'Disallow: /u/'. Outcomes per page are pure doc_id
    arithmetic — the DuckDB twin enumerates them."""
    from datamancer_spark.operators.fixtures import (
        synth_blob_frame,
        warc_corpus_blob,
    )
    from datamancer_spark.operators.robots import (
        parse_robots,
        robots_url_filter,
    )
    from datamancer_spark.operators.warc import ingest_warc

    doc = _t(spark, sf_dir, "documents")["documents"].df
    blobs = synth_blob_frame(doc.select("doc_id"), warc_corpus_blob)
    pages = ingest_warc(blobs)
    hosts = spark.range(7).select(
        F.concat(F.lit("s"), F.col("id").cast("string"), F.lit(".example"))
        .alias("host"),
        F.col("id").alias("h"),
    )
    robots = hosts.select(
        "host",
        F.concat(
            F.lit(
                "# crawl policy\n"
                "User-Agent: datamancer\n"
                "Allow: /c/\n"
                "Disallow: /nd/\n"
                "Allow: /nd/*0$\n"
                "DISALLOW: /spam/\n"
            ),
            F.when(F.col("h") % 3 == 0, F.lit("Disallow: /u/\n")).otherwise(
                F.lit("")
            ),
            F.when(
                F.col("h") % 2 == 0,
                F.lit("\nUser-agent: *\nDisallow: /\n"),
            ).otherwise(F.lit("")),
        ).alias("robots_txt"),
    )
    rules = parse_robots(robots)
    out = robots_url_filter(pages, rules, "datamancer")
    return out.select(
        "doc_id", "rec_idx", "url", "host", "robots_allowed",
        "matched_pattern",
    )


_SM_NS = 'xmlns="http://www.sitemaps.org/schemas/sitemap/0.9"'


def _sitemap_fixture(spark: SparkSession, doc: DataFrame):
    """(robots, fetched) frames for the discovery-seam gates: 7 hosts,
    per host a robots.txt naming an index + a direct urlset, the index
    resolving to sm_a.xml (even docs, WITH lastmod) and sm_b.xml (odd
    docs, no lastmod); direct.xml carries an entity-escaped start URL
    plus every doc_id%10==0 page again. All doc_id arithmetic — both
    twins enumerate the resulting frontier in closed form."""
    hosts = spark.range(7).select(
        F.col("id").alias("h"),
        F.concat(F.lit("s"), F.col("id").cast("string"), F.lit(".example"))
        .alias("host"),
    )
    robots = hosts.select(
        "h",
        "host",
        F.concat(
            F.lit("User-agent: datamancer\nAllow: /\n"),
            F.when(F.col("h") % 3 == 0, F.lit("Disallow: /d/\n"))
            .otherwise(F.lit("")),
            F.lit("Sitemap: http://"), F.col("host"),
            F.lit("/sitemap_index.xml\n"),
            F.lit("Sitemap: http://"), F.col("host"),
            F.lit("/direct.xml\n"),
        ).alias("robots_txt"),
    )
    d = doc.select(
        F.col("doc_id"),
        (F.col("doc_id") % 7).alias("h"),
        F.concat(
            F.lit("s"), (F.col("doc_id") % 7).cast("string"),
            F.lit(".example"),
        ).alias("host"),
    )
    page_loc = F.concat(
        F.lit("http://"), F.col("host"), F.lit("/d/"),
        F.col("doc_id").cast("string"),
    )
    lastmod = F.concat(
        F.lit("2026-01-"),
        F.lpad((F.col("doc_id") % 28 + 1).cast("string"), 2, "0"),
    )
    entry_with = F.concat(
        F.lit("<url><loc>"), page_loc, F.lit("</loc><lastmod>"),
        lastmod, F.lit("</lastmod></url>"),
    )
    entry_bare = F.concat(
        F.lit("<url><loc>"), page_loc, F.lit("</loc></url>"),
    )

    def _urlset(body: "F.Column") -> "F.Column":
        return F.concat(
            F.lit(f"<urlset {_SM_NS}>"), body, F.lit("</urlset>")
        )

    def _grouped(frame, entry):
        return frame.select("h", entry.alias("e")).groupBy("h").agg(
            F.concat_ws("", F.array_sort(F.collect_list("e"))).alias("body")
        )

    sm_a = hosts.join(
        _grouped(d.filter(F.col("doc_id") % 2 == 0), entry_with), "h", "left"
    ).select(
        "host",
        F.concat(F.lit("http://"), F.col("host"), F.lit("/sm_a.xml"))
        .alias("sitemap_url"),
        _urlset(F.coalesce(F.col("body"), F.lit(""))).alias("xml"),
    )
    sm_b = hosts.join(
        _grouped(d.filter(F.col("doc_id") % 2 == 1), entry_bare), "h", "left"
    ).select(
        "host",
        F.concat(F.lit("http://"), F.col("host"), F.lit("/sm_b.xml"))
        .alias("sitemap_url"),
        _urlset(F.coalesce(F.col("body"), F.lit(""))).alias("xml"),
    )
    start_entry = F.concat(
        F.lit("<url><loc>http://"), F.col("host"),
        F.lit("/start?a=1&amp;b=2</loc></url>"),
    )
    direct = hosts.join(
        _grouped(d.filter(F.col("doc_id") % 10 == 0), entry_bare),
        "h",
        "left",
    ).select(
        "host",
        F.concat(F.lit("http://"), F.col("host"), F.lit("/direct.xml"))
        .alias("sitemap_url"),
        _urlset(
            F.concat(start_entry, F.coalesce(F.col("body"), F.lit("")))
        ).alias("xml"),
    )
    index = hosts.select(
        "host",
        F.concat(
            F.lit("http://"), F.col("host"), F.lit("/sitemap_index.xml")
        ).alias("sitemap_url"),
        F.concat(
            F.lit(f"<sitemapindex {_SM_NS}>"),
            F.lit("<sitemap><loc>http://"), F.col("host"),
            F.lit("/sm_a.xml</loc></sitemap>"),
            F.lit("<sitemap><loc>http://"), F.col("host"),
            F.lit("/sm_b.xml</loc></sitemap>"),
            F.lit("</sitemapindex>"),
        ).alias("xml"),
    )
    fetched = index.unionByName(sm_a).unionByName(sm_b).unionByName(direct)
    return robots, fetched


def sitemap_discovery_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The crawl-DISCOVERY seam as ONE plan (r12, VERDICT r11 #3:
    operators/sitemap.py): robots.txt names the sitemaps
    (robots_sitemaps), a sitemapindex resolves one level against the
    fetched-docs frame, urlsets become the (host, url, lastmod,
    n_sources) frontier, and the frontier gates back through the SAME
    robots rules (robots_url_filter) — the companion seam to
    pipeline_crawl_production's fetch side.

    Everything is built in-plan from doc_id arithmetic (see
    _sitemap_fixture): the optional-lastmod alignment case lives in
    sm_b, the n_sources=2 overlap in direct.xml, the entity-escaped
    start URL per host; hosts ≡0 (mod 3) Disallow /d/. The twin
    enumerates the closed form."""
    from datamancer_spark.operators.robots import (
        parse_robots,
        robots_sitemaps,
        robots_url_filter,
    )
    from datamancer_spark.operators.sitemap import sitemap_url_frontier

    doc = _t(spark, sf_dir, "documents")["documents"].df
    robots, fetched = _sitemap_fixture(spark, doc)
    ep = robots_sitemaps(robots)
    frontier = sitemap_url_frontier(fetched, entry_points=ep)
    rules = parse_robots(robots)
    gated = robots_url_filter(frontier, rules, "datamancer")
    return gated.select(
        "host",
        "url",
        "lastmod",
        F.col("n_sources").cast("long").alias("n_sources"),
        "robots_allowed",
    )


def frontier_bloom_tofetch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL discovery under the driver gate (r12): the sitemap
    frontier probes a Bloom filter of already-crawled URLs — the seam
    a recurring crawl actually runs (discovery emits millions of URLs
    per cycle, almost all already fetched; the zero-shuffle Bloom
    probe discards the bulk before any exact anti-join touches the
    crawled-URL index). Crawled set = every doc_id%3==0 page URL plus
    all start URLs (arithmetic, so the twin rebuilds the same 2048-bit
    occupied-position frame from md5). Output per frontier URL:
    (host, url, maybe_seen, is_crawled, contract_ok) — maybe_seen
    False ⇒ definitely new (fetch it), contract_ok pins the
    no-false-negative Bloom contract in BOTH engines; real false
    positives exist at this occupancy, so the flags are non-trivial."""
    from datamancer_spark.operators.dedup import (
        bloom_build,
        bloom_maybe_contains,
    )
    from datamancer_spark.operators.robots import robots_sitemaps
    from datamancer_spark.operators.sitemap import sitemap_url_frontier
    from datamancer_spark.session import materialize

    doc = _t(spark, sf_dir, "documents")["documents"].df
    robots, fetched = _sitemap_fixture(spark, doc)
    frontier = sitemap_url_frontier(
        fetched, entry_points=robots_sitemaps(robots)
    ).select("host", "url")
    crawled = materialize(
        doc.filter(F.col("doc_id") % 3 == 0)
        .select(
            F.concat(
                F.lit("http://s"),
                (F.col("doc_id") % 7).cast("string"),
                F.lit(".example/d/"),
                F.col("doc_id").cast("string"),
            ).alias("url")
        )
        .unionByName(
            spark.range(7).select(
                F.concat(
                    F.lit("http://s"),
                    F.col("id").cast("string"),
                    F.lit(".example/start?a=1&b=2"),
                ).alias("url")
            )
        )
    )
    bloom = bloom_build(crawled, "url", num_bits=2048, num_hashes=4)
    probed = bloom_maybe_contains(frontier, bloom, "url", 2048, 4)
    crawled_set = crawled.select(F.col("url").alias("_curl")).distinct()
    return (
        probed.join(
            F.broadcast(crawled_set),
            F.col("url") == F.col("_curl"),
            "left",
        )
        .select(
            "host",
            "url",
            "maybe_seen",
            F.col("_curl").isNotNull().alias("is_crawled"),
            (
                F.col("maybe_seen") | F.col("_curl").isNull()
            ).alias("contract_ok"),
        )
    )


def pipeline_crawl_production(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPLETE production crawl front end as ONE plan (r11): WARC
    bytes → ingest → robots.txt gate (RFC 9309, agent 'datamancer') →
    URL quality screen (host blocklist + blocked terms) → text quality
    gate → exact dedup → MinHash-LSH candidates → exact-Jaccard verify
    → survivor corpus. Every stage is individually driver-proven
    (warc_ingest_crawl, robots_crawl_gate, crawl_url_screen,
    pipeline_from_crawl_lsh); THIS query proves the full seam a real
    crawl run executes. Survivors stay closed-form on the capstone
    fixture: robots denies /u/ on hosts ≡ 0 (mod 3) and the URL screen
    denies host s0, so the keeper of each doc_id%50 cluster class is
    the MIN class member on an unblocked host, unique pages survive
    only for doc_id%7 ∈ {1,2,4,5}, robots-allowed near-dups (doc ≡ 10
    mod 70) enter the fuzzy tier and are dropped there (J = 35/41 ≥
    0.8 vs their cluster keeper), and spam/404 never ingest past the
    gates."""
    from datamancer_spark.operators.dedup import (
        exact_dedup_keep,
        minhash_dedup_verified,
    )
    from datamancer_spark.operators.fixtures import (
        synth_blob_frame,
        warc_corpus_blob,
    )
    from datamancer_spark.operators.robots import (
        parse_robots,
        robots_url_filter,
    )
    from datamancer_spark.operators.scrub import url_quality_filter
    from datamancer_spark.operators.warc import ingest_warc
    from datamancer_spark.session import materialize

    doc = _t(spark, sf_dir, "documents")["documents"].df
    blobs = synth_blob_frame(doc.select("doc_id"), warc_corpus_blob)
    pages = ingest_warc(blobs)

    # robots tier: in-plan per-host policy, real parse, RFC semantics
    hosts = spark.range(7).select(
        F.concat(F.lit("s"), F.col("id").cast("string"), F.lit(".example"))
        .alias("host"),
        F.col("id").alias("h"),
    )
    robots = hosts.select(
        "host",
        F.concat(
            F.lit(
                "User-Agent: datamancer\n"
                "Allow: /c/\n"
                "Disallow: /nd/\n"
                "Allow: /nd/*0$\n"
                "Disallow: /spam/\n"
            ),
            F.when(F.col("h") % 3 == 0, F.lit("Disallow: /u/\n")).otherwise(
                F.lit("")
            ),
        ).alias("robots_txt"),
    )
    rules = parse_robots(robots)
    gated_robots = robots_url_filter(pages, rules, "datamancer").filter(
        F.col("robots_allowed")
    )

    # URL screen tier (host blocklist + terms), then text quality
    screened = url_quality_filter(
        gated_robots, blocked_hosts=["s0.example"],
        blocked_path_terms=("spam",),
    ).filter(F.col("url_pass"))
    toks = F.split(F.col("text"), " ")
    gated = screened.filter(
        (F.size(toks) >= 10)
        & (F.size(F.array_distinct(toks)) / F.size(toks) >= 0.5)
    ).withColumn("page_id", F.col("doc_id") * 8 + F.col("rec_idx"))

    # dedup stack: exact keeper, then the production LSH-verified tier
    kept = materialize(exact_dedup_keep(gated, "text", "page_id"))
    pairs = minhash_dedup_verified(
        kept, "text", "page_id",
        num_hashes=16, bands=16, shingle_n=3, threshold=0.8,
    )
    drop = pairs.select(F.col("id_b").alias("page_id")).distinct()
    surv = kept.join(drop, "page_id", "left_anti")
    return surv.select(
        "doc_id",
        "rec_idx",
        "url",
        "host",
        F.size(F.split("text", " ")).alias("n_words"),
    )


def embedding_pca_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCA power iteration under the driver gate (r12,
    operators/similarity.py pca_power_scores): mean-center, 4 rounds of
    v ← Xᵀ(Xv) with L1 normalization and per-iteration portable
    rounding (the PageRank convention), then every vector's PC1
    projection. The twin replays the SAME iteration relationally in
    DuckDB — mean vector, all four iterates and the final projection —
    so a drift in centering, a normalization slip, or a
    rounding-convention mismatch shifts scores corpus-wide. The
    iterate is bounded driver-side state (64 floats); each round is
    ONE distributed aggregate over the corpus."""
    from datamancer_spark.operators.similarity import pca_power_scores

    emb = _t(spark, sf_dir, "embeddings")["embeddings"].df
    out = pca_power_scores(emb, iters=4)
    return out.select("vec_id", "label", "pc1")


def crawl_funnel_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stage survivor funnel over the crawl→corpus capstone (r12) —
    the ops diagnostic a 100 TB ingest run watches: how many pages came
    out of the WARC walk, how many passed the quality gate, how many
    texts remained after exact dedup, how many after the fuzzy tier.
    ONE row out; the ingest+quality counts come from a single
    conditional aggregate over ONE pinned decode pass (no per-stage
    re-scan — the WARC mapInPandas walk is the expensive stage and runs
    exactly once), and the dedup counts ride the same pinned lineages
    the capstone uses. The twin derives every count in closed form from
    the fixture arithmetic (cluster/near-dup/spam/unique page fates are
    doc_id mod classes), so a single page leaking through any gate
    shifts a count."""
    from datamancer_spark.operators.dedup import (
        exact_dedup_keep,
        ngram_jaccard_pairs,
    )
    from datamancer_spark.operators.fixtures import (
        synth_blob_frame,
        warc_corpus_blob,
    )
    from datamancer_spark.operators.warc import ingest_warc
    from datamancer_spark.session import materialize

    doc = _t(spark, sf_dir, "documents")["documents"].df
    blobs = synth_blob_frame(doc.select("doc_id"), warc_corpus_blob)
    pages = materialize(ingest_warc(blobs))
    toks = F.split(F.col("text"), " ")
    q_ok = (F.size(toks) >= 10) & (
        F.size(F.array_distinct(toks)) / F.size(toks) >= 0.5
    )
    ing = pages.agg(
        F.count(F.lit(1)).cast("long").alias("n_ingested"),
        F.sum(q_ok.cast("long")).cast("long").alias("n_quality_ok"),
    )
    gated = pages.filter(q_ok).withColumn(
        "page_id", F.col("doc_id") * 8 + F.col("rec_idx")
    )
    kept = materialize(exact_dedup_keep(gated, "text", "page_id"))
    n_exact = kept.agg(
        F.count(F.lit(1)).cast("long").alias("n_after_exact")
    )
    pairs = ngram_jaccard_pairs(
        kept, "text", "page_id", shingle_n=3, threshold=0.8
    )
    drop = pairs.select(F.col("id_b").alias("page_id")).distinct()
    n_fuzzy = kept.join(drop, "page_id", "left_anti").agg(
        F.count(F.lit(1)).cast("long").alias("n_after_fuzzy")
    )
    return ing.crossJoin(F.broadcast(n_exact)).crossJoin(
        F.broadcast(n_fuzzy)
    )


def canonicalize_frontier_urls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization under the driver gate (r12,
    operators/scrub.py normalize_url + resolve_dot_segments — the
    frontier layer's dedup-key normalizer, closing the dot-segment
    scope bound extract_links documents). Messy URLs are doc_id
    arithmetic covering every arm at once: uppercase scheme AND host,
    a default port to strip (:80/:443 matched to the scheme), a
    ``b/../`` pop plus a ``./`` drop, a preserved deep trailing slash,
    a fragment, and a tracking param in both leading and trailing
    query positions. The dot-segment fold is a single Catalyst
    F.aggregate (JVM-side, pinned Python-free by pytest); the twin
    enumerates the canonical closed form."""
    doc = _t(spark, sf_dir, "documents")["documents"].df
    i = F.col("doc_id")
    s = i.cast("string")
    messy = F.concat(
        F.when(i % 2 == 0, F.lit("HTTP://S")).otherwise(F.lit("https://S")),
        (i % 7).cast("string"),
        F.lit(".Example.com"),
        F.when((i % 3 == 0) & (i % 2 == 0), F.lit(":80"))
        .when(i % 3 == 0, F.lit(":443"))
        .otherwise(F.lit("")),
        F.lit("/a/b/../d"), s, F.lit("/./x"),
        F.when(i % 5 == 0, F.lit("/")).otherwise(F.lit("")),
        F.when(i % 4 == 0, F.concat(F.lit("?utm_source=tw&id="), s))
        .when(i % 4 == 1, F.concat(F.lit("?id="), s, F.lit("&gclid=zz")))
        .otherwise(F.lit("")),
        F.lit("#s"), s,
    )
    from datamancer_spark.operators.scrub import normalize_url

    return doc.select(
        "doc_id", messy.alias("url_messy")
    ).withColumn("url_canon", normalize_url(F.col("url_messy")))


def crawl_url_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-level page gate under the driver gate (r10,
    operators/scrub.py url_quality_filter): the C4/RefinedWeb-style
    curation stage that rejects pages BY URL before any payload work —
    host blocklist + blocked path terms over the crawl front end's
    output. Over the capstone WARC fixture the outcome is closed-form:
    every page of docs on host s0.example (doc_id % 7 == 0) fails
    blocked_host, every /spam/ page fails blocked_term, everything
    else passes — reasons serialized Gopher-style."""
    from datamancer_spark.operators.fixtures import (
        synth_blob_frame,
        warc_corpus_blob,
    )
    from datamancer_spark.operators.scrub import url_quality_filter
    from datamancer_spark.operators.warc import ingest_warc

    doc = _t(spark, sf_dir, "documents")["documents"].df
    blobs = synth_blob_frame(doc.select("doc_id"), warc_corpus_blob)
    pages = ingest_warc(blobs)
    out = url_quality_filter(
        pages,
        blocked_hosts=["s0.example"],
        blocked_path_terms=("spam",),
    )
    return out.select(
        "doc_id", "rec_idx", "url", "host", "url_pass", "url_reasons"
    )


# CSV round-trip gate (VERDICT r12 missing #1): readCsv is the
# reference's PRIMARY scan (io.nim:686-784) but every other catalog
# query scans parquet, so the CSV surface had only pytest coverage.
# This query puts it under the adversarial driver signal: write_csv an
# orders slice whose text column embeds separators, doubled quotes and
# a comment-lookalike leading '#', with NaN/NULL price arms; read_csv
# it back; aggregate. The DuckDB twin read_csv's THE SAME Spark-written
# part files (multi-file glob, per-file headers, RFC 4180 doubled-quote
# escapes, "NaN" doubles, empty-string NULLs) — any dialect divergence
# between the engines, or any write-side quoting corruption that parses
# differently, breaks the value hash. The comment-SKIP arm itself stays
# pytest-only (DuckDB 1.0 read_csv has no comment parameter); here the
# leading-'#' text proves quoting PROTECTS '#' content from the
# comment-stripper. Fixed staging path: the gate write (eager, inside
# the query call) always precedes the oracle read within a run, and
# only this query touches the directory.
_CSV_GATE_DIR = f"{_WAREHOUSE}/_csv_roundtrip_gate"


def csv_roundtrip_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """write_csv → read_csv round-trip, aggregated; the oracle parses
    the same files with DuckDB's reader (ref io.nim:686-784 readCsv +
    io.nim:807-826 writeCsv)."""
    from datamancer_spark.io import read_csv, write_csv

    ord_ = _t(spark, sf_dir, "orders")["orders"].df
    src = ord_.filter(F.col("o_orderkey") % 20 < 3).select(
        F.col("o_orderkey").cast("long").alias("k"),
        F.col("o_orderstatus").alias("status"),
        # force the quoter: every value holds the separator AND a
        # doubled-quote escape AND a leading '#' (comment lookalike)
        F.concat(F.lit('#x,"q" '), F.col("o_orderpriority")).alias("txt"),
        F.when(F.col("o_orderkey") % 7 == 0, F.lit(float("nan")))
        .when(F.col("o_orderkey") % 5 == 0, F.lit(None).cast("double"))
        .otherwise(F.col("o_totalprice"))
        .alias("price"),
    )
    write_csv(DamFrame(src), _CSV_GATE_DIR)
    back = read_csv(spark, _CSV_GATE_DIR).df
    finite = F.col("price").isNotNull() & ~F.isnan("price")
    return back.groupBy("status").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("k").cast("long").alias("sum_k"),
        F.sum(F.when(F.isnan("price"), 1).otherwise(0))
        .cast("long")
        .alias("n_nan"),
        F.sum(F.when(F.col("price").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_null"),
        # cents-exact money sum (ADVICE r13): a raw double SUM rounded
        # to 2dp exposes Spark-vs-DuckDB accumulation order at a .xx5
        # boundary; per-row floor(price*100+0.5) as BIGINT makes the
        # sum order-invariant, the repo-wide money convention.
        F.sum(
            F.when(
                finite,
                F.floor(F.col("price") * 100 + F.lit(0.5)).cast("long"),
            )
        )
        .cast("long")
        .alias("sum_price_cents"),
        F.sum(F.conv(F.substring(F.md5("txt"), 1, 8), 16, 10).cast("long"))
        .cast("long")
        .alias("txt_sig"),
    )


# JSONL gate (r14): same write→read→aggregate shape as the CSV gate,
# over the OTHER interchange format training corpora actually ship in.
# Dialect parity under test: Spark's JSON writer omits null fields
# (ignoreNullFields) — DuckDB must surface the missing key as NULL;
# backslash/quote/newline escapes inside strings; raw-UTF-8 multibyte
# text (accents, CJK, emoji) byte-stable through both parsers; txt_sig
# md5-sums every text value so one corrupted byte anywhere flips the
# hash. Fixed staging path, same eager-write-then-oracle-read contract
# as _CSV_GATE_DIR.
_JSONL_GATE_DIR = f"{_WAREHOUSE}/_jsonl_roundtrip_gate"


def jsonl_roundtrip_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """write_jsonl → read_jsonl round-trip, aggregated; the oracle
    parses the same newline-delimited part files with DuckDB's
    read_json (ref io.nim:686-784 readCsv is the reference's only text
    ingestion surface — JSONL is the beyond-reference corpus format,
    SURVEY §2.1)."""
    from datamancer_spark.io import read_jsonl, write_jsonl

    ord_ = _t(spark, sf_dir, "orders")["orders"].df
    src = ord_.filter(F.col("o_orderkey") % 20 < 3).select(
        F.col("o_orderkey").cast("long").alias("k"),
        F.col("o_orderstatus").alias("status"),
        # force the escaper: backslash, doubled quote, literal newline,
        # Latin-1 accent, CJK, and a 4-byte emoji in EVERY value
        F.concat(
            F.lit('q"\\ é中\U0001f600\nnl '), F.col("o_orderpriority")
        ).alias("txt"),
        # null arm (written as a MISSING key by Spark's JSON sink)
        F.when(F.col("o_orderkey") % 5 == 0, F.lit(None).cast("double"))
        .otherwise(F.col("o_totalprice"))
        .alias("price"),
    )
    write_jsonl(DamFrame(src), _JSONL_GATE_DIR)
    # explicit DDL schema = single-pass scan with per-field pruning
    # (read_jsonl's own at-scale advice; inference would be a second
    # full pass over the part files) — the DuckDB twin pins the same
    # columns, and the inference path keeps its pytest coverage
    back = read_jsonl(
        spark,
        _JSONL_GATE_DIR,
        schema="k long, status string, txt string, price double",
    ).df
    return back.groupBy("status").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("k").cast("long").alias("sum_k"),
        F.sum(F.when(F.col("price").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_null"),
        F.sum(
            F.when(
                F.col("price").isNotNull(),
                F.floor(F.col("price") * 100 + F.lit(0.5)).cast("long"),
            )
        )
        .cast("long")
        .alias("sum_price_cents"),
        F.sum(F.conv(F.substring(F.md5("txt"), 1, 8), 16, 10).cast("long"))
        .cast("long")
        .alias("txt_sig"),
    )


# Corpus integrity tier (r14): manifests + snapshot deltas — the ops
# layer for 100 TB corpora (verify a copy without a central re-read;
# compute tomorrow's incremental refresh from today's snapshot).


def corpus_manifest_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-shard integrity manifest over documents (operators/
    manifest.py shard_manifest): portable-hash shard assignment, counts,
    and an order-invariant BIT_XOR content signature — the twin rebuilds
    every signature bit for bit, so the gate pins the whole checksum
    convention, not just row counts. One scan + one 32-row groupBy."""
    from datamancer_spark.operators.manifest import shard_manifest

    doc = _t(spark, sf_dir, "documents")["documents"].df
    return shard_manifest(
        doc, "doc_id", ["text", "lang", "source"], n_shards=32
    )


def snapshot_diff_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot delta report (operators/manifest.py snapshot_diff): two
    deterministic snapshots of documents — old drops doc_id%7==0, new
    drops doc_id%5==0 and rewrites text for doc_id%11==0 — full-outer
    joined on the key, rows classified added/removed/changed/unchanged,
    aggregated per (status, lang) with a BIT_XOR key signature so the
    gate pins WHICH keys landed in each class, not just how many. The
    incremental-refresh primitive: at 100 TB, reprocessing the
    'added'+'changed' slice instead of the corpus is the whole game."""
    from datamancer_spark.operators.manifest import snapshot_diff

    doc = _t(spark, sf_dir, "documents")["documents"].df
    old = doc.filter(F.col("doc_id") % 7 != 0)
    new = doc.filter(F.col("doc_id") % 5 != 0).withColumn(
        "text",
        F.when(
            F.col("doc_id") % 11 == 0,
            F.concat(F.col("text"), F.lit(" v2")),
        ).otherwise(F.col("text")),
    )
    d = snapshot_diff(
        old, new, "doc_id", ["text", "lang", "source"],
        carry_cols=["lang"],
    )
    key_sig = F.conv(
        F.substring(F.md5(F.col("key").cast("string")), 1, 15), 16, 10
    ).cast("long")
    return d.groupBy("status", "lang").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.bit_xor(key_sig).cast("long").alias("key_sig"),
    )


def hist_merge_snapshots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-snapshot HISTOGRAM merge under the driver gate — the
    sketch triad's distribution member next to HLL (distinct) and CMS
    (frequency), operators/sketch.py hist_build/hist_merge/hist_cdf:
    two event snapshots (even/odd event ids) build fixed-bin value
    histograms independently, merge with union+sum, and the merged
    sketch must equal a single build over everything (linearity —
    n_merged and n_rebuilt ride the output together, the same in-gate
    merge==rebuild pin as the HLL gate). The CDF annotation + p50/p90/
    p99 bin flags pin the quantile-reading surface; the twin rebuilds
    bins, cumulative counts, and flags from the raw values in SQL."""
    from datamancer_spark.operators.sketch import (
        hist_build,
        hist_cdf,
        hist_merge,
    )

    ev = _t(spark, sf_dir, "events")["events"].df
    snap_a = hist_build(
        ev.filter(F.col("event_id") % 2 == 0), "value", 0.0, 500.0, 50
    )
    snap_b = hist_build(
        ev.filter(F.col("event_id") % 2 == 1), "value", 0.0, 500.0, 50
    )
    merged = hist_merge(snap_a, snap_b)
    rebuilt = hist_build(ev, "value", 0.0, 500.0, 50).select(
        "bin", F.col("n").alias("n_rebuilt")
    )
    cdf = hist_cdf(merged)
    total = F.max("cum_n").over(Window.partitionBy())
    flag = lambda p: (  # noqa: E731 — tiny local twin-matched predicate
        (F.col("cum_n") >= p * total)
        & ((F.col("cum_n") - F.col("n")) < p * total)
    ).cast("long")
    return (
        cdf.join(rebuilt, "bin", "full_outer")
        .select(
            "bin",
            F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n_merged"),
            F.coalesce(F.col("n_rebuilt"), F.lit(0))
            .cast("long")
            .alias("n_rebuilt"),
            "cum_n",
            prnd(F.col("cum_frac"), 6).alias("cum_frac"),
            "n",
        )
        .select(
            "bin",
            "n_merged",
            "n_rebuilt",
            "cum_n",
            "cum_frac",
            flag(F.lit(0.5)).alias("is_p50"),
            flag(F.lit(0.9)).alias("is_p90"),
            flag(F.lit(0.99)).alias("is_p99"),
        )
    )


def bucketed_join_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed co-located join under the driver gate (r15): both fact
    tables written with ``write_parquet(bucket_by=)`` on the join key
    (8 buckets each side), then joined WITHOUT any exchange — the
    layout lever that makes repeated 100 TB fact-fact joins affordable
    (the shuffle both sides would otherwise pay on every join is paid
    ONCE at write time). The MERGE hint forces the sort-merge path so
    the gate measures the bucketed join, not a broadcast that only
    wins at test scale; test_plans.py pins the zero-exchange plan
    shape, and this gate pins the VALUES the bucketed scan+join
    produce (a bucket-assignment bug — wrong modulus, wrong key —
    would route rows to the wrong bucket pair and drop join matches
    silently; the twin's plain join catches exactly that). Tables are
    REwritten every call, so regenerated testdata can never leave the
    gate on stale buckets."""
    import hashlib

    from datamancer_spark.io import write_parquet

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    o_t, l_t = f"bk_gate_orders_{tag}", f"bk_gate_lineitem_{tag}"
    t = _t(spark, sf_dir, "orders", "lineitem")
    ords = t["orders"].df.select("o_orderkey", "o_orderstatus")
    li = t["lineitem"].df.select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    write_parquet(
        DamFrame(ords),
        f"{_WAREHOUSE}/{o_t}",
        bucket_by=(8, ["o_orderkey"]),
        table_name=o_t,
    )
    write_parquet(
        DamFrame(li),
        f"{_WAREHOUSE}/{l_t}",
        bucket_by=(8, ["l_orderkey"]),
        table_name=l_t,
    )
    a, b = spark.table(o_t), spark.table(l_t)
    j = a.hint("MERGE").join(b, a["o_orderkey"] == b["l_orderkey"])
    cents = F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
        + F.lit(0.5)
    ).cast("long")
    return j.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(cents).cast("long").alias("revenue_cents"),
    )


_AVRO_GATE_DIR = f"{_WAREHOUSE}/_avro_roundtrip_gate"


def avro_roundtrip_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """write_avro → read_avro round-trip, aggregated (r15 — Avro OCF
    was the one common interchange format with no source/sink;
    operators/avrocodec.py implements the public Avro spec since the
    spark-avro module jar is absent here). Same slice + aggregate
    shape as csv_roundtrip_agg: NULL vs NaN doubles survive distinctly
    (union branch vs NaN bit pattern), unicode text, negative keys,
    cents-exact money. The twin aggregates the SAME slice from the
    source table directly — DuckDB has no Avro reader, so byte-level
    interchange fidelity is pinned by tests/test_avro.py's independent
    reference codec in BOTH directions (engine reader on reference
    bytes, engine writer under the reference decoder) and this gate
    pins the distributed sink+source path end to end."""
    from datamancer_spark.io import read_avro, write_avro

    ord_ = _t(spark, sf_dir, "orders")["orders"].df
    src = ord_.filter(F.col("o_orderkey") % 20 < 3).select(
        F.col("o_orderkey").cast("long").alias("k"),
        F.col("o_orderstatus").alias("status"),
        F.concat(F.lit("é✓ "), F.col("o_orderpriority")).alias("txt"),
        F.when(F.col("o_orderkey") % 7 == 0, F.lit(float("nan")))
        .when(F.col("o_orderkey") % 5 == 0, F.lit(None).cast("double"))
        .otherwise(F.col("o_totalprice"))
        .alias("price"),
    )
    write_avro(DamFrame(src), _AVRO_GATE_DIR)
    back = read_avro(
        spark, _AVRO_GATE_DIR, schema="k long, status string, txt string, price double"
    ).df
    finite = F.col("price").isNotNull() & ~F.isnan("price")
    return back.groupBy("status").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("k").cast("long").alias("sum_k"),
        F.sum(F.when(F.isnan("price"), 1).otherwise(0))
        .cast("long")
        .alias("n_nan"),
        F.sum(F.when(F.col("price").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_null"),
        F.sum(
            F.when(
                finite,
                F.floor(F.col("price") * 100 + F.lit(0.5)).cast("long"),
            )
        )
        .cast("long")
        .alias("price_cents"),
        F.sum(F.length("txt")).cast("long").alias("txt_chars"),
    )


def quantile_sketch_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable RANK sketch under the driver gate (r15, VERDICT r14
    #6) — the fourth sketch-family member (distinct=HLL, frequency=CMS,
    distribution=histogram, rank=this), removing hist_build's a-priori
    [lo, hi) prerequisite for unknown-range 100 TB columns.
    operators/sketch.py rank_sketch_*: a deterministic hash-threshold
    Bernoulli sample (row enters iff its portable 60-bit KEY hash <
    2^(60-rate)), chosen over KLL/GK because coin-flip compaction can't
    be rebuilt by a differential twin — see the module rationale.
    The gate builds sketches over two lineitem snapshots at DIFFERENT
    rates (even orders at 2^-5, odd at 2^-6), merges (downsampling to
    the coarser rate), and pins merge == rebuild via count + BIT_XOR
    signature equality riding every output row; p25/50/75/90/99
    estimates from the merged sketch are then scored against the TRUE
    rank of each estimated value with the 4·sqrt(N·2^r) error bound
    emitted as booleans. The twin replicates sketch membership, the
    quantile extraction, and the bound in SQL."""
    from datamancer_spark.operators.sketch import (
        rank_sketch_build,
        rank_sketch_merge,
        rank_sketch_quantiles,
    )

    # NOT pinned on purpose (r15-opt, measured): the seven consumers
    # re-read only the 3 pruned columns, and those narrow scans run as
    # parallel tasks — an eager localCheckpoint of the slice serialized
    # the plan behind one checkpoint job and LOST 1.7s isolated (2.06s
    # → 3.73s best-of-3). At 100 TB the same holds: each pass reads
    # the pruned columns with pushdown, and the sketch/truth passes
    # are semantically separate full passes anyway (the rebuild pin
    # must re-derive from the corpus, not from a shared intermediate).
    li = _t(spark, sf_dir, "lineitem")["lineitem"].df
    keys = ["l_orderkey", "l_linenumber"]
    sk_a = rank_sketch_build(
        li.filter(F.col("l_orderkey") % 2 == 0),
        "l_extendedprice",
        keys,
        rate_exp=5,
    )
    sk_b = rank_sketch_build(
        li.filter(F.col("l_orderkey") % 2 == 1),
        "l_extendedprice",
        keys,
        rate_exp=6,
    )
    merged = rank_sketch_merge(sk_a, sk_b)
    rebuilt = rank_sketch_build(li, "l_extendedprice", keys, rate_exp=6)
    # the truth population is the NON-NULL prices (the sketch and the
    # twin's base CTE both filter NULLs) — count(*) over raw lineitem
    # would diverge from the twin on any regenerated testdata carrying
    # NULL prices (review r15)
    li = li.filter(F.col("l_extendedprice").isNotNull())
    sig = lambda s, tag: s.agg(  # noqa: E731 — 1-row sketch signature
        F.count(F.lit(1)).cast("long").alias(f"n_{tag}"),
        F.expr("bit_xor(h)").alias(f"x_{tag}"),
    )
    merge_ok = (
        sig(merged, "m")
        .crossJoin(sig(rebuilt, "r"))
        .select(
            (
                (F.col("n_m") == F.col("n_r"))
                & (F.col("x_m") == F.col("x_r"))
            ).alias("merge_ok")
        )
    )
    qv = rank_sketch_quantiles(merged, [0.25, 0.5, 0.75, 0.9, 0.99])
    tot = li.agg(F.count(F.lit(1)).cast("long").alias("n_total"))
    exact = (
        li.join(
            F.broadcast(qv),
            F.col("l_extendedprice") <= F.col("value_est"),
        )
        .groupBy("p", "value_est", "m")
        .agg(F.count(F.lit(1)).cast("long").alias("exact_rank"))
    )
    return (
        exact.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(merge_ok))
        .select(
            "p",
            prnd(F.col("value_est"), 2).alias("value_est"),
            "m",
            "exact_rank",
            (
                F.abs(F.col("exact_rank") - F.col("p") * F.col("n_total"))
                <= F.lit(4.0) * F.sqrt(F.col("n_total") * F.lit(64.0))
            ).alias("rank_ok"),
            "merge_ok",
        )
    )


def quantile_drift_langs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPED rank sketches across snapshots (r15): per-language
    p50/p90 document-length quantiles estimated from rank sketches of
    two corpus snapshots (the %7/%5 snapshot convention), joined into a
    per-(lang, p) drift report — the unknown-range companion to
    hist_drift_langs (no a-priori [lo, hi); the sketch adapts to
    whatever the length distribution is). Exercises the group_cols path
    of operators/sketch.py rank_sketch_build/_quantiles: windows
    partition by lang, sketches stay sketch-sized, the corpus is
    scanned once per snapshot. A language missing from one snapshot's
    sample surfaces with sentinel -1 and both_present=false instead of
    silently dropping (the hist_drift NULL-division lesson)."""
    from datamancer_spark.operators.sketch import (
        rank_sketch_build,
        rank_sketch_quantiles,
    )

    doc = _t(spark, sf_dir, "documents")["documents"].df
    old = doc.filter(F.col("doc_id") % 7 != 0)
    new = doc.filter(F.col("doc_id") % 5 != 0)
    ps = [0.5, 0.9]

    def qs_of(snap: DataFrame, tag: str) -> DataFrame:
        sk = rank_sketch_build(
            snap, "n_chars", ["doc_id"], rate_exp=2, group_cols=["lang"]
        )
        return rank_sketch_quantiles(sk, ps, ["lang"]).select(
            "lang",
            "p",
            F.col("value_est").alias(f"q_{tag}"),
            F.col("m").alias(f"m_{tag}"),
        )

    qo, qn = qs_of(old, "old"), qs_of(new, "new")
    both = F.col("_qo").isNotNull() & F.col("_qn").isNotNull()
    return (
        qo.withColumnRenamed("q_old", "_qo")
        .join(
            qn.withColumnRenamed("q_new", "_qn"), ["lang", "p"], "full_outer"
        )
        .select(
            "lang",
            "p",
            F.coalesce(F.col("_qo"), F.lit(-1.0)).alias("q_old"),
            F.coalesce(F.col("_qn"), F.lit(-1.0)).alias("q_new"),
            F.coalesce(F.col("m_old"), F.lit(0)).cast("long").alias("m_old"),
            F.coalesce(F.col("m_new"), F.lit(0)).cast("long").alias("m_new"),
            both.alias("both_present"),
            F.when(both, F.col("_qn") - F.col("_qo"))
            .otherwise(F.lit(0.0))
            .alias("shift"),
        )
    )


def quantile_weighted_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WEIGHTED rank sketch under the driver gate (r15): token-weighted
    document-length quantiles — "below what length does half the
    corpus's TOKEN MASS live?", the budget/packing question the row
    quantile can't answer (a few long docs carry most tokens). Weights
    = whitespace token counts (the repo's shared tokenization), values
    = n_chars; two disjoint snapshots (even/odd doc_ids) sketch at
    DIFFERENT rates (2^-1 / 2^-2), merge downsamples to the coarser,
    and merge == rebuild is pinned by count + BIT_XOR + total-weight
    equality riding every row. p50/p90 estimates are scored against
    the TRUE token mass below each estimate with the
    4·sqrt(2^r·W·w_max) bound as booleans (variance scales with weight
    dispersion — the documented price of Bernoulli-by-key membership,
    sketch.py rank_sketch_build). The twin rebuilds weights, sketch
    membership, the weighted-cumulative quantile rule, and both
    booleans in SQL."""
    from datamancer_spark.operators.dedup import spread_partitions, tokens
    from datamancer_spark.operators.sketch import (
        rank_sketch_build,
        rank_sketch_merge,
        rank_sketch_quantiles,
    )
    from datamancer_spark.session import materialize

    doc = _t(spark, sf_dir, "documents")["documents"].df
    # NULL-length rows leave the population HERE, so the sketch, the
    # truth join, AND the W/w_max totals all see the same rows the
    # twin's WHERE n_chars IS NOT NULL sees (review r15 — computing
    # totals over the unfiltered frame diverges on regenerated
    # testdata with NULL n_chars).
    # Pinned ONCE (r15-opt): five consumers (two sketches, the
    # rebuild, the W/w_max totals, the truth join) each re-ran the
    # corpus tokenize otherwise — the plan showed 7 parquet scans of
    # documents, each paying F.size(tokens(text)) over every row.
    # spread_partitions first: the one-row-group documents parquet
    # reads as ONE partition, so the pinned tokenize would run on one
    # core (measured 2.1s serial vs 0.6s spread at sf0.1).
    # Scale pricing (VERDICT r15 #6): this is the engine's one
    # CORPUS-LENGTH pin — one row per doc, 3 narrow cols (~24 B/row ≈
    # 2.4 GB per 100M docs, ~0.002% of a 100 TB text corpus). On
    # localCheckpoint those blocks sit in executor storage and an
    # executor loss is query-fatal; set_checkpoint_dir upgrades the pin
    # to reliable storage. Priced in SCALING.md "Corpus-length
    # checkpoint".
    wdoc = materialize(
        spread_partitions(doc)
        .select(
            "doc_id",
            F.col("n_chars").cast("double").alias("_v"),
            F.size(tokens(F.col("text"))).cast("long").alias("_w"),
        )
        .filter(F.col("_v").isNotNull())
    )
    sk_a = rank_sketch_build(
        wdoc.filter(F.col("doc_id") % 2 == 0),
        "_v",
        ["doc_id"],
        rate_exp=1,
        weight_col="_w",
    )
    sk_b = rank_sketch_build(
        wdoc.filter(F.col("doc_id") % 2 == 1),
        "_v",
        ["doc_id"],
        rate_exp=2,
        weight_col="_w",
    )
    merged = rank_sketch_merge(sk_a, sk_b)
    rebuilt = rank_sketch_build(
        wdoc, "_v", ["doc_id"], rate_exp=2, weight_col="_w"
    )
    sig = lambda s, t: s.agg(  # noqa: E731 — 1-row sketch signature
        F.count(F.lit(1)).cast("long").alias(f"n_{t}"),
        F.expr("bit_xor(h)").alias(f"x_{t}"),
        F.sum("w").cast("long").alias(f"w_{t}"),
    )
    merge_ok = (
        sig(merged, "m")
        .crossJoin(sig(rebuilt, "r"))
        .select(
            (
                (F.col("n_m") == F.col("n_r"))
                & (F.col("x_m") == F.col("x_r"))
                & (F.col("w_m") == F.col("w_r"))
            ).alias("merge_ok")
        )
    )
    qv = rank_sketch_quantiles(merged, [0.5, 0.9])
    tot = wdoc.agg(
        F.sum("_w").cast("long").alias("_W"),
        F.max("_w").cast("long").alias("_wmax"),
    )
    exact = (
        wdoc.join(F.broadcast(qv), F.col("_v") <= F.col("value_est"))
        .groupBy("p", "value_est", "m")
        .agg(F.sum("_w").cast("long").alias("w_below"))
    )
    return (
        exact.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(merge_ok))
        .select(
            "p",
            "value_est",
            "m",
            "w_below",
            (
                F.abs(F.col("w_below") - F.col("p") * F.col("_W"))
                <= F.lit(4.0)
                * F.sqrt(F.lit(4.0) * F.col("_W") * F.col("_wmax"))
            ).alias("rank_ok"),
            "merge_ok",
        )
    )


def skew_distinct_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted distinct-count under the driver gate (r15,
    operators/skew.py salted_distinct_count): distinct users per
    event_type via explicit disjoint salt buckets (salt = portable
    hash of the VALUE, so per-bucket distinct sets are disjoint and
    their counts add exactly), run NEXT TO the direct COUNT(DISTINCT)
    with salted_ok = equality riding every row. The disjoint-bucket
    addition is the same argument Catalyst's own distinct-aggregate
    rewrite relies on (its first exchange on (keys, value) is maximal
    salting — plan shapes pinned in test_plans.py); this gate proves
    that argument cross-engine instead of asserting it, and the twin
    replicates bucket assignment, both stages, and the comparison."""
    from datamancer_spark.operators.skew import salted_distinct_count

    ev = _t(spark, sf_dir, "events")["events"].df
    salted = salted_distinct_count(ev, ["event_type"], "user_id", 32)
    direct = ev.groupBy("event_type").agg(
        F.count_distinct("user_id").cast("long").alias("n_direct")
    )
    return (
        salted.join(direct, "event_type")
        .select(
            "event_type",
            "n_distinct",
            "n_direct",
            (F.col("n_distinct") == F.col("n_direct")).alias("salted_ok"),
        )
    )


def manifest_diff_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """manifest_diff under the driver gate (operators/manifest.py): the
    'is this copy still that corpus?' verification itself — manifest A
    over documents, manifest B over a deterministically damaged copy
    (text rewritten where doc_id%97==0, rows dropped where
    doc_id%131==0), diffed shard-by-shard. The twin rebuilds BOTH
    manifests and the comparison, so a diff that misses damage (stale
    signature, wrong join side) or cries wolf on an equal shard
    mismatches. Everything is two parallel scans + a 32-row join."""
    from datamancer_spark.operators.manifest import (
        manifest_diff,
        shard_manifest,
    )

    doc = _t(spark, sf_dir, "documents")["documents"].df
    damaged = doc.filter(F.col("doc_id") % 131 != 0).withColumn(
        "text",
        F.when(
            F.col("doc_id") % 97 == 0,
            F.concat(F.col("text"), F.lit(" tampered")),
        ).otherwise(F.col("text")),
    )
    a = shard_manifest(doc, "doc_id", ["text", "lang", "source"], 32)
    b = shard_manifest(damaged, "doc_id", ["text", "lang", "source"], 32)
    return manifest_diff(a, b)


def manifest_incremental_update(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Incremental manifest maintenance under the driver gate
    (operators/manifest.py manifest_apply_delta): XOR's self-inverse
    property means sig(new) = sig(old) XOR sig(removed) XOR sig(added)
    per shard — so after an incremental corpus refresh the integrity
    manifest updates from the DELTA rows alone, no corpus rescan. The
    gate applies the delta between the snapshot_diff_docs arms (old
    drops %7, new drops %5 and rewrites %11) to the old manifest and
    emits it NEXT TO a full rebuild over the new snapshot — equal
    column pairs pin apply == rebuild in-gate, and the twin's rebuilt
    values must match the INCREMENTALLY computed ones."""
    from datamancer_spark.operators.manifest import (
        manifest_apply_delta,
        shard_manifest,
    )

    doc = _t(spark, sf_dir, "documents")["documents"].df
    cols = ["text", "lang", "source"]
    old = doc.filter(F.col("doc_id") % 7 != 0)
    new = doc.filter(F.col("doc_id") % 5 != 0).withColumn(
        "text",
        F.when(
            F.col("doc_id") % 11 == 0,
            F.concat(F.col("text"), F.lit(" v2")),
        ).otherwise(F.col("text")),
    )
    # delta row sets, derived arithmetically: removed = old rows gone
    # from new (dropped %5) PLUS the old versions of changed (%11)
    # rows; added = rows new-only (%7, re-admitted) PLUS the new
    # versions of changed rows
    removed = old.filter(
        (F.col("doc_id") % 5 == 0)
        | ((F.col("doc_id") % 11 == 0) & (F.col("doc_id") % 5 != 0))
    )
    added = new.filter(
        (F.col("doc_id") % 7 == 0)
        | ((F.col("doc_id") % 11 == 0) & (F.col("doc_id") % 7 != 0))
    )
    inc = manifest_apply_delta(
        shard_manifest(old, "doc_id", cols, 32),
        removed,
        added,
        "doc_id",
        cols,
        32,
    )
    rebuilt = shard_manifest(new, "doc_id", cols, 32).select(
        "shard",
        F.col("n_rows").alias("n_rows_rebuilt"),
        F.col("content_sig").alias("sig_rebuilt"),
    )
    return inc.join(rebuilt, "shard", "full_outer").select(
        "shard",
        F.col("n_rows").cast("long").alias("n_rows"),
        F.col("content_sig").cast("long").alias("content_sig"),
        F.col("n_rows_rebuilt").cast("long").alias("n_rows_rebuilt"),
        F.col("sig_rebuilt").cast("long").alias("sig_rebuilt"),
    )


def hist_drift_langs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language distribution drift between two corpus snapshots
    (operators/sketch.py hist_build_by + hist_drift): document-length
    histograms for even vs odd doc ids, compared by TOTAL VARIATION
    DISTANCE with an exact-integer numerator (sum |n_a*N_b - n_b*N_a|
    as decimal — no float accumulation order until the final division,
    which is what lets the twin hash-match a drift SCORE). The ops
    answer the monitoring question every refresh raises: did a
    source's length mix shift? Everything after the two histogram
    scans is sketch-sized."""
    from datamancer_spark.operators.sketch import hist_build_by, hist_drift

    doc = _t(spark, sf_dir, "documents")["documents"].df
    a = hist_build_by(
        doc.filter(F.col("doc_id") % 2 == 0), "n_chars", ["lang"],
        0.0, 600.0, 40,
    )
    b = hist_build_by(
        doc.filter(F.col("doc_id") % 2 == 1), "n_chars", ["lang"],
        0.0, 600.0, 40,
    )
    d = hist_drift(a, b, ["lang"])
    return d.select(
        "lang", "n_a", "n_b", prnd(F.col("tvd"), 6).alias("tvd")
    )


def _mojibake_snippet() -> str:
    """Deterministic mojibake injection arm shared by the Spark query
    and the DuckDB twin: built FROM the operator's own MOJIBAKE_MAP
    (3-char curly-punctuation clusters, 2-char accents, degree sign,
    the nbsp artifact) so the gate and the repair table can't drift."""
    from datamancer_spark.operators.scrub import MOJIBAKE_MAP

    b = {fixed: broken for broken, fixed in MOJIBAKE_MAP}
    return (
        " Caf" + b["é"] + " " + b["—"] + " it" + b["’"]
        + "s " + b["“"] + "fine" + b["”"] + " 25"
        + b["°"] + b[" "] + "C"
    )


def mojibake_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UTF-8 double-encoding screen + repair (operators/scrub.py
    mojibake_hits / fix_mojibake — the ftfy-shaped hygiene pass every
    web corpus needs): documents with a deterministically injected
    mojibake arm (doc_id%9==0 gets the snippet; the synthetic corpus is
    clean, same convention as the PII gate) are screened corpus-wide by
    a literal-alternation count, repaired by the JVM-side replace
    chain, re-screened (n_residual pins that repair actually clears the
    detector), and signature-hashed (fixed_sig pins every repaired BYTE
    corpus-wide, including the untouched docs). Pure codegen both
    sides — no regex backtracking, no Python in the data path."""
    from datamancer_spark.operators.scrub import (
        fix_mojibake,
        mojibake_hits,
    )

    doc = _t(spark, sf_dir, "documents")["documents"].df
    injected = doc.withColumn(
        "text",
        F.when(
            F.col("doc_id") % 9 == 0,
            F.concat(F.col("text"), F.lit(_mojibake_snippet())),
        ).otherwise(F.col("text")),
    )
    hits = mojibake_hits(F.col("text"))
    fixed = fix_mojibake(F.col("text"))
    sig = F.conv(
        F.substring(F.md5(F.coalesce(fixed, F.lit(""))), 1, 15), 16, 10
    ).cast("long")
    return (
        injected.select(
            "lang",
            hits.alias("_h"),
            mojibake_hits(fixed).alias("_r"),
            sig.alias("_s"),
        )
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.when(F.col("_h") > 0, 1).otherwise(0))
            .cast("long")
            .alias("n_flagged"),
            F.sum("_h").cast("long").alias("total_hits"),
            F.sum("_r").cast("long").alias("n_residual"),
            F.bit_xor("_s").cast("long").alias("fixed_sig"),
        )
    )


def kcore_crawl_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core of the crawl link graph (operators/components.py k_core):
    symmetrize the extracted edge list, then 3 pinned peel rounds
    dropping nodes with undirected degree < 3 — the dense-subgraph
    lens on the same WARC→links→graph seam pagerank_crawl_links gates.
    Link farms and mutual-promotion rings concentrate in deep cores
    while organic tree-ish link structure peels away; crawl curation
    uses core membership as a spam prior. Pinned rounds (not fixpoint)
    make the peel closed-form unrollable for the twin, which rebuilds
    the symmetrized graph and replays the identical 3 rounds; the
    library's fixpoint mode (rounds=None, early-stop on unchanged edge
    count) is the production surface, pytest-pinned against this one.
    Output: surviving (node, degree-inside-core)."""
    from datamancer_spark.operators.components import k_core
    from datamancer_spark.operators.fixtures import (
        synth_blob_frame,
        warc_link_blob,
    )
    from datamancer_spark.operators.warc import extract_links

    doc = _t(spark, sf_dir, "documents")["documents"].df
    blobs = synth_blob_frame(doc.select("doc_id"), warc_link_blob)
    links = extract_links(blobs)
    edges = links.select(
        F.col("src_url").alias("src"), F.col("dst_url").alias("dst")
    )
    return k_core(edges, k=3, rounds=3)


# TPC-H widening (r13): q8 + q17 adapted to this schema (no partsupp /
# p_container / l_commitdate in the driver testdata, so q2/q9/q11/q12/
# q16/q20/q21 are unexpressible here; q8's share predicate and q17's
# container arm are adapted the way q19 adapted its brand/size windows).


def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 (national market share), adapted: within region ASIA
    and part type ECONOMY, NATION_3-supplied revenue share per order
    year. Two nation roles (customer side fixes the region, supplier
    side names the share nation) — the classic snowflake double-join.
    Broadcast hints go ONLY on the truly fixed-size dims (filtered
    part, nation×2, region); customer and supplier scale linearly with
    SF, so force-broadcasting them would OOM the build side at the
    100 TB posture (ADVICE r13) — AQE picks their join strategy from
    runtime sizes instead. Cents-exact volumes so the share division
    is a ratio of exact integers in both engines."""
    t = _t(
        spark, sf_dir,
        "lineitem", "orders", "customer", "supplier", "nation",
        "region", "part",
    )
    li, o, c = t["lineitem"].df, t["orders"].df, t["customer"].df
    s, n, r, p = (
        t["supplier"].df, t["nation"].df, t["region"].df, t["part"].df
    )
    n1 = n.select(
        F.col("n_nationkey").alias("c_nk"),
        F.col("n_regionkey").alias("c_rk"),
    )
    n2 = n.select(
        F.col("n_nationkey").alias("s_nk"),
        F.col("n_name").alias("supp_nation"),
    )
    cents = F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
        + F.lit(0.5)
    ).cast("long")
    j = (
        li.join(F.broadcast(p.filter(F.col("p_type") == "ECONOMY")),
                li.l_partkey == p.p_partkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), c.c_nationkey == F.col("c_nk"))
        .join(F.broadcast(r.filter(F.col("r_name") == "ASIA")),
              F.col("c_rk") == r.r_regionkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n2), s.s_nationkey == F.col("s_nk"))
        .filter(
            (F.col("o_orderdate") >= F.lit("1995-01-01"))
            & (F.col("o_orderdate") < F.lit("1999-01-01"))
        )
    )
    return (
        j.select(
            F.year("o_orderdate").cast("long").alias("o_year"),
            cents.alias("_c"),
            F.when(F.col("supp_nation") == "NATION_3", cents)
            .otherwise(F.lit(0).cast("long"))
            .alias("_sc"),
        )
        .groupBy("o_year")
        .agg(
            prnd(F.sum("_sc") / F.sum("_c"), 4).alias("mkt_share"),
            F.sum("_c").cast("long").alias("volume_cents"),
        )
    )


def q17_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 (small-quantity-order revenue), adapted: average
    yearly revenue lost if Brand#23 small parts (p_size < 15) below
    20% of their part's average order quantity were no longer taken.
    The correlated scalar subquery decorrelates into one per-part
    aggregate + a join (Catalyst's own strategy, written explicitly);
    the THRESHOLD COMPARE IS EXACT-INTEGER — quantities are integral,
    so l_qty < 0.2·avg(qty) is evaluated as 5·cnt·l_qty < sum(qty)
    over longs, eliminating the float-boundary flip a sum-order-
    dependent avg could hit in either engine. The /7.0 is the
    testdata's seven order years."""
    t = _t(spark, sf_dir, "lineitem", "part")
    li, p = t["lineitem"].df, t["part"].df
    th = li.groupBy("l_partkey").agg(
        F.sum(F.col("l_quantity").cast("long")).alias("_qsum"),
        F.count(F.lit(1)).alias("_qcnt"),
    )
    cents = F.floor(
        F.col("l_extendedprice") * 100 + F.lit(0.5)
    ).cast("long")
    j = (
        li.join(
            F.broadcast(
                p.filter(
                    (F.col("p_brand") == "Brand#23")
                    & (F.col("p_size") < 15)
                )
            ),
            li.l_partkey == p.p_partkey,
        )
        .join(th, "l_partkey")
        .filter(
            F.lit(5) * F.col("_qcnt") * F.col("l_quantity").cast("long")
            < F.col("_qsum")
        )
    )
    return j.agg(
        prnd(F.sum(cents) / 700.0, 2).alias("avg_yearly"),
        F.count(F.lit(1)).cast("long").alias("n_lines"),
    )


# Streaming replay gates (r13): the Structured Streaming tier was
# pytest-only — these run the REAL streaming engine (file stream source
# → event-time watermark → stateful aggregation → AvailableNow replay
# into a memory sink) and hand the FINAL STATE to the driver oracle.
# Complete-mode state over a fully-replayed bounded source provably
# equals the batch aggregate over the same data (no row is late
# relative to the final watermark), so a DuckDB twin of the batch form
# differentially checks the whole streaming path. Late-data DROP
# semantics (rows behind the watermark) stay pytest territory
# (tests/test_streaming.py) — a replayed static source can't exercise
# them. Cents-exact integer sums keep streaming's incremental
# accumulation order invisible to the value hash.


def streaming_hourly_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events through the streaming engine: watermarked tumbling 1-hour
    windowed aggregation, replayed to completion; final state == the
    batch hourly aggregate (events_hourly's shape, cents-exact)."""
    import hashlib

    from datamancer_spark.streaming import (
        read_parquet_stream,
        replay_available_now,
    )

    schema = (
        "event_id long, ts timestamp_ntz, user_id long, "
        "event_type string, value double, props string"
    )
    src = read_parquet_stream(spark, f"{sf_dir}/events.parquet", schema)
    # watermarks require TIMESTAMP (LTZ); the session tz is pinned UTC,
    # so the NTZ→LTZ cast is value-stable and reversible on output
    src = src.withColumn("ts", F.col("ts").cast("timestamp"))
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    agg = (
        src.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(cents).alias("_cents"),
        )
    )
    out = agg.select(
        F.col("window.start").cast("timestamp_ntz").alias("bucket"),
        "event_type",
        "n",
        F.col("_cents").cast("long").alias("value_cents"),
    )
    qn = "hourly_replay_" + hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    return replay_available_now(out, qn)


def streaming_session_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events through the streaming engine's SESSION windows (gap-based
    ``session_window``, the stateful merge operator — unlike tumbling,
    window extents are data-dependent and sessions MERGE as late rows
    arrive), replayed to completion. Final state == the batch gap-island
    sessionization: session_start = first event, session_end = last
    event + gap, sessions split when the inter-event gap is >= 30 min —
    the oracle twin computes the same islands with lag() in DuckDB, so
    the gate pins the merge semantics themselves, not just row counts.
    Cents-exact values; µs-precision boundaries survive the NTZ→LTZ→NTZ
    round-trip under the UTC-pinned session."""
    import hashlib

    from datamancer_spark.streaming import (
        read_parquet_stream,
        replay_available_now,
    )

    schema = (
        "event_id long, ts timestamp_ntz, user_id long, "
        "event_type string, value double, props string"
    )
    src = read_parquet_stream(spark, f"{sf_dir}/events.parquet", schema)
    src = src.withColumn("ts", F.col("ts").cast("timestamp"))
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    agg = (
        src.withWatermark("ts", "10 minutes")
        .groupBy(F.session_window(F.col("ts"), "30 minutes"), "user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum(cents).cast("long").alias("value_cents"),
        )
    )
    out = agg.select(
        F.col("session_window.start")
        .cast("timestamp_ntz")
        .alias("session_start"),
        F.col("session_window.end")
        .cast("timestamp_ntz")
        .alias("session_end"),
        "user_id",
        "n_events",
        "value_cents",
    )
    qn = "session_replay_" + hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    return replay_available_now(out, qn)


def streaming_sliding_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events through the streaming engine's SLIDING windows (1-hour
    window, 15-minute slide — each event belongs to 4 overlapping
    windows), replayed to completion; completes the driver-gated
    windowed-aggregation trio (tumbling r13, session r14, sliding
    r14). The twin rebuilds window membership with exact INTEGER
    microsecond arithmetic ((us // slide_us − k) · slide_us for
    k ∈ 0..3, keep if the event falls inside) — the same assignment
    Spark's window() computes — so a boundary event landing in the
    wrong window set flips counts in both engines differently and the
    hash catches it. Cents-exact values."""
    import hashlib

    from datamancer_spark.streaming import (
        read_parquet_stream,
        replay_available_now,
    )

    schema = (
        "event_id long, ts timestamp_ntz, user_id long, "
        "event_type string, value double, props string"
    )
    src = read_parquet_stream(spark, f"{sf_dir}/events.parquet", schema)
    src = src.withColumn("ts", F.col("ts").cast("timestamp"))
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    agg = (
        src.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour", "15 minutes"), "event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(cents).cast("long").alias("value_cents"),
        )
    )
    out = agg.select(
        F.col("window.start").cast("timestamp_ntz").alias("bucket"),
        "event_type",
        "n",
        "value_cents",
    )
    qn = "sliding_replay_" + hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    return replay_available_now(out, qn)


def streaming_late_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATE-DATA DROP semantics under the driver gate (r15, VERDICT r14
    #2 — the one streaming behavior class no replay gate could reach:
    a fully-replayed single-batch source never exercises lateness, and
    complete mode drops nothing by design). Files are admitted ONE PER
    TRIGGER (AvailableNow honors maxFilesPerTrigger; admission is
    oldest-mtime-first, pinned by os.utime), so the watermark advances
    between batches and rows whose 1-hour window closed before the
    eviction watermark really are dropped before the state update;
    APPEND mode then emits exactly the windows the final watermark
    closed.

    The source is the events table split into THREE mtime-ordered
    files (event_id % 3) admitted one per trigger — three batches,
    because of a semantics detail this gate exists to
    pin (measured on a controlled replay, not assumed): the engine's
    late-row filter uses the watermark that ran the LAST EVICTION —
    the previous batch's operating watermark — not the current one, so
    a late row whose window is still in state MERGES (batch 2 here:
    filter wm is still the initial 1970 epoch), and only rows for
    windows already closed by an earlier batch's eviction are dropped
    (batch 3, filtered against wm(batch 2) = max ts of batch 1 −
    delay). That is exactly Spark's documented one-sided guarantee —
    "too-late data is not guaranteed to be dropped until the window
    was finalized" — made precise. The twin applies the measured
    rules analytically: batches 1-2 fully kept, batch-3 rows kept iff
    window_end > max_ts(batch 1) − 317 min, windows emitted iff
    window_end ≤ global max − 317 min. 317 minutes is deliberately
    not hour-aligned, keeping hour-aligned window ends off the
    watermark boundary in both engines. Fixture staging (driver-side,
    once per sf_dir) only SPLITS the source file three ways by
    event_id % 3; all semantics run in the streaming engine."""
    import hashlib
    import os
    import time

    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from datamancer_spark.streaming import (
        read_parquet_stream,
        replay_available_now,
    )

    # content-address the staged split by the SOURCE file's identity
    # (size + mtime), not just sf_dir: the driver regenerates testdata
    # between rounds, and a stale split would silently diverge from
    # the twin, which reads the live table
    src_stat = os.stat(f"{sf_dir}/events.parquet")
    tag = hashlib.md5(
        f"{sf_dir}:{src_stat.st_size}:{src_stat.st_mtime_ns}".encode()
    ).hexdigest()[:12]
    d = f"{_WAREHOUSE}/_late_drop_gate_{tag}"
    # content-addressed tags mint a NEW dir per testdata regeneration;
    # sweep stale siblings (>48h by dir mtime — current-scale dirs are
    # recreated cheaply if swept) so the warehouse doesn't accumulate
    # event-table copies forever (review r15, the _staging_ lesson)
    import glob as _glob
    import shutil as _shutil
    import time as _time

    for old in _glob.glob(f"{_WAREHOUSE}/_late_drop_gate_*"):
        try:
            if (
                old != d
                and os.path.getmtime(old) < _time.time() - 48 * 3600
            ):
                _shutil.rmtree(old, ignore_errors=True)
        except OSError:
            pass
    paths = [f"{d}/batch{i}.parquet" for i in (1, 2, 3)]
    if not all(os.path.exists(p) for p in paths):
        os.makedirs(d, exist_ok=True)
        t = pq.read_table(f"{sf_dir}/events.parquet")
        import pyarrow as pa

        rem = pc.cast(
            pc.subtract(
                t.column("event_id"),
                pc.multiply(
                    pc.divide(t.column("event_id"), pa.scalar(3)),
                    pa.scalar(3),
                ),
            ),
            pa.int64(),
        )
        for i, p in enumerate(paths):
            pq.write_table(t.filter(pc.equal(rem, i)), p)
    # mtimes pin admission order every call (and keep the trio inside
    # any maxFileAge horizon, which is relative to the newest file)
    now = time.time()
    for i, p in enumerate(paths):
        os.utime(p, (now - 180 + 60 * i, now - 180 + 60 * i))
    schema = (
        "event_id long, ts timestamp_ntz, user_id long, "
        "event_type string, value double, props string"
    )
    src = read_parquet_stream(
        spark, d, schema, options={"maxFilesPerTrigger": "1"}
    )
    src = src.withColumn("ts", F.col("ts").cast("timestamp"))
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    agg = (
        src.withWatermark("ts", "317 minutes")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(cents).cast("long").alias("value_cents"),
        )
    )
    out = agg.select(
        F.col("window.start").cast("timestamp_ntz").alias("bucket"),
        "event_type",
        "n",
        "value_cents",
    )
    return replay_available_now(out, "late_drop_" + tag, output_mode="append")


def streaming_quantile_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank sketch built IN-FLIGHT (r15): the hash-threshold membership
    test is a stateless row predicate, so the sketch builds on a stream
    with ZERO streaming state — every arriving row either enters the
    sketch or doesn't, independent of everything else (contrast the
    sketch-family streaming gates that need stateful aggregation). The
    gate replays events through rank_sketch_build on the stream (append
    mode, no watermark needed), then pins stream-built == batch-built
    by count + BIT_XOR signature riding every row, and reads p25-p90
    quantiles off the streamed sketch; the twin rebuilds membership and
    quantiles analytically. This is the 100 TB ingest shape: the
    quantile monitor rides the ingest stream for free and the sketch
    parquet is mergeable across days (quantile_sketch_merge)."""
    import hashlib

    from datamancer_spark.operators.sketch import (
        rank_sketch_build,
        rank_sketch_quantiles,
    )
    from datamancer_spark.streaming import (
        read_parquet_stream,
        replay_available_now,
    )

    schema = (
        "event_id long, ts timestamp_ntz, user_id long, "
        "event_type string, value double, props string"
    )
    src = read_parquet_stream(spark, f"{sf_dir}/events.parquet", schema)
    sk_stream = rank_sketch_build(src, "value", ["event_id"], rate_exp=4)
    qn = "quantile_replay_" + hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    streamed = replay_available_now(sk_stream, qn, output_mode="append")
    ev = _t(spark, sf_dir, "events")["events"].df
    batch = rank_sketch_build(ev, "value", ["event_id"], rate_exp=4)
    sig = lambda s, tag: s.agg(  # noqa: E731 — 1-row sketch signature
        F.count(F.lit(1)).cast("long").alias(f"n_{tag}"),
        F.expr("bit_xor(h)").alias(f"x_{tag}"),
    )
    ok = (
        sig(streamed, "s")
        .crossJoin(sig(batch, "b"))
        .select(
            (
                (F.col("n_s") == F.col("n_b"))
                & (F.col("x_s") == F.col("x_b"))
            ).alias("stream_ok")
        )
    )
    qv = rank_sketch_quantiles(streamed, [0.25, 0.5, 0.75, 0.9])
    return qv.crossJoin(F.broadcast(ok)).select(
        "p",
        prnd(F.col("value_est"), 6).alias("value_est"),
        "m",
        "stream_ok",
    )


def streaming_dedup_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents through the streaming engine: exact-dedup state
    (canonical fingerprint → min keeper id + duplicate count) built
    incrementally by the streaming aggregation, replayed to completion;
    final state == batch exact_dedup — the same fingerprint expression
    runs over both execution modes, which is the point of the
    Spark-first design (one expression layer, two engines)."""
    import hashlib

    from datamancer_spark.operators.dedup import fingerprint
    from datamancer_spark.streaming import (
        read_parquet_stream,
        replay_available_now,
    )

    schema = (
        "doc_id long, text string, lang string, source string, "
        "n_chars long"
    )
    src = read_parquet_stream(spark, f"{sf_dir}/documents.parquet", schema)
    agg = (
        src.select(F.col("doc_id"), fingerprint(F.col("text")).alias("fp"))
        .groupBy("fp")
        .agg(
            F.min("doc_id").alias("keep_id"),
            F.count(F.lit(1)).alias("n_dups"),
        )
    )
    qn = "dedup_replay_" + hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    return replay_available_now(agg, qn)


# ---------------------------------------------------------------------------
# Contract
# ---------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: TPC-H-Q1-style pricing summary at sf0.001."""
    return q1_pricing_summary(spark, SF1)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Contract queries, ORDERED BY DRIVER-VERIFICATION PRIORITY: the
    correctness driver checks the FIRST 50 entries in dict order, so the
    window carries (a) the north-star tier, pinned every round, and
    (b) every query with fewer than two recorded driver-green rounds —
    rotating the window until the whole catalog is at least twice
    driver-proven. Queries past position 50 are all >= 2-round
    driver-green (or next in the rotation queue) and remain covered by
    the local oracle harness (tests/oracle_harness.py) + pytest; the
    packed-window invariant is machine-enforced by
    tests/test_contract.py::test_rotation_policy_window_is_packed."""
    return {
        # ---- driver window (50): north-star tier, pinned (16)
        "sessionize_events": sessionize_events,
        "pipeline_clean_corpus": pipeline_clean_corpus,
        "dedup_exact": dedup_exact,
        "dedup_minhash": dedup_minhash,
        "dedup_minhash_verified": dedup_minhash_verified,
        "dedup_embedding_bucketed": dedup_embedding_bucketed,
        "knn_brute": knn_brute,
        "knn_ivf": knn_ivf,
        "embedding_stats": embedding_stats,
        "token_topk_lang": token_topk_lang,
        "budget_select_langs": budget_select_langs,
        "length_filter_langs": length_filter_langs,
        "dup_cluster_histogram": dup_cluster_histogram,
        "mixture_resample_langs": mixture_resample_langs,
        "pack_sequences_bins": pack_sequences_bins,
        "train_test_split": train_test_split,
        # -- r15 rotation: the 11 r14 additions accruing their SECOND
        # -- driver proof (the r13 tail fully retired in r14 — its 11
        # -- members all reached >= 2 greens and rotated out), then the
        # -- r15 zero-greens getting their FIRST:
        "jsonl_roundtrip_agg": jsonl_roundtrip_agg,
        "corpus_manifest_shards": corpus_manifest_shards,
        "snapshot_diff_docs": snapshot_diff_docs,
        "kcore_crawl_links": kcore_crawl_links,
        "mojibake_screen": mojibake_screen,
        "hist_merge_snapshots": hist_merge_snapshots,
        "manifest_diff_report": manifest_diff_report,
        "streaming_sliding_replay": streaming_sliding_replay,
        "manifest_incremental_update": manifest_incremental_update,
        "hist_drift_langs": hist_drift_langs,
        "streaming_session_replay": streaming_session_replay,
        # -- r15 zero-greens getting their FIRST driver green:
        "quantile_sketch_merge": quantile_sketch_merge,
        "dedup_index_probe": dedup_index_probe,
        "streaming_late_drop": streaming_late_drop,
        "quantile_drift_langs": quantile_drift_langs,
        "skew_distinct_salted": skew_distinct_salted,
        "avro_roundtrip_agg": avro_roundtrip_agg,
        "streaming_quantile_replay": streaming_quantile_replay,
        "bucketed_join_agg": bucketed_join_agg,
        "quantile_weighted_tokens": quantile_weighted_tokens,
        # -- window padding (all >= 2x driver-green; the packed-window
        # -- invariant is satisfied because no under-proven query sits
        # -- outside the first 50):
        "sitemap_discovery_frontier": sitemap_discovery_frontier,
        "containment_guarded_pairs": containment_guarded_pairs,
        "pagerank_crawl_links": pagerank_crawl_links,
        "anchor_text_profile": anchor_text_profile,
        "bpe_train_merges": bpe_train_merges,
        "bpe_encode_budget": bpe_encode_budget,
        "epoch_expand_langs": epoch_expand_langs,
        "script_mix_profile": script_mix_profile,
        "crawl_delay_budget": crawl_delay_budget,
        "warc_charset_decode": warc_charset_decode,
        "warc_charset_fallback": warc_charset_fallback,
        "canonicalize_frontier_urls": canonicalize_frontier_urls,
        "frontier_bloom_tofetch": frontier_bloom_tofetch,
        "pii_redact_docs": pii_redact_docs,
        "dsir_select_en": dsir_select_en,
        "domain_cap_registrable": domain_cap_registrable,
        "epoch_shard_plan_langs": epoch_shard_plan_langs,
        "crawl_funnel_report": crawl_funnel_report,
        "frontier_fetch_schedule": frontier_fetch_schedule,
        "embedding_pca_scores": embedding_pca_scores,
        # ---- past the driver window (>= 2x driver-green, still under
        # ---- the full-catalog local harness + pytest every round)
        "cms_merge_snapshots": cms_merge_snapshots,
        "ann_recall_ivf": ann_recall_ivf,
        "jl_distortion_report": jl_distortion_report,
        "ann_recall_jl": ann_recall_jl,
        "split_dedup_aware": split_dedup_aware,
        "split_neardup_aware": split_neardup_aware,
        "csv_roundtrip_agg": csv_roundtrip_agg,
        "streaming_hourly_replay": streaming_hourly_replay,
        "streaming_dedup_replay": streaming_dedup_replay,
        "q8_market_share": q8_market_share,
        "q17_small_qty_revenue": q17_small_qty_revenue,
        "hll_merge_snapshots": hll_merge_snapshots,
        "ann_recall_lsh": ann_recall_lsh,
        "semi_join": semi_join_q,
        # ---- outside the window: all >= 2x driver-proven, still
        # ---- verified every round by the local oracle harness
        "array_ops": array_ops,
        "gather_melt": gather_melt,
        "spread_pivot": spread_pivot,
        "text_fingerprint": text_fingerprint,
        "pipeline_from_crawl_lsh": pipeline_from_crawl_lsh,
        "dedup_bloom_screened": dedup_bloom_screened,
        "doc_distinct_hll": doc_distinct_hll,
        "normalize_nfc_text": normalize_nfc_text,
        "robots_crawl_gate": robots_crawl_gate,
        "containment_pairs": containment_pairs,
        "pipeline_crawl_production": pipeline_crawl_production,
        "boilerplate_filter_doc": boilerplate_filter_doc,
        "pagerank_links": pagerank_links,
        "nb_lang_classify": nb_lang_classify,
        "hits_links": hits_links,
        "temperature_mix_langs": temperature_mix_langs,
        "text_stats": text_stats,
        "text_langid": text_langid,
        "repetition_quality": repetition_quality,
        "line_dedup": line_dedup,
        "contamination_screen": contamination_screen,
        "stratified_sample_counts": stratified_sample_counts,
        "dedup_canonical": dedup_canonical,
        "dedup_jaccard": dedup_jaccard,
        "dedup_simhash": dedup_simhash,
        "dedup_embedding": dedup_embedding,
        "knn_lsh": knn_lsh,
        "q1_pricing_summary": q1_pricing_summary,
        "pipeline_from_crawl": pipeline_from_crawl,
        "crawl_url_screen": crawl_url_screen,
        "knn_pq_codes": knn_pq_codes,
        "mine_bitext_pairs": mine_bitext_pairs,
        "token_freq_cms": token_freq_cms,
        "image_decode_multiformat": image_decode_multiformat,
        "warc_ingest_crawl": warc_ingest_crawl,
        "image_decode_dims": image_decode_dims,
        "resize_thumbs_rgb": resize_thumbs_rgb,
        "audio_decode_props": audio_decode_props,
        "media_decode_coverage_mix": media_decode_coverage_mix,
        "image_dhash_real_pairs": image_dhash_real_pairs,
        "curate_media_mix": curate_media_mix,
        "image_dhash_pairs_b8": image_dhash_pairs_b8,
        "audio_dhash_real_pairs": audio_dhash_real_pairs,
        "curate_audio_mix": curate_audio_mix,
        "filter_select": filter_select,
        "arrange_head": arrange_head,
        "unique_first": unique_first,
        "count_by": count_by,
        "sql_interface": sql_interface,
        "winsorize_prices": winsorize_prices,
        "purchase_followup_views": purchase_followup_views,
        "classifier_score": classifier_score,
        "cap_per_source": cap_per_source,
        "trailing_hour_value": trailing_hour_value,
        "resample_user_hourly": resample_user_hourly,
        "chunk_sliding_windows": chunk_sliding_windows,
        "weighted_sample_langs": weighted_sample_langs,
        "dedup_fuzzy_incremental": dedup_fuzzy_incremental,
        "semantic_dedup_embeddings": semantic_dedup_embeddings,
        "ivf_cluster_profile": ivf_cluster_profile_q,
        "anti_join": anti_join_q,
        "left_join_coalesce": left_join_coalesce,
        "bind_rows_union": bind_rows_union,
        "rollup_status": rollup_status,
        "transmute_math": transmute_math,
        "string_ops": string_ops,
        "bm25_search_terms": bm25_search_terms,
        "ab_conversion_report": ab_conversion_report,
        "tfidf_similar_docs": tfidf_similar_docs,
        "image_dhash_pairs": image_dhash_pairs,
        "grouped_mutate_150k": grouped_mutate_150k,
        "score_calibration_en": score_calibration_en,
        "source_skew_profile": source_skew_profile,
        "text_hash_embedding": text_hash_embedding,
        "duplicate_spans": duplicate_spans,
        "q7_nation_volume": q7_nation_volume,
        "q13_order_count_dist": q13_order_count_dist,
        "q15_top_supplier": q15_top_supplier,
        "q19_discounted_revenue": q19_discounted_revenue,
        "q22_dormant_customers": q22_dormant_customers,
        "zipf_corpus_fit": zipf_corpus_fit,
        "gopher_rule_filter": gopher_rule_filter,
        "dedup_keep_best": dedup_keep_best,
        "lineitem_corr_matrix": lineitem_corr_matrix,
        "lineitem_describe": lineitem_describe,
        "event_transitions": event_transitions,
        "remove_dup_spans": remove_dup_spans,
        "data_quality_checks": data_quality_checks,
        "pipeline_curate_v2": pipeline_curate_v2,
        "price_quantity_trend": price_quantity_trend,
        "event_interarrival": event_interarrival,
        "approx_distinct": approx_distinct,
        "cohort_retention_weekly": cohort_retention_weekly,
        "corpus_health_report": corpus_health_report,
        "funnel_view_click_purchase": funnel_view_click_purchase,
        "q18_big_orders": q18_big_orders,
        "salted_events_rollup": salted_events_rollup,
        "dedup_semantic_text": dedup_semantic_text,
        "unigram_perplexity_proxy": unigram_perplexity_proxy,
        "bigram_perplexity_proxy": bigram_perplexity_proxy,
        "regex_extract_doc": regex_extract_doc,
        "dedup_incremental": dedup_incremental,
        "q4_late_shipping": q4_late_shipping,
        "q10_return_customers": q10_return_customers,
        "q14_promo_share": q14_promo_share,
        "tail_sorted": tail_sorted,
        "slice_rows": slice_rows,
        "distinct_proj": distinct_proj,
        "cube_status": cube_status,
        "set_diff": set_diff_q,
        "intersect": intersect_q,
        "window_rank": window_rank,
        "events_hourly": events_hourly,
        "argmax_per_user": argmax_per_user,
        "rolling_mean": rolling_mean,
        "window_distribution": window_distribution,
        "json_extract_props": json_extract_props,
        "date_parts": date_parts,
        "masked_assign": masked_assign,
        "q3_shipping_priority": q3_shipping_priority,
        "q5_nation_revenue": q5_nation_revenue,
        "q6_revenue_delta": q6_revenue_delta,
        "mutate_arith": mutate_arith,
        "summarize_stats": summarize_stats,
        "grouped_mutate": grouped_mutate,
        "grouped_filter": grouped_filter,
        "inner_join_rename": inner_join_rename,
        "lag_lead_events": lag_lead_events,
        "asof_signup": asof_signup,
        "quantiles_by_group": quantiles_by_group,
        "grouped_zscore": grouped_zscore,
        "text_quality": text_quality,
        "tfidf_top_terms": tfidf_top_terms,
    }


# DuckDB twins. Shared SQL fragments:

def _lang_score_sql(lang: str) -> str:
    from datamancer_spark.functions.text import LANG_MARKERS

    parts = [
        f"(len(' '||lower(text)||' ') - len(replace(' '||lower(text)||' ', ' {w} ', ''))) // {len(w) + 2}"
        for w in LANG_MARKERS[lang]
    ]
    return "(" + " + ".join(parts) + ")"


_SHINGLES_CTE = """
docs AS (
  SELECT doc_id, regexp_split_to_array(lower(trim(coalesce(text, ''))), '\\s+') AS toks
  FROM documents
),
sh AS (
  SELECT doc_id,
         CASE WHEN len(toks) - 2 <= 0
              THEN [array_to_string(toks, ' ')]
              ELSE list_distinct(list_transform(
                     generate_series(1, len(toks) - 2),
                     i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
         END AS shingles
  FROM docs
)
"""


def oracle_sql() -> dict[str, str]:
    sql: dict[str, str] = {}

    sql["q1_pricing_summary"] = """
        SELECT l_returnflag, l_linestatus,
               prnd(sum(l_quantity), 2) AS sum_qty,
               prnd(sum(l_extendedprice), 2) AS sum_base_price,
               prnd(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
               prnd(avg(l_quantity), 4) AS avg_qty,
               prnd(avg(l_extendedprice), 4) AS avg_price,
               prnd(avg(l_discount), 4) AS avg_disc,
               count(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        GROUP BY l_returnflag, l_linestatus
    """

    sql["q3_shipping_priority"] = """
        SELECT o_orderkey, o_orderdate, o_orderpriority,
               prnd(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        FROM customer
        JOIN orders ON c_custkey = o_custkey
        JOIN lineitem ON o_orderkey = l_orderkey
        WHERE c_mktsegment = 'BUILDING'
        GROUP BY o_orderkey, o_orderdate, o_orderpriority
        ORDER BY revenue DESC, o_orderkey ASC
        LIMIT 10
    """

    sql["q5_nation_revenue"] = """
        SELECT n_name,
               prnd(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        JOIN supplier ON l_suppkey = s_suppkey
        WHERE s_nationkey = c_nationkey
        GROUP BY n_name
    """

    sql["q6_revenue_delta"] = """
        SELECT prnd(sum(l_extendedprice * l_discount), 2) AS revenue,
               count(*) AS n
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate < TIMESTAMP '1997-01-01'
          AND l_discount >= 0.03 AND l_quantity < 24
    """

    sql["filter_select"] = """
        SELECT l_orderkey, l_linenumber, l_quantity AS qty, l_extendedprice AS price
        FROM lineitem WHERE l_quantity > 45 AND l_returnflag = 'R'
    """

    sql["mutate_arith"] = """
        SELECT l_orderkey, l_linenumber,
               prnd(l_extendedprice * (1 - l_discount), 2) AS disc_price,
               prnd(l_extendedprice * (1 - l_discount) * (1 + l_tax), 2) AS charge,
               CASE WHEN l_quantity > 25 THEN 'Y' ELSE 'N' END AS heavy
        FROM lineitem
    """

    sql["transmute_math"] = """
        SELECT l_orderkey, l_linenumber,
               prnd(ln(l_extendedprice), 4) AS log_price,
               prnd(sqrt(l_quantity), 4) AS sqrt_qty,
               prnd(pow(l_quantity, 2), 2) AS qty_sq,
               prnd(abs(l_discount - l_tax), 4) AS abs_margin
        FROM lineitem
    """

    sql["string_ops"] = """
        SELECT c_custkey,
               upper(c_mktsegment) || '#' || c_custkey::VARCHAR AS label,
               len(c_name) AS name_len,
               substr(c_mktsegment, 1, 3) AS seg3,
               '$' || (prnd(c_acctbal, 2))::VARCHAR AS bal_str
        FROM customer
    """

    sql["masked_assign"] = """
        SELECT event_id, event_type,
               CASE WHEN event_type = 'error' THEN 0.0 ELSE value END AS value
        FROM events
    """

    sql["arrange_head"] = """
        SELECT o_orderkey, o_custkey, o_totalprice
        FROM orders ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 50
    """

    sql["tail_sorted"] = """
        SELECT o_orderkey, o_totalprice
        FROM orders ORDER BY o_orderkey DESC LIMIT 20
    """

    sql["slice_rows"] = """
        SELECT event_id, user_id, value FROM (
          SELECT event_id, user_id, value,
                 row_number() OVER (ORDER BY event_id) - 1 AS rn
          FROM events) t
        WHERE rn BETWEEN 100 AND 149
    """

    sql["unique_first"] = """
        SELECT o_custkey, o_orderkey, o_orderdate FROM (
          SELECT o_custkey, o_orderkey, o_orderdate,
                 row_number() OVER (PARTITION BY o_custkey
                                    ORDER BY o_orderdate, o_orderkey) AS rn
          FROM orders) t
        WHERE rn = 1
    """

    sql["distinct_proj"] = """
        SELECT DISTINCT c_mktsegment, c_nationkey FROM customer
    """

    sql["count_by"] = """
        SELECT event_type, count(*) AS n FROM events GROUP BY event_type
    """

    sql["summarize_stats"] = """
        SELECT l_returnflag,
               prnd(avg(l_quantity), 4) AS mean_qty,
               prnd(sum(l_quantity), 2) AS sum_qty,
               min(l_quantity) AS min_qty,
               max(l_quantity) AS max_qty,
               prnd(var_samp(l_quantity), 4) AS var_qty,
               prnd(stddev_samp(l_quantity), 4) AS sd_qty
        FROM lineitem GROUP BY l_returnflag
    """

    sql["grouped_mutate"] = """
        SELECT l_orderkey, l_linenumber, l_returnflag, l_quantity, grp_avg_qty
        FROM (
          SELECT l_orderkey, l_linenumber, l_returnflag, l_quantity,
                 prnd(avg(l_quantity) OVER (PARTITION BY l_returnflag), 4)
                   AS grp_avg_qty
          FROM lineitem) t
        WHERE l_quantity > grp_avg_qty * 1.8
    """

    sql["grouped_filter"] = """
        SELECT o_custkey, o_orderkey, o_totalprice FROM (
          SELECT o_custkey, o_orderkey, o_totalprice,
                 count(*) OVER (PARTITION BY o_custkey) AS cnt
          FROM orders) t
        WHERE cnt >= 15
    """

    sql["rollup_status"] = """
        SELECT o_orderstatus, o_orderpriority, count(*) AS n,
               prnd(sum(o_totalprice), 2) AS total
        FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """

    sql["cube_status"] = """
        SELECT event_type, user_id, count(*) AS n, prnd(avg(value), 4) AS avg_value
        FROM events GROUP BY CUBE (event_type, user_id)
    """

    sql["inner_join_rename"] = """
        SELECT o_orderkey, c_custkey, c_name, o_totalprice, c_acctbal
        FROM orders JOIN customer ON o_custkey = c_custkey
    """

    sql["left_join_coalesce"] = """
        SELECT c_custkey, c_name,
               coalesce(n_orders, 0) AS n_orders,
               coalesce(spend, 0.0) AS spend
        FROM customer LEFT JOIN (
          SELECT o_custkey, count(*) AS n_orders,
                 prnd(sum(o_totalprice), 2) AS spend
          FROM orders GROUP BY o_custkey) o
        ON c_custkey = o_custkey
    """

    sql["semi_join"] = """
        SELECT c_custkey, c_name FROM customer
        WHERE EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey AND o_totalprice > 400000)
    """

    sql["anti_join"] = """
        SELECT c_custkey, c_name FROM customer
        WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """

    sql["bind_rows_union"] = """
        SELECT c_custkey AS id, c_name AS name, c_acctbal AS bal, '0' AS src
        FROM customer
        UNION ALL BY NAME
        SELECT s_suppkey AS id, s_name AS name,
               CAST(s_nationkey AS INTEGER) AS nationkey, '1' AS src
        FROM supplier
    """

    sql["set_diff"] = """
        SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
        EXCEPT ALL
        SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
        WHERE o_orderstatus = 'F'
    """

    sql["intersect"] = """
        SELECT DISTINCT o_custkey FROM orders WHERE o_totalprice > 100000
        INTERSECT ALL
        SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'O'
    """

    sql["gather_melt"] = """
        SELECT l_orderkey, l_linenumber, 'l_quantity' AS measure, l_quantity AS val
        FROM lineitem
        UNION ALL
        SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM lineitem
        UNION ALL
        SELECT l_orderkey, l_linenumber, 'l_tax', l_tax FROM lineitem
    """

    sql["spread_pivot"] = """
        SELECT user_id,
               coalesce(prnd(avg(CASE WHEN event_type = 'click' THEN value END), 4), 0.0) AS click,
               coalesce(prnd(avg(CASE WHEN event_type = 'error' THEN value END), 4), 0.0) AS error,
               coalesce(prnd(avg(CASE WHEN event_type = 'purchase' THEN value END), 4), 0.0) AS purchase,
               coalesce(prnd(avg(CASE WHEN event_type = 'signup' THEN value END), 4), 0.0) AS signup,
               coalesce(prnd(avg(CASE WHEN event_type = 'view' THEN value END), 4), 0.0) AS view
        FROM events GROUP BY user_id
    """

    sql["lag_lead_events"] = """
        SELECT event_id, user_id, value,
               lag(value, 1) OVER w AS prev_value,
               lead(value, 1) OVER w AS next_value
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """

    sql["window_rank"] = """
        SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
          SELECT o_custkey, o_orderkey, o_totalprice,
                 row_number() OVER (PARTITION BY o_custkey
                                    ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
          FROM orders) t
        WHERE rn <= 3
    """

    sql["asof_signup"] = """
        SELECT p.event_id, p.user_id, p.ts, p.value,
               s.signup_value AS signup_value
        FROM (SELECT event_id, user_id, ts, value FROM events
              WHERE event_type = 'purchase') p
        ASOF LEFT JOIN (SELECT user_id, ts, value AS signup_value FROM events
                        WHERE event_type = 'signup') s
          ON p.user_id = s.user_id AND p.ts >= s.ts
    """

    sql["quantiles_by_group"] = """
        SELECT l_returnflag,
               prnd(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
               prnd(quantile_cont(l_extendedprice, 0.9), 4) AS p90,
               prnd(quantile_cont(l_extendedprice, 0.99), 4) AS p99
        FROM lineitem GROUP BY l_returnflag
    """

    sql["argmax_per_user"] = """
        SELECT user_id, event_id AS best_event, value AS best_value FROM (
          SELECT user_id, event_id, value,
                 row_number() OVER (PARTITION BY user_id
                                    ORDER BY value DESC, event_id DESC) AS rn
          FROM events) t
        WHERE rn = 1
    """

    sql["json_extract_props"] = """
        SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        FROM events
    """

    sql["date_parts"] = """
        SELECT o_orderkey,
               CAST(year(o_orderdate) AS INT) AS yr,
               CAST(month(o_orderdate) AS INT) AS mo,
               CAST(day(o_orderdate) AS INT) AS dy,
               CAST(CAST(o_orderdate AS DATE) + INTERVAL 30 DAY AS DATE) AS plus30
        FROM orders
    """

    sql["regex_extract_doc"] = """
        SELECT doc_id,
               coalesce(regexp_extract(text, '^(\\w+)', 1), '') AS first_word,
               CASE WHEN regexp_matches(text, 'spark') THEN 1 ELSE 0 END AS has_spark
        FROM documents
    """

    sql["grouped_zscore"] = """
        SELECT event_id, event_type,
               prnd((value - avg(value) OVER w) / stddev_samp(value) OVER w, 4) AS z
        FROM events
        WINDOW w AS (PARTITION BY event_type)
    """

    # Bit-stable twin of operators/sessions.py: microsecond gap compare,
    # event_id tie-break in both window orders, and total_value as an
    # exact integer-cents sum (BIGINT) divided once at the end — immune
    # to float-sum addend order. session_idx MUST be CAST to BIGINT:
    # DuckDB's windowed sum(INTEGER) yields HUGEINT, which pandas-path
    # fetching (fetchdf) coerces to float64 — the driver then hashes
    # 5.0 vs Spark's 5 (the rounds-1..3 hash_match=false root cause).
    sql["sessionize_events"] = """
        WITH flagged AS (
          SELECT user_id, ts, value, event_id,
                 CASE WHEN lag(ts) OVER w IS NULL
                      OR (epoch_us(CAST(ts AS TIMESTAMP))
                          - epoch_us(CAST(lag(ts) OVER w AS TIMESTAMP)))
                         > 1800000000
                      THEN 1 ELSE 0 END AS new_s
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        sess AS (
          SELECT user_id, ts, value,
                 CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1
                   AS BIGINT) AS session_idx
          FROM flagged
        )
        SELECT user_id, session_idx,
               min(ts) AS session_start, max(ts) AS session_end,
               count(*) AS n_events,
               sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) / 100.0 AS total_value
        FROM sess GROUP BY 1, 2
    """

    sql["events_hourly"] = """
        SELECT date_trunc('hour', ts) AS bucket, event_type,
               count(*) AS n, prnd(sum(value), 2) AS total
        FROM events GROUP BY 1, 2
    """

    # Bit-identical twin of operators/classify.py hashed_linear_score:
    # same token order (list fold ≡ Spark aggregate fold, identical IEEE
    # addend sequence), same md5-derived bucket weights, prnd(6) after
    # the only transcendental (exp).
    sql["classifier_score"] = """
        WITH toks AS (
          SELECT doc_id,
                 list_filter(regexp_split_to_array(lower(trim(coalesce(text, ''))), '\\s+'),
                             t -> len(t) > 0) AS tk
          FROM documents
        ), scored AS (
          SELECT doc_id,
                 coalesce(list_sum(list_transform(tk, t ->
                   ((CAST('0x' || substr(md5('w7_' || CAST(
                        CAST('0x' || substr(md5(t), 1, 8) AS BIGINT) % 1024
                      AS VARCHAR)), 1, 8) AS BIGINT) % 20001) - 10000)
                   / 10000.0)), 0.0) AS wsum,
                 greatest(len(tk), 1) AS n
          FROM toks
        )
        SELECT doc_id,
               prnd(1.0 / (1.0 + exp(-(wsum / n))), 6) AS score,
               prnd(1.0 / (1.0 + exp(-(wsum / n))), 6) >= 0.5 AS keep
        FROM scored
    """

    sql["cap_per_source"] = """
        SELECT doc_id, source FROM (
          SELECT doc_id, source,
                 row_number() OVER (
                   PARTITION BY source
                   ORDER BY md5('0_' || CAST(doc_id AS VARCHAR)), doc_id
                 ) AS rn
          FROM documents
        ) WHERE rn <= 10
    """

    # RANGE frame over integer epoch seconds; cents-exact sum (HUGEINT
    # window sum / 100.0 lands as DOUBLE — pandas-safe).
    sql["trailing_hour_value"] = """
        SELECT event_id, user_id,
               sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) OVER w / 100.0
                 AS trailing_sum,
               CAST(count(*) OVER w AS BIGINT) AS trailing_n
        FROM events
        WINDOW w AS (
          PARTITION BY user_id
          ORDER BY date_diff('second', TIMESTAMP '1970-01-01 00:00:00',
                             CAST(ts AS TIMESTAMP))
          RANGE BETWEEN 3599 PRECEDING AND CURRENT ROW)
    """

    # Twin of operators/timeseries.py resample_ffill: last-in-bucket by
    # (ts, value) max, per-user hourly grid via generate_series, forward
    # fill with IGNORE NULLS. value is a raw passthrough — no rounding
    # needed.
    sql["resample_user_hourly"] = """
        WITH b AS (
          SELECT user_id, date_trunc('hour', ts) AS bucket, ts, value
          FROM events
        ), last_per AS (
          SELECT user_id, bucket, value FROM (
            SELECT user_id, bucket, value,
                   row_number() OVER (PARTITION BY user_id, bucket
                                      ORDER BY ts DESC, value DESC) AS rn
            FROM b
          ) WHERE rn = 1
        ), bounds AS (
          SELECT user_id, min(bucket) AS lo, max(bucket) AS hi
          FROM b GROUP BY 1
        ), grid AS (
          SELECT user_id,
                 unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS bucket
          FROM bounds
        )
        SELECT g.user_id, g.bucket,
               last_value(l.value IGNORE NULLS) OVER (
                 PARTITION BY g.user_id ORDER BY g.bucket
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value
        FROM grid g
        LEFT JOIN last_per l
          ON g.user_id = l.user_id AND g.bucket = l.bucket
    """

    sql["text_stats"] = """
        SELECT doc_id,
               CASE WHEN len(trim(coalesce(text, ''))) = 0 THEN 0
                    ELSE len(regexp_split_to_array(trim(coalesce(text, '')), '\\s+')) END AS n_tokens,
               len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS n_bpe,
               len(text) AS n_chars_m,
               len(text) - len(regexp_replace(text, '[.,!?;:''"()\\[\\]{}-]', '', 'g'))
                 AS n_punct,
               prnd(len(regexp_replace(text, '\\s+', '', 'g'))
                     / greatest(CASE WHEN len(trim(coalesce(text, ''))) = 0 THEN 0
                           ELSE len(regexp_split_to_array(trim(coalesce(text, '')), '\\s+')) END, 1), 4)
                 AS awl
        FROM documents
    """

    ntok = ("CASE WHEN len(trim(coalesce(text, ''))) = 0 THEN 0 "
            "ELSE len(regexp_split_to_array(trim(coalesce(text, '')), '\\s+')) END")
    npunct = "len(text) - len(regexp_replace(text, '[.,!?;:''\"()\\[\\]{}-]', '', 'g'))"
    awl = (f"(len(regexp_replace(text, '\\s+', '', 'g')) * 1.0 / greatest({ntok}, 1))")
    sql["text_quality"] = f"""
        SELECT doc_id, prnd((
            (CASE WHEN {ntok} >= 5 AND {ntok} <= 100000 THEN 1.0 ELSE 0.0 END) +
            (CASE WHEN {awl} >= 2.0 AND {awl} <= 12.0 THEN 1.0 ELSE 0.0 END) +
            (CASE WHEN ({npunct}) * 1.0 / greatest(len(text), 1) <= 0.2 THEN 1.0 ELSE 0.0 END) +
            (CASE WHEN (len(text) - len(regexp_replace(text, '[0-9]', '', 'g'))) * 1.0
                       / greatest(len(text), 1) <= 0.3 THEN 1.0 ELSE 0.0 END)
          ) / 4.0, 4) AS quality
        FROM documents
    """

    _quality_expr = f"""(
            (CASE WHEN {ntok} >= 5 AND {ntok} <= 100000 THEN 1.0 ELSE 0.0 END) +
            (CASE WHEN {awl} >= 2.0 AND {awl} <= 12.0 THEN 1.0 ELSE 0.0 END) +
            (CASE WHEN ({npunct}) * 1.0 / greatest(len(text), 1) <= 0.2 THEN 1.0 ELSE 0.0 END) +
            (CASE WHEN (len(text) - len(regexp_replace(text, '[0-9]', '', 'g'))) * 1.0
                       / greatest(len(text), 1) <= 0.3 THEN 1.0 ELSE 0.0 END)
          ) / 4.0"""

    sql["corpus_health_report"] = f"""
        WITH d AS (
          SELECT md5(regexp_replace(lower(trim(coalesce(text, ''))), '\\s+', ' ', 'g')) AS fp,
                 {ntok} AS nt,
                 {_quality_expr} AS q,
                 lang
          FROM documents
        ),
        m AS (
          SELECT CAST(count(*) AS BIGINT) AS n_docs,
                 CAST(count(DISTINCT fp) AS BIGINT) AS n_distinct,
                 avg(nt) AS mt, avg(q) AS mq
          FROM d
        ),
        l AS (SELECT lang, CAST(count(*) AS BIGINT) AS c FROM d GROUP BY lang),
        e AS (
          SELECT -sum((c * 1.0 / t) * ln(c * 1.0 / t)) AS ent
          FROM l, (SELECT sum(c) AS t FROM l)
        )
        SELECT n_docs, n_distinct,
               prnd(1.0 - n_distinct * 1.0 / n_docs, 6) AS dup_frac,
               prnd(mt, 6) AS mean_tokens,
               prnd(mq, 6) AS mean_quality,
               prnd(ent, 6) AS lang_entropy
        FROM m, e
    """

    sql["rolling_mean"] = """
        SELECT event_id, user_id, value,
               prnd(avg(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                     ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 4)
                 AS roll_avg
        FROM events
    """

    sql["window_distribution"] = """
        SELECT o_orderkey, o_orderstatus, o_totalprice,
               ntile(4) OVER w AS quartile,
               prnd(percent_rank() OVER w, 6) AS pr,
               prnd(cume_dist() OVER w, 6) AS cd
        FROM orders
        WINDOW w AS (PARTITION BY o_orderstatus
                     ORDER BY o_totalprice ASC, o_orderkey ASC)
    """

    sql["array_ops"] = """
        SELECT vec_id,
               len(embedding) AS dim,
               prnd(CAST(embedding[1] AS DOUBLE), 6) AS first_v,
               prnd(CAST(embedding[-1] AS DOUBLE), 6) AS last_v,
               prnd(list_sum(list_transform(list_slice(embedding, 1, 8),
                                            x -> CAST(x AS DOUBLE))), 6) AS head_sum
        FROM embeddings
    """

    sql["sql_interface"] = """
        SELECT c_mktsegment, count(*) AS n_big_spenders
        FROM customer c
        WHERE EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_totalprice > 300000)
        GROUP BY c_mktsegment
    """

    quality_expr = f"""(
            (CASE WHEN {ntok} >= 5 AND {ntok} <= 100000 THEN 1.0 ELSE 0.0 END) +
            (CASE WHEN {awl} >= 2.0 AND {awl} <= 12.0 THEN 1.0 ELSE 0.0 END) +
            (CASE WHEN ({npunct}) * 1.0 / greatest(len(text), 1) <= 0.2 THEN 1.0 ELSE 0.0 END) +
            (CASE WHEN (len(text) - len(regexp_replace(text, '[0-9]', '', 'g'))) * 1.0
                       / greatest(len(text), 1) <= 0.3 THEN 1.0 ELSE 0.0 END)
          ) / 4.0"""
    sql["pipeline_clean_corpus"] = f"""
        WITH q AS (
          SELECT * FROM documents WHERE {quality_expr} >= 0.75
        ),
        keep AS (
          SELECT min(doc_id) AS doc_id FROM (
            SELECT doc_id,
                   md5(regexp_replace(lower(trim(coalesce(text, ''))), '\\s+', ' ', 'g')) AS fp
            FROM q) t
          GROUP BY fp
        )
        SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
               prnd(avg({ntok}), 4) AS avg_tokens,
               CAST(sum(n_chars) AS BIGINT) AS total_chars
        FROM q WHERE doc_id IN (SELECT doc_id FROM keep)
        GROUP BY lang
    """

    s_en = _lang_score_sql("en")
    s_de = _lang_score_sql("de")
    s_fr = _lang_score_sql("fr")
    s_es = _lang_score_sql("es")
    best = f"greatest({s_en}, {s_de}, {s_fr}, {s_es})"
    sql["text_langid"] = f"""
        SELECT doc_id, lang AS lang_label,
               CASE WHEN {best} > 0 AND {s_en} = {best} THEN 'en'
                    WHEN {best} > 0 AND {s_de} = {best} THEN 'de'
                    WHEN {best} > 0 AND {s_fr} = {best} THEN 'fr'
                    WHEN {best} > 0 AND {s_es} = {best} THEN 'es'
                    ELSE 'und' END AS guess
        FROM documents
    """

    sql["text_fingerprint"] = """
        SELECT doc_id,
               md5(regexp_replace(lower(trim(coalesce(text, ''))), '\\s+', ' ', 'g')) AS fp
        FROM documents
    """

    sql["train_test_split"] = """
        SELECT split, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(n_chars) AS BIGINT) AS total_chars FROM (
          SELECT CASE
                   WHEN CAST('0x' || substr(md5(doc_id::VARCHAR), 1, 8) AS BIGINT)
                        % 1000000 < 800000 THEN 'train'
                   WHEN CAST('0x' || substr(md5(doc_id::VARCHAR), 1, 8) AS BIGINT)
                        % 1000000 < 900000 THEN 'val'
                   ELSE 'test' END AS split,
                 n_chars
          FROM documents) t
        GROUP BY split
    """

    sql["stratified_sample_counts"] = """
        SELECT event_type, count(*) AS n, prnd(sum(value), 2) AS total
        FROM events
        WHERE CAST('0x' || substr(md5(event_id::VARCHAR), 1, 8) AS BIGINT) % 1000000
              < CASE event_type
                  WHEN 'click' THEN 500000
                  WHEN 'purchase' THEN 1000000
                  ELSE 100000 END
        GROUP BY event_type
    """

    sql["winsorize_prices"] = """
        SELECT l_returnflag,
               prnd(avg(clipped), 4) AS avg_clipped,
               prnd(min(clipped), 4) AS min_clipped,
               prnd(max(clipped), 4) AS max_clipped
        FROM (
          SELECT l_returnflag,
                 least(greatest(l_extendedprice,
                                quantile_cont(l_extendedprice, 0.05)
                                  OVER (PARTITION BY l_returnflag)),
                       quantile_cont(l_extendedprice, 0.95)
                         OVER (PARTITION BY l_returnflag)) AS clipped
          FROM lineitem) t
        GROUP BY l_returnflag
    """

    # DuckDB 1.0 has no width_bucket; replicate Spark's formula verbatim:
    # floor((v - lo) / ((hi - lo) / n)) + 1, clamped to 0 / n+1 outside.
    sql["bm25_search_terms"] = """
        WITH tc AS (
          SELECT doc_id, term, count(*) AS tf FROM (
            SELECT doc_id, unnest(regexp_split_to_array(lower(trim(coalesce(text, ''))), '\\s+')) AS term
            FROM documents) u
          WHERE len(term) > 0
          GROUP BY doc_id, term
        ),
        n AS (SELECT count(*) AS n_docs FROM documents),
        dl AS (SELECT doc_id, sum(tf) AS dl FROM tc GROUP BY doc_id),
        ad AS (SELECT avg(dl) AS avgdl FROM dl),
        idf AS (
          SELECT term,
                 ln(1.0 + (n.n_docs - count(DISTINCT doc_id) + 0.5)
                        / (count(DISTINCT doc_id) + 0.5)) AS idf
          FROM tc, n GROUP BY term, n.n_docs
        )
        SELECT tc.doc_id, tc.term,
               prnd(idf.idf * (tc.tf * (1.2 + 1))
                    / (tc.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / ad.avgdl)),
                    6) AS bm25
        FROM tc
        JOIN dl USING (doc_id)
        JOIN idf USING (term), ad
        WHERE tc.term IN ('vector', 'stream', 'window', 'sort', 'batch')
    """

    sql["tfidf_top_terms"] = """
        WITH tc AS (
          SELECT doc_id, term, count(*) AS tf FROM (
            SELECT doc_id, unnest(regexp_split_to_array(lower(trim(coalesce(text, ''))), '\\s+')) AS term
            FROM documents) u
          WHERE len(term) > 0
          GROUP BY doc_id, term
        ),
        n AS (SELECT count(*) AS n_docs FROM documents),
        idf AS (
          SELECT term, ln((n.n_docs + 1.0) / (count(DISTINCT doc_id) + 1)) + 1.0 AS idf
          FROM tc, n GROUP BY term, n.n_docs
        )
        SELECT doc_id, term, tf, tfidf FROM (
          SELECT tc.doc_id, tc.term, tc.tf,
                 prnd(tc.tf * idf.idf, 6) AS tfidf,
                 row_number() OVER (PARTITION BY tc.doc_id
                                    ORDER BY prnd(tc.tf * idf.idf, 6) DESC,
                                             tc.term ASC) AS rk
          FROM tc JOIN idf USING (term)) t
        WHERE rk <= 3
    """

    sql["dedup_exact"] = """
        SELECT md5(regexp_replace(lower(trim(coalesce(text, ''))), '\\s+', ' ', 'g')) AS fp,
               min(doc_id) AS keep_id, count(*) AS n_dups
        FROM documents GROUP BY 1
    """

    from datamancer_spark.operators.dedup import MINHASH_PRIME, minhash_coeffs

    sig_items = ",\n                 ".join(
        f"list_min(list_transform(hs, h -> ({a} * h + {b}) % {MINHASH_PRIME}))"
        for a, b in minhash_coeffs(16)
    )
    sql["dedup_minhash"] = f"""
        WITH {_SHINGLES_CTE},
        hashed AS (
          SELECT doc_id,
                 list_transform(shingles,
                   s -> CAST('0x' || substr(md5(s), 1, 8) AS BIGINT)) AS hs
          FROM sh
        ),
        sig AS (
          SELECT doc_id,
                 [{sig_items}] AS sig
          FROM hashed
        ),
        banded AS (
          SELECT doc_id, b.band AS band,
                 md5(array_to_string(list_transform(generate_series(1, 4),
                       r -> sig[(b.band * 4) + r]::VARCHAR), ',')) AS bhash
          FROM sig, (SELECT unnest(generate_series(0, 3)) AS band) b
        )
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM banded a JOIN banded b
          ON a.band = b.band AND a.bhash = b.bhash AND a.doc_id < b.doc_id
    """

    # CTE chain shared by dedup_minhash_verified and dedup_canonical:
    # signatures → bands → candidates → exact jaccard on the candidate
    # subgraph, ending in `verified(id_a, id_b, jacc)`.
    _verified_ctes = f"""{_SHINGLES_CTE},
        hashed AS (
          SELECT doc_id,
                 list_transform(shingles,
                   s -> CAST('0x' || substr(md5(s), 1, 8) AS BIGINT)) AS hs
          FROM sh
        ),
        sig AS (
          SELECT doc_id, [{sig_items}] AS sig FROM hashed
        ),
        banded AS (
          SELECT doc_id, b.band AS band,
                 md5(array_to_string(list_transform(generate_series(1, 4),
                       r -> sig[(b.band * 4) + r]::VARCHAR), ',')) AS bhash
          FROM sig, (SELECT unnest(generate_series(0, 3)) AS band) b
        ),
        cands AS (
          SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
          FROM banded a JOIN banded b
            ON a.band = b.band AND a.bhash = b.bhash AND a.doc_id < b.doc_id
        ),
        involved AS (
          SELECT id_a AS doc_id FROM cands
          UNION SELECT id_b AS doc_id FROM cands
        ),
        ex AS (
          SELECT doc_id, CAST('0x' || substr(md5(s), 1, 8) AS BIGINT) AS s
          FROM (SELECT doc_id, unnest(shingles) AS s FROM sh) u
          WHERE doc_id IN (SELECT doc_id FROM involved)
        ),
        sizes AS (SELECT doc_id, count(*) AS sz FROM ex GROUP BY doc_id),
        inter AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
          FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
          GROUP BY 1, 2
        ),
        verified AS (
          SELECT i.id_a, i.id_b,
                 prnd(i.inter * 1.0 / (sa.sz + sb.sz - i.inter), 6) AS jacc
          FROM inter i
          JOIN sizes sa ON sa.doc_id = i.id_a
          JOIN sizes sb ON sb.doc_id = i.id_b
          JOIN cands c ON c.id_a = i.id_a AND c.id_b = i.id_b
          WHERE i.inter * 1.0 / (sa.sz + sb.sz - i.inter) >= 0.5
        )"""

    sql["dedup_minhash_verified"] = f"""
        WITH {_verified_ctes}
        SELECT id_a, id_b, jacc AS jaccard FROM verified
    """

    # Canonical near-dup removal twin: transitive closure of the verified
    # pair graph via a recursive CTE (the oracle-scale equivalent of the
    # engine's distributed pointer-jumping components); keep the minimum
    # id per component plus every untouched doc.
    sql["dedup_canonical"] = f"""
        WITH RECURSIVE {_verified_ctes},
        edges AS (
          SELECT id_a AS a, id_b AS b FROM verified
          UNION SELECT id_b, id_a FROM verified
        ),
        reach AS (
          SELECT a, b FROM edges
          UNION
          SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
        ),
        drops AS (
          SELECT a AS doc_id FROM reach GROUP BY a HAVING min(b) < a
        )
        SELECT lang, CAST(count(*) AS BIGINT) AS n_kept,
               CAST(sum(n_chars) AS BIGINT) AS chars_kept
        FROM documents
        WHERE doc_id NOT IN (SELECT doc_id FROM drops)
        GROUP BY lang
    """

    # SimHash twin: per-bit majority vote over md5-derived 64-bit token
    # hashes, replicated bit-for-bit in SQL (UBIGINT arithmetic); the
    # bit-block LSH join is 'share >=1 of 4 16-bit blocks', and pairs
    # filter on Hamming <= 3 exactly as the engine does.
    simhash_bits = " + ".join(
        "(CASE WHEN list_sum(list_transform(hl, h -> "
        f"CAST((h >> {b}) & 1 AS BIGINT) * 2 - 1)) > 0 "
        f"THEN CAST({1 << b} AS UBIGINT) ELSE CAST(0 AS UBIGINT) END)"
        for b in range(64)
    )
    sql["dedup_simhash"] = f"""
        WITH toks AS (
          SELECT doc_id,
                 list_distinct(list_filter(
                   regexp_split_to_array(lower(text), '\\s+'),
                   x -> len(x) > 0)) AS tk
          FROM documents
        ),
        hs AS (
          SELECT doc_id,
                 list_transform(tk,
                   t -> CAST('0x' || substr(md5(t), 1, 16) AS UBIGINT)) AS hl
          FROM toks
        ),
        sig AS (
          SELECT doc_id, ({simhash_bits}) AS sh FROM hs
        ),
        blocked AS (
          SELECT doc_id, sh, b.blk AS blk,
                 CAST((sh >> (b.blk * 16)) & 65535 AS BIGINT) AS val
          FROM sig, (SELECT unnest(generate_series(0, 3)) AS blk) b
        )
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
               CAST(bit_count(xor(a.sh, b.sh)) AS INT) AS hamming
        FROM blocked a JOIN blocked b
          ON a.blk = b.blk AND a.val = b.val AND a.doc_id < b.doc_id
        WHERE bit_count(xor(a.sh, b.sh)) <= 3
    """

    sql["dedup_jaccard"] = f"""
        WITH {_SHINGLES_CTE},
        ex AS (SELECT doc_id, CAST('0x' || substr(md5(s), 1, 8) AS BIGINT) AS s
               FROM (SELECT doc_id, unnest(shingles) AS s FROM sh) u),
        sizes AS (SELECT doc_id, count(*) AS sz FROM ex GROUP BY doc_id),
        inter AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
          FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
          GROUP BY 1, 2
        )
        SELECT id_a, id_b,
               prnd(inter * 1.0 / (sa.sz + sb.sz - inter), 6) AS jaccard
        FROM inter
        JOIN sizes sa ON sa.doc_id = id_a
        JOIN sizes sb ON sb.doc_id = id_b
        WHERE inter * 1.0 / (sa.sz + sb.sz - inter) >= 0.5
    """

    # PageRank twin: the power method's 10 iterations UNROLLED as
    # chained CTEs over the same doc_id-arithmetic edge list; ranks
    # round to 1e-6 after every iteration in BOTH engines, so float
    # association order cannot drift the comparison. Dangling-free by
    # construction (every doc has out-degree >= 1).
    _pr_iters = ",\n".join(
        f"""        pr{k} AS (
          SELECT nd.node,
                 round(0.15 / nn.n + 0.85 * coalesce(s.in_rank, 0), 6)
                   AS rank
          FROM nodes nd CROSS JOIN ncnt nn
          LEFT JOIN (
            SELECT e.v AS node, sum(p.rank / e.deg) AS in_rank
            FROM edged e JOIN pr{k - 1} p ON p.node = e.u
            GROUP BY e.v
          ) s ON s.node = nd.node
        )"""
        for k in range(1, 11)
    )
    sql["pagerank_links"] = f"""
        WITH ncnt AS (SELECT count(*) AS n FROM documents),
        edges AS (
          SELECT doc_id AS u, (doc_id * 7 + 1) % (SELECT n FROM ncnt) AS v
          FROM documents
          UNION
          SELECT doc_id, (doc_id * 13 + 5) % (SELECT n FROM ncnt)
          FROM documents
        ),
        nodes AS (
          SELECT u AS node FROM edges UNION SELECT v FROM edges
        ),
        deg AS (SELECT u, count(*) AS deg FROM edges GROUP BY u),
        edged AS (SELECT e.u, e.v, d.deg FROM edges e JOIN deg d ON d.u = e.u),
        pr0 AS (
          SELECT node, 1.0 / nn.n AS rank FROM nodes CROSS JOIN ncnt nn
        ),
{_pr_iters}
        SELECT node, rank FROM pr10
    """

    # Crawl link-graph PageRank twin (r12): the SAME 10 unrolled
    # iterations over the closed-form RESOLVED edge set (chain +
    # tree-parent + decade-leader; UNION dedups coincident targets
    # exactly like the operator's distinct()). Iterations run at FULL
    # precision — per-iteration rounding creates exact half-boundary
    # rationals where HALF_UP/half-even flip (measured at sf0.1 on the
    # first-cut hub ring) — and only the output rounds, via the
    # portable floor-form prnd.
    _prc_iters = ",\n".join(
        f"""        prc{k} AS (
          SELECT nd.node,
                 -- DOUBLE casts everywhere: DuckDB parses bare 1.0/0.85
                 -- as exact DECIMALs (1.0-0.85 = exact 0.15, /n = exact
                 -- 3e-5) while Spark computes IEEE doubles
                 -- ((1.0-0.85) = 0.15000000000000002) — one ulp apart,
                 -- enough to flip exact-boundary ranks under prnd
                 (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / nn.n
                   + CAST(0.85 AS DOUBLE) * coalesce(s.in_rank, 0) AS rank
          FROM nodes nd CROSS JOIN ncnt nn
          LEFT JOIN (
            SELECT e.v AS node, sum(p.rank / e.deg) AS in_rank
            FROM edged e JOIN prc{k - 1} p ON p.node = e.u
            GROUP BY e.v
          ) s ON s.node = nd.node
        )"""
        for k in range(1, 11)
    )
    # k-core twin (r14): same closed-form edge enumeration as the
    # pagerank twin, symmetrized, then the 3 peel rounds unrolled as
    # chained CTEs (keep_i = degree>=3 nodes, und_i = edges among them).
    sql["kcore_crawl_links"] = f"""
        WITH edges AS (
          SELECT 'http://crawl.example/p/' || CAST(doc_id AS VARCHAR) AS u,
                 'http://crawl.example/p/' || CAST(
                   CASE WHEN doc_id = 0 THEN 1 ELSE doc_id - 1 END
                   AS VARCHAR) AS v
          FROM documents
          UNION
          SELECT 'http://crawl.example/p/' || CAST(doc_id AS VARCHAR),
                 'http://crawl.example/p/' || CAST(
                   CASE WHEN doc_id = 0 THEN 1 ELSE doc_id // 2 END
                   AS VARCHAR)
          FROM documents
          UNION
          SELECT 'http://crawl.example/p/' || CAST(doc_id AS VARCHAR),
                 'http://crawl.example/p/' || CAST(
                   CASE WHEN doc_id = 0 THEN 2
                        WHEN doc_id % 10 = 0 THEN doc_id - 10
                        ELSE doc_id - doc_id % 10 END
                   AS VARCHAR)
          FROM documents
        ),
        und0 AS (
          SELECT u, v FROM edges WHERE u <> v
          UNION
          SELECT v, u FROM edges WHERE u <> v
        ),
        keep1 AS (
          SELECT u FROM und0 GROUP BY u HAVING count(*) >= 3
        ),
        und1 AS (
          SELECT e.u, e.v FROM und0 e
          WHERE e.u IN (SELECT u FROM keep1)
            AND e.v IN (SELECT u FROM keep1)
        ),
        keep2 AS (
          SELECT u FROM und1 GROUP BY u HAVING count(*) >= 3
        ),
        und2 AS (
          SELECT e.u, e.v FROM und1 e
          WHERE e.u IN (SELECT u FROM keep2)
            AND e.v IN (SELECT u FROM keep2)
        ),
        keep3 AS (
          SELECT u FROM und2 GROUP BY u HAVING count(*) >= 3
        ),
        und3 AS (
          SELECT e.u, e.v FROM und2 e
          WHERE e.u IN (SELECT u FROM keep3)
            AND e.v IN (SELECT u FROM keep3)
        )
        SELECT u AS node, CAST(count(*) AS BIGINT) AS degree
        FROM und3 GROUP BY u
    """

    sql["pagerank_crawl_links"] = f"""
        WITH edges AS (
          SELECT 'http://crawl.example/p/' || CAST(doc_id AS VARCHAR) AS u,
                 'http://crawl.example/p/' || CAST(
                   CASE WHEN doc_id = 0 THEN 1 ELSE doc_id - 1 END
                   AS VARCHAR) AS v
          FROM documents
          UNION
          SELECT 'http://crawl.example/p/' || CAST(doc_id AS VARCHAR),
                 'http://crawl.example/p/' || CAST(
                   CASE WHEN doc_id = 0 THEN 1 ELSE doc_id // 2 END
                   AS VARCHAR)
          FROM documents
          UNION
          SELECT 'http://crawl.example/p/' || CAST(doc_id AS VARCHAR),
                 'http://crawl.example/p/' || CAST(
                   CASE WHEN doc_id = 0 THEN 2
                        WHEN doc_id % 10 = 0 THEN doc_id - 10
                        ELSE doc_id - doc_id % 10 END
                   AS VARCHAR)
          FROM documents
        ),
        nodes AS (
          SELECT u AS node FROM edges UNION SELECT v FROM edges
        ),
        ncnt AS (SELECT count(*) AS n FROM nodes),
        deg AS (SELECT u, count(*) AS deg FROM edges GROUP BY u),
        edged AS (SELECT e.u, e.v, d.deg FROM edges e JOIN deg d ON d.u = e.u),
        prc0 AS (
          SELECT node, CAST(1.0 AS DOUBLE) / nn.n AS rank
          FROM nodes CROSS JOIN ncnt nn
        ),
{_prc_iters}
        SELECT node, prnd(rank, 6) AS rank FROM prc10
    """

    # Temperature mixture twin: the whole weight derivation in SQL —
    # counts -> pow(n, 0.5) -> normalize -> feasible T -> floor
    # thresholds -> the md5-bucket test (hash32('0'||id) % 1e6).
    sql["temperature_mix_langs"] = """
        WITH counts AS MATERIALIZED (
          SELECT lang AS k, CAST(count(*) AS BIGINT) AS n
          FROM documents WHERE lang IS NOT NULL GROUP BY lang
        ),
        w AS MATERIALIZED (
          SELECT k, n, pow(CAST(n AS DOUBLE), 0.5) AS wt FROM counts
        ),
        norm AS MATERIALIZED (
          SELECT k, n, wt / (SELECT sum(wt) FROM w) AS p FROM w
        ),
        tt AS MATERIALIZED (SELECT min(n / p) AS t FROM norm),
        thr AS MATERIALIZED (
          SELECT k,
                 CAST(floor(p * (SELECT t FROM tt) / n * 1e6 + 0.5)
                      AS BIGINT) AS thr
          FROM norm
        )
        SELECT d.doc_id, d.lang
        FROM documents d JOIN thr ON thr.k = d.lang
        WHERE CAST('0x' || substr(md5('0' || CAST(d.doc_id AS VARCHAR)),
                                  1, 8) AS BIGINT) % 1000000 < thr.thr
    """

    # HITS twin: 5 iterations × 2 stages unrolled as chained CTEs over
    # the same doc_id-arithmetic edges; sum-normalization keeps every
    # stage sqrt-free, per-stage 1e-6 rounding absorbs float order.
    _hits_stages = []
    prev_h = "h0"
    for k in range(1, 6):
        _hits_stages.append(f"""        a{k}raw AS MATERIALIZED (
          SELECT e.v AS node, sum(p.val) AS s
          FROM edges e JOIN {prev_h} p ON p.node = e.u GROUP BY e.v
        ),
        a{k} AS MATERIALIZED (
          SELECT nd.node,
                 round(coalesce(r.s, 0) / (SELECT sum(s) FROM a{k}raw), 6)
                   AS val
          FROM nodes nd LEFT JOIN a{k}raw r ON r.node = nd.node
        ),
        h{k}raw AS MATERIALIZED (
          SELECT e.u AS node, sum(a.val) AS s
          FROM edges e JOIN a{k} a ON a.node = e.v GROUP BY e.u
        ),
        h{k} AS MATERIALIZED (
          SELECT nd.node,
                 round(coalesce(r.s, 0) / (SELECT sum(s) FROM h{k}raw), 6)
                   AS val
          FROM nodes nd LEFT JOIN h{k}raw r ON r.node = nd.node
        )""")
        prev_h = f"h{k}"
    sql["hits_links"] = f"""
        WITH ncnt AS MATERIALIZED (SELECT count(*) AS n FROM documents),
        edges AS MATERIALIZED (
          SELECT doc_id AS u, (doc_id * 7 + 1) % (SELECT n FROM ncnt) AS v
          FROM documents
          UNION
          SELECT doc_id, (doc_id * 13 + 5) % (SELECT n FROM ncnt)
          FROM documents
        ),
        nodes AS MATERIALIZED (
          SELECT u AS node FROM edges UNION SELECT v FROM edges
        ),
        h0 AS MATERIALIZED (
          SELECT node, 1.0 / nn.n AS val FROM nodes CROSS JOIN ncnt nn
        ),
{",".join(_hits_stages)}
        SELECT h5.node, h5.val AS hub, a5.val AS auth
        FROM h5 JOIN a5 ON a5.node = h5.node
    """

    # Naive Bayes twin: the WHOLE train+score composition replicated —
    # per-class token counts, Laplace-1 smoothing, log priors, rounded
    # log-posteriors, argmax with the same tie-break. ln() differs by
    # <=1 ulp between the JVM and libm; the 1e-6 rounding before the
    # argmax absorbs it.
    # BPE trainer twin (r12): the full 8-step training loop unrolled —
    # per step: pair counting weighted by pretoken frequency, argmax
    # (max count, lexicographically-smallest pair — '!' as the symbol
    # separator sorts below every symbol char, so concat order ==
    # Python's tuple order), then ONE guarded string replace per
    # pretoken (exact because the distinct-character pool guarantees
    # each pair occurs at most once per pretoken; see _BPE_POOL).
    _bsep = "!"
    _g = "\u0120"  # GPT-2 byte symbol for 0x20 (space), "G-dot"
    _pt_rows = []
    for _j, _w in enumerate(_BPE_POOL[:5]):
        _pt_rows.append(
            f"('{_w}', '{_bsep.join(_w)}', "
            f"(SELECT count(*) FROM documents WHERE doc_id % 5 = {_j}))"
        )
    for _j, _w in enumerate(_BPE_POOL[:5]):
        _pt_rows.append(
            f"('{_g}{_w}', '{_g}{_bsep}{_bsep.join(_w)}', "
            f"(SELECT count(*) FROM documents"
            f" WHERE (doc_id // 5) % 5 = {_j}))"
        )
    for _j, _w in enumerate(_BPE_POOL[5:9]):
        _pt_rows.append(
            f"('{_g}{_w}', '{_g}{_bsep}{_bsep.join(_w)}', "
            f"(SELECT count(*) FROM documents WHERE doc_id % 4 = {_j}))"
        )
    _bpe_steps = []
    for _k in range(1, 9):
        _prev = f"bw{_k - 1}"
        _bpe_steps.append(f"""        bp{_k} AS MATERIALIZED (
          SELECT pr, sum(f) AS cnt FROM (
            SELECT f, unnest(CASE WHEN len(toks) < 2
                     THEN CAST([] AS VARCHAR[])
                     ELSE list_transform(
                            generate_series(1, len(toks) - 1),
                            j -> toks[j] || '{_bsep}' || toks[j + 1])
                     END) AS pr
            FROM (SELECT f, string_split(syms, '{_bsep}') AS toks
                  FROM {_prev})
          ) GROUP BY pr
        ),
        bb{_k} AS MATERIALIZED (
          SELECT pr FROM bp{_k} ORDER BY cnt DESC, pr ASC LIMIT 1
        ),
        bw{_k} AS MATERIALIZED (
          SELECT pt, f,
                 trim(replace('{_bsep}' || syms || '{_bsep}',
                              '{_bsep}' || (SELECT pr FROM bb{_k})
                                || '{_bsep}',
                              '{_bsep}' || replace(
                                  (SELECT pr FROM bb{_k}),
                                  '{_bsep}', '') || '{_bsep}'),
                      '{_bsep}') AS syms
          FROM {_prev}
        )""")
    _bpe_out = "\n        UNION ALL\n".join(
        f"""        SELECT CAST({_k} AS INT) AS step,
               string_split((SELECT pr FROM bb{_k}), '{_bsep}')[1]
                 AS merge_left,
               string_split((SELECT pr FROM bb{_k}), '{_bsep}')[2]
                 AS merge_right"""
        for _k in range(1, 9)
    )
    _pt_sql = ",\n            ".join(_pt_rows)
    _steps_sql = ",\n".join(_bpe_steps)
    sql["bpe_train_merges"] = f"""
        WITH bw0 AS MATERIALIZED (
          SELECT * FROM (VALUES
            {_pt_sql}
          ) t(pt, syms, f)
        ),
{_steps_sql}
{_bpe_out}
    """

    sql["nb_lang_classify"] = """
        WITH toks AS (
          SELECT doc_id,
                 unnest(list_filter(
                   regexp_split_to_array(lower(trim(coalesce(text, ''))),
                                         '\\s+'),
                   x -> len(x) > 0)) AS tok
          FROM documents
        ),
        doc_toks AS (
          SELECT doc_id, tok, count(*) AS cnt FROM toks GROUP BY 1, 2
        ),
        labeled AS (
          SELECT t.doc_id, t.tok, d.lang AS cls
          FROM toks t JOIN documents d USING (doc_id)
        ),
        class_tok AS (
          SELECT cls, tok, count(*) AS n_tc FROM labeled GROUP BY 1, 2
        ),
        class_tot AS (
          SELECT cls, sum(n_tc) AS n_c FROM class_tok GROUP BY 1
        ),
        vocab AS (
          -- training vocabulary only (textbook NB): tokens of LABELED
          -- docs; unlabeled docs are scored, never counted into V
          SELECT CAST(count(DISTINCT tok) AS DOUBLE) AS v
          FROM labeled WHERE cls IS NOT NULL
        ),
        nd AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
        priors AS (
          SELECT lang AS cls, ln(count(*) / (SELECT n FROM nd)) AS logprior
          FROM documents GROUP BY lang
        ),
        scored AS (
          SELECT dt.doc_id, p.cls,
                 p.logprior + sum(dt.cnt * ln(
                   (coalesce(ct.n_tc, 0) + 1.0)
                   / (tt.n_c + 1.0 * (SELECT v FROM vocab)))) AS raw
          FROM doc_toks dt
          CROSS JOIN priors p
          LEFT JOIN class_tok ct ON ct.cls = p.cls AND ct.tok = dt.tok
          JOIN class_tot tt ON tt.cls = p.cls
          GROUP BY dt.doc_id, p.cls, p.logprior
        ),
        prior_only AS (
          SELECT d.doc_id, p.cls, p.logprior AS raw
          FROM documents d CROSS JOIN priors p
          WHERE d.doc_id NOT IN (SELECT doc_id FROM doc_toks)
        ),
        allsc AS (
          SELECT doc_id, cls, round(raw, 6) AS score
          FROM (SELECT * FROM scored UNION ALL SELECT * FROM prior_only)
        ),
        best AS (
          SELECT doc_id, cls AS predicted, score FROM (
            SELECT *, row_number() OVER (
              PARTITION BY doc_id ORDER BY score DESC, cls ASC) AS rk
            FROM allsc) x WHERE rk = 1
        )
        SELECT d.doc_id, d.lang, b.predicted, b.score,
               (d.lang = b.predicted) AS correct
        FROM documents d JOIN best b USING (doc_id)
    """

    # Boilerplate line filter twin: the same per-line rule arithmetic
    # (min-words / terminal-punct-with-long-line-escape / marker
    # substrings / uppercase ratio) over the same constructed page;
    # survivors reassembled in line order via FILTERed string_agg.
    sql["boilerplate_filter_doc"] = """
        WITH pages AS (
          SELECT doc_id,
                 coalesce(text, '')
                   || chr(10) || 'Home | About | Contact'
                   || chr(10) || 'Copyright 2026 Example Corp. All rights reserved.'
                   || chr(10) || 'BREAKING NEWS MENU BAR NAVIGATION HEADER'
                   || chr(10) || 'tiny frag'
                   || chr(10) || 'A genuine closing sentence with enough words to clearly survive the filter.'
                   AS page
          FROM documents
        ),
        exploded AS (
          SELECT doc_id,
                 unnest(list_transform(
                   string_split(page, chr(10)),
                   (x, i) -> {'pos': i - 1, 'line': x})) AS u
          FROM pages
        ),
        lines AS (
          SELECT doc_id, u.pos AS pos, trim(u.line) AS t, u.line AS line
          FROM exploded
          WHERE len(trim(u.line)) > 0
        ),
        flagged AS (
          SELECT doc_id, pos, line,
                 (len(regexp_split_to_array(t, '\\s+')) < 3
                  OR (NOT regexp_matches(t, '[.!?]$')
                      AND len(regexp_split_to_array(t, '\\s+')) < 10)
                  OR contains(lower(t), 'copyright')
                  OR contains(lower(t), 'all rights reserved')
                  OR contains(lower(t), 'terms of use')
                  OR contains(lower(t), 'privacy policy')
                  OR contains(lower(t), 'cookie')
                  OR contains(lower(t), 'javascript')
                  OR contains(lower(t), 'click here')
                  OR contains(lower(t), 'share on')
                  OR contains(lower(t), 'subscribe')
                  OR (len(regexp_replace(t, '[^A-Za-z]', '', 'g')) >= 10
                      AND len(regexp_replace(t, '[^A-Z]', '', 'g')) * 1.0
                          / len(regexp_replace(t, '[^A-Za-z]', '', 'g'))
                          > 0.6)
                 ) AS boiler
          FROM lines
        )
        SELECT doc_id,
               CAST(count(*) AS BIGINT) AS n_lines,
               CAST(sum(CASE WHEN boiler THEN 0 ELSE 1 END) AS BIGINT)
                 AS n_kept,
               coalesce(string_agg(line, chr(10) ORDER BY pos)
                          FILTER (WHERE NOT boiler), '') AS clean_text
        FROM flagged GROUP BY doc_id
    """

    # Directed containment twin: shared-shingle counts once per
    # unordered pair, both directions derived; same 32-bit shingle
    # hashing as the jaccard twin.
    sql["containment_pairs"] = f"""
        WITH {_SHINGLES_CTE},
        ex AS (SELECT doc_id, CAST('0x' || substr(md5(s), 1, 8) AS BIGINT) AS s
               FROM (SELECT doc_id, unnest(shingles) AS s FROM sh) u),
        sizes AS (SELECT doc_id, count(*) AS sz FROM ex GROUP BY doc_id),
        inter AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
          FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
          GROUP BY 1, 2
        ),
        pairbase AS (
          SELECT i.id_a, i.id_b, i.inter, sa.sz AS sz_a, sb.sz AS sz_b
          FROM inter i
          JOIN sizes sa ON sa.doc_id = i.id_a
          JOIN sizes sb ON sb.doc_id = i.id_b
        ),
        directed AS (
          SELECT id_a AS src_id, id_b AS dst_id,
                 inter * 1.0 / sz_a AS containment FROM pairbase
          UNION ALL
          SELECT id_b, id_a, inter * 1.0 / sz_b FROM pairbase
        )
        SELECT src_id, dst_id, prnd(containment, 6) AS containment
        FROM directed WHERE containment >= 0.2
    """

    # Guarded containment twin (r12): same plan with the appended
    # footer, a df computation over the postings, pruning at <= 50,
    # and — the contract under test — sizes from the UNPRUNED set.
    sql["containment_guarded_pairs"] = f"""
        WITH docs AS (
          SELECT doc_id,
                 regexp_split_to_array(
                   lower(trim(coalesce(text, '')
                              || ' {_CONTAIN_FOOTER}')), '\\s+') AS toks
          FROM documents
        ),
        sh AS (
          SELECT doc_id,
                 CASE WHEN len(toks) - 2 <= 0
                      THEN [array_to_string(toks, ' ')]
                      ELSE list_distinct(list_transform(
                             generate_series(1, len(toks) - 2),
                             i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
                 END AS shingles
          FROM docs
        ),
        ex AS (SELECT doc_id, CAST('0x' || substr(md5(s), 1, 8) AS BIGINT) AS s
               FROM (SELECT doc_id, unnest(shingles) AS s FROM sh) u),
        sizes AS (SELECT doc_id, count(*) AS sz FROM ex GROUP BY doc_id),
        freq AS (SELECT s, count(*) AS df FROM ex GROUP BY s),
        pruned AS (
          SELECT ex.doc_id, ex.s FROM ex JOIN freq USING (s)
          WHERE freq.df <= 50
        ),
        inter AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
          FROM pruned a JOIN pruned b ON a.s = b.s AND a.doc_id < b.doc_id
          GROUP BY 1, 2
        ),
        pairbase AS (
          SELECT i.id_a, i.id_b, i.inter, sa.sz AS sz_a, sb.sz AS sz_b
          FROM inter i
          JOIN sizes sa ON sa.doc_id = i.id_a
          JOIN sizes sb ON sb.doc_id = i.id_b
        ),
        directed AS (
          SELECT id_a AS src_id, id_b AS dst_id,
                 inter * 1.0 / sz_a AS containment FROM pairbase
          UNION ALL
          SELECT id_b, id_a, inter * 1.0 / sz_b FROM pairbase
        )
        SELECT src_id, dst_id, prnd(containment, 6) AS containment
        FROM directed WHERE containment >= 0.2
    """

    # HLL accuracy-contract twin: the Spark query emits within-5% booleans,
    # so the oracle is the contract itself.
    sql["approx_distinct"] = """
        SELECT l_returnflag, TRUE AS parts_ok, TRUE AS orders_ok
        FROM lineitem GROUP BY l_returnflag
    """

    # Bucketed embedding dedup twin: the 4 hyperplanes are md5-derived
    # constants (similarity.plane_matrix, seed 42) inlined verbatim;
    # multiprobe=1 collision == signature Hamming distance <= 2.
    from datamancer_spark.operators.similarity import plane_matrix

    def _bucket_terms(num_planes: int, seed: int = 42) -> str:
        M = plane_matrix(num_planes, 64, seed=seed)
        return " + ".join(
            "(CASE WHEN list_dot_product(CAST(embedding AS DOUBLE[]), ["
            + ", ".join(repr(x) for x in M[p])
            + f"]) >= 0 THEN {1 << p} ELSE 0 END)"
            for p in range(num_planes)
        )

    bucket_terms = _bucket_terms(4)
    sql["dedup_embedding_bucketed"] = f"""
        WITH bk AS (
          SELECT vec_id, embedding, ({bucket_terms}) AS bucket FROM embeddings
        )
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               prnd(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                            CAST(b.embedding AS DOUBLE[])), 6) AS cos
        FROM bk a JOIN bk b ON a.vec_id < b.vec_id
        WHERE bit_count(xor(a.bucket, b.bucket)) <= 2
          AND prnd(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                           CAST(b.embedding AS DOUBLE[])), 6) >= 0.35
    """

    sql["dedup_embedding"] = """
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               prnd(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                            CAST(b.embedding AS DOUBLE[])), 6) AS cos
        FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        WHERE prnd(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                           CAST(b.embedding AS DOUBLE[])), 6) >= 0.35
    """

    sql["knn_brute"] = """
        WITH q AS (SELECT vec_id AS query_id, embedding AS qv
                   FROM embeddings WHERE vec_id < 10),
        scored AS (
          SELECT q.query_id, e.vec_id AS neighbor_id,
                 prnd(list_cosine_similarity(CAST(q.qv AS DOUBLE[]),
                                              CAST(e.embedding AS DOUBLE[])), 6) AS cos
          FROM embeddings e CROSS JOIN q
          WHERE e.vec_id <> q.query_id)
        SELECT query_id, neighbor_id, cos, rank FROM (
          SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY cos DESC, neighbor_id ASC) AS rank
          FROM scored) t
        WHERE rank <= 5
    """

    # LSH kNN twin: same inlined 4-plane bucket constants; no multiprobe
    # in the query entry, so candidates = exact bucket equality.
    sql["knn_lsh"] = f"""
        WITH bk AS (
          SELECT vec_id, embedding, ({bucket_terms}) AS bucket FROM embeddings
        ),
        q AS (SELECT vec_id AS query_id, embedding AS qv, bucket
              FROM bk WHERE vec_id < 10),
        scored AS (
          SELECT q.query_id, c.vec_id AS neighbor_id,
                 prnd(list_cosine_similarity(CAST(q.qv AS DOUBLE[]),
                                              CAST(c.embedding AS DOUBLE[])), 6) AS cos
          FROM bk c JOIN q USING (bucket)
          WHERE c.vec_id <> q.query_id
        )
        SELECT query_id, neighbor_id, cos, rank FROM (
          SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY cos DESC, neighbor_id ASC) AS rank
          FROM scored) t
        WHERE rank <= 5
    """

    # IVF kNN twin: the 8 precomputed centroids are inlined as VALUES;
    # assignment = argmin euclidean (ties broken by centroid id, same as
    # numpy argmin/argsort), probes = 3 nearest centroids per query.
    cent_rows = ",\n               ".join(
        f"({c}, [" + ", ".join(repr(x) for x in plane_matrix(8, 64, seed=7)[c]) + "])"
        for c in range(8)
    )
    # PQ sub-codebooks: 8 subspaces × 16 centroids × 8 dims, the same
    # deterministic construction knn_pq_codes broadcasts
    _pq_books = S.pq_codebooks(m=8, k=16, dim=64, seed=11)
    pq_rows = ",\n               ".join(
        f"({m}, {c}, ["
        + ", ".join(repr(float(x)) for x in _pq_books[m][c])
        + "])"
        for m in range(8)
        for c in range(16)
    )
    sql["knn_ivf"] = f"""
        WITH cents(cid, cv) AS (
          VALUES {cent_rows}
        ),
        asn AS (
          SELECT vec_id, embedding, cid AS centroid FROM (
            SELECT e.vec_id, e.embedding, c.cid,
                   row_number() OVER (
                     PARTITION BY e.vec_id
                     ORDER BY list_distance(CAST(e.embedding AS DOUBLE[]), c.cv) ASC,
                              c.cid ASC) AS rn
            FROM embeddings e CROSS JOIN cents c) t
          WHERE rn = 1
        ),
        probes AS (
          SELECT vec_id AS query_id, cid AS centroid FROM (
            SELECT e.vec_id, c.cid,
                   row_number() OVER (
                     PARTITION BY e.vec_id
                     ORDER BY list_distance(CAST(e.embedding AS DOUBLE[]), c.cv) ASC,
                              c.cid ASC) AS rn
            FROM embeddings e CROSS JOIN cents c
            WHERE e.vec_id < 10) t
          WHERE rn <= 3
        ),
        scored AS (
          SELECT p.query_id, a.vec_id AS neighbor_id,
                 prnd(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                              CAST(a.embedding AS DOUBLE[])), 6) AS cos
          FROM probes p
          JOIN asn a ON a.centroid = p.centroid
          JOIN embeddings q ON q.vec_id = p.query_id
          WHERE a.vec_id <> p.query_id
        )
        SELECT query_id, neighbor_id, cos, rank FROM (
          SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY cos DESC, neighbor_id ASC) AS rank
          FROM scored) t
        WHERE rank <= 5
    """

    # PQ ADC kNN: per-(vector, subspace) argmin code over the inlined
    # sub-centroids (sqrt distance is argmin-equivalent to the engine's
    # squared-L2), exact per-query distance tables, ADC = sum over
    # subspaces with the same half-up 1e-6 portable rounding BEFORE
    # ranking that knn_pq applies.
    sql["knn_pq_codes"] = f"""
        WITH pqc(m, cid, cv) AS (
          VALUES {pq_rows}
        ),
        asn AS (
          SELECT vec_id, m, cid AS code FROM (
            SELECT e.vec_id, c.m, c.cid,
                   row_number() OVER (
                     PARTITION BY e.vec_id, c.m
                     ORDER BY list_distance(
                       CAST(list_slice(e.embedding, c.m*8+1, c.m*8+8)
                            AS DOUBLE[]), c.cv) ASC,
                       c.cid ASC) AS rn
            FROM embeddings e CROSS JOIN pqc c) t
          WHERE rn = 1
        ),
        qtab AS (
          SELECT e.vec_id AS query_id, c.m, c.cid AS code,
                 power(list_distance(
                   CAST(list_slice(e.embedding, c.m*8+1, c.m*8+8)
                        AS DOUBLE[]), c.cv), 2) AS d
          FROM embeddings e CROSS JOIN pqc c
          WHERE e.vec_id < 10
        ),
        adc AS (
          SELECT q.query_id, a.vec_id AS neighbor_id,
                 floor(sum(q.d) * 1e6 + 0.5) / 1e6 AS adc
          FROM asn a
          JOIN qtab q ON q.m = a.m AND q.code = a.code
          WHERE q.query_id <> a.vec_id
          GROUP BY q.query_id, a.vec_id
        )
        SELECT query_id, neighbor_id, adc, rank FROM (
          SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY adc ASC, neighbor_id ASC)
                    AS rank
          FROM adc) t
        WHERE rank <= 5
    """

    # Count-min sketch: the DuckDB twin rebuilds the 4x256 counter
    # matrix from the same portable md5 hashes and reads the same
    # min-over-rows estimates.
    sql["token_freq_cms"] = """
        WITH toks AS (
          SELECT unnest(list_filter(
                   regexp_split_to_array(lower(trim(coalesce(text, ''))),
                                         '\\s+'),
                   x -> len(x) > 0)) AS tok
          FROM documents
        ),
        truth AS (
          SELECT tok, CAST(count(*) AS BIGINT) AS true_count
          FROM toks GROUP BY tok
        ),
        entries AS (
          SELECT r.r AS row,
                 CAST('0x' || substr(md5('cms' || CAST(r.r AS VARCHAR)
                        || t.tok), 1, 15) AS BIGINT) % 256 AS col,
                 t.true_count AS n
          FROM truth t CROSS JOIN (VALUES (0), (1), (2), (3)) r(r)
        ),
        sketch AS (
          SELECT row, col, CAST(sum(n) AS BIGINT) AS n
          FROM entries GROUP BY row, col
        ),
        top AS (
          SELECT tok, true_count FROM truth
          ORDER BY true_count DESC, tok ASC LIMIT 30
        ),
        probes AS (
          SELECT t.tok, r.r AS row,
                 CAST('0x' || substr(md5('cms' || CAST(r.r AS VARCHAR)
                        || t.tok), 1, 15) AS BIGINT) % 256 AS col
          FROM top t CROSS JOIN (VALUES (0), (1), (2), (3)) r(r)
        ),
        est AS (
          SELECT p.tok, CAST(min(coalesce(s.n, 0)) AS BIGINT) AS est
          FROM probes p
          LEFT JOIN sketch s ON s.row = p.row AND s.col = p.col
          GROUP BY p.tok
        )
        SELECT t.tok, t.true_count, e.est
        FROM top t JOIN est e ON e.tok = t.tok
    """

    # NFC normalization: a genuine cross-IMPLEMENTATION differential —
    # Python unicodedata (Spark side) vs utf8proc (DuckDB
    # nfc_normalize) must produce byte-identical NFC for the corpus +
    # the decomposed suffix; md5 pins every byte. chr(769/771/778) are
    # the combining acute/tilde/ring the Spark side appends as
    # \u escapes.
    sql["normalize_nfc_text"] = """
        WITH raw AS (
          SELECT doc_id,
                 coalesce(text, '') || ' e' || chr(769) || ' o'
                   || chr(771) || ' a' || chr(778) AS r
          FROM documents
        )
        SELECT doc_id,
               CAST(len(r) AS INT) AS n_before,
               CAST(len(nfc_normalize(r)) AS INT) AS n_after,
               md5(nfc_normalize(r)) AS fp_norm
        FROM raw
    """

    # Portable HLL: the twin rebuilds all occupied registers from the
    # same md5 split (low 8 bits -> register, remaining 52 ->
    # 53 - bitlen; bin() is the minimal binary string in both engines)
    # and the estimator's harmonic sum in exact bigint arithmetic
    # (each register contributes 2^(53-rank); absent registers 2^53),
    # so the single float division is engine-identical. sf0.01 (500
    # docs) exercises the linear-counting arm, sf0.1 (5,000) the raw
    # harmonic arm.
    sql["doc_distinct_hll"] = """
        WITH fps AS (
          SELECT md5(regexp_replace(lower(trim(coalesce(text, ''))),
                                    '\\s+', ' ', 'g')) AS fp
          FROM documents
        ),
        h AS (
          SELECT CAST('0x' || substr(md5('hll' || fp), 1, 15)
                      AS BIGINT) AS h
          FROM fps
        ),
        regs AS (
          SELECT h % 256 AS register,
                 CAST(max(CASE WHEN h // 256 = 0 THEN 53
                          ELSE 53 - len(bin(h // 256)) END) AS INT)
                   AS rank
          FROM h GROUP BY h % 256
        ),
        agg AS (
          SELECT sum(1::BIGINT << (53 - rank))
                   + (256 - count(*)) * (1::BIGINT << 53) AS s,
                 CAST(256 - count(*) AS BIGINT) AS v
          FROM regs
        ),
        raw AS (
          SELECT (0.7213 / (1 + 1.079 / 256)) * 256.0 * 256.0
                   * 9007199254740992.0 / s AS raw, v
          FROM agg
        ),
        est AS (
          SELECT round(CASE WHEN raw <= 2.5 * 256 AND v > 0
                            THEN 256.0 * ln(256.0 / v)
                            ELSE raw END, 2) AS est
          FROM raw
        ),
        truth AS (
          SELECT CAST(count(DISTINCT fp) AS BIGINT) AS true_distinct
          FROM fps
        )
        SELECT r.register, r.rank, e.est, t.true_distinct
        FROM regs r CROSS JOIN est e CROSS JOIN truth t
    """

    # Margin-based bitext mining: both kNN directions replicated with
    # the same rounded-cos ranking as knn_brute, k=4 density averages,
    # margin rounded half-up to 1e-6 BEFORE the threshold cut.
    sql["mine_bitext_pairs"] = """
        WITH s AS (SELECT vec_id, embedding FROM embeddings
                   WHERE vec_id % 2 = 0),
             t AS (SELECT vec_id, embedding FROM embeddings
                   WHERE vec_id % 2 = 1),
        fwd_scored AS (
          SELECT s.vec_id AS query_id, t.vec_id AS neighbor_id,
                 prnd(list_cosine_similarity(CAST(s.embedding AS DOUBLE[]),
                        CAST(t.embedding AS DOUBLE[])), 6) AS cos
          FROM s CROSS JOIN t),
        fwd_k AS (
          SELECT * FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id
                        ORDER BY cos DESC, neighbor_id ASC) AS rank
            FROM fwd_scored) x WHERE rank <= 4),
        fa AS (SELECT query_id, avg(cos) AS _fa FROM fwd_k
               GROUP BY query_id),
        bwd_scored AS (
          SELECT t.vec_id AS query_id, s.vec_id AS neighbor_id,
                 prnd(list_cosine_similarity(CAST(t.embedding AS DOUBLE[]),
                        CAST(s.embedding AS DOUBLE[])), 6) AS cos
          FROM t CROSS JOIN s),
        bwd_k AS (
          SELECT * FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id
                        ORDER BY cos DESC, neighbor_id ASC) AS rank
            FROM bwd_scored) x WHERE rank <= 4),
        ba AS (SELECT query_id, avg(cos) AS _ba FROM bwd_k
               GROUP BY query_id),
        best AS (SELECT query_id AS src_id, neighbor_id AS tgt_id, cos
                 FROM fwd_k WHERE rank = 1),
        scored AS (
          SELECT b.src_id, b.tgt_id, b.cos,
                 floor(b.cos / ((fa._fa + ba._ba) / 2) * 1e6 + 0.5) / 1e6
                   AS margin
          FROM best b
          JOIN fa ON fa.query_id = b.src_id
          JOIN ba ON ba.query_id = b.tgt_id)
        SELECT src_id, tgt_id, cos, margin FROM scored
        WHERE margin >= 1.05
    """

    # Shared IVF assignment CTE (same 8 inlined centroids as knn_ivf):
    # nearest centroid by L2, ties to the lowest centroid id.
    _ivf_asn = f"""cents(cid, cv) AS (
          VALUES {cent_rows}
        ),
        asn AS (
          SELECT vec_id, embedding, cid AS centroid FROM (
            SELECT e.vec_id, e.embedding, c.cid,
                   row_number() OVER (
                     PARTITION BY e.vec_id
                     ORDER BY list_distance(CAST(e.embedding AS DOUBLE[]), c.cv) ASC,
                              c.cid ASC) AS rn
            FROM embeddings e CROSS JOIN cents c) t
          WHERE rn = 1
        )"""

    sql["semantic_dedup_embeddings"] = f"""
        WITH {_ivf_asn},
        dropped AS (
          SELECT DISTINCT b.vec_id
          FROM asn a JOIN asn b
            ON a.centroid = b.centroid AND a.vec_id < b.vec_id
          WHERE prnd(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                             CAST(b.embedding AS DOUBLE[])), 6)
                >= 0.35
        )
        SELECT vec_id FROM embeddings
        WHERE vec_id NOT IN (SELECT vec_id FROM dropped)
    """

    sql["ivf_cluster_profile"] = f"""
        WITH {_ivf_asn}
        SELECT a.centroid, CAST(count(*) AS BIGINT) AS n,
               prnd(avg(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                                c.cv)), 6) AS mean_cos
        FROM asn a JOIN cents c ON c.cid = a.centroid
        GROUP BY a.centroid
    """

    sql["embedding_stats"] = """
        SELECT vec_id, label,
               prnd(sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                           CAST(embedding AS DOUBLE[]))), 6) AS nrm,
               len(embedding) AS dim
        FROM embeddings
    """

    # Corpus-quality tier twins (operators/quality.py). All integer
    # counts + one final division each, so they hash-compare exactly.
    sql["repetition_quality"] = """
        WITH toks AS (
          SELECT doc_id, regexp_split_to_array(lower(trim(coalesce(text, ''))), '\\s+') AS tk
          FROM documents
        ),
        base AS (
          SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_words,
                 len(list_distinct(tk)) AS n_distinct,
                 length(array_to_string(tk, ' ')) AS n_chars
          FROM toks
        ),
        tg3 AS (
          SELECT doc_id, CASE WHEN len(tk) - 2 <= 0
                 THEN [array_to_string(tk, ' ')]
                 ELSE list_transform(generate_series(1, len(tk) - 2),
                      i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]) END AS gs
          FROM toks
        ),
        ng3 AS (
          SELECT doc_id, g, count(*) AS c
          FROM (SELECT doc_id, unnest(gs) AS g FROM tg3) u GROUP BY 1, 2
        ),
        agg3 AS (
          SELECT doc_id, sum(c) AS tot,
                 sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS dup
          FROM ng3 GROUP BY 1
        ),
        tg2 AS (
          SELECT doc_id, CASE WHEN len(tk) - 1 <= 0
                 THEN [array_to_string(tk, ' ')]
                 ELSE list_transform(generate_series(1, len(tk) - 1),
                      i -> tk[i] || ' ' || tk[i+1]) END AS gs
          FROM toks
        ),
        ng2 AS (
          SELECT doc_id, g, count(*) AS c
          FROM (SELECT doc_id, unnest(gs) AS g FROM tg2) u GROUP BY 1, 2
        ),
        agg2 AS (
          SELECT doc_id, max(c * length(g)) AS topcov FROM ng2 GROUP BY 1
        )
        SELECT b.doc_id, b.n_words,
               prnd((b.n_words - b.n_distinct) * 1.0 / b.n_words, 6) AS dup_word_frac,
               prnd(a3.dup * 1.0 / a3.tot, 6) AS dup_ngram_frac,
               prnd(a2.topcov * 1.0 / b.n_chars, 6) AS top_ngram_cov
        FROM base b
        JOIN agg3 a3 USING (doc_id)
        JOIN agg2 a2 USING (doc_id)
    """

    sql["line_dedup"] = """
        WITH raw AS (
          SELECT doc_id, string_split(text, chr(10)) AS ls FROM documents
        ),
        lines AS (
          SELECT doc_id, unnest(ls) AS line,
                 unnest(generate_series(1, len(ls))) AS pos
          FROM raw
        ),
        ne AS (SELECT * FROM lines WHERE length(trim(line)) > 0),
        win AS (
          SELECT doc_id, pos, line,
                 row_number() OVER (PARTITION BY line
                                    ORDER BY doc_id, pos) AS rn
          FROM ne
        ),
        rebuilt AS (
          SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS clean_text
          FROM win WHERE rn = 1 GROUP BY doc_id
        )
        SELECT d.doc_id, coalesce(r.clean_text, '') AS clean_text
        FROM documents d LEFT JOIN rebuilt r USING (doc_id)
    """

    sql["contamination_screen"] = f"""
        WITH {_SHINGLES_CTE},
        ex AS (
          SELECT doc_id, CAST('0x' || substr(md5(s), 1, 8) AS BIGINT) AS sh
          FROM (SELECT doc_id, unnest(shingles) AS s FROM sh) u
        ),
        tot AS (
          SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shingles
          FROM ex GROUP BY doc_id
        ),
        bench AS (SELECT DISTINCT sh FROM ex WHERE doc_id % 97 = 0),
        hit AS (
          SELECT doc_id, CAST(count(*) AS BIGINT) AS n_contaminated
          FROM ex WHERE sh IN (SELECT sh FROM bench) GROUP BY doc_id
        )
        SELECT t.doc_id, t.n_shingles,
               CAST(coalesce(h.n_contaminated, 0) AS BIGINT) AS n_contaminated,
               prnd(coalesce(h.n_contaminated, 0) * 1.0 / t.n_shingles, 6)
                 AS contamination
        FROM tot t LEFT JOIN hit h ON t.doc_id = h.doc_id
    """

    # inline the SAME normalized doubles the Spark operator computes
    # (repr round-trips exactly; the division order must match
    # quality.mixture_resample's "w_k * T / n_k")
    _mix_tw = float(sum(_MIX_WEIGHTS.values()))
    _mix_vals = ", ".join(
        f"('{k}', {v / _mix_tw!r})" for k, v in _MIX_WEIGHTS.items()
    )
    sql["mixture_resample_langs"] = f"""
        WITH w AS (SELECT * FROM (VALUES {_mix_vals}) AS t(lang, wt)),
        counts AS (
          SELECT lang, CAST(count(*) AS BIGINT) AS n
          FROM documents GROUP BY lang
        ),
        j AS (
          SELECT c.lang, c.n, w.wt FROM counts c JOIN w USING (lang)
          WHERE w.wt > 0
        ),
        t AS (SELECT min(n / wt) AS t FROM j),
        rates AS (
          SELECT lang,
                 CAST(floor((wt * t.t / n) * 1000000.0 + 0.5) AS BIGINT) AS thr
          FROM j, t
        )
        SELECT d.doc_id, d.lang
        FROM documents d JOIN rates r USING (lang)
        WHERE CAST('0x' || substr(md5('0' || CAST(d.doc_id AS VARCHAR)), 1, 8)
                   AS BIGINT) % 1000000 < r.thr
    """

    sql["pack_sequences_bins"] = """
        WITH d AS (
          SELECT doc_id,
                 CAST(len(list_filter(
                   regexp_split_to_array(lower(trim(coalesce(text, ''))), '\\s+'),
                   x -> len(x) > 0)) AS BIGINT) AS n_tokens,
                 CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
                      AS BIGINT) % 32 AS shard
          FROM documents
        ),
        c AS (
          SELECT doc_id, shard, n_tokens,
                 sum(n_tokens) OVER (
                   PARTITION BY shard ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
          FROM d
        )
        SELECT doc_id, shard, n_tokens,
               CAST(floor((cum - n_tokens) * 1.0 / 512) AS BIGINT) AS bin
        FROM c
    """

    sql["token_topk_lang"] = """
        WITH toks AS (
          SELECT lang,
                 unnest(list_filter(
                   regexp_split_to_array(lower(trim(coalesce(text, ''))), '\\s+'),
                   x -> len(x) > 0)) AS token
          FROM documents
        ),
        c AS (
          SELECT lang, token, CAST(count(*) AS BIGINT) AS n
          FROM toks GROUP BY lang, token
        ),
        r AS (
          SELECT lang, token, n,
                 CAST(row_number() OVER (
                   PARTITION BY lang ORDER BY n DESC, token ASC
                 ) AS BIGINT) AS "rank"
          FROM c
        )
        SELECT lang, token, n, "rank" FROM r WHERE "rank" <= 10
    """

    sql["budget_select_langs"] = """
        WITH d AS (
          SELECT doc_id, lang, n_chars,
                 CAST(len(list_filter(
                   regexp_split_to_array(lower(trim(coalesce(text, ''))), '\\s+'),
                   x -> len(x) > 0)) AS BIGINT) AS n_tokens
          FROM documents
        ),
        c AS (
          SELECT doc_id, lang, n_tokens,
                 sum(n_tokens) OVER (
                   PARTITION BY lang ORDER BY n_chars DESC, doc_id ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                 ) AS cum
          FROM d
        )
        SELECT doc_id, lang, n_tokens, CAST(cum AS BIGINT) AS cum_tokens
        FROM c WHERE cum - n_tokens < 2000
    """

    sql["length_filter_langs"] = """
        WITH b AS (
          SELECT lang,
                 prnd(quantile_cont(n_chars, 0.05), 6) AS lo,
                 prnd(quantile_cont(n_chars, 0.95), 6) AS hi
          FROM documents GROUP BY lang
        )
        SELECT d.doc_id, d.lang, d.n_chars
        FROM documents d JOIN b USING (lang)
        WHERE d.n_chars >= b.lo AND d.n_chars <= b.hi
    """

    sql["unigram_perplexity_proxy"] = """
        WITH toks AS (
          SELECT doc_id,
                 unnest(list_filter(
                   regexp_split_to_array(lower(trim(coalesce(text, ''))), '\\s+'),
                   x -> len(x) > 0)) AS tok
          FROM documents
        ),
        vocab AS (
          SELECT tok, CAST(count(*) AS BIGINT) AS n FROM toks GROUP BY tok
        ),
        total AS (SELECT sum(n) AS t FROM vocab),
        probs AS (
          SELECT tok, -ln(n / t.t) AS nlp FROM vocab, total t
        )
        SELECT toks.doc_id,
               CAST(count(*) AS BIGINT) AS n_tokens,
               prnd(avg(p.nlp), 6) AS avg_neg_logprob
        FROM toks JOIN probs p USING (tok)
        GROUP BY toks.doc_id
    """

    sql["cohort_retention_weekly"] = """
        WITH first AS (
          SELECT user_id, min(CAST(ts AS DATE)) AS first_date
          FROM events GROUP BY user_id
        )
        SELECT f.first_date AS cohort_start,
               CAST(floor(date_diff('day', f.first_date, CAST(e.ts AS DATE))
                          / 7.0) AS BIGINT) AS period_offset,
               CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_users
        FROM events e JOIN first f USING (user_id)
        GROUP BY 1, 2
    """

    sql["funnel_view_click_purchase"] = """
        WITH s1 AS (
          SELECT user_id, min(ts) AS conv FROM events
          WHERE event_type = 'view' GROUP BY user_id
        ),
        s2 AS (
          SELECT e.user_id, min(e.ts) AS conv
          FROM events e JOIN s1 ON e.user_id = s1.user_id
          WHERE e.event_type = 'click' AND e.ts > s1.conv
          GROUP BY e.user_id
        ),
        s3 AS (
          SELECT e.user_id, min(e.ts) AS conv
          FROM events e JOIN s2 ON e.user_id = s2.user_id
          WHERE e.event_type = 'purchase' AND e.ts > s2.conv
          GROUP BY e.user_id
        )
        SELECT 'view' AS step, CAST(1 AS BIGINT) AS step_idx,
               CAST((SELECT count(*) FROM s1) AS BIGINT) AS n_users
        UNION ALL
        SELECT 'click', CAST(2 AS BIGINT),
               CAST((SELECT count(*) FROM s2) AS BIGINT)
        UNION ALL
        SELECT 'purchase', CAST(3 AS BIGINT),
               CAST((SELECT count(*) FROM s3) AS BIGINT)
    """

    sql["grouped_mutate_150k"] = """
        SELECT l_orderkey, l_linenumber, l_quantity,
               CAST(sum(l_quantity) OVER w AS BIGINT) AS order_qty,
               prnd(l_quantity / sum(l_quantity) OVER w, 6) AS qty_share
        FROM lineitem
        WINDOW w AS (PARTITION BY l_orderkey)
    """

    sql["q4_late_shipping"] = """
        SELECT o.o_orderpriority, CAST(count(*) AS BIGINT) AS n_late_orders
        FROM orders o
        WHERE EXISTS (
          SELECT 1 FROM lineitem l
          WHERE l.l_orderkey = o.o_orderkey
            AND l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
        )
        GROUP BY o.o_orderpriority
    """

    sql["q10_return_customers"] = """
        SELECT o.o_custkey, c.c_name, c.c_acctbal,
               prnd(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        WHERE l.l_returnflag = 'R'
        GROUP BY o.o_custkey, c.c_name, c.c_acctbal
        ORDER BY revenue DESC, o.o_custkey ASC
        LIMIT 20
    """

    sql["q14_promo_share"] = """
        SELECT
          prnd(sum(CASE WHEN p.p_type = 'PROMO'
                        THEN l.l_extendedprice * (1 - l.l_discount)
                        ELSE 0.0 END), 2) AS promo_revenue,
          prnd(sum(l.l_extendedprice * (1 - l.l_discount)), 2)
            AS total_revenue,
          prnd(sum(CASE WHEN p.p_type = 'PROMO'
                        THEN l.l_extendedprice * (1 - l.l_discount)
                        ELSE 0.0 END)
               / sum(l.l_extendedprice * (1 - l.l_discount)), 6)
            AS promo_share
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        WHERE l.l_shipdate >= '1996-03-01' AND l.l_shipdate < '1996-04-01'
    """

    sql["q18_big_orders"] = """
        WITH big AS (
          SELECT l_orderkey AS o_orderkey,
                 CAST(sum(l_quantity) AS BIGINT) AS total_qty
          FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 300
        )
        SELECT b.o_orderkey, o.o_custkey, c.c_name, o.o_orderdate,
               prnd(o.o_totalprice, 2) AS o_totalprice, b.total_qty
        FROM big b
        JOIN orders o ON b.o_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
    """

    _seen = ", ".join(f"'{s}'" for s in _SEEN_SOURCES)
    sql["dedup_incremental"] = f"""
        WITH base AS (
          SELECT doc_id, source,
                 md5(regexp_replace(lower(trim(coalesce(text, ''))), '\\s+', ' ', 'g')) AS fp
          FROM documents WHERE source NOT IN ({_seen})
        ),
        keepers AS (
          SELECT fp, min(doc_id) AS keep_id FROM base GROUP BY fp
        ),
        selfd AS (
          SELECT b.doc_id, b.source, b.fp
          FROM base b JOIN keepers k
            ON b.fp = k.fp AND b.doc_id = k.keep_id
        ),
        seen AS (
          SELECT DISTINCT
                 md5(regexp_replace(lower(trim(coalesce(text, ''))), '\\s+', ' ', 'g')) AS fp
          FROM documents WHERE source IN ({_seen})
        )
        SELECT s.doc_id, s.source
        FROM selfd s ANTI JOIN seen ON s.fp = seen.fp
    """

    # Bloom pre-screen twin: rebuild the occupied-position frame from
    # the identical md5 arithmetic (md5('bl'||i||fp) -> first-15-hex
    # bigint % 2048), probe every new doc's 4 positions, and compute
    # the same maybe_seen / is_seen_dup / contract_ok flags. Snapshots
    # overlap on doc_id%4==2 so true cross-snapshot dups exist.
    sql["dedup_bloom_screened"] = """
        WITH newd AS (
          SELECT doc_id, source,
                 md5(regexp_replace(lower(trim(coalesce(text, ''))), '\\s+', ' ', 'g')) AS fp
          FROM documents WHERE doc_id % 4 >= 2
        ),
        seenf AS (
          SELECT DISTINCT
                 md5(regexp_replace(lower(trim(coalesce(text, ''))), '\\s+', ' ', 'g')) AS fp
          FROM documents WHERE doc_id % 4 <= 2
        ),
        positions AS (
          SELECT DISTINCT
                 CAST('0x' || substr(md5('bl' || CAST(g.i AS VARCHAR) || s.fp), 1, 15)
                      AS BIGINT) % 2048 AS pos
          FROM seenf s, generate_series(0, 3) g(i)
        ),
        probes AS (
          SELECT n.doc_id, n.source, n.fp,
                 CAST('0x' || substr(md5('bl' || CAST(g.i AS VARCHAR) || n.fp), 1, 15)
                      AS BIGINT) % 2048 AS pos
          FROM newd n, generate_series(0, 3) g(i)
        ),
        flags AS (
          SELECT doc_id, source, fp,
                 bool_and(pos IN (SELECT pos FROM positions)) AS maybe_seen
          FROM probes GROUP BY doc_id, source, fp
        )
        SELECT f.doc_id, f.source, f.maybe_seen,
               (f.fp IN (SELECT fp FROM seenf)) AS is_seen_dup,
               (f.maybe_seen OR f.fp NOT IN (SELECT fp FROM seenf))
                 AS contract_ok
        FROM flags f
    """

    # Fuzzy twin: MinHash band match vs history + exact-Jaccard confirm.
    # Signatures/bands use the same inlined constants as dedup_minhash.
    sql["dedup_fuzzy_incremental"] = f"""
        WITH {_SHINGLES_CTE},
        hashed AS (
          SELECT doc_id,
                 list_transform(shingles,
                   s -> CAST('0x' || substr(md5(s), 1, 8) AS BIGINT)) AS hs
          FROM sh
        ),
        sig AS (
          SELECT doc_id, [{sig_items}] AS sig FROM hashed
        ),
        side AS (
          SELECT doc_id,
                 CASE WHEN source IN ({_seen}) THEN 1 ELSE 0 END AS is_seen
          FROM documents
        ),
        banded AS (
          SELECT s.doc_id, sd.is_seen, b.band AS band,
                 md5(array_to_string(list_transform(generate_series(1, 4),
                       r -> sig[(b.band * 4) + r]::VARCHAR), ',')) AS bhash
          FROM sig s JOIN side sd USING (doc_id),
               (SELECT unnest(generate_series(0, 3)) AS band) b
        ),
        cands AS (
          SELECT DISTINCT n.doc_id AS nid, s.doc_id AS sid
          FROM banded n JOIN banded s
            ON n.band = s.band AND n.bhash = s.bhash
          WHERE n.is_seen = 0 AND s.is_seen = 1
        ),
        ex AS (
          SELECT doc_id, CAST('0x' || substr(md5(s), 1, 8) AS BIGINT) AS h
          FROM (SELECT doc_id, unnest(shingles) AS s FROM sh) u
          WHERE doc_id IN (SELECT nid FROM cands UNION SELECT sid FROM cands)
        ),
        sizes AS (SELECT doc_id, count(*) AS sz FROM ex GROUP BY doc_id),
        inter AS (
          SELECT c.nid, c.sid, count(*) AS inter
          FROM cands c
          JOIN ex a ON a.doc_id = c.nid
          JOIN ex b ON b.doc_id = c.sid AND a.h = b.h
          GROUP BY 1, 2
        ),
        flagged AS (
          SELECT DISTINCT i.nid FROM inter i
          JOIN sizes sa ON sa.doc_id = i.nid
          JOIN sizes sb ON sb.doc_id = i.sid
          WHERE i.inter * 1.0 / (sa.sz + sb.sz - i.inter) >= 0.5
        )
        SELECT d.doc_id, d.source
        FROM documents d
        JOIN side sd ON sd.doc_id = d.doc_id AND sd.is_seen = 0
        WHERE d.doc_id NOT IN (SELECT nid FROM flagged)
    """

    # Index-probe twin (r15): the SAME screen rebuilt DIRECTLY (LSH vs
    # history) over a corpus CTE carrying the even/odd split plus the
    # mirror-copy injections — index probe == direct screen is the
    # index contract itself. Shingle/signature/band CTEs mirror
    # dedup_fuzzy_incremental's proven constants.
    sql["dedup_index_probe"] = f"""
        WITH corpus AS (
          SELECT doc_id, text, source, 1 AS is_seen
          FROM documents WHERE doc_id % 2 = 0
          UNION ALL
          SELECT doc_id, text, source, 0 AS is_seen
          FROM documents WHERE doc_id % 2 = 1
          UNION ALL
          SELECT doc_id + 1000000, text || ' mirror copy', source,
                 0 AS is_seen
          FROM documents WHERE doc_id % 2 = 0 AND doc_id % 10 = 0
        ),
        docs AS (
          SELECT doc_id,
                 regexp_split_to_array(lower(trim(coalesce(text, ''))),
                                       '\\s+') AS toks
          FROM corpus
        ),
        sh AS (
          SELECT doc_id,
                 CASE WHEN len(toks) - 2 <= 0
                      THEN [array_to_string(toks, ' ')]
                      ELSE list_distinct(list_transform(
                             generate_series(1, len(toks) - 2),
                             i -> toks[i] || ' ' || toks[i+1] || ' '
                                  || toks[i+2]))
                 END AS shingles
          FROM docs
        ),
        hashed AS (
          SELECT doc_id,
                 list_transform(shingles,
                   s -> CAST('0x' || substr(md5(s), 1, 8) AS BIGINT)) AS hs
          FROM sh
        ),
        sig AS (
          SELECT doc_id, [{sig_items}] AS sig FROM hashed
        ),
        banded AS (
          SELECT s.doc_id, c.is_seen, b.band AS band,
                 md5(array_to_string(list_transform(generate_series(1, 4),
                       r -> sig[(b.band * 4) + r]::VARCHAR), ',')) AS bhash
          FROM sig s JOIN corpus c USING (doc_id),
               (SELECT unnest(generate_series(0, 3)) AS band) b
        ),
        cands AS (
          SELECT DISTINCT n.doc_id AS nid, s.doc_id AS sid
          FROM banded n JOIN banded s
            ON n.band = s.band AND n.bhash = s.bhash
          WHERE n.is_seen = 0 AND s.is_seen = 1
        ),
        ex AS (
          SELECT doc_id, CAST('0x' || substr(md5(s), 1, 8) AS BIGINT) AS h
          FROM (SELECT doc_id, unnest(shingles) AS s FROM sh) u
          WHERE doc_id IN (SELECT nid FROM cands UNION SELECT sid FROM cands)
        ),
        sizes AS (SELECT doc_id, count(*) AS sz FROM ex GROUP BY doc_id),
        inter AS (
          SELECT c.nid, c.sid, count(*) AS inter
          FROM cands c
          JOIN ex a ON a.doc_id = c.nid
          JOIN ex b ON b.doc_id = c.sid AND a.h = b.h
          GROUP BY 1, 2
        ),
        flagged AS (
          SELECT DISTINCT i.nid FROM inter i
          JOIN sizes sa ON sa.doc_id = i.nid
          JOIN sizes sb ON sb.doc_id = i.sid
          WHERE i.inter * 1.0 / (sa.sz + sb.sz - i.inter) >= 0.5
        )
        SELECT c.doc_id, c.source
        FROM corpus c
        WHERE c.is_seen = 0
          AND c.doc_id NOT IN (SELECT nid FROM flagged)
    """

    _embcols = ",\n                 ".join(
        f"sum(CASE WHEN h % 64 = {j} THEN "
        f"(CASE WHEN (h // 64) % 2 = 0 THEN 1.0 ELSE -1.0 END) "
        f"ELSE 0.0 END) AS e{j}"
        for j in range(64)
    )
    _normsum = " + ".join(f"e{j}*e{j}" for j in range(64))
    _embitems = ", ".join(
        f"prnd(CASE WHEN nrm = 0 THEN 0.0 ELSE e{j} / nrm END, 6)"
        for j in range(64)
    )
    # driver-sortable long form: one (doc_id, dim, value) row per
    # component — the r5 array<double> output crashed the driver's
    # pandas canonicalizer (unhashable numpy arrays). embedding[i]
    # is 1-based in DuckDB; dim is the 0-based Spark posexplode pos.
    sql["text_hash_embedding"] = f"""
        WITH t AS (
          SELECT doc_id,
                 list_filter(regexp_split_to_array(lower(trim(coalesce(text, ''))), '\\s+'),
                             x -> len(x) > 0) AS toks
          FROM documents
        ),
        u AS (
          SELECT doc_id, CAST('0x' || substr(md5(tok), 1, 8) AS BIGINT) AS h
          FROM (SELECT doc_id, unnest(toks) AS tok FROM t) q
        ),
        g AS (SELECT doc_id, {_embcols} FROM u GROUP BY doc_id),
        n AS (SELECT *, sqrt({_normsum}) AS nrm FROM g),
        m AS (SELECT doc_id, [{_embitems}] AS embedding FROM n)
        SELECT m.doc_id, CAST(i.i - 1 AS INT) AS dim,
               m.embedding[i.i] AS value
        FROM m CROSS JOIN (SELECT unnest(range(1, 65)) AS i) i
    """

    # text→vector→cluster→dedup replica: same embedding CTEs (unrounded
    # components) + the knn_ivf centroids + the predecessor-pair rule.
    _embraw = ", ".join(
        f"CASE WHEN nrm = 0 THEN 0.0 ELSE e{j} / nrm END" for j in range(64)
    )
    sql["dedup_semantic_text"] = f"""
        WITH t AS (
          SELECT doc_id,
                 list_filter(regexp_split_to_array(lower(trim(coalesce(text, ''))), '\\s+'),
                             x -> len(x) > 0) AS toks
          FROM documents
        ),
        u AS (
          SELECT doc_id, CAST('0x' || substr(md5(tok), 1, 8) AS BIGINT) AS h
          FROM (SELECT doc_id, unnest(toks) AS tok FROM t) q
        ),
        g AS (SELECT doc_id, {_embcols} FROM u GROUP BY doc_id),
        n AS (SELECT *, sqrt({_normsum}) AS nrm FROM g),
        emb AS (SELECT doc_id, [{_embraw}] AS v FROM n),
        cents(cid, cv) AS (
          VALUES {cent_rows}
        ),
        asn AS (
          SELECT doc_id, v, cid AS centroid FROM (
            SELECT e.doc_id, e.v, c.cid,
                   row_number() OVER (
                     PARTITION BY e.doc_id
                     ORDER BY list_distance(CAST(e.v AS DOUBLE[]), c.cv) ASC,
                              c.cid ASC) AS rn
            FROM emb e CROSS JOIN cents c) q
          WHERE rn = 1
        ),
        dropped AS (
          SELECT DISTINCT b.doc_id
          FROM asn a JOIN asn b
            ON a.centroid = b.centroid AND a.doc_id < b.doc_id
          WHERE prnd(list_cosine_similarity(CAST(a.v AS DOUBLE[]),
                                             CAST(b.v AS DOUBLE[])), 6)
                >= 0.95
        )
        SELECT doc_id FROM emb
        WHERE doc_id NOT IN (SELECT doc_id FROM dropped)
    """

    sql["salted_events_rollup"] = """
        SELECT event_type,
               CAST(count(event_id) AS BIGINT) AS n,
               prnd(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) / 100.0, 2)
                 AS total_value
        FROM events GROUP BY event_type
    """

    sql["source_skew_profile"] = """
        WITH c AS (
          SELECT source AS key, CAST(count(*) AS BIGINT) AS n
          FROM documents GROUP BY source
        ),
        t AS (SELECT sum(n) AS total FROM c),
        r AS (
          SELECT key, n,
                 row_number() OVER (ORDER BY n DESC, key ASC) AS rank
          FROM c
        ),
        s AS (SELECT key, n, rank, total FROM r, t WHERE rank <= 10)
        SELECT key, n,
               prnd(n * 1.0 / total, 6) AS share,
               prnd(sum(n * 1.0 / total) OVER (
                 ORDER BY rank
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6)
               AS cum_share,
               CAST(rank AS INTEGER) AS rank
        FROM s
    """

    sql["bigram_perplexity_proxy"] = """
        WITH t AS (
          SELECT doc_id,
                 list_filter(regexp_split_to_array(lower(trim(coalesce(text, ''))), '\\s+'),
                             x -> len(x) > 0) AS toks
          FROM documents
        ),
        b AS (
          SELECT doc_id, p['w1'] AS w1, p['w2'] AS w2 FROM (
            SELECT doc_id,
                   unnest(list_transform(generate_series(2, len(toks)),
                          i -> {'w1': toks[i-1], 'w2': toks[i]})) AS p
            FROM t WHERE len(toks) >= 2) u
        ),
        g AS (
          SELECT doc_id, w1, w2, CAST(count(*) AS BIGINT) AS m
          FROM b GROUP BY 1, 2, 3
        ),
        un AS (
          SELECT w, CAST(count(*) AS BIGINT) AS n FROM (
            SELECT unnest(toks) AS w FROM t) u GROUP BY w
        ),
        tot AS (SELECT sum(n) AS total FROM un),
        bc AS (SELECT w1, w2, sum(m) AS nb FROM g GROUP BY 1, 2),
        ctx AS (SELECT w1, sum(nb) AS nc FROM bc GROUP BY 1),
        scored AS (
          SELECT g.doc_id, g.m,
                 -ln(0.7 * (bc.nb / nc) + 0.3 * (un.n / total)) AS nlp
          FROM g
          JOIN bc USING (w1, w2)
          JOIN ctx USING (w1)
          JOIN un ON un.w = g.w2, tot
        )
        SELECT doc_id, CAST(sum(m) AS BIGINT) AS n_bigrams,
               prnd(sum(m * nlp) / sum(m), 6) AS avg_neg_logprob
        FROM scored GROUP BY doc_id
    """

    sql["score_calibration_en"] = """
        WITH toks AS (
          SELECT doc_id, lang,
                 list_filter(regexp_split_to_array(lower(trim(coalesce(text, ''))), '\\s+'),
                             t -> len(t) > 0) AS tk
          FROM documents
        ), scored AS (
          SELECT doc_id, lang,
                 coalesce(list_sum(list_transform(tk, t ->
                   ((CAST('0x' || substr(md5('w7_' || CAST(
                        CAST('0x' || substr(md5(t), 1, 8) AS BIGINT) % 1024
                      AS VARCHAR)), 1, 8) AS BIGINT) % 20001) - 10000)
                   / 10000.0)), 0.0) AS wsum,
                 greatest(len(tk), 1) AS n
          FROM toks
        ), s AS (
          SELECT prnd(1.0 / (1.0 + exp(-(wsum / n))), 6) AS score,
                 CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y
          FROM scored
        )
        SELECT CASE WHEN score < 0.0 THEN 0
                    WHEN score >= 1.0 THEN 11
                    ELSE CAST(floor(score / 0.1) AS BIGINT) + 1
               END AS bucket,
               CAST(count(*) AS BIGINT) AS n,
               prnd(avg(score), 6) AS mean_score,
               prnd(avg(y), 6) AS positive_rate
        FROM s GROUP BY bucket
    """

    sql["chunk_sliding_windows"] = """
        WITH d AS (
          SELECT doc_id,
                 list_filter(regexp_split_to_array(lower(trim(coalesce(text, ''))), '\\s+'),
                             t -> len(t) > 0) AS toks
          FROM documents
        ),
        n AS (SELECT doc_id, toks, len(toks) AS n FROM d),
        c AS (
          SELECT doc_id, toks, n,
                 unnest(generate_series(0,
                   CASE WHEN n > 32 THEN (n - 32 + 23) // 24 ELSE 0 END))
                 AS chunk_idx
          FROM n
        )
        SELECT doc_id,
               CAST(chunk_idx AS BIGINT) AS chunk_idx,
               CAST(chunk_idx * 24 AS BIGINT) AS chunk_start,
               CAST(least(32, n - chunk_idx * 24) AS BIGINT) AS n_chunk_tokens,
               array_to_string(
                 list_slice(toks, chunk_idx * 24 + 1, chunk_idx * 24 + 32),
                 ' ') AS chunk_text
        FROM c
    """

    sql["weighted_sample_langs"] = """
        WITH w AS (
          SELECT doc_id, lang, n_chars,
                 -ln((CAST('0x' || substr(md5('0_' || CAST(doc_id AS VARCHAR)), 1, 8)
                       AS BIGINT) + 1) / 4294967297.0) / n_chars AS pri
          FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0
        ),
        r AS (
          SELECT doc_id, lang, n_chars,
                 row_number() OVER (PARTITION BY lang ORDER BY pri, doc_id) AS rn
          FROM w
        )
        SELECT doc_id, lang, n_chars FROM r WHERE rn <= 20
    """

    sql["purchase_followup_views"] = """
        WITH p AS (
          SELECT event_id AS purchase_id, user_id, ts AS p_start,
                 ts + INTERVAL 1 HOUR AS p_end
          FROM events WHERE event_type = 'purchase'
        ),
        v AS (SELECT user_id, ts FROM events WHERE event_type = 'view')
        SELECT p.purchase_id, p.user_id, count(*) AS n_views
        FROM p JOIN v ON v.user_id = p.user_id
                     AND v.ts > p.p_start AND v.ts <= p.p_end
        GROUP BY 1, 2
    """

    sql["dup_cluster_histogram"] = """
        WITH fp AS (
          SELECT md5(regexp_replace(lower(trim(coalesce(text, ''))), '\\s+', ' ', 'g')) AS f
          FROM documents
        ),
        c AS (
          SELECT f, CAST(count(*) AS BIGINT) AS cluster_size
          FROM fp GROUP BY f
        )
        SELECT cluster_size, CAST(count(*) AS BIGINT) AS n_clusters
        FROM c GROUP BY cluster_size
    """

    # Every queries() entry has a value-level oracle: approximate ops use
    # deterministic md5-derived constants inlined above (LSH planes, IVF
    # centroids, SimHash bit math) so even they hash-compare exactly.
    sql["duplicate_spans"] = """
        WITH t AS (
          SELECT doc_id, source,
                 list_filter(regexp_split_to_array(lower(trim(coalesce(text, ''))), '\\s+'),
                             x -> len(x) > 0) AS toks
          FROM documents
        ),
        c AS (
          SELECT doc_id, source, greatest(len(toks) - 5, 0) AS n_windows, toks
          FROM t
        ),
        wh AS (
          SELECT doc_id,
                 unnest(list_transform(generate_series(1, n_windows),
                        s -> md5(array_to_string(toks[s:s+5], ' ')))) AS h
          FROM c WHERE n_windows > 0
        ),
        hot AS (SELECT h FROM wh GROUP BY h HAVING count(DISTINCT doc_id) >= 2),
        dup AS (
          SELECT doc_id, CAST(count(*) AS BIGINT) AS nd
          FROM wh WHERE h IN (SELECT h FROM hot) GROUP BY doc_id
        )
        SELECT c.source,
               CAST(sum(c.n_windows) AS BIGINT) AS windows,
               CAST(sum(coalesce(d.nd, 0)) AS BIGINT) AS dup_windows,
               CAST(count(CASE WHEN coalesce(d.nd, 0) > 0 THEN 1 END) AS BIGINT)
                 AS docs_with_dups
        FROM c LEFT JOIN dup d USING (doc_id)
        GROUP BY c.source
        ORDER BY c.source
    """

    sql["q7_nation_volume"] = """
        SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
               CAST(year(l.l_shipdate) AS INT) AS l_year,
               prnd(CAST(sum(CAST(floor(l.l_extendedprice * (1 - l.l_discount)
                    * 100 + 0.5) AS BIGINT)) AS BIGINT) / 100.0, 2) AS revenue
        FROM lineitem l
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
        JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
        WHERE n1.n_name <> n2.n_name
        GROUP BY 1, 2, 3
    """

    sql["q13_order_count_dist"] = """
        SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
        FROM (
          SELECT c.c_custkey, CAST(count(o.o_orderkey) AS BIGINT) AS c_count
          FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
          GROUP BY c.c_custkey
        )
        GROUP BY c_count
    """

    sql["q15_top_supplier"] = """
        WITH rev AS (
          SELECT l_suppkey AS s_suppkey,
                 CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5)
                          AS BIGINT)) AS BIGINT) AS cents
          FROM lineitem
          WHERE l_shipdate >= TIMESTAMP '1996-01-01'
            AND l_shipdate < TIMESTAMP '1996-04-01'
          GROUP BY 1
        )
        SELECT r.s_suppkey, s.s_name, prnd(r.cents / 100.0, 2) AS total_revenue
        FROM rev r JOIN supplier s USING (s_suppkey)
        WHERE r.cents = (SELECT max(cents) FROM rev)
    """

    sql["q19_discounted_revenue"] = """
        SELECT prnd(CAST(sum(CAST(floor(l.l_extendedprice * (1 - l.l_discount)
                    * 100 + 0.5) AS BIGINT)) AS BIGINT) / 100.0, 2) AS revenue,
               CAST(count(*) AS BIGINT) AS n_lines
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 5
               AND l.l_quantity BETWEEN 1 AND 11)
           OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 10
               AND l.l_quantity BETWEEN 10 AND 20)
           OR (p.p_brand = 'Brand#34' AND p.p_size BETWEEN 1 AND 15
               AND l.l_quantity BETWEEN 20 AND 30)
    """

    sql["q22_dormant_customers"] = """
        SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS numcust,
               prnd(CAST(sum(CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)) AS BIGINT)
                    / 100.0, 2) AS totacctbal
        FROM customer c
        WHERE c.c_acctbal > (SELECT avg(c_acctbal) FROM customer
                             WHERE c_acctbal > 0)
          AND NOT EXISTS (SELECT 1 FROM orders o
                          WHERE o.o_custkey = c.c_custkey
                            AND o.o_orderdate >= TIMESTAMP '2001-01-01')
        GROUP BY c_mktsegment
    """

    sql["zipf_corpus_fit"] = """
        WITH f AS (
          SELECT tok, CAST(count(*) AS BIGINT) AS n
          FROM (
            SELECT unnest(list_filter(
              regexp_split_to_array(lower(trim(coalesce(text, ''))), '\\s+'),
              t -> len(t) > 0)) AS tok
            FROM documents) u
          GROUP BY tok
        ),
        top AS (
          SELECT n, row_number() OVER (ORDER BY n DESC, tok ASC) AS r
          FROM f ORDER BY n DESC, tok ASC LIMIT 300
        ),
        xy AS (SELECT ln(CAST(r AS DOUBLE)) AS x, ln(CAST(n AS DOUBLE)) AS y FROM top),
        s AS (
          SELECT CAST(count(*) AS BIGINT) AS n_terms,
                 sum(x) AS sx, sum(y) AS sy, sum(x*y) AS sxy,
                 sum(x*x) AS sxx, sum(y*y) AS syy
          FROM xy
        )
        SELECT n_terms,
               prnd((n_terms*sxy - sx*sy) / (n_terms*sxx - sx*sx), 6) AS zipf_slope,
               prnd(((n_terms*sxy - sx*sy) * (n_terms*sxy - sx*sy))
                    / ((n_terms*sxx - sx*sx) * (n_terms*syy - sy*sy)), 6) AS zipf_r2
        FROM s
    """

    sql["gopher_rule_filter"] = """
        WITH t AS (
          SELECT doc_id, coalesce(text, '') AS txt,
                 list_filter(regexp_split_to_array(lower(trim(coalesce(text, ''))), '\\s+'),
                             x -> len(x) > 0) AS toks
          FROM documents
        ),
        m AS (
          SELECT doc_id,
                 CAST(len(toks) AS BIGINT) AS n_words,
                 CASE WHEN len(toks) > 0
                      THEN CAST(list_sum(list_transform(toks, x -> len(x))) AS DOUBLE) / len(toks)
                      ELSE 0.0 END AS avg_len,
                 CASE WHEN len(toks) > 0
                      THEN CAST(len(txt) - len(regexp_replace(txt, '[#…]|\\.\\.\\.', '', 'g')) AS DOUBLE) / len(toks)
                      ELSE 0.0 END AS symbol_ratio,
                 CASE WHEN len(txt) > 0
                      THEN CAST(len(txt) - len(regexp_replace(txt, '[0-9]', '', 'g')) AS DOUBLE) / len(txt)
                      ELSE 0.0 END AS digit_ratio,
                 CASE WHEN len(toks) > 0
                      THEN CAST(len(list_filter(toks, x -> regexp_matches(x, '[A-Za-z]'))) AS DOUBLE) / len(toks)
                      ELSE 0.0 END AS alpha_ratio
          FROM t
        ),
        r AS (
          SELECT doc_id, n_words,
                 list_filter([
                   CASE WHEN n_words < 5 THEN 'too_few_words' END,
                   CASE WHEN n_words > 100000 THEN 'too_many_words' END,
                   CASE WHEN avg_len < 2.0 OR avg_len > 12.0 THEN 'avg_word_len' END,
                   CASE WHEN symbol_ratio > 0.25 THEN 'symbol_ratio' END,
                   CASE WHEN digit_ratio > 0.3 THEN 'digit_ratio' END,
                   CASE WHEN alpha_ratio < 0.7 THEN 'alpha_word_ratio' END
                 ], x -> x IS NOT NULL) AS fail_reasons
          FROM m
        )
        SELECT doc_id, n_words, len(fail_reasons) = 0 AS pass,
               coalesce(list_aggregate(fail_reasons, 'string_agg', ','), '')
                 AS fail_reasons
        FROM r
    """

    sql["dedup_keep_best"] = f"""
        WITH scored AS (
          SELECT doc_id, source, lang,
                 md5(regexp_replace(lower(trim(coalesce(text, ''))), '\\s+', ' ', 'g')) AS fp,
                 {_quality_expr} AS q
          FROM documents
        ),
        ranked AS (
          SELECT doc_id, source, lang,
                 row_number() OVER (PARTITION BY fp ORDER BY q DESC, doc_id ASC) AS rn
          FROM scored
        )
        SELECT doc_id, source, lang FROM ranked WHERE rn = 1
    """

    sql["lineitem_corr_matrix"] = """
        SELECT 'l_quantity' AS col_a, 'l_extendedprice' AS col_b,
               prnd(corr(l_quantity, l_extendedprice), 4) AS corr FROM lineitem
        UNION ALL
        SELECT 'l_quantity', 'l_discount',
               prnd(corr(l_quantity, l_discount), 4) FROM lineitem
        UNION ALL
        SELECT 'l_quantity', 'l_tax',
               prnd(corr(l_quantity, l_tax), 4) FROM lineitem
        UNION ALL
        SELECT 'l_extendedprice', 'l_discount',
               prnd(corr(l_extendedprice, l_discount), 4) FROM lineitem
        UNION ALL
        SELECT 'l_extendedprice', 'l_tax',
               prnd(corr(l_extendedprice, l_tax), 4) FROM lineitem
        UNION ALL
        SELECT 'l_discount', 'l_tax',
               prnd(corr(l_discount, l_tax), 4) FROM lineitem
    """

    sql["lineitem_describe"] = """
        SELECT 'l_quantity' AS "column", CAST(count(l_quantity) AS BIGINT) AS n,
               CAST(count(CASE WHEN l_quantity IS NULL THEN 1 END) AS BIGINT) AS n_null,
               prnd(avg(l_quantity), 4) AS mean, prnd(stddev_samp(l_quantity), 4) AS std,
               prnd(CAST(min(l_quantity) AS DOUBLE), 4) AS min,
               prnd(CAST(max(l_quantity) AS DOUBLE), 4) AS max
        FROM lineitem
        UNION ALL
        SELECT 'l_extendedprice', CAST(count(l_extendedprice) AS BIGINT),
               CAST(count(CASE WHEN l_extendedprice IS NULL THEN 1 END) AS BIGINT),
               prnd(avg(l_extendedprice), 4), prnd(stddev_samp(l_extendedprice), 4),
               prnd(CAST(min(l_extendedprice) AS DOUBLE), 4),
               prnd(CAST(max(l_extendedprice) AS DOUBLE), 4)
        FROM lineitem
        UNION ALL
        SELECT 'l_discount', CAST(count(l_discount) AS BIGINT),
               CAST(count(CASE WHEN l_discount IS NULL THEN 1 END) AS BIGINT),
               prnd(avg(l_discount), 4), prnd(stddev_samp(l_discount), 4),
               prnd(CAST(min(l_discount) AS DOUBLE), 4),
               prnd(CAST(max(l_discount) AS DOUBLE), 4)
        FROM lineitem
    """

    sql["event_transitions"] = """
        WITH steps AS (
          SELECT event_type AS from_type,
                 lead(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                 ) AS to_type
          FROM events
        ),
        c AS (
          SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n
          FROM steps WHERE to_type IS NOT NULL
          GROUP BY 1, 2
        ),
        t AS (SELECT from_type, CAST(sum(n) AS BIGINT) AS tot FROM c GROUP BY 1)
        SELECT c.from_type, c.to_type, c.n, prnd(c.n * 1.0 / t.tot, 6) AS share
        FROM c JOIN t USING (from_type)
    """

    sql["remove_dup_spans"] = """
        WITH t AS (
          SELECT doc_id,
                 list_filter(regexp_split_to_array(lower(trim(coalesce(text, ''))), '\\s+'),
                             x -> len(x) > 0) AS toks
          FROM documents
        ),
        c AS (
          SELECT doc_id, greatest(len(toks) - 5, 0) AS n_windows, toks FROM t
        ),
        whx AS (
          SELECT doc_id, s - 1 AS pos0,
                 md5(array_to_string(toks[s:s+5], ' ')) AS wh
          FROM (
            SELECT doc_id, toks,
                   unnest(generate_series(1, CAST(n_windows AS INT))) AS s
            FROM c WHERE n_windows > 0)
        ),
        hot AS (
          SELECT wh FROM (SELECT DISTINCT wh, doc_id FROM whx)
          GROUP BY wh HAVING count(*) >= 2
        ),
        ps AS (
          SELECT doc_id, list(DISTINCT pos0) AS ps
          FROM whx WHERE wh IN (SELECT wh FROM hot)
          GROUP BY doc_id
        ),
        kept AS (
          SELECT c.doc_id, c.toks,
                 list_filter(c.toks, (x, i) ->
                   len(list_filter(coalesce(p.ps, CAST([] AS INT[])),
                       q -> q <= i - 1 AND i - 1 < q + 6)) = 0) AS k
          FROM c LEFT JOIN ps p USING (doc_id)
        )
        SELECT doc_id,
               coalesce(array_to_string(k, ' '), '') AS clean_text,
               CAST(len(toks) AS BIGINT) AS n_tokens,
               CAST(len(toks) - len(k) AS BIGINT) AS n_removed
        FROM kept
    """

    sql["data_quality_checks"] = """
        SELECT 'quantity_in_range' AS rule, CAST(count(*) AS BIGINT) AS n_rows,
               CAST(count(CASE WHEN NOT coalesce(l_quantity BETWEEN 1 AND 50, FALSE) THEN 1 END) AS BIGINT) AS n_violations,
               count(CASE WHEN NOT coalesce(l_quantity BETWEEN 1 AND 50, FALSE) THEN 1 END) = 0 AS pass
        FROM lineitem
        UNION ALL
        SELECT 'discount_bounded', CAST(count(*) AS BIGINT),
               CAST(count(CASE WHEN NOT coalesce(l_discount BETWEEN 0.0 AND 0.1, FALSE) THEN 1 END) AS BIGINT),
               count(CASE WHEN NOT coalesce(l_discount BETWEEN 0.0 AND 0.1, FALSE) THEN 1 END) = 0
        FROM lineitem
        UNION ALL
        SELECT 'price_positive', CAST(count(*) AS BIGINT),
               CAST(count(CASE WHEN NOT coalesce(l_extendedprice > 0, FALSE) THEN 1 END) AS BIGINT),
               count(CASE WHEN NOT coalesce(l_extendedprice > 0, FALSE) THEN 1 END) = 0
        FROM lineitem
        UNION ALL
        SELECT 'returnflag_in_set', CAST(count(*) AS BIGINT),
               CAST(count(CASE WHEN NOT coalesce(l_returnflag IN ('A','N','R'), FALSE) THEN 1 END) AS BIGINT),
               count(CASE WHEN NOT coalesce(l_returnflag IN ('A','N','R'), FALSE) THEN 1 END) = 0
        FROM lineitem
        UNION ALL
        SELECT 'orderkey_not_null', CAST(count(*) AS BIGINT),
               CAST(count(CASE WHEN l_orderkey IS NULL THEN 1 END) AS BIGINT),
               count(CASE WHEN l_orderkey IS NULL THEN 1 END) = 0
        FROM lineitem
        UNION ALL
        SELECT 'line_key_unique', CAST(sum(c) AS BIGINT),
               CAST(sum(c - 1) AS BIGINT), sum(c - 1) = 0
        FROM (SELECT count(*) AS c FROM lineitem
              GROUP BY l_orderkey, l_linenumber)
    """

    sql["pipeline_curate_v2"] = """
        WITH t0 AS (
          SELECT doc_id, lang, coalesce(text, '') AS txt,
                 list_filter(regexp_split_to_array(lower(trim(coalesce(text, ''))), '\\s+'),
                             x -> len(x) > 0) AS toks
          FROM documents
        ),
        gate AS (
          SELECT doc_id FROM (
            SELECT doc_id,
                   CAST(len(toks) AS BIGINT) AS nw,
                   CASE WHEN len(toks) > 0
                        THEN CAST(list_sum(list_transform(toks, x -> len(x))) AS DOUBLE) / len(toks)
                        ELSE 0.0 END AS awl,
                   CASE WHEN len(toks) > 0
                        THEN CAST(len(txt) - len(regexp_replace(txt, '[#…]|\\.\\.\\.', '', 'g')) AS DOUBLE) / len(toks)
                        ELSE 0.0 END AS symr,
                   CASE WHEN len(txt) > 0
                        THEN CAST(len(txt) - len(regexp_replace(txt, '[0-9]', '', 'g')) AS DOUBLE) / len(txt)
                        ELSE 0.0 END AS digr,
                   CASE WHEN len(toks) > 0
                        THEN CAST(len(list_filter(toks, x -> regexp_matches(x, '[A-Za-z]'))) AS DOUBLE) / len(toks)
                        ELSE 0.0 END AS alpr
            FROM t0)
          WHERE nw >= 5 AND nw <= 100000 AND awl >= 2.0 AND awl <= 12.0
            AND symr <= 0.25 AND digr <= 0.3 AND alpr >= 0.7
        ),
        c AS (
          SELECT t0.doc_id, t0.lang, greatest(len(toks) - 5, 0) AS n_windows, toks
          FROM t0 JOIN gate USING (doc_id)
        ),
        whx AS (
          SELECT doc_id, s - 1 AS pos0,
                 md5(array_to_string(toks[s:s+5], ' ')) AS wh
          FROM (
            SELECT doc_id, toks,
                   unnest(generate_series(1, CAST(n_windows AS INT))) AS s
            FROM c WHERE n_windows > 0)
        ),
        hot AS (
          SELECT wh FROM (SELECT DISTINCT wh, doc_id FROM whx)
          GROUP BY wh HAVING count(*) >= 2
        ),
        ps AS (
          SELECT doc_id, list(DISTINCT pos0) AS ps
          FROM whx WHERE wh IN (SELECT wh FROM hot)
          GROUP BY doc_id
        ),
        kept AS (
          SELECT c.doc_id, c.lang, len(c.toks) AS n_tokens,
                 list_filter(c.toks, (x, i) ->
                   len(list_filter(coalesce(p.ps, CAST([] AS INT[])),
                       q -> q <= i - 1 AND i - 1 < q + 6)) = 0) AS k
          FROM c LEFT JOIN ps p USING (doc_id)
        ),
        surv AS (
          SELECT doc_id, lang,
                 CAST(n_tokens AS BIGINT) AS n_tokens,
                 CAST(n_tokens - len(k) AS BIGINT) AS n_removed,
                 coalesce(array_to_string(k, ' '), '') AS clean_text
          FROM kept WHERE len(k) >= 5
        ),
        dk AS (
          SELECT min(doc_id) AS doc_id
          FROM (SELECT doc_id,
                       md5(regexp_replace(lower(trim(clean_text)), '\\s+', ' ', 'g')) AS fp
                FROM surv)
          GROUP BY fp
        )
        SELECT s.lang, CAST(count(*) AS BIGINT) AS n_docs,
               prnd(avg(s.n_tokens - s.n_removed), 4) AS avg_kept_tokens,
               CAST(sum(s.n_removed) AS BIGINT) AS total_removed
        FROM surv s JOIN dk USING (doc_id)
        GROUP BY s.lang
    """

    sql["event_interarrival"] = """
        WITH g AS (
          SELECT event_type,
                 CAST(date_diff('microsecond',
                      lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
                      ts) AS BIGINT) / 1000000.0 AS gap_s
          FROM events
        )
        SELECT event_type, CAST(count(*) AS BIGINT) AS n_gaps,
               prnd(quantile_cont(gap_s, 0.5), 4) AS p50_gap_s,
               prnd(quantile_cont(gap_s, 0.9), 4) AS p90_gap_s
        FROM g WHERE gap_s IS NOT NULL
        GROUP BY event_type
    """

    sql["ab_conversion_report"] = """
        WITH per_user AS (
          SELECT user_id,
                 max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS c,
                 CAST(CAST('0x' || substr(md5('exp1' || CAST(user_id AS VARCHAR)), 1, 8)
                      AS BIGINT) % 2 AS INT) AS arm
          FROM events GROUP BY user_id
        ),
        arms AS (
          SELECT arm, CAST(count(*) AS BIGINT) AS users,
                 CAST(sum(c) AS BIGINT) AS converters
          FROM per_user GROUP BY arm
        ),
        base AS (SELECT users AS n0, converters AS c0 FROM arms WHERE arm = 0)
        SELECT a.arm, a.users, a.converters,
               prnd(a.converters * 1.0 / a.users, 6) AS conv_rate,
               prnd(CASE WHEN a.arm <> 0 THEN
                 (a.converters * 1.0 / a.users - b.c0 * 1.0 / b.n0)
                 / sqrt(((a.converters + b.c0) * 1.0 / (a.users + b.n0))
                        * (1 - (a.converters + b.c0) * 1.0 / (a.users + b.n0))
                        * (1.0 / a.users + 1.0 / b.n0))
               END, 4) AS z_vs_control
        FROM arms a CROSS JOIN base b
    """

    sql["tfidf_similar_docs"] = """
        WITH tc AS (
          SELECT doc_id, tok AS term, CAST(count(*) AS BIGINT) AS tf
          FROM (
            SELECT doc_id,
                   unnest(list_filter(
                     regexp_split_to_array(lower(trim(coalesce(text, ''))), '\\s+'),
                     t -> len(t) > 0)) AS tok
            FROM documents) u
          GROUP BY doc_id, tok
        ),
        n AS (SELECT count(*) AS n_docs FROM documents),
        dfq AS (
          SELECT term, count(DISTINCT doc_id) AS df FROM tc GROUP BY term
        ),
        idf AS (
          SELECT term, ln((n_docs + 1.0) / (df + 1)) + 1.0 AS idf
          FROM dfq, n WHERE df <= CAST(floor(0.4 * n_docs) AS BIGINT)
        ),
        w AS (
          SELECT tc.doc_id, tc.term, tc.tf * idf.idf AS w
          FROM tc JOIN idf USING (term)
        ),
        nrm AS (SELECT doc_id, sqrt(sum(w * w)) AS nrm FROM w GROUP BY doc_id),
        dots AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b, sum(a.w * b.w) AS dot
          FROM w a JOIN w b ON a.term = b.term AND a.doc_id < b.doc_id
          GROUP BY 1, 2
        )
        SELECT d.id_a, d.id_b,
               prnd(d.dot / (na.nrm * nb.nrm), 6) AS cosine
        FROM dots d
        JOIN nrm na ON na.doc_id = d.id_a
        JOIN nrm nb ON nb.doc_id = d.id_b
        WHERE d.dot / (na.nrm * nb.nrm) >= 0.5
    """

    sql["price_quantity_trend"] = """
        SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
               prnd(regr_slope(l_extendedprice, l_quantity), 4) AS slope,
               prnd(regr_intercept(l_extendedprice, l_quantity), 4) AS intercept,
               prnd(regr_r2(l_extendedprice, l_quantity), 4) AS r2
        FROM lineitem
        GROUP BY l_returnflag
    """

    # brute-force ground truth for the banded Hamming-LSH pair join:
    # the band join is pigeonhole-exact at max_hamming <= bands-1, so
    # the all-pairs form over the ~500 distinct synthetic signatures
    # must agree exactly (the LSH exists so production never runs this
    # quadratic form; the oracle can, at sf0.01 scale)
    _mask_cases = " ".join(
        f"WHEN {i} THEN CAST({m} AS BIGINT)"
        for i, m in enumerate(_DHASH_MASKS)
    )
    _sig_pairs_sql = f"""
        WITH s AS (
          SELECT doc_id,
                 xor(CAST('0x' || substr(md5('11' || CAST(doc_id % 37 AS VARCHAR)), 1, 15) AS BIGINT),
                     CASE doc_id % 6 {_mask_cases} END) AS sig
          FROM documents
        )
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               CAST(bit_count(xor(a.sig, b.sig)) AS INT) AS hamming
        FROM s a JOIN s b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.sig, b.sig)) <= {{radius}}
    """
    sql["image_dhash_pairs"] = _sig_pairs_sql.format(radius=3)
    # bands=8 tier: radius 7, same signature family
    sql["image_dhash_pairs_b8"] = _sig_pairs_sql.format(radius=7)
    # the REAL pipelines (PNG decode -> box resample -> dhash64_gray,
    # and WAV decode -> RMS envelope -> audio_dhash64, both -> banded
    # join) over fixture blobs ENGINEERED to hash to exactly these
    # signatures (operators/fixtures.py pattern_png_blob /
    # wav_dhash_blob), so the same brute-force twin is ground truth
    sql["image_dhash_real_pairs"] = _sig_pairs_sql.format(radius=3)
    sql["audio_dhash_real_pairs"] = _sig_pairs_sql.format(radius=3)

    # -- media fixture tier: blobs are manufactured arithmetically from
    # -- doc_id (operators/fixtures.py), so every REAL decode output
    # -- below is a closed form; all values are exact short decimals
    # -- (no rounding-convention ambiguity; see fixtures.py docstring)
    _solid_mean = (
        "CAST(17 * (doc_id % 6 + (doc_id // 6) % 6"
        " + ((3 - (doc_id % 6 + (doc_id // 6) % 6) % 3) % 3)"
        " + 3 * ((doc_id // 36) % 2)) AS DOUBLE) / 255"
    )
    sql["image_decode_dims"] = f"""
        SELECT doc_id,
               CAST(8 + doc_id % 23 AS INT) AS width,
               CAST(8 + doc_id % 17 AS INT) AS height,
               CAST(3 AS INT) AS channels,
               {_solid_mean} AS mean_intensity
        FROM documents
    """
    sql["resize_thumbs_rgb"] = f"""
        SELECT doc_id,
               CAST(8 + doc_id % 23 AS INT) AS src_w,
               CAST(8 + doc_id % 17 AS INT) AS src_h,
               CAST(16 AS INT) AS thumb_w,
               CAST(16 AS INT) AS thumb_h,
               {_solid_mean} AS thumb_mean
        FROM documents
    """
    sql["image_decode_multiformat"] = f"""
        SELECT doc_id,
               CAST(CASE doc_id % 4
                 WHEN 0 THEN 8 + doc_id % 23 WHEN 1 THEN 4 + doc_id % 13
                 WHEN 2 THEN 4 + doc_id % 11 ELSE 5 + doc_id % 12
               END AS INT) AS width,
               CAST(CASE doc_id % 4
                 WHEN 0 THEN 8 + doc_id % 17 WHEN 1 THEN 4 + doc_id % 9
                 WHEN 2 THEN 4 + doc_id % 7 ELSE 5 + doc_id % 8
               END AS INT) AS height,
               CAST(CASE WHEN doc_id % 4 = 2 THEN 1 ELSE 3 END AS INT)
                 AS channels,
               CASE WHEN doc_id % 4 = 2
                    THEN CAST(doc_id % 6 AS DOUBLE) / 5
                    ELSE {_solid_mean}
               END AS mean_intensity
        FROM documents
    """
    sql["audio_decode_props"] = """
        SELECT doc_id,
               CAST(400 + doc_id % 256 AS DOUBLE) / 8000 AS duration_s,
               CAST(8000 AS INT) AS sample_rate,
               CAST(1 + doc_id % 7 AS DOUBLE) / 8 AS rms_first,
               CAST(1 + doc_id % 7 AS DOUBLE) / 8 AS rms_last
        FROM documents
    """
    sql["media_decode_coverage_mix"] = """
        WITH t AS (
          SELECT CASE doc_id % 11
                   WHEN 0 THEN 'png' WHEN 1 THEN 'wav' WHEN 2 THEN 'mp3'
                   WHEN 3 THEN 'wav' WHEN 4 THEN 'ogg' WHEN 5 THEN 'mp4'
                   WHEN 6 THEN 'ogg' WHEN 7 THEN 'bmp' WHEN 8 THEN 'tiff'
                   WHEN 9 THEN 'webp' ELSE 'aac/adts'
                 END AS container,
                 CASE WHEN doc_id % 11 IN (0, 1, 2, 6, 7, 8, 9) THEN 1
                 ELSE 0 END AS scr
          FROM documents
        )
        SELECT container,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(scr) AS BIGINT) AS n_screenable,
               prnd(CAST(sum(scr) AS DOUBLE) / count(*), 6) AS screenable_frac
        FROM t GROUP BY container
    """
    # survivors = min doc_id per dHash-signature group among the
    # patterned PNGs (exact dedup folds into the perceptual clusters at
    # max_hamming=0), plus every undecodable Ogg (never dropped)
    sql["curate_media_mix"] = """
        SELECT min(doc_id) AS doc_id FROM documents
        WHERE doc_id % 11 <> 0 GROUP BY doc_id % 37, doc_id % 6
        UNION ALL
        SELECT doc_id FROM documents WHERE doc_id % 11 = 0
    """
    # same survivor structure, audio pipeline (exact-dup members share
    # a gain; perceptual clusters are the signature-equality groups)
    sql["curate_audio_mix"] = sql["curate_media_mix"]
    # WARC fixture: 1 + doc_id % 3 responses at record index 2 + 2k;
    # (doc_id + k) % 5 == 0 is the dropped 404; the extracted text is
    # rebuilt exactly ("Doc {i} w0 ... w{m-1} &", m = 5 + (i + 2k) % 11)
    sql["warc_ingest_crawl"] = """
        WITH ws AS (
          SELECT ms.m AS m,
                 string_agg('w' || CAST(xs.x AS VARCHAR), ' '
                            ORDER BY xs.x) AS s
          FROM generate_series(0, 14) xs(x)
          JOIN generate_series(5, 15) ms(m) ON xs.x < ms.m
          GROUP BY ms.m
        )
        SELECT d.doc_id,
               CAST(2 + 2 * t.k AS INT) AS rec_idx,
               'http://h' || CAST((d.doc_id + t.k) % 7 AS VARCHAR)
                 || '.example/p/' || CAST(d.doc_id AS VARCHAR)
                 || '/' || CAST(t.k AS VARCHAR) AS url,
               'h' || CAST((d.doc_id + t.k) % 7 AS VARCHAR)
                 || '.example' AS host,
               'Doc ' || CAST(d.doc_id AS VARCHAR) || ' ' || ws.s
                 || ' &' AS text,
               CAST(8 + (d.doc_id + 2 * t.k) % 11 AS INT) AS n_words
        FROM documents d
        JOIN (VALUES (0), (1), (2)) t(k) ON t.k <= d.doc_id % 3
        JOIN ws ON ws.m = 5 + (d.doc_id + 2 * t.k) % 11
        WHERE (d.doc_id + t.k) % 5 <> 0
    """




    # Script-profile twin (r12): the same length-difference counting
    # over the same explicit code-point ranges, RE2-escaped; dominant
    # via a sorted (-count, name) struct list (max count, alphabetical
    # tie-break), 'none' when nothing matches.
    sql["script_mix_profile"] = """
        WITH mixed AS (
          SELECT doc_id,
                 coalesce(text, '')
                 || CASE WHEN doc_id % 4 = 0
                         THEN ' ' || chr(20013) || chr(25991) || chr(23383)
                         WHEN doc_id % 4 = 1
                         THEN ' ' || chr(1082) || chr(1080) || chr(1088)
                              || chr(1080) || chr(1083)
                         WHEN doc_id % 4 = 2
                         THEN ' ' || chr(12459) || chr(12490)
                         ELSE '' END AS t
          FROM documents
        ),
        counted AS (
          SELECT doc_id,
                 CAST(len(t) - len(regexp_replace(t, '[A-Za-z\\x{00c0}-\\x{024f}]', '', 'g')) AS BIGINT) AS n_latin,
                 CAST(len(t) - len(regexp_replace(t, '[\\x{4e00}-\\x{9fff}\\x{3400}-\\x{4dbf}]', '', 'g')) AS BIGINT) AS n_han,
                 CAST(len(t) - len(regexp_replace(t, '[\\x{3040}-\\x{30ff}\\x{31f0}-\\x{31ff}]', '', 'g')) AS BIGINT) AS n_kana,
                 CAST(len(t) - len(regexp_replace(t, '[\\x{ac00}-\\x{d7af}\\x{1100}-\\x{11ff}]', '', 'g')) AS BIGINT) AS n_hangul,
                 CAST(len(t) - len(regexp_replace(t, '[\\x{0400}-\\x{04ff}]', '', 'g')) AS BIGINT) AS n_cyrillic,
                 CAST(len(t) - len(regexp_replace(t, '[\\x{0600}-\\x{06ff}\\x{0750}-\\x{077f}]', '', 'g')) AS BIGINT) AS n_arabic,
                 CAST(len(t) - len(regexp_replace(t, '[\\x{0900}-\\x{097f}]', '', 'g')) AS BIGINT) AS n_devanagari
          FROM mixed
        )
        SELECT doc_id, n_latin, n_han, n_kana, n_cyrillic,
               CASE WHEN n_latin = 0 AND n_han = 0 AND n_kana = 0 AND n_hangul = 0 AND n_cyrillic = 0 AND n_arabic = 0 AND n_devanagari = 0 THEN 'none'
                    ELSE list_sort([{'k': -n_arabic, 'n': 'arabic'}, {'k': -n_cyrillic, 'n': 'cyrillic'}, {'k': -n_devanagari, 'n': 'devanagari'}, {'k': -n_han, 'n': 'han'}, {'k': -n_hangul, 'n': 'hangul'}, {'k': -n_kana, 'n': 'kana'}, {'k': -n_latin, 'n': 'latin'}])[1].n END AS dominant
        FROM counted
    """

    # PII-redaction twin (r12): the same injection arithmetic, then the
    # SAME RE2-safe patterns as a chained count-then-replace CTE ladder
    # (each count runs on the text AFTER the earlier patterns replaced,
    # mirroring redact_pii's dict-order semantics); md5 pins the final
    # redacted bytes. Java regex (Spark) vs RE2 (DuckDB) — the patterns
    # are written to the common subset (no lookarounds/backrefs).
    sql["pii_redact_docs"] = """
        WITH injected AS (
          SELECT doc_id,
                 coalesce(text, '')
                 || ' contact user' || CAST(doc_id AS VARCHAR)
                 || '@example.com'
                 || CASE WHEN doc_id % 3 = 0
                         THEN ' call 415-555-'
                              || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                         ELSE '' END
                 || CASE WHEN doc_id % 5 = 0
                         THEN ' ssn 123-45-'
                              || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                         ELSE '' END
                 || CASE WHEN doc_id % 7 = 0
                         THEN ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR)
                              || '.' || CAST((doc_id * 7) % 256 AS VARCHAR)
                         ELSE '' END
                 || CASE WHEN doc_id % 11 = 0
                         THEN ' card 4111 1111 1111 1111'
                         ELSE '' END AS t0
          FROM documents
        ),
        s1 AS (
          SELECT doc_id,
                 CAST(len(regexp_extract_all(t0,
                   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS BIGINT)
                   AS n_email,
                 regexp_replace(t0,
                   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
                   '<EMAIL>', 'g') AS t1
          FROM injected
        ),
        s2 AS (
          SELECT doc_id, n_email,
                 CAST(len(regexp_extract_all(t1,
                   '\\b[0-9]{3}-[0-9]{2}-[0-9]{4}\\b')) AS BIGINT) AS n_ssn,
                 regexp_replace(t1, '\\b[0-9]{3}-[0-9]{2}-[0-9]{4}\\b',
                   '<SSN>', 'g') AS t2
          FROM s1
        ),
        s3 AS (
          SELECT doc_id, n_email, n_ssn,
                 CAST(len(regexp_extract_all(t2,
                   '\\b[0-9]{4}[ -]?[0-9]{4}[ -]?[0-9]{4}[ -]?[0-9]{1,4}\\b'))
                   AS BIGINT) AS n_ccn,
                 regexp_replace(t2,
                   '\\b[0-9]{4}[ -]?[0-9]{4}[ -]?[0-9]{4}[ -]?[0-9]{1,4}\\b',
                   '<CCN>', 'g') AS t3
          FROM s2
        ),
        s4 AS (
          SELECT doc_id, n_email, n_ssn, n_ccn,
                 CAST(len(regexp_extract_all(t3,
                   '\\b(?:(?:25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])\\.){3}(?:25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])\\b'))
                   AS BIGINT) AS n_ipv4,
                 regexp_replace(t3,
                   '\\b(?:(?:25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])\\.){3}(?:25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])\\b',
                   '<IP>', 'g') AS t4
          FROM s3
        ),
        s5 AS (
          SELECT doc_id, n_email, n_ssn, n_ccn, n_ipv4,
                 CAST(len(regexp_extract_all(t4,
                   '(?:\\+[0-9]{1,2}[ .\\-]?)?\\(?\\b[0-9]{3}\\)?[ .\\-]?[0-9]{3}[ .\\-]?[0-9]{4}\\b'))
                   AS BIGINT) AS n_phone,
                 regexp_replace(t4,
                   '(?:\\+[0-9]{1,2}[ .\\-]?)?\\(?\\b[0-9]{3}\\)?[ .\\-]?[0-9]{3}[ .\\-]?[0-9]{4}\\b',
                   '<PHONE>', 'g') AS t5
          FROM s4
        )
        SELECT doc_id, n_email, n_ssn, n_ccn, n_ipv4, n_phone,
               md5(t5) AS red_md5
        FROM s5
    """

    # ANN-recall twin (r12): COMPOSES the already-proven brute and LSH
    # twins as nested CTE bodies (same md5 hyperplanes, same tie-break),
    # then per-query hit counting; recall = n_hit/n_true rounded with
    # the portable floor form. Queries with an empty approx set stay at
    # recall 0 via the left joins.
    sql["ann_recall_lsh"] = f"""
        WITH brute AS ({sql["knn_brute"]}),
        approx AS ({sql["knn_lsh"]}),
        bd AS (SELECT DISTINCT query_id, neighbor_id FROM brute),
        ad AS (SELECT DISTINCT query_id, neighbor_id FROM approx),
        hits AS (
          SELECT b.query_id,
                 CAST(count(*) AS BIGINT) AS n_true,
                 CAST(count(a.neighbor_id) AS BIGINT) AS n_hit
          FROM bd b LEFT JOIN ad a
            ON b.query_id = a.query_id AND b.neighbor_id = a.neighbor_id
          GROUP BY b.query_id
        ),
        ap AS (
          SELECT query_id, CAST(count(*) AS BIGINT) AS n_approx
          FROM ad GROUP BY query_id
        )
        SELECT h.query_id, h.n_true,
               CAST(coalesce(ap.n_approx, 0) AS BIGINT) AS n_approx,
               h.n_hit,
               floor((h.n_hit * 1.0 / h.n_true) * 10000.0 + 0.5) / 10000.0
                 AS recall
        FROM hits h LEFT JOIN ap USING (query_id)
    """

    # Near-dup-aware split twin (r12): the shared verified-pair CTE
    # chain -> recursive-CTE closure -> cluster root (min reachable id,
    # self for singletons) -> the same md5-bucket split + per-cluster
    # distinct-split guard.
    sql["split_neardup_aware"] = f"""
        WITH RECURSIVE {_verified_ctes},
        edges AS (
          SELECT id_a AS a, id_b AS b FROM verified
          UNION SELECT id_b, id_a FROM verified
        ),
        reach AS (
          SELECT a, b FROM edges
          UNION
          SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
        ),
        root AS (
          SELECT a AS doc_id, least(a, min(b)) AS cluster
          FROM reach GROUP BY a
        ),
        clustered AS (
          SELECT d.doc_id,
                 CAST(coalesce(r.cluster, d.doc_id) AS BIGINT) AS cluster
          FROM documents d LEFT JOIN root r ON r.doc_id = d.doc_id
        ),
        labeled AS (
          SELECT doc_id, cluster,
                 CASE WHEN CAST('0x' || substr(
                          md5(CAST(cluster AS VARCHAR)), 1, 8) AS BIGINT)
                          % 1000000 < 750000
                      THEN 'train' ELSE 'test' END AS split
          FROM clustered
        )
        SELECT doc_id, cluster, split,
               CAST(count(DISTINCT split) OVER (PARTITION BY cluster)
                    AS BIGINT) AS n_split_variants
        FROM labeled
    """

    # Dedup-aware split twin (r12): fingerprint -> md5-bucket split ->
    # per-fingerprint distinct-split window (1 everywhere).
    sql["split_dedup_aware"] = """
        WITH keyed AS (
          SELECT doc_id,
                 md5(regexp_replace(lower(trim(coalesce(text, ''))),
                                    '\\s+', ' ', 'g')) AS fp
          FROM documents
        ),
        split AS (
          SELECT doc_id, fp,
                 CASE WHEN CAST('0x' || substr(md5(fp), 1, 8) AS BIGINT)
                           % 1000000 < 750000
                      THEN 'train' ELSE 'test' END AS split
          FROM keyed
        )
        SELECT doc_id, fp, split,
               CAST(count(DISTINCT split) OVER (PARTITION BY fp)
                    AS BIGINT) AS n_split_variants
        FROM split
    """

    # JL-distortion twin (r12): the 8 projection rows are md5-derived
    # constants (similarity.plane_matrix, seed 42) inlined verbatim —
    # the knn_lsh convention; both cosines and the error recompute in
    # DuckDB with the portable floor rounding.
    from datamancer_spark.operators.similarity import (
        plane_matrix as _pm_jl,
    )

    _Mjl = _pm_jl(8, 64, seed=42)
    _jl_list = "[" + ", ".join(
        "list_dot_product(CAST(embedding AS DOUBLE[]), ["
        + ", ".join(repr(float(x)) for x in _Mjl[j])
        + "])"
        for j in range(8)
    ) + "]"
    sql["jl_distortion_report"] = f"""
        WITH e AS (
          SELECT vec_id, embedding, {_jl_list} AS jl
          FROM embeddings WHERE vec_id < 200
        ),
        q AS (
          SELECT vec_id AS query_id, embedding AS qv, jl AS qj
          FROM e WHERE vec_id < 5
        ),
        pairs AS (
          SELECT q.query_id, e.vec_id AS cand_id,
                 floor(list_cosine_similarity(
                   CAST(e.embedding AS DOUBLE[]), CAST(q.qv AS DOUBLE[]))
                   * 10000.0 + 0.5) / 10000.0 AS cos_full,
                 floor(list_cosine_similarity(e.jl, q.qj)
                   * 10000.0 + 0.5) / 10000.0 AS cos_jl
          FROM e CROSS JOIN q WHERE e.vec_id <> q.query_id
        )
        SELECT query_id, cand_id, cos_full, cos_jl,
               floor(abs(cos_full - cos_jl) * 10000.0 + 0.5) / 10000.0
                 AS abs_err
        FROM pairs
    """

    # JL-rerank recall twin (r12): full relational replay of the
    # sketch-then-verify tier (same inlined rows, both rank stages on
    # 1e-6-rounded cosine with id tie-breaks), then the recall
    # composition against the proven brute twin.
    _jl_knn = f"""
        WITH e AS (
          SELECT vec_id, embedding, {_jl_list} AS jl FROM embeddings
        ),
        q AS (
          SELECT vec_id AS query_id, embedding AS qv, jl AS qj
          FROM e WHERE vec_id < 10
        ),
        sk AS (
          SELECT q.query_id, e.vec_id AS cand_id, e.embedding AS cv,
                 q.qv,
                 floor(list_cosine_similarity(e.jl, q.qj)
                   * 1000000.0 + 0.5) / 1000000.0 AS s
          FROM e CROSS JOIN q WHERE e.vec_id <> q.query_id
        ),
        short AS (
          SELECT * FROM (
            SELECT *, row_number() OVER (
              PARTITION BY query_id ORDER BY s DESC, cand_id ASC
            ) AS sr FROM sk
          ) t WHERE sr <= 20
        ),
        rer AS (
          SELECT query_id, cand_id AS neighbor_id,
                 floor(list_cosine_similarity(
                   CAST(cv AS DOUBLE[]), CAST(qv AS DOUBLE[]))
                   * 1000000.0 + 0.5) / 1000000.0 AS cos
          FROM short
        )
        SELECT query_id, neighbor_id, cos, rank FROM (
          SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC
          ) AS rank FROM rer
        ) t WHERE rank <= 5
    """
    sql["ann_recall_jl"] = f"""
        WITH brute AS ({sql["knn_brute"]}),
        approx AS ({_jl_knn}),
        bd AS (SELECT DISTINCT query_id, neighbor_id FROM brute),
        ad AS (SELECT DISTINCT query_id, neighbor_id FROM approx),
        hits AS (
          SELECT b.query_id,
                 CAST(count(*) AS BIGINT) AS n_true,
                 CAST(count(a.neighbor_id) AS BIGINT) AS n_hit
          FROM bd b LEFT JOIN ad a
            ON b.query_id = a.query_id AND b.neighbor_id = a.neighbor_id
          GROUP BY b.query_id
        ),
        ap AS (
          SELECT query_id, CAST(count(*) AS BIGINT) AS n_approx
          FROM ad GROUP BY query_id
        )
        SELECT h.query_id, h.n_true,
               CAST(coalesce(ap.n_approx, 0) AS BIGINT) AS n_approx,
               h.n_hit,
               floor((h.n_hit * 1.0 / h.n_true) * 10000.0 + 0.5) / 10000.0
                 AS recall
        FROM hits h LEFT JOIN ap USING (query_id)
    """

    # IVF-recall twin (r12): same composition as the LSH recall twin,
    # over the proven IVF twin.
    sql["ann_recall_ivf"] = f"""
        WITH brute AS ({sql["knn_brute"]}),
        approx AS ({sql["knn_ivf"]}),
        bd AS (SELECT DISTINCT query_id, neighbor_id FROM brute),
        ad AS (SELECT DISTINCT query_id, neighbor_id FROM approx),
        hits AS (
          SELECT b.query_id,
                 CAST(count(*) AS BIGINT) AS n_true,
                 CAST(count(a.neighbor_id) AS BIGINT) AS n_hit
          FROM bd b LEFT JOIN ad a
            ON b.query_id = a.query_id AND b.neighbor_id = a.neighbor_id
          GROUP BY b.query_id
        ),
        ap AS (
          SELECT query_id, CAST(count(*) AS BIGINT) AS n_approx
          FROM ad GROUP BY query_id
        )
        SELECT h.query_id, h.n_true,
               CAST(coalesce(ap.n_approx, 0) AS BIGINT) AS n_approx,
               h.n_hit,
               floor((h.n_hit * 1.0 / h.n_true) * 10000.0 + 0.5) / 10000.0
                 AS recall
        FROM hits h LEFT JOIN ap USING (query_id)
    """

    # CMS-merge twin (r12): counters are linear, so the merged matrix
    # must equal one build over all tokens — rebuilt here with the
    # portable 'cms'||row||tok hashes (same as the token_freq_cms twin).
    sql["cms_merge_snapshots"] = """
        WITH toks AS (
          SELECT unnest(list_filter(
                   regexp_split_to_array(lower(trim(coalesce(text, ''))),
                                         '\\s+'),
                   x -> len(x) > 0)) AS tok
          FROM documents
        ),
        entries AS (
          SELECT r.r AS row,
                 CAST('0x' || substr(md5('cms' || CAST(r.r AS VARCHAR)
                        || tok), 1, 15) AS BIGINT) % 256 AS col
          FROM toks CROSS JOIN (VALUES (0), (1), (2), (3)) r(r)
        )
        SELECT row, col, CAST(count(*) AS BIGINT) AS n
        FROM entries GROUP BY row, col
    """

    # HLL-merge twin (r12): max is associative, so the merged register
    # file must equal a single build over the union — the twin rebuilds
    # it straight from all fingerprints (same md5 split as the
    # doc_distinct_hll twin) and emits the one estimate twice.
    sql["hll_merge_snapshots"] = """
        WITH fps AS (
          SELECT md5(regexp_replace(lower(trim(coalesce(text, ''))),
                                    '\\s+', ' ', 'g')) AS fp
          FROM documents
        ),
        h AS (
          SELECT CAST('0x' || substr(md5('hll' || fp), 1, 15)
                      AS BIGINT) AS h
          FROM fps
        ),
        regs AS (
          SELECT h % 256 AS register,
                 CAST(max(CASE WHEN h // 256 = 0 THEN 53
                          ELSE 53 - len(bin(h // 256)) END) AS INT)
                   AS rank
          FROM h GROUP BY h % 256
        ),
        agg AS (
          SELECT sum(1::BIGINT << (53 - rank))
                   + (256 - count(*)) * (1::BIGINT << 53) AS s,
                 CAST(256 - count(*) AS BIGINT) AS v
          FROM regs
        ),
        raw AS (
          SELECT (0.7213 / (1 + 1.079 / 256)) * 256.0 * 256.0
                   * 9007199254740992.0 / s AS raw, v
          FROM agg
        ),
        est AS (
          SELECT round(CASE WHEN raw <= 2.5 * 256 AND v > 0
                            THEN 256.0 * ln(256.0 / v)
                            ELSE raw END, 2) AS est
          FROM raw
        )
        SELECT r.register, r.rank, e.est AS est_merged, e.est
        FROM regs r CROSS JOIN est e
    """

    # PCA twin (r12): the power iteration replayed relationally —
    # element-indexed mean (rounded 1e-6 portable floor), v0 = 1/64
    # exactly, four rounds of dot -> y -> L1 -> rounded iterate, final
    # projection rounded 1e-4. Casts to DOUBLE before arithmetic
    # (float->double is exact) so both engines run the same IEEE ops;
    # cross-row sum order differs by ~1e-15, absorbed by the rounding.
    sql["embedding_pca_scores"] = """
        WITH e AS (
          SELECT vec_id, label, embedding AS x FROM embeddings
          WHERE embedding IS NOT NULL AND len(embedding) = 64
        ),
        dims AS (SELECT i FROM generate_series(1, 64) t(i)),
        m AS (
          SELECT i, floor(avg(CAST(x[i] AS DOUBLE)) * 1000000.0 + 0.5)
                    / 1000000.0 AS mv
          FROM e, dims GROUP BY i
        ),
        v0 AS (SELECT i, CAST(0.015625 AS DOUBLE) AS val FROM dims),
        d1 AS (
          SELECT vec_id,
                 sum((CAST(x[m.i] AS DOUBLE) - m.mv) * v0.val) AS dot
          FROM e, m JOIN v0 ON m.i = v0.i GROUP BY vec_id
        ),
        y1 AS (
          SELECT m.i, sum((CAST(x[m.i] AS DOUBLE) - m.mv) * d1.dot) AS y
          FROM e JOIN d1 USING (vec_id), m GROUP BY m.i
        ),
        n1 AS (SELECT sum(abs(y)) AS s FROM y1),
        v1 AS (
          SELECT i, floor((y / s) * 1000000.0 + 0.5) / 1000000.0 AS val
          FROM y1, n1
        ),
        d2 AS (
          SELECT vec_id,
                 sum((CAST(x[m.i] AS DOUBLE) - m.mv) * v1.val) AS dot
          FROM e, m JOIN v1 ON m.i = v1.i GROUP BY vec_id
        ),
        y2 AS (
          SELECT m.i, sum((CAST(x[m.i] AS DOUBLE) - m.mv) * d2.dot) AS y
          FROM e JOIN d2 USING (vec_id), m GROUP BY m.i
        ),
        n2 AS (SELECT sum(abs(y)) AS s FROM y2),
        v2 AS (
          SELECT i, floor((y / s) * 1000000.0 + 0.5) / 1000000.0 AS val
          FROM y2, n2
        ),
        d3 AS (
          SELECT vec_id,
                 sum((CAST(x[m.i] AS DOUBLE) - m.mv) * v2.val) AS dot
          FROM e, m JOIN v2 ON m.i = v2.i GROUP BY vec_id
        ),
        y3 AS (
          SELECT m.i, sum((CAST(x[m.i] AS DOUBLE) - m.mv) * d3.dot) AS y
          FROM e JOIN d3 USING (vec_id), m GROUP BY m.i
        ),
        n3 AS (SELECT sum(abs(y)) AS s FROM y3),
        v3 AS (
          SELECT i, floor((y / s) * 1000000.0 + 0.5) / 1000000.0 AS val
          FROM y3, n3
        ),
        d4 AS (
          SELECT vec_id,
                 sum((CAST(x[m.i] AS DOUBLE) - m.mv) * v3.val) AS dot
          FROM e, m JOIN v3 ON m.i = v3.i GROUP BY vec_id
        ),
        y4 AS (
          SELECT m.i, sum((CAST(x[m.i] AS DOUBLE) - m.mv) * d4.dot) AS y
          FROM e JOIN d4 USING (vec_id), m GROUP BY m.i
        ),
        n4 AS (SELECT sum(abs(y)) AS s FROM y4),
        v4 AS (
          SELECT i, floor((y / s) * 1000000.0 + 0.5) / 1000000.0 AS val
          FROM y4, n4
        ),
        proj AS (
          SELECT vec_id,
                 sum((CAST(x[m.i] AS DOUBLE) - m.mv) * v4.val) AS dot
          FROM e, m JOIN v4 ON m.i = v4.i GROUP BY vec_id
        )
        SELECT e.vec_id, e.label,
               floor(p.dot * 10000.0 + 0.5) / 10000.0 AS pc1
        FROM e JOIN proj p USING (vec_id)
    """

    # Fetch-schedule twin (r12): strict-group delay in closed form
    # (exact datamancer group always present; no delay line for hosts
    # ≡2 mod 3 -> the '*' delay must NOT apply -> default 1.0), same
    # portable md5('0'||url) rank order, eta = (rank-1) * delay.
    sql["frontier_fetch_schedule"] = """
        WITH frontier AS (
          SELECT 's' || CAST(doc_id % 7 AS VARCHAR) || '.example' AS host,
                 'http://s' || CAST(doc_id % 7 AS VARCHAR)
                   || '.example/p/' || CAST(doc_id AS VARCHAR) AS url,
                 doc_id % 7 AS h
          FROM documents
        ),
        ranked AS (
          SELECT host, url,
                 CASE WHEN h % 3 <> 2 THEN CAST(1 + h % 4 AS DOUBLE)
                      ELSE 1.0 END AS eff,
                 CAST(row_number() OVER (
                   PARTITION BY host
                   ORDER BY CAST('0x' || substr(md5('0' || url), 1, 15)
                              AS BIGINT), url
                 ) AS BIGINT) AS fetch_rank
          FROM frontier
        )
        SELECT host, url, fetch_rank,
               (fetch_rank - 1) * eff AS eta_sec
        FROM ranked
    """

    # Crawl-funnel twin (r12): every stage count in closed form from
    # the capstone fixture arithmetic — per doc: cluster page + unique
    # page always ingest, a near-dup iff id%7=3, a spam page iff
    # id%11=5 (404s never ingest); spam alone fails quality; exact
    # dedup keeps one cluster page per id%50 class plus every (all
    # distinct) near-dup and unique; the fuzzy tier drops exactly the
    # near-dups (J = 35/41 >= 0.8 vs their cluster keeper).
    sql["crawl_funnel_report"] = """
        WITH s AS (
          SELECT CAST(count(*) AS BIGINT) AS n,
                 CAST(coalesce(sum(CASE WHEN doc_id % 7 = 3 THEN 1 ELSE 0 END), 0) AS BIGINT) AS nd,
                 CAST(coalesce(sum(CASE WHEN doc_id % 11 = 5 THEN 1 ELSE 0 END), 0) AS BIGINT) AS spam,
                 CAST(count(DISTINCT doc_id % 50) AS BIGINT) AS ncls
          FROM documents
        )
        SELECT 2 * n + nd + spam AS n_ingested,
               2 * n + nd AS n_quality_ok,
               ncls + nd + n AS n_after_exact,
               ncls + n AS n_after_fuzzy
        FROM s
    """

    # Epoch shuffle/shard twin (r12): the epoch-expansion twin plus the
    # portable order hash md5('1' || epoch || '_' || id) -> shard mod 8
    # and the per-(epoch, shard) rank with doc_id tie-break.
    sql["epoch_shard_plan_langs"] = """
        WITH base AS (
          SELECT doc_id, lang,
                 CASE lang WHEN 'zh' THEN 2 WHEN 'fr' THEN 1
                      WHEN 'de' THEN 0 ELSE 1 END
                 + CASE WHEN
                     CAST('0x' || substr(md5('0' || CAST(doc_id AS VARCHAR)),
                                         1, 8) AS BIGINT) % 1000000
                     < CASE lang WHEN 'zh' THEN 500000
                            WHEN 'fr' THEN 250000 ELSE 0 END
                   THEN 1 ELSE 0 END AS nc
          FROM documents
        ),
        expanded AS (
          SELECT doc_id, lang, CAST(u.e AS INT) AS epoch
          FROM base,
               unnest(CASE WHEN nc < 1 THEN CAST([] AS BIGINT[])
                           ELSE generate_series(0, nc - 1) END) AS u(e)
        ),
        keyed AS (
          SELECT doc_id, lang, epoch,
                 CAST('0x' || substr(md5('1' || CAST(epoch AS VARCHAR)
                        || '_' || CAST(doc_id AS VARCHAR)), 1, 15)
                      AS BIGINT) AS ok
          FROM expanded
        )
        SELECT doc_id, lang, epoch,
               CAST(ok % 8 AS INT) AS shard,
               CAST(row_number() OVER (
                 PARTITION BY epoch, ok % 8 ORDER BY ok, doc_id
               ) AS BIGINT) AS pos
        FROM keyed
    """

    # Registrable-domain cap twin (r12): same host fixture arithmetic,
    # same eTLD+1 rule (≤2 labels / IPv4 pass through; last-2-labels in
    # the multi-suffix set -> last 3 labels; else last 2), same portable
    # md5('0_'||id) cap order, keep rank <= 15.
    sql["domain_cap_registrable"] = """
        WITH pages AS (
          SELECT doc_id,
                 CASE
                   WHEN doc_id % 6 = 0 THEN 'www' || CAST(doc_id % 3 AS VARCHAR) || '.bbc.co.uk'
                   WHEN doc_id % 6 = 1 THEN 'news.site' || CAST(doc_id % 10 AS VARCHAR) || '.com'
                   WHEN doc_id % 6 = 2 THEN 'a' || CAST(doc_id % 4 AS VARCHAR) || '.co.uk'
                   WHEN doc_id % 6 = 3 THEN '10.0.' || CAST(doc_id % 9 AS VARCHAR) || '.1'
                   WHEN doc_id % 6 = 4 THEN 'localhost'
                   ELSE 'cdn.eu.shop' || CAST(doc_id % 5 AS VARCHAR) || '.com.au'
                 END AS host
          FROM documents
        ),
        keyed AS (
          SELECT doc_id, host,
                 CASE
                   WHEN len(string_split(host, '.')) <= 2 THEN host
                   WHEN regexp_matches(host, '^[0-9]+\\.[0-9]+\\.[0-9]+\\.[0-9]+$') THEN host
                   WHEN array_to_string(string_split(host, '.')[len(string_split(host, '.')) - 1 : len(string_split(host, '.'))], '.') IN (
                     'co.uk','org.uk','ac.uk','gov.uk','me.uk','net.uk',
                     'com.au','net.au','org.au','edu.au','gov.au',
                     'co.jp','ne.jp','or.jp','ac.jp','go.jp',
                     'com.br','net.br','org.br','gov.br',
                     'com.cn','net.cn','org.cn','gov.cn',
                     'com.mx','org.mx','co.in','net.in','org.in','gov.in',
                     'co.kr','or.kr','com.tw','org.tw','com.sg','com.hk',
                     'co.za','org.za','com.ar','com.tr','co.nz','net.nz',
                     'org.nz','com.my','co.id','co.th','com.vn','com.ph',
                     'co.il','org.il','com.eg','com.sa','com.ua','com.pk')
                   THEN array_to_string(string_split(host, '.')[len(string_split(host, '.')) - 2 : len(string_split(host, '.'))], '.')
                   ELSE array_to_string(string_split(host, '.')[len(string_split(host, '.')) - 1 : len(string_split(host, '.'))], '.')
                 END AS reg_dom
          FROM pages
        ),
        ranked AS (
          SELECT doc_id, host, reg_dom,
                 CAST(row_number() OVER (
                   PARTITION BY reg_dom
                   ORDER BY md5('0_' || CAST(doc_id AS VARCHAR)), doc_id
                 ) AS BIGINT) AS rnk
          FROM keyed
        )
        SELECT doc_id, host, reg_dom, rnk FROM ranked WHERE rnk <= 15
    """

    # DSIR twin (r12): identical md5 buckets ('0'||gram, 15 hex digits),
    # add-1 smoothing, per-bucket half-up micro-integer rounding of the
    # ln ratio, exact BIGINT doc sums, and the same deterministic Gumbel
    # key ('1'||id uniform -> -ln(-ln(u)), micro-rounded) for top-100.
    sql["dsir_select_en"] = """
        WITH d AS (
          SELECT doc_id, lang = 'en' AS is_t,
                 list_filter(
                   regexp_split_to_array(lower(trim(coalesce(text, ''))), '\\s+'),
                   x -> len(x) > 0) AS toks
          FROM documents
        ),
        uni AS (
          SELECT doc_id, is_t, unnest(toks) AS g FROM d
        ),
        bi AS (
          SELECT doc_id, is_t, toks[i] || ' ' || toks[i + 1] AS g
          FROM d, unnest(
            CASE WHEN len(toks) < 2 THEN CAST([] AS BIGINT[])
                 ELSE generate_series(1, len(toks) - 1) END) AS t(i)
        ),
        grams AS (SELECT * FROM uni UNION ALL SELECT * FROM bi),
        bucketed AS (
          SELECT doc_id, is_t,
                 CAST('0x' || substr(md5('0' || g), 1, 15) AS BIGINT) % 256
                   AS b
          FROM grams
        ),
        docb AS (
          SELECT doc_id, is_t, b, CAST(count(*) AS BIGINT) AS c
          FROM bucketed GROUP BY doc_id, is_t, b
        ),
        bucket AS (
          SELECT b,
                 sum(CASE WHEN is_t THEN c ELSE 0 END) AS ct,
                 sum(c) AS cr
          FROM docb GROUP BY b
        ),
        tot AS (SELECT sum(ct) AS tt, sum(cr) AS rt FROM bucket),
        scores AS (
          SELECT b,
                 CAST(floor((ln((ct + 1.0) / (tt + 256.0))
                             - ln((cr + 1.0) / (rt + 256.0)))
                            * 1000000.0 + 0.5) AS BIGINT) AS s
          FROM bucket, tot
        ),
        docw AS (
          SELECT doc_id,
                 CAST(sum(c) AS BIGINT) AS n_feats,
                 CAST(sum(c * s) AS BIGINT) AS logw_micros
          FROM docb JOIN scores USING (b) GROUP BY doc_id
        ),
        keyed AS (
          SELECT doc_id, n_feats, logw_micros,
                 logw_micros
                 + CAST(floor(-ln(-ln(
                     (CAST('0x' || substr(md5('1' || CAST(doc_id AS VARCHAR)), 1, 15)
                        AS BIGINT) % 1000000 + 0.5) / 1000000.0))
                     * 1000000.0 + 0.5) AS BIGINT) AS key
          FROM docw
        ),
        top AS (
          SELECT doc_id FROM keyed ORDER BY key DESC, doc_id LIMIT 100
        )
        SELECT k.doc_id, k.n_feats, k.logw_micros,
               k.logw_micros / 1000000.0 AS dsir_logw,
               t.doc_id IS NOT NULL AS sel
        FROM keyed k LEFT JOIN top t ON k.doc_id = t.doc_id
    """

    # Epoch-expansion twin (r12): whole copies + the md5-bucket
    # fractional pass (same '0'||id convention as mixture_resample),
    # copy indices via a guarded generate_series.
    sql["epoch_expand_langs"] = """
        WITH base AS (
          SELECT doc_id, lang,
                 CASE lang WHEN 'zh' THEN 2 WHEN 'fr' THEN 1
                      WHEN 'de' THEN 0 ELSE 1 END
                 + CASE WHEN
                     CAST('0x' || substr(md5('0' || CAST(doc_id AS VARCHAR)),
                                         1, 8) AS BIGINT) % 1000000
                     < CASE lang WHEN 'zh' THEN 500000
                            WHEN 'fr' THEN 250000 ELSE 0 END
                   THEN 1 ELSE 0 END AS nc
          FROM documents
        )
        SELECT doc_id, lang, CAST(u.e AS INT) AS epoch
        FROM base,
             unnest(CASE WHEN nc < 1 THEN CAST([] AS BIGINT[])
                         ELSE generate_series(0, nc - 1) END) AS u(e)
    """

    # Crawl-delay budget twin (r12): delays and counts are doc_id/host
    # arithmetic; integer-exact est_seconds cast to DOUBLE.
    sql["crawl_delay_budget"] = """
        WITH hp AS (
          SELECT doc_id % 7 AS h, count(*) AS n
          FROM documents GROUP BY doc_id % 7
        )
        SELECT 's' || CAST(h AS VARCHAR) || '.example' AS host,
               CASE WHEN h % 3 <> 2
                    THEN CAST(1 + h % 4 AS DOUBLE) END AS crawl_delay,
               CAST(n AS BIGINT) AS n_pages,
               CASE WHEN h % 3 <> 2
                    THEN CAST((1 + h % 4) * n AS DOUBLE)
               END AS est_seconds
        FROM hp
    """

    # Discovery-frontier twin (r12): the fixture is doc_id arithmetic,
    # so the frontier enumerates in closed form — page URLs per doc
    # (even: lastmod, odd: none; %10==0 listed twice -> n_sources=2),
    # one entity-decoded start URL per host; robots denies /d/ on
    # hosts ≡0 mod 3 (longest match over the Allow: /).
    sql["sitemap_discovery_frontier"] = """
        WITH durls AS (
          SELECT 's' || CAST(doc_id % 7 AS VARCHAR) || '.example' AS host,
                 'http://s' || CAST(doc_id % 7 AS VARCHAR)
                   || '.example/d/' || CAST(doc_id AS VARCHAR) AS url,
                 CASE WHEN doc_id % 2 = 0
                      THEN '2026-01-'
                           || lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0')
                 END AS lastmod,
                 CAST(CASE WHEN doc_id % 10 = 0 THEN 2 ELSE 1 END
                      AS BIGINT) AS n_sources,
                 (doc_id % 7) % 3 <> 0 AS robots_allowed
          FROM documents
        ),
        hosts AS (SELECT DISTINCT doc_id % 7 AS h FROM documents),
        starts AS (
          SELECT 's' || CAST(h AS VARCHAR) || '.example' AS host,
                 'http://s' || CAST(h AS VARCHAR)
                   || '.example/start?a=1&b=2' AS url,
                 CAST(NULL AS VARCHAR) AS lastmod,
                 CAST(1 AS BIGINT) AS n_sources,
                 TRUE AS robots_allowed
          FROM hosts
        )
        SELECT * FROM durls UNION ALL SELECT * FROM starts
    """

    # Incremental-discovery twin (r12): the frontier enumerates in
    # closed form (sitemap twin's arithmetic), the crawled set's
    # 2048-bit occupied-position frame rebuilds from the same
    # fingerprint + md5('bl'||i||fp) convention as dedup_bloom_screened.
    sql["frontier_bloom_tofetch"] = """
        WITH hostsq AS (SELECT DISTINCT doc_id % 7 AS h FROM documents),
        durls AS (
          SELECT 's' || CAST(doc_id % 7 AS VARCHAR) || '.example' AS host,
                 'http://s' || CAST(doc_id % 7 AS VARCHAR)
                   || '.example/d/' || CAST(doc_id AS VARCHAR) AS url
          FROM documents
        ),
        starts AS (
          SELECT 's' || CAST(h AS VARCHAR) || '.example' AS host,
                 'http://s' || CAST(h AS VARCHAR)
                   || '.example/start?a=1&b=2' AS url
          FROM hostsq
        ),
        frontier AS (
          SELECT * FROM durls UNION ALL SELECT * FROM starts
        ),
        crawled AS (
          SELECT 'http://s' || CAST(doc_id % 7 AS VARCHAR)
                   || '.example/d/' || CAST(doc_id AS VARCHAR) AS url
          FROM documents WHERE doc_id % 3 = 0
          UNION ALL
          SELECT url FROM starts
        ),
        crawledf AS (
          SELECT DISTINCT
                 md5(regexp_replace(lower(trim(coalesce(url, ''))),
                                    '\\s+', ' ', 'g')) AS fp
          FROM crawled
        ),
        positions AS (
          SELECT DISTINCT
                 CAST('0x' || substr(md5('bl' || CAST(g.i AS VARCHAR)
                                          || s.fp), 1, 15)
                      AS BIGINT) % 2048 AS pos
          FROM crawledf s, generate_series(0, 3) g(i)
        ),
        probes AS (
          SELECT f.host, f.url,
                 CAST('0x' || substr(md5('bl' || CAST(g.i AS VARCHAR)
                        || md5(regexp_replace(lower(trim(coalesce(f.url, ''))),
                                              '\\s+', ' ', 'g'))), 1, 15)
                      AS BIGINT) % 2048 AS pos
          FROM frontier f, generate_series(0, 3) g(i)
        ),
        flags AS (
          SELECT host, url,
                 bool_and(pos IN (SELECT pos FROM positions)) AS maybe_seen
          FROM probes GROUP BY host, url
        )
        SELECT fl.host, fl.url, fl.maybe_seen,
               (fl.url IN (SELECT url FROM crawled)) AS is_crawled,
               (fl.maybe_seen OR fl.url NOT IN (SELECT url FROM crawled))
                 AS contract_ok
        FROM flags fl
    """

    # URL canonicalization twin (r12): the messy construction AND the
    # canonical closed form both enumerate from doc_id arithmetic.
    sql["canonicalize_frontier_urls"] = """
        SELECT doc_id,
               CASE WHEN doc_id % 2 = 0 THEN 'HTTP://S'
                    ELSE 'https://S' END
                 || CAST(doc_id % 7 AS VARCHAR) || '.Example.com'
                 || CASE WHEN doc_id % 3 = 0 AND doc_id % 2 = 0 THEN ':80'
                         WHEN doc_id % 3 = 0 THEN ':443'
                         ELSE '' END
                 || '/a/b/../d' || CAST(doc_id AS VARCHAR) || '/./x'
                 || CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '' END
                 || CASE WHEN doc_id % 4 = 0
                         THEN '?utm_source=tw&id=' || CAST(doc_id AS VARCHAR)
                         WHEN doc_id % 4 = 1
                         THEN '?id=' || CAST(doc_id AS VARCHAR) || '&gclid=zz'
                         ELSE '' END
                 || '#s' || CAST(doc_id AS VARCHAR) AS url_messy,
               CASE WHEN doc_id % 2 = 0 THEN 'http' ELSE 'https' END
                 || '://s' || CAST(doc_id % 7 AS VARCHAR) || '.example.com'
                 || '/a/d' || CAST(doc_id AS VARCHAR) || '/x'
                 || CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '' END
                 || CASE WHEN doc_id % 4 IN (0, 1)
                         THEN '?id=' || CAST(doc_id AS VARCHAR)
                         ELSE '' END AS url_canon
        FROM documents
    """




    # Encode-budget twin (r12): expected token count per pool pretoken
    # under the fixed 4-merge table, hand-computed (bare: bread 3,
    # break 3, bride 4, crane 5, crimp 5; space-prefixed add the G-dot
    # byte: +1 except dog/dove where (G,do) merges it away).
    sql["bpe_encode_budget"] = """
        SELECT doc_id,
               CAST(
                 (CASE doc_id % 5 WHEN 0 THEN 3 WHEN 1 THEN 3
                       WHEN 2 THEN 4 WHEN 3 THEN 5 ELSE 5 END)
               + (CASE (doc_id // 5) % 5 WHEN 0 THEN 4 WHEN 1 THEN 4
                       WHEN 2 THEN 5 WHEN 3 THEN 6 ELSE 6 END)
               + (CASE doc_id % 4 WHEN 0 THEN 2 WHEN 1 THEN 3
                       WHEN 2 THEN 6 ELSE 6 END)
               AS BIGINT) AS n_bpe_tokens
        FROM documents
    """

    # Anchor-profile twin (r12): enumerate the (dst, kind) rows from
    # the same arithmetic maps (NO dedup — one row per anchor, like
    # the extractor), then aggregate count + sorted-distinct kinds.
    sql["anchor_text_profile"] = """
        WITH e AS (
          SELECT 'http://crawl.example/p/' || CAST(
                   CASE WHEN doc_id = 0 THEN 1 ELSE doc_id - 1 END
                   AS VARCHAR) AS dst, 'abs' AS t
          FROM documents
          UNION ALL
          SELECT 'http://crawl.example/p/' || CAST(
                   CASE WHEN doc_id = 0 THEN 1 ELSE doc_id // 2 END
                   AS VARCHAR), 'root'
          FROM documents
          UNION ALL
          SELECT 'http://crawl.example/p/' || CAST(
                   CASE WHEN doc_id = 0 THEN 2
                        WHEN doc_id % 10 = 0 THEN doc_id - 10
                        ELSE doc_id - doc_id % 10 END
                   AS VARCHAR), 'proto'
          FROM documents
        ),
        counts AS (SELECT dst, count(*) AS c FROM e GROUP BY dst),
        kinds AS (
          SELECT dst, string_agg(t, ',' ORDER BY t) AS ks
          FROM (SELECT DISTINCT dst, t FROM e) GROUP BY dst
        )
        SELECT c.dst AS dst_url,
               CAST(c.c AS BIGINT) AS n_inlinks,
               k.ks AS anchor_kinds
        FROM counts c JOIN kinds k USING (dst)
    """

    # Charset long-tail twin (r12): katakana/hanzi from chr()
    # codepoints; the unknown-label row refuses (NULL) through the
    # fallback tier too.
    sql["warc_charset_fallback"] = """
        SELECT d.doc_id,
               CAST(t.k AS INT) AS rec_idx,
               CASE t.k
                 WHEN 0 THEN 'shift_jis'
                 WHEN 1 THEN 'gb2312'
                 ELSE 'x-no-such-charset'
               END AS charset,
               CASE t.k
                 WHEN 0 THEN 'Doc ' || CAST(d.doc_id AS VARCHAR) || ' '
                      || chr(12459) || chr(12501) || chr(12455)
                 WHEN 1 THEN 'Doc ' || CAST(d.doc_id AS VARCHAR) || ' '
                      || chr(20013) || chr(25991)
                 ELSE NULL
               END AS text,
               md5(CASE t.k
                 WHEN 0 THEN 'Doc ' || CAST(d.doc_id AS VARCHAR) || ' '
                      || chr(12459) || chr(12501) || chr(12455)
                 WHEN 1 THEN 'Doc ' || CAST(d.doc_id AS VARCHAR) || ' '
                      || chr(20013) || chr(25991)
                 ELSE NULL
               END) AS text_md5
        FROM documents d
        JOIN (VALUES (0), (1), (2)) t(k) ON true
    """

    # Charset decode twin (r12): expected text rebuilt from chr()
    # codepoints per decode arm — é=233 ï=239 €=8364 em-dash=8212; the
    # shift_jis row refuses (NULL text/md5). md5 compares byte-exactly
    # because DuckDB strings are UTF-8, the same bytes Spark's
    # encode(text,'UTF-8') hashes.
    sql["warc_charset_decode"] = """
        SELECT d.doc_id,
               CAST(t.k AS INT) AS rec_idx,
               CASE t.k
                 WHEN 0 THEN 'windows-1252'
                 WHEN 1 THEN 'iso-8859-1'
                 WHEN 2 THEN 'utf-8'
                 WHEN 3 THEN 'shift_jis'
                 WHEN 4 THEN 'utf-8'
                 ELSE 'utf-16le'
               END AS charset,
               CASE t.k
                 WHEN 0 THEN 'Doc ' || CAST(d.doc_id AS VARCHAR)
                      || ' caf' || chr(233) || ' price ' || chr(8364)
                      || CAST(d.doc_id AS VARCHAR) || ' ' || chr(8212)
                      || ' dash'
                 WHEN 1 THEN 'Doc ' || CAST(d.doc_id AS VARCHAR)
                      || ' na' || chr(239) || 've r' || chr(233)
                      || 'sum' || chr(233)
                 WHEN 2 THEN 'Doc ' || CAST(d.doc_id AS VARCHAR)
                      || ' r' || chr(233) || 'sum' || chr(233)
                      || ' ' || chr(8364)
                 WHEN 3 THEN NULL
                 WHEN 4 THEN 'Doc ' || CAST(d.doc_id AS VARCHAR)
                      || ' plain ascii words only'
                 ELSE 'Doc ' || CAST(d.doc_id AS VARCHAR)
                      || ' wide utf sixteen'
               END AS text,
               md5(CASE t.k
                 WHEN 0 THEN 'Doc ' || CAST(d.doc_id AS VARCHAR)
                      || ' caf' || chr(233) || ' price ' || chr(8364)
                      || CAST(d.doc_id AS VARCHAR) || ' ' || chr(8212)
                      || ' dash'
                 WHEN 1 THEN 'Doc ' || CAST(d.doc_id AS VARCHAR)
                      || ' na' || chr(239) || 've r' || chr(233)
                      || 'sum' || chr(233)
                 WHEN 2 THEN 'Doc ' || CAST(d.doc_id AS VARCHAR)
                      || ' r' || chr(233) || 'sum' || chr(233)
                      || ' ' || chr(8364)
                 WHEN 3 THEN NULL
                 WHEN 4 THEN 'Doc ' || CAST(d.doc_id AS VARCHAR)
                      || ' plain ascii words only'
                 ELSE 'Doc ' || CAST(d.doc_id AS VARCHAR)
                      || ' wide utf sixteen'
               END) AS text_md5
        FROM documents d
        JOIN (VALUES (0), (1), (2), (3), (4), (5)) t(k) ON true
    """

    # the capstone's survivor corpus is CLOSED FORM (see
    # pipeline_from_crawl): one cluster page per doc_id%50 class kept
    # by the min doc, plus every doc's unique page; near-dup, spam and
    # 404 pages all drop. rec_idx arithmetic mirrors the fixture's
    # record layout (warcinfo, request, cluster, [near-dup], [spam],
    # unique, [404]).
    sql["pipeline_from_crawl"] = """
        WITH ctoks AS (
          SELECT cs.c,
                 string_agg('c' || CAST(cs.c AS VARCHAR) || '_'
                            || CAST(j.j AS VARCHAR), ' '
                            ORDER BY j.j) AS text
          FROM generate_series(0, 49) cs(c), generate_series(0, 39) j(j)
          GROUP BY cs.c
        ),
        bases AS (
          SELECT MIN(d.doc_id) AS doc_id, d.doc_id % 50 AS c
          FROM documents d GROUP BY d.doc_id % 50
        ),
        base_rows AS (
          SELECT b.doc_id,
                 CAST(2 AS INT) AS rec_idx,
                 'http://s' || CAST(b.doc_id % 7 AS VARCHAR)
                   || '.example/c/' || CAST(b.c AS VARCHAR) AS url,
                 's' || CAST(b.doc_id % 7 AS VARCHAR) || '.example' AS host,
                 t.text,
                 CAST(40 AS INT) AS n_words
          FROM bases b JOIN ctoks t ON t.c = b.c
        ),
        utoks AS (
          SELECT d.doc_id,
                 string_agg('u' || CAST(d.doc_id AS VARCHAR) || '_'
                            || CAST(j.j AS VARCHAR), ' '
                            ORDER BY j.j) AS text
          FROM documents d
          JOIN generate_series(0, 23) j(j) ON j.j < 15 + d.doc_id % 10
          GROUP BY d.doc_id
        ),
        uniq_rows AS (
          SELECT d.doc_id,
                 CAST(3 + (CASE WHEN d.doc_id % 7 = 3 THEN 1 ELSE 0 END)
                        + (CASE WHEN d.doc_id % 11 = 5 THEN 1 ELSE 0 END)
                      AS INT) AS rec_idx,
                 'http://s' || CAST(d.doc_id % 7 AS VARCHAR)
                   || '.example/u/' || CAST(d.doc_id AS VARCHAR) AS url,
                 's' || CAST(d.doc_id % 7 AS VARCHAR) || '.example' AS host,
                 u.text,
                 CAST(15 + d.doc_id % 10 AS INT) AS n_words
          FROM documents d JOIN utoks u ON u.doc_id = d.doc_id
        )
        SELECT * FROM base_rows UNION ALL SELECT * FROM uniq_rows
    """

    # The LSH-verified capstone's survivors are IDENTICAL to the exact
    # tier's (the exact-Jaccard verify arbitrates every LSH candidate;
    # candidate superset of true pairs is pinned at the r=1 band
    # geometry — see pipeline_from_crawl_lsh), so the twin is the same
    # closed-form enumeration.
    sql["pipeline_from_crawl_lsh"] = sql["pipeline_from_crawl"]

    # Full production front end: survivors fold the robots gate
    # (no /u/ on hosts ≡0 mod 3), the URL screen (host s0 blocked),
    # and the dedup stack into doc_id arithmetic — cluster keeper =
    # min class member on an unblocked host; unique pages survive for
    # doc%7 in {1,2,4,5}; robots-allowed near-dups (doc ≡ 10 mod 70)
    # are dropped by the fuzzy tier (J = 35/41 vs their cluster
    # keeper); spam fails the text gate, 404s never ingest.
    sql["pipeline_crawl_production"] = """
        WITH keepers AS (
          SELECT min(doc_id) AS doc_id, doc_id % 50 AS c
          FROM documents WHERE doc_id % 7 <> 0 GROUP BY doc_id % 50
        ),
        base_rows AS (
          SELECT k.doc_id,
                 CAST(2 AS INT) AS rec_idx,
                 'http://s' || CAST(k.doc_id % 7 AS VARCHAR)
                   || '.example/c/' || CAST(k.c AS VARCHAR) AS url,
                 's' || CAST(k.doc_id % 7 AS VARCHAR) || '.example'
                   AS host,
                 CAST(40 AS INT) AS n_words
          FROM keepers k
        ),
        uniq_rows AS (
          SELECT doc_id,
                 CAST(3 + CASE WHEN doc_id % 11 = 5 THEN 1 ELSE 0 END
                      AS INT) AS rec_idx,
                 'http://s' || CAST(doc_id % 7 AS VARCHAR)
                   || '.example/u/' || CAST(doc_id AS VARCHAR) AS url,
                 's' || CAST(doc_id % 7 AS VARCHAR) || '.example'
                   AS host,
                 CAST(15 + doc_id % 10 AS INT) AS n_words
          FROM documents WHERE doc_id % 7 IN (1, 2, 4, 5)
        )
        SELECT * FROM base_rows UNION ALL SELECT * FROM uniq_rows
    """

    # URL gate over the same capstone fixture: page layout per doc is
    # (cluster@2, near-dup@3 if %7==3, spam next if %11==5, unique
    # last; 404s never ingest); blocked_host = s0.example (doc%7==0),
    # blocked_term fires on /spam/ paths, nothing else ever fires
    sql["crawl_url_screen"] = """
        WITH pages AS (
          SELECT doc_id, 2 AS rec_idx,
                 '/c/' || CAST(doc_id % 50 AS VARCHAR) AS pth
          FROM documents
          UNION ALL
          SELECT doc_id, 3, '/nd/' || CAST(doc_id AS VARCHAR)
          FROM documents WHERE doc_id % 7 = 3
          UNION ALL
          SELECT doc_id,
                 3 + CASE WHEN doc_id % 7 = 3 THEN 1 ELSE 0 END,
                 '/spam/' || CAST(doc_id AS VARCHAR)
          FROM documents WHERE doc_id % 11 = 5
          UNION ALL
          SELECT doc_id,
                 3 + (CASE WHEN doc_id % 7 = 3 THEN 1 ELSE 0 END)
                   + (CASE WHEN doc_id % 11 = 5 THEN 1 ELSE 0 END),
                 '/u/' || CAST(doc_id AS VARCHAR)
          FROM documents
        )
        SELECT p.doc_id,
               CAST(p.rec_idx AS INT) AS rec_idx,
               'http://s' || CAST(p.doc_id % 7 AS VARCHAR) || '.example'
                 || p.pth AS url,
               's' || CAST(p.doc_id % 7 AS VARCHAR) || '.example' AS host,
               (p.doc_id % 7 <> 0 AND p.pth NOT LIKE '/spam/%')
                 AS url_pass,
               CASE
                 WHEN p.doc_id % 7 = 0 AND p.pth LIKE '/spam/%'
                   THEN 'blocked_host,blocked_term'
                 WHEN p.doc_id % 7 = 0 THEN 'blocked_host'
                 WHEN p.pth LIKE '/spam/%' THEN 'blocked_term'
                 ELSE ''
               END AS url_reasons
        FROM pages p
    """

    # robots gate over the same capstone pages: outcomes are pure
    # doc_id arithmetic (the Spark side PARSES real robots text; the
    # fixture rules make every RFC 9309 behavior closed-form) —
    # /c/ always allowed; /nd/ denied unless doc ≡ 0 (mod 10) where
    # the longer '/nd/*0$' Allow wins; /spam/ denied; /u/ denied only
    # on hosts ≡ 0 (mod 3); the even hosts' '*'-group 'Disallow: /'
    # is HIDDEN by the existing datamancer group (never fires).
    sql["robots_crawl_gate"] = """
        WITH pages AS (
          SELECT doc_id, 2 AS rec_idx,
                 '/c/' || CAST(doc_id % 50 AS VARCHAR) AS pth,
                 'c' AS kind
          FROM documents
          UNION ALL
          SELECT doc_id, 3, '/nd/' || CAST(doc_id AS VARCHAR), 'nd'
          FROM documents WHERE doc_id % 7 = 3
          UNION ALL
          SELECT doc_id,
                 3 + CASE WHEN doc_id % 7 = 3 THEN 1 ELSE 0 END,
                 '/spam/' || CAST(doc_id AS VARCHAR), 'spam'
          FROM documents WHERE doc_id % 11 = 5
          UNION ALL
          SELECT doc_id,
                 3 + (CASE WHEN doc_id % 7 = 3 THEN 1 ELSE 0 END)
                   + (CASE WHEN doc_id % 11 = 5 THEN 1 ELSE 0 END),
                 '/u/' || CAST(doc_id AS VARCHAR), 'u'
          FROM documents
        )
        SELECT p.doc_id,
               CAST(p.rec_idx AS INT) AS rec_idx,
               'http://s' || CAST(p.doc_id % 7 AS VARCHAR) || '.example'
                 || p.pth AS url,
               's' || CAST(p.doc_id % 7 AS VARCHAR) || '.example' AS host,
               CASE p.kind
                 WHEN 'c' THEN TRUE
                 WHEN 'nd' THEN p.doc_id % 10 = 0
                 WHEN 'spam' THEN FALSE
                 ELSE (p.doc_id % 7) % 3 <> 0
               END AS robots_allowed,
               CASE p.kind
                 WHEN 'c' THEN '/c/'
                 WHEN 'nd' THEN CASE WHEN p.doc_id % 10 = 0
                                     THEN '/nd/*0$' ELSE '/nd/' END
                 WHEN 'spam' THEN '/spam/'
                 ELSE CASE WHEN (p.doc_id % 7) % 3 = 0
                           THEN '/u/' ELSE NULL END
               END AS matched_pattern
        FROM pages p
    """

    # CSV round-trip twin (r13): DuckDB parses THE SAME part files the
    # Spark query just wrote (the write is eager inside the query call,
    # so the files exist before any oracle runs). Cross-engine dialect
    # parity under test: multi-file glob with per-file headers, RFC 4180
    # doubled-quote escapes, "NaN" doubles, empty-string NULLs. txt_sig
    # sums a 32-bit md5 prefix per text value — one corrupted byte in
    # any quoted field flips the hash.
    sql["csv_roundtrip_agg"] = f"""
        WITH back AS (
          SELECT * FROM read_csv(
            '{_CSV_GATE_DIR}/part-*.csv', header=true)
        )
        SELECT status,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(k) AS BIGINT) AS sum_k,
               CAST(sum(CASE WHEN isnan(price) THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_nan,
               CAST(sum(CASE WHEN price IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_null,
               CAST(sum(CASE WHEN price IS NOT NULL AND NOT isnan(price)
                             THEN CAST(floor(price * 100 + 0.5) AS BIGINT)
                        END) AS BIGINT) AS sum_price_cents,
               CAST(sum(CAST('0x' || substr(md5(txt), 1, 8) AS BIGINT))
                    AS BIGINT) AS txt_sig
        FROM back
        GROUP BY status
    """

    # JSONL round-trip twin (r14): DuckDB's read_json over the same
    # part files Spark just wrote. Explicit columns= keeps the read
    # single-pass (no inference) and pins the cross-engine types;
    # missing keys (Spark's null-field omission) surface as NULL.
    sql["jsonl_roundtrip_agg"] = f"""
        WITH back AS (
          SELECT * FROM read_json(
            '{_JSONL_GATE_DIR}/part-*.json',
            format='newline_delimited',
            columns={{'k': 'BIGINT', 'status': 'VARCHAR',
                      'txt': 'VARCHAR', 'price': 'DOUBLE'}})
        )
        SELECT status,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(k) AS BIGINT) AS sum_k,
               CAST(sum(CASE WHEN price IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_null,
               CAST(sum(CASE WHEN price IS NOT NULL
                             THEN CAST(floor(price * 100 + 0.5) AS BIGINT)
                        END) AS BIGINT) AS sum_price_cents,
               CAST(sum(CAST('0x' || substr(md5(txt), 1, 8) AS BIGINT))
                    AS BIGINT) AS txt_sig
        FROM back
        GROUP BY status
    """

    # Histogram twin (r14): bins, cumulative counts, and quantile
    # flags rebuilt from the raw values — the merge==rebuild pin is
    # n_merged == n_rebuilt == this twin's n for every bin. The bin
    # expression repeats the Spark op order exactly ((v-lo)/(hi-lo)*n,
    # floor, clamp) so IEEE rounding can't diverge.
    sql["hist_merge_snapshots"] = """
        WITH b AS (
          SELECT CASE WHEN value < 0.0 THEN CAST(-1 AS BIGINT)
                      WHEN value >= 500.0 THEN CAST(50 AS BIGINT)
                      ELSE least(CAST(floor((value - 0.0) / (500.0 - 0.0)
                                            * 50) AS BIGINT),
                                 CAST(49 AS BIGINT)) END AS bin
          FROM events WHERE value IS NOT NULL
        ), h AS (
          SELECT bin, CAST(count(*) AS BIGINT) AS n FROM b GROUP BY bin
        ), c AS (
          SELECT bin, n,
                 CAST(sum(n) OVER (ORDER BY bin
                                   ROWS UNBOUNDED PRECEDING) AS BIGINT)
                   AS cum_n,
                 CAST(sum(n) OVER () AS BIGINT) AS total
          FROM h
        )
        SELECT bin, n AS n_merged, n AS n_rebuilt, cum_n,
               prnd(CAST(cum_n AS DOUBLE) / total, 6) AS cum_frac,
               CAST(CASE WHEN cum_n >= 0.5 * total
                          AND cum_n - n < 0.5 * total
                     THEN 1 ELSE 0 END AS BIGINT) AS is_p50,
               CAST(CASE WHEN cum_n >= 0.9 * total
                          AND cum_n - n < 0.9 * total
                     THEN 1 ELSE 0 END AS BIGINT) AS is_p90,
               CAST(CASE WHEN cum_n >= 0.99 * total
                          AND cum_n - n < 0.99 * total
                     THEN 1 ELSE 0 END AS BIGINT) AS is_p99
        FROM c
    """

    # bucketed-join twin (r15): a plain join+agg — the Spark side's
    # value must be layout-invariant, so the bucketed scan+join path
    # is graded against the same join computed without any bucketing.
    sql["bucketed_join_agg"] = """
        SELECT o_orderstatus,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount)
                                   * 100 + 0.5) AS BIGINT))
                    AS BIGINT) AS revenue_cents
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        GROUP BY o_orderstatus
    """

    # avro round-trip twin (r15): DuckDB has no Avro reader, so the
    # twin aggregates the SAME slice straight from orders — engine-
    # side interchange fidelity is pinned by the two-sided reference
    # codec in tests/test_avro.py; this comparison pins the
    # distributed sink+source path's values.
    sql["avro_roundtrip_agg"] = """
        WITH src AS (
          SELECT CAST(o_orderkey AS BIGINT) AS k,
                 o_orderstatus AS status,
                 'é✓ ' || o_orderpriority AS txt,
                 CASE WHEN o_orderkey % 7 = 0 THEN CAST('nan' AS DOUBLE)
                      WHEN o_orderkey % 5 = 0 THEN NULL
                      ELSE o_totalprice END AS price
          FROM orders WHERE o_orderkey % 20 < 3
        )
        SELECT status,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(k) AS BIGINT) AS sum_k,
               CAST(sum(CASE WHEN isnan(price) THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_nan,
               CAST(sum(CASE WHEN price IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_null,
               CAST(sum(CASE WHEN price IS NOT NULL AND NOT isnan(price)
                        THEN CAST(floor(price * 100 + 0.5) AS BIGINT)
                        END) AS BIGINT) AS price_cents,
               CAST(sum(length(txt)) AS BIGINT) AS txt_chars
        FROM src GROUP BY status
    """

    # streaming rank-sketch twin (r15): a fully-replayed stateless
    # filter equals the batch filter, so the twin rebuilds sketch
    # membership (portable event_id hash < 2^56) and the sorted-sample
    # quantiles; stream_ok is pinned true (stream == batch is the
    # replay premise the Spark side actually tests).
    sql["streaming_quantile_replay"] = """
        WITH sk AS (
          SELECT CAST(value AS DOUBLE) AS v,
                 CAST('0x' || substr(md5('rank' ||
                   (chr(2) || 'V' || CAST(event_id AS VARCHAR))), 1, 15)
                   AS BIGINT) AS h
          FROM events WHERE value IS NOT NULL
        ), s AS (
          SELECT * FROM sk WHERE h < 72057594037927936
        ), rk AS (
          SELECT v, row_number() OVER (ORDER BY v, h) AS rn,
                 CAST(count(*) OVER () AS BIGINT) AS m
          FROM s
        ), ps AS (
          SELECT CAST(x AS DOUBLE) AS p
          FROM (VALUES (0.25), (0.5), (0.75), (0.9)) t(x)
        )
        SELECT p, prnd(min(v), 6) AS value_est, max(m) AS m,
               TRUE AS stream_ok
        FROM rk JOIN ps
          ON rn >= greatest(CAST(ceil(p * m) AS BIGINT),
                            CAST(1 AS BIGINT))
        GROUP BY p
    """

    # late-drop twin (r15): the measured 3-batch semantics applied
    # analytically — the late filter runs against the watermark that
    # did the LAST eviction (previous batch's operating wm), so
    # batches 1-2 are fully kept, batch-3 rows survive iff their
    # window outlives wm(batch 2) = max ts(batch 1) - 317 min, and
    # append mode emits exactly the windows the final watermark
    # (global max - 317 min) closed. Both watermarks are exact µs
    # values; 317 min keeps hour-aligned window ends off boundaries.
    sql["streaming_late_drop"] = """
        WITH b12 AS (
          SELECT * FROM events WHERE event_id % 3 IN (0, 1)
        ), b3 AS (
          SELECT * FROM events WHERE event_id % 3 = 2
        ), wm1 AS (
          SELECT max(ts) - INTERVAL 317 MINUTE AS w
          FROM events WHERE event_id % 3 = 0
        ), wmf AS (
          SELECT max(ts) - INTERVAL 317 MINUTE AS w FROM events
        ), kept AS (
          SELECT * FROM b12
          UNION ALL
          SELECT b3.* FROM b3, wm1
          WHERE date_trunc('hour', b3.ts) + INTERVAL 1 HOUR > wm1.w
        ), agg AS (
          SELECT date_trunc('hour', ts) AS bucket, event_type,
                 CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT))
                      AS BIGINT) AS value_cents
          FROM kept GROUP BY 1, 2
        )
        SELECT a.* FROM agg a, wmf
        WHERE a.bucket + INTERVAL 1 HOUR <= wmf.w
    """

    # rank-sketch twin (r15): sketch membership is the portable md5 row
    # hash under seed 'rank' (row_signature tagging, chr(2)/chr(31)
    # bytes) tested against literal 2^55 / 2^54 thresholds; the merged
    # arm applies BOTH per-snapshot rates then the coarser downsample,
    # the rebuilt arm the coarser rate directly — count + BIT_XOR
    # equality is the merge==rebuild pin. Quantiles come off the sorted
    # sample at ceil(p*m), then the true rank of each estimate is
    # scored against the 4*sqrt(N*64) bound.
    sql["quantile_sketch_merge"] = """
        WITH base AS (
          SELECT CAST(l_extendedprice AS DOUBLE) AS v, l_orderkey,
                 CAST('0x' || substr(md5('rank' || concat_ws(chr(31),
                   chr(2) || 'V' || CAST(l_orderkey AS VARCHAR),
                   chr(2) || 'V' || CAST(l_linenumber AS VARCHAR))),
                   1, 15) AS BIGINT) AS h
          FROM lineitem WHERE l_extendedprice IS NOT NULL
        ), ma AS (
          SELECT v, h FROM base
          WHERE ((l_orderkey % 2 = 0 AND h < 36028797018963968)
                 OR (l_orderkey % 2 = 1 AND h < 18014398509481984))
            AND h < 18014398509481984
        ), rb AS (
          SELECT v, h FROM base WHERE h < 18014398509481984
        ), mok AS (
          SELECT ((SELECT count(*) FROM ma) = (SELECT count(*) FROM rb)
                  AND (SELECT bit_xor(h) FROM ma)
                      = (SELECT bit_xor(h) FROM rb)) AS merge_ok
        ), rk AS (
          SELECT v, row_number() OVER (ORDER BY v, h) AS rn,
                 CAST(count(*) OVER () AS BIGINT) AS m
          FROM ma
        ), ps AS (
          SELECT CAST(x AS DOUBLE) AS p
          FROM (VALUES (0.25), (0.5), (0.75), (0.9), (0.99)) t(x)
        ), qv AS (
          SELECT p, min(v) AS value_est, max(m) AS m
          FROM rk JOIN ps
            ON rn >= greatest(CAST(ceil(p * m) AS BIGINT),
                              CAST(1 AS BIGINT))
          GROUP BY p
        ), tot AS (
          SELECT CAST(count(*) AS BIGINT) AS n_total FROM base
        ), er AS (
          SELECT p, value_est, m, CAST(count(*) AS BIGINT) AS exact_rank
          FROM base JOIN qv ON base.v <= qv.value_est
          GROUP BY p, value_est, m
        )
        SELECT p, prnd(value_est, 2) AS value_est, m, exact_rank,
               (abs(exact_rank - p * n_total)
                <= 4.0 * sqrt(n_total * 64.0)) AS rank_ok,
               merge_ok
        FROM er, tot, mok
    """

    # grouped rank-sketch drift twin (r15): per-lang sketch membership
    # under the 2^-2 rate (h < 2^58), per-lang sorted-sample quantiles
    # at ceil(p*m), full-outer drift join with the -1/0 sentinels.
    _rsk_quant = """
          SELECT lang, p, min(v) AS q, max(m) AS m
          FROM (
            SELECT lang, v, h,
                   row_number() OVER (PARTITION BY lang ORDER BY v, h)
                     AS rn,
                   CAST(count(*) OVER (PARTITION BY lang) AS BIGINT) AS m
            FROM {sk}
          ) r JOIN ps ON rn >= greatest(CAST(ceil(p * m) AS BIGINT),
                                        CAST(1 AS BIGINT))
          GROUP BY lang, p
    """
    sql["quantile_drift_langs"] = f"""
        WITH ps AS (
          SELECT CAST(x AS DOUBLE) AS p
          FROM (VALUES (0.5), (0.9)) t(x)
        ), sko AS (
          SELECT lang, CAST(n_chars AS DOUBLE) AS v,
                 CAST('0x' || substr(md5('rank' ||
                   (chr(2) || 'V' || CAST(doc_id AS VARCHAR))), 1, 15)
                   AS BIGINT) AS h
          FROM documents
          WHERE doc_id % 7 <> 0 AND n_chars IS NOT NULL
        ), skn AS (
          SELECT lang, CAST(n_chars AS DOUBLE) AS v,
                 CAST('0x' || substr(md5('rank' ||
                   (chr(2) || 'V' || CAST(doc_id AS VARCHAR))), 1, 15)
                   AS BIGINT) AS h
          FROM documents
          WHERE doc_id % 5 <> 0 AND n_chars IS NOT NULL
        ), so AS (
          SELECT * FROM sko WHERE h < 288230376151711744
        ), sn AS (
          SELECT * FROM skn WHERE h < 288230376151711744
        ), qo AS ({_rsk_quant.format(sk="so")}
        ), qn AS ({_rsk_quant.format(sk="sn")}
        )
        SELECT coalesce(qo.lang, qn.lang) AS lang,
               coalesce(qo.p, qn.p) AS p,
               coalesce(qo.q, -1.0) AS q_old,
               coalesce(qn.q, -1.0) AS q_new,
               CAST(coalesce(qo.m, 0) AS BIGINT) AS m_old,
               CAST(coalesce(qn.m, 0) AS BIGINT) AS m_new,
               (qo.q IS NOT NULL AND qn.q IS NOT NULL) AS both_present,
               CASE WHEN qo.q IS NOT NULL AND qn.q IS NOT NULL
                    THEN qn.q - qo.q ELSE 0.0 END AS shift
        FROM qo FULL OUTER JOIN qn
          ON qo.lang = qn.lang AND qo.p = qn.p
    """

    # weighted rank-sketch twin (r15): token weights from the shared
    # tokenization CTE, sketch membership under 2^59 / 2^58 thresholds
    # with the coarser downsample, weighted-cumulative quantile rule,
    # and the count+BIT_XOR+total-weight merge==rebuild pin.
    sql["quantile_weighted_tokens"] = """
        WITH wdoc AS (
          SELECT doc_id, CAST(n_chars AS DOUBLE) AS v,
                 CAST(len(list_filter(
                   regexp_split_to_array(lower(trim(coalesce(text, ''))),
                                         '\\s+'),
                   x -> len(x) > 0)) AS BIGINT) AS w,
                 CAST('0x' || substr(md5('rank' ||
                   (chr(2) || 'V' || CAST(doc_id AS VARCHAR))), 1, 15)
                   AS BIGINT) AS h
          FROM documents WHERE n_chars IS NOT NULL
        ), ma AS (
          SELECT v, w, h FROM wdoc
          WHERE ((doc_id % 2 = 0 AND h < 576460752303423488)
                 OR (doc_id % 2 = 1 AND h < 288230376151711744))
            AND h < 288230376151711744
        ), rb AS (
          SELECT v, w, h FROM wdoc WHERE h < 288230376151711744
        ), mok AS (
          SELECT ((SELECT count(*) FROM ma) = (SELECT count(*) FROM rb)
                  AND (SELECT bit_xor(h) FROM ma)
                      = (SELECT bit_xor(h) FROM rb)
                  AND (SELECT sum(w) FROM ma) = (SELECT sum(w) FROM rb))
                 AS merge_ok
        ), rk AS (
          SELECT v,
                 CAST(sum(w) OVER (ORDER BY v, h
                                   ROWS UNBOUNDED PRECEDING) AS BIGINT)
                   AS cw,
                 CAST(sum(w) OVER () AS BIGINT) AS m
          FROM ma
        ), ps AS (
          SELECT CAST(x AS DOUBLE) AS p
          FROM (VALUES (0.5), (0.9)) t(x)
        ), qv AS (
          SELECT p, min(v) AS value_est, max(m) AS m
          FROM rk JOIN ps ON cw >= p * m
          GROUP BY p
        ), tot AS (
          SELECT CAST(sum(w) AS BIGINT) AS W,
                 CAST(max(w) AS BIGINT) AS wmax
          FROM wdoc
        ), er AS (
          SELECT p, value_est, m,
                 CAST(sum(wdoc.w) AS BIGINT) AS w_below
          FROM wdoc JOIN qv ON wdoc.v <= qv.value_est
          GROUP BY p, value_est, m
        )
        SELECT p, value_est, m, w_below,
               (abs(w_below - p * W) <= 4.0 * sqrt(4.0 * W * wmax))
                 AS rank_ok,
               merge_ok
        FROM er, tot, mok
    """

    # salted distinct-count twin (r15): portable-hash bucket assignment,
    # per-(key, salt) distinct partials, summed, compared to the direct
    # COUNT(DISTINCT) — the twin rebuilds both arms and the equality.
    sql["skew_distinct_salted"] = """
        WITH s1 AS (
          SELECT event_type,
                 CAST('0x' || substr(md5('salt' ||
                   CAST(user_id AS VARCHAR)), 1, 15) AS BIGINT) % 32
                   AS salt,
                 count(DISTINCT user_id) AS part
          FROM events WHERE user_id IS NOT NULL
          GROUP BY 1, 2
        ), s2 AS (
          SELECT event_type, CAST(sum(part) AS BIGINT) AS n_distinct
          FROM s1 GROUP BY 1
        ), d AS (
          SELECT event_type,
                 CAST(count(DISTINCT user_id) AS BIGINT) AS n_direct
          FROM events GROUP BY 1
        )
        SELECT s2.event_type, n_distinct, n_direct,
               (n_distinct = n_direct) AS salted_ok
        FROM s2 JOIN d USING (event_type)
    """

    # manifest_diff twin (r14): both manifests rebuilt in SQL from the
    # same portable conventions, then the shard-by-shard comparison.
    sql["manifest_diff_report"] = """
        WITH ma AS (
          SELECT CAST('0x' || substr(md5('shard' ||
                   CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 32
                 AS shard,
                 CAST(count(*) AS BIGINT) AS n_rows,
                 CAST(bit_xor(CAST('0x' || substr(md5('sig' || concat_ws(chr(31),
                   chr(2) || 'V' || CAST(doc_id AS VARCHAR),
                   CASE WHEN text IS NULL THEN chr(2) || 'N'
                        ELSE chr(2) || 'V' || text END,
                   CASE WHEN lang IS NULL THEN chr(2) || 'N'
                        ELSE chr(2) || 'V' || lang END,
                   CASE WHEN source IS NULL THEN chr(2) || 'N'
                        ELSE chr(2) || 'V' || source END)), 1, 15)
                 AS BIGINT)) AS BIGINT) AS content_sig
          FROM documents GROUP BY shard
        ), mb AS (
          SELECT CAST('0x' || substr(md5('shard' ||
                   CAST(d.doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 32
                 AS shard,
                 CAST(count(*) AS BIGINT) AS n_rows,
                 CAST(bit_xor(CAST('0x' || substr(md5('sig' || concat_ws(chr(31),
                   chr(2) || 'V' || CAST(d.doc_id AS VARCHAR),
                   CASE WHEN d.text IS NULL THEN chr(2) || 'N'
                        ELSE chr(2) || 'V' || d.text END,
                   CASE WHEN d.lang IS NULL THEN chr(2) || 'N'
                        ELSE chr(2) || 'V' || d.lang END,
                   CASE WHEN d.source IS NULL THEN chr(2) || 'N'
                        ELSE chr(2) || 'V' || d.source END)), 1, 15)
                 AS BIGINT)) AS BIGINT) AS content_sig
          FROM (SELECT doc_id,
                       CASE WHEN doc_id % 97 = 0 THEN text || ' tampered'
                            ELSE text END AS text,
                       lang, source
                FROM documents WHERE doc_id % 131 <> 0) d
          GROUP BY shard
        )
        SELECT coalesce(ma.shard, mb.shard) AS shard,
               ma.n_rows AS n_rows_a, mb.n_rows AS n_rows_b,
               ma.content_sig AS sig_a, mb.content_sig AS sig_b,
               CASE WHEN ma.content_sig IS NULL THEN 'only_b'
                    WHEN mb.content_sig IS NULL THEN 'only_a'
                    WHEN ma.content_sig = mb.content_sig
                         AND ma.n_rows = mb.n_rows THEN 'equal'
                    ELSE 'changed' END AS status
        FROM ma FULL OUTER JOIN mb ON ma.shard = mb.shard
    """

    # Incremental-manifest twin (r14): the rebuilt manifest of the NEW
    # snapshot fills BOTH column pairs — Spark's incremental path must
    # land on exactly these values or the hash flags it (the in-gate
    # pair comparison shows WHERE).
    sql["manifest_incremental_update"] = """
        WITH nw AS (
          SELECT doc_id,
                 CASE WHEN doc_id % 11 = 0 THEN text || ' v2'
                      ELSE text END AS text,
                 lang, source
          FROM documents WHERE doc_id % 5 <> 0
        ), m AS (
          SELECT CAST('0x' || substr(md5('shard' ||
                   CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 32
                 AS shard,
                 CAST(count(*) AS BIGINT) AS n_rows,
                 CAST(bit_xor(CAST('0x' || substr(md5('sig' || concat_ws(chr(31),
                   chr(2) || 'V' || CAST(doc_id AS VARCHAR),
                   CASE WHEN text IS NULL THEN chr(2) || 'N'
                        ELSE chr(2) || 'V' || text END,
                   CASE WHEN lang IS NULL THEN chr(2) || 'N'
                        ELSE chr(2) || 'V' || lang END,
                   CASE WHEN source IS NULL THEN chr(2) || 'N'
                        ELSE chr(2) || 'V' || source END)), 1, 15)
               AS BIGINT)) AS BIGINT) AS content_sig
          FROM nw GROUP BY shard
        )
        SELECT shard, n_rows, content_sig,
               n_rows AS n_rows_rebuilt, content_sig AS sig_rebuilt
        FROM m
    """

    # Histogram-drift twin (r14): per-lang even/odd length histograms
    # and the exact-integer TVD numerator in HUGEINT (the twin's
    # equivalent of Spark's decimal(38,0) — int64 cross products
    # overflow at real corpus counts).
    sql["hist_drift_langs"] = """
        WITH d AS (
          SELECT lang, doc_id % 2 AS par,
                 CASE WHEN n_chars < 0.0 THEN CAST(-1 AS BIGINT)
                      WHEN n_chars >= 600.0 THEN CAST(40 AS BIGINT)
                      ELSE least(CAST(floor((n_chars - 0.0) /
                                 (600.0 - 0.0) * 40) AS BIGINT),
                                 CAST(39 AS BIGINT)) END AS bin
          FROM documents WHERE n_chars IS NOT NULL
        ), h AS (
          SELECT lang, bin,
                 CAST(sum(CASE WHEN par = 0 THEN 1 ELSE 0 END)
                      AS BIGINT) AS na,
                 CAST(sum(CASE WHEN par = 1 THEN 1 ELSE 0 END)
                      AS BIGINT) AS nb
          FROM d GROUP BY lang, bin
        ), t AS (
          SELECT lang, bin, na, nb,
                 CAST(sum(na) OVER (PARTITION BY lang) AS BIGINT) AS ta,
                 CAST(sum(nb) OVER (PARTITION BY lang) AS BIGINT) AS tb
          FROM h
        )
        SELECT lang,
               CAST(max(ta) AS BIGINT) AS n_a,
               CAST(max(tb) AS BIGINT) AS n_b,
               prnd(CASE WHEN max(ta) = 0 OR max(tb) = 0 THEN 1.0
                    ELSE CAST(sum(abs(CAST(na AS HUGEINT) * tb
                                 - CAST(nb AS HUGEINT) * ta)) AS DOUBLE)
                    / (2.0 * max(ta) * max(tb)) END, 6) AS tvd
        FROM t GROUP BY lang
    """

    # Mojibake twin (r14): replace chain + literal-alternation count
    # generated FROM the operator's MOJIBAKE_MAP (single source of
    # truth — the SQL below embeds the identical unicode literals the
    # Spark expressions use, so a map edit regenerates both sides).
    from datamancer_spark.operators.scrub import (
        MOJIBAKE_MAP,
        MOJIBAKE_PATTERN,
    )

    _rep = "txt"
    for _b, _f in MOJIBAKE_MAP:
        _rep = "replace({}, '{}', '{}')".format(
            _rep, _b.replace("'", "''"), _f.replace("'", "''")
        )
    _snip = _mojibake_snippet().replace("'", "''")
    _pat = MOJIBAKE_PATTERN.replace("'", "''")
    sql["mojibake_screen"] = f"""
        WITH d AS (
          SELECT lang,
                 CASE WHEN doc_id % 9 = 0 THEN text || '{_snip}'
                      ELSE text END AS txt
          FROM documents
        ), h AS (
          SELECT lang,
                 len(regexp_extract_all(coalesce(txt, ''),
                                        '{_pat}')) AS _h,
                 len(regexp_extract_all(coalesce({_rep}, ''),
                                        '{_pat}')) AS _r,
                 CAST('0x' || substr(md5(coalesce({_rep}, '')), 1, 15)
                      AS BIGINT) AS _s
          FROM d
        )
        SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(CASE WHEN _h > 0 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_flagged,
               CAST(sum(_h) AS BIGINT) AS total_hits,
               CAST(sum(_r) AS BIGINT) AS n_residual,
               CAST(bit_xor(_s) AS BIGINT) AS fixed_sig
        FROM h GROUP BY lang
    """

    # Corpus integrity twins (r14): the manifest twin rebuilds every
    # shard assignment and BIT_XOR content signature from the portable
    # md5 convention; the snapshot twin recomputes both snapshots and
    # the full-outer classification. chr(31)/chr(2) mirror the
    # row_signature separator/NULL-tag bytes exactly.
    sql["corpus_manifest_shards"] = """
        WITH r AS (
          SELECT CAST('0x' || substr(md5('shard' ||
                   CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 32
                 AS shard,
                 doc_id,
                 CAST('0x' || substr(md5('sig' || concat_ws(chr(31),
                   chr(2) || 'V' || CAST(doc_id AS VARCHAR),
                   CASE WHEN text IS NULL THEN chr(2) || 'N'
                        ELSE chr(2) || 'V' || text END,
                   CASE WHEN lang IS NULL THEN chr(2) || 'N'
                        ELSE chr(2) || 'V' || lang END,
                   CASE WHEN source IS NULL THEN chr(2) || 'N'
                        ELSE chr(2) || 'V' || source END)), 1, 15)
                 AS BIGINT) AS sig
          FROM documents
        )
        SELECT shard,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(count(DISTINCT doc_id) AS BIGINT) AS n_keys,
               CAST(bit_xor(sig) AS BIGINT) AS content_sig,
               CAST(min(doc_id) AS BIGINT) AS min_key,
               CAST(max(doc_id) AS BIGINT) AS max_key
        FROM r GROUP BY shard
    """
    sql["snapshot_diff_docs"] = """
        WITH o AS (
          SELECT doc_id, lang,
                 CAST('0x' || substr(md5('snap' || concat_ws(chr(31),
                   CASE WHEN text IS NULL THEN chr(2) || 'N'
                        ELSE chr(2) || 'V' || text END,
                   CASE WHEN lang IS NULL THEN chr(2) || 'N'
                        ELSE chr(2) || 'V' || lang END,
                   CASE WHEN source IS NULL THEN chr(2) || 'N'
                        ELSE chr(2) || 'V' || source END)), 1, 15)
                 AS BIGINT) AS sig
          FROM documents WHERE doc_id % 7 <> 0
        ), n AS (
          SELECT doc_id, lang,
                 CAST('0x' || substr(md5('snap' || concat_ws(chr(31),
                   CASE WHEN text IS NULL THEN chr(2) || 'N'
                        ELSE chr(2) || 'V' ||
                          CASE WHEN doc_id % 11 = 0 THEN text || ' v2'
                               ELSE text END END,
                   CASE WHEN lang IS NULL THEN chr(2) || 'N'
                        ELSE chr(2) || 'V' || lang END,
                   CASE WHEN source IS NULL THEN chr(2) || 'N'
                        ELSE chr(2) || 'V' || source END)), 1, 15)
                 AS BIGINT) AS sig
          FROM documents WHERE doc_id % 5 <> 0
        ), j AS (
          SELECT coalesce(o.doc_id, n.doc_id) AS k,
                 coalesce(n.lang, o.lang) AS lang,
                 CASE WHEN o.sig IS NULL THEN 'added'
                      WHEN n.sig IS NULL THEN 'removed'
                      WHEN o.sig = n.sig THEN 'unchanged'
                      ELSE 'changed' END AS status
          FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id
        )
        SELECT status, lang, CAST(count(*) AS BIGINT) AS n,
               CAST(bit_xor(CAST('0x' || substr(md5(
                 CAST(k AS VARCHAR)), 1, 15) AS BIGINT)) AS BIGINT)
               AS key_sig
        FROM j GROUP BY status, lang
    """

    # Streaming replay twins (r13): the replayed complete-mode state
    # must equal the BATCH aggregate over the same table — the twin IS
    # the batch form. Cents via the portable floor form; the dedup twin
    # is byte-identical to dedup_exact's (same fingerprint expression
    # through a different execution engine).
    # TPC-H widening twins (r13): q8's share is a ratio of exact cent
    # sums; q17's threshold is the exact-integer form (5*cnt*qty < qsum)
    # in BOTH engines, so no avg association-order boundary exists.
    sql["q8_market_share"] = """
        WITH vol AS (
          SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
                 CAST(floor(l_extendedprice * (1 - l_discount) * 100
                            + 0.5) AS BIGINT) AS c,
                 n2.n_name AS supp_nation
          FROM lineitem
          JOIN part ON l_partkey = p_partkey AND p_type = 'ECONOMY'
          JOIN orders ON l_orderkey = o_orderkey
          JOIN customer ON o_custkey = c_custkey
          JOIN nation n1 ON c_nationkey = n1.n_nationkey
          JOIN region ON n1.n_regionkey = r_regionkey
            AND r_name = 'ASIA'
          JOIN supplier ON l_suppkey = s_suppkey
          JOIN nation n2 ON s_nationkey = n2.n_nationkey
          WHERE o_orderdate >= TIMESTAMP '1995-01-01'
            AND o_orderdate < TIMESTAMP '1999-01-01'
        )
        SELECT o_year,
               prnd(sum(CASE WHEN supp_nation = 'NATION_3' THEN c
                             ELSE 0 END) * 1.0 / sum(c), 4) AS mkt_share,
               CAST(sum(c) AS BIGINT) AS volume_cents
        FROM vol GROUP BY o_year
    """
    sql["q17_small_qty_revenue"] = """
        WITH th AS (
          SELECT l_partkey,
                 CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qsum,
                 CAST(count(*) AS BIGINT) AS qcnt
          FROM lineitem GROUP BY 1
        )
        SELECT prnd(sum(CAST(floor(l.l_extendedprice * 100 + 0.5)
                             AS BIGINT)) / 700.0, 2) AS avg_yearly,
               CAST(count(*) AS BIGINT) AS n_lines
        FROM lineitem l
        JOIN part ON l.l_partkey = p_partkey
          AND p_brand = 'Brand#23' AND p_size < 15
        JOIN th ON th.l_partkey = l.l_partkey
        WHERE 5 * th.qcnt * CAST(l.l_quantity AS BIGINT) < th.qsum
    """
    sql["streaming_hourly_replay"] = """
        SELECT date_trunc('hour', ts) AS bucket, event_type,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT))
                    AS BIGINT) AS value_cents
        FROM events GROUP BY 1, 2
    """
    sql["streaming_dedup_replay"] = """
        SELECT md5(regexp_replace(lower(trim(coalesce(text, ''))), '\\s+', ' ', 'g')) AS fp,
               CAST(min(doc_id) AS BIGINT) AS keep_id,
               CAST(count(*) AS BIGINT) AS n_dups
        FROM documents GROUP BY 1
    """
    # sliding-window replay twin (r14): window membership rebuilt with
    # exact integer microsecond arithmetic — each event joins the 4
    # overlapping (1h, 15min-slide) windows whose start satisfies
    # start <= ts < start + 1h on the slide grid.
    sql["streaming_sliding_replay"] = """
        WITH e AS (
          SELECT event_type,
                 CAST(floor(value * 100 + 0.5) AS BIGINT) AS c,
                 epoch_us(ts) AS us
          FROM events
        ), w AS (
          SELECT event_type, c,
                 make_timestamp((us // 900000000 - k.k) * 900000000)
                   AS bucket
          FROM e CROSS JOIN (SELECT unnest(range(4)) AS k) k
          WHERE us < (us // 900000000 - k.k) * 900000000 + 3600000000
            AND us >= (us // 900000000 - k.k) * 900000000
        )
        SELECT bucket, event_type, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(c) AS BIGINT) AS value_cents
        FROM w GROUP BY bucket, event_type
    """

    # session-window replay twin (r14): gap-island sessionization via
    # lag() — start = first event, end = last event + gap, split when
    # the inter-event gap >= 30 min (session_window's half-open merge
    # rule). Pins Spark's stateful session-merge semantics exactly.
    sql["streaming_session_replay"] = """
        WITH e AS (
          SELECT user_id, ts, event_id,
                 CAST(floor(value * 100 + 0.5) AS BIGINT) AS c,
                 CASE WHEN lag(ts) OVER w IS NULL
                        OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                      THEN 1 ELSE 0 END AS brk
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ), s AS (
          SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts,
                                   event_id ROWS UNBOUNDED PRECEDING)
                    AS sid
          FROM e
        )
        SELECT min(ts) AS session_start,
               max(ts) + INTERVAL 30 MINUTE AS session_end,
               user_id,
               CAST(count(*) AS BIGINT) AS n_events,
               CAST(sum(c) AS BIGINT) AS value_cents
        FROM s GROUP BY user_id, sid
    """

    return {k: _expand_prnd(v) for k, v in sql.items()}

"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` exposes one entry per implemented operator from SURVEY.md §2
(the reference's pipeline surface §2.1-2.3, its emitted-KQL surface §2.5,
and the BASELINE.json LLM-pipeline extensions); ``oracle_sql()`` holds the
DuckDB-dialect equivalent for every SQL-expressible query. Column names are
aliased identically on both sides; aggregates over doubles go through
DECIMAL(20,4) so both engines produce bit-identical doubles regardless of
summation order.

Non-SQL-expressible entries (approximate LSH search, banded SimHash) omit
the oracle → the driver records rows-only checks for those.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window

from kusto_pre_forge_spark.catalog import PartitionPolicy
from kusto_pre_forge_spark.functions.hashing import (
    duckdb_hash_sql,
    kusto_preforge_hash,
)
from kusto_pre_forge_spark.operators import dedup, kql, similarity, textstats
from kusto_pre_forge_spark.plans.prepartition import PID_COL, partition_samples, prepartition
from kusto_pre_forge_spark.plans.split import keyed_shard_assign
from kusto_pre_forge_spark.tables import load_table


def _dec(c, scale=4):
    """double → decimal for order-insensitive exact aggregation."""
    return c.cast(f"decimal(20,{scale})")


def _sumd(c, alias):
    """sum over decimal, surfaced as double (bit-identical across engines)."""
    return F.sum(_dec(c)).cast("double").alias(alias)


_DEC_SQL = "CAST({x} AS DECIMAL(20,4))"


def _sumd_sql(x, alias):
    return f"CAST(sum(CAST({x} AS DECIMAL(20,4))) AS DOUBLE) AS {alias}"


# --------------------------------------------------------------------------
# flagship
# --------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: TPC-H-Q1-shaped pricing summary on sf0.001 (smoke)."""
    return _q_summarize_q1(spark, "/root/testdata/sf0.001")


# --------------------------------------------------------------------------
# KQL operator surface (SURVEY §2.5)
# --------------------------------------------------------------------------


def _q_project_where(spark, sf):
    """project + where + computed column (EtlRun.cs:153-159, TestBase.cs:313-316)."""
    li = load_table(spark, sf, "lineitem")
    return kql.project(
        kql.where(li, F.col("l_shipdate") >= F.lit("1999-06-01").cast("timestamp")),
        l_orderkey="l_orderkey",
        l_linenumber="l_linenumber",
        revenue=F.col("l_extendedprice") * (1 - F.col("l_discount")),
    )


def _q_summarize_q1(spark, sf):
    """summarize ... by (TestBase.cs:311,328) at TPC-H-Q1 shape."""
    li = load_table(spark, sf, "lineitem")
    return kql.summarize(
        kql.where(li, F.col("l_shipdate") <= F.lit("2001-09-02").cast("timestamp")),
        by=["l_returnflag", "l_linestatus"],
        aggs={
            "sum_qty": F.sum(_dec(F.col("l_quantity"))).cast("double"),
            "sum_base_price": F.sum(_dec(F.col("l_extendedprice"))).cast("double"),
            "sum_disc_price": F.sum(
                _dec(F.col("l_extendedprice") * (1 - F.col("l_discount")))
            ).cast("double"),
            "avg_qty": (
                F.sum(_dec(F.col("l_quantity"))).cast("double") / F.count(F.lit(1))
            ),
            "count_order": F.count(F.lit(1)),
        },
    )


def _q_distinct(spark, sf):
    """summarize by k ≡ distinct (NoHeaderNoCompressionTest.cs:25-26)."""
    return kql.distinct_of(load_table(spark, sf, "orders"), "o_orderpriority")


def _q_count(spark, sf):
    """count (NoHeaderNoCompressionTest.cs:26-34)."""
    return kql.count_rows(load_table(spark, sf, "events"), alias="Count")


def _q_take_any(spark, sf):
    """take_any per group (TestBase.cs:311,328) — pinned to min for determinism."""
    c = load_table(spark, sf, "customer")
    n = load_table(spark, sf, "nation")
    joined = c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
    return kql.summarize(joined, by=["n_name"], aggs={"any_customer": kql.take_any("c_name")})


def _q_mv_expand(spark, sf):
    """mv-expand (EtlRun.cs:154) — explode tokens, count per token."""
    d = load_table(spark, sf, "documents")
    toks = kql.mv_expand(
        d.select("doc_id", F.split("text", " ").alias("tok")), "tok"
    )
    return kql.summarize(toks, by=["tok"], aggs={"n": F.count(F.lit(1))})


def _q_dynamic_json(spark, sf):
    """todynamic + path access + casts (EtlRun.cs:153,157-159)."""
    e = load_table(spark, sf, "events")
    k = kql.toint(kql.json_path("props", "k"))
    return kql.summarize(
        kql.extend(e, k=k),
        by=["event_type"],
        aggs={
            "n": F.count(F.lit(1)),
            "sum_k": F.sum("k").cast("bigint"),
            "min_k": F.min("k"),
            "max_k": F.max("k"),
        },
    )


def _q_has_term(spark, sf):
    """`has` term match (TestBase.cs:313,330) — token-boundary, case-insensitive."""
    d = load_table(spark, sf, "documents")
    return kql.summarize(
        kql.where(d, kql.has_term("text", "spark")),
        by=["source"],
        aggs={"n": F.count(F.lit(1))},
    )


def _q_split_index(spark, sf):
    """split(s, sep)[i] (TestBase.cs:316,331)."""
    c = load_table(spark, sf, "customer")
    return c.select(
        "c_custkey", kql.split_ix("c_name", "#", 1).alias("name_suffix")
    )


def _q_case_bin(spark, sf):
    """case() (schema.kql:18) + bin/date_trunc time bucketing."""
    o = load_table(spark, sf, "orders")
    price_class = kql.case_(
        (F.col("o_totalprice") < 50000, F.lit("small")),
        (F.col("o_totalprice") < 150000, F.lit("medium")),
        F.lit("large"),
    )
    return kql.summarize(
        kql.extend(o, price_class=price_class, month=kql.bin(F.col("o_orderdate"), "month")),
        by=["price_class", "month"],
        aggs={"n": F.count(F.lit(1)), "sum_price": _sumd(F.col("o_totalprice"), "sum_price")},
    )


def _q_strcat_list(spark, sf):
    """make_list + strcat_array (schema.kql:8,14,16) — sorted for determinism."""
    c = load_table(spark, sf, "customer")
    n = load_table(spark, sf, "nation")
    joined = c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
    return kql.summarize(
        joined,
        by=["n_name"],
        aggs={"customers": kql.strcat_array(kql.make_list("c_name"), ",")},
    )


def _q_range_gen(spark, sf):
    """range row generator (schema.kql:6,9) + arithmetic fold."""
    r = kql.kql_range(spark, "x", 1, 1000)
    return r.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sum_sq"),
    )


def _q_top(spark, sf):
    """sort/top-k (SURVEY §2.5 capability row) — TakeOrderedAndProject plan."""
    o = load_table(spark, sf, "orders")
    return kql.top(
        o.select("o_orderkey", "o_totalprice"),
        10,
        [F.col("o_totalprice").desc(), F.col("o_orderkey").asc()],
    )


# --------------------------------------------------------------------------
# PrePartition / Split / ingest pipeline surface (SURVEY §2.1-2.3)
# --------------------------------------------------------------------------


def _q_prepartition_events(spark, sf):
    """partition hash + scatter + per-partition sample
    (PartitioningHelper.cs:15-24, CsvParseTransform.cs:93-98)."""
    e = load_table(spark, sf, "events")
    policy = PartitionPolicy("event_type", 8, 42)
    return partition_samples(prepartition(e, policy), policy).withColumnRenamed(
        PID_COL, "pid"
    )


def _q_prepartition_customer(spark, sf):
    """same hash on another table/N/seed (EtlRun.cs:149-164 config-driven)."""
    c = load_table(spark, sf, "customer")
    policy = PartitionPolicy("c_mktsegment", 16, 7)
    return partition_samples(prepartition(c, policy), policy).withColumnRenamed(
        PID_COL, "pid"
    )


def _csv_line_cols():
    return [
        "l_orderkey",
        "l_partkey",
        "l_suppkey",
        "l_linenumber",
        "l_quantity",
        "l_returnflag",
        "l_linestatus",
    ]


def _q_shard_assign(spark, sf):
    """size-capped shard assignment (TextStreamSinkBase.cs:55-63,
    TextPartitionSink.cs:53): cumulative bytes over in-order records.

    Uses the distributed two-phase prefix sum (plans/split.keyed_shard_assign)
    keyed on orderkey ranges — bucket boundaries respect the global
    (l_orderkey, l_linenumber) order, so the result is identical to one
    global cumulative-sum window WITHOUT moving the table to a single
    reducer (the oracle SQL below replays the global window form)."""
    li = load_table(spark, sf, "lineitem")
    cols = _csv_line_cols()
    line = F.concat_ws(",", *[F.col(c).cast("string") for c in cols])
    cap = 256 * 1024
    rec = F.octet_length(line) + F.lit(1)
    df = li.select("l_orderkey", "l_linenumber", rec.alias("rec_bytes"))
    assigned = keyed_shard_assign(
        df,
        order_cols=["l_orderkey", "l_linenumber"],
        bucket=F.floor(F.col("l_orderkey") / F.lit(4096)),
        rec_bytes=F.col("rec_bytes"),
        max_bytes_per_shard=cap,
    )
    return assigned.groupBy("shard_id").agg(
        F.count(F.lit(1)).alias("n_records"),
        F.sum("rec_bytes").cast("bigint").alias("n_bytes"),
    )


def _q_ingest_replay_dedup(spark, sf):
    """idempotent re-delivery semantics (TextKustoSink.cs:50-51): a doubled
    source deduped on the ingest key collapses to one copy."""
    li = load_table(spark, sf, "lineitem").select("l_orderkey", "l_linenumber", "l_quantity")
    doubled = li.unionAll(li)
    return doubled.dropDuplicates(["l_orderkey", "l_linenumber"]).agg(
        F.count(F.lit(1)).alias("n_unique"),
        _sumd(F.col("l_quantity"), "sum_qty"),
    )


# --------------------------------------------------------------------------
# relational capability rows (SURVEY §2.5 "not present in reference" —
# joins, windows, set ops, rollup: free with Spark, verified here)
# --------------------------------------------------------------------------


def _q_join_anti(spark, sf):
    c = load_table(spark, sf, "customer")
    o = load_table(spark, sf, "orders")
    no_orders = c.join(o, c.c_custkey == o.o_custkey, "left_anti")
    return no_orders.groupBy("c_mktsegment").agg(F.count(F.lit(1)).alias("n"))


def _q_join_semi(spark, sf):
    s = load_table(spark, sf, "supplier")
    li = load_table(spark, sf, "lineitem")
    recent = li.filter(F.col("l_shipdate") >= F.lit("2001-06-01").cast("timestamp"))
    return s.join(recent, s.s_suppkey == recent.l_suppkey, "left_semi").select(
        "s_suppkey", "s_name"
    )


def _q3_revenue_topk(spark, sf):
    """TPC-H Q3 shape: 3-way join, filtered revenue, top-k."""
    c = load_table(spark, sf, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = load_table(spark, sf, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")
    )
    li = load_table(spark, sf, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-01-01").cast("timestamp")
    )
    rev = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("o_orderkey", "o_orderdate")
        .agg(
            F.sum(_dec(F.col("l_extendedprice") * (1 - F.col("l_discount"))))
            .cast("double")
            .alias("revenue")
        )
    )
    return kql.top(rev, 10, [F.col("revenue").desc(), F.col("o_orderkey").asc()])


def _q5_nation_revenue(spark, sf):
    """TPC-H Q5 shape: 6-way join with broadcast dims, revenue per nation."""
    r = load_table(spark, sf, "region").filter(F.col("r_name") == "ASIA")
    n = load_table(spark, sf, "nation")
    c = load_table(spark, sf, "customer")
    s = load_table(spark, sf, "supplier")
    o = load_table(spark, sf, "orders")
    li = load_table(spark, sf, "lineitem")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(c, o.o_custkey == c.c_custkey)
        .filter(F.col("c_nationkey") == F.col("s_nationkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(
            F.sum(_dec(F.col("l_extendedprice") * (1 - F.col("l_discount"))))
            .cast("double")
            .alias("revenue")
        )
    )


def _q7_volume_shipping(spark, sf):
    """TPC-H Q7 shape: bilateral shipping volume between two nations per
    ship-year — fact⋈fact on the order key with both nation dims
    broadcast through customer/supplier."""
    n1, n2 = "NATION_1", "NATION_2"
    n = load_table(spark, sf, "nation")
    c = load_table(spark, sf, "customer").join(
        F.broadcast(n.select(F.col("n_nationkey").alias("cnk"), F.col("n_name").alias("cust_nation"))),
        F.col("c_nationkey") == F.col("cnk"),
    )
    s = load_table(spark, sf, "supplier").join(
        F.broadcast(n.select(F.col("n_nationkey").alias("snk"), F.col("n_name").alias("supp_nation"))),
        F.col("s_nationkey") == F.col("snk"),
    )
    o = load_table(spark, sf, "orders")
    li = load_table(spark, sf, "lineitem")
    j = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), li.l_suppkey == F.col("s_suppkey"))
        .join(c, o.o_custkey == F.col("c_custkey"))
        .filter(
            ((F.col("supp_nation") == n1) & (F.col("cust_nation") == n2))
            | ((F.col("supp_nation") == n2) & (F.col("cust_nation") == n1))
        )
    )
    return j.groupBy(
        "supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year")
    ).agg(
        F.sum(_dec(F.col("l_extendedprice") * (1 - F.col("l_discount"))))
        .cast("double")
        .alias("revenue")
    )


def _q10_returned_items(spark, sf):
    """TPC-H Q10 shape: top-20 customers by returned-item revenue —
    returnflag filter pushed to the lineitem scan, nation broadcast,
    TakeOrderedAndProject top-k."""
    li = load_table(spark, sf, "lineitem").filter(F.col("l_returnflag") == "R")
    o = load_table(spark, sf, "orders")
    c = load_table(spark, sf, "customer")
    n = load_table(spark, sf, "nation")
    j = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
    )
    agg = j.groupBy("c_custkey", "c_name", "n_name").agg(
        F.sum(_dec(F.col("l_extendedprice") * (1 - F.col("l_discount"))))
        .cast("double")
        .alias("revenue")
    )
    return agg.orderBy(F.col("revenue").desc(), F.col("c_custkey").asc()).limit(20)


def _q4_order_priority(spark, sf):
    """TPC-H Q4 shape (adapted: the synthetic lineitem has no
    commit/receipt dates, so "late" = shipped after the order date):
    order-priority checking via a left-semi join — the EXISTS subquery
    becomes a semi join that never widens the orders side."""
    o = load_table(spark, sf, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = load_table(spark, sf, "lineitem")
    late = o.join(
        li,
        (o.o_orderkey == li.l_orderkey) & (li.l_shipdate > o.o_orderdate),
        "left_semi",
    )
    return (
        late.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .select("o_orderpriority", F.col("order_count").cast("long").alias("order_count"))
    )


def _q6_forecast_revenue(spark, sf):
    """TPC-H Q6: single-scan filtered aggregate — every predicate pushes
    into the parquet scan; the sum is one map-side-combined decimal agg."""
    li = load_table(spark, sf, "lineitem")
    out = li.filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_discount") >= 0.02)
        & (F.col("l_discount") <= 0.06)
        & (F.col("l_quantity") < 24)
    ).agg(
        F.sum(_dec(F.col("l_extendedprice") * F.col("l_discount")))
        .cast("double")
        .alias("revenue")
    )
    return out


def _q8_market_share(spark, sf):
    """TPC-H Q8 shape: NATION_1's share of ECONOMY-part volume sold into
    ASIA-region customers per order year — all dims broadcast, one
    conditional/total aggregate pair, share rounded for the oracle."""
    p = load_table(spark, sf, "part").filter(F.col("p_type") == "ECONOMY")
    li = load_table(spark, sf, "lineitem")
    o = load_table(spark, sf, "orders")
    c = load_table(spark, sf, "customer")
    s = load_table(spark, sf, "supplier")
    n = load_table(spark, sf, "nation")
    r = load_table(spark, sf, "region").filter(F.col("r_name") == "ASIA")
    cn = n.select(F.col("n_nationkey").alias("cnk"), F.col("n_regionkey").alias("crk"))
    sn = n.select(F.col("n_nationkey").alias("snk"), F.col("n_name").alias("supp_nation"))
    vol = _dec(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    j = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("cnk"))
        .join(F.broadcast(r), F.col("crk") == r.r_regionkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("snk"))
    )
    return (
        j.groupBy(F.year("o_orderdate").cast("int").alias("o_year"))
        .agg(
            (
                F.sum(F.when(F.col("supp_nation") == "NATION_1", vol).otherwise(F.lit(0).cast("decimal(20,4)")))
                / F.sum(vol)
            ).cast("double").alias("share")
        )
        .select("o_year", F.round("share", 6).alias("mkt_share"))
    )


def _q9_product_profit(spark, sf):
    """TPC-H Q9 shape (adapted: no partsupp table in the synthetic set,
    so supply cost proxies as half the part's retail price): profit by
    supplier nation and order year over the STANDARD part class."""
    p = load_table(spark, sf, "part").filter(F.col("p_type") == "STANDARD")
    li = load_table(spark, sf, "lineitem")
    o = load_table(spark, sf, "orders").select("o_orderkey", "o_orderdate")
    s = load_table(spark, sf, "supplier")
    n = load_table(spark, sf, "nation")
    amount = _dec(
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - F.lit(0.5) * F.col("p_retailprice") * F.col("l_quantity")
    )
    j = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), F.col("s_nationkey") == n.n_nationkey)
    )
    return (
        j.groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("int").alias("o_year"),
        )
        .agg(F.sum(amount).cast("double").alias("sum_profit"))
    )


def _q13_order_count_dist(spark, sf):
    """TPC-H Q13: customer order-count distribution — left join keeps
    zero-order customers, two map-side-combined aggregates, no windows."""
    c = load_table(spark, sf, "customer").select("c_custkey")
    o = load_table(spark, sf, "orders").select("o_custkey", "o_orderkey")
    per = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .select(
            F.col("c_count").cast("long").alias("c_count"),
            F.col("custdist").cast("long").alias("custdist"),
        )
    )


def _q14_promo_revenue(spark, sf):
    """TPC-H Q14: promo revenue percentage for one ship month — part dim
    broadcast, one conditional/total decimal aggregate pair."""
    li = load_table(spark, sf, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-03-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    p = load_table(spark, sf, "part")
    vol = _dec(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    j = li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
    out = j.agg(
        (
            F.lit(100.0)
            * F.sum(F.when(F.col("p_type") == "PROMO", vol).otherwise(F.lit(0).cast("decimal(20,4)")))
            / F.sum(vol)
        ).cast("double").alias("pct")
    )
    return out.select(F.round("pct", 6).alias("promo_revenue_pct"))


def _q15_top_supplier(spark, sf):
    """TPC-H Q15: top supplier(s) by quarterly revenue — the scalar
    max-subquery becomes a 1-row broadcast joined back (exact decimal
    sums make the equality engine-stable)."""
    li = load_table(spark, sf, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    s = load_table(spark, sf, "supplier")
    rev = li.groupBy("l_suppkey").agg(
        F.sum(_dec(F.col("l_extendedprice") * (1 - F.col("l_discount"))))
        .cast("double")
        .alias("total_revenue")
    )
    mx = rev.agg(F.max("total_revenue").alias("_mx"))
    return (
        rev.crossJoin(F.broadcast(mx))
        .filter(F.col("total_revenue") == F.col("_mx"))
        .join(F.broadcast(s), F.col("l_suppkey") == s.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
    )


def _q17_small_quantity_revenue(spark, sf):
    """TPC-H Q17: revenue loss if small-quantity orders were dropped —
    the correlated avg-quantity subquery becomes a per-part aggregate
    joined back on the part key (never re-correlated per row)."""
    li = load_table(spark, sf, "lineitem")
    p = load_table(spark, sf, "part").filter(F.col("p_brand") == "Brand#11")
    avg_qty = li.groupBy(F.col("l_partkey").alias("_pk")).agg(
        F.avg("l_quantity").alias("_avg_qty")
    )
    j = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(avg_qty, li.l_partkey == F.col("_pk"))
        .filter(F.col("l_quantity") < F.lit(0.2) * F.col("_avg_qty"))
    )
    return j.agg(
        (F.sum(_dec(F.col("l_extendedprice"))) / F.lit(7.0))
        .cast("double")
        .alias("avg_yearly")
    ).select(F.round("avg_yearly", 4).alias("avg_yearly"))


def _q18_large_orders(spark, sf):
    """TPC-H Q18: large-volume orders — the HAVING sum(quantity) > 300
    aggregate feeds a semi-shaped join back to orders/customer; top-k is
    TakeOrderedAndProject."""
    li = load_table(spark, sf, "lineitem")
    o = load_table(spark, sf, "orders")
    c = load_table(spark, sf, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(_dec(F.col("l_quantity"), 2)).cast("double").alias("total_qty"))
        .filter(F.col("total_qty") > 300)
    )
    j = (
        big.join(o, big.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice", "total_qty")
    )
    return j.orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    ).limit(20)


def _q19_discounted_revenue(spark, sf):
    """TPC-H Q19 shape: OR-of-ANDs predicate over (brand, size, quantity)
    bands — one broadcast part join, predicate fused below the single
    decimal aggregate."""
    li = load_table(spark, sf, "lineitem")
    p = load_table(spark, sf, "part")
    j = li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
    pred = (
        (
            (F.col("p_brand") == "Brand#11")
            & F.col("p_size").between(1, 5)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 10)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#13")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(20, 30)
        )
    )
    return j.filter(pred).agg(
        F.sum(_dec(F.col("l_extendedprice") * (1 - F.col("l_discount"))))
        .cast("double")
        .alias("revenue")
    )


def _supply_pairs(spark, sf):
    """Synthetic-schema partsupp surrogate (no partsupp table in the
    test set): the (part, supplier) pairs that actually shipped, with
    supplycost proxied as the minimum observed unit price rounded to 4
    decimals (decimal-exact, so both engines agree bit-for-bit)."""
    li = load_table(spark, sf, "lineitem")
    return li.groupBy(
        F.col("l_partkey").alias("ps_partkey"),
        F.col("l_suppkey").alias("ps_suppkey"),
    ).agg(
        F.min(
            F.round(F.col("l_extendedprice") / F.col("l_quantity"), 4)
        ).alias("ps_supplycost"),
        F.sum(_dec(F.col("l_quantity"), 2)).cast("double").alias("ps_availqty"),
    )


def _q2_min_cost_supplier(spark, sf):
    """TPC-H Q2 shape (adapted: partsupp derived from shipped pairs, see
    :func:`_supply_pairs`): for each STANDARD part of size ≤ 15, the
    region-0 supplier(s) achieving the MINIMUM supply cost — the
    correlated scalar-min subquery decorrelated into a per-part
    aggregate joined back on (part, cost). Dim stack (region → nation →
    supplier) broadcasts; only the pairs aggregate shuffles."""
    ps = _supply_pairs(spark, sf)
    p = load_table(spark, sf, "part").filter(
        (F.col("p_size") <= 15) & (F.col("p_type") == "STANDARD")
    )
    n = load_table(spark, sf, "nation").filter(F.col("n_regionkey") == 0)
    s = load_table(spark, sf, "supplier")
    rs = s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey).select(
        "s_suppkey", "s_name", "s_acctbal", "n_name"
    )
    scoped = ps.join(F.broadcast(p), ps.ps_partkey == p.p_partkey).join(
        F.broadcast(rs), ps.ps_suppkey == rs.s_suppkey
    )
    # per-part min as a window over the SAME key instead of an
    # aggregate self-joined back (r14, guide §2.4): the aggregate form
    # inlined the scoped subtree twice — two pairs-aggregate shuffles
    # and a join — where one hash exchange + min-over-partition keeps
    # every min-cost row identically
    w_part = Window.partitionBy("ps_partkey")
    out = scoped.withColumn(
        "_min_cost", F.min("ps_supplycost").over(w_part)
    ).filter(F.col("ps_supplycost") == F.col("_min_cost"))
    return out.select(
        "s_acctbal", "s_name", "n_name",
        F.col("ps_partkey").cast("long").alias("p_partkey"),
        F.col("s_suppkey").cast("long").alias("s_suppkey"),
        F.round("ps_supplycost", 4).alias("supplycost"),
    ).orderBy(
        F.col("s_acctbal").desc(), "n_name", "s_name", "p_partkey"
    ).limit(100)


def _q11_important_stock(spark, sf):
    """TPC-H Q11 shape (adapted): per-part inventory value for NATION_7's
    suppliers, keeping parts whose value exceeds 0.1% of the nation's
    grand total — the HAVING-over-global-scalar plan: the 1-row total
    broadcasts into the per-part stream (never a second scan of the
    fact side; the valued frame is reused for both aggregates)."""
    li = load_table(spark, sf, "lineitem")
    s = load_table(spark, sf, "supplier").filter(F.col("s_nationkey") == 7)
    valued = li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey).select(
        "l_partkey",
        _dec(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("_v"),
    )
    per_part = valued.groupBy(F.col("l_partkey").alias("ps_partkey")).agg(
        F.sum("_v").alias("_pv")
    )
    total = per_part.agg(F.sum("_pv").alias("_tv"))
    return (
        per_part.crossJoin(F.broadcast(total))
        .filter(F.col("_pv").cast("double") > 0.001 * F.col("_tv").cast("double"))
        .select(
            F.col("ps_partkey").cast("long").alias("ps_partkey"),
            F.col("_pv").cast("double").alias("part_value"),
        )
        .orderBy(F.col("part_value").desc(), F.col("ps_partkey").asc())
    )


def _q12_late_shipment_priority(spark, sf):
    """TPC-H Q12 shape (adapted: no l_shipmode/commitdate — linestatus
    plays shipmode, 'late' = shipped >300 days after the order date):
    per linestatus, how many late lines belong to URGENT/HIGH orders vs
    the rest. One join, one CASE-sum aggregate, no window."""
    li = load_table(spark, sf, "lineitem")
    o = load_table(spark, sf, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    j = li.join(o, li.l_orderkey == o.o_orderkey).filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        & (
            F.col("l_shipdate")
            > F.col("o_orderdate") + F.expr("INTERVAL 300 DAYS")
        )
    )
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        j.groupBy(F.col("l_linestatus").alias("l_linestatus"))
        .agg(
            F.sum(F.when(hi, 1).otherwise(0)).cast("long").alias("high_line_count"),
            F.sum(F.when(hi, 0).otherwise(1)).cast("long").alias("low_line_count"),
        )
        .orderBy("l_linestatus")
    )


def _q16_supplier_counts(spark, sf):
    """TPC-H Q16 shape (adapted: 'complaint' suppliers = negative account
    balance): distinct supplier count per (brand, type, size) over
    shipped pairs, EXCLUDING complaint suppliers via a broadcast
    anti-join — the NOT IN subquery shape, decorrelated."""
    li = load_table(spark, sf, "lineitem")
    pairs = li.select(
        F.col("l_partkey").alias("ps_partkey"),
        F.col("l_suppkey").alias("ps_suppkey"),
    ).distinct()
    p = load_table(spark, sf, "part").filter(
        (F.col("p_brand") != "Brand#11")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 5, 10, 15, 20, 25, 30, 35)
    )
    bad = load_table(spark, sf, "supplier").filter(
        F.col("s_acctbal") < 0
    ).select(F.col("s_suppkey").alias("ps_suppkey"))
    return (
        pairs.join(F.broadcast(bad), "ps_suppkey", "left_anti")
        .join(F.broadcast(p), F.col("ps_partkey") == p.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("ps_suppkey").cast("long").alias("supplier_cnt"))
        .orderBy(
            F.col("supplier_cnt").desc(), "p_brand", "p_type", "p_size"
        )
    )


def _q20_excess_suppliers(spark, sf):
    """TPC-H Q20 shape (adapted): NATION_3 suppliers that recently moved
    'small%' parts hard — the nested IN-chain becomes two aggregates
    over lineitem (1998 shipped qty vs all-time qty per pair) joined,
    thresholded, semi-joined down to suppliers. Part filter broadcasts
    below both aggregates."""
    li = load_table(spark, sf, "lineitem")
    p = load_table(spark, sf, "part").filter(F.col("p_name").like("small%"))
    scoped = li.join(
        F.broadcast(p.select("p_partkey")), li.l_partkey == F.col("p_partkey")
    )
    # ONE conditional aggregate instead of two aggregates over the same
    # scoped subtree joined back (r14, guide §2.3 "aggregate before you
    # shuffle"): the 1998 sum is a when()-guarded sum in the same pass;
    # pairs with no 1998 rows get a NULL _yq, and NULL > 0.4·_aq is
    # false — exactly the rows the former inner join dropped.
    hot = (
        scoped.groupBy("l_partkey", "l_suppkey")
        .agg(
            F.sum(
                F.when(
                    F.year("l_shipdate") == 1998, _dec(F.col("l_quantity"), 2)
                )
            ).cast("double").alias("_yq"),
            F.sum(_dec(F.col("l_quantity"), 2)).cast("double").alias("_aq"),
        )
        .filter(F.col("_yq") > 0.4 * F.col("_aq"))
        .select("l_suppkey")
        .distinct()
    )
    s = load_table(spark, sf, "supplier").filter(F.col("s_nationkey") == 3)
    return (
        s.join(hot, s.s_suppkey == hot.l_suppkey, "left_semi")
        .select(F.col("s_suppkey").cast("long").alias("s_suppkey"), "s_name")
        .orderBy("s_name")
    )


def _q21_suppliers_kept_waiting(spark, sf):
    """TPC-H Q21 shape (adapted 'late' = shipped >500 days after order
    date): suppliers who were the SOLE late supplier on a multi-supplier
    finalized order — the EXISTS (another supplier shipped) + NOT EXISTS
    (another supplier was late) stack, expressed as one left-semi and
    one left-anti join on (orderkey, suppkey≠) conditions."""
    li = load_table(spark, sf, "lineitem")
    o = load_table(spark, sf, "orders").filter(
        F.col("o_orderstatus") == "F"
    ).select("o_orderkey", "o_orderdate")
    base = li.select("l_orderkey", "l_suppkey", "l_shipdate").join(
        o, F.col("l_orderkey") == o.o_orderkey
    )
    late = base.filter(
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 500 DAYS")
    ).select("l_orderkey", "l_suppkey")
    others = li.select(
        F.col("l_orderkey").alias("_ok"), F.col("l_suppkey").alias("_sk")
    )
    late_others = late.select(
        F.col("l_orderkey").alias("_ok"), F.col("l_suppkey").alias("_sk")
    )
    l1 = late.join(
        others,
        (F.col("l_orderkey") == F.col("_ok"))
        & (F.col("l_suppkey") != F.col("_sk")),
        "left_semi",
    ).join(
        late_others,
        (F.col("l_orderkey") == F.col("_ok"))
        & (F.col("l_suppkey") != F.col("_sk")),
        "left_anti",
    )
    s = load_table(spark, sf, "supplier").select("s_suppkey", "s_name")
    return (
        l1.join(F.broadcast(s), l1.l_suppkey == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).cast("long").alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(100)
    )


def _q22_global_sales_opportunity(spark, sf):
    """TPC-H Q22 shape (adapted: country code = last two digits of
    c_name; 'no recent orders' = nothing since 2000-01-01): rich idle
    customers per cohort — a decimal-exact global average broadcasts
    into the filter, the NOT EXISTS is a left-anti join against the
    recent-orders key set."""
    c = load_table(spark, sf, "customer").withColumn(
        "cntrycode", F.expr("substr(c_name, length(c_name)-1, 2)")
    )
    codes = ["10", "11", "12", "13", "14", "15", "16"]
    cohort = c.filter(F.col("cntrycode").isin(codes))
    avg_bal = cohort.filter(F.col("c_acctbal") > 0.0).agg(
        F.round(
            F.sum(_dec(F.col("c_acctbal"))).cast("double")
            / F.count(F.lit(1)),
            4,
        ).alias("_avg")
    )
    recent = (
        load_table(spark, sf, "orders")
        .filter(F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp"))
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    return (
        cohort.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("_avg"))
        .join(recent, "c_custkey", "left_anti")
        .groupBy("cntrycode")
        .agg(
            F.count(F.lit(1)).cast("long").alias("numcust"),
            F.sum(_dec(F.col("c_acctbal"))).cast("double").alias("totacctbal"),
        )
        .orderBy("cntrycode")
    )


def _q_window_topk(spark, sf):
    li = load_table(spark, sf, "lineitem")
    w = Window.partitionBy("l_returnflag").orderBy(
        F.col("l_extendedprice").desc(), F.col("l_orderkey").asc(), F.col("l_linenumber").asc()
    )
    return (
        li.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("l_returnflag", "l_orderkey", "l_linenumber", "l_extendedprice", "rn")
    )


def _q_window_running(spark, sf):
    o = load_table(spark, sf, "orders").filter(F.col("o_custkey") < 50)
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.sum(_dec(F.col("o_totalprice"), 2)).over(w).cast("double").alias("running_total"),
    )


def _q_rollup(spark, sf):
    li = load_table(spark, sf, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            _sumd(F.col("l_quantity"), "sum_qty"),
            F.grouping_id().alias("gid"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("l_returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("l_linestatus"),
            "n",
            "sum_qty",
            "gid",
        )
    )


def _q_pivot_events(spark, sf):
    e = load_table(spark, sf, "events")

    def bucket(t):
        return (
            F.sum(F.when(F.col("event_type") == t, _dec(F.col("value"))))
            .cast("double")
            .alias(f"sum_{t}")
        )

    return e.agg(*[bucket(t) for t in ["click", "view", "purchase", "signup", "error"]])


def _q_distinct_users(spark, sf):
    e = load_table(spark, sf, "events")
    return e.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users"), F.count(F.lit(1)).alias("n_events")
    )


def _q_sessionize(spark, sf):
    """gap-based sessionization (guide 'Common OLAP patterns')."""
    e = load_table(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag(F.col("ts")).over(w)
    new_session = F.when(
        prev.isNull() | ((F.col("ts").cast("long") - prev.cast("long")) > 3600), 1
    ).otherwise(0)
    return (
        e.withColumn("ns", new_session)
        .groupBy("user_id")
        .agg(F.sum("ns").cast("bigint").alias("n_sessions"))
    )


# --------------------------------------------------------------------------
# LLM-pipeline extensions (BASELINE.json north star)
# --------------------------------------------------------------------------


def _q_dedup_exact(spark, sf):
    d = load_table(spark, sf, "documents")
    return (
        d.select(F.md5("text").alias("content_md5"), "doc_id")
        .groupBy("content_md5")
        .agg(F.min("doc_id").alias("doc_id"))
    )


def _q_dedup_minhash(spark, sf):
    d = load_table(spark, sf, "documents")
    return dedup.minhash_lsh_pairs(
        d, "text", "doc_id", num_hashes=64, bands=16, shingle_n=5, threshold=0.9
    )


def _q_dedup_minhash_incremental(spark, sf):
    """Continuous-ingestion dedup: near-dup pairs where at least one side
    is a 'newly arrived' document (doc_id >= 400), against the already-
    ingested corpus (doc_id < 400) — banded_new x banded_all candidate
    join, never re-pairing the corpus against itself."""
    d = load_table(spark, sf, "documents")
    corpus = d.filter(F.col("doc_id") < 400)
    new = d.filter(F.col("doc_id") >= 400)
    return dedup.minhash_lsh_pairs_incremental(
        corpus, new, "text", "doc_id",
        num_hashes=64, bands=16, shingle_n=5, threshold=0.9,
    )


def _q_dedup_survivors_policy(spark, sf):
    """Cluster resolution with a keep-best policy: survivor = the member
    with the most characters (ties -> lowest doc_id) instead of min-id —
    the 'keep the longest copy' rule real dedup pipelines use."""
    d = load_table(spark, sf, "documents")
    pairs = dedup.minhash_lsh_pairs(
        d, "text", "doc_id", num_hashes=64, bands=16, shingle_n=5, threshold=0.9
    )
    kept = dedup.dedup_survivors(
        d, pairs, "doc_id", priority_col="n_chars"
    )
    return kept.select("doc_id", F.col("n_chars").cast("long").alias("n_chars"))


def _q_dedup_cluster_sizes(spark, sf):
    """Dedup impact report: cluster-size histogram + droppable-doc count
    per size — the "what will this dedup actually delete" summary a
    pipeline owner reads before committing; same pair set and CC labels
    as dedup_clusters."""
    d = load_table(spark, sf, "documents")
    pairs = dedup.minhash_lsh_pairs(
        d, "text", "doc_id", num_hashes=64, bands=16, shingle_n=5, threshold=0.9
    )
    labels = dedup.connected_components(pairs)
    sizes = labels.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("cluster_size"))
    return sizes.groupBy("cluster_size").agg(
        F.count(F.lit(1)).cast("long").alias("n_clusters"),
        (F.count(F.lit(1)) * (F.col("cluster_size") - 1)).cast("long").alias("droppable_docs"),
    ).select(F.col("cluster_size").cast("long").alias("cluster_size"), "n_clusters", "droppable_docs")


def _q_dedup_cdc_chunks(spark, sf):
    """Content-defined chunking dedup: word-level CDC boundaries (salted
    md5 ≡ 0 mod 8 closes a chunk), then duplicated ≥3-token chunks
    across ≥2 docs — shift-resistant passage-level dedup."""
    d = load_table(spark, sf, "documents")
    out = dedup.cdc_duplicate_chunks(d, "text", "doc_id")
    return out.select(
        "chunk_md5",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("n_occurrences").cast("long").alias("n_occurrences"),
        F.col("sample_doc").cast("long").alias("sample_doc"),
    )


def _q_dedup_soft_weights(spark, sf):
    """SoftDeDup reweighting: every doc kept, weight = 1/cluster_size
    over the same minhash pair set as dedup_clusters (unclustered docs
    weight 1.0) — the corpus never shuffles; labels+sizes join back."""
    d = load_table(spark, sf, "documents")
    pairs = dedup.minhash_lsh_pairs(
        d, "text", "doc_id", num_hashes=64, bands=16, shingle_n=5, threshold=0.9
    )
    out = dedup.soft_dedup_weights(d, pairs, "doc_id")
    return out.select(
        "doc_id",
        "cluster_size",
        F.round("sample_weight", 6).alias("sample_weight"),
    )


def _q_dedup_clusters(spark, sf):
    """Pairs → duplicate clusters: connected components over the minhash
    near-dup pairs, labeled with each component's min doc_id — the
    keep/drop decision the pair generators alone can't answer. At every
    test and bench size the labels come from connected_components' one
    union-find task; its alternating large-star/small-star loop runs only
    past 2M distinct edges."""
    d = load_table(spark, sf, "documents")
    pairs = dedup.minhash_lsh_pairs(
        d, "text", "doc_id", num_hashes=64, bands=16, shingle_n=5, threshold=0.9
    )
    return dedup.connected_components(pairs).select(
        F.col("id").cast("long").alias("doc_id"),
        F.col("cluster_id").cast("long").alias("cluster_id"),
    )


def _q_dedup_ngram(spark, sf):
    d = load_table(spark, sf, "documents").filter(F.col("doc_id") < 200)
    return dedup.ngram_jaccard_pairs(d, "text", "doc_id", shingle_n=5, threshold=0.8)


def _q_dedup_embedding(spark, sf):
    emb = load_table(spark, sf, "embeddings")
    return dedup.embedding_dup_pairs(emb, "embedding", "vec_id", threshold=0.4).select(
        "id_a", "id_b"
    )


def _q_dedup_embedding_lsh(spark, sf):
    """the scale path: hyperplane-bucketed near-dup (no all-pairs join) —
    pairs compared only within a sign-pattern bucket. The oracle replays
    the seeded hyperplanes as SQL literals."""
    emb = load_table(spark, sf, "embeddings")
    return dedup.embedding_dup_pairs(
        emb, "embedding", "vec_id", threshold=0.4, bucket_bits=4, seed=11
    ).select("id_a", "id_b")


def _q_dedup_semantic(spark, sf):
    """SemDeDup (Abbas et al. 2023): k-means-cell-scoped embedding dedup
    — assign every vector to its argmax-cosine cell (deterministic
    lowest-id centroids so the oracle can replay the assignment), connect
    within-cell pairs at cosine ≥ 0.4, keep min-id per component. The
    oracle replays ALL four stages: centroid argmax, cell-scoped pair
    generation, recursive-CTE connected components, survivor rule.
    ``max_cell_size`` arms the hot-cell valve in the benched plan; the
    cap (100k) never fires at any test SF, so the oracle is unaffected —
    at 100 TB it bounds a skewed cell's task to cap² instead of OOM."""
    emb = load_table(spark, sf, "embeddings")
    return dedup.semdedup(
        emb, "embedding", "vec_id", n_cells=16, threshold=0.4,
        max_cell_size=100_000,
    )


def _q_dedup_embedding_clusters(spark, sf):
    """Vector-side cluster resolution: hyperplane-LSH near-dup pairs →
    connected components → (vec_id, cluster_id) labels — the embedding
    twin of dedup_clusters, proving the pairs→clusters→survivors stage is
    generator-agnostic."""
    emb = load_table(spark, sf, "embeddings")
    pairs = dedup.embedding_dup_pairs(
        emb, "embedding", "vec_id", threshold=0.4, bucket_bits=4, seed=11
    )
    return dedup.connected_components(pairs).select(
        F.col("id").cast("long").alias("vec_id"),
        F.col("cluster_id").cast("long").alias("cluster_id"),
    )


def _q_similarity_topk(spark, sf):
    emb = load_table(spark, sf, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    return similarity.cosine_topk(emb, q, k=10).select("query_id", "neighbor_id", "rank")


def _q_similarity_hard_negatives(spark, sf):
    """Hard-negative mining (DPR shape): top-5 most-similar WRONG-label
    vectors per query — broadcast NLJ with the label-mismatch predicate
    fused below the rank window."""
    emb = load_table(spark, sf, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    return similarity.hard_negatives(emb, q, k=5).select(
        "query_id", "neighbor_id", F.col("neighbor_label").cast("long").alias("neighbor_label"), "rank"
    )


def _q_similarity_knn_classify(spark, sf):
    """k-NN pseudo-labeling, small-pool posture: the 50 lowest-id vectors
    treated as new unlabeled arrivals, label = majority vote of their 5
    nearest neighbors in the labeled corpus (ties → smallest label).
    ``broadcast_pool=True`` is the right plan HERE because the pool is a
    FIXED 50 rows at any scale factor (it is the broadcast side) and the
    labeled corpus is the scan side. The scan side widens to the
    cluster's parallelism (r14: a one-footer local parquet put the
    whole 50×N cosine stage on ONE core; at scale the corpus arrives
    in many splits and the helper no-ops)."""
    from kusto_pre_forge_spark.operators.corpus import _widen_for_fanout

    emb = load_table(spark, sf, "embeddings")
    labeled = _widen_for_fanout(emb.filter(F.col("vec_id") >= 50))
    pool = emb.filter(F.col("vec_id") < 50)
    out = similarity.knn_classify(labeled, pool, k=5, broadcast_pool=True)
    return out.select(
        "query_id",
        F.col("predicted_label").cast("long").alias("predicted_label"),
        F.col("votes").cast("long").alias("votes"),
        F.round("top_cosine", 6).alias("top_cosine"),
    )


def _q_similarity_knn_propagate(spark, sf):
    """k-NN label PROPAGATION, the scale posture: a 50-vector labeled
    seed set broadcast as one array column; the whole unlabeled corpus
    scans map-only (top-k + majority vote inside array expressions —
    zero shuffle of the pool, the side that is 100 TB in production)."""
    emb = load_table(spark, sf, "embeddings")
    labeled = emb.filter(F.col("vec_id") < 50)
    pool = emb.filter(F.col("vec_id") >= 50)
    out = similarity.knn_propagate(labeled, pool, k=5)
    return out.select(
        "query_id",
        F.col("predicted_label").cast("long").alias("predicted_label"),
        F.col("votes").cast("long").alias("votes"),
        F.round("top_cosine", 6).alias("top_cosine"),
    )


def _q_similarity_topk_lsh(spark, sf):
    """approximate ANN via multi-probe hyperplane LSH; the oracle replays
    the seeded hyperplanes as SQL literals (probe set ≡ Hamming ≤ 2)."""
    emb = load_table(spark, sf, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    return similarity.cosine_topk_lsh(emb, q, k=10, bits=4, probe_hamming=2).select(
        "query_id", "neighbor_id", "rank"
    )


def _q_similarity_topk_ivf(spark, sf):
    emb = load_table(spark, sf, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    return similarity.cosine_topk_ivf(emb, q, k=10, n_cells=16, nprobe=4).select(
        "query_id", "neighbor_id", "rank"
    )


def _q_simhash_pairs(spark, sf):
    d = load_table(spark, sf, "documents")
    return dedup.simhash_pairs(d, "text", "doc_id", max_hamming=3)


def _q_text_tokens(spark, sf):
    d = load_table(spark, sf, "documents")
    return d.select(
        "doc_id",
        textstats.token_count("text").alias("n_tokens"),
        textstats.bpe_token_count("text").alias("bpe_tokens"),
        F.length("text").alias("n_chars"),
    )


def _q_text_quality(spark, sf):
    d = load_table(spark, sf, "documents")
    return textstats.quality_features(d, "text").select(
        "doc_id", "punct_ratio", "digit_ratio", "stopword_ratio"
    )


def _q_text_langid(spark, sf):
    """Corpus language histogram over the char-trigram classifier —
    input widened to cluster parallelism (the classifier is a heavy
    per-row projection; see _q_text_ccnet_buckets)."""
    from kusto_pre_forge_spark.operators.corpus import _widen_for_fanout

    d = _widen_for_fanout(load_table(spark, sf, "documents"))
    return d.select(textstats.lang_id("text").alias("lang_pred")).groupBy("lang_pred").agg(
        F.count(F.lit(1)).alias("n")
    )


def _q_text_lm_backoff(spark, sf):
    """Stupid-Backoff trigram LM scoring (Brants et al. 2007) with a
    REAL train/score split: counts come from the even-doc_id half, every
    document scores against them — so held-out odd docs genuinely back
    off through the bigram/unigram/OOV tiers. The oracle replays the
    whole chain (one trigram CTE, marginal sums for every lower order,
    the tiered CASE, round-6 avg-log) in SQL."""
    from kusto_pre_forge_spark.operators.textstats import (
        lm_score_stupid_backoff,
    )

    d = load_table(spark, sf, "documents").select("doc_id", "text")
    corpus = d.filter(F.col("doc_id") % 2 == 0)
    return lm_score_stupid_backoff(d, "text", "doc_id", corpus=corpus)


def _q_text_langid_eval(spark, sf):
    """Language-ID ACCURACY harness — the measure-don't-guess tier
    (dedup.py lsh/hamming recall precedents) applied to the 27-label
    classifier (19 trigram profiles + 8 script-direct labels):
    per-language precision/recall/confusion counts over the
    labeled LANGID_EVAL_FIXTURE corpus (long sentences that must all
    win, short sentences where real Romance/Slavic confusions appear,
    and digits/empty/NULL/stopword-free adversarial rows). The oracle
    replays the ENTIRE chain — script gate, both normalizers,
    overlapping trigram scoring, argmax, then the same confusion
    aggregation — from the same textstats constants, so the measured
    numbers are engine-shared by construction. Fixed fixture: the
    number under test is profile accuracy, not corpus scale."""
    from kusto_pre_forge_spark.operators.textstats import (
        LANGID_EVAL_FIXTURE,
        langid_eval,
    )

    fix = spark.createDataFrame(
        [(i, lang, text) for i, (lang, _tier, text) in enumerate(LANGID_EVAL_FIXTURE)],
        "doc_id long, true_lang string, text string",
    )
    return langid_eval(fix, "text", "true_lang")


def _q_text_gopher(spark, sf):
    """Gopher document-quality rules (Rae et al. 2021 App. A1.1) as one
    codegen scan projection — exact integer numerators + round-6 ratios
    so the DuckDB oracle replays every rule bit-for-bit. Input widened:
    a one-footer test parquet must not fold the whole rule scan on one
    core."""
    from kusto_pre_forge_spark.operators.corpus import _widen_for_fanout

    d = _widen_for_fanout(load_table(spark, sf, "documents"))
    return textstats.gopher_quality(d, "text")


def _q_kql_series_fit_poly(spark, sf):
    """KQL series_fit_poly (degree 2): closed-form quadratic LSQ — exact
    Faulhaber power sums + ascending-index moment folds + Cramer's rule,
    all plain arithmetic (no UDF). Oracle replays the identical folds
    (sum ... ORDER BY x) and determinant expressions."""
    e = load_table(spark, sf, "events").filter(F.col("event_id") < 400)
    s = e.groupBy("event_type").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("event_id", "value"))),
            lambda r: r["value"],
        ).alias("s")
    )
    f = kql.series_fit_poly("s")
    return s.select(
        "event_type",
        f["c0"].alias("c0"),
        f["c1"].alias("c1"),
        f["c2"].alias("c2"),
        f["rss"].alias("rss"),
    )


def _q_kql_parse_where(spark, sf):
    """KQL parse-where — parse_pattern + drop of non-matching rows (one
    compiled regex for both match and extract). Mixed input forged from
    customer names; the oracle replays the literal-prefix rule."""
    c = load_table(spark, sf, "customer")
    mixed = c.select(
        "c_custkey",
        F.when(
            F.col("c_custkey") % 3 == 0, F.concat(F.lit("junk-"), F.col("c_name"))
        )
        .otherwise(F.col("c_name"))
        .alias("s"),
    )
    return kql.parse_where(mixed, "s", "Customer#", ("cnum", "long")).select(
        "c_custkey", "cnum"
    )


def _q_kql_getschema(spark, sf):
    """KQL getschema — column metadata of the orders table as rows."""
    return kql.getschema(load_table(spark, sf, "orders"))


def _q_dedup_span_cut(spark, sf):
    """ExactSubstr cutting (Lee et al. ACL'22 §4.1): per duplicated
    window the lowest doc keeps its occurrence; every other doc's
    covered tokens are removed from the rebuilt text. Oracle replays
    windows, ownership, islands, and the token-level rebuild."""
    from kusto_pre_forge_spark.operators import dedup as dedup_ops

    d = load_table(spark, sf, "documents").filter(F.col("doc_id") < 200)
    return dedup_ops.cut_duplicate_spans(
        d, "text", "doc_id", window_tokens=8, min_docs=2
    )


def _q_kql_ipv6_lookup(spark, sf):
    """evaluate ipv6_lookup(): /48 blocks forged from nation keys, IPv6
    addresses from events — broadcast non-equi containment join on the
    canonical hex form. Predictive oracle: a /48 block covers exactly the
    first three groups, so a match is user_id % 30 == n_nationkey."""
    e = load_table(spark, sf, "events").filter(F.col("event_id") < 5000)
    n = load_table(spark, sf, "nation")
    nets = n.select(
        F.concat(
            F.lit("2001:db8:"),
            F.lower(F.hex(F.col("n_nationkey"))),
            F.lit("::/48"),
        ).alias("network"),
        "n_name",
    )
    ips = e.select(
        "event_id",
        F.concat(
            F.lit("2001:db8:"),
            F.lower(F.hex(F.col("user_id") % 30)),
            F.lit(":1::5"),
        ).alias("ip"),
    )
    out = kql.ipv6_lookup(ips, nets, "ip")
    return out.groupBy("n_name").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.min("event_id").cast("long").alias("first_event"),
    )


def _q_kql_diffpatterns_text(spark, sf):
    """ADX `evaluate diffpatterns_text()`: terms most over/under-
    represented between the en and non-en document sets, by exact
    document-frequency divergence."""
    d = load_table(spark, sf, "documents")
    return kql.diffpatterns_text(d, "text", F.col("lang") == "en", top_k=20)


def _q_pipeline_quality_route(spark, sf):
    """Quality-filter ensemble routing — the decision stage a corpus
    pipeline actually ships: Gopher rules, C4 rules and the LR classifier
    evaluated in ONE pass over the scan — the three gates CHAIN through
    their carry_cols (r14: the former three-projections-of-one-frame +
    two doc_id joins re-scanned documents three times; all three are
    row-preserving codegen projections, so they compose into one scan
    projection with zero joins), each doc routed keep/drop with its
    FIRST failing gate as the reason code. Oracle replays all three
    gates."""
    from kusto_pre_forge_spark.operators import textstats

    d = load_table(spark, sf, "documents")
    g = textstats.gopher_quality(d, "text", carry_cols=("text",)).select(
        "doc_id", "text", F.col("passes_gopher").alias("_g")
    )
    c = textstats.c4_filters(g, "text", carry_cols=("text", "_g")).select(
        "doc_id", "text", "_g", F.col("passes_c4").alias("_c")
    )
    lr = textstats.quality_classifier_score(
        c, "text", carry_cols=("_g", "_c")
    ).select("doc_id", "_g", "_c", F.col("keep").alias("_l"))
    routed = lr.select(
        "doc_id",
        (F.col("_g") & F.col("_c") & F.col("_l")).alias("keep"),
        F.when(~F.col("_g"), F.lit("gopher"))
        .when(~F.col("_c"), F.lit("c4"))
        .when(~F.col("_l"), F.lit("lr"))
        .otherwise(F.lit("pass"))
        .alias("reason"),
    )
    return routed.groupBy("keep", "reason").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.min("doc_id").cast("long").alias("first_doc"),
    )


def _q_kql_evaluate_python(spark, sf):
    """ADX `evaluate python(typeof(...), script)` — mapInPandas-hosted
    inline script (df in, result out, one partition per invocation);
    row-local math so the oracle replays it as plain SQL."""
    e = load_table(spark, sf, "events").filter(F.col("event_id") < 3000)
    return kql.evaluate_python(
        e.select("event_id", "value"),
        "result = pd.DataFrame({'event_id': df['event_id'], "
        "'score': (df['value'] * 2.0 + df['event_id'] % 10).round(6)})",
        "event_id long, score double",
    )


def _q_dedup_substring_spans(spark, sf):
    """Cross-document duplicated spans (Lee et al. ACL'22 ExactSubstr,
    rolling-window form): 8-token windows hashed, >=2-doc windows merged
    into maximal per-doc [start, end) token spans. Oracle replays the
    full window/hash/island pipeline."""
    from kusto_pre_forge_spark.operators import dedup as dedup_ops

    d = load_table(spark, sf, "documents")
    return dedup_ops.exact_substring_spans(
        d, "text", "doc_id", window_tokens=8, min_docs=2
    )


def _q_layout_zorder(spark, sf):
    """Z-order (Morton) layout keys — the write-side companion to
    predicate pushdown: interleaved bits keep every indexed dimension's
    ranges compact so row-group min/max stats prune on any of them.
    Pure codegen integer math, oracled bit-for-bit."""
    from kusto_pre_forge_spark.operators.layout import zorder_key

    e = load_table(spark, sf, "events").filter(F.col("event_id") < 2000)
    return e.select(
        "event_id",
        zorder_key([F.col("event_id") % 256, F.col("user_id") % 256], bits=8).alias(
            "zkey"
        ),
    )


def _q_corpus_temperature_mix(spark, sf):
    """Temperature-smoothed source mixture (XLM §3.1 / mT5 §3.2 α-
    sampling): per-source rate wₛ·B/nₛ with w ∝ n^0.3, applied through
    the deterministic epoch-explode + md5-threshold machinery — head
    sources downsample, tail sources gain fractional epochs; zero
    data-side shuffle. Oracle replays rate math + hash exactly."""
    from kusto_pre_forge_spark.operators import corpus as corpus_ops

    d = load_table(spark, sf, "documents")
    mixed = corpus_ops.temperature_mix(
        d, "source", "doc_id", "n_chars", alpha=0.3
    )
    return mixed.groupBy("source", "epoch").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("sum_chars"),
    )


def _q_avro_roundtrip(spark, sf):
    """Avro OCF codec (reference DataSourceFormat declares avro,
    Settings/BlobSettings.cs:13; EtlRun throws on it) — a fully
    distributed encode→decode round-trip: each Arrow batch of events
    serializes to one deflate OCF blob and decodes back inside the same
    mapInPandas pass (no temp files, no collect), then aggregates. The
    oracle predicts the stats straight from events — any varint/union/
    framing slip corrupts every group."""
    import pandas as _pd

    from kusto_pre_forge_spark.sources.avro import iter_ocf_records, write_avro_ocf

    e = load_table(spark, sf, "events").filter(F.col("event_id") < 5000).select(
        "event_id", "event_type", "value"
    )
    schema = {
        "type": "record",
        "name": "ev",
        "fields": [
            {"name": "event_id", "type": "long"},
            {"name": "event_type", "type": ["null", "string"]},
            {"name": "value", "type": "double"},
        ],
    }

    def rt(it):
        for pdf in it:
            recs = [
                {
                    "event_id": int(i),
                    "event_type": None if t is None else str(t),
                    "value": float(v),
                }
                for i, t, v in zip(pdf["event_id"], pdf["event_type"], pdf["value"])
            ]
            back = list(iter_ocf_records(write_avro_ocf(schema, recs, codec="deflate")))
            yield _pd.DataFrame(back, columns=["event_id", "event_type", "value"])

    decoded = e.mapInPandas(rt, "event_id long, event_type string, value double")
    return decoded.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("event_id").cast("long").alias("sum_id"),
        _sumd(F.col("value"), "sum_value"),
    )


def _q_w3c_log_parse(spark, sf):
    """w3clogfile format (reference DataSourceFormat,
    Settings/BlobSettings.cs:13): W3C lines forged from events, parsed by
    the positional #Fields projection ('-' -> NULL), then summarized.
    The oracle predicts the parsed stats straight from the source
    columns — any field-position slip shifts every group."""
    from kusto_pre_forge_spark.sources.w3clog import w3c_parse

    e = load_table(spark, sf, "events").filter(F.col("event_id") < 5000)
    line = F.concat_ws(
        " ",
        F.date_format("ts", "yyyy-MM-dd"),
        F.date_format("ts", "HH:mm:ss"),
        F.concat(F.lit("10.0."), (F.col("user_id") % 256).cast("string"), F.lit(".1")),
        F.upper("event_type"),
        F.concat(F.lit("/p/"), (F.col("event_id") % 97).cast("string")),
        F.when(F.col("value") > 50, F.lit("200")).otherwise(F.lit("404")),
        F.when(F.col("event_id") % 7 == 0, F.lit("-")).otherwise(
            (F.col("event_id") % 1000).cast("string")
        ),
    )
    parsed = w3c_parse(
        e.select(line.alias("value")),
        ["date", "time", "c-ip", "cs-method", "cs-uri-stem", "sc-status", "time-taken"],
    )
    return parsed.groupBy("cs_method", "sc_status").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.count(F.when(F.col("time_taken").isNull(), 1)).cast("long").alias("n_missing_tt"),
        F.sum(F.col("time_taken").cast("long")).alias("sum_tt"),
        F.min("cs_uri_stem").alias("first_uri"),
    )


def _q_text_c4(spark, sf):
    """C4 cleaning rules (Raffel et al. 2020 §2.2): line-keep predicate,
    lorem-ipsum/brace/sentence-count doc drops, cleaned text rejoin —
    all array HOFs, oracle-replayed including the cleaned_text string."""
    d = load_table(spark, sf, "documents")
    return textstats.c4_filters(d, "text")


def _q_text_fingerprint(spark, sf):
    d = load_table(spark, sf, "documents")
    # two-step form: materializes the md5 token-hash array once per row —
    # the inline expression re-hashes per window (26× slower, textstats.py)
    return textstats.fingerprint_df(d, "text", k=3).select("doc_id", "fingerprint")


def _q_multimodal_meta(spark, sf):
    from kusto_pre_forge_spark.operators import multimodal

    d = load_table(spark, sf, "documents")
    blobs = multimodal.blob_meta(multimodal.attach_blob(d, "text"), media_type="text/plain")
    return blobs.select(
        "doc_id",
        F.col("media_meta.content_sha").alias("content_sha"),
        F.col("media_meta.n_bytes").alias("n_bytes"),
    )


def _q_asof_join(spark, sf):
    """clicks joined to each user's latest at-or-before purchase."""
    from kusto_pre_forge_spark.operators.temporal import as_of_join

    ev = load_table(spark, sf, "events")
    clicks = ev.filter(F.col("event_type") == "click").select("user_id", "event_id", "ts")
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("purchase_id"))
    )
    out = as_of_join(
        clicks, purchases, on="user_id", left_ts="ts", right_ts="ts",
        right_cols=["purchase_id"],
    )
    return out.select("event_id", "purchase_id")


def _q_range_join_bands(spark, sf):
    """lineitem quantities bucketed into value bands via range_join."""
    from kusto_pre_forge_spark.operators.temporal import range_join

    li = load_table(spark, sf, "lineitem").select("l_quantity")
    bands = spark.createDataFrame(
        [(float(i * 10), float(i * 10 + 10) - 0.001, f"band{i}") for i in range(6)],
        ["lo", "hi", "band"],
    )
    out = range_join(li, bands, "l_quantity", "lo", "hi", bin_width=10.0)
    return out.groupBy("band").agg(F.count(F.lit(1)).alias("n"))


def _q_kql_scalar_suite(spark, sf):
    """one pass over orders exercising the KQL scalar-function block:
    iif/isempty/strlen/substring/replace_string/tolower/toupper wrapped in
    countif/sumif/make_set aggregates per priority."""
    o = load_table(spark, sf, "orders")
    big = F.col("o_totalprice") > 100000
    return (
        o.withColumn("status_lc", kql.tolower("o_orderstatus"))
        .withColumn("prio_code", kql.kql_substring("o_orderpriority", 0, 1))
        .groupBy("prio_code")
        .agg(
            kql.countif(big).alias("n_big"),
            F.round(
                kql.sumif(_dec(F.col("o_totalprice")), big).cast("double"), 4
            ).alias("sum_big"),
            kql.strcat_array(kql.make_set("status_lc"), ",").alias("statuses"),
            kql.countif(kql.isempty("o_orderstatus")).alias("n_empty_status"),
            F.max(kql.strlen("o_orderpriority")).alias("max_prio_len"),
            kql.countif(
                kql.iif(F.col("o_totalprice") < 1000, F.lit(1), F.lit(0)) == 1
            ).alias("n_tiny"),
        )
    )


def _q_kql_parse(spark, sf):
    """KQL parse operator — split c_name into literal + typed captures."""
    c = load_table(spark, sf, "customer")
    return kql.parse_pattern(c, "c_name", "Customer#", ("cnum", "long")).select(
        "c_custkey", "cnum"
    )


def _q_kql_make_series(spark, sf):
    """KQL make-series | mv-expand — dense hourly sum(value) per event type,
    gaps filled with default=0 over the global [min,max] hour axis."""
    e = load_table(spark, sf, "events")
    return kql.make_series(
        e,
        on="ts",
        step="hour",
        by=["event_type"],
        agg=_sumd(F.col("value"), "series_value"),
        default=0.0,
        exploded=True,
    )


def _q_kql_join_innerunique(spark, sf):
    """KQL join kind=innerunique (Kusto's default join) — left side deduped
    to one row per key (first by l_linenumber for determinism), then inner
    join to orders."""
    li = load_table(spark, sf, "lineitem").select(
        "l_orderkey", "l_partkey", "l_quantity", "l_linenumber"
    )
    o = load_table(spark, sf, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_totalprice"
    )
    return kql.join_innerunique(
        li, o, ["l_orderkey"], ["l_linenumber", "l_partkey", "l_quantity"]
    ).select(
        "l_orderkey", "l_partkey", "l_quantity", "o_totalprice"
    )


def _q_set_except(spark, sf):
    """Set op EXCEPT (distinct) — customers that have placed no orders."""
    c = load_table(spark, sf, "customer").select(F.col("c_custkey").alias("k"))
    o = load_table(spark, sf, "orders").select(F.col("o_custkey").alias("k"))
    return c.subtract(o)


def _q_set_intersect(spark, sf):
    """Set op INTERSECT (distinct) — nation keys present in both customer
    and supplier."""
    c = load_table(spark, sf, "customer").select(F.col("c_nationkey").alias("nk"))
    s = load_table(spark, sf, "supplier").select(F.col("s_nationkey").alias("nk"))
    return c.intersect(s)


def _q_kql_top_nested(spark, sf):
    """KQL top-nested — top 3 regions by total acctbal, top 2 nations within
    each (hierarchical top-k; decimal sums for cross-engine exactness)."""
    c = load_table(spark, sf, "customer")
    n = load_table(spark, sf, "nation")
    r = load_table(spark, sf, "region")
    j = (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select("r_name", "n_name", "c_acctbal")
    )
    out = kql.top_nested(
        j,
        outer_key="r_name",
        inner_key="n_name",
        measure=F.sum(_dec(F.col("c_acctbal"))),
        k_outer=3,
        k_inner=2,
        outer_alias="region_bal",
        inner_alias="nation_bal",
    )
    return out.select(
        "r_name",
        F.col("region_bal").cast("double").alias("region_bal"),
        "n_name",
        F.col("nation_bal").cast("double").alias("nation_bal"),
    )


def _q_kql_mv_apply(spark, sf):
    """KQL mv-apply — per-row array subquery via higher-order functions
    (no explode/regroup): per-word lengths summed per document."""
    d = load_table(spark, sf, "documents")
    words = d.withColumn("words", F.split("text", " "))
    applied = kql.mv_apply(words, "words", lambda x: F.length(x), to="lens")
    return applied.select(
        "doc_id",
        F.aggregate(
            "lens", F.lit(0).cast("long"), lambda acc, x: acc + x
        ).alias("word_chars"),
    )


def _q_window_lag_delta(spark, sf):
    """Window analytic lag() — per-user value delta between consecutive
    events (deterministic ts, event_id ordering)."""
    e = load_table(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return e.select(
        "event_id",
        "user_id",
        F.coalesce(F.col("value") - F.lag("value").over(w), F.lit(0.0)).alias(
            "delta"
        ),
    )


def _q_kql_series_fill_linear(spark, sf):
    """KQL make-series default=null | series_fill_linear — hourly sums with
    gaps linearly interpolated between bracketing samples (edges clamped)."""
    e = load_table(spark, sf, "events").filter(F.col("value") > 4.0)
    dense = kql.make_series(
        e,
        on="ts",
        step="hour",
        by=["event_type"],
        agg=_sumd(F.col("value"), "series_value"),
        default=None,
        exploded=True,
    )
    filled = kql.series_fill_linear(
        dense, on="series_ts", value="series_value", by=["event_type"]
    )
    return filled.select(
        "event_type",
        "series_ts",
        F.round("series_value", 6).alias("series_value"),
    )


def _q_pipeline_corpus_mix(spark, sf):
    """Composite MIXTURE-construction pipeline in ONE DAG — the stage after
    cleaning: quality gate (token count ≥ 20) → per-source token-budget
    cap (budget_sample) → deterministic train/val/test split → 1.5-epoch
    upsampling of the train split → per-(source, split, epoch) doc/token
    totals. Every stage is hash-deterministic, so the ENTIRE composition
    replays in the SQL oracle — the integration proof that the corpus ops
    compose without hidden RNG or partition-order dependence."""
    from kusto_pre_forge_spark.operators import corpus as corpus_ops

    d = load_table(spark, sf, "documents").withColumn(
        "n_tok", textstats.token_count("text").cast("long")
    )
    gated = d.filter(F.col("n_tok") >= 20)
    capped = corpus_ops.budget_sample(gated, "source", "doc_id", "n_tok", 15000)
    split = corpus_ops.train_split(capped, "doc_id")
    train = split.filter(F.col("split") == "train").withColumn("_w", F.lit(1.5))
    rest = split.filter(F.col("split") != "train").withColumn(
        "epoch", F.lit(0)
    )
    up = corpus_ops.epoch_upsample(train, "doc_id", "_w").drop("_w")
    mixed = up.unionByName(rest.select(*up.columns))
    return mixed.groupBy("source", "split", F.col("epoch").cast("long").alias("epoch")).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tok").cast("long").alias("n_tokens"),
    )


def _q_pipeline_docs_clean(spark, sf):
    """Composite training-data cleaning pipeline in ONE DAG: language-ID →
    keep English → exact dedup (min doc_id per content hash) → MinHash
    near-dup pairs → connected-component cluster resolution → drop all but
    each cluster's min-id survivor → per-source corpus stats. The shapes a
    100 TB corpus clean actually runs; every stage is the already-oracled
    operator."""
    d = load_table(spark, sf, "documents")
    en = d.withColumn("lang_pred", textstats.lang_id("text")).filter(
        F.col("lang_pred") == "en"
    )
    # one shuffle on the content hash (vs groupBy(md5) + semi-join = three):
    # rank within hash, keep the min-doc_id representative
    wdup = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    kept = (
        en.withColumn("_rn", F.row_number().over(wdup))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    # near-dup clusters on the exact-deduped survivors; keep min-id per
    # cluster (pairs → components → anti-join, the actual keep/drop step)
    pairs = dedup.minhash_lsh_pairs(
        kept, "text", "doc_id", num_hashes=64, bands=16, shingle_n=5, threshold=0.9
    )
    final = dedup.dedup_survivors(kept, pairs, "doc_id")
    return final.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(textstats.token_count("text")).cast("long").alias("total_tokens"),
    )


def _q_corpus_stratified_sample(spark, sf):
    """Training-mixture builder: deterministic per-language sampling rates
    (en 0.5, de 1.0, fr 0.2, everything else 0.1). Membership is a pure
    function of the doc_id hash — replayable on any cluster layout, unlike
    seeded sampleBy. Map-side filter, zero shuffle."""
    from kusto_pre_forge_spark.operators import corpus as corpus_ops

    d = load_table(spark, sf, "documents")
    out = corpus_ops.stratified_sample(
        d, "lang", {"en": 0.5, "de": 1.0, "fr": 0.2}, key="doc_id",
        default_fraction=0.1,
    )
    return out.select("doc_id", "lang", "source")


def _q_corpus_shuffle(spark, sf):
    """Reproducible global training order: total order by content hash,
    dense 0-based position. Same order on any cluster/partitioning."""
    from kusto_pre_forge_spark.operators import corpus as corpus_ops

    d = load_table(spark, sf, "documents").filter(F.col("doc_id") < 100)
    return corpus_ops.corpus_shuffle(d, "doc_id").select(
        "doc_id", F.col("shuffle_pos").cast("long").alias("shuffle_pos")
    )


def _q_contamination_check(spark, sf):
    """Benchmark decontamination: corpus docs sharing >=1 distinct word
    8-gram with a benchmark doc (docs 0-19 stand in for the eval suite).
    Inverted-index join on the n-gram hash — no cross join anywhere."""
    from kusto_pre_forge_spark.operators import corpus as corpus_ops

    d = load_table(spark, sf, "documents")
    bench = d.filter(F.col("doc_id") < 20)
    pool = d.filter(F.col("doc_id") >= 20)
    out = corpus_ops.contamination_check(pool, bench, ngram_n=8, min_shared=1)
    return out.select(
        "corpus_id", "bench_id", F.col("shared_ngrams").cast("long").alias("shared_ngrams")
    )


def _q_events_attribution_join(spark, sf):
    """Impression⋈click attribution: the stream-stream interval join
    (streaming/windows.py) run over batch frames — equi-key + event-time
    band [ts, ts+30min]. Streamed == batch equality is pinned in
    tests/test_streaming_windows.py; here the batch form gets the exact
    SQL oracle."""
    from kusto_pre_forge_spark.streaming.windows import (
        stream_stream_interval_join,
    )

    ev = load_table(spark, sf, "events").select("event_id", "ts", "user_id")
    views = ev.filter(F.col("event_id") % 3 == 0)
    clicks = ev.filter(F.col("event_id") % 3 == 1).withColumnRenamed(
        "event_id", "click_id"
    )
    out = stream_stream_interval_join(
        views, clicks, "user_id",
        watermark="365 days", max_delay="interval 30 minutes",
    )
    return out.select("user_id", "event_id", "click_id", "ts",
                      F.col("ts_right").alias("click_ts"))


def _q_contamination_bloom(spark, sf):
    """The big-benchmark decontamination path: a pure-Catalyst Bloom
    bitset over the benchmark's n-gram hashes prefilters the corpus scan
    map-side, and the verify join runs WITHOUT broadcasting the benchmark
    (the shape for held-out sets too big to broadcast). Results are
    exactly contamination_check's — Bloom has no false negatives and the
    join verifies — so the oracle is the same exact SQL."""
    from kusto_pre_forge_spark.operators import corpus as corpus_ops

    d = load_table(spark, sf, "documents")
    bench = d.filter(F.col("doc_id") < 20)
    pool = d.filter(F.col("doc_id") >= 20)
    out = corpus_ops.contamination_check(
        pool, bench, ngram_n=8, min_shared=1,
        bloom_prefilter=True, broadcast_benchmark=False,
    )
    return out.select(
        "corpus_id", "bench_id", F.col("shared_ngrams").cast("long").alias("shared_ngrams")
    )


def _q_text_lm_score(spark, sf):
    """CCNet-style perplexity filter without an external LM: per-doc mean
    ln p(w2|w1) under the corpus's own add-0.5-smoothed bigram model."""
    d = load_table(spark, sf, "documents")
    out = textstats.lm_score(d, "text", "doc_id", add_k=0.5)
    return out.select(
        "doc_id",
        F.col("n_bigrams").cast("long").alias("n_bigrams"),
        F.round("lm_score", 6).alias("lm_score"),
    )


def _q_text_ccnet_buckets(spark, sf):
    """CCNet head/middle/tail perplexity buckets per language (Wenzek et
    al. 2020 §4.3): corpus-bigram LM score + char-trigram lang-id, split
    at per-language percent_rank thirds (round-6 score ordering, id
    tie-break — both engines sort the same keys). Input widened: the
    160-substring-pass lang-id is compute-heavy per row (the accuracy
    upgrade over marker words), so a one-footer parquet must not run it
    on one core."""
    from kusto_pre_forge_spark.operators.corpus import _widen_for_fanout

    d = _widen_for_fanout(load_table(spark, sf, "documents"))
    return textstats.ccnet_buckets(d, "text", "doc_id")


def _q_text_bm25(spark, sf):
    """BM25 top-15 retrieval for a 3-term query — sparse search / eval-set
    mining over the documents table; Lucene idf, sum(dl)/N avgdl so the
    oracle derives bit-identical corpus scalars."""
    d = load_table(spark, sf, "documents")
    return textstats.bm25_topk(d, ["spark", "window", "merge"], k=15)


def _q_embedding_whiten(spark, sf):
    """PCA whitening over the embeddings table, verified through its
    predictive INVARIANT: the population covariance of the whitened
    output is the identity matrix, which the oracle predicts without
    replaying the eigensolve (cov entries computed in-plan from moment
    sums — whiten_covariance_probe — never collecting vectors). The
    per-vector transform itself (cov == I on raw floats, ZCA symmetry)
    is pinned in tests/test_similarity.py."""
    from kusto_pre_forge_spark.operators.similarity import (
        embedding_whiten,
        whiten_covariance_probe,
    )

    d = load_table(spark, sf, "embeddings")
    out = embedding_whiten(d, "embedding", "vec_id")
    return whiten_covariance_probe(out, "whitened").select(
        F.col("i").cast("long").alias("i"),
        F.col("j").cast("long").alias("j"),
        "cov_ij",
        "n_vectors",
    )


def _q_corpus_budget_sample(spark, sf):
    """Token-budget mixture sampling — per-source md5-threshold keep with
    frac = min(1, budget/source_token_total), totals broadcast in-plan."""
    from kusto_pre_forge_spark.operators import corpus as corpus_ops

    d = load_table(spark, sf, "documents")
    out = corpus_ops.budget_sample(d, "source", "doc_id", "n_chars", 20000)
    return out.select("doc_id", "source", "n_chars")


def _q_graph_triangles(spark, sf):
    """Per-node triangle counts over the thresholded nation trade graph
    (edges = nation pairs whose decimal-exact trade revenue exceeds
    4.5M — the exact-decimal predicate keeps the edge set engine-exact).
    Degree-ordered node-iterator in the operator; the oracle replays
    with plain id orientation — valid because the count is
    orientation-invariant."""
    li = load_table(spark, sf, "lineitem")
    o = load_table(spark, sf, "orders")
    c = load_table(spark, sf, "customer")
    s = load_table(spark, sf, "supplier")
    pairs = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .filter(F.col("c_nationkey") != F.col("s_nationkey"))
        .groupBy(
            F.col("c_nationkey").cast("long").alias("src"),
            F.col("s_nationkey").cast("long").alias("dst"),
        )
        .agg(
            F.sum(_dec(F.col("l_extendedprice") * (1 - F.col("l_discount"))))
            .cast("double")
            .alias("_rev")
        )
        .filter(F.col("_rev") > 4_500_000.0)
    )
    return kql.graph_triangles(pairs, "src", "dst").orderBy("node")


def _q_fixedwidth_roundtrip(spark, sf):
    """Fixed-width input format: orders rows rendered to positional
    lines (%10d%10d%-2s%-15s — no separators, no quoting) then parsed
    back through sources.fixedwidth.parse_fixed_width. The oracle is the
    ORIGINAL columns: the round trip must be lossless, which checks the
    renderer and the positional parser against each other. One codegen
    projection each way."""
    from kusto_pre_forge_spark.sources.fixedwidth import parse_fixed_width

    o = load_table(spark, sf, "orders")
    lines = o.select(
        F.format_string(
            "%10d%10d%-2s%-15s",
            F.col("o_orderkey"),
            F.col("o_custkey"),
            F.col("o_orderstatus"),
            F.col("o_orderpriority"),
        ).alias("value")
    )
    spec = [
        ("o_orderkey", 10, "bigint"),
        ("o_custkey", 10, "bigint"),
        ("o_orderstatus", 2, "string"),
        ("o_orderpriority", 15, "string"),
    ]
    return parse_fixed_width(lines, spec)


def _q_dedup_lsh_recall(spark, sf):
    """Candidate recall + efficiency of MinHash banding vs the exact
    ≥0.8-Jaccard pair set, at two (bands, rows) choices — the harness a
    team runs before fixing LSH parameters for a 100 TB pass. Same
    predictive-invariant oracle pattern as ann_recall_pq: n_exact is
    SQL-exact; the measured recall/efficiency clear pinned floors
    (raw values pinned in tests/test_dedup.py). 16 bands × 4 rows is
    the recall-max choice (wasteful candidates at this corpus' extreme
    near-dup similarity); 4 bands × 16 rows keeps recall 1.0 here with
    ~100% candidate efficiency. The harness runs on a FIXED 500-doc
    slice at any SF — exactly its documented production usage (measure
    banding on a sample, not the full corpus: the exact-Jaccard side is
    quadratic in candidates and exists only to grade the banding)."""
    d = load_table(spark, sf, "documents").filter(F.col("doc_id") < 500)

    def variant(bands, name, eff_floor):
        r = dedup.lsh_candidate_recall(
            d, "text", "doc_id", num_hashes=64, bands=bands, threshold=0.8
        )
        return r.select(
            F.lit(name).alias("variant"),
            F.col("n_exact"),
            (F.col("recall") >= 0.9).alias("recall_floor_ok"),
            (F.col("candidate_efficiency") >= eff_floor).alias(
                "efficiency_floor_ok"
            ),
        )

    # no efficiency claim for the recall-max choice (floor 0.0 — its
    # candidate waste IS the measured finding); b4r16 must stay ~pure
    return variant(16, "b16r4", 0.0).unionByName(
        variant(4, "b4r16", 0.9)
    )


def _q_corpus_domain_cap(spark, sf):
    """Per-source document ceiling: each source keeps its 10 smallest
    md5-hash docs (exact count, deterministic, partitioning-independent)
    — the 'no host floods the mixture' valve. Two-phase skew-safe plan:
    a partial rank window per (input partition, source) trims first, so
    the exact per-source window never sees a whole hot domain on one
    task."""
    from kusto_pre_forge_spark.operators import corpus as corpus_ops

    d = load_table(spark, sf, "documents")
    out = corpus_ops.domain_cap(d, "source", "doc_id", 10)
    return out.select("doc_id", "source")


def _q_text_char_entropy(spark, sf):
    """Shannon character entropy per document (nats, round-6) — the
    gibberish / encoded-blob detector. Map-only array expressions; the
    oracle recomputes per-char frequencies with unnest + group by."""
    from kusto_pre_forge_spark.operators import textstats as ts

    d = load_table(spark, sf, "documents")
    return d.select(
        "doc_id",
        F.length("text").cast("long").alias("n_chars"),
        ts.char_entropy("text").alias("entropy"),
    )


def _q_join_bloom_prefilter(spark, sf):
    """Big-to-big semi join via broadcast Bloom bitset + exact verify:
    orders of customers in nation 7 — the runtime-filter pattern as a
    reusable primitive. exact=True makes the result identical to a plain
    semi join (the oracle), whatever the Bloom's FP rate."""
    from kusto_pre_forge_spark.operators import corpus as corpus_ops

    o = load_table(spark, sf, "orders")
    c = load_table(spark, sf, "customer").filter(F.col("c_nationkey") == 7)
    out = corpus_ops.bloom_semi_join(
        o, c.select(F.col("c_custkey").alias("o_custkey")), "o_custkey"
    )
    return out.select("o_orderkey", "o_custkey", "o_totalprice")


def _q_text_oov_rate(spark, sf):
    """Tokenizer-coverage diagnostic: derive a top-25 word vocabulary
    from the corpus itself (count desc, word asc — deterministic), then
    measure each document's out-of-vocabulary token rate against it.
    Explode + broadcast vocab join + one per-doc aggregate."""
    from kusto_pre_forge_spark.operators import textstats as ts

    d = load_table(spark, sf, "documents")
    words = d.select(
        F.explode(ts.tokens(F.lower(F.col("text")))).alias("word")
    )
    vocab = (
        words.groupBy("word")
        .agg(F.count(F.lit(1)).alias("_n"))
        .orderBy(F.col("_n").desc(), F.col("word").asc())
        .limit(25)
        .select("word")
    )
    return ts.oov_rate(d, vocab, "text", "doc_id")


def _q_text_fix_mojibake(spark, sf):
    """Mojibake repair over deterministically damaged documents: every
    third doc gets classic UTF-8-as-cp1252 sequences spliced in
    ('Ã©', 'â€™', 'Ã¼'); the repair chain (generated from the encoding
    rule itself) must fix exactly those docs and leave the rest
    byte-identical. The oracle replays splice + repair chain literally."""
    from kusto_pre_forge_spark.operators import textprep as tp

    d = load_table(spark, sf, "documents")
    dirty = d.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.lit("cafÃ© "),
                F.substring(F.col("text"), 1, 40),
                F.lit(" itâ€™s Ã¼ber"),
            ),
        )
        .otherwise(F.substring(F.col("text"), 1, 40))
        .alias("text"),
    )
    return tp.fix_mojibake(dirty, "text", "doc_id").select(
        "doc_id", "fixed", "chars_removed", "changed"
    )


# synthetic crawl page wrapped around each document's text: real chrome
# (head/style/script, link-list nav, header, link-only aside + footer) and
# a too-short paragraph, all of which the extractor must drop. Shared by
# the Spark query and the DuckDB oracle so both engines parse the SAME
# bytes. No single quotes (SQL literal safety).
_HTML_PAGE_PRE = (
    '<html><!-- fixture chrome --><head><title>Doc</title>'
    "<style>p {color: red}</style><script>var x = 1 < 2;</script></head>"
    '<body><nav><ul><li><a href="/">Home</a></li>'
    '<li><a href="/about">About us</a></li></ul></nav>'
    '<header><h1><a href="#top">Site name</a></h1></header>'
    '<div id="main"><p>'
)
_HTML_PAGE_POST = (
    "</p><p>Too short.</p></div>"
    '<aside><a href="/ad">Sponsored link one</a> '
    '<a href="/ad2">Sponsored link two</a></aside>'
    '<footer><p><a href="/contact">Contact</a> &middot; '
    '<a href="/terms">Terms</a></p></footer></body></html>'
)


def _q_text_html_extract(spark, sf):
    """HTML main-content extraction — the crawl pipeline's first
    transform (C4 §2.2 / Gopher App. A are defined over EXTRACTED web
    text): each document's text is wrapped in a fixture page full of
    real chrome (nav, header, link-only aside/footer, a too-short
    paragraph), and the extractor must return exactly the body text.
    One map-only codegen projection (regex chain + array HOFs) above the
    widen re-split; the oracle replays the identical rule chain."""
    from kusto_pre_forge_spark.operators import textprep as tp
    from kusto_pre_forge_spark.operators.corpus import _widen_for_fanout

    d = _widen_for_fanout(load_table(spark, sf, "documents"))
    page = F.concat(
        F.lit(_HTML_PAGE_PRE), F.col("text"), F.lit(_HTML_PAGE_POST)
    )
    out = tp.html_extract(
        d.select("doc_id", page.alias("html")), "html", "doc_id"
    )
    return out.select("doc_id", "content", "n_blocks", "n_kept")


def _q_warc_parse(spark, sf):
    """WARC container roundtrip through the REAL parser: every document
    is rendered into a spec-shaped WARC response record (HTTP/1.1
    message block, per-record gzip members — the Common Crawl layout),
    then parsed back via sources.warc.parse_warc_blobs. The oracle is
    the ORIGINAL columns plus the arithmetically-predicted WARC
    Content-Length (HTTP head + body bytes), so framing, gzip member
    handling, HTTP payload extraction, and UTF-8 round-tripping are all
    checked against closed-form SQL. Both directions are pure map
    stages (mapInPandas), zero exchanges."""
    import pandas as pd

    from kusto_pre_forge_spark.sources import warc as W

    from kusto_pre_forge_spark.operators.corpus import _widen_for_fanout

    d = _widen_for_fanout(
        load_table(spark, sf, "documents").select("doc_id", "text")
    )

    def forge(it):
        for pdf in it:
            recs = [
                W.warc_record_bytes(
                    f"https://example.com/doc/{int(i)}",
                    (t if isinstance(t, str) else "").encode("utf-8"),
                )
                for i, t in zip(pdf["doc_id"], pdf["text"])
            ]
            yield pd.DataFrame(
                {
                    "path": ["mem://forged.warc.gz"],
                    "content": [W.write_warc(recs, gzip_per_record=True)],
                }
            )

    blobs = d.mapInPandas(forge, "path string, content binary")
    parsed = W.parse_warc_blobs(blobs)
    return parsed.select(
        F.regexp_extract("target_uri", r"([0-9]+)$", 1)
        .cast("long")
        .alias("doc_id"),
        "target_uri",
        F.col("http_status").cast("int").alias("http_status"),
        "content_length",
        "payload_text",
        "warc_date",
    )


def _q_pdf_text_extract(spark, sf):
    """PDF container roundtrip through the REAL ISO 32000 parser: every
    document is rendered as a spec-valid PDF, rotating through FOUR
    real layouts by doc_id % 4: CLASSIC table-xref, MODERN xref-stream +
    object-stream (PNG-Up predictor, /Type /ObjStm packing),
    SUBSET-FONT (2-byte glyph codes recoverable only through the
    /ToUnicode CMap), and PRE-2005 SIMPLE-FONT (/Encoding /Differences
    glyph-name remapping, no ToUnicode — raw byte decode must differ) —
    every decode path permanently on the correctness hook — one page
    when the text fits 200 chars, two pages otherwise (page-tree walk +
    ordering).
    Parsed back via sources.pdf.parse_pdf_blobs. The oracle is
    closed-form (the layouts extract identically): the same 200-char
    page split replayed in SQL over documents. Both directions are pure
    map stages (mapInPandas); the only exchange is the widen re-split of
    a one-footer test scan."""
    import pandas as pd

    from kusto_pre_forge_spark.sources import pdf as P

    from kusto_pre_forge_spark.operators.corpus import _widen_for_fanout

    d = _widen_for_fanout(
        load_table(spark, sf, "documents").select("doc_id", "text")
    )

    def forge(it):
        for pdf in it:
            paths, blobs = [], []
            for i, t in zip(pdf["doc_id"], pdf["text"]):
                t = t if isinstance(t, str) else ""
                pages = [t] if len(t) <= 200 else [t[:200], t[200:]]
                writer = [
                    P.pdf_bytes,
                    P.pdf_bytes_xrefstream,
                    P.pdf_bytes_cid,
                    P.pdf_bytes_differences,
                ][int(i) % 4]
                paths.append(f"mem://doc/{int(i)}.pdf")
                blobs.append(writer(pages))
            yield pd.DataFrame({"path": paths, "content": blobs})

    blobs = d.mapInPandas(forge, "path string, content binary")
    parsed = P.parse_pdf_blobs(blobs)
    return parsed.select(
        F.regexp_extract("_kpf_source", r"([0-9]+)\.pdf$", 1)
        .cast("long")
        .alias("doc_id"),
        F.col("page_no").cast("int").alias("page_no"),
        "page_text",
        F.col("n_pages").cast("int").alias("n_pages"),
    )


def _q_text_markdown_extract(spark, sf):
    """Markdown → prose over a forged README corpus: every document
    wrapped in deterministic markdown chrome (header, emphasis, a link,
    inline code, a fenced block) around the real text, then reduced by
    textprep.markdown_extract's MARKDOWN_RULES chain. ONE codegen
    projection above the widen re-split; the oracle replays the identical RE2-compatible
    chain (same tuples, DuckDB replacement syntax) over the same forge."""
    from kusto_pre_forge_spark.operators import textprep as tp

    did = F.col("doc_id").cast("long")
    md = F.concat(
        F.lit("# Doc "), did.cast("string"), F.lit("\n\n**Intro** with a "),
        F.lit("[link](https://example.com/"), did.cast("string"),
        F.lit(") and `tick`.\n\n```\nhidden "), did.cast("string"),
        F.lit("\n```\n\n"),
        F.substring(F.coalesce(F.col("text"), F.lit("")), 1, 300),
    )
    from kusto_pre_forge_spark.operators.corpus import _widen_for_fanout

    d = _widen_for_fanout(load_table(spark, sf, "documents")).select(
        did.alias("doc_id"), md.alias("md")
    )
    return tp.markdown_extract(d, "md", "doc_id")


def _q_docx_text_extract(spark, sf):
    """DOCX (ECMA-376) container roundtrip through the REAL parser:
    every document rendered as a spec-valid OPC package (stdlib zipfile
    — real ZIP central directory, content-types, rels) with one
    wordprocessingml paragraph per text line, then parsed back via
    sources.docx.parse_docx_blobs. XML escaping/unescaping and ZIP
    inflate are on the hook; the oracle is the identity over documents
    (the layer is lossless by construction, pinned here). Two pure map
    stages plus the widen re-split of a one-footer test scan."""
    import pandas as pd

    from kusto_pre_forge_spark.sources import docx as X

    from kusto_pre_forge_spark.operators.corpus import _widen_for_fanout

    d = _widen_for_fanout(
        load_table(spark, sf, "documents").select("doc_id", "text")
    )

    def forge(it):
        for pdf in it:
            paths, blobs = [], []
            for i, t in zip(pdf["doc_id"], pdf["text"]):
                paths.append(f"mem://doc/{int(i)}.docx")
                blobs.append(X.docx_bytes(t if isinstance(t, str) else ""))
            yield pd.DataFrame({"path": paths, "content": blobs})

    blobs = d.mapInPandas(forge, "path string, content binary")
    parsed = X.parse_docx_blobs(blobs)
    return parsed.select(
        F.regexp_extract("_kpf_source", r"([0-9]+)\.docx$", 1)
        .cast("long")
        .alias("doc_id"),
        "text",
        F.col("n_paragraphs").cast("int").alias("n_paragraphs"),
    )


def _q_ipynb_cells_extract(spark, sf):
    """Jupyter notebook roundtrip through the REAL nbformat reader:
    every document becomes a 3-cell notebook (markdown carrying the
    first 100 chars of the doc text in the spec's keep-newline
    line-list form, a deterministic code cell, a raw cell), then
    flattens back to per-cell rows. JSON framing, line-list
    normalization, kernel-language metadata, and cell ordering are on
    the hook; the oracle replays the forge closed-form. Two pure map
    stages plus the widen re-split of a one-footer test scan."""
    import pandas as pd

    from kusto_pre_forge_spark.sources import ipynb as N

    from kusto_pre_forge_spark.operators.corpus import _widen_for_fanout

    d = _widen_for_fanout(
        load_table(spark, sf, "documents").select("doc_id", "text")
    )

    def forge(it):
        for pdf in it:
            paths, blobs = [], []
            for i, t in zip(pdf["doc_id"], pdf["text"]):
                t = t if isinstance(t, str) else ""
                cells = [
                    ("markdown", t[:100]),
                    ("code", f"def f_{int(i)}():\n    return {int(i)}"),
                    ("raw", "meta"),
                ]
                paths.append(f"mem://nb/{int(i)}.ipynb")
                blobs.append(N.ipynb_bytes(cells))
            yield pd.DataFrame({"path": paths, "content": blobs})

    blobs = d.mapInPandas(forge, "path string, content binary")
    parsed = N.parse_ipynb_blobs(blobs)
    return parsed.select(
        F.regexp_extract("_kpf_source", r"([0-9]+)\.ipynb$", 1)
        .cast("long")
        .alias("doc_id"),
        F.col("cell_idx").cast("int").alias("cell_idx"),
        "cell_type",
        "source",
        F.col("n_lines").cast("int").alias("n_lines"),
        "language",
    )


def _q_pipeline_pdf_extract(spark, sf):
    """The PDF half of the crawl-input pipeline end-to-end: forge →
    sources.pdf parse → per-doc page reassembly (order-pinned) → token
    gate — the pdf sibling of pipeline_crawl_extract, proving the PDF
    front composes into the same doc-prep gates. Plan: two mapInPandas
    map stages + ONE exchange (the per-doc reassembly groupBy — pages of
    one doc must meet; at 100 TB this shuffles extracted text, not PDF
    bytes). The oracle is closed-form: reassembled text equals the
    original document text, so the gate replays directly on documents."""
    from kusto_pre_forge_spark.operators import textstats as ts

    parsed = _q_pdf_text_extract(spark, sf)
    docs = parsed.groupBy("doc_id").agg(
        F.concat_ws(
            "",
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("page_no", "page_text"))
                ),
                lambda s: s["page_text"],
            ),
        ).alias("text"),
        F.max("n_pages").cast("int").alias("n_pages"),
    )
    return docs.select(
        "doc_id",
        "n_pages",
        ts.token_count(F.col("text")).cast("long").alias("n_tokens"),
    ).filter(F.col("n_tokens") >= 10)


def _q_corpus_autoextract(spark, sf):
    """The mixed-dump front door: each document forged into ONE of
    EIGHT real blob kinds by doc_id % 8 (PDF, DOCX, notebook, WARC
    response, plain text, RTF, bz2-compressed MediaWiki dump, WET
    conversion sidecar), then routed by MAGIC-BYTE sniffing — not the
    path — through sources.autoextract.extract_text_blobs to a unified
    (kind, text) frame. The oracle predicts both columns closed-form
    (each container roundtrip is lossless, pinned by its own query).
    Two pure map stages above the widen re-split."""
    import pandas as pd

    from kusto_pre_forge_spark.operators.corpus import _widen_for_fanout
    from kusto_pre_forge_spark.sources import autoextract as A
    from kusto_pre_forge_spark.sources import docx as X
    from kusto_pre_forge_spark.sources import ipynb as N
    from kusto_pre_forge_spark.sources import mediawiki as MW
    from kusto_pre_forge_spark.sources import pdf as P
    from kusto_pre_forge_spark.sources import rtf as R
    from kusto_pre_forge_spark.sources import warc as W

    d = _widen_for_fanout(
        load_table(spark, sf, "documents").select("doc_id", "text")
    )

    def forge(it):
        for pdf in it:
            paths, blobs = [], []
            for i, t in zip(pdf["doc_id"], pdf["text"]):
                t = t if isinstance(t, str) else ""
                m = int(i) % 8
                # extension deliberately wrong/absent — content decides
                paths.append(f"mem://blob/{int(i)}.bin")
                if m == 0:
                    blobs.append(P.pdf_bytes([t]))
                elif m == 1:
                    blobs.append(X.docx_bytes(t))
                elif m == 2:
                    blobs.append(N.ipynb_bytes([("code", t)]))
                elif m == 3:
                    blobs.append(
                        W.write_warc(
                            [W.warc_record_bytes(f"https://e.com/{int(i)}",
                                                 t.encode("utf-8"))]
                        )
                    )
                elif m == 4:
                    blobs.append(t.encode("utf-8"))
                elif m == 5:
                    blobs.append(R.rtf_bytes(t))
                elif m == 6:
                    blobs.append(
                        MW.mediawiki_bytes(
                            [dict(title=f"P{int(i)}", ns=0,
                                  page_id=int(i), text=t)],
                            compress="bz2",
                        )
                    )
                else:  # WET conversion sidecar (no HTTP message)
                    blobs.append(
                        W.write_warc(
                            [
                                W.warc_record_bytes(
                                    f"https://e.com/{int(i)}",
                                    b"software: forge",
                                    warc_type="warcinfo",
                                    content_type="application/warc-fields",
                                ),
                                W.warc_record_bytes(
                                    f"https://e.com/{int(i)}",
                                    t.encode("utf-8"),
                                    warc_type="conversion",
                                    content_type="text/plain",
                                ),
                            ],
                            gzip_per_record=True,
                        )
                    )
            yield pd.DataFrame({"path": paths, "content": blobs})

    blobs = d.mapInPandas(forge, "path string, content binary")
    out = A.extract_text_blobs(blobs)
    return out.select(
        F.regexp_extract("_kpf_source", r"([0-9]+)\.bin$", 1)
        .cast("long")
        .alias("doc_id"),
        "kind",
        "text",
    )


def _q_pipeline_audio_asr(spark, sf):
    """The ASR escape hatch end-to-end (audio twin of
    pipeline_pdf_ocr): each document forges as a real PCM16 WAV (one of
    four deterministic 160-sample waveforms by doc_id % 4), the REAL
    wav decode recovers the samples, and the deterministic stub
    transcribes them — frozen transcript vectors in the oracle pin the
    decode + canonicalization chain; the whisper arm stays an
    import-try on the executors."""
    import pandas as pd

    from kusto_pre_forge_spark.operators import mediacodec as MC
    from kusto_pre_forge_spark.operators import multimodal as MM
    from kusto_pre_forge_spark.operators.corpus import _widen_for_fanout

    d = _widen_for_fanout(load_table(spark, sf, "documents").select("doc_id"))

    def _pattern(k: int, n: int = 160) -> list:
        return [
            ((i * (k + 3) * 37 + k * 1001) % 20001) - 10000 for i in range(n)
        ]

    def forge(it):
        for pdf in it:
            ids, blobs = [], []
            for i in pdf["doc_id"]:
                i = int(i)
                ids.append(i)
                blobs.append(MC.encode_wav(8000, _pattern(i % 4)))
            yield pd.DataFrame({"doc_id": ids, "blob": blobs})

    wavs = d.mapInPandas(forge, "doc_id long, blob binary")
    return MM.asr_text(wavs, "blob", "doc_id", engine="stub").select(
        "doc_id", "asr_text", "asr_engine", "n_samples"
    )


def _q_subtitles_extract(spark, sf):
    """Timed-text roundtrip through the REAL SRT/WebVTT parser: even
    doc_ids forge as SRT, odd as WebVTT (dot timestamps, NOTE block,
    cue settings — all must parse/skip correctly), two cues each with
    id-derived millisecond timings. Oracle replays timings as
    total_ms/1000.0 (the parser's exact arithmetic) and cue text
    closed-form. Pure map stages."""
    import pandas as pd

    from kusto_pre_forge_spark.operators.corpus import _widen_for_fanout
    from kusto_pre_forge_spark.sources import subtitles as SB

    d = _widen_for_fanout(
        load_table(spark, sf, "documents").select("doc_id", "text")
    )

    def forge(it):
        for pdf in it:
            paths, blobs = [], []
            for i, t in zip(pdf["doc_id"], pdf["text"]):
                i = int(i)
                t = (t if isinstance(t, str) else "").replace("\n", " ")
                cues = [
                    ((i % 3600) * 1000, (i % 3600) * 1000 + 1500, t[:80]),
                    (7_200_000 + i % 1000, 7_200_500 + i % 1000,
                     f"cue two of {i}"),
                ]
                writer = SB.srt_bytes if i % 2 == 0 else SB.vtt_bytes
                paths.append(f"mem://subs/{i}.dat")
                blobs.append(writer(cues))
            yield pd.DataFrame({"path": paths, "content": blobs})

    blobs = d.mapInPandas(forge, "path string, content binary")
    parsed = SB.parse_subtitle_blobs(blobs)
    return parsed.select(
        F.regexp_extract("_kpf_source", r"([0-9]+)\.dat$", 1)
        .cast("long")
        .alias("doc_id"),
        F.col("cue_no").cast("int").alias("cue_no"),
        F.round("start_s", 3).alias("start_s"),
        F.round("end_s", 3).alias("end_s"),
        "text",
        "dialect",
    )


def _q_mail_mbox_extract(spark, sf):
    """Mail-corpus roundtrip through the REAL RFC 4155/5322 parser:
    each document forges as a two-message mbox (body one = the doc's
    first 120 chars — from-stuffing exercised wherever the text has a
    line starting 'From '; body two derived from the id), parsed back
    via stdlib email. Closed-form oracle (trailing newlines rtrim to
    the parser's canonical form). Pure map stages."""
    import pandas as pd

    from kusto_pre_forge_spark.operators.corpus import _widen_for_fanout
    from kusto_pre_forge_spark.sources import mail as ML

    d = _widen_for_fanout(
        load_table(spark, sf, "documents").select("doc_id", "text")
    )

    def forge(it):
        for pdf in it:
            paths, blobs = [], []
            for i, t in zip(pdf["doc_id"], pdf["text"]):
                i = int(i)
                t = t if isinstance(t, str) else ""
                paths.append(f"mem://mail/{i}.mbox")
                blobs.append(
                    ML.mbox_bytes(
                        [
                            {
                                "subject": f"doc {i} part 0",
                                "from_addr": f"user{i}@example.org",
                                "date": "",
                                "body": t[:120],
                            },
                            {
                                "subject": f"doc {i} part 1",
                                "from_addr": f"user{i}@example.org",
                                "date": "",
                                "body": f"part two of {i}",
                            },
                        ]
                    )
                )
            yield pd.DataFrame({"path": paths, "content": blobs})

    blobs = d.mapInPandas(forge, "path string, content binary")
    parsed = ML.parse_mail_blobs(blobs)
    return parsed.select(
        F.regexp_extract("_kpf_source", r"([0-9]+)\.mbox$", 1)
        .cast("long")
        .alias("doc_id"),
        F.col("msg_no").cast("int").alias("msg_no"),
        "subject",
        "from_addr",
        "body",
    )


def _q_epub_text_extract(spark, sf):
    """EPUB container roundtrip through the REAL OCF parser: each
    document forges as a spec-valid ebook (stored-mimetype magic,
    container.xml → OPF → spine; one chapter when the text fits 150
    chars, two otherwise — written in REVERSED member-name order so
    only spine resolution passes), parsed back to spine-ordered raw
    XHTML. Closed-form oracle replays the chapter split + wrapper.
    Pure map stages both ways."""
    import pandas as pd

    from kusto_pre_forge_spark.operators.corpus import _widen_for_fanout
    from kusto_pre_forge_spark.sources import epub as EP

    d = _widen_for_fanout(
        load_table(spark, sf, "documents").select("doc_id", "text")
    )

    def forge(it):
        for pdf in it:
            paths, blobs = [], []
            for i, t in zip(pdf["doc_id"], pdf["text"]):
                t = t if isinstance(t, str) else ""
                chapters = [t] if len(t) <= 150 else [t[:150], t[150:]]
                paths.append(f"mem://book/{int(i)}.epub")
                blobs.append(EP.epub_bytes(chapters))
            yield pd.DataFrame({"path": paths, "content": blobs})

    blobs = d.mapInPandas(forge, "path string, content binary")
    parsed = EP.parse_epub_blobs(blobs)
    return parsed.select(
        F.regexp_extract("_kpf_source", r"([0-9]+)\.epub$", 1)
        .cast("long")
        .alias("doc_id"),
        F.col("chapter_no").cast("int").alias("chapter_no"),
        "html",
    )


def _q_corpus_archive_extract(spark, sf):
    """Archive-bundle expansion through the mixed-dump front door
    (round-11: closes the front door's one silent data drop — generic
    archives previously surfaced as ('zip', None)). Each document is
    bundled into a REAL archive — tar.gz for even doc_ids, zip for odd
    — holding three members: a plain-text file, a second text file
    derived from the id, and a classic-layout PDF. extract_text_blobs
    expands one row PER MEMBER (``_kpf_source = "<blob>!<member>"``),
    each member re-sniffed by magic bytes, so the PDF member extracts
    AS a PDF. Oracle predicts all three rows per document closed-form
    (text members verbatim, the PDF via its pinned lossless roundtrip).
    Pure map stages above the widen re-split — zero joins, zero
    aggregates; at 100 TB this is the same one-task-per-bundle shape
    as the WARC crawl front. Reference parity: the reference's
    DataSourceFormat handles single-blob formats only
    (Kusto/DataFormat.cs) — bundles are an extension the reference's
    own users unpack out-of-band."""
    import gzip as _gz
    import io
    import tarfile
    import zipfile

    import pandas as pd

    from kusto_pre_forge_spark.operators.corpus import _widen_for_fanout
    from kusto_pre_forge_spark.sources import autoextract as A
    from kusto_pre_forge_spark.sources import pdf as P

    d = _widen_for_fanout(
        load_table(spark, sf, "documents").select("doc_id", "text")
    )

    def forge(it):
        for pdf in it:
            paths, blobs = [], []
            for i, t in zip(pdf["doc_id"], pdf["text"]):
                i = int(i)
                t = t if isinstance(t, str) else ""
                members = [
                    ("m0.txt", ("txt: " + t).encode("utf-8")),
                    ("m1.txt", f"part two of {i}".encode("utf-8")),
                    ("m2.pdf", P.pdf_bytes([t])),
                ]
                if i % 2 == 0:
                    buf = io.BytesIO()
                    with tarfile.open(fileobj=buf, mode="w") as tf:
                        for name, data in members:
                            ti = tarfile.TarInfo(name)
                            ti.size = len(data)
                            tf.addfile(ti, io.BytesIO(data))
                    blob = _gz.compress(buf.getvalue())
                else:
                    buf = io.BytesIO()
                    with zipfile.ZipFile(buf, "w") as zf:
                        for name, data in members:
                            zf.writestr(name, data)
                    blob = buf.getvalue()
                paths.append(f"mem://arch/{i}.bundle")
                blobs.append(blob)
            yield pd.DataFrame({"path": paths, "content": blobs})

    blobs = d.mapInPandas(forge, "path string, content binary")
    out = A.extract_text_blobs(blobs)
    return out.select(
        F.regexp_extract("_kpf_source", r"([0-9]+)\.bundle!", 1)
        .cast("long")
        .alias("doc_id"),
        F.substring_index("_kpf_source", "!", -1).alias("member"),
        "kind",
        "text",
    )


def _q_pipeline_pdf_route(spark, sf):
    """Scanned-PDF routing end-to-end (round-11 ask #3): every third
    document forges as an IMAGE-ONLY scanned PDF (/Subtype /Image
    XObject paint, zero show-text), the rest as classic text PDFs; the
    parser surfaces per-page n_chars + has_images and
    ``route_pdf_documents`` sends image-only docs to the multimodal
    arm instead of letting empty strings pass text quality gates for
    the wrong reason. Oracle is closed-form: doc_id%3==0 →
    ('multimodal', 0 chars, images), else text/empty by the document's
    own length. Two pure map stages + one per-source aggregate."""
    import pandas as pd

    from kusto_pre_forge_spark.operators.corpus import _widen_for_fanout
    from kusto_pre_forge_spark.sources import pdf as P

    d = _widen_for_fanout(
        load_table(spark, sf, "documents").select("doc_id", "text")
    )

    def forge(it):
        for pdf in it:
            paths, blobs = [], []
            for i, t in zip(pdf["doc_id"], pdf["text"]):
                i = int(i)
                t = t if isinstance(t, str) else ""
                paths.append(f"mem://scan/{i}.pdf")
                if i % 3 == 0:
                    blobs.append(P.pdf_bytes_scanned(n_pages=1 + i % 2))
                else:
                    blobs.append(P.pdf_bytes([t]))
            yield pd.DataFrame({"path": paths, "content": blobs})

    blobs = d.mapInPandas(forge, "path string, content binary")
    routed = P.route_pdf_documents(P.parse_pdf_blobs(blobs))
    return routed.select(
        F.regexp_extract("_kpf_source", r"([0-9]+)\.pdf$", 1)
        .cast("long")
        .alias("doc_id"),
        "n_pages",
        "n_chars",
        "has_images",
        "route",
    )


def _scanpdf_pattern(k: int, w: int = 16, h: int = 16) -> bytes:
    """The four deterministic 16×16 RGB textures the scanned-PDF forges
    rotate by doc_id % 4 — shared by pipeline_pdf_images and
    pipeline_pdf_ocr (and their oracles' pinned ground-truth vectors)."""
    px = bytearray()
    for y in range(h):
        for x in range(w):
            v = (x * x * 7 + y * y * 13 + k * 29 + x * y * (k + 3)) % 256
            px += bytes((v, (v * 3 + 50 * k) % 256, (255 - v + 17 * k) % 256))
    return bytes(px)


def _q_pipeline_pdf_decrypt(spark, sf):
    """Blank-password PDF decryption end-to-end (round-12, V5 added
    round-13): each document forges as an ENCRYPTED PDF — the standard
    security handler rotates by doc_id % 4 (R2/RC4-40, R3/RC4-128, R4
    crypt-filter RC4, R4 crypt-filter AES-128-CBC — real AESV2, the
    Acrobat 7+ default); every fifth document uses the V5 AES-256
    handler instead (R5/AESV3 at doc_id%10=5, R6/PDF-2.0 Algorithm 2.B
    at doc_id%10=0 — fixed salts, so the expensive 2.B chain caches
    once per worker); and doc_id%10=7 carries an unvalidatable V5 dict
    (the real-password stand-in). Blank-password documents extract
    losslessly through Algorithm-2 / hash-2.B key derivation +
    per-object RC4 / AES-128 / direct-key AES-256 (ISO 32000
    §7.6.2-4); real-password docs refuse by name and quarantine to
    zero pages in skip mode. Oracle is closed-form: doc_id%10=7 → 0
    pages / 'refused', the rest roundtrip their own text length. Pure
    map stages — decryption is per-blob arithmetic, no shuffle."""
    import pandas as pd

    from kusto_pre_forge_spark.operators.corpus import _widen_for_fanout
    from kusto_pre_forge_spark.sources import pdf as P

    d = _widen_for_fanout(
        load_table(spark, sf, "documents").select("doc_id", "text")
    )

    def forge_and_extract(it):
        for pdf in it:
            rows = []
            for i, t in zip(pdf["doc_id"], pdf["text"]):
                i = int(i)
                t = t if isinstance(t, str) else ""
                if i % 10 == 7:
                    blob = P.pdf_bytes_encrypted([t], v5_marker=True)
                elif i % 5 == 0:
                    blob = P.pdf_bytes_encrypted(
                        [t], r=6 if i % 10 == 0 else 5
                    )
                else:
                    r = (2, 3, 4, 4)[i % 4]
                    blob = P.pdf_bytes_encrypted(
                        [t], r=r, aes=i % 4 == 3
                    )
                pages = P.extract_pdf_pages(blob)  # skip mode
                enc = P.pdf_encryption(blob)
                rows.append(
                    {
                        "doc_id": i,
                        "n_pages": len(pages),
                        "n_chars": sum(len(p) for p in pages),
                        "enc_class": (
                            "decryptable" if enc == "decryptable" else "refused"
                        ),
                    }
                )
            yield pd.DataFrame(
                rows,
                columns=["doc_id", "n_pages", "n_chars", "enc_class"],
            )

    return d.mapInPandas(
        forge_and_extract,
        "doc_id long, n_pages int, n_chars long, enc_class string",
    )


def _q_pipeline_pdf_images(spark, sf):
    """The scanned-PDF → multimodal HAND-OFF made real (round-11): each
    document forges as a scanned PDF whose image XObject carries REAL
    Flate-compressed RGB pixels (one of four deterministic 16×16
    textures by doc_id % 4), extract_pdf_images pulls the decoded
    samples back out, mediacodec.encode_png re-containers them, and
    multimodal.image_phash computes the perceptual hash the dedup
    family banding consumes. The oracle pins the four pattern hashes as
    literal ground-truth vectors (the kql_punycode posture): any
    regression in the PDF image walk, the Flate decode, the PNG codec,
    or the DCT hash breaks the match. All pure map stages."""
    import pandas as pd

    from kusto_pre_forge_spark.operators.corpus import _widen_for_fanout

    d = _widen_for_fanout(
        load_table(spark, sf, "documents").select("doc_id")
    )

    def fused(it):
        # forge → image walk → PNG re-container → pHash in ONE Arrow map
        # stage (r14 guide §4: the four chained mapInPandas each paid a
        # JVM↔Python crossing and its own 32-process worker pool for
        # ~1 ms/doc of actual work; same per-blob library calls, one
        # boundary). Imports inside: once per worker, not per batch.
        from kusto_pre_forge_spark.operators import mediacodec as MC
        from kusto_pre_forge_spark.operators import multimodal as MM
        from kusto_pre_forge_spark.sources import pdf as P

        for pdf in it:
            rows = []
            for i in pdf["doc_id"]:
                i = int(i)
                blob = P.pdf_bytes_scanned(
                    1, pixels=_scanpdf_pattern(i % 4), width=16, height=16
                )
                for img in P.extract_pdf_images(blob):
                    png = MC.encode_png(
                        int(img["width"]), int(img["height"]),
                        bytes(img["data"]), 3,
                    )
                    ph, w, h = MM.phash_bytes(png)
                    rows.append(
                        {"doc_id": i, "phash": ph, "width": w, "height": h}
                    )
            out = pd.DataFrame(
                rows, columns=["doc_id", "phash", "width", "height"]
            )
            out["phash"] = out["phash"].astype("Int64")
            yield out

    return d.mapInPandas(
        fused, "doc_id long, phash long, width int, height int"
    )


def _q_pipeline_pdf_ocr(spark, sf):
    """The OCR escape hatch end-to-end (scanned PDF → image walk → PNG
    → ocr_text): the recognition model is the clearly-marked stub (this
    container ships no OCR library; engine='tesseract' raises naming
    the dependency, 'auto' routes per-worker), but every OTHER stage is
    real — the PDF image extraction, the Flate pixel decode, the PNG
    codec, and the Arrow plumbing — and the stub is DETERMINISTIC
    (sha256 of decoded pixels → pseudo-words), so the oracle pins the
    four texture transcripts as frozen vectors."""
    import pandas as pd

    from kusto_pre_forge_spark.operators.corpus import _widen_for_fanout

    d = _widen_for_fanout(load_table(spark, sf, "documents").select("doc_id"))

    def fused(it):
        # forge → image walk → PNG → stub OCR in ONE Arrow map stage
        # (same fusion as pipeline_pdf_images; same per-blob calls).
        from kusto_pre_forge_spark.operators import mediacodec as MC
        from kusto_pre_forge_spark.operators import multimodal as MM
        from kusto_pre_forge_spark.sources import pdf as P

        for pdf in it:
            ids, texts, engines, chars = [], [], [], []
            for i in pdf["doc_id"]:
                i = int(i)
                blob = P.pdf_bytes_scanned(
                    1, pixels=_scanpdf_pattern(i % 4), width=16, height=16
                )
                for img in P.extract_pdf_images(blob):
                    png = MC.encode_png(
                        int(img["width"]), int(img["height"]),
                        bytes(img["data"]), 3,
                    )
                    text, use = MM.ocr_blob(png, engine="stub")
                    ids.append(i)
                    texts.append(text)
                    engines.append(use)
                    chars.append(len(text))
            yield pd.DataFrame(
                {
                    "doc_id": pd.array(ids, dtype="Int64"),
                    "ocr_text": texts,
                    "ocr_engine": engines,
                    "n_chars": pd.array(chars, dtype="Int32"),
                }
            )

    return d.mapInPandas(
        fused, "doc_id long, ocr_text string, ocr_engine string, n_chars int"
    )


def _q_pipeline_multiformat_extract(spark, sf):
    """The document-container front end-to-end, cross-checked: every
    document is rendered into THREE real containers — a WARC-wrapped
    HTML page, a (classic-layout) PDF, and a DOCX package — each parsed
    back by its REAL reader, and the three extracted texts are compared
    per document. Output is (doc_id, n_formats, consistent): the oracle
    PREDICTS (doc_id, 3, true) for every doc, so any parser or forge
    regression in any of the three fronts breaks the hash. ONE fused
    forge+parse map stage (r14: the three per-format branches each
    re-ran the forge subtree — 3× the work for the same rows) + the
    conditional html_extract projection + one per-doc aggregate
    exchange."""
    import pandas as pd

    from kusto_pre_forge_spark.operators import textprep as tp
    from kusto_pre_forge_spark.operators.corpus import _widen_for_fanout

    d = _widen_for_fanout(
        load_table(spark, sf, "documents").select("doc_id", "text")
    )

    def fused(it):
        # forge all three containers AND parse each back with its real
        # reader in one Arrow map stage — same per-blob library calls
        # the branched parse_*_blobs operators make
        from kusto_pre_forge_spark.sources import docx as X
        from kusto_pre_forge_spark.sources import pdf as P
        from kusto_pre_forge_spark.sources import warc as W

        for pdf in it:
            ids, fmts, ts = [], [], []
            for i, t in zip(pdf["doc_id"], pdf["text"]):
                i = int(i)
                t = t if isinstance(t, str) else ""
                html = (_HTML_PAGE_PRE + t + _HTML_PAGE_POST).encode("utf-8")
                wblob = W.write_warc(
                    [W.warc_record_bytes(f"https://e.com/{i}", html)]
                )
                for row in W.records_to_rows(
                    f"mem://{i}.warc", wblob, ("response",)
                ):
                    ids.append(i)
                    fmts.append("html")
                    ts.append(row["payload_text"])
                for info in P.extract_pdf_page_infos(P.pdf_bytes([t])):
                    ids.append(i)
                    fmts.append("pdf")
                    ts.append(info["text"])
                dtext, _n = X.extract_docx_text(X.docx_bytes(t))
                ids.append(i)
                fmts.append("docx")
                ts.append(dtext)
            yield pd.DataFrame(
                {
                    "doc_id": pd.array(ids, dtype="Int64"),
                    "fmt": fmts,
                    "t": ts,
                }
            )

    rows = d.mapInPandas(fused, "doc_id long, fmt string, t string")
    h = tp.html_extract_struct(F.when(F.col("fmt") == "html", F.col("t")))
    t2 = F.when(F.col("fmt") == "html", h["content"]).otherwise(F.col("t"))
    # html_extract collapses whitespace runs inside the body block, so
    # normalize all three the same way before comparing
    u = rows.select(
        "doc_id", F.trim(F.regexp_replace(t2, r"\s+", " ")).alias("t")
    )
    return u.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("int").alias("n_formats"),
        (F.count_distinct("t") == 1).alias("consistent"),
    )


def _q_multimodal_dedup_recall(spark, sf):
    """Recall/efficiency harness for perceptual-hash (pHash/dHash)
    banding — lsh_candidate_recall's sibling for hamming_pairs. Fixture
    fingerprints are closed-form arithmetic (three far-apart group bases
    XOR a contiguous low-bit flip mask derived from doc_id), so BOTH
    engines compute the exact ≤3-Hamming pair set and the banding
    candidate set directly — the oracle replays every number, floors
    included, with no predictive bounds. chunks=4 > max_hamming
    (pigeonhole: recall must MEASURE 1.0); chunks=2 trades cheaper
    banding for real misses the harness quantifies."""
    from kusto_pre_forge_spark.operators import dedup as dedup_ops

    d = (
        load_table(spark, sf, "documents")
        .filter(F.col("doc_id") < 120)
        .select(F.col("doc_id").cast("long").alias("doc_id"))
    )
    base = (
        F.when(F.col("doc_id") % 3 == 0, F.lit(0).cast("long"))
        .when(F.col("doc_id") % 3 == 1, F.lit(0x1555555555555555).cast("long"))
        .otherwise(F.lit(0x0F0F0F0F00FF00FF).cast("long"))
    )
    # SQL-form shiftleft: the Python wrapper only takes a literal shift
    flip = F.expr(
        "shiftleft(shiftleft(1L, CAST(doc_id % 5 AS INT)) - 1L, "
        "CAST((doc_id % 13) * 4 AS INT))"
    )
    fps = d.select("doc_id", base.bitwiseXOR(flip).alias("fp"))

    def variant(chunks, name):
        return dedup_ops.hamming_candidate_recall(
            fps, "fp", "doc_id", max_hamming=3, chunks=chunks
        ).select(F.lit(name).alias("variant"), "*")

    return variant(4, "c4").unionByName(variant(2, "c2"))


def _q_pipeline_crawl_extract(spark, sf):
    """The crawl-input pipeline end-to-end: every document rendered as a
    full HTML page (chrome and all) inside a WARC response record with
    per-record gzip members (the Common Crawl layout), then WARC parse →
    HTML main-content extraction → keep pages with extracted content →
    token count. Composes the round-9 crawl front (sources/warc +
    textprep.html_extract); both stages are pure map stages, so the plan
    is two mapInPandas + one codegen projection, zero exchanges. The
    oracle replays the HTML chain over the same page bytes (the WARC
    layer is separately proven lossless by warc_parse)."""
    import pandas as pd

    from kusto_pre_forge_spark.operators import textprep as tp
    from kusto_pre_forge_spark.operators import textstats as ts
    from kusto_pre_forge_spark.sources import warc as W

    from kusto_pre_forge_spark.operators.corpus import _widen_for_fanout

    d = _widen_for_fanout(
        load_table(spark, sf, "documents").select("doc_id", "text")
    )

    def forge(it):
        # one blob per ~64 docs (not per Arrow batch): the benched parse
        # stage's task count then reflects the OPERATOR's parallelism,
        # not the fixture's partition count (r9 verdict note)
        per_blob = 64
        for pdf in it:
            paths, blobs_out = [], []
            for lo in range(0, len(pdf), per_blob):
                chunk = pdf.iloc[lo : lo + per_blob]
                recs = [
                    W.warc_record_bytes(
                        f"https://example.com/doc/{int(i)}",
                        (
                            _HTML_PAGE_PRE
                            + (t if isinstance(t, str) else "")
                            + _HTML_PAGE_POST
                        ).encode("utf-8"),
                    )
                    for i, t in zip(chunk["doc_id"], chunk["text"])
                ]
                paths.append(f"mem://crawl-{int(chunk['doc_id'].iloc[0])}.warc.gz")
                blobs_out.append(W.write_warc(recs, gzip_per_record=True))
            yield pd.DataFrame({"path": paths, "content": blobs_out})

    blobs = d.mapInPandas(forge, "path string, content binary")
    pages = W.parse_warc_blobs(blobs).select(
        F.regexp_extract("target_uri", r"([0-9]+)$", 1)
        .cast("long")
        .alias("doc_id"),
        F.col("payload_text").alias("html"),
    )
    ext = tp.html_extract(pages, "html", "doc_id")
    return ext.filter(F.col("n_kept") >= 1).select(
        "doc_id",
        "content",
        ts.token_count(F.col("content")).cast("long").alias("n_tokens"),
    )


_URL_BLOCKLIST = ["src1.example.com", "src3.example.com", "src15.example.com",
                  "spam.example.org"]


def _q_corpus_url_blocklist(spark, sf):
    """URL domain-blocklist filter — the crawl-hygiene gate C4/Gopher
    apply before any text filter. Synthetic per-doc URLs put every host
    one subdomain BELOW its blocklist entry (www.srcN.example.com vs
    srcN.example.com), so the match must be suffix-at-label-boundary,
    not equality. Plan: suffix explode (≤6 rows/host) + broadcast semi
    join + broadcast anti join back — the corpus never shuffles."""
    from kusto_pre_forge_spark.operators import textprep as tp

    d = load_table(spark, sf, "documents").select(
        "doc_id",
        F.concat(
            F.lit("https://www."),
            F.col("source"),
            F.lit(".example.com/doc/"),
            F.col("doc_id"),
        ).alias("url"),
    )
    bl = spark.createDataFrame([(x,) for x in _URL_BLOCKLIST], "domain string")
    return tp.domain_blocklist_filter(d, "url", bl).select("doc_id", "url")


def _code_corpus_frame(spark, sf):
    """Deterministic code-file forge over documents, closed-form in both
    engines: doc_id % 9 picks the file kind (7 extensions + an
    extensionless bash-shebang script + an unknown '.xyz'), doc_id % 5
    injects an auto-generated header, % 3 an SPDX line, % 11 a
    1200-char separator line (long-line + alnum violations); the doc
    text rides along as the variable-length payload."""
    did = F.col("doc_id").cast("long")
    m = did % 9
    suffix = (
        F.when(m == 0, ".py").when(m == 1, ".js").when(m == 2, ".go")
        .when(m == 3, ".java").when(m == 4, ".rs").when(m == 5, ".rb")
        .when(m == 6, ".c").when(m == 7, "").otherwise(".xyz")
    )
    content = F.concat(
        F.when(m == 7, F.lit("#!/usr/bin/env bash\n")).otherwise(F.lit("")),
        F.when(did % 5 == 0, F.lit("// Auto-Generated by kpf-codegen. DO NOT EDIT.\n")).otherwise(F.lit("")),
        F.when(did % 3 == 0, F.lit("// SPDX-License-Identifier: Apache-2.0\n")).otherwise(F.lit("")),
        F.lit("def f_"), did.cast("string"), F.lit("():\n    return "),
        did.cast("string"), F.lit("\n"),
        F.substring(F.coalesce(F.col("text"), F.lit("")), 1, 240),
        F.when(did % 11 == 0, F.concat(F.lit("\n"), F.expr("repeat('=', 1200)"))).otherwise(F.lit("")),
    )
    from kusto_pre_forge_spark.operators.corpus import _widen_for_fanout

    return _widen_for_fanout(load_table(spark, sf, "documents")).select(
        did.alias("doc_id"),
        F.concat(F.lit("repo/src/file_"), did.cast("string"), suffix).alias("path"),
        content.alias("content"),
    )


def _q_code_quality(spark, sf):
    """The Stack / StarCoder per-file code-quality signals over a forged
    code corpus: language by extension + shebang, line-length profile,
    alnum fraction, auto-generated-header flag, SPDX license id, and the
    ANDed pass flag. One codegen scan projection (no UDF, no shuffle);
    the oracle replays both the forge and every signal closed-form, with
    the language CASE and rule conditions as engine-shared SQL strings
    (codestats.code_lang_case_sql / CODE_RULE_SQL)."""
    from kusto_pre_forge_spark.operators import codestats as cs

    return cs.code_quality(_code_corpus_frame(spark, sf))


def _q_code_license_gate(spark, sf):
    """The Stack's release rule end-to-end (round-12): a forged code
    corpus rotates its SPDX header by doc_id % 5 (MIT / Apache-2.0 /
    GPL-3.0-only / none / BSD-3-Clause); ``license_gate`` keeps the
    permissive slice and ``license_attribution`` accounts for every
    license — kept AND excluded — with exact doc/byte counts for the
    datacard. The result joins both: per license, the attribution row
    plus how many docs survived the gate (n_docs when allowed, else 0
    — the join pins gate and attribution against each other). One
    codegen projection + two tiny aggregates + one broadcast join."""
    from kusto_pre_forge_spark.operators import codestats as cs

    did = F.col("doc_id").cast("long")
    lic = (
        F.when(did % 5 == 0, "MIT")
        .when(did % 5 == 1, "Apache-2.0")
        .when(did % 5 == 2, "GPL-3.0-only")
        .when(did % 5 == 3, F.lit(None).cast("string"))
        .otherwise("BSD-3-Clause")
    )
    content = F.concat(
        F.when(
            lic.isNotNull(),
            F.concat(F.lit("// SPDX-License-Identifier: "), lic, F.lit("\n")),
        ).otherwise(F.lit("")),
        F.lit("int main() { return "),
        did.cast("string"),
        F.lit("; }\n"),
        F.substring(F.coalesce(F.col("text"), F.lit("")), 1, 240),
    )
    from kusto_pre_forge_spark.operators.corpus import _widen_for_fanout

    corpus = _widen_for_fanout(load_table(spark, sf, "documents")).select(
        did.alias("doc_id"), content.alias("content")
    )
    attr = cs.license_attribution(corpus)
    gated = (
        cs.license_gate(corpus)
        .groupBy(F.col("spdx_license_id").alias("license"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_gated"))
    )
    return attr.join(F.broadcast(gated), "license", "left").select(
        "license",
        "allowed",
        "n_docs",
        "n_bytes",
        F.coalesce(F.col("n_gated"), F.lit(0).cast("long")).alias("n_gated"),
    )


def _q_corpus_robots_gate(spark, sf):
    """robots.txt compliance gate end-to-end (round-12, RFC 9309):
    five forged site policies exercise longest-match precedence (Allow
    /public/ beats Disallow /), agent-specific group selection (site2
    defines a mybot group that overrides its deny-all star group),
    ``$``-anchored wildcards, and default-allow; documents carry URLs
    rotated over (domain %5, path %4). The rule table broadcasts; the
    verdict is one rank window over matched rules per URL. Oracle is
    the 5×4 closed-form verdict matrix."""
    from kusto_pre_forge_spark.operators import robots as R

    from kusto_pre_forge_spark.operators.corpus import _widen_for_fanout

    robots_df = spark.createDataFrame(
        [
            ("site0.example", "User-agent: *\nDisallow: /private/"),
            ("site1.example",
             "User-agent: *\nDisallow: /\nAllow: /public/"),
            ("site2.example",
             "User-agent: mybot\nDisallow: /mybot-only/\n\n"
             "User-agent: *\nDisallow: /"),
            ("site3.example", "User-agent: *\nDisallow: /*.pdf$"),
            ("site4.example", "# empty policy"),
        ],
        "domain string, robots_txt string",
    )
    rules = R.robots_rules(robots_df)
    did = F.col("doc_id").cast("long")
    path = (
        F.when(did % 4 == 0, "/public/doc")
        .when(did % 4 == 1, "/private/x")
        .when(did % 4 == 2, "/paper.pdf")
        .otherwise("/ok")
    )
    docs = _widen_for_fanout(load_table(spark, sf, "documents")).select(
        did.alias("doc_id"),
        F.concat(
            F.lit("https://site"),
            (did % 5).cast("string"),
            F.lit(".example"),
            path,
        ).alias("url"),
    )
    return R.robots_gate(docs, rules, agent="mybot", keep_col="kept").select(
        "doc_id", "url", "kept"
    )


def _q_corpus_code_attribution(spark, sf):
    """Per-(language, rule) attribution for the code-quality rules —
    gopher/c4 attribution's code twin: n_fail and n_fail_only per rule,
    grouped by assigned language ('unknown' for NULL). The calibration
    read before filtering a code corpus at scale."""
    from kusto_pre_forge_spark.operators import codestats as cs

    return cs.code_rule_attribution(_code_corpus_frame(spark, sf)).select(
        F.col("grp").alias("language"), "rule", "n_docs", "n_fail",
        "n_fail_only",
    )


def _q_corpus_filter_attribution(spark, sf):
    """Per-(source, rule) Gopher filter attribution: n_fail (docs this
    rule rejects) and n_fail_only (docs ONLY this rule rejects — the
    marginal cost of keeping it) — the calibration read before a 100 TB
    filter pass. One metric scan + a 7-struct explode + one map-side-
    combined aggregate; rule conditions are the same SQL strings in
    both engines (GOPHER_RULE_SQL via F.expr / embedded in the oracle)."""
    from kusto_pre_forge_spark.operators import textstats as ts

    d = load_table(spark, sf, "documents")
    return ts.gopher_rule_attribution(d, "text", "doc_id", "source").select(
        F.col("grp").alias("source"),
        "rule",
        "n_docs",
        "n_fail",
        "n_fail_only",
    )


def _q_corpus_c4_attribution(spark, sf):
    """Per-(source, rule) C4 filter attribution — the gopher
    attribution's twin over the other standard filter stack; same
    engine-shared rule strings (C4_RULE_SQL), same one-scan plan."""
    from kusto_pre_forge_spark.operators import textstats as ts

    d = load_table(spark, sf, "documents")
    return ts.c4_rule_attribution(d, "text", "doc_id", "source").select(
        F.col("grp").alias("source"), "rule", "n_docs", "n_fail",
        "n_fail_only",
    )


def _c4_attribution_oracle_sql() -> str:
    """Replay of corpus_c4_attribution: the c4 rule chain (shared
    generator, source carried) wrapped in per-rule pass flags — the
    SAME condition strings the Spark side evaluates — then one
    UNION-ALL long-format aggregate per rule."""
    from kusto_pre_forge_spark.operators.textstats import C4_RULE_SQL

    conds = {
        name: cond.format(min_sentences=3)
        for name, cond in C4_RULE_SQL.items()
    }
    flags = ", ".join(
        f"coalesce({c}, false) AS ok_{n}" for n, c in conds.items()
    )

    def rule_select(name: str) -> str:
        others = " AND ".join(f"ok_{o}" for o in C4_RULE_SQL if o != name)
        return (
            f"SELECT source, '{name}' AS rule, "
            "CAST(count(*) AS BIGINT) AS n_docs, "
            f"CAST(sum(CASE WHEN NOT ok_{name} THEN 1 ELSE 0 END) "
            "AS BIGINT) AS n_fail, "
            f"CAST(sum(CASE WHEN NOT ok_{name} AND {others} THEN 1 "
            "ELSE 0 END) AS BIGINT) AS n_fail_only FROM r GROUP BY source"
        )

    return (
        f"WITH cq AS MATERIALIZED ({_c4_oracle_sql('source')}), "
        f"r AS MATERIALIZED (SELECT source, {flags} FROM cq) "
        + " UNION ALL ".join(rule_select(n) for n in C4_RULE_SQL)
    )


def _gopher_attribution_oracle_sql() -> str:
    """Replay of corpus_filter_attribution: the gopher metric chain
    (shared generator, source carried) wrapped in per-rule pass flags —
    the SAME condition strings the Spark side evaluates — then one
    UNION-ALL long-format aggregate per rule."""
    from kusto_pre_forge_spark.operators.textstats import (
        GOPHER_RULE_DEFAULTS,
        GOPHER_RULE_SQL,
    )

    conds = {
        name: cond.format(**GOPHER_RULE_DEFAULTS)
        for name, cond in GOPHER_RULE_SQL.items()
    }
    flags = ", ".join(
        f"coalesce({c}, false) AS ok_{n}" for n, c in conds.items()
    )

    def rule_select(name: str) -> str:
        others = " AND ".join(
            f"ok_{o}" for o in GOPHER_RULE_SQL if o != name
        )
        return (
            f"SELECT source, '{name}' AS rule, "
            "CAST(count(*) AS BIGINT) AS n_docs, "
            f"CAST(sum(CASE WHEN NOT ok_{name} THEN 1 ELSE 0 END) "
            "AS BIGINT) AS n_fail, "
            f"CAST(sum(CASE WHEN NOT ok_{name} AND {others} THEN 1 "
            "ELSE 0 END) AS BIGINT) AS n_fail_only FROM r GROUP BY source"
        )

    return (
        f"WITH gq AS MATERIALIZED ({_gopher_oracle_sql('source')}), "
        f"r AS MATERIALIZED (SELECT source, {flags} FROM gq) "
        + " UNION ALL ".join(rule_select(n) for n in GOPHER_RULE_SQL)
    )


def _q_corpus_domain_shift(spark, sf):
    """Per-source Jensen-Shannon divergence vs the corpus-wide unigram
    distribution over a 512-bucket hashed feature space — the
    mixture-design diagnostic (high JSD = the source adds something
    different). B-bounded aggregates throughout; md5 buckets so the
    oracle replays the exact feature assignment; round-6 sums."""
    from kusto_pre_forge_spark.operators import corpus as corpus_ops

    d = load_table(spark, sf, "documents")
    return corpus_ops.domain_shift_jsd(
        d, "text", "source", n_buckets=512
    ).orderBy("source")


def _q_corpus_dsir_sample(spark, sf):
    """DSIR importance resampling (Xie et al. 2023): learn a hashed
    unigram+bigram log-ratio (target = 'en' docs vs the whole pool),
    weight every document, draw 100 by deterministic Gumbel top-k.
    Histogram aggregates are B-bounded, the log-ratio table broadcasts,
    and the top-k plans as TakeOrderedAndProject — no global sort."""
    from kusto_pre_forge_spark.operators import corpus as corpus_ops

    d = load_table(spark, sf, "documents")
    return corpus_ops.dsir_sample(
        d, None, k=100, target_filter=F.col("lang") == "en"
    )


def _q_corpus_epoch_upsample(spark, sf):
    """Fractional-epoch upsampling — 2.3 epochs of 'en', 0.7 of the rest;
    deterministic per-(doc, epoch) md5 threshold, zero shuffle."""
    from kusto_pre_forge_spark.operators import corpus as corpus_ops

    d = load_table(spark, sf, "documents")
    w = F.when(F.col("lang") == "en", F.lit(2.3)).otherwise(F.lit(0.7))
    out = corpus_ops.epoch_upsample(d.withColumn("_w", w), "doc_id", "_w")
    return out.select("doc_id", "lang", F.col("epoch").cast("long").alias("epoch"))


def _q_text_bpe(spark, sf):
    """Mini-BPE: train 6 merge rules on the corpus (one word-histogram
    collect, then the merge loop in the driver), then apply them as
    chained codegen regexp passes. Fully oracled: the DuckDB
    oracle replays BOTH the 6 training iterations (unrolled CTE chain,
    same argmax + tie-break) and the apply pass (double-space replace ==
    the greedy lookaround merge) — see _bpe_oracle_sql. The merge
    procedure is additionally pinned against hand-computed Sennrich
    vectors in tests/test_textprep.py."""
    from kusto_pre_forge_spark.operators import textprep

    d = load_table(spark, sf, "documents")
    merges = textprep.train_bpe(d, n_merges=6)
    return textprep.apply_bpe(d, merges).select(
        "doc_id", "n_words", "n_bpe_tokens", "sample_tokens"
    )


def _q_text_bpe_byte(spark, sf):
    """Byte-level BPE, the GPT-2 lineage (round-11: production vocabs
    are byte-level, not whitespace-Sennrich): pre-tokens from the TRUE
    GPT-2 regex (contractions, space-attachment, the ``\\s+(?!\\S)``
    whitespace lookahead — java.util.regex runs it natively), initial
    symbols are the pre-token's UTF-8 bytes through the
    bytes_to_unicode remap, no end-of-word marker. Training runs the
    driver-histogram path (one distributed pre-token count scan — the
    only part that touches the corpus — then Sennrich's incremental
    pair index in the driver); apply is the rank-dict Arrow path. The
    DuckDB oracle replays BOTH training and apply: RE2 has no
    lookahead, so the oracle emulates it exactly by inserting a \\x01
    sentinel between each whitespace run and its following
    non-whitespace char, splitting, and extracting with the
    lookahead-free pattern — equivalence proven by case analysis on
    run length and pinned by the hand-vector unit tests."""
    from kusto_pre_forge_spark.operators import textprep

    from kusto_pre_forge_spark.operators.corpus import _widen_for_fanout

    d = _widen_for_fanout(load_table(spark, sf, "documents"))
    merges = textprep.train_bpe(d, n_merges=6, byte_level=True)
    return textprep.apply_bpe(d, merges, byte_level=True).select(
        "doc_id", "n_words", "n_bpe_tokens", "sample_tokens"
    )


def _q_text_bpe_encode(spark, sf):
    """Documents encoded to the INTEGER token ids a trainer consumes
    (byte-level vocab: 0..255 raw bytes + 256+rank per merge — no UNK
    possible by construction). One Arrow map encodes each document's
    pre-tokens in order (bpe_encode_arrays), no join; the oracle
    replays training, maps symbols through the ordered-CASE vocab
    (first-rank-wins on merge-string collisions, early-stopped merges
    NULLed), and flattens per doc in pre-token order."""
    from kusto_pre_forge_spark.operators import textprep

    from kusto_pre_forge_spark.operators.corpus import _widen_for_fanout

    d = _widen_for_fanout(load_table(spark, sf, "documents"))
    merges = textprep.train_bpe(d, n_merges=6, byte_level=True)
    return textprep.bpe_encode(d, merges).select(
        "doc_id", "n_tokens", "ids_head"
    )


def _q_text_url_canonicalize(spark, sf):
    """URL canonicalization — the crawl dedup key (round-13): each
    document forges a deliberately messy URL from doc_id arithmetic
    (upper-case scheme/host, scheme-default OR explicit port, unsorted
    query with utm_/gclid trackers, fragment) and
    ``textprep.canonicalize_url`` reduces it to the canonical form the
    oracle predicts closed-form from the same arithmetic — every rule
    (case, default-port strip, kept non-default port, param sort,
    tracker drop, fragment drop) is hash-checked per row. One
    zero-exchange codegen projection."""
    from kusto_pre_forge_spark.operators.textprep import canonicalize_url

    d = load_table(spark, sf, "documents").select("doc_id")
    did = F.col("doc_id")
    url = F.concat(
        F.when(did % 3 == 0, F.lit("HTTP")).otherwise(F.lit("https")),
        F.lit("://"),
        F.when(did % 2 == 0, F.lit("ExAmple")).otherwise(F.lit("example")),
        F.lit(".COM"),
        F.when(
            did % 4 == 0,
            F.when(did % 3 == 0, F.lit(":80")).otherwise(F.lit(":443")),
        )
        .when(did % 4 == 1, F.lit(":8080"))
        .otherwise(F.lit("")),
        F.lit("/p/"),
        did.cast("string"),
        F.lit("?b=2&utm_source=x&a="),
        (did % 5).cast("string"),
        F.lit("&gclid=zz#frag"),
    )
    return d.select(
        "doc_id",
        url.alias("url"),
        canonicalize_url(url).alias("canon_url"),
    )


def _q_text_fix_encoding(spark, sf):
    """Encoding repair (ftfy-lite, round-12) end-to-end: each document
    forges as MOJIBAKE — its text plus a unicode suffix, UTF-8 bytes
    decoded through the sloppy-cp1252 table (doc_id%3==0 docs are
    DOUBLE-encoded), exactly the defect crawl corpora carry —
    and ``fix_encoding`` must recover the original string byte-for-
    byte with the predicted pass count. The oracle is closed-form
    (text || suffix, passes by the %3 rule) because repair of the
    forge is exact by construction. One Arrow map stage."""
    import pandas as pd

    from kusto_pre_forge_spark.operators import textprep
    from kusto_pre_forge_spark.operators.corpus import _widen_for_fanout

    suffix = " — café “naïve” ✓"
    d = _widen_for_fanout(
        load_table(spark, sf, "documents").select("doc_id", "text")
    )

    def forge(it):
        t = textprep._SLOPPY_CP1252
        for pdf in it:
            ids, texts = [], []
            for i, txt in zip(pdf["doc_id"], pdf["text"]):
                i = int(i)
                s = (txt if isinstance(txt, str) else "") + suffix
                m = "".join(t[b] for b in s.encode("utf-8"))
                if i % 3 == 0:
                    m = "".join(t[b] for b in m.encode("utf-8"))
                ids.append(i)
                texts.append(m)
            yield pd.DataFrame({"doc_id": ids, "text": texts})

    moji = d.mapInPandas(forge, "doc_id long, text string")
    return textprep.fix_encoding(moji).select(
        "doc_id", "fixed", "n_mojibake_passes", "was_fixed"
    )


def _q_text_bpe_interchange(spark, sf):
    """GPT-2 tokenizer FILE interchange end-to-end (round-12): train
    byte-BPE, export the exact vocab.json + merges.txt pair HF loaders
    read, import the files back (vocab.json AUTHORITATIVE for ids —
    the HF contract), encode through the IMPORTED table, and decode
    every document back. Output adds ``lossless`` — decode(encode(d))
    == d per document, computed in-engine — and ``hf_json_agrees``
    (round-13): the same vocabulary exported/imported through the
    single-file HF fast-tokenizer ``tokenizer.json`` must reproduce
    the legacy pair's tables exactly. The oracle replays training +
    encoding closed-form and predicts both flags TRUE for every row
    (byte-level BPE has no UNK and no normalization loss), so a
    regression anywhere in export → parse → id-table → encode →
    decode flips a hash-checked column."""
    import tempfile

    from pyspark.sql.functions import pandas_udf

    from kusto_pre_forge_spark.operators import textprep
    from kusto_pre_forge_spark.operators.corpus import _widen_for_fanout

    d = _widen_for_fanout(load_table(spark, sf, "documents"))
    merges = textprep.train_bpe(d, n_merges=6, byte_level=True)
    out_dir = tempfile.mkdtemp(prefix="kpf-tok-")
    textprep.export_gpt2_tokenizer(merges, out_dir)
    m2, v2 = textprep.import_gpt2_tokenizer(
        f"{out_dir}/vocab.json", f"{out_dir}/merges.txt"
    )
    # round-13: the SAME vocabulary through the single-file HF
    # fast-tokenizer artifact — tokenizer.json must reproduce the
    # legacy pair's tables exactly (equal tables ⇒ equal ids by
    # construction, so the flag is computed once, not re-encoded
    # per row — the scale-aware form of the check)
    textprep.export_hf_tokenizer(merges, f"{out_dir}/tokenizer.json")
    m3, v3 = textprep.import_hf_tokenizer(f"{out_dir}/tokenizer.json")
    hf_agrees = bool(m3 == m2 and v3 == v2)
    arrays = textprep.bpe_encode_arrays(d, m2, vocab_ids=v2).join(
        d.select("doc_id", "text"), "doc_id"
    )

    @pandas_udf("string")
    def decode_ids(col):
        import pandas as pd

        return pd.Series(
            [
                textprep.bpe_decode_ids(
                    [int(x) for x in (ids if ids is not None else [])],
                    m2,
                    vocab_ids=v2,
                )
                for ids in col
            ]
        )

    return arrays.select(
        "doc_id",
        F.size("ids").cast("long").alias("n_tokens"),
        F.concat_ws(
            ",",
            F.transform(F.slice("ids", 1, 16), lambda v: v.cast("string")),
        ).alias("ids_head"),
        (
            decode_ids(F.col("ids")) == F.coalesce(F.col("text"), F.lit(""))
        ).alias("lossless"),
        F.lit(hf_agrees).alias("hf_json_agrees"),
    )


def _q_text_unigram(spark, sf):
    """Unigram-LM tokenizer (SentencePiece/Kudo 2018): one distributed
    word-count scan, in-driver EM + expected-count pruning to a 120-piece
    vocab, then Viterbi segmentation of DISTINCT words joined back to
    per-doc counts. Oracle: the Viterbi path PARTITIONS each word by
    construction, so per-doc word counts and summed word lengths
    (piece_chars) are exactly predictable by an engine that never saw the
    vocabulary; the piece-count bounds and reconstruction flags are
    invariants predicted true. EM monotonicity + brute-force Viterbi
    optimality are pinned in tests/test_textprep.py."""
    from kusto_pre_forge_spark.operators import textprep

    d = load_table(spark, sf, "documents")
    # max_piece_len=4 < the corpus's 8-char words forces real multi-piece
    # Viterbi paths (the synthetic vocab is small enough that len=8 would
    # make every word a single piece)
    vocab = textprep.train_unigram(
        d,
        "text",
        vocab_size=120,
        max_piece_len=4,
        n_em_iters=2,
        driver_word_cap=50_000,
    )
    out = textprep.apply_unigram(d, vocab, "text", "doc_id")
    return out.select(
        "doc_id",
        "n_words",
        "piece_chars",
        "reconstruct_ok",
        (
            (F.col("n_pieces") >= F.col("n_words"))
            & (F.col("n_pieces") <= F.col("piece_chars"))
        ).alias("pieces_bounds_ok"),
    )


def _q_text_wordpiece(spark, sf):
    """WordPiece tokenizer (Schuster & Nakajima 2012 — BERT's): word-count
    scan + in-driver likelihood-scored merge loop, then greedy
    longest-match-first segmentation of DISTINCT words. Same invariant
    oracle as text_unigram (pieces partition each word); the
    likelihood-vs-raw-count ranking property and greedy longest-match
    rule are pinned in tests/test_textprep.py."""
    from kusto_pre_forge_spark.operators import textprep

    d = load_table(spark, sf, "documents")
    pieces = textprep.train_wordpiece(d, "text", n_merges=48)
    out = textprep.apply_wordpiece(d, pieces, "text", "doc_id")
    return out.select(
        "doc_id",
        "n_words",
        "piece_chars",
        "reconstruct_ok",
        (
            (F.col("n_pieces") >= F.col("n_words"))
            & (F.col("n_pieces") <= F.col("piece_chars"))
        ).alias("pieces_bounds_ok"),
    )


def _q_corpus_split(spark, sf):
    """Deterministic train/val/test assignment: md5-hash thresholds over
    doc_id (0.9/0.05/0.05), zero shuffle, zero RNG — the same row lands
    in the same split on any cluster layout or engine."""
    from kusto_pre_forge_spark.operators import corpus as corpus_ops

    d = load_table(spark, sf, "documents")
    return corpus_ops.train_split(d, "doc_id").select("doc_id", "lang", "split")


def _q_corpus_pack(spark, sf):
    """Sequence packing (concat-then-chunk): documents laid end-to-end in
    the deterministic shuffle order, cut every 512 tokens. token_start is
    a distributed prefix sum (plans/split.keyed_shard_assign) — never a
    whole-corpus window."""
    from kusto_pre_forge_spark.operators import corpus as corpus_ops

    d = load_table(spark, sf, "documents")
    return corpus_ops.sequence_pack(d, "text", "doc_id", seq_len=512).select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("token_start").cast("long").alias("token_start"),
        F.col("seq_id").cast("int").alias("seq_id"),
    )


def _q_corpus_pack_bpe(spark, sf):
    """Tokenizer-TRUE sequence packing (round-11: whitespace counts
    misplace every offset the trainer actually sees): train a byte-level
    BPE vocab, then pack with ``token_counter=bpe_token_count(...)`` —
    a pure-codegen per-doc count (LUT byte remap + chained merge
    regexes + aggregate fold), so the pack plan gains NO udf and NO
    extra pass; the distributed prefix sum is unchanged. Oracle replays
    byte-BPE training + counting (shared CTE chain with text_bpe_byte)
    and the same (hash, doc_id) window cumsum as corpus_pack."""
    from kusto_pre_forge_spark.operators import corpus as corpus_ops
    from kusto_pre_forge_spark.operators import textprep

    from kusto_pre_forge_spark.operators.corpus import _widen_for_fanout

    d = _widen_for_fanout(load_table(spark, sf, "documents"))
    merges = textprep.train_bpe(d, n_merges=6, byte_level=True)
    out = corpus_ops.sequence_pack(
        d,
        "text",
        "doc_id",
        seq_len=512,
        token_counter=lambda c: textprep.bpe_token_count(c, merges),
    )
    return out.select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("token_start").cast("long").alias("token_start"),
        F.col("seq_id").cast("int").alias("seq_id"),
    )


def _q_corpus_webdataset_roundtrip(spark, sf):
    """The training-shard WRITE side closed against the archive READ
    side: documents write as WebDataset tar shards (deterministic
    bucketed-prefix-sum assignment, zeroed tar metadata, atomic
    publish), then read back through the member-streaming tar front
    door; the oracle is the IDENTITY — the roundtrip must be lossless,
    which checks the sink's member framing and the reader's member
    iteration against each other (the fixedwidth_roundtrip posture)."""
    import hashlib
    import shutil
    import tempfile

    from kusto_pre_forge_spark.sinks.webdataset import write_webdataset
    from kusto_pre_forge_spark.sources import autoextract as A

    d = load_table(spark, sf, "documents").select("doc_id", "text")
    tag = hashlib.md5(sf.encode()).hexdigest()[:8]
    out = os.path.join(tempfile.gettempdir(), f"kpf-wds-{tag}")
    shutil.rmtree(out, ignore_errors=True)
    write_webdataset(d, out, max_members_per_shard=256).collect()
    back = A.read_text_auto(spark, out + "/*.tar")
    return back.select(
        F.regexp_extract("_kpf_source", r"!([0-9]+)\.txt$", 1)
        .cast("long")
        .alias("doc_id"),
        F.coalesce("text", F.lit("")).alias("text"),
    )


def _q_layout_compact_roundtrip(spark, sf):
    """Small-file compaction end-to-end: documents written as 32 tiny
    parquet files (the incremental-writer pathology), compacted by the
    metadata-only-sized rewrite, read back — identity oracle (rows and
    values must survive byte-exact), with the file-count collapse
    pinned in-plan (post-compaction scan reads ONE file)."""
    import glob as _glob
    import hashlib
    import shutil
    import tempfile

    from kusto_pre_forge_spark.operators.layout import compact_files

    d = load_table(spark, sf, "documents").select("doc_id", "text")
    tag = hashlib.md5(sf.encode()).hexdigest()[:8]
    src = os.path.join(tempfile.gettempdir(), f"kpf-cmp-src-{tag}")
    out = os.path.join(tempfile.gettempdir(), f"kpf-cmp-out-{tag}")
    shutil.rmtree(src, ignore_errors=True)
    shutil.rmtree(out, ignore_errors=True)
    d.repartition(32).write.parquet(src)
    stats = compact_files(spark, src, out, target_bytes=1 << 30)
    assert stats["input_files"] >= 32 and stats["output_partitions"] == 1
    assert len(_glob.glob(out + "/*.parquet")) == 1
    return spark.read.parquet(out).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.coalesce("text", F.lit("")).alias("text"),
    )


def _q_corpus_datacard(spark, sf):
    """The release datacard's statistics row in one pass (plus the tiny
    digest aggregate for the dup count) — the numbers every dataset
    README states, each independently replayed by the oracle."""
    from kusto_pre_forge_spark.operators.corpus import corpus_datacard

    from kusto_pre_forge_spark.operators.corpus import _widen_for_fanout

    d = _widen_for_fanout(load_table(spark, sf, "documents"))
    out = corpus_datacard(d)
    return out.select(
        "n_docs",
        "n_tokens",
        "n_chars",
        "n_empty",
        F.round("median_tokens", 1).alias("median_tokens"),
        "max_tokens",
        "n_dup_docs",
    )


def _q_corpus_version_diff(spark, sf):
    """Versioned-corpus change audit: v2 forges from v1 by dropping
    every 11th document, rewriting every 7th (of the survivors), and
    appending a fresh id for every 13th — corpus_diff must recover
    exactly the added/removed/modified sets from the two snapshots'
    (id, md5) tables (text never shuffles). Closed-form oracle."""
    from kusto_pre_forge_spark.operators.corpus import corpus_diff

    v1 = load_table(spark, sf, "documents").select("doc_id", "text")
    survivors = v1.filter(F.col("doc_id") % 11 != 0)
    modified = survivors.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(F.coalesce("text", F.lit("")), F.lit(" v2")),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    added = v1.filter(F.col("doc_id") % 13 == 0).select(
        (F.col("doc_id") + F.lit(1_000_000)).alias("doc_id"), "text"
    )
    v2 = modified.unionByName(added)
    out = corpus_diff(v1, v2)
    return out.select(F.col("doc_id").cast("long").alias("doc_id"), "change")


def _q_corpus_pack_materialize(spark, sf):
    """The trainer hand-off MATERIALIZED (round-11 capstone): text →
    byte-BPE ids → fixed-512 packed sequences with block-diagonal
    boundaries, as actual id rows a dataloader consumes. Docs explode
    to array SLICES per overlapped sequence (never per-token rows);
    one per-sequence aggregate reassembles. The oracle replays the
    ENTIRE chain — BPE training, per-doc encoding, the pack cumsum,
    fragment slicing, and per-sequence reassembly — so every id in
    every sequence is independently derived."""
    from kusto_pre_forge_spark.operators import corpus as corpus_ops
    from kusto_pre_forge_spark.operators import textprep

    from kusto_pre_forge_spark.operators.corpus import _widen_for_fanout

    d = _widen_for_fanout(load_table(spark, sf, "documents"))
    merges = textprep.train_bpe(d, n_merges=6, byte_level=True)
    seqs = corpus_ops.materialize_packed_sequences(
        d, merges, "text", "doc_id", seq_len=512
    )
    return seqs.select(
        F.col("seq_id").cast("long").alias("seq_id"),
        F.size("ids").cast("long").alias("n_ids"),
        F.concat_ws(
            ",",
            F.transform(F.slice("ids", 1, 8), lambda v: v.cast("string")),
        ).alias("ids_head"),
        "n_docs",
        F.concat_ws(
            ",",
            F.transform(F.col("boundaries"), lambda v: v.cast("string")),
        ).alias("boundaries"),
    )


def _q_corpus_pack_nosplit(spark, sf):
    """NO-TRUNCATION packing (next-fit, the SFT convention — examples
    never split across sequences; overlong docs flagged, never silently
    cut): per-bucket sequential walk inside applyInPandas over (id,
    count) pairs only, global sequence ids via the tiny per-bucket
    exclusive prefix broadcast. Oracle replays the walk exactly with a
    RECURSIVE CTE stepping each bucket's rank order — next-fit is
    deterministic, so both engines must agree on every assignment."""
    from kusto_pre_forge_spark.operators import corpus as corpus_ops

    from kusto_pre_forge_spark.operators.corpus import _widen_for_fanout

    d = _widen_for_fanout(load_table(spark, sf, "documents"))
    return corpus_ops.sequence_pack_nosplit(
        d, "text", "doc_id", seq_len=512, num_buckets=16
    ).select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("seq_id").cast("long").alias("seq_id"),
        "overflow",
    )


def _q_corpus_pack_boundaries(spark, sf):
    """Per-sequence document-boundary offsets for block-diagonal
    attention over the 512-token packing — the mask info "sample
    packing" trainers need. The oracle replays the pack prefix sum,
    explodes each doc to the sequences it overlaps (generate_series),
    and aggregates the same sorted offset lists."""
    from kusto_pre_forge_spark.operators import corpus as corpus_ops

    d = load_table(spark, sf, "documents")
    out = corpus_ops.pack_attention_boundaries(
        d, "text", "doc_id", seq_len=512
    )
    # arrays stringify for the driver's value hash (round-7 convention)
    return out.select(
        "seq_id",
        "n_docs",
        F.concat_ws(",", F.transform("boundaries", lambda x: x.cast("string")))
        .alias("boundaries"),
    )


def _q_corpus_line_dedup(spark, sf):
    """Corpus-level boilerplate removal: drop every unit occurring in more
    than 60 distinct documents (units = words here, sep=' '), reassemble
    docs preserving order. The df-aggregate + anti-join shape of
    CCNet-style line dedup."""
    from kusto_pre_forge_spark.operators import corpus as corpus_ops

    d = load_table(spark, sf, "documents")
    out = corpus_ops.line_dedup(d, "text", "doc_id", max_doc_freq=60, sep=" ")
    return out.select("doc_id", "clean_text")


def _q_kql_ipv4_suite(spark, sf):
    """KQL IPv4 scalars: parse_ipv4 / format_ipv4 round-trip /
    ipv4_is_private / ipv4_is_in_range — all codegen shift arithmetic.
    IPs synthesized from event_id (incl. malformed rows → null, as KQL)."""
    e = load_table(spark, sf, "events").where(F.col("event_id") < 500)
    eid = F.col("event_id")
    ip = (
        F.when(eid % 7 == 0, F.lit("not-an-ip"))
        .when(
            eid % 5 == 0,
            F.concat_ws(".", F.lit("192"), F.lit("168"), (eid % 256), F.lit("1")),
        )
        .otherwise(
            F.concat_ws(
                ".",
                F.lit("10"),
                eid % 256,
                F.floor(eid / 256) % 256,
                F.floor(eid / 65536) % 256,
            )
        )
    )
    e = e.withColumn("ip", ip)

    def b2s(c):  # nullable bool → 'true'/'false'/'null' (None↔NaN pandas drift)
        return F.coalesce(c.cast("string"), F.lit("null"))

    return e.select(
        "event_id",
        "ip",
        kql.parse_ipv4("ip").alias("ip_num"),
        kql.format_ipv4(kql.parse_ipv4("ip")).alias("ip_rt"),
        b2s(kql.ipv4_is_private("ip")).alias("is_priv"),
        b2s(kql.ipv4_is_in_range("ip", "10.0.0.0/8")).alias("in10"),
    )


def _q_kql_url_suite(spark, sf):
    """KQL URL scalars: parse_url (dynamic bag via native parse_url parts,
    port from AUTHORITY), url_encode_component (%20 semantics), url_decode
    round-trip."""
    e = load_table(spark, sf, "events").where(F.col("event_id") < 300)
    u = F.concat(
        F.lit("https://"),
        F.col("event_type"),
        F.lit(".example.com:8080/p/"),
        F.col("event_id"),
        F.lit("?k="),
        F.col("event_id") % 10,
        F.lit("#s"),
        F.col("event_id") % 3,
    )
    enc_src = F.concat(F.col("event_type"), F.lit(" "), F.col("event_id"))
    return e.select(
        "event_id",
        F.to_json(kql.parse_url_kql(u)).alias("url_bag"),
        kql.url_encode_component(enc_src).alias("enc"),
        kql.url_decode(kql.url_encode_component(enc_src)).alias("dec"),
    )


def _q_kql_series_fill(spark, sf):
    """Packed-array series_fill_forward/backward: per-type value series
    (event_id order) with every 3rd point nulled, then filled both ways;
    compared via order-preserving fold sums + residual null counts."""
    e = load_table(spark, sf, "events").where(F.col("event_id") < 300)
    arr = F.transform(
        F.array_sort(
            F.collect_list(
                F.struct(F.col("event_id"), F.col("value").cast("double").alias("v"))
            )
        ),
        lambda s: F.when(s["event_id"] % 3 == 0, F.lit(None).cast("double")).otherwise(
            s["v"]
        ),
    )
    g = e.groupBy("event_type").agg(arr.alias("_s"))
    ff = kql.series_fill_forward("_s")
    bf = kql.series_fill_backward("_s")

    def fold_sum(c):
        return F.round(
            F.aggregate(c, F.lit(0.0), lambda a, x: a + F.coalesce(x, F.lit(0.0))), 6
        )

    def n_nulls(c):
        return F.size(F.filter(c, lambda x: x.isNull())).cast("long")

    return g.select(
        "event_type",
        fold_sum(ff).alias("ff_sum"),
        fold_sum(bf).alias("bf_sum"),
        n_nulls(ff).alias("ff_nulls"),
        n_nulls(bf).alias("bf_nulls"),
    )


def _q_kql_scalar_suite3(spark, sf):
    """Scalar batch 3: bitwise scalars (binary_and/or/xor/not, shifts,
    popcount), strcmp, string_size (UTF-8 bytes), geo_distance_2points
    (haversine, rounded — libm last-ulp drift) — all codegen."""
    e = load_table(spark, sf, "events").where(F.col("event_id") < 400)
    eid = F.col("event_id")
    # synthetic coordinates on a deterministic grid
    lon1, lat1 = (eid % 360) - 180.0, (eid % 170) / 2.0 - 42.5
    lon2, lat2 = lon1 + 1.5, lat1 + 0.75
    return e.select(
        "event_id",
        kql.binary_and(eid, 0x5A5A).alias("b_and"),
        kql.binary_or(eid, 0x0F0F).alias("b_or"),
        kql.binary_xor(eid, 0x3333).alias("b_xor"),
        kql.binary_not(eid).alias("b_not"),
        kql.binary_shift_left(eid, 3).alias("b_shl"),
        kql.binary_shift_right(eid, 2).alias("b_shr"),
        kql.bitset_count_ones(eid).alias("pop"),
        kql.strcmp("event_type", F.lit("purchase")).alias("cmp"),
        kql.string_size("event_type").alias("sz"),
        F.round(
            kql.geo_distance_2points(lon1, lat1, lon2, lat2) / 1000.0, 3
        ).alias("dist_km"),
    )


def _q_kql_rank(spark, sf):
    """KQL row_rank_dense / row_rank_min per event_type over binned value
    (coarse bins force ties so the two rank flavors differ)."""
    e = (
        load_table(spark, sf, "events")
        .where(F.col("event_id") < 400)
        .where(F.col("value").isNotNull())  # null sort order differs across engines
    )
    e = e.withColumn("vbin", F.floor(F.col("value") / 10).cast("long"))
    d = kql.row_rank_dense(e, ["vbin", "event_id"], by=["event_type"], out_name="rd")
    m = kql.row_rank_min(d, ["vbin"], by=["event_type"], out_name="rm")
    return m.select("event_id", "event_type", "vbin", "rd", "rm")


def _q_kql_series_decompose(spark, sf):
    """series_decompose + series_decompose_anomalies (long form) over
    hourly per-type event counts, period=24: additive MA decomposition +
    robust-z anomaly flags — deterministic windows, replayed exactly by
    the oracle."""
    e = load_table(spark, sf, "events")
    hourly = e.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("h")
    ).agg(F.count(F.lit(1)).cast("double").alias("v"))
    dec = kql.series_decompose(hourly, "v", "h", ["event_type"], period=24)
    an = kql.series_decompose_anomalies(
        hourly, "v", "h", ["event_type"], 24, threshold=3.0
    ).select("event_type", "h", "anomaly_flag")
    return dec.join(an, ["event_type", "h"]).select(
        "event_type",
        "h",
        "v",
        F.round("sd_trend", 3).alias("trend"),
        F.round("sd_seasonal", 3).alias("seasonal"),
        F.round("sd_residual", 3).alias("residual"),
        "anomaly_flag",
    )


def _q_activity_retention(spark, sf):
    """KQL new_activity_metrics-style weekly cohort retention over events:
    distinct (user, week) pairs → first-seen cohort → counts + ratio per
    (cohort, offset)."""
    from kusto_pre_forge_spark.operators import activity

    e = load_table(spark, sf, "events")
    out = activity.cohort_retention(e, "user_id", "ts", "week")
    return out.select(
        "cohort",
        F.col("offset").cast("long").alias("offset"),
        F.col("n_active").cast("long").alias("n_active"),
        F.round("retention", 6).alias("retention"),
    )


def _q_activity_sliding_counts(spark, sf):
    """KQL sliding_window_counts — rolling 7-day event count + distinct
    users per day on the dense axis (contribute-to-trailing-bins explode,
    one aggregate — the oracle's bin×event join is the sf0.01-only shape)."""
    from kusto_pre_forge_spark.operators import activity

    e = load_table(spark, sf, "events")
    out = activity.sliding_window_counts(e, "user_id", "ts", lookback_days=7)
    return out.select(
        F.col("day").cast("timestamp").alias("day"),
        "count_events",
        "dcount_actors",
    )


def _q_activity_active_users(spark, sf):
    """active_users_count — users active ≥2 distinct days of the trailing
    7 per day, dense axis."""
    from kusto_pre_forge_spark.operators import activity

    e = load_table(spark, sf, "events")
    out = activity.active_users_count(e, "user_id", "ts", 7, 2)
    return out.select(
        F.col("day").cast("timestamp").alias("day"), "active_users"
    )


def _q_activity_counts_metrics(spark, sf):
    """activity_counts_metrics — per-day count/dcount/new_dcount and the
    running aggregated_dcount (= prefix sum of new actors, no quadratic
    re-scan)."""
    from kusto_pre_forge_spark.operators import activity

    e = load_table(spark, sf, "events")
    out = activity.activity_counts_metrics(e, "user_id", "ts")
    return out.select(
        F.col("bin").cast("timestamp").alias("bin"),
        F.col("count_").cast("long").alias("count_"),
        F.col("dcount").cast("long").alias("dcount"),
        F.col("new_dcount").cast("long").alias("new_dcount"),
        F.col("aggregated_dcount").cast("long").alias("aggregated_dcount"),
    )


def _q_activity_new_metrics(spark, sf):
    """new_activity_metrics — per-day dcount/new/retained/churn and the
    consecutive-period retention/churn rates, all from distinct
    (actor, bin) pairs (one self-join a bin apart on the actor key)."""
    from kusto_pre_forge_spark.operators import activity

    e = load_table(spark, sf, "events")
    out = activity.new_activity_metrics(e, "user_id", "ts")
    return out.select(
        F.col("bin").cast("timestamp").alias("bin"),
        F.col("dcount").cast("long").alias("dcount"),
        F.col("new_dcount").cast("long").alias("new_dcount"),
        F.col("retained_dcount").cast("long").alias("retained_dcount"),
        F.col("churn_dcount").cast("long").alias("churn_dcount"),
        F.round(F.col("retention_rate"), 6).alias("retention_rate"),
        F.round(F.col("churn_rate"), 6).alias("churn_rate"),
    )


def _q_activity_session_count(spark, sf):
    """session_count — sessions started per day (first event or >30 min
    gap), one lag window on the actor key."""
    from kusto_pre_forge_spark.operators import activity

    e = load_table(spark, sf, "events")
    out = activity.session_count(e, "user_id", "ts")
    return out.select(
        F.col("bin").cast("timestamp").alias("bin"),
        F.col("n_sessions").cast("long").alias("n_sessions"),
    )


def _q_embedding_quantize(spark, sf):
    """int8 symmetric per-vector quantization with in-plan reconstruction
    error — scalar probes (exact integer q sums + rounded scale/mse) so
    the oracle replays the arithmetic."""
    from kusto_pre_forge_spark.operators.similarity import (
        embedding_quantize_int8,
    )

    d = load_table(spark, sf, "embeddings")
    out = embedding_quantize_int8(d, "embedding", "vec_id")
    return out.select(
        "vec_id",
        F.round(F.col("scale"), 8).alias("scale_r"),
        F.round(F.col("mse"), 8).alias("mse_r"),
        F.aggregate(
            "q", F.lit(0).cast("long"), lambda a, x: a + x.cast("long")
        ).alias("q_sum"),
        F.aggregate(
            "q", F.lit(0).cast("long"), lambda a, x: a + F.abs(x).cast("long")
        ).alias("q_l1"),
    )


def _q_text_quality_lr(spark, sf):
    """Logistic-regression quality classifier scored in codegen — model
    inference as a scan projection, weights as literals."""
    from kusto_pre_forge_spark.operators.textstats import (
        quality_classifier_score,
    )

    d = load_table(spark, sf, "documents")
    out = quality_classifier_score(d, "text", "doc_id")
    return out.select(
        "doc_id", F.round(F.col("lr_score"), 6).alias("lr_score"), "keep"
    )


def _q_text_quality_lr_train(spark, sf):
    """IN-ENGINE classifier training (round-11 ask #4): learn the
    quality LR from a rule-derived labeled seed (y = quality_score ≥
    0.5 — replayable closed-form) by 8 fixed full-batch GD iterations,
    each per-task sufficient-statistics partials + driver fold +
    weights back in the next round's closure — the FineWeb
    labeled-seed → corpus-filter workflow with no model server. Output
    is the learned parameter vector plus the last iteration's loss,
    rounded to 6 (absorbs cross-engine sum-order and exp ulps). The
    DuckDB oracle unrolls the same 8 iterations as CTE pairs
    (gradient aggregate, weight update) — the graph_pagerank pattern;
    monotone loss is pinned in tests/test_textstats.py."""
    from kusto_pre_forge_spark.operators import textstats as ts

    d = load_table(spark, sf, "documents")
    labeled = ts.quality_features(d, "text").withColumn(
        "_label", (F.col("quality_score") >= 0.5).cast("double")
    )
    # features_ready: `labeled` already carries the feature columns the
    # trainer needs — without it the checkpoint plan re-derived every
    # feature from text a second time (r15, guide §2.4; same values)
    res = ts.train_quality_lr(
        labeled, "_label", n_iters=8, learn_rate=0.2, features_ready=True
    )
    rows = [(k, float(v)) for k, v in sorted(res["weights"].items())]
    rows.append(("__bias__", float(res["bias"])))
    rows.append(("__loss__", float(res["losses"][-1])))
    return spark.createDataFrame(rows, "name string, value double").select(
        "name", F.round("value", 6).alias("value")
    )


def _q_pipeline_quality_lr_filter(spark, sf):
    """The trained classifier APPLIED — train→filter in one pipeline
    (the full FineWeb workflow): learn the LR from the rule-derived
    seed (8 GD iterations, sufficient-statistics partials), then
    score every document with the LEARNED weights as a pure codegen
    scan projection (quality_classifier_score with the literal weights
    swapped for the learned ones; untrained features enter as exact
    +0.0 terms so the non-zero addition order matches training's z).
    At 100 TB: 8 tiny partial/fold rounds + one filter scan — no model server,
    no UDF. Oracle: the unrolled training chain + per-doc scoring."""
    from kusto_pre_forge_spark.operators import textstats as ts
    from kusto_pre_forge_spark.pinning import pin

    d = load_table(spark, sf, "documents")
    # ONE feature-extraction pass (r15, guide §2.4): the pinned
    # quality_features frame feeds BOTH the trainer (which used to
    # re-derive features inside its checkpoint plan) and the scoring
    # projection (which used to re-scan the text a third time). Feature
    # values, the GD fold, and the score are byte-identical — only where
    # the shared expressions evaluate moves.
    feats = pin(ts.quality_features(d, "text"))
    labeled = feats.withColumn(
        "_label", (F.col("quality_score") >= 0.5).cast("double")
    )
    res = ts.train_quality_lr(
        labeled, "_label", n_iters=8, learn_rate=0.2, features_ready=True
    )
    w = {f: 0.0 for f in ts.QUALITY_LR_WEIGHTS}
    w.update(res["weights"])
    out = ts.quality_classifier_score(
        feats, "text", "doc_id", weights=w, bias=res["bias"],
        features_ready=True,
    )
    return out.select(
        "doc_id", F.round(F.col("lr_score"), 6).alias("lr_score"), "keep"
    )


def _q_activity_funnel_sequence(spark, sf):
    """funnel_sequence — (prev, next) state pairs around every 'view'
    event per user's time-ordered sequence."""
    from kusto_pre_forge_spark.operators import activity

    e = load_table(spark, sf, "events")
    out = activity.funnel_sequence(e, "user_id", "ts", "event_type", "view")
    return out.select(
        F.coalesce("prev_state", F.lit("<start>")).alias("prev_state"),
        F.coalesce("next_state", F.lit("<end>")).alias("next_state"),
        "n",
    )


def _q_activity_rolling_percentile(spark, sf):
    """evaluate rolling_percentile — exact trailing-7-day p50 of value per
    day on the dense axis (contribute explode + one percentile aggregate;
    the oracle's bin×event join is the sf0.01-only shape)."""
    from kusto_pre_forge_spark.operators import activity

    e = load_table(spark, sf, "events")
    out = activity.rolling_percentile(e, "value", "ts", 50.0, 7)
    return out.select(
        F.col("day").cast("timestamp").alias("day"),
        F.round("p50", 6).alias("p50"),
    )


def _q_activity_engagement(spark, sf):
    """KQL activity_engagement — rolling DAU/WAU ratio over events via the
    contribute-to-trailing-windows explode (no per-day rescans)."""
    from kusto_pre_forge_spark.operators import activity

    e = load_table(spark, sf, "events")
    out = activity.rolling_engagement(e, "user_id", "ts", 1, 7)
    return out.select(
        # DATE → TIMESTAMP: DuckDB's pandas bridge widens DATE to
        # datetime64 midnight, so match that shape for the value hash
        F.col("day").cast("timestamp").alias("day"),
        F.col("inner_active").cast("long").alias("inner_active"),
        F.col("outer_active").cast("long").alias("outer_active"),
        F.round("engagement_ratio", 6).alias("engagement_ratio"),
    )


def _q_activity_funnel(spark, sf):
    """Ordered funnel signup → click → purchase over events: each step's
    first occurrence must be strictly after completing the previous step;
    counts of actors reaching each step."""
    from kusto_pre_forge_spark.operators import activity

    e = load_table(spark, sf, "events")
    out = activity.funnel_steps(
        e, "user_id", "ts", "event_type", ["signup", "click", "purchase"]
    )
    return out.select(
        F.col("step_index").cast("long").alias("step_index"),
        "step_value",
        F.col("n_actors").cast("long").alias("n_actors"),
    )


def _q_activity_transitions(spark, sf):
    """Markov transition counts over each user's event sequence — one lag
    window + one aggregation."""
    from kusto_pre_forge_spark.operators import activity

    e = load_table(spark, sf, "events")
    out = activity.sequence_transitions(
        e, "user_id", "ts", "event_type", order_cols=["event_id"]
    )
    return out.select(
        "from_state", "to_state", F.col("n").cast("long").alias("n")
    )


def _q_kql_basket(spark, sf):
    """evaluate basket() — exact frequent single values and cross-column
    value pairs over (event_type, value quartile bucket), support >= 5%."""
    e = load_table(spark, sf, "events").withColumn(
        "vbucket",
        F.when(F.col("value").isNull(), F.lit(-1))
        .otherwise(F.floor(F.col("value") / 25))
        .cast("long"),
    )
    out = kql.basket_frequent(e, ["event_type", "vbucket"], min_support=0.05)
    return out.select(
        "itemset",
        F.col("size").cast("long").alias("size"),
        F.col("n_rows").cast("long").alias("n_rows"),
        F.round("support", 6).alias("support"),
    )


def _q_kql_bag_ops(spark, sf):
    """Property-bag utilities: bag_merge (left wins), bag_remove_keys,
    bag_keys — map functions end-to-end, deterministic sorted output."""
    e = load_table(spark, sf, "events").where(F.col("event_id") < 300)
    bag1 = F.to_json(
        F.create_map(
            F.lit("et"), F.col("event_type"),
            F.lit("id"), F.col("event_id").cast("string"),
        )
    )
    bag2 = F.to_json(
        F.create_map(F.lit("id"), F.lit("OVERRIDE"), F.lit("z"), F.lit("x"))
    )
    merged = kql.bag_merge(bag1, bag2)
    return e.select(
        "event_id",
        merged.alias("merged"),
        kql.bag_remove_keys(merged, ["et"]).alias("removed"),
        F.array_join(kql.bag_keys(merged), ",").alias("keys"),
    )


def _q_kql_bag_unpack(spark, sf):
    """KQL evaluate bag_unpack — promote the props bag's keys to columns
    via one codegen'd from_json against a declared schema."""
    e = load_table(spark, sf, "events").select("event_id", "event_type", "props")
    return kql.bag_unpack(e, "props", "k int")


def _q_kql_series_outliers(spark, sf):
    """KQL series_outliers — Tukey-fence score per event type: 0 inside
    [q1-1.5·IQR, q3+1.5·IQR], signed IQR-distance beyond the fence
    outside; quartiles exact-interpolated, broadcast back to rows."""
    e = load_table(spark, sf, "events")
    out = kql.series_outliers(e, value="value", by=["event_type"])
    return out.select(
        "event_id",
        "event_type",
        F.round("outlier_score", 6).alias("outlier_score"),
    )


def _q_kql_lookup(spark, sf):
    """KQL lookup kind=leftouter — fact-side orders against the customer
    dimension (explicit broadcast; fact side never shuffles)."""
    o = load_table(spark, sf, "orders").select("o_orderkey", "o_custkey")
    c = load_table(spark, sf, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_mktsegment"
    )
    return kql.lookup(o, c, ["o_custkey"], kind="leftouter")


def _q_kql_top_hitters(spark, sf):
    """KQL top-hitters — heaviest 5 users by summed event value (exact
    two-stage heavy-hitters plan; deterministic tiebreak on user_id)."""
    e = load_table(spark, sf, "events")
    return kql.top_hitters(
        e, of="user_id", k=5, by_sum=None, count_name="hits"
    ).withColumn("hits", F.col("hits").cast("long"))


def _q_heavy_hitters_sketch(spark, sf):
    """SpaceSaving heavy-hitters sketch (bounded n_buckets×k state) with
    its guarantee surfaced as a predictive oracle: every item whose true
    per-bucket count exceeds N_b/k must be captured with
    true ≤ est ≤ true + N_b/k — the oracle computes the exact heavy set
    in SQL and predicts captured/est_ok ≡ true."""
    e = load_table(spark, sf, "events")
    k = 32
    sk = kql.heavy_hitters_sketch(e, "user_id", k=k, n_buckets=8)
    bucket = F.pmod(
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        "|", F.lit("kpf-hh"), F.col("user_id").cast("string")
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long"),
        F.lit(8),
    )
    exact = (
        e.select(F.col("user_id").cast("string").alias("item"), bucket.alias("bucket"))
        .groupBy("bucket", "item")
        .agg(F.count(F.lit(1)).alias("true_count"))
    )
    totals = exact.groupBy("bucket").agg(F.sum("true_count").alias("_nb"))
    heavy = exact.join(F.broadcast(totals), "bucket").filter(
        F.col("true_count") * k > F.col("_nb")
    )
    j = heavy.join(sk, ["bucket", "item"], "left")
    return j.select(
        "bucket",
        "item",
        "true_count",
        F.col("est").isNotNull().alias("captured"),
        F.coalesce(
            (F.col("est") >= F.col("true_count"))
            & (
                F.col("est")
                <= F.col("true_count") + F.floor(F.col("_nb") / k)
            ),
            F.lit(False),
        ).alias("est_ok"),
    )


def _q_kql_find(spark, sf):
    """KQL find in (customer, supplier) where * contains '00001' —
    cross-table search: per-table predicate over that table's own string
    columns (pushed to each scan), schema-union with null padding and a
    source_ tag. No shuffle — the union is plan-level only."""
    c = load_table(spark, sf, "customer")
    s = load_table(spark, sf, "supplier")
    return kql.find_in(
        {"customer": c, "supplier": s},
        term="00001",
        project=["c_custkey", "c_name", "s_suppkey", "s_name"],
    )


def _q_set_union(spark, sf):
    """KQL union — by-name union of heterogeneous tables with null fill
    (customer and supplier share only the name/nationkey shape)."""
    c = load_table(spark, sf, "customer").select(
        F.col("c_name").alias("name"),
        F.col("c_nationkey").cast("int").alias("nationkey"),
        F.col("c_acctbal").alias("acctbal"),
    )
    s = load_table(spark, sf, "supplier").select(
        F.col("s_name").alias("name"),
        F.col("s_nationkey").cast("int").alias("nationkey"),
    )
    u = kql.union_tables(c, s)
    # null-filled doubles arrive as NaN through pandas on the oracle side;
    # pin a sentinel so the value-hash compares NULL-fill behavior stably
    return u.withColumn("acctbal", F.coalesce("acctbal", F.lit(-1.0)))


def _q_kql_percentiles(spark, sf):
    """KQL percentiles() — exact interpolated p50/p95 per event type."""
    e = load_table(spark, sf, "events")
    p50, p95 = kql.percentiles("value", 50, 95)
    return e.groupBy("event_type").agg(
        F.round(p50, 6).alias("p50"), F.round(p95, 6).alias("p95")
    )


def _q_kql_extract(spark, sf):
    """KQL extract() — regex capture of the customer number suffix."""
    c = load_table(spark, sf, "customer")
    return c.select(
        "c_custkey",
        kql.extract("c_name", r"Customer#(\d+)", 1).alias("cnum"),
    )


def _q_session_stats(spark, sf):
    """native session_window per-session aggregates (gap = 1h)."""
    from kusto_pre_forge_spark.operators.sessions import session_stats

    e = load_table(spark, sf, "events")
    return session_stats(e, "user_id", "ts", 3600)


def _q_rollup_multires(spark, sf):
    """hypertable-style stacked hourly+daily rollup of events."""
    from kusto_pre_forge_spark.operators.rollup import rollup_timeseries

    e = load_table(spark, sf, "events").withColumn("value_dec", _dec(F.col("value")))
    out = rollup_timeseries(
        e, "ts", ["1 hour", "1 day"],
        [("value_dec", "sum", "sum_value"), ("event_id", "count", "n")],
    )
    return out.select(
        "resolution", "bucket_start", F.col("sum_value").cast("double").alias("sum_value"), "n"
    )


def _q_kql_dcount(spark, sf):
    """KQL dcount (exact form) — distinct users per event type."""
    e = load_table(spark, sf, "events")
    return kql.summarize(
        e, by=["event_type"], aggs={"dc_users": kql.dcount("user_id", exact=True)}
    )


def _q_events_windowed(spark, sf):
    """event-time tumbling windows via the streaming operator (batch mode)."""
    from kusto_pre_forge_spark.streaming.windows import windowed_event_counts

    e = load_table(spark, sf, "events")
    return windowed_event_counts(e, "ts", "1 hour", keys=["event_type"])


def _q_events_session_window(spark, sf):
    """Native session windows (F.session_window) in batch mode — the
    streaming sessionizer's exact semantics (end = last event + gap,
    half-open); value summed as decimal for engine-exact totals."""
    from kusto_pre_forge_spark.streaming.windows import session_window_stats

    e = load_table(spark, sf, "events").withColumn(
        "value", F.col("value").cast("decimal(20,4)")
    )
    out = session_window_stats(e, "user_id", "ts", gap="30 minutes")
    return out.select(
        "user_id",
        "session_start",
        "session_end",
        "n_events",
        F.col("total_value").cast("double").alias("total_value"),
    )


def _q_events_hourly(spark, sf):
    e = load_table(spark, sf, "events")
    return (
        e.withColumn("hour", kql.bin(F.col("ts"), "hour"))
        .groupBy("hour")
        .agg(F.count(F.lit(1)).alias("n"), _sumd(F.col("value"), "sum_value"))
    )


# --------------------------------------------------------------------------
# round-2 KQL surface: positional/conditional aggregates, scalar suite 2,
# arrays, narrow, deterministic sample, scan, serialized-row functions,
# series analytics, partition/facet/externaldata
# --------------------------------------------------------------------------


def _q_kql_argmax(spark, sf):
    """KQL arg_max/arg_min — single-aggregate max_by/min_by keyed by a
    (value, event_id) struct so ties stay deterministic."""
    e = load_table(spark, sf, "events")
    return e.groupBy("event_type").agg(
        kql.arg_max(F.struct("value", "event_id"), "user_id").alias("argmax_user"),
        kql.arg_min(F.struct("value", "event_id"), "user_id").alias("argmin_user"),
        F.max("value").alias("max_value"),
        F.min("value").alias("min_value"),
    )


def _q_kql_condagg(spark, sf):
    """KQL avgif/minif/maxif/dcountif/stdev/variance — one aggregation pass;
    variance from decimal moment sums so both engines agree bit-exactly."""
    li = load_table(spark, sf, "lineitem")
    hi = F.col("l_quantity") > 25
    lo = F.col("l_quantity") < 10
    x = F.col("l_extendedprice").cast("decimal(18,4)")
    agg = li.groupBy("l_returnflag").agg(
        (F.sum(F.when(hi, x)).cast("double") / kql.countif(hi)).alias("avg_hi"),
        kql.minif("l_extendedprice", lo).alias("min_lo"),
        kql.maxif("l_extendedprice", hi).alias("max_hi"),
        kql.dcountif("l_suppkey", hi, exact=True).alias("dc_supp_hi"),
        F.sum(x).cast("double").alias("_sx"),
        F.sum(x * x).cast("double").alias("_sxx"),
        F.count(F.lit(1)).alias("n"),
    )
    n = F.col("n").cast("double")
    var = (F.col("_sxx") - F.col("_sx") * F.col("_sx") / n) / (n - 1)
    return agg.select(
        "l_returnflag", "avg_hi", "min_lo", "max_hi", "dc_supp_hi", "n",
        var.alias("var_price"), F.sqrt(var).alias("stdev_price"),
    )


def _q_kql_scalar_suite2(spark, sf):
    """Scalar batch 2: bin_at, datetime parts/format, start/end-of periods,
    indexof/countof/reverse/trim, base64, sha256, tohex — all codegen."""
    e = load_table(spark, sf, "events").where(F.col("event_id") < 200)
    return e.select(
        "event_id",
        kql.bin_at("ts", "1 hour", "1970-01-01 00:30:00").alias("bin30"),
        kql.datetime_part("hour", "ts").alias("hr"),
        kql.dayofweek_num("ts").alias("dow"),
        kql.format_datetime("ts", "yyyy-MM-dd HH:mm").alias("fmt"),
        kql.startofweek("ts").alias("sow"),
        kql.endofmonth("ts").alias("eom"),
        kql.indexof("event_type", "e").alias("idx_e"),
        kql.countof("props", '"').alias("n_quotes"),
        kql.reverse_str("event_type").alias("rev"),
        kql.trim_kql("[aeiou]", "event_type").alias("trimmed"),
        kql.base64_encode_tostring("event_type").alias("b64"),
        kql.hash_sha256("event_type").alias("sha"),
        kql.tohex("event_id").alias("hx"),
    )


def _q_kql_array_suite(spark, sf):
    """Array/dynamic scalar batch: slice, index_of, sort, set ops, sum —
    higher-order functions over the doc's own token array (no shuffle)."""
    d = load_table(spark, sf, "documents").where(F.col("doc_id") < 25)
    words = F.filter(F.split(F.col("text"), r"\s+"), lambda w: w != "")
    ref = F.array(F.lit("data"), F.lit("value"), F.lit("table"))
    return d.select(
        "doc_id",
        F.size(words).cast("long").alias("n_words"),
        F.array_join(F.slice(words, 1, 3), " ").alias("first3"),
        kql.array_index_of(words, "value").alias("idx_value"),
        F.array_join(F.slice(kql.array_sort_asc(words), 1, 3), " ").alias("sorted3"),
        F.array_join(kql.set_intersect_arr(words, ref), " ").alias("common"),
        kql.array_sum(
            F.sequence(F.lit(1), (F.size(words) % 10) + 1)
        ).alias("seq_sum"),
    )


def _q_kql_narrow(spark, sf):
    """KQL evaluate narrow() — unpivot a per-type aggregate to (Column,
    Value) string rows; values pre-cast to decimal so both engines print
    identical fixed-point strings."""
    e = load_table(spark, sf, "events")
    agg = e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(_dec(F.col("value"))).alias("sum_value"),
    )
    return kql.narrow(agg, ids=["event_type"], value_cols=["n", "sum_value"])


def _q_kql_sample(spark, sf):
    """Deterministic hash-threshold sample (reproducible 'sample 10%')."""
    li = load_table(spark, sf, "lineitem")
    key = F.concat_ws("-", F.col("l_orderkey"), F.col("l_linenumber"))
    return kql.sample_deterministic(li, key, 0.1).select(
        "l_orderkey", "l_linenumber"
    )


def _q_kql_scan(spark, sf):
    """KQL scan (accumulate profile): per-user running value sum restarting
    at each 'purchase' — segment-id windows, no Python state."""
    e = load_table(spark, sf, "events").withColumn("vdec", _dec(F.col("value")))
    out = kql.scan_accumulate(
        e,
        by=["user_id"],
        order=["ts", "event_id"],
        value="vdec",
        restart=F.col("event_type") == "purchase",
    )
    return out.select(
        "user_id", "event_id",
        F.col("scan_sum").cast("double").alias("scan_sum"),
        F.col("scan_step").cast("long").alias("scan_step"),
        F.col("scan_match_id").cast("long").alias("scan_match_id"),
    )


def _q_kql_rownumber(spark, sf):
    """serialize + row_number + prev/next + row_cumsum in ONE window
    partitioning (per user) — three logical KQL functions, one shuffle."""
    e = load_table(spark, sf, "events").withColumn("vdec", _dec(F.col("value")))
    out = kql.serialize_rows(e, order=["ts", "event_id"], by=["user_id"], row_name="rn")
    out = kql.prev_next(out, "value", order=["ts", "event_id"], by=["user_id"])
    out = kql.row_cumsum(out, "vdec", order=["ts", "event_id"], by=["user_id"])
    return out.select(
        "user_id", "event_id",
        F.col("rn").cast("long").alias("rn"),
        F.coalesce("prev_value", F.lit(-1.0)).alias("prev_value"),
        F.coalesce("next_value", F.lit(-1.0)).alias("next_value"),
        F.col("cumsum").cast("double").alias("cum_value"),
    )


def _series_daily(spark, sf):
    """Shared base: dense daily sum(value) series per event_type."""
    e = load_table(spark, sf, "events").withColumn("vdec", _dec(F.col("value")))
    return kql.make_series(
        e, on="ts", step="day", by=["event_type"],
        agg=F.sum("vdec").cast("double"), default=0.0,
    )


def _q_kql_series_stats(spark, sf):
    """series_stats over packed make-series arrays — one HOF pass."""
    s = kql.series_stats(_series_daily(spark, sf), "series_value")
    return s.select(
        "event_type",
        "series_min", "series_max", "series_min_idx", "series_max_idx",
        F.round("series_avg", 3).alias("series_avg"),
        F.round("series_stdev", 3).alias("series_stdev"),
        F.round("series_sum", 3).alias("series_sum"),
    )


def _q_kql_series_mavg(spark, sf):
    """series_moving_avg (trailing window 3) — transform+slice+aggregate
    HOFs; exploded for the value-hash."""
    s = _series_daily(spark, sf)
    s = s.withColumn("mavg", kql.series_moving_avg("series_value", 3))
    out = s.select(
        "event_type",
        F.posexplode(F.arrays_zip("series_ts", "series_value", "mavg")).alias(
            "idx", "z"
        ),
    )
    return out.select(
        "event_type",
        F.col("idx").cast("long").alias("idx"),
        F.col("z.series_ts").alias("day"),
        F.round(F.col("z.mavg"), 6).alias("mavg"),
    )


def _q_kql_series_corr(spark, sf):
    """series_pearson_correlation between the hourly count series of two
    event types (aligned dense axes, zip_with moment sums)."""
    e = load_table(spark, sf, "events")
    s = kql.make_series(
        e.where(F.col("event_type").isin("click", "view")),
        on="ts", step="hour", by=["event_type"],
        agg=F.count(F.lit(1)).cast("double"), default=0.0,
    )
    a = s.where(F.col("event_type") == "click").select(
        F.col("series_value").alias("va")
    )
    b = s.where(F.col("event_type") == "view").select(
        F.col("series_value").alias("vb")
    )
    pair = a.crossJoin(b)
    return pair.select(
        F.round(kql.series_pearson_correlation("va", "vb"), 6).alias("corr_click_view")
    )


def _q_kql_series_fir(spark, sf):
    """series_fir — trailing weighted [1,2,3] (normalized) and centered
    uniform [1,1,1] FIR filters over the daily series; partial-window
    edge renormalization, tap loops unrolled into codegen."""
    s = _series_daily(spark, sf)
    s = s.withColumn(
        "fir", kql.series_fir("series_value", [1.0, 2.0, 3.0], normalize=True)
    ).withColumn(
        "firc",
        kql.series_fir("series_value", [1.0, 1.0, 1.0], normalize=True, center=True),
    )
    out = s.select(
        "event_type",
        F.posexplode(F.arrays_zip("fir", "firc")).alias("idx", "z"),
    )
    return out.select(
        "event_type",
        F.col("idx").cast("long").alias("idx"),
        F.round(F.col("z.fir"), 6).alias("fir"),
        F.round(F.col("z.firc"), 6).alias("firc"),
    )


def _q_kql_series_iir(spark, sf):
    """series_iir — first-order exponential smoothing (b=[0.2],
    a=[1,−0.8]) as one left fold carrying the output array; the oracle
    replays the identical recurrence via a recursive CTE."""
    s = _series_daily(spark, sf)
    s = s.withColumn("sm", kql.series_iir("series_value", [0.2], [1.0, -0.8]))
    out = s.select("event_type", F.posexplode("sm").alias("idx", "y"))
    return out.select(
        "event_type",
        F.col("idx").cast("long").alias("idx"),
        F.round(F.col("y"), 6).alias("smoothed"),
    )


def _q_kql_series_seasonal(spark, sf):
    """series_seasonal period=7 — weekly phase means broadcast back over
    the daily series."""
    s = _series_daily(spark, sf)
    s = s.withColumn("seas", kql.series_seasonal("series_value", 7))
    out = s.select("event_type", F.posexplode("seas").alias("idx", "v"))
    return out.select(
        "event_type",
        F.col("idx").cast("long").alias("idx"),
        F.round(F.col("v"), 6).alias("seasonal"),
    )


def _q_kql_series_suite2(spark, sf):
    """Series math batch 2 — scalar reductions (sum/avg/min/max,
    dot product, magnitude) and element-wise exp/log/pow over the
    aligned click/view hourly count series; every float reduction an
    ascending-index fold so the oracle's ordered sums replay exactly."""
    e = load_table(spark, sf, "events")
    s = kql.make_series(
        e.where(F.col("event_type").isin("click", "view")),
        on="ts", step="hour", by=["event_type"],
        agg=F.count(F.lit(1)).cast("double"), default=0.0,
    )
    a = s.where(F.col("event_type") == "click").select(
        F.col("series_value").alias("va")
    )
    b = s.where(F.col("event_type") == "view").select(
        F.col("series_value").alias("vb")
    )
    pair = a.crossJoin(b)
    scalars = pair.select(
        F.round(kql.series_sum("va"), 6).alias("s_sum"),
        F.round(kql.series_avg("va"), 6).alias("s_avg"),
        F.round(kql.series_min("va"), 6).alias("s_min"),
        F.round(kql.series_max("va"), 6).alias("s_max"),
        F.round(kql.series_dot_product("va", "vb"), 6).alias("s_dot"),
        F.round(kql.series_magnitude("va"), 6).alias("s_mag"),
        # element-wise probes folded to scalars so one row carries all:
        F.round(
            kql.series_sum(
                kql.series_log(F.transform("va", lambda x: x + F.lit(1.0)))
            ),
            6,
        ).alias("s_logsum"),
        F.round(
            F.element_at(kql.series_exp(kql.series_sign("vb")), 1), 6
        ).alias("s_exp1"),
        F.round(
            kql.series_sum(
                kql.series_pow("va", F.transform("va", lambda x: F.lit(2.0)))
            ),
            6,
        ).alias("s_sumsq"),
    )
    return scalars


def _q_kql_pivot(spark, sf):
    """evaluate pivot(event_type, sum(value)) by day — one conditional
    aggregate, columns value-sorted for deterministic order."""
    e = load_table(spark, sf, "events").select(
        F.date_trunc("day", F.col("ts").cast("timestamp")).alias("day"),
        "event_type",
        _dec(F.col("value")).alias("v"),
    )
    out = kql.pivot_kql(
        e,
        "event_type",
        "v",
        agg="sum",
        group_cols=["day"],
        values=["click", "error", "purchase", "signup", "view"],
    )
    cols = [F.col("day").cast("timestamp").alias("day")] + [
        F.round(F.col(c).cast("double"), 6).alias(f"v_{c}")
        for c in ["click", "error", "purchase", "signup", "view"]
    ]
    return out.select(*cols)


def _q_kql_series_arith(spark, sf):
    """Element-wise series arithmetic (add/subtract/multiply/divide/abs)
    on the aligned click/view hourly count series."""
    e = load_table(spark, sf, "events")
    s = kql.make_series(
        e.where(F.col("event_type").isin("click", "view")),
        on="ts", step="hour", by=["event_type"],
        agg=F.count(F.lit(1)).cast("double"), default=0.0,
    )
    a = s.where(F.col("event_type") == "click").select(
        F.col("series_value").alias("va")
    )
    b = s.where(F.col("event_type") == "view").select(
        F.col("series_value").alias("vb")
    )
    pair = a.crossJoin(b).select(
        kql.series_add("va", "vb").alias("s_add"),
        kql.series_subtract("va", "vb").alias("s_sub"),
        kql.series_multiply("va", "vb").alias("s_mul"),
        kql.series_divide("va", "vb").alias("s_div"),
    )
    pair = pair.withColumn("s_abs", kql.series_abs("s_sub"))
    out = pair.select(
        F.posexplode(
            F.arrays_zip("s_add", "s_sub", "s_mul", "s_div", "s_abs")
        ).alias("idx", "z")
    )
    return out.select(
        F.col("idx").cast("long").alias("idx"),
        F.round(F.col("z.s_add"), 6).alias("s_add"),
        F.round(F.col("z.s_sub"), 6).alias("s_sub"),
        F.round(F.col("z.s_mul"), 6).alias("s_mul"),
        F.round(F.col("z.s_div"), 6).alias("s_div"),
        F.round(F.col("z.s_abs"), 6).alias("s_abs"),
    )


def _q_kql_hll_merge(spark, sf):
    """hll / hll_merge / dcount_hll — mergeable sketch rollup, verified
    through a predictive invariant (the whiten-probe pattern): the
    sketch bytes aren't DuckDB-replayable, but (a) the EXACT distinct
    count is, and (b) Datasketches HLL at default lgK has ~1.6% relative
    standard error, so the merged estimate landing within 5% of exact is
    a deterministic property at this scale — emitted as a boolean the
    oracle predicts true. Exactness is hash-checked, sketch quality is
    property-checked."""
    e = load_table(spark, sf, "events")
    per_type = e.groupBy("event_type").agg(kql.hll("user_id").alias("sketch"))
    est = per_type.agg(
        kql.dcount_hll(kql.hll_merge("sketch")).alias("_est")
    )
    exact = e.agg(F.countDistinct("user_id").cast("long").alias("exact_users"))
    return exact.crossJoin(est).select(
        "exact_users",
        (
            F.abs(F.col("_est").cast("double") / F.col("exact_users") - 1.0)
            < 0.05
        ).alias("hll_within_5pct"),
    )


def _q_kql_tdigest(spark, sf):
    """percentile_tdigest — the mergeable approximate-percentile rollup,
    verified like kql_hll_merge: the EXACT per-group median is
    hash-checked; the sketch estimate landing within 1% of exact is a
    deterministic property at accuracy 10000 and emitted as a boolean
    the oracle predicts true."""
    e = load_table(spark, sf, "events")
    per = e.groupBy("event_type").agg(
        kql.percentile_tdigest(F.col("value"), 0.5).alias("_approx"),
        F.expr(
            "percentile(value, 0.5)"
        ).alias("_exact"),
    )
    return per.select(
        "event_type",
        F.round(F.col("_exact"), 6).alias("exact_p50"),
        (
            F.abs(F.col("_approx") / F.col("_exact") - 1.0) < 0.01
        ).alias("tdigest_within_1pct"),
    ).orderBy("event_type")


def _q_kql_parse_kv(spark, sf):
    """parse-kv over a kv-rendered events line (quoted value carries the
    pair delimiter); the oracle predicts every extracted field straight
    from the source columns."""
    e = load_table(spark, sf, "events").filter(F.col("event_id") < 2000)
    s = F.concat(
        F.lit("id="), F.col("event_id").cast("string"),
        F.lit(' type="'), F.col("event_type"), F.lit(" x"),
        F.lit('" v='), F.round(F.col("value"), 3).cast("string"),
    )
    kv = kql.parse_kv(s, ["id", "type", "v", "missing"])
    return e.select(
        "event_id",
        kv.getField("id").alias("kv_id"),
        kv.getField("type").alias("kv_type"),
        kv.getField("v").alias("kv_v"),
        kv.getField("missing").alias("kv_missing"),
    )


def _q_kql_punycode(spark, sf):
    """punycode encode/decode + IDNA domain form — ground-truth-vector
    predictive oracle (the ipv6-suite pattern): fixture labels rotate by
    doc_id, expected outputs are public RFC 3492 vectors."""
    labels = ["münchen", "bücher", "españa", "café", "plain", "北京"]
    d = load_table(spark, sf, "documents").filter(F.col("doc_id") < 120)
    lab = F.element_at(
        F.array(*[F.lit(x) for x in labels]),
        (F.col("doc_id") % 6 + 1).cast("int"),
    )
    enc = kql.punycode_from_string(lab)
    return d.select(
        "doc_id",
        enc.alias("puny"),
        kql.punycode_to_string(enc).alias("back"),
        kql.punycode_domain_from_string(
            F.concat(lab, F.lit(".example.com"))
        ).alias("domain"),
    )


def _q_kql_partition_apply(spark, sf):
    """KQL partition by lang (top 2 by n_chars) — applyInPandas escape
    hatch, Arrow-batched per-key subquery."""
    d = load_table(spark, sf, "documents").select("lang", "doc_id", "n_chars")

    def top2(pdf):
        return pdf.sort_values(
            ["n_chars", "doc_id"], ascending=[False, True]
        ).head(2)

    return kql.partition_apply(
        d, "lang", top2, "lang string, doc_id long, n_chars long"
    )


def _q_kql_facet(spark, sf):
    """KQL facet by lang, source — one value-count table per column,
    surfaced as a single (facet, value, count_) union for the gate."""
    d = load_table(spark, sf, "documents")
    facets = kql.facet_by(d, "lang", "source")
    parts = [
        df.select(F.lit(name).alias("facet"), F.col(name).alias("value"), "count_")
        for name, df in facets.items()
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _q_kql_externaldata(spark, sf):
    """KQL externaldata — schema'd ad-hoc read of a non-catalog file."""
    import csv
    import tempfile

    path = os.path.join(tempfile.gettempdir(), "kpf-externaldata.csv")
    with open(path, "w", newline="") as fh:
        w = csv.writer(fh)
        for i in range(10):
            w.writerow([i, f"name-{i}", i * 1.5])
    return kql.externaldata(
        spark, "id long, name string, score double", path
    )


# --------------------------------------------------------------------------
# round-2 corpus-prep surface (operators/textprep.py)
# --------------------------------------------------------------------------


def _q_text_repetition(spark, sf):
    """Gopher-style repetition quality signals per document."""
    from kusto_pre_forge_spark.operators import textprep

    d = load_table(spark, sf, "documents")
    out = textprep.repetition_features(d)
    return out.select(
        "doc_id", "n_words",
        F.round("dup_word_frac", 6).alias("dup_word_frac"),
        F.round("top_bigram_frac", 6).alias("top_bigram_frac"),
    )


def _q_text_pii_scrub(spark, sf):
    """PII scrub over the events props payload (digit runs ≥ 2)."""
    from kusto_pre_forge_spark.operators import textprep

    e = load_table(spark, sf, "events")
    out = textprep.pii_scrub(e, "props", "event_id", digit_re=r"\d{2,}")
    return out.select(
        "event_id", "n_emails", "n_digit_runs",
        F.md5("scrubbed").alias("scrub_md5"),
    )


def _q_doc_chunks(spark, sf):
    """Fixed-size (40-word) chunking — map-only generate, tokenizer-ready."""
    from kusto_pre_forge_spark.operators import textprep

    d = load_table(spark, sf, "documents")
    return textprep.chunk_documents(d, chunk_words=40)


def _q_corpus_ngrams(spark, sf):
    """Corpus-wide top-20 bigrams (word-count shape, TakeOrdered top-k)."""
    from kusto_pre_forge_spark.operators import textprep

    d = load_table(spark, sf, "documents")
    return textprep.corpus_ngram_topk(d, n=2, k=20)




def _q_kql_predicates(spark, sf):
    """KQL where-clause predicate suite: has_any/has_all, startswith,
    endswith, matches regex, in~, between — all codegen'd booleans."""
    d = load_table(spark, sf, "documents")
    return d.select(
        "doc_id",
        kql.has_any("text", "data", "vector").alias("p_hasany"),
        kql.has_all("text", "data", "table").alias("p_hasall"),
        kql.startswith("source", "w").alias("p_sw"),
        kql.endswith("source", "b").alias("p_ew"),
        kql.matches_regex("lang", "^e").alias("p_rx"),
        kql.in_ci("lang", "EN", "DE").alias("p_in"),
        kql.between("n_chars", 100, 300).alias("p_btw"),
    )


def _q_kql_union_withsource(spark, sf):
    """KQL union withsource= — heterogeneous union tagged with the
    originating table name (zero-shuffle narrow concat)."""
    c = load_table(spark, sf, "customer").select(
        F.col("c_name").alias("name"), F.col("c_nationkey").cast("int").alias("nationkey")
    )
    s = load_table(spark, sf, "supplier").select(
        F.col("s_name").alias("name"), F.col("s_nationkey").cast("int").alias("nationkey")
    )
    return kql.union_withsource({"customer": c, "supplier": s})


def _q_ann_recall(spark, sf):
    """Measure-don't-guess: recall@10 of the LSH ANN path against the exact
    brute-force ranking, per query vector. Both sides are deterministic, so
    even the QUALITY metric is oracle-checkable — the eval harness a 100 TB
    embedding pipeline runs before trading exactness for speed."""
    from kusto_pre_forge_spark.operators import similarity

    emb = load_table(spark, sf, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    exact = similarity.cosine_topk(emb, q, k=10).select("query_id", "neighbor_id")
    lsh = similarity.cosine_topk_lsh(emb, q, k=10, bits=4, probe_hamming=2).select(
        "query_id", "neighbor_id"
    )
    # ONE reference to `exact`: the former semi-join + separate per-query
    # base inlined the brute-force subtree twice into the plan. A left
    # join against the (rank-unique) LSH candidates folds hit flag and
    # base count through a single aggregate — identical values (n_hit =
    # matched rows, n_exact = all rows; both exact integer counts), half
    # the ground-truth work (guide §2.4; r14 optimization).
    joined = exact.join(
        lsh.withColumn("_m", F.lit(1)), ["query_id", "neighbor_id"], "left"
    )
    return (
        joined.groupBy("query_id")
        .agg(
            F.count(F.lit(1)).alias("n_exact"),
            F.sum("_m").alias("n_hit"),
        )
        .select(
            "query_id",
            (F.coalesce("n_hit", F.lit(0)) / F.col("n_exact")).alias(
                "recall_at_10"
            ),
        )
    )


def _q_ann_recall_ivf(spark, sf):
    """Recall@10 of the IVF path under trained spherical-k-means centroids
    vs the deterministic lowest-id-centroid baseline, both against exact
    brute force — evidence the trained cells buy recall, not just speed.
    Queries are vec_id 100..109, DISJOINT from the lowest-id centroid rows:
    a query that is itself a centroid trivially probes its own cell first,
    inflating the baseline (measured: 0.90 vs an honest 0.44 at sf0.01).
    Config from the round-5 sweep (cells, iters, nprobe over 8 combos):
    16 cells / 8 iters / nprobe 6 → trained 0.69, lowest-id 0.62 at
    sf0.01 — past the 0.6 bar with the trained cells still clearly ahead.
    Driver-checkable via the predictive-invariant pattern: the k-means
    recall VALUE is not SQL-expressible, but both variants clearing the
    0.55 floor is a deterministic property of the seeded run at the
    driver's sf, emitted as a boolean the oracle predicts true (raw
    recalls stay pinned in tests/test_similarity.py)."""
    from kusto_pre_forge_spark.operators import similarity

    emb = load_table(spark, sf, "embeddings")
    q = emb.filter((F.col("vec_id") >= 100) & (F.col("vec_id") < 110))
    exact = similarity.cosine_topk(emb, q, k=10).select("query_id", "neighbor_id")

    km = similarity.ivf_kmeans_centroids(emb, n_cells=16, n_iters=8, seed=13)
    trained = similarity.cosine_topk_ivf(
        emb, q, k=10, n_cells=16, nprobe=6, centroids=km
    ).select("query_id", "neighbor_id")
    baseline = similarity.cosine_topk_ivf(emb, q, k=10, n_cells=16, nprobe=6).select(
        "query_id", "neighbor_id"
    )
    # ONE reference per heavy subtree: the former per-variant
    # mean_recall inlined the brute-force ground truth 4× (two
    # references × two variants). Now the rank-unique candidate sets
    # union with a variant tag, the ground truth explodes to the
    # 2-variant grid once, and one left join + two aggregates produce
    # the same per-variant mean recalls — same integer hit/base counts,
    # same floor booleans (guide §2.4; r14 optimization).
    approx = trained.withColumn("variant", F.lit("ivf_kmeans")).unionByName(
        baseline.withColumn("variant", F.lit("ivf_lowest_id"))
    )
    grid = exact.select(
        "query_id",
        "neighbor_id",
        F.explode(
            F.array(F.lit("ivf_kmeans"), F.lit("ivf_lowest_id"))
        ).alias("variant"),
    )
    per_q = (
        grid.join(
            approx.withColumn("_m", F.lit(1)),
            ["variant", "query_id", "neighbor_id"],
            "left",
        )
        .groupBy("variant", "query_id")
        .agg(F.count(F.lit(1)).alias("n_exact"), F.sum("_m").alias("n_hit"))
        .select(
            "variant",
            (F.coalesce("n_hit", F.lit(0)) / F.col("n_exact")).alias("r"),
        )
    )
    return (
        per_q.groupBy("variant")
        .agg(F.avg("r").alias("_recall"))
        .select(
            "variant",
            (F.col("_recall") >= 0.55).alias("recall_floor_ok"),
            F.lit("n_cells=16,n_iters=8,nprobe=6").alias("config"),
        )
        .orderBy("variant")
    )


def _q_ann_recall_pq(spark, sf):
    """Recall@10 of product quantization (Jégou et al. 2011): the raw ADC
    scan (m=32, ks=16 codebooks — 8× compression at full recall floor)
    and the production ADC+exact-rerank stage (top-50 candidates re-read
    raw vectors). Measured at sf0.01: raw 0.69, reranked 0.98 — floors
    0.55 / 0.90. Same predictive-invariant oracle pattern as
    ann_recall_ivf (the k-means recall VALUE is not SQL-expressible; the
    seeded run clearing the floors at the driver's sf is deterministic);
    raw recalls stay pinned in tests/test_similarity.py. Raw ADC recall
    decays as the corpus grows at fixed k (0.69 at sf0.01 → 0.54 at
    sf0.1) — expected PQ behavior; the production answer is the rerank
    stage, which holds ≥ 0.95 at 10× the corpus."""
    from kusto_pre_forge_spark.operators import similarity

    emb = load_table(spark, sf, "embeddings")
    q = emb.filter((F.col("vec_id") >= 100) & (F.col("vec_id") < 110))
    exact = similarity.cosine_topk(emb, q, k=10).select("query_id", "neighbor_id")

    # The two trainings are independent driver loops of small sequential
    # jobs (a seed job, then one job per iteration on a multi-partition
    # corpus, or one in-task loop on a single partition); overlap them so one
    # loop's job tail back-fills the other's idle executors (guide
    # §2.6). Each training's internal arithmetic (seeds, fold order,
    # iteration count) is untouched — results are bit-identical. Each
    # submission is wrapped on its own (one local-property copy per
    # thread) so the pool's jobs carry the caller's job group and tags.
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    with ThreadPoolExecutor(max_workers=2) as pool:
        cb_f = pool.submit(
            inheritable_thread_target(spark)(similarity.pq_train_codebooks),
            emb, m=32, ks=16, n_iters=5,
        )
        km_f = pool.submit(
            inheritable_thread_target(spark)(similarity.ivf_kmeans_centroids),
            emb, n_cells=16, n_iters=8, seed=13,
        )
        cb, km = cb_f.result(), km_f.result()
    raw = similarity.pq_topk(emb, q, k=10, codebooks=cb).select(
        "query_id", "neighbor_id"
    )
    rr = similarity.pq_topk(emb, q, k=10, codebooks=cb, rerank=50).select(
        "query_id", "neighbor_id"
    )
    ivfpq = similarity.pq_topk_ivf(
        emb, q, k=10, n_cells=16, nprobe=8, centroids=km, codebooks=cb, rerank=50
    ).select("query_id", "neighbor_id")

    # ONE reference per heavy subtree: the former per-variant
    # mean_recall referenced `exact` twice per call, inlining the
    # brute-force ground-truth subtree SIX times into the union plan
    # (measured: 70 Exchanges, ~8 s isolated — guide §2.4). Now the
    # rank-unique candidate sets union once with a variant tag, the
    # ground truth explodes to the 3-variant grid once, and one left
    # join + two aggregates yield the same per-variant mean recalls —
    # identical integer hit/base counts per (variant, query), identical
    # floor booleans. Plan after: 1 ground-truth subtree, 18 Exchanges.
    floors = {"pq_adc": 0.55, "pq_adc_rerank": 0.90, "pq_ivf_rerank": 0.60}
    approx = (
        raw.withColumn("variant", F.lit("pq_adc"))
        .unionByName(rr.withColumn("variant", F.lit("pq_adc_rerank")))
        .unionByName(ivfpq.withColumn("variant", F.lit("pq_ivf_rerank")))
    )
    grid = exact.select(
        "query_id",
        "neighbor_id",
        F.explode(
            F.array(*[F.lit(v) for v in sorted(floors)])
        ).alias("variant"),
    )
    per_q = (
        grid.join(
            approx.withColumn("_m", F.lit(1)),
            ["variant", "query_id", "neighbor_id"],
            "left",
        )
        .groupBy("variant", "query_id")
        .agg(F.count(F.lit(1)).alias("n_exact"), F.sum("_m").alias("n_hit"))
        .select(
            "variant",
            (F.coalesce("n_hit", F.lit(0)) / F.col("n_exact")).alias("r"),
        )
    )
    floor_expr = None
    for v, fl in floors.items():
        case = (F.col("variant") == v, F.lit(fl))
        floor_expr = (
            F.when(*case) if floor_expr is None else floor_expr.when(*case)
        )
    return (
        per_q.groupBy("variant")
        .agg(F.avg("r").alias("_r"))
        .select(
            "variant",
            (F.col("_r") >= floor_expr).alias("recall_floor_ok"),
            F.lit("m=32,ks=16,iters=5").alias("config"),
        )
        .orderBy("variant")
    )


def _q_kql_project_ops(spark, sf):
    """KQL project-away / project-keep / project-rename / project-reorder
    — column-metadata ops, zero data movement."""
    o = load_table(spark, sf, "orders")
    out = kql.project_away(o, "o_comment") if "o_comment" in o.columns else o
    out = kql.project_keep(out, "o_orderkey", "o_custkey", "o_orderpriority")
    out = kql.project_rename(out, okey="o_orderkey", prio="o_orderpriority")
    return kql.project_reorder(out, "prio")


def _q_kql_search(spark, sf):
    """KQL search in (customer, supplier) "Customer#00000001" — cross-table
    text search, per-table codegen OR-chain, narrow union."""
    named = {
        "nation": load_table(spark, sf, "nation"),
        "region": load_table(spark, sf, "region"),
    }
    return kql.search_tables(named, "asia")


def _q_kql_sample_distinct(spark, sf):
    """KQL sample-distinct — reproducible n-of-distinct-keys pick."""
    e = load_table(spark, sf, "events")
    return kql.sample_distinct(e, "user_id", 10)


def _q_doc_tfidf(spark, sf):
    """top-3 TF-IDF terms per document (two-level agg + rank window)."""
    from kusto_pre_forge_spark.operators import textprep

    d = load_table(spark, sf, "documents")
    return textprep.doc_tfidf_top_terms(d, k=3)


def _q_kql_reduce(spark, sf):
    """KQL reduce by — deterministic pattern clustering of event lines
    (digit/hex/guid runs masked); the log-triage workhorse."""
    e = load_table(spark, sf, "events")
    line = F.concat_ws(" ", F.col("event_type"), F.col("props"))
    return kql.reduce_by(e.select(line.alias("line")), "line")


def _q_kql_bag_bits(spark, sf):
    """KQL make_bag + binary_all_and/or/xor aggregates per event type."""
    e = load_table(spark, sf, "events")
    ev_k = F.get_json_object("props", "$.k").cast("int")
    return e.groupBy("event_type").agg(
        kql.make_bag_sorted(
            (F.col("user_id") % 4).cast("string"), F.col("event_id").cast("string")
        ).alias("bag"),
        kql.binary_all_and(ev_k).cast("long").alias("all_and"),
        kql.binary_all_or(ev_k).cast("long").alias("all_or"),
        kql.binary_all_xor(ev_k).cast("long").alias("all_xor"),
    )


def _q_multimodal_decode(spark, sf):
    """image decode plumbing (mapInPandas, Arrow batches) in fake mode —
    the sha-derived pseudo-decode is deterministic, so even the stub is
    oracle-checked end-to-end (features surfaced as exact byte ints)."""
    from kusto_pre_forge_spark.operators import multimodal

    d = load_table(spark, sf, "documents")
    blobs = multimodal.attach_blob(d, "text")
    feats = multimodal.decode_image_features(blobs, id_col="doc_id", fake=True)
    return feats.select(
        "doc_id",
        "content_sha",
        "width",
        "height",
        "channels",
        F.array_join(
            F.transform(
                "feature", lambda x: F.round(x * 255).cast("int").cast("string")
            ),
            ",",
        ).alias("feature_bytes"),
    )


def _q_multimodal_frames(spark, sf):
    """video frame-sampling plumbing (fake mode): 32-byte frame windows
    every 4th frame, sha per frame. ASCII-only docs so the SQL oracle's
    char-based windows equal the stub's byte windows."""
    from kusto_pre_forge_spark.operators import multimodal

    d = load_table(spark, sf, "documents").where(
        F.octet_length("text") == F.length("text")
    )
    blobs = multimodal.attach_blob(d, "text")
    return multimodal.sample_frames(blobs, id_col="doc_id", every_n=4, fake=True)


def _q_multimodal_image_dhash(spark, sf):
    """Perceptual dHash over REAL decoded PNGs. Fixture images are built
    so the hash is analytically predictable: even docs get a strictly
    increasing horizontal gradient (every left<right bit set → hash −1 as
    a signed long), odd docs a constant fill (no bit set → 0) — the
    oracle checks the decode→grayscale→resize→hash pipeline against
    ground truth, not a replay."""
    from kusto_pre_forge_spark.operators import multimodal

    d = (
        load_table(spark, sf, "documents")
        .filter(F.col("doc_id") < 80)
        .select("doc_id")
    )

    def gen(it):
        import pandas as pd

        from kusto_pre_forge_spark.operators import mediacodec

        for pdf in it:
            ids, blobs = [], []
            for doc_id in pdf["doc_id"]:
                i = int(doc_id)
                w, h = 18, 8
                if i % 2 == 0:
                    row = bytes(x * 14 for x in range(w))
                else:
                    row = bytes([(i * 17) % 256]) * w
                blobs.append(mediacodec.encode_png(w, h, row * h, 1))
                ids.append(i)
            yield pd.DataFrame({"doc_id": ids, "blob": blobs})

    blobs = d.mapInPandas(gen, "doc_id long, blob binary")
    return multimodal.image_dhash(blobs).select(
        "doc_id", "dhash", "width", "height"
    )


def _q_multimodal_image_phash(spark, sf):
    """Perceptual DCT hash (pHash) over REAL decoded PNGs. Fixtures have
    ANALYTIC DCT structure: a horizontal decreasing ramp is linear, so
    its even-frequency coefficients are EXACTLY zero and its odd ones
    positive → bits {DC,1,3,5,7} = 171; a constant image keeps only DC
    → 1 at ANY brightness (luminance invariance in the oracle itself);
    a vertical ramp transposes to bits {0,8,24,40,56}. Width-64 ramps
    hash identically to width-32 (scale invariance) — the oracle states
    ground truth for decode→gray→resize→DCT→median→pack, not a replay."""
    from kusto_pre_forge_spark.operators import multimodal

    d = (
        load_table(spark, sf, "documents")
        .filter(F.col("doc_id") < 90)
        .select("doc_id")
    )

    def gen(it):
        import pandas as pd

        from kusto_pre_forge_spark.operators import mediacodec

        for pdf in it:
            ids, blobs = [], []
            for doc_id in pdf["doc_id"]:
                i = int(doc_id)
                if i % 3 == 0:
                    w, h = (32, 32) if i % 2 == 0 else (64, 32)
                    rep = w // 32
                    row = bytes(
                        248 - 8 * (x // rep) for x in range(w)
                    )
                    pix = row * h
                elif i % 3 == 1:
                    w = h = 32
                    pix = bytes([(i * 29) % 255 + 1]) * (w * h)
                else:
                    w = h = 32
                    pix = b"".join(
                        bytes([248 - 8 * y]) * w for y in range(h)
                    )
                blobs.append(mediacodec.encode_png(w, h, pix, 1))
                ids.append(i)
            yield pd.DataFrame({"doc_id": ids, "blob": blobs})

    blobs = d.mapInPandas(gen, "doc_id long, blob binary")
    return multimodal.image_phash(blobs).select(
        "doc_id", "phash", "width", "height"
    )


def _q_multimodal_image_dhash_tiff(spark, sf):
    """Perceptual dHash over REAL decoded baseline TIFFs — fixtures
    rotate the codec's axes (gray vs RGB, little vs big endian,
    uncompressed vs PackBits) while the hash rule stays analytic:
    even docs a horizontal gradient (→ −1), odd docs constant (→ 0);
    TIFF decode is lossless so the bits are exact."""
    from kusto_pre_forge_spark.operators import multimodal

    d = (
        load_table(spark, sf, "documents")
        .filter(F.col("doc_id") < 60)
        .select("doc_id")
    )

    def gen(it):
        import pandas as pd

        from kusto_pre_forge_spark.operators import mediacodec

        for pdf in it:
            ids, blobs = [], []
            for doc_id in pdf["doc_id"]:
                i = int(doc_id)
                w, h = 18, 8
                if i % 2 == 0:
                    row = bytes(x * 14 for x in range(w))
                else:
                    row = bytes([(i * 29) % 256]) * w
                gray = row * h
                ch = 3 if i % 4 >= 2 else 1
                px = (
                    bytes(b for v in gray for b in (v, v, v))
                    if ch == 3
                    else gray
                )
                blobs.append(
                    mediacodec.encode_tiff(
                        w,
                        h,
                        px,
                        channels=ch,
                        packbits=(i // 4) % 2 == 0,
                        big_endian=(i // 8) % 2 == 0,
                    )
                )
                ids.append(i)
            yield pd.DataFrame({"doc_id": ids, "blob": blobs})

    blobs = d.mapInPandas(gen, "doc_id long, blob binary")
    return multimodal.image_dhash(blobs).select(
        "doc_id", "dhash", "width", "height"
    )


def _q_multimodal_image_dhash_jpeg(spark, sf):
    """Perceptual dHash over REAL decoded JPEGs — the pure-numpy baseline
    decoder (Huffman + dequant + IDCT) feeding the same pipeline as the
    PNG variant. Fixtures rotate through the decoder's paths (grayscale,
    4:4:4 color, 4:2:0 subsampled, restart markers) while keeping the
    hash analytically predictable: even docs a strict horizontal
    gradient (all left<right bits → −1), odd docs a constant fill (→ 0);
    gradient steps of 28 gray levels dwarf the ≤3-level quality-95
    quantization error, so lossy decode cannot flip a bit."""
    from kusto_pre_forge_spark.operators import multimodal

    d = (
        load_table(spark, sf, "documents")
        .filter(F.col("doc_id") < 80)
        .select("doc_id")
    )

    def gen(it):
        import pandas as pd

        from kusto_pre_forge_spark.operators import mediacodec

        for pdf in it:
            ids, blobs = [], []
            for doc_id in pdf["doc_id"]:
                i = int(doc_id)
                w, h = 18, 8
                if i % 2 == 0:
                    row = bytes(x * 14 for x in range(w))
                else:
                    row = bytes([(i * 17) % 256]) * w
                gray = row * h
                if i % 8 == 0:
                    # 4:2:0 color path: equal channels keep luma = gray
                    px = bytes(
                        b for v in gray for b in (v, v, v)
                    )
                    blob = mediacodec.encode_jpeg(
                        w, h, px, 3, quality=95, subsampling="420"
                    )
                elif i % 8 == 4:
                    blob = mediacodec.encode_jpeg(
                        w, h, gray, 1, quality=95, restart_interval=2
                    )
                else:
                    blob = mediacodec.encode_jpeg(w, h, gray, 1, quality=95)
                blobs.append(blob)
                ids.append(i)
            yield pd.DataFrame({"doc_id": ids, "blob": blobs})

    blobs = d.mapInPandas(gen, "doc_id long, blob binary")
    return multimodal.image_dhash(blobs).select(
        "doc_id", "dhash", "width", "height"
    )


def _q_multimodal_image_dhash_gif(spark, sf):
    """Perceptual dHash over REAL decoded GIFs — stdlib LZW + palette
    decode (mediacodec.decode_gif), lossless, so the analytic oracle is
    exact with no quantization margin: even docs a strict horizontal
    gradient (hash −1), odd docs a constant fill (hash 0)."""
    from kusto_pre_forge_spark.operators import multimodal

    d = (
        load_table(spark, sf, "documents")
        .filter(F.col("doc_id") < 80)
        .select("doc_id")
    )

    def gen(it):
        import pandas as pd

        from kusto_pre_forge_spark.operators import mediacodec

        for pdf in it:
            ids, blobs = [], []
            for doc_id in pdf["doc_id"]:
                i = int(doc_id)
                w, h = 18, 8
                if i % 2 == 0:
                    row = bytes(x * 14 for x in range(w))
                else:
                    row = bytes([(i * 17) % 256]) * w
                blobs.append(mediacodec.encode_gif(w, h, row * h, 1))
                ids.append(i)
            yield pd.DataFrame({"doc_id": ids, "blob": blobs})

    blobs = d.mapInPandas(gen, "doc_id long, blob binary")
    return multimodal.image_dhash(blobs).select(
        "doc_id", "dhash", "width", "height"
    )


def _q_multimodal_image_dhash_webp(spark, sf):
    """Perceptual dHash over REAL decoded WebP (round-12 ask #1): the
    dependency-free VP8L decoder (operators/webp.py — prefix codes,
    LZ77, color cache, all four transforms) feeds the same dedup
    family as PNG/GIF/JPEG. The forge writes lossless VP8L, so the
    analytic oracle is exact with zero quantization margin: even docs
    a strict horizontal gradient (hash −1), odd docs a constant fill
    (hash 0) — the GIF pattern, swapping only the container."""
    from kusto_pre_forge_spark.operators import multimodal

    d = (
        load_table(spark, sf, "documents")
        .filter(F.col("doc_id") < 80)
        .select("doc_id")
    )

    def gen(it):
        import pandas as pd

        from kusto_pre_forge_spark.operators import webp

        for pdf in it:
            ids, blobs = [], []
            for doc_id in pdf["doc_id"]:
                i = int(doc_id)
                w, h = 18, 8
                if i % 2 == 0:
                    row = bytes(x * 14 for x in range(w))
                else:
                    row = bytes([(i * 17) % 256]) * w
                blobs.append(webp.encode_webp_vp8l(w, h, 1, row * h))
                ids.append(i)
            yield pd.DataFrame({"doc_id": ids, "blob": blobs})

    blobs = d.mapInPandas(gen, "doc_id long, blob binary")
    return multimodal.image_dhash(blobs).select(
        "doc_id", "dhash", "width", "height"
    )


def _q_multimodal_gif_dhash(spark, sf):
    """Per-frame dHash over REAL animated-GIF decode with a
    transparency-sensitive fixture: frame 0 is a gradient (dhash -1),
    frame 1 is a FULLY TRANSPARENT overlay (canvas must stay the
    gradient → -1; if transparency were ignored its literal constant
    content would hash 0), frame 2 is an opaque constant (0). The oracle
    predicts every hash from the rule — GIF decode is lossless, so the
    bits are exact."""
    from kusto_pre_forge_spark.operators import multimodal

    d = (
        load_table(spark, sf, "documents")
        .filter(F.col("doc_id") < 40)
        .select("doc_id")
    )

    def gen(it):
        import pandas as pd

        from kusto_pre_forge_spark.operators import mediacodec

        for pdf in it:
            ids, blobs = [], []
            for doc_id in pdf["doc_id"]:
                i = int(doc_id)
                w, h = 18, 8
                grad = bytes(
                    b for x in range(w) for b in (x * 14, x * 14, x * 14)
                ) * h
                tcol = (255, 0, 255)
                trans = bytes(b for _ in range(w * h) for b in tcol)
                const = bytes([(i * 31) % 256] * 3) * (w * h)
                blobs.append(
                    mediacodec.encode_gif_animation(
                        w,
                        h,
                        [
                            {"pixels": grad, "disposal": 1},
                            {
                                "pixels": trans,
                                "transparent": tcol,
                                "disposal": 1,
                            },
                            {"pixels": const, "disposal": 1},
                        ],
                    )
                )
                ids.append(i)
            yield pd.DataFrame({"doc_id": ids, "blob": blobs})

    blobs = d.mapInPandas(gen, "doc_id long, blob binary")
    return multimodal.video_frame_dhash(blobs).select(
        "doc_id",
        F.col("frame_index").cast("long").alias("frame_index"),
        "dhash",
    )


def _q_multimodal_webp_dhash(spark, sf):
    """Per-frame dHash over REAL animated-WebP decode (round-12): the
    GIF transparency fixture transposed into the ANMF container —
    frame 0 a gradient (dhash −1), frame 1 a FULLY TRANSPARENT blended
    overlay (canvas must stay the gradient → −1; ignoring the blend
    flag would hash its literal content 0), frame 2 an opaque no-blend
    constant (0). Compositing proof + oracle exactness: VP8L is
    lossless, so every hash is predicted bit-for-bit."""
    from kusto_pre_forge_spark.operators import multimodal

    d = (
        load_table(spark, sf, "documents")
        .filter(F.col("doc_id") < 40)
        .select("doc_id")
    )

    def gen(it):
        import pandas as pd

        from kusto_pre_forge_spark.operators import webp

        for pdf in it:
            ids, blobs = [], []
            for doc_id in pdf["doc_id"]:
                i = int(doc_id)
                w, h = 18, 8
                grad = bytes(
                    c
                    for _y in range(h)
                    for x in range(w)
                    for c in (x * 14, x * 14, x * 14, 255)
                )
                trans = bytes((0, 0, 0, 0)) * (w * h)
                const = bytes(((i * 31) % 256,) * 3 + (255,)) * (w * h)
                blobs.append(
                    webp.encode_webp_animation(
                        w,
                        h,
                        [
                            {"pixels": grad, "duration": 40},
                            {"pixels": trans, "duration": 40},
                            {"pixels": const, "blend": False,
                             "duration": 40},
                        ],
                    )
                )
                ids.append(i)
            yield pd.DataFrame({"doc_id": ids, "blob": blobs})

    blobs = d.mapInPandas(gen, "doc_id long, blob binary")
    return multimodal.video_frame_dhash(blobs).select(
        "doc_id",
        F.col("frame_index").cast("long").alias("frame_index"),
        "dhash",
    )


def _q_multimodal_video_dhash(spark, sf):
    """Per-frame perceptual dHash over REAL decoded video: MJPEG-in-AVI
    fixtures (4 frames per doc; frame parity decides gradient vs
    constant content) walked by the RIFF iterator, each frame decoded by
    the baseline JPEG decoder, hashed with the image_dhash rule. The
    oracle predicts every (doc, frame) hash from the fixture rule —
    gradient steps of 28 gray levels dwarf quality-95 quantization, so
    lossy decode cannot flip a bit."""
    from kusto_pre_forge_spark.operators import multimodal

    d = (
        load_table(spark, sf, "documents")
        .filter(F.col("doc_id") < 40)
        .select("doc_id")
    )

    def gen(it):
        import pandas as pd

        from kusto_pre_forge_spark.operators import mediacodec

        for pdf in it:
            ids, blobs = [], []
            for doc_id in pdf["doc_id"]:
                i = int(doc_id)
                w, h = 18, 8
                frames = []
                for fi in range(4):
                    if (i + fi) % 2 == 0:
                        row = bytes(x * 14 for x in range(w))
                    else:
                        row = bytes([(i * 31 + fi * 17) % 256]) * w
                    frames.append(
                        mediacodec.encode_jpeg(w, h, row * h, 1, quality=95)
                    )
                blobs.append(mediacodec.encode_avi_mjpeg(w, h, frames, fps=4))
                ids.append(i)
            yield pd.DataFrame({"doc_id": ids, "blob": blobs})

    blobs = d.mapInPandas(gen, "doc_id long, blob binary")
    return multimodal.video_frame_dhash(blobs).select(
        "doc_id",
        F.col("frame_index").cast("long").alias("frame_index"),
        "dhash",
    )


def _q_multimodal_dedup_pairs(spark, sf):
    """END-TO-END image near-dup pairs: real PNG fixtures → image_dhash →
    generic pigeonhole-banded hamming_pairs. Three analytic hash classes
    by doc_id % 3 — full gradient (−1), gradient with a flat tail byte
    (0xFE per row), constant (0) — pairwise distances 0 within a class
    and ≥ 8 across classes, so the oracle predicts the pair set exactly:
    all same-class (a < b) pairs at distance 0."""
    from kusto_pre_forge_spark.operators import multimodal
    from kusto_pre_forge_spark.operators.dedup import hamming_pairs

    d = (
        load_table(spark, sf, "documents")
        .filter(F.col("doc_id") < 60)
        .select("doc_id")
    )

    def gen(it):
        import pandas as pd

        from kusto_pre_forge_spark.operators import mediacodec

        for pdf in it:
            ids, blobs = [], []
            for doc_id in pdf["doc_id"]:
                i = int(doc_id)
                w, h = 18, 8
                cls = i % 3
                if cls == 0:
                    row = bytes(x * 14 for x in range(w))
                elif cls == 1:
                    # increasing through sampled col 14, flat tail: the
                    # last sampled pair (x=14 vs x=16) compares equal
                    row = bytes(
                        (x * 14 if x <= 15 else 14 * 14) for x in range(w)
                    )
                else:
                    row = bytes([123]) * w
                blobs.append(mediacodec.encode_png(w, h, row * h, 1))
                ids.append(i)
            yield pd.DataFrame({"doc_id": ids, "blob": blobs})

    blobs = d.mapInPandas(gen, "doc_id long, blob binary")
    hashes = multimodal.image_dhash(blobs).select("doc_id", "dhash")
    return hamming_pairs(hashes, "dhash", "doc_id", max_hamming=3).select(
        "id_a", "id_b", "distance"
    )


def _q_multimodal_frame_plan(spark, sf):
    """Frame-sampling plan from REAL MP4 metadata: fixtures encode a known
    mvhd duration (doc_id-derived), the operator parses the actual boxes
    and emits 1 fps sample timestamps; the oracle predicts the exact rows
    from the duration rule."""
    from kusto_pre_forge_spark.operators import multimodal

    d = (
        load_table(spark, sf, "documents")
        .filter(F.col("doc_id") < 60)
        .select("doc_id")
    )

    def gen(it):
        import pandas as pd

        from kusto_pre_forge_spark.operators import mediacodec

        for pdf in it:
            ids, blobs = [], []
            for doc_id in pdf["doc_id"]:
                i = int(doc_id)
                # duration: (2 + i%5) seconds at timescale 1000
                blobs.append(
                    mediacodec.encode_mp4_meta(64, 48, (2 + i % 5) * 1000)
                )
                ids.append(i)
            yield pd.DataFrame({"doc_id": ids, "blob": blobs})

    blobs = d.mapInPandas(gen, "doc_id long, blob binary")
    return multimodal.plan_frame_times(blobs, fps_sample=1.0).select(
        "doc_id", "frame_index", "t_ms"
    )


def _q_multimodal_audio_g711(spark, sf):
    """Energy-delta fingerprint over REAL G.711 telephony WAVs (µ-law
    even docs, A-law odd docs): frames alternate silence and a loud
    companded tone, so the 32 contour bits are analytic — quiet-first
    docs read 1010… (0xAAAAAAAA), loud-first read 0101… (0x55555555).
    Exercises the full companding expansion through the same
    decode_wav → fingerprint surface as PCM."""
    from kusto_pre_forge_spark.operators import multimodal

    d = (
        load_table(spark, sf, "documents")
        .filter(F.col("doc_id") < 60)
        .select("doc_id")
    )

    def gen(it):
        import pandas as pd

        from kusto_pre_forge_spark.operators import mediacodec

        for pdf in it:
            ids, blobs = [], []
            for doc_id in pdf["doc_id"]:
                i = int(doc_id)
                law = "ulaw" if i % 2 == 0 else "alaw"
                quiet = 0xFF if law == "ulaw" else 0xD5  # code for 0/+8
                loud = 0x80 if law == "ulaw" else 0x2A  # large |linear|
                first_quiet = (i // 2) % 2 == 0
                codes = bytearray()
                for f in range(33):
                    even = f % 2 == 0
                    c = (
                        quiet
                        if (even if first_quiet else not even)
                        else loud
                    )
                    codes += bytes([c] * 10)
                blobs.append(
                    mediacodec.encode_wav_g711(8000, bytes(codes), law=law)
                )
                ids.append(i)
            yield pd.DataFrame({"doc_id": ids, "blob": blobs})

    blobs = d.mapInPandas(gen, "doc_id long, blob binary")
    return multimodal.audio_fingerprint(blobs).select(
        "doc_id", "afp", "sample_rate", "n_samples"
    )


def _q_multimodal_audio_fp(spark, sf):
    """Energy-delta fingerprint over REAL decoded WAVs; fixtures make the
    hash analytic: even docs get an amplitude ramp (every later-frame
    energy higher → all 32 bits → 4294967295), odd docs constant tone
    (→ 0). Oracle = ground truth from the rule."""
    from kusto_pre_forge_spark.operators import multimodal

    d = (
        load_table(spark, sf, "documents")
        .filter(F.col("doc_id") < 80)
        .select("doc_id")
    )

    def gen(it):
        import pandas as pd

        from kusto_pre_forge_spark.operators import mediacodec

        for pdf in it:
            ids, blobs = [], []
            for doc_id in pdf["doc_id"]:
                i = int(doc_id)
                rate = 8000 + (i % 5) * 1000
                if i % 2 == 0:
                    samples = [j * 16 for j in range(330)]
                else:
                    samples = [1000] * 330
                blobs.append(mediacodec.encode_wav(rate, samples))
                ids.append(i)
            yield pd.DataFrame({"doc_id": ids, "blob": blobs})

    blobs = d.mapInPandas(gen, "doc_id long, blob binary")
    return multimodal.audio_fingerprint(blobs).select(
        "doc_id", "afp", "sample_rate", "n_samples"
    )


def _q_multimodal_real_meta(spark, sf):
    """REAL media metadata with zero codec dependencies: fabricate genuine
    PNG, PCM-WAV, and ISO-BMFF/MP4 files per doc (mediacodec.encode_*),
    then parse their actual container bytes back with probe_media (PNG
    IHDR / JPEG SOFn / RIFF fmt+data chunk walk / MP4 moov box walk). The oracle predicts the header fields from
    the generation rule; the parse itself runs on the real bytes. Fields
    absent for a kind are sentinel-coalesced to -1 (None/NaN differ
    between engines' pandas bridges; exact ints don't)."""
    from kusto_pre_forge_spark.operators import multimodal

    d = (
        load_table(spark, sf, "documents")
        .filter(F.col("doc_id") < 120)
        .select("doc_id")
    )

    def gen(it):
        import pandas as pd

        from kusto_pre_forge_spark.operators import mediacodec

        for pdf in it:
            ids, payloads = [], []
            for doc_id in pdf["doc_id"]:
                i = int(doc_id)
                if i % 3 == 0:
                    w, h = 1 + i % 16, 1 + i % 11
                    payloads.append(
                        mediacodec.encode_png(
                            w, h, bytes([i % 256]) * (w * h * 3), 3
                        )
                    )
                elif i % 3 == 1:
                    rate, n = 8000 + (i % 5) * 1000, 100 + i % 50
                    payloads.append(
                        mediacodec.encode_wav(rate, [(i * 257) % 16384] * n)
                    )
                else:
                    payloads.append(
                        mediacodec.encode_mp4_meta(
                            16 + i % 32, 9 + i % 17, 1000 + (i % 20) * 500
                        )
                    )
                ids.append(i)
            yield pd.DataFrame({"doc_id": ids, "blob": payloads})

    blobs = d.mapInPandas(gen, "doc_id long, blob binary")
    probed = multimodal.probe_media(blobs)
    neg1 = F.lit(-1)
    return probed.select(
        "doc_id",
        "media_kind",
        F.coalesce("width", neg1).alias("width"),
        F.coalesce("height", neg1).alias("height"),
        "channels",
        F.coalesce("sample_rate", neg1).alias("sample_rate"),
        "bits_per_sample",
        F.coalesce("n_samples", neg1.cast("long")).alias("n_samples"),
        F.coalesce("duration_s", F.lit(-1.0)).alias("duration_s"),
    )


def _q_kql_series_fit(spark, sf):
    """series_fit_line (closed-form OLS, higher-order folds) +
    series_fit_2lines in its LINEAR exploded prefix-sum form
    (series_fit_2lines_df — the packed-array candidate scan is O(n²) and
    took 48 s on ~330-bin series; the window form is ~1 s and its
    sequential cumsums replay bit-exactly in the SQL oracle)."""
    s = _series_daily(spark, sf)
    fit = kql.series_fit_line("series_value")
    line = s.select(
        "event_type",
        F.round(fit["slope"], 4).alias("slope"),
        F.round(fit["interception"], 4).alias("interception"),
        F.round(fit["rsquare"], 4).alias("rsquare"),
        F.round(fit["variance"], 3).alias("variance"),
        F.round(fit["rvariance"], 3).alias("rvariance"),
    )
    fit2 = kql.series_fit_2lines_df(s, "series_value", ["event_type"])
    two = fit2.select(
        "event_type",
        F.col("fit2_split_idx").alias("split_idx"),
        F.round("fit2_rsquare", 4).alias("rsquare2"),
        F.round("fit2_slope_left", 4).alias("slope_left"),
        F.round("fit2_slope_right", 4).alias("slope_right"),
        F.round("fit2_interception_left", 4).alias("interception_left"),
        F.round("fit2_interception_right", 4).alias("interception_right"),
    )
    return line.join(two, "event_type")


def _q_sequence_detect(spark, sf):
    """evaluate sequence_detect(): view -> click -> purchase per user,
    each step within 2 days of the previous, whole sequence within 3 days
    — greedy first-match, integer-microsecond arithmetic (activity.py)."""
    from kusto_pre_forge_spark.operators import activity

    e = load_table(spark, sf, "events")
    out = activity.sequence_detect(
        e, "user_id", "ts", "event_type",
        ["view", "click", "purchase"],
        max_step_seconds=2 * 86400,
        max_span_seconds=3 * 86400,
    )
    return out.select(
        "user_id", "step1_ts", "step2_ts", "step3_ts",
        F.round("span_s", 6).alias("span_s"),
    )


def _q_kql_datetime_suite(spark, sf):
    """Datetime scalar batch: unixtime round-trips, make_datetime,
    boundary-crossing datetime_diff (KQL semantics: boundaries crossed,
    not full periods), week_of_year (ISO), calendar parts, endofyear."""
    e = load_table(spark, sf, "events").where(F.col("event_id") < 400)
    eid = F.col("event_id")
    ts = F.col("ts")
    anchor = F.lit("2024-01-15 06:30:00").cast("timestamp")
    return e.select(
        "event_id",
        kql.unixtime_seconds_todatetime(eid * 3600 + 1700000000).alias("ut_s"),
        kql.unixtime_milliseconds_todatetime(eid * 1000 + 1700000000000).alias("ut_ms"),
        kql.make_datetime(F.lit(2024), (eid % 12) + 1, (eid % 28) + 1).alias("mkdt"),
        kql.datetime_diff("year", ts, anchor).alias("dy"),
        kql.datetime_diff("quarter", ts, anchor).alias("dq"),
        kql.datetime_diff("month", ts, anchor).alias("dmo"),
        kql.datetime_diff("week", ts, anchor).alias("dw"),
        kql.datetime_diff("day", ts, anchor).alias("dd"),
        kql.datetime_diff("hour", ts, anchor).alias("dh"),
        kql.week_of_year(ts).cast("int").alias("woy"),
        kql.dayofyear(ts).cast("int").alias("doy"),
        kql.monthofyear(ts).cast("int").alias("moy"),
        kql.hourofday(ts).cast("int").alias("hod"),
        kql.getyear(ts).cast("int").alias("yr"),
        kql.endofyear(ts).alias("eoy"),
        kql.indexof_regex("event_type", "[iu]").alias("ixr"),
        kql.indexof_regex("event_type", "zz").alias("ixr_miss"),
        kql.has_any_index("event_type", ["xx", "ck", "or"]).alias("hai"),
    )


def _q_kql_top_nested_others(spark, sf):
    """top-nested ... with others = 'Other': the per-group and grand
    remainder rows, exact decimal differences of sums the plan already
    computes."""
    c = load_table(spark, sf, "customer")
    n = load_table(spark, sf, "nation")
    r = load_table(spark, sf, "region")
    j = (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select("r_name", "n_name", "c_acctbal")
    )
    out = kql.top_nested(
        j,
        outer_key="r_name",
        inner_key="n_name",
        measure=F.sum(_dec(F.col("c_acctbal"))),
        k_outer=3,
        k_inner=2,
        outer_alias="region_bal",
        inner_alias="nation_bal",
        others_label="Other",
    )
    return out.select(
        "r_name",
        F.col("region_bal").cast("double").alias("region_bal"),
        "n_name",
        F.col("nation_bal").cast("double").alias("nation_bal"),
    )


def _q_kql_ipv6_suite(spark, sf):
    """KQL IPv6 scalars: parse_ipv6 canonicalization (:: expansion,
    zero-padding), ipv6_compare, ipv6_is_match prefixes — pure string
    HOFs. The oracle PREDICTS the canonical forms from the generation
    rule instead of re-running a parser, so the parse itself is checked
    against ground truth."""
    e = load_table(spark, sf, "events").where(F.col("event_id") < 400)
    eid = F.col("event_id")
    h1 = eid % 65536
    h2 = (eid * 7) % 65536
    s1 = F.format_string("2001:db8::%x", h1)
    s1_alt = F.format_string("2001:0db8:0:0:0:0:0:%x", h1)
    s2 = F.format_string("%x:%x:0:0:ff:%x:0:1", h1, h2, h1)
    bad = F.format_string("x::%x", h1)
    return e.select(
        "event_id",
        kql.parse_ipv6(s1).alias("canon1"),
        kql.parse_ipv6(s2).alias("canon2"),
        kql.parse_ipv6(bad).alias("canon_bad"),
        kql.ipv6_compare(s1, s2).alias("cmp12"),
        kql.ipv6_compare(s1, s1_alt).alias("cmp_eq"),
        kql.ipv6_is_match(s1, s2, 32).alias("m32"),
        kql.ipv6_is_match(s1, s1_alt, 128).alias("m128"),
    )


#: shared (lon, lat) ring for the polygon test — oracle SQL is generated
#: from the SAME literal, so both engines unroll identical arithmetic
_GEO_POLY = [
    (-10.5, 35.25), (25.75, 35.25), (40.5, 55.5), (10.25, 71.5), (-25.5, 60.75),
]


def _geo_poly_crossings_sql(px: str, py: str) -> str:
    """Mechanically unroll the same ray cast as geo_point_in_polygon."""
    terms = []
    n = len(_GEO_POLY)
    for i in range(n):
        x1, y1 = _GEO_POLY[i]
        x2, y2 = _GEO_POLY[(i + 1) % n]
        terms.append(
            f"CASE WHEN (({y1!r} > {py}) != ({y2!r} > {py})) "
            f"AND ({px} < ({x2!r} - {x1!r}) * ({py} - {y1!r}) / ({y2!r} - {y1!r}) + {x1!r}) "
            "THEN 1 ELSE 0 END"
        )
    return "(0 + " + " + ".join(terms) + ")"


_GEO_POINTS = [
    # (pid, lat, lon) — Wikipedia geohash vectors, origin, both poles, cities
    (1, 57.64911, 10.40744), (2, 42.6, -5.6), (3, 0.0, 0.0),
    (4, 90.0, 180.0), (5, -90.0, -180.0), (6, 48.8566, 2.3522),
    (7, -33.8688, 151.2093), (8, 40.7128, -74.006), (9, 35.6762, 139.6503),
    (10, -1.2921, 36.8219), (11, 19.4326, -99.1332), (12, 69.6496, 18.956),
]


def _q_kql_scalar_suite6(spark, sf):
    """Scalar batch 6: isfinite/isinf over injected ±inf/NaN, gettype
    (static Catalyst type → KQL spelling, nulls at runtime), one-match
    trim_start/trim_end, array_rotate_right, array_split. The oracle
    predicts each value from the injection rule."""
    e = load_table(spark, sf, "events").where(F.col("event_id") < 400)
    eid = F.col("event_id")
    x = (
        F.when(eid % 4 == 1, F.lit(float("inf")))
        .when(eid % 4 == 2, F.lit(float("-inf")))
        .when(eid % 4 == 3, F.lit(float("nan")))
        .otherwise(F.col("value"))
    )
    arr = F.array(eid % 5, eid % 7, eid % 3, eid % 11)
    return e.select(
        "event_id",
        kql.isfinite(x).alias("fin"),
        kql.isinf(x).alias("inf_"),
        kql.gettype("value").alias("t_value"),
        kql.gettype("event_type").alias("t_type"),
        kql.trim_start("[cv]", "event_type").alias("ts_"),
        kql.trim_end("[ew]", "event_type").alias("te_"),
        F.array_join(kql.array_rotate_right(arr, 2), ",").alias("rot"),
        F.array_join(
            F.transform(kql.array_split(arr, [2]), lambda s: F.array_join(s, ",")),
            "|",
        ).alias("split2"),
    )


def _q_dedup_edit_distance(spark, sf):
    """Short-string near-dup pairs under Levenshtein ≤1 — pigeonhole
    segment banding + exact verify; titles derived so consecutive docs
    differ by exactly one substitution (the oracle replays the identical
    candidate rule + verify in SQL)."""
    from kusto_pre_forge_spark.operators import dedup as dedup_ops

    d = load_table(spark, sf, "documents").filter(F.col("doc_id") < 100)
    title = F.concat(
        F.lit("title-"),
        F.floor(F.col("doc_id") / 2).cast("string"),
        F.when(F.col("doc_id") % 2 == 0, F.lit("-alpha")).otherwise(F.lit("-alphb")),
    )
    t = d.select("doc_id", title.alias("title"))
    out = dedup_ops.edit_distance_pairs(t, "title", "doc_id", max_distance=1)
    return out.select("id_a", "id_b", "distance")


def _q_interval_overlap(spark, sf):
    """Interval-overlap join (binned form): per user, click windows
    [ts, ts+30m] × purchase windows [ts, ts+45m] that intersect; first-
    shared-bin dedup keeps each pair exactly once. Seconds-since-epoch
    arithmetic so the oracle replays the binning exactly."""
    from kusto_pre_forge_spark.operators.temporal import interval_overlap_join

    e = load_table(spark, sf, "events")
    sec = F.unix_timestamp("ts").cast("double")
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("click_id"),
        sec.alias("c_start"), (sec + 1800).alias("c_end"),
    )
    buys = e.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("buy_id"),
        sec.alias("b_start"), (sec + 2700).alias("b_end"),
    )
    out = interval_overlap_join(
        clicks, buys, "c_start", "c_end", "b_start", "b_end",
        keys=["user_id"], bin_width=3600.0,
    )
    return out.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_overlaps"),
        F.min("click_id").cast("long").alias("first_click"),
    )


def _q_kql_math_suite(spark, sf):
    """Math scalars: gamma/loggamma (Arrow pandas_udf — no JVM builtin),
    exp2/log2, radians/degrees round-trip. gamma(n) for integer n is
    (n−1)! exactly — the oracle uses DuckDB's own gamma/lgamma (same
    libm contract) with round(6)."""
    e = load_table(spark, sf, "events").where(F.col("event_id") < 200)
    x = (F.col("event_id") % 9).cast("double") + 1.5  # 1.5 .. 9.5
    return e.select(
        "event_id",
        F.round(kql.gamma_kql(x), 6).alias("gam"),
        F.round(kql.loggamma(x), 6).alias("lgam"),
        kql.gamma_kql(F.lit(0.0)).alias("gam_pole"),
        F.round(kql.exp2((F.col("event_id") % 10).cast("double")), 6).alias("e2"),
        F.round(kql.log2_kql((F.col("event_id") % 10 + 1).cast("double")), 6).alias("l2"),
        F.round(F.degrees(F.radians(F.col("event_id") % 180)), 6).alias("deg_rt"),
    )


def _q_kql_bag_ops2(spark, sf):
    """Property-bag round 2: bag_has_key, bag_set_key (sorted rebuild),
    array_reverse, repeat — over per-event JSON bags; the oracle predicts
    outputs from the bag generation rule."""
    e = load_table(spark, sf, "events").where(F.col("event_id") < 300)
    eid = F.col("event_id")
    bag = F.format_string('{"a":"%d","z":"9"}', eid % 7)
    return e.select(
        "event_id",
        kql.bag_has_key(bag, "a").alias("has_a"),
        kql.bag_has_key(bag, "q").alias("has_q"),
        kql.bag_has_key(F.lit("not json"), "a").alias("has_bad"),
        kql.bag_set_key(bag, "m", (eid % 3).cast("string")).alias("upserted"),
        kql.bag_set_key(bag, "a", F.lit("new")).alias("replaced"),
        F.array_join(kql.array_reverse_kql(F.split(F.lit("x,y,z"), ",")), "|").alias("rev"),
        F.array_join(kql.repeat_kql(F.lit("r"), (eid % 3).cast("int")), "").alias("reps"),
    )


def _q_kql_string_distance(spark, sf):
    """Levenshtein distance / normalized similarity between event_type
    and a derived mutation of it (DuckDB's levenshtein replays the JVM's
    exactly); soundex against ground-truth literals."""
    e = load_table(spark, sf, "events").where(F.col("event_id") < 300)
    mutated = F.concat(F.reverse(F.col("event_type")), (F.col("event_id") % 10).cast("string"))
    sdx_in = F.when(F.col("event_id") % 2 == 0, F.lit("Robert")).otherwise(
        F.lit("Rupert")
    )
    return e.select(
        "event_id",
        kql.edit_distance("event_type", mutated).alias("lev"),
        F.round(kql.string_similarity("event_type", mutated), 6).alias("sim"),
        kql.soundex_kql(sdx_in).alias("sdx"),
    )


def _q_kql_condagg2(spark, sf):
    """Conditional collection aggregates: make_list_if / make_set_if
    (sorted-for-determinism contract), take_anyif (min-matching),
    percentiles_array."""
    e = load_table(spark, sf, "events")
    hot = F.col("value") > 90
    out = e.groupBy("event_type").agg(
        F.array_join(
            F.transform(
                kql.make_list_if(F.col("event_id"), hot, 5),
                lambda x: x.cast("string"),
            ),
            ",",
        ).alias("hot_ids"),
        F.array_join(
            kql.make_set_if(F.col("user_id") % 10, hot).cast("array<string>"), ","
        ).alias("hot_user_buckets"),
        kql.take_anyif(F.col("event_id"), hot).alias("any_hot"),
        F.array_join(
            F.transform(
                kql.percentiles_array(F.col("value"), 25, 50, 75),
                lambda x: F.round(x, 4).cast("string"),
            ),
            ",",
        ).alias("quartiles"),
    )
    return out


def _q_kql_series_forecast(spark, sf):
    """series_decompose_forecast — 5 positions past each event_type's
    daily series: OLS trend + per-phase (weekly) seasonal, every float
    reduction order-forced so the oracle replays it bit-exactly."""
    e = load_table(spark, sf, "events")
    binned = e.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("d")
    ).agg(F.sum(_dec(F.col("value"))).cast("double").alias("v"))
    out = kql.series_decompose_forecast(binned, "v", "d", ["event_type"], 7, 5)
    return out.select(
        "event_type", "position", F.round("forecast", 6).alias("forecast")
    )


def _q_kql_scalar_suite8(spark, sf):
    """Scalar batch 8: max_of/min_of (null-skipping), isascii,
    estimate_data_size (documented octet_length approximation),
    format_ipv4_mask, column_ifexists (plan-time bind)."""
    e = load_table(spark, sf, "events").where(F.col("event_id") < 300)
    eid = F.col("event_id")
    ip = F.concat_ws(".", F.lit("10"), eid % 256, F.lit("7"), F.lit("9"))
    return e.select(
        "event_id",
        F.round(kql.max_of(F.col("value"), F.lit(50.0)), 4).alias("mx"),
        F.round(
            kql.min_of(F.col("value"), F.lit(50.0), F.lit(None).cast("double")), 4
        ).alias("mn"),
        kql.isascii("event_type").alias("ascii_t"),
        kql.isascii(F.lit("café")).alias("ascii_f"),
        kql.estimate_data_size(F.col("event_type"), eid).alias("sz"),
        kql.format_ipv4_mask(ip, 24).alias("mask24"),
        kql.format_ipv4_mask(F.lit("garbage"), 24).alias("mask_bad"),
        kql.column_ifexists(e, "event_type", F.lit("none")).alias("present"),
        kql.column_ifexists(e, "no_such_col", F.lit("fallback")).alias("absent"),
    )


def _q_kql_scalar_suite9(spark, sf):
    """Scalar batch 9: todecimal (128-bit cast), reverse, extract_json
    (JSONPath → get_json_object codegen, typed cast), and
    base64_decode_toarray (unbase64 + per-byte hex fold — ASCII fixture
    makes the byte array == the codepoint array)."""
    e = load_table(spark, sf, "events").where(F.col("event_id") < 300)
    js = F.concat(
        F.lit('{"a": '),
        F.col("event_id").cast("string"),
        F.lit(', "b": {"c": "'),
        F.col("event_type"),
        F.lit('"}}'),
    )
    b64 = F.base64(F.col("event_type").cast("binary"))
    return e.select(
        "event_id",
        F.round(kql.todecimal("value").cast("double"), 4).alias("dec_v"),
        kql.reverse_kql("event_type").alias("rev_t"),
        kql.extract_json("$.b.c", js).alias("jc"),
        kql.extract_json("$.a", js, cast_to="long").alias("ja"),
        F.concat_ws(
            ",",
            F.transform(
                kql.base64_decode_toarray(b64), lambda v: v.cast("string")
            ),
        ).alias("bytes_csv"),
    )


def _q_kql_welch_test(spark, sf):
    """evaluate welch_test(): click vs error event values — sufficient
    statistics from ONE conditional aggregate; t and Welch-Satterthwaite
    df are closed-form (oracle replays them exactly); the t-CDF p-value
    (not SQL-expressible) ships as a bounds-checked invariant and is
    pinned against t-table constants in tests."""
    e = load_table(spark, sf, "events")
    out = kql.welch_test(e, "value", "event_type", "click", "error")
    return out.select(
        "n_a",
        "n_b",
        F.round(F.col("mean_a") - F.col("mean_b"), 6).alias("mean_diff"),
        F.round("t_stat", 6).alias("t_stat"),
        F.round("df_welch", 4).alias("df_welch"),
        ((F.col("p_value") >= 0) & (F.col("p_value") <= 1)).alias("p_in_unit"),
    )


def _q_kql_series_fft(spark, sf):
    """series_fft/series_ifft: per-type 16-point series — the DC bin
    equals the plain sum (exact value check the oracle replays), and the
    ifft∘fft round-trip + Parseval energy identity hold to 1e-9
    (invariant booleans)."""
    e = load_table(spark, sf, "events")
    per = (
        e.groupBy("event_type")
        .agg(
            F.slice(
                F.transform(
                    F.sort_array(
                        F.collect_list(F.struct("event_id", "value"))
                    ),
                    lambda s: s["value"].cast("double"),
                ),
                1,
                16,
            ).alias("series")
        )
        .filter(F.size("series") == 16)
    )
    fx = per.withColumn("fft", kql.series_fft("series"))
    fx = fx.withColumn(
        "rt", kql.series_ifft(F.col("fft.re"), F.col("fft.im"))
    )
    n = F.size("series")
    err = F.aggregate(
        F.zip_with(
            F.col("series"),
            F.col("rt.re"),
            lambda a, b: F.abs(a - b),
        ),
        F.lit(0.0),
        lambda acc, x: F.greatest(acc, x),
    )
    energy_t = F.aggregate(
        F.col("series"), F.lit(0.0), lambda acc, x: acc + x * x
    )
    energy_f = F.aggregate(
        F.zip_with(
            F.col("fft.re"),
            F.col("fft.im"),
            lambda a, b: a * a + b * b,
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    ) / n.cast("double")
    return fx.select(
        "event_type",
        n.cast("long").alias("n"),
        F.round(F.element_at(F.col("fft.re"), 1), 4).alias("dc"),
        (err < 1e-9).alias("roundtrip_ok"),
        (F.abs(energy_t - energy_f) < 1e-6).alias("parseval_ok"),
    )


def _q_kql_datetime_suite2(spark, sf):
    """Calendar-boundary batch 2: startofyear/quarter, endofquarter/week
    (−1 µs convention, Sunday-anchored weeks)."""
    e = load_table(spark, sf, "events").where(F.col("event_id") < 300)
    t = F.col("ts")
    return e.select(
        "event_id",
        kql.startofyear(t).alias("soy"),
        kql.startofquarter(t).alias("soq"),
        kql.endofquarter(t).alias("eoq"),
        kql.endofweek(t).alias("eow"),
    )


def _q_kql_graph_shortest(spark, sf):
    """graph-shortest-paths from node 0 over the derived functional graph
    — BFS driver loop vs a recursive-CTE oracle (min over all ≤15-hop
    path lengths)."""
    e = load_table(spark, sf, "events").where(F.col("event_id") < 2000)
    edges = (
        e.select(
            (F.col("user_id") % 97).alias("src"),
            ((F.col("user_id") * 7 + 1) % 97).alias("dst"),
        )
        .where(F.col("src").isNotNull())
        .distinct()
    )
    out = kql.graph_shortest_paths(edges, [0], max_hops=15)
    return out.select("node", F.col("dist").cast("long").alias("dist"))


def _q_kql_graph_var(spark, sf):
    """graph-match variable-length (a)-[*1..3]->(b) over a derived
    functional graph (each node one outgoing edge): union of fixed-length
    hash-join chains with pairwise-distinct nodes."""
    e = load_table(spark, sf, "events").where(F.col("event_id") < 2000)
    edges = (
        e.select(
            (F.col("user_id") % 97).alias("src"),
            ((F.col("user_id") * 7 + 1) % 97).alias("dst"),
        )
        .where(F.col("src").isNotNull())
        .distinct()
    )
    return kql.graph_match_var(edges, 1, 3)


def _q_skew_salted_agg(spark, sf):
    """Salted two-phase aggregation over the hot event_type key — results
    must equal the plain groupBy (the oracle), while the plan spreads each
    hot key over salt_buckets reducers."""
    from kusto_pre_forge_spark.operators import skew

    e = load_table(spark, sf, "events").withColumn("vdec", _dec(F.col("value")))
    out = skew.salted_agg(
        e,
        ["event_type"],
        [("event_id", "count", "n"), ("vdec", "sum", "sum_value"),
         ("event_id", "max", "max_id")],
        salt_buckets=8,
    )
    return out.select(
        "event_type",
        F.col("n").cast("long").alias("n"),
        F.col("sum_value").cast("double").alias("sum_value"),
        F.col("max_id").cast("long").alias("max_id"),
    )


def _q_text_url_normalize(spark, sf):
    """URL canonicalization for crawl dedup — scheme/port/fragment/query-
    order/trailing-slash invariances collapse to one key; the oracle
    predicts the canonical form from the generation rule."""
    from kusto_pre_forge_spark.operators import textprep

    e = load_table(spark, sf, "events").where(F.col("event_id") < 400)
    eid = F.col("event_id")
    url = (
        F.when(
            eid % 4 == 0,
            F.format_string("HTTP://Site%d.COM:80/A/B/?z=9&a=%d#f", eid % 7, eid % 5),
        )
        .when(
            eid % 4 == 1,
            F.format_string("https://site%d.com:443/a/b?a=%d&z=9", eid % 7, eid % 5),
        )
        .when(eid % 4 == 2, F.format_string("https://site%d.com/a/b/", eid % 7))
        .otherwise(F.format_string("https://site%d.com/", eid % 7))
    )
    return e.select(
        "event_id", textprep.url_normalize(url).alias("canonical")
    )


def _q_text_normalize(spark, sf):
    """Unicode NFC + accent folding: composed/decomposed forms of the same
    visual string must collide after NFC; accents fold to ASCII. Inputs
    cycle through fixed composed/decomposed fixtures keyed off event_id;
    the oracle predicts the normalized outputs."""
    from kusto_pre_forge_spark.operators import textprep

    e = load_table(spark, sf, "events").where(F.col("event_id") < 200)
    eid = F.col("event_id")
    # 'café' composed (U+00E9) vs decomposed (e + U+0301); 'naïve' etc.
    raw = (
        F.when(eid % 4 == 0, F.lit("café"))
        .when(eid % 4 == 1, F.lit("café"))
        .when(eid % 4 == 2, F.lit("naïve"))
        .otherwise(F.lit("über"))
    )
    return e.select(
        "event_id",
        textprep.normalize_unicode(raw, "NFC").alias("nfc"),
        textprep.strip_accents(raw).alias("folded"),
        F.length(textprep.normalize_unicode(raw, "NFD")).alias("nfd_len"),
    )


def _q_kql_has_ipv4(spark, sf):
    """has_ipv4 / has_ipv4_prefix over synthesized log lines — validity
    and delimiting predicted from the generation rule."""
    e = load_table(spark, sf, "events").where(F.col("event_id") < 400)
    eid = F.col("event_id")
    line = (
        F.when(eid % 5 == 0, F.format_string("src %d.0.2.1 ok", eid % 300))
        .when(eid % 5 == 1, F.lit("glued10.0.0.1 not delimited"))
        .when(eid % 5 == 2, F.lit("src 10.0.0.999 invalid"))
        .when(eid % 5 == 3, F.lit("no ip here"))
        .otherwise(F.lit("tail ip 192.168.7.3"))
    )
    return e.select(
        "event_id",
        kql.has_ipv4(line).alias("has_ip"),
        kql.has_ipv4_prefix(line, "192.168.").alias("has_192"),
    )


def _q_kql_dcount_intersect(spark, sf):
    """evaluate dcount_intersect — exact progressive intersection of
    click/view/purchase user sets."""
    e = load_table(spark, sf, "events")
    return kql.dcount_intersect(e, "user_id", "event_type", ["click", "view", "purchase"])


def _q_kql_scalar_suite7(spark, sf):
    """parse_path over windows/unix/url shapes + unicode codepoint
    round-trip; the oracle predicts every component from the path
    generation rule."""
    e = load_table(spark, sf, "events").where(F.col("event_id") < 300)
    eid = F.col("event_id")
    path = (
        F.when(
            eid % 3 == 0,
            F.concat(F.lit("C:\\data\\f"), eid.cast("string"), F.lit(".csv")),
        )
        .when(
            eid % 3 == 1,
            F.concat(F.lit("/var/log/app"), (eid % 7).cast("string"), F.lit("/x.y.gz")),
        )
        .otherwise(
            F.concat(
                F.lit("https://h/a"), (eid % 5).cast("string"),
                F.lit("/f"), eid.cast("string"), F.lit(".txt"),
            )
        )
    )
    p = kql.parse_path(path)
    rt = kql.unicode_codepoints_to_string(
        kql.unicode_codepoints_from_string(F.col("event_type"))
    )
    return e.select(
        "event_id",
        p["Scheme"].alias("scheme"),
        p["RootPath"].alias("root"),
        p["DirectoryPath"].alias("dirpath"),
        p["DirectoryName"].alias("dirname"),
        p["Filename"].alias("filename"),
        p["Extension"].alias("ext"),
        kql.unicode_codepoints_from_string(F.col("event_type"))[0].alias("cp0"),
        rt.alias("roundtrip"),
    )


def _q_kql_join_kinds(spark, sf):
    """KQL join kind=leftouter/rightouter/fullouter in one probe: per
    nation, customer count vs supplier count — nations appearing on only
    one side survive with null-coalesced zeros per kind. Dimension sides
    are aggregates of small tables; Catalyst broadcasts them."""
    c = load_table(spark, sf, "customer").groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("n_cust")
    )
    s = load_table(spark, sf, "supplier").groupBy("s_nationkey").agg(
        F.count(F.lit(1)).alias("n_supp")
    )
    # restrict each side so the three kinds genuinely differ
    c = c.where(F.col("c_nationkey") < 20)
    s = s.where(F.col("s_nationkey") >= 5)
    j = lambda kind: (  # noqa: E731
        c.join(s, c["c_nationkey"] == s["s_nationkey"], kind)
        .select(
            F.coalesce(c["c_nationkey"], s["s_nationkey"]).alias("nationkey"),
            F.coalesce("n_cust", F.lit(0)).alias("n_cust"),
            F.coalesce("n_supp", F.lit(0)).alias("n_supp"),
        )
    )
    out = (
        j("left").withColumn("kind", F.lit("leftouter"))
        .unionByName(j("right").withColumn("kind", F.lit("rightouter")))
        .unionByName(j("outer").withColumn("kind", F.lit("fullouter")))
    )
    return out.select("kind", "nationkey", "n_cust", "n_supp")


def _q_kql_dynamic_suite2(spark, sf):
    """mv-expand with_itemindex (posexplode) + pack_all (row → bag in
    column order) over derived arrays."""
    e = load_table(spark, sf, "events").where(F.col("event_id") < 300)
    parts = F.split(
        F.concat(F.col("event_type"), F.lit("-"), F.col("event_id").cast("string")),
        "-",
    )
    base = e.select("event_id", "event_type", parts.alias("parts"))
    bag_src = base.select("event_id", "event_type")
    expanded = kql.mv_expand_itemindex(
        base.select("event_id", "parts"), "parts", to="part"
    )
    bag = bag_src.select(
        "event_id", kql.pack_all(bag_src).alias("bag")
    )
    return expanded.join(bag, "event_id").select(
        "event_id", "item_index", "part", "bag"
    )


def _q_kql_series_cosine(spark, sf):
    """series_cosine_similarity between the aligned click/view hourly
    series (ordered folds ⇒ ordered-sum oracle parity)."""
    e = load_table(spark, sf, "events")
    s = kql.make_series(
        e.where(F.col("event_type").isin("click", "view")),
        on="ts", step="hour", by=["event_type"],
        agg=F.count(F.lit(1)).cast("double"), default=0.0,
    )
    a = s.where(F.col("event_type") == "click").select(
        F.col("series_value").alias("va")
    )
    b = s.where(F.col("event_type") == "view").select(
        F.col("series_value").alias("vb")
    )
    return a.crossJoin(b).select(
        F.round(kql.series_cosine_similarity("va", "vb"), 6).alias("cos_click_view")
    )


def _q_kql_geo_suite2(spark, sf):
    """geo_point_in_polygon over event-derived points: the edge loop
    unrolls into division-only arithmetic, so the oracle's mechanically
    generated unroll of the SAME ring is bit-identical — no rounding
    needed even for the boolean."""
    e = load_table(spark, sf, "events").where(F.col("event_id") < 2000)
    eid = F.col("event_id")
    lat = (eid % 1200).cast("double") / 10.0 - 60.0
    lon = ((eid * 7) % 3400).cast("double") / 10.0 - 170.0
    return e.select(
        "event_id",
        F.round(lat, 4).alias("lat"),
        F.round(lon, 4).alias("lon"),
        kql.geo_point_in_polygon(lon, lat, _GEO_POLY).alias("in_poly"),
    )


def _q_kql_compression_suite(spark, sf):
    """zlib/gzip ⇄ base64 codecs (Arrow-batched pandas_udf): round-trips
    must restore the exact source text; malformed input nulls. The oracle
    predicts the round-trip (= the input) — raw compressed bytes are
    deliberately NOT emitted (zlib build-dependent)."""
    e = load_table(spark, sf, "events").where(F.col("event_id") < 300)
    txt = F.format_string("payload-%s-%d", F.col("event_type"), F.col("event_id"))
    z = kql.zlib_compress_to_base64_string(txt)
    g = kql.gzip_compress_to_base64_string(txt)
    return e.select(
        "event_id",
        kql.zlib_decompress_from_base64_string(z).alias("z_rt"),
        kql.gzip_decompress_from_base64_string(g).alias("g_rt"),
        kql.zlib_decompress_from_base64_string(F.lit("!not-base64!")).alias("bad"),
    )


def _q_kql_fork(spark, sf):
    """KQL fork — two branch subqueries over ONE materialized source,
    unioned with a branch tag; exact decimal sums keep avg engine-exact."""
    e = load_table(spark, sf, "events")
    br = kql.fork(
        e,
        {
            "counts": lambda d: d.groupBy("event_type").agg(
                F.count(F.lit(1)).cast("double").alias("metric")
            ),
            "avg_value": lambda d: d.groupBy("event_type").agg(
                (
                    F.sum(_dec(F.col("value"))).cast("double")
                    / F.count(F.col("value")).cast("double")
                ).alias("metric")
            ),
        },
    )
    out = [
        df.select(F.lit(name).alias("branch"), "event_type", F.round("metric", 6).alias("metric"))
        for name, df in sorted(br.items())
    ]
    u = out[0]
    for o in out[1:]:
        u = u.unionByName(o)
    return u


def _q_kql_ipv4_lookup(spark, sf):
    """evaluate ipv4_lookup — broadcast CIDR range join (multi-match
    semantics: every containing block emits a row). IPs derived from
    event_id; the oracle predicts membership from the rule."""
    lk = kql.datatable(
        spark,
        "network string, name string",
        ("10.0.0.0/8", "corp"),
        ("10.1.0.0/16", "eng"),
        ("192.168.0.0/16", "lab16"),
        ("bad/8", "junk"),
    )
    e = load_table(spark, sf, "events").where(F.col("event_id") < 500)
    eid = F.col("event_id")
    ip = (
        F.when(eid % 7 == 0, F.lit("not-an-ip"))
        .when(
            eid % 5 == 0,
            F.concat_ws(".", F.lit("192"), F.lit("168"), (eid % 256), F.lit("1")),
        )
        .otherwise(
            F.concat_ws(
                ".",
                F.lit("10"),
                eid % 256,
                F.floor(eid / 256) % 256,
                F.floor(eid / 65536) % 256,
            )
        )
    )
    t = e.select("event_id", ip.alias("ip"))
    out = kql.ipv4_lookup(t, lk, "ip")
    return out.select("event_id", "name", F.col("_prefix_len").alias("prefix_len"))


def _q_kql_ipv4_suite2(spark, sf):
    """IPv4 scalars round 2: ipv4_compare, ipv4_is_match at /24 and /16,
    ipv4_netmask_suffix (default 32, malformed → null). IPs synthesized
    from event_id; the oracle predicts every value from the rule."""
    e = load_table(spark, sf, "events").where(F.col("event_id") < 500)
    eid = F.col("event_id")
    y = F.floor(eid / 256) % 256
    ip_a = F.when(eid % 7 == 0, F.lit("bad")).otherwise(
        F.concat_ws(".", F.lit("10"), eid % 256, y, F.lit("0"))
    )
    ip_b = F.concat_ws(".", F.lit("10"), eid % 256, F.lit("0"), F.lit("0"))
    cidr = F.when(eid % 2 == 0, ip_a).otherwise(
        F.concat(ip_a, F.lit("/"), (eid % 40).cast("string"))
    )

    def b2s(c):
        return F.coalesce(c.cast("string"), F.lit("null"))

    return e.select(
        "event_id",
        F.coalesce(kql.ipv4_compare(ip_a, ip_b).cast("long"), F.lit(-99)).alias("cmp_ab"),
        b2s(kql.ipv4_is_match(ip_a, ip_b, 24)).alias("m24"),
        b2s(kql.ipv4_is_match(ip_a, ip_b, 16)).alias("m16"),
        F.coalesce(kql.ipv4_netmask_suffix(cidr), F.lit(-99)).alias("sfx"),
    )


def _q_kql_rows_near(spark, sf):
    """rows_near — context rows around value>95 spikes, 2 before / 1
    after, per event_type in (ts, event_id) order; one partitioned window
    pass."""
    e = load_table(spark, sf, "events")
    out = kql.rows_near(
        e,
        F.col("value") > 95,
        order=["ts", "event_id"],
        by=["event_type"],
        before=2,
        after=1,
    )
    return out.select("event_id", "event_type", F.round("value", 4).alias("value"))


def _q_kql_xml_suite(spark, sf):
    """parse_xml as xpath extraction: attribute, text leaf, repeated
    elements, missing path, and a non-XML input nulled by the guard. The
    oracle PREDICTS every extraction from the XML generation rule."""
    e = load_table(spark, sf, "events").where(F.col("event_id") < 400)
    eid = F.col("event_id")
    x = F.format_string(
        '<ev id="%d"><type>%s</type><v>%d</v><v>%d</v></ev>',
        eid, F.col("event_type"), eid % 10, (eid * 3) % 10,
    )
    return e.select(
        "event_id",
        kql.parse_xml_long(x, "/ev/@id").alias("xid"),
        kql.parse_xml_string(x, "/ev/type").alias("xtype"),
        F.array_join(kql.parse_xml_list(x, "/ev/v/text()"), ",").alias("vals"),
        kql.parse_xml_string(x, "/ev/missing").alias("miss"),
        kql.parse_xml_string(F.lit("plain text"), "/ev").alias("not_xml"),
    )


def _q_kql_geo_suite(spark, sf):
    """Geo scalars: geo_point_to_geohash (4- and 6-char), decode of the
    COMPUTED hash (encode→decode roundtrip), haversine distance to Paris,
    geo_point_in_circle. The oracle carries ground-truth hashes/centers
    from an independent reference implementation (validated against the
    public geohash test vectors), so the encoder is checked against truth,
    not replayed."""
    pts = kql.datatable(spark, "pid long, lat double, lon double", *_GEO_POINTS)
    gh6 = kql.geo_point_to_geohash("lon", "lat", 6)
    center = kql.geo_geohash_to_central_point(kql.geo_point_to_geohash("lon", "lat", 6))
    return pts.select(
        "pid",
        kql.geo_point_to_geohash("lon", "lat", 4).alias("gh4"),
        gh6.alias("gh6"),
        center["lon"].alias("center_lon"),
        center["lat"].alias("center_lat"),
        F.round(
            kql.geo_distance_2points(
                F.col("lon"), F.col("lat"), F.lit(2.3522), F.lit(48.8566)
            )
            / 1000.0,
            3,
        ).alias("dist_paris_km"),
        kql.geo_point_in_circle("lon", "lat", 2.3522, 48.8566, 2_000_000.0).alias(
            "in_2000km"
        ),
    )


def _q_kql_graph_components(spark, sf):
    """KQL graph-mark-components over the derived functional user graph
    (u → 7u+1 mod 97): alternating-star CC labels vs a recursive-CTE
    reachability oracle (component = min reachable node over the
    UNDIRECTED closure)."""
    e = load_table(spark, sf, "events").where(F.col("event_id") < 2000)
    edges = (
        e.select(
            (F.col("user_id") % 97).alias("src"),
            ((F.col("user_id") * 7 + 1) % 97).alias("dst"),
        )
        .where(F.col("src").isNotNull())
        .distinct()
    )
    return kql.graph_mark_components(edges).select(
        F.col("node").cast("long").alias("node"),
        F.col("component").cast("long").alias("component"),
    )


def _q_graph_label_propagation(spark, sf):
    """Synchronous LPA communities over a closed-form chain graph (20
    blocks of 10 docs, edges i→i+1 within a block): 4 fixed rounds with
    min-label ties, replayed round-for-round by the oracle's unrolled
    CTEs — on a chain the smallest-label tie-break walks labels toward
    the block head a bounded distance per round, so every value is
    exactly predictable."""
    from kusto_pre_forge_spark.operators.kql import label_propagation

    d = (
        load_table(spark, sf, "documents")
        .filter(F.col("doc_id") < 200)
        .select(F.col("doc_id").cast("long").alias("doc_id"))
    )
    edges = d.filter(F.col("doc_id") % 10 != 9).select(
        F.col("doc_id").alias("src"), (F.col("doc_id") + 1).alias("dst")
    )
    return label_propagation(edges, n_iter=4)


def _q_graph_pagerank(spark, sf):
    """PageRank over the nation trade graph (edges = customer-nation →
    supplier-nation, weight = lineitem revenue; the host-authority
    quality-weighting shape): 3 fixed power-iteration rounds with
    dangling-mass redistribution, replayed round-for-round by the
    oracle's unrolled CTEs. One join + one partial-agg sum per round;
    driver traffic = two scalars per round."""
    li = load_table(spark, sf, "lineitem")
    o = load_table(spark, sf, "orders")
    c = load_table(spark, sf, "customer")
    s = load_table(spark, sf, "supplier")
    e = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(s, li["l_suppkey"] == s["s_suppkey"])
        .filter(F.col("c_nationkey") != F.col("s_nationkey"))
        .groupBy(
            F.col("c_nationkey").cast("long").alias("src"),
            F.col("s_nationkey").cast("long").alias("dst"),
        )
        .agg(
            F.sum(
                F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
            ).alias("w")
        )
    )
    pr = kql.pagerank(e, weight_col="w", damping=0.85, iterations=3)
    return pr.select(
        F.col("node").cast("long").alias("node"),
        F.round("rank", 6).alias("rank"),
    )


def _q_kql_graph_match(spark, sf):
    """make-graph + graph-match: the V-pattern (c1)-[buys]->(s)<-[buys]-(c2)
    over the customer->supplier purchase graph (orders x lineitem) — two
    hash joins on the node key, c1 < c2 canonicalization, per-pair edge
    count. No graph runtime, no explosion (see graph_match_path's hub
    valve note)."""
    o = load_table(spark, sf, "orders").where(F.col("o_orderkey") < 3000)
    li = load_table(spark, sf, "lineitem").where(F.col("l_orderkey") < 3000)
    # typed node ids ('c:…', 's:…'): customers and suppliers live in one
    # graph namespace, so the distinct-nodes rule can't alias a customer
    # key to a numerically equal supplier key
    edges = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .select(
            F.concat(F.lit("c:"), F.col("o_custkey")).alias("src"),
            F.concat(F.lit("s:"), F.col("l_suppkey")).alias("dst"),
        )
    )
    paths = kql.graph_match_path(edges, ["fwd", "rev"])
    return (
        paths.filter(F.col("n0") < F.col("n2"))
        .groupBy(F.col("n0").alias("c1"), F.col("n2").alias("c2"))
        .agg(F.count(F.lit(1)).cast("long").alias("shared_suppliers"))
        .filter(F.col("shared_suppliers") >= 3)
    )


def _q_kql_scalar_suite5(spark, sf):
    """Scalar batch 5: parse_version (decimal-comparable), extract_all,
    jaccard_index, array_iff / array_shift_left, set_has_element,
    format_bytes, strrep, strcat_delim — all codegen."""
    e = load_table(spark, sf, "events").where(F.col("event_id") < 400)
    eid = F.col("event_id")
    ver = F.format_string("%d.%d.%d", eid % 5, eid % 10, eid % 100)
    base = e.select(
        "event_id", "event_type", "props",
        ver.alias("ver"),
        F.sequence(eid % 5, eid % 5 + 4).alias("a1"),
        F.sequence(eid % 7, eid % 7 + 4).alias("a2"),
        F.array(eid % 2 == 0, eid % 3 == 0, F.lit(True)).alias("conds"),
    )
    return base.select(
        "event_id",
        kql.parse_version("ver").cast("string").alias("vnum"),
        kql.parse_version(F.lit("not.a.version")).cast("string").alias("vbad"),
        F.array_join(kql.extract_all_kql(r"(\d+)", "props"), ",").alias("digits"),
        F.round(kql.jaccard_index("a1", "a2"), 6).alias("jacc"),
        F.concat_ws(",", kql.array_iff("conds", "a1", "a2")).alias("picked"),
        F.concat_ws(",", kql.array_shift_left("a1", 2, -1)).alias("shl"),
        kql.set_has_element("a1", 3).alias("has3"),
        kql.format_bytes(eid * 1536).alias("fb"),
        kql.strrep(F.substring("event_type", 1, 2), 3).alias("rep"),
        kql.strcat_delim("-", "event_type", (eid % 7).cast("string")).alias("cd"),
    )


def _q_kql_binary_agg(spark, sf):
    """binary_all_and / binary_all_or / binary_all_xor aggregates per
    event_type (masked ids keep the AND non-degenerate)."""
    e = load_table(spark, sf, "events")
    masked = (F.col("event_id") % 256).bitwiseOR(F.lit(0x1000).cast("long"))
    return e.groupBy("event_type").agg(
        kql.binary_all_and(masked).alias("b_and"),
        kql.binary_all_or(masked).alias("b_or"),
        kql.binary_all_xor(masked).alias("b_xor"),
    )


def _q_kql_series_periods(spark, sf):
    """series_periods_detect — top-3 autocorrelation periods of the daily
    series per event_type (lags 2..14, i.e. up to two weeks), exploded to
    (event_type, rank, period, score) rows for the value-hash."""
    s = _series_daily(spark, sf)
    det = kql.series_periods_detect(
        "series_value", min_period=2, max_period=14, num_periods=3
    )
    out = s.select("event_type", det.alias("d")).select(
        "event_type",
        F.posexplode(F.arrays_zip(F.col("d.periods"), F.col("d.scores"))).alias(
            "rank", "z"
        ),
    )
    return out.select(
        "event_type",
        F.col("rank").cast("int").alias("rank"),
        F.col("z.periods").cast("long").alias("period"),
        F.round(F.col("z.scores"), 5).alias("score"),
    )


def _q_kql_autocluster(spark, sf):
    """evaluate autocluster() — deterministic exact variant: top common
    segments over (event_type, value bucket, weekday), wildcards as null."""
    e = (
        load_table(spark, sf, "events")
        .where(F.col("value").isNotNull())
        .withColumn("vbucket", F.floor(F.col("value") / 25).cast("string"))
        .withColumn("dow", F.dayofweek("ts").cast("string"))
    )
    out = kql.autocluster(
        e, ["event_type", "vbucket", "dow"], min_support=0.05, num_segments=12
    )
    return out.select(
        "segment_id",
        F.col("n_rows").cast("long").alias("n_rows"),
        F.round("percent", 6).alias("percent"),
        "event_type", "vbucket", "dow",
    )


def _q_kql_diffpatterns(spark, sf):
    """evaluate diffpatterns() — pattern prevalence diff between the
    even- and odd-user cohorts over (event_type, weekday)."""
    e = (
        load_table(spark, sf, "events")
        .withColumn("cohort", (F.col("user_id") % 2 == 0).cast("string"))
        .withColumn("dow", F.dayofweek("ts").cast("string"))
    )
    out = kql.diffpatterns(
        e, ["event_type", "dow"], "cohort", "true", "false", min_support=0.05
    )
    return out.select(
        F.col("count_a").cast("long").alias("count_a"),
        F.col("count_b").cast("long").alias("count_b"),
        F.round("percent_a", 6).alias("percent_a"),
        F.round("percent_b", 6).alias("percent_b"),
        F.round("percent_diff", 6).alias("percent_diff"),
        "event_type", "dow",
        F.col("size").cast("int").alias("size"),
    )


def _q_kql_percentilesw(spark, sf):
    """percentilesw — weighted percentiles per event_type (weight =
    event_id % 7 + 1): smallest value whose cumulative weight crosses the
    p% threshold; per-group window + one aggregate."""
    e = (
        load_table(spark, sf, "events")
        .where(F.col("value").isNotNull())
        .withColumn("w", (F.col("event_id") % 7 + 1).cast("double"))
    )
    out = kql.percentilesw(e, "value", "w", [25.0, 50.0, 90.0], by=["event_type"])
    return out.select(
        "event_type",
        F.col("percentile_25_0").alias("p25"),
        F.col("percentile_50_0").alias("p50"),
        F.col("percentile_90_0").alias("p90"),
    )


def _q_kql_scalar_suite4(spark, sf):
    """Scalar batch 4: totimespan / format_timespan round-trip, translate,
    degrees/radians, cot, exp10/log10, isnan/isinf — all codegen."""
    e = load_table(spark, sf, "events").where(F.col("event_id") < 400)
    eid = F.col("event_id")
    ts_str = F.format_string(
        "%d.%02d:%02d:%02d",
        eid % 3, eid % 24, eid % 60, (eid * 7) % 60,
    )
    bad = F.concat(F.lit("x"), ts_str)  # invalid timespan -> null
    seconds = kql.totimespan(ts_str)
    x = (eid % 360).cast("double")
    v = F.col("value")
    return e.select(
        "event_id",
        seconds.alias("span_sec"),
        kql.totimespan(bad).alias("span_bad"),
        kql.format_timespan(seconds, "d.hh:mm:ss").alias("span_rt"),
        kql.format_timespan(seconds, "hh:mm:ss").alias("span_hms"),
        kql.translate_kql("aeiou", "#", F.col("event_type")).alias("tr"),
        F.round(F.degrees(F.radians(x)), 6).alias("deg_rt"),
        F.round(F.cot(F.radians(x) + F.lit(0.1)), 6).alias("cotv"),
        F.round(F.log10(v + 1.0), 6).alias("l10"),
        F.round(F.pow(F.lit(10.0), (eid % 5).cast("double")), 1).alias("e10"),
        F.isnan(v).alias("nanv"),
        (F.abs(v) == float("inf")).alias("infv"),
    )


def _q_wiki_dump_extract(spark, sf):
    """MediaWiki XML dump roundtrip through the REAL iterparse reader
    (sources/mediawiki.py): every document forges as a schema-valid
    two-page export — page one carries the doc text as the LATEST of
    two revisions (last-revision-wins on the hook) plus an earlier
    decoy revision; page two is a redirect (attribute parsing on the
    hook). Compression rotates by doc_id % 3 (plain / bz2 / gzip — the
    peel step on the hook; bz2 is what Wikimedia actually ships). XML
    escaping/unescaping roundtrips the text. Closed-form oracle; pure
    map stages plus the widen re-split."""
    import pandas as pd

    from kusto_pre_forge_spark.operators.corpus import _widen_for_fanout
    from kusto_pre_forge_spark.sources import mediawiki as MW

    d = _widen_for_fanout(
        load_table(spark, sf, "documents").select("doc_id", "text")
    )

    def forge(it):
        comp = [None, "bz2", "gzip"]
        for pdf in it:
            paths, blobs = [], []
            for i, t in zip(pdf["doc_id"], pdf["text"]):
                i = int(i)
                t = t if isinstance(t, str) else ""
                paths.append(f"mem://wiki/{i}.xml")
                blobs.append(
                    MW.mediawiki_bytes(
                        [
                            dict(
                                title=f"Page {i}",
                                ns=0,
                                page_id=i * 10,
                                text=t[:200],
                                old_texts=[f"stale revision {i}"],
                            ),
                            dict(
                                title=f"Redirect {i}",
                                ns=0,
                                page_id=i * 10 + 1,
                                redirect=f"Page {i}",
                                text=f"#REDIRECT [[Page {i}]]",
                            ),
                        ],
                        compress=comp[i % 3],
                    )
                )
            yield pd.DataFrame({"path": paths, "content": blobs})

    blobs = d.mapInPandas(forge, "path string, content binary")
    parsed = MW.parse_mediawiki_blobs(blobs)
    return parsed.select(
        F.regexp_extract("_kpf_source", r"([0-9]+)\.xml$", 1)
        .cast("long")
        .alias("doc_id"),
        F.col("page_no").cast("int").alias("page_no"),
        "title",
        F.col("ns").cast("int").alias("ns"),
        F.col("page_id").cast("long").alias("page_id"),
        "redirect",
        "text",
    )


def _q_text_wikitext_extract(spark, sf):
    """Wikitext → prose over a forged Wikipedia-article corpus: every
    document wrapped in deterministic wikitext chrome (a NESTED infobox
    template, bold-quote title, piped + plain wikilinks, a ref, a
    heading, a Category link, an external link with a label) around the
    real text, then reduced by textprep.wikitext_extract's
    WIKITEXT_RULES chain. ONE codegen projection above the widen
    re-split; the oracle replays the identical RE2-compatible chain
    (same tuples, DuckDB replacement syntax) over the same forge."""
    from kusto_pre_forge_spark.operators import textprep as tp
    from kusto_pre_forge_spark.operators.corpus import _widen_for_fanout

    did = F.col("doc_id").cast("long")
    wt = F.concat(
        F.lit("{{Infobox doc|id={{val|"), did.cast("string"),
        F.lit("}}|name=Forged}}\n'''Doc "), did.cast("string"),
        F.lit("''' is a [[test article|test]] about [[stuff]]."),
        F.lit("<ref name=\"r1\">cite "), did.cast("string"),
        F.lit("</ref>\n== History ==\n"),
        F.substring(F.coalesce(F.col("text"), F.lit("")), 1, 300),
        F.lit("\n[[Category:Forged]]\n[http://example.com/"),
        did.cast("string"), F.lit(" link text]"),
    )
    d = _widen_for_fanout(load_table(spark, sf, "documents")).select(
        did.alias("doc_id"), wt.alias("wiki")
    )
    return tp.wikitext_extract(d, "wiki", "doc_id")


def _q_stackexchange_posts_extract(spark, sf):
    """Stack Exchange dump roundtrip through the REAL attribute-row XML
    reader (sources/xmlrows.py): every document forges as a two-row
    Posts.xml (question with an HTML Body + Title + Tags; answer with a
    ParentId and NO Title — missing attributes must surface as NULL),
    attribute escaping/unescaping and the %3 compression rotation on
    the hook. Bodies come back as raw HTML (chain textprep.html_extract
    Spark-side — the WARC posture); Score exercises the
    string-attribute → int typing path incl. negatives. Closed-form
    oracle; pure map stages plus the widen re-split."""
    import pandas as pd

    from kusto_pre_forge_spark.operators.corpus import _widen_for_fanout
    from kusto_pre_forge_spark.sources import xmlrows as XR

    d = _widen_for_fanout(
        load_table(spark, sf, "documents").select("doc_id", "text")
    )

    def forge(it):
        comp = [None, "bz2", "gzip"]
        for pdf in it:
            paths, blobs = [], []
            for i, t in zip(pdf["doc_id"], pdf["text"]):
                i = int(i)
                t = t if isinstance(t, str) else ""
                rows = [
                    dict(
                        Id=i * 2,
                        PostTypeId=1,
                        Score=i % 100 - 5,
                        Title=f"Question {i}",
                        Body=f"<p>{t[:150]}</p>",
                        Tags="<spark><etl>",
                    ),
                    dict(
                        Id=i * 2 + 1,
                        PostTypeId=2,
                        ParentId=i * 2,
                        Score=i % 7,
                        Body=f"<p>answer {i}</p>",
                    ),
                ]
                paths.append(f"mem://se/{i}.xml")
                blobs.append(XR.xml_rows_bytes(rows, compress=comp[i % 3]))
            yield pd.DataFrame({"path": paths, "content": blobs})

    blobs = d.mapInPandas(forge, "path string, content binary")
    parsed = XR.parse_xml_row_blobs(
        blobs, ["Id", "PostTypeId", "ParentId", "Score", "Title", "Body", "Tags"]
    )
    return parsed.select(
        F.regexp_extract("_kpf_source", r"([0-9]+)\.xml$", 1)
        .cast("long")
        .alias("doc_id"),
        F.col("row_no").cast("int").alias("row_no"),
        F.col("Id").cast("long").alias("post_id"),
        F.col("PostTypeId").cast("int").alias("post_type"),
        F.col("ParentId").cast("long").alias("parent_id"),
        F.col("Score").cast("int").alias("score"),
        F.col("Title").alias("title"),
        F.col("Body").alias("body"),
        F.col("Tags").alias("tags"),
    )


def _q_text_latex_extract(spark, sf):
    """LaTeX → prose over a forged arXiv-paper corpus: every document
    wrapped in deterministic LaTeX chrome (preamble, title with a
    nested \\textbf, a comment line, inline + equation math, a cite, an
    escaped \\%, an itemize, a verbatim island, a ~ tie and a \\\\
    break) around the real text, then reduced by textprep.
    latex_extract's LATEX_RULES chain. ONE codegen projection above the
    widen re-split; the oracle replays the identical RE2-compatible
    chain (same tuples, DuckDB replacement syntax) over the same
    forge."""
    from kusto_pre_forge_spark.operators import textprep as tp
    from kusto_pre_forge_spark.operators.corpus import _widen_for_fanout

    did = F.col("doc_id").cast("long")
    tex = F.concat(
        F.lit("\\documentclass{article}\n\\title{Doc \\textbf{"),
        did.cast("string"),
        F.lit("}}\n\\begin{document}\n\\maketitle\n% comment "),
        did.cast("string"),
        F.lit("\n\\section{Intro}\nMath $x_"), did.cast("string"),
        F.lit("$ and 100\\% cite \\cite{k"), did.cast("string"),
        F.lit("}.\n\\begin{equation}\nE_"), did.cast("string"),
        F.lit("\n\\end{equation}\n"),
        F.substring(F.coalesce(F.col("text"), F.lit("")), 1, 300),
        F.lit("\n\\begin{itemize}\n\\item point~one\\\\\n\\end{itemize}\n"
              "\\begin{verbatim}\nraw {"),
        did.cast("string"),
        F.lit("}\n\\end{verbatim}\n\\end{document}"),
    )
    d = _widen_for_fanout(load_table(spark, sf, "documents")).select(
        did.alias("doc_id"), tex.alias("tex")
    )
    return tp.latex_extract(d, "tex", "doc_id")


def _q_wet_text_extract(spark, sf):
    """Common Crawl WET sidecar roundtrip: every document forges as a
    WET-shaped blob — a warcinfo record followed by a ``conversion``
    record carrying bare text/plain (NO HTTP message; the reader must
    fall back to the raw block), per-record gzip members (the CC
    layout) — then parses back via the same parse_warc_blobs the
    crawl pipeline uses, filtered to conversion records. The predicted
    Content-Length (payload BYTE length) pins the framing arithmetic.
    Closed-form oracle; pure map stages plus the widen re-split."""
    import pandas as pd

    from kusto_pre_forge_spark.operators.corpus import _widen_for_fanout
    from kusto_pre_forge_spark.sources import warc as W

    d = _widen_for_fanout(
        load_table(spark, sf, "documents").select("doc_id", "text")
    )

    def forge(it):
        for pdf in it:
            paths, blobs = [], []
            for i, t in zip(pdf["doc_id"], pdf["text"]):
                i = int(i)
                t = (t if isinstance(t, str) else "")[:200]
                uri = f"https://example.org/{i}"
                recs = [
                    W.warc_record_bytes(
                        uri,
                        b"software: kpf-forge",
                        warc_type="warcinfo",
                        content_type="application/warc-fields",
                    ),
                    W.warc_record_bytes(
                        uri,
                        t.encode("utf-8"),
                        warc_type="conversion",
                        content_type="text/plain",
                    ),
                ]
                paths.append(f"mem://wet/{i}.warc.wet.gz")
                blobs.append(W.write_warc(recs, gzip_per_record=True))
            yield pd.DataFrame({"path": paths, "content": blobs})

    blobs = d.mapInPandas(forge, "path string, content binary")
    parsed = W.parse_warc_blobs(blobs, record_types=("conversion",))
    return parsed.select(
        F.regexp_extract("_kpf_source", r"([0-9]+)\.warc\.wet\.gz$", 1)
        .cast("long")
        .alias("doc_id"),
        "warc_type",
        "target_uri",
        "content_type",
        F.col("content_length").cast("long").alias("content_length"),
        "payload_text",
    )


def _q_wat_metadata_extract(spark, sf):
    """Common Crawl WAT sidecar roundtrip: every document forges as a
    ``metadata`` record whose block is the Envelope JSON (the WAT
    layout), parsed back through parse_warc_blobs and then mined
    Spark-side with get_json_object — JVM JSON path evaluation, zero
    UDFs (the crawl-metadata analytics posture: link graphs and title
    mining run inside the scan). Closed-form oracle over the same
    deterministic Envelope."""
    import json

    import pandas as pd

    from kusto_pre_forge_spark.operators.corpus import _widen_for_fanout
    from kusto_pre_forge_spark.sources import warc as W

    d = _widen_for_fanout(load_table(spark, sf, "documents").select("doc_id"))

    def forge(it):
        for pdf in it:
            paths, blobs = [], []
            for i in pdf["doc_id"]:
                i = int(i)
                uri = f"https://example.org/{i}"
                envelope = {
                    "Envelope": {
                        "WARC-Header-Metadata": {"WARC-Target-URI": uri},
                        "Payload-Metadata": {
                            "HTTP-Response-Metadata": {
                                "HTML-Metadata": {
                                    "Head": {"Title": f"Doc {i}"},
                                    "Links": [
                                        {"url": f"/l/{i}/{k}"}
                                        for k in range(i % 4)
                                    ],
                                }
                            }
                        },
                    }
                }
                paths.append(f"mem://wat/{i}.warc.wat.gz")
                blobs.append(
                    W.write_warc(
                        [
                            W.warc_record_bytes(
                                uri,
                                json.dumps(
                                    envelope, sort_keys=True
                                ).encode("utf-8"),
                                warc_type="metadata",
                                content_type="application/json",
                            )
                        ],
                        gzip_per_record=True,
                    )
                )
            yield pd.DataFrame({"path": paths, "content": blobs})

    blobs = d.mapInPandas(forge, "path string, content binary")
    parsed = W.parse_warc_blobs(blobs, record_types=("metadata",))
    meta = "$.Envelope.Payload-Metadata.HTTP-Response-Metadata.HTML-Metadata"
    return parsed.select(
        F.regexp_extract("_kpf_source", r"([0-9]+)\.warc\.wat\.gz$", 1)
        .cast("long")
        .alias("doc_id"),
        "target_uri",
        F.get_json_object("payload_text", f"{meta}.Head.Title").alias(
            "title"
        ),
        F.coalesce(
            F.json_array_length(
                F.get_json_object("payload_text", f"{meta}.Links")
            ),
            F.lit(0),
        )
        .cast("int")
        .alias("n_links"),
        F.get_json_object("payload_text", f"{meta}.Links[0].url").alias(
            "first_link"
        ),
    )


def _q_rtf_text_extract(spark, sf):
    """RTF container roundtrip through the REAL destination-aware state
    machine (sources/rtf.py): every document forges as a spec-valid RTF
    (font table + \\*-generator destinations the parser must skip,
    \\uN? unicode escapes with \\uc1 fallback swallowing, \\par
    newlines), then extracts back. The layer is lossless by
    construction — identity oracle plus the constant forge group count
    pins the brace walk. Pure map stages plus the widen re-split."""
    import pandas as pd

    from kusto_pre_forge_spark.operators.corpus import _widen_for_fanout
    from kusto_pre_forge_spark.sources import rtf as R

    d = _widen_for_fanout(
        load_table(spark, sf, "documents").select("doc_id", "text")
    )

    def forge(it):
        for pdf in it:
            paths, blobs = [], []
            for i, t in zip(pdf["doc_id"], pdf["text"]):
                paths.append(f"mem://rtf/{int(i)}.rtf")
                blobs.append(R.rtf_bytes(t if isinstance(t, str) else ""))
            yield pd.DataFrame({"path": paths, "content": blobs})

    blobs = d.mapInPandas(forge, "path string, content binary")
    parsed = R.parse_rtf_blobs(blobs)
    return parsed.select(
        F.regexp_extract("_kpf_source", r"([0-9]+)\.rtf$", 1)
        .cast("long")
        .alias("doc_id"),
        "text",
        F.col("n_groups").cast("int").alias("n_groups"),
    )


_FT_DIM = 64
_FT_ITERS = 4
_FT_LR = 4.0


def _ft_forged(spark, sf):
    """Shared forge for the hashed-text-classifier query: class-marker
    tokens planted by doc_id parity (the learnable-separator posture —
    a rule-derived label over raw corpus text is majority-class bait),
    text bounded to 160 chars so the oracle's per-gram CTEs stay
    replayable-fast."""
    d = load_table(spark, sf, "documents")
    marker = F.when(
        F.col("doc_id") % 2 == 0, F.lit(" goodsignal fine prose")
    ).otherwise(F.lit(" lowrent spam casino"))
    return d.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.concat(
            F.substring(F.coalesce(F.col("text"), F.lit("")), 1, 160), marker
        ).alias("text"),
        (F.col("doc_id") % 2 == 0).cast("double").alias("y"),
    )


def _q_text_fasttext_quality(spark, sf):
    """The fastText-linear corpus classifier end-to-end IN-ENGINE:
    hashed unigram+bigram features (md5 hashing trick, dim 64), fixed-
    iteration full-batch logistic regression (4 iters — per iteration
    each task folds its rows to ≤dim+2 gradient/bias/loss sums over the
    lineage-pinned feature frame), then
    corpus-wide scoring as a pure codegen scan projection. Class
    markers planted by parity make the separator learnable; the oracle
    unrolls ALL four iterations as CTE pairs (the graph_pagerank /
    text_quality_lr_train pattern) and re-scores every document —
    round(6) absorbs cross-engine sum-order ulps."""
    from kusto_pre_forge_spark.operators import textstats as TS

    d = _ft_forged(spark, sf)
    model = TS.train_hashed_text_lr(
        d, "y", dim=_FT_DIM, n_iters=_FT_ITERS, learn_rate=_FT_LR
    )
    scored = TS.score_hashed_text_lr(d, model["weights"], model["bias"])
    return scored.select(
        "doc_id",
        F.round("p_quality", 6).alias("p_quality"),
        (F.col("p_quality") >= 0.5).alias("pred"),
        F.col("n_grams").cast("long").alias("n_grams"),
    )


def _q_text_pii_extended(spark, sf):
    """The corpus-release PII pass end-to-end: every document wrapped in
    deterministic PII chrome — an email, a Luhn-VALID card (must
    scrub), a Luhn-INVALID card (must stay: ISBN/order-id posture), an
    IPv4, an international phone — then scrubbed by
    textprep.pii_scrub_extended (one codegen projection chain: regex
    replaces + the sequence/aggregate Luhn fold + the replace fold).
    The doc text itself is digit/@/+-free at every SF (checked), so the
    oracle predicts the scrubbed string CLOSED-FORM."""
    from kusto_pre_forge_spark.operators import textprep as tp
    from kusto_pre_forge_spark.operators.corpus import _widen_for_fanout

    did = F.col("doc_id").cast("long")
    t = F.concat(
        F.lit("user"), did.cast("string"), F.lit("@example.org says "),
        F.substring(F.coalesce(F.col("text"), F.lit("")), 1, 120),
        F.lit(" card 4111 1111 1111 1111 or 4111-1111-1111-1112 ip 10.0.0."),
        (did % 256).cast("string"),
        F.lit(" call +44 20 7946 0958 end"),
    )
    d = _widen_for_fanout(load_table(spark, sf, "documents")).select(
        did.alias("doc_id"), t.alias("t")
    )
    return tp.pii_scrub_extended(d, "t", "doc_id")


def _q_pipeline_corpus_release(spark, sf):
    """The corpus-release pipeline END-TO-END — the composite a real
    data release runs, chained from the REAL operators: PII scrub
    (pii_scrub_extended) → quality gates (repetition_features: word
    count + duplicate-word fraction) → exact dedup (content md5, min
    doc_id survives, the one-shuffle window form). The forge plants
    every failure class: spam docs (doc_id%7==3, 12× repeated word —
    must gate on dup_word_frac), stubs (%13==5, 'tiny' — must gate on
    n_words), duplicates (%10==1 copies the PREVIOUS doc's classed
    text; each doc appends its OWN email, so dedup only works AFTER
    scrubbing normalizes both to <EMAIL> — the pipeline-order lesson,
    pinned by construction). Dup-class takes precedence over the dup
    doc's own class in both engines. The oracle derives every surviving
    row: same forge CTEs, the exact whitespace-token formulas, the same
    gate thresholds, the same min-id dedup."""
    from pyspark.sql import Window

    from kusto_pre_forge_spark.operators import textprep as tp
    from kusto_pre_forge_spark.operators.corpus import _widen_for_fanout

    did = F.col("doc_id").cast("long")
    d = _widen_for_fanout(load_table(spark, sf, "documents")).select(
        did.alias("doc_id"),
        F.substring(F.coalesce(F.col("text"), F.lit("")), 1, 200).alias(
            "t0"
        ),
    )
    spam = " ".join(["spam"] * 12)
    classed = d.select(
        "doc_id",
        F.when(F.col("doc_id") % 7 == 3, F.lit(spam))
        .when(F.col("doc_id") % 13 == 5, F.lit("tiny"))
        .otherwise(F.col("t0"))
        .alias("t1"),
    )
    prev = classed.select(
        (F.col("doc_id") + 1).alias("doc_id"), F.col("t1").alias("_pt")
    )
    forged = (
        classed.join(prev, "doc_id", "left")
        .select(
            "doc_id",
            F.concat(
                F.when(
                    F.col("doc_id") % 10 == 1,
                    F.coalesce(F.col("_pt"), F.col("t1")),
                ).otherwise(F.col("t1")),
                F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.org"),
            ).alias("raw"),
        )
    )
    scrubbed = tp.pii_scrub_extended(forged, "raw", "doc_id").select(
        "doc_id", F.col("scrubbed").alias("text")
    )
    # gate signals are the zero-shuffle half of repetition_features
    # (same _words tokenizer, same formulas) computed INLINE — calling
    # the full operator would join its bigram aggregate back for
    # columns this gate never reads (two exchanges for nothing)
    words = tp._words(F.col("text"))
    rep = scrubbed.select(
        "doc_id",
        "text",
        F.size(words).alias("n_words"),
        F.when(F.size(words) == 0, F.lit(0.0))
        .otherwise(
            1.0
            - F.size(F.array_distinct(words)).cast("double")
            / F.size(words).cast("double")
        )
        .alias("dup_word_frac"),
    )
    gated = rep.filter(
        (F.col("n_words") >= 5) & (F.col("dup_word_frac") <= 0.6)
    )
    w = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    kept = gated.withColumn("_rn", F.row_number().over(w)).filter(
        F.col("_rn") == 1
    )
    return kept.select(
        "doc_id",
        F.col("n_words").cast("long").alias("n_words"),
        F.round("dup_word_frac", 6).alias("dup_word_frac"),
    )


def _q_text_hash_embedding(spark, sf):
    """Model-free deterministic text embeddings: hashed unigram+bigram
    count vectors, L2-normalized — cosine over them is n-gram
    similarity, so the whole similarity family applies to raw text with
    no model and no external table. Components are exact small-integer
    arithmetic (counts, an integer-sum L2 norm, one division), so the
    DuckDB replay matches bit-for-bit with NO rounding. Components
    posexplode to rows (the comparison harness hashes scalars). One
    codegen projection + generate above the widen re-split."""
    from kusto_pre_forge_spark.operators import textstats as TS
    from kusto_pre_forge_spark.operators.corpus import _widen_for_fanout

    d = _widen_for_fanout(load_table(spark, sf, "documents")).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.substring(F.coalesce(F.col("text"), F.lit("")), 1, 160).alias(
            "t"
        ),
    )
    emb = TS.hashed_text_embedding(d, "t", "doc_id", dim=32)
    return emb.select(
        "doc_id",
        F.posexplode("embedding").alias("k", "v"),
        F.col("n_grams"),
    ).select("doc_id", F.col("k").cast("int").alias("k"), "v", "n_grams")


def _kqltext_tables(spark, sf):
    from kusto_pre_forge_spark.tables import TABLE_NAMES

    return {
        t: load_table(spark, sf, t)
        for t in ("lineitem", "orders", "events", "customer")
    }


def _q_kqltext_q1(spark, sf):
    """The TPC-H Q1 shape written AS KQL TEXT and run through the
    parser (operators/kqltext.py) — the reference emits KQL strings,
    and this engine runs them natively; the oracle is the plain SQL the
    pipeline means, so the parser's where/summarize/sort construction
    is checked end-to-end against an independent engine."""
    from kusto_pre_forge_spark.operators.kqltext import run_kql

    q = (
        "lineitem\n"
        "| where l_quantity > 10\n"
        "| summarize sum_qty=sum(l_quantity), n=count() "
        "by l_returnflag, l_linestatus\n"
        "| sort by l_returnflag asc, l_linestatus asc"
    )
    return run_kql(spark, q, _kqltext_tables(spark, sf))


def _q_kqltext_pipeline(spark, sf):
    """A multi-stage KQL pipeline through the parser: has-term + between
    predicates, numeric bin(), iff(), named summarize, default-desc
    top. Checks the expression grammar's precedence and the stage
    plumbing against plain SQL."""
    from kusto_pre_forge_spark.operators.kqltext import run_kql

    q = (
        "orders\n"
        "| where o_orderpriority has '1-URGENT' "
        "and o_totalprice between (1000.0 .. 200000.0)\n"
        "| extend Bucket=bin(o_totalprice, 50000), "
        "Cls=iff(o_custkey % 2 == 0, 'even', 'odd')\n"
        "| summarize n=count(), total=round(sum(o_totalprice), 2) "
        "by Bucket, Cls\n"
        "| sort by Bucket asc, Cls asc"
    )
    return run_kql(spark, q, _kqltext_tables(spark, sf))


def _q_kqltext_plugins(spark, sf):
    """The evaluate-plugin family through the TEXT parser (round-12
    ask #7): tabular lets forge a CIDR block table and a zone dimension
    with `range`, ``evaluate ipv4_lookup`` annotates each customer's
    synthetic IP by broadcast non-equi containment, and the ``lookup``
    operator joins the dimension with the library's explicit broadcast
    hint. Oracle is the containment arithmetic closed-form (/16 blocks
    at second octets 0,25,…,175). The fact side never shuffles before
    the final aggregate."""
    from kusto_pre_forge_spark.operators.kqltext import run_kql

    q = (
        "let Blocks = range i from 0 to 7 step 1\n"
        "  | extend network=strcat('10.', tostring(i * 25), '.0.0/16'),"
        " zone_id=i\n"
        "  | project network, zone_id;\n"
        "let Zones = range z from 0 to 7 step 1\n"
        "  | extend zone_id=z, zone_name=strcat('zone-', tostring(z))\n"
        "  | project zone_id, zone_name;\n"
        "customer\n"
        "| extend ip = strcat('10.', tostring(c_custkey % 200), '.',"
        " tostring(c_nationkey), '.7')\n"
        "| evaluate ipv4_lookup(Blocks, ip)\n"
        "| lookup kind=inner Zones on zone_id\n"
        "| summarize n=count() by zone_name\n"
        "| sort by zone_name asc"
    )
    return run_kql(spark, q, _kqltext_tables(spark, sf))


def _q_kqltext_top_nested(spark, sf):
    """``top-nested`` through the text parser (round-12): top 3 order
    priorities by revenue, and within each the top 2 statuses by count
    — the hierarchical-drilldown operator every Kusto dashboard uses.
    Each level is one map-side-combinable aggregate + a rank window
    over the TINY aggregate (never the fact stream); levels join by
    broadcast. Oracle: the same two ranked windows in plain SQL
    (ties break agg desc, then key asc — the engine's documented
    deterministic order)."""
    from kusto_pre_forge_spark.operators.kqltext import run_kql

    q = (
        "orders\n"
        "| top-nested 3 of o_orderpriority by"
        " total=round(sum(o_totalprice), 2),\n"
        "  top-nested 2 of o_orderstatus by n=count()\n"
        "| sort by o_orderpriority asc, o_orderstatus asc"
    )
    return run_kql(spark, q, _kqltext_tables(spark, sf))


def _q_kqltext_series_fromto(spark, sf):
    """``make-series from/to`` through the TEXT parser (round-13):
    explicit [from, to) axis with buckets ALIGNED TO ``from`` (Kusto's
    bin_at semantics — a 12:00 weekly window buckets at 12:00, not
    midnight), out-of-window rows excluded, empty buckets filled.
    Integer counts so runs and oracle agree exactly. Plan: per-bucket
    map-side combine + a literal-sized broadcast axis."""
    from kusto_pre_forge_spark.operators.kqltext import run_kql

    q = (
        "events\n"
        "| make-series n=count() on ts "
        "from datetime('2024-01-05 12:00:00') "
        "to datetime('2024-01-12 12:00:00') step 1d\n"
        "| sort by ts asc"
    )
    return run_kql(spark, q, {"events": load_table(spark, sf, "events")})


def _q_corpus_dpo_render(spark, sf):
    """Preference-pair (DPO / reward-model) rendering (round-13):
    documents become (prompt, chosen, rejected) triples — prompt the
    first 60 chars, chosen the rest, rejected its reverse — rendered
    twice with the shared chat template plus each response's loss span
    (operators/corpus.py dpo_render). One codegen projection, zero
    exchanges. Oracle: the closed-form template arithmetic."""
    from kusto_pre_forge_spark.operators.corpus import dpo_render

    d = load_table(spark, sf, "documents").select(
        "doc_id",
        F.substring(F.coalesce(F.col("text"), F.lit("")), 1, 60)
        .alias("prompt"),
        F.expr("substring(coalesce(text, ''), 61)").alias("chosen"),
        F.reverse(F.expr("substring(coalesce(text, ''), 61)"))
        .alias("rejected"),
    )
    return dpo_render(d).select(
        "doc_id", "dpo_chosen_text", "dpo_chosen_s", "dpo_chosen_e",
        "dpo_rejected_text", "dpo_rejected_s", "dpo_rejected_e",
    )


def _q_corpus_sft_conversation(spark, sf):
    """MULTI-TURN token-level SFT masks (round-14): documents forged
    into 3-turn conversations (system = chars 1-30, user = 31-90,
    assistant = the rest), tokenized per-turn-SEGMENT (header /
    content / end sentinel — 9 byte-BPE segments per doc) by
    corpus.sft_tokenize_conversation; loss mask is 1 exactly on
    assistant-content tokens by construction. Merges train on the
    9-segment corpus. The oracle replays the token ids through the
    shared DuckDB byte-BPE CTE chain over a documents view SHADOWED by
    the same 9-row segment table (keys doc_id*16+seg), then checks
    totals + the assistant-content and user-content id heads — actual
    token ids end to end, the corpus_sft_tokenize pattern generalized
    over turns."""
    from kusto_pre_forge_spark.operators import textprep
    from kusto_pre_forge_spark.operators.corpus import (
        _widen_for_fanout,
        sft_tokenize_conversation,
    )

    d = _widen_for_fanout(load_table(spark, sf, "documents"))
    text = F.coalesce(F.col("text"), F.lit(""))
    tail = F.when(
        F.length(text) > 90, F.expr("substring(coalesce(text, ''), 91)")
    ).otherwise(F.lit(""))
    conv = d.select(
        "doc_id",
        F.array(
            F.struct(
                F.lit("system").alias("role"),
                F.substring(text, 1, 30).alias("content"),
            ),
            F.struct(
                F.lit("user").alias("role"),
                F.substring(text, 31, 60).alias("content"),
            ),
            F.struct(
                F.lit("assistant").alias("role"), tail.alias("content")
            ),
        ).alias("turns"),
    )
    segtab = d.select(
        "doc_id",
        F.posexplode(
            F.array(
                F.lit("<|system|>\n"), F.substring(text, 1, 30),
                F.lit("<|end|>\n"), F.lit("<|user|>\n"),
                F.substring(text, 31, 60), F.lit("<|end|>\n"),
                F.lit("<|assistant|>\n"), tail, F.lit("<|end|>\n"),
            )
        ),
    ).select(
        (F.col("doc_id").cast("long") * 16 + F.col("pos")).alias("doc_id"),
        F.col("col").alias("text"),
    )
    merges = textprep.train_bpe(segtab, n_merges=6, byte_level=True)
    out = sft_tokenize_conversation(conv, merges)

    def head_at(seg_idx):
        start = F.aggregate(
            F.slice("segment_sizes", 1, seg_idx),
            F.lit(0),
            lambda a, b: a + b,
        )
        n = F.least(F.lit(16), F.element_at("segment_sizes", seg_idx + 1))
        ids = F.slice("input_ids", start + 1, n)
        return F.concat_ws(
            ",", F.transform(ids, lambda v: v.cast("string"))
        )

    return out.select(
        "doc_id",
        "n_tokens",
        "n_loss_tokens",
        head_at(7).alias("loss_ids_head"),
        head_at(4).alias("user_ids_head"),
    )


def _q_corpus_sft_tokenize(spark, sf):
    """Token-level SFT hand-off (round-13): documents split into
    (prompt = first 60 chars, response = the rest), byte-BPE trained on
    the SEGMENT corpus and each segment encoded separately
    (corpus.sft_tokenize_mask — the standard trainer recipe: loss_mask
    is zeros(prompt) ++ ones(response) by construction, no offset
    mapping). Output exposes per-segment token counts + id heads so the
    oracle — the full DuckDB byte-BPE replay chain run over a CTE that
    SHADOWS the documents view with the doubled segment table — checks
    the actual token ids end to end."""
    from kusto_pre_forge_spark.operators import textprep
    from kusto_pre_forge_spark.operators.corpus import (
        _widen_for_fanout,
        sft_tokenize_mask,
    )

    d = _widen_for_fanout(load_table(spark, sf, "documents"))
    text = F.coalesce(F.col("text"), F.lit(""))
    seg = d.select(
        "doc_id",
        F.substring(text, 1, 60).alias("prompt"),
        F.when(
            F.length(text) > 60,
            F.expr("substring(coalesce(text, ''), 61)"),
        ).otherwise(F.lit("")).alias("response"),
    )
    segcorpus = seg.selectExpr(
        "doc_id * 2 AS doc_id", "prompt AS text"
    ).unionAll(
        seg.selectExpr("doc_id * 2 + 1 AS doc_id", "response AS text")
    )
    merges = textprep.train_bpe(segcorpus, n_merges=6, byte_level=True)
    out = sft_tokenize_mask(seg, merges)

    def head(arr):
        return F.concat_ws(
            ",", F.transform(arr, lambda v: v.cast("string"))
        )

    p_head = head(F.slice(
        "input_ids", F.lit(1),
        F.least(F.lit(16), F.col("n_prompt_tokens")).cast("int"),
    ))
    r_head = head(F.slice(
        "input_ids",
        (F.col("n_prompt_tokens") + 1).cast("int"),
        F.lit(16),
    ))
    return out.select(
        "doc_id",
        "n_prompt_tokens",
        "n_response_tokens",
        p_head.alias("prompt_ids_head"),
        r_head.alias("response_ids_head"),
    )


def _q_kqltext_bag_narrow(spark, sf):
    """``evaluate bag_unpack`` + ``evaluate narrow`` through the TEXT
    parser (round-13): unpack the events property bag with a DECLARED
    schema (one codegen'd from_json — ADX's data-driven key inference
    would cost an extra full scan), aggregate, then narrow the tiny
    aggregate to (k, Column, Value) rows with k as the row identity
    (the scale path — no serialize ordinal). Oracle: json extract +
    group + manual unpivot in SQL."""
    from kusto_pre_forge_spark.operators.kqltext import run_kql

    q = (
        "events\n"
        "| evaluate bag_unpack(props) : (k:long)\n"
        "| summarize n=count() by k\n"
        "| evaluate narrow(k)"
    )
    return run_kql(spark, q, {"events": load_table(spark, sf, "events")})


def _q_corpus_fim(spark, sf):
    """Fill-in-the-middle transform (round-13): deterministic per-key
    gate, PSM/SPM arm, and cut points — the Bavarian et al. 2022
    document-level FIM recipe as ONE codegen projection over the
    corpus scan (operators/corpus.py fim_transform). Oracle replays the
    salted-md5 arithmetic and the substr splits in SQL, so every
    choice the transform makes is independently checked."""
    from kusto_pre_forge_spark.operators.corpus import fim_transform

    d = load_table(spark, sf, "documents")
    return fim_transform(d, rate=0.6, spm_rate=0.5).select(
        "doc_id", "fim_mode", "fim_text"
    )


def _q_corpus_sft_render(spark, sf):
    """SFT chat-template rendering (round-13): documents become a
    two-turn conversation (user: first 80 chars, assistant: the rest),
    rendered to the flat training string plus the LOSS-MASK span — the
    assistant content's 0-based [s, e) character offsets, which is what
    a trainer needs to mask loss onto assistant tokens. One aggregate
    higher-order fold per row, zero exchanges (operators/corpus.py
    sft_render). Oracle: the closed-form template arithmetic."""
    from kusto_pre_forge_spark.operators.corpus import sft_render

    d = load_table(spark, sf, "documents").select(
        "doc_id",
        F.array(
            F.struct(
                F.lit("user").alias("role"),
                F.substring(F.coalesce(F.col("text"), F.lit("")), 1, 80)
                .alias("content"),
            ),
            F.struct(
                F.lit("assistant").alias("role"),
                F.expr("substring(coalesce(text, ''), 81)").alias("content"),
            ),
        ).alias("turns"),
    )
    out = sft_render(d)
    span = F.element_at("loss_spans", 1)
    return out.select(
        "doc_id",
        "sft_text",
        span["s"].alias("loss_s"),
        span["e"].alias("loss_e"),
    )


def _q_kqltext_scan(spark, sf):
    """``scan`` through the TEXT parser (round-13): the restart
    profile — a running n_chars total that restarts at every 'en'
    document, with ``with_match_id`` counting the restarts. Bound to
    kql.scan_accumulate's two-window segment plan (the shuffle-minimal
    distributed equivalent of Kusto's sequential walk; the sequence is
    GLOBAL like Kusto's own scan, so the window is single-partition by
    the operator's own contract — keyed scans use scan_accumulate(by=)).
    Oracle: the same segment-id construction in plain SQL. Integer
    accumulator, so runs and oracle agree exactly."""
    from kusto_pre_forge_spark.operators.kqltext import run_kql

    q = (
        "documents\n"
        "| sort by doc_id asc\n"
        "| scan with_match_id=m declare (s:long=0) with (\n"
        "    step a: lang == 'en' => s = n_chars;\n"
        "    step b: true => s = s + n_chars;)\n"
        "| project doc_id, s, m"
    )
    return run_kql(
        spark, q, {"documents": load_table(spark, sf, "documents")}
    )


def _q_kqltext_partition(spark, sf):
    """``partition by`` through the TEXT parser (round-13): per-lang
    top-2 documents by n_chars — Kusto's LEGACY bounded-key contract
    (64-key valve; the cap IS the operator's design center). Plan: the
    source is pinned once, the key list is the only driver-side data,
    each branch re-parses the stage span over `src where lang == k`,
    and the result is a plan-level union of filtered branches. Oracle:
    the per-key rank window in plain SQL."""
    from kusto_pre_forge_spark.operators.kqltext import run_kql

    q = (
        "documents\n"
        "| partition by lang (\n"
        "    sort by n_chars desc, doc_id asc\n"
        "    | take 2\n"
        "    | project lang, doc_id, n_chars)"
    )
    return run_kql(
        spark, q, {"documents": load_table(spark, sf, "documents")}
    )


def _q_kqltext_find(spark, sf):
    """``find in (…)`` through the TEXT parser (round-13): cross-table
    wildcard search — each table gets its own all-string-columns
    case-insensitive term test directly over its scan (pushdown and
    pruning per source), the union is plan-level, and the project list
    null-pads in declared order so the schema is identical across
    tables. Oracle: the two per-table scans unioned with the same
    null padding."""
    from kusto_pre_forge_spark.operators.kqltext import run_kql

    q = (
        "find withsource=src in (documents, customer) "
        "where * contains 'ar' project doc_id, c_custkey"
    )
    return run_kql(
        spark,
        q,
        {
            "documents": load_table(spark, sf, "documents"),
            "customer": load_table(spark, sf, "customer"),
        },
    )


def _q_kqltext_lambda(spark, sf):
    """let-bound function literals through the TEXT parser (round-13):
    a tabular lambda applied with ``| invoke`` (piped table binds the
    first tabular parameter), a scalar parameter with a default, and a
    scalar lambda called in expression position. Bodies re-parse at the
    call site, so the whole query is ONE Catalyst plan — filter pushed
    to the scan, the scalar lambda folded into the projection. Oracle:
    the SQL the bindings mean."""
    from kusto_pre_forge_spark.operators.kqltext import run_kql

    q = (
        "let chop = (T:(*), k:long=500) "
        "{ T | where n_chars >= k | project doc_id, lang, n_chars };\n"
        "let label = (a:string, b:long) { strcat(a, '-', tostring(b)) };\n"
        "documents\n"
        "| invoke chop(400)\n"
        "| extend tag = label(lang, n_chars % 10)\n"
        "| sort by doc_id asc"
    )
    return run_kql(
        spark, q, {"documents": load_table(spark, sf, "documents")}
    )


def _q_kqltext_fork_python(spark, sf):
    """``materialize`` + ``fork`` + ``evaluate python`` through the
    TEXT parser (round-13 ask #7): the source pipeline — orders pushed
    through the ADX inline-Python plugin (mapInPandas sandbox, `*`
    schema expansion plus a computed column) — is materialized ONCE,
    and two fork branches aggregate it (per-bucket revenue; a filtered
    count). The runner represents ADX's one-table-per-branch output as
    the branch-labeled union (`_kpf_fork`). Oracle is the SQL each
    branch means, unioned with the same labels. Plan: the scan +
    Python stage run once (lazy persist), each branch is one
    map-side-combinable aggregate."""
    from kusto_pre_forge_spark.operators.kqltext import run_kql

    q = (
        "let src = materialize(orders\n"
        "  | evaluate python(typeof(*, half:real),"
        " 'result = df.assign(half=df[\"o_totalprice\"] / 2)'));\n"
        "src\n"
        "| fork\n"
        "  (by_bucket = extend bucket = o_orderkey % 4\n"
        "   | summarize n=count(), revenue=round(sum(half), 2)"
        " by bucket)\n"
        "  (hi = where o_totalprice > 200000.0 | summarize hi_n=count())"
    )
    return run_kql(spark, q, _kqltext_tables(spark, sf))


def _q_kqltext_scan_steps(spark, sf):
    """The GENERAL multi-step scan machine through the TEXT parser
    (round-14): session labeling over events — a two-step state machine
    whose second step's condition READS the state (``ts - last_ts <=
    30s``), the shape the window profiles refuse. Bound to
    kql.scan_steps' sequential executor (applyInPandas; the global text
    form walks rows in one task — Kusto's scan is sequential — with the
    documented bound-the-input posture; keyed scale runs via
    scan_steps(by=…)). Oracle: the machine's semantics reduce exactly
    to windowed sessionization for this step shape (a first-step match
    IS a new sequence; cont advances/extends within the gap), so the
    SQL replay is the classic break-flag cumulative sum + per-session
    row_number — every row compared, not an aggregate."""
    from kusto_pre_forge_spark.operators.kqltext import run_kql

    q = (
        "events\n"
        "| sort by ts asc, event_id asc\n"
        "| scan with_match_id=session declare (last_ts:datetime, n:long=0) "
        "with (\n"
        "    step start: true => last_ts = ts, n = 1;\n"
        "    step cont: ts - last_ts <= 30s => last_ts = ts, n = n + 1;)\n"
        "| project event_id, n, session"
    )
    return run_kql(spark, q, {"events": load_table(spark, sf, "events")})


def _q_kqltext_plugins2(spark, sf):
    """The round-14 evaluate-plugin bindings through the TEXT parser:
    ``sliding_window_counts`` (trailing 3-day event + distinct-actor
    counts on the dense day axis) joined with ``rolling_percentile``
    (exact trailing 3-day median of value) — both were library-oracled
    since r9/r10 (operators/activity.py); this key pins the pasted-ADX
    argument plumbing. Plans are the library's contribute-to-trailing-
    bins explode (constant window/bin blowup, map-side-combined
    aggregates, broadcast axis join); the day-keyed inner join is tiny
    (≤ #days rows/side). Oracle: dense generate_series axis + trailing
    BETWEEN join + quantile_cont in plain SQL; p50 rounds to 4 both
    sides (interpolation is last-ulp sensitive)."""
    from kusto_pre_forge_spark.operators.kqltext import run_kql

    q = (
        "let W = events | evaluate sliding_window_counts(user_id, ts, 3d);\n"
        "let P = events | evaluate rolling_percentile(value, 50, ts, 3d);\n"
        "W | join kind=inner (P) on day\n"
        "| project day = todatetime(day), count_events, dcount_actors, "
        "p50 = round(p50, 4)\n"
        "| sort by day asc"
    )
    return run_kql(spark, q, {"events": load_table(spark, sf, "events")})


def _q_kqltext_facet(spark, sf):
    """``facet by`` through the TEXT parser (round-13): one value-count
    table per facet column plus the ``with``-clause table, represented
    as the branch-labeled union (the fork convention; ADX emits one
    result table per facet). Each facet is one map-side-combinable
    aggregate over the materialized source. Oracle is the SQL each
    facet means, unioned with the same labels."""
    from kusto_pre_forge_spark.operators.kqltext import run_kql

    q = (
        "orders\n"
        "| facet by o_orderstatus, o_orderpriority"
        " with (where o_totalprice > 200000.0 | summarize hi=count())"
    )
    return run_kql(spark, q, _kqltext_tables(spark, sf))


def _q_kqltext_top_hitters(spark, sf):
    """``top-hitters`` through the TEXT parser (round-13): ADX's
    approximate heavy-hitters bound exactly — one map-side-combinable
    aggregate + TakeOrderedAndProject under ADX's output column name
    (approximate_sum_<col>). Oracle: the same ranked aggregate in
    plain SQL (ties value asc)."""
    from kusto_pre_forge_spark.operators.kqltext import run_kql

    q = "lineitem | top-hitters 2 of l_returnflag by l_quantity"
    return run_kql(spark, q, _kqltext_tables(spark, sf))


def _q_kqltext_parse_kv(spark, sf):
    """``parse-kv`` through the text parser (round-12): forge key=value
    log lines from orders in-pipeline, extract them back with typed
    fields (one anchored regexp_extract per key, single codegen
    projection), aggregate. The oracle computes the same aggregate from
    the source columns directly — extraction must be lossless for the
    row to hash-match."""
    from kusto_pre_forge_spark.operators.kqltext import run_kql
    from kusto_pre_forge_spark.operators.corpus import _widen_for_fanout

    q = (
        "orders\n"
        "| extend Line = strcat('pri=\"', o_orderpriority, '\" price=',"
        " tostring(o_totalprice), ' status=', o_orderstatus)\n"
        "| parse-kv Line as (pri: string, price: real, status: string)"
        " with (pair_delimiter=' ', kv_delimiter='=', quote='\"')\n"
        "| where price > 1000\n"
        "| summarize n=count(), total=round(sum(price), 2) by status, pri\n"
        "| sort by status asc, pri asc"
    )
    # widen the one-footer orders scan (r15, guide §2.5 input skew): the
    # strcat-forge + quoted-kv regexp projection is compute-heavy per row
    # and otherwise runs on ONE core; the pipeline is aggregate-only
    # (count + round-2 sum) so the re-split is order-safe — measured
    # identical rows, 1.4x
    tabs = _kqltext_tables(spark, sf)
    tabs["orders"] = _widen_for_fanout(tabs["orders"])
    return run_kql(spark, q, tabs)


def _q_kqltext_dynamic(spark, sf):
    """The reference's dynamic-JSON idiom (EtlRun.cs:153-159) as KQL
    text: todynamic(props).k path access coerced by toint, a split()[i]
    projection, take_any per group — the exact construct family the
    emitted policy/shard queries use, over the events table."""
    from kusto_pre_forge_spark.operators.kqltext import run_kql

    q = (
        "events\n"
        "| extend K=toint(todynamic(props).k)\n"
        "| where K >= 50\n"
        "| summarize n=count(), any_k=take_any(strcat('k=', tostring(K))) "
        "by K\n"
        "| sort by K asc\n"
        "| take 40"
    )
    return run_kql(spark, q, _kqltext_tables(spark, sf))


def _q_kqltext_mvapply(spark, sf):
    """mv-apply through the parser (the GenerateLogData idiom): each
    row's split array runs a per-row aggregating subpipeline (summarize
    silently grouped by the synthetic row id), the results join back,
    then a corpus-level rollup. Deterministic aggregates only (max +
    count — make_list order would be engine-dependent)."""
    from kusto_pre_forge_spark.operators.kqltext import run_kql

    q = (
        "orders\n"
        "| extend Parts = split(o_orderpriority, '-')\n"
        "| mv-apply P=Parts to typeof(string) on "
        "(summarize MaxPart=max(P), nParts=count())\n"
        "| summarize n=count() by MaxPart, nParts\n"
        "| sort by MaxPart asc"
    )
    return run_kql(spark, q, _kqltext_tables(spark, sf))


def _q_kqltext_show_policy(spark, sf):
    """The reference's partition-policy introspection pipeline
    (EtlRun.cs:150-159) run WHOLE as emitted — `.show table … policy
    partitioning` answered from the engine's catalog registry, the
    todynamic/mv-expand/coerce tail through the parser. Closed-form
    oracle (the policy registered IS the expected row)."""
    from kusto_pre_forge_spark.catalog import (
        Catalog,
        LOG_EVENTS_SCHEMA,
        PartitionPolicy,
        TableDef,
    )
    from kusto_pre_forge_spark.operators.kqltext import run_kql

    cat = Catalog()
    cat.register(
        TableDef(
            "LogTable", LOG_EVENTS_SCHEMA, PartitionPolicy("Node", 16, 7)
        )
    )
    q = (
        ".show table LogTable policy partitioning\n"
        "| project Keys=todynamic(Policy).PartitionKeys\n"
        "| mv-expand Keys\n"
        '| where Keys.Kind=="Hash"\n'
        "| project\n"
        "    ColumnName=tostring(Keys.ColumnName),\n"
        "    MaxPartitionCount = toint(Keys.Properties.MaxPartitionCount),\n"
        "    Seed = toint(Keys.Properties.Seed)"
    )
    return run_kql(spark, q, catalog=cat)


# --------------------------------------------------------------------------
# registry
# --------------------------------------------------------------------------


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        # KQL surface (SURVEY §2.5)
        "kql_project_where": _q_project_where,
        "kql_summarize_q1": _q_summarize_q1,
        "kql_distinct": _q_distinct,
        "kql_count": _q_count,
        "kql_take_any": _q_take_any,
        "kql_mv_expand": _q_mv_expand,
        "kql_dynamic_json": _q_dynamic_json,
        "kql_has_term": _q_has_term,
        "kql_split_index": _q_split_index,
        "kql_case_bin": _q_case_bin,
        "kql_strcat_list": _q_strcat_list,
        "kql_range_gen": _q_range_gen,
        "kql_top": _q_top,
        # pipeline surface (SURVEY §2.1-2.3)
        "prepartition_events": _q_prepartition_events,
        "prepartition_customer": _q_prepartition_customer,
        "shard_assign": _q_shard_assign,
        "ingest_replay_dedup": _q_ingest_replay_dedup,
        # relational capabilities
        "join_anti": _q_join_anti,
        "join_semi": _q_join_semi,
        "q3_revenue_topk": _q3_revenue_topk,
        "q5_nation_revenue": _q5_nation_revenue,
        "q7_volume_shipping": _q7_volume_shipping,
        "q10_returned_items": _q10_returned_items,
        "q4_order_priority": _q4_order_priority,
        "q6_forecast_revenue": _q6_forecast_revenue,
        "q8_market_share": _q8_market_share,
        "q9_product_profit": _q9_product_profit,
        "q13_order_count_dist": _q13_order_count_dist,
        "q14_promo_revenue": _q14_promo_revenue,
        "q15_top_supplier": _q15_top_supplier,
        "q17_small_quantity_revenue": _q17_small_quantity_revenue,
        "q18_large_orders": _q18_large_orders,
        "q19_discounted_revenue": _q19_discounted_revenue,
        "q2_min_cost_supplier": _q2_min_cost_supplier,
        "q11_important_stock": _q11_important_stock,
        "q12_late_shipment_priority": _q12_late_shipment_priority,
        "q16_supplier_counts": _q16_supplier_counts,
        "q20_excess_suppliers": _q20_excess_suppliers,
        "q21_suppliers_kept_waiting": _q21_suppliers_kept_waiting,
        "q22_global_sales_opportunity": _q22_global_sales_opportunity,
        "window_topk": _q_window_topk,
        "window_running": _q_window_running,
        "agg_rollup": _q_rollup,
        "agg_pivot_events": _q_pivot_events,
        "distinct_users": _q_distinct_users,
        "sessionize": _q_sessionize,
        # LLM-pipeline extensions
        "dedup_exact": _q_dedup_exact,
        "dedup_minhash": _q_dedup_minhash,
        "dedup_minhash_incremental": _q_dedup_minhash_incremental,
        "dedup_survivors_policy": _q_dedup_survivors_policy,
        "dedup_clusters": _q_dedup_clusters,
        "dedup_cluster_sizes": _q_dedup_cluster_sizes,
        "dedup_soft_weights": _q_dedup_soft_weights,
        "dedup_cdc_chunks": _q_dedup_cdc_chunks,
        "dedup_ngram": _q_dedup_ngram,
        "dedup_embedding": _q_dedup_embedding,
        "dedup_semantic": _q_dedup_semantic,
        "dedup_embedding_lsh": _q_dedup_embedding_lsh,
        "dedup_embedding_clusters": _q_dedup_embedding_clusters,
        "similarity_topk": _q_similarity_topk,
        "similarity_hard_negatives": _q_similarity_hard_negatives,
        "similarity_knn_classify": _q_similarity_knn_classify,
        "similarity_knn_propagate": _q_similarity_knn_propagate,
        "similarity_topk_lsh": _q_similarity_topk_lsh,
        "similarity_topk_ivf": _q_similarity_topk_ivf,
        "simhash_pairs": _q_simhash_pairs,
        "text_tokens": _q_text_tokens,
        "text_quality": _q_text_quality,
        "text_gopher": _q_text_gopher,
        "text_c4": _q_text_c4,
        "w3c_log_parse": _q_w3c_log_parse,
        "avro_roundtrip": _q_avro_roundtrip,
        "corpus_temperature_mix": _q_corpus_temperature_mix,
        "layout_zorder": _q_layout_zorder,
        "dedup_substring_spans": _q_dedup_substring_spans,
        "kql_evaluate_python": _q_kql_evaluate_python,
        "pipeline_quality_route": _q_pipeline_quality_route,
        "kql_diffpatterns_text": _q_kql_diffpatterns_text,
        "kql_ipv6_lookup": _q_kql_ipv6_lookup,
        "dedup_span_cut": _q_dedup_span_cut,
        "kql_parse_where": _q_kql_parse_where,
        "kql_series_fit_poly": _q_kql_series_fit_poly,
        "kql_getschema": _q_kql_getschema,
        "text_lm_score": _q_text_lm_score,
        "text_ccnet_buckets": _q_text_ccnet_buckets,
        "text_bm25": _q_text_bm25,
        "text_bpe": _q_text_bpe,
        "text_bpe_byte": _q_text_bpe_byte,
        "text_bpe_encode": _q_text_bpe_encode,
        "text_bpe_interchange": _q_text_bpe_interchange,
        "text_url_canonicalize": _q_text_url_canonicalize,
        "text_fix_encoding": _q_text_fix_encoding,
        "text_unigram": _q_text_unigram,
        "text_wordpiece": _q_text_wordpiece,
        "embedding_whiten": _q_embedding_whiten,
        "text_langid": _q_text_langid,
        "text_langid_eval": _q_text_langid_eval,
        "text_lm_backoff": _q_text_lm_backoff,
        "text_fingerprint": _q_text_fingerprint,
        "multimodal_meta": _q_multimodal_meta,
        "events_hourly": _q_events_hourly,
        "events_windowed": _q_events_windowed,
        "events_session_window": _q_events_session_window,
        "asof_join": _q_asof_join,
        "range_join_bands": _q_range_join_bands,
        "rollup_multires": _q_rollup_multires,
        "kql_dcount": _q_kql_dcount,
        "session_stats": _q_session_stats,
        "kql_percentiles": _q_kql_percentiles,
        "kql_extract": _q_kql_extract,
        "kql_scalar_suite": _q_kql_scalar_suite,
        "kql_parse": _q_kql_parse,
        "kql_make_series": _q_kql_make_series,
        "kql_join_innerunique": _q_kql_join_innerunique,
        "set_except": _q_set_except,
        "set_intersect": _q_set_intersect,
        "kql_top_nested": _q_kql_top_nested,
        "kql_mv_apply": _q_kql_mv_apply,
        "window_lag_delta": _q_window_lag_delta,
        "set_union": _q_set_union,
        "kql_series_fill_linear": _q_kql_series_fill_linear,
        "kql_lookup": _q_kql_lookup,
        "kql_top_hitters": _q_kql_top_hitters,
        "kql_find": _q_kql_find,
        "heavy_hitters_sketch": _q_heavy_hitters_sketch,
        "kql_series_outliers": _q_kql_series_outliers,
        "pipeline_docs_clean": _q_pipeline_docs_clean,
        "pipeline_corpus_mix": _q_pipeline_corpus_mix,
        "corpus_stratified_sample": _q_corpus_stratified_sample,
        "corpus_shuffle": _q_corpus_shuffle,
        "corpus_split": _q_corpus_split,
        "corpus_budget_sample": _q_corpus_budget_sample,
        "corpus_dsir_sample": _q_corpus_dsir_sample,
        "corpus_domain_shift": _q_corpus_domain_shift,
        "text_fix_mojibake": _q_text_fix_mojibake,
        "text_html_extract": _q_text_html_extract,
        "warc_parse": _q_warc_parse,
        "pdf_text_extract": _q_pdf_text_extract,
        "pipeline_pdf_extract": _q_pipeline_pdf_extract,
        "docx_text_extract": _q_docx_text_extract,
        "ipynb_cells_extract": _q_ipynb_cells_extract,
        "text_markdown_extract": _q_text_markdown_extract,
        "wiki_dump_extract": _q_wiki_dump_extract,
        "text_wikitext_extract": _q_text_wikitext_extract,
        "stackexchange_posts_extract": _q_stackexchange_posts_extract,
        "text_latex_extract": _q_text_latex_extract,
        "wet_text_extract": _q_wet_text_extract,
        "wat_metadata_extract": _q_wat_metadata_extract,
        "rtf_text_extract": _q_rtf_text_extract,
        "text_fasttext_quality": _q_text_fasttext_quality,
        "text_pii_extended": _q_text_pii_extended,
        "pipeline_corpus_release": _q_pipeline_corpus_release,
        "text_hash_embedding": _q_text_hash_embedding,
        "kqltext_q1": _q_kqltext_q1,
        "kqltext_pipeline": _q_kqltext_pipeline,
        "kqltext_plugins": _q_kqltext_plugins,
        "kqltext_fork_python": _q_kqltext_fork_python,
        "kqltext_facet": _q_kqltext_facet,
        "kqltext_plugins2": _q_kqltext_plugins2,
        "kqltext_scan_steps": _q_kqltext_scan_steps,
        "kqltext_top_hitters": _q_kqltext_top_hitters,
        "kqltext_parse_kv": _q_kqltext_parse_kv,
        "kqltext_top_nested": _q_kqltext_top_nested,
        "kqltext_scan": _q_kqltext_scan,
        "kqltext_bag_narrow": _q_kqltext_bag_narrow,
        "corpus_sft_tokenize": _q_corpus_sft_tokenize,
        "corpus_sft_conversation": _q_corpus_sft_conversation,
        "kqltext_series_fromto": _q_kqltext_series_fromto,
        "corpus_dpo_render": _q_corpus_dpo_render,
        "corpus_fim": _q_corpus_fim,
        "corpus_sft_render": _q_corpus_sft_render,
        "kqltext_partition": _q_kqltext_partition,
        "kqltext_find": _q_kqltext_find,
        "kqltext_lambda": _q_kqltext_lambda,
        "kqltext_dynamic": _q_kqltext_dynamic,
        "kqltext_mvapply": _q_kqltext_mvapply,
        "kqltext_show_policy": _q_kqltext_show_policy,
        "pipeline_multiformat_extract": _q_pipeline_multiformat_extract,
        "corpus_autoextract": _q_corpus_autoextract,
        "pipeline_audio_asr": _q_pipeline_audio_asr,
        "subtitles_extract": _q_subtitles_extract,
        "mail_mbox_extract": _q_mail_mbox_extract,
        "epub_text_extract": _q_epub_text_extract,
        "corpus_archive_extract": _q_corpus_archive_extract,
        "pipeline_pdf_route": _q_pipeline_pdf_route,
        "pipeline_pdf_images": _q_pipeline_pdf_images,
        "pipeline_pdf_decrypt": _q_pipeline_pdf_decrypt,
        "pipeline_pdf_ocr": _q_pipeline_pdf_ocr,
        "graph_label_propagation": _q_graph_label_propagation,
        "corpus_pack_boundaries": _q_corpus_pack_boundaries,
        "multimodal_dedup_recall": _q_multimodal_dedup_recall,
        "pipeline_crawl_extract": _q_pipeline_crawl_extract,
        "corpus_url_blocklist": _q_corpus_url_blocklist,
        "corpus_filter_attribution": _q_corpus_filter_attribution,
        "corpus_c4_attribution": _q_corpus_c4_attribution,
        "code_quality": _q_code_quality,
        "code_license_gate": _q_code_license_gate,
        "corpus_robots_gate": _q_corpus_robots_gate,
        "corpus_code_attribution": _q_corpus_code_attribution,
        "text_oov_rate": _q_text_oov_rate,
        "text_char_entropy": _q_text_char_entropy,
        "join_bloom_prefilter": _q_join_bloom_prefilter,
        "corpus_domain_cap": _q_corpus_domain_cap,
        "graph_triangles": _q_graph_triangles,
        "dedup_lsh_recall": _q_dedup_lsh_recall,
        "fixedwidth_roundtrip": _q_fixedwidth_roundtrip,
        "corpus_epoch_upsample": _q_corpus_epoch_upsample,
        "corpus_pack": _q_corpus_pack,
        "corpus_pack_bpe": _q_corpus_pack_bpe,
        "corpus_pack_nosplit": _q_corpus_pack_nosplit,
        "corpus_pack_materialize": _q_corpus_pack_materialize,
        "corpus_version_diff": _q_corpus_version_diff,
        "corpus_datacard": _q_corpus_datacard,
        "corpus_webdataset_roundtrip": _q_corpus_webdataset_roundtrip,
        "layout_compact_roundtrip": _q_layout_compact_roundtrip,
        "corpus_line_dedup": _q_corpus_line_dedup,
        "contamination_check": _q_contamination_check,
        "contamination_bloom": _q_contamination_bloom,
        "events_attribution_join": _q_events_attribution_join,
        "kql_ipv4_suite": _q_kql_ipv4_suite,
        "kql_url_suite": _q_kql_url_suite,
        "kql_series_fill": _q_kql_series_fill,
        "kql_scalar_suite3": _q_kql_scalar_suite3,
        "kql_rank": _q_kql_rank,
        "kql_series_fit": _q_kql_series_fit,
        "kql_series_periods": _q_kql_series_periods,
        "sequence_detect": _q_sequence_detect,
        "kql_autocluster": _q_kql_autocluster,
        "kql_diffpatterns": _q_kql_diffpatterns,
        "kql_percentilesw": _q_kql_percentilesw,
        "kql_scalar_suite4": _q_kql_scalar_suite4,
        "kql_scalar_suite5": _q_kql_scalar_suite5,
        "kql_graph_match": _q_kql_graph_match,
        "graph_pagerank": _q_graph_pagerank,
        "kql_graph_components": _q_kql_graph_components,
        "kql_ipv6_suite": _q_kql_ipv6_suite,
        "kql_geo_suite": _q_kql_geo_suite,
        "kql_xml_suite": _q_kql_xml_suite,
        "kql_rows_near": _q_kql_rows_near,
        "kql_ipv4_suite2": _q_kql_ipv4_suite2,
        "kql_fork": _q_kql_fork,
        "kql_compression_suite": _q_kql_compression_suite,
        "kql_geo_suite2": _q_kql_geo_suite2,
        "kql_join_kinds": _q_kql_join_kinds,
        "kql_scalar_suite7": _q_kql_scalar_suite7,
        "kql_dcount_intersect": _q_kql_dcount_intersect,
        "text_normalize": _q_text_normalize,
        "text_url_normalize": _q_text_url_normalize,
        "skew_salted_agg": _q_skew_salted_agg,
        "kql_graph_var": _q_kql_graph_var,
        "kql_graph_shortest": _q_kql_graph_shortest,
        "kql_datetime_suite2": _q_kql_datetime_suite2,
        "kql_scalar_suite8": _q_kql_scalar_suite8,
        "kql_scalar_suite9": _q_kql_scalar_suite9,
        "kql_welch_test": _q_kql_welch_test,
        "kql_series_fft": _q_kql_series_fft,
        "kql_series_forecast": _q_kql_series_forecast,
        "kql_condagg2": _q_kql_condagg2,
        "kql_string_distance": _q_kql_string_distance,
        "kql_bag_ops2": _q_kql_bag_ops2,
        "kql_math_suite": _q_kql_math_suite,
        "interval_overlap": _q_interval_overlap,
        "dedup_edit_distance": _q_dedup_edit_distance,
        "kql_has_ipv4": _q_kql_has_ipv4,
        "kql_dynamic_suite2": _q_kql_dynamic_suite2,
        "kql_series_cosine": _q_kql_series_cosine,
        "kql_ipv4_lookup": _q_kql_ipv4_lookup,
        "kql_scalar_suite6": _q_kql_scalar_suite6,
        "kql_top_nested_others": _q_kql_top_nested_others,
        "kql_datetime_suite": _q_kql_datetime_suite,
        "kql_binary_agg": _q_kql_binary_agg,
        "kql_series_decompose": _q_kql_series_decompose,
        "activity_retention": _q_activity_retention,
        "activity_engagement": _q_activity_engagement,
        "activity_sliding_counts": _q_activity_sliding_counts,
        "activity_rolling_percentile": _q_activity_rolling_percentile,
        "activity_active_users": _q_activity_active_users,
        "activity_counts_metrics": _q_activity_counts_metrics,
        "activity_new_metrics": _q_activity_new_metrics,
        "activity_session_count": _q_activity_session_count,
        "embedding_quantize": _q_embedding_quantize,
        "text_quality_lr": _q_text_quality_lr,
        "text_quality_lr_train": _q_text_quality_lr_train,
        "pipeline_quality_lr_filter": _q_pipeline_quality_lr_filter,
        "activity_funnel_sequence": _q_activity_funnel_sequence,
        "kql_bag_ops": _q_kql_bag_ops,
        "activity_funnel": _q_activity_funnel,
        "activity_transitions": _q_activity_transitions,
        "kql_basket": _q_kql_basket,
        "kql_bag_unpack": _q_kql_bag_unpack,
        # round-2 KQL surface
        "kql_argmax": _q_kql_argmax,
        "kql_condagg": _q_kql_condagg,
        "kql_scalar_suite2": _q_kql_scalar_suite2,
        "kql_array_suite": _q_kql_array_suite,
        "kql_narrow": _q_kql_narrow,
        "kql_sample": _q_kql_sample,
        "kql_scan": _q_kql_scan,
        "kql_rownumber": _q_kql_rownumber,
        "kql_series_stats": _q_kql_series_stats,
        "kql_series_mavg": _q_kql_series_mavg,
        "kql_series_corr": _q_kql_series_corr,
        "kql_series_fir": _q_kql_series_fir,
        "kql_series_iir": _q_kql_series_iir,
        "kql_series_seasonal": _q_kql_series_seasonal,
        "kql_series_arith": _q_kql_series_arith,
        "kql_series_suite2": _q_kql_series_suite2,
        "kql_pivot": _q_kql_pivot,
        "kql_hll_merge": _q_kql_hll_merge,
        "kql_tdigest": _q_kql_tdigest,
        "kql_parse_kv": _q_kql_parse_kv,
        "kql_punycode": _q_kql_punycode,
        "kql_partition_apply": _q_kql_partition_apply,
        "kql_facet": _q_kql_facet,
        "kql_externaldata": _q_kql_externaldata,
        # round-2 corpus-prep surface
        "text_repetition": _q_text_repetition,
        "text_pii_scrub": _q_text_pii_scrub,
        "doc_chunks": _q_doc_chunks,
        "corpus_ngrams": _q_corpus_ngrams,
        "kql_predicates": _q_kql_predicates,
        "kql_union_withsource": _q_kql_union_withsource,
        "ann_recall": _q_ann_recall,
        "ann_recall_ivf": _q_ann_recall_ivf,
        "ann_recall_pq": _q_ann_recall_pq,
        "kql_project_ops": _q_kql_project_ops,
        "kql_search": _q_kql_search,
        "kql_sample_distinct": _q_kql_sample_distinct,
        "doc_tfidf": _q_doc_tfidf,
        "kql_reduce": _q_kql_reduce,
        "kql_bag_bits": _q_kql_bag_bits,
        "multimodal_decode": _q_multimodal_decode,
        "multimodal_frames": _q_multimodal_frames,
        "multimodal_real_meta": _q_multimodal_real_meta,
        "multimodal_image_dhash": _q_multimodal_image_dhash,
        "multimodal_image_phash": _q_multimodal_image_phash,
        "multimodal_image_dhash_jpeg": _q_multimodal_image_dhash_jpeg,
        "multimodal_image_dhash_tiff": _q_multimodal_image_dhash_tiff,
        "multimodal_image_dhash_gif": _q_multimodal_image_dhash_gif,
        "multimodal_image_dhash_webp": _q_multimodal_image_dhash_webp,
        "multimodal_video_dhash": _q_multimodal_video_dhash,
        "multimodal_gif_dhash": _q_multimodal_gif_dhash,
        "multimodal_webp_dhash": _q_multimodal_webp_dhash,
        "multimodal_dedup_pairs": _q_multimodal_dedup_pairs,
        "multimodal_audio_fp": _q_multimodal_audio_fp,
        "multimodal_audio_g711": _q_multimodal_audio_g711,
        "multimodal_frame_plan": _q_multimodal_frame_plan,
    }


_SHINGLE_SQL = (
    "list_distinct(list_transform("
    "range(1, greatest(length(lower(text)) - 4, 1) + 1), "
    "i -> substr(lower(text), i, 5)))"
)

_TOKENS_SQL = "list_filter(string_split_regex(trim(text), '\\s+'), t -> t != '')"
_LTOKENS_SQL = "list_filter(string_split_regex(trim(lower(text)), '\\s+'), t -> t != '')"

_EN = "['the','and','of','to','in','is','that','it','for','with']"
_DE = "['der','die','das','und','ist','nicht','ein','mit','für','auf']"
_ES = "['el','la','de','que','y','en','un','es','por','con']"
_FR = "['le','la','de','et','un','est','que','pour','dans','avec']"


def _mojibake_oracle_sql() -> str:
    """Replay fixture damage + the fix_mojibake literal-replace chain,
    generated from the SAME pair list the Spark expression compiles from
    (longest-first order preserved by nesting innermost-first)."""
    from kusto_pre_forge_spark.operators.textprep import mojibake_pairs

    def q(s: str) -> str:
        return s.replace("'", "''")

    expr = "text"
    for moji, ch in mojibake_pairs():
        expr = f"replace({expr}, '{q(moji)}', '{q(ch)}')"
    return (
        "WITH dirty AS (SELECT doc_id, CASE WHEN doc_id % 3 = 0 THEN "
        "concat('cafÃ© ', substr(text, 1, 40), ' itâ€™s Ã¼ber') "
        "ELSE substr(text, 1, 40) END AS text FROM documents) "
        f"SELECT doc_id, {expr} AS fixed, "
        f"CAST(length(text) - length({expr}) AS BIGINT) AS chars_removed, "
        f"length(text) != length({expr}) AS changed FROM dirty"
    )


def _warc_oracle_sql() -> str:
    """Roundtrip-losslessness oracle for warc_parse: original columns,
    plus the WARC block length predicted arithmetically from the SAME
    record-forging code (probed once here — head bytes + body-length
    digit count + body bytes), and the fixture constants (status 200,
    the fixed WARC-Date)."""
    import io

    from kusto_pre_forge_spark.sources.warc import (
        iter_warc_records_from,
        warc_record_bytes,
    )

    hdrs, _ = next(iter_warc_records_from(io.BytesIO(warc_record_bytes("x", b""))))
    base0 = int(hdrs["content-length"])  # head with 'Content-Length: 0'
    return (
        "SELECT CAST(doc_id AS BIGINT) AS doc_id, "
        "'https://example.com/doc/' || doc_id AS target_uri, "
        "CAST(200 AS INT) AS http_status, "
        f"CAST({base0 - 1} + length(CAST(strlen(COALESCE(text, '')) "
        "AS VARCHAR)) + strlen(COALESCE(text, '')) AS BIGINT) "
        "AS content_length, "
        "COALESCE(text, '') AS payload_text, "
        "TIMESTAMP '2024-01-01 00:00:00' AS warc_date FROM documents"
    )


def _hamming_recall_oracle_sql() -> str:
    """Full replay of multimodal_dedup_recall: the closed-form fixture
    fingerprints, the all-pairs exact ≤3-Hamming set, and both banding
    candidate predicates, computed entirely in SQL (xor/bit_count/
    shifts are engine-exact integer ops)."""

    def share(chunks: int) -> str:
        bits = 64 // chunks
        mask = (1 << bits) - 1
        return " OR ".join(
            f"((fa >> {i * bits}) & {mask}) = ((fb >> {i * bits}) & {mask})"
            for i in range(chunks)
        )

    def variant(chunks: int, name: str) -> str:
        return (
            f"SELECT '{name}' AS variant, "
            "CAST(count(CASE WHEN dist <= 3 THEN 1 END) AS BIGINT) "
            "AS n_exact, "
            f"CAST(count(CASE WHEN {share(chunks)} THEN 1 END) AS BIGINT) "
            "AS n_candidates, "
            f"CAST(count(CASE WHEN dist <= 3 AND ({share(chunks)}) "
            "THEN 1 END) AS BIGINT) AS n_hits, "
            "CASE WHEN count(CASE WHEN dist <= 3 THEN 1 END) = 0 THEN 1.0 "
            "ELSE round(CAST(count(CASE WHEN dist <= 3 AND "
            f"({share(chunks)}) THEN 1 END) AS DOUBLE) / "
            "count(CASE WHEN dist <= 3 THEN 1 END), 6) END AS recall, "
            f"CASE WHEN count(CASE WHEN {share(chunks)} THEN 1 END) = 0 "
            "THEN 1.0 ELSE round(CAST(count(CASE WHEN dist <= 3 AND "
            f"({share(chunks)}) THEN 1 END) AS DOUBLE) / "
            f"count(CASE WHEN {share(chunks)} THEN 1 END), 6) END "
            "AS candidate_efficiency FROM p"
        )

    return (
        "WITH d AS (SELECT CAST(doc_id AS BIGINT) AS i FROM documents "
        "WHERE doc_id < 120), "
        "f AS MATERIALIZED (SELECT i, xor(CASE WHEN i % 3 = 0 THEN 0 "
        f"WHEN i % 3 = 1 THEN {0x1555555555555555} "
        f"ELSE {0x0F0F0F0F00FF00FF} END::BIGINT, "
        "((1::BIGINT << CAST(i % 5 AS INT)) - 1) << "
        "CAST((i % 13) * 4 AS INT)) AS fp FROM d), "
        "p AS MATERIALIZED (SELECT a.fp AS fa, b.fp AS fb, "
        "bit_count(xor(a.fp, b.fp)) AS dist "
        "FROM f a JOIN f b ON a.i < b.i) "
        + variant(4, "c4")
        + " UNION ALL "
        + variant(2, "c2")
    )


def _html_extract_oracle_sql(tail: str | None = None) -> str:
    """Replay html_extract's full rule chain — chrome-element drops,
    block segmentation, tag strip + entity decode + whitespace collapse,
    word-count / link-density keep rule — generated from the SAME
    module constants the Spark expression compiles from, over the SAME
    fixture page. MATERIALIZED CTEs: the measured-block list is consumed
    three times and DuckDB would otherwise re-inline the whole regex
    chain per consumer. ``tail`` overrides the final SELECT (the CTE
    chain ends in ``hx(doc_id, content, n_blocks, n_kept)``) so
    composition queries reuse the replay."""
    from kusto_pre_forge_spark.operators.textprep import (
        HTML_ANCHOR_RE,
        HTML_COMMENT_RE,
        HTML_DROP_ELEMENTS,
        HTML_ENTITY_PAIRS,
        HTML_TAG_RE,
        HTML_WS_RE,
        html_block_split_re,
        html_drop_element_re,
    )

    def q(s: str) -> str:
        return s.replace("'", "''")

    cl = "html"
    cl = f"regexp_replace({cl}, '(?s){q(HTML_COMMENT_RE)}', ' ', 'g')"
    for tag in HTML_DROP_ELEMENTS:
        cl = (
            f"regexp_replace({cl}, '{q(html_drop_element_re(tag))}', "
            "' ', 'g')"
        )

    def block_text(var: str) -> str:
        t = f"regexp_replace({var}, '{q(HTML_TAG_RE)}', ' ', 'g')"
        for ent, ch in HTML_ENTITY_PAIRS:
            t = f"replace({t}, '{q(ent)}', '{q(ch)}')"
        return f"trim(regexp_replace({t}, '{q(HTML_WS_RE)}', ' ', 'g'))"

    nolink = f"regexp_replace(b, '{q(HTML_ANCHOR_RE)}', ' ', 'g')"
    keep = "s.words >= 5 AND s.ld <= 0.33"
    ctes = (
        "h AS (SELECT doc_id, "
        f"'{q(_HTML_PAGE_PRE)}' || text || '{q(_HTML_PAGE_POST)}' AS html "
        "FROM documents), "
        f"c AS MATERIALIZED (SELECT doc_id, {cl} AS cl FROM h), "
        "b AS (SELECT doc_id, regexp_split_to_array(cl, "
        f"'{q(html_block_split_re())}') AS blocks FROM c), "
        "s AS MATERIALIZED (SELECT doc_id, list_transform(blocks, "
        f"b -> struct_pack(txt := {block_text('b')}, "
        f"nl := {block_text(nolink)})) AS st FROM b), "
        "m AS MATERIALIZED (SELECT doc_id, list_transform(st, "
        "s -> struct_pack(txt := s.txt, "
        "words := len(list_filter(str_split(s.txt, ' '), w -> w != '')), "
        "ld := CASE WHEN length(s.txt) > 0 THEN 1.0 - "
        "CAST(length(s.nl) AS DOUBLE) / CAST(length(s.txt) AS DOUBLE) "
        "ELSE 1.0 END)) AS mt FROM s), "
        "hx AS (SELECT doc_id, array_to_string(list_transform("
        f"list_filter(mt, s -> {keep}), s -> s.txt), chr(10)) AS content, "
        "CAST(len(list_filter(mt, s -> s.words >= 1)) AS BIGINT) "
        "AS n_blocks, "
        f"CAST(len(list_filter(mt, s -> {keep})) AS BIGINT) AS n_kept "
        "FROM m)"
    )
    if tail is None:
        tail = "SELECT doc_id, content, n_blocks, n_kept FROM hx"
    return f"WITH {ctes} {tail}"


def _c4_oracle_sql(extra_cols: str = "") -> str:
    """text_c4's rule replay, with optional carried columns so the
    C4 rule-attribution oracle reuses the identical expressions."""
    extra = "".join(
        ", " + c.strip() for c in extra_cols.split(",") if c.strip()
    )
    return (
        f"WITH t AS (SELECT doc_id{extra}, text, "
            "list_filter(string_split(text, chr(10)), x -> trim(x) != '') AS lines "
            "FROM documents), "
            f"k AS (SELECT doc_id{extra}, text, lines, list_filter(lines, x -> "
            "regexp_matches(trim(x), '[.!?\"]$') "
            "AND len(list_filter(string_split_regex(trim(x), '\\s+'), w -> w != '')) >= 3 "
            "AND NOT contains(lower(trim(x)), 'javascript') "
            "AND NOT contains(trim(x), '{')) AS kept FROM t) "
            f"SELECT doc_id{extra}, CAST(len(lines) AS BIGINT) AS n_lines, "
            "CAST(len(kept) AS BIGINT) AS n_kept_lines, "
            "CAST(len(regexp_extract_all(text, '[.!?]')) AS BIGINT) AS n_sentences, "
            "contains(lower(text), 'lorem ipsum') AS has_lorem, "
            "contains(text, '{') AS has_brace, "
            "(NOT contains(lower(text), 'lorem ipsum') AND NOT contains(text, '{') "
            "AND len(regexp_extract_all(text, '[.!?]')) >= 3 AND len(kept) >= 1) "
            "AS passes_c4, "
            "coalesce(list_aggregate(list_transform(kept, x -> trim(x)), "
            "'string_agg', chr(10)), '') AS cleaned_text "
            "FROM k"
    )


def _gopher_oracle_sql(extra_cols: str = "") -> str:
    """text_gopher's metric replay, with optional carried columns so
    composition oracles (rule attribution) reuse the identical metric
    expressions."""
    extra = "".join(
        ", " + c.strip() for c in extra_cols.split(",") if c.strip()
    )
    return (
        f"WITH t AS (SELECT doc_id{extra}, text, {_TOKENS_SQL} AS toks, "
            "list_filter(string_split(text, chr(10)), x -> trim(x) != '') AS lines "
            "FROM documents) "
            f"SELECT doc_id{extra}, CAST(len(toks) AS BIGINT) AS n_words, "
            "CASE WHEN len(toks) > 0 THEN round(CAST(list_sum(list_transform(toks, "
            "w -> length(w))) AS DOUBLE) / len(toks), 6) END AS mean_word_len, "
            "CASE WHEN len(toks) > 0 THEN round(CAST(len(regexp_extract_all(text, '#')) "
            "+ len(regexp_extract_all(text, '\\.\\.\\.')) AS DOUBLE) / len(toks), 6) END "
            "AS symbol_word_ratio, "
            "CASE WHEN len(lines) > 0 THEN round(CAST(len(list_filter(lines, "
            "x -> regexp_matches(trim(x), '^[-*•]'))) AS DOUBLE) / len(lines), 6) END "
            "AS bullet_line_frac, "
            "CASE WHEN len(lines) > 0 THEN round(CAST(len(list_filter(lines, "
            "x -> regexp_matches(trim(x), '\\.\\.\\.$'))) AS DOUBLE) / len(lines), 6) END "
            "AS ellipsis_line_frac, "
            "CASE WHEN len(toks) > 0 THEN round(CAST(len(list_filter(toks, "
            "w -> regexp_matches(w, '[a-zA-Z]'))) AS DOUBLE) / len(toks), 6) END "
            "AS alpha_word_frac, "
            "CAST(len(list_intersect(list_distinct(list_transform(toks, w -> lower(w))), "
            "['the','be','to','of','and','that','have','with'])) "
            "AS BIGINT) AS stop_word_hits, "
            "coalesce(len(toks) BETWEEN 50 AND 100000 "
            "AND (CASE WHEN len(toks) > 0 THEN round(CAST(list_sum(list_transform(toks, "
            "w -> length(w))) AS DOUBLE) / len(toks), 6) END) BETWEEN 3.0 AND 10.0 "
            "AND (CASE WHEN len(toks) > 0 THEN round(CAST(len(regexp_extract_all(text, '#')) "
            "+ len(regexp_extract_all(text, '\\.\\.\\.')) AS DOUBLE) / len(toks), 6) END) <= 0.1 "
            "AND (CASE WHEN len(lines) > 0 THEN round(CAST(len(list_filter(lines, "
            "x -> regexp_matches(trim(x), '^[-*•]'))) AS DOUBLE) / len(lines), 6) END) <= 0.9 "
            "AND (CASE WHEN len(lines) > 0 THEN round(CAST(len(list_filter(lines, "
            "x -> regexp_matches(trim(x), '\\.\\.\\.$'))) AS DOUBLE) / len(lines), 6) END) <= 0.3 "
            "AND (CASE WHEN len(toks) > 0 THEN round(CAST(len(list_filter(toks, "
            "w -> regexp_matches(w, '[a-zA-Z]'))) AS DOUBLE) / len(toks), 6) END) >= 0.8 "
            "AND len(list_intersect(list_distinct(list_transform(toks, w -> lower(w))), "
            "['the','be','to','of','and','that','have','with'])) >= 2, "
            "false) AS passes_gopher "
            "FROM t"
    )


def _langid_ctes(extra_cols: str = "") -> str:
    """CTE chain replaying the script-gated trigram language ID in
    DuckDB, ending in ``lng(doc_id[, extra_cols], lang_pred)``. Every
    moving part — script codepoint ranges, the 2·x ≥ total majority
    thresholds, gate order, both normalizers, the per-gram rank weights,
    overlapping-occurrence counting (unnest of every trigram position),
    argmax with alphabetical tie-break, the zero-evidence → 'und' rule —
    is generated from the SAME textstats constants the vectorized Spark
    scorer compiles, so the engines cannot drift."""
    from kusto_pre_forge_spark.operators.textstats import (
        CYRILLIC_CHARCLASS,
        CYRILLIC_TRIGRAMS,
        LANG_TRIGRAMS,
        LANGID_CHARCLASS,
        SCRIPT_DIRECT_LANGS,
        SCRIPT_RANGES,
    )

    def q(s: str) -> str:
        return s.replace("'", "''")

    def range_class(fam: str) -> str:
        return "".join(
            f"\\x{{{lo:X}}}-\\x{{{hi:X}}}" for lo, hi in SCRIPT_RANGES[fam]
        )

    counts = ", ".join(
        "length(regexp_replace(lower(text), "
        f"'[^{range_class(fam)}]', '', 'g')) AS n_{fam}"
        for fam in SCRIPT_RANGES
    )
    total = " + ".join(f"n_{fam}" for fam in SCRIPT_RANGES)

    def weight_values(profiles) -> str:
        rows = []
        for lang in sorted(profiles):
            prof = profiles[lang]
            for rank, g in enumerate(prof):
                rows.append(f"('{lang}', '{q(g)}', {len(prof) - rank})")
        return ", ".join(rows)

    def family(tag: str, profiles, charclass: str) -> str:
        # normalize -> unnest every trigram POSITION (overlapping) ->
        # join the generated weight table -> per-doc argmax (score desc,
        # lang asc)
        return (
            f"{tag}norm AS (SELECT doc_id, ' ' || "
            "trim(regexp_replace(lower(text), "
            f"'[^{charclass}]+', ' ', 'g')) || ' ' AS lt FROM lraw), "
            f"{tag}gr AS (SELECT doc_id, unnest(list_transform("
            "range(1, greatest(length(lt) - 2, 0) + 1), "
            f"i -> substr(lt, i, 3))) AS g FROM {tag}norm), "
            f"{tag}w(lang, g, w) AS (SELECT * FROM (VALUES "
            f"{weight_values(profiles)}) t(lang, g, w)), "
            f"{tag}best AS (SELECT doc_id, first(lang ORDER BY score "
            "DESC, lang ASC) AS blang, max(score) AS bscore FROM ("
            f"SELECT doc_id, lang, CAST(sum(w) AS BIGINT) AS score "
            f"FROM {tag}gr JOIN {tag}w USING (g) GROUP BY 1, 2) "
            "GROUP BY doc_id)"
        )

    direct_whens = " ".join(
        f"WHEN 2 * n_{fam} >= ({total}) THEN '{lang}'"
        for fam, lang in SCRIPT_DIRECT_LANGS
    )
    case = (
        f"CASE WHEN ({total}) = 0 THEN 'und' "
        f"WHEN n_hiragana + n_katakana >= 1 AND 2 * (n_hiragana + "
        f"n_katakana + n_han) >= ({total}) THEN 'ja' "
        f"WHEN 2 * n_hangul >= ({total}) THEN 'ko' "
        f"WHEN 2 * n_han >= ({total}) THEN 'zh' "
        f"WHEN 2 * n_cyrillic >= ({total}) THEN CASE WHEN "
        "cb.bscore > 0 THEN cb.blang ELSE 'und' END "
        f"{direct_whens} "
        "ELSE CASE WHEN lb.bscore > 0 THEN lb.blang ELSE 'und' END END"
    )
    extra = "".join(
        ", " + c.strip() for c in extra_cols.split(",") if c.strip()
    )
    return (
        f"lraw AS (SELECT doc_id{extra}, text FROM documents), "
        f"lsco AS MATERIALIZED (SELECT doc_id{extra}, {counts} "
        "FROM lraw), "
        + family("llat", LANG_TRIGRAMS, LANGID_CHARCLASS)
        + ", "
        + family("lcyr", CYRILLIC_TRIGRAMS, CYRILLIC_CHARCLASS)
        + ", "
        f"lng AS MATERIALIZED (SELECT s.doc_id{extra.replace(', ', ', s.')}, "
        f"{case} AS lang_pred FROM lsco s "
        "LEFT JOIN llatbest lb ON s.doc_id = lb.doc_id "
        "LEFT JOIN lcyrbest cb ON s.doc_id = cb.doc_id)"
    )


def _lm_backoff_oracle_sql(alpha: float = 0.4) -> str:
    """Replay of text_lm_backoff: trigram positions unnested per doc,
    count tables as marginal sums over ONE corpus trigram CTE (even
    doc_ids), the Stupid-Backoff tiered CASE, round-6 mean log."""
    tg = (
        "SELECT doc_id, t[i] AS w1, t[i+1] AS w2, t[i+2] AS w3 "
        "FROM toks, unnest(range(1, greatest(len(t) - 2, 0) + 1)) u(i)"
    )
    return (
        f"WITH toks AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, "
        f"{_LTOKENS_SQL} AS t FROM documents), "
        f"dtg AS MATERIALIZED ({tg}), "
        "ctg AS MATERIALIZED (SELECT w1, w2, w3, "
        "CAST(count(*) AS BIGINT) AS c123 FROM dtg "
        "WHERE doc_id % 2 = 0 GROUP BY 1, 2, 3), "
        "ctx12 AS (SELECT w1, w2, sum(c123) AS c12 FROM ctg GROUP BY 1, 2), "
        "bi23 AS (SELECT w2, w3, sum(c123) AS c23 FROM ctg GROUP BY 1, 2), "
        "ctx2 AS (SELECT w2, sum(c123) AS c2 FROM ctg GROUP BY 1), "
        "uni3 AS (SELECT w3, sum(c123) AS c3 FROM ctg GROUP BY 1), "
        "n AS (SELECT sum(c123) AS nn FROM ctg), "
        "scored AS (SELECT d.doc_id, CASE "
        "WHEN ctg.c123 IS NOT NULL THEN CAST(ctg.c123 AS DOUBLE) / ctx12.c12 "
        f"WHEN bi23.c23 IS NOT NULL THEN {alpha} * CAST(bi23.c23 AS DOUBLE) / ctx2.c2 "
        f"WHEN uni3.c3 IS NOT NULL THEN {alpha * alpha} * CAST(uni3.c3 AS DOUBLE) / n.nn "
        f"ELSE {alpha ** 3} / n.nn END AS p "
        "FROM dtg d "
        "LEFT JOIN ctg USING (w1, w2, w3) "
        "LEFT JOIN ctx12 USING (w1, w2) "
        "LEFT JOIN bi23 USING (w2, w3) "
        "LEFT JOIN ctx2 USING (w2) "
        "LEFT JOIN uni3 USING (w3) "
        "CROSS JOIN n) "
        "SELECT doc_id, CAST(count(*) AS BIGINT) AS n_trigrams, "
        "round(avg(ln(p)), 6) AS sb_score FROM scored GROUP BY doc_id"
    )


def _lpa_oracle_sql(n_iter: int = 4) -> str:
    """Replay of graph_label_propagation: the closed-form chain graph,
    then each synchronous round unrolled as CTEs (neighbor-label join →
    (node, label) counts → per-node argmax with min-label ties →
    isolated nodes keep their label)."""
    rounds = []
    for k in range(1, n_iter + 1):
        prev = f"l{k - 1}"
        rounds.append(
            f"m{k} AS (SELECT sym.s AS node, l.label FROM sym "
            f"JOIN {prev} l ON sym.d2 = l.node), "
            f"c{k} AS (SELECT node, label, count(*) AS n FROM m{k} "
            "GROUP BY 1, 2), "
            f"w{k} AS (SELECT node, first(label ORDER BY n DESC, label ASC) "
            f"AS label FROM c{k} GROUP BY node), "
            f"l{k} AS MATERIALIZED (SELECT nd.node, "
            f"coalesce(w.label, nd.node) AS label FROM nodes nd "
            f"LEFT JOIN w{k} w USING (node))"
        )
    return (
        "WITH d AS (SELECT CAST(doc_id AS BIGINT) AS i FROM documents "
        "WHERE doc_id < 200), "
        "e AS (SELECT i AS src, i + 1 AS dst FROM d WHERE i % 10 != 9), "
        "sym AS MATERIALIZED (SELECT src AS s, dst AS d2 FROM e "
        "UNION SELECT dst, src FROM e), "
        "nodes AS MATERIALIZED (SELECT DISTINCT s AS node FROM sym), "
        "l0 AS (SELECT node, node AS label FROM nodes), "
        + ", ".join(rounds)
        + f" SELECT node, label FROM l{n_iter}"
    )


def _wikitext_oracle_sql() -> str:
    """Replay of text_wikitext_extract: the same forge and the same
    WIKITEXT_RULES chain (shared pattern tuples; DuckDB replacement
    syntax and the explicit 'g' flag), template/wikilink counts
    included."""
    from kusto_pre_forge_spark.operators.textprep import (
        _WIKI_LINK_RE,
        _WIKI_TEMPLATE_RE,
        WIKITEXT_RULES,
    )

    nl = "chr(10)"

    def lit(s: str) -> str:
        return "'" + s.replace("'", "''") + "'"

    forge = (
        f"{lit('{{Infobox doc|id={{val|')} || doc_id || "
        f"{lit('}}|name=Forged}}')} || {nl} || "
        f"{lit(chr(39) * 3 + 'Doc ')} || doc_id || "
        f"{lit(chr(39) * 3 + ' is a [[test article|test]] about [[stuff]].')}"
        f" || {lit('<ref name=' + chr(34) + 'r1' + chr(34) + '>cite ')}"
        f" || doc_id || {lit('</ref>')} || {nl} || "
        f"{lit('== History ==')} || {nl} || "
        "substr(coalesce(text, ''), 1, 300) || "
        f"{nl} || {lit('[[Category:Forged]]')} || {nl} || "
        f"{lit('[http://example.com/')} || doc_id || {lit(' link text]')}"
    )
    out = "wiki"
    for pattern, _, duck_repl in WIKITEXT_RULES:
        p = pattern.replace("'", "''")
        r_expr = (
            "chr(10) || chr(10)"
            if duck_repl == "\n\n"
            else "'" + duck_repl.replace("'", "''") + "'"
        )
        out = f"regexp_replace({out}, '{p}', {r_expr}, 'g')"
    return (
        "WITH m AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, "
        f"{forge} AS wiki FROM documents) "
        f"SELECT doc_id, trim({out}) AS content, "
        f"CAST(len(regexp_extract_all(wiki, '{_WIKI_TEMPLATE_RE}')) AS BIGINT) "
        "AS n_templates, "
        f"CAST(len(regexp_extract_all(wiki, '{_WIKI_LINK_RE}')) AS BIGINT) "
        "AS n_wikilinks FROM m"
    )


def _fasttext_oracle_sql() -> str:
    """Replay of text_fasttext_quality: the same forge, tokenizer,
    md5-hashing-trick indices, all _FT_ITERS gradient-descent
    iterations unrolled as (z, r, g, w, b) CTE chains, and the final
    corpus-wide scoring — every probability independently derived."""
    from kusto_pre_forge_spark.operators.textstats import HASHED_LR_TOKEN_RE

    dim, lr = _FT_DIM, _FT_LR
    ctes = [
        "base AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, "
        "lower(substr(coalesce(text, ''), 1, 160) || "
        "CASE WHEN doc_id % 2 = 0 THEN ' goodsignal fine prose' "
        "ELSE ' lowrent spam casino' END) AS t, "
        "CASE WHEN doc_id % 2 = 0 THEN 1.0 ELSE 0.0 END AS y "
        "FROM documents)",
        "tok AS (SELECT doc_id, y, "
        f"regexp_extract_all(t, '{HASHED_LR_TOKEN_RE}') AS l FROM base)",
        "gr AS (SELECT doc_id, y, l || list_transform("
        "generate_series(1, len(l) - 1), i -> l[i] || '_' || l[i+1]) AS g "
        "FROM tok)",
        "feat AS (SELECT doc_id, len(g) AS n, "
        "CAST(concat('0x', substr(md5('ft|' || u.gi), 1, 8)) AS BIGINT) "
        f"% {dim} AS idx FROM gr, UNNEST(g) AS u(gi))",
        "docs AS (SELECT doc_id, y, len(g) AS n FROM gr)",
        "nd AS (SELECT CAST(COUNT(*) AS DOUBLE) AS nd FROM docs)",
        f"w0 AS (SELECT CAST(s.i AS BIGINT) AS idx, 0.0 AS w "
        f"FROM generate_series(0, {dim - 1}) s(i))",
        "b0 AS (SELECT 0.0 AS b)",
    ]
    for k in range(1, _FT_ITERS + 1):
        p = k - 1
        ctes.append(
            f"s{k} AS (SELECT f.doc_id, SUM(w.w) AS sw FROM feat f "
            f"JOIN w{p} w USING (idx) GROUP BY f.doc_id)"
        )
        ctes.append(
            f"z{k} AS (SELECT d.doc_id, d.y, d.n, (SELECT b FROM b{p}) + "
            f"CASE WHEN d.n > 0 THEN COALESCE(s{k}.sw, 0) / d.n "
            f"ELSE 0 END AS z FROM docs d LEFT JOIN s{k} USING (doc_id))"
        )
        ctes.append(
            f"r{k} AS (SELECT doc_id, n, "
            f"1.0 / (1.0 + exp(-z)) - y AS r FROM z{k})"
        )
        ctes.append(
            f"g{k} AS (SELECT f.idx, SUM(r.r / r.n) AS gsum FROM feat f "
            f"JOIN r{k} r USING (doc_id) GROUP BY f.idx)"
        )
        ctes.append(
            f"w{k} AS (SELECT w.idx, w.w - {lr} * COALESCE(g.gsum, 0) / "
            f"(SELECT nd FROM nd) AS w "
            f"FROM w{p} w LEFT JOIN g{k} g USING (idx))"
        )
        ctes.append(
            f"b{k} AS (SELECT (SELECT b FROM b{p}) - {lr} * "
            f"(SELECT AVG(r) FROM r{k}) AS b)"
        )
    K = _FT_ITERS
    return (
        "WITH "
        + ", ".join(ctes)
        + f", sf AS (SELECT f.doc_id, SUM(w.w) AS sw FROM feat f "
        f"JOIN w{K} w USING (idx) GROUP BY f.doc_id) "
        f"SELECT d.doc_id, round(1.0 / (1.0 + exp(-((SELECT b FROM b{K}) + "
        "CASE WHEN d.n > 0 THEN COALESCE(sf.sw, 0) / d.n ELSE 0 END))), 6) "
        "AS p_quality, "
        f"(1.0 / (1.0 + exp(-((SELECT b FROM b{K}) + "
        "CASE WHEN d.n > 0 THEN COALESCE(sf.sw, 0) / d.n ELSE 0 END)))) "
        ">= 0.5 AS pred, "
        "CAST(d.n AS BIGINT) AS n_grams "
        "FROM docs d LEFT JOIN sf USING (doc_id)"
    )


def _latex_oracle_sql() -> str:
    """Replay of text_latex_extract: the same forge and the same
    LATEX_RULES chain (shared pattern tuples; DuckDB replacement syntax
    and the explicit 'g' flag), command/math counts included."""
    from kusto_pre_forge_spark.operators.textprep import (
        _LATEX_CMD_RE,
        _LATEX_MATH_RE,
        LATEX_RULES,
    )

    nl = "chr(10)"

    def lit(s: str) -> str:
        return "'" + s.replace("'", "''") + "'"

    forge = (
        f"{lit(chr(92) + 'documentclass{article}')} || {nl} || "
        f"{lit(chr(92) + 'title{Doc ' + chr(92) + 'textbf{')} || doc_id || "
        f"{lit('}}')} || {nl} || {lit(chr(92) + 'begin{document}')} || {nl} "
        f"|| {lit(chr(92) + 'maketitle')} || {nl} || "
        f"{lit('% comment ')} || doc_id || {nl} || "
        f"{lit(chr(92) + 'section{Intro}')} || {nl} || "
        f"{lit('Math $x_')} || doc_id || "
        f"{lit('$ and 100' + chr(92) + '% cite ' + chr(92) + 'cite{k')} "
        f"|| doc_id || {lit('}.')} || {nl} || "
        f"{lit(chr(92) + 'begin{equation}')} || {nl} || "
        f"{lit('E_')} || doc_id || {nl} || "
        f"{lit(chr(92) + 'end{equation}')} || {nl} || "
        "substr(coalesce(text, ''), 1, 300) || "
        f"{nl} || {lit(chr(92) + 'begin{itemize}')} || {nl} || "
        f"{lit(chr(92) + 'item point~one' + chr(92) + chr(92))} || {nl} || "
        f"{lit(chr(92) + 'end{itemize}')} || {nl} || "
        f"{lit(chr(92) + 'begin{verbatim}')} || {nl} || "
        f"{lit('raw {')} || doc_id || {lit('}')} || {nl} || "
        f"{lit(chr(92) + 'end{verbatim}')} || {nl} || "
        f"{lit(chr(92) + 'end{document}')}"
    )
    out = "tex"
    for pattern, _, duck_repl in LATEX_RULES:
        p = pattern.replace("'", "''")
        r_expr = (
            "chr(10) || chr(10)"
            if duck_repl == "\n\n"
            else "'" + duck_repl.replace("'", "''") + "'"
        )
        out = f"regexp_replace({out}, '{p}', {r_expr}, 'g')"
    return (
        "WITH m AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, "
        f"{forge} AS tex FROM documents) "
        f"SELECT doc_id, trim({out}) AS content, "
        f"CAST(len(regexp_extract_all(tex, '{_LATEX_CMD_RE}')) AS BIGINT) "
        "AS n_commands, "
        f"CAST(len(regexp_extract_all(tex, '{_LATEX_MATH_RE}')) AS BIGINT) "
        "AS n_math_delims FROM m"
    )


def _markdown_oracle_sql() -> str:
    """Replay of text_markdown_extract: the same forge and the same
    MARKDOWN_RULES chain (shared pattern tuples; DuckDB replacement
    syntax and the explicit 'g' flag), counts included."""
    from kusto_pre_forge_spark.operators.textprep import (
        _MD_FENCE_RE,
        _MD_LINK_RE,
        MARKDOWN_RULES,
    )

    nl = "chr(10)"
    forge = (
        f"'# Doc ' || doc_id || {nl} || {nl} || '**Intro** with a ' || "
        f"'[link](https://example.com/' || doc_id || ') and `tick`.' || "
        f"{nl} || {nl} || '```' || {nl} || 'hidden ' || doc_id || {nl} || "
        f"'```' || {nl} || {nl} || substr(coalesce(text, ''), 1, 300)"
    )
    out = "md"
    for pattern, _, duck_repl in MARKDOWN_RULES:
        p = pattern.replace("'", "''")
        # replacements with literal newlines route through chr(10) so no
        # SQL-dialect escape processing is involved on either engine
        r_expr = (
            "chr(10) || chr(10)"
            if duck_repl == "\n\n"
            else "'" + duck_repl.replace("'", "''") + "'"
        )
        out = f"regexp_replace({out}, '{p}', {r_expr}, 'g')"
    return (
        "WITH m AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, "
        f"{forge} AS md FROM documents) "
        f"SELECT doc_id, trim({out}) AS content, "
        f"CAST(len(regexp_extract_all(md, '{_MD_FENCE_RE}')) AS BIGINT) "
        "AS n_code_blocks, "
        f"CAST(len(regexp_extract_all(md, '{_MD_LINK_RE}')) AS BIGINT) "
        "AS n_links FROM m"
    )


def _code_corpus_ctes() -> str:
    """CTE chain replaying _code_corpus_frame + every code_quality
    signal in DuckDB, ending in ``cq(doc_id, language, n_lines,
    max_line_len, mean_line_len, alnum_frac, is_autogenerated,
    spdx_license_id, ok_* rule flags)``. The language CASE and the rule
    conditions are the SAME generated SQL strings the Spark operator
    evaluates (codestats.code_lang_case_sql / CODE_RULE_SQL)."""
    from kusto_pre_forge_spark.operators.codestats import (
        AUTOGEN_MARKERS,
        CODE_RULE_DEFAULTS,
        CODE_RULE_SQL,
        code_lang_case_sql,
    )

    nl = "chr(10)"
    content = (
        f"CASE WHEN doc_id % 9 = 7 THEN '#!/usr/bin/env bash' || {nl} "
        "ELSE '' END || "
        "CASE WHEN doc_id % 5 = 0 THEN "
        f"'// Auto-Generated by kpf-codegen. DO NOT EDIT.' || {nl} "
        "ELSE '' END || "
        "CASE WHEN doc_id % 3 = 0 THEN "
        f"'// SPDX-License-Identifier: Apache-2.0' || {nl} ELSE '' END || "
        f"'def f_' || doc_id || '():' || {nl} || '    return ' || doc_id "
        f"|| {nl} || substr(coalesce(text, ''), 1, 240) || "
        f"CASE WHEN doc_id % 11 = 0 THEN {nl} || repeat('=', 1200) "
        "ELSE '' END"
    )
    suffix = (
        "CASE doc_id % 9 WHEN 0 THEN '.py' WHEN 1 THEN '.js' "
        "WHEN 2 THEN '.go' WHEN 3 THEN '.java' WHEN 4 THEN '.rs' "
        "WHEN 5 THEN '.rb' WHEN 6 THEN '.c' WHEN 7 THEN '' "
        "ELSE '.xyz' END"
    )
    autogen = " OR ".join(
        f"position('{m}' IN lower(substr(content, 1, 500))) > 0"
        for m in AUTOGEN_MARKERS
    )
    flags = ", ".join(
        f"coalesce({cond.format(**CODE_RULE_DEFAULTS)}, false) AS ok_{name}"
        for name, cond in CODE_RULE_SQL.items()
    )
    return (
        "cf AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, "
        f"'repo/src/file_' || doc_id || ({suffix}) AS path, "
        f"{content} AS content FROM documents), "
        "cs AS MATERIALIZED (SELECT doc_id, content, "
        "lower(regexp_extract(path, '\\.([A-Za-z0-9_]+)$', 1)) AS ext, "
        "string_split(content, chr(10)) AS lines FROM cf), "
        "ct AS (SELECT doc_id, ext, coalesce(lines[1], '') AS first_line, "
        "CAST(len(lines) AS BIGINT) AS n_lines, "
        "CAST(coalesce(list_max(list_transform(lines, x -> length(x))), 0) "
        "AS BIGINT) AS max_line_len, "
        "round(CAST(coalesce(list_sum(list_transform(lines, "
        "x -> length(x))), 0) AS DOUBLE) / greatest(len(lines), 1), 6) "
        "AS mean_line_len, "
        "round(CAST(length(regexp_replace(content, '[^A-Za-z0-9]', '', "
        "'g')) AS DOUBLE) / greatest(length(content), 1), 6) "
        "AS alnum_frac, "
        f"({autogen}) AS is_autogenerated, "
        "nullif(regexp_extract(content, "
        "'SPDX-License-Identifier:[ \\t]*([0-9A-Za-z.+-]+)', 1), '') "
        "AS spdx_license_id FROM cs), "
        "cq AS MATERIALIZED (SELECT *, "
        f"{code_lang_case_sql('ext', 'first_line')} AS language, "
        f"{flags} FROM ct)"
    )


def _code_quality_oracle_sql() -> str:
    from kusto_pre_forge_spark.operators.codestats import CODE_RULE_SQL

    all_ok = " AND ".join(f"ok_{n}" for n in CODE_RULE_SQL)
    return (
        f"WITH {_code_corpus_ctes()} "
        "SELECT doc_id, language, n_lines, max_line_len, mean_line_len, "
        "alnum_frac, is_autogenerated, spdx_license_id, "
        f"({all_ok}) AS passes_code_quality FROM cq"
    )


def _code_attribution_oracle_sql() -> str:
    from kusto_pre_forge_spark.operators.codestats import CODE_RULE_SQL

    def rule_select(name: str) -> str:
        others = " AND ".join(f"ok_{o}" for o in CODE_RULE_SQL if o != name)
        return (
            f"SELECT coalesce(language, 'unknown') AS language, "
            f"'{name}' AS rule, CAST(count(*) AS BIGINT) AS n_docs, "
            f"CAST(sum(CASE WHEN NOT ok_{name} THEN 1 ELSE 0 END) "
            "AS BIGINT) AS n_fail, "
            f"CAST(sum(CASE WHEN NOT ok_{name} AND {others} THEN 1 "
            "ELSE 0 END) AS BIGINT) AS n_fail_only FROM cq GROUP BY 1"
        )

    return (
        f"WITH {_code_corpus_ctes()} "
        + " UNION ALL ".join(rule_select(n) for n in CODE_RULE_SQL)
    )


def _langid_eval_oracle_sql() -> str:
    """Full replay of text_langid_eval: the labeled fixture as a VALUES
    CTE that SHADOWS the documents view (DuckDB resolves CTE names
    before base tables), the complete langid chain (_langid_ctes — same
    constants as the Spark scorer), then the same per-language
    precision/recall aggregation."""
    from kusto_pre_forge_spark.operators.textstats import LANGID_EVAL_FIXTURE

    def lit(t: str | None) -> str:
        if t is None:
            return "CAST(NULL AS VARCHAR)"
        return "'" + t.replace("'", "''") + "'"

    values = ", ".join(
        f"({i}, '{lang}', {lit(text)})"
        for i, (lang, _tier, text) in enumerate(LANGID_EVAL_FIXTURE)
    )
    return (
        f"WITH documents(doc_id, true_lang, text) AS "
        f"(SELECT * FROM (VALUES {values})), "
        f"{_langid_ctes('true_lang')}, "
        "t AS (SELECT true_lang AS lang, CAST(count(*) AS BIGINT) AS n_true, "
        "CAST(count(CASE WHEN lang_pred = true_lang THEN 1 END) AS BIGINT) "
        "AS n_correct FROM lng GROUP BY 1), "
        "p AS (SELECT lang_pred AS lang, CAST(count(*) AS BIGINT) AS n_pred "
        "FROM lng GROUP BY 1) "
        "SELECT COALESCE(t.lang, p.lang) AS lang, "
        "COALESCE(n_true, 0) AS n_true, COALESCE(n_pred, 0) AS n_pred, "
        "COALESCE(n_correct, 0) AS n_correct, "
        "CASE WHEN COALESCE(n_pred, 0) > 0 THEN "
        "round(CAST(COALESCE(n_correct, 0) AS DOUBLE) / n_pred, 6) END "
        "AS prec, "
        "CASE WHEN COALESCE(n_true, 0) > 0 THEN "
        "round(CAST(COALESCE(n_correct, 0) AS DOUBLE) / n_true, 6) END "
        "AS recall "
        "FROM t FULL OUTER JOIN p ON t.lang = p.lang"
    )


def _bpe_rewrite_case(i: int, min_pair: int) -> str:
    """The shared DuckDB replay of one greedy left-to-right BPE merge
    over a space-joined symbol string ``s`` — the DOUBLE-SPACE trick
    (see _bpe_oracle_sql) — guarded by the early-stop CASE."""
    return (
        "CASE WHEN (SELECT coalesce(max(n),0) FROM b{i}) >= {mp} THEN "
        "replace(trim(replace(' ' || replace(s, ' ', '  ') || ' ', "
        "' ' || (SELECT a FROM b{i}) || '  ' || (SELECT b FROM b{i}) || ' ', "
        "' ' || (SELECT a FROM b{i}) || (SELECT b FROM b{i}) || ' ')), '  ', ' ') "
        "ELSE s END"
    ).format(i=i, mp=min_pair)


def _bpe_byte_ctes(n_merges: int = 6, min_pair: int = 2) -> str:
    """Full replay of byte-level train_bpe + apply in DuckDB, as a
    CTE chain ending at ``ds{n_merges}`` = (doc_id, space-joined final
    symbol string) per document pre-token — callers append their own
    final SELECT (token stats for text_bpe_byte, per-doc counts +
    prefix sum for corpus_pack_bpe).

    Three pieces beyond _bpe_oracle_sql's merge chain (which is reused
    verbatim — same argmax, same tie-break, same double-space apply):

    - GPT-2 pre-tokenization WITHOUT lookahead support: RE2 can't run
      ``\\s+(?!\\S)``, so the oracle first inserts a \\x01 sentinel
      between every whitespace char and a following non-whitespace
      (``regexp_replace(.., '(\\s)(\\S)', chr(1)||'\\1\\2', 'g')``),
      splits on the sentinel, and extracts with the lookahead-free
      pattern per piece. Case analysis: a run of n whitespace chars
      before a non-ws char becomes (n-1 chars)+SEP+(1 char + token),
      which is exactly what the lookahead's backtracking yields; runs
      at end-of-text/piece fall to the plain ``\\s+`` branch in both
      engines. (Assumes documents carry no literal \\x01 — the same
      sniff-cleanliness assumption corpus_autoextract pins per SF.)
    - bytes_to_unicode: hex(encode(w)) pairs → byte value → the GPT-2
      piecewise map (printables identity; b<=32 → 256+b; 127..160 →
      b+162; 173 → 323), proven bijective in unit tests.
    - no ``</w>`` marker anywhere.
    """
    pat = (
        "''s|''t|''re|''ve|''m|''ll|''d"
        r"| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+"
    )
    toks = (
        "flatten(list_transform(string_split(regexp_replace("
        r"COALESCE(text, ''), '(\s)(\S)', chr(1) || '\1\2', 'g'), chr(1)), "
        f"p -> regexp_extract_all(p, '{pat}')))"
    )
    v = (
        "CAST((strpos('0123456789ABCDEF', hx[2*i-1])-1)*16 + "
        "strpos('0123456789ABCDEF', hx[2*i])-1 AS INT)"
    )
    remap = (
        f"CASE WHEN ({v} BETWEEN 33 AND 126) OR ({v} BETWEEN 161 AND 172) "
        f"OR ({v} BETWEEN 174 AND 255) THEN chr({v}) "
        f"WHEN {v} <= 32 THEN chr(256+{v}) "
        f"WHEN {v} BETWEEN 127 AND 160 THEN chr({v}+162) "
        "ELSE chr(323) END"
    )
    syms = (
        "array_to_string(list_transform(range(1, length(hx)//2 + 1), "
        f"i -> {remap}), ' ')"
    )
    parts = [
        # parallel unnests of equal length ZIP in DuckDB — pos rides
        # along for order-sensitive tails (text_bpe_encode)
        "WITH docw AS MATERIALIZED (SELECT CAST(doc_id AS BIGINT) AS doc_id, "
        f"unnest({toks}) AS w, "
        f"unnest(range(1, len({toks}) + 1)) AS pos FROM documents), "
        "words AS MATERIALIZED (SELECT w, count(*) AS cnt FROM docw "
        "GROUP BY w), "
        f"v0 AS MATERIALIZED (SELECT {syms} AS s, cnt FROM "
        "(SELECT hex(encode(w)) AS hx, cnt FROM words))"
    ]
    for i in range(n_merges):
        parts.append(
            f", p{i} AS MATERIALIZED (SELECT z.p[1] AS a, z.p[2] AS b, "
            f"sum(z.cnt) AS n FROM ("
            f"SELECT unnest(list_zip(string_split(s, ' '), "
            f"string_split(s, ' ')[2:])) AS p, cnt "
            f"FROM v{i}) z WHERE z.p[2] IS NOT NULL GROUP BY 1, 2)"
            f", b{i} AS MATERIALIZED (SELECT a, b, n FROM p{i} "
            f"ORDER BY n DESC, a ASC, b ASC LIMIT 1)"
            f", v{i + 1} AS MATERIALIZED "
            f"(SELECT {_bpe_rewrite_case(i, min_pair)} AS s, cnt FROM v{i})"
        )
    parts.append(
        f", ds0 AS MATERIALIZED (SELECT doc_id, pos, {syms} AS s FROM "
        "(SELECT doc_id, pos, hex(encode(w)) AS hx FROM docw))"
    )
    for i in range(n_merges):
        parts.append(
            f", ds{i + 1} AS MATERIALIZED "
            f"(SELECT doc_id, pos, {_bpe_rewrite_case(i, min_pair)} AS s "
            f"FROM ds{i})"
        )
    return "".join(parts)


def _bpe_encode_oracle_sql(
    n_merges: int = 6, min_pair: int = 2, head: int = 16
) -> str:
    """text_bpe_encode's oracle: the shared replay chain → symbol→id
    mapping (ids 0..255 via the INVERSE bytes_to_unicode piecewise map
    on single-char symbols; 256+rank for merge concatenations, ordered
    CASE = first-rank-wins on string collisions; early-stopped merges
    NULL out and never match) → per-doc order-preserving flatten."""
    n = n_merges
    ms = ", ".join(
        f"CASE WHEN (SELECT coalesce(max(n), 0) FROM b{i}) >= {min_pair} "
        f"THEN (SELECT a FROM b{i}) || (SELECT b FROM b{i}) END AS m{i}"
        for i in range(n_merges)
    )
    merge_cases = " ".join(
        f"WHEN t = m{i} THEN {256 + i}" for i in range(n_merges)
    )
    inv = (
        "CASE WHEN unicode(t) < 256 THEN unicode(t) "
        "WHEN unicode(t) <= 288 THEN unicode(t) - 256 "
        "WHEN unicode(t) <= 322 THEN unicode(t) - 162 "
        "ELSE 173 END"
    )
    return _bpe_byte_ctes(n_merges, min_pair) + (
        f", mm AS MATERIALIZED (SELECT {ms})"
        ", wid AS MATERIALIZED (SELECT doc_id, pos, "
        "list_transform(string_split(s, ' '), t -> "
        f"CASE {merge_cases} ELSE {inv} END) AS ids FROM ds{n}, mm)"
        ", ag AS (SELECT doc_id, flatten(list(ids ORDER BY pos)) AS al "
        "FROM wid GROUP BY doc_id) "
        "SELECT doc_id, CAST(len(al) AS BIGINT) AS n_tokens, "
        f"array_to_string(list_transform(al[1:{head}], "
        "x -> CAST(x AS VARCHAR)), ',') AS ids_head FROM ag"
    )


def _sft_conversation_oracle_sql() -> str:
    """corpus_sft_conversation's oracle: the byte-BPE replay chain over
    a documents view SHADOWED by the 9-row-per-doc turn-segment table
    (keys doc_id*16+seg, the _sft_tokenize_oracle_sql convention), then
    per-doc totals (sum over present segments — empty segments produce
    no pre-tokens and so no enc row), assistant-content (seg 7) and
    user-content (seg 4) id heads."""
    t = "COALESCE(text, '')"
    segs = [
        "'<|system|>\n'", f"substr({t}, 1, 30)", "'<|end|>\n'",
        "'<|user|>\n'", f"substr({t}, 31, 60)", "'<|end|>\n'",
        "'<|assistant|>\n'",
        f"CASE WHEN length({t}) > 90 THEN substr({t}, 91) ELSE '' END",
        "'<|end|>\n'",
    ]
    shadow = (
        "documents AS ("
        + " UNION ALL ".join(
            f"SELECT doc_id * 16 + {i} AS doc_id, {s} AS text "
            "FROM main.documents"
            for i, s in enumerate(segs)
        )
        + "), "
    )
    enc = "WITH " + shadow + _bpe_encode_oracle_sql()[len("WITH "):]
    return (
        "WITH enc AS (" + enc + ") "
        "SELECT CAST(b.doc_id AS BIGINT) AS doc_id, "
        "COALESCE(tot.n, 0) AS n_tokens, "
        "COALESCE(a7.n_tokens, 0) AS n_loss_tokens, "
        "COALESCE(a7.ids_head, '') AS loss_ids_head, "
        "COALESCE(a4.ids_head, '') AS user_ids_head "
        "FROM main.documents b "
        "LEFT JOIN (SELECT CAST(floor(doc_id / 16) AS BIGINT) AS d, "
        "CAST(SUM(n_tokens) AS BIGINT) AS n FROM enc GROUP BY 1) tot "
        "ON tot.d = CAST(b.doc_id AS BIGINT) "
        "LEFT JOIN enc a7 ON a7.doc_id = CAST(b.doc_id AS BIGINT) * 16 + 7 "
        "LEFT JOIN enc a4 ON a4.doc_id = CAST(b.doc_id AS BIGINT) * 16 + 4"
    )


def _sft_tokenize_oracle_sql() -> str:
    """corpus_sft_tokenize's oracle: the byte-BPE replay chain reused
    VERBATIM, run over a CTE that SHADOWS the documents view with the
    doubled segment table (prompt rows keyed doc_id*2, response rows
    doc_id*2+1; ``main.documents`` reaches the real view underneath —
    DuckDB's schema-qualified escape from CTE shadowing), then a
    per-doc rejoin of the two segment encodings with 0/'' fills for
    segments that produced no pre-tokens."""
    shadow = (
        "documents AS ("
        "SELECT doc_id * 2 AS doc_id, "
        "substr(COALESCE(text, ''), 1, 60) AS text FROM main.documents "
        "UNION ALL "
        "SELECT doc_id * 2 + 1, CASE WHEN length(COALESCE(text, '')) > 60 "
        "THEN substr(COALESCE(text, ''), 61) ELSE '' END "
        "FROM main.documents), "
    )
    enc = "WITH " + shadow + _bpe_encode_oracle_sql()[len("WITH "):]
    return (
        "WITH enc AS (" + enc + ") "
        "SELECT CAST(b.doc_id AS BIGINT) AS doc_id, "
        "COALESCE(p.n_tokens, 0) AS n_prompt_tokens, "
        "COALESCE(r.n_tokens, 0) AS n_response_tokens, "
        "COALESCE(p.ids_head, '') AS prompt_ids_head, "
        "COALESCE(r.ids_head, '') AS response_ids_head "
        "FROM main.documents b "
        "LEFT JOIN enc p ON p.doc_id = CAST(b.doc_id AS BIGINT) * 2 "
        "LEFT JOIN enc r ON r.doc_id = CAST(b.doc_id AS BIGINT) * 2 + 1"
    )


def _bpe_byte_oracle_sql(n_merges: int = 6, min_pair: int = 2) -> str:
    """text_bpe_byte's oracle: the shared replay chain + per-doc token
    stats (column names matching apply_bpe's output)."""
    return _bpe_byte_ctes(n_merges, min_pair) + (
        " SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words, "
        "CAST(sum(len(string_split(s, ' '))) AS BIGINT) AS n_bpe_tokens, "
        "min(replace(s, ' ', '|')) AS sample_tokens "
        f"FROM ds{n_merges} GROUP BY doc_id"
    )


def _pack_bpe_oracle_sql(n_merges: int = 6, seq_len: int = 512) -> str:
    """corpus_pack_bpe's oracle: the shared byte-BPE replay chain →
    per-doc token counts (0 for empty/whitespace-only docs via the LEFT
    JOIN — documents with no pre-tokens still pack) → the same
    (hash, doc_id)-ordered window cumsum the whitespace pack oracle
    uses. The Spark side's distributed prefix sum over
    ``bpe_token_count`` offsets must equal this exactly."""
    return _bpe_byte_ctes(n_merges) + (
        ", bpecnt AS MATERIALIZED (SELECT doc_id, "
        "CAST(sum(len(string_split(s, ' '))) AS BIGINT) AS n_tokens "
        f"FROM ds{n_merges} GROUP BY doc_id), "
        "t AS (SELECT CAST(d.doc_id AS BIGINT) AS doc_id, "
        "COALESCE(b.n_tokens, 0) AS n_tokens, "
        "CAST(concat('0x', substr(md5(concat('kpf', '|', "
        "CAST(d.doc_id AS VARCHAR))), 1, 8)) AS BIGINT) / 4294967296.0 "
        "AS h FROM documents d LEFT JOIN bpecnt b "
        "ON CAST(d.doc_id AS BIGINT) = b.doc_id) "
        "SELECT doc_id, n_tokens, "
        "CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY h, doc_id "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) "
        "AS token_start, "
        "CAST(FLOOR(COALESCE(SUM(n_tokens) OVER (ORDER BY h, doc_id "
        f"ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / {seq_len}) "
        "AS INT) AS seq_id FROM t"
    )


def _lr_train_oracle_sql(
    n_iters: int = 8, lr: float = 0.2, final_select: str | None = None
) -> str:
    """Full replay of train_quality_lr in DuckDB: the quality-feature
    chain (shared shape with text_quality_lr's oracle), the rule label
    y = quality_score >= 0.5 (pure IEEE +,*,/ comparisons — identical
    in both engines), then ``n_iters`` gradient-descent iterations
    UNROLLED as (gradient-aggregate, weight-update) CTE pairs — the
    graph_pagerank pattern. Feature/sum order matches the Spark side
    exactly (sorted feature names); round(…, 6) on the outputs absorbs
    cross-engine sum-order and exp ulp differences."""
    feats = (
        "f AS MATERIALIZED (SELECT CAST(doc_id AS BIGINT) AS doc_id, "
        "length(text) AS n_chars, "
        "len(list_filter(regexp_split_to_array(trim(text), '\\s+'), "
        "x -> x != '')) AS n_tokens, "
        "length(regexp_replace(text, '[^!-/:-@\\[-`{-~]', '', 'g')) AS punct, "
        "length(regexp_replace(text, '[^0-9]', '', 'g')) AS digits, "
        "len(list_filter(list_transform(list_filter("
        "regexp_split_to_array(trim(text), '\\s+'), x -> x != ''), "
        "t -> lower(t)), "
        "t -> t IN ('the','and','of','to','in','is','that','it','for','with')"
        ")) AS stop_hits FROM documents), "
        "r AS MATERIALIZED (SELECT doc_id, "
        "digits / CAST(greatest(n_chars, 1) AS DOUBLE) AS f1, "  # digit_ratio
        "ln(1.0 + n_tokens) AS f2, "  # log_tokens
        "punct / CAST(greatest(n_chars, 1) AS DOUBLE) AS f3, "  # punct_ratio
        "stop_hits / CAST(greatest(n_tokens, 1) AS DOUBLE) AS f4, "
        "CAST(least(n_tokens / 20.0, 1.0) * 0.4 "
        "+ (1 - least(punct / CAST(greatest(n_chars, 1) AS DOUBLE) * 4, 1.0)) * 0.2 "
        "+ (1 - least(digits / CAST(greatest(n_chars, 1) AS DOUBLE) * 4, 1.0)) * 0.2 "
        "+ least(stop_hits / CAST(greatest(n_tokens, 1) AS DOUBLE) * 5, 1.0) * 0.2 "
        ">= 0.5 AS DOUBLE) AS y FROM f)"
    )
    parts = [
        "WITH " + feats,
        ", w0 AS (SELECT 0.0 AS w1, 0.0 AS w2, 0.0 AS w3, 0.0 AS w4, "
        "0.0 AS bb)",
    ]
    for i in range(1, n_iters + 1):
        parts.append(
            f", g{i} AS MATERIALIZED (SELECT "
            "avg((p - y) * f1) AS g1, avg((p - y) * f2) AS g2, "
            "avg((p - y) * f3) AS g3, avg((p - y) * f4) AS g4, "
            "avg(p - y) AS gb, "
            "avg(ln(1.0 + exp(-z)) + (1.0 - y) * z) AS L FROM ("
            "SELECT y, f1, f2, f3, f4, z, 1.0 / (1.0 + exp(-z)) AS p "
            "FROM (SELECT y, f1, f2, f3, f4, "
            "bb + w1 * f1 + w2 * f2 + w3 * f3 + w4 * f4 AS z "
            f"FROM r, w{i - 1}) zz) pp)"
            f", w{i} AS (SELECT w1 - {lr} * g1 AS w1, "
            f"w2 - {lr} * g2 AS w2, w3 - {lr} * g3 AS w3, "
            f"w4 - {lr} * g4 AS w4, bb - {lr} * gb AS bb "
            f"FROM w{i - 1}, g{i})"
        )
    n = n_iters
    if final_select is None:
        final_select = (
            f" SELECT 'digit_ratio' AS name, round(w1, 6) AS value FROM w{n} "
            f"UNION ALL SELECT 'log_tokens', round(w2, 6) FROM w{n} "
            f"UNION ALL SELECT 'punct_ratio', round(w3, 6) FROM w{n} "
            f"UNION ALL SELECT 'stopword_ratio', round(w4, 6) FROM w{n} "
            f"UNION ALL SELECT '__bias__', round(bb, 6) FROM w{n} "
            f"UNION ALL SELECT '__loss__', round(L, 6) FROM g{n}"
        )
    parts.append(final_select)
    return "".join(parts)


def _lr_filter_oracle_sql(n_iters: int = 8, lr: float = 0.2) -> str:
    """pipeline_quality_lr_filter's oracle: the same unrolled training
    chain, then every document scored with the LEARNED weights (the
    untrained features enter Spark's sum as exact +0.0 terms, so the
    non-zero addition sequence matches this z exactly)."""
    n = n_iters
    return _lr_train_oracle_sql(
        n_iters,
        lr,
        final_select=(
            " SELECT doc_id, round(1.0 / (1.0 + exp(-z)), 6) AS lr_score, "
            "1.0 / (1.0 + exp(-z)) >= 0.5 AS keep FROM ("
            "SELECT doc_id, bb + w1 * f1 + w2 * f2 + w3 * f3 + w4 * f4 "
            f"AS z FROM r, w{n}) zz"
        ),
    )


def _pack_materialize_oracle_sql(
    n_merges: int = 6, min_pair: int = 2, seq_len: int = 512
) -> str:
    """corpus_pack_materialize's oracle: the shared byte-BPE replay →
    per-doc id arrays (the text_bpe_encode tail) → pack cumsum in
    (hash, doc_id) order → per-sequence fragment slices (DuckDB
    1-based INCLUSIVE list slicing) reassembled in offset order."""
    n = n_merges
    L = seq_len
    ms = ", ".join(
        f"CASE WHEN (SELECT coalesce(max(n), 0) FROM b{i}) >= {min_pair} "
        f"THEN (SELECT a FROM b{i}) || (SELECT b FROM b{i}) END AS m{i}"
        for i in range(n_merges)
    )
    merge_cases = " ".join(
        f"WHEN t = m{i} THEN {256 + i}" for i in range(n_merges)
    )
    inv = (
        "CASE WHEN unicode(t) < 256 THEN unicode(t) "
        "WHEN unicode(t) <= 288 THEN unicode(t) - 256 "
        "WHEN unicode(t) <= 322 THEN unicode(t) - 162 "
        "ELSE 173 END"
    )
    return _bpe_byte_ctes(n_merges, min_pair) + (
        f", mm AS MATERIALIZED (SELECT {ms})"
        ", wid AS MATERIALIZED (SELECT doc_id, pos, "
        "list_transform(string_split(s, ' '), t -> "
        f"CASE {merge_cases} ELSE {inv} END) AS ids FROM ds{n}, mm)"
        ", ag AS MATERIALIZED (SELECT doc_id, "
        "flatten(list(ids ORDER BY pos)) AS al FROM wid GROUP BY doc_id)"
        ", packt AS MATERIALIZED (SELECT doc_id, al, "
        "CAST(len(al) AS BIGINT) AS nn, "
        "CAST(COALESCE(SUM(len(al)) OVER (ORDER BY "
        "CAST(concat('0x', substr(md5(concat('kpf', '|', "
        "CAST(doc_id AS VARCHAR))), 1, 8)) AS BIGINT) / 4294967296.0, "
        "doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) "
        "AS BIGINT) AS st FROM ag WHERE len(al) > 0)"
        ", fr AS MATERIALIZED (SELECT CAST(u.s AS BIGINT) AS seq_id, "
        f"greatest(st, u.s * {L}) - u.s * {L} AS off, "
        f"al[(greatest(u.s * {L} - st, 0) + 1):"
        f"(least(st + nn, (u.s + 1) * {L}) - st)] AS frag "
        f"FROM packt, unnest(range(CAST(FLOOR(st / {L}) AS BIGINT), "
        f"CAST(FLOOR((st + nn - 1) / {L}) AS BIGINT) + 1)) u(s)) "
        "SELECT seq_id, CAST(len(flatten(list(frag ORDER BY off))) "
        "AS BIGINT) AS n_ids, "
        "array_to_string(list_transform("
        "flatten(list(frag ORDER BY off))[1:8], "
        "x -> CAST(x AS VARCHAR)), ',') AS ids_head, "
        "CAST(count(*) AS BIGINT) AS n_docs, "
        "array_to_string(list_transform(list_sort(list(off)), "
        "x -> CAST(x AS VARCHAR)), ',') AS boundaries "
        "FROM fr GROUP BY seq_id"
    )


def _bpe_oracle_sql(n_merges: int = 6, min_pair: int = 2) -> str:
    """Full replay of train_bpe + apply_bpe in DuckDB — the 6 training
    iterations UNROLLED as chained CTEs (word-type table → adjacent-pair
    argmax with (n DESC, a, b) tie-break → vocab rewrite), then the same
    merges applied per document word.

    The greedy left-to-right non-overlapping regexp merge is replayed
    with the DOUBLE-SPACE trick: with two spaces between symbols and one
    at each end, every occurrence of ``' a  b '`` owns its boundary
    spaces, so one plain ``replace()`` pass merges back-to-back pairs
    exactly like Spark's lookaround pattern (``_merge_pattern``), and the
    replacement ``' ab '`` restores the invariant. ``MATERIALIZED`` CTEs
    stop DuckDB from inlining the chain exponentially. Early training
    stop (best pair count < min_pair) is replayed by the CASE no-op: the
    vocab stays fixed, so every later iteration re-finds the same sub-
    threshold pair and also no-ops.
    """
    ws = r"\s+"
    words = (
        "unnest(list_filter(regexp_split_to_array(lower(text), '"
        + ws
        + "'), x -> x != '')) AS w"
    )
    charsplit = (
        "array_to_string(list_transform(range(1, length(w)+1), i -> w[i]), ' ')"
        " || ' </w>'"
    )

    def rewrite(i: int) -> str:
        return (
            "CASE WHEN (SELECT coalesce(max(n),0) FROM b{i}) >= {mp} THEN "
            "replace(trim(replace(' ' || replace(s, ' ', '  ') || ' ', "
            "' ' || (SELECT a FROM b{i}) || '  ' || (SELECT b FROM b{i}) || ' ', "
            "' ' || (SELECT a FROM b{i}) || (SELECT b FROM b{i}) || ' ')), '  ', ' ') "
            "ELSE s END"
        ).format(i=i, mp=min_pair)

    parts = [
        "WITH words AS MATERIALIZED (SELECT w, count(*) AS cnt FROM ("
        f"SELECT {words} FROM documents) GROUP BY w), "
        f"v0 AS MATERIALIZED (SELECT {charsplit} AS s, cnt FROM words)"
    ]
    for i in range(n_merges):
        parts.append(
            f", p{i} AS MATERIALIZED (SELECT z.p[1] AS a, z.p[2] AS b, "
            f"sum(z.cnt) AS n FROM ("
            f"SELECT unnest(list_zip(string_split(s, ' '), string_split(s, ' ')[2:])) AS p, cnt "
            f"FROM v{i}) z WHERE z.p[2] IS NOT NULL GROUP BY 1, 2)"
            f", b{i} AS MATERIALIZED (SELECT a, b, n FROM p{i} "
            f"ORDER BY n DESC, a ASC, b ASC LIMIT 1)"
            f", v{i + 1} AS MATERIALIZED (SELECT {rewrite(i)} AS s, cnt FROM v{i})"
        )
    parts.append(
        f", docw AS MATERIALIZED (SELECT doc_id, {words} FROM documents)"
        f", ds0 AS MATERIALIZED (SELECT doc_id, {charsplit} AS s FROM docw)"
    )
    for i in range(n_merges):
        parts.append(
            f", ds{i + 1} AS MATERIALIZED "
            f"(SELECT doc_id, {rewrite(i)} AS s FROM ds{i})"
        )
    parts.append(
        " SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words, "
        "CAST(sum(len(string_split(s, ' '))) AS BIGINT) AS n_bpe_tokens, "
        "min(replace(s, ' ', '|')) AS sample_tokens "
        f"FROM ds{n_merges} GROUP BY doc_id"
    )
    return "".join(parts)


def oracle_sql() -> dict[str, str]:
    ev_k = "CAST(events.props->>'$.k' AS INT)"
    jacc = (
        "WITH s AS (SELECT doc_id, {sh} AS sh FROM documents{flt}) "
        "SELECT a.doc_id AS id_a, b.doc_id AS id_b, "
        "CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / "
        "CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS DOUBLE) AS jaccard "
        "FROM s a JOIN s b ON a.doc_id < b.doc_id "
        "WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / "
        "CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS DOUBLE) >= {thr}"
    )
    topk_rank = (
        "WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) e, "
        "sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) nrm "
        "FROM embeddings), "
        "scored AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, "
        "list_dot_product(q.e, c.e) / (q.nrm * c.nrm) AS cosine "
        "FROM v q JOIN v c ON c.vec_id != q.vec_id WHERE q.vec_id < 10) "
        "SELECT query_id, neighbor_id, rank FROM ("
        "SELECT query_id, neighbor_id, "
        "row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank "
        "FROM scored) WHERE rank <= 10"
    )
    # SimHash is md5-deterministic by design so the oracle can replay it;
    # chunk banding is recall-complete for hamming <= chunks-1 (pigeonhole),
    # so the oracle is simply "all pairs with hamming <= 3".
    simhash = (
        "WITH t AS (SELECT doc_id, list_transform("
        "string_split_regex(trim(lower(text)), '\\s+'), "
        "tok -> CAST(concat('0x', substr(md5(tok), 1, 15)) AS BIGINT)) AS th FROM documents), "
        "fp AS (SELECT doc_id, list_sum(list_transform(range(0, 60), b -> "
        "CASE WHEN 2 * list_sum(list_transform(th, h -> (h >> b) & 1)) > len(th) "
        "THEN CAST(1 AS BIGINT) << b ELSE CAST(0 AS BIGINT) END)) AS fp FROM t) "
        "SELECT a.doc_id AS id_a, b.doc_id AS id_b, "
        "CAST(bit_count(xor(a.fp, b.fp)) AS INT) AS hamming "
        "FROM fp a JOIN fp b ON a.doc_id < b.doc_id "
        "WHERE bit_count(xor(a.fp, b.fp)) <= 3"
    )
    ivf_rank = (
        "WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) e, "
        "sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) nrm "
        "FROM embeddings), "
        # centroids = 16 lowest-id vectors, cid = rank order (0-based)
        "cent AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, e AS ce, "
        "sqrt(list_dot_product(e, e)) AS cn FROM v ORDER BY vec_id LIMIT 16), "
        # scaled score to each centroid; argmax cell with (s DESC, cid ASC) ties
        "sc AS (SELECT v.vec_id, c.cid, list_dot_product(v.e, c.ce) / c.cn AS s "
        "FROM v CROSS JOIN cent c), "
        "r AS (SELECT vec_id, cid, "
        "row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid ASC) AS rn FROM sc), "
        "cells AS (SELECT vec_id, cid FROM r WHERE rn = 1), "
        "probes AS (SELECT vec_id, cid FROM r WHERE rn <= 4 AND vec_id < 10), "
        "cand AS (SELECT p.vec_id AS query_id, cl.vec_id AS neighbor_id, "
        "list_dot_product(qv.e, cv.e) / (qv.nrm * cv.nrm) AS cosine "
        "FROM probes p JOIN cells cl ON cl.cid = p.cid "
        "JOIN v qv ON qv.vec_id = p.vec_id JOIN v cv ON cv.vec_id = cl.vec_id "
        "WHERE cl.vec_id != p.vec_id) "
        "SELECT query_id, neighbor_id, rank FROM ("
        "SELECT query_id, neighbor_id, "
        "row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank "
        "FROM cand) WHERE rank <= 10"
    )
    # Hyperplane-LSH replay: the planes are seeded driver-side constants
    # (operators/similarity._hyperplanes), so the oracle embeds them as
    # DOUBLE[] literals and recomputes the sign-pattern bucket exactly —
    # the same trick the IVF oracle uses for its centroid table.
    from kusto_pre_forge_spark.operators.similarity import _hyperplanes

    def bucket_sql(bits: int, seed: int, dim: int = 64, vec: str = "e") -> str:
        terms = []
        for j, plane in enumerate(_hyperplanes(dim, bits, seed)):
            lits = ", ".join(repr(x) for x in plane)
            terms.append(
                f"(CASE WHEN list_dot_product({vec}, [{lits}]) >= 0 "
                f"THEN {1 << j} ELSE 0 END)"
            )
        return " + ".join(terms)

    _v_cte = (
        "WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) e, "
        "sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), "
        "CAST(embedding AS DOUBLE[]))) nrm FROM embeddings), "
    )
    # multi-probe set {0} ∪ {1<<j} ∪ {pairs} == every bucket within Hamming
    # distance 2, so the candidate join is simply bit_count(xor) <= 2
    lsh_rank = (
        _v_cte
        + f"b AS (SELECT vec_id, e, nrm, {bucket_sql(4, 11)} AS bkt FROM v), "
        "scored AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, "
        "list_dot_product(q.e, c.e) / (q.nrm * c.nrm) AS cosine "
        "FROM b q JOIN b c ON c.vec_id != q.vec_id "
        "AND bit_count(xor(CAST(q.bkt AS BIGINT), CAST(c.bkt AS BIGINT))) <= 2 "
        "WHERE q.vec_id < 10) "
        "SELECT query_id, neighbor_id, rank FROM ("
        "SELECT query_id, neighbor_id, "
        "row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank "
        "FROM scored) WHERE rank <= 10"
    )
    embed_lsh = (
        _v_cte
        + f"b AS (SELECT vec_id, e, nrm, {bucket_sql(4, 11)} AS bkt FROM v) "
        "SELECT a.vec_id AS id_a, b2.vec_id AS id_b FROM b a JOIN b b2 "
        "ON a.bkt = b2.bkt AND a.vec_id < b2.vec_id "
        "WHERE list_dot_product(a.e, b2.e) / (a.nrm * b2.nrm) >= 0.4"
    )
    fingerprint = (
        f"WITH t AS (SELECT doc_id, list_transform({_LTOKENS_SQL}, "
        "tok -> CAST(concat('0x', substr(md5(tok), 1, 8)) AS BIGINT)) th FROM documents) "
        "SELECT doc_id, list_min(list_transform("
        "range(1, greatest(len(th) - 2, 1) + 1), "
        "i -> list_reduce(th[i:i+2], (a, b) -> (a * 1000003 + b) % 2147483647))) AS fingerprint "
        "FROM t"
    )
    lang_case = (
        f"WITH {_langid_ctes()} "
        "SELECT lang_pred, CAST(count(*) AS BIGINT) AS n "
        "FROM lng GROUP BY lang_pred"
    )
    pipeline_docs = (
        f"WITH RECURSIVE {_langid_ctes('text, source')}, "
        "en AS (SELECT * FROM lng WHERE lang_pred = 'en'), "
        "keep AS (SELECT min(doc_id) AS doc_id FROM en GROUP BY md5(text)), "
        "kept AS (SELECT e.* FROM en e JOIN keep k ON e.doc_id = k.doc_id), "
        # near-dup cluster resolution on the exact-deduped set: >=0.9-Jaccard
        # pairs → connected components (recursive reachability) → drop every
        # row that is not its component's min id
        f"sh AS (SELECT doc_id, {_SHINGLE_SQL} AS sh FROM kept), "
        "p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b FROM sh a "
        "JOIN sh b ON a.doc_id < b.doc_id "
        "WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / "
        "CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS DOUBLE) >= 0.9), "
        "edges AS (SELECT id_a AS u, id_b AS v FROM p UNION SELECT id_b, id_a FROM p), "
        "reach(src, node) AS ("
        "SELECT u, u FROM (SELECT DISTINCT u FROM edges) "
        "UNION SELECT r.src, e.v FROM reach r JOIN edges e ON e.u = r.node), "
        "drops AS (SELECT src AS doc_id FROM reach GROUP BY src "
        "HAVING min(node) != src) "
        "SELECT source, CAST(count(*) AS BIGINT) AS n_docs, "
        f"CAST(sum(len({_TOKENS_SQL})) AS BIGINT) AS total_tokens "
        "FROM kept WHERE doc_id NOT IN (SELECT doc_id FROM drops) GROUP BY 1"
    )
    shard = (
        "WITH rec AS (SELECT octet_length(encode(concat_ws(',', "
        "CAST(l_orderkey AS VARCHAR), CAST(l_partkey AS VARCHAR), "
        "CAST(l_suppkey AS VARCHAR), CAST(l_linenumber AS VARCHAR), "
        "CAST(l_quantity AS VARCHAR), l_returnflag, l_linestatus))) + 1 AS rec_bytes, "
        "l_orderkey, l_linenumber FROM lineitem), "
        "c AS (SELECT rec_bytes, "
        "sum(rec_bytes) OVER (ORDER BY l_orderkey, l_linenumber "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - rec_bytes AS cum_before "
        "FROM rec) "
        "SELECT CAST(floor(cum_before / 262144) AS INT) AS shard_id, "
        "CAST(count(*) AS BIGINT) AS n_records, CAST(sum(rec_bytes) AS BIGINT) AS n_bytes "
        "FROM c GROUP BY 1"
    )
    return {
        # full train+apply replay — see _bpe_oracle_sql
        "text_bpe": _bpe_oracle_sql(),
        # byte-level train+apply replay — see _bpe_byte_oracle_sql
        "text_bpe_byte": _bpe_byte_oracle_sql(),
        "text_bpe_encode": _bpe_encode_oracle_sql(),
        "corpus_sft_tokenize": _sft_tokenize_oracle_sql(),
        "corpus_sft_conversation": _sft_conversation_oracle_sql(),
        "text_bpe_interchange": (
            # the exported/imported table is the engine's own, so the
            # encode replay is text_bpe_encode's; byte-level decode is
            # lossless by construction → TRUE for every document
            _bpe_encode_oracle_sql().replace(
                "AS ids_head FROM ag",
                "AS ids_head, TRUE AS lossless, "
                "TRUE AS hf_json_agrees FROM ag",
            )
        ),
        "text_url_canonicalize": (
            # the forge AND the canonical form replayed closed-form
            # from doc_id arithmetic
            "SELECT CAST(doc_id AS BIGINT) AS doc_id, "
            "(CASE WHEN doc_id%3=0 THEN 'HTTP' ELSE 'https' END) "
            "|| '://' || "
            "(CASE WHEN doc_id%2=0 THEN 'ExAmple' ELSE 'example' END) "
            "|| '.COM' || "
            "(CASE WHEN doc_id%4=0 THEN (CASE WHEN doc_id%3=0 "
            "THEN ':80' ELSE ':443' END) WHEN doc_id%4=1 "
            "THEN ':8080' ELSE '' END) || "
            "'/p/' || CAST(doc_id AS VARCHAR) || "
            "'?b=2&utm_source=x&a=' || CAST(doc_id%5 AS VARCHAR) "
            "|| '&gclid=zz#frag' AS url, "
            "(CASE WHEN doc_id%3=0 THEN 'http' ELSE 'https' END) "
            "|| '://example.com' || "
            "(CASE WHEN doc_id%4=1 THEN ':8080' ELSE '' END) || "
            "'/p/' || CAST(doc_id AS VARCHAR) || "
            "'?a=' || CAST(doc_id%5 AS VARCHAR) || '&b=2' "
            "AS canon_url FROM documents"
        ),
        "text_fix_encoding": (
            # repair of the forge is exact: fixed == original text +
            # suffix (documents.text is ASCII at this SF — verified —
            # and the suffix is NFC-stable), passes by the %3 rule
            "SELECT CAST(doc_id AS BIGINT) AS doc_id, "
            "COALESCE(text, '') || ' — café “naïve” ✓' AS fixed, "
            "CAST(CASE WHEN doc_id % 3 = 0 THEN 2 ELSE 1 END AS INT) "
            "AS n_mojibake_passes, TRUE AS was_fixed FROM documents"
        ),
        # tokenizer-true packing: byte-BPE replay → window cumsum
        "corpus_pack_bpe": _pack_bpe_oracle_sql(),
        "layout_compact_roundtrip": (
            # identity: compaction must preserve every row and value
            "SELECT CAST(doc_id AS BIGINT) AS doc_id, "
            "COALESCE(text, '') AS text FROM documents"
        ),
        "corpus_webdataset_roundtrip": (
            # identity: the write->read roundtrip must be lossless
            "SELECT CAST(doc_id AS BIGINT) AS doc_id, "
            "COALESCE(text, '') AS text FROM documents"
        ),
        "corpus_pack_materialize": _pack_materialize_oracle_sql(),
        "corpus_datacard": (
            "WITH b AS (SELECT CAST(len(" + _LTOKENS_SQL + ") AS BIGINT) "
            "AS nt, CAST(length(COALESCE(text, '')) AS BIGINT) AS nc, "
            "md5(COALESCE(text, '')) AS h FROM documents), "
            "d AS (SELECT CAST(COALESCE(SUM(CASE WHEN n > 1 THEN n "
            "ELSE 0 END), 0) AS BIGINT) AS n_dup_docs FROM "
            "(SELECT count(*) AS n FROM b GROUP BY h)) "
            "SELECT CAST(count(*) AS BIGINT) AS n_docs, "
            "CAST(sum(nt) AS BIGINT) AS n_tokens, "
            "CAST(sum(nc) AS BIGINT) AS n_chars, "
            "CAST(sum(CASE WHEN nt = 0 THEN 1 ELSE 0 END) AS BIGINT) "
            "AS n_empty, "
            "round(median(nt), 1) AS median_tokens, "
            "CAST(max(nt) AS BIGINT) AS max_tokens, "
            "(SELECT n_dup_docs FROM d) AS n_dup_docs FROM b"
        ),
        "corpus_version_diff": (
            # closed-form: the v2 forge is deterministic (added ids are
            # offset past every real id at tested SFs)
            "SELECT CAST(doc_id AS BIGINT) AS doc_id, 'removed' AS change "
            "FROM documents WHERE doc_id % 11 = 0 "
            "UNION ALL SELECT CAST(doc_id AS BIGINT), 'modified' "
            "FROM documents WHERE doc_id % 11 <> 0 AND doc_id % 7 = 0 "
            "UNION ALL SELECT CAST(doc_id + 1000000 AS BIGINT), 'added' "
            "FROM documents WHERE doc_id % 13 = 0"
        ),

        "corpus_pack_nosplit": (
            # next-fit replay: WITH RECURSIVE steps each bucket's
            # (hash, doc_id) rank order carrying (seq_local, fill) —
            # deterministic, so every assignment must match Spark's
            # per-bucket sequential walk; global ids via the same
            # bucket-ordered exclusive prefix
            "WITH RECURSIVE t0 AS MATERIALIZED (SELECT "
            "CAST(doc_id AS BIGINT) AS doc_id, "
            "CAST(len(" + _LTOKENS_SQL + ") AS BIGINT) AS n, "
            "CAST(concat('0x', substr(md5(concat('kpf', '|', "
            "CAST(doc_id AS VARCHAR))), 1, 8)) AS BIGINT) / 4294967296.0 "
            "AS h FROM documents), "
            "t AS MATERIALIZED (SELECT doc_id, n, h, "
            "CAST(floor(h * 16) AS BIGINT) AS bucket, "
            "row_number() OVER (PARTITION BY CAST(floor(h * 16) AS BIGINT) "
            "ORDER BY h, doc_id) AS rn FROM t0), "
            "rec AS (SELECT bucket, rn, doc_id, n, "
            "CAST(0 AS BIGINT) AS seq_local, n AS fill FROM t WHERE rn = 1 "
            "UNION ALL SELECT t.bucket, t.rn, t.doc_id, t.n, "
            "CASE WHEN rec.fill + t.n <= 512 THEN rec.seq_local "
            "ELSE rec.seq_local + 1 END, "
            "CASE WHEN rec.fill + t.n <= 512 THEN rec.fill + t.n "
            "ELSE t.n END "
            "FROM rec JOIN t ON t.bucket = rec.bucket AND t.rn = rec.rn + 1), "
            "cnt AS (SELECT bucket, max(seq_local) + 1 AS nseq FROM rec "
            "GROUP BY bucket), "
            "base AS (SELECT bucket, CAST(COALESCE(SUM(nseq) OVER ("
            "ORDER BY bucket ROWS BETWEEN UNBOUNDED PRECEDING AND "
            "1 PRECEDING), 0) AS BIGINT) AS b FROM cnt) "
            "SELECT r.doc_id, r.n AS n_tokens, "
            "CAST(base.b + r.seq_local AS BIGINT) AS seq_id, "
            "r.n > 512 AS overflow FROM rec r "
            "JOIN base ON r.bucket = base.bucket"
        ),

        # predictive invariant: cov(whitened) == I — the oracle emits the
        # identity matrix at the data's dim plus the vector count
        "embedding_whiten": (
            "WITH dims AS (SELECT len(embedding) AS dim FROM embeddings LIMIT 1), "
            "idx AS (SELECT unnest(range(0, (SELECT dim FROM dims))) AS k) "
            "SELECT CAST(a.k AS BIGINT) AS i, CAST(b.k AS BIGINT) AS j, "
            "CASE WHEN a.k = b.k THEN 1.0 ELSE 0.0 END AS cov_ij, "
            "(SELECT CAST(count(*) AS BIGINT) FROM embeddings) AS n_vectors "
            "FROM idx a CROSS JOIN idx b"
        ),
        "kql_project_where": (
            "SELECT l_orderkey, l_linenumber, "
            "l_extendedprice * (1 - l_discount) AS revenue "
            "FROM lineitem WHERE l_shipdate >= TIMESTAMP '1999-06-01'"
        ),
        "kql_summarize_q1": (
            "SELECT l_returnflag, l_linestatus, "
            + _sumd_sql("l_quantity", "sum_qty")
            + ", "
            + _sumd_sql("l_extendedprice", "sum_base_price")
            + ", "
            + _sumd_sql("l_extendedprice * (1 - l_discount)", "sum_disc_price")
            + ", CAST(sum(CAST(l_quantity AS DECIMAL(20,4))) AS DOUBLE) / count(*) AS avg_qty"
            + ", CAST(count(*) AS BIGINT) AS count_order "
            "FROM lineitem WHERE l_shipdate <= TIMESTAMP '2001-09-02' "
            "GROUP BY l_returnflag, l_linestatus"
        ),
        "kql_distinct": "SELECT DISTINCT o_orderpriority FROM orders",
        "kql_count": 'SELECT CAST(count(*) AS BIGINT) AS "Count" FROM events',
        "kql_take_any": (
            "SELECT n_name, min(c_name) AS any_customer FROM customer "
            "JOIN nation ON c_nationkey = n_nationkey GROUP BY n_name"
        ),
        "kql_mv_expand": (
            "SELECT tok, CAST(count(*) AS BIGINT) AS n FROM "
            "(SELECT unnest(string_split(text, ' ')) AS tok FROM documents) GROUP BY tok"
        ),
        "kql_dynamic_json": (
            f"SELECT event_type, CAST(count(*) AS BIGINT) AS n, "
            f"CAST(sum({ev_k}) AS BIGINT) AS sum_k, min({ev_k}) AS min_k, "
            f"max({ev_k}) AS max_k FROM events GROUP BY event_type"
        ),
        "kql_has_term": (
            "SELECT source, CAST(count(*) AS BIGINT) AS n FROM documents "
            "WHERE regexp_matches(text, '(?i)(^|[^a-zA-Z0-9])spark($|[^a-zA-Z0-9])') "
            "GROUP BY source"
        ),
        "kql_split_index": (
            "SELECT c_custkey, string_split(c_name, '#')[2] AS name_suffix FROM customer"
        ),
        "kql_case_bin": (
            "SELECT CASE WHEN o_totalprice < 50000 THEN 'small' "
            "WHEN o_totalprice < 150000 THEN 'medium' ELSE 'large' END AS price_class, "
            "date_trunc('month', o_orderdate) AS month, "
            "CAST(count(*) AS BIGINT) AS n, " + _sumd_sql("o_totalprice", "sum_price") + " "
            "FROM orders GROUP BY 1, 2"
        ),
        "kql_strcat_list": (
            "SELECT n_name, string_agg(c_name, ',' ORDER BY c_name) AS customers "
            "FROM customer JOIN nation ON c_nationkey = n_nationkey GROUP BY n_name"
        ),
        "kql_range_gen": (
            "SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(x * x) AS BIGINT) AS sum_sq "
            "FROM (SELECT unnest(generate_series(1, 1000)) AS x)"
        ),
        "kql_top": (
            "SELECT o_orderkey, o_totalprice FROM orders "
            "ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10"
        ),
        "prepartition_events": (
            f"SELECT {duckdb_hash_sql('event_type', 8, 42)} AS pid, "
            "min(event_type) AS partition_value_sample, "
            "CAST(count(*) AS BIGINT) AS record_count FROM events GROUP BY 1"
        ),
        "prepartition_customer": (
            f"SELECT {duckdb_hash_sql('c_mktsegment', 16, 7)} AS pid, "
            "min(c_mktsegment) AS partition_value_sample, "
            "CAST(count(*) AS BIGINT) AS record_count FROM customer GROUP BY 1"
        ),
        "shard_assign": shard,
        "ingest_replay_dedup": (
            "WITH doubled AS (SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem "
            "UNION ALL SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem), "
            "d AS (SELECT DISTINCT ON (l_orderkey, l_linenumber) l_orderkey, l_linenumber, "
            "l_quantity FROM doubled) "
            "SELECT CAST(count(*) AS BIGINT) AS n_unique, "
            + _sumd_sql("l_quantity", "sum_qty")
            + " FROM d"
        ),
        "join_anti": (
            "SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n FROM customer "
            "WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey) "
            "GROUP BY c_mktsegment"
        ),
        "join_semi": (
            "SELECT s_suppkey, s_name FROM supplier WHERE EXISTS ("
            "SELECT 1 FROM lineitem WHERE l_suppkey = s_suppkey "
            "AND l_shipdate >= TIMESTAMP '2001-06-01')"
        ),
        "q3_revenue_topk": (
            "SELECT o_orderkey, o_orderdate, "
            "CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(20,4))) AS DOUBLE) "
            "AS revenue FROM lineitem "
            "JOIN orders ON l_orderkey = o_orderkey "
            "JOIN customer ON o_custkey = c_custkey "
            "WHERE c_mktsegment = 'BUILDING' AND o_orderdate < TIMESTAMP '1998-01-01' "
            "AND l_shipdate > TIMESTAMP '1998-01-01' "
            "GROUP BY o_orderkey, o_orderdate "
            "ORDER BY revenue DESC, o_orderkey ASC LIMIT 10"
        ),
        "q7_volume_shipping": (
            "SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation, "
            "CAST(year(l_shipdate) AS INTEGER) AS l_year, "
            "CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(20,4))) AS DOUBLE) AS revenue "
            "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
            "JOIN supplier ON l_suppkey = s_suppkey "
            "JOIN customer ON o_custkey = c_custkey "
            "JOIN nation sn ON s_nationkey = sn.n_nationkey "
            "JOIN nation cn ON c_nationkey = cn.n_nationkey "
            "WHERE (sn.n_name = 'NATION_1' AND cn.n_name = 'NATION_2') "
            "OR (sn.n_name = 'NATION_2' AND cn.n_name = 'NATION_1') "
            "GROUP BY 1, 2, 3"
        ),
        "q10_returned_items": (
            "SELECT c_custkey, c_name, n_name, "
            "CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(20,4))) AS DOUBLE) AS revenue "
            "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
            "JOIN customer ON o_custkey = c_custkey "
            "JOIN nation ON c_nationkey = n_nationkey "
            "WHERE l_returnflag = 'R' "
            "GROUP BY 1, 2, 3 ORDER BY revenue DESC, c_custkey ASC LIMIT 20"
        ),
        "q4_order_priority": (
            "SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count "
            "FROM orders WHERE o_orderdate >= TIMESTAMP '1996-01-01' "
            "AND o_orderdate < TIMESTAMP '1997-01-01' "
            "AND EXISTS (SELECT 1 FROM lineitem "
            "WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate) "
            "GROUP BY o_orderpriority"
        ),
        "q6_forecast_revenue": (
            "SELECT CAST(sum(CAST(l_extendedprice * l_discount "
            "AS DECIMAL(20,4))) AS DOUBLE) AS revenue FROM lineitem "
            "WHERE l_shipdate >= TIMESTAMP '1996-01-01' "
            "AND l_shipdate < TIMESTAMP '1997-01-01' "
            "AND l_discount >= 0.02 AND l_discount <= 0.06 "
            "AND l_quantity < 24"
        ),
        "q8_market_share": (
            "SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year, "
            "round(CAST(sum(CASE WHEN sn.n_name = 'NATION_1' THEN "
            "CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(20,4)) "
            "ELSE CAST(0 AS DECIMAL(20,4)) END) / "
            "sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(20,4))) "
            "AS DOUBLE), 6) AS mkt_share "
            "FROM lineitem JOIN part ON l_partkey = p_partkey "
            "JOIN orders ON l_orderkey = o_orderkey "
            "JOIN customer ON o_custkey = c_custkey "
            "JOIN nation cn ON c_nationkey = cn.n_nationkey "
            "JOIN region ON cn.n_regionkey = r_regionkey "
            "JOIN supplier ON l_suppkey = s_suppkey "
            "JOIN nation sn ON s_nationkey = sn.n_nationkey "
            "WHERE p_type = 'ECONOMY' AND r_name = 'ASIA' "
            "GROUP BY 1"
        ),
        "q9_product_profit": (
            "SELECT n_name AS nation, "
            "CAST(year(o_orderdate) AS INTEGER) AS o_year, "
            "CAST(sum(CAST(l_extendedprice * (1 - l_discount) "
            "- 0.5 * p_retailprice * l_quantity AS DECIMAL(20,4))) "
            "AS DOUBLE) AS sum_profit "
            "FROM lineitem JOIN part ON l_partkey = p_partkey "
            "JOIN orders ON l_orderkey = o_orderkey "
            "JOIN supplier ON l_suppkey = s_suppkey "
            "JOIN nation ON s_nationkey = n_nationkey "
            "WHERE p_type = 'STANDARD' GROUP BY 1, 2"
        ),
        "q13_order_count_dist": (
            "SELECT c_count, CAST(count(*) AS BIGINT) AS custdist FROM ("
            "SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS c_count "
            "FROM customer LEFT JOIN orders ON c_custkey = o_custkey "
            "GROUP BY c_custkey) GROUP BY c_count"
        ),
        "q14_promo_revenue": (
            "SELECT round(CAST(100.0 * sum(CASE WHEN p_type = 'PROMO' THEN "
            "CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(20,4)) "
            "ELSE CAST(0 AS DECIMAL(20,4)) END) / "
            "sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(20,4))) "
            "AS DOUBLE), 6) AS promo_revenue_pct "
            "FROM lineitem JOIN part ON l_partkey = p_partkey "
            "WHERE l_shipdate >= TIMESTAMP '1996-03-01' "
            "AND l_shipdate < TIMESTAMP '1996-04-01'"
        ),
        "q15_top_supplier": (
            "WITH rev AS (SELECT l_suppkey, "
            "CAST(sum(CAST(l_extendedprice * (1 - l_discount) "
            "AS DECIMAL(20,4))) AS DOUBLE) AS total_revenue "
            "FROM lineitem WHERE l_shipdate >= TIMESTAMP '1996-01-01' "
            "AND l_shipdate < TIMESTAMP '1996-04-01' GROUP BY 1) "
            "SELECT s_suppkey, s_name, total_revenue "
            "FROM rev JOIN supplier ON l_suppkey = s_suppkey "
            "WHERE total_revenue = (SELECT max(total_revenue) FROM rev)"
        ),
        "q17_small_quantity_revenue": (
            "WITH a AS (SELECT l_partkey, avg(l_quantity) AS avg_qty "
            "FROM lineitem GROUP BY 1) "
            "SELECT round(CAST(sum(CAST(l_extendedprice AS DECIMAL(20,4))) "
            "/ 7.0 AS DOUBLE), 4) AS avg_yearly "
            "FROM lineitem JOIN part ON l_partkey = p_partkey "
            "JOIN a USING (l_partkey) "
            "WHERE p_brand = 'Brand#11' AND l_quantity < 0.2 * avg_qty"
        ),
        "q18_large_orders": (
            "WITH big AS (SELECT l_orderkey, "
            "CAST(sum(CAST(l_quantity AS DECIMAL(20,2))) AS DOUBLE) "
            "AS total_qty FROM lineitem GROUP BY 1 "
            "HAVING CAST(sum(CAST(l_quantity AS DECIMAL(20,2))) AS DOUBLE) > 300) "
            "SELECT c_name, c_custkey, o_orderkey, o_orderdate, "
            "o_totalprice, total_qty "
            "FROM big JOIN orders ON l_orderkey = o_orderkey "
            "JOIN customer ON o_custkey = c_custkey "
            "ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 20"
        ),
        "q19_discounted_revenue": (
            "SELECT CAST(sum(CAST(l_extendedprice * (1 - l_discount) "
            "AS DECIMAL(20,4))) AS DOUBLE) AS revenue "
            "FROM lineitem JOIN part ON l_partkey = p_partkey "
            "WHERE (p_brand = 'Brand#11' AND p_size BETWEEN 1 AND 5 "
            "AND l_quantity BETWEEN 1 AND 11) "
            "OR (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 10 "
            "AND l_quantity BETWEEN 10 AND 20) "
            "OR (p_brand = 'Brand#13' AND p_size BETWEEN 1 AND 15 "
            "AND l_quantity BETWEEN 20 AND 30)"
        ),
        "q2_min_cost_supplier": (
            "WITH ps AS (SELECT l_partkey AS ps_partkey, l_suppkey AS "
            "ps_suppkey, min(round(l_extendedprice / l_quantity, 4)) AS "
            "ps_supplycost FROM lineitem GROUP BY 1, 2), "
            "scoped AS (SELECT ps.*, s_suppkey, s_name, s_acctbal, n_name "
            "FROM ps JOIN part ON ps_partkey = p_partkey "
            "JOIN supplier ON ps_suppkey = s_suppkey "
            "JOIN nation ON s_nationkey = n_nationkey "
            "WHERE p_size <= 15 AND p_type = 'STANDARD' AND n_regionkey = 0), "
            "mc AS (SELECT ps_partkey AS mk, min(ps_supplycost) AS min_cost "
            "FROM scoped GROUP BY 1) "
            "SELECT s_acctbal, s_name, n_name, "
            "CAST(ps_partkey AS BIGINT) AS p_partkey, "
            "CAST(s_suppkey AS BIGINT) AS s_suppkey, "
            "round(ps_supplycost, 4) AS supplycost "
            "FROM scoped JOIN mc ON ps_partkey = mk "
            "AND ps_supplycost = min_cost "
            "ORDER BY s_acctbal DESC, n_name, s_name, p_partkey LIMIT 100"
        ),
        "q11_important_stock": (
            "WITH v AS (SELECT l_partkey, "
            "CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(20,4)) AS _v "
            "FROM lineitem JOIN supplier ON l_suppkey = s_suppkey "
            "WHERE s_nationkey = 7), "
            "pp AS (SELECT l_partkey AS ps_partkey, sum(_v) AS pv "
            "FROM v GROUP BY 1), "
            "t AS (SELECT sum(pv) AS tv FROM pp) "
            "SELECT CAST(ps_partkey AS BIGINT) AS ps_partkey, "
            "CAST(pv AS DOUBLE) AS part_value FROM pp, t "
            "WHERE CAST(pv AS DOUBLE) > 0.001 * CAST(tv AS DOUBLE) "
            "ORDER BY part_value DESC, ps_partkey ASC"
        ),
        "q12_late_shipment_priority": (
            "SELECT l_linestatus, "
            "CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') "
            "THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count, "
            "CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') "
            "THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count "
            "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
            "WHERE l_shipdate >= TIMESTAMP '1996-01-01' "
            "AND l_shipdate < TIMESTAMP '1998-01-01' "
            "AND l_shipdate > o_orderdate + INTERVAL 300 DAY "
            "GROUP BY 1 ORDER BY 1"
        ),
        "q16_supplier_counts": (
            "WITH pairs AS (SELECT DISTINCT l_partkey AS ps_partkey, "
            "l_suppkey AS ps_suppkey FROM lineitem), "
            "good AS (SELECT * FROM pairs WHERE ps_suppkey NOT IN "
            "(SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)) "
            "SELECT p_brand, p_type, p_size, "
            "CAST(count(DISTINCT ps_suppkey) AS BIGINT) AS supplier_cnt "
            "FROM good JOIN part ON ps_partkey = p_partkey "
            "WHERE p_brand <> 'Brand#11' AND p_type <> 'PROMO' "
            "AND p_size IN (1, 5, 10, 15, 20, 25, 30, 35) "
            "GROUP BY 1, 2, 3 "
            "ORDER BY supplier_cnt DESC, p_brand, p_type, p_size"
        ),
        "q20_excess_suppliers": (
            "WITH scoped AS (SELECT l_partkey, l_suppkey, l_quantity, "
            "l_shipdate FROM lineitem WHERE l_partkey IN "
            "(SELECT p_partkey FROM part WHERE p_name LIKE 'small%')), "
            "recent AS (SELECT l_partkey, l_suppkey, "
            "CAST(sum(CAST(l_quantity AS DECIMAL(20,2))) AS DOUBLE) AS yq "
            "FROM scoped WHERE year(l_shipdate) = 1998 GROUP BY 1, 2), "
            "alltime AS (SELECT l_partkey, l_suppkey, "
            "CAST(sum(CAST(l_quantity AS DECIMAL(20,2))) AS DOUBLE) AS aq "
            "FROM scoped GROUP BY 1, 2), "
            "hot AS (SELECT DISTINCT r.l_suppkey FROM recent r "
            "JOIN alltime a ON r.l_partkey = a.l_partkey "
            "AND r.l_suppkey = a.l_suppkey WHERE r.yq > 0.4 * a.aq) "
            "SELECT CAST(s_suppkey AS BIGINT) AS s_suppkey, s_name "
            "FROM supplier WHERE s_nationkey = 3 "
            "AND s_suppkey IN (SELECT l_suppkey FROM hot) ORDER BY s_name"
        ),
        "q21_suppliers_kept_waiting": (
            "WITH base AS (SELECT l_orderkey, l_suppkey, l_shipdate, "
            "o_orderdate FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
            "WHERE o_orderstatus = 'F'), "
            "late AS (SELECT l_orderkey, l_suppkey FROM base "
            "WHERE l_shipdate > o_orderdate + INTERVAL 500 DAY) "
            "SELECT s_name, CAST(count(*) AS BIGINT) AS numwait "
            "FROM late l1 JOIN supplier ON l1.l_suppkey = s_suppkey "
            "WHERE EXISTS (SELECT 1 FROM lineitem l2 "
            "WHERE l2.l_orderkey = l1.l_orderkey "
            "AND l2.l_suppkey <> l1.l_suppkey) "
            "AND NOT EXISTS (SELECT 1 FROM late l3 "
            "WHERE l3.l_orderkey = l1.l_orderkey "
            "AND l3.l_suppkey <> l1.l_suppkey) "
            "GROUP BY 1 ORDER BY numwait DESC, s_name LIMIT 100"
        ),
        "q22_global_sales_opportunity": (
            "WITH cohort AS (SELECT c_custkey, c_acctbal, "
            "substr(c_name, length(c_name) - 1, 2) AS cntrycode "
            "FROM customer WHERE substr(c_name, length(c_name) - 1, 2) IN "
            "('10', '11', '12', '13', '14', '15', '16')), "
            "ab AS (SELECT round(CAST(sum(CAST(c_acctbal AS DECIMAL(20,4))) "
            "AS DOUBLE) / count(*), 4) AS avg_bal FROM cohort "
            "WHERE c_acctbal > 0.0) "
            "SELECT cntrycode, CAST(count(*) AS BIGINT) AS numcust, "
            "CAST(sum(CAST(c_acctbal AS DECIMAL(20,4))) AS DOUBLE) "
            "AS totacctbal FROM cohort, ab "
            "WHERE c_acctbal > avg_bal AND NOT EXISTS "
            "(SELECT 1 FROM orders WHERE o_custkey = c_custkey "
            "AND o_orderdate >= TIMESTAMP '2000-01-01') "
            "GROUP BY 1 ORDER BY 1"
        ),
        "q5_nation_revenue": (
            "SELECT n_name, "
            "CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(20,4))) AS DOUBLE) "
            "AS revenue FROM lineitem "
            "JOIN orders ON l_orderkey = o_orderkey "
            "JOIN supplier ON l_suppkey = s_suppkey "
            "JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey "
            "JOIN nation ON s_nationkey = n_nationkey "
            "JOIN region ON n_regionkey = r_regionkey "
            "WHERE r_name = 'ASIA' GROUP BY n_name"
        ),
        "window_topk": (
            "SELECT l_returnflag, l_orderkey, l_linenumber, l_extendedprice, rn FROM ("
            "SELECT l_returnflag, l_orderkey, l_linenumber, l_extendedprice, "
            "row_number() OVER (PARTITION BY l_returnflag "
            "ORDER BY l_extendedprice DESC, l_orderkey ASC, l_linenumber ASC) AS rn "
            "FROM lineitem) WHERE rn <= 3"
        ),
        "window_running": (
            "SELECT o_custkey, o_orderkey, "
            "CAST(sum(CAST(o_totalprice AS DECIMAL(20,2))) OVER ("
            "PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey "
            "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_total "
            "FROM orders WHERE o_custkey < 50"
        ),
        "agg_rollup": (
            "SELECT coalesce(l_returnflag, 'ALL') AS l_returnflag, "
            "coalesce(l_linestatus, 'ALL') AS l_linestatus, "
            "CAST(count(*) AS BIGINT) AS n, " + _sumd_sql("l_quantity", "sum_qty") + ", "
            "CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS BIGINT) AS gid "
            "FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)"
        ),
        "agg_pivot_events": (
            "SELECT "
            + ", ".join(
                f"CAST(sum(CASE WHEN event_type = '{t}' THEN CAST(value AS DECIMAL(20,4)) END) "
                f"AS DOUBLE) AS sum_{t}"
                for t in ["click", "view", "purchase", "signup", "error"]
            )
            + " FROM events"
        ),
        "distinct_users": (
            "SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n_users, "
            "CAST(count(*) AS BIGINT) AS n_events FROM events GROUP BY event_type"
        ),
        "sessionize": (
            "WITH x AS (SELECT user_id, CAST(ts AS TIMESTAMP) ts, event_id FROM events), "
            "g AS (SELECT user_id, CASE WHEN lag(ts) OVER w IS NULL "
            "OR date_diff('second', lag(ts) OVER w, ts) > 3600 THEN 1 ELSE 0 END AS ns "
            "FROM x WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)) "
            "SELECT user_id, CAST(sum(ns) AS BIGINT) AS n_sessions FROM g GROUP BY user_id"
        ),
        "dedup_exact": (
            "SELECT md5(text) AS content_md5, CAST(min(doc_id) AS BIGINT) AS doc_id "
            "FROM documents GROUP BY md5(text)"
        ),
        "dedup_minhash": jacc.format(sh=_SHINGLE_SQL, flt="", thr="0.9"),
        "dedup_minhash_incremental": (
            # the batch semantic oracle restricted to pairs touching a
            # 'new' (doc_id >= 400) document
            f"WITH s AS (SELECT doc_id, {_SHINGLE_SQL} AS sh FROM documents) "
            "SELECT a.doc_id AS id_a, b.doc_id AS id_b, "
            "CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / "
            "CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS DOUBLE) AS jaccard "
            "FROM s a JOIN s b ON a.doc_id < b.doc_id "
            "WHERE (a.doc_id >= 400 OR b.doc_id >= 400) "
            "AND CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / "
            "CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS DOUBLE) >= 0.9"
        ),
        "dedup_cluster_sizes": (
            "WITH RECURSIVE "
            f"s AS (SELECT doc_id, {_SHINGLE_SQL} AS sh FROM documents), "
            "p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b FROM s a "
            "JOIN s b ON a.doc_id < b.doc_id "
            "WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / "
            "CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS DOUBLE) >= 0.9), "
            "edges AS (SELECT id_a AS u, id_b AS v FROM p "
            "UNION SELECT id_b, id_a FROM p), "
            "reach(src, node) AS ("
            "SELECT u, u FROM (SELECT DISTINCT u FROM edges) "
            "UNION "
            "SELECT r.src, e.v FROM reach r JOIN edges e ON e.u = r.node), "
            "lab AS (SELECT src AS doc_id, min(node) AS cluster_id "
            "FROM reach GROUP BY src), "
            "cs AS (SELECT cluster_id, count(*) AS cluster_size "
            "FROM lab GROUP BY 1) "
            "SELECT CAST(cluster_size AS BIGINT) AS cluster_size, "
            "CAST(count(*) AS BIGINT) AS n_clusters, "
            "CAST(count(*) * (cluster_size - 1) AS BIGINT) AS droppable_docs "
            "FROM cs GROUP BY cluster_size"
        ),
        "dedup_cdc_chunks": (
            # replay: same md5 boundary rule, running boundary count via
            # a window, chunk text = in-order tokens joined by space
            "WITH t AS (SELECT doc_id, "
            f"{_LTOKENS_SQL} AS toks FROM documents), "
            "u AS (SELECT doc_id, unnest(toks) AS tok, "
            "unnest(range(1, len(toks) + 1)) AS pos FROM t), "
            "fl AS (SELECT doc_id, tok, pos, "
            "CASE WHEN CAST(concat('0x', substr(md5(concat('kpf-cdc', '|', "
            "tok)), 1, 8)) AS BIGINT) % 8 = 0 THEN 1 ELSE 0 END AS b FROM u), "
            "ch AS (SELECT doc_id, tok, pos, "
            "sum(b) OVER (PARTITION BY doc_id ORDER BY pos "
            "ROWS UNBOUNDED PRECEDING) - b AS chunk_id FROM fl), "
            "agg AS (SELECT doc_id, chunk_id, "
            "string_agg(tok, ' ' ORDER BY pos) AS chunk_text, "
            "count(*) AS n_tokens FROM ch GROUP BY 1, 2), "
            "h AS (SELECT doc_id, md5(chunk_text) AS chunk_md5, n_tokens "
            "FROM agg WHERE n_tokens >= 3) "
            "SELECT chunk_md5, CAST(n_tokens AS BIGINT) AS n_tokens, "
            "CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs, "
            "CAST(count(*) AS BIGINT) AS n_occurrences, "
            "CAST(min(doc_id) AS BIGINT) AS sample_doc "
            "FROM h GROUP BY 1, 2 HAVING count(DISTINCT doc_id) >= 2"
        ),
        "dedup_soft_weights": (
            # same recursive-CTE labels as dedup_clusters; weight =
            # round(1/size, 6); unclustered docs weight 1.0, size 1
            "WITH RECURSIVE "
            f"s AS (SELECT doc_id, {_SHINGLE_SQL} AS sh FROM documents), "
            "p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b FROM s a "
            "JOIN s b ON a.doc_id < b.doc_id "
            "WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / "
            "CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS DOUBLE) >= 0.9), "
            "edges AS (SELECT id_a AS u, id_b AS v FROM p "
            "UNION SELECT id_b, id_a FROM p), "
            "reach(src, node) AS ("
            "SELECT u, u FROM (SELECT DISTINCT u FROM edges) "
            "UNION "
            "SELECT r.src, e.v FROM reach r JOIN edges e ON e.u = r.node), "
            "lab AS (SELECT src AS doc_id, min(node) AS cluster_id "
            "FROM reach GROUP BY src), "
            "cs AS (SELECT cluster_id, count(*) AS csize FROM lab GROUP BY 1) "
            "SELECT d.doc_id, "
            "CAST(coalesce(cs.csize, 1) AS BIGINT) AS cluster_size, "
            "round(1.0 / coalesce(cs.csize, 1), 6) AS sample_weight "
            "FROM documents d "
            "LEFT JOIN lab ON d.doc_id = lab.doc_id "
            "LEFT JOIN cs ON lab.cluster_id = cs.cluster_id"
        ),
        "dedup_clusters": (
            # connected components over the same >=0.9-Jaccard pair set:
            # enumerate reachable nodes per source (recursive CTE; the
            # UNION dedups, so it terminates), label = min reachable id
            "WITH RECURSIVE "
            f"s AS (SELECT doc_id, {_SHINGLE_SQL} AS sh FROM documents), "
            "p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b FROM s a "
            "JOIN s b ON a.doc_id < b.doc_id "
            "WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / "
            "CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS DOUBLE) >= 0.9), "
            "edges AS (SELECT id_a AS u, id_b AS v FROM p "
            "UNION SELECT id_b, id_a FROM p), "
            "reach(src, node) AS ("
            "SELECT u, u FROM (SELECT DISTINCT u FROM edges) "
            "UNION "
            "SELECT r.src, e.v FROM reach r JOIN edges e ON e.u = r.node) "
            "SELECT CAST(src AS BIGINT) AS doc_id, "
            "CAST(min(node) AS BIGINT) AS cluster_id FROM reach GROUP BY src"
        ),
        "dedup_survivors_policy": (
            # same recursive-CTE component labels as dedup_clusters, then
            # survivor = max n_chars (tie: min doc_id) per cluster;
            # unclustered docs always survive
            "WITH RECURSIVE "
            f"s AS (SELECT doc_id, {_SHINGLE_SQL} AS sh FROM documents), "
            "p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b FROM s a "
            "JOIN s b ON a.doc_id < b.doc_id "
            "WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / "
            "CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS DOUBLE) >= 0.9), "
            "edges AS (SELECT id_a AS u, id_b AS v FROM p "
            "UNION SELECT id_b, id_a FROM p), "
            "reach(src, node) AS ("
            "SELECT u, u FROM (SELECT DISTINCT u FROM edges) "
            "UNION "
            "SELECT r.src, e.v FROM reach r JOIN edges e ON e.u = r.node), "
            "lab AS (SELECT src AS doc_id, min(node) AS cluster_id "
            "FROM reach GROUP BY src), "
            "ranked AS (SELECT l.doc_id, row_number() OVER ("
            "PARTITION BY l.cluster_id "
            "ORDER BY d.n_chars DESC, l.doc_id ASC) AS rk "
            "FROM lab l JOIN documents d USING (doc_id)) "
            "SELECT d.doc_id, d.n_chars FROM documents d "
            "WHERE d.doc_id NOT IN (SELECT doc_id FROM ranked WHERE rk > 1)"
        ),
        "dedup_ngram": jacc.format(sh=_SHINGLE_SQL, flt=" WHERE doc_id < 200", thr="0.8"),
        "dedup_embedding": (
            "WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) e, "
            "sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), "
            "CAST(embedding AS DOUBLE[]))) nrm FROM embeddings) "
            "SELECT a.vec_id AS id_a, b.vec_id AS id_b FROM v a JOIN v b "
            "ON a.vec_id < b.vec_id "
            "WHERE list_dot_product(a.e, b.e) / (a.nrm * b.nrm) >= 0.4"
        ),
        "dedup_semantic": (
            "WITH RECURSIVE v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) e, "
            "sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), "
            "CAST(embedding AS DOUBLE[]))) nrm FROM embeddings), "
            "cent AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, "
            "e AS ce, sqrt(list_dot_product(e, e)) AS cn "
            "FROM v ORDER BY vec_id LIMIT 16), "
            "sc AS (SELECT v.vec_id, c.cid, "
            "list_dot_product(v.e, c.ce) / c.cn AS s FROM v CROSS JOIN cent c), "
            "r AS (SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id "
            "ORDER BY s DESC, cid ASC) AS rn FROM sc), "
            "cells AS (SELECT vec_id, cid FROM r WHERE rn = 1), "
            "p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b "
            "FROM cells ca JOIN cells cb ON ca.cid = cb.cid "
            "JOIN v a ON a.vec_id = ca.vec_id JOIN v b ON b.vec_id = cb.vec_id "
            "WHERE a.vec_id < b.vec_id "
            "AND list_dot_product(a.e, b.e) / (a.nrm * b.nrm) >= 0.4), "
            "edges AS (SELECT id_a AS u, id_b AS v FROM p "
            "UNION SELECT id_b, id_a FROM p), "
            "reach(src, node) AS ("
            "SELECT u, u FROM (SELECT DISTINCT u FROM edges) "
            "UNION SELECT r2.src, e2.v FROM reach r2 JOIN edges e2 ON e2.u = r2.node), "
            "comp AS (SELECT src AS vec_id, min(node) AS cl FROM reach GROUP BY src) "
            "SELECT v.vec_id, CAST(cells.cid AS INT) AS cell, "
            "CAST(coalesce(comp.cl, v.vec_id) AS BIGINT) AS cluster_id, "
            "v.vec_id = coalesce(comp.cl, v.vec_id) AS is_kept "
            "FROM v JOIN cells ON cells.vec_id = v.vec_id "
            "LEFT JOIN comp ON comp.vec_id = v.vec_id"
        ),
        "dedup_embedding_lsh": embed_lsh,
        "dedup_embedding_clusters": (
            "WITH RECURSIVE "
            + _v_cte.replace("WITH ", "", 1)
            + f"b AS (SELECT vec_id, e, nrm, {bucket_sql(4, 11)} AS bkt FROM v), "
            "p AS (SELECT a.vec_id AS id_a, b2.vec_id AS id_b FROM b a JOIN b b2 "
            "ON a.bkt = b2.bkt AND a.vec_id < b2.vec_id "
            "WHERE list_dot_product(a.e, b2.e) / (a.nrm * b2.nrm) >= 0.4), "
            "edges AS (SELECT id_a AS u, id_b AS v FROM p "
            "UNION SELECT id_b, id_a FROM p), "
            "reach(src, node) AS ("
            "SELECT u, u FROM (SELECT DISTINCT u FROM edges) "
            "UNION SELECT r.src, e2.v FROM reach r JOIN edges e2 ON e2.u = r.node) "
            "SELECT CAST(src AS BIGINT) AS vec_id, "
            "CAST(min(node) AS BIGINT) AS cluster_id FROM reach GROUP BY src"
        ),
        "similarity_topk": topk_rank,
        "similarity_knn_classify": (
            "WITH v AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) e, "
            "sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), "
            "CAST(embedding AS DOUBLE[]))) nrm FROM embeddings), "
            "scored AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, "
            "c.label AS neighbor_label, "
            "list_dot_product(q.e, c.e) / (q.nrm * c.nrm) AS cosine "
            "FROM v q JOIN v c ON c.vec_id >= 50 WHERE q.vec_id < 50), "
            "topk AS (SELECT * FROM (SELECT *, row_number() OVER ("
            "PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) rk "
            "FROM scored) WHERE rk <= 5), "
            "votes AS (SELECT query_id, neighbor_label, count(*) AS votes, "
            "max(cosine) AS best FROM topk GROUP BY 1, 2), "
            "win AS (SELECT query_id, "
            "CAST(max_by(neighbor_label, votes * 1000 - neighbor_label) "
            "AS BIGINT) AS predicted_label, "
            "CAST(max(votes) AS BIGINT) AS votes, "
            "round(max(best), 6) AS top_cosine FROM votes GROUP BY 1) "
            "SELECT * FROM win"
        ),
        "similarity_knn_propagate": (
            "WITH v AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) e, "
            "sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), "
            "CAST(embedding AS DOUBLE[]))) nrm FROM embeddings), "
            "scored AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, "
            "c.label AS neighbor_label, "
            "list_dot_product(q.e, c.e) / (q.nrm * c.nrm) AS cosine "
            "FROM v q JOIN v c ON c.vec_id < 50 WHERE q.vec_id >= 50), "
            "topk AS (SELECT * FROM (SELECT *, row_number() OVER ("
            "PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) rk "
            "FROM scored) WHERE rk <= 5), "
            "votes AS (SELECT query_id, neighbor_label, count(*) AS votes, "
            "max(cosine) AS best FROM topk GROUP BY 1, 2), "
            "win AS (SELECT query_id, "
            "CAST(max_by(neighbor_label, votes * 1000 - neighbor_label) "
            "AS BIGINT) AS predicted_label, "
            "CAST(max(votes) AS BIGINT) AS votes, "
            "round(max(best), 6) AS top_cosine FROM votes GROUP BY 1) "
            "SELECT * FROM win"
        ),
        "similarity_hard_negatives": (
            "WITH v AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) e, "
            "sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), "
            "CAST(embedding AS DOUBLE[]))) nrm FROM embeddings), "
            "scored AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, "
            "CAST(c.label AS BIGINT) AS neighbor_label, "
            "list_dot_product(q.e, c.e) / (q.nrm * c.nrm) AS cosine "
            "FROM v q JOIN v c ON c.vec_id != q.vec_id "
            "AND c.label != q.label WHERE q.vec_id < 10) "
            "SELECT query_id, neighbor_id, neighbor_label, rank FROM ("
            "SELECT query_id, neighbor_id, neighbor_label, "
            "row_number() OVER (PARTITION BY query_id "
            "ORDER BY cosine DESC, neighbor_id ASC) AS rank "
            "FROM scored) WHERE rank <= 5"
        ),
        "similarity_topk_lsh": lsh_rank,
        "similarity_topk_ivf": ivf_rank,
        "simhash_pairs": simhash,
        "text_tokens": (
            f"SELECT doc_id, CAST(len({_TOKENS_SQL}) AS INT) AS n_tokens, "
            "CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]')) AS INT) "
            "AS bpe_tokens, CAST(length(text) AS INT) AS n_chars FROM documents"
        ),
        "text_quality": (
            f"WITH t AS (SELECT doc_id, text, {_TOKENS_SQL} AS toks FROM documents) "
            "SELECT doc_id, "
            "CAST(length(regexp_replace(text, '[^!-/:-@\\[-`{-~]', '', 'g')) AS DOUBLE) / "
            "greatest(length(text), 1) AS punct_ratio, "
            "CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE) / "
            "greatest(length(text), 1) AS digit_ratio, "
            f"CAST(len(list_filter(list_transform(toks, t -> lower(t)), "
            f"t -> list_contains({_EN}, t))) AS DOUBLE) / greatest(len(toks), 1) "
            "AS stopword_ratio FROM t"
        ),
        "text_langid": lang_case,
        "text_langid_eval": _langid_eval_oracle_sql(),
        "text_lm_backoff": _lm_backoff_oracle_sql(),
        "text_gopher": _gopher_oracle_sql(),
        "corpus_filter_attribution": _gopher_attribution_oracle_sql(),
        "corpus_c4_attribution": _c4_attribution_oracle_sql(),
        "code_quality": _code_quality_oracle_sql(),
        "corpus_robots_gate": (
            # the 5x4 verdict matrix: site0 blocks /private/; site1
            # deny-all except the longer /public/ allow; site2's mybot
            # group (overriding deny-all) blocks only /mybot-only/;
            # site3 blocks the $-anchored *.pdf; site4 has no rules
            "SELECT CAST(doc_id AS BIGINT) AS doc_id, "
            "'https://site' || (doc_id % 5) || '.example' || "
            "CASE doc_id % 4 WHEN 0 THEN '/public/doc' "
            "WHEN 1 THEN '/private/x' WHEN 2 THEN '/paper.pdf' "
            "ELSE '/ok' END AS url, "
            "CASE doc_id % 5 "
            "WHEN 0 THEN doc_id % 4 != 1 "
            "WHEN 1 THEN doc_id % 4 = 0 "
            "WHEN 2 THEN TRUE "
            "WHEN 3 THEN doc_id % 4 != 2 "
            "ELSE TRUE END AS kept "
            "FROM documents"
        ),
        "code_license_gate": (
            # closed-form replay of the %5 license rotation: per license
            # (NULL → NOASSERTION) the allow-list verdict, exact doc/byte
            # counts, and the gate survivor count (n_docs iff allowed)
            "WITH corpus AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, "
            "CASE doc_id % 5 WHEN 0 THEN 'MIT' WHEN 1 THEN 'Apache-2.0' "
            "WHEN 2 THEN 'GPL-3.0-only' WHEN 3 THEN NULL "
            "ELSE 'BSD-3-Clause' END AS lic, "
            "'int main() { return ' || doc_id || '; }' || chr(10) || "
            "substr(COALESCE(text, ''), 1, 240) AS body FROM documents), "
            "sized AS (SELECT lic, CASE WHEN lic IS NULL THEN 0 "
            "ELSE octet_length(encode('// SPDX-License-Identifier: ' || lic)) + 1 "
            "END + octet_length(encode(body)) AS b FROM corpus) "
            "SELECT COALESCE(lic, 'NOASSERTION') AS license, "
            "COALESCE(lic IN ('MIT', 'Apache-2.0', 'BSD-2-Clause', "
            "'BSD-3-Clause', 'ISC', 'Unlicense', '0BSD', 'CC0-1.0', "
            "'Zlib', 'MIT-0'), FALSE) AS allowed, "
            "CAST(count(*) AS BIGINT) AS n_docs, "
            "CAST(sum(b) AS BIGINT) AS n_bytes, "
            "CAST(CASE WHEN COALESCE(lic IN ('MIT', 'Apache-2.0', "
            "'BSD-2-Clause', 'BSD-3-Clause', 'ISC', 'Unlicense', '0BSD', "
            "'CC0-1.0', 'Zlib', 'MIT-0'), FALSE) THEN count(*) ELSE 0 END "
            "AS BIGINT) AS n_gated "
            "FROM sized GROUP BY lic"
        ),
        "corpus_code_attribution": _code_attribution_oracle_sql(),
        "kql_evaluate_python": (
            "SELECT event_id, round(value * 2.0 + event_id % 10, 6) AS score "
            "FROM events WHERE event_id < 3000"
        ),
        "kql_parse_where": (
            "SELECT c_custkey, CAST(substr(c_name, 10) AS BIGINT) AS cnum "
            "FROM customer WHERE c_custkey % 3 != 0"
        ),
        "kql_series_fit_poly": (
            "WITH e AS (SELECT event_type, value, "
            "CAST(row_number() OVER (PARTITION BY event_type ORDER BY event_id) - 1 "
            "AS DOUBLE) AS x FROM events WHERE event_id < 400), "
            "a AS (SELECT event_type, CAST(count(*) AS DOUBLE) AS n, "
            "sum(value ORDER BY x) AS t0, "
            "sum(x * value ORDER BY x) AS t1, "
            "sum(x * x * value ORDER BY x) AS t2 FROM e GROUP BY 1), "
            "p AS (SELECT *, n - 1 AS m FROM a), "
            "q AS (SELECT *, m * (m + 1) / 2 AS s1, "
            "m * (m + 1) * (2 * m + 1) / 6 AS s2, "
            "(m * (m + 1) / 2) * (m * (m + 1) / 2) AS s3, "
            "m * (m + 1) * (2 * m + 1) * (3 * m * m + 3 * m - 1) / 30 AS s4 FROM p), "
            "d AS (SELECT *, "
            "n * (s2 * s4 - s3 * s3) - s1 * (s1 * s4 - s3 * s2) + s2 * (s1 * s3 - s2 * s2) AS dd, "
            "t0 * (s2 * s4 - s3 * s3) - s1 * (t1 * s4 - s3 * t2) + s2 * (t1 * s3 - s2 * t2) AS d0, "
            "n * (t1 * s4 - s3 * t2) - t0 * (s1 * s4 - s3 * s2) + s2 * (s1 * t2 - t1 * s2) AS d1, "
            "n * (s2 * t2 - t1 * s3) - s1 * (s1 * t2 - t1 * s2) + t0 * (s1 * s3 - s2 * s2) AS d2 "
            "FROM q), "
            "r AS (SELECT event_type, n, dd, d0 / dd AS c0, d1 / dd AS c1, d2 / dd AS c2 FROM d), "
            "s AS (SELECT r.event_type, r.c0, r.c1, r.c2, r.n, r.dd, "
            "sum((value - (c0 + c1 * x + c2 * x * x)) * "
            "(value - (c0 + c1 * x + c2 * x * x)) ORDER BY x) AS rss "
            "FROM e JOIN r ON e.event_type = r.event_type "
            "GROUP BY r.event_type, r.c0, r.c1, r.c2, r.n, r.dd) "
            "SELECT event_type, "
            "CASE WHEN n >= 3 AND abs(dd) > 1e-9 THEN round(c0, 6) END AS c0, "
            "CASE WHEN n >= 3 AND abs(dd) > 1e-9 THEN round(c1, 6) END AS c1, "
            "CASE WHEN n >= 3 AND abs(dd) > 1e-9 THEN round(c2, 6) END AS c2, "
            "CASE WHEN n >= 3 AND abs(dd) > 1e-9 THEN round(rss, 6) END AS rss "
            "FROM s"
        ),
        "kql_getschema": (
            # predictive: the loaded orders schema as literal metadata rows
            "SELECT * FROM (VALUES "
            "('o_orderkey', CAST(0 AS BIGINT), 'bigint', 'bigint'), "
            "('o_custkey', 1, 'bigint', 'bigint'), "
            "('o_orderstatus', 2, 'string', 'string'), "
            "('o_totalprice', 3, 'double', 'double'), "
            "('o_orderdate', 4, 'timestamp', 'timestamp'), "
            "('o_orderpriority', 5, 'string', 'string')) "
            "t(ColumnName, ColumnOrdinal, DataType, ColumnType)"
        ),
        "dedup_span_cut": (
            "WITH t AS (SELECT doc_id, "
            "list_filter(string_split_regex(trim(lower(text)), '\\s+'), "
            "w -> w != '') AS tk FROM documents WHERE doc_id < 200), "
            "w AS (SELECT doc_id, i, "
            "md5(array_to_string(tk[i+1:i+8], ' ')) AS h "
            "FROM t, unnest(range(0, greatest(len(tk) - 7, 0))) AS u(i)), "
            "o AS (SELECT h, min(doc_id) AS winner FROM w GROUP BY h "
            "HAVING count(DISTINCT doc_id) >= 2), "
            "cw AS (SELECT w.doc_id, w.i FROM w JOIN o USING (h) "
            "WHERE w.doc_id != o.winner), "
            "f AS (SELECT doc_id, i, CASE WHEN "
            "lag(i) OVER (PARTITION BY doc_id ORDER BY i) IS NULL "
            "OR i > lag(i) OVER (PARTITION BY doc_id ORDER BY i) + 8 "
            "THEN 1 ELSE 0 END AS nw FROM cw), "
            "g AS (SELECT doc_id, i, sum(nw) OVER (PARTITION BY doc_id "
            "ORDER BY i) AS isl FROM f), "
            "sp AS (SELECT doc_id, min(i) AS s, max(i) + 8 AS e "
            "FROM g GROUP BY doc_id, isl), "
            "cov AS (SELECT DISTINCT doc_id, p FROM sp, "
            "unnest(range(s, e)) AS v(p)), "
            "tp AS (SELECT doc_id, unnest(tk) AS tok, "
            "unnest(range(len(tk))) AS p FROM t), "
            "kept AS (SELECT tp.doc_id, tp.tok, tp.p FROM tp "
            "LEFT JOIN cov ON tp.doc_id = cov.doc_id AND tp.p = cov.p "
            "WHERE cov.p IS NULL), "
            "ka AS (SELECT doc_id, array_to_string(array_agg(tok ORDER BY p), ' ') "
            "AS clean FROM kept GROUP BY doc_id), "
            "nc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS nrem FROM cov "
            "GROUP BY doc_id) "
            "SELECT t.doc_id, CAST(len(tk) AS BIGINT) AS n_tokens, "
            "coalesce(nc.nrem, 0) AS n_tokens_removed, "
            "coalesce(ka.clean, '') AS text_clean "
            "FROM t LEFT JOIN ka ON t.doc_id = ka.doc_id "
            "LEFT JOIN nc ON t.doc_id = nc.doc_id"
        ),
        "kql_ipv6_lookup": (
            # predictive: /48 containment == equality of the first three
            # groups == user_id % 30 = n_nationkey
            "SELECT n_name, CAST(count(*) AS BIGINT) AS n, "
            "CAST(min(event_id) AS BIGINT) AS first_event "
            "FROM events JOIN nation ON user_id % 30 = n_nationkey "
            "WHERE event_id < 5000 GROUP BY 1"
        ),
        "kql_diffpatterns_text": (
            f"WITH t AS (SELECT doc_id, lang = 'en' AS s, "
            f"list_distinct({_TOKENS_SQL}) AS toks FROM documents), "
            "n AS (SELECT count(*) FILTER (WHERE s) AS nt, "
            "count(*) FILTER (WHERE NOT s) AS nf FROM t), "
            "e AS (SELECT s, unnest(toks) AS term FROM t), "
            "a AS (SELECT term, count(*) FILTER (WHERE s) AS n_true, "
            "count(*) FILTER (WHERE NOT s) AS n_false FROM e GROUP BY term), "
            "r AS (SELECT term, CAST(n_true AS BIGINT) AS n_true, "
            "CAST(n_false AS BIGINT) AS n_false, "
            "round(n_true / CAST(greatest(nt, 1) AS DOUBLE), 6) AS frac_true, "
            "round(n_false / CAST(greatest(nf, 1) AS DOUBLE), 6) AS frac_false "
            "FROM a, n WHERE n_true + n_false >= 2) "
            "SELECT term, n_true, n_false, frac_true, frac_false, "
            "round(abs(frac_true - frac_false), 6) AS diff FROM r "
            "ORDER BY diff DESC, term ASC LIMIT 20"
        ),
        "pipeline_quality_route": (
            f"WITH base AS (SELECT doc_id, text, {_TOKENS_SQL} AS toks, "
            "list_filter(string_split(text, chr(10)), x -> trim(x) != '') AS lines "
            "FROM documents), "
            "gp AS (SELECT doc_id, coalesce("
            "len(toks) BETWEEN 50 AND 100000 "
            "AND (CASE WHEN len(toks) > 0 THEN round(CAST(list_sum(list_transform(toks, "
            "w -> length(w))) AS DOUBLE) / len(toks), 6) END) BETWEEN 3.0 AND 10.0 "
            "AND (CASE WHEN len(toks) > 0 THEN round(CAST(len(regexp_extract_all(text, '#')) "
            "+ len(regexp_extract_all(text, '\\.\\.\\.')) AS DOUBLE) / len(toks), 6) END) <= 0.1 "
            "AND (CASE WHEN len(lines) > 0 THEN round(CAST(len(list_filter(lines, "
            "x -> regexp_matches(trim(x), '^[-*•]'))) AS DOUBLE) / len(lines), 6) END) <= 0.9 "
            "AND (CASE WHEN len(lines) > 0 THEN round(CAST(len(list_filter(lines, "
            "x -> regexp_matches(trim(x), '\\.\\.\\.$'))) AS DOUBLE) / len(lines), 6) END) <= 0.3 "
            "AND (CASE WHEN len(toks) > 0 THEN round(CAST(len(list_filter(toks, "
            "w -> regexp_matches(w, '[a-zA-Z]'))) AS DOUBLE) / len(toks), 6) END) >= 0.8 "
            "AND len(list_intersect(list_distinct(list_transform(toks, w -> lower(w))), "
            "['the','be','to','of','and','that','have','with'])) >= 2, "
            "false) AS g FROM base), "
            "c4 AS (SELECT doc_id, (NOT contains(lower(text), 'lorem ipsum') "
            "AND NOT contains(text, '{') "
            "AND len(regexp_extract_all(text, '[.!?]')) >= 3 "
            "AND len(list_filter(lines, x -> regexp_matches(trim(x), '[.!?\"]$') "
            "AND len(list_filter(string_split_regex(trim(x), '\\s+'), w -> w != '')) >= 3 "
            "AND NOT contains(lower(trim(x)), 'javascript') "
            "AND NOT contains(trim(x), '{'))) >= 1) AS c FROM base), "
            "f AS (SELECT doc_id, length(text) AS n_chars, len(toks) AS n_tokens, "
            "length(regexp_replace(text, '[^!-/:-@\\[-`{-~]', '', 'g')) AS punct, "
            "length(regexp_replace(text, '[^0-9]', '', 'g')) AS digits, "
            "length(regexp_replace(text, '[^A-Z]', '', 'g')) AS uppers, "
            "len(list_filter(list_transform(toks, t -> lower(t)), "
            "t -> t IN ('the','and','of','to','in','is','that','it','for','with'))) AS stop_hits "
            "FROM base), "
            "z AS (SELECT doc_id, -1.5 "
            "+ (-3.0) * (digits / CAST(greatest(n_chars, 1) AS DOUBLE)) "
            "+ 0.35 * ln(1.0 + n_tokens) "
            "+ 0.15 * ((n_chars - n_tokens + 1) / CAST(greatest(n_tokens, 1) AS DOUBLE)) "
            "+ (-4.0) * (punct / CAST(greatest(n_chars, 1) AS DOUBLE)) "
            "+ 3.0 * (stop_hits / CAST(greatest(n_tokens, 1) AS DOUBLE)) "
            "+ (-1.0) * (uppers / CAST(greatest(n_chars, 1) AS DOUBLE)) AS z FROM f), "
            "lr AS (SELECT doc_id, 1.0 / (1.0 + exp(-z)) >= 0.5 AS k FROM z), "
            "r AS (SELECT gp.doc_id, g AND c AND k AS keep, "
            "CASE WHEN NOT g THEN 'gopher' WHEN NOT c THEN 'c4' "
            "WHEN NOT k THEN 'lr' ELSE 'pass' END AS reason "
            "FROM gp JOIN c4 ON gp.doc_id = c4.doc_id "
            "JOIN lr ON gp.doc_id = lr.doc_id) "
            "SELECT keep, reason, CAST(count(*) AS BIGINT) AS n_docs, "
            "CAST(min(doc_id) AS BIGINT) AS first_doc FROM r GROUP BY 1, 2"
        ),
        "dedup_substring_spans": (
            "WITH t AS (SELECT doc_id, "
            "list_filter(string_split_regex(trim(lower(text)), '\\s+'), "
            "w -> w != '') AS tk FROM documents), "
            "w AS (SELECT doc_id, i, "
            "md5(array_to_string(tk[i+1:i+8], ' ')) AS h "
            "FROM t, unnest(range(0, greatest(len(tk) - 7, 0))) AS u(i)), "
            "d AS (SELECT h FROM w GROUP BY h "
            "HAVING count(DISTINCT doc_id) >= 2), "
            "hits AS (SELECT * FROM w WHERE h IN (SELECT h FROM d)), "
            "f AS (SELECT doc_id, i, CASE WHEN "
            "lag(i) OVER (PARTITION BY doc_id ORDER BY i) IS NULL "
            "OR i > lag(i) OVER (PARTITION BY doc_id ORDER BY i) + 8 "
            "THEN 1 ELSE 0 END AS nw FROM hits), "
            "g AS (SELECT doc_id, i, sum(nw) OVER (PARTITION BY doc_id "
            "ORDER BY i) AS island FROM f) "
            "SELECT doc_id, CAST(min(i) AS BIGINT) AS span_start, "
            "CAST(max(i) + 8 AS BIGINT) AS span_end, "
            "CAST(count(*) AS BIGINT) AS n_dup_windows "
            "FROM g GROUP BY doc_id, island"
        ),
        "layout_zorder": (
            # Morton interleave replayed as unrolled bit arithmetic
            "SELECT event_id, CAST("
            + " + ".join(
                f"((((event_id % 256) >> {j}) & 1) << {2 * j}) + "
                f"((((user_id % 256) >> {j}) & 1) << {2 * j + 1})"
                for j in range(8)
            )
            + " AS BIGINT) AS zkey FROM events WHERE event_id < 2000"
        ),
        "corpus_temperature_mix": (
            "WITH t AS (SELECT source, CAST(sum(n_chars) AS DOUBLE) AS n "
            "FROM documents GROUP BY source), "
            "s AS (SELECT sum(pow(n, 0.3)) AS wsum, sum(n) AS ntot FROM t), "
            "r AS (SELECT source, pow(n, 0.3) / wsum * ntot / n AS rate FROM t, s), "
            "d AS (SELECT doc_id, source, n_chars, greatest(rate, 0) AS rate "
            "FROM documents JOIN r USING (source)), "
            "e AS (SELECT *, unnest(range(0, greatest(CAST(ceil(rate) AS BIGINT), 1))) "
            "AS epoch FROM d), "
            "k AS (SELECT * FROM e WHERE epoch < floor(rate) OR "
            "CAST(concat('0x', substr(md5(concat('kpf-temp', '|', "
            "CAST(doc_id AS VARCHAR), '|', CAST(epoch AS VARCHAR))), 1, 8)) AS BIGINT) "
            "/ 4294967296.0 < rate - floor(rate)) "
            "SELECT source, CAST(epoch AS BIGINT) AS epoch, "
            "CAST(count(*) AS BIGINT) AS n_docs, "
            "CAST(sum(n_chars) AS BIGINT) AS sum_chars "
            "FROM k GROUP BY 1, 2"
        ),
        "avro_roundtrip": (
            # predictive: a correct OCF encode->decode is the identity,
            # so the stats equal the source's
            "SELECT event_type, CAST(count(*) AS BIGINT) AS n, "
            "CAST(sum(event_id) AS BIGINT) AS sum_id, "
            + _sumd_sql("value", "sum_value")
            + " FROM events WHERE event_id < 5000 GROUP BY 1"
        ),
        "w3c_log_parse": (
            # predictive: the stats of the parsed W3C lines derived
            # directly from the source columns
            "SELECT upper(event_type) AS cs_method, "
            "CASE WHEN value > 50 THEN '200' ELSE '404' END AS sc_status, "
            "CAST(count(*) AS BIGINT) AS n, "
            "CAST(count(*) FILTER (WHERE event_id % 7 = 0) AS BIGINT) AS n_missing_tt, "
            "CAST(sum(event_id % 1000) FILTER (WHERE event_id % 7 != 0) AS BIGINT) AS sum_tt, "
            "min(concat('/p/', CAST(event_id % 97 AS VARCHAR))) AS first_uri "
            "FROM events WHERE event_id < 5000 GROUP BY 1, 2"
        ),
        "text_c4": _c4_oracle_sql(),
        "text_fingerprint": fingerprint,
        "multimodal_meta": (
            "SELECT doc_id, sha256(text) AS content_sha, "
            "CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes FROM documents"
        ),
        "events_hourly": (
            "SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour, "
            "CAST(count(*) AS BIGINT) AS n, " + _sumd_sql("value", "sum_value") + " "
            "FROM events GROUP BY 1"
        ),
        "events_session_window": (
            # replays session_window semantics: break when the gap to the
            # previous event is >= 30 min (half-open window), end = last+gap
            "WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, "
            "CAST(value AS DECIMAL(20,4)) AS v FROM events), "
            "l AS (SELECT *, lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS pts FROM e), "
            "m AS (SELECT *, CASE WHEN pts IS NULL "
            "OR ts - pts >= INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS brk FROM l), "
            "s AS (SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts "
            "ROWS UNBOUNDED PRECEDING) AS sid FROM m) "
            "SELECT user_id, min(ts) AS session_start, "
            "max(ts) + INTERVAL 30 MINUTE AS session_end, "
            "CAST(count(*) AS BIGINT) AS n_events, "
            "CAST(sum(v) AS DOUBLE) AS total_value "
            "FROM s GROUP BY user_id, sid"
        ),
        "events_windowed": (
            "SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS window_start, "
            "date_trunc('hour', CAST(ts AS TIMESTAMP)) + INTERVAL 1 HOUR AS window_end, "
            "event_type, CAST(count(*) AS BIGINT) AS n "
            "FROM events GROUP BY 1, 2, 3"
        ),
        # DuckDB's native ASOF JOIN: greatest r.ts <= l.ts per key — the
        # same latest-at-or-before semantics as operators/temporal.as_of_join
        "asof_join": (
            "WITH clicks AS (SELECT user_id, event_id, ts FROM events "
            "WHERE event_type = 'click'), "
            "purchases AS (SELECT user_id, ts, max(event_id) AS purchase_id "
            "FROM events WHERE event_type = 'purchase' GROUP BY 1, 2) "
            "SELECT l.event_id, r.purchase_id "
            "FROM clicks l ASOF LEFT JOIN purchases r "
            "ON l.user_id = r.user_id AND l.ts >= r.ts"
        ),
        "kql_scalar_suite": (
            "SELECT substr(o_orderpriority, 1, 1) AS prio_code, "
            "CAST(sum(CASE WHEN o_totalprice > 100000 THEN 1 ELSE 0 END) AS BIGINT) AS n_big, "
            "round(CAST(sum(CASE WHEN o_totalprice > 100000 "
            "THEN CAST(o_totalprice AS DECIMAL(20,4)) END) AS DOUBLE), 4) AS sum_big, "
            "list_aggregate(list_sort(list_distinct(list(lower(o_orderstatus)))), 'string_agg', ',') AS statuses, "
            "CAST(sum(CASE WHEN o_orderstatus IS NULL OR o_orderstatus = '' THEN 1 ELSE 0 END) AS BIGINT) "
            "AS n_empty_status, "
            "CAST(max(length(o_orderpriority)) AS INT) AS max_prio_len, "
            "CAST(sum(CASE WHEN o_totalprice < 1000 THEN 1 ELSE 0 END) AS BIGINT) AS n_tiny "
            "FROM orders GROUP BY 1"
        ),
        "kql_parse": (
            "SELECT c_custkey, CAST(regexp_extract(c_name, '^Customer#(.*)', 1) AS BIGINT) "
            "AS cnum FROM customer"
        ),
        "kql_make_series": (
            "WITH binned AS ("
            " SELECT event_type, date_trunc('hour', ts) AS series_ts,"
            " CAST(sum(CAST(value AS DECIMAL(20,4))) AS DOUBLE) AS series_value"
            " FROM events GROUP BY 1, 2"
            "), bounds AS ("
            " SELECT min(date_trunc('hour', ts)) AS lo,"
            " max(date_trunc('hour', ts)) AS hi FROM events"
            "), axis AS ("
            " SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS series_ts"
            " FROM bounds"
            "), keys AS (SELECT DISTINCT event_type FROM events) "
            "SELECT k.event_type, a.series_ts,"
            " coalesce(b.series_value, 0.0) AS series_value"
            " FROM keys k CROSS JOIN axis a"
            " LEFT JOIN binned b"
            " ON b.event_type = k.event_type AND b.series_ts = a.series_ts"
        ),
        "kql_join_innerunique": (
            "WITH dl AS ("
            " SELECT l_orderkey, l_partkey, l_quantity FROM ("
            "  SELECT l_orderkey, l_partkey, l_quantity,"
            "  row_number() OVER (PARTITION BY l_orderkey"
            "   ORDER BY l_linenumber, l_partkey, l_quantity) AS rn"
            "  FROM lineitem) WHERE rn = 1"
            ") "
            "SELECT dl.l_orderkey, dl.l_partkey, dl.l_quantity, o.o_totalprice"
            " FROM dl JOIN orders o ON o.o_orderkey = dl.l_orderkey"
        ),
        "set_except": (
            "SELECT c_custkey AS k FROM customer"
            " EXCEPT SELECT o_custkey AS k FROM orders"
        ),
        "set_intersect": (
            "SELECT c_nationkey AS nk FROM customer"
            " INTERSECT SELECT s_nationkey AS nk FROM supplier"
        ),
        "kql_top_nested": (
            "WITH j AS ("
            " SELECT r_name, n_name, CAST(c_acctbal AS DECIMAL(20,4)) AS ab"
            " FROM customer"
            " JOIN nation ON c_nationkey = n_nationkey"
            " JOIN region ON n_regionkey = r_regionkey"
            "), inner_agg AS ("
            " SELECT r_name, n_name, sum(ab) AS nb FROM j GROUP BY 1, 2"
            "), outer_agg AS ("
            " SELECT r_name, sum(nb) AS rb FROM inner_agg GROUP BY 1"
            "), top_outer AS ("
            " SELECT r_name, rb FROM ("
            "  SELECT r_name, rb, row_number() OVER (ORDER BY rb DESC, r_name) AS r"
            "  FROM outer_agg) WHERE r <= 3"
            "), top_inner AS ("
            " SELECT r_name, n_name, nb FROM ("
            "  SELECT r_name, n_name, nb,"
            "  row_number() OVER (PARTITION BY r_name ORDER BY nb DESC, n_name) AS r"
            "  FROM inner_agg) WHERE r <= 2"
            ") "
            "SELECT o.r_name, CAST(o.rb AS DOUBLE) AS region_bal,"
            " i.n_name, CAST(i.nb AS DOUBLE) AS nation_bal"
            " FROM top_outer o JOIN top_inner i ON o.r_name = i.r_name"
        ),
        "kql_datetime_suite": (
            # naive-interval arithmetic (no TIMESTAMPTZ: engines' session
            # zones must not leak in); date_diff args are start,end in
            # DuckDB — reversed vs Spark's datediff(end, start)
            "SELECT event_id, "
            "TIMESTAMP '1970-01-01' + to_seconds(event_id * 3600 + 1700000000) AS ut_s, "
            "TIMESTAMP '1970-01-01' + to_milliseconds(event_id * 1000 + 1700000000000) AS ut_ms, "
            "make_timestamp(2024, CAST(event_id % 12 + 1 AS BIGINT), "
            "CAST(event_id % 28 + 1 AS BIGINT), 0, 0, 0) AS mkdt, "
            "CAST(year(ts) - 2024 AS BIGINT) AS dy, "
            "CAST((year(ts) - 2024) * 4 + quarter(ts) - 1 AS BIGINT) AS dq, "
            "CAST((year(ts) - 2024) * 12 + month(ts) - 1 AS BIGINT) AS dmo, "
            "CAST(date_diff('day', DATE '2024-01-14', "
            "CAST(ts AS DATE) - dayofweek(CAST(ts AS TIMESTAMP)) "
            "* INTERVAL 1 DAY) / 7 AS BIGINT) AS dw, "
            "CAST(date_diff('day', DATE '2024-01-15', CAST(ts AS DATE)) "
            "AS BIGINT) AS dd, "
            "CAST(floor(epoch_us(CAST(ts AS TIMESTAMP)) / 3600000000.0) "
            "- floor(epoch_us(TIMESTAMP '2024-01-15 06:30:00') / 3600000000.0) "
            "AS BIGINT) AS dh, "
            "CAST(weekofyear(CAST(ts AS TIMESTAMP)) AS INT) AS woy, "
            "CAST(dayofyear(CAST(ts AS TIMESTAMP)) AS INT) AS doy, "
            "CAST(month(ts) AS INT) AS moy, "
            "CAST(hour(CAST(ts AS TIMESTAMP)) AS INT) AS hod, "
            "CAST(year(ts) AS INT) AS yr, "
            "make_timestamp(CAST(year(ts) + 1 AS BIGINT), 1, 1, 0, 0, 0) "
            "- INTERVAL 1 MICROSECOND AS eoy, "
            "CAST(CASE WHEN regexp_matches(event_type, '[iu]') "
            "THEN length(string_split_regex(event_type, '[iu]')[1]) "
            "ELSE -1 END AS BIGINT) AS ixr, "
            "CAST(-1 AS BIGINT) AS ixr_miss, "
            "CAST(CASE WHEN contains(event_type, 'xx') THEN 0 "
            "WHEN contains(event_type, 'ck') THEN 1 "
            "WHEN contains(event_type, 'or') THEN 2 ELSE -1 END AS BIGINT) AS hai "
            "FROM events WHERE event_id < 400"
        ),
        "kql_top_nested_others": (
            "WITH j AS ("
            " SELECT r_name, n_name, CAST(c_acctbal AS DECIMAL(20,4)) AS ab"
            " FROM customer"
            " JOIN nation ON c_nationkey = n_nationkey"
            " JOIN region ON n_regionkey = r_regionkey"
            "), inner_agg AS ("
            " SELECT r_name, n_name, sum(ab) AS nb FROM j GROUP BY 1, 2"
            "), outer_agg AS ("
            " SELECT r_name, sum(nb) AS rb FROM inner_agg GROUP BY 1"
            "), top_outer AS ("
            " SELECT r_name, rb FROM ("
            "  SELECT r_name, rb, row_number() OVER (ORDER BY rb DESC, r_name) AS r"
            "  FROM outer_agg) WHERE r <= 3"
            "), top_inner AS ("
            " SELECT r_name, n_name, nb FROM ("
            "  SELECT r_name, n_name, nb,"
            "  row_number() OVER (PARTITION BY r_name ORDER BY nb DESC, n_name) AS r"
            "  FROM inner_agg) WHERE r <= 2"
            "), kept AS ("
            " SELECT o.r_name, o.rb, i.n_name, i.nb"
            " FROM top_outer o JOIN top_inner i ON o.r_name = i.r_name"
            "), inner_others AS ("
            " SELECT o.r_name, o.rb, 'Other' AS n_name,"
            " o.rb - s.kept_nb AS nb"
            " FROM top_outer o JOIN (SELECT r_name, sum(nb) AS kept_nb"
            " FROM top_inner GROUP BY 1) s ON o.r_name = s.r_name"
            "), outer_others AS ("
            " SELECT 'Other' AS r_name,"
            " (SELECT sum(rb) FROM outer_agg) - (SELECT sum(rb) FROM top_outer) AS rb,"
            " 'Other' AS n_name,"
            " (SELECT sum(rb) FROM outer_agg) - (SELECT sum(rb) FROM top_outer) AS nb"
            ") "
            "SELECT r_name, CAST(rb AS DOUBLE) AS region_bal,"
            " n_name, CAST(nb AS DOUBLE) AS nation_bal FROM ("
            " SELECT * FROM kept UNION ALL SELECT * FROM inner_others"
            " UNION ALL SELECT * FROM outer_others)"
        ),
        "kql_mv_apply": (
            "SELECT doc_id, CAST(list_sum("
            "list_transform(string_split(text, ' '), x -> length(x))"
            ") AS BIGINT) AS word_chars FROM documents"
        ),
        "window_lag_delta": (
            "SELECT event_id, user_id,"
            " coalesce(value - lag(value) OVER"
            " (PARTITION BY user_id ORDER BY ts, event_id), 0.0) AS delta"
            " FROM events"
        ),
        "pipeline_corpus_mix": (
            # the whole mixture pipeline replayed: token gate -> budget cap
            # -> split thresholds -> fractional epoch, all md5-unit rules
            "WITH d AS (SELECT doc_id, source, "
            "len(list_filter(string_split_regex(trim(lower(text)), '\\s+'), t -> t != '')) AS n_tok "
            "FROM documents), "
            "g AS (SELECT * FROM d WHERE n_tok >= 20), "
            "t AS (SELECT source, sum(n_tok) AS total FROM g GROUP BY source), "
            "c AS (SELECT g.* FROM g JOIN t USING (source) "
            "WHERE CAST(concat('0x', substr(md5(concat('kpf-budget', '|', CAST(doc_id AS VARCHAR))), 1, 8)) AS BIGINT) / 4294967296.0 < least(1.0, 15000 / CAST(total AS DOUBLE))), "
            "s AS (SELECT *, CASE WHEN CAST(concat('0x', substr(md5(concat('kpf-split', '|', CAST(doc_id AS VARCHAR))), 1, 8)) AS BIGINT) / 4294967296.0 < 0.9 THEN 'train' "
            "WHEN CAST(concat('0x', substr(md5(concat('kpf-split', '|', CAST(doc_id AS VARCHAR))), 1, 8)) AS BIGINT) / 4294967296.0 < 0.95 THEN 'val' ELSE 'test' END AS split FROM c), "
            "up AS (SELECT source, split, 0 AS epoch, n_tok FROM s WHERE split = 'train' "
            "UNION ALL "
            "SELECT source, split, 1, n_tok FROM s WHERE split = 'train' "
            "AND CAST(concat('0x', substr(md5(concat('kpf-epoch', '|', concat(CAST(doc_id AS VARCHAR), '|', '1'))), 1, 8)) AS BIGINT) / 4294967296.0 < 0.5 "
            "UNION ALL "
            "SELECT source, split, 0, n_tok FROM s WHERE split != 'train') "
            "SELECT source, split, CAST(epoch AS BIGINT) AS epoch, "
            "CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS n_tokens "
            "FROM up GROUP BY 1, 2, 3"
        ),
        "pipeline_docs_clean": pipeline_docs,
        "kql_basket": (
            "WITH e AS (SELECT event_type, CASE WHEN value IS NULL THEN -1 "
            "ELSE CAST(floor(CAST(value AS DOUBLE) / 25) AS BIGINT) END AS vbucket "
            "FROM events), "
            "n AS (SELECT count(*) AS total FROM e), "
            "s1 AS (SELECT concat('event_type=', event_type) AS itemset, "
            "CAST(1 AS BIGINT) AS size, CAST(count(*) AS BIGINT) AS n_rows "
            "FROM e GROUP BY event_type), "
            "s2 AS (SELECT concat('vbucket=', CAST(vbucket AS VARCHAR)) AS itemset, "
            "CAST(1 AS BIGINT) AS size, CAST(count(*) AS BIGINT) AS n_rows "
            "FROM e GROUP BY vbucket), "
            "p AS (SELECT concat('event_type=', event_type, ',vbucket=', "
            "CAST(vbucket AS VARCHAR)) AS itemset, CAST(2 AS BIGINT) AS size, "
            "CAST(count(*) AS BIGINT) AS n_rows FROM e GROUP BY event_type, vbucket), "
            "u AS (SELECT * FROM s1 UNION ALL SELECT * FROM s2 UNION ALL SELECT * FROM p) "
            "SELECT itemset, size, n_rows, "
            "round(CAST(n_rows AS DOUBLE) / total, 6) AS support "
            "FROM u, n WHERE n_rows >= 0.05 * total"
        ),
        "activity_funnel": (
            "WITH s0 AS (SELECT user_id, min(ts) AS t FROM events "
            "WHERE event_type = 'signup' GROUP BY 1), "
            "s1 AS (SELECT e.user_id, min(e.ts) AS t FROM events e "
            "JOIN s0 ON e.user_id = s0.user_id "
            "WHERE e.event_type = 'click' AND e.ts > s0.t GROUP BY 1), "
            "s2 AS (SELECT e.user_id, min(e.ts) AS t FROM events e "
            "JOIN s1 ON e.user_id = s1.user_id "
            "WHERE e.event_type = 'purchase' AND e.ts > s1.t GROUP BY 1) "
            "SELECT CAST(0 AS BIGINT) AS step_index, 'signup' AS step_value, "
            "CAST(count(*) AS BIGINT) AS n_actors FROM s0 "
            "UNION ALL SELECT 1, 'click', CAST(count(*) AS BIGINT) FROM s1 "
            "UNION ALL SELECT 2, 'purchase', CAST(count(*) AS BIGINT) FROM s2"
        ),
        "activity_transitions": (
            "WITH o AS (SELECT user_id, event_type, "
            "lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev "
            "FROM events) "
            "SELECT prev AS from_state, event_type AS to_state, "
            "CAST(count(*) AS BIGINT) AS n FROM o WHERE prev IS NOT NULL "
            "GROUP BY 1, 2"
        ),
        "kql_bag_ops": (
            # expected strings constructed directly: merged keys sorted
            # (et, id, z), left bag's id wins over the OVERRIDE
            "SELECT event_id, "
            "concat('{\"et\":\"', event_type, '\",\"id\":\"', "
            "CAST(event_id AS VARCHAR), '\",\"z\":\"x\"}') AS merged, "
            "concat('{\"id\":\"', CAST(event_id AS VARCHAR), '\",\"z\":\"x\"}') AS removed, "
            "'et,id,z' AS keys "
            "FROM events WHERE event_id < 300"
        ),
        "activity_retention": (
            "WITH p AS (SELECT DISTINCT user_id AS a, date_trunc('week', ts) AS b FROM events), "
            "f AS (SELECT a, min(b) AS cohort FROM p GROUP BY 1), "
            "j AS (SELECT p.a, f.cohort, "
            "CAST((epoch(p.b) - epoch(f.cohort)) / 604800 AS BIGINT) AS \"offset\" "
            "FROM p JOIN f USING (a)), "
            "c AS (SELECT cohort, \"offset\", CAST(count(DISTINCT a) AS BIGINT) AS n_active "
            "FROM j GROUP BY 1, 2), "
            "s AS (SELECT cohort, n_active AS sz FROM c WHERE \"offset\" = 0) "
            "SELECT c.cohort, c.\"offset\", c.n_active, "
            "round(CAST(c.n_active AS DOUBLE) / s.sz, 6) AS retention "
            "FROM c JOIN s USING (cohort)"
        ),
        "activity_active_users": (
            "WITH p AS (SELECT DISTINCT user_id AS a, CAST(ts AS DATE) AS d FROM events), "
            "bounds AS (SELECT min(d) AS lo, max(d) AS hi FROM p), "
            "axis AS (SELECT CAST(unnest(generate_series(CAST(lo AS TIMESTAMP), "
            "CAST(hi AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS day FROM bounds), "
            "pa AS (SELECT ax.day, p.a, count(*) AS days FROM axis ax "
            "JOIN p ON p.d BETWEEN ax.day - 6 AND ax.day GROUP BY 1, 2), "
            "agg AS (SELECT day, CAST(count(*) AS BIGINT) AS au "
            "FROM pa WHERE days >= 2 GROUP BY 1) "
            "SELECT CAST(axis.day AS TIMESTAMP) AS day, "
            "coalesce(agg.au, 0) AS active_users "
            "FROM axis LEFT JOIN agg USING (day)"
        ),
        "activity_funnel_sequence": (
            "WITH t AS (SELECT user_id AS a, CAST(ts AS TIMESTAMP) AS ts, "
            "event_type AS s FROM events), "
            "l AS (SELECT *, lag(s) OVER (PARTITION BY a ORDER BY ts, s) AS p, "
            "lead(s) OVER (PARTITION BY a ORDER BY ts, s) AS nx FROM t) "
            "SELECT coalesce(p, '<start>') AS prev_state, "
            "coalesce(nx, '<end>') AS next_state, CAST(count(*) AS BIGINT) AS n "
            "FROM l WHERE s = 'view' GROUP BY 1, 2"
        ),
        "activity_rolling_percentile": (
            "WITH ev AS (SELECT CAST(value AS DOUBLE) AS v, CAST(ts AS DATE) AS d "
            "FROM events WHERE value IS NOT NULL), "
            "bounds AS (SELECT min(d) AS lo, max(d) AS hi FROM ev), "
            "axis AS (SELECT CAST(unnest(generate_series(CAST(lo AS TIMESTAMP), "
            "CAST(hi AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS day FROM bounds), "
            "agg AS (SELECT ax.day, quantile_cont(e.v, 0.5) AS p "
            "FROM axis ax JOIN ev e ON e.d BETWEEN ax.day - 6 AND ax.day "
            "GROUP BY 1) "
            "SELECT CAST(axis.day AS TIMESTAMP) AS day, round(agg.p, 6) AS p50 "
            "FROM axis LEFT JOIN agg USING (day)"
        ),
        "activity_sliding_counts": (
            "WITH ev AS (SELECT user_id AS a, CAST(ts AS DATE) AS d FROM events), "
            "bounds AS (SELECT min(d) AS lo, max(d) AS hi FROM ev), "
            "axis AS (SELECT CAST(unnest(generate_series(CAST(lo AS TIMESTAMP), "
            "CAST(hi AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS day FROM bounds), "
            "agg AS (SELECT ax.day, CAST(count(*) AS BIGINT) AS c, "
            "CAST(count(DISTINCT e.a) AS BIGINT) AS dc "
            "FROM axis ax JOIN ev e ON e.d BETWEEN ax.day - 6 AND ax.day "
            "GROUP BY 1) "
            "SELECT CAST(axis.day AS TIMESTAMP) AS day, "
            "coalesce(agg.c, 0) AS count_events, "
            "coalesce(agg.dc, 0) AS dcount_actors "
            "FROM axis LEFT JOIN agg USING (day)"
        ),
        "activity_engagement": (
            "WITH p AS (SELECT DISTINCT user_id AS a, CAST(ts AS DATE) AS d FROM events), "
            "ic AS (SELECT d AS day, CAST(count(DISTINCT a) AS BIGINT) AS inner_active "
            "FROM p GROUP BY 1), "
            "oc AS (SELECT DISTINCT a, CAST(unnest(generate_series(CAST(d AS TIMESTAMP), "
            "CAST(d AS TIMESTAMP) + INTERVAL 6 DAY, INTERVAL 1 DAY)) AS DATE) AS day FROM p), "
            "outc AS (SELECT day, CAST(count(DISTINCT a) AS BIGINT) AS outer_active "
            "FROM oc GROUP BY 1), "
            "obs AS (SELECT DISTINCT d AS day FROM p) "
            "SELECT obs.day, coalesce(ic.inner_active, 0) AS inner_active, "
            "coalesce(outc.outer_active, 0) AS outer_active, "
            "round(CAST(coalesce(ic.inner_active, 0) AS DOUBLE) / "
            "CAST(coalesce(outc.outer_active, 1) AS DOUBLE), 6) AS engagement_ratio "
            "FROM obs LEFT JOIN ic USING (day) LEFT JOIN outc USING (day)"
        ),
        "kql_series_fit": (
            # same closed-form OLS as kql.series_fit_line/_2lines: raw sums
            # (sy, syy, sxy over x = 0..n-1), centered forms, residual SSE;
            # the 2-line scan replays every split s in [2, n-2] with
            # FILTERed segment sums (right segment uses local x = idx - s)
            "WITH bounds AS (SELECT min(date_trunc('day', CAST(ts AS TIMESTAMP))) lo, "
            "max(date_trunc('day', CAST(ts AS TIMESTAMP))) hi FROM events), "
            "axis AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS d FROM bounds), "
            "keys AS (SELECT DISTINCT event_type FROM events), "
            "binned AS (SELECT event_type, date_trunc('day', CAST(ts AS TIMESTAMP)) AS d, "
            "CAST(sum(CAST(value AS DECIMAL(20,4))) AS DOUBLE) AS v FROM events GROUP BY 1, 2), "
            "dense AS (SELECT k.event_type, "
            "row_number() OVER (PARTITION BY k.event_type ORDER BY a.d) - 1 AS idx, "
            "coalesce(b.v, 0.0) AS v "
            "FROM keys k CROSS JOIN axis a "
            "LEFT JOIN binned b ON b.event_type = k.event_type AND b.d = a.d), "
            "sums AS (SELECT event_type, count(*) AS n, sum(v) AS sy, "
            "sum(v * v) AS syy, sum(idx * v) AS sxy FROM dense GROUP BY 1), "
            "fit1 AS (SELECT event_type, n, "
            "n * (n - 1) / 2.0 AS sx, (n - 1) * n * (2.0 * n - 1) / 6.0 AS sxx, "
            "sy, syy, sxy FROM sums), "
            "fit2 AS (SELECT *, "
            "(sxy - sx * sy / n) / (sxx - sx * sx / n) AS slope FROM fit1), "
            "fit AS (SELECT *, (sy - slope * sx) / n AS interception, "
            "(syy - sy * sy / n) / (n - 1) AS variance, "
            "greatest((syy - sy * sy / n) - slope * (sxy - sx * sy / n), 0) "
            "/ (n - 1) AS rvariance, syy - sy * sy / n AS syy_c FROM fit2), "
            # 2-line scan in the SAME window form as series_fit_2lines_df:
            # exclusive/inclusive sequential cumsums, totals = max inclusive
            # cumsum — every quantity is the identical left-to-right double
            # sum, so the per-split SSE argmin is bit-stable across engines
            "pre AS (SELECT event_type, idx, "
            "COALESCE(SUM(v) OVER (PARTITION BY event_type ORDER BY idx "
            "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS lsy, "
            "COALESCE(SUM(v * v) OVER (PARTITION BY event_type ORDER BY idx "
            "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS lsyy, "
            "COALESCE(SUM(idx * v) OVER (PARTITION BY event_type ORDER BY idx "
            "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS lsxy, "
            "SUM(v) OVER (PARTITION BY event_type ORDER BY idx "
            "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS csy, "
            "SUM(v * v) OVER (PARTITION BY event_type ORDER BY idx "
            "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS csyy, "
            "SUM(idx * v) OVER (PARTITION BY event_type ORDER BY idx "
            "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS csxy "
            "FROM dense), "
            "tt AS (SELECT *, count(*) OVER (PARTITION BY event_type) AS n, "
            "max_by(csy, idx) OVER (PARTITION BY event_type) AS tsy, "
            "max_by(csyy, idx) OVER (PARTITION BY event_type) AS tsyy, "
            "max_by(csxy, idx) OVER (PARTITION BY event_type) AS tsxy FROM pre), "
            "cand AS (SELECT event_type, idx AS s, n, "
            "lsy, lsyy, lsxy, tsy - lsy AS rsy, tsyy - lsyy AS rsyy, "
            "(tsxy - lsxy) - idx * (tsy - lsy) AS rsxy, "
            "tsyy - tsy * tsy / n AS syyc "
            "FROM tt WHERE idx >= 2 AND idx <= n - 2), "
            "seg AS (SELECT *, s AS lm, n - s AS rm, "
            "s * (s - 1) / 2.0 AS lsx, (s - 1) * s * (2.0 * s - 1) / 6.0 AS lsxx, "
            "(n - s) * (n - s - 1) / 2.0 AS rsx, "
            "(n - s - 1) * (n - s) * (2.0 * (n - s) - 1) / 6.0 AS rsxx "
            "FROM cand), "
            "segsse AS (SELECT *, "
            "(lsxy - lsx * lsy / lm) / (lsxx - lsx * lsx / lm) AS lslope, "
            "(rsxy - rsx * rsy / rm) / (rsxx - rsx * rsx / rm) AS rslope "
            "FROM seg), "
            "sse AS (SELECT *, "
            "greatest((lsyy - lsy * lsy / lm) - lslope * (lsxy - lsx * lsy / lm), 0) + "
            "greatest((rsyy - rsy * rsy / rm) - rslope * (rsxy - rsx * rsy / rm), 0) "
            "AS total_sse FROM segsse), "
            "best AS (SELECT *, row_number() OVER (PARTITION BY event_type "
            "ORDER BY total_sse, s) AS rk FROM sse) "
            "SELECT f.event_type, "
            "round(f.slope, 4) AS slope, round(f.interception, 4) AS interception, "
            "round(CASE WHEN f.variance > 0 THEN 1.0 - f.rvariance / f.variance "
            "ELSE 1.0 END, 4) AS rsquare, "
            "round(f.variance, 3) AS variance, round(f.rvariance, 3) AS rvariance, "
            "CAST(b.s AS BIGINT) AS split_idx, "
            "round(CASE WHEN b.syyc > 0 THEN 1.0 - b.total_sse / b.syyc "
            "ELSE 1.0 END, 4) AS rsquare2, "
            "round(b.lslope, 4) AS slope_left, round(b.rslope, 4) AS slope_right, "
            "round((b.lsy - b.lslope * b.lsx) / b.lm, 4) AS interception_left, "
            "round((b.rsy - b.rslope * b.rsx) / b.rm - b.rslope * b.s, 4) "
            "AS interception_right "
            "FROM fit f JOIN best b ON b.event_type = f.event_type AND b.rk = 1"
        ),
        "sequence_detect": (
            "WITH s1 AS (SELECT user_id AS a, min(ts) AS t1 FROM events "
            "WHERE event_type = 'view' GROUP BY 1), "
            "s2 AS (SELECT e.user_id AS a, s1.t1, min(e.ts) AS t2 "
            "FROM events e JOIN s1 ON e.user_id = s1.a "
            "WHERE e.event_type = 'click' AND e.ts > s1.t1 "
            "AND epoch_us(e.ts) - epoch_us(s1.t1) <= 172800000000 "
            "GROUP BY 1, 2), "
            "s3 AS (SELECT e.user_id AS a, s2.t1, s2.t2, min(e.ts) AS t3 "
            "FROM events e JOIN s2 ON e.user_id = s2.a "
            "WHERE e.event_type = 'purchase' AND e.ts > s2.t2 "
            "AND epoch_us(e.ts) - epoch_us(s2.t2) <= 172800000000 "
            "GROUP BY 1, 2, 3) "
            "SELECT a AS user_id, t1 AS step1_ts, t2 AS step2_ts, t3 AS step3_ts, "
            "round((epoch_us(t3) - epoch_us(t1)) / 1000000.0, 6) AS span_s "
            "FROM s3 WHERE epoch_us(t3) - epoch_us(t1) <= 259200000000"
        ),
        "kql_scalar_suite6": (
            # predicts from the injection rule: id%4 = 1/2 -> ±inf,
            # 3 -> NaN, 0 -> the raw value (finite or null)
            "SELECT event_id, "
            "CASE WHEN event_id % 4 = 0 THEN value IS NOT NULL ELSE false END AS fin, "
            "event_id % 4 IN (1, 2) AS inf_, "
            "CASE WHEN value IS NULL THEN 'null' ELSE 'real' END AS t_value, "
            "CASE WHEN event_type IS NULL THEN 'null' ELSE 'string' END AS t_type, "
            "regexp_replace(event_type, '^(?:[cv])', '') AS ts_, "
            "regexp_replace(event_type, '(?:[ew])$', '') AS te_, "
            "concat_ws(',', event_id % 3, event_id % 11, event_id % 5, event_id % 7) AS rot, "
            "concat(concat_ws(',', event_id % 5, event_id % 7), '|', "
            "concat_ws(',', event_id % 3, event_id % 11)) AS split2 "
            "FROM events WHERE event_id < 400"
        ),
        "dedup_edit_distance": (
            # the segment-vs-window banding is COMPLETE for all edit
            # kinds, so the oracle is the brute-force lev<=k pair set —
            # a strictly stronger check than replaying the candidate rule
            "WITH t AS (SELECT doc_id, concat('title-', "
            "CAST(doc_id // 2 AS VARCHAR), "
            "CASE WHEN doc_id % 2 = 0 THEN '-alpha' ELSE '-alphb' END) AS s "
            "FROM documents WHERE doc_id < 100) "
            "SELECT l.doc_id AS id_a, r.doc_id AS id_b, "
            "CAST(levenshtein(l.s, r.s) AS BIGINT) AS distance "
            "FROM t l JOIN t r ON l.doc_id < r.doc_id "
            "WHERE levenshtein(l.s, r.s) <= 1"
        ),
        "interval_overlap": (
            "WITH c AS (SELECT user_id, event_id AS click_id, "
            "epoch(CAST(ts AS TIMESTAMP)) AS cs, "
            "epoch(CAST(ts AS TIMESTAMP)) + 1800 AS ce "
            "FROM events WHERE event_type = 'click'), "
            "b AS (SELECT user_id, event_id AS buy_id, "
            "epoch(CAST(ts AS TIMESTAMP)) AS bs, "
            "epoch(CAST(ts AS TIMESTAMP)) + 2700 AS be "
            "FROM events WHERE event_type = 'purchase') "
            "SELECT c.user_id, CAST(count(*) AS BIGINT) AS n_overlaps, "
            "CAST(min(click_id) AS BIGINT) AS first_click "
            "FROM c JOIN b ON c.user_id = b.user_id "
            "AND cs <= be AND bs <= ce "
            "GROUP BY 1"
        ),
        "kql_math_suite": (
            "SELECT event_id, "
            "round(gamma((event_id % 9) + 1.5), 6) AS gam, "
            "round(lgamma((event_id % 9) + 1.5), 6) AS lgam, "
            "CAST(NULL AS DOUBLE) AS gam_pole, "
            "round(pow(2.0, CAST(event_id % 10 AS DOUBLE)), 6) AS e2, "
            "round(log2(CAST(event_id % 10 + 1 AS DOUBLE)), 6) AS l2, "
            "round(degrees(radians(CAST(event_id % 180 AS DOUBLE))), 6) AS deg_rt "
            "FROM events WHERE event_id < 200"
        ),
        "kql_bag_ops2": (
            "SELECT event_id, true AS has_a, false AS has_q, false AS has_bad, "
            "concat('{\"a\":\"', CAST(event_id % 7 AS VARCHAR), "
            "'\",\"m\":\"', CAST(event_id % 3 AS VARCHAR), '\",\"z\":\"9\"}') AS upserted, "
            "'{\"a\":\"new\",\"z\":\"9\"}' AS replaced, "
            "'z|y|x' AS rev, "
            "repeat('r', CAST(event_id % 3 AS INTEGER)) AS reps "
            "FROM events WHERE event_id < 300"
        ),
        "kql_string_distance": (
            # Robert/Rupert both soundex to R163 (the classic vector)
            "WITH t AS (SELECT event_id, event_type, "
            "concat(reverse(event_type), CAST(event_id % 10 AS VARCHAR)) AS m "
            "FROM events WHERE event_id < 300) "
            "SELECT event_id, "
            "CAST(levenshtein(event_type, m) AS BIGINT) AS lev, "
            "round(CASE WHEN greatest(length(event_type), length(m)) = 0 "
            "THEN 1.0 ELSE 1.0 - CAST(levenshtein(event_type, m) AS DOUBLE) "
            "/ CAST(greatest(length(event_type), length(m)) AS DOUBLE) END, 6) AS sim, "
            "'R163' AS sdx "
            "FROM t"
        ),
        "kql_condagg2": (
            "SELECT event_type, "
            "array_to_string((array_agg(CAST(event_id AS VARCHAR) ORDER BY event_id) "
            "FILTER (WHERE CAST(value AS DOUBLE) > 90))[1:5], ',') AS hot_ids, "
            "array_to_string(array_agg(DISTINCT CAST(user_id % 10 AS VARCHAR) "
            "ORDER BY CAST(user_id % 10 AS VARCHAR)) "
            "FILTER (WHERE CAST(value AS DOUBLE) > 90), ',') AS hot_user_buckets, "
            "CAST(min(event_id) FILTER (WHERE CAST(value AS DOUBLE) > 90) AS BIGINT) AS any_hot, "
            "concat(CAST(round(quantile_cont(CAST(value AS DOUBLE), 0.25), 4) AS VARCHAR), ',', "
            "CAST(round(quantile_cont(CAST(value AS DOUBLE), 0.5), 4) AS VARCHAR), ',', "
            "CAST(round(quantile_cont(CAST(value AS DOUBLE), 0.75), 4) AS VARCHAR)) AS quartiles "
            "FROM events GROUP BY event_type"
        ),
        "kql_series_forecast": (
            # replays the order-forced OLS + phase-mean computation with
            # ordered sums and identical float expression shapes
            "WITH binned AS (SELECT event_type, "
            "date_trunc('day', CAST(ts AS TIMESTAMP)) AS d, "
            "CAST(sum(CAST(value AS DECIMAL(20,4))) AS DOUBLE) AS v "
            "FROM events GROUP BY 1, 2), "
            "pos AS (SELECT event_type, "
            "row_number() OVER (PARTITION BY event_type ORDER BY d) - 1 AS p, v "
            "FROM binned), "
            "st AS (SELECT event_type, CAST(count(*) AS DOUBLE) AS nd, "
            "0.0 + sum(v ORDER BY p) AS sy, "
            "0.0 + sum(v * v ORDER BY p) AS syy, "
            "0.0 + sum(CAST(p AS DOUBLE) * v ORDER BY p) AS sxy "
            "FROM pos GROUP BY 1), "
            "ols AS (SELECT event_type, nd, "
            "CASE WHEN nd > 1 THEN "
            "(sxy - (nd * (nd - 1) / 2.0) * sy / nd) / "
            "((nd - 1) * nd * (2.0 * nd - 1) / 6.0 "
            "- (nd * (nd - 1) / 2.0) * (nd * (nd - 1) / 2.0) / nd) "
            "ELSE 0.0 END AS slope, sy FROM st), "
            "ols2 AS (SELECT event_type, nd, slope, "
            "(sy - slope * (nd * (nd - 1) / 2.0)) / nd AS icept FROM ols), "
            "resid AS (SELECT p.event_type, p.p, "
            "p.v - (o.slope * CAST(p.p AS DOUBLE) + o.icept) AS r "
            "FROM pos p JOIN ols2 o USING (event_type)), "
            "ph AS (SELECT event_type, p % 7 AS phase, "
            "(0.0 + sum(r ORDER BY p)) / CAST(count(*) AS DOUBLE) AS smean "
            "FROM resid GROUP BY 1, 2), "
            "fc AS (SELECT o.event_type, o.slope, o.icept, "
            "CAST(o.nd AS BIGINT) + j AS position "
            "FROM ols2 o, unnest(range(0, 5)) AS t(j)) "
            "SELECT fc.event_type, CAST(fc.position AS BIGINT) AS position, "
            "round(fc.slope * CAST(fc.position AS DOUBLE) + fc.icept "
            "+ coalesce(ph.smean, 0.0), 6) AS forecast "
            "FROM fc LEFT JOIN ph ON ph.event_type = fc.event_type "
            "AND ph.phase = fc.position % 7"
        ),
        "kql_scalar_suite8": (
            "SELECT event_id, "
            "round(CASE WHEN value IS NULL OR value < 50 THEN 50.0 "
            "ELSE CAST(value AS DOUBLE) END, 4) AS mx, "
            "round(CASE WHEN value IS NULL OR value > 50 THEN 50.0 "
            "ELSE CAST(value AS DOUBLE) END, 4) AS mn, "
            "true AS ascii_t, false AS ascii_f, "
            "CAST(octet_length(encode(event_type)) "
            "+ octet_length(encode(CAST(event_id AS VARCHAR))) AS BIGINT) AS sz, "
            "concat('10.', CAST(event_id % 256 AS VARCHAR), '.7.0/24') AS mask24, "
            "CAST(NULL AS VARCHAR) AS mask_bad, "
            "event_type AS present, 'fallback' AS absent "
            "FROM events WHERE event_id < 300"
        ),
        "kql_scalar_suite9": (
            # ASCII event_type makes base64-decoded bytes == codepoints
            "SELECT event_id, round(CAST(CAST(value AS DECIMAL(28,10)) "
            "AS DOUBLE), 4) AS dec_v, "
            "reverse(event_type) AS rev_t, "
            "event_type AS jc, CAST(event_id AS BIGINT) AS ja, "
            "array_to_string(list_transform(range(1, length(event_type) + 1), "
            "i -> CAST(ascii(substr(event_type, CAST(i AS INTEGER), 1)) "
            "AS VARCHAR)), ',') AS bytes_csv "
            "FROM events WHERE event_id < 300"
        ),
        "kql_welch_test": (
            # exact replay of the closed-form statistics; p bounds boolean
            "WITH st AS (SELECT "
            "count(*) FILTER (event_type = 'click') AS n_a, "
            "count(*) FILTER (event_type = 'error') AS n_b, "
            "avg(value) FILTER (event_type = 'click') AS mean_a, "
            "avg(value) FILTER (event_type = 'error') AS mean_b, "
            "var_samp(value) FILTER (event_type = 'click') AS var_a, "
            "var_samp(value) FILTER (event_type = 'error') AS var_b "
            "FROM events) "
            "SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b, "
            "round(mean_a - mean_b, 6) AS mean_diff, "
            "round((mean_a - mean_b) / sqrt(var_a / n_a + var_b / n_b), 6) "
            "AS t_stat, "
            "round(pow(var_a / n_a + var_b / n_b, 2) / "
            "(pow(var_a / n_a, 2) / (n_a - 1) + pow(var_b / n_b, 2) / (n_b - 1)), 4) "
            "AS df_welch, true AS p_in_unit FROM st"
        ),
        "kql_series_fft": (
            # DC bin == the plain sum of the 16-point series; round-trip
            # and Parseval identities predicted true
            "WITH s AS (SELECT event_type, value, row_number() OVER ("
            "PARTITION BY event_type ORDER BY event_id) AS rn FROM events) "
            "SELECT event_type, CAST(16 AS BIGINT) AS n, "
            "round(sum(value), 4) AS dc, "
            "true AS roundtrip_ok, true AS parseval_ok "
            "FROM s WHERE rn <= 16 GROUP BY event_type HAVING count(*) = 16"
        ),
        "kql_datetime_suite2": (
            "SELECT event_id, "
            "date_trunc('year', CAST(ts AS TIMESTAMP)) AS soy, "
            "date_trunc('quarter', CAST(ts AS TIMESTAMP)) AS soq, "
            "date_trunc('quarter', CAST(ts AS TIMESTAMP)) + INTERVAL 3 MONTH "
            "- INTERVAL 1 MICROSECOND AS eoq, "
            "date_trunc('day', CAST(ts AS TIMESTAMP)) "
            "- to_days(CAST(dayofweek(ts) AS INTEGER)) "
            "+ INTERVAL 7 DAY - INTERVAL 1 MICROSECOND AS eow "
            "FROM events WHERE event_id < 300"
        ),
        "kql_graph_shortest": (
            "WITH RECURSIVE ed AS (SELECT DISTINCT user_id % 97 AS s, "
            "(user_id * 7 + 1) % 97 AS d FROM events "
            "WHERE event_id < 2000 AND user_id IS NOT NULL), "
            "sp AS (SELECT CAST(0 AS BIGINT) AS node, 0 AS dist "
            "UNION ALL "
            "SELECT e.d, sp.dist + 1 FROM sp JOIN ed e ON e.s = sp.node "
            "WHERE sp.dist < 15) "
            "SELECT node, CAST(min(dist) AS BIGINT) AS dist FROM sp GROUP BY node"
        ),
        "kql_graph_var": (
            "WITH ed AS (SELECT DISTINCT user_id % 97 AS s, "
            "(user_id * 7 + 1) % 97 AS d FROM events "
            "WHERE event_id < 2000 AND user_id IS NOT NULL) "
            "SELECT s AS n_start, d AS n_end, CAST(1 AS BIGINT) AS hops "
            "FROM ed WHERE s != d "
            "UNION ALL "
            "SELECT a.s, b.d, 2 FROM ed a JOIN ed b ON a.d = b.s "
            "WHERE a.s != a.d AND a.s != b.d AND a.d != b.d "
            "UNION ALL "
            "SELECT a.s, c.d, 3 FROM ed a JOIN ed b ON a.d = b.s "
            "JOIN ed c ON b.d = c.s "
            "WHERE a.s != a.d AND a.s != b.d AND a.s != c.d "
            "AND a.d != b.d AND a.d != c.d AND b.d != c.d"
        ),
        "skew_salted_agg": (
            "SELECT event_type, CAST(count(event_id) AS BIGINT) AS n, "
            "CAST(sum(CAST(value AS DECIMAL(20,4))) AS DOUBLE) AS sum_value, "
            "CAST(max(event_id) AS BIGINT) AS max_id "
            "FROM events GROUP BY event_type"
        ),
        "text_url_normalize": (
            # rule: %4 in (0,1) normalize to the same ?a=..&z=9 form
            "SELECT event_id, "
            "CASE WHEN event_id % 4 IN (0, 1) THEN "
            "concat('https://site', CAST(event_id % 7 AS VARCHAR), "
            "'.com/a/b?a=', CAST(event_id % 5 AS VARCHAR), '&z=9') "
            "WHEN event_id % 4 = 2 THEN "
            "concat('https://site', CAST(event_id % 7 AS VARCHAR), '.com/a/b') "
            "ELSE concat('https://site', CAST(event_id % 7 AS VARCHAR), '.com/') "
            "END AS canonical "
            "FROM events WHERE event_id < 400"
        ),
        "text_normalize": (
            # predicts NFC + accent folding from the fixture rule; the
            # composed literals below are NFC bytes
            "SELECT event_id, "
            "CASE WHEN event_id % 4 IN (0, 1) THEN 'caf\u00e9' "
            "WHEN event_id % 4 = 2 THEN 'na\u00efve' ELSE '\u00fcber' END AS nfc, "
            "CASE WHEN event_id % 4 IN (0, 1) THEN 'cafe' "
            "WHEN event_id % 4 = 2 THEN 'naive' ELSE 'uber' END AS folded, "
            "CAST(CASE WHEN event_id % 4 IN (0, 1) THEN 5 "
            "WHEN event_id % 4 = 2 THEN 6 ELSE 5 END AS INTEGER) AS nfd_len "
            "FROM events WHERE event_id < 200"
        ),
        "kql_has_ipv4": (
            # validity predicted from the line rule; %5=0 lines embed
            # (id%300).0.2.1, valid only when the first octet fits a byte
            "SELECT event_id, "
            "CASE event_id % 5 WHEN 0 THEN event_id % 300 <= 255 "
            "WHEN 4 THEN true ELSE false END AS has_ip, "
            "event_id % 5 = 4 AS has_192 "
            "FROM events WHERE event_id < 400"
        ),
        "kql_dcount_intersect": (
            "WITH g AS (SELECT user_id, "
            "bool_or(event_type = 'click') AS c, "
            "bool_or(event_type = 'view') AS v, "
            "bool_or(event_type = 'purchase') AS p "
            "FROM events WHERE event_type IN ('click', 'view', 'purchase') "
            "GROUP BY user_id) "
            "SELECT CAST(sum(CASE WHEN c THEN 1 ELSE 0 END) AS BIGINT) AS s0, "
            "CAST(sum(CASE WHEN c AND v THEN 1 ELSE 0 END) AS BIGINT) AS s1, "
            "CAST(sum(CASE WHEN c AND v AND p THEN 1 ELSE 0 END) AS BIGINT) AS s2 "
            "FROM g"
        ),
        "kql_scalar_suite7": (
            # predicts parse_path components from the generation rule
            "SELECT event_id, "
            "CASE WHEN event_id % 3 = 2 THEN 'https' ELSE '' END AS scheme, "
            "CASE event_id % 3 WHEN 0 THEN 'C:' WHEN 1 THEN '/' ELSE '' END AS root, "
            "CASE event_id % 3 WHEN 0 THEN 'C:/data' "
            "WHEN 1 THEN concat('/var/log/app', CAST(event_id % 7 AS VARCHAR)) "
            "ELSE concat('https://h/a', CAST(event_id % 5 AS VARCHAR)) END AS dirpath, "
            "CASE event_id % 3 WHEN 0 THEN 'data' "
            "WHEN 1 THEN concat('app', CAST(event_id % 7 AS VARCHAR)) "
            "ELSE concat('a', CAST(event_id % 5 AS VARCHAR)) END AS dirname, "
            "CASE event_id % 3 WHEN 0 THEN concat('f', CAST(event_id AS VARCHAR), '.csv') "
            "WHEN 1 THEN 'x.y.gz' "
            "ELSE concat('f', CAST(event_id AS VARCHAR), '.txt') END AS filename, "
            "CASE event_id % 3 WHEN 0 THEN 'csv' WHEN 1 THEN 'gz' ELSE 'txt' END AS ext, "
            "CAST(ascii(event_type) AS INTEGER) AS cp0, "
            "event_type AS roundtrip "
            "FROM events WHERE event_id < 300"
        ),
        "kql_join_kinds": (
            "WITH c AS (SELECT c_nationkey, CAST(count(*) AS BIGINT) AS n_cust "
            "FROM customer GROUP BY 1 HAVING c_nationkey < 20), "
            "s AS (SELECT s_nationkey, CAST(count(*) AS BIGINT) AS n_supp "
            "FROM supplier GROUP BY 1 HAVING s_nationkey >= 5) "
            "SELECT 'leftouter' AS kind, c.c_nationkey AS nationkey, "
            "n_cust, coalesce(n_supp, 0) AS n_supp "
            "FROM c LEFT JOIN s ON c_nationkey = s_nationkey "
            "UNION ALL "
            "SELECT 'rightouter', coalesce(c_nationkey, s_nationkey), "
            "coalesce(n_cust, 0), n_supp "
            "FROM c RIGHT JOIN s ON c_nationkey = s_nationkey "
            "UNION ALL "
            "SELECT 'fullouter', coalesce(c_nationkey, s_nationkey), "
            "coalesce(n_cust, 0), coalesce(n_supp, 0) "
            "FROM c FULL JOIN s ON c_nationkey = s_nationkey"
        ),
        "kql_dynamic_suite2": (
            "WITH t AS (SELECT event_id, event_type, "
            "string_split(concat(event_type, '-', CAST(event_id AS VARCHAR)), '-') AS parts "
            "FROM events WHERE event_id < 300), "
            "x AS (SELECT event_id, event_type, "
            "unnest(range(0, len(parts))) AS item_index, "
            "unnest(parts) AS part FROM t) "
            "SELECT event_id, CAST(item_index AS BIGINT) AS item_index, part, "
            "CAST(to_json(struct_pack(event_id := event_id, "
            "event_type := event_type)) AS VARCHAR) AS bag "
            "FROM x"
        ),
        "kql_series_cosine": (
            "WITH bounds AS (SELECT min(date_trunc('hour', CAST(ts AS TIMESTAMP))) lo, "
            "max(date_trunc('hour', CAST(ts AS TIMESTAMP))) hi FROM events "
            "WHERE event_type IN ('click', 'view')), "
            "axis AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS h FROM bounds), "
            "binned AS (SELECT event_type, date_trunc('hour', CAST(ts AS TIMESTAMP)) AS h, "
            "CAST(count(*) AS DOUBLE) AS v FROM events "
            "WHERE event_type IN ('click', 'view') GROUP BY 1, 2), "
            "dense AS (SELECT t.event_type, a.h, "
            "row_number() OVER (PARTITION BY t.event_type ORDER BY a.h) - 1 AS idx, "
            "coalesce(b.v, 0.0) AS v "
            "FROM (VALUES ('click'), ('view')) t(event_type) CROSS JOIN axis a "
            "LEFT JOIN binned b ON b.event_type = t.event_type AND b.h = a.h) "
            "SELECT round((0.0 + sum(c.v * w.v ORDER BY c.idx)) / "
            "(sqrt(0.0 + sum(c.v * c.v ORDER BY c.idx)) * "
            "sqrt(0.0 + sum(w.v * w.v ORDER BY w.idx))), 6) AS cos_click_view "
            "FROM dense c JOIN dense w ON c.idx = w.idx "
            "AND c.event_type = 'click' AND w.event_type = 'view'"
        ),
        "kql_geo_suite2": (
            "SELECT event_id, "
            "round((event_id % 1200) / 10.0 - 60.0, 4) AS lat, "
            "round(((event_id * 7) % 3400) / 10.0 - 170.0, 4) AS lon, "
            "(" + _geo_poly_crossings_sql(
                "(((event_id * 7) % 3400) / 10.0 - 170.0)",
                "((event_id % 1200) / 10.0 - 60.0)",
            ) + " % 2 = 1) AS in_poly "
            "FROM events WHERE event_id < 2000"
        ),
        "kql_compression_suite": (
            "SELECT event_id, "
            "concat('payload-', event_type, '-', CAST(event_id AS VARCHAR)) AS z_rt, "
            "concat('payload-', event_type, '-', CAST(event_id AS VARCHAR)) AS g_rt, "
            "CAST(NULL AS VARCHAR) AS bad "
            "FROM events WHERE event_id < 300"
        ),
        "kql_fork": (
            "SELECT 'avg_value' AS branch, event_type, "
            "round(CAST(sum(CAST(value AS DECIMAL(20,4))) AS DOUBLE) "
            "/ CAST(count(value) AS DOUBLE), 6) AS metric "
            "FROM events GROUP BY event_type "
            "UNION ALL "
            "SELECT 'counts' AS branch, event_type, "
            "round(CAST(count(*) AS DOUBLE), 6) AS metric "
            "FROM events GROUP BY event_type"
        ),
        "kql_ipv4_lookup": (
            # predicts CIDR membership from the ip generation rule:
            # %7=0 unparseable, %5=0 -> 192.168.x.1 (lab16 /16),
            # else 10.x.y.z -> corp /8 (+ eng /16 when x = 1)
            "SELECT event_id, 'corp' AS name, CAST(8 AS BIGINT) AS prefix_len "
            "FROM events WHERE event_id < 500 "
            "AND event_id % 7 != 0 AND event_id % 5 != 0 "
            "UNION ALL "
            "SELECT event_id, 'eng', 16 FROM events WHERE event_id < 500 "
            "AND event_id % 7 != 0 AND event_id % 5 != 0 AND event_id % 256 = 1 "
            "UNION ALL "
            "SELECT event_id, 'lab16', 16 FROM events WHERE event_id < 500 "
            "AND event_id % 7 != 0 AND event_id % 5 = 0"
        ),
        "kql_ipv4_suite2": (
            # predicts compare/match/suffix from the generation rule:
            # A = 10.(id%256).(floor(id/256)%256).0 (or 'bad' when id%7=0),
            # B = 10.(id%256).0.0
            "SELECT event_id, "
            "CAST(CASE WHEN event_id % 7 = 0 THEN -99 "
            "WHEN (event_id // 256) % 256 > 0 THEN 1 ELSE 0 END AS BIGINT) AS cmp_ab, "
            "CASE WHEN event_id % 7 = 0 THEN 'null' "
            "WHEN (event_id // 256) % 256 = 0 THEN 'true' ELSE 'false' END AS m24, "
            "CASE WHEN event_id % 7 = 0 THEN 'null' ELSE 'true' END AS m16, "
            "CAST(CASE WHEN event_id % 7 = 0 THEN -99 "
            "WHEN event_id % 2 = 0 THEN 32 "
            "WHEN event_id % 40 <= 32 THEN event_id % 40 ELSE -99 END AS BIGINT) AS sfx "
            "FROM events WHERE event_id < 500"
        ),
        "kql_rows_near": (
            "SELECT event_id, event_type, round(CAST(value AS DOUBLE), 4) AS value "
            "FROM (SELECT event_id, event_type, value, "
            "max(CASE WHEN CAST(value AS DOUBLE) > 95 THEN 1 ELSE 0 END) OVER "
            "(PARTITION BY event_type ORDER BY ts, event_id "
            "ROWS BETWEEN 1 PRECEDING AND 2 FOLLOWING) AS keep "
            "FROM events) WHERE keep = 1"
        ),
        "kql_xml_suite": (
            # predicts the xpath results from the generation rule
            "SELECT event_id, event_id AS xid, event_type AS xtype, "
            "concat(CAST(event_id % 10 AS VARCHAR), ',', "
            "CAST((event_id * 3) % 10 AS VARCHAR)) AS vals, "
            "'' AS miss, CAST(NULL AS VARCHAR) AS not_xml "
            "FROM events WHERE event_id < 400"
        ),
        "kql_geo_suite": (
            # ground-truth hashes/centers from an independent reference
            # implementation validated on the public geohash vectors;
            # distance replays the haversine formula (suite3 pattern)
            "WITH t(pid, lat, lon, gh4, gh6, clon, clat) AS (VALUES (1, 57.64911, 10.40744, 'u4pr', 'u4pruy', 10.4095458984375, 57.64801025390625), (2, 42.6, -5.6, 'ezs4', 'ezs42e', -5.5975341796875, 42.60223388671875), (3, 0.0, 0.0, 's000', 's00000', 0.0054931640625, 0.00274658203125), (4, 90.0, 180.0, 'zzzz', 'zzzzzz', 179.9945068359375, 89.99725341796875), (5, -90.0, -180.0, '0000', '000000', -179.9945068359375, -89.99725341796875), (6, 48.8566, 2.3522, 'u09t', 'u09tvw', 2.3565673828125, 48.85894775390625), (7, -33.8688, 151.2093, 'r3gx', 'r3gx2f', 151.2103271484375, -33.86810302734375), (8, 40.7128, -74.006, 'dr5r', 'dr5reg', -74.0093994140625, 40.71258544921875), (9, 35.6762, 139.6503, 'xn76', 'xn76cy', 139.6527099609375, 35.67535400390625), (10, -1.2921, 36.8219, 'kzf0', 'kzf0tu', 36.8206787109375, -1.29364013671875), (11, 19.4326, -99.1332, '9g3w', '9g3w81', -99.1351318359375, 19.43206787109375), (12, 69.6496, 18.956, 'ukmk', 'ukmkpr', 18.9569091796875, 69.65057373046875)) "
            "SELECT CAST(pid AS BIGINT) AS pid, gh4, gh6, "
            "clon AS center_lon, clat AS center_lat, "
            "round(2 * 6371009.0 * asin(sqrt("
            "pow(sin((radians(48.8566) - radians(lat)) / 2), 2) "
            "+ cos(radians(lat)) * cos(radians(48.8566)) "
            "* pow(sin((radians(2.3522) - radians(lon)) / 2), 2)"
            ")) / 1000.0, 3) AS dist_paris_km, "
            "2 * 6371009.0 * asin(sqrt("
            "pow(sin((radians(48.8566) - radians(lat)) / 2), 2) "
            "+ cos(radians(lat)) * cos(radians(48.8566)) "
            "* pow(sin((radians(2.3522) - radians(lon)) / 2), 2)"
            ")) <= 2000000.0 AS in_2000km "
            "FROM t"
        ),
        "kql_ipv6_suite": (
            # predicts canonical forms from the generation rule (ground
            # truth), never re-running a parser
            "WITH b AS (SELECT event_id, "
            "lpad(printf('%x', event_id % 65536), 4, '0') AS g1, "
            "lpad(printf('%x', (event_id * 7) % 65536), 4, '0') AS g2 "
            "FROM events WHERE event_id < 400), "
            "c AS (SELECT event_id, "
            "concat('20010db8', repeat('0', 20), g1) AS canon1, "
            "concat(g1, g2, '0000', '0000', '00ff', g1, '0000', '0001') AS canon2 "
            "FROM b) "
            "SELECT event_id, canon1, canon2, "
            "CAST(NULL AS VARCHAR) AS canon_bad, "
            "CAST(CASE WHEN canon1 < canon2 THEN -1 "
            "WHEN canon1 > canon2 THEN 1 ELSE 0 END AS INT) AS cmp12, "
            "CAST(0 AS INT) AS cmp_eq, "
            "substr(canon1, 1, 8) = substr(canon2, 1, 8) AS m32, "
            "true AS m128 FROM c"
        ),
        "kql_graph_components": (
            # undirected reachability closure; component = min reachable
            "WITH RECURSIVE ed AS (SELECT DISTINCT user_id % 97 AS s, "
            "(user_id * 7 + 1) % 97 AS d FROM events "
            "WHERE event_id < 2000 AND user_id IS NOT NULL), "
            "und AS (SELECT s AS u, d AS v FROM ed "
            "UNION SELECT d, s FROM ed), "
            "reach(src, node) AS ("
            "SELECT u, u FROM (SELECT DISTINCT u FROM und) "
            "UNION "
            "SELECT r.src, e.v FROM reach r JOIN und e ON e.u = r.node) "
            "SELECT CAST(src AS BIGINT) AS node, "
            "CAST(min(node) AS BIGINT) AS component FROM reach GROUP BY src"
        ),
        "graph_pagerank": (
            # round-for-round replay: same edge aggregate, same
            # (1-d)/n + d*(contrib + dangling/n) update, 3 unrolled rounds
            "WITH raw AS (SELECT CAST(c_nationkey AS BIGINT) AS s, "
            "CAST(s_nationkey AS BIGINT) AS d, "
            "sum(l_extendedprice * (1.0 - l_discount)) AS w "
            "FROM lineitem "
            "JOIN orders ON l_orderkey = o_orderkey "
            "JOIN customer ON o_custkey = c_custkey "
            "JOIN supplier ON l_suppkey = s_suppkey "
            "WHERE c_nationkey <> s_nationkey GROUP BY 1, 2), "
            "ow AS (SELECT s, sum(w) AS ow FROM raw GROUP BY 1), "
            "e AS (SELECT raw.s, raw.d, raw.w / ow.ow AS frac "
            "FROM raw JOIN ow USING (s)), "
            "nodes AS (SELECT DISTINCT node FROM "
            "(SELECT s AS node FROM e UNION SELECT d FROM e)), "
            "nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes), "
            "has_out AS (SELECT DISTINCT s AS node FROM e), "
            "r0 AS (SELECT node, 1.0 / n AS rank FROM nodes, nn), "
            "m0 AS (SELECT coalesce(sum(rank), 0) AS m FROM r0 "
            "WHERE node NOT IN (SELECT node FROM has_out)), "
            "c0 AS (SELECT e.d AS node, sum(r0.rank * e.frac) AS c "
            "FROM r0 JOIN e ON r0.node = e.s GROUP BY 1), "
            "r1 AS (SELECT nodes.node, "
            "0.15 / n + 0.85 * (coalesce(c0.c, 0) + (SELECT m FROM m0) / n) "
            "AS rank FROM nodes LEFT JOIN c0 USING (node), nn), "
            "m1 AS (SELECT coalesce(sum(rank), 0) AS m FROM r1 "
            "WHERE node NOT IN (SELECT node FROM has_out)), "
            "c1 AS (SELECT e.d AS node, sum(r1.rank * e.frac) AS c "
            "FROM r1 JOIN e ON r1.node = e.s GROUP BY 1), "
            "r2 AS (SELECT nodes.node, "
            "0.15 / n + 0.85 * (coalesce(c1.c, 0) + (SELECT m FROM m1) / n) "
            "AS rank FROM nodes LEFT JOIN c1 USING (node), nn), "
            "m2 AS (SELECT coalesce(sum(rank), 0) AS m FROM r2 "
            "WHERE node NOT IN (SELECT node FROM has_out)), "
            "c2 AS (SELECT e.d AS node, sum(r2.rank * e.frac) AS c "
            "FROM r2 JOIN e ON r2.node = e.s GROUP BY 1), "
            "r3 AS (SELECT nodes.node, "
            "0.15 / n + 0.85 * (coalesce(c2.c, 0) + (SELECT m FROM m2) / n) "
            "AS rank FROM nodes LEFT JOIN c2 USING (node), nn) "
            "SELECT node, round(rank, 6) AS rank FROM r3"
        ),
        "kql_graph_match": (
            "WITH e AS (SELECT DISTINCT concat('c:', o_custkey) AS s, "
            "concat('s:', l_suppkey) AS d "
            "FROM orders JOIN lineitem ON o_orderkey = l_orderkey "
            "WHERE o_orderkey < 3000) "
            "SELECT a.s AS c1, b.s AS c2, "
            "CAST(count(*) AS BIGINT) AS shared_suppliers "
            "FROM e a JOIN e b ON a.d = b.d AND a.s < b.s "
            "GROUP BY 1, 2 HAVING count(*) >= 3"
        ),
        "kql_scalar_suite5": (
            "WITH b AS (SELECT event_id, event_type, props, "
            "printf('%d.%d.%d', event_id % 5, event_id % 10, event_id % 100) AS ver, "
            "range(event_id % 5, event_id % 5 + 5) AS a1, "
            "range(event_id % 7, event_id % 7 + 5) AS a2, "
            "[event_id % 2 = 0, event_id % 3 = 0, true] AS conds "
            "FROM events WHERE event_id < 400) "
            "SELECT event_id, "
            "CAST(CAST(string_split(ver, '.')[1] AS HUGEINT) * CAST('1000000000000000000000000' AS HUGEINT) "
            "+ CAST(string_split(ver, '.')[2] AS HUGEINT) * 10000000000000000 "
            "+ CAST(string_split(ver, '.')[3] AS HUGEINT) * 100000000 AS VARCHAR) AS vnum, "
            "CAST(NULL AS VARCHAR) AS vbad, "
            "array_to_string(regexp_extract_all(props, '(\\d+)', 1), ',') AS digits, "
            "round(CAST(len(list_intersect(a1, a2)) AS DOUBLE) / "
            "len(list_distinct(list_concat(a1, a2))), 6) AS jacc, "
            "array_to_string([CASE WHEN conds[1] THEN a1[1] ELSE a2[1] END, "
            "CASE WHEN conds[2] THEN a1[2] ELSE a2[2] END, "
            "CASE WHEN conds[3] THEN a1[3] ELSE a2[3] END], ',') AS picked, "
            "array_to_string(list_concat(a1[3:5], [-1, -1]), ',') AS shl, "
            "list_contains(a1, 3) AS has3, "
            "CASE WHEN event_id * 1536 >= 1048576 "
            "THEN printf('%.1f MB', event_id * 1536 / 1048576.0) "
            "WHEN event_id * 1536 >= 1024 "
            "THEN printf('%.1f KB', event_id * 1536 / 1024.0) "
            "ELSE printf('%.1f Bytes', CAST(event_id * 1536 AS DOUBLE)) END AS fb, "
            "repeat(substr(event_type, 1, 2), 3) AS rep, "
            "concat(event_type, '-', CAST(event_id % 7 AS VARCHAR)) AS cd "
            "FROM b"
        ),
        "kql_binary_agg": (
            "SELECT event_type, "
            "bit_and(event_id % 256 | 4096) AS b_and, "
            "bit_or(event_id % 256 | 4096) AS b_or, "
            "bit_xor(event_id % 256 | 4096) AS b_xor "
            "FROM events GROUP BY event_type"
        ),
        "kql_series_periods": (
            # normalized ACF per lag via a self-join on the dense series
            # (idx2 = idx + lag), ranked score-desc / lag-asc, top 3
            "WITH bounds AS (SELECT min(date_trunc('day', CAST(ts AS TIMESTAMP))) lo, "
            "max(date_trunc('day', CAST(ts AS TIMESTAMP))) hi FROM events), "
            "axis AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS d FROM bounds), "
            "keys AS (SELECT DISTINCT event_type FROM events), "
            "binned AS (SELECT event_type, date_trunc('day', CAST(ts AS TIMESTAMP)) AS d, "
            "CAST(sum(CAST(value AS DECIMAL(20,4))) AS DOUBLE) AS v FROM events GROUP BY 1, 2), "
            "dense AS (SELECT k.event_type, "
            "row_number() OVER (PARTITION BY k.event_type ORDER BY a.d) - 1 AS idx, "
            "coalesce(b.v, 0.0) AS v "
            "FROM keys k CROSS JOIN axis a "
            "LEFT JOIN binned b ON b.event_type = k.event_type AND b.d = a.d), "
            "stats AS (SELECT event_type, avg(v) AS mu, "
            "sum((v - (SELECT avg(v2.v) FROM dense v2 "
            "WHERE v2.event_type = dense.event_type)) * "
            "(v - (SELECT avg(v3.v) FROM dense v3 "
            "WHERE v3.event_type = dense.event_type))) AS denom "
            "FROM dense GROUP BY event_type), "
            "lags AS (SELECT event_type, unnest(range(2, 15)) AS lag FROM keys), "
            "acf AS (SELECT l.event_type, l.lag, "
            "sum((d1.v - s.mu) * (d2.v - s.mu)) / any_value(s.denom) AS score "
            "FROM lags l JOIN stats s USING (event_type) "
            "JOIN dense d1 ON d1.event_type = l.event_type "
            "JOIN dense d2 ON d2.event_type = l.event_type "
            "AND d2.idx = d1.idx + l.lag "
            "GROUP BY l.event_type, l.lag), "
            "r AS (SELECT *, row_number() OVER (PARTITION BY event_type "
            "ORDER BY score DESC, lag ASC) AS rk FROM acf) "
            "SELECT event_type, CAST(rk - 1 AS INT) AS rank, "
            "CAST(lag AS BIGINT) AS period, round(score, 5) AS score "
            "FROM r WHERE rk <= 3"
        ),
        "kql_autocluster": (
            "WITH e AS (SELECT event_type, "
            "CAST(CAST(floor(value / 25) AS BIGINT) AS VARCHAR) AS vbucket, "
            "CAST(dayofweek(CAST(ts AS TIMESTAMP)) + 1 AS VARCHAR) AS dow "
            "FROM events WHERE value IS NOT NULL), "
            "tot AS (SELECT count(*) AS n FROM e), "
            "pats AS ("
            "SELECT 1 AS sz, concat('event_type=', event_type) AS pat, "
            "event_type, CAST(NULL AS VARCHAR) AS vbucket, CAST(NULL AS VARCHAR) AS dow, "
            "count(*) AS c FROM e GROUP BY event_type "
            "UNION ALL SELECT 1, concat('vbucket=', vbucket), NULL, vbucket, NULL, "
            "count(*) FROM e GROUP BY vbucket "
            "UNION ALL SELECT 1, concat('dow=', dow), NULL, NULL, dow, "
            "count(*) FROM e GROUP BY dow "
            "UNION ALL SELECT 2, concat('event_type=', event_type, ',vbucket=', vbucket), "
            "event_type, vbucket, NULL, count(*) FROM e GROUP BY event_type, vbucket "
            "UNION ALL SELECT 2, concat('event_type=', event_type, ',dow=', dow), "
            "event_type, NULL, dow, count(*) FROM e GROUP BY event_type, dow "
            "UNION ALL SELECT 2, concat('vbucket=', vbucket, ',dow=', dow), "
            "NULL, vbucket, dow, count(*) FROM e GROUP BY vbucket, dow), "
            "f AS (SELECT * FROM pats, tot WHERE c >= 0.05 * n), "
            "r AS (SELECT *, row_number() OVER (ORDER BY c DESC, sz ASC, pat ASC) "
            "AS rk FROM f) "
            "SELECT CAST(rk - 1 AS BIGINT) AS segment_id, CAST(c AS BIGINT) AS n_rows, "
            "round(c / CAST(n AS DOUBLE), 6) AS percent, event_type, vbucket, dow "
            "FROM r WHERE rk <= 12"
        ),
        "kql_diffpatterns": (
            "WITH e AS (SELECT CASE WHEN user_id % 2 = 0 THEN 'true' ELSE 'false' "
            "END AS cohort, event_type, "
            "CAST(dayofweek(CAST(ts AS TIMESTAMP)) + 1 AS VARCHAR) AS dow FROM events), "
            "tot AS (SELECT count(*) FILTER (cohort = 'true') AS na, "
            "count(*) FILTER (cohort = 'false') AS nb FROM e), "
            "pats AS ("
            "SELECT 1 AS sz, event_type, CAST(NULL AS VARCHAR) AS dow, "
            "count(*) FILTER (cohort = 'true') AS ca, "
            "count(*) FILTER (cohort = 'false') AS cb FROM e GROUP BY event_type "
            "UNION ALL SELECT 1, NULL, dow, count(*) FILTER (cohort = 'true'), "
            "count(*) FILTER (cohort = 'false') FROM e GROUP BY dow "
            "UNION ALL SELECT 2, event_type, dow, count(*) FILTER (cohort = 'true'), "
            "count(*) FILTER (cohort = 'false') FROM e GROUP BY event_type, dow) "
            "SELECT CAST(ca AS BIGINT) AS count_a, CAST(cb AS BIGINT) AS count_b, "
            "round(ca / CAST(na AS DOUBLE), 6) AS percent_a, "
            "round(cb / CAST(nb AS DOUBLE), 6) AS percent_b, "
            "round(ca / CAST(na AS DOUBLE) - cb / CAST(nb AS DOUBLE), 6) AS percent_diff, "
            "event_type, dow, CAST(sz AS INT) AS size "
            "FROM pats, tot WHERE ca / CAST(na AS DOUBLE) >= 0.05 "
            "OR cb / CAST(nb AS DOUBLE) >= 0.05"
        ),
        "kql_percentilesw": (
            "WITH e AS (SELECT event_type, value, "
            "CAST(event_id % 7 + 1 AS DOUBLE) AS w FROM events "
            "WHERE value IS NOT NULL), "
            "c AS (SELECT event_type, value, "
            "sum(w) OVER (PARTITION BY event_type ORDER BY value "
            "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumw, "
            "sum(w) OVER (PARTITION BY event_type) AS totw FROM e) "
            "SELECT event_type, "
            "min(CASE WHEN cumw >= 0.25 * totw THEN value END) AS p25, "
            "min(CASE WHEN cumw >= 0.5 * totw THEN value END) AS p50, "
            "min(CASE WHEN cumw >= 0.9 * totw THEN value END) AS p90 "
            "FROM c GROUP BY event_type"
        ),
        "kql_scalar_suite4": (
            "SELECT event_id, "
            "CAST((event_id % 3) * 86400 + (event_id % 24) * 3600 + "
            "(event_id % 60) * 60 + ((event_id * 7) % 60) AS DOUBLE) AS span_sec, "
            "CAST(NULL AS DOUBLE) AS span_bad, "
            "printf('%d.%02d:%02d:%02d', event_id % 3, event_id % 24, "
            "event_id % 60, (event_id * 7) % 60) AS span_rt, "
            "printf('%02d:%02d:%02d', (event_id % 3) * 24 + event_id % 24, "
            "event_id % 60, (event_id * 7) % 60) AS span_hms, "
            "translate(event_type, 'aeiou', '#') AS tr, "
            "round(degrees(radians(CAST(event_id % 360 AS DOUBLE))), 6) AS deg_rt, "
            "round(cot(radians(CAST(event_id % 360 AS DOUBLE)) + 0.1), 6) AS cotv, "
            "round(log10(value + 1.0), 6) AS l10, "
            "round(pow(10.0, CAST(event_id % 5 AS DOUBLE)), 1) AS e10, "
            "isnan(value) AS nanv, "
            "isinf(abs(value)) AS infv "
            "FROM events WHERE event_id < 400"
        ),
        "kql_series_decompose": (
            "WITH e AS (SELECT event_type, date_trunc('hour', ts) AS h, "
            "CAST(count(*) AS DOUBLE) AS v FROM events GROUP BY 1, 2), "
            "p AS (SELECT *, row_number() OVER (PARTITION BY event_type ORDER BY h) - 1 AS pos FROM e), "
            "t AS (SELECT *, avg(v) OVER (PARTITION BY event_type ORDER BY h "
            "ROWS BETWEEN 11 PRECEDING AND 12 FOLLOWING) AS trend FROM p), "
            "d AS (SELECT *, v - trend AS dt FROM t), "
            # order-forced per-phase fold ≡ the Spark operator's sorted
            # aggregate (window-avg summation order is engine-internal and
            # drifts in the last ulp; a position-sorted left fold is
            # bit-identical across engines)
            "g AS (SELECT event_type, pos % 24 AS ph, "
            "list_reduce(list(dt ORDER BY pos), (a, b) -> a + b) / count(*) AS seasonal "
            "FROM d GROUP BY 1, 2), "
            "s AS (SELECT d.*, g.seasonal FROM d JOIN g "
            "ON d.event_type = g.event_type AND d.pos % 24 = g.ph), "
            "r AS (SELECT *, v - (trend + seasonal) AS residual FROM s), "
            "m AS (SELECT *, median(residual) OVER (PARTITION BY event_type) AS med FROM r), "
            "m2 AS (SELECT *, median(abs(residual - med)) OVER (PARTITION BY event_type) AS mad FROM m) "
            "SELECT event_type, h, v, round(trend, 3) AS trend, "
            "round(seasonal, 3) AS seasonal, round(residual, 3) AS residual, "
            "CAST(CASE WHEN mad = 0 THEN 0 "
            "WHEN (residual - med) / (1.4826 * mad) > 3.0 THEN 1 "
            "WHEN (residual - med) / (1.4826 * mad) < -3.0 THEN -1 "
            "ELSE 0 END AS BIGINT) AS anomaly_flag FROM m2"
        ),
        "kql_scalar_suite3": (
            "SELECT event_id, "
            "event_id & 23130 AS b_and, "
            "event_id | 3855 AS b_or, "
            "xor(event_id, 13107) AS b_xor, "
            "~event_id AS b_not, "
            "event_id << 3 AS b_shl, "
            "event_id >> 2 AS b_shr, "
            "CAST(bit_count(event_id) AS BIGINT) AS pop, "
            "CAST(CASE WHEN event_type < 'purchase' THEN -1 "
            "WHEN event_type > 'purchase' THEN 1 ELSE 0 END AS BIGINT) AS cmp, "
            "CAST(strlen(event_type) AS BIGINT) AS sz, "
            "round(2 * 6371009.0 * asin(sqrt("
            "pow(sin((radians((event_id % 170) / 2.0 - 42.5 + 0.75) - radians((event_id % 170) / 2.0 - 42.5)) / 2), 2) "
            "+ cos(radians((event_id % 170) / 2.0 - 42.5)) * cos(radians((event_id % 170) / 2.0 - 42.5 + 0.75)) "
            "* pow(sin((radians((event_id % 360) - 180.0 + 1.5) - radians((event_id % 360) - 180.0)) / 2), 2)"
            ")) / 1000.0, 3) AS dist_km "
            "FROM events WHERE event_id < 400"
        ),
        "kql_rank": (
            "WITH e AS (SELECT event_id, event_type, "
            "CAST(floor(CAST(value AS DOUBLE) / 10) AS BIGINT) AS vbin "
            "FROM events WHERE event_id < 400 AND value IS NOT NULL) "
            "SELECT event_id, event_type, vbin, "
            "CAST(dense_rank() OVER (PARTITION BY event_type ORDER BY vbin, event_id) AS BIGINT) AS rd, "
            "CAST(rank() OVER (PARTITION BY event_type ORDER BY vbin) AS BIGINT) AS rm "
            "FROM e"
        ),
        "kql_ipv4_suite": (
            "WITH b AS (SELECT event_id, CASE "
            "WHEN event_id % 7 = 0 THEN 'not-an-ip' "
            "WHEN event_id % 5 = 0 THEN concat('192.168.', CAST(event_id % 256 AS VARCHAR), '.1') "
            "ELSE concat('10.', CAST(event_id % 256 AS VARCHAR), '.', "
            "CAST((event_id // 256) % 256 AS VARCHAR), '.', "
            "CAST((event_id // 65536) % 256 AS VARCHAR)) END AS ip "
            "FROM events WHERE event_id < 500), "
            "p AS (SELECT event_id, ip, CASE WHEN len(string_split(ip, '.')) = 4 "
            "AND list_aggregate(list_transform(string_split(ip, '.'), "
            "x -> CASE WHEN regexp_matches(x, '^[0-9]{1,3}$') "
            "AND TRY_CAST(x AS BIGINT) <= 255 THEN 1 ELSE 0 END), 'min') = 1 "
            "THEN CAST(string_split(ip, '.')[1] AS BIGINT) * 16777216 "
            "+ CAST(string_split(ip, '.')[2] AS BIGINT) * 65536 "
            "+ CAST(string_split(ip, '.')[3] AS BIGINT) * 256 "
            "+ CAST(string_split(ip, '.')[4] AS BIGINT) ELSE NULL END AS ip_num "
            "FROM b) "
            "SELECT event_id, ip, ip_num, "
            "CASE WHEN ip_num IS NULL THEN '' ELSE concat("
            "CAST((ip_num // 16777216) % 256 AS VARCHAR), '.', "
            "CAST((ip_num // 65536) % 256 AS VARCHAR), '.', "
            "CAST((ip_num // 256) % 256 AS VARCHAR), '.', "
            "CAST(ip_num % 256 AS VARCHAR)) END AS ip_rt, "
            "CASE WHEN ip_num IS NULL THEN 'null' ELSE CAST("
            "(ip_num BETWEEN 167772160 AND 184549375) "
            "OR (ip_num BETWEEN 2886729728 AND 2887778303) "
            "OR (ip_num BETWEEN 3232235520 AND 3232301055) AS VARCHAR) END AS is_priv, "
            "CASE WHEN ip_num IS NULL THEN 'null' ELSE CAST("
            "ip_num BETWEEN 167772160 AND 184549375 AS VARCHAR) END AS in10 FROM p"
        ),
        "kql_url_suite": (
            "SELECT event_id, "
            "concat('{\"Scheme\":\"https\",\"Host\":\"', event_type, "
            "'.example.com\",\"Port\":\"8080\",\"Path\":\"/p/', "
            "CAST(event_id AS VARCHAR), '\",\"QueryString\":\"k=', "
            "CAST(event_id % 10 AS VARCHAR), '\",\"Fragment\":\"s', "
            "CAST(event_id % 3 AS VARCHAR), '\"}') AS url_bag, "
            "replace(concat(event_type, ' ', CAST(event_id AS VARCHAR)), ' ', '%20') AS enc, "
            "concat(event_type, ' ', CAST(event_id AS VARCHAR)) AS dec "
            "FROM events WHERE event_id < 300"
        ),
        "kql_series_fill": (
            "WITH e AS (SELECT event_type, event_id, CASE WHEN event_id % 3 = 0 "
            "THEN NULL ELSE CAST(value AS DOUBLE) END AS v "
            "FROM events WHERE event_id < 300), "
            "f AS (SELECT event_type, event_id, "
            "last_value(v IGNORE NULLS) OVER (PARTITION BY event_type "
            "ORDER BY event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fv, "
            "first_value(v IGNORE NULLS) OVER (PARTITION BY event_type "
            "ORDER BY event_id ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS bv "
            "FROM e), "
            "g AS (SELECT event_type, "
            "list(coalesce(fv, 0) ORDER BY event_id) AS ffl, "
            "list(coalesce(bv, 0) ORDER BY event_id) AS bfl, "
            "list(fv ORDER BY event_id) AS ffn, "
            "list(bv ORDER BY event_id) AS bfn FROM f GROUP BY 1) "
            "SELECT event_type, "
            "round(list_aggregate(ffl, 'sum'), 6) AS ff_sum, "
            "round(list_aggregate(bfl, 'sum'), 6) AS bf_sum, "
            "CAST(len(list_filter(ffn, x -> x IS NULL)) AS BIGINT) AS ff_nulls, "
            "CAST(len(list_filter(bfn, x -> x IS NULL)) AS BIGINT) AS bf_nulls "
            "FROM g"
        ),
        "corpus_stratified_sample": (
            # same md5-threshold construction as the Spark operator:
            # u = int(first 8 md5 hex of 'kpf|<id>') / 2^32 < per-stratum rate
            "SELECT doc_id, lang, source FROM documents WHERE "
            "CAST(concat('0x', substr(md5(concat('kpf', '|', "
            "CAST(doc_id AS VARCHAR))), 1, 8)) AS BIGINT) / 4294967296.0 < "
            "CASE lang WHEN 'en' THEN 0.5 WHEN 'de' THEN 1.0 "
            "WHEN 'fr' THEN 0.2 ELSE 0.1 END"
        ),
        "corpus_shuffle": (
            "SELECT doc_id, CAST(row_number() OVER (ORDER BY "
            "CAST(concat('0x', substr(md5(concat('kpf', '|', "
            "CAST(doc_id AS VARCHAR))), 1, 8)) AS BIGINT) / 4294967296.0, "
            "doc_id) - 1 AS BIGINT) AS shuffle_pos "
            "FROM documents WHERE doc_id < 100"
        ),
        "text_lm_score": (
            # bigram LM from the corpus's own counts; context counts derive
            # from the bigram table so normalization matches the Spark side
            "WITH t AS (SELECT doc_id, "
            f"{_LTOKENS_SQL} AS toks FROM documents), "
            "u AS (SELECT doc_id, unnest(toks) AS w, "
            "unnest(range(1, len(toks) + 1)) AS i FROM t), "
            "bg AS (SELECT doc_id, w AS w1, "
            "lead(w) OVER (PARTITION BY doc_id ORDER BY i) AS w2 FROM u), "
            "b AS (SELECT * FROM bg WHERE w2 IS NOT NULL), "
            "bc AS (SELECT w1, w2, count(*) AS c12 FROM b GROUP BY 1, 2), "
            "cc AS (SELECT w1, sum(c12) AS c1 FROM bc GROUP BY 1), "
            "vv AS (SELECT count(DISTINCT w) AS v FROM u) "
            "SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams, "
            "round(avg(ln((c12 + 0.5) / (c1 + 0.5 * v))), 6) AS lm_score "
            "FROM b JOIN bc USING (w1, w2) JOIN cc USING (w1), vv "
            "GROUP BY doc_id"
        ),
        "text_unigram": (
            # Viterbi pieces partition each word → word counts and summed
            # word lengths are vocabulary-independent; flags are invariants
            "WITH t AS (SELECT doc_id, "
            f"{_LTOKENS_SQL} AS toks FROM documents) "
            "SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_words, "
            "CAST(coalesce(list_sum(list_transform(toks, w -> length(w))), 0) "
            "AS BIGINT) AS piece_chars, "
            "true AS reconstruct_ok, true AS pieces_bounds_ok "
            "FROM t WHERE len(toks) > 0"
        ),
        "text_wordpiece": (
            # greedy longest-match pieces partition each word → identical
            # invariant oracle to text_unigram
            "WITH t AS (SELECT doc_id, "
            f"{_LTOKENS_SQL} AS toks FROM documents) "
            "SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_words, "
            "CAST(coalesce(list_sum(list_transform(toks, w -> length(w))), 0) "
            "AS BIGINT) AS piece_chars, "
            "true AS reconstruct_ok, true AS pieces_bounds_ok "
            "FROM t WHERE len(toks) > 0"
        ),
        "text_ccnet_buckets": (
            # lm CTE == text_lm_score oracle; lang CTEs are the shared
            # _langid_ctes trigram replay; percent_rank over (lang,
            # round-6 score desc, id) — identical sort keys both engines
            "WITH t AS (SELECT doc_id, "
            f"{_LTOKENS_SQL} AS toks FROM documents), "
            "u AS (SELECT doc_id, unnest(toks) AS w, "
            "unnest(range(1, len(toks) + 1)) AS i FROM t), "
            "bg AS (SELECT doc_id, w AS w1, "
            "lead(w) OVER (PARTITION BY doc_id ORDER BY i) AS w2 FROM u), "
            "b AS (SELECT * FROM bg WHERE w2 IS NOT NULL), "
            "bc AS (SELECT w1, w2, count(*) AS c12 FROM b GROUP BY 1, 2), "
            "cc AS (SELECT w1, sum(c12) AS c1 FROM bc GROUP BY 1), "
            "vv AS (SELECT count(DISTINCT w) AS v FROM u), "
            "lm AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams, "
            "round(avg(ln((c12 + 0.5) / (c1 + 0.5 * v))), 6) AS s "
            "FROM b JOIN bc USING (w1, w2) JOIN cc USING (w1), vv "
            "GROUP BY doc_id), "
            f"{_langid_ctes()}, "
            "j AS (SELECT lm.doc_id, lang_pred, n_bigrams, s "
            "FROM lm JOIN lng USING (doc_id)) "
            "SELECT doc_id, lang_pred, n_bigrams, s AS lm_score, "
            "CASE WHEN pr < 1.0/3 THEN 'head' WHEN pr < 2.0/3 THEN 'middle' "
            "ELSE 'tail' END AS ppl_bucket FROM "
            "(SELECT *, percent_rank() OVER (PARTITION BY lang_pred "
            "ORDER BY s DESC, doc_id ASC) AS pr FROM j)"
        ),
        "text_bm25": (
            # replays bm25_topk's expression tree operation-for-operation:
            # Lucene idf, avgdl = sum(dl)/N over exact integer counts
            "WITH t AS (SELECT doc_id, "
            f"{_LTOKENS_SQL} AS toks FROM documents), "
            "dl AS (SELECT doc_id, len(toks) AS dl FROM t), "
            "corpus AS (SELECT CAST(count(*) AS DOUBLE) AS n, "
            "CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl FROM dl), "
            "u AS (SELECT doc_id, unnest(toks) AS term FROM t), "
            "hits AS (SELECT * FROM u WHERE term IN ('spark', 'window', 'merge')), "
            "tf AS (SELECT doc_id, term, count(*) AS tf FROM hits GROUP BY 1, 2), "
            "dfreq AS (SELECT term, CAST(count(*) AS DOUBLE) AS dft FROM tf GROUP BY 1), "
            "scored AS (SELECT tf.doc_id, "
            "ln(1.0 + (c.n - d.dft + 0.5) / (d.dft + 0.5)) "
            "* (CAST(tf.tf AS DOUBLE) * 2.2) "
            "/ (CAST(tf.tf AS DOUBLE) + 1.2 * (0.25 + 0.75 * CAST(l.dl AS DOUBLE) / c.avgdl)) AS w "
            "FROM tf JOIN dfreq d USING (term) JOIN dl l ON l.doc_id = tf.doc_id, corpus c) "
            "SELECT doc_id, round(sum(w), 6) AS bm25, "
            "CAST(count(*) AS BIGINT) AS matched_terms "
            "FROM scored GROUP BY doc_id "
            "ORDER BY bm25 DESC, doc_id ASC LIMIT 15"
        ),
        "corpus_budget_sample": (
            "WITH t AS (SELECT source, sum(n_chars) AS total "
            "FROM documents GROUP BY source) "
            "SELECT doc_id, source, n_chars FROM documents JOIN t USING (source) "
            "WHERE CAST(concat('0x', substr(md5(concat('kpf-budget', '|', "
            "CAST(doc_id AS VARCHAR))), 1, 8)) AS BIGINT) / 4294967296.0 "
            "< least(1.0, 20000 / CAST(total AS DOUBLE))"
        ),
        "text_fix_mojibake": _mojibake_oracle_sql(),
        "text_html_extract": _html_extract_oracle_sql(),
        "warc_parse": _warc_oracle_sql(),
        "pdf_text_extract": (
            # closed-form replay of the forge's 200-char page split;
            # the PDF layer itself must be lossless (tests/test_pdf.py)
            "WITH d AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, "
            "COALESCE(text, '') AS t FROM documents) "
            "SELECT doc_id, CAST(0 AS INT) AS page_no, "
            "CASE WHEN length(t) <= 200 THEN t ELSE substr(t, 1, 200) END "
            "AS page_text, "
            "CAST(CASE WHEN length(t) <= 200 THEN 1 ELSE 2 END AS INT) "
            "AS n_pages FROM d "
            "UNION ALL SELECT doc_id, CAST(1 AS INT), substr(t, 201), "
            "CAST(2 AS INT) FROM d WHERE length(t) > 200"
        ),
        "text_markdown_extract": _markdown_oracle_sql(),
        "text_wikitext_extract": _wikitext_oracle_sql(),
        "text_latex_extract": _latex_oracle_sql(),
        "text_fasttext_quality": _fasttext_oracle_sql(),
        "kqltext_show_policy": (
            # the registered policy IS the expected row
            "SELECT 'Node' AS ColumnName, CAST(16 AS INT) "
            "AS MaxPartitionCount, CAST(7 AS INT) AS Seed"
        ),
        "kqltext_mvapply": (
            # per-row list aggregates replayed with DuckDB list fns
            "WITH p AS (SELECT list_aggregate(string_split("
            "o_orderpriority, '-'), 'max') AS MaxPart, "
            "CAST(len(string_split(o_orderpriority, '-')) AS BIGINT) "
            "AS nParts FROM orders) "
            "SELECT MaxPart, nParts, COUNT(*) AS n FROM p "
            "GROUP BY MaxPart, nParts"
        ),
        "kqltext_q1": (
            # the SQL the KQL text MEANS — checks the parser's
            # where/summarize/sort construction end-to-end
            "SELECT l_returnflag, l_linestatus, "
            "SUM(l_quantity) AS sum_qty, COUNT(*) AS n "
            "FROM lineitem WHERE l_quantity > 10 "
            "GROUP BY l_returnflag, l_linestatus"
        ),
        "kqltext_pipeline": (
            # bin() -> floor multiple as BIGINT (Spark floor returns
            # long); has-term over exact-valued priorities == equality
            "WITH f AS (SELECT o_totalprice, "
            "CAST(floor(o_totalprice / 50000) * 50000 AS BIGINT) "
            "AS Bucket, "
            "CASE WHEN o_custkey % 2 = 0 THEN 'even' ELSE 'odd' END "
            "AS Cls FROM orders WHERE o_orderpriority = '1-URGENT' "
            "AND o_totalprice BETWEEN 1000.0 AND 200000.0) "
            "SELECT Bucket, Cls, COUNT(*) AS n, "
            "round(SUM(o_totalprice), 2) AS total FROM f "
            "GROUP BY Bucket, Cls"
        ),
        "kqltext_plugins": (
            # /16 containment closed-form: ip second octet c_custkey%200
            # matches block octet i*25 exactly when %25==0 and <=175
            "WITH m AS (SELECT c_custkey % 200 AS oct2 FROM customer "
            "WHERE c_custkey % 200 <= 175 AND c_custkey % 25 = 0) "
            "SELECT 'zone-' || CAST(oct2 // 25 AS BIGINT) AS zone_name, "
            "CAST(COUNT(*) AS BIGINT) AS n FROM m GROUP BY 1"
        ),
        "kqltext_scan_steps": (
            # the machine reduces to windowed sessionization for this
            # step shape: break-flag cumsum = session id (arrival
            # order), row_number within session = n
            "WITH o AS (SELECT event_id, ts, CASE WHEN "
            "lag(ts) OVER (ORDER BY ts, event_id) IS NULL OR "
            "ts - lag(ts) OVER (ORDER BY ts, event_id) > "
            "INTERVAL 30 SECOND THEN 1 ELSE 0 END AS brk FROM events), "
            "s AS (SELECT event_id, ts, SUM(brk) OVER (ORDER BY ts, "
            "event_id ROWS UNBOUNDED PRECEDING) AS sid FROM o) "
            "SELECT event_id, CAST(row_number() OVER (PARTITION BY sid "
            "ORDER BY ts, event_id) AS BIGINT) AS n, "
            "CAST(sid - 1 AS BIGINT) AS session FROM s"
        ),
        "kqltext_plugins2": (
            # dense day axis + trailing-3-day window replayed with a
            # BETWEEN join; exact interpolated median via quantile_cont
            "WITH ev AS (SELECT CAST(ts AS DATE) AS d, user_id, value "
            "FROM events), "
            "b AS (SELECT min(d) AS lo, max(d) AS hi FROM ev), "
            "axis AS (SELECT CAST(unnest(generate_series(lo, hi, "
            "INTERVAL 1 DAY)) AS DATE) AS day FROM b), "
            "w AS (SELECT a.day, count(e.d) AS count_events, "
            "count(DISTINCT e.user_id) AS dcount_actors "
            "FROM axis a LEFT JOIN ev e "
            "ON e.d BETWEEN a.day - INTERVAL 2 DAY AND a.day "
            "GROUP BY a.day), "
            "p AS (SELECT a.day, quantile_cont(e.value, 0.5) AS p50 "
            "FROM axis a JOIN ev e "
            "ON e.d BETWEEN a.day - INTERVAL 2 DAY AND a.day "
            "AND e.value IS NOT NULL GROUP BY a.day) "
            "SELECT CAST(w.day AS TIMESTAMP) AS day, CAST(w.count_events AS BIGINT) AS count_events, "
            "CAST(w.dcount_actors AS BIGINT) AS dcount_actors, "
            "round(p.p50, 4) AS p50 FROM w JOIN p ON w.day = p.day "
            "ORDER BY w.day"
        ),
        "kqltext_facet": (
            # the SQL each facet table means, unioned with the
            # same branch labels (values stringified to union)
            "SELECT CAST(o_orderstatus AS VARCHAR) AS value, "
            "CAST(COUNT(*) AS BIGINT) AS count_, "
            "'o_orderstatus' AS _kpf_facet, "
            "CAST(NULL AS BIGINT) AS hi FROM orders GROUP BY 1 "
            "UNION ALL "
            "SELECT CAST(o_orderpriority AS VARCHAR), "
            "CAST(COUNT(*) AS BIGINT), 'o_orderpriority', "
            "CAST(NULL AS BIGINT) FROM orders GROUP BY 1 "
            "UNION ALL "
            "SELECT CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT), "
            "'_with', CAST(COUNT(*) AS BIGINT) "
            "FROM orders WHERE o_totalprice > 200000.0"
        ),
        "kqltext_top_hitters": (
            # the ranked aggregate top-hitters means (ties value asc)
            "SELECT l_returnflag, approximate_sum_l_quantity FROM "
            "(SELECT l_returnflag, "
            "SUM(l_quantity) AS approximate_sum_l_quantity, "
            "row_number() OVER (ORDER BY SUM(l_quantity) DESC, "
            "l_returnflag ASC) AS r FROM lineitem GROUP BY 1) "
            "WHERE r <= 2"
        ),
        "kqltext_fork_python": (
            # the SQL each fork branch means, unioned with the same
            # branch labels; the python stage's computed column is
            # o_totalprice / 2 replayed natively
            "SELECT CAST(o_orderkey % 4 AS BIGINT) AS bucket, "
            "CAST(COUNT(*) AS BIGINT) AS n, "
            "round(SUM(o_totalprice / 2), 2) AS revenue, "
            "'by_bucket' AS _kpf_fork, CAST(NULL AS BIGINT) AS hi_n "
            "FROM orders GROUP BY 1 "
            "UNION ALL "
            "SELECT CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), "
            "CAST(NULL AS DOUBLE), 'hi', CAST(COUNT(*) AS BIGINT) "
            "FROM orders WHERE o_totalprice > 200000.0"
        ),
        "kqltext_parse_kv": (
            # extraction is lossless, so the aggregate computes from the
            # source columns directly
            "SELECT o_orderstatus AS status, o_orderpriority AS pri, "
            "CAST(COUNT(*) AS BIGINT) AS n, "
            "round(SUM(o_totalprice), 2) AS total FROM orders "
            "WHERE o_totalprice > 1000 GROUP BY 1, 2"
        ),
        "kqltext_top_nested": (
            # two ranked windows, ties agg desc then key asc (the
            # engine's documented deterministic order)
            "WITH l1 AS (SELECT o_orderpriority, "
            "round(SUM(o_totalprice), 2) AS total FROM orders GROUP BY 1), "
            "k1 AS (SELECT * FROM (SELECT *, row_number() OVER "
            "(ORDER BY total DESC, o_orderpriority ASC) AS r FROM l1) "
            "WHERE r <= 3), "
            "l2 AS (SELECT o.o_orderpriority, o.o_orderstatus, "
            "CAST(COUNT(*) AS BIGINT) AS n FROM orders o "
            "JOIN k1 USING (o_orderpriority) GROUP BY 1, 2), "
            "k2 AS (SELECT * FROM (SELECT *, row_number() OVER "
            "(PARTITION BY o_orderpriority ORDER BY n DESC, "
            "o_orderstatus ASC) AS r FROM l2) WHERE r <= 2) "
            "SELECT k2.o_orderpriority, k1.total, k2.o_orderstatus, k2.n "
            "FROM k2 JOIN k1 USING (o_orderpriority)"
        ),
        "kqltext_series_fromto": (
            # bin_at alignment via epoch-difference arithmetic (the
            # absolute offsets cancel, so timezone never enters);
            # axis = [from, to) stepped daily; default fill coerces
            # the count to double (the engine's fill type)
            "WITH f AS (SELECT ts FROM events WHERE "
            "ts >= TIMESTAMP '2024-01-05 12:00:00' AND "
            "ts < TIMESTAMP '2024-01-12 12:00:00'), "
            "b AS (SELECT TIMESTAMP '2024-01-05 12:00:00' + "
            "CAST(floor((floor(epoch(ts)) - "
            "floor(epoch(TIMESTAMP '2024-01-05 12:00:00'))) / 86400) "
            "AS BIGINT) * INTERVAL 1 DAY AS ts FROM f), "
            "a AS (SELECT ts, COUNT(*) AS cnt FROM b GROUP BY ts), "
            "axis AS (SELECT unnest(generate_series("
            "TIMESTAMP '2024-01-05 12:00:00', "
            "TIMESTAMP '2024-01-11 12:00:00', INTERVAL 1 DAY)) AS ts) "
            "SELECT axis.ts, CAST(COALESCE(a.cnt, 0) AS DOUBLE) AS n "
            "FROM axis LEFT JOIN a USING (ts) ORDER BY ts"
        ),
        "corpus_dpo_render": (
            # shared template header, two renderings, span = header
            # length .. header + response length
            "WITH d AS (SELECT doc_id, "
            "substr(COALESCE(text, ''), 1, 60) AS p, "
            "CASE WHEN length(COALESCE(text, '')) > 60 "
            "THEN substr(COALESCE(text, ''), 61) ELSE '' END AS c "
            "FROM documents), "
            "e AS (SELECT doc_id, p, c, reverse(c) AS r, "
            "chr(60) || '|user|' || chr(62) || chr(10) || p || "
            "chr(60) || '|end|' || chr(62) || chr(10) || "
            "chr(60) || '|assistant|' || chr(62) || chr(10) AS hdr "
            "FROM d) "
            "SELECT doc_id, "
            "hdr || c || chr(60) || '|end|' || chr(62) || chr(10) "
            "AS dpo_chosen_text, "
            "CAST(length(hdr) AS BIGINT) AS dpo_chosen_s, "
            "CAST(length(hdr) + length(c) AS BIGINT) AS dpo_chosen_e, "
            "hdr || r || chr(60) || '|end|' || chr(62) || chr(10) "
            "AS dpo_rejected_text, "
            "CAST(length(hdr) AS BIGINT) AS dpo_rejected_s, "
            "CAST(length(hdr) + length(r) AS BIGINT) AS dpo_rejected_e "
            "FROM e"
        ),
        "kqltext_bag_narrow": (
            # json extract with the declared type, group, then the
            # one-value-column unpivot narrow() means here
            "WITH e AS (SELECT CAST(json_extract_string(props, '$.k') "
            "AS BIGINT) AS k FROM events), "
            "a AS (SELECT k, CAST(COUNT(*) AS BIGINT) AS n FROM e "
            "GROUP BY k) "
            "SELECT k, 'n' AS \"Column\", CAST(n AS VARCHAR) AS \"Value\" "
            "FROM a"
        ),
        "corpus_fim": (
            # full replay of the salted-md5 gate/arm/cuts and the
            # substr splits (codepoint semantics agree across engines)
            "WITH d AS (SELECT doc_id, COALESCE(text, '') AS t "
            "FROM documents), "
            "h AS (SELECT doc_id, t, length(t) AS n, "
            "CAST(concat('0x', substr(md5('kpf-fim-gate|' || "
            "CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) / 4294967296.0 "
            "AS ug, "
            "CAST(concat('0x', substr(md5('kpf-fim-arm|' || "
            "CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) / 4294967296.0 "
            "AS ua, "
            "CAST(concat('0x', substr(md5('kpf-fim-c1|' || "
            "CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) / 4294967296.0 "
            "AS uc1, "
            "CAST(concat('0x', substr(md5('kpf-fim-c2|' || "
            "CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) / 4294967296.0 "
            "AS uc2 FROM d), "
            "c AS (SELECT doc_id, t, n, ug, ua, "
            "least(CAST(floor(uc1 * (n + 1)) AS INT), "
            "CAST(floor(uc2 * (n + 1)) AS INT)) AS lo, "
            "greatest(CAST(floor(uc1 * (n + 1)) AS INT), "
            "CAST(floor(uc2 * (n + 1)) AS INT)) AS hi FROM h) "
            "SELECT doc_id, "
            "CASE WHEN ug >= 0.6 THEN 'none' "
            "WHEN ua < 0.5 THEN 'spm' ELSE 'psm' END AS fim_mode, "
            "CASE WHEN ug >= 0.6 THEN t "
            "WHEN ua < 0.5 THEN '<|fim_suffix|>' || "
            "substr(t, hi + 1, n - hi) || '<|fim_prefix|>' || "
            "substr(t, 1, lo) || '<|fim_middle|>' || "
            "substr(t, lo + 1, hi - lo) "
            "ELSE '<|fim_prefix|>' || substr(t, 1, lo) || "
            "'<|fim_suffix|>' || substr(t, hi + 1, n - hi) || "
            "'<|fim_middle|>' || substr(t, lo + 1, hi - lo) END "
            "AS fim_text FROM c"
        ),
        "corpus_sft_render": (
            # closed-form template arithmetic: '<|user|>\n'=9 chars,
            # '<|end|>\n'=8, '<|assistant|>\n'=14; loss span covers
            # the assistant content only
            "WITH d AS (SELECT doc_id, COALESCE(text, '') AS t "
            "FROM documents), "
            "p AS (SELECT doc_id, substr(t, 1, 80) AS u, "
            "CASE WHEN length(t) > 80 THEN substr(t, 81) ELSE '' END "
            "AS a FROM d) "
            "SELECT doc_id, "
            "chr(60) || '|user|' || chr(62) || chr(10) || u || "
            "chr(60) || '|end|' || chr(62) || chr(10) || "
            "chr(60) || '|assistant|' || chr(62) || chr(10) || a || "
            "chr(60) || '|end|' || chr(62) || chr(10) AS sft_text, "
            "CAST(9 + length(u) + 8 + 14 AS BIGINT) AS loss_s, "
            "CAST(9 + length(u) + 8 + 14 + length(a) AS BIGINT) "
            "AS loss_e FROM p"
        ),
        "kqltext_scan": (
            # the restart profile as the segment-id construction:
            # segment count = running count of 'en' rows, running sum
            # within each segment (the reset row's value is its own)
            "WITH seg AS (SELECT doc_id, n_chars, "
            "SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) OVER "
            "(ORDER BY doc_id) AS m FROM documents) "
            "SELECT doc_id, SUM(n_chars) OVER "
            "(PARTITION BY m ORDER BY doc_id) AS s, m FROM seg"
        ),
        "kqltext_partition": (
            # per-key branches == the per-key rank window
            "SELECT lang, doc_id, n_chars FROM ("
            "SELECT lang, doc_id, n_chars, row_number() OVER "
            "(PARTITION BY lang ORDER BY n_chars DESC, doc_id ASC) AS r "
            "FROM documents) WHERE r <= 2"
        ),
        "kqltext_find": (
            # per-table all-string-columns case-insensitive term test,
            # null-padded union in project order
            "SELECT 'documents' AS src, doc_id, "
            "CAST(NULL AS BIGINT) AS c_custkey FROM documents "
            "WHERE contains(lower(text), 'ar') "
            "OR contains(lower(lang), 'ar') "
            "OR contains(lower(source), 'ar') "
            "UNION ALL "
            "SELECT 'customer' AS src, CAST(NULL AS BIGINT) AS doc_id, "
            "c_custkey FROM customer "
            "WHERE contains(lower(c_name), 'ar') "
            "OR contains(lower(c_mktsegment), 'ar')"
        ),
        "kqltext_lambda": (
            # chop(800): filter+project; label(lang, n_chars % 10):
            # scalar lambda folded into the projection
            "SELECT doc_id, lang, n_chars, "
            "lang || '-' || CAST(n_chars % 10 AS VARCHAR) AS tag "
            "FROM documents WHERE n_chars >= 400"
        ),
        "kqltext_dynamic": (
            # todynamic(props).k coerced by toint == JSON int extract;
            # take_any made deterministic by aggregating a per-group
            # constant; distinct sorted K makes take 40 a stable set
            "WITH e AS (SELECT CAST(json_extract_string(props, '$.k') "
            "AS INTEGER) AS K FROM events) "
            "SELECT K, CAST(COUNT(*) AS BIGINT) AS n, "
            "'k=' || K AS any_k FROM e WHERE K >= 50 "
            "GROUP BY K ORDER BY K LIMIT 40"
        ),
        "text_hash_embedding": (
            # full replay: tokenizer, hashing trick, per-component
            # counts, integer-sum L2 norm — exact doubles, no rounding
            "WITH base AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, "
            "lower(substr(coalesce(text, ''), 1, 160)) AS t "
            "FROM documents), "
            "tok AS (SELECT doc_id, "
            "regexp_extract_all(t, '[a-z0-9]+') AS l FROM base), "
            "gr AS (SELECT doc_id, l || list_transform("
            "generate_series(1, len(l) - 1), i -> l[i] || '_' || l[i+1]) "
            "AS g FROM tok), "
            "feat AS (SELECT doc_id, CAST(concat('0x', "
            "substr(md5('ft|' || u.gi), 1, 8)) AS BIGINT) % 32 AS idx "
            "FROM gr, UNNEST(g) AS u(gi)), "
            "docs AS (SELECT doc_id, len(g) AS n FROM gr), "
            "cnt AS (SELECT d.doc_id, s.k, CAST(COUNT(f.idx) AS DOUBLE) "
            "AS c FROM docs d CROSS JOIN generate_series(0, 31) s(k) "
            "LEFT JOIN feat f ON f.doc_id = d.doc_id AND f.idx = s.k "
            "GROUP BY d.doc_id, s.k), "
            "nrm AS (SELECT doc_id, sqrt(SUM(c * c)) AS nm FROM cnt "
            "GROUP BY doc_id) "
            "SELECT c.doc_id, CAST(c.k AS INT) AS k, "
            "CASE WHEN n.nm > 0 THEN c.c / n.nm ELSE c.c END AS v, "
            "CAST(d.n AS BIGINT) AS n_grams "
            "FROM cnt c JOIN nrm n USING (doc_id) "
            "JOIN docs d USING (doc_id)"
        ),
        "pipeline_corpus_release": (
            # full-chain replay: forge CTEs (class -> dup-overrides ->
            # email append), closed-form scrub, the exact whitespace-
            # token gate formulas, min-id dedup over md5(scrubbed)
            "WITH d AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, "
            "substr(COALESCE(text, ''), 1, 200) AS t0 FROM documents), "
            "c AS (SELECT doc_id, CASE WHEN doc_id % 7 = 3 THEN '"
            + " ".join(["spam"] * 12)
            + "' WHEN doc_id % 13 = 5 THEN 'tiny' ELSE t0 END AS t1 "
            "FROM d), "
            "dup AS (SELECT c.doc_id, CASE WHEN c.doc_id % 10 = 1 THEN "
            "COALESCE(p.t1, c.t1) ELSE c.t1 END AS t2 "
            "FROM c LEFT JOIN c p ON p.doc_id = c.doc_id - 1), "
            "scr AS (SELECT doc_id, t2 || ' contact <EMAIL>' AS s "
            "FROM dup), "
            "w AS (SELECT doc_id, s, list_filter(regexp_split_to_array("
            "s, '\\s+'), x -> x <> '') AS ws FROM scr), "
            "m AS (SELECT doc_id, s, len(ws) AS n_words, "
            "CASE WHEN len(ws) = 0 THEN 0.0 ELSE 1.0 - "
            "CAST(len(list_distinct(ws)) AS DOUBLE) / len(ws) END "
            "AS dup_word_frac FROM w), "
            "g AS (SELECT * FROM m WHERE n_words >= 5 "
            "AND dup_word_frac <= 0.6), "
            "k AS (SELECT *, row_number() OVER (PARTITION BY md5(s) "
            "ORDER BY doc_id) AS rn FROM g) "
            "SELECT doc_id, CAST(n_words AS BIGINT) AS n_words, "
            "round(dup_word_frac, 6) AS dup_word_frac FROM k WHERE rn = 1"
        ),
        "text_pii_extended": (
            # closed-form: the Luhn-valid card scrubs, the Luhn-invalid
            # twin survives verbatim, IPv4/phone/email tokenize; doc
            # text carries no digits/@/+ so nothing else can match
            "WITH d AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, "
            "substr(COALESCE(text, ''), 1, 120) AS t FROM documents) "
            "SELECT doc_id, CAST(1 AS BIGINT) AS n_emails, "
            "CAST(1 AS BIGINT) AS n_ccs, CAST(1 AS BIGINT) AS n_ipv4, "
            "CAST(1 AS BIGINT) AS n_phones, "
            "'<EMAIL> says ' || t || "
            "' card <CC> or 4111-1111-1111-1112 ip <IP> call <PHONE> end' "
            "AS scrubbed FROM d"
        ),
        "wet_text_extract": (
            # closed-form conversion-record replay; content_length is
            # the payload's BYTE length (UTF-8), pinning the framing
            "WITH d AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, "
            "substr(COALESCE(text, ''), 1, 200) AS t FROM documents) "
            "SELECT doc_id, 'conversion' AS warc_type, "
            "'https://example.org/' || doc_id AS target_uri, "
            "'text/plain' AS content_type, "
            "CAST(octet_length(encode(t)) AS BIGINT) AS content_length, "
            "t AS payload_text FROM d"
        ),
        "rtf_text_extract": (
            # identity oracle: the RTF layer (escapes, destinations,
            # \uc fallback protocol) is lossless by construction; the
            # constant group count pins the brace walk
            "SELECT CAST(doc_id AS BIGINT) AS doc_id, "
            "COALESCE(text, '') AS text, CAST(4 AS INT) AS n_groups "
            "FROM documents"
        ),
        "wat_metadata_extract": (
            # closed-form Envelope replay: title, link count (doc_id%4,
            # with 0 links meaning an ABSENT array -> coalesce 0 and a
            # NULL first link), and the first link's deterministic url
            "WITH d AS (SELECT CAST(doc_id AS BIGINT) AS doc_id "
            "FROM documents) "
            "SELECT doc_id, 'https://example.org/' || doc_id AS target_uri, "
            "'Doc ' || doc_id AS title, "
            "CAST(doc_id % 4 AS INT) AS n_links, "
            "CASE WHEN doc_id % 4 = 0 THEN NULL "
            "ELSE '/l/' || doc_id || '/0' END AS first_link FROM d"
        ),
        "stackexchange_posts_extract": (
            # closed-form two-post replay: attribute escape/unescape is
            # lossless, missing attributes (answer Title, question
            # ParentId) surface as NULL, Score round-trips negatives
            "WITH d AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, "
            "COALESCE(text, '') AS t FROM documents) "
            "SELECT doc_id, CAST(0 AS INT) AS row_no, "
            "CAST(doc_id * 2 AS BIGINT) AS post_id, "
            "CAST(1 AS INT) AS post_type, "
            "CAST(NULL AS BIGINT) AS parent_id, "
            "CAST(doc_id % 100 - 5 AS INT) AS score, "
            "'Question ' || doc_id AS title, "
            "'<p>' || substr(t, 1, 150) || '</p>' AS body, "
            "'<spark><etl>' AS tags FROM d "
            "UNION ALL SELECT doc_id, CAST(1 AS INT), "
            "CAST(doc_id * 2 + 1 AS BIGINT), CAST(2 AS INT), "
            "CAST(doc_id * 2 AS BIGINT), CAST(doc_id % 7 AS INT), "
            "CAST(NULL AS VARCHAR), '<p>answer ' || doc_id || '</p>', "
            "CAST(NULL AS VARCHAR) FROM d"
        ),
        "wiki_dump_extract": (
            # closed-form two-page replay: latest revision wins (the
            # stale decoy must NOT surface), redirect attribute parsed,
            # XML escape/unescape and the %3 compression rotation are
            # lossless by construction
            "WITH d AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, "
            "COALESCE(text, '') AS t FROM documents) "
            "SELECT doc_id, CAST(0 AS INT) AS page_no, "
            "'Page ' || doc_id AS title, CAST(0 AS INT) AS ns, "
            "CAST(doc_id * 10 AS BIGINT) AS page_id, "
            "CAST(NULL AS VARCHAR) AS redirect, "
            "substr(t, 1, 200) AS text FROM d "
            "UNION ALL SELECT doc_id, CAST(1 AS INT), "
            "'Redirect ' || doc_id, CAST(0 AS INT), "
            "CAST(doc_id * 10 + 1 AS BIGINT), 'Page ' || doc_id, "
            "'#REDIRECT [[Page ' || doc_id || ']]' FROM d"
        ),
        "graph_label_propagation": _lpa_oracle_sql(),
        "corpus_pack_boundaries": (
            # the pack prefix sum (corpus_pack's oracle), then each doc
            # explodes to the sequences it overlaps and offsets aggregate
            "WITH t AS (SELECT doc_id, "
            f"CAST(len({_LTOKENS_SQL}) AS BIGINT) AS n_tokens, "
            "CAST(concat('0x', substr(md5(concat('kpf', '|', "
            "CAST(doc_id AS VARCHAR))), 1, 8)) AS BIGINT) / 4294967296.0 "
            "AS h FROM documents), "
            "p AS (SELECT doc_id, n_tokens, "
            "CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY h, doc_id "
            "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) "
            "AS BIGINT) AS token_start FROM t), "
            "s AS (SELECT p.token_start, u.s AS seq_id FROM p, "
            "unnest(range(CAST(FLOOR(token_start / 512) AS BIGINT), "
            "CAST(FLOOR((token_start + n_tokens - 1) / 512) AS BIGINT) + 1"
            ")) u(s) WHERE n_tokens > 0) "
            "SELECT seq_id, CAST(count(*) AS BIGINT) AS n_docs, "
            "array_to_string(list_sort(list(greatest(token_start - "
            "seq_id * 512, 0))), ',') AS boundaries "
            "FROM s GROUP BY seq_id"
        ),
        "corpus_autoextract": (
            # each container roundtrip is lossless and the sniff is
            # deterministic (doc texts carry no magic-byte prefixes —
            # verified at every SF), so both columns predict closed-form
            "SELECT CAST(doc_id AS BIGINT) AS doc_id, "
            "CASE doc_id % 8 WHEN 0 THEN 'pdf' WHEN 1 THEN 'docx' "
            "WHEN 2 THEN 'ipynb' WHEN 3 THEN 'warc' WHEN 4 THEN 'text' "
            "WHEN 5 THEN 'rtf' WHEN 6 THEN 'mediawiki' ELSE 'warc' END "
            "AS kind, COALESCE(text, '') AS text FROM documents"
        ),
        "pipeline_audio_asr": (
            # frozen stub transcripts: sha256 over the four decoded
            # waveforms' canonical sample streams
            "SELECT CAST(doc_id AS BIGINT) AS doc_id, "
            "CASE doc_id % 4 "
            "WHEN 0 THEN '8cd3ad76 631bb187 40381bf4 470b7c90' "
            "WHEN 1 THEN 'c6148617 d10f7f2f 7dc86dc6 2040f6a0' "
            "WHEN 2 THEN '70d32318 6b958643 18972d9e dabb617c' "
            "ELSE '9d86b816 074929f5 87048ee9 4bd3a91d' END AS asr_text, "
            "'stub' AS asr_engine, CAST(160 AS BIGINT) AS n_samples "
            "FROM documents"
        ),
        "subtitles_extract": (
            # closed-form cue replay; timings as total_ms/1000.0 (the
            # parser's exact arithmetic) rounded to 3
            "WITH d AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, "
            "replace(COALESCE(text, ''), chr(10), ' ') AS t "
            "FROM documents) "
            "SELECT doc_id, CAST(0 AS INT) AS cue_no, "
            "round(CAST((doc_id % 3600) * 1000 AS DOUBLE) / 1000.0, 3) "
            "AS start_s, "
            "round(CAST((doc_id % 3600) * 1000 + 1500 AS DOUBLE) / 1000.0, 3) "
            "AS end_s, substr(t, 1, 80) AS text, "
            "CASE WHEN doc_id % 2 = 0 THEN 'srt' ELSE 'vtt' END AS dialect "
            "FROM d "
            "UNION ALL SELECT doc_id, CAST(1 AS INT), "
            "round(CAST(7200000 + doc_id % 1000 AS DOUBLE) / 1000.0, 3), "
            "round(CAST(7200500 + doc_id % 1000 AS DOUBLE) / 1000.0, 3), "
            "'cue two of ' || doc_id, "
            "CASE WHEN doc_id % 2 = 0 THEN 'srt' ELSE 'vtt' END FROM d"
        ),
        "mail_mbox_extract": (
            # closed-form two-message replay; bodies rtrim trailing
            # newlines to the parser's canonical position-independent
            # form; from-stuffing roundtrips verbatim
            "WITH d AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, "
            "COALESCE(text, '') AS t FROM documents) "
            "SELECT doc_id, CAST(0 AS INT) AS msg_no, "
            "'doc ' || doc_id || ' part 0' AS subject, "
            "'user' || doc_id || '@example.org' AS from_addr, "
            "rtrim(substr(t, 1, 120), chr(10)) AS body FROM d "
            "UNION ALL SELECT doc_id, CAST(1 AS INT), "
            "'doc ' || doc_id || ' part 1', "
            "'user' || doc_id || '@example.org', 'part two of ' || doc_id "
            "FROM d"
        ),
        "epub_text_extract": (
            # closed-form chapter-split replay; the epub layer is a raw
            # member slice (no XML unescaping), so text is verbatim
            "WITH d AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, "
            "COALESCE(text, '') AS t FROM documents) "
            "SELECT doc_id, CAST(0 AS INT) AS chapter_no, "
            "'<?xml version=''1.0''?><html><body>' || "
            "CASE WHEN length(t) <= 150 THEN t ELSE substr(t, 1, 150) END "
            "|| '</body></html>' AS html FROM d "
            "UNION ALL SELECT doc_id, CAST(1 AS INT), "
            "'<?xml version=''1.0''?><html><body>' || substr(t, 151) || "
            "'</body></html>' FROM d WHERE length(t) > 150"
        ),
        "corpus_archive_extract": (
            # predictive: the 'txt: ' prefix pins the text members'
            # sniff, and the PDF member's roundtrip is lossless (pinned
            # by pdf_text_extract) — all 3 member rows are closed-form
            "WITH d AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, "
            "COALESCE(text, '') AS t FROM documents) "
            "SELECT doc_id, 'm0.txt' AS member, 'text' AS kind, "
            "'txt: ' || t AS text FROM d "
            "UNION ALL SELECT doc_id, 'm1.txt', 'text', "
            "'part two of ' || doc_id FROM d "
            "UNION ALL SELECT doc_id, 'm2.pdf', 'pdf', t FROM d"
        ),
        "pipeline_multiformat_extract": (
            # predictive oracle: all three container roundtrips are
            # lossless (each pinned by its own query), so every doc must
            # see 3 formats with identical whitespace-normalized text
            "SELECT CAST(doc_id AS BIGINT) AS doc_id, "
            "CAST(3 AS INT) AS n_formats, true AS consistent "
            "FROM documents"
        ),
        "pipeline_pdf_ocr": (
            # frozen stub transcripts: sha256 of the four decoded
            # texture pixel streams, in the stub's 4x8-hex-word form
            "SELECT CAST(doc_id AS BIGINT) AS doc_id, "
            "CASE doc_id % 4 "
            "WHEN 0 THEN '682c3668 32257aa7 778edde3 4d1c4e2d' "
            "WHEN 1 THEN 'b8a1b660 4c04787c 59b706a5 12607478' "
            "WHEN 2 THEN '7824cd90 3ecb7043 44cd4edd 58ff6d73' "
            "ELSE '8ec49452 28f1b76a 2bc9bf84 ea54f680' END AS ocr_text, "
            "'stub' AS ocr_engine, CAST(35 AS INT) AS n_chars "
            "FROM documents"
        ),
        "pipeline_pdf_images": (
            # literal ground-truth vectors (the kql_punycode posture):
            # the four 16x16 texture hashes computed once and frozen —
            # any regression in the PDF image walk, Flate decode, PNG
            # codec, or DCT hash breaks these constants
            "SELECT CAST(doc_id AS BIGINT) AS doc_id, "
            "CASE doc_id % 4 WHEN 0 THEN -1700909427066263315 "
            "WHEN 1 THEN -7076836626391547305 "
            "WHEN 2 THEN -6374941567704814433 "
            "ELSE 6306747246700006711 END AS phash, "
            "CAST(16 AS INT) AS width, CAST(16 AS INT) AS height "
            "FROM documents"
        ),
        "pipeline_pdf_decrypt": (
            # closed-form: real-password stand-ins (doc_id%10=7)
            # refuse → quarantine (0 pages); every other revision —
            # RC4, AES-128, and the V5 AES-256 handler (R5 at
            # doc_id%10=5, R6 at doc_id%10=0) — decrypts lossless, so
            # n_chars is the document's own text length
            "SELECT CAST(doc_id AS BIGINT) AS doc_id, "
            "CAST(CASE WHEN doc_id % 10 = 7 THEN 0 ELSE 1 END AS INT) "
            "AS n_pages, "
            "CAST(CASE WHEN doc_id % 10 = 7 THEN 0 "
            "ELSE length(COALESCE(text, '')) END AS BIGINT) AS n_chars, "
            "CASE WHEN doc_id % 10 = 7 THEN 'refused' "
            "ELSE 'decryptable' END AS enc_class FROM documents"
        ),
        "pipeline_pdf_route": (
            # closed-form: scanned docs (doc_id%3=0, 1 or 2 pages by
            # parity) carry images and zero chars → multimodal; text
            # docs route by their own length (pdf roundtrip lossless)
            "SELECT CAST(doc_id AS BIGINT) AS doc_id, "
            "CAST(CASE WHEN doc_id % 3 = 0 THEN 1 + doc_id % 2 "
            "ELSE 1 END AS INT) AS n_pages, "
            "CAST(CASE WHEN doc_id % 3 = 0 THEN 0 "
            "ELSE length(COALESCE(text, '')) END AS BIGINT) AS n_chars, "
            "doc_id % 3 = 0 AS has_images, "
            "CASE WHEN doc_id % 3 = 0 THEN 'multimodal' "
            "WHEN length(COALESCE(text, '')) = 0 THEN 'empty' "
            "ELSE 'text' END AS route FROM documents"
        ),
        "ipynb_cells_extract": (
            # closed-form replay of the 3-cell forge; the ipynb layer is
            # lossless by construction (tests/test_ipynb.py)
            "WITH d AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, "
            "COALESCE(text, '') AS t FROM documents), "
            "md AS (SELECT doc_id, substr(t, 1, 100) AS src FROM d) "
            "SELECT doc_id, CAST(0 AS INT) AS cell_idx, "
            "'markdown' AS cell_type, src AS source, "
            "CAST(CASE WHEN src = '' THEN 0 ELSE "
            "len(string_split(src, chr(10))) END AS INT) AS n_lines, "
            "'python' AS language FROM md "
            "UNION ALL SELECT doc_id, CAST(1 AS INT), 'code', "
            "'def f_' || doc_id || '():' || chr(10) || '    return ' || "
            "doc_id, CAST(2 AS INT), 'python' FROM d "
            "UNION ALL SELECT doc_id, CAST(2 AS INT), 'raw', 'meta', "
            "CAST(1 AS INT), 'python' FROM d"
        ),
        "docx_text_extract": (
            # the docx layer is lossless (lines <-> paragraphs); the
            # oracle is the identity plus the paragraph count
            "SELECT CAST(doc_id AS BIGINT) AS doc_id, "
            "COALESCE(text, '') AS text, "
            "CAST(len(string_split(COALESCE(text, ''), chr(10))) AS INT) "
            "AS n_paragraphs FROM documents"
        ),
        "pipeline_pdf_extract": (
            # reassembled pages == original text (pdf layer proven
            # lossless by pdf_text_extract), so the gate replays directly
            "WITH d AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, "
            "COALESCE(text, '') AS text FROM documents) "
            "SELECT doc_id, "
            "CAST(CASE WHEN length(text) <= 200 THEN 1 ELSE 2 END AS INT) "
            "AS n_pages, "
            f"CAST(len({_TOKENS_SQL}) AS BIGINT) AS n_tokens FROM d "
            f"WHERE len({_TOKENS_SQL}) >= 10"
        ),
        "multimodal_dedup_recall": _hamming_recall_oracle_sql(),
        "corpus_url_blocklist": (
            "WITH u AS (SELECT doc_id, 'https://www.' || source || "
            "'.example.com/doc/' || doc_id AS url, "
            "lower('www.' || source || '.example.com') AS host "
            "FROM documents) SELECT doc_id, url FROM u WHERE NOT ("
            + " OR ".join(
                f"host = '{d}' OR suffix(host, '.{d}')"
                for d in _URL_BLOCKLIST
            )
            + ")"
        ),
        "pipeline_crawl_extract": _html_extract_oracle_sql(
            tail=(
                "SELECT doc_id, content, CAST(len(list_filter("
                "string_split_regex(trim(content), '\\s+'), t -> t != '')) "
                "AS BIGINT) AS n_tokens FROM hx WHERE n_kept >= 1"
            )
        ),
        "fixedwidth_roundtrip": (
            # losslessness IS the oracle: render->parse must reproduce
            # the original typed columns exactly
            "SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey, "
            "CAST(o_custkey AS BIGINT) AS o_custkey, "
            "o_orderstatus, o_orderpriority FROM orders"
        ),
        "dedup_lsh_recall": (
            # n_exact is the exact >=0.8-Jaccard pair count (full SQL);
            # the recall/efficiency floors are predictive invariants of
            # the seeded banding (raw values pinned in tests)
            "WITH s AS (SELECT doc_id, "
            "list_distinct(list_transform(range(1, greatest(length("
            "lower(text)) - 4, 1) + 1), i -> substr(lower(text), i, 5))) "
            "AS sh FROM documents WHERE doc_id < 500), "
            "p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b "
            "FROM s a JOIN s b ON a.doc_id < b.doc_id "
            "WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / "
            "CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS DOUBLE) "
            ">= 0.8), "
            "n AS (SELECT CAST(count(*) AS BIGINT) AS n_exact FROM p) "
            "SELECT v.variant, n.n_exact, TRUE AS recall_floor_ok, "
            "TRUE AS efficiency_floor_ok FROM "
            "(VALUES ('b16r4'), ('b4r16')) v(variant), n"
        ),
        "graph_triangles": (
            "WITH p AS (SELECT c_nationkey c, s_nationkey s, "
            "CAST(sum(CAST(l_extendedprice * (1 - l_discount) "
            "AS DECIMAL(20,4))) AS DOUBLE) AS rev "
            "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
            "JOIN customer ON o_custkey = c_custkey "
            "JOIN supplier ON l_suppkey = s_suppkey "
            "WHERE c_nationkey <> s_nationkey GROUP BY 1, 2), "
            "e AS (SELECT DISTINCT least(c, s) a, greatest(c, s) b "
            "FROM p WHERE rev > 4500000.0), "
            "w AS (SELECT e1.a x, e1.b y, e2.b z FROM e e1 "
            "JOIN e e2 ON e1.a = e2.a AND e1.b < e2.b), "
            "t AS (SELECT w.* FROM w JOIN e ON e.a = w.y AND e.b = w.z) "
            "SELECT CAST(node AS BIGINT) AS node, "
            "CAST(count(*) AS BIGINT) AS triangles FROM "
            "(SELECT unnest([x, y, z]) AS node FROM t) "
            "GROUP BY 1 ORDER BY node"
        ),
        "corpus_domain_cap": (
            "SELECT doc_id, source FROM (SELECT doc_id, source, "
            "row_number() OVER (PARTITION BY source ORDER BY "
            "CAST(concat('0x', substr(md5(concat('kpf-cap', '|', "
            "CAST(doc_id AS VARCHAR))), 1, 8)) AS BIGINT) ASC, "
            "CAST(doc_id AS VARCHAR) ASC) AS rk FROM documents) "
            "WHERE rk <= 10"
        ),
        "text_char_entropy": (
            "WITH ch AS (SELECT doc_id, substr(text, CAST(gs.i AS INT), 1) "
            "AS c FROM documents, unnest(generate_series(1, length(text))) "
            "AS gs(i)), "
            "cnt AS (SELECT doc_id, c, count(*) AS k FROM ch GROUP BY 1, 2), "
            "n AS (SELECT doc_id, sum(k) AS n FROM cnt GROUP BY 1), "
            "h AS (SELECT doc_id, round(-sum((k / n) * ln(k / n)), 6) AS "
            "entropy FROM cnt JOIN n USING (doc_id) GROUP BY doc_id) "
            "SELECT d.doc_id, CAST(length(d.text) AS BIGINT) AS n_chars, "
            "coalesce(h.entropy, 0.0) AS entropy "
            "FROM documents d LEFT JOIN h USING (doc_id)"
        ),
        "join_bloom_prefilter": (
            "SELECT o_orderkey, o_custkey, o_totalprice FROM orders "
            "WHERE o_custkey IN (SELECT c_custkey FROM customer "
            "WHERE c_nationkey = 7)"
        ),
        "text_oov_rate": (
            "WITH t AS (SELECT doc_id, "
            f"{_LTOKENS_SQL} AS toks FROM documents), "
            "u AS (SELECT doc_id, unnest(toks) AS w FROM t), "
            "vocab AS (SELECT w AS word FROM (SELECT w, count(*) AS n "
            "FROM u GROUP BY 1 ORDER BY n DESC, w ASC LIMIT 25)), "
            "pd AS (SELECT doc_id, count(*) AS n_tokens, "
            "sum(CASE WHEN word IS NULL THEN 1 ELSE 0 END) AS n_oov "
            "FROM u LEFT JOIN vocab ON u.w = vocab.word GROUP BY 1) "
            "SELECT d.doc_id, "
            "CAST(coalesce(n_tokens, 0) AS BIGINT) AS n_tokens, "
            "CAST(coalesce(n_oov, 0) AS BIGINT) AS n_oov, "
            "round(coalesce(n_oov, 0) / "
            "greatest(coalesce(n_tokens, 0), 1), 6) AS oov_rate "
            "FROM documents d LEFT JOIN pd USING (doc_id)"
        ),
        "corpus_domain_shift": (
            # exact replay: same md5 bucket fold, same Laplace smoothing,
            # same ½KL(P‖M)+½KL(Q‖M) over the full source×bucket grid
            "WITH toks AS (SELECT source, unnest(list_filter("
            "string_split_regex(trim(lower(text)), '\\s+'), t -> t != '')) "
            "AS w FROM documents), "
            "b AS (SELECT source AS grp, "
            "CAST(concat('0x', substr(md5(concat('kpf-jsd', '|', w)), 1, 8)) "
            "AS BIGINT) % 512 AS bucket FROM toks), "
            "sc AS (SELECT grp, bucket, count(*) AS cs FROM b GROUP BY 1, 2), "
            "ts AS (SELECT grp, sum(cs) AS ns FROM sc GROUP BY 1), "
            "cb AS (SELECT bucket, sum(cs) AS c FROM sc GROUP BY 1), "
            "tt AS (SELECT sum(c) AS n FROM cb), "
            "grid AS (SELECT grp, ns, n, gs.i AS bucket FROM ts, tt, "
            "unnest(generate_series(0, 511)) AS gs(i)), "
            "j AS (SELECT grp, ns, "
            "(coalesce(cs, 0) + 0.5) / (ns + 0.5 * 512) AS p, "
            "(coalesce(c, 0) + 0.5) / (n + 0.5 * 512) AS q "
            "FROM grid LEFT JOIN sc USING (grp, bucket) "
            "LEFT JOIN cb USING (bucket)) "
            "SELECT grp AS source, CAST(max(ns) AS BIGINT) AS n_tokens, "
            "round(sum(0.5 * p * ln(p / ((p + q) / 2)) "
            "+ 0.5 * q * ln(q / ((p + q) / 2))), 6) AS jsd "
            "FROM j GROUP BY grp ORDER BY source"
        ),
        "corpus_dsir_sample": (
            # full replay of DSIR: same md5 bucket fold, same Laplace
            # smoothing (B=8192, s=1), same Gumbel-from-md5 key, both
            # engines round to 4dp BEFORE the doc_id-tie-broken top-k
            "WITH t AS (SELECT doc_id, lang, "
            f"{_LTOKENS_SQL} AS toks FROM documents), "
            "g AS (SELECT doc_id, lang, unnest(toks) AS gram FROM t "
            "UNION ALL SELECT doc_id, lang, "
            "unnest(list_transform(range(1, len(toks)), "
            "i -> toks[i] || ' ' || toks[i+1])) AS gram "
            "FROM t WHERE len(toks) >= 2), "
            "b AS (SELECT doc_id, lang, "
            "CAST(concat('0x', substr(md5(concat('kpf-dsir', '|', gram)), "
            "1, 8)) AS BIGINT) % 8192 AS bucket FROM g), "
            "th AS (SELECT bucket, count(*) AS ct FROM b "
            "WHERE lang = 'en' GROUP BY 1), "
            "rh AS (SELECT bucket, count(*) AS cr FROM b GROUP BY 1), "
            "tn AS (SELECT sum(ct) AS nt FROM th), "
            "rn AS (SELECT sum(cr) AS nr FROM rh), "
            "lam AS (SELECT bucket, "
            "ln((coalesce(ct, 0) + 1.0) / (nt + 8192.0)) "
            "- ln((coalesce(cr, 0) + 1.0) / (nr + 8192.0)) AS lam "
            "FROM th FULL OUTER JOIN rh USING (bucket), tn, rn), "
            "w AS (SELECT b.doc_id, sum(lam) AS logw FROM b "
            "JOIN lam USING (bucket) GROUP BY 1), "
            "aw AS (SELECT d.doc_id, coalesce(w.logw, 0.0) AS logw "
            "FROM documents d LEFT JOIN w ON d.doc_id = w.doc_id) "
            "SELECT doc_id, round(logw, 4) AS dsir_logw, "
            "round(logw - ln(-ln((CAST(concat('0x', substr(md5(concat("
            "'kpf-dsir-g', '|', CAST(doc_id AS VARCHAR))), 1, 8)) AS BIGINT) "
            "+ 0.5) / 4294967296.0)), 4) AS sel_key FROM aw "
            "ORDER BY sel_key DESC, doc_id ASC LIMIT 100"
        ),
        "corpus_epoch_upsample": (
            "WITH d AS (SELECT doc_id, lang, "
            "CASE WHEN lang = 'en' THEN 2.3 ELSE 0.7 END AS w FROM documents), "
            "e AS (SELECT doc_id, lang, w, "
            "unnest(range(0, CAST(ceil(w) AS BIGINT))) AS epoch FROM d) "
            "SELECT doc_id, lang, CAST(epoch AS BIGINT) AS epoch FROM e "
            "WHERE epoch < floor(w) "
            "OR CAST(concat('0x', substr(md5(concat('kpf-epoch', '|', "
            "CAST(doc_id AS VARCHAR), '|', CAST(epoch AS VARCHAR))), 1, 8)) AS BIGINT) "
            "/ 4294967296.0 < w - floor(w)"
        ),
        "corpus_split": (
            # same md5 thresholds as train_split: u < 0.9 train,
            # u < 0.95 val, else test
            "SELECT doc_id, lang, CASE WHEN "
            "CAST(concat('0x', substr(md5(concat('kpf-split', '|', "
            "CAST(doc_id AS VARCHAR))), 1, 8)) AS BIGINT) / 4294967296.0 "
            "< 0.9 THEN 'train' WHEN "
            "CAST(concat('0x', substr(md5(concat('kpf-split', '|', "
            "CAST(doc_id AS VARCHAR))), 1, 8)) AS BIGINT) / 4294967296.0 "
            "< 0.95 THEN 'val' ELSE 'test' END AS split FROM documents"
        ),
        "corpus_pack": (
            # global token stream in (hash, doc_id) order; the Spark side's
            # distributed prefix sum must equal this single window cumsum
            "WITH t AS (SELECT doc_id, "
            f"CAST(len({_LTOKENS_SQL}) AS BIGINT) AS n_tokens, "
            "CAST(concat('0x', substr(md5(concat('kpf', '|', "
            "CAST(doc_id AS VARCHAR))), 1, 8)) AS BIGINT) / 4294967296.0 AS h "
            "FROM documents) "
            "SELECT doc_id, n_tokens, "
            "CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY h, doc_id "
            "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) "
            "AS token_start, "
            "CAST(FLOOR(COALESCE(SUM(n_tokens) OVER (ORDER BY h, doc_id "
            "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 512) "
            "AS INT) AS seq_id FROM t"
        ),
        "corpus_line_dedup": (
            "WITH s AS (SELECT doc_id, string_split(text, ' ') AS ws "
            "FROM documents), "
            "u AS (SELECT doc_id, unnest(ws) AS w, "
            "unnest(range(1, len(ws) + 1)) AS pos FROM s), "
            "hot AS (SELECT w FROM u GROUP BY w "
            "HAVING count(DISTINCT doc_id) > 60), "
            "kept AS (SELECT * FROM u ANTI JOIN hot USING (w)), "
            "r AS (SELECT doc_id, string_agg(w, ' ' ORDER BY pos) AS ct "
            "FROM kept GROUP BY doc_id) "
            "SELECT d.doc_id, COALESCE(r.ct, '') AS clean_text "
            "FROM documents d LEFT JOIN r USING (doc_id)"
        ),
        "events_attribution_join": (
            "WITH v AS (SELECT event_id, ts, user_id FROM events "
            "WHERE event_id % 3 = 0), "
            "c AS (SELECT event_id AS click_id, ts AS cts, user_id FROM events "
            "WHERE event_id % 3 = 1) "
            "SELECT v.user_id, v.event_id, c.click_id, v.ts, c.cts AS click_ts "
            "FROM v JOIN c ON v.user_id = c.user_id "
            "AND c.cts >= v.ts AND c.cts <= v.ts + INTERVAL 30 MINUTE"
        ),
        "contamination_bloom": (
            "WITH tok AS (SELECT doc_id, "
            f"{_LTOKENS_SQL} AS toks FROM documents), "
            "g AS (SELECT doc_id, list_distinct(list_transform("
            "range(0, greatest(len(toks) - 7, 0)), "
            "i -> array_to_string(toks[i+1:i+8], ' '))) AS gs FROM tok), "
            "ce AS (SELECT doc_id AS corpus_id, unnest(gs) AS gr FROM g "
            "WHERE doc_id >= 20), "
            "be AS (SELECT doc_id AS bench_id, unnest(gs) AS gr FROM g "
            "WHERE doc_id < 20) "
            "SELECT corpus_id, bench_id, "
            "CAST(count(DISTINCT ce.gr) AS BIGINT) AS shared_ngrams "
            "FROM ce JOIN be USING (gr) GROUP BY 1, 2 HAVING count(DISTINCT ce.gr) >= 1"
        ),
        "contamination_check": (
            "WITH tok AS (SELECT doc_id, "
            f"{_LTOKENS_SQL} AS toks FROM documents), "
            "g AS (SELECT doc_id, list_distinct(list_transform("
            "range(0, greatest(len(toks) - 7, 0)), "
            "i -> array_to_string(toks[i+1:i+8], ' '))) AS gs FROM tok), "
            "ce AS (SELECT doc_id AS corpus_id, unnest(gs) AS gr FROM g "
            "WHERE doc_id >= 20), "
            "be AS (SELECT doc_id AS bench_id, unnest(gs) AS gr FROM g "
            "WHERE doc_id < 20) "
            "SELECT corpus_id, bench_id, "
            "CAST(count(DISTINCT ce.gr) AS BIGINT) AS shared_ngrams "
            "FROM ce JOIN be USING (gr) GROUP BY 1, 2 HAVING count(DISTINCT ce.gr) >= 1"
        ),
        "kql_bag_unpack": (
            "SELECT event_id, event_type,"
            " CAST(props->>'$.k' AS INT) AS k FROM events"
        ),
        "kql_series_outliers": (
            "WITH q AS ("
            " SELECT event_type,"
            " quantile_cont(value, 0.25) AS q1,"
            " quantile_cont(value, 0.75) AS q3"
            " FROM events GROUP BY 1"
            "), f AS ("
            " SELECT event_type, q3 - q1 AS iqr,"
            " q1 - 1.5 * (q3 - q1) AS lo, q3 + 1.5 * (q3 - q1) AS hi FROM q"
            ") "
            "SELECT e.event_id, e.event_type,"
            " round(CASE WHEN f.iqr = 0 THEN 0.0"
            " WHEN e.value > f.hi THEN (e.value - f.hi) / f.iqr"
            " WHEN e.value < f.lo THEN (e.value - f.lo) / f.iqr"
            " ELSE 0.0 END, 6) AS outlier_score"
            " FROM events e JOIN f USING (event_type)"
        ),
        "kql_lookup": (
            "SELECT o_orderkey, o_custkey, c_mktsegment FROM orders"
            " LEFT JOIN customer ON o_custkey = c_custkey"
        ),
        "kql_top_hitters": (
            "SELECT user_id, count(*) AS hits FROM events"
            " GROUP BY 1 ORDER BY hits DESC, user_id LIMIT 5"
        ),
        "heavy_hitters_sketch": (
            # predictive oracle: the exact heavy set (count*k > N_b, same
            # md5 bucket fold) must be captured in-bounds by SpaceSaving
            "WITH b AS (SELECT CAST(user_id AS VARCHAR) AS item, "
            "CAST(concat('0x', substr(md5(concat('kpf-hh', '|', "
            "CAST(user_id AS VARCHAR))), 1, 8)) AS BIGINT) % 8 AS bucket "
            "FROM events), "
            "c AS (SELECT bucket, item, count(*) AS true_count "
            "FROM b GROUP BY 1, 2), "
            "t AS (SELECT bucket, sum(true_count) AS n_b FROM c GROUP BY 1) "
            "SELECT bucket, item, true_count, "
            "true AS captured, true AS est_ok "
            "FROM c JOIN t USING (bucket) WHERE true_count * 32 > n_b"
        ),
        "kql_find": (
            # per-table `* contains` over that table's own string columns,
            # then schema union with null padding + source_ tag
            "SELECT 'customer' AS source_, c_custkey, c_name, "
            "CAST(NULL AS BIGINT) AS s_suppkey, CAST(NULL AS VARCHAR) AS s_name "
            "FROM customer WHERE contains(lower(c_name), '00001') "
            "OR contains(lower(c_mktsegment), '00001') "
            "UNION ALL "
            "SELECT 'supplier', CAST(NULL AS BIGINT), CAST(NULL AS VARCHAR), "
            "s_suppkey, s_name FROM supplier "
            "WHERE contains(lower(s_name), '00001')"
        ),
        "kql_series_fill_linear": (
            "WITH src AS (SELECT * FROM events WHERE value > 4.0"
            "), binned AS ("
            " SELECT event_type, date_trunc('hour', ts) AS series_ts,"
            " CAST(sum(CAST(value AS DECIMAL(20,4))) AS DOUBLE) AS v"
            " FROM src GROUP BY 1, 2"
            "), bounds AS ("
            " SELECT min(date_trunc('hour', ts)) AS lo,"
            " max(date_trunc('hour', ts)) AS hi FROM src"
            "), axis AS ("
            " SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS series_ts"
            " FROM bounds"
            "), keys AS (SELECT DISTINCT event_type FROM src"
            "), dense AS ("
            " SELECT k.event_type, a.series_ts, b.v,"
            " CAST(epoch(a.series_ts) AS BIGINT) AS p"
            " FROM keys k CROSS JOIN axis a"
            " LEFT JOIN binned b"
            " ON b.event_type = k.event_type AND b.series_ts = a.series_ts"
            "), brk AS ("
            " SELECT event_type, series_ts, v, p,"
            " last_value(CASE WHEN v IS NOT NULL THEN p END IGNORE NULLS)"
            "  OVER wp AS pp,"
            " last_value(CASE WHEN v IS NOT NULL THEN v END IGNORE NULLS)"
            "  OVER wp AS pv,"
            " first_value(CASE WHEN v IS NOT NULL THEN p END IGNORE NULLS)"
            "  OVER wn AS np,"
            " first_value(CASE WHEN v IS NOT NULL THEN v END IGNORE NULLS)"
            "  OVER wn AS nv"
            " FROM dense WINDOW"
            " wp AS (PARTITION BY event_type ORDER BY series_ts"
            "  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),"
            " wn AS (PARTITION BY event_type ORDER BY series_ts"
            "  ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)"
            ") "
            "SELECT event_type, series_ts, round(CASE"
            " WHEN v IS NOT NULL THEN v"
            " WHEN pv IS NULL AND nv IS NOT NULL THEN nv"
            " WHEN nv IS NULL AND pv IS NOT NULL THEN pv"
            " ELSE pv + (nv - pv) * (p - pp) / (np - pp) END, 6) AS series_value"
            " FROM brk"
        ),
        "set_union": (
            "SELECT name, nationkey, coalesce(acctbal, -1.0) AS acctbal FROM ("
            " SELECT c_name AS name, CAST(c_nationkey AS INT) AS nationkey,"
            " c_acctbal AS acctbal FROM customer"
            " UNION ALL BY NAME"
            " SELECT s_name AS name, CAST(s_nationkey AS INT) AS nationkey"
            " FROM supplier)"
        ),
        "kql_percentiles": (
            "SELECT event_type, round(quantile_cont(value, 0.5), 6) AS p50, "
            "round(quantile_cont(value, 0.95), 6) AS p95 FROM events GROUP BY 1"
        ),
        "kql_extract": (
            "SELECT c_custkey, regexp_extract(c_name, 'Customer#(\\d+)', 1) AS cnum "
            "FROM customer"
        ),
        # lag+cumsum segmentation == session_window semantics; end = max+gap
        "session_stats": (
            "WITH t AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, "
            "CASE WHEN lag(CAST(ts AS TIMESTAMP)) OVER "
            "(PARTITION BY user_id ORDER BY ts) IS NULL "
            "OR date_diff('second', lag(CAST(ts AS TIMESTAMP)) OVER "
            "(PARTITION BY user_id ORDER BY ts), CAST(ts AS TIMESTAMP)) > 3600 "
            "THEN 1 ELSE 0 END AS ns FROM events), "
            "g AS (SELECT user_id, ts, sum(ns) OVER "
            "(PARTITION BY user_id ORDER BY ts "
            "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid FROM t) "
            "SELECT user_id, min(ts) AS session_start, "
            "max(ts) + INTERVAL 3600 SECOND AS session_end, "
            "CAST(count(*) AS BIGINT) AS n_events FROM g GROUP BY user_id, sid"
        ),
        "rollup_multires": (
            "SELECT '1 hour' AS resolution, date_trunc('hour', CAST(ts AS TIMESTAMP)) "
            "AS bucket_start, " + _sumd_sql("value", "sum_value") + ", "
            "CAST(count(*) AS BIGINT) AS n FROM events GROUP BY 2 "
            "UNION ALL "
            "SELECT '1 day', date_trunc('day', CAST(ts AS TIMESTAMP)), "
            + _sumd_sql("value", "sum_value") + ", CAST(count(*) AS BIGINT) "
            "FROM events GROUP BY 2"
        ),
        "kql_dcount": (
            "SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS dc_users "
            "FROM events GROUP BY 1"
        ),
        "range_join_bands": (
            "WITH bands(lo, hi, band) AS (VALUES "
            + ", ".join(
                f"({float(i*10)}, {float(i*10+10)-0.001}, 'band{i}')" for i in range(6)
            )
            + ") SELECT band, CAST(count(*) AS BIGINT) AS n FROM lineitem "
            "JOIN bands ON l_quantity BETWEEN lo AND hi GROUP BY band"
        ),
        # ---- round-2 KQL surface ----
        "kql_argmax": (
            "WITH r AS (SELECT event_type, user_id, value, event_id, "
            "row_number() OVER (PARTITION BY event_type "
            "ORDER BY value DESC, event_id DESC) AS rmax, "
            "row_number() OVER (PARTITION BY event_type "
            "ORDER BY value ASC, event_id ASC) AS rmin FROM events) "
            "SELECT event_type, "
            "max(CASE WHEN rmax = 1 THEN user_id END) AS argmax_user, "
            "max(CASE WHEN rmin = 1 THEN user_id END) AS argmin_user, "
            "max(value) AS max_value, min(value) AS min_value "
            "FROM r GROUP BY event_type"
        ),
        "kql_condagg": (
            "WITH a AS (SELECT l_returnflag, "
            "CAST(sum(CASE WHEN l_quantity > 25 THEN CAST(l_extendedprice AS DECIMAL(10,4)) END) AS DOUBLE) "
            "/ count(CASE WHEN l_quantity > 25 THEN 1 END) AS avg_hi, "
            "min(CASE WHEN l_quantity < 10 THEN l_extendedprice END) AS min_lo, "
            "max(CASE WHEN l_quantity > 25 THEN l_extendedprice END) AS max_hi, "
            "CAST(count(DISTINCT CASE WHEN l_quantity > 25 THEN l_suppkey END) AS BIGINT) AS dc_supp_hi, "
            "CAST(sum(CAST(l_extendedprice AS DECIMAL(10,4))) AS DOUBLE) AS sx, "
            "CAST(sum(CAST(l_extendedprice AS DECIMAL(19,4)) * CAST(l_extendedprice AS DECIMAL(19,4))) AS DOUBLE) AS sxx, "
            "CAST(count(*) AS BIGINT) AS n FROM lineitem GROUP BY l_returnflag) "
            "SELECT l_returnflag, avg_hi, min_lo, max_hi, dc_supp_hi, n, "
            "(sxx - sx * sx / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1) AS var_price, "
            "sqrt((sxx - sx * sx / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1)) AS stdev_price "
            "FROM a"
        ),
        "kql_scalar_suite2": (
            "SELECT event_id, "
            "TIMESTAMP '1970-01-01 00:00:00' + to_seconds(CAST(1800 + "
            "floor((epoch(CAST(ts AS TIMESTAMP)) - 1800) / 3600) * 3600 AS BIGINT)) AS bin30, "
            "CAST(date_part('hour', ts) AS INTEGER) AS hr, "
            "CAST(dayofweek(ts) AS INTEGER) AS dow, "
            "strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d %H:%M') AS fmt, "
            "date_trunc('day', CAST(ts AS TIMESTAMP)) - to_days(CAST(dayofweek(ts) AS INTEGER)) AS sow, "
            "date_trunc('month', CAST(ts AS TIMESTAMP)) + INTERVAL 1 MONTH - INTERVAL 1 MICROSECOND AS eom, "
            "CAST(strpos(event_type, 'e') - 1 AS BIGINT) AS idx_e, "
            "CAST((length(props) - length(replace(props, '\"', ''))) AS BIGINT) AS n_quotes, "
            "reverse(event_type) AS rev, "
            "regexp_replace(event_type, '^(?:[aeiou])+|(?:[aeiou])+$', '', 'g') AS trimmed, "
            "base64(encode(event_type)) AS b64, "
            "sha256(event_type) AS sha, "
            "lower(hex(event_id)) AS hx "
            "FROM events WHERE event_id < 200"
        ),
        "kql_array_suite": (
            "WITH t AS (SELECT doc_id, "
            "list_filter(string_split_regex(text, '\\s+'), w -> w != '') AS w "
            "FROM documents WHERE doc_id < 25) "
            "SELECT doc_id, CAST(len(w) AS BIGINT) AS n_words, "
            "array_to_string(list_slice(w, 1, 3), ' ') AS first3, "
            "CAST(coalesce(list_position(w, 'value'), 0) - 1 AS BIGINT) AS idx_value, "
            "array_to_string(list_slice(list_sort(w), 1, 3), ' ') AS sorted3, "
            "coalesce(array_to_string(list_sort(list_intersect(w, ['data','value','table'])), ' '), '') AS common, "
            "CAST(list_sum(range(1, (len(w) % 10) + 2)) AS DOUBLE) AS seq_sum "
            "FROM t"
        ),
        "kql_narrow": (
            "WITH a AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n, "
            "sum(CAST(value AS DECIMAL(20,4))) AS sum_value FROM events GROUP BY 1) "
            "SELECT event_type, 'n' AS \"Column\", CAST(n AS VARCHAR) AS \"Value\" FROM a "
            "UNION ALL "
            "SELECT event_type, 'sum_value', CAST(sum_value AS VARCHAR) FROM a"
        ),
        "kql_sample": (
            "SELECT l_orderkey, l_linenumber FROM lineitem "
            "WHERE CAST(concat('0x', substr(md5(concat('kpf', '|', l_orderkey, '-', l_linenumber)), 1, 8)) AS BIGINT) "
            f"< {int(0.1 * 0xFFFFFFFF)}"
        ),
        "kql_scan": (
            "WITH seg AS (SELECT user_id, event_id, ts, "
            "CAST(value AS DECIMAL(20,4)) AS vdec, "
            "sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) OVER "
            "(PARTITION BY user_id ORDER BY ts, event_id "
            "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s FROM events) "
            "SELECT user_id, event_id, "
            "CAST(sum(vdec) OVER (PARTITION BY user_id, s ORDER BY ts, event_id "
            "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS scan_sum, "
            "CAST(row_number() OVER (PARTITION BY user_id, s ORDER BY ts, event_id) AS BIGINT) AS scan_step, "
            "CAST(s AS BIGINT) AS scan_match_id "
            "FROM seg"
        ),
        "kql_rownumber": (
            "SELECT user_id, event_id, "
            "CAST(row_number() OVER w AS BIGINT) AS rn, "
            "coalesce(lag(value) OVER w, -1.0) AS prev_value, "
            "coalesce(lead(value) OVER w, -1.0) AS next_value, "
            "CAST(sum(CAST(value AS DECIMAL(20,4))) OVER "
            "(PARTITION BY user_id ORDER BY ts, event_id "
            "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS cum_value "
            "FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)"
        ),
        "kql_series_stats": (
            "WITH bounds AS (SELECT min(date_trunc('day', CAST(ts AS TIMESTAMP))) lo, "
            "max(date_trunc('day', CAST(ts AS TIMESTAMP))) hi FROM events), "
            "axis AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS d FROM bounds), "
            "keys AS (SELECT DISTINCT event_type FROM events), "
            "binned AS (SELECT event_type, date_trunc('day', CAST(ts AS TIMESTAMP)) AS d, "
            "CAST(sum(CAST(value AS DECIMAL(20,4))) AS DOUBLE) AS v FROM events GROUP BY 1, 2), "
            "dense AS (SELECT k.event_type, a.d, "
            "row_number() OVER (PARTITION BY k.event_type ORDER BY a.d) - 1 AS idx, "
            "coalesce(b.v, 0.0) AS v "
            "FROM keys k CROSS JOIN axis a "
            "LEFT JOIN binned b ON b.event_type = k.event_type AND b.d = a.d), "
            "dense2 AS (SELECT *, min(v) OVER (PARTITION BY event_type) AS mn, "
            "max(v) OVER (PARTITION BY event_type) AS mx FROM dense) "
            "SELECT event_type, min(v) AS series_min, max(v) AS series_max, "
            "CAST(min(CASE WHEN v = mn THEN idx END) AS BIGINT) AS series_min_idx, "
            "CAST(min(CASE WHEN v = mx THEN idx END) AS BIGINT) AS series_max_idx, "
            "round(avg(v), 3) AS series_avg, round(stddev_samp(v), 3) AS series_stdev, "
            "round(sum(v), 3) AS series_sum "
            "FROM dense2 GROUP BY event_type"
        ),
        "kql_series_mavg": (
            "WITH bounds AS (SELECT min(date_trunc('day', CAST(ts AS TIMESTAMP))) lo, "
            "max(date_trunc('day', CAST(ts AS TIMESTAMP))) hi FROM events), "
            "axis AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS d FROM bounds), "
            "keys AS (SELECT DISTINCT event_type FROM events), "
            "binned AS (SELECT event_type, date_trunc('day', CAST(ts AS TIMESTAMP)) AS d, "
            "CAST(sum(CAST(value AS DECIMAL(20,4))) AS DOUBLE) AS v FROM events GROUP BY 1, 2), "
            "dense AS (SELECT k.event_type, a.d, "
            "row_number() OVER (PARTITION BY k.event_type ORDER BY a.d) - 1 AS idx, "
            "coalesce(b.v, 0.0) AS v "
            "FROM keys k CROSS JOIN axis a "
            "LEFT JOIN binned b ON b.event_type = k.event_type AND b.d = a.d) "
            "SELECT event_type, CAST(idx AS BIGINT) AS idx, d AS day, "
            "round(avg(v) OVER (PARTITION BY event_type ORDER BY idx "
            "ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 6) AS mavg "
            "FROM dense"
        ),
        "kql_series_corr": (
            "WITH bounds AS (SELECT min(date_trunc('hour', CAST(ts AS TIMESTAMP))) lo, "
            "max(date_trunc('hour', CAST(ts AS TIMESTAMP))) hi FROM events "
            "WHERE event_type IN ('click', 'view')), "
            "axis AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS h FROM bounds), "
            "binned AS (SELECT event_type, date_trunc('hour', CAST(ts AS TIMESTAMP)) AS h, "
            "CAST(count(*) AS DOUBLE) AS v FROM events "
            "WHERE event_type IN ('click', 'view') GROUP BY 1, 2), "
            "dense AS (SELECT t.event_type, a.h, coalesce(b.v, 0.0) AS v "
            "FROM (VALUES ('click'), ('view')) t(event_type) CROSS JOIN axis a "
            "LEFT JOIN binned b ON b.event_type = t.event_type AND b.h = a.h) "
            "SELECT round(corr(c.v, w.v), 6) AS corr_click_view "
            "FROM dense c JOIN dense w ON c.h = w.h "
            "AND c.event_type = 'click' AND w.event_type = 'view'"
        ),
        # replays series_fir's unrolled tap sums in the identical
        # left-to-right float addition order (see operators/kql.py)
        "kql_series_fir": (
            "WITH bounds AS (SELECT min(date_trunc('day', CAST(ts AS TIMESTAMP))) lo, "
            "max(date_trunc('day', CAST(ts AS TIMESTAMP))) hi FROM events), "
            "axis AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS d FROM bounds), "
            "keys AS (SELECT DISTINCT event_type FROM events), "
            "binned AS (SELECT event_type, date_trunc('day', CAST(ts AS TIMESTAMP)) AS d, "
            "CAST(sum(CAST(value AS DECIMAL(20,4))) AS DOUBLE) AS v FROM events GROUP BY 1, 2), "
            "dense AS (SELECT k.event_type, "
            "row_number() OVER (PARTITION BY k.event_type ORDER BY a.d) - 1 AS idx, "
            "coalesce(b.v, 0.0) AS v "
            "FROM keys k CROSS JOIN axis a "
            "LEFT JOIN binned b ON b.event_type = k.event_type AND b.d = a.d), "
            "sized AS (SELECT *, count(*) OVER (PARTITION BY event_type) AS cnt FROM dense) "
            "SELECT event_type, CAST(idx AS BIGINT) AS idx, "
            "round((0.0 + 1.0 * v "
            " + CASE WHEN idx >= 1 THEN 2.0 * lag(v, 1) OVER w ELSE 0.0 END "
            " + CASE WHEN idx >= 2 THEN 3.0 * lag(v, 2) OVER w ELSE 0.0 END) "
            "/ (0.0 + 1.0 + CASE WHEN idx >= 1 THEN 2.0 ELSE 0.0 END "
            " + CASE WHEN idx >= 2 THEN 3.0 ELSE 0.0 END), 6) AS fir, "
            "round((0.0 "
            " + CASE WHEN idx + 1 <= cnt - 1 THEN 1.0 * lead(v, 1) OVER w ELSE 0.0 END "
            " + 1.0 * v "
            " + CASE WHEN idx >= 1 THEN 1.0 * lag(v, 1) OVER w ELSE 0.0 END) "
            "/ (0.0 + CASE WHEN idx + 1 <= cnt - 1 THEN 1.0 ELSE 0.0 END + 1.0 "
            " + CASE WHEN idx >= 1 THEN 1.0 ELSE 0.0 END), 6) AS firc "
            "FROM sized WINDOW w AS (PARTITION BY event_type ORDER BY idx)"
        ),
        # recursive CTE replays the fold's recurrence with the same float ops
        "kql_series_iir": (
            "WITH RECURSIVE bounds AS (SELECT min(date_trunc('day', CAST(ts AS TIMESTAMP))) lo, "
            "max(date_trunc('day', CAST(ts AS TIMESTAMP))) hi FROM events), "
            "axis AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS d FROM bounds), "
            "keys AS (SELECT DISTINCT event_type FROM events), "
            "binned AS (SELECT event_type, date_trunc('day', CAST(ts AS TIMESTAMP)) AS d, "
            "CAST(sum(CAST(value AS DECIMAL(20,4))) AS DOUBLE) AS v FROM events GROUP BY 1, 2), "
            "dense AS (SELECT k.event_type, "
            "row_number() OVER (PARTITION BY k.event_type ORDER BY a.d) - 1 AS idx, "
            "coalesce(b.v, 0.0) AS v "
            "FROM keys k CROSS JOIN axis a "
            "LEFT JOIN binned b ON b.event_type = k.event_type AND b.d = a.d), "
            "iir AS (SELECT event_type, idx, ((0.0 + 0.2 * v) - (0.0 + 0.0)) / 1.0 AS y "
            "FROM dense WHERE idx = 0 "
            "UNION ALL "
            "SELECT d.event_type, d.idx, "
            "((0.0 + 0.2 * d.v) - (0.0 + (-0.8) * i.y)) / 1.0 AS y "
            "FROM dense d JOIN iir i ON d.event_type = i.event_type AND d.idx = i.idx + 1) "
            "SELECT event_type, CAST(idx AS BIGINT) AS idx, round(y, 6) AS smoothed "
            "FROM iir"
        ),
        # per-phase MEDIAN (ADX definition); DuckDB median() interpolates
        # even-sized phases exactly like the Spark middle-pair average
        "kql_series_seasonal": (
            "WITH bounds AS (SELECT min(date_trunc('day', CAST(ts AS TIMESTAMP))) lo, "
            "max(date_trunc('day', CAST(ts AS TIMESTAMP))) hi FROM events), "
            "axis AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS d FROM bounds), "
            "keys AS (SELECT DISTINCT event_type FROM events), "
            "binned AS (SELECT event_type, date_trunc('day', CAST(ts AS TIMESTAMP)) AS d, "
            "CAST(sum(CAST(value AS DECIMAL(20,4))) AS DOUBLE) AS v FROM events GROUP BY 1, 2), "
            "dense AS (SELECT k.event_type, "
            "row_number() OVER (PARTITION BY k.event_type ORDER BY a.d) - 1 AS idx, "
            "coalesce(b.v, 0.0) AS v "
            "FROM keys k CROSS JOIN axis a "
            "LEFT JOIN binned b ON b.event_type = k.event_type AND b.d = a.d), "
            "phase AS (SELECT event_type, idx % 7 AS ph, "
            "median(v) AS m "
            "FROM dense GROUP BY event_type, idx % 7) "
            "SELECT d.event_type, CAST(d.idx AS BIGINT) AS idx, "
            "round(p.m, 6) AS seasonal "
            "FROM dense d JOIN phase p ON p.event_type = d.event_type "
            "AND p.ph = d.idx % 7"
        ),
        "activity_counts_metrics": (
            "WITH base AS (SELECT date_trunc('day', CAST(ts AS TIMESTAMP)) AS bin, "
            "user_id AS actor FROM events), "
            "per_bin AS (SELECT bin, CAST(count(*) AS BIGINT) AS count_, "
            "CAST(count(DISTINCT actor) AS BIGINT) AS dcount FROM base GROUP BY bin), "
            "fs AS (SELECT actor, min(bin) AS bin FROM base GROUP BY actor), "
            "npb AS (SELECT bin, CAST(count(*) AS BIGINT) AS new_dcount FROM fs GROUP BY bin) "
            "SELECT p.bin, p.count_, p.dcount, "
            "CAST(coalesce(n.new_dcount, 0) AS BIGINT) AS new_dcount, "
            "CAST(sum(coalesce(n.new_dcount, 0)) OVER (ORDER BY p.bin "
            "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS aggregated_dcount "
            "FROM per_bin p LEFT JOIN npb n ON n.bin = p.bin"
        ),
        "activity_new_metrics": (
            "WITH pairs AS (SELECT DISTINCT date_trunc('day', CAST(ts AS TIMESTAMP)) AS bin, "
            "user_id AS actor FROM events), "
            "per_bin AS (SELECT bin, CAST(count(*) AS BIGINT) AS dcount FROM pairs GROUP BY bin), "
            "npb AS (SELECT bin, CAST(count(*) AS BIGINT) AS new_dcount FROM "
            "(SELECT actor, min(bin) AS bin FROM pairs GROUP BY actor) GROUP BY bin), "
            "ret AS (SELECT p.bin, CAST(count(*) AS BIGINT) AS retained_dcount "
            "FROM pairs p JOIN pairs q ON q.actor = p.actor "
            "AND q.bin = p.bin - INTERVAL 1 DAY GROUP BY p.bin), "
            "prev AS (SELECT bin + INTERVAL 1 DAY AS bin, dcount AS prev_dcount FROM per_bin) "
            "SELECT b.bin, b.dcount, "
            "CAST(coalesce(n.new_dcount, 0) AS BIGINT) AS new_dcount, "
            "CAST(coalesce(r.retained_dcount, 0) AS BIGINT) AS retained_dcount, "
            "CAST(coalesce(p.prev_dcount, 0) - coalesce(r.retained_dcount, 0) AS BIGINT) AS churn_dcount, "
            "round(coalesce(r.retained_dcount, 0) / CAST(p.prev_dcount AS DOUBLE), 6) AS retention_rate, "
            "round((coalesce(p.prev_dcount, 0) - coalesce(r.retained_dcount, 0)) / CAST(p.prev_dcount AS DOUBLE), 6) AS churn_rate "
            "FROM per_bin b LEFT JOIN npb n ON n.bin = b.bin "
            "LEFT JOIN ret r ON r.bin = b.bin LEFT JOIN prev p ON p.bin = b.bin"
        ),
        "activity_session_count": (
            # per-bin start counts are invariant under permutation of
            # equal timestamps, so the lag replay is order-safe
            "WITH l AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, "
            "lag(CAST(ts AS TIMESTAMP)) OVER (PARTITION BY user_id "
            "ORDER BY CAST(ts AS TIMESTAMP)) AS prev FROM events), "
            "s AS (SELECT * FROM l WHERE prev IS NULL OR "
            "epoch(ts) - epoch(prev) > 1800.0) "
            "SELECT date_trunc('day', ts) AS bin, "
            "CAST(count(*) AS BIGINT) AS n_sessions FROM s GROUP BY 1"
        ),
        "embedding_quantize": (
            "WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings), "
            "sc AS (SELECT vec_id, e, "
            "list_max(list_transform(e, x -> abs(x))) / 127.0 AS s FROM v), "
            "q AS (SELECT vec_id, e, s, "
            "list_transform(e, x -> CASE WHEN s > 0 THEN CAST(round(x / s) AS INT) ELSE 0 END) AS qv "
            "FROM sc) "
            "SELECT vec_id, round(s, 8) AS scale_r, "
            "round(list_sum(list_transform(list_zip(e, qv), p -> "
            "power(p[1] - p[2] * s, 2.0))) / len(e), 8) AS mse_r, "
            "CAST(list_sum(qv) AS BIGINT) AS q_sum, "
            "CAST(list_sum(list_transform(qv, x -> abs(x))) AS BIGINT) AS q_l1 "
            "FROM q"
        ),
        "text_quality_lr_train": _lr_train_oracle_sql(),
        "pipeline_quality_lr_filter": _lr_filter_oracle_sql(),
        "text_quality_lr": (
            # replay of quality_features + the literal-weight sigmoid;
            # term order matches the Spark sum (sorted by feature name)
            "WITH f AS (SELECT doc_id, "
            "length(text) AS n_chars, "
            "len(list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x != '')) AS n_tokens, "
            "length(regexp_replace(text, '[^!-/:-@\\[-`{-~]', '', 'g')) AS punct, "
            "length(regexp_replace(text, '[^0-9]', '', 'g')) AS digits, "
            "length(regexp_replace(text, '[^A-Z]', '', 'g')) AS uppers, "
            "len(list_filter(list_transform(list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x != ''), t -> lower(t)), "
            "t -> t IN ('the','and','of','to','in','is','that','it','for','with'))) AS stop_hits "
            "FROM documents), "
            "r AS (SELECT doc_id, "
            "(n_chars - n_tokens + 1) / CAST(greatest(n_tokens, 1) AS DOUBLE) AS mean_token_len, "
            "punct / CAST(greatest(n_chars, 1) AS DOUBLE) AS punct_ratio, "
            "digits / CAST(greatest(n_chars, 1) AS DOUBLE) AS digit_ratio, "
            "uppers / CAST(greatest(n_chars, 1) AS DOUBLE) AS upper_ratio, "
            "stop_hits / CAST(greatest(n_tokens, 1) AS DOUBLE) AS stopword_ratio, "
            "ln(1.0 + n_tokens) AS log_tokens FROM f), "
            "z AS (SELECT doc_id, -1.5 + (-3.0) * digit_ratio + 0.35 * log_tokens "
            "+ 0.15 * mean_token_len + (-4.0) * punct_ratio "
            "+ 3.0 * stopword_ratio + (-1.0) * upper_ratio AS z FROM r) "
            "SELECT doc_id, round(1.0 / (1.0 + exp(-z)), 6) AS lr_score, "
            "1.0 / (1.0 + exp(-z)) >= 0.5 AS keep FROM z"
        ),
        "ann_recall_ivf": (
            # predictive invariant: both IVF variants clear the 0.55
            # recall floor deterministically at the driver's sf
            "SELECT v AS variant, TRUE AS recall_floor_ok, "
            "'n_cells=16,n_iters=8,nprobe=6' AS config "
            "FROM (VALUES ('ivf_kmeans'), ('ivf_lowest_id')) t(v) ORDER BY v"
        ),
        "ann_recall_pq": (
            # predictive invariant: ADC clears 0.55, ADC+rerank clears
            # 0.90, deterministically at the driver's sf (seeded run)
            "SELECT v AS variant, TRUE AS recall_floor_ok, "
            "'m=32,ks=16,iters=5' AS config "
            "FROM (VALUES ('pq_adc'), ('pq_adc_rerank'), ('pq_ivf_rerank')) t(v) "
            "ORDER BY v"
        ),
        "kql_parse_kv": (
            "SELECT event_id, CAST(event_id AS VARCHAR) AS kv_id, "
            "event_type || ' x' AS kv_type, "
            "CAST(round(value, 3) AS VARCHAR) AS kv_v, "
            "CAST(NULL AS VARCHAR) AS kv_missing "
            "FROM events WHERE event_id < 2000"
        ),
        "kql_punycode": (
            # RFC 3492 ground-truth vectors for the rotating fixture labels
            "SELECT doc_id, "
            "CASE doc_id % 6 WHEN 0 THEN 'mnchen-3ya' WHEN 1 THEN 'bcher-kva' "
            "WHEN 2 THEN 'espaa-rta' WHEN 3 THEN 'caf-dma' "
            "WHEN 4 THEN 'plain-' ELSE '1lq90i' END AS puny, "
            "CASE doc_id % 6 WHEN 0 THEN 'münchen' WHEN 1 THEN 'bücher' "
            "WHEN 2 THEN 'españa' WHEN 3 THEN 'café' "
            "WHEN 4 THEN 'plain' ELSE '北京' END AS back, "
            "CASE doc_id % 6 WHEN 0 THEN 'xn--mnchen-3ya.example.com' "
            "WHEN 1 THEN 'xn--bcher-kva.example.com' "
            "WHEN 2 THEN 'xn--espaa-rta.example.com' "
            "WHEN 3 THEN 'xn--caf-dma.example.com' "
            "WHEN 4 THEN 'plain.example.com' "
            "ELSE 'xn--1lq90i.example.com' END AS domain "
            "FROM documents WHERE doc_id < 120"
        ),
        "kql_tdigest": (
            # exact per-group p50 hash-checked (DuckDB quantile_cont ==
            # Spark percentile, both interpolate); sketch within 1% -> true
            "SELECT event_type, "
            "round(quantile_cont(value, 0.5), 6) AS exact_p50, "
            "TRUE AS tdigest_within_1pct "
            "FROM events GROUP BY event_type ORDER BY event_type"
        ),
        "kql_hll_merge": (
            # predictive invariant: exact dcount hash-checked; the merged
            # HLL estimate within 5% of exact (sketch RSE ~1.6%) -> true
            "SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users, "
            "TRUE AS hll_within_5pct FROM events"
        ),
        "kql_series_suite2": (
            # same dense click/view hourly series as kql_series_arith;
            # every reduction replays the ascending-index fold order
            "WITH bounds AS (SELECT min(date_trunc('hour', CAST(ts AS TIMESTAMP))) lo, "
            "max(date_trunc('hour', CAST(ts AS TIMESTAMP))) hi FROM events "
            "WHERE event_type IN ('click', 'view')), "
            "axis AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS h FROM bounds), "
            "binned AS (SELECT event_type, date_trunc('hour', CAST(ts AS TIMESTAMP)) AS h, "
            "CAST(count(*) AS DOUBLE) AS v FROM events "
            "WHERE event_type IN ('click', 'view') GROUP BY 1, 2), "
            "dense AS (SELECT t.event_type, a.h, "
            "row_number() OVER (PARTITION BY t.event_type ORDER BY a.h) - 1 AS idx, "
            "coalesce(b.v, 0.0) AS v "
            "FROM (VALUES ('click'), ('view')) t(event_type) CROSS JOIN axis a "
            "LEFT JOIN binned b ON b.event_type = t.event_type AND b.h = a.h), "
            "c AS (SELECT idx, v FROM dense WHERE event_type = 'click'), "
            "w AS (SELECT idx, v FROM dense WHERE event_type = 'view') "
            "SELECT round(0.0 + sum(c.v ORDER BY c.idx), 6) AS s_sum, "
            "round((0.0 + sum(c.v ORDER BY c.idx)) / count(*), 6) AS s_avg, "
            "round(min(c.v), 6) AS s_min, round(max(c.v), 6) AS s_max, "
            "round(0.0 + sum(c.v * w.v ORDER BY c.idx), 6) AS s_dot, "
            "round(sqrt(0.0 + sum(c.v * c.v ORDER BY c.idx)), 6) AS s_mag, "
            "round(0.0 + sum(ln(c.v + 1.0) ORDER BY c.idx), 6) AS s_logsum, "
            "round((SELECT exp(sign(v)) FROM w WHERE idx = 0), 6) AS s_exp1, "
            "round(0.0 + sum(power(c.v, 2.0) ORDER BY c.idx), 6) AS s_sumsq "
            "FROM c JOIN w ON c.idx = w.idx"
        ),
        "kql_pivot": (
            "SELECT date_trunc('day', CAST(ts AS TIMESTAMP)) AS day, "
            "round(CAST(sum(CASE WHEN event_type = 'click' THEN CAST(value AS DECIMAL(20,4)) END) AS DOUBLE), 6) AS v_click, "
            "round(CAST(sum(CASE WHEN event_type = 'error' THEN CAST(value AS DECIMAL(20,4)) END) AS DOUBLE), 6) AS v_error, "
            "round(CAST(sum(CASE WHEN event_type = 'purchase' THEN CAST(value AS DECIMAL(20,4)) END) AS DOUBLE), 6) AS v_purchase, "
            "round(CAST(sum(CASE WHEN event_type = 'signup' THEN CAST(value AS DECIMAL(20,4)) END) AS DOUBLE), 6) AS v_signup, "
            "round(CAST(sum(CASE WHEN event_type = 'view' THEN CAST(value AS DECIMAL(20,4)) END) AS DOUBLE), 6) AS v_view "
            "FROM events GROUP BY 1"
        ),
        "kql_series_arith": (
            "WITH bounds AS (SELECT min(date_trunc('hour', CAST(ts AS TIMESTAMP))) lo, "
            "max(date_trunc('hour', CAST(ts AS TIMESTAMP))) hi FROM events "
            "WHERE event_type IN ('click', 'view')), "
            "axis AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS h FROM bounds), "
            "binned AS (SELECT event_type, date_trunc('hour', CAST(ts AS TIMESTAMP)) AS h, "
            "CAST(count(*) AS DOUBLE) AS v FROM events "
            "WHERE event_type IN ('click', 'view') GROUP BY 1, 2), "
            "dense AS (SELECT t.event_type, a.h, "
            "row_number() OVER (PARTITION BY t.event_type ORDER BY a.h) - 1 AS idx, "
            "coalesce(b.v, 0.0) AS v "
            "FROM (VALUES ('click'), ('view')) t(event_type) CROSS JOIN axis a "
            "LEFT JOIN binned b ON b.event_type = t.event_type AND b.h = a.h) "
            "SELECT CAST(c.idx AS BIGINT) AS idx, "
            "round(c.v + w.v, 6) AS s_add, round(c.v - w.v, 6) AS s_sub, "
            "round(c.v * w.v, 6) AS s_mul, "
            "round(c.v / nullif(w.v, 0.0), 6) AS s_div, "
            "round(abs(c.v - w.v), 6) AS s_abs "
            "FROM dense c JOIN dense w ON c.idx = w.idx "
            "AND c.event_type = 'click' AND w.event_type = 'view'"
        ),
        "kql_partition_apply": (
            "SELECT lang, doc_id, n_chars FROM ("
            "SELECT lang, doc_id, n_chars, row_number() OVER "
            "(PARTITION BY lang ORDER BY n_chars DESC, doc_id ASC) AS rn "
            "FROM documents) WHERE rn <= 2"
        ),
        "kql_facet": (
            "SELECT 'lang' AS facet, lang AS value, CAST(count(*) AS BIGINT) AS count_ "
            "FROM documents GROUP BY lang "
            "UNION ALL "
            "SELECT 'source', source, CAST(count(*) AS BIGINT) FROM documents GROUP BY source"
        ),
        "kql_externaldata": (
            "SELECT CAST(i AS BIGINT) AS id, 'name-' || i AS name, "
            "CAST(i * 1.5 AS DOUBLE) AS score FROM range(10) t(i)"
        ),
        # ---- round-2 corpus-prep surface ----
        "text_repetition": (
            "WITH t AS (SELECT doc_id, "
            "list_filter(string_split_regex(text, '\\s+'), x -> x != '') AS w "
            "FROM documents), "
            "base AS (SELECT doc_id, CAST(len(w) AS INTEGER) AS n_words, "
            "CASE WHEN len(w) = 0 THEN 0.0 ELSE "
            "1.0 - CAST(len(list_distinct(w)) AS DOUBLE) / len(w) END AS dup_word_frac "
            "FROM t), "
            "u AS (SELECT doc_id, unnest(w) AS word, generate_subscripts(w, 1) AS ord FROM t), "
            "bg AS (SELECT doc_id, word || ' ' || lead(word) OVER "
            "(PARTITION BY doc_id ORDER BY ord) AS b FROM u), "
            "cnt AS (SELECT doc_id, b, count(*) AS c FROM bg WHERE b IS NOT NULL GROUP BY 1, 2), "
            "stats AS (SELECT doc_id, CAST(max(c) AS DOUBLE) / CAST(sum(c) AS DOUBLE) AS f FROM cnt GROUP BY 1) "
            "SELECT base.doc_id, base.n_words, round(base.dup_word_frac, 6) AS dup_word_frac, "
            "round(coalesce(stats.f, 0.0), 6) AS top_bigram_frac "
            "FROM base LEFT JOIN stats ON base.doc_id = stats.doc_id"
        ),
        "text_pii_scrub": (
            "SELECT event_id, "
            "CAST(len(regexp_extract_all(props, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails, "
            "CAST(len(regexp_extract_all(props, '\\d{2,}')) AS BIGINT) AS n_digit_runs, "
            "md5(regexp_replace(regexp_replace(props, "
            "'[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'), "
            "'\\d{2,}', '<NUM>', 'g')) AS scrub_md5 "
            "FROM events"
        ),
        "doc_chunks": (
            "WITH t AS (SELECT doc_id, "
            "list_filter(string_split_regex(text, '\\s+'), x -> x != '') AS w "
            "FROM documents), "
            "n AS (SELECT doc_id, w, len(w) AS nw FROM t), "
            "c AS (SELECT doc_id, w, nw, "
            "unnest(range(0, CAST(greatest(ceil(nw / 40.0), 1) AS BIGINT))) AS chunk_id FROM n) "
            "SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id, "
            "array_to_string(list_slice(w, chunk_id * 40 + 1, least((chunk_id + 1) * 40, nw)), ' ') AS chunk_text, "
            "CAST(len(list_slice(w, chunk_id * 40 + 1, least((chunk_id + 1) * 40, nw))) AS BIGINT) AS chunk_words "
            "FROM c"
        ),
        "kql_predicates": (
            "SELECT doc_id, "
            "(regexp_matches(text, '(?i)(^|[^a-zA-Z0-9])data($|[^a-zA-Z0-9])') OR regexp_matches(text, '(?i)(^|[^a-zA-Z0-9])vector($|[^a-zA-Z0-9])')) AS p_hasany, "
            "(regexp_matches(text, '(?i)(^|[^a-zA-Z0-9])data($|[^a-zA-Z0-9])') AND regexp_matches(text, '(?i)(^|[^a-zA-Z0-9])table($|[^a-zA-Z0-9])')) AS p_hasall, "
            "starts_with(lower(source), 'w') AS p_sw, "
            "lower(source) LIKE '%b' AS p_ew, "
            "regexp_matches(lang, '^e') AS p_rx, "
            "lower(lang) IN ('en', 'de') AS p_in, "
            "n_chars BETWEEN 100 AND 300 AS p_btw "
            "FROM documents"
        ),
        "kql_union_withsource": (
            "SELECT c_name AS name, CAST(c_nationkey AS INTEGER) AS nationkey, "
            "'customer' AS source_ FROM customer "
            "UNION ALL SELECT s_name, CAST(s_nationkey AS INTEGER), 'supplier' FROM supplier"
        ),
        "ann_recall": (
            f"WITH exact_r AS ({topk_rank}), lsh_r AS ({lsh_rank}), "
            "hits AS (SELECT e.query_id, count(*) AS n_hit FROM exact_r e "
            "JOIN lsh_r l ON e.query_id = l.query_id AND e.neighbor_id = l.neighbor_id "
            "GROUP BY 1), "
            "base AS (SELECT query_id, count(*) AS n_exact FROM exact_r GROUP BY 1) "
            "SELECT b.query_id, CAST(coalesce(h.n_hit, 0) AS DOUBLE) / b.n_exact AS recall_at_10 "
            "FROM base b LEFT JOIN hits h ON b.query_id = h.query_id"
        ),
        "kql_project_ops": (
            "SELECT o_orderpriority AS prio, o_orderkey AS okey, o_custkey FROM orders"
        ),
        "kql_search": (
            "SELECT 'nation' AS source_, to_json(struct_pack("
            "n_nationkey := n_nationkey, n_name := n_name, n_regionkey := n_regionkey)) AS row_json "
            "FROM nation WHERE contains(lower(n_name), 'asia') "
            "UNION ALL "
            "SELECT 'region', to_json(struct_pack(r_regionkey := r_regionkey, r_name := r_name)) "
            "FROM region WHERE contains(lower(r_name), 'asia')"
        ),
        "kql_sample_distinct": (
            "SELECT user_id AS key FROM (SELECT DISTINCT user_id FROM events) "
            "ORDER BY md5(concat('kpf', '|', user_id)), key LIMIT 10"
        ),
        "doc_tfidf": (
            "WITH t AS (SELECT doc_id, "
            "list_filter(string_split_regex(text, '\\s+'), x -> x != '') AS w FROM documents), "
            "terms AS (SELECT doc_id, unnest(w) AS term FROM t), "
            "tf AS (SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY 1, 2), "
            "dfq AS (SELECT term, count(*) AS df_term FROM tf GROUP BY 1), "
            "nn AS (SELECT count(*) AS n FROM documents), "
            "s AS (SELECT doc_id, term, "
            "round(tf * ln(CAST(n AS DOUBLE) / df_term), 6) AS tfidf "
            "FROM tf JOIN dfq USING (term) CROSS JOIN nn), "
            "r AS (SELECT doc_id, term, tfidf, row_number() OVER "
            "(PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rank FROM s) "
            "SELECT doc_id, term, CAST(rank AS BIGINT) AS rank, tfidf FROM r WHERE rank <= 3"
        ),
        "kql_reduce": (
            "WITH t AS (SELECT event_type || ' ' || props AS line FROM events), "
            "m AS (SELECT line, regexp_replace(regexp_replace(regexp_replace(line, "
            "'[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{12}', '*', 'g'), "
            "'[0-9a-fA-F]{8,}', '*', 'g'), '[0-9]+', '*', 'g') AS pattern FROM t) "
            "SELECT pattern AS Pattern, CAST(count(*) AS BIGINT) AS Count, "
            "min(line) AS Representative FROM m GROUP BY 1"
        ),
        "kql_bag_bits": (
            "WITH kv AS (SELECT event_type, CAST(user_id % 4 AS VARCHAR) AS k, "
            "min(CAST(event_id AS VARCHAR)) AS v FROM events GROUP BY 1, 2), "
            "bags AS (SELECT event_type, '{' || string_agg('\"' || k || '\":\"' || v || '\"', ',' ORDER BY (k, v)) || '}' AS bag "
            "FROM kv GROUP BY 1), "
            "bits AS (SELECT event_type, CAST(bit_and(CAST(props->>'$.k' AS INT)) AS BIGINT) AS all_and, "
            "CAST(bit_or(CAST(props->>'$.k' AS INT)) AS BIGINT) AS all_or, "
            "CAST(bit_xor(CAST(props->>'$.k' AS INT)) AS BIGINT) AS all_xor FROM events GROUP BY 1) "
            "SELECT b.event_type, bag, all_and, all_or, all_xor FROM bags b JOIN bits USING (event_type)"
        ),
        "multimodal_decode": (
            "SELECT doc_id, sha256(text) AS content_sha, "
            "16 + CAST(concat('0x', substr(sha256(text), 1, 2)) AS INT) AS width, "
            "16 + CAST(concat('0x', substr(sha256(text), 3, 2)) AS INT) AS height, "
            "3 AS channels, "
            "array_to_string(list_transform(range(0, 8), j -> "
            "CAST(CAST(concat('0x', substr(sha256(text), 5 + 2 * j, 2)) AS INT) AS VARCHAR)), ',') AS feature_bytes "
            "FROM documents"
        ),
        "multimodal_frames": (
            "WITH t AS (SELECT doc_id, text, "
            "greatest(length(text) // 32, 1) AS nf FROM documents "
            "WHERE octet_length(encode(text)) = length(text)), "
            "f AS (SELECT doc_id, text, unnest(range(0, nf, 4)) AS fi FROM t) "
            "SELECT doc_id, CAST(fi AS INT) AS frame_index, "
            "sha256(substring(text, CAST(fi * 32 + 1 AS BIGINT), 32)) AS frame_sha FROM f"
        ),
        "multimodal_frame_plan": (
            # duration rule: (2 + doc_id%5) s at 1 fps -> duration+1 samples
            "WITH x AS (SELECT doc_id, "
            "unnest(range(0, 3 + doc_id % 5)) AS fi "
            "FROM documents WHERE doc_id < 60) "
            "SELECT doc_id, CAST(fi AS BIGINT) AS frame_index, "
            "CAST(fi * 1000 AS BIGINT) AS t_ms FROM x"
        ),
        "multimodal_audio_g711": (
            # fixture rule: quiet-first contour -> 1010... (0xAAAAAAAA),
            # loud-first -> 0101... (0x55555555); 33 frames x 10 codes
            "SELECT doc_id, "
            "CAST(CASE WHEN (doc_id // 2) % 2 = 0 THEN 2863311530 "
            "ELSE 1431655765 END AS BIGINT) AS afp, "
            "CAST(8000 AS INTEGER) AS sample_rate, "
            "CAST(330 AS BIGINT) AS n_samples "
            "FROM documents WHERE doc_id < 60"
        ),
        "multimodal_audio_fp": (
            # ground truth from the fixture rule: ramp -> all 32 bits,
            # constant tone -> 0; true rate and sample count
            "SELECT doc_id, "
            "CAST(CASE WHEN doc_id % 2 = 0 THEN 4294967295 ELSE 0 END AS BIGINT) AS afp, "
            "CAST(8000 + (doc_id % 5) * 1000 AS INTEGER) AS sample_rate, "
            "CAST(330 AS BIGINT) AS n_samples "
            "FROM documents WHERE doc_id < 80"
        ),
        "multimodal_image_dhash": (
            # ground truth from the fixture rule: gradient -> all 64 bits
            # set (signed -1), constant fill -> 0; true 18x8 dimensions
            "SELECT doc_id, "
            "CAST(CASE WHEN doc_id % 2 = 0 THEN -1 ELSE 0 END AS BIGINT) AS dhash, "
            "CAST(18 AS INTEGER) AS width, CAST(8 AS INTEGER) AS height "
            "FROM documents WHERE doc_id < 80"
        ),
        "multimodal_image_phash": (
            # analytic DCT ground truth: linear horizontal ramp -> even
            # frequencies EXACTLY zero, odd positive -> bits {0,1,3,5,7}
            # = 171 at width 32 AND 64 (scale invariance); constant ->
            # DC only = 1 at any brightness; vertical ramp -> transposed
            # bits {0,8,24,40,56} = 1+2^8+2^24+2^40+2^56
            "SELECT doc_id, CAST(CASE "
            "WHEN doc_id % 3 = 0 THEN 171 "
            "WHEN doc_id % 3 = 1 THEN 1 "
            "ELSE 72058693566333185 END AS BIGINT) AS phash, "
            "CAST(CASE WHEN doc_id % 3 = 0 AND doc_id % 2 = 1 "
            "THEN 64 ELSE 32 END AS INTEGER) AS width, "
            "CAST(32 AS INTEGER) AS height "
            "FROM documents WHERE doc_id < 90"
        ),
        "multimodal_image_dhash_tiff": (
            # lossless TIFF decode: gradient -> -1, constant -> 0,
            # regardless of the endian/compression/channel axis rotated
            "SELECT doc_id, "
            "CAST(CASE WHEN doc_id % 2 = 0 THEN -1 ELSE 0 END AS BIGINT) AS dhash, "
            "CAST(18 AS INTEGER) AS width, CAST(8 AS INTEGER) AS height "
            "FROM documents WHERE doc_id < 60"
        ),
        "multimodal_image_dhash_jpeg": (
            # same analytic ground truth as the PNG variant: the fixture
            # gradient's 28-level steps survive quality-95 quantization,
            # so the decoded hash is exactly -1 / 0 regardless of the
            # sampling/restart path the fixture rotation picked
            "SELECT doc_id, "
            "CAST(CASE WHEN doc_id % 2 = 0 THEN -1 ELSE 0 END AS BIGINT) AS dhash, "
            "CAST(18 AS INTEGER) AS width, CAST(8 AS INTEGER) AS height "
            "FROM documents WHERE doc_id < 80"
        ),
        "multimodal_image_dhash_gif": (
            # GIF decode is lossless, so the same ground truth holds with
            # zero tolerance: gradient -> -1, constant -> 0
            "SELECT doc_id, "
            "CAST(CASE WHEN doc_id % 2 = 0 THEN -1 ELSE 0 END AS BIGINT) AS dhash, "
            "CAST(18 AS INTEGER) AS width, CAST(8 AS INTEGER) AS height "
            "FROM documents WHERE doc_id < 80"
        ),
        "multimodal_image_dhash_webp": (
            # VP8L decode is lossless, so the GIF ground truth holds
            # bit-for-bit in the WebP container too: gradient -> -1,
            # constant -> 0
            "SELECT doc_id, "
            "CAST(CASE WHEN doc_id % 2 = 0 THEN -1 ELSE 0 END AS BIGINT) AS dhash, "
            "CAST(18 AS INTEGER) AS width, CAST(8 AS INTEGER) AS height "
            "FROM documents WHERE doc_id < 80"
        ),
        "multimodal_dedup_pairs": (
            # pair set predicted from the fixture classes: same class ->
            # identical hash -> distance 0; cross-class distances >= 8
            "WITH d AS (SELECT doc_id, doc_id % 3 AS cls FROM documents "
            "WHERE doc_id < 60) "
            "SELECT a.doc_id AS id_a, b.doc_id AS id_b, "
            "CAST(0 AS INT) AS distance "
            "FROM d a JOIN d b ON b.cls = a.cls AND b.doc_id > a.doc_id"
        ),
        "multimodal_gif_dhash": (
            # fixture rule: frame 0 gradient -> -1; frame 1 fully
            # transparent overlay -> canvas unchanged -> -1 (compositing
            # proof); frame 2 opaque constant -> 0; docs under id 40
            "SELECT d.doc_id, CAST(f.fi AS BIGINT) AS frame_index, "
            "CAST(CASE WHEN f.fi < 2 THEN -1 ELSE 0 END AS BIGINT) AS dhash "
            "FROM documents d CROSS JOIN (VALUES (0), (1), (2)) f(fi) "
            "WHERE d.doc_id < 40"
        ),
        "multimodal_webp_dhash": (
            # fixture rule, VP8L lossless → exact: frame 0 gradient ->
            # -1; frame 1 transparent BLENDED overlay -> canvas
            # unchanged -> -1 (compositing proof); frame 2 opaque
            # constant -> 0; docs under id 40
            "SELECT d.doc_id, CAST(f.fi AS BIGINT) AS frame_index, "
            "CAST(CASE WHEN f.fi < 2 THEN -1 ELSE 0 END AS BIGINT) AS dhash "
            "FROM documents d CROSS JOIN (VALUES (0), (1), (2)) f(fi) "
            "WHERE d.doc_id < 40"
        ),
        "multimodal_video_dhash": (
            # fixture rule: frame (doc+frame) even -> gradient -> -1,
            # odd -> constant -> 0; 4 frames per doc under id 40
            "SELECT d.doc_id, CAST(f.fi AS BIGINT) AS frame_index, "
            "CAST(CASE WHEN (d.doc_id + f.fi) % 2 = 0 THEN -1 ELSE 0 END AS BIGINT) AS dhash "
            "FROM documents d CROSS JOIN (VALUES (0), (1), (2), (3)) f(fi) "
            "WHERE d.doc_id < 40"
        ),
        "multimodal_real_meta": (
            # predicts the true container-header fields the Spark side
            # parses from REAL generated PNG/WAV bytes
            "SELECT doc_id, "
            "CASE doc_id % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'wav' ELSE 'mp4' END AS media_kind, "
            "CAST(CASE doc_id % 3 WHEN 0 THEN 1 + doc_id % 16 "
            "WHEN 2 THEN 16 + doc_id % 32 ELSE -1 END AS INT) AS width, "
            "CAST(CASE doc_id % 3 WHEN 0 THEN 1 + doc_id % 11 "
            "WHEN 2 THEN 9 + doc_id % 17 ELSE -1 END AS INT) AS height, "
            "CAST(CASE doc_id % 3 WHEN 0 THEN 3 WHEN 1 THEN 1 ELSE NULL END AS INT) AS channels, "
            "CAST(CASE doc_id % 3 WHEN 1 THEN 8000 + (doc_id % 5) * 1000 ELSE -1 END AS INT) AS sample_rate, "
            "CAST(CASE doc_id % 3 WHEN 0 THEN 8 WHEN 1 THEN 16 ELSE NULL END AS INT) AS bits_per_sample, "
            "CAST(CASE doc_id % 3 WHEN 1 THEN 100 + doc_id % 50 ELSE -1 END AS BIGINT) AS n_samples, "
            "CASE doc_id % 3 WHEN 1 THEN CAST(100 + doc_id % 50 AS DOUBLE) "
            "/ (8000 + (doc_id % 5) * 1000) "
            "WHEN 2 THEN (1000 + (doc_id % 20) * 500) / 1000.0 "
            "ELSE -1.0 END AS duration_s "
            "FROM documents WHERE doc_id < 120"
        ),
        "corpus_ngrams": (
            "WITH t AS (SELECT doc_id, "
            "list_filter(string_split_regex(text, '\\s+'), x -> x != '') AS w "
            "FROM documents), "
            "u AS (SELECT doc_id, unnest(w) AS word, generate_subscripts(w, 1) AS ord FROM t), "
            "bg AS (SELECT word || ' ' || lead(word) OVER "
            "(PARTITION BY doc_id ORDER BY ord) AS ngram FROM u) "
            "SELECT ngram, CAST(count(*) AS BIGINT) AS ngram_count FROM bg "
            "WHERE ngram IS NOT NULL GROUP BY ngram "
            "ORDER BY ngram_count DESC, ngram LIMIT 20"
        ),
    }

package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.operators._
import graft.functions.SqlParse

/** Driver contract — the graded query surface.
  *
  * Every entry in `queries` is a named operator from SURVEY.md §2 (or a
  * 100 TB-pipeline extension operator), expressed Spark-first over the
  * driver-generated TPC-H-ish tables. Each oracle-checkable query has a
  * DuckDB-ANSI twin in `oracleSql` with IDENTICAL column names and ORDER BY,
  * and float aggregates rounded (sum→2dp, avg/ratio/sim→4dp) so both engines
  * emit bit-identical values.
  */
object SparkEntry {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables(s, dir, name)

  /** [[t]] with the adaptive scan-parallelism floor ([[Tables]] spread):
    * opt-in for the few queries where a same-JVM A/B proved the extra
    * round-robin exchange wins (heavy exact-arithmetic map work in one
    * DAG: brute-force distance grids, positional n-gram explodes, the
    * 27-column char histogram — evidence in OPTIMIZATION_r15.md §E2).
    * Never use on double-summing or broadcast-cascade queries (IEEE sum
    * order / repeated subtree recompute — both measured regressions).
    */
  private def tSpread(s: SparkSession, dir: String, name: String): DataFrame =
    Tables(s, dir, name, spreadScan = true)

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q5_region_revenue")(spark, "/root/testdata/sf0.001")

  // ---------------------------------------------------------------------
  // Relational / reference-semantics operators
  // ---------------------------------------------------------------------

  private def q1PricingSummary(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc_price"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax"))), 2).as("sum_charge"),
        round(avg(col("l_quantity")), 4).as("avg_qty"),
        round(avg(col("l_extendedprice")), 4).as("avg_price"),
        round(avg(col("l_discount")), 4).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  private def q1Decimal(s: SparkSession, dir: String): DataFrame =
    // the q1 aggregate in DECIMAL arithmetic: money lands in decimal(12,2)
    // at the scan (this generator emits 2-dp values, so the cast is exact)
    // and every sum is then EXACT by type — the alternative to the
    // fixed-point-cents discipline, graded for engine parity end to end.
    // The final sums are cast to DOUBLE for output: the aggregation stays
    // exact decimal, but DECIMAL(38,x) materializes as engine-specific
    // dtypes (python Decimal vs float64) and the comparator hashes dtypes,
    // so both spellings emit the same double — exact, since every sum fits
    // in far fewer than 53 mantissa bits at any graded SF
    t(s, dir, "lineitem")
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .select(col("l_returnflag"), col("l_linestatus"),
        col("l_quantity").cast("decimal(12,2)").as("qty"),
        col("l_extendedprice").cast("decimal(12,2)").as("price"),
        col("l_discount").cast("decimal(12,2)").as("disc"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(col("qty")).cast("double").as("sum_qty"),
        sum(col("price")).cast("double").as("sum_base_price"),
        sum(col("price") * (lit(1).cast("decimal(12,2)") - col("disc")))
          .cast("double").as("sum_disc_price"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  private def q3TopOrders(s: SparkSession, dir: String): DataFrame = {
    val cust = t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
    val ord = t(s, dir, "orders").filter(col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
    val li = t(s, dir, "lineitem").filter(col("l_shipdate") > lit("1998-01-01").cast("timestamp"))
    // no broadcast hint on customer: at TPC-H scale it is multi-GB, and a
    // forced broadcast would OOM — AQE's size-based planning broadcasts the
    // filtered side automatically when it is actually small
    li.join(ord, li("l_orderkey") === ord("o_orderkey"))
      .join(cust, ord("o_custkey") === cust("c_custkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate").cast("date").as("o_orderdate"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
      .orderBy(desc("revenue"), asc("l_orderkey"))
      .limit(10)
  }

  private def q5RegionRevenue(s: SparkSession, dir: String): DataFrame = {
    val region = t(s, dir, "region")
    val nation = t(s, dir, "nation")
    val cust = t(s, dir, "customer")
    val ord = t(s, dir, "orders")
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
    val li = t(s, dir, "lineitem")
    val supp = t(s, dir, "supplier")
    // broadcast hints only on the bounded-size dims (nation=25, region=5
    // rows at ANY scale factor); customer/supplier grow with SF, so their
    // join strategy is left to AQE's size-based planning
    li.join(ord, li("l_orderkey") === ord("o_orderkey"))
      .join(supp, li("l_suppkey") === supp("s_suppkey"))
      .join(cust, ord("o_custkey") === cust("c_custkey") &&
        cust("c_nationkey") === supp("s_nationkey"))
      .join(broadcast(nation), cust("c_nationkey") === nation("n_nationkey"))
      .join(broadcast(region), nation("n_regionkey") === region("r_regionkey"))
      .groupBy(col("n_name"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
      .orderBy(desc("revenue"), asc("n_name"))
  }

  private def q7NationVolume(s: SparkSession, dir: String): DataFrame = {
    // TPC-H Q7 analogue (volume shipping): bilateral revenue between two
    // nations by ship year. The nation dims are PRE-FILTERED to the two
    // parties before joining (each join then prunes early — the filtered
    // 2-row dims broadcast) and only the direction disjunction runs on
    // the joined rows.
    val li = t(s, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1995-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
    val pair = Seq("NATION_1", "NATION_2")
    val n1 = t(s, dir, "nation").filter(col("n_name").isInCollection(pair))
      .select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation"))
    val n2 = t(s, dir, "nation").filter(col("n_name").isInCollection(pair))
      .select(col("n_nationkey").as("c_nk"), col("n_name").as("cust_nation"))
    li.join(t(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(n1), col("s_nationkey") === col("s_nk"))
      .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .join(broadcast(n2), col("c_nationkey") === col("c_nk"))
      .filter(col("supp_nation") =!= col("cust_nation"))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).as("l_year"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
        .as("revenue"))
      .orderBy(col("supp_nation"), col("cust_nation"), col("l_year"))
  }

  private def q8MarketShare(s: SparkSession, dir: String): DataFrame = {
    // TPC-H Q8 analogue (national market share): of AMERICA customers'
    // ECONOMY-part revenue, the share supplied by NATION_3, per order
    // year. The share divides the ROUNDED sums so the output is
    // deterministic given the (hash-checked) aggregate columns.
    val region = t(s, dir, "region").filter(col("r_name") === "AMERICA")
    val nation = t(s, dir, "nation")
    val part = t(s, dir, "part").filter(col("p_type") === "ECONOMY")
    val ord = t(s, dir, "orders")
      .filter(col("o_orderdate") >= lit("1995-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1999-01-01").cast("timestamp"))
    val vol = col("l_extendedprice") * (lit(1) - col("l_discount"))
    val joined = t(s, dir, "lineitem")
      .join(part, col("l_partkey") === col("p_partkey"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation.select(col("n_nationkey").as("c_nk"),
        col("n_regionkey"))), col("c_nationkey") === col("c_nk"))
      .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
      .join(t(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(nation.select(col("n_nationkey").as("s_nk"),
        col("n_name").as("supp_nation"))), col("s_nationkey") === col("s_nk"))
    joined
      .groupBy(year(col("o_orderdate")).as("o_year"))
      .agg(
        round(sum(when(col("supp_nation") === "NATION_3", vol)
          .otherwise(lit(0.0))), 2).as("nation_volume"),
        round(sum(vol), 2).as("total_volume"))
      .withColumn("mkt_share",
        round(col("nation_volume") / col("total_volume"), 6))
      .orderBy(col("o_year"))
  }

  private def q10ReturnedItems(s: SparkSession, dir: String): DataFrame = {
    // TPC-H Q10 analogue (returned-item reporting): revenue lost to
    // returns per customer over one quarter, top 20. The quarter filter
    // prunes orders at the scan; nation (25 rows at any SF) broadcasts;
    // customer joins AFTER the revenue aggregate so the wide c_name/
    // c_acctbal columns ride only the 20-row-bound result, not the
    // lineitem stream. Ordered by ROUNDED revenue (hash-checked column)
    // with a c_custkey tiebreak so the limit cut is deterministic.
    val ord = t(s, dir, "orders")
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1996-04-01").cast("timestamp"))
    val li = t(s, dir, "lineitem").filter(col("l_returnflag") === "R")
    // revenue in FIXED-POINT CENTS: each item's contribution rounds once
    // to an integer, the sum is exact and order-independent, and the
    // /100.0 at the end is bit-identical on any engine — the float-sum
    // rounding knife-edge (…3.595 vs …3.594999…) can't flip the output
    val rev = li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_custkey"))
      .agg((sum(round(col("l_extendedprice") * (lit(1) - col("l_discount"))
          * 100).cast("bigint")) / lit(100.0)).as("revenue"))
    rev.join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .join(broadcast(t(s, dir, "nation")),
        col("c_nationkey") === col("n_nationkey"))
      .orderBy(desc("revenue"), asc("c_custkey")).limit(20)
      .select(col("c_custkey"), col("c_name"), col("revenue"),
        col("c_acctbal"), col("n_name"))
  }

  private def q18LargeOrders(s: SparkSession, dir: String): DataFrame = {
    // TPC-H Q18 analogue (large-volume customers): orders whose summed
    // quantity tops 300, with customer and order detail, top 100 by
    // o_totalprice. The HAVING runs as a partially-aggregated groupBy on
    // the lineitem stream FIRST — the few surviving orderkeys then join
    // orders/customer (AQE broadcasts the tiny survivor side), so the
    // wide tables never see the unfiltered lineitem stream.
    val big = t(s, dir, "lineitem")
      .groupBy(col("l_orderkey"))
      .agg(sum(col("l_quantity")).as("total_qty"))
      .filter(col("total_qty") > 300)
    big.join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .orderBy(desc("o_totalprice"), asc("o_orderkey")).limit(100)
      .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
        col("o_orderdate").cast("date").as("o_orderdate"),
        col("o_totalprice"), round(col("total_qty"), 2).as("total_qty"))
  }

  private def q4OrderPriority(s: SparkSession, dir: String): DataFrame = {
    // TPC-H Q4 analogue (order-priority checking): per priority, orders
    // in one quarter having AT LEAST ONE late lineitem (shipped > 60
    // days after the order date — the EXISTS shape; the reference Q4
    // uses commit/receipt dates this schema doesn't carry). The
    // semi-join keeps the aggregate exact under multiple late items.
    val ord = t(s, dir, "orders")
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1996-04-01").cast("timestamp"))
    val late = t(s, dir, "lineitem")
      .join(ord.select(col("o_orderkey"), col("o_orderdate")),
        col("l_orderkey") === col("o_orderkey"))
      .filter(col("l_shipdate") > date_add(col("o_orderdate").cast("date"), 60))
      .select(col("l_orderkey")).distinct()
    ord.join(late, ord("o_orderkey") === late("l_orderkey"), "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("order_count"))
      .orderBy(col("o_orderpriority"))
  }

  private def q6ForecastRevenue(s: SparkSession, dir: String): DataFrame =
    // TPC-H Q6 (forecasting revenue change): one fully-pushed-down
    // filter + a single fixed-point-cents aggregate — the minimal
    // scan-dominated query; discount band picked against this
    // generator's value grid
    t(s, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
        col("l_discount") >= 0.05 && col("l_discount") <= 0.07 &&
        col("l_quantity") < 24)
      .agg(count(lit(1)).as("n"),
        (sum(round(col("l_extendedprice") * col("l_discount") * 100)
          .cast("bigint")) / lit(100.0)).as("revenue"))

  private def q14PromoShare(s: SparkSession, dir: String): DataFrame = {
    // TPC-H Q14 analogue (promotion effect): share of one month's
    // revenue from PROMO-type parts; the share divides the ROUNDED
    // cent sums (the q8 rule) so the output is deterministic
    val li = t(s, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-03-01").cast("timestamp") &&
        col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
    val cents = round(col("l_extendedprice") * (lit(1) - col("l_discount"))
      * 100).cast("bigint")
    li.join(t(s, dir, "part"), col("l_partkey") === col("p_partkey"))
      .agg(
        sum(when(col("p_type") === "PROMO", cents).otherwise(lit(0L)))
          .as("promo_cents"),
        sum(cents).as("total_cents"))
      .select(
        (col("promo_cents") / lit(100.0)).as("promo_revenue"),
        (col("total_cents") / lit(100.0)).as("total_revenue"),
        round(lit(100.0) * col("promo_cents") / col("total_cents"), 6)
          .as("promo_share_pct"))
  }

  private def q12ShipPriority(s: SparkSession, dir: String): DataFrame = {
    // TPC-H Q12 analogue (shipping modes / order priority): this schema
    // carries no l_shipmode, so the group key is l_linestatus and "late"
    // is shipped > 45 days after the order date (the Q4 rule). Conditional
    // counts split urgent (1-URGENT/2-HIGH) from other priorities. The
    // year filter pushes to the lineitem scan; the single join carries
    // only (o_orderdate, o_orderpriority).
    val li = t(s, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
    li.join(t(s, dir, "orders").select(col("o_orderkey"), col("o_orderdate"),
        col("o_orderpriority")), col("l_orderkey") === col("o_orderkey"))
      .filter(col("l_shipdate") > date_add(col("o_orderdate").cast("date"), 45))
      .groupBy(col("l_linestatus"))
      .agg(
        sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
          .otherwise(0L)).as("high_line_count"),
        sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 0L)
          .otherwise(1L)).as("low_line_count"))
      .orderBy(col("l_linestatus"))
  }

  private def q13CustomerDistribution(s: SparkSession, dir: String): DataFrame = {
    // TPC-H Q13 (customer distribution): how many customers placed k
    // orders — INCLUDING the zero-order customers, which is why the join
    // is LEFT OUTER with the priority exclusion in the JOIN condition
    // (a WHERE would silently drop the k=0 group). Two partial-agg
    // groupBys; the second one's key space is |distinct order counts|,
    // tiny at any scale.
    val ord = t(s, dir, "orders")
      .filter(col("o_orderpriority") =!= "5-LOW")
      .select(col("o_custkey"), col("o_orderkey"))
    t(s, dir, "customer")
      .join(ord, col("c_custkey") === col("o_custkey"), "left_outer")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))
      .orderBy(desc("custdist"), desc("c_count"))
  }

  private def q15TopSupplier(s: SparkSession, dir: String): DataFrame = {
    // TPC-H Q15 (top supplier): supplier(s) with the maximum quarterly
    // revenue. Revenue is summed in FIXED-POINT CENTS so the max
    // comparison is exact integer equality — no float knife-edge can
    // split Spark and the oracle on who ties for top. The 1-row max
    // broadcasts back onto the per-supplier aggregate.
    val rev = t(s, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
      .groupBy(col("l_suppkey"))
      .agg(sum(round(col("l_extendedprice") * (lit(1) - col("l_discount"))
        * 100).cast("bigint")).as("cents"))
    val top = rev.agg(max(col("cents")).as("max_cents"))
    rev.join(broadcast(top), col("cents") === col("max_cents"))
      .join(t(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"),
        (col("cents") / lit(100.0)).as("total_revenue"))
      .orderBy(col("s_suppkey"))
  }

  private def q17SmallQtyRevenue(s: SparkSession, dir: String): DataFrame = {
    // TPC-H Q17 analogue (small-quantity-order revenue): yearly revenue
    // lost if orders below 20% of a part's average quantity were not
    // taken. Brand/size replace brand/container. The per-part average is
    // compared EXACTLY: l_quantity < 0.2 * avg(qty) rewritten as
    // qty10 * 5 * n < sum10 over scaled-BIGINT quantities — integer,
    // order-independent, engine-portable. Parts are filtered BEFORE the
    // join so only that sliver of lineitem aggregates.
    val pt = t(s, dir, "part")
      .filter(col("p_brand") === "Brand#7" && col("p_size") <= 5)
      .select(col("p_partkey"))
    val li = t(s, dir, "lineitem")
      .join(pt, col("l_partkey") === col("p_partkey"))
      .select(col("l_partkey"),
        round(col("l_quantity") * 10).cast("bigint").as("qty10"),
        round(col("l_extendedprice") * 100).cast("bigint").as("cents"))
    val stats = li.groupBy(col("l_partkey").as("sp_partkey"))
      .agg(sum(col("qty10")).as("sum10"), count(lit(1)).as("n"))
    li.join(stats, col("l_partkey") === col("sp_partkey"))
      .filter(col("qty10") * lit(5L) * col("n") < col("sum10"))
      .agg((sum(col("cents")) / lit(700.0)).as("avg_yearly"))
  }

  private def q19FlexibleOr(s: SparkSession, dir: String): DataFrame = {
    // TPC-H Q19 analogue (discounted revenue, OR-of-ANDs): three
    // brand/size/quantity bands OR'd together. Catalyst extracts the
    // common p_size>=1 / quantity-range conjuncts for scan pushdown and
    // evaluates the disjunction post-join; part is filtered to the
    // union of brands before joining.
    val pt = t(s, dir, "part")
      .filter(col("p_brand").isin("Brand#12", "Brand#23", "Brand#3"))
      .select(col("p_partkey"), col("p_brand"), col("p_size"))
    val li = t(s, dir, "lineitem")
      .filter(col("l_quantity") >= 1 && col("l_quantity") <= 30)
    val band =
      (col("p_brand") === "Brand#12" && col("p_size").between(1, 5) &&
        col("l_quantity").between(1, 11)) ||
      (col("p_brand") === "Brand#23" && col("p_size").between(1, 10) &&
        col("l_quantity").between(10, 20)) ||
      (col("p_brand") === "Brand#3" && col("p_size").between(1, 15) &&
        col("l_quantity").between(20, 30))
    li.join(pt, col("l_partkey") === col("p_partkey"))
      .filter(band)
      .agg(count(lit(1)).as("n"),
        (sum(round(col("l_extendedprice") * (lit(1) - col("l_discount"))
          * 100).cast("bigint")) / lit(100.0)).as("revenue"))
  }

  private def q21WaitingSuppliers(s: SparkSession, dir: String): DataFrame = {
    // TPC-H Q21 analogue (suppliers who kept orders waiting): suppliers
    // that were the ONLY late supplier (shipped > 60 days after order
    // date — the Q4 lateness rule) on a multi-supplier finished order.
    // The classic double-EXISTS is rewritten as ONE per-order aggregate:
    // distinct suppliers, distinct late suppliers, and the single late
    // supplier via min=max — one groupBy instead of two lineitem
    // self-joins, the shape that survives 100 TB.
    val ord = t(s, dir, "orders").filter(col("o_orderstatus") === "F")
      .select(col("o_orderkey"), col("o_orderdate"))
    val flagged = t(s, dir, "lineitem")
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .select(col("l_orderkey"), col("l_suppkey"),
        (col("l_shipdate") > date_add(col("o_orderdate").cast("date"), 60))
          .as("late"))
    val culprits = flagged.groupBy(col("l_orderkey"))
      .agg(
        countDistinct(col("l_suppkey")).as("n_supp"),
        countDistinct(when(col("late"), col("l_suppkey"))).as("n_late"),
        min(when(col("late"), col("l_suppkey"))).as("culprit"))
      .filter(col("n_supp") > 1 && col("n_late") === 1)
      .select(col("culprit"))
    culprits.groupBy(col("culprit")).agg(count(lit(1)).as("numwait"))
      .join(t(s, dir, "supplier"), col("culprit") === col("s_suppkey"))
      .select(col("s_name"), col("numwait"))
      .orderBy(desc("numwait"), asc("s_name")).limit(100)
  }

  private def q22GlobalSales(s: SparkSession, dir: String): DataFrame = {
    // TPC-H Q22 analogue (global sales opportunity): customers richer
    // than the average positive balance with no order since 2000 —
    // dormant, not never-ordered, because this generator gives every
    // customer at least one order — rolled up by nation (no phone
    // column, so c_nationkey replaces the country code). The global
    // average is compared EXACTLY in scaled-BIGINT cents
    // (bal_cents * n > sum_cents), the 1-row aggregate broadcasts, and
    // the dormancy test is an anti-join on the date-pruned orders scan —
    // the customer table never self-joins.
    val cust = t(s, dir, "customer")
      .select(col("c_custkey"), col("c_nationkey"),
        round(col("c_acctbal") * 100).cast("bigint").as("bal_cents"))
    val avgPos = cust.filter(col("bal_cents") > 0L)
      .agg(sum(col("bal_cents")).as("sum_cents"), count(lit(1)).as("n"))
    val recent = t(s, dir, "orders")
      .filter(col("o_orderdate") >= lit("2000-01-01").cast("timestamp"))
      .select(col("o_custkey"))
    val rich = cust.join(broadcast(avgPos),
        col("bal_cents") * col("n") > col("sum_cents"))
      .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
    rich.groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("numcust"),
        (sum(col("bal_cents")) / lit(100.0)).as("totacctbal"))
      .orderBy(col("c_nationkey"))
  }

  private def q2MinCostSupplier(s: SparkSession, dir: String): DataFrame = {
    // TPC-H Q2 analogue (minimum-cost supplier): this testdata ships no
    // partsupp table, so the supplier–part catalog is the DISTINCT
    // (l_partkey, l_suppkey) pairs lineitem witnessed, and the supply
    // cost each buyer minimizes is the supplier's account balance
    // (2-dp, compared in exact integer cents). For STANDARD parts of
    // size 10–15: the EUROPE supplier(s) at the per-part minimum.
    // Q2's correlated MIN subquery is decorrelated the scalable way —
    // groupBy-min over the candidate sliver, then an equality re-join of
    // that same sliver; the full catalog never self-joins and the
    // bounded dims (nation, region, the filtered part side) broadcast.
    val pairs = t(s, dir, "lineitem")
      .select(col("l_partkey"), col("l_suppkey")).distinct()
    val pt = t(s, dir, "part")
      .filter(col("p_type") === "STANDARD" && col("p_size").between(10, 15))
      .select(col("p_partkey"), col("p_brand"))
    val eur = t(s, dir, "supplier")
      .join(broadcast(t(s, dir, "nation")),
        col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(t(s, dir, "region").filter(col("r_name") === "EUROPE")),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("s_suppkey"), col("s_name"), col("n_name"),
        round(col("s_acctbal") * 100).cast("bigint").as("bal_cents"))
    val cand = pairs.join(pt, col("l_partkey") === col("p_partkey"))
      .join(eur, col("l_suppkey") === col("s_suppkey"))
    val best = cand.groupBy(col("p_partkey").as("bp"))
      .agg(min(col("bal_cents")).as("min_cents"))
    cand.join(best, col("p_partkey") === col("bp") &&
        col("bal_cents") === col("min_cents"))
      .select((col("bal_cents") / lit(100.0)).as("s_acctbal"), col("s_name"),
        col("n_name"), col("p_partkey"), col("p_brand"))
      .orderBy(desc("s_acctbal"), asc("n_name"), asc("s_name"),
        asc("p_partkey"))
      .limit(100)
  }

  private def q9ProductProfit(s: SparkSession, dir: String): DataFrame = {
    // TPC-H Q9 analogue (product-type profit): no partsupp, so the unit
    // supply cost is modeled as 60% of the part's retail price — a
    // deterministic column function of data both engines see. Profit per
    // line = revenue − cost with BOTH terms rounded to integer cents
    // before the sum (exact, order-independent, engine-portable),
    // grouped by supplier nation and order year over '%widget%' parts.
    // Parts filter before the join; nation broadcasts; orders joins only
    // for the year column, after lineitem is already part-pruned.
    val pt = t(s, dir, "part").filter(col("p_name").like("%widget%"))
      .select(col("p_partkey"), col("p_retailprice"))
    val profitCents =
      round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100)
        .cast("bigint") -
      round(col("p_retailprice") * lit(0.6) * col("l_quantity") * 100)
        .cast("bigint")
    t(s, dir, "lineitem")
      .join(pt, col("l_partkey") === col("p_partkey"))
      .join(t(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(t(s, dir, "nation")),
        col("s_nationkey") === col("n_nationkey"))
      .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("n_name").as("nation"),
        year(col("o_orderdate")).as("o_year"))
      .agg((sum(profitCents) / lit(100.0)).as("sum_profit"))
      .orderBy(asc("nation"), desc("o_year"))
  }

  private def q11ImportantParts(s: SparkSession, dir: String): DataFrame = {
    // TPC-H Q11 analogue (important stock): no partsupp availqty, so a
    // part's stock value is retailprice × total shipped quantity, summed
    // in integer cents. Q11's HAVING > fraction-of-total cutoff is
    // SF-dependent by design (0.0001/SF); the scale-free respelling
    // keeps parts above 1.3× the MEAN part value, tested exactly as
    // value·n·10 > total·13 in BIGINTs — no float division, no epsilon.
    // The 1-row totals aggregate broadcasts against the per-part values.
    val pt = t(s, dir, "part").select(col("p_partkey"), col("p_retailprice"))
    val vals = t(s, dir, "lineitem")
      .join(pt, col("l_partkey") === col("p_partkey"))
      .groupBy(col("l_partkey"))
      .agg(sum(round(col("p_retailprice") * col("l_quantity") * 100)
        .cast("bigint")).as("value_cents"))
    val tot = vals.agg(sum(col("value_cents")).as("total"),
      count(lit(1)).as("n"))
    vals.join(broadcast(tot),
        col("value_cents") * col("n") * lit(10L) > col("total") * lit(13L))
      .select(col("l_partkey").as("p_partkey"),
        (col("value_cents") / lit(100.0)).as("stock_value"))
      .orderBy(desc("stock_value"), asc("p_partkey"))
  }

  private def q16SupplierCounts(s: SparkSession, dir: String): DataFrame = {
    // TPC-H Q16 analogue (supplier counts by part attributes): the
    // supplier–part catalog is lineitem's distinct pairs; Q16's
    // complaints exclusion (this schema has no s_comment) becomes the
    // delinquent set s_acctbal < 1000, removed with a broadcast
    // anti-join — the NOT-IN rewrite that survives scale: the excluded
    // set is a supplier-table sliver, the catalog never self-joins.
    val pairs = t(s, dir, "lineitem")
      .select(col("l_partkey"), col("l_suppkey")).distinct()
    val pt = t(s, dir, "part")
      .filter(col("p_type") =!= "PROMO" &&
        col("p_size").isin(1, 4, 7, 10, 13, 16, 19, 23))
      .select(col("p_partkey"), col("p_brand"), col("p_type"), col("p_size"))
    val bad = t(s, dir, "supplier").filter(col("s_acctbal") < 1000)
      .select(col("s_suppkey"))
    pairs.join(pt, col("l_partkey") === col("p_partkey"))
      .join(broadcast(bad), col("l_suppkey") === col("s_suppkey"), "left_anti")
      .groupBy(col("p_brand"), col("p_type"), col("p_size"))
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
      .orderBy(desc("supplier_cnt"), asc("p_brand"), asc("p_type"),
        asc("p_size"))
  }

  private def q20DominantSuppliers(s: SparkSession, dir: String): DataFrame = {
    // TPC-H Q20 analogue (part-promotion candidates): no partsupp
    // availqty, so Q20's "holds excess stock" becomes DOMINANCE — a
    // supplier shipped >30% of a '%bolt%' part's total 1996 quantity.
    // Quantities compare in ×10 integers (q·10 > tq·3 ⇔ share > 0.3,
    // exact); the per-part totals groupBy is a partial re-aggregation of
    // the (part, supplier) rollup so the corpus shuffles once; the
    // EUROPE scope joins AFTER the distinct dominant-supplier set is
    // already bounded, against broadcast nation/region dims.
    val f = t(s, dir, "part").filter(col("p_name").like("%bolt%"))
      .select(col("p_partkey"))
    val sq = t(s, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
      .join(f, col("l_partkey") === col("p_partkey"))
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(sum(round(col("l_quantity") * 10).cast("bigint")).as("q"))
    val tot = sq.groupBy(col("l_partkey").as("pk"))
      .agg(sum(col("q")).as("tq"))
    val dom = sq.join(tot, col("l_partkey") === col("pk") &&
        col("q") * lit(10L) > col("tq") * lit(3L))
      .select(col("l_suppkey")).distinct()
    dom.join(t(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(t(s, dir, "nation")),
        col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(t(s, dir, "region").filter(col("r_name") === "EUROPE")),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("s_suppkey"), col("s_name"), col("n_name"))
      .orderBy(asc("s_suppkey"))
  }

  /** Bucketed fact tables for [[bucketedJoinQuery]]: lineitem and orders
    * written ONCE per SF dir CLUSTERED BY the order key INTO 8 BUCKETS
    * and sorted within buckets (write-once physical layout like the
    * LSH/IVF/BM25 stores). Because BOTH sides expose the same hash
    * partitioning at scan time, the fact-to-fact join needs no Exchange
    * at all — the 100 TB shape when neither side can broadcast and the
    * join key is stable enough to pay for at ingest. A later session
    * re-attaches the existing files with a CREATE TABLE ... CLUSTERED BY
    * DDL (the metastore-registration step a real cluster does once).
    */
  private def bucketedFacts(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    def ensure(kind: String, src: String, key: String,
               build: DataFrame): DataFrame = {
      val path = layoutPath(dir, kind, "buckets=8", srcTable = src)
      val table = path.split('/').last // graft_<kind>_<digest>
      if (!Layout.indexExists(s, path)) {
        s.sql(s"DROP TABLE IF EXISTS $table")
        // coalesce(1) -> exactly one file per bucket, so the read side
        // honors the within-bucket sort and plans SMJ with no Sort; a
        // cluster-scale ingest writes many files per bucket and pays a
        // per-partition sort instead — the Exchange is gone either way
        build.coalesce(1).write.mode("overwrite")
          .option("path", path)
          .bucketBy(8, key).sortBy(key)
          .saveAsTable(table)
      } else if (!s.catalog.tableExists(table)) {
        // bucketing DDL requires the explicit column list; the layout's
        // schema is the build projection's schema by construction
        s.sql(s"CREATE TABLE $table (${build.schema.toDDL}) USING parquet " +
          s"CLUSTERED BY ($key) SORTED BY ($key) INTO 8 BUCKETS " +
          s"LOCATION '$path'")
      }
      s.table(table)
    }
    val li = ensure("bktli", "lineitem.parquet", "l_orderkey",
      t(s, dir, "lineitem").select(col("l_orderkey"),
        round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100)
          .cast("bigint").as("cents")))
    val ord = ensure("bktord", "orders.parquet", "o_orderkey",
      t(s, dir, "orders").select(col("o_orderkey"), col("o_orderstatus")))
    (li, ord)
  }

  /** Day-partitioned events store (write-once layout): the time-series
    * layout a 100 TB event table actually uses — `partitionBy(day)` at
    * ingest so every date-bounded query prunes to the handful of
    * directories it touches (PartitionFilters, plan-pinned) instead of
    * scanning the stream.
    */
  private def partitionedEventsStore(s: SparkSession, dir: String): DataFrame = {
    val path = layoutPath(dir, "evday", "part=day,v1", srcTable = "events.parquet")
    if (!Layout.indexExists(s, path))
      t(s, dir, "events")
        .withColumn("day", to_date(col("ts")))
        .repartition(col("day"))
        .write.mode("overwrite").partitionBy("day").parquet(path)
    s.read.parquet(path)
  }

  private def partitionedScanQuery(s: SparkSession, dir: String): DataFrame =
    // one week out of the month: the scan must list ~7 of ~30 day
    // directories (plan-pinned in PlanAuditSpec) — the query itself is a
    // per-day type rollup in exact cents
    partitionedEventsStore(s, dir)
      .filter(col("day") >= lit("2024-01-08").cast("date") &&
        col("day") < lit("2024-01-15").cast("date"))
      .groupBy(col("day"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        (sum(round(col("value") * 100).cast("bigint")) / lit(100.0))
          .as("value_sum"))
      .orderBy(col("day"), col("event_type"))

  private def bucketedJoinQuery(s: SparkSession, dir: String): DataFrame = {
    // Co-located fact-to-fact join over the bucketed layouts: the
    // per-order rollup runs WITHOUT an exchange (the bucketed scan
    // already hash-partitions by l_orderkey), the merge join consumes
    // both bucketed sides with no exchange and no sort, and the only
    // shuffle in the whole plan is the final 3-row status rollup —
    // plan-pinned in PlanAuditSpec. The merge hint keeps AQE from
    // demoting the demonstration to a broadcast join at this SF.
    val (li, ord) = bucketedFacts(s, dir)
    val perOrder = li.groupBy(col("l_orderkey"))
      .agg(count(lit(1)).as("n_lines"), sum(col("cents")).as("cents"))
    perOrder.join(ord.hint("merge"), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("n_lines")).as("n_lines"),
        (sum(col("cents")) / lit(100.0)).as("revenue"))
      .orderBy(col("o_orderstatus"))
  }

  private def profileLineitem(s: SparkSession, dir: String): DataFrame = {
    val p = ColumnProfiler.profile(t(s, dir, "lineitem"),
      Seq("l_quantity", "l_extendedprice", "l_discount"),
      exactMedian = true, exactDistinct = true)
    val rounded = p.columns.map { c =>
      if (c.endsWith("_avg") || c.endsWith("_med")) round(col(c), 4).as(c) else col(c)
    }
    p.select(rounded.toIndexedSeq: _*)
  }

  private def top1ReturnFlag(s: SparkSession, dir: String): DataFrame =
    ColumnProfiler.top1(t(s, dir, "lineitem"), "l_returnflag")

  private def previewOrders(s: SparkSession, dir: String): DataFrame =
    ColumnProfiler.preview(t(s, dir, "orders"), Seq("o_orderkey"), 30)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice"), col("o_orderdate").cast("date").as("o_orderdate"),
        col("o_orderpriority"))

  private def filterExclusion(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer")
      .filter(!col("c_mktsegment").isin("AUTOMOBILE", "MACHINERY"))
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"), col("c_acctbal"))
      .orderBy(col("c_custkey"))

  private def urnFormat(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "nation")
      .join(broadcast(t(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
      .select(concat(lit("postgres::db/"), col("r_name"), lit("/"), col("n_name")).as("urn"),
        col("n_nationkey"))
      .orderBy(col("urn"))

  private def grantsRollup(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer")
      .groupBy(col("c_nationkey"))
      .agg(array_join(sort_array(collect_list(col("c_name"))), ",").as("members"),
        count(lit(1)).as("n_members"))
      .orderBy(col("c_nationkey"))

  private def usageCounts(s: SparkSession, dir: String): DataFrame =
    UsageStats.usageCounts(t(s, dir, "events"), "event_type")
      .orderBy(col("event_type"))

  /** Explicit group-size cap (VERDICT r4 #8): a TPC-H order has ≤ 7 line
    * items so 10k never binds here, but on a pathological corpus it stops
    * the k²/2 in-group pair expansion; the oracle mirrors the cap (HAVING
    * ... <= 10000 on the group) so both sides stay equivalent by
    * construction even if a group ever exceeds it.
    */
  private def joinPairs(s: SparkSession, dir: String): DataFrame =
    UsageStats.coOccurrence(t(s, dir, "lineitem"), "l_orderkey", "l_partkey",
        maxGroupSize = 10000)
      .orderBy(desc("pair_count"), asc("a"), asc("b"))
      .limit(100)

  private def conditionSets(s: SparkSession, dir: String): DataFrame =
    UsageStats.conditionSets(t(s, dir, "events"), "user_id", "event_type")
      .select(col("user_id"), array_join(col("conditions"), ",").as("conditions"))
      .orderBy(col("user_id"))

  private def setUnionDistinct(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer").select(col("c_nationkey").as("nationkey"))
      .union(t(s, dir, "supplier").select(col("s_nationkey").as("nationkey")))
      .distinct()
      .orderBy(col("nationkey"))

  private def fullOuterReconcile(s: SparkSession, dir: String): DataFrame = {
    // the classic reconciliation shape: per-day counts from two tables
    // FULL OUTER joined so days present on only one side still surface
    // (zero-filled) — the join type every audit/backfill report needs.
    // One shuffle per aggregate + the join; both sides pre-aggregated so
    // the join is tiny regardless of corpus size.
    val o = t(s, dir, "orders")
      .groupBy(to_date(col("o_orderdate")).as("d"))
      .agg(count(lit(1)).as("n_orders"))
    val e = t(s, dir, "events")
      .groupBy(to_date(col("ts")).as("d"))
      .agg(count(lit(1)).as("n_events"))
    o.join(e, Seq("d"), "full_outer")
      .select(col("d").cast("string").as("d"),
        coalesce(col("n_orders"), lit(0L)).as("n_orders"),
        coalesce(col("n_events"), lit(0L)).as("n_events"))
      .orderBy(col("d"))
  }

  private def windowRank(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("c_nationkey"))
      .orderBy(desc("c_acctbal"), asc("c_custkey"))
    t(s, dir, "customer")
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 3)
      .select(col("c_nationkey"), col("rnk"), col("c_custkey"), col("c_acctbal"))
      .orderBy(col("c_nationkey"), col("rnk"))
  }

  private def sessionize(s: SparkSession, dir: String): DataFrame =
    Sessionize.sessionCounts(t(s, dir, "events"), "user_id", "ts", 30)
      .orderBy(col("user_id"))

  private def timeBuckets(s: SparkSession, dir: String): DataFrame =
    Sessionize.timeBuckets(t(s, dir, "events"), "ts", "event_type", "value", "hour")
      .select(date_format(col("bucket"), "yyyy-MM-dd HH:mm:ss").as("bucket"),
        col("event_type"), col("n"), col("value_sum"))
      .orderBy(col("bucket"), col("event_type"))

  private def jsonAttributes(s: SparkSession, dir: String): DataFrame =
    // dynamic JSON attributes (the reference's google.protobuf.Struct →
    // JSON-string mapping, SURVEY §1.2): extract + aggregate a typed field
    t(s, dir, "events")
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy(col("event_type"))
      .agg(count(col("k")).as("n"), sum(col("k")).as("k_sum"),
        round(avg(col("k")), 4).as("k_avg"))
      .orderBy(col("event_type"))

  private def asofAttribution(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"), col("event_id"), col("value"))
    AsofJoin.asof(purchases, clicks, "user_id", "ts", "ts",
        rightCols = Seq("event_id", "value"), prefix = "prior_")
      .select(col("event_id"), col("user_id"), col("prior_event_id"),
        round(col("prior_value"), 2).as("prior_value"))
      .orderBy(col("event_id"))
  }

  private def asofNearestQuery(s: SparkSession, dir: String): DataFrame = {
    // nearest-click attribution: for each purchase, the click with the
    // smallest |Δt| in either direction (ties prefer the prior click) —
    // two windowed asof passes arbitrated on exact microsecond gaps
    val ev = t(s, dir, "events")
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"), col("event_id"), col("value"))
    AsofJoin.asofNearest(purchases, clicks, "user_id", "ts", "ts",
        rightCols = Seq("event_id", "value"))
      .select(col("event_id"), col("user_id"),
        col("near_event_id"), round(col("near_value"), 2).as("near_value"),
        col("near_dir"), col("near_gap_us"))
      .orderBy(col("event_id"))
  }

  private def asofForward(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("event_id"), col("value"))
    // time-to-conversion: for each click, the NEXT purchase by that user
    AsofJoin.asof(clicks, purchases, "user_id", "ts", "ts",
        rightCols = Seq("event_id", "value"), prefix = "next_",
        direction = "forward")
      .select(col("event_id"), col("user_id"), col("next_event_id"),
        round(col("next_value"), 2).as("next_value"))
      .orderBy(col("event_id"))
  }

  private def rangeWindowQuery(s: SparkSession, dir: String): DataFrame = {
    // trailing-hour per-user activity: a RANGE window frame (interval
    // semantics — peers by timestamp VALUE, not row position; the one
    // frame type rowsBetween can't express). Sum rides as exact
    // fixed-point cents so the only float op is one final division —
    // bit-identical on any engine.
    val ev = t(s, dir, "events")
    val w = Window.partitionBy(col("user_id"))
      .orderBy(unix_micros(col("ts")))
      .rangeBetween(-3600L * 1000000L, 0L)
    ev.select(col("event_id"), col("user_id"), col("ts"),
        round(col("value") * 100).cast("bigint").as("__c"))
      .select(col("event_id"), col("user_id"),
        count(lit(1)).over(w).as("n_1h"),
        sum(col("__c")).over(w).as("__sc"))
      .select(col("event_id"), col("user_id"), col("n_1h"),
        (col("__sc").cast("double") / lit(100.0)).as("sum_1h"),
        round(col("__sc").cast("double") / (lit(100.0) * col("n_1h")), 6)
          .as("avg_1h"))
      .orderBy(col("event_id"))
  }

  private def funnelQuery(s: SparkSession, dir: String): DataFrame = {
    // ordered conversion funnel view → click → purchase: each stage
    // counts users whose stage event happens STRICTLY AFTER their
    // previous stage's first qualifying event (min-ts chaining — the
    // deterministic spelling of "entered stage k"). Three per-type
    // filtered aggregates chained by user_id equi-joins; the type
    // filters push to the scan and each stage's frame is one row per
    // user, so the joins broadcast at any event volume.
    val ev = t(s, dir, "events")
    val v = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts")).as("t1"))
    val c = ev.filter(col("event_type") === "click")
      .join(v, Seq("user_id")).filter(col("ts") > col("t1"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("t2"))
    val p = ev.filter(col("event_type") === "purchase")
      .join(c, Seq("user_id")).filter(col("ts") > col("t2"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("t3"))
    v.agg(count(lit(1)).as("n_users"))
      .select(lit(1).as("stage"), lit("view").as("event_type"), col("n_users"))
      .unionByName(c.agg(count(lit(1)).as("n_users"))
        .select(lit(2).as("stage"), lit("click").as("event_type"), col("n_users")))
      .unionByName(p.agg(count(lit(1)).as("n_users"))
        .select(lit(3).as("stage"), lit("purchase").as("event_type"), col("n_users")))
      .orderBy(col("stage"))
  }

  private def cohortRetention(s: SparkSession, dir: String): DataFrame = {
    // weekly cohort retention: users grouped by the Monday week of
    // their FIRST event; per (cohort, week offset) distinct active
    // users — the classic retention triangle. Two aggregates over the
    // events scan; the per-user cohort frame broadcasts back.
    val ev = t(s, dir, "events")
    val first = ev.groupBy(col("user_id"))
      .agg(date_trunc("week", min(col("ts"))).as("cohort"))
    val act = ev.select(col("user_id"),
      date_trunc("week", col("ts")).as("wk")).distinct()
    act.join(first, Seq("user_id"))
      .groupBy(col("cohort").cast("date").as("cohort_week"),
        floor(datediff(col("wk"), col("cohort")) / 7).cast("int")
          .as("week_offset"))
      .agg(countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("cohort_week"), col("week_offset"))
  }

  private def kanonMondrian(s: SparkSession, dir: String): DataFrame =
    // constructive k-anonymity: Mondrian median cuts over the
    // (n_chars, doc_id%50) quasi-identifier plane, k=25, depth 3 — every
    // published class is ≥25 rows with its dim bounding box; the oracle
    // unrolls the identical integer cut decisions level by level
    Mondrian.classes(Mondrian.partition(
        t(s, dir, "documents").select(col("doc_id"), col("n_chars"),
          pmod(col("doc_id"), lit(50)).as("age")),
        "doc_id", "n_chars", "age", k = 25, depth = 3))
      .orderBy(col("region"))

  private def sampleApportion(s: SparkSession, dir: String): DataFrame = {
    // largest-remainder (Hamilton) apportionment of a fixed sample
    // budget across (lang, source) strata — the exact-integer way to
    // turn "sample 1000 docs proportionally" into per-stratum quotas
    // that ADD UP (floor quotas + the B − Σfloor largest remainders get
    // +1, ties on (lang, source)). Pure integer arithmetic: quota_floor
    // = n·B div N, remainder = n·B mod N — one groupBy over the corpus,
    // then windows over the STRATA table (bounded: |langs|·|sources|).
    val budget = 1000L
    val strata = t(s, dir, "documents")
      .groupBy(col("lang"), col("source")).agg(count(lit(1)).as("n"))
    val tot = strata.agg(sum(col("n")).as("nn"))
    val base = strata.crossJoin(broadcast(tot))
      .select(col("lang"), col("source"), col("n"),
        expr(s"(n * $budget) div nn").as("q_floor"),
        expr(s"(n * $budget) % nn").as("rem"))
    val wRem = Window.orderBy(col("rem").desc, col("lang"), col("source"))
    val leftover = base.agg((lit(budget) - sum(col("q_floor"))).as("extra"))
    base.crossJoin(broadcast(leftover))
      .withColumn("rrank", row_number().over(wRem))
      .select(col("lang"), col("source"), col("n"), col("q_floor"),
        col("rem"),
        (col("q_floor") +
          when(col("rrank") <= col("extra"), 1L).otherwise(0L))
          .cast("bigint").as("quota"))
      .orderBy(col("lang"), col("source"))
  }

  private def rollupIncremental(s: SparkSession, dir: String): DataFrame = {
    // standing (day × type) metrics under append — the generic
    // materialized-view maintenance: the 80% historical slice's rollup
    // is WRITTEN ONCE (layout cache), each run aggregates only the
    // arriving 20% and merges partials (rollup-sized tables, no fact
    // rescan). The oracle recomputes from the full fact table — equality
    // IS the merge-correctness theorem (count/sum/min/max associativity
    // on exact ppm integers).
    val ev = t(s, dir, "events").select(
      col("event_id"), to_date(col("ts")).as("day"), col("event_type"),
      round(col("value") * 1000000).cast("bigint").as("v_ppm"))
    val dims = Seq("day", "event_type")
    val ms = Seq("v_ppm")
    val path = layoutPath(dir, "rollupstore",
      "dims=day,event_type|m=v_ppm|cut=mod5", "events.parquet")
    if (!Layout.indexExists(s, path))
      Rollup.aggregate(ev.filter(pmod(col("event_id"), lit(5)) =!= 0),
        dims, ms).write.mode("overwrite").parquet(path)
    val stored = s.read.parquet(path)
    val delta = Rollup.aggregate(
      ev.filter(pmod(col("event_id"), lit(5)) === 0), dims, ms)
    Rollup.merge(Seq(stored, delta), dims, ms)
      .orderBy(col("day"), col("event_type"))
  }

  private def eventTrigrams(s: SparkSession, dir: String): DataFrame = {
    // order-3 sequence patterns (the PrefixSpan-style support count for
    // contiguous episodes): every consecutive event-type trigram on a
    // user's timeline, with total occurrences AND distinct-user support
    // — the d_/q_event_transitions bigram matrix extended one order.
    // One user-keyed window exchange (two leads share it), one groupBy.
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    t(s, dir, "events")
      .select(col("user_id"), col("event_type").as("e1"),
        lead(col("event_type"), 1).over(w).as("e2"),
        lead(col("event_type"), 2).over(w).as("e3"))
      .filter(col("e3").isNotNull)
      .groupBy(col("e1"), col("e2"), col("e3"))
      .agg(count(lit(1)).as("n_occurrences"),
        countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("e1"), col("e2"), col("e3"))
  }

  private def rfmSegments(s: SparkSession, dir: String): DataFrame = {
    // RFM customer segmentation: per customer recency (last order day),
    // frequency (orders), monetary (exact integer CENTS — float sums
    // are never cross-engine reproducible), each cut into quartiles,
    // rolled up to the 64 segments. The quartiles are the SCALE-SAFE
    // distributed NTILE (OrderStats.globalNtile): a single-partition
    // ntile window over the customer dim works at test SF but is the
    // exact anti-pattern at 10^9 customers — here each metric ranks
    // under a coarse monotone prefix (the day / the count / cents div
    // 10^6) with broadcast offsets, matching SQL NTILE bit-for-bit.
    val cust = t(s, dir, "orders")
      .groupBy(col("o_custkey").as("custkey"))
      .agg(max(to_date(col("o_orderdate"))).as("last_day"),
        count(lit(1)).as("freq"),
        sum(round(col("o_totalprice") * 100).cast("bigint")).as("cents"))
      .localCheckpoint() // consumed by three rank passes + the join-back
    def tile(prefix: Column, ord: Column, as: String): DataFrame =
      OrderStats.globalNtile(cust, prefix, ord, "custkey", 4)
        .withColumnRenamed("bucket", as)
    cust.select(col("custkey"), col("cents"))
      .join(tile(col("last_day"), col("last_day"), "r_q"), "custkey")
      .join(tile(col("freq"), col("freq"), "f_q"), "custkey")
      .join(tile(floor(col("cents") / 1000000L).cast("bigint"), col("cents"), "m_q"), "custkey")
      .groupBy(col("r_q"), col("f_q"), col("m_q"))
      .agg(count(lit(1)).as("n_customers"), sum(col("cents")).as("seg_cents"))
      .orderBy(col("r_q"), col("f_q"), col("m_q"))
  }

  private def eventTransitions(s: SparkSession, dir: String): DataFrame = {
    // first-order event-path matrix: (event_type → next event_type)
    // counts per user timeline — one key-partitioned lead() window
    // (ties broken by event_id so the path is deterministic), then a
    // pair count; the raw stream shuffles once on user_id
    val ev = t(s, dir, "events")
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    ev.select(col("user_id"), col("event_type"),
        lead(col("event_type"), 1).over(w).as("next_type"))
      .filter(col("next_type").isNotNull)
      .groupBy(col("event_type"), col("next_type"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("event_type"), col("next_type"))
  }

  private def kmvDistinct(s: SparkSession, dir: String): DataFrame = {
    // KMV (k-minimum-values) distinct sketch with an EXACT oracle: the
    // engine-portable md5 hash family makes the whole estimator —
    // hash, k smallest, (k-1)·2³²/h_k — integer-deterministic, so this
    // is the one cardinality sketch a SQL twin replays with zero
    // tolerance (the HLL rollup q_sketch_distinct stays rows-only).
    // The estimate and the true count ride the same row: the sketch
    // error is a graded artifact, not a claim.
    val ev = t(s, dir, "events")
    val k = 32
    val h = ev.select(conv(substring(md5(col("user_id").cast("string")), 1, 8),
        16, 10).cast("bigint").as("h")).distinct()
    val kth = h.orderBy(col("h")).limit(k)
      .agg(max(col("h")).as("h_k"), count(lit(1)).as("k"))
    val exact = ev.agg(countDistinct(col("user_id")).as("n_exact"))
    // floor() on BOTH sides: Spark's cast truncates a double while
    // DuckDB's rounds — floor first makes the integer estimate identical
    val est = floor((lit(k - 1) * lit(4294967296L)) / col("h_k"))
      .cast("bigint")
    kth.crossJoin(exact)
      .select(col("k"), col("h_k"), est.as("est_distinct"),
        col("n_exact"), abs(est - col("n_exact")).as("abs_err"))
  }

  private def kmvSetOps(s: SparkSession, dir: String): DataFrame = {
    // KMV sketch ALGEBRA, exactly graded: the clicker and purchaser
    // audiences sketch separately (k smallest portable md5 hashes
    // each), the union sketch is the k smallest of the merged hash
    // sets (the KMV union rule), and the intersection estimate falls
    // out by inclusion–exclusion — the audience-overlap question
    // answered from two tiny sketches without ever joining the raw
    // streams. True counts ride along: all four estimator errors are
    // graded artifacts.
    val ev = t(s, dir, "events")
    val k = 32
    def hashes(tpe: String) = ev.filter(col("event_type") === tpe)
      .select(conv(substring(md5(col("user_id").cast("string")), 1, 8),
        16, 10).cast("bigint").as("h")).distinct()
    def estOf(h: org.apache.spark.sql.DataFrame, name: String) =
      h.orderBy(col("h")).limit(k)
        .agg(floor((lit(k - 1) * lit(4294967296L)) / max(col("h")))
          .cast("bigint").as(name))
    val a = hashes("click")
    val b = hashes("purchase")
    val u = a.unionByName(b).distinct()
    def users(tpe: String) = ev.filter(col("event_type") === tpe)
      .select(col("user_id")).distinct()
    val exact = users("click").agg(count(lit(1)).as("n_clicks"))
      .crossJoin(users("purchase").agg(count(lit(1)).as("n_purchases")))
      .crossJoin(users("click").unionByName(users("purchase")).distinct()
        .agg(count(lit(1)).as("n_union")))
      .crossJoin(users("click").join(users("purchase"), Seq("user_id"),
        "left_semi").agg(count(lit(1)).as("n_intersect")))
    estOf(a, "est_clicks").crossJoin(estOf(b, "est_purchases"))
      .crossJoin(estOf(u, "est_union"))
      .withColumn("est_intersect",
        col("est_clicks") + col("est_purchases") - col("est_union"))
      .crossJoin(exact)
  }

  private def sketchDistinct(s: SparkSession, dir: String): DataFrame =
    // mergeable-HLL rollup: per-type sketches unioned to one global
    // distinct-user estimate (rows-only: sketch internals aren't SQL)
    ColumnProfiler.mergeSketches(
      ColumnProfiler.distinctSketches(t(s, dir, "events"), "event_type", "user_id"))

  private def sketchDistinctCert(s: SparkSession, dir: String): DataFrame = {
    // certificate row for the HLL rollup (the s_ann_ivf_parity pattern):
    // the sketch's merged estimate is held against the oracle-recomputed
    // exact distinct count. Band is 5%, ~6 RSEs for the Datasketches
    // default (lgK=12, ~0.8% RSE; sparse mode is near-exact below ~k
    // distincts) — a statistical property graded as a constant must hold
    // with overwhelming margin at ANY SF or regenerated corpus, not the
    // ~2.5σ the round-9 2% band gave (which a healthy sketch fails ~1% of
    // the time); a BROKEN sketch (wrong hash, bad merge) is off by far
    // more than 5%. The oracle proves exact_n and the certificate
    // boolean; the sketch internals stay rows-only by design
    // (q_sketch_distinct), but its ACCURACY is a graded claim.
    val ev = t(s, dir, "events")
    val est = ColumnProfiler.mergeSketches(
      ColumnProfiler.distinctSketches(ev, "event_type", "user_id"))
    val exact = ev.agg(countDistinct(col("user_id")).as("exact_n"))
    est.crossJoin(exact)
      .select(col("exact_n"),
        (abs(col("distinct_estimate") - col("exact_n")) * 20 <=
          col("exact_n")).as("within_5pct"))
  }

  private def rangeJoinClicks(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"), col("value"))
    // clicks in the hour strictly before each purchase, then left-outer
    // semantics restored by joining the rollup back onto all purchases
    val pairs = RangeJoin.withinInterval(purchases, clicks, "user_id",
      "ts", "ts", lowerOffsetMs = -3600000L, upperOffsetMs = 0L)
    val rollup = pairs.groupBy(col("event_id"))
      .agg(count(lit(1)).as("nc"), sum(col("r_value")).as("cv"))
    purchases.join(rollup, Seq("event_id"), "left")
      .select(col("event_id"), col("user_id"),
        coalesce(col("nc"), lit(0L)).as("n_clicks"),
        round(coalesce(col("cv"), lit(0.0)), 2).as("click_value"))
      .orderBy(col("event_id"))
  }

  private def sessionWindowRollup(s: SparkSession, dir: String): DataFrame =
    graft.streaming.EventStream.sessionWindows(
        t(s, dir, "events").select(col("ts"), col("user_id"), col("value")),
        "30 minutes", "2 hours")
      .select(
        date_format(col("session_window.start"), "yyyy-MM-dd HH:mm:ss").as("s_start"),
        date_format(col("session_window.end"), "yyyy-MM-dd HH:mm:ss").as("s_end"),
        col("user_id"), col("n_events"),
        round(col("value_sum"), 2).as("value_sum"))
      .orderBy(col("user_id"), col("s_start"))

  private def skewJoinRollup(s: SparkSession, dir: String): DataFrame = {
    // hot-key mitigation in the graded surface: the salted join must equal
    // the plain join row-for-row — the oracle is the unsalted SQL join
    val ev = t(s, dir, "events")
    val dim = ev.select(col("user_id")).distinct()
      .withColumn("tier", concat(lit("t"), pmod(col("user_id"), lit(3))))
    Skew.saltedJoin(ev, dim, Seq("user_id"), salt = 8)
      .groupBy(col("tier"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("value_sum"))
      .orderBy(col("tier"))
  }

  private def sqlConditions(s: SparkSession, dir: String): DataFrame = {
    // synthesize a query-log from parts, then run the distributed parser
    val log = t(s, dir, "part").select(concat(
      lit("SELECT * FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey WHERE p_brand = '"),
      col("p_brand"), lit("' AND p_size > "), col("p_size")).as("sql"))
    log.select(explode(SqlParse.filterConditionsCol(col("sql"))).as("condition"))
      .groupBy(col("condition")).agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), asc("condition"))
  }

  // ---------------------------------------------------------------------
  // Training-data pipeline operators (documents / embeddings)
  // ---------------------------------------------------------------------

  private def dedupExact(s: SparkSession, dir: String): DataFrame =
    Dedup.exact(t(s, dir, "documents"), "doc_id", "text")
      .select(col("keep_id"), col("dup_count"))
      .orderBy(col("keep_id"))

  private def tokenCounts(s: SparkSession, dir: String): DataFrame =
    // both counts from ONE fused kernel pass (no token array, no lambdas)
    t(s, dir, "documents")
      .select(col("doc_id"), TextAnalysis.tokenStats(col("text")).as("ts"))
      .select(col("doc_id"),
        col("ts.n_tokens").as("n_tokens"),
        col("ts.n_subwords").as("n_subwords"))
      .orderBy(col("doc_id"))

  private def qualityScores(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.quality(t(s, dir, "documents"), "text", Seq("doc_id"))
      .orderBy(col("doc_id"))

  private def charEntropy(s: SparkSession, dir: String): DataFrame = {
    // per-doc character-entropy quality signal: exact integer millinats
    // (pointwise-rounded n·ln n terms, integer sums — the Classify
    // fixed-point contract) + a derived bits-per-char view; one map-side
    // pass, no explode — the char histogram is 27 replace-length
    // expressions inside codegen
    // spread: 27 replace-length expressions per row on a 1-row-group
    // scan = single-core map wall; A/B'd -0.37 s, exact integers only
    val hist = tSpread(s, dir, "documents")
      .select(col("doc_id"), length(col("text")).as("n_chars"),
        TextAnalysis.charHistogram(col("text")).as("__hist"))
    hist
      .select(col("doc_id"), col("n_chars"),
        TextAnalysis.charEntropyMilliOf(col("__hist"), col("n_chars"))
          .as("h_milli"))
      .select(col("doc_id"), col("n_chars"), col("h_milli"),
        TextAnalysis.bitsPerChar(col("h_milli"), col("n_chars")).as("bpc"))
      .orderBy(col("doc_id"))
  }

  private def zipfAuditQuery(s: SparkSession, dir: String): DataFrame =
    // corpus health audit: token mass, vocab size, and the Zipf slope of
    // the top-100 rank-frequency curve — OLS in exact fixed-point
    // integers, one final double division (see TextAnalysis.zipfAudit)
    TextAnalysis.zipfAudit(t(s, dir, "documents"), "text", topR = 100)

  private def bpeTrain(s: SparkSession, dir: String): DataFrame = {
    // REAL learned-subword training (vs d_token_counts' documented
    // ceil(len/4) proxy): 6 exact BPE merge rounds over the corpus
    // word-frequency dictionary. The corpus is scanned once (the
    // dictionary groupBy); each round is one dictionary-side pair-count
    // groupBy + a 1-row winner collect. The oracle unrolls the rounds as
    // chained CTEs (the d_link_rank style) and recomputes every pair
    // count, winner, and merge application bit-exactly.
    import s.implicits._
    val (merges, _) = Bpe.train(t(s, dir, "documents"), "text", rounds = 6)
    merges.toDF().orderBy(col("rnk"))
  }

  private def bpeTokens(s: SparkSession, dir: String): DataFrame = {
    // re-tokenization under the learned merges: corpus word stream joined
    // against the trained dictionary's final segmentation (every corpus
    // word is in the dictionary, so the join is lossless); per-doc word
    // and subword counts, both exact integers
    val docs = t(s, dir, "documents")
    val (_, dict) = Bpe.train(docs, "text", rounds = 6)
    Bpe.subwordCounts(docs, "doc_id", "text", dict).orderBy(col("doc_id"))
  }

  private def bpeFertility(s: SparkSession, dir: String): DataFrame = {
    // tokenizer-equity audit: per language, words, subwords under the
    // LEARNED merges, and fertility (subwords per word, ×1000 integer) —
    // the metric multilingual LM reports use to show which languages pay
    // more tokens per word under a shared vocabulary. Same trained
    // dictionary as d_bpe_tokens; the rollup is per-language instead of
    // per-doc, so the corpus word stream joins the broadcast dictionary
    // and collapses to |langs| rows.
    val docs = t(s, dir, "documents")
    val (_, dict) = Bpe.train(docs, "text", rounds = 6)
    val pieces = dict.select(col("w"), size(col("syms")).as("__np"))
    docs.select(col("lang"),
        explode(Dedup.portableTokens(col("text"))).as("w"))
      .join(pieces, Seq("w"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_words"),
        sum(col("__np")).cast("long").as("n_subwords"))
      .withColumn("fert_x1000", expr("n_subwords * 1000 div n_words"))
      .orderBy(col("lang"))
  }

  private def fingerprints(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fp"))
      .orderBy(col("doc_id"))

  private def langScores(s: SparkSession, dir: String): DataFrame = {
    // all four scores from ONE fused kernel pass (the round-4 bench showed
    // 3.4x from re-running the tokenizer per score; the fused struct also
    // drops the interpreted per-token filter lambdas)
    val base = t(s, dir, "documents")
      .select(col("doc_id"), TextAnalysis.tokenStats(col("text")).as("ts"))
    val scored = TextAnalysis.langScoresFromStats(col("ts")).foldLeft(base) {
      case (d, (lang, c)) => d.withColumn(s"score_$lang", c)
    }
    scored.drop("ts").orderBy(col("doc_id"))
  }

  private def langPredict(s: SparkSession, dir: String): DataFrame = {
    // argmax over the marker-token scores with deterministic tie-break on
    // language code; ties at score 0 mean "unknown"
    val base = t(s, dir, "documents")
      .select(col("doc_id"), TextAnalysis.tokenStats(col("text")).as("ts"))
    val scored = TextAnalysis.langScoresFromStats(col("ts")).foldLeft(base) {
      case (d, (lang, c)) => d.withColumn(s"s_$lang", c)
    }
    val langs = TextAnalysis.langMarkers.keys.toSeq.sorted
    val best = langs.map(l => struct(col(s"s_$l").as("score"), lit(l).as("lang")))
      .reduce((a, b) => when(b.getField("score") > a.getField("score"), b).otherwise(a))
    scored
      .withColumn("best", best)
      .select(col("doc_id"),
        when(col("best.score") > 0, col("best.lang")).otherwise(lit("und")).as("lang"),
        col("best.score").as("score"))
      .orderBy(col("doc_id"))
  }

  private def qualityFilter(s: SparkSession, dir: String): DataFrame =
    // the pipeline gate: docs surviving the quality thresholds (the rows a
    // training run would actually keep)
    TextAnalysis.quality(t(s, dir, "documents"), "text", Seq("doc_id"))
      .filter(col("n_tokens") >= 25 &&
        col("stopword_ratio") <= 0.1 && col("punct_ratio") <= 0.2 &&
        col("mean_token_len").between(2.0, 12.0))
      .select(col("doc_id"), col("n_tokens"))
      .orderBy(col("doc_id"))

  private def trainSplit(s: SparkSession, dir: String): DataFrame =
    Splits.withSplit(t(s, dir, "documents"), "doc_id", trainPct = 80, validPct = 10)
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"),
        round(avg(col("n_chars")), 4).as("avg_chars"))
      .orderBy(col("split"))

  private def tfidfTopTerms(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // classic tf-idf keyword extraction: top-3 terms per doc. One map-side
    // term count feeds both tf and df; N arrives as a broadcast 1-row frame;
    // ranking is on the ROUNDED score so both engines rank identical values
    val docs = t(s, dir, "documents")
    val tf = TextAnalysis.termFrequencies(docs, "doc_id", lower(col("text")))
    // df = docs containing the term = tf's row count per term: derived from
    // tf instead of a second explode+distinct
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n = docs.agg(countDistinct(col("doc_id")).as("n_docs"))
    val scored = tf.join(dfreq, "term").crossJoin(broadcast(n))
      .withColumn("score",
        round(col("tf") * log(col("n_docs").cast("double") / col("df")), 4))
    val w = Window.partitionBy(col("doc_id")).orderBy(desc("score"), asc("term"))
    scored.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= 3)
      .select(col("doc_id"), col("rnk"), col("term"), col("score"))
      .orderBy(col("doc_id"), col("rnk"))
  }

  private def decontaminateQuery(s: SparkSession, dir: String): DataFrame = {
    // benchmark-leakage check: every 100th doc stands in for the eval set;
    // training docs sharing any word 4-gram with it get flagged with their
    // distinct-overlap count (the corpus-side scan never shuffles — eval
    // grams broadcast)
    val d = t(s, dir, "documents")
    Dedup.decontaminate(
        d.filter(col("doc_id") % 100 =!= 0), "doc_id", "text",
        d.filter(col("doc_id") % 100 === 0), "text", n = 4)
      .orderBy(col("doc_id"))
  }

  private def contaminationReportQuery(s: SparkSession, dir: String): DataFrame = {
    // the eval-side view of the same leakage check: per benchmark item
    // (every 100th doc), how many distinct training docs share a word
    // 4-gram with it and the total overlap incidence — zero rows kept so
    // clean items are CONFIRMED clean, not silently absent
    val d = t(s, dir, "documents")
    Dedup.contaminationReport(
        d.filter(col("doc_id") % 100 =!= 0), "doc_id", "text",
        d.filter(col("doc_id") % 100 === 0), "doc_id", "text", n = 4)
      .orderBy(col("eval_id"))
  }

  private def decontaminateBloomQuery(s: SparkSession, dir: String): DataFrame = {
    // the decontamination scale path: same eval split as d_decontaminate,
    // but the eval grams collapse into a broadcast Bloom filter that trims
    // each doc's gram array map-side, and only bloom-positive grams are
    // exploded into the exact verify join — output is identical to
    // d_decontaminate (no false negatives; false positives die in the
    // verify), so the same DuckDB oracle checks it. The pure flag-only
    // variant (Dedup.decontaminateBloom, zero joins) stays spec-pinned as
    // a superset in DedupSpec.
    val d = t(s, dir, "documents")
    Dedup.decontaminateBloomVerified(
        d.filter(col("doc_id") % 100 =!= 0), "doc_id", "text",
        d.filter(col("doc_id") % 100 === 0), "text", n = 4,
        expectedGrams = 100000L, fpp = 0.001)
      .orderBy(col("doc_id"))
  }

  private def packSequencesQuery(s: SparkSession, dir: String): DataFrame =
    // concat-and-chunk packing into 512-token bins across 8 shards — the
    // batch-construction step of a pretraining pipeline
    Splits.packSequences(t(s, dir, "documents"), "doc_id",
        TextAnalysis.tokenCount(col("text")), budget = 512, shards = 8)
      .orderBy(col("doc_id"))

  private def packGreedyQuery(s: SparkSession, dir: String): DataFrame =
    // no-split next-fit packing into 512-token bins across 8 shards — the
    // SFT/instruction-tuning layout where an example must stay whole
    // (d_pack_sequences is the concat-and-chunk pretraining twin)
    Splits.packGreedy(t(s, dir, "documents"), "doc_id",
        TextAnalysis.tokenCount(col("text")), budget = 512, shards = 8)
      .orderBy(col("doc_id"))

  private def packEfficiencyQuery(s: SparkSession, dir: String): DataFrame =
    // per-shard fill audit of the no-split packer: bins opened, exact
    // basis-point fill, and the docs too long to pack at all — the
    // padding-waste number a trainer pays per shard
    Splits.packEfficiency(t(s, dir, "documents"), "doc_id",
        TextAnalysis.tokenCount(col("text")), budget = 512, shards = 8)
      .orderBy(col("shard"))

  private def classifierKappa(s: SparkSession, dir: String): DataFrame = {
    // labeling-quality audit: chance-corrected agreement (Cohen's kappa)
    // between the marker-token language heuristic and the gold `lang`
    // column. All counting is exact integers; kappa/accuracy are emitted
    // in 1e-6 fixed point via one double division each (numerators fit in
    // 53 bits far beyond graded SFs). The gold set includes languages the
    // heuristic cannot emit (zh), so kappa genuinely prices the marginals
    // — this is the go/no-go score before trusting an auto-labeler to
    // route a 100 TB corpus. Scale shape: one map-side scoring pass, one
    // label-pair groupBy (bounded by the label-set square), then
    // bounded-size marginal joins and 1-row totals crossJoins.
    val pred = langPredict(s, dir).select(col("doc_id"), col("lang").as("pred"))
    val gold = t(s, dir, "documents").select(col("doc_id"), col("lang").as("gold"))
    val conf = gold.join(pred, "doc_id")
      .groupBy(col("gold"), col("pred")).agg(count(lit(1)).as("c"))
    val rows = conf.groupBy(col("gold")).agg(sum(col("c")).as("rk"))
    val cols = conf.groupBy(col("pred")).agg(sum(col("c")).as("ck"))
    val peNum = rows.join(cols, rows("gold") === cols("pred"))
      .agg(coalesce(sum(col("rk") * col("ck")), lit(0L)).as("pe_num"))
    val totals = conf.agg(sum(col("c")).as("n_docs"),
      coalesce(sum(when(col("gold") === col("pred"), col("c"))
        .otherwise(0L)), lit(0L)).as("agree"))
    totals.crossJoin(peNum)
      .select(col("n_docs"), col("agree"),
        round(col("agree").cast("double") * 1000000 / col("n_docs"))
          .cast("bigint").as("acc_micro"),
        round((col("n_docs") * col("agree") - col("pe_num")).cast("double")
            * 1000000 / (col("n_docs") * col("n_docs") - col("pe_num")))
          .cast("bigint").as("kappa_micro"))
  }

  private def linkageJw(s: SparkSession, dir: String): DataFrame = {
    // fuzzy product matching with the compiled Jaro-Winkler kernel
    // (functions/StringSimilarityExpression.scala): a truncated-name probe
    // registry (every 11th part, last char dropped — shared arithmetic, so
    // both engines derive the identical probes) links back against parts.
    // Blocking on (brand, 8-char name prefix) confines candidates to a
    // small band and only candidates pay the JW scan; the probe side
    // broadcasts. Per probe the TOP-1 match by (4dp-rounded jw, bkey) is
    // graded — ranking on the ROUNDED score keeps the order (and the
    // output) engine-portable, the same 4dp discipline every cosine row
    // uses. Never all-pairs; at 100 TB the blocking key is the shuffle key.
    val base = t(s, dir, "part").select(col("p_partkey").as("bkey"),
      col("p_name").as("bname"), col("p_brand").as("bbrand"))
    val probes = t(s, dir, "part").filter(col("p_partkey") % 11 === 0)
      .select((col("p_partkey") + 1000000L).as("qkey"),
        expr("substring(p_name, 1, length(p_name) - 1)").as("qname"),
        col("p_brand").as("qbrand"))
    val w = Window.partitionBy(col("qkey"))
      .orderBy(desc("jw"), asc("bkey"))
    broadcast(probes)
      .join(base, col("qbrand") === col("bbrand") &&
        substring(col("qname"), 1, 8) === substring(col("bname"), 1, 8))
      .withColumn("jw",
        round(graft.functions.JaroWinkler(col("qname"), col("bname")), 4))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") === 1)
      .select(col("qkey"), col("bkey"), col("jw"))
      .orderBy(col("qkey"))
  }

  private def collocations(s: SparkSession, dir: String): DataFrame = {
    // collocation mining in EXACT integers: rank bigrams by the PMI lift
    // ratio c_ab·N / (c_a·c_b) — log is monotone, so ranking by the raw
    // ratio IS the PMI order with zero float ops. min-count 5 kills the
    // rare-pair PMI pathology; lift is emitted in ppm fixed point (range
    // note: fits BIGINT while c_ab·N·1e6 < 2⁶³, i.e. any corpus whose
    // bigram mass × hottest-pair count stays under ~9·10¹² — shard the
    // ratio by corpus split long before that). Scale shape: one bigram
    // groupBy + one token groupBy (both vocab-bounded outputs), two
    // vocab-sized marginal joins, TakeOrdered top-20.
    val docs = t(s, dir, "documents")
    val tk = docs.select(TextAnalysis.tokens(col("text")).as("tk"))
      .filter(size(col("tk")) >= 2)
    val bg = tk.select(
      explode(transform(sequence(lit(1), size(col("tk")) - 1), i =>
        concat_ws(" ", element_at(col("tk"), i),
          element_at(col("tk"), i + 1)))).as("bigram"))
    val pairCnt = bg.groupBy(col("bigram")).agg(count(lit(1)).as("c_ab"))
      .filter(col("c_ab") >= 5)
      .withColumn("a", split(col("bigram"), " ").getItem(0))
      .withColumn("b", split(col("bigram"), " ").getItem(1))
    val uniCnt = docs
      .select(explode(TextAnalysis.tokens(col("text"))).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("c_tok"))
    val totals = bg.agg(count(lit(1)).as("n_bg"))
    pairCnt
      .join(uniCnt.select(col("tok").as("a"), col("c_tok").as("c_a")), "a")
      .join(uniCnt.select(col("tok").as("b"), col("c_tok").as("c_b")), "b")
      .crossJoin(totals)
      .select(col("bigram"), col("c_ab"), col("c_a"), col("c_b"),
        expr("c_ab * n_bg * 1000000 div (c_a * c_b)").as("lift_ppm"))
      .orderBy(desc("lift_ppm"), asc("bigram"))
      .limit(20)
  }

  private def nextEventPairs(s: SparkSession, dir: String): DataFrame = {
    // training-example CONSTRUCTION from behavior logs: per user in event
    // time, (last-3-event-types context → next event type) supervised
    // pairs — the dataset a next-event model trains on. Missing history
    // slots keep the '_' pad so the context width is constant. One hash
    // shuffle on user_id, per-user windows, deterministic (ts, event_id)
    // tie-break; at 100 TB this is the same shape as sessionization.
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    t(s, dir, "events")
      .select(col("event_id"), col("user_id"), col("ts"), col("event_type"))
      .withColumn("ctx", concat_ws("|",
        coalesce(lag(col("event_type"), 3).over(w), lit("_")),
        coalesce(lag(col("event_type"), 2).over(w), lit("_")),
        coalesce(lag(col("event_type"), 1).over(w), lit("_"))))
      .withColumn("label", lead(col("event_type"), 1).over(w))
      .filter(col("label").isNotNull)
      .select(col("event_id"), col("user_id"), col("ctx"), col("label"))
      .orderBy(col("event_id"))
  }

  private def targetEncode(s: SparkSession, dir: String): DataFrame = {
    // leakage-free target encoding (the categorical-feature workhorse):
    // each event's event_type is encoded as the LEAVE-ONE-OUT mean of
    // `value` over its type — the row's own target never leaks into its
    // feature. Exact integers end to end: cents at the scan, micro-cents
    // out via div; singleton types fall back to the global LOO mean.
    // One type-level groupBy (bounded by |types|), the per-row arithmetic
    // rides a broadcast join of the tiny aggregate — no window needed.
    // Non-negative targets assumed (LOO numerators then stay >= 0, so
    // truncating and flooring division agree — the Clustering.quantize
    // cross-engine `div` contract).
    val ev = t(s, dir, "events")
      .select(col("event_id"), col("event_type"),
        round(col("value") * 100).cast("bigint").as("cents"))
    val byType = ev.groupBy(col("event_type"))
      .agg(sum(col("cents")).as("t_sum"), count(lit(1)).as("t_n"))
    val glob = ev.agg(sum(col("cents")).as("g_sum"), count(lit(1)).as("g_n"))
    ev.join(broadcast(byType), "event_type").crossJoin(glob)
      .select(col("event_id"), col("event_type"),
        when(col("t_n") > 1,
          expr("(t_sum - cents) * 10000 div (t_n - 1)"))
          .otherwise(expr("(g_sum - cents) * 10000 div (g_n - 1)"))
          .as("enc_micro"))
      .orderBy(col("event_id"))
  }

  private def windowSuite(s: SparkSession, dir: String): DataFrame = {
    // the window-function completeness row: every ranking/distribution/
    // navigation function over ONE totally-ordered frame (ties broken by
    // orderkey, so row_number through nth_value are all deterministic);
    // ratio outputs are rounded at 6 dp from exact integer rank inputs
    val w = Window.partitionBy(col("o_orderpriority"))
      .orderBy(col("o_totalprice"), col("o_orderkey"))
    t(s, dir, "orders")
      .filter(col("o_orderkey") < 2000)
      .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"),
        row_number().over(w).as("rn"),
        rank().over(w).as("rnk"),
        dense_rank().over(w).as("drnk"),
        round(percent_rank().over(w), 6).as("prank"),
        round(cume_dist().over(w), 6).as("cdist"),
        ntile(4).over(w).as("quartile"),
        lag(col("o_orderkey"), 1).over(w).as("prev_key"),
        lead(col("o_orderkey"), 1).over(w).as("next_key"),
        first(col("o_orderkey")).over(w).as("first_key"),
        nth_value(col("o_orderkey"), 2).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .as("second_key"))
      .orderBy(col("o_orderpriority"), col("rn"))
  }

  private def editDistanceQuery(s: SparkSession, dir: String): DataFrame =
    // classic Levenshtein DP, graded cross-engine: each customer name
    // against its successor's name — distances concentrate on the digit
    // tail, so the output exercises 0..9-sized edits over the shared
    // prefix; both engines implement the textbook DP on ASCII
    t(s, dir, "customer")
      .filter(col("c_custkey") < 500)
      .select(col("c_custkey"), col("c_name"),
        levenshtein(col("c_name"),
          concat(lit("Customer#"), lpad((col("c_custkey") * 7 + 13).cast("string"),
            9, "0"))).as("dist"))
      .orderBy(col("c_custkey"))

  private def dateSuite(s: SparkSession, dir: String): DataFrame =
    // calendar-semantics parity row: the date derivations engines
    // classically disagree on, pinned to the ISO spellings both share
    // (Monday week truncation, ISO week number, Monday=0 weekday — the
    // Spark weekday() = DuckDB isodow-1 mapping is explicit)
    t(s, dir, "orders")
      .select(col("o_orderdate").cast("date").as("d")).distinct()
      .select(col("d"),
        year(col("d")).as("y"),
        quarter(col("d")).as("q"),
        month(col("d")).as("m"),
        dayofmonth(col("d")).as("dom"),
        dayofyear(col("d")).as("doy"),
        weekofyear(col("d")).as("iso_week"),
        expr("weekday(d)").as("monday0_dow"),
        date_trunc("week", col("d")).cast("date").as("week_start"),
        last_day(col("d")).as("month_end"))
      .orderBy(col("d"))

  private def stringSuite(s: SparkSession, dir: String): DataFrame =
    // string-kernel parity row (the q_date_suite sibling): the classic
    // transforms engines disagree on when spelled carelessly, pinned to
    // spellings Spark and DuckDB share exactly — fixed-width pads,
    // character translate, split-part extraction, reverse, instr
    // (1-based, 0 = absent), repeat, and overlay
    t(s, dir, "part")
      .select(col("p_partkey").as("k"), col("p_name"), col("p_brand"))
      .select(col("k"),
        upper(col("p_brand")).as("up"),
        lpad(col("p_brand"), 12, ".").as("lp"),
        rpad(col("p_brand"), 12, "_").as("rp"),
        translate(col("p_name"), "aeiou", "AEIOU").as("tr"),
        element_at(split(col("p_name"), " "), 1).as("first_word"),
        element_at(split(col("p_name"), " "), -1).as("last_word"),
        reverse(col("p_brand")).as("rev"),
        instr(col("p_name"), "a").cast("int").as("pos_a"),
        repeat(substring(col("p_brand"), 1, 2), 3).as("rep"),
        overlay(col("p_brand"), lit("XX"), lit(2)).as("ovl"),
        length(col("p_name")).cast("int").as("len"))
      .orderBy(col("k"))

  private def intervalUnion(s: SparkSession, dir: String): DataFrame = {
    // exact covered-time per day under the same 5-minute holds as
    // q_max_concurrency: the interval-UNION length (overlaps counted
    // once). Sorted-merge sweep without a single-partition sort: order
    // starts within each day, carry the running max end, and a new
    // interval contributes max(0, end − max(start, maxEndBefore)) —
    // summed per day. One day-partitioned window + one groupBy.
    val ev = t(s, dir, "events")
      .select(col("ts").as("t0"), to_date(col("ts")).as("day"))
      .select(col("day"),
        unix_micros(col("t0")).as("a"),
        least(unix_micros(col("t0")) + lit(300000000L),
          unix_micros((col("day") + expr("interval 1 day"))
            .cast("timestamp"))).as("b"))
    val w = Window.partitionBy(col("day")).orderBy(col("a"), col("b"))
      .rowsBetween(Window.unboundedPreceding, -1)
    ev.withColumn("maxb", max(col("b")).over(w))
      .select(col("day"),
        greatest(lit(0L),
          col("b") - greatest(col("a"), coalesce(col("maxb"), col("a"))))
          .as("add"))
      .groupBy(col("day"))
      .agg(sum(col("add")).as("covered_us")) // exact epoch-micros total
      .orderBy(col("day"))
  }

  private def nullSemantics(s: SparkSession, dir: String): DataFrame = {
    // NULL-semantics parity row: plant NULLs deterministically (every
    // third balance, every fourth segment), then grade the constructs
    // whose null behavior differs across engines when spelled carelessly:
    // count(col) vs count(*), null-safe equality, grouping on a null key,
    // coalesce/nullif, and sum/avg null-skipping
    val c = t(s, dir, "customer")
      .select(col("c_custkey"),
        when(col("c_custkey") % 3 === 0, lit(null: java.lang.Double))
          .otherwise(col("c_acctbal")).as("bal"),
        when(col("c_custkey") % 4 === 0, lit(null: String))
          .otherwise(col("c_mktsegment")).as("seg"))
    c.groupBy(col("seg"))
      .agg(count(lit(1)).as("n_rows"),
        count(col("bal")).as("n_bal"),
        sum(when(col("seg") <=> lit(null: String), 1L).otherwise(0L))
          .as("n_nullsafe_eq"),
        sum(round(coalesce(col("bal"), lit(0.0)) * 100).cast("bigint"))
          .as("bal_cents"),
        count(nullif(col("c_custkey") % 2, lit(1))).as("n_even"))
      // asc_nulls_first is a parameterless method: with () Scala resolves
      // Column.apply(()) and plants a BoxedUnit literal in the sort order
      .orderBy(col("seg").asc_nulls_first)
  }

  private def sqlPipelineQuery(s: SparkSession, dir: String): DataFrame = {
    // the pure-SQL surface of the library: the native codegen kernels
    // (word_shingles / canonicalize_text / token_stats — the same
    // Expressions the DataFrame API plans) registered as SQL functions,
    // the corpus exposed as a view, and the rollup written as ONE SQL
    // text — exactly what a SQL-only user executes. Registration is
    // createOrReplaceTempFunction (idempotent); cluster deployments get
    // the same names permanently via GraftExtensions injection.
    graft.functions.VectorFunctions.register(s)
    t(s, dir, "documents").createOrReplaceTempView("g_docs")
    s.sql("""
      SELECT lang, count(*) AS n_docs,
        CAST(sum(size(word_shingles(canonicalize_text(text), 3))) AS BIGINT)
          AS n_shingles,
        CAST(sum(token_stats(text).n_tokens) AS BIGINT) AS n_tokens
      FROM g_docs GROUP BY lang ORDER BY lang""")
  }

  private def mergeUpsert(s: SparkSession, dir: String): DataFrame = {
    // warehouse MERGE (Delta/Iceberg upsert) folded as ONE full-outer join
    // on the id: a CDC batch (updates for id%10=0, deletes for id%10=7,
    // inserts at id+1e6 for id%10=3 — derived deterministically so both
    // engines build the identical batch) lands on the v1 snapshot;
    // matched+U rewrites, matched+D tombstones (fp NULL is the audit row),
    // unmatched+I appends, untouched rows pass through as 'keep'. At scale
    // this is the canonical incremental-ingest shape: the corpus shuffles
    // once on its key, the batch (≪ corpus) rides the same exchange; no
    // rewrite of unmatched partitions is implied by the plan.
    val tgt = t(s, dir, "documents").select(col("doc_id"), col("text"))
    val upd = tgt.filter(col("doc_id") % 10 === 0)
      .select(col("doc_id").as("c_id"), lit("U").as("op"),
        concat(col("text"), lit(" [rev2]")).as("new_text"))
    val del = tgt.filter(col("doc_id") % 10 === 7)
      .select(col("doc_id").as("c_id"), lit("D").as("op"),
        lit(null: String).as("new_text"))
    val ins = tgt.filter(col("doc_id") % 10 === 3)
      .select((col("doc_id") + 1000000L).as("c_id"), lit("I").as("op"),
        concat(lit("fresh doc "),
          (col("doc_id") + 1000000L).cast("string")).as("new_text"))
    val ch = upd.unionByName(del).unionByName(ins)
    tgt.join(ch, col("doc_id") === col("c_id"), "full_outer")
      .select(
        coalesce(col("doc_id"), col("c_id")).as("id"),
        when(col("c_id").isNull, lit("keep"))
          .when(col("op") === "U", lit("update"))
          .when(col("op") === "D", lit("delete"))
          .when(col("doc_id").isNull && col("op") === "I", lit("insert"))
          .otherwise(lit("conflict")).as("action"),
        when(col("op") === "D", lit(null: String))
          .when(col("op").isNotNull, md5(col("new_text")))
          .otherwise(md5(col("text"))).as("fp"))
      .orderBy(col("id"))
  }

  private def paretoDocs(s: SparkSession, dir: String): DataFrame = {
    // skyline (Pareto frontier) over (n_tokens ↑, lexical diversity ↑):
    // the docs no other doc beats on both axes — the "longest AND most
    // varied" exemplar set. Scale shape: skyline(∪P_i) =
    // skyline(∪ skyline(P_i)), so stage 1 prunes strictly-dominated rows
    // per input partition (keyed on spark_partition_id, projected to a
    // real column first — the analyzer rejects nondeterministic window
    // keys): the TEXT never shuffles (metrics are map-side); the stage-1
    // window exchanges only the 24-byte (id, n, d) triples, balanced by
    // pid, and any local survivor set is a superset of the global
    // frontier no matter how rows were partitioned. Only the pruned
    // sliver reaches the stage-2 exact single-partition sweep. Dominance
    // via RANGE frames: rows with strictly larger n_tokens
    // (value-offset frame) and same-n_tokens peers (partition max) — no
    // self-join. Exactness: a skyline point is never dominated so never
    // pruned, and every surviving non-skyline point keeps a skyline
    // dominator alive via its (finite, strict) dominator chain.
    val m = t(s, dir, "documents")
      .select(col("doc_id"),
        size(filter(split(trim(col("text")), "\\s+"),
          x => length(x) > 0)).cast("long").as("n_tokens"),
        size(array_distinct(filter(split(trim(col("text")), "\\s+"),
          x => length(x) > 0))).cast("long").as("n_distinct"))
      .select(col("doc_id"), col("n_tokens"),
        when(col("n_tokens") === 0, lit(0L))
          .otherwise(expr("n_distinct * 1000000 div n_tokens"))
          .as("div_ppm"))
      .withColumn("pid", spark_partition_id())
    val local = Window.partitionBy(col("pid"))
      .orderBy(col("n_tokens"))
      .rangeBetween(1L, Window.unboundedFollowing)
    val pruned = m.withColumn("lmax", max(col("div_ppm")).over(local))
      .filter(col("lmax").isNull || col("lmax") <= col("div_ppm"))
      .drop("lmax", "pid")
    val wStrict = Window.orderBy(col("n_tokens"))
      .rangeBetween(1L, Window.unboundedFollowing)
    val wEq = Window.partitionBy(col("n_tokens"))
    pruned
      .withColumn("smax", max(col("div_ppm")).over(wStrict))
      .withColumn("emax", max(col("div_ppm")).over(wEq))
      .filter((col("smax").isNull || col("smax") < col("div_ppm")) &&
        col("emax") === col("div_ppm"))
      .select(col("doc_id"), col("n_tokens"), col("div_ppm"))
      .orderBy(col("doc_id"))
  }

  private def globalRowNumber(s: SparkSession, dir: String): DataFrame = {
    // contiguous global row ids WITHOUT `row_number() OVER (ORDER BY …)`'s
    // single-partition window: partition on a deterministic COARSE PREFIX
    // of the order key (the event day — data-derived, so both uses of the
    // subtree agree on it, unlike spark_partition_id over a re-sampled
    // range exchange, which is only consistent if exchange reuse fires).
    // Per-day counts (≈30 rows) get exclusive prefix offsets in a window
    // over that tiny set; offsets broadcast back and every day numbers
    // independently in parallel — grank = offset(day) + row_number within
    // day. Because day is a prefix of the (ts, event_id) order, the
    // concatenation IS the global order. The events-sized side crosses
    // the wire once (the day-keyed window's hash exchange) as a slim
    // (event_id, ts) projection; at 100 TB pick the prefix at hour or
    // minute grain to bound per-group size — same plan, finer key.
    OrderStats.globalRowNumbers(t(s, dir, "events"), "ts", "event_id")
      .orderBy(col("grank"))
  }

  private def setJoinPpjoin(s: SparkSession, dir: String): DataFrame =
    // exact-recall near-dup pairs at shingle-Jaccard >= 3/5 — the
    // AllPairs/PPJoin prefix-filter alternative to LSH: no false
    // negatives (completeness is a theorem, spec-pinned against brute
    // force), candidates bounded because prefixes index only each doc's
    // RAREST shingles (unigram SETS are degenerate on this corpus: a
    // shared small vocab made half of ALL pairs >60% similar; trigrams
    // encode local order). Integer threshold test (inter*5 >= uni*3).
    Dedup.prefixFilterJoin(t(s, dir, "documents"), "doc_id", "text",
        tauNum = 3, tauDen = 5)
      .orderBy(col("id1"), col("id2"))

  private def compactionPlan(s: SparkSession, dir: String): DataFrame = {
    // small-file compaction planning — the table-maintenance pass every
    // lakehouse runs: pseudo-files (source × doc_id div 10, sized by
    // n_chars) are packed into ~16 KiB output bins by ORDINAL-ORDERED
    // cumulative packing: bin = exclusive-prefix-bytes div target. Unlike
    // first-fit-decreasing this is windowed, deterministic, and replayable
    // (a bin can overshoot target by at most one file — the standard
    // streaming-compaction contract). Per-source windows parallelize; the
    // plan output is bins-sized, not files-sized.
    val files = t(s, dir, "documents")
      .groupBy(col("source"), expr("doc_id div 10").as("file_ord"))
      .agg(sum(col("n_chars")).as("bytes"))
    val w = Window.partitionBy(col("source")).orderBy(col("file_ord"))
      .rowsBetween(Window.unboundedPreceding, -1)
    files
      .withColumn("prefix", coalesce(sum(col("bytes")).over(w), lit(0L)))
      .withColumn("bin", expr("prefix div 16384"))
      .groupBy(col("source"), col("bin"))
      .agg(count(lit(1)).as("n_files"),
        sum(col("bytes")).as("bin_bytes"),
        min(col("file_ord")).as("file_lo"),
        max(col("file_ord")).as("file_hi"))
      .orderBy(col("source"), col("bin"))
  }

  /** Z-ordered events store (write-once layout): rows sorted by the
    * Morton interleave of (user bucket, minute-of-day bucket), so a box
    * predicate over BOTH dims — which no single-column sort layout can
    * serve — prunes through ordinary parquet min/max row-group stats on
    * the one zkey column. The multi-dim analogue of the day-partitioned
    * store; maxRecordsPerFile keeps files small enough that pruning acts
    * at file granularity too.
    */
  private def zorderEventsStore(s: SparkSession, dir: String): DataFrame = {
    val path = layoutPath(dir, "evz", "zorder=u8xm8,v1", srcTable = "events.parquet")
    if (!Layout.indexExists(s, path)) {
      val ev = t(s, dir, "events")
        .select(col("event_id"), col("event_type"), col("value"),
          (col("user_id") % 256).cast("int").as("xb"),
          expr("(hour(ts) * 60 + minute(ts)) div 6").cast("int").as("yb"))
        .withColumn("zkey", Layout.morton(col("xb"), col("yb"), 8))
      ev.repartitionByRange(8, col("zkey"))
        .sortWithinPartitions(col("zkey"))
        .write.mode("overwrite")
        .option("maxRecordsPerFile", 20000)
        .parquet(path)
    }
    s.read.parquet(path)
  }

  private def zorderBoxQuery(s: SparkSession, dir: String): DataFrame = {
    // 2-D box rollup off the z-ordered store: the box decomposes
    // driver-side into contiguous z ranges (exact quadtree cover over
    // grid cells, never data), the OR-of-BETWEENs pushes into the
    // parquet scan (plan-pinned), and the residual (x, y) filter is
    // belt-and-braces — zRanges is an exact cover, so it removes
    // nothing (the oracle, a plain box filter on the raw table, proves
    // that end to end).
    val ranges = Layout.zRanges(2, 96, 60, 180, bits = 8)
    zorderEventsStore(s, dir)
      .filter(Layout.zRangePredicate(col("zkey"), ranges))
      .filter(col("xb").between(2, 96) && col("yb").between(60, 180))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        (sum(round(col("value") * 100).cast("bigint")).cast("double") /
          lit(100.0)).as("value_sum"))
      .orderBy(col("event_type"))
  }

  private def cmsAudit(s: SparkSession, dir: String): DataFrame = {
    // count-min sketch audit: the top-30 exact tokens vs their CMS
    // estimates from a 4×256 counter matrix. Because the sketch is
    // spelled relationally with portable md5 bucket hashing, the WHOLE
    // estimator — matrix and point queries — is replayed by the oracle;
    // the one-sided error guarantee (cms_n >= exact_n, always) is
    // additionally spec-pinned over every token. Scale: the token stream
    // partial-aggregates to ≤ 1024 cells per partition before its one
    // shuffle; the matrix broadcasts back to the probe side.
    val tok = t(s, dir, "documents")
      .select(explode(Dedup.portableTokens(col("text"))).as("term"))
    val top = tok.groupBy(col("term")).agg(count(lit(1)).as("exact_n"))
      .orderBy(col("exact_n").desc, col("term")).limit(30)
    val cells = HeavyHitters.cmsCells(tok, "term")
    HeavyHitters.cmsEstimate(cells, top)
      .select(col("term"), col("exact_n"), col("cms_n"))
      .orderBy(col("exact_n").desc, col("term"))
  }

  /** Sketch-based JOIN-SIZE estimation — what an optimizer does before
    * committing to a join strategy: |lineitem ⋈ orders| on orderkey
    * estimated as the CMS inner product (per depth row Σ_c nA·nB, min
    * over rows), reported at three widths. ONE corpus pass per side
    * builds the finest matrix; the coarser widths derive by re-bucketing
    * c % w (exact because 256 | 4096 | 65536), so error-vs-width comes
    * free. The estimate can only OVERcount (collisions add —
    * spec-pinned), and is monotone non-increasing in width (coarse cells
    * aggregate fine ones — also pinned).
    */
  private def joinCardinalityEstimate(s: SparkSession, dir: String): DataFrame = {
    val depth = 4
    val wMax = 65536
    val widths = Seq(256, 4096, 65536)
    val a = t(s, dir, "lineitem")
      .select(col("l_orderkey").cast("string").as("term"))
    val b = t(s, dir, "orders")
      .select(col("o_orderkey").cast("string").as("term"))
    // materialize the ≤ depth·wMax cell matrices once; the three width
    // derivations below would otherwise each replay the corpus scan.
    // The SLICED spelling (one md5 per term, four 8-hex-char windows)
    // quarters the hash work — the estimator's dominant cost
    val ca = HeavyHitters.cmsCells(a, "term", depth, wMax).localCheckpoint()
    val cb = HeavyHitters.cmsCells(b, "term", depth, wMax).localCheckpoint()
    widths.map { w =>
      val da = ca.groupBy(col("d"), (col("c") % w).as("c"))
        .agg(sum(col("n")).as("na"))
      val db = cb.groupBy(col("d"), (col("c") % w).as("c"))
        .agg(sum(col("n")).as("nb"))
      da.join(db, Seq("d", "c"))
        .groupBy(col("d")).agg(sum(col("na") * col("nb")).as("ip"))
        .agg(min(col("ip")).cast("bigint").as("cms_n"))
        .select(lit(w).as("width"), col("cms_n"))
    }.reduce(_ union _).orderBy(col("width"))
  }

  private def joinCardinality(s: SparkSession, dir: String): DataFrame = {
    // the ESTIMATOR row: what an optimizer actually runs before picking a
    // join strategy — ONE width, one cell build per side (one md5 per
    // term, sliced), one (d, c) equi-join, NO checkpoint barriers. The
    // three-width error sweep and the exact truth are the audit row's
    // business (q_join_cardinality_audit).
    // both sides fused into ONE shuffle: union with a side tag, one
    // (d, c) groupBy producing (na, nb) per cell — no cell-matrix join,
    // no second shuffle stage
    val w = 65536
    val a = t(s, dir, "lineitem")
      .select(col("l_orderkey").cast("string").as("term"), lit(0).as("__s"))
    val b = t(s, dir, "orders")
      .select(col("o_orderkey").cast("string").as("term"), lit(1).as("__s"))
    a.unionAll(b)
      .select(col("__s"), posexplode(
        graft.functions.Md5Slices(col("term"), w)).as(Seq("d", "c")))
      .groupBy(col("d"), col("c"))
      .agg(sum(when(col("__s") === 0, 1L).otherwise(0L)).as("na"),
        sum(when(col("__s") === 1, 1L).otherwise(0L)).as("nb"))
      .groupBy(col("d")).agg(sum(col("na") * col("nb")).as("ip"))
      .agg(min(col("ip")).cast("bigint").as("cms_n"))
      .select(lit(w).as("width"), col("cms_n"))
  }

  private def joinCardinalityAgms(s: SparkSession, dir: String): DataFrame = {
    // AGMS / Tug-of-War join-size sketch — the UNBIASED companion of the
    // CMS estimator row: each term contributes a ±1-signed count to its
    // bucket, so colliding terms CANCEL in expectation instead of adding,
    // and the estimate can under- or over-shoot (the CMS row can only
    // overcount). Estimate per depth = Σ_c XA[c]·XB[c]; the median of the
    // 4 depth rows (for 4 values: (sum − min − max) / 2) bounds variance.
    // Same one-pass union shape and one-digest slice kernel as the CMS
    // row — RAW 32-bit slices, bucket from bits 0-11, sign from bit 16:
    // independent bit ranges of one digest window, both replayed verbatim
    // by the SQL twin.
    val w = 4096
    val a = t(s, dir, "lineitem")
      .select(col("l_orderkey").cast("string").as("term"), lit(0).as("__s"))
    val b = t(s, dir, "orders")
      .select(col("o_orderkey").cast("string").as("term"), lit(1).as("__s"))
    val sgn = ((col("h") / 65536).cast("long") % 2) * 2 - 1
    val cells = a.unionAll(b)
      .select(col("__s"), posexplode(
        graft.functions.Md5Slices(col("term"), 0)).as(Seq("d", "h")))
      .select(col("__s"), col("d"), (col("h") % w).as("c"), sgn.as("sgn"))
      .groupBy(col("d"), col("c"))
      .agg(sum(when(col("__s") === 0, col("sgn")).otherwise(0L)).as("xa"),
        sum(when(col("__s") === 1, col("sgn")).otherwise(0L)).as("xb"))
    cells.groupBy(col("d")).agg(sum(col("xa") * col("xb")).as("ip"))
      .agg(sum(col("ip")).as("st"), min(col("ip")).as("mn"),
        max(col("ip")).as("mx"))
      .select(lit(w).as("width"),
        round((col("st") - col("mn") - col("mx")) / 2.0).cast("bigint")
          .as("agms_n"))
  }

  private def joinCardinalityAudit(s: SparkSession, dir: String): DataFrame = {
    // TRUTH AUDIT row: the exact join size via the per-key count join
    // (the join itself is never materialized) and the over-estimate in
    // ppm per width — audit-SF cost by design, not the production path
    val a = t(s, dir, "lineitem")
      .select(col("l_orderkey").cast("string").as("term"))
    val b = t(s, dir, "orders")
      .select(col("o_orderkey").cast("string").as("term"))
    val exact = a.groupBy(col("term")).agg(count(lit(1)).as("na"))
      .join(b.groupBy(col("term")).agg(count(lit(1)).as("nb")), "term")
      .agg(sum(col("na") * col("nb")).cast("bigint").as("exact_n"))
    joinCardinalityEstimate(s, dir).crossJoin(broadcast(exact))
      .withColumn("over_ppm", round(lit(1e6) *
        ((col("cms_n") - col("exact_n")).cast("double") /
          col("exact_n").cast("double"))).cast("bigint"))
      .select(col("width"), col("exact_n"), col("cms_n"), col("over_ppm"))
      .orderBy(col("width"))
  }

  private def langLinesAudit(s: SparkSession, dir: String): DataFrame = {
    // code-switching audit: language ID voted PER 8-token line segment
    // (the derived-line convention of d_gopher_lines — this corpus ships
    // no literal newlines), then a per-doc rollup of dominant language,
    // distinct line languages, and the share of off-dominant lines —
    // the mixed-language-document gate a multilingual corpus runs before
    // routing docs to per-language pipelines. Marker lists, token
    // lowering, and the argmax CASE order are shared verbatim with
    // d_lang_predict. Line segmentation and scoring are map-side; the
    // only shuffles carry (doc_id, lang) counts.
    val base = t(s, dir, "documents")
      .select(col("doc_id"),
        transform(filter(split(trim(col("text")), "\\s+"),
          x => length(x) > 0), x => lower(x)).as("tk"))
      .filter(size(col("tk")) > 0)
    val lines = base.select(col("doc_id"),
      explode(transform(
        sequence(lit(0), expr("(size(tk) - 1) div 8")),
        i => slice(col("tk"), i * 8 + 1, lit(8)))).as("ltk"))
    val scored = lines.select(col("doc_id") +:
      TextAnalysis.langScoresOf(col("ltk")).map { case (l, c) =>
        c.as(s"s_$l") }: _*)
    val lineLang = scored.select(col("doc_id"),
      when(greatest(col("s_de"), col("s_en"), col("s_es"), col("s_fr")) === 0,
          lit("und"))
        .when(col("s_de") >= col("s_en") && col("s_de") >= col("s_es") &&
          col("s_de") >= col("s_fr"), lit("de"))
        .when(col("s_en") >= col("s_es") && col("s_en") >= col("s_fr"),
          lit("en"))
        .when(col("s_es") >= col("s_fr"), lit("es"))
        .otherwise(lit("fr")).as("lang"))
    val perLang = lineLang.groupBy(col("doc_id"), col("lang"))
      .agg(count(lit(1)).as("cnt"))
    val wDoc = Window.partitionBy(col("doc_id"))
    val wRank = Window.partitionBy(col("doc_id"))
      .orderBy(col("cnt").desc, col("lang"))
    perLang
      .withColumn("n_lines", sum(col("cnt")).over(wDoc))
      .withColumn("n_langs", count(lit(1)).over(wDoc))
      .withColumn("rk", row_number().over(wRank))
      .filter(col("rk") === 1)
      .select(col("doc_id"), col("n_lines"), col("n_langs"),
        col("lang").as("dom_lang"),
        expr("((n_lines - cnt) * 1000000) div n_lines").as("switch_ppm"))
      .orderBy(col("doc_id"))
  }

  private def recordLinkage(s: SparkSession, dir: String): DataFrame = {
    // entity resolution with BLOCKING, never all-pairs: a mutated twin
    // registry (every 7th customer, last name digit rotated, balance
    // nudged — derived with shared arithmetic so both engines build the
    // identical registry) is linked back against the base. Candidates
    // come from an equi-join on the (nationkey, 16-char name prefix)
    // blocking key — the prefix confines a block to a ~100-key band of
    // one nation — and only candidates pay the levenshtein; matches are
    // lev <= 1. The registry side broadcasts (it is 1/7th of customers);
    // the base never shuffles. lev=0 rows are genuine ambiguities (the
    // rotated digit can collide with a real neighboring key's name) and
    // are part of the graded output.
    val base = t(s, dir, "customer").select(col("c_custkey").as("bkey"),
      col("c_name").as("bname"), col("c_nationkey").as("bnat"),
      col("c_acctbal").as("bbal"))
    val twins = t(s, dir, "customer").filter(col("c_custkey") % 7 === 0)
      .select((col("c_custkey") + 1000000L).as("tkey"),
        concat(substring(col("c_name"), 1, 17),
          ((substring(col("c_name"), 18, 1).cast("int") + 1) % 10)
            .cast("string")).as("tname"),
        col("c_nationkey").as("tnat"),
        (col("c_acctbal") + lit(1.0)).as("tbal"))
    broadcast(twins)
      .join(base, col("tnat") === col("bnat") &&
        substring(col("tname"), 1, 16) === substring(col("bname"), 1, 16))
      .withColumn("lev", levenshtein(col("tname"), col("bname")))
      .filter(col("lev") <= 1)
      .select(col("bkey"), col("tkey"), col("lev").cast("int").as("lev"),
        abs(round(col("tbal") * 100).cast("bigint") -
          round(col("bbal") * 100).cast("bigint")).as("bal_diff_cents"))
      .orderBy(col("bkey"), col("tkey"))
  }

  private def skewAudit(s: SparkSession, dir: String): DataFrame = {
    // pre-flight join-key skew diagnosis — the report a 100 TB pipeline
    // runs BEFORE picking salt factors / AQE skew thresholds: for each
    // candidate join key of the fact table, the key cardinality, the
    // heaviest key's row count, its corpus share (ppm), and max/mean in
    // exact x1000 integers ((max·n_keys·1000) div n_rows — no float).
    // ONE scan: the three keys explode through a map (3x fixed fanout),
    // then two partial-agg groupBys; no per-key rescan.
    val kv = t(s, dir, "lineitem").select(explode(map(
      lit("l_orderkey"), col("l_orderkey"),
      lit("l_partkey"), col("l_partkey"),
      lit("l_suppkey"), col("l_suppkey"))).as(Seq("key_name", "key_value")))
    kv.groupBy(col("key_name"), col("key_value"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("key_name"))
      .agg(sum(col("n")).cast("bigint").as("n_rows"),
        count(lit(1)).as("n_keys"),
        max(col("n")).cast("bigint").as("max_n"))
      .withColumn("top1_ppm",
        round(lit(1e6) * (col("max_n").cast("double") /
          col("n_rows").cast("double"))).cast("bigint"))
      .withColumn("skew_x1000",
        expr("(max_n * n_keys * 1000) div n_rows"))
      .orderBy(col("key_name"))
  }

  private def rollingDistinct(s: SparkSession, dir: String): DataFrame = {
    // trailing-7-day distinct users per day — the DAU/WAU shape. EXACT
    // rolling distinct without a window-over-everything: dedup to
    // (day, user) first (one shuffle), fan each pair out to the <=7
    // target days it serves, dedup again, count. Shuffle volume is
    // bounded by 7·|distinct (day, user)| fixed-width rows — no
    // re-scan per day, no count-distinct window
    val du = t(s, dir, "events")
      .select(to_date(col("ts")).as("day"), col("user_id")).distinct()
    val pd = du.groupBy(col("day")).agg(count(lit(1)).as("n_active"))
    val r = du.select(
        explode(expr("sequence(day, date_add(day, 6), interval 1 day)"))
          .as("day"), col("user_id"))
      .distinct()
      .groupBy(col("day")).agg(count(lit(1)).as("n_active_7d"))
    pd.join(r, Seq("day")).orderBy(col("day"))
  }

  private def fdAudit(s: SparkSession, dir: String): DataFrame = {
    // declared-constraint audit: primary-key uniqueness on three tables
    // plus one functional dependency that genuinely fails (an order can
    // ship from several suppliers) — the violation count IS the signal.
    // Each row is one partial-agg groupBy collapsed to exact integers.
    def uniq(name: String, df: DataFrame, keys: Seq[String]): DataFrame =
      df.groupBy(keys.map(col): _*).agg(count(lit(1)).as("n"))
        .agg(lit(name).as("constraint_name"),
          sum(col("n")).cast("bigint").as("n_rows"),
          count(lit(1)).as("n_keys"),
          sum(when(col("n") > 1, 1L).otherwise(0L)).as("n_violating_keys"))
    def fd(name: String, df: DataFrame, det: String, dep: String): DataFrame =
      df.groupBy(col(det)).agg(count(lit(1)).as("n"),
          countDistinct(col(dep)).as("nd"))
        .agg(lit(name).as("constraint_name"),
          sum(col("n")).cast("bigint").as("n_rows"),
          count(lit(1)).as("n_keys"),
          sum(when(col("nd") > 1, 1L).otherwise(0L)).as("n_violating_keys"))
    uniq("pk_lineitem", t(s, dir, "lineitem"), Seq("l_orderkey", "l_linenumber"))
      .unionAll(uniq("pk_orders", t(s, dir, "orders"), Seq("o_orderkey")))
      .unionAll(uniq("pk_events", t(s, dir, "events"), Seq("event_id")))
      .unionAll(fd("fd_order_supplier", t(s, dir, "lineitem"),
        "l_orderkey", "l_suppkey"))
      .orderBy(col("constraint_name"))
  }

  private def overlapJoinQuery(s: SparkSession, dir: String): DataFrame = {
    // keyless interval-overlap join at the bucketed scale shape: user
    // sessions (30-min-gap islands in exact micros, event_id tiebreak)
    // against 20 derived 24-hour campaign windows spaced 36 h apart.
    // Each overlapping (session, campaign) pair is emitted exactly once
    // by the canonical-bucket rule — no distinct, no cartesian.
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("event_id"))
    val ev = t(s, dir, "events")
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("ts_us"))
    val sess = ev
      .withColumn("new_s", when(lag(col("ts_us"), 1).over(w).isNull ||
        col("ts_us") - lag(col("ts_us"), 1).over(w) > 1800000000L, 1)
        .otherwise(0))
      .withColumn("sidx", sum(col("new_s")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("sidx"))
      .agg(min(col("ts_us")).as("s_start"), max(col("ts_us")).as("s_end"))
    val base = 1704067200000000L // epoch micros of 2024-01-01 00:00:00
    val camp = s.range(0, 20)
      .select(col("id").as("campaign_id"),
        (lit(base) + col("id") * lit(129600000000L)).as("c_start"),
        (lit(base) + col("id") * lit(129600000000L) + lit(86400000000L))
          .as("c_end"))
    RangeJoin.overlapJoin(sess, "s_start", "s_end",
        camp, "c_start", "c_end", bucketUs = 86400000000L)
      .groupBy(col("campaign_id"))
      .agg(count(lit(1)).as("n_sessions"),
        countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("campaign_id"))
  }

  private def eventDedup(s: SparkSession, dir: String): DataFrame =
    // telemetry debounce: drop events < 24 h after the previous event of
    // the same (user, type) — on this generator's inter-arrival grid that
    // throttles the sub-day repeat bursts (~25% of rows) while keeping
    // every first-daily occurrence; streaming twin pinned in StreamingSpec
    Sessionize.throttleDedup(t(s, dir, "events"), "user_id", "event_type",
        "event_id", "ts", minGapUs = 86400000000L)
      .orderBy(col("event_id"))

  private def eventGaps(s: SparkSession, dir: String): DataFrame = {
    // per-user inter-arrival stats via lag over exact epoch micros (longs,
    // so the subtraction is integer-exact in both engines); parallel over
    // the user partitioning — one hash exchange feeds window AND groupBy
    // ts_us is monotone in ts, so ordering by it matches the oracle's
    // ORDER BY ts (micros truncation applied identically in both engines)
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
    t(s, dir, "events")
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("ts_us"))
      .withColumn("gap", col("ts_us") - lag(col("ts_us"), 1).over(w))
      .groupBy(col("user_id"))
      // avg as half-up INTEGER division, no floats anywhere: at micros
      // magnitude (~5e10) the 4th decimal of a double quotient sits at
      // the ulp, where Spark's round (shortest-decimal-repr based) and
      // DuckDB's (binary-value based) legitimately disagree — observed
      // live at sf0.1 (.65385 shortest-repr vs .65384674 binary). Exact
      // bigint (2s + c) div 2c is bit-identical in every engine.
      // nullif guards the single-event user (count(gap) = 0) from ANSI
      // divide-by-zero; the avg is NULL there, matching avg() semantics
      .agg(count(lit(1)).as("n_events"),
        expr("(2 * sum(gap) + count(gap)) div nullif(2 * count(gap), 0)")
          .as("avg_gap_us"),
        max(col("gap")).as("max_gap_us"))
      .orderBy(col("user_id"))
  }

  private def cubeSources(s: SparkSession, dir: String): DataFrame =
    // all four (lang, source) granularities in one pass — CUBE's Expand
    // feeds a single shuffle (4 grouping sets × map-side partial agg), the
    // corpus-report twin of q_rollup_revenue's hierarchy rollup
    t(s, dir, "documents")
      .cube(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(TextAnalysis.tokenCount(col("text"))).cast("bigint").as("n_tokens"))
      .select(coalesce(col("lang"), lit("ALL")).as("lang"),
        coalesce(col("source"), lit("ALL")).as("source"),
        col("n_docs"), col("n_tokens"))
      .orderBy(col("lang"), col("source"))

  private def runningTotal(s: SparkSession, dir: String): DataFrame = {
    // per-user cumulative revenue: running aggregates parallelize across
    // the user partitioning — one hash exchange, every user's prefix sums
    // computed independently (ROWS frame spelled out so both engines
    // accumulate over the identical deterministic (ts, event_id) order)
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val seq = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    t(s, dir, "events")
      .filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"),
        row_number().over(seq).as("purchase_seq"),
        round(sum(col("value")).over(w), 4).as("running_value"))
      .orderBy(col("event_id"))
  }

  private def topNgrams(s: SparkSession, dir: String): DataFrame =
    // corpus-wide top-20 word 2-grams by document frequency — the vocab/
    // phrase-stats pass of a corpus report. Partial agg map-side, then
    // TakeOrderedAndProject: only 20 rows survive per partition, no full
    // sort ever materializes
    t(s, dir, "documents")
      .select(explode(array_distinct(Dedup.shingles(col("text"), 2))).as("gram"))
      .groupBy(col("gram")).agg(count(lit(1)).as("df"))
      .orderBy(desc("df"), asc("gram"))
      .limit(20)

  private def ngramNovelty(s: SparkSession, dir: String): DataFrame = {
    // corpus-diversity attribution: which sources contribute NEW 3-grams
    // and which re-tread existing text. A gram's first sighting is its
    // minimum doc_id corpus-wide (deterministic, ingest-order-free); the
    // sighting doc's source gets the credit. Per source: its distinct
    // gram vocabulary, the grams it sighted first, and the novelty share
    // in ppm — the curation signal for "this feed only re-crawls what we
    // already have". Grams shuffle once (per-doc-deduped pairs), the
    // first-doc→source lookup joins the bounded doc table, and both
    // rollups are partial-agg groupBys.
    val docs = t(s, dir, "documents")
    val gd = docs.select(col("doc_id"), col("source"),
      explode(array_distinct(Dedup.shingles(col("text"), 3))).as("gram"))
    val firstSrc = gd.groupBy(col("gram"))
      .agg(min(col("doc_id")).as("first_doc"))
      .join(docs.select(col("doc_id").as("first_doc"),
        col("source").as("first_source")), "first_doc")
      .groupBy(col("first_source").as("source"))
      .agg(count(lit(1)).as("n_first_seen"))
    gd.groupBy(col("source"))
      .agg(countDistinct(col("gram")).as("n_grams"))
      .join(firstSrc, Seq("source"), "left")
      .select(col("source"), col("n_grams"),
        coalesce(col("n_first_seen"), lit(0L)).as("n_first_seen"))
      .withColumn("novelty_ppm", round(lit(1e6) *
        (col("n_first_seen").cast("double") / col("n_grams").cast("double")))
        .cast("bigint"))
      .orderBy(col("source"))
  }

  private def boilerplateQuery(s: SparkSession, dir: String): DataFrame =
    // C4-style cross-doc boilerplate detection: word 3-grams shared by >= 5
    // distinct docs are template text; score each doc by its common fraction
    Dedup.boilerplate(t(s, dir, "documents"), "doc_id", "text",
        n = 3, minDocs = 5)
      .withColumnRenamed("id", "doc_id")
      .orderBy(col("doc_id"))

  private def domainMixQuery(s: SparkSession, dir: String): DataFrame =
    // temperature-weighted (α=0.5) domain mixing over the source column:
    // the sampling weights a pretraining run would draw each domain at
    Splits.domainMixture(t(s, dir, "documents"), "source",
        TextAnalysis.tokenCount(col("text")), budgetDocs = 10000L)
      .orderBy(col("domain"))

  private def mixScheduleQuery(s: SparkSession, dir: String): DataFrame =
    // 3-phase annealed language mixture (proportional → sqrt-flattened →
    // uniform) with exact-integer normalizers; lang is the skewed domain
    // key here (en dominates), so every phase reweights visibly
    Splits.mixSchedule(t(s, dir, "documents"), "lang",
        TextAnalysis.tokenCount(col("text")), budgetDocs = 10000L)
      .orderBy(col("phase"), col("domain"))

  private def vocabAuditQuery(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.vocabAudit(t(s, dir, "documents"), "lang", "text")
      .orderBy(col("lang"))

  private def badwordsQuery(s: SparkSession, dir: String): DataFrame =
    // C4-style wordlist gate per source; "dup" appears in a ~5% sliver of
    // this corpus, "leak" never — both the hit and the no-hit paths run
    TextAnalysis.badwordsAudit(t(s, dir, "documents"), "source", "text",
        Seq("dup", "leak"))
      .orderBy(col("source"))

  private def budgetSampleQuery(s: SparkSession, dir: String): DataFrame =
    // the data-recipe materialization: per source domain, keep documents
    // in deterministic md5 order until 600 tokens are reached (the
    // boundary-crossing doc is kept; small domains are taken whole) —
    // 600 is below every domain's mass even at sf0.001, so the boundary
    // logic is exercised at every graded SF
    Splits.budgetSample(t(s, dir, "documents"), "source", "doc_id",
        TextAnalysis.tokenCount(col("text")), budgetTokens = 600L,
        salt = "mix0")
      .orderBy(col("domain"), col("doc_id"))

  private def lmFamiliarityQuery(s: SparkSession, dir: String): DataFrame =
    // KenLM-style quality scoring in exact integers: per doc, how many of
    // its bigram occurrences fall in the corpus's top-1000 bigram
    // vocabulary, and the summed corpus counts of those hits
    TextAnalysis.lmFamiliarity(t(s, dir, "documents"), "doc_id", "text",
        vocabSize = 1000)
      .orderBy(col("doc_id"))

  private def lmScoreFrozenQuery(s: SparkSession, dir: String): DataFrame = {
    // the frozen-LM production pattern: vocab trained once on the
    // reference half (even doc_ids), later batches (odd doc_ids) scored
    // against it with no count pass — incremental scoring, like
    // d_lsh_incremental vs the stored index
    val d = t(s, dir, "documents")
    val vocab = TextAnalysis.bigramVocab(
      d.filter(col("doc_id") % 2 === 0), "doc_id", "text", vocabSize = 500)
    TextAnalysis.lmFamiliarity(
        d.filter(col("doc_id") % 2 === 1), "doc_id", "text",
        vocab = Some(vocab))
      .orderBy(col("doc_id"))
  }

  private def pplBuckets(s: SparkSession, dir: String): DataFrame = {
    // CCNet-style corpus partitioning (Wenzek et al. 2019): score docs
    // against a frozen reference LM (the d_lm_score_frozen vocab — even
    // docs train, odd docs score), then split into head/middle/tail
    // terciles PER LANGUAGE by integer score — the published curation
    // move that keeps head+middle for training. Per-language ntile keeps
    // every window on its own partition (the d_length_deciles shape, no
    // global-sort funnel); ties break by doc_id so the split replays.
    val d = t(s, dir, "documents")
    val vocab = TextAnalysis.bigramVocab(
      d.filter(col("doc_id") % 2 === 0), "doc_id", "text", vocabSize = 500)
    val scored = TextAnalysis.lmFamiliarity(
        d.filter(col("doc_id") % 2 === 1), "doc_id", "text",
        vocab = Some(vocab))
      .select(col("doc_id"),
        expr("familiar_mass * 1000 div n_bigrams").as("score_x1000"))
      .join(d.select(col("doc_id"), col("lang")), Seq("doc_id"))
    val w = Window.partitionBy(col("lang"))
      .orderBy(desc("score_x1000"), asc("doc_id"))
    scored.withColumn("b", ntile(3).over(w))
      .select(col("doc_id"), col("lang"), col("score_x1000"),
        element_at(array(lit("head"), lit("middle"), lit("tail")),
          col("b")).as("bucket"))
      .orderBy(col("doc_id"))
  }

  private def dsirSampleQuery(s: SparkSession, dir: String): DataFrame =
    // DSIR-style data selection: sources src0-src2 act as the curated
    // target corpus, every other doc is the raw pool; docs are scored by
    // the exact-integer hashed-token contrast Σ n_b·(ppm_t − ppm_r) and
    // the per-language top quartile is kept (ties by doc_id) — the
    // importance-resampling step of a pretraining data recipe, replayable
    // bit-for-bit (md5 buckets, integer ppm, integer window)
    Splits.dsirSelect(t(s, dir, "documents"), "doc_id", "lang", "text",
        isTarget = col("source").isin("src0", "src1", "src2"))
      .orderBy(col("doc_id"))

  private def qualityOutliersQuery(s: SparkSession, dir: String): DataFrame =
    // per-language adaptive quality gate: flag docs whose token count is
    // atypical FOR THEIR LANGUAGE, by exact integer median/MAD (low
    // medians, no interpolation). The approx sketch twin is spec-pinned
    // equal on this corpus (RobustSpec)
    Robust.outliers(t(s, dir, "documents"), "doc_id", "lang",
        TextAnalysis.tokenCount(col("text")), k = 3)
      .withColumn("is_outlier", col("is_outlier").cast("int"))
      .orderBy(col("doc_id"))

  private def pivotEvents(s: SparkSession, dir: String): DataFrame =
    // wide-format pivot: per user cohort, one column of summed value per
    // event type. The value list is EXPLICIT, so no extra distinct-scan
    // job runs before the pivot (and the plan is a single groupBy).
    t(s, dir, "events")
      .groupBy((col("user_id") % 10).as("cohort"))
      .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
      .agg(round(sum(col("value")), 4))
      .orderBy(col("cohort"))

  private def rollupRevenue(s: SparkSession, dir: String): DataFrame =
    // multi-granularity aggregation in one pass: region → nation → grand
    // total via ROLLUP (Expand feeds one shuffle; no per-level re-scan).
    // NULL grouping slots are coalesced to 'ALL' so both engines order
    // the same sentinel rather than engine-specific NULL placement.
    t(s, dir, "orders")
      .join(t(s, dir, "customer"),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(t(s, dir, "nation")),
        col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(t(s, dir, "region")),
        col("n_regionkey") === col("r_regionkey"))
      .rollup(col("r_name"), col("n_name"))
      .agg(round(sum(col("o_totalprice")), 2).as("revenue"),
        count(lit(1)).as("n_orders"))
      .select(coalesce(col("r_name"), lit("ALL")).as("region"),
        coalesce(col("n_name"), lit("ALL")).as("nation"),
        col("revenue"), col("n_orders"))
      .orderBy(col("region"), col("nation"))

  private def repetitionScores(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"),
        round(TextAnalysis.repetitionRatio(col("text"), 3), 4).as("rep_ratio"))
      .orderBy(col("doc_id"))

  private def piiScrub(s: SparkSession, dir: String): DataFrame =
    // PII redaction pass: the synthetic corpus has no PII, so plant
    // deterministic email/URL/number fragments from doc_id, then scrub —
    // both engines run the identical construct + scrub
    t(s, dir, "documents")
      .select(col("doc_id"),
        concat(col("text"),
          lit(" contact u"), col("doc_id"), lit("@corp.example.com via"),
          lit(" https://docs.example.com/p/"), col("doc_id"),
          lit(" or call 555-0192-"), col("doc_id")).as("dirty"))
      .select(Seq(col("doc_id"), TextAnalysis.scrubPii(col("dirty")).as("clean")) ++
        TextAnalysis.piiCounts(col("dirty")).map { case (n, c) => c.as(n) }: _*)
      .orderBy(col("doc_id"))

  private def piiLuhn(s: SparkSession, dir: String): DataFrame =
    // checksum-validated PII: a 16-digit card-like run is planted per doc
    // (15 deterministic digits + doc_id%10 as the check digit, so ~10%
    // of docs carry a LUHN-VALID number) and only validated numbers are
    // scrubbed — the regex-only spelling (d_pii_scrub's <NUMBER>) can't
    // tell a card from an order id; the Luhn gate can. The validator is
    // a higher-order transform/aggregate over the 16 digits (codegen'd,
    // no UDF), map-side only, and the DuckDB twin replays the identical
    // double-every-second-from-the-right arithmetic.
    t(s, dir, "documents")
      .select(col("doc_id"),
        concat(col("text"), lit(" card "),
          lpad(col("doc_id").cast("string"), 15, "4"),
          (col("doc_id") % 10).cast("string"), lit(" on file")).as("dirty"))
      .withColumn("card", regexp_extract(col("dirty"), "[0-9]{16}", 0))
      .withColumn("luhn_sum", expr(
        "aggregate(transform(sequence(1, 16), i -> " +
        "CASE WHEN i % 2 = 1 THEN " +
        " CASE WHEN CAST(substr(card, i, 1) AS INT) * 2 > 9 " +
        "  THEN CAST(substr(card, i, 1) AS INT) * 2 - 9 " +
        "  ELSE CAST(substr(card, i, 1) AS INT) * 2 END " +
        "ELSE CAST(substr(card, i, 1) AS INT) END), 0, (a, x) -> a + x)"))
      .select(col("doc_id"),
        when(col("luhn_sum") % 10 === 0, 1).otherwise(0).cast("int")
          .as("luhn_valid"),
        when(col("luhn_sum") % 10 === 0,
          regexp_replace(col("dirty"), col("card"), lit("<CARD>")))
          .otherwise(col("dirty")).as("clean"))
      .orderBy(col("doc_id"))

  private def sampleStrataQuery(s: SparkSession, dir: String): DataFrame =
    Splits.sampleStrata(t(s, dir, "documents"), "lang", "doc_id",
        Map("en" -> 250, "de" -> 500))
      .groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
      .orderBy(col("lang"))

  private def dedupIncremental(s: SparkSession, dir: String): DataFrame = {
    // steady-state ingest: docs >= 250 are the "new batch", fingerprints of
    // docs < 250 the existing corpus index; survivors are batch docs whose
    // content is new (in-batch dups also dropped, lowest id kept)
    val docs = t(s, dir, "documents")
    val corpus = docs.filter(col("doc_id") < 250)
      .select(TextAnalysis.fingerprint(col("text")).as("fp"))
    Dedup.incremental(docs.filter(col("doc_id") >= 250), corpus, "doc_id", "text")
      .orderBy(col("doc_id"))
  }

  /** Stored exact-dup fingerprint index — [[lshStore]]'s sibling for the
    * exact-dedup gate: the historical corpus's md5 fingerprints written
    * ONCE per SF dir (32 bytes per doc), so the incremental gate never
    * re-reads historical text. Completes the stored-contract set: every
    * incremental gate in the engine (exact, LSH, perceptual, ANN) now
    * has a write-once physical index.
    */
  private def fpStore(s: SparkSession, dir: String): DataFrame = {
    val path = layoutPath(dir, "fpindex", "cut=250,fpv=nfc",
      srcTable = "documents.parquet")
    if (!Layout.indexExists(s, path))
      t(s, dir, "documents").filter(col("doc_id") < 250)
        .select(TextAnalysis.fingerprint(col("text")).as("fp"))
        .coalesce(8)
        .write.mode("overwrite").parquet(path)
    s.read.parquet(path)
  }

  private def dedupIncrementalStored(s: SparkSession, dir: String): DataFrame =
    // the same gate as d_dedup_incremental against the STORED fingerprint
    // index — row-identical by construction (pinned in ExtensionsSpec)
    Dedup.incremental(
        t(s, dir, "documents").filter(col("doc_id") >= 250),
        fpStore(s, dir), "doc_id", "text")
      .orderBy(col("doc_id"))

  private def minhashPairs(s: SparkSession, dir: String): DataFrame =
    Dedup.minhashLsh(t(s, dir, "documents"), "doc_id", "text",
        k = 64, bands = 16, shingleLen = 3, threshold = 0.5)
      .orderBy(col("a"), col("b"))

  private def dedupFuzzyPipeline(s: SparkSession, dir: String): DataFrame = {
    // the full fuzzy-dedup pipeline in one query: MinHash-LSH candidate
    // pairs → exact-Jaccard verify → connected components → keep the
    // highest-quality member per cluster (rows-only: minhash buckets are
    // xxhash64-based; every stage is oracle-checked individually elsewhere)
    val docs = t(s, dir, "documents")
    val pairs = Dedup.minhashLsh(docs, "doc_id", "text",
      k = 64, bands = 16, shingleLen = 3, threshold = 0.5)
    val clusters = Dedup.connectedComponents(pairs.select(col("a"), col("b")))
    val quality = docs.select(col("doc_id").as("id"),
      TextAnalysis.tokenCount(col("text")).as("n_tokens"))
    Dedup.keepBest(clusters, quality, "n_tokens")
      .orderBy(col("cluster_id"))
  }

  /** Verified near-dup pairs by the engine-portable spelling: md5 minhash
    * → 4 LSH bands → in-bucket candidates → exact-Jaccard verify. The
    * shared front end of d_dedup_fuzzy_portable and d_split_leakproof.
    * The two-join verify consumes the candidate set once, so nothing
    * checkpoints. Cap OFF to stay equivalent to the uncapped oracle
    * self-join by construction.
    */
  private def portableNearDupPairs(docs: DataFrame): DataFrame = {
    val sigs = Dedup.portableMinhash(docs, "doc_id", "text", k = 8)
    val cand = Dedup.candidatePairs(
        Dedup.portableBands(sigs, "doc_id", k = 8, bands = 4),
        maxBucketSize = Int.MaxValue)
    Dedup.verifyJaccard(cand, docs, "doc_id", "text",
        shingleLen = 3, threshold = 0.5)
      .select(col("a"), col("b"))
  }

  private def splitLeakproofQuery(s: SparkSession, dir: String): DataFrame = {
    // leakage-safe splits: near-dup clusters (portable minhash-LSH pairs
    // → CC) are split as a UNIT, so no fuzzy duplicate of an eval doc
    // ever lands in train; singletons fall back to their own id — the
    // whole assignment is the same md5 bucket rule as d_train_split
    val docs = t(s, dir, "documents")
    Splits.leakageSafeSplit(docs, "doc_id", portableNearDupPairs(docs))
      .orderBy(col("doc_id"))
  }

  private def dedupFuzzyPortable(s: SparkSession, dir: String): DataFrame = {
    // the composed fuzzy-dedup pipeline, engine-portable end to end:
    // md5 minhash signatures → 4 LSH bands → in-bucket candidate pairs →
    // exact-Jaccard verify on candidates only → connected components →
    // keep the highest-token-count member per cluster. Same composition
    // as d_dedup_fuzzy (whose xxhash64 buckets no other engine can
    // reproduce, so it grades rows-only); this md5 twin is hash-checked
    // against a DuckDB CTE chain, proving the COMPOSITION — not just each
    // stage — cross-engine.
    val docs = t(s, dir, "documents")
    val pairs = portableNearDupPairs(docs)
    val clusters = Dedup.connectedComponents(pairs)
    val quality = docs.select(col("doc_id").as("id"),
      TextAnalysis.tokenCount(col("text")).as("n_tokens"))
    Dedup.keepBest(clusters, quality, "n_tokens")
      .orderBy(col("cluster_id"))
  }

  private def dataCard(s: SparkSession, dir: String): DataFrame = {
    // the training-corpus "data card": per (lang, source) cell plus
    // per-lang and grand-total rollups in ONE aggregate over ONE scan —
    // docs, token mass, distinct content fingerprints, and the exact-dup
    // count (docs − distinct fp). All input columns are map-side (fused
    // TokenStats + the canonical md5 fingerprint), so the only shuffle
    // is the rollup aggregate itself; at 100 TB this is the one-pass
    // corpus report a curation run publishes alongside the data.
    val docs = t(s, dir, "documents").select(
      col("lang"), col("source"),
      TextAnalysis.tokenStats(col("text")).getField("n_tokens")
        .cast("long").as("ntok"),
      TextAnalysis.fingerprint(col("text")).as("fp"))
    docs.rollup(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("ntok")).as("n_tokens"),
        countDistinct(col("fp")).as("n_unique"),
        (count(lit(1)) - countDistinct(col("fp"))).as("n_dups"))
      .select(coalesce(col("lang"), lit("ALL")).as("lang"),
        coalesce(col("source"), lit("ALL")).as("source"),
        col("n_docs"), col("n_tokens"), col("n_unique"), col("n_dups"))
      .orderBy(col("lang"), col("source"))
  }

  private def unicodeNormalize(s: SparkSession, dir: String): DataFrame = {
    // NFC normalization before fingerprinting: canonically-equivalent
    // strings byte-differ un-normalized ("café" composed vs "cafe"+U+0301),
    // defeating exact dedup and splitting n-gram stats. Decomposed
    // sequences are PLANTED on every third doc (the urlDomains pattern —
    // the corpus itself is ASCII, NFC-invariant); the kernel's
    // isNormalized fast path means untouched rows pay one scan, zero
    // allocation. Map-side, zero shuffle.
    val dirty = when(pmod(col("doc_id"), lit(3)) === 0,
        concat(col("text"),
          lit(" cafe\u0301 nai\u0308ve Ange\u0301lique")))
      .otherwise(col("text"))
    t(s, dir, "documents")
      .select(col("doc_id"), dirty.as("__dirty"))
      .select(col("doc_id"),
        graft.functions.NormalizeNfc(col("__dirty")).as("nfc_text"),
        (graft.functions.NormalizeNfc(col("__dirty")) =!= col("__dirty"))
          .as("changed"))
      .orderBy(col("doc_id"))
  }

  private def chunkSliding(s: SparkSession, dir: String): DataFrame =
    // RAG-index preprocessing: overlapping 16-token windows every 8 tokens
    // over every doc — the chunk → embed → store front end. Map-side only
    // (tokenizer kernel + sequence explode + slice), zero shuffle: 100 TB
    // chunks in one scan with doc-local output. Sized to this corpus's
    // ~30-40 token docs so most emit 2-4 chunks (non-vacuous overlap).
    TextAnalysis.slidingChunks(t(s, dir, "documents"), "doc_id", "text",
        size = 16, stride = 8)
      .orderBy(col("doc_id"), col("chunk_id"))

  private def adaptiveQuality(s: SparkSession, dir: String): DataFrame =
    // per-source adaptive gate: every source drops ITS OWN bottom quarter
    // by token-count rank — the per-domain calibration step after the
    // absolute quality gates (a fixed min_tokens over-prunes terse
    // sources, under-prunes verbose ones). Rank-based integer cut, one
    // source-keyed shuffle.
    TextAnalysis.adaptiveQualityGate(t(s, dir, "documents"), "doc_id",
        "source", "text", dropFrac = 0.25)
      .withColumnRenamed("rank", "rnk")
      .orderBy(col("doc_id"))

  private def gopherRulesQuery(s: SparkSession, dir: String): DataFrame =
    // published MassiveText filter bundle over the corpus; minTokens
    // lowered to 30 so the verdict actually splits this corpus's ~30-40
    // token docs (the operator default keeps Gopher's 50)
    TextAnalysis.gopherRules(t(s, dir, "documents"), "doc_id", "text",
        minTokens = 30)
      .orderBy(col("doc_id"))

  private def gopherLinesQuery(s: SparkSession, dir: String): DataFrame = {
    // line-structured fixture derived deterministically from the
    // single-line documents corpus: L = 3 + doc_id % 4 words per line,
    // with planted boilerplate-repeat lines ((doc_id + i) % 6 == 0,
    // checked first), bullet lines (% 5 == 0) and ellipsis lines
    // (% 7 == 0) — every construction rule is integer arithmetic the
    // oracle recomputes verbatim before re-deriving the line rules.
    val L = lit(3) + pmod(col("doc_id"), lit(4))
    val tk = filter(split(trim(col("text")), "\\s+"), x => length(x) > 0)
    val nLines = ((size(col("tk")) + L - lit(1)) / L).cast("int")
    val lined = t(s, dir, "documents")
      .select(col("doc_id"), tk.as("tk"))
      .filter(size(col("tk")) > 0)
      .select(col("doc_id"),
        array_join(transform(sequence(lit(1), nLines), i => {
          val words = concat_ws(" ", slice(col("tk"), (i - lit(1)) * L + lit(1), L))
          when(pmod(col("doc_id") + i, lit(6)) === 0,
              lit("repeated boilerplate line"))
            .when(pmod(col("doc_id") + i, lit(5)) === 0, concat(lit("- "), words))
            .when(pmod(col("doc_id") + i, lit(7)) === 0, concat(words, lit(" ...")))
            .otherwise(words)
        }), "\n").as("text"))
    TextAnalysis.gopherLineRules(lined, "doc_id", "text")
      .orderBy(col("doc_id"))
  }

  private def simhashes(s: SparkSession, dir: String): DataFrame =
    Dedup.simhash(t(s, dir, "documents"), "doc_id", "text")
      .orderBy(col("id"))

  private def simhashNearDups(s: SparkSession, dir: String): DataFrame =
    Dedup.simhashNearDup(t(s, dir, "documents"), "doc_id", "text", maxHamming = 3)
      .orderBy(col("a"), col("b"))

  private def simhashBandingParity(s: SparkSession, dir: String): DataFrame = {
    // banding-losslessness elevated from RecallSpec to the GRADED surface:
    // over the SAME 64-bit xxhash simhashes, the 4-band pigeonhole pair
    // set at hamming <= 3 must EQUAL the all-pairs spelling — pigeonhole
    // makes banding exact (a pair differing in <= 3 of 64 bits cannot
    // touch all 4 bands), so the certificate is SQL-constant: zero
    // one-sided pairs, nonempty intersection. The quadratic all-pairs
    // side is the certificate's truth twin — an audit-SF cost like
    // d_minhash_error's, never the production path (which is the banded
    // spelling being certified).
    val hashes = Dedup.simhash(t(s, dir, "documents"), "doc_id", "text")
      .localCheckpoint()
    val banded = Dedup.bandedHammingPairs(hashes, "id", "simhash",
        maxHamming = 3)
      .select(col("a"), col("b"), col("hamming").as("__bh"))
    val ha = hashes.select(col("id").as("a"), col("simhash").as("__ha"))
    val hb = hashes.select(col("id").as("b"), col("simhash").as("__hb"))
    val allPairs = ha.join(hb, col("a") < col("b"))
      .withColumn("__ah", Dedup.hammingDistance(col("__ha"), col("__hb")))
      .filter(col("__ah") <= 3)
      .select(col("a"), col("b"), col("__ah"))
    // coalesce(…, 0): on a corpus with ZERO near-dup pairs the full_outer
    // join is empty and bare sums would emit NULL counts — an empty pair
    // set must grade as clean zeros, so the only possible divergence from
    // the constant oracle is has_pairs (the intentional nonempty signal).
    // n_value_mismatch extends the round-9 (a, b) identity check to the
    // emitted hamming VALUES: both sides recompute bit_count(xor) from the
    // same hash table, so any disagreement means the banded expansion
    // paired the wrong hash with an id.
    banded.join(allPairs, Seq("a", "b"), "full_outer")
      .agg(
        coalesce(sum(when(col("__ah").isNull, 1L).otherwise(0L)), lit(0L))
          .as("n_only_banded"),
        coalesce(sum(when(col("__bh").isNull, 1L).otherwise(0L)), lit(0L))
          .as("n_only_allpairs"),
        coalesce(sum(when(col("__bh") =!= col("__ah"), 1L).otherwise(0L)),
          lit(0L)).as("n_value_mismatch"),
        (count(lit(1)) > 0).as("has_pairs"))
  }

  private def simhashKernelParity(s: SparkSession, dir: String): DataFrame = {
    // the PRODUCTION 64-bit sketch certified against an independent
    // relational spelling of its own definition: per token, Spark's
    // xxhash64 (seed 42 — the same hash family the compiled SimHash64
    // kernel calls) votes ±1 on each of the 64 bit positions; per-doc
    // vote sums assemble the hash bit-by-bit. Kernel and twin must agree
    // on EVERY doc — an exact theorem (same hash, same votes, same sign
    // rule), so the constant grades at any SF or regenerated corpus,
    // unlike a cross-hash-family pair-set pin (measured: pair (26, 455)
    // sits at jaccard 0.90 with 64-bit hamming 4 — the hamming 3/4
    // boundary carries NO margin, so xxhash64-vs-md5 equivalence would be
    // corpus luck, the exact brittleness the HLL cert shed this round).
    // This closes the audit gap on d_simhash's rows-only grading: the
    // sketch VALUES are now certificate-pinned, the raw table stays
    // no_oracle only because DuckDB has no xxhash64 to replay them.
    // Audit-SF cost by design: the twin shuffles 64 vote sums per doc —
    // the exact shape the kernel exists to avoid in production.
    val docs = t(s, dir, "documents")
    val kern = Dedup.simhash(docs, "doc_id", "text")
    val toks = docs.select(col("doc_id").as("id"),
        explode(Dedup.shingles(col("text"), 1)).as("tok"))
      .select(col("id"), xxhash64(col("tok")).as("__h"))
    val voteCols = (0 until 64).map(b =>
      sum(when(shiftrightunsigned(col("__h"), b).bitwiseAND(lit(1L)) === 1L, 1)
        .otherwise(-1)).as(s"__v$b"))
    val rel = toks.groupBy(col("id"))
      .agg(voteCols.head, voteCols.tail: _*)
      .select(col("id"), (0 until 64).map(b =>
          when(col(s"__v$b") > 0, lit(1L << b)).otherwise(lit(0L)))
        .reduce(_ bitwiseOR _).as("__rel"))
    kern.join(rel, Seq("id"), "full_outer")
      .agg(count(lit(1)).as("n_docs"),
        coalesce(sum(when(col("simhash").isNull || col("__rel").isNull ||
          col("simhash") =!= col("__rel"), 1L).otherwise(0L)), lit(0L))
          .as("n_mismatch"))
  }

  private def annBruteForce(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 10),
        "vec_id", "embedding", k = 5)
      .withColumnRenamed("rank", "rnk")
      .orderBy(col("q_id"), col("rnk"))
  }

  private def mutualKnnQuery(s: SparkSession, dir: String): DataFrame = {
    // reciprocal top-5 pairs over the whole embedding set, EXACT-TRUTH
    // twin: brute-force lists feed the mutual filter. This spelling is
    // the recall yardstick for s_mutual_knn_stored (the production path)
    // — the cartesian is the price of exactness, paid only at audit SF.
    // spread: the brute-force distance grid is pure per-pair map work off
    // a 1-row-group scan; A/B'd at -3.4 s (OPTIMIZATION_r15.md §E2)
    val emb = tSpread(s, dir, "embeddings")
    Similarity.mutualTopK(
        Similarity.bruteForceTopK(emb, emb, "vec_id", "embedding", k = 5))
      .orderBy(col("a"), col("b"))
  }

  private def mutualKnnStored(s: SparkSession, dir: String): DataFrame = {
    // PRODUCTION mutual-kNN: every row's top-5 list comes from the
    // centroid-partitioned IVF layout via ivfSelfTopK — a SHUFFLE
    // equi-join on centroid_id (no broadcast, no cartesian; work is
    // Σ_cluster |members|×|probers|), then the same list-space mutual
    // filter over N·k ranked rows. Portable first-8-unit-vector coarse
    // codebook, so the DuckDB twin recomputes assignment, probes, scores,
    // and the reciprocal join exactly; the trained-codebook path is the
    // same code seeded by kmeansLocal, recall-pinned by RecallSpec vs the
    // brute-force truth (s_mutual_knn).
    val (path, unitSeeds) = first8UnitIvfStore(s, dir)
    Similarity.mutualTopK(
        Similarity.ivfSelfTopK(s.read.parquet(path), "vec_id", "embedding",
          k = 5, coarse = unitSeeds, nprobe = 3))
      .orderBy(col("a"), col("b"))
  }

  /** The unit-normalized embeddings of the first `n` vec_ids, in id order
    * — the portable seed rule every hash-checked ANN row shares (DuckDB
    * reproduces it verbatim). The collect is `n` rows, bounded at any
    * corpus size. */
  private def firstUnitSeeds(emb: DataFrame, n: Int): Seq[Seq[Double]] =
    emb.filter(col("vec_id") < n).orderBy(col("vec_id"))
      .select(col("embedding").cast("array<double>"))
      .collect().map(_.getSeq[Double](0).toSeq).toSeq
      .map { v =>
        val norm = math.sqrt(v.map(x => x * x).sum)
        if (norm == 0.0) v else v.map(_ / norm)
      }

  /** The shared first-8-unit-seed IVF layout (the s_ann_ivf_stored
    * store): ensures the physical centroid-partitioned store exists under
    * the layout cache and returns (path, unit coarse seeds). One
    * definition so the four rows riding this store (mutual-kNN, stored
    * probe, both hybrid legs) can never drift apart on seed or path
    * construction. */
  private def first8UnitIvfStore(s: SparkSession,
                                 dir: String): (String, Seq[Seq[Double]]) = {
    val emb = t(s, dir, "embeddings")
    val unitSeeds = firstUnitSeeds(emb, 8)
    val path = layoutPath(dir, "ivfstore", "coarse=first8unit")
    if (!Layout.indexExists(s, path))
      Similarity.writeIvfStore(emb, "vec_id", "embedding", unitSeeds, path)
    (path, unitSeeds)
  }

  private def labelTermsQuery(s: SparkSession, dir: String): DataFrame = {
    // c-TF-IDF topic labeling (BERTopic's labeling step) across the
    // text↔embedding modality join: per embedding label, the top-3 terms
    // by exact-integer (class tf · 10^6) div corpus df — concentrated
    // terms rise, boilerplate divides away, no float ever materializes
    val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
    val labels = t(s, dir, "embeddings")
      .select(col("vec_id").as("doc_id"), col("label"))
    Retrieval.classTopTerms(docs.join(labels, "doc_id"), "label", "text",
        topK = 3)
      .orderBy(col("cls"), col("rank"))
  }

  private def kmeansLloydQuery(s: SparkSession, dir: String): DataFrame =
    // distributed Lloyd k-means, EXACT-INTEGER spelling (k=4, 2 update
    // rounds, seeds = vec_id < 4): offset-ppm quantization cancels in
    // every distance, keeps centroid floor-divisions non-negative
    // (truncate ≡ floor cross-engine), and bounds dist² under 2^53 so a
    // float-dot-product engine lands on the identical integers. The
    // assignment is a map-side least-of-structs over centroid literals
    // — the corpus never shuffles; updates collect k·d cells.
    Clustering.kmeans(t(s, dir, "embeddings"), "vec_id", "embedding",
        k = 4, iters = 2)
      .orderBy(col("vec_id"))

  private def centroidDriftQuery(s: SparkSession, dir: String): DataFrame =
    Similarity.centroidDrift(t(s, dir, "embeddings"), "vec_id", "embedding",
        "label")
      .orderBy(col("label"))

  private def chi2Query(s: SparkSession, dir: String): DataFrame =
    // is source confounded with language? the corpus-composition
    // independence check in exact integers + one double division per cell
    TextAnalysis.independenceAudit(t(s, dir, "documents"), "lang", "source")

  private def embedMatryoshka(s: SparkSession, dir: String): DataFrame = {
    // Matryoshka / adaptive retrieval: score with only the FIRST HALF of
    // the embedding dims (32 of 64) — the cheap first pass of a
    // truncate-then-rerank pipeline (half the bytes scanned, half the
    // multiply-adds; at 100 TB of vectors that halves the scan before
    // any index even enters). Same brute-force chain, dims sliced
    // map-side; recall vs the full-dim ranking is RecallSpec's pin.
    val emb = t(s, dir, "embeddings").select(col("vec_id"),
      slice(col("embedding").cast("array<double>"), 1, 32).as("embedding"))
    Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 10),
        "vec_id", "embedding", k = 5)
      .withColumnRenamed("rank", "rnk")
      .orderBy(col("q_id"), col("rnk"))
  }

  private def annInt8Query(s: SparkSession, dir: String): DataFrame = {
    // integer-exact quantized retrieval: int8 codes (round(127·v/max|v|)
    // per vector), EXACT BIGINT dot-product scores — the one ANN family
    // whose entire chain replays in SQL with zero float tolerance
    val emb = t(s, dir, "embeddings")
    Similarity.int8TopK(emb, emb.filter(col("vec_id") < 10),
        "vec_id", "embedding", k = 5)
      .orderBy(col("q_id"), col("rnk"))
  }

  private def annInt8StoredQuery(s: SparkSession, dir: String): DataFrame = {
    // s_ann_int8 over the WRITE-ONCE code store: the corpus side reads
    // 8-bit codes (a quarter of the float bytes), queries quantize
    // inline — row-identical to the inline spelling, same oracle
    val path = layoutPath(dir, "int8store", "scale=l2x127,parts=8")
    if (!Layout.indexExists(s, path))
      Similarity.writeInt8Store(t(s, dir, "embeddings"), "vec_id",
        "embedding", path)
    Similarity.int8TopKStored(s.read.parquet(path),
        t(s, dir, "embeddings").filter(col("vec_id") < 10),
        "vec_id", "embedding", k = 5)
      .orderBy(col("q_id"), col("rnk"))
  }

  private def annRecallQuery(s: SparkSession, dir: String): DataFrame = {
    // the recall measurement itself as a graded artifact: per query,
    // recall@5 of the stored-layout IVF (portable seed codebook, DPP
    // probe pruning) against the exact brute-force top-5 — the number a
    // production ANN deployment watches; both sides and the overlap are
    // recomputed end to end by the oracle
    val ivf = annIvfStored(s, dir).select(col("q_id"), col("c_id"))
    val bf = annBruteForce(s, dir).select(col("q_id"), col("c_id"))
    val hits = bf.join(ivf, Seq("q_id", "c_id"), "left_semi")
      .groupBy(col("q_id")).agg(count(lit(1)).as("n_hit"))
    bf.select(col("q_id")).distinct()
      .join(hits, Seq("q_id"), "left")
      .select(col("q_id"), coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        round(coalesce(col("n_hit"), lit(0L)).cast("double") / lit(5.0), 4)
          .as("recall_at_5"))
      .orderBy(col("q_id"))
  }

  private def ngramJaccard(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
      .select(col("doc_id"),
        array_distinct(Dedup.shingles(col("text"), 3)).as("ss"),
        TextAnalysis.tokenCount(col("text")).as("ntok"))
      .filter(col("ntok") >= 3)
    val a = d.select(col("doc_id").as("a"), col("ss").as("sa"))
    val b = d.select(col("doc_id").as("b"), col("ss").as("sb"))
    a.join(b, col("b") === col("a") + 1)
      .withColumn("inter", size(array_intersect(col("sa"), col("sb"))))
      .select(col("a"), col("b"),
        round(col("inter").cast("double") /
          (size(col("sa")) + size(col("sb")) - col("inter")), 4).as("jaccard"))
      .orderBy(col("a"))
  }

  private def embedNearDup(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings").filter(col("vec_id") < 300)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val a = e.select(col("vec_id").as("a"), col("v").as("va"))
    val b = e.select(col("vec_id").as("b"), col("v").as("vb"))
    a.join(b, col("a") < col("b"))
      .select(col("a"), col("b"),
        Similarity.fastCosine(col("va"), col("vb")).as("sim"))
      .filter(col("sim") >= 0.35)
      .select(col("a"), col("b"), round(col("sim"), 4).as("sim"))
      .orderBy(col("a"), col("b"))
  }

  private def embedNearDupBucketed(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    // same deterministic 8-vector codebook as annIvf; real pipelines sample
    // k-means centroids — the blocking machinery is identical either way
    val centroids = emb.filter(col("vec_id") < 8).orderBy(col("vec_id"))
      .select(col("embedding").cast("array<double>"))
      .collect().map(_.getSeq[Double](0).toSeq).toSeq
    Similarity.nearDupByCentroid(emb.filter(col("vec_id") < 300),
        "vec_id", "embedding", centroids, threshold = 0.35, nprobe = 4)
      .orderBy(col("a"), col("b"))
  }

  private def embedNearDupLsh(s: SparkSession, dir: String): DataFrame =
    // codebook-free blocking path (sign-LSH); rows-only — the seeded
    // Gaussian hyperplanes are not SQL-expressible, and LSH recall is
    // probabilistic by design (the exact pair set is covered by
    // s_embed_neardup / s_embed_neardup_bucketed oracles)
    Similarity.nearDupBySignLsh(
        t(s, dir, "embeddings").filter(col("vec_id") < 300),
        "vec_id", "embedding", dims = 64, threshold = 0.35)
      .orderBy(col("a"), col("b"))

  private def embedClusters(s: SparkSession, dir: String): DataFrame =
    // pairs → dedup groups: connected components over the near-dup graph
    // (transitive closure the pairwise output lacks); the pair set comes
    // from the bucketed scale path, proven identical to all-pairs here
    Dedup.connectedComponents(
        embedNearDupBucketed(s, dir).select(col("a"), col("b")))
      .orderBy(col("id"))

  private def embedKeepers(s: SparkSession, dir: String): DataFrame = {
    // canonical selection closing the dedup loop: per near-dup cluster keep
    // the best-scoring member (here: largest vector norm, rounded so both
    // engines rank identical values; ties break to smallest id)
    val labels = embedClusters(s, dir)
    val norms = t(s, dir, "embeddings").filter(col("vec_id") < 300)
      .select(col("vec_id").as("id"),
        round(graft.functions.VectorFunctions.vector_norm(
          col("embedding").cast("array<double>")), 4).as("norm"))
    Dedup.keepBest(labels, norms, "norm").orderBy(col("cluster_id"))
  }

  /** The trained coarse codebook behind the headline IVF family:
    * deterministic codebook — seed with the first 8 vectors, then Lloyd-
    * refine on the DRIVER over a training sample collected once
    * (FAISS-style; one collect instead of 2×iters distributed passes —
    * the quantizer only needs density structure). The sample is the
    * 8192 smallest rows by a deterministic hash order (seed ids sort
    * first) — a per-partition top-k (TakeOrderedAndProject), so the
    * driver collect stays bounded at ANY corpus size in ONE pass: no
    * up-front count job sizing a modulus (at 100 TB that count was a
    * full metadata scan before every codebook build). Driver-side
    * re-sort by id makes the training fold order — and therefore the
    * centroids — independent of which partition served each row; at
    * bench SFs the whole (tiny) table trains, which RecallSpec pins at
    * recall@5 >= 0.9 vs the brute-force oracle.
    */
  private def trainedIvfCentroids(emb: DataFrame): Seq[Seq[Double]] = {
    val sortKey = when(col("vec_id") < 8, lit(-1L))
      .otherwise(pmod(xxhash64(col("vec_id")), lit(1000000007L)))
    val training = emb
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .orderBy(sortKey, col("vec_id"))
      .limit(8192)
      .collect().map(r => r.getAs[Long](0) -> r.getSeq[Double](1).toSeq)
      .sortBy(_._1)
    val seed = training.takeWhile(_._1 < 8).map(_._2).toSeq
    Similarity.kmeansLocal(training.map(_._2).toSeq, seed,
      iters = 5, spherical = true)
  }

  private def annIvf(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    Similarity.ivfTopK(emb, emb.filter(col("vec_id") < 10),
        "vec_id", "embedding", k = 5, trainedIvfCentroids(emb), nprobe = 3)
      .withColumnRenamed("rank", "rnk")
      .orderBy(col("q_id"), col("rnk"))
  }

  private def annIvfParity(s: SparkSession, dir: String): DataFrame = {
    // the graded equality pin for the trained (non-SQL-expressible) IVF
    // path: the SAME kmeans codebook drives both the flat in-query IVF
    // and the centroid-partitioned stored layout; per query, how many of
    // the top-5 rows agree exactly (c_id AND rank AND bit-identical
    // score). Both paths are deterministic, so the oracle is the fixed
    // certificate (5 of 5 for each of the 10 queries) — a pruning or
    // layout bug that changed a single stored row breaks the hash.
    val emb = t(s, dir, "embeddings")
    val centroids = trainedIvfCentroids(emb)
    val flat = Similarity.ivfTopK(emb, emb.filter(col("vec_id") < 10),
      "vec_id", "embedding", k = 5, centroids, nprobe = 3)
    val path = layoutPath(dir, "ivftrained", "coarse=kmeans8x5,probe=3")
    if (!Layout.indexExists(s, path))
      Similarity.writeIvfStore(emb, "vec_id", "embedding", centroids, path)
    val stored = Similarity.ivfTopKStored(s.read.parquet(path),
      emb.filter(col("vec_id") < 10), "vec_id", "embedding",
      k = 5, coarse = centroids, nprobe = 3)
    val a = flat.select(col("q_id"), col("rank"),
      col("c_id").as("a_c"), col("sim").as("a_s"))
    val b = stored.select(col("q_id"), col("rank"),
      col("c_id").as("b_c"), col("sim").as("b_s"))
    a.join(b, Seq("q_id", "rank"), "full_outer")
      .groupBy(col("q_id"))
      .agg(count(lit(1)).as("n_rows"),
        sum((col("a_c") === col("b_c") && col("a_s") === col("b_s"))
          .cast("bigint")).as("n_agree"))
      .orderBy(col("q_id"))
  }

  /** Id-partitioned full-precision vector store for the PQ/IVF-PQ re-rank
    * fetch ([[Similarity.writeVectorStore]]): written once per SF dir
    * (ingest-time layout, skipped when the _SUCCESS marker exists), then
    * every re-rank joins its broadcast shortlist on (vs_part, id) so DPP
    * prunes the fetch to the shortlist's directories instead of scanning
    * the whole corpus.
    */
  /** Cache path for an ingest-time physical layout, keyed on the SF dir,
    * the layout config, AND the source table's modification time — a
    * regenerated embeddings table or a changed layout parameter yields a
    * different digest, so a stale physical layout (wrong re-rank vectors,
    * wrong centroid assignment) can never be silently reused; the old dir
    * just stops being referenced.
    */
  /** Where ingest-time layouts live: the local tmpdir by default (the
    * test harness), or `SPARK_GRAFT_LAYOUT_DIR` — point it at a cluster
    * filesystem (`hdfs://...`, `s3a://...`) in a real deployment. Every
    * path built here is resolved through the Hadoop FileSystem API
    * ([[Layout.indexExists]]), so URI schemes work unchanged.
    */
  private lazy val layoutRoot: String =
    sys.env.getOrElse("SPARK_GRAFT_LAYOUT_DIR",
      System.getProperty("java.io.tmpdir")).stripSuffix("/")

  private def layoutPath(dir: String, kind: String, config: String,
                         srcTable: String = "embeddings.parquet"): String = {
    val src = new org.apache.hadoop.fs.Path(dir, srcTable)
    val fs = src.getFileSystem(
      SparkSession.active.sparkContext.hadoopConfiguration)
    val mtime =
      if (fs.exists(src)) fs.getFileStatus(src).getModificationTime.toString
      else "missing"
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$dir|$config|$mtime".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(12)
    s"$layoutRoot/graft_${kind}_$digest"
  }

  private def vectorStore(s: SparkSession, dir: String): (DataFrame, Int) = {
    val parts = 16
    val path = layoutPath(dir, "vecstore", s"parts=$parts")
    if (!Layout.indexExists(s, path))
      Similarity.writeVectorStore(t(s, dir, "embeddings"), "vec_id", "embedding",
        path, parts)
    // parts comes back from the persisted layout config, not the literal
    // above — the probe-side pmod can never drift from the physical layout
    Similarity.readVectorStore(s, path)
  }

  private def annPq(s: SparkSession, dir: String): DataFrame = {
    // Product-quantization ANN, PORTABLE spelling: the codebooks are the
    // unit-normalized sub-vectors of the 16 first corpus rows (a
    // deterministic rule DuckDB reproduces verbatim), so the WHOLE chain —
    // encode (argmin sub-distance, index tie-break) → ADC shortlist →
    // exact-cosine re-rank — is hash-checkable against the SQL twin. The
    // production path trains per-subspace k-means codebooks instead
    // (Similarity.pqTrain, pinned by RecallSpec at recall@5 >= 0.9);
    // everything downstream of the codebook is the same code. The seed
    // collect is 16 rows — bounded at any corpus size.
    val emb = t(s, dir, "embeddings")
    val (_, codebooks) = pqPortableCodebooks(emb)
    Similarity.pqTopK(emb, emb.filter(col("vec_id") < 10),
        "vec_id", "embedding", k = 5, codebooks, shortlist = 50,
        vectorStore = Some(vectorStore(s, dir)))
      .withColumnRenamed("rank", "rnk")
      .orderBy(col("q_id"), col("rnk"))
  }

  private def annIvfPq(s: SparkSession, dir: String): DataFrame = {
    // IVF-PQ composition, PORTABLE spelling: coarse codebook = the 8 first
    // unit vectors, PQ codebooks = sub-vectors of the 16 first (both rules
    // DuckDB reproduces), so coarse assign → probe pruning → ADC shortlist
    // → exact re-rank is hash-checked end to end. The trained path
    // (kmeansLocal coarse + pqTrain codes) is gated by RecallSpec.
    val emb = t(s, dir, "embeddings")
    val (coarse, codebooks) = pqPortableCodebooks(emb)
    Similarity.ivfPqTopK(emb, emb.filter(col("vec_id") < 10),
        "vec_id", "embedding", k = 5, coarse = coarse, codebooks,
        nprobe = 3, shortlist = 50, vectorStore = Some(vectorStore(s, dir)))
      .withColumnRenamed("rank", "rnk")
      .orderBy(col("q_id"), col("rnk"))
  }

  private def annIvfStored(s: SparkSession, dir: String): DataFrame = {
    // exact-cosine IVF over the PHYSICAL centroid-partitioned layout:
    // probe pruning is directory pruning (DPP on centroid_id, like the
    // PQ re-rank store). PORTABLE spelling — coarse codebook = the 8
    // first unit vectors, so assignment, probes, and scores are all
    // recomputed by the DuckDB twin; the trained-codebook path is the
    // same code with kmeansLocal seeds, gated by RecallSpec.
    val (path, unitSeeds) = first8UnitIvfStore(s, dir)
    Similarity.ivfTopKStored(s.read.parquet(path),
        t(s, dir, "embeddings").filter(col("vec_id") < 10), "vec_id",
        "embedding", k = 5, coarse = unitSeeds, nprobe = 3)
      .withColumnRenamed("rank", "rnk")
      .orderBy(col("q_id"), col("rnk"))
  }

  /** The portable two-level codebook both ivf2 rows freeze: tops = the
    * first 3 unit vectors, children of each top = its 3 smallest-vec_id
    * members under top assignment (seeded through the SAME kernel the
    * write/probe path uses — each top owning itself makes the kernel the
    * flat argmin over tops). Relationally replayable, so the DuckDB twin
    * reproduces seeding, both assignment levels, probes, and scores.
    */
  private def ivf2PortableCodebook(emb: DataFrame): Similarity.TwoLevelCodebook = {
    val unit = Similarity.normalized(emb.select(col("vec_id"),
      col("embedding").cast("array<double>").as("__u")), "__u")
    val tops = unit.filter(col("vec_id") < 3).orderBy(col("vec_id"))
      .select(col("__u")).collect().map(_.getSeq[Double](0).toSeq).toSeq
    val topAssigned = unit.withColumn("__top",
      element_at(graft.functions.VectorFunctions.two_level_probes(
        col("__u"), tops, tops.map(Seq(_)), 1, 1), 1))
    val wKid = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__top")).orderBy(col("vec_id"))
    val kidRows = topAssigned.withColumn("__rn", row_number().over(wKid))
      .filter(col("__rn") <= 3)
      .select(col("__top"), col("__rn"), col("__u"))
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toSeq))
    val byTop = kidRows.groupBy(_._1)
    val children = tops.indices.map(t =>
      byTop.getOrElse(t, Array.empty[(Int, Int, Seq[Double])])
        .sortBy(_._2).map(_._3).toSeq)
    Similarity.TwoLevelCodebook(tops, children)
  }

  private def annIvf2Stored(s: SparkSession, dir: String): DataFrame = {
    // HIERARCHICAL (two-level) stored ANN — the past-the-clamp regime of
    // the √N codebook policy made queryable: assignment and probes visit
    // the nearest TOPS then only their children (O(2√C·d) per row via
    // the codegen'd TwoLevelProbes kernel), and the layout partitions by
    // the GLOBAL child id so probe pruning stays directory pruning.
    // PORTABLE codebook spelling (ivf2PortableCodebook) so the DuckDB
    // twin replays the full hierarchy; the auto-sized production
    // codebook (autoTwoLevelCodebook) is the same kernel seeded by
    // hash-stride + share-split, recall-gated by RecallSpec and
    // ScaleProbed blind. This row DELIBERATELY re-derives the codebook
    // per call (a full-corpus window at this row's ~0.5 s share) — it
    // grades the built-codebook path; s_ann_ivf2_persisted is the
    // production re-attach spelling that reads the frozen geometry from
    // disk instead.
    val emb = t(s, dir, "embeddings")
    val cb = ivf2PortableCodebook(emb)
    val path = layoutPath(dir, "ivf2store", "tops=first3unit,kids=min3id,v1")
    if (!Layout.indexExists(s, path))
      Similarity.writeIvfStoreTwoLevel(emb, "vec_id", "embedding", cb, path)
    Similarity.ivfTopKStoredTwoLevel(s.read.parquet(path),
        emb.filter(col("vec_id") < 10), "vec_id", "embedding",
        k = 5, cb, nprobeTop = 2, nprobe = 3)
      .withColumnRenamed("rank", "rnk")
      .orderBy(col("q_id"), col("rnk"))
  }

  private def annIvf2Persisted(s: SparkSession, dir: String): DataFrame = {
    // the CROSS-SESSION re-attach of the two-level store: the codebook
    // is persisted INSIDE the layout (writeCodebookAt — the ivf-index
    // sink's build path) and the query probes with the codebook READ
    // BACK FROM DISK, never the in-memory object it was built from. At
    // 100 TB this is the difference between re-attaching an index and
    // re-scanning the corpus to re-derive its geometry (any derivation
    // drift would silently mis-home every directory — the pairing
    // discipline made durable). Parquet DOUBLEs round-trip bit-exact,
    // so the reloaded probes match the built ones row for row: the
    // s_ann_ivf2_stored oracle grades this row unchanged.
    val emb = t(s, dir, "embeddings")
    val path = layoutPath(dir, "ivf2persist", "tops=first3unit,kids=min3id,cbv1")
    if (!Layout.indexExists(s, s"$path/_graft_codebook")) {
      val cb = ivf2PortableCodebook(emb)
      Similarity.writeIvfStoreTwoLevel(emb, "vec_id", "embedding", cb, path)
      Similarity.writeCodebookAt(s, path, cb)
    }
    val reloaded = Similarity.readTwoLevelCodebookAt(s, path)
    Similarity.ivfTopKStoredTwoLevel(s.read.parquet(path),
        emb.filter(col("vec_id") < 10), "vec_id", "embedding",
        k = 5, reloaded, nprobeTop = 2, nprobe = 3)
      .withColumnRenamed("rank", "rnk")
      .orderBy(col("q_id"), col("rnk"))
  }

  private def annForgetStored(s: SparkSession, dir: String): DataFrame = {
    // right-to-erasure for the VECTOR store: tombstones (vec_id % 7 = 3)
    // compact the centroid-partitioned layout IN PLACE — only directories
    // holding a tombstoned row rewrite (dynamic partition overwrite),
    // fully-emptied directories are removed, the codebook stays frozen
    // (deletion never retrains geometry). The oracle replays REBUILD
    // semantics — the same IVF chain over the surviving corpus with the
    // same frozen first-8-unit codebook — so the hash match IS the proof
    // that in-place compaction ≡ rebuild (the d_index_forget theorem,
    // applied to the ANN layout). Idempotent across runs: a compacted
    // store hits no tombstones and skips.
    val emb = t(s, dir, "embeddings")
    val unitSeeds = firstUnitSeeds(emb, 8)
    val path = layoutPath(dir, "ivfforget", "coarse=first8unit,tomb=mod7eq3,v1")
    if (!Layout.indexExists(s, path))
      Similarity.writeIvfStore(emb, "vec_id", "embedding", unitSeeds, path)
    Similarity.forgetIvfStoreAt(s, path,
      emb.filter(col("vec_id") % 7 === 3).select(col("vec_id")), "vec_id")
    Similarity.ivfTopKStored(s.read.parquet(path),
        emb.filter(col("vec_id") < 10 && col("vec_id") % 7 =!= 3),
        "vec_id", "embedding", k = 5, coarse = unitSeeds, nprobe = 3)
      .withColumnRenamed("rank", "rnk")
      .orderBy(col("q_id"), col("rnk"))
  }

  private def annIvfFiltered(s: SparkSession, dir: String): DataFrame = {
    // FILTERED vector search — the vector-store feature every retrieval
    // stack needs beyond plain ANN: top-k under an attribute predicate
    // (here label <= 3, the "only this tenant/language/category" shape).
    // PRE-filtering over the metadata-carrying IVF layout: the predicate
    // lands in the store scan (parquet-pushed, composing with the
    // centroid-directory probe pruning), so the top-k is taken over
    // valid candidates only and every query fills k slots whenever the
    // probed directories hold k matching rows. The post-filter
    // alternative underfetches (< k valid rows) — pinned by spec.
    // Same portable first-8-unit-vector codebook as s_ann_ivf_stored, so
    // the DuckDB twin recomputes assignment, probes, and scores exactly.
    val emb = t(s, dir, "embeddings")
    val unitSeeds = firstUnitSeeds(emb, 8)
    val path = layoutPath(dir, "ivfmetastore", "coarse=first8unit,meta=label")
    if (!Layout.indexExists(s, path))
      Similarity.writeIvfStore(emb, "vec_id", "embedding", unitSeeds, path,
        metaCols = Seq("label"))
    Similarity.ivfTopKStoredFiltered(s.read.parquet(path),
        emb.filter(col("vec_id") < 10), "vec_id", "embedding",
        k = 5, coarse = unitSeeds, candFilter = col("label") <= 3,
        nprobe = 3)
      .withColumnRenamed("rank", "rnk")
      .orderBy(col("q_id"), col("rnk"))
  }

  private def semDedupQuery(s: SparkSession, dir: String): DataFrame = {
    // SemDeDup over the neardup family's 300-vector slice: coarse
    // codebook = the 8 first unit vectors (the portable s_ann_ivf_stored
    // spelling, so cluster assignment, centroid cosine, and every
    // in-cluster pairwise cosine are recomputed by the DuckDB twin);
    // eps matches the family's 0.35 near-dup threshold. Cap off to
    // mirror the uncapped oracle; the production cap is SemDedupSpec's.
    val emb = t(s, dir, "embeddings").filter(col("vec_id") < 300)
    val unitSeeds = firstUnitSeeds(emb, 8)
    Similarity.semDedup(emb, "vec_id", "embedding", unitSeeds, eps = 0.35)
      .withColumnRenamed("id", "vec_id")
      .orderBy(col("vec_id"))
  }

  /** The portable PQ geometry pair both ivfpq stored rows freeze: coarse
    * router = first 8 unit vectors, m=8 subquantizers with k=16 centroids
    * sliced from the first 16 unit vectors — relationally replayable, so
    * the shared ivfPqTwinSql oracle reproduces encode, ADC, and re-rank.
    */
  private def pqPortableCodebooks(
      emb: DataFrame): (Seq[Seq[Double]], Seq[Seq[Seq[Double]]]) = {
    val unitSeeds = firstUnitSeeds(emb, 16)
    val sub = unitSeeds.head.size / 8
    val codebooks = (0 until 8).map(s0 =>
      unitSeeds.map(_.slice(s0 * sub, (s0 + 1) * sub)))
    (unitSeeds.take(8), codebooks)
  }

  private def annIvfPqStored(s: SparkSession, dir: String): DataFrame = {
    // IVF-PQ over the PHYSICAL stored layouts: the codes-only PQ index
    // written once partitioned by coarse centroid (Similarity.writePqStore
    // — no per-query corpus re-encode, the round-6 "index build inside
    // the query path" cost closed), probe pruning as DPP directory
    // pruning on that codes store, exact re-rank against the
    // id-partitioned vector store. Same PORTABLE first-8/first-16 seed
    // codebooks as annIvfPq, so this is hash-checked by the SAME oracle
    // and pinned row-identical to the flat path by PlanAuditSpec.
    val emb = t(s, dir, "embeddings")
    val (coarse, codebooks) = pqPortableCodebooks(emb)
    val path = layoutPath(dir, "pqstore", "m=8,k=16,coarse=first8unit")
    if (!Layout.indexExists(s, path))
      Similarity.writePqStore(emb, "vec_id", "embedding",
        coarse, codebooks, path)
    Similarity.ivfPqTopKStored(s.read.parquet(path),
        emb.filter(col("vec_id") < 10), "vec_id", "embedding",
        k = 5, coarse, codebooks,
        vectorStore = vectorStore(s, dir), nprobe = 3, shortlist = 50)
      .withColumnRenamed("rank", "rnk")
      .orderBy(col("q_id"), col("rnk"))
  }

  private def annIvfPqPersisted(s: SparkSession, dir: String): DataFrame = {
    // the PQ re-attach: codes are INDEXES into the subquantizer
    // centroids, so a PQ store is unreadable without the exact
    // geometries that encoded it — this row persists BOTH (coarse router
    // + m subquantizer codebooks, Similarity.writePqCodebooksAt) inside
    // the codes layout and probes with the pair READ BACK FROM DISK.
    // Bit-exact DOUBLE round-trip ⇒ identical ADC tables and identical
    // re-rank, so the shared ivfPqTwinSql oracle grades it unchanged.
    val emb = t(s, dir, "embeddings")
    val path = layoutPath(dir, "pqpersist", "m=8,k=16,coarse=first8unit,cbv1")
    if (!Layout.indexExists(s, s"$path/_graft_codebook")) {
      val (coarse, codebooks) = pqPortableCodebooks(emb)
      Similarity.writePqStore(emb, "vec_id", "embedding", coarse,
        codebooks, path)
      Similarity.writePqCodebooksAt(s, path, coarse, codebooks)
    }
    val (coarse, codebooks) = Similarity.readPqCodebooksAt(s, path)
    Similarity.ivfPqTopKStored(s.read.parquet(path),
        emb.filter(col("vec_id") < 10), "vec_id", "embedding",
        k = 5, coarse, codebooks,
        vectorStore = vectorStore(s, dir), nprobe = 3, shortlist = 50)
      .withColumnRenamed("rank", "rnk")
      .orderBy(col("q_id"), col("rnk"))
  }

  private def annIvfPq2Stored(s: SparkSession, dir: String): DataFrame = {
    // TWO-LEVEL IVF-PQ — the past-the-clamp PQ composition: the codes
    // store is routed by the hierarchical quantizer (assignment and
    // probes O(2√C·d) via the TwoLevelProbes kernel, so C tracks √N to
    // billions of vectors) while each stored row stays 8 bytes of PQ
    // codes; ADC shortlist + exact re-rank against the id-partitioned
    // vector store are the flat path's verbatim. PORTABLE geometry on
    // BOTH levels (first-3-unit tops / min-3-id children router,
    // first-16 sliced subquantizers) so the DuckDB twin replays routing,
    // encode, ADC, and re-rank end to end.
    val emb = t(s, dir, "embeddings")
    val cb = ivf2PortableCodebook(emb)
    val (_, codebooks) = pqPortableCodebooks(emb)
    val path = pq2StorePath(s, dir, geom = Some((cb, codebooks)))
    Similarity.ivfPqTopKStoredTwoLevel(s.read.parquet(path),
        emb.filter(col("vec_id") < 10), "vec_id", "embedding",
        k = 5, cb, codebooks,
        vectorStore = vectorStore(s, dir), nprobeTop = 2, nprobe = 3,
        shortlist = 50)
      .withColumnRenamed("rank", "rnk")
      .orderBy(col("q_id"), col("rnk"))
  }

  /** The write-once two-level PQ codes layout for the SF dir (portable
    * router + first-16 subquantizers) — shared by the stored-query row
    * and the share audit. Callers that already derived the geometry pass
    * it in so a cold build never re-derives it. */
  private def pq2StorePath(s: SparkSession, dir: String,
      geom: Option[(Similarity.TwoLevelCodebook,
        Seq[Seq[Seq[Double]]])] = None): String = {
    val path = layoutPath(dir, "pq2store",
      "m=8,k=16,tops=first3unit,kids=min3id,v1")
    if (!Layout.indexExists(s, path)) {
      val emb = t(s, dir, "embeddings")
      val (cb, books) = geom.getOrElse(
        (ivf2PortableCodebook(emb), pqPortableCodebooks(emb)._2))
      Similarity.writePqStoreTwoLevel(emb, "vec_id", "embedding",
        cb, books, path)
    }
    path
  }

  private def annShareAudit(s: SparkSession, dir: String): DataFrame =
    // the operating dial behind the codes store's growth posture: codes
    // cannot split in place (no raw vectors to re-home), so production
    // watches per-directory share vs the balanced share and rebuilds
    // from the rerank store past ~3× — this row IS that audit, one
    // column-pruned aggregate over the partition column (codes never
    // load), integer-ppm so the oracle replays the two-level routing and
    // the division bit-for-bit
    Similarity.storeShareAudit(s, pq2StorePath(s, dir))
      .orderBy(col("centroid_id"))

  private def annIvfPq2Persisted(s: SparkSession, dir: String): DataFrame = {
    // the pq2 re-attach: BOTH frozen geometries (two-level router +
    // subquantizers) persist INSIDE the codes layout
    // (Similarity.writePq2CodebooksAt) and the query probes with the
    // pair READ BACK FROM DISK — at 100 TB the difference between
    // re-attaching a billion-vector index and re-deriving its geometry
    // from the corpus. Bit-exact DOUBLE round-trip ⇒ identical routing,
    // ADC, and re-rank, so the composed twin grades it unchanged.
    val emb = t(s, dir, "embeddings")
    val path = layoutPath(dir, "pq2persist",
      "m=8,k=16,tops=first3unit,kids=min3id,cbv1")
    if (!Layout.indexExists(s, s"$path/_graft_pq2/subs/_graft_codebook")) {
      val cb0 = ivf2PortableCodebook(emb)
      val (_, cbs0) = pqPortableCodebooks(emb)
      Similarity.writePqStoreTwoLevel(emb, "vec_id", "embedding",
        cb0, cbs0, path)
      Similarity.writePq2CodebooksAt(s, path, cb0, cbs0)
    }
    val (cb, codebooks) = Similarity.readPq2CodebooksAt(s, path)
    Similarity.ivfPqTopKStoredTwoLevel(s.read.parquet(path),
        emb.filter(col("vec_id") < 10), "vec_id", "embedding",
        k = 5, cb, codebooks,
        vectorStore = vectorStore(s, dir), nprobeTop = 2, nprobe = 3,
        shortlist = 50)
      .withColumnRenamed("rank", "rnk")
      .orderBy(col("q_id"), col("rnk"))
  }

  private def annPqForgetStored(s: SparkSession, dir: String): DataFrame = {
    // right-to-erasure for the BILLION-VECTOR layout: a pq2 codes store
    // with its exact-vector rerank sidecar, erased through the sink's
    // RECORDED LINKAGE — the `mode: forget` recipe names NO
    // rerank_store_path, and the cascade still erases both layouts
    // (the round-14 hole: a forget that omitted the key "succeeded"
    // while every erased doc's full-precision vector stayed fetchable).
    // Frozen portable geometry on both levels (the s_ann_ivfpq2_stored
    // pair — deletion never retrains), so the oracle replays REBUILD
    // semantics: the same router/encode/ADC/re-rank chain with the
    // full-corpus geometry over the SURVIVORS only. A hash match proves
    // in-place cascade erasure ≡ rebuild on survivors, served through
    // the same stored-probe plan. The forget itself runs once per
    // layout (zz marker): erasure is an ingest-side mutation, not a
    // query-side cost.
    val emb = t(s, dir, "embeddings")
    val cb = ivf2PortableCodebook(emb)
    val (_, codebooks) = pqPortableCodebooks(emb)
    val path = layoutPath(dir, "pq2forget",
      "m=8,k=16,tops=first3unit,kids=min3id,tomb=mod7eq3,v1")
    val rrk = s"$path.rerank"
    if (!Layout.indexExists(s, s"$path/_graft_pq2/subs/_graft_codebook")) {
      // the IvfIndexSink build order: vectors, codes, linkage record,
      // codebook commit signal
      Similarity.writeVectorStore(emb, "vec_id", "embedding", rrk)
      Similarity.writePqStoreTwoLevel(emb, "vec_id", "embedding",
        cb, codebooks, path)
      Similarity.writeRerankLinkAt(s, path, Some(rrk))
      Similarity.writePq2CodebooksAt(s, path, cb, codebooks)
    }
    if (!Layout.indexExists(s, s"$path/_graft_zz_forgot")) {
      graft.sinks.IvfIndexSink.sink(
        emb.filter(col("vec_id") % 7 === 3).select(col("vec_id")),
        Map("index_path" -> path, "mode" -> "forget"))
      import s.implicits._
      Seq(1).toDF("done").coalesce(1)
        .write.mode("overwrite").parquet(s"$path/_graft_zz_forgot")
    }
    Similarity.ivfPqTopKStoredTwoLevel(s.read.parquet(path),
        emb.filter(col("vec_id") < 10 && col("vec_id") % 7 =!= 3),
        "vec_id", "embedding", k = 5, cb, codebooks,
        vectorStore = Similarity.readVectorStore(s, rrk),
        nprobeTop = 2, nprobe = 3, shortlist = 50)
      .withColumnRenamed("rank", "rnk")
      .orderBy(col("q_id"), col("rnk"))
  }

  private def embedJl(s: SparkSession, dir: String): DataFrame = {
    // Johnson–Lindenstrauss sketching — the third embedding-compression
    // codec next to int8 (per-dim quantization) and PQ (codebooks):
    // DIMENSION reduction 64 → 16 via a Rademacher ±1 projection, the
    // data-independent transform that needs no training pass at all.
    // Exactness discipline: dims quantize to 1e-4 fixed point FIRST
    // (one engine-identical round per cell), then every projection is an
    // INTEGER sum — order-independent, so no float-summation hazard in
    // either engine. The sign matrix derives from md5("jl:p:d"), shared
    // with the oracle by definition of the digest. Map-side only: 100 TB
    // of embeddings compress 4× in one scan with zero shuffles (the
    // posexplode is for grading; production keeps the 16-long array).
    // fused kernel (functions/JlExpression.scala): one compiled loop in
    // place of the 16×64-term expression tree; spec-pinned bit-identical
    // to the HOF formulation the oracle replays.
    // Null domain, aligned in BOTH engines: a vector that is NULL or
    // carries a null element is excluded up front (map-side forall) —
    // the kernel would collapse it to ONE null sketch while the
    // relational twin would emit 16 null projections, so without this
    // shared filter the two spellings disagree in SHAPE the first time
    // a corpus carries a corrupt vector (the oracle mirrors the WHERE).
    t(s, dir, "embeddings")
      .filter(col("embedding").isNotNull &&
        forall(col("embedding"), x => x.isNotNull))
      .select(col("vec_id"),
        graft.functions.JlProject(
          col("embedding").cast("array<double>"), 16).as("pr"))
      .select(col("vec_id"), posexplode(col("pr")).as(Seq("p", "proj")))
      .orderBy(col("vec_id"), col("p"))
  }

  private def jlDistortion(s: SparkSession, dir: String): DataFrame = {
    // the JL guarantee, AUDITED: over all pairs of a bounded sample
    // (vec_id < 40 → ≤ 780 pairs — the s_ann_bruteforce bounded-sample
    // pattern), squared-L2 in the 16-dim sketch (scaled by 1/P) vs exact
    // squared-L2 in the original 64 dims. Sum-of-BIGINTs ratios only
    // (order-independent); per-pair ratios round once from an exact-
    // below-2⁵³ double. Distortion concentrates around 1e6 ppm — the
    // audit makes the sketch's error a measured number, like
    // d_minhash_error does for MinHash.
    val P = 16
    // same null-domain filter as s_embed_jl (oracle mirrors it)
    val withProj = t(s, dir, "embeddings").filter(col("vec_id") < 40)
      .filter(col("embedding").isNotNull &&
        forall(col("embedding"), x => x.isNotNull))
      .select(col("vec_id"),
        transform(col("embedding").cast("array<double>"),
          x => round(x * 10000).cast("long")).as("q"),
        graft.functions.JlProject(
          col("embedding").cast("array<double>"), P).as("pr"))
    val a = withProj.select(col("vec_id").as("aid"), col("q").as("qa"),
      col("pr").as("pa"))
    val b = withProj.select(col("vec_id").as("bid"), col("q").as("qb"),
      col("pr").as("pb"))
    val pairs = a.join(b, col("aid") < col("bid"))
      .select(col("aid"), col("bid"),
        aggregate(zip_with(col("pa"), col("pb"), (x, y) => {
          val dph = x - y; dph * dph
        }), lit(0L), (acc, x) => acc + x).as("jl_sq"),
        aggregate(zip_with(col("qa"), col("qb"), (x, y) => {
          val dd = x - y; dd * dd
        }), lit(0L), (acc, x) => acc + x).as("ex_sq"))
      .filter(col("ex_sq") > 0) // exact-dup pairs carry no distance signal
      .select(col("aid"), col("bid"), col("jl_sq"), col("ex_sq"),
        round(col("jl_sq").cast("double") * 1000000 /
          (col("ex_sq").cast("double") * P)).cast("bigint").as("ratio_ppm"))
    pairs.agg(count(lit(1)).as("n_pairs"),
      sum(col("jl_sq")).as("jl_total"), sum(col("ex_sq")).as("ex_total"),
      min(col("ratio_ppm")).as("min_ppm"), max(col("ratio_ppm")).as("max_ppm"))
      .select(col("n_pairs"),
        round(col("jl_total").cast("double") * 1000000 /
          (col("ex_total").cast("double") * P)).cast("bigint")
          .as("overall_ppm"),
        col("min_ppm"), col("max_ppm"))
  }

  private def embedQuantized(s: SparkSession, dir: String): DataFrame = {
    // int8 scalar quantization round-trip: per vector, the scale, the code
    // sum, and the reconstruction L2 error — every step IEEE-deterministic
    // (sequential folds, guarded divide), so DuckDB reproduces it exactly.
    // The join back to the original vectors is the verification step only;
    // the codec itself ([[Similarity.quantizeInt8]]) is one map-side pass.
    val q = Similarity.quantizeInt8(t(s, dir, "embeddings"), "vec_id", "embedding")
      .select(col("id"), col("scale"),
        aggregate(col("codes"), lit(0L), (a, x) => a + x.cast("long")).as("q_sum"),
        Similarity.dequantize(col("codes"), col("scale")).as("dv"))
    val orig = t(s, dir, "embeddings").select(col("vec_id").as("id"),
      col("embedding").cast("array<double>").as("v"))
    q.join(orig, "id")
      .select(col("id").as("vec_id"), round(col("scale"), 6).as("scale"), col("q_sum"),
        round(sqrt(aggregate(zip_with(col("v"), col("dv"), (a, b) => (a - b) * (a - b)),
          lit(0.0), (acc, x) => acc + x)), 6).as("l2_err"))
      .orderBy(col("vec_id"))
  }

  private def multimodalFeatures(s: SparkSession, dir: String): DataFrame = {
    // mixed-modality corpus: every 97th doc carries a REAL planted PNG
    // (deterministic 8x8 RGB gradient seeded by doc_id, encoded with
    // correct CRCs), decoded by the pure-JVM zlib+filter path; every 89th
    // a REAL planted GIF (16-color palette, LZW-compressed), decoded by
    // the pure-JVM LZW path; every 83rd a REAL planted baseline JPEG
    // (16x8 gradient, Annex K tables), decoded by the pure-JVM Huffman+
    // IDCT path; the rest are text bytes that fall through magic-byte
    // dispatch to the stub. Payload construction is per-partition
    // batched, same as decode.
    import s.implicits._
    val payloads = t(s, dir, "documents")
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions(_.map { case (id, text) =>
        val bytes =
          if (id % 97 == 0) {
            val px = Array.tabulate(8 * 8 * 3)(i => ((id * 131 + i * 7) % 256).toByte)
            graft.multimodal.Multimodal.encodePng(8, 8, 3, px)
          } else if (id % 89 == 0) {
            val pal = Array.tabulate(16 * 3)(i => ((id * 37 + i * 17) % 256).toByte)
            val idxs = Array.tabulate(8 * 8)(i => (((id + i) * 13) % 16).toByte)
            graft.multimodal.Multimodal.encodeGif(8, 8, pal, idxs)
          } else if (id % 83 == 0) {
            val px = Array.tabulate(16 * 8 * 3)(i => ((id * 53 + i * 11) % 256).toByte)
            graft.multimodal.Multimodal.encodeJpeg(16, 8, 3, px)
          } else text.getBytes("UTF-8")
        (id, bytes)
      }).toDF("media_id", "payload")
    // graded projection: dispatch (format) is pinned on EVERY row; decode
    // geometry on every real-codec row; and the full 8-bin integer
    // luminance histogram (features * n, exact — n is a power of two) on
    // the lossless formats, recomputed by the oracle from the planting
    // formulas. JPEG pixel content is lossy (IDCT isn't SQL-expressible) —
    // its histogram is pinned by the codec specs instead; stub rows carry
    // fake dims pinned by MultimodalSpec. Both use a -1 sentinel rather
    // than NULL so the integer columns stay int64 through pandas.
    val dec = graft.multimodal.Multimodal.decode(payloads).toDF()
    val lossless = col("format").isin("png", "gif")
    val real = col("format") =!= "bin"
    val histCols = (0 until 8).map { b =>
      when(lossless,
          round(element_at(col("features"), b + 1) * col("width") * col("height"))
            .cast("long"))
        .otherwise(lit(-1L)).as(s"h$b")
    }
    dec.select(
      Seq(col("media_id"), col("format"),
        when(real, col("width")).otherwise(lit(-1)).as("width"),
        when(real, col("height")).otherwise(lit(-1)).as("height"),
        when(real, col("channels")).otherwise(lit(-1)).as("channels")) ++ histCols: _*)
      .orderBy(col("media_id"))
  }

  /** Every doc carries a REAL planted 8x8 PNG whose channel values are the
    * first md5 byte of "base:i" — the same engine-portable md5 trick as
    * the portable dedup family, here because pixels must be genuinely
    * pseudo-random: ANY locally-smooth formula (linear mod 256, or a
    * multiplicative hash of a linear argument — both tried first) makes
    * neighboring grid cells compare monotonically, every base shares a
    * near-identical dHash, and the banding collapses into thousands of
    * fake "near-dups". Docs sharing `doc_id % 250` carry NEAR-identical
    * images: the high copy perturbs ONE pixel's red channel by +8, so
    * pairs (b, b+250) land within a few dHash bits — deterministic
    * near-dups for the perceptual-hash gate.
    */
  private def imagePayloads(s: SparkSession, dir: String,
                            spreadIds: Boolean = false): DataFrame =
    imagePayloadsOf(s, t(s, dir, "documents").select(col("doc_id")),
      spreadIds)

  /** [[imagePayloads]] over an arbitrary id frame — shared with the
    * capped-near-dup scaling probe ([[ScaleProbe]]), which replicates ids
    * beyond one SF dir while preserving the id % 250 base structure.
    */
  private[graft] def imagePayloadsOf(s: SparkSession, ids: DataFrame,
                                     spreadIds: Boolean = false): DataFrame = {
    import s.implicits._
    // opt-in id-frame spread before the encode mapPartitions: the
    // fixture synthesizes a PNG per id (192 md5 calls each) and inherits
    // the 1-row-group scan's single working task — repartitioning 8-byte
    // id rows is free next to the encode it parallelizes. There is no
    // partition-count guard: under the flag the repartition to the
    // session's default parallelism ALWAYS runs. OPT-IN like tSpread: the
    // map-only consumers (m_image_dhash -0.17 s, m_image_quality -0.20 s
    // same-JVM A/B) win; the checkpoint+join pipelines (m_image_dedup
    // +0.51, m_image_ingest +0.76) LOSE — their downstream banded joins
    // pay more for the scattered partitioning than the encode saves.
    val idsOnly = ids.select(col(ids.columns.head))
    // mode via the ONE shared gate (Tables.spreadEnabled — ADVICE r15:
    // this site duplicated the conf parse AND probed .rdd.getNumPartitions,
    // which forces physical planning just to read a partition count and,
    // per Tables' own docstring, does not reflect effective parallelism
    // for few-row-group files anyway). Opt-in callers pass fixture-scale
    // id frames by construction, so repartition unconditionally under the
    // flag; the spark.graft.scan.spread=off kill switch still applies.
    val spId =
      if (spreadIds && Tables.spreadEnabled(s))
        idsOnly.repartition(s.sparkContext.defaultParallelism)
      else idsOnly
    spId.as[Long]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.map { id =>
          val base = id % 250
          def v(i: Int): Int = {
            md.reset()
            md.digest(s"$base:$i".getBytes("UTF-8"))(0) & 0xFF
          }
          val px = Array.tabulate(8 * 8 * 3)(i => v(i).toByte)
          if (id >= 250) {
            val i0 = 3 * (id % 64).toInt
            px(i0) = ((v(i0) + 8) % 256).toByte
          }
          (id, graft.multimodal.Multimodal.encodePng(8, 8, 3, px))
        }
      }.toDF("media_id", "payload")
  }

  private def imageQualityQuery(s: SparkSession, dir: String): DataFrame =
    // image-ingest quality audit: exact integer brightness/contrast/
    // range/sharpness over the same 9x8 luminance grid as the dHash —
    // the oracle recomputes every grid cell from the planted pixels
    graft.multimodal.Multimodal.imageQualityStats(
        imagePayloads(s, dir, spreadIds = true))
      .toDF().orderBy(col("media_id"))

  private def imageDhash(s: SparkSession, dir: String): DataFrame =
    // perceptual hash per image: decode -> 9x8 luminance grid -> 64
    // comparison bits, one map-side pass over the payloads; the oracle
    // recomputes the full bit pattern from the planting formula (bit 63
    // spelled as the two's-complement -2^63 contribution so the BIGINT
    // values agree signed)
    graft.multimodal.Multimodal.dHashes(imagePayloads(s, dir, spreadIds = true))
      .orderBy(col("media_id"))

  private def imageNearDup(s: SparkSession, dir: String): DataFrame =
    // image near-dup pairs: dHash + the same 16-bit-band pigeonhole
    // bucketing as text simhash (any pair within hamming 3 shares an
    // exact band). Bucket cap explicitly OFF to mirror the oracle's
    // uncapped self-join (production keeps the default cap)
    graft.operators.Dedup.bandedHammingPairs(
        graft.multimodal.Multimodal.dHashes(imagePayloads(s, dir)),
        "media_id", "dhash", maxHamming = 3, maxBucketSize = Int.MaxValue)
      .orderBy(col("a"), col("b"))

  private def imageDedup(s: SparkSession, dir: String): DataFrame = {
    // the composed image-dedup pipeline, the d_dedup_fuzzy_portable twin
    // at the image level: decode -> dHash + edge-energy (ONE pass) ->
    // hamming-banded near-dup pairs -> connected components -> keep the
    // SHARPEST member per cluster (edge energy, id tie-break). The whole
    // composition is hash-checked against a single recursive-CTE DuckDB
    // twin that recomputes hashes, pairs, clusters, and scores from the
    // planted pixels.
    val feats = graft.multimodal.Multimodal.dHashFeatures(imagePayloads(s, dir))
      .localCheckpoint() // consumed twice: pairs + scores; decode once
    val pairs = Dedup.bandedHammingPairs(feats, "media_id", "dhash",
      maxHamming = 3, maxBucketSize = Int.MaxValue).select(col("a"), col("b"))
    val clusters = Dedup.connectedComponents(pairs)
    val score = feats.select(col("media_id").as("id"), col("edge_energy"))
    Dedup.keepBest(clusters, score, "edge_energy")
      .orderBy(col("cluster_id"))
  }

  private def imageIngest(s: SparkSession, dir: String): DataFrame = {
    // steady-state image ingest: hashes of docs < 250 are the stored
    // index; an arriving image (>= 250) survives iff its dHash collides
    // with NO index hash at hamming 0 (exact perceptual duplicate). With
    // the planted +8 perturbation, survivors are exactly the arrivals
    // whose edit flipped at least one comparison bit — a deterministic,
    // non-trivial split the oracle recomputes from the pixel formulas.
    val feats = graft.multimodal.Multimodal.dHashes(imagePayloads(s, dir))
      .localCheckpoint() // consumed twice (index + batch); decode once
    Dedup.perceptualIngest(
        feats.filter(col("media_id") >= 250),
        feats.filter(col("media_id") < 250),
        "media_id", "dhash", maxHamming = 0)
      .orderBy(col("media_id"))
  }

  /** Stored perceptual-hash index: (media_id, dhash) of the historical
    * corpus written ONCE per SF dir (layout-cached like [[lshStore]]) —
    * the ingest gate then DECODES ONLY THE ARRIVING BATCH. The inline
    * `m_image_ingest` decodes the full corpus every run; at 100 TB of
    * media the decode is the dominant cost, so the stored index is what
    * turns the gate from a corpus rescan into a batch-sized job. The
    * store is 8 bytes of hash per historical image — the corpus's pixels
    * are never read again.
    */
  private def dhashStore(s: SparkSession, dir: String): DataFrame = {
    val path = layoutPath(dir, "dhashindex", "cut=250",
      srcTable = "documents.parquet")
    if (!Layout.indexExists(s, path))
      graft.multimodal.Multimodal.dHashes(
          imagePayloads(s, dir).filter(col("media_id") < 250))
        .coalesce(8)
        .write.mode("overwrite").parquet(path)
    s.read.parquet(path)
  }

  private def imageIngestStored(s: SparkSession, dir: String): DataFrame =
    // the same hamming-0 gate as m_image_ingest against the STORED hash
    // index — row-identical by construction (pinned in ExtensionsSpec);
    // only the arriving images are decoded.
    Dedup.perceptualIngest(
        graft.multimodal.Multimodal.dHashes(
          imagePayloads(s, dir).filter(col("media_id") >= 250)),
        dhashStore(s, dir), "media_id", "dhash", maxHamming = 0)
      .orderBy(col("media_id"))

  /** Every doc carries a REAL planted mono PCM WAV, 256 + base%128 frames
    * (base = doc_id % 250; long enough that all 65 fingerprint windows are
    * populated), sample i = the first two md5 bytes of "a:base:i" shifted
    * to signed 16-bit — md5 for the same reason as [[imagePayloads]]: a
    * linear sample formula like m_frame_sample's sawtooth is locally
    * smooth (within a clip the m_frame_sample stream spans < 1/13 of a
    * period, and base*7 puts ALL bases within a 1750-of-65536 phase
    * sliver), which makes window-energy comparisons monotone and
    * collapses the fingerprint space. Docs sharing a base carry
    * NEAR-identical audio: the high copy perturbs ONE sample by +16
    * (wrapping), so pairs (b, b+250) land within a few fingerprint bits.
    */
  private def audioPayloads(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "documents").select(col("doc_id")).as[Long]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.map { id =>
          val base = id % 250
          val n = 256 + (base % 128).toInt
          val samples = Array.tabulate[Short](n) { i =>
            md.reset()
            val d = md.digest(s"a:$base:$i".getBytes("UTF-8"))
            val raw = ((d(0) & 0xFF) << 8) | (d(1) & 0xFF)
            val pert = if (id >= 250 && i == (id % 199).toInt) 16 else 0
            (((raw + pert) % 65536) - 32768).toShort
          }
          (id, graft.multimodal.Multimodal.encodeWav(8000, 1, samples))
        }
      }.toDF("media_id", "payload")
  }

  private def audioFingerprint(s: SparkSession, dir: String): DataFrame =
    // 64-bit energy fingerprint per clip: decode -> 65 integer energy
    // windows -> 64 comparison bits, one map-side pass; the oracle
    // recomputes every window sum and bit from the planting formula
    graft.multimodal.Multimodal.audioHashes(audioPayloads(s, dir))
      .orderBy(col("media_id"))

  private def pngTextQuery(s: SparkSession, dir: String): DataFrame = {
    // in-band image provenance: every doc carries a REAL 4x4 PNG with
    // planted tEXt chunks (Source / License / Software); the extraction
    // is the ancillary-chunk byte walk (no inflate), and the oracle
    // recomputes each planted value from doc_id
    import s.implicits._
    val payloads = t(s, dir, "documents").select(col("doc_id")).as[Long]
      .mapPartitions(_.map { id =>
        val px = Array.tabulate[Byte](16)(i => ((id * 31 + i * 7) % 251).toByte)
        val texts = Seq(
          "Source" -> s"crawl-${id % 7}",
          "License" -> (id % 3 match {
            case 0 => "cc0"; case 1 => "cc-by"; case _ => "unknown" }),
          "Software" -> "graft")
        (id, graft.multimodal.Multimodal.encodePng(4, 4, 1, px, texts))
      }).toDF("media_id", "payload")
    graft.multimodal.Multimodal.pngTextMeta(payloads)
      .orderBy(col("media_id"), col("keyword"))
  }

  private def audioQualityQuery(s: SparkSession, dir: String): DataFrame =
    // speech-corpus ingest audit: exact integer silence/clipping/energy
    // stats per clip, one map-side decode pass; the oracle recomputes
    // every sample from the planting formula (audioHashCtes' sm chain)
    graft.multimodal.Multimodal.audioQualityStats(audioPayloads(s, dir))
      .toDF().orderBy(col("media_id"))

  private def audioNearDup(s: SparkSession, dir: String): DataFrame =
    // audio near-dup pairs: the same 16-bit-band pigeonhole as text
    // simhash and image dHash, over the energy fingerprint. Bucket cap
    // explicitly OFF to mirror the oracle's uncapped self-join
    graft.operators.Dedup.bandedHammingPairs(
        graft.multimodal.Multimodal.audioHashes(audioPayloads(s, dir)),
        "media_id", "ahash", maxHamming = 3, maxBucketSize = Int.MaxValue)
      .orderBy(col("a"), col("b"))

  private def mediaResize(s: SparkSession, dir: String): DataFrame = {
    // every doc carries a REAL planted PNG whose dimensions vary with
    // doc_id (4..16 x 4..14 — exercising all three aspect-fit branches:
    // already-fits, width-limited, height-limited), thumbnailed to fit
    // 8x8 and RE-DECODED from the emitted PNG bytes: the graded row
    // proves decode -> nearest-neighbor resample -> PNG encode -> decode
    // round-trips on every row, while the oracle pins the integer fit
    // geometry (Multimodal.fitWithin's exact formula). Pixel-level
    // resample correctness is pinned by ResizeSpec (exhaustive nearest-
    // neighbor identities); pixels aren't SQL-expressible.
    import s.implicits._
    val payloads = t(s, dir, "documents")
      .select(col("doc_id")).as[Long]
      .mapPartitions(_.map { id =>
        val w = 4 + (id % 13).toInt; val h = 4 + ((id / 7) % 11).toInt
        val px = Array.tabulate(w * h * 3)(i => ((id * 131 + i * 7) % 256).toByte)
        (id, graft.multimodal.Multimodal.encodePng(w, h, 3, px))
      }).toDF("media_id", "payload")
    graft.multimodal.Multimodal.resize(payloads, 8, 8)
      .map { r =>
        val img = graft.multimodal.Multimodal.decodePixels(r.payload).get
        (r.media_id, img.width, img.height)
      }.toDF("media_id", "out_w", "out_h")
      .select(col("media_id"),
        (lit(4) + pmod(col("media_id"), lit(13))).cast("int").as("src_w"),
        (lit(4) + pmod(expr("media_id div 7"), lit(11))).cast("int").as("src_h"),
        col("out_w"), col("out_h"))
      .orderBy(col("media_id"))
  }

  private def frameSampleAudio(s: SparkSession, dir: String): DataFrame = {
    // every doc carries a REAL planted PCM WAV (mono 8 kHz, 40-76 frames,
    // samples from an integer formula), frame-sampled at k=3 and
    // RE-DECODED from the emitted WAV bytes; pcm_sum (order-independent
    // integer sum of the KEPT samples) pins the exact sample content
    // cross-engine, not just the geometry — the oracle recomputes it
    // from the planting formula over range(0, frames, 3).
    import s.implicits._
    val payloads = t(s, dir, "documents")
      .select(col("doc_id")).as[Long]
      .mapPartitions(_.map { id =>
        val frames = 40 + (id % 37).toInt
        val samples = Array.tabulate[Short](frames)(i =>
          (((id * 7 + i * 13) % 65536) - 32768).toShort)
        (id, graft.multimodal.Multimodal.encodeWav(8000, 1, samples))
      }).toDF("media_id", "payload")
    graft.multimodal.Multimodal.decimateFrames(payloads, 3)
      .map { m =>
        val (rate, _, frames, sum) =
          graft.multimodal.Multimodal.pcmSummary(m.payload).get
        (m.media_id, m.src_frames, frames, rate, sum)
      }.toDF("media_id", "src_frames", "frames", "rate", "pcm_sum")
      .orderBy(col("media_id"))
  }

  private def mp4MetaQuery(s: SparkSession, dir: String): DataFrame = {
    // every doc carries a REAL planted MP4 metadata skeleton (ftyp + moov
    // with version-0 mvhd and one trak→…→stsd chain per track), built
    // from integer formulas: timescale 600 + (id%5)*100, duration
    // 6000 + id%9000, 1 + id%3 tracks drawn in order from
    // (avc1, mp4a, tx3g). The box walk re-derives duration_ms (floor
    // integer), track count and the fourcc list; the oracle recomputes
    // all three from the planting formulas — byte parsing is the thing
    // under test.
    import s.implicits._
    val payloads = t(s, dir, "documents").select(col("doc_id")).as[Long]
      .mapPartitions(_.map { id =>
        val ts = 600 + (id % 5).toInt * 100
        val dur = 6000L + id % 9000
        val fcs = Seq("avc1", "mp4a", "tx3g").take(1 + (id % 3).toInt)
        (id, graft.multimodal.Multimodal.encodeMp4(ts, dur, fcs))
      }).toDF("media_id", "payload")
    graft.multimodal.Multimodal.mp4Metas(payloads)
      .orderBy(col("media_id"))
  }

  private def tiffMetaQuery(s: SparkSession, dir: String): DataFrame = {
    // every doc carries a REAL planted multi-page TIFF (II for even ids,
    // MM for odd; 1 + id%3 chained IFDs; first page 16+id%113 ×
    // 9+id%97 at 8<<(id%2) bits, compression 5 for id%4==0 else 1, and
    // an offset-resolved ImageDescription). The IFD-chain walk is the
    // thing under test — the oracle recomputes every field from the
    // planting formulas
    import s.implicits._
    val payloads = t(s, dir, "documents").select(col("doc_id")).as[Long]
      .mapPartitions(_.map { id =>
        val pages = (0 until (1 + (id % 3).toInt)).map { j =>
          (16 + ((id + j) % 113).toInt, 9 + ((id + 2L * j) % 97).toInt,
            8 << (id % 2).toInt, if (id % 4 == 0) 5 else 1)
        }
        (id, graft.multimodal.Multimodal.encodeTiff(
          littleEndian = id % 2 == 0, description = s"doc $id", pages))
      }).toDF("media_id", "payload")
    graft.multimodal.Multimodal.tiffMetas(payloads)
      .orderBy(col("media_id"))
  }

  private def zipListQuery(s: SparkSession, dir: String): DataFrame = {
    // every doc carries a REAL planted ZIP (STORED entries, canonical
    // local headers + central directory + EOCD): 1 + id%4 text members
    // with formulaic contents; for id%7==0 the first entry's RECORDED
    // crc is flipped, so the walk must verify payload CRC-32s rather
    // than trust the directory — crc_ok drops by exactly one there
    import s.implicits._
    val payloads = t(s, dir, "documents").select(col("doc_id")).as[Long]
      .mapPartitions(_.map { id =>
        val entries = (0 until (1 + (id % 4).toInt)).map { j =>
          val content = s"doc $id entry $j " * (1 + ((id + j) % 5).toInt)
          (s"f$j.txt", content.getBytes("US-ASCII"))
        }
        (id, graft.multimodal.Multimodal.encodeZip(entries,
          corruptFirstCrc = id % 7 == 0))
      }).toDF("media_id", "payload")
    graft.multimodal.Multimodal.zipMetas(payloads)
      .orderBy(col("media_id"))
  }

  private def mp4SamplesQuery(s: SparkSession, dir: String): DataFrame = {
    // SAMPLE-level MP4 decode — the stage after m_mp4_meta's routing:
    // every doc carries an MP4 with a real PCM audio track (16-bit mono,
    // fourcc twos for even ids / sowt for odd — both byte orders, one
    // 2-byte MP4 sample per PCM frame, uniform stsz) and a real MJPEG
    // video track (1 + id%2 frames, each an 8x8 grayscale baseline JPEG
    // from the [[Jpeg]] encoder, per-sample stsz). The decoder walks
    // stsc×stco×stsz to pull the samples back; PCM amplitudes are
    // LOSSLESS so the integer stats (n, peak |v|, Σ|v| over
    // v = (id*31 + s*17) % 65536 - 32768) are oracle-exact, and JPEG
    // carries its dimensions losslessly so frame counts and Σdims are
    // too (pixel fidelity is MultimodalSpec's bounded-error pin).
    import s.implicits._
    val payloads = t(s, dir, "documents").select(col("doc_id")).as[Long]
      .mapPartitions(_.map { id =>
        val n = (200 + id % 100).toInt
        val be = id % 2 == 0
        val audioSamples = (0 until n).map { sIdx =>
          val v = ((id * 31 + sIdx * 17) % 65536 - 32768).toInt
          if (be) Array(((v >> 8) & 0xFF).toByte, (v & 0xFF).toByte)
          else Array((v & 0xFF).toByte, ((v >> 8) & 0xFF).toByte)
        }
        val frames = (0 until (1 + id % 2).toInt).map { f =>
          val px = Array.tabulate[Byte](64)(p => (((id + f) * 131 + p * 7) % 256).toByte)
          graft.multimodal.Jpeg.encode(8, 8, 1, px)
        }
        val mp4 = graft.multimodal.Multimodal.encodeMp4Media(
          600, 6000L + id % 9000, Seq(
            graft.multimodal.Multimodal.Mp4MediaTrack(
              if (be) "twos" else "sowt", audioSamples,
              channels = 1, sampleSize = 16,
              sampleRate = 8000 + (id % 3).toInt * 4000),
            graft.multimodal.Multimodal.Mp4MediaTrack(
              "jpeg", frames, width = 8, height = 8)))
        (id, mp4)
      }).toDF("media_id", "payload")
    graft.multimodal.Multimodal.mp4SampleStats(payloads)
      .orderBy(col("media_id"))
  }

  private def jpegExifQuery(s: SparkSession, dir: String): DataFrame = {
    // in-band image provenance: every doc carries a real 8x8 JPEG with
    // an APP1 Exif segment planted from integer formulas — camera make
    // CAM<id%7>, orientation 1 + id%8, capture time minute-stepped
    // through January 2024, TIFF byte order alternating II/MM by id
    // parity (both endian walks graded). The decoder walks the segment
    // chain + IFD0; the oracle rebuilds every field from the formulas.
    import s.implicits._
    val payloads = t(s, dir, "documents").select(col("doc_id")).as[Long]
      .mapPartitions(_.map { id =>
        val px = Array.tabulate[Byte](64)(p => ((id * 131 + p * 7) % 256).toByte)
        val day = 1 + (id % 28)
        val hh = id % 24
        val mm = (id * 7) % 60
        val ss = (id * 13) % 60
        val dt = f"2024:01:$day%02d $hh%02d:$mm%02d:$ss%02d"
        val app1 = graft.multimodal.Multimodal.exifApp1(
          id % 2 == 0, s"CAM${id % 7}", (1 + id % 8).toInt, dt)
        (id, graft.multimodal.Multimodal.insertApp1(
          graft.multimodal.Jpeg.encode(8, 8, 1, px), app1))
      }).toDF("media_id", "payload")
    graft.multimodal.Multimodal.jpegExifs(payloads)
      .orderBy(col("media_id"))
  }

  private def mp3MetaQuery(s: SparkSession, dir: String): DataFrame = {
    // the audio sibling of m_mp4_meta: every doc carries a REAL planted
    // CBR MP3 stream (ID3v2 tag of id%97 zero bytes, then 2 + id%4
    // identical MPEG-1 Layer III frames with bitrate index 1 + id%14,
    // sample-rate index id%3, channel mode id%4, padding bit id%2). The
    // frame-header walk re-derives bitrate/rate/channels from the first
    // header and the frame count from the walk itself; the oracle
    // recomputes everything from the planting formulas — the byte walk
    // (including the syncsafe ID3 skip and padding-aware frame stride)
    // is the thing under test.
    import s.implicits._
    val payloads = t(s, dir, "documents").select(col("doc_id")).as[Long]
      .mapPartitions(_.map { id =>
        (id, graft.multimodal.Multimodal.encodeMp3(
          bitrateIdx = 1 + (id % 14).toInt, rateIdx = (id % 3).toInt,
          mode = (id % 4).toInt, padding = (id % 2).toInt,
          frames = 2 + (id % 4).toInt, id3Bytes = (id % 97).toInt))
      }).toDF("media_id", "payload")
    graft.multimodal.Multimodal.mp3Metas(payloads)
      .orderBy(col("media_id"))
  }

  private def multimodalMeta(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"),
        expr("octet_length(text)").as("byte_len"),
        (lit(64) + pmod(col("n_chars"), lit(512))).as("fake_width"),
        (lit(64) + pmod(col("n_chars") * 7, lit(512))).as("fake_height"))
      .orderBy(col("doc_id"))

  private def bmpDecodeQuery(s: SparkSession, dir: String): DataFrame = {
    // real BMP codec end to end: plant a 24-bit BMP per doc (odd widths
    // exercise the 4-byte row padding; bottom-up BGR on disk), decode it
    // back, and grade exact integer pixel stats INCLUDING the
    // position-weighted checksum — any padding/row-order/channel-order
    // mistake in either direction shifts wsum. One map-side pass.
    import s.implicits._
    t(s, dir, "documents").select(col("doc_id")).as[Long]
      .mapPartitions(_.map { id =>
        val w = 5 + (id % 4).toInt
        val h = 3 + (id % 3).toInt
        val px = Array.tabulate(w * h * 3)(i => ((id * 59 + i * 13) % 256).toByte)
        val bytes = graft.multimodal.Multimodal.encodeBmp(w, h, px)
        val dec = graft.multimodal.Multimodal.decodeBmpPixels(bytes)
          .getOrElse(throw new IllegalStateException(s"bmp decode failed: $id"))
        var sum = 0L; var wsum = 0L; var i = 0
        while (i < dec.pixels.length) {
          val v = dec.pixels(i) & 0xFF
          sum += v; wsum += v.toLong * (i + 1); i += 1
        }
        (id, bytes.length.toLong, dec.width.toLong, dec.height.toLong, sum, wsum)
      }).toDF("doc_id", "byte_len", "width", "height", "sum_rgb", "wsum")
      .orderBy(col("doc_id"))
  }

  private def gzipRoundtrip(s: SparkSession, dir: String): DataFrame =
    // crawl-style ingestion: text → gzip payloads (the on-disk layout) →
    // REAL JDK-Inflater decode back. The oracle is the identity: a decoded
    // row must hash-match the original text, so a codec bug (charset,
    // truncation, header) fails the gate. Both stages map-side — at 100 TB
    // this is a scan; payload bytes never leave the executors.
    graft.multimodal.Multimodal.gunzipText(
        graft.multimodal.Multimodal.gzipColumn(
          t(s, dir, "documents"), "doc_id", "text"))
      .orderBy(col("media_id"))

  private def semiJoinActive(s: SparkSession, dir: String): DataFrame =
    // EXISTS semantics as a left-semi join: customers with >= 1 order in
    // 1997. Semi joins never duplicate the probe side, so only customer
    // columns flow downstream — at scale that halves the shuffle vs an
    // inner join + distinct
    t(s, dir, "customer")
      .join(t(s, dir, "orders")
          .filter(col("o_orderdate") >= lit("1997-01-01").cast("timestamp") &&
            col("o_orderdate") < lit("1998-01-01").cast("timestamp")),
        col("c_custkey") === col("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"))
      .orderBy(col("c_custkey"))

  private def antiJoinInactive(s: SparkSession, dir: String): DataFrame =
    // NOT EXISTS as a left-anti join: customers with no 1997 order — the
    // exact complement of q_semi_join (the two row counts sum to the
    // customer count, which OperatorsSpec pins)
    t(s, dir, "customer")
      .join(t(s, dir, "orders")
          .filter(col("o_orderdate") >= lit("1997-01-01").cast("timestamp") &&
            col("o_orderdate") < lit("1998-01-01").cast("timestamp")),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
      .orderBy(col("c_custkey"))

  private def corrStats(s: SparkSession, dir: String): DataFrame =
    // second-moment statistical profiling per group: Pearson correlation,
    // sample stddev and covariance — one partial-aggregable pass (Spark
    // merges per-partition moment sketches; no second scan)
    t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        round(corr(col("l_quantity"), col("l_extendedprice")), 4).as("qty_price_corr"),
        round(stddev_samp(col("l_quantity")), 4).as("qty_stddev"),
        round(covar_samp(col("l_quantity"), col("l_extendedprice")), 4).as("qty_price_covar"))
      .orderBy(col("l_returnflag"))

  private def valueQuantiles(s: SparkSession, dir: String): DataFrame =
    // EXACT multi-quantile profile per event type (linear interpolation —
    // identical to DuckDB quantile_cont). Exact percentile buffers each
    // group's values, so this is the oracle-mode twin of
    // approx_percentile: at 100 TB swap in percentile_approx (one-pass
    // mergeable KLL-style sketch, same call shape) — the ColumnProfiler
    // exact/approx split, applied per group
    t(s, dir, "events")
      .groupBy(col("event_type"))
      .agg(expr("percentile(value, array(0.25D, 0.5D, 0.75D, 0.95D))").as("ps"),
        count(lit(1)).as("n"))
      .select(col("event_type"), col("n"),
        round(element_at(col("ps"), 1), 4).as("p25"),
        round(element_at(col("ps"), 2), 4).as("p50"),
        round(element_at(col("ps"), 3), 4).as("p75"),
        round(element_at(col("ps"), 4), 4).as("p95"))
      .orderBy(col("event_type"))

  private def unpivotMeasures(s: SparkSession, dir: String): DataFrame =
    // wide → long melt: the per-flag aggregate triple unpivoted to
    // (flag, measure, val) rows. Unpivot is a zero-shuffle Expand over the
    // (already tiny) aggregate — the inverse of q_pivot_events
    t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(round(sum(col("l_quantity")), 2).as("sum_qty"),
        round(sum(col("l_extendedprice")), 2).as("sum_price"),
        round(sum(col("l_discount")), 2).as("sum_disc"))
      .unpivot(Array(col("l_returnflag")),
        Array(col("sum_qty"), col("sum_price"), col("sum_disc")),
        "measure", "val")
      .orderBy(col("l_returnflag"), col("measure"))

  private def lineDedupCleanQuery(s: SparkSession, dir: String): DataFrame =
    // the TRANSFORM behind d_line_dedup's audit: same planted boilerplate
    // (banner + per-source footer), rewritten documents with the common
    // lines removed and order preserved — the oracle rebuilds each
    // clean_text with a list_filter against the common set
    Dedup.lineDedupRewrite(
        t(s, dir, "documents").select(col("doc_id"),
          concat(col("text"),
            lit("\nsubscribe to our newsletter today\ncopyright "),
            col("source")).as("text")),
        "doc_id", "text", minDocs = 20)
      .orderBy(col("doc_id"))

  private def lineDedupQuery(s: SparkSession, dir: String): DataFrame =
    // C4-style line-level dedup: the corpus has no newlines, so plant the
    // boilerplate deterministically (one global banner line + one
    // per-source footer) — both engines build the identical 3-line docs,
    // then drop lines occurring in >= 20 distinct docs. The footers and
    // banner go; each doc's real text stays unless the corpus itself
    // duplicates it that widely
    Dedup.lineDedupStats(
        t(s, dir, "documents").select(col("doc_id"),
          concat(col("text"),
            lit("\nsubscribe to our newsletter today\ncopyright "),
            col("source")).as("text")),
        "doc_id", "text", minDocs = 20)
      .withColumnRenamed("id", "doc_id")
      .orderBy(col("doc_id"))

  private def lengthDeciles(s: SparkSession, dir: String): DataFrame = {
    // curriculum/batching prep: within-language length deciles. ntile
    // partitions BY LANG, so every language's sort runs parallel on its
    // own partition — there is no global sort. A language so large its
    // value set won't fit one task is the approx_percentile-boundaries
    // regime (bucket by precomputed cutpoints); ntile is the oracle-exact
    // within-group form
    val w = Window.partitionBy(col("lang")).orderBy(col("n_chars"), col("doc_id"))
    t(s, dir, "documents")
      .select(col("lang"), col("n_chars"), col("doc_id"))
      .withColumn("decile", ntile(10).over(w))
      .groupBy(col("lang"), col("decile"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("n_chars")).as("min_chars"),
        max(col("n_chars")).as("max_chars"))
      .orderBy(col("lang"), col("decile"))
  }

  private def urlDomains(s: SparkSession, dir: String): DataFrame =
    // URL/domain mixture report — the source-distribution audit of a web
    // crawl. The corpus has no URLs, so plant two per doc from (source,
    // lang), then extract-all + host-parse + rollup: per domain, total
    // URL mentions and distinct docs. All extraction is map-side; the
    // only shuffle is the domain groupBy (count distinct via partial-agg)
    t(s, dir, "documents")
      .select(col("doc_id"),
        concat(col("text"),
          lit(" see https://"), col("source"), lit(".example.com/p/"), col("doc_id"),
          lit(" or http://m-"), col("lang"), lit(".example.org/idx")).as("dirty"))
      .select(col("doc_id"),
        explode(expr("regexp_extract_all(dirty, 'https?://[^/\\\\s]+[^\\\\s]*', 0)")).as("url"))
      .select(col("doc_id"), regexp_extract(col("url"), "https?://([^/\\s]+)", 1).as("domain"))
      .groupBy(col("domain"))
      .agg(count(lit(1)).as("n_urls"), countDistinct(col("doc_id")).as("n_docs"))
      .orderBy(col("domain"))

  private def urlBlocklist(s: SparkSession, dir: String): DataFrame = {
    // C4-style domain filtering over the same planted URLs as
    // d_url_domains: docs mentioning a blocklisted host (five source
    // domains + one language mirror) are dropped BY URL EXTRACTION — the
    // blocklist path a web-corpus recipe runs before any content
    // heuristic; survivors carry their URL mention count
    import s.implicits._
    val dirty = t(s, dir, "documents")
      .select(col("doc_id"),
        concat(col("text"),
          lit(" see https://"), col("source"), lit(".example.com/p/"), col("doc_id"),
          lit(" or http://m-"), col("lang"), lit(".example.org/idx")).as("dirty"))
    val blocked = Seq("src0.example.com", "src1.example.com",
      "src2.example.com", "src3.example.com", "src4.example.com",
      "m-zh.example.org").toDF("domain")
    TextAnalysis.blockByDomain(dirty, "doc_id", "dirty", blocked)
      .orderBy(col("doc_id"))
  }

  private def weightedSample(s: SparkSession, dir: String): DataFrame =
    // PPS corpus downsampling: ~5 docs per source, inclusion probability
    // proportional to token mass, fully deterministic (integer systematic
    // sampling — see Splits.systematicSample)
    Splits.systematicSample(t(s, dir, "documents"), "source", "doc_id",
        TextAnalysis.tokenCount(col("text")), perStratum = 5)
      .withColumnRenamed("stratum", "source")
      .withColumnRenamed("weight", "tokens")
      .orderBy(col("source"), col("doc_id"))

  private def groupingSets(s: SparkSession, dir: String): DataFrame = {
    // GROUPING SETS ((lang),(source)): the two marginal reports WITHOUT
    // the cross or grand-total levels cube would add — one Expand feeds
    // one shuffle, same physical shape as cube/rollup but half the
    // expanded rows. SQL-expressed: the DataFrame API has no grouping-sets
    // verb (cube/rollup only), and spark.sql IS the DataFrame API's equal
    // citizen — same Catalyst plan either way
    t(s, dir, "documents").createOrReplaceTempView("documents_gs")
    s.sql("""SELECT coalesce(lang, 'ALL') AS lang,
            |       coalesce(source, 'ALL') AS source,
            |       count(*) AS n_docs,
            |       CAST(sum(n_chars) AS BIGINT) AS sum_chars
            |FROM documents_gs
            |GROUP BY GROUPING SETS ((lang), (source))
            |ORDER BY lang, source""".stripMargin)
  }

  private def minhashPortable(s: SparkSession, dir: String): DataFrame =
    // the engine-portable minhash signature table: md5-based, so the
    // DuckDB oracle reproduces every signature bit-for-bit (the xxhash64
    // production path d_minhash_pairs grades rows-only)
    Dedup.portableMinhash(t(s, dir, "documents"), "doc_id", "text", k = 8)
      .orderBy(col("doc_id"))

  private def lshPortablePairs(s: SparkSession, dir: String): DataFrame = {
    // portable minhash-LSH end to end: signatures → 4 bands of 2 → bucket
    // groupBy → in-bucket pair expansion — the full LSH candidate
    // generation oracle-checked against a DuckDB self-join spelling.
    // Bucket cap OFF (Int.MaxValue, explicit): the oracle self-join has no
    // cap, so any finite cap here is a latent cross-engine divergence the
    // moment a band bucket outgrows it; production callers use
    // minhashLsh's default cap instead
    val sigs = Dedup.portableMinhash(t(s, dir, "documents"), "doc_id", "text", k = 8)
    Dedup.candidatePairs(Dedup.portableBands(sigs, "doc_id", k = 8, bands = 4),
        maxBucketSize = Int.MaxValue)
      .orderBy(col("a"), col("b"))
  }

  private def minhashCalibrationQuery(s: SparkSession, dir: String): DataFrame =
    // sketch-calibration audit: per candidate pair, the minhash estimate
    // vs exact Jaccard over the same lowercase shingle space (cap off to
    // mirror the uncapped candidate oracle)
    Dedup.minhashCalibration(t(s, dir, "documents"), "doc_id", "text",
        maxBucketSize = Int.MaxValue)
      .orderBy(col("a"), col("b"))

  private def containmentQuery(s: SparkSession, dir: String): DataFrame = {
    // subset-duplicate detection: the portable LSH candidate set verified
    // by CONTAINMENT in both directions — a short doc quoted whole inside
    // a long one scores c_ab ≈ 1 even when its Jaccard is low. Candidates
    // and shingle sets are the exact machinery of the fuzzy-dedup twin;
    // only the verify formula changes.
    val d = t(s, dir, "documents")
    val cands = Dedup.candidatePairs(
      Dedup.portableBands(Dedup.portableMinhash(d, "doc_id", "text", k = 8),
        "doc_id", k = 8, bands = 4), maxBucketSize = Int.MaxValue)
    Dedup.verifyContainment(cands, d, "doc_id", "text",
        shingleLen = 3, threshold = 0.5)
      .orderBy(col("a"), col("b"))
  }

  private def simhashPortable(s: SparkSession, dir: String): DataFrame =
    Dedup.portableSimhash(t(s, dir, "documents"), "doc_id", "text")
      .orderBy(col("doc_id"))

  private def simhashPortableNearDup(s: SparkSession, dir: String): DataFrame = {
    // the near-dup BANDING pipeline, engine-portable end to end: the md5
    // 16-bit simhash banded into 2 bytes (pigeonhole: any pair within
    // hamming distance 1 shares at least one exact band), in-bucket pair
    // expansion, exact-hamming verify — same shuffle shape as the
    // production 64-bit simhashNearDup, every value reproducible in SQL.
    // (The production path bands 64 bits into 4x16 for hamming<=3; a
    // 16-bit fingerprint only supports 2x8 banding before buckets go
    // degenerate, so the twin verifies at hamming<=1.)
    val hashes = Dedup.portableSimhash(t(s, dir, "documents"), "doc_id", "text")
    val bands = hashes.select(col("doc_id").as("id"), col("simhash16"),
      posexplode(array((0 until 2).map { b =>
        shiftrightunsigned(col("simhash16"), b * 8).bitwiseAND(lit(0xFFL))
      }: _*)).as(Seq("band_id", "band_val")))
    val buckets = bands
      .groupBy(col("band_id"), col("band_val"))
      .agg(sort_array(collect_set(struct(col("id"), col("simhash16")))).as("ms"))
      .filter(size(col("ms")) >= 2)
    buckets
      .select(explode(flatten(transform(col("ms"), (x, i) =>
        transform(slice(col("ms"), i + 2, size(col("ms"))),
          y => struct(x.getField("id").as("a"), y.getField("id").as("b"),
            bit_count(x.getField("simhash16").bitwiseXOR(y.getField("simhash16")))
              .as("hamming")))))).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"), col("p.hamming"))
      .filter(col("hamming") <= 1)
      .distinct()
      .orderBy(col("a"), col("b"))
  }

  private def shuffleShardsQuery(s: SparkSession, dir: String): DataFrame =
    // deterministic epoch shuffle into 16 training shards; (shard, pos)
    // is the global training order, reproducible in any engine
    Splits.shuffleShards(t(s, dir, "documents"), "doc_id", "epoch0", shards = 16)
      .orderBy(col("shard"), col("pos"))

  private def lshIncremental(s: SparkSession, dir: String): DataFrame = {
    // steady-state near-dup ingest: the LSH band index of docs < 250 is
    // the existing corpus; a batch doc (>= 250) survives iff NONE of its
    // band keys collides with the index. No pair expansion at all — one
    // semi-join of batch bands against index bands (both sides already
    // partitioned by band key), then an anti-join back to batch ids. At
    // 100 TB the index is a stored table bucketed by band_hash, so the
    // semi-join co-locates without a fresh shuffle of the index side.
    val docs = t(s, dir, "documents")
    val indexBands = Dedup.portableBands(
      Dedup.portableMinhash(docs.filter(col("doc_id") < 250), "doc_id", "text",
        k = 8), "doc_id", k = 8, bands = 4)
    Dedup.lshIngest(docs.filter(col("doc_id") >= 250), indexBands,
        "doc_id", "text", k = 8, nBands = 4)
      .orderBy(col("doc_id"))
  }

  private def indexForget(s: SparkSession, dir: String): DataFrame = {
    // right-to-erasure compaction: docs with doc_id % 17 == 0 file
    // deletion requests; their rows are anti-joined out of the stored LSH
    // band index WITHOUT touching the corpus. The oracle rebuilds the
    // band index from the surviving docs from scratch — oracle equality
    // IS the compaction theorem (per-doc row independence makes removal
    // ≡ rebuild), the guarantee that lets deletes run on the index alone
    // at 100 TB.
    val docs = t(s, dir, "documents")
    val index = Dedup.portableBands(
      Dedup.portableMinhash(docs, "doc_id", "text", k = 8),
      "doc_id", k = 8, bands = 4)
    Dedup.forgetDocs(index, docs.filter(col("doc_id") % 17 === 0)
        .select(col("doc_id").as("id")), "id")
      .orderBy(col("id"), col("band_id"))
  }

  /** Stored LSH band index: written ONCE per SF dir at "ingest"
    * (layout-cached like the vector/IVF/PQ stores), hash-clustered into
    * 32 files by band_hash and row-group-sorted on it so the gate's
    * semi-join reads a co-locatable, skippable layout. This closes the
    * last index-build-inside-the-query-path in the dedup family:
    * `d_lsh_incremental` recomputes the historical corpus's signatures on
    * every run — at 100 TB that is a full re-shingle of the stored corpus
    * per arriving batch — while the stored path re-shingles ONLY the
    * batch.
    */
  private def lshStore(s: SparkSession, dir: String): DataFrame = {
    val path = layoutPath(dir, "lshindex", "k=8,b=4,cut=250",
      srcTable = "documents.parquet")
    if (!Layout.indexExists(s, path))
      Dedup.portableBands(
          Dedup.portableMinhash(
            t(s, dir, "documents").filter(col("doc_id") < 250),
            "doc_id", "text", k = 8),
          "doc_id", k = 8, bands = 4)
        .repartition(32, col("band_hash"))
        .sortWithinPartitions(col("band_hash"))
        .write.mode("overwrite").parquet(path)
    s.read.parquet(path)
  }

  private def lshIncrementalStored(s: SparkSession, dir: String): DataFrame =
    // the same gate as d_lsh_incremental, but against the STORED band
    // index ([[lshStore]]) — row-identical by construction (pinned in
    // ExtensionsSpec) and the scale path a real ingest loop runs:
    // accepted batches append their bands to the store
    // (EventStream.streamingLshIngest's onBatch contract), the corpus is
    // never re-signed.
    Dedup.lshIngest(
        t(s, dir, "documents").filter(col("doc_id") >= 250),
        lshStore(s, dir), "doc_id", "text", k = 8, nBands = 4)
      .orderBy(col("doc_id"))

  /** Stored winnowing-fingerprint index — the span-reuse gate's store,
    * since round 14 the ERASABLE (fp, refs) refcount layout with a doc
    * attribution sidecar ([[Dedup.writeWinnowStoreAt]]): the gate still
    * consumes the fp column of one clustered table, but a GDPR batch can
    * now decrement and drop what only erased docs contributed.
    */
  private def winnowStore(s: SparkSession, dir: String): DataFrame = {
    val path = layoutPath(dir, "winnowindex", "k=4,w=4,cut=250,refs,v3",
      srcTable = "documents.parquet")
    if (!Layout.indexExists(s, s"$path/fps"))
      Dedup.writeWinnowStoreAt(s, path,
        t(s, dir, "documents").filter(col("doc_id") < 250),
        "doc_id", "text")
    Dedup.readWinnowStoreFps(s, path)
  }

  private def winnowIngestStored(s: SparkSession, dir: String): DataFrame =
    // span-reuse ingest gate: batch docs (>= 250) surviving the >= 2
    // shared-fingerprint plagiarism check against the STORED index —
    // only the batch is winnowed; the oracle recomputes both sides
    Dedup.winnowIngest(
        t(s, dir, "documents").filter(col("doc_id") >= 250),
        winnowStore(s, dir), "doc_id", "text")
      .orderBy(col("doc_id"))

  private def winnowForgetStored(s: SparkSession, dir: String): DataFrame = {
    // right-to-erasure for the plagiarism gate's stored index — the cell
    // the DISTINCT-fp layout could not close (no doc attribution, so an
    // erased doc's fingerprints stayed in the gate forever, rejecting
    // future resubmissions that matched only erased content): tombstones
    // (doc_id % 7 = 3) surface their fingerprints through the id-hash
    // attribution sidecar, refcounts decrement by exact per-fp hit
    // counts over ONLY the hit fp directories, and fps reaching zero
    // LEAVE the gate. The oracle rebuilds the refcount table on the
    // survivors — the hash match IS forget ≡ rebuild. Idempotent: a
    // second run finds no attribution rows and no-ops.
    val docs = t(s, dir, "documents")
    val path = layoutPath(dir, "winnowforget",
      "k=4,w=4,cut=250,tomb=mod7eq3,v2", srcTable = "documents.parquet")
    if (!Layout.indexExists(s, s"$path/fps"))
      Dedup.writeWinnowStoreAt(s, path, docs.filter(col("doc_id") < 250),
        "doc_id", "text")
    Dedup.forgetWinnowStoreAt(s, path,
      docs.filter(col("doc_id") % 7 === 3).select(col("doc_id")), "doc_id")
    Dedup.readWinnowStoreFps(s, path)
      .select(col("fp"), col("refs"))
      .orderBy(col("fp"))
  }

  private def cardIncremental(s: SparkSession, dir: String): DataFrame = {
    // incremental data-card maintenance: v1's fingerprint-granular card
    // index is a STORED layout (published with the v1 release); the v2
    // card is derived by exact multiset delta arithmetic over the diff
    // sliver ONLY — the oracle is the full v2 rescan, so incremental ≡
    // rescan is what the hash check proves. Same v1/v2 derivation as
    // d_corpus_diff.
    val docs = t(s, dir, "documents")
    val v1 = docs.filter(col("doc_id") % 23 =!= 0)
    val v2 = docs.filter(col("doc_id") % 29 =!= 0)
      .withColumn("text", when(col("doc_id") % 31 === 0,
        concat(col("text"), lit(" rev2"))).otherwise(col("text")))
    val path = layoutPath(dir, "cardindex", "v1=%23,fpv=nfc", srcTable = "documents.parquet")
    if (!Layout.indexExists(s, path))
      DataCard.cardIndex(v1, "lang", "source", "text")
        .write.mode("overwrite").parquet(path)
    val idx1 = s.read.parquet(path)
    val diff = Dedup.snapshotDiff(v1, v2, "doc_id", "text")
      .filter(col("status") =!= "unchanged").localCheckpoint()
    val removed = v1.join(diff.filter(col("status").isin("removed", "changed"))
      .select(col("doc_id")), Seq("doc_id"), "left_semi")
    val added = v2.join(diff.filter(col("status").isin("added", "changed"))
      .select(col("doc_id")), Seq("doc_id"), "left_semi")
    DataCard.cardFromIndex(
        DataCard.applyDelta(idx1, removed, added, "lang", "source", "text"))
      .orderBy(col("lang"), col("source"))
  }

  private def corpusDiff(s: SparkSession, dir: String): DataFrame = {
    // dataset-versioning audit between two corpus releases, both derived
    // deterministically from documents: v1 lacks the docs "added later"
    // (id % 23 == 0), v2 lacks the "retired" docs (id % 29 == 0) and
    // carries an edit on id % 31 == 0. The diff classifies by canonical
    // FINGERPRINT (not by the planting rules), so the oracle recomputing
    // fingerprints in SQL checks the actual comparison logic; only moved
    // rows are emitted (a 100 TB diff report is the moved sliver, not
    // the corpus).
    val docs = t(s, dir, "documents")
    val v1 = docs.filter(col("doc_id") % 23 =!= 0)
    val v2 = docs.filter(col("doc_id") % 29 =!= 0)
      .withColumn("text",
        when(col("doc_id") % 31 === 0, concat(col("text"), lit(" rev2")))
          .otherwise(col("text")))
    Dedup.snapshotDiff(v1, v2, "doc_id", "text")
      .filter(col("status") =!= "unchanged")
      .orderBy(col("doc_id"))
  }

  /** Format round-trip probe: lineitem written ONCE to `fmt` (layout
    * cache), read back (JSON with the explicit original schema — its
    * ISO-string timestamps must parse back losslessly under the UTC
    * session), aggregated with fixed-point money. The oracle runs the
    * SAME aggregate over the parquet original, so the hash match IS the
    * fidelity proof for the storage format — values, types, timestamps.
    */
  private def formatRoundtrip(s: SparkSession, dir: String,
                              fmt: String): DataFrame = {
    val src = t(s, dir, "lineitem")
    val path = layoutPath(dir, s"${fmt}rt", "src=lineitem,v=1",
      srcTable = "lineitem.parquet")
    if (!Layout.indexExists(s, path))
      src.write.format(fmt).mode("overwrite").save(path)
    val back = s.read.format(fmt).schema(src.schema).load(path)
    back.groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        sum(col("l_quantity")).cast("bigint").as("sum_qty"),
        sum(round(col("l_extendedprice") * 100).cast("bigint"))
          .as("revenue_cents"),
        max(col("l_shipdate")).cast("date").as("last_ship"))
      .orderBy(col("l_returnflag"))
  }

  private def orcRoundtrip(s: SparkSession, dir: String): DataFrame =
    formatRoundtrip(s, dir, "orc")

  private def jsonRoundtrip(s: SparkSession, dir: String): DataFrame =
    formatRoundtrip(s, dir, "json")

  private def csvRoundtrip(s: SparkSession, dir: String): DataFrame =
    // CSV is the lossiest of the three text formats (everything is a
    // string on disk, timestamps included) — the hash match against the
    // parquet original proves the write→parse cycle is value-lossless
    // under the explicit schema
    formatRoundtrip(s, dir, "csv")

  private def tclosenessAudit(s: SparkSession, dir: String): DataFrame = {
    // t-closeness audit — the third classic privacy metric, completing
    // k-anonymity (class sizes) and l-diversity (distinct sensitive
    // values): a class can pass both and still LEAK when its sensitive
    // DISTRIBUTION differs from the table's (everyone in the class is
    // rich). Per (mktsegment, nationkey) class, t = normalized ordered
    // EMD between the class's balance-band distribution and the global
    // one: Σ_prefix |CumP − CumG| / (B−1). All arithmetic exact integers
    // on the common denominator n_c·N (|cum_c·N − cum_g·n_c| per prefix;
    // the full-prefix term is identically 0, so summing all bands equals
    // the textbook B−1 sum); one final double division to micro units
    // (numerators < 2⁵³ at any graded SF — B·n_c·N·10⁶ caps it). Scale
    // shape: one (class, band) groupBy, a bounded classes×bands grid
    // (≤ |segments|·|nations|·|bands| rows — never data-sized), per-class
    // cumsum windows over ~11-row partitions, 1-row totals crossJoin.
    val cust = t(s, dir, "customer")
      .select(col("c_mktsegment"), col("c_nationkey"),
        floor(col("c_acctbal") / 1000).cast("bigint").as("band"))
    val cb = cust.groupBy(col("c_mktsegment"), col("c_nationkey"), col("band"))
      .agg(count(lit(1)).as("cnt"))
    val classes = cb.groupBy(col("c_mktsegment"), col("c_nationkey"))
      .agg(sum(col("cnt")).as("n_c"))
    val gband = cust.groupBy(col("band")).agg(count(lit(1)).as("g_cnt"))
    val totals = cust.agg(count(lit(1)).as("n_all"),
      countDistinct(col("band")).as("n_bands"))
    val w = Window.partitionBy(col("c_mktsegment"), col("c_nationkey"))
      .orderBy(col("band"))
    classes.crossJoin(broadcast(gband))
      .join(cb, Seq("c_mktsegment", "c_nationkey", "band"), "left")
      .na.fill(0L, Seq("cnt"))
      .withColumn("cum_c", sum(col("cnt")).over(w))
      .withColumn("cum_g", sum(col("g_cnt")).over(w))
      .crossJoin(totals)
      .groupBy(col("c_mktsegment"), col("c_nationkey"), col("n_c"),
        col("n_all"), col("n_bands"))
      .agg(sum(abs(col("cum_c") * col("n_all") - col("cum_g") * col("n_c")))
        .as("num"))
      .select(col("c_mktsegment"), col("c_nationkey"), col("n_c"),
        round(col("num").cast("double") * 1000000 /
          (col("n_c") * col("n_all") * (col("n_bands") - 1)))
          .cast("bigint").as("t_micro"))
      .orderBy(col("c_mktsegment"), col("c_nationkey"))
  }

  private def kanonAudit(s: SparkSession, dir: String): DataFrame = {
    // k-anonymity audit over the (mktsegment, nationkey) quasi-identifier
    // pair — the data-governance gate run before a customer table joins a
    // training corpus: the k floor, class count, and how much of the
    // population sits in classes smaller than k=10. One partial-agg
    // groupBy; every output is an exact integer or a ppm of integers.
    val g = t(s, dir, "customer")
      .groupBy(col("c_mktsegment"), col("c_nationkey"))
      .agg(count(lit(1)).as("n"))
    g.agg(min(col("n")).as("k_anonymity"),
        count(lit(1)).as("n_classes"),
        sum(col("n")).cast("bigint").as("n_rows"),
        sum(when(col("n") < 10, col("n")).otherwise(0L)).cast("bigint")
          .as("rows_below_k"))
      .withColumn("below_k_ppm",
        round(lit(1e6) * (col("rows_below_k").cast("double") /
          col("n_rows").cast("double"))).cast("bigint"))
  }

  private def ldiversityAudit(s: SparkSession, dir: String): DataFrame = {
    // l-diversity audit — the companion gate to q_kanon_audit and the
    // d_kanon_mondrian partitioner: k-anonymity alone leaves a class
    // attackable when everyone in it SHARES the sensitive value, so the
    // governance gate also measures, per (mktsegment, nationkey) class,
    // the number of DISTINCT sensitive values (the balance
    // thousand-band). One distinct-counting groupBy, then a 1-row
    // rollup: minimum l, class count, and how much of the population
    // sits in classes with l < 3. Exact integers / ppm-of-integers.
    val g = t(s, dir, "customer")
      .select(col("c_mktsegment"), col("c_nationkey"),
        floor(col("c_acctbal") / 1000).cast("bigint").as("bal_band"))
      .groupBy(col("c_mktsegment"), col("c_nationkey"))
      .agg(count(lit(1)).as("n"), countDistinct(col("bal_band")).as("l"))
    g.agg(min(col("l")).as("l_diversity"),
        count(lit(1)).as("n_classes"),
        sum(col("n")).cast("bigint").as("n_rows"),
        sum(when(col("l") < 3, col("n")).otherwise(0L)).cast("bigint")
          .as("rows_below_l"))
      .withColumn("below_l_ppm",
        round(lit(1e6) * (col("rows_below_l").cast("double") /
          col("n_rows").cast("double"))).cast("bigint"))
  }

  private def goldenRecord(s: SparkSession, dir: String): DataFrame = {
    // survivorship ("golden record"): after q_record_linkage's blocked
    // matching, each base entity keeps ONE surviving record.
    // Arbitration picks the best-evidence candidate (lowest edit
    // distance, then lowest registry key); survivorship rules then
    // merge fields — name from the authoritative base, balance from the
    // newer registry snapshot — keeping the cent drift and the
    // candidate count as lineage. Both windows share the entity-key
    // partition (one exchange, never global); the registry side
    // broadcasts (1/7 of customers); matching is blocked exactly as the
    // linkage query, never all-pairs.
    val base = t(s, dir, "customer").select(col("c_custkey").as("bkey"),
      col("c_name").as("bname"), col("c_nationkey").as("bnat"),
      col("c_acctbal").as("bbal"))
    val twins = t(s, dir, "customer").filter(col("c_custkey") % 7 === 0)
      .select((col("c_custkey") + 1000000L).as("tkey"),
        concat(substring(col("c_name"), 1, 17),
          ((substring(col("c_name"), 18, 1).cast("int") + 1) % 10)
            .cast("string")).as("tname"),
        col("c_nationkey").as("tnat"),
        (col("c_acctbal") + lit(1.0)).as("tbal"))
    val m = broadcast(twins)
      .join(base, col("tnat") === col("bnat") &&
        substring(col("tname"), 1, 16) === substring(col("bname"), 1, 16))
      .withColumn("lev", levenshtein(col("tname"), col("bname")))
      .filter(col("lev") <= 1)
    val byEntity = Window.partitionBy(col("bkey"))
    val w = byEntity.orderBy(asc("lev"), asc("tkey"))
    m.withColumn("rk", row_number().over(w))
      .withColumn("n_candidates", count(lit(1)).over(byEntity))
      .filter(col("rk") === 1)
      .select(col("bkey").as("entity_id"), col("bname").as("golden_name"),
        (round(col("tbal") * 100).cast("bigint") / lit(100.0))
          .as("golden_bal"),
        (round(col("tbal") * 100).cast("bigint") -
          round(col("bbal") * 100).cast("bigint")).as("bal_drift_cents"),
        col("n_candidates"), col("lev").cast("int").as("lev"))
      .orderBy(col("entity_id"))
  }

  private def curriculumOrder(s: SparkSession, dir: String): DataFrame = {
    // curriculum data ordering for training: difficulty = exact token
    // count, 10 exact-NTILE difficulty buckets via OrderStats.globalNtile
    // (coarse-prefix offsets — the prefix is the token count itself, a
    // monotone coarsening of the order key — so NO single-partition
    // window), then training shards consume buckets ROUND-ROBIN
    // easy→hard: epoch position = (seq−1)·10 + bucket, a pure arithmetic
    // key that is unique by construction — the global curriculum order
    // costs no global numbering pass. Unequal bucket tails (NTILE's
    // q/q+1 split) drain naturally: a bucket simply drops out of the
    // rotation when exhausted.
    val docs = t(s, dir, "documents")
      .select(col("doc_id"),
        TextAnalysis.tokenStats(col("text")).getField("n_tokens")
          .as("n_tokens"))
    val buckets = OrderStats.globalNtile(docs, col("n_tokens"),
      col("n_tokens"), "doc_id", 10)
    val w = Window.partitionBy(col("bucket"))
      .orderBy(col("n_tokens"), col("doc_id"))
    docs.join(buckets, "doc_id")
      .withColumn("seq", row_number().over(w))
      .withColumn("pos",
        ((col("seq") - 1) * 10 + col("bucket")).cast("bigint"))
      .select(col("pos"), col("doc_id"), col("n_tokens"), col("bucket"),
        col("seq"))
      .orderBy(col("pos"))
  }

  private def scd2Query(s: SparkSession, dir: String): DataFrame = {
    // SCD2 history table from the d_corpus_diff release pair: one row
    // per (doc, content version) with validity ordinals — the registry
    // view a warehouse keeps of its corpus; full-history rows, not just
    // the moved sliver
    val docs = t(s, dir, "documents")
    val v1 = docs.filter(col("doc_id") % 23 =!= 0)
    val v2 = docs.filter(col("doc_id") % 29 =!= 0)
      .withColumn("text",
        when(col("doc_id") % 31 === 0, concat(col("text"), lit(" rev2")))
          .otherwise(col("text")))
    Dedup.scd2Merge(v1, v2, "doc_id", "text")
      .orderBy(col("doc_id"), col("valid_from"))
  }

  private def hybridRrfQuery(s: SparkSession, dir: String): DataFrame = {
    // hybrid retrieval: BM25 (term-weighted) and winnow span-overlap
    // (verbatim-reuse evidence) rankings fused by reciprocal rank — the
    // two signals surface different duplicates/matches, and RRF is the
    // standard rank-level combiner when scores aren't commensurable.
    // Both source rankings are already graded; the fusion is exact
    // integer arithmetic over their top-10 lists.
    val docs = t(s, dir, "documents")
    val queries = docs.filter(col("doc_id") < 5)
    // BM25 leg reads the STORED postings (the production path — no
    // per-query index rebuild); row-identical to the inline build, so
    // the oracle's inline chain still covers it
    val bm = Retrieval.bm25TopKStored(bm25Store(s, dir), queries,
        "doc_id", "doc_id", "text")
      .select(col("q_id"), col("rnk"), col("doc_id"))
    val wf = Dedup.winnowFingerprints(docs, "doc_id", "text")
    val qwf = wf.filter(col("doc_id") < 5)
      .select(col("doc_id").as("q_id"), col("fp"))
    val cand = wf.select(col("doc_id").as("c_doc"), col("fp"))
    val shared = cand.join(broadcast(qwf), Seq("fp"))
      .filter(col("c_doc") =!= col("q_id"))
      .groupBy(col("q_id"), col("c_doc"))
      .agg(count(lit(1)).as("shared"))
    val ww = Window.partitionBy(col("q_id"))
      .orderBy(desc("shared"), asc("c_doc"))
    val wr = shared.withColumn("rnk", row_number().over(ww))
      .filter(col("rnk") <= 10)
      .select(col("q_id"), col("rnk"), col("c_doc").as("doc_id"))
    Retrieval.rrfFuse(Seq(bm, wr), "doc_id")
      .orderBy(col("q_id"), col("rnk"))
  }

  private def hybridDenseSparseQuery(s: SparkSession, dir: String): DataFrame = {
    // dense+sparse hybrid retrieval over STORED indexes — the production
    // hybrid-search shape: the lexical leg scores the frozen BM25
    // postings store (directory-pruned to the query terms' buckets), the
    // dense leg probes the physical centroid-partitioned IVF layout
    // (directory-pruned to its nprobe lists), and reciprocal-rank fusion
    // combines the two incommensurable scores at rank level. Both stores
    // are the SAME persisted artifacts the d_bm25_topk_stored and
    // s_ann_ivf_stored rows grade — hybrid search here is a zero-copy
    // composition of existing indexes, not a third one. Portable
    // first-8-unit coarse codebook, so the DuckDB twin replays both legs
    // and the integer fusion exactly.
    hybridFusedRanking(s, dir).orderBy(col("q_id"), col("rnk"))
  }

  /** The RRF-fused hybrid ranking both graded consumers share (the
    * fused-list row and its eval-harness row). */
  private def hybridFusedRanking(s: SparkSession, dir: String): DataFrame = {
    val queries = t(s, dir, "documents").filter(col("doc_id") < 5)
    val bm = Retrieval.bm25TopKStored(bm25Store(s, dir), queries,
        "doc_id", "doc_id", "text")
      .select(col("q_id"), col("rnk"), col("doc_id"))
    val dense = hybridDenseLeg(s, dir)
      .select(col("q_id"), col("rnk"), col("doc_id"))
    Retrieval.rrfFuse(Seq(bm, dense), "doc_id")
  }

  private def hybridEvalQuery(s: SparkSession, dir: String): DataFrame =
    // MRR / nDCG@10 of the FUSED dense+sparse ranking under the same
    // leave-self-out same-language qrels as d_retrieval_eval (which
    // evaluates the BM25 leg alone) — the side-by-side that tells a
    // deployment whether hybrid fusion actually lifts its lexical
    // baseline on this corpus. Metrics integer-exact off the shared
    // hard-coded gain table; only the |Q|·10 fused rows and one (id,
    // lang) projection participate.
    Retrieval.retrievalEval(
        // 50 fused rows consumed by three eval passes — checkpoint so the
        // two-store fusion subtree runs ONCE, not per consumer
        hybridFusedRanking(s, dir).localCheckpoint(),
        t(s, dir, "documents"), "doc_id", "lang")
      .orderBy(col("q_id"))

  /** The hybrid rows' shared dense leg: the first-8-unit stored-IVF
    * probe over the 5 query vectors, ids cast to the documents key
    * space. Returns (q_id, rnk, doc_id, score) — RRF uses the ranks,
    * linear fusion the 4-decimal stored-probe scores. */
  private def hybridDenseLeg(s: SparkSession, dir: String): DataFrame = {
    val (path, unitSeeds) = first8UnitIvfStore(s, dir)
    Similarity.ivfTopKStored(s.read.parquet(path),
        t(s, dir, "embeddings").filter(col("vec_id") < 5), "vec_id",
        "embedding", k = 10, coarse = unitSeeds, nprobe = 3)
      .select(col("q_id").cast("bigint").as("q_id"), col("rank").as("rnk"),
        col("c_id").cast("bigint").as("doc_id"), col("sim").as("score"))
  }

  private def hybridLinearQuery(s: SparkSession, dir: String): DataFrame = {
    // the SCORE-level hybrid combiner over the same two stored legs as
    // s_hybrid_dense_sparse: per-query min-max normalization inside each
    // leg's top list, then alpha·dense + (1−alpha)·sparse (alpha = 0.5)
    // in integer micro-units — the "alpha" fusion mode production vector
    // stores expose next to RRF. Same zero-copy two-index composition;
    // this row grades the normalization + convex-sum arithmetic.
    val docs = t(s, dir, "documents")
    val queries = docs.filter(col("doc_id") < 5)
    val bm = Retrieval.bm25TopKStored(bm25Store(s, dir), queries,
        "doc_id", "doc_id", "text")
      .select(col("q_id"), col("doc_id"), col("score"))
    val dense = hybridDenseLeg(s, dir)
      .select(col("q_id"), col("doc_id"), col("score"))
    Retrieval.linearFuse(bm, dense, "doc_id", alpha = 0.5)
      .orderBy(col("q_id"), col("rnk"))
  }

  private def corpusClean(s: SparkSession, dir: String): DataFrame = {
    // the whole batch cleaning pipeline in ONE oracle-checked query:
    // quality gate -> language filter (en) -> exact dedup (lowest id per
    // fingerprint among survivors) -> surviving docs + token counts.
    // Every stage is individually oracle-proven elsewhere; this composes
    // them end to end the way a training-data run actually would.
    // Scale shape: quality columns, language argmax, AND the dedup
    // fingerprint are all map-side column work, so they fuse into ONE
    // corpus scan; the only shuffle is the per-fingerprint window. (A
    // join-per-stage spelling measured 2x slower at sf0.1 and would scan
    // the 100 TB corpus three times.)
    // one fused kernel run per row: the tokenStats struct is materialized
    // in its own projection and feeds the 3 token-quality columns AND the
    // 4 language scores (7 consumers; re-tokenizing per column measured
    // 2-3x slower, and the fused kernel drops the per-token lambdas too)
    val docs = t(s, dir, "documents")
      .select(col("doc_id"), col("text"), TextAnalysis.tokenStats(col("text")).as("ts"))
    val withQuality = TextAnalysis.qualityColumnsFromStats(col("text"), col("ts"))
      .foldLeft(docs) { case (d, (name, c)) => d.withColumn(name, c) }
    val langs = TextAnalysis.langMarkers.keys.toSeq.sorted
    val scored = TextAnalysis.langScoresFromStats(col("ts")).foldLeft(withQuality) {
      case (d, (lang, c)) => d.withColumn(s"s_$lang", c)
    }
    val best = langs.map(l => struct(col(s"s_$l").as("score"), lit(l).as("lang")))
      .reduce((a, b) => when(b.getField("score") > a.getField("score"), b).otherwise(a))
    val survivors = scored
      .withColumn("lang",
        when(best.getField("score") === 0, lit("und")).otherwise(best.getField("lang")))
      .filter(col("n_tokens") >= 25 &&
        col("stopword_ratio") <= 0.1 && col("punct_ratio") <= 0.2 &&
        col("mean_token_len").between(2.0, 12.0) && col("lang") === "en")
      .select(col("doc_id"), col("n_tokens"),
        TextAnalysis.fingerprint(col("text")).as("fp"))
    val w = Window.partitionBy(col("fp")).orderBy(col("doc_id"))
    survivors.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("n_tokens"))
      .orderBy(col("doc_id"))
  }

  private def filterFunnel(s: SparkSession, dir: String): DataFrame = {
    // pipeline observability: the per-source funnel report a cleaning run
    // ships with — how many docs survive each stage (quality gate →
    // lang=en → exact-dedup keeper) and the token mass that reaches
    // training. Same ONE-fused-scan shape as d_corpus_clean, but stage
    // predicates become integer FLAGS instead of filters so every stage
    // is counted in a single conditional aggregate; the keeper flag rides
    // the same per-fingerprint window with non-survivors ordered LAST
    // (rank 1 lands on the lowest-id survivor iff the group has one).
    // Only shuffles: that window and the per-source rollup.
    val docs = t(s, dir, "documents")
      .select(col("doc_id"), col("source"), col("text"),
        TextAnalysis.tokenStats(col("text")).as("ts"))
    val withQuality = TextAnalysis.qualityColumnsFromStats(col("text"), col("ts"))
      .foldLeft(docs) { case (d, (name, c)) => d.withColumn(name, c) }
    val langs = TextAnalysis.langMarkers.keys.toSeq.sorted
    val scored = TextAnalysis.langScoresFromStats(col("ts")).foldLeft(withQuality) {
      case (d, (lang, c)) => d.withColumn(s"s_$lang", c)
    }
    val best = langs.map(l => struct(col(s"s_$l").as("score"), lit(l).as("lang")))
      .reduce((a, b) => when(b.getField("score") > a.getField("score"), b).otherwise(a))
    val staged = scored
      .withColumn("lang_pred",
        when(best.getField("score") === 0, lit("und")).otherwise(best.getField("lang")))
      .withColumn("q_pass",
        (col("n_tokens") >= 25 &&
          col("stopword_ratio") <= 0.1 && col("punct_ratio") <= 0.2 &&
          col("mean_token_len").between(2.0, 12.0)).cast("int"))
      .withColumn("s_pass",
        (col("q_pass") === 1 && col("lang_pred") === "en").cast("int"))
      .withColumn("fp", TextAnalysis.fingerprint(col("text")))
    val w = Window.partitionBy(col("fp"))
      .orderBy((lit(1) - col("s_pass")).asc, col("doc_id").asc)
    staged.withColumn("kept",
        ((col("s_pass") === 1) && (row_number().over(w) === 1)).cast("int"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_raw"),
        sum(col("q_pass")).cast("bigint").as("n_quality"),
        sum(col("s_pass")).cast("bigint").as("n_lang"),
        sum(col("kept")).cast("bigint").as("n_kept"),
        sum(when(col("kept") === 1, col("n_tokens")).otherwise(0L))
          .cast("bigint").as("kept_tokens"))
      .orderBy(col("source"))
  }

  private def chunkDocs(s: SparkSession, dir: String): DataFrame =
    // context-window chunking: 20-token chunks every 15 tokens (overlap 5),
    // final partial chunk kept — pure map-side, oracle-checked content
    TextAnalysis.chunk(t(s, dir, "documents"), "doc_id", "text",
        chunkTokens = 20, stride = 15)
      .orderBy(col("doc_id"), col("chunk_id"))

  private def htmlExtract(s: SparkSession, dir: String): DataFrame = {
    // documents.text is plain prose, so the query DERIVES a deterministic
    // HTML wrapper per doc (identical construction in the SQL twin:
    // script + style + comment + tags + entities) — the operator under
    // test is the extraction, which must invert the wrap back to clean
    // text. Pure map-side string kernels; at 100 TB of crawl HTML this
    // whole query is a scan.
    val docs = t(s, dir, "documents")
    val idStr = col("doc_id").cast("string")
    val html = concat(
      lit("<html><head><style>p{color:red}</style>" +
        "<script type=\"text/js\">var n = "), idStr,
      lit(" &amp;&amp; 1;</script></head><body><!-- doc "), idStr,
      lit(" --><h1>Doc "), idStr,
      lit("</h1><p class=\"body\">"),
      replace(col("text"), lit(" the "), lit(" &amp; ")),
      lit("</p><br/></body></html>"))
    TextAnalysis.extractHtml(
        docs.select(col("doc_id"), html.as("html")), "doc_id", "html")
      .orderBy(col("doc_id"))
  }

  /** The DERIVED deterministic link graph shared by d_link_rank and
    * d_hits_rank (documents carry no links, so each doc links to three
    * modular neighbors — the same rule in both SQL twins). N reaches the
    * edge builder as a broadcast 1-row frame — the same benign pattern as
    * d_tfidf_terms' corpus total.
    */
  private def derivedEdges(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select(col("doc_id"))
    val cnt = docs.agg(count(lit(1)).as("n"))
    docs.crossJoin(broadcast(cnt))
      .select(col("doc_id").as("src"), explode(array(
        pmod(col("doc_id") + 17, col("n")),
        pmod(col("doc_id") + 101, col("n")),
        pmod(col("doc_id") * 3 + 7, col("n")))).as("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct()
  }

  private def kcoreQuery(s: SparkSession, dir: String): DataFrame = {
    // dense-subgraph extraction: the k=8 core of the derived graph with a
    // PLANTED clique (doc_id % 50 == 0, pairwise connected). The base
    // graph is 6-regular-ish, so peeling drops every organic node in one
    // round and the clique survives on its internal degree — the
    // spam-farm shape k-core exists to find. The clique crossJoin is
    // FIXTURE construction (the planted pattern), not operator cost: the
    // operator takes any edge list. 4 peel rounds; fixpoint-within-budget
    // is spec-pinned (a 5th round changes nothing).
    val docs = t(s, dir, "documents").select(col("doc_id"))
    val planted = docs.filter(col("doc_id") % 50 === 0)
    val clique = planted.select(col("doc_id").as("src"))
      .crossJoin(planted.select(col("doc_id").as("dst")))
      .filter(col("src") < col("dst"))
    LinkRank.kCore(derivedEdges(s, dir).unionByName(clique),
        k = 8, rounds = 4)
      .orderBy(col("node"))
  }

  private def trianglesQuery(s: SparkSession, dir: String): DataFrame = {
    // exact triangle census: degree orientation caps every vertex's
    // oriented out-degree at O(sqrt m), so wedge enumeration can't blow
    // up at a hub — the third graph signal next to PageRank and HITS.
    // The link-rank offsets {17, 101, 3a+7} are triangle-free by
    // construction, so this graph adds the +34 chord that closes
    // a → a+17 → a+34 — one triangle per vertex, non-vacuous at every SF
    val docs = t(s, dir, "documents").select(col("doc_id"))
    val cnt = docs.agg(count(lit(1)).as("n"))
    val chord = docs.crossJoin(broadcast(cnt))
      .select(col("doc_id").as("src"),
        pmod(col("doc_id") + 34, col("n")).as("dst"))
      .filter(col("src") =!= col("dst"))
    LinkRank.triangles(derivedEdges(s, dir).unionAll(chord))
  }

  private def hitsRank(s: SparkSession, dir: String): DataFrame =
    // Kleinberg HITS on the derived graph: max-normalized fixed-point
    // integer iterate — the authority/hub complement to d_link_rank
    LinkRank.hits(derivedEdges(s, dir), iters = 3)
      .orderBy(col("node"))

  private def linkRank(s: SparkSession, dir: String): DataFrame = {
    // link-based corpus ranking on the derived graph; what's under test is
    // the fixed-point PageRank iterate, which is integer-exact cross-engine
    LinkRank.pageRank(derivedEdges(s, dir), iters = 4)
      .orderBy(col("node"))
  }

  private def graphBfs(s: SparkSession, dir: String): DataFrame = {
    // multi-source BFS hop distance on the derived graph (sources: every
    // 97th doc), capped at 4 hops — frontier expansion with visited-set
    // anti-join, so each node's neighbors expand once regardless of path
    // count; the oracle is the recursive-CTE spelling with min(hops)
    val sources = t(s, dir, "documents")
      .filter(pmod(col("doc_id"), lit(97)) === 0)
      .select(col("doc_id").as("node"))
    LinkRank.bfsHops(derivedEdges(s, dir), sources, maxHops = 4)
      .orderBy(col("node"))
  }

  private def lpaCommunities(s: SparkSession, dir: String): DataFrame =
    // deterministic synchronous label propagation on the derived graph
    // (3 rounds, smallest-label tie-break): community detection next to
    // CC/PageRank/HITS — argmax is a partial-aggregable max(struct),
    // never a per-node window sort
    LinkRank.labelPropagation(derivedEdges(s, dir), iters = 3)
      .orderBy(col("node"))

  private def graphSssp(s: SparkSession, dir: String): DataFrame = {
    // weighted shortest paths (≤4 edges) from the same sources over the
    // derived graph with deterministic integer weights 1 + (src+2·dst)%7
    // — Bellman–Ford with an improved-only frontier, so converged
    // regions stop costing; the oracle enumerates ≤4-edge paths
    val sources = t(s, dir, "documents")
      .filter(pmod(col("doc_id"), lit(97)) === 0)
      .select(col("doc_id").as("node"))
    val weighted = derivedEdges(s, dir).select(col("src"), col("dst"),
      (pmod(col("src") + lit(2) * col("dst"), lit(7)) + 1).as("w"))
    LinkRank.ssspDistances(weighted, sources, maxEdges = 4)
      .orderBy(col("node"))
  }

  private def freqPairs(s: SparkSession, dir: String): DataFrame =
    // market-basket pair mining over order baskets: a-priori item prune
    // BEFORE the quadratic per-basket expansion; exact integer support
    // counts (pair, each item, total baskets) so lift/confidence are
    // caller-side rationals
    Baskets.frequentPairs(t(s, dir, "lineitem"),
        basketCol = "l_orderkey", itemCol = "l_partkey",
        minItemSupport = 2L, minPairSupport = 2L)
      .orderBy(col("item_a"), col("item_b"))

  private def gapFill(s: SparkSession, dir: String): DataFrame =
    // per-user daily series with calendar gaps materialized at n=0 and
    // forward-filled from the last observed day; sequence-exploded grid
    // (bounded by time span), one window per key — no calendar cross join
    TimeSeries.gapFillDaily(t(s, dir, "events"), "user_id", "ts")
      .orderBy(col("key"), col("day"))

  private def trendFit(s: SparkSession, dir: String): DataFrame =
    // exact least-squares trend of daily event volume per type: slope as
    // a BIGINT num/den rational over the gap-filled grid (absent days are
    // y=0 observations) — one partial-aggregable groupBy, no floats
    TimeSeries.trendFit(t(s, dir, "events"), "event_type", "ts")
      .orderBy(col("key"))

  private def maxConcurrency(s: SparkSession, dir: String): DataFrame =
    // sweep-line peak concurrency per day under a 5-minute hold: +1/−1
    // endpoints, one day-partitioned running sum — no global ordering;
    // peak_at emitted as exact epoch micros for cross-engine comparison
    TimeSeries.maxConcurrencyDaily(t(s, dir, "events"), "ts",
        holdSeconds = 300)
      .select(col("day"), col("peak"),
        unix_micros(col("peak_at")).as("peak_at_us"))
      .orderBy(col("day"))

  private def spanClean(s: SparkSession, dir: String): DataFrame =
    // exact duplicated-span REMOVAL — the rewrite stage d_dup_spans only
    // audits: tokens covered by any cross-doc-duplicated 3-gram are
    // dropped in place and the doc rebuilt from the survivors
    // spread: posexploded md5 3-gram windows are the cost; A/B'd -0.7 s
    Dedup.duplicatedSpanClean(tSpread(s, dir, "documents"), "doc_id", "text")
      .orderBy(col("doc_id"))

  private def dupSpans(s: SparkSession, dir: String): DataFrame =
    // per-doc duplicated-span coverage — the audit stage of exact-substring
    // dedup: which fraction of a doc's 3-gram windows (positional, repeats
    // counted) also occurs in some OTHER doc
    // spread: same window-explode shape as d_span_clean; A/B'd -0.3 s
    Dedup.duplicatedSpanStats(tSpread(s, dir, "documents"), "doc_id", "text")
      .orderBy(col("doc_id"))

  /** Trained-classifier split shared by the d_nb_* family: even doc_ids
    * train, odd doc_ids are scored — the lmScoreFrozen split, so the
    * model is always frozen relative to the docs it classifies.
    */
  private def nbSplit(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val d = t(s, dir, "documents")
    (d.filter(col("doc_id") % 2 === 0), d.filter(col("doc_id") % 2 === 1))
  }

  private def nbTrainQuery(s: SparkSession, dir: String): DataFrame = {
    // the trained langid model itself, audited: top-10 most class-lifting
    // terms per language by fixed-point NB weight
    val (tr, _) = nbSplit(s, dir)
    val w = Window.partitionBy(col("label")).orderBy(desc("w"), asc("term"))
    Classify.nbModel(tr, "text", "lang")
      .withColumn("rnk", row_number().over(w)).filter(col("rnk") <= 10)
      .select(col("label").as("lang"), col("rnk"), col("term"), col("cnt"),
        col("w"))
      .orderBy(col("lang"), col("rnk"))
  }

  private def nbPredictQuery(s: SparkSession, dir: String): DataFrame = {
    // frozen-model prediction over the held-out half: per doc the argmax
    // language, its integer score, and whether the ground-truth lang column
    // agrees — the trained upgrade of d_lang_predict's stopword heuristic
    val (tr, te) = nbSplit(s, dir)
    val model = Classify.nbModel(tr, "text", "lang")
    val base = Classify.nbClassBase(tr, "doc_id", "text", "lang")
    Classify.nbPredict(te, model, base, "doc_id", "text")
      .join(te.select(col("doc_id"), col("lang").as("true_lang")), "doc_id")
      .select(col("doc_id"), col("true_lang"), col("pred"), col("score"),
        (col("pred") === col("true_lang")).cast("bigint").as("correct"))
      .orderBy(col("doc_id"))
  }

  /** Write-once NB model store for the SF dir: the frozen (label, term)
    * integer weights + per-class scalars of the even-doc_id train split,
    * keyed like every layout cache on dir|config|src-mtime.
    */
  private def nbStore(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val path = layoutPath(dir, "nbmodel", "split=even,tok=ws,v3",
      srcTable = "documents.parquet")
    if (!Layout.indexExists(s, s"$path/base")) {
      val (tr, _) = nbSplit(s, dir)
      Classify.writeNbStore(tr, "doc_id", "text", "lang", path)
    }
    Classify.readNbStore(s, path)
  }

  private def nbMergeStored(s: SparkSession, dir: String): DataFrame = {
    // incremental model training, graded: the stored model holds the
    // even docs < 300; even docs >= 300 FOLD IN (count adds re-derived
    // through the shared weight expressions — mergeNbStoreAt), and the
    // merged store predicts the held-out half. The oracle is the FULL
    // even-split retrain (d_nb_predict_stored's own SQL) — the hash
    // match IS merged ≡ retrain, the d_bm25_incremental pattern for the
    // model registry. Build + merge are cached as ONE unit behind a
    // done-marker (a merge is not idempotent — the arriving-batch
    // contract — so the graded row must never re-merge a cached store).
    val (tr, te) = nbSplit(s, dir)
    val path = layoutPath(dir, "nbmerge", "split=even,cut=300,tok=ws,v2",
      srcTable = "documents.parquet")
    if (!Layout.indexExists(s, s"$path/zz_done")) {
      import s.implicits._
      Classify.writeNbStore(tr.filter(col("doc_id") < 300),
        "doc_id", "text", "lang", path)
      Classify.mergeNbStoreAt(s, path, tr.filter(col("doc_id") >= 300),
        "doc_id", "text", "lang")
      Seq(1).toDF("ok").coalesce(1).write.mode("overwrite")
        .parquet(s"$path/zz_done")
    }
    val (model, base) = Classify.readNbStore(s, path)
    Classify.nbPredict(te, model, base, "doc_id", "text")
      .join(te.select(col("doc_id"), col("lang").as("true_lang")), "doc_id")
      .select(col("doc_id"), col("true_lang"), col("pred"), col("score"),
        (col("pred") === col("true_lang")).cast("bigint").as("correct"))
      .orderBy(col("doc_id"))
  }

  private def nbForgetStored(s: SparkSession, dir: String): DataFrame = {
    // EXACT model unlearning — the stored-NB erasure cell: the weights
    // are rounded functions of exact integer counts, so subtracting the
    // tombstoned docs' own (label, term) counts and re-deriving through
    // the shared expressions is bit-identical to retraining on the
    // survivors, which is exactly what the oracle's SQL retrain replays.
    // Tombstones = every 10th train doc, supplied WITH content (model
    // forget runs before corpus erasure); membership sidecar makes
    // re-runs no-ops. The graded row predicts the held-out half against
    // the forgotten store.
    val (tr, te) = nbSplit(s, dir)
    val path = layoutPath(dir, "nbforget",
      "split=even,tok=ws,tomb=mod10eq0,v2", srcTable = "documents.parquet")
    if (!Layout.indexExists(s, s"$path/base"))
      Classify.writeNbStore(tr, "doc_id", "text", "lang", path)
    Classify.forgetNbStoreAt(s, path, tr.filter(col("doc_id") % 10 === 0),
      "doc_id", "text", "lang")
    val (model, base) = Classify.readNbStore(s, path)
    Classify.nbPredict(te, model, base, "doc_id", "text")
      .join(te.select(col("doc_id"), col("lang").as("true_lang")), "doc_id")
      .select(col("doc_id"), col("true_lang"), col("pred"), col("score"),
        (col("pred") === col("true_lang")).cast("bigint").as("correct"))
      .orderBy(col("doc_id"))
  }

  private def nbPredictStoredQuery(s: SparkSession, dir: String): DataFrame = {
    // d_nb_predict against the STORED weights: the train half is never
    // re-tokenized — one test-half scan + two broadcast weight tables
    // (row-identical to the inline train, pinned in ClassifySpec)
    val (_, te) = nbSplit(s, dir)
    val (model, base) = nbStore(s, dir)
    Classify.nbPredict(te, model, base, "doc_id", "text")
      .join(te.select(col("doc_id"), col("lang").as("true_lang")), "doc_id")
      .select(col("doc_id"), col("true_lang"), col("pred"), col("score"),
        (col("pred") === col("true_lang")).cast("bigint").as("correct"))
      .orderBy(col("doc_id"))
  }

  private def lengthQuantilesExact(s: SparkSession, dir: String): DataFrame = {
    // per-language EXACT length quantiles with no per-group sort: all
    // groups refine together through the shared histogram passes
    // (OrderStats.groupedExactQuantiles) — the scale path behind the
    // ntile-based d_length_deciles audit
    import s.implicits._
    OrderStats.groupedExactQuantiles(
        t(s, dir, "documents"), "lang", "n_chars", Seq(0.5, 0.9))
      .toDF("lang", "p", "k", "value")
      .orderBy(col("lang"), col("p"))
  }

  private def tokenHhPerLang(s: SparkSession, dir: String): DataFrame = {
    // per-language stopword discovery: ONE grouped Misra-Gries pass
    // nominates candidates per language, then an exact count restricted
    // to candidates — per-group thresholds at 1% of each language's
    // token mass (> N_g/257, so completeness holds per group)
    val toks = t(s, dir, "documents")
      .select(col("lang"),
        explode(TextAnalysis.tokens(lower(trim(col("text"))))).as("term"))
    HeavyHitters.exactPerGroup(toks, "lang", "term", minShare = 0.01, k = 256)
      .orderBy(col("lang"), desc("cnt"), asc("term"))
  }

  private def exactQuantiles2Pass(s: SparkSession, dir: String): DataFrame = {
    // exact order statistics WITHOUT a global sort: iterative histogram
    // refinement finds the value at rank ceil(p·n) — counts-only
    // shuffles, count-verified bounded fetches (OrderStats.kthSmallest);
    // the oracle is the brute-force row_number() = k spelling
    import s.implicits._
    val rows = graft.operators.OrderStats.exactQuantiles(
      t(s, dir, "events"), "value", Seq(0.25, 0.5, 0.75, 0.95))
    rows.toDF("p", "k", "value").orderBy(col("p"))
  }

  private def sourceDriftQuery(s: SparkSession, dir: String): DataFrame =
    // corpus-health drift monitor: per source, fixed-point JS divergence
    // of its token mix vs the corpus over the shared global top-100
    // support (TextAnalysis.sourceDrift — the char-entropy kernel rule)
    TextAnalysis.sourceDrift(t(s, dir, "documents"), "text", "source")

  private def cdcChunkStatsQuery(s: SparkSession, dir: String): DataFrame =
    // content-defined chunking audit: per doc, how the rolling-hash
    // boundaries cut it (count, min/max chunk length, an order-sensitive
    // md5 over the length sequence) — the insert-resilient block-dedup
    // primitive, all codegen'd HOF expressions, zero shuffle
    TextAnalysis.cdcChunkStats(t(s, dir, "documents"), "doc_id", "text")
      .orderBy(col("doc_id"))

  private def cdcDedupQuery(s: SparkSession, dir: String): DataFrame = {
    // block-level dedup mass by source: repeated CDC chunks (shared
    // boilerplate blocks, templated intros) show up as n_chunks >
    // n_distinct — the chunk-granular sibling of d_source_overlap;
    // only (source, fp) digests shuffle
    val docs = t(s, dir, "documents")
    TextAnalysis.cdcChunks(docs, "doc_id", "text")
      .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_chunks"),
        countDistinct(col("fp")).as("n_distinct"))
      .withColumn("dup_chunks", col("n_chunks") - col("n_distinct"))
      .orderBy(col("source"))
  }

  /** Write-once CDC chunk-fingerprint index of the historical corpus
    * (docs < 250): distinct 32-char md5s, fp-clustered — 16 bytes of
    * digest per distinct block, the winnowindex contract for CDC.
    */
  private def cdcStore(s: SparkSession, dir: String): DataFrame = {
    val path = layoutPath(dir, "cdcindex", "k=8,mod=64,cut=250",
      srcTable = "documents.parquet")
    if (!Layout.indexExists(s, path))
      TextAnalysis.cdcChunks(
          t(s, dir, "documents").filter(col("doc_id") < 250),
          "doc_id", "text")
        .select(col("fp")).distinct()
        .repartition(8, col("fp")).sortWithinPartitions(col("fp"))
        .write.mode("overwrite").parquet(path)
    s.read.parquet(path)
  }

  private def cdcIngestQuery(s: SparkSession, dir: String): DataFrame =
    // block-level ingest gate against the STORED chunk index: arriving
    // docs (>= 250) are rejected when over half their content-defined
    // chunks already exist in history — recombined content caught by
    // exact chunk identity; only the batch is chunked
    TextAnalysis.cdcIngest(
        t(s, dir, "documents").filter(col("doc_id") >= 250),
        cdcStore(s, dir), "doc_id", "text")
      .orderBy(col("doc_id"))

  private def sourceOverlapQuery(s: SparkSession, dir: String): DataFrame =
    // provenance audit: per source pair, how many shared near-dup keys
    // (fingerprint of the first 200 canonical chars — template/lede
    // collisions) both contain. The prefix key keeps the graded matrix
    // non-empty at every SF where exact cross-source copies are rare,
    // so the oracle hash actually exercises the pair expansion.
    Dedup.sourceOverlap(t(s, dir, "documents"), "text", "source",
        prefixChars = 200)
      .orderBy(col("src_a"), col("src_b"))

  private def nbConfusionQuery(s: SparkSession, dir: String): DataFrame = {
    // the model-eval confusion matrix over the held-out half: (true,
    // predicted) language counts — one aggregate over the same frozen
    // argmax rows d_nb_predict emits per doc
    val (tr, te) = nbSplit(s, dir)
    val model = Classify.nbModel(tr, "text", "lang")
    val base = Classify.nbClassBase(tr, "doc_id", "text", "lang")
    Classify.nbPredict(te, model, base, "doc_id", "text")
      .join(te.select(col("doc_id"), col("lang").as("true_lang")), "doc_id")
      .groupBy(col("true_lang"), col("pred"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("true_lang"), col("pred"))
  }

  /** Chunk-id bit packing for the RAG rows: cid = doc_id·2²⁰ + chunk_id,
    * parent = cid >> 20. The 2²⁰ multiplier keeps the encoding collision-
    * free for any document under ~8.4M tokens (2²⁰ chunks at stride 8) —
    * a >64 MB single doc, far past any crawl's doc-length cap — where the
    * earlier ·1000 packing silently mis-attributed chunks of 8k+-token
    * docs. Shift arithmetic is exact and identical in both engines
    * (DuckDB replays it as `* 1048576` / `// 1048576` on BIGINTs).
    */
  private val ChunkIdBits = 20

  private def chunkCidCorpus(d: DataFrame): DataFrame =
    TextAnalysis.slidingChunks(d, "doc_id", "text", size = 16, stride = 8)
      .select((shiftleft(col("doc_id"), ChunkIdBits) + col("chunk_id"))
        .as("cid"), col("chunk_text"))

  private def cidParent(cid: Column): Column = shiftright(cid, ChunkIdBits)

  private def chunkBm25(s: SparkSession, dir: String): DataFrame = {
    // the RAG composition row: retrieval over CHUNKS, not docs — sliding
    // windows become the BM25 corpus (chunk id = doc_id·2^20 + chunk_id,
    // exact in both engines), the same five doc-queries rank the top-10
    // chunks. Proves the chunker's output drives the retrieval stack
    // end-to-end; chunking stays map-side, BM25 adds its usual three
    // aggregates over the (bigger) chunk corpus.
    val d = t(s, dir, "documents")
    Retrieval.bm25TopK(chunkCidCorpus(d), d.filter(col("doc_id") < 5),
        "cid", "chunk_text", "doc_id", "text")
      .orderBy(col("q_id"), col("rnk"))
  }

  /** Write-once BM25 store over the CHUNK corpus — the frozen index the
    * negative-mining / diversification rows score against (chunking +
    * the three postings aggregates paid at ingest, not per query). Same
    * mergeable layout and cache key discipline as [[bm25Store]].
    */
  private def chunkBm25Store(s: SparkSession, dir: String): Retrieval.Bm25Store = {
    val path = layoutPath(dir, "bm25chunks",
      "tok=ws,buckets=16,chunk=16x8,cid=shl20,v4",
      srcTable = "documents.parquet")
    if (!Layout.indexExists(s, s"$path/stats"))
      Retrieval.writeBm25Store(chunkCidCorpus(t(s, dir, "documents")),
        "cid", "chunk_text", path)
    Retrieval.readBm25Store(s, path)
  }

  private def hardNegatives(s: SparkSession, dir: String): DataFrame = {
    // retrieval-training negative mining (the DPR recipe): for each query
    // doc, the top-10 BM25 chunks EXCLUDING the query doc's own chunks —
    // lexically-confusable non-matches, the hard negatives a dual-encoder
    // trains against. Scores come from the STORED chunk postings (the
    // production shape: mining runs over a frozen index, never re-chunks
    // the corpus); the own-doc exclusion (cid >> 20 = parent doc) runs on
    // the SCORED stream before ranking, so the only window is ONE top-10
    // WindowGroupLimit — never a rank of the full candidate list.
    val d = t(s, dir, "documents")
    val scores = Retrieval.bm25ScoresStored(chunkBm25Store(s, dir),
        d.filter(col("doc_id") < 5), "cid", "doc_id", "text")
      .filter(cidParent(col("cid")) =!= col("q_id"))
    Retrieval.topKOf(scores, "cid", topK = 10, rankName = "neg_rank")
      .orderBy(col("q_id"), col("neg_rank"))
  }

  private def diverseTopK(s: SparkSession, dir: String): DataFrame = {
    // result diversification by SOURCE CAPPING — the deterministic,
    // integer-exact member of the MMR family (greedy float-mixture MMR
    // was considered and rejected for grading: its objective mixes
    // relevance and similarity on arbitrary float scales, so no oracle
    // can pin it bit-for-bit): at most 2 chunks per parent doc may enter
    // a query's top-10, so one long document cannot monopolize the
    // context window handed to a generator. Scores come from the STORED
    // chunk postings; both windows rank the scored stream directly with
    // literal limits — the per-(q, parent) cap is a WindowGroupLimit-2,
    // the re-rank a WindowGroupLimit-10; the full candidate list is
    // never globally ranked and the corpus is never re-chunked.
    val d = t(s, dir, "documents")
    val scores = Retrieval.bm25ScoresStored(chunkBm25Store(s, dir),
        d.filter(col("doc_id") < 5), "cid", "doc_id", "text")
    val perParent = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id"), cidParent(col("cid")))
      .orderBy(desc("score"), asc("cid"))
    val capped = scores.withColumn("__pr", row_number().over(perParent))
      .filter(col("__pr") <= 2).drop("__pr")
    Retrieval.topKOf(capped, "cid", topK = 10, rankName = "div_rank")
      .orderBy(col("q_id"), col("div_rank"))
  }

  private def coChunkPairsQuery(s: SparkSession, dir: String): DataFrame =
    // contrastive positives (SimCSE/Contriever co-chunks): two
    // NON-overlapping 16-token windows of the same doc pair up for
    // dual-encoder training — both slices come off the one token array
    // before the explode, pure map-side, no self-join
    TextAnalysis.coChunkPairs(t(s, dir, "documents"), "doc_id", "text",
        size = 16, stride = 8)
      .orderBy(col("doc_id"), col("a_chunk"))

  private def contrastiveExamplesQuery(s: SparkSession, dir: String): DataFrame =
    // the composed dual-encoder record, end to end: anchors/positives are
    // the co-chunk pairs of docs < 5, negatives the anchor's top-3 BM25
    // chunks off the STORED chunk postings with the whole parent doc
    // shift-excluded on the scored stream — (anchor, positive, mined
    // negatives) in one graded row; streaming parity pinned in
    // StreamingSpec (each doc depends only on itself + the frozen store)
    Retrieval.contrastiveExamples(
        t(s, dir, "documents").filter(col("doc_id") < 5),
        chunkBm25Store(s, dir), "doc_id", "text",
        size = 16, stride = 8, negK = 3, chunkIdBits = ChunkIdBits)
      .orderBy(col("doc_id"), col("a_chunk"), col("neg_rank"))

  private def fimSplitQuery(s: SparkSession, dir: String): DataFrame =
    // fill-in-the-middle example construction: deterministic md5-derived
    // cut points split each doc into (prefix, middle, suffix), emitted
    // PSM — the code-LM infill preprocessing, reproducible across
    // re-runs/re-shards because the cuts depend only on doc_id
    TextAnalysis.fimSplit(t(s, dir, "documents"), "doc_id", "text")
      .orderBy(col("doc_id"))

  private def bm25fTopKQuery(s: SparkSession, dir: String): DataFrame = {
    // fielded retrieval (the BM25F shape): title = first 8 tokens,
    // body = the rest, title hits weighted 2× with field-normalized tf
    // combined BEFORE saturation — a title match outranks the same match
    // buried mid-document, the structure-aware ranking every document
    // search runs; whole-doc df, contributions 1e6-fixed-point like
    // every retrieval row
    val d = t(s, dir, "documents")
    Retrieval.bm25fTopK(d, d.filter(col("doc_id") < 5),
        "doc_id", "text", "doc_id", "text")
      .orderBy(col("q_id"), col("rnk"))
  }

  /** Write-once FIELDED postings for the SF dir — (id, f, term, tf,
    * dl_f) rows term-hashed into 16 files plus the 2-row per-field
    * stats; field weights and k1/b stay query-time knobs (nothing
    * tunable is frozen into the layout).
    */
  private def bm25fStore(s: SparkSession, dir: String,
                         cut: Long = Long.MaxValue): Retrieval.Bm25fStore = {
    val cfg = if (cut == Long.MaxValue) "all" else cut.toString
    val path = layoutPath(dir, "bm25f", s"tok=ws,title=8,buckets=16,v4,cut=$cfg",
      srcTable = "documents.parquet")
    if (!Layout.indexExists(s, s"$path/stats"))
      Retrieval.writeBm25fStore(
        t(s, dir, "documents").filter(col("doc_id") < cut), "doc_id", "text",
        path, titleTokens = 8)
    Retrieval.readBm25fStore(s, path)
  }

  private def bm25fStoredQuery(s: SparkSession, dir: String): DataFrame =
    // the same fielded ranking as d_bm25f_topk but scoring the STORED
    // fielded postings — identical expressions over identical integers
    // (shared scoring tail), so row-identical to the inline build and
    // covered by the same oracle; the query path never re-tokenizes or
    // re-splits fields
    Retrieval.bm25fTopKStored(bm25fStore(s, dir),
        t(s, dir, "documents").filter(col("doc_id") < 5),
        "doc_id", "doc_id", "text")
      .orderBy(col("q_id"), col("rnk"))

  private def bm25PrfQuery(s: SparkSession, dir: String): DataFrame = {
    // pseudo-relevance-feedback expansion (RM3-lite): each query's
    // BM25 top-10 acts as implicit feedback, the 5 best NEW terms by
    // (feedback tf × idf_micro — exact integers) join the term set, and
    // the expanded query re-scores. Vocabulary-mismatch repair with no
    // training pass; both ranking passes share the same corpus
    // aggregates (identical subplans → reused exchanges)
    val d = t(s, dir, "documents")
    Retrieval.bm25PrfTopK(d, d.filter(col("doc_id") < 5),
        "doc_id", "text", "doc_id", "text")
      .orderBy(col("q_id"), col("rnk"))
  }

  private def bm25PrfStoredQuery(s: SparkSession, dir: String): DataFrame =
    // the same RM3-lite expansion as d_bm25_prf but EVERY stage leans on
    // the write-once store: pass-1 ranking and pass-2 re-scoring scan
    // only query-term postings, feedback term mining reads the postings
    // integers (one scan, no re-tokenize), and idf comes from the stored
    // |V|-row df table — the corpus text never loads. Row-identical to
    // the inline build (same integers through shared expressions, pinned
    // in RetrievalSpec), so the inline oracle grades it.
    Retrieval.bm25PrfTopKStored(bm25Store(s, dir),
        t(s, dir, "documents").filter(col("doc_id") < 5),
        "doc_id", "doc_id", "text")
      .orderBy(col("q_id"), col("rnk"))

  private def bm25fIncrementalQuery(s: SparkSession, dir: String): DataFrame = {
    // fielded incremental maintenance, graded: the FIELDED store holds
    // docs < 250; docs >= 250 fold in by postings union + per-field
    // stats adds + ONE corpus-level n_docs add (whole-doc df needs no
    // merge — the layout derives it from query-restricted postings at
    // score time). No historical re-tokenize, no field re-split; the
    // full-corpus BM25F twin hash-checks increment ≡ rebuild.
    val docs = t(s, dir, "documents")
    val merged = Retrieval.bm25fApplyDelta(bm25fStore(s, dir, cut = 250),
      docs.filter(col("doc_id") >= 250), "doc_id", "text", titleTokens = 8)
    Retrieval.bm25fTopKStored(merged, docs.filter(col("doc_id") < 5),
        "doc_id", "doc_id", "text")
      .orderBy(col("q_id"), col("rnk"))
  }

  private def bm25TopKQuery(s: SparkSession, dir: String): DataFrame = {
    // lexical retrieval over the corpus: the first five docs play the
    // query role (doc-as-query), BM25-scored against every doc, top-10
    // each (on this shared-vocab corpus the top hit is whichever doc
    // repeats the query's rarest terms densest, not necessarily self)
    val d = t(s, dir, "documents")
    Retrieval.bm25TopK(d, d.filter(col("doc_id") < 5),
        "doc_id", "text", "doc_id", "text")
      .orderBy(col("q_id"), col("rnk"))
  }

  /** Write-once BM25 store for the SF dir — the last
    * index-build-in-query-path displaced to ingest: mergeable postings
    * (doc, term, tf, dl — exact integers, term-hashed into 16 files),
    * the (term, df) table, and the one-row global stats, keyed like
    * every layout cache on dir|config|src-mtime. `cut` selects the
    * corpus slice frozen into the store (Long.MaxValue = all docs).
    */
  private def bm25Store(s: SparkSession, dir: String,
                        cut: Long = Long.MaxValue): Retrieval.Bm25Store = {
    val cfg = if (cut == Long.MaxValue) "all" else cut.toString
    val path = layoutPath(dir, "bm25", s"tok=ws,buckets=16,v5,cut=$cfg",
      srcTable = "documents.parquet")
    if (!Layout.indexExists(s, s"$path/stats"))
      Retrieval.writeBm25Store(
        t(s, dir, "documents").filter(col("doc_id") < cut),
        "doc_id", "text", path)
    Retrieval.readBm25Store(s, path)
  }

  private def bm25TopKStoredQuery(s: SparkSession, dir: String): DataFrame =
    // the same retrieval as d_bm25_topk but scoring the STORED postings:
    // the only text read left is the pushed-down 5-row query side —
    // row-identical to the inline build (pinned in RetrievalSpec)
    Retrieval.bm25TopKStored(bm25Store(s, dir),
        t(s, dir, "documents").filter(col("doc_id") < 5),
        "doc_id", "doc_id", "text")
      .orderBy(col("q_id"), col("rnk"))

  private def retrievalEvalQuery(s: SparkSession, dir: String): DataFrame =
    // MRR / nDCG@10 of the stored-postings BM25 ranking under same-language
    // leave-self-out relevance — the eval-harness row a production
    // retrieval deployment tracks; ranking comes from the store (the
    // graded d_bm25_topk_stored path), metrics are integer-exact
    Retrieval.retrievalEval(
        Retrieval.bm25TopKStored(bm25Store(s, dir),
          t(s, dir, "documents").filter(col("doc_id") < 5),
          "doc_id", "doc_id", "text"),
        t(s, dir, "documents"), "doc_id", "lang")
      .orderBy(col("q_id"))

  private def bm25IncrementalQuery(s: SparkSession, dir: String): DataFrame = {
    // incremental index maintenance, graded: the store holds docs < 250;
    // docs >= 250 arrive as a batch and FOLD IN by postings union + df
    // integer adds + stats adds (no historical re-tokenize). The oracle
    // is the FULL-corpus BM25 twin — the hash match IS the proof that
    // increment ≡ rebuild, the d_card_incremental pattern for retrieval.
    val docs = t(s, dir, "documents")
    val merged = Retrieval.bm25ApplyDelta(bm25Store(s, dir, cut = 250),
      docs.filter(col("doc_id") >= 250), "doc_id", "text")
    Retrieval.bm25TopKStored(merged, docs.filter(col("doc_id") < 5),
        "doc_id", "doc_id", "text")
      .orderBy(col("q_id"), col("rnk"))
  }

  private def bm25ForgetStored(s: SparkSession, dir: String): DataFrame = {
    // right-to-erasure for the BM25 postings store: tombstones
    // (doc_id % 7 = 3) compact the term-hash-bucketed layout IN PLACE —
    // only bucket directories holding a tombstoned doc's terms rewrite
    // (dynamic partition overwrite), df decrements by exact hit counts
    // (terms erased to df = 0 leave the vocabulary), and n_docs/tot
    // integer-subtract with n_docs counted against the id SIDECAR so
    // zero-token docs decrement exactly. The oracle replays REBUILD
    // semantics — the same BM25 chain over the surviving corpus — so the
    // hash match IS the proof that in-place erasure ≡ rebuild (the
    // s_ann_forget_stored theorem, applied to the postings layout).
    // Idempotent across runs: a compacted store finds no members, no-ops.
    val docs = t(s, dir, "documents")
    val path = layoutPath(dir, "bm25forget",
      "tok=ws,buckets=16,tomb=mod7eq3,v3", srcTable = "documents.parquet")
    if (!Layout.indexExists(s, s"$path/stats"))
      Retrieval.writeBm25Store(docs, "doc_id", "text", path)
    Retrieval.forgetBm25StoreAt(s, path,
      docs.filter(col("doc_id") % 7 === 3).select(col("doc_id")), "doc_id")
    Retrieval.bm25TopKStored(Retrieval.readBm25Store(s, path),
        docs.filter(col("doc_id") < 5 && col("doc_id") % 7 =!= 3),
        "doc_id", "doc_id", "text")
      .orderBy(col("q_id"), col("rnk"))
  }

  private def bm25fForgetStored(s: SparkSession, dir: String): DataFrame = {
    // the FIELDED store's erasure row: same per-directory postings
    // compaction, per-field tot_f decrements, one corpus-level n_docs
    // decrement; no df table exists to touch (the fielded layout derives
    // whole-doc df at score time, so erased rows simply stop counting).
    // Rebuild-on-survivors oracle, fielded chain.
    val docs = t(s, dir, "documents")
    val path = layoutPath(dir, "bm25fforget",
      "tok=ws,title=8,buckets=16,tomb=mod7eq3,v3",
      srcTable = "documents.parquet")
    if (!Layout.indexExists(s, s"$path/stats"))
      Retrieval.writeBm25fStore(docs, "doc_id", "text", path,
        titleTokens = 8)
    Retrieval.forgetBm25StoreAt(s, path,
      docs.filter(col("doc_id") % 7 === 3).select(col("doc_id")), "doc_id")
    Retrieval.bm25fTopKStored(Retrieval.readBm25fStore(s, path),
        docs.filter(col("doc_id") < 5 && col("doc_id") % 7 =!= 3),
        "doc_id", "doc_id", "text")
      .orderBy(col("q_id"), col("rnk"))
  }

  private def bm25ChunkForget(s: SparkSession, dir: String): DataFrame = {
    // chunk-grain erasure BY PARENT DOC: a GDPR request names documents,
    // the store keys chunks (cid = doc_id·2^20 + chunk) — the parent →
    // cid expansion reads ONLY the id sidecar (one integer per stored
    // chunk), then the standard per-directory compaction erases every
    // chunk of the tombstoned docs. Oracle = rebuild the chunk corpus
    // from the surviving docs and replay the chunk-BM25 chain.
    val d = t(s, dir, "documents")
    val path = layoutPath(dir, "bm25chunkforget",
      "tok=ws,buckets=16,chunk=16x8,cid=shl20,tomb=mod7eq3,v3",
      srcTable = "documents.parquet")
    if (!Layout.indexExists(s, s"$path/stats"))
      Retrieval.writeBm25Store(chunkCidCorpus(d), "cid", "chunk_text", path)
    Retrieval.forgetBm25ChunkStoreAt(s, path,
      d.filter(col("doc_id") % 7 === 3).select(col("doc_id")), "doc_id",
      chunkIdBits = ChunkIdBits)
    Retrieval.bm25TopKStored(Retrieval.readBm25Store(s, path),
        d.filter(col("doc_id") < 5 && col("doc_id") % 7 =!= 3),
        "cid", "doc_id", "text")
      .orderBy(col("q_id"), col("rnk"))
  }

  private def seqPackQuery(s: SparkSession, dir: String): DataFrame =
    // pretraining sequence packing (concat-and-chunk): every doc's
    // tokens + EOS concatenate in id order and slice into exact 64-token
    // sequences, trailing partial dropped — the output is the packing
    // PLAN (one row per sequence×doc span, exact integer token ranges),
    // which is what shuffles at 100 TB while payloads stay id-keyed.
    // The prefix sum is two-level (range buckets + broadcast offsets) —
    // never a single-partition window; the oracle replays the global
    // cumsum relationally and the hash match pins the decomposition.
    Packing.packSequences(t(s, dir, "documents"),
        "doc_id", "text", budget = 64)
      .orderBy(col("seq_id"), col("doc_id"))

  private def winnowFpsQuery(s: SparkSession, dir: String): DataFrame =
    // the selected-fingerprint audit: per doc, how many winnowed
    // fingerprints survive selection (≈ 2/(w+1) of its shingles) plus the
    // lexicographic minimum as a content probe
    Dedup.winnowFingerprints(t(s, dir, "documents"), "doc_id", "text")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_fp"), min(col("fp")).as("min_fp"))
      .orderBy(col("doc_id"))

  private def winnowMatchesQuery(s: SparkSession, dir: String): DataFrame =
    // MOSS-style span matching: doc pairs sharing >= 2 selected
    // fingerprints — any common run of w+k-1 = 7 tokens is guaranteed to
    // surface at least one shared fingerprint (cap off to mirror the
    // uncapped oracle; the production cap is exercised in DedupSpec)
    Dedup.winnowMatches(t(s, dir, "documents"), "doc_id", "text")
      .orderBy(col("a"), col("b"))

  private def tokenHeavyHitters(s: SparkSession, dir: String): DataFrame = {
    // exact corpus heavy hitters (stopword discovery) via sketch-then-
    // verify: a k=256 Misra–Gries pass nominates candidates (k counters
    // per partition through partial agg — the token stream never
    // shuffles), then an exact count restricted to candidates. Threshold
    // 0.5% of token mass > N/(k+1), so the result provably equals the
    // oracle's single-pass exact HAVING — see HeavyHitters.exact.
    val toks = t(s, dir, "documents")
      .select(explode(TextAnalysis.tokens(lower(trim(col("text"))))).as("term"))
    HeavyHitters.exact(toks, "term", minShare = 0.005, k = 256)
      .orderBy(desc("cnt"), asc("term"))
  }

  // ---------------------------------------------------------------------

  /** Pure truth-side rows: each key is an audit/certificate/portable-twin
    * query whose only purpose is GRADING the production row it maps to —
    * exact-truth twins (`s_mutual_knn`'s bounded cartesian), engine-
    * portable md5 twins of xxhash64 paths, parity/accuracy certificates.
    * They stay fully graded like any query, but Bench prices them as a
    * separate `audit_sec` subtotal so the 2× gate's headline number is
    * the production surface, not the cost of auditing it.
    */
  val twinOf: Map[String, String] = Map(
    "s_mutual_knn" -> "s_mutual_knn_stored",
    "q_join_cardinality_audit" -> "q_join_cardinality",
    "d_cms_audit" -> "q_join_cardinality",
    "d_minhash_error" -> "d_minhash_pairs",
    "d_minhash_portable" -> "d_minhash_pairs",
    "d_lsh_portable_pairs" -> "d_dedup_fuzzy",
    "d_dedup_fuzzy_portable" -> "d_dedup_fuzzy",
    "d_simhash_portable" -> "d_simhash",
    "d_simhash_kernel_parity" -> "d_simhash",
    "d_simhash_portable_neardup" -> "d_simhash_neardup",
    "d_simhash_banding_parity" -> "d_simhash_neardup",
    "q_sketch_distinct_cert" -> "q_sketch_distinct",
    "s_ann_ivf_parity" -> "s_ann_ivf",
    "s_jl_distortion" -> "s_embed_jl")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q1_pricing_summary" -> (q1PricingSummary _),
    "q1_decimal" -> (q1Decimal _),
    "q3_top_orders" -> (q3TopOrders _),
    "q5_region_revenue" -> (q5RegionRevenue _),
    "q7_nation_volume" -> (q7NationVolume _),
    "q8_market_share" -> (q8MarketShare _),
    "q10_returned_items" -> (q10ReturnedItems _),
    "q18_large_orders" -> (q18LargeOrders _),
    "q4_order_priority" -> (q4OrderPriority _),
    "q6_forecast_revenue" -> (q6ForecastRevenue _),
    "q14_promo_share" -> (q14PromoShare _),
    "q12_ship_priority" -> (q12ShipPriority _),
    "q13_customer_distribution" -> (q13CustomerDistribution _),
    "q15_top_supplier" -> (q15TopSupplier _),
    "q17_small_qty_revenue" -> (q17SmallQtyRevenue _),
    "q2_min_cost_supplier" -> (q2MinCostSupplier _),
    "q9_product_profit" -> (q9ProductProfit _),
    "q11_important_parts" -> (q11ImportantParts _),
    "q16_supplier_counts" -> (q16SupplierCounts _),
    "q20_dominant_suppliers" -> (q20DominantSuppliers _),
    "q19_flexible_or" -> (q19FlexibleOr _),
    "q21_waiting_suppliers" -> (q21WaitingSuppliers _),
    "q22_global_sales" -> (q22GlobalSales _),
    "q_bucketed_join" -> (bucketedJoinQuery _),
    "q_partitioned_scan" -> (partitionedScanQuery _),
    "q_profile_lineitem" -> (profileLineitem _),
    "q_top1_returnflag" -> (top1ReturnFlag _),
    "q_preview_orders" -> (previewOrders _),
    "q_filter_exclusion" -> (filterExclusion _),
    "q_urn_format" -> (urnFormat _),
    "q_grants_rollup" -> (grantsRollup _),
    "q_usage_counts" -> (usageCounts _),
    "q_join_pairs" -> (joinPairs _),
    "q_condition_sets" -> (conditionSets _),
    "q_set_union" -> (setUnionDistinct _),
    "q_full_outer" -> (fullOuterReconcile _),
    "q_window_rank" -> (windowRank _),
    "q_sessionize" -> (sessionize _),
    "q_time_buckets" -> (timeBuckets _),
    "q_sql_conditions" -> (sqlConditions _),
    "q_skew_join" -> (skewJoinRollup _),
    "q_range_window" -> (rangeWindowQuery _),
    "q_funnel" -> (funnelQuery _),
    "q_cohort_retention" -> (cohortRetention _),
    "q_event_transitions" -> (eventTransitions _),
    "q_kmv_distinct" -> (kmvDistinct _),
    "q_kmv_setops" -> (kmvSetOps _),
    "q_asof_attribution" -> (asofAttribution _),
    "q_asof_nearest" -> (asofNearestQuery _),
    "q_asof_forward" -> (asofForward _),
    "q_range_join" -> (rangeJoinClicks _),
    "q_json_attributes" -> (jsonAttributes _),
    "q_sketch_distinct" -> (sketchDistinct _),
    "q_sketch_distinct_cert" -> (sketchDistinctCert _),
    "q_session_window" -> (sessionWindowRollup _),
    "d_dedup_exact" -> (dedupExact _),
    "d_token_counts" -> (tokenCounts _),
    "d_bpe_train" -> (bpeTrain _),
    "d_bpe_tokens" -> (bpeTokens _),
    "d_bpe_fertility" -> (bpeFertility _),
    "d_quality" -> (qualityScores _),
    "d_char_entropy" -> (charEntropy _),
    "d_zipf_audit" -> (zipfAuditQuery _),
    "d_fingerprint" -> (fingerprints _),
    "d_lang_scores" -> (langScores _),
    "d_lang_predict" -> (langPredict _),
    "d_train_split" -> (trainSplit _),
    "d_quality_filter" -> (qualityFilter _),
    "d_repetition" -> (repetitionScores _),
    "d_pii_scrub" -> (piiScrub _),
    "d_pii_luhn" -> (piiLuhn _),
    "d_sample_strata" -> (sampleStrataQuery _),
    "d_tfidf_terms" -> (tfidfTopTerms _),
    "d_decontaminate" -> (decontaminateQuery _),
    "d_contamination_report" -> (contaminationReportQuery _),
    "d_decontaminate_bloom" -> (decontaminateBloomQuery _),
    "d_pack_sequences" -> (packSequencesQuery _),
    "d_pack_greedy" -> (packGreedyQuery _),
    "d_pack_efficiency" -> (packEfficiencyQuery _),
    "d_classifier_kappa" -> (classifierKappa _),
    "q_linkage_jw" -> (linkageJw _),
    "d_collocations" -> (collocations _),
    "d_next_event_pairs" -> (nextEventPairs _),
    "d_target_encode" -> (targetEncode _),
    "d_boilerplate" -> (boilerplateQuery _),
    "d_domain_mix" -> (domainMixQuery _),
    "d_mix_schedule" -> (mixScheduleQuery _),
    "d_vocab_gt" -> (vocabAuditQuery _),
    "d_badwords_filter" -> (badwordsQuery _),
    "d_budget_sample" -> (budgetSampleQuery _),
    "d_lm_familiarity" -> (lmFamiliarityQuery _),
    "d_lm_score_frozen" -> (lmScoreFrozenQuery _),
    "d_quality_outliers" -> (qualityOutliersQuery _),
    "d_top_ngrams" -> (topNgrams _),
    "d_ngram_novelty" -> (ngramNovelty _),
    "q_pivot_events" -> (pivotEvents _),
    "q_rollup_revenue" -> (rollupRevenue _),
    "q_running_total" -> (runningTotal _),
    "d_cube_sources" -> (cubeSources _),
    "q_event_gaps" -> (eventGaps _),
    "q_event_dedup" -> (eventDedup _),
    "q_overlap_join" -> (overlapJoinQuery _),
    "q_rolling_distinct" -> (rollingDistinct _),
    "q_fd_audit" -> (fdAudit _),
    "q_window_suite" -> (windowSuite _),
    "q_edit_distance" -> (editDistanceQuery _),
    "q_date_suite" -> (dateSuite _),
    "q_null_semantics" -> (nullSemantics _),
    "q_sql_pipeline" -> (sqlPipelineQuery _),
    "q_merge_upsert" -> (mergeUpsert _),
    "d_pareto_docs" -> (paretoDocs _),
    "q_global_rownum" -> (globalRowNumber _),
    "d_setjoin_ppjoin" -> (setJoinPpjoin _),
    "q_compaction_plan" -> (compactionPlan _),
    "q_record_linkage" -> (recordLinkage _),
    "q_skew_audit" -> (skewAudit _),
    "q_zorder_box" -> (zorderBoxQuery _),
    "d_cms_audit" -> (cmsAudit _),
    "q_join_cardinality" -> (joinCardinality _),
    "q_join_cardinality_agms" -> (joinCardinalityAgms _),
    "q_join_cardinality_audit" -> (joinCardinalityAudit _),
    "d_lang_lines" -> (langLinesAudit _),
    "d_dedup_incremental" -> (dedupIncremental _),
    "d_dedup_incremental_stored" -> (dedupIncrementalStored _),
    "d_minhash_pairs" -> (minhashPairs _),
    "d_dedup_fuzzy" -> (dedupFuzzyPipeline _),
    "d_simhash" -> (simhashes _),
    "d_simhash_neardup" -> (simhashNearDups _),
    "d_simhash_banding_parity" -> (simhashBandingParity _),
    "d_simhash_kernel_parity" -> (simhashKernelParity _),
    "d_ngram_jaccard" -> (ngramJaccard _),
    "s_ann_bruteforce" -> (annBruteForce _),
    "s_embed_matryoshka" -> (embedMatryoshka _),
    "s_mutual_knn" -> (mutualKnnQuery _),
    "s_mutual_knn_stored" -> (mutualKnnStored _),
    "s_label_terms" -> (labelTermsQuery _),
    "s_kmeans_lloyd" -> (kmeansLloydQuery _),
    "s_centroid_drift" -> (centroidDriftQuery _),
    "d_chi2_langsource" -> (chi2Query _),
    "s_ann_int8" -> (annInt8Query _),
    "s_ann_int8_stored" -> (annInt8StoredQuery _),
    "s_ann_recall" -> (annRecallQuery _),
    "s_ann_ivf" -> (annIvf _),
    "s_ann_ivf_parity" -> (annIvfParity _),
    "s_ann_pq" -> (annPq _),
    "s_ann_ivfpq" -> (annIvfPq _),
    "s_ann_ivf_stored" -> (annIvfStored _),
    "s_ann_ivf2_stored" -> (annIvf2Stored _),
    "s_ann_ivf2_persisted" -> (annIvf2Persisted _),
    "s_ann_forget_stored" -> (annForgetStored _),
    "s_ann_filtered" -> (annIvfFiltered _),
    "s_ann_ivfpq_stored" -> (annIvfPqStored _),
    "s_ann_ivfpq_persisted" -> (annIvfPqPersisted _),
    "s_ann_ivfpq2_stored" -> (annIvfPq2Stored _),
    "s_ann_ivfpq2_persisted" -> (annIvfPq2Persisted _),
    "s_ann_pq_forget_stored" -> (annPqForgetStored _),
    "s_ann_share_audit" -> (annShareAudit _),
    "s_embed_neardup" -> (embedNearDup _),
    "s_embed_neardup_bucketed" -> (embedNearDupBucketed _),
    "s_semdedup" -> (semDedupQuery _),
    "s_embed_neardup_lsh" -> (embedNearDupLsh _),
    "s_embed_quantized" -> (embedQuantized _),
    "s_embed_jl" -> (embedJl _),
    "s_jl_distortion" -> (jlDistortion _),
    "s_embed_clusters" -> (embedClusters _),
    "s_embed_keepers" -> (embedKeepers _),
    "q_semi_join" -> (semiJoinActive _),
    "q_anti_join" -> (antiJoinInactive _),
    "q_corr_stats" -> (corrStats _),
    "q_value_quantiles" -> (valueQuantiles _),
    "q_unpivot" -> (unpivotMeasures _),
    "d_line_dedup" -> (lineDedupQuery _),
    "d_line_dedup_clean" -> (lineDedupCleanQuery _),
    "d_length_deciles" -> (lengthDeciles _),
    "d_url_domains" -> (urlDomains _),
    "d_url_blocklist" -> (urlBlocklist _),
    "d_weighted_sample" -> (weightedSample _),
    "q_grouping_sets" -> (groupingSets _),
    "m_multimodal_meta" -> (multimodalMeta _),
    "m_mp4_meta" -> (mp4MetaQuery _),
    "m_tiff_meta" -> (tiffMetaQuery _),
    "m_zip_list" -> (zipListQuery _),
    "m_mp4_samples" -> (mp4SamplesQuery _),
    "m_jpeg_exif" -> (jpegExifQuery _),
    "m_mp3_meta" -> (mp3MetaQuery _),
    "m_gzip_roundtrip" -> (gzipRoundtrip _),
    "m_bmp_decode" -> (bmpDecodeQuery _),
    "m_media_resize" -> (mediaResize _),
    "m_frame_sample" -> (frameSampleAudio _),
    "m_multimodal_features" -> (multimodalFeatures _),
    "m_image_dhash" -> (imageDhash _),
    "m_image_neardup" -> (imageNearDup _),
    "m_image_dedup" -> (imageDedup _),
    "m_audio_fingerprint" -> (audioFingerprint _),
    "m_audio_neardup" -> (audioNearDup _),
    "m_audio_quality" -> (audioQualityQuery _),
    "m_png_text" -> (pngTextQuery _),
    "m_image_quality" -> (imageQualityQuery _),
    "m_image_ingest" -> (imageIngest _),
    "m_image_ingest_stored" -> (imageIngestStored _),
    "d_gopher_rules" -> (gopherRulesQuery _),
    "d_chunk_sliding" -> (chunkSliding _),
    "d_unicode_normalize" -> (unicodeNormalize _),
    "d_adaptive_quality" -> (adaptiveQuality _),
    "d_gopher_lines" -> (gopherLinesQuery _),
    "d_ppl_buckets" -> (pplBuckets _),
    "d_dsir_sample" -> (dsirSampleQuery _),
    "d_data_card" -> (dataCard _),
    "d_minhash_portable" -> (minhashPortable _),
    "d_lsh_portable_pairs" -> (lshPortablePairs _),
    "d_containment" -> (containmentQuery _),
    "d_dedup_fuzzy_portable" -> (dedupFuzzyPortable _),
    "d_split_leakproof" -> (splitLeakproofQuery _),
    "d_simhash_portable" -> (simhashPortable _),
    "d_simhash_portable_neardup" -> (simhashPortableNearDup _),
    "d_shuffle_shards" -> (shuffleShardsQuery _),
    "d_lsh_incremental" -> (lshIncremental _),
    "d_index_forget" -> (indexForget _),
    "d_filter_funnel" -> (filterFunnel _),
    "d_lsh_incremental_stored" -> (lshIncrementalStored _),
    "d_corpus_diff" -> (corpusDiff _),
    "q_scd2" -> (scd2Query _),
    "q_orc_roundtrip" -> (orcRoundtrip _),
    "q_json_roundtrip" -> (jsonRoundtrip _),
    "q_csv_roundtrip" -> (csvRoundtrip _),
    "q_kanon_audit" -> (kanonAudit _),
    "q_ldiversity_audit" -> (ldiversityAudit _),
    "q_tcloseness_audit" -> (tclosenessAudit _),
    "q_golden_record" -> (goldenRecord _),
    "d_curriculum_order" -> (curriculumOrder _),
    "d_retrieval_eval" -> (retrievalEvalQuery _),
    "d_dup_spans" -> (dupSpans _),
    "d_span_clean" -> (spanClean _),
    "d_chunk_docs" -> (chunkDocs _),
    "d_html_extract" -> (htmlExtract _),
    "d_link_rank" -> (linkRank _),
    "d_hits_rank" -> (hitsRank _),
    "d_triangles" -> (trianglesQuery _),
    "d_graph_bfs" -> (graphBfs _),
    "d_graph_sssp" -> (graphSssp _),
    "d_lpa_communities" -> (lpaCommunities _),
    "d_kcore" -> (kcoreQuery _),
    "q_freq_pairs" -> (freqPairs _),
    "q_gap_fill" -> (gapFill _),
    "q_trend_fit" -> (trendFit _),
    "q_max_concurrency" -> (maxConcurrency _),
    "q_rfm_segments" -> (rfmSegments _),
    "q_string_suite" -> (stringSuite _),
    "q_event_trigrams" -> (eventTrigrams _),
    "q_rollup_incremental" -> (rollupIncremental _),
    "d_sample_apportion" -> (sampleApportion _),
    "d_kanon_mondrian" -> (kanonMondrian _),
    "q_interval_union" -> (intervalUnion _),
    "d_corpus_clean" -> (corpusClean _),
    "d_nb_train" -> (nbTrainQuery _),
    "d_nb_predict" -> (nbPredictQuery _),
    "d_nb_predict_stored" -> (nbPredictStoredQuery _),
    "d_nb_forget_stored" -> (nbForgetStored _),
    "d_nb_merge_stored" -> (nbMergeStored _),
    "d_nb_confusion" -> (nbConfusionQuery _),
    "d_source_overlap" -> (sourceOverlapQuery _),
    "d_cdc_chunks" -> (cdcChunkStatsQuery _),
    "d_cdc_dedup" -> (cdcDedupQuery _),
    "d_cdc_ingest" -> (cdcIngestQuery _),
    "d_source_drift" -> (sourceDriftQuery _),
    "d_minhash_error" -> (minhashCalibrationQuery _),
    "q_exact_quantiles_2pass" -> (exactQuantiles2Pass _),
    "d_token_hh_lang" -> (tokenHhPerLang _),
    "d_length_quantiles_exact" -> (lengthQuantilesExact _),
    "d_card_incremental" -> (cardIncremental _),
    "d_bm25_topk" -> (bm25TopKQuery _),
    "d_chunk_bm25" -> (chunkBm25 _),
    "d_hard_negatives" -> (hardNegatives _),
    "d_diverse_topk" -> (diverseTopK _),
    "d_bm25f_topk" -> (bm25fTopKQuery _),
    "d_bm25f_stored" -> (bm25fStoredQuery _),
    "d_bm25_prf" -> (bm25PrfQuery _),
    "d_bm25_prf_stored" -> (bm25PrfStoredQuery _),
    "d_cochunk_pairs" -> (coChunkPairsQuery _),
    "d_contrastive_examples" -> (contrastiveExamplesQuery _),
    "d_fim_split" -> (fimSplitQuery _),
    "d_bm25_topk_stored" -> (bm25TopKStoredQuery _),
    "d_bm25_incremental" -> (bm25IncrementalQuery _),
    "d_bm25f_incremental" -> (bm25fIncrementalQuery _),
    "d_bm25_forget_stored" -> (bm25ForgetStored _),
    "d_seq_pack" -> (seqPackQuery _),
    "d_bm25f_forget_stored" -> (bm25fForgetStored _),
    "d_bm25_chunk_forget" -> (bm25ChunkForget _),
    "d_hybrid_rrf" -> (hybridRrfQuery _),
    "s_hybrid_dense_sparse" -> (hybridDenseSparseQuery _),
    "s_hybrid_linear" -> (hybridLinearQuery _),
    "d_hybrid_eval" -> (hybridEvalQuery _),
    "d_winnow_fps" -> (winnowFpsQuery _),
    "d_winnow_matches" -> (winnowMatchesQuery _),
    "d_winnow_ingest_stored" -> (winnowIngestStored _),
    "d_winnow_forget_stored" -> (winnowForgetStored _),
    "d_token_hh" -> (tokenHeavyHitters _))

  // shared fragments of the portable-minhash oracles (must mirror
  // Dedup.portableMinhash/portableBands exactly): sig_p = min 32-bit
  // slice p%4 of md5("<p/4>:<shingle>"), band key = md5 of the
  // ':'-joined decimal sig pair
  /** Incremental exact-dedup twin: batch docs (>= 250) survive iff their
    * canonical fingerprint is absent from the stored-corpus (< 250)
    * index; in-batch dups keep the lowest id. Serves both
    * `d_dedup_incremental` and its stored-layout twin.
    */
  private val annInt8Oracle: String =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |m AS (SELECT vec_id, v,
        |        sqrt(list_dot_product(v, v)) AS mx FROM e),
        |c AS (SELECT vec_id,
        |        CASE WHEN mx = 0 THEN list_transform(v, x -> 0)
        |             ELSE list_transform(v,
        |                    x -> CAST(round((x * 127.0) / mx) AS INTEGER))
        |        END AS cd FROM m),
        |q AS (SELECT vec_id AS q_id, cd AS qc FROM c WHERE vec_id < 10),
        |s AS (SELECT q_id, c.vec_id AS c_id,
        |        CAST(list_sum(list_transform(range(1, len(qc) + 1),
        |               i -> CAST(qc[i] AS BIGINT) * cd[i])) AS BIGINT) AS score
        |      FROM q, c WHERE c.vec_id <> q_id),
        |r AS (SELECT q_id, c_id, score,
        |        row_number() OVER (PARTITION BY q_id
        |                           ORDER BY score DESC, c_id) AS rnk
        |      FROM s)
        |SELECT q_id, rnk, c_id, score FROM r
        |WHERE rnk <= 5 ORDER BY q_id, rnk""".stripMargin

  /** BM25 oracle — shared by the inline build and the stored-postings
    * twin: the store freezes exactly the integers (tf, dl, df, N, tot)
    * this SQL recomputes, so one oracle covers both spellings. */
  private val formatRoundtripOracle: String =
    """SELECT l_returnflag, count(*) AS n,
      | CAST(sum(l_quantity) AS BIGINT) AS sum_qty,
      | CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
      |   AS revenue_cents,
      | CAST(max(l_shipdate) AS DATE) AS last_ship
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** BM25 CTE chain shared by the bm25 oracles and the RRF hybrid:
    * ends at `r` (the ranked per-query candidates). */
  /** The BM25 CTE chain over any (doc_id, text) relation — `documents`
    * for the doc-level rows, the chunk CTE for the chunk-level retrieval
    * row. Queries are always docs 0-4.
    */
  private def bm25CtesOver(corpus: String,
                           qtBody: String = defaultBm25Qt): String =
    s"""ct AS (
        | SELECT doc_id,
        |  unnest(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
        |         x -> len(x) > 0)) AS term
        | FROM $corpus),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM ct GROUP BY 1, 2),
        |dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl
        |       FROM tf GROUP BY 1),
        |dfr AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |st AS (SELECT count(*) AS n_docs FROM $corpus),
        |tt AS (SELECT CAST(sum(dl) AS BIGINT) AS tot FROM dl),
        |qt AS ($qtBody),
        |c AS (
        | SELECT tf.doc_id, tf.term,
        |  CAST(round(1000000.0 * (
        |    ln((CAST(n_docs - df AS DOUBLE) + 0.5) / (df + 0.5) + 1.0)
        |    * ((tf * (1.2 + 1.0)) /
        |       (tf + 1.2 * (1.0 - 0.75 + 0.75 *
        |          (dl / (CAST(tot AS DOUBLE) / n_docs))))))) AS BIGINT) AS c
        | FROM tf JOIN dfr USING (term) JOIN dl USING (doc_id)
        | CROSS JOIN st CROSS JOIN tt),
        |sc AS (
        | SELECT qt.q_id, c.doc_id, CAST(sum(c.c) AS BIGINT) AS score
        | FROM c JOIN qt USING (term) GROUP BY 1, 2),
        |r AS (
        | SELECT q_id, doc_id, score,
        |  row_number() OVER (PARTITION BY q_id
        |                     ORDER BY score DESC, doc_id ASC) AS rnk
        | FROM sc)""".stripMargin

  /** Doc-as-query term sets under an arbitrary doc predicate — the
    * query side of every BM25 oracle (forget twins restrict it to the
    * SURVIVING query docs). */
  private def bm25QtWhere(where: String): String =
    """SELECT DISTINCT q_id, term FROM (
      |  SELECT doc_id AS q_id,
      |   unnest(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
      |          x -> len(x) > 0)) AS term
      |  FROM documents WHERE """.stripMargin + where + ")"

  /** The default query side of every BM25 oracle: doc-as-query term sets
    * of the first five documents. */
  private lazy val defaultBm25Qt: String = bm25QtWhere("doc_id < 5")

  private lazy val bm25Ctes: String = bm25CtesOver("documents")

  /** The stored-IVF dense-leg CTE chain the hybrid twins share: first-8
    * unit-vector coarse assignment, 3 probes, exact cosine over probed
    * members, leave-self-out — verbatim the s_ann_ivf_stored chain with
    * the 5 hybrid query vectors. Ends at dsim(q_id, c_id, sim) with sim
    * UNROUNDED (ranking uses the raw value; consumers round where the
    * Spark side does). */
  private lazy val ivfDenseCtes: String =
    """e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |eu AS (SELECT vec_id, v,
      |        CASE WHEN sqrt(list_dot_product(v, v)) = 0 THEN v
      |             ELSE list_transform(v, x -> x / sqrt(list_dot_product(v, v))) END AS vu
      |      FROM e),
      |cu AS (SELECT vec_id AS ccid, vu AS cvu FROM eu WHERE vec_id < 8),
      |cd AS (SELECT eu.vec_id, cu.ccid,
      |         list_sum(list_transform(range(1, 65),
      |           i -> (eu.vu[i] - cu.cvu[i]) * (eu.vu[i] - cu.cvu[i]))) AS d
      |       FROM eu, cu),
      |assign AS (SELECT vec_id, ccid FROM (
      |             SELECT vec_id, ccid,
      |               row_number() OVER (PARTITION BY vec_id ORDER BY d, ccid) AS rn
      |             FROM cd) WHERE rn = 1),
      |qprobe AS (SELECT vec_id AS q_id, ccid FROM (
      |             SELECT vec_id, ccid,
      |               row_number() OVER (PARTITION BY vec_id ORDER BY d, ccid) AS rn
      |             FROM cd WHERE vec_id < 5) WHERE rn <= 3),
      |dcand AS (SELECT DISTINCT qprobe.q_id, assign.vec_id AS c_id
      |          FROM assign JOIN qprobe ON qprobe.ccid = assign.ccid
      |          WHERE assign.vec_id <> qprobe.q_id),
      |dsim AS (SELECT dcand.q_id, dcand.c_id,
      |           list_dot_product(q.v, c.v) /
      |           (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))) AS sim
      |         FROM dcand JOIN e q ON q.vec_id = dcand.q_id
      |                   JOIN e c ON c.vec_id = dcand.c_id)""".stripMargin

  /** The RRF fusion of the two hybrid legs (assumes $bm25Ctes and
    * $ivfDenseCtes precede): each leg's top-10 contributes its integer
    * RRF term, summed per (query, doc), ranked to fr(q_id, doc_id,
    * rrf_micro, rnk). Shared by the fused-ranking twin and the hybrid
    * eval twin. */
  private lazy val hybridRrfCtes: String =
    """bmr AS (SELECT q_id, doc_id, rnk FROM r WHERE rnk <= 10),
      |dr AS (SELECT q_id, c_id,
      |        row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, c_id) AS rnk
      |       FROM dsim),
      |uall AS (
      | SELECT q_id, doc_id,
      |  CAST(round(1000000.0 / (60 + rnk)) AS BIGINT) AS c FROM bmr
      | UNION ALL
      | SELECT CAST(q_id AS BIGINT), CAST(c_id AS BIGINT),
      |  CAST(round(1000000.0 / (60 + rnk)) AS BIGINT)
      | FROM dr WHERE rnk <= 10),
      |f AS (SELECT q_id, doc_id, CAST(sum(c) AS BIGINT) AS rrf_micro
      |      FROM uall GROUP BY 1, 2),
      |fr AS (SELECT q_id, doc_id, rrf_micro,
      |        row_number() OVER (PARTITION BY q_id
      |                           ORDER BY rrf_micro DESC, doc_id) AS rnk
      |       FROM f)""".stripMargin

  /** The MRR/nDCG@10 eval tail over a ranked CTE `rcte`(q_id, rnk,
    * doc_id) — the d_retrieval_eval arithmetic (hard-coded micro gain
    * table, leave-self-out lang-match relevance, integer DCG/IDCG, one
    * nDCG division) parameterized by the ranking source so the BM25 and
    * hybrid eval twins share it verbatim. A complete statement tail:
    * CTEs plus the final SELECT. */
  private def retrievalEvalSqlOver(rcte: String): String =
    s"""g AS (SELECT * FROM (VALUES (1, 1000000), (2, 630930), (3, 500000),
      |       (4, 430677), (5, 386853), (6, 356207), (7, 333333),
      |       (8, 315465), (9, 301030), (10, 289065)) AS g(rnk, gain)),
      |ql AS (SELECT doc_id AS q_id, lang AS q_lang
      |       FROM documents WHERE doc_id < 5),
      |j AS (
      | SELECT $rcte.q_id, $rcte.rnk, $rcte.doc_id,
      |  CASE WHEN d.lang = ql.q_lang AND $rcte.doc_id <> $rcte.q_id
      |       THEN 1 ELSE 0 END AS rel,
      |  g.gain
      | FROM $rcte JOIN documents d ON $rcte.doc_id = d.doc_id
      | JOIN ql ON $rcte.q_id = ql.q_id
      | JOIN g ON $rcte.rnk = g.rnk
      | WHERE $rcte.rnk <= 10),
      |per AS (
      | SELECT q_id,
      |  CAST(sum(rel) AS BIGINT) AS n_rel_at10,
      |  CAST(coalesce(min(CASE WHEN rel = 1 THEN rnk END), 0) AS BIGINT)
      |    AS first_rel,
      |  CAST(sum(CASE WHEN rel = 1 THEN gain ELSE 0 END) AS BIGINT)
      |    AS dcg_micro
      | FROM j GROUP BY q_id),
      |rtot AS (
      | SELECT ql.q_id, CAST(count(*) AS BIGINT) AS n_rel_total
      | FROM ql JOIN documents d
      |   ON d.lang = ql.q_lang AND d.doc_id <> ql.q_id
      | GROUP BY ql.q_id),
      |idcg AS (
      | SELECT rt.q_id, CAST(sum(g.gain) AS BIGINT) AS idcg_micro
      | FROM rtot rt JOIN g ON g.rnk <= least(rt.n_rel_total, 10)
      | GROUP BY rt.q_id)
      |SELECT p.q_id, rt.n_rel_total, p.n_rel_at10,
      | CASE WHEN p.first_rel = 0 THEN 0
      |      ELSE CAST(round(1000000.0 / p.first_rel) AS BIGINT)
      | END AS rr_micro,
      | p.dcg_micro, i.idcg_micro,
      | CASE WHEN i.idcg_micro = 0 THEN 0
      |      ELSE CAST(round(1000000 * (CAST(p.dcg_micro AS DOUBLE)
      |             / i.idcg_micro)) AS BIGINT)
      | END AS ndcg_ppm
      |FROM per p JOIN rtot rt USING (q_id) JOIN idcg i USING (q_id)
      |ORDER BY q_id""".stripMargin

  private lazy val bm25Oracle: String =
    s"""WITH $bm25Ctes
      |SELECT q_id, rnk, doc_id, score FROM r WHERE rnk <= 10
      |ORDER BY q_id, rnk""".stripMargin

  /** Forget twin: REBUILD semantics — the identical BM25 chain over the
    * surviving corpus (docs whose id is not tombstoned), query side the
    * surviving query docs. The hash match against the in-place-compacted
    * store is the erasure proof. */
  private lazy val bm25ForgetOracle: String =
    s"""WITH ${bm25CtesOver(
        "(SELECT doc_id, text FROM documents WHERE doc_id % 7 <> 3) surv",
        bm25QtWhere("doc_id < 5 AND doc_id % 7 <> 3"))}
      |SELECT q_id, rnk, doc_id, score FROM r WHERE rnk <= 10
      |ORDER BY q_id, rnk""".stripMargin

  /** BM25F twin: field split by list slice (title = first 8 tokens),
    * per-field normalized tf weight-combined before saturation, df
    * whole-document. At most two float parts sum per (doc, term)
    * (IEEE 2-operand addition commutes, so no summation-order hazard),
    * then the one fixed-point rounding. */
  private lazy val bm25fOracle: String =
    bm25fOracleOver("documents", "doc_id < 5")

  /** Fielded forget twin: rebuild-on-survivors over the identical BM25F
    * chain. */
  private lazy val bm25fForgetOracle: String = bm25fOracleOver(
    "(SELECT doc_id, text FROM documents WHERE doc_id % 7 <> 3) surv",
    "doc_id < 5 AND doc_id % 7 <> 3")

  private def bm25fOracleOver(corpus: String, qtWhere: String): String =
    s"""WITH ctk AS (
      | SELECT doc_id,
      |  list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
      |              x -> len(x) > 0) AS t
      | FROM $corpus),
      |fx AS (
      | SELECT doc_id, 't' AS f, t[1:8] AS ft FROM ctk
      | UNION ALL
      | SELECT doc_id, 'b' AS f, t[9:] AS ft FROM ctk),
      |ct AS (SELECT doc_id, f, unnest(ft) AS term FROM fx),
      |tf AS (SELECT doc_id, f, term, count(*) AS tf FROM ct GROUP BY 1, 2, 3),
      |dl AS (SELECT doc_id, f, CAST(sum(tf) AS BIGINT) AS dl
      |       FROM tf GROUP BY 1, 2),
      |nd AS (SELECT count(*) AS n_docs FROM $corpus),
      |av AS (SELECT f, CAST(sum(dl) AS DOUBLE) / n_docs AS avgdl_f
      |       FROM dl CROSS JOIN nd GROUP BY f, n_docs),
      |dfr AS (SELECT term, count(*) AS df FROM
      |         (SELECT DISTINCT doc_id, term FROM tf) GROUP BY 1),
      |qt AS (${bm25QtWhere(qtWhere)}),
      |part AS (
      | SELECT tf.doc_id, tf.term,
      |  (CASE WHEN tf.f = 't' THEN 2.0 ELSE 1.0 END) * tf.tf /
      |   (1.0 - 0.75 + 0.75 * (dl.dl / av.avgdl_f)) AS part
      | FROM tf JOIN dl ON tf.doc_id = dl.doc_id AND tf.f = dl.f
      | JOIN av ON tf.f = av.f
      | WHERE tf.term IN (SELECT term FROM qt)),
      |tft AS (SELECT doc_id, term, sum(part) AS tft FROM part GROUP BY 1, 2),
      |c AS (
      | SELECT tft.doc_id, tft.term,
      |  CAST(round(1000000.0 * (
      |    ln((CAST(n_docs - df AS DOUBLE) + 0.5) / (df + 0.5) + 1.0)
      |    * (tft / (1.2 + tft)))) AS BIGINT) AS c
      | FROM tft JOIN dfr USING (term) CROSS JOIN nd),
      |sc AS (SELECT qt.q_id, c.doc_id, CAST(sum(c.c) AS BIGINT) AS score
      |       FROM c JOIN qt USING (term) GROUP BY 1, 2),
      |r AS (SELECT q_id, doc_id, score,
      |        row_number() OVER (PARTITION BY q_id
      |                           ORDER BY score DESC, doc_id ASC) AS rnk
      |      FROM sc)
      |SELECT q_id, rnk, doc_id, score FROM r WHERE rnk <= 10
      |ORDER BY q_id, rnk""".stripMargin

  /** PRF expansion twin: the shared BM25 chain ranks pass 1, the
    * feedback top-10's term weights (fbtf × idf_micro, exact integers)
    * mine 5 new terms per query, the widened term set re-scores on the
    * SAME contribution CTE. */
  private lazy val bm25PrfOracle: String =
    s"""WITH $bm25Ctes,
      |fb AS (SELECT q_id, doc_id FROM r WHERE rnk <= 10),
      |idfm AS (SELECT term,
      |   CAST(round(1000000.0 *
      |     ln((CAST(n_docs - df AS DOUBLE) + 0.5) / (df + 0.5) + 1.0))
      |     AS BIGINT) AS idf_micro
      |  FROM dfr CROSS JOIN st),
      |cand AS (SELECT fb.q_id, tf.term, CAST(sum(tf.tf) AS BIGINT) AS fbtf
      |         FROM tf JOIN fb USING (doc_id) GROUP BY 1, 2),
      |candw AS (SELECT c2.q_id, c2.term, c2.fbtf * i.idf_micro AS w
      |          FROM cand c2 JOIN idfm i USING (term)
      |          WHERE NOT EXISTS (SELECT 1 FROM qt
      |                            WHERE qt.q_id = c2.q_id
      |                              AND qt.term = c2.term)),
      |expn AS (SELECT q_id, term FROM (
      |          SELECT q_id, term,
      |           row_number() OVER (PARTITION BY q_id
      |                              ORDER BY w DESC, term ASC) AS rn
      |          FROM candw) WHERE rn <= 5),
      |qt2 AS (SELECT q_id, term FROM qt
      |        UNION SELECT q_id, term FROM expn),
      |sc2 AS (SELECT qt2.q_id, c.doc_id, CAST(sum(c.c) AS BIGINT) AS score
      |        FROM c JOIN qt2 USING (term) GROUP BY 1, 2),
      |r2 AS (SELECT q_id, doc_id, score,
      |         row_number() OVER (PARTITION BY q_id
      |                            ORDER BY score DESC, doc_id ASC) AS rnk
      |       FROM sc2)
      |SELECT q_id, rnk, doc_id, score FROM r2 WHERE rnk <= 10
      |ORDER BY q_id, rnk""".stripMargin

  /** Chunk-level retrieval oracle: the sliding-chunk CTE feeds the SAME
    * BM25 chain — chunk ids are doc_id·2^20 + chunk_id on both engines.
    */
  private lazy val chunkBm25Oracle: String =
    s"""WITH ctk AS (
      | SELECT doc_id,
      |  list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> len(x) > 0) AS t
      | FROM documents),
      |cnz AS (SELECT doc_id, t, len(t) AS n FROM ctk WHERE len(t) > 0),
      |chx AS (
      | SELECT doc_id*1048576 + k AS doc_id,
      |        array_to_string(t[k*8 + 1 : least(k*8 + 16, n)], ' ') AS text
      | FROM cnz, unnest(range(0, (greatest(n - 16, 0) + 7) // 8 + 1)) r(k)),
      |${bm25CtesOver("chx")}
      |SELECT q_id, rnk, doc_id AS cid, score FROM r WHERE rnk <= 10
      |ORDER BY q_id, rnk""".stripMargin

  /** Chunk-grain forget twin: rebuild the chunk corpus from the
    * SURVIVING docs and replay the chunk-BM25 chain — equals erasing
    * every cid of the tombstoned parents in place, because a doc's
    * chunks derive from its text alone (cid packing is deterministic)
    * and erasure touches no other doc's rows.
    */
  private lazy val chunkBm25ForgetOracle: String =
    s"""WITH ctk AS (
      | SELECT doc_id,
      |  list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> len(x) > 0) AS t
      | FROM documents WHERE doc_id % 7 <> 3),
      |cnz AS (SELECT doc_id, t, len(t) AS n FROM ctk WHERE len(t) > 0),
      |chx AS (
      | SELECT doc_id*1048576 + k AS doc_id,
      |        array_to_string(t[k*8 + 1 : least(k*8 + 16, n)], ' ') AS text
      | FROM cnz, unnest(range(0, (greatest(n - 16, 0) + 7) // 8 + 1)) r(k)),
      |${bm25CtesOver("chx",
          bm25QtWhere("doc_id < 5 AND doc_id % 7 <> 3"))}
      |SELECT q_id, rnk, doc_id AS cid, score FROM r WHERE rnk <= 10
      |ORDER BY q_id, rnk""".stripMargin

  /** Hard-negative mining oracle: the chunk-BM25 rank with the query
    * doc's own chunks excluded post-ranking, re-ranked densely.
    */
  private lazy val hardNegativesOracle: String =
    s"""WITH ctk AS (
      | SELECT doc_id,
      |  list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> len(x) > 0) AS t
      | FROM documents),
      |cnz AS (SELECT doc_id, t, len(t) AS n FROM ctk WHERE len(t) > 0),
      |chx AS (
      | SELECT doc_id*1048576 + k AS doc_id,
      |        array_to_string(t[k*8 + 1 : least(k*8 + 16, n)], ' ') AS text
      | FROM cnz, unnest(range(0, (greatest(n - 16, 0) + 7) // 8 + 1)) r(k)),
      |${bm25CtesOver("chx")},
      |neg AS (SELECT q_id, doc_id AS cid, score, rnk FROM r
      |        WHERE doc_id // 1048576 <> q_id),
      |nr AS (SELECT q_id, cid, score,
      |        row_number() OVER (PARTITION BY q_id ORDER BY rnk) AS neg_rank
      |       FROM neg)
      |SELECT q_id, neg_rank, cid, score FROM nr WHERE neg_rank <= 10
      |ORDER BY q_id, neg_rank""".stripMargin

  /** Source-capped diverse top-k oracle: per-parent rank filter then the
    * dense global re-rank over the same BM25 chunk ranking.
    */
  private lazy val diverseTopKOracle: String =
    s"""WITH ctk AS (
      | SELECT doc_id,
      |  list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> len(x) > 0) AS t
      | FROM documents),
      |cnz AS (SELECT doc_id, t, len(t) AS n FROM ctk WHERE len(t) > 0),
      |chx AS (
      | SELECT doc_id*1048576 + k AS doc_id,
      |        array_to_string(t[k*8 + 1 : least(k*8 + 16, n)], ' ') AS text
      | FROM cnz, unnest(range(0, (greatest(n - 16, 0) + 7) // 8 + 1)) r(k)),
      |${bm25CtesOver("chx")},
      |pp AS (SELECT q_id, doc_id AS cid, score, rnk,
      |        row_number() OVER (PARTITION BY q_id, doc_id // 1048576
      |                           ORDER BY rnk) AS pr
      |       FROM r),
      |gg AS (SELECT q_id, cid, score,
      |        row_number() OVER (PARTITION BY q_id ORDER BY rnk) AS div_rank
      |       FROM pp WHERE pr <= 2)
      |SELECT q_id, div_rank, cid, score FROM gg WHERE div_rank <= 10
      |ORDER BY q_id, div_rank""".stripMargin

  /** Contrastive-example oracle: the co-chunk CTE supplies anchors and
    * positives, the anchor windows replay as the BM25 query side over
    * the sliding-chunk corpus (the [[bm25CtesOver]] chain with a custom
    * qt), the parent doc is excluded on the SCORED stream (doc_id //
    * 2^20), and ONE ranking window takes the top-3 negatives — the same
    * filter-then-rank order as the Spark operator.
    */
  private lazy val contrastiveExamplesOracle: String = {
    val anchQt =
      """SELECT DISTINCT doc_id*1048576 + a_chunk AS q_id,
        |   unnest(list_filter(regexp_split_to_array(lower(trim(a_text)), '\s+'),
        |          x -> len(x) > 0)) AS term
        |  FROM anch""".stripMargin
    s"""WITH ctk AS (
      | SELECT doc_id,
      |  list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> len(x) > 0) AS t
      | FROM documents),
      |cnz AS (SELECT doc_id, t, len(t) AS n FROM ctk WHERE len(t) > 0),
      |chx AS (
      | SELECT doc_id*1048576 + k AS doc_id,
      |        array_to_string(t[k*8 + 1 : least(k*8 + 16, n)], ' ') AS text
      | FROM cnz, unnest(range(0, (greatest(n - 16, 0) + 7) // 8 + 1)) r(k)),
      |lim AS (SELECT doc_id, t, n, (greatest(n - 16, 0) + 7) // 8 AS last
      |        FROM cnz WHERE doc_id < 5),
      |apx AS (SELECT doc_id, t, n, unnest(range(0, last - 2 + 1)) AS a
      |        FROM lim WHERE last >= 2),
      |anch AS (SELECT doc_id, CAST(a AS INT) AS a_chunk,
      |  CAST(a + 2 AS INT) AS b_chunk,
      |  array_to_string(t[a*8 + 1 : least(a*8 + 16, n)], ' ') AS a_text,
      |  array_to_string(t[(a+2)*8 + 1 : least((a+2)*8 + 16, n)], ' ') AS b_text
      | FROM apx),
      |${bm25CtesOver("chx", anchQt)},
      |neg AS (SELECT q_id, doc_id AS cid, score FROM sc
      |        WHERE doc_id // 1048576 <> q_id // 1048576),
      |nr AS (SELECT q_id, cid, score,
      |        row_number() OVER (PARTITION BY q_id
      |                           ORDER BY score DESC, cid ASC) AS neg_rank
      |       FROM neg)
      |SELECT anch.doc_id, anch.a_chunk, anch.b_chunk, anch.a_text,
      | anch.b_text, nr.neg_rank, nr.cid AS neg_cid, nr.score
      |FROM nr JOIN anch ON anch.doc_id = nr.q_id // 1048576
      |  AND anch.a_chunk = CAST(nr.q_id % 1048576 AS INT)
      |WHERE nr.neg_rank <= 3
      |ORDER BY doc_id, a_chunk, neg_rank""".stripMargin
  }

  /** CMS join-cardinality CTE chain up to the per-width estimate —
    * shared by the estimator row and the truth-audit row.
    */
  private val joinCardinalityCtes: String =
    """WITH a AS (SELECT CAST(l_orderkey AS VARCHAR) AS term FROM lineitem),
      |b AS (SELECT CAST(o_orderkey AS VARCHAR) AS term FROM orders),
      |ca AS (
      | SELECT d,
      |  CAST(concat('0x', substr(md5(term), d*8 + 1, 8)) AS BIGINT)
      |    % 65536 AS c,
      |  count(*) AS n
      | FROM a, unnest([0, 1, 2, 3]) dd(d) GROUP BY 1, 2),
      |cb AS (
      | SELECT d,
      |  CAST(concat('0x', substr(md5(term), d*8 + 1, 8)) AS BIGINT)
      |    % 65536 AS c,
      |  count(*) AS n
      | FROM b, unnest([0, 1, 2, 3]) dd(d) GROUP BY 1, 2),
      |w AS (SELECT unnest([256, 4096, 65536]) AS width),
      |wa AS (SELECT w.width, ca.d, ca.c % w.width AS c,
      |        CAST(sum(ca.n) AS BIGINT) AS na
      |       FROM w, ca GROUP BY 1, 2, 3),
      |wb AS (SELECT w.width, cb.d, cb.c % w.width AS c,
      |        CAST(sum(cb.n) AS BIGINT) AS nb
      |       FROM w, cb GROUP BY 1, 2, 3),
      |ip AS (SELECT wa.width, wa.d, sum(wa.na * wb.nb) AS ip
      |       FROM wa JOIN wb ON wa.width = wb.width AND wa.d = wb.d
      |         AND wa.c = wb.c
      |       GROUP BY 1, 2),
      |est AS (SELECT width, CAST(min(ip) AS BIGINT) AS cms_n
      |        FROM ip GROUP BY width)""".stripMargin

  /** Fuzzy-dedup survivor set over the portable cluster CTEs — shared by
    * the portable spelling AND (by survivor-set equivalence) the xxhash64
    * production pipeline.
    */
  private lazy val fuzzySurvivorsOracle: String =
    s"""WITH RECURSIVE
      |$portableClusterCtes,
      |sc AS (SELECT doc_id AS id, len(t) AS n_tokens FROM tk),
      |r AS (SELECT cl.cluster_id, cl.id, sc.n_tokens,
      |        row_number() OVER (PARTITION BY cl.cluster_id
      |          ORDER BY sc.n_tokens DESC, cl.id) AS rnk
      |      FROM cl JOIN sc ON cl.id = sc.id)
      |SELECT cluster_id, id AS keep_id, n_tokens FROM r WHERE rnk = 1
      |ORDER BY cluster_id""".stripMargin

  private val dedupIncrementalOracle: String =
    """WITH fp AS (
      | SELECT doc_id,
      |  md5(lower(regexp_replace(trim(nfc_normalize(text)), '\s+', ' ', 'g'))) AS fp
      | FROM documents),
      |corpus AS (SELECT DISTINCT fp FROM fp WHERE doc_id < 250),
      |batch AS (SELECT * FROM fp WHERE doc_id >= 250),
      |fresh AS (
      | SELECT b.doc_id, b.fp,
      |  row_number() OVER (PARTITION BY b.fp ORDER BY b.doc_id) AS rn
      | FROM batch b WHERE NOT EXISTS (
      |  SELECT 1 FROM corpus c WHERE c.fp = b.fp))
      |SELECT doc_id, fp FROM fresh WHERE rn = 1 ORDER BY doc_id""".stripMargin

  /** Incremental LSH-gate twin: batch docs (>= 250) survive iff no band
    * key collides with the stored-corpus (< 250) index. Serves both
    * `d_lsh_incremental` and its stored-layout twin.
    */
  private lazy val lshIncrementalOracle: String =
    s"""WITH tk AS (
      | SELECT doc_id,
      |  list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
      |              x -> len(x) > 0) AS t
      | FROM documents),
      |s AS (
      | SELECT doc_id, unnest(list_distinct(CASE WHEN len(t) >= 3
      |   THEN list_transform(range(1, len(t) - 1),
      |        i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
      |   ELSE [] END)) AS sh
      | FROM tk),
      |sig AS (
      | SELECT doc_id,
      | $portableSigSelect
      | FROM s GROUP BY doc_id),
      |bands AS (
      | SELECT doc_id, bb.band AS band_id,
      |  md5(CASE bb.band $portableBandCase END) AS key
      | FROM sig CROSS JOIN (VALUES (0),(1),(2),(3)) AS bb(band)),
      |hits AS (
      | SELECT DISTINCT n.doc_id
      | FROM bands n JOIN bands o
      |  ON n.band_id = o.band_id AND n.key = o.key
      | WHERE n.doc_id >= 250 AND o.doc_id < 250)
      |SELECT doc_id FROM documents
      |WHERE doc_id >= 250 AND doc_id NOT IN (SELECT doc_id FROM hits)
      |ORDER BY doc_id""".stripMargin

  private val portableSigSelect: String =
    (0 until 8).map(p =>
      s"min(CAST(concat('0x', substr(md5('${p / 4}:' || sh), ${1 + 8 * (p % 4)}, 8)) AS BIGINT)) AS sig$p")
      .mkString(",\n | ")
  private val portableBandCase: String =
    (0 until 4).map(b =>
      s"WHEN $b THEN CAST(sig${2 * b} AS VARCHAR) || ':' || CAST(sig${2 * b + 1} AS VARCHAR)")
      .mkString("\n |      ")

  /** Shared DuckDB CTE chain: portable minhash -> bands -> candidates ->
    * exact-Jaccard verified pairs -> recursive-CTE connected components
    * (`cl(id, cluster_id)`). Interpolated into every oracle that builds
    * on the verified near-dup cluster graph, so the twin pipelines stay
    * equivalent by construction.
    */
  private val portableClusterCtes: String =
    s"""tk AS (
        | SELECT doc_id,
        |  list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
        |              x -> len(x) > 0) AS t
        | FROM documents),
        |s AS (
        | SELECT doc_id, unnest(list_distinct(CASE WHEN len(t) >= 3
        |   THEN list_transform(range(1, len(t) - 1),
        |        i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
        |   ELSE [] END)) AS sh
        | FROM tk),
        |sig AS (
        | SELECT doc_id,
        | $portableSigSelect
        | FROM s GROUP BY doc_id),
        |bands AS (
        | SELECT doc_id, bb.band AS band_id,
        |  md5(CASE bb.band $portableBandCase END) AS key
        | FROM sig CROSS JOIN (VALUES (0),(1),(2),(3)) AS bb(band)),
        |cand AS (
        | SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
        | FROM bands x JOIN bands y
        |  ON x.band_id = y.band_id AND x.key = y.key AND x.doc_id < y.doc_id),
        |vset AS (
        | SELECT doc_id,
        |  list_distinct(list_transform(range(1, len(vt)-1),
        |    i -> vt[i] || ' ' || vt[i+1] || ' ' || vt[i+2])) AS ss
        | FROM (SELECT doc_id,
        |   list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> len(x) > 0) AS vt
        |  FROM documents)),
        |pr AS (
        | SELECT c.a, c.b
        | FROM cand c JOIN vset sa ON sa.doc_id = c.a
        |             JOIN vset sb ON sb.doc_id = c.b
        | WHERE CAST(len(list_intersect(sa.ss, sb.ss)) AS DOUBLE) /
        |       len(list_distinct(sa.ss || sb.ss)) >= 0.5),
        |edges AS (SELECT a AS x, b AS y FROM pr UNION SELECT b, a FROM pr),
        |walk(x, y) AS (
        | SELECT x, y FROM edges
        | UNION
        | SELECT w.x, e.y FROM walk w JOIN edges e ON w.y = e.x),
        |reach AS (SELECT x, y FROM walk
        |          UNION SELECT DISTINCT x, x FROM edges),
        |cl AS (SELECT x AS id, min(y) AS cluster_id FROM reach GROUP BY x)""".stripMargin

  /** Shared DuckDB CTE chain for the image perceptual-hash family: planted
    * md5 channel values -> 9x8 NN luminance grid -> dHash bits -> signed
    * 64-bit hash (`h(doc_id, dhash)`), mirroring
    * [[graft.multimodal.Multimodal.dHash64]] over [[imagePayloads]]'s
    * planting exactly. Interpolated into every image-dedup oracle so the
    * twins stay equivalent by construction.
    */
  private val imageDhashCtes: String =
    """cells AS (
      | SELECT d.doc_id, t.j,
      |  ((t.j // 9) * 8 + ((t.j % 9) * 8) // 9) * 3 AS p
      | FROM documents d, (SELECT unnest(range(0, 72)) AS j) t),
      |lum AS (
      | SELECT doc_id, j,
      |  ( (CAST(concat('0x', substr(md5(CAST(doc_id % 250 AS VARCHAR) || ':' ||
      |       CAST(p AS VARCHAR)), 1, 2)) AS BIGINT) +
      |     CASE WHEN doc_id >= 250 AND p = 3 * (doc_id % 64) THEN 8 ELSE 0 END) % 256 * 299
      |  + (CAST(concat('0x', substr(md5(CAST(doc_id % 250 AS VARCHAR) || ':' ||
      |       CAST(p + 1 AS VARCHAR)), 1, 2)) AS BIGINT) +
      |     CASE WHEN doc_id >= 250 AND p+1 = 3 * (doc_id % 64) THEN 8 ELSE 0 END) % 256 * 587
      |  + (CAST(concat('0x', substr(md5(CAST(doc_id % 250 AS VARCHAR) || ':' ||
      |       CAST(p + 2 AS VARCHAR)), 1, 2)) AS BIGINT) +
      |     CASE WHEN doc_id >= 250 AND p+2 = 3 * (doc_id % 64) THEN 8 ELSE 0 END) % 256 * 114
      |  ) // 1000 AS lum
      | FROM cells),
      |bits AS (
      | SELECT a.doc_id, (a.j // 9) * 8 + (a.j % 9) AS bit
      | FROM lum a JOIN lum b ON b.doc_id = a.doc_id AND b.j = a.j + 1
      | WHERE a.j % 9 < 8 AND b.lum > a.lum),
      |h AS (
      | SELECT d.doc_id,
      |  CAST(coalesce(sum(CASE WHEN bit = 63 THEN -9223372036854775807 - 1
      |                         ELSE (CAST(1 AS BIGINT) << bit) END), 0) AS BIGINT) AS dhash
      | FROM documents d LEFT JOIN bits ON bits.doc_id = d.doc_id
      | GROUP BY d.doc_id)""".stripMargin

  /** Shared DuckDB CTE chain for the audio fingerprint family: planted md5
    * samples -> 65 integer energy windows -> comparison bits -> signed
    * 64-bit hash (`ah(doc_id, ahash)`), mirroring
    * [[graft.multimodal.Multimodal.audioHash64]] over [[audioPayloads]]'s
    * planting exactly.
    */
  private val audioHashCtes: String =
    """par AS (SELECT doc_id, doc_id % 250 AS base,
      |        256 + (doc_id % 250) % 128 AS n FROM documents),
      |smx AS (SELECT doc_id, base, n, unnest(range(0, n)) AS i FROM par),
      |sm AS (
      | SELECT doc_id, (i * 65) // n AS w,
      |  abs(((CAST(concat('0x', substr(md5('a:' || CAST(base AS VARCHAR) || ':' ||
      |         CAST(i AS VARCHAR)), 1, 4)) AS BIGINT) +
      |       CASE WHEN doc_id >= 250 AND i = doc_id % 199 THEN 16 ELSE 0 END)
      |       % 65536) - 32768) AS av
      | FROM smx),
      |e AS (SELECT doc_id, w, sum(av) AS ew FROM sm GROUP BY doc_id, w),
      |abits AS (
      | SELECT a.doc_id, a.w AS bit
      | FROM e a JOIN e b ON b.doc_id = a.doc_id AND b.w = a.w + 1
      | WHERE a.w < 64 AND b.ew > a.ew),
      |ah AS (
      | SELECT d.doc_id,
      |  CAST(coalesce(sum(CASE WHEN bit = 63 THEN -9223372036854775807 - 1
      |                         ELSE (CAST(1 AS BIGINT) << bit) END), 0) AS BIGINT) AS ahash
      | FROM documents d LEFT JOIN abits ON abits.doc_id = d.doc_id
      | GROUP BY d.doc_id)""".stripMargin

  /** IVF-PQ DuckDB twin: the PQ CTE chain (16 first-row unit-sub-vector
    * codebooks, argmin encode with index tie-break, ADC shortlist 50)
    * plus coarse assignment over the 8 first unit vectors and nprobe=3
    * probe pruning before the ADC join. Shared VERBATIM by
    * `s_ann_ivfpq` (flat path: per-run encode) and `s_ann_ivfpq_stored`
    * (codes read back from the [[graft.operators.Similarity.writePqStore]]
    * layout) — the two Spark paths are row-identical by construction, so
    * one twin grades both.
    */
  // two-level stored ANN twin: the full hierarchy replayed relationally
  // (shared by the built-codebook row and the persisted-codebook re-attach
  // row - identical frozen geometry, identical replay)
  private val ivf2TwinSql: String =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |u AS (SELECT vec_id, v,
      |        CASE WHEN sqrt(list_dot_product(v, v)) = 0 THEN v
      |             ELSE list_transform(v, x -> x / sqrt(list_dot_product(v, v))) END AS vu
      |      FROM e),
      |tp AS (SELECT vec_id AS tid, vu AS tvu FROM u WHERE vec_id < 3),
      |td AS (SELECT u.vec_id, tp.tid,
      |         list_sum(list_transform(range(1, 65),
      |           i -> (u.vu[i] - tp.tvu[i]) * (u.vu[i] - tp.tvu[i]))) AS d
      |       FROM u, tp),
      |tassign AS (SELECT vec_id, tid FROM (
      |              SELECT vec_id, tid,
      |                row_number() OVER (PARTITION BY vec_id ORDER BY d, tid) AS rn
      |              FROM td) WHERE rn = 1),
      |kids AS (SELECT tid, kvid, kvu, j FROM (
      |           SELECT t.tid, t.vec_id AS kvid, u.vu AS kvu,
      |             row_number() OVER (PARTITION BY t.tid ORDER BY t.vec_id) AS j
      |           FROM tassign t JOIN u ON u.vec_id = t.vec_id) WHERE j <= 3),
      |bs AS (SELECT tid,
      |         CAST(coalesce(sum(m) OVER (ORDER BY tid
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS base
      |       FROM (SELECT tid, count(*) AS m FROM kids GROUP BY tid)),
      |gk AS (SELECT k.tid, k.kvid, k.kvu, bs.base + k.j - 1 AS gid
      |       FROM kids k JOIN bs USING (tid)),
      |cd AS (SELECT u.vec_id, gk.gid,
      |         list_sum(list_transform(range(1, 65),
      |           i -> (u.vu[i] - gk.kvu[i]) * (u.vu[i] - gk.kvu[i]))) AS d
      |       FROM u JOIN tassign USING (vec_id) JOIN gk ON gk.tid = tassign.tid),
      |assign AS (SELECT vec_id, gid FROM (
      |             SELECT vec_id, gid,
      |               row_number() OVER (PARTITION BY vec_id ORDER BY d, gid) AS rn
      |             FROM cd) WHERE rn = 1),
      |qtop AS (SELECT vec_id AS q_id, tid FROM (
      |           SELECT vec_id, tid,
      |             row_number() OVER (PARTITION BY vec_id ORDER BY d, tid) AS rn
      |           FROM td WHERE vec_id < 10) WHERE rn <= 2),
      |qkd AS (SELECT q.q_id, gk.gid,
      |         list_sum(list_transform(range(1, 65),
      |           i -> (u.vu[i] - gk.kvu[i]) * (u.vu[i] - gk.kvu[i]))) AS d
      |        FROM qtop q JOIN u ON u.vec_id = q.q_id
      |                    JOIN gk ON gk.tid = q.tid),
      |qprobe AS (SELECT q_id, gid FROM (
      |             SELECT q_id, gid,
      |               row_number() OVER (PARTITION BY q_id ORDER BY d, gid) AS rn
      |             FROM qkd) WHERE rn <= 3),
      |cand AS (SELECT DISTINCT qprobe.q_id, assign.vec_id AS c_id
      |         FROM assign JOIN qprobe ON qprobe.gid = assign.gid
      |         WHERE assign.vec_id <> qprobe.q_id),
      |rer AS (SELECT cand.q_id, cand.c_id,
      |          list_dot_product(q.v, c.v) /
      |          (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))) AS sim
      |        FROM cand JOIN e q ON q.vec_id = cand.q_id
      |                  JOIN e c ON c.vec_id = cand.c_id),
      |r AS (SELECT q_id, c_id, sim,
      |        row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, c_id) AS rnk
      |      FROM rer)
      |SELECT q_id, c_id, rnk, round(sim, 4) AS sim FROM r
      |WHERE rnk <= 5 ORDER BY q_id, rnk""".stripMargin

  /** Two-level IVF-PQ twin: the ivf2TwinSql ROUTER (first-3-unit tops,
    * min-3-id children, global ids by cumulative base) composed with the
    * ivfPqTwinSql CODES chain (first-16 sliced subquantizers, ADC,
    * shortlist, exact re-rank) — the flat coarse CTEs are replaced by
    * the hierarchy, everything downstream is shared verbatim.
    */
  private val ivfPq2TwinSql: String =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |u AS (SELECT vec_id, v,
      |        CASE WHEN sqrt(list_dot_product(v, v)) = 0 THEN v
      |             ELSE list_transform(v, x -> x / sqrt(list_dot_product(v, v))) END AS vu
      |      FROM e),
      |tp AS (SELECT vec_id AS tid, vu AS tvu FROM u WHERE vec_id < 3),
      |td AS (SELECT u.vec_id, tp.tid,
      |         list_sum(list_transform(range(1, 65),
      |           i -> (u.vu[i] - tp.tvu[i]) * (u.vu[i] - tp.tvu[i]))) AS d
      |       FROM u, tp),
      |tassign AS (SELECT vec_id, tid FROM (
      |              SELECT vec_id, tid,
      |                row_number() OVER (PARTITION BY vec_id ORDER BY d, tid) AS rn
      |              FROM td) WHERE rn = 1),
      |kids AS (SELECT tid, kvid, kvu, j FROM (
      |           SELECT t.tid, t.vec_id AS kvid, u.vu AS kvu,
      |             row_number() OVER (PARTITION BY t.tid ORDER BY t.vec_id) AS j
      |           FROM tassign t JOIN u ON u.vec_id = t.vec_id) WHERE j <= 3),
      |bs AS (SELECT tid,
      |         CAST(coalesce(sum(m) OVER (ORDER BY tid
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS base
      |       FROM (SELECT tid, count(*) AS m FROM kids GROUP BY tid)),
      |gk AS (SELECT k.tid, k.kvid, k.kvu, bs.base + k.j - 1 AS gid
      |       FROM kids k JOIN bs USING (tid)),
      |gd AS (SELECT u.vec_id, gk.gid,
      |         list_sum(list_transform(range(1, 65),
      |           i -> (u.vu[i] - gk.kvu[i]) * (u.vu[i] - gk.kvu[i]))) AS d
      |       FROM u JOIN tassign USING (vec_id) JOIN gk ON gk.tid = tassign.tid),
      |assign AS (SELECT vec_id, gid FROM (
      |             SELECT vec_id, gid,
      |               row_number() OVER (PARTITION BY vec_id ORDER BY d, gid) AS rn
      |             FROM gd) WHERE rn = 1),
      |qtop AS (SELECT vec_id AS q_id, tid FROM (
      |           SELECT vec_id, tid,
      |             row_number() OVER (PARTITION BY vec_id ORDER BY d, tid) AS rn
      |           FROM td WHERE vec_id < 10) WHERE rn <= 2),
      |qkd AS (SELECT q.q_id, gk.gid,
      |         list_sum(list_transform(range(1, 65),
      |           i -> (u.vu[i] - gk.kvu[i]) * (u.vu[i] - gk.kvu[i]))) AS d
      |        FROM qtop q JOIN u ON u.vec_id = q.q_id
      |                    JOIN gk ON gk.tid = q.tid),
      |qprobe AS (SELECT q_id, gid FROM (
      |             SELECT q_id, gid,
      |               row_number() OVER (PARTITION BY q_id ORDER BY d, gid) AS rn
      |             FROM qkd) WHERE rn <= 3),
      |sub AS (SELECT s FROM generate_series(0, 7) AS t(s)),
      |cent AS (SELECT c.vec_id AS cid, sub.s, c.vu[sub.s*8 + 1 : sub.s*8 + 8] AS cv
      |         FROM u c, sub WHERE c.vec_id < 16),
      |sv AS (SELECT u.vec_id, sub.s, u.vu[sub.s*8 + 1 : sub.s*8 + 8] AS sv FROM u, sub),
      |dist AS (SELECT sv.vec_id, sv.s, cent.cid,
      |           list_sum(list_transform(range(1, 9),
      |             i -> (sv.sv[i] - cent.cv[i]) * (sv.sv[i] - cent.cv[i]))) AS d
      |         FROM sv JOIN cent ON sv.s = cent.s),
      |code AS (SELECT vec_id, s, cid AS code FROM (
      |           SELECT vec_id, s, cid,
      |             row_number() OVER (PARTITION BY vec_id, s ORDER BY d, cid) AS rn
      |           FROM dist) WHERE rn = 1),
      |qlut AS (SELECT q.vec_id AS q_id, dist.s, dist.cid, dist.d AS pd
      |         FROM dist JOIN u q ON dist.vec_id = q.vec_id WHERE q.vec_id < 10),
      |adc AS (SELECT qprobe.q_id, code.vec_id AS c_id,
      |          list_sum(list(qlut.pd ORDER BY qlut.s)) AS adc
      |        FROM code
      |        JOIN assign ON assign.vec_id = code.vec_id
      |        JOIN qprobe ON qprobe.gid = assign.gid
      |        JOIN qlut ON qlut.s = code.s AND qlut.cid = code.code
      |                 AND qlut.q_id = qprobe.q_id
      |        WHERE code.vec_id <> qprobe.q_id
      |        GROUP BY qprobe.q_id, code.vec_id),
      |short AS (SELECT q_id, c_id FROM (
      |            SELECT q_id, c_id,
      |              row_number() OVER (PARTITION BY q_id ORDER BY adc, c_id) AS srank
      |            FROM adc) WHERE srank <= 50),
      |rer AS (SELECT short.q_id, short.c_id,
      |          list_dot_product(q.v, c.v) /
      |          (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))) AS sim
      |        FROM short JOIN u q ON q.vec_id = short.q_id
      |                   JOIN u c ON c.vec_id = short.c_id),
      |r AS (SELECT q_id, c_id, sim,
      |        row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, c_id) AS rnk
      |      FROM rer)
      |SELECT q_id, c_id, rnk, round(sim, 4) AS sim FROM r
      |WHERE rnk <= 5 ORDER BY q_id, rnk""".stripMargin

  /** [[ivfPq2TwinSql]] with REBUILD-ON-SURVIVORS semantics for the
    * cascade-erasure row: geometry CTEs (router tops/children, PQ
    * subquantizer centroids) derive from the FULL corpus — the frozen
    * build-time geometry, deletion never retrains — while the stored
    * codes (`sv`→`code`), the corpus assignment (`gd`), and the query
    * set restrict to survivors (vec_id % 7 <> 3). Matching this proves
    * the linkage-driven in-place erasure of codes + rerank sidecar ≡
    * rebuilding both layouts from the surviving corpus.
    */
  private val ivfPq2ForgetTwinSql: String =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |u AS (SELECT vec_id, v,
      |        CASE WHEN sqrt(list_dot_product(v, v)) = 0 THEN v
      |             ELSE list_transform(v, x -> x / sqrt(list_dot_product(v, v))) END AS vu
      |      FROM e),
      |tp AS (SELECT vec_id AS tid, vu AS tvu FROM u WHERE vec_id < 3),
      |td AS (SELECT u.vec_id, tp.tid,
      |         list_sum(list_transform(range(1, 65),
      |           i -> (u.vu[i] - tp.tvu[i]) * (u.vu[i] - tp.tvu[i]))) AS d
      |       FROM u, tp),
      |tassign AS (SELECT vec_id, tid FROM (
      |              SELECT vec_id, tid,
      |                row_number() OVER (PARTITION BY vec_id ORDER BY d, tid) AS rn
      |              FROM td) WHERE rn = 1),
      |kids AS (SELECT tid, kvid, kvu, j FROM (
      |           SELECT t.tid, t.vec_id AS kvid, u.vu AS kvu,
      |             row_number() OVER (PARTITION BY t.tid ORDER BY t.vec_id) AS j
      |           FROM tassign t JOIN u ON u.vec_id = t.vec_id) WHERE j <= 3),
      |bs AS (SELECT tid,
      |         CAST(coalesce(sum(m) OVER (ORDER BY tid
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS base
      |       FROM (SELECT tid, count(*) AS m FROM kids GROUP BY tid)),
      |gk AS (SELECT k.tid, k.kvid, k.kvu, bs.base + k.j - 1 AS gid
      |       FROM kids k JOIN bs USING (tid)),
      |gd AS (SELECT u.vec_id, gk.gid,
      |         list_sum(list_transform(range(1, 65),
      |           i -> (u.vu[i] - gk.kvu[i]) * (u.vu[i] - gk.kvu[i]))) AS d
      |       FROM u JOIN tassign USING (vec_id) JOIN gk ON gk.tid = tassign.tid
      |       WHERE u.vec_id % 7 <> 3),
      |assign AS (SELECT vec_id, gid FROM (
      |             SELECT vec_id, gid,
      |               row_number() OVER (PARTITION BY vec_id ORDER BY d, gid) AS rn
      |             FROM gd) WHERE rn = 1),
      |qtop AS (SELECT vec_id AS q_id, tid FROM (
      |           SELECT vec_id, tid,
      |             row_number() OVER (PARTITION BY vec_id ORDER BY d, tid) AS rn
      |           FROM td WHERE vec_id < 10 AND vec_id % 7 <> 3) WHERE rn <= 2),
      |qkd AS (SELECT q.q_id, gk.gid,
      |         list_sum(list_transform(range(1, 65),
      |           i -> (u.vu[i] - gk.kvu[i]) * (u.vu[i] - gk.kvu[i]))) AS d
      |        FROM qtop q JOIN u ON u.vec_id = q.q_id
      |                    JOIN gk ON gk.tid = q.tid),
      |qprobe AS (SELECT q_id, gid FROM (
      |             SELECT q_id, gid,
      |               row_number() OVER (PARTITION BY q_id ORDER BY d, gid) AS rn
      |             FROM qkd) WHERE rn <= 3),
      |sub AS (SELECT s FROM generate_series(0, 7) AS t(s)),
      |cent AS (SELECT c.vec_id AS cid, sub.s, c.vu[sub.s*8 + 1 : sub.s*8 + 8] AS cv
      |         FROM u c, sub WHERE c.vec_id < 16),
      |sv AS (SELECT u.vec_id, sub.s, u.vu[sub.s*8 + 1 : sub.s*8 + 8] AS sv
      |       FROM u, sub WHERE u.vec_id % 7 <> 3),
      |dist AS (SELECT sv.vec_id, sv.s, cent.cid,
      |           list_sum(list_transform(range(1, 9),
      |             i -> (sv.sv[i] - cent.cv[i]) * (sv.sv[i] - cent.cv[i]))) AS d
      |         FROM sv JOIN cent ON sv.s = cent.s),
      |code AS (SELECT vec_id, s, cid AS code FROM (
      |           SELECT vec_id, s, cid,
      |             row_number() OVER (PARTITION BY vec_id, s ORDER BY d, cid) AS rn
      |           FROM dist) WHERE rn = 1),
      |qlut AS (SELECT q.vec_id AS q_id, dist.s, dist.cid, dist.d AS pd
      |         FROM dist JOIN u q ON dist.vec_id = q.vec_id
      |         WHERE q.vec_id < 10 AND q.vec_id % 7 <> 3),
      |adc AS (SELECT qprobe.q_id, code.vec_id AS c_id,
      |          list_sum(list(qlut.pd ORDER BY qlut.s)) AS adc
      |        FROM code
      |        JOIN assign ON assign.vec_id = code.vec_id
      |        JOIN qprobe ON qprobe.gid = assign.gid
      |        JOIN qlut ON qlut.s = code.s AND qlut.cid = code.code
      |                 AND qlut.q_id = qprobe.q_id
      |        WHERE code.vec_id <> qprobe.q_id
      |        GROUP BY qprobe.q_id, code.vec_id),
      |short AS (SELECT q_id, c_id FROM (
      |            SELECT q_id, c_id,
      |              row_number() OVER (PARTITION BY q_id ORDER BY adc, c_id) AS srank
      |            FROM adc) WHERE srank <= 50),
      |rer AS (SELECT short.q_id, short.c_id,
      |          list_dot_product(q.v, c.v) /
      |          (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))) AS sim
      |        FROM short JOIN u q ON q.vec_id = short.q_id
      |                   JOIN u c ON c.vec_id = short.c_id),
      |r AS (SELECT q_id, c_id, sim,
      |        row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, c_id) AS rnk
      |      FROM rer)
      |SELECT q_id, c_id, rnk, round(sim, 4) AS sim FROM r
      |WHERE rnk <= 5 ORDER BY q_id, rnk""".stripMargin

  private val ivfPqTwinSql: String =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |u AS (SELECT vec_id, v,
      |        CASE WHEN sqrt(list_dot_product(v, v)) = 0 THEN v
      |             ELSE list_transform(v, x -> x / sqrt(list_dot_product(v, v))) END AS vu
      |      FROM e),
      |sub AS (SELECT s FROM generate_series(0, 7) AS t(s)),
      |cent AS (SELECT c.vec_id AS cid, sub.s, c.vu[sub.s*8 + 1 : sub.s*8 + 8] AS cv
      |         FROM u c, sub WHERE c.vec_id < 16),
      |sv AS (SELECT u.vec_id, sub.s, u.vu[sub.s*8 + 1 : sub.s*8 + 8] AS sv FROM u, sub),
      |dist AS (SELECT sv.vec_id, sv.s, cent.cid,
      |           list_sum(list_transform(range(1, 9),
      |             i -> (sv.sv[i] - cent.cv[i]) * (sv.sv[i] - cent.cv[i]))) AS d
      |         FROM sv JOIN cent ON sv.s = cent.s),
      |code AS (SELECT vec_id, s, cid AS code FROM (
      |           SELECT vec_id, s, cid,
      |             row_number() OVER (PARTITION BY vec_id, s ORDER BY d, cid) AS rn
      |           FROM dist) WHERE rn = 1),
      |qlut AS (SELECT q.vec_id AS q_id, dist.s, dist.cid, dist.d AS pd
      |         FROM dist JOIN u q ON dist.vec_id = q.vec_id WHERE q.vec_id < 10),
      |cu AS (SELECT vec_id AS ccid, vu AS cvu FROM u WHERE vec_id < 8),
      |cd AS (SELECT u.vec_id, cu.ccid,
      |         list_sum(list_transform(range(1, 65),
      |           i -> (u.vu[i] - cu.cvu[i]) * (u.vu[i] - cu.cvu[i]))) AS d
      |       FROM u, cu),
      |assign AS (SELECT vec_id, ccid FROM (
      |             SELECT vec_id, ccid,
      |               row_number() OVER (PARTITION BY vec_id ORDER BY d, ccid) AS rn
      |             FROM cd) WHERE rn = 1),
      |qprobe AS (SELECT vec_id AS q_id, ccid FROM (
      |             SELECT vec_id, ccid,
      |               row_number() OVER (PARTITION BY vec_id ORDER BY d, ccid) AS rn
      |             FROM cd WHERE vec_id < 10) WHERE rn <= 3),
      |adc AS (SELECT qprobe.q_id, code.vec_id AS c_id,
      |          list_sum(list(qlut.pd ORDER BY qlut.s)) AS adc
      |        FROM code
      |        JOIN assign ON assign.vec_id = code.vec_id
      |        JOIN qprobe ON qprobe.ccid = assign.ccid
      |        JOIN qlut ON qlut.s = code.s AND qlut.cid = code.code
      |                 AND qlut.q_id = qprobe.q_id
      |        WHERE code.vec_id <> qprobe.q_id
      |        GROUP BY qprobe.q_id, code.vec_id),
      |short AS (SELECT q_id, c_id FROM (
      |            SELECT q_id, c_id,
      |              row_number() OVER (PARTITION BY q_id ORDER BY adc, c_id) AS srank
      |            FROM adc) WHERE srank <= 50),
      |rer AS (SELECT short.q_id, short.c_id,
      |          list_dot_product(q.v, c.v) /
      |          (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))) AS sim
      |        FROM short JOIN u q ON q.vec_id = short.q_id
      |                   JOIN u c ON c.vec_id = short.c_id),
      |r AS (SELECT q_id, c_id, sim,
      |        row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, c_id) AS rnk
      |      FROM rer)
      |SELECT q_id, c_id, rnk, round(sim, 4) AS sim FROM r
      |WHERE rnk <= 5 ORDER BY q_id, rnk""".stripMargin

  /** One unrolled BPE round for the `d_bpe_train` / `d_bpe_tokens` twins
    * (the `d_link_rank` chained-CTE style, with DuckDB `MATERIALIZED`
    * hints so the per-round references don't re-inline exponentially):
    * pair counts over the previous dictionary state → deterministic
    * winner (count DESC, a, b) → greedy left-to-right non-overlapping
    * merge application, spelled positionally — mark matching pairs, and
    * within each run of CONSECUTIVE matches (only possible when a == b)
    * keep every other one (gaps-and-islands parity), which is exactly
    * the Spark-side fold's semantics.
    */
  private def bpeRoundCte(r: Int): String = {
    val p = s"s${r - 1}"
    s"""p$r AS (
       |  SELECT s.syms[t.i] AS a, s.syms[t.i+1] AS b, sum(s.f) AS c
       |  FROM $p s, unnest(range(1, len(s.syms))) AS t(i)
       |  GROUP BY 1, 2),
       |win$r AS MATERIALIZED (SELECT a, b, c FROM p$r ORDER BY c DESC, a, b LIMIT 1),
       |m$r AS MATERIALIZED (
       |  SELECT s.w, s.f, t.i, s.syms[t.i] AS x, win.a AS wa, win.b AS wb,
       |    CASE WHEN t.i < len(s.syms) AND s.syms[t.i] = win.a AND s.syms[t.i+1] = win.b
       |         THEN 1 ELSE 0 END AS hit
       |  FROM $p s CROSS JOIN win$r win, unnest(range(1, len(s.syms) + 1)) AS t(i)),
       |h$r AS (
       |  SELECT w, i, i - row_number() OVER (PARTITION BY w ORDER BY i) AS isl
       |  FROM m$r WHERE hit = 1),
       |keep$r AS MATERIALIZED (
       |  SELECT w, i FROM (
       |    SELECT w, i, min(i) OVER (PARTITION BY w, isl) AS i0 FROM h$r)
       |  WHERE (i - i0) % 2 = 0),
       |s$r AS MATERIALIZED (
       |  SELECT m.w, min(m.f) AS f,
       |    list(CASE WHEN k.i IS NOT NULL THEN m.wa || m.wb ELSE m.x END ORDER BY m.i) AS syms
       |  FROM m$r m
       |  LEFT JOIN keep$r k ON k.w = m.w AND k.i = m.i
       |  LEFT JOIN keep$r pk ON pk.w = m.w AND pk.i = m.i - 1
       |  WHERE pk.i IS NULL
       |  GROUP BY m.w)""".stripMargin
  }

  /** Shared WITH-prefix of the BPE twins: tokenize → word-frequency
    * dictionary → character symbols → 6 unrolled merge rounds.
    */
  private val bpeChainSql: String =
    s"""WITH tk AS (SELECT list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
       |             x -> len(x) > 0) AS tks FROM documents),
       |wf AS (SELECT w, count(*) AS f FROM (SELECT unnest(tks) AS w FROM tk) GROUP BY w),
       |s0 AS MATERIALIZED (SELECT w, f,
       |  list_transform(range(1, len(w) + 1), i -> substr(w, CAST(i AS INT), 1)) AS syms
       |  FROM wf),
       |${(1 to 6).map(bpeRoundCte).mkString(",\n")}""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "q1_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        | round(sum(l_quantity),2) AS sum_qty,
        | round(sum(l_extendedprice),2) AS sum_base_price,
        | round(sum(l_extendedprice*(1-l_discount)),2) AS sum_disc_price,
        | round(sum(l_extendedprice*(1-l_discount)*(1+l_tax)),2) AS sum_charge,
        | round(avg(l_quantity),4) AS avg_qty,
        | round(avg(l_extendedprice),4) AS avg_price,
        | round(avg(l_discount),4) AS avg_disc,
        | count(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    // filtered ANN: the same IVF recomputation with the label predicate
    // applied to CANDIDATES before ranking (pre-filter semantics)
    "s_ann_filtered" ->
      """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
        |           FROM embeddings),
        |u AS (SELECT vec_id, v,
        |        CASE WHEN sqrt(list_dot_product(v, v)) = 0 THEN v
        |             ELSE list_transform(v, x -> x / sqrt(list_dot_product(v, v))) END AS vu
        |      FROM e),
        |cu AS (SELECT vec_id AS ccid, vu AS cvu FROM u WHERE vec_id < 8),
        |cd AS (SELECT u.vec_id, cu.ccid,
        |         list_sum(list_transform(range(1, 65),
        |           i -> (u.vu[i] - cu.cvu[i]) * (u.vu[i] - cu.cvu[i]))) AS d
        |       FROM u, cu),
        |assign AS (SELECT vec_id, ccid FROM (
        |             SELECT vec_id, ccid,
        |               row_number() OVER (PARTITION BY vec_id ORDER BY d, ccid) AS rn
        |             FROM cd) WHERE rn = 1),
        |qprobe AS (SELECT vec_id AS q_id, ccid FROM (
        |             SELECT vec_id, ccid,
        |               row_number() OVER (PARTITION BY vec_id ORDER BY d, ccid) AS rn
        |             FROM cd WHERE vec_id < 10) WHERE rn <= 3),
        |cand AS (SELECT DISTINCT qprobe.q_id, assign.vec_id AS c_id
        |         FROM assign JOIN qprobe ON qprobe.ccid = assign.ccid
        |         JOIN e lbl ON lbl.vec_id = assign.vec_id
        |         WHERE assign.vec_id <> qprobe.q_id AND lbl.label <= 3),
        |rer AS (SELECT cand.q_id, cand.c_id,
        |          list_dot_product(q.v, c.v) /
        |          (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))) AS sim
        |        FROM cand JOIN e q ON q.vec_id = cand.q_id
        |                  JOIN e c ON c.vec_id = cand.c_id),
        |r AS (SELECT q_id, c_id, sim,
        |        row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, c_id) AS rnk
        |      FROM rer)
        |SELECT q_id, c_id, rnk, round(sim, 4) AS sim FROM r
        |WHERE rnk <= 5 ORDER BY q_id, rnk""".stripMargin,
    "q3_top_orders" ->
      """SELECT l_orderkey, CAST(o_orderdate AS DATE) AS o_orderdate,
        | round(sum(l_extendedprice*(1-l_discount)),2) AS revenue
        |FROM customer, orders, lineitem
        |WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey
        |  AND l_orderkey = o_orderkey
        |  AND o_orderdate < TIMESTAMP '1998-01-01'
        |  AND l_shipdate > TIMESTAMP '1998-01-01'
        |GROUP BY l_orderkey, CAST(o_orderdate AS DATE)
        |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin,
    "q5_region_revenue" ->
      """SELECT n_name,
        | round(sum(l_extendedprice*(1-l_discount)),2) AS revenue
        |FROM customer, orders, lineitem, supplier, nation, region
        |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
        |  AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1998-01-01'
        |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin,
    // Q7 analogue: bilateral shipping volume by year; the direction
    // disjunction spelled as supp <> cust over the 2-nation prefilter
    "q7_nation_volume" ->
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        | CAST(extract(year FROM l_shipdate) AS INT) AS l_year,
        | round(sum(l_extendedprice*(1-l_discount)),2) AS revenue
        |FROM lineitem, orders, customer, supplier, nation n1, nation n2
        |WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey
        |  AND l_suppkey = s_suppkey
        |  AND s_nationkey = n1.n_nationkey AND c_nationkey = n2.n_nationkey
        |  AND n1.n_name IN ('NATION_1', 'NATION_2')
        |  AND n2.n_name IN ('NATION_1', 'NATION_2')
        |  AND n1.n_name <> n2.n_name
        |  AND l_shipdate >= TIMESTAMP '1995-01-01'
        |  AND l_shipdate < TIMESTAMP '1997-01-01'
        |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,
    // Q8 analogue: market share from the ROUNDED aggregate pair
    "q8_market_share" ->
      """WITH v AS (
        | SELECT CAST(extract(year FROM o_orderdate) AS INT) AS o_year,
        |  l_extendedprice*(1-l_discount) AS vol, n2.n_name AS supp_nation
        | FROM part, supplier, lineitem, orders, customer,
        |      nation n1, nation n2, region
        | WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey
        |   AND l_orderkey = o_orderkey AND o_custkey = c_custkey
        |   AND c_nationkey = n1.n_nationkey AND n1.n_regionkey = r_regionkey
        |   AND r_name = 'AMERICA' AND s_nationkey = n2.n_nationkey
        |   AND p_type = 'ECONOMY'
        |   AND o_orderdate >= TIMESTAMP '1995-01-01'
        |   AND o_orderdate < TIMESTAMP '1999-01-01'),
        |a AS (
        | SELECT o_year,
        |  round(sum(CASE WHEN supp_nation = 'NATION_3' THEN vol ELSE 0 END), 2)
        |    AS nation_volume,
        |  round(sum(vol), 2) AS total_volume
        | FROM v GROUP BY o_year)
        |SELECT o_year, nation_volume, total_volume,
        | round(nation_volume / total_volume, 6) AS mkt_share
        |FROM a ORDER BY o_year""".stripMargin,
    // Q4 analogue: EXISTS one late lineitem (> 60 days after order)
    "q4_order_priority" ->
      """WITH o AS (SELECT * FROM orders
        |           WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        |             AND o_orderdate < TIMESTAMP '1996-04-01')
        |SELECT o_orderpriority, count(*) AS order_count
        |FROM o WHERE EXISTS (
        | SELECT 1 FROM lineitem l
        | WHERE l.l_orderkey = o.o_orderkey
        |   AND l.l_shipdate > CAST(o.o_orderdate AS DATE) + INTERVAL 60 DAY)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    // Q6: one pushed-down filter + fixed-point-cents aggregate
    "q6_forecast_revenue" ->
      """SELECT count(*) AS n,
        | CAST(sum(CAST(round(l_extendedprice * l_discount * 100) AS BIGINT))
        |      AS DOUBLE) / 100.0 AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND l_discount >= 0.05 AND l_discount <= 0.07
        |  AND l_quantity < 24""".stripMargin,
    // Q14 analogue: promo share from the ROUNDED cent sums
    "q14_promo_share" ->
      """WITH j AS (
        | SELECT CAST(round(l_extendedprice * (1 - l_discount) * 100)
        |             AS BIGINT) AS cents, p_type
        | FROM lineitem JOIN part ON l_partkey = p_partkey
        | WHERE l_shipdate >= TIMESTAMP '1996-03-01'
        |   AND l_shipdate < TIMESTAMP '1996-04-01'),
        |a AS (SELECT
        |  CAST(sum(CASE WHEN p_type = 'PROMO' THEN cents ELSE 0 END)
        |       AS BIGINT) AS promo_cents,
        |  CAST(sum(cents) AS BIGINT) AS total_cents FROM j)
        |SELECT CAST(promo_cents AS DOUBLE) / 100.0 AS promo_revenue,
        | CAST(total_cents AS DOUBLE) / 100.0 AS total_revenue,
        | round(100.0 * promo_cents / total_cents, 6) AS promo_share_pct
        |FROM a""".stripMargin,
    // decimal-arithmetic q1: exact-by-type sums, emitted as DOUBLE so both
    // engines materialize the same dtype (sums fit in 53 mantissa bits)
    "q1_decimal" ->
      """SELECT l_returnflag, l_linestatus,
        | CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE)
        |   AS sum_qty,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)
        |   AS sum_base_price,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) *
        |          (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2))))
        |      AS DOUBLE) AS sum_disc_price,
        | count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    // Q12 analogue: late lineitems by linestatus, urgent vs other counts
    "q12_ship_priority" ->
      """SELECT l_linestatus,
        | CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
        |               THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        | CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
        |               THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND l_shipdate > CAST(o_orderdate AS DATE) + INTERVAL 45 DAY
        |GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin,
    // Q13: order-count distribution incl. the zero-order customers
    "q13_customer_distribution" ->
      """WITH co AS (
        | SELECT c_custkey, count(o_orderkey) AS c_count
        | FROM customer LEFT OUTER JOIN orders
        |   ON c_custkey = o_custkey AND o_orderpriority <> '5-LOW'
        | GROUP BY c_custkey)
        |SELECT c_count, count(*) AS custdist
        |FROM co GROUP BY c_count
        |ORDER BY custdist DESC, c_count DESC""".stripMargin,
    // Q15: supplier(s) at the exact integer-cents quarterly max
    "q15_top_supplier" ->
      """WITH rev AS (
        | SELECT l_suppkey,
        |  CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
        |               AS BIGINT)) AS BIGINT) AS cents
        | FROM lineitem
        | WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |   AND l_shipdate < TIMESTAMP '1996-04-01'
        | GROUP BY l_suppkey)
        |SELECT s_suppkey, s_name, CAST(cents AS DOUBLE) / 100.0 AS total_revenue
        |FROM rev JOIN supplier ON l_suppkey = s_suppkey
        |WHERE cents = (SELECT max(cents) FROM rev)
        |ORDER BY s_suppkey""".stripMargin,
    // Q17 analogue: below-20%-of-part-average quantity, exact integer test
    "q17_small_qty_revenue" ->
      """WITH li AS (
        | SELECT l_partkey,
        |  CAST(round(l_quantity * 10) AS BIGINT) AS qty10,
        |  CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
        | FROM lineitem JOIN part ON l_partkey = p_partkey
        | WHERE p_brand = 'Brand#7' AND p_size <= 5),
        |st AS (
        | SELECT l_partkey AS sp_partkey,
        |  CAST(sum(qty10) AS BIGINT) AS sum10,
        |  count(*) AS n
        | FROM li GROUP BY l_partkey)
        |SELECT CAST(sum(cents) AS DOUBLE) / 700.0 AS avg_yearly
        |FROM li JOIN st ON l_partkey = sp_partkey
        |WHERE qty10 * 5 * n < sum10""".stripMargin,
    // Q2 analogue: per-part minimum-balance EUROPE supplier over the
    // lineitem-witnessed supplier-part catalog (no partsupp table)
    "q2_min_cost_supplier" ->
      """WITH pairs AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
        |eur AS (
        | SELECT s_suppkey, s_name, n_name,
        |  CAST(round(s_acctbal * 100) AS BIGINT) AS bal_cents
        | FROM supplier, nation, region
        | WHERE s_nationkey = n_nationkey AND n_regionkey = r_regionkey
        |   AND r_name = 'EUROPE'),
        |cand AS (
        | SELECT p_partkey, p_brand, s_name, n_name, bal_cents
        | FROM pairs JOIN part ON l_partkey = p_partkey
        | JOIN eur ON l_suppkey = s_suppkey
        | WHERE p_type = 'STANDARD' AND p_size BETWEEN 10 AND 15),
        |best AS (SELECT p_partkey AS bp, min(bal_cents) AS min_cents
        |         FROM cand GROUP BY p_partkey)
        |SELECT CAST(bal_cents AS DOUBLE) / 100.0 AS s_acctbal, s_name,
        | n_name, p_partkey, p_brand
        |FROM cand JOIN best ON p_partkey = bp AND bal_cents = min_cents
        |ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
        |LIMIT 100""".stripMargin,
    // Q9 analogue: profit by supplier nation and order year, unit cost
    // modeled as 60% of retail price, both terms in integer cents
    "q9_product_profit" ->
      """SELECT n_name AS nation,
        | CAST(extract(year FROM o_orderdate) AS INT) AS o_year,
        | CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
        |               AS BIGINT)
        |        - CAST(round(p_retailprice * 0.6 * l_quantity * 100)
        |               AS BIGINT)) AS DOUBLE) / 100.0 AS sum_profit
        |FROM lineitem, part, supplier, nation, orders
        |WHERE l_partkey = p_partkey AND l_suppkey = s_suppkey
        |  AND s_nationkey = n_nationkey AND l_orderkey = o_orderkey
        |  AND p_name LIKE '%widget%'
        |GROUP BY 1, 2
        |ORDER BY nation, o_year DESC""".stripMargin,
    // Q11 analogue: parts above 1.3x the mean shipped stock value,
    // exact BIGINT cross-multiplication instead of a float fraction
    "q11_important_parts" ->
      """WITH vals AS (
        | SELECT l_partkey,
        |  CAST(sum(CAST(round(p_retailprice * l_quantity * 100) AS BIGINT))
        |       AS BIGINT) AS value_cents
        | FROM lineitem JOIN part ON l_partkey = p_partkey
        | GROUP BY l_partkey),
        |tot AS (SELECT CAST(sum(value_cents) AS BIGINT) AS total,
        |               count(*) AS n FROM vals)
        |SELECT l_partkey AS p_partkey,
        | CAST(value_cents AS DOUBLE) / 100.0 AS stock_value
        |FROM vals, tot
        |WHERE value_cents * n * 10 > total * 13
        |ORDER BY stock_value DESC, p_partkey""".stripMargin,
    // Q16 analogue: distinct-supplier counts per part attribute triple,
    // delinquent suppliers (acctbal < 1000) excluded via NOT IN
    "q16_supplier_counts" ->
      """WITH pairs AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
        |SELECT p_brand, p_type, p_size,
        | count(DISTINCT l_suppkey) AS supplier_cnt
        |FROM pairs JOIN part ON l_partkey = p_partkey
        |WHERE p_type <> 'PROMO' AND p_size IN (1,4,7,10,13,16,19,23)
        |  AND l_suppkey NOT IN
        |      (SELECT s_suppkey FROM supplier WHERE s_acctbal < 1000)
        |GROUP BY p_brand, p_type, p_size
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin,
    // Q20 analogue: EUROPE suppliers that shipped >30% of a bolt part's
    // total 1996 quantity, shares compared in x10 integers
    "q20_dominant_suppliers" ->
      """WITH sq AS (
        | SELECT l_partkey, l_suppkey,
        |  CAST(sum(CAST(round(l_quantity * 10) AS BIGINT)) AS BIGINT) AS q
        | FROM lineitem JOIN part ON l_partkey = p_partkey
        | WHERE p_name LIKE '%bolt%'
        |   AND l_shipdate >= TIMESTAMP '1996-01-01'
        |   AND l_shipdate < TIMESTAMP '1997-01-01'
        | GROUP BY l_partkey, l_suppkey),
        |tot AS (SELECT l_partkey AS pk, CAST(sum(q) AS BIGINT) AS tq
        |        FROM sq GROUP BY l_partkey),
        |dom AS (SELECT DISTINCT l_suppkey FROM sq JOIN tot ON l_partkey = pk
        |        WHERE q * 10 > tq * 3)
        |SELECT s_suppkey, s_name, n_name
        |FROM dom JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'EUROPE'
        |ORDER BY s_suppkey""".stripMargin,
    // Q19 analogue: OR of three brand/size/quantity bands
    "q19_flexible_or" ->
      """SELECT count(*) AS n,
        | CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
        |              AS BIGINT)) AS DOUBLE) / 100.0 AS revenue
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
        |        AND l_quantity BETWEEN 1 AND 11)
        |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
        |        AND l_quantity BETWEEN 10 AND 20)
        |   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 15
        |        AND l_quantity BETWEEN 20 AND 30)""".stripMargin,
    // Q21 analogue: sole late supplier on multi-supplier finished orders
    "q21_waiting_suppliers" ->
      """WITH flagged AS (
        | SELECT l_orderkey, l_suppkey,
        |  l_shipdate > CAST(o_orderdate AS DATE) + INTERVAL 60 DAY AS late
        | FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        | WHERE o_orderstatus = 'F'),
        |culprits AS (
        | SELECT min(CASE WHEN late THEN l_suppkey END) AS culprit
        | FROM flagged GROUP BY l_orderkey
        | HAVING count(DISTINCT l_suppkey) > 1
        |    AND count(DISTINCT CASE WHEN late THEN l_suppkey END) = 1)
        |SELECT s_name, count(*) AS numwait
        |FROM culprits JOIN supplier ON culprit = s_suppkey
        |GROUP BY s_name
        |ORDER BY numwait DESC, s_name LIMIT 100""".stripMargin,
    // Q22 analogue: never-ordered customers above the exact avg balance
    "q22_global_sales" ->
      """WITH cust AS (
        | SELECT c_custkey, c_nationkey,
        |  CAST(round(c_acctbal * 100) AS BIGINT) AS bal_cents
        | FROM customer),
        |avgpos AS (
        | SELECT CAST(sum(bal_cents) AS BIGINT) AS sum_cents,
        |        count(*) AS n
        | FROM cust WHERE bal_cents > 0)
        |SELECT c_nationkey, count(*) AS numcust,
        | CAST(sum(bal_cents) AS DOUBLE) / 100.0 AS totacctbal
        |FROM cust, avgpos
        |WHERE bal_cents * n > sum_cents
        |  AND NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey
        |                    AND o_orderdate >= TIMESTAMP '2000-01-01')
        |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin,
    // partition-pruned week scan: same rollup over the raw events table
    "q_partitioned_scan" ->
      """SELECT CAST(ts AS DATE) AS day, event_type, count(*) AS n,
        | CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100.0
        |   AS value_sum
        |FROM events
        |WHERE CAST(ts AS DATE) >= DATE '2024-01-08'
        |  AND CAST(ts AS DATE) < DATE '2024-01-15'
        |GROUP BY day, event_type ORDER BY day, event_type""".stripMargin,
    // Bucketed co-located join: same rows as the plain join+rollup
    "q_bucketed_join" ->
      """WITH po AS (
        | SELECT l_orderkey, count(*) AS n_lines,
        |  CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
        |               AS BIGINT)) AS BIGINT) AS cents
        | FROM lineitem GROUP BY l_orderkey)
        |SELECT o_orderstatus, count(*) AS n_orders,
        | CAST(sum(n_lines) AS BIGINT) AS n_lines,
        | CAST(sum(cents) AS DOUBLE) / 100.0 AS revenue
        |FROM po JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    // Q10 analogue: quarter of returned-item revenue per customer,
    // ordered by the ROUNDED revenue with a custkey tiebreak
    "q10_returned_items" ->
      """WITH rev AS (
        | SELECT o_custkey,
        |  CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
        |               AS BIGINT)) AS DOUBLE) / 100.0 AS revenue
        | FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        | WHERE l_returnflag = 'R'
        |   AND o_orderdate >= TIMESTAMP '1996-01-01'
        |   AND o_orderdate < TIMESTAMP '1996-04-01'
        | GROUP BY o_custkey)
        |SELECT c_custkey, c_name, revenue, c_acctbal, n_name
        |FROM rev JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin,
    // Q18 analogue: orders over 300 summed quantity, top 100 by price
    "q18_large_orders" ->
      """WITH big AS (
        | SELECT l_orderkey, round(sum(l_quantity), 2) AS total_qty
        | FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 300)
        |SELECT c_name, c_custkey, o_orderkey,
        | CAST(o_orderdate AS DATE) AS o_orderdate, o_totalprice, total_qty
        |FROM big JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin,
    "q_profile_lineitem" ->
      """SELECT
        | min(l_quantity) AS l_quantity_min, max(l_quantity) AS l_quantity_max,
        | round(avg(l_quantity),4) AS l_quantity_avg,
        | round(quantile_cont(l_quantity,0.5),4) AS l_quantity_med,
        | count(DISTINCT l_quantity) AS l_quantity_unique,
        | count(l_quantity) AS l_quantity_count,
        | min(l_extendedprice) AS l_extendedprice_min, max(l_extendedprice) AS l_extendedprice_max,
        | round(avg(l_extendedprice),4) AS l_extendedprice_avg,
        | round(quantile_cont(l_extendedprice,0.5),4) AS l_extendedprice_med,
        | count(DISTINCT l_extendedprice) AS l_extendedprice_unique,
        | count(l_extendedprice) AS l_extendedprice_count,
        | min(l_discount) AS l_discount_min, max(l_discount) AS l_discount_max,
        | round(avg(l_discount),4) AS l_discount_avg,
        | round(quantile_cont(l_discount,0.5),4) AS l_discount_med,
        | count(DISTINCT l_discount) AS l_discount_unique,
        | count(l_discount) AS l_discount_count
        |FROM lineitem""".stripMargin,
    "q_top1_returnflag" ->
      """SELECT CAST(l_returnflag AS VARCHAR) AS value, count(*) AS cnt
        |FROM lineitem GROUP BY l_returnflag
        |ORDER BY cnt DESC, value ASC LIMIT 1""".stripMargin,
    "q_preview_orders" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
        | CAST(o_orderdate AS DATE) AS o_orderdate, o_orderpriority
        |FROM orders ORDER BY o_orderkey LIMIT 30""".stripMargin,
    "q_filter_exclusion" ->
      """SELECT c_custkey, c_name, c_mktsegment, c_acctbal
        |FROM customer WHERE c_mktsegment NOT IN ('AUTOMOBILE','MACHINERY')
        |ORDER BY c_custkey""".stripMargin,
    "q_urn_format" ->
      """SELECT 'postgres::db/' || r_name || '/' || n_name AS urn, n_nationkey
        |FROM nation JOIN region ON n_regionkey = r_regionkey
        |ORDER BY urn""".stripMargin,
    "q_grants_rollup" ->
      """SELECT c_nationkey,
        | string_agg(c_name, ',' ORDER BY c_name) AS members,
        | count(*) AS n_members
        |FROM customer GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin,
    "q_usage_counts" ->
      """SELECT event_type, count(*) AS usage_count
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_join_pairs" ->
      """WITH d AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |ok AS (SELECT l_orderkey FROM d GROUP BY 1 HAVING count(*) <= 10000)
        |SELECT a.l_partkey AS a, b.l_partkey AS b, count(*) AS pair_count
        |FROM d a
        |JOIN d b
        |  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |WHERE a.l_orderkey IN (SELECT l_orderkey FROM ok)
        |GROUP BY a.l_partkey, b.l_partkey
        |ORDER BY pair_count DESC, a, b LIMIT 100""".stripMargin,
    "q_condition_sets" ->
      """SELECT user_id, string_agg(event_type, ',' ORDER BY event_type) AS conditions
        |FROM (SELECT DISTINCT user_id, event_type FROM events)
        |GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q_set_union" ->
      """SELECT DISTINCT nationkey FROM (
        | SELECT c_nationkey AS nationkey FROM customer
        | UNION ALL SELECT s_nationkey AS nationkey FROM supplier)
        |ORDER BY nationkey""".stripMargin,
    "q_full_outer" ->
      """WITH o AS (
        | SELECT CAST(o_orderdate AS DATE) AS d, count(*) AS n_orders
        | FROM orders GROUP BY 1),
        |e AS (
        | SELECT CAST(ts AS DATE) AS d, count(*) AS n_events
        | FROM events GROUP BY 1)
        |SELECT CAST(COALESCE(o.d, e.d) AS VARCHAR) AS d,
        | COALESCE(n_orders, 0) AS n_orders,
        | COALESCE(n_events, 0) AS n_events
        |FROM o FULL OUTER JOIN e ON o.d = e.d
        |ORDER BY d""".stripMargin,
    "q_window_rank" ->
      """SELECT c_nationkey, rnk, c_custkey, c_acctbal FROM (
        | SELECT c_nationkey, c_custkey, c_acctbal,
        |  row_number() OVER (PARTITION BY c_nationkey
        |    ORDER BY c_acctbal DESC, c_custkey) AS rnk
        | FROM customer)
        |WHERE rnk <= 3 ORDER BY c_nationkey, rnk""".stripMargin,
    "q_sessionize" ->
      """WITH g AS (
        | SELECT user_id,
        |  CASE WHEN lag(ts) OVER w IS NULL
        |        OR date_diff('second', lag(ts) OVER w, ts) > 1800
        |       THEN 1 ELSE 0 END AS new_s
        | FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts))
        |SELECT user_id, CAST(sum(new_s) AS BIGINT) AS n_sessions, count(*) AS n_events
        |FROM g GROUP BY user_id ORDER BY user_id""".stripMargin,
    // the regex grammar is shared verbatim with the Spark side (SqlParse);
    // RE2 and Java agree on this pattern (verified: identical extractions)
    "q_sql_conditions" -> {
      val pat = graft.functions.SqlParse.filterPattern.replace("'", "''")
      s"""WITH logs AS (
         | SELECT 'SELECT * FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey WHERE p_brand = ''' || p_brand || ''' AND p_size > ' || p_size AS sql
         | FROM part),
         |cleaned AS (
         | SELECT regexp_replace(trim(regexp_replace(regexp_replace(sql,
         |   '(--[^\\n]*)|(/\\*[\\w\\W]*?\\*/)', ' ', 'g'), '\\s+', ' ', 'g')),
         |   ';', '', 'g') AS sql FROM logs),
         |conds AS (
         | SELECT unnest(regexp_extract_all(sql, '$pat', 0)) AS condition
         | FROM cleaned)
         |SELECT condition, count(*) AS n FROM conds
         |GROUP BY condition ORDER BY n DESC, condition""".stripMargin
    },
    // oracle = the UNSALTED join: salting must not change a single row
    "q_skew_join" ->
      """WITH dim AS (SELECT DISTINCT user_id FROM events),
        |d2 AS (SELECT user_id, 't' || CAST(user_id % 3 AS VARCHAR) AS tier FROM dim)
        |SELECT tier, count(*) AS n, round(sum(value), 2) AS value_sum
        |FROM events e JOIN d2 USING (user_id)
        |GROUP BY tier ORDER BY tier""".stripMargin,
    // RANGE frame on the microsecond axis == interval frame on ts
    // (inclusive both ends, timestamp-value peers); cents arithmetic
    // keeps the windowed sum order-independent
    "q_range_window" ->
      """WITH c AS (
        | SELECT event_id, user_id, ts,
        |  CAST(round(value * 100) AS BIGINT) AS cc
        | FROM events),
        |w AS (
        | SELECT event_id, user_id,
        |  count(*) OVER fr AS n_1h,
        |  CAST(sum(cc) OVER fr AS BIGINT) AS sc
        | FROM c
        | WINDOW fr AS (PARTITION BY user_id ORDER BY ts
        |   RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW))
        |SELECT event_id, user_id, n_1h,
        | CAST(sc AS DOUBLE) / 100.0 AS sum_1h,
        | round(CAST(sc AS DOUBLE) / (100.0 * n_1h), 6) AS avg_1h
        |FROM w ORDER BY event_id""".stripMargin,
    // min-ts-chained funnel: each stage strictly after the previous
    // stage's first qualifying event
    "q_funnel" ->
      """WITH v AS (SELECT user_id, min(ts) AS t1 FROM events
        |           WHERE event_type = 'view' GROUP BY user_id),
        |c AS (SELECT e.user_id, min(e.ts) AS t2
        |      FROM events e JOIN v USING (user_id)
        |      WHERE e.event_type = 'click' AND e.ts > v.t1 GROUP BY e.user_id),
        |p AS (SELECT e.user_id, min(e.ts) AS t3
        |      FROM events e JOIN c USING (user_id)
        |      WHERE e.event_type = 'purchase' AND e.ts > c.t2 GROUP BY e.user_id)
        |SELECT CAST(1 AS INT) AS stage, 'view' AS event_type,
        |       (SELECT count(*) FROM v) AS n_users
        |UNION ALL SELECT 2, 'click', (SELECT count(*) FROM c)
        |UNION ALL SELECT 3, 'purchase', (SELECT count(*) FROM p)
        |ORDER BY stage""".stripMargin,
    // Monday-truncated weekly cohorts; floor'd integer week offsets
    "q_cohort_retention" ->
      """WITH f AS (SELECT user_id,
        |             date_trunc('week', min(ts)) AS cohort FROM events
        |           GROUP BY user_id),
        |a AS (SELECT DISTINCT user_id, date_trunc('week', ts) AS wk FROM events)
        |SELECT CAST(f.cohort AS DATE) AS cohort_week,
        | CAST(floor(date_diff('day', f.cohort, a.wk) / 7.0) AS INT)
        |   AS week_offset,
        | count(DISTINCT a.user_id) AS n_users
        |FROM a JOIN f USING (user_id)
        |GROUP BY 1, 2 ORDER BY cohort_week, week_offset""".stripMargin,
    // deterministic per-user timeline via (ts, event_id) ordering
    "q_event_transitions" ->
      """WITH n AS (
        | SELECT event_type,
        |  lead(event_type) OVER (PARTITION BY user_id
        |                         ORDER BY ts, event_id) AS next_type
        | FROM events)
        |SELECT event_type, next_type, count(*) AS n FROM n
        |WHERE next_type IS NOT NULL
        |GROUP BY 1, 2 ORDER BY event_type, next_type""".stripMargin,
    // HLL accuracy certificate: the oracle proves the exact count and the
    // constant verdict; the Spark side recomputes both from the sketch
    "q_sketch_distinct_cert" ->
      """SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS exact_n,
        | true AS within_5pct FROM events""".stripMargin,
    // KMV distinct sketch replayed exactly: portable md5-hex hash, k
    // smallest distinct values, floor'd integer estimate
    "q_kmv_distinct" ->
      """WITH h AS (SELECT DISTINCT
        |  CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 8))
        |       AS BIGINT) AS h
        | FROM events),
        |tk AS (SELECT h FROM h ORDER BY h LIMIT 32),
        |kv AS (SELECT max(h) AS h_k, count(*) AS k FROM tk),
        |ex AS (SELECT count(DISTINCT user_id) AS n_exact FROM events)
        |SELECT k, h_k,
        | CAST(floor((31 * 4294967296) / h_k) AS BIGINT) AS est_distinct,
        | n_exact,
        | abs(CAST(floor((31 * 4294967296) / h_k) AS BIGINT) - n_exact)
        |   AS abs_err
        |FROM kv, ex""".stripMargin,
    // KMV set algebra: per-audience k-min sketches, union = k smallest
    // of the merged sets, intersection by inclusion-exclusion
    "q_kmv_setops" ->
      """WITH ha AS (SELECT DISTINCT
        |  CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 8))
        |       AS BIGINT) AS h
        | FROM events WHERE event_type = 'click'),
        |hb AS (SELECT DISTINCT
        |  CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 8))
        |       AS BIGINT) AS h
        | FROM events WHERE event_type = 'purchase'),
        |hu AS (SELECT DISTINCT h FROM (SELECT h FROM ha UNION SELECT h FROM hb)),
        |ea AS (SELECT CAST(floor((31 * 4294967296) / max(h)) AS BIGINT)
        |         AS est_clicks FROM (SELECT h FROM ha ORDER BY h LIMIT 32)),
        |eb AS (SELECT CAST(floor((31 * 4294967296) / max(h)) AS BIGINT)
        |         AS est_purchases FROM (SELECT h FROM hb ORDER BY h LIMIT 32)),
        |eu AS (SELECT CAST(floor((31 * 4294967296) / max(h)) AS BIGINT)
        |         AS est_union FROM (SELECT h FROM hu ORDER BY h LIMIT 32)),
        |ua AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'click'),
        |ub AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'),
        |ex AS (SELECT
        |  (SELECT count(*) FROM ua) AS n_clicks,
        |  (SELECT count(*) FROM ub) AS n_purchases,
        |  (SELECT count(*) FROM (SELECT user_id FROM ua
        |                         UNION SELECT user_id FROM ub)) AS n_union,
        |  (SELECT count(*) FROM ua WHERE user_id IN (SELECT user_id FROM ub))
        |    AS n_intersect)
        |SELECT est_clicks, est_purchases, est_union,
        | est_clicks + est_purchases - est_union AS est_intersect,
        | n_clicks, n_purchases, n_union, n_intersect
        |FROM ea, eb, eu, ex""".stripMargin,
    "q_asof_attribution" ->
      """SELECT p.event_id, p.user_id, c.event_id AS prior_event_id,
        | round(c.value, 2) AS prior_value
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
        |  ON p.user_id = c.user_id AND p.ts >= c.ts
        |ORDER BY p.event_id""".stripMargin,
    // nearest twin: brute-force candidate ranking by (abs gap, backward
    // first, click id) — the arbitration the two-pass compose performs
    "q_asof_nearest" ->
      """WITH p AS (SELECT * FROM events WHERE event_type = 'purchase'),
        |c AS (SELECT * FROM events WHERE event_type = 'click'),
        |cand AS (
        | SELECT p.event_id, c.event_id AS c_id, c.value AS c_value,
        |  abs(epoch_us(p.ts) - epoch_us(c.ts)) AS gap,
        |  CASE WHEN c.ts <= p.ts THEN 0 ELSE 1 END AS dir,
        |  row_number() OVER (PARTITION BY p.event_id
        |    ORDER BY abs(epoch_us(p.ts) - epoch_us(c.ts)),
        |             CASE WHEN c.ts <= p.ts THEN 0 ELSE 1 END,
        |             c.event_id) AS rn
        | FROM p JOIN c ON c.user_id = p.user_id)
        |SELECT p.event_id, p.user_id, w.c_id AS near_event_id,
        | round(w.c_value, 2) AS near_value,
        | CASE w.dir WHEN 0 THEN 'backward' WHEN 1 THEN 'forward' END AS near_dir,
        | CAST(w.gap AS BIGINT) AS near_gap_us
        |FROM p LEFT JOIN (SELECT * FROM cand WHERE rn = 1) w
        |  ON w.event_id = p.event_id
        |ORDER BY p.event_id""".stripMargin,
    "q_asof_forward" ->
      """SELECT c.event_id, c.user_id, p.event_id AS next_event_id,
        | round(p.value, 2) AS next_value
        |FROM (SELECT * FROM events WHERE event_type = 'click') c
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
        |  ON c.user_id = p.user_id AND c.ts <= p.ts
        |ORDER BY c.event_id""".stripMargin,
    "q_json_attributes" ->
      """SELECT event_type, count(k) AS n, CAST(sum(k) AS BIGINT) AS k_sum,
        | round(avg(k), 4) AS k_avg
        |FROM (SELECT event_type,
        |        CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        |      FROM events)
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_range_join" ->
      """SELECT p.event_id, p.user_id, count(c.ts) AS n_clicks,
        | round(coalesce(sum(c.value), 0), 2) AS click_value
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
        |  ON c.user_id = p.user_id
        |  AND c.ts >= p.ts - INTERVAL 1 HOUR AND c.ts < p.ts
        |GROUP BY p.event_id, p.user_id ORDER BY p.event_id""".stripMargin,
    "q_session_window" ->
      """WITH g AS (
        | SELECT user_id, ts, value,
        |  CASE WHEN lag(ts) OVER w IS NULL
        |        OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
        |       THEN 1 ELSE 0 END AS new_s
        | FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |s AS (SELECT user_id, ts, value,
        |        sum(new_s) OVER (PARTITION BY user_id ORDER BY ts) AS sid
        |      FROM g)
        |SELECT strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS s_start,
        |       strftime(max(ts) + INTERVAL 30 MINUTE, '%Y-%m-%d %H:%M:%S') AS s_end,
        |       user_id, count(*) AS n_events, round(sum(value),2) AS value_sum
        |FROM s GROUP BY user_id, sid ORDER BY user_id, s_start""".stripMargin,
    "q_time_buckets" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS bucket,
        | event_type, count(*) AS n, round(sum(value),2) AS value_sum
        |FROM events GROUP BY 1, 2 ORDER BY bucket, event_type""".stripMargin,
    "d_dedup_exact" ->
      """SELECT min(doc_id) AS keep_id, count(*) AS dup_count
        |FROM documents
        |GROUP BY md5(lower(regexp_replace(trim(nfc_normalize(text)), '\s+', ' ', 'g')))
        |ORDER BY keep_id""".stripMargin,
    // learned BPE: the 6-round merge table (rank, pair, exact weighted
    // count) and the per-doc re-tokenization under those merges — every
    // round's pair counts, winner, and merge application recomputed by
    // the unrolled CTE chain
    "d_bpe_train" ->
      (bpeChainSql + "\nSELECT rnk, a, b, CAST(c AS BIGINT) AS c FROM (\n" +
        (1 to 6).map(r => s"SELECT $r AS rnk, a, b, c FROM win$r")
          .mkString("\nUNION ALL ") + ")\nORDER BY rnk"),
    "d_bpe_tokens" ->
      (bpeChainSql + """,
        |dw AS (SELECT doc_id, unnest(list_filter(
        |         regexp_split_to_array(lower(trim(text)), '\s+'),
        |         x -> len(x) > 0)) AS w FROM documents)
        |SELECT dw.doc_id, count(*) AS n_words,
        |  CAST(sum(len(s6.syms)) AS BIGINT) AS n_subwords
        |FROM dw JOIN s6 ON s6.w = dw.w
        |GROUP BY dw.doc_id ORDER BY dw.doc_id""".stripMargin),
    // per-language fertility under the same learned merges: DuckDB's //
    // floor division matches Spark's div on the non-negative operands
    "d_bpe_fertility" ->
      (bpeChainSql + """,
        |dw AS (SELECT d.lang, unnest(list_filter(
        |         regexp_split_to_array(lower(trim(d.text)), '\s+'),
        |         x -> len(x) > 0)) AS w FROM documents d)
        |SELECT dw.lang, count(*) AS n_words,
        |  CAST(sum(len(s6.syms)) AS BIGINT) AS n_subwords,
        |  CAST(sum(len(s6.syms)) * 1000 // count(*) AS BIGINT) AS fert_x1000
        |FROM dw JOIN s6 ON s6.w = dw.w
        |GROUP BY dw.lang ORDER BY dw.lang""".stripMargin),
    "d_token_counts" ->
      """SELECT doc_id,
        | len(list_filter(regexp_split_to_array(trim(text), '\s+'), x -> len(x) > 0)) AS n_tokens,
        | CAST(list_sum(list_transform(
        |   list_filter(regexp_split_to_array(trim(text), '\s+'), x -> len(x) > 0),
        |   x -> CAST(ceil(len(x) / 4.0) AS BIGINT))) AS BIGINT) AS n_subwords
        |FROM documents ORDER BY doc_id""".stripMargin,
    "d_quality" ->
      """WITH toks AS (
        | SELECT doc_id, text,
        |  list_filter(regexp_split_to_array(trim(text), '\s+'), x -> len(x) > 0) AS tk
        | FROM documents)
        |SELECT doc_id,
        | len(tk) AS n_tokens,
        | round(CASE WHEN len(tk)=0 THEN 0.0
        |   ELSE CAST(len(replace(regexp_replace(trim(text), '\s+', ' ', 'g'), ' ', '')) AS DOUBLE)/len(tk) END, 4) AS mean_token_len,
        | round(CASE WHEN len(tk)=0 THEN 0.0
        |   ELSE CAST(len(list_filter(tk, x -> lower(x) IN ('the','a','an','of','to','and','in','is','it','on','for'))) AS DOUBLE)/len(tk) END, 4) AS stopword_ratio,
        | round(CASE WHEN len(text)=0 THEN 0.0
        |   ELSE CAST(len(regexp_replace(text, '[^.,;:!?''"()-]', '', 'g')) AS DOUBLE)/len(text) END, 4) AS punct_ratio
        |FROM toks ORDER BY doc_id""".stripMargin,
    "d_fingerprint" ->
      """SELECT doc_id,
        | md5(lower(regexp_replace(trim(nfc_normalize(text)), '\s+', ' ', 'g'))) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin,
    "d_lang_scores" ->
      """WITH toks AS (
        | SELECT doc_id,
        |  list_transform(list_filter(regexp_split_to_array(trim(text), '\s+'), x -> len(x) > 0), x -> lower(x)) AS tk
        | FROM documents)
        |SELECT doc_id,
        | len(list_filter(tk, x -> x IN ('der','die','und','das','ist'))) AS score_de,
        | len(list_filter(tk, x -> x IN ('the','and','of','is','a'))) AS score_en,
        | len(list_filter(tk, x -> x IN ('el','los','que','y','es'))) AS score_es,
        | len(list_filter(tk, x -> x IN ('le','la','et','les','de'))) AS score_fr
        |FROM toks ORDER BY doc_id""".stripMargin,
    "d_quality_filter" ->
      """WITH toks AS (
        | SELECT doc_id, text,
        |  list_filter(regexp_split_to_array(trim(text), '\s+'), x -> len(x) > 0) AS tk
        | FROM documents),
        |q AS (SELECT doc_id,
        | len(tk) AS n_tokens,
        | round(CASE WHEN len(tk)=0 THEN 0.0
        |   ELSE CAST(len(replace(regexp_replace(trim(text), '\s+', ' ', 'g'), ' ', '')) AS DOUBLE)/len(tk) END, 4) AS mean_token_len,
        | round(CASE WHEN len(tk)=0 THEN 0.0
        |   ELSE CAST(len(list_filter(tk, x -> lower(x) IN ('the','a','an','of','to','and','in','is','it','on','for'))) AS DOUBLE)/len(tk) END, 4) AS stopword_ratio,
        | round(CASE WHEN len(text)=0 THEN 0.0
        |   ELSE CAST(len(regexp_replace(text, '[^.,;:!?''"()-]', '', 'g')) AS DOUBLE)/len(text) END, 4) AS punct_ratio
        |FROM toks)
        |SELECT doc_id, n_tokens FROM q
        |WHERE n_tokens >= 25 AND stopword_ratio <= 0.1 AND punct_ratio <= 0.2
        |  AND mean_token_len BETWEEN 2.0 AND 12.0
        |ORDER BY doc_id""".stripMargin,
    // entropy twin: the same 27-bucket replace-length histogram, the same
    // pointwise round(1e6·n·ln n) fixed-point terms, integer sums — and
    // the ln 2 constant pinned as a literal on both sides
    "d_char_entropy" ->
      """WITH a AS (SELECT unnest(['a','b','c','d','e','f','g','h','i','j',
        |  'k','l','m','n','o','p','q','r','s','t','u','v','w','x','y','z',
        |  ' ']) AS ch),
        |c AS (SELECT d.doc_id,
        |        CAST(length(d.text) - length(replace(d.text, a.ch, '')) AS BIGINT) AS n
        |      FROM documents d CROSS JOIN a),
        |s AS (SELECT doc_id,
        |        CAST(sum(CASE WHEN n > 0
        |          THEN CAST(round(1000000.0 * n * ln(n)) AS BIGINT)
        |          ELSE 0 END) AS BIGINT) AS known_term,
        |        CAST(sum(n) AS BIGINT) AS known
        |      FROM c GROUP BY doc_id),
        |l AS (SELECT doc_id, CAST(length(text) AS BIGINT) AS len FROM documents),
        |o AS (SELECT l.doc_id, l.len, s.known_term, l.len - s.known AS other
        |      FROM l JOIN s ON l.doc_id = s.doc_id),
        |e AS (SELECT doc_id, len,
        |        CASE WHEN len = 0 THEN 0
        |             ELSE CAST(round(1000000.0 * len * ln(len)) AS BIGINT)
        |                  - known_term
        |                  - CASE WHEN other > 0
        |                      THEN CAST(round(1000000.0 * other * ln(other)) AS BIGINT)
        |                      ELSE 0 END
        |        END AS h_milli
        |      FROM o)
        |SELECT doc_id, CAST(len AS INT) AS n_chars,
        |  CAST(h_milli AS BIGINT) AS h_milli,
        |  CASE WHEN len = 0 THEN 0.0
        |       ELSE round(CAST(h_milli AS DOUBLE) / (1000000.0 * len)
        |              / 0.6931471805599453, 4) END AS bpc
        |FROM e ORDER BY doc_id""".stripMargin,
    // Zipf twin: same tokenization, same top-100 (cnt desc, term) rank,
    // same pointwise round(1e6·ln) fixed points, integer OLS sums, one
    // final double division
    "d_zipf_audit" ->
      """WITH tk AS (
        | SELECT unnest(list_filter(regexp_split_to_array(trim(lower(text)),
        |   '\s+'), x -> len(x) > 0)) AS term
        | FROM documents),
        |c AS (SELECT term, count(*) AS cnt FROM tk GROUP BY term),
        |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_tokens,
        |               count(*) AS n_vocab FROM c),
        |top AS (SELECT cnt,
        |          row_number() OVER (ORDER BY cnt DESC, term) AS rank
        |        FROM c ORDER BY cnt DESC, term LIMIT 100),
        |f AS (SELECT CAST(round(1000000.0 * ln(rank)) AS BIGINT) AS x,
        |             CAST(round(1000000.0 * ln(cnt)) AS BIGINT) AS y
        |      FROM top),
        |ols AS (SELECT CAST(count(*) AS BIGINT) AS r,
        |          CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |          CAST(sum(x * y) AS BIGINT) AS sxy,
        |          CAST(sum(x * x) AS BIGINT) AS sxx
        |        FROM f)
        |SELECT tot.n_tokens, tot.n_vocab, CAST(ols.r AS INT) AS n_top,
        |  round(CAST(ols.r * ols.sxy - ols.sx * ols.sy AS DOUBLE) /
        |        CAST(ols.r * ols.sxx - ols.sx * ols.sx AS DOUBLE), 4) AS zipf_slope
        |FROM ols, tot""".stripMargin,
    "d_train_split" ->
      """WITH b AS (
        | SELECT n_chars,
        |  CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 AS bucket
        | FROM documents)
        |SELECT CASE WHEN bucket < 80 THEN 'train'
        |            WHEN bucket < 90 THEN 'valid'
        |            ELSE 'test' END AS split,
        | count(*) AS n_docs, round(avg(n_chars), 4) AS avg_chars
        |FROM b GROUP BY 1 ORDER BY split""".stripMargin,
    "d_dedup_incremental" -> dedupIncrementalOracle,
    // stored-fingerprint twin: identical survivors, one index in two
    // physical forms (row-identity additionally pinned in ExtensionsSpec)
    "d_dedup_incremental_stored" -> dedupIncrementalOracle,
    "d_repetition" ->
      """WITH g AS (
        | SELECT doc_id,
        |  list_transform(range(1, len(tk)-1),
        |    i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]) AS grams
        | FROM (SELECT doc_id,
        |   list_filter(regexp_split_to_array(trim(text), '\s+'), x -> len(x) > 0) AS tk
        |  FROM documents))
        |SELECT doc_id,
        | round(CASE WHEN len(grams) = 0 THEN 0.0
        |   ELSE 1.0 - CAST(len(list_distinct(grams)) AS DOUBLE)/len(grams) END, 4) AS rep_ratio
        |FROM g ORDER BY doc_id""".stripMargin,
    // DuckDB regexp_replace needs the 'g' flag to match Spark's replace-all
    "d_pii_scrub" ->
      """WITH d AS (
        | SELECT doc_id,
        |  text || ' contact u' || doc_id || '@corp.example.com via' ||
        |  ' https://docs.example.com/p/' || doc_id ||
        |  ' or call 555-0192-' || doc_id AS dirty
        | FROM documents)
        |SELECT doc_id,
        | regexp_replace(regexp_replace(regexp_replace(dirty,
        |   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |   'https?://[^\s]+', '<URL>', 'g'),
        |   '[0-9][0-9 ()+.-]{6,}[0-9]', '<NUMBER>', 'g') AS clean,
        | len(regexp_extract_all(dirty, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_emails,
        | len(regexp_extract_all(dirty, 'https?://[^\s]+')) AS n_urls,
        | len(regexp_extract_all(dirty, '[0-9][0-9 ()+.-]{6,}[0-9]')) AS n_numbers
        |FROM d ORDER BY doc_id""".stripMargin,
    // Luhn-gated card scrub: identical plant + identical
    // double-every-second-digit arithmetic, scrub only on checksum pass
    "d_pii_luhn" ->
      """WITH d AS (
        | SELECT doc_id,
        |  text || ' card ' || lpad(CAST(doc_id AS VARCHAR), 15, '4') ||
        |   CAST(doc_id % 10 AS VARCHAR) || ' on file' AS dirty
        | FROM documents),
        |c AS (
        | SELECT doc_id, dirty,
        |  regexp_extract(dirty, '[0-9]{16}') AS card FROM d),
        |v AS (
        | SELECT doc_id, dirty, card,
        |  list_sum(list_transform(range(1, 17), i ->
        |    CASE WHEN i % 2 = 1 THEN
        |      CASE WHEN CAST(substr(card, i, 1) AS INT) * 2 > 9
        |        THEN CAST(substr(card, i, 1) AS INT) * 2 - 9
        |        ELSE CAST(substr(card, i, 1) AS INT) * 2 END
        |      ELSE CAST(substr(card, i, 1) AS INT) END)) AS luhn_sum
        | FROM c)
        |SELECT doc_id,
        | CAST(CASE WHEN luhn_sum % 10 = 0 THEN 1 ELSE 0 END AS INT)
        |   AS luhn_valid,
        | CASE WHEN luhn_sum % 10 = 0 THEN replace(dirty, card, '<CARD>')
        |      ELSE dirty END AS clean
        |FROM v ORDER BY doc_id""".stripMargin,
    // md5 hash-bucket sampling: same engine-portable bucket as d_train_split
    "d_sample_strata" ->
      """WITH b AS (
        | SELECT lang,
        |  CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 1000 AS bucket
        | FROM documents)
        |SELECT lang, count(*) AS n_docs FROM b
        |WHERE bucket < CASE WHEN lang = 'en' THEN 250
        |                    WHEN lang = 'de' THEN 500
        |                    ELSE 1000 END
        |GROUP BY lang ORDER BY lang""".stripMargin,
    // tf-idf keyword extraction: rank on the ROUNDED score so both engines
    // order identical 4-decimal values (ties break on term)
    "d_tfidf_terms" ->
      """WITH toks AS (
        | SELECT doc_id,
        |  unnest(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'), x -> len(x) > 0)) AS term
        | FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term),
        |dfreq AS (SELECT term, count(DISTINCT doc_id) AS df FROM toks GROUP BY term),
        |n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
        |scored AS (
        | SELECT tf.doc_id, tf.term,
        |  round(tf.tf * ln(CAST(n_docs AS DOUBLE) / dfreq.df), 4) AS score
        | FROM tf JOIN dfreq USING (term) CROSS JOIN n),
        |r AS (SELECT doc_id, term, score,
        |  row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term ASC) AS rnk
        | FROM scored)
        |SELECT doc_id, rnk, term, score FROM r WHERE rnk <= 3
        |ORDER BY doc_id, rnk""".stripMargin,
    // eval-set decontamination: 4-gram overlap between each training doc
    // (doc_id % 100 != 0) and the eval subset (doc_id % 100 = 0)
    "d_decontaminate" ->
      """WITH tk AS (
        | SELECT doc_id,
        |  list_filter(regexp_split_to_array(trim(text), '\s+'), x -> len(x) > 0) AS tk
        | FROM documents),
        |g AS (
        | SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(tk)-2),
        |   i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3]))) AS gram
        | FROM tk WHERE len(tk) >= 4),
        |eg AS (SELECT DISTINCT gram FROM g WHERE doc_id % 100 = 0)
        |SELECT g.doc_id AS doc_id, count(*) AS hits
        |FROM g JOIN eg USING (gram)
        |WHERE g.doc_id % 100 <> 0
        |GROUP BY g.doc_id ORDER BY doc_id""".stripMargin,
    // eval-side contamination audit: per benchmark item, distinct
    // training docs sharing a 4-gram + total overlap incidence; LEFT
    // join keeps clean items at zero
    "d_contamination_report" ->
      """WITH tk AS (
        | SELECT doc_id,
        |  list_filter(regexp_split_to_array(trim(text), '\s+'), x -> len(x) > 0) AS tk
        | FROM documents),
        |g AS (
        | SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(tk)-2),
        |   i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3]))) AS gram
        | FROM tk WHERE len(tk) >= 4),
        |eg AS (SELECT doc_id AS eval_id, gram FROM g WHERE doc_id % 100 = 0),
        |tr AS (SELECT doc_id, gram FROM g WHERE doc_id % 100 <> 0),
        |r AS (
        | SELECT eg.eval_id, count(DISTINCT tr.doc_id) AS n_docs,
        |  count(*) AS n_hits
        | FROM tr JOIN eg USING (gram) GROUP BY eg.eval_id)
        |SELECT d.doc_id AS eval_id,
        | CAST(coalesce(r.n_docs, 0) AS BIGINT) AS n_docs,
        | CAST(coalesce(r.n_hits, 0) AS BIGINT) AS n_hits
        |FROM documents d LEFT JOIN r ON r.eval_id = d.doc_id
        |WHERE d.doc_id % 100 = 0 ORDER BY eval_id""".stripMargin,
    // bloom-prefiltered exact decontamination: Bloom has no false
    // negatives and the verify join kills false positives, so the result
    // is defined to equal d_decontaminate — same oracle
    "d_decontaminate_bloom" ->
      """WITH tk AS (
        | SELECT doc_id,
        |  list_filter(regexp_split_to_array(trim(text), '\s+'), x -> len(x) > 0) AS tk
        | FROM documents),
        |g AS (
        | SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(tk)-2),
        |   i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3]))) AS gram
        | FROM tk WHERE len(tk) >= 4),
        |eg AS (SELECT DISTINCT gram FROM g WHERE doc_id % 100 = 0)
        |SELECT g.doc_id AS doc_id, count(*) AS hits
        |FROM g JOIN eg USING (gram)
        |WHERE g.doc_id % 100 <> 0
        |GROUP BY g.doc_id ORDER BY doc_id""".stripMargin,
    // C4-style boilerplate: doc frequency of distinct word 3-grams; a doc's
    // score is the fraction of its grams occurring in >= 5 distinct docs
    "d_boilerplate" ->
      """WITH tk AS (
        | SELECT doc_id,
        |  list_filter(regexp_split_to_array(trim(text), '\s+'), x -> len(x) > 0) AS tk
        | FROM documents),
        |g AS (
        | SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(tk)-1),
        |   i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]))) AS gram
        | FROM tk WHERE len(tk) >= 3),
        |c AS (SELECT gram FROM g GROUP BY gram HAVING count(*) >= 5)
        |SELECT g.doc_id AS doc_id, count(*) AS n_grams, count(c.gram) AS n_common,
        | round(CAST(count(c.gram) AS DOUBLE) / count(*), 4) AS boilerplate_frac
        |FROM g LEFT JOIN c USING (gram)
        |GROUP BY g.doc_id ORDER BY doc_id""".stripMargin,
    // temperature-weighted (alpha=0.5 via sqrt, bit-identical across
    // engines) domain mixture over token mass
    "d_domain_mix" ->
      """WITH per AS (
        | SELECT source AS domain, count(*) AS n_docs,
        |  CAST(sum(len(list_filter(regexp_split_to_array(trim(text), '\s+'), x -> len(x) > 0))) AS BIGINT) AS n_tokens
        | FROM documents GROUP BY source),
        |tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS tot_tokens FROM per),
        |raw AS (
        | SELECT domain, n_docs, n_tokens, tot_tokens,
        |  sqrt(CAST(n_tokens AS DOUBLE) / tot_tokens) AS w_raw
        | FROM per CROSS JOIN tot),
        |z AS (SELECT sum(w_raw) AS z FROM raw)
        |SELECT domain, n_docs, n_tokens,
        | round(CAST(n_tokens AS DOUBLE) / tot_tokens, 4) AS p_raw,
        | round(w_raw / z, 4) AS weight,
        | CAST(round(10000 * w_raw / z, 0) AS BIGINT) AS budget_docs
        |FROM raw CROSS JOIN z ORDER BY domain""".stripMargin,
    // 3-phase annealed mixture: integer micro-unit normalizers, so the
    // per-phase Z is an order-independent BIGINT sum on any engine
    "d_mix_schedule" ->
      """WITH per AS (
        | SELECT lang AS domain, count(*) AS n_docs,
        |  CAST(sum(len(list_filter(regexp_split_to_array(trim(text), '\s+'), x -> len(x) > 0))) AS BIGINT) AS n_tokens
        | FROM documents GROUP BY lang),
        |ph AS (
        | SELECT 'tau_1.0' AS phase, domain, n_docs, n_tokens,
        |  n_tokens AS f FROM per
        | UNION ALL
        | SELECT 'tau_0.5', domain, n_docs, n_tokens,
        |  CAST(round(sqrt(CAST(n_tokens AS DOUBLE)) * 1000000) AS BIGINT)
        | FROM per
        | UNION ALL
        | SELECT 'tau_0.0', domain, n_docs, n_tokens, 1000000 FROM per),
        |z AS (SELECT phase, CAST(sum(f) AS BIGINT) AS z
        |      FROM ph GROUP BY phase)
        |SELECT phase, domain, n_docs, n_tokens,
        | CAST(round(1000000 * (CAST(f AS DOUBLE) / z)) AS BIGINT) AS weight_ppm,
        | CAST(round(10000 * (CAST(f AS DOUBLE) / z)) AS BIGINT) AS budget_docs
        |FROM ph JOIN z USING (phase)
        |ORDER BY phase, domain""".stripMargin,
    // Good-Turing vocab audit per language: exact counts, ppm ratios
    "d_vocab_gt" ->
      """WITH tc AS (
        | SELECT lang, t AS term, count(*) AS cnt
        | FROM (SELECT lang,
        |        unnest(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
        |               x -> len(x) > 0)) AS t
        |       FROM documents)
        | GROUP BY lang, t)
        |SELECT lang,
        | CAST(sum(cnt) AS BIGINT) AS n_tokens,
        | count(*) AS vocab,
        | CAST(sum(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax,
        | CAST(sum(CASE WHEN cnt = 2 THEN 1 ELSE 0 END) AS BIGINT) AS dis,
        | CAST(round(1000000 * (CAST(sum(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS DOUBLE)
        |                       / sum(cnt))) AS BIGINT) AS gt_unseen_ppm,
        | CAST(round(1000000 * (CAST(count(*) AS DOUBLE) / sum(cnt))) AS BIGINT) AS ttr_ppm
        |FROM tc GROUP BY lang ORDER BY lang""".stripMargin,
    // C4 wordlist gate per source: blocked docs + token hits, exact ints
    "d_badwords_filter" ->
      """WITH pd AS (
        | SELECT source,
        |  len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
        |      x -> x IN ('dup', 'leak'))) AS n_bad
        | FROM documents)
        |SELECT source, count(*) AS n_docs,
        | CAST(sum(CASE WHEN n_bad > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_blocked,
        | CAST(sum(n_bad) AS BIGINT) AS n_bad_tokens,
        | CAST(round(1000000 * (CAST(sum(CASE WHEN n_bad > 0 THEN 1 ELSE 0 END) AS DOUBLE)
        |                       / count(*))) AS BIGINT) AS blocked_ppm
        |FROM pd GROUP BY source ORDER BY source""".stripMargin,
    // data-recipe materialization: per domain, keep docs in md5 order
    // until the 600-token budget is met (boundary-crossing doc kept)
    "d_budget_sample" ->
      """WITH b AS (
        | SELECT source AS domain, doc_id,
        |  len(list_filter(regexp_split_to_array(trim(text), '\s+'), x -> len(x) > 0)) AS tokens,
        |  md5(CAST(doc_id AS VARCHAR) || ':mix0') AS h
        | FROM documents),
        |c AS (
        | SELECT domain, doc_id, tokens,
        |  CAST(sum(tokens) OVER (PARTITION BY domain ORDER BY h, doc_id) AS BIGINT) AS cum
        | FROM b)
        |SELECT domain, doc_id, CAST(tokens AS BIGINT) AS tokens, cum
        |FROM c WHERE cum - tokens < 600 ORDER BY domain, doc_id""".stripMargin,
    // per-language exact median/MAD outlier flags (low medians, so every
    // stat is an integer drawn from the data; flags compare integers)
    "d_quality_outliers" ->
      """WITH b AS (
        | SELECT doc_id, lang,
        |  CAST(len(list_filter(regexp_split_to_array(trim(text), '\s+'), x -> len(x) > 0)) AS BIGINT) AS x
        | FROM documents),
        |m AS (
        | SELECT doc_id, lang, x,
        |  row_number() OVER (PARTITION BY lang ORDER BY x, doc_id) AS rn,
        |  count(*) OVER (PARTITION BY lang) AS n
        | FROM b),
        |m2 AS (
        | SELECT doc_id, lang, x, n,
        |  max(CASE WHEN rn = (n + 1) // 2 THEN x END) OVER (PARTITION BY lang) AS med
        | FROM m),
        |d AS (
        | SELECT doc_id, lang, x, n, med, abs(x - med) AS dev,
        |  row_number() OVER (PARTITION BY lang ORDER BY abs(x - med), doc_id) AS rn2
        | FROM m2),
        |d2 AS (
        | SELECT doc_id, lang, x, med, dev,
        |  max(CASE WHEN rn2 = (n + 1) // 2 THEN dev END) OVER (PARTITION BY lang) AS mad
        | FROM d)
        |SELECT doc_id, lang, x, med, mad,
        | CAST(dev > 3 * mad AS INT) AS is_outlier
        |FROM d2 ORDER BY doc_id""".stripMargin,
    // frozen-LM incremental scoring: vocab from even doc_ids only, odd
    // doc_ids scored against it
    "d_lm_score_frozen" ->
      """WITH tk AS (
        | SELECT doc_id,
        |  list_filter(regexp_split_to_array(trim(text), '\s+'), x -> len(x) > 0) AS tk
        | FROM documents),
        |bg AS (
        | SELECT doc_id, unnest(list_transform(range(1, len(tk)),
        |   i -> tk[i] || ' ' || tk[i+1])) AS bigram
        | FROM tk WHERE len(tk) >= 2),
        |cnt AS (SELECT bigram, count(*) AS c FROM bg
        |        WHERE doc_id % 2 = 0 GROUP BY bigram),
        |vocab AS (SELECT bigram, c FROM cnt ORDER BY c DESC, bigram LIMIT 500)
        |SELECT bg.doc_id AS doc_id, count(*) AS n_bigrams,
        | count(v.c) AS hits,
        | CAST(coalesce(sum(v.c), 0) AS BIGINT) AS familiar_mass
        |FROM bg LEFT JOIN vocab v USING (bigram)
        |WHERE bg.doc_id % 2 = 1
        |GROUP BY bg.doc_id ORDER BY doc_id""".stripMargin,
    // CCNet bucketing twin: the frozen-LM score CTEs, integer fixed-point
    // score, then per-language ntile(3) with the same deterministic
    // (score DESC, doc_id) order — ntile is SQL-standard, so the
    // remainder distribution matches Spark's exactly
    "d_ppl_buckets" ->
      """WITH tk AS (
        | SELECT doc_id,
        |  list_filter(regexp_split_to_array(trim(text), '\s+'), x -> len(x) > 0) AS tk
        | FROM documents),
        |bg AS (
        | SELECT doc_id, unnest(list_transform(range(1, len(tk)),
        |   i -> tk[i] || ' ' || tk[i+1])) AS bigram
        | FROM tk WHERE len(tk) >= 2),
        |cnt AS (SELECT bigram, count(*) AS c FROM bg
        |        WHERE doc_id % 2 = 0 GROUP BY bigram),
        |vocab AS (SELECT bigram, c FROM cnt ORDER BY c DESC, bigram LIMIT 500),
        |sc AS (
        | SELECT bg.doc_id, CAST(coalesce(sum(v.c), 0) * 1000 // count(*) AS BIGINT)
        |   AS score_x1000
        | FROM bg LEFT JOIN vocab v USING (bigram)
        | WHERE bg.doc_id % 2 = 1 GROUP BY bg.doc_id),
        |lb AS (
        | SELECT sc.doc_id, d.lang, sc.score_x1000,
        |  ntile(3) OVER (PARTITION BY d.lang
        |    ORDER BY sc.score_x1000 DESC, sc.doc_id) AS b
        | FROM sc JOIN documents d ON d.doc_id = sc.doc_id)
        |SELECT doc_id, lang, score_x1000,
        | CASE b WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS bucket
        |FROM lb ORDER BY doc_id""".stripMargin,
    // DSIR twin: same md5 token buckets, integer ppm distributions, and
    // linearized-importance score; DuckDB's // floor division matches
    // Spark's div on the non-negative ppm operands, ntile ties by doc_id
    "d_dsir_sample" ->
      """WITH tok AS (
        | SELECT doc_id,
        |  unnest(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
        |         x -> len(x) > 0)) AS t
        | FROM documents),
        |tb AS (
        | SELECT doc_id,
        |  CAST(concat('0x', substr(md5(t), 1, 6)) AS BIGINT) % 512 AS b,
        |  count(*) AS n
        | FROM tok GROUP BY 1, 2),
        |lab AS (SELECT doc_id, source IN ('src0', 'src1', 'src2') AS is_t
        |        FROM documents),
        |dist AS (
        | SELECT b,
        |  sum(CASE WHEN l.is_t THEN n ELSE 0 END) AS tc,
        |  sum(CASE WHEN NOT l.is_t THEN n ELSE 0 END) AS rc
        | FROM tb JOIN lab l USING (doc_id) GROUP BY b),
        |tot AS (SELECT sum(tc) AS tt, sum(rc) AS tr FROM dist),
        |ppm AS (SELECT b, tc * 1000000 // tt AS pt, rc * 1000000 // tr AS pr
        |        FROM dist, tot),
        |sc AS (
        | SELECT d.doc_id, d.lang,
        |  CAST(coalesce(sum(tb.n * (ppm.pt - ppm.pr)), 0) AS BIGINT) AS score
        | FROM documents d
        | LEFT JOIN tb ON tb.doc_id = d.doc_id
        | LEFT JOIN ppm ON ppm.b = tb.b
        | WHERE d.source NOT IN ('src0', 'src1', 'src2')
        | GROUP BY 1, 2)
        |SELECT doc_id, lang, score,
        | CAST(CASE WHEN ntile(4) OVER (PARTITION BY lang
        |        ORDER BY score DESC, doc_id) = 1
        |      THEN 1 ELSE 0 END AS INT) AS kept
        |FROM sc ORDER BY doc_id""".stripMargin,
    // bigram LM familiarity: occurrences of each doc's bigrams in the
    // corpus top-1000 bigram vocabulary, all exact integers
    "d_lm_familiarity" ->
      """WITH tk AS (
        | SELECT doc_id,
        |  list_filter(regexp_split_to_array(trim(text), '\s+'), x -> len(x) > 0) AS tk
        | FROM documents),
        |bg AS (
        | SELECT doc_id, unnest(list_transform(range(1, len(tk)),
        |   i -> tk[i] || ' ' || tk[i+1])) AS bigram
        | FROM tk WHERE len(tk) >= 2),
        |cnt AS (SELECT bigram, count(*) AS c FROM bg GROUP BY bigram),
        |vocab AS (SELECT bigram, c FROM cnt ORDER BY c DESC, bigram LIMIT 1000)
        |SELECT bg.doc_id AS doc_id, count(*) AS n_bigrams,
        | count(v.c) AS hits,
        | CAST(coalesce(sum(v.c), 0) AS BIGINT) AS familiar_mass
        |FROM bg LEFT JOIN vocab v USING (bigram)
        |GROUP BY bg.doc_id ORDER BY doc_id""".stripMargin,
    // per-user inter-arrival gap stats; lag over exact epoch micros
    "q_event_gaps" ->
      """WITH g AS (
        | SELECT user_id,
        |  epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS gap
        | FROM events)
        |SELECT user_id, count(*) AS n_events,
        | CAST((2 * sum(gap) + count(gap)) // nullif(2 * count(gap), 0) AS BIGINT)
        |  AS avg_gap_us,
        | max(gap) AS max_gap_us
        |FROM g GROUP BY user_id ORDER BY user_id""".stripMargin,
    // window completeness: ranking/distribution/navigation over one frame
    "q_window_suite" ->
      """SELECT o_orderkey, o_orderpriority, o_totalprice,
        | CAST(row_number() OVER w AS INT) AS rn,
        | CAST(rank() OVER w AS INT) AS rnk,
        | CAST(dense_rank() OVER w AS INT) AS drnk,
        | round(percent_rank() OVER w, 6) AS prank,
        | round(cume_dist() OVER w, 6) AS cdist,
        | CAST(ntile(4) OVER w AS INT) AS quartile,
        | lag(o_orderkey, 1) OVER w AS prev_key,
        | lead(o_orderkey, 1) OVER w AS next_key,
        | first_value(o_orderkey) OVER w AS first_key,
        | nth_value(o_orderkey, 2) OVER
        |  (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS second_key
        |FROM orders WHERE o_orderkey < 2000
        |WINDOW w AS (PARTITION BY o_orderpriority
        |             ORDER BY o_totalprice, o_orderkey)
        |ORDER BY o_orderpriority, rn""".stripMargin,
    // SQL-surface pipeline: shingle/token kernels respelled relationally
    // (word_shingles(x,3) yields max(len-3,0)+1 windows for non-empty
    // token lists, the whole short doc as one shingle otherwise)
    "q_sql_pipeline" ->
      """WITH tk AS (
        | SELECT lang,
        |  list_filter(regexp_split_to_array(trim(text), '\s+'),
        |              x -> len(x) > 0) AS t
        | FROM documents)
        |SELECT lang, count(*) AS n_docs,
        | CAST(sum(CASE WHEN len(t) = 0 THEN 0
        |               ELSE greatest(len(t) - 3, 0) + 1 END) AS BIGINT)
        |   AS n_shingles,
        | CAST(sum(len(t)) AS BIGINT) AS n_tokens
        |FROM tk GROUP BY lang ORDER BY lang""".stripMargin,
    // calendar parity: ISO week spellings shared by both engines
    "q_date_suite" ->
      """SELECT d,
        | CAST(year(d) AS INT) AS y,
        | CAST(quarter(d) AS INT) AS q,
        | CAST(month(d) AS INT) AS m,
        | CAST(dayofmonth(d) AS INT) AS dom,
        | CAST(dayofyear(d) AS INT) AS doy,
        | CAST(weekofyear(d) AS INT) AS iso_week,
        | CAST(isodow(d) - 1 AS INT) AS monday0_dow,
        | CAST(date_trunc('week', d) AS DATE) AS week_start,
        | last_day(d) AS month_end
        |FROM (SELECT DISTINCT CAST(o_orderdate AS DATE) AS d FROM orders)
        |ORDER BY d""".stripMargin,
    // NULL semantics: planted nulls; count/<=>/coalesce/nullif parity
    "q_null_semantics" ->
      """WITH c AS (
        | SELECT c_custkey,
        |  CASE WHEN c_custkey % 3 = 0 THEN NULL ELSE c_acctbal END AS bal,
        |  CASE WHEN c_custkey % 4 = 0 THEN NULL ELSE c_mktsegment END AS seg
        | FROM customer)
        |SELECT seg, count(*) AS n_rows,
        | count(bal) AS n_bal,
        | CAST(sum(CASE WHEN seg IS NOT DISTINCT FROM NULL
        |               THEN 1 ELSE 0 END) AS BIGINT) AS n_nullsafe_eq,
        | CAST(sum(CAST(round(coalesce(bal, 0.0) * 100) AS BIGINT)) AS BIGINT)
        |   AS bal_cents,
        | count(nullif(c_custkey % 2, 1)) AS n_even
        |FROM c GROUP BY seg ORDER BY seg NULLS FIRST""".stripMargin,
    // Levenshtein DP parity on ASCII names
    "q_edit_distance" ->
      """SELECT c_custkey, c_name,
        | CAST(levenshtein(c_name, 'Customer#' ||
        |   lpad(CAST(c_custkey * 7 + 13 AS VARCHAR), 9, '0')) AS INT) AS dist
        |FROM customer WHERE c_custkey < 500
        |ORDER BY c_custkey""".stripMargin,
    // MERGE fold: the CDC batch is derived with the same arithmetic, so
    // both engines build the identical batch; full outer on id
    "q_merge_upsert" ->
      """WITH tgt AS (SELECT doc_id, text FROM documents),
        |ch AS (
        | SELECT doc_id AS c_id, 'U' AS op, text || ' [rev2]' AS new_text
        | FROM tgt WHERE doc_id % 10 = 0
        | UNION ALL
        | SELECT doc_id, 'D', NULL FROM tgt WHERE doc_id % 10 = 7
        | UNION ALL
        | SELECT doc_id + 1000000, 'I',
        |  'fresh doc ' || CAST(doc_id + 1000000 AS VARCHAR)
        | FROM tgt WHERE doc_id % 10 = 3)
        |SELECT coalesce(t.doc_id, c.c_id) AS id,
        | CASE WHEN c.c_id IS NULL THEN 'keep'
        |      WHEN c.op = 'U' THEN 'update'
        |      WHEN c.op = 'D' THEN 'delete'
        |      WHEN t.doc_id IS NULL AND c.op = 'I' THEN 'insert'
        |      ELSE 'conflict' END AS action,
        | CASE WHEN c.op = 'D' THEN NULL
        |      WHEN c.op IS NOT NULL THEN md5(c.new_text)
        |      ELSE md5(t.text) END AS fp
        |FROM tgt t FULL OUTER JOIN ch c ON t.doc_id = c.c_id
        |ORDER BY id""".stripMargin,
    // skyline: the oracle spells dominance as NOT EXISTS — the Spark
    // side's two-stage windowed sweep must keep the identical frontier
    "d_pareto_docs" ->
      """WITH tk AS (
        | SELECT doc_id,
        |  list_filter(regexp_split_to_array(trim(text), '\s+'),
        |              x -> len(x) > 0) AS t
        | FROM documents),
        |m AS (
        | SELECT doc_id,
        |  CAST(len(t) AS BIGINT) AS n_tokens,
        |  CAST(CASE WHEN len(t) = 0 THEN 0
        |       ELSE (len(list_distinct(t)) * 1000000) // len(t)
        |       END AS BIGINT) AS div_ppm
        | FROM tk)
        |SELECT a.doc_id, a.n_tokens, a.div_ppm FROM m a
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM m b
        |  WHERE b.n_tokens >= a.n_tokens AND b.div_ppm >= a.div_ppm
        |    AND (b.n_tokens > a.n_tokens OR b.div_ppm > a.div_ppm))
        |ORDER BY a.doc_id""".stripMargin,
    // global numbering: the oracle IS the single-partition spelling the
    // Spark side refuses to run; identical ranks prove the offset fold
    "q_global_rownum" ->
      """SELECT event_id,
        | row_number() OVER (ORDER BY ts, event_id) AS grank
        |FROM events ORDER BY grank""".stripMargin,
    // prefix-filter set-similarity join: the oracle replays the SAME
    // df-rank/prefix/verify algorithm relationally — identical pairs and
    // identical integer jaccard prove both the filter and the verify
    "d_setjoin_ppjoin" ->
      """WITH tk AS (
        | SELECT doc_id AS sid,
        |  list_distinct(CASE WHEN len(t) >= 3
        |    THEN list_transform(range(1, len(t) - 1),
        |         i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
        |    ELSE [] END) AS tk
        | FROM (SELECT doc_id,
        |   list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
        |               x -> len(x) > 0) AS t
        |  FROM documents)),
        |tok AS (SELECT sid, unnest(tk) AS token FROM tk),
        |rk AS (
        | SELECT token, row_number() OVER (ORDER BY df, token) AS r
        | FROM (SELECT token, count(*) AS df FROM tok GROUP BY token)),
        |tr AS (
        | SELECT sid, token,
        |  count(*) OVER (PARTITION BY sid) AS len,
        |  row_number() OVER (PARTITION BY sid ORDER BY r) AS pos
        | FROM tok JOIN rk USING (token)),
        |pref AS (
        | SELECT sid, token FROM tr
        | WHERE pos <= len - ((3 * len + 4) // 5) + 1),
        |cand AS (
        | SELECT DISTINCT a.sid AS id1, b.sid AS id2
        | FROM pref a JOIN pref b USING (token) WHERE a.sid < b.sid),
        |v AS (
        | SELECT id1, id2,
        |  CAST(len(list_intersect(ta.tk, tb.tk)) AS BIGINT) AS inter,
        |  CAST(len(ta.tk) + len(tb.tk)
        |       - len(list_intersect(ta.tk, tb.tk)) AS BIGINT) AS uni
        | FROM cand JOIN tk ta ON ta.sid = id1 JOIN tk tb ON tb.sid = id2)
        |SELECT id1, id2,
        | CAST((inter * 1000000) // uni AS BIGINT) AS jaccard_ppm
        |FROM v WHERE inter * 5 >= uni * 3
        |ORDER BY id1, id2""".stripMargin,
    // compaction plan: ordinal-ordered cumulative packing respelled
    "q_compaction_plan" ->
      """WITH f AS (
        | SELECT source, doc_id // 10 AS file_ord,
        |  CAST(sum(n_chars) AS BIGINT) AS bytes
        | FROM documents GROUP BY source, doc_id // 10),
        |p AS (
        | SELECT source, file_ord, bytes,
        |  CAST(coalesce(sum(bytes) OVER (
        |    PARTITION BY source ORDER BY file_ord
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |   AS BIGINT) AS prefix
        | FROM f)
        |SELECT source, prefix // 16384 AS bin,
        | count(*) AS n_files,
        | CAST(sum(bytes) AS BIGINT) AS bin_bytes,
        | min(file_ord) AS file_lo,
        | max(file_ord) AS file_hi
        |FROM p GROUP BY source, prefix // 16384
        |ORDER BY source, bin""".stripMargin,
    // record linkage: identical twin derivation + blocking join + lev cut
    "q_record_linkage" ->
      """WITH base AS (
        | SELECT c_custkey AS bkey, c_name AS bname,
        |  c_nationkey AS bnat, c_acctbal AS bbal FROM customer),
        |tw AS (
        | SELECT c_custkey + 1000000 AS tkey,
        |  substr(c_name, 1, 17) ||
        |   CAST((CAST(substr(c_name, 18, 1) AS INT) + 1) % 10 AS VARCHAR)
        |   AS tname,
        |  c_nationkey AS tnat, c_acctbal + 1.0 AS tbal
        | FROM customer WHERE c_custkey % 7 = 0)
        |SELECT bkey, tkey,
        | CAST(levenshtein(tname, bname) AS INT) AS lev,
        | CAST(abs(CAST(round(tbal * 100) AS BIGINT)
        |        - CAST(round(bbal * 100) AS BIGINT)) AS BIGINT)
        |   AS bal_diff_cents
        |FROM tw JOIN base
        |  ON tnat = bnat AND substr(tname, 1, 16) = substr(bname, 1, 16)
        |WHERE levenshtein(tname, bname) <= 1
        |ORDER BY bkey, tkey""".stripMargin,
    // join-key skew audit: per candidate key, cardinality + heaviest-key
    // share, max/mean in exact x1000 integer division
    "q_skew_audit" ->
      """WITH kv AS (
        | SELECT 'l_orderkey' AS key_name, l_orderkey AS key_value
        | FROM lineitem
        | UNION ALL SELECT 'l_partkey', l_partkey FROM lineitem
        | UNION ALL SELECT 'l_suppkey', l_suppkey FROM lineitem),
        |per AS (SELECT key_name, key_value, count(*) AS n
        |        FROM kv GROUP BY 1, 2)
        |SELECT key_name, CAST(sum(n) AS BIGINT) AS n_rows,
        | count(*) AS n_keys, CAST(max(n) AS BIGINT) AS max_n,
        | CAST(round(1000000 * (CAST(max(n) AS DOUBLE) /
        |   CAST(sum(n) AS DOUBLE))) AS BIGINT) AS top1_ppm,
        | CAST((CAST(max(n) AS BIGINT) * count(*) * 1000)
        |   // CAST(sum(n) AS BIGINT) AS BIGINT) AS skew_x1000
        |FROM per GROUP BY key_name ORDER BY key_name""".stripMargin,
    // z-order box: the oracle is the PLAIN box filter on the raw table —
    // a hash match proves the z-range cover + residual lose nothing
    "q_zorder_box" ->
      """SELECT event_type, count(*) AS n,
        | CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100.0
        |   AS value_sum
        |FROM events
        |WHERE (user_id % 256) BETWEEN 2 AND 96
        |  AND ((hour(ts) * 60 + minute(ts)) // 6) BETWEEN 60 AND 180
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    // CMS audit: matrix AND point estimates replayed relationally — the
    // sliced bucket family (depth row d = 8-hex-char window d of ONE
    // md5(term), matching the fused Md5Slices kernel)
    "d_cms_audit" ->
      """WITH tok AS (
        | SELECT unnest(list_filter(
        |   regexp_split_to_array(lower(trim(text)), '\s+'),
        |   x -> len(x) > 0)) AS term
        | FROM documents),
        |top AS (
        | SELECT term, count(*) AS exact_n FROM tok GROUP BY term
        | ORDER BY exact_n DESC, term LIMIT 30),
        |cells AS (
        | SELECT d,
        |  CAST(concat('0x', substr(md5(term), d*8 + 1, 8)) AS BIGINT)
        |    % 256 AS c,
        |  count(*) AS n
        | FROM tok, unnest([0, 1, 2, 3]) dd(d)
        | GROUP BY 1, 2)
        |SELECT t.term, t.exact_n, CAST(min(cl.n) AS BIGINT) AS cms_n
        |FROM top t
        |CROSS JOIN unnest([0, 1, 2, 3]) dd(d)
        |JOIN cells cl ON cl.d = dd.d AND cl.c =
        |  CAST(concat('0x', substr(md5(t.term), dd.d*8 + 1, 8)) AS BIGINT)
        |    % 256
        |GROUP BY t.term, t.exact_n
        |ORDER BY exact_n DESC, term""".stripMargin,
    // CMS inner-product join-size estimate at three nested widths,
    // coarser matrices derived by re-bucketing the finest (256|4096|65536);
    // the estimator row stops at `est`, the audit row adds exact truth
    "q_join_cardinality" ->
      (joinCardinalityCtes + """
        |SELECT width, cms_n FROM est WHERE width = 65536""".stripMargin),
    // AGMS twin: raw 32-bit slices, bucket bits 0-11, sign bit 16,
    // median-of-4 spelled (sum - min - max) / 2
    "q_join_cardinality_agms" ->
      """WITH a AS (SELECT CAST(l_orderkey AS VARCHAR) AS term FROM lineitem),
        |b AS (SELECT CAST(o_orderkey AS VARCHAR) AS term FROM orders),
        |u AS (SELECT 0 AS s, term FROM a
        |      UNION ALL SELECT 1 AS s, term FROM b),
        |h AS (SELECT s, d,
        |  CAST(concat('0x', substr(md5(term), d*8 + 1, 8)) AS BIGINT) AS hv
        | FROM u, unnest([0, 1, 2, 3]) dd(d)),
        |cells AS (SELECT d, hv % 4096 AS c,
        |  CAST(sum(CASE WHEN s = 0
        |    THEN ((hv // 65536) % 2) * 2 - 1 ELSE 0 END) AS BIGINT) AS xa,
        |  CAST(sum(CASE WHEN s = 1
        |    THEN ((hv // 65536) % 2) * 2 - 1 ELSE 0 END) AS BIGINT) AS xb
        | FROM h GROUP BY 1, 2),
        |ip AS (SELECT d, CAST(sum(xa * xb) AS BIGINT) AS ip
        |       FROM cells GROUP BY d),
        |m AS (SELECT CAST(sum(ip) AS BIGINT) AS st,
        |        CAST(min(ip) AS BIGINT) AS mn, CAST(max(ip) AS BIGINT) AS mx
        |      FROM ip)
        |SELECT 4096 AS width,
        | CAST(round((st - mn - mx) / 2.0) AS BIGINT) AS agms_n FROM m""".stripMargin,
    "q_join_cardinality_audit" ->
      (joinCardinalityCtes + """,
        |ex AS (SELECT CAST(sum(na * nb) AS BIGINT) AS exact_n FROM
        |   (SELECT term, count(*) AS na FROM a GROUP BY 1) ta
        |   JOIN (SELECT term, count(*) AS nb FROM b GROUP BY 1) tb
        |   USING (term))
        |SELECT width, exact_n, cms_n,
        | CAST(round(1000000 * (CAST(cms_n - exact_n AS DOUBLE) /
        |   CAST(exact_n AS DOUBLE))) AS BIGINT) AS over_ppm
        |FROM est, ex ORDER BY width""".stripMargin),
    // code-switch audit: same marker lists / argmax CASE as d_lang_predict
    "d_lang_lines" ->
      """WITH toks AS (
        | SELECT doc_id,
        |  list_transform(list_filter(
        |    regexp_split_to_array(trim(text), '\s+'), x -> len(x) > 0),
        |   x -> lower(x)) AS tk
        | FROM documents),
        |base AS (SELECT doc_id, tk FROM toks WHERE len(tk) > 0),
        |lines AS (
        | SELECT doc_id, tk[(t.i)*8+1 : (t.i)*8+8] AS ltk
        | FROM base, unnest(range(0, (len(tk)-1)//8 + 1)) AS t(i)),
        |sc AS (SELECT doc_id,
        | len(list_filter(ltk, x -> x IN ('der','die','und','das','ist'))) AS s_de,
        | len(list_filter(ltk, x -> x IN ('the','and','of','is','a'))) AS s_en,
        | len(list_filter(ltk, x -> x IN ('el','los','que','y','es'))) AS s_es,
        | len(list_filter(ltk, x -> x IN ('le','la','et','les','de'))) AS s_fr
        | FROM lines),
        |ll AS (SELECT doc_id,
        | CASE WHEN greatest(s_de, s_en, s_es, s_fr) = 0 THEN 'und'
        |      WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr THEN 'de'
        |      WHEN s_en >= s_es AND s_en >= s_fr THEN 'en'
        |      WHEN s_es >= s_fr THEN 'es'
        |      ELSE 'fr' END AS lang
        | FROM sc),
        |pl AS (SELECT doc_id, lang, count(*) AS cnt FROM ll GROUP BY 1, 2),
        |r AS (SELECT doc_id, lang, cnt,
        |  sum(cnt) OVER (PARTITION BY doc_id) AS n_lines,
        |  count(*) OVER (PARTITION BY doc_id) AS n_langs,
        |  row_number() OVER (PARTITION BY doc_id
        |                     ORDER BY cnt DESC, lang) AS rk
        | FROM pl)
        |SELECT doc_id, CAST(n_lines AS BIGINT) AS n_lines,
        | CAST(n_langs AS BIGINT) AS n_langs, lang AS dom_lang,
        | CAST(((n_lines - cnt) * 1000000) // n_lines AS BIGINT)
        |   AS switch_ppm
        |FROM r WHERE rk = 1 ORDER BY doc_id""".stripMargin,
    // exact trailing-7-day distinct users via the (day,user) fan-out
    "q_rolling_distinct" ->
      """WITH du AS (
        | SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
        |pd AS (SELECT day, count(*) AS n_active FROM du GROUP BY day),
        |ex AS (
        | SELECT DISTINCT day + off AS day, user_id
        | FROM du, unnest([0, 1, 2, 3, 4, 5, 6]) o(off)),
        |r AS (SELECT day, count(*) AS n_active_7d FROM ex GROUP BY day)
        |SELECT day, n_active, n_active_7d
        |FROM pd JOIN r USING (day) ORDER BY day""".stripMargin,
    // constraint audit: three PK uniqueness rows + one failing FD
    "q_fd_audit" ->
      """WITH li AS (
        | SELECT 'pk_lineitem' AS constraint_name,
        |  CAST(sum(n) AS BIGINT) AS n_rows, count(*) AS n_keys,
        |  CAST(sum(CASE WHEN n > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_violating_keys
        | FROM (SELECT count(*) AS n FROM lineitem
        |       GROUP BY l_orderkey, l_linenumber)),
        |o AS (
        | SELECT 'pk_orders', CAST(sum(n) AS BIGINT), count(*),
        |  CAST(sum(CASE WHEN n > 1 THEN 1 ELSE 0 END) AS BIGINT)
        | FROM (SELECT count(*) AS n FROM orders GROUP BY o_orderkey)),
        |e AS (
        | SELECT 'pk_events', CAST(sum(n) AS BIGINT), count(*),
        |  CAST(sum(CASE WHEN n > 1 THEN 1 ELSE 0 END) AS BIGINT)
        | FROM (SELECT count(*) AS n FROM events GROUP BY event_id)),
        |f AS (
        | SELECT 'fd_order_supplier', CAST(sum(n) AS BIGINT), count(*),
        |  CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT)
        | FROM (SELECT count(*) AS n, count(DISTINCT l_suppkey) AS nd
        |       FROM lineitem GROUP BY l_orderkey))
        |SELECT * FROM li UNION ALL SELECT * FROM o
        |UNION ALL SELECT * FROM e UNION ALL SELECT * FROM f
        |ORDER BY constraint_name""".stripMargin,
    // interval-overlap: sessions (exact-micros islands) x 24 h campaign
    // windows; the oracle spells the overlap as a plain theta-join — the
    // Spark side's bucket decomposition must emit identical pairs
    "q_overlap_join" ->
      """WITH g AS (
        | SELECT user_id, event_id, epoch_us(ts) AS ts_us,
        |  CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
        |        OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
        |       THEN 1 ELSE 0 END AS new_s
        | FROM events
        | WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)),
        |si AS (
        | SELECT user_id, ts_us,
        |  sum(new_s) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |                   ROWS UNBOUNDED PRECEDING) AS sidx
        | FROM g),
        |sess AS (
        | SELECT user_id, sidx, min(ts_us) AS s_start, max(ts_us) AS s_end
        | FROM si GROUP BY user_id, sidx),
        |camp AS (
        | SELECT i AS campaign_id,
        |  1704067200000000 + i * 129600000000 AS c_start,
        |  1704067200000000 + i * 129600000000 + 86400000000 AS c_end
        | FROM range(0, 20) t(i))
        |SELECT campaign_id, count(*) AS n_sessions,
        | count(DISTINCT user_id) AS n_users
        |FROM camp JOIN sess
        |  ON s_start <= c_end AND c_start <= s_end
        |GROUP BY campaign_id ORDER BY campaign_id""".stripMargin,
    // debounce: keep an event iff >= 24 h after its (user, type)
    // predecessor; exact integer micros
    "q_event_dedup" ->
      """WITH e AS (
        | SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us
        | FROM events),
        |l AS (
        | SELECT *, lag(ts_us) OVER (PARTITION BY user_id, event_type
        |                            ORDER BY ts_us, event_id) AS prev
        | FROM e)
        |SELECT event_id, user_id, event_type, ts_us FROM l
        |WHERE prev IS NULL OR ts_us - prev >= 86400000000
        |ORDER BY event_id""".stripMargin,
    // all four (lang, source) granularities via CUBE; NULL slots → 'ALL'
    "d_cube_sources" ->
      """SELECT coalesce(lang, 'ALL') AS lang, coalesce(source, 'ALL') AS source,
        | count(*) AS n_docs,
        | CAST(sum(len(list_filter(regexp_split_to_array(trim(text), '\s+'), x -> len(x) > 0))) AS BIGINT) AS n_tokens
        |FROM documents GROUP BY CUBE(lang, source)
        |ORDER BY lang, source""".stripMargin,
    // corpus-wide top-20 2-grams by doc frequency, ties broken on gram
    "d_top_ngrams" ->
      """WITH tk AS (
        | SELECT doc_id,
        |  list_filter(regexp_split_to_array(trim(text), '\s+'), x -> len(x) > 0) AS tk
        | FROM documents),
        |g AS (
        | SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(tk)),
        |   i -> tk[i] || ' ' || tk[i+1]))) AS gram
        | FROM tk WHERE len(tk) >= 2)
        |SELECT gram, count(*) AS df FROM g
        |GROUP BY gram ORDER BY df DESC, gram LIMIT 20""".stripMargin,
    // per-source 3-gram novelty: first sighting = corpus-wide min doc_id,
    // credit to the sighting doc's source
    "d_ngram_novelty" ->
      """WITH tk AS (
        | SELECT doc_id, source,
        |  list_filter(regexp_split_to_array(trim(text), '\s+'),
        |    x -> len(x) > 0) AS tk
        | FROM documents),
        |g AS (
        | SELECT doc_id, source,
        |  unnest(list_distinct(list_transform(range(1, len(tk) - 1),
        |    i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]))) AS gram
        | FROM tk WHERE len(tk) >= 3),
        |fs AS (SELECT gram, min(doc_id) AS first_doc FROM g GROUP BY gram),
        |fsrc AS (
        | SELECT d.source, count(*) AS n_first_seen
        | FROM fs JOIN documents d ON d.doc_id = fs.first_doc
        | GROUP BY d.source),
        |per AS (
        | SELECT source, count(DISTINCT gram) AS n_grams FROM g
        | GROUP BY source)
        |SELECT per.source, per.n_grams,
        | CAST(COALESCE(fsrc.n_first_seen, 0) AS BIGINT) AS n_first_seen,
        | CAST(round(1000000 * (CAST(COALESCE(fsrc.n_first_seen, 0) AS DOUBLE)
        |   / CAST(per.n_grams AS DOUBLE))) AS BIGINT) AS novelty_ppm
        |FROM per LEFT JOIN fsrc ON per.source = fsrc.source
        |ORDER BY per.source""".stripMargin,
    // per-user cumulative purchase revenue over the deterministic
    // (ts, event_id) order; ROWS frame spelled out in both engines
    "q_running_total" ->
      """SELECT event_id, user_id,
        | row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS purchase_seq,
        | round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS running_value
        |FROM events WHERE event_type = 'purchase'
        |ORDER BY event_id""".stripMargin,
    // wide-format pivot: per user cohort, summed value per event type
    "q_pivot_events" ->
      """SELECT user_id % 10 AS cohort,
        | round(sum(CASE WHEN event_type = 'click' THEN value END), 4) AS click,
        | round(sum(CASE WHEN event_type = 'error' THEN value END), 4) AS error,
        | round(sum(CASE WHEN event_type = 'purchase' THEN value END), 4) AS purchase,
        | round(sum(CASE WHEN event_type = 'signup' THEN value END), 4) AS signup,
        | round(sum(CASE WHEN event_type = 'view' THEN value END), 4) AS view
        |FROM events GROUP BY cohort ORDER BY cohort""".stripMargin,
    // region → nation → grand-total rollup; NULL slots coalesced to 'ALL'
    "q_rollup_revenue" ->
      """SELECT coalesce(r_name, 'ALL') AS region, coalesce(n_name, 'ALL') AS nation,
        | round(sum(o_totalprice), 2) AS revenue, count(*) AS n_orders
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP(r_name, n_name)
        |ORDER BY region, nation""".stripMargin,
    // concat-and-chunk packing: per-shard running token offset chunked
    // every 512 tokens; bin = chunk of the doc's first token
    "d_pack_sequences" ->
      """WITH tk AS (
        | SELECT doc_id, doc_id % 8 AS shard,
        |  len(list_filter(regexp_split_to_array(trim(text), '\s+'), x -> len(x) > 0)) AS tokens
        | FROM documents)
        |SELECT doc_id, shard, tokens,
        | CAST(floor((sum(tokens) OVER (PARTITION BY shard ORDER BY doc_id) - tokens) / 512.0) AS BIGINT) AS bin
        |FROM tk ORDER BY doc_id""".stripMargin,
    // no-split next-fit packing: the per-shard running (bin, used) fold
    // replayed as a recursive CTE stepping every shard one row per level
    "d_pack_greedy" ->
      """WITH RECURSIVE tk AS (
        | SELECT doc_id, doc_id % 8 AS shard,
        |  len(list_filter(regexp_split_to_array(trim(text), '\s+'), x -> len(x) > 0)) AS tokens
        | FROM documents),
        |f AS (SELECT doc_id, shard, CAST(tokens AS BIGINT) AS tokens,
        |        row_number() OVER (PARTITION BY shard ORDER BY doc_id) AS rn
        |      FROM tk WHERE tokens <= 512),
        |rec AS (
        | SELECT shard, rn, doc_id, tokens,
        |        CAST(0 AS BIGINT) AS bin, tokens AS bin_used
        | FROM f WHERE rn = 1
        | UNION ALL
        | SELECT f.shard, f.rn, f.doc_id, f.tokens,
        |  CASE WHEN r.bin_used + f.tokens > 512 THEN r.bin + 1 ELSE r.bin END,
        |  CASE WHEN r.bin_used + f.tokens > 512 THEN f.tokens
        |       ELSE r.bin_used + f.tokens END
        | FROM rec r JOIN f ON f.shard = r.shard AND f.rn = r.rn + 1)
        |SELECT doc_id, shard, tokens, bin, bin_used
        |FROM rec ORDER BY doc_id""".stripMargin,
    // per-shard fill audit of the no-split packer
    "d_pack_efficiency" ->
      """WITH RECURSIVE tk AS (
        | SELECT doc_id, doc_id % 8 AS shard,
        |  len(list_filter(regexp_split_to_array(trim(text), '\s+'), x -> len(x) > 0)) AS tokens
        | FROM documents),
        |f AS (SELECT doc_id, shard, CAST(tokens AS BIGINT) AS tokens,
        |        row_number() OVER (PARTITION BY shard ORDER BY doc_id) AS rn
        |      FROM tk WHERE tokens <= 512),
        |rec AS (
        | SELECT shard, rn, tokens, CAST(0 AS BIGINT) AS bin,
        |        tokens AS bin_used
        | FROM f WHERE rn = 1
        | UNION ALL
        | SELECT f.shard, f.rn, f.tokens,
        |  CASE WHEN r.bin_used + f.tokens > 512 THEN r.bin + 1 ELSE r.bin END,
        |  CASE WHEN r.bin_used + f.tokens > 512 THEN f.tokens
        |       ELSE r.bin_used + f.tokens END
        | FROM rec r JOIN f ON f.shard = r.shard AND f.rn = r.rn + 1),
        |pk AS (SELECT shard, count(*) AS packed_docs, max(bin) + 1 AS bins,
        |         CAST(sum(tokens) AS BIGINT) AS packed_tokens
        |       FROM rec GROUP BY shard),
        |sk AS (SELECT shard, count(*) AS skipped_long FROM tk
        |       WHERE tokens > 512 GROUP BY shard)
        |SELECT pk.shard, packed_docs, bins, packed_tokens,
        |  packed_tokens * 10000 // (bins * 512) AS fill_bp,
        |  COALESCE(skipped_long, 0) AS skipped_long
        |FROM pk LEFT JOIN sk ON pk.shard = sk.shard
        |ORDER BY pk.shard""".stripMargin,
    // Cohen's kappa of the marker heuristic vs the gold lang column:
    // the d_lang_predict CTE reused, then exact-integer confusion counts
    "d_classifier_kappa" ->
      """WITH toks AS (
        | SELECT doc_id,
        |  list_transform(list_filter(regexp_split_to_array(trim(text), '\s+'), x -> len(x) > 0), x -> lower(x)) AS tk
        | FROM documents),
        |sc AS (SELECT doc_id,
        | len(list_filter(tk, x -> x IN ('der','die','und','das','ist'))) AS s_de,
        | len(list_filter(tk, x -> x IN ('the','and','of','is','a'))) AS s_en,
        | len(list_filter(tk, x -> x IN ('el','los','que','y','es'))) AS s_es,
        | len(list_filter(tk, x -> x IN ('le','la','et','les','de'))) AS s_fr
        |FROM toks),
        |pred AS (SELECT doc_id,
        | CASE WHEN greatest(s_de, s_en, s_es, s_fr) = 0 THEN 'und'
        |      WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr THEN 'de'
        |      WHEN s_en >= s_es AND s_en >= s_fr THEN 'en'
        |      WHEN s_es >= s_fr THEN 'es'
        |      ELSE 'fr' END AS pred
        |FROM sc),
        |conf AS (SELECT d.lang AS gold, p.pred, count(*) AS c
        |         FROM documents d JOIN pred p ON d.doc_id = p.doc_id
        |         GROUP BY 1, 2),
        |rw AS (SELECT gold, CAST(sum(c) AS BIGINT) AS rk FROM conf GROUP BY gold),
        |cl AS (SELECT pred, CAST(sum(c) AS BIGINT) AS ck FROM conf GROUP BY pred),
        |pe AS (SELECT COALESCE(CAST(sum(rk * ck) AS BIGINT), 0) AS pe_num
        |       FROM rw JOIN cl ON rw.gold = cl.pred),
        |tt AS (SELECT CAST(sum(c) AS BIGINT) AS n_docs,
        |         COALESCE(CAST(sum(CASE WHEN gold = pred THEN c ELSE 0 END) AS BIGINT), 0) AS agree
        |       FROM conf)
        |SELECT n_docs, agree,
        | CAST(round(CAST(agree AS DOUBLE) * 1000000 / n_docs) AS BIGINT) AS acc_micro,
        | CAST(round(CAST(n_docs * agree - pe_num AS DOUBLE) * 1000000
        |   / (n_docs * n_docs - pe_num)) AS BIGINT) AS kappa_micro
        |FROM tt, pe""".stripMargin,
    // next-event training pairs: per-user lag window, '_'-padded context
    "d_next_event_pairs" ->
      """WITH w AS (
        | SELECT event_id, user_id,
        |  concat_ws('|',
        |   coalesce(lag(event_type, 3) OVER u, '_'),
        |   coalesce(lag(event_type, 2) OVER u, '_'),
        |   coalesce(lag(event_type, 1) OVER u, '_')) AS ctx,
        |  lead(event_type, 1) OVER u AS label
        | FROM events
        | WINDOW u AS (PARTITION BY user_id ORDER BY ts, event_id))
        |SELECT event_id, user_id, ctx, label FROM w
        |WHERE label IS NOT NULL ORDER BY event_id""".stripMargin,
    // leave-one-out target encoding: cents at the scan, micro out via
    // integer division; singleton types take the global LOO mean
    "d_target_encode" ->
      """WITH ev AS (
        | SELECT event_id, event_type,
        |  CAST(round(value * 100) AS BIGINT) AS cents
        | FROM events),
        |bt AS (SELECT event_type, CAST(sum(cents) AS BIGINT) AS t_sum,
        |         count(*) AS t_n
        |       FROM ev GROUP BY event_type),
        |g AS (SELECT CAST(sum(cents) AS BIGINT) AS g_sum, count(*) AS g_n
        |      FROM ev)
        |SELECT event_id, ev.event_type,
        | CASE WHEN t_n > 1 THEN (t_sum - cents) * 10000 // (t_n - 1)
        |      ELSE (g_sum - cents) * 10000 // (g_n - 1) END AS enc_micro
        |FROM ev JOIN bt ON ev.event_type = bt.event_type CROSS JOIN g
        |ORDER BY event_id""".stripMargin,
    // collocations: integer PMI-lift ranking, min-count 5, top-20
    "d_collocations" ->
      """WITH tk AS (
        | SELECT list_filter(regexp_split_to_array(trim(text), '\s+'),
        |   x -> len(x) > 0) AS tk
        | FROM documents),
        |bg AS (
        | SELECT unnest(list_transform(range(1, len(tk)),
        |   i -> tk[i] || ' ' || tk[i+1])) AS bigram
        | FROM tk WHERE len(tk) >= 2),
        |pc AS (SELECT bigram, count(*) AS c_ab FROM bg GROUP BY bigram
        |       HAVING count(*) >= 5),
        |uni AS (SELECT unnest(tk) AS tok FROM tk),
        |uc AS (SELECT tok, count(*) AS c_tok FROM uni GROUP BY tok),
        |tt AS (SELECT count(*) AS n_bg FROM bg)
        |SELECT bigram, c_ab,
        | ua.c_tok AS c_a, ub.c_tok AS c_b,
        | c_ab * n_bg * 1000000 // (ua.c_tok * ub.c_tok) AS lift_ppm
        |FROM pc
        |JOIN uc ua ON ua.tok = split_part(bigram, ' ', 1)
        |JOIN uc ub ON ub.tok = split_part(bigram, ' ', 2)
        |CROSS JOIN tt
        |ORDER BY lift_ppm DESC, bigram LIMIT 20""".stripMargin,
    // Jaro-Winkler fuzzy matching: DuckDB's jaro_winkler_similarity
    // implements the same portable definition as the compiled kernel
    // (boost only when jaro > 0.7, prefix cap 4, p = 0.1); top-1 ranked
    // on the 4dp-rounded score so the order is engine-portable
    "q_linkage_jw" ->
      """WITH probes AS (
        | SELECT p_partkey + 1000000 AS qkey,
        |   substr(p_name, 1, length(p_name) - 1) AS qname,
        |   p_brand AS qbrand
        | FROM part WHERE p_partkey % 11 = 0),
        |cand AS (
        | SELECT qkey, p_partkey AS bkey,
        |   round(jaro_winkler_similarity(qname, p_name), 4) AS jw
        | FROM probes JOIN part ON qbrand = p_brand
        |   AND substr(qname, 1, 8) = substr(p_name, 1, 8)),
        |r AS (SELECT qkey, bkey, jw,
        |   row_number() OVER (PARTITION BY qkey ORDER BY jw DESC, bkey) AS rnk
        | FROM cand)
        |SELECT qkey, bkey, jw FROM r WHERE rnk = 1 ORDER BY qkey""".stripMargin,
    "d_lang_predict" ->
      """WITH toks AS (
        | SELECT doc_id,
        |  list_transform(list_filter(regexp_split_to_array(trim(text), '\s+'), x -> len(x) > 0), x -> lower(x)) AS tk
        | FROM documents),
        |sc AS (SELECT doc_id,
        | len(list_filter(tk, x -> x IN ('der','die','und','das','ist'))) AS s_de,
        | len(list_filter(tk, x -> x IN ('the','and','of','is','a'))) AS s_en,
        | len(list_filter(tk, x -> x IN ('el','los','que','y','es'))) AS s_es,
        | len(list_filter(tk, x -> x IN ('le','la','et','les','de'))) AS s_fr
        |FROM toks)
        |SELECT doc_id,
        | CASE WHEN greatest(s_de, s_en, s_es, s_fr) = 0 THEN 'und'
        |      WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr THEN 'de'
        |      WHEN s_en >= s_es AND s_en >= s_fr THEN 'en'
        |      WHEN s_es >= s_fr THEN 'es'
        |      ELSE 'fr' END AS lang,
        | greatest(s_de, s_en, s_es, s_fr) AS score
        |FROM sc ORDER BY doc_id""".stripMargin,
    // JL projection: 1e-4 fixed-point dims, md5-seeded Rademacher signs,
    // integer sums — bit-exact by construction
    "s_embed_jl" ->
      """WITH q AS (SELECT vec_id,
        |  list_transform(CAST(embedding AS DOUBLE[]),
        |    x -> CAST(round(x * 10000) AS BIGINT)) AS q
        | FROM embeddings
        | WHERE embedding IS NOT NULL
        |   AND len(list_filter(embedding, x -> x IS NULL)) = 0),
        |terms AS (
        | SELECT vec_id, pp.p AS p,
        |  q[dd.d + 1] * (CASE WHEN CAST(concat('0x',
        |    substr(md5('jl:' || pp.p || ':' || dd.d), 1, 8)) AS BIGINT)
        |    % 2 = 0 THEN 1 ELSE -1 END) AS t
        | FROM q, unnest(range(16)) AS pp(p), unnest(range(64)) AS dd(d))
        |SELECT vec_id, CAST(p AS INTEGER) AS p, CAST(sum(t) AS BIGINT) AS proj
        |FROM terms GROUP BY vec_id, p ORDER BY vec_id, p""".stripMargin,
    // JL distortion audit: sketch vs exact squared-L2 over the bounded
    // pair sample, sum-of-BIGINTs ratios only
    "s_jl_distortion" ->
      """WITH q AS (SELECT vec_id,
        |  list_transform(CAST(embedding AS DOUBLE[]),
        |    x -> CAST(round(x * 10000) AS BIGINT)) AS q
        | FROM embeddings WHERE vec_id < 40
        |   AND embedding IS NOT NULL
        |   AND len(list_filter(embedding, x -> x IS NULL)) = 0),
        |terms AS (
        | SELECT vec_id, pp.p AS p,
        |  q[dd.d + 1] * (CASE WHEN CAST(concat('0x',
        |    substr(md5('jl:' || pp.p || ':' || dd.d), 1, 8)) AS BIGINT)
        |    % 2 = 0 THEN 1 ELSE -1 END) AS t
        | FROM q, unnest(range(16)) AS pp(p), unnest(range(64)) AS dd(d)),
        |pr AS (SELECT vec_id, p, CAST(sum(t) AS BIGINT) AS proj
        |       FROM terms GROUP BY 1, 2),
        |jl AS (SELECT a.vec_id AS aid, b.vec_id AS bid,
        |        CAST(sum((a.proj - b.proj) * (a.proj - b.proj)) AS BIGINT)
        |          AS jl_sq
        |       FROM pr a JOIN pr b ON a.p = b.p AND a.vec_id < b.vec_id
        |       GROUP BY 1, 2),
        |dexp AS (SELECT vec_id, dd.d AS d, q[dd.d + 1] AS qd
        |         FROM q, unnest(range(64)) AS dd(d)),
        |ex AS (SELECT a.vec_id AS aid, b.vec_id AS bid,
        |        CAST(sum((a.qd - b.qd) * (a.qd - b.qd)) AS BIGINT) AS ex_sq
        |       FROM dexp a JOIN dexp b ON a.d = b.d AND a.vec_id < b.vec_id
        |       GROUP BY 1, 2),
        |pairs AS (SELECT jl.aid, jl.bid, jl_sq, ex_sq,
        |   CAST(round(CAST(jl_sq AS DOUBLE) * 1000000 /
        |     (CAST(ex_sq AS DOUBLE) * 16)) AS BIGINT) AS ratio_ppm
        |  FROM jl JOIN ex ON jl.aid = ex.aid AND jl.bid = ex.bid
        |  WHERE ex_sq > 0)
        |SELECT count(*) AS n_pairs,
        | CAST(round(CAST(sum(jl_sq) AS DOUBLE) * 1000000 /
        |   (CAST(sum(ex_sq) AS DOUBLE) * 16)) AS BIGINT) AS overall_ppm,
        | CAST(min(ratio_ppm) AS BIGINT) AS min_ppm,
        | CAST(max(ratio_ppm) AS BIGINT) AS max_ppm
        |FROM pairs""".stripMargin,
    "s_ann_bruteforce" ->
      """WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS q_vec
        |           FROM embeddings WHERE vec_id < 10),
        |c AS (SELECT vec_id AS c_id, CAST(embedding AS DOUBLE[]) AS c_vec FROM embeddings),
        |s AS (SELECT q_id, c_id,
        |        list_dot_product(q_vec, c_vec) /
        |        (sqrt(list_dot_product(q_vec, q_vec)) * sqrt(list_dot_product(c_vec, c_vec))) AS sim
        |      FROM q, c WHERE c_id <> q_id),
        |r AS (SELECT q_id, c_id, sim,
        |        row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, c_id) AS rnk
        |      FROM s)
        |SELECT q_id, c_id, rnk, round(sim,4) AS sim FROM r
        |WHERE rnk <= 5 ORDER BY q_id, rnk""".stripMargin,
    // int8 twins: identical scale/quantize arithmetic, exact integer
    // dot; the stored spelling is a physical rearrangement of the same
    // codes, so ONE oracle covers both
    "s_ann_int8_stored" -> annInt8Oracle,
    "s_ann_int8" -> annInt8Oracle,
    
    // mutual top-5: both directions of the brute-force lists must agree
    "s_mutual_knn" ->
      """WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS q_vec
        |           FROM embeddings),
        |c AS (SELECT vec_id AS c_id, CAST(embedding AS DOUBLE[]) AS c_vec FROM embeddings),
        |s AS (SELECT q_id, c_id,
        |        list_dot_product(q_vec, c_vec) /
        |        (sqrt(list_dot_product(q_vec, q_vec)) * sqrt(list_dot_product(c_vec, c_vec))) AS sim
        |      FROM q, c WHERE c_id <> q_id),
        |r AS (SELECT q_id, c_id, sim,
        |        row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, c_id) AS rnk
        |      FROM s),
        |t AS (SELECT q_id, c_id, rnk, round(sim, 4) AS sim FROM r WHERE rnk <= 5)
        |SELECT f.q_id AS a, f.c_id AS b, f.rnk AS rank_ab, g.rnk AS rank_ba, f.sim
        |FROM t f JOIN t g ON g.q_id = f.c_id AND g.c_id = f.q_id
        |WHERE f.q_id < f.c_id ORDER BY a, b""".stripMargin,
    // stored mutual-kNN twin: the s_ann_ivf_stored coarse CTEs with ALL
    // vectors as queries (each probing its 3 nearest of the 8 unit-seed
    // centroids), exact cosine over probed members, top-5 per query, then
    // the same reciprocal join as the brute-force mutual twin
    "s_mutual_knn_stored" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |u AS (SELECT vec_id, v,
        |        CASE WHEN sqrt(list_dot_product(v, v)) = 0 THEN v
        |             ELSE list_transform(v, x -> x / sqrt(list_dot_product(v, v))) END AS vu
        |      FROM e),
        |cu AS (SELECT vec_id AS ccid, vu AS cvu FROM u WHERE vec_id < 8),
        |cd AS (SELECT u.vec_id, cu.ccid,
        |         list_sum(list_transform(range(1, 65),
        |           i -> (u.vu[i] - cu.cvu[i]) * (u.vu[i] - cu.cvu[i]))) AS d
        |       FROM u, cu),
        |assign AS (SELECT vec_id, ccid FROM (
        |             SELECT vec_id, ccid,
        |               row_number() OVER (PARTITION BY vec_id ORDER BY d, ccid) AS rn
        |             FROM cd) WHERE rn = 1),
        |qprobe AS (SELECT vec_id AS q_id, ccid FROM (
        |             SELECT vec_id, ccid,
        |               row_number() OVER (PARTITION BY vec_id ORDER BY d, ccid) AS rn
        |             FROM cd) WHERE rn <= 3),
        |cand0 AS (SELECT DISTINCT qprobe.q_id, assign.vec_id AS c_id
        |          FROM assign JOIN qprobe ON qprobe.ccid = assign.ccid
        |          WHERE assign.vec_id <> qprobe.q_id),
        |cand AS (SELECT q_id, c_id FROM cand0
        |         UNION SELECT c_id, q_id FROM cand0),
        |rer AS (SELECT cand.q_id, cand.c_id,
        |          list_dot_product(q.v, c.v) /
        |          (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))) AS sim
        |        FROM cand JOIN e q ON q.vec_id = cand.q_id
        |                  JOIN e c ON c.vec_id = cand.c_id),
        |r AS (SELECT q_id, c_id, sim,
        |        row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, c_id) AS rnk
        |      FROM rer),
        |t AS (SELECT q_id, c_id, rnk, round(sim, 4) AS sim FROM r WHERE rnk <= 5)
        |SELECT f.q_id AS a, f.c_id AS b, f.rnk AS rank_ab, g.rnk AS rank_ba, f.sim
        |FROM t f JOIN t g ON g.q_id = f.c_id AND g.c_id = f.q_id
        |WHERE f.q_id < f.c_id ORDER BY a, b""".stripMargin,
    // centroid drift: cosine of the per-label milli-unit SUM vectors
    // (scale-invariant, so ≡ cosine of the means; integer sums are
    // order-independent)
    "s_centroid_drift" ->
      """WITH e AS (
        | SELECT label, vec_id % 2 = 0 AS even,
        |  CAST(embedding AS DOUBLE[]) AS emb
        | FROM embeddings),
        |comp AS (
        | SELECT label, even, i AS pos,
        |  CAST(sum(CAST(round(emb[i] * 1000) AS BIGINT)) AS BIGINT) AS s
        | FROM e, unnest(range(1, len(emb) + 1)) t(i)
        | GROUP BY 1, 2, 3),
        |d AS (
        | SELECT a.label,
        |  CAST(sum(a.s * b.s) AS BIGINT) AS dot,
        |  CAST(sum(a.s * a.s) AS BIGINT) AS na2,
        |  CAST(sum(b.s * b.s) AS BIGINT) AS nb2
        | FROM comp a JOIN comp b
        |   ON a.label = b.label AND a.pos = b.pos AND a.even AND NOT b.even
        | GROUP BY a.label),
        |cnt AS (
        | SELECT label,
        |  CAST(sum(CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_even,
        |  CAST(sum(CASE WHEN vec_id % 2 = 0 THEN 0 ELSE 1 END) AS BIGINT) AS n_odd
        | FROM embeddings GROUP BY label)
        |SELECT d.label AS label, n_even, n_odd,
        | CAST(round(1000000 * (CAST(dot AS DOUBLE) /
        |   (sqrt(CAST(na2 AS DOUBLE)) * sqrt(CAST(nb2 AS DOUBLE)))))
        |   AS BIGINT) AS cos_ppm
        |FROM d JOIN cnt ON cnt.label = d.label
        |ORDER BY label""".stripMargin,
    // chi-square independence: exact-integer (O·N − r·c)²/(N·r·c) cells,
    // micro-rounded then integer-summed
    "d_chi2_langsource" ->
      """WITH cells AS (
        | SELECT lang AS a, source AS b, count(*) AS o
        | FROM documents GROUP BY 1, 2),
        |ra AS (SELECT a, CAST(sum(o) AS BIGINT) AS ra FROM cells GROUP BY a),
        |cb AS (SELECT b, CAST(sum(o) AS BIGINT) AS cb FROM cells GROUP BY b),
        |tot AS (SELECT CAST(sum(o) AS BIGINT) AS n,
        |         count(DISTINCT a) AS n_a, count(DISTINCT b) AS n_b
        |        FROM cells),
        |contrib AS (
        | SELECT n, n_a, n_b,
        |  CAST(round(1000000 * (
        |    CAST(o * n - ra * cb AS DOUBLE) * CAST(o * n - ra * cb AS DOUBLE)
        |    / CAST(n * ra * cb AS DOUBLE))) AS BIGINT) AS chi_micro
        | FROM cells JOIN ra USING (a) JOIN cb USING (b) CROSS JOIN tot)
        |SELECT n, n_a, n_b, count(*) AS n_cells,
        | (n_a - 1) * (n_b - 1) AS df,
        | CAST(sum(chi_micro) AS BIGINT) AS chi2_micro
        |FROM contrib GROUP BY n, n_a, n_b""".stripMargin,
    // Matryoshka twin: the brute-force chain over the first 32 dims
    "s_embed_matryoshka" ->
      """WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[])[1:32] AS q_vec
        |           FROM embeddings WHERE vec_id < 10),
        |c AS (SELECT vec_id AS c_id, CAST(embedding AS DOUBLE[])[1:32] AS c_vec
        |      FROM embeddings),
        |s AS (SELECT q_id, c_id,
        |        list_dot_product(q_vec, c_vec) /
        |        (sqrt(list_dot_product(q_vec, q_vec)) * sqrt(list_dot_product(c_vec, c_vec))) AS sim
        |      FROM q, c WHERE c_id <> q_id),
        |r AS (SELECT q_id, c_id, sim,
        |        row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, c_id) AS rnk
        |      FROM s)
        |SELECT q_id, c_id, rnk, round(sim,4) AS sim FROM r
        |WHERE rnk <= 5 ORDER BY q_id, rnk""".stripMargin,
    // PQ ANN portable twin: codebooks = unit sub-vectors of the 16 first
    // rows; encode (argmin, tie -> lowest centroid id) -> ADC shortlist 50
    // (ordered list_sum = Spark's fixed s-order fold) -> exact-cosine
    // re-rank. `dist` doubles as the query LUT (queries are corpus rows).
    "s_ann_pq" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |u AS (SELECT vec_id, v,
        |        CASE WHEN sqrt(list_dot_product(v, v)) = 0 THEN v
        |             ELSE list_transform(v, x -> x / sqrt(list_dot_product(v, v))) END AS vu
        |      FROM e),
        |sub AS (SELECT s FROM generate_series(0, 7) AS t(s)),
        |cent AS (SELECT c.vec_id AS cid, sub.s, c.vu[sub.s*8 + 1 : sub.s*8 + 8] AS cv
        |         FROM u c, sub WHERE c.vec_id < 16),
        |sv AS (SELECT u.vec_id, sub.s, u.vu[sub.s*8 + 1 : sub.s*8 + 8] AS sv FROM u, sub),
        |dist AS (SELECT sv.vec_id, sv.s, cent.cid,
        |           list_sum(list_transform(range(1, 9),
        |             i -> (sv.sv[i] - cent.cv[i]) * (sv.sv[i] - cent.cv[i]))) AS d
        |         FROM sv JOIN cent ON sv.s = cent.s),
        |code AS (SELECT vec_id, s, cid AS code FROM (
        |           SELECT vec_id, s, cid,
        |             row_number() OVER (PARTITION BY vec_id, s ORDER BY d, cid) AS rn
        |           FROM dist) WHERE rn = 1),
        |qlut AS (SELECT q.vec_id AS q_id, dist.s, dist.cid, dist.d AS pd
        |         FROM dist JOIN u q ON dist.vec_id = q.vec_id WHERE q.vec_id < 10),
        |adc AS (SELECT qlut.q_id, code.vec_id AS c_id,
        |          list_sum(list(qlut.pd ORDER BY qlut.s)) AS adc
        |        FROM code JOIN qlut ON qlut.s = code.s AND qlut.cid = code.code
        |        WHERE code.vec_id <> qlut.q_id
        |        GROUP BY qlut.q_id, code.vec_id),
        |short AS (SELECT q_id, c_id FROM (
        |            SELECT q_id, c_id,
        |              row_number() OVER (PARTITION BY q_id ORDER BY adc, c_id) AS srank
        |            FROM adc) WHERE srank <= 50),
        |rer AS (SELECT short.q_id, short.c_id,
        |          list_dot_product(q.v, c.v) /
        |          (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))) AS sim
        |        FROM short JOIN u q ON q.vec_id = short.q_id
        |                   JOIN u c ON c.vec_id = short.c_id),
        |r AS (SELECT q_id, c_id, sim,
        |        row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, c_id) AS rnk
        |      FROM rer)
        |SELECT q_id, c_id, rnk, round(sim, 4) AS sim FROM r
        |WHERE rnk <= 5 ORDER BY q_id, rnk""".stripMargin,
    // trained-path equality certificate: both sides of s_ann_ivf_parity
    // run the SAME driver-trained kmeans codebook (non-SQL-expressible),
    // one flat in-query, one over the centroid-partitioned store; the
    // deterministic outcome is full agreement — 5 of 5 rows per query
    // for the 10 graded queries. The oracle pins that certificate, so a
    // stored-layout row drifting from the flat path breaks the hash.
    "s_ann_ivf_parity" ->
      """SELECT CAST(r AS BIGINT) AS q_id, CAST(5 AS BIGINT) AS n_rows,
        | CAST(5 AS BIGINT) AS n_agree
        |FROM range(10) t(r) ORDER BY q_id""".stripMargin,
    // IVF-PQ twin: the PQ CTE chain plus coarse assignment (8 unit seeds)
    // and nprobe=3 probe pruning before the ADC join
    // stored-IVF twin: the ivfpq coarse CTEs (unit vectors, first-8
    // seeded assignment, 3 probes) with exact raw-vector cosine over the
    // probed members — no ADC, no shortlist; what the physical layout
    // serves directly
    "s_ann_ivf_stored" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |u AS (SELECT vec_id, v,
        |        CASE WHEN sqrt(list_dot_product(v, v)) = 0 THEN v
        |             ELSE list_transform(v, x -> x / sqrt(list_dot_product(v, v))) END AS vu
        |      FROM e),
        |cu AS (SELECT vec_id AS ccid, vu AS cvu FROM u WHERE vec_id < 8),
        |cd AS (SELECT u.vec_id, cu.ccid,
        |         list_sum(list_transform(range(1, 65),
        |           i -> (u.vu[i] - cu.cvu[i]) * (u.vu[i] - cu.cvu[i]))) AS d
        |       FROM u, cu),
        |assign AS (SELECT vec_id, ccid FROM (
        |             SELECT vec_id, ccid,
        |               row_number() OVER (PARTITION BY vec_id ORDER BY d, ccid) AS rn
        |             FROM cd) WHERE rn = 1),
        |qprobe AS (SELECT vec_id AS q_id, ccid FROM (
        |             SELECT vec_id, ccid,
        |               row_number() OVER (PARTITION BY vec_id ORDER BY d, ccid) AS rn
        |             FROM cd WHERE vec_id < 10) WHERE rn <= 3),
        |cand AS (SELECT DISTINCT qprobe.q_id, assign.vec_id AS c_id
        |         FROM assign JOIN qprobe ON qprobe.ccid = assign.ccid
        |         WHERE assign.vec_id <> qprobe.q_id),
        |rer AS (SELECT cand.q_id, cand.c_id,
        |          list_dot_product(q.v, c.v) /
        |          (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))) AS sim
        |        FROM cand JOIN e q ON q.vec_id = cand.q_id
        |                  JOIN e c ON c.vec_id = cand.c_id),
        |r AS (SELECT q_id, c_id, sim,
        |        row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, c_id) AS rnk
        |      FROM rer)
        |SELECT q_id, c_id, rnk, round(sim, 4) AS sim FROM r
        |WHERE rnk <= 5 ORDER BY q_id, rnk""".stripMargin,
    // vector-store deletion: REBUILD semantics over the surviving corpus
    // with the SAME frozen codebook (codebook = geometry, not rows) —
    // matching this proves in-place compaction ≡ rebuild
    "s_ann_forget_stored" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |u AS (SELECT vec_id, v,
        |        CASE WHEN sqrt(list_dot_product(v, v)) = 0 THEN v
        |             ELSE list_transform(v, x -> x / sqrt(list_dot_product(v, v))) END AS vu
        |      FROM e),
        |cu AS (SELECT vec_id AS ccid, vu AS cvu FROM u WHERE vec_id < 8),
        |sv AS (SELECT vec_id, vu FROM u WHERE vec_id % 7 <> 3),
        |cd AS (SELECT sv.vec_id, cu.ccid,
        |         list_sum(list_transform(range(1, 65),
        |           i -> (sv.vu[i] - cu.cvu[i]) * (sv.vu[i] - cu.cvu[i]))) AS d
        |       FROM sv, cu),
        |assign AS (SELECT vec_id, ccid FROM (
        |             SELECT vec_id, ccid,
        |               row_number() OVER (PARTITION BY vec_id ORDER BY d, ccid) AS rn
        |             FROM cd) WHERE rn = 1),
        |qprobe AS (SELECT vec_id AS q_id, ccid FROM (
        |             SELECT vec_id, ccid,
        |               row_number() OVER (PARTITION BY vec_id ORDER BY d, ccid) AS rn
        |             FROM cd WHERE vec_id < 10) WHERE rn <= 3),
        |cand AS (SELECT DISTINCT qprobe.q_id, assign.vec_id AS c_id
        |         FROM assign JOIN qprobe ON qprobe.ccid = assign.ccid
        |         WHERE assign.vec_id <> qprobe.q_id),
        |rer AS (SELECT cand.q_id, cand.c_id,
        |          list_dot_product(q.v, c.v) /
        |          (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))) AS sim
        |        FROM cand JOIN e q ON q.vec_id = cand.q_id
        |                  JOIN e c ON c.vec_id = cand.c_id),
        |r AS (SELECT q_id, c_id, sim,
        |        row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, c_id) AS rnk
        |      FROM rer)
        |SELECT q_id, c_id, rnk, round(sim, 4) AS sim FROM r
        |WHERE rnk <= 5 ORDER BY q_id, rnk""".stripMargin,
    // two-level stored ANN: the full hierarchy replayed relationally —
    // top seeding (first 3 unit vectors), top assignment by (d, tid),
    // per-cell child quota (3 smallest vec_ids), GLOBAL child ids by
    // cumulative base over tops, two-level corpus assignment by (d, gid),
    // query probes (2 tops then 3 children), exact cosine, top-5
    "s_ann_ivf2_stored" -> ivf2TwinSql,
    // the persisted-codebook re-attach probes the same frozen hierarchy
    // (parquet DOUBLEs round-trip bit-exact), so the replay grades it
    // unchanged — what it adds is WHERE the codebook came from (disk)
    "s_ann_ivf2_persisted" -> ivf2TwinSql,
    "s_ann_ivfpq" -> ivfPqTwinSql,
    // the stored-layout composition (writePqStore codes + DPP probe
    // pruning + vector-store re-rank) is row-identical to the flat
    // ivfPqTopK by construction — the SAME CTE twin grades both
    "s_ann_ivfpq_stored" -> ivfPqTwinSql,
    // the persisted-codebooks re-attach decodes the same frozen
    // geometries (bit-exact DOUBLE round-trip), so the replay grades it
    // unchanged — what it adds is WHERE the codebooks came from (disk)
    "s_ann_ivfpq_persisted" -> ivfPqTwinSql,
    // hierarchy-routed codes store: the composed replay (two-level
    // router + PQ encode/ADC/re-rank) grades the whole chain
    "s_ann_ivfpq2_stored" -> ivfPq2TwinSql,
    // the re-attach reloads the same frozen pair bit-exact, so the
    // composed replay grades it unchanged — what it adds is WHERE the
    // geometries came from (disk)
    "s_ann_ivfpq2_persisted" -> ivfPq2TwinSql,
    // cascade erasure on the codes layout: rebuild-on-survivors replay
    // with the FROZEN full-corpus geometry — the s_ann_forget_stored
    // theorem, applied to the pq2 store + its rerank sidecar erased
    // through the recorded linkage (forget recipe names no key)
    "s_ann_pq_forget_stored" -> ivfPq2ForgetTwinSql,

    // share-audit twin: the pq2 router replayed to per-directory counts,
    // then exact integer-ppm shares (// is DuckDB's integer division,
    // matching Spark's div)
    "s_ann_share_audit" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |u AS (SELECT vec_id, v,
        |        CASE WHEN sqrt(list_dot_product(v, v)) = 0 THEN v
        |             ELSE list_transform(v, x -> x / sqrt(list_dot_product(v, v))) END AS vu
        |      FROM e),
        |tp AS (SELECT vec_id AS tid, vu AS tvu FROM u WHERE vec_id < 3),
        |td AS (SELECT u.vec_id, tp.tid,
        |         list_sum(list_transform(range(1, 65),
        |           i -> (u.vu[i] - tp.tvu[i]) * (u.vu[i] - tp.tvu[i]))) AS d
        |       FROM u, tp),
        |tassign AS (SELECT vec_id, tid FROM (
        |              SELECT vec_id, tid,
        |                row_number() OVER (PARTITION BY vec_id ORDER BY d, tid) AS rn
        |              FROM td) WHERE rn = 1),
        |kids AS (SELECT tid, kvid, kvu, j FROM (
        |           SELECT t.tid, t.vec_id AS kvid, u.vu AS kvu,
        |             row_number() OVER (PARTITION BY t.tid ORDER BY t.vec_id) AS j
        |           FROM tassign t JOIN u ON u.vec_id = t.vec_id) WHERE j <= 3),
        |bs AS (SELECT tid,
        |         CAST(coalesce(sum(m) OVER (ORDER BY tid
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS base
        |       FROM (SELECT tid, count(*) AS m FROM kids GROUP BY tid)),
        |gk AS (SELECT k.tid, k.kvid, k.kvu, bs.base + k.j - 1 AS gid
        |       FROM kids k JOIN bs USING (tid)),
        |gd AS (SELECT u.vec_id, gk.gid,
        |         list_sum(list_transform(range(1, 65),
        |           i -> (u.vu[i] - gk.kvu[i]) * (u.vu[i] - gk.kvu[i]))) AS d
        |       FROM u JOIN tassign USING (vec_id) JOIN gk ON gk.tid = tassign.tid),
        |assign AS (SELECT vec_id, gid FROM (
        |             SELECT vec_id, gid,
        |               row_number() OVER (PARTITION BY vec_id ORDER BY d, gid) AS rn
        |             FROM gd) WHERE rn = 1),
        |c AS (SELECT CAST(gid AS INTEGER) AS centroid_id, count(*) AS n_rows
        |      FROM assign GROUP BY 1),
        |t AS (SELECT CAST(sum(n_rows) AS BIGINT) AS tot,
        |             count(*) AS dirs FROM c)
        |SELECT c.centroid_id, c.n_rows,
        |  CAST(1000000 * c.n_rows // t.tot AS BIGINT) AS share_ppm,
        |  CAST(1000000 // t.dirs AS BIGINT) AS balanced_ppm
        |FROM c, t ORDER BY centroid_id""".stripMargin,
    "d_ngram_jaccard" ->
      """WITH sh AS (
        | SELECT doc_id,
        |  list_distinct(list_transform(range(1, len(tk)-1),
        |    i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS ss
        | FROM (SELECT doc_id,
        |   list_filter(regexp_split_to_array(trim(text), '\s+'), x -> len(x) > 0) AS tk
        |  FROM documents)
        | WHERE len(tk) >= 3)
        |SELECT a.doc_id AS a, b.doc_id AS b,
        | round(CAST(len(list_intersect(a.ss, b.ss)) AS DOUBLE) /
        |   (len(a.ss) + len(b.ss) - len(list_intersect(a.ss, b.ss))), 4) AS jaccard
        |FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1
        |ORDER BY a""".stripMargin,
    // xxhash64 minhash-LSH verified pairs graded against the EXACT
    // all-pairs truth: the verify stage makes the output = {pairs with
    // exact jaccard >= 0.5 that survived the funnel}, and on this corpus
    // every qualifying pair has jaccard >= 0.89 (16-band miss probability
    // < 1e-6 per pair — d_minhash_error audits the funnel, RecallSpec
    // pins recall >= 0.95), so the funnel is complete and the all-pairs
    // spelling IS the oracle; the quadratic self-join is oracle-side only
    "d_minhash_pairs" ->
      """WITH sh AS (
        | SELECT doc_id,
        |  list_distinct(list_transform(range(1, len(tk)-1),
        |    i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS ss
        | FROM (SELECT doc_id,
        |   list_filter(regexp_split_to_array(trim(text), '\s+'), x -> len(x) > 0) AS tk
        |  FROM documents)
        | WHERE len(tk) >= 3)
        |SELECT a.doc_id AS a, b.doc_id AS b,
        | round(CAST(len(list_intersect(a.ss, b.ss)) AS DOUBLE) /
        |   (len(a.ss) + len(b.ss) - len(list_intersect(a.ss, b.ss))), 4) AS jaccard
        |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |WHERE CAST(len(list_intersect(a.ss, b.ss)) AS DOUBLE) /
        |   (len(a.ss) + len(b.ss) - len(list_intersect(a.ss, b.ss))) >= 0.5
        |ORDER BY a, b""".stripMargin,
    "s_embed_neardup" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |           FROM embeddings WHERE vec_id < 300)
        |SELECT a.vec_id AS a, b.vec_id AS b,
        | round(list_dot_product(a.v, b.v) /
        |  (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 4) AS sim
        |FROM e a JOIN e b ON a.vec_id < b.vec_id
        |WHERE list_dot_product(a.v, b.v) /
        |  (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= 0.35
        |ORDER BY a, b""".stripMargin,
    // recall-audit twin: the stored-IVF chain and the brute-force chain
    // side by side, overlap counted per query — recall@5 end to end
    "s_ann_recall" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |u AS (SELECT vec_id, v,
        |        CASE WHEN sqrt(list_dot_product(v, v)) = 0 THEN v
        |             ELSE list_transform(v, x -> x / sqrt(list_dot_product(v, v))) END AS vu
        |      FROM e),
        |cu AS (SELECT vec_id AS ccid, vu AS cvu FROM u WHERE vec_id < 8),
        |cd AS (SELECT u.vec_id, cu.ccid,
        |         list_sum(list_transform(range(1, 65),
        |           i -> (u.vu[i] - cu.cvu[i]) * (u.vu[i] - cu.cvu[i]))) AS d
        |       FROM u, cu),
        |assign AS (SELECT vec_id, ccid FROM (
        |             SELECT vec_id, ccid,
        |               row_number() OVER (PARTITION BY vec_id ORDER BY d, ccid) AS rn
        |             FROM cd) WHERE rn = 1),
        |qprobe AS (SELECT vec_id AS q_id, ccid FROM (
        |             SELECT vec_id, ccid,
        |               row_number() OVER (PARTITION BY vec_id ORDER BY d, ccid) AS rn
        |             FROM cd WHERE vec_id < 10) WHERE rn <= 3),
        |cand AS (SELECT DISTINCT qprobe.q_id, assign.vec_id AS c_id
        |         FROM assign JOIN qprobe ON qprobe.ccid = assign.ccid
        |         WHERE assign.vec_id <> qprobe.q_id),
        |rer AS (SELECT cand.q_id, cand.c_id,
        |          list_dot_product(q.v, c.v) /
        |          (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))) AS sim
        |        FROM cand JOIN e q ON q.vec_id = cand.q_id
        |                  JOIN e c ON c.vec_id = cand.c_id),
        |iv AS (SELECT q_id, c_id FROM (
        |         SELECT q_id, c_id,
        |           row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, c_id) AS rnk
        |         FROM rer) WHERE rnk <= 5),
        |bs AS (SELECT q.vec_id AS q_id, c.vec_id AS c_id,
        |         list_dot_product(q.v, c.v) /
        |         (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))) AS sim
        |       FROM e q, e c
        |       WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id),
        |bf AS (SELECT q_id, c_id FROM (
        |         SELECT q_id, c_id,
        |           row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, c_id) AS rnk
        |         FROM bs) WHERE rnk <= 5),
        |hits AS (SELECT bf.q_id, count(*) AS n_hit
        |         FROM bf JOIN iv ON iv.q_id = bf.q_id AND iv.c_id = bf.c_id
        |         GROUP BY 1)
        |SELECT q.q_id AS q_id, CAST(coalesce(h.n_hit, 0) AS BIGINT) AS n_hit,
        | round(CAST(coalesce(h.n_hit, 0) AS DOUBLE) / 5.0, 4) AS recall_at_5
        |FROM (SELECT DISTINCT q_id FROM bf) q
        |LEFT JOIN hits h ON h.q_id = q.q_id
        |ORDER BY q.q_id""".stripMargin,
    // SemDeDup twin: unit-normalize, assign to the first-8-unit-vector
    // codebook (argmin L2 with index tie-break — the s_ann_ivf_stored
    // spelling), keep-priority = lowest centroid cosine then id, drop any
    // member with cosine >= 0.35 to a higher-priority same-cluster member
    "s_semdedup" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |           FROM embeddings WHERE vec_id < 300),
        |u AS (SELECT vec_id,
        |        CASE WHEN sqrt(list_dot_product(v, v)) = 0 THEN v
        |             ELSE list_transform(v, x -> x / sqrt(list_dot_product(v, v))) END AS vu
        |      FROM e),
        |cu AS (SELECT vec_id AS ccid, vu AS cvu FROM u WHERE vec_id < 8),
        |cd AS (SELECT u.vec_id, cu.ccid,
        |         list_sum(list_transform(range(1, 65),
        |           i -> (u.vu[i] - cu.cvu[i]) * (u.vu[i] - cu.cvu[i]))) AS d,
        |         list_dot_product(u.vu, cu.cvu) AS cs
        |       FROM u, cu),
        |assign AS (SELECT vec_id, ccid, cs FROM (
        |             SELECT vec_id, ccid, cs,
        |               row_number() OVER (PARTITION BY vec_id ORDER BY d, ccid) AS rn
        |             FROM cd) WHERE rn = 1),
        |pr AS (SELECT vec_id, ccid, cs,
        |         row_number() OVER (PARTITION BY ccid ORDER BY cs, vec_id) AS pr
        |       FROM assign),
        |drops AS (SELECT DISTINCT b.vec_id
        |          FROM pr a JOIN pr b ON a.ccid = b.ccid AND a.pr < b.pr
        |          JOIN u ua ON ua.vec_id = a.vec_id
        |          JOIN u ub ON ub.vec_id = b.vec_id
        |          WHERE list_dot_product(ua.vu, ub.vu) >= 0.35)
        |SELECT p.vec_id, p.ccid AS centroid_id, round(p.cs, 4) AS c_sim
        |FROM pr p LEFT JOIN drops d ON d.vec_id = p.vec_id
        |WHERE d.vec_id IS NULL
        |ORDER BY p.vec_id""".stripMargin,
    // int8 scalar quantization round-trip: scale, code sum, reconstruction
    // L2 error — identical IEEE arithmetic in both engines
    "s_embed_quantized" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |s AS (SELECT vec_id, v,
        |       list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale FROM e),
        |q AS (SELECT vec_id, v, scale,
        |       list_transform(v, x -> CASE WHEN scale = 0 THEN 0
        |         ELSE CAST(round(x / scale) AS INTEGER) END) AS codes
        |      FROM s)
        |SELECT vec_id, round(scale, 6) AS scale,
        | CAST(list_sum(codes) AS BIGINT) AS q_sum,
        | round(sqrt(coalesce(list_sum(list_transform(range(1, len(v) + 1),
        |   i -> (v[i] - codes[i] * scale) * (v[i] - codes[i] * scale))), 0)), 6) AS l2_err
        |FROM q ORDER BY vec_id""".stripMargin,
    // connected components over the near-dup graph: DuckDB's recursive CTE
    // walks the transitive closure; cluster id = min reachable vec_id
    // Lloyd twin: 2 unrolled assign→update rounds + the final
    // assignment, distances via float dot products (exact below 2^53),
    // centroid means as non-negative integer division
    "s_kmeans_lloyd" -> {
      def assignCte(src: String, cents: String, out: String): String =
        s"""$out AS (SELECT vec_id, c FROM (
           | SELECT v.vec_id, $cents.c, row_number() OVER (
           |   PARTITION BY v.vec_id ORDER BY
           |    list_dot_product(CAST(v.q AS DOUBLE[]), CAST(v.q AS DOUBLE[]))
           |    - 2 * list_dot_product(CAST(v.q AS DOUBLE[]), CAST($cents.q AS DOUBLE[]))
           |    + list_dot_product(CAST($cents.q AS DOUBLE[]), CAST($cents.q AS DOUBLE[])),
           |    $cents.c) AS rn
           | FROM $src v, $cents) WHERE rn = 1)""".stripMargin
      def updateCte(asg: String, outU: String, outC: String): String =
        s"""$outU AS (SELECT $asg.c, r.range AS i,
           |  CAST(sum(v.q[r.range]) // count(*) AS BIGINT) AS x
           | FROM $asg JOIN v USING (vec_id) CROSS JOIN range(1, 65) r
           | GROUP BY $asg.c, r.range),
           |$outC AS (SELECT c, list(x ORDER BY i) AS q FROM $outU GROUP BY c)""".stripMargin
      s"""WITH v AS (SELECT vec_id, list_transform(
        |   CAST(embedding AS DOUBLE[]),
        |   x -> CAST(round(x * 1000000) AS BIGINT) + 2000000) AS q
        | FROM embeddings),
        |c0 AS (SELECT CAST(vec_id AS INT) AS c, q FROM v WHERE vec_id < 4),
        |${assignCte("v", "c0", "a1")},
        |${updateCte("a1", "u1", "c1")},
        |${assignCte("v", "c1", "a2")},
        |${updateCte("a2", "u2", "c2")},
        |${assignCte("v", "c2", "af")}
        |SELECT vec_id, c AS cluster FROM af ORDER BY vec_id""".stripMargin
    },
    // c-TF-IDF twin: identical tokenization, integer score, same
    // (score DESC, term) arbitration
    "s_label_terms" ->
      """WITH d AS (SELECT e.label AS cls, dd.text
        | FROM documents dd JOIN embeddings e ON e.vec_id = dd.doc_id),
        |tok AS (SELECT cls, unnest(list_filter(
        |   string_split_regex(lower(trim(text)), '\s+'),
        |   x -> len(x) > 0)) AS term FROM d),
        |tf AS (SELECT cls, term, count(*) AS tf_c FROM tok GROUP BY 1, 2),
        |dtok AS (SELECT cls, unnest(list_distinct(list_filter(
        |   string_split_regex(lower(trim(text)), '\s+'),
        |   x -> len(x) > 0))) AS term FROM d),
        |dfd AS (SELECT term, count(*) AS df_t FROM dtok GROUP BY 1),
        |sc AS (SELECT tf.cls, tf.term, tf.tf_c, dfd.df_t,
        |        tf.tf_c * 1000000 // dfd.df_t AS score_ppm
        |       FROM tf JOIN dfd USING (term)),
        |r AS (SELECT *, row_number() OVER (PARTITION BY cls
        |        ORDER BY score_ppm DESC, term) AS rank FROM sc)
        |SELECT cls, CAST(rank AS INT) AS rank, term,
        | CAST(tf_c AS BIGINT) AS tf_c, CAST(df_t AS BIGINT) AS df_t,
        | CAST(score_ppm AS BIGINT) AS score_ppm
        |FROM r WHERE rank <= 3 ORDER BY cls, rank""".stripMargin,
    "s_embed_clusters" ->
      """WITH RECURSIVE
        |ev AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |       FROM embeddings WHERE vec_id < 300),
        |pr AS (SELECT a.vec_id AS a, b.vec_id AS b
        |       FROM ev a JOIN ev b ON a.vec_id < b.vec_id
        |       WHERE list_dot_product(a.v, b.v) /
        |        (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= 0.35),
        |edges AS (SELECT a AS x, b AS y FROM pr UNION SELECT b, a FROM pr),
        |walk(x, y) AS (
        | SELECT x, y FROM edges
        | UNION
        | SELECT w.x, e.y FROM walk w JOIN edges e ON w.y = e.x),
        |reach AS (SELECT x, y FROM walk
        |          UNION SELECT DISTINCT x, x FROM edges)
        |SELECT x AS id, min(y) AS cluster_id FROM reach
        |GROUP BY x ORDER BY id""".stripMargin,
    // clusters + per-vector norm → windowed top-1 per cluster
    "s_embed_keepers" ->
      """WITH RECURSIVE
        |ev AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |       FROM embeddings WHERE vec_id < 300),
        |pr AS (SELECT a.vec_id AS a, b.vec_id AS b
        |       FROM ev a JOIN ev b ON a.vec_id < b.vec_id
        |       WHERE list_dot_product(a.v, b.v) /
        |        (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= 0.35),
        |edges AS (SELECT a AS x, b AS y FROM pr UNION SELECT b, a FROM pr),
        |walk(x, y) AS (
        | SELECT x, y FROM edges
        | UNION
        | SELECT w.x, e.y FROM walk w JOIN edges e ON w.y = e.x),
        |reach AS (SELECT x, y FROM walk
        |          UNION SELECT DISTINCT x, x FROM edges),
        |cl AS (SELECT x AS id, min(y) AS cluster_id FROM reach GROUP BY x),
        |n AS (SELECT vec_id AS id, round(sqrt(list_dot_product(v, v)), 4) AS norm FROM ev),
        |r AS (SELECT cl.cluster_id, cl.id, n.norm,
        |        row_number() OVER (PARTITION BY cl.cluster_id
        |          ORDER BY n.norm DESC, cl.id) AS rnk
        |      FROM cl JOIN n ON cl.id = n.id)
        |SELECT cluster_id, id AS keep_id, norm FROM r WHERE rnk = 1
        |ORDER BY cluster_id""".stripMargin,
    // oracle = the exact all-pairs answer; the bucketed plan must reproduce
    // it at this scale (recall achieved via nprobe=4 multi-probe blocking)
    "s_embed_neardup_bucketed" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |           FROM embeddings WHERE vec_id < 300)
        |SELECT a.vec_id AS a, b.vec_id AS b,
        | round(list_dot_product(a.v, b.v) /
        |  (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 4) AS sim
        |FROM e a JOIN e b ON a.vec_id < b.vec_id
        |WHERE list_dot_product(a.v, b.v) /
        |  (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= 0.35
        |ORDER BY a, b""".stripMargin,
    "m_multimodal_meta" ->
      """SELECT doc_id, strlen(text) AS byte_len,
        | 64 + n_chars % 512 AS fake_width,
        | 64 + (n_chars * 7) % 512 AS fake_height
        |FROM documents ORDER BY doc_id""".stripMargin,
    // mp4 box-walk twin: duration_ms (floor integer division), track
    // count, and the ordered fourcc list recomputed from the planting
    // formulas — the Spark side derives them by parsing the planted
    // ISO-BMFF bytes
    "m_mp4_meta" ->
      """SELECT doc_id AS media_id,
        | CAST((6000 + doc_id % 9000) * 1000 // (600 + (doc_id % 5) * 100) AS BIGINT)
        |   AS duration_ms,
        | CAST(1 + doc_id % 3 AS INT) AS track_count,
        | CASE doc_id % 3 WHEN 0 THEN 'avc1' WHEN 1 THEN 'avc1,mp4a'
        |      ELSE 'avc1,mp4a,tx3g' END AS fourccs
        |FROM documents ORDER BY media_id""".stripMargin,
    // TIFF twin: every directory field recomputed from the planting
    // formulas — the IFD chain walk must invert the encoder exactly
    "m_tiff_meta" ->
      """SELECT doc_id AS media_id,
        | CASE WHEN doc_id % 2 = 0 THEN 'II' ELSE 'MM' END AS byte_order,
        | CAST(1 + doc_id % 3 AS INT) AS n_pages,
        | CAST(16 + doc_id % 113 AS INT) AS width,
        | CAST(9 + doc_id % 97 AS INT) AS height,
        | CAST(CASE WHEN doc_id % 2 = 0 THEN 8 ELSE 16 END AS INT)
        |   AS bits_per_sample,
        | CAST(CASE WHEN doc_id % 4 = 0 THEN 5 ELSE 1 END AS INT)
        |   AS compression,
        | 'doc ' || doc_id AS description
        |FROM documents ORDER BY media_id""".stripMargin,
    // ZIP twin: member count/names/sizes recomputed from the planting
    // formulas; crc_ok = n minus the planted corruption
    "m_zip_list" ->
      """WITH e AS (
        | SELECT d.doc_id, j.range AS j,
        |  CAST(length('doc ' || d.doc_id || ' entry ' || j.range || ' ') *
        |       (1 + (d.doc_id + j.range) % 5) AS BIGINT) AS usize
        | FROM documents d JOIN range(4) j ON j.range < 1 + d.doc_id % 4),
        |a AS (SELECT doc_id, count(*) AS n,
        |  string_agg('f' || j || '.txt', ',' ORDER BY j) AS names,
        |  sum(usize) AS total FROM e GROUP BY doc_id)
        |SELECT doc_id AS media_id, CAST(n AS INT) AS n_entries, names,
        | CAST(total AS BIGINT) AS total_usize,
        | CAST(n - CASE WHEN doc_id % 7 = 0 THEN 1 ELSE 0 END AS INT)
        |   AS crc_ok
        |FROM a ORDER BY media_id""".stripMargin,
    // mp4 sample-decode twin: the PCM track is lossless, so every stat
    // is recomputed exactly from the planting formula with a per-doc
    // lateral over the sample indices; MJPEG dims are lossless too
    "m_mp4_samples" ->
      """WITH sidx AS (SELECT range AS s FROM range(300)),
        |a AS (
        | SELECT d.doc_id,
        |  CAST(max(abs((d.doc_id * 31 + i.s * 17) % 65536 - 32768)) AS BIGINT)
        |    AS peak_abs,
        |  CAST(sum(abs((d.doc_id * 31 + i.s * 17) % 65536 - 32768)) AS BIGINT)
        |    AS sum_abs
        | FROM documents d JOIN sidx i ON i.s < 200 + d.doc_id % 100
        | GROUP BY d.doc_id)
        |SELECT d.doc_id AS media_id,
        | CASE WHEN d.doc_id % 2 = 0 THEN 'twos' ELSE 'sowt' END AS audio_codec,
        | CAST(200 + d.doc_id % 100 AS BIGINT) AS n_samples,
        | a.peak_abs, a.sum_abs,
        | CAST(1 + d.doc_id % 2 AS BIGINT) AS n_frames,
        | CAST(1 + d.doc_id % 2 AS BIGINT) AS frames_ok,
        | CAST(8 * (1 + d.doc_id % 2) AS BIGINT) AS w_sum,
        | CAST(8 * (1 + d.doc_id % 2) AS BIGINT) AS h_sum
        |FROM documents d JOIN a USING (doc_id)
        |ORDER BY media_id""".stripMargin,
    // EXIF twin: byte order, make, orientation, and the zero-padded
    // capture datetime all recomputed from the planting formulas — the
    // APP1/TIFF byte walk is the thing under test
    "m_jpeg_exif" ->
      """SELECT doc_id AS media_id,
        | CASE WHEN doc_id % 2 = 0 THEN 'II' ELSE 'MM' END AS byte_order,
        | 'CAM' || CAST(doc_id % 7 AS VARCHAR) AS make,
        | CAST(1 + doc_id % 8 AS INT) AS orientation,
        | '2024:01:' || lpad(CAST(1 + doc_id % 28 AS VARCHAR), 2, '0') ||
        | ' ' || lpad(CAST(doc_id % 24 AS VARCHAR), 2, '0') ||
        | ':' || lpad(CAST((doc_id * 7) % 60 AS VARCHAR), 2, '0') ||
        | ':' || lpad(CAST((doc_id * 13) % 60 AS VARCHAR), 2, '0') AS taken_at
        |FROM documents ORDER BY media_id""".stripMargin,
    // mp3 frame-header-walk twin: bitrate from the published MPEG-1
    // Layer III table at index 1 + id%14, rate from index id%3, mono
    // only for channel mode 3, frame count 2 + id%4, and duration as
    // floor(frames * 1152 * 1000 / rate) — all recomputed from the
    // planting formulas; the Spark side walks the planted bytes
    "m_mp3_meta" ->
      """SELECT doc_id AS media_id,
        | CAST(list_extract([32,40,48,56,64,80,96,112,128,160,192,224,256,320],
        |                   CAST(1 + doc_id % 14 AS INT)) AS INT) AS bitrate_kbps,
        | CAST(list_extract([44100,48000,32000],
        |                   CAST(1 + doc_id % 3 AS INT)) AS INT) AS sample_rate,
        | CAST(CASE WHEN doc_id % 4 = 3 THEN 1 ELSE 2 END AS INT) AS channels,
        | CAST(2 + doc_id % 4 AS INT) AS frames,
        | CAST((2 + doc_id % 4) * 1152 * 1000
        |      // list_extract([44100,48000,32000], CAST(1 + doc_id % 3 AS INT))
        |      AS BIGINT) AS duration_ms
        |FROM documents ORDER BY media_id""".stripMargin,
    // mixed-modality features twin: dispatch order (png before gif before
    // jpeg) and the 8-bin integer luminance histogram recomputed from the
    // planting formulas — PNG pixel c of the 8x8 RGB gradient is
    // (id*131 + c*7) % 256; GIF pixel k maps palette index ((id+k)*13)%16
    // into palette channel (id*37 + ch*17) % 256; BT.601 integer weights
    // and floor division exactly as the decoders compute them. JPEG (lossy)
    // and stub rows carry the -1 sentinel.
    "m_multimodal_features" ->
      """WITH img AS (
        | SELECT doc_id,
        |  CASE WHEN doc_id % 97 = 0 THEN 'png'
        |       WHEN doc_id % 89 = 0 THEN 'gif'
        |       WHEN doc_id % 83 = 0 THEN 'jpeg' ELSE 'bin' END AS format
        | FROM documents),
        |lum AS (
        | SELECT i.doc_id, t.k,
        |  CASE WHEN i.format = 'png' THEN
        |   (((i.doc_id*131 + (3*t.k)*7) % 256) * 299 +
        |    ((i.doc_id*131 + (3*t.k+1)*7) % 256) * 587 +
        |    ((i.doc_id*131 + (3*t.k+2)*7) % 256) * 114) // 1000
        |  ELSE
        |   (((i.doc_id*37 + (3*(((i.doc_id+t.k)*13)%16))*17) % 256) * 299 +
        |    ((i.doc_id*37 + (3*(((i.doc_id+t.k)*13)%16)+1)*17) % 256) * 587 +
        |    ((i.doc_id*37 + (3*(((i.doc_id+t.k)*13)%16)+2)*17) % 256) * 114) // 1000
        |  END AS lum
        | FROM img i, (SELECT unnest(range(0, 64)) AS k) t
        | WHERE i.format IN ('png', 'gif')),
        |hist AS (
        | SELECT doc_id,
        |  sum(CASE WHEN least(7, lum*8//256) = 0 THEN 1 ELSE 0 END) AS h0,
        |  sum(CASE WHEN least(7, lum*8//256) = 1 THEN 1 ELSE 0 END) AS h1,
        |  sum(CASE WHEN least(7, lum*8//256) = 2 THEN 1 ELSE 0 END) AS h2,
        |  sum(CASE WHEN least(7, lum*8//256) = 3 THEN 1 ELSE 0 END) AS h3,
        |  sum(CASE WHEN least(7, lum*8//256) = 4 THEN 1 ELSE 0 END) AS h4,
        |  sum(CASE WHEN least(7, lum*8//256) = 5 THEN 1 ELSE 0 END) AS h5,
        |  sum(CASE WHEN least(7, lum*8//256) = 6 THEN 1 ELSE 0 END) AS h6,
        |  sum(CASE WHEN least(7, lum*8//256) = 7 THEN 1 ELSE 0 END) AS h7
        | FROM lum GROUP BY doc_id)
        |SELECT i.doc_id AS media_id, i.format,
        | CAST(CASE i.format WHEN 'png' THEN 8 WHEN 'gif' THEN 8
        |      WHEN 'jpeg' THEN 16 ELSE -1 END AS INT) AS width,
        | CAST(CASE WHEN i.format = 'bin' THEN -1 ELSE 8 END AS INT) AS height,
        | CAST(CASE WHEN i.format = 'bin' THEN -1 ELSE 3 END AS INT) AS channels,
        | CAST(coalesce(h.h0, -1) AS BIGINT) AS h0,
        | CAST(coalesce(h.h1, -1) AS BIGINT) AS h1,
        | CAST(coalesce(h.h2, -1) AS BIGINT) AS h2,
        | CAST(coalesce(h.h3, -1) AS BIGINT) AS h3,
        | CAST(coalesce(h.h4, -1) AS BIGINT) AS h4,
        | CAST(coalesce(h.h5, -1) AS BIGINT) AS h5,
        | CAST(coalesce(h.h6, -1) AS BIGINT) AS h6,
        | CAST(coalesce(h.h7, -1) AS BIGINT) AS h7
        |FROM img i LEFT JOIN hist h ON h.doc_id = i.doc_id
        |ORDER BY media_id""".stripMargin,
    // gzip round-trip identity: the decoded text must equal the original
    // byte for byte (the codec is the thing under test; DuckDB supplies
    // the uncompressed truth)
    "m_gzip_roundtrip" ->
      """SELECT doc_id AS media_id, len(text) AS n_chars, text
        |FROM documents ORDER BY media_id""".stripMargin,
    // BMP twin: dims, file size (incl. row padding), and the plain +
    // position-weighted pixel sums replayed from the planting formula —
    // the weighted sum proves byte-exact round trip through bottom-up
    // BGR padded storage
    "m_bmp_decode" ->
      """WITH p AS (
        | SELECT doc_id,
        |  CAST(5 + doc_id % 4 AS BIGINT) AS width,
        |  CAST(3 + doc_id % 3 AS BIGINT) AS height
        | FROM documents)
        |SELECT doc_id,
        | CAST(54 + (width * 3 + (4 - (width * 3) % 4) % 4) * height AS BIGINT)
        |   AS byte_len,
        | width, height,
        | CAST(list_sum(list_transform(range(0, width * height * 3),
        |   i -> (doc_id * 59 + i * 13) % 256)) AS BIGINT) AS sum_rgb,
        | CAST(list_sum(list_transform(range(0, width * height * 3),
        |   i -> ((doc_id * 59 + i * 13) % 256) * (i + 1))) AS BIGINT) AS wsum
        |FROM p ORDER BY doc_id""".stripMargin,
    // perceptual-hash twin: recompute the 64-bit dHash from the planting
    // formula (md5-byte channel values, see imageDhashCtes) — 9x8 NN
    // luminance grid (sx = 8c//9, sy = r), BT.601 integer weights, bit
    // r*8+c set iff lum(r,c+1) > lum(r,c); bit 63 contributes -2^63 so
    // the signed BIGINTs agree.
    "m_image_dhash" ->
      s"""WITH $imageDhashCtes
        |SELECT doc_id AS media_id, dhash FROM h ORDER BY media_id""".stripMargin,
    // image quality twin: min/max/sum/sum-of-squares and row-wise edge
    // energy over the SAME 72-cell luminance grid the dHash CTEs build
    "m_image_quality" ->
      s"""WITH $imageDhashCtes,
        |q AS (
        | SELECT doc_id, CAST(min(lum) AS INT) AS lum_min,
        |  CAST(max(lum) AS INT) AS lum_max,
        |  CAST(sum(lum) AS BIGINT) AS lum_sum,
        |  CAST(sum(lum * lum) AS BIGINT) AS lum_sq_sum
        | FROM lum GROUP BY doc_id),
        |ee AS (
        | SELECT a.doc_id, CAST(sum(abs(b.lum - a.lum)) AS BIGINT) AS edge_energy
        | FROM lum a JOIN lum b ON b.doc_id = a.doc_id AND b.j = a.j + 1
        | WHERE a.j % 9 < 8 GROUP BY a.doc_id)
        |SELECT q.doc_id AS media_id, 8 AS width, 8 AS height,
        | q.lum_min, q.lum_max, q.lum_sum, q.lum_sq_sum, ee.edge_energy
        |FROM q JOIN ee ON ee.doc_id = q.doc_id
        |ORDER BY media_id""".stripMargin,
    // image near-dup twin: same dHash CTEs, then the simhash-portable
    // banding spelling — four 16-bit bands (arithmetic shift + mask equals
    // logical band extraction), exact-band self-join, hamming verify <= 3
    "m_image_neardup" ->
      s"""WITH $imageDhashCtes,
        |bands AS (
        | SELECT doc_id, dhash, bb.band, (dhash >> (bb.band * 16)) & 65535 AS band_val
        | FROM h CROSS JOIN (VALUES (0),(1),(2),(3)) AS bb(band)),
        |cand AS (
        | SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
        | FROM bands x JOIN bands y
        |  ON x.band = y.band AND x.band_val = y.band_val AND x.doc_id < y.doc_id)
        |SELECT c.a, c.b, CAST(bit_count(xor(ha.dhash, hb.dhash)) AS INT) AS hamming
        |FROM cand c JOIN h ha ON ha.doc_id = c.a JOIN h hb ON hb.doc_id = c.b
        |WHERE bit_count(xor(ha.dhash, hb.dhash)) <= 3
        |ORDER BY a, b""".stripMargin,
    // composed image-dedup twin (the d_dedup_fuzzy_portable spelling at
    // the image level): dHash CTEs -> banded candidates -> hamming-verified
    // pairs -> recursive-CTE connected components -> keep the highest
    // edge-energy member per cluster (sharpest copy, id tie-break)
    "m_image_dedup" ->
      s"""WITH RECURSIVE
        |$imageDhashCtes,
        |bands AS (
        | SELECT doc_id, dhash, bb.band, (dhash >> (bb.band * 16)) & 65535 AS band_val
        | FROM h CROSS JOIN (VALUES (0),(1),(2),(3)) AS bb(band)),
        |cand AS (
        | SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
        | FROM bands x JOIN bands y
        |  ON x.band = y.band AND x.band_val = y.band_val AND x.doc_id < y.doc_id),
        |pr AS (
        | SELECT c.a, c.b
        | FROM cand c JOIN h ha ON ha.doc_id = c.a JOIN h hb ON hb.doc_id = c.b
        | WHERE bit_count(xor(ha.dhash, hb.dhash)) <= 3),
        |edges AS (SELECT a AS x, b AS y FROM pr UNION SELECT b, a FROM pr),
        |walk(x, y) AS (
        | SELECT x, y FROM edges
        | UNION
        | SELECT w.x, e.y FROM walk w JOIN edges e ON w.y = e.x),
        |reach AS (SELECT x, y FROM walk
        |          UNION SELECT DISTINCT x, x FROM edges),
        |cl AS (SELECT x AS id, min(y) AS cluster_id FROM reach GROUP BY x),
        |sc AS (
        | SELECT a.doc_id AS id, CAST(sum(abs(b.lum - a.lum)) AS BIGINT) AS edge_energy
        | FROM lum a JOIN lum b ON b.doc_id = a.doc_id AND b.j = a.j + 1
        | WHERE a.j % 9 < 8 GROUP BY a.doc_id),
        |r AS (SELECT cl.cluster_id, cl.id, sc.edge_energy,
        |        row_number() OVER (PARTITION BY cl.cluster_id
        |          ORDER BY sc.edge_energy DESC, cl.id) AS rnk
        |      FROM cl JOIN sc ON cl.id = sc.id)
        |SELECT cluster_id, id AS keep_id, edge_energy FROM r WHERE rnk = 1
        |ORDER BY cluster_id""".stripMargin,
    // sliding chunker: identical start sequence (k·stride+1 while the
    // window still adds coverage), inclusive DuckDB list slice bounded by
    // the doc end — chunk text reproduced verbatim
    // NFC twin: utf8proc and java.text.Normalizer both implement Unicode
    // canonical composition; the planted decomposed sequences compose
    // identically, the ASCII corpus is NFC-invariant
    "d_unicode_normalize" ->
      """WITH d AS (SELECT doc_id, CASE WHEN doc_id % 3 = 0
        |  THEN text || ' cafe' || chr(769) || ' nai' || chr(776) ||
        |       've Ange' || chr(769) || 'lique'
        |  ELSE text END AS dirty FROM documents)
        |SELECT doc_id, nfc_normalize(dirty) AS nfc_text,
        |  nfc_normalize(dirty) <> dirty AS changed
        |FROM d ORDER BY doc_id""".stripMargin,
    "d_chunk_sliding" ->
      """WITH tk AS (
        | SELECT doc_id,
        |  list_filter(regexp_split_to_array(trim(text), '\s+'), x -> len(x) > 0) AS t
        | FROM documents),
        |nz AS (SELECT doc_id, t, len(t) AS n FROM tk WHERE len(t) > 0),
        |ch AS (
        | SELECT doc_id, CAST(k AS INT) AS chunk_id,
        |        CAST(k*8 + 1 AS INT) AS tok_start,
        |        t[k*8 + 1 : least(k*8 + 16, n)] AS ctoks
        | FROM nz, unnest(range(0, (greatest(n - 16, 0) + 7) // 8 + 1)) r(k))
        |SELECT doc_id, chunk_id, tok_start,
        |       CAST(len(ctoks) AS INT) AS n_tokens,
        |       array_to_string(ctoks, ' ') AS chunk_text
        |FROM ch ORDER BY doc_id, chunk_id""".stripMargin,
    // adaptive per-source gate: the rank rule is integer-exact (no
    // percentile interpolation) so the survivor set is engine-portable
    "d_adaptive_quality" ->
      """WITH q AS (
        | SELECT doc_id, source,
        |  COALESCE(CAST(len(list_filter(regexp_split_to_array(trim(text), '\s+'),
        |    x -> len(x) > 0)) AS BIGINT), 0) AS n_tokens
        | FROM documents),
        |r AS (SELECT doc_id, source, n_tokens,
        |  CAST(row_number() OVER (PARTITION BY source
        |    ORDER BY n_tokens, doc_id) AS BIGINT) AS rnk,
        |  CAST(count(*) OVER (PARTITION BY source) AS BIGINT) AS m
        | FROM q)
        |SELECT doc_id, source, n_tokens, rnk, m FROM r
        |WHERE rnk > floor(0.25 * m) ORDER BY doc_id""".stripMargin,
    // Gopher rule-bundle twin: the same tokenization/sum_len/stopword
    // spellings as d_quality, plus the duplicate-preserving bigram window
    // stream (shingle-kernel edge cases mirrored: 1 token -> one unigram
    // window, 0 tokens -> none) collapsed to the per-doc top count; all
    // thresholds in exact integer fixed point
    "d_gopher_rules" ->
      """WITH toks AS (
        | SELECT doc_id, text,
        |  list_filter(regexp_split_to_array(trim(text), '\s+'), x -> len(x) > 0) AS tk
        | FROM documents),
        |base AS (
        | SELECT doc_id,
        |  CAST(len(tk) AS BIGINT) AS n_tokens,
        |  CAST(len(replace(regexp_replace(trim(text), '\s+', ' ', 'g'), ' ', '')) AS BIGINT) AS sum_len,
        |  CAST(len(list_filter(tk, x -> lower(x) IN
        |    ('the','a','an','of','to','and','in','is','it','on','for'))) AS BIGINT) AS stop_hits
        | FROM toks),
        |bg AS (
        | SELECT doc_id, unnest(CASE
        |    WHEN len(tk) >= 2 THEN list_transform(range(1, len(tk)),
        |      i -> tk[i] || ' ' || tk[i+1])
        |    WHEN len(tk) = 1 THEN [tk[1]]
        |    ELSE [] END) AS g
        | FROM toks),
        |bgc AS (SELECT doc_id, g, count(*) AS c FROM bg GROUP BY doc_id, g),
        |top AS (SELECT doc_id, max(c) AS top_bigram_n FROM bgc GROUP BY doc_id)
        |SELECT b.doc_id, b.n_tokens,
        | CAST(CASE WHEN b.n_tokens = 0 THEN 0
        |           ELSE b.sum_len * 100 // b.n_tokens END AS BIGINT) AS mwl_x100,
        | b.stop_hits,
        | CAST(coalesce(t.top_bigram_n, 0) AS BIGINT) AS top_bigram_n,
        | (b.n_tokens BETWEEN 30 AND 100000
        |  AND (CASE WHEN b.n_tokens = 0 THEN 0
        |            ELSE b.sum_len * 100 // b.n_tokens END) BETWEEN 300 AND 1000
        |  AND b.stop_hits >= 2
        |  AND coalesce(t.top_bigram_n, 0) * 1000 <=
        |      180 * greatest(b.n_tokens - 1, 1)) AS keep
        |FROM base b LEFT JOIN top t ON t.doc_id = b.doc_id
        |ORDER BY b.doc_id""".stripMargin,
    // line-structured Gopher twin: rebuild the planted line fixture from
    // the same integer rules (L words per line, boilerplate-repeat %6
    // first, bullet %5, ellipsis %7), then recount bullet/ellipsis/
    // duplicate lines and the fixed-point keep verdict
    "d_gopher_lines" ->
      """WITH toks AS (
        | SELECT doc_id,
        |  list_filter(regexp_split_to_array(trim(text), '\s+'), x -> len(x) > 0) AS tk
        | FROM documents),
        |base AS (SELECT doc_id, tk, 3 + doc_id % 4 AS L FROM toks WHERE len(tk) > 0),
        |lines AS (
        | SELECT doc_id, t.i,
        |  CASE WHEN (doc_id + t.i) % 6 = 0 THEN 'repeated boilerplate line'
        |       WHEN (doc_id + t.i) % 5 = 0
        |         THEN '- ' || array_to_string(tk[(t.i-1)*L+1 : (t.i-1)*L+L], ' ')
        |       WHEN (doc_id + t.i) % 7 = 0
        |         THEN array_to_string(tk[(t.i-1)*L+1 : (t.i-1)*L+L], ' ') || ' ...'
        |       ELSE array_to_string(tk[(t.i-1)*L+1 : (t.i-1)*L+L], ' ') END AS line
        | FROM base, unnest(range(1, (len(tk) + L - 1) // L + 1)) AS t(i)),
        |agg AS (
        | SELECT doc_id, count(*) AS n_lines,
        |  sum(CASE WHEN line LIKE '- %' OR line LIKE '* %' THEN 1 ELSE 0 END) AS n_bullet,
        |  sum(CASE WHEN line LIKE '%...' THEN 1 ELSE 0 END) AS n_ellipsis,
        |  count(*) - count(DISTINCT line) AS n_dup
        | FROM lines GROUP BY doc_id)
        |SELECT doc_id, CAST(n_lines AS BIGINT) AS n_lines,
        | CAST(n_bullet AS BIGINT) AS n_bullet,
        | CAST(n_ellipsis AS BIGINT) AS n_ellipsis,
        | CAST(n_dup AS BIGINT) AS n_dup,
        | (n_bullet * 100 <= 90 * n_lines AND n_ellipsis * 100 <= 30 * n_lines
        |  AND n_dup * 100 <= 30 * n_lines) AS keep
        |FROM agg ORDER BY doc_id""".stripMargin,
    // incremental image ingest twin: an arrival (>= 250) survives iff no
    // stored hash (< 250) equals its dHash (hamming 0 = exact perceptual
    // duplicate) — NOT EXISTS over the recomputed hash table
    "m_image_ingest" ->
      s"""WITH $imageDhashCtes
        |SELECT b.doc_id AS media_id
        |FROM h b
        |WHERE b.doc_id >= 250 AND NOT EXISTS (
        |  SELECT 1 FROM h i WHERE i.doc_id < 250 AND i.dhash = b.dhash)
        |ORDER BY media_id""".stripMargin,
    // the stored-index twin: identical survivor set, one hash index in
    // two physical forms (row-identity additionally pinned in
    // ExtensionsSpec)
    "m_image_ingest_stored" ->
      s"""WITH $imageDhashCtes
        |SELECT b.doc_id AS media_id
        |FROM h b
        |WHERE b.doc_id >= 250 AND NOT EXISTS (
        |  SELECT 1 FROM h i WHERE i.doc_id < 250 AND i.dhash = b.dhash)
        |ORDER BY media_id""".stripMargin,
    // audio fingerprint twin: recompute every window-energy sum and
    // comparison bit from the planted md5 samples (see audioHashCtes)
    "m_audio_fingerprint" ->
      s"""WITH $audioHashCtes
        |SELECT doc_id AS media_id, ahash FROM ah ORDER BY media_id""".stripMargin,
    // audio near-dup twin: the image/simhash banding spelling over the
    // energy fingerprint
    "m_audio_neardup" ->
      s"""WITH $audioHashCtes,
        |bands AS (
        | SELECT doc_id, ahash, bb.band, (ahash >> (bb.band * 16)) & 65535 AS band_val
        | FROM ah CROSS JOIN (VALUES (0),(1),(2),(3)) AS bb(band)),
        |cand AS (
        | SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
        | FROM bands x JOIN bands y
        |  ON x.band = y.band AND x.band_val = y.band_val AND x.doc_id < y.doc_id)
        |SELECT c.a, c.b, CAST(bit_count(xor(ha.ahash, hb.ahash)) AS INT) AS hamming
        |FROM cand c JOIN ah ha ON ha.doc_id = c.a JOIN ah hb ON hb.doc_id = c.b
        |WHERE bit_count(xor(ha.ahash, hb.ahash)) <= 3
        |ORDER BY a, b""".stripMargin,
    // tEXt provenance twin: the planted keyword/value formulas recomputed
    // from doc_id (file order of the three chunks is Source, License,
    // Software as planted; output is keyword-sorted so both engines agree)
    "m_png_text" ->
      """WITH k AS (
        | SELECT doc_id, unnest(['License', 'Software', 'Source']) AS keyword
        | FROM documents)
        |SELECT doc_id AS media_id, keyword,
        | CASE keyword
        |   WHEN 'Source' THEN 'crawl-' || CAST(doc_id % 7 AS VARCHAR)
        |   WHEN 'License' THEN CASE doc_id % 3 WHEN 0 THEN 'cc0'
        |     WHEN 1 THEN 'cc-by' ELSE 'unknown' END
        |   ELSE 'graft' END AS value
        |FROM k ORDER BY media_id, keyword""".stripMargin,
    // audio quality twin: exact integer silence/clipping/energy stats
    // recomputed per planted sample (thresholds: silence < 1024,
    // clip >= 32000 — the audioQualityStats defaults)
    "m_audio_quality" ->
      s"""WITH $audioHashCtes,
        |q AS (
        | SELECT doc_id,
        |  CAST(count(*) AS INT) AS n_samples,
        |  CAST(sum(av) AS BIGINT) AS sum_abs,
        |  CAST(sum(av * av) AS BIGINT) AS sum_sq,
        |  CAST(max(av) AS INT) AS peak,
        |  CAST(sum(CASE WHEN av < 1024 THEN 1 ELSE 0 END) AS BIGINT) AS n_silence,
        |  CAST(sum(CASE WHEN av >= 32000 THEN 1 ELSE 0 END) AS BIGINT) AS n_clip
        | FROM sm GROUP BY doc_id)
        |SELECT doc_id AS media_id, n_samples, sum_abs, sum_sq, peak,
        |  n_silence, n_clip
        |FROM q ORDER BY media_id""".stripMargin,
    // resize twin: the planted PNG dimensions and Multimodal.fitWithin's
    // integer aspect-fit formula (never upscale; floor division on the
    // non-limiting axis, min 1; width-limited when w*maxH >= h*maxW)
    "m_media_resize" ->
      """WITH g AS (SELECT doc_id,
        |   CAST(4 + doc_id % 13 AS INT) AS src_w,
        |   CAST(4 + (doc_id // 7) % 11 AS INT) AS src_h FROM documents)
        |SELECT doc_id AS media_id, src_w, src_h,
        |  CAST(CASE WHEN src_w <= 8 AND src_h <= 8 THEN src_w
        |            WHEN src_w >= src_h THEN 8
        |            ELSE greatest(1, (src_w * 8) // src_h) END AS INT) AS out_w,
        |  CAST(CASE WHEN src_w <= 8 AND src_h <= 8 THEN src_h
        |            WHEN src_w >= src_h THEN greatest(1, (src_h * 8) // src_w)
        |            ELSE 8 END AS INT) AS out_h
        |FROM g ORDER BY media_id""".stripMargin,
    // frame-sample twin: planted WAV geometry (40 + id%37 mono frames,
    // 8 kHz) decimated at k=3 — kept frames ceil(n/3), rate 8000//3, and
    // the exact integer sum of the kept samples recomputed from the
    // planting formula over range(0, frames, 3)
    "m_frame_sample" ->
      """SELECT d.doc_id AS media_id,
        |  CAST(40 + d.doc_id % 37 AS INT) AS src_frames,
        |  CAST((40 + d.doc_id % 37 + 2) // 3 AS INT) AS frames,
        |  2666 AS rate,
        |  CAST((SELECT sum((d.doc_id * 7 + t.i * 13) % 65536 - 32768)
        |        FROM (SELECT unnest(range(0, 40 + d.doc_id % 37, 3)) AS i) t)
        |    AS BIGINT) AS pcm_sum
        |FROM documents d ORDER BY media_id""".stripMargin,
    "q_semi_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey
        |    AND o_orderdate >= TIMESTAMP '1997-01-01'
        |    AND o_orderdate < TIMESTAMP '1998-01-01')
        |ORDER BY c_custkey""".stripMargin,
    "q_anti_join" ->
      """SELECT c_custkey, c_name, c_acctbal FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey
        |    AND o_orderdate >= TIMESTAMP '1997-01-01'
        |    AND o_orderdate < TIMESTAMP '1998-01-01')
        |ORDER BY c_custkey""".stripMargin,
    "q_corr_stats" ->
      """SELECT l_returnflag, count(*) AS n,
        | round(corr(l_quantity, l_extendedprice), 4) AS qty_price_corr,
        | round(stddev_samp(l_quantity), 4) AS qty_stddev,
        | round(covar_samp(l_quantity, l_extendedprice), 4) AS qty_price_covar
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    // quantile_cont = linear interpolation, same definition as Spark's
    // exact percentile aggregate
    "q_value_quantiles" ->
      """SELECT event_type, count(*) AS n,
        | round(quantile_cont(value, 0.25), 4) AS p25,
        | round(quantile_cont(value, 0.5), 4) AS p50,
        | round(quantile_cont(value, 0.75), 4) AS p75,
        | round(quantile_cont(value, 0.95), 4) AS p95
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // grouped 2-pass exact-quantile twin: per-language row_number() = k
    "d_length_quantiles_exact" ->
      """WITH v AS (SELECT lang, CAST(n_chars AS DOUBLE) AS v FROM documents
        |           WHERE n_chars IS NOT NULL AND lang IS NOT NULL),
        |n AS (SELECT lang, count(*) AS n FROM v GROUP BY lang),
        |r AS (SELECT lang, v,
        |        row_number() OVER (PARTITION BY lang ORDER BY v) AS rk FROM v),
        |t AS (SELECT n.lang, pp.p,
        |        CAST(greatest(1, ceil(pp.p * n.n)) AS BIGINT) AS k
        |      FROM n, (SELECT unnest([0.5, 0.9]) AS p) pp)
        |SELECT t.lang, t.p, t.k, r.v AS value
        |FROM t JOIN r ON r.lang = t.lang AND r.rk = t.k
        |ORDER BY t.lang, t.p""".stripMargin,
    // 2-pass exact-quantile twin: the brute-force row_number() = k
    // spelling of the rank definition the histogram refinement computes
    "q_exact_quantiles_2pass" ->
      """WITH v AS (SELECT value FROM events WHERE value IS NOT NULL),
        |n AS (SELECT count(*) AS n FROM v),
        |r AS (SELECT value, row_number() OVER (ORDER BY value) AS rk FROM v),
        |t AS (SELECT pp.p, CAST(greatest(1, ceil(pp.p * n.n)) AS BIGINT) AS k
        |      FROM (SELECT unnest([0.25, 0.5, 0.75, 0.95]) AS p) pp, n)
        |SELECT t.p, t.k, r.value FROM t JOIN r ON r.rk = t.k
        |ORDER BY t.p""".stripMargin,
    // long-form melt of the per-flag aggregate triple (the UNION ALL is
    // the relational spelling of UNPIVOT)
    "q_unpivot" ->
      """WITH w AS (
        | SELECT l_returnflag,
        |  round(sum(l_quantity), 2) AS sum_qty,
        |  round(sum(l_extendedprice), 2) AS sum_price,
        |  round(sum(l_discount), 2) AS sum_disc
        | FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag, measure, val FROM (
        | SELECT l_returnflag, 'sum_qty' AS measure, sum_qty AS val FROM w
        | UNION ALL
        | SELECT l_returnflag, 'sum_price', sum_price FROM w
        | UNION ALL
        | SELECT l_returnflag, 'sum_disc', sum_disc FROM w)
        |ORDER BY l_returnflag, measure""".stripMargin,
    // C4-style line dedup over planted 3-line docs; a line in >= 20
    // distinct docs is boilerplate and dropped
    "d_line_dedup" ->
      """WITH d AS (
        | SELECT doc_id, text || chr(10) || 'subscribe to our newsletter today'
        |   || chr(10) || 'copyright ' || source AS t
        | FROM documents),
        |l AS (SELECT doc_id, unnest(string_split(t, chr(10))) AS line FROM d),
        |c AS (SELECT line, 1 AS hit
        |      FROM (SELECT DISTINCT doc_id, line FROM l)
        |      GROUP BY line HAVING count(*) >= 20)
        |SELECT l.doc_id AS doc_id, count(*) AS n_lines,
        | count(*) - count(c.hit) AS n_kept,
        | CAST(coalesce(sum(CASE WHEN c.hit IS NULL THEN len(l.line) ELSE 0 END), 0) AS BIGINT) AS kept_chars
        |FROM l LEFT JOIN c USING (line)
        |GROUP BY l.doc_id ORDER BY doc_id""".stripMargin,
    // the rewrite twin: clean_text rebuilt per doc by filtering its line
    // list against the common set (order preserved by list_filter);
    // docs left empty disappear in both engines
    "d_line_dedup_clean" ->
      """WITH d AS (
        | SELECT doc_id, text || chr(10) || 'subscribe to our newsletter today'
        |   || chr(10) || 'copyright ' || source AS t
        | FROM documents),
        |l AS (SELECT doc_id, unnest(string_split(t, chr(10))) AS line FROM d),
        |c AS (SELECT line
        |      FROM (SELECT DISTINCT doc_id, line FROM l)
        |      GROUP BY line HAVING count(*) >= 20),
        |cl AS (SELECT coalesce(list(line), []) AS v FROM c),
        |o AS (SELECT doc_id,
        |       array_to_string(list_filter(string_split(t, chr(10)),
        |         x -> NOT list_contains(v, x)), chr(10))
        |         AS clean_text
        |      FROM d, cl)
        |SELECT doc_id, clean_text FROM o
        |WHERE len(clean_text) > 0 ORDER BY doc_id""".stripMargin,
    // within-language length deciles (ntile bucket-size semantics are the
    // SQL standard's in both engines: earlier buckets take the remainder)
    "d_length_deciles" ->
      """WITH t AS (
        | SELECT lang, n_chars,
        |  ntile(10) OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS decile
        | FROM documents)
        |SELECT lang, decile, count(*) AS n_docs,
        | min(n_chars) AS min_chars, max(n_chars) AS max_chars
        |FROM t GROUP BY lang, decile ORDER BY lang, decile""".stripMargin,
    // integer systematic PPS sampling: all arithmetic is exact bigint
    // (div = integer division in both engines)
    "d_weighted_sample" ->
      """WITH b AS (
        | SELECT source, doc_id,
        |  CAST(len(list_filter(regexp_split_to_array(trim(text), '\s+'), x -> len(x) > 0)) AS BIGINT) AS wt
        | FROM documents),
        |t AS (SELECT source, CAST(sum(wt) AS BIGINT) AS tot_wt FROM b GROUP BY source),
        |c AS (
        | SELECT b.source, b.doc_id, b.wt,
        |  CAST(sum(wt) OVER (PARTITION BY b.source ORDER BY doc_id) AS BIGINT) AS cum,
        |  greatest(tot_wt // 5, 1) AS step
        | FROM b JOIN t USING (source))
        |SELECT source, doc_id, wt AS tokens FROM c
        |WHERE cum // step > (cum - wt) // step
        |ORDER BY source, doc_id""".stripMargin,
    // data-card twin: one rollup over the same fingerprint/token
    // spellings as d_fingerprint/d_token_counts
    "d_data_card" ->
      """WITH f AS (
        | SELECT lang, source,
        |  CAST(len(list_filter(regexp_split_to_array(trim(text), '\s+'),
        |       x -> len(x) > 0)) AS BIGINT) AS ntok,
        |  md5(lower(regexp_replace(trim(nfc_normalize(text)), '\s+', ' ', 'g'))) AS fp
        | FROM documents)
        |SELECT coalesce(lang, 'ALL') AS lang,
        | coalesce(source, 'ALL') AS source,
        | count(*) AS n_docs,
        | CAST(sum(ntok) AS BIGINT) AS n_tokens,
        | CAST(count(DISTINCT fp) AS BIGINT) AS n_unique,
        | CAST(count(*) - count(DISTINCT fp) AS BIGINT) AS n_dups
        |FROM f GROUP BY ROLLUP (lang, source)
        |ORDER BY lang, source""".stripMargin,
    "q_grouping_sets" ->
      """SELECT coalesce(lang, 'ALL') AS lang,
        | coalesce(source, 'ALL') AS source,
        | count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents
        |GROUP BY GROUPING SETS ((lang), (source))
        |ORDER BY lang, source""".stripMargin,
    // blocklist twin: same planted URLs, NOT EXISTS against the VALUES
    // blocklist; survivors carry len(extracted hosts)
    "d_url_blocklist" ->
      """WITH d AS (
        | SELECT doc_id,
        |  text || ' see https://' || source || '.example.com/p/' || doc_id ||
        |  ' or http://m-' || lang || '.example.org/idx' AS dirty
        | FROM documents),
        |u AS (SELECT doc_id,
        |        unnest(regexp_extract_all(dirty, 'https?://([^/\s]+)', 1)) AS domain
        |      FROM d),
        |blocked AS (SELECT * FROM (VALUES ('src0.example.com'),
        |  ('src1.example.com'), ('src2.example.com'), ('src3.example.com'),
        |  ('src4.example.com'), ('m-zh.example.org')) AS t(domain))
        |SELECT d.doc_id,
        | CAST(len(regexp_extract_all(d.dirty, 'https?://([^/\s]+)', 1)) AS INT)
        |   AS n_urls
        |FROM d
        |WHERE NOT EXISTS (SELECT 1 FROM u JOIN blocked USING (domain)
        |                  WHERE u.doc_id = d.doc_id)
        |ORDER BY doc_id""".stripMargin,
    "d_url_domains" ->
      """WITH d AS (
        | SELECT doc_id,
        |  text || ' see https://' || source || '.example.com/p/' || doc_id ||
        |  ' or http://m-' || lang || '.example.org/idx' AS dirty
        | FROM documents),
        |u AS (SELECT doc_id,
        |        unnest(regexp_extract_all(dirty, 'https?://[^/\s]+[^\s]*')) AS url
        |      FROM d)
        |SELECT regexp_extract(url, 'https?://([^/\s]+)', 1) AS domain,
        | count(*) AS n_urls, count(DISTINCT doc_id) AS n_docs
        |FROM u GROUP BY domain ORDER BY domain""".stripMargin,
    // engine-portable minhash: md5 hex strings agree bit-for-bit across
    // engines and MIN over them is binary-collation lexicographic in both
    "d_minhash_portable" ->
      s"""WITH tk AS (
        | SELECT doc_id,
        |  list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
        |              x -> len(x) > 0) AS t
        | FROM documents),
        |s AS (
        | SELECT doc_id, unnest(list_distinct(CASE WHEN len(t) >= 3
        |   THEN list_transform(range(1, len(t) - 1),
        |        i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
        |   ELSE [] END)) AS sh
        | FROM tk)
        |SELECT doc_id,
        | $portableSigSelect
        |FROM s GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // the full portable LSH candidate generation: same signatures, 4
    // bands of 2, pairs sharing any band. DuckDB spells the in-bucket
    // expansion as a self-join; Spark groups by bucket and expands inside
    // the group (no self-join) — same pair set either way
    "d_lsh_portable_pairs" ->
      s"""WITH tk AS (
        | SELECT doc_id,
        |  list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
        |              x -> len(x) > 0) AS t
        | FROM documents),
        |s AS (
        | SELECT doc_id, unnest(list_distinct(CASE WHEN len(t) >= 3
        |   THEN list_transform(range(1, len(t) - 1),
        |        i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
        |   ELSE [] END)) AS sh
        | FROM tk),
        |sig AS (
        | SELECT doc_id,
        | $portableSigSelect
        | FROM s GROUP BY doc_id),
        |bands AS (
        | SELECT doc_id, bb.band AS band_id,
        |  md5(CASE bb.band $portableBandCase END) AS key
        | FROM sig CROSS JOIN (VALUES (0),(1),(2),(3)) AS bb(band))
        |SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
        |FROM bands x JOIN bands y
        | ON x.band_id = y.band_id AND x.key = y.key AND x.doc_id < y.doc_id
        |ORDER BY a, b""".stripMargin,
    // calibration twin: same LSH chain to candidates, then per pair the
    // component-match count against the exact lowercase-shingle Jaccard
    "d_minhash_error" ->
      s"""WITH tk AS (
        | SELECT doc_id,
        |  list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
        |              x -> len(x) > 0) AS t
        | FROM documents),
        |s AS (
        | SELECT doc_id, unnest(list_distinct(CASE WHEN len(t) >= 3
        |   THEN list_transform(range(1, len(t) - 1),
        |        i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
        |   ELSE [] END)) AS sh
        | FROM tk),
        |sig AS (
        | SELECT doc_id,
        | $portableSigSelect
        | FROM s GROUP BY doc_id),
        |bands AS (
        | SELECT doc_id, bb.band AS band_id,
        |  md5(CASE bb.band $portableBandCase END) AS key
        | FROM sig CROSS JOIN (VALUES (0),(1),(2),(3)) AS bb(band)),
        |cand AS (
        | SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
        | FROM bands x JOIN bands y
        |  ON x.band_id = y.band_id AND x.key = y.key AND x.doc_id < y.doc_id),
        |m AS (
        | SELECT c.a, c.b,
        |  (${(0 until 8).map(p => s"CASE WHEN sa.sig$p = sb.sig$p THEN 1 ELSE 0 END").mkString("\n        |   + ")}) AS n_match
        | FROM cand c JOIN sig sa ON sa.doc_id = c.a
        |             JOIN sig sb ON sb.doc_id = c.b),
        |ns AS (SELECT doc_id, count(*) AS n FROM s GROUP BY 1),
        |iv AS (
        | SELECT c.a, c.b,
        |  sum(CASE WHEN y.sh IS NOT NULL THEN 1 ELSE 0 END) AS inter
        | FROM cand c JOIN s x ON x.doc_id = c.a
        | LEFT JOIN s y ON y.doc_id = c.b AND y.sh = x.sh
        | GROUP BY 1, 2),
        |j AS (
        | SELECT m.a, m.b, m.n_match, iv.inter,
        |  na.n + nb.n - iv.inter AS uni
        | FROM m JOIN iv ON iv.a = m.a AND iv.b = m.b
        | JOIN ns na ON na.doc_id = m.a
        | JOIN ns nb ON nb.doc_id = m.b)
        |SELECT a, b, n_match,
        | round(n_match / 8.0, 4) AS est_j,
        | round(CASE WHEN uni = 0 THEN 0.0
        |   ELSE CAST(inter AS DOUBLE) / CAST(uni AS DOUBLE) END, 4) AS jaccard,
        | round(abs(n_match / 8.0 - CASE WHEN uni = 0 THEN 0.0
        |   ELSE CAST(inter AS DOUBLE) / CAST(uni AS DOUBLE) END), 4) AS abs_err
        |FROM j ORDER BY a, b""".stripMargin,
    // the composed fuzzy-dedup twin: portable LSH candidates (same CTEs
    // as d_lsh_portable_pairs) → exact-Jaccard verify over CASE-PRESERVING
    // 3-gram shingle sets (mirrors Dedup.verifyJaccard / d_ngram_jaccard)
    // → recursive-CTE connected components (the s_embed_clusters spelling)
    // → windowed top-1 per cluster on token count (the keepBest spelling)
    // leakage-safe split: same verified-pair cluster graph, then every
    // doc (singletons keyed by own id) split by the md5 bucket of its
    // CLUSTER id -- the d_train_split rule lifted to the cluster level
    "d_split_leakproof" ->
      s"""WITH RECURSIVE
        |$portableClusterCtes,
        |base AS (
        | SELECT d.doc_id, coalesce(cl.cluster_id, d.doc_id) AS cluster_id
        | FROM documents d LEFT JOIN cl ON cl.id = d.doc_id),
        |b AS (
        | SELECT doc_id, cluster_id,
        |  CAST(concat('0x', substring(md5(CAST(cluster_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 AS bucket
        | FROM base)
        |SELECT doc_id, CAST(cluster_id AS BIGINT) AS cluster_id,
        | CASE WHEN bucket < 80 THEN 'train'
        |      WHEN bucket < 90 THEN 'valid'
        |      ELSE 'test' END AS split
        |FROM b ORDER BY doc_id""".stripMargin,
    // containment twin: the fuzzy chain's candidates + shingle sets, with
    // the asymmetric verify formula — raw IEEE >= threshold compare (the
    // pr CTE's convention), rounding only in the output columns
    "d_containment" ->
      s"""WITH RECURSIVE
        |$portableClusterCtes
        |SELECT c.a, c.b,
        | round(CAST(len(list_intersect(sa.ss, sb.ss)) AS DOUBLE) / len(sa.ss), 4) AS c_ab,
        | round(CAST(len(list_intersect(sa.ss, sb.ss)) AS DOUBLE) / len(sb.ss), 4) AS c_ba
        |FROM cand c JOIN vset sa ON sa.doc_id = c.a
        |            JOIN vset sb ON sb.doc_id = c.b
        |WHERE CAST(len(list_intersect(sa.ss, sb.ss)) AS DOUBLE) / len(sa.ss) >= 0.5
        |   OR CAST(len(list_intersect(sa.ss, sb.ss)) AS DOUBLE) / len(sb.ss) >= 0.5
        |ORDER BY a, b""".stripMargin,
    "d_dedup_fuzzy_portable" -> fuzzySurvivorsOracle,
    // the xxhash64 PRODUCTION pipeline graded by SURVIVOR-SET EQUIVALENCE:
    // the exact-Jaccard VERIFY stage makes the surviving pair graph a pure
    // function of the threshold whenever the LSH funnel is complete, and
    // on this corpus every qualifying pair sits at jaccard >= 0.89 — far
    // above the 0.5 gate (16-band miss probability < 1e-6 per pair;
    // d_minhash_error audits the funnel, RecallSpec pins recall) — so the
    // md5 and xxhash64 hash families converge to IDENTICAL clusters and
    // keep-best survivors, and ONE recursive-CTE oracle grades both
    "d_dedup_fuzzy" -> fuzzySurvivorsOracle,
    // banding-losslessness certificate: pigeonhole makes the 4-band
    // hamming<=3 pair set EXACTLY the all-pairs set (values included) —
    // constant by theorem
    "d_simhash_banding_parity" ->
      """SELECT CAST(0 AS BIGINT) AS n_only_banded,
        | CAST(0 AS BIGINT) AS n_only_allpairs,
        | CAST(0 AS BIGINT) AS n_value_mismatch,
        | true AS has_pairs""".stripMargin,
    // production-sketch parity certificate: the compiled SimHash64 kernel
    // vs the relational xxhash64 vote spelling agree doc-for-doc — exact
    // theorem, so n_mismatch is the constant 0; n_docs (docs with >= 1
    // token, trim() = spaces only like Spark's) proves non-vacuity
    "d_simhash_kernel_parity" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_docs,
        | CAST(0 AS BIGINT) AS n_mismatch
        |FROM documents
        |WHERE len(list_filter(regexp_split_to_array(trim(text), '\s+'),
        |  x -> len(x) > 0)) >= 1""".stripMargin,
    // portable 16-bit simhash: hex digit p of md5(shingle) votes ±1 on
    // bit p by its high nibble bit ('8'..'f'); DuckDB cross-joins the 16
    // bit positions where Spark keeps them as parallel agg columns
    "d_simhash_portable" ->
      """WITH tk AS (
        | SELECT doc_id,
        |  list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
        |              x -> len(x) > 0) AS t
        | FROM documents),
        |s AS (
        | SELECT doc_id, unnest(list_distinct(CASE WHEN len(t) >= 3
        |   THEN list_transform(range(1, len(t) - 1),
        |        i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
        |   ELSE [] END)) AS sh
        | FROM tk),
        |h AS (SELECT doc_id, md5(sh) AS hh FROM s),
        |v AS (
        | SELECT doc_id, pp.p,
        |  CASE WHEN sum(CASE WHEN instr('89abcdef', substr(hh, pp.p, 1)) > 0
        |                     THEN 1 ELSE -1 END) > 0
        |       THEN 1 ELSE 0 END AS bit
        | FROM h CROSS JOIN (SELECT unnest(range(1, 17)) AS p) pp
        | GROUP BY doc_id, pp.p)
        |SELECT doc_id,
        | CAST(sum(bit * (CAST(1 AS BIGINT) << (p - 1))) AS BIGINT) AS simhash16
        |FROM v GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // the portable near-dup banding twin: simhash16 CTE (as in
    // d_simhash_portable) → 2 byte-bands → self-join on shared band →
    // exact hamming via bit_count(xor) — Spark expands pairs in-bucket,
    // DuckDB spells it as the self-join; same pair set either way
    "d_simhash_portable_neardup" ->
      """WITH tk AS (
        | SELECT doc_id,
        |  list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
        |              x -> len(x) > 0) AS t
        | FROM documents),
        |s AS (
        | SELECT doc_id, unnest(list_distinct(CASE WHEN len(t) >= 3
        |   THEN list_transform(range(1, len(t) - 1),
        |        i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
        |   ELSE [] END)) AS sh
        | FROM tk),
        |h AS (SELECT doc_id, md5(sh) AS hh FROM s),
        |v AS (
        | SELECT doc_id, pp.p,
        |  CASE WHEN sum(CASE WHEN instr('89abcdef', substr(hh, pp.p, 1)) > 0
        |                     THEN 1 ELSE -1 END) > 0
        |       THEN 1 ELSE 0 END AS bit
        | FROM h CROSS JOIN (SELECT unnest(range(1, 17)) AS p) pp
        | GROUP BY doc_id, pp.p),
        |f AS (
        | SELECT doc_id,
        |  CAST(sum(bit * (CAST(1 AS BIGINT) << (p - 1))) AS BIGINT) AS fp
        | FROM v GROUP BY doc_id),
        |bands AS (
        | SELECT doc_id, fp, bb.band AS band_id,
        |  (fp >> (bb.band * 8)) & 255 AS band_val
        | FROM f CROSS JOIN (VALUES (0),(1)) AS bb(band))
        |SELECT DISTINCT x.doc_id AS a, y.doc_id AS b,
        | CAST(bit_count(xor(x.fp, y.fp)) AS INTEGER) AS hamming
        |FROM bands x JOIN bands y
        | ON x.band_id = y.band_id AND x.band_val = y.band_val
        |    AND x.doc_id < y.doc_id
        |WHERE bit_count(xor(x.fp, y.fp)) <= 1
        |ORDER BY a, b""".stripMargin,
    // deterministic epoch shuffle: md5("<id>:<salt>") orders, its first 8
    // hex chars bucket into 16 shards, row_number ranks within the shard
    "d_shuffle_shards" ->
      """WITH b AS (
        | SELECT doc_id,
        |  md5(CAST(doc_id AS VARCHAR) || ':epoch0') AS h
        | FROM documents),
        |c AS (
        | SELECT doc_id, h,
        |  CAST(CAST(concat('0x', substring(h, 1, 8)) AS BIGINT) % 16 AS INT) AS shard
        | FROM b)
        |SELECT doc_id, shard,
        | row_number() OVER (PARTITION BY shard ORDER BY h, doc_id) AS pos
        |FROM c ORDER BY shard, pos""".stripMargin,
    // incremental near-dup ingest: batch docs (>= 250) survive iff no
    // portable-LSH band key collides with the index of docs < 250
    "d_lsh_incremental" -> lshIncrementalOracle,
    // the stored-index twin computes the SAME survivor set — the store is
    // a physical layout of the identical band index, so one oracle serves
    // both (row-identity additionally pinned in ExtensionsSpec)
    "d_lsh_incremental_stored" -> lshIncrementalOracle,
    // index-forget twin: the oracle rebuilds the LSH band index from the
    // surviving (non-tombstoned) docs from scratch; equality with the
    // Spark side's anti-join compaction proves removal ≡ rebuild
    "d_index_forget" ->
      s"""WITH tk AS (
        | SELECT doc_id,
        |  list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
        |              x -> len(x) > 0) AS t
        | FROM documents WHERE doc_id % 17 <> 0),
        |s AS (
        | SELECT doc_id, unnest(list_distinct(CASE WHEN len(t) >= 3
        |   THEN list_transform(range(1, len(t) - 1),
        |        i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
        |   ELSE [] END)) AS sh
        | FROM tk),
        |sig AS (
        | SELECT doc_id,
        | $portableSigSelect
        | FROM s GROUP BY doc_id)
        |SELECT doc_id AS id, bb.band AS band_id,
        | md5(CASE bb.band $portableBandCase END) AS band_hash
        |FROM sig CROSS JOIN (VALUES (0),(1),(2),(3)) AS bb(band)
        |ORDER BY id, band_id""".stripMargin,
    // duplicated-span coverage: positional 3-gram windows (repeats kept)
    // vs the set of grams occurring in >= 2 distinct docs
    "d_dup_spans" ->
      """WITH tk AS (
        | SELECT doc_id,
        |  list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
        |              x -> len(x) > 0) AS t
        | FROM documents),
        |w AS (
        | SELECT doc_id, unnest(CASE WHEN len(t) >= 3
        |   THEN list_transform(range(1, len(t) - 1),
        |        i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
        |   ELSE [] END) AS g
        | FROM tk),
        |h AS (SELECT doc_id, md5(g) AS gh FROM w),
        |c AS (
        | SELECT gh, 1 AS dup
        | FROM (SELECT DISTINCT doc_id, gh FROM h)
        | GROUP BY gh HAVING count(*) >= 2)
        |SELECT h.doc_id AS doc_id, count(*) AS n_windows,
        | CAST(coalesce(sum(c.dup), 0) AS BIGINT) AS n_dup,
        | round(coalesce(sum(c.dup), 0) / count(*), 4) AS dup_frac
        |FROM h LEFT JOIN c USING (gh)
        |GROUP BY h.doc_id ORDER BY doc_id""".stripMargin,
    // duplicated-span REMOVAL: drop every token covered by a cross-doc
    // duplicated 3-gram, rebuild case-preserved, whitespace-canonical
    "d_span_clean" ->
      """WITH tk AS (
        | SELECT doc_id,
        |  list_filter(regexp_split_to_array(trim(text), '\s+'),
        |              x -> len(x) > 0) AS ot
        | FROM documents),
        |w AS (
        | SELECT doc_id, i AS w,
        |  md5(lower(ot[i] || ' ' || ot[i+1] || ' ' || ot[i+2])) AS gh
        | FROM tk, unnest(range(1, len(ot) - 1)) AS u(i)
        | WHERE len(ot) >= 3),
        |c AS (
        | SELECT gh FROM (SELECT DISTINCT doc_id, gh FROM w)
        | GROUP BY gh HAVING count(*) >= 2),
        |cov AS (
        | SELECT doc_id, list_sort(list(DISTINCT w + off)) AS cv
        | FROM w JOIN c USING (gh), unnest([0, 1, 2]) AS o(off)
        | GROUP BY doc_id)
        |SELECT t.doc_id AS doc_id,
        | CAST(len(ot) AS BIGINT) AS n_tokens,
        | CAST(coalesce(len(cv), 0) AS BIGINT) AS n_removed,
        | coalesce(array_to_string(list_transform(
        |   list_filter(range(1, len(ot) + 1),
        |     p -> NOT list_contains(coalesce(cv, []), p)),
        |   p -> ot[p]), ' '), '') AS clean_text
        |FROM tk t LEFT JOIN cov USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    // 20-token chunks every 15 tokens; the last chunk is the first one
    // reaching the doc's end (no fully-contained tails)
    // case-PRESERVING tokenization (no lower()): chunk_text is training
    // text, not a dedup key — mirrors TextAnalysis.chunk
    "d_chunk_docs" ->
      """WITH tk AS (
        | SELECT doc_id,
        |  list_filter(regexp_split_to_array(trim(text), '\s+'),
        |              x -> len(x) > 0) AS t
        | FROM documents),
        |c AS (
        | SELECT doc_id, t,
        |  unnest(range(1, greatest(len(t) - 20 + 15, 1) + 1, 15)) AS s
        | FROM tk WHERE len(t) > 0)
        |SELECT doc_id, CAST((s - 1) // 15 AS BIGINT) AS chunk_id,
        | CAST(least(20, len(t) - s + 1) AS BIGINT) AS n_tokens,
        | array_to_string(list_slice(t, s, least(s + 19, len(t))), ' ') AS chunk_text
        |FROM c ORDER BY doc_id, chunk_id""".stripMargin,
    // fixed-point PageRank twin: same derived modular link graph, four
    // chained iterations in integer arithmetic (order-independent BIGINT
    // sums, floor division) — bit-exact cross-engine
    // triangle twin: same degree orientation, wedges, EXISTS closure;
    // the +34 chord closes a → a+17 → a+34
    "d_triangles" ->
      """WITH nn AS (SELECT count(*) AS n FROM documents),
        |e0 AS (SELECT doc_id AS src, (doc_id + 17) % nn.n AS dst FROM documents, nn
        |       UNION ALL SELECT doc_id, (doc_id + 101) % nn.n FROM documents, nn
        |       UNION ALL SELECT doc_id, (doc_id * 3 + 7) % nn.n FROM documents, nn
        |       UNION ALL SELECT doc_id, (doc_id + 34) % nn.n FROM documents, nn),
        |und AS (SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
        |        FROM e0 WHERE src <> dst),
        |deg AS (SELECT n, count(*) AS d FROM
        |         (SELECT u AS n FROM und UNION ALL SELECT v FROM und)
        |        GROUP BY n),
        |o AS (SELECT
        |  CASE WHEN du.d < dv.d OR (du.d = dv.d AND u < v) THEN u ELSE v END AS s,
        |  CASE WHEN du.d < dv.d OR (du.d = dv.d AND u < v) THEN v ELSE u END AS t
        | FROM und JOIN deg du ON du.n = u JOIN deg dv ON dv.n = v),
        |w AS (SELECT a.s AS w_a, a.t AS w_b, b.t AS w_c
        |      FROM o a JOIN o b ON b.s = a.t),
        |tr AS (SELECT * FROM w WHERE EXISTS
        |        (SELECT 1 FROM o WHERE o.s = w.w_a AND o.t = w.w_c))
        |SELECT (SELECT count(*) FROM deg) AS n_nodes,
        | (SELECT count(*) FROM und) AS n_edges,
        | (SELECT count(*) FROM w) AS n_wedges,
        | (SELECT count(*) FROM tr) AS n_triangles""".stripMargin,
    // HITS twin: 3 unrolled rounds of (auth half-step, max-normalize,
    // hub half-step, max-normalize) — same integer arithmetic as the
    // Spark iterate, same derived modular-neighbor edge set
    "d_hits_rank" -> {
      val rounds = (1 to 3).map { i =>
        val ph = if (i == 1) "h0" else s"h${i - 1}"
        s"""a${i}r AS (SELECT e.dst AS node, CAST(sum($ph.v) AS BIGINT) AS s
           |       FROM e JOIN $ph ON $ph.node = e.src GROUP BY e.dst),
           |a${i}f AS (SELECT nodes.node, coalesce(a${i}r.s, 0) AS s
           |       FROM nodes LEFT JOIN a${i}r ON a${i}r.node = nodes.node),
           |a${i}m AS (SELECT max(s) AS m FROM a${i}f),
           |a$i AS (SELECT node, (s * 1000000) // nullif(m, 0) AS v
           |       FROM a${i}f, a${i}m),
           |h${i}r AS (SELECT e.src AS node, CAST(sum(a$i.v) AS BIGINT) AS s
           |       FROM e JOIN a$i ON a$i.node = e.dst GROUP BY e.src),
           |h${i}f AS (SELECT nodes.node, coalesce(h${i}r.s, 0) AS s
           |       FROM nodes LEFT JOIN h${i}r ON h${i}r.node = nodes.node),
           |h${i}m AS (SELECT max(s) AS m FROM h${i}f),
           |h$i AS (SELECT node, (s * 1000000) // nullif(m, 0) AS v
           |       FROM h${i}f, h${i}m)""".stripMargin
      }.mkString(",\n")
      s"""WITH nn AS (SELECT count(*) AS n FROM documents),
        |e0 AS (SELECT doc_id AS src, (doc_id + 17) % nn.n AS dst FROM documents, nn
        |       UNION ALL SELECT doc_id, (doc_id + 101) % nn.n FROM documents, nn
        |       UNION ALL SELECT doc_id, (doc_id * 3 + 7) % nn.n FROM documents, nn),
        |e AS (SELECT DISTINCT src, dst FROM e0 WHERE src <> dst),
        |nodes AS (SELECT DISTINCT node FROM
        |            (SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
        |h0 AS (SELECT node, CAST(1000000 AS BIGINT) AS v FROM nodes),
        |$rounds
        |SELECT a3.node, CAST(a3.v AS BIGINT) AS auth_fp,
        | CAST(h3.v AS BIGINT) AS hub_fp
        |FROM a3 JOIN h3 ON h3.node = a3.node ORDER BY a3.node""".stripMargin
    },
    // BFS twin: recursive CTE enumerates every ≤4-hop path from the
    // sources over the same derived edge set; min(hops) per node is the
    // distance the frontier iterate computes directly
    // k-core peeling unrolled: 4 survivor->degree->filter levels over the
    // symmetric edge list (base derived graph + the planted clique);
    // rounds past the fixpoint are no-ops, so the unroll count only has
    // to MEET the budget, and the final level re-derives core_deg
    "d_kcore" ->
      """WITH nn AS (SELECT count(*) AS n FROM documents),
        |e0 AS (SELECT doc_id AS src, (doc_id + 17) % nn.n AS dst FROM documents, nn
        |       UNION ALL SELECT doc_id, (doc_id + 101) % nn.n FROM documents, nn
        |       UNION ALL SELECT doc_id, (doc_id * 3 + 7) % nn.n FROM documents, nn),
        |be AS (SELECT DISTINCT src, dst FROM e0 WHERE src <> dst),
        |cq AS (SELECT a.doc_id AS src, b.doc_id AS dst
        |       FROM documents a, documents b
        |       WHERE a.doc_id % 50 = 0 AND b.doc_id % 50 = 0
        |         AND a.doc_id < b.doc_id),
        |al AS (SELECT src AS a, dst AS b FROM be
        |       UNION ALL SELECT src, dst FROM cq),
        |nbr AS (SELECT DISTINCT a, b FROM (
        |        SELECT a, b FROM al WHERE a <> b
        |        UNION ALL SELECT b, a FROM al WHERE a <> b)),
        |a0 AS (SELECT DISTINCT a AS node FROM nbr),
        |a1 AS (SELECT nbr.a AS node FROM nbr
        |       JOIN a0 x ON nbr.a = x.node JOIN a0 y ON nbr.b = y.node
        |       GROUP BY nbr.a HAVING count(*) >= 8),
        |a2 AS (SELECT nbr.a AS node FROM nbr
        |       JOIN a1 x ON nbr.a = x.node JOIN a1 y ON nbr.b = y.node
        |       GROUP BY nbr.a HAVING count(*) >= 8),
        |a3 AS (SELECT nbr.a AS node FROM nbr
        |       JOIN a2 x ON nbr.a = x.node JOIN a2 y ON nbr.b = y.node
        |       GROUP BY nbr.a HAVING count(*) >= 8),
        |a4 AS (SELECT nbr.a AS node FROM nbr
        |       JOIN a3 x ON nbr.a = x.node JOIN a3 y ON nbr.b = y.node
        |       GROUP BY nbr.a HAVING count(*) >= 8)
        |SELECT nbr.a AS node, count(*) AS core_deg FROM nbr
        |JOIN a4 x ON nbr.a = x.node JOIN a4 y ON nbr.b = y.node
        |GROUP BY nbr.a HAVING count(*) >= 8 ORDER BY node""".stripMargin,
    "d_graph_bfs" ->
      """WITH RECURSIVE nn AS (SELECT count(*) AS n FROM documents),
        |e0 AS (SELECT doc_id AS src, (doc_id + 17) % nn.n AS dst FROM documents, nn
        |       UNION ALL SELECT doc_id, (doc_id + 101) % nn.n FROM documents, nn
        |       UNION ALL SELECT doc_id, (doc_id * 3 + 7) % nn.n FROM documents, nn),
        |e AS (SELECT DISTINCT src, dst FROM e0 WHERE src <> dst),
        |bfs(node, hops) AS (
        | SELECT doc_id, 0 FROM documents WHERE doc_id % 97 = 0
        | UNION ALL
        | SELECT e.dst, b.hops + 1 FROM bfs b JOIN e ON e.src = b.node
        | WHERE b.hops < 4)
        |SELECT node, CAST(min(hops) AS INTEGER) AS hops
        |FROM bfs GROUP BY node ORDER BY node""".stripMargin,
    // Bellman–Ford twin: every ≤4-edge path enumerated, min total weight
    // per node — the frontier iterate computes the same bound directly
    "d_graph_sssp" ->
      """WITH RECURSIVE nn AS (SELECT count(*) AS n FROM documents),
        |e0 AS (SELECT doc_id AS src, (doc_id + 17) % nn.n AS dst FROM documents, nn
        |       UNION ALL SELECT doc_id, (doc_id + 101) % nn.n FROM documents, nn
        |       UNION ALL SELECT doc_id, (doc_id * 3 + 7) % nn.n FROM documents, nn),
        |e AS (SELECT DISTINCT src, dst FROM e0 WHERE src <> dst),
        |ew AS (SELECT src, dst,
        |        CAST(1 + (src + 2 * dst) % 7 AS BIGINT) AS w FROM e),
        |sp(node, dist, hops) AS (
        | SELECT doc_id, CAST(0 AS BIGINT), 0 FROM documents
        | WHERE doc_id % 97 = 0
        | UNION ALL
        | SELECT ew.dst, b.dist + ew.w, b.hops + 1
        | FROM sp b JOIN ew ON ew.src = b.node WHERE b.hops < 4)
        |SELECT node, CAST(min(dist) AS BIGINT) AS dist
        |FROM sp GROUP BY node ORDER BY node""".stripMargin,
    // LPA twin: 3 unrolled synchronous rounds — per-node neighbor-label
    // vote counts, row_number argmax with (count DESC, label ASC)
    "d_lpa_communities" -> {
      val rounds = (1 to 3).map { i =>
        s"""c$i AS (SELECT nbr.a AS node, l.lbl, count(*) AS c
           |      FROM nbr JOIN l${i - 1} l ON l.node = nbr.b GROUP BY 1, 2),
           |r$i AS (SELECT node, lbl, row_number() OVER (PARTITION BY node
           |          ORDER BY c DESC, lbl) AS rn FROM c$i),
           |l$i AS (SELECT nodes.node, coalesce(r.lbl, nodes.node) AS lbl
           |      FROM nodes LEFT JOIN (SELECT node, lbl FROM r$i WHERE rn = 1) r
           |        ON r.node = nodes.node)""".stripMargin
      }.mkString(",\n")
      s"""WITH nn AS (SELECT count(*) AS n FROM documents),
        |e0 AS (SELECT doc_id AS src, (doc_id + 17) % nn.n AS dst FROM documents, nn
        |       UNION ALL SELECT doc_id, (doc_id + 101) % nn.n FROM documents, nn
        |       UNION ALL SELECT doc_id, (doc_id * 3 + 7) % nn.n FROM documents, nn),
        |e AS (SELECT DISTINCT src, dst FROM e0 WHERE src <> dst),
        |nbr AS (SELECT DISTINCT a, b FROM
        |          (SELECT src AS a, dst AS b FROM e
        |           UNION ALL SELECT dst, src FROM e)),
        |nodes AS (SELECT DISTINCT a AS node FROM nbr),
        |l0 AS (SELECT node, node AS lbl FROM nodes),
        |$rounds
        |SELECT node, CAST(lbl AS BIGINT) AS lbl FROM l3
        |ORDER BY node""".stripMargin
    },
    // market-basket twin: the naive self-join spelling (a-priori prune
    // changes nothing below the support threshold, proven by equality)
    "q_freq_pairs" ->
      """WITH b AS (SELECT DISTINCT l_orderkey AS basket, l_partkey AS item
        |           FROM lineitem),
        |ic AS (SELECT item, count(*) AS cnt FROM b GROUP BY 1),
        |fb AS (SELECT b.basket, b.item FROM b
        |       JOIN ic ON ic.item = b.item WHERE ic.cnt >= 2),
        |sz AS (SELECT basket FROM fb GROUP BY basket
        |       HAVING count(*) BETWEEN 2 AND 1000),
        |p AS (SELECT l.item AS item_a, r.item AS item_b, count(*) AS pair_cnt
        |      FROM fb l JOIN fb r
        |        ON l.basket = r.basket AND l.item < r.item
        |      JOIN sz ON sz.basket = l.basket
        |      GROUP BY 1, 2 HAVING count(*) >= 2),
        |tot AS (SELECT count(DISTINCT basket) AS n_baskets FROM b)
        |SELECT item_a, item_b, pair_cnt, ia.cnt AS cnt_a, ib.cnt AS cnt_b,
        | tot.n_baskets
        |FROM p JOIN ic ia ON ia.item = p.item_a
        |JOIN ic ib ON ib.item = p.item_b, tot
        |ORDER BY item_a, item_b""".stripMargin,
    // gap-fill twin: generate_series calendar grid + IGNORE NULLS
    // forward fill
    "q_gap_fill" ->
      """WITH d AS (SELECT user_id AS key, CAST(ts AS DATE) AS day,
        |            count(*) AS n
        |           FROM events GROUP BY 1, 2),
        |g AS (SELECT key,
        |       CAST(unnest(generate_series(CAST(d0 AS TIMESTAMP),
        |         CAST(d1 AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS day
        |      FROM (SELECT key, min(day) AS d0, max(day) AS d1
        |            FROM d GROUP BY 1)),
        |j AS (SELECT g.key, g.day, coalesce(d.n, 0) AS n, d.n AS obs
        |      FROM g LEFT JOIN d ON d.key = g.key AND d.day = g.day)
        |SELECT key, day, n,
        | CAST(last_value(obs IGNORE NULLS) OVER (PARTITION BY key
        |   ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |  AS BIGINT) AS filled
        |FROM j ORDER BY key, day""".stripMargin,
    // trend twin: identical gap-filled grid, slope as exact BIGINT
    // rational — no float ever materializes
    "q_trend_fit" ->
      """WITH d AS (SELECT event_type AS key, CAST(ts AS DATE) AS day,
        |            count(*) AS n
        |           FROM events GROUP BY 1, 2),
        |g AS (SELECT key,
        |       CAST(unnest(generate_series(CAST(d0 AS TIMESTAMP),
        |         CAST(d1 AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS day
        |      FROM (SELECT key, min(day) AS d0, max(day) AS d1
        |            FROM d GROUP BY 1)),
        |xy AS (SELECT g.key,
        |        CAST(date_diff('day', DATE '1970-01-01', g.day) AS BIGINT) AS x,
        |        CAST(coalesce(d.n, 0) AS BIGINT) AS y
        |       FROM g LEFT JOIN d ON d.key = g.key AND d.day = g.day),
        |s AS (SELECT key, count(*) AS n_days,
        |       CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |       CAST(sum(x * y) AS BIGINT) AS sxy,
        |       CAST(sum(x * x) AS BIGINT) AS sxx
        |      FROM xy GROUP BY key)
        |SELECT key, n_days, sx, sy, sxy, sxx,
        | CAST(n_days * sxy - sx * sy AS BIGINT) AS slope_num,
        | CAST(n_days * sxx - sx * sx AS BIGINT) AS slope_den
        |FROM s ORDER BY key""".stripMargin,
    // sweep-line twin: same +1/−1 endpoint ordering (ends before starts
    // at a shared instant), peak instant in exact epoch micros
    "q_max_concurrency" ->
      """WITH ev AS (SELECT CAST(ts AS DATE) AS day, ts AS t0,
        |  least(ts + INTERVAL 300 SECOND,
        |        CAST(CAST(ts AS DATE) + INTERVAL 1 DAY AS TIMESTAMP)) AS t1
        | FROM events),
        |ep AS (SELECT day, t0 AS t, 1 AS delta FROM ev
        |       UNION ALL SELECT day, t1, -1 FROM ev),
        |o AS (SELECT day, t, delta,
        |       sum(delta) OVER (PARTITION BY day ORDER BY t, delta
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS open
        |      FROM ep),
        |p AS (SELECT day, t, open,
        |       max(open) OVER (PARTITION BY day) AS peak FROM o)
        |SELECT day, CAST(max(open) AS BIGINT) AS peak,
        | epoch_us(min(t)) AS peak_at_us
        |FROM p WHERE open = peak GROUP BY day ORDER BY day""".stripMargin,
    // string-kernel parity twin: identical spellings where shared;
    // overlay respelled as substr concatenation
    "q_string_suite" ->
      """SELECT p_partkey AS k,
        | upper(p_brand) AS up,
        | lpad(p_brand, 12, '.') AS lp,
        | rpad(p_brand, 12, '_') AS rp,
        | translate(p_name, 'aeiou', 'AEIOU') AS tr,
        | string_split(p_name, ' ')[1] AS first_word,
        | string_split(p_name, ' ')[-1] AS last_word,
        | reverse(p_brand) AS rev,
        | CAST(instr(p_name, 'a') AS INT) AS pos_a,
        | repeat(substr(p_brand, 1, 2), 3) AS rep,
        | substr(p_brand, 1, 1) || 'XX' || substr(p_brand, 4) AS ovl,
        | CAST(length(p_name) AS INT) AS len
        |FROM part ORDER BY k""".stripMargin,
    // interval-union twin: same sorted-merge sweep — running max end
    // over the strictly-preceding frame, new-contribution arithmetic
    "q_interval_union" ->
      """WITH ev AS (SELECT CAST(ts AS DATE) AS day, epoch_us(ts) AS a,
        |  least(epoch_us(ts) + 300000000,
        |        epoch_us(CAST(CAST(ts AS DATE) + INTERVAL 1 DAY
        |                 AS TIMESTAMP))) AS b
        | FROM events),
        |m AS (SELECT day, a, b,
        |  max(b) OVER (PARTITION BY day ORDER BY a, b
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS maxb
        | FROM ev)
        |SELECT day,
        | CAST(sum(greatest(0, b - greatest(a, coalesce(maxb, a))))
        |      AS BIGINT) AS covered_us
        |FROM m GROUP BY day ORDER BY day""".stripMargin,
    // Mondrian twin: 3 unrolled levels of the identical cut decisions —
    // max-range dim (tie → x), lower median at rank (n+1) div 2 under
    // (value, id) order, cut only when both halves keep >= 25
    "d_kanon_mondrian" -> {
      val levels = (1 to 3).map { i =>
        val prev = s"l${i - 1}"
        s"""s$i AS (SELECT region, count(*) AS n,
           |  max(x) - min(x) AS rx, max(y) - min(y) AS ry
           | FROM $prev GROUP BY region),
           |c$i AS (SELECT region, n,
           |  CASE WHEN rx >= ry THEN 'x' ELSE 'y' END AS dim FROM s$i),
           |r$i AS (SELECT l.id, l.x, l.y, l.region, c.n,
           |  CASE WHEN c.dim = 'x' THEN l.x ELSE l.y END AS cv,
           |  row_number() OVER (PARTITION BY l.region ORDER BY
           |    CASE WHEN c.dim = 'x' THEN l.x ELSE l.y END, l.id) AS rn
           | FROM $prev l JOIN c$i c USING (region)),
           |m$i AS (SELECT region, cv AS med FROM r$i
           |        WHERE rn = (n + 1) // 2),
           |d$i AS (SELECT r.id, r.x, r.y, r.region,
           |  CASE WHEN r.cv <= m.med THEN 0 ELSE 1 END AS side
           | FROM r$i r JOIN m$i m USING (region)),
           |a$i AS (SELECT region,
           |  sum(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS ln,
           |  count(*) AS nn FROM d$i GROUP BY region),
           |l$i AS (SELECT d.id, d.x, d.y,
           |  CASE WHEN a.ln >= 25 AND a.nn - a.ln >= 25
           |   THEN d.region * 2 + d.side ELSE d.region END AS region
           | FROM d$i d JOIN a$i a USING (region))""".stripMargin
      }.mkString(",\n")
      s"""WITH l0 AS (SELECT doc_id AS id, CAST(n_chars AS BIGINT) AS x,
        |  CAST(doc_id % 50 AS BIGINT) AS y, CAST(1 AS BIGINT) AS region
        | FROM documents),
        |$levels
        |SELECT region, count(*) AS n,
        | min(x) AS min_x, max(x) AS max_x,
        | min(y) AS min_y, max(y) AS max_y
        |FROM l3 GROUP BY region ORDER BY region""".stripMargin
    },
    // apportionment twin: identical integer quota arithmetic, same
    // (remainder DESC, lang, source) largest-remainder arbitration
    "d_sample_apportion" ->
      """WITH s AS (SELECT lang, source, count(*) AS n FROM documents
        |           GROUP BY 1, 2),
        |t AS (SELECT sum(n) AS nn FROM s),
        |b AS (SELECT lang, source, n,
        |  CAST((n * 1000) // nn AS BIGINT) AS q_floor,
        |  CAST((n * 1000) % nn AS BIGINT) AS rem
        | FROM s, t),
        |x AS (SELECT CAST(1000 - sum(q_floor) AS BIGINT) AS extra FROM b),
        |r AS (SELECT b.*, x.extra, row_number() OVER (
        |        ORDER BY rem DESC, lang, source) AS rrank FROM b, x)
        |SELECT lang, source, n, q_floor, rem,
        | CAST(q_floor + CASE WHEN rrank <= extra THEN 1 ELSE 0 END
        |      AS BIGINT) AS quota
        |FROM r ORDER BY lang, source""".stripMargin,
    // incremental-rollup twin: the FULL recompute — matching it proves
    // stored-partials + delta merge ≡ aggregate over everything
    "q_rollup_incremental" ->
      """WITH f AS (SELECT CAST(ts AS DATE) AS day, event_type,
        |  CAST(round(value * 1000000) AS BIGINT) AS v_ppm FROM events)
        |SELECT day, event_type, count(*) AS n,
        | CAST(sum(v_ppm) AS BIGINT) AS sum_v_ppm,
        | min(v_ppm) AS min_v_ppm, max(v_ppm) AS max_v_ppm
        |FROM f GROUP BY 1, 2 ORDER BY day, event_type""".stripMargin,
    // trigram twin: two leads over the same (ts, event_id) order
    "q_event_trigrams" ->
      """WITH n AS (
        | SELECT user_id, event_type AS e1,
        |  lead(event_type, 1) OVER w AS e2,
        |  lead(event_type, 2) OVER w AS e3
        | FROM events
        | WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
        |SELECT e1, e2, e3, count(*) AS n_occurrences,
        | CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        |FROM n WHERE e3 IS NOT NULL
        |GROUP BY 1, 2, 3 ORDER BY e1, e2, e3""".stripMargin,
    // RFM twin: plain NTILE windows — the distributed coarse-prefix
    // spelling must reproduce SQL NTILE bucket sizes bit-for-bit
    "q_rfm_segments" ->
      """WITH c AS (SELECT o_custkey AS custkey,
        |  max(CAST(o_orderdate AS DATE)) AS last_day,
        |  count(*) AS freq,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |    AS cents
        | FROM orders GROUP BY 1),
        |q AS (SELECT custkey, cents,
        |  ntile(4) OVER (ORDER BY last_day, custkey) AS r_q,
        |  ntile(4) OVER (ORDER BY freq, custkey) AS f_q,
        |  ntile(4) OVER (ORDER BY cents, custkey) AS m_q
        | FROM c)
        |SELECT r_q, f_q, m_q, count(*) AS n_customers,
        | CAST(sum(cents) AS BIGINT) AS seg_cents
        |FROM q GROUP BY 1, 2, 3 ORDER BY r_q, f_q, m_q""".stripMargin,
    "d_link_rank" ->
      """WITH nn AS (SELECT count(*) AS n FROM documents),
        |e0 AS (SELECT doc_id AS src, (doc_id + 17) % nn.n AS dst FROM documents, nn
        |       UNION ALL SELECT doc_id, (doc_id + 101) % nn.n FROM documents, nn
        |       UNION ALL SELECT doc_id, (doc_id * 3 + 7) % nn.n FROM documents, nn),
        |e AS (SELECT DISTINCT src, dst FROM e0 WHERE src <> dst),
        |nodes AS (SELECT DISTINCT node FROM
        |            (SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
        |od AS (SELECT src, count(*) AS outdeg FROM e GROUP BY src),
        |r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS rank_fp FROM nodes),
        |c1 AS (SELECT e.dst AS node, SUM(r0.rank_fp // od.outdeg) AS s
        |       FROM e JOIN r0 ON r0.node = e.src JOIN od ON od.src = e.src GROUP BY e.dst),
        |r1 AS (SELECT nodes.node, (15000000 + 85 * coalesce(c1.s, 0)) // 100 AS rank_fp
        |       FROM nodes LEFT JOIN c1 ON c1.node = nodes.node),
        |c2 AS (SELECT e.dst AS node, SUM(r1.rank_fp // od.outdeg) AS s
        |       FROM e JOIN r1 ON r1.node = e.src JOIN od ON od.src = e.src GROUP BY e.dst),
        |r2 AS (SELECT nodes.node, (15000000 + 85 * coalesce(c2.s, 0)) // 100 AS rank_fp
        |       FROM nodes LEFT JOIN c2 ON c2.node = nodes.node),
        |c3 AS (SELECT e.dst AS node, SUM(r2.rank_fp // od.outdeg) AS s
        |       FROM e JOIN r2 ON r2.node = e.src JOIN od ON od.src = e.src GROUP BY e.dst),
        |r3 AS (SELECT nodes.node, (15000000 + 85 * coalesce(c3.s, 0)) // 100 AS rank_fp
        |       FROM nodes LEFT JOIN c3 ON c3.node = nodes.node),
        |c4 AS (SELECT e.dst AS node, SUM(r3.rank_fp // od.outdeg) AS s
        |       FROM e JOIN r3 ON r3.node = e.src JOIN od ON od.src = e.src GROUP BY e.dst),
        |r4 AS (SELECT nodes.node, (15000000 + 85 * coalesce(c4.s, 0)) // 100 AS rank_fp
        |       FROM nodes LEFT JOIN c4 ON c4.node = nodes.node)
        |SELECT node, CAST(rank_fp AS BIGINT) AS rank_fp FROM r4 ORDER BY node""".stripMargin,
    // HTML extraction twin: same deterministic wrapper construction, same
    // RE2 grammar (TextAnalysis.scriptBlockPattern etc.) in the same
    // strip/decode/collapse order
    "d_html_extract" ->
      """WITH h AS (SELECT doc_id,
        |    '<html><head><style>p{color:red}</style><script type="text/js">var n = ' ||
        |    CAST(doc_id AS VARCHAR) || ' &amp;&amp; 1;</script></head><body><!-- doc ' ||
        |    CAST(doc_id AS VARCHAR) || ' --><h1>Doc ' || CAST(doc_id AS VARCHAR) ||
        |    '</h1><p class="body">' || replace(text, ' the ', ' &amp; ') ||
        |    '</p><br/></body></html>' AS html
        |  FROM documents),
        |x AS (SELECT doc_id, html,
        |    trim(regexp_replace(
        |      replace(replace(replace(replace(replace(replace(
        |        regexp_replace(regexp_replace(regexp_replace(regexp_replace(html,
        |          '(?i)<script[^>]*>[^<]*</script>', ' ', 'g'),
        |          '(?i)<style[^>]*>[^<]*</style>', ' ', 'g'),
        |          '<!--([^-]|-[^-]|--[^>])*-->', ' ', 'g'),
        |          '<[^>]+>', ' ', 'g'),
        |        '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''),
        |        '&nbsp;', ' '), '&amp;', '&'),
        |      '\s+', ' ', 'g')) AS text,
        |    len(regexp_extract_all(html, '<[^>]+>')) AS n_tags
        |  FROM h)
        |SELECT doc_id, text, n_tags,
        |  round((CAST(len(html) AS DOUBLE) - len(text)) / CAST(len(html) AS DOUBLE), 4) AS markup_ratio
        |FROM x ORDER BY doc_id""".stripMargin,
    // the composed cleaning pipeline: quality gate -> lang = en -> exact
    // dedup among survivors (stage CTEs mirror d_quality_filter,
    // d_lang_predict, and the d_dedup_incremental fingerprint)
    "d_corpus_clean" ->
      s"""$cleanStageCtes
        |SELECT surv.doc_id AS doc_id, surv.n_tokens AS n_tokens
        |FROM surv JOIN kept USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    // snapshot-diff twin: both releases rebuilt from the planting rules,
    // fingerprints recomputed in SQL (the d_fingerprint formula), FULL
    // OUTER join classifies — the comparison logic is the thing under
    // test, not the planting conditions
    // incremental-card twin: the FULL RESCAN of v2 — equality with the
    // delta-maintained index is exactly the incremental ≡ rebuild claim
    "d_card_incremental" ->
      """WITH v2 AS (
        | SELECT lang, source,
        |  CASE WHEN doc_id % 31 = 0 THEN text || ' rev2' ELSE text END AS text
        | FROM documents WHERE doc_id % 29 <> 0),
        |f AS (
        | SELECT lang, source,
        |  CAST(len(list_filter(regexp_split_to_array(trim(text), '\s+'),
        |       x -> len(x) > 0)) AS BIGINT) AS ntok,
        |  md5(lower(regexp_replace(trim(nfc_normalize(text)), '\s+', ' ', 'g'))) AS fp
        | FROM v2)
        |SELECT coalesce(lang, 'ALL') AS lang,
        | coalesce(source, 'ALL') AS source,
        | count(*) AS n_docs,
        | CAST(sum(ntok) AS BIGINT) AS n_tokens,
        | CAST(count(DISTINCT fp) AS BIGINT) AS n_unique,
        | CAST(count(*) - count(DISTINCT fp) AS BIGINT) AS n_dups
        |FROM f GROUP BY ROLLUP (lang, source)
        |ORDER BY lang, source""".stripMargin,
    // format round-trip twins: the oracle aggregates the PARQUET
    // original — a hash match proves the ORC/JSON write+read preserved
    // every value, type, and timestamp
    "q_orc_roundtrip" -> formatRoundtripOracle,
    "q_json_roundtrip" -> formatRoundtripOracle,
    "q_csv_roundtrip" -> formatRoundtripOracle,
    // k-anonymity over (mktsegment, nationkey): exact ints + ppm
    "q_kanon_audit" ->
      """WITH g AS (
        | SELECT c_mktsegment, c_nationkey, count(*) AS n
        | FROM customer GROUP BY 1, 2)
        |SELECT min(n) AS k_anonymity, count(*) AS n_classes,
        | CAST(sum(n) AS BIGINT) AS n_rows,
        | CAST(sum(CASE WHEN n < 10 THEN n ELSE 0 END) AS BIGINT)
        |   AS rows_below_k,
        | CAST(round(1000000 * (CAST(sum(CASE WHEN n < 10 THEN n ELSE 0 END)
        |   AS DOUBLE) / sum(n))) AS BIGINT) AS below_k_ppm
        |FROM g""".stripMargin,
    // l-diversity: distinct sensitive values (balance thousand-band)
    // per quasi-identifier class, rolled to the min-l / below-l audit
    "q_ldiversity_audit" ->
      """WITH g AS (
        | SELECT c_mktsegment, c_nationkey, count(*) AS n,
        |  count(DISTINCT CAST(floor(c_acctbal / 1000) AS BIGINT)) AS l
        | FROM customer GROUP BY 1, 2)
        |SELECT min(l) AS l_diversity, count(*) AS n_classes,
        | CAST(sum(n) AS BIGINT) AS n_rows,
        | CAST(sum(CASE WHEN l < 3 THEN n ELSE 0 END) AS BIGINT)
        |   AS rows_below_l,
        | CAST(round(1000000 * (CAST(sum(CASE WHEN l < 3 THEN n ELSE 0 END)
        |   AS DOUBLE) / sum(n))) AS BIGINT) AS below_l_ppm
        |FROM g""".stripMargin,
    // t-closeness: ordered EMD of the per-class balance-band distribution
    // vs the global one, on the exact common denominator n_c*N; the dense
    // classes x bands grid keeps missing bands in the cumulative walk
    "q_tcloseness_audit" ->
      """WITH cu AS (
        | SELECT c_mktsegment, c_nationkey,
        |  CAST(floor(c_acctbal / 1000) AS BIGINT) AS band
        | FROM customer),
        |cb AS (SELECT c_mktsegment, c_nationkey, band, count(*) AS cnt
        |       FROM cu GROUP BY 1, 2, 3),
        |cl AS (SELECT c_mktsegment, c_nationkey,
        |         CAST(sum(cnt) AS BIGINT) AS n_c
        |       FROM cb GROUP BY 1, 2),
        |gb AS (SELECT band, count(*) AS g_cnt FROM cu GROUP BY band),
        |tt AS (SELECT count(*) AS n_all, count(DISTINCT band) AS n_bands
        |       FROM cu),
        |grid AS (
        | SELECT cl.c_mktsegment, cl.c_nationkey, cl.n_c, gb.band, gb.g_cnt,
        |  COALESCE(cb.cnt, 0) AS cnt
        | FROM cl CROSS JOIN gb
        | LEFT JOIN cb ON cb.c_mktsegment = cl.c_mktsegment
        |  AND cb.c_nationkey = cl.c_nationkey AND cb.band = gb.band),
        |cum AS (
        | SELECT c_mktsegment, c_nationkey, n_c,
        |  sum(cnt) OVER w AS cum_c, sum(g_cnt) OVER w AS cum_g
        | FROM grid
        | WINDOW w AS (PARTITION BY c_mktsegment, c_nationkey
        |              ORDER BY band)),
        |agg AS (
        | SELECT c_mktsegment, c_nationkey, n_c,
        |  CAST(sum(abs(cum_c * n_all - cum_g * n_c)) AS BIGINT) AS num,
        |  any_value(n_all) AS n_all, any_value(n_bands) AS n_bands
        | FROM cum CROSS JOIN tt GROUP BY 1, 2, 3)
        |SELECT c_mktsegment, c_nationkey, n_c,
        | CAST(round(CAST(num AS DOUBLE) * 1000000 /
        |   (n_c * n_all * (n_bands - 1))) AS BIGINT) AS t_micro
        |FROM agg ORDER BY c_mktsegment, c_nationkey""".stripMargin,
    // survivorship golden record: per base entity, the (lev, tkey)-best
    // match merged under name-from-base / balance-from-registry rules
    "q_golden_record" ->
      """WITH base AS (
        | SELECT c_custkey AS bkey, c_name AS bname,
        |  c_nationkey AS bnat, c_acctbal AS bbal FROM customer),
        |tw AS (
        | SELECT c_custkey + 1000000 AS tkey,
        |  substr(c_name, 1, 17) ||
        |   CAST((CAST(substr(c_name, 18, 1) AS INT) + 1) % 10 AS VARCHAR)
        |   AS tname,
        |  c_nationkey AS tnat, c_acctbal + 1.0 AS tbal
        | FROM customer WHERE c_custkey % 7 = 0),
        |m AS (
        | SELECT bkey, bname, tkey, tbal, bbal,
        |  CAST(levenshtein(tname, bname) AS INT) AS lev
        | FROM tw JOIN base
        |   ON tnat = bnat AND substr(tname, 1, 16) = substr(bname, 1, 16)
        | WHERE levenshtein(tname, bname) <= 1),
        |r AS (
        | SELECT *,
        |  row_number() OVER (PARTITION BY bkey ORDER BY lev, tkey) AS rk,
        |  count(*) OVER (PARTITION BY bkey) AS n_candidates
        | FROM m)
        |SELECT bkey AS entity_id, bname AS golden_name,
        | CAST(CAST(round(tbal * 100) AS BIGINT) AS DOUBLE) / 100.0
        |   AS golden_bal,
        | CAST(CAST(round(tbal * 100) AS BIGINT)
        |    - CAST(round(bbal * 100) AS BIGINT) AS BIGINT)
        |   AS bal_drift_cents,
        | CAST(n_candidates AS BIGINT) AS n_candidates, lev
        |FROM r WHERE rk = 1 ORDER BY entity_id""".stripMargin,
    // curriculum interleave: exact NTILE difficulty deciles consumed
    // round-robin; position is pure arithmetic on (seq, bucket)
    "d_curriculum_order" ->
      """WITH toks AS (
        | SELECT doc_id,
        |  len(list_filter(regexp_split_to_array(trim(text), '\s+'),
        |      x -> len(x) > 0)) AS n_tokens
        | FROM documents),
        |b AS (
        | SELECT doc_id, n_tokens,
        |  CAST(ntile(10) OVER (ORDER BY n_tokens, doc_id) AS INT) AS bucket
        | FROM toks),
        |sq AS (
        | SELECT doc_id, n_tokens, bucket,
        |  CAST(row_number() OVER (PARTITION BY bucket
        |    ORDER BY n_tokens, doc_id) AS INT) AS seq
        | FROM b)
        |SELECT CAST((seq - 1) * 10 + bucket AS BIGINT) AS pos, doc_id,
        | n_tokens, bucket, seq
        |FROM sq ORDER BY pos""".stripMargin,
    // SCD2 twin: the same fingerprint full-outer, expanded to validity
    // intervals (closed v1 row for changed/removed, open row for live)
    "q_scd2" ->
      """WITH v1 AS (
        | SELECT doc_id,
        |  md5(lower(regexp_replace(trim(nfc_normalize(text)), '\s+', ' ', 'g'))) AS fp_a
        | FROM documents WHERE doc_id % 23 <> 0),
        |v2 AS (
        | SELECT doc_id,
        |  md5(lower(regexp_replace(trim(nfc_normalize(
        |    CASE WHEN doc_id % 31 = 0 THEN text || ' rev2' ELSE text END)),
        |    '\s+', ' ', 'g'))) AS fp_b
        | FROM documents WHERE doc_id % 29 <> 0),
        |j AS (SELECT coalesce(v1.doc_id, v2.doc_id) AS doc_id, fp_a, fp_b
        |      FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id)
        |SELECT doc_id, fp_a AS fp, CAST(1 AS INT) AS valid_from,
        |       CAST(2 AS INT) AS valid_to, CAST(0 AS BIGINT) AS is_current
        |FROM j WHERE fp_a IS NOT NULL AND (fp_b IS NULL OR fp_a <> fp_b)
        |UNION ALL
        |SELECT doc_id, fp_a, 1, CAST(NULL AS INT), 1
        |FROM j WHERE fp_a IS NOT NULL AND fp_b IS NOT NULL AND fp_a = fp_b
        |UNION ALL
        |SELECT doc_id, fp_b, 2, CAST(NULL AS INT), 1
        |FROM j WHERE fp_b IS NOT NULL AND (fp_a IS NULL OR fp_a <> fp_b)
        |ORDER BY doc_id, valid_from""".stripMargin,
    "d_corpus_diff" ->
      """WITH v1 AS (
        | SELECT doc_id,
        |  md5(lower(regexp_replace(trim(nfc_normalize(text)), '\s+', ' ', 'g'))) AS fp_a
        | FROM documents WHERE doc_id % 23 <> 0),
        |v2 AS (
        | SELECT doc_id,
        |  md5(lower(regexp_replace(trim(nfc_normalize(
        |    CASE WHEN doc_id % 31 = 0 THEN text || ' rev2' ELSE text END)),
        |    '\s+', ' ', 'g'))) AS fp_b
        | FROM documents WHERE doc_id % 29 <> 0)
        |SELECT coalesce(v1.doc_id, v2.doc_id) AS doc_id,
        | CASE WHEN v1.doc_id IS NULL THEN 'added'
        |      WHEN v2.doc_id IS NULL THEN 'removed'
        |      WHEN v1.fp_a <> v2.fp_b THEN 'changed'
        |      ELSE 'unchanged' END AS status
        |FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id
        |WHERE NOT (v1.doc_id IS NOT NULL AND v2.doc_id IS NOT NULL
        |           AND v1.fp_a = v2.fp_b)
        |ORDER BY doc_id""".stripMargin,
    // per-source funnel over the SAME stage CTEs: raw → quality → lang →
    // keeper counts plus the token mass that reaches training
    "d_filter_funnel" ->
      s"""$cleanStageCtes
        |SELECT d.source,
        | count(*) AS n_raw,
        | count(qf.doc_id) AS n_quality,
        | count(surv.doc_id) AS n_lang,
        | count(k.doc_id) AS n_kept,
        | CAST(coalesce(sum(CASE WHEN k.doc_id IS NOT NULL
        |                        THEN surv.n_tokens END), 0) AS BIGINT)
        |   AS kept_tokens
        |FROM documents d
        |LEFT JOIN qf ON qf.doc_id = d.doc_id
        |LEFT JOIN surv ON surv.doc_id = d.doc_id
        |LEFT JOIN kept k ON k.doc_id = d.doc_id
        |GROUP BY d.source ORDER BY d.source""".stripMargin,

    "d_nb_train" ->
      s"""WITH $nbTrainCtes,
        |r AS (SELECT label AS lang, term, cnt, w,
        |  row_number() OVER (PARTITION BY label ORDER BY w DESC, term ASC)
        |    AS rnk
        | FROM nm)
        |SELECT lang, rnk, term, cnt, w FROM r WHERE rnk <= 10
        |ORDER BY lang, rnk""".stripMargin,

    "d_nb_predict" ->
      s"""WITH $nbPredictCtes
        |SELECT doc_id, true_lang, pred, CAST(score AS BIGINT) AS score,
        | CAST(pred = true_lang AS BIGINT) AS correct
        |FROM p WHERE rnk = 1 ORDER BY doc_id""".stripMargin,

    // stored-model twin: the store freezes exactly the integer weights
    // this SQL retrains, so the same oracle covers both spellings
    "d_nb_predict_stored" ->
      s"""WITH $nbPredictCtes
        |SELECT doc_id, true_lang, pred, CAST(score AS BIGINT) AS score,
        | CAST(pred = true_lang AS BIGINT) AS correct
        |FROM p WHERE rnk = 1 ORDER BY doc_id""".stripMargin,

    // unlearning oracle = RETRAIN on the surviving train docs: the forget
    // path subtracts exact integer counts and re-derives every weight, so
    // the retrained scoring chain must match bit-for-bit — the hash match
    // IS forget ≡ retrain
    "d_nb_forget_stored" ->
      s"""WITH ${nbPredictCtesFor("doc_id % 2 = 0 AND doc_id % 10 <> 0")}
        |SELECT doc_id, true_lang, pred, CAST(score AS BIGINT) AS score,
        | CAST(pred = true_lang AS BIGINT) AS correct
        |FROM p WHERE rnk = 1 ORDER BY doc_id""".stripMargin,

    // incremental-training twin: the merged (<300 store + >=300 batch)
    // model must predict exactly like the full even-split retrain — the
    // stored-predict oracle unchanged, merged ≡ retrain proven by the
    // hash match
    "d_nb_merge_stored" ->
      s"""WITH $nbPredictCtes
        |SELECT doc_id, true_lang, pred, CAST(score AS BIGINT) AS score,
        | CAST(pred = true_lang AS BIGINT) AS correct
        |FROM p WHERE rnk = 1 ORDER BY doc_id""".stripMargin,

    // confusion-matrix twin: the same frozen-model scoring chain, one
    // aggregate over the argmax rows
    "d_nb_confusion" ->
      s"""WITH $nbPredictCtes
        |SELECT true_lang, pred, count(*) AS n
        |FROM p WHERE rnk = 1
        |GROUP BY 1, 2 ORDER BY true_lang, pred""".stripMargin,

    // JS-drift twin: same top-100 support, same pointwise-rounded
    // micro-nat contributions, integer sum per source
    "d_source_drift" ->
      """WITH tk AS (
        | SELECT source,
        |  unnest(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
        |         x -> len(x) > 0)) AS term
        | FROM documents),
        |g AS (SELECT term, count(*) AS gcnt FROM tk GROUP BY term
        |      ORDER BY gcnt DESC, term LIMIT 100),
        |ng AS (SELECT CAST(sum(gcnt) AS BIGINT) AS ng FROM g),
        |sc AS (SELECT source, term, count(*) AS cnt FROM tk
        |       WHERE term IN (SELECT term FROM g) GROUP BY source, term),
        |ns AS (SELECT source, CAST(sum(cnt) AS BIGINT) AS ns FROM sc
        |       GROUP BY source),
        |grid AS (
        | SELECT ns.source, ns.ns, g.term, g.gcnt,
        |        coalesce(sc.cnt, 0) AS cnt, ng.ng
        | FROM ns CROSS JOIN g CROSS JOIN ng
        | LEFT JOIN sc ON sc.source = ns.source AND sc.term = g.term),
        |c AS (
        | SELECT source,
        |  CAST(round(500000.0 * (
        |    CASE WHEN cnt = 0 THEN 0.0
        |         ELSE (CAST(cnt AS DOUBLE) / ns) *
        |              ln((CAST(cnt AS DOUBLE) / ns) /
        |                 (((CAST(cnt AS DOUBLE) / ns) +
        |                   (CAST(gcnt AS DOUBLE) / ng)) / 2.0)) END +
        |    (CAST(gcnt AS DOUBLE) / ng) *
        |    ln((CAST(gcnt AS DOUBLE) / ng) /
        |       (((CAST(cnt AS DOUBLE) / ns) +
        |         (CAST(gcnt AS DOUBLE) / ng)) / 2.0)))) AS BIGINT) AS c,
        |  CASE WHEN cnt > 0 THEN 1 ELSE 0 END AS present
        | FROM grid)
        |SELECT source, CAST(sum(c) AS BIGINT) AS js_micro,
        | CAST(sum(present) AS BIGINT) AS n_terms
        |FROM c GROUP BY source ORDER BY source""".stripMargin,
    // CDC twins: the same 8-term base-31 polynomial over code points,
    // boundary h % 64 = 0, replayed with list lambdas — chunk borders,
    // lengths, and content fingerprints all bit-exact
    "d_cdc_chunks" ->
      s"""WITH $cdcCtes
        |SELECT doc_id, CAST(len(segs) AS BIGINT) AS n_chunks,
        | CAST(list_min(list_transform(segs, x -> x.len)) AS BIGINT) AS min_len,
        | CAST(list_max(list_transform(segs, x -> x.len)) AS BIGINT) AS max_len,
        | md5(array_to_string(list_transform(segs,
        |     x -> CAST(x.len AS VARCHAR)), ',')) AS lens_md5
        |FROM s ORDER BY doc_id""".stripMargin,
    "d_cdc_dedup" ->
      s"""WITH $cdcCtes,
        |ch0 AS (SELECT source, text, unnest(segs) AS seg FROM s),
        |ch AS (SELECT source,
        |         md5(substr(text, seg.start + 1, seg.len)) AS fp FROM ch0),
        |g AS (SELECT source, count(*) AS n_chunks,
        |        count(DISTINCT fp) AS n_distinct FROM ch GROUP BY source)
        |SELECT source, n_chunks, n_distinct,
        | n_chunks - n_distinct AS dup_chunks
        |FROM g ORDER BY source""".stripMargin,
    // CDC ingest-gate twin: chunk fps of history (< 250) as the index,
    // arriving docs rejected when strictly more than half their chunks
    // hit it; zero-chunk docs pass vacuously (absent from the chunk CTE)
    "d_cdc_ingest" ->
      s"""WITH $cdcCtes,
        |ch0 AS (SELECT doc_id, text, unnest(segs) AS seg FROM s),
        |ch AS (SELECT doc_id,
        |         md5(substr(text, seg.start + 1, seg.len)) AS fp FROM ch0),
        |idx AS (SELECT DISTINCT fp FROM ch WHERE doc_id < 250),
        |bat AS (
        | SELECT doc_id, count(*) AS n,
        |  count(*) FILTER (WHERE fp IN (SELECT fp FROM idx)) AS nd
        | FROM ch WHERE doc_id >= 250 GROUP BY doc_id)
        |SELECT doc_id FROM documents
        |WHERE doc_id >= 250
        |  AND doc_id NOT IN (SELECT doc_id FROM bat WHERE nd > 0.5 * n)
        |ORDER BY doc_id""".stripMargin,
    // source-overlap twin: the pairwise spelling of the sorted-source-set
    // expansion — a JOIN on fp with source inequality is the same pair
    // set; the 200-char prefix mirrors Dedup.sourceOverlap(prefixChars)
    "d_source_overlap" ->
      """WITH fp AS (
        | SELECT DISTINCT source,
        |  md5(substr(lower(regexp_replace(trim(nfc_normalize(text)), '\s+', ' ', 'g')), 1, 200)) AS fp
        | FROM documents),
        |m AS (
        | SELECT a.source AS src_a, b.source AS src_b
        | FROM fp a JOIN fp b ON a.fp = b.fp AND a.source < b.source)
        |SELECT src_a, src_b, count(*) AS n_shared FROM m
        |GROUP BY 1, 2 ORDER BY src_a, src_b""".stripMargin,

    "d_bm25_topk" -> bm25Oracle,
    "d_chunk_bm25" -> chunkBm25Oracle,
    "d_hard_negatives" -> hardNegativesOracle,
    "d_diverse_topk" -> diverseTopKOracle,
    "d_bm25f_topk" -> bm25fOracle,
    // the stored spelling freezes exactly the integers the inline oracle
    // recomputes (shared scoring tail), so one oracle covers both
    "d_bm25f_stored" -> bm25fOracle,
    "d_bm25_prf" -> bm25PrfOracle,
    // PRF off the store scores the same stored integers through the same
    // shared tail (pinned row-identical in RetrievalSpec) — the inline
    // PRF oracle grades it
    "d_bm25_prf_stored" -> bm25PrfOracle,
    // fielded incremental: the full-corpus BM25F twin IS the proof that
    // merge ≡ rebuild (the d_bm25_incremental pattern, fielded)
    "d_bm25f_incremental" -> bm25fOracle,
    // co-chunk positives: the sliding-chunk arithmetic replayed for two
    // windows gap=2 apart (zero token overlap at 16/8)
    "d_cochunk_pairs" ->
      """WITH ctk AS (
        | SELECT doc_id,
        |  list_filter(regexp_split_to_array(trim(text), '\s+'),
        |              x -> len(x) > 0) AS t
        | FROM documents),
        |cnz AS (SELECT doc_id, t, len(t) AS n FROM ctk WHERE len(t) > 0),
        |lim AS (SELECT doc_id, t, n,
        |         (greatest(n - 16, 0) + 7) // 8 AS last FROM cnz),
        |px AS (SELECT doc_id, t, n, unnest(range(0, last - 2 + 1)) AS a
        |       FROM lim WHERE last >= 2)
        |SELECT doc_id, CAST(a AS INT) AS a_chunk, CAST(a + 2 AS INT) AS b_chunk,
        | array_to_string(t[a*8 + 1 : least(a*8 + 16, n)], ' ') AS a_text,
        | array_to_string(t[(a+2)*8 + 1 : least((a+2)*8 + 16, n)], ' ')
        |   AS b_text
        |FROM px ORDER BY doc_id, a_chunk""".stripMargin,
    // contrastive examples: co-chunk anchors of docs < 5 replayed as the
    // BM25 query side over the sliding-chunk corpus, parent doc shift-
    // excluded on the scored stream, top-3 negatives per anchor, joined
    // back to the (a_chunk, b_chunk) positive pair
    "d_contrastive_examples" -> contrastiveExamplesOracle,
    // FIM splits: identical md5-slice cut arithmetic (unsigned 32-bit
    // hex prefix, positive modulus) and inclusive list slices
    "d_fim_split" ->
      """WITH ctk AS (
        | SELECT doc_id,
        |  list_filter(regexp_split_to_array(trim(text), '\s+'),
        |              x -> len(x) > 0) AS t
        | FROM documents),
        |cnz AS (SELECT doc_id, t, CAST(len(t) AS BIGINT) AS n
        |        FROM ctk WHERE len(t) >= 3),
        |cuts AS (SELECT doc_id, t, n,
        |  1 + (CAST(concat('0x',
        |        substr(md5(CAST(doc_id AS VARCHAR) || ':f1'), 1, 8))
        |       AS BIGINT) % (n - 2)) AS cut1
        | FROM cnz),
        |cuts2 AS (SELECT doc_id, t, n, cut1,
        |  cut1 + 1 + (CAST(concat('0x',
        |        substr(md5(CAST(doc_id AS VARCHAR) || ':f2'), 1, 8))
        |       AS BIGINT) % (n - 1 - cut1)) AS cut2
        | FROM cuts)
        |SELECT doc_id, cut1, cut2,
        | '<PRE> ' || array_to_string(t[1:cut1], ' ') ||
        | ' <SUF> ' || array_to_string(t[cut2+1:n], ' ') || ' <MID>'
        |   AS fim_input,
        | array_to_string(t[cut1+1:cut2], ' ') AS fim_target
        |FROM cuts2 ORDER BY doc_id""".stripMargin,
    "d_bm25_topk_stored" -> bm25Oracle,
    // MRR / nDCG@10 over the bm25 chain; the rank-r gains are the SAME
    // hard-coded micro-units of 1/log2(r+1) the Spark operator holds, so
    // DCG/IDCG are order-independent integer sums on both engines
    "d_retrieval_eval" ->
      s"""WITH $bm25Ctes,
        |${retrievalEvalSqlOver("r")}""".stripMargin,
    // the SAME eval harness pointed at the hybrid fused ranking — the
    // side-by-side a deployment reads to decide whether dense+sparse
    // fusion actually beats its BM25 leg on the corpus's own qrels
    "d_hybrid_eval" ->
      s"""WITH $bm25Ctes,
        |$ivfDenseCtes,
        |$hybridRrfCtes,
        |${retrievalEvalSqlOver("fr")}""".stripMargin,
    // increment ≡ rebuild: the merged (<250 store + >=250 delta) index
    // must hash-match the full-corpus twin exactly
    "d_bm25_incremental" -> bm25Oracle,
    // in-place erasure ≡ rebuild on the surviving corpus (the
    // s_ann_forget_stored theorem for the postings layouts)
    "d_bm25_forget_stored" -> bm25ForgetOracle,
    // concat-and-chunk packing plan: global cumsum replayed relationally
    "d_seq_pack" ->
      """WITH tk AS (
        | SELECT doc_id,
        |  CAST(len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
        |       x -> len(x) > 0)) + 1 AS BIGINT) AS l
        | FROM documents),
        |nz AS (SELECT doc_id, l FROM tk WHERE l > 1),
        |cs AS (SELECT doc_id, l,
        |        CAST(coalesce(sum(l) OVER (ORDER BY doc_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |          AS BIGINT) AS s
        |       FROM nz),
        |tt AS (SELECT CAST(sum(l) AS BIGINT) AS tot FROM nz),
        |sp AS (SELECT cs.doc_id, cs.l, cs.s, r.k AS seq_id
        |       FROM cs, unnest(range(cs.s // 64, (cs.s + cs.l - 1) // 64 + 1)) r(k))
        |SELECT seq_id, doc_id,
        |  CAST(greatest(seq_id * 64 - s, 0) AS BIGINT) AS tok_start,
        |  CAST(least((seq_id + 1) * 64 - s, l) - 1 AS BIGINT) AS tok_end,
        |  CAST(least((seq_id + 1) * 64 - s, l) - 1
        |       - greatest(seq_id * 64 - s, 0) + 1 AS BIGINT) AS n_tok
        |FROM sp CROSS JOIN tt WHERE seq_id < tot // 64
        |ORDER BY seq_id, doc_id""".stripMargin,
    "d_bm25f_forget_stored" -> bm25fForgetOracle,
    "d_bm25_chunk_forget" -> chunkBm25ForgetOracle,
    // RRF hybrid twin: the bm25 chain and the winnow chain coexist in
    // one WITH (disjoint CTE names), fused by the exact integer
    // round(1e6/(60+rnk)) contributions
    "d_hybrid_rrf" ->
      s"""WITH $bm25Ctes,
        |$winnowCtes,
        |bmr AS (SELECT q_id, doc_id, rnk FROM r WHERE rnk <= 10),
        |wc AS (SELECT q.doc_id AS q_id, cd.doc_id AS doc_id,
        |         count(*) AS shared
        |       FROM wf q JOIN wf cd
        |         ON q.fp = cd.fp AND cd.doc_id <> q.doc_id
        |       WHERE q.doc_id < 5 GROUP BY 1, 2),
        |wr AS (SELECT q_id, doc_id,
        |        row_number() OVER (PARTITION BY q_id
        |                           ORDER BY shared DESC, doc_id) AS rnk
        |       FROM wc),
        |u AS (
        | SELECT q_id, doc_id,
        |  CAST(round(1000000.0 / (60 + rnk)) AS BIGINT) AS c FROM bmr
        | UNION ALL
        | SELECT q_id, doc_id,
        |  CAST(round(1000000.0 / (60 + rnk)) AS BIGINT)
        | FROM wr WHERE rnk <= 10),
        |f AS (SELECT q_id, doc_id, CAST(sum(c) AS BIGINT) AS rrf_micro
        |      FROM u GROUP BY 1, 2),
        |fr AS (SELECT q_id, doc_id, rrf_micro,
        |        row_number() OVER (PARTITION BY q_id
        |                           ORDER BY rrf_micro DESC, doc_id) AS rnk
        |       FROM f)
        |SELECT q_id, rnk, doc_id, rrf_micro FROM fr WHERE rnk <= 10
        |ORDER BY q_id, rnk""".stripMargin,

    // dense+sparse hybrid twin: the bm25 stored-postings chain and the
    // stored-IVF chain (first-8-unit coarse assignment, 3 probes, exact
    // cosine over probed members, leave-self-out) fused by the same
    // integer RRF terms — both legs are verbatim the CTE chains their own
    // graded rows pin, so this row grades ONLY the fusion composition
    "s_hybrid_dense_sparse" ->
      s"""WITH $bm25Ctes,
        |$ivfDenseCtes,
        |$hybridRrfCtes
        |SELECT q_id, rnk, doc_id, rrf_micro FROM fr WHERE rnk <= 10
        |ORDER BY q_id, rnk""".stripMargin,

    // linear (alpha = 0.5) hybrid twin: per-query min-max normalization
    // inside each leg's top-10 list (all-equal list → 1.0), convex sum in
    // doubles, ONE round to micro-units at the end — expression-for-
    // expression the linearFuse arithmetic, so doubles agree bitwise.
    // Dense scores enter ROUNDED to 4 decimals (the stored-probe output
    // contract); ranking into the top-10 uses the raw sim, as Spark does.
    "s_hybrid_linear" ->
      s"""WITH $bm25Ctes,
        |$ivfDenseCtes,
        |bmn AS (SELECT q_id, doc_id,
        |         0.5 * (CASE WHEN max(CAST(score AS DOUBLE)) OVER (PARTITION BY q_id)
        |                        = min(CAST(score AS DOUBLE)) OVER (PARTITION BY q_id)
        |                THEN 1.0
        |                ELSE (CAST(score AS DOUBLE)
        |                       - min(CAST(score AS DOUBLE)) OVER (PARTITION BY q_id)) /
        |                     (max(CAST(score AS DOUBLE)) OVER (PARTITION BY q_id)
        |                       - min(CAST(score AS DOUBLE)) OVER (PARTITION BY q_id))
        |                END) AS c
        |        FROM r WHERE rnk <= 10),
        |den AS (SELECT q_id, c_id, round(sim, 4) AS s FROM (
        |          SELECT q_id, c_id, sim,
        |            row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, c_id) AS rnk
        |          FROM dsim) WHERE rnk <= 10),
        |dnn AS (SELECT q_id, c_id,
        |         0.5 * (CASE WHEN max(s) OVER (PARTITION BY q_id)
        |                        = min(s) OVER (PARTITION BY q_id) THEN 1.0
        |                ELSE (s - min(s) OVER (PARTITION BY q_id)) /
        |                     (max(s) OVER (PARTITION BY q_id)
        |                       - min(s) OVER (PARTITION BY q_id)) END) AS c
        |        FROM den),
        |uall AS (
        | SELECT q_id, doc_id, c FROM bmn
        | UNION ALL
        | SELECT CAST(q_id AS BIGINT), CAST(c_id AS BIGINT), c FROM dnn),
        |f AS (SELECT q_id, doc_id,
        |        CAST(round(1000000.0 * sum(c)) AS BIGINT) AS fused_micro
        |      FROM uall GROUP BY 1, 2),
        |fr AS (SELECT q_id, doc_id, fused_micro,
        |        row_number() OVER (PARTITION BY q_id
        |                           ORDER BY fused_micro DESC, doc_id) AS rnk
        |       FROM f)
        |SELECT q_id, rnk, doc_id, fused_micro FROM fr WHERE rnk <= 10
        |ORDER BY q_id, rnk""".stripMargin,

    "d_winnow_fps" ->
      s"""WITH $winnowCtes
        |SELECT doc_id, count(*) AS n_fp, min(fp) AS min_fp
        |FROM wf GROUP BY 1 ORDER BY doc_id""".stripMargin,

    "d_winnow_matches" ->
      s"""WITH $winnowCtes
        |SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS shared
        |FROM wf a JOIN wf b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |GROUP BY 1, 2 HAVING count(*) >= 2
        |ORDER BY a, b""".stripMargin,

    // span-reuse ingest-gate twin: batch docs (>= 250) with >= 2 selected
    // fingerprints shared with the historical (< 250) index are rejected;
    // survivors listed — the stored index is just the distinct-fp set, so
    // the oracle recomputes both sides from winnowCtes
    "d_winnow_ingest_stored" ->
      s"""WITH $winnowCtes,
        |hits AS (
        | SELECT b.doc_id FROM wf b
        | WHERE b.doc_id >= 250
        |   AND b.fp IN (SELECT fp FROM wf i WHERE i.doc_id < 250)
        | GROUP BY b.doc_id HAVING count(*) >= 2)
        |SELECT d.doc_id FROM documents d
        |WHERE d.doc_id >= 250
        |  AND d.doc_id NOT IN (SELECT doc_id FROM hits)
        |ORDER BY doc_id""".stripMargin,

    // erasure twin: REBUILD the refcount table on the surviving
    // historical docs — wf is already the DISTINCT (doc, fp) set, so
    // count(*) per fp is exactly the store's refs after decrement; the
    // hash match IS forget ≡ rebuild (fps reaching zero are absent on
    // both sides)
    "d_winnow_forget_stored" ->
      s"""WITH $winnowCtes
        |SELECT fp, count(*) AS refs FROM wf
        |WHERE doc_id < 250 AND doc_id % 7 <> 3
        |GROUP BY fp ORDER BY fp""".stripMargin,

    // oracle = the single-pass exact heavy hitters the sketch-then-verify
    // plan provably reproduces (threshold 0.5% of N > N/257, the MG
    // completeness bound)
    // per-language twin: per-group exact HAVING with per-group thresholds
    "d_token_hh_lang" ->
      """WITH tk AS (
        | SELECT lang, unnest(list_filter(regexp_split_to_array(trim(lower(text)),
        |   '\s+'), x -> len(x) > 0)) AS term
        | FROM documents),
        |n AS (SELECT lang, count(*) AS n FROM tk GROUP BY lang),
        |c AS (SELECT lang, term, count(*) AS cnt FROM tk GROUP BY lang, term)
        |SELECT c.lang, c.term, c.cnt FROM c JOIN n ON n.lang = c.lang
        |WHERE c.cnt >= CAST(ceil(0.01 * n.n) AS BIGINT)
        |ORDER BY c.lang, c.cnt DESC, c.term""".stripMargin,
    "d_token_hh" ->
      """WITH tk AS (
        | SELECT unnest(list_filter(regexp_split_to_array(trim(lower(text)),
        |   '\s+'), x -> len(x) > 0)) AS term
        | FROM documents),
        |n AS (SELECT count(*) AS n FROM tk),
        |c AS (SELECT term, count(*) AS cnt FROM tk GROUP BY term)
        |SELECT term, cnt FROM c, n
        |WHERE cnt >= CAST(ceil(0.005 * n) AS BIGINT)
        |ORDER BY cnt DESC, term""".stripMargin)

  /** Shared DuckDB CTE chain for the winnowing family (`d_winnow_*`):
    * 4-token shingle md5 hashes with 1-based position `i`, the w=4 window
    * minimum over full windows only, and the DISTINCT selected
    * fingerprint set `wf(doc_id, fp)` — the exact spelling of
    * [[graft.operators.Dedup.winnowFingerprints]].
    */
  private val winnowCtes: String =
    """tk AS (
      | SELECT doc_id,
      |  list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
      |              x -> len(x) > 0) AS t
      | FROM documents),
      |wp AS (SELECT doc_id, len(t) - 3 AS ng,
      |        unnest(range(1, len(t) - 2)) AS i, t
      |       FROM tk WHERE len(t) >= 4),
      |wg AS (SELECT doc_id, ng, i,
      |        md5(t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3])
      |          AS gh
      |       FROM wp),
      |wm AS (SELECT doc_id, i, ng,
      |        min(gh) OVER (PARTITION BY doc_id ORDER BY i
      |                      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
      |       FROM wg),
      |wf AS (SELECT DISTINCT doc_id, fp FROM wm WHERE i <= ng - 3)"""
      .stripMargin

  /** Shared DuckDB CTE chain for the trained-NB family (`d_nb_*`): even
    * doc_ids are the train split; `ncnt`/`ntok`/`nv` are the per-class term
    * counts, class token mass, and vocab size; `nm` carries the fixed-point
    * integer lift weight w = round(1e6*ln((cnt+1)/(tok+V))) −
    * round(1e6*ln(1/(tok+V))) — the exact spelling of
    * [[graft.Classify.nbModel]].
    */
  private def nbTrainCtesFor(trainWhere: String): String =
    s"""tr AS (SELECT * FROM documents WHERE $trainWhere),
      |ntoks AS (
      | SELECT lang AS label,
      |  unnest(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
      |         x -> len(x) > 0)) AS term
      | FROM tr),
      |ncnt AS (SELECT label, term, count(*) AS cnt FROM ntoks GROUP BY 1, 2),
      |ntok AS (SELECT label, CAST(sum(cnt) AS BIGINT) AS tok
      |         FROM ncnt GROUP BY 1),
      |nv AS (SELECT count(DISTINCT term) AS v FROM ncnt),
      |nm AS (
      | SELECT label, term, cnt,
      |  CAST(round(1000000.0 * ln((cnt + 1.0) / CAST(tok + v AS DOUBLE)))
      |       AS BIGINT)
      |  - CAST(round(1000000.0 * ln(1.0 / CAST(tok + v AS DOUBLE)))
      |         AS BIGINT) AS w
      | FROM ncnt JOIN ntok USING (label) CROSS JOIN nv)""".stripMargin

  private val nbTrainCtes: String = nbTrainCtesFor("doc_id % 2 = 0")

  /** Frozen-model NB scoring chain shared by `d_nb_predict` and
    * `d_nb_confusion`: the trained-model CTEs plus held-out scoring down
    * to the per-doc argmax candidate rows `p` (consume with rnk = 1).
    */
  /** Shared CDC CTEs (must mirror TextAnalysis.cdcSegments exactly):
    * code points per char, the 8-term base-31 polynomial, boundary
    * h % 64 = 0, cut positions framed by 0 and len, zero-length tails
    * dropped. Produces table `s` with (doc_id, source, text, segs).
    */
  private lazy val cdcCtes: String =
    """c AS (SELECT doc_id, source, text,
      |  CASE WHEN length(text) = 0 THEN CAST([] AS BIGINT[])
      |       ELSE list_transform(string_split(text, ''),
      |                           x -> CAST(ord(x) AS BIGINT)) END AS cs
      |  FROM documents),
      |b AS (SELECT doc_id, source, text, cs,
      |  CASE WHEN len(cs) >= 8 THEN list_filter(range(8, len(cs) + 1), i ->
      |    (cs[i-7]*27512614111 + cs[i-6]*887503681 + cs[i-5]*28629151
      |     + cs[i-4]*923521 + cs[i-3]*29791 + cs[i-2]*961
      |     + cs[i-1]*31 + cs[i]) % 64 = 0)
      |  ELSE CAST([] AS BIGINT[]) END AS cuts FROM c),
      |f AS (SELECT doc_id, source, text,
      |  list_concat(list_concat([CAST(0 AS BIGINT)], cuts),
      |              [CAST(len(cs) AS BIGINT)]) AS fl FROM b),
      |s AS (SELECT doc_id, source, text,
      |  list_filter(list_transform(range(2, len(fl) + 1), t ->
      |    {'start': fl[t-1], 'len': fl[t] - fl[t-1]}), x -> x.len > 0) AS segs
      |  FROM f)""".stripMargin

  private def nbPredictCtesFor(trainWhere: String): String =
    s"""${nbTrainCtesFor(trainWhere)},
        |nb AS (
        | SELECT nd.label, nd.nd,
        |  CAST(round(1000000.0 * ln(CAST(nd.nd AS DOUBLE) / n.n)) AS BIGINT)
        |    AS prior,
        |  CAST(round(1000000.0 * ln(1.0 / CAST(tok + v AS DOUBLE))) AS BIGINT)
        |    AS def_w
        | FROM (SELECT lang AS label, count(*) AS nd FROM tr GROUP BY 1) nd
        | JOIN ntok USING (label) CROSS JOIN nv
        | CROSS JOIN (SELECT count(*) AS n FROM tr) n),
        |te AS (SELECT * FROM documents WHERE doc_id % 2 = 1),
        |ttf AS (
        | SELECT doc_id, term, count(*) AS tf FROM (
        |  SELECT doc_id,
        |   unnest(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
        |          x -> len(x) > 0)) AS term
        |  FROM te) GROUP BY 1, 2),
        |lift AS (
        | SELECT doc_id, label, CAST(sum(tf * w) AS BIGINT) AS lift
        | FROM ttf JOIN nm USING (term) GROUP BY 1, 2),
        |ntk AS (
        | SELECT doc_id, lang AS true_lang,
        |  len(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
        |      x -> len(x) > 0)) AS n_tok
        | FROM te),
        |sc AS (
        | SELECT t.doc_id, t.true_lang, b.label,
        |  b.prior + t.n_tok * b.def_w + coalesce(l.lift, 0) AS score
        | FROM ntk t CROSS JOIN nb b
        | LEFT JOIN lift l ON l.doc_id = t.doc_id AND l.label = b.label),
        |p AS (
        | SELECT doc_id, true_lang, label AS pred, score,
        |  row_number() OVER (PARTITION BY doc_id
        |                     ORDER BY score DESC, label ASC) AS rnk
        | FROM sc)""".stripMargin

  private lazy val nbPredictCtes: String = nbPredictCtesFor("doc_id % 2 = 0")

  /** Shared DuckDB CTE chain for the cleaning-pipeline stages (quality
    * gate `qf`, language argmax `lp`, en survivors `surv`, exact-dedup
    * keepers `kept`) — interpolated into `d_corpus_clean` and
    * `d_filter_funnel` so the twin pipelines stay definitionally one.
    */
  private val cleanStageCtes: String =
      """WITH toks AS (
        | SELECT doc_id, text,
        |  list_filter(regexp_split_to_array(trim(text), '\s+'), x -> len(x) > 0) AS tk
        | FROM documents),
        |q AS (SELECT doc_id,
        | len(tk) AS n_tokens,
        | round(CASE WHEN len(tk)=0 THEN 0.0
        |   ELSE CAST(len(replace(regexp_replace(trim(text), '\s+', ' ', 'g'), ' ', '')) AS DOUBLE)/len(tk) END, 4) AS mean_token_len,
        | round(CASE WHEN len(tk)=0 THEN 0.0
        |   ELSE CAST(len(list_filter(tk, x -> lower(x) IN ('the','a','an','of','to','and','in','is','it','on','for'))) AS DOUBLE)/len(tk) END, 4) AS stopword_ratio,
        | round(CASE WHEN len(text)=0 THEN 0.0
        |   ELSE CAST(len(regexp_replace(text, '[^.,;:!?''"()-]', '', 'g')) AS DOUBLE)/len(text) END, 4) AS punct_ratio
        |FROM toks),
        |qf AS (SELECT doc_id, n_tokens FROM q
        |       WHERE n_tokens >= 25 AND stopword_ratio <= 0.1 AND punct_ratio <= 0.2
        |         AND mean_token_len BETWEEN 2.0 AND 12.0),
        |sc AS (SELECT doc_id,
        | len(list_filter(tk, x -> lower(x) IN ('der','die','und','das','ist'))) AS s_de,
        | len(list_filter(tk, x -> lower(x) IN ('the','and','of','is','a'))) AS s_en,
        | len(list_filter(tk, x -> lower(x) IN ('el','los','que','y','es'))) AS s_es,
        | len(list_filter(tk, x -> lower(x) IN ('le','la','et','les','de'))) AS s_fr
        |FROM toks),
        |lp AS (SELECT doc_id,
        | CASE WHEN greatest(s_de, s_en, s_es, s_fr) = 0 THEN 'und'
        |      WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr THEN 'de'
        |      WHEN s_en >= s_es AND s_en >= s_fr THEN 'en'
        |      WHEN s_es >= s_fr THEN 'es'
        |      ELSE 'fr' END AS lang
        |FROM sc),
        |surv AS (SELECT qf.doc_id, qf.n_tokens
        |         FROM qf JOIN lp USING (doc_id) WHERE lp.lang = 'en'),
        |fp AS (SELECT surv.doc_id,
        |        md5(lower(regexp_replace(trim(nfc_normalize(d.text)), '\s+', ' ', 'g'))) AS fp
        |       FROM surv JOIN documents d USING (doc_id)),
        |kept AS (SELECT doc_id FROM (
        |  SELECT doc_id, row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
        |  FROM fp) WHERE rn = 1)""".stripMargin
}

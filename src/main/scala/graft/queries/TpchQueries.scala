package graft.queries

import org.apache.spark.sql.functions._

import graft.queries.Shared._

/** TPC-H-style relational queries (`q*`): Catalyst pushdown, join and
  * aggregate parity on the raw sf tables.
  */
object TpchQueries {

  private[graft] val all: Seq[QuerySpec] = Seq(
    QuerySpec("q1_agg", (s, dir) =>
      T(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity")).as("sum_qty"),
          min(col("l_shipdate")).as("min_ship"),
          max(col("l_shipdate")).as("max_ship"))
        .orderBy(col("l_returnflag"), col("l_linestatus")),
      """SELECT l_returnflag, l_linestatus, count(*) AS n, sum(l_quantity) AS sum_qty,
        |       min(l_shipdate) AS min_ship, max(l_shipdate) AS max_ship
        |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    QuerySpec("q2_top_orders", (s, dir) => {
      val o = T(s, dir, "orders")
      val c = T(s, dir, "customer")
      o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .filter(col("c_mktsegment") === "BUILDING")
        .select(col("o_orderkey"), col("o_totalprice"), col("c_name"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(10)
    },
      """SELECT o_orderkey, o_totalprice, c_name
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin),

    QuerySpec("q3_nation_volume", (s, dir) => {
      val li = T(s, dir, "lineitem")
      val sup = T(s, dir, "supplier")
      val nat = T(s, dir, "nation")
      li.join(broadcast(sup), li("l_suppkey") === sup("s_suppkey"))
        .join(broadcast(nat), sup("s_nationkey") === nat("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("n_items"), sum(col("l_quantity")).as("sum_qty"))
        .orderBy(col("n_name"))
    },
      """SELECT n_name, count(*) AS n_items, sum(l_quantity) AS sum_qty
        |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // TPC-H Q8 shape (national market share): the 5-way star join whose
    // ordering Catalyst + AQE pick — the two fact tables shuffle on the
    // orderkey, every dimension broadcasts. Volumes are EXACT integer
    // cent×pct products so the per-year sums hash regardless of
    // aggregation order; only the final share is a (single) division
    QuerySpec("q8_market_share", (s, dir) => {
      val li = T(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey"),
        (round(col("l_extendedprice") * 100).cast("long") *
          (lit(100L) - round(col("l_discount") * 100).cast("long"))).as("vol"))
      val ord = T(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"),
        year(col("o_orderdate")).cast("long").as("yr"))
      val cust = T(s, dir, "customer").select(col("c_custkey"), col("c_nationkey"))
      val natR0 = T(s, dir, "nation").filter(col("n_regionkey") === 0)
        .select(col("n_nationkey"))
      val sup = T(s, dir, "supplier").select(col("s_suppkey"), col("s_nationkey"))
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(cust.join(broadcast(natR0),
          col("c_nationkey") === col("n_nationkey"))),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("yr"))
        .agg(sum(when(col("s_nationkey") === 7, col("vol")).otherwise(0L)).as("nation_vol"),
          sum(col("vol")).as("total_vol"))
        .select(col("yr"), col("nation_vol"), col("total_vol"),
          round(col("nation_vol").cast("double") / col("total_vol").cast("double"), 6)
            .as("share"))
        .orderBy(col("yr"))
    },
      """WITH v AS (
        |  SELECT CAST(year(o_orderdate) AS BIGINT) AS yr, s_nationkey,
        |         CAST(round(l_extendedprice * 100) AS BIGINT)
        |           * (100 - CAST(round(l_discount * 100) AS BIGINT)) AS vol
        |  FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON c_custkey = o_custkey
        |  JOIN nation cn ON cn.n_nationkey = c_nationkey AND cn.n_regionkey = 0
        |  JOIN supplier ON s_suppkey = l_suppkey
        |)
        |SELECT yr,
        |  CAST(sum(CASE WHEN s_nationkey = 7 THEN vol ELSE 0 END) AS BIGINT) AS nation_vol,
        |  CAST(sum(vol) AS BIGINT) AS total_vol,
        |  round(sum(CASE WHEN s_nationkey = 7 THEN vol ELSE 0 END)::DOUBLE
        |      / sum(vol)::DOUBLE, 6) AS share
        |FROM v GROUP BY 1 ORDER BY 1""".stripMargin),

    // TPC-H Q5 (local supplier volume): the 6-table star with the
    // customer-nation = supplier-nation "local" condition carried on the
    // join itself; year filter pushes to the orders scan, region filter
    // prunes nation before anything joins, dimensions broadcast, the two
    // fact tables shuffle on orderkey/custkey — revenue as exact
    // cents×pct integers so the sum is merge-order independent
    QuerySpec("q5_local_volume", (s, dir) => {
      val li = T(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey"),
        (round(col("l_extendedprice") * 100).cast("long") *
          (lit(100L) - round(col("l_discount") * 100).cast("long"))).as("vol"))
      val ord = T(s, dir, "orders").filter(year(col("o_orderdate")) === 1997)
        .select(col("o_orderkey"), col("o_custkey"))
      val cust = T(s, dir, "customer").select(col("c_custkey"), col("c_nationkey"))
      val sup = T(s, dir, "supplier").select(col("s_suppkey"), col("s_nationkey"))
      val nat = T(s, dir, "nation").filter(col("n_regionkey") === 1)
        .select(col("n_nationkey"), col("n_name"))
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .join(broadcast(sup), col("l_suppkey") === col("s_suppkey")
          && col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(sum(col("vol")).as("revenue_scaled"))
        .orderBy(col("revenue_scaled").desc, col("n_name"))
    },
      """SELECT n_name,
        |       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
        |                 * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS BIGINT)
        |         AS revenue_scaled
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey AND n_regionkey = 1
        |WHERE year(o_orderdate) = 1997
        |GROUP BY 1 ORDER BY 2 DESC, 1""".stripMargin),

    // TPC-H Q13 (customer order distribution): the LEFT OUTER join that
    // keeps zero-order customers — count(o_orderkey) counts non-nulls, so
    // the distribution's c_count=0 bucket falls out of the null rows; the
    // priority exclusion rides the orders scan as a pushed filter
    QuerySpec("q13_cust_dist", (s, dir) => {
      val cust = T(s, dir, "customer").select(col("c_custkey"))
      val ord = T(s, dir, "orders")
        .filter(col("o_orderpriority") =!= "1-URGENT")
        .select(col("o_orderkey"), col("o_custkey"))
      cust.join(ord, col("c_custkey") === col("o_custkey"), "left")
        .groupBy(col("c_custkey")).agg(count(col("o_orderkey")).as("c_count"))
        .groupBy(col("c_count")).agg(count(lit(1)).as("custdist"))
        .orderBy(col("custdist").desc, col("c_count").desc)
    },
      """WITH co AS (
        |  SELECT c_custkey, count(o_orderkey) AS c_count
        |  FROM customer
        |  LEFT JOIN orders ON c_custkey = o_custkey
        |    AND o_orderpriority <> '1-URGENT'
        |  GROUP BY 1
        |)
        |SELECT c_count, count(*) AS custdist
        |FROM co GROUP BY 1 ORDER BY 2 DESC, 1 DESC""".stripMargin),

    // TPC-H Q18 (large-volume orders): the group-then-having shape — the
    // quantity rollup is one map-side-combinable aggregate whose >300
    // filter survives as a post-agg predicate, then a keyed join back to
    // orders; top-20 is a TakeOrdered, never a global sort
    QuerySpec("q18_large_orders", (s, dir) => {
      val big = T(s, dir, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(sum(col("l_quantity")).cast("long").as("total_qty"))
        .filter(col("total_qty") > 300)
      val ord = T(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"),
        round(col("o_totalprice") * 100).cast("long").as("price_cents"))
      big.join(ord, col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey"), col("l_orderkey").as("orderkey"),
          col("price_cents"), col("total_qty"))
        .orderBy(col("price_cents").desc, col("orderkey")).limit(20)
    },
      """WITH big AS (
        |  SELECT l_orderkey, CAST(sum(l_quantity) AS BIGINT) AS total_qty
        |  FROM lineitem GROUP BY 1 HAVING CAST(sum(l_quantity) AS BIGINT) > 300
        |)
        |SELECT o_custkey, l_orderkey AS orderkey,
        |       CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents,
        |       total_qty
        |FROM big JOIN orders ON l_orderkey = o_orderkey
        |ORDER BY price_cents DESC, orderkey LIMIT 20""".stripMargin),

    // TPC-H Q3 shipping priority: both date filters push to the parquet
    // scans, the segment filter prunes customer before the join, and the
    // revenue is summed as exact integers (cents × discount-percent) so the
    // aggregate is merge-order independent — no explicit broadcast; at these
    // SFs AQE promotes the filtered customer side from runtime stats, at
    // 100 TB all three sides shuffle on their join keys
    QuerySpec("q3_shipping", (s, dir) => {
      val cut = to_timestamp(lit("1998-06-01"))
      val cust = T(s, dir, "customer")
        .filter(col("c_mktsegment") === "BUILDING").select(col("c_custkey"))
      val ord = T(s, dir, "orders").filter(col("o_orderdate") < cut)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"),
          col("o_orderpriority"))
      val li = T(s, dir, "lineitem").filter(col("l_shipdate") > cut)
        .select(col("l_orderkey"),
          (round(col("l_extendedprice") * 100).cast("long") *
            (lit(100L) - round(col("l_discount") * 100).cast("long"))).as("vol"))
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
        .agg(sum(col("vol")).as("revenue_scaled"))
        .select(col("l_orderkey"), col("revenue_scaled"), col("o_orderdate"),
          col("o_orderpriority"))
        .orderBy(col("revenue_scaled").desc, col("l_orderkey")).limit(10)
    },
      """SELECT l_orderkey,
        |       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
        |                 * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS BIGINT)
        |         AS revenue_scaled,
        |       o_orderdate, o_orderpriority
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey AND c_mktsegment = 'BUILDING'
        |JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE o_orderdate < TIMESTAMP '1998-06-01'
        |  AND l_shipdate > TIMESTAMP '1998-06-01'
        |GROUP BY l_orderkey, o_orderdate, o_orderpriority
        |ORDER BY revenue_scaled DESC, l_orderkey LIMIT 10""".stripMargin),

    // TPC-H Q19 (discounted revenue, disjunctive predicate): three
    // brand/size/quantity OR-branches — the shape that tests whether the
    // engine pushes a disjunction to the dimension scan and keeps the
    // fact-side quantity bounds (l_quantity ≤ 36 covers all branches)
    // sargable; part broadcast, exact cents×pct revenue
    QuerySpec("q19_disjunct", (s, dir) => {
      val li = T(s, dir, "lineitem").select(col("l_partkey"),
        col("l_quantity"),
        (round(col("l_extendedprice") * 100).cast("long") *
          (lit(100L) - round(col("l_discount") * 100).cast("long"))).as("vol"))
      val part = T(s, dir, "part")
        .select(col("p_partkey"), col("p_brand"), col("p_size"))
      val cond =
        (col("p_brand") === "Brand#1" && col("p_size").between(1, 15) &&
          col("l_quantity").between(1, 12)) ||
        (col("p_brand") === "Brand#2" && col("p_size").between(10, 25) &&
          col("l_quantity").between(10, 24)) ||
        (col("p_brand") === "Brand#3" && col("p_size").between(20, 40) &&
          col("l_quantity").between(24, 36))
      li.join(broadcast(part), col("l_partkey") === col("p_partkey"))
        .filter(cond)
        .agg(count(lit(1)).as("n_lines"), sum("vol").as("revenue_scaled"))
    },
      """SELECT count(*) AS n_lines,
        |       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
        |                 * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS BIGINT)
        |         AS revenue_scaled
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
        |         AND l_quantity BETWEEN 1 AND 12)
        |   OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 25
        |         AND l_quantity BETWEEN 10 AND 24)
        |   OR (p_brand = 'Brand#3' AND p_size BETWEEN 20 AND 40
        |         AND l_quantity BETWEEN 24 AND 36)""".stripMargin),

    // TPC-H Q22 (global sales opportunity): customers above the global
    // positive-balance average who never ordered — the scalar-subquery
    // threshold (a 1-row broadcast) plus LEFT ANTI join on the fact table,
    // grouped by nation; counts and cent sums exact
    QuerySpec("q22_idle_rich", (s, dir) => {
      val cust = T(s, dir, "customer").select(col("c_custkey"),
        col("c_nationkey").cast("long").as("nk"),
        round(col("c_acctbal") * 100).cast("long").as("cents"))
      val thr = cust.filter(col("cents") > 0)
        .agg((sum("cents").cast("double") / count(lit(1)).cast("double"))
          .as("thr"))
      val ordered = T(s, dir, "orders").select(col("o_custkey")).distinct()
      cust.crossJoin(thr)
        .filter(col("cents").cast("double") > col("thr"))
        .join(ordered, col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy("nk")
        .agg(count(lit(1)).as("n_cust"), sum("cents").as("cents"))
        .orderBy("nk")
    },
      """WITH c AS (
        |  SELECT c_custkey, CAST(c_nationkey AS BIGINT) AS nk,
        |         CAST(round(c_acctbal * 100) AS BIGINT) AS cents
        |  FROM customer
        |), t AS (
        |  SELECT CAST(sum(cents) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS thr
        |  FROM c WHERE cents > 0
        |)
        |SELECT nk, count(*) AS n_cust, CAST(sum(cents) AS BIGINT) AS cents
        |FROM c CROSS JOIN t
        |WHERE CAST(cents AS DOUBLE) > t.thr
        |  AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        |GROUP BY nk ORDER BY nk""".stripMargin),

    // TPC-H Q14 (promotion effect): promo share of one month's revenue —
    // date window pushed to the lineitem scan, part dim broadcast, both
    // revenue masses exact scaled integers, one closing division
    QuerySpec("q14_promo", (s, dir) => {
      val lo = to_timestamp(lit("1997-03-01"))
      val hi = to_timestamp(lit("1997-04-01"))
      val li = T(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lo && col("l_shipdate") < hi)
        .select(col("l_partkey"),
          (round(col("l_extendedprice") * 100).cast("long") *
            (lit(100L) - round(col("l_discount") * 100).cast("long"))).as("vol"))
      val part = T(s, dir, "part").select(col("p_partkey"), col("p_type"))
      li.join(broadcast(part), col("l_partkey") === col("p_partkey"))
        .agg(sum(when(col("p_type") === "PROMO", col("vol")).otherwise(0L))
            .as("promo_scaled"),
          sum(col("vol")).as("total_scaled"))
        .select(col("promo_scaled"), col("total_scaled"),
          round(lit(100.0) * col("promo_scaled").cast("double") /
            col("total_scaled").cast("double"), 6).as("promo_pct"))
    },
      """WITH j AS (
        |  SELECT p_type,
        |         CAST(round(l_extendedprice * 100) AS BIGINT)
        |           * (100 - CAST(round(l_discount * 100) AS BIGINT)) AS vol
        |  FROM lineitem JOIN part ON p_partkey = l_partkey
        |  WHERE l_shipdate >= TIMESTAMP '1997-03-01'
        |    AND l_shipdate < TIMESTAMP '1997-04-01'
        |)
        |SELECT CAST(sum(CASE WHEN p_type = 'PROMO' THEN vol ELSE 0 END) AS BIGINT)
        |         AS promo_scaled,
        |       CAST(sum(vol) AS BIGINT) AS total_scaled,
        |       round(100.0 * CAST(sum(CASE WHEN p_type = 'PROMO' THEN vol ELSE 0 END) AS DOUBLE)
        |             / CAST(sum(vol) AS DOUBLE), 6) AS promo_pct
        |FROM j""".stripMargin),

    // TPC-H Q10 (returned-item revenue): who returned the most value in a
    // quarter — returnflag filter and the date window both pushed to the
    // scans, the two facts shuffle on orderkey, nation broadcast, exact
    // integer cents×pct revenue, top-20 as a TakeOrdered (no global sort)
    QuerySpec("q10_returns", (s, dir) => {
      val lo = to_timestamp(lit("1996-01-01"))
      val hi = to_timestamp(lit("1996-04-01"))
      val li = T(s, dir, "lineitem").filter(col("l_returnflag") === "R")
        .select(col("l_orderkey"),
          (round(col("l_extendedprice") * 100).cast("long") *
            (lit(100L) - round(col("l_discount") * 100).cast("long"))).as("vol"))
      val ord = T(s, dir, "orders")
        .filter(col("o_orderdate") >= lo && col("o_orderdate") < hi)
        .select(col("o_orderkey"), col("o_custkey"))
      val cust = T(s, dir, "customer").select(col("c_custkey"), col("c_name"),
        col("c_nationkey").cast("long").as("cnk"),
        round(col("c_acctbal") * 100).cast("long").as("acctbal_cents"))
      val nat = T(s, dir, "nation")
        .select(col("n_nationkey").cast("long").as("nnk"), col("n_name"))
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .join(broadcast(nat), col("cnk") === col("nnk"))
        .groupBy(col("c_custkey"), col("c_name"), col("acctbal_cents"),
          col("n_name"))
        .agg(sum("vol").as("revenue_scaled"))
        .select(col("c_custkey"), col("c_name"), col("n_name"),
          col("acctbal_cents"), col("revenue_scaled"))
        .orderBy(col("revenue_scaled").desc, col("c_custkey")).limit(20)
    },
      """SELECT c_custkey, c_name, n_name,
        |       CAST(round(c_acctbal * 100) AS BIGINT) AS acctbal_cents,
        |       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
        |                 * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS BIGINT)
        |         AS revenue_scaled
        |FROM customer
        |JOIN nation ON n_nationkey = c_nationkey
        |JOIN orders ON o_custkey = c_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE l_returnflag = 'R'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1996-04-01'
        |GROUP BY c_custkey, c_name, n_name, c_acctbal
        |ORDER BY revenue_scaled DESC, c_custkey LIMIT 20""".stripMargin),

    // TPC-H Q17 (small-quantity-order revenue): per-part average quantity
    // as a correlated threshold. The avg comparison is cross-multiplied to
    // exact integers (qty·5·cnt < sum_qty ⟺ qty < 0.2·avg), revenue stays
    // in integer cents; the lineitem self-join is co-partitioned on
    // l_partkey (the aggregate's exchange is reused), the part dim is
    // broadcast — the plan a 100 TB fact table needs
    QuerySpec("q17_small_qty", (s, dir) => {
      val li = T(s, dir, "lineitem").select(col("l_partkey"),
        col("l_quantity").cast("long").as("qty"),
        round(col("l_extendedprice") * 100).cast("long").as("cents"))
      val perPart = li.groupBy(col("l_partkey"))
        .agg(sum(col("qty")).as("sq"), count(lit(1)).as("cq"))
      val pa = T(s, dir, "part").filter(col("p_size") <= 10)
        .select(col("p_partkey"), col("p_brand"))
      li.join(perPart, "l_partkey")
        .filter(col("qty") * 5L * col("cq") < col("sq"))
        .join(broadcast(pa), col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"))
        .agg(sum(col("cents")).as("rev_cents"), count(lit(1)).as("n_li"))
        .withColumn("avg_yearly", round(col("rev_cents") / 700.0, 4))
        .orderBy(col("p_brand"))
    },
      """WITH li AS (
        |  SELECT l_partkey, CAST(l_quantity AS BIGINT) AS qty,
        |         CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
        |  FROM lineitem
        |), per_part AS (
        |  SELECT l_partkey, sum(qty) AS sq, count(*) AS cq FROM li GROUP BY 1
        |)
        |SELECT p_brand, CAST(sum(cents) AS BIGINT) AS rev_cents,
        |       count(*) AS n_li,
        |       round(sum(cents) / 700.0, 4) AS avg_yearly
        |FROM li
        |JOIN per_part USING (l_partkey)
        |JOIN part ON l_partkey = p_partkey AND p_size <= 10
        |WHERE qty * 5 * cq < sq
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin),

    // TPC-H Q21 shape (no receipt/commit dates in this corpus, so "kept the
    // order waiting" = shipped the order's LAST line while other suppliers
    // were done): finished orders with >1 supplier where EXACTLY ONE
    // supplier ships the max shipdate — the EXISTS/NOT-EXISTS pair as one
    // orderkey-grouped pass (no correlated subquery, no second lineitem
    // scan), then a per-supplier count. Counts are exact integers
    QuerySpec("q21_waiting", (s, dir) => {
      val f = T(s, dir, "orders").filter(col("o_orderstatus") === "F")
        .select(col("o_orderkey"))
      val l = T(s, dir, "lineitem")
        .join(f, col("l_orderkey") === col("o_orderkey"))
        .select(col("l_orderkey").as("ok"), col("l_suppkey").as("sk"),
          col("l_shipdate").as("sd"))
      val per = l.groupBy("ok")
        .agg(max(col("sd")).as("mx"), countDistinct(col("sk")).as("nsupp"))
      val lastShip = l.join(per, "ok")
        .filter(col("sd") === col("mx") && col("nsupp") > 1)
        .select(col("ok"), col("sk")).distinct()
      val lone = lastShip.groupBy("ok")
        .agg(min(col("sk")).as("sk"), count(lit(1)).as("nlast"))
        .filter(col("nlast") === 1)
      lone.join(broadcast(T(s, dir, "supplier")),
          col("sk") === col("s_suppkey"))
        .groupBy(col("s_name")).agg(count(lit(1)).as("numwait"))
        .orderBy(col("numwait").desc, col("s_name")).limit(20)
    },
      """WITH l AS (
        |  SELECT l_orderkey AS ok, l_suppkey AS sk, l_shipdate AS sd
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE o_orderstatus = 'F'
        |), per AS (
        |  SELECT ok, max(sd) AS mx, count(DISTINCT sk) AS nsupp FROM l GROUP BY 1
        |), lastship AS (
        |  SELECT DISTINCT l.ok, l.sk
        |  FROM l JOIN per ON l.ok = per.ok AND l.sd = per.mx
        |  WHERE per.nsupp > 1
        |), lone AS (
        |  SELECT ok, min(sk) AS sk FROM lastship GROUP BY 1 HAVING count(*) = 1
        |)
        |SELECT s_name, count(*) AS numwait
        |FROM lone JOIN supplier ON s_suppkey = sk
        |GROUP BY 1 ORDER BY numwait DESC, s_name LIMIT 20""".stripMargin),

    // TPC-H Q4 (order priority checking, adapted: a line shipped >30 days
    // after the order stands in for the absent commit<receipt pair): the
    // EXISTS shape as one real LeftSemi — orders semi-joined against late
    // lineitems, then the priority distribution; with Q4 and Q7 the full
    // 22-query TPC-H shape set is covered
    QuerySpec("q4_priority", (s, dir) => {
      val ord = T(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1997-01-01").cast("timestamp")
          && col("o_orderdate") < lit("1997-04-01").cast("timestamp"))
        .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      val late = T(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_shipdate"))
      ord.join(late,
          col("o_orderkey") === col("l_orderkey")
            && col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 30 DAYS"),
          "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("order_count"))
        .orderBy(col("o_orderpriority"))
    },
      """SELECT o_orderpriority, count(*)::BIGINT AS order_count
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1997-01-01'
        |  AND o_orderdate < TIMESTAMP '1997-04-01'
        |  AND EXISTS (
        |    SELECT 1 FROM lineitem
        |    WHERE l_orderkey = o_orderkey
        |      AND l_shipdate > o_orderdate + INTERVAL 30 DAY)
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // TPC-H Q7 (volume shipping): the two-nation flow — supplier nation and
    // customer nation threaded through both fact joins, the symmetric
    // (7,8)/(8,7) pair filter carried on the broadcast dims, revenue per
    // (supp_nation, cust_nation, year) in exact cent-pct integers
    QuerySpec("q7_volume", (s, dir) => {
      val li = T(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey"),
        year(col("l_shipdate")).cast("long").as("l_year"),
        (round(col("l_extendedprice") * 100).cast("long") *
          (lit(100L) - round(col("l_discount") * 100).cast("long"))).as("vol"))
      val sup = T(s, dir, "supplier").select(col("s_suppkey"),
        col("s_nationkey").as("supp_nk"))
      val ord = T(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
      val cust = T(s, dir, "customer").select(col("c_custkey"),
        col("c_nationkey").as("cust_nk"))
      val nat = T(s, dir, "nation").select(col("n_nationkey"), col("n_name"))
      li.join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .filter((col("supp_nk") === 7 && col("cust_nk") === 8)
          || (col("supp_nk") === 8 && col("cust_nk") === 7))
        .join(broadcast(nat.select(col("n_nationkey").as("snk"),
          col("n_name").as("supp_nation"))), col("supp_nk") === col("snk"))
        .join(broadcast(nat.select(col("n_nationkey").as("cnk"),
          col("n_name").as("cust_nation"))), col("cust_nk") === col("cnk"))
        .groupBy(col("supp_nation"), col("cust_nation"), col("l_year"))
        .agg(sum(col("vol")).as("revenue_scaled"))
        .orderBy(col("supp_nation"), col("cust_nation"), col("l_year"))
    },
      """SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
        |       CAST(year(l_shipdate) AS BIGINT) AS l_year,
        |       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
        |         * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS BIGINT)
        |         AS revenue_scaled
        |FROM lineitem
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation sn ON s_nationkey = sn.n_nationkey
        |  JOIN nation cn ON c_nationkey = cn.n_nationkey
        |WHERE (s_nationkey = 7 AND c_nationkey = 8)
        |   OR (s_nationkey = 8 AND c_nationkey = 7)
        |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin),

    // TPC-H Q6 (forecast revenue change): the pure scan-aggregate — every
    // predicate (shipdate range, discount band, quantity cap) pushes to the
    // parquet scan, no join, no shuffle beyond the single partial-agg
    // exchange; revenue as exact cents×pct integers
    QuerySpec("q6_forecast", (s, dir) =>
      T(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp")
          && col("l_shipdate") < lit("1998-01-01").cast("timestamp")
          && col("l_quantity") < 24)
        .select((round(col("l_extendedprice") * 100).cast("long") *
          round(col("l_discount") * 100).cast("long")).as("disc_rev"),
          round(col("l_discount") * 100).cast("long").as("pct"))
        .filter(col("pct") >= 5 && col("pct") <= 7)
        .agg(sum(col("disc_rev")).as("revenue_scaled"),
          count(lit(1)).as("n_items")),
      """SELECT CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
        |         * CAST(round(l_discount * 100) AS BIGINT)) AS BIGINT)
        |         AS revenue_scaled,
        |       count(*)::BIGINT AS n_items
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |  AND l_shipdate < TIMESTAMP '1998-01-01'
        |  AND l_quantity < 24
        |  AND CAST(round(l_discount * 100) AS BIGINT) BETWEEN 5 AND 7""".stripMargin),

    // TPC-H Q9 (product-type profit, adapted: the dataset has no partsupp,
    // so supply cost is the synthetic 60%-of-retail — the JOIN SHAPE is the
    // point): the one multi-fact star nothing else exercises — lineitem
    // drives, the name-filtered part and the supplier×nation dimensions
    // broadcast, orders joins on the orderkey shuffle for the year axis;
    // profit per (nation, year) in exact cent×pct integers
    QuerySpec("q9_profit", (s, dir) => {
      val li = T(s, dir, "lineitem").select(col("l_orderkey"),
        col("l_partkey"), col("l_suppkey"),
        (round(col("l_extendedprice") * 100).cast("long") *
          (lit(100L) - round(col("l_discount") * 100).cast("long"))).as("vol"),
        col("l_quantity").cast("long").as("qty"))
      val prt = T(s, dir, "part").filter(col("p_name").like("large%"))
        .select(col("p_partkey"),
          round(col("p_retailprice") * 100).cast("long").as("retail_cents"))
      val sup = T(s, dir, "supplier").select(col("s_suppkey"), col("s_nationkey"))
      val nat = T(s, dir, "nation").select(col("n_nationkey"), col("n_name"))
      val ord = T(s, dir, "orders").select(col("o_orderkey"),
        year(col("o_orderdate")).cast("long").as("yr"))
      li.join(broadcast(prt), col("l_partkey") === col("p_partkey"))
        .join(broadcast(sup.join(broadcast(nat),
          col("s_nationkey") === col("n_nationkey"))),
          col("l_suppkey") === col("s_suppkey"))
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("n_name"), col("yr"))
        .agg(sum(col("vol") - col("retail_cents") * 60L * col("qty"))
          .as("profit_scaled"))
        .orderBy(col("n_name"), col("yr").desc)
    },
      """SELECT n_name, CAST(year(o_orderdate) AS BIGINT) AS yr,
        |       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
        |           * (100 - CAST(round(l_discount * 100) AS BIGINT))
        |         - CAST(round(p_retailprice * 100) AS BIGINT) * 60
        |           * CAST(l_quantity AS BIGINT)) AS BIGINT) AS profit_scaled
        |FROM lineitem
        |  JOIN part ON l_partkey = p_partkey
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |  JOIN orders ON l_orderkey = o_orderkey
        |WHERE p_name LIKE 'large%'
        |GROUP BY 1, 2 ORDER BY n_name, yr DESC""".stripMargin),

    // TPC-H Q11 (important stock, adapted to the lineitem-derived holdings):
    // per-part value from region-0 suppliers, kept when value exceeds
    // 0.5% of the total — the aggregate-vs-global-scalar-threshold shape;
    // the scalar total broadcasts (1 row), and the comparison stays in
    // exact integers (value·1000 > 5·total)
    QuerySpec("q11_important_parts", (s, dir) => {
      val natR0 = T(s, dir, "nation").filter(col("n_regionkey") === 0)
        .select(col("n_nationkey"))
      val sup = T(s, dir, "supplier")
        .join(broadcast(natR0), col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"))
      val li = T(s, dir, "lineitem")
        .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
        .select(col("l_partkey"),
          (round(col("l_extendedprice") * 100).cast("long") *
            (lit(100L) - round(col("l_discount") * 100).cast("long"))).as("vol"))
      val perPart = li.groupBy(col("l_partkey"))
        .agg(sum(col("vol")).as("value_scaled"))
      val total = perPart.agg(sum(col("value_scaled")).as("tv"))
      perPart.crossJoin(total) // 1-row scalar, broadcast
        .filter(col("value_scaled") * 1000L > lit(5L) * col("tv"))
        .select(col("l_partkey").as("partkey"), col("value_scaled"))
        .orderBy(col("value_scaled").desc, col("partkey"))
    },
      """WITH v AS (
        |  SELECT l_partkey,
        |         CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
        |           * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS BIGINT)
        |           AS value_scaled
        |  FROM lineitem
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |  WHERE n_regionkey = 0
        |  GROUP BY 1
        |), t AS (SELECT CAST(sum(value_scaled) AS BIGINT) AS tv FROM v)
        |SELECT l_partkey AS partkey, value_scaled
        |FROM v CROSS JOIN t
        |WHERE value_scaled * 1000 > 5 * tv
        |ORDER BY value_scaled DESC, partkey""".stripMargin),

    // TPC-H Q12 (shipmode lateness, adapted: returnflag stands in for the
    // absent shipmode, ship>order+60d for the absent receipt/commit pair):
    // the fact-fact orderkey join + CASE-split counts; the shipdate range
    // rides the lineitem scan
    QuerySpec("q12_late_priority", (s, dir) => {
      val li = T(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp")
          && col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
        .select(col("l_orderkey"), col("l_returnflag"), col("l_shipdate"))
      val ord = T(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .filter(col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"))
        .groupBy(col("l_returnflag"))
        .agg(sum(when(col("o_orderpriority") === "1-URGENT"
            || col("o_orderpriority") === "2-HIGH", 1L).otherwise(0L))
          .as("high_line_count"),
          sum(when(col("o_orderpriority") =!= "1-URGENT"
            && col("o_orderpriority") =!= "2-HIGH", 1L).otherwise(0L))
          .as("low_line_count"))
        .orderBy(col("l_returnflag"))
    },
      """SELECT l_returnflag,
        |       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |       CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
        |         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |  AND l_shipdate < TIMESTAMP '1998-01-01'
        |  AND l_shipdate > o_orderdate + INTERVAL 60 DAY
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // TPC-H Q15 (top supplier): the revenue "view" + max-scalar + equality
    // join-back shape — revenue per supplier over one half-year, the 1-row
    // max broadcasts, winners join the supplier dim; ties all surface
    // (order by suppkey), exactly as the spec's view formulation does
    QuerySpec("q15_top_supplier", (s, dir) => {
      val rev = T(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp")
          && col("l_shipdate") < lit("1997-07-01").cast("timestamp"))
        .groupBy(col("l_suppkey"))
        .agg(sum(round(col("l_extendedprice") * 100).cast("long") *
          (lit(100L) - round(col("l_discount") * 100).cast("long")))
          .as("total_revenue_scaled"))
      val mx = rev.agg(max(col("total_revenue_scaled")).as("mx"))
      rev.crossJoin(mx) // 1-row scalar, broadcast
        .filter(col("total_revenue_scaled") === col("mx"))
        .join(broadcast(T(s, dir, "supplier")),
          col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"), col("total_revenue_scaled"))
        .orderBy(col("s_suppkey"))
    },
      """WITH rev AS (
        |  SELECT l_suppkey,
        |         CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
        |           * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS BIGINT)
        |           AS total_revenue_scaled
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |    AND l_shipdate < TIMESTAMP '1997-07-01'
        |  GROUP BY 1
        |)
        |SELECT s_suppkey, s_name, total_revenue_scaled
        |FROM rev JOIN supplier ON l_suppkey = s_suppkey
        |WHERE total_revenue_scaled = (SELECT max(total_revenue_scaled) FROM rev)
        |ORDER BY s_suppkey""".stripMargin),

    // TPC-H Q16 (supplier count, adapted: distinct lineitem (part,supplier)
    // pairs stand in for partsupp, a negative-balance supplier set for the
    // complaints subquery): the ANTI-join exclusion + count-distinct
    // rollup; brand/type exclusions and the size IN-list prune the part
    // dim before it broadcasts
    QuerySpec("q16_supplier_cnt", (s, dir) => {
      val pairs = T(s, dir, "lineitem")
        .select(col("l_partkey"), col("l_suppkey")).distinct()
      val prt = T(s, dir, "part")
        .filter(col("p_brand") =!= "Brand#13" && col("p_type") =!= "PROMO"
          && col("p_size").isin(1, 4, 9, 14, 19, 24, 29, 34))
        .select(col("p_partkey"), col("p_brand"), col("p_type"), col("p_size"))
      val badSup = T(s, dir, "supplier").filter(col("s_acctbal") < 1000.0)
        .select(col("s_suppkey"))
      pairs
        .join(broadcast(badSup), col("l_suppkey") === col("s_suppkey"),
          "left_anti")
        .join(broadcast(prt), col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"), col("p_type"), col("p_size"))
        .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
        .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"),
          col("p_size"))
    },
      """WITH pairs AS (
        |  SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
        |  WHERE l_suppkey NOT IN
        |    (SELECT s_suppkey FROM supplier WHERE s_acctbal < 1000)
        |)
        |SELECT p_brand, p_type, p_size,
        |       count(DISTINCT l_suppkey)::BIGINT AS supplier_cnt
        |FROM pairs JOIN part ON l_partkey = p_partkey
        |WHERE p_brand <> 'Brand#13' AND p_type <> 'PROMO'
        |  AND p_size IN (1, 4, 9, 14, 19, 24, 29, 34)
        |GROUP BY 1, 2, 3
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin),

    // TPC-H Q20 (excess stock, adapted: the year's shipped quantity per
    // (part, supplier) stands in for partsupp availqty): the nested
    // SEMI-JOIN chain — lineitem semi-joined against the name-filtered
    // part dim, the >50-qty qualifying pairs then semi-join the supplier
    // dim, region filter last; both semi-joins are real LeftSemi operators
    // the planner must keep (its PlanDump plan shows both)
    QuerySpec("q20_excess_stock", (s, dir) => {
      val prt = T(s, dir, "part").filter(col("p_name").like("small%"))
        .select(col("p_partkey"))
      val qual = T(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp")
          && col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
        .join(broadcast(prt), col("l_partkey") === col("p_partkey"),
          "left_semi")
        .groupBy(col("l_partkey"), col("l_suppkey"))
        .agg(sum(col("l_quantity").cast("long")).as("qty"))
        .filter(col("qty") > 50L)
        .select(col("l_suppkey")).distinct()
      val natR1 = T(s, dir, "nation").filter(col("n_regionkey") === 1)
        .select(col("n_nationkey"))
      T(s, dir, "supplier")
        .join(qual, col("s_suppkey") === col("l_suppkey"), "left_semi")
        .join(broadcast(natR1), col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("s_name"))
        .orderBy(col("s_name"))
    },
      """WITH qual AS (
        |  SELECT DISTINCT l_suppkey
        |  FROM (
        |    SELECT l_partkey, l_suppkey, CAST(sum(CAST(l_quantity AS BIGINT))
        |      AS BIGINT) AS qty
        |    FROM lineitem
        |    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |      AND l_shipdate < TIMESTAMP '1998-01-01'
        |      AND l_partkey IN (SELECT p_partkey FROM part
        |                        WHERE p_name LIKE 'small%')
        |    GROUP BY 1, 2
        |    HAVING sum(CAST(l_quantity AS BIGINT)) > 50
        |  )
        |)
        |SELECT s_suppkey, s_name
        |FROM supplier
        |JOIN nation ON s_nationkey = n_nationkey
        |WHERE n_regionkey = 1
        |  AND s_suppkey IN (SELECT l_suppkey FROM qual)
        |ORDER BY s_name""".stripMargin),

    // join-CONSISTENT sampling: both tables sampled by hashing the JOIN
    // key, so the sampled child table has ZERO orphans (n_orphan is
    // computed by a real anti-join, not assumed) — independent row
    // sampling would orphan ~(1-p) of line items
    QuerySpec("q7_consistent_sample", (s, dir) => {
      import graft.pipeline.Profiling.consistentSampleKeep
      val keep = (c: org.apache.spark.sql.Column) =>
        consistentSampleKeep(c, "cs1:", ppm = 200000)
      val ord = T(s, dir, "orders").filter(keep(col("o_orderkey")))
      val li = T(s, dir, "lineitem").filter(keep(col("l_orderkey")))
      val orphans = li.join(ord, li("l_orderkey") === ord("o_orderkey"),
        "left_anti")
      val nOrd = ord.agg(count(lit(1)).as("n_orders"))
      val nLi = li.agg(count(lit(1)).as("n_lineitems"))
      val nOrph = orphans.agg(count(lit(1)).as("n_orphan"))
      nOrd.crossJoin(nLi).crossJoin(nOrph)
    },
      {
        import graft.pipeline.Profiling.consistentSampleKeepDuckSql
        s"""WITH so AS (
           |  SELECT o_orderkey FROM orders
           |  WHERE ${consistentSampleKeepDuckSql("o_orderkey", "cs1:", 200000)}
           |), sl AS (
           |  SELECT l_orderkey FROM lineitem
           |  WHERE ${consistentSampleKeepDuckSql("l_orderkey", "cs1:", 200000)}
           |)
           |SELECT (SELECT count(*) FROM so) AS n_orders,
           |       (SELECT count(*) FROM sl) AS n_lineitems,
           |       (SELECT count(*) FROM sl
           |        WHERE l_orderkey NOT IN (SELECT o_orderkey FROM so)) AS n_orphan""".stripMargin
      }),

    // table profiling: per-column n/null/distinct/heavy-hitter/skew in ONE
    // unpivot pass + one (column, value) exchange — not C countDistinct
    // expand branches; the audit that decides where salting is needed
    QuerySpec("q6_profile", (s, dir) =>
      graft.pipeline.Profiling.columnProfile(T(s, dir, "lineitem"),
        Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
          "l_quantity", "l_extendedprice", "l_discount", "l_tax",
          "l_returnflag", "l_linestatus", "l_shipdate")),
      graft.pipeline.Profiling.columnProfileDuckSql("lineitem",
        Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
          "l_quantity", "l_extendedprice", "l_discount", "l_tax",
          "l_returnflag", "l_linestatus", "l_shipdate"))),

    // generic OLAP data skipping: lineitem clustered on the interleaved
    // (l_orderkey, l_suppkey) z-key — ONE physical order whose row-group
    // stats prune range filters on EITHER column (the spatial curve math
    // applied to plain numeric columns; pruning evidence in ScaleSpec)
    QuerySpec("q5_zorder_scan", (s, dir) => {
      val li = T(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_suppkey"), col("l_quantity"))
      val mm = li.agg(min("l_orderkey"), max("l_orderkey"),
        min("l_suppkey"), max("l_suppkey")).head()
      val (ok0, ok1, sk0, sk1) =
        (mm.getLong(0), mm.getLong(1), mm.getLong(2), mm.getLong(3))
      val d = java.nio.file.Files.createTempDirectory("graft-zt-q")
      d.toFile.deleteOnExit()
      val p = d.resolve("li_z").toString
      graft.plans.SpatialLayout.writeZOrderedTable(li, p,
        "l_orderkey", ok0.toDouble, ok1.toDouble,
        "l_suppkey", sk0.toDouble, sk1.toDouble)
      s.read.parquet(p)
        .filter(col("l_orderkey").between(ok0 + (ok1 - ok0) / 10, ok0 + (ok1 - ok0) / 5) &&
          col("l_suppkey").between(sk0 + (sk1 - sk0) / 4, sk0 + (sk1 - sk0) / 2))
        .agg(count(lit(1)).as("n"), sum(col("l_quantity")).as("sum_qty"),
          min(col("l_orderkey")).as("min_ok"), max(col("l_orderkey")).as("max_ok"))
    },
      """WITH mm AS (
        |  SELECT min(l_orderkey) AS ok0, max(l_orderkey) AS ok1,
        |         min(l_suppkey) AS sk0, max(l_suppkey) AS sk1
        |  FROM lineitem
        |)
        |SELECT count(*) AS n, sum(l_quantity) AS sum_qty,
        |       min(l_orderkey) AS min_ok, max(l_orderkey) AS max_ok
        |FROM lineitem, mm
        |WHERE l_orderkey BETWEEN ok0 + (ok1 - ok0) // 10 AND ok0 + (ok1 - ok0) // 5
        |  AND l_suppkey BETWEEN sk0 + (sk1 - sk0) // 4 AND sk0 + (sk1 - sk0) // 2""".stripMargin),

    // bucketed CO-LOCATED join: both fact tables written bucketBy(orderkey)
    // + sortBy, joined with zero Exchange on either input (plan shape
    // pinned by BucketingSpec) — the pay-once storage layout for repeated
    // fact-to-fact joins
    QuerySpec("q4_colocated_join", (s, dir) =>
      graft.plans.Bucketing.colocatedPriorityVolume(s, dir, buckets = 8),
      graft.plans.Bucketing.colocatedPriorityVolumeDuckSql)
  )
}

package graft
package contract

import org.apache.spark.sql.functions.{broadcast, col, count, lit, sum, unix_micros, when, round => sround}

/** TPC-H-shaped joins and aggregates over the synthetic warehouse tables. */
object TpchContract {
  import Shared._

  lazy val all: Seq[Q] = Seq(
    // ---- general relational surface (TPC-H-style, scale/bench anchors) ----
    Q("q_tpch_pricing", (s, d) =>
      table(s, d, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          sround(sum("l_quantity"), 2).as("sum_qty"),
          sround(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"),
          count(lit(1)).as("n"))
        .orderBy("l_returnflag", "l_linestatus"),
      """SELECT l_returnflag, l_linestatus,
        |       ROUND(SUM(l_quantity), 2) AS sum_qty,
        |       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
        |       COUNT(*) AS n
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin),
    Q("q_tpch_top_orders", (s, d) => {
      val li = table(s, d, "lineitem")
      val o = table(s, d, "orders").filter(col("o_orderpriority") === "1-URGENT")
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderkey")
        .agg(sround(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
        .orderBy(col("revenue").desc, col("o_orderkey").asc)
        .limit(10)
    },
      """SELECT o_orderkey, ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderpriority = '1-URGENT'
        |GROUP BY o_orderkey
        |ORDER BY revenue DESC, o_orderkey ASC LIMIT 10""".stripMargin),
    // deterministic salted join (Skew.saltedJoin) must be result-invisible:
    // the hot-key spread + small-side replication aggregates to exactly
    // the plain join. Integer-valued aggregates so the oracle is
    // sum-order-proof.
    // the salted join must aggregate to exactly the plain join
    Q("q_skew_join", (s, d) => {
      val li = table(s, d, "lineitem")
      val ords = table(s, d, "orders")
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey").as("l_orderkey"), col("o_orderpriority"))
      graft.operators.Skew.saltedJoin(li, ords, "l_orderkey")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"),
          sround(sum("l_quantity"), 2).as("total_qty"))
        .orderBy("o_orderpriority")
    },
      """SELECT o_orderpriority, count(*) AS n, ROUND(SUM(l_quantity), 2) AS total_qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderpriority = '1-URGENT'
        |GROUP BY 1 ORDER BY 1""".stripMargin),
    // Q18-shaped large-volume customers: the HAVING subquery becomes ONE
    // reusable per-order aggregation whose selective result (~1% of
    // orders at qty > 250) then BROADCASTS through the orders and
    // customer joins — the semi-join never re-shuffles the fact table,
    // the shape that survives a 100× scale-up
    // Q4-shaped order-priority checking: EXISTS becomes a LEFT SEMI join
    // (equi key + the non-equi lateness residual) — orders appear once
    // however many late lines they have; no distinct, no fan-out
    Q("q_tpch_priority", (s, d) => {
      val o = table(s, d, "orders").filter(
        col("o_orderdate") >= lit(java.sql.Timestamp.valueOf("1995-01-01 00:00:00")) &&
        col("o_orderdate") < lit(java.sql.Timestamp.valueOf("1995-07-01 00:00:00")))
      val late = table(s, d, "lineitem").select("l_orderkey", "l_shipdate")
      o.join(late,
          o("o_orderkey") === late("l_orderkey") &&
            late("l_shipdate") > o("o_orderdate") +
              org.apache.spark.sql.functions.expr("INTERVAL 90 DAYS"),
          "left_semi")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("order_count"))
        .orderBy("o_orderpriority")
    },
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM orders o
        |WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
        |  AND o_orderdate <  TIMESTAMP '1995-07-01 00:00:00'
        |  AND EXISTS (SELECT 1 FROM lineitem l
        |              WHERE l.l_orderkey = o.o_orderkey
        |                AND l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),
    Q("q_tpch_big_orders", (s, d) => {
      val hot = table(s, d, "lineitem")
        .groupBy("l_orderkey")
        .agg(sround(sum("l_quantity"), 2).as("total_qty"))
        .filter(col("total_qty") > 250)
      val o = table(s, d, "orders").select("o_orderkey", "o_custkey")
      val c = table(s, d, "customer").select("c_custkey", "c_name")
      broadcast(hot)
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .select(col("c_custkey"), col("c_name"), col("o_orderkey"), col("total_qty"))
        .orderBy(col("total_qty").desc, col("o_orderkey").asc)
        .limit(20)
    },
      """WITH hot AS (
        |  SELECT l_orderkey, ROUND(SUM(l_quantity), 2) AS total_qty
        |  FROM lineitem GROUP BY l_orderkey HAVING ROUND(SUM(l_quantity), 2) > 250)
        |SELECT c_custkey, c_name, o_orderkey, total_qty
        |FROM hot JOIN orders ON l_orderkey = o_orderkey
        |         JOIN customer ON o_custkey = c_custkey
        |ORDER BY total_qty DESC, o_orderkey ASC LIMIT 20""".stripMargin),
    // Q3-shaped shipping-priority: selective dim (BUILDING customers)
    // broadcast into the orders×lineitem shuffle join, top-10 revenue.
    // The big-big join shuffles on the order key; the customer filter is a
    // broadcast semi-join — the shape that must survive a 100× scale-up.
    Q("q_tpch_shipping", (s, d) => {
      val c = table(s, d, "customer")
        .filter(col("c_mktsegment") === "BUILDING").select("c_custkey")
      val o = table(s, d, "orders")
        .filter(col("o_orderdate") < lit("1998-06-01").cast("timestamp"))
        .select("o_orderkey", "o_custkey", "o_orderdate")
      val li = table(s, d, "lineitem")
        .filter(col("l_shipdate") > lit("1998-06-01").cast("timestamp"))
        .select("l_orderkey", "l_extendedprice", "l_discount")
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .groupBy(col("l_orderkey"),
          (unix_micros(col("o_orderdate").cast("timestamp")) / 1000000L)
            .cast("long").as("o_date_s"))
        .agg(sround(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
        .select("l_orderkey", "o_date_s", "revenue")
        .orderBy(col("revenue").desc, col("o_date_s").asc, col("l_orderkey").asc)
        .limit(10)
    },
      """SELECT l_orderkey,
        |       CAST(epoch_us(o_orderdate)/1000000 AS BIGINT) AS o_date_s,
        |       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |              JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-06-01 00:00:00'
        |  AND l_shipdate  > TIMESTAMP '1998-06-01 00:00:00'
        |GROUP BY l_orderkey, o_date_s
        |ORDER BY revenue DESC, o_date_s ASC, l_orderkey ASC LIMIT 10""".stripMargin),
    // Q5-shaped local-supplier volume: 6-table join — lineitem×orders
    // shuffle on the order key, customer shuffle on the cust key, then
    // supplier/nation/region as broadcast dims (the nation-colocation
    // predicate c_nationkey = s_nationkey rides the supplier broadcast).
    // Q13-shaped customer order-count distribution: the outer-join +
    // double-grouping shape (customers with zero orders must survive
    // into the c_count = 0 bucket)
    Q("q_tpch_cust_dist", (s, d) => {
      val c = table(s, d, "customer").select("c_custkey")
      val o = table(s, d, "orders").select("o_custkey", "o_orderkey")
      c.join(o, col("c_custkey") === col("o_custkey"), "left")
        .groupBy("c_custkey").agg(count(col("o_orderkey")).as("c_count"))
        .groupBy("c_count").agg(count(lit(1)).as("custdist"))
        .orderBy(col("custdist").desc, col("c_count").desc)
    },
      """SELECT c_count, COUNT(*) AS custdist FROM (
        |  SELECT c_custkey, COUNT(o_orderkey) AS c_count
        |  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |  GROUP BY c_custkey)
        |GROUP BY c_count
        |ORDER BY custdist DESC, c_count DESC""".stripMargin),
    // Q22-shaped idle rich customers: above-average balance (exact
    // cross-multiply — balance·cnt > Σbalance, no division), no order
    // since 1999 (anti-join against the recent slice — this synthetic
    // corpus has every customer order at least once, so the classic
    // never-ordered predicate is vacuous), grouped by nation
    Q("q_tpch_idle_rich", (s, d) => {
      val c = table(s, d, "customer").select("c_custkey", "c_nationkey", "c_acctbal")
      val thr = c.filter(col("c_acctbal") > 0)
        .agg(sum("c_acctbal").as("tot"), count(lit(1)).as("cnt"))
      val o = table(s, d, "orders")
        .filter(col("o_orderdate") >= lit("1999-01-01").cast("timestamp"))
        .select(col("o_custkey").as("c_custkey")).distinct()
      val n = table(s, d, "nation").select("n_nationkey", "n_name")
      c.crossJoin(broadcast(thr))
        .filter(col("c_acctbal") * col("cnt") > col("tot"))
        .join(o, Seq("c_custkey"), "left_anti")
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .groupBy("n_name")
        .agg(count(lit(1)).as("numcust"), sround(sum("c_acctbal"), 2).as("totacctbal"))
        .orderBy("n_name")
    },
      """WITH thr AS (SELECT SUM(c_acctbal) AS tot, COUNT(*) AS cnt
        |             FROM customer WHERE c_acctbal > 0)
        |SELECT n_name, COUNT(*) AS numcust, ROUND(SUM(c_acctbal), 2) AS totacctbal
        |FROM customer CROSS JOIN thr
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE c_acctbal * thr.cnt > thr.tot
        |  AND c_custkey NOT IN (SELECT o_custkey FROM orders
        |                        WHERE o_orderdate >= TIMESTAMP '1999-01-01')
        |GROUP BY n_name ORDER BY n_name""".stripMargin),
    Q("q_tpch_local_supplier", (s, d) => {
      val li = table(s, d, "lineitem")
        .select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
      val o = table(s, d, "orders")
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
        .select("o_orderkey", "o_custkey")
      val c = table(s, d, "customer").select("c_custkey", "c_nationkey")
      val sup = table(s, d, "supplier").select("s_suppkey", "s_nationkey")
      val n = table(s, d, "nation").select("n_nationkey", "n_name", "n_regionkey")
      val r = table(s, d, "region").filter(col("r_name") === "ASIA").select("r_regionkey")
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(broadcast(sup),
          col("l_suppkey") === col("s_suppkey") && col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .groupBy("n_name")
        .agg(sround(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
        .orderBy(col("revenue").desc, col("n_name").asc)
    },
      """SELECT n_name, ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM lineitem JOIN orders   ON l_orderkey = o_orderkey
        |              JOIN customer ON o_custkey = c_custkey
        |              JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |              JOIN nation   ON s_nationkey = n_nationkey
        |              JOIN region   ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
        |GROUP BY n_name
        |ORDER BY revenue DESC, n_name ASC""".stripMargin),
    // Q14-shaped promo revenue share: date-sliced lineitem joined to the
    // part dim (broadcast), conditional-aggregate ratio — the classic
    // "wide fact × small dim + CASE aggregate" shape.
    Q("q_tpch_promo", (s, d) => {
      import org.apache.spark.sql.functions.when
      val li = table(s, d, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
        .select("l_partkey", "l_extendedprice", "l_discount")
      val p = table(s, d, "part").select("p_partkey", "p_type")
      li.join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .agg(sround(lit(100.0) *
          sum(when(col("p_type") === "PROMO",
            col("l_extendedprice") * (lit(1) - col("l_discount"))).otherwise(0.0)) /
          sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 6)
          .as("promo_revenue"))
    },
      """SELECT ROUND(100.0 *
        |         SUM(CASE WHEN p_type = 'PROMO'
        |             THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END) /
        |         SUM(l_extendedprice * (1 - l_discount)), 6) AS promo_revenue
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'""".stripMargin)
  )
}

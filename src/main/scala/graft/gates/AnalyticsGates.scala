package graft
package gates

import java.time.LocalDate

import graft.ext.Sampling
import graft.io.Tables
import graft.ops.Ops
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** General analytics: the TPC-H shapes, joins, windows, rollups, time
  * series, event funnels/cohorts and profiling. */
object AnalyticsGates {
  import Inputs._

  /** `ts_ewma_daily` oracle: the identical truncated-kernel EWMA
    * ([[graft.ext.TimeSeries.truncatedEwma]] at alpha=0.3, 8 taps) with the
    * coefficient chain computed HERE by the same IEEE product chain and
    * interpolated as shortest-roundtrip literals (Double.toString), so both
    * engines evaluate bit-identical tap sums. */
  private val ewmaDailySql: String = {
    val coefs = Array.iterate(0.3, 8)(_ * (1.0 - 0.3))
    def tap(j: Int) = if (j == 0) "x" else s"lag(x, $j) OVER w"
    val num = (0 until 8).map(j =>
      s"(CASE WHEN ${tap(j)} IS NOT NULL THEN ${tap(j)} * ${coefs(j)} ELSE 0.0 END)")
      .mkString(" + ")
    val den = (0 until 8).map(j =>
      s"(CASE WHEN ${tap(j)} IS NOT NULL THEN ${coefs(j)} ELSE 0.0 END)")
      .mkString(" + ")
    s"""WITH daily AS (SELECT user_id, CAST(ts AS DATE) AS day,
       |                      sum(CAST(value AS DECIMAL(18,2))) AS tv
       |                 FROM events GROUP BY 1, 2),
       |l AS (SELECT user_id, day, CAST(tv AS DOUBLE) AS x FROM daily)
       |SELECT user_id, day, round(x, 2) AS daily_value,
       |       round(($num) / ($den), 6) AS ewma
       |  FROM l WINDOW w AS (PARTITION BY user_id ORDER BY day)""".stripMargin
  }

  val gates: Seq[Gate[_]] = Seq(
    // ---- general analytics the extension surface builds on (§2.12) ----
    Gate("q1_pricing_summary",
      // sums compared as round(double, native scale) — see the query comment
      """SELECT l_returnflag, l_linestatus,
        |       round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_qty,
        |       round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_base_price,
        |       round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE), 4) AS sum_disc_price,
        |       count(*) AS count_order
        |  FROM lineitem
        | WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
        | GROUP BY l_returnflag, l_linestatus""".stripMargin)((s, d) => {
      val price = col("l_extendedprice").cast("decimal(18,2)")
      val disc = col("l_discount").cast("decimal(18,2)")
      li(s, d).filter(col("l_shipdate") <= lit(java.time.LocalDateTime.of(1998, 9, 1, 0, 0)))
        .groupBy("l_returnflag", "l_linestatus")
        // exact decimal math INTERNALLY, but the COMPARED representation is
        // round(CAST(sum AS DOUBLE), native scale): decimal128(38,x) output
        // hash-mismatched at the driver for three straight rounds despite
        // arrow-level bit-identity (r3 verdict) — doubles behind round() are
        // the representation the gate demonstrably hashes reliably
        // (stream_windowed_counts, agg_label_centroids). Rounding at the
        // sum's native scale never hits a .xx5 boundary, so HALF_UP-vs-
        // banker's divergence between engines cannot trigger.
        .agg(
          round(sum(col("l_quantity").cast("decimal(18,2)")).cast("double"), 2).as("sum_qty"),
          round(sum(price).cast("double"), 2).as("sum_base_price"),
          round(sum(price * (lit(BigDecimal(1)) - disc)).cast("double"), 4).as("sum_disc_price"),
          count(lit(1)).as("count_order"))
    }),
    Gate("q3_shipping_priority",
      """SELECT l_orderkey, o_orderdate, o_orderpriority,
        |       sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS revenue
        |  FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        | WHERE c_mktsegment = 'BUILDING'
        |   AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
        |   AND l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
        | GROUP BY l_orderkey, o_orderdate, o_orderpriority
        | ORDER BY revenue DESC, l_orderkey
        | LIMIT 10""".stripMargin)((s, d) => {
      // TPC-H Q3 shape: revenue per order for one segment, top 10 — exercises
      // a 3-way join (dim broadcast), grouped agg, deterministic top-k
      val c = customer(s, d).filter(col("c_mktsegment") === "BUILDING")
      val o = orders(s, d).filter(col("o_orderdate") < lit(java.time.LocalDateTime.of(1998, 3, 15, 0, 0)))
      val l = li(s, d).filter(col("l_shipdate") > lit(java.time.LocalDateTime.of(1998, 3, 15, 0, 0)))
      val price = col("l_extendedprice").cast("decimal(18,2)")
      val disc = col("l_discount").cast("decimal(18,2)")
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
        .agg(sum(price * (lit(BigDecimal(1)) - disc)).as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
    }),
    // TPC-H Q5 shape: local-supplier revenue per nation for one region-year —
    // the classic 6-table join-reorder/broadcast exercise. The fact join
    // (lineitem × orders) shuffles on the order key; customer, supplier,
    // nation, and region are all broadcast dims, and the "local" condition
    // (c_nationkey = s_nationkey) rides the supplier broadcast join
    Gate("q5_local_supplier_volume",
      """SELECT n_name,
        |       sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS revenue
        |  FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        | WHERE r_name = 'ASIA'
        |   AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |   AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        | GROUP BY n_name
        | ORDER BY revenue DESC, n_name""".stripMargin)((s, d) => {
      val o = orders(s, d)
        .filter(col("o_orderdate") >= lit(java.time.LocalDateTime.of(1996, 1, 1, 0, 0)) &&
          col("o_orderdate") < lit(java.time.LocalDateTime.of(1997, 1, 1, 0, 0)))
      val n = Tables.load(s, d, "nation")
      val r = Tables.load(s, d, "region").filter(col("r_name") === "ASIA")
      val price = col("l_extendedprice").cast("decimal(18,2)")
      val disc = col("l_discount").cast("decimal(18,2)")
      li(s, d).join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(customer(s, d)), col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.load(s, d, "supplier")),
          col("l_suppkey") === col("s_suppkey") &&
            col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("n_name"))
        .agg(sum(price * (lit(BigDecimal(1)) - disc)).as("revenue"))
        .orderBy(col("revenue").desc, col("n_name"))
    }),
    // TPC-H Q18 shape (large-volume orders): the HAVING aggregation IS the
    // carried value, so the big-order set joins back once instead of
    // re-aggregating lineitem; quantities are integral doubles, so the sum
    // is exact in any accumulation order and the > cut cannot flap
    Gate("q18_large_orders",
      """WITH big AS (SELECT l_orderkey, sum(l_quantity) AS total_qty
        |               FROM lineitem GROUP BY 1 HAVING sum(l_quantity) > 280)
        |SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice, total_qty
        |  FROM orders JOIN big ON o_orderkey = l_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        | ORDER BY o_totalprice DESC, o_orderdate, o_orderkey
        | LIMIT 100""".stripMargin)((s, d) => {
      val big = li(s, d).groupBy(col("l_orderkey"))
        .agg(sum(col("l_quantity")).as("total_qty"))
        .filter(col("total_qty") > 280.0)
      orders(s, d).join(big, col("o_orderkey") === col("l_orderkey"))
        .join(broadcast(customer(s, d)), col("o_custkey") === col("c_custkey"))
        .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
          col("o_orderdate"), col("o_totalprice"), col("total_qty"))
        .orderBy(col("o_totalprice").desc, col("o_orderdate"), col("o_orderkey"))
        .limit(100)
    }),
    // TPC-H Q6 shape (forecast-revenue change): the pure scan-side query —
    // every predicate pushes to the parquet reader, no join, one global
    // decimal sum. Decimal(18,2)×Decimal(18,2) sums land on DECIMAL(38,4)
    // in both engines, so the raw decimal compares exactly (q3/q5 pattern)
    Gate("q6_forecast_revenue",
      """SELECT sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))) AS revenue
        |  FROM lineitem
        | WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |   AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
        |   AND l_discount BETWEEN 0.05 AND 0.07
        |   AND l_quantity < 24""".stripMargin)((s, d) =>
      li(s, d)
        .filter(col("l_shipdate") >= lit(java.time.LocalDateTime.of(1996, 1, 1, 0, 0)) &&
          col("l_shipdate") < lit(java.time.LocalDateTime.of(1997, 1, 1, 0, 0)) &&
          col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24.0)
        .agg(sum(col("l_extendedprice").cast("decimal(18,2)") *
          col("l_discount").cast("decimal(18,2)")).as("revenue"))),
    // TPC-H Q10 shape (returned items): one quarter of orders, only
    // R-flagged lines, revenue per customer, top 20 — fact×fact shuffle
    // join on the order key, customer and nation ride broadcasts
    Gate("q10_returned_items",
      """SELECT c_custkey, c_name, c_acctbal, n_name,
        |       round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE), 4) AS revenue
        |  FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        | WHERE l_returnflag = 'R'
        |   AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |   AND o_orderdate <  TIMESTAMP '1996-04-01 00:00:00'
        | GROUP BY c_custkey, c_name, c_acctbal, n_name
        | ORDER BY revenue DESC, c_custkey
        | LIMIT 20""".stripMargin)((s, d) => {
      val o = orders(s, d)
        .filter(col("o_orderdate") >= lit(java.time.LocalDateTime.of(1996, 1, 1, 0, 0)) &&
          col("o_orderdate") < lit(java.time.LocalDateTime.of(1996, 4, 1, 0, 0)))
      val price = col("l_extendedprice").cast("decimal(18,2)")
      val disc = col("l_discount").cast("decimal(18,2)")
      li(s, d).filter(col("l_returnflag") === "R")
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(customer(s, d)), col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.load(s, d, "nation")), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("c_custkey"), col("c_name"), col("c_acctbal"), col("n_name"))
        // round(CAST(sum AS DOUBLE), 4): the exact decimal sum is identical
        // in both engines; hashing the rounded double sidesteps the wide-
        // decimal canonicalization that forked the r17 hash (q1 pattern).
        // Documented deviation (r18 ADVICE): ORDERING is on the rounded
        // value, so two customers whose exact revenues differ by < 5e-5
        // tie here and break on c_custkey, where exact-decimal TPC-H
        // ranking could order them the other way — both engines apply the
        // identical rule, so the gate is stable; the exact sums at these
        // SFs differ by cents, far above the rounding grain
        .agg(round(sum(price * (lit(BigDecimal(1)) - disc)).cast("double"), 4).as("revenue"))
        .orderBy(col("revenue").desc, col("c_custkey"))
        .limit(20)
    }),
    // TPC-H Q13 shape (customer order-count distribution): the classic
    // left-outer + double aggregation — zero-order customers MUST appear
    // in the c_count=0 bucket, which is exactly what the outer join
    // preserves and an inner join would silently drop
    Gate("q13_order_count_distribution",
      """SELECT c_count, count(*) AS custdist FROM (
        |  SELECT c_custkey, count(o_orderkey) AS c_count
        |    FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |   GROUP BY c_custkey) x
        | GROUP BY c_count
        | ORDER BY custdist DESC, c_count DESC""".stripMargin)((s, d) =>
      customer(s, d)
        .join(orders(s, d), col("c_custkey") === col("o_custkey"), "left")
        .groupBy(col("c_custkey")).agg(count(col("o_orderkey")).as("c_count"))
        .groupBy(col("c_count")).agg(count(lit(1)).as("custdist"))
        .orderBy(col("custdist").desc, col("c_count").desc)),
    // TPC-H Q14 shape (promo-revenue share): one month of lineitem against
    // the part dim (broadcast), CASE-gated revenue ratio; the division
    // happens on DOUBLES cast from exact decimal sums, so both engines
    // perform the identical IEEE op on identical operands
    Gate("q14_promo_effect",
      """SELECT round(100.0 * CAST(sum(CASE WHEN p_type = 'PROMO'
        |           THEN CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))
        |           ELSE 0 END) AS DOUBLE)
        |         / CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE),
        |         6) AS promo_share
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        | WHERE l_shipdate >= TIMESTAMP '1996-03-01 00:00:00'
        |   AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'""".stripMargin)((s, d) => {
      val price = col("l_extendedprice").cast("decimal(18,2)")
      val disc = col("l_discount").cast("decimal(18,2)")
      val rev = price * (lit(BigDecimal(1)) - disc)
      li(s, d)
        .filter(col("l_shipdate") >= lit(java.time.LocalDateTime.of(1996, 3, 1, 0, 0)) &&
          col("l_shipdate") < lit(java.time.LocalDateTime.of(1996, 4, 1, 0, 0)))
        .join(broadcast(Tables.load(s, d, "part")), col("l_partkey") === col("p_partkey"))
        .agg(round(lit(100.0) * sum(when(col("p_type") === "PROMO", rev)
            .otherwise(lit(BigDecimal(0)))).cast("double") /
          sum(rev).cast("double"), 6).as("promo_share"))
    }),
    // TPC-H Q19 shape (discounted revenue, OR-of-ANDs): three disjunct
    // brand/size/quantity branches over the part join — the classic
    // "OR does not kill pushdown" exercise: the common l_partkey join key
    // still hashes, and the disjunction evaluates post-join in codegen
    Gate("q19_discounted_revenue",
      """SELECT sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS revenue
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        | WHERE (p_brand = 'Brand#11' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 20)
        |    OR (p_brand = 'Brand#22' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 10 AND 30)
        |    OR (p_brand = 'Brand#13' AND p_size BETWEEN 1 AND 50 AND l_quantity BETWEEN 20 AND 40)""".stripMargin)(
      (s, d) => {
      val price = col("l_extendedprice").cast("decimal(18,2)")
      val disc = col("l_discount").cast("decimal(18,2)")
      val branch =
        (col("p_brand") === "Brand#11" && col("p_size").between(1, 15) &&
          col("l_quantity").between(1.0, 20.0)) ||
        (col("p_brand") === "Brand#22" && col("p_size").between(1, 25) &&
          col("l_quantity").between(10.0, 30.0)) ||
        (col("p_brand") === "Brand#13" && col("p_size").between(1, 50) &&
          col("l_quantity").between(20.0, 40.0))
      li(s, d)
        .join(broadcast(Tables.load(s, d, "part")), col("l_partkey") === col("p_partkey"))
        .filter(branch)
        .agg(sum(price * (lit(BigDecimal(1)) - disc)).as("revenue"))
    }),
    // TPC-H Q22 shape (idle balances): customers above the positive-balance
    // average with NO RECENT orders (none since 2001), per nation. The
    // scalar cutoff is an EXACT decimal sum cast to double ONCE (identical
    // IEEE division both engines — no ulp flap at the > boundary),
    // broadcast as a one-row frame; the no-recent-order test is a
    // left-anti join against the date-pruned order scan, never NOT IN
    Gate("q22_idle_balances",
      """WITH cut AS (SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS cutoff
        |               FROM customer WHERE c_acctbal > 0)
        |SELECT n_name, count(*) AS numcust,
        |       round(CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE), 2) AS totacctbal
        |  FROM customer, cut
        |  JOIN nation ON c_nationkey = n_nationkey
        | WHERE c_acctbal > cutoff
        |   AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
        |                      AND o_orderdate >= TIMESTAMP '2001-01-01 00:00:00')
        | GROUP BY n_name""".stripMargin)((s, d) => {
      val c = customer(s, d)
      val cutoff = broadcast(c.filter(col("c_acctbal") > 0.0)
        .agg((sum(col("c_acctbal").cast("decimal(18,2)")).cast("double") /
          count(lit(1))).as("cutoff")))
      val recent = orders(s, d)
        .filter(col("o_orderdate") >= lit(java.time.LocalDateTime.of(2001, 1, 1, 0, 0)))
      c.crossJoin(cutoff).filter(col("c_acctbal") > col("cutoff"))
        .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
        .join(broadcast(Tables.load(s, d, "nation")), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("numcust"),
          round(sum(col("c_acctbal").cast("decimal(18,2)")).cast("double"), 2).as("totacctbal"))
    }),
    // TPC-H Q7 shape (volume shipping): bilateral trade between two
    // nations by ship year — the two-role nation-dim exercise (the same
    // dim joins twice under different keys); the OR couples the two
    // role filters so it evaluates post-join, on broadcast-joined rows
    Gate("q7_volume_shipping",
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |       EXTRACT(YEAR FROM l_shipdate) AS l_year,
        |       sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS revenue
        |  FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |  JOIN nation n2 ON c_nationkey = n2.n_nationkey
        | WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |   AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
        |   AND ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
        |     OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3'))
        | GROUP BY 1, 2, 3""".stripMargin)((s, d) => {
      val nat = Tables.load(s, d, "nation")
      val n1 = nat.select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation"))
      val n2 = nat.select(col("n_nationkey").as("c_nk"), col("n_name").as("cust_nation"))
      val price = col("l_extendedprice").cast("decimal(18,2)")
      val disc = col("l_discount").cast("decimal(18,2)")
      li(s, d)
        .filter(col("l_shipdate") >= lit(java.time.LocalDateTime.of(1996, 1, 1, 0, 0)) &&
          col("l_shipdate") < lit(java.time.LocalDateTime.of(1998, 1, 1, 0, 0)))
        .join(orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(customer(s, d)), col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.load(s, d, "supplier")), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(n1), col("s_nationkey") === col("s_nk"))
        .join(broadcast(n2), col("c_nationkey") === col("c_nk"))
        .filter((col("supp_nation") === "NATION_3" && col("cust_nation") === "NATION_7") ||
          (col("supp_nation") === "NATION_7" && col("cust_nation") === "NATION_3"))
        .groupBy(col("supp_nation"), col("cust_nation"), year(col("l_shipdate")).as("l_year"))
        .agg(sum(price * (lit(BigDecimal(1)) - disc)).as("revenue"))
    }),
    // TPC-H Q8 shape (national market share): one supplier nation's share
    // of a region+part-type market by order year — CASE-gated revenue
    // ratio per group, sums exact decimal, the division on cast doubles
    Gate("q8_market_share",
      """SELECT EXTRACT(YEAR FROM o_orderdate) AS o_year,
        |       round(CAST(sum(CASE WHEN n2.n_name = 'NATION_3'
        |                 THEN CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))
        |                 ELSE 0 END) AS DOUBLE)
        |             / CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE),
        |             6) AS mkt_share
        |  FROM lineitem
        |  JOIN part ON l_partkey = p_partkey
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation n1 ON c_nationkey = n1.n_nationkey
        |  JOIN region ON n1.n_regionkey = r_regionkey
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation n2 ON s_nationkey = n2.n_nationkey
        | WHERE p_type = 'ECONOMY' AND r_name = 'ASIA'
        |   AND o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
        |   AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
        | GROUP BY 1""".stripMargin)((s, d) => {
      val price = col("l_extendedprice").cast("decimal(18,2)")
      val disc = col("l_discount").cast("decimal(18,2)")
      val rev = price * (lit(BigDecimal(1)) - disc)
      val p = Tables.load(s, d, "part").filter(col("p_type") === "ECONOMY").select("p_partkey")
      val r = Tables.load(s, d, "region").filter(col("r_name") === "ASIA")
      val nat = Tables.load(s, d, "nation")
      val n2 = nat.select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation"))
      li(s, d)
        .join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .join(orders(s, d)
          .filter(col("o_orderdate") >= lit(java.time.LocalDateTime.of(1995, 1, 1, 0, 0)) &&
            col("o_orderdate") < lit(java.time.LocalDateTime.of(1997, 1, 1, 0, 0))),
          col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(customer(s, d)), col("o_custkey") === col("c_custkey"))
        .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .join(broadcast(Tables.load(s, d, "supplier")), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(n2), col("s_nationkey") === col("s_nk"))
        .groupBy(year(col("o_orderdate")).as("o_year"))
        .agg(round(sum(when(col("supp_nation") === "NATION_3", rev)
            .otherwise(lit(BigDecimal(0)))).cast("double") /
          sum(rev).cast("double"), 6).as("mkt_share"))
    }),
    // TPC-H Q15 shape (top supplier): quarter revenue per supplier, the
    // argmax selected by an exact-decimal equality against a broadcast
    // one-row max — never a global sort; the revenue agg is cache-tracked
    // (it feeds both the max and the final filter)
    Gate("q15_top_supplier",
      """WITH rev AS (SELECT l_suppkey,
        |                    sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS total_revenue
        |               FROM lineitem
        |              WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |                AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
        |              GROUP BY 1),
        |mx AS (SELECT max(total_revenue) AS m FROM rev)
        |SELECT s_suppkey, s_name, total_revenue
        |  FROM rev, mx JOIN supplier ON l_suppkey = s_suppkey
        | WHERE total_revenue = m""".stripMargin)((s, d) => {
      val price = col("l_extendedprice").cast("decimal(18,2)")
      val disc = col("l_discount").cast("decimal(18,2)")
      val rev = graft.ext.Caches.track(
        li(s, d)
          .filter(col("l_shipdate") >= lit(java.time.LocalDateTime.of(1996, 1, 1, 0, 0)) &&
            col("l_shipdate") < lit(java.time.LocalDateTime.of(1996, 4, 1, 0, 0)))
          .groupBy(col("l_suppkey"))
          .agg(sum(price * (lit(BigDecimal(1)) - disc)).as("total_revenue")))
      val mx = broadcast(rev.agg(max(col("total_revenue")).as("mx")))
      rev.crossJoin(mx).filter(col("total_revenue") === col("mx"))
        .join(broadcast(Tables.load(s, d, "supplier")), col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"), col("total_revenue"))
    }),
    // TPC-H Q17 shape (small-quantity revenue): the correlated per-part
    // average decorrelated into a grouped cutoff frame joined back — the
    // cutoff is (0.2·Σqty)/n on INTEGRAL-double sums (exact in any
    // accumulation order), so the < boundary cannot ulp-flap
    Gate("q17_small_quantity_revenue",
      """WITH l AS (SELECT l_partkey, l_quantity, l_extendedprice
        |             FROM lineitem JOIN part ON l_partkey = p_partkey
        |            WHERE p_brand = 'Brand#13'),
        |cut AS (SELECT l_partkey AS pk, 0.2 * sum(l_quantity) / count(*) AS cutoff
        |          FROM l GROUP BY 1)
        |SELECT round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0, 2) AS avg_yearly
        |  FROM l JOIN cut ON l_partkey = pk
        | WHERE l_quantity < cutoff""".stripMargin)((s, d) => {
      val bp = Tables.load(s, d, "part")
        .filter(col("p_brand") === "Brand#13").select("p_partkey")
      val l = graft.ext.Caches.track(
        li(s, d).join(broadcast(bp), col("l_partkey") === col("p_partkey")))
      val cut = l.groupBy(col("l_partkey").as("pk"))
        .agg((lit(0.2) * sum(col("l_quantity")) / count(lit(1))).as("cutoff"))
      l.join(cut, col("l_partkey") === col("pk"))
        .filter(col("l_quantity") < col("cutoff"))
        .agg(round(sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double") / 7.0, 2)
          .as("avg_yearly"))
    }),
    // TPC-H Q2 shape (min-cost supplier): groupwise-min correlated subquery
    // decorrelated into a window min — the fixture has no partsupp, so the
    // part×supplier "catalog" is DERIVED from lineitem (unit cost = min
    // observed l_extendedprice/l_quantity per pair; identical IEEE division
    // both engines). One shuffle builds the catalog, the window min rides
    // the same partkey partitioning; all dims broadcast
    Gate("q2_min_cost_supplier",
      """WITH cat AS (
        |  SELECT l_partkey, l_suppkey, min(l_extendedprice / l_quantity) AS unit_cost
        |    FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |    JOIN nation ON s_nationkey = n_nationkey
        |    JOIN region ON n_regionkey = r_regionkey
        |   WHERE r_name = 'EUROPE'
        |   GROUP BY 1, 2),
        |win AS (SELECT *, min(unit_cost) OVER (PARTITION BY l_partkey) AS best FROM cat)
        |SELECT s_acctbal, s_name, n_name, p_partkey, unit_cost
        |  FROM win JOIN part ON l_partkey = p_partkey
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation ON s_nationkey = n_nationkey
        | WHERE unit_cost = best
        |   AND p_size IN (15, 25, 35) AND p_type IN ('LARGE', 'SMALL')
        | ORDER BY s_acctbal DESC, p_partkey, s_name
        | LIMIT 100""".stripMargin)((s, d) => {
      val sup = Tables.load(s, d, "supplier")
      val nat = Tables.load(s, d, "nation")
      val eur = sup
        .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.load(s, d, "region").filter(col("r_name") === "EUROPE")),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("s_suppkey"), col("s_name"), col("s_acctbal"), col("n_name"))
      val cat = li(s, d)
        .join(broadcast(eur.select("s_suppkey")), col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("l_partkey"), col("l_suppkey"))
        .agg(min(col("l_extendedprice") / col("l_quantity")).as("unit_cost"))
      val w = Window.partitionBy("l_partkey")
      val p = Tables.load(s, d, "part")
        .filter(col("p_size").isin(15, 25, 35) && col("p_type").isin("LARGE", "SMALL"))
        .select("p_partkey")
      cat.withColumn("best", min(col("unit_cost")).over(w))
        .filter(col("unit_cost") === col("best"))
        .join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .join(broadcast(eur), col("l_suppkey") === col("s_suppkey"))
        .select(col("s_acctbal"), col("s_name"), col("n_name"), col("p_partkey"),
          col("unit_cost"))
        .orderBy(col("s_acctbal").desc, col("p_partkey"), col("s_name"))
        .limit(100)
    }),
    // TPC-H Q4 shape (priority checking): EXISTS decorrelated to a
    // left-semi join with a NON-EQUI residual (the fixture has no
    // commit/receipt dates, so "late" = shipped >60 days after the order
    // date); the semi join still hashes on the order key, the residual
    // evaluates per matched pair — no nested loop
    Gate("q4_priority_late_ship",
      """SELECT o_orderpriority, count(*) AS order_count
        |  FROM orders
        | WHERE o_orderdate >= TIMESTAMP '1996-07-01 00:00:00'
        |   AND o_orderdate <  TIMESTAMP '1996-10-01 00:00:00'
        |   AND EXISTS (SELECT 1 FROM lineitem
        |                WHERE l_orderkey = o_orderkey
        |                  AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
        | GROUP BY 1 ORDER BY 1""".stripMargin)((s, d) => {
      val o = orders(s, d)
        .filter(col("o_orderdate") >= lit(java.time.LocalDateTime.of(1996, 7, 1, 0, 0)) &&
          col("o_orderdate") < lit(java.time.LocalDateTime.of(1996, 10, 1, 0, 0)))
      o.join(li(s, d).select("l_orderkey", "l_shipdate"),
          col("o_orderkey") === col("l_orderkey") &&
            col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"),
          "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("order_count"))
        .orderBy(col("o_orderpriority"))
    }),
    // TPC-H Q9 shape (product-type profit by nation/year): 4-way join with
    // a LIKE part filter, profit = revenue − cost where cost is a
    // retail-price proxy (no partsupp supplycost in the fixture — 0.8·
    // p_retailprice·qty, documented). Both sums stay EXACT decimal through
    // the agg; the subtraction and 0.8 scale happen ONCE per group on cast
    // doubles (identical IEEE ops both engines — no rounding needed)
    Gate("q9_nation_profit",
      """SELECT n_name AS nation, EXTRACT(YEAR FROM o_orderdate) AS o_year,
        |       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
        |       - 0.8 * CAST(sum(CAST(p_retailprice AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |         AS profit
        |  FROM lineitem
        |  JOIN part ON l_partkey = p_partkey
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN nation ON s_nationkey = n_nationkey
        | WHERE p_name LIKE '%widget%'
        | GROUP BY 1, 2 ORDER BY 1, 2 DESC""".stripMargin)((s, d) => {
      val price = col("l_extendedprice").cast("decimal(18,2)")
      val disc = col("l_discount").cast("decimal(18,2)")
      val p = Tables.load(s, d, "part")
        .filter(col("p_name").like("%widget%"))
        .select(col("p_partkey"), col("p_retailprice").cast("decimal(18,2)").as("retail"))
      li(s, d)
        .join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .join(broadcast(Tables.load(s, d, "supplier")), col("l_suppkey") === col("s_suppkey"))
        .join(orders(s, d).select("o_orderkey", "o_orderdate"),
          col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(Tables.load(s, d, "nation")), col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name").as("nation"), year(col("o_orderdate")).as("o_year"))
        .agg((sum(price * (lit(BigDecimal(1)) - disc)).cast("double") -
          lit(0.8) * sum(col("retail") * col("l_quantity").cast("decimal(18,2)"))
            .cast("double")).as("profit"))
        .orderBy(col("nation"), col("o_year").desc)
    }),
    // TPC-H Q11 shape (important stock values): per-part value vs a GLOBAL
    // scalar threshold — the scalar is an exact decimal sum divided once
    // on doubles (mean-relative, so the gate is non-degenerate at every
    // SF), broadcast as a one-row frame against the cache-tracked value
    // aggregation that feeds both sides
    Gate("q11_important_values",
      """WITH val AS (
        |  SELECT l_partkey, sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS value
        |    FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |    JOIN nation ON s_nationkey = n_nationkey
        |   WHERE n_name IN ('NATION_5','NATION_6','NATION_7','NATION_8')
        |   GROUP BY 1)
        |SELECT l_partkey, round(CAST(value AS DOUBLE), 2) AS value FROM val
        | WHERE CAST(value AS DOUBLE) > 1.5 * (SELECT CAST(sum(value) AS DOUBLE) / count(*) FROM val)
        | ORDER BY value DESC, l_partkey""".stripMargin)((s, d) => {
      val sup = Tables.load(s, d, "supplier")
        .join(broadcast(Tables.load(s, d, "nation")
          .filter(col("n_name").isin("NATION_5", "NATION_6", "NATION_7", "NATION_8"))),
          col("s_nationkey") === col("n_nationkey"))
        .select("s_suppkey")
      val value = graft.ext.Caches.track(
        li(s, d)
          .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
          .groupBy(col("l_partkey"))
          .agg(sum(col("l_extendedprice").cast("decimal(18,2)")).as("value")))
      val cut = broadcast(value.agg(
        (lit(1.5) * sum(col("value")).cast("double") / count(lit(1))).as("cutoff")))
      // the exact decimal sum drives the cutoff compare and the sort; the
      // OUTPUT is round(CAST(sum AS DOUBLE), native scale) — wide-decimal
      // (38,2) dumps have hash-mismatched at the driver even when locally
      // bit-identical (r3 forensics), rounded doubles never have
      value.crossJoin(cut)
        .filter(col("value").cast("double") > col("cutoff"))
        .select(col("l_partkey"), round(col("value").cast("double"), 2).as("value"))
        .orderBy(col("value").desc, col("l_partkey"))
    }),
    // TPC-H Q12 shape (late lines by class): CASE-gated dual counts per
    // line class (the fixture has no shipmode — l_returnflag stands in),
    // the "late" residual is the same non-equi ship-vs-order-date test as
    // q4; counts via count(CASE) so both engines emit BIGINT (DuckDB
    // sum(int) would widen to HUGEINT and hash-mismatch)
    Gate("q12_late_lines_by_flag",
      """SELECT l_returnflag,
        |       count(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 END) AS high_line_count,
        |       count(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH') THEN 1 END) AS low_line_count
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        | WHERE l_shipdate > o_orderdate + INTERVAL 30 DAY
        |   AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |   AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
        | GROUP BY 1 ORDER BY 1""".stripMargin)((s, d) => {
      val hi = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
      orders(s, d)
        .filter(col("o_orderdate") >= lit(java.time.LocalDateTime.of(1996, 1, 1, 0, 0)) &&
          col("o_orderdate") < lit(java.time.LocalDateTime.of(1997, 1, 1, 0, 0)))
        .join(li(s, d).select("l_orderkey", "l_returnflag", "l_shipdate"),
          col("o_orderkey") === col("l_orderkey"))
        .filter(col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 30 DAYS"))
        .groupBy(col("l_returnflag"))
        .agg(count(when(hi, 1)).as("high_line_count"),
          count(when(!hi, 1)).as("low_line_count"))
        .orderBy(col("l_returnflag"))
    }),
    // TPC-H Q16 shape (supplier variety by part attrs): COUNT DISTINCT per
    // attribute triple with a NOT-IN supplier exclusion — the exclusion is
    // a broadcast left-anti (keys non-null by construction, so NOT IN ≡
    // anti join); the part/supplier relation is DERIVED from lineitem
    // (no partsupp in the fixture)
    Gate("q16_supplier_variety",
      """SELECT p_brand, p_type, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        | WHERE p_brand <> 'Brand#15' AND p_type <> 'PROMO'
        |   AND p_size IN (1, 9, 14, 23, 36, 45, 49, 50)
        |   AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        | GROUP BY 1, 2, 3
        | ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin)((s, d) => {
      val excluded = Tables.load(s, d, "supplier")
        .filter(col("s_acctbal") < 0.0).select("s_suppkey")
      val p = Tables.load(s, d, "part")
        .filter(col("p_brand") =!= "Brand#15" && col("p_type") =!= "PROMO" &&
          col("p_size").isin(1, 9, 14, 23, 36, 45, 49, 50))
        .select("p_partkey", "p_brand", "p_type", "p_size")
      li(s, d).select("l_partkey", "l_suppkey")
        .join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .join(broadcast(excluded), col("l_suppkey") === col("s_suppkey"), "left_anti")
        .groupBy(col("p_brand"), col("p_type"), col("p_size"))
        .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
        .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"), col("p_size"))
    }),
    // TPC-H Q20 shape (bulk suppliers): the nested IN chain — suppliers in
    // a nation set whose (supplier, part) shipped volume of a LIKE-filtered
    // part family crossed a HAVING threshold in a year; the inner agg
    // shrinks to distinct suppkeys BEFORE the semi join, dims broadcast
    Gate("q20_bulk_suppliers",
      """SELECT s_name, s_suppkey FROM supplier
        |  JOIN nation ON s_nationkey = n_nationkey
        | WHERE n_name IN ('NATION_3','NATION_7','NATION_11','NATION_15')
        |   AND s_suppkey IN (
        |     SELECT l_suppkey FROM lineitem JOIN part ON l_partkey = p_partkey
        |      WHERE p_name LIKE 'red%'
        |        AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |        AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
        |      GROUP BY l_suppkey, l_partkey
        |     HAVING sum(l_quantity) > 25)
        | ORDER BY s_suppkey""".stripMargin)((s, d) => {
      val reds = Tables.load(s, d, "part")
        .filter(col("p_name").like("red%")).select("p_partkey")
      val bulky = li(s, d)
        .filter(col("l_shipdate") >= lit(java.time.LocalDateTime.of(1996, 1, 1, 0, 0)) &&
          col("l_shipdate") < lit(java.time.LocalDateTime.of(1997, 1, 1, 0, 0)))
        .join(broadcast(reds), col("l_partkey") === col("p_partkey"))
        .groupBy(col("l_suppkey"), col("l_partkey"))
        .agg(sum(col("l_quantity")).as("qty"))
        .filter(col("qty") > 25.0)
        .select("l_suppkey").distinct()
      Tables.load(s, d, "supplier")
        .join(broadcast(Tables.load(s, d, "nation")
          .filter(col("n_name").isin("NATION_3", "NATION_7", "NATION_11", "NATION_15"))),
          col("s_nationkey") === col("n_nationkey"))
        .join(bulky, col("s_suppkey") === col("l_suppkey"), "left_semi")
        .select(col("s_name"), col("s_suppkey"))
        .orderBy(col("s_suppkey"))
    }),
    // TPC-H Q21 shape (suppliers who kept orders waiting): the classic
    // EXISTS + NOT-EXISTS self-join pair — "my line shipped late AND the
    // order had another supplier AND no other supplier shipped after me",
    // decorrelated to a left-semi then a left-anti on the order key with
    // non-equi residuals; the late test is ship > order date + 45 days
    // (no receipt/commit dates in the fixture)
    Gate("q21_waiting_suppliers",
      """SELECT s_name, count(*) AS numwait
        |  FROM lineitem l1
        |  JOIN orders ON l1.l_orderkey = o_orderkey
        |  JOIN supplier ON l1.l_suppkey = s_suppkey
        | WHERE o_orderstatus = 'F'
        |   AND l1.l_shipdate > o_orderdate + INTERVAL 45 DAY
        |   AND EXISTS (SELECT 1 FROM lineitem l2
        |                WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
        |   AND NOT EXISTS (SELECT 1 FROM lineitem l3
        |                    WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
        |                      AND l3.l_shipdate > l1.l_shipdate)
        | GROUP BY s_name
        | ORDER BY numwait DESC, s_name
        | LIMIT 20""".stripMargin)((s, d) => {
      // all three roles (the late line, the other-supplier EXISTS probe, the
      // shipped-after NOT-EXISTS probe) only ever see lines of F orders —
      // join lineitem to the F filter ONCE, cache it, and derive the three
      // sides from the cached frame (the naive form re-scanned and re-joined
      // the full fact three times: 11× wall at 30× data; this form is ~3×)
      val fLines = graft.ext.Caches.track(
        li(s, d).select("l_orderkey", "l_suppkey", "l_shipdate")
          .join(orders(s, d).filter(col("o_orderstatus") === "F")
            .select("o_orderkey", "o_orderdate"),
            col("l_orderkey") === col("o_orderkey"))
          .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"),
            col("o_orderdate")))
      val base = fLines
        .filter(col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 45 DAYS"))
      val l2 = fLines.select(col("l_orderkey").as("ok2"), col("l_suppkey").as("sk2"))
      val l3 = fLines.select(col("l_orderkey").as("ok3"), col("l_suppkey").as("sk3"),
        col("l_shipdate").as("sd3"))
      base
        .join(l2, col("l_orderkey") === col("ok2") && col("l_suppkey") =!= col("sk2"),
          "left_semi")
        .join(l3, col("l_orderkey") === col("ok3") && col("l_suppkey") =!= col("sk3") &&
          col("sd3") > col("l_shipdate"), "left_anti")
        .join(broadcast(Tables.load(s, d, "supplier")), col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("s_name"))
        .agg(count(lit(1)).as("numwait"))
        .orderBy(col("numwait").desc, col("s_name"))
        .limit(20)
    }),
    Gate("join_enrich_orders",
      """SELECT o_orderkey, o_totalprice, c_name, c_mktsegment
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        | WHERE CAST(o_orderdate AS DATE) BETWEEN DATE '1998-03-01' AND DATE '1998-03-31'""".stripMargin)((s, d) =>
      orders(s, d).filter(Ops.datePredicate("o_orderdate", OrdFrom, OrdTo))
        .join(broadcast(customer(s, d)), col("o_custkey") === col("c_custkey"))
        .select("o_orderkey", "o_totalprice", "c_name", "c_mktsegment")),
    // deliberate pre-salting of a skewed join (Skew.saltedJoin): results are
    // IDENTICAL to the plain inner join — which is exactly what the oracle
    // checks — while hot keys spread over 8 shuffle partitions
    Gate("join_salted_skew",
      """SELECT event_id, e.user_id, user_total
        |  FROM events e
        |  JOIN (SELECT user_id, count(*) AS user_total FROM events GROUP BY user_id) d
        |    ON e.user_id = d.user_id""".stripMargin)((s, d) => {
      val ev = events(s, d)
      val dim = ev.groupBy("user_id").agg(count(lit(1)).as("user_total"))
      graft.ops.Skew.saltedJoin(ev.select("event_id", "user_id"), dim, "user_id", 8)
        .select("event_id", "user_id", "user_total")
    }),
    Gate("window_topk_per_segment",
      """SELECT c_mktsegment, o_orderkey, o_totalprice FROM (
        |  SELECT c_mktsegment, o_orderkey, o_totalprice,
        |         row_number() OVER (PARTITION BY c_mktsegment ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |    FROM orders JOIN customer ON o_custkey = c_custkey) x
        | WHERE rn <= 3""".stripMargin)((s, d) => {
      val j = orders(s, d).join(broadcast(customer(s, d)), col("o_custkey") === col("c_custkey"))
        .select("c_mktsegment", "o_orderkey", "o_totalprice")
      val w = Window.partitionBy("c_mktsegment").orderBy(col("o_totalprice").desc, col("o_orderkey"))
      j.withColumn("rn", row_number().over(w)).filter(col("rn") <= 3).drop("rn")
    }),
    // analytic window functions (§2.5): lag/lead/row_number + a running sum,
    // one shuffle on the partition key; the running sum accumulates exact
    // decimals (order-independent) and only the final value is rounded double
    Gate("window_order_ledger",
      """SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice,
        |       row_number() OVER w AS order_seq,
        |       lag(o_totalprice, 1) OVER w AS prev_price,
        |       lead(o_totalprice, 1) OVER w AS next_price,
        |       round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
        |             OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE), 2) AS running_total
        |  FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)""".stripMargin)((s, d) => {
      val w = Window.partitionBy("o_custkey").orderBy(col("o_orderdate"), col("o_orderkey"))
      orders(s, d).select(
        col("o_custkey"), col("o_orderkey"), col("o_orderdate"), col("o_totalprice"),
        row_number().over(w).as("order_seq"),
        lag("o_totalprice", 1).over(w).as("prev_price"),
        lead("o_totalprice", 1).over(w).as("next_price"),
        round(sum(col("o_totalprice").cast("decimal(18,2)"))
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .cast("double"), 2).as("running_total"))
    }),
    // bounded-frame moving aggregate (§2.5): daily rollup then a 7-row
    // trailing sum per type — the grouped pass partial-aggregates map-side,
    // the frame pass shuffles once on event_type
    Gate("window_moving_daily",
      """WITH daily AS (
        |  SELECT CAST(CAST(ts AS DATE) AS TIMESTAMP) AS event_date, event_type,
        |         count(*) AS n_events, sum(CAST(value AS DECIMAL(18,2))) AS tv
        |    FROM events GROUP BY 1, 2)
        |SELECT event_date, event_type, n_events,
        |       round(CAST(tv AS DOUBLE), 2) AS total_value,
        |       n_events - lag(n_events, 1) OVER (PARTITION BY event_type ORDER BY event_date) AS delta_events,
        |       round(CAST(sum(tv) OVER (PARTITION BY event_type ORDER BY event_date
        |             ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS DOUBLE), 2) AS total_7d
        |  FROM daily""".stripMargin)((s, d) => {
      val daily = events(s, d).groupBy(
        date_trunc("day", col("ts")).cast("timestamp_ntz").as("event_date"), col("event_type"))
        .agg(count(lit(1)).as("n_events"), sum(col("value").cast("decimal(18,2)")).as("tv"))
      val w = Window.partitionBy("event_type").orderBy("event_date")
      daily.select(
        col("event_date"), col("event_type"), col("n_events"),
        round(col("tv").cast("double"), 2).as("total_value"),
        (col("n_events") - lag("n_events", 1).over(w)).as("delta_events"),
        round(sum(col("tv")).over(w.rowsBetween(-6, Window.currentRow)).cast("double"), 2)
          .as("total_7d"))
    }),
    // set operations (§2.7): INTERSECT / EXCEPT / UNION ALL as first-class
    // ops — Spark plans intersect/except as hash left-semi/anti over the
    // distinct sets, shuffling only the (small) key projections
    Gate("set_ops_user_cohorts",
      """SELECT user_id, 'both' AS cohort
        |  FROM (SELECT user_id FROM events WHERE event_type = 'purchase'
        |        INTERSECT
        |        SELECT user_id FROM events WHERE event_type = 'error') t
        |UNION ALL
        |SELECT user_id, 'purchase_only' AS cohort
        |  FROM (SELECT user_id FROM events WHERE event_type = 'purchase'
        |        EXCEPT
        |        SELECT user_id FROM events WHERE event_type = 'error') t
        |UNION ALL
        |SELECT user_id, 'error_only' AS cohort
        |  FROM (SELECT user_id FROM events WHERE event_type = 'error'
        |        EXCEPT
        |        SELECT user_id FROM events WHERE event_type = 'purchase') t""".stripMargin)((s, d) => {
      val ev = events(s, d)
      def users(t: String) = ev.filter(col("event_type") === t).select("user_id").distinct()
      val buyers = users("purchase")
      val erring = users("error")
      buyers.intersect(erring).withColumn("cohort", lit("both"))
        .unionByName(buyers.except(erring).withColumn("cohort", lit("purchase_only")))
        .unionByName(erring.except(buyers).withColumn("cohort", lit("error_only")))
    }),
    // CUBE: all four grouping sets over (status, month) in one pass —
    // partial-aggregated map-side like any groupBy, one shuffle
    Gate("agg_cube_orders",
      """SELECT o_orderstatus, strftime(o_orderdate, '%Y-%m') AS order_month, count(*) AS n_orders,
        |       round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS total_price
        |  FROM orders GROUP BY CUBE (o_orderstatus, strftime(o_orderdate, '%Y-%m'))""".stripMargin)((s, d) =>
      orders(s, d)
        .cube(col("o_orderstatus"), date_format(col("o_orderdate"), "yyyy-MM").as("order_month"))
        .agg(count(lit(1)).as("n_orders"),
          round(sum(col("o_totalprice").cast("decimal(18,2)")).cast("double"), 2).as("total_price"))),
    // LEFT OUTER enrichment with null preservation: every customer row
    // survives, order-less customers carry NULL aggregates — the dimension
    // side pre-aggregates so only (key, count, sum) rows join
    Gate("join_left_outer_orders",
      """WITH per AS (
        |  SELECT o_custkey, count(*) AS n_orders,
        |         round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS total_price
        |    FROM orders GROUP BY 1)
        |SELECT c_custkey, c_name, c_nationkey, n_orders, total_price
        |  FROM customer LEFT JOIN per ON c_custkey = o_custkey""".stripMargin)((s, d) => {
      val per = orders(s, d).groupBy("o_custkey")
        .agg(count(lit(1)).as("n_orders"),
          round(sum(col("o_totalprice").cast("decimal(18,2)")).cast("double"), 2)
            .as("total_price"))
      customer(s, d).select("c_custkey", "c_name", "c_nationkey")
        .join(per, col("c_custkey") === col("o_custkey"), "left")
        .drop("o_custkey")
    }),
    // snapshot reconciliation as a FULL OUTER join of two windowed per-key
    // aggregates — the sync-engine "diff two table states" shape; both sides
    // pre-aggregate before the join so only (key, count) rows shuffle
    Gate("join_full_outer_reconcile",
      """WITH a AS (SELECT user_id, count(*) AS n_week1 FROM events
        |            WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-05' AND DATE '2024-01-09' GROUP BY user_id),
        |     b AS (SELECT user_id, count(*) AS n_week2 FROM events
        |            WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-10' AND DATE '2024-01-14' GROUP BY user_id)
        |SELECT COALESCE(a.user_id, b.user_id) AS user_id, n_week1, n_week2,
        |       CASE WHEN n_week1 IS NULL THEN 'week2_only'
        |            WHEN n_week2 IS NULL THEN 'week1_only'
        |            ELSE 'both' END AS presence
        |  FROM a FULL JOIN b ON a.user_id = b.user_id""".stripMargin)((s, d) => {
      val ev = events(s, d)
      val a = ev.filter(Ops.datePredicate("ts", EvFrom, EvTo))
        .groupBy("user_id").agg(count(lit(1)).as("n_week1"))
      val b = ev.filter(Ops.datePredicate("ts", LocalDate.of(2024, 1, 10), LocalDate.of(2024, 1, 14)))
        .groupBy("user_id").agg(count(lit(1)).as("n_week2"))
      a.join(b, Seq("user_id"), "full_outer")
        .select(col("user_id"), col("n_week1"), col("n_week2"),
          when(col("n_week1").isNull, lit("week2_only"))
            .when(col("n_week2").isNull, lit("week1_only"))
            .otherwise(lit("both")).as("presence"))
    }),
    Gate("agg_rollup_orders",
      """SELECT o_orderpriority, o_orderstatus, count(*) AS n_orders,
        |       round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS total_price
        |  FROM orders GROUP BY ROLLUP (o_orderpriority, o_orderstatus)""".stripMargin)((s, d) =>
      // ROLLUP: per-(priority, status) totals plus per-priority subtotals and
      // a grand total — one pass, partial-aggregated like any groupBy
      orders(s, d).rollup("o_orderpriority", "o_orderstatus")
        .agg(count(lit(1)).as("n_orders"),
          // compared as round(double, 2), not decimal(38,2): wide-decimal
          // output hash-mismatched at the driver 3 rounds running (r3 verdict)
          round(sum(col("o_totalprice").cast("decimal(18,2)")).cast("double"), 2).as("total_price"))),
    Gate("agg_events_daily",
      // CAST chain (not date_trunc): DuckDB's date_trunc('day') returns DATE
      """SELECT CAST(CAST(ts AS DATE) AS TIMESTAMP) AS event_date, event_type, count(*) AS n_events,
        |       round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS total_value
        |  FROM events GROUP BY 1, 2""".stripMargin)((s, d) =>
      // day key as a day-truncated TIMESTAMP_NTZ, not DATE (date32 output
      // hash-differs from DuckDB's day-timestamp at the driver) and not bare
      // date_trunc output (LTZ TimestampType → legacy INT96 parquet, the
      // 3-round hash-red root cause). Cast is value-identity under UTC.
      events(s, d).groupBy(
        date_trunc("day", col("ts")).cast("timestamp_ntz").as("event_date"), col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          // decimal(18,2) output hash-mismatched at the driver in r4 even
          // after the NTZ day-key fix; rounded double is the representation
          // the gate demonstrably hashes reliably (q1/rollup, fixed r4)
          round(sum(col("value").cast("decimal(18,2)")).cast("double"), 2).as("total_value"))),
    // GROUPING SETS beyond rollup/cube's hierarchies: two independent
    // one-dimension aggregates in ONE pass over the fact table (status
    // totals ∪ priority totals), partial-aggregated map-side like any groupBy
    Gate("agg_grouping_sets",
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders,
        |       round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS total_price
        |  FROM orders
        | GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))""".stripMargin)((s, d) =>
      orders(s, d).groupingSets(
          Seq(Seq(col("o_orderstatus")), Seq(col("o_orderpriority"))),
          col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"),
          round(sum(col("o_totalprice").cast("decimal(18,2)")).cast("double"), 2)
            .as("total_price"))),
    // rank/distribution analytics (§2.5): dense_rank, quartile ntile,
    // percent_rank, cume_dist per event type over per-user totals — exact
    // rational arithmetic both engines compute bit-identically
    Gate("window_rank_metrics",
      """WITH pu AS (
        |  SELECT event_type, user_id,
        |         round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS total_value
        |    FROM events GROUP BY 1, 2)
        |SELECT event_type, user_id, total_value,
        |       dense_rank() OVER w AS drank,
        |       ntile(4) OVER w AS quartile,
        |       round(percent_rank() OVER w, 6) AS pct_rank,
        |       round(cume_dist() OVER w, 6) AS cdist
        |  FROM pu
        |WINDOW w AS (PARTITION BY event_type ORDER BY total_value DESC, user_id)""".stripMargin)((s, d) => {
      val pu = events(s, d).groupBy("event_type", "user_id")
        .agg(round(sum(col("value").cast("decimal(18,2)")).cast("double"), 2)
          .as("total_value"))
      val w = Window.partitionBy("event_type")
        .orderBy(col("total_value").desc, col("user_id"))
      pu.select(col("event_type"), col("user_id"), col("total_value"),
        dense_rank().over(w).as("drank"),
        ntile(4).over(w).as("quartile"),
        round(percent_rank().over(w), 6).as("pct_rank"),
        round(cume_dist().over(w), 6).as("cdist"))
    }),
    // rolling volume anomaly: per-type daily counts z-scored against the
    // trailing 7-day baseline (current day excluded); integer window sums
    // make every derived double bit-identical cross-engine
    Gate("ts_volume_anomaly",
      // same dense grid + the same integer rolling sums over ROWS BETWEEN 7
      // PRECEDING AND 1 PRECEDING; the derived mean/var/z expressions mirror
      // the operator's shape exactly (exact-integer inputs -> identical IEEE
      // doubles, rounding is display-only; the anomaly flag compares the
      // UNROUNDED z)
      """WITH daily AS (
        |  SELECT event_type AS k, CAST(CAST(ts AS DATE) AS TIMESTAMP) AS day,
        |         count(*) AS c FROM events GROUP BY 1, 2),
        |span AS (SELECT k, min(day) AS d0, max(day) AS d1 FROM daily GROUP BY 1),
        |grid AS (SELECT k, unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS day
        |           FROM span),
        |g AS (SELECT g.k, g.day, coalesce(d.c, 0) AS c
        |        FROM grid g LEFT JOIN daily d ON g.k = d.k AND g.day = d.day),
        |w AS (SELECT k, day, c,
        |        count(*) OVER win AS n,
        |        CAST(coalesce(sum(c) OVER win, 0) AS BIGINT) AS sx,
        |        CAST(coalesce(sum(c * c) OVER win, 0) AS BIGINT) AS sxx
        |      FROM g WINDOW win AS (PARTITION BY k ORDER BY day
        |        ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)),
        |v AS (SELECT *, CAST(n * sxx - sx * sx AS DOUBLE)
        |               / CAST(n * n AS DOUBLE) AS vr,
        |             CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS mean
        |        FROM w)
        |SELECT k AS event_type, day, c AS n_events, n AS baseline_days,
        |       CASE WHEN n > 0 THEN round(mean, 6) END AS baseline_mean,
        |       CASE WHEN n >= 3 AND vr > 0 THEN round(sqrt(vr), 6) END AS baseline_std,
        |       CASE WHEN n >= 3 AND vr > 0
        |            THEN round((CAST(c AS DOUBLE) - mean) / sqrt(vr), 6) END AS z_score,
        |       CASE WHEN n >= 3 AND vr > 0
        |            THEN abs((CAST(c AS DOUBLE) - mean) / sqrt(vr)) >= 2.0
        |            ELSE FALSE END AS anomaly
        |  FROM v""".stripMargin)((s, d) =>
      ext.TimeSeries.rollingVolumeAnomaly(events(s, d), "event_type", "ts")),
    // temporal regularization: sparse per-user signup days resampled to each
    // user's dense day grid, totals forward-filled — one window pass, no
    // fabricated-grid join (TimeSeries.dailyGridFill)
    Gate("ts_resample_fill",
      """WITH daily AS (
        |  SELECT user_id, CAST(CAST(ts AS DATE) AS TIMESTAMP) AS day,
        |         count(*) AS n_events,
        |         round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS total_value
        |    FROM events WHERE event_type = 'signup' GROUP BY 1, 2),
        |span AS (SELECT user_id, min(day) AS d0, max(day) AS d1 FROM daily GROUP BY 1),
        |grid AS (SELECT user_id, unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS day
        |           FROM span),
        |j AS (SELECT g.user_id, g.day, d.n_events, d.total_value
        |        FROM grid g LEFT JOIN daily d ON g.user_id = d.user_id AND g.day = d.day)
        |SELECT user_id, day, n_events,
        |       last_value(total_value IGNORE NULLS) OVER (
        |         PARTITION BY user_id ORDER BY day
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS total_value
        |  FROM j""".stripMargin)((s, d) => {
      val daily = events(s, d).filter(col("event_type") === "signup")
        .groupBy(col("user_id"),
          date_trunc("day", col("ts")).cast("timestamp_ntz").as("day"))
        .agg(count(lit(1)).as("n_events"),
          round(sum(col("value").cast("decimal(18,2)")).cast("double"), 2)
            .as("total_value"))
      graft.ext.TimeSeries.dailyGridFill(daily, "user_id", "day", Seq("total_value"))
    }),
    // truncated-kernel EWMA (8 taps, alpha 0.3) over per-user daily value
    // totals — the smoothed-trend signal; one window pass, coefficients an
    // IEEE product chain the oracle folds to bit-identically
    Gate("ts_ewma_daily", ewmaDailySql)((s, d) => {
      val daily = events(s, d).groupBy(col("user_id"), col("ts").cast("date").as("day"))
        .agg(sum(col("value").cast("decimal(18,2)")).as("tv"))
      graft.ext.TimeSeries.truncatedEwma(daily, "user_id", "day", "tv")
        .select(col("user_id"), col("day"),
          round(col("tv").cast("double"), 2).as("daily_value"),
          round(col("ewma"), 6).as("ewma"))
    }),
    // lag-1 autocorrelation of per-type daily event counts (over OBSERVED
    // days — the lag is the previous observation, not the previous
    // calendar day): Pearson r from six exact INTEGER sums, so every
    // derived double is the same IEEE expression both engines compute
    Gate("ts_autocorr_daily",
      """WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS x
        |                 FROM events GROUP BY 1, 2),
        |p AS (SELECT event_type, x,
        |             lag(x) OVER (PARTITION BY event_type ORDER BY day) AS y
        |        FROM daily),
        |g AS (SELECT event_type, count(*) AS n, sum(x) AS sx, sum(y) AS sy,
        |             sum(x * y) AS sxy, sum(x * x) AS sxx, sum(y * y) AS syy
        |        FROM p WHERE y IS NOT NULL GROUP BY 1)
        |SELECT event_type, n AS n_pairs,
        |       CASE WHEN CAST(n * sxx - sx * sx AS DOUBLE) > 0.0
        |             AND CAST(n * syy - sy * sy AS DOUBLE) > 0.0
        |            THEN round(CAST(n * sxy - sx * sy AS DOUBLE) /
        |                       (sqrt(CAST(n * sxx - sx * sx AS DOUBLE)) *
        |                        sqrt(CAST(n * syy - sy * sy AS DOUBLE))), 6)
        |       END AS autocorr
        |  FROM g""".stripMargin)((s, d) => {
      val daily = events(s, d)
        .groupBy(col("event_type"), col("ts").cast("date").as("day"))
        .agg(count(lit(1)).as("x"))
      val w = Window.partitionBy("event_type").orderBy("day")
      val pairs = daily.withColumn("y", lag(col("x"), 1).over(w))
        .filter(col("y").isNotNull)
      val g = pairs.groupBy("event_type").agg(
        count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"), sum(col("y") * col("y")).as("syy"))
      val num = (col("n") * col("sxy") - col("sx") * col("sy")).cast("double")
      val dx = (col("n") * col("sxx") - col("sx") * col("sx")).cast("double")
      val dy = (col("n") * col("syy") - col("sy") * col("sy")).cast("double")
      g.select(col("event_type"), col("n").as("n_pairs"),
        when(dx > 0.0 && dy > 0.0, round(num / (sqrt(dx) * sqrt(dy)), 6)).as("autocorr"))
    }),
    // COUNT(DISTINCT) under ROLLUP: distinct users per (type, day) with
    // both subtotal levels — each grouping set re-aggregates the distinct
    // set (no sketch), the expand-then-aggregate plan Spark partials
    Gate("agg_distinct_rollup",
      """SELECT event_type, day, count(DISTINCT user_id) AS n_users, count(*) AS n_events
        |  FROM (SELECT event_type, CAST(ts AS DATE) AS day, user_id FROM events) t
        | GROUP BY ROLLUP (event_type, day)""".stripMargin)((s, d) =>
      events(s, d)
        .select(col("event_type"), col("ts").cast("date").as("day"), col("user_id"))
        .rollup("event_type", "day")
        .agg(countDistinct("user_id").as("n_users"), count(lit(1)).as("n_events"))),
    // retention/survival curve: fraction of users still active >= k days
    // after their first event, at every realized lifetime k — exact
    // integer suffix sums over the (tiny, day-span-bounded) lifetime
    // histogram; the windowed cumulative runs on <= 31 rows by design
    Gate("events_survival_retention",
      """WITH span AS (SELECT user_id,
        |                     date_diff('day', min(CAST(ts AS DATE)), max(CAST(ts AS DATE))) AS m
        |                FROM events GROUP BY 1),
        |h AS (SELECT m, count(*) AS cnt FROM span GROUP BY 1)
        |SELECT m AS k,
        |       CAST(sum(cnt) OVER (ORDER BY m DESC ROWS UNBOUNDED PRECEDING) AS BIGINT) AS survivors,
        |       round(CAST(sum(cnt) OVER (ORDER BY m DESC ROWS UNBOUNDED PRECEDING) AS DOUBLE)
        |             / CAST(sum(cnt) OVER () AS DOUBLE), 6) AS fraction
        |  FROM h""".stripMargin)((s, d) => {
      val span = events(s, d).groupBy("user_id")
        .agg(datediff(max(col("ts").cast("date")), min(col("ts").cast("date"))).as("m"))
      val hist = span.groupBy("m").agg(count(lit(1)).as("cnt"))
      val w = Window.orderBy(col("m").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val tot = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      hist.select(col("m").as("k"), sum(col("cnt")).over(w).as("survivors"),
          round(sum(col("cnt")).over(w).cast("double") /
            sum(col("cnt")).over(tot), 6).as("fraction"))
    }),
    // weekly cohort retention matrix (r18): users grouped by first-active
    // week, each cohort's distinct-active count at every realized week
    // offset — the cohort grid behind every retention dashboard, and the
    // survival curve's two-dimensional refinement. Week key = epoch-days/7
    // (integer, engine-portable); exact distinct counts + ONE rounded
    // ratio. Scale shape: one distinct (user, week) projection, a per-user
    // min, and two grouped counts — the matrix is (weeks × offsets)-
    // bounded, never user-count-sized
    Gate("events_retention_cohorts",
      """WITH uw AS (SELECT DISTINCT user_id,
        |         CAST(floor((CAST(ts AS DATE) - DATE '1970-01-01') / 7.0) AS BIGINT) AS week
        |       FROM events),
        |ch AS (SELECT user_id, min(week) AS cohort_week FROM uw GROUP BY 1),
        |sz AS (SELECT cohort_week, count(*) AS cohort_n FROM ch GROUP BY 1),
        |act AS (SELECT ch.cohort_week, uw.week - ch.cohort_week AS week_offset,
        |               count(DISTINCT uw.user_id) AS active_n
        |          FROM uw JOIN ch USING (user_id) GROUP BY 1, 2)
        |SELECT act.cohort_week, act.week_offset, act.active_n, sz.cohort_n,
        |       round(CAST(act.active_n AS DOUBLE) / sz.cohort_n, 6) AS retention
        |  FROM act JOIN sz USING (cohort_week)""".stripMargin)((s, d) => {
      val wk = floor(datediff(col("ts").cast("date"),
        lit("1970-01-01").cast("date")) / lit(7.0)).cast("long")
      // tracked: the distinct activity frame feeds the cohort derivation
      // and the offset join; the cohort frame feeds sizes and the join
      val ue = graft.ext.Caches.track(
        events(s, d).select(col("user_id"), wk.as("week")).distinct())
      val cohort = graft.ext.Caches.track(
        ue.groupBy("user_id").agg(min("week").as("cohort_week")))
      val sizes = cohort.groupBy("cohort_week").agg(count(lit(1)).as("cohort_n"))
      ue.join(cohort, Seq("user_id"))
        .groupBy(col("cohort_week"), (col("week") - col("cohort_week")).as("week_offset"))
        .agg(countDistinct("user_id").as("active_n"))
        .join(broadcast(sizes), Seq("cohort_week"))
        .withColumn("retention",
          round(col("active_n").cast("double") / col("cohort_n"), 6))
        .select("cohort_week", "week_offset", "active_n", "cohort_n", "retention")
    }),
    // day-of-week-adjusted volume anomaly: each day's count z-scored
    // against its type's SAME-WEEKDAY profile (population stats, current
    // day included) — the seasonal complement to ts_volume_anomaly's
    // trailing window; all-integer sums make every double the same IEEE
    // expression both engines compute
    Gate("ts_seasonal_anomaly",
      // weekday(day) in Spark is 0=Monday; DuckDB's isodow is 1=Monday → −1
      """WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS x
        |                 FROM events GROUP BY 1, 2),
        |d2 AS (SELECT event_type, day, x, CAST(isodow(day) - 1 AS INT) AS dow FROM daily),
        |g AS (SELECT event_type, day, x, dow,
        |             count(*) OVER w AS n, sum(x) OVER w AS sx,
        |             sum(x * x) OVER w AS sxx
        |        FROM d2 WINDOW w AS (PARTITION BY event_type, dow))
        |SELECT event_type, day, x AS n_events, dow, n AS dow_days,
        |       CASE WHEN n >= 2 AND CAST(n * sxx - sx * sx AS DOUBLE)
        |                            / CAST(n * n AS DOUBLE) > 0.0
        |            THEN round((CAST(x AS DOUBLE) - CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
        |                       / sqrt(CAST(n * sxx - sx * sx AS DOUBLE) / CAST(n * n AS DOUBLE)), 6)
        |       END AS z_score
        |  FROM g""".stripMargin)((s, d) => {
      val daily = events(s, d)
        .groupBy(col("event_type"), col("ts").cast("date").as("day"))
        .agg(count(lit(1)).as("x"))
        .withColumn("dow", expr("weekday(day)"))
      val g = Window.partitionBy("event_type", "dow")
      val staged = daily
        .withColumn("n", count(lit(1)).over(g))
        .withColumn("sx", sum(col("x")).over(g))
        .withColumn("sxx", sum(col("x") * col("x")).over(g))
      val mean = col("sx").cast("double") / col("n").cast("double")
      val varN = (col("n") * col("sxx") - col("sx") * col("sx")).cast("double") /
        (col("n") * col("n")).cast("double")
      val z = (col("x").cast("double") - mean) / sqrt(varN)
      val ok = col("n") >= 2 && varN > 0.0
      staged.select(col("event_type"), col("day"), col("x").as("n_events"),
        col("dow"), col("n").as("dow_days"),
        when(ok, round(z, 6)).as("z_score"))
    }),
    // Lorenz/Pareto revenue concentration by customer decile: the global
    // rank comes from Ops.globalOrdinals (range partition + zipWithIndex —
    // NO single-partition exchange at any scale), deciles are INTEGER
    // arithmetic on that ordinal, and only the 10-row decile frame sees a
    // window; shares divide doubles cast from exact decimal sums
    Gate("window_pareto_deciles",
      """WITH rev AS (SELECT o_custkey, sum(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
        |               FROM orders GROUP BY 1),
        |t AS (SELECT sum(rev) AS total, count(*) AS n FROM rev),
        |o AS (SELECT rev, row_number() OVER (ORDER BY rev DESC, o_custkey) - 1 AS ord
        |        FROM rev),
        |d AS (SELECT CAST(ord * 10 // n AS INT) + 1 AS decile,
        |             count(*) AS n_customers, sum(rev) AS drev
        |        FROM o, t GROUP BY 1)
        |SELECT decile, n_customers,
        |       round(CAST(drev AS DOUBLE) / CAST(total AS DOUBLE), 6) AS rev_share,
        |       round(CAST(sum(drev) OVER (ORDER BY decile ROWS UNBOUNDED PRECEDING) AS DOUBLE)
        |             / CAST(total AS DOUBLE), 6) AS cum_share
        |  FROM d, t""".stripMargin)((s, d) => {
      val rev = orders(s, d).groupBy(col("o_custkey"))
        .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("rev"))
      val tot = broadcast(rev.agg(sum(col("rev")).as("total"), count(lit(1)).as("n")))
      val ord = graft.ops.Ops.globalOrdinals(rev,
        Seq(col("rev").desc, col("o_custkey")), 8, "ord")
      val dec = ord.crossJoin(tot)
        .withColumn("decile", expr("CAST(ord * 10 DIV n AS INT) + 1"))
        .groupBy("decile")
        .agg(count(lit(1)).as("n_customers"), sum(col("rev")).as("drev"),
          first(col("total")).as("total"))
      val w = Window.orderBy("decile")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      dec.select(col("decile"), col("n_customers"),
        round(col("drev").cast("double") / col("total").cast("double"), 6).as("rev_share"),
        round(sum(col("drev")).over(w).cast("double") / col("total").cast("double"), 6)
          .as("cum_share"))
    }),
    // Gini coefficient of order value per market segment via the rank
    // formula G = (2Σi·x − (n+1)Σx)/(nΣx) with x ascending — all-integer
    // cents arithmetic, Σi·x accumulated in DECIMAL(38,0) (a 30× probe
    // overflowed the long accumulator at ~2×10¹⁹; DuckDB mirrors with
    // HUGEINT — both exact in any accumulation order)
    Gate("agg_gini_segments",
      """WITH j AS (SELECT c_mktsegment, o_orderkey,
        |                  CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        |             FROM orders JOIN customer ON o_custkey = c_custkey),
        |r AS (SELECT c_mktsegment, cents,
        |             row_number() OVER (PARTITION BY c_mktsegment
        |                 ORDER BY cents, o_orderkey) AS i
        |        FROM j)
        |SELECT c_mktsegment, count(*) AS n,
        |       round((2.0 * CAST(sum(CAST(i AS HUGEINT) * cents) AS DOUBLE)
        |              - CAST(count(*) + 1 AS DOUBLE) * CAST(sum(cents) AS DOUBLE))
        |             / (CAST(count(*) AS DOUBLE) * CAST(sum(cents) AS DOUBLE)), 6) AS gini
        |  FROM r GROUP BY 1""".stripMargin)((s, d) => {
      val j = orders(s, d)
        .join(broadcast(customer(s, d)), col("o_custkey") === col("c_custkey"))
        .select(col("c_mktsegment"), col("o_orderkey"),
          (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long").as("cents"))
      val w = Window.partitionBy("c_mktsegment").orderBy(col("cents"), col("o_orderkey"))
      j.withColumn("i", row_number().over(w).cast("long"))
        .groupBy("c_mktsegment").agg(count(lit(1)).as("n"),
          sum(col("cents")).as("sx"),
          sum(col("i").cast("decimal(19,0)") * col("cents").cast("decimal(19,0)")).as("six"))
        .select(col("c_mktsegment"), col("n"),
          round((lit(2.0) * col("six").cast("double") -
              (col("n") + 1).cast("double") * col("sx").cast("double")) /
            (col("n").cast("double") * col("sx").cast("double")), 6).as("gini"))
    }),
    // linear multi-touch attribution: each purchase's credit split equally
    // across the DISTINCT touch types (view/click) seen in its user's
    // 7 prior days — credits are 1/k with k ≤ 2, so every credit is an
    // exact binary fraction and the sums are exact in any order
    Gate("events_attribution_linear",
      """WITH conv AS (SELECT event_id AS conv_id, user_id, ts AS cts
        |                FROM events WHERE event_type = 'purchase'),
        |touch AS (SELECT user_id, event_type AS touch_type, ts AS tts
        |            FROM events WHERE event_type IN ('view', 'click')),
        |j AS (SELECT DISTINCT conv_id, touch_type
        |        FROM conv JOIN touch USING (user_id)
        |       WHERE tts < cts AND tts >= cts - INTERVAL 7 DAY),
        |c AS (SELECT conv_id, touch_type,
        |             CAST(1.0 AS DOUBLE) / count(*) OVER (PARTITION BY conv_id) AS credit
        |        FROM j)
        |SELECT touch_type, count(*) AS n_conversions, round(sum(credit), 6) AS credit
        |  FROM c GROUP BY 1""".stripMargin)((s, d) => {
      val ev = events(s, d)
      val conv = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("conv_id"), col("user_id"), col("ts").as("cts"))
      val touch = ev.filter(col("event_type").isin("view", "click"))
        .select(col("user_id"), col("event_type").as("touch_type"), col("ts").as("tts"))
      val j = conv.join(touch, Seq("user_id"))
        .filter(col("tts") < col("cts") &&
          col("tts") >= col("cts") - expr("INTERVAL 7 DAYS"))
        .select(col("conv_id"), col("touch_type")).distinct()
      j.withColumn("credit",
          lit(1.0) / count(lit(1)).over(Window.partitionBy("conv_id")))
        .groupBy("touch_type")
        .agg(count(lit(1)).as("n_conversions"), round(sum("credit"), 6).as("credit"))
    }),
    // RFM segmentation: per-user recency/frequency/monetary quartile codes
    // via three chained global quantile-bin passes (Sampling.quantileBins —
    // exact interpolated thresholds, ties fall lower); recency in exact
    // microseconds from the corpus max, monetary an exact decimal sum
    Gate("events_rfm_segments",
      """WITH rfm AS (SELECT user_id, max(epoch_us(ts)) AS last_us, count(*) AS f,
        |                    CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS m
        |               FROM events GROUP BY 1),
        |mx AS (SELECT max(epoch_us(ts)) AS mx FROM events),
        |w AS (SELECT user_id, mx - last_us AS r_us, f, m FROM rfm, mx),
        |tr AS (SELECT quantile_cont(r_us, [0.25, 0.5, 0.75]) AS t FROM w),
        |tf AS (SELECT quantile_cont(f, [0.25, 0.5, 0.75]) AS t FROM w),
        |tm AS (SELECT quantile_cont(m, [0.25, 0.5, 0.75]) AS t FROM w),
        |b AS (SELECT user_id,
        |             1 + len(list_filter(tr.t, x -> r_us > x)) AS r_bin,
        |             1 + len(list_filter(tf.t, x -> f > x)) AS f_bin,
        |             1 + len(list_filter(tm.t, x -> m > x)) AS m_bin
        |        FROM w, tr, tf, tm)
        |SELECT user_id, r_bin, f_bin, m_bin,
        |       CAST(r_bin AS VARCHAR) || CAST(f_bin AS VARCHAR) || CAST(m_bin AS VARCHAR) AS segment
        |  FROM b""".stripMargin)((s, d) => {
      val ev = events(s, d)
      val mx = broadcast(ev.agg(max(unix_micros(col("ts").cast("timestamp"))).as("mx")))
      val rfm = ev.groupBy("user_id").agg(
        max(unix_micros(col("ts").cast("timestamp"))).as("last_us"),
        count(lit(1)).as("f"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("m"))
      val base = rfm.crossJoin(mx)
        .select(col("user_id"), (col("mx") - col("last_us")).as("r_us"), col("f"), col("m"))
      val binned = Sampling.quantileBins(
        Sampling.quantileBins(
          Sampling.quantileBins(base, "r_us", 4, "r_bin"),
          "f", 4, "f_bin"),
        "m", 4, "m_bin")
      binned.select(col("user_id"), col("r_bin"), col("f_bin"), col("m_bin"),
        concat(col("r_bin").cast("string"), col("f_bin").cast("string"),
          col("m_bin").cast("string")).as("segment"))
    }),
    // conversion lag: per-user first purchase AFTER the first view, exact
    // microsecond arithmetic (unix_micros ≡ epoch_us), interpolated
    // percentiles over the integral lags — one row out
    Gate("events_conversion_lag",
      """WITH fv AS (SELECT user_id, min(ts) AS first_view FROM events
        |             WHERE event_type = 'view' GROUP BY 1),
        |lg AS (SELECT e.user_id,
        |              min(epoch_us(e.ts)) - epoch_us(first_view) AS lag_us
        |         FROM events e JOIN fv USING (user_id)
        |        WHERE e.event_type = 'purchase' AND e.ts > first_view
        |        GROUP BY e.user_id, first_view)
        |SELECT count(*) AS n_converted,
        |       round(quantile_cont(lag_us, 0.25) / 1000000.0, 6) AS p25_s,
        |       round(quantile_cont(lag_us, 0.5) / 1000000.0, 6) AS p50_s,
        |       round(quantile_cont(lag_us, 0.75) / 1000000.0, 6) AS p75_s,
        |       round(quantile_cont(lag_us, 0.9) / 1000000.0, 6) AS p90_s
        |  FROM lg""".stripMargin)((s, d) => {
      val ev = events(s, d)
      val fv = ev.filter(col("event_type") === "view")
        .groupBy("user_id").agg(min(col("ts")).as("first_view"))
      val lags = ev.filter(col("event_type") === "purchase")
        .join(fv, "user_id").filter(col("ts") > col("first_view"))
        .groupBy(col("user_id"), col("first_view"))
        .agg(min(unix_micros(col("ts").cast("timestamp"))).as("mb"))
        .select((col("mb") - unix_micros(col("first_view").cast("timestamp"))).as("lag_us"))
      def pct(q: Double, nm: String) =
        round(expr(s"percentile(lag_us, $q)") / 1000000.0, 6).as(nm)
      lags.agg(count(lit(1)).as("n_converted"), pct(0.25, "p25_s"),
        pct(0.5, "p50_s"), pct(0.75, "p75_s"), pct(0.9, "p90_s"))
    }),
    Gate("distinct_counts",
      "SELECT count(DISTINCT user_id) AS n_users, count(DISTINCT event_type) AS n_types FROM events")((s, d) =>
      events(s, d).agg(
        countDistinct(col("user_id")).as("n_users"),
        countDistinct(col("event_type")).as("n_types"))),
    // pivot: per-user value totals spread across the 5 event types — one
    // grouped pass, each cell a partial-aggregated sum (users missing a type
    // get NULL, matching the SQL CASE-sum)
    Gate("agg_pivot_event_types",
      """SELECT user_id,
        |       round(CAST(sum(CASE WHEN event_type = 'click' THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE), 2) AS click,
        |       round(CAST(sum(CASE WHEN event_type = 'view' THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE), 2) AS view,
        |       round(CAST(sum(CASE WHEN event_type = 'purchase' THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE), 2) AS purchase,
        |       round(CAST(sum(CASE WHEN event_type = 'signup' THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE), 2) AS signup,
        |       round(CAST(sum(CASE WHEN event_type = 'error' THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE), 2) AS error
        |  FROM events GROUP BY user_id""".stripMargin)((s, d) =>
      events(s, d).groupBy("user_id")
        .pivot("event_type", Seq("click", "view", "purchase", "signup", "error"))
        .agg(round(sum(col("value").cast("decimal(18,2)")).cast("double"), 2))),
    // exact interpolated quantiles per type (Spark `percentile` ≡ DuckDB
    // `quantile_cont`, both the (n−1)·q linear-interpolation definition;
    // round(6) absorbs summation-order ulps)
    Gate("agg_value_percentiles",
      """SELECT event_type,
        |       round(quantile_cont(value, 0.25), 6) AS p25,
        |       round(quantile_cont(value, 0.50), 6) AS p50,
        |       round(quantile_cont(value, 0.75), 6) AS p75
        |  FROM events GROUP BY event_type""".stripMargin)((s, d) =>
      events(s, d).groupBy("event_type").agg(
        round(expr("percentile(value, 0.25)"), 6).as("p25"),
        round(expr("percentile(value, 0.5)"), 6).as("p50"),
        round(expr("percentile(value, 0.75)"), 6).as("p75"))),
    // dataset profiling: one aggregation pass, long-format per-column stats
    Gate("profile_events",
      """SELECT 'event_id' AS col_name, count(*) AS n_rows, count(*) - count(event_id) AS n_nulls, count(DISTINCT event_id) AS n_distinct FROM events
        |UNION ALL SELECT 'user_id', count(*), count(*) - count(user_id), count(DISTINCT user_id) FROM events
        |UNION ALL SELECT 'event_type', count(*), count(*) - count(event_type), count(DISTINCT event_type) FROM events
        |UNION ALL SELECT 'value', count(*), count(*) - count(value), count(DISTINCT value) FROM events
        |UNION ALL SELECT 'props', count(*), count(*) - count(props), count(DISTINCT props) FROM events""".stripMargin)((s, d) =>
      ext.Profiling.profile(events(s, d),
        Seq("event_id", "user_id", "event_type", "value", "props"))),
    // robust per-group outlier screen: modified z-score (median/MAD,
    // Iglewicz–Hoaglin k=3.5) — immune to the masking that mean/stddev
    // z-scores suffer on the value column's heavy right tail
    Gate("profile_outliers_mad",
      // same interpolated-median parity as agg_value_percentiles
      // (quantile_cont ≡ Spark percentile); the arithmetic is spelled in the
      // operator's exact order — (0.6745·(x−med))/mad — and mad=0 groups drop
      """WITH m AS (SELECT event_type, quantile_cont(value, 0.5) AS med
        |             FROM events GROUP BY 1),
        |d AS (SELECT e.event_type, e.event_id, e.value, m.med,
        |             abs(e.value - m.med) AS dev
        |        FROM events e JOIN m USING (event_type)),
        |s AS (SELECT event_type, quantile_cont(dev, 0.5) AS mad
        |        FROM d GROUP BY 1)
        |SELECT d.event_type, d.event_id, d.value,
        |       round(0.6745 * (d.value - d.med) / s.mad, 6) AS robust_z
        |  FROM d JOIN s USING (event_type)
        | WHERE s.mad > 0 AND abs(0.6745 * (d.value - d.med) / s.mad) > 3.5""".stripMargin)((s, d) =>
      ext.Profiling.madOutliers(events(s, d), Seq("event_type"), "value",
          carryCols = Seq("event_id"), k = 3.5)
        .select(col("event_type"), col("event_id"), col("value"),
          round(col("robust_z"), 6).as("robust_z"))),
    // equi-width value histogram: scalar min/max pass, then one grouped
    // count on the computed bin — at most `bins` partials per partition
    Gate("profile_histogram",
      // the CASE mirrors the operator's constant-column fallback (w = 1.0
      // when hi == lo) — without it DuckDB's 0/0 → NULL and LEAST(19, NULL)
      // would misfile a constant column into bin 19
      """WITH mm AS (SELECT min(CAST(value AS DOUBLE)) AS lo,
        |                   max(CAST(value AS DOUBLE)) AS hi FROM events),
        |mw AS (SELECT lo, hi,
        |              CASE WHEN hi > lo THEN (hi - lo) / 20 ELSE 1.0 END AS w FROM mm),
        |b AS (SELECT LEAST(19, CAST(floor((CAST(value AS DOUBLE) - mw.lo) / mw.w) AS INT)) AS bin
        |        FROM events, mw WHERE value IS NOT NULL),
        |c AS (SELECT bin, count(*) AS n FROM b GROUP BY bin)
        |SELECT c.bin, mw.lo + c.bin * mw.w AS bin_lo,
        |       mw.lo + (c.bin + 1) * mw.w AS bin_hi, c.n
        |  FROM c, mw""".stripMargin)((s, d) =>
      ext.Profiling.histogram(events(s, d), "value", bins = 20)),
    // PSI distribution drift between two snapshot halves (event_id parity):
    // reference-derived equi-width bins, edge-clamped, Laplace-smoothed
    // shares; rounded at 6 (ln/division ulps differ across libms)
    Gate("profile_psi_drift",
      """WITH r AS (SELECT CAST(value AS DOUBLE) AS v FROM events
        |            WHERE event_id % 2 = 0 AND value IS NOT NULL AND isfinite(CAST(value AS DOUBLE))),
        |c AS (SELECT CAST(value AS DOUBLE) AS v FROM events
        |       WHERE event_id % 2 = 1 AND value IS NOT NULL AND isfinite(CAST(value AS DOUBLE))),
        |mm AS (SELECT min(v) AS lo, max(v) AS hi FROM r),
        |mw AS (SELECT lo, CASE WHEN hi > lo THEN (hi - lo) / 10 ELSE 1.0 END AS w FROM mm),
        |rb AS (SELECT GREATEST(0, LEAST(9, CAST(floor((v - mw.lo) / mw.w) AS INT))) AS bin
        |         FROM r, mw),
        |cb AS (SELECT GREATEST(0, LEAST(9, CAST(floor((v - mw.lo) / mw.w) AS INT))) AS bin
        |         FROM c, mw),
        |rc AS (SELECT bin, count(*) AS cr FROM rb GROUP BY bin),
        |ccn AS (SELECT bin, count(*) AS ccnt FROM cb GROUP BY bin),
        |tot AS (SELECT (SELECT count(*) FROM r) AS nr, (SELECT count(*) FROM c) AS nc),
        |s AS (SELECT CAST(b.range AS INT) AS bin,
        |             (coalesce(rc.cr, 0) + 0.5) / (tot.nr + 0.5 * 10) AS p,
        |             (coalesce(ccn.ccnt, 0) + 0.5) / (tot.nc + 0.5 * 10) AS q
        |        FROM range(10) b
        |        LEFT JOIN rc ON rc.bin = b.range
        |        LEFT JOIN ccn ON ccn.bin = b.range, tot)
        |SELECT bin, round(p, 6) AS p_ref, round(q, 6) AS p_cur,
        |       round((p - q) * ln(p / q), 6) AS psi_contrib
        |  FROM s""".stripMargin)((s, d) => {
      val ev = events(s, d)
      ext.Profiling.psiDrift(ev.filter(col("event_id") % 2 === 0),
          ev.filter(col("event_id") % 2 === 1), "value", bins = 10)
        .select(col("bin"), round(col("p_ref"), 6).as("p_ref"),
          round(col("p_cur"), 6).as("p_cur"),
          round(col("psi_contrib"), 6).as("psi_contrib"))
    }),
    // count–min sketch probe: exact top-30 tokens vs their sketch
    // estimates — the mergeable constant-memory frequency sketch (cell-wise
    // sum IS the merge, d×w rows at any corpus size); buckets keyed by the
    // portable idHash so both engines address the same cells
    Gate("profile_cms_heavy_hitters",
      // identical edges/clamp/smoothing/contribution arithmetic; the spine
      // (range(10)) makes empty bins present on both engines
      // CMS re-derived: ONE portable hash per term, the same affine
      // per-row bucket derivation ((h·(2i+1)+i) mod w) on both the sketch
      // build and the probe side, min over the depth rows
      cmsProbeSql)((s, d) =>
      ext.Profiling.cmsHeavyHitters(docs(s, d), "text")),
    // one-row corpus data card: counts/cardinalities/mass/dup rate, every
    // number an exact integer or exact integer division — no rounding
    Gate("profile_corpus_card",
      // identical counts/cardinalities/divisions; the fingerprint is the
      // repo-wide contentFingerprint formula (the dedup_fingerprint mirror)
      """WITH s AS (SELECT text,
        |       CASE WHEN text IS NOT NULL
        |            THEN len(regexp_split_to_array(text, '\s+')) END AS nt,
        |       lang, source,
        |       md5(array_to_string(list_sort(list_distinct(
        |         regexp_split_to_array(text, '\s+'))), ' ')) AS fp
        |  FROM documents),
        |a AS (SELECT count(*) AS n_docs,
        |             count(*) - count(text) AS n_null_text,
        |             count(DISTINCT lang) AS n_langs,
        |             count(DISTINCT source) AS n_sources,
        |             CAST(sum(nt) AS BIGINT) AS total_tokens,
        |             CAST(sum(length(text)) AS BIGINT) AS total_chars,
        |             CAST(sum(CASE WHEN nt < 30 THEN 1 ELSE 0 END) AS BIGINT) AS n_short,
        |             count(DISTINCT fp) AS n_distinct_fingerprints
        |        FROM s)
        |SELECT *,
        |       CAST(total_tokens AS DOUBLE)
        |         / CAST(n_docs - n_null_text AS DOUBLE) AS mean_tokens,
        |       CAST(n_short AS DOUBLE)
        |         / CAST(n_docs - n_null_text AS DOUBLE) AS short_frac,
        |       CAST(n_docs - n_null_text - n_distinct_fingerprints AS DOUBLE)
        |         / CAST(n_docs - n_null_text AS DOUBLE) AS dup_frac
        |  FROM a""".stripMargin)((s, d) =>
      ext.Profiling.corpusCard(docs(s, d))),
    // Zipf's-law fit over the top-100 token frequencies: OLS of ln(freq)
    // on ln(rank) as EXPLICIT sums (n·Σxy−Σx·Σy over n·Σx²−(Σx)²) so both
    // engines run the same arithmetic shape; ranks/counts are exact ints,
    // stats rounded at 6 (the ln/sum-order contract)
    Gate("profile_zipf_fit",
      // identical explicit-sums OLS over the same (ln rank, ln count) points:
      // row_number() with the (count DESC, token ASC) total order ≡ the
      // Spark side's globalOrdinals numbering; ln of exact integers on both
      // engines, derived stats rounded at 6
      """WITH cnt AS (SELECT w, count(*) AS c FROM (
        |         SELECT unnest(regexp_split_to_array(text, '\s+')) AS w
        |           FROM documents) t GROUP BY w),
        |top AS (SELECT w, c FROM cnt ORDER BY c DESC, w LIMIT 100),
        |xy AS (SELECT ln(CAST(r AS DOUBLE)) AS x, ln(CAST(c AS DOUBLE)) AS y
        |         FROM (SELECT c, row_number() OVER (ORDER BY c DESC, w) AS r
        |                 FROM top) rr),
        |s AS (SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
        |             sum(x*y) AS sxy, sum(x*x) AS sxx, sum(y*y) AS syy
        |        FROM xy)
        |SELECT n AS n_ranks,
        |       round((CAST(n AS DOUBLE)*sxy - sx*sy)
        |             / (CAST(n AS DOUBLE)*sxx - sx*sx), 6) AS zipf_slope,
        |       round((sy - ((CAST(n AS DOUBLE)*sxy - sx*sy)
        |                    / (CAST(n AS DOUBLE)*sxx - sx*sx)) * sx)
        |             / CAST(n AS DOUBLE), 6) AS zipf_intercept,
        |       round(((CAST(n AS DOUBLE)*sxy - sx*sy)
        |              * (CAST(n AS DOUBLE)*sxy - sx*sy))
        |             / ((CAST(n AS DOUBLE)*sxx - sx*sx)
        |                * (CAST(n AS DOUBLE)*syy - sy*sy)), 6) AS zipf_r2
        |  FROM s""".stripMargin)((s, d) =>
      ext.Profiling.zipfFit(docs(s, d), "text")),
    // cohort retention: users grouped by first-activity day, distinct-user
    // counts per (cohort, day offset) — two key shuffles, both on user/day
    Gate("agg_user_retention",
      """WITH e AS (SELECT user_id, CAST(CAST(ts AS DATE) AS TIMESTAMP) AS day FROM events),
        |f AS (SELECT user_id, min(day) AS cohort_day FROM e GROUP BY 1)
        |SELECT cohort_day, date_diff('day', CAST(cohort_day AS DATE), CAST(day AS DATE)) AS day_offset,
        |       count(DISTINCT e.user_id) AS n_users
        |  FROM e JOIN f USING (user_id) GROUP BY 1, 2""".stripMargin)((s, d) => {
      val ev = events(s, d).select(col("user_id"),
        date_trunc("day", col("ts")).cast("timestamp_ntz").as("day"))
      val first = ev.groupBy("user_id").agg(min(col("day")).as("cohort_day"))
      ev.join(first, "user_id")
        .groupBy(col("cohort_day"),
          datediff(col("day").cast("date"), col("cohort_day").cast("date")).as("day_offset"))
        .agg(countDistinct(col("user_id")).as("n_users"))
    }),
    // first-touch conversion funnel view -> click -> purchase within 7 days
    // of each user's first view; per-step match timestamps ride the hash
    Gate("events_funnel",
      // first-touch funnel: the same greedy min-filter chain; step k+1
      // strictly after step k, no later than first-view + 7 days
      """WITH f AS (SELECT user_id, event_type, ts FROM events
        |            WHERE event_type IN ('view', 'click', 'purchase')),
        |s1 AS (SELECT user_id, min(ts) AS ts_1 FROM f
        |        WHERE event_type = 'view' GROUP BY user_id),
        |s2 AS (SELECT s1.user_id, s1.ts_1, min(f.ts) AS ts_2
        |         FROM s1 LEFT JOIN f ON f.user_id = s1.user_id
        |              AND f.event_type = 'click' AND f.ts > s1.ts_1
        |              AND f.ts <= s1.ts_1 + INTERVAL 604800 SECOND
        |        GROUP BY s1.user_id, s1.ts_1),
        |s3 AS (SELECT s2.user_id, s2.ts_1, s2.ts_2, min(f.ts) AS ts_3
        |         FROM s2 LEFT JOIN f ON f.user_id = s2.user_id
        |              AND f.event_type = 'purchase' AND f.ts > s2.ts_2
        |              AND f.ts <= s2.ts_1 + INTERVAL 604800 SECOND
        |        GROUP BY s2.user_id, s2.ts_1, s2.ts_2)
        |SELECT user_id, ts_1, ts_2, ts_3,
        |       1 + (CASE WHEN ts_2 IS NULL THEN 0 ELSE 1 END)
        |         + (CASE WHEN ts_3 IS NULL THEN 0 ELSE 1 END) AS steps_completed,
        |       ts_3 IS NOT NULL AS converted
        |  FROM s3""".stripMargin)((s, d) =>
      graft.ext.Events.funnel(events(s, d), "user_id", "event_type", "ts",
          Seq("view", "click", "purchase"), windowSeconds = 604800L)
        .withColumnRenamed("user", "user_id")),
    // contiguous 3-step path mining over per-user timelines (PrefixSpan's
    // n-gram core): occurrence + distinct-user support, min 20 occurrences
    Gate("events_frequent_paths",
      // same (ts, event_id) tie order as the transition digraph; support
      // filter on total occurrences, distinct-user support rides along
      """WITH s AS (SELECT user_id, event_type AS step_1,
        |         lead(event_type, 1) OVER w AS step_2,
        |         lead(event_type, 2) OVER w AS step_3
        |    FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
        |SELECT step_1, step_2, step_3, count(*) AS n_occurrences,
        |       count(DISTINCT user_id) AS n_users
        |  FROM s WHERE step_3 IS NOT NULL
        | GROUP BY 1, 2, 3 HAVING count(*) >= 20""".stripMargin)((s, d) =>
      graft.ext.Events.frequentPaths(events(s, d), "user_id", "event_type",
        "ts", "event_id", length = 3, minSupport = 20L)),
    Gate("json_extract_props",
      "SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k FROM events")((s, d) =>
      events(s, d).select(col("event_id"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))),
    // ---- keyless time-range join (§2.12): clicks near ANY error within 60 s.
    // Both sides deliberately name their time column `ts` — the canonical
    // event-correlation shape — so the gate exercises the collision-safe
    // internal rename, not just the easy distinct-names case.
    Gate("range_join_events", rangeJoinEventsSql)((s, d) => {
      val ev = events(s, d)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("ts"))
      val errors = ev.filter(col("event_type") === "error")
        .select(col("event_id").as("error_id"), col("ts"))
      Ops.rangeJoin(clicks, errors, "ts", "ts", java.time.Duration.ofSeconds(60))
        .select("click_id", "error_id")
    }),
    // interval-OVERLAP join: click/error SPANS (deterministic variable
    // lengths, event_id % 60 s) that intersect — both sides name their
    // bounds (s, e), exercising the collision-safe rename like range_join
    Gate("interval_join_events",
      // overlap of [ts, ts + (event_id % 60)s] spans; touching endpoints count
      """WITH c AS (SELECT event_id AS click_id,
        |                  epoch_us(CAST(ts AS TIMESTAMP)) AS s,
        |                  epoch_us(CAST(ts AS TIMESTAMP)) + (event_id % 60) * 1000000 AS e
        |             FROM events WHERE event_type = 'click'),
        |er AS (SELECT event_id AS error_id,
        |              epoch_us(CAST(ts AS TIMESTAMP)) AS s,
        |              epoch_us(CAST(ts AS TIMESTAMP)) + (event_id % 60) * 1000000 AS e
        |         FROM events WHERE event_type = 'error')
        |SELECT click_id, error_id FROM c, er
        | WHERE c.s <= er.e AND er.s <= c.e""".stripMargin)((s, d) => {
      val ev = events(s, d)
      def spans(tpe: String, idName: String) = ev.filter(col("event_type") === tpe)
        .select(col("event_id").as(idName), col("ts").as("s"),
          expr("ts + make_dt_interval(0, 0, 0, cast(event_id % 60 as double))").as("e"))
      Ops.intervalJoin(spans("click", "click_id"), spans("error", "error_id"),
        "s", "e", "s", "e", java.time.Duration.ofSeconds(60))
        .select("click_id", "error_id")
    }),
    // gaps-and-islands: maximal runs of consecutive active DAYS per user
    // (the classic day - row_number() constant-group trick) — streak
    // detection for engagement/retention cohorts; one window pass, one agg
    Gate("window_gap_islands",
      """WITH days AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        |g AS (SELECT user_id, day,
        |             day - CAST(row_number() OVER (PARTITION BY user_id ORDER BY day) AS INT) AS grp
        |        FROM days)
        |SELECT user_id, min(day) AS island_start, max(day) AS island_end,
        |       count(*) AS n_days
        |  FROM g GROUP BY user_id, grp""".stripMargin)((s, d) => {
      val days = events(s, d)
        .select(col("user_id"), col("ts").cast("date").as("day")).distinct()
      val w = Window.partitionBy("user_id").orderBy("day")
      days.withColumn("grp", date_sub(col("day"), row_number().over(w)))
        .groupBy("user_id", "grp")
        .agg(min("day").as("island_start"), max("day").as("island_end"),
          count(lit(1)).as("n_days"))
        .select("user_id", "island_start", "island_end", "n_days")
    }),
    Gate("agg_user_sessions", userSessionsSql)((s, d) => {
      // batch analog of streaming sessionize: gap-based sessions via
      // lag + cumulative session-break sum, then per-user rollup
      val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val sess = events(s, d)
        .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
        .withColumn("new_session",
          when(col("prev_ts").isNull ||
            col("ts") > col("prev_ts") + expr("INTERVAL 1800 SECONDS"), 1).otherwise(0))
        .withColumn("session_id", sum(col("new_session")).over(
          byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      sess.groupBy("user_id", "session_id").agg(count(lit(1)).as("n"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_sessions"), max(col("n")).as("longest_session"))
    }),
    // the Misra–Gries sketch gated in its EXACT regime: capacity above the
    // corpus' distinct-token count means no counter ever decrements and no
    // merge ever shrinks, so the sketch IS `GROUP BY token / count(*)` —
    // DuckDB-expressible; the approximate regime's ±n/(capacity+1) bounds
    // stay spec-pinned (AggregatorsSpec)
    Gate("agg_frequent_tokens",
      // exact-regime Misra–Gries (capacity > distinct tokens) ≡ GROUP BY
      """SELECT tok AS token, count(*) AS est_count
        |  FROM (SELECT unnest(regexp_split_to_array(text, '\s+')) AS tok FROM documents) t
        | GROUP BY tok""".stripMargin)((s, d) =>
      ext.Aggregators.frequentTokens(s, docs(s, d), capacity = 1 << 17)),
    // two-sample KS drift between the purchase and error value
    // distributions: bin-free CDF max-gap on the distinct-value grid
    Gate("profile_ks_drift",
      // CDF max-gap on the pooled distinct-value grid, identical divisions
      """WITH g AS (SELECT value AS v,
        |                  sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS ca,
        |                  sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS cb
        |             FROM events
        |            WHERE value IS NOT NULL AND event_type IN ('purchase', 'error')
        |            GROUP BY 1),
        |t AS (SELECT CAST(sum(ca) AS BIGINT) AS na, CAST(sum(cb) AS BIGINT) AS nb FROM g),
        |c AS (SELECT v, sum(ca) OVER (ORDER BY v) AS cca,
        |             sum(cb) OVER (ORDER BY v) AS ccb FROM g),
        |d AS (SELECT v, abs(CAST(cca AS DOUBLE) / na - CAST(ccb AS DOUBLE) / nb) AS dd
        |        FROM c, t),
        |m AS (SELECT max(dd) AS mx FROM d)
        |SELECT t.na AS n_a, t.nb AS n_b, round(m.mx, 6) AS ks_stat,
        |       min(d.v) AS at_value
        |  FROM d, m, t WHERE d.dd = m.mx GROUP BY 1, 2, 3""".stripMargin)((s, d) =>
      graft.ext.Profiling.ksStatistic(events(s, d), col("value"),
        col("event_type") === "purchase", col("event_type") === "error")),
    // Herfindahl–Hirschman revenue concentration per segment: exact
    // Σcᵢ²/S² over integer customer-revenue cents — one division total
    Gate("agg_hhi_segments",
      // Σcᵢ²/S² with HUGEINT squares, one double division
      """WITH cu AS (SELECT c_mktsegment, c_custkey,
        |                   sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS ci
        |              FROM orders JOIN customer ON o_custkey = c_custkey
        |             GROUP BY 1, 2)
        |SELECT c_mktsegment, count(*) AS n_customers,
        |       round(CAST(sum(CAST(ci AS HUGEINT) * ci) AS DOUBLE)
        |             / (CAST(sum(ci) AS DOUBLE) * CAST(sum(ci) AS DOUBLE)), 6) AS hhi
        |  FROM cu GROUP BY 1""".stripMargin)((s, d) => {
      val cust = orders(s, d)
        .join(broadcast(customer(s, d)), col("o_custkey") === col("c_custkey"))
        .select(col("c_mktsegment"), col("c_custkey"),
          (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long").as("cents"))
        .groupBy("c_mktsegment", "c_custkey")
        .agg(sum("cents").cast("decimal(38,0)").as("ci"))
      cust.groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_customers"),
          sum(col("ci") * col("ci")).as("__sq"), sum("ci").as("__s"))
        .select(col("c_mktsegment"), col("n_customers"),
          round(col("__sq").cast("double") /
            (col("__s").cast("double") * col("__s").cast("double")), 6).as("hhi"))
    }),
    // Theil–Sen robust daily-volume trend per event type: median of all
    // pairwise day-slopes over the zero-filled day grid
    Gate("ts_trend_theil_sen",
      // identical grid fill + per-pair IEEE slope + interpolated median
      """WITH daily AS (SELECT event_type AS k, CAST(CAST(ts AS DATE) AS TIMESTAMP) AS day,
        |                      count(*) AS x
        |                 FROM events GROUP BY 1, 2),
        |g AS (SELECT k, unnest(generate_series(mn, mx, INTERVAL 1 DAY)) AS day
        |        FROM (SELECT k, min(day) AS mn, max(day) AS mx FROM daily GROUP BY 1)),
        |f AS (SELECT g.k, g.day, coalesce(x, 0) AS x
        |        FROM g LEFT JOIN daily ON g.k = daily.k AND g.day = daily.day),
        |dd AS (SELECT k, datediff('day', min(day) OVER (PARTITION BY k), day) AS d, x
        |         FROM f),
        |p AS (SELECT a.k, CAST(b.x - a.x AS DOUBLE) / (b.d - a.d) AS s
        |        FROM dd a JOIN dd b ON a.k = b.k AND a.d < b.d)
        |SELECT k AS event_type, count(*) AS n_pairs,
        |       round(quantile_cont(s, 0.5), 6) AS slope
        |  FROM p GROUP BY 1""".stripMargin)((s, d) =>
      graft.ext.TimeSeries.theilSenTrend(events(s, d), "event_type", "ts")),
    // Theil T inequality per market segment beside the Gini gate: exact
    // integer cents, per-row (x·n/Σx)·ln(x·n/Σx) terms, one grouped sum
    Gate("agg_theil_index",
      // identical per-row double term (x·n/Σx)·ln(...), one grouped sum
      """WITH j AS (SELECT c_mktsegment,
        |                  CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        |             FROM orders JOIN customer ON o_custkey = c_custkey),
        |t AS (SELECT c_mktsegment, count(*) AS n, sum(cents) AS sx FROM j GROUP BY 1)
        |SELECT j.c_mktsegment, max(n) AS n,
        |       round(sum((CAST(cents AS DOUBLE) * CAST(n AS DOUBLE) / CAST(sx AS DOUBLE))
        |                 * ln(CAST(cents AS DOUBLE) * CAST(n AS DOUBLE) / CAST(sx AS DOUBLE)))
        |             / CAST(max(n) AS DOUBLE), 6) AS theil
        |  FROM j JOIN t USING (c_mktsegment) GROUP BY 1""".stripMargin)((s, d) => {
      val j = orders(s, d)
        .join(broadcast(customer(s, d)), col("o_custkey") === col("c_custkey"))
        .select(col("c_mktsegment"),
          (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long").as("cents"))
      val tot = j.groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n"), sum("cents").as("sx"))
      val r = col("cents").cast("double") * col("n").cast("double") /
        col("sx").cast("double")
      j.join(broadcast(tot), Seq("c_mktsegment"))
        .groupBy(col("c_mktsegment"))
        .agg(max(col("n")).as("n"),
          round(sum(r * log(r)) / max(col("n")).cast("double"), 6).as("theil"))
    }),
    // one-sided CUSUM level-shift chart per event type: the sequential
    // change detector for sustained small feed shifts the per-day z-score
    // misses; exact integer deviations via n-scaling, closed-form
    // prefix-sum/running-min windows (never the raw recursion)
    Gate("ts_cusum_shift",
      // closed-form CUSUM: P_i − min(0, min prefix P) over n-scaled integer
      // deviations; generate_series densifies gap days to real zeros
      """WITH daily AS (SELECT event_type AS k, CAST(CAST(ts AS DATE) AS TIMESTAMP) AS day,
        |                      count(*) AS x
        |                 FROM events GROUP BY 1, 2),
        |g AS (SELECT k, unnest(generate_series(mn, mx, INTERVAL 1 DAY)) AS day
        |        FROM (SELECT k, min(day) AS mn, max(day) AS mx FROM daily GROUP BY 1)),
        |f AS (SELECT g.k, g.day, coalesce(x, 0) AS x
        |        FROM g LEFT JOIN daily ON g.k = daily.k AND g.day = daily.day),
        |t AS (SELECT k, day, x,
        |             count(*) OVER (PARTITION BY k) AS n,
        |             sum(x) OVER (PARTITION BY k) AS sx
        |        FROM f),
        |c AS (SELECT k, day, x, n,
        |             sum(CAST(n AS HUGEINT) * x - sx - n * 2)
        |               OVER (PARTITION BY k ORDER BY day) AS cum
        |        FROM t),
        |m AS (SELECT k, day, x, n, cum,
        |             least(min(cum) OVER (PARTITION BY k ORDER BY day), 0) AS mp
        |        FROM c)
        |SELECT k AS event_type, day, x AS n_events,
        |       round(CAST(cum - mp AS DOUBLE) / CAST(n AS DOUBLE), 6) AS cusum,
        |       CAST(cum - mp AS DOUBLE) > 5.0 * n AS shift_alarm
        |  FROM m""".stripMargin)((s, d) =>
      graft.ext.TimeSeries.cusumShift(events(s, d), "event_type", "ts",
        slackPerDay = 2L, threshold = 5.0))
  )
}

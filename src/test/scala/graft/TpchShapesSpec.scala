package graft

import graft.gates.Gates
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Semantic pins for the round-17 TPC-H shape closures (q2/q4/q9/q11/q12/
  * q16/q20/q21 analogs — the oracle gate pins exact values vs DuckDB at
  * sf0.01; these re-derive the decorrelated semantics by brute force on
  * sf0.001, so a wrong join type or flipped residual fails HERE with a
  * named row, not as an opaque hash mismatch). */
class TpchShapesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def q(name: String) = Gates.byName(name)(spark, TestSpark.Sf0001)
  private def t(name: String) = graft.io.Tables.load(spark, TestSpark.Sf0001, name)

  test("q21: semi+anti decorrelation matches the brute-force EXISTS/NOT-EXISTS") {
    val lines = t("lineitem")
      .select("l_orderkey", "l_suppkey", "l_shipdate")
      .as[(Long, Long, java.time.LocalDateTime)].collect()
    val byOrder = lines.groupBy(_._1)
    val ordMeta = t("orders").select("o_orderkey", "o_orderstatus", "o_orderdate")
      .as[(Long, String, java.time.LocalDateTime)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    val names = t("supplier").select("s_suppkey", "s_name")
      .as[(Long, String)].collect().toMap
    // brute force: per late F-order line, another supplier exists on the
    // order AND no other supplier shipped strictly later
    val expect = lines.filter { case (ok, sk, sd) =>
      ordMeta.get(ok).exists { case (st, od) =>
        st == "F" && sd.isAfter(od.plusDays(45)) && {
          val others = byOrder(ok).filter(_._2 != sk)
          others.nonEmpty && !others.exists(_._3.isAfter(sd))
        }
      }
    }.groupBy(l => names(l._2)).view.mapValues(_.length.toLong).toMap
    val topExpect = expect.toSeq.sortBy { case (n, c) => (-c, n) }.take(20)
    val got = q("q21_waiting_suppliers").as[(String, Long)].collect().toSeq
    assert(got == topExpect, s"got $got\nexpect $topExpect")
  }

  test("q2: every returned supplier achieves its part's min EUROPE unit cost") {
    val eurSupp = t("supplier")
      .join(t("nation"), col("s_nationkey") === col("n_nationkey"))
      .join(t("region").filter(col("r_name") === "EUROPE"),
        col("n_regionkey") === col("r_regionkey"))
      .select("s_suppkey").as[Long].collect().toSet
    val cat = t("lineitem").select("l_partkey", "l_suppkey", "l_extendedprice", "l_quantity")
      .as[(Long, Long, Double, Double)].collect()
      .filter(r => eurSupp(r._2))
      .groupBy(r => (r._1, r._2)).view
      .mapValues(_.map(r => r._3 / r._4).min).toMap
    val bestByPart = cat.groupBy(_._1._1).view.mapValues(_.values.min).toMap
    val got = q("q2_min_cost_supplier")
      .select("p_partkey", "unit_cost").as[(Long, Double)].collect()
    assert(got.nonEmpty)
    got.foreach { case (pk, uc) =>
      assert(uc == bestByPart(pk), s"part $pk: returned $uc != min ${bestByPart(pk)}")
    }
  }

  test("q4: every counted order has a >60-day-late line; none without") {
    val late = t("orders")
      .filter(col("o_orderdate") >= lit(java.time.LocalDateTime.of(1996, 7, 1, 0, 0)) &&
        col("o_orderdate") < lit(java.time.LocalDateTime.of(1996, 10, 1, 0, 0)))
      .join(t("lineitem"), col("o_orderkey") === col("l_orderkey"))
      .filter(col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"))
      .select("o_orderkey", "o_orderpriority").distinct()
      .groupBy("o_orderpriority").count()
      .as[(String, Long)].collect().toMap
    val got = q("q4_priority_late_ship").as[(String, Long)].collect().toMap
    assert(got == late, s"got $got expect $late")
  }

  test("q16: excluded (negative-balance) suppliers never count toward variety") {
    // sf0.001's 10-supplier slice happens to hold no negative balances, so
    // the exclusion set may be empty here; the sf0.01 oracle gate exercises
    // it non-trivially (6 excluded suppliers there). This pin is about the
    // count-distinct-after-anti-join algebra either way.
    val excluded = t("supplier").filter(col("s_acctbal") < 0.0)
      .select("s_suppkey").as[Long].collect().toSet
    // recompute one group's distinct-supplier count including exclusions and
    // verify the gate's count is the count WITHOUT them for every group
    val base = t("lineitem")
      .join(t("part"), col("l_partkey") === col("p_partkey"))
      .filter(col("p_brand") =!= "Brand#15" && col("p_type") =!= "PROMO" &&
        col("p_size").isin(1, 9, 14, 23, 36, 45, 49, 50))
      .select("p_brand", "p_type", "p_size", "l_suppkey")
      .as[(String, String, Int, Long)].collect()
    val expect = base.filterNot(r => excluded(r._4))
      .groupBy(r => (r._1, r._2, r._3)).view.mapValues(_.map(_._4).distinct.length.toLong).toMap
    val got = q("q16_supplier_variety").as[(String, String, Int, Long)].collect()
      .map(r => (r._1, r._2, r._3) -> r._4).toMap
    assert(got == expect)
  }
}

package graft

import graft.TestSpark
import graft.gates.Gates
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Semantic invariants for the §2.5 analytic-window and §2.7 set-operation
  * gated queries (the oracle gate pins exact values at sf0.01; these pin the
  * window/set semantics themselves on sf0.001). */
class AnalyticsQueriesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def q(name: String) = Gates.byName(name)(spark, TestSpark.Sf0001)

  test("window_order_ledger: seq is dense 1..n per customer and prev/next mirror neighbors") {
    val rows = q("window_order_ledger")
      .select("o_custkey", "order_seq", "o_totalprice", "prev_price", "next_price", "running_total")
      .as[(Long, Int, Double, Option[Double], Option[Double], Double)]
      .collect().groupBy(_._1)
    assert(rows.nonEmpty)
    rows.foreach { case (ck, rs) =>
      val sorted = rs.sortBy(_._2)
      assert(sorted.map(_._2).toSeq == (1 to rs.length), s"custkey $ck: non-dense seq")
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(b._4.contains(a._3), s"custkey $ck: prev_price of seq ${b._2} != price of seq ${a._2}")
          assert(a._5.contains(b._3), s"custkey $ck: next_price of seq ${a._2} != price of seq ${b._2}")
        case _ => ()
      }
      assert(sorted.head._4.isEmpty && sorted.last._5.isEmpty, s"custkey $ck: boundary lag/lead not null")
      // running total = exact prefix sum of 2-decimal prices (decimal accumulation)
      sorted.zipWithIndex.foreach { case (r, i) =>
        val expect = sorted.take(i + 1).map(x => math.round(x._3 * 100)).sum / 100.0
        assert(math.abs(r._6 - expect) < 1e-6, s"custkey $ck seq ${r._2}: running_total ${r._6} != $expect")
      }
    }
  }

  test("window_moving_daily: trailing 7-row sum matches manual prefix math") {
    val rows = q("window_moving_daily")
      .select("event_type", "event_date", "total_value", "total_7d", "delta_events", "n_events")
      .as[(String, java.time.LocalDateTime, Double, Double, Option[Long], Long)]
      .collect().groupBy(_._1)
    rows.foreach { case (t, rs) =>
      val sorted = rs.sortBy(_._2.toString)
      assert(sorted.head._5.isEmpty, s"$t: first-day delta not null")
      sorted.zipWithIndex.foreach { case (r, i) =>
        val win = sorted.slice(math.max(0, i - 6), i + 1)
        val expect = win.map(x => math.round(x._3 * 100)).sum / 100.0
        assert(math.abs(r._4 - expect) < 1e-6, s"$t ${r._2}: total_7d ${r._4} != $expect")
        if (i > 0) assert(r._5.contains(r._6 - sorted(i - 1)._6), s"$t ${r._2}: delta mismatch")
      }
    }
  }

  test("set_ops_user_cohorts: cohorts are disjoint and reconstruct the source sets") {
    val ev = graft.io.Tables.load(spark, TestSpark.Sf0001, "events")
    def users(t: String) =
      ev.filter(col("event_type") === t).select("user_id").distinct().as[Long].collect().toSet
    val buyers = users("purchase")
    val erring = users("error")
    val out = q("set_ops_user_cohorts").as[(Long, String)].collect()
    assert(out.length == out.map(_._1).toSet.size, "a user appears in two cohorts")
    val byCohort = out.groupBy(_._2).view.mapValues(_.map(_._1).toSet).toMap
    assert(byCohort.getOrElse("both", Set.empty) == buyers.intersect(erring))
    assert(byCohort.getOrElse("purchase_only", Set.empty) == buyers.diff(erring))
    assert(byCohort.getOrElse("error_only", Set.empty) == erring.diff(buyers))
  }
}

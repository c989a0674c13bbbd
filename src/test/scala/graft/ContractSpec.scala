package graft

import graft.gates.{Gate, Gates}
import org.scalatest.funsuite.AnyFunSuite

/** Guards on the `SparkEntry` contract and the gate registry behind it.
  * Every gate carries its oracle in its record, so a gate without an
  * oracle cannot be written; a duplicated name would silently drop a gate
  * from the correctness check — fail here first. */
class ContractSpec extends AnyFunSuite {

  test("the gate registry refuses duplicate gate names") {
    val g = Gate("dup_gate", "SELECT * FROM orders")((s, _) => s.emptyDataFrame)
    val other = Gate("other_gate", "SELECT * FROM customer")((s, _) => s.emptyDataFrame)
    val e = intercept[IllegalArgumentException](
      Gates.registry(Seq(g, other, g.copy(oracle = "SELECT o_orderkey FROM orders"))))
    assert(e.getMessage.contains("dup_gate") && !e.getMessage.contains("other_gate"))
    assert(Gates.registry(Seq(g, other)).keySet == Set("dup_gate", "other_gate"))
  }

  test("flagship entry returns rows on sf0.001 (the driver's smoke check)") {
    assert(SparkEntry.entry(TestSpark.spark).count() > 0)
  }

  test("oracle SQL texts are non-empty and mention a fixture table") {
    val tables = Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings")
    SparkEntry.oracleSql.foreach { case (name, sql) =>
      assert(sql.trim.nonEmpty, s"$name: empty oracle")
      assert(tables.exists(sql.contains), s"$name: oracle references no fixture table")
    }
  }
}

package graft

import graft.gates.{Gates, Inputs}
import graft.ops.Ops
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterEach
import org.scalatest.funsuite.AnyFunSuite

/**
 * Plan contracts — the physical-plan properties the 100 TB posture relies on
 * (SURVEY.md §4.2/§4.3). Other specs check answers; these pin the plan SHAPES
 * that keep operators scale-safe, so a regression (a filter that stops
 * reaching the scan, a keyed join that degrades to a nested-loop pair scan)
 * fails fast instead of surfacing as a cluster incident.
 */
class PlanSpec extends AnyFunSuite with BeforeAndAfterEach {
  private lazy val spark = TestSpark.spark

  // plan-building tests (cosinePairs) register tracked caches they never
  // consume — release them so entries don't leak into the shared session
  override def afterEach(): Unit = graft.ext.Dedup.unpersistAll()

  private def plan(df: DataFrame): String = df.queryExecution.executedPlan.toString

  private lazy val li = graft.io.Tables.load(spark, TestSpark.Sf0001, "lineitem")
  private lazy val emb = graft.io.Tables.load(spark, TestSpark.Sf0001, "embeddings")

  test("windowScan's BETWEEN reaches the parquet scan as pushed filters") {
    val p = plan(Ops.windowScan(li, "l_shipdate", Inputs.LiFrom, Inputs.LiTo))
    // NB: the FileScan metadata string truncates at 100 chars, so assert on
    // the prefix of the pushed-filter list rather than its full text
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), GreaterThanOrEqual(l_shipdate"),
      p.take(1500))
  }

  test("column pruning: a two-column projection reads a two-column schema") {
    val p = plan(li.select("l_orderkey", "l_quantity"))
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_quantity:"), p.take(1500))
  }

  test("keyedDelete and keyedFetch broadcast the key side (no big-table shuffle)") {
    val keys = li.select("l_orderkey").limit(10)
    assert(plan(Ops.keyedDelete(li, "l_orderkey", keys)).contains("BroadcastHashJoin"))
    assert(plan(Ops.keyedFetch(li, "l_orderkey", keys)).contains("BroadcastHashJoin"))
  }

  test("upsert broadcasts the changed-key side on both the anti and semi joins") {
    val changed = li.select("l_orderkey").limit(10)
    val p = plan(Ops.upsert(li, li, "l_orderkey", changed))
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2, p.take(2000))
  }

  test("cosinePairs never degrades to a nested-loop / cartesian pair scan") {
    // the pre-IVF implementation was a BroadcastNestedLoopJoin over the whole
    // corpus (id_a < id_b): exactly the plan that OOMs at 100× scale
    val p = plan(graft.ext.Similarity.cosinePairsExact(emb, "vec_id", "embedding", 0.45))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(2000))
    assert(!p.contains("CartesianProduct"), p.take(2000))
  }

  test("packTokenBudget plans exactly one exchange (the shard shuffle)") {
    val toks = li.select(col("l_orderkey").as("doc_id"), col("l_linenumber").cast("long").as("n_tokens"))
    val p = plan(graft.ext.Packing.packTokenBudget(toks, "doc_id", "n_tokens", 512, 8))
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges == 1, s"expected one shard shuffle, got $exchanges:\n${p.take(2000)}")
    assert(!p.contains("Exchange SinglePartition"), "packing must never global-sort")
  }

  test("analytic window queries shuffle once on the partition key, never to one partition") {
    val p = plan(Gates.byName("window_order_ledger")(spark, TestSpark.Sf0001))
    assert(p.contains("Exchange hashpartitioning(o_custkey"), p.take(2000))
    assert(!p.contains("Exchange SinglePartition"), "ledger window must not single-partition")
  }

  test("editDistancePairs equi-joins on the block key — never a cartesian pair scan") {
    val docs = graft.io.Tables.load(spark, TestSpark.Sf0001, "documents")
    val p = plan(graft.ext.Dedup.editDistancePairs(
      docs, "doc_id", "text", Seq("lang"), maxDist = 5, prefixLen = 40))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"blocked self-join degraded to a pair scan:\n${p.take(2000)}")
  }

  test("groupQuantileFilter broadcasts the per-group thresholds over the corpus") {
    val docs = graft.io.Tables.load(spark, TestSpark.Sf0001, "documents")
    val p = plan(graft.ext.Sampling.groupQuantileFilter(docs, "lang", "n_chars", 0.5))
    assert(p.contains("BroadcastHashJoin"), s"thresholds must broadcast:\n${p.take(2000)}")
  }

  test("maintainDailyAgg re-aggregates only window rows (filter below the fresh agg)") {
    val ev = graft.io.Tables.load(spark, TestSpark.Sf0001, "events")
    def agg(df: DataFrame) = df.groupBy(
        date_trunc("day", col("ts")).cast("timestamp_ntz").as("day"))
      .agg(count(lit(1)).as("n"))
    val windowed = ev.filter(Ops.datePredicate("ts", Inputs.EvFrom, Inputs.EvTo))
    val p = plan(Ops.maintainDailyAgg(agg(ev), windowed, "day",
      Inputs.EvFrom, Inputs.EvTo)(agg))
    // the fresh side's scan carries the caller's pushed date filter, so the
    // expensive aggregation reads the window, not the table
    assert(p.contains("PushedFilters: [IsNotNull(ts)"), p.take(3000))
    // the day bounds aren't parquet-pushable (cast expressions), but Catalyst
    // pushes them through BOTH aggregates as date_trunc filters on the raw
    // ts — one per union branch (stale NOT-window, fresh window). Two
    // occurrences of the bound literal in Filter-bearing branches prove the
    // aggregates read filtered scans, not the whole table.
    assert("2024-01-05".r.findAllIn(p).length >= 2 && p.contains("Filter "),
      s"window bounds not applied below the aggregates:\n${p.take(3000)}")
  }

  test("changedKeys compiles to a single-column anti join (broadcastable shape)") {
    val ev = graft.io.Tables.load(spark, TestSpark.Sf0001, "events")
      .withColumn("update_ts", expr("ts + make_dt_interval(cast(event_id % 7 as int), 0, 0, 0)"))
    val p = plan(Ops.changedKeys(ev, "event_id", "ts", "update_ts", Inputs.EvFrom, Inputs.EvTo))
    assert(p.contains("LeftAnti"), p.take(2000))
    assert(!p.contains("CartesianProduct"))
  }
}

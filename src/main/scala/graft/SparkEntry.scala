package graft
import graft.gates.Gates
import org.apache.spark.sql.{SparkSession, DataFrame}
/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The windowed fact reload (SURVEY.md §7.2): stale target refreshed for a
    * literal week window over `lineitem.l_shipdate`. */
  def entry(spark: SparkSession): DataFrame =
    Gates.byName("a5_window_reload")(spark, "/root/testdata/sf0.001")
  /** One entry per implemented operator from SURVEY.md §2: each gate's
    * `prepare` then its `run` (a view of the [[graft.gates.Gates]] registry). */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Gates.byName.map { case (n, g) => n -> ((s: SparkSession, d: String) => g(s, d)) }
  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. */
  def oracleSql: Map[String, String] = Gates.byName.map { case (n, g) => n -> g.oracle }
}

package graft
import graft.gates.Gates
import java.nio.file.{Files, Paths}

/** Snapshot the formatted physical plan of named queries to individual
  * files — the optimization-round evidence trail
  * (`plans/r20/<query>_before.txt` / `..._after.txt`).
  * Usage: `runMain graft.PlanSnap <sfDir> <outDir> <suffix> <q1,q2,...>`
  * e.g. `runMain graft.PlanSnap /root/testdata/sf0.01 plans/r20 before graph_kcore,o9_part_pruned_read`. */
object PlanSnap {
  def main(args: Array[String]): Unit = {
    require(args.length == 4,
      "usage: PlanSnap <sfDir> <outDir> <suffix> <comma-separated query names>")
    val Array(sfDir, outDir, suffix, namesCsv) = args
    val names = namesCsv.split(",").map(_.trim).filter(_.nonEmpty)
    val unknown = names.filterNot(Gates.byName.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    Files.createDirectories(Paths.get(outDir))
    val spark = io.Sessions.builder("local[8]", 8).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      val df = Gates.byName(n)(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      Files.writeString(Paths.get(outDir, s"${n}_$suffix.txt"), plan)
      System.err.println(s"[plansnap] wrote $outDir/${n}_$suffix.txt")
      graft.ext.Dedup.unpersistAll()
    }
    spark.stop()
  }
}

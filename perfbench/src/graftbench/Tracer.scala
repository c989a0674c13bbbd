package graftbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** One span: a benchmark-side call into a layer of the program. */
final case class Span(id: Int, parent: Int, pass: Int, name: String, layer: String, startMs: Long, durS: Double)

/** Per-owner totals. An owner is what a query works for, decided by the
  * paths it reads or writes: `source:<t>`, `target:<t>`, `ledger` or `proc`
  * (SQL executions are labelled `w:<owner>` or `r:<owner>`), else `other`. */
final class OwnerTotals {
  var sqlS = 0.0 // wall time of the owner's SQL executions
  var filesWritten = 0L
  var bytesWritten = 0L
  var rowsWritten = 0L
  var rowsScanned = 0L
}

/**
 * The traced pass's instruments, all registered from the benchmark: spans
 * around the public calls the benchmark makes, a [[SparkListener]] for jobs,
 * stages and tasks, and a [[QueryExecutionListener]] for the physical plans'
 * write and scan metrics. Both listeners attribute work to an owner through
 * `owner`, which maps a path the query touches to its owner label.
 */
final class Tracer(spark: SparkSession, root: File) {
  private val spansBuf = mutable.ArrayBuffer.empty[Span]
  private var stack = List(0)
  private var nextId = 1
  private var passNo = 0
  private var owner: String => Option[String] = _ => None

  // ---- spans ----

  def span[T](name: String, layer: String)(body: => T): T = {
    val id = nextId
    nextId += 1
    val parent = stack.head
    stack = id :: stack
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try body
    finally {
      stack = stack.tail
      spansBuf += Span(id, parent, passNo, name, layer, startMs, (System.nanoTime() - t0) / 1e9)
    }
  }

  // ---- listeners ----

  private val lock = new Object
  private val execOwner = mutable.Map.empty[Long, String]
  private val execStart = mutable.Map.empty[Long, Long]
  private val jobStart = mutable.Map.empty[Int, Long]
  private val intervals = mutable.ArrayBuffer.empty[(Long, Long)]
  private val totals = mutable.Map.empty[String, OwnerTotals]
  private var jobs = 0
  private var tasks = 0L
  private var executorCpuS = 0.0
  private var gcS = 0.0
  private var shuffleWriteBytes = 0L
  private var spillBytes = 0L
  private var inputBytes = 0L
  private var outputBytes = 0L

  private def tot(o: String) = totals.getOrElseUpdate(o, new OwnerTotals)

  private val FilePath = "file:[^\\s,\\]\\)\\}]+".r
  // in the formatted plan a write command's Arguments line starts with its
  // output path; scans name theirs on Location lines
  private val WritePath = "Arguments: (file:[^\\s,\\]\\)\\}]+)".r

  /** Label of a SQL execution: `w:<owner>` of what it writes, else
    * `r:<owner>` of the first thing it reads. */
  private def classify(planText: String): String = {
    val written = WritePath.findFirstMatchIn(planText).flatMap(m => owner(m.group(1)))
      .orElse(if (planText.contains("InsertIntoDataSourceDirCommand")) Some("proc") else None)
    written.map("w:" + _).orElse(
      FilePath.findAllIn(planText).flatMap(p => owner(p)).toSeq.headOption.map("r:" + _))
      .getOrElse("other")
  }

  private val jobListener = new SparkListener {
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => lock.synchronized {
        execOwner(s.executionId) = classify(s.physicalPlanDescription)
        execStart(s.executionId) = s.time
      }
      case s: SparkListenerSQLExecutionEnd => lock.synchronized {
        for (o <- execOwner.get(s.executionId); t0 <- execStart.remove(s.executionId))
          tot(o).sqlS += (s.time - t0) / 1e3
      }
      case _ =>
    }

    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      jobStart(e.jobId) = e.time
      jobs += 1
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      jobStart.remove(e.jobId).foreach(t0 => intervals += ((t0, e.time)))
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        executorCpuS += m.executorCpuTime / 1e9
        gcS += m.jvmGCTime / 1e3
        shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        inputBytes += m.inputMetrics.bytesRead
        outputBytes += m.outputMetrics.bytesWritten
      }
    }
  }

  private val queryListener = new QueryExecutionListener with AdaptiveSparkPlanHelper {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val plan = qe.executedPlan
      val writes = collect(plan) { case w: DataWritingCommandExec => w }
      val scans = collect(plan) { case s: FileSourceScanExec => s }
      lock.synchronized {
        writes.foreach { w =>
          w.cmd match {
            case c: InsertIntoHadoopFsRelationCommand =>
              owner(c.outputPath.toString).foreach { o =>
                val t = tot(o)
                def m(k: String) = w.metrics.get(k).map(_.value).getOrElse(0L)
                t.filesWritten += m("numFiles")
                t.bytesWritten += m("numOutputBytes")
                t.rowsWritten += m("numOutputRows")
              }
            case _ =>
          }
        }
        scans.foreach { s =>
          s.relation.location.rootPaths.headOption.flatMap(p => owner(p.toString)).foreach { o =>
            tot(o).rowsScanned += s.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
          }
        }
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  /** Start a traced pass: reset the counters and attach the listeners. */
  def begin(pass: Int, ownerOf: String => Option[String]): Unit = {
    org.apache.spark.perfbenchx.Bus.drain(spark.sparkContext)
    lock.synchronized {
      passNo = pass
      owner = ownerOf
      execOwner.clear(); execStart.clear(); jobStart.clear(); intervals.clear(); totals.clear()
      jobs = 0; tasks = 0; executorCpuS = 0; gcS = 0
      shuffleWriteBytes = 0; spillBytes = 0; inputBytes = 0; outputBytes = 0
    }
    spark.sparkContext.addSparkListener(jobListener)
    spark.listenerManager.register(queryListener)
  }

  /** End a traced pass: wait until every event of the pass is delivered,
    * then detach the listeners, so untraced passes run without them. */
  def end(): Unit = {
    org.apache.spark.perfbenchx.Bus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(jobListener)
    spark.listenerManager.unregister(queryListener)
  }

  def owners: Map[String, OwnerTotals] = lock.synchronized(totals.toMap)

  /** Jobs started inside `[startMs, endMs]` that have ended. */
  def jobsBetween(startMs: Long, endMs: Long): Int = {
    org.apache.spark.perfbenchx.Bus.drain(spark.sparkContext)
    lock.synchronized(intervals.count { case (s, _) => s >= startMs && s <= endMs })
  }

  /** Wall seconds in `[startMs, endMs]` during which no job ran. */
  def idleS(startMs: Long, endMs: Long): Double = lock.synchronized {
    val merged = intervals.map { case (s, e) => (math.max(s, startMs), math.min(e, endMs)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
      .foldLeft(List.empty[(Long, Long)]) {
        case ((ps, pe) :: rest, (s, e)) if s <= pe => (ps, math.max(pe, e)) :: rest
        case (acc, iv) => iv :: acc
      }
    (endMs - startMs - merged.map { case (s, e) => e - s }.sum) / 1e3
  }

  /** Engine-level counts of the pass that just ended. */
  def sparkLayer(startMs: Long, endMs: Long): Seq[(String, Metric)] = lock.synchronized(Seq(
    "spark.jobs" -> Metric(jobs, "count"),
    "spark.tasks" -> Metric(tasks.toDouble, "count"),
    "spark.executor_cpu_s" -> Metric(executorCpuS, "s"),
    "spark.gc_s" -> Metric(gcS, "s"),
    "spark.shuffle_write_bytes" -> Metric(shuffleWriteBytes.toDouble, "bytes"),
    "spark.spill_bytes" -> Metric(spillBytes.toDouble, "bytes"),
    "spark.input_bytes" -> Metric(inputBytes.toDouble, "bytes"),
    "spark.output_bytes" -> Metric(outputBytes.toDouble, "bytes"),
    "spark.driver_idle_s" -> Metric(idleS(startMs, endMs), "s")))

  private val countsBuf = mutable.ArrayBuffer.empty[(String, Metric)]
  def record(pass: Int, counts: Seq[(String, Metric)]): Unit =
    countsBuf ++= counts.map { case (k, m) => s"pass$pass.$k" -> m }

  /** Write every span and count of the run to `.bench_build/trace/`. */
  def writeSpans(args: Args): Unit = {
    val dir = new File(root, ".bench_build/trace")
    dir.mkdirs()
    val f = new File(dir, s"${args.workload}-seed${args.seed}.json")
    java.nio.file.Files.writeString(f.toPath, Json.spans(spansBuf.toSeq, countsBuf.toSeq))
    System.err.println(s"[perfbench] spans and counts written to ${root.toPath.relativize(f.toPath)}")
  }
}

package graftbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Command line of one benchmark run (see perfbench/README.md). */
final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean)

object Args {
  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad argument: ${other.mkString(" ")}")
    }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val trace = need("trace") match {
      case "0" => false
      case "1" => true
      case t => throw new IllegalArgumentException(s"--trace must be 0 or 1: $t")
    }
    Args(need("workload"), need("seed").toLong, need("seconds").toInt, trace)
  }
}

/** One measured value with its unit. */
final case class Metric(value: Double, unit: String)

/** What one timed pass produced. `work` is the pass's throughput numerator
  * (rows copied or input documents); `failures`/`attempts` count the
  * table-processes, stages and checks inside the pass. */
final case class PassResult(wallS: Double, cpuS: Double, work: Long, attempts: Int, failures: Int,
    layers: Map[String, Metric] = Map.empty) {
  def ok: Boolean = failures == 0
}

/** A benchmark workload: a closed loop of passes with a single client. */
trait Workload {
  /** Generate the inputs for the seed and bring the target to the state the
    * first measured pass expects (preload, first-load emptiness). */
  def setup(): Unit
  /** Untimed work before a pass, e.g. restoring the preloaded target. */
  def prepare(pass: Int): Unit
  /** One timed pass plus its correctness check. The timed region covers
    * only the program's public calls; checks run after the clock stops. */
  def pass(pass: Int, tracer: Option[Tracer]): PassResult
}

/** Every per-layer metric a traced run prints, with its unit. A layer the
  * workload never calls reads 0: that workload is the layer's control.
  * Layer times are shares of the traced pass's wall time. */
object Layers {
  val all: Seq[(String, String)] =
    Seq("lineitem", "customer", "part", "daily_revenue").map(t => s"pipeline.table_share.$t" -> "ratio") ++
    Seq(
      "pipeline.dims_overlap" -> "ratio",
      "ledger.appends" -> "count",
      "ledger.share" -> "ratio",
      "ledger.files" -> "count",
      "store.write_share" -> "ratio",
      "store.bytes_written" -> "bytes",
      "store.files_written" -> "count",
      "store.rewrite_amplification" -> "ratio",
      "ops.changed_keys" -> "count",
      "ops.changed_keys_share" -> "ratio",
      "ops.scan_amplification" -> "ratio",
      "proc.sproc_share" -> "ratio",
      "io.wet_read_share" -> "ratio",
      "io.export_share" -> "ratio",
      "io.bytes_read" -> "bytes",
      "ext.textanalysis.clean_share" -> "ratio",
      "ext.textanalysis.select_share" -> "ratio",
      "ext.textanalysis.kept_ratio.c4" -> "ratio",
      "ext.textanalysis.kept_ratio.gopher" -> "ratio",
      "ext.textanalysis.kept_ratio.lang" -> "ratio",
      "ext.dedup.exact_share" -> "ratio",
      "ext.dedup.minhash_share" -> "ratio",
      "ext.dedup.cc_share" -> "ratio",
      "ext.dedup.cc_jobs" -> "count",
      "ext.dedup.candidate_pairs" -> "count",
      "ext.dedup.pair_precision" -> "ratio",
      "ext.dedup.kept_ratio.exact" -> "ratio",
      "ext.dedup.kept_ratio.near" -> "ratio",
      "ext.sampling.kept_ratio" -> "ratio",
      "ext.packing.pack_share" -> "ratio",
      "spark.jobs" -> "count",
      "spark.tasks" -> "count",
      "spark.executor_cpu_s" -> "s",
      "spark.gc_s" -> "s",
      "spark.shuffle_write_bytes" -> "bytes",
      "spark.spill_bytes" -> "bytes",
      "spark.input_bytes" -> "bytes",
      "spark.output_bytes" -> "bytes",
      "spark.driver_idle_s" -> "s",
      "first_run_s" -> "s",
      "trace.overhead_s" -> "s",
      "failed_ratio" -> "ratio",
      "passes" -> "count")
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
}

object Json {
  private def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  private def num(d: Double): String = {
    require(!d.isNaN && !d.isInfinite, s"metric is not a finite number: $d")
    java.math.BigDecimal.valueOf(d).toPlainString
  }

  def result(correct: Boolean, attempted: Long, failed: Long, metrics: Seq[(String, Metric)]): String = {
    val ms = metrics.map { case (k, m) => s"${str(k)}: {\"value\": ${num(m.value)}, \"unit\": ${str(m.unit)}}" }
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {${ms.mkString(", ")}}}"""
  }

  def spans(spans: Seq[Span], counts: Seq[(String, Metric)]): String = {
    val ss = spans.map(s =>
      s"""{"id": ${s.id}, "parent": ${s.parent}, "pass": ${s.pass}, "name": ${str(s.name)}, """ +
        s""""layer": ${str(s.layer)}, "start_ms": ${s.startMs}, "dur_s": ${num(s.durS)}}""")
    val cs = counts.map { case (k, m) => s"${str(k)}: {\"value\": ${num(m.value)}, \"unit\": ${str(m.unit)}}" }
    s"""{"spans": [${ss.mkString(",\n")}],\n"counts": {${cs.mkString(", ")}}}"""
  }
}

object Clock {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  /** Process CPU seconds, all threads (driver, local executors, GC, JIT). */
  def cpuS(): Double = os.getProcessCpuTime / 1e9
  def nowS(): Double = System.nanoTime() / 1e9
  def timed[T](body: => T): (T, Double, Double) = {
    val (w0, c0) = (nowS(), cpuS())
    val r = body
    (r, nowS() - w0, cpuS() - c0)
  }
}

object Main {
  /** Setup repetitions per run; `setup_s` is their median. */
  val SetupReps = 3
  /** Lower bound on measured passes after the first, whatever `--seconds`
    * says. One: a fresh JVM needs about four passes to reach steady state,
    * more than a run's time allows, so each run measures the cold first
    * pass and the first warm one, and medians come from across runs. */
  val MinPasses = 1

  def main(argv: Array[String]): Unit = {
    val args = Args.parse(argv)
    val root = new File(".").getCanonicalFile
    val work = new File(root, s".bench_build/work/${args.workload}-${args.seed}-${ProcessHandle.current.pid}")
    Files.deleteTree(work)
    work.mkdirs()
    val cores = Runtime.getRuntime.availableProcessors
    val spark = graft.io.Sessions.builder(s"local[$cores]", cores)
      .appName(s"graft-perfbench-${args.workload}")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    log(f"session up after ${ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%.3f s")
    val out = try {
      val wl: Workload = args.workload match {
        case "sync_backfill" => new SyncWorkload(spark, work, args.seed, daily = false)
        case "sync_daily" => new SyncWorkload(spark, work, args.seed, daily = true)
        case "corpus_select" => new CorpusWorkload(spark, work, args.seed)
        case w => throw new IllegalArgumentException(
          s"unknown workload '$w' (sync_backfill, sync_daily, corpus_select)")
      }
      run(spark, wl, args, root)
    } finally {
      spark.stop()
      Files.deleteTree(work)
    }
    println(out)
  }

  private def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  def run(spark: SparkSession, wl: Workload, args: Args, root: File): String = {
    // set-up, repeated: input generation and, for sync_daily, the preload
    val setups = (1 to (if (args.trace) 1 else SetupReps)).map { r =>
      val (_, wall, _) = Clock.timed(wl.setup())
      log(f"setup $r: $wall%.3f s")
      wall
    }
    // the first pass after set-up pays the program's cold start (class
    // loading, JIT, plan codegen), as a cron-launched graft.Main does
    wl.prepare(0)
    val first = wl.pass(0, None)
    log(f"first pass: ${first.wallS}%.3f s, ok=${first.ok}")
    val tracer = if (args.trace) Some(new Tracer(spark, root)) else None
    val untraced = mutable.ArrayBuffer.empty[PassResult]
    val traced = mutable.ArrayBuffer.empty[PassResult]
    val t0 = Clock.nowS()
    var i = 1
    while (Clock.nowS() - t0 < args.seconds || untraced.size + traced.size < MinPasses ||
        (args.trace && (traced.isEmpty || untraced.isEmpty))) {
      wl.prepare(i)
      // the traced run alternates traced and untraced passes so the
      // overhead compares like with like
      val useTrace = tracer.filter(_ => i % 2 == 0)
      val p = wl.pass(i, useTrace)
      (if (useTrace.isDefined) traced else untraced) += p
      log(f"pass $i${if (useTrace.isDefined) " (traced)" else ""}: ${p.wallS}%.3f s wall, " +
        f"${p.cpuS}%.3f s cpu, ok=${p.ok}")
      i += 1
    }
    val all = first +: (untraced ++ traced).toSeq
    val attempted = all.map(_.attempts.toLong).sum
    val failed = all.map(_.failures.toLong).sum
    val correct = all.forall(_.ok)
    val metrics: Seq[(String, Metric)] = if (!args.trace) {
      val walls = untraced.map(_.wallS).toSeq
      log(s"run_s samples: ${walls.size}")
      Seq(
        "setup_s" -> Metric(Stats.median(setups), "s"),
        "run_s.p50" -> Metric(Stats.median(walls), "s"),
        "cpu_s.p50" -> Metric(Stats.median(untraced.map(_.cpuS).toSeq), "s"),
        "rows_per_s" -> Metric(Stats.median(untraced.map(p => p.work / p.wallS).toSeq), "1/s"))
    } else {
      val t = tracer.get
      t.writeSpans(args)
      val overhead = Stats.median(traced.map(_.wallS).toSeq) - Stats.median(untraced.map(_.wallS).toSeq)
      val run = Map(
        "first_run_s" -> first.wallS,
        "trace.overhead_s" -> overhead,
        "failed_ratio" -> failed.toDouble / attempted,
        "passes" -> traced.size.toDouble)
      Layers.all.map { case (n, unit) =>
        val v = run.getOrElse(n, {
          val ms = traced.flatMap(_.layers.get(n)).map(_.value)
          if (ms.isEmpty) 0.0 else Stats.median(ms.toSeq)
        })
        n -> Metric(v, unit)
      }
    }
    Json.result(correct, attempted, failed, metrics)
  }
}

object Files {
  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }

  def copyTree(from: File, to: File): Unit = {
    if (from.isDirectory) {
      to.mkdirs()
      Option(from.listFiles).foreach(_.foreach(c => copyTree(c, new File(to, c.getName))))
    } else java.nio.file.Files.copy(from.toPath, to.toPath)
  }

  def count(f: File, accept: File => Boolean): Int =
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.map(count(_, accept)).sum
    else if (accept(f)) 1 else 0
}

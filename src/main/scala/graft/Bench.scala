package graft
import graft.gates.Gates
import org.apache.spark.sql.DataFrame
import scala.jdk.CollectionConverters._
object Bench {
  /** Full-column consumer: the `noop` v2 sink materializes every row with all
    * its columns (a write can't prune), unlike `.count()` which lets Catalyst
    * prune every column and turn pure scans into metadata-only jobs. */
  private def consume(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** One fresh child JVM per query (see --fork below): replays this JVM's
    * own launch recipe (binary, -add-opens/-Xmx/-D args, classpath — sbt
    * forks `run`, so `java.class.path` is the real classpath) with
    * `SPARK_GRAFT_ONLY=<query>`, and scrapes the child's result line. A
    * child that dies or prints no timing records as failed, same as an
    * in-process query failure. */
  private def runForked(sfDir: String, names: Seq[String], runs: Int,
      filtered: Boolean): Unit = {
    val javaBin = java.nio.file.Paths.get(
      System.getProperty("java.home"), "bin", "java").toString
    val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.toSeq.filterNot(a => a.startsWith("-agentlib"))
    val cp = System.getProperty("java.class.path")
    val results: Seq[(String, Option[Double])] = names.zipWithIndex.map {
      case (name, i) =>
        System.err.println(s"[bench] fork ${i + 1}/${names.size}: $name")
        val cmd = (Seq(javaBin) ++ jvmArgs ++ Seq("-cp", cp, "graft.Bench")).asJava
        val pb = new ProcessBuilder(cmd)
        pb.environment().put("SPARK_GRAFT_ONLY", name)
        pb.environment().put("SPARK_GRAFT_SF_DIR", sfDir)
        pb.environment().put("SPARK_GRAFT_RUNS", runs.toString)
        pb.environment().remove("SPARK_GRAFT_FORK")
        pb.redirectError(ProcessBuilder.Redirect.INHERIT)
        val p = pb.start()
        val out = new String(p.getInputStream.readAllBytes(), "UTF-8")
        val code = p.waitFor()
        // scrape the LAST line matching the results contract prefix — not
        // just the final non-empty line: a benign stdout write after the
        // results println (library shutdown hook, JVM notice) must not mark
        // the query failed when the timing line is present (r19 ADVICE fix).
        // Still anchored to the contract prefix, so a stray earlier line
        // containing "<query>":<number> cannot masquerade as the timing
        // (the r18 anti-spoofing intent).
        val lastLine = out.linesIterator
          .filter(_.startsWith("{\"metric\":\"total\""))
          .toSeq.lastOption.getOrElse("")
        val timing = ("\"" + java.util.regex.Pattern.quote(name) + "\":(null|[-0-9.eE+]+)").r
          .findFirstMatchIn(lastLine).map(_.group(1))
        val t = timing match {
          case Some(v) if v != "null" && code == 0 => Some(v.toDouble)
          case _ =>
            System.err.println(s"[bench] fork $name FAILED (exit=$code, " +
              s"timing=${timing.getOrElse("<absent>")})")
            None
        }
        name -> t
    }
    val qs = results.map { case (k, v) =>
      "\"" + k + "\":" + v.map(_.toString).getOrElse("null")
    }.mkString("{", ",", "}")
    val failed = results.collect { case (k, None) => "\"" + k + "\"" }.mkString("[", ",", "]")
    val total = results.flatMap(_._2).sum
    // "filtered" rides in the line AND gates the file write — a partial
    // forked bench must be as unmistakable as a partial in-process one
    // (r18 review fix: the non-fork path already refuses to persist
    // subset runs; the forked record follows the same rule)
    val line = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"failed":$failed,"n_queries":${results.size},"runs":$runs,"forked":true,"filtered":$filtered,"sf":"$sfDir","total_s":$total}"""
    println(line)
    if (!filtered) {
      try java.nio.file.Files.writeString(
        java.nio.file.Path.of("BENCH_LOCAL_forked.json"), line + "\n")
      catch { case e: Exception =>
        System.err.println(s"[bench] BENCH_LOCAL_forked.json not written: $e")
      }
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // dev-only subset filter (unset for driver runs → all queries). An empty
    // or misspelled selection FAILS FAST — silently selecting zero (or fewer)
    // queries would emit a results JSON that looks like a clean run, the same
    // invisible-failure mode the failed-list below exists to prevent.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    only.foreach { names =>
      require(names.nonEmpty, "SPARK_GRAFT_ONLY is set but selects zero queries")
      val unknown = names -- Gates.byName.keySet
      require(unknown.isEmpty,
        s"SPARK_GRAFT_ONLY names unknown queries: ${unknown.toSeq.sorted.mkString(", ")}")
    }
    val selected = only.fold(Gates.byName)(s => Gates.byName.filter(kv => s(kv._1)))
    // --runs N (or SPARK_GRAFT_RUNS): repeat the whole selected surface N
    // times and report per-query MEDIANS plus spread, so a round record is
    // one command instead of hand-assembled medians-of-3. Runs iterate
    // OUTER (run 1 of everything, then run 2...), not per-query back-to-back
    // — back-to-back repeats would overstate warmth (OS page cache + JIT hot
    // from the identical plan milliseconds earlier) relative to how the
    // driver encounters each query.
    val runs = args.sliding(2).collectFirst { case Array("--runs", n) => n.toInt }
      .orElse(sys.env.get("SPARK_GRAFT_RUNS").map(_.toInt)).getOrElse(1)
    require(runs >= 1, s"--runs must be >= 1: $runs")
    // --fork (or SPARK_GRAFT_FORK=1): one FRESH JVM per query. The shared-
    // JVM marathon charged later queries for earlier queries' heap shadow
    // (GC pressure from a 30× run made json_extract_props read 21 s when a
    // fresh JVM re-measures it linear — BASELINE.md forensics, r17 verdict
    // item 5); forked numbers carry no such footnote. Forensics tool, not
    // the driver path: ~15 s JVM+session startup per query is excluded from
    // the timing (each child warms up before measuring) but not from
    // wall-clock.
    if (args.contains("--fork") ||
        sys.env.get("SPARK_GRAFT_FORK").exists(v => v == "1" || v.equalsIgnoreCase("true"))) {
      runForked(sfDir, selected.keys.toSeq.sorted, runs, filtered = only.isDefined)
      return
    }
    // one source of session truth (graft.io.Sessions) — keeps bench plans
    // identical to production/verify plans (AQE, timezone, nanosAsLong)
    val spark = graft.io.Sessions.builder(s"local[$cpus]", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // absorb session/codegen/JIT warmup so per-query numbers reflect
    // steady state instead of charging startup to whichever query runs first
    Gates.byName.get("s2_window_scan").foreach { g =>
      try consume(g(spark, sfDir)) catch { case _: Throwable => () }
    }
    // each selected gate's prepare runs OUTSIDE the timed region: index
    // builds, staged stores and certification sides are corpus-deterministic
    // setup, not operator cost — steady-state s/q then tracks the operators.
    // Verify (a fresh JVM) still pays and certifies the full builds. A
    // failed prepare fails the gate: null timing, listed in failed, cause
    // on stderr.
    val timed: Map[String, Option[() => DataFrame]] = selected.map { case (name, g) =>
      val run =
        try Some(g.prepared(spark, sfDir))
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name prepare FAILED: $e"); None
        }
      graft.ext.Dedup.unpersistAll() // setup caches must not leak into the timed runs
      name -> run
    }
    def oneRun(): Map[String, Option[Double]] = timed.map {
      case (name, None) => name -> None
      case (name, Some(run)) =>
        val t0 = System.nanoTime()
        // a failed query must be VISIBLE — in the JSON itself, not only on
        // stderr: a fast-failing query would otherwise read as a green
        // sub-second timing to any consumer of the results
        val ok =
          try { consume(run()); true }
          catch { case e: Throwable =>
            System.err.println(s"[bench] $name FAILED: ${e.getMessage}"); false
          }
        val dt = (System.nanoTime() - t0) / 1e9
        graft.ext.Dedup.unpersistAll() // caches must not leak into the next query
        name -> (if (ok) Some(dt) else None)
    }
    val allRuns = (1 to runs).map { r =>
      if (runs > 1) System.err.println(s"[bench] run $r/$runs")
      oneRun()
    }
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
    }
    // a query is failed if ANY run failed it; medians are over its runs
    val results: Map[String, Option[Double]] = selected.keys.map { name =>
      val samples = allRuns.map(_(name))
      name -> (if (samples.exists(_.isEmpty)) None else Some(median(samples.flatten)))
    }.toMap
    // per-query spread (max-min over runs) — only emitted for multi-run mode
    val spreadJson = if (runs > 1) {
      val sp = selected.keys.flatMap { name =>
        val ok = allRuns.flatMap(_(name))
        if (ok.size == runs) Some(s"\"" + name + "\":" + f"${ok.max - ok.min}%.3f") else None
      }
      s""","spread":${sp.mkString("{", ",", "}")}"""
    } else ""
    // failures serialize as null (unmistakably not a timing) + a failed list
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v.map(_.toString).getOrElse("null") }
      .mkString("{", ",", "}")
    val failed = results.collect { case (k, None) => "\"" + k + "\"" }.mkString("[", ",", "]")
    val total = results.values.flatten.sum
    // n_queries + filtered make a SPARK_GRAFT_ONLY subset run self-describing:
    // a partial total can never be mistaken for a full bench. The headline
    // numbers (total_s, n_queries, failed) ride at the END of the line —
    // the driver archives the last ~2 kB of stdout, so only the line's tail
    // is guaranteed to survive into BENCH_r*.json (r10 lost the total to
    // head truncation).
    val line = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs$spreadJson,"failed":$failed,"n_queries":${results.size},"runs":$runs,"filtered":${only.isDefined},"sf":"$sfDir","total_s":$total}"""
    println(line)
    // ALSO persist the full line as a file artifact: the driver archives only
    // the last ~2 kB of stdout, which dropped 52 of 110 per-query timings
    // from the r14 round record. A full (non-subset) run writes
    // BENCH_LOCAL.json in the cwd so the complete per-query map survives in
    // the repo regardless of stdout truncation. Subset runs don't overwrite it.
    // ... but never DOWNGRADE the record: the r16 driver pass (runs: 1)
    // overwrote the committed median-of-3 round record in the working tree.
    // A single run refuses to replace a multi-run record and lands in
    // BENCH_LOCAL_single.json instead; multi-run records always win.
    if (only.isEmpty) {
      val target = java.nio.file.Path.of("BENCH_LOCAL.json")
      val existingRuns =
        try {
          if (java.nio.file.Files.exists(target))
            "\"runs\":(\\d+)".r.findFirstMatchIn(
              java.nio.file.Files.readString(target)).map(_.group(1).toInt).getOrElse(1)
          else 0
        } catch { case _: Exception => 0 }
      val dest = if (runs == 1 && existingRuns > 1) {
        System.err.println(s"[bench] BENCH_LOCAL.json holds a runs=$existingRuns record; " +
          "this runs=1 result goes to BENCH_LOCAL_single.json instead")
        java.nio.file.Path.of("BENCH_LOCAL_single.json")
      } else target
      try java.nio.file.Files.writeString(dest, line + "\n")
      catch { case e: Exception => System.err.println(s"[bench] $dest not written: $e") }
    }
    spark.stop()
  }
}

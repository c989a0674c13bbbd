package graftbench

import java.io.File
import java.sql.Timestamp
import java.time.{LocalDate, LocalDateTime}

import graft.config.{EngineConfig, TableSpec}
import graft.ledger.{Ledger, RunRecord}
import graft.pipeline.Runner
import graft.proc.SqlStepRegistry
import graft.store.TableStore
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Seeded source warehouse of the sync workloads. Row counts are fixed; the
 * seed decides the values and which keys are updated late.
 *
 * `lineitem` spans a calendar of `days` days. The last [[DailyDays]] days
 * are the daily days: v0 (the stale source the target was preloaded from)
 * ends before them, v1 (the current source) holds them, and in v1 exactly
 * [[LateLineitem]] earlier keys per daily day carry a new value and an
 * `update_ts` on that day.
 */
object SyncData {
  val Day0: LocalDate = LocalDate.of(2024, 1, 1)
  /** Calendar length of the first load (about 13 months) and of the daily
    * workload's history. */
  val BackfillDays = 396
  val DailyHistoryDays = 30
  val DailyDays = 3
  val LineitemPerDay = 400
  val LateLineitem = 40
  val Dims: Seq[(String, Int)] = Seq("customer" -> 3000, "part" -> 4000)
  val Facts: Seq[String] = Seq("lineitem")
  val Sproc = "daily_revenue"

  def day(i: Int): LocalDate = Day0.plusDays(i.toLong)
  private val EpochDay0: Long = Day0.toEpochDay * 86400L
}

final class SyncData(spark: SparkSession, seed: Long, val days: Int) {
  import SyncData._
  val preDays: Int = days - DailyDays

  private def h(salt: Int, c: Column): Column = xxhash64(lit(seed), lit(salt), c)
  private def uni(salt: Int, c: Column, m: Long): Column = pmod(h(salt, c), lit(m))
  private def ts(day: Column, secs: Column): Column =
    timestamp_seconds(lit(EpochDay0) + day * 86400L + secs).cast("timestamp_ntz")
  private def cents(c: Column, scale: Int = 2, precision: Int = 12): Column =
    (c.cast(s"decimal($precision,0)") / math.pow(10, scale).toLong).cast(s"decimal($precision,$scale)")
  private def pick(salt: Int, c: Column, xs: String*): Column =
    element_at(typedLit(xs), (uni(salt, c, xs.size.toLong) + 1).cast("int"))

  /** Rows `[0, perDay * days)` with their calendar `__day` and, for keys
    * updated late, the daily-day index `__late` (null otherwise). The late
    * keys come from a seeded affine permutation of the pre-daily rows, so
    * each daily day gets exactly `late` distinct keys. */
  private def spine(perDay: Int, late: Int, salt: Int): DataFrame = {
    val m = preDays.toLong * perDay
    var a = (math.abs(new scala.util.Random(seed * 31 + salt).nextLong()) % (m - 3)) + 2
    while (BigInt(a).gcd(BigInt(m)) != 1) a += 1
    val ainv = BigInt(a).modInverse(BigInt(m)).toLong
    val b = math.abs(new scala.util.Random(seed * 17 + salt).nextLong()) % m
    val t = pmod((col("id") - b) * ainv, lit(m))
    spark.range(0L, perDay.toLong * days).toDF("id")
      .withColumn("__day", (col("id") / perDay).cast("int"))
      .withColumn("__late",
        when(col("id") < m && t < late.toLong * DailyDays, (t / late).cast("int")))
  }

  /** `version` 0 = stale source (pre-daily days, old values), 1 = current. */
  def lineitem(version: Int): DataFrame = {
    val id = col("id")
    val late = if (version == 1) col("__late").isNotNull else lit(false)
    val ship = ts(col("__day"), uni(10, id, 86400))
    val s = spine(LineitemPerDay, LateLineitem, 1)
    (if (version == 0) s.filter(col("__day") < preDays) else s).select(
      id.as("l_id"),
      uni(1, id, 100L * days).as("l_orderkey"),
      (uni(2, id, 4000) + 1).as("l_partkey"),
      (uni(3, id, 200) + 1).as("l_suppkey"),
      (uni(4, id, 7) + 1).cast("int").as("l_linenumber"),
      (uni(5, id, 50) + 1 + when(late, col("__late") + 1).otherwise(0)).cast("int").as("l_quantity"),
      cents(uni(6, id, 10000000L) + when(late, 100).otherwise(0)).as("l_extendedprice"),
      cents(uni(7, id, 11), precision = 4).as("l_discount"),
      cents(uni(8, id, 9), precision = 4).as("l_tax"),
      when(late, lit("U")).otherwise(pick(9, id, "A", "N", "R")).as("l_returnflag"),
      pick(12, id, "F", "O").as("l_linestatus"),
      ship.as("l_shipdate"),
      when(late, ts(col("__late") + preDays, uni(11, id, 86400))).otherwise(ship).as("update_ts"),
      col("__day"), col("__late"))
  }

  /** Dims; v0 differs from v1 in a seeded tenth of customer and part rows. */
  def dim(name: String, version: Int): DataFrame = {
    val n = Dims.toMap.apply(name).toLong
    val id = col("id")
    val stale = if (version == 0) uni(40, id, 10) === 0 else lit(false)
    val r = spark.range(1L, n + 1).toDF("id")
    name match {
      case "customer" => r.select(id.as("c_custkey"),
        concat(lit("Customer#"), lpad(id.cast("string"), 9, "0")).as("c_name"),
        uni(41, id, 25).cast("int").as("c_nationkey"),
        cents(uni(42, id, 1000000) - when(stale, 100).otherwise(0), precision = 12).as("c_acctbal"),
        pick(43, id, "AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY").as("c_mktsegment"))
      case "part" => r.select(id.as("p_partkey"),
        concat(lit("part "), h(46, id).cast("string")).as("p_name"),
        concat(lit("Brand#"), (uni(47, id, 5) + 1).cast("string")).as("p_brand"),
        (uni(48, id, 50) + 1).cast("int").as("p_size"),
        cents(uni(49, id, 200000) + when(stale, 50).otherwise(0), precision = 12).as("p_retailprice"))
    }
  }

  def fact(name: String, version: Int): DataFrame = name match {
    case "lineitem" => lineitem(version)
  }

  def bare(df: DataFrame): DataFrame = df.drop("__day", "__late")

  /** Write a source warehouse: one plain parquet directory per table, as
    * the upstream system would leave it (no graft commit protocol). */
  def write(root: File, version: Int): Unit = {
    val parts = spark.sparkContext.defaultParallelism
    Facts.foreach(t => bare(fact(t, version)).coalesce(parts)
      .write.mode("overwrite").parquet(new File(root, t).getPath))
    Dims.foreach { case (t, _) => dim(t, version).coalesce(1)
      .write.mode("overwrite").parquet(new File(root, t).getPath) }
  }

  /** Expected target content of a fact after the daily run of daily day
    * `k` (0-based) on a target preloaded from v0; `k = DailyDays - 1` on an
    * empty target over the whole calendar is the first-load state, v1. */
  def expectedFact(name: String, k: Int): DataFrame = {
    val key = fact(name, 1).columns.head
    val current = fact(name, 1).filter(col("__day") <= preDays + k &&
      (col("__late").isNull || col("__late") <= k))
    // keys whose late update comes after day k still hold their v0 values
    val pending = fact(name, 1).filter(col("__late") > k).select(col(key).as("__k"))
    val stale = fact(name, 0).join(pending, col(key) === col("__k"), "left_semi")
    bare(current).unionByName(bare(stale))
  }

  /** Expected output of the sproc for window `[from, to]`. */
  def expectedSproc(from: Int, to: Int): DataFrame =
    fact("lineitem", 1).filter(col("__day").between(from, to))
      .groupBy(to_date(col("l_shipdate")).as("day"), col("l_returnflag"))
      .agg(count(lit(1)).as("n"), sum(col("l_extendedprice")).as("revenue"))
}

/** One scheduled run: its config, the injected clock, and the calendar
  * days `[from, to]` of the window the clock derives. */
final case class RunPlan(cfg: EngineConfig, now: LocalDateTime, from: Int, to: Int)

/**
 * `sync_backfill` (first load into an empty target over the whole calendar)
 * and `sync_daily` (consecutive daily-schedule runs against a target
 * preloaded from v0; the preloaded target and ledger are restored, untimed,
 * before every repetition of [[SyncData.DailyDays]] days).
 */
final class SyncWorkload(spark: SparkSession, work: File, seed: Long, daily: Boolean) extends Workload {
  import SyncData._

  private val data = new SyncData(spark, seed, if (daily) DailyHistoryDays else BackfillDays)
  import data.{days, preDays}
  private val srcV1 = new File(work, "source")
  private val tgtDir = new File(work, "target")
  private val preloaded = new File(work, "preloaded")
  private val procDir = new File(work, "proc")
  private val LedgerTable = "tbl_dw_copy_logs"

  private val tables: Seq[TableSpec] = Seq(
    TableSpec(Sproc, "sproc"),
    TableSpec("lineitem", "fact", Some("l_shipdate"), Some("update_ts"), Some("l_id"), partitionByDate = true)) ++
    Dims.map { case (t, _) => TableSpec(t, "dim") }

  // The sproc is a command: Runner.runStep discards the DataFrame a step
  // returns, so a bare SELECT would only be analyzed, never run.
  private val steps = new SqlStepRegistry(Map(Sproc ->
    (s"INSERT OVERWRITE DIRECTORY '${procDir.getPath}' USING parquet " +
      "SELECT to_date(l_shipdate) AS day, l_returnflag, count(1) AS n, sum(l_extendedprice) AS revenue " +
      "FROM bench_src_lineitem WHERE l_shipdate BETWEEN TIMESTAMP_NTZ '{start_ts}' AND TIMESTAMP_NTZ '{end_ts}' " +
      "GROUP BY to_date(l_shipdate), l_returnflag")))

  private def plan(mode: Option[String], from: Int, to: Int, now: LocalDateTime) = RunPlan(
    EngineConfig(sourceSchema = "source", targetSchema = "target", scheduleMode = mode,
      dateFrom = Some(day(from).toString), dateTo = Some(day(to).toString), tables = tables),
    now, from, to)

  /** Daily day of a pass: repetitions of [[DailyDays]] consecutive days. */
  private def dailyIndex(pass: Int): Int = pass % DailyDays

  private def planFor(pass: Int): RunPlan =
    if (!daily) plan(None, 0, days - 1, day(days).atTime(6, 0))
    else {
      // daily mode derives yesterday..yesterday from the injected clock
      val d = preDays + dailyIndex(pass)
      plan(Some("daily"), d, d, day(d + 1).atTime(6, 0))
    }

  private def store(dir: File) = new TableStore(spark, dir.getPath)

  def setup(): Unit = {
    Seq(srcV1, tgtDir, preloaded, procDir).foreach(Files.deleteTree)
    data.write(srcV1, 1)
    if (daily) preload()
    store(srcV1).read("lineitem").createOrReplaceTempView("bench_src_lineitem")
  }

  /** The target a first load of the stale v0 source over the pre-daily days
    * leaves: every table in the store's layout and that load's ledger rows.
    * It is written through the store directly; a Runner first load here
    * would cost a full backfill per set-up. */
  private def preload(): Unit = {
    import spark.implicits._
    val target = store(tgtDir)
    Facts.foreach { t =>
      val v0 = data.bare(data.fact(t, 0))
      if (t == "lineitem")
        target.atomicOverwrite(t, v0.withColumn("load_date", to_date(col("l_shipdate"))), Seq("load_date"))
      else target.atomicOverwrite(t, v0)
    }
    Dims.foreach { case (t, _) => target.atomicOverwrite(t, data.dim(t, 0)) }
    val p = plan(None, 0, preDays - 1, day(preDays).atTime(6, 0))
    val at = Timestamp.valueOf(p.now)
    val records = expectedLedger(p).toSeq.flatMap { case ((t, process), n) =>
      val spec = tables.find(_.tableName == t).get
      val started = RunRecord(java.util.UUID.randomUUID.toString, 0, t, process, "In Progress", at, None,
        Some(day(p.from).toString), Some(day(p.to).toString), spec.dateColumn, spec.updateDateColumn,
        spec.primaryKey, None, None)
      Seq(started, started.copy(seq = 1, status = "Completed", endTime = Some(at), recordsCopied = n))
    }
    target.append(LedgerTable, records.toDF())
    Files.copyTree(tgtDir, preloaded)
  }

  def prepare(pass: Int): Unit =
    if (!daily) { Files.deleteTree(tgtDir); Files.deleteTree(procDir) }
    else if (dailyIndex(pass) == 0) { Files.deleteTree(tgtDir); Files.copyTree(preloaded, tgtDir) }

  /** Order-independent checksums, `(rows, sum of row hashes)` per name, of
    * several frames in one job. */
  private def checksums(frames: Seq[(String, DataFrame)]): Map[String, (Long, BigDecimal)] =
    frames.map { case (name, df) =>
      val cols = df.columns.filterNot(_ == "load_date").sorted.map(col).toIndexedSeq
      df.select(lit(name).as("name"), xxhash64(cols: _*).cast("decimal(38,0)").as("h"))
    }.reduce(_.unionByName(_))
      .groupBy("name").agg(count(lit(1)), sum("h")).collect()
      .map(r => r.getString(0) -> (r.getLong(1), BigDecimal(r.getDecimal(2)))).toMap

  private val checked = (Facts ++ Dims.map(_._1)) :+ Sproc
  /** Checksums of the expected target after each run, computed from v0/v1
    * directly: per daily day, or for the first load. One job, on first use. */
  private lazy val expectedSums: Map[String, (Long, BigDecimal)] = {
    val runs = if (daily) (0 until DailyDays).map(k => (k, planFor(k))) else Seq((DailyDays - 1, planFor(0)))
    import spark.implicits._
    checksums(runs.flatMap { case (k, p) =>
      val ledgerRows = expectedLedger(p).toSeq.map { case ((t, process), n) => (t, process, "Completed", n) }
        .toDF(LedgerColumns: _*)
      (Facts.map(t => t -> data.expectedFact(t, k)) ++ Dims.map { case (t, _) => t -> data.dim(t, 1) } :+
        (Sproc -> data.expectedSproc(p.from, p.to)) :+ ("ledger" -> ledgerRows))
        .map { case (t, df) => s"$t@${p.from}" -> df }
    })
  }

  private val LedgerColumns = Seq("tableName", "process", "status", "recordsCopied")

  /** Expected `recordsCopied` per (table, process) of one run. */
  private def expectedLedger(p: RunPlan): Map[(String, String), Option[Long]] = {
    val n = (p.to - p.from + 1).toLong
    // a daily day's window holds that day's late updates; a first load's
    // window holds every update, so no key changes outside it
    val late = if (p.from == p.to) LateLineitem.toLong else 0L
    Map(
      (Sproc, "Sproc") -> None,
      ("lineitem", "Fact Copy") -> Some(LineitemPerDay * n),
      ("lineitem", "Table Update") -> Some(late)) ++
      Dims.map { case (t, rows) => (t, "Dim Copy") -> Some(rows.toLong) }
  }

  def pass(pass: Int, tracer: Option[Tracer]): PassResult = {
    val p = planFor(pass)
    val target = store(tgtDir)
    val ledger = new Ledger(spark, target, LedgerTable)
    val runner = new Runner(spark, store(srcV1), target, ledger, steps, clock = () => p.now)
    val startedAt = Timestamp.valueOf(LocalDateTime.now())
    tracer.foreach(_.begin(pass, ownerOf))
    val ms0 = System.currentTimeMillis()
    val (results, wall, cpu) = Clock.timed(
      tracer.fold(runner.run(p.cfg))(_.span(s"Runner.run ${day(p.from)}..${day(p.to)}", "pipeline")(runner.run(p.cfg))))
    val ms1 = System.currentTimeMillis()
    tracer.foreach(_.end())
    val owners = tracer.map(_.owners).getOrElse(Map.empty)
    val engine = tracer.map(_.sparkLayer(ms0, ms1)).getOrElse(Nil)

    // ---- correctness, after the clock stopped ----
    // one job checks every target table, the sproc output, and this run's
    // ledger rows (all Completed, with the expected recordsCopied)
    val runRows = ledger.latest.filter(col("startTime") >= lit(startedAt))
    val sums = checksums(checked.map(t =>
      t -> (if (t == Sproc) spark.read.parquet(procDir.getPath) else target.read(t))) :+
      ("ledger" -> runRows.select(LedgerColumns.map(col): _*)))
    val checks = (checked :+ "ledger").map { t =>
      val ok = sums.get(t) == expectedSums.get(s"$t@${p.from}")
      if (!ok) System.err.println(s"[perfbench] $t differs from its expected state")
      ok
    }
    results.filterNot(_.ok).foreach(r => System.err.println(s"[perfbench] ${r.process} ${r.table} failed: ${r.error}"))
    val copied = expectedLedger(p).values.flatten.sum

    val layers = tracer.map { t =>
      val rows = runRows.select("tableName", "process", "status", "recordsCopied", "startTime", "endTime").collect()
      val pl = layerMetrics(rows, owners, wall, copied)
      t.record(pass, pl ++ engine)
      pl ++ engine
    }.getOrElse(Nil)
    PassResult(wall, cpu, copied, results.size + checks.size, results.count(!_.ok) + checks.count(!_), layers.toMap)
  }

  /** Owner of a path the pass touches. */
  private def ownerOf(path: String): Option[String] = {
    val p = path.stripPrefix("file:")
    def under(dir: File) = {
      val d = dir.getCanonicalPath
      if (p == d || p.startsWith(d + "/")) Some(p.drop(d.length + 1).takeWhile(c => c != '/' && c != '.'))
      else None
    }
    under(new File(tgtDir, LedgerTable)).map(_ => "ledger")
      .orElse(under(tgtDir).map(t => s"target:$t"))
      .orElse(under(srcV1).map(t => s"source:$t"))
      .orElse(if (p.startsWith(procDir.getCanonicalPath)) Some("proc") else None)
  }

  private def layerMetrics(rows: Array[org.apache.spark.sql.Row], owners: Map[String, OwnerTotals],
      wall: Double, copied: Long): Seq[(String, Metric)] = {
    def dur(r: org.apache.spark.sql.Row) =
      (r.getTimestamp(5).getTime - r.getTimestamp(4).getTime) / 1e3 +
        (r.getTimestamp(5).getNanos % 1000000 - r.getTimestamp(4).getNanos % 1000000) / 1e9
    val perTable = rows.groupBy(_.getString(0)).map { case (t, rs) => t -> rs.map(dur).sum }
    val dimRows = rows.filter(_.getString(1) == "Dim Copy")
    val dimsWall = if (dimRows.isEmpty) 0.0 else
      (dimRows.map(_.getTimestamp(5).getTime).max - dimRows.map(_.getTimestamp(4).getTime).min) / 1e3
    val upd = rows.filter(_.getString(1) == "Table Update")
    def sum(f: OwnerTotals => Double, pick: String => Boolean) =
      owners.filter { case (o, _) => pick(o) }.values.map(f).sum
    val ledgerS = sum(_.sqlS, o => o == "w:ledger" || o == "r:ledger")
    val storeRows = sum(_.rowsWritten.toDouble, _.startsWith("target:"))
    val ledgerFiles = Files.count(new File(tgtDir, LedgerTable), _.getName.endsWith(".parquet"))
    checked.map(t => s"pipeline.table_share.$t" -> Metric(perTable.getOrElse(t, 0.0) / wall, "ratio")) ++ Seq(
      "pipeline.dims_overlap" -> Metric(if (dimsWall > 0) dimRows.map(dur).sum / dimsWall else 0.0, "ratio"),
      "ledger.appends" -> Metric(rows.length * 2.0, "count"),
      "ledger.share" -> Metric(ledgerS / wall, "ratio"),
      "ledger.files" -> Metric(ledgerFiles.toDouble, "count"),
      "store.write_share" -> Metric(sum(_.sqlS, _.startsWith("w:target:")) / wall, "ratio"),
      "store.bytes_written" -> Metric(sum(_.bytesWritten.toDouble, _.startsWith("target:")), "bytes"),
      "store.files_written" -> Metric(sum(_.filesWritten.toDouble, _.startsWith("target:")), "count"),
      "store.rewrite_amplification" -> Metric(storeRows / copied, "ratio"),
      "ops.changed_keys" -> Metric(upd.filterNot(_.isNullAt(3)).map(_.getLong(3)).sum.toDouble, "count"),
      "ops.changed_keys_share" -> Metric(upd.map(dur).sum / wall, "ratio"),
      "ops.scan_amplification" -> Metric(sum(_.rowsScanned.toDouble, _.startsWith("source:")) / copied, "ratio"),
      "proc.sproc_share" -> Metric(perTable.getOrElse(Sproc, 0.0) / wall, "ratio"))
  }
}

package graftbench

import java.io.{BufferedOutputStream, File, FileOutputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.zip.GZIPOutputStream

import scala.collection.mutable
import scala.util.Random

import graft.ext.{Dedup, Packing, Sampling, TextAnalysis}
import graft.io.{Export, Warc}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructField, StructType}

/** One generated crawl document and its planted fate. `cleanLines` are the
  * lines c4Clean must keep; `kind` is the planted category. */
final case class CrawlDoc(uri: String, lang: String, text: String, cleanLines: Seq[String], kind: String,
    group: Int)

/**
 * Seeded crawl for `corpus_select`: WET shards of multi-line English
 * documents with terminal punctuation, so c4Clean's line rules apply, and
 * with planted boilerplate lines, short documents, exact duplicates (equal
 * after cleaning), near-duplicates (two words changed), and documents whose
 * WET language header disagrees with their text. The base crawl is grown to
 * [[Reps]] replicas by rep-tagging every content word (`word~r`), so growth
 * adds distinct documents and distinct duplicate groups instead of copies.
 */
object CorpusData {
  val BaseDocs = 500 // singletons per replica, before planted variants
  val ExactGroups = 40 // each: a base doc plus two copies that clean to the same text
  val NearGroups = 40 // each: a base doc plus two variants with two words changed
  val C4Dropped = 50 // too few lines that end in punctuation, or "lorem ipsum"
  val GopherDropped = 50 // pass the line rules but have fewer than 50 words
  val Mislabeled = 30 // WET language header says "de"; the text is English
  val Reps = 2
  val Shards = 8
  val SamplePermille = 800
  val PackBudget = 2048
  val PackShards = 4

  private val Stop = Seq("the", "of", "and", "to", "with", "that", "have", "be", "is", "a", "in", "for")
  private val Boilerplate = Seq(
    "Accept all cookies to continue", "Enable JavaScript to view this page.",
    "Share on social media", "Sign in | Register")
  private val Reserved: Set[String] = (TextAnalysis.LangMarkers.flatMap(_._2) ++ Stop ++
    Seq("lorem", "ipsum", "javascript")).toSet

  def generate(seed: Long): Seq[CrawlDoc] = {
    val rnd = new Random(seed)
    val syll = Seq("ka", "ro", "mi", "te", "su", "van", "lor", "pen", "dri", "bo", "sel", "nu", "tra", "fi",
      "gon", "ma", "ri", "ost", "el", "quin", "zu", "ham", "pre", "dol")
    val vocab = Iterator.continually(
      (1 to 2 + rnd.nextInt(2)).map(_ => syll(rnd.nextInt(syll.size))).mkString)
      .filter(w => w.length >= 4 && !Reserved(w)).distinct.take(4000).toIndexedSeq
    def word(): String =
      if (rnd.nextInt(4) == 0) Stop(rnd.nextInt(Stop.size)) else vocab(rnd.nextInt(vocab.size))
    def line(words: Int): String = {
      val ws = (1 to words).map(_ => word())
      (ws.head.capitalize +: ws.tail).mkString(" ") + "."
    }
    // a document's content: 8-12 distinct lines of 9-16 words
    def body(): IndexedSeq[String] = (1 to 8 + rnd.nextInt(5)).map(_ => line(9 + rnd.nextInt(8))).distinct
    def withBoilerplate(lines: Seq[String]): String = {
      val out = mutable.ArrayBuffer(lines: _*)
      (0 until 1 + rnd.nextInt(3)).foreach(_ =>
        out.insert(rnd.nextInt(out.size + 1), Boilerplate(rnd.nextInt(Boilerplate.size))))
      out.mkString("\n")
    }
    def changeTwoWords(lines: IndexedSeq[String]): IndexedSeq[String] = {
      var ls = lines
      for (i <- Seq(1, ls.size - 2)) {
        val ws = ls(i).stripSuffix(".").split(" ")
        ws(ws.length / 2) = vocab(rnd.nextInt(vocab.size)) + "x"
        ls = ls.updated(i, ws.mkString(" ") + ".")
      }
      ls
    }
    val base = mutable.ArrayBuffer.empty[(String, String, Seq[String], String, Int)] // lang, text, clean, kind, group
    var group = 0
    def add(lang: String, text: String, clean: Seq[String], kind: String, g: Int = -1) =
      base += ((lang, text, clean, kind, g))
    (1 to BaseDocs).foreach { i =>
      val b = body()
      add(if (i <= Mislabeled) "de" else "en", withBoilerplate(b), b, if (i <= Mislabeled) "mislabeled" else "single")
    }
    (1 to ExactGroups).foreach { _ =>
      group += 1
      val b = body()
      (0 until 3).foreach(_ => add("en", withBoilerplate(b), b, "exact", group))
    }
    (1 to NearGroups).foreach { _ =>
      group += 1
      val b = body()
      add("en", withBoilerplate(b), b, "near", group)
      (0 until 2).foreach { _ => val v = changeTwoWords(b); add("en", withBoilerplate(v), v, "near", group) }
    }
    (1 to C4Dropped).foreach { i =>
      val b = body()
      val text = if (i % 2 == 0) (b.take(3) ++ b.drop(3).map(_.stripSuffix("."))).mkString("\n")
                 else (b :+ "Lorem ipsum dolor sit amet, consectetur adipiscing elit.").mkString("\n")
      add("en", text, Nil, "c4_dropped")
    }
    (1 to GopherDropped).foreach { _ =>
      val b = (1 to 5).map(_ => line(4 + rnd.nextInt(2)))
      add("en", b.mkString("\n"), b, "gopher_dropped")
    }
    // replicas: tag content words per rep; stopwords stay English
    val docs = (0 until Reps).flatMap { r =>
      def tag(s: String): String = if (r == 0) s else s.split("\n").map(l =>
        l.split(" ").map { w =>
          val core = w.stripSuffix(".").stripSuffix(",")
          if (Reserved(core.toLowerCase) || !core.forall(_.isLetter)) w else core + s"~$r" + w.drop(core.length)
        }.mkString(" ")).mkString("\n")
      base.map { case (lang, text, clean, kind, g) =>
        (lang, tag(text), clean.map(tag), kind, if (g < 0) g else g + r * group)
      }
    }
    // ids are a seeded permutation, so a group's surviving (lowest) id is
    // not always its first member
    val ids = rnd.shuffle((0 until docs.size).toIndexedSeq)
    docs.zip(ids).map { case ((lang, text, clean, kind, g), id) =>
      CrawlDoc(f"https://crawl.example/doc/$id%07d", lang, text, clean, kind, g)
    }
  }

  /** Write WET shards (gzip members of `WARC-Type: conversion` records). */
  def writeWet(docs: Seq[CrawlDoc], dir: File): Long = {
    dir.mkdirs()
    docs.zipWithIndex.groupBy(_._2 % Shards).toSeq.map { case (s, part) =>
      val f = new File(dir, f"shard-$s%03d.warc.wet.gz")
      val out = new BufferedOutputStream(new GZIPOutputStream(new FileOutputStream(f)))
      try part.foreach { case (d, _) =>
        val body = d.text.getBytes(UTF_8)
        val head = "WARC/1.0\r\nWARC-Type: conversion\r\n" +
          s"WARC-Target-URI: ${d.uri}\r\nWARC-Date: 2024-05-01T00:00:00Z\r\n" +
          s"WARC-Identified-Content-Language: ${d.lang}\r\nContent-Type: text/plain\r\n" +
          s"Content-Length: ${body.length}\r\n\r\n"
        out.write(head.getBytes(UTF_8)); out.write(body); out.write("\r\n\r\n".getBytes(UTF_8))
      } finally out.close()
      f.length
    }.sum
  }

  /** The portable id hash [[Sampling.hashFraction]] keeps on, recomputed. */
  def sampled(id: String): Boolean = {
    val md5 = java.security.MessageDigest.getInstance("MD5").digest(id.getBytes(UTF_8))
      .map(b => f"${b & 0xff}%02x").mkString
    java.lang.Long.parseLong(md5.take(15), 16) % 1000 < SamplePermille
  }

  /** Planted survivors of every stage, in pipeline order. */
  def truth(docs: Seq[CrawlDoc]): Seq[(String, Seq[CrawlDoc])] = {
    val c4 = docs.filter(_.kind != "c4_dropped")
    val gopher = c4.filter(_.kind != "gopher_dropped")
    val byGroup = gopher.groupBy(_.group)
    def keep(kind: String)(d: CrawlDoc) = d.kind != kind || d.uri == byGroup(d.group).map(_.uri).min
    val exact = gopher.filter(keep("exact"))
    val near = exact.filter(keep("near"))
    val lang = near.filter(_.kind != "mislabeled")
    val sample = lang.filter(d => sampled(d.uri))
    Seq("read" -> docs, "c4" -> c4, "gopher" -> gopher, "exact" -> exact, "near" -> near, "lang" -> lang,
      "sample" -> sample, "pack" -> sample)
  }
}

/** A pass's stage counts and times (traced passes only), and the frames
  * it left cached, released by `release` once the checks are done. */
final case class CorpusPassOut(counts: Map[String, Long], stageS: Map[String, Double], ccJobs: Int,
    exact: Option[DataFrame], release: () => Unit)

/**
 * `corpus_select`: the training-data pass over WET shards — readWet →
 * c4Clean → gopherQuality → exact dedup on contentFingerprint → MinHash-LSH
 * pairs → connected components (keep the canonical member) → tokenStats +
 * langId agreement → hashFraction → packTokenBudget → JSONL export. Untraced
 * passes persist, without forcing them, the frames later stages read more
 * than once; traced passes materialize and count every stage.
 */
final class CorpusWorkload(spark: SparkSession, work: File, seed: Long) extends Workload {
  import CorpusData._

  private val wetDir = new File(work, "wet")
  private val exportDir = new File(work, "export")
  private var docs: Seq[CrawlDoc] = Nil
  private var stageTruth: Seq[(String, Seq[CrawlDoc])] = Nil
  private var expectedOut: Map[String, (Long, String)] = Map.empty
  private var wetBytes = 0L

  def setup(): Unit = {
    Files.deleteTree(wetDir)
    docs = generate(seed)
    wetBytes = writeWet(docs, wetDir)
    stageTruth = truth(docs)
    expectedOut = stageTruth.last._2.map { d =>
      val text = d.cleanLines.mkString("\n")
      d.uri -> (text.split("\\s+").length.toLong, text)
    }.toMap
  }

  def prepare(pass: Int): Unit = Files.deleteTree(exportDir)

  private def pipeline(tracer: Option[Tracer]): CorpusPassOut = {
    val counts = mutable.LinkedHashMap.empty[String, Long]
    val stageS = mutable.LinkedHashMap.empty[String, Double]
    val cached = mutable.ArrayBuffer.empty[DataFrame]
    var ccJobs = 0
    // untraced: the stage's frame, persisted lazily (as the program's own
    // capstones cache theirs) when later stages read it more than once;
    // traced: a span that materializes and counts the stage
    def stage(name: String, layer: String, shared: Boolean = false)(df: => DataFrame): DataFrame =
      tracer match {
        case None =>
          if (shared) { val p = df.persist(); cached += p; p } else df
        case Some(t) =>
          val t0 = System.nanoTime()
          val out = t.span(name, layer) {
            val p = df.persist()
            counts(name) = p.count()
            p
          }
          stageS(name) = (System.nanoTime() - t0) / 1e9
          cached += out
          out
      }
    def release(): Unit = { cached.foreach(_.unpersist()); Dedup.unpersistAll() }
    try {
      val raw = stage("read", "io", shared = true)(Warc.readWet(spark, wetDir.getPath)
        .select(col("uri").as("doc_id"), col("lang"), col("text")))
      val clean = stage("c4", "ext.textanalysis", shared = true)(TextAnalysis.c4Clean(raw, "doc_id", "text"))
      val gopher = stage("gopher", "ext.textanalysis") {
        val q = TextAnalysis.gopherQuality(clean, "doc_id", "clean_text")
        clean.join(q.filter(col("keep")).select("doc_id"), Seq("doc_id"), "left_semi")
      }
      val exact = stage("exact", "ext.dedup", shared = true)(Dedup.exact(
        gopher.withColumn("fp", Dedup.contentFingerprint(col("clean_text"))), Seq("fp"), "doc_id"))
      val pairs = stage("minhash", "ext.dedup")(Dedup.minhashLshPairs(exact, "doc_id", "clean_text"))
      val near = stage("near", "ext.dedup", shared = true) {
        val ms0 = System.currentTimeMillis()
        val cc = Dedup.connectedComponents(pairs, "doc_a", "doc_b")
        ccJobs = tracer.map(_.jobsBetween(ms0, System.currentTimeMillis())).getOrElse(0)
        exact.join(cc.filter(col("node") =!= col("cluster")).select(col("node").as("doc_id")),
          Seq("doc_id"), "left_anti")
      }
      val lang = stage("lang", "ext.textanalysis") {
        val stats = TextAnalysis.tokenStats(near, "doc_id", "clean_text").select("doc_id", "n_tokens")
        val pred = TextAnalysis.langId(near, "doc_id", "clean_text").select("doc_id", "pred_lang")
        near.join(raw.select("doc_id", "lang"), "doc_id").join(pred, "doc_id")
          .filter(col("pred_lang") === col("lang")).join(stats, "doc_id")
          .select("doc_id", "clean_text", "n_tokens")
      }
      val sample = stage("sample", "ext.sampling", shared = true)(
        Sampling.hashFraction(lang, "doc_id", SamplePermille))
      val packed = stage("pack", "ext.packing")(
        Packing.packTokenBudget(sample, "doc_id", "n_tokens", PackBudget, PackShards)
          .join(sample.select("doc_id", "clean_text"), "doc_id"))
      val t0 = System.nanoTime()
      tracer.fold(Export.jsonlShards(packed, exportDir.getPath, 2000))(
        _.span("export", "io")(Export.jsonlShards(packed, exportDir.getPath, 2000)))
      stageS("export") = (System.nanoTime() - t0) / 1e9
      CorpusPassOut(counts.toMap, stageS.toMap, ccJobs, tracer.map(_ => exact), () => release())
    } catch { case e: Throwable => release(); throw e }
  }

  /** Candidate pairs of minhashLshPairs' default banding (3-shingles, 64
    * hashes in 16 bands), before exact verification. */
  private def candidatePairs(docs: DataFrame): Long = {
    import org.apache.spark.sql.graftx.VectorFunctions.minhash_signature
    val (hashes, bands) = (64, 16)
    val rows = hashes / bands
    val sigs = Dedup.hashedShingleSets(docs, "doc_id", "clean_text", 3)
      .select(col("doc_id"), minhash_signature(col("hs"), hashes).as("sig"))
    val buckets = sigs.select(col("doc_id"), explode(array((0 until bands).map(j =>
      struct(lit(j).as("band"), hash(slice(col("sig"), j * rows + 1, rows)).as("bucket"))): _*)).as("bk"))
    Dedup.bucketPairs(buckets, "bk", "doc_id").count()
  }

  private val ExportSchema = StructType(Seq(StructField("doc_id", StringType), StructField("shard", IntegerType),
    StructField("n_tokens", LongType), StructField("pack_id", LongType), StructField("clean_text", StringType)))

  def pass(pass: Int, tracer: Option[Tracer]): PassResult = {
    tracer.foreach(_.begin(pass, _ => None))
    val ms0 = System.currentTimeMillis()
    val (out, wall, cpu) = Clock.timed(pipeline(tracer))
    val ms1 = System.currentTimeMillis()
    tracer.foreach(_.end())
    val engine = tracer.map(_.sparkLayer(ms0, ms1)).getOrElse(Nil)

    // ---- correctness, after the clock stopped ----
    val got = Export.readJsonl(spark, exportDir.getPath, ExportSchema).collect()
      .map(r => r.getString(0) -> (r.getLong(2), r.getString(4))).toMap
    val outOk = got == expectedOut
    if (!outOk) System.err.println(s"[perfbench] exported corpus differs from the planted survivors: " +
      s"${got.size} docs exported, ${expectedOut.size} expected")
    val stageOk = out.counts.map { case (name, n) =>
      val want = stageTruth.toMap.get(name).map(_.size.toLong)
      val ok = want.forall(_ == n)
      if (!ok) System.err.println(s"[perfbench] stage $name kept $n documents, planted truth ${want.get}")
      ok
    }.toSeq
    val checks = outOk +: stageOk

    val layers = tracer.map { t =>
      val pl = layerMetrics(out, out.exact.map(candidatePairs).getOrElse(0L), wall)
      t.record(pass, pl ++ engine)
      pl ++ engine
    }.getOrElse(Nil)
    out.release()
    PassResult(wall, cpu, docs.size, checks.size, checks.count(!_), layers.toMap)
  }

  private def layerMetrics(out: CorpusPassOut, candidates: Long, wall: Double): Seq[(String, Metric)] = {
    val c = out.counts
    def s(n: String) = out.stageS.getOrElse(n, 0.0) / wall
    def ratio(n: String, of: String) = c(n).toDouble / c(of)
    Seq(
      "io.wet_read_share" -> Metric(s("read"), "ratio"),
      "io.export_share" -> Metric(s("export"), "ratio"),
      "io.bytes_read" -> Metric(wetBytes.toDouble, "bytes"),
      "ext.textanalysis.clean_share" -> Metric(s("c4"), "ratio"),
      "ext.textanalysis.select_share" -> Metric(s("gopher") + s("lang"), "ratio"),
      "ext.textanalysis.kept_ratio.c4" -> Metric(ratio("c4", "read"), "ratio"),
      "ext.textanalysis.kept_ratio.gopher" -> Metric(ratio("gopher", "c4"), "ratio"),
      "ext.textanalysis.kept_ratio.lang" -> Metric(ratio("lang", "near"), "ratio"),
      "ext.dedup.exact_share" -> Metric(s("exact"), "ratio"),
      "ext.dedup.minhash_share" -> Metric(s("minhash"), "ratio"),
      "ext.dedup.cc_share" -> Metric(s("near"), "ratio"),
      "ext.dedup.cc_jobs" -> Metric(out.ccJobs, "count"),
      "ext.dedup.kept_ratio.exact" -> Metric(ratio("exact", "gopher"), "ratio"),
      "ext.dedup.kept_ratio.near" -> Metric(ratio("near", "exact"), "ratio"),
      "ext.dedup.candidate_pairs" -> Metric(candidates.toDouble, "count"),
      "ext.dedup.pair_precision" -> Metric(c("minhash").toDouble / candidates, "ratio"),
      "ext.sampling.kept_ratio" -> Metric(ratio("sample", "lang"), "ratio"),
      "ext.packing.pack_share" -> Metric(s("pack"), "ratio"))
  }
}

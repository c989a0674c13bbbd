package graft

import graft.gates.Inputs
import graft.ops.Ops
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Scale smoke — NOT part of the driver contract: replicates the sf0.1
 * fixtures 10–20× into /tmp (12 M lineitem rows, 1 M events, 50 k docs and
 * 20 k vectors with exact-duplicate groups) and drives the headline
 * operators at that size on local[32]. The point is evidence for the 100 TB
 * design claims: shuffle-based plans that survive a data-size jump with
 * sublinear wall-clock growth, no driver-side collections, no OOM.
 * Replicated docs/vectors are IDENTICAL within a group, which stresses the
 * dedup family with ~5 000 ten-member duplicate clusters.
 *
 * Usage: `runMain graft.ScaleSmoke` (writes/reads under /tmp/graft_scale).
 */
object ScaleSmoke {

  private def time[A](name: String)(body: => A): A = {
    val t0 = System.nanoTime()
    val r = body
    println(f"[scale] $name%-28s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
    r
  }

  private def consume(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def main(args: Array[String]): Unit = {
    val base = "/root/testdata/sf0.1"
    val out = "/tmp/graft_scale"
    val spark = io.Sessions.builder("local[32]", 64).appName("graft-scale-smoke").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    if (args.contains("stress")) { // iterate on the stress section alone
      storeStress(spark, out); println("[scale] DONE (stress only)"); spark.stop(); return
    }
    if (args.contains("crawl")) { // iterate on the crawl capstone alone
      crawlPipeline(spark); println("[scale] DONE (crawl only)"); spark.stop(); return
    }
    if (args.contains("kmeans")) { // iterate on the k-means section alone
      kmeansSmoke(spark); println("[scale] DONE (kmeans only)"); spark.stop(); return
    }
    if (args.contains("clean")) { // iterate on the cleaning capstone alone
      cleanPipeline(spark); println("[scale] DONE (clean only)"); spark.stop(); return
    }
    if (args.contains("bitext")) { // iterate on the bitext-mining section alone
      bitextSmoke(spark); println("[scale] DONE (bitext only)"); spark.stop(); return
    }
    if (args.contains("eval")) { // iterate on the eval/linkage/cusum section alone
      evalSmoke(spark); println("[scale] DONE (eval only)"); spark.stop(); return
    }
    import spark.implicits._

    // ---- build replicated inputs (ids perturbed so keys stay unique) ----
    val li = io.Tables.load(spark, base, "lineitem")
    time("build lineitem x20 (12M)") {
      li.crossJoin(spark.range(20).toDF("rep"))
        .withColumn("l_orderkey", col("l_orderkey") * 20 + col("rep")).drop("rep")
        .write.mode("overwrite").parquet(s"$out/lineitem")
    }
    val ev = io.Tables.load(spark, base, "events")
    time("build events x10 (1M)") {
      ev.crossJoin(spark.range(10).toDF("rep"))
        .withColumn("event_id", col("event_id") * 10 + col("rep"))
        .withColumn("user_id", col("user_id") * 10 + col("rep")).drop("rep")
        .write.mode("overwrite").parquet(s"$out/events")
    }
    // repartition(16): the sf0.1 sources are single parquet files — without
    // it every downstream doc/vector operator would run its scan-side work
    // in ONE task and the smoke would measure serial execution, not the plan
    val docs = io.Tables.load(spark, base, "documents")
    time("build documents x10 (50k)") {
      docs.crossJoin(spark.range(10).toDF("rep"))
        .withColumn("doc_id", col("doc_id") * 10 + col("rep")).drop("rep")
        .repartition(16)
        .write.mode("overwrite").parquet(s"$out/documents")
    }
    val emb = io.Tables.load(spark, base, "embeddings")
    time("build embeddings x10 (20k)") {
      emb.crossJoin(spark.range(10).toDF("rep"))
        .withColumn("vec_id", col("vec_id") * 10 + col("rep")).drop("rep")
        .repartition(16)
        .write.mode("overwrite").parquet(s"$out/embeddings")
    }

    val bigLi = spark.read.parquet(s"$out/lineitem")
    val bigEv = spark.read.parquet(s"$out/events")
    val bigDocs = spark.read.parquet(s"$out/documents")
    val bigEmb = spark.read.parquet(s"$out/embeddings")

    // ---- sync core at 12M rows ----
    time("windowed reload 12M") {
      consume(Ops.windowedReload(bigLi, bigLi, "l_shipdate", Inputs.LiFrom, Inputs.LiTo))
    }
    // the 100 TB layout claim: with a date-partitioned target, refreshing a
    // 7-day window must cost ~the window, not the table — compare the full
    // partitioned materialization against the partition-scoped swap
    val store = new graft.store.TableStore(spark, s"$out/warehouse")
    time("partitioned full write 12M (~2.4k load_date dirs)") {
      store.atomicOverwrite("lineitem_part",
        bigLi.withColumn("load_date", to_date(col("l_shipdate"))), Seq("load_date"))
    }
    time("partition-scoped 7-day window swap") {
      val days = Iterator.iterate(Inputs.LiFrom)(_.plusDays(1))
        .takeWhile(!_.isAfter(Inputs.LiTo)).toSeq
      val fresh = Ops.windowScan(bigLi, "l_shipdate", Inputs.LiFrom, Inputs.LiTo)
        .withColumn("load_date", to_date(col("l_shipdate")))
      store.overwriteDatePartitions("lineitem_part", fresh, "load_date", days)
    }
    // range-clustered layout: same 12M rows, files carry disjoint sorted
    // l_orderkey slices — a narrow key-range scan should touch ~1/32 of the
    // data via footer min/max skipping (vs every file unclustered)
    time("range-clustered write 12M (32 files on l_orderkey)") {
      store.atomicOverwriteClustered("lineitem_clustered", bigLi, Seq("l_orderkey"), 32)
    }
    val clusteredScan = time("selective key-range scan, clustered") {
      store.read("lineitem_clustered")
        .filter(col("l_orderkey").between(1000000L, 1010000L)).count()
    }
    val plainScan = time("selective key-range scan, unclustered") {
      bigLi.filter(col("l_orderkey").between(1000000L, 1010000L)).count()
    }
    require(clusteredScan == plainScan,
      s"clustered scan disagrees: $clusteredScan vs $plainScan")

    // ---- z-order layout: selective scans on BOTH dims of 12M rows ----
    time("z-order write 12M (32 files on orderkey x partkey)") {
      store.atomicOverwriteZOrdered("lineitem_z", bigLi, "l_orderkey", "l_partkey", 32)
    }
    val zByOrder = time("selective orderkey scan, z-ordered") {
      store.read("lineitem_z")
        .filter(col("l_orderkey").between(1000000L, 1010000L)).count()
    }
    require(zByOrder == plainScan, s"z scan disagrees: $zByOrder vs $plainScan")
    val zByPart = time("selective partkey scan, z-ordered") {
      store.read("lineitem_z").filter(col("l_partkey").between(100L, 200L)).count()
    }
    val plainByPart = time("selective partkey scan, unclustered") {
      bigLi.filter(col("l_partkey").between(100L, 200L)).count()
    }
    require(zByPart == plainByPart, s"z partkey scan disagrees: $zByPart vs $plainByPart")

    // ---- pointer-mode partitioned pruning at 12M rows / ~2.4k day dirs ----
    // the o9 machinery at scale: a date-partitioned POINTER generation with
    // a stats sidecar must (a) publish without the manifest/stats pass
    // dominating the write, (b) answer pruneEvidence over thousands of
    // partition dirs in driver-metadata time, (c) read a 7-day band out of
    // ~2.4k days touching only the band's files
    val ptr = new graft.store.TableStore(spark, s"$out/warehouse_ptr",
      graft.store.CommitMode.Pointer, statsColumns = Seq("l_orderkey"))
    time("pointer partitioned write 12M (~2.4k dirs + stats)") {
      ptr.atomicOverwrite("li_pp",
        bigLi.withColumn("load_date", to_date(col("l_shipdate"))), Seq("load_date"))
    }
    val band: Seq[(String, Any, Any)] = Seq(("load_date",
      java.sql.Date.valueOf(Inputs.LiFrom), java.sql.Date.valueOf(Inputs.LiTo)))
    val (kDay, tDay) = time("pruneEvidence over ~2.4k partition dirs") {
      ptr.pruneEvidence("li_pp", band)
    }
    require(kDay > 0 && kDay * 50 < tDay,
      s"7-day band must keep <2% of a ~7-year table's files: kept $kDay of $tDay")
    val prunedBand = time("pruned 7-day band read (partition axis)") {
      ptr.readWhere("li_pp", band).count()
    }
    val plainBand = time("unpruned equivalent (manifest read + filter)") {
      ptr.read("li_pp").filter(col("load_date").between(
        java.sql.Date.valueOf(Inputs.LiFrom), java.sql.Date.valueOf(Inputs.LiTo))).count()
    }
    require(prunedBand == plainBand && prunedBand > 0,
      s"partitioned pruned read disagrees: $prunedBand vs $plainBand")

    time("changed-keys + upsert 1M") {
      val withUpd = bigEv.withColumn("update_ts",
        expr("ts + make_dt_interval(cast(event_id % 7 as int), 0, 0, 0)"))
      val changed = Ops.changedKeys(withUpd, "event_id", "ts", "update_ts",
        Inputs.EvFrom, Inputs.EvTo)
      consume(Ops.upsert(bigEv, bigEv, "event_id", changed))
    }

    // ---- keyless time correlation at 1M events ----
    // replication duplicates every timestamp 10x, so each band carries a
    // 10x10 pair fan-out — a deliberate hot-band stress for the band-blocked
    // equi-join plan (the shape a too-wide tolerance produces at 100 TB)
    val rj = time("range join clicks x errors @60s, 1M") {
      val clicks = bigEv.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("ts"))
      val errors = bigEv.filter(col("event_type") === "error")
        .select(col("event_id").as("error_id"), col("ts"))
      Ops.rangeJoin(clicks, errors, "ts", "ts", java.time.Duration.ofSeconds(60)).count()
    }
    val aj = time("as-of join clicks->errors, 1M") {
      val clicks = bigEv.filter(col("event_type") === "click")
      val errors = bigEv.filter(col("event_type") === "error")
      Ops.asOfJoin(clicks, errors, "user_id", "ts", "ts", "event_id", "event_id").count()
    }

    // ---- deterministic sampling at 1M rows, 5 hot strata ----
    // event_type has cardinality 5 at 1M rows — exactly the whole-stratum-in-
    // one-task shape the two-phase stratified plan exists to survive
    time("stratified sample 1M, 5 strata") {
      consume(graft.ext.Sampling.stratified(bigEv, "event_type", "event_id", 1000))
    }
    time("hash-fraction sample 1M") {
      consume(graft.ext.Sampling.hashFraction(bigEv, "event_id", 100))
    }

    // ---- round-8 additions at their scale shapes ----
    // split assignment: a pure per-row hash map — 1M rows, no shuffle
    time("train/val/test split assignment, 1M rows") {
      consume(graft.ext.Sampling.assignSplits(bigEv, "event_id",
        Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05)))
    }
    // contiguous ordinals over 12M rows: the naive global row_number would
    // single-partition-sort all 12M in one task; this runs two parallel
    // jobs. The replicated fixture duplicates (orderkey, linenumber) 20×,
    // so a per-row uid completes the operator's total-order contract.
    time("global ordinals over 12M lineitem rows") {
      consume(graft.ops.Ops.globalOrdinals(
        bigLi.select(col("l_orderkey"), col("l_linenumber"))
          .withColumn("uid", monotonically_increasing_id()),
        Seq(col("l_orderkey"), col("l_linenumber"), col("uid")), numParts = 32))
    }

    // ---- training-sequence packing at 1M rows ----
    // 64 shards over 1M ids → ~16k rows per shard-local sort; cost scales
    // with rows/nShards (the caller's contract), never with the corpus
    time("pack 1M rows into 512-token bins, 64 shards") {
      val toks = bigEv.select(col("event_id").as("doc_id"),
        (pmod(col("event_id"), lit(400)) + 1).cast("long").as("n_tokens"))
      consume(graft.ext.Packing.packTokenBudget(toks, "doc_id", "n_tokens", 512, 64))
    }

    // ---- temporal regularization at 1M events ----
    // 1M rows aggregate to ~1.5k user-day observations; the fill fans out
    // gap days from each observed row in ONE window pass — cost tracks the
    // DAILY frame and its gaps, never the event count
    time("daily grid fill, 1M events -> user-day grid") {
      val daily = bigEv.filter(col("event_type") === "signup")
        .groupBy(col("user_id"),
          date_trunc("day", col("ts")).cast("timestamp_ntz").as("day"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("value")).as("total_value"))
      consume(graft.ext.TimeSeries.dailyGridFill(daily, "user_id", "day", Seq("total_value")))
    }

    // ---- dedup family at 50k docs with 10-member duplicate groups ----
    time("exact dedup 50k docs") {
      consume(graft.ext.Dedup.exact(bigDocs, Seq("text"), "doc_id"))
    }
    // quadratic-per-(block × band) by contract: lang blocking × the
    // operator's INTERNAL width-64 length banding (adjacent-bucket probe, no
    // boundary blindness) keeps candidate groups small at 50k docs — the
    // selectivity discipline any edit-distance pass needs; replicated dup
    // groups guarantee hits
    time("edit-distance pairs 50k docs, lang blocks + length bands") {
      consume(graft.ext.Dedup.editDistancePairs(
        bigDocs, "doc_id", "text", Seq("lang"), maxDist = 5, prefixLen = 40))
    }
    val lsh = time("minhash-LSH pairs 50k docs") {
      val n = graft.ext.Dedup.minhashLshPairs(bigDocs, "doc_id", "text", 3, 64, 16, 0.8).count()
      graft.ext.Dedup.unpersistAll(); n
    }
    // persisted LSH ingest index: archive shingled + bucketed ONCE, then
    // each batch probe pays only its own shingling + the bucket join
    val lshStore = new graft.store.TableStore(spark, s"$out/lsh_store")
    time("LSH ingest index BUILD, 40k-doc archive (once)") {
      graft.ext.Dedup.buildLshIndex(lshStore, "archive_lsh",
        bigDocs.filter(col("doc_id") % 5 =!= 0), "doc_id", "text")
      graft.ext.Dedup.unpersistAll()
    }
    val batchSurvivors = time("LSH ingest probe, 10k-doc batch vs stored archive") {
      val idx = graft.ext.Dedup.loadLshIndex(lshStore, "archive_lsh")
      val n = graft.ext.Dedup.dedupeAgainstLshIndex(lshStore, idx,
        bigDocs.filter(col("doc_id") % 5 === 0), "doc_id", "text", 0.8).count()
      graft.ext.Dedup.unpersistAll()
      println(s"[scale]   batch survivors after archive dedup: $n")
      n
    }
    // the STREAMING ingest path at the same scale: the identical 10k-doc
    // batch arrives as four staged files drained one per micro-batch against
    // the same stored index — the survivor set must match the batch path
    // exactly (static index ⇒ micro-batch-order independent)
    time("STREAMING LSH ingest, 10k docs in 4 micro-batches") {
      val idx = graft.ext.Dedup.loadLshIndex(lshStore, "archive_lsh")
      val in = java.nio.file.Files.createTempDirectory("scale-ingest").resolve("in")
      java.nio.file.Files.createDirectories(in)
      // 100 PLANTED NOVEL docs (vocabulary disjoint from the corpus) ride
      // along so the agreement check cannot pass vacuously at 0 survivors:
      // every archive replica must drop, every planted doc must survive
      val planted = spark.range(100)
        .select((-col("id") - 1).as("doc_id"),
          concat(lit("novelterm"), col("id"), lit(" zzqx"), col("id"),
            lit(" wvut"), col("id")).as("text"),
          lit("xx").as("lang"), lit("planted").as("source"), lit(42L).as("n_chars"))
      val batch = bigDocs.filter(col("doc_id") % 5 === 0)
      (0 until 4).foreach { i =>
        val w = in.getParent.resolve(s"b${i}_w")
        batch.filter(col("doc_id") % 20 === i * 5)
          .unionByName(planted.filter(pmod(-col("doc_id") - 1, lit(4)) === i))
          .coalesce(1).write.mode("overwrite").parquet(w.toString)
        val st = java.nio.file.Files.list(w)
        try st.forEach { p =>
          if (p.toString.endsWith(".parquet"))
            java.nio.file.Files.copy(p, in.resolve(s"b$i.parquet"))
        } finally st.close()
      }
      // the sink must start EMPTY: /tmp/graft_scale persists across smoke
      // runs on a long-lived box, and a prior run's appended survivors would
      // double-count the planted novels (observed: novel=200/100)
      new org.apache.hadoop.fs.Path(lshStore.tablePath("stream_survivors"))
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(new org.apache.hadoop.fs.Path(lshStore.tablePath("stream_survivors")), true)
      val q = graft.streaming.IngestStream.dedupToStore(
        graft.streaming.IngestStream.readDocs(spark, in.toString),
        lshStore, idx, "doc_id", "text", 0.8, "stream_survivors")
      require(q.awaitTermination(300000L), "streaming ingest did not drain")
      val surv = lshStore.read("stream_survivors")
      val n = surv.count()
      val novel = surv.filter(col("doc_id") < 0).count()
      println(s"[scale]   streaming survivors: $n (novel $novel/100; batch-path replicas: $batchSurvivors)")
      require(novel == 100L, s"every planted novel doc must survive: $novel")
      require(n - novel == batchSurvivors,
        s"streaming ingest diverged from the batch path on the replica set: ${n - novel} vs $batchSurvivors")
    }
    val sh = time("simhash pairs 50k docs") {
      val n = graft.ext.Dedup.simhashPairs(bigDocs, "doc_id", "text", 3).count()
      graft.ext.Dedup.unpersistAll(); n
    }
    val cc = time("dup clusters 50k docs") {
      val pairs = graft.ext.Dedup.minhashLshPairs(bigDocs, "doc_id", "text", 3, 64, 16, 0.8)
      val n = graft.ext.Dedup.connectedComponents(pairs, "doc_a", "doc_b")
        .agg(countDistinct(col("cluster"))).as[Long].head()
      graft.ext.Dedup.unpersistAll(); n
    }
    // ---- round-15 additions: span dedup / bloom anti-join / novelty ----
    // the 10x replica corpus makes every >= 8-token doc FULLY duplicated, so
    // span detection has an exact falsifiable contract: exactly one span per
    // eligible doc, covering the doc's whole token range
    time("duplicate spans 50k docs (8-gram)") {
      val spans = graft.ext.Dedup.duplicateSpans(bigDocs, "doc_id", "text", 8)
      val nTok = size(graft.ext.TextAnalysis.tokens(col("text")))
      val bad = spans.join(bigDocs, "doc_id")
        .filter(col("span_start") =!= 0 || col("span_end") =!= nTok - 1).count()
      val n = spans.count()
      val eligible = bigDocs.filter(nTok >= 8).count()
      require(bad == 0 && n == eligible,
        s"replicated corpus must whole-doc-span every eligible doc: n=$n eligible=$eligible bad=$bad")
      graft.ext.Dedup.unpersistAll()
      println(s"[scale]   spans: $n (all full-doc, as replication demands)")
    }
    time("strip duplicate spans 50k docs") {
      val spans = graft.ext.Dedup.duplicateSpans(bigDocs, "doc_id", "text", 8)
      consume(graft.ext.Dedup.stripDuplicateSpans(bigDocs, spans, "doc_id", "text"))
      graft.ext.Dedup.unpersistAll()
    }
    // containment dominates Jaccard pointwise (|A∩B|/min ≥ |A∩B|/|A∪B|),
    // so at the same threshold the Jaccard pairs must be a SUBSET of the
    // containment pairs — a mathematical invariant, require'd exactly
    time("containment pairs 50k docs (@0.9) ⊇ jaccard pairs (@0.9)") {
      val cont = graft.ext.Dedup.containmentPairs(bigDocs, "doc_id", "text", 3, 0.9)
        .select("doc_a", "doc_b")
      val jac = graft.ext.Dedup.jaccardPairs(bigDocs, "doc_id", "text", 3, 0.9)
        .select("doc_a", "doc_b")
      val missing = jac.exceptAll(cont).count()
      val (nc, nj) = (cont.count(), jac.count())
      require(missing == 0 && nc >= nj && nj > 0,
        s"containment must dominate jaccard: cont=$nc jac=$nj missing=$missing")
      graft.ext.Dedup.unpersistAll()
      println(s"[scale]   containment pairs: $nc (jaccard@0.9: $nj, subset holds)")
    }
    // bloom prefilter + confirm join must be row-identical to the plain
    // anti-join at scale (2% blocklist: the clean branch carries ~98% of
    // rows with zero shuffle)
    time("bloom anti-join 50k docs vs ~2% fingerprint blocklist") {
      val fpd = bigDocs.select(col("doc_id"),
        graft.ext.Dedup.contentFingerprint(col("text")).as("fp"))
      val bl = fpd.filter(col("doc_id") % 50 === 0).select("fp")
      val viaBloom = graft.ext.Dedup.bloomAntiJoin(fpd, bl, "fp").count()
      val viaAnti = fpd.join(bl.filter(col("fp").isNotNull).distinct(), Seq("fp"), "left_anti").count()
      require(viaBloom == viaAnti, s"bloom path diverged: $viaBloom vs $viaAnti")
      println(s"[scale]   survivors: $viaBloom (bloom == anti-join)")
    }
    // novelty vs a reference slice that contains a replica of every base
    // doc: every gram is covered, so max novelty must be exactly 0
    time("novelty 50k docs vs 10k-doc replica reference") {
      val nn = bigDocs.filter(col("text").isNotNull)
      val mx = graft.ext.TextAnalysis.noveltyScores(
        nn, nn.filter(col("doc_id") % 5 === 0), "doc_id", "text", 3)
        .agg(max(col("novelty"))).as[Double].head()
      require(mx == 0.0, s"replica reference must cover every gram: max novelty $mx")
      graft.ext.Dedup.unpersistAll()
    }
    time("temperature sample 1M events by event_type (alpha 0.5)") {
      consume(graft.ext.Sampling.temperatureSample(bigEv, "event_type", "event_id", 0.5, 100000L))
    }
    // quality-classifier training at 50k docs: the same linearly-separable
    // text-derived label AND the same retuned configuration as the gate
    // (preconditioned Adam, 40 jobs, auto mini-batch — at 50k docs auto
    // resolves to 250-permille hash slices, the sampled regime the gate
    // only reaches at sf0.1); the trainer must still fit at 10x corpus
    time("train quality classifier 50k docs (adam, 40 jobs, sampled)") {
      val nn = bigDocs.filter(col("text").isNotNull)
      def cnt(t: String) = size(filter(split(col("text"), "\\s+"), w => w === t))
      val labeled = nn.select(col("doc_id"),
        (cnt("table") > cnt("row")).cast("int").as("label"))
      val feats = graft.ext.Classifier.hashedFeatures(nn, "doc_id", "text", 128)
        .join(labeled, Seq("doc_id"))
      val m = graft.ext.Classifier.trainLogistic(feats, "label", 40, 0.3,
        samplePermille = 0, optimizer = "adam")
      graft.ext.Dedup.unpersistAll()
      println(f"[scale]   classifier: acc=${m.trainAccuracy}%.4f loss=${m.trainLogLoss}%.4f")
      require(m.trainAccuracy >= 0.95,
        f"separable label must train at scale: ${m.trainAccuracy}%.4f")
    }
    // Moore-Lewis domain scoring at 50k docs: the target slice is the src0
    // replicas, so target docs must outscore the rest on average (their
    // tokens ARE the target distribution) and every score must be finite
    // (add-one smoothing leaves no -inf even for target-unseen tokens)
    time("cross-entropy domain scoring 50k docs vs src0 target") {
      val ce = graft.ext.TextAnalysis.crossEntropyDiff(
        bigDocs, bigDocs.filter(col("source") === "src0"), "doc_id", "text")
        .join(bigDocs.select(col("doc_id"), col("source")), Seq("doc_id"))
      val (tgt, rest, inf) = ce.agg(
        avg(when(col("source") === "src0", col("ce_diff"))),
        avg(when(col("source") =!= "src0", col("ce_diff"))),
        sum(when(col("ce_diff").isNull || isnan(col("ce_diff")) ||
          abs(col("ce_diff")) === Double.PositiveInfinity, 1L).otherwise(0L)))
        .as[(Double, Double, Long)].head()
      graft.ext.Dedup.unpersistAll()
      println(f"[scale]   ce_diff: target avg $tgt%.4f vs rest avg $rest%.4f")
      require(inf == 0L, s"$inf non-finite ce_diff scores")
      require(tgt > rest, f"target slice must outscore the rest: $tgt%.4f <= $rest%.4f")
    }

    // the adversarial CC topology: a 1M-link PATH (diameter = edge count).
    // Min-label propagation would need a million rounds; star contraction
    // must label all nodes with the component min in ~log alternations
    time("connected components, 1M-edge path graph") {
      val chain = spark.range(1000000L)
        .select(col("id").as("doc_a"), (col("id") + 1L).as("doc_b"))
      val onCluster0 = graft.ext.Dedup.connectedComponents(
        chain, "doc_a", "doc_b", localEdgeLimit = 0L)
        .filter(col("cluster") === 0L).count()
      val rounds = graft.ext.Dedup.lastDistributedRounds.get
      graft.ext.Dedup.unpersistAll()
      println(s"[scale]   path CC: nodes labeled min=$onCluster0 (expect 1000001), " +
        s"star rounds=$rounds (expect < 25)")
      require(onCluster0 == 1000001L, s"path CC mislabeled: $onCluster0")
      require(rounds < 25, s"star contraction took $rounds rounds on the 1M path")
    }

    // distributed PageRank (the gate's graph takes the driver fast path;
    // 3M edges forces the round loop). A 3-regular circulant digraph has
    // the exact uniform stationary distribution — every round must return
    // it unchanged, so ANY drift is an operator bug, not convergence slack
    time("PageRank, 1M-node 3-regular circulant, 10 rounds") {
      val n = 1000000L
      val ids = spark.range(n)
      val edges = Seq(1L, 7L, 42L).map(k =>
        ids.select(col("id").as("src"), ((col("id") + k) % n).as("dst")))
        .reduce(_ unionAll _)
      val dev = graft.ext.Graphs.pageRank(edges, "src", "dst", iterations = 10)
        .agg(max(abs(col("rank") - lit(1.0 / n))), sum(col("rank")))
        .as[(Double, Double)].head()
      graft.ext.Dedup.unpersistAll()
      println(f"[scale]   circulant: max |rank - 1/n| = ${dev._1}%.3e, mass = ${dev._2}%.9f")
      require(dev._1 < 1e-12, s"uniform fixed point drifted: ${dev._1}")
      require(math.abs(dev._2 - 1.0) < 1e-9, s"rank mass leaked: ${dev._2}")
    }
    // hub-and-spoke: 1M leaves -> one hub -> all leaves. The grouped
    // contribution sum lands 1M in-edges on ONE dst key (the map-side
    // combine / skew shape a real host graph's mega-hub produces), and by
    // symmetry the whole system reduces to an exact 2-variable scalar
    // recurrence the distributed ranks must reproduce
    time("PageRank, 1M-leaf hub graph, 10 rounds") {
      val n = 1000001L // leaves 0..999999, hub = 1000000
      val leaves = spark.range(n - 1)
      val edges = leaves.select(col("id").as("src"), lit(n - 1).as("dst"))
        .unionAll(leaves.select(lit(n - 1).as("src"), col("id").as("dst")))
      val ranks = graft.ext.Graphs.pageRank(edges, "src", "dst", iterations = 10)
      val (hub, leafMin, leafMax, mass) = ranks.agg(
        max(when(col("node") === (n - 1), col("rank"))),
        min(when(col("node") =!= (n - 1), col("rank"))),
        max(when(col("node") =!= (n - 1), col("rank"))),
        sum(col("rank"))).as[(Double, Double, Double, Double)].head()
      graft.ext.Dedup.unpersistAll()
      var (h, r) = (1.0 / n, 1.0 / n) // the same update, collapsed by symmetry
      for (_ <- 1 to 10) {
        val (h2, r2) = (0.15 / n + 0.85 * (n - 1) * r, 0.15 / n + 0.85 * h / (n - 1))
        h = h2; r = r2
      }
      println(f"[scale]   hub: rank $hub%.6f (recurrence $h%.6f), leaf $leafMin%.3e..$leafMax%.3e, mass $mass%.9f")
      require(math.abs(hub - h) < 1e-6, s"hub rank $hub vs scalar recurrence $h")
      require(math.abs(leafMin - r) < 1e-12 && math.abs(leafMax - r) < 1e-12,
        s"leaf ranks must be uniform at $r: $leafMin..$leafMax")
      require(math.abs(mass - 1.0) < 1e-9, s"rank mass leaked: $mass")
    }

    kmeansSmoke(spark)

    // ---- similarity at 20k vectors ----
    val cp = time("cosine pairs 20k vectors") {
      val n = graft.ext.Similarity.cosinePairs(bigEmb, "vec_id", "embedding", 0.9).count()
      graft.ext.Dedup.unpersistAll(); n
    }
    time("IVF ANN top-5, 100 queries") {
      consume(graft.ext.Similarity.annTopK(bigEmb,
        bigEmb.filter(col("vec_id") < 100), "vec_id", "embedding", 5))
    }
    // SemDeDup at 20k vectors (~2k ten-member identical groups): since ANY
    // pair >= t lands in one cluster and keepBest keeps one member each,
    // the survivor set must be PAIRWISE below t — re-running the exact pair
    // search over the survivors is the falsifiable form of "deduped"
    time("semantic dedup 20k vectors (t=0.9) + survivor re-check") {
      val kept = graft.ext.Similarity.semanticDedup(
        bigEmb, "vec_id", "embedding", 0.9, Seq(col("vec_id").asc))
        .select("vec_id", "embedding").localCheckpoint()
      val n = kept.count()
      val residual = graft.ext.Similarity.cosinePairs(
        kept, "vec_id", "embedding", 0.9).count()
      graft.ext.Dedup.unpersistAll()
      println(s"[scale]   semantic dedup: 20000 -> $n survivors, residual pairs $residual")
      require(n < 2100, s"10-member identical groups must collapse: $n survivors")
      require(residual == 0L, s"survivors must be pairwise below threshold: $residual pairs")
    }

    // ---- wide-threshold routed pair search at 40k vectors (the r11 "done"
    // criterion): at threshold 0.45 the exact IVF path goes super-linear —
    // wide thresholds force most of the corpus into most coarse blocks,
    // whether 16 fixed lists or sqrt(n) — while the banded-LSH route keeps
    // candidate generation bucket-local. All three run on the SAME 40k
    // corpus with planted near-dups (cos ~1-2e-6, ids -(orig+1)) so the
    // speed claim carries an observed recall number next to it.
    time("build embeddings x20 (40k, planted near-dups)") {
      graft.ext.Similarity.plantNearDups(
          emb.crossJoin(spark.range(20).toDF("rep"))
            .withColumn("vec_id", col("vec_id") * 20 + col("rep")).drop("rep"),
          "vec_id", "embedding", every = 50)
        .repartition(16)
        .write.mode("overwrite").parquet(s"$out/embeddings40k")
    }
    val emb40 = spark.read.parquet(s"$out/embeddings40k")
    val planted = emb40.filter(col("vec_id") < 0).count()
    val wideFixed = time("cosine pairs 40k @0.45 exact, fixed 16 lists") {
      val n = graft.ext.Similarity.cosinePairs(emb40, "vec_id", "embedding", 0.45).count()
      graft.ext.Dedup.unpersistAll(); n
    }
    val wideSqrt = time("cosine pairs 40k @0.45 exact, sqrt-n (200) lists") {
      val n = graft.ext.Similarity.cosinePairs(emb40, "vec_id", "embedding", 0.45,
        nlist = 200).count()
      graft.ext.Dedup.unpersistAll(); n
    }
    val (wideRouted, recovered) = time("cosine pairs 40k @0.45 ROUTED (banded LSH)") {
      val pairs = graft.ext.Similarity
        .cosinePairsRouted(emb40, "vec_id", "embedding", 0.45).persist()
      val total = pairs.count()
      // a planted pair is (orig, -(orig+1)) in either column order
      val rec = pairs.filter(col("id_a") === -col("id_b") - 1 ||
        col("id_b") === -col("id_a") - 1).count()
      pairs.unpersist()
      graft.ext.Dedup.unpersistAll()
      (total, rec)
    }
    println(s"[scale]   wide@0.45: exact16=$wideFixed exact200=$wideSqrt " +
      s"routed=$wideRouted; routed recall on planted near-dups: $recovered/$planted")
    require(planted > 0 && recovered == planted,
      s"routed LSH missed planted near-identical pairs: $recovered of $planted — " +
        "banding no longer catches cos~1 companions")

    // ---- wide embeddings (dim 1024): the widths real models emit ----
    // deterministic widening: 8 scaled copies of each dim-128 vector
    // concatenated (direction structure preserved, duplicate groups intact)
    time("build wide embeddings (20k x dim1024)") {
      bigEmb.withColumn("embedding",
          flatten(transform(sequence(lit(0), lit(7)),
            i => transform(col("embedding"),
              x => x * (lit(1.0) + i.cast("double") * lit(0.01))))).cast("array<float>"))
        .repartition(16)
        .write.mode("overwrite").parquet(s"$out/embeddings_wide")
    }
    val wideEmb = spark.read.parquet(s"$out/embeddings_wide")
    // linearity pin for the quantizer: dim-1024 must cost ~8x dim-128, not
    // 64x — the O(d^2) per-element scale re-evaluation this guards against
    // was a measured 30-1000x tax at production widths
    time("int8 quantize 20k dim-128") {
      consume(graft.ext.Similarity.quantizeInt8(bigEmb, "vec_id", "embedding"))
    }
    time("int8 quantize 20k dim-1024") {
      consume(graft.ext.Similarity.quantizeInt8(wideEmb, "vec_id", "embedding"))
    }
    val cpw = time("cosine pairs 20k dim-1024 @0.9") {
      val n = graft.ext.Similarity.cosinePairs(wideEmb, "vec_id", "embedding", 0.9).count()
      graft.ext.Dedup.unpersistAll(); n
    }
    time("IVF ANN dim-1024 top-5, 100 queries") {
      consume(graft.ext.Similarity.annTopK(wideEmb,
        wideEmb.filter(col("vec_id") < 100), "vec_id", "embedding", 5))
    }

    // ---- persisted IVF index: N query batches pay the build ONCE ----
    // annTopK above retrains + reassigns per call; the persisted index
    // amortizes that across batches, and each search reads only the files
    // its probe lists touch (list-range-clustered layout + pushed IN filter)
    val idxStore = new graft.store.TableStore(spark, s"$out/ivf_store")
    val idx = time("IVF index BUILD dim-1024 (once)") {
      graft.ext.Similarity.buildIndex(idxStore, "wide_ivf", wideEmb,
        "vec_id", "embedding", nlist = 16)
    }
    for (b <- 0 until 3)
      time(s"IVF searchIndex dim-1024 batch $b (100 queries, no rebuild)") {
        consume(graft.ext.Similarity.searchIndex(idxStore, idx,
          wideEmb.filter(col("vec_id") >= b * 100L && col("vec_id") < (b + 1) * 100L),
          "vec_id", "embedding", 5))
      }

    // ================= partial-probe recall curves (IVF family) =========
    // Every ANN driver gate runs at the exact full-probe point (that's what
    // makes it oracle-checkable); production runs nprobe << nlist. This
    // section measures what that regime actually returns, at the 40k point,
    // for all three index variants: float, int8-SQ, and grown-under-a-
    // frozen-quantizer. The corpus is the 20x replication with per-replica
    // multiplicative jitter (amplitude 0.5, deterministic phases): identical
    // replicas would share a list assignment and make every curve trivially
    // 1.0 — jittered groups spread across lists, so partial probes can
    // actually miss, which is the regime worth measuring.
    time("build embeddings 40k jittered") {
      emb.crossJoin(spark.range(20).toDF("rep"))
        .withColumn("vec_id", col("vec_id") * 20 + col("rep"))
        .withColumn("embedding",
          transform(col("embedding"), (x, i) =>
            (x.cast("double") * (lit(1.0) + lit(0.5) *
              sin((i + 1).cast("double") * (col("rep") + 1).cast("double") * lit(2.39996))))
              .cast("float")))
        .drop("rep").repartition(16)
        .write.mode("overwrite").parquet(s"$out/embeddings40k_jit")
    }
    val embJ = spark.read.parquet(s"$out/embeddings40k_jit")
    val rs = new graft.store.TableStore(spark, s"$out/recall_store",
      graft.store.CommitMode.Pointer)
    // ~200 queries spread across replicas; ground truth = exact brute top-10
    val rq = embJ.filter(pmod(col("vec_id"), lit(199L)) === 3L)
    val truth = time("recall: exact top-10 ground truth (~200 queries)") {
      val t = graft.ext.Similarity.topK(embJ, rq, "vec_id", "embedding", 10).persist()
      t.count(); graft.ext.Dedup.unpersistAll(); t
    }
    val truthN = truth.count().toDouble
    def hitRate(res: DataFrame): Double = {
      val h = res.join(truth, Seq("query_id", "neighbor_id")).count() / truthN
      graft.ext.Dedup.unpersistAll(); h
    }
    val fIdx = time("recall: float IVF build (nlist=16)") {
      val i = graft.ext.Similarity.buildIndex(rs, "r_ivf", embJ, "vec_id", "embedding",
        nlist = 16)
      graft.ext.Dedup.unpersistAll(); i
    }
    val sIdx = time("recall: int8-SQ IVF build (nlist=16)") {
      val i = graft.ext.Similarity.buildIndexQuantized(rs, "r_sq", embJ, "vec_id",
        "embedding", nlist = 16)
      graft.ext.Dedup.unpersistAll(); i
    }
    val curve = Seq(2, 4, 8, 16).map { np =>
      val rf = hitRate(graft.ext.Similarity.searchIndex(rs, fIdx, rq,
        "vec_id", "embedding", 10, nprobe = np))
      val r8 = hitRate(graft.ext.Similarity.searchIndexQuantized(rs, sIdx, rq,
        "vec_id", "embedding", 10, nprobe = np))
      // two-stage: int8 stage-1 pool (4x) -> float re-rank of survivors —
      // the production answer to the int8 tax; must close the gap to the
      // float path at the same probe depth (pool membership is list-bound,
      // ranking error is not, and re-rank removes the ranking error)
      val rr = hitRate(graft.ext.Similarity.searchIndexRerank(rs, sIdx, embJ, rq,
        "vec_id", "embedding", 10, nprobe = np))
      println(f"[scale]   recall@10 nprobe=$np%2d/16: float=$rf%.4f int8=$r8%.4f " +
        f"int8 delta=${r8 - rf}%+.4f rerank=$rr%.4f rerank-vs-float=${rr - rf}%+.4f")
      (np, rf, r8, rr)
    }
    // contract floors: a quarter-probe must stay useful; a full probe IS the
    // exact search (same scoring + tie order as the brute-force truth)
    val atQuarter = curve.find(_._1 == 4).get
    require(atQuarter._2 >= 0.9,
      f"float IVF recall@10 collapsed at nprobe=4/16: ${atQuarter._2}%.4f < 0.9")
    val atFull = curve.find(_._1 == 16).get
    require(atFull._2 == 1.0,
      f"full-probe float search must equal exact top-10, got recall ${atFull._2}%.4f")
    // the two-stage contract at the production operating point: re-ranked
    // int8 must land within half a point of the float path (the remaining
    // gap is pool membership, not ranking)
    require(atQuarter._4 >= atQuarter._2 - 0.005,
      f"int8+rerank ${atQuarter._4}%.4f trails float ${atQuarter._2}%.4f at nprobe=4 " +
        "by more than the pool-membership allowance")

    // ---- grown index: appended vectors under the FROZEN quantizer ------
    // the rows most likely to suffer at partial probe — measured separately.
    // 90% base build; 10% appended in 10 generations (the many-small-files
    // ingest shape compactClustered exists for).
    val baseC = embJ.filter(pmod(col("vec_id"), lit(10L)) =!= 9L)
    val growC = embJ.filter(pmod(col("vec_id"), lit(10L)) === 9L)
    val gIdx = time("recall: grown-index base build (90%)") {
      val i = graft.ext.Similarity.buildIndex(rs, "r_grow", baseC, "vec_id", "embedding",
        nlist = 16)
      graft.ext.Dedup.unpersistAll(); i
    }
    time("recall: append 10% in 10 generations") {
      for (b <- 0 until 10)
        graft.ext.Similarity.appendToIndex(rs, gIdx,
          growC.filter(pmod(col("vec_id"), lit(100L)) === (9L + 10L * b)),
          "vec_id", "embedding")
    }
    // queries drawn FROM the appended batch; truth over the full grown corpus
    val gq = growC.filter(pmod(col("vec_id"), lit(19L)) === 3L)
    val gTruth = time("recall: grown-corpus ground truth (appended queries)") {
      val t = graft.ext.Similarity.topK(embJ, gq, "vec_id", "embedding", 10).persist()
      t.count(); graft.ext.Dedup.unpersistAll(); t
    }
    val gTruthN = gTruth.count().toDouble
    def gHitRate(res: DataFrame): Double = {
      val h = res.join(gTruth, Seq("query_id", "neighbor_id")).count() / gTruthN
      graft.ext.Dedup.unpersistAll(); h
    }
    val gCurve = Seq(4, 16).map { np =>
      val r = gHitRate(graft.ext.Similarity.searchIndex(rs, gIdx, gq,
        "vec_id", "embedding", 10, nprobe = np))
      println(f"[scale]   grown-index recall@10 (appended queries) nprobe=$np%2d/16: $r%.4f")
      (np, r)
    }
    require(gCurve.find(_._1 == 16).get._2 == 1.0,
      "full-probe search over the grown index lost appended vectors")

    // ---- compaction folds the 11-generation index back into the layout --
    // file count = what the CURRENT manifest resolves to (what a probe must
    // open) — NOT a directory walk: retained prior generations legitimately
    // keep their files on disk until vacuum
    def dataFileCount(table: String): Long = rs.read(table).inputFiles.length.toLong
    def timed[A](body: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val r = body
      (r, (System.nanoTime() - t0) / 1e9)
    }
    val preFiles = dataFileCount("r_grow")
    val (preRes, preSec) = timed {
      val r = graft.ext.Similarity.searchIndex(rs, gIdx, gq,
        "vec_id", "embedding", 10, nprobe = 4).persist()
      r.count(); graft.ext.Dedup.unpersistAll(); r
    }
    time("compactClustered r_grow (list layout restored)") {
      rs.compactClustered("r_grow", Seq("list"), numFiles = 16)
    }
    val postFiles = dataFileCount("r_grow")
    val (postRes, postSec) = timed {
      val r = graft.ext.Similarity.searchIndex(rs, gIdx, gq,
        "vec_id", "embedding", 10, nprobe = 4).persist()
      r.count(); graft.ext.Dedup.unpersistAll(); r
    }
    val diverge = preRes.exceptAll(postRes).count() + postRes.exceptAll(preRes).count()
    preRes.unpersist(); postRes.unpersist()
    println(f"[scale]   compaction: files $preFiles -> $postFiles, " +
      f"nprobe=4 search $preSec%.2f s -> $postSec%.2f s, result divergence rows=$diverge")
    require(diverge == 0, "compaction changed search results")
    require(postFiles < preFiles,
      s"compaction did not reduce the file count: $preFiles -> $postFiles")
    truth.unpersist(); gTruth.unpersist()

    storeStress(spark, out)
    evalSmoke(spark)
    crawlPipeline(spark)

    println(s"[scale] pair/cluster counts: lsh=$lsh simhash=$sh clusters=$cc " +
      s"cosine@0.9=$cp cosine_wide@0.9=$cpw range_pairs=$rj asof_rows=$aj")
    println("[scale] DONE")
    spark.stop()
  }

  /**
   * End-to-end crawl-pipeline capstone: the literal continuously-arriving
   * crawl, composed ONLY from shipped operators — WET shards land per
   * wave → `readWetDocs` byte-exact streaming parse → URL canonicalize +
   * blocklist suffix-join filter (the per-batch `prepare` hook) → LSH
   * dedup against the persisted, GROWING index → exactly-once batchId-
   * keyed store append — and the survivors JSONL-exported at the end.
   * Six waves drain through ONE resumable checkpoint (each drain picks up
   * only the newly-landed shards); the store's `autoCompactFiles` bound
   * is sized so the growing index is observed compacting MID-RUN, and the
   * final survivor set is `require`d equal (both directions) to the batch
   * grow loop run over the same waves in the same order.
   *
   * Wave content: every wave re-crawls the full ~5 k-doc corpus under
   * fresh per-wave URLs — 1/4 on blocked hosts (including the userinfo
   * bypass shape), the rest dups of the archive except the d%5 "novel
   * page" variants (doc text + the next doc's text), which survive wave 0
   * and then dedup against the grown index in waves 1–5.
   */
  /**
   * The late-r17 measurement/linkage family at 1M–12M rows — three scale
   * invariants the sf0.01 gates cannot exercise:
   *
   *   1. LINKAGE: 500 k base names × 500 k perturbed variants, blocked on
   *      a 4-character prefix (10⁴ blocks) so the candidate space is ~25 M
   *      pairs instead of the 250 G cross product. Every planted twin's
   *      Jaro–Winkler clears 0.9 by construction (identical / drop-6th /
   *      swap-7-8 / replace-last perturbations, all prefix-preserving), so
   *      recall of the twin set must be EXACTLY 500 k — a miss means the
   *      blocking or the kernel broke, not noise.
   *   2. AUC: 12 M rows, 1000-way tied scores (the midrank path under
   *      maximal tie pressure). The statistic must be BIT-IDENTICAL across
   *      different input partitionings — globalOrdinals' contract that a
   *      row's rank never depends on where it lands — and sit on the
   *      planted side of 0.5.
   *   3. CUSUM: 1000 keys × 365 daily points (the chart frame at
   *      year-scale history), volume doubled on keys 0..9 for the last 90
   *      days. The alarmed-key set must be exactly {0..9} and every alarm
   *      day inside the shifted window.
   */
  private def evalSmoke(spark: org.apache.spark.sql.SparkSession): Unit = {
    import spark.implicits._

    time("jaro-winkler linkage, 500k x 500k names, 4-char blocks") {
      val n = 500000L
      def names(df: org.apache.spark.sql.DataFrame) = df.select(col("id"),
        translate(lpad(pmod(col("id") * 2654435761L, lit(1000000000000L))
          .cast("string"), 12, "0"), "0123456789", "abcdefghij").as("name"))
      val base = names(spark.range(n).repartition(32).toDF("id"))
      val variants = names(spark.range(n).repartition(32).toDF("id")).select(col("id"),
        when(col("id") % 4 === 0, col("name"))
          .when(col("id") % 4 === 1, // drop the 6th char (prefix preserved)
            concat(substring(col("name"), 1, 5), substring(col("name"), 7, 12)))
          .when(col("id") % 4 === 2, // swap chars 7 and 8
            concat(substring(col("name"), 1, 6), substring(col("name"), 8, 1),
              substring(col("name"), 7, 1), substring(col("name"), 9, 12)))
          .otherwise(concat(substring(col("name"), 1, 11), lit("z"))).as("name"))
      val pairs = graft.ext.Dedup.linkNamesJaroWinkler(
        base, variants, "id", "name", "id", "name",
        threshold = 0.9, blockChars = 4)
      val (nPairs, nTwins) = pairs.agg(count(lit(1)),
        sum(when(col("id_a") === col("id_b"), 1L).otherwise(0L)))
        .as[(Long, Long)].head()
      println(s"[scale]   linkage: $nPairs pairs >= 0.9, $nTwins planted twins (expect $n)")
      require(nTwins == n, s"planted twin recall must be exact: $nTwins of $n")
    }

    time("exact AUC, 12M rows, 1000-way score ties, partitioning-invariant") {
      val n = 12000000L
      def scored(parts: Int) = spark.range(n).repartition(parts)
        .select(col("id"),
          pmod(col("id") * 2654435761L, lit(1000L)).as("s"),
          // positives concentrate at high scores: planted separation
          (pmod(col("id") * 1099511627L, lit(1000L)) <
            (lit(150L) + when(pmod(col("id") * 2654435761L, lit(1000L)) >= 500,
              500L).otherwise(0L))).as("y"))
      val a = graft.ext.Eval.aucBinary(scored(32), col("s"), col("y"), col("id"))
        .as[(Long, Long, Double)].head()
      val b = graft.ext.Eval.aucBinary(scored(7), col("s"), col("y"), col("id"))
        .as[(Long, Long, Double)].head()
      println(s"[scale]   auc: ${a._3} over ${a._1} pos / ${a._2} neg " +
        s"(repartition(7) run: ${b._3})")
      require(a == b, s"AUC must be partitioning-invariant: $a vs $b")
      require(a._1 + a._2 == n, "every row classified")
      require(a._3 > 0.6 && a._3 < 0.9, s"planted separation direction lost: ${a._3}")
    }

    time("CUSUM, 1000 keys x 365 days, 10 planted +100% shifts") {
      // one synthetic event per (key, day, unit): 30/day baseline,
      // 60/day on keys < 10 from day 275 on
      val grid = spark.range(1000L * 365).repartition(32)
        .select((col("id") % 1000).as("k"), (col("id") / 1000).as("d"))
      val events = grid.select(col("k"), col("d"),
          explode(sequence(lit(1), when(col("k") < 10 && col("d") >= 275, 60)
            .otherwise(30))).as("u"))
        .select(concat(lit("key"), col("k")).as("event_type"),
          expr("timestampadd(DAY, CAST(d AS INT), TIMESTAMP'2024-01-01 12:00:00')")
            .as("ts"))
      val res = graft.ext.TimeSeries.cusumShift(events, "event_type", "ts",
        slackPerDay = 5L, threshold = 40.0)
      val alarmedKeys = res.filter(col("shift_alarm"))
        .select("event_type").distinct().as[String].collect().toSet
      val earlyAlarms = res.filter(col("shift_alarm") &&
        col("day") < lit("2024-10-02").cast("timestamp_ntz")).count()
      println(s"[scale]   cusum: alarmed keys = ${alarmedKeys.size} " +
        s"(expect 10), pre-shift alarms = $earlyAlarms (expect 0)")
      require(alarmedKeys == (0 until 10).map(i => s"key$i").toSet,
        s"alarm set wrong: $alarmedKeys")
      require(earlyAlarms == 0, s"$earlyAlarms alarms before the planted shift")
    }
  }

  /** Distributed k-means at 1M vectors — the gate's 500-row fixture can't
    * show the distributed shape, so this forces it on a corpus with an EXACT
    * expected answer (not an inertia tolerance): 8 axis-aligned blobs at
    * pairwise distance 20 (each blob pins TWO dims — b and b+8 — at 10, so two blobs differ in four) with ≤ 0.06 jitter, seeds (the 8 lowest ids =
    * ids 0..7) landing one per blob. Nearest-centroid assignment must then
    * recover the planted blob partition perfectly — seed-round AND after two
    * Lloyd rounds (the true partition is a fixed point of the recenter), so
    * any impurity is an operator bug. Driver state stays the 8×16 matrix. */
  private def kmeansSmoke(spark: org.apache.spark.sql.SparkSession): Unit = {
    import spark.implicits._
    time("k-means, 1M vectors / 8 planted blobs, 2 Lloyd rounds") {
      val dim = 16
      val n = 1000000L
      val ids = spark.range(n).repartition(32)
      val vecs = ids.select(col("id").as("vec_id"), array((0 until dim).map { i =>
        (when(col("id") % 8 === (i % 8), lit(10.0)).otherwise(lit(0.0)) +
          (col("id") * 31 + i) % 7 * lit(0.01)).cast("double")
      }: _*).as("embedding"))
      val assigned = graft.ext.Clustering.kmeansAssign(
        vecs, "vec_id", "embedding", k = 8, iters = 2)
      val (pairs, clusters, rows) = assigned
        .withColumn("blob", col("vec_id") % 8)
        .agg(count_distinct(struct(col("blob"), col("cluster"))),
          count_distinct(col("cluster")), count(lit(1)))
        .as[(Long, Long, Long)].head()
      graft.ext.Dedup.unpersistAll()
      println(s"[scale]   k-means: $rows rows, $clusters clusters, $pairs (blob, cluster) pairs (expect 8/8)")
      require(rows == n, s"every vector must be assigned: $rows")
      require(clusters == 8L && pairs == 8L,
        s"planted blob partition not recovered: $clusters clusters, $pairs pairs")
    }
  }

  /** Pooled bitext mining at replica scale: 30k×30k sides via two IVF
    * probes (the exact grid would form 900M pairs), with the pool's NN1
    * recall measured against brute force on a deterministic query sample —
    * the probe-quality contract every IVF path here carries. */
  private def bitextSmoke(spark: org.apache.spark.sql.SparkSession): Unit = {
    import org.apache.spark.sql.functions._
    val base =
      if (new java.io.File("/tmp/graft_sf3/embeddings.parquet").exists()) "/tmp/graft_sf3"
      else "/root/testdata/sf0.1"
    println(s"[scale] bitext corpus: $base")
    val emb = io.Tables.load(spark, base, "embeddings")
    val a = emb.filter(col("vec_id") % 2 === 0)
    val b = emb.filter(col("vec_id") % 2 === 1)
    val (na, nb) = (a.count(), b.count())
    val mined = time(s"bitext pooled margin mine ${na}x$nb (nlist=64, nprobe=16)") {
      val m = ext.Similarity.bitextMarginMinePooled(a, b, "vec_id", "embedding",
        k = 4, nlist = 64, nprobe = 16)
      val n = m.count()
      ext.Dedup.unpersistAll()
      n
    }
    require(mined > 0 && mined <= math.min(na, nb),
      s"mutual-NN1 pair count $mined outside (0, ${math.min(na, nb)}]")
    println(s"[scale]   mutual pairs: $mined (${"%.1f".format(100.0 * mined / na)}% of side A)")
    // pool quality: NN1 recall vs brute force on a deterministic ~1/60
    // sample of side A (annTopK IS the pool the miner drinks from)
    val sample = a.filter(xxhash64(col("vec_id")) % 60 === 0)
    val ns = sample.count()
    val exact1 = time(s"exact NN1 for $ns sampled queries (brute force)") {
      ext.Similarity.topK(b, sample, "vec_id", "embedding", 1)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    ext.Dedup.unpersistAll()
    val pooled1 = time("pooled NN1 for the same sample (nprobe=16/64)") {
      ext.Similarity.annTopK(b, sample, "vec_id", "embedding", 1,
          nlist = 64, nprobe = 16)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    ext.Dedup.unpersistAll()
    val recall = exact1.intersect(pooled1).size.toDouble / exact1.size
    println(s"[scale]   pool NN1 recall@quarter-probe: ${"%.3f".format(recall)}")
    require(recall >= 0.9, s"pool NN1 recall $recall below the 0.9 floor")
  }

  private def crawlPipeline(spark: org.apache.spark.sql.SparkSession): Unit = {
    import spark.implicits._
    import graft.ext.{Dedup, Urls}
    // prefer the 30x (sf3) replica corpus when a prior BuildScaled left it
    // in /tmp — ~150k docs/wave, the "real shard sizes" regime — falling
    // back to sf0.1 (~5k docs/wave) so the section always runs
    val base =
      if (new java.io.File("/tmp/graft_sf3/documents.parquet").exists()) "/tmp/graft_sf3"
      else "/root/testdata/sf0.1"
    println(s"[scale] crawl corpus: $base")
    val out = "/tmp/graft_crawl"
    // fresh state per run: append sinks + checkpoints accumulate otherwise
    val outPath = new org.apache.hadoop.fs.Path(out)
    val hfs = outPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    hfs.delete(outPath, true)

    val docs0 = io.Tables.load(spark, base, "documents")
      .filter(col("text").isNotNull).select(col("doc_id"), col("text"))
    // "novel page" text = this doc + the next doc's text: ~0.5 jaccard vs
    // either component (survives the archive probe), identical across waves
    // (later waves dedup against the grown index)
    val novel = docs0.join(
      docs0.select((col("doc_id") - 1).as("doc_id"), col("text").as("__next")),
      Seq("doc_id"), "left")
      .select(col("doc_id"), col("text"),
        concat_ws(" ", col("text"), coalesce(col("__next"), lit("tail page"))).as("__novel"))
    val nDocs = docs0.count()

    def waveDf(w: Int) = novel.select(
      when(pmod(col("doc_id"), lit(8)) === 3,
        concat(lit(s"http://sub.blocked.example/w$w/"), col("doc_id")))
      .when(pmod(col("doc_id"), lit(8)) === 5, // the userinfo bypass shape
        concat(lit(s"http://x:y@Blocked.Example/w$w/"), col("doc_id")))
      .otherwise(concat(lit(s"HTTPS://W$w.Crawl.Example:443/doc/"), col("doc_id"),
        lit("?utm_source=crawl&id="), col("doc_id"))).as("uri"),
      lit("2024-01-01T00:00:00Z").as("wdate"), lit("en").as("lang"),
      when(pmod(col("doc_id"), lit(5)) === 0, col("__novel"))
        .otherwise(col("text")).as("text"))

    val blocked = Seq("blocked.example").toDF("domain")
    def prepare(b: org.apache.spark.sql.DataFrame) =
      Urls.filterBlockedDomains(b, "uri", blocked)
        .withColumn("uri", Urls.canonicalizeUrl(col("uri")))

    // archive ids share the batch id column's STRING type (one sets table)
    val archive = docs0.select(
      concat(lit("urn:archive:"), col("doc_id")).as("uri"), col("text"))
    val store = new graft.store.TableStore(spark, s"$out/store",
      graft.store.CommitMode.Pointer, autoCompactFiles = 20)
    time(s"crawl: build archive LSH index ($nDocs docs)") {
      Dedup.buildLshIndex(store, "crawl_idx", archive, "uri", "text")
      Dedup.unpersistAll()
    }
    val idx = Dedup.loadLshIndex(store, "crawl_idx")

    val waves = 6
    var streamWall = 0.0
    var bucketFiles = List.empty[Long]
    for (w <- 0 until waves) {
      time(s"crawl: land wave $w WET shards") {
        // shards/wave must stay <= maxFilesPerTrigger so each wave drains
        // as ONE micro-batch — the batch oracle below replays wave-sized
        // dedup steps, and a wave split across micro-batches would grow
        // the index MID-wave (within-wave dups would then legitimately
        // collapse in streaming but survive the whole-wave oracle step)
        graft.io.Warc.writeWet(waveDf(w), s"$out/wet_in/wave$w",
          "uri", "wdate", "lang", "text",
          maxRecordsPerShard = math.max(1000, (nDocs / 32).toInt))
      }
      val t0 = System.nanoTime()
      // one resumable checkpoint across all drains: each AvailableNow pass
      // processes only the newly-landed wave
      graft.streaming.IngestStream.dedupToStore(
        graft.streaming.IngestStream.readWetDocs(spark, s"$out/wet_in/*",
          maxFilesPerTrigger = 64),
        store, idx, "uri", "text", 0.8, "crawl_surv", grow = true,
        checkpoint = Some(s"$out/ck"), prepare = prepare(_))
        .awaitTermination()
      streamWall += (System.nanoTime() - t0) / 1e9
      bucketFiles ::= store.read("crawl_idx_buckets").inputFiles.length.toLong
    }
    val parsed = waves * nDocs
    val survivors = store.read("crawl_surv")
    val sCount = survivors.count()
    println(f"[scale]   crawl: $parsed docs through parse+filter+dedup+append in " +
      f"$streamWall%.1f s = ${parsed / streamWall}%.0f docs/s sustained; " +
      f"$sCount survivors; bucket files per wave ${bucketFiles.reverse.mkString(" -> ")}")
    // the auto-compaction trigger must have been OBSERVED mid-run: the
    // growing bucket table's manifest file count decreased at least once
    val compacted = bucketFiles.reverse.sliding(2).exists(p => p.last < p.head)
    require(compacted,
      s"autoCompactFiles=20 never triggered mid-run: files ${bucketFiles.reverse}")

    // batch oracle: the SAME waves in the same order through the batch grow
    // loop (no auto-compaction — results must be invariant to layout)
    val bStore = new graft.store.TableStore(spark, s"$out/store_oracle",
      graft.store.CommitMode.Pointer)
    time("crawl: batch-oracle grow loop (6 waves)") {
      Dedup.buildLshIndex(bStore, "crawl_idx", archive, "uri", "text")
      val bIdx = Dedup.loadLshIndex(bStore, "crawl_idx")
      for (w <- 0 until waves) {
        val batch = prepare(graft.io.Warc.readWet(spark, s"$out/wet_in/wave$w"))
        val surv = graft.ext.Caches.trackCheckpoint(
          Dedup.dedupeAgainstLshIndex(bStore, bIdx, batch, "uri", "text", 0.8))
        bStore.append("crawl_surv", surv.select("uri", "text"))
        Dedup.appendToLshIndex(bStore, bIdx, surv, "uri", "text")
        Dedup.unpersistAll()
      }
    }
    val bSurv = bStore.read("crawl_surv")
    val onlyS = survivors.select("uri").exceptAll(bSurv.select("uri")).count()
    val onlyB = bSurv.select("uri").exceptAll(survivors.select("uri")).count()
    require(onlyS == 0 && onlyB == 0,
      s"streaming survivors diverge from the batch grow loop: +$onlyS/-$onlyB")
    // wave 0 must contribute the novel pages (d%5, minus blocked overlap);
    // later waves must contribute ~nothing (everything near-dups the grown
    // index) — the numbers that make "grow worked" concrete
    require(sCount > 0 && sCount < nDocs,
      s"survivor count $sCount out of range (0, $nDocs)")

    time("crawl: JSONL export of survivors") {
      graft.io.Export.jsonlShards(survivors, s"$out/export",
        maxRecordsPerShard = 2000, compression = Some("gzip"))
    }
    val back = graft.io.Export.readJsonl(spark, s"$out/export", survivors.schema).count()
    require(back == sCount, s"JSONL export round-trip lost rows: $back != $sCount")
  }

  /** Cleaning-chain capstone at corpus scale, runnable standalone
    * (`runMain graft.ScaleSmoke clean`): the full pre-dedup hygiene path —
    * encoding-damage screen → NFC normalization → content dedup → lexicon +
    * phrase screens — over a 4-variant corpus built from the 30× replica
    * (when present): per source doc, a CLEAN copy, a DAMAGED copy
    * (mojibake + U+FFFD — the screen must drop exactly these), a
    * PRECOMPOSED copy (`á `-prefixed) and a DECOMPOSED copy
    * (`a`+U+0301-prefixed) that are the same text in different bytes. The
    * closed-form `require`s pin each stage: the screen keeps exactly 3n of
    * 4n; WITHOUT NFC content dedup leaves 3 classes per distinct text
    * (the decomposed twin escapes); WITH NFC it leaves 2 — the measured
    * proof that normalization is load-bearing for dedup, not cosmetic.
    * Screen totals are computed under two different partitionings and
    * required identical (partitioning-invariance at scale). */
  private def cleanPipeline(spark: org.apache.spark.sql.SparkSession): Unit = {
    import graft.ext.{Dedup, TextAnalysis}
    import spark.implicits._
    val base =
      if (new java.io.File("/tmp/graft_sf3/documents.parquet").exists()) "/tmp/graft_sf3"
      else "/root/testdata/sf0.1"
    println(s"[scale] clean corpus: $base")
    val docs0 = io.Tables.load(spark, base, "documents")
      .filter(col("text").isNotNull).select(col("doc_id"), col("text"))
    val n = docs0.count()
    val dA = docs0.select("text").distinct().count() // distinct source texts

    // 4 variants per source doc; ids disjoint by construction
    val clean = docs0.select((col("doc_id") * 4).as("doc_id"), col("text"))
    val damaged = docs0.select((col("doc_id") * 4 + 1).as("doc_id"),
      concat(col("text"), lit(" CafÃ© bad\uFFFDbytes")).as("text"))
    val precomposed = docs0.select((col("doc_id") * 4 + 2).as("doc_id"),
      concat(lit("\u00E1 "), col("text")).as("text"))
    val decomposed = docs0.select((col("doc_id") * 4 + 3).as("doc_id"),
      concat(lit("a\u0301 "), col("text")).as("text"))
    val corpus = graft.ext.Caches.track(
      clean.union(damaged).union(precomposed).union(decomposed))
    require(corpus.count() == 4 * n, "variant build lost rows")

    // stage 1: encoding screen drops exactly the damaged variant
    val kept = time(s"clean: encoding screen over ${4 * n} docs") {
      val rep = TextAnalysis.encodingScreen(corpus)
      val k = corpus.join(rep.filter(col("keep")).select("doc_id"), "doc_id")
      val c = k.count()
      require(c == 3 * n, s"encoding screen kept $c, expected ${3 * n}")
      k
    }

    // stage 2+3: content dedup is wrong WITHOUT NFC and right WITH it
    val dedupOn: DataFrame => Long = df =>
      Dedup.exact(df.withColumn("fp", md5(col("text"))), Seq("fp"), "doc_id").count()
    time("clean: dedup without NFC (decomposed twin escapes)") {
      val survivors = dedupOn(kept)
      require(survivors == 3 * dA,
        s"pre-NFC dedup: $survivors survivors, expected ${3 * dA}")
    }
    val normalized = graft.ext.Caches.track(kept.select(col("doc_id"),
      TextAnalysis.nfcNormalize(col("text")).as("text")))
    val survivors = time("clean: NFC + dedup (twins collapse)") {
      val s = Dedup.exact(normalized.withColumn("fp", md5(col("text"))),
        Seq("fp"), "doc_id")
      val c = s.count()
      require(c == 2 * dA, s"post-NFC dedup: $c survivors, expected ${2 * dA}")
      s
    }

    // stage 4: token/phrase screens — totals must be partitioning-invariant
    val lex = Seq("slow", "merge").toDF("word")
    val ph = Seq("table table", "fast merge").toDF("phrase")
    def screenTotals(df: DataFrame): (Long, Long) = {
      val l = TextAnalysis.lexiconScreen(df, lex)
        .agg(sum("n_blocked")).as[Long].head()
      val p = TextAnalysis.phraseScreen(df, ph)
        .agg(sum("n_phrase_hits")).as[Long].head()
      (l, p)
    }
    time("clean: lexicon + phrase screens, two partitionings") {
      val a = screenTotals(survivors)
      val b = screenTotals(survivors.repartition(7, col("doc_id")))
      require(a == b, s"screen totals moved with partitioning: $a vs $b")
      require(a._2 > 0, "phrase screen found nothing — fixture no longer exercises it")
      println(s"[scale] clean: lexicon hits ${a._1}, phrase hits ${a._2} " +
        s"over ${2 * dA} survivors")
    }
    Dedup.unpersistAll()
  }

  /** Store concurrency stress, runnable standalone
    * (`runMain graft.ScaleSmoke stress` skips the data builds): racing
    * appenders are spec'd (4-writer O_EXCL test); this is the three-party
    * interleaving at job scale — an appender committing generations, a
    * reader pinned to the newest retained generation, and a vacuum loop
    * reclaiming beyond keepGenerations. No lost commit, no torn read. */
  private def storeStress(spark: org.apache.spark.sql.SparkSession, out: String): Unit = {
    time("store stress: appender + reader + vacuum loop") {
      val root = s"$out/stress_store_${System.nanoTime()}" // fresh per run
      val cs = new graft.store.TableStore(spark, root,
        graft.store.CommitMode.Pointer, keepGenerations = 3)
      cs.atomicOverwrite("t", spark.range(1000L).toDF("id"))
      val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val stopFlag = new java.util.concurrent.atomic.AtomicBoolean(false)
      val reads = new java.util.concurrent.atomic.AtomicInteger(0)
      val vacuums = new java.util.concurrent.atomic.AtomicInteger(0)
      val appender = new Thread(() => {
        try for (i <- 0 until 12)
          cs.append("t", spark.range(10000L + i * 100, 10000L + i * 100 + 100).toDF("id"))
        catch { case t: Throwable => errs.add(t) } finally stopFlag.set(true)
      }, "stress-appender")
      val readerT = new Thread(() => {
        try while (!stopFlag.get) {
          val gens = cs.generations("t")
          if (gens.nonEmpty) {
            // the newest generation is always retained: must read cleanly
            // mid-race with a complete multiple-of-100 row count
            val n = cs.readGeneration("t", gens.head).count()
            require(n >= 1000 && n % 100 == 0, s"torn read: $n rows")
            // the OLDEST listed generation may race with vacuum: either a
            // clean full read or the friendly no-marker refusal — never a
            // partial result
            try {
              val o = cs.readGeneration("t", gens.last).count()
              require(o >= 1000 && o % 100 == 0, s"torn old-gen read: $o rows")
            } catch {
              case e: IllegalArgumentException
                if e.getMessage.contains("no committed marker") => ()
            }
            reads.incrementAndGet()
          }
        } catch { case t: Throwable => errs.add(t) }
      }, "stress-reader")
      val vacuumer = new Thread(() => {
        try while (!stopFlag.get) {
          // contention with the appender's commit lock is the DESIGNED
          // fail-fast refusal (vacuum never waits) — retry next tick
          try { cs.vacuum("t", keep = 3); vacuums.incrementAndGet() }
          catch { case _: graft.store.ConcurrentWriteException => () }
          Thread.sleep(25)
        } catch { case t: Throwable => errs.add(t) }
      }, "stress-vacuum")
      Seq(appender, readerT, vacuumer).foreach(_.start())
      Seq(appender, readerT, vacuumer).foreach(_.join(120000))
      require(errs.isEmpty, s"store stress raced into errors: " +
        errs.toArray.take(3).mkString(" | "))
      val finalRows = cs.read("t").count()
      require(finalRows == 1000L + 12 * 100,
        s"lost commit under stress: $finalRows rows, expected ${1000 + 1200}")
      println(s"[scale]   stress: ${reads.get} clean concurrent reads, " +
        s"${vacuums.get} vacuum passes, 12 appends all committed")
    }
    // lock TTL self-heal: a crashed writer's lock must break after the TTL
    time("store stress: stale lock self-heals after TTL") {
      // appendLockWaitMs = 0: the refusal must be observable — the default
      // 30 s wait would outlive the 5 s TTL and mask it. The TTL must stay
      // LONGER than one Spark write: the in-flight-generation orphan grace
      // equals the TTL, so a TTL shorter than a write lets the lock-break
      // recovery sweep the breaking append's OWN uncommitted dir (the
      // documented sizing rule — "size the TTL above the longest expected
      // rewrite" — observed directly at 1.5 s).
      val root = s"$out/stress_ttl_${System.nanoTime()}"
      val ts = new graft.store.TableStore(spark, root,
        graft.store.CommitMode.Pointer, lockTtlMs = 5000L, appendLockWaitMs = 0L)
      ts.atomicOverwrite("t", spark.range(100L).toDF("id"))
      // fake a crashed writer: an orphaned lock file nobody will release
      java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$root/t.lock"),
        "crashed-writer")
      intercept(ts.append("t", spark.range(100L, 200L).toDF("id")))
      Thread.sleep(5200L)
      ts.append("t", spark.range(100L, 200L).toDF("id")) // TTL passed: self-heals
      require(ts.read("t").count() == 200L, "self-healed append lost rows")
    }
  }

  /** Expect `body` to throw (concurrency refusals in the stress section);
    * rethrow nothing, fail if it DIDN'T throw. */
  private def intercept(body: => Any): Unit = {
    val threw = try { body; false } catch { case _: Throwable => true }
    require(threw, "expected the operation to be refused, but it succeeded")
  }
}

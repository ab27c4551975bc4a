package graft.app

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.core.ChurnFixture
import graft.streaming.Streaming

/** Runnable Structured Streaming demo: churn CSVs land in waves in a raw
  * dir; the ingest stream picks each wave up, runs the batch transform
  * via foreachBatch, and appends to Silver exactly-once. Also runs the
  * watermarked event-window aggregation over a rate-limited synthetic
  * event stream. The ingest and MinHash waves print their micro-batch's
  * progress (input rows, time in the batch body).
  *
  *   tools/run.sh graft.app.StreamDemo [rowsPerWave] [waves]
  */
object StreamDemo {
  /** A wave's micro-batch as its query reported it: input rows and the
    * time in the batch body (`addBatch`). */
  private def progress(q: StreamingQuery): String =
    Option(q.lastProgress).fold("no micro-batch") { p =>
      s"micro-batch ${p.batchId}: ${p.numInputRows} input rows, " +
        s"addBatch ${p.durationMs.get("addBatch")} ms"
    }

  /** Waits for a wave's query. A timeout fails the demo as a timeout,
    * not as a wrong count or a broken gate further on. */
  private def awaitWave(q: StreamingQuery, what: String, ms: Long = 120000): Unit =
    if (!q.awaitTermination(ms)) {
      println(s"$what timed out"); q.sparkSession.stop(); sys.exit(2)
    }

  def main(args: Array[String]): Unit = {
    val perWave = args.headOption.map(_.toInt).getOrElse(2000)
    val waves = args.lift(1).map(_.toInt).getOrElse(3)
    val work = java.nio.file.Files.createTempDirectory("graft_stream_demo").toString
    val spark = graft.core.GraftSession.local()

    val raw = s"$work/raw"; val silver = s"$work/silver"; val ckpt = s"$work/ckpt"

    // waves land sequentially; AvailableNow drains whatever has arrived,
    // restart resumes from the checkpoint without reprocessing
    (1 to waves).foreach { w =>
      ChurnFixture.df(spark, perWave, seed = 42L + w)
        .write.mode("append").option("header", "true").csv(raw)
      val q = Streaming.ingestStream(spark, raw, silver, ckpt,
        transform = df => df.withColumn("_wave_seen", lit(w)))
      awaitWave(q, s"ingest wave $w")
      val total = spark.read.parquet(silver).count()
      println(s"wave $w: landed ${perWave} rows -> silver total $total (${progress(q)})")
    }
    val finalCount = spark.read.parquet(silver).count()
    val batches = spark.read.parquet(silver).select("_batch_id").distinct().count()
    println(s"exactly-once check: silver=${finalCount} (expected ${perWave * waves}), " +
      s"micro-batches=$batches")

    // watermarked window agg over a synthetic memory stream of events
    import spark.implicits._
    val events = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[Streaming.Event](spark, 1)
    val t0 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    events.addData((0 until 5000).map(i =>
      Streaming.Event(i % 50, new java.sql.Timestamp(t0.getTime + i * 500L),
        Seq("click", "view", "purchase")(i % 3), 1.0)))
    val agg = Streaming.windowedEventCounts(events.toDF(), "5 minutes", "1 minute")
    val q = agg.writeStream.format("memory").queryName("wins")
      .outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    awaitWave(q, "windowed event query")
    println("windowed event counts (first 6 windows):")
    spark.sql("SELECT * FROM wins ORDER BY window_start, event_type LIMIT 6")
      .collect().foreach(r => println("  " + r))
    val sum = spark.sql("SELECT sum(n_events) FROM wins").collect()(0).getLong(0)
    println(s"total events windowed: $sum (expected 5000)")

    // ---- streaming incremental near-dup dedup: the per-ingest production
    // loop — every wave probes the persisted MinHash index for collisions
    // against the corpus so far, then appends its own signatures. Gate:
    // streamed pairs must EQUAL running the batch probe wave-by-wave, and
    // the index must grow by exactly each wave's rows.
    import graft.ops.TextDedup
    val docs = graft.core.Tables.documents(spark,
      args.lift(2).getOrElse("/root/testdata/sf0.001"))
    val docWaves = (0 until 3).map(k => docs.filter(col("doc_id") % 3 === k))
    val dwork = s"$work/dedup"
    var indexRows = 0L
    var indexMonotone = true
    docWaves.foreach { w =>
      w.write.mode("append").parquet(s"$dwork/raw")
      val q = Streaming.incrementalDedupStream(
        spark.readStream.schema(docs.schema).parquet(s"$dwork/raw"),
        s"$dwork/idx", s"$dwork/pairs", s"$dwork/ckpt")
      awaitWave(q, "dedup stream wave")
      indexRows += w.count()
      indexMonotone &&= TextDedup.readMinhashIndex(spark, s"$dwork/idx").count() == indexRows
      println(s"dedup stream wave: index $indexRows rows (${progress(q)})")
    }
    val streamedPairs = spark.read.parquet(s"$dwork/pairs")
      .select("id_new", "id_old").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val directPairs = (1 until 3).flatMap { k =>
      TextDedup.incrementalNearDups(docWaves(k),
        TextDedup.minhashSignatures(docWaves.take(k).reduce(_ unionByName _),
          "text", "doc_id"), "text", "doc_id")
        .collect().map(r => (r.getLong(0), r.getLong(1)))
    }.toSet
    val dedupOk = indexMonotone && streamedPairs == directPairs && directPairs.nonEmpty
    println(s"incremental dedup stream: ${streamedPairs.size} pairs over 3 waves " +
      s"(batch-equivalent=${streamedPairs == directPairs}, index monotone=$indexMonotone)")

    // ---- the vector twin: per-ingest embedding dedup over the persisted
    // sign-bucket index, same read→probe→append loop and the same gate
    import graft.ops.VectorSim
    val emb = graft.core.Tables.embeddings(spark,
      args.lift(2).getOrElse("/root/testdata/sf0.001"))
      .select("vec_id", "embedding")
    val vecWaves = (0 until 3).map(k => emb.filter(col("vec_id") % 3 === k))
    val vwork = s"$work/vdedup"
    var vIndexRows = 0L
    var vIndexMonotone = true
    vecWaves.foreach { w =>
      w.write.mode("append").parquet(s"$vwork/raw")
      val q = Streaming.incrementalVectorDedupStream(
        spark.readStream.schema(emb.schema).parquet(s"$vwork/raw"),
        s"$vwork/idx", s"$vwork/pairs", s"$vwork/ckpt", threshold = 0.25)
      awaitWave(q, "vector dedup stream wave")
      vIndexRows += w.count()
      vIndexMonotone &&= VectorSim.readSignIndex(spark, s"$vwork/idx").count() == vIndexRows
    }
    val vStreamed = spark.read.parquet(s"$vwork/pairs")
      .select("id_new", "id_old").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val vDirect = (1 until 3).flatMap { k =>
      VectorSim.incrementalCosineNearDups(vecWaves(k),
        VectorSim.signIndex(vecWaves.take(k).reduce(_ unionByName _),
          "vec_id", "embedding"),
        "vec_id", "embedding", threshold = 0.25, probeBits = 1)
        .collect().map(r => (r.getLong(0), r.getLong(1)))
    }.toSet
    val vDedupOk = vIndexMonotone && vStreamed == vDirect && vDirect.nonEmpty
    println(s"incremental vector dedup stream: ${vStreamed.size} pairs over 3 waves " +
      s"(batch-equivalent=${vStreamed == vDirect}, index monotone=$vIndexMonotone)")

    // ---- streaming search-index maintenance: every wave lands as its own
    // index segment; BM25 served from the index between waves must equal
    // the scan path over everything ingested so far, and a segment merge
    // at the end must serve identically from one base segment.
    import graft.ops.TextRank
    val terms = Seq("the", "spark", "join", "window")
    val swork = s"$work/search"
    var searchOk = true
    docWaves.zipWithIndex.foreach { case (w, k) =>
      w.write.mode("append").parquet(s"$swork/raw")
      val q = Streaming.searchIndexMaintenanceStream(
        spark.readStream.schema(docs.schema).parquet(s"$swork/raw"),
        s"$swork/idx", s"$swork/ckpt", compactEvery = 2)
      awaitWave(q, "search index stream wave")
      val ingested = docWaves.take(k + 1).reduce(_ unionByName _)
      val scan = TextRank.bm25(ingested, "text", "doc_id", terms)
        .collect().map(r => (r.getLong(0), r.getDouble(1), r.getInt(2))).toSet
      val served = TextRank.bm25Indexed(spark, s"$swork/idx", "doc_id", terms)
        .collect().map(r => (r.getLong(0), r.getDouble(1), r.getInt(2))).toSet
      searchOk &&= served == scan
    }
    TextRank.mergeSearchIndexSegments(spark, s"$swork/idx")
    val scanAll = TextRank.bm25(docs, "text", "doc_id", terms)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getInt(2))).toSet
    val mergedServed = TextRank.bm25Indexed(spark, s"$swork/idx", "doc_id", terms)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getInt(2))).toSet
    val mergeOk = mergedServed == scanAll
    println(s"search index stream: 3 segment appends + merge " +
      s"(served==scan each wave=$searchOk, post-merge==scan=$mergeOk)")

    // ---- streaming decontamination filter: waves probe the persisted
    // eval-gram index; clean+flagged must partition the input and the
    // clean set must equal the batch-path probe over everything streamed.
    import graft.ops.CorpusOps
    val cwork = s"$work/decontam"
    val evalSet = docs.filter(col("doc_id") % 10 === 0)
    val ingest = docs.filter(col("doc_id") % 10 =!= 0)
    CorpusOps.writeEvalGramIndex(evalSet, "text", n = 4, s"$cwork/idx")
    val dWaves = (0 until 3).map(k => ingest.filter(col("doc_id") % 3 === k))
    dWaves.foreach { w =>
      w.write.mode("append").parquet(s"$cwork/raw")
      val q = Streaming.decontamFilterStream(
        spark.readStream.schema(docs.schema).parquet(s"$cwork/raw"),
        s"$cwork/idx", s"$cwork/clean", s"$cwork/flagged", s"$cwork/ckpt")
      awaitWave(q, "decontam stream wave")
    }
    val cleanIds = spark.read.parquet(s"$cwork/clean")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val flaggedIds = spark.read.parquet(s"$cwork/flagged")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val allIngest = ingest.select("doc_id").collect().map(_.getLong(0)).toSet
    val directClean = CorpusOps
      .incrementalDecontaminate(ingest, "doc_id", "text", s"$cwork/idx")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val deconPartitionOk =
      (cleanIds & flaggedIds).isEmpty && (cleanIds ++ flaggedIds) == allIngest
    val deconBatchOk = cleanIds == directClean
    println(s"decontam stream: ${flaggedIds.size} flagged / ${cleanIds.size} clean " +
      s"over 3 waves (partition=$deconPartitionOk, batch-equivalent=$deconBatchOk)")

    // ---- streaming materialized view: each wave publishes a COMPLETE
    // table snapshot, the view is maintained from the CDC feed alone;
    // gate: maintained == direct recompute of the latest snapshot, and
    // the table/view versions advance in lockstep.
    import graft.warehouse.{IncrementalAgg, VersionedTable}
    val mwork = s"$work/mview"
    val stateWaves = (0 until 3).map(k =>
      docs.filter(col("doc_id") % 3 <= k)
        .select(col("doc_id"), col("source"),
          // mutate the measure per wave so updates (not just inserts)
          // flow through the CDC feed
          (col("n_chars") + lit(k)).as("n_chars")))
    stateWaves.zipWithIndex.foreach { case (w, k) =>
      // each wave dir holds the COMPLETE new state; a fresh checkpoint
      // per wave makes its one micro-batch read exactly that state
      w.write.mode("overwrite").parquet(s"$mwork/raw_w$k")
      val q = Streaming.materializedViewStream(
        spark.readStream.schema(w.schema).parquet(s"$mwork/raw_w$k"),
        s"$mwork/tbl", s"$mwork/view", s"$mwork/ckpt_$k",
        Seq("doc_id"), "source", "n_chars")
      awaitWave(q, "materialized view wave")
    }
    val maintained = IncrementalAgg.present(
        VersionedTable.read(spark, s"$mwork/view"), "source")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    val direct = IncrementalAgg.present(IncrementalAgg.countSumView(
        VersionedTable.read(spark, s"$mwork/tbl"), "source", "n_chars"), "source")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    val tblVer = VersionedTable.currentVersion(spark, s"$mwork/tbl")
    val viewVer = VersionedTable.currentVersion(spark, s"$mwork/view")
    val mviewOk = maintained == direct && maintained.nonEmpty &&
      tblVer == viewVer && tblVer.contains(2L)
    println(s"materialized view stream: ${maintained.size} groups over 3 snapshots " +
      s"(maintained==direct=${maintained == direct}, versions lockstep=$tblVer/$viewVer)")

    // ---- streaming sketch stats: per-wave HLL segments with mid-stream
    // compaction; gate: the served estimate tracks the exact count.
    import graft.ops.SketchStats
    val kwork = s"$work/sketch"
    docWaves.foreach { w =>
      w.write.mode("append").parquet(s"$kwork/raw")
      val q = Streaming.sketchStatsStream(
        spark.readStream.schema(docs.schema).parquet(s"$kwork/raw"),
        s"$kwork/sk", s"$kwork/ckpt", "doc_id", compactEvery = 2)
      awaitWave(q, "sketch stream wave")
    }
    val estDistinct = SketchStats.hllDistinct(spark, s"$kwork/sk").head.getLong(0)
    val exactDistinct = docs.select("doc_id").distinct().count()
    val sketchOk =
      math.abs(estDistinct - exactDistinct).toDouble / exactDistinct < 0.05
    println(s"sketch stats stream: estimate=$estDistinct exact=$exactDistinct " +
      s"over 3 waves with compaction (within 5%=$sketchOk)")

    // ---- streaming exact-histogram maintenance over the events table:
    // gate is EXACT equality of served bins vs a direct single-pass
    // binning of everything fed so far
    val evTbl = graft.core.Tables.events(spark,
      args.lift(2).getOrElse("/root/testdata/sf0.001"))
    val hwork = s"$work/hist"
    val eventWaves = (0 until waves).map(k =>
      evTbl.filter(pmod(col("event_id"), lit(waves)) === k))
    eventWaves.foreach { w =>
      w.write.mode("append").parquet(s"$hwork/raw")
      val q = Streaming.histStream(
        spark.readStream.schema(evTbl.schema).parquet(s"$hwork/raw"),
        s"$hwork/h", s"$hwork/ckpt", "value", width = 25.0)
      awaitWave(q, "hist stream wave")
    }
    val servedHist = SketchStats.histogram(spark, s"$hwork/h")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val directHist = evTbl
      .groupBy(SketchStats.histBin(col("value"), 25.0).as("bin"))
      .agg(count(lit(1)).as("cnt"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val histOk = servedHist == directHist
    println(s"hist stream: ${servedHist.size} bins served, exact=$histOk")

    // ---- watermarked session_window + stream-stream interval join over
    // the event stream: closed results must match the batch twins
    val sessWork = s"$work/sess"
    evTbl.write.mode("overwrite").parquet(s"$sessWork/raw")
    // sentinel wave far past max ts pushes the watermark so everything closes
    val maxTs = evTbl.agg(max("ts")).head.getTimestamp(0)
    val sentinel = spark.createDataFrame(
      java.util.List.of(org.apache.spark.sql.Row(-1L,
        new java.sql.Timestamp(maxTs.getTime + 86400000L), -1L, "click", 0.0, "")),
      evTbl.schema)
    def runSess(): Unit = {
      val in = spark.readStream.schema(evTbl.schema).parquet(s"$sessWork/raw")
        .select(col("user_id"), col("ts"), col("value"))
      val q = graft.ops.Sessionize.sessionWindowStats(
          in.withWatermark("ts", "10 minutes"), "user_id", "ts", "value", 1800L)
        .writeStream.format("parquet").option("path", s"$sessWork/out")
        .outputMode("append").option("checkpointLocation", s"$sessWork/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      awaitWave(q, "session stream wave", 180000)
    }
    runSess()
    sentinel.write.mode("append").parquet(s"$sessWork/raw"); runSess(); runSess()
    val gotSess = spark.read.parquet(s"$sessWork/out").filter(col("user_id") >= 0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4))).toSet
    val batchSess = graft.ops.Sessionize.sessionWindowStats(
        evTbl.select("user_id", "ts", "value"), "user_id", "ts", "value", 1800L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4))).toSet
    val sessOk = gotSess == batchSess && gotSess.nonEmpty
    println(s"session_window stream: ${gotSess.size} closed sessions, batch parity=$sessOk")

    if (finalCount != perWave * waves || sum != 5000 || !dedupOk || !vDedupOk ||
        !searchOk || !mergeOk || !deconPartitionOk || !deconBatchOk ||
        !mviewOk || !sketchOk || !histOk || !sessOk) {
      spark.stop(); sys.exit(2)
    }
    spark.stop()
  }
}

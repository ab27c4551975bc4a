package graft

import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.ops.TextDedup
import graft.streaming.Streaming

/** The streaming incremental-dedup loop against its batch ground truth:
  * stream the corpus in waves and the emitted pairs must equal running
  * the persisted-index probe batch-by-batch, with the index growing
  * monotonically and micro-batch retries leaving no duplicates.
  */
class StreamingDedupSpec extends SparkSpec {

  test("streamed waves emit exactly the batch-by-batch probe pairs; index grows; retries idempotent") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val waves = (0 until 3).map(k => docs.filter(col("doc_id") % 3 === k))
    val work = java.nio.file.Files.createTempDirectory("graft_sdedup").toString
    val raw = s"$work/raw"; val idx = s"$work/idx"
    val pairsDir = s"$work/pairs"; val ckpt = s"$work/ckpt"

    // one checkpoint across all runs: each restart resumes file-source
    // offsets, so run k sees ONLY wave k — the state-resume contract
    def run(): Unit = {
      val stream = spark.readStream.schema(docs.schema).parquet(raw)
      val q = Streaming.incrementalDedupStream(stream, idx, pairsDir, ckpt)
      assert(q.awaitTermination(180000), "streaming batch did not finish in time")
    }
    var expectIndexRows = 0L
    waves.zipWithIndex.foreach { case (w, k) =>
      w.write.mode("append").parquet(raw)
      run()
      expectIndexRows += w.count()
      val idxRows = TextDedup.readMinhashIndex(spark, idx)
      assert(idxRows.count() == expectIndexRows,
        s"after wave $k the index must hold every ingested signature")
      assert(idxRows.select("id").distinct().count() == expectIndexRows,
        "index ids stay unique across appends")
    }

    // ground truth: the same probe run batch-by-batch directly
    def pairSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("id_new", "id_old").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val direct = (1 until 3).flatMap { k =>
      val prior = waves.take(k).reduce(_ unionByName _)
      pairSet(TextDedup.incrementalNearDups(waves(k),
        TextDedup.minhashSignatures(prior, "text", "doc_id"), "text", "doc_id"))
        .map { case (n, o) => (k.toLong, n, o) }
    }.toSet
    val streamed = spark.read.parquet(pairsDir)
      .select(substring_index(col("batch"), "-", -1).cast("long"),
        col("id_new"), col("id_old")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(direct.nonEmpty, "waves must collide for the test to mean anything")
    assert(streamed == direct,
      s"stream pairs must equal batch-by-batch probes; " +
        s"extra=${(streamed -- direct).take(3)} missing=${(direct -- streamed).take(3)}")

    // a retried micro-batch (same batch id) must replace, not duplicate:
    // re-append wave 2's signatures under its original batch id
    TextDedup.appendMinhashIndexBatchKeyed(waves(2), "text", "doc_id", idx,
      s"${graft.streaming.Streaming.runKey(ckpt)}-2")
    val after = TextDedup.readMinhashIndex(spark, idx)
    assert(after.count() == expectIndexRows, "retried append must not grow the index")
    // and the index stays probe-able (no duplicate-id rejection)
    TextDedup.incrementalNearDups(
      docs.filter(col("doc_id") === 1L), after, "text", "doc_id").count()
  }

  test("retry after a crash between index append and commit emits no intra-batch pairs") {
    // the crash window: attempt 1 of batch k appended its signatures to
    // the index, then died before the streaming commit. The retry re-runs
    // batch k with its OWN signatures already in the index; the probe
    // must exclude batch=k or it emits spurious intra-batch pairs.
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val waves = (0 until 2).map(k => docs.filter(col("doc_id") % 2 === k))
    val work = java.nio.file.Files.createTempDirectory("graft_sretry").toString
    val raw = s"$work/raw"; val idx = s"$work/idx"
    val pairsDir = s"$work/pairs"; val ckpt = s"$work/ckpt"
    def run(): Unit = {
      val stream = spark.readStream.schema(docs.schema).parquet(raw)
      val q = Streaming.incrementalDedupStream(stream, idx, pairsDir, ckpt)
      assert(q.awaitTermination(180000), "streaming batch did not finish in time")
    }
    waves(0).write.mode("append").parquet(raw)
    run() // batch 0 seeds the index
    // simulate attempt 1 of batch 1 crashing AFTER its append
    TextDedup.appendMinhashIndexBatchKeyed(waves(1), "text", "doc_id", idx,
      s"${graft.streaming.Streaming.runKey(ckpt)}-1")
    waves(1).write.mode("append").parquet(raw)
    run() // the "retry" — must probe only batch 0's signatures
    def pairSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("id_new", "id_old").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val streamed = pairSet(spark.read.parquet(
      s"$pairsDir/batch=${graft.streaming.Streaming.runKey(ckpt)}-1"))
    val direct = pairSet(TextDedup.incrementalNearDups(waves(1),
      TextDedup.minhashSignatures(waves(0), "text", "doc_id"), "text", "doc_id"))
    assert(direct.nonEmpty, "waves must collide for the test to mean anything")
    assert(streamed == direct,
      s"retry must ignore its own pre-appended signatures; " +
        s"extra=${(streamed -- direct).take(3)}")
    // vector twin, same crash window
    import graft.ops.VectorSim
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select("vec_id", "embedding")
    val vwaves = (0 until 2).map(k => emb.filter(col("vec_id") % 2 === k))
    val vwork = java.nio.file.Files.createTempDirectory("graft_svretry").toString
    def vrun(): Unit = {
      val stream = spark.readStream.schema(emb.schema).parquet(s"$vwork/raw")
      val q = Streaming.incrementalVectorDedupStream(stream, s"$vwork/idx",
        s"$vwork/pairs", s"$vwork/ckpt", threshold = 0.25)
      assert(q.awaitTermination(180000), "streaming batch did not finish in time")
    }
    vwaves(0).write.mode("append").parquet(s"$vwork/raw")
    vrun()
    VectorSim.appendSignIndexBatchKeyed(vwaves(1), "vec_id", "embedding",
      s"$vwork/idx", s"${graft.streaming.Streaming.runKey(s"$vwork/ckpt")}-1")
    vwaves(1).write.mode("append").parquet(s"$vwork/raw")
    vrun()
    val vStreamed = pairSet(spark.read.parquet(
      s"$vwork/pairs/batch=${graft.streaming.Streaming.runKey(s"$vwork/ckpt")}-1"))
    val vDirect = pairSet(VectorSim.incrementalCosineNearDups(vwaves(1),
      VectorSim.signIndex(vwaves(0), "vec_id", "embedding"),
      "vec_id", "embedding", threshold = 0.25, probeBits = 1))
    assert(vDirect.nonEmpty)
    assert(vStreamed == vDirect,
      s"vector retry must ignore its own pre-appended signatures; " +
        s"extra=${(vStreamed -- vDirect).take(3)}")
  }

  test("search-index stream: bm25Indexed equals scan bm25 after each wave; retries idempotent") {
    import graft.ops.TextRank
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val terms = Seq("the", "data", "spark", "model")
    val waves = (0 until 3).map(k => docs.filter(col("doc_id") % 3 === k))
    val work = java.nio.file.Files.createTempDirectory("graft_ssearch").toString
    val raw = s"$work/raw"; val idx = s"$work/idx"; val ckpt = s"$work/ckpt"
    def run(): Unit = {
      val stream = spark.readStream.schema(docs.schema).parquet(raw)
      val q = Streaming.searchIndexMaintenanceStream(stream, idx, ckpt,
        blockSize = 64)
      assert(q.awaitTermination(180000), "streaming batch did not finish in time")
    }
    def bm25Key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getDouble(1), r.getInt(2))
    // after each wave, serving from the index must equal the scan path
    // over the union of everything ingested so far — the per-segment
    // df/stats really do sum back to the whole-corpus statistics
    waves.zipWithIndex.foreach { case (w, k) =>
      w.write.mode("append").parquet(raw)
      run()
      val ingested = waves.take(k + 1).reduce(_ unionByName _)
      val scan = TextRank.bm25(ingested, "text", "doc_id", terms, topK = 10)
        .collect().map(bm25Key).toSet
      val served = TextRank.bm25Indexed(spark, idx, "doc_id", terms, topK = 10)
        .collect().map(bm25Key).toSet
      assert(served == scan,
        s"after wave $k served != scan:\nextra=${(served -- scan).take(3)}\n" +
          s"missing=${(scan -- served).take(3)}")
    }
    // a retried micro-batch (same segment key) replaces itself
    TextRank.appendSearchIndexBatch(waves(2), "text", "doc_id", idx,
      s"${Streaming.runKey(ckpt)}-2", blockSize = 64)
    val retried = TextRank.bm25Indexed(spark, idx, "doc_id", terms, topK = 10)
      .collect().map(bm25Key).toSet
    val scanAll = TextRank.bm25(docs, "text", "doc_id", terms, topK = 10)
      .collect().map(bm25Key).toSet
    assert(retried == scanAll, "retried append changed the served results")
    // a re-delivered doc (same id, NEW batch) fails loudly at ingest
    waves(0).limit(1).write.mode("append").parquet(raw)
    val stream = spark.readStream.schema(docs.schema).parquet(raw)
    val q = Streaming.searchIndexMaintenanceStream(stream, idx, ckpt,
      blockSize = 64)
    val ex = intercept[Exception] { q.awaitTermination(180000) }
    def chain(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: chain(t.getCause)
    assert(chain(ex).exists(t => Option(t.getMessage)
      .exists(_.contains("already indexed"))), ex.toString)
    // and segment merge folds the accumulated stream segments into one
    // base segment that still serves the identical results
    TextRank.mergeSearchIndexSegments(spark, idx, blockSize = 64)
    val merged = TextRank.bm25Indexed(spark, idx, "doc_id", terms, topK = 10)
      .collect().map(bm25Key).toSet
    assert(merged == scanAll, "post-merge serving diverged")
  }

  test("auto-compaction: bounded partitions, identical pairs, crash-retry safe") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val waves = (0 until 4).map(k => docs.filter(col("doc_id") % 4 === k))
    val work = java.nio.file.Files.createTempDirectory("graft_sautoc").toString
    val raw = s"$work/raw"; val idx = s"$work/idx"
    val pairsDir = s"$work/pairs"; val ckpt = s"$work/ckpt"
    val key = Streaming.runKey(ckpt)
    def run(): Unit = {
      val stream = spark.readStream.schema(docs.schema).parquet(raw)
      val q = Streaming.incrementalDedupStream(stream, idx, pairsDir, ckpt,
        compactEvery = 2)
      assert(q.awaitTermination(180000), "streaming batch did not finish in time")
    }
    // simulate a crashed attempt of batch 2: its signatures land under
    // its own key BEFORE the batch runs — the batch-start compaction
    // (batchId 2 % 2 == 0) must fold batches 0 and 1 into base while
    // EXCLUDING this uncommitted partition, so the retry still probes
    // only the prior corpus
    waves(0).write.mode("append").parquet(raw); run()
    waves(1).write.mode("append").parquet(raw); run()
    TextDedup.appendMinhashIndexBatchKeyed(waves(2), "text", "doc_id", idx,
      s"$key-2")
    waves(2).write.mode("append").parquet(raw); run()
    waves(3).write.mode("append").parquet(raw); run()
    // partition count is bounded: base (batches 0,1 folded at batch 2's
    // start) + batch 2 + batch 3 — not one dir per batch forever
    val parts = new java.io.File(idx).listFiles()
      .map(_.getName).filter(_.startsWith("batch=")).toSet
    assert(parts == Set("batch=base", s"batch=$key-2", s"batch=$key-3"),
      s"unexpected partitions after auto-compaction: $parts")
    assert(TextDedup.readMinhashIndex(spark, idx).count() == docs.count())
    // pairs are exactly the batch-by-batch probe pairs, compaction or not
    def pairSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("id_new", "id_old").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val streamed = spark.read.parquet(pairsDir)
      .select(substring_index(col("batch"), "-", -1).cast("long"),
        col("id_new"), col("id_old")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val direct = (1 until 4).flatMap { k =>
      val prior = waves.take(k).reduce(_ unionByName _)
      pairSet(TextDedup.incrementalNearDups(waves(k),
        TextDedup.minhashSignatures(prior, "text", "doc_id"), "text", "doc_id"))
        .map { case (n, o) => (k.toLong, n, o) }
    }.toSet
    assert(direct.nonEmpty, "waves must collide for the test to mean anything")
    assert(streamed == direct,
      s"auto-compacted stream pairs diverged; extra=${(streamed -- direct).take(3)} " +
        s"missing=${(direct -- streamed).take(3)}")
  }

  test("search stream auto-merge: bounded segments, serving unchanged each wave") {
    import graft.ops.TextRank
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val terms = Seq("the", "data", "spark", "model")
    val waves = (0 until 4).map(k => docs.filter(col("doc_id") % 4 === k))
    val work = java.nio.file.Files.createTempDirectory("graft_sautom").toString
    val raw = s"$work/raw"; val idx = s"$work/idx"; val ckpt = s"$work/ckpt"
    val key = Streaming.runKey(ckpt)
    def bm25Key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getDouble(1), r.getInt(2))
    waves.zipWithIndex.foreach { case (w, k) =>
      w.write.mode("append").parquet(raw)
      val q = Streaming.searchIndexMaintenanceStream(
        spark.readStream.schema(docs.schema).parquet(raw), idx, ckpt,
        blockSize = 64, compactEvery = 2)
      assert(q.awaitTermination(180000), "streaming batch did not finish in time")
      val ingested = waves.take(k + 1).reduce(_ unionByName _)
      val scan = TextRank.bm25(ingested, "text", "doc_id", terms, topK = 10)
        .collect().map(bm25Key).toSet
      val served = TextRank.bm25Indexed(spark, idx, "doc_id", terms, topK = 10)
        .collect().map(bm25Key).toSet
      assert(served == scan, s"after wave $k auto-merged serving != scan")
    }
    val segs = new java.io.File(s"$idx/postings").listFiles()
      .map(_.getName).filter(_.startsWith("seg=")).toSet
    assert(segs == Set("seg=base", s"seg=$key-2", s"seg=$key-3"),
      s"unexpected segments after auto-merge: $segs")
  }

  test("a fresh stream incarnation over the same index probes the prior corpus") {
    // a long-lived index outlives any one stream: run 2 starts with a NEW
    // checkpoint, so its micro-batch ids restart at 0. The incarnation
    // key must keep run 2's batch 0 from clobbering — or being wrongly
    // excluded against — run 1's batch 0.
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val first = docs.filter(col("doc_id") % 2 === 0)
    val second = docs.filter(col("doc_id") % 2 === 1)
    val work = java.nio.file.Files.createTempDirectory("graft_sincarn").toString
    val idx = s"$work/idx"; val pairsDir = s"$work/pairs"
    def run(raw: String, ckpt: String): Unit = {
      val stream = spark.readStream.schema(docs.schema).parquet(raw)
      val q = Streaming.incrementalDedupStream(stream, idx, pairsDir, ckpt)
      assert(q.awaitTermination(180000), "streaming batch did not finish in time")
    }
    first.write.parquet(s"$work/rawA")
    run(s"$work/rawA", s"$work/ckptA")
    // between incarnations is the documented compaction point: run 1's
    // segments fold into batch=base, and run 2 must still probe the
    // whole prior corpus from the compacted layout
    TextDedup.compactMinhashIndex(spark, idx)
    assert(new java.io.File(idx).listFiles()
      .map(_.getName).filter(_.startsWith("batch=")).toSet == Set("batch=base"))
    second.write.parquet(s"$work/rawB")
    run(s"$work/rawB", s"$work/ckptB") // fresh checkpoint: its batchId is 0 again
    def pairSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("id_new", "id_old").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val streamed = pairSet(spark.read.parquet(
      s"$pairsDir/batch=${Streaming.runKey(s"$work/ckptB")}-0"))
    val direct = pairSet(TextDedup.incrementalNearDups(second,
      TextDedup.minhashSignatures(first, "text", "doc_id"), "text", "doc_id"))
    assert(direct.nonEmpty, "halves must collide for the test to mean anything")
    assert(streamed == direct,
      "run 2's first batch must probe run 1's corpus; " +
        s"extra=${(streamed -- direct).take(3)} missing=${(direct -- streamed).take(3)}")
    // and BOTH incarnations' signatures persist in the index
    assert(TextDedup.readMinhashIndex(spark, idx).count() == docs.count(),
      "run 2's batch 0 must not clobber run 1's batch 0")
  }

  test("a numeric-keyed (batch-API) index is fully probed, not coerced away") {
    // an index seeded through the Long-batchId append API has numeric
    // partition values, which Spark infers as an INT column; the stream's
    // own-batch exclusion compares against a string key, and without the
    // explicit string cast the int-vs-string coercion nulls the predicate
    // and silently drops the ENTIRE prior index from the probe
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val first = docs.filter(col("doc_id") % 2 === 0)
    val second = docs.filter(col("doc_id") % 2 === 1)
    val work = java.nio.file.Files.createTempDirectory("graft_slegacy").toString
    val idx = s"$work/idx"; val pairsDir = s"$work/pairs"
    TextDedup.appendMinhashIndexBatch(first, "text", "doc_id", idx, 0L)
    second.write.parquet(s"$work/raw")
    val q = Streaming.incrementalDedupStream(
      spark.readStream.schema(docs.schema).parquet(s"$work/raw"),
      idx, pairsDir, s"$work/ckpt")
    assert(q.awaitTermination(180000), "streaming batch did not finish in time")
    def pairSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("id_new", "id_old").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val streamed = pairSet(spark.read.parquet(
      s"$pairsDir/batch=${Streaming.runKey(s"$work/ckpt")}-0"))
    val direct = pairSet(TextDedup.incrementalNearDups(second,
      TextDedup.minhashSignatures(first, "text", "doc_id"), "text", "doc_id"))
    assert(direct.nonEmpty, "halves must collide for the test to mean anything")
    assert(streamed == direct,
      s"numeric-keyed index partitions must be probed; missing=${(direct -- streamed).take(3)}")
  }

  test("vector twin: streamed waves emit the batch-by-batch cosine probe pairs; index grows") {
    import graft.ops.VectorSim
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select("vec_id", "embedding")
    val waves = (0 until 3).map(k => emb.filter(col("vec_id") % 3 === k))
    val work = java.nio.file.Files.createTempDirectory("graft_svdedup").toString
    val raw = s"$work/raw"; val idx = s"$work/idx"
    val pairsDir = s"$work/pairs"; val ckpt = s"$work/ckpt"

    def run(): Unit = {
      val stream = spark.readStream.schema(emb.schema).parquet(raw)
      val q = Streaming.incrementalVectorDedupStream(stream, idx, pairsDir, ckpt,
        threshold = 0.25)
      assert(q.awaitTermination(180000), "streaming batch did not finish in time")
    }
    var expectIndexRows = 0L
    waves.zipWithIndex.foreach { case (w, k) =>
      w.write.mode("append").parquet(raw)
      run()
      expectIndexRows += w.count()
      val idxRows = VectorSim.readSignIndex(spark, idx)
      assert(idxRows.count() == expectIndexRows,
        s"after wave $k the index must hold every ingested signature")
      assert(idxRows.select("id").distinct().count() == expectIndexRows,
        "index ids stay unique across appends")
    }

    def pairSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("id_new", "id_old").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val direct = (1 until 3).flatMap { k =>
      val prior = waves.take(k).reduce(_ unionByName _)
      pairSet(VectorSim.incrementalCosineNearDups(waves(k),
        VectorSim.signIndex(prior, "vec_id", "embedding"),
        "vec_id", "embedding", threshold = 0.25, probeBits = 1))
        .map { case (n, o) => (k.toLong, n, o) }
    }.toSet
    val streamed = spark.read.parquet(pairsDir)
      .select(substring_index(col("batch"), "-", -1).cast("long"),
        col("id_new"), col("id_old")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(direct.nonEmpty, "waves must collide for the test to mean anything")
    assert(streamed == direct,
      s"stream pairs must equal batch-by-batch probes; " +
        s"extra=${(streamed -- direct).take(3)} missing=${(direct -- streamed).take(3)}")
  }

  test("search stream with positions: phrase serving == scan after each wave and after auto-merge") {
    import graft.ops.TextRank
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val phrase = Seq("the", "data")
    val waves = (0 until 3).map(k => docs.filter(col("doc_id") % 3 === k))
    val work = java.nio.file.Files.createTempDirectory("graft_spos").toString
    val raw = s"$work/raw"; val idx = s"$work/idx"; val ckpt = s"$work/ckpt"
    waves.zipWithIndex.foreach { case (w, k) =>
      w.write.mode("append").parquet(raw)
      val stream = spark.readStream.schema(docs.schema).parquet(raw)
      // compactEvery=2: wave 2 triggers a mid-stream merge that must fold
      // the positions component too (own segment excluded and carried)
      val q = Streaming.searchIndexMaintenanceStream(stream, idx, ckpt,
        blockSize = 64, compactEvery = 2, positions = true)
      assert(q.awaitTermination(180000), "streaming batch did not finish in time")
      val ingested = waves.take(k + 1).reduce(_ unionByName _)
      val scan = TextRank.phraseMatch(ingested, "text", "doc_id", phrase)
        .collect().map(_.toSeq).toSeq
      val served = TextRank.phraseMatchIndexed(spark, idx, "doc_id", phrase)
        .collect().map(_.toSeq).toSeq
      assert(served == scan, s"after wave $k phrase served != scan")
    }
    // final explicit merge: one base segment, phrase serving unchanged
    TextRank.mergeSearchIndexSegments(spark, idx, blockSize = 64)
    val scanAll = TextRank.phraseMatch(docs, "text", "doc_id", phrase)
      .collect().map(_.toSeq).toSeq
    val servedAll = TextRank.phraseMatchIndexed(spark, idx, "doc_id", phrase)
      .collect().map(_.toSeq).toSeq
    assert(servedAll == scanAll, "post-merge phrase serving changed")
    assert(scanAll.nonEmpty, "fixture phrase must occur for the test to mean anything")
  }

  test("exact-substring stream: per-wave spans match the batch-by-batch probe; re-delivery loud") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val waves = (0 until 3).map(k => docs.filter(col("doc_id") % 3 === k))
    val work = java.nio.file.Files.createTempDirectory("graft_sesspan").toString
    val raw = s"$work/raw"; val idx = s"$work/idx"
    val spansDir = s"$work/spans"; val ckpt = s"$work/ckpt"
    def run(): Unit = {
      val q = Streaming.exactSubstringSpanStream(
        spark.readStream.schema(docs.schema).parquet(raw), idx, spansDir,
        ckpt, minTokens = 8)
      assert(q.awaitTermination(180000), "span wave timed out")
    }
    def spanSet(df: org.apache.spark.sql.DataFrame) = df
      .select("doc_id", "span_start", "span_end").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val key = graft.streaming.Streaming.runKey(ckpt)
    waves.zipWithIndex.foreach { case (w, k) =>
      w.write.mode("append").parquet(raw)
      run()
      // ground truth: the full operator over everything-so-far,
      // restricted to this wave's docs
      val soFar = waves.take(k + 1).reduce(_ unionByName _)
      val expect = spanSet(TextDedup.exactSubstringSpans(
        soFar, "text", "doc_id", 8)
        .join(w.select("doc_id"), Seq("doc_id"), "left_semi"))
      val got = spanSet(spark.read.parquet(s"$spansDir/batch=$key-$k"))
      assert(got == expect, s"wave $k spans diverged from the batch probe")
    }
    assert(spark.read.parquet(spansDir).count() > 0,
      "fixture must produce spans")
    // re-delivering wave 1's docs as a new wave must fail LOUDLY: the
    // gram index holds no ids, so the _ids sidecar is the only guard
    // against self-duplication corrupting the record
    waves(1).write.mode("append").parquet(raw)
    val failed = try {
      val q = Streaming.exactSubstringSpanStream(
        spark.readStream.schema(docs.schema).parquet(raw), idx, spansDir,
        ckpt, minTokens = 8)
      q.awaitTermination(180000); false
    } catch {
      case e: org.apache.spark.sql.streaming.StreamingQueryException =>
        Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
          .exists(t => Option(t.getMessage)
            .exists(_.contains("already ingested")))
    }
    assert(failed, "re-delivered ids must wedge the loop loudly")
  }

  test("semantic decontam stream: clean+flagged+quarantine partition the input, match the broadcast path") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select("vec_id", "embedding")
    val anchors = emb.filter(col("vec_id") % 40 === 0)
    val ingest = emb.filter(col("vec_id") % 40 =!= 0)
    // plant UNSCORABLE rows (ADVICE r15): failed encodes — null, empty,
    // zero-norm, and NaN embeddings — must land in quarantine, never be
    // certified clean by a filter that could not score them
    val dim = emb.head.getAs[scala.collection.Seq[Float]]("embedding").length
    import spark.implicits._
    val bad = Seq(
      (-1L, null.asInstanceOf[Array[Float]]),
      (-2L, Array.fill(dim)(0.0f)),
      (-3L, Array.fill(dim)(Float.NaN)),
      (-4L, Array.empty[Float]),
    ).toDF("vec_id", "embedding")
    val waves = (0 until 3).map { k =>
      ingest.filter(col("vec_id") % 3 === k)
        .unionByName(bad.filter(col("vec_id") === -(k + 1).toLong ||
          (lit(k) === 0 && col("vec_id") === -4L)))
    }
    val work = java.nio.file.Files.createTempDirectory("graft_ssemdecon").toString
    val raw = s"$work/raw"; val idx = s"$work/idx"
    val clean = s"$work/clean"; val flagged = s"$work/flagged"
    val quar = s"$work/quar"; val ckpt = s"$work/ckpt"
    graft.ops.VectorSim.writeEvalAnchorIndex(anchors, "vec_id", "embedding", idx)
    waves.foreach { w =>
      w.write.mode("append").parquet(raw)
      val q = Streaming.semanticDecontamFilterStream(
        spark.readStream.schema(emb.schema).parquet(raw),
        idx, clean, flagged, quar, ckpt, threshold = 0.25)
      assert(q.awaitTermination(180000), "semantic decontam wave timed out")
    }
    val cleanIds = spark.read.parquet(clean)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val flaggedRows = spark.read.parquet(flagged)
      .select("doc_id", "n_matches", "best_eval_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val quarIds = spark.read.parquet(quar)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val allIds = ingest.select("vec_id").collect().map(_.getLong(0)).toSet
    assert(quarIds == Set(-1L, -2L, -3L, -4L),
      s"unscorable rows must quarantine, got $quarIds")
    assert((cleanIds & quarIds).isEmpty && (flaggedRows.map(_._1) & quarIds).isEmpty,
      "a quarantined vector must appear in neither split")
    assert((cleanIds & flaggedRows.map(_._1)).isEmpty,
      "a vector cannot be both clean and flagged")
    assert(cleanIds ++ flaggedRows.map(_._1) == allIds,
      "stream must account for every scorable vector")
    assert(flaggedRows.nonEmpty, "fixture must actually flag something")
    // bit-equality with the one-shot broadcast path over everything
    val direct = graft.ops.VectorSim.semanticDecontam(
      anchors, ingest, "vec_id", "embedding", 0.25).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(flaggedRows == direct, "streamed flags != broadcast path")
  }

  test("decontam stream: clean+flagged partition the input, match the batch probe, retries idempotent") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val evalSet = docs.filter(col("doc_id") % 10 === 0)
    val ingest = docs.filter(col("doc_id") % 10 =!= 0)
    val waves = (0 until 3).map(k => ingest.filter(col("doc_id") % 3 === k))
    val work = java.nio.file.Files.createTempDirectory("graft_sdecon").toString
    val raw = s"$work/raw"; val idx = s"$work/idx"
    val clean = s"$work/clean"; val flagged = s"$work/flagged"
    val ckpt = s"$work/ckpt"
    graft.ops.CorpusOps.writeEvalGramIndex(evalSet, "text", n = 4, idx)

    def run(): Unit = {
      val stream = spark.readStream.schema(docs.schema).parquet(raw)
      val q = Streaming.decontamFilterStream(stream, idx, clean, flagged, ckpt)
      assert(q.awaitTermination(180000), "streaming batch did not finish in time")
    }
    waves.foreach { w => w.write.mode("append").parquet(raw); run() }

    val cleanIds = spark.read.parquet(clean)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val flaggedIds = spark.read.parquet(flagged)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val allIds = ingest.select("doc_id").collect().map(_.getLong(0)).toSet
    // clean and flagged PARTITION the streamed input
    assert((cleanIds & flaggedIds).isEmpty, "a doc cannot be both clean and flagged")
    assert(cleanIds ++ flaggedIds == allIds, "stream must account for every doc")
    assert(flaggedIds.nonEmpty, "fixture must actually flag something")
    // and match the batch-path ground truth over the whole ingest
    val directClean = graft.ops.CorpusOps
      .incrementalDecontaminate(ingest, "doc_id", "text", idx)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(cleanIds == directClean, "streamed clean set != batch probe")
    // a retried micro-batch overwrites its own partitions: re-run wave 2's
    // write by hand under its original batch id and nothing changes
    val key = graft.streaming.Streaming.runKey(ckpt)
    val f2 = graft.ops.CorpusOps.incrementalContamination(waves(2), "doc_id", "text", idx)
    f2.write.mode("overwrite").parquet(s"$flagged/batch=$key-2")
    assert(spark.read.parquet(flagged).select("doc_id").collect()
      .map(_.getLong(0)).toSet == flaggedIds, "retry must not duplicate flags")
  }

  test("overlap ledger stream: delta fold equals the batch matrix, re-delivery contributes zero") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val work = java.nio.file.Files.createTempDirectory("graft_soverlap").toString
    val raw = s"$work/raw"; val idx = s"$work/idx"
    val ledger = s"$work/ledger"; val ckpt = s"$work/ckpt"
    // wave 3 re-delivers wave 0 verbatim: its pairs anti-join away
    val waves = (0 until 3).map(k => docs.filter(col("doc_id") % 3 === k)) :+
      docs.filter(col("doc_id") % 3 === 0)
    waves.foreach { w =>
      w.write.mode("append").parquet(raw)
      val q = Streaming.overlapLedgerStream(
        spark.readStream.schema(docs.schema).parquet(raw), idx, ledger, ckpt)
      assert(q.awaitTermination(120000), "overlap ledger wave timed out")
    }
    val key = graft.streaming.Streaming.runKey(ckpt)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getDouble(5))).toSet
    // published matrix == from-scratch batch matrix over everything
    // (the matrix is over DISTINCT pairs, so re-delivery is a no-op on
    // both sides)
    val streamed = rows(graft.ops.CorpusOps.readOverlapLedger(spark, ledger))
    val batch = rows(graft.ops.CorpusOps.overlapMatrix(
      graft.ops.CorpusOps.sourceGrams(docs, "source", "text", 4)))
    assert(streamed == batch)
    // the re-delivered wave's deltas are EMPTY on every store
    assert(spark.read.parquet(s"$ledger/shared/batch=$key-3").count() == 0)
    assert(spark.read.parquet(s"$ledger/totals/batch=$key-3").count() == 0)
    assert(spark.read.parquet(s"$idx/batch=$key-3").count() == 0)
    // the index never holds a duplicate (source, gram) pair
    val idxDf = spark.read.parquet(idx)
    assert(idxDf.count() == idxDf.select("source", "gram").distinct().count())
  }

  test("overlap ledger stream: crashed-first-batch index dir (no committed parquet) does not wedge the retry") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val work = java.nio.file.Files.createTempDirectory("graft_soverlap_cr").toString
    val raw = s"$work/raw"; val idx = s"$work/idx"
    val ledger = s"$work/ledger"; val ckpt = s"$work/ckpt"
    // simulate batch 0 killed mid-append: the index dir exists with an
    // uncommitted partition dir but ZERO readable parquet — a bare
    // fs.exists gate would crash-loop schema inference forever
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(idx, "batch=stale-crashed-attempt"))
    docs.filter(col("doc_id") % 2 === 0).write.mode("append").parquet(raw)
    val q = Streaming.overlapLedgerStream(
      spark.readStream.schema(docs.schema).parquet(raw), idx, ledger, ckpt)
    assert(q.awaitTermination(120000), "crashed-dir wave timed out")
    val streamed = graft.ops.CorpusOps.readOverlapLedger(spark, ledger)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    val batch = graft.ops.CorpusOps.overlapMatrix(
      graft.ops.CorpusOps.sourceGrams(docs.filter(col("doc_id") % 2 === 0),
        "source", "text", 4))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(streamed == batch,
      "retry after a crashed first append must start from the true empty state")
  }

  test("exact dedup stream: crashed-first-batch index dir does not wedge (shared gate)") {
    // same crashed state as the ledger test, against a SIBLING loop —
    // pins that the committed-parquet gate is shared, not a one-off
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val work = java.nio.file.Files.createTempDirectory("graft_sexact_cr").toString
    val raw = s"$work/raw"; val idx = s"$work/idx"
    val clean = s"$work/clean"; val ckpt = s"$work/ckpt"
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(idx, "batch=stale-crashed-attempt"))
    docs.filter(col("doc_id") % 2 === 0).write.mode("append").parquet(raw)
    val q = Streaming.incrementalExactDedupStream(
      spark.readStream.schema(docs.schema).parquet(raw), idx, clean, ckpt)
    assert(q.awaitTermination(120000), "crashed-dir wave timed out")
    // first real batch seeds the index as if the dir had been absent
    val expect = TextDedup.exactDedup(
      docs.filter(col("doc_id") % 2 === 0), "text", "doc_id")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(spark.read.parquet(clean).select("doc_id").collect()
      .map(_.getLong(0)).toSet == expect)
  }

  test("batch-0 crash DURING the index append (own pairs already committed) does not crash-loop the retry") {
    // the write order makes this the routine first-batch crash state:
    // pairs land BEFORE the index append, so a batch-0 kill inside the
    // append leaves pairsDir/batch=<key>-0 fully committed next to an
    // index dir holding only an uncommitted attempt. The data-loss gate
    // must recognize the lone own-batch sibling partition as the
    // bootstrap-retry state (the retry overwrites it anyway) instead of
    // wedging every retry on the "index lost data; repair" require.
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val wave = docs.filter(col("doc_id") % 2 === 0)
    val work = java.nio.file.Files.createTempDirectory("graft_sown_cr").toString
    val raw = s"$work/raw"; val idx = s"$work/idx"
    val pairsDir = s"$work/pairs"; val ckpt = s"$work/ckpt"
    val own = s"${graft.streaming.Streaming.runKey(ckpt)}-0"
    // attempt 1's committed pairs output (batch 0 emits zero pairs)
    wave.limit(0)
      .select(col("doc_id").as("id_new"), col("doc_id").as("id_old"))
      .write.parquet(s"$pairsDir/batch=$own")
    // attempt 1's index append, killed mid-write: dir exists, zero
    // committed parquet
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(idx, s"batch=$own", "_temporary"))
    wave.write.mode("append").parquet(raw)
    val q = Streaming.incrementalDedupStream(
      spark.readStream.schema(docs.schema).parquet(raw), idx, pairsDir, ckpt)
    assert(q.awaitTermination(180000),
      "retry of a crashed first index append must bootstrap, not wedge")
    // the retry seeded the index from the true empty prior state
    assert(TextDedup.readMinhashIndex(spark, idx).select("id").distinct()
      .count() == wave.count())
    assert(spark.read.parquet(s"$pairsDir/batch=$own").count() == 0)
    // ...and a SECOND wave still fails loudly when the index is lost
    // with OTHER batches' sibling state present (the real data-loss case)
    val docs2 = docs.filter(col("doc_id") % 2 === 1)
    def rmContents(d: java.io.File): Unit = d.listFiles().foreach { f =>
      if (f.isDirectory) { rmContents(f); f.delete() } else f.delete()
      ()
    }
    rmContents(new java.io.File(idx))
    docs2.write.mode("append").parquet(raw)
    val q2 = Streaming.incrementalDedupStream(
      spark.readStream.schema(docs.schema).parquet(raw), idx, pairsDir, ckpt)
    val failed = try { q2.awaitTermination(180000); false }
      catch { case e: org.apache.spark.sql.streaming.StreamingQueryException =>
        Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
          .exists(t => Option(t.getMessage).exists(_.contains("lost data"))) }
    assert(failed,
      "an unreadable index next to OTHER batches' pairs must still fail loudly")
  }

  test("overlap ledger stream: unreadable index NEXT TO a populated ledger fails loudly") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val work = java.nio.file.Files.createTempDirectory("graft_soverlap_loss").toString
    val raw = s"$work/raw"; val idx = s"$work/idx"
    val ledger = s"$work/ledger"; val ckpt = s"$work/ckpt"
    // a healthy first wave populates index + ledger
    docs.filter(col("doc_id") % 2 === 0).write.mode("append").parquet(raw)
    val q1 = Streaming.overlapLedgerStream(
      spark.readStream.schema(docs.schema).parquet(raw), idx, ledger, ckpt)
    assert(q1.awaitTermination(120000))
    // simulate index data loss: parquet gone, dir left behind, ledger intact
    val idxDir = new java.io.File(idx)
    def rmContents(d: java.io.File): Unit = d.listFiles().foreach { f =>
      if (f.isDirectory) { rmContents(f); f.delete() } else f.delete()
      ()
    }
    rmContents(idxDir)
    // the next wave must fail the batch loudly, not rebuild from empty
    docs.filter(col("doc_id") % 2 === 1).write.mode("append").parquet(raw)
    val q2 = Streaming.overlapLedgerStream(
      spark.readStream.schema(docs.schema).parquet(raw), idx, ledger, ckpt)
    val failed = try { q2.awaitTermination(120000); false }
    catch { case _: org.apache.spark.sql.streaming.StreamingQueryException => true }
    assert(failed, "index loss beside a populated ledger must fail, not double-count")
  }

  test("exact dedup stream: arrival-order survivors, late re-delivery dropped, index fp-unique") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val work = java.nio.file.Files.createTempDirectory("graft_sexact").toString
    val raw = s"$work/raw"; val idx = s"$work/idx"
    val clean = s"$work/clean"; val ckpt = s"$work/ckpt"
    // wave 3 re-delivers wave 0's content VERBATIM — the late-duplicate
    // class a watermarked state store would let through
    val waves = (0 until 3).map(k => docs.filter(col("doc_id") % 3 === k)) :+
      docs.filter(col("doc_id") % 3 === 0)
    waves.foreach { w =>
      w.write.mode("append").parquet(raw)
      val q = Streaming.incrementalExactDedupStream(
        spark.readStream.schema(docs.schema).parquet(raw), idx, clean, ckpt)
      assert(q.awaitTermination(120000), "exact dedup wave timed out")
    }
    val key = graft.streaming.Streaming.runKey(ckpt)
    // the re-delivered wave contributes NOTHING new
    assert(spark.read.parquet(s"$clean/batch=$key-3").count() == 0,
      "late re-delivered duplicates must be dropped by the index probe")
    // ground truth: arrival-order fold of exactDedup over the waves
    def fps(df: org.apache.spark.sql.DataFrame) = df
      .select(TextDedup.fingerprint(col("text")).as("fp"))
      .collect().map(_.getString(0)).toSet
    var seen = Set.empty[String]
    var expectIds = Set.empty[Long]
    waves.take(3).foreach { w =>
      val survivors = TextDedup.exactDedup(w, "text", "doc_id")
        .select(col("doc_id"), TextDedup.fingerprint(col("text")).as("fp"))
        .collect().filterNot(r => seen.contains(r.getString(1)))
      seen ++= survivors.map(_.getString(1))
      expectIds ++= survivors.map(_.getLong(0))
    }
    val cleanDf = spark.read.parquet(clean)
    assert(cleanDf.select("doc_id").collect().map(_.getLong(0)).toSet == expectIds,
      "streamed clean rows must equal the arrival-order dedup fold")
    // fingerprint coverage equals the global exact dedup's (ids may
    // differ — arrival order wins — but the distinct-content set cannot)
    assert(fps(cleanDf) == fps(TextDedup.exactDedup(docs, "text", "doc_id")))
    // the index is fingerprint-unique by construction
    val idxDf = spark.read.parquet(idx)
    assert(idxDf.count() == idxDf.select("fp").distinct().count())
    assert(idxDf.count() == cleanDf.count())
  }

  test("exact dedup stream with Bloom sidecar is bit-identical and appends one segment per batch") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val base = java.nio.file.Files.createTempDirectory("graft_sbloom").toString
    // reference run (no sidecar) and bloom run see the same waves
    val waves = (0 until 3).map(k => docs.filter(col("doc_id") % 3 === k)) :+
      docs.filter(col("doc_id") % 3 === 0)
    def drive(tag: String, bloomDir: String): String = {
      val raw = s"$base/$tag/raw"; val clean = s"$base/$tag/clean"
      waves.foreach { w =>
        w.write.mode("append").parquet(raw)
        val q = Streaming.incrementalExactDedupStream(
          spark.readStream.schema(docs.schema).parquet(raw),
          s"$base/$tag/idx", clean, s"$base/$tag/ckpt",
          bloomDir = bloomDir, bloomExpectedItems = 10000L)
        assert(q.awaitTermination(120000), s"$tag wave timed out")
      }
      clean
    }
    val plain = drive("plain", null)
    val bloomDir = s"$base/bloomseg"
    val pruned = drive("bloom", bloomDir)
    def rows(p: String) = spark.read.parquet(p)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(rows(pruned) == rows(plain),
      "bloom-pruned stream must be bit-identical to the plain stream")
    // one segment per micro-batch, all same geometry, and the merged
    // filter still admits every indexed fingerprint
    val segs = spark.read.parquet(bloomDir)
    assert(segs.count() == 4L, s"expected 4 segments, got ${segs.count()}")
    val merged = TextDedup.readFpBloom(spark, bloomDir)
    val missed = spark.read.parquet(s"$base/bloom/clean")
      .filter(!graft.functions.BloomExprs.bloomMightContain(
        TextDedup.fpProbeKey(col("text")), merged)).count()
    assert(missed == 0L, "merged sidecar lost an indexed fingerprint")
  }
  test("image twin: streamed waves emit batch-by-batch phash probe pairs; index grows; retry idempotent") {
    import graft.ops.ImageHash
    val off = 1000000L
    // wave 0: bases 0..59; wave 1: clones of 0..29 + new bases 100..119;
    // wave 2: clones of 100..109 — clones must pair with PRIOR waves only
    val all = ImageHash.plantedPngCorpus(spark, nBase = 120, cloneOffset = off)
    val w0 = all.filter(col("media_id") < 60)
    val w1 = all.filter((col("media_id") >= off && col("media_id") < off + 30) ||
      (col("media_id") >= 100 && col("media_id") < 120))
    val w2 = all.filter(col("media_id") >= off + 100 && col("media_id") < off + 110)
    val waves = Seq(w0, w1, w2)
    val work = java.nio.file.Files.createTempDirectory("graft_simg").toString
    val raw = s"$work/raw"; val idx = s"$work/idx"
    val pairsDir = s"$work/pairs"; val ckpt = s"$work/ckpt"
    def run(): Unit = {
      val stream = spark.readStream.schema(all.schema).parquet(raw)
      val q = Streaming.incrementalImageDedupStream(stream, idx, pairsDir, ckpt)
      assert(q.awaitTermination(180000), "streaming batch did not finish in time")
    }
    var expectIndexRows = 0L
    waves.zipWithIndex.foreach { case (w, k) =>
      w.write.mode("append").parquet(raw)
      run()
      expectIndexRows += w.count()
      assert(spark.read.parquet(idx).count() == expectIndexRows,
        s"after wave $k the index must hold every ingested hash")
    }
    val streamed = spark.read.parquet(pairsDir)
      .select("id_probe", "id_index").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // clones of 0..29 (wave 1) match their wave-0 bases; clones of
    // 100..109 (wave 2) match their wave-1 bases; nothing else pairs
    val expected = (0L until 30L).map(i => (i + off, i)).toSet ++
      (100L until 110L).map(i => (i + off, i)).toSet
    assert(streamed == expected,
      s"extra=${(streamed -- expected).take(3)} missing=${(expected -- streamed).take(3)}")
    // a retried append (same batch partition) replaces, not duplicates
    val key = graft.streaming.Streaming.runKey(ckpt)
    ImageHash.pngHashes(w2, "media_id", "png")
      .write.mode("overwrite").parquet(s"$idx/batch=$key-2")
    assert(spark.read.parquet(idx).count() == expectIndexRows,
      "retried append must not grow the index")
  }

  test("streaming WARC ingest: pages land clean, census catches every bad span") {
    import graft.ingest.WarcIngest
    import spark.implicits._
    val ts = "2024-06-01T00:00:00Z"
    // wave 0: two clean containers; wave 1: one container with a clean
    // page, a 404, and a truncated tail
    def container(pages: Seq[(String, String)], bad: Boolean,
        status: Int = 200): Array[Byte] = {
      val body = WarcIngest.warcinfoRecord(ts) ++
        pages.toArray.flatMap { case (u, h) =>
          WarcIngest.responseRecord(u, ts, h, status = status) }
      if (bad) body ++ ("WARC/1.0\r\nWARC-Type: response\r\n" +
        "Content-Length: 999999\r\n\r\nx").getBytes("US-ASCII")
      else body
    }
    val w0 = Seq(
      (0L, container(Seq("https://s.test/0" -> "<p>zero</p>"), bad = false)),
      (1L, container(Seq("https://s.test/1" -> "<p>one</p>"), bad = false)))
      .toDF("cid", "warc")
    val w1 = Seq(
      (2L, container(Seq("https://s.test/2" -> "<p>two</p>"), bad = true)),
      (3L, container(Seq("https://s.test/3" -> "<p>gone</p>"), bad = false,
        status = 404)))
      .toDF("cid", "warc")
    val work = java.nio.file.Files.createTempDirectory("graft_swarc").toString
    val raw = s"$work/raw"; val pagesDir = s"$work/pages"
    val quarantineDir = s"$work/census"; val ckpt = s"$work/ckpt"
    def run(): Unit = {
      val stream = spark.readStream.schema(w0.schema).parquet(raw)
      val q = Streaming.warcIngestStream(stream, pagesDir, quarantineDir, ckpt)
      assert(q.awaitTermination(180000), "streaming batch did not finish in time")
    }
    Seq(w0, w1).foreach { w => w.write.mode("append").parquet(raw); run() }
    val pages = spark.read.parquet(pagesDir)
      .select("url", "html").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    // the 404 page is NOT a clean landing; everything else round-trips
    assert(pages == Map(
      "https://s.test/0" -> "<p>zero</p>",
      "https://s.test/1" -> "<p>one</p>",
      "https://s.test/2" -> "<p>two</p>"))
    val census = spark.read.parquet(quarantineDir)
    // 4 warcinfo + 1 truncated tail + the 404 response — the census is
    // the exact complement of the clean-page split, so the non-200
    // response appears HERE rather than vanishing between the sinks
    assert(census.count() == 6)
    assert(census.filter(col("reason") === "truncated_payload").count() == 1)
    assert(census.filter(col("http_status") === 404).count() == 1)
  }

  test("index loops fail loudly on a re-delivered id and on a flat seed index (table-driven)") {
    import graft.ops.{ImageHash, VectorSim}
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryException}
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val docs = (0L until 6L).map(i => (i, Seq.fill(12)(rnd.nextInt(40)).mkString(" ")))
      .toDF("doc_id", "text")
    val vecs = (0L until 6L).map(i => (i, Array.fill(64)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    // (loop, six rows with ids 0..5, id column, stream starter over
    // (input, indexDir, pairsDir, checkpoint), flat-index seeder)
    type Start = (DataFrame, String, String, String) => StreamingQuery
    type Seed = (DataFrame, String) => Unit
    val loops: Seq[(String, DataFrame, String, Start, Option[Seed])] = Seq(
      ("minhash", docs, "doc_id", Streaming.incrementalDedupStream(_, _, _, _),
        Some(TextDedup.writeMinhashIndex(_, "text", "doc_id", _))),
      ("vector", vecs, "vec_id", Streaming.incrementalVectorDedupStream(_, _, _, _),
        Some(VectorSim.writeSignIndex(_, "vec_id", "embedding", _))),
      ("image",
        ImageHash.plantedPngCorpus(spark, nBase = 6).filter(col("media_id") < 6),
        "media_id", Streaming.incrementalImageDedupStream(_, _, _, _), None))
    loops.foreach { case (name, rows, idCol, start, flatSeed) =>
      val work = java.nio.file.Files.createTempDirectory(s"graft_sgate_$name").toString
      // "" when the stream finishes, else every message on the cause chain
      def run(raw: String, idx: String, ckpt: String): String =
        try {
          val q = start(spark.readStream.schema(rows.schema).parquet(raw), idx,
            s"$work/pairs_$ckpt", s"$work/$ckpt")
          assert(q.awaitTermination(180000), s"$name stream timed out")
          ""
        } catch {
          case e: StreamingQueryException =>
            Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
              .flatMap(t => Option(t.getMessage)).mkString("\n")
        }
      // wave 0 lands ids 0..2; wave 1 re-delivers id 0 next to a new id 3
      rows.filter(col(idCol) < 3).write.parquet(s"$work/raw")
      assert(run(s"$work/raw", s"$work/idx", "ckpt") == "", s"$name wave 0 failed")
      rows.filter(col(idCol) === 0 || col(idCol) === 3)
        .write.mode("append").parquet(s"$work/raw")
      val redelivered = run(s"$work/raw", s"$work/idx", "ckpt")
      assert(redelivered.contains("already ingested"),
        s"$name must reject a re-delivered id: $redelivered")
      flatSeed.foreach { seed =>
        seed(rows.filter(col(idCol) < 3), s"$work/flat")
        rows.filter(col(idCol) >= 3).write.parquet(s"$work/raw_flat")
        val flat = run(s"$work/raw_flat", s"$work/flat", "ckpt_flat")
        assert(flat.contains("is a flat index"),
          s"$name must reject a flat seed index: $flat")
      }
    }
  }
}

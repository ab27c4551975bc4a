package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders, GraftShim, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType
import org.apache.spark.storage.StorageLevel
import graft.core.{ChurnSchema, JobLedger, ParquetDir}

/** Structured Streaming extension (SURVEY §2.11 / §7 step 9): the
  * reference is batch-only with a daily Airflow cadence; its own docs
  * sketch Kafka → streaming → feature store as the next step. This module
  * provides that shape with Spark-native pieces:
  *  - file-source ingest over the raw landing dir, reusing the SAME batch
  *    transform stages via foreachBatch (one code path for batch+stream);
  *  - watermarked sliding-window event aggregation;
  *  - stateful per-user session tracking with flatMapGroupsWithState.
  *
  * Every `*Stream` maintenance loop runs on one micro-batch driver
  * ([[microBatch]]); the seven loops that probe a persisted index run on
  * one maintenance skeleton over it ([[indexStream]]), so their
  * crash-recovery, committed-data, compaction, own-batch and
  * re-delivery gates are the same code.
  */
object Streaming {

  /** Streaming ingest of churn CSVs landing in `rawDir`; every micro-batch
    * runs the supplied batch transform (the daily pipeline's stages) and
    * appends to the Silver path. Checkpointing makes it exactly-once into
    * the file sink.
    */
  def ingestStream(
      spark: SparkSession, rawDir: String, silverDir: String, checkpoint: String,
      transform: DataFrame => DataFrame,
      schema: StructType = ChurnSchema.schema): StreamingQuery = {
    val csv = spark.readStream
      .schema(schema)
      .option("header", "true")
      .option("maxFilesPerTrigger", 16)
      .csv(rawDir)
    microBatch(csv, checkpoint) { (batch, batchId, _) =>
      transform(batch)
        .withColumn("_batch_id", lit(batchId))
        .write.mode("append").option("compression", "snappy").parquet(silverDir)
    }
  }

  /** Watermarked tumbling-window aggregation over an events stream
    * (ts, user_id, event_type, value): counts + sum(value) per window and
    * event type. Late data beyond the watermark is dropped — state stays
    * bounded no matter how long the stream runs.
    */
  def windowedEventCounts(events: DataFrame,
      watermark: String = "10 minutes", window: String = "5 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(org.apache.spark.sql.functions.window(col("ts"), window), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("event_type"), col("n_events"), col("sum_value"))

  /** Watermarked STREAM-STREAM interval join — click attribution: each
    * click pairs with the same user's purchases inside
    * (click_ts, click_ts + windowSeconds]. The interval bound on the
    * join condition is what makes unbounded-stream state finite: Spark
    * derives each side's state-eviction watermark from the time-range
    * predicate (a click can stop waiting once the purchase watermark
    * passes click_ts + window; a purchase once the click watermark
    * passes its own ts), so state is bounded by rate x (window +
    * watermark delay), never by stream length. Identical semantics on
    * static frames (watermarks are no-ops in batch) — the parity the
    * contract test checks, and the streaming twin of q65's binned
    * range join, which remains the BATCH plan of choice (the bin
    * equi-key shuffles better than a per-user theta join at rest).
    */
  def clickAttributionJoin(clicks: DataFrame, purchases: DataFrame,
      windowSeconds: Long, watermark: String = "10 seconds"): DataFrame = {
    val c = clicks.withWatermark("ts", watermark)
      .select(col("user_id"), col("ts").as("click_ts"),
        col("value").as("click_value"))
    val p = purchases.withWatermark("ts", watermark)
      .select(col("user_id").as("_pu"), col("ts").as("purchase_ts"),
        col("value").as("purchase_value"))
    c.join(p, col("user_id") === col("_pu") &&
        col("purchase_ts") > col("click_ts") &&
        col("purchase_ts") <=
          col("click_ts") + expr(s"INTERVAL $windowSeconds SECONDS"))
      .drop("_pu")
  }

  /** Streaming exact dedup on the normalized text fingerprint — the
    * ingest-time twin of the batch [[graft.ops.TextDedup.exactDedup]]
    * (same md5-of-normalized-text key, so batch and stream agree on what
    * a duplicate is). Built on `dropDuplicatesWithinWatermark`: keyed
    * fingerprint state lives in the state store and is EXPIRED by the
    * event-time watermark, so state stays bounded on an unbounded stream
    * (a plain streaming `dropDuplicates` would grow keyed state forever —
    * a leak at 100 TB/day). Duplicates arriving within the watermark
    * horizon are suppressed; the first arrival wins.
    */
  def dedupDocStream(docs: DataFrame, textCol: String, tsCol: String,
      watermark: String = "1 hour"): DataFrame =
    docs
      .withWatermark(tsCol, watermark)
      .withColumn("_fp", graft.ops.TextDedup.fingerprint(col(textCol)))
      .dropDuplicatesWithinWatermark("_fp")
      .drop("_fp")

  /** Partition key namespace for one stream INCARNATION: stable across
    * restarts of the same checkpoint (so a retried micro-batch lands on
    * its own partition and stays idempotent), distinct for a fresh
    * checkpoint (micro-batch ids restart at 0 there — an un-namespaced
    * batch=0 would clobber, and be wrongly excluded against, a previous
    * incarnation's first batch in a long-lived index).
    */
  private[graft] def runKey(checkpoint: String): String = {
    // the RAW string, not a filesystem canonicalization: File/cwd-based
    // normalization differs per driver container (and mangles hdfs://,
    // s3a:// URIs), which would re-key the same checkpoint across
    // restarts — exactly what the key must never do
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(checkpoint.getBytes("UTF-8"))
    d.take(4).map(b => f"${b & 0xff}%02x").mkString
  }

  // ---- the micro-batch driver and the index-maintenance skeleton --------

  /** The one micro-batch driver under every `*Stream` loop: an
    * AvailableNow `foreachBatch` query checkpointed at `checkpoint`.
    * `body` gets the batch, its raw `batchId` and the
    * incarnation-qualified key `<runKey>-<batchId>` every per-batch
    * output is partitioned by, so a retried micro-batch overwrites its
    * previous attempt (effectively-once without a transactional sink).
    * With `stage = Some((live, suffix))` each batch first runs
    * [[recoverStage]] on the dir the loop rewrites by staged swap.
    *
    * The batch is rehomed onto `input`'s session before anything runs.
    * A streaming query runs its batches on a clone of that session, and
    * with `spark.sql.artifact.isolation.enabled` (Spark's default) every
    * session gets its own class loader. Spark caches generated classes
    * by (class loader, code), so every AvailableNow query, one per wave,
    * would recompile every class the wave's reads, probes and writes
    * generate, the same code as the wave before. The starting session
    * outlives the queries, so on it a wave reuses the classes earlier
    * waves compiled; every loop takes its session from
    * `batch.sparkSession`, so all its jobs run there. The rehome is a
    * relabel of the already-planned batch (see `GraftShim.rehome`).
    */
  private def microBatch(input: DataFrame, checkpoint: String,
      stage: Option[(String, String)] = None)(
      body: (DataFrame, Long, String) => Unit): StreamingQuery = {
    val key = runKey(checkpoint)
    val home = input.sparkSession
    input.writeStream
      .foreachBatch { (delivered: DataFrame, batchId: Long) =>
        val batch = GraftShim.rehome(home, delivered)
        stage.foreach { case (live, suffix) =>
          recoverStage(home, live, suffix)
        }
        body(batch, batchId, s"$key-$batchId")
      }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
  }

  /** Batch-start stage recovery shared by the maintenance loops: if the
    * last incarnation crashed INSIDE a compaction's swap (live dir
    * deleted, fully-written stage not yet renamed), the stage holds the
    * only copy of the index — promote it BEFORE any `fs.exists(live)`
    * guard runs, or the loop mistakes the orphaned index for a
    * first-ever ingest and silently rebuilds from one batch.
    */
  private def recoverStage(sp: SparkSession, dir: String,
      stageSuffix: String): Unit = {
    val live = new Path(dir)
    val fs = live.getFileSystem(sp.sparkContext.hadoopConfiguration)
    graft.ops.StagedSwap.recoverCrashedSwap(fs, live, new Path(dir + stageSuffix))
    ()
  }

  /** Mid-stream compaction cadence: every `every`-th batch after the
    * first (0 disables it). */
  private def compactionDue(every: Int, batchId: Long): Boolean =
    every > 0 && batchId > 0 && batchId % every == 0

  /** What an index loop does with a batch id an earlier batch already
    * indexed. */
  private sealed trait Redelivery

  /** Fail the batch loudly, before its append, when one of its
    * `batchIdCol` values is already in the prior index's `indexIdCol`.
    * Re-delivered ids are the duplicate class the `batch=<key>` layout
    * does NOT structurally prevent (a re-crawled doc in a later file).
    * An index that holds no ids names the `idsDir` sidecar each batch
    * writes its ids to; that sidecar passes the same committed-data gate
    * as the index, with the index's siblings.
    */
  private final case class RejectRedelivered(batchIdCol: String,
      indexIdCol: String = "id", idsDir: Option[String] = None)
      extends Redelivery

  /** No re-delivery gate; `why` is the loop's reason. */
  private final case class AdmitRedelivered(why: String) extends Redelivery

  /** A persisted index that one maintenance loop probes and appends to,
    * batch by batch — what [[indexStream]] needs to run the shared gates:
    *  - `live`: the index dir a staged swap replaces, and `stageSuffix`
    *    its stage sibling (`_compacting` or `_merging`);
    *  - `siblings`: the dirs the loop commits before (or, MinHash pairs,
    *    alongside) its index append (pairs, spans, ledger deltas,
    *    postings, clean rows) — the data-loss check of [[committedPrior]];
    *  - `partCol`: the incarnation-keyed partition column (`batch` or
    *    `seg`);
    *  - `flatIndex`: the rejection for a dir without `partCol`
    *    partitions;
    *  - `redelivery`: the re-delivery gate, or the reason there is none;
    *  - `compactEvery` / `compactExcept`: batch-start compaction that
    *    keeps the named (own) partitions out of the fold (none by
    *    default);
    *  - `subdir`: the component the gate reads when the index spans
    *    several dirs (the search index's `/norms`).
    */
  private final case class IndexKind(live: String, stageSuffix: String,
      siblings: Seq[String], partCol: String, flatIndex: String,
      redelivery: Redelivery, compactEvery: Int = 0,
      compactExcept: (SparkSession, Set[String]) => Unit = (_, _) => (),
      subdir: String = "") {
    def dir: String = live + subdir
  }

  /** The committed-data gate every index loop uses instead of a bare
    * `fs.exists`: the prior index at `dir`, flat layouts rejected, and
    * this batch's own `partCol=<own>` partition excluded — or None when
    * `dir` holds no committed parquet by [[graft.core.ParquetDir]]'s rule.
    * A FIRST batch killed mid-append leaves the directory existing with
    * only `_temporary` inside (no committed part files), which a bare
    * gate would route into a read of nothing, on every retry. The schema
    * comes from one footer, so building the frame starts no job.
    *
    * When the dir holds no committed parquet but any of the kind's
    * `siblings` already holds entries, the index did not fail to
    * bootstrap — it LOST data (manual cleanup, botched repair) while its
    * downstream state survived; silently answering "empty" there would
    * rebuild from nothing and corrupt every later fold (double-counted
    * ledger deltas, re-admitted duplicates), so that case fails loudly.
    *
    * Sibling entries named `<col>=<own>` are IGNORED when classifying a
    * sibling as populated: every loop commits sibling output before its
    * index append (the MinHash loop alongside it), so the routine batch-0
    * crash — killed between the sibling commit and the index append's —
    * leaves exactly one sibling partition, this batch's own, next to an
    * uncommitted index. That is the bootstrap-retry state, not data
    * loss: the retry overwrites that very partition anyway. Only sibling
    * entries from OTHER batches prove the index once held data. (A
    * MinHash batch-0 crash can also leave the append committed and the
    * pairs not: the own-batch exclusion below reads that index as an
    * empty prior.)
    *
    * The own-batch exclusion keeps a retry that crashed between its
    * append and the streaming commit from seeing its own rows as prior
    * data. The key is incarnation-qualified, so a PREVIOUS incarnation's
    * same-numbered batch is NOT excluded.
    */
  private def committedPrior(sp: SparkSession, dir: String, ix: IndexKind,
      own: String): Option[DataFrame] = {
    val p = new Path(dir)
    val fs = p.getFileSystem(sp.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else ParquetDir.committed(sp, dir) match {
      case Some(idx) =>
        // a flat dir would survive exactly one append before partition
        // discovery hits conflicting directory depths — reject it up front
        require(idx.columns.contains(ix.partCol), ix.flatIndex)
        // cast FIRST: a numeric-keyed legacy layout infers the key as int,
        // and int =!= string coerces the literal to null — which would
        // silently filter out the ENTIRE prior index
        Some(idx.filter(col(ix.partCol).cast("string") =!= lit(own)))
      case None =>
        val populated = ix.siblings.filter { s =>
          val q = new Path(s)
          fs.exists(q) && fs.listStatus(q).exists { st =>
            !st.getPath.getName.endsWith(s"=$own")
          }
        }
        require(populated.isEmpty,
          s"$dir holds no committed parquet but sibling state " +
            s"${populated.mkString(", ")} is non-empty: the index lost " +
            "data; repair it instead of rebuilding from empty")
        None
    }
  }

  /** The maintenance skeleton of the seven loops that probe a persisted
    * index, on [[microBatch]]. Per batch, in this order:
    *  1. [[recoverStage]] promotes a crashed compaction's stage;
    *  2. [[committedPrior]] reads the prior index (None on first ingest);
    *  3. on a [[compactionDue]] batch with a committed index, the index is
    *     compacted EXCEPT this batch's own partition, then read again
    *     (the first read listed files the compaction replaced). It runs
    *     at batch START because the only possibly-uncommitted state then
    *     is a crashed prior attempt of this very batch, and folding it
    *     into base would break the retry's own-batch exclusion and
    *     re-delivery gate;
    *  4. `rowsOf` derives the rows the loop reads more than once — the
    *     loop's own persist choice — unpersisted after the body;
    *  5. the re-delivery gate, when the kind has one, fails the batch on
    *     an id already in the prior index (retries of THIS batch are
    *     excluded, so they don't false-positive): a semi-join with no
    *     broadcast hint (an AvailableNow backlog batch can be millions of
    *     rows, so AQE picks the join strategy) that returns at most one
    *     id per partition in one job, where `take(1)` rescans in waves.
    *     It runs on its own thread while `body(rows, prior, own)` reads:
    *     the body probes (its own gates included) and returns its writes;
    *  6. the writes run once the gate has passed, siblings first (the
    *     MinHash loop writes its pairs alongside its append).
    * Each step names its jobs ([[graft.core.JobLedger.step]]).
    */
  private def indexStream(input: DataFrame, checkpoint: String,
      ix: IndexKind, rowsOf: DataFrame => DataFrame = identity)(
      body: (DataFrame, Option[DataFrame], String) => () => Unit): StreamingQuery =
    microBatch(input, checkpoint, Some((ix.live, ix.stageSuffix))) {
        (batch, batchId, own) =>
      val sp = batch.sparkSession
      def prior(dir: String) =
        JobLedger.step(sp, "prior read")(committedPrior(sp, dir, ix, own))
      val index = prior(ix.dir) match {
        case Some(_) if compactionDue(ix.compactEvery, batchId) =>
          JobLedger.step(sp, "compaction")(ix.compactExcept(sp, Set(own)))
          prior(ix.dir)
        case p => p
      }
      val rows = rowsOf(batch)
      def redeliveryGate(): Unit = ix.redelivery match {
        case RejectRedelivered(batchIdCol, indexIdCol, idsDir) =>
          val ids = idsDir.fold(index)(d => index.flatMap(_ => prior(d)))
          ids.foreach { idx =>
            val hits = idx.select(col(indexIdCol).as("id"))
              .join(rows.select(col(batchIdCol).as("id")), Seq("id"), "left_semi")
            val redelivered = JobLedger.step(sp, "re-delivery gate")(
              hits.mapPartitions(_.take(1))(Encoders.row(hits.schema)).collect())
            require(redelivered.isEmpty,
              s"id ${redelivered.headOption.map(_.get(0)).orNull} was " +
                "already ingested by an earlier batch and is already " +
                s"indexed in ${idsDir.getOrElse(ix.dir)}; dedup upstream " +
                "(dedupDocStream) or repair the index before appending")
          }
        case AdmitRedelivered(_) =>
      }
      try {
        val writes = alongside(redeliveryGate())(body(rows, index, own))
        writes()
      } finally {
        if (rows.storageLevel != StorageLevel.NONE) rows.unpersist(false)
        ()
      }
    }

  /** Runs `side` on a new thread, which inherits this thread's Spark
    * local properties (job group, description, ledger tag), while `main`
    * runs here; returns `main`'s result once both ended, `side`'s failure
    * first. */
  private def alongside[A](side: => Unit)(main: => A): A = {
    @volatile var failed: Throwable = null
    val t = new Thread(() => try side catch { case e: Throwable => failed = e })
    t.setDaemon(true)
    t.start()
    val out = scala.util.Try(main)
    t.join()
    if (failed != null) throw failed
    out.get
  }

  /** Streaming incremental NEAR-dup detection — the production ingest
    * loop the persisted MinHash index exists for. Every micro-batch:
    *  (a) probes the signatures of the corpus ingested SO FAR for LSH
    *      collision pairs ([[graft.ops.TextDedup.incrementalNearDups]] —
    *      each document's signatures are computed once, ever);
    *  (b) writes the (id_new, id_old) pairs under
    *      `pairsDir/batch=<id>`; and
    *  (c) appends the batch's own signatures to the index
    *      ([[graft.ops.TextDedup.appendMinhashIndexBatch]]).
    * Both writes are per-batch-subdirectory overwrites, so a retried
    * micro-batch replaces its previous attempt — effectively-once output
    * without a transactional sink. The first batch (no index yet) emits
    * zero pairs and seeds the index. Within-batch duplicates are the
    * batch operators' contract (compose [[dedupDocStream]] upstream for
    * exact dedup); this stream's contract is pairs against the PRIOR
    * corpus, which is what makes it equivalent to running the batch
    * probe per ingest.
    */
  def incrementalDedupStream(docs: DataFrame, indexDir: String,
      pairsDir: String, checkpoint: String,
      textCol: String = "text", idCol: String = "doc_id",
      shingleLen: Int = 1, numHashes: Int = 128, bands: Int = 32,
      maxBucket: Int = 1000, compactEvery: Int = 0): StreamingQuery = {
    val ix = IndexKind(indexDir, "_compacting", Seq(pairsDir), "batch",
      s"$indexDir is a flat index (no batch=<key> partitions); " +
        "seed a streaming index with appendMinhashIndexBatch " +
        "instead of writeMinhashIndex, or migrate the flat " +
        "index with compactMinhashIndex",
      RejectRedelivered(idCol), compactEvery,
      graft.ops.TextDedup.compactMinhashIndexExcept(_, indexDir, _))
    // persists nothing: under AQE a cache costs a job of its own, more
    // than each step re-reading the batch's files
    indexStream(docs, checkpoint, ix) { (batch, prior, own) =>
      val pairs = prior match {
        case Some(idx) => graft.ops.TextDedup.incrementalNearDups(batch, idx,
          textCol, idCol, shingleLen, numHashes, bands, maxBucket,
          validateIds = false)
        case None => // first-ever ingest: nothing to collide with, typed empty
          batch.select(col(idCol).as("id_new"), col(idCol).as("id_old")).limit(0)
      }
      // incrementalNearDups ran the bucket gate and returns the probe's
      // plan: the pairs write runs it, alongside the index append (the
      // probe's prior excludes this batch's own partition)
      () => alongside(JobLedger.step(batch.sparkSession, "index append")(
          graft.ops.TextDedup.appendMinhashIndexBatchKeyed(batch, textCol,
            idCol, indexDir, own, shingleLen, numHashes, bands)))(
        JobLedger.step(batch.sparkSession, "probe + sibling write")(
          pairs.write.mode("overwrite").parquet(s"$pairsDir/batch=$own")))
    }
  }

  /** Streaming incremental EMBEDDING near-dup dedup — the vector twin of
    * [[incrementalDedupStream]], same read→probe→append maintenance loop
    * over a [[graft.ops.VectorSim.writeSignIndex]]-shaped sign-bucket
    * index: each micro-batch probes the persisted index
    * ([[graft.ops.VectorSim.incrementalCosineNearDups]]), lands its
    * verified (id_new, id_old, cosine) pairs under `pairsDir/batch=<id>`,
    * then appends its own signatures idempotently. Corpus signatures are
    * never recomputed.
    */
  def incrementalVectorDedupStream(vecs: DataFrame, indexDir: String,
      pairsDir: String, checkpoint: String,
      vecCol: String = "embedding", idCol: String = "vec_id",
      threshold: Double = 0.5, numTables: Int = 8, planesPerTable: Int = 6,
      dim: Int = 64, seed: Long = 42L, probeBits: Int = 1,
      compactEvery: Int = 0): StreamingQuery = {
    val ix = IndexKind(indexDir, "_compacting", Seq(pairsDir), "batch",
      s"$indexDir is a flat index (no batch=<key> partitions); " +
        "seed a streaming index with appendSignIndexBatch " +
        "instead of writeSignIndex, or migrate the flat index " +
        "with compactSignIndex",
      RejectRedelivered(idCol), compactEvery,
      graft.ops.VectorSim.compactSignIndexExcept(_, indexDir, _))
    // read twice: probe + signature append
    indexStream(vecs, checkpoint, ix, _.persist()) { (cached, prior, own) => () =>
      val pairs = prior match {
        case Some(idx) => graft.ops.VectorSim.incrementalCosineNearDups(cached,
          idx, idCol, vecCol, threshold, numTables, planesPerTable, dim, seed,
          probeBits, validateIds = false)
        case None => // first-ever ingest: nothing to collide with, typed empty
          cached.select(col(idCol).as("id_new"), col(idCol).as("id_old"),
            lit(0.0).as("cosine")).limit(0)
      }
      pairs.write.mode("overwrite").parquet(s"$pairsDir/batch=$own")
      graft.ops.VectorSim.appendSignIndexBatchKeyed(cached, idCol, vecCol,
        indexDir, own, numTables, planesPerTable, dim, seed)
    }
  }

  /** Streaming incremental IMAGE near-dup dedup — the multimodal twin of
    * [[incrementalDedupStream]] over the perceptual-hash index: each
    * micro-batch decodes its PNGs ONCE ([[graft.ops.ImageHash.pngHashes]]
    * — pixels are never re-decoded), probes the persisted (id, dhash)
    * index for Hamming-ball matches
    * ([[graft.ops.ImageHash.phashMatches]] — old-new pairs only), lands
    * (id_probe, id_index, hamming) under `pairsDir/batch=<key>`, then
    * appends its own hash rows idempotently. Same maintenance contract:
    * incarnation-qualified batch keys, own-partition exclusion on retry,
    * loud re-delivered-id gate. The index holds two longs per image —
    * 10⁹ images is ~16 GB of parquet, a footnote at 100 TB of pixels.
    */
  def incrementalImageDedupStream(images: DataFrame, indexDir: String,
      pairsDir: String, checkpoint: String,
      pngCol: String = "png", idCol: String = "media_id",
      maxHamming: Int = 6): StreamingQuery = {
    // no compactor rewrites this index yet; the stage recovery still runs
    // so that every index loop starts its batch the same way
    val ix = IndexKind(indexDir, "_compacting", Seq(pairsDir), "batch",
      s"$indexDir is a flat index (no batch=<key> partitions); an image " +
        "index is written by incrementalImageDedupStream only",
      RejectRedelivered(idCol, indexIdCol = idCol))
    // decode once, read twice (probe + append)
    indexStream(images, checkpoint, ix,
        graft.ops.ImageHash.pngHashes(_, idCol, pngCol).persist()) {
        (hashes, prior, own) => () =>
      val pairs = prior match {
        case Some(idx) =>
          graft.ops.ImageHash.phashMatches(hashes, idx, idCol, "dhash", maxHamming)
        case None => // first-ever ingest: nothing to collide with, typed empty
          hashes.select(col(idCol).as("id_probe"),
            col(idCol).as("id_index"), lit(0).as("hamming")).limit(0)
      }
      pairs.write.mode("overwrite").parquet(s"$pairsDir/batch=$own")
      hashes.write.mode("overwrite").parquet(s"$indexDir/batch=$own")
    }
  }

  /** Streaming WARC ingestion — stage -1 of the web-corpus funnel as a
    * continuous loop: each micro-batch of (container id, warc bytes)
    * rows is walked row-locally ([[graft.ingest.WarcIngest.readWarc]] —
    * Content-Length framing, HTTP envelope parse, quarantine-not-throw),
    * clean 200 HTML pages land under `pagesDir/batch=<key>` and every
    * quarantined/structural record lands under `quarantineDir/batch=
    * <key>` with its reason — the census is never silently dropped, so
    * a mis-framing crawler surfaces in the quarantine rate, not as
    * missing documents. Same maintenance contract as the other loops:
    * incarnation-qualified batch keys, each batch overwrites its OWN
    * partition, so a retried micro-batch replaces its previous attempt
    * (effectively-once without a transactional sink).
    */
  def warcIngestStream(containers: DataFrame, pagesDir: String,
      quarantineDir: String, checkpoint: String,
      idCol: String = "cid", warcCol: String = "warc"): StreamingQuery =
    microBatch(containers, checkpoint) { (batch, _, own) =>
      val recs = graft.ingest.WarcIngest.readWarc(batch, idCol, warcCol)
        .persist() // two consumers: page split + census split
      try {
        // the census is the exact COMPLEMENT of the clean-page split
        // (null-safe: structural records carry NULL content types) —
        // every record lands on exactly one side, so a non-200
        // response or a non-HTML payload can never silently vanish
        // between the sinks
        val cleanHtml = coalesce(
          col("reason").isNull && col("warc_type") === "response" &&
            col("http_status") === 200 &&
            lower(col("content_type")).contains("text/html"),
          lit(false))
        recs.filter(cleanHtml)
          .select(col("url"), col("fetch_ts"), col("body_text").as("html"))
          .write.mode("overwrite").parquet(s"$pagesDir/batch=$own")
        recs.filter(!cleanHtml)
          .write.mode("overwrite").parquet(s"$quarantineDir/batch=$own")
      } finally {
        recs.unpersist(false)
        ()
      }
    }

  /** Streaming search-index maintenance — the query-time production loop
    * the persisted BM25 index ([[graft.ops.TextRank.writeSearchIndex]])
    * was built for: each micro-batch of documents lands as its own index
    * segment ([[graft.ops.TextRank.appendSearchIndexBatch]]), and
    * [[graft.ops.TextRank.bm25Indexed]] serves between batches with
    * results bit-identical to a scan of every document ingested so far
    * (per-segment df/stats sum exactly at query time). Same maintenance
    * contract as [[incrementalDedupStream]]: segment keys are
    * incarnation-qualified `<runKey>-<batchId>`, each append overwrites
    * its OWN `seg=` directories, so a retried micro-batch replaces its
    * previous attempt — effectively-once without a transactional sink.
    * Re-delivered doc ids (the duplicate class the layout does NOT
    * structurally prevent) fail loudly before the append: one id-pruned
    * read of the norms (linear in corpus doc count, not a corpus text
    * scan) semi-joined against the batch, own-segment excluded so the
    * retry path stays legitimate. With `compactEvery > 0` the stream
    * auto-merges at batch start (the streaming twin of
    * [[graft.ops.TextRank.mergeSearchIndexSegments]], own segment
    * excluded), keeping the served segment count bounded; run the merge
    * between stream incarnations to fold accumulated segments into one.
    */
  def searchIndexMaintenanceStream(docs: DataFrame, indexDir: String,
      checkpoint: String, textCol: String = "text", idCol: String = "doc_id",
      blockSize: Int = 1024, compactEvery: Int = 0,
      positions: Boolean = false): StreamingQuery = {
    // the gate reads the norms component: one row per doc, keyed by seg
    val ix = IndexKind(indexDir, "_merging", Seq(s"$indexDir/postings"), "seg",
      s"$indexDir/norms has no seg=<key> segments; build the index with " +
        "writeSearchIndex or appendSearchIndexBatch",
      RejectRedelivered(idCol), compactEvery,
      graft.ops.TextRank.mergeSearchIndexSegmentsExcept(_, indexDir,
        blockSize, _),
      subdir = "/norms")
    // read thrice: gate + postings + norms
    indexStream(docs, checkpoint, ix, _.persist()) { (cached, _, own) => () =>
      graft.ops.TextRank.appendSearchIndexBatch(cached, textCol, idCol,
        indexDir, own, blockSize)
      // optional phrase-serving component: same segment key, same
      // idempotent-overwrite retry contract; merges fold it too
      if (positions)
        graft.ops.TextRank.appendPositionsBatch(cached, textCol, idCol,
          indexDir, own)
    }
  }

  /** Streaming decontamination filter: each micro-batch probes the
    * PERSISTED eval-gram index ([[graft.ops.CorpusOps.writeEvalGramIndex]])
    * and splits into clean docs (what training consumes) and a flagged
    * audit trail (doc id + shared-gram count), each written under its own
    * `batch=<incarnation>-<id>` partition — a retried micro-batch
    * overwrites its previous attempt, so crash-retries are idempotent
    * with NO re-delivery gate needed (this loop only reads the index, it
    * never appends to it).
    *
    * The index is fixed for the life of the stream — eval suites change
    * on release cadence, not ingest cadence; append new suites between
    * runs with [[graft.ops.CorpusOps.appendEvalGramBatch]] (+ compaction)
    * and restart. Per batch this is ONE linear pass over the new docs
    * plus a broadcast gram join: the per-ingest shape of q90.
    */
  def decontamFilterStream(docs: DataFrame, indexDir: String,
      cleanDir: String, flaggedDir: String, checkpoint: String,
      textCol: String = "text", idCol: String = "doc_id"): StreamingQuery =
    microBatch(docs, checkpoint) { (batch, _, own) =>
      val cached = batch.persist() // read twice: flagged probe + anti join
      try {
        val flagged = graft.ops.CorpusOps.incrementalContamination(
          cached, idCol, textCol, indexDir)
        flagged.write.mode("overwrite").parquet(s"$flaggedDir/batch=$own")
        // anti-join against the JUST-WRITTEN flagged partition rather
        // than recomputing the probe: one probe per batch, and the
        // clean split can never disagree with its own audit trail
        val flaggedIds = cached.sparkSession.read
          .parquet(s"$flaggedDir/batch=$own").select(idCol)
        cached.join(flaggedIds, Seq(idCol), "left_anti")
          .write.mode("overwrite").parquet(s"$cleanDir/batch=$own")
      } finally {
        cached.unpersist(false)
        ()
      }
    }

  /** Streaming exact-substring span detection — the continuous-ingest
    * loop over the persisted gram-count index
    * ([[graft.ops.TextDedup.writeGramCountIndex]]): each micro-batch's
    * duplicate spans against everything-so-far land under
    * `spansDir/batch=<incarnation>-<id>`
    * ([[graft.ops.TextDedup.incrementalExactSubstringSpans]] — equal to
    * the full batch operator over old∪new restricted to the batch),
    * then the batch's saturated gram counts append as its own index
    * partition. Family contract: incarnation-qualified keys, own-batch
    * exclusion on retry, committed-parquet bootstrap gate, loud
    * re-delivery gate (doc ids ride an `_ids` sidecar — underscore
    * paths are invisible to the index's own parquet discovery, so the
    * gram read never sees them). First-ever batch detects its
    * batch-internal duplicates and seeds the index with the supplied
    * (minTokens, hashGrams); later batches take the shape from the
    * stamp, so probe and build cannot disagree.
    */
  def exactSubstringSpanStream(docs: DataFrame, indexDir: String,
      spansDir: String, checkpoint: String,
      textCol: String = "text", idCol: String = "doc_id",
      minTokens: Int = 8, hashGrams: Boolean = false,
      compactEvery: Int = 0): StreamingQuery = {
    // re-delivered ids: the gram index holds no doc ids, so the `_ids`
    // sidecar carries the gate — a re-crawled doc would inflate its own
    // grams to "duplicated" and emit self-spans, corrupting the record
    // silently. An index seeded OUTSIDE the stream (writeGramCountIndex
    // over a historical corpus, release-cadence appends — the q90
    // lifecycle) has no sidecar: the gate covers stream-delivered ids
    // only, all it can know about.
    val ix = IndexKind(indexDir, "_compacting", Seq(spansDir), "batch",
      s"$indexDir is a flat gram-count index (no batch=<key> " +
        "partitions); seed it with writeGramCountIndex",
      RejectRedelivered(idCol, idsDir = Some(s"$indexDir/_ids")), compactEvery,
      graft.ops.TextDedup.compactGramCountIndexExcept(_, indexDir, _))
    // read thrice: probe + ids gate + count append
    indexStream(docs, checkpoint, ix, _.persist()) { (cached, prior, own) => () =>
      val spans =
        if (prior.isDefined) graft.ops.TextDedup.incrementalExactSubstringSpans(
          cached, textCol, idCol, indexDir, excludeBatch = Some(own))
        else // first ingest: only batch-internal duplication exists
          graft.ops.TextDedup.exactSubstringSpans(
            cached, textCol, idCol, minTokens, hashGrams)
      spans.write.mode("overwrite").parquet(s"$spansDir/batch=$own")
      cached.select(col(idCol).as("id"))
        .write.mode("overwrite").parquet(s"$indexDir/_ids/batch=$own")
      if (prior.isDefined)
        graft.ops.TextDedup.appendGramCountBatchKeyed(cached, textCol,
          idCol, indexDir, own)
      else // seed: the batch's counts ARE the index, stamped
        graft.ops.TextDedup.seedGramCountBatch(cached, textCol, idCol,
          indexDir, own, minTokens, hashGrams)
    }
  }

  /** Streaming SEMANTIC decontamination filter — the embedding-space
    * twin of [[decontamFilterStream]] over the persisted eval-anchor
    * index ([[graft.ops.VectorSim.writeEvalAnchorIndex]]): each
    * micro-batch of (id, embedding) rows probes the index
    * ([[graft.ops.VectorSim.incrementalSemanticDecontam]] — bit-equal
    * to the batch broadcast path by construction) and splits into clean
    * rows and a flagged audit trail (doc id, match count, strongest
    * anchor), each under its own `batch=<incarnation>-<id>` partition —
    * idempotent crash-retries, NO re-delivery gate needed (read-only
    * index). Anchors change on eval-release cadence: append new suites
    * between runs ([[graft.ops.VectorSim.appendEvalAnchorBatch]] +
    * compaction) and restart.
    */
  def semanticDecontamFilterStream(vecs: DataFrame, indexDir: String,
      cleanDir: String, flaggedDir: String, quarantineDir: String,
      checkpoint: String,
      vecCol: String = "embedding", idCol: String = "vec_id",
      threshold: Double = 0.25): StreamingQuery =
    microBatch(vecs, checkpoint) { (batch, _, own) =>
      // UNSCORABLE rows (ADVICE r15): a null / zero-norm / NaN
      // embedding carries no similarity claim — the probe's
      // degenerate-norm guard drops it, so letting it ride to the
      // anti-join would certify a failed encode as "clean" with no
      // audit trail. Split it out FIRST into its own quarantine
      // partition: clean ∪ flagged ∪ quarantined == the batch, and a
      // decontamination filter never silently passes what it could
      // not examine. (!isnan is load-bearing: NaN > 0 is TRUE under
      // Spark's NaN-greatest ordering — the VectorSim guard note.)
      val nrm = sqrt(graft.ops.VectorSim.normSq(col(vecCol)))
      val scorableP = col(vecCol).isNotNull && nrm > 0 && !isnan(nrm)
      val cached = batch.persist() // read thrice: quarantine + probe + anti
      try {
        cached.filter(!scorableP)
          .write.mode("overwrite").parquet(s"$quarantineDir/batch=$own")
        val scorable = cached.filter(scorableP)
        val flagged = graft.ops.VectorSim.incrementalSemanticDecontam(
          scorable, idCol, vecCol, indexDir, threshold)
        flagged.write.mode("overwrite").parquet(s"$flaggedDir/batch=$own")
        // anti-join against the JUST-WRITTEN flagged partition — one
        // probe per batch, and the clean split can never disagree
        // with its own audit trail (the decontamFilterStream rule)
        val flaggedIds = cached.sparkSession.read
          .parquet(s"$flaggedDir/batch=$own")
          .select(col("doc_id").as(idCol))
        scorable.join(flaggedIds, Seq(idCol), "left_anti")
          .write.mode("overwrite").parquet(s"$cleanDir/batch=$own")
      } finally {
        cached.unpersist(false)
        ()
      }
    }

  /** Streaming maintenance of the cross-source overlap ledger (the
    * q246/q247 contamination matrix, kept current under continuous
    * ingest). State is two stores: the DISTINCT (source, gram) index
    * (partitioned by batch, the q79-family layout) and a DELTA ledger —
    * per batch, the shared-count delta its new pairs contribute
    * (`ledgerDir/shared/batch=<key>`) and its per-source new-gram counts
    * (`ledgerDir/totals/batch=<key>`). Per micro-batch:
    *  (a) read the index EXCLUDING this batch's own partition (retry
    *      correctness: a crashed attempt's append must not make the
    *      retry see its own rows as "old");
    *  (b) fresh = the batch's distinct pairs anti-joined to the index —
    *      corpus-sized work touches only batch × index, never old × old;
    *  (c) write the shared/totals deltas (dimension-sized: ≤ |sources|²
    *      rows) and append fresh as the batch's index partition — all
    *      three writes are per-batch-partition overwrites, so retries
    *      are idempotent.
    * The published matrix assembles from the delta fold
    * ([[graft.ops.CorpusOps.readOverlapLedger]]) and equals
    * [[graft.ops.CorpusOps.overlapMatrix]] over everything ingested —
    * the spec pins that equality across waves, duplicate re-delivery
    * included (re-delivered pairs anti-join away: zero delta).
    */
  def overlapLedgerStream(docs: DataFrame, indexDir: String,
      ledgerDir: String, checkpoint: String, sourceCol: String = "source",
      textCol: String = "text", n: Int = 4): StreamingQuery = {
    // an unreadable index NEXT TO a populated ledger is data loss and
    // fails loudly in the gate instead of double-counting; no compactor
    // rewrites this index yet, the stage recovery runs as in every loop
    val ix = IndexKind(indexDir, "_compacting",
      Seq(s"$ledgerDir/shared", s"$ledgerDir/totals"), "batch",
      s"$indexDir is a flat index (no batch=<key> partitions); an overlap " +
        "index is written by overlapLedgerStream only",
      AdmitRedelivered("re-delivered (source, gram) pairs anti-join " +
        "against the index and add a zero delta: that is the ledger's " +
        "semantics, not a corruption"))
    indexStream(docs, checkpoint, ix) { (batch, prior, own) => () =>
      val index = prior.map(_.select("source", "gram")).getOrElse(
        // first-ever ingest (or its crashed retry): typed empty
        graft.ops.CorpusOps.sourceGrams(batch, sourceCol, textCol, n).limit(0))
      // read three times: shared delta (twice — both join sides) +
      // totals + index append
      val fresh = graft.ops.CorpusOps
        .freshSourceGrams(index, batch, sourceCol, textCol, n).persist()
      try {
        graft.ops.CorpusOps.overlapSharedDelta(index, fresh)
          .write.mode("overwrite").parquet(s"$ledgerDir/shared/batch=$own")
        fresh.groupBy("source").agg(count(lit(1)).as("n_grams"))
          .write.mode("overwrite").parquet(s"$ledgerDir/totals/batch=$own")
        fresh.select("source", "gram")
          .write.mode("overwrite").parquet(s"$indexDir/batch=$own")
      } finally {
        fresh.unpersist(false)
        ()
      }
    }
  }

  /** Streaming EXACT dedup over a persisted fingerprint index — the
    * unbounded-corpus production shape [[dedupDocStream]]'s watermarked
    * state cannot provide: state-store dedup must expire its keys at the
    * watermark, so a duplicate arriving later than the watermark delay
    * slips through; this loop instead probes a durable (fp, id) index
    * covering EVERYTHING ever ingested. Per micro-batch:
    *  (a) within-batch exact dedup (lowest id per fingerprint —
    *      [[graft.ops.TextDedup.exactDedup]]'s survivor rule);
    *  (b) anti-join the survivors' fingerprints against the index
    *      (own batch partition excluded, so a crashed attempt's append
    *      cannot make the retry drop its own rows);
    *  (c) write the clean rows under `cleanDir/batch=<key>`; and
    *  (d) append the CLEAN rows' fingerprints as the batch's index
    *      partition — only fingerprints new to the corpus enter, so the
    *      index stays fingerprint-unique by construction.
    * Re-delivered content needs no loud gate here — dropping duplicates
    * is this operator's SEMANTICS, so a re-crawled doc is simply
    * filtered; retries overwrite their own partitions (the family
    * contract). The index is one (fp, id) row per distinct document:
    * the probe is a single fp-keyed anti-join, and `compactEvery` folds
    * batch partitions through the shared batched-index compactor.
    *
    * `bloomDir` (optional) maintains the q101 Bloom sidecar: each batch
    * appends a Bloom segment over its clean fingerprints (idempotent
    * per-batch overwrite, same geometry every segment), and the probe
    * OR-merges the existing segments to bypass the index anti-join for
    * provably-new rows. Results are BIT-IDENTICAL with or without the
    * sidecar (no false negatives; a retried batch's own stale segment
    * can only over-admit rows into the authoritative anti-join, which
    * already excludes the batch's own index partition).
    */
  def incrementalExactDedupStream(docs: DataFrame, indexDir: String,
      cleanDir: String, checkpoint: String,
      textCol: String = "text", idCol: String = "doc_id",
      compactEvery: Int = 0, bloomDir: String = null,
      bloomExpectedItems: Long = 1L << 20,
      bloomFpp: Double = 0.01): StreamingQuery = {
    val ix = IndexKind(indexDir, "_compacting", Seq(cleanDir), "batch",
      s"$indexDir is not a batch-partitioned fingerprint index",
      AdmitRedelivered("dropping re-delivered content is this loop's " +
        "semantics: the fingerprint anti-join filters it"),
      compactEvery,
      graft.ops.TextDedup.compactMinhashIndexExcept(_, indexDir, _))
    // persists nothing: the batch is read once, the clean rows re-read
    // from their committed partition
    indexStream(docs, checkpoint, ix) { (batch, prior, own) => () =>
      val sp = batch.sparkSession
      val survivors = prior match {
        case Some(priorFps) =>
          val bloom = Option(bloomDir).filter { d =>
            val p = new Path(d)
            p.getFileSystem(sp.sparkContext.hadoopConfiguration).exists(p)
          }.map(graft.ops.TextDedup.readFpBloom(sp, _))
          bloom match {
            case Some(b) => graft.ops.TextDedup
              .bloomPrunedIncrementalExactDedup(batch, priorFps, b,
                textCol, idCol)
            case None => graft.ops.TextDedup
              .incrementalExactDedup(batch, priorFps, textCol, idCol)
          }
        case None => graft.ops.TextDedup.exactDedup(batch, textCol, idCol)
      }
      survivors.write.mode("overwrite").parquet(s"$cleanDir/batch=$own")
      // fingerprints of the JUST-WRITTEN clean partition: the index can
      // never disagree with the clean output it guards
      val clean = ParquetDir.committed(sp, s"$cleanDir/batch=$own").get
      clean
        .select(graft.ops.TextDedup.fingerprint(col(textCol)).as("fp"),
          col(idCol).as("id"))
        .write.mode("overwrite").parquet(s"$indexDir/batch=$own")
      if (bloomDir != null)
        graft.ops.TextDedup.writeFpBloomSegment(clean, textCol, bloomDir,
          own, bloomExpectedItems, bloomFpp)
    }
  }

  /** Streaming versioned publish: every micro-batch commits `transform`
    * of the batch as a NEW snapshot version of a
    * [[graft.warehouse.VersionedTable]] — the "publish a consistent table
    * per ingest" production loop. EXACTLY-once, not effectively-once: the
    * commit is keyed by the (incarnation-qualified) batch id through
    * [[graft.warehouse.VersionedTable.commitBatch]], so a replayed
    * micro-batch (restart after the commit landed but before the
    * streaming offset log advanced) is a no-op instead of a duplicate
    * version. Readers between batches always see a complete committed
    * snapshot — the manifest rename is the publication point; an
    * in-flight batch is invisible.
    *
    * Snapshots share no files (VersionedTable's documented
    * simplification), so size `transform` output to publish cadence:
    * dimension/stats tables per batch are the fit; a 100 TB fact append
    * belongs in the batch=<id> append sinks of the other loops.
    */
  def versionedPublishStream(input: DataFrame, tableDir: String,
      checkpoint: String,
      transform: DataFrame => DataFrame = identity,
      keepVersions: Int = 0): StreamingQuery = {
    require(keepVersions >= 0, "keepVersions must be >= 0 (0 keeps all)")
    microBatch(input, checkpoint) { (batch, _, own) =>
      graft.warehouse.VersionedTable.commitBatch(transform(batch), tableDir, own)
      // retention AFTER the commit: continuous publishing otherwise
      // accumulates one immutable snapshot per batch forever. vacuum
      // never touches the committed version, so a concurrent reader
      // of the CURRENT snapshot is safe; only deep time travel ages out.
      if (keepVersions > 0)
        graft.warehouse.VersionedTable.vacuum(
          batch.sparkSession, tableDir, keepVersions)
      ()
    }
  }

  /** Streaming MATERIALIZED-VIEW maintenance — the composition the CDC
    * pieces exist for: every micro-batch publishes a new snapshot of the
    * base table ([[graft.warehouse.VersionedTable.commitBatch]]), derives
    * the version-to-version CDC feed, and folds it into a maintained
    * (group, count, exact-sum) view committed as ITS OWN versioned table
    * — so both the table and its aggregate view are consistently
    * versioned, and the view is updated at churn cost, never by
    * re-scanning the snapshot ([[graft.warehouse.IncrementalAgg]]).
    *
    * Each micro-batch must carry the table's COMPLETE new state (the
    * publish-cadence model of [[versionedPublishStream]], not an append
    * feed). Crash/replay safety, step by step: the table commit is
    * batch-keyed (replay = no-op); the view step is skipped iff the view
    * already recorded this batch's key, so a crash between the two
    * commits resumes by re-deriving the view from the committed table
    * pair — and the exact decimal arithmetic guarantees the re-derived
    * view is bit-identical to what the crashed attempt would have
    * committed.
    */
  def materializedViewStream(input: DataFrame, tableDir: String,
      viewDir: String, checkpoint: String, keyCols: Seq[String],
      groupCol: String, measureCol: String,
      transform: DataFrame => DataFrame = identity,
      keepVersions: Int = 0): StreamingQuery = {
    // fail fast: misconfigured retention must not surface as a mid-run
    // StreamingQueryException after state has already been published.
    // >= 2 because the NEXT batch's CDC derivation reads version cur-1,
    // which keep=1 would have deleted.
    require(keepVersions == 0 || keepVersions >= 2,
      "materializedViewStream needs keepVersions >= 2 (or 0 to keep all): " +
        "the next batch diffs against the previous table version")
    microBatch(input, checkpoint) { (batch, _, bk) =>
      import graft.warehouse.{IncrementalAgg, VersionedTable}
      val sp = batch.sparkSession
      VersionedTable.commitBatch(transform(batch), tableDir, bk)
      if (!VersionedTable.lastBatchKey(sp, viewDir).contains(bk)) {
        val cur = VersionedTable.currentVersion(sp, tableDir).getOrElse(
          throw new IllegalStateException(
            s"table commit for batch $bk left no committed version at $tableDir"))
        val view =
          if (cur == 0L)
            IncrementalAgg.countSumView(
              VersionedTable.read(sp, tableDir), groupCol, measureCol)
          else {
            // lockstep gate: the protocol commits table and view once
            // per batch from v0, so the view must sit at exactly cur-1
            // here. Any desync (an out-of-band plain commit on either
            // dir, a restart under a fresh checkpoint after a crash
            // between the two commits) would make applyCdc fold the
            // WRONG delta and corrupt the view silently forever —
            // fail loudly instead and point at the rebuild.
            val vv = VersionedTable.currentVersion(sp, viewDir)
            require(vv.contains(cur - 1),
              s"view at $viewDir is at version ${vv.orNull} but the table " +
                s"advanced to $cur; the view no longer corresponds to the " +
                "previous snapshot — rebuild it (countSumView over the " +
                "current table) before resuming maintenance")
            IncrementalAgg.applyCdc(
              VersionedTable.read(sp, viewDir),
              VersionedTable.diffValues(sp, tableDir, cur - 1, cur, keyCols),
              groupCol, measureCol)
          }
        VersionedTable.commitBatch(view, viewDir, bk)
      }
      // retention AFTER both commits
      if (keepVersions > 0) {
        VersionedTable.vacuum(sp, tableDir, keepVersions)
        VersionedTable.vacuum(sp, viewDir, keepVersions)
      }
      ()
    }
  }

  /** Streaming incremental-statistics maintenance: every micro-batch
    * appends its HLL distinct-count sketch segment
    * ([[graft.ops.SketchStats.appendHllBatch]]); serving
    * ([[graft.ops.SketchStats.hllDistinct]]) reads kilobytes of
    * registers between batches. With `compactEvery > 0`, every Nth batch
    * folds all segments into `base` first — and unlike the dedup-index
    * loops, NO own-batch exclusion is needed: HLL registers are
    * max-merged, so a crashed prior attempt's contribution already baked
    * into base is simply re-asserted by the retry's overwrite — distinct
    * counting is idempotent BY VALUE, not just by segment layout.
    */
  def sketchStatsStream(input: DataFrame, sketchDir: String,
      checkpoint: String, valueCol: String,
      groupCols: Seq[String] = Nil, lgK: Int = 12,
      compactEvery: Int = 0): StreamingQuery =
    microBatch(input, checkpoint, Some((sketchDir, "_merging"))) {
        (batch, batchId, own) =>
      val sp = batch.sparkSession
      val p = new Path(sketchDir)
      if (compactionDue(compactEvery, batchId) &&
          p.getFileSystem(sp.sparkContext.hadoopConfiguration).exists(p))
        graft.ops.SketchStats.compactHll(sp, sketchDir, groupCols)
      graft.ops.SketchStats.appendHllBatch(batch, valueCol, sketchDir, own,
        groupCols, lgK)
    }

  /** Streaming EXACT-histogram maintenance: every micro-batch appends
    * its (bin, cnt) segment ([[graft.ops.SketchStats.appendHistBatch]]);
    * serving sums bins across segments between batches. Like the HLL
    * loop, no own-batch exclusion is needed — a retry OVERWRITES its own
    * `seg=` partition, and bin sums over the resulting layout are the
    * same. Unlike HLL, the served state is EXACT, so drift gates built
    * on [[graft.ops.SketchStats.histDrift]] see true counts per refresh.
    */
  def histStream(input: DataFrame, histDir: String, checkpoint: String,
      valueCol: String, width: Double): StreamingQuery =
    microBatch(input, checkpoint) { (batch, _, own) =>
      graft.ops.SketchStats.appendHistBatch(batch, valueCol, histDir, own, width)
    }

  /** Streaming moments maintenance: every micro-batch appends its exact
    * decimal power-sum segment
    * ([[graft.ops.SketchStats.appendMomentsBatch]]); serving merges
    * segments only ([[graft.ops.SketchStats.momentStats]]) — decimal
    * sums are associative, so the served mean/std/skew/kurtosis after
    * each wave is BIT-identical to a single pass over everything fed so
    * far. Append-only mid-stream for the same reason as the histogram
    * and heavy-hitter loops: power sums are additive, so a
    * compacted-then-replayed batch would double-count; compact with
    * [[graft.ops.SketchStats.compactMoments]] while stopped.
    */
  def momentStream(input: DataFrame, momDir: String, checkpoint: String,
      valueCol: String, groupCols: Seq[String] = Nil): StreamingQuery =
    microBatch(input, checkpoint) { (batch, _, own) =>
      graft.ops.SketchStats.appendMomentsBatch(batch, valueCol, momDir, own,
        groupCols)
    }

  /** Streaming heavy-hitter maintenance: every micro-batch appends its
    * bounded Misra-Gries segment
    * ([[graft.ops.SketchStats.appendFreqBatch]]); serving merges + one
    * shrink ([[graft.ops.SketchStats.freqItems]]) between batches. Like
    * the histogram loop a retry OVERWRITES its own `seg=` partition, so
    * the layout is idempotent — and like it, NO mid-stream compaction:
    * counts are ADDITIVE, so a batch folded into `base` and then
    * replayed after a crash would double-count (the HLL loop tolerates
    * this because register-max is idempotent by value; counts are not).
    * Compact with [[graft.ops.SketchStats.compactFreq]] only while the
    * stream is stopped.
    */
  def freqStream(input: DataFrame, freqDir: String, checkpoint: String,
      valueCol: String, capacity: Int = 64,
      groupCols: Seq[String] = Nil): StreamingQuery =
    microBatch(input, checkpoint) { (batch, _, own) =>
      graft.ops.SketchStats.appendFreqBatch(batch, valueCol, freqDir, own,
        capacity, groupCols)
    }

  /** Streaming count-min maintenance: every micro-batch appends its
    * bounded depth×width cell segment
    * ([[graft.ops.SketchStats.appendCmBatch]]); serving sums cells across
    * segments + min-probes ([[graft.ops.SketchStats.cmEstimates]])
    * between batches. A retry OVERWRITES its own `seg=` partition, so
    * the layout is idempotent — and like the freq/moments loops, NO
    * mid-stream compaction: cell counts are ADDITIVE, so a batch folded
    * into `base` and then replayed after a crash would double-count.
    * Compact with [[graft.ops.SketchStats.compactCm]] only while the
    * stream is stopped.
    */
  def cmStream(input: DataFrame, cmDir: String, checkpoint: String,
      keyCol: String, width: Int = 256, depth: Int = 4): StreamingQuery =
    microBatch(input, checkpoint) { (batch, _, own) =>
      graft.ops.SketchStats.appendCmBatch(batch, keyCol, cmDir, own, width, depth)
    }

  /** Streaming EXACT-distinct bitmap maintenance: every micro-batch
    * appends its compressed-bitmap segment
    * ([[graft.ops.SketchStats.appendBitmapBatch]]); serving OR-unions
    * segments only ([[graft.ops.SketchStats.bitmapDistinct]]). Bitmap
    * union is idempotent BY VALUE — a batch folded into `base` and then
    * replayed after a crash re-asserts the same set membership, never
    * double-counts — so, like the HLL loop and unlike the additive
    * histogram/moment/freq loops, mid-stream compaction is safe
    * (`compactEvery`).
    */
  def bitmapStream(input: DataFrame, bmDir: String, checkpoint: String,
      idCol: String, groupCols: Seq[String] = Nil,
      compactEvery: Int = 0): StreamingQuery =
    microBatch(input, checkpoint, Some((bmDir, "_merging"))) {
        (batch, batchId, own) =>
      val sp = batch.sparkSession
      val p = new Path(bmDir)
      if (compactionDue(compactEvery, batchId) &&
          p.getFileSystem(sp.sparkContext.hadoopConfiguration).exists(p))
        graft.ops.SketchStats.compactBitmap(sp, bmDir, groupCols)
      graft.ops.SketchStats.appendBitmapBatch(batch, idCol, bmDir, own, groupCols)
    }

  /** Streaming domain-ledger maintenance — split assignment AT INGEST:
    * every micro-batch folds hosts to registrable domains, assigns the
    * deterministic train/val bucket ([[graft.ops.CorpusOps.domainSplit]]
    * — stable under growth, so a later crawl of an old domain lands on
    * the old side), and appends its exact per-(domain, split) doc/token
    * counts as a `seg=<runKey>-<batchId>` partition
    * ([[graft.ops.CorpusOps.appendDomainLedgerBatch]]). Serving sums
    * segments only ([[graft.ops.CorpusOps.domainLedger]]) — integer
    * sums are additive, so the served ledger after each wave is exactly
    * a full pass over everything ingested so far (the hist/moments/freq
    * maintenance convention applied to the curation ledger).
    */
  def domainLedgerStream(docs: DataFrame, ledgerDir: String,
      checkpoint: String, hostCol: Column,
      tokensCol: Column): StreamingQuery =
    microBatch(docs, checkpoint) { (batch, _, own) =>
      graft.ops.CorpusOps.appendDomainLedgerBatch(batch, hostCol, tokensCol,
        ledgerDir, own)
    }

  // ---- the event row the windowed-event streams read --------------------

  final case class Event(user_id: Long, ts: java.sql.Timestamp, event_type: String, value: Double)

  // ---- streaming CUSUM drift monitor -------------------------------------

  final case class DriftEvent(user_id: Long, ts: java.sql.Timestamp,
      event_id: Long, value: Double, mu: Double, sd: Double)
  final case class DriftState(s: Double, sMax: Double, crossAt: Long, seen: Long)
  final case class DriftUpdate(user_id: Long, n_seen: Long, cusum: Double,
      cusum_max: Double, first_cross_t: Long, alarm: Boolean)

  /** The LIVE counterpart of the offline q179 CUSUM query: per-key Page
    * CUSUM S_t = max(0, S_{t-1} + (x_t − μ − 0.5σ)) with an alarm at
    * 4σ, maintained with flatMapGroupsWithState. Baseline μ/σ ride ON
    * THE ROWS (attach them with a stream-static join against the
    * warehouse baseline table — state stays O(1) per key and no driver
    * map is ever built). Within a batch rows fold in (ts, event_id)
    * order — the SAME total order the batch q179 windows sort by, so
    * equal-timestamp events fold deterministically instead of in
    * iterator arrival order (ADVICE r11) and a replayed in-order stream
    * computes EXACTLY the offline fold — the StreamingSpec parity
    * contract. Emits one update per (key, batch); `alarm` flags the
    * batch in which S first crossed.
    */
  def cusumDriftStream(events: Dataset[DriftEvent]): Dataset[DriftUpdate] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[DriftState, DriftUpdate](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (userId: Long, rows: Iterator[DriftEvent], state: GroupState[DriftState]) =>
          val evs = rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
          if (evs.isEmpty) Iterator.empty
          else {
            var st = state.getOption.getOrElse(DriftState(0.0, 0.0, 0L, 0L))
            val crossedBefore = st.crossAt > 0
            evs.foreach { e =>
              val sN = math.max(0.0, st.s + (e.value - e.mu - 0.5 * e.sd))
              val i = st.seen + 1
              val c = if (st.crossAt > 0) st.crossAt
                      else if (sN > 4.0 * e.sd) i else 0L
              st = DriftState(sN, math.max(st.sMax, sN), c, i)
            }
            state.update(st)
            Iterator(DriftUpdate(userId, st.seen, st.s, st.sMax, st.crossAt,
              alarm = !crossedBefore && st.crossAt > 0))
          }
      }
  }

  // ---- streaming funnel (CEP-lite) pattern matcher ----------------------

  final case class FunnelEvent(user_id: Long, ts: java.sql.Timestamp,
      event_id: Long, event_type: String)
  final case class FunnelState(stageAt: Seq[Long], matches: Long)
  final case class FunnelMatch(user_id: Long, matched_ts: java.sql.Timestamp,
      n_matches: Long)

  /** LIVE ordered-pattern detection — the streaming counterpart of the
    * batch funnel miners (q173 depth-2, q184 depth-3): emit a match
    * every time a user completes `pattern` (stage i strictly after
    * stage i−1, each hop within `horizonMs`). State is ONE timestamp
    * per prefix stage — the running "latest completion per prefix",
    * exactly the batch formulation's invariant (latest prefix
    * completion is optimal for the next hop), so state is O(k) per key
    * forever. Within a batch, events fold in (ts, event_id) order — the
    * batch miners' exact window order, so ts ties break
    * deterministically (ADVICE r11) — and stages update DESCENDING so
    * one event never completes two consecutive stages. A hop requires
    * `t >= prefix` as well as the horizon: a replayed OLDER event (a
    * later batch carrying a timestamp before the stored prefix) must
    * not complete a hop the batch definition — where the prefix is
    * always in the PRECEDING frame — could never see. Replayed in
    * order, matches equal the batch definition — the StreamingSpec
    * parity contract.
    */
  def funnelMatchStream(events: Dataset[FunnelEvent], pattern: Seq[String],
      horizonMs: Long): Dataset[FunnelMatch] = {
    require(pattern.size >= 2, s"pattern needs >= 2 stages, got $pattern")
    require(pattern.sliding(2).forall(p => p(0) != p(1)),
      s"consecutive stages must differ, got $pattern")
    import events.sparkSession.implicits._
    val k = pattern.size
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelState, FunnelMatch](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (userId: Long, rows: Iterator[FunnelEvent], state: GroupState[FunnelState]) =>
          val evs = rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
          if (evs.isEmpty) Iterator.empty
          else {
            val st = state.getOption.getOrElse(
              FunnelState(Seq.fill(k)(Long.MinValue), 0L))
            val stages = st.stageAt.toArray
            var matches = st.matches
            val out = Seq.newBuilder[FunnelMatch]
            evs.foreach { e =>
              val t = e.ts.getTime
              // descending: stage i reads stage i-1 as of BEFORE this event
              var i = k - 1
              while (i >= 1) {
                if (e.event_type == pattern(i) &&
                    stages(i - 1) != Long.MinValue &&
                    t >= stages(i - 1) &&
                    t - stages(i - 1) <= horizonMs) {
                  stages(i) = t
                  if (i == k - 1) {
                    matches += 1
                    out += FunnelMatch(userId, e.ts, matches)
                  }
                }
                i -= 1
              }
              if (e.event_type == pattern.head) stages(0) = t
            }
            state.update(FunnelState(stages.toSeq, matches))
            out.result().iterator
          }
      }
  }
}

package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.SortedIntersectSize.sortedIntersectSize
import graft.functions.MinHashExprs.{firstEqualIndex, minhashBandHashes, simhash64}

/** Large-scale text deduplication operators (the training-data-pipeline
  * surface): exact fingerprint dedup, exact pairwise Jaccard with blocking,
  * MinHash+LSH near-dup at scale, and SimHash.
  *
  * Everything is built from codegen'd Catalyst expressions (split/
  * transform/aggregate/xxhash64) — no UDFs, no driver-side loops. The LSH
  * path is the 100 TB design: candidate generation is a band-bucket
  * shuffle (linear in corpus + bucket joins), never an O(n²) cross join;
  * the exact-Jaccard verify only touches candidate pairs.
  */
object TextDedup {

  /** Distinct whitespace tokens of the text column, SORTED — sortedness
    * is established once per document so pairwise intersections can use
    * the codegen'd merge-scan [[graft.functions.SortedIntersectSize]]
    * instead of per-pair hash sets.
    */
  def tokens(text: Column): Column =
    array_sort(array_distinct(graft.core.Cols.wsTokens(text)))

  /** Word n-gram shingles (n consecutive tokens joined by space). Falls
    * back to whole-text single shingle when the doc is shorter than n.
    *
    * The token array is LET-BOUND through a one-element transform lambda
    * so it evaluates once per row: referencing the split directly inside
    * the per-shingle slice would re-inline it into every lambda
    * invocation — O(tokens²) split work per doc (measured 2-4x on the
    * trigram dedup path).
    */
  def shingles(text: Column, n: Int): Column =
    element_at(transform(array(graft.core.Cols.wsTokens(text)), tk =>
      when(size(tk) < n, array(concat_ws(" ", tk)))
        .otherwise(graft.functions.WordGramsExpr.wordGrams(tk, n))), 1)

  /** Distinct tokens (or n-gram shingles) hashed once to sorted 64-bit
    * values. Jaccard over the hashed set equals Jaccard over the strings
    * (xxhash64 is injective for any realistic corpus slice), and every
    * downstream pass — k minhash functions, pairwise intersections —
    * touches fixed-width longs instead of re-reading string bytes. This is
    * the representation all scale-path dedup operators run on.
    */
  def hashedTokenSet(text: Column, shingleLen: Int = 1): Column = {
    val set =
      if (shingleLen <= 1) array_distinct(graft.core.Cols.wsTokens(text))
      else array_distinct(shingles(text, shingleLen))
    array_sort(transform(set, t => xxhash64(t)))
  }

  /** Whitespace-normalized lowercase md5 fingerprint (exact dedup key). */
  def fingerprint(text: Column): Column =
    md5(lower(regexp_replace(trim(text), "\\s+", " ")))

  /** Exact dedup: keep the lowest-id row per fingerprint. One shuffle on
    * the fingerprint (same plan at any scale; AQE handles skewed dup
    * groups).
    */
  def exactDedup(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    requireRnFree(df)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(fingerprint(col(textCol)))
      .orderBy(col(idCol))
    df.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1).drop("_rn")
  }

  private def requireRnFree(df: DataFrame): Unit =
    require(!df.columns.contains("_rn"),
      "_rn is reserved by exactDedup/exactDedupBest as a temp column; rename it on the input")

  /** Incremental EXACT dedup of a new ingest batch against a persisted
    * fingerprint set (`fpIndex`: one `fp` string column, extra columns
    * ignored): within-batch lowest-id survivors whose fingerprint is new
    * to the corpus. The exact twin of [[incrementalNearDups]] — the
    * per-ingest production shape, ONE fingerprint window + ONE fp-keyed
    * anti-join; at 100 TB the index side is the corpus's distinct-doc
    * count in (fp, id) rows, never its text.
    */
  def incrementalExactDedup(newDocs: DataFrame, fpIndex: DataFrame,
      textCol: String, idCol: String): DataFrame =
    exactDedup(newDocs, textCol, idCol).join(
      fpIndex.select(col("fp").as("_pfp")),
      fingerprint(col(textCol)) === col("_pfp"), "left_anti")

  /** Quality-aware exact dedup: keep the BEST row per fingerprint group —
    * highest `scoreCol`, ties to the lowest id — instead of an arbitrary
    * survivor. The production pattern when duplicates differ in metadata
    * completeness or extraction quality (a truncated crawl copy and a
    * clean copy share a fingerprint after whitespace normalization; keep
    * the clean one). Same single fingerprint shuffle as [[exactDedup]].
    */
  def exactDedupBest(df: DataFrame, textCol: String, idCol: String,
      scoreCol: String): DataFrame = {
    requireRnFree(df)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(fingerprint(col(textCol)))
      .orderBy(col(scoreCol).desc, col(idCol))
    df.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1).drop("_rn")
  }

  /** Exact-Jaccard verification of already-joined (toks_a, toks_b) pairs:
    * sound size-ratio prefilter (J <= min/max size), then one codegen'd
    * merge-scan intersection per surviving pair
    * (|A∪B| = |A|+|B|-|A∩B| for distinct arrays — no union array built).
    */
  private def verifyJaccard(pairs: DataFrame, threshold: Double): DataFrame =
    pairs
      .filter(col("id_a") < col("id_b"))
      .filter(least(size(col("toks_a")), size(col("toks_b"))).cast("double") /
        greatest(size(col("toks_a")), size(col("toks_b"))) >= threshold)
      .withColumn("_i", sortedIntersectSize(col("toks_a"), col("toks_b")))
      .withColumn("jaccard",
        col("_i").cast("double") /
          (size(col("toks_a")) + size(col("toks_b")) - col("_i")))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")

  /** Exact pairwise n-gram Jaccard within blocking groups (`shingleLen` 1
    * = token sets, >1 = word shingles). Blocking keeps the join from being
    * a full cross product — at 100 TB the blocking key (language, length
    * band, shard) bounds each group.
    *
    * Join strategy is size-guarded: below `broadcastMaxRows` the right
    * side is broadcast (the block key is low-cardinality, so a plain
    * shuffle join would collapse parallelism to #blocks and skew); above
    * it the broadcast would OOM the driver, so the join switches to a
    * SALTED repartition join — the left side is hashed into `salts`
    * buckets, the right side replicated across them, restoring #blocks ×
    * salts parallelism with bounded per-task input. Same pairs either way.
    * (For truly web-scale corpora route to [[minhashNearDups]] — this
    * operator is the exact twin.)
    */
  def jaccardPairs(
      df: DataFrame, textCol: String, idCol: String, blockCol: String,
      threshold: Double, shingleLen: Int = 1,
      broadcastMaxRows: Long = 1000000L): DataFrame = {
    // shingle sets pre-hashed to sorted longs: Jaccard is unchanged, the
    // per-pair merge scan compares primitives instead of UTF8 strings
    val t = df.select(
      col(idCol).as("id"), col(blockCol).as("block"),
      hashedTokenSet(col(textCol), shingleLen).as("toks"))
    val a = t.select(col("id").as("id_a"), col("block"), col("toks").as("toks_a"))
    val b = t.select(col("id").as("id_b"), col("block"), col("toks").as("toks_b"))
    // one count job decides the strategy; Catalyst prunes the tokenizer
    // projection under count(*), so this is a near-free metadata scan
    val n = df.count()
    val joined =
      if (n <= broadcastMaxRows)
        a.repartition(a.sparkSession.sparkContext.defaultParallelism)
          .join(broadcast(b), Seq("block"))
      else {
        val salts = math.max(a.sparkSession.sparkContext.defaultParallelism, 8)
        a.withColumn("_salt", pmod(xxhash64(col("id_a")), lit(salts.toLong)))
          .join(b.withColumn("_salt",
            explode(sequence(lit(0L), lit(salts - 1L)))), Seq("block", "_salt"))
          .drop("_salt")
      }
    verifyJaccard(joined, threshold)
  }

  /** MinHash signature: k independent hash functions h_i(s) =
    * xxhash64(s, salt=i) minimized over the shingle set. One projection,
    * no shuffle.
    */
  def minhashSignature(sh: Column, k: Int): Column =
    transform(sequence(lit(0), lit(k - 1)),
      i => array_min(transform(sh, s => xxhash64(s, i))))

  /** The precomputable half of MinHash dedup: (id, bhs) band-hash
    * signatures. Signature computation is the expensive part (k rehashes
    * of every token of every document); persisting it turns corpus-scale
    * dedup into an incremental operation — see [[incrementalNearDups]].
    */
  def minhashSignatures(df: DataFrame, textCol: String, idCol: String,
      shingleLen: Int = 1, numHashes: Int = 128, bands: Int = 32): DataFrame =
    df.select(col(idCol).as("id"),
      minhashBandHashes(hashedTokenSet(col(textCol), shingleLen),
        numHashes, bands).as("bhs"))

  /** Signatures plus the params stamped as constant columns
    * (dictionary-encoded, ~free) so a params-mismatched probe fails
    * loudly instead of silently returning near-zero collisions.
    */
  private def stampedSignatures(df: DataFrame, textCol: String, idCol: String,
      shingleLen: Int, numHashes: Int, bands: Int): DataFrame =
    minhashSignatures(df, textCol, idCol, shingleLen, numHashes, bands)
      .withColumn("_shingle_len", lit(shingleLen))
      .withColumn("_num_hashes", lit(numHashes))
      .withColumn("_bands", lit(bands))

  /** Persist the signature index for a corpus (parquet), re-written
    * whole. Growing corpora append per ingest batch instead — see
    * [[appendMinhashIndexBatch]].
    */
  def writeMinhashIndex(df: DataFrame, textCol: String, idCol: String,
      path: String, shingleLen: Int = 1, numHashes: Int = 128,
      bands: Int = 32): Unit =
    stampedSignatures(df, textCol, idCol, shingleLen, numHashes, bands)
      .write.mode("overwrite").parquet(path)

  /** Append one ingest batch's signatures to the index, IDEMPOTENTLY
    * under retries: the batch writes (overwrite) its own
    * `path/batch=<id>` subdirectory, so a retried micro-batch replaces
    * its previous attempt instead of appending duplicate id rows — which
    * [[incrementalNearDups]] would reject as a corrupted index. Partition
    * discovery surfaces `batch` as an extra column on reads; probes
    * ignore it.
    */
  def appendMinhashIndexBatch(df: DataFrame, textCol: String, idCol: String,
      path: String, batchId: Long, shingleLen: Int = 1, numHashes: Int = 128,
      bands: Int = 32): Unit =
    appendMinhashIndexBatchKeyed(df, textCol, idCol, path, batchId.toString,
      shingleLen, numHashes, bands)

  /** [[appendMinhashIndexBatch]] with a caller-chosen STRING partition
    * key. Streaming uses `<runKey>-<batchId>`: micro-batch ids restart at
    * 0 whenever a stream gets a fresh checkpoint, so a long-lived index
    * fed by successive stream incarnations needs the incarnation in the
    * key or run N's batch 0 silently clobbers run 1's.
    */
  def appendMinhashIndexBatchKeyed(df: DataFrame, textCol: String, idCol: String,
      path: String, batchKey: String, shingleLen: Int = 1, numHashes: Int = 128,
      bands: Int = 32): Unit = {
    // "base" is the compacted-corpus partition: an append under that key
    // would mode("overwrite") the ENTIRE compacted index into one batch
    require(batchKey != "base",
      "batch key 'base' is reserved for compactMinhashIndex output")
    stampedSignatures(df, textCol, idCol, shingleLen, numHashes, bands)
      .write.mode("overwrite").parquet(s"$path/batch=$batchKey")
  }

  def readMinhashIndex(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame = spark.read.parquet(path)

  /** Compact a batch-appended MinHash index into a single `batch=base`
    * partition. Per-ingest appends leave one directory of (typically
    * small) files per batch; probes read them all, so listing and open
    * cost grows with batch count and never shrinks — the same lifecycle
    * hole segment merge closes for the search index. Signatures are
    * immutable rows, so compaction is a pure re-layout: read everything,
    * drop the partition key, cluster by id, rewrite as one partition
    * (one file per shuffle partition instead of per batch×task).
    *
    * Staged under `<path>_compacting` and swapped in only after the
    * write lands — a crashed compaction leaves the live index untouched
    * and a retry starts clean. A duplicated id (corrupt index) is
    * rejected BEFORE the write: compacting would fuse the duplicate
    * rows into one well-formed partition and hide the corruption from
    * the probe's own gate. Post-compaction appends keep using fresh
    * batch keys ("base" is reserved).
    *
    * Also the migration path from a FLAT [[writeMinhashIndex]] layout to
    * the batch layout the streaming loop requires: a flat index has no
    * `batch` column to drop and compacts to `batch=base` all the same.
    *
    * Run at stream-IDLE points only (between incarnations, or after the
    * last micro-batch commits): compacting between a streaming batch's
    * append and its checkpoint commit would fold that not-yet-committed
    * attempt into `base`, so the crash-retry would see its own rows as
    * prior corpus — spurious intra-batch pairs from the probe and a
    * false re-delivery rejection from the gate.
    */
  def compactMinhashIndex(spark: org.apache.spark.sql.SparkSession,
      path: String): Unit =
    compactBatchedIndexExcept(spark, path, Set.empty)

  /** [[compactMinhashIndex]] that carries `keepBatches` through unfolded
    * — see [[compactBatchedIndexExcept]] for why a running stream must
    * exclude its current micro-batch's partition.
    */
  def compactMinhashIndexExcept(spark: org.apache.spark.sql.SparkSession,
      path: String, keepBatches: Set[String]): Unit =
    compactBatchedIndexExcept(spark, path, keepBatches)

  /** Shared body of [[compactMinhashIndex]] and
    * [[graft.ops.VectorSim.compactSignIndex]] (both indexes are flat
    * signature rows under `path/batch=<key>`): folds every batch EXCEPT
    * `keepBatches`, which are carried into the compacted index unchanged
    * (byte-copied into the stage — a rename out of the live dir would
    * mutate it before the swap). This is what makes compaction safe INSIDE a
    * running dedup stream: the current micro-batch's own partition may
    * be an uncommitted crashed attempt, and folding it into `base`
    * would make the retry's own-batch exclusion miss those rows —
    * spurious intra-batch pairs and a false re-delivery rejection.
    * Duplicate-id validation runs across ALL batches, kept ones
    * included.
    */
  private[ops] def compactBatchedIndexExcept(
      spark: org.apache.spark.sql.SparkSession, path: String,
      keepBatches: Set[String]): Unit = {
    import org.apache.spark.sql.functions.{col, count, lit}
    require(!keepBatches.contains("base"), "the base partition is always folded")
    val livePath = new org.apache.hadoop.fs.Path(path)
    val tmpPath = new org.apache.hadoop.fs.Path(path + "_compacting")
    val fs = livePath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // recovery-first: a crash between the delete and the rename below
    // leaves the only copy in the stage dir — promote it, never wipe it
    StagedSwap.recoverOrClearStage(fs, livePath, tmpPath)
    val df = spark.read.parquet(path)
    val batched = df.columns.contains("batch")
    require(batched || keepBatches.isEmpty,
      s"$path is a flat index — there are no batch partitions to keep")
    val dup = (if (batched) df.drop("batch") else df)
      .groupBy("id").agg(count(lit(1)).as("_n"))
      .filter(col("_n") > 1).select("id").take(1)
    require(dup.isEmpty,
      s"index at $path holds duplicate id ${dup.headOption.map(_.get(0)).orNull}; " +
        "compacting would hide the corruption — repair with dropDuplicates(\"id\") " +
        "and a write-to-new-path swap instead")
    val clean =
      if (!batched) df
      else if (keepBatches.isEmpty) df.drop("batch")
      else df.filter(!col("batch").cast("string").isin(keepBatches.toSeq: _*))
        .drop("batch")
    clean.repartition(col("id"))
      .write.mode("overwrite").parquet(s"$tmpPath/batch=base")
    keepBatches.foreach { k =>
      val src = new org.apache.hadoop.fs.Path(s"$path/batch=$k")
      if (fs.exists(src)) {
        val ok = org.apache.hadoop.fs.FileUtil.copy(fs, src, fs,
          new org.apache.hadoop.fs.Path(s"$tmpPath/batch=$k"),
          false, spark.sparkContext.hadoopConfiguration)
        require(ok, s"copying kept batch $src into the compaction stage failed")
      }
    }
    StagedSwap.swap(fs, livePath, tmpPath)
  }

  /** Incremental near-dup detection: LSH candidate pairs between a NEW
    * ingest batch and the EXISTING corpus's persisted signature index —
    * the shape a 100 TB pipeline actually runs per ingest (recomputing
    * corpus signatures per batch would be quadratic over the corpus's
    * lifetime). Emits (id_new, id_old) exactly once per colliding pair:
    * the bucket join produces a pair once per shared band, and the
    * first-colliding-band filter ([[graft.functions.FirstEqualIndex]])
    * keeps only the copy whose band is the pair's first collision —
    * no pairs-sized dedup shuffle, same trick as [[minhashNearDups]].
    * Signature params must match those the index was written with, and
    * index ids must be unique — a duplicated id (retried append) is a
    * corrupted index, and the probe REJECTS it loudly on both the capped
    * and uncapped paths. Repair at index-maintenance time: read,
    * `dropDuplicates("id")`, write to a NEW path and swap — Spark refuses
    * to overwrite a path it is reading. The pairs are materialized only
    * when the probe persisted the index itself (see below); else the
    * caller's first action runs the probe.
    */
  def incrementalNearDups(newDocs: DataFrame, index: DataFrame,
      textCol: String, idCol: String, shingleLen: Int = 1,
      numHashes: Int = 128, bands: Int = 32,
      maxBucket: Int = 1000, validateIds: Boolean = true): DataFrame = {
    val spark = newDocs.sparkSession
    // a params-stamped index (writeMinhashIndex) must match the probe's
    // params — a mismatch chains different signature slices and silently
    // returns near-zero collisions; the bucket gate below checks it
    val stamps = if (!index.columns.contains("_bands")) Nil
      else Seq("_shingle_len" -> shingleLen, "_num_hashes" -> numHashes, "_bands" -> bands)
    val idx = index.drop(stamps.map(_._1): _*)
    // The gate aggregate below and the candidate join both read the index
    // signatures. A bare table/file scan re-reads cheaply (column-pruned),
    // and so does a caller-cached index (its scan substitutes to an
    // InMemoryRelation, which isBareScan treats as bare); anything with
    // real computation on top (an in-memory minhashSignatures plan) would
    // recompute the expensive signature projection twice, so only THAT
    // case persists.
    val ownPersist = index.storageLevel == org.apache.spark.storage.StorageLevel.NONE &&
      !isBareScan(index.queryExecution.optimizedPlan)
    if (ownPersist) index.persist()
    try {
      // id-uniqueness gate: a duplicated index id would multiply pair
      // rows (uncapped) or corrupt the capped path's counts — fail
      // loudly instead, identically on both paths. A full pass over the
      // index's ids, so callers that guarantee uniqueness (the streaming
      // loop: each batch overwrites its OWN batch=<id> partition) may
      // pass validateIds = false to keep it off the per-ingest path.
      if (validateIds) {
        val dup = idx.groupBy("id").agg(count(lit(1)).as("_n"))
          .filter(col("_n") > 1).select("id").take(1)
        require(dup.isEmpty,
          s"index contains duplicate id ${dup.headOption.map(_.get(0)).orNull} " +
            "(retried append?); repair the index with dropDuplicates(\"id\") " +
            "and a write-to-new-path swap before probing")
      }
      val fresh = minhashSignatures(newDocs, textCol, idCol,
        shingleLen, numHashes, bands)
      val a = fresh.select(col("id").as("id_new"), col("bhs").as("bhs_new"),
        posexplode(col("bhs")).as(Seq("band", "bh")))
      val bAll = idx.select(col("id").as("id_old"), col("bhs").as("bhs_old"),
        posexplode(col("bhs")).as(Seq("band", "bh")))

      // viral-duplicate guard, same effective-band-array design as
      // minhashNearDups: only when a bucket this batch hits exceeds
      // maxBucket do we cap its membership (rank by id) and null the
      // capped-out bands in each affected old doc's band array, so the
      // first-collision filter stays EXACT with no pairs-keyed dedup
      // shuffle. The new side is never capped (it would drop incoming
      // dups). The gate semi-joins the index's band rows to the batch's
      // band hashes before the groupBy, so its input grows with the batch,
      // not the corpus, with the pairs of counting every bucket: a pair
      // only comes from a bucket the batch hits, and a band it misses never
      // equals a new doc's, nulled or not. A band hash is seeded with its
      // band, so `bh` alone names the bucket (a collision only lets an
      // untouched bucket in) and keeps the broadcast a LongHashedRelation:
      // a (band, bh) key's relation held ~15 MB more heap. An index row
      // stamped with other params keys into the sentinel bucket (-1, 0),
      // which the batch side holds, so the stamp check rides the same job
      // whatever the row collides with. The one collect returns the
      // sentinel and the over-cap buckets (the capped path broadcasts them).
      val stampCols = stamps.map(s => col(s._1))
      val ok = stamps.map { case (s, v) => col(s) === v }.foldLeft(lit(true))(_ && _)
      val flagged = graft.core.JobLedger.step(spark, "bucket gate") {
        index.select(posexplode(col("bhs")).as(Seq("band", "bh")) +: stampCols: _*)
          .select(Seq(when(ok, col("band")).otherwise(-1).as("band"),
            when(ok, col("bh")).otherwise(0L).as("bh")) ++ stampCols: _*)
          .join(a.select("bh").union(spark.range(1).select(lit(0L))), Seq("bh"), "left_semi")
          .groupBy("band", "bh").agg(count(lit(1)).as("_c"),
            stampCols.flatMap(c => Seq(min(c), max(c))): _*)
          .filter(col("band") < 0 || col("_c") > maxBucket).collect()
      }
      val mismatch = flagged.find(_.getInt(0) < 0)
      require(mismatch.isEmpty, {
        val w = stamps.indices.map(i => Seq(3, 4).map(k => mismatch.get.get(k + 2 * i))
          .distinct.mkString(".."))
        s"index was written with (shingleLen=${w(0)}, numHashes=${w(1)}, " +
          s"bands=${w(2)}), probe uses ($shingleLen, $numHashes, $bands)"
      })
      val b = if (flagged.isEmpty) bAll
      else {
        val oversized = spark.createDataFrame(
          flagged.toSeq.map(r => (r.getInt(0), r.getLong(1)))).toDF("band", "bh")
        val wb = org.apache.spark.sql.expressions.Window
          .partitionBy("band", "bh").orderBy("id_old")
        // cappedOut/cappedEff are NOT broadcast-hinted: a mega viral
        // cluster makes them (cluster − cap) rows, so AQE must be free to
        // fall back to a shuffle join — still bounded by total viral
        // excess, never index×bands
        val cappedOut = bAll.select("id_old", "band", "bh")
          .join(broadcast(oversized), Seq("band", "bh"))
          .withColumn("_brn", row_number().over(wb))
          .filter(col("_brn") > maxBucket)
          .groupBy("id_old").agg(collect_set(col("band")).as("_ob"))
        // nulled arrays built ONCE PER CAPPED DOC and joined back as
        // materialized data — the join boundary pins the (non-codegen)
        // higher-order lambda below the explode fan-out; inlining it above
        // the explode re-evaluates it per membership row per reference
        // (see minhashNearDups, measured 4× slower)
        val cappedEff = idx.select(col("id").as("id_old"), col("bhs"))
          .join(cappedOut, Seq("id_old"))
          .select(col("id_old"), transform(col("bhs"),
            (bh, bd) => when(!array_contains(col("_ob"), bd), bh)).as("_cebhs"))
        idx.select(col("id").as("id_old"), col("bhs"),
            posexplode(col("bhs")).as(Seq("band", "bh")))
          .join(cappedEff, Seq("id_old"), "left")
          .withColumn("bhs_old", coalesce(col("_cebhs"), col("bhs")))
          .filter(element_at(col("bhs_old"), col("band") + 1).isNotNull)
          .select(col("id_old"), col("bhs_old"), col("band"), col("bh"))
      }
      val pairs = a.join(b, Seq("band", "bh"))
        .filter(col("id_new") =!= col("id_old"))
        .filter(firstEqualIndex(col("bhs_new"), col("bhs_old")) === col("band"))
        .select("id_new", "id_old")
      // materialize so the index cache can drop HERE (same lifecycle
      // pattern as minhashNearDups/cosineNearDups)
      if (ownPersist) graft.core.JobLedger.step(spark, "probe")(pairs.localCheckpoint(true))
      else pairs
    } finally {
      if (ownPersist) index.unpersist(false)
    }
  }

  /** A plan that is just a (possibly projected/filtered) scan of stored
    * or cached data — re-reading it costs one pruned pass, so persisting
    * it would only add a corpus-sized materialization. Covers V1 file
    * relations, V2 (Delta/Iceberg-style) relations, Hive tables, and
    * already-cached data (InMemoryRelation).
    */
  private[ops] def isBareScan(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Boolean =
    p match {
      case prj: org.apache.spark.sql.catalyst.plans.logical.Project => isBareScan(prj.child)
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter => isBareScan(f.child)
      case _: org.apache.spark.sql.execution.datasources.LogicalRelation => true
      case _: org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation => true
      case _: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation => true
      case _: org.apache.spark.sql.catalyst.catalog.HiveTableRelation => true
      case _: org.apache.spark.sql.execution.columnar.InMemoryRelation => true
      case _ => false
    }

  /** Full MinHash-LSH near-dup pipeline: hashed token set → band hashes →
    * candidate pairs (bucket self-join) → exact-Jaccard verification.
    * Returns verified pairs (id_a < id_b, jaccard >= threshold).
    *
    * Scale design:
    * - Signature + banding is ONE codegen'd projection
    *   ([[graft.functions.MinHashBandHashes]]); tokens are hashed to longs
    *   once, so the k hash functions cost k fixed-width rehashes.
    * - NO pair dedup shuffle. A pair colliding in m of the `bands` buckets
    *   would classically be produced m times and deduplicated with a
    *   pairs-sized `dropDuplicates`; instead each bucket row carries the
    *   doc's full band-hash array and the join keeps a pair only in its
    *   FIRST colliding band (`first_equal_index` = band) — a per-row
    *   filter that exits on the first comparison, deduplicating without
    *   any shuffle of the (quadratic) candidate set.
    * - Verification data (the hashed token set) rides along on the bucket
    *   rows, so verification happens inside the candidate join's stage —
    *   no join back to the corpus. Bucket rows are docs×bands, i.e. linear.
    * - Bucket skew (a viral duplicate cluster): `maxBucket` caps members
    *   per bucket BEFORE pair generation, exactly like production dedup
    *   caps cluster size; the cap is applied to the carried band-hash
    *   arrays too (capped entries nulled), so first-collision semantics
    *   stay exact under capping. AQE skew-join splits what remains.
    */
  def minhashNearDups(
      df: DataFrame, textCol: String, idCol: String,
      threshold: Double = 0.5, shingleLen: Int = 1,
      numHashes: Int = 128, bands: Int = 32,
      maxBucket: Int = 1000): DataFrame = {
    // signature and verification use the SAME set (shingleLen-gram set);
    // mixing measures (e.g. 3-shingle signature, token verify) silently
    // destroys recall because the bands then model a different similarity
    val docs = df.select(col(idCol).as("id"),
      hashedTokenSet(col(textCol), shingleLen).as("hs"))
      .withColumn("bhs", minhashBandHashes(col("hs"), numHashes, bands))
    docs.persist() // read 3× below; linear in corpus, spills to disk at scale

    // cap gate: ONE per-bucket count aggregate over (band, bh) —
    // partial-aggregated map-side, so it shuffles one count per distinct
    // bucket, not the membership rows. The counts serve double duty: the
    // global max decides WHETHER to cap, and the over-cap subset (tiny —
    // only viral duplicate clusters exceed maxBucket) is exactly the set
    // of buckets the cap must touch. In the common uncapped case the
    // doc's own `bhs` IS its effective band-hash array.
    val bucketed = docs.select(col("id"), posexplode(col("bhs")).as(Seq("band", "bh")))
    val counts = bucketed.groupBy("band", "bh").agg(count(lit(1)).as("_c"))
    counts.persist() // read twice below (max gate + oversized filter); 1 row/bucket
    // global max over ZERO buckets (empty corpus slice, or all-null text
    // dropped by posexplode) aggregates to a null row — treat as uncapped
    val maxRow = counts.agg(max(col("_c"))).first()
    val maxBucketSize = if (maxRow.isNullAt(0)) 0L else maxRow.getLong(0)

    // bucket rows stay LEAN (band, bh, id, ebhs): the bucket self-join
    // evaluates |bucket|² rows per bucket, so every byte carried there is
    // copied quadratically many times — token sets are joined back only
    // for the surviving (deduplicated) candidates
    val entries = if (maxBucketSize <= maxBucket) {
      docs.select(col("id"), col("bhs").as("ebhs"),
        posexplode(col("bhs")).as(Seq("band", "bh")))
    } else {
      // Cap only where needed: rank-by-id ONLY inside the oversized
      // buckets (a broadcast semi-join bounds the window's shuffle+sort to
      // the viral rows, not the whole corpus×bands explosion), collect the
      // rare capped-OUT (id, band) memberships per doc, and null exactly
      // those bands out of the affected docs' `bhs` — so first_equal_index
      // only matches bands where BOTH docs actually survived, without a
      // corpus×bands effective-array rebuild.
      val oversized = counts.filter(col("_c") > maxBucket).select("band", "bh")
      val wb = org.apache.spark.sql.expressions.Window
        .partitionBy("band", "bh").orderBy("id")
      // cappedOut/cappedEff are NOT broadcast-hinted: a mega viral cluster
      // makes them (cluster − cap) rows, so AQE must be free to fall back
      // to a shuffle join — still bounded by total viral excess, never
      // corpus×bands
      val cappedOut = bucketed.join(broadcast(oversized), Seq("band", "bh"))
        .withColumn("_brn", row_number().over(wb))
        .filter(col("_brn") > maxBucket)
        .groupBy("id").agg(collect_set(col("band")).as("_ob"))
      // nulled arrays built ONCE PER CAPPED DOC and joined back as
      // materialized data. Computing them inline above the explode looks
      // equivalent but is 4× slower: CollapseProject merges the lambda
      // into the post-explode projection AND the survivors filter, so the
      // (non-codegen) higher-order transform re-evaluates per membership
      // row per reference instead of per doc — measured 1.9s → 7.3s on
      // the sf0.1 candidate join. The join boundary is the materialization
      // barrier that pins the lambda below the fan-out.
      val cappedEff = docs.join(cappedOut, Seq("id"))
        .select(col("id"), transform(col("bhs"),
          (bh, b) => when(!array_contains(col("_ob"), b), bh)).as("_cebhs"))
      docs.select(col("id"), col("bhs"),
          posexplode(col("bhs")).as(Seq("band", "bh")))
        .join(cappedEff, Seq("id"), "left")
        .withColumn("ebhs", coalesce(col("_cebhs"), col("bhs")))
        .filter(element_at(col("ebhs"), col("band") + 1).isNotNull)
        .select(col("id"), col("ebhs"), col("band"), col("bh"))
    }
    val l = entries.select(col("band"), col("bh"), col("id").as("id_a"),
      col("ebhs").as("ebhs_a"))
    val r = entries.select(col("band"), col("bh"), col("id").as("id_b"),
      col("ebhs").as("ebhs_b"))
    val candidates = l.join(r, Seq("band", "bh"))
      .filter(col("id_a") < col("id_b"))
      .filter(firstEqualIndex(col("ebhs_a"), col("ebhs_b")) === col("band"))
      .select("id_a", "id_b")

    // verify once per candidate: two equi-joins against the corpus hash
    // sets (Catalyst broadcasts while the corpus side is small; sort-merge
    // at scale), then the shared size-prefilter + merge-scan verification
    val ta = docs.select(col("id").as("id_a"), col("hs").as("toks_a"))
    val tb = docs.select(col("id").as("id_b"), col("hs").as("toks_b"))
    val pairs = verifyJaccard(candidates.join(ta, "id_a").join(tb, "id_b"), threshold)

    // materialize (lineage-truncating local checkpoint, cleaned by the
    // ContextCleaner when the result is GC'd) so the corpus-sized cache
    // can be dropped HERE instead of leaking across queries in a
    // long-lived session; the checkpointed result is just the pairs
    val out = pairs.localCheckpoint(true)
    docs.unpersist(false)
    counts.unpersist(false)
    out
  }

  /** MinHash-LSH duplicate CLUSTERING — the form a 100 TB dedup actually
    * runs. Listing all near-dup pairs is quadratic in cluster size (a
    * 10k-copy boilerplate cluster is 50M pairs); for dedup you only need
    * a representative per cluster. Each LSH bucket contributes a STAR
    * (bucket-min id <- member), linear in bucket size, and iterated
    * min-label propagation over the star edges converges to connected
    * components. Returns (id, cluster_rep); keep rows where
    * id == cluster_rep.
    *
    * Note: candidates are LSH-level (no Jaccard verification) — exactly
    * how production near-dedup treats band collisions; tune bands/rows
    * for the target threshold.
    */
  def minhashDedupClusters(
      df: DataFrame, textCol: String, idCol: String,
      numHashes: Int = 128, bands: Int = 32,
      maxIterations: Int = 10): DataFrame = {
    val docs = minhashSignatures(df, textCol, idCol,
      numHashes = numHashes, bands = bands)
    val buckets = docs
      .select(col("id"), posexplode(col("bhs")).as(Seq("band", "bh")))

    // star edges: every member points at its bucket's minimum id — linear
    // in bucket size (Components symmetrizes them so labels flow both
    // member->rep and rep->member; otherwise two buckets linked through a
    // shared member never merge)
    val bucketMin = org.apache.spark.sql.expressions.Window.partitionBy("band", "bh")
    val edges = buckets
      .withColumn("rep", min(col("id")).over(bucketMin))
      .filter(col("id") =!= col("rep"))
      .select(col("id").as("src"), col("rep").as("dst")).dropDuplicates()

    Components.connectedComponents(docs.select("id"), edges, maxIterations)
  }

  /** 64-bit SimHash of the text's token set: bit j of the hash is set
    * when the sum of ±1 contributions (per-token hash bit j) is positive.
    * One codegen'd pass ([[graft.functions.SimHash64]]) — the equivalent
    * `aggregate()` formulation evaluates 64 interpreted lambdas per token.
    */
  def simhash(text: Column): Column = simhash64(hashedTokenSet(text))

  /** SimHash near-dup pairs: candidates share one of four 16-bit chunks
    * (any pair within Hamming distance <= maxHamming and uniform bit error
    * collides on >= 1 chunk with high probability), verified with exact
    * popcount of the XOR.
    *
    * A pair colliding on m chunks is produced m times by the chunk join;
    * instead of a pairs-sized `dropDuplicates` shuffle, each copy checks
    * whether ITS chunk is the pair's FIRST colliding chunk — computable
    * per-row from the two full hashes — so exactly one copy survives.
    * Same trick as the MinHash path's first-colliding-band filter.
    */
  def simhashNearDups(
      df: DataFrame, textCol: String, idCol: String,
      maxHamming: Int = 3): DataFrame = {
    val base = df
      .select(col(idCol).as("id"), simhash(col(textCol)).as("sh"))
    val chunks = base.select(col("id"), col("sh"),
      explode(array((0 until 4).map { c =>
        struct(lit(c).as("chunk"),
          shiftright(col("sh"), c * 16).bitwiseAND(0xFFFFL).as("ch"))
      }: _*)).as("c"))
      .select(col("id"), col("sh"), col("c.chunk").as("chunk"), col("c.ch").as("ch"))
    val l = chunks.select(col("chunk"), col("ch"), col("id").as("id_a"), col("sh").as("sh_a"))
    val r = chunks.select(col("chunk"), col("ch"), col("id").as("id_b"), col("sh").as("sh_b"))
    // smallest chunk index where the two hashes agree on all 16 bits
    val firstCollidingChunk = (0 until 4).reverse
      .foldLeft(lit(-1)) { (acc, c) =>
        when(shiftright(col("sh_a"), c * 16).bitwiseAND(0xFFFFL) ===
          shiftright(col("sh_b"), c * 16).bitwiseAND(0xFFFFL), c).otherwise(acc)
      }
    l.join(r, Seq("chunk", "ch"))
      .filter(col("id_a") < col("id_b"))
      .filter(col("chunk") === firstCollidingChunk)
      .withColumn("hamming", bit_count(col("sh_a").bitwiseXOR(col("sh_b"))))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
  }

  /** Exact-substring near-dup pairs via winnowing
    * (Schleimer/Wilkerson/Aiken — the MOSS scheme; also the blocking idea
    * behind suffix-style exact-substring training-data dedup): each doc
    * keeps its winnow-SELECTED char `k`-grams (the per-window hash minima,
    * computed by the O(n) fused [[graft.functions.WinnowSelect]] kernel),
    * and a pair is reported when the two docs share at least `minShared`
    * selected grams — compared as STRINGS, so the report is exact, never a
    * hash-collision artifact.
    *
    * Guarantee (winnowing): two docs sharing a substring of
    * >= w + k - 1 chars both select the same gram inside it, so every such
    * pair appears with n_shared >= 1 (contract-tested).
    *
    * Scale shape: selected grams are ~2/(w+1) of all grams, so the
    * exploded (id, gram) set is a fraction of corpus bytes; pairs are
    * blocked on the gram string and enumerated row-locally from the
    * per-gram posting array. `maxDf` drops grams selected in more docs
    * than the cap BEFORE the posting collect (boilerplate/viral grams
    * would otherwise square); the df count, the cap and the collect all
    * ride ONE gram-keyed shuffle. Output: (id_a, id_b, n_shared).
    */
  def winnowDupPairs(df: DataFrame, textCol: String, idCol: String,
      k: Int = 12, w: Int = 10, minShared: Int = 2,
      maxDf: Int = 1000): DataFrame = {
    val sel = df
      .select(col(idCol).as("id"),
        explode(graft.functions.WinnowExprs
          .winnowSelectGrams(col(textCol), k, w)).as("gram"))
    // Pairs enumerate ROW-LOCALLY from the per-gram sorted id array
    // (r17, guide §2.3 — the q142 basket-array shape): the previous
    // gram-keyed SELF-JOIN emitted BOTH orientations of every occurrence
    // pair and filtered half away; the posting array emits each i<j pair
    // once, join-free. The df-cap stays a WINDOW BEFORE the collect so
    // no task ever materializes a posting list past maxDf (a stop-gram's
    // 10⁹-doc list must be dropped, not collected — WindowExec buffers
    // each gram group in a SPILLABLE row buffer, where a collect_list
    // aggregation buffer for the same group would live in task memory);
    // the post-window collect then reuses the same gram partitioning —
    // zero added exchanges. The gram exchange is fanned explicitly (the
    // q201 reducer-sizing rule): its post-shuffle work EXPLODES into
    // C(df,2) pairs per gram, which AQE's pre-explode size estimate
    // cannot see — measured at sf0.1, AQE coalesced it to ONE 10.5 s
    // task. The a < b filter keeps strictness when a doc selected the
    // same gram at several positions (sorted array ⇒ a <= b; occurrence
    // multiplicity preserved identically to the join, which also paired
    // occurrences).
    val aggParts = math.max(
      df.sparkSession.sparkContext.defaultParallelism * 5,
      df.sparkSession.sessionState.conf.numShufflePartitions)
    val winDf = org.apache.spark.sql.expressions.Window.partitionBy("gram")
    sel.repartition(aggParts, col("gram"))
      .withColumn("_df", count(lit(1)).over(winDf))
      .filter(col("_df").between(2, maxDf)).select("id", "gram")
      .groupBy("gram")
      .agg(sort_array(collect_list(col("id"))).as("ids"))
      .select(explode(Itemsets.pairCombos(col("ids"))).as("p"))
      .filter(col("p.a") < col("p.b"))
      .select(col("p.a").as("id_a"), col("p.b").as("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  // --------------------------------------------------------------------
  // Persisted fingerprint BLOOM index: membership pruning for incremental
  // exact dedup. At 100 TB the authoritative fingerprint set is billions
  // of (fp) rows; every ingest batch anti-joining it shuffles the batch
  // against the whole index. A Bloom filter over the SAME fingerprints is
  // a few GiB of bits that answer "definitely new" per row with zero
  // shuffle — only the (typically tiny) maybe-duplicate remainder pays
  // the exact anti-join. No false negatives, so the pruned path is
  // bit-identical to the exact path (contract-tested + oracled, q101).
  // --------------------------------------------------------------------

  /** 64-bit probe key for the Bloom side: xxhash64 of the exact-dedup
    * fingerprint. Probing longs (not md5 strings) keeps the per-row cost
    * at integer hashing, and the fp -> long mapping is the same Catalyst
    * expression on both build and probe side by construction.
    */
  def fpProbeKey(text: Column): Column = xxhash64(fingerprint(text))

  /** Build + persist one Bloom segment over a batch's fingerprints,
    * idempotently under retries (each batch owns `path/seg=<key>`,
    * mode-overwrite). The filter is built by the distributed
    * `stat.bloomFilter` aggregation (map-side bit ORs; the driver holds
    * only the final ~`optimalNumOfBits(expected, fpp)/8` bytes — e.g.
    * 1.2 GiB for 10^9 fps at 1% fpp, a bounded, configured cost — and the
    * bit array is merge-order-independent, so the bytes are deterministic
    * under AQE/partitioning). Segments store (bits, n, expected, fpp):
    * params are enforced compatible at read time so OR-merge can never
    * silently mix filter geometries.
    */
  def writeFpBloomSegment(docs: DataFrame, textCol: String, path: String,
      segKey: String, expectedItems: Long, fpp: Double = 0.01): Unit = {
    require(segKey.nonEmpty, "empty Bloom segment key")
    val spark = docs.sparkSession
    val keyed = docs.select(fpProbeKey(col(textCol)).as("k"))
    // stat.bloomFilter NPEs on zero rows (its aggregate yields null) —
    // an all-duplicates ingest batch is a legitimate empty segment, so
    // build the same-geometry filter with zero insertions instead
    val bloom =
      if (keyed.isEmpty)
        org.apache.spark.util.sketch.BloomFilter.create(expectedItems, fpp)
      else keyed.stat.bloomFilter("k", expectedItems, fpp)
    val out = new java.io.ByteArrayOutputStream()
    bloom.writeTo(out)
    import spark.implicits._
    Seq((out.toByteArray, expectedItems, fpp))
      .toDF("bits", "expected_items", "fpp")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/seg=$segKey")
  }

  /** Read and OR-merge all persisted Bloom segments into one in-memory
    * filter. Loud on geometry mismatch (different expected/fpp across
    * segments — `mergeInPlace` would throw IncompatibleMergeException
    * anyway; the params check names the offending segment first).
    */
  def readFpBloom(spark: org.apache.spark.sql.SparkSession,
      path: String): org.apache.spark.util.sketch.BloomFilter = {
    val segs = spark.read.parquet(path)
      .select("bits", "expected_items", "fpp", "seg").collect()
    require(segs.nonEmpty, s"no Bloom segments under $path")
    val geoms = segs.map(r => (r.getLong(1), r.getDouble(2))).distinct
    require(geoms.length == 1,
      s"incompatible Bloom segment geometries under $path: " +
        segs.map(r => s"seg=${r.get(3)} (expected=${r.getLong(1)}, fpp=${r.getDouble(2)})")
          .mkString(", "))
    segs.map(r => org.apache.spark.util.sketch.BloomFilter
        .readFrom(r.getAs[Array[Byte]](0)))
      .reduce((a, b) => a.mergeInPlace(b))
  }

  /** [[incrementalExactDedup]] with Bloom pruning: within-batch lowest-id
    * survivors split on a broadcast Bloom probe; provably-new rows (probe
    * false => never inserted) BYPASS the index entirely, only
    * maybe-duplicate rows anti-join the authoritative fingerprint set.
    * Bit-identical output to the unpruned path — the Bloom can only
    * over-admit into the anti-join, never under-admit past it.
    *
    * This is Spark's runtime row-level-filter pattern (bloom build +
    * might_contain probe) applied to a PERSISTED index: at 100 TB the
    * probe is a codegen'd bit test per row, and for a mostly-novel batch
    * the expensive fp-keyed shuffle sees ~fpp of the batch.
    */
  def bloomPrunedIncrementalExactDedup(newDocs: DataFrame, fpIndex: DataFrame,
      bloom: org.apache.spark.util.sketch.BloomFilter,
      textCol: String, idCol: String): DataFrame = {
    val fresh = exactDedup(newDocs, textCol, idCol)
    val mayDup = graft.functions.BloomExprs
      .bloomMightContain(fpProbeKey(col(textCol)), bloom)
    val definiteNew = fresh.filter(!mayDup)
    val candidates = fresh.filter(mayDup).join(
      fpIndex.select(col("fp").as("_pfp")),
      fingerprint(col(textCol)) === col("_pfp"), "left_anti")
    definiteNew.unionByName(candidates)
  }

  /** WITHIN-document repeated-span scrub (the intra-document half of
    * Lee et al. 2022, "Deduplicating Training Data Makes Language Models
    * Better"): boilerplate and templating repeat long spans INSIDE a
    * single document, and cross-doc dedup (winnowing q83, MinHash q38)
    * never sees them. Every word `k`-gram occurrence whose gram text
    * already occurred earlier in the same document marks its k token
    * positions as repeated; the scrubbed text keeps exactly the tokens
    * not covered by any such non-first occurrence — the first copy of a
    * repeated span survives, later copies are removed (the paper's
    * keep-first convention), and spans shorter than k tokens are never
    * touched.
    *
    * Output: (idCol, n_tokens, n_repeat_positions, scrubbed_text), with
    * scrubbed_text whitespace-normalized (tokens re-joined by ' ').
    *
    * Shape: ROW-LOCAL — zero shuffles, zero joins; the whole operator is
    * one codegen'd projection, so it scales to 100 TB as a pure map over
    * whatever partitioning the corpus already has. Per doc the cost is
    * O(n log n): instead of probing each gram against all earlier grams
    * (quadratic on a 10^5-token document), the gram list is sorted once
    * as (gram, position) structs and a non-first occurrence is detected
    * by comparing each entry to its sorted predecessor — ties sort by
    * position, so the first occurrence heads each equal-run. Every array
    * (tokens, grams, sorted grams, covered positions) is let-bound to a
    * real column before lambdas reference it, per this file's
    * re-evaluation lesson.
    */
  /** FUZZY decontamination (the GPT-3 appendix-style near-duplicate
    * eval-overlap filter): flag every train doc whose word-shingle-set
    * Jaccard against ANY eval doc clears `threshold` — the fuzzy
    * complement of the exact n-gram overlap in
    * [[graft.ops.CorpusOps.contamination]] (q68), catching lightly
    * paraphrased or partially-copied benchmark text an exact gram match
    * misses.
    *
    * Candidate generation is COMPLETE by construction: Jaccard > 0
    * requires at least one shared shingle, so candidates = the equi-join
    * of train shingle postings against the BROADCAST eval postings (an
    * eval benchmark is thousands of docs — kilobytes-to-megabytes of
    * postings, driver-safe), and the exact merge-scan verify touches
    * candidates only. A size-ratio prefilter discards pairs that cannot
    * reach the threshold before the intersection runs. Never all-pairs:
    * corpus-sized work is one explode + one broadcast-hash join.
    *
    * Returns (id_t, id_e, jaccard) flagged pairs; survivors = train
    * ANTI JOIN this on id_t.
    */
  def fuzzyDecontaminate(train: DataFrame, evalSet: DataFrame,
      idCol: String, textCol: String, threshold: Double,
      shingleLen: Int = 3): DataFrame = {
    require(threshold > 0 && threshold <= 1,
      s"threshold must be in (0, 1], got $threshold")
    val tr = train.select(col(idCol).as("id_t"),
      hashedTokenSet(col(textCol), shingleLen).as("toks_t"))
    val ev = evalSet.select(col(idCol).as("id_e"),
      hashedTokenSet(col(textCol), shingleLen).as("toks_e"))
    // postings are DISTINCT shingles per doc, so each shared shingle
    // contributes exactly one joined row per pair — counting rows per
    // pair IS the exact intersection size. No second pass over the
    // shingle arrays, no pairwise merge scan: candidate generation and
    // verification are the same aggregation.
    val inter = tr.select(col("id_t"), size(col("toks_t")).as("_a"),
        explode(col("toks_t")).as("_sh"))
      .join(broadcast(ev.select(col("id_e"), size(col("toks_e")).as("_b"),
        explode(col("toks_e")).as("_sh"))), "_sh")
      .groupBy("id_t", "id_e")
      .agg(count(lit(1)).as("_i"), first(col("_a")).as("_a"),
        first(col("_b")).as("_b"))
    inter
      .withColumn("jaccard",
        col("_i").cast("double") / (col("_a") + col("_b") - col("_i")))
      .filter(col("jaccard") >= threshold)
      .select("id_t", "id_e", "jaccard")
  }

  /** CROSS-document repeated-span scrub — the inter-document half of
    * Lee et al. 2022 (q125 is the intra-doc half): the corpus is tiled
    * into disjoint k-token spans, and every tile whose text already
    * occurred anywhere earlier in the corpus (global order: (doc_id,
    * tile_idx) ascending) is removed — the corpus keeps exactly ONE copy
    * of every k-token tile, boilerplate shared across thousands of docs
    * melts to its first occurrence. The sub-tile tail (< k tokens) is
    * never touched. Disjoint tiles rather than sliding grams keep the
    * shuffled volume equal to the corpus (each token in exactly one
    * tile), the trade the paper's suffix-array formulation also makes
    * at its span boundaries.
    *
    * Output: (idCol, n_tiles, n_removed_tiles, scrubbed_text),
    * whitespace-normalized.
    *
    * Shape at 100 TB: one explode (corpus-sized, no blowup — disjoint
    * tiles), one partial-aggregated min per tile text, one equi-join of
    * tiles against winners on the tile hash, one per-doc rebuild. All
    * shuffles key on tile text — uniformly distributed unless the
    * corpus is pathologically one tile, and the map-side partial min
    * absorbs heavy tiles before the exchange.
    */
  def crossDocTileScrub(df: DataFrame, textCol: String, idCol: String,
      k: Int): DataFrame = {
    require(k >= 2, s"k must be >= 2, got $k")
    val base = df
      .select(col(idCol), graft.core.Cols.wsTokens(col(textCol)).as("_t"))
      .withColumn("_n", size(col("_t")))
      .withColumn("_nf", (col("_n") / k).cast("int"))
    val tiles = base
      .select(col(idCol), explode(
        // sequence(0, -1) would count DOWN — guard the zero-tile case
        when(col("_nf") === 0, array().cast("array<int>"))
          .otherwise(sequence(lit(0), col("_nf") - 1))).as("_ti"),
        col("_t"))
      .select(col(idCol), col("_ti"),
        concat_ws(" ", slice(col("_t"), col("_ti") * k + 1, lit(k))).as("_tile"))
    val winners = tiles
      .groupBy("_tile")
      .agg(min(struct(col(idCol), col("_ti"))).as("_w"))
    val body = tiles.join(winners, "_tile")
      .filter(struct(col(idCol), col("_ti")) === col("_w"))
      .groupBy(idCol)
      .agg(count(lit(1)).as("_nk"),
        array_join(transform(
          sort_array(collect_list(struct(col("_ti"), col("_tile")))),
          s => s("_tile")), " ").as("_body"))
    base.join(body, Seq(idCol), "left")
      .select(col(idCol),
        col("_nf").cast("long").as("n_tiles"),
        (col("_nf") - coalesce(col("_nk"), lit(0L))).cast("long")
          .as("n_removed_tiles"),
        concat_ws(" ", col("_body"),
          // nullify an empty tail so concat_ws skips it (it skips nulls,
          // not empty strings)
          when(col("_n") === col("_nf") * k, lit(null).cast("string"))
            .otherwise(concat_ws(" ",
              slice(col("_t"), col("_nf") * k + 1, col("_n") - col("_nf") * k))))
          .as("scrubbed_text"))
  }

  /** ANY-length exact-substring duplicate spans (Lee et al. 2022's
    * ExactSubstr half, token granularity — VERDICT r14 task 3): all
    * maximal token intervals covered by some substring of >= `minTokens`
    * tokens that occurs >= 2 times anywhere in the corpus (cross-doc or
    * within-doc). This is the true any-length >= L remover the fixed
    * granularities approximate: q83 winnow blocks (>= w+k-1 guarantee),
    * q126's disjoint k-token tiles, q206's char chunks.
    *
    * Correctness without a suffix array: a position is inside a
    * duplicated substring of >= L tokens IFF its covering L-gram
    * (some L-gram containing it) is globally duplicated — every
    * duplicated substring of length >= L is a union of duplicated
    * L-grams, and every duplicated L-gram IS a duplicated substring of
    * length exactly L. So global L-gram counts give EXACT token-level
    * coverage at any span length; maximal covered intervals are maximal
    * runs of duplicated-gram starts with gaps <= L. (The suffix array
    * computes the same coverage; it is only needed when L is large
    * enough that materializing L-grams dominates — at token granularity
    * with hashing-free string keys the gram route replays in SQL, the
    * SA route does not.)
    *
    * Output: (idCol, span_start, span_end, span_len) — 0-based inclusive
    * token positions of each maximal duplicated span, integer-only.
    *
    * Shape at 100 TB: one posexplode (corpus-sized: one gram per token
    * position), one map-side-combined gram count (hot boilerplate grams
    * collapse before the exchange), one LEFT SEMI join of gram starts
    * against the duplicated-gram set (no fan-out), one per-document
    * window (partition bounded by doc length). Nothing pairwise,
    * nothing quadratic — unlike candidate-pair near-dup, the ES
    * semantics never need pairs at all.
    */
  def exactSubstringSpans(df: DataFrame, textCol: String, idCol: String,
      minTokens: Int, hashGrams: Boolean = false): DataFrame =
    spansFromStarts(dupGramStarts(df, textCol, idCol, minTokens, hashGrams),
      idCol, minTokens)

  /** Merge marked gram-start positions into maximal covered spans — the
    * shared tail of the batch and incremental exact-substring paths. */
  private def spansFromStarts(marked: DataFrame, idCol: String,
      minTokens: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(idCol).orderBy("pos")
    marked
      .withColumn("_prev", lag("pos", 1).over(w))
      // coverage of starts p_prev < p overlaps/abuts iff p - p_prev <= L
      .withColumn("_new",
        when(col("_prev").isNull || col("pos") - col("_prev") > minTokens, 1)
          .otherwise(0))
      .withColumn("_isl", sum("_new").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col(idCol), col("_isl"))
      .agg(min("pos").cast("long").as("span_start"),
        (max("pos") + minTokens - 1).cast("long").as("span_end"))
      .select(col(idCol), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start") + 1).as("span_len"))
  }

  /** 0-based start positions of globally duplicated `L`-grams, per doc —
    * the shared core of [[exactSubstringSpans]]/[[exactSubstringScrub]].
    *
    * Gram keys: exact strings by default (no collision caveat, and the
    * DuckDB oracle replays them verbatim — the q249/q250 surface). At
    * corpus scale the gram-count shuffle carries L tokens of text PER
    * POSITION — `hashGrams = true` keys on xxhash64 instead (8 bytes per
    * position, the q68/q90 representation trade): a 64-bit collision can
    * only ADD a coverage mark, which for a duplicate-span REMOVER means
    * at worst over-scrubbing one collision-hit span (~2^-64 per gram
    * pair) — sound for dedup, same argument as hashed-gram
    * decontamination; results are identical absent collisions
    * (TextDedupSpec pins the agreement on the real corpus). */
  private def dupGramStarts(df: DataFrame, textCol: String, idCol: String,
      minTokens: Int, hashGrams: Boolean = false): DataFrame = {
    val grams = gramStarts(df, textCol, idCol, minTokens, hashGrams)
    val dup = grams.groupBy("gram").agg(count(lit(1)).as("_c"))
      .filter(col("_c") >= 2).select("gram")
    grams.join(dup, Seq("gram"), "left_semi").select(col(idCol), col("pos"))
  }

  /** (idCol, pos, gram) rows — every L-gram start of every doc, keyed by
    * the exact string or its xxhash64 ([[dupGramStarts]]'s note). */
  private def gramStarts(df: DataFrame, textCol: String, idCol: String,
      minTokens: Int, hashGrams: Boolean): DataFrame = {
    require(minTokens >= 2, s"minTokens must be >= 2, got $minTokens")
    df.select(col(idCol), graft.core.Cols.wsTokens(col(textCol)).as("_t"))
      .select(col(idCol),
        posexplode(graft.functions.WordGramsExpr.wordGrams(col("_t"), minTokens))
          .as(Seq("pos", "g0")))
      .select(col(idCol), col("pos"),
        // hashed grams stay LongType end-to-end: casting to string would
        // inflate the per-position shuffle key from 8 bytes to a ~20-byte
        // decimal string — the exact width the hashed path exists to
        // save (review r15); the index schema records whichever type its
        // stamp says
        (if (hashGrams) xxhash64(col("g0")) else col("g0")).as("gram"))
  }

  // --------------------------------------------------------------------
  // Persisted gram-count index — the PER-INGEST shape of the
  // exact-substring remover (q249's q79/q90-family completion): the
  // corpus's L-gram multiplicities persist once, SATURATED AT 2 (only
  // "duplicated" matters downstream, so a gram's state is one byte of
  // information no matter how hot it is — saturating sums merge exactly:
  // min(2, a+b) over capped values equals the capped true sum's
  // threshold test), and each ingest batch probes batch∪index counts.
  // A new-batch position is flagged iff its gram's total multiplicity
  // across everything-so-far reaches 2 — IDENTICAL to running the full
  // batch operator over old∪new and keeping the new rows (the
  // equivalence contract in TextDedupSpec). Retro-coverage of OLD docs
  // (a gram that was unique becoming duplicated) is inherently a batch
  // job (Lee et al. run ES that way); the incremental path answers the
  // ingest-time question: which spans of the NEW data duplicate
  // anything seen so far.

  /** Build (or rebuild) the index: per-gram counts capped at 2,
    * params-stamped (L, hashed-vs-string — mirrors the q90 eval-gram
    * stamp), `batch=base`. */
  def writeGramCountIndex(df: DataFrame, textCol: String, idCol: String,
      minTokens: Int, path: String, hashGrams: Boolean = false): Unit = {
    val spark = df.sparkSession
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
    gramCountRows(df, textCol, idCol, minTokens, hashGrams)
      .write.mode("overwrite").parquet(s"$path/batch=base")
  }

  private def gramCountRows(df: DataFrame, textCol: String, idCol: String,
      minTokens: Int, hashGrams: Boolean): DataFrame =
    gramStarts(df, textCol, idCol, minTokens, hashGrams)
      .groupBy("gram")
      // holder (r16, the retro-coverage completion): for a gram this
      // slice saw exactly ONCE, the doc that holds it — the doc a later
      // batch's duplicate makes retroactively duplicated
      // ([[retroExactSubstringSpans]] re-scans exactly those docs). A
      // gram at cnt 2 needs no holder (already duplicated — retro never
      // fires for it), so per-gram state stays bounded: one byte of
      // count information plus at most one id, no matter how hot the
      // gram. Saturated merges stay exact: across batches a gram at
      // total 1 has exactly one row with cnt 1, whose holder survives
      // the null-skipping max; any total >= 2 nulls the holder.
      .agg(least(count(lit(1)), lit(2L)).as("cnt"), min(col(idCol)).as("_h"))
      .withColumn("holder", when(col("cnt") < 2, col("_h"))).drop("_h")
      .withColumn("_n", lit(minTokens))
      .withColumn("_hash_grams", lit(hashGrams))

  /** Append one ingest batch's capped gram counts idempotently (the
    * batch owns `path/batch=<key>`); params must match the stamp. */
  def appendGramCountBatchKeyed(df: DataFrame, textCol: String, idCol: String,
      path: String, batchKey: String): Unit = {
    require(batchKey != "base",
      "batch key 'base' is reserved for writeGramCountIndex/compaction output")
    require(batchKey.nonEmpty && !batchKey.exists(c => c == '/' || c == '='),
      s"batchKey must be a plain partition value, got '$batchKey'")
    val (n, hashed) = gramCountIndexParams(df.sparkSession, path)
    gramCountRows(df, textCol, idCol, n, hashed)
      .write.mode("overwrite").parquet(s"$path/batch=$batchKey")
  }

  /** The index's params stamp, validated unique across partitions — at
    * SEGMENT grain (one row per batch partition), not a full-index
    * distinct scan: this runs on every probe AND append, and the stamp
    * is constant per partition by construction (the domainLedger
    * serve-cost rule). Partitions with no committed data (a crashed
    * append's _temporary-only dir) make no claim — the probe's own read
    * skips them identically. */
  def gramCountIndexParams(spark: org.apache.spark.sql.SparkSession,
      path: String): (Int, Boolean) = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val parts = fs.listStatus(p).filter(_.isDirectory)
      .map(_.getPath.toString).filter(_.contains("batch="))
    val stamps = parts.flatMap { b =>
      graft.core.ParquetDir.committed(spark, b).flatMap { df =>
        df.select("_n", "_hash_grams").limit(1).collect().headOption
          .map { r =>
            val hashed = r.getBoolean(1)
            // the stamp alone does not pin the KEY type — a probe whose
            // gram keys coerce against the index (string vs bigint →
            // double under non-ANSI promotion) would collapse 64-bit
            // hashes to 53-bit precision SILENTLY; check the schema here
            val gt = df.schema("gram").dataType
            val want =
              if (hashed) org.apache.spark.sql.types.LongType
              else org.apache.spark.sql.types.StringType
            require(gt == want,
              s"gram-count partition $b stamps hashGrams=$hashed but " +
                s"stores gram as ${gt.simpleString} (want ${want.simpleString}): " +
                "mixed-format index — rebuild with writeGramCountIndex")
            (r.getInt(0), hashed)
          }
      }
    }.distinct
    require(stamps.length == 1,
      s"gram-count index at $path holds ${stamps.length} distinct param " +
        "stamps (mixed-parameter batches?); rebuild with writeGramCountIndex")
    stamps.head
  }

  /** Fold batch partitions into one `batch=base` of saturated sums
    * (staged swap; probes identical before/after — capped sums merge
    * exactly for the >= 2 test). */
  def compactGramCountIndex(spark: org.apache.spark.sql.SparkSession,
      path: String): Unit =
    compactGramCountIndexExcept(spark, path, Set.empty)

  /** [[compactGramCountIndex]] carrying `keepBatches` through unfolded
    * (byte-copied into the stage — the compactBatchedIndexExcept rule:
    * a running stream's own possibly-crashed partition must stay
    * excludable after compaction). The streaming loop's `_ids`
    * re-delivery sidecar lives INSIDE the index dir (invisible to the
    * gram reads — underscore prefix) and is byte-copied through the
    * swap too: losing it would silently disarm the re-delivery gate. */
  def compactGramCountIndexExcept(spark: org.apache.spark.sql.SparkSession,
      path: String, keepBatches: Set[String]): Unit = {
    require(!keepBatches.contains("base"), "the base partition is always folded")
    val live = new org.apache.hadoop.fs.Path(path)
    val fs = live.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(live), s"no gram-count index at $path")
    val stage = new org.apache.hadoop.fs.Path(path + "_compacting")
    if (StagedSwap.recoverOrClearStage(fs, live, stage)) return
    val (n, hashed) = gramCountIndexParams(spark, path)
    val df = spark.read.parquet(path)
    // maintenance-time FULL stamp scan: the per-probe segment check
    // reads one row per partition (cost rule), which a hand-merged
    // partition with internally mixed files could slip past — the
    // compaction pays one full scan anyway, so it validates every row
    // before folding corruption into base
    val allStamps = df.select("_n", "_hash_grams").distinct().collect()
    require(allStamps.length == 1,
      s"gram-count index at $path holds ${allStamps.length} distinct " +
        "row-level param stamps; repair the mixed partition before compacting")
    val folded =
      if (keepBatches.isEmpty) df
      else df.filter(!col("batch").cast("string").isin(keepBatches.toSeq: _*))
    // holder rides through the fold when the index has one (post-r16
    // layout): a gram folding to total 1 has exactly one cnt-1 row whose
    // holder the null-skipping max keeps; total >= 2 nulls it. A legacy
    // index (no holder column) compacts to a legacy index — the retro
    // probe's holder requirement then still fails loudly instead of
    // silently seeing an all-null column
    val base0 =
      if (folded.columns.contains("holder"))
        folded.groupBy("gram")
          .agg(least(sum("cnt"), lit(2L)).as("cnt"), max("holder").as("_h"))
          .withColumn("holder", when(col("cnt") < 2, col("_h"))).drop("_h")
      else
        folded.groupBy("gram").agg(least(sum("cnt"), lit(2L)).as("cnt"))
    base0
      .withColumn("_n", lit(n))
      .withColumn("_hash_grams", lit(hashed))
      .write.mode("overwrite").parquet(s"$stage/batch=base")
    val carried = keepBatches.map(k => s"batch=$k") + "_ids"
    carried.foreach { name =>
      val src = new org.apache.hadoop.fs.Path(s"$path/$name")
      if (fs.exists(src)) {
        val ok = org.apache.hadoop.fs.FileUtil.copy(fs, src, fs,
          new org.apache.hadoop.fs.Path(s"$stage/$name"),
          false, spark.sparkContext.hadoopConfiguration)
        require(ok, s"copying $src into the compaction stage failed")
      }
    }
    StagedSwap.swap(fs, live, stage)
  }

  /** First-batch seeding for [[graft.streaming.Streaming.exactSubstringSpanStream]]:
    * like [[writeGramCountIndex]] but lands under the INCARNATION'S OWN
    * batch key (so the crashed-retry exclusion contract holds from batch
    * 0) and never wipes the path. */
  def seedGramCountBatch(df: DataFrame, textCol: String, idCol: String,
      path: String, batchKey: String, minTokens: Int,
      hashGrams: Boolean): Unit = {
    require(batchKey != "base", "base is reserved for compaction output")
    gramCountRows(df, textCol, idCol, minTokens, hashGrams)
      .write.mode("overwrite").parquet(s"$path/batch=$batchKey")
  }

  /** Per-ingest-batch exact-substring spans against the persisted index:
    * a batch position is flagged iff batch-internal + indexed
    * multiplicity reaches 2 — equal to the FULL [[exactSubstringSpans]]
    * over old∪batch restricted to batch docs. One batch gram pass, one
    * gram-keyed count aggregate each side, one equi-join, the shared
    * span merge. Gram shape rides the index stamp, so the probe cannot
    * disagree with the build. */
  def incrementalExactSubstringSpans(batch: DataFrame, textCol: String,
      idCol: String, path: String,
      excludeBatch: Option[String] = None): DataFrame = {
    val spark = batch.sparkSession
    val (n, hashed) = gramCountIndexParams(spark, path)
    val grams = gramStarts(batch, textCol, idCol, n, hashed)
    val batchCnt = grams.groupBy("gram")
      .agg(least(count(lit(1)), lit(2L)).as("_bc"))
    val idx0 = spark.read.parquet(path)
    // streaming retry correctness: a crashed attempt's own appended
    // partition must not make the retry see its own grams as "old"
    // (cast FIRST — the legacy-layout int-coercion note in
    // Streaming.incrementalDedupStream)
    val idxDf = excludeBatch.fold(idx0)(k =>
      idx0.filter(col("batch").cast("string") =!= lit(k)))
    val idxCnt = idxDf.groupBy("gram")
      .agg(least(sum("cnt"), lit(2L)).as("_ic"))
    val dup = batchCnt.join(idxCnt, Seq("gram"), "left")
      .filter(col("_bc") + coalesce(col("_ic"), lit(0L)) >= 2)
      .select("gram")
    spansFromStarts(
      grams.join(dup, Seq("gram"), "left_semi").select(col(idCol), col("pos")),
      idCol, n)
  }

  /** RETRO-coverage probe for the gram-count index (r15 verdict task 3):
    * q255/[[incrementalExactSubstringSpans]] answers "which NEW spans
    * duplicate anything seen"; this answers the other production half —
    * "which OLD docs became duplicated when batch `batchKey` landed" —
    * without a full [[exactSubstringSpans]] rerun. The index's cnt-1
    * rows carry their sole holder doc id, so the grams the batch pushed
    * from 1 to 2 NAME the affected docs directly: no corpus scan, no
    * gram re-generation over unaffected data. Affected docs get their
    * span set FULLY recomputed against old∪batch multiplicities (a new
    * duplicate can extend or bridge pre-existing spans, so a delta-only
    * answer would merge wrong); unaffected old docs' spans are untouched
    * by construction — every gram they hold either was already >= 2 or
    * still totals 1 — so callers splice this over the prior ledger:
    * prior spans for unaffected docs ∪ this output (the q256 shape, and
    * the TextDedupSpec union contract: that splice ∪ the incremental
    * q255 output == the full batch operator over old∪new).
    *
    * Output: (idCol, span_start, span_end, span_len) for AFFECTED old
    * docs only — each holds a newly-duplicated gram, so each has >= 1
    * span.
    *
    * Shape at 100 TB: the index scan is pruned to the batch partition
    * for new grams; the old-side count aggregate is SEMI-JOINED to the
    * batch's grams first, so its shuffle carries batch-gram hits, not
    * the corpus's gram space; the re-scan generates grams only for the
    * affected docs. Cost tracks the newly-saturated set (the ScaleCurve
    * retro cell: fixed batch, growing corpus, ~flat probe time), not
    * the corpus.
    */
  def retroExactSubstringSpans(oldDocs: DataFrame, textCol: String,
      idCol: String, path: String, batchKey: String): DataFrame = {
    val spark = oldDocs.sparkSession
    val (n, hashed) = gramCountIndexParams(spark, path)
    val idx = spark.read.parquet(path)
    require(idx.columns.contains("holder"),
      s"gram-count index at $path has no holder column (pre-r16 layout): " +
        "retro-coverage needs the cnt-1 holder ids — rebuild with " +
        "writeGramCountIndex")
    val isBatch = col("batch").cast("string") === lit(batchKey)
    val batchGrams = idx.filter(isBatch).select("gram").distinct()
    // only grams the batch touched can newly saturate: semi-join FIRST,
    // so the old-side aggregate shuffles batch-gram hits, not the whole
    // index
    val oldCnt = idx.filter(!isBatch)
      .join(batchGrams, Seq("gram"), "left_semi")
      .groupBy("gram")
      .agg(least(sum("cnt"), lit(2L)).as("_oc"), max("holder").as("_h"))
    val affectedIds = oldCnt.filter(col("_oc") === 1)
      // _oc == 1 guarantees exactly one old cnt-1 row, which always
      // carries its holder in the post-r16 layout; a null here means a
      // hand-mixed legacy partition slipped past the column check —
      // corrupt retro data, never a silent skip
      .select(when(col("_h").isNull, raise_error(lit(
        s"gram-count index at $path: cnt-1 row with null holder " +
          "(legacy partition mixed into a holder-layout index?)")))
        .otherwise(col("_h")).as(idCol))
      .distinct()
    val affected = oldDocs.join(affectedIds, Seq(idCol), "left_semi")
    val affG = gramStarts(affected, textCol, idCol, n, hashed)
    // duplicated-now test for exactly the affected docs' gram space:
    // total old∪batch multiplicity >= 2, aggregate input semi-joined
    // down to the grams those docs hold
    val dupNow = idx.join(affG.select("gram").distinct(),
        Seq("gram"), "left_semi")
      .groupBy("gram").agg(least(sum("cnt"), lit(2L)).as("_tc"))
      .filter(col("_tc") >= 2).select("gram")
    spansFromStarts(
      affG.join(dupNow, Seq("gram"), "left_semi").select(col(idCol), col("pos")),
      idCol, n)
  }

  /** The ExactSubstr REMOVER over [[exactSubstringSpans]]: every token
    * covered by a duplicated >= `minTokens` span is dropped from EVERY
    * occurrence — the released ExactSubstr tool's default (remove all
    * copies; the keep-one-survivor variants at fixed granularity are
    * q125/q126). Output: (idCol, n_tokens, n_covered, scrubbed_text),
    * whitespace-normalized; docs with no duplicated span pass through
    * intact. One extra per-doc join of the (few) merged spans; the
    * token filter is row-local HOFs — O(len · spans_per_doc). */
  def exactSubstringScrub(df: DataFrame, textCol: String, idCol: String,
      minTokens: Int, hashGrams: Boolean = false): DataFrame = {
    val spans = exactSubstringSpans(df, textCol, idCol, minTokens, hashGrams)
      .groupBy(idCol)
      .agg(collect_list(struct(col("span_start"), col("span_end"))).as("_sp"),
        sum(col("span_len")).as("_nc"))
    df.select(col(idCol), graft.core.Cols.wsTokens(col(textCol)).as("_t"))
      .join(spans, Seq(idCol), "left")
      .select(col(idCol),
        size(col("_t")).cast("long").as("n_tokens"),
        coalesce(col("_nc"), lit(0L)).as("n_covered"),
        // concat_ws skips null elements: covered tokens null out (the
        // q125 rebuild rule); a null-condition when() takes otherwise,
        // so span-free docs pass through whole
        concat_ws(" ", transform(col("_t"), (t, i) =>
          when(exists(col("_sp"), s =>
            i >= s.getField("span_start") && i <= s.getField("span_end")),
            lit(null).cast("string")).otherwise(t))).as("scrubbed_text"))
  }

  def repeatedSpanScrub(df: DataFrame, textCol: String, idCol: String,
      k: Int): DataFrame = {
    require(k >= 2, s"k must be >= 2 (a 1-gram scrub would drop every " +
      s"repeated word), got $k")
    val toks = graft.core.Cols.wsTokens(col(textCol))
    df.select(col(idCol), toks.as("_t"))
      .withColumn("_g", graft.functions.WordGramsExpr.wordGrams(col("_t"), k))
      .withColumn("_sg", sort_array(transform(col("_g"),
        (g, i) => struct(g.as("g"), i.as("i")))))
      // 0-based gram start indices that repeat an earlier identical gram
      .withColumn("_r", filter(transform(col("_sg"), (s, j) =>
        when(j === 0, lit(-1)).otherwise(
          when(element_at(col("_sg"), j).getField("g") === s.getField("g"),
            s.getField("i")).otherwise(lit(-1)))), x => x >= 0))
      // 0-based token positions covered by some repeated gram occurrence
      .withColumn("_cov", array_distinct(flatten(
        transform(col("_r"), s => sequence(s, s + (k - 1))))))
      .select(col(idCol),
        size(col("_t")).cast("long").as("n_tokens"),
        size(col("_cov")).cast("long").as("n_repeat_positions"),
        // concat_ws skips null elements: covered tokens null out
        concat_ws(" ", transform(col("_t"), (t, i) =>
          when(array_contains(col("_cov"), i), lit(null).cast("string"))
            .otherwise(t))).as("scrubbed_text"))
  }
}

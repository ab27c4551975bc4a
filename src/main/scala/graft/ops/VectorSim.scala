package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.DotProductF32.dotF32
import graft.functions.{IvfExprs, LshExprs, TopKPairs}
import scala.util.Random

/** Similarity search over an embedding column (`array<float>`).
  *
  * Brute-force exact cosine top-k is the baseline (a broadcast join of the
  * query set against the corpus — linear in corpus size, embarrassingly
  * parallel). The scale path is random-hyperplane LSH: a 100 TB corpus is
  * bucketed by sign-pattern once (one projection + one shuffle on the
  * bucket key), and each query only scans its own bucket plus its
  * single-bit-flip neighbors (multi-probe).
  *
  * LSH signatures are computed by the codegen'd
  * [[graft.functions.LshSignBuckets]] — ONE expression whose plane matrix
  * rides along as a reference object — instead of `numTables ×
  * planesPerTable` unrolled `dot/element_at` trees over a literal array.
  * Both formulations accumulate the plane dots in double over float
  * elements in index order, so buckets are bit-identical (agreement is
  * asserted in OpsSpec); the legacy unrolled form is kept below only as
  * the test oracle.
  *
  * Pairwise dot products are per-row sequential double accumulation
  * (codegen'd [[graft.functions.DotProductF32]]): there is no cross-row
  * aggregation in a dot product, so the result is deterministic under any
  * partitioning — the oracle contract for kNN is the RANKING, whose
  * margins (~1e-3) dwarf double rounding (~1e-15).
  */
object VectorSim {

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Dot product of two float-array columns (codegen'd, deterministic). */
  def dot(a: Column, b: Column): Column = dotF32(a, b)

  /** Squared L2 norm. */
  def normSq(a: Column): Column = dotF32(a, a)

  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (sqrt(normSq(a)) * sqrt(normSq(b)))

  /** Rank scored (query_id, neighbor_id, cosine) rows to per-query top-k
    * with the bounded [[graft.functions.TopKPairs]] aggregate: map-side
    * partials keep k pairs per query per partition, so the one shuffle
    * carries O(partitions × queries × k) bytes — unlike the
    * `row_number().over(partitionBy(query))` window, which shuffles every
    * scored row into #queries tasks and sorts corpus-sized partitions.
    * Ranking contract preserved: (cosine DESC, neighbor_id ASC), rank 1-k.
    */
  private def rankTopK(scored: DataFrame, k: Int): DataFrame =
    scored.groupBy("query_id")
      .agg(TopKPairs.topK(col("cosine"), col("neighbor_id"), k).as("nb"))
      .select(col("query_id"), posexplode(col("nb")).as(Seq("_i", "_s")))
      .select(col("query_id"), col("_s.id").as("neighbor_id"),
        col("_s.score").as("cosine"), (col("_i") + 1).as("rank"))

  /** Exact brute-force cosine top-k: every query row against the whole
    * corpus. Queries are broadcast (the small side by construction).
    */
  def cosineTopK(
      queries: DataFrame, corpus: DataFrame, idCol: String, vecCol: String,
      k: Int): DataFrame = {
    // norms computed ONCE per row, not per pair: the pairwise work drops
    // to a single dot product (same final values — identical arithmetic)
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
      .withColumn("qn", sqrt(normSq(col("qv"))))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
      .withColumn("cn", sqrt(normSq(col("cv"))))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", dot(col("qv"), col("cv")) / (col("qn") * col("cn")))
    rankTopK(scored, k)
  }

  /** Hard-negative mining for contrastive/embedding training: per
    * anchor, the top-`k` HIGHEST-cosine corpus vectors whose similarity
    * stays BELOW `posThreshold` — similar enough to be informative,
    * dissimilar enough to be true negatives (the standard dense-retrieval
    * negative-sampling cut; `posThreshold` should match the corpus'
    * near-dup/positive operating point so paraphrases never leak into
    * the negative set). Brute-force scoring with broadcast anchors —
    * the same exactness baseline as [[cosineTopK]]; at corpus scale the
    * first-stage candidate generator (IVF/LSH top-N, then this filter +
    * re-rank) drops in without changing the output contract.
    */
  def hardNegatives(
      anchors: DataFrame, corpus: DataFrame, idCol: String, vecCol: String,
      k: Int, posThreshold: Double): DataFrame = {
    val q = anchors.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
      .withColumn("qn", sqrt(normSq(col("qv"))))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
      .withColumn("cn", sqrt(normSq(col("cv"))))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", dot(col("qv"), col("cv")) / (col("qn") * col("cn")))
      .filter(col("cosine") < posThreshold)
    rankTopK(scored, k)
  }

  /** Semantic decontamination — the EMBEDDING-space sibling of the
    * n-gram decontam family (q68 exact overlap, q128 fuzzy Jaccard):
    * flag every corpus vector whose cosine to ANY eval anchor reaches
    * `threshold`, attributing the strongest anchor (ties to the lower
    * anchor id) and the match count. The n-gram signals catch verbatim
    * and near-verbatim leaks; this catches paraphrased eval content
    * that shares no surface n-grams — pipelines run both and union the
    * flags (SemDeDup's observation applied to decontamination).
    *
    * Shape at scale: eval sets are tiny next to a training corpus, so
    * the anchor side broadcasts with precomputed norms and the corpus
    * streams in ONE scan (the q235/hardNegatives shape); per-doc windows
    * partition on doc_id (bounded by |eval| rows each, skew-free). When
    * the anchor set outgrows the broadcast budget, put the IVF candidate
    * stage in front (the q243 path) — same output contract.
    */
  def semanticDecontam(evalSet: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, threshold: Double): DataFrame =
    decontamScore(anchorRows(evalSet, idCol, vecCol), corpus, idCol, vecCol,
      threshold)

  /** (eval_id, qv, qn) anchor rows with the degenerate-norm guard — the
    * shared first stage of every semantic-decontam path and the row
    * shape [[writeEvalAnchorIndex]] persists.
    *
    * Degenerate-norm guard: a 0/0 cosine is NaN, and NaN compares
    * GREATEST in Spark (nanSafeCompareDoubles — NaN > 0 and
    * NaN >= threshold are both TRUE), so an all-zero embedding
    * (padding) OR one carrying a NaN component (failed encode) would
    * pass any threshold against EVERY anchor and report as maximally
    * contaminated. Direction-free/poisoned vectors carry no semantic
    * signal: drop them from both sides instead of emitting garbage
    * flags. The !isnan leg is load-bearing — `qn > 0` alone is TRUE
    * for a NaN norm under Spark's NaN-greatest ordering.
    */
  private[ops] def anchorRows(evalSet: DataFrame, idCol: String,
      vecCol: String): DataFrame =
    evalSet.select(col(idCol).as("eval_id"), col(vecCol).as("qv"))
      .withColumn("qn", sqrt(normSq(col("qv"))))
      .filter(col("qn") > 0 && !isnan(col("qn")))

  /** Shared scoring core: corpus rows (guarded) stream past broadcast
    * anchors, exact cosine, threshold cut, per-doc attribution window.
    * Every decontam path (inline, indexed, streaming) funnels through
    * THIS — the probe==broadcast bit-equality contract holds because
    * there is exactly one copy of the float expressions.
    *
    * `requireDim`: index-backed probes pass the stamp and EVERY row is
    * dim-asserted in the scan itself (raise_error on mismatch) — a
    * per-row `size()` compare, no extra pass, no sampled-row guard that
    * mixed-dim batches could slip past. Null vectors skip the assert
    * (they carry no dim claim) and fall to the norm guard. */
  private def decontamScore(anchors: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, threshold: Double,
      requireDim: Option[Int] = None): DataFrame = {
    val c = corpusSide(corpus, idCol, vecCol, requireDim)
    decontamRank(c.crossJoin(broadcast(anchors))
      .withColumn("cosine", dot(col("qv"), col("cv")) / (col("qn") * col("cn")))
      .filter(col("cosine") >= threshold))
  }

  /** (doc_id, cv, cn) corpus rows with the degenerate-norm guard and the
    * optional loud per-row dim assert — DotProductF32 silently truncates
    * to the shorter operand, so a dim mismatch must never reach it. */
  private def corpusSide(corpus: DataFrame, idCol: String, vecCol: String,
      requireDim: Option[Int]): DataFrame = {
    val cvRaw = col(vecCol)
    val cv = requireDim match {
      case Some(d) =>
        when(cvRaw.isNull || size(cvRaw) === d, cvRaw)
          .otherwise(raise_error(concat(
            lit(s"anchor index holds $d-dim vectors; corpus row carries "),
            size(cvRaw).cast("string"),
            lit("-dim — wrong index or wrong column")))
            .cast(corpus.schema(vecCol).dataType))
      case None => cvRaw
    }
    corpus.select(col(idCol).as("doc_id"), cv.as("cv"))
      .withColumn("cn", sqrt(normSq(col("cv"))))
      .filter(col("cn") > 0 && !isnan(col("cn")))
  }

  /** Per-doc attribution over (doc_id, eval_id, cosine) hits: strongest
    * anchor (ties to the lower eval_id) + match count. */
  private def decontamRank(hits: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("doc_id")
    hits
      .withColumn("rn",
        row_number().over(w.orderBy(desc("cosine"), col("eval_id"))))
      .withColumn("n_matches", count(lit(1)).over(w))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("n_matches"), col("eval_id").as("best_eval_id"))
  }

  // --------------------------------------------------------------------
  // Persisted eval-anchor index — q248's production shape (VERDICT r14
  // task 4): eval suites change on release cadence, not ingest cadence,
  // so their guarded anchor rows (vector + precomputed norm) persist
  // once and every ingest batch probes the index instead of re-deriving
  // anchors per run. Same lifecycle conventions as the q90 eval-gram
  // index: params-stamped (vector dim), `batch=base` reserved for the
  // full build, idempotent per-batch appends, staged-swap compaction.

  /** Build (or rebuild) the anchor index: wipes the path, lands the
    * guarded anchor rows (norms precomputed ONCE — the scale saving) as
    * `batch=base`, stamped with the vector dim so a mismatched probe or
    * append fails loudly instead of computing garbage dots. */
  def writeEvalAnchorIndex(evalSet: DataFrame, idCol: String, vecCol: String,
      path: String): Unit = {
    val spark = evalSet.sparkSession
    val rows = anchorRows(evalSet, idCol, vecCol)
      .withColumn("_dim", size(col("qv")))
    // refuse a stampless empty build: an eval suite whose anchors ALL
    // guard-filter (failed encode run) must fail HERE, not as a
    // misleading "0 distinct dim stamps" on the first probe
    require(rows.take(1).nonEmpty,
      s"no usable anchors for $path: the eval set is empty or every " +
        "vector is zero-norm/NaN (failed encode?) — refusing to build " +
        "an empty index")
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
    rows.write.mode("overwrite").parquet(s"$path/batch=base")
  }

  /** Append one NEW eval suite's anchors idempotently under retries (the
    * batch owns `path/batch=<key>`). Dim must match the index stamp.
    * Cross-batch duplicate anchors are folded by [[readEvalAnchors]]'s
    * DISTINCT, so a re-shipped suite cannot double-count n_matches. */
  def appendEvalAnchorBatch(evalSet: DataFrame, idCol: String, vecCol: String,
      path: String, batchKey: String): Unit = {
    require(batchKey != "base",
      "batch key 'base' is reserved for writeEvalAnchorIndex/compaction output")
    require(batchKey.nonEmpty && !batchKey.exists(c => c == '/' || c == '='),
      s"batchKey must be a plain partition value, got '$batchKey'")
    val idxDim = evalAnchorIndexDim(evalSet.sparkSession, path)
    val rows = anchorRows(evalSet, idCol, vecCol)
      .withColumn("_dim", size(col("qv")))
    val dims = rows.select("_dim").distinct().collect().map(_.getInt(0))
    require(dims.forall(_ == idxDim),
      s"anchor index at $path holds $idxDim-dim vectors; append carried " +
        s"${dims.mkString(", ")}-dim — rebuild or fix the embedding column")
    rows.write.mode("overwrite").parquet(s"$path/batch=$batchKey")
  }

  /** The index's dim stamp, validated unique across partitions. */
  def evalAnchorIndexDim(spark: org.apache.spark.sql.SparkSession,
      path: String): Int = {
    val dims = spark.read.parquet(path).select("_dim").distinct().collect()
    require(dims.length == 1,
      s"anchor index at $path holds ${dims.length} distinct dim stamps " +
        "(mixed-dim batches?); rebuild with writeEvalAnchorIndex")
    dims.head.getInt(0)
  }

  /** The served anchor set: DISTINCT guarded rows across all batches —
    * duplicates from re-appended suites fold away so match counts stay
    * per-anchor, not per-delivery. */
  def readEvalAnchors(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame =
    spark.read.parquet(path).select("eval_id", "qv", "qn").distinct()

  /** Fold all batch partitions into one distinct `batch=base` (staged
    * swap — a crashed compaction never wipes the live index). Probe
    * results identical before/after (DISTINCT is idempotent). */
  def compactEvalAnchorIndex(spark: org.apache.spark.sql.SparkSession,
      path: String): Unit = {
    val live = new org.apache.hadoop.fs.Path(path)
    val fs = live.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(live), s"no anchor index at $path")
    val stage = new org.apache.hadoop.fs.Path(path + "_compacting")
    if (StagedSwap.recoverOrClearStage(fs, live, stage)) return
    val dim = evalAnchorIndexDim(spark, path)
    readEvalAnchors(spark, path).withColumn("_dim", lit(dim))
      .write.mode("overwrite").parquet(s"$stage/batch=base")
    StagedSwap.swap(fs, live, stage)
  }

  /** Per-ingest-batch semantic decontam against the persisted anchor
    * index — BIT-IDENTICAL to [[semanticDecontam]] over the original
    * eval set (one scoring core; norms ride from the index instead of
    * recomputing, and sqrt(x) recomputed at build time equals the
    * stored double). One linear pass over the NEW batch only; anchors
    * broadcast (eval suites are tiny next to a training corpus — past
    * the broadcast budget, use [[incrementalSemanticDecontamIvf]]). */
  def incrementalSemanticDecontam(batch: DataFrame, idCol: String,
      vecCol: String, path: String, threshold: Double): DataFrame = {
    val spark = batch.sparkSession
    decontamScore(readEvalAnchors(spark, path), batch, idCol, vecCol,
      threshold, requireDim = Some(evalAnchorIndexDim(spark, path)))
  }

  /** IVF candidate front for semantic decontam — the path for eval sets
    * PAST the broadcast budget: centroids train on the anchors, each
    * anchor lives in its one nearest cell, each corpus doc probes its
    * `nprobe` nearest cells, and only co-cell (doc, anchor) pairs are
    * scored — with EXACT cosines, so approximation can only MISS a flag
    * (bounded by the measured recall, [[semanticDecontamIvfRecall]]),
    * never invent one: flagged(IVF) ⊆ flagged(exact) unconditionally,
    * and per-doc n_matches can only undercount. Plain equi-joins on the
    * cell key; AQE picks broadcast when a side fits. */
  def semanticDecontamIvf(evalSet: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, threshold: Double,
      numCells: Int = 16, nprobe: Int = 8, sampleN: Int = 4096,
      iters: Int = 10): DataFrame =
    decontamScoreIvf(anchorRows(evalSet, idCol, vecCol), corpus, idCol,
      vecCol, threshold, numCells, nprobe, sampleN, iters)

  /** [[incrementalSemanticDecontam]] with the IVF front: anchors come
    * from the persisted index, candidates from the cell join. */
  def incrementalSemanticDecontamIvf(batch: DataFrame, idCol: String,
      vecCol: String, path: String, threshold: Double,
      numCells: Int = 16, nprobe: Int = 8, sampleN: Int = 4096,
      iters: Int = 10): DataFrame = {
    val spark = batch.sparkSession
    // same loud dim guard as the broadcast probe — the IVF front must
    // not be the one path where a mismatched batch truncates silently
    decontamScoreIvf(readEvalAnchors(spark, path), batch,
      idCol, vecCol, threshold, numCells, nprobe, sampleN, iters,
      requireDim = Some(evalAnchorIndexDim(spark, path)))
  }

  private def decontamScoreIvf(anchors: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, threshold: Double,
      numCells: Int, nprobe: Int, sampleN: Int, iters: Int,
      requireDim: Option[Int] = None): DataFrame = {
    // clamp cells to the anchor count (limit+count short-circuits — no
    // full scan): a small eval suite is legitimate, and fewer cells only
    // RAISES recall (nprobe of them cover more of the anchor set)
    val nAvail = anchors.select("eval_id").limit(numCells).count().toInt
    val cells = math.max(1, math.min(numCells, nAvail))
    val centroids = trainIvfCentroids(anchors, "eval_id", "qv",
      cells, sampleN, iters)
    val q = anchors.withColumn("cell",
      element_at(graft.functions.IvfExprs.nearestCentroids(col("qv"),
        centroids, 1), 1))
    val c = corpusSide(corpus, idCol, vecCol, requireDim)
      .select(col("doc_id"), col("cv"), col("cn"),
        explode(graft.functions.IvfExprs.nearestCentroids(col("cv"),
          centroids, nprobe)).as("cell"))
    // an anchor lives in ONE cell and a doc's probe cells are distinct,
    // so no (doc, anchor) pair is produced twice — no dedup stage
    decontamRank(c.join(q, "cell")
      .withColumn("cosine", dot(col("qv"), col("cv")) / (col("qn") * col("cn")))
      .filter(col("cosine") >= threshold))
  }

  /** Flag recall of the IVF front vs the exact broadcast path over the
    * same inputs — the telemetry a production loop watches (the
    * signIndexRecall convention): 1.0 when the exact path flags nothing.
    * False flags are impossible by construction (exact cosines on the
    * candidate set), so recall is the ONLY error dimension. */
  def semanticDecontamIvfRecall(evalSet: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, threshold: Double,
      numCells: Int = 16, nprobe: Int = 8): Double = {
    def flags(d: DataFrame) =
      d.select("doc_id").collect().map(_.get(0)).toSet
    val exact = flags(semanticDecontam(evalSet, corpus, idCol, vecCol, threshold))
    if (exact.isEmpty) 1.0
    else {
      val ivf = flags(semanticDecontamIvf(evalSet, corpus, idCol, vecCol,
        threshold, numCells, nprobe))
      ivf.count(exact.contains).toDouble / exact.size
    }
  }

  /** MMR (Maximal Marginal Relevance, Carbonell & Goldstein 1998)
    * diversified re-ranking: from each query's `topN` cosine candidates,
    * greedily select `k` results maximizing
    * `lam * rel(i) - (1-lam) * max_{s in selected} sim(i, s)` — the
    * standard redundancy-penalized retrieval cut used on top of
    * first-stage ANN/BM25 candidates.
    *
    * Shape at scale: stage 1 is the existing candidate generator
    * (broadcast kNN here; any retriever emitting (query_id, neighbor_id,
    * cosine, rank) works), stage 2 gathers each query's topN candidates
    * into ONE row and runs the whole greedy loop ROW-LOCALLY in pure
    * Catalyst higher-order functions — per-query work is O(topN²·dim +
    * k·topN), zero additional shuffles, no UDF, no driver loop, and
    * queries rerank embarrassingly parallel. Ties (equal MMR score)
    * break to the better relevance rank, making the selection exactly
    * reproducible by the unrolled relational oracle.
    */
  def mmrRerank(queries: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, topN: Int, k: Int, lam: Double): DataFrame = {
    require(k >= 1 && topN >= k, s"need topN >= k >= 1, got topN=$topN k=$k")
    require(lam >= 0.0 && lam <= 1.0, s"lam must be in [0, 1], got $lam")
    // fetch candidate vectors by STREAMING the corpus past the broadcast
    // (queries x topN)-sized candidate table — the other join order
    // would shuffle the whole corpus to meet a few hundred rows
    val cands = corpus
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
      .join(broadcast(cosineTopK(queries, corpus, idCol, vecCol, topN)),
        "neighbor_id")
    // one row per query: candidates ordered by relevance rank (struct
    // sort on the leading rank field — collect_list order is free)
    val grouped = cands.groupBy("query_id")
      .agg(array_sort(collect_list(struct(col("rank"), col("neighbor_id").as("id"),
        col("cosine").as("rel"), col("cv").as("v")))).as("cs"))
    val n = size(col("cs"))
    // candidate-pair cosine matrix, row-local (norms computed once)
    val g2 = grouped
      .withColumn("ns", transform(col("cs"), c => sqrt(normSq(c.getField("v")))))
      .withColumn("simM", transform(sequence(lit(0), n - 1), i =>
        transform(sequence(lit(0), n - 1), j =>
          dot(element_at(col("cs"), i + 1).getField("v"),
              element_at(col("cs"), j + 1).getField("v"))
            / (element_at(col("ns"), i + 1) * element_at(col("ns"), j + 1)))))
      // materialization barrier on a TINY frame (one row per query): the
      // greedy selection below references simM from inside nested
      // lambdas, and letting the optimizer inline the ns/simM aliases
      // there explodes the expression tree (the q63 gram-builder
      // lesson) — analysis alone was costing seconds
      .localCheckpoint(true)
    def score(i: Column, sel: Column) = {
      val rel = element_at(col("cs"), i + 1).getField("rel")
      val ms = when(size(sel) === 0, lit(0.0)).otherwise(
        array_max(transform(sel,
          s0 => element_at(element_at(col("simM"), i + 1), s0 + 1))))
      lit(lam) * rel - lit(1.0 - lam) * ms
    }
    val idxs = sequence(lit(0), n - 1)
    // greedy k rounds: argmax by (score, then smaller index) via the
    // struct-ordered array_max — index rides along negated so the max
    // on a score tie lands on the BETTER relevance rank
    val selExpr = aggregate(
      sequence(lit(1), lit(k)),
      array().cast("array<int>"),
      (sel, _) => {
        val best = array_max(transform(
          filter(idxs, i => !array_contains(sel, i)),
          i => struct(score(i, sel).as("s"), (lit(0) - i).as("ni"))))
        concat(sel, array(lit(0) - best.getField("ni")))
      })
    g2.withColumn("sel", selExpr)
      .select(col("query_id"), col("cs"),
        posexplode(col("sel")).as(Seq("_p", "_i")))
      .select(col("query_id"),
        element_at(col("cs"), col("_i") + 1).getField("id").as("neighbor_id"),
        (col("_p") + 1).as("mmr_rank"),
        (col("_i") + 1).as("rel_rank"))
  }

  /** Spherical k-means coarse quantizer for the IVF index: Lloyd's
    * iterations over a BOUNDED deterministic sample, driver-side — the
    * standard IVF build (FAISS trains its quantizer on a sample too).
    * The sample read is `orderBy(id).limit(n)`, which Spark executes as
    * `TakeOrderedAndProject`: a per-partition top-n + driver merge, no
    * full sort/shuffle — O(sampleN) driver memory at any corpus size.
    * Centroids are L2-normalized so dot order is cosine order downstream.
    * Deterministic end-to-end: strided init over the id-ordered sample,
    * argmax ties to the lower index, fixed iteration count.
    */
  def trainIvfCentroids(
      corpus: DataFrame, idCol: String, vecCol: String, numCells: Int,
      sampleN: Int = 4096, iters: Int = 10): Array[Array[Float]] = {
    val rows = corpus.select(col(idCol), col(vecCol))
      .orderBy(col(idCol)).limit(sampleN).collect()
    val sample = rows.iterator.map(_.getSeq[Float](1).toArray)
      .map { v =>
        val n = math.sqrt(v.foldLeft(0.0)((a, x) => a + x.toDouble * x))
        if (n == 0.0) v.map(_ => 0.0) else v.map(_ / n)
      }.toArray
    require(sample.length >= numCells,
      s"need >= $numCells sample vectors to train, got ${sample.length}")
    val dim = sample.head.length
    var cents = Array.tabulate(numCells)(c =>
      sample((c.toLong * sample.length / numCells).toInt).clone())
    for (_ <- 1 to iters) {
      val sums = Array.fill(numCells)(new Array[Double](dim))
      val counts = new Array[Int](numCells)
      sample.foreach { v =>
        var best = 0; var bestDot = Double.NegativeInfinity
        var c = 0
        while (c < numCells) {
          var acc = 0.0; var i = 0
          while (i < dim) { acc += v(i) * cents(c)(i); i += 1 }
          if (acc > bestDot) { bestDot = acc; best = c }
          c += 1
        }
        val s = sums(best); var i = 0
        while (i < dim) { s(i) += v(i); i += 1 }
        counts(best) += 1
      }
      cents = Array.tabulate(numCells) { c =>
        if (counts(c) == 0) cents(c) // empty cell keeps its old centroid
        else {
          val s = sums(c)
          val n = math.sqrt(s.foldLeft(0.0)((a, x) => a + x * x))
          if (n == 0.0) cents(c) else s.map(_ / n)
        }
      }
    }
    cents.map(_.map(_.toFloat))
  }

  /** IVF-partitioned approximate cosine top-k — the inverted-file scale
    * path alongside [[cosineTopKLsh]]. The corpus is assigned to its ONE
    * nearest coarse centroid (at 100 TB this `cell` column is the
    * bucketing/partition key the index is written with, so a probe reads
    * only nprobe/numCells of the data); each query probes its `nprobe`
    * nearest cells and exact cosine re-ranks the union.
    *
    * Shuffle hygiene matches the LSH path: the cell join carries only
    * (cell, id) — vectors join back for surviving candidates. A corpus row
    * lives in exactly one cell and a query's probe cells are distinct, so
    * no candidate pair is ever produced twice — no dedup step at all.
    */
  def cosineTopKIvf(
      queries: DataFrame, corpus: DataFrame, idCol: String, vecCol: String,
      k: Int, numCells: Int = 16, nprobe: Int = 8,
      sampleN: Int = 4096, iters: Int = 10): DataFrame =
    rankTopK(ivfCandidateScores(queries, corpus, idCol, vecCol,
      numCells, nprobe, sampleN, iters), k)

  /** Shared IVF first stage: train centroids, assign corpus rows to
    * cells, probe each query's `nprobe` nearest cells, and score the
    * bounded candidate set with the same bit-matched cosine as the
    * brute-force paths. Both [[cosineTopKIvf]] and [[hardNegativesIvf]]
    * re-rank THIS frame — one owner for the cell-join shape. */
  private def ivfCandidateScores(
      queries: DataFrame, corpus: DataFrame, idCol: String, vecCol: String,
      numCells: Int, nprobe: Int, sampleN: Int, iters: Int): DataFrame = {
    val centroids = trainIvfCentroids(corpus, idCol, vecCol, numCells, sampleN, iters)
    val cBase = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
    val cCells = cBase.select(col("neighbor_id"),
      element_at(IvfExprs.nearestCentroids(col("cv"), centroids, 1), 1).as("cell"))
    val qBase = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val qCells = qBase.select(col("query_id"),
      explode(IvfExprs.nearestCentroids(col("qv"), centroids, nprobe)).as("cell"))
    val cands = cCells.join(broadcast(qCells), "cell")
      .filter(col("query_id") =!= col("neighbor_id"))
      .select("query_id", "neighbor_id")
    val qv = qBase.withColumn("qn", sqrt(normSq(col("qv"))))
    val cv = cBase.withColumn("cn", sqrt(normSq(col("cv"))))
    cands.join(cv, "neighbor_id").join(broadcast(qv), "query_id")
      .withColumn("cosine", dot(col("qv"), col("cv")) / (col("qn") * col("cn")))
  }

  /** The scale path for [[hardNegatives]]: IVF candidate generation
    * bounds the scored set (nprobe cells per anchor instead of the whole
    * corpus), then the SAME below-threshold cut and top-k re-rank. The
    * threshold filter runs on exact cosines of the candidates, so the
    * positives-never-leak guarantee is UNCONDITIONAL — approximation can
    * only lose candidate negatives (recall measured in
    * RecallContractSpec), never admit an above-threshold positive. */
  def hardNegativesIvf(
      anchors: DataFrame, corpus: DataFrame, idCol: String, vecCol: String,
      k: Int, posThreshold: Double, numCells: Int = 16, nprobe: Int = 8,
      sampleN: Int = 4096, iters: Int = 10): DataFrame =
    rankTopK(ivfCandidateScores(anchors, corpus, idCol, vecCol,
        numCells, nprobe, sampleN, iters)
      .filter(col("cosine") < posThreshold), k)

  /** Product-quantization codebooks (Jégou et al. 2011): the vector is
    * split into `m` subspaces of `dsub` dims and each subspace gets its
    * own `ksub`-centroid L2 k-means codebook, trained on the same bounded
    * deterministic sample as [[trainIvfCentroids]] (normalized first, so
    * codes quantize DIRECTION — the cosine-relevant part). Returns the
    * `[m][ksub][dsub]` tensor consumed by [[graft.functions.PqExprs]].
    * Deterministic: strided init over the id-ordered sample, argmin ties
    * to the lower index, fixed iteration count, empty cells keep their
    * old centroid.
    */
  def trainPqCodebooks(
      corpus: DataFrame, idCol: String, vecCol: String,
      m: Int = 8, ksub: Int = 64, sampleN: Int = 4096,
      iters: Int = 10): Array[Array[Array[Float]]] = {
    val rows = corpus.select(col(idCol), col(vecCol))
      .orderBy(col(idCol)).limit(sampleN).collect()
    val sample = rows.iterator.map(_.getSeq[Float](1).toArray).map { v =>
      val n = math.sqrt(v.foldLeft(0.0)((a, x) => a + x.toDouble * x))
      if (n == 0.0) v.map(_ => 0.0) else v.map(_ / n)
    }.toArray
    require(sample.length >= ksub,
      s"need >= $ksub sample vectors to train, got ${sample.length}")
    val dim = sample.head.length
    require(dim % m == 0, s"dim $dim not divisible by m=$m subspaces")
    val dsub = dim / m
    Array.tabulate(m) { s =>
      val subs = sample.map(v => java.util.Arrays.copyOfRange(v, s * dsub, (s + 1) * dsub))
      var cents = Array.tabulate(ksub)(c =>
        subs((c.toLong * subs.length / ksub).toInt).clone())
      for (_ <- 1 to iters) {
        val sums = Array.fill(ksub)(new Array[Double](dsub))
        val counts = new Array[Int](ksub)
        subs.foreach { v =>
          var best = 0; var bestD = Double.MaxValue
          var c = 0
          while (c < ksub) {
            var d = 0.0; var i = 0
            while (i < dsub) { val x = v(i) - cents(c)(i); d += x * x; i += 1 }
            if (d < bestD) { bestD = d; best = c }
            c += 1
          }
          val t = sums(best); var i = 0
          while (i < dsub) { t(i) += v(i); i += 1 }
          counts(best) += 1
        }
        cents = Array.tabulate(ksub)(c =>
          if (counts(c) == 0) cents(c) else sums(c).map(_ / counts(c)))
      }
      cents.map(_.map(_.toFloat))
    }
  }

  /** IVF+PQ approximate cosine top-k (the FAISS "IVFADC" shape) — the
    * memory/IO scale path beyond [[cosineTopKIvf]]: the index rows carried
    * through the probe join are (cell, id, `m`-byte code) — for 64-float
    * embeddings that is a 32x smaller index than the vectors themselves,
    * which at 100 TB is the difference between an index that fits hot
    * storage and one that doesn't. Each query computes ONE `m*ksub` ADC
    * lookup table; scoring a candidate is `m` array lookups (no dot
    * product). The ADC top-`refine*k` shortlist per query — a bounded
    * [[graft.functions.TopKPairs]] aggregate, partial map-side like every
    * rankTopK here — then joins the TRUE vectors back for exact cosine
    * re-ranking, so PQ quantization error affects only shortlist
    * membership, never the final ranking.
    */
  def cosineTopKPq(
      queries: DataFrame, corpus: DataFrame, idCol: String, vecCol: String,
      k: Int, numCells: Int = 16, nprobe: Int = 8, m: Int = 8,
      ksub: Int = 64, refine: Int = 4, sampleN: Int = 4096,
      iters: Int = 10): DataFrame = {
    import graft.functions.PqExprs
    val centroids = trainIvfCentroids(corpus, idCol, vecCol, numCells, sampleN, iters)
    val books = trainPqCodebooks(corpus, idCol, vecCol, m, ksub, sampleN, iters)
    val cBase = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
    // the index shape: cell + code, NO vector payload through the probe join
    val cIndex = cBase.select(col("neighbor_id"),
      element_at(IvfExprs.nearestCentroids(col("cv"), centroids, 1), 1).as("cell"),
      PqExprs.pqEncode(col("cv"), books).as("code"))
    val qBase = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    // LUT computed once per query row, duplicated per probe by the explode
    val qProbes = qBase
      .withColumn("lut", PqExprs.pqLut(col("qv"), books))
      .select(col("query_id"), col("lut"),
        explode(IvfExprs.nearestCentroids(col("qv"), centroids, nprobe)).as("cell"))
    val shortlist = cIndex.join(broadcast(qProbes), "cell")
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("adc", PqExprs.pqAdcDot(col("lut"), col("code"), ksub))
      .groupBy("query_id")
      .agg(TopKPairs.topK(col("adc"), col("neighbor_id"), refine * k).as("nb"))
      .select(col("query_id"), explode(col("nb")).as("_s"))
      .select(col("query_id"), col("_s.id").as("neighbor_id"))
    // exact re-rank: true vectors join back ONLY for the bounded shortlist
    val qv = qBase.withColumn("qn", sqrt(normSq(col("qv"))))
    val cv = cBase.withColumn("cn", sqrt(normSq(col("cv"))))
    val scored = shortlist.join(cv, "neighbor_id").join(broadcast(qv), "query_id")
      .withColumn("cosine", dot(col("qv"), col("cv")) / (col("qn") * col("cn")))
    rankTopK(scored, k)
  }

  /** Persist an IVF index: the corpus written `partitionBy("cell")` so a
    * probe of `nprobe` cells is a PARTITION-PRUNED read — at 100 TB each
    * query touches nprobe/numCells of the files and the rest are never
    * opened (the pruning is visible as PartitionFilters in the scan).
    * Returns the trained centroids; they are also persisted alongside the
    * data (`_centroids` subdir) so readers need only the path.
    */
  def writeIvfIndex(
      corpus: DataFrame, idCol: String, vecCol: String, path: String,
      numCells: Int = 16, sampleN: Int = 4096,
      iters: Int = 10): Array[Array[Float]] = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val centroids = trainIvfCentroids(corpus, idCol, vecCol, numCells, sampleN, iters)
    // initial corpus lands as batch=0 so per-ingest appends
    // ([[appendIvfIndexBatch]]) share one consistent batch=<id>/cell=<c>
    // layout — partition discovery needs uniform depth, and cell pruning
    // spans every batch directory. A rebuild must replace the WHOLE data
    // dir (stale appended batches carry OLD-centroid cell labels), but
    // deleting it eagerly would destroy the lazy rebuild's own input when
    // `corpus` derives from this index — so write to a temp dir first and
    // swap after the job lands.
    writeSwapped(spark, s"$path/data", "batch=0")(
      corpus.withColumn("cell",
        element_at(IvfExprs.nearestCentroids(col(vecCol), centroids, 1), 1)))
    centroids.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("cell", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/_centroids")
    centroids
  }

  /** Append one ingest batch to a persisted IVF index, IDEMPOTENTLY under
    * retries (the batch owns `data/batch=<id>`, a retry overwrites it —
    * same maintenance contract as the MinHash and sign-bucket indexes).
    * Vectors are assigned to the EXISTING persisted centroids: an ANN
    * index must keep its quantizer frozen between offline retrains, or
    * probe cells and stored cells drift apart and recall silently decays.
    * Cell partition pruning spans all batch directories.
    */
  def appendIvfIndexBatch(df: DataFrame, idCol: String, vecCol: String,
      path: String, batchId: Long, measureRecall: Boolean = false,
      recallK: Int = 10, recallNprobe: Int = 8,
      recallSample: Int = 64): Option[Double] = {
    require(batchId != 0L, "batch 0 is the initial writeIvfIndex corpus")
    requireFreshIds(df, idCol, path, batchId)
    val centroids = readIvfCentroids(df.sparkSession, path)
    df
      .withColumn("cell",
        element_at(IvfExprs.nearestCentroids(col(vecCol), centroids, 1), 1))
      .write.mode("overwrite").partitionBy("cell").parquet(s"$path/data/batch=$batchId")
    if (!measureRecall) None
    else {
      val r = ivfIndexRecall(df.sparkSession, path, df, idCol, vecCol,
        recallK, recallNprobe, recallSample)
      log.info(f"ivf-index append batch=$batchId recall@$recallK=" +
        f"$r%.4f (nprobe=$recallNprobe, sample<=$recallSample) — " +
        "retrain (writeIvfIndex) when this trends below the serving floor")
      Some(r)
    }
  }

  /** Recall@k of the persisted IVF index for a seeded sample of `probeFrom`
    * rows against the exact brute-force top-k over the SAME index data —
    * the per-append drift telemetry: the quantizer is frozen between
    * offline retrains, so a drifting ingest distribution degrades cell
    * routing silently; measuring each appended batch against exact truth
    * makes the decay visible per batch instead of at the next offline
    * evaluation. Cost: one corpus pass (the exact side) for a bounded
    * (`sampleQueries`) set of probes — the deliberate price of truth, paid
    * at append time, not query time. The documented retrain trigger: when
    * a batch's recall lands below the serving contract floor (0.9 in this
    * repo's recall contracts), rebuild with [[writeIvfIndex]] — appends
    * until then are safe because recall decays with distribution
    * distance, not with batch count.
    */
  def ivfIndexRecall(spark: org.apache.spark.sql.SparkSession, path: String,
      probeFrom: DataFrame, idCol: String, vecCol: String,
      k: Int = 10, nprobe: Int = 8, sampleQueries: Int = 64): Double = {
    val sample = seededSample(probeFrom, idCol, vecCol, sampleQueries)
    val corpus = spark.read.parquet(s"$path/data").select(col(idCol), col(vecCol))
    recallOf(
      cosineTopKIvfIndexed(sample, path, idCol, vecCol, k,
        nprobe = math.min(nprobe, readIvfCentroids(spark, path).length)),
      cosineTopK(sample, corpus, idCol, vecCol, k))
  }

  /** Deterministic probe sample: hash-ordered, so it is reproducible and
    * unbiased by the caller's row order (an id-ordered head would probe
    * only the oldest rows of a batch).
    */
  private def seededSample(df: DataFrame, idCol: String, vecCol: String,
      n: Int): DataFrame =
    df.select(col(idCol), col(vecCol))
      .orderBy(xxhash64(col(idCol)), col(idCol)).limit(n)

  /** recall@k = |approx ∩ exact| / |exact| over (query, neighbor) pairs.
    * 1.0 when the exact side is empty (nothing to find).
    */
  private def recallOf(approx: DataFrame, exact: DataFrame): Double = {
    def pairs(d: DataFrame) = d.select("query_id", "neighbor_id").collect()
      .map(r => (r.get(0), r.get(1))).toSet
    val truth = pairs(exact)
    if (truth.isEmpty) 1.0
    else pairs(approx).count(truth.contains).toDouble / truth.size
  }

  /** Load the centroid matrix persisted by [[writeIvfIndex]]. */
  def readIvfCentroids(spark: org.apache.spark.sql.SparkSession,
      path: String): Array[Array[Float]] =
    spark.read.parquet(s"$path/_centroids").orderBy("cell").collect()
      .map(_.getSeq[Float](1).toArray)

  /** Approximate cosine top-k against a persisted IVF index: the probe
    * cells of all queries are computed first (small side, collected), the
    * index is read with `cell IN (probes)` — partition pruning, not a
    * full scan — and exact cosine re-ranks the candidates. The probe-cell
    * collect is bounded by queries×nprobe; queries are the small side by
    * contract (same as every kNN entry point here).
    */
  def cosineTopKIvfIndexed(
      queries: DataFrame, indexPath: String, idCol: String, vecCol: String,
      k: Int, nprobe: Int = 8): DataFrame = {
    val spark = queries.sparkSession
    val centroids = readIvfCentroids(spark, indexPath)
    require(nprobe <= centroids.length)
    // queries are small by contract: no persist/checkpoint needed, the
    // probe projection just computes twice (and the plan stays inspectable
    // down to the pruned scan)
    val qBase = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
      .withColumn("probes",
        IvfExprs.nearestCentroids(col("qv"), centroids, nprobe))
    val probeCells = qBase.select(explode(col("probes")).as("cell"))
      .distinct().collect().map(_.getInt(0))
    val qCells = qBase.select(col("query_id"), explode(col("probes")).as("cell"))
    // the isin filter lands on the partition column -> pruned file listing
    val c = spark.read.parquet(s"$indexPath/data")
      .filter(col("cell").isin(probeCells.map(Integer.valueOf).toSeq: _*))
      .select(col("cell"), col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
    val cands = c.join(broadcast(qCells), "cell")
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), col("cv"))
    val qv = qBase.select(col("query_id"), col("qv"),
      sqrt(normSq(col("qv"))).as("qn"))
    val scored = cands.join(broadcast(qv), "query_id")
      .withColumn("cosine",
        dot(col("qv"), col("cv")) / (col("qn") * sqrt(normSq(col("cv")))))
    rankTopK(scored, k)
  }

  /** Persist an IVF+PQ index (the FAISS IVFADC shape, durable): rows are
    * (idCol, vecCol, cell, code) partitioned by cell — the probe join
    * column-prunes to (cell, id, `m`-byte code), so the index READ is the
    * 32x-smaller shape even though the true vectors ride in the same
    * files for the exact re-rank (their column is only read for the
    * bounded shortlist ids). Centroids and codebooks persist alongside
    * (`_centroids`, `_codebooks`), both FROZEN between offline retrains —
    * [[appendPqIndexBatch]] encodes new batches with the persisted
    * quantizers, never retraining. A rebuild wipes the whole data dir
    * (stale appends would carry old-quantizer cells/codes).
    */
  def writePqIndex(
      corpus: DataFrame, idCol: String, vecCol: String, path: String,
      numCells: Int = 16, m: Int = 8, ksub: Int = 64,
      sampleN: Int = 4096, iters: Int = 10): Unit = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val centroids = trainIvfCentroids(corpus, idCol, vecCol, numCells, sampleN, iters)
    val books = trainPqCodebooks(corpus, idCol, vecCol, m, ksub, sampleN, iters)
    // temp-dir write + swap: see writeIvfIndex's rebuild note
    writeSwapped(spark, s"$path/data", "batch=0")(
      encodePq(corpus, idCol, vecCol, centroids, books))
    centroids.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("cell", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/_centroids")
    books.zipWithIndex.flatMap { case (sub, s) =>
      sub.zipWithIndex.map { case (cent, c) => (s, c, cent.toSeq) }
    }.toSeq.toDF("sub", "cent", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/_codebooks")
  }

  /** Write `df` (partitioned by cell) under `dataDir/$sub` via a temp
    * sibling dir, swapping only after the job lands: the lazy write may
    * READ the old index (a re-index-from-itself rebuild), so the old dir
    * must outlive the job. Single-writer; concurrent probes can still
    * race the swap instant, as with any non-transactional table format.
    */
  private def writeSwapped(spark: org.apache.spark.sql.SparkSession,
      dataDir: String, sub: String)(df: DataFrame): Unit = {
    val dataPath = new org.apache.hadoop.fs.Path(dataDir)
    val tmpPath = new org.apache.hadoop.fs.Path(dataDir + "_tmp")
    val fs = dataPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // recovery-first: a crash between the delete and the rename below
    // leaves the only copy in the stage dir — promote it (the lazy `df`
    // may read the live dir, so recovery must run before the write),
    // never wipe it; see StagedSwap
    StagedSwap.recoverOrClearStage(fs, dataPath, tmpPath)
    df.write.mode("overwrite").partitionBy("cell").parquet(s"$tmpPath/$sub")
    StagedSwap.swap(fs, dataPath, tmpPath)
  }

  /** Loud duplicate-id gate for index appends: an id present in ANOTHER
    * batch and the incoming one would surface at probe time as the same
    * neighbor consuming two top-k slots. The batch's OWN partition is
    * excluded so a retried append (which overwrites it) stays legitimate.
    * One column-pruned scan of the index's id column, no shuffle (AQE
    * picks the join strategy).
    */
  private def requireFreshIds(df: DataFrame, idCol: String, path: String,
      batchId: Long): Unit = {
    val dup = df.sparkSession.read.parquet(s"$path/data")
      .filter(col("batch").cast("string") =!= lit(batchId.toString))
      .select(col(idCol))
      .join(df.select(col(idCol)).distinct(), idCol).take(1)
    require(dup.isEmpty,
      s"index at $path already contains id ${dup.headOption.map(_.get(0)).orNull}" +
        " in another batch — re-delivered rows? dedup the batch or rebuild the index")
  }

  private def encodePq(df: DataFrame, idCol: String, vecCol: String,
      centroids: Array[Array[Float]],
      books: Array[Array[Array[Float]]]): DataFrame = {
    import graft.functions.PqExprs
    df.select(col(idCol), col(vecCol),
      element_at(IvfExprs.nearestCentroids(col(vecCol), centroids, 1), 1).as("cell"),
      PqExprs.pqEncode(col(vecCol), books).as("code"))
  }

  /** Load the codebooks persisted by [[writePqIndex]] as books(sub)(cent). */
  def readPqCodebooks(spark: org.apache.spark.sql.SparkSession,
      path: String): Array[Array[Array[Float]]] = {
    val rows = spark.read.parquet(s"$path/_codebooks")
      .orderBy("sub", "cent").collect()
    require(rows.nonEmpty, s"$path/_codebooks is empty — index not written?")
    // group by the ACTUAL sub value, never by blind position: a partial
    // or hand-repaired dir with uneven counts would otherwise shift every
    // group boundary and silently scramble the ADC lookup tables
    val bySub = rows.groupBy(_.getInt(0))
    val m = bySub.keySet.max + 1
    val ksub = bySub.values.head.length
    require(bySub.keySet == (0 until m).toSet &&
      bySub.values.forall(_.length == ksub),
      s"$path/_codebooks is corrupt: expected $m subspaces x $ksub " +
        s"centroids, got ${bySub.view.mapValues(_.length).toMap}")
    Array.tabulate(m)(sub => bySub(sub).sortBy(_.getInt(1))
      .map(_.getSeq[Float](2).toArray))
  }

  /** Append one ingest batch to a persisted PQ index, idempotently under
    * retries (the batch owns `data/batch=<id>`), encoding with the FROZEN
    * persisted centroids and codebooks — same maintenance contract as
    * [[appendIvfIndexBatch]].
    */
  def appendPqIndexBatch(df: DataFrame, idCol: String, vecCol: String,
      path: String, batchId: Long, measureRecall: Boolean = false,
      recallK: Int = 10, recallNprobe: Int = 8, recallRefine: Int = 4,
      recallSample: Int = 64): Option[Double] = {
    require(batchId != 0L, "batch 0 is the initial writePqIndex corpus")
    requireFreshIds(df, idCol, path, batchId)
    val centroids = readIvfCentroids(df.sparkSession, path)
    val books = readPqCodebooks(df.sparkSession, path)
    encodePq(df, idCol, vecCol, centroids, books)
      .write.mode("overwrite").partitionBy("cell").parquet(s"$path/data/batch=$batchId")
    if (!measureRecall) None
    else {
      val r = pqIndexRecall(df.sparkSession, path, df, idCol, vecCol,
        recallK, recallNprobe, recallRefine, recallSample)
      log.info(f"pq-index append batch=$batchId recall@$recallK=" +
        f"$r%.4f (nprobe=$recallNprobe, refine=$recallRefine, " +
        f"sample<=$recallSample) — retrain (writePqIndex) when this " +
        "trends below the serving floor")
      Some(r)
    }
  }

  /** Recall@k of the persisted PQ/IVFADC index for a seeded sample of
    * `probeFrom` vs exact brute force over the same index data — the PQ
    * twin of [[ivfIndexRecall]], with the additional drift surface that
    * BOTH quantizers (coarse cells and the per-subspace codebooks) are
    * frozen: ADC distances degrade under codebook drift even when cell
    * routing still works. Same retrain contract: rebuild with
    * [[writePqIndex]] when a batch's recall lands below the serving
    * floor.
    */
  def pqIndexRecall(spark: org.apache.spark.sql.SparkSession, path: String,
      probeFrom: DataFrame, idCol: String, vecCol: String,
      k: Int = 10, nprobe: Int = 8, refine: Int = 4,
      sampleQueries: Int = 64): Double = {
    val sample = seededSample(probeFrom, idCol, vecCol, sampleQueries)
    val corpus = spark.read.parquet(s"$path/data").select(col(idCol), col(vecCol))
    recallOf(
      cosineTopKPqIndexed(sample, path, idCol, vecCol, k,
        nprobe = math.min(nprobe, readIvfCentroids(spark, path).length),
        refine = refine),
      cosineTopK(sample, corpus, idCol, vecCol, k))
  }

  /** IVFADC top-k against a persisted PQ index: probe cells are a
    * partition-pruned read of (cell, id, code); ADC shortlists
    * `refine*k` per query; the true vectors join back from the SAME
    * files (column-pruned to id+vector) for exact cosine re-ranking.
    */
  def cosineTopKPqIndexed(
      queries: DataFrame, indexPath: String, idCol: String, vecCol: String,
      k: Int, nprobe: Int = 8, refine: Int = 4): DataFrame = {
    import graft.functions.PqExprs
    val spark = queries.sparkSession
    val centroids = readIvfCentroids(spark, indexPath)
    val books = readPqCodebooks(spark, indexPath)
    val ksub = books.head.length
    require(nprobe <= centroids.length)
    val qBase = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val qProbes = qBase
      .withColumn("lut", PqExprs.pqLut(col("qv"), books))
      .select(col("query_id"), col("lut"),
        explode(IvfExprs.nearestCentroids(col("qv"), centroids, nprobe)).as("cell"))
    val probeCells = qProbes.select("cell").distinct().collect().map(_.getInt(0))
    val data = spark.read.parquet(s"$indexPath/data")
    val cIndex = data
      .filter(col("cell").isin(probeCells.map(Integer.valueOf).toSeq: _*))
      .select(col("cell"), col(idCol).as("neighbor_id"), col("code"))
    val shortlist = cIndex.join(broadcast(qProbes), "cell")
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("adc", PqExprs.pqAdcDot(col("lut"), col("code"), ksub))
      .groupBy("query_id")
      .agg(TopKPairs.topK(col("adc"), col("neighbor_id"), refine * k).as("nb"))
      .select(col("query_id"), explode(col("nb")).as("_s"))
      .select(col("query_id"), col("_s.id").as("neighbor_id"))
    val qv = qBase.withColumn("qn", sqrt(normSq(col("qv"))))
    // the re-rank read is pruned to the SAME probe cells — every
    // shortlist id comes from them by construction, and an unfiltered
    // read would scan the fat vector column of the whole index
    val cv = data
      .filter(col("cell").isin(probeCells.map(Integer.valueOf).toSeq: _*))
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
      .withColumn("cn", sqrt(normSq(col("cv"))))
    val scored = shortlist.join(cv, "neighbor_id").join(broadcast(qv), "query_id")
      .withColumn("cosine", dot(col("qv"), col("cv")) / (col("qn") * col("cn")))
    rankTopK(scored, k)
  }

  /** Deterministic random hyperplanes (seeded) as a literal nested
    * `array<array<float>>`. LEGACY — only the unrolled test oracle
    * [[lshTableBuckets]] consumes this; production signatures use
    * [[graft.functions.LshExprs.lshSignBuckets]], whose
    * `planeMatrix(n, dim, seed)` draws the identical gaussian sequence.
    */
  def hyperplanes(numPlanes: Int, dim: Int, seed: Long = 42L): Column = {
    val rnd = new Random(seed)
    array((0 until numPlanes).map { _ =>
      array((0 until dim).map(_ => lit(rnd.nextGaussian().toFloat)): _*)
    }: _*)
  }

  /** Sign-pattern LSH bucket id: bit p set when v · plane_p > 0
    * (statically unrolled over planes; `element_at` on the literal plane
    * array constant-folds, each dot is one codegen'd loop).
    */
  def lshBucket(vec: Column, planes: Column, numPlanes: Int): Column =
    (0 until numPlanes).map { p =>
      when(dotF32(vec, element_at(planes, p + 1)) > 0, lit(1L << p))
        .otherwise(lit(0L))
    }.reduce(_.bitwiseOR(_))

  /** LEGACY unrolled per-table sign-pattern buckets — superseded in the
    * operators by the single-expression [[graft.functions.LshSignBuckets]]
    * and retained ONLY as the bit-identity oracle in OpsSpec ("new = old"
    * agreement test). Semantics: `numTables` independent hash tables of
    * `planesPerTable` hyperplanes each, as one `array<long>` column; a
    * pair is a candidate when it collides in ANY table (classic OR
    * amplification) — a single table of p planes has collision probability
    * (1-θ/π)^p, which collapses for moderately-similar neighbors; L tables
    * lift it to 1-(1-(1-θ/π)^p)^L while each table still prunes ~2^p-fold.
    */
  def lshTableBuckets(
      vec: Column, planes: Column, numTables: Int, planesPerTable: Int): Column =
    array((0 until numTables).map { t =>
      (0 until planesPerTable).map { p =>
        val idx = t * planesPerTable + p
        when(dotF32(vec, element_at(planes, idx + 1)) > 0, lit(1L << p))
          .otherwise(lit(0L))
      }.reduce(_.bitwiseOR(_))
    }: _*)

  /** Explode an `array<long>` bucket-signature column to one row per
    * (table, probe bucket): the table's own bucket plus, when
    * `probeBits = 1`, its `planesPerTable` single-bit flips — the
    * multi-probe candidate set. Probes of one table are all distinct, so
    * a (query, neighbor) pair matches AT MOST ONCE per table; cross-table
    * dedup is the caller's `first_close_index(...) === table` filter.
    */
  private def explodeProbes(
      df: DataFrame, sigCol: String, planesPerTable: Int,
      probeBits: Int): DataFrame = {
    require(probeBits == 0 || probeBits == 1, "probeBits must be 0 or 1")
    val base = df.select(col("*"), posexplode(col(sigCol)).as(Seq("table", "_b0")))
    if (probeBits == 0) base.withColumnRenamed("_b0", "bucket")
    else base.select(col("*"),
        explode(array(col("_b0") +: (0 until planesPerTable).map(p =>
          col("_b0").bitwiseXOR(lit(1L << p))): _*)).as("bucket"))
      .drop("_b0")
  }

  /** LSH-bucketed approximate cosine top-k: corpus and queries are hashed
    * into `numTables` sign-pattern tables; each query probes its own
    * bucket AND every single-bit flip of it (multi-probe, `probeBits = 1`
    * default), then exact cosine ranks the union of candidates. A pair
    * close in several tables is kept only in its FIRST close table
    * (`first_close_index` over the two signature arrays — per-row filter,
    * no dedup shuffle; the popcount(qb[t] XOR cb[t]) <= probeBits test is
    * exactly "some probe of table t hits the neighbor's bucket").
    *
    * Shuffle hygiene for 100 TB: bucket rows carry ONLY
    * (table, bucket, id, signature) — the 64-float vectors and norms are
    * joined back for the (pruned) candidate set afterwards, so the
    * equi-join never copies vector payload per candidate pair. Queries are
    * broadcast (small side by construction); the corpus join-back is a
    * shuffle join on id at scale.
    */
  def cosineTopKLsh(
      queries: DataFrame, corpus: DataFrame, idCol: String, vecCol: String,
      k: Int, numTables: Int = 8, planesPerTable: Int = 4,
      dim: Int = 64, seed: Long = 42L, probeBits: Int = 1): DataFrame = {
    def sig(v: Column) = LshExprs.lshSignBuckets(v, numTables, planesPerTable, dim, seed)
    val qBase = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
      .withColumn("qb", sig(col("qv")))
    val cBase = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
      .withColumn("cb", sig(col("cv")))
    // lean bucket rows; probes explode on the (tiny, broadcast) query side
    val q = explodeProbes(qBase.select(col("query_id"), col("qb")),
      "qb", planesPerTable, probeBits)
    val c = cBase.select(col("neighbor_id"), col("cb"),
      posexplode(col("cb")).as(Seq("table", "bucket")))
    val cands = c.join(broadcast(q), Seq("table", "bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .filter(LshExprs.firstCloseIndex(col("qb"), col("cb"), probeBits) ===
        col("table"))
      .select("query_id", "neighbor_id")
    // vectors join back ONLY for surviving candidates (MinHash design:
    // TextDedup.minhashNearDups keeps bucket rows lean the same way)
    val qv = qBase.select(col("query_id"), col("qv"),
      sqrt(normSq(col("qv"))).as("qn"))
    val cv = cBase.select(col("neighbor_id"), col("cv"),
      sqrt(normSq(col("cv"))).as("cn"))
    val scored = cands.join(cv, "neighbor_id").join(broadcast(qv), "query_id")
      .withColumn("cosine", dot(col("qv"), col("cv")) / (col("qn") * col("cn")))
    rankTopK(scored, k)
  }

  /** Embedding-cosine near-duplicate pairs above a similarity threshold,
    * multi-table LSH-blocked (the embedding analog of MinHash dedup).
    * Defaults favor the realistic near-dup regime (cosine >= ~0.8):
    * 8 tables × 6 planes give ~98% recall at cosine 0.9 while each table
    * prunes 64-fold. `probeBits = 1` additionally probes single-bit-flip
    * buckets (one side of the self-join explodes planesPerTable+1 probes),
    * lifting per-table collision probability from p^6 to
    * p^6 + 6·p^5(1-p) — e.g. at cosine 0.5 overall recall rises from
    * ~0.52 to ~0.97 — at ~7× candidate-join fan-in; the measured recall
    * contract lives in RecallContractSpec.
    *
    * Scale shape: the bucket self-join carries ONLY
    * (table, bucket, id, signature) — vector payload joins back for the
    * deduplicated candidates (same lean-row design as
    * TextDedup.minhashNearDups).
    */
  def cosineNearDups(
      df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, numTables: Int = 8, planesPerTable: Int = 6,
      dim: Int = 64, seed: Long = 42L, probeBits: Int = 0,
      materialize: Boolean = true): DataFrame = {
    val base = df.select(col(idCol).as("id"), col(vecCol).as("v"))
      .withColumn("tb",
        LshExprs.lshSignBuckets(col("v"), numTables, planesPerTable, dim, seed))
    if (materialize)
      base.persist() // read 3× below (bucket rows + two vector join-backs)
    val lean = base.select(col("id"), col("tb"))
    val a = explodeProbes(lean, "tb", planesPerTable, probeBits)
      .select(col("table"), col("bucket"), col("id").as("id_a"),
        col("tb").as("tb_a"))
    val b = lean.select(col("id").as("id_b"), col("tb").as("tb_b"),
      posexplode(col("tb")).as(Seq("table", "bucket")))
    val cands = a.join(b, Seq("table", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .filter(LshExprs.firstCloseIndex(col("tb_a"), col("tb_b"), probeBits) ===
        col("table"))
      .select("id_a", "id_b")
    val va = base.select(col("id").as("id_a"), col("v").as("va"),
      sqrt(normSq(col("v"))).as("na"))
    val vb = base.select(col("id").as("id_b"), col("v").as("vb"),
      sqrt(normSq(col("v"))).as("nb"))
    val pairs = cands.join(va, "id_a").join(vb, "id_b")
      .withColumn("cosine", dot(col("va"), col("vb")) / (col("na") * col("nb")))
      .filter(col("cosine") >= threshold)
      .select("id_a", "id_b", "cosine")
    // materialize (lineage-truncating local checkpoint) so the corpus
    // cache can be dropped HERE instead of leaking across queries;
    // materialize = false returns the LAZY plan (plan-inspection tests —
    // a checkpointed frame explains as an opaque LogicalRDD)
    if (!materialize) pairs
    else {
      val out = pairs.localCheckpoint(true)
      base.unpersist(false)
      out
    }
  }

  /** Sign-bucket LSH signatures for a corpus: (id, v, tb) where `tb` is
    * the per-table bucket array [[graft.functions.LshExprs.lshSignBuckets]]
    * computes. The precomputable half of embedding near-dup detection —
    * the vector twin of [[graft.ops.TextDedup.minhashSignatures]]. The
    * vectors ride along so a persisted index is the corpus's embedding
    * store AND its candidate structure; probes column-prune `tb` for
    * bucketing and read `v` only for the surviving candidates' verify
    * join.
    */
  def signIndex(df: DataFrame, idCol: String, vecCol: String,
      numTables: Int = 8, planesPerTable: Int = 6,
      dim: Int = 64, seed: Long = 42L): DataFrame =
    df.select(col(idCol).as("id"), col(vecCol).as("v"))
      .withColumn("tb",
        LshExprs.lshSignBuckets(col("v"), numTables, planesPerTable, dim, seed))

  private def stampedSignIndex(df: DataFrame, idCol: String, vecCol: String,
      numTables: Int, planesPerTable: Int, dim: Int, seed: Long): DataFrame =
    signIndex(df, idCol, vecCol, numTables, planesPerTable, dim, seed)
      .withColumn("_num_tables", lit(numTables))
      .withColumn("_planes_per_table", lit(planesPerTable))
      .withColumn("_dim", lit(dim))
      .withColumn("_seed", lit(seed))

  /** Persist the sign-bucket index (parquet), params-stamped so a
    * mismatched probe fails loudly (the planes are seed-derived, so
    * differing params silently hash into disjoint buckets otherwise).
    */
  def writeSignIndex(df: DataFrame, idCol: String, vecCol: String,
      path: String, numTables: Int = 8, planesPerTable: Int = 6,
      dim: Int = 64, seed: Long = 42L): Unit =
    stampedSignIndex(df, idCol, vecCol, numTables, planesPerTable, dim, seed)
      .write.mode("overwrite").parquet(path)

  /** Append one ingest batch's signatures idempotently under retries —
    * the batch owns `path/batch=<id>` and a retry overwrites it instead
    * of appending duplicate id rows (same maintenance contract as
    * [[graft.ops.TextDedup.appendMinhashIndexBatch]]).
    */
  def appendSignIndexBatch(df: DataFrame, idCol: String, vecCol: String,
      path: String, batchId: Long, numTables: Int = 8, planesPerTable: Int = 6,
      dim: Int = 64, seed: Long = 42L, measureRecall: Boolean = false,
      recallThreshold: Double = 0.5, recallProbeBits: Int = 1,
      recallSample: Int = 64): Option[Double] =
    appendSignIndexBatchKeyed(df, idCol, vecCol, path, batchId.toString,
      numTables, planesPerTable, dim, seed, measureRecall,
      recallThreshold, recallProbeBits, recallSample)

  /** [[appendSignIndexBatch]] with a caller-chosen string partition key —
    * see [[graft.ops.TextDedup.appendMinhashIndexBatchKeyed]].
    */
  def appendSignIndexBatchKeyed(df: DataFrame, idCol: String, vecCol: String,
      path: String, batchKey: String, numTables: Int = 8, planesPerTable: Int = 6,
      dim: Int = 64, seed: Long = 42L, measureRecall: Boolean = false,
      recallThreshold: Double = 0.5, recallProbeBits: Int = 1,
      recallSample: Int = 64): Option[Double] = {
    // "base" is the compacted-corpus partition: an append under that key
    // would mode("overwrite") the ENTIRE compacted index into one batch
    require(batchKey != "base",
      "batch key 'base' is reserved for compactSignIndex output")
    stampedSignIndex(df, idCol, vecCol, numTables, planesPerTable, dim, seed)
      .write.mode("overwrite").parquet(s"$path/batch=$batchKey")
    if (!measureRecall) None
    else {
      val r = signIndexRecall(df.sparkSession, path, df, idCol, vecCol,
        recallThreshold, recallProbeBits, recallSample,
        numTables, planesPerTable, dim, seed)
      log.info(f"sign-index append batch=$batchKey recall@cos>=" +
        f"$recallThreshold%.2f=$r%.4f (probeBits=$recallProbeBits, " +
        f"sample<=$recallSample) — re-bucket (writeSignIndex) when this " +
        "trends below the serving floor")
      Some(r)
    }
  }

  /** Pair recall of the persisted sign-bucket index for a seeded sample
    * of `probeFrom` vs exact cosine over the same (sample × rest-of-
    * index) slice — the near-dup twin of [[ivfIndexRecall]]: buckets are
    * seed-derived and FIXED, so a drifting embedding distribution can
    * concentrate mass into few buckets and silently lose cross-bucket
    * pairs. The sample's own ids are excluded from the index side (they
    * were just appended; a self-match is not recall). 1.0 when the slice
    * holds no exact pairs at the threshold — nothing to find proves
    * nothing, which is why the shipped drift contract plants jittered
    * twins. Retrain trigger: rebuild via [[writeSignIndex]] when a
    * batch's recall lands below the serving floor.
    */
  def signIndexRecall(spark: org.apache.spark.sql.SparkSession, path: String,
      probeFrom: DataFrame, idCol: String, vecCol: String,
      threshold: Double, probeBits: Int = 1, sampleQueries: Int = 64,
      numTables: Int = 8, planesPerTable: Int = 6, dim: Int = 64,
      seed: Long = 42L): Double = {
    val sample = seededSample(probeFrom, idCol, vecCol, sampleQueries)
    val rest = readSignIndex(spark, path)
      .join(broadcast(sample.select(col(idCol).as("id"))), Seq("id"), "left_anti")
    def pairs(d: DataFrame) = d.select("id_new", "id_old").collect()
      .map(r => (r.get(0), r.get(1))).toSet
    val got = pairs(incrementalCosineNearDups(sample, rest, idCol, vecCol,
      threshold, numTables, planesPerTable, dim, seed, probeBits,
      validateIds = false))
    val q = sample.select(col(idCol).as("id_new"), col(vecCol).as("qv"))
      .withColumn("qn", sqrt(normSq(col("qv"))))
    val c = rest.select(col("id").as("id_old"), col("v").as("cv"))
      .withColumn("cn", sqrt(normSq(col("cv"))))
    val truth = pairs(c.crossJoin(broadcast(q))
      .filter(dot(col("qv"), col("cv")) / (col("qn") * col("cn")) >= threshold)
      .select("id_new", "id_old"))
    if (truth.isEmpty) 1.0 else got.count(truth.contains).toDouble / truth.size
  }

  def readSignIndex(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame = spark.read.parquet(path)

  /** Compact a batch-appended sign-bucket index into a single
    * `batch=base` partition — the vector twin of
    * [[graft.ops.TextDedup.compactMinhashIndex]] (same flat-signature
    * layout, same staged-swap and duplicate-id rejection semantics,
    * same stream-idle-only timing rule: compacting between a streaming
    * append and its checkpoint commit breaks the crash-retry contract).
    */
  def compactSignIndex(spark: org.apache.spark.sql.SparkSession,
      path: String): Unit =
    graft.ops.TextDedup.compactBatchedIndexExcept(spark, path, Set.empty)

  /** [[compactSignIndex]] that carries `keepBatches` through unfolded —
    * see [[graft.ops.TextDedup.compactBatchedIndexExcept]] for why a
    * running stream must exclude its current micro-batch's partition.
    */
  def compactSignIndexExcept(spark: org.apache.spark.sql.SparkSession,
      path: String, keepBatches: Set[String]): Unit =
    graft.ops.TextDedup.compactBatchedIndexExcept(spark, path, keepBatches)

  /** Compact the `data/batch=<id>/cell=<c>` partitions of a persisted
    * IVF or PQ index into a single `batch=0` layout — the lifecycle step
    * that keeps probe reads from opening one directory per historical
    * ingest batch. Cell labels (and PQ codes) were computed against the
    * FROZEN persisted quantizer, so compaction is a pure re-layout: read
    * all batches, drop the batch key, cluster rows by cell (one file per
    * cell instead of per batch×task — the minimal pruned read), and
    * rewrite through the same temp-dir+swap as [[writeIvfIndex]]'s
    * rebuild (the lazy rewrite reads the old directory, which must
    * outlive the job; a crashed compaction leaves the live index
    * untouched). Duplicate ids across batches are rejected first —
    * compacting would fold them into one well-formed partition and hide
    * the corruption from [[appendIvfIndexBatch]]'s own gate. Quantizer
    * files (`_centroids`, `_codebooks`) are untouched; post-compaction
    * appends continue with fresh non-zero batch ids.
    */
  def compactVectorIndexData(spark: org.apache.spark.sql.SparkSession,
      path: String, idCol: String = "vec_id"): Unit = {
    val data = spark.read.parquet(s"$path/data")
    val dup = data.groupBy(col(idCol)).agg(count(lit(1)).as("_n"))
      .filter(col("_n") > 1).select(idCol).take(1)
    require(dup.isEmpty,
      s"index at $path holds duplicate id ${dup.headOption.map(_.get(0)).orNull}; " +
        "compacting would hide the corruption — dedup the batches or rebuild")
    writeSwapped(spark, s"$path/data", "batch=0")(
      data.drop("batch").repartition(col("cell")))
  }

  /** Incremental embedding near-dup detection: LSH candidate pairs
    * between a NEW ingest batch and the EXISTING corpus's persisted
    * sign-bucket index, verified by exact cosine ≥ threshold — the
    * per-ingest-batch production shape, mirroring
    * [[graft.ops.TextDedup.incrementalNearDups]] (recomputing corpus
    * signatures per batch is quadratic over the corpus's lifetime).
    *
    * Emits (id_new, id_old, cosine) exactly once per qualifying pair:
    * the bucket join produces a pair once per close table and the
    * first-close-table filter keeps one copy — per-row, no pairs-sized
    * dedup shuffle. Multi-probe (`probeBits = 1`) explodes probes on the
    * NEW side only (an ingest batch is small); the close-table test
    * `popcount(xor) <= probeBits` is symmetric, so the emitted pair set
    * equals [[cosineNearDups]] over the union corpus restricted to
    * (new, old) pairs — the batch-equivalence contract in
    * VectorIndexSpec. Index params must match the probe's and index ids
    * must be unique; both are checked loudly, as in the MinHash probe.
    * No viral-bucket cap, matching [[cosineNearDups]]: sign buckets
    * partition each table ~2^planes-fold and the exact-cosine verify
    * bounds emitted pairs.
    */
  def incrementalCosineNearDups(newVecs: DataFrame, index: DataFrame,
      idCol: String, vecCol: String, threshold: Double,
      numTables: Int = 8, planesPerTable: Int = 6,
      dim: Int = 64, seed: Long = 42L, probeBits: Int = 0,
      validateIds: Boolean = true): DataFrame = {
    val stamped = index.columns.contains("_num_tables")
    if (stamped) {
      // limit(1): an EMPTY stamped index (first-ever ingest) must yield
      // empty pairs, not a first() crash
      index.select("_num_tables", "_planes_per_table", "_dim", "_seed").limit(1)
        .collect().headOption.foreach { p =>
          require(p.getInt(0) == numTables && p.getInt(1) == planesPerTable &&
            p.getInt(2) == dim && p.getLong(3) == seed,
            s"index was written with (numTables=${p.getInt(0)}, " +
              s"planesPerTable=${p.getInt(1)}, dim=${p.getInt(2)}, " +
              s"seed=${p.getLong(3)}), probe uses " +
              s"($numTables, $planesPerTable, $dim, $seed)")
        }
    }
    val idx = if (stamped)
      index.drop("_num_tables", "_planes_per_table", "_dim", "_seed")
    else index
    // persist only when the index plan carries real computation (an
    // in-memory signIndex): a bare parquet/cached scan re-reads cheaply
    // column-pruned (same policy as TextDedup.incrementalNearDups)
    val ownPersist = index.storageLevel == org.apache.spark.storage.StorageLevel.NONE &&
      idx.storageLevel == org.apache.spark.storage.StorageLevel.NONE &&
      !TextDedup.isBareScan(idx.queryExecution.optimizedPlan)
    if (ownPersist) idx.persist()
    try {
      // full id-column pass; skippable by structurally-safe callers —
      // see TextDedup.incrementalNearDups' validateIds note
      if (validateIds) {
        val dup = idx.groupBy("id").agg(count(lit(1)).as("_n"))
          .filter(col("_n") > 1).select("id").take(1)
        require(dup.isEmpty,
          s"index contains duplicate id ${dup.headOption.map(_.get(0)).orNull} " +
            "(retried append?); repair the index with dropDuplicates(\"id\") " +
            "and a write-to-new-path swap before probing")
      }
      val fresh = signIndex(newVecs, idCol, vecCol,
        numTables, planesPerTable, dim, seed)
      fresh.persist() // read twice: probe explode + new-side verify join
      try {
        val a = explodeProbes(
          fresh.select(col("id").as("id_new"), col("tb").as("tb_new")),
          "tb_new", planesPerTable, probeBits)
        val b = idx.select(col("id").as("id_old"), col("tb").as("tb_old"),
          posexplode(col("tb")).as(Seq("table", "bucket")))
        val cands = a.join(b, Seq("table", "bucket"))
          .filter(col("id_new") =!= col("id_old"))
          .filter(LshExprs.firstCloseIndex(col("tb_new"), col("tb_old"),
            probeBits) === col("table"))
          .select("id_new", "id_old")
        // vectors join back only for surviving candidates: new side from
        // the (small) batch, old side column-pruned from the index
        val vn = fresh.select(col("id").as("id_new"), col("v").as("vn"),
          sqrt(normSq(col("v"))).as("nn"))
        val vo = idx.select(col("id").as("id_old"), col("v").as("vo"),
          sqrt(normSq(col("v"))).as("no"))
        val pairs = cands.join(vo, "id_old").join(vn, "id_new")
          .withColumn("cosine", dot(col("vn"), col("vo")) / (col("nn") * col("no")))
          .filter(col("cosine") >= threshold)
          .select("id_new", "id_old", "cosine")
        pairs.localCheckpoint(true)
      } finally fresh.unpersist(false)
    } finally {
      if (ownPersist) idx.unpersist(false)
    }
  }

  /** EXACT cosine near-dup pairs (id_a < id_b, cosine >= threshold) by a
    * guarded self-join — the oracle-grade exact twin of [[cosineNearDups]],
    * the same role [[graft.ops.TextDedup.jaccardPairs]] plays for the
    * MinHash path. Quadratic by definition, so it REFUSES inputs beyond
    * `maxRows` instead of silently melting a cluster: at corpus scale the
    * LSH path is the answer, this is for oracle checks, recall
    * measurement, and small curated sets. The right side broadcasts (it
    * fits by the same bound); norms are computed once per row, and the
    * pairwise cosine is the identical `dot/(na*nb)` arithmetic as every
    * other cosine operator here.
    */
  def exactCosinePairs(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, maxRows: Long = 100000L): DataFrame = {
    val n = df.count()
    require(n <= maxRows,
      s"exactCosinePairs is O(n^2): $n rows exceeds maxRows=$maxRows — " +
        "use cosineNearDups (LSH) at this scale")
    val base = df.select(col(idCol).as("id"), col(vecCol).as("v"))
      .withColumn("nrm", sqrt(normSq(col("v"))))
    val a = base.select(col("id").as("id_a"), col("v").as("va"), col("nrm").as("na"))
    val b = base.select(col("id").as("id_b"), col("v").as("vb"), col("nrm").as("nb"))
    a.join(broadcast(b), col("id_a") < col("id_b"))
      .withColumn("cosine", dot(col("va"), col("vb")) / (col("na") * col("nb")))
      .filter(col("cosine") >= threshold)
      .select("id_a", "id_b", "cosine")
  }

  /** SemDeDup (Abbas et al. 2023): cluster the corpus with spherical
    * k-means, then prune semantic duplicates WITHIN each cluster — drop a
    * doc iff some LOWER-id doc in its cluster has cosine >= threshold
    * (the paper's upper-triangular matrix rule, with doc id as the fixed
    * order instead of centroid distance — deterministic here, arbitrary
    * there). Complementary to [[cosineNearDups]]: LSH buckets catch
    * near-identical vectors cheaply; k-means cells group PARAPHRASE-level
    * semantic neighbors that no sign-bucket shares.
    *
    * Output: the surviving (idCol, cell) rows.
    *
    * Scale shape: the centroid fit is the bounded-sample driver k-means
    * shared with IVF; assignment is one codegen map; the within-cell
    * self-join shuffles on `cell` and generates Σ s_c² candidate pairs —
    * the algorithm's defined cost. numCells is the knob: cells average
    * n/numCells rows, so pick numCells ∝ corpus size (the paper runs 50k
    * cells at 100M docs) and the per-cell quadratic stays bounded; AQE
    * splits skewed cells.
    */
  def semDedup(corpus: DataFrame, idCol: String, vecCol: String,
      numCells: Int, threshold: Double, sampleN: Int = 4096,
      iters: Int = 10): DataFrame = {
    val centroids = trainIvfCentroids(corpus, idCol, vecCol, numCells,
      sampleN, iters)
    val base = corpus.select(col(idCol).as("id"), col(vecCol).as("v"))
      .withColumn("cell",
        element_at(IvfExprs.nearestCentroids(col("v"), centroids, 1), 1))
      .withColumn("nrm", sqrt(normSq(col("v"))))
    val a = base.select(col("cell"), col("id").as("id_a"),
      col("v").as("va"), col("nrm").as("na"))
    val b = base.select(col("cell"), col("id").as("id_b"),
      col("v").as("vb"), col("nrm").as("nb"))
    val dropped = a.join(b, "cell")
      .filter(col("id_a") < col("id_b"))
      .filter(dot(col("va"), col("vb")) / (col("na") * col("nb")) >= threshold)
      .select(col("id_b").as("id")).distinct()
    base.join(dropped, Seq("id"), "left_anti")
      .select(col("id").as(idCol), col("cell"))
  }

  /** Seeded ±1 RANDOM PROJECTION to `dOut` dimensions (Achlioptas 2003's
    * database-friendly Johnson–Lindenstrauss map, public literature) —
    * the dimensionality-reduction front end of an ANN stack: project
    * once, then index/search the short vectors. The projection matrix is
    * NEVER materialized: s(i,j) = ±1 from the parity of
    * xxhash64(i·dOut + j), recomputed inside the row-local fold, so the
    * operator is ZERO-shuffle, zero-broadcast, and identically seeded on
    * every executor. y_j = (Σ_i ±x_i) / √dOut with the signed sum
    * accumulated as an exact DECIMAL(38,6) (order-free — the [[graft.core.Det]]
    * scheme inside a HOF), then ONE double division — so the projected
    * values are bit-reproducible and DuckDB-oracle-checkable through the
    * re-implemented XXH64 chain ([[graft.analytics.DuckXxh.signProjectOracle]]).
    *
    * Output: one row per (id, dim) with the projected value — exploded,
    * not an array, so every sink/driver path can hash it.
    */
  def signProject(vecs: DataFrame, idCol: String, vecCol: String,
      dIn: Int, dOut: Int): DataFrame = {
    require(dIn > 0 && dOut > 0, s"dims must be positive, got $dIn -> $dOut")
    val zero = lit(BigDecimal(0))
      .cast(org.apache.spark.sql.types.DecimalType(38, 6))
    val inv = lit(math.sqrt(dOut.toDouble))
    vecs.select(col(idCol), col(vecCol).as("_v"))
      .select(col(idCol), explode(transform(
        sequence(lit(0), lit(dOut - 1)), j => struct(
          j.as("dim"),
          (aggregate(
            sequence(lit(0), lit(dIn - 1)), zero,
            (acc, i) => {
              val x = element_at(col("_v"), i + 1).cast("double")
                .cast(org.apache.spark.sql.types.DecimalType(38, 6))
              acc + when(
                pmod(xxhash64(i.cast("long") * dOut + j), lit(2L)) === 0, x)
                .otherwise(-x)
            }).cast("double") / inv).as("value")))).as("p"))
      .select(col(idCol), col("p.dim").as("dim"), col("p.value").as("value"))
  }
}

package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.BpeMerge

/** Byte-pair-encoding vocabulary induction (Sennrich et al. 2016) — the
  * tokenizer-training step of an LLM data pipeline, distributed.
  *
  * The classic algorithm trains on the WORD FREQUENCY table, not the raw
  * corpus: a 100 TB corpus reduces to its distinct pre-token vocabulary
  * (one corpus-sized aggregation, the only pass over the raw text), and
  * every merge round then runs over that small weighted table — pair
  * counts are an aggregation over vocabulary entries weighted by corpus
  * frequency, mathematically identical to counting over the corpus
  * itself. Each round is:
  *
  *   1. count adjacent symbol pairs (weighted by word count, map-side
  *      combined aggregation);
  *   2. pick the most frequent pair on the driver — a bounded take(1),
  *      the k-means-centroid pattern, with a DETERMINISTIC tie-break
  *      (count DESC, then left/right symbol ascending) so re-runs and
  *      the in-memory reference agree exactly;
  *   3. fuse that pair in every vocabulary entry with the codegen
  *      [[graft.functions.BpeMerge]] kernel (left-to-right,
  *      non-overlapping — the standard semantics).
  *
  * The driver loop is bounded by `nMerges` (a tokenizer trains 10k-100k
  * merges; each round here is one small aggregation + one map over the
  * vocabulary table). Lineage is cut with localCheckpoint every few
  * rounds — the Components-loop lesson: an unbounded expression chain
  * over rounds re-plans quadratically and eventually OOMs the driver.
  *
  * No SQL oracle exists for the training loop (iterative argmax is not
  * expressible as one DuckDB query); correctness is pinned by EXACT
  * equality against an in-memory reference implementation over the real
  * sf0.001 corpus (BpeSpec), the q62 pre-tokenizer it shares, and the
  * monotone-compression contract.
  */
object Bpe {

  /** One learned merge: fuse (left, right) -> left+right; `count` is the
    * weighted pair frequency that won the round. */
  final case class MergeRule(rank: Int, left: String, right: String, count: Long)

  /** The q62 pre-tokenization (letter runs | digit runs | punct runs) —
    * shared so the trainer and the token-count queries see one token
    * definition. */
  val preTokenPattern = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \\t\\n\\f\\r]+"

  /** The corpus's pre-token frequency table: (word, cnt). The ONE pass
    * over the raw text; everything after runs on this. */
  def wordFreqs(docs: DataFrame, textCol: String): DataFrame =
    docs
      .select(explode(regexp_extract_all(col(textCol), lit(preTokenPattern),
        lit(0))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("cnt"))

  /** Train `nMerges` BPE merge rules over `docs`. Deterministic. */
  def trainBpe(docs: DataFrame, textCol: String, nMerges: Int,
      checkpointEvery: Int = 8): Seq[MergeRule] = {
    require(nMerges >= 0, "nMerges must be non-negative")
    trainBpeOnFreqs(wordFreqs(docs, textCol), nMerges, checkpointEvery)
  }

  /** [[trainBpe]] over a precomputed (word, cnt) frequency table.
    *
    * Driver-local fold (r15 verdict task 6): the merge loop is
    * inherently sequential — each round's argmax depends on the last
    * merge — so the distributed path pays one Spark job of fixed
    * overhead PER ROUND over a table that is VOCABULARY-sized, not
    * corpus-sized (the funnel's stage ledger measured that overhead at
    * 36% of total wall: 16 rounds × job latency over a ~20k-row table).
    * When the table is at most `localFoldThreshold` distinct words it
    * is dimension-sized by definition: collect it once and run the loop
    * in plain Scala — two jobs total (count + collect) instead of
    * nMerges, bit-identical rules ([[trainBpeLocal]] replicates the
    * kernel, the every-adjacent-pair count, and the UTF-8-byte
    * tie-break; BpeSpec pins local == distributed on the real corpus).
    * A 100 TB natural-language crawl's pre-token vocabulary (~10-100M
    * words) stays above the threshold and keeps the distributed loop.
    */
  def trainBpeOnFreqs(freqs: DataFrame, nMerges: Int,
      checkpointEvery: Int = 8,
      localFoldThreshold: Long = 65536): Seq[MergeRule] = {
    // checkpoint BEFORE the size probe so the corpus-sized aggregation
    // behind freqs runs once, not once for count + once for the loop
    val f = graft.core.Frames.checkpointOnce(freqs)
    if (nMerges > 0 && f.count() <= localFoldThreshold)
      trainBpeLocal(
        f.select("word", "cnt").collect()
          .map(r => (r.getString(0), r.getLong(1))),
        nMerges)
    else
      // BPE's merge criterion IS the raw pair frequency
      trainMergeLoop(f, nMerges, checkpointEvery)(
        (pairs, _) => pairs.withColumn("ord", col("c")))
  }

  /** The driver-local merge loop — same rules as the distributed path,
    * proven by exact equality in BpeSpec. Symbols start as CODE POINTS
    * (Spark's substr counts code points, so a surrogate pair is one
    * symbol on both paths); ties break on (count desc, left asc, right
    * asc) with string order compared on UTF-8 BYTES, unsigned — Spark
    * string ordering is UTF8String.binaryCompare, which differs from
    * Java's UTF-16 compareTo above the BMP. */
  private[ops] def trainBpeLocal(freqs: Array[(String, Long)],
      nMerges: Int): Seq[MergeRule] = {
    // Spark's string ordering BY DEFINITION, not a re-implementation
    // of it (review r16): UTF8String.compareTo is the binary compare
    // the distributed orderBy sorts with
    def u8Lt(a: String, b: String): Boolean =
      org.apache.spark.unsafe.types.UTF8String.fromString(a)
        .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(b)) < 0
    var words: Array[(Array[String], Long)] = freqs.map { case (w, c) =>
      (w.codePoints().toArray
        .map(cp => new String(Character.toChars(cp))), c)
    }
    val rules = scala.collection.mutable.ArrayBuffer.empty[MergeRule]
    var r = 0
    var exhausted = false
    while (r < nMerges && !exhausted) {
      // every adjacent pair counts, overlapping included — the explode
      // in the distributed loop does exactly this
      val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
      words.foreach { case (syms, cnt) =>
        var i = 0
        while (i + 1 < syms.length) {
          val k = (syms(i), syms(i + 1))
          counts.update(k, counts.getOrElse(k, 0L) + cnt)
          i += 1
        }
      }
      if (counts.isEmpty) exhausted = true
      else {
        val ((l, rt), c) = counts.reduceLeft { (a, b) =>
          if (b._2 > a._2 ||
            (b._2 == a._2 && (u8Lt(b._1._1, a._1._1) ||
              (b._1._1 == a._1._1 && u8Lt(b._1._2, a._1._2))))) b else a
        }
        val rule = MergeRule(r + 1, l, rt, c)
        rules += rule
        words = words.map { case (syms, cnt) =>
          (applyMergesLocal(syms, Seq(rule)), cnt)
        }
      }
      r += 1
    }
    rules.toSeq
  }

  /** The merge-training loop shared by BPE and WordPiece: per round,
    * count adjacent symbol pairs, let `score` attach an ordering column
    * `ord` (it also sees the current words table, e.g. for unigram
    * denominators), fuse the (ord DESC, l ASC, r ASC)-maximal pair with
    * the [[graft.functions.BpeMerge]] kernel. The scoring expression is
    * the ONLY thing that differs between the two algorithms — one loop
    * keeps the determinism tie-breaks, exhaustion handling, and
    * lineage hygiene in one place.
    *
    * Initial symbols: the word's characters. HOF transform is
    * interpreted, but it runs ONCE over the vocabulary table (not the
    * corpus, not per round) — not a hot path. localCheckpoint once up
    * front: the corpus-sized aggregation behind `freqs` must not re-run
    * on every round's argmax job.
    */
  private[ops] def trainMergeLoop(freqs: DataFrame, nMerges: Int,
      checkpointEvery: Int)(
      score: (DataFrame, DataFrame) => DataFrame): Seq[MergeRule] = {
    var words = freqs.select(
      transform(sequence(lit(1), length(col("word"))),
        i => col("word").substr(i, lit(1))).as("syms"),
      col("cnt"))
      .localCheckpoint(true)
    val rules = scala.collection.mutable.ArrayBuffer.empty[MergeRule]
    var r = 0
    var exhausted = false
    while (r < nMerges && !exhausted) {
      val pairs = words
        .filter(size(col("syms")) >= 2)
        .select(explode(transform(sequence(lit(0), size(col("syms")) - lit(2)),
          i => struct(element_at(col("syms"), i + 1).as("l"),
            element_at(col("syms"), i + 2).as("r")))).as("p"), col("cnt"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum("cnt").as("c"))
      val top = score(pairs, words)
        .orderBy(desc("ord"), asc("l"), asc("r")).take(1)
      if (top.isEmpty) exhausted = true
      else {
        val (l, rt, c) = (top.head.getAs[String]("l"),
          top.head.getAs[String]("r"), top.head.getAs[Long]("c"))
        rules += MergeRule(r + 1, l, rt, c)
        words = words.select(BpeMerge.merge(col("syms"), l, rt).as("syms"),
          col("cnt"))
        // between checkpoints the plan stays LAZY: a round's argmax job
        // recomputes at most checkpointEvery narrow kernel maps over the
        // (tiny, checkpointed) vocabulary — far cheaper than a
        // materialization job per round. The periodic checkpoint bounds
        // both that recomputation and the quadratic re-planning of an
        // unbounded expression chain (the Components-loop lesson).
        if ((r + 1) % checkpointEvery == 0)
          words = words.localCheckpoint(true)
      }
      r += 1
    }
    rules.toSeq
  }

  /** The trained segmentation lookup: (word, n_bpe_tokens, tokens) for
    * every vocabulary entry after applying `rules` in rank order. */
  def segmentVocab(freqs: DataFrame, rules: Seq[MergeRule],
      localFoldThreshold: Long = 65536): DataFrame = {
    // dimension-sized vocabularies segment on the driver (r16, same
    // gate as trainBpeOnFreqs): the distributed plan embeds one
    // BpeMerge expression per rule and every consumer job pays that
    // chain's analysis + codegen again — measured as the bulk of the
    // funnel's bpe stage at small SF. applyMergesLocal IS the kernel
    // (BpeSpec pins equality), so the routes are bit-identical.
    val f = graft.core.Frames.checkpointOnce(freqs)
    if (f.count() <= localFoldThreshold) {
      val spark = f.sparkSession
      import spark.implicits._
      val sorted = rules.sortBy(_.rank)
      return f.select("word").collect().map(_.getString(0)).toSeq
        .map { w =>
          val syms = applyMergesLocal(
            w.codePoints().toArray
              .map(cp => new String(Character.toChars(cp))), sorted)
          (w, syms.length, syms.toSeq)
        }
        .toDF("word", "n_bpe_tokens", "tokens")
    }
    val init = f.select(col("word"),
      transform(sequence(lit(1), length(col("word"))),
        i => col("word").substr(i, lit(1))).as("syms"))
    val segmented = rules.sortBy(_.rank).zipWithIndex
      .foldLeft(init) { case (df0, (rule, i)) =>
        val next = df0.select(col("word"),
          BpeMerge.merge(col("syms"), rule.left, rule.right).as("syms"))
        // same lineage bound as the trainer
        if ((i + 1) % 16 == 0) next.localCheckpoint(true) else next
      }
    segmented.select(col("word"), size(col("syms")).as("n_bpe_tokens"),
      col("syms").as("tokens"))
  }

  /** The BpeMerge kernel on the driver: apply `rules` in rank order,
    * each left-to-right non-overlapping. Shared by [[trainBpeLocal]]'s
    * per-round merge, [[segmentVocab]]'s local route, and WordPiece's
    * driver-local trainer (r17 — same fold gate, likelihood scorer). */
  private[ops] def applyMergesLocal(syms0: Array[String],
      rules: Seq[MergeRule]): Array[String] =
    rules.foldLeft(syms0) { (syms, rule) =>
      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      var i = 0
      while (i < syms.length) {
        if (i + 1 < syms.length && syms(i) == rule.left &&
            syms(i + 1) == rule.right) {
          out += rule.left + rule.right; i += 2
        } else { out += syms(i); i += 1 }
      }
      out.toArray
    }

  /** Per-document compression under the trained vocabulary:
    * (idCol, n_pretokens, n_bpe_tokens). The corpus-sized pass is one
    * explode + one join against the (small, broadcast) segmentation
    * lookup + one per-doc sum; OOV words (absent from the training
    * vocabulary) fall back to character count — the untrained
    * segmentation.
    */
  def tokenCompression(docs: DataFrame, textCol: String, idCol: String,
      freqs: DataFrame, rules: Seq[MergeRule]): DataFrame =
    tokenCompressionOnSeg(docs, textCol, idCol,
      segmentVocab(freqs, rules).localCheckpoint(true))

  /** [[tokenCompression]] over a precomputed (and ideally checkpointed)
    * [[segmentVocab]] table — the multi-consumer shape (r16): the
    * segmentation plan embeds one BpeMerge expression per merge rule,
    * and every job that re-analyzes that chain pays its codegen again
    * (the funnel's bpe stage ran it 4x across encode + crosscheck;
    * measured, plan/codegen overhead dominated the stage at small SF).
    * Checkpoint the segmentation once, share it everywhere. */
  def tokenCompressionOnSeg(docs: DataFrame, textCol: String, idCol: String,
      seg: DataFrame): DataFrame = {
    val lookup = seg.select("word", "n_bpe_tokens")
    docs
      .select(col(idCol), explode(regexp_extract_all(col(textCol),
        lit(preTokenPattern), lit(0))).as("word"))
      .join(broadcast(lookup), Seq("word"), "left")
      .select(col(idCol),
        coalesce(col("n_bpe_tokens"), length(col("word"))).as("n_tok"))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_pretokens"),
        sum(col("n_tok").cast("long")).as("n_bpe_tokens"))
  }

  /** Deterministic token-id dictionary for the trained vocabulary.
    *
    * Ids 0..255 are RESERVED byte-fallback tokens (`<0xNN>`, the
    * SentencePiece byte-fallback convention): [[encodeTokenIds]] encodes
    * an out-of-vocabulary word as its UTF-8 byte sequence through these
    * ids, so the id space must carry them — a training run's embedding
    * table sizes off this vocabulary. Learned BPE tokens follow at
    * 256..255+V, dense in UTF-8-lexicographic token order. The global
    * window runs over the BOUNDED vocabulary table (tokenizer
    * vocabularies are 10k-100k entries), never the corpus — same
    * driver-scale argument as the trainer's argmax.
    */
  def tokenVocab(freqs: DataFrame, rules: Seq[MergeRule]): DataFrame =
    tokenVocabOnSeg(segmentVocab(freqs, rules))

  /** [[tokenVocab]] over a precomputed [[segmentVocab]] table (the
    * shared-checkpoint shape — see [[tokenCompressionOnSeg]]). */
  def tokenVocabOnSeg(seg: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.orderBy("token")
    val learned = seg
      .select(explode(col("tokens")).as("token")).distinct()
      .withColumn("token_id", row_number().over(w) - 1 + lit(ByteIdCount))
    val bytes = seg.sparkSession.range(ByteIdCount.toLong)
      .select(
        concat(lit("<0x"), lpad(hex(col("id")), 2, "0"), lit(">")).as("token"),
        col("id").cast("int").as("token_id"))
    bytes.unionByName(learned)
  }

  /** The reserved byte-fallback id block: ids 0..255. */
  val ByteIdCount = 256

  /** UTF-8 byte ids of `word` — the fallback encoding for a word the
    * training vocabulary has never seen. Pure codegen expressions: hex
    * the UTF-8 bytes, then read the 2-char groups back as ints.
    */
  private def byteFallbackIds(word: Column): Column = {
    val h = hex(encode(word, "UTF-8"))
    transform(sequence(lit(1), (length(h) / 2).cast("int")),
      i => conv(h.substr(i * 2 - 1, lit(2)), 16, 10).cast("int"))
  }

  /** TOKENIZE the corpus: per document, the ordered token-id sequence
    * under the trained segmentation — the step that turns cleaned text
    * into model-ready ids, feeding sequence packing.
    *
    * Output: (idCol, n_tokens, token_ids). Docs with zero pre-tokens
    * (empty/whitespace text) produce no row, matching
    * [[tokenCompression]].
    *
    * Shape: the vocabulary side precomputes word -> ids ONCE over the
    * (bounded) frequency table; the corpus-sized pass is one
    * posexplode + one broadcast join + one per-doc ordered fold
    * (sort_array over (position, ids) structs — order restored
    * deterministically regardless of partitioning).
    *
    * A word absent from the training vocabulary encodes as its UTF-8
    * byte sequence through the reserved ids 0..255 (the standard
    * byte-level fallback — the encode is TOTAL, the property a real
    * corpus needs: a raise_error here would crash whole jobs on the
    * first unseen word). Pass `byteFallback = false` for the strict
    * corpus-scoped mode that fails loudly instead — right when freqs
    * came from exactly this corpus and an OOV hit means mismatched
    * inputs.
    */
  def encodeTokenIds(docs: DataFrame, textCol: String, idCol: String,
      freqs: DataFrame, rules: Seq[MergeRule],
      byteFallback: Boolean = true): DataFrame =
    encodeTokenIdsOnSeg(docs, textCol, idCol,
      segmentVocab(freqs, rules).localCheckpoint(true), byteFallback)

  /** [[encodeTokenIds]] over a precomputed [[segmentVocab]] table (the
    * shared-checkpoint shape — see [[tokenCompressionOnSeg]]; encode
    * alone consumes the segmentation twice, id dictionary + word→ids). */
  def encodeTokenIdsOnSeg(docs: DataFrame, textCol: String, idCol: String,
      seg: DataFrame, byteFallback: Boolean = true): DataFrame = {
    val vocab = tokenVocabOnSeg(seg)
    val wordIds = seg
      .select(col("word"), posexplode(col("tokens")).as(Seq("tpos", "token")))
      .join(vocab, "token")
      .groupBy("word")
      .agg(transform(sort_array(collect_list(struct(col("tpos"), col("token_id")))),
        s => s("token_id")).as("ids"))
    val oov =
      if (byteFallback) byteFallbackIds(col("word"))
      else raise_error(concat(
        lit("encodeTokenIds: word not in training vocabulary: "), col("word")))
    docs
      .select(col(idCol), posexplode(regexp_extract_all(col(textCol),
        lit(preTokenPattern), lit(0))).as(Seq("wpos", "word")))
      .join(broadcast(wordIds), Seq("word"), "left")
      .withColumn("ids",
        when(col("ids").isNull, oov).otherwise(col("ids")))
      .groupBy(idCol)
      .agg(flatten(transform(sort_array(collect_list(struct(col("wpos"), col("ids")))),
        s => s("ids"))).as("token_ids"))
      .select(col(idCol), size(col("token_ids")).as("n_tokens"),
        col("token_ids"))
  }

  /** Persist the trained tokenizer — merge rules in rank order plus the
    * id dictionary — as two parquet tables under `dir`. The artifact a
    * training run ships alongside its packed corpus: rank order IS the
    * algorithm (merges must replay in training order), so loads are
    * explicitly re-sorted and the round-trip is contract-tested
    * rule-for-rule and id-for-id.
    */
  def saveTokenizer(spark: SparkSession, dir: String,
      rules: Seq[MergeRule], vocab: DataFrame): Unit = {
    import spark.implicits._
    rules.toDF().coalesce(1).write.mode("overwrite").parquet(s"$dir/merges")
    vocab.select("token", "token_id").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/vocab")
  }

  /** Load a persisted tokenizer: (rules in rank order, vocab table). */
  def loadTokenizer(spark: SparkSession, dir: String): (Seq[MergeRule], DataFrame) = {
    val rules = spark.read.parquet(s"$dir/merges")
      .select("rank", "left", "right", "count").collect()
      .map(r => MergeRule(r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
      .sortBy(_.rank).toSeq
    (rules, spark.read.parquet(s"$dir/vocab"))
  }
}

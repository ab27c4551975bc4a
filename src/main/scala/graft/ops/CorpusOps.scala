package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-preparation operators a large-scale LLM training-data pipeline
  * needs beyond dedup/similarity: benchmark decontamination, sequence
  * packing, repetition-based quality stats (Gopher-style), weighted
  * source-mixture sampling, and a compiled filter-with-audit-trail.
  *
  * All operators are pure Catalyst expressions plus equi-joins/aggregates
  * — no UDFs, no cross joins, no driver-side loops — so every one stays
  * in whole-stage codegen and scales linearly in corpus size:
  *
  *  - [[contamination]] is a broadcast semi-ish join: eval benchmark sets
  *    are small (10^3..10^6 docs), so their distinct n-grams broadcast and
  *    the 100 TB train side is one scan + one per-doc aggregate.
  *  - [[packSequences]] shuffles once on the shard/group column; the
  *    running token offset is a per-group window, parallel across groups
  *    (never a single global partition).
  *  - [[repetitionStats]] is two hash aggregates keyed by (doc, gram) and
  *    doc — per-doc gram counts are bounded by document length, so no key
  *    skew beyond document length itself.
  *  - [[mixtureSample]] is a stateless filter (seeded multiplicative
  *    hash), deterministic under any partitioning / AQE re-plan.
  */
object CorpusOps {

  /** Output/temp columns an operator is about to add must not already
    * exist on the input — withColumn would silently replace the caller's
    * data (the same reservation rule as RangeJoin's `_bin`).
    */
  private def requireFresh(df: DataFrame, cols: String*): Unit = {
    val taken = cols.filter(df.columns.contains)
    require(taken.isEmpty,
      s"column(s) reserved by CorpusOps already on the input: ${taken.mkString(", ")}")
  }

  /** Word n-grams of a token-array column, space-joined. Documents with
    * fewer than `n` tokens yield an empty array (they cannot contain an
    * n-gram). `sequence` is guarded because Spark's `sequence(1, k)`
    * counts DOWN for k < 1 instead of returning empty.
    */
  def wordGrams(tokens: Column, n: Int): Column = {
    require(n >= 1, s"n must be >= 1, got $n")
    // native codegen kernel (functions/WordGramsExpr): evaluates `tokens`
    // exactly ONCE per row — the composed transform/element_at form
    // re-evaluated an INLINED tokenizer n times per gram (the O(len²)
    // footgun every call site had to defend against with a "bind _t to a
    // real column first" dance) — and skips interpreted HOF evaluation.
    // Same semantics, null-for-null, empty for short docs.
    graft.functions.WordGramsExpr.wordGrams(tokens, n)
  }

  /** Benchmark decontamination signal: for each train document, the number
    * of distinct word `n`-grams it shares with ANY document of the eval
    * set. Docs that appear in the output are contaminated (standard
    * pipelines drop them or excise the overlapping spans); callers keep
    * the clean remainder with an anti-join on the result.
    *
    * Shape at scale: the eval side reduces to its distinct gram set and
    * broadcasts (benchmarks are tiny next to a training corpus); the train
    * side is one linear scan producing (doc, gram) pairs that hash-join
    * against the broadcast and aggregate per doc. `hashGrams = true` is
    * the scale path for when the eval gram set presses the broadcast
    * threshold: xxhash64 values (8 bytes) ship instead of gram strings
    * (an n=13 gram is ~80 bytes), identical flagging up to 2^-64 hash
    * collisions — and a collision can only ADD a flagged doc, never lose
    * one, so decontamination soundness is unaffected.
    */
  def contamination(train: DataFrame, evalSet: DataFrame,
      idCol: String, textCol: String, n: Int,
      hashGrams: Boolean = false): DataFrame = {
    // Bind the token array to a real column before gramming: wordGrams
    // references its input once per element_at, and an INLINED split would
    // re-run the regex tokenization n times per gram (O(len^2) per doc —
    // measured 14 s vs 0.4 s at sf0.1). Same lesson as
    // TextQueries.charGramHashes.
    val reserved = Set("gram", "g0", "_t")
    require(!reserved.contains(idCol) && !reserved.contains(textCol),
      s"${reserved.mkString("/")} are reserved by contamination; rename the input column")
    def grams(df: DataFrame) = df
      .select(col(idCol), graft.core.Cols.wsTokens(col(textCol)).as("_t"))
      .select(col(idCol), explode(wordGrams(col("_t"), n)).as("g0"))
      .select(col(idCol),
        (if (hashGrams) xxhash64(col("g0")) else col("g0")).as("gram"))
    val evalGrams = grams(evalSet).select("gram").distinct()
    grams(train)
      .join(broadcast(evalGrams), "gram")
      .groupBy(idCol)
      .agg(countDistinct(col("gram")).as("n_shared_grams"))
  }

  /** [[contamination]] with the gram representation chosen by a size
    * heuristic: the eval side's total gram bytes are bounded above by
    * `n × total text bytes` (every token appears in at most n grams, and
    * a gram's string is its tokens plus separators), measured with one
    * cheap aggregate. Under `maxBroadcastBytes` the readable string grams
    * broadcast; above it the 8-byte `hashGrams` scale path kicks in —
    * identical flagging up to 2^-64 collisions, which only ever ADD a
    * flagged doc (sound for decontamination). Returns the flagged frame
    * plus which path ran, so pipelines can log the decision.
    */
  def contaminationAuto(train: DataFrame, evalSet: DataFrame,
      idCol: String, textCol: String, n: Int,
      maxBroadcastBytes: Long = 64L << 20): (DataFrame, Boolean) = {
    val textBytes = Option(evalSet
      .agg(sum(octet_length(col(textCol)).cast("long"))).collect()(0).get(0))
      .map(_.asInstanceOf[Long]).getOrElse(0L)
    val useHash = textBytes * n > maxBroadcastBytes
    (contamination(train, evalSet, idCol, textCol, n, hashGrams = useHash), useHash)
  }

  /** The decontamination pipeline stage itself: train documents with NO
    * word n-gram in common with the eval set (a left anti join against
    * [[contamination]]'s flagged ids — the flagged signal stays available
    * for audit, this returns what training actually consumes).
    */
  def decontaminate(train: DataFrame, evalSet: DataFrame,
      idCol: String, textCol: String, n: Int): DataFrame =
    train.join(contamination(train, evalSet, idCol, textCol, n).select(idCol),
      Seq(idCol), "left_anti")

  /** Concat-and-chunk sequence packing (the GPT-style "concatenate all
    * tokens, slice into fixed context windows" layout): within each group
    * (shard / source), documents are laid end-to-end in `orderCol` order
    * and each doc is assigned its starting token offset, first chunk
    * index, and the number of `ctx`-token chunks it spans.
    *
    * One shuffle, keyed by `groupCol`; the cumulative sum is a per-group
    * window, so parallelism = number of groups (pack per shard, never
    * globally — a global running sum would serialize the corpus).
    * All arithmetic is exact long ops (`div`, not double division).
    * `nTokCol` must be non-null and non-negative (a null token count has
    * no packing semantics and would null the whole suffix of its shard),
    * and `orderCol` must be unique within each group — a ROWS-frame
    * running sum over tied order keys depends on physical row order, so
    * ties would make offsets nondeterministic across re-plans.
    */
  def packSequences(df: DataFrame, groupCol: String, orderCol: String,
      nTokCol: String, ctx: Long): DataFrame = {
    require(ctx > 0, s"ctx must be positive, got $ctx")
    requireFresh(df, "tok_start", "chunk_first", "n_chunks")
    val w = Window.partitionBy(groupCol).orderBy(orderCol)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // backticked so a column name with spaces/dots can't break the
    // integer-div expressions
    df.withColumn("tok_start",
        (sum(col(nTokCol)).over(w) - col(nTokCol)).cast("long"))
      .withColumn("chunk_first", expr(s"tok_start div $ctx"))
      .withColumn("n_chunks",
        when(col(nTokCol) === 0, lit(0L)).otherwise(
          expr(s"(tok_start + `$nTokCol` - 1) div $ctx") - col("chunk_first") + 1L))
  }

  /** Gopher-style repetition statistics per document: token duplication
    * ratio (1 - distinct/total) and the most frequent word bigram with its
    * count and (overlapping-occurrence) token-coverage fraction. Ties on
    * the top bigram break to the lexicographically smallest, so the result
    * is deterministic under any partitioning.
    *
    * The top bigram uses `min(struct(-cnt, gram))` — a single hash
    * aggregate — instead of a row_number window, saving the extra
    * per-doc sort at scale. Docs with fewer than 2 tokens get null
    * bigram columns.
    */
  def repetitionStats(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    // reserved set covers the internal temp names (g/cnt/m/nc/_t) too, so a
    // colliding idCol fails with this message instead of an obscure
    // ambiguous-column AnalysisException deep in the aggregate
    require(!Set("n_tokens", "n_distinct_tokens", "dup_token_ratio",
        "top_bigram", "top_bigram_cnt", "top_bigram_frac",
        "g", "cnt", "m", "nc", "_t").contains(idCol),
      s"idCol $idCol collides with a repetitionStats output or internal column")
    val toks = graft.core.Cols.wsTokens(col(textCol))
    val base = docs
      .select(col(idCol), toks.as("_t"))
      .select(col(idCol), col("_t"),
        size(col("_t")).as("n_tokens"),
        size(array_distinct(col("_t"))).as("n_distinct_tokens"))
    val top = base
      .select(col(idCol), explode(wordGrams(col("_t"), 2)).as("g"))
      .groupBy(idCol, "g").agg(count(lit(1)).as("cnt"))
      .groupBy(idCol)
      .agg(min(struct((-col("cnt")).as("nc"), col("g").as("g"))).as("m"))
      .select(col(idCol), col("m.g").as("top_bigram"),
        (-col("m.nc")).as("top_bigram_cnt"))
    base.drop("_t")
      .join(top, Seq(idCol), "left")
      .withColumn("dup_token_ratio",
        lit(1.0) - col("n_distinct_tokens").cast("double") / col("n_tokens"))
      .withColumn("top_bigram_frac",
        col("top_bigram_cnt").cast("double") * 2 / col("n_tokens"))
  }

  /** Weighted dataset-mixture sampling: keep each row with its source's
    * target rate, deterministically (seeded multiplicative hash of the
    * row key — the same arithmetic as [[Sampling.seededRank]], so
    * membership is reproducible across runs, partitionings and engines,
    * and upsampling a source later keeps every previously kept row:
    * raising a rate only ADDS rows, it never swaps the sample).
    */
  /** Temperature-based source mixture (the multilingual-corpus standard:
    * sample source s with probability ∝ n_s^α, α < 1 upweighting small
    * sources — mBERT/XLM-R's exponential smoothing): computes each
    * source's keep-rate from its row count and applies the same seeded
    * integer-threshold filter as [[mixtureSample]], so the whole chain —
    * counts → rates → row keep decisions — is bit-deterministic and
    * oracle-hash-checkable.
    *
    * α is fixed at 0.5 because that exponent is `sqrt`, the one power
    * IEEE 754 requires correctly rounded — identical in every engine —
    * where a general `pow`'s last ulp is libm-specific and could flip a
    * row at the threshold boundary. The per-source keep rate is
    *   r_s = min(1, (targetFraction·N · ŝ_s) / (n_s · S)),
    * with ŝ_s = round(sqrt(n_s), 6) held as an EXACT decimal and
    * S = Σ ŝ_s summed in decimal (order-free), so both engines fold the
    * float ops over identical inputs in the same order. Expected output
    * size ≈ targetFraction·N when no source clamps at rate 1.
    *
    * Scale shape: one map-side-combined count per source (collected —
    * bounded by source cardinality), then [[mixtureSample]]'s stateless
    * seeded filter; no shuffle of the data itself.
    */
  def temperatureSample(df: DataFrame, keyCol: String, sourceCol: String,
      targetFraction: Double, seed: Long = 42L): DataFrame = {
    require(targetFraction > 0 && targetFraction <= 1,
      s"targetFraction must be in (0, 1], got $targetFraction")
    val counts = df.groupBy(col(sourceCol)).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    require(counts.nonEmpty, "input has no rows to sample")
    val n = counts.values.sum.toDouble
    val sdec = counts.map { case (s, c) =>
      s -> BigDecimal(math.sqrt(c.toDouble))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP)
    }
    val sSum = sdec.values.sum.toDouble // decimal sum, order-free; ONE cast
    val rates = counts.map { case (s, c) =>
      s -> math.min(1.0,
        ((targetFraction * n) * sdec(s).toDouble) / (c.toDouble * sSum))
    }
    mixtureSample(df, keyCol, sourceCol, rates, defaultRate = 0.0, seed)
  }

  def mixtureSample(df: DataFrame, keyCol: String, sourceCol: String,
      rates: Map[String, Double], defaultRate: Double, seed: Long = 42L): DataFrame = {
    require((rates.values ++ Seq(defaultRate)).forall(r => r >= 0 && r <= 1),
      "rates must be in [0, 1]")
    val M = 4294967296L // 2^32, the seededRank modulus
    val threshold = rates.foldLeft(lit((defaultRate * M).toLong)) {
      case (acc, (src, r)) =>
        when(col(sourceCol) === src, lit((r * M).toLong)).otherwise(acc)
    }
    df.filter(Sampling.seededRank(col(keyCol), seed) < threshold)
  }

  /** PII/pattern scrubbing rules: (name, regex, replacement token).
    * Regexes avoid `\s`/`\d` classes and lookarounds so Java (Spark) and
    * RE2 (the DuckDB oracle) match byte-for-byte — the q62 lesson: Java's
    * `\s` includes vertical tab, RE2's does not. Order matters and is
    * fixed: URLs redact before emails so `http://a@b.com` becomes one
    * `<URL>`, not a partial `<EMAIL>`.
    */
  val PiiRules: Seq[(String, String, String)] = Seq(
    ("url", "https?://[^ \\t\\n\\f\\r]+", "<URL>"),
    ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z][A-Za-z]+", "<EMAIL>"),
    ("ipv4", "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b", "<IP>"),
    ("idnum", "[0-9]{9,}", "<NUM>"),
  )

  /** Scrub PII-shaped spans from a text column: adds one `n_<rule>` raw
    * match count per rule (counted on the ORIGINAL text — a URL that
    * contains an email counts under both rules) plus `text_redacted` with
    * every span replaced by its token, applying rules in [[PiiRules]]
    * order. One projection — counts and redaction evaluate in the same
    * codegen stage; linear per doc.
    */
  def scrubPii(df: DataFrame, textCol: String,
      rules: Seq[(String, String, String)] = PiiRules): DataFrame = {
    require(rules.nonEmpty, "at least one rule required")
    requireFresh(df, ("text_redacted" +: rules.map("n_" + _._1)): _*)
    val counted = rules.foldLeft(df) { case (acc, (name, re, _)) =>
      acc.withColumn(s"n_$name",
        size(regexp_extract_all(col(textCol), lit(re), lit(0))))
    }
    val redacted = rules.foldLeft(col(textCol)) { case (c, (_, re, token)) =>
      regexp_replace(c, re, token)
    }
    counted.withColumn("text_redacted", redacted)
  }

  /** Registrable-domain normalization for a host (or host:port) column —
    * the canonical key a domain blocklist/allowlist joins on (q231, the
    * UT1-list shape), the domain-disjoint split (q236), the per-domain
    * cap, and the domain ledger. Backed by the REAL Public Suffix List
    * algorithm over the embedded versioned rule snapshot
    * ([[PublicSuffixList]], VERDICT r14 task 1): `a.co.uk` folds to
    * `a.co.uk` (not `co.uk`), `user.github.io` is its own registrable
    * domain, `www.ck` survives via its exception rule. Unknown TLDs
    * take the PSL default `*` rule, which degrades to exactly the old
    * two-label fold — the documented no-list fallback. Bare hosts
    * (`localhost`), trailing dots, IPv4 literals, and malformed labels
    * quarantine to '' — the caller convention, never a throw. One
    * codegen-inlined label walk per row
    * ([[graft.functions.RegistrableDomainExpr]]); the DuckDB oracle
    * replays the same rule sets as inline IN-lists
    * ([[graft.analytics.PslSql]]), so engine and oracle share one rule
    * source. Persisted fold-keyed state stamps
    * [[PublicSuffixList.version]] and refuses mixed versions. */
  def registrableDomain(host: Column): Column =
    graft.functions.RegistrableDomainExpr.registrableDomain(host)

  /** Host (with any port) of an http(s) URL — the canonical extraction
    * feeding [[registrableDomain]], hoisted so the pattern cannot drift
    * between the Scala call sites and the oracle SQL that replays it
    * (review r13). Same Java/RE2-identical regex subset. */
  def hostOf(url: Column): Column =
    regexp_extract(url, "https?://([A-Za-z0-9.-]+(:[0-9]+)?)", 1)

  /** Canonical form of an http(s) URL — the normalization every
    * URL-keyed curation step runs first (q244): scheme/host case fold,
    * default-port strip (443/https, 80/http; other ports kept),
    * trailing-slash fold (except the root path), query parameters
    * sorted, fragment dropped. Idempotent (canon(canon(u)) == canon(u),
    * pinned in CorpusOpsSpec) and RE2-identical so the oracle replays
    * every rule. */
  def canonicalizeUrl(url: Column): Column = {
    // fragment stripped FIRST: a '?' may legally appear INSIDE a
    // fragment ('/p#a?x=1'), and extracting the query from the raw URL
    // would resurrect fragment content as a phantom query (review r13)
    val base = regexp_replace(url, "#.*", "")
    val scheme = lower(regexp_extract(base, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    val hostport = lower(regexp_extract(base,
      "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)", 1))
    val path = regexp_extract(base, "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)", 1)
    val query = regexp_extract(base, "\\?(.*)", 1)
    val host = when(scheme === "https", regexp_replace(hostport, ":443$", ""))
      .when(scheme === "http", regexp_replace(hostport, ":80$", ""))
      .otherwise(hostport)
    val pathStripped = regexp_replace(path, "/+$", "")
    val cpath = when(pathStripped === "", "/").otherwise(pathStripped)
    val cquery = when(query === "", "")
      .otherwise(concat(lit("?"),
        array_join(array_sort(split(query, "&")), "&")))
    concat(scheme, lit("://"), host, cpath, cquery)
  }

  /** Deterministic domain-grain train/val assignment (the q236 rule):
    * `valBuckets` of `nBuckets` xxhash64 buckets go to 'val'. Stateless
    * and stable under corpus growth — a new crawl of an old domain lands
    * on the old side, so past assignments never re-shuffle. */
  def domainSplit(domain: Column, valBuckets: Int = 1,
      nBuckets: Int = 10): Column = {
    require(valBuckets > 0 && valBuckets < nBuckets,
      s"need 0 < valBuckets < nBuckets, got $valBuckets/$nBuckets")
    when(pmod(xxhash64(domain), lit(nBuckets)) < valBuckets, lit("val"))
      .otherwise(lit("train"))
  }

  /** Append one ingest batch's per-(domain, split) ledger segment —
    * exact doc/token counts keyed by the [[registrableDomain]] fold and
    * the [[domainSplit]] assignment — as its own `seg=<batchKey>`
    * partition (idempotent under retry: the segment overwrites itself).
    * Counts are additive, so [[domainLedger]] serves by summing segments
    * only, exact after every wave — the SketchStats maintenance
    * convention (hist/moments/freq) applied to the corpus-curation
    * ledger. */
  def appendDomainLedgerBatch(df: DataFrame, hostCol: Column,
      tokensCol: Column, dir: String, batchKey: String): Unit = {
    require(batchKey.nonEmpty && !batchKey.exists(c => c == '/' || c == '='),
      s"batchKey must be a plain partition value, got '$batchKey'")
    df.select(registrableDomain(hostCol).as("domain"), tokensCol.as("_t"))
      .withColumn("split", domainSplit(col("domain")))
      .groupBy("domain", "split")
      .agg(count(lit(1)).as("n_docs"), sum("_t").cast("long").as("n_tokens"))
      // fold-version stamp: the domain KEY is a function of the suffix
      // list, so segments folded under different list versions are not
      // additive (one site's counts land under different keys);
      // domainLedger refuses to sum across versions (frozen-lgK/k
      // convention)
      .withColumn("fold_version", lit(PublicSuffixList.version))
      .write.mode("overwrite").parquet(s"$dir/seg=$batchKey")
  }

  /** Serve the merged domain ledger: sum doc/token counts across all
    * segments. Exact (integer sums are associative), so the served
    * ledger after each wave is identical to one pass over everything
    * ingested so far.
    *
    * Segments record the [[PublicSuffixList.version]] they were folded
    * under; a ledger holding more than one version (including
    * pre-version segments, surfaced as null) FAILS LOUDLY — the fold
    * defines the grouping key, so cross-version sums silently split one
    * site's counts across two keys. Repair path: re-fold the old
    * segments from their source batches (counts cannot be re-keyed —
    * a PSL upgrade can split a previously-merged domain). */
  def domainLedger(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = {
    // version validation at SEGMENT grain, not a mergeSchema full scan:
    // fold_version is constant within a segment by construction, so one
    // row per segment proves the whole ledger — |segments| tiny reads
    // instead of footer-merging and scanning every row per serve
    // (review-r15 finding). A pre-version segment (no column) surfaces
    // as <unversioned> rather than hiding behind a winning schema.
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val segs = fs.listStatus(p).filter(_.isDirectory)
      .map(_.getPath.toString).filter(_.contains("seg="))
    // a segment makes a version CLAIM only if it holds committed rows:
    // an empty batch's zero-row segment contributes nothing additive and
    // must not read as "<unversioned>", and a mid-write-crashed segment
    // (only _temporary inside) holds no committed data — skipping it mirrors
    // the aggregate read below, which sees no rows from it either (the
    // round-14 crashed-dir class, at segment grain). A null-stamped row
    // (hand-repaired segment) folds to "<unversioned>" rather than
    // NPE-ing the sort.
    val versions = segs.flatMap { seg =>
      graft.core.ParquetDir.committed(spark, seg)
        .flatMap(_.limit(1).collect().headOption).map { r =>
          if (!r.schema.fieldNames.contains("fold_version")) "<unversioned>"
          else Option(r.getAs[String]("fold_version")).getOrElse("<unversioned>")
        }
    }.distinct.sorted
    require(versions.length <= 1,
      s"domain ledger $dir mixes fold versions ${versions.mkString(", ")}: " +
        "the registrable-domain fold changed under the ledger; re-fold " +
        "old segments instead of summing across incompatible keys")
    spark.read.parquet(dir)
      .groupBy("domain", "split")
      .agg(sum("n_docs").cast("long").as("n_docs"),
        sum("n_tokens").cast("long").as("n_tokens"))
  }

  /** Compiled quality filter with an audit trail: `rules` are (name,
    * keep-predicate) pairs; the output gains `keep` (all predicates hold)
    * and `drop_reasons` (comma-joined names of the failed rules, in rule
    * order). A predicate that evaluates to NULL (e.g. a null stat column)
    * counts as FAILED — `keep` is always a real boolean and the failing
    * rule is always named, so no dropped row ever leaves an empty audit
    * trail. One projection — every rule evaluates in the same codegen
    * stage, the same compile-the-rule-algebra design as
    * [[graft.validate.SchemaValidator]].
    */
  def qualityFilter(df: DataFrame, rules: Seq[(String, Column)]): DataFrame = {
    require(rules.nonEmpty, "at least one rule required")
    requireFresh(df, "keep", "drop_reasons")
    val strict = rules.map { case (nm, p) => (nm, coalesce(p, lit(false))) }
    val kept = strict.map(_._2).reduce(_ && _)
    val reasons = concat_ws(",",
      filter(array(strict.map { case (nm, p) => when(!p, lit(nm)) }: _*),
        _.isNotNull))
    df.withColumn("keep", kept).withColumn("drop_reasons", reasons)
  }

  /** Gopher document-quality rules (Rae et al. 2021, Appendix A — the
    * canonical public rule pack; q72's compile-the-rule-algebra applied
    * to the standard web-corpus thresholds) over a possibly multi-line
    * text column. Counters and flags are INTEGER-ONLY (ratios compared
    * by cross-multiplication — 10·symbols ≤ words instead of
    * symbols/words ≤ 0.1), so the whole surface hashes exactly:
    *  - word count in [50, 100 000]
    *  - mean word length in [3, 10] chars
    *  - symbol-to-word ratio ≤ 0.1 (symbols: '#' and '...')
    *  - ≤ 90% of lines start with a bullet ('- ')
    *  - ≤ 30% of lines end with an ellipsis ('...')
    *  - ≥ 80% of words contain an alphabetic character
    *  - ≥ 2 distinct stop words present (default: Gopher's 8)
    * One projection — every counter and flag evaluates in the same
    * codegen stage; linear per doc, shuffle-free.
    */
  def gopherQuality(df: DataFrame, idCol: String, textCol: String,
      stopWords: Seq[String] = Seq("the", "be", "to", "of", "and", "that",
        "have", "with")): DataFrame = {
    require(stopWords.nonEmpty, "stop word list must be non-empty")
    // line rules evaluate on WHITESPACE-TRIMMED lines: a CRLF page
    // leaves '\r' on every split line, which would blind the suffix
    // rules ('...' never matches '...\r') — the review-r15 class; the
    // reference implementations strip lines before judging them
    val base = df.select(col(idCol), col(textCol).as("_x"),
      graft.core.Cols.trimmedLines(col(textCol)).as("_l"),
      graft.core.Cols.wsTokens(col(textCol)).as("_w"))
    val counted = base.select(col(idCol),
      size(col("_w")).cast("long").as("n_words"),
      size(col("_l")).cast("long").as("n_lines"),
      aggregate(col("_w"), lit(0L), (a, w) => a + length(w)).as("sum_word_len"),
      (regexp_count(col("_x"), lit("#")) +
        regexp_count(col("_x"), lit("\\.\\.\\."))).cast("long").as("n_symbols"),
      size(filter(col("_l"), l => l.startsWith("- "))).cast("long")
        .as("n_bullet_lines"),
      size(filter(col("_l"), l => l.endsWith("..."))).cast("long")
        .as("n_ellipsis_lines"),
      size(filter(col("_w"), w => w.rlike("[A-Za-z]"))).cast("long")
        .as("n_alpha_words"),
      size(array_intersect(array_distinct(col("_w")),
        array(stopWords.map(lit): _*))).cast("long").as("n_stop_words"))
    val flags = Seq(
      "f_word_count" ->
        (col("n_words") >= 50 && col("n_words") <= 100000L),
      "f_mean_word_len" ->
        (lit(3L) * col("n_words") <= col("sum_word_len") &&
          col("sum_word_len") <= lit(10L) * col("n_words")),
      "f_symbol_ratio" -> (lit(10L) * col("n_symbols") <= col("n_words")),
      "f_bullet_lines" ->
        (lit(10L) * col("n_bullet_lines") <= lit(9L) * col("n_lines")),
      "f_ellipsis_lines" ->
        (lit(10L) * col("n_ellipsis_lines") <= lit(3L) * col("n_lines")),
      "f_alpha_words" ->
        (lit(5L) * col("n_alpha_words") >= lit(4L) * col("n_words")),
      "f_stop_words" -> (col("n_stop_words") >= 2),
    )
    val withFlags = flags.foldLeft(counted) { case (acc, (nm, p)) =>
      acc.withColumn(nm, when(p, 1L).otherwise(0L))
    }
    withFlags.withColumn("keep",
      when(flags.map(f => col(f._1) === 1L).reduce(_ && _), 1L).otherwise(0L))
  }

  /** Gopher REPETITION rules (Rae et al. 2021 Table A1 — the MassiveText
    * within-document repetition filter that pairs with [[gopherQuality]]'s
    * document rules): all 13 Table-A1 flags over duplicate lines,
    * duplicate paragraphs, and n-gram mass,
    * ENTIRELY ROW-LOCAL — sorted-gram HOFs per document, zero shuffles
    * beyond the scan (the q125 machinery generalized), which is the
    * 100 TB shape: repetition is a per-doc property and must never cost
    * a corpus-keyed exchange.
    *
    * Counters (all integer; fractions compared by cross-multiplication
    * against the paper's thresholds):
    *  - duplicate line fraction ≤ 0.30 (occurrences beyond the first /
    *    lines) and duplicate-line CHARACTER fraction ≤ 0.20 (their
    *    chars / total line chars) — lines whitespace-trimmed first
    *  - top {2,3,4}-gram character fraction ≤ {0.20, 0.18, 0.16}: the
    *    most frequent word n-gram's char mass (freq × token chars, ties
    *    to the lexicographically smallest gram) / total word chars
    *  - duplicate {5..10}-gram character fraction ≤ {0.15 … 0.10}:
    *    chars of token positions covered by ANY within-doc repeated
    *    n-gram (coverage union — overlaps counted once) / total word
    *    chars
    *  - duplicate PARAGRAPH fraction ≤ 0.30 and duplicate-paragraph
    *    character fraction ≤ 0.20 — paragraphs split on a blank line
    *    (the full Table A1, 13/13)
    */
  def gopherRepetition(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val sumLen = (a: Column) => aggregate(a, lit(0L), (s, x) => s + length(x))
    // EMPTY lines/paragraphs are separators, not content: without the
    // filter, a page whose sections sit between double blank lines
    // would count its synthesized empties as duplicates of each other
    // and reject zero-repetition documents (review r15); the reference
    // implementations split on \n+ / blank-line runs for the same reason
    val nonEmpty = (a: Column) => filter(a, l => l =!= "")
    // paragraph separator: a BLANK (whitespace-only) line, CRLF
    // included — a literal "\n\n" split never matches '\r\n\r\n', which
    // would silently pass the paragraph rules on the CRLF share of a
    // crawl (the same class the line rules' trim fixed)
    val base = df.select(col(idCol),
      nonEmpty(graft.core.Cols.trimmedLines(col(textCol))).as("_l"),
      nonEmpty(graft.core.Cols.trimmedLines(col(textCol),
        "\r?\n[ \t]*\r?\n")).as("_p"),
      graft.core.Cols.wsTokens(col(textCol)).as("_w"))
    // ---- line + paragraph duplicates: beyond-first occurrences + chars
    val withLines = base
      .withColumn("n_lines", size(col("_l")).cast("long"))
      .withColumn("chars_lines", sumLen(col("_l")))
      .withColumn("n_dup_line_occ",
        (size(col("_l")) - size(array_distinct(col("_l")))).cast("long"))
      .withColumn("chars_dup_lines",
        sumLen(col("_l")) - sumLen(array_distinct(col("_l"))))
      .withColumn("n_paras", size(col("_p")).cast("long"))
      .withColumn("chars_paras", sumLen(col("_p")))
      .withColumn("n_dup_para_occ",
        (size(col("_p")) - size(array_distinct(col("_p")))).cast("long"))
      .withColumn("chars_dup_paras",
        sumLen(col("_p")) - sumLen(array_distinct(col("_p"))))
      .withColumn("chars_words", sumLen(col("_w")))
    // ---- top n-gram char mass (n = 2..4): one sorted pass per n; the
    // running (gram, run, best) state rides a struct through aggregate;
    // strictly-greater comparison on an ASCENDING sort keeps the FIRST
    // maximal run = the lexicographically smallest max-count gram (the
    // oracle's ORDER BY cnt DESC, gram)
    def topGramChars(n: Int): Column = {
      val sorted = sort_array(wordGrams(col("_w"), n))
      val init = struct(lit("").as("cg"), lit(0L).as("cc"),
        lit("").as("bg"), lit(0L).as("bc"))
      val st = aggregate(sorted, init, (s, g) => {
        val cc = when(g === s.getField("cg"), s.getField("cc") + 1L)
          .otherwise(lit(1L))
        val isBest = cc > s.getField("bc")
        struct(g.as("cg"), cc.as("cc"),
          when(isBest, g).otherwise(s.getField("bg")).as("bg"),
          when(isBest, cc).otherwise(s.getField("bc")).as("bc"))
      })
      // token chars of the gram = string length minus the n-1 separators
      (st.getField("bc") *
        greatest(length(st.getField("bg")) - lit(n - 1), lit(0))).cast("long")
    }
    // ---- duplicate n-gram coverage chars (n = 5..10): starts whose
    // gram equals a sorted neighbor (≥ 2 occurrences), coverage union,
    // then char sum of covered token positions. The sorted array is
    // BOUND to a column first: element_at on an inlined sort_array
    // expression would re-run the sort per element — the O(len²)
    // footgun class WordGramsExpr documents (q125's binding rule).
    def dupGramCoverageChars(n: Int): Column = {
      val sg = col(s"_sg$n")
      val starts = filter(transform(sg, (s, j) => {
        val repeated =
          (j > 0 && element_at(sg, j).getField("g") === s.getField("g")) ||
          (j < size(sg) - 1 &&
            element_at(sg, j + 2).getField("g") === s.getField("g"))
        when(repeated, s.getField("i")).otherwise(lit(-1))
      }), x => x >= 0)
      val cov = array_distinct(flatten(
        transform(starts, p => sequence(p, p + (n - 1)))))
      aggregate(cov, lit(0L),
        (a, i) => a + length(element_at(col("_w"), i + 1)))
    }
    val withGrams = (2 to 4).foldLeft(withLines) { (acc, n) =>
      acc.withColumn(s"chars_top${n}gram", topGramChars(n))
    }
    val withDups = (5 to 10).foldLeft(withGrams) { (acc, n) =>
      acc
        .withColumn(s"_sg$n", sort_array(transform(wordGrams(col("_w"), n),
          (g, i) => struct(g.as("g"), i.as("i")))))
        .withColumn(s"chars_dup${n}gram", dupGramCoverageChars(n))
        .drop(s"_sg$n")
    }
    // ---- flags: 100·x ≤ pct·denominator, all integers
    val lineFlags = Seq(
      ("f_dup_line_frac", col("n_dup_line_occ"), 30L, col("n_lines")),
      ("f_dup_line_char_frac", col("chars_dup_lines"), 20L, col("chars_lines")),
      ("f_dup_para_frac", col("n_dup_para_occ"), 30L, col("n_paras")),
      ("f_dup_para_char_frac", col("chars_dup_paras"), 20L, col("chars_paras")))
    val topPct = Map(2 -> 20L, 3 -> 18L, 4 -> 16L)
    val dupPct = Map(5 -> 15L, 6 -> 14L, 7 -> 13L, 8 -> 12L, 9 -> 11L, 10 -> 10L)
    val gramFlags =
      (2 to 4).map(n => (s"f_top${n}gram_char_frac",
        col(s"chars_top${n}gram"), topPct(n), col("chars_words"))) ++
      (5 to 10).map(n => (s"f_dup${n}gram_char_frac",
        col(s"chars_dup${n}gram"), dupPct(n), col("chars_words")))
    val allFlags = lineFlags ++ gramFlags
    val flagged = allFlags.foldLeft(withDups) { case (acc, (nm, x, pct, den)) =>
      acc.withColumn(nm, when(lit(100L) * x <= lit(pct) * den, 1L).otherwise(0L))
    }
    flagged
      .withColumn("keep",
        when(allFlags.map(f => col(f._1) === 1L).reduce(_ && _), 1L)
          .otherwise(0L))
      .drop("_l", "_p", "_w")
  }

  /** C4 line-level cleaning (Raffel et al. 2020 §2.2 — the other
    * canonical public rule pack; Gopher judges documents, C4 rewrites
    * them): keep only lines with ≥ 5 words ending in terminal
    * punctuation ('.', '!', '?', '"'), and flag the whole page for
    * dropping when it contains code-smell '{' or the 'lorem ipsum'
    * placeholder (case-insensitive) or keeps < 3 lines. Output:
    * (idCol, n_lines, n_kept_lines, doc_dropped, cleaned_text) —
    * cleaned text is the kept lines rejoined, emitted even for dropped
    * docs so the audit trail shows what the filter saw. One projection,
    * row-local.
    */
  def c4LineFilter(df: DataFrame, idCol: String, textCol: String,
      minKeptLines: Int = 3): DataFrame = {
    val keptLine = (l: Column) =>
      size(graft.core.Cols.wsTokens(l)) >= 5 &&
        (l.endsWith(".") || l.endsWith("!") || l.endsWith("?") ||
          l.endsWith("\""))
    // judge (and emit) whitespace-trimmed lines: CRLF pages would
    // otherwise keep ZERO lines ('.' never matches '.\r') and the whole
    // CRLF share of a crawl would silently drop — the review-r15 class
    df.select(col(idCol), col(textCol).as("_x"),
        graft.core.Cols.trimmedLines(col(textCol)).as("_l"))
      .select(col(idCol),
        size(col("_l")).cast("long").as("n_lines"),
        size(filter(col("_l"), keptLine)).cast("long").as("n_kept_lines"),
        array_join(filter(col("_l"), keptLine), "\n").as("cleaned_text"),
        (col("_x").contains("{") ||
          lower(col("_x")).contains("lorem ipsum")).as("_bad"))
      .withColumn("doc_dropped",
        when(col("_bad") || col("n_kept_lines") < minKeptLines, 1L)
          .otherwise(0L))
      .select(col(idCol), col("n_lines"), col("n_kept_lines"),
        col("doc_dropped"), col("cleaned_text"))
  }

  /** The COMPLETE C4 page-cleaning pack (Raffel et al. 2020 §2.2 — the
    * r15 verdict's task 4; [[c4LineFilter]] is the documented line-rule
    * subset and keeps its exact behavior for existing callers):
    *  - keep lines with ≥ 5 words ending in terminal punctuation
    *    ('.', '!', '?', '"'), judged whitespace-trimmed (CRLF-proof);
    *  - ALSO drop any line containing the word "javascript"
    *    (case-insensitive token match — the §2.2 boilerplate rule);
    *  - drop the page when it contains '{', the phrase "lorem ipsum",
    *    or ANY bad word from the versioned [[BadWords]] list (token
    *    equality over non-alphanumeric splits of the lowercased page —
    *    punctuation never shields a word, substrings never Scunthorpe);
    *  - drop the page when the RETAINED text holds fewer than
    *    `minSentences` sentences — §2.2 counts sentences, not kept
    *    lines; a sentence here is a [.!?]-delimited segment of the
    *    cleaned text containing at least one alphanumeric (deterministic
    *    and SQL-replayable, unlike an NLP sentence splitter). A page of
    *    quote-terminated lines keeps its lines but has no sentences —
    *    exactly the class the kept-lines approximation passes wrongly.
    *
    * Output: (idCol, n_lines, n_kept_lines, n_sentences, f_brace,
    * f_lorem, f_badword, doc_dropped, cleaned_text) — integer flags so
    * the audit trail shows WHICH rule dropped a page. One row-local
    * projection, zero shuffles beyond the scan (the per-doc-property
    * scale shape).
    */
  def c4PageClean(df: DataFrame, idCol: String, textCol: String,
      minSentences: Int = 3): DataFrame = {
    val keptLine = (l: Column) =>
      size(graft.core.Cols.wsTokens(l)) >= 5 &&
        (l.endsWith(".") || l.endsWith("!") || l.endsWith("?") ||
          l.endsWith("\"")) &&
        !array_contains(split(lower(l), "[^a-z0-9]+"), "javascript")
    val badWordArr = array(BadWords.words.toSeq.sorted.map(lit): _*)
    df.select(col(idCol), col(textCol).as("_x"),
        graft.core.Cols.trimmedLines(col(textCol)).as("_l"))
      .select(col(idCol), col("_x"),
        size(col("_l")).cast("long").as("n_lines"),
        size(filter(col("_l"), keptLine)).cast("long").as("n_kept_lines"),
        array_join(filter(col("_l"), keptLine), "\n").as("cleaned_text"))
      .withColumn("n_sentences",
        size(filter(split(col("cleaned_text"), "[.!?]+"),
          s => s.rlike("[a-zA-Z0-9]"))).cast("long"))
      .withColumn("f_brace",
        when(col("_x").contains("{"), 1L).otherwise(0L))
      .withColumn("f_lorem",
        when(lower(col("_x")).contains("lorem ipsum"), 1L).otherwise(0L))
      .withColumn("f_badword",
        when(arrays_overlap(split(lower(col("_x")), "[^a-z0-9]+"),
          badWordArr), 1L).otherwise(0L))
      .withColumn("doc_dropped",
        when(col("f_brace") === 1L || col("f_lorem") === 1L ||
          col("f_badword") === 1L ||
          col("n_sentences") < minSentences, 1L).otherwise(0L))
      .select(col(idCol), col("n_lines"), col("n_kept_lines"),
        col("n_sentences"), col("f_brace"), col("f_lorem"),
        col("f_badword"), col("doc_dropped"), col("cleaned_text"))
  }

  /** The [[c4PageClean]] bad-word leg's DuckDB replay, interpolated from
    * the SAME [[BadWords.words]] set (one rule source, the PslSql
    * pattern): true iff any non-alphanumeric-split token of the
    * lowercased expression is on the list. */
  def badWordHitSql(expr: String): String = {
    val arr = BadWords.words.toSeq.sorted.map(w => s"'$w'").mkString(", ")
    s"len(list_intersect(string_split_regex(lower($expr), " +
      s"'[^a-z0-9]+'), [$arr])) > 0"
  }

  /** Vocabulary drift between two corpus slices (train vs eval, today vs
    * yesterday's crawl): the top-`topN` shared-support terms by per-term
    * KL contribution |p_a·ln(p_a/p_b)|, with the raw counts as evidence.
    * The standard distribution-shift monitor for a training-data mixture.
    *
    * Scale shape: two token-frequency aggregates (map-side combined), a
    * vocabulary-sized equi-join, two 1-row total aggregates broadcast
    * back, TakeOrdered top-N — no corpus-sized shuffle.
    *
    * Float determinism: probabilities are exact divisions of exact longs;
    * only `ln` is engine-sensitive, so the contribution and probabilities
    * are rounded (9 dp) and `+ 0.0` normalizes a rounded `-0.0` to `+0.0`
    * (IEEE: -0.0 + 0.0 = +0.0) — the oracle compare requires matching
    * float sign bits. Ranking uses the ROUNDED contribution, ties to the
    * term, so both engines cut the top-N identically.
    */
  def vocabDrift(a: DataFrame, b: DataFrame, textCol: String,
      topN: Int = 20): DataFrame = {
    def freqs(df: DataFrame, cnt: String) =
      df.select(explode(graft.core.Cols.wsTokens(col(textCol))).as("term"))
        .groupBy("term").agg(count(lit(1)).as(cnt))
    val fa = freqs(a, "cnt_a")
    val fb = freqs(b, "cnt_b")
    val tots = fa.agg(sum("cnt_a").as("tot_a"))
      .crossJoin(fb.agg(sum("cnt_b").as("tot_b")))
    val pA = col("cnt_a").cast("double") / col("tot_a")
    val pB = col("cnt_b").cast("double") / col("tot_b")
    val klTerm = round(pA * log(pA / pB), 9) + lit(0.0)
    fa.join(fb, "term")
      .crossJoin(broadcast(tots))
      .select(col("term"), col("cnt_a"), col("cnt_b"),
        (round(pA, 9) + lit(0.0)).as("p_a"),
        (round(pB, 9) + lit(0.0)).as("p_b"),
        klTerm.as("kl_term"))
      .orderBy(abs(col("kl_term")).desc, col("term"))
      .limit(topN)
  }

  /** The matching DuckDB oracle SQL for [[vocabDrift]] over the
    * `documents` table with slices `aPred`/`bPred` (SQL predicates on its
    * columns).
    */
  def vocabDriftOracleSql(aPred: String, bPred: String, topN: Int = 20): String =
    s"""
      WITH toks AS (SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS term
                    FROM documents),
      fa AS (SELECT term, count(*) AS cnt_a FROM toks WHERE $aPred GROUP BY term),
      fb AS (SELECT term, count(*) AS cnt_b FROM toks WHERE $bPred GROUP BY term),
      tots AS (SELECT (SELECT CAST(sum(cnt_a) AS BIGINT) FROM fa) AS tot_a,
                      (SELECT CAST(sum(cnt_b) AS BIGINT) FROM fb) AS tot_b),
      j AS (SELECT term, cnt_a, cnt_b,
              (round(CAST(cnt_a AS DOUBLE) / tot_a, 9) + 0.0) AS p_a,
              (round(CAST(cnt_b AS DOUBLE) / tot_b, 9) + 0.0) AS p_b,
              (round(CAST(cnt_a AS DOUBLE) / tot_a *
                 ln((CAST(cnt_a AS DOUBLE) / tot_a) / (CAST(cnt_b AS DOUBLE) / tot_b)), 9)
               + 0.0) AS kl_term
            FROM fa JOIN fb USING (term) CROSS JOIN tots)
      SELECT term, cnt_a, cnt_b, p_a, p_b, kl_term FROM j
      ORDER BY abs(kl_term) DESC, term LIMIT $topN"""

  // ---------------------------------------------------------------------
  // Persisted eval-gram index: the decontamination member of the
  // incremental-index family (MinHash / sign-bucket / IVF / PQ / search).
  // The eval suite is tokenized and grammed ONCE at index (re)build;
  // every ingest batch probes the stored gram set without touching the
  // eval texts again — the per-ingest production shape of
  // [[contamination]]. Batches of NEW eval suites append idempotently
  // under `batch=<key>` (a retry overwrites its own partition), and
  // [[compactEvalGramIndex]] folds them into one globally-distinct
  // `batch=base` partition with the staged-swap crash contract every
  // index rewrite here uses.
  // ---------------------------------------------------------------------

  private def evalGramRows(evalSet: DataFrame, textCol: String,
      n: Int, hashGrams: Boolean): DataFrame = {
    val reserved = Set("gram", "g0", "_t")
    require(!reserved.contains(textCol),
      s"${reserved.mkString("/")} are reserved; rename the input column")
    evalSet
      .select(graft.core.Cols.wsTokens(col(textCol)).as("_t"))
      .select(explode(wordGrams(col("_t"), n)).as("g0"))
      .select((if (hashGrams) xxhash64(col("g0")).cast("string")
               else col("g0")).as("gram"))
      .distinct()
      .withColumn("_n", lit(n))
      .withColumn("_hash_grams", lit(hashGrams))
  }

  /** Full (re)build of the eval-gram index at `path`: the eval set's
    * DISTINCT word `n`-grams — 8-byte xxhash64 values by default
    * ([[contamination]]'s scale path; collisions only ever ADD a flagged
    * doc, sound for decontamination) — params-stamped so a probe whose
    * gram shape disagrees fails loudly instead of silently matching
    * nothing. Wipes any batch partitions: a rebuild IS the compacted
    * state.
    */
  def writeEvalGramIndex(evalSet: DataFrame, textCol: String,
      n: Int, path: String, hashGrams: Boolean = true): Unit = {
    val spark = evalSet.sparkSession
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
    evalGramRows(evalSet, textCol, n, hashGrams)
      .write.mode("overwrite").parquet(s"$path/batch=base")
  }

  /** Append one NEW eval suite's grams idempotently under retries (the
    * batch owns `path/batch=<key>`; a retry overwrites it). Params must
    * match the index's existing stamp — a mismatched `n` would silently
    * flag nothing. Cross-batch duplicate grams are fine: every probe and
    * the compaction fold through DISTINCT.
    */
  def appendEvalGramBatch(evalSet: DataFrame, textCol: String,
      n: Int, path: String, batchKey: String, hashGrams: Boolean = true): Unit = {
    require(batchKey != "base",
      "batch key 'base' is reserved for writeEvalGramIndex/compactEvalGramIndex output")
    require(batchKey.nonEmpty && !batchKey.exists(c => c == '/' || c == '='),
      s"batchKey must be a plain partition value, got '$batchKey'")
    val (idxN, idxHash) = evalGramIndexParams(evalSet.sparkSession, path)
    require(idxN == n && idxHash == hashGrams,
      s"eval-gram index at $path was built with (n=$idxN, hashGrams=$idxHash); " +
        s"append used (n=$n, hashGrams=$hashGrams) — rebuild or match the params")
    evalGramRows(evalSet, textCol, n, hashGrams)
      .write.mode("overwrite").parquet(s"$path/batch=$batchKey")
  }

  /** The index's params stamp, validated to be unique across partitions. */
  def evalGramIndexParams(spark: org.apache.spark.sql.SparkSession,
      path: String): (Int, Boolean) = {
    val params = spark.read.parquet(path)
      .select("_n", "_hash_grams").distinct().collect()
    require(params.length == 1,
      s"eval-gram index at $path holds ${params.length} distinct param stamps " +
        "(mixed-parameter batches?); rebuild with writeEvalGramIndex")
    (params.head.getInt(0), params.head.getBoolean(1))
  }

  /** Per-ingest-batch contamination probe against the persisted index:
    * (idCol, n_shared_grams) for every batch doc sharing at least one
    * eval gram — identical output to [[contamination]] over the original
    * eval set (batch-equivalence contract in CorpusOpsSpec). Gram shape
    * (n, hashed-vs-string) is read from the index stamp, so the probe
    * CANNOT disagree with the build. One linear pass over the NEW batch
    * only; the gram set broadcasts (eval suites are tiny next to a
    * training corpus — pass `broadcastIndex = false` if yours is not).
    */
  def incrementalContamination(batch: DataFrame, idCol: String,
      textCol: String, path: String,
      broadcastIndex: Boolean = true): DataFrame = {
    val spark = batch.sparkSession
    val (n, hashGrams) = evalGramIndexParams(spark, path)
    val reserved = Set("gram", "g0", "_t")
    require(!reserved.contains(idCol) && !reserved.contains(textCol),
      s"${reserved.mkString("/")} are reserved; rename the input column")
    val idx = spark.read.parquet(path).select("gram").distinct()
    val evalGrams = if (broadcastIndex) broadcast(idx) else idx
    batch
      .select(col(idCol), graft.core.Cols.wsTokens(col(textCol)).as("_t"))
      .select(col(idCol), explode(wordGrams(col("_t"), n)).as("g0"))
      .select(col(idCol),
        (if (hashGrams) xxhash64(col("g0")).cast("string") else col("g0")).as("gram"))
      .join(evalGrams, "gram")
      .groupBy(idCol)
      .agg(countDistinct(col("gram")).as("n_shared_grams"))
  }

  /** [[incrementalContamination]]'s anti-join tail: the batch docs safe
    * to train on (no gram shared with ANY indexed eval suite). */
  def incrementalDecontaminate(batch: DataFrame, idCol: String,
      textCol: String, path: String,
      broadcastIndex: Boolean = true): DataFrame =
    batch.join(
      incrementalContamination(batch, idCol, textCol, path, broadcastIndex)
        .select(idCol),
      Seq(idCol), "left_anti")

  /** Token-budget mixture construction: per source, keep documents in
    * seeded-hash order while the cumulative weight BEFORE each document
    * stays under that source's budget — the greedy budgeted fill every
    * "X billion tokens of web, Y of code" training mixture is built with
    * (the rate-based sibling is [[mixtureSample]]; this one hits an exact
    * budget instead of an expected rate). Output: the kept rows with
    * their fill order (`pos`) and running pre-total (`cum_before`).
    *
    * Deterministic: the fill order is xxhash64(key) with the key as the
    * tie-break, so re-runs (and both engines) keep identical documents.
    * Greedy semantics: a source's first document is always kept when its
    * budget is positive, and the document that CROSSES the budget line is
    * kept (its predecessor total was still under budget) — byte-count
    * budgets at corpus scale don't care about one boundary doc, and the
    * rule needs no lookahead.
    *
    * Scale shape: one broadcast join against the (tiny) budget table and
    * ONE per-source window — parallelism = number of sources, exactly
    * [[packSequences]]' per-shard shape (sources are the mixture's unit
    * of accounting; a global order would serialize the corpus).
    */
  def budgetSample(df: DataFrame, keyCol: String, sourceCol: String,
      weightCol: String, budgets: DataFrame): DataFrame = {
    requireFresh(df, "h", "pos", "cum_before", "budget")
    require(budgets.columns.toSet == Set(sourceCol, "budget"),
      s"budgets must be exactly ($sourceCol, budget); has ${budgets.columns.mkString(", ")}")
    val order = Window.partitionBy(sourceCol).orderBy(col("h"), col(keyCol))
    df.select(col(keyCol), col(sourceCol), col(weightCol))
      .withColumn("h", xxhash64(col(keyCol)))
      .join(broadcast(budgets), sourceCol)
      .withColumn("pos", row_number().over(order))
      .withColumn("cum_before",
        coalesce(sum(col(weightCol).cast("long")).over(
          order.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .filter(col("cum_before") < col("budget"))
      .select(col(keyCol), col(sourceCol), col(weightCol), col("h"),
        col("pos"), col("cum_before"))
  }

  /** Fold all batch partitions into one globally-distinct `batch=base`
    * partition (staged-swap: a crashed compaction never wipes the live
    * index — see [[StagedSwap]]). Probe results are identical before and
    * after (DISTINCT is idempotent); what changes is the file count a
    * probe opens.
    */
  def compactEvalGramIndex(spark: org.apache.spark.sql.SparkSession,
      path: String): Unit = {
    val live = new org.apache.hadoop.fs.Path(path)
    val fs = live.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(live), s"no eval-gram index at $path")
    val stage = new org.apache.hadoop.fs.Path(path + "_compacting")
    if (StagedSwap.recoverOrClearStage(fs, live, stage)) return
    val (n, hashGrams) = evalGramIndexParams(spark, path)
    spark.read.parquet(path).select("gram").distinct()
      .withColumn("_n", lit(n))
      .withColumn("_hash_grams", lit(hashGrams))
      .write.mode("overwrite").parquet(s"$stage/batch=base")
    StagedSwap.swap(fs, live, stage)
  }

  // --------------------------------------------------------------------
  // Hashed n-gram importance weighting (DSIR-style data selection):
  // score raw docs by how target-like their hashed n-gram profile is.
  // Features follow Xie et al. 2023 ("Data Selection for Language Models
  // via Importance Resampling"): word unigrams + bigrams hashed into a
  // fixed bucket count, with per-bucket counts from a target slice vs the
  // raw remainder. The SCORE deviates from the paper deliberately: the
  // paper sums log((tc_b+1)/N_t) - log((rc_b+1)/N_r) per gram, but
  // cross-engine float-log sums cannot hash-match (ln is not a correctly
  // rounded operation), so the emitted score is the integer-exact
  // micro-averaged likelihood ratio floor(1e6 * Σ(tc_b+1) / Σ(rc_b+1))
  // over the doc's gram occurrences — same monotone intuition (docs whose
  // grams are relatively target-frequent rank first), bit-exact in any
  // engine. The per-doc sufficient statistics (n_grams, sum_t, sum_r)
  // ride along so a consumer wanting the paper's log score can apply it
  // at selection time without touching the corpus again.
  // --------------------------------------------------------------------

  /** Word unigrams + bigrams with multiplicity (the DSIR feature set)
    * over an ALREADY-MATERIALIZED token-array column; bigrams only when
    * the doc has >= 2 tokens. Callers must project the tokenization into
    * its own column first (as [[importanceWeights]] does): building this
    * directly over `split(...)` would re-inline the split into every
    * element access — O(tokens²) work per doc. Bigrams pair the array
    * with its own tail via two slices + zip_with, one pass, no
    * per-element indexing.
    */
  def importanceGrams(tokens: Column): Column = {
    val bi = when(size(tokens) >= 2,
      zip_with(slice(tokens, lit(1), size(tokens) - 1),
        slice(tokens, lit(2), size(tokens) - 1),
        (a, b) => concat(a, lit(" "), b)))
      .otherwise(array().cast("array<string>"))
    concat(tokens, bi)
  }

  /** Per-doc importance statistics against a target slice: explode grams,
    * bucket by `pmod(xxhash64(gram), numBuckets)`, aggregate per-bucket
    * target/raw occurrence counts, then fold them back per doc.
    *
    * Output: (idCol, is_target, n_grams, sum_t, sum_r, score).
    *
    * Scale shape: gram rows pre-aggregate per (doc, bucket) with map-side
    * combine before anything joins; the bucket-count table is at most
    * `numBuckets` rows and broadcasts, so the whole operator is two
    * hash-aggregate shuffles keyed on doc — linear in corpus tokens, no
    * corpus-sized join. sum_t fits a long while
    * 1e6 * maxDocGrams * corpusGramCount < 2^63; beyond that (trillion-
    * gram corpora) consumers should score from the emitted statistics in
    * log space, where overflow is structurally absent.
    */
  def importanceWeights(df: DataFrame, textCol: String, idCol: String,
      isTarget: Column, numBuckets: Int = 4096): DataFrame = {
    require(numBuckets > 0, s"numBuckets must be positive, got $numBuckets")
    requireFresh(df, "is_target", "n_grams", "sum_t", "sum_r", "score")
    val g = df.select(col(idCol), isTarget.cast("boolean").as("_t"),
        graft.core.Cols.wsTokens(col(textCol)).as("_tk"))
      .select(col(idCol), col("_t"),
        explode(importanceGrams(col("_tk"))).as("_gram"))
      .select(col(idCol), col("_t"),
        pmod(xxhash64(col("_gram")), lit(numBuckets.toLong)).as("_b"))
    val perDocBucket = g.groupBy(col(idCol), col("_t"), col("_b"))
      .agg(count(lit(1)).as("_n"))
    // bucket counts derive from the per-(doc, bucket) aggregate, not the
    // raw gram rows: both consumers then share one canonical exchange
    // over the exploded grams (AQE stage reuse), so the corpus-sized
    // explode+hash runs ONCE
    val bucketCounts = perDocBucket.groupBy("_b").agg(
      sum(when(col("_t"), col("_n")).otherwise(0L)).as("_tc"),
      sum(when(!col("_t"), col("_n")).otherwise(0L)).as("_rc"))
    perDocBucket.join(broadcast(bucketCounts), "_b")
      .groupBy(col(idCol), col("_t"))
      .agg(sum(col("_n")).as("n_grams"),
        sum(col("_n") * (col("_tc") + 1L)).as("sum_t"),
        sum(col("_n") * (col("_rc") + 1L)).as("sum_r"))
      .withColumn("score", expr("(1000000 * sum_t) div sum_r"))
      .withColumnRenamed("_t", "is_target")
  }

  // Persisted importance-count index: the DSIR bucket counts as a
  // durable, per-ingest-batch-appendable artifact, so scoring a NEW
  // batch against the corpus-so-far never re-reads the corpus — the
  // incremental twin of q102 (q115), same lifecycle as the histogram/
  // HLL/minhash segments. Counts are additive, so serving sums segments
  // exactly, and the oracle can hash-check indexed scoring end to end.

  /** Gram-bucket rows (id-free): (_b, _t) per gram occurrence. */
  private def gramBuckets(df: DataFrame, textCol: String,
      isTarget: Column, numBuckets: Int): DataFrame =
    df.select(isTarget.cast("boolean").as("_t"),
        graft.core.Cols.wsTokens(col(textCol)).as("_tk"))
      .select(col("_t"), explode(importanceGrams(col("_tk"))).as("_gram"))
      .select(col("_t"),
        pmod(xxhash64(col("_gram")), lit(numBuckets.toLong)).as("_b"))

  /** Append one batch's bucket counts under `path/seg=<key>` (idempotent
    * overwrite; numBuckets stamped and enforced at read).
    */
  def appendImportanceSegment(df: DataFrame, textCol: String,
      isTarget: Column, path: String, segKey: String,
      numBuckets: Int = 4096): Unit = {
    require(segKey.nonEmpty && !segKey.exists(c => c == '/' || c == '='),
      s"segKey must be a plain partition value, got '$segKey'")
    gramBuckets(df, textCol, isTarget, numBuckets)
      .groupBy("_b").agg(
        sum(when(col("_t"), 1L).otherwise(0L)).as("tc"),
        sum(when(!col("_t"), 1L).otherwise(0L)).as("rc"))
      .withColumnRenamed("_b", "b")
      .withColumn("_num_buckets", lit(numBuckets))
      .write.mode("overwrite").parquet(s"$path/seg=$segKey")
  }

  /** Serve the summed bucket counts; loud on mixed numBuckets. Keeps
    * `_num_buckets` on the served frame so [[importanceWeightsIndexed]]
    * can refuse a probe at a different bucket count — an index built at
    * 8192 scored with the default 4096 would silently never probe the
    * high buckets and alias the low ones.
    */
  def readImportanceIndex(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame = {
    val segs = spark.read.parquet(path)
    val nb = segs.select("_num_buckets").distinct().collect().map(_.getInt(0))
    require(nb.length == 1,
      s"mixed numBuckets under $path: ${nb.sorted.mkString(", ")}")
    segs.groupBy("b").agg(sum("tc").as("tc"), sum("rc").as("rc"))
      .withColumn("_num_buckets", lit(nb.head))
  }

  /** Score a NEW batch against a served count index — per-ingest
    * importance weighting without touching corpus text: one gram explode
    * over the batch, one broadcast join against <= numBuckets count
    * rows. Buckets the index never saw count zero (Laplace +1 still
    * applies). Same integer-exact score as [[importanceWeights]]; the
    * numbers differ only in WHOSE grams the counts came from (the
    * persisted corpus, not corpus+batch) — exactly the per-ingest
    * production semantics, and what the q115 oracle hash-checks.
    */
  def importanceWeightsIndexed(newDocs: DataFrame, textCol: String,
      idCol: String, index: DataFrame, numBuckets: Int = 4096): DataFrame = {
    requireFresh(newDocs, "n_grams", "sum_t", "sum_r", "score")
    // refuse a bucket-count mismatch loudly: when the index carries its
    // build-time _num_buckets (readImportanceIndex always does), it must
    // equal the probe side's — otherwise high buckets are never probed
    // and low buckets silently collect aliased mass
    if (index.columns.contains("_num_buckets")) {
      val nb = index.select("_num_buckets").distinct().collect()
        .map(_.getInt(0))
      require(nb.sameElements(Array(numBuckets)),
        s"index built with numBuckets=${nb.mkString(",")} but probe uses " +
          s"$numBuckets — pass the index's bucket count")
    }
    val g = newDocs.select(col(idCol),
        graft.core.Cols.wsTokens(col(textCol)).as("_tk"))
      .select(col(idCol), explode(importanceGrams(col("_tk"))).as("_gram"))
      .select(col(idCol),
        pmod(xxhash64(col("_gram")), lit(numBuckets.toLong)).as("_b"))
    g.groupBy(col(idCol), col("_b")).agg(count(lit(1)).as("_n"))
      .join(broadcast(index.select(col("b").as("_b"), col("tc"), col("rc"))),
        Seq("_b"), "left")
      .select(col(idCol), col("_n"),
        coalesce(col("tc"), lit(0L)).as("_tc"),
        coalesce(col("rc"), lit(0L)).as("_rc"))
      .groupBy(col(idCol))
      .agg(sum(col("_n")).as("n_grams"),
        sum(col("_n") * (col("_tc") + 1L)).as("sum_t"),
        sum(col("_n") * (col("_rc") + 1L)).as("sum_r"))
      .withColumn("score", expr("(1000000 * sum_t) div sum_r"))
  }

  /** Hashing-trick text vectorizer (Weinberger et al. 2009, the
    * scikit-learn `HashingVectorizer` shape): token term frequencies
    * over `pmod(xxhash64(token), dim)` buckets, SPARSE output —
    * (id, bucket, tf) rows, exact integers, so the full chain is
    * oracle-hash-checkable. This is the model-free text→vector bridge:
    * [[densifyHashedTf]] turns the sparse rows into the `array<float>`
    * the VectorSim family consumes (cosine kNN / near-dup / clustering
    * over text without an embedding model). One explode + one hash
    * aggregation — linear, no vocabulary state (the hashing trick's
    * point: no fit pass, any stream of new tokens maps consistently).
    */
  def hashedTf(df: DataFrame, textCol: String, idCol: String,
      dim: Int): DataFrame = {
    require(dim > 0, s"dim must be positive, got $dim")
    df.select(col(idCol),
        explode(graft.core.Cols.wsTokens(col(textCol))).as("_tok"))
      .groupBy(col(idCol),
        pmod(xxhash64(col("_tok")), lit(dim.toLong)).as("bucket"))
      .agg(count(lit(1)).as("tf"))
  }

  /** Dense `array<float>` vectors from [[hashedTf]] rows — the adapter
    * into `ops/VectorSim`. The bucket→tf map is materialized as its own
    * column FIRST (the let-binding rule: building it inside the per-index
    * lambda would re-collect it dim times per row); zero buckets
    * materialize as 0f.
    */
  def densifyHashedTf(sparse: DataFrame, idCol: String, dim: Int): DataFrame =
    sparse.groupBy(col(idCol))
      .agg(map_from_entries(collect_list(
        struct(col("bucket"), col("tf").cast("float")))).as("_m"))
      .select(col(idCol),
        transform(sequence(lit(0), lit(dim - 1)), i =>
          coalesce(element_at(col("_m"), i.cast("long")), lit(0f))).as("vec"))

  /** Split documents into overlapping character chunks — the RAG/
    * embedding preparation step (every retrieval corpus chunks before
    * embedding; offsets ride along so spans map back to the source doc).
    * Chunk k covers [1 + k*(chunkLen-overlap), ...chunkLen chars],
    * 1-based; the final chunk may be shorter; a doc shorter than
    * chunkLen emits exactly one whole-doc chunk. Pure codegen transform
    * + explode — linear, chunk count per doc bounded by len/stride.
    */
  def chunkDocs(df: DataFrame, textCol: String, idCol: String,
      chunkLen: Int, overlap: Int): DataFrame = {
    require(chunkLen > 0 && overlap >= 0 && overlap < chunkLen,
      s"need 0 <= overlap < chunkLen, got overlap=$overlap chunkLen=$chunkLen")
    requireFresh(df, "chunk_idx", "chunk_start", "chunk_text", "chunk_len")
    val stride = chunkLen - overlap
    val len = length(col(textCol))
    // ceil((len - chunkLen) / stride) extra chunks past the first
    val kMax = when(len <= chunkLen, lit(0))
      .otherwise(floor((len - chunkLen + stride - 1) / lit(stride)).cast("int"))
    df.select(col(idCol), col(textCol).as("_txt"), kMax.as("_kmax"))
      .select(col(idCol), explode(transform(sequence(lit(0), col("_kmax")),
        k => struct(k.as("k"),
          (k * stride + 1).as("start"),
          col("_txt").substr(k * stride + 1, lit(chunkLen)).as("txt")))).as("c"))
      .select(col(idCol),
        col("c.k").cast("long").as("chunk_idx"),
        col("c.start").cast("long").as("chunk_start"),
        col("c.txt").as("chunk_text"),
        length(col("c.txt")).cast("long").as("chunk_len"))
  }

  /** Corpus-wide chunk-level exact dedup (the C4/RefinedWeb boilerplate
    * scrub at chunk granularity, between q37's whole-doc dedup and q125's
    * within-doc span scrub): split each doc into NON-overlapping
    * chunkLen-char chunks, keep only each distinct chunk's FIRST
    * occurrence in (doc_id, chunk_idx) order, and reassemble documents
    * from their surviving chunks (empty-string join, so an untouched doc
    * reassembles to EXACTLY its original text). One chunk-keyed shuffle
    * (group + same-key join back, exchange reused) + one doc-keyed
    * re-aggregation; first-occurrence is a distributed min over the
    * integer position doc_id·2^20 + idx — no window, no driver state.
    * At 100 TB the group key would be xxhash64(chunk) rather than the
    * chunk string (7-8x less shuffle volume); the string key here keeps
    * the oracle collision-free by construction.
    */
  def chunkDedup(df: DataFrame, textCol: String, idCol: String,
      chunkLen: Int): DataFrame = {
    val chunks = chunkDocs(df, textCol, idCol, chunkLen, overlap = 0)
      .withColumn("_pos", col(idCol) * (1L << 20) + col("chunk_idx"))
    // documents beyond 2^20 chunks would alias positions — refuse loudly
    val guarded = chunks.withColumn("_pos",
      when(col("chunk_idx") < (1L << 20), col("_pos"))
        .otherwise(raise_error(concat(lit("chunkDedup: doc "), col(idCol),
          lit(" exceeds 2^20 chunks")))))
    val first = guarded.groupBy("chunk_text").agg(min("_pos").as("_first"))
    val kept = guarded.join(first, "chunk_text")
      .withColumn("_kept", (col("_pos") === col("_first")).cast("int"))
    kept.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_chunks"),
        sum("_kept").cast("long").as("n_kept"),
        array_join(transform(
          array_sort(collect_list(when(col("_kept") === 1,
            struct(col("chunk_idx"), col("chunk_text"))))),
          c => c.getField("chunk_text")), "").as("cleaned_text"))
  }

  /** Deterministic top-fraction selection over [[importanceWeights]]
    * output: the ceil(fraction * n_raw) NON-target docs with the highest
    * score, ties to the lowest id (total order, so the selected set is
    * unique). Executes as TakeOrderedAndProject (per-partition top-k +
    * merge), not a global sort; for selection fractions where k itself is
    * huge, rank against a score threshold from the emitted stats instead.
    */
  def importanceSelect(weights: DataFrame, idCol: String,
      fraction: Double): DataFrame = {
    require(fraction > 0 && fraction <= 1,
      s"fraction must be in (0, 1], got $fraction")
    // the weights pipeline is consumed twice (the count that sizes k,
    // then the cut) — materialize it once; one row per doc, so the
    // checkpoint is corpus-doc-count-sized, not corpus-sized
    val w = weights.localCheckpoint(true)
    val raw = w.filter(!col("is_target"))
    val k = math.ceil(raw.count() * fraction).toLong
    require(k <= Int.MaxValue, "selection too large for limit(); use a threshold")
    raw.orderBy(col("score").desc, col(idCol)).limit(k.toInt)
  }

  /** NOVEL n-gram rate — the memorization/novelty diagnostic (the
    * "novel n-gram fraction" reported in LLM data analyses): per new
    * doc, how many of its DISTINCT word n-grams never occur in a
    * reference corpus slice, as an integer-exact ppm ratio. High
    * novelty = fresh text; near-zero = boilerplate or near-copies of
    * the reference. Same complete-candidate shape as [[contamination]]
    * (one explode + one broadcast join), inverted: the LEFT join's
    * misses are the signal. Docs shorter than n carry no grams and
    * produce no row (the [[wordGrams]] convention).
    */
  def novelGramRate(newDocs: DataFrame, reference: DataFrame,
      idCol: String, textCol: String, n: Int): DataFrame = {
    def grams(df: DataFrame) = df
      .select(col(idCol), graft.core.Cols.wsTokens(col(textCol)).as("_t"))
      .select(col(idCol), explode(wordGrams(col("_t"), n)).as("gram"))
      .distinct()
    val ref = grams(reference).select("gram").distinct()
      .withColumn("_seen", lit(1))
    grams(newDocs)
      .join(broadcast(ref), Seq("gram"), "left")
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("_seen").isNull, 1L).otherwise(0L)).as("n_novel"))
      .withColumn("novel_ppm", expr("(1000000 * n_novel) div n_grams"))
  }

  /** Bigram collocation mining: the top-K adjacent token pairs ranked by
    * pointwise mutual information — corpus phrase discovery (the
    * "New York" detector of Mikolov et al. 2013's phrase pass, and the
    * vocabulary-extension signal a tokenizer-training pipeline reads).
    * PMI is kept INTEGER-EXACT for the oracle: with B total bigrams and
    * unigram counts n_x/n_y,
    *   score_ppm = (1_000_000 * n_xy * B) div (n_x * n_y)
    * is a monotone transform of PMI (log of a ratio ranks like the
    * ratio), computed in the same `div` arithmetic both engines share
    * (the q115 convention). Long math holds to ~10^6-token corpora
    * per the factors' product; beyond that lift the expression to
    * decimal(38,0).
    *
    * Shape at scale: two linear hash aggregations (bigrams, unigrams),
    * two BROADCAST joins against the vocabulary-bounded unigram table,
    * one TakeOrdered top-K — the corpus is never sorted globally. The
    * total-bigram scalar is a stat-broadcast (SURVEY §4.1).
    */
  def collocations(df: DataFrame, textCol: String, minCount: Long = 5L,
      topK: Int = 50): DataFrame = {
    require(minCount >= 1 && topK >= 1, s"bad minCount=$minCount topK=$topK")
    val base = df.select(graft.core.Cols.wsTokens(col(textCol)).as("_t"))
      .withColumn("_n", size(col("_t")))
    val uni = base.select(explode(col("_t")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("n_w"))
    val bg = base
      .select(explode(when(col("_n") < 2,
          array().cast("array<struct<w1:string,w2:string>>"))
        .otherwise(transform(sequence(lit(1), col("_n") - 1), i =>
          struct(element_at(col("_t"), i).as("w1"),
            element_at(col("_t"), i + 1).as("w2"))))).as("_b"))
      .select(col("_b.w1").as("w1"), col("_b.w2").as("w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("n_xy"))
    val bTotal = bg.agg(sum("n_xy")).head.getLong(0)
    bg.filter(col("n_xy") >= minCount)
      .join(broadcast(uni.select(col("w").as("w1"), col("n_w").as("n_x"))), "w1")
      .join(broadcast(uni.select(col("w").as("w2"), col("n_w").as("n_y"))), "w2")
      .withColumn("score_ppm",
        expr(s"(1000000 * n_xy * ${bTotal}L) div (n_x * n_y)"))
      .orderBy(col("score_ppm").desc, col("w1"), col("w2"))
      .limit(topK)
      .select("w1", "w2", "n_xy", "n_x", "n_y", "score_ppm")
  }

  // ---------------------------------------------------------------------
  // Cross-source n-gram overlap matrix (q246/q247): the FineWeb/Dolma-
  // style between-slice contamination report, plus its incremental
  // maintenance path. The unit of state is the DISTINCT (source, gram)
  // pair frame — the same "persisted index" shape as the MinHash
  // signature index (q79), so a growing corpus updates the matrix from
  // each ingest batch without re-joining the old corpus against itself.
  // ---------------------------------------------------------------------

  /** Distinct (source, gram) pairs of a corpus slice — the overlap
    * index. Grams ride as strings (oracle replays them verbatim); a
    * production deployment hashes them (xxhash64) to shrink the index.
    */
  def sourceGrams(df: DataFrame, sourceCol: String, textCol: String,
      n: Int): DataFrame =
    df.select(col(sourceCol).as("source"),
      explode(wordGrams(graft.core.Cols.wsTokens(col(textCol)), n)).as("gram"))
      .distinct()

  /** Complete pairwise overlap matrix over a (source, gram) index:
    * (src_a, src_b, shared_grams, grams_a, grams_b, jaccard) for every
    * source pair src_a < src_b — zero-overlap pairs included (the
    * complete matrix materializes from the tiny per-source totals).
    * Gram-blocked equi-join: per-gram fan-out is C(s_g, 2) with s_g
    * bounded by source cardinality, never corpus size.
    */
  def overlapMatrix(index: DataFrame): DataFrame = {
    val tot = index.groupBy("source").agg(count(lit(1)).as("n_grams"))
    val sh = index.as("a")
      .join(index.as("b"),
        col("a.gram") === col("b.gram") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
      .agg(count(lit(1)).as("shared"))
    assembleMatrix(tot, sh)
  }

  /** Incremental overlap-matrix update: `index` is the stored DISTINCT
    * (source, gram) frame of everything ingested so far, `newDocs` the
    * arriving batch. Returns the matrix of index ∪ batch — bit-equal to
    * [[overlapMatrix]] over the full corpus (q247's oracle states
    * exactly that) — while the only corpus-sized joins touch the DELTA:
    * the batch's genuinely-new (source, gram) pairs probe the index
    * gram-keyed (new×old) and self-join (new×new); the old×old half is
    * never recomputed, it arrives as the stored `priorShared` matrix
    * (dimension-sized: |sources|² rows). New sources appearing first in
    * the batch fall out naturally — the totals union introduces them and
    * the complete-matrix assembly gives them rows against every prior
    * source.
    */
  def incrementalOverlapMatrix(index: DataFrame, priorShared: DataFrame,
      newDocs: DataFrame, sourceCol: String, textCol: String,
      n: Int): DataFrame = {
    import graft.analytics.StatQueries.PerfCacheOps
    val fresh = freshSourceGrams(index, newDocs, sourceCol, textCol, n)
      .perfCache()
    val shared = priorShared
      .select(col("src_a"), col("src_b"), col("shared_grams").as("shared"))
      .filter(col("shared") > 0)
      .unionByName(overlapSharedDelta(index, fresh))
      .groupBy("src_a", "src_b").agg(sum("shared").as("shared"))
    val tot = index.groupBy("source").agg(count(lit(1)).as("n_grams"))
      .unionByName(fresh.groupBy("source").agg(count(lit(1)).as("n_grams")))
      .groupBy("source").agg(sum("n_grams").as("n_grams"))
    assembleMatrix(tot, shared)
  }

  /** A batch's genuinely-new index rows: its distinct (source, gram)
    * pairs anti-joined against the stored index. */
  private[graft] def freshSourceGrams(index: DataFrame, newDocs: DataFrame,
      sourceCol: String, textCol: String, n: Int): DataFrame =
    sourceGrams(newDocs, sourceCol, textCol, n)
      .join(index, Seq("source", "gram"), "left_anti")

  /** Shared-count DELTA a fresh pair set contributes: every new
    * cross-source pair (fresh × old, canonically ordered — the two sets
    * are disjoint per gram by the anti-join, so each pair counts once)
    * plus pairs born inside the batch (fresh × fresh, a < b). */
  private[graft] def overlapSharedDelta(index: DataFrame,
      fresh: DataFrame): DataFrame = {
    val crossOld = fresh.as("f")
      .join(index.as("o"), col("f.gram") === col("o.gram") &&
        col("f.source") =!= col("o.source"))
      .select(least(col("f.source"), col("o.source")).as("src_a"),
        greatest(col("f.source"), col("o.source")).as("src_b"))
    val within = fresh.as("x")
      .join(fresh.as("y"), col("x.gram") === col("y.gram") &&
        col("x.source") < col("y.source"))
      .select(col("x.source").as("src_a"), col("y.source").as("src_b"))
    crossOld.unionByName(within)
      .groupBy("src_a", "src_b").agg(count(lit(1)).as("shared"))
  }

  /** Assemble the published matrix from a [[graft.streaming.Streaming
    * .overlapLedgerStream]] ledger directory: fold the per-batch shared
    * and totals deltas (dimension-sized — |sources|² rows per batch, not
    * corpus-sized) and run the shared matrix-assembly tail. Equals
    * [[overlapMatrix]] over everything the stream has ingested. */
  def readOverlapLedger(sp: org.apache.spark.sql.SparkSession,
      ledgerDir: String): DataFrame = {
    val tot = sp.read.parquet(s"$ledgerDir/totals")
      .groupBy("source").agg(sum("n_grams").as("n_grams"))
    val shared = sp.read.parquet(s"$ledgerDir/shared")
      .groupBy("src_a", "src_b").agg(sum("shared").as("shared"))
    assembleMatrix(tot, shared)
  }

  /** Shared tail of the batch and incremental paths: complete pair
    * matrix from the per-source totals (tiny — broadcast nested loop is
    * fine at |sources|² rows), shared counts joined in, zero-overlap
    * pairs kept. jaccard = one division of exact integers (correctly
    * rounded on any IEEE engine).
    */
  private def assembleMatrix(tot: DataFrame, shared: DataFrame): DataFrame = {
    val pairs = broadcast(tot.as("ta"))
      .join(broadcast(tot.as("tb")), col("ta.source") < col("tb.source"))
      .select(col("ta.source").as("src_a"), col("tb.source").as("src_b"),
        col("ta.n_grams").as("grams_a"), col("tb.n_grams").as("grams_b"))
    pairs.join(shared, Seq("src_a", "src_b"), "left")
      .select(col("src_a"), col("src_b"),
        coalesce(col("shared"), lit(0L)).as("shared_grams"),
        col("grams_a"), col("grams_b"),
        (coalesce(col("shared"), lit(0L)).cast("double") /
          (col("grams_a") + col("grams_b") - coalesce(col("shared"), lit(0L))))
          .as("jaccard"))
  }
}

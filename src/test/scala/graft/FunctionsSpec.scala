package graft

import org.apache.spark.sql.functions._
import graft.functions.SortedIntersectSize.sortedIntersectSize

class FunctionsSpec extends SparkSpec {
  import spark.implicits._

  lazy val pairs = Seq(
    (Seq("a", "b", "c"), Seq("b", "c", "d")),
    (Seq("a"), Seq("a")),
    (Seq("a", "b"), Seq("c", "d")),
    (Seq[String](), Seq("a")),
    (Seq("a", "b", "c", "d", "e"), Seq("b", "d", "e", "z")),
  ).toDF("a", "b")

  test("matches array_intersect size on sorted distinct arrays") {
    val got = pairs.select(
      sortedIntersectSize(col("a"), col("b")).as("fast"),
      size(array_intersect(col("a"), col("b"))).as("ref")).collect()
    got.foreach(r => assert(r.getInt(0) == r.getInt(1), r.toString))
  }

  test("interpreted path (codegen off) agrees with codegen path") {
    val expected = Seq(2, 1, 0, 0, 3)
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try {
      val interp = pairs.select(sortedIntersectSize(col("a"), col("b")))
        .collect().map(_.getInt(0)).toSeq
      assert(interp == expected)
    } finally {
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
    val codegen = pairs.select(sortedIntersectSize(col("a"), col("b")))
      .collect().map(_.getInt(0)).toSeq
    assert(codegen == expected)
  }

  test("SQL registration works") {
    pairs.createOrReplaceTempView("pairs_sis")
    val got = spark.sql("SELECT sorted_intersect_size(a, b) FROM pairs_sis")
      .collect().map(_.getInt(0)).toSeq
    assert(got == Seq(2, 1, 0, 0, 3))
  }

  test("null array input yields null") {
    val df = Seq((Some(Seq("a")), Option.empty[Seq[String]])).toDF("a", "b")
    val got = df.select(sortedIntersectSize(col("a"), col("b"))).collect()(0)
    assert(got.isNullAt(0))
  }
}

class WordGramsExprSpec extends SparkSpec {
  import spark.implicits._
  import graft.functions.WordGramsExpr

  /** The composed higher-order formulation WordGramsExpr replaced —
    * kept here as the independent semantic reference. */
  private def composed(tokens: org.apache.spark.sql.Column, n: Int) = {
    val gram = (i: org.apache.spark.sql.Column) =>
      concat_ws(" ", (0 until n).map(j => element_at(tokens, i + lit(j))): _*)
    when(size(tokens) < n, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(1), size(tokens) - lit(n - 1)), gram))
  }

  private lazy val docs = {
    val rnd = new scala.util.Random(42)
    val vocab = Vector("alpha", "b", "gamma7", "Δδ", "x y".replace(" ", ""), "z")
    (1 to 200).map { i =>
      val len = rnd.nextInt(12) // 0..11 tokens
      (i.toLong, Seq.fill(len)(vocab(rnd.nextInt(vocab.size))))
    }.toDF("id", "t")
  }

  test("matches the composed transform/concat_ws formulation for n=1..5") {
    for (n <- 1 to 5) {
      val got = docs.select(col("id"), WordGramsExpr.wordGrams(col("t"), n))
        .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
      val ref = docs.select(col("id"), composed(col("t"), n))
        .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
      assert(got == ref, s"n=$n")
    }
  }

  test("interpreted path (codegen off) agrees with codegen path") {
    def run() = docs.select(WordGramsExpr.wordGrams(col("t"), 3))
      .collect().map(_.getSeq[String](0)).toSeq
    val codegen = run()
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try assert(run() == codegen)
    finally {
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
  }

  test("null token elements are SKIPPED (concat_ws parity) on both codegen paths") {
    // UnsafeArrayData.getUTF8String has no null guard (returns empty
    // string), so the kernel must isNullAt-check explicitly or grams
    // diverge by array encoding — pin against the composed form
    val df = Seq(
      (1L, Seq(Some("a"), None, Some("c"), Some("d"))),
      (2L, Seq(None, None, Some("x"))),
      (3L, Seq(Some("p"), Some("q"))),
    ).toDF("id", "t")
    def run() = df.select(col("id"), WordGramsExpr.wordGrams(col("t"), 3))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    val ref = df.select(col("id"), composed(col("t"), 3))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(run() == ref)
    assert(run()(1L) == Seq("a c", "c d")) // null skipped, single space
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try assert(run() == ref)
    finally {
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
  }

  test("SQL registration accepts any integral literal width and rejects non-literals") {
    WordGramsExpr.register(spark)
    Seq(Tuple1(Seq("a", "b", "c"))).toDF("t").createOrReplaceTempView("wg_w")
    // BIGINT literal: the raw asInstanceOf[Int] this replaced threw an
    // opaque ClassCastException here
    assert(spark.sql("SELECT word_grams(t, CAST(2 AS BIGINT)) FROM wg_w")
      .collect()(0).getSeq[String](0) == Seq("a b", "b c"))
    // a column reference is not foldable at registration: clear message
    val err = intercept[Exception] {
      spark.sql("SELECT word_grams(t, id) FROM (SELECT t, 2 AS id FROM wg_w)")
        .collect()
    }
    assert(err.getMessage.contains("literal"), err.getMessage)
  }

  test("edge cases: short arrays empty, null input null, n=1 identity") {
    val df = Seq(
      (1L, Some(Seq("a", "b", "c"))),
      (2L, Some(Seq("a"))),
      (3L, Some(Seq.empty[String])),
      (4L, Option.empty[Seq[String]]),
    ).toDF("id", "t")
    val rows = df.select(col("id"), WordGramsExpr.wordGrams(col("t"), 2).as("g"),
        WordGramsExpr.wordGrams(col("t"), 1).as("g1"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) null else r.getSeq[String](1),
          if (r.isNullAt(2)) null else r.getSeq[String](2))).toMap
    assert(rows(1L) == ((Seq("a b", "b c"), Seq("a", "b", "c"))))
    assert(rows(2L) == ((Seq(), Seq("a"))))
    assert(rows(3L) == ((Seq(), Seq())))
    assert(rows(4L) == ((null, null)))
  }

  test("SQL registration works") {
    WordGramsExpr.register(spark)
    Seq(Tuple1(Seq("p", "q", "r"))).toDF("t").createOrReplaceTempView("wg_t")
    val got = spark.sql("SELECT word_grams(t, 2) FROM wg_t")
      .collect()(0).getSeq[String](0)
    assert(got == Seq("p q", "q r"))
  }
}

class LshExprsSpec extends SparkSpec {
  import spark.implicits._
  import graft.functions.LshExprs
  import graft.functions.MinHashExprs.firstEqualIndex
  import graft.ops.VectorSim

  private val numTables = 8
  private val planesPerTable = 6
  private val dim = 64
  private val seed = 42L

  lazy val vecs: org.apache.spark.sql.DataFrame = {
    val rnd = new scala.util.Random(7)
    (0 until 50).map(i => (i.toLong, Array.fill(dim)(rnd.nextGaussian().toFloat)))
      .toDF("id", "v")
  }

  private def sigs(c: org.apache.spark.sql.Column): Seq[Seq[Long]] =
    vecs.select(col("id"), c.as("b")).orderBy("id")
      .collect().map(_.getSeq[Long](1).toSeq).toSeq

  test("lsh_sign_buckets is bit-identical to the legacy unrolled formulation") {
    // same seed must draw the same gaussian sequence, same index-order
    // double accumulation — buckets must agree EXACTLY, which is what lets
    // the operators swap formulations without changing q40/q41/q42 output
    val legacy = sigs(VectorSim.lshTableBuckets(col("v"),
      VectorSim.hyperplanes(numTables * planesPerTable, dim, seed),
      numTables, planesPerTable))
    val fused = sigs(LshExprs.lshSignBuckets(col("v"), numTables, planesPerTable, dim, seed))
    assert(fused == legacy)
    assert(fused.forall(_.size == numTables))
  }

  test("lsh_sign_buckets interpreted path agrees with codegen path") {
    val expr = LshExprs.lshSignBuckets(col("v"), numTables, planesPerTable, dim, seed)
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    val interp = try sigs(expr) finally {
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
    assert(sigs(expr) == interp)
  }

  lazy val sigPairs = Seq(
    (Seq(1L, 2L, 3L), Seq(1L, 2L, 3L)),   // equal at 0
    (Seq(1L, 2L, 3L), Seq(5L, 2L, 3L)),   // 1^5=4: 1 bit -> close at 0
    (Seq(1L, 8L, 3L), Seq(2L, 8L, 0L)),   // equal at 1; 1^2=3: 2 bits
    (Seq(7L, 1L, 0L), Seq(0L, 2L, 5L)),   // 3,2,2 bits apart: none <= 1
  ).toDF("a", "b")

  test("first_close_index finds the first table within maxBits; -1 otherwise") {
    val got = sigPairs.select(LshExprs.firstCloseIndex(col("a"), col("b"), 1))
      .collect().map(_.getInt(0)).toSeq
    assert(got == Seq(0, 0, 1, -1))
  }

  test("first_close_index at maxBits=0 degenerates to first_equal_index") {
    val got = sigPairs.select(
      LshExprs.firstCloseIndex(col("a"), col("b"), 0).as("close0"),
      firstEqualIndex(col("a"), col("b")).as("eq")).collect()
    got.foreach(r => assert(r.getInt(0) == r.getInt(1), r.toString))
  }

  test("first_close_index interpreted path agrees with codegen path") {
    val expected = Seq(0, 0, 1, -1)
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try {
      val interp = sigPairs.select(LshExprs.firstCloseIndex(col("a"), col("b"), 1))
        .collect().map(_.getInt(0)).toSeq
      assert(interp == expected)
    } finally {
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
  }

  test("lsh_sign_buckets rejects non-float-array input at analysis time") {
    val df = Seq((1L, Seq(1.0, 2.0))).toDF("id", "v") // array<double>
    val ex = intercept[Exception] {
      df.select(LshExprs.lshSignBuckets(col("v"), 2, 2, 2, 1L)).collect()
    }
    assert(ex.getMessage.toLowerCase.contains("lsh_sign_buckets") ||
      ex.getMessage.toLowerCase.contains("data type mismatch"))
  }
}

class WinnowMinsSpec extends SparkSpec {
  import spark.implicits._
  import graft.functions.WinnowExprs.winnowMins

  lazy val arrays = Seq(
    Seq(5L, 3L, 8L, 3L, 9L, 1L, 7L, 2L), // dup minima within + across windows
    Seq(4L, 4L, 4L, 4L),                 // all-equal: one fingerprint
    Seq(9L, 8L, 7L, 6L, 5L),             // strictly decreasing: new min each slide
    Seq(1L, 2L),                         // shorter than w: global minimum
    Seq(42L),                            // single element
  ).map(Tuple1(_)).toDF("g")

  private def run(w: Int): Seq[Seq[Long]] =
    arrays.select(winnowMins(col("g"), w)).collect()
      .map(_.getSeq[Long](0).toSeq).toSeq

  test("window minima are deduplicated in first-occurrence order") {
    assert(run(3) == Seq(
      Seq(3L, 1L),            // windows: 3,3,3,3,1,1 -> dedup
      Seq(4L),
      Seq(7L, 6L, 5L),
      Seq(1L),                // n < w fallback
      Seq(42L)))
  }

  test("interpreted path (codegen off) agrees with codegen path") {
    val gen = run(3)
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    val interp = try run(3) finally {
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
    assert(interp == gen)
  }

  test("rejects non-long-array input at analysis time") {
    val df = Seq(Tuple1(Seq(1, 2, 3))).toDF("g") // array<int>
    val ex = intercept[Exception] {
      df.select(winnowMins(col("g"), 3)).collect()
    }
    assert(ex.getMessage.toLowerCase.contains("winnow_mins") ||
      ex.getMessage.toLowerCase.contains("data type mismatch"))
  }

  test("null array input yields null") {
    val df = Seq(Tuple1(Option.empty[Seq[Long]])).toDF("g")
    assert(df.select(winnowMins(col("g"), 3)).collect()(0).isNullAt(0))
  }
}

class IvfExprsSpec extends SparkSpec {
  import spark.implicits._
  import graft.functions.IvfExprs

  // unit-norm centroids along the first three axes
  private val cents = Array(
    Array(1.0f, 0.0f, 0.0f, 0.0f),
    Array(0.0f, 1.0f, 0.0f, 0.0f),
    Array(0.0f, 0.0f, 1.0f, 0.0f))

  lazy val vs = Seq(
    (0L, Array(0.9f, 0.1f, 0.0f, 0.0f)),  // nearest 0, then 1
    (1L, Array(0.1f, 0.8f, 0.2f, 0.0f)),  // nearest 1, then 2
    (2L, Array(0.0f, 0.0f, -1.0f, 0.0f)), // all dots <= 0; argmax ties
  ).toDF("id", "v")

  test("nearest_centroids returns descending-dot probe lists, ties to lower index") {
    val got = vs.select(col("id"), IvfExprs.nearestCentroids(col("v"), cents, 2).as("p"))
      .orderBy("id").collect().map(_.getSeq[Int](1).toSeq).toSeq
    // row 2: dots are (0, 0, -1) — the 0.0 tie must resolve to centroid 0 then 1
    assert(got == Seq(Seq(0, 1), Seq(1, 2), Seq(0, 1)))
  }

  test("nearest_centroids interpreted path agrees with codegen path") {
    val expr = IvfExprs.nearestCentroids(col("v"), cents, 3)
    def run(): Seq[Seq[Int]] = vs.select(col("id"), expr.as("p")).orderBy("id")
      .collect().map(_.getSeq[Int](1).toSeq).toSeq
    val gen = run()
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    val interp = try run() finally {
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
    assert(gen == interp)
  }

  test("nearest_centroids yields a distinct probe list even for NaN vectors") {
    // every dot against a NaN vector is NaN, so no insert ever fires; the
    // tail-fill must still produce distinct cells or downstream IVF/PQ
    // candidate generation emits duplicate pairs
    val nan = Seq(
      (0L, Array(Float.NaN, 0.0f, 0.0f, 0.0f)),
      (1L, Array(0.9f, Float.NaN, 0.0f, 0.0f)),
      (2L, Array(0.9f, 0.1f, 0.0f, 0.0f))).toDF("id", "v")
    def run(): Seq[Seq[Int]] = nan
      .select(col("id"), IvfExprs.nearestCentroids(col("v"), cents, 2).as("p"))
      .orderBy("id").collect().map(_.getSeq[Int](1).toSeq).toSeq
    val gen = run()
    // NaN rows fall back to the lowest distinct indices; the clean row is
    // unaffected
    assert(gen == Seq(Seq(0, 1), Seq(0, 1), Seq(0, 1)))
    assert(gen.forall(p => p.distinct.length == p.length))
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    val interp = try run() finally {
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
    assert(gen == interp)
  }

  test("nearest_centroids rejects non-float-array input at analysis time") {
    val df = Seq((1L, Seq(1.0, 2.0, 3.0, 4.0))).toDF("id", "v") // array<double>
    val ex = intercept[Exception] {
      df.select(IvfExprs.nearestCentroids(col("v"), cents, 1)).collect()
    }
    assert(ex.getMessage.toLowerCase.contains("nearest_centroids") ||
      ex.getMessage.toLowerCase.contains("data type mismatch"))
  }
}

class PqExprsSpec extends SparkSpec {
  import spark.implicits._
  import graft.functions.PqExprs
  import graft.ops.VectorSim

  private val m = 4
  private val ksub = 16
  private val dsub = 4 // dim 16

  lazy val corpus: org.apache.spark.sql.DataFrame = {
    val rnd = new scala.util.Random(31)
    (0 until 120).map(i => (i.toLong, Array.fill(16)(rnd.nextGaussian().toFloat)))
      .toDF("id", "v")
  }

  lazy val books: Array[Array[Array[Float]]] =
    VectorSim.trainPqCodebooks(corpus, "id", "v", m, ksub, sampleN = 120)

  test("codebook tensor has the declared shape and is deterministic") {
    assert(books.length == m && books.forall(_.length == ksub) &&
      books.forall(_.forall(_.length == dsub)))
    val again = VectorSim.trainPqCodebooks(corpus, "id", "v", m, ksub, sampleN = 120)
    assert(books.map(_.map(_.toSeq).toSeq).toSeq == again.map(_.map(_.toSeq).toSeq).toSeq)
  }

  test("codes are m bytes and ADC equals the reconstruction dot product") {
    // THE PQ contract: pq_adc_dot(lut(q), encode(x)) must equal
    // dot(normalize(q), reconstruction(encode(x))) — ADC is not a fuzzy
    // estimate of that quantity, it IS that quantity (up to the one
    // float rounding each LUT entry takes)
    val rows = corpus.limit(20)
      .select(col("id"), col("v"), PqExprs.pqEncode(col("v"), books).as("code"))
      .collect()
    val q = corpus.filter(col("id") === 0L).select("v")
      .collect()(0).getSeq[Float](0).toArray
    val qn = math.sqrt(q.map(x => x.toDouble * x).sum)
    val qHat = q.map(_ / qn)
    val lutScored = corpus.filter(col("id") === 0L)
      .select(PqExprs.pqLut(col("v"), books).as("lut"))
      .crossJoin(corpus.limit(20).select(col("id"),
        PqExprs.pqEncode(col("v"), books).as("code")))
      .select(col("id"), PqExprs.pqAdcDot(col("lut"), col("code"), ksub).as("adc"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    rows.foreach { r =>
      val code = r.getAs[Array[Byte]]("code")
      assert(code.length == m)
      val recon = code.zipWithIndex.flatMap { case (b, s) => books(s)(b & 0xFF) }
      val expected = qHat.zip(recon).map { case (a, b) => a * b.toDouble }.sum
      assert(math.abs(lutScored(r.getLong(0)) - expected) < 1e-5,
        s"id ${r.getLong(0)}: adc=${lutScored(r.getLong(0))} recon-dot=$expected")
    }
  }

  test("interpreted path agrees with codegen path for encode, lut, and adc") {
    def run(): Seq[(Seq[Byte], Double)] = {
      val qLut = corpus.filter(col("id") === 1L)
        .select(PqExprs.pqLut(col("v"), books).as("lut"))
      corpus.limit(30).select(col("id"), PqExprs.pqEncode(col("v"), books).as("code"))
        .crossJoin(qLut)
        .select(col("id"), col("code"),
          PqExprs.pqAdcDot(col("lut"), col("code"), ksub).as("adc"))
        .orderBy("id").collect()
        .map(r => (r.getAs[Array[Byte]]("code").toSeq, r.getDouble(2))).toSeq
    }
    val gen = run()
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    val interp = try run() finally {
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
    assert(gen == interp)
  }

  test("zero vector encodes deterministically and scores 0") {
    val z = Seq((0L, Array.fill(16)(0.0f))).toDF("id", "v")
    val r = z.select(PqExprs.pqEncode(col("v"), books).as("code"),
      PqExprs.pqAdcDot(PqExprs.pqLut(col("v"), books),
        PqExprs.pqEncode(col("v"), books), ksub).as("adc")).collect()(0)
    assert(r.getAs[Array[Byte]]("code").length == m)
    assert(r.getDouble(1) == 0.0) // zero LUT: every entry is dot(0, c)
  }

  test("adc raises on a code/LUT pair from mismatched codebooks") {
    // a 4-subspace code scored against a 2-subspace LUT must fail loudly,
    // not index past the LUT and return a garbage score
    val badBooks = books.take(2) // m=2 -> LUT has 2*ksub entries
    def run(codegen: Boolean): Exception = {
      if (!codegen) {
        spark.conf.set("spark.sql.codegen.wholeStage", "false")
        spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
      }
      try intercept[Exception] {
        corpus.limit(5)
          .select(PqExprs.pqAdcDot(
            PqExprs.pqLut(col("v"), badBooks),
            PqExprs.pqEncode(col("v"), books), ksub).as("adc"))
          .collect()
      } finally if (!codegen) {
        spark.conf.set("spark.sql.codegen.wholeStage", "true")
        spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
      }
    }
    def chain(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(8)
        .map(e => Option(e.getMessage).getOrElse("")).mkString(" | ")
    Seq(true, false).foreach { cg =>
      val msg = chain(run(cg))
      assert(msg.contains("pq_adc_dot") && msg.contains("subspaces"), s"codegen=$cg: $msg")
    }
  }

  test("kernels reject mistyped input at analysis time") {
    val bad = Seq((1L, Seq(1.0, 2.0))).toDF("id", "v") // array<double>
    val ex = intercept[Exception] {
      bad.select(PqExprs.pqEncode(col("v"), books)).collect()
    }
    assert(ex.getMessage.toLowerCase.contains("pq_encode") ||
      ex.getMessage.toLowerCase.contains("data type mismatch"))
    val ex2 = intercept[Exception] {
      corpus.select(PqExprs.pqAdcDot(col("v"), col("v"), ksub)).collect()
    }
    assert(ex2.getMessage.toLowerCase.contains("pq_adc_dot") ||
      ex2.getMessage.toLowerCase.contains("data type mismatch"))
  }
}

class FreqSketchSpec extends SparkSpec {
  import spark.implicits._
  import graft.functions.FreqSketch

  private def sketch(df: org.apache.spark.sql.DataFrame, cap: Int): Seq[(String, Long)] =
    df.agg(FreqSketch.freqSketch(col("w"), cap).as("sk"))
      .select(explode(col("sk"))).select("col.item", "col.cnt")
      .as[(String, Long)].collect().toSeq

  test("capacity >= distinct items gives exact counts in deterministic order") {
    val rnd = new scala.util.Random(7)
    val words = Seq("alpha", "beta", "gamma", "delta", "epsilon")
    val rows = (0 until 5000).map(_ => words(rnd.nextInt(words.length)))
    val df = rows.toDF("w").repartition(8) // force multi-partition merges
    val exact = rows.groupBy(identity).map { case (w, xs) => (w, xs.length.toLong) }
      .toSeq.sortBy { case (w, c) => (-c, w) }
    assert(sketch(df, 64) == exact)
    assert(sketch(df, words.length) == exact) // capacity exactly = distinct
  }

  test("under pressure, every true heavy hitter survives with bounded undercount") {
    // zipfish stream: item i appears ~n/(i+1) times; capacity 8 on ~40
    // distinct items forces constant decrements and merge shrinkage
    val rows = (for (i <- 0 until 40; _ <- 0 until (4000 / (i + 1))) yield s"w$i")
    val n = rows.length.toLong
    val cap = 8
    val bound = n / (cap + 1)
    val truth = rows.groupBy(identity).map { case (w, xs) => (w, xs.length.toLong) }
    val got = sketch(rows.toDF("w").repartition(8), cap).toMap
    truth.foreach { case (w, c) =>
      if (c > bound)
        assert(got.contains(w), s"heavy hitter $w (true count $c > $bound) evicted")
    }
    got.foreach { case (w, c) =>
      assert(c <= truth(w), s"$w over-counted: $c > ${truth(w)}")
      assert(c >= truth(w) - bound, s"$w undercount beyond the n/(cap+1) bound")
    }
  }

  test("partitioning does not change the exact-regime result") {
    val rows = (0 until 2000).map(i => s"w${i % 30}")
    val one = sketch(rows.toDF("w").repartition(1), 64)
    val many = sketch(rows.toDF("w").repartition(16), 64)
    assert(one == many)
  }

  test("nulls are skipped, empty input yields an empty summary") {
    val df = Seq(Some("a"), None, Some("a"), None).toDF("w")
    assert(sketch(df, 4) == Seq(("a", 2L)))
    assert(sketch(Seq.empty[String].toDF("w"), 4).isEmpty)
  }
}

class TopKPairsSpec extends SparkSpec {
  import spark.implicits._
  import graft.functions.TopKPairs

  test("bounded top-k agg matches window row_number ranking") {
    val rnd = new scala.util.Random(11)
    // 40 queries x 500 scored rows, duplicate scores to exercise id tiebreak
    val rows = for (q <- 0 until 40; i <- 0 until 500)
      yield (q.toLong, i.toLong, math.floor(rnd.nextDouble() * 50) / 50.0)
    val df = rows.toDF("query_id", "neighbor_id", "cosine").repartition(7)
    val viaAgg = df.groupBy("query_id")
      .agg(TopKPairs.topK(col("cosine"), col("neighbor_id"), 10).as("nb"))
      .select(col("query_id"), posexplode(col("nb")).as(Seq("i", "s")))
      .select(col("query_id"), col("s.id").as("neighbor_id"),
        col("s.score").as("cosine"), (col("i") + 1).as("rank"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(desc("cosine"), asc("neighbor_id"))
    val viaWindow = df.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    assert(viaAgg == viaWindow)
  }

  test("top-k agg rejects mistyped inputs at analysis time") {
    val df = Seq(("a", 1L)).toDF("s", "id")
    val ex = intercept[Exception] {
      df.groupBy("id").agg(TopKPairs.topK(col("s"), col("id"), 3)).collect()
    }
    assert(ex.getMessage.toLowerCase.contains("topk_pairs") ||
      ex.getMessage.toLowerCase.contains("data type mismatch"))
  }

  test("phrase_starts: overlaps, short docs, and interpreted==codegen") {
    import spark.implicits._
    import graft.functions.PhraseStarts
    val df = Seq(
      Seq("a", "a", "a", "a"),
      Seq("b", "a", "a", "b", "a", "a"),
      Seq("a"),
      Seq.empty[String],
    ).toDF("t")
    val expected = Seq(Seq(1, 2, 3), Seq(2, 5), Seq(), Seq())
    def run() = df.select(PhraseStarts.starts(col("t"), Seq("a", "a")))
      .collect().map(_.getSeq[Int](0).toSeq).toSeq
    assert(run() == expected)
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try assert(run() == expected)
    finally {
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
    // null token elements never match (and never NPE)
    val withNull = Seq(Seq[String]("a", null, "a", "a")).toDF("t")
    assert(withNull.select(PhraseStarts.starts(col("t"), Seq("a", "a")))
      .collect().head.getSeq[Int](0).toSeq == Seq(3))
  }
}

class DeflateSizeSpec extends SparkSpec {
  import spark.implicits._

  test("deflate_size: JVM-reference equality, repetition monotonicity, codegen agreement, nulls") {
    import graft.functions.DeflateSize
    val texts = Seq(
      "the quick brown fox jumps over the lazy dog",
      "ab" * 500,
      "x7#q!m zK9@pL w3$vR8 yT2&nB5 cF6*dH1 jS4%gA0",
      "")
    def ref(s: String): Int = {
      val d = new java.util.zip.Deflater(6, true)
      try {
        d.setInput(s.getBytes("UTF-8")); d.finish()
        val buf = new Array[Byte](8192); var t = 0
        while (!d.finished()) t += d.deflate(buf)
        t
      } finally d.end()
    }
    val df = texts.toDF("t")
    val got = df.select(DeflateSize.deflateSize(col("t"))).collect().map(_.getInt(0)).toSeq
    assert(got == texts.map(ref))
    // repetitive text must compress far better than diverse text of the
    // same length (the quality signal the ratio thresholds)
    val rep = ref("ab" * 500).toDouble / 1000
    val div = ref(scala.util.Random.shuffle(
      (1 to 250).map(i => f"w$i%03d").toList).mkString(" ").take(1000)).toDouble / 1000
    assert(rep < div * 0.2, s"repetitive ratio $rep vs diverse $div")
    // interpreted agrees with codegen
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try {
      val interp = df.select(DeflateSize.deflateSize(col("t")))
        .collect().map(_.getInt(0)).toSeq
      assert(interp == got)
    } finally {
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
    assert(Seq((null: String)).toDF("t")
      .select(DeflateSize.deflateSize(col("t"))).collect().head.isNullAt(0))
  }
}

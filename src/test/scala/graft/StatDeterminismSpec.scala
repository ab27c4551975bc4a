package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.analytics.StatQueries

/** Round-12 determinism contracts for the distributed rank/prefix-sum
  * helpers (VERDICT r11 task 1).
  *
  * Round 11's q211 flake class: `repartitionByRange` samples partition
  * boundaries with a run-dependent RDD-id seed, so the helper's two
  * consuming subplans (offsets + local ranks) could observe DIFFERENT
  * boundaries whenever the persist pin was evicted — a silent rank
  * corruption that surfaced only under the driver's memory state. The
  * fix derives boundary LITERALS from an exact driver-collected
  * histogram, so results depend only on data values. These tests pin
  * that contract three ways:
  *
  *   1. every rank/prefix-sum consumer, run twice in one session with
  *      `clearCache()` between, is BIT-identical (doubles compared by
  *      raw IEEE bits, not tolerance);
  *   2. the same queries with the perf cache DISABLED entirely (every
  *      persist a no-op — stronger than any eviction schedule a stress
  *      run could produce) are bit-identical to the cached runs;
  *   3. the exact-NTILE formula matches Spark's NTILE window function
  *      on row counts NOT divisible by the bucket count (ADVICE r11
  *      high: float `/` shifted thresholds for any n with a remainder,
  *      hidden because every tested TPC-H count was a multiple of 5/10).
  */
class StatDeterminismSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  /** The queries built on globalRank/globalCumSum (and the shared
    * memoized logistic scores). */
  private val consumers = Seq(
    "q177_conformal_coverage", "q193_gain_lift", "q196_ks_test",
    "q197_mann_whitney", "q198_kruskal_wallis", "q200_gini_lorenz",
    "q208_cvm_test", "q210_cochran_armitage", "q211_jonckheere",
    "q212_length_batches", "q216_score_ks",
    "q240_budget_select", "q241_curriculum_stages", "q245_ccnet_buckets")

  private def run(name: String) = // merged registry: rank consumers now
    SparkEntry.queries(name)(spark, dir) // live outside StatQueries too

  /** Canonical bit-exact fingerprint: rows sorted, doubles/floats by raw
    * IEEE-754 bits so two runs that differ in the last ulp still fail. */
  private def fingerprint(name: String): String = {
    val rows = run(name).collect()
    rows.map(_.toSeq.map {
      case d: Double => "d:" + java.lang.Double.doubleToRawLongBits(d)
      case f: Float  => "f:" + java.lang.Float.floatToRawIntBits(f)
      case null      => "null"
      case x         => x.toString
    }.mkString("|")).sorted.mkString("\n")
  }

  private def freshState(): Unit = {
    spark.catalog.clearCache()
    core.SessionMemo.clear(spark)
  }

  test("rank/prefix-sum consumers: run-twice with clearCache() is bit-identical") {
    freshState()
    val first = consumers.map(n => n -> fingerprint(n)).toMap
    freshState()
    consumers.foreach { n =>
      assert(fingerprint(n) == first(n), s"$n drifted across cache-cleared runs")
    }
  }

  test("rank/prefix-sum consumers: perf cache OFF is bit-identical to ON") {
    freshState()
    val cached = consumers.map(n => n -> fingerprint(n)).toMap
    StatQueries.perfCacheEnabled = false
    try {
      freshState()
      consumers.foreach { n =>
        assert(fingerprint(n) == cached(n), s"$n depends on cache state")
      }
    } finally {
      StatQueries.perfCacheEnabled = true
      freshState()
    }
  }

  test("slice-boundary memo HITS across invocations: second run adds no entries") {
    freshState()
    Seq("q211_jonckheere", "q216_score_ks", "q193_gain_lift").foreach { n =>
      run(n).collect(); ()
    }
    val afterFirst = core.SessionMemo.size(spark)
    assert(afterFirst > 0, "memo never populated")
    spark.catalog.clearCache() // blocks drop; boundary literals must not
    Seq("q211_jonckheere", "q216_score_ks", "q193_gain_lift").foreach { n =>
      run(n).collect(); ()
    }
    assert(core.SessionMemo.size(spark) == afterFirst,
      s"memo grew $afterFirst -> ${core.SessionMemo.size(spark)}: keys fail to " +
        "canonicalize identically across invocations, boundary collects re-paid")
  }

  test("exact NTILE matches Spark's window NTILE on non-divisible counts") {
    import spark.implicits._
    // n = 25 is ADVICE r11's concrete counterexample (rank 16 must land
    // in decile 6, not 5); sweep every remainder class mod 5 and 10,
    // plus n < k (all ranks in bucket rn) and n = k
    for (n <- Seq(3, 7, 10, 23, 25, 31, 40, 41, 97); k <- Seq(5, 10)) {
      // non-contiguous keys with a tie pair broken by the id column
      val df = (1 to n).map(i => (i.toLong * 7 % 101, i.toLong)).toDF("v", "id")
      val expected = df.select(col("id"),
        ntile(k).over(Window.orderBy(col("v"), col("id"))).as("b"))
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      val nTot = df.agg(count(lit(1)).as("n_total"))
      val got = StatQueries.globalRank(df, Seq(col("v"), col("id")))
        .crossJoin(broadcast(nTot))
        .select(col("id"),
          StatQueries.ntileFromRank(col("rn"), col("n_total"), k)
            .cast("int").as("b"))
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      assert(got == expected, s"NTILE($k) mismatch at n=$n")
    }
  }

  test("groupedRank matches per-group window row_number under heavy group skew") {
    import spark.implicits._
    // one dominant group (the CCNet English case), several small ones,
    // tie values broken by id; n chosen so group sizes hit every
    // remainder class mod 3
    val rows = (1 to 400).map { i =>
      val g = if (i % 10 < 7) "big" else if (i % 10 < 9) s"mid${i % 2}" else "tiny"
      (g, (i * 17 % 83).toLong, i.toLong)
    }
    val df = rows.toDF("g", "v", "id")
    val expected = df.select(col("g"), col("id"),
        row_number().over(Window.partitionBy("g").orderBy(col("v"), col("id")))
          .as("rn"))
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getInt(2)).toMap
    val sizes = rows.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val got = StatQueries.groupedRank(df, Seq("g"),
        Seq(col("v"), col("id")), col("v"))
      .select("g", "id", "grn", "gn").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.length == rows.length)
    got.foreach { case (g, id, grn, gn) =>
      assert(grn == expected((g, id)).toLong, s"group $g id $id")
      assert(gn == sizes(g), s"group size for $g")
    }
  }

  test("globalRank is exact for a descending primary key with negated bucketKey") {
    import spark.implicits._
    val df = (1 to 57).map(i => ((i * 13 % 29).toLong, i.toLong)).toDF("v", "id")
    val expected = df.select(col("id"),
      row_number().over(Window.orderBy(desc("v"), asc("id"))).as("rn"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val got = StatQueries.globalRank(df, Seq(desc("v"), asc("id")),
        bucketKey = Some(-col("v")))
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("rn").toInt).toMap
    assert(got == expected)
  }
}

package graft

import org.apache.spark.sql.functions._
import graft.ops.LinkPredict

/** Contracts for the degree-blocked Adamic-Adar operator (VERDICT r11
  * task 3): the hot/cold wedge split must be EXACT — identical output
  * whether a center's wedges come from the plain per-key self-join
  * (cold) or the rank-cut blocked join (hot) — and a hub above the
  * block size must actually exercise the blocked branch.
  */
class LinkPredictSpec extends SparkSpec {
  import spark.implicits._

  /** Brute-force reference: all unlinked pairs with >= minCommon common
    * neighbors, scored Σ round(1e6/ln deg(w)), top-k per left vertex. */
  private def bruteForce(edges: Seq[(Long, Long)], minCommon: Int, topK: Int)
      : Set[(Long, Long, Long, Long, Int)] = {
    val adj = scala.collection.mutable.Map.empty[Long, Set[Long]]
      .withDefaultValue(Set.empty)
    edges.foreach { case (u, v) =>
      adj(u) = adj(u) + v; adj(v) = adj(v) + u
    }
    val linked = edges.toSet
    val verts = adj.keys.toSeq.sorted
    val cands = for {
      a <- verts; b <- verts if a < b && !linked((a, b))
      common = adj(a) intersect adj(b) if common.size >= minCommon
    } yield {
      val aa = common.toSeq.map(w =>
        math.round(1000000.0 / math.log(adj(w).size.toDouble))).sum
      (a, b, common.size.toLong, aa)
    }
    cands.groupBy(_._1).flatMap { case (_, cs) =>
      cs.sortBy(c => (-c._4, -c._3, c._2)).take(topK).zipWithIndex
        .map { case ((a, b, cn, aa), i) => (a, b, cn, aa, i + 1) }
    }.toSet
  }

  /** A graph with one HUB: vertex 0 linked to 1..40, plus a sparse ring
    * so some pairs are already linked. With blockSize=8 the hub (deg 40)
    * takes the blocked branch (5 blocks, 15 cells) while ring vertices
    * (deg <= 3) stay cold. */
  private val hubEdges: Seq[(Long, Long)] =
    (1L to 40L).map(i => (0L, i)) ++ (1L until 40L).map(i => (i, i + 1))

  test("blocked (hot) and plain (cold) wedge paths agree with brute force") {
    val e = hubEdges.toDF("u", "v")
    val expected = bruteForce(hubEdges, minCommon = 2, topK = 5)
    for (bs <- Seq(8, 16, 1024)) { // hub blocked 3 ways / partially / never
      val got = LinkPredict.adamicAdarTopK(e, "u", "v", 2, 5, blockSize = bs)
        .collect()
        .map(r => (r.getAs[Long]("a"), r.getAs[Long]("b"),
          r.getAs[Long]("cn"), r.getAs[Long]("aa_micro"), r.getAs[Int]("rk")))
        .toSet
      assert(got == expected, s"blockSize=$bs diverged from brute force")
    }
  }

  test("ids beyond 31 bits take the exact two-column path, same answers") {
    // the 64-bit key packing is gated on ids < 2^31 (a 20B-vertex graph
    // at 100 TB must not silently alias) — shift every vertex id past
    // the gate and assert the fallback path matches brute force AND the
    // packed path's answers on the unshifted graph
    val off = 1L << 33
    val shifted = hubEdges.map { case (u, v) => (u + off, v + off) }
    val expected = bruteForce(shifted, minCommon = 2, topK = 5)
    val got = LinkPredict.adamicAdarTopK(shifted.toDF("u", "v"), "u", "v", 2, 5)
      .collect()
      .map(r => (r.getAs[Long]("a"), r.getAs[Long]("b"),
        r.getAs[Long]("cn"), r.getAs[Long]("aa_micro"), r.getAs[Int]("rk")))
      .toSet
    assert(got == expected)
    // shift-invariance: identical structure modulo the id offset
    val packed = bruteForce(hubEdges, minCommon = 2, topK = 5)
      .map { case (a, b, cn, aa, rk) => (a + off, b + off, cn, aa, rk) }
    assert(got == packed)
  }

  test("string vertex ids take the fallback path with their own type intact") {
    // review r13: the schema-parity cast must not null non-numeric ids —
    // the fallback branch exists precisely for ids that cannot pack
    // zero-padded ids: lexicographic order == numeric order, so the
    // brute-force expectation maps over directly
    def nm(x: Long) = f"n$x%02d"
    val e = hubEdges.map { case (u, v) => (nm(u), nm(v)) }.toDF("u", "v")
    val out = LinkPredict.adamicAdarTopK(e, "u", "v", 2, 5).collect()
    assert(out.nonEmpty)
    assert(out.forall(r => r.getAs[String]("a") != null &&
      r.getAs[String]("b") != null))
    // same pair structure as the long-id graph, modulo the id mapping
    val expect = bruteForce(hubEdges, minCommon = 2, topK = 5)
      .map { case (a, b, cn, aa, rk) => (nm(a), nm(b), cn, aa, rk) }
    val got = out.map(r => (r.getAs[String]("a"), r.getAs[String]("b"),
      r.getAs[Long]("cn"), r.getAs[Long]("aa_micro"), r.getAs[Int]("rk"))).toSet
    assert(got == expect)
  }

  test("edge/adjacency memo HITS across invocations: second run adds no entries") {
    core.SessionMemo.clear(spark)
    val e = hubEdges.toDF("u", "v")
    LinkPredict.adamicAdarTopK(e, "u", "v", 2, 5).count()
    val afterFirst = core.SessionMemo.size(spark)
    assert(afterFirst > 0)
    spark.catalog.clearCache()
    LinkPredict.adamicAdarTopK(hubEdges.toDF("u", "v"), "u", "v", 2, 5).count()
    assert(core.SessionMemo.size(spark) == afterFirst,
      s"memo grew $afterFirst -> ${core.SessionMemo.size(spark)}: a fresh cached " +
        "frame leaks per invocation (the ADVICE r12 class)")
    core.SessionMemo.clear(spark)
  }

  test("hub wedge cells are bounded: no (v,i,j) cell exceeds blockSize^2") {
    // reproduce the blocked key layout and assert the skew bound the
    // operator exists for: with blockSize=8 and a degree-40 hub, every
    // join cell holds at most 8x8 wedge rows (vs 40*39/2=780 on one key)
    val e = hubEdges.toDF("u", "v")
    val sym = e.union(e.select(col("v").as("u"), col("u").as("v")))
    val bs = 8
    val rn1 = row_number().over(
      org.apache.spark.sql.expressions.Window.partitionBy("v").orderBy("u")) - 1
    val adj = sym.withColumn("_blk",
      ((rn1 - pmod(rn1, lit(bs))) / lit(bs)).cast("int"))
    val cellMax = adj.as("s1").join(adj.as("s2"),
        col("s1.v") === col("s2.v") && col("s1.u") < col("s2.u"))
      .groupBy(col("s1.v"), col("s1._blk"), col("s2._blk"))
      .agg(count(lit(1)).as("c"))
      .agg(max("c")).head().getLong(0)
    assert(cellMax <= bs.toLong * bs,
      s"a blocked cell held $cellMax wedges (> ${bs * bs})")
  }
}

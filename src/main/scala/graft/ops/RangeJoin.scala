package graft.ops

import org.apache.spark.sql.{Column, DataFrame, GraftShim}
import org.apache.spark.sql.catalyst.expressions.{IntegralDivide, Literal, Pmod, Subtract}
import org.apache.spark.sql.functions._

/** Range (point-in-interval) join — an operator Spark lacks natively
  * when there is no selective equi-key (bin decomposition per the public
  * IEJoin / range-join-hint literature; the reference repo has no
  * range-join surface — this is a scale extension).
  *
  * Why this exists: a join whose ONLY predicates are range comparisons
  * (`p.t BETWEEN i.start AND i.end`) gives Catalyst no equi-key, so the
  * physical plan is BroadcastNestedLoopJoin — O(points x intervals)
  * comparisons. At 100 TB that is the difference between a job and no
  * job. The fix is the standard bin-bucketing decomposition (as in
  * DuckDB's IEJoin literature and Databricks' range-join hints, both
  * public): pick a bin width W, explode each interval to the bins it
  * covers, map each point to its single bin, equi-join on
  * (keys..., bin), and re-check the exact predicate. Each qualifying
  * (point, interval) pair meets in EXACTLY one bin — the point's — so no
  * dedup pass is needed. Cost: one shuffle hash/sort-merge join on a
  * composite key with cardinality ~ time-span/W, plus interval fan-out
  * len/W + 1.
  *
  * Choosing W: near the TYPICAL interval length. W too small inflates
  * the interval fan-out (len/W copies); W too large inflates candidate
  * pairs sharing a bin (back toward nested-loop work). For mixed
  * interval lengths, pick W near the upper quantile and rely on the
  * exact re-check.
  *
  * Scale posture: the bin join shuffles on `_bin` (plus any equi-keys),
  * so hot bins (a burst window) are the skew axis — AQE skew-join
  * handles moderate cases; extreme cases can salt the bin key. Bin
  * cardinality grows with the time span, keeping partitions fine-grained
  * at any corpus size.
  */
object RangeJoin {

  /** Reserved temp column carrying the bin id through the equi-join. */
  private val BinCol = "_bin"

  /** `floorDiv(c, w)` in exact long arithmetic: `pmod` is non-negative,
    * so `c - pmod(c, w)` is the floor multiple and the integral divide is
    * exact. Spark's `floor(c / w)` would divide as doubles, collapsing
    * adjacent bins above 2^53 (one bucket per 512 values at 2^62 —
    * needless fan-out and candidate skew at extreme magnitudes).
    * Assumes |c| stays clear of Long.MaxValue - w, like any real
    * time/measure scale.
    */
  private def bin(c: Column, w: Long): Column = {
    val x = GraftShim.expression(c.cast("long"))
    GraftShim.column(IntegralDivide(Subtract(x, Pmod(x, Literal(w))), Literal(w)))
  }

  private def requireDisjointAndBinFree(a: DataFrame, b: DataFrame,
      aName: String, bName: String): Unit = {
    val overlap = a.columns.toSet.intersect(b.columns.toSet)
    require(overlap.isEmpty,
      s"$aName/$bName column names must be disjoint, both have: ${overlap.mkString(", ")}")
    val taken = (a.columns ++ b.columns).filter(_ == BinCol)
    require(taken.isEmpty,
      s"$BinCol is reserved by RangeJoin as a temp column; rename it on the input")
  }

  /** Join each point row to every interval row whose `[start, end)` (or
    * `[start, end]` when `endInclusive`) contains the point, matching
    * any equi-`keys` too. Point/start/end columns must be LongType on a
    * shared scale (e.g. `unix_micros`) — the caller converts timestamps,
    * which keeps binning arithmetic exact (no double rounding).
    *
    * Column names of `points` and `intervals` must be disjoint (same
    * contract as a plain join); output carries both sides' columns.
    *
    * @param keys equi-key pairs (pointsCol, intervalsCol) joined
    *             alongside the bin — co-partitions the bin join further
    *             and prunes cross-key candidates
    */
  def pointInInterval(
      points: DataFrame, intervals: DataFrame,
      pointCol: String, startCol: String, endCol: String,
      binWidth: Long,
      keys: Seq[(String, String)] = Nil,
      endInclusive: Boolean = false): DataFrame = {
    require(binWidth > 0, "binWidth must be positive")
    requireDisjointAndBinFree(points, intervals, "points", "intervals")

    val p = points.withColumn(BinCol, bin(col(pointCol), binWidth))
    // Last covered bin: for an exclusive end the interval's max point is
    // end-1. Empty intervals (end <= start exclusive, end < start
    // inclusive) are dropped up front — Spark's `sequence(a, b)` runs
    // DESCENDING when a > b, which would fabricate bins.
    val lastPoint = if (endInclusive) col(endCol) else col(endCol) - 1L
    val iv = intervals
      .filter(lastPoint >= col(startCol))
      .withColumn(BinCol,
        explode(sequence(bin(col(startCol), binWidth), bin(lastPoint, binWidth))))

    val exact =
      if (endInclusive) col(pointCol) >= col(startCol) && col(pointCol) <= col(endCol)
      else col(pointCol) >= col(startCol) && col(pointCol) < col(endCol)
    val keyConds = keys.map { case (pk, ik) => p(pk) === iv(ik) }
    val cond = (Seq(p(BinCol) === iv(BinCol), exact) ++ keyConds).reduce(_ && _)

    p.join(iv, cond).drop(BinCol)
  }

  /** Join every left interval to every right interval it overlaps
    * (`lStart < rEnd && rStart < lEnd`, or `<=` when `endInclusive`),
    * plus any equi-`keys`. Same bin decomposition as
    * [[pointInInterval]], but BOTH sides explode to their covered bins,
    * so an overlapping pair can share many bins — exactly-once output
    * comes from keeping only the FIRST shared bin, which is always the
    * bin of the later-starting interval (`_bin === greatest(bin(lStart),
    * bin(rStart))`), a filter instead of a dedup shuffle.
    *
    * Bound columns must be LongType on a shared scale (caller converts
    * timestamps via `unix_micros`); column names must be disjoint.
    */
  def intervalOverlap(
      left: DataFrame, right: DataFrame,
      lStartCol: String, lEndCol: String,
      rStartCol: String, rEndCol: String,
      binWidth: Long,
      keys: Seq[(String, String)] = Nil,
      endInclusive: Boolean = false): DataFrame = {
    require(binWidth > 0, "binWidth must be positive")
    requireDisjointAndBinFree(left, right, "left", "right")

    def explodeBins(df: DataFrame, sCol: String, eCol: String): DataFrame = {
      val lastPoint = if (endInclusive) col(eCol) else col(eCol) - 1L
      df.filter(lastPoint >= col(sCol))
        .withColumn(BinCol,
          explode(sequence(bin(col(sCol), binWidth), bin(lastPoint, binWidth))))
    }

    val l = explodeBins(left, lStartCol, lEndCol)
    val r = explodeBins(right, rStartCol, rEndCol)

    val overlapPred =
      if (endInclusive) col(lStartCol) <= col(rEndCol) && col(rStartCol) <= col(lEndCol)
      else col(lStartCol) < col(rEndCol) && col(rStartCol) < col(lEndCol)
    val firstSharedBin =
      l(BinCol) === greatest(bin(col(lStartCol), binWidth), bin(col(rStartCol), binWidth))
    val keyConds = keys.map { case (lk, rk) => l(lk) === r(rk) }
    val cond = (Seq(l(BinCol) === r(BinCol), overlapPred, firstSharedBin) ++ keyConds)
      .reduce(_ && _)

    l.join(r, cond).drop(BinCol)
  }
}

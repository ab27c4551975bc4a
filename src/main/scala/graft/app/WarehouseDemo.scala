package graft.app

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Runnable warehouse-lifecycle demo over the versioned-table stack:
  * publish two snapshot versions (the second a deliberately "bad" load
  * with nulled and shifted prices), then drive every lifecycle surface
  * against them with hard exit gates —
  *
  *   1. stats-drift monitor must CATCH the bad load (null-rate jump);
  *   2. the CDC envelope applied to v0 must reconstruct v1 exactly;
  *   3. the incrementally-maintained aggregate view must equal a direct
  *      recompute of v1 bit-for-bit;
  *   4. a z-order rewrite must at least halve the files a band predicate
  *      touches vs the arrival-order layout;
  *   5. per-batch HLL sketches must estimate distinct keys within 5%.
  *
  * Exits 2 on any gate failure.
  *
  *   tools/run.sh graft.app.WarehouseDemo [sfDir]
  */
object WarehouseDemo {

  /** Notification seam for the gate chain (same reference EmailOperator
    * semantics as [[DailyPipeline.Notifier]], dags/churn_prediction_
    * pipeline.py:277-294): `onSuccess` fires once after ALL gates pass;
    * `onFailure` fires once with the FIRST failing gate's name and
    * message — the chain aborts there, so no later gate can add a
    * second notification.
    */
  final case class GateNotifier(
      onSuccess: String => Unit = _ => (),
      onFailure: (String, String) => Unit = (_, _) => ())

  private final case class GateFailed(gate: String, msg: String)
    extends RuntimeException(s"$gate: $msg")

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val work = java.nio.file.Files.createTempDirectory("graft_wh_demo").toString
    val spark = graft.core.GraftSession.local()
    val ok = run(spark, sfDir, work, GateNotifier(
      onSuccess = s => println(s),
      onFailure = (g, m) => println(s"GATE FAILED [$g]: $m")))
    spark.stop()
    if (!ok) sys.exit(2)
  }

  /** The gate chain; returns true when every gate passes. Exactly one
    * notify callback fires per run.
    */
  def run(spark: SparkSession, sfDir: String, work: String,
      notify: GateNotifier = GateNotifier()): Boolean = {
    var gate = "publish"
    try {
      runGates(spark, sfDir, work, g => gate = g)
      notify.onSuccess("warehouse lifecycle demo: ALL GATES PASSED")
      true
    } catch {
      case GateFailed(g, m) => notify.onFailure(g, m); false
      // an unexpected error (bad input path, corrupt table) is still a
      // failed run — one_failed semantics cover it, attributed to the
      // gate that was executing
      case scala.util.control.NonFatal(e) =>
        notify.onFailure(gate, String.valueOf(e.getMessage)); false
    }
  }

  private def runGates(spark: SparkSession, sfDir: String, work: String,
      enter: String => Unit): Unit = {
    import graft.warehouse.{IncrementalAgg, StatsDrift, VersionedTable, ZOrder}

    var gate = "publish"
    def fail(msg: String): Nothing = throw GateFailed(gate, msg)
    def setGate(g: String): Unit = { gate = g; enter(g) }

    val orders = graft.core.Tables.orders(spark, sfDir)
      .select("o_orderkey", "o_orderstatus", "o_custkey", "o_totalprice")
    val tbl = s"$work/orders_tbl"
    VersionedTable.commit(orders.filter(col("o_orderkey") % 7 =!= 0), tbl)
    // the "bad" second load: different slice, %3 prices doubled, %11 nulled
    val v1df = orders.filter(col("o_orderkey") % 5 =!= 0)
      .withColumn("o_totalprice",
        when(col("o_orderkey") % 11 === 0, lit(null))
          .when(col("o_orderkey") % 3 === 0, col("o_totalprice") * 2)
          .otherwise(col("o_totalprice")))
    VersionedTable.commit(v1df, tbl)
    println(s"published versions: ${VersionedTable.versions(spark, tbl).mkString(",")}")

    setGate("drift")
    // 1. drift gate: the monitor must surface the injected null rate
    val drift = StatsDrift.statsDrift(spark, tbl, 0L, 1L,
      Seq("o_custkey", "o_totalprice")).collect()
      .map(r => r.getString(0) -> r).toMap
    val tpNullNew = drift("o_totalprice").getDouble(4)
    val tpMeanShift =
      drift("o_totalprice").getDouble(6) / drift("o_totalprice").getDouble(5)
    println(f"stats drift: o_totalprice null_frac 0 -> $tpNullNew%.4f, " +
      f"mean x$tpMeanShift%.3f; o_custkey null_frac ${drift("o_custkey").getDouble(4)}%.4f")
    if (tpNullNew < 0.05 || tpMeanShift < 1.1)
      fail("drift monitor missed the injected bad load")
    if (drift("o_custkey").getDouble(4) != 0.0)
      fail("drift monitor hallucinated nulls on the untouched column")

    setGate("cdc")
    // 2. CDC gate: v0 + envelope == v1, row for row
    val cdc = VersionedTable.diffValues(spark, tbl, 0L, 1L, Seq("o_orderkey"))
    val byType = cdc.groupBy("change_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    println(s"cdc envelope: $byType")
    val v0 = VersionedTable.read(spark, tbl, Some(0L))
    val v1 = VersionedTable.read(spark, tbl, Some(1L))
    val touched = cdc.select(col("o_orderkey"))
    val rebuilt = v0.join(touched, Seq("o_orderkey"), "left_anti")
      .unionByName(cdc.filter(col("_new").isNotNull)
        .select(col("o_orderkey"), col("_new.o_orderstatus"),
          col("_new.o_custkey"), col("_new.o_totalprice")))
    if (rebuilt.except(v1).count() != 0 || v1.except(rebuilt).count() != 0)
      fail("applying the CDC envelope to v0 did not reconstruct v1")
    println(s"cdc replay: v0 + envelope == v1 (${v1.count()} rows)")

    setGate("incremental-view")
    // 3. incremental view gate: maintained == direct recompute
    val view0 = IncrementalAgg.countSumView(v0, "o_orderstatus", "o_totalprice")
    val maintained = IncrementalAgg.present(
      IncrementalAgg.applyCdc(view0, cdc, "o_orderstatus", "o_totalprice"),
      "o_orderstatus").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    val direct = IncrementalAgg.present(
      IncrementalAgg.countSumView(v1, "o_orderstatus", "o_totalprice"),
      "o_orderstatus").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    if (maintained != direct) fail(s"maintained=$maintained direct=$direct")
    println(s"incremental view: ${maintained.size} groups, maintained == direct recompute")

    setGate("zorder")
    // 4. z-order gate: band predicate on custkey touches <= half the files
    val plainDir = s"$work/plain"; val zDir = s"$work/zorder"
    val zin = v1.na.drop(Seq("o_totalprice"))
    zin.orderBy(xxhash64(col("o_orderkey"))).repartition(16).write.parquet(plainDir)
    ZOrder.writeZOrdered(zin, zDir, Seq("o_custkey", "o_totalprice"),
      bits = 7, targetFiles = 16)
    val hi = zin.agg(max("o_custkey")).head.getLong(0)
    val band = hi / 8 // lowest eighth of the custkey range
    def touchedFiles(dir: String): Int =
      ZOrder.fileSpans(spark, dir, Seq("o_custkey")).collect()
        .count(r => r.getLong(1) <= band)
    val (pT, zT) = (touchedFiles(plainDir), touchedFiles(zDir))
    println(s"z-order skipping: band custkey<=$band touches $zT/$pT files (z/plain)")
    if (zT * 2 > pT) fail(s"z-order layout failed to halve touched files: $zT vs $pT")

    setGate("hll-sketch")
    // 5. sketch gate: per-batch HLL distinct within 5% of exact
    import graft.ops.SketchStats
    val skDir = s"$work/sk"
    (0 until 3).foreach { k =>
      SketchStats.appendHllBatch(
        v1.filter(pmod(col("o_orderkey"), lit(3)) === k), "o_custkey", skDir, s"b$k")
    }
    val est = SketchStats.hllDistinct(spark, skDir).head.getLong(0)
    val exact = v1.select("o_custkey").distinct().count()
    println(s"hll sketches: estimate=$est exact=$exact over 3 batches")
    if (math.abs(est - exact).toDouble / exact >= 0.05)
      fail(s"sketch estimate drifted: $est vs $exact")

    setGate("purge")
    // 6. purge gate: a deletion request erases the key from EVERY
    // version (time travel cannot resurrect it) while the committed
    // pointer and all other rows survive
    val victim = v1.select("o_custkey").head.getLong(0)
    val curBefore = VersionedTable.currentVersion(spark, tbl)
    val othersBefore = VersionedTable.read(spark, tbl)
      .filter(col("o_custkey") =!= victim).count()
    VersionedTable.purge(spark, tbl, col("o_custkey") === victim)
    val resurrectable = VersionedTable.versions(spark, tbl).map { v =>
      VersionedTable.read(spark, tbl, asOf = Some(v))
        .filter(col("o_custkey") === victim).count()
    }.sum
    println(s"purge: custkey=$victim rows across all versions after purge: $resurrectable")
    if (resurrectable != 0L) fail(s"purged key resurrectable: $resurrectable rows")
    if (VersionedTable.currentVersion(spark, tbl) != curBefore)
      fail("purge moved the committed pointer")
    if (VersionedTable.read(spark, tbl)
        .filter(col("o_custkey") =!= victim).count() != othersBefore)
      fail("purge disturbed unrelated rows")
  }
}

package graft

import graft.app.{DailyPipeline, WarehouseDemo}

/** Notification-seam contracts (reference EmailOperator semantics,
  * dags/churn_prediction_pipeline.py:277-294): exactly one on-success
  * callback after a clean run, exactly one on-first-failure callback
  * when a stage/gate breaks — recorded through an in-memory sink.
  */
class NotifySpec extends SparkSpec {

  test("daily pipeline: success sink fires once with the final report") {
    val work = java.nio.file.Files.createTempDirectory("graft_notify").toString
    val csvDir = s"$work/raw_csv"
    graft.core.ChurnFixture.df(spark, 300)
      .write.mode("overwrite").option("header", "true").csv(csvDir)
    val successes = scala.collection.mutable.ArrayBuffer.empty[DailyPipeline.RunReport]
    val failures = scala.collection.mutable.ArrayBuffer.empty[(String, Throwable)]
    val cachedBefore = spark.sparkContext.getPersistentRDDs.keySet
    val report = DailyPipeline.run(spark, csvDir,
      notify = DailyPipeline.Notifier(
        onSuccess = r => { successes += r; () },
        onFailure = (s, e) => { failures += ((s, e)); () }))
    assert(successes.toSeq == Seq(report), "onSuccess must fire once, with the report")
    assert(failures.isEmpty)
    assert(report.rowsOut == 300)
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- cachedBefore
    assert(leaked.isEmpty, s"run left cached frames behind: RDDs $leaked")
  }

  test("daily pipeline: first failing stage fires the failure sink once; error propagates") {
    val successes = scala.collection.mutable.ArrayBuffer.empty[DailyPipeline.RunReport]
    val failures = scala.collection.mutable.ArrayBuffer.empty[(String, Throwable)]
    val thrown = intercept[Exception] {
      DailyPipeline.run(spark, "/nonexistent/graft_missing_input",
        notify = DailyPipeline.Notifier(
          onSuccess = r => { successes += r; () },
          onFailure = (s, e) => { failures += ((s, e)); () }))
    }
    assert(successes.isEmpty, "no success notification on a failed run")
    assert(failures.length == 1, s"exactly one failure callback, got $failures")
    assert(failures.head._1 == "ingest", s"first failing stage, got ${failures.head._1}")
    assert(failures.head._2 eq thrown, "the sink sees the propagated error")
  }

  test("warehouse gates: success sink fires once after ALL gates pass") {
    val work = java.nio.file.Files.createTempDirectory("graft_whn").toString
    val successes = scala.collection.mutable.ArrayBuffer.empty[String]
    val failures = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    val ok = WarehouseDemo.run(spark, "/root/testdata/sf0.001", work,
      WarehouseDemo.GateNotifier(
        onSuccess = s => { successes += s; () },
        onFailure = (g, m) => { failures += ((g, m)); () }))
    assert(ok && failures.isEmpty)
    assert(successes.length == 1 && successes.head.contains("ALL GATES PASSED"))
  }

  test("warehouse gates: a broken input fires the failure sink once, attributed") {
    val work = java.nio.file.Files.createTempDirectory("graft_whf").toString
    val successes = scala.collection.mutable.ArrayBuffer.empty[String]
    val failures = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    val ok = WarehouseDemo.run(spark, "/nonexistent/graft_missing_sf", work,
      WarehouseDemo.GateNotifier(
        onSuccess = s => { successes += s; () },
        onFailure = (g, m) => { failures += ((g, m)); () }))
    assert(!ok && successes.isEmpty)
    assert(failures.length == 1, s"exactly one failure callback, got $failures")
    assert(failures.head._1 == "publish", s"attributed to the running gate: $failures")
  }
}

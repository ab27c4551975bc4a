package graft.app

import graft.core.ChurnFixture

/** Runnable end-to-end demo of the churn pipeline: generates a churn-shaped
  * CSV (dirty variant: nulls, duplicates, invalid rows stripped of the
  * hard-gate blockers), runs ingest → validate → quality → clean → features
  * → normalize → Silver, prints the run report.
  *
  *   tools/run.sh graft.app.PipelineDemo [nRows] [workDir]
  */
object PipelineDemo {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toInt).getOrElse(5000)
    val work = args.lift(1).getOrElse("/tmp/graft_pipeline_demo")
    val spark = graft.core.GraftSession.local()

    val csvDir = s"$work/raw_csv"
    ChurnFixture.df(spark, n).write.mode("overwrite").option("header", "true").csv(csvDir)

    val t0 = System.nanoTime()
    val report = DailyPipeline.run(spark, csvDir,
      bronzePath = Some(s"$work/bronze"), silverPath = Some(s"$work/silver"))
    val etlSecs = (System.nanoTime() - t0) / 1e9

    // optional feature-stage cache demo (GRAFT_CACHE_BASE=dir): re-running
    // with identical input should hit the parquet stage cache
    sys.env.get("GRAFT_CACHE_BASE").foreach { base =>
      val tC = System.nanoTime()
      val cached = DailyPipeline.transformCached(spark,
        spark.read.parquet(s"$work/bronze"), base)
      val nC = cached.count()
      println(f"cached transform:  $nC rows in ${(System.nanoTime() - tC) / 1e9}%.1f s " +
        s"(hits=${graft.core.StageCache.stats.hits} misses=${graft.core.StageCache.stats.misses})")
    }

    // ML stage (M1-M10): train on Silver, enforce the deploy gate, score,
    // land the scored gold partition, resolve it back (S8)
    val t1 = System.nanoTime()
    val silver = spark.read.parquet(s"$work/silver")
    val result = graft.ml.ChurnModel.train(silver, graft.ml.ChurnModel.Config(maxIter = 20))
    val gate = result.test.passesGate
    val scored = graft.ml.ChurnModel.score(result.model, silver)
      .select("user_id", "churn_probability", "confidence", "churn_prediction")
    graft.warehouse.Sinks.writeGold(scored, s"$work/gold/model_predictions", "20260812")
    val latest = graft.warehouse.Sinks.readLatestGold(spark, s"$work/gold/model_predictions")
    val mlSecs = (System.nanoTime() - t1) / 1e9
    val topFeatures = graft.ml.ChurnModel.featureImportances(result, 5)
      .map { case (c, v) => f"$c=$v%.3f" }.mkString(", ")

    println(f"""
      |== graft pipeline demo ==
      |input rows:        $n
      |validation:        ${report.validation.valid}/${report.validation.total} valid
      |quality score:     ${report.quality.overallScore}%.4f (pass=${report.quality.passed})
      |  completeness=${report.quality.completenessScore}%.3f uniqueness=${report.quality.uniquenessScore}%.3f
      |  validity=${report.quality.validityScore}%.3f consistency=${report.quality.consistencyScore}%.3f
      |silver shape:      ${report.rowsOut} rows x ${report.colsOut} cols
      |etl wall time:     $etlSecs%.1f s
      |-- ml --
      |test metrics:      acc=${result.test.accuracy}%.3f auc=${result.test.rocAuc}%.3f f1=${result.test.f1}%.3f
      |deploy gate:       ${if (gate) "PASS" else "FAIL"} (acc>=0.75 && auc>=0.80)
      |top features:      $topFeatures
      |scored gold rows:  ${latest.count()} (latest dt partition)
      |ml wall time:      $mlSecs%.1f s
      |""".stripMargin)
    if (!gate) sys.exit(2)
    spark.stop()
  }
}

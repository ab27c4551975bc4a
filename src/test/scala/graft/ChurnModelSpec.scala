package graft

import graft.core.ChurnFixture
import graft.ml.ChurnModel

class ChurnModelSpec extends SparkSpec {

  lazy val result = ChurnModel.train(
    ChurnFixture.df(spark, 4000),
    ChurnModel.Config(maxIter = 20))

  test("trained model passes the reference deploy gate on test split") {
    assert(result.test.passesGate,
      s"accuracy=${result.test.accuracy} auc=${result.test.rocAuc}")
    assert(result.validation.passesGate)
  }

  test("feature importances rank the injected signal columns highly") {
    val top = ChurnModel.featureImportances(result, 8).map(_._1)
    // churn was generated from staleness/activity/refunds
    assert(top.exists(Set("days_since_last_order", "sessions_30d",
      "orders_30d", "refund_rate_2024")))
  }

  test("scoring emits probability, confidence and int prediction") {
    val scored = ChurnModel.score(result.model, ChurnFixture.df(spark, 100))
    val row = scored.select("churn_probability", "confidence", "churn_prediction")
      .collect()(0)
    assert(row.getDouble(0) >= 0 && row.getDouble(0) <= 1)
    assert(row.getDouble(1) >= 0.5 && row.getDouble(1) <= 1)
    assert(Set(0, 1).contains(row.getInt(2)))
  }

  test("evaluate's one-pass metrics equal each evaluator's own evaluate") {
    import org.apache.spark.ml.evaluation.{BinaryClassificationEvaluator, MulticlassClassificationEvaluator}
    val scored = result.model.transform(ChurnFixture.df(spark, 1000, seed = 7L)
      .withColumn("churn_label", org.apache.spark.sql.functions.col("churn_label").cast("double")))
    val got = ChurnModel.evaluate(scored)
    def mc(metric: String) = new MulticlassClassificationEvaluator()
      .setLabelCol("churn_label").setPredictionCol("prediction")
      .setMetricName(metric).evaluate(scored)
    val auc = new BinaryClassificationEvaluator()
      .setLabelCol("churn_label").setRawPredictionCol("rawPrediction")
      .setMetricName("areaUnderROC").evaluate(scored)
    val want = Seq(mc("accuracy"), mc("weightedPrecision"), mc("weightedRecall"), mc("f1"), auc)
    val have = Seq(got.accuracy, got.precision, got.recall, got.f1, got.rocAuc)
    have.zip(want).foreach { case (h, w) => assert(math.abs(h - w) <= 1e-12, s"$have vs $want") }
  }

  test("save/load round-trips the pipeline bundle") {
    val dir = java.nio.file.Files.createTempDirectory("graft_model").toString
    ChurnModel.save(result, dir)
    val loaded = ChurnModel.load(dir)
    val a = ChurnModel.score(result.model, ChurnFixture.df(spark, 50))
      .select("churn_probability").collect().map(_.getDouble(0))
    val b = ChurnModel.score(loaded, ChurnFixture.df(spark, 50))
      .select("churn_probability").collect().map(_.getDouble(0))
    assert(a.toSeq == b.toSeq)
  }

  test("stratified split keeps class proportions within 3pp") {
    val df = ChurnFixture.df(spark, 4000)
    val overall = df.filter(org.apache.spark.sql.functions.col("churn_label") === 1)
      .count().toDouble / 4000
    val splits = ChurnModel.stratifiedSplit(df, "churn_label", 42L)
    splits.foreach { s =>
      val n = s.count().toDouble
      val rate = s.filter(org.apache.spark.sql.functions.col("churn_label") === 1)
        .count() / n
      assert(math.abs(rate - overall) < 0.03, s"rate=$rate overall=$overall")
    }
  }
}

class CrossValidationSpec extends SparkSpec {
  test("stratified folds: every fold holds the class mix, deviation <= shards") {
    import org.apache.spark.sql.functions.col
    val df = ChurnFixture.df(spark, 4000)
    val folded = graft.ml.ChurnModel.withStratifiedFolds(
      df, "churn_label", numFolds = 5, seed = 42L, shards = 4)
    val counts = folded.groupBy("fold", "churn_label").count().collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(counts.keys.map(_._1).toSet == Set(0, 1, 2, 3, 4))
    for (label <- Seq(0, 1)) {
      val perFold = (0 until 5).map(f => counts.getOrElse((f, label), 0L))
      assert(perFold.max - perFold.min <= 4,
        s"label=$label per-fold counts $perFold deviate beyond the shard bound")
    }
    // fold is driven by the seed: same seed, same assignment
    val again = graft.ml.ChurnModel.withStratifiedFolds(
      df, "churn_label", numFolds = 5, seed = 42L, shards = 4)
    assert(folded.groupBy("fold").count().collect().map(r => r.getInt(0) -> r.getLong(1)).toMap ==
      again.groupBy("fold").count().collect().map(r => r.getInt(0) -> r.getLong(1)).toMap)
  }

  test("5-fold CV returns a metric per grid point, best model usable") {
    val (best, metrics) = graft.ml.ChurnModel.crossValidate(
      graft.core.ChurnFixture.df(spark, 1500),
      graft.ml.ChurnModel.Config(maxIter = 5),
      numFolds = 3, maxDepthGrid = Seq(3, 5))
    assert(metrics.length == 2)
    assert(metrics.forall(m => m > 0.5 && m <= 1.0), metrics.toString)
    val scored = best.asInstanceOf[org.apache.spark.ml.PipelineModel]
      .transform(graft.core.ChurnFixture.df(spark, 100)
        .withColumn("churn_label",
          org.apache.spark.sql.functions.col("churn_label").cast("double")))
    assert(scored.count() == 100)
  }

  test("random search: 10 seeded trials, best passes the M10 gate, deterministic") {
    // reduced ranges so 10 trials x 3 folds stay test-sized; the space
    // SHAPE is the reference's (API defaults carry the real ranges)
    val smallSpace = ChurnModel.SearchSpace(
      maxIterRange = (5, 15), maxDepthRange = (3, 6),
      stepSizeRange = (0.05, 0.3), subsampleRange = (0.6, 1.0),
      colsampleRange = (0.6, 1.0), minInstancesRange = (1, 10))
    val data = graft.core.ChurnFixture.df(spark, 1500)
    val (best, trials) = ChurnModel.randomSearch(
      data, ChurnModel.Config(), nTrials = 10, numFolds = 3, space = smallSpace)
    assert(trials.length == 10)
    // trials genuinely explore the space
    assert(trials.map(_.maxIter).distinct.length > 1)
    assert(trials.forall(t => t.maxIter >= 5 && t.maxIter <= 15 &&
      t.maxDepth >= 3 && t.maxDepth <= 6 &&
      t.stepSize >= 0.05 && t.stepSize <= 0.3 &&
      t.minInstancesPerNode >= 1 && t.minInstancesPerNode <= 10))
    // the best trial's model clears the reference deploy gate (M10)
    val scored = best.asInstanceOf[org.apache.spark.ml.PipelineModel]
      .transform(data.withColumn("churn_label",
        org.apache.spark.sql.functions.col("churn_label").cast("double")))
    val m = ChurnModel.evaluate(scored)
    assert(m.passesGate, s"accuracy=${m.accuracy} auc=${m.rocAuc}")
    assert(trials.map(_.meanAuc).max > 0.5)
    // deterministic under the seed: same config -> identical trial list
    val (_, trials2) = ChurnModel.randomSearch(
      data, ChurnModel.Config(), nTrials = 10, numFolds = 3, space = smallSpace)
    assert(trials == trials2, "seeded search must reproduce exactly")
  }
}

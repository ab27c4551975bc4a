package graft.ml

import org.apache.spark.ml.{Pipeline, PipelineModel}
import org.apache.spark.ml.classification.{GBTClassifier, RandomForestClassifier}
import org.apache.spark.ml.evaluation.{BinaryClassificationEvaluator, MulticlassClassificationEvaluator}
import org.apache.spark.ml.feature.VectorAssembler
import org.apache.spark.ml.functions.vector_to_array
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.NumericType
import scala.collection.immutable.ListMap

/** ML stage (SURVEY §2.10 M1-M10) as a spark.ml Pipeline.
  *
  * The reference trains XGBoost on the processed frame
  * (reference: src/ml/model_trainer.py:58-428); the Spark mapping is
  * GBTClassifier (or RandomForest) with metric-gate equivalence — the
  * deploy gate (accuracy >= 0.75 AND AUC >= 0.80,
  * dags/churn_prediction_pipeline.py:179-186) replaces bit-parity.
  *
  * Feature assembly mirrors the reference: every numeric column minus
  * metadata (`_` prefix), ids, and the target (model_trainer.py:75-91).
  * The VectorAssembler + classifier live in ONE PipelineModel so the
  * fitted bundle carries its own feature list (M8's model+scaler+columns
  * bundle, natively).
  */
object ChurnModel {

  final case class Config(
      algorithm: String = "gbt",
      maxIter: Int = 40,
      maxDepth: Int = 6,
      stepSize: Double = 0.1,
      subsamplingRate: Double = 0.8,
      seed: Long = 42L,
      labelCol: String = "churn_label")

  final case class Metrics(
      accuracy: Double, precision: Double, recall: Double, f1: Double,
      rocAuc: Double) {
    /** M10 deploy gate. */
    def passesGate: Boolean = accuracy >= 0.75 && rocAuc >= 0.80
  }

  final case class TrainResult(
      model: PipelineModel,
      featureCols: Seq[String],
      validation: Metrics,
      test: Metrics)

  /** M1: numeric feature columns minus metadata/id/target. */
  def featureColumns(df: DataFrame, labelCol: String = "churn_label"): Seq[String] =
    df.schema.fields
      .filter(_.dataType.isInstanceOf[NumericType])
      .map(_.name)
      .filterNot(n => n.startsWith("_") || n == labelCol || n == "user_id").toSeq

  /** M2: stratified 60/20/20 split — per-stratum randomSplit keeps class
    * balance in every split at any scale (one pass, no collect).
    */
  def stratifiedSplit(
      df: DataFrame, labelCol: String, seed: Long,
      weights: Array[Double] = Array(0.6, 0.2, 0.2)): Seq[DataFrame] = {
    val byClass = Seq(0, 1).map(v => df.filter(col(labelCol) === v).randomSplit(weights, seed))
    weights.indices.map(i => byClass.map(_(i)).reduce(_ unionAll _))
  }

  def buildPipeline(features: Seq[String], cfg: Config): Pipeline = {
    val assembler = new VectorAssembler()
      .setInputCols(features.toArray).setOutputCol("features")
      .setHandleInvalid("keep")
    val clf = cfg.algorithm match {
      case "rf" => new RandomForestClassifier()
        .setLabelCol(cfg.labelCol).setFeaturesCol("features")
        .setNumTrees(cfg.maxIter).setMaxDepth(cfg.maxDepth)
        .setSubsamplingRate(cfg.subsamplingRate).setSeed(cfg.seed)
      case _ => new GBTClassifier()
        .setLabelCol(cfg.labelCol).setFeaturesCol("features")
        .setMaxIter(cfg.maxIter).setMaxDepth(cfg.maxDepth)
        .setStepSize(cfg.stepSize).setSubsamplingRate(cfg.subsamplingRate)
        .setSeed(cfg.seed)
    }
    new Pipeline().setStages(Array(assembler, clf))
  }

  /** M4: accuracy / weighted P-R-F1 / ROC-AUC on a scored frame. The four
    * multiclass metrics come from ONE confusion pass
    * (`MulticlassClassificationEvaluator.getMetrics`, the same
    * `MulticlassMetrics` each evaluator call builds), then one AUC pass.
    */
  def evaluate(scored: DataFrame, labelCol: String = "churn_label"): Metrics = {
    // two metric passes read the same scored frame — materialize once
    val cached = scored.select(labelCol, "prediction", "rawPrediction").persist()
    try {
      val mc = new MulticlassClassificationEvaluator()
        .setLabelCol(labelCol).setPredictionCol("prediction").getMetrics(cached)
      val auc = new BinaryClassificationEvaluator()
        .setLabelCol(labelCol).setRawPredictionCol("rawPrediction")
        .setMetricName("areaUnderROC").evaluate(cached)
      Metrics(mc.accuracy, mc.weightedPrecision, mc.weightedRecall,
        mc.weightedFMeasure, auc)
    } finally { cached.unpersist(); () }
  }

  /** M1-M4 end to end: assemble, stratified split, fit on train, evaluate
    * on validation and test.
    */
  def train(df: DataFrame, cfg: Config = Config()): TrainResult = {
    val features = featureColumns(df, cfg.labelCol)
    val prepared = df
      .withColumn(cfg.labelCol, col(cfg.labelCol).cast("double"))
      .na.fill(features.map(_ -> 0.0).toMap) // median-impute upstream; 0 safety net
      .persist() // split + iterative fit + two evals all re-read this frame
    try {
      val Seq(train, valid, test) = stratifiedSplit(prepared, cfg.labelCol, cfg.seed)
      val model = buildPipeline(features, cfg).fit(train)
      TrainResult(model, features,
        evaluate(model.transform(valid), cfg.labelCol),
        evaluate(model.transform(test), cfg.labelCol))
    } finally { prepared.unpersist(); () }
  }

  /** M5: stratified fold assignment (StratifiedKFold parity,
    * model_trainer.py:376-392): every fold carries the same class mix as
    * the input, up to a bounded remainder. Two-level design so it scales:
    * rows are first sharded within each class (`shards` buckets from the
    * same seeded uniform), then folds go round-robin within each
    * (class, shard) group — per-class per-fold counts deviate by at most
    * `shards` rows, and the window runs #classes × shards tasks instead
    * of one giant sorted partition per class.
    */
  def withStratifiedFolds(
      df: DataFrame, labelCol: String, numFolds: Int, seed: Long,
      shards: Int = 32, foldCol: String = "fold"): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(labelCol), col("_shard")).orderBy(col("_r"))
    df.withColumn("_r", rand(seed))
      .withColumn("_shard", (col("_r") * shards).cast("int"))
      .withColumn(foldCol, pmod(row_number().over(w), lit(numFolds)))
      .drop("_r", "_shard")
  }

  /** M5/M6: k-fold cross-validation over a small hyperparameter grid
    * (reference: 5-fold StratifiedKFold + Optuna TPE search,
    * model_trainer.py:376-498; Spark maps to CrossValidator +
    * ParamGridBuilder — grid/random search, TPE out of scope, documented).
    * Folds are stratified per class via [[withStratifiedFolds]] + the
    * CrossValidator `foldCol` (set `stratified = false` for plain random
    * folds). Returns (bestModel, mean AUC per grid point).
    */
  def crossValidate(
      df: DataFrame, cfg: Config = Config(), numFolds: Int = 5,
      maxDepthGrid: Seq[Int] = Seq(4, 6),
      stratified: Boolean = true): (org.apache.spark.ml.Model[_], Seq[Double]) = {
    val features = featureColumns(df, cfg.labelCol)
    val base = df.withColumn(cfg.labelCol, col(cfg.labelCol).cast("double"))
      .na.fill(features.map(_ -> 0.0).toMap)
    val prepared =
      if (stratified) withStratifiedFolds(base, cfg.labelCol, numFolds, cfg.seed)
      else base
    val pipeline = buildPipeline(features, cfg)
    val clf = pipeline.getStages.last.asInstanceOf[GBTClassifier]
    val grid = new org.apache.spark.ml.tuning.ParamGridBuilder()
      .addGrid(clf.maxDepth, maxDepthGrid)
      .build()
    val cv = new org.apache.spark.ml.tuning.CrossValidator()
      .setEstimator(pipeline)
      .setEvaluator(new BinaryClassificationEvaluator()
        .setLabelCol(cfg.labelCol).setRawPredictionCol("rawPrediction")
        .setMetricName("areaUnderROC"))
      .setEstimatorParamMaps(grid)
      .setNumFolds(numFolds)
      .setSeed(cfg.seed)
      .setParallelism(2)
    if (stratified) cv.setFoldCol("fold")
    val model = cv.fit(prepared)
    (model.bestModel, model.avgMetrics.toSeq)
  }

  /** One uniform ranges bundle for [[randomSearch]] — defaults mirror the
    * reference's Optuna space (model_trainer.py:455-475): n_estimators
    * 100-1000 -> maxIter, max_depth 3-10, learning_rate 0.01-0.3 ->
    * stepSize, subsample 0.6-1.0 -> subsamplingRate, colsample_bytree
    * 0.6-1.0 -> featureSubsetStrategy fraction. reg_alpha/reg_lambda
    * have no spark.ml GBT analogue (no per-leaf L1/L2 penalty) —
    * documented substitution: minInstancesPerNode 1-20 plays the
    * leaf-complexity-regularizer role.
    */
  final case class SearchSpace(
      maxIterRange: (Int, Int) = (100, 1000),
      maxDepthRange: (Int, Int) = (3, 10),
      stepSizeRange: (Double, Double) = (0.01, 0.3),
      subsampleRange: (Double, Double) = (0.6, 1.0),
      colsampleRange: (Double, Double) = (0.6, 1.0),
      minInstancesRange: (Int, Int) = (1, 20))

  /** One sampled trial and its k-fold mean AUC. */
  final case class TrialResult(
      maxIter: Int, maxDepth: Int, stepSize: Double, subsamplingRate: Double,
      featureSubsetStrategy: String, minInstancesPerNode: Int, meanAuc: Double)

  /** M6: seeded RANDOM hyperparameter search over the reference's Optuna
    * space (model_trainer.py:455-475). Optuna's TPE is a sequential
    * Bayesian posterior — it doesn't map onto a data-parallel engine,
    * but its SPACE does: uniform random search over the same ranges is
    * the standard strong baseline (Bergstra & Bengio 2012) and, unlike
    * TPE, every trial is independent so ONE CrossValidator evaluates all
    * `nTrials` param maps sharing a single stratified fold split, with
    * trials running in parallel. Deterministic under `cfg.seed`: the
    * sampled trial list and each fit are seeded. Returns the best model
    * (refit convention of CrossValidator) plus every trial's params and
    * mean AUC, best-first not guaranteed — read `meanAuc`.
    */
  def randomSearch(
      df: DataFrame, cfg: Config = Config(), nTrials: Int = 10,
      numFolds: Int = 5, space: SearchSpace = SearchSpace(),
      stratified: Boolean = true): (org.apache.spark.ml.Model[_], Seq[TrialResult]) = {
    require(nTrials >= 1, s"nTrials must be >= 1, got $nTrials")
    require(cfg.algorithm == "gbt",
      "randomSearch samples the GBT space; use crossValidate for rf")
    val rnd = new scala.util.Random(cfg.seed)
    def sInt(r: (Int, Int)) = r._1 + rnd.nextInt(r._2 - r._1 + 1)
    def sDouble(r: (Double, Double)) = r._1 + (r._2 - r._1) * rnd.nextDouble()
    val samples = Seq.fill(nTrials)((
      sInt(space.maxIterRange), sInt(space.maxDepthRange),
      sDouble(space.stepSizeRange), sDouble(space.subsampleRange),
      sDouble(space.colsampleRange), sInt(space.minInstancesRange)))

    val features = featureColumns(df, cfg.labelCol)
    val base = df.withColumn(cfg.labelCol, col(cfg.labelCol).cast("double"))
      .na.fill(features.map(_ -> 0.0).toMap)
    val prepared =
      if (stratified) withStratifiedFolds(base, cfg.labelCol, numFolds, cfg.seed)
      else base
    val pipeline = buildPipeline(features, cfg)
    val clf = pipeline.getStages.last.asInstanceOf[GBTClassifier]
    val maps = samples.map { case (mi, md, ss, sub, cs, mins) =>
      new org.apache.spark.ml.param.ParamMap()
        .put(clf.maxIter, mi).put(clf.maxDepth, md).put(clf.stepSize, ss)
        .put(clf.subsamplingRate, sub)
        .put(clf.featureSubsetStrategy,
          java.lang.String.format(java.util.Locale.ROOT, "%.6f", Double.box(cs)))
        .put(clf.minInstancesPerNode, mins)
    }.toArray
    val cv = new org.apache.spark.ml.tuning.CrossValidator()
      .setEstimator(pipeline)
      .setEvaluator(new BinaryClassificationEvaluator()
        .setLabelCol(cfg.labelCol).setRawPredictionCol("rawPrediction")
        .setMetricName("areaUnderROC"))
      .setEstimatorParamMaps(maps)
      .setNumFolds(numFolds)
      .setSeed(cfg.seed)
      .setParallelism(2)
    if (stratified) cv.setFoldCol("fold")
    val model = cv.fit(prepared)
    val trials = samples.zip(model.avgMetrics.toSeq).map {
      case ((mi, md, ss, sub, cs, mins), auc) =>
        TrialResult(mi, md, ss, sub,
          java.lang.String.format(java.util.Locale.ROOT, "%.6f", Double.box(cs)),
          mins, auc)
    }
    (model.bestModel, trials)
  }

  /** M7: top-k feature importances from the fitted tree ensemble. */
  def featureImportances(result: TrainResult, k: Int = 20): Seq[(String, Double)] = {
    val imp = result.model.stages.last match {
      case m: org.apache.spark.ml.classification.GBTClassificationModel => m.featureImportances
      case m: org.apache.spark.ml.classification.RandomForestClassificationModel => m.featureImportances
    }
    result.featureCols.zip(imp.toArray).sortBy(-_._2).take(k)
  }

  /** M9: batch scoring with churn probability and confidence=max(proba). */
  def score(model: PipelineModel, df: DataFrame): DataFrame =
    model.transform(df)
      .withColumns(ListMap(
        "churn_probability" -> element_at(vector_to_array(col("probability")), 2),
        "confidence" -> array_max(vector_to_array(col("probability"))),
        "churn_prediction" -> col("prediction").cast("int")))
      .drop("features", "rawPrediction", "probability", "prediction")

  /** M8: persistence — PipelineModel bundles stages + feature metadata. */
  def save(result: TrainResult, path: String): Unit =
    result.model.write.overwrite().save(path)
  def load(path: String): PipelineModel = PipelineModel.load(path)
}

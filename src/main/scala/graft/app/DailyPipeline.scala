package graft.app

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.clean.Cleaning
import graft.features.Features
import graft.ingest.CsvIngest
import graft.normalize.ZScore
import graft.quality.QualityAudit
import graft.validate.SchemaValidator
import scala.collection.immutable.ListMap

/** The reference's daily Airflow DAG as ONE Spark application (SURVEY §3.1):
  * ingest + validation gate → quality report → clean → features →
  * normalize → metadata → Silver. Each stage is a pure DataFrame =>
  * DataFrame; only the stat-dependent steps (medians, quantile fences, q80,
  * encoder levels, z-score fit) force small jobs whose scalars re-enter the
  * plan as literals.
  *
  * Where the reference materializes ~6 full pandas copies
  * (etl_pipeline.py:84-128 `df.copy()` per stage), `run` caches two
  * frames: Bronze, which the quality audit and the transform both read,
  * and Silver, which is counted and then written. Both are released
  * before `run` returns. The ingest gate's report is the run's validation
  * report: the gate throws on any invalid row, so validating Bronze again
  * could only repeat it.
  */
object DailyPipeline {

  final case class RunReport(
      validation: SchemaValidator.ValidationReport,
      quality: QualityAudit.AuditReport,
      rowsOut: Long,
      colsOut: Int,
      columnsAdded: Seq[String] = Nil, // D2: raw -> processed schema diff
      columnsRemoved: Seq[String] = Nil)

  /** Notification seam mirroring the reference DAG's EmailOperator pair
    * (dags/churn_prediction_pipeline.py:277-294): `onSuccess` fires
    * exactly once after the whole run (trigger_rule=all_success) with
    * the final report; `onFailure` fires exactly once with the FIRST
    * failing stage name and its error (trigger_rule=one_failed — the
    * linear stage chain aborts at the first throw, so "one_failed" and
    * "first failed" coincide) and the error still propagates. Defaults
    * are no-ops; wire email/pager/log delivery at the call site.
    */
  final case class Notifier(
      onSuccess: RunReport => Unit = _ => (),
      onFailure: (String, Throwable) => Unit = (_, _) => ())

  private def withProcessingMeta(df: DataFrame): DataFrame =
    df.withColumns(ListMap(
      "_processing_timestamp" -> current_timestamp(),
      "_processing_version" -> lit("1.0.0")))

  def transform(df: DataFrame, exact: Boolean = true): DataFrame = {
    val cleaned = Cleaning.clean(df, exact = exact)
    val featured = Features.engineer(cleaned, exact = exact)
    withProcessingMeta(ZScore.fitTransform(featured))
  }

  /** `transform` with the reference's feature-stage caching
    * (etl_pipeline.py:110-119, TTL 24 h): the cleaned+engineered frame is
    * materialized in the parquet stage cache keyed by (rows, schema,
    * options) and reused across runs on identical input; only the cheap
    * normalize/metadata tail re-runs.
    */
  def transformCached(
      spark: org.apache.spark.sql.SparkSession, df: DataFrame, cacheBase: String,
      exact: Boolean = true, ttlMillis: Long = 24L * 3600 * 1000): DataFrame = {
    val signature = s"${df.count()}|${df.schema.catalogString}"
    val key = graft.core.StageCache.key("features", signature, s"exact=$exact")
    val featured = graft.core.StageCache.cached(spark, cacheBase, key, ttlMillis) {
      Features.engineer(Cleaning.clean(df, exact = exact), exact = exact)
    }
    withProcessingMeta(ZScore.fitTransform(featured))
  }

  /** End-to-end run. `silverPath` gets a snappy parquet of the processed
    * frame (date-partitionable by caller convention `.../dt=YYYYMMDD/`).
    */
  def run(
      spark: SparkSession,
      csvPath: String,
      bronzePath: Option[String] = None,
      silverPath: Option[String] = None,
      exact: Boolean = true,
      notify: Notifier = Notifier()): RunReport = {
    var stage = "ingest"
    try {
      val (bronze, validation) = CsvIngest.ingestValidated(spark, csvPath, bronzePath)
      bronze.persist()
      try {
        stage = "quality"
        val quality = QualityAudit.audit(bronze.drop("_violations"))
        stage = "transform"
        val silver = transform(bronze, exact).persist()
        try {
          val rows = silver.count()
          stage = "publish"
          silverPath.foreach { p =>
            silver.write.mode("overwrite").option("compression", "snappy").parquet(p)
          }
          val report = RunReport(validation, quality, rows, silver.columns.length,
            columnsAdded = (silver.columns.toSet -- bronze.columns.toSet).toSeq.sorted,
            columnsRemoved = (bronze.columns.toSet -- silver.columns.toSet).toSeq.sorted)
          notify.onSuccess(report)
          report
        } finally silver.unpersist()
      } finally bronze.unpersist()
    } catch {
      case scala.util.control.NonFatal(e) => notify.onFailure(stage, e); throw e
    }
  }
}

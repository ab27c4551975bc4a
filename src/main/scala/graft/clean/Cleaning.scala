package graft.clean

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{NumericType, StringType}
import graft.core.{ChurnSchema, Cols}
import Cols.qcol

/** Cleaning stage: dedup → impute → IQR clip → cast corrections
  * (reference: src/processing/etl_pipeline.py:137-231, SURVEY §2.6/§2.7).
  *
  * All statistic-dependent transforms use the two-phase pattern (SURVEY §4):
  * one aggregate job computes the needed scalars (medians, modes, quantile
  * fences), which re-enter the row-level plan as literals — the row pass
  * stays a single codegen'd projection, and nothing is recomputed per row.
  * `exact = false` switches medians/quantiles to approx (1e-3 relative
  * rank error) for the 100 TB path; the default matches pandas exactly.
  */
object Cleaning {

  def numericCols(df: DataFrame, exclude: Seq[String] = Nil): Seq[String] =
    df.schema.fields
      .filter(f => f.dataType.isInstanceOf[NumericType])
      .map(_.name).filterNot(n => n.startsWith("_") || exclude.contains(n)).toSeq

  def stringCols(df: DataFrame): Seq[String] =
    df.schema.fields.filter(_.dataType == StringType)
      .map(_.name).filterNot(_.startsWith("_")).toSeq

  /** D1: full-row dedup. Returns (cleaned, removedCount). */
  def dropDuplicates(df: DataFrame): (DataFrame, Long) = {
    val before = df.count()
    val out = df.dropDuplicates()
    (out, before - out.count())
  }

  /** Per-column medians in ONE aggregate job (pandas-interpolating median =
    * Spark exact `percentile`; reference etl_pipeline.py:169).
    */
  def medians(df: DataFrame, cols: Seq[String], exact: Boolean = true): Map[String, Double] = {
    if (cols.isEmpty) return Map.empty
    val aggs = cols.map { c =>
      val e = if (exact) s"percentile(`$c`, 0.5)" else s"approx_percentile(`$c`, 0.5, 10000)"
      expr(e).cast("double").as(c)
    }
    val row = df.agg(aggs.head, aggs.tail: _*).collect()(0)
    cols.flatMap(c => Option(row.getAs[Any](c)).map(v => c -> v.toString.toDouble)).toMap
  }

  /** Per-column modes, ties broken by ascending value (pandas `mode()[0]`
    * sorts ascending; reference etl_pipeline.py:177). ONE job for all
    * columns: rows are stacked to (column, value) pairs, counted in one
    * shuffle, and ranked per column — versus the reference's (and the
    * naive port's) one full pass per column. `Unknown` when a column is
    * entirely null.
    */
  def modes(df: DataFrame, cols: Seq[String]): Map[String, String] = {
    if (cols.isEmpty) return Map.empty
    import org.apache.spark.sql.expressions.Window
    val stacked = df.select(explode(array(cols.map(c =>
      struct(lit(c).as("c"), qcol(c).cast("string").as("v"))): _*)).as("kv"))
      .select(col("kv.c").as("c"), col("kv.v").as("v"))
      .filter(col("v").isNotNull)
    val w = Window.partitionBy("c").orderBy(desc("count"), asc("v"))
    val top = stacked.groupBy("c", "v").count()
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .select("c", "v").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    cols.map(c => c -> top.getOrElse(c, "Unknown")).toMap
  }

  /** F9 impute: numeric → median, categorical → mode/"Unknown"
    * (reference etl_pipeline.py:156-187). `drop` strategy = na.drop on the
    * same column set (config `missing_value_handling`, config.yaml:30).
    */
  def imputeNulls(df: DataFrame, exact: Boolean = true): DataFrame = {
    val nums = numericCols(df)
    val strs = stringCols(df)
    val med = medians(df, nums, exact)
    val mod = modes(df, strs)
    df.na.fill(med).na.fill(mod)
  }

  def dropNullRows(df: DataFrame): DataFrame =
    df.na.drop((numericCols(df) ++ stringCols(df)))

  /** F7 IQR winsorize: clip each numeric column to [Q1-1.5·IQR, Q3+1.5·IQR]
    * (reference etl_pipeline.py:190-213), skipping the reference's
    * exclusions. Fences from one quantile job; the clip itself is a single
    * projection of greatest/least — fully codegen'd.
    */
  def clipOutliersIqr(
      df: DataFrame,
      exclude: Seq[String] = ChurnSchema.clipExclusions,
      exact: Boolean = true): DataFrame = {
    val cols = numericCols(df, exclude)
    if (cols.isEmpty) return df
    val fences: Map[String, (Double, Double)] =
      if (exact) {
        val aggs = cols.flatMap { c =>
          Seq(expr(s"percentile(`$c`, 0.25)").cast("double").as(s"q1_$c"),
            expr(s"percentile(`$c`, 0.75)").cast("double").as(s"q3_$c"))
        }
        val row = df.agg(aggs.head, aggs.tail: _*).collect()(0)
        cols.map { c =>
          val q1 = row.getAs[Double](s"q1_$c"); val q3 = row.getAs[Double](s"q3_$c")
          val iqr = q3 - q1
          c -> (q1 - 1.5 * iqr, q3 + 1.5 * iqr)
        }.toMap
      } else {
        val qs = df.stat.approxQuantile(cols.toArray, Array(0.25, 0.75), 1e-3)
        cols.zip(qs).map { case (c, Array(q1, q3)) =>
          val iqr = q3 - q1
          c -> (q1 - 1.5 * iqr, q3 + 1.5 * iqr)
        }.toMap
      }
    val projected = df.columns.map { c =>
      fences.get(c) match {
        case Some((lo, hi)) =>
          // cast back so integer columns stay integer after clipping, like
          // pandas clip which preserves dtype
          val clipped = greatest(least(qcol(c).cast("double"), lit(hi)), lit(lo))
          clipped.cast(df.schema(c).dataType).as(c)
        case None => qcol(c)
      }
    }
    df.select(projected.toSeq: _*)
  }

  /** F8 cast corrections (reference etl_pipeline.py:216-231). */
  def castCorrections(df: DataFrame): DataFrame = {
    val wanted = Map(
      "user_id" -> "string",
      "churn_label" -> "int",
      "app_version_major" -> "string")
    // each cast replaces its column in place
    df.withColumns(wanted.collect { case (c, t) if df.columns.contains(c) => c -> col(c).cast(t) })
  }

  /** Full cleaning stage in reference order. The dedup step here skips
    * the removed-count bookkeeping (two extra full-count jobs) — use
    * `dropDuplicates(df)` directly when the count is needed for logging.
    */
  def clean(df: DataFrame, imputeStrategy: String = "impute", exact: Boolean = true): DataFrame = {
    val deduped = df.dropDuplicates()
    val imputed = imputeStrategy match {
      case "drop" => dropNullRows(deduped)
      case _ => imputeNulls(deduped, exact)
    }
    castCorrections(clipOutliersIqr(imputed, exact = exact))
  }
}

package graft.normalize

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.NumericType
import graft.core.{ChurnSchema, Cols}
import Cols.qcol

/** F10 z-score normalization with sklearn StandardScaler parity
  * (reference: src/processing/etl_pipeline.py:234-249): population stddev
  * (ddof=0 — NOT the SQL default stddev_samp, SURVEY §4 pitfall A10),
  * fit over all numeric columns minus the exclusion list.
  *
  * Fit = one `treeAggregate` job over the columns cast to double, whose
  * generated code is one cast projection whatever the width: each task
  * folds a per-column `(n, sum, mean, M2)` buffer (Welford), buffers
  * merge pairwise in a tree (Chan et al.), and only 4 doubles per column
  * reach the driver. Transform = one projection with the fitted scalars as
  * literals. The fitted model is a plain Map so the train-time fit can be
  * re-applied leak-free to validation/test frames (reference
  * model_trainer.py:193-228).
  */
object ZScore {

  final case class Model(stats: Map[String, (Double, Double)]) {
    /** Apply `(x - mean) / std`; zero-variance columns divide by 1.0 to
      * avoid NaN floods (sklearn scales zero-variance features to 0 via
      * its `scale_ = 1` substitution).
      */
    def transform(df: DataFrame): DataFrame = {
      val projected = df.columns.map { c =>
        stats.get(c) match {
          case Some((m, s)) =>
            val safe = if (s == 0.0 || s.isNaN) 1.0 else s
            ((qcol(c) - lit(m)) / lit(safe)).as(c)
          case None => qcol(c)
        }
      }
      df.select(projected.toSeq: _*)
    }
  }

  /** Per-column running moments, nulls skipped column by column: count,
    * sum, and Welford's mean and sum of squared deviations (M2). The
    * update and the pairwise merge are written term for term as Spark's
    * `avg` (a plain running sum) and `stddev_pop` (`CentralMomentAgg`)
    * compute them, so a fit over one partition returns the same bits as
    * those aggregates. */
  private final class Moments(width: Int) extends Serializable {
    val n = new Array[Double](width)
    val sum = new Array[Double](width)
    val mean = new Array[Double](width)
    val m2 = new Array[Double](width)

    def add(row: InternalRow): Moments = {
      var i = 0
      while (i < width) {
        if (!row.isNullAt(i)) {
          val x = row.getDouble(i)
          n(i) += 1
          sum(i) += x
          val delta = x - mean(i)
          val deltaN = delta / n(i)
          mean(i) += deltaN
          m2(i) += delta * (delta - deltaN)
        }
        i += 1
      }
      this
    }

    def merge(o: Moments): Moments = {
      var i = 0
      while (i < width) {
        if (n(i) == 0) { n(i) = o.n(i); sum(i) = o.sum(i); mean(i) = o.mean(i); m2(i) = o.m2(i) }
        else if (o.n(i) > 0) {
          val total = n(i) + o.n(i)
          val delta = o.mean(i) - mean(i)
          val deltaN = delta / total
          mean(i) += deltaN * o.n(i)
          m2(i) += o.m2(i) + delta * deltaN * n(i) * o.n(i)
          sum(i) += o.sum(i)
          n(i) = total
        }
        i += 1
      }
      this
    }
  }

  def normalizeCols(df: DataFrame, exclude: Seq[String]): Seq[String] =
    df.schema.fields
      .filter(f => f.dataType.isInstanceOf[NumericType])
      .map(_.name)
      .filterNot(n => n.startsWith("_") || exclude.contains(n)).toSeq

  /** Mean and population stddev per normalized column; a column with no
    * non-null value fits `(0.0, 0.0)`. */
  def fit(df: DataFrame, exclude: Seq[String] = ChurnSchema.zscoreExclusions): Model = {
    val cols = normalizeCols(df, exclude)
    if (cols.isEmpty) return Model(Map.empty)
    val width = cols.size
    // the last merge runs in one task, in shuffle order, not in the
    // driver in task-completion order: the fitted bits repeat run to run
    val m = df.select(cols.map(c => qcol(c).cast("double")): _*).queryExecution.toRdd
      .treeAggregate(new Moments(width), (b: Moments, r: InternalRow) => b.add(r),
        (a: Moments, b: Moments) => a.merge(b), 2, finalAggregateOnExecutor = true)
    Model(cols.indices.map { i =>
      cols(i) -> (if (m.n(i) == 0) (0.0, 0.0) else (m.sum(i) / m.n(i), math.sqrt(m.m2(i) / m.n(i))))
    }.toMap)
  }

  def fitTransform(df: DataFrame, exclude: Seq[String] = ChurnSchema.zscoreExclusions): DataFrame =
    fit(df, exclude).transform(df)
}

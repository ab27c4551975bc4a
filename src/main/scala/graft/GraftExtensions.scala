package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.functions.SortedIntersectSize

/** SparkSessionExtensions entry point: registers the engine's native
  * functions at session build time, so any session started with
  *   --conf spark.sql.extensions=graft.GraftExtensions
  * (every [[graft.core.GraftSession]] session is) gets
  * `sorted_intersect_size` / `dot_f32` in SQL scope without
  * per-session registration calls.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier("sorted_intersect_size"),
      new ExpressionInfo(classOf[SortedIntersectSize].getName, "sorted_intersect_size"),
      (exprs: Seq[Expression]) => SortedIntersectSize(exprs(0), exprs(1))))
    ext.injectFunction((
      FunctionIdentifier("dot_f32"),
      new ExpressionInfo(classOf[graft.functions.DotProductF32].getName, "dot_f32"),
      (exprs: Seq[Expression]) => graft.functions.DotProductF32(exprs(0), exprs(1))))
  }
}

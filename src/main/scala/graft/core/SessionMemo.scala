package graft.core

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.storage.StorageLevel

/** The one memo for values a query derives from its inputs and that a
  * later query in the same session may reuse: slice boundaries
  * (`StatQueries.detSliceId`), the logistic-regression frames
  * (`StatQueries.logregScored`), the edge list and adjacency
  * (`LinkPredict.adamicAdarTopK`). Every hit crosses invocations, so
  * whoever times a query calls [[clear]] first to make rep 1 cold.
  *
  * A key is a caller tag, which keeps callers apart, then parts; a
  * `Dataset` part stands for its [[PlanKey]]. Entries are per session: a
  * `newSession()` starts empty, and clearing it spares its parent.
  *
  * A `build` must not call back into the memo (`computeIfAbsent` throws
  * on a recursive update): look up the frame a build needs first.
  *
  * Unbounded on purpose: every in-repo session lives until JVM exit, and
  * there is one entry per distinct (input plan, key) a consumer uses (11
  * after the 12 memo consumers ran twice). A caller that opens many
  * short sessions must [[clear]] each before dropping it.
  */
object SessionMemo {

  private val tables = new ConcurrentHashMap[SparkSession, ConcurrentHashMap[List[Any], AnyRef]]

  /** The value memoized under `key` in `spark`, built once by `build`. */
  def apply[V <: AnyRef](spark: SparkSession, key: Any*)(build: => V): V =
    tables.computeIfAbsent(spark, _ => new ConcurrentHashMap)
      .computeIfAbsent(key.map {
        case ds: Dataset[_] => PlanKey.of(ds)
        case part => part
      }.toList, _ => build).asInstanceOf[V]

  /** The frame memoized under `key`, persisted `MEMORY_ONLY`. A hit whose
    * blocks a `clearCache()` dropped is persisted again: the memoized
    * plan recomputes the same values, and its consumers would otherwise
    * replay it uncached. */
  def frame(spark: SparkSession, key: Any*)(build: => DataFrame): DataFrame = {
    val df = apply(spark, key: _*)(build)
    if (df.storageLevel == StorageLevel.NONE) df.persist(StorageLevel.MEMORY_ONLY)
    df
  }

  /** Unpersists `spark`'s memoized frames and drops all its entries. */
  def clear(spark: SparkSession): Unit =
    Option(tables.remove(spark)).foreach(_.values.forEach {
      case ds: Dataset[_] => ds.unpersist(blocking = false)
      case _ =>
    })

  /** Test hook: the number of entries `spark` holds. */
  private[graft] def size(spark: SparkSession): Int =
    Option(tables.get(spark)).fold(0)(_.size)

  /** Structural memo key for a DataFrame's logical plan.
    *
    * Plan-OBJECT equality (`analyzed.canonicalized == other`) fails for
    * file-backed frames: every `spark.read.parquet` builds a fresh
    * `FileIndex`, and `HadoopFsRelation` equality is reference-based
    * through it, so two invocations that build byte-identical plans never
    * compare equal and a plan-keyed memo silently re-pays its work every
    * call (measured round 13: the slice-boundary memo grew by its full
    * entry count on every repeated run). `LocalRelation` frames compare
    * fine — the failure is specific to file relations.
    *
    * The key here is TEXTUAL: the canonicalized plan's treeString
    * (expression ids normalized positionally, so structurally identical
    * plans print identically) plus an explicit list of every file
    * relation's root paths (treeString alone may truncate or omit
    * locations — two different scale-factor dirs must never collide).
    * The tree is printed with maxFields = Int.MaxValue: the default
    * truncates each node's field list at 25 ("... N more fields"), so two
    * plans differing only in a caller-provided 30-element `isin` list
    * could print identically and WRONGLY share a memo entry (review r13).
    * Literal VALUES may still be elided per-node (Spark truncates long
    * individual strings too) — that cannot cause a wrong reuse for
    * DATA-DERIVED literals (pure functions of the visible plan + the
    * listed paths), and caller-provided predicates live in the field
    * lists the untruncated print now covers.
    */
  private object PlanKey {
    def of(ds: Dataset[_]): String = {
      val plan = ds.queryExecution.analyzed
      val paths = plan.collect {
        case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          lr.relation match {
            case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
              fs.location.rootPaths.mkString(",")
            case other => other.toString
          }
      }.mkString(";")
      // LocalRelation data is INVISIBLE in the treeString (only the output
      // attrs print), so two in-memory frames with identical schemas but
      // different rows would collide — caught by LinkPredictSpec's
      // shifted-ids contract, which reused the wrong cached edge list.
      // Fingerprint the rows explicitly; local relations are driver-sized
      // by construction, so the stringify cost is bounded.
      val locals = plan.collect {
        case l: org.apache.spark.sql.catalyst.plans.logical.LocalRelation =>
          l.data.length + ":" + l.data.map(_.toString).mkString("|").hashCode
      }.mkString(";")
      plan.canonicalized.treeString(verbose = false, addSuffix = false,
        maxFields = Int.MaxValue, printOperatorId = false) +
        "\n#paths=" + paths + "\n#local=" + locals
    }
  }
}

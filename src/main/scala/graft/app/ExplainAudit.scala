package graft.app

import graft.SparkEntry

/** Plan audit: prints the formatted physical plan for selected queries and
  * greps the properties that matter at 100 TB — parquet filter pushdown,
  * column-pruned read schemas, broadcast joins on dims, whole-stage
  * codegen coverage.
  *
  *   tools/run.sh graft.app.ExplainAudit [sfDir] [query ...]
  */
object ExplainAudit {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = if (args.length > 1) args.drop(1).toSeq
    else Seq("q01_pricing_summary", "q02_revenue_by_nation", "q05_filter_project",
      "q03_top_customers", "q36_jaccard_neardups", "q41_cosine_knn_lsh",
      "q60_cosine_knn_ivf", "q68_decontamination", "q69_sequence_packing",
      "q81_bm25_search", "q83_winnow_dup_pairs", "q94_hybrid_rrf",
      "q95_snapshot_diff", "q96_incremental_agg", "q98_stats_drift",
      "q99_incremental_exact_dedup", "q101_bloom_incremental_dedup",
      "q102_importance_weights", "q105_daily_gap_fill",
      "q108_fuzzy_name_pairs", "q109_click_purchase_funnel",
      "q111_copurchase_pairs", "q167_km_survival", "q171_kmeans_segments",
      "q173_seq_patterns", "q174_logreg_gd", "q176_join_key_skew",
      "q183_bootstrap_ci", "q184_seq_patterns3")
    val spark = graft.core.GraftSession.local()

    names.foreach { name =>
      val df = SparkEntry.queries(name)(spark, dir)
      // run the query first: AQE plans only finalize (and pick up codegen
      // spans, runtime-chosen join strategies, coalesced exchanges) after
      // execution — auditing isFinalPlan=false is auditing a guess.
      // collect() (not count()) because count() builds a SEPARATE query
      // execution and would leave THIS df's plan unfinalized.
      df.collect()
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      println(s"\n========== $name ==========")
      println(plan)
      // the finalized AQE explain renders the final-plan TREE first, then
      // the pre-execution "Initial Plan" tree, then detail sections for
      // every operator id — count operators from the final tree only
      // ("OpName (N)" tokens), or the initial plan double-counts
      val finalTree = plan.split("== Initial Plan ==")(0)
      // one operator per tree line: strip the branch glyphs (+- : * etc)
      // and take the leading word ("BroadcastHashJoin LeftSemi BuildRight
      // (8)" must count as BroadcastHashJoin, not BuildRight)
      val ops = finalTree.linesIterator
        .map(_.replaceAll("^[\\s+:|*-]*", ""))
        .filter(_.matches("[A-Za-z]+.*\\(\\d+\\).*"))
        .map(_.takeWhile(_.isLetter)).toSeq
      // detail sections are rendered once per operator id, so the scans'
      // PushedFilters can be counted over the whole output
      val pushed = "PushedFilters: \\[[^\\]]+\\]".r.findAllIn(plan)
        .filterNot(_.contains("[]")).toSeq
      val broadcasts = ops.count(_ == "BroadcastHashJoin")
      // formatted explain no longer renders codegen ids — count the
      // WholeStageCodegenExec spans in the (AQE-finalized) plan tree
      def spans(p: org.apache.spark.sql.execution.SparkPlan): Int = {
        val self = p match {
          case _: org.apache.spark.sql.execution.WholeStageCodegenExec => 1
          case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
            spans(a.executedPlan)
          case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
            spans(q.plan)
          case _ => 0
        }
        self + p.children.map(spans).sum
      }
      val codegen = spans(df.queryExecution.executedPlan)
      val sorts = ops.count(_ == "Sort")
      // one shuffle renders as Exchange + ShuffleQueryStage + AQEShuffleRead
      // — count only the Exchange node
      val exchanges = ops.count(_ == "Exchange")
      println(s"---- audit[$name]: pushedFilterSites=${pushed.size} " +
        s"broadcastJoins=$broadcasts codegenSpans=$codegen sorts=$sorts exchanges=$exchanges")
    }
    spark.stop()
  }
}

package graft.tools

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** The ONE parameterized diagnostic probe (VERDICT r14 task 5 — the
  * per-round one-shot probe mains kept accreting; this replaces them
  * all). Prints the formatted plan and timings for any registry query
  * (rep 1 cold, later reps warm on the session memo), so a bench-notes
  * adjudication is a command line, not a new main.
  *
  * Usage:
  *   tools/run.sh graft.tools.Probe <queryName> [sfDir] [reps]
  *
  * Env: SPARK_GRAFT_CPUS (default: every core the JVM sees, the
  * `core.GraftSession` rule), SPARK_GRAFT_PROBE_NOPLAN=1 to skip the
  * explain (pure timing run), SPARK_GRAFT_PROBE_STAGES=1 to
  * print per-stage metrics (wall, executor time, shuffle bytes, spill)
  * after each rep — the Spark-UI stage table for a headless box, the
  * guide-§1 "decide whether the time is shuffle read or compute" loop.
  * Each rep's line also counts the generated classes the rep compiled
  * and their Janino time (Spark's codegen metrics): the planning-side
  * cost that no stage shows.
  */
object Probe {

  /** Per-stage accumulator printed by SPARK_GRAFT_PROBE_STAGES: one line
    * per completed stage in completion order. Wall = submission→completion
    * (includes scheduling); exec = Σ task executorRunTime. A stage whose
    * info carries no task metrics books zeros. `job` and `exec` are the
    * stage's job id and `spark.sql.execution.id` (-1 outside SQL), booked
    * at job start: under AQE most stages are named after the thread-pool
    * frame that submitted them, and these two say which query and which
    * of its jobs ran the stage. */
  private final class StageMetrics(spark: SparkSession) extends graft.core.JobLedger(spark) {
    case class Row(id: Int, job: Int, exec: Long, name: String, tasks: Int, wallMs: Long,
      execMs: Long, shReadMb: Double, shWriteMb: Double, inMb: Double,
      spillMb: Double)
    val rows = new java.util.concurrent.ConcurrentLinkedQueue[Row]
    private val owner = new java.util.concurrent.ConcurrentHashMap[Int, (Int, Long)]
    override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
      super.onJobStart(e)
      val exec = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .fold(-1L)(_.toLong)
      e.stageIds.foreach(s => owner.putIfAbsent(s, (e.jobId, exec)))
    }
    override def onStageCompleted(
        sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
      val si = sc.stageInfo
      if (isFenceStage(si.stageId)) return
      val m = Option(si.taskMetrics)
      def mb(f: org.apache.spark.executor.TaskMetrics => Long) = m.fold(0L)(f) / 1e6
      val wall = (for {s <- si.submissionTime; c <- si.completionTime}
        yield c - s).getOrElse(-1L)
      val (job, exec) = Option(owner.remove(si.stageId)).getOrElse((-1, -1L))
      rows.add(Row(si.stageId, job, exec, si.name.takeWhile(_ != '\n').take(80),
        si.numTasks, wall, m.fold(0L)(_.executorRunTime),
        mb(_.shuffleReadMetrics.totalBytesRead),
        mb(_.shuffleWriteMetrics.bytesWritten),
        mb(_.inputMetrics.bytesRead), mb(_.diskBytesSpilled)))
    }
    /** Waits for the listener bus (a fence job, see JobLedger), then
      * prints and clears the stages seen so far. */
    def drainAndPrint(): Unit = {
      drain()
      println(f"${"stage"}%6s ${"job"}%5s ${"exec"}%5s ${"tasks"}%5s ${"wall_s"}%8s ${"exec_s"}%8s " +
        f"${"shRd_MB"}%9s ${"shWr_MB"}%9s ${"in_MB"}%8s ${"spill"}%7s  name")
      var r = rows.poll()
      val acc = scala.collection.mutable.ArrayBuffer.empty[Row]
      while (r != null) { acc += r; r = rows.poll() }
      val (shown, rest) = acc.sortBy(-_.wallMs).splitAt(30)
      shown.foreach { x =>
        println(f"${x.id}%6d ${x.job}%5d ${x.exec}%5d ${x.tasks}%5d ${x.wallMs / 1e3}%8.2f " +
          f"${x.execMs / 1e3}%8.2f ${x.shReadMb}%9.1f ${x.shWriteMb}%9.1f " +
          f"${x.inMb}%8.1f ${x.spillMb}%7.1f  ${x.name}")
      }
      // the rows must add up to TOTAL: one row for the stages not shown
      if (rest.nonEmpty)
        println(f"${"+" + rest.size}%6s ${""}%5s ${""}%5s ${rest.map(_.tasks).sum}%5d ${""}%8s " +
          f"${rest.map(_.execMs).sum / 1e3}%8.2f ${rest.map(_.shReadMb).sum}%9.1f " +
          f"${rest.map(_.shWriteMb).sum}%9.1f ${rest.map(_.inMb).sum}%8.1f " +
          f"${rest.map(_.spillMb).sum}%7.1f  more stages")
      println(f"TOTAL exec ${acc.map(_.execMs).sum / 1e3}%.2f s over " +
        f"${acc.size} stages / ${acc.map(_.tasks).sum} tasks")
    }
  }
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty,
      "usage: Probe <queryName> [sfDir] [reps] — queryName from SparkEntry.queries")
    val name = args(0)
    val dir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) args(2).toInt else 2
    val spark = graft.core.GraftSession.local()
    val fn = graft.SparkEntry.queries.getOrElse(name,
      throw new IllegalArgumentException(
        s"unknown query '$name'; names: ${graft.SparkEntry.queries.keys.toSeq.sorted.take(8).mkString(", ")}…"))
    if (!sys.env.contains("SPARK_GRAFT_PROBE_NOPLAN"))
      fn(spark, dir).explain("formatted")
    // building the plan fills the session memo (slice boundaries are
    // collected while planning): drop it so rep 1 is cold
    graft.core.SessionMemo.clear(spark)
    val stages = if (sys.env.contains("SPARK_GRAFT_PROBE_STAGES"))
      Some(new StageMetrics(spark)) else None
    (1 to reps).foreach { i =>
      spark.catalog.clearCache()
      val classes0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val janino0 = CodeGenerator.compileTime
      val t0 = System.nanoTime
      val n = fn(spark, dir).collect().length
      println(f"rep $i: ${(System.nanoTime - t0) / 1e9}%.2fs ($n rows); codegen " +
        f"${CodegenMetrics.METRIC_COMPILATION_TIME.getCount - classes0} classes compiled " +
        f"in ${(CodeGenerator.compileTime - janino0) / 1e6}%.0f ms")
      stages.foreach(_.drainAndPrint())
    }
    spark.stop()
  }
}

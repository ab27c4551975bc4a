package graft.perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Attributes Spark work to the layer whose public call is running.
  *
  * The benchmark calls one layer at a time from one client thread. Before
  * each call it sets the local property [[LayerKey]], which every job the
  * call starts carries, including the jobs of a streaming query started
  * from inside the span (the query thread inherits local properties).
  * Jobs, tasks and their metrics are booked to the layer named by that
  * property. Planning time comes from [[QueryExecutionListener]] events,
  * which carry no properties; they are booked to the span that was open
  * when they arrived.
  *
  * Listener events arrive on Spark's bus thread after the call returns.
  * [[span]] therefore ends with a fence: one tagged one-row query. Both
  * queues deliver in order, so once the fence's job end and the fence's
  * query event have arrived, and every job started has ended, all events
  * of the span have been seen. Nothing waits on a timer.
  */
final class Tracer(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  import Tracer._

  final class Layer {
    var seconds, planSeconds, driverSeconds, cpuSeconds = 0.0
    var jobs = 0L
    var shuffleBytes, writtenBytes = 0L
  }

  val layers = mutable.LinkedHashMap.empty[String, Layer]
  var spillBytes = 0L

  private val lock = new Object
  private var jobsStarted, jobsEnded = 0L
  private var fenceJobsSeen, fenceQueriesSeen = 0L
  private var fencesRun = 0L
  private val stageLayer = mutable.Map.empty[Int, String]
  private val jobLayer = mutable.Map.empty[Int, String]
  private val jobStart = mutable.Map.empty[Int, Long]
  private val fenceJobs = mutable.Set.empty[Int]
  // (start, end) in epoch ms of every job of the open span
  private val intervals = mutable.ArrayBuffer.empty[(Long, Long)]
  private var pendingPlanMs = 0L

  spark.sparkContext.addSparkListener(this)
  spark.listenerManager.register(this)

  def close(): Unit = {
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  private def layer(name: String): Layer = layers.getOrElseUpdate(name, new Layer)

  /** Runs `body` as one call into `name` and books its wall time, jobs,
    * planning time, driver-only time and task metrics to that layer. */
  def span[T](name: String)(body: => T): T = {
    drain()
    lock.synchronized { intervals.clear(); pendingPlanMs = 0L }
    val sc = spark.sparkContext
    sc.setLocalProperty(LayerKey, name)
    val t0 = System.currentTimeMillis(); val n0 = System.nanoTime()
    val out = try body finally sc.setLocalProperty(LayerKey, null)
    val wall = (System.nanoTime() - n0) / 1e9
    val t1 = System.currentTimeMillis()
    drain()
    lock.synchronized {
      val l = layer(name)
      l.seconds += wall
      l.planSeconds += pendingPlanMs / 1e3
      l.driverSeconds += math.max(0.0, wall - busyMs(t0, t1) / 1e3)
    }
    out
  }

  /** Milliseconds of [t0, t1] during which at least one job ran. */
  private def busyMs(t0: Long, t1: Long): Long = {
    var busy = 0L; var cursor = t0
    intervals.map { case (a, b) => (math.max(a, t0), math.min(b, t1)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > cursor) { busy += b - math.max(a, cursor); cursor = b }
      }
    busy
  }

  /** Blocks until every event posted before this call has been delivered. */
  def drain(): Unit = {
    val fence = lock.synchronized { fencesRun += 1; fencesRun }
    val sc = spark.sparkContext
    sc.setLocalProperty(LayerKey, FenceLayer)
    try spark.range(0, 1, 1, 1).selectExpr(s"id AS ${FenceColumn}_$fence").collect()
    finally sc.setLocalProperty(LayerKey, null)
    lock.synchronized {
      while (fenceJobsSeen < fence || fenceQueriesSeen < fence || jobsStarted != jobsEnded)
        lock.wait()
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
    jobsStarted += 1
    Option(e.properties).flatMap(p => Option(p.getProperty(LayerKey))) match {
      case Some(FenceLayer) => fenceJobs += e.jobId
      case Some(n) =>
        layer(n).jobs += 1
        jobLayer(e.jobId) = n
        e.stageIds.foreach(stageLayer(_) = n)
      case None =>
    }
    jobStart(e.jobId) = e.time
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
    jobsEnded += 1
    val start = jobStart.remove(e.jobId).getOrElse(e.time)
    if (fenceJobs.remove(e.jobId)) fenceJobsSeen += 1
    else if (jobLayer.remove(e.jobId).isDefined) intervals += ((start, e.time))
    lock.notifyAll()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
    val m = e.taskMetrics
    if (m != null) {
      spillBytes += m.diskBytesSpilled
      stageLayer.get(e.stageId).foreach { n =>
        val l = layer(n)
        l.cpuSeconds += m.executorCpuTime / 1e9
        l.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        l.writtenBytes += m.outputMetrics.bytesWritten
      }
    }
  }

  private def onQuery(qe: QueryExecution): Unit = lock.synchronized {
    if (qe.analyzed.output.exists(_.name.startsWith(FenceColumn))) fenceQueriesSeen += 1
    else pendingPlanMs += Seq("analysis", "optimization", "planning")
      .flatMap(qe.tracker.phases.get).map(_.durationMs).sum
    lock.notifyAll()
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    onQuery(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    onQuery(qe)
}

object Tracer {
  val LayerKey = "perfbench.layer"
  private val FenceLayer = "perfbench.fence"
  private val FenceColumn = "perfbench_fence"
}

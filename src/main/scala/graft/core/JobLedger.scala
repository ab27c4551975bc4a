package graft.core

import scala.collection.mutable
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Counts Spark jobs and waits for the listener bus without a timer.
  *
  * Listener events arrive on Spark's bus thread after the call that
  * caused them returns. [[drain]] runs a fence: one tagged one-row job.
  * The bus delivers in order, so once the fence's job end has arrived and
  * every job started has ended, every event posted before the fence has
  * been seen by this listener, and by a subclass's own callbacks.
  */
class JobLedger(spark: SparkSession) extends SparkListener {
  import JobLedger._

  private val lock = new Object
  private val open = mutable.Set.empty[Int]
  private val fenceJobs = mutable.Set.empty[Int]
  private val fenceStages = mutable.Set.empty[Int]
  private var fencesRun, fencesSeen, counted = 0L

  spark.sparkContext.addSparkListener(this)

  def close(): Unit = spark.sparkContext.removeSparkListener(this)

  /** Runs `body` and returns it with the number of Spark jobs it started
    * from this thread, or from threads it spawned. */
  def jobs[T](body: => T): (T, Long) = {
    drain()
    val sc = spark.sparkContext
    val outer = sc.getLocalProperty(Key)
    sc.setLocalProperty(Key, Counted)
    val out = try body finally sc.setLocalProperty(Key, outer)
    drain()
    lock.synchronized { val n = counted; counted = 0L; (out, n) }
  }

  /** Whether `stageId` belongs to a fence job; a subclass that books
    * stages leaves these out. */
  protected def isFenceStage(stageId: Int): Boolean = lock.synchronized(fenceStages(stageId))

  /** Blocks until every event posted before this call has been delivered. */
  def drain(): Unit = {
    val fence = lock.synchronized { fencesRun += 1; fencesRun }
    val sc = spark.sparkContext
    val outer = sc.getLocalProperty(Key)
    sc.setLocalProperty(Key, Fence)
    try spark.range(0, 1, 1, 1).collect()
    finally sc.setLocalProperty(Key, outer)
    lock.synchronized { while (fencesSeen < fence || open.nonEmpty) lock.wait() }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
    Option(e.properties).flatMap(p => Option(p.getProperty(Key))) match {
      case Some(Fence) => fenceJobs += e.jobId; fenceStages ++= e.stageIds
      case Some(Counted) => counted += 1; open += e.jobId
      case _ => open += e.jobId
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
    if (fenceJobs.remove(e.jobId)) fencesSeen += 1
    open -= e.jobId
    lock.notifyAll()
  }
}

object JobLedger {
  private val Key = "graft.jobLedger"
  private val Fence = "fence"
  private val Counted = "counted"

  /** Runs `body` with every job it starts described as `what`, the
    * caller's description kept below it; restores the caller's after. */
  def step[T](spark: SparkSession, what: String)(body: => T): T = {
    val sc = spark.sparkContext
    val outer = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(Option(outer).fold(what)(o => s"$what\n$o"))
    try body finally sc.setLocalProperty("spark.job.description", outer)
  }
}

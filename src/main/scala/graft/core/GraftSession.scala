package graft.core

import org.apache.spark.sql.SparkSession

/** The one local SparkSession factory: every graft main and the test
  * suite's `SparkSpec` start their session here, so the session policy
  * is decided once.
  *
  *  - `local[cores]` with as many shuffle partitions as cores.
  *  - Session time zone UTC and the UI off, as confs: a session must not
  *    depend on JVM flags its launcher may or may not pass.
  *  - `spark.sql.maxPlanStringLength` bounded by
  *    [[HostAnchor.maxPlanStringLength]]: the corpus funnel's late stages
  *    carry fifteen stages of lineage, and the unbounded default let ONE
  *    `SQLExecutionStart`'s explain string burn 4+ min of driver CPU and
  *    5 GiB of heap rendering a string nobody reads.
  *  - [[graft.GraftExtensions]], so `sorted_intersect_size` and `dot_f32`
  *    resolve in SQL with no per-session registration call.
  *  - Long-GC liveness hardening: with a large heap and a bursty host, a
  *    stop-the-world pause can outlive the default heartbeat budget, and
  *    in local mode the "executor" then declares its own driver dead —
  *    an RPC self-destruct observed killing a mid-curve ScaleCurve
  *    session (exit 56). A single-JVM session gains nothing from tight
  *    liveness probes, so heartbeat 60 s and network timeout 600 s.
  *  - No `spark.speculation`: under `local[N]` Spark's TaskSchedulerImpl
  *    starts the speculation thread only when `!isLocal`, so it is a
  *    silent no-op here (an earlier A/B "improvement" from it was host
  *    variance). The local mitigations are Bench's min-of-reps and
  *    ScaleCurve's min-of-2 plus one targeted retry; a cluster submission
  *    should still set `spark.speculation=true` for the bimodal
  *    stalled-tail class it re-launches.
  *  - Log level WARN.
  */
object GraftSession {

  /** Cores of the default session: `SPARK_GRAFT_CPUS`, else every core
    * the JVM sees. Callers that size work by the session's parallelism
    * (bench history rows, the host anchor's partitions) read this. */
  val cores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** The local session on `cores` cores; returns the active session if
    * one is already running in this JVM. */
  def local(cores: Int = GraftSession.cores): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.maxPlanStringLength", HostAnchor.maxPlanStringLength)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.executor.heartbeatInterval", "60s")
      .config("spark.network.timeout", "600s")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}

package graft.perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** One benchmark run of one workload, in its own JVM:
  *
  *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *        --work <fresh dir> --cores <n> [--smoke] [--corrupt]
  *
  * Set-up (a fresh session, and the seeded inputs generated and landed in
  * a fresh directory) runs [[SetupReps]] times; `setup_s` is the median and
  * the last set-up is kept. Then the warm-up runs once (its first pass is
  * `cold_s`), then the fixed timed phase. With `--trace 1` the warm-up's
  * build and a second copy of the timed phase run under the [[Tracer]], and
  * the per-layer metrics are printed instead of the end-to-end ones. The
  * last stdout line is the result.
  */
object Main {
  val SetupReps = 3

  private val execLayers = Seq("ingest", "validate", "quality", "clean", "features",
    "normalize", "warehouse.silver", "ml.train")
  private val callLayers = Seq("ml.score_gold", "warehouse.lookup", "ml.score",
    "analytics.dashboard", "warehouse.append")
  private val streamLayers = Seq("streaming.minhash", "streaming.exact")

  /** Every per-layer metric as (name, unit), in output order. */
  val perLayer: Seq[(String, String)] = {
    def base(l: String) = Seq(s"$l.s" -> "s", s"$l.jobs" -> "count",
      s"$l.plan_s" -> "s", s"$l.driver_s" -> "s")
    def exec(l: String) = Seq(s"$l.exec_cpu_s" -> "s", s"$l.shuffle_mb" -> "MB")
    execLayers.flatMap(l => base(l) ++ exec(l)) ++
      callLayers.flatMap(base) ++
      streamLayers.flatMap(l => base(l) ++ Seq(s"$l.written_mb" -> "MB", s"$l.index_files" -> "count")) ++
      Seq("gc_s" -> "s", "spill_mb" -> "MB", "trace_overhead_s" -> "s")
  }

  val endToEnd: Seq[(String, String)] = Seq("setup_s" -> "s", "result_s" -> "s",
    "op_p50_s" -> "s", "op_p90_s" -> "s", "cold_s" -> "s", "heap_peak_mb" -> "MB")

  def main(args: Array[String]): Unit = {
    val opts = parse(args)
    val name = opts("workload")
    require(Workload.opsPerSecond.contains(name), s"unknown workload $name")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toInt
    val traced = opts("trace") == "1"
    val work = opts("work")
    val cores = opts("cores").toInt
    val scale = if (opts.contains("smoke")) Scale.smoke else Scale.full
    val ops = math.max(3, math.ceil(seconds * Workload.opsPerSecond(name)).toInt)

    var spark: SparkSession = null
    try {
      var wl: Workload = null
      val setups = (1 to SetupReps).map { r =>
        val t0 = System.nanoTime()
        if (spark != null) spark.stop()
        spark = session(cores, work)
        wl = Workload(name, Ctx(spark, s"$work/setup$r", seed, scale, ops, opts.contains("corrupt")))
        wl.land()
        (System.nanoTime() - t0) / 1e9
      }
      val tr = if (traced) Some(new Tracer(spark)) else None
      val cold = wl.warm(tr)
      var heapPeak = liveHeapMb()
      val samples = wl.timed(None, () => heapPeak = math.max(heapPeak, liveHeapMb()))
      val resultS = samples.map(_.seconds).sum

      val (all, metrics) = tr match {
        case None =>
          val lat = samples.map(_.seconds).sorted
          (samples, Seq(median(setups), resultS, quantile(lat, 0.5), quantile(lat, 0.9), cold,
            heapPeak).zip(endToEnd).map { case (v, (n, u)) => (n, v, u) })
        case Some(t) =>
          val gc0 = gcSeconds()
          val spill0 = t.spillBytes
          val tracedSamples = wl.timed(tr, () => ())
          val workloadWide = Map("gc_s" -> (gcSeconds() - gc0),
            "spill_mb" -> (t.spillBytes - spill0) / 1e6,
            "trace_overhead_s" -> (tracedSamples.map(_.seconds).sum - resultS))
          t.close()
          (samples ++ tracedSamples, layerMetrics(t, wl.extras ++ workloadWide))
      }
      val attempted = all.size + wl.checks.size
      val failed = all.count(!_.ok) + wl.checks.count(!_)
      println(json(Map("info" -> Map(
        "workload" -> name, "seed" -> seed, "setups" -> setups,
        "op_s" -> samples.map(x => math.rint(x.seconds * 1e4) / 1e4),
        "nproc" -> cores, "jvm" -> ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
          .filter(a => a.startsWith("-Xm") || a.startsWith("-XX:")).mkString(" "),
        "loadavg" -> loadAvg()))))
      println(json(Map("correct" -> (failed == 0), "attempted" -> attempted, "failed" -> failed,
        "metrics" -> metrics.map { case (n, v, u) => n -> Map("value" -> v, "unit" -> u) }.toMap)))
    } finally if (spark != null) spark.stop()
  }

  /** Every per-layer metric: `extras` by name, the rest from the tracer's
    * layer; 0 for a layer the workload never called. */
  private def layerMetrics(tr: Tracer, extras: Map[String, Double]): Seq[(String, Double, String)] =
    perLayer.map { case (n, u) =>
      val (l, field) = n.lastIndexOf('.') match {
        case -1 => ("", n)
        case i => (n.substring(0, i), n.substring(i + 1))
      }
      val v = (field, tr.layers.get(l)) match {
        case _ if extras.contains(n) => extras(n)
        case (_, None) => 0.0
        case ("s", Some(x)) => x.seconds
        case ("jobs", Some(x)) => x.jobs.toDouble
        case ("plan_s", Some(x)) => x.planSeconds
        case ("driver_s", Some(x)) => x.driverSeconds
        case ("exec_cpu_s", Some(x)) => x.cpuSeconds
        case ("shuffle_mb", Some(x)) => x.shuffleBytes / 1e6
        case ("written_mb", Some(x)) => x.writtenBytes / 1e6
        case _ => 0.0
      }
      (n, v, u)
    }

  /** The session every workload runs in, configured as `Bench`'s, with
    * every file it writes kept under `work`. */
  private def session(cores: Int, work: String): SparkSession = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.maxPlanStringLength", graft.core.HostAnchor.maxPlanStringLength)
      .config("spark.executor.heartbeatInterval", "60s")
      .config("spark.network.timeout", "600s")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/local")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Live heap: the old generation's usage right after a full collection. */
  private def liveHeapMb(): Double = {
    System.gc()
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getType == MemoryType.HEAP && p.getCollectionUsage != null)
      .filter(p => p.getName.contains("Old") || p.getName.contains("Tenured"))
      .map(_.getCollectionUsage.getUsed).sum / 1e6
  }

  private def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

  private def loadAvg(): String =
    try new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get("/proc/loadavg"))).trim
    catch { case _: java.io.IOException => "" }

  def median(xs: Seq[Double]): Double = quantile(xs.sorted, 0.5)

  /** Linear interpolation between the order statistics of sorted `xs`. */
  def quantile(sorted: Seq[Double], p: Double): Double = {
    val pos = p * (sorted.size - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, sorted.size - 1)
    sorted(lo) + (pos - lo) * (sorted(hi) - sorted(lo))
  }

  private def parse(args: Array[String]): Map[String, String] = {
    val flags = Set("smoke", "corrupt")
    def go(rest: List[String]): List[(String, String)] = rest match {
      case k :: tail if flags(k.stripPrefix("--")) => (k.stripPrefix("--") -> "1") :: go(tail)
      case k :: v :: tail if k.startsWith("--") => (k.stripPrefix("--") -> v) :: go(tail)
      case Nil => Nil
      case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
    }
    go(args.toList).toMap
  }

  private def json(v: Any): String = v match {
    case m: Map[_, _] => m.map { case (k, x) => json(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case s: Seq[_] => s.map(json).mkString("[", ",", "]")
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case other => other.toString
  }
}

package graft.perfbench

import java.nio.file.{Files, Path, Paths}
import scala.util.Random
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.analytics.ChurnAnalytics
import graft.app.DailyPipeline
import graft.ml.ChurnModel
import graft.warehouse.Sinks

/** One timed operation: its latency and whether its output checked out. */
final case class Sample(seconds: Double, ok: Boolean)

/** Where a workload runs: its session, a fresh directory, its seed, the
  * input scale and the number of timed operations. */
final case class Ctx(spark: SparkSession, dir: String, seed: Long, scale: Scale,
    ops: Int, corrupt: Boolean = false)

/** Input sizes. `full` is what the benchmark measures; `smoke` only proves
  * that every metric is emitted and every check can fail. */
final case class Scale(users: Int, docsPerWave: Int)

object Scale {
  val full = Scale(users = 5000, docsPerWave = 208)
  val smoke = Scale(users = 2000, docsPerWave = 40)
}

/** A closed-loop workload with one client thread. A fresh instance is
  * built for each set-up, whose `land` writes the seeded inputs. The kept
  * instance then runs `warm`, the untimed warm-up, which returns the time
  * of its first pass (what a new session pays before it is warm) and
  * traces the work that builds the served state when `tr` is given.
  * `timed` runs the `ctx.ops` operations of the fixed timed phase, traced
  * through `tr` when given; `probe` samples the live heap between rounds,
  * outside any operation's time. `checks` are correctness checks made
  * outside the timed operations. */
abstract class Workload(val ctx: Ctx) {
  def spark: SparkSession = ctx.spark
  def land(): Unit
  def warm(tr: Option[Tracer]): Double
  def timed(tr: Option[Tracer], probe: () => Unit): Seq[Sample]
  /** Per-layer values the tracer cannot see (name -> value). */
  def extras: Map[String, Double] = Map.empty
  val checks = scala.collection.mutable.ArrayBuffer.empty[Boolean]

  protected def timeOp(body: => Boolean): Sample = {
    val t0 = System.nanoTime()
    val ok = try body catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"perfbench: operation failed: $e"); false }
    Sample((System.nanoTime() - t0) / 1e9, ok)
  }

  protected def secs(body: => Unit): Double = {
    val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
  }

  /** `tr.span(name)` when traced, a plain call otherwise. */
  protected def call[T](tr: Option[Tracer], name: String)(body: => T): T =
    tr.fold(body)(_.span(name)(body))
}

object Workload {
  def apply(name: String, ctx: Ctx): Workload = name match {
    case "serve_mix" => new ServeMix(ctx)
    case "stream_index" => new StreamIndex(ctx)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** Timed operations per second of `--seconds`, so that the fixed timed
    * work takes about `--seconds` at the commit that defined it. */
  val opsPerSecond = Map("serve_mix" -> 6.0, "stream_index" -> 0.6)
}

/** The paper's daily flow, then serving reads over its gold table.
  *
  * The warm-up first builds the day: one seeded CSV through
  * `DailyPipeline.run`, `ChurnModel.train` (maxIter 20) and its deploy
  * gate, and seven gold partitions via `ChurnModel.score` +
  * `Sinks.writeGold`. Then a seeded closed-loop request mix runs: 50% user
  * lookups (`Sinks.readLatestGold` + `ChurnAnalytics.lookupUser`), 25%
  * dashboard calls (`churnRateByCountry` / `churnDistribution`), 20%
  * scoring of a 100-user cohort and 5% appends of a new gold partition. */
final class ServeMix(ctx: Ctx) extends Workload(ctx) {
  private val users = ctx.scale.users
  private val csv = s"${ctx.dir}/in"
  private val gold = s"${ctx.dir}/gold"
  private val silverPath = s"${ctx.dir}/silver"
  private val goldCols = Seq("user_id", "churn_probability", "confidence", "churn_prediction")
  private val firstDt = 20260801
  private var newest = firstDt + 6
  private var model: org.apache.spark.ml.PipelineModel = _
  private val coldRequests = 20
  private val warmRequests = 30

  def land(): Unit = Gen.churnCsv(spark, users, ctx.seed, csv)

  def warm(tr: Option[Tracer]): Double = {
    val rnd = new Random(ctx.seed * 31 + 1)
    val cold = secs {
      build(tr)
      mix(coldRequests, rnd).foreach(request(_, rnd, None))
    }
    mix(warmRequests - coldRequests, rnd).foreach(request(_, rnd, None))
    cold
  }

  private var dashboards = 0
  private val Lookup = 0; private val Dashboard = 1; private val Score = 2; private val Append = 3

  /** `n` request kinds in the mix's exact shares, in seeded order, except
    * that appends close evenly spaced stretches: each append adds a
    * partition that later lookups list, so where appends fall would
    * otherwise change how much work the lookups do. */
  private def mix(n: Int, rnd: Random): Seq[Int] = {
    val appends = math.max(1, math.round(n * 0.05).toInt)
    val others = rnd.shuffle(Seq.fill(n / 2)(Lookup) ++ Seq.fill(n / 4)(Dashboard) ++
      Seq.fill(n - n / 2 - n / 4 - appends)(Score))
    (0 until appends).flatMap { i =>
      others.slice(i * others.size / appends, (i + 1) * others.size / appends) :+ Append
    }
  }

  /** The day's DAG, training and gold partitions, checked: the model
    * passes the deploy gate and Silver and the latest gold partition hold
    * one row per user. */
  private def build(tr: Option[Tracer]): Unit = {
    val rows = tr match {
      case None => DailyPipeline.run(spark, csv, None, Some(silverPath)).rowsOut
      case Some(t) => tracedDag(t)
    }
    val silver = spark.read.parquet(silverPath)
    val result = call(tr, "ml.train")(ChurnModel.train(silver, ChurnModel.Config(maxIter = 20)))
    checks += result.test.passesGate
    model = result.model
    call(tr, "ml.score_gold") {
      val scored = ChurnModel.score(model, silver).select(goldCols.map(col): _*).persist()
      (firstDt to newest).foreach(dt => Sinks.writeGold(scored, gold, dt.toString))
      scored.unpersist()
    }
    checks += rows == users
    checks += Sinks.readLatestGold(spark, gold).count() == users
  }

  /** `DailyPipeline.run` spelled out over the layers' public calls, in its
    * order, so that each call is one span. Returns the Silver row count. */
  private def tracedDag(t: Tracer): Long = {
    val bronze = t.span("ingest")(graft.ingest.CsvIngest.ingest(spark, csv))
    bronze.persist()
    try {
      t.span("validate")(graft.validate.SchemaValidator.validate(bronze))
      t.span("quality")(graft.quality.QualityAudit.audit(bronze.drop("_violations")))
      val cleaned = t.span("clean")(graft.clean.Cleaning.clean(bronze))
      val featured = t.span("features")(graft.features.Features.engineer(cleaned))
      val silver = t.span("normalize")(graft.normalize.ZScore.fitTransform(featured)
        .withColumn("_processing_timestamp", current_timestamp())
        .withColumn("_processing_version", lit("1.0.0")))
      t.span("warehouse.silver") {
        silver.persist()
        val n = silver.count()
        silver.write.mode("overwrite").option("compression", "snappy").parquet(silverPath)
        n
      }
    } finally bronze.unpersist()
  }

  def timed(tr: Option[Tracer], probe: () => Unit): Seq[Sample] = {
    val rnd = new Random(ctx.seed * 31 + 2)
    mix(ctx.ops, rnd).zipWithIndex.map { case (kind, i) =>
      val s = request(kind, rnd, tr)
      if ((i + 1) % 25 == 0 || i + 1 == ctx.ops) probe()
      s
    }
  }

  private def request(kind: Int, rnd: Random, tr: Option[Tracer]): Sample = kind match {
    case Lookup =>
      val uid = f"U${rnd.nextInt(users)}%05d"
      timeOp {
        val rows = call(tr, "warehouse.lookup") {
          val table =
            if (ctx.corrupt) spark.read.parquet(gold).withColumn("dt", col("dt").cast("string"))
              .filter(col("dt") === firstDt.toString)
            else Sinks.readLatestGold(spark, gold)
          ChurnAnalytics.lookupUser(table, uid).collect()
        }
        rows.length == 1 && rows(0).getAs[String]("dt") == newest.toString
      }
    case Dashboard =>
      val byCountry = dashboards % 2 == 0
      dashboards += 1
      timeOp(call(tr, "analytics.dashboard") {
        val silver = spark.read.parquet(silverPath)
        if (byCountry) ChurnAnalytics.churnRateByCountry(silver).collect()
          .map(_.getAs[Long]("total_users")).sum == users
        else ChurnAnalytics.churnDistribution(silver).collect()
          .map(_.getAs[Long]("n")).sum == users
      })
    case Score =>
      val ids = rnd.shuffle((0 until users).toVector).take(100).map(i => f"U$i%05d")
      timeOp(call(tr, "ml.score") {
        val cohort = spark.read.parquet(silverPath).filter(col("user_id").isin(ids: _*))
        ChurnModel.score(model, cohort).select("user_id", "churn_probability").collect()
      }.length == ids.size)
    case Append =>
      timeOp {
        call(tr, "warehouse.append")(Sinks.writeGold(
          ChurnModel.score(model, spark.read.parquet(silverPath)).select(goldCols.map(col): _*),
          gold, (newest + 1).toString))
        newest += 1
        true
      }
  }
}

/** Seeded documents split by `doc_id % waves` into waves. Each wave lands
  * as parquet in the stream's source directory, then one AvailableNow
  * micro-batch of `Streaming.incrementalDedupStream` (MinHash) and one of
  * `Streaming.incrementalExactDedupStream` run. One operation is one wave's
  * two micro-batches: timed apart, the two loops' latencies form two
  * clusters, and the median of such a sample is set by the gap between the
  * slowest exact batch and the fastest MinHash batch. The indexes grow
  * with every wave. After each wave the MinHash index must hold exactly
  * the ids landed so far, and the exact-dedup index's ids must be unique. */
final class StreamIndex(ctx: Ctx) extends Workload(ctx) {
  private val warmWaves = 2
  private val waves = warmWaves + ctx.ops
  private val staged = s"${ctx.dir}/waves"
  private var run: String = _
  private var landed = 0L

  def land(): Unit =
    Gen.documents(spark, ctx.scale.docsPerWave * waves, ctx.seed)
      .withColumn("wave", pmod(col("doc_id"), lit(waves.toLong)))
      .write.partitionBy("wave").parquet(staged)

  def warm(tr: Option[Tracer]): Double = reset("run")

  def timed(tr: Option[Tracer], probe: () => Unit): Seq[Sample] = {
    // a traced replay rebuilds the indexes from empty, so it repeats the
    // untraced phase's work exactly
    if (tr.isDefined) reset("traced")
    (warmWaves until waves).map { w => val s = wave(w, tr); probe(); s }
  }

  /** Starts empty indexes under `name` and runs the warm-up waves; returns
    * the first wave's time. */
  private def reset(name: String): Double = {
    run = s"${ctx.dir}/$name"
    landed = 0L
    val first = wave(0, None).seconds
    (1 until warmWaves).foreach(w => wave(w, None))
    first
  }

  private def dir(name: String) = s"$run/$name"

  private lazy val schema = spark.read.parquet(staged).drop("wave").schema

  private def parts(path: String): Seq[Path] = {
    val s = Files.list(Paths.get(path))
    try s.toArray.toSeq.map(_.asInstanceOf[Path]).filter(_.getFileName.toString.startsWith("part-"))
    finally s.close()
  }

  private def wave(w: Int, tr: Option[Tracer]): Sample = {
    val raw = Files.createDirectories(Paths.get(dir("raw")))
    parts(s"$staged/wave=$w").foreach(f => Files.copy(f, raw.resolve(s"w$w-${f.getFileName}")))
    landed += spark.read.parquet(s"$staged/wave=$w").count()
    def source = spark.readStream.schema(schema).parquet(dir("raw"))
    def await(q: org.apache.spark.sql.streaming.StreamingQuery): Boolean =
      q.awaitTermination(120000) && q.exception.isEmpty
    val sample = timeOp {
      call(tr, "streaming.minhash")(await(graft.streaming.Streaming
        .incrementalDedupStream(source, dir("idx"), dir("pairs"), dir("ckpt-minhash")))) &
        call(tr, "streaming.exact")(await(graft.streaming.Streaming
          .incrementalExactDedupStream(source, dir("exact-idx"), dir("clean"), dir("ckpt-exact"))))
    }
    val ids = graft.ops.TextDedup.readMinhashIndex(spark, dir("idx")).select("id")
    val exactIds = spark.read.parquet(dir("exact-idx")).select("id")
    val exactN = exactIds.count()
    sample.copy(ok = sample.ok && ids.count() == landed && ids.distinct().count() == landed &&
      exactN > 0 && exactN <= landed && exactIds.distinct().count() == exactN)
  }

  private def files(path: String): Double =
    if (!Files.exists(Paths.get(path))) 0.0
    else {
      val s = Files.walk(Paths.get(path))
      try s.filter(_.getFileName.toString.startsWith("part-")).count().toDouble finally s.close()
    }

  override def extras: Map[String, Double] = Map(
    "streaming.minhash.index_files" -> files(dir("idx")),
    "streaming.exact.index_files" -> files(dir("exact-idx")))
}

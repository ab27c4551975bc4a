package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.{ChurnFixture, JobLedger}
import graft.core.Cols.qcol
import graft.clean.Cleaning
import graft.features.Features
import graft.normalize.ZScore
import graft.quality.QualityAudit
import graft.validate.SchemaValidator

class ZScoreSpec extends SparkSpec {
  test("population stddev parity (ddof=0) and exclusions preserved") {
    import spark.implicits._
    val df = Seq((1.0, 0), (2.0, 1), (3.0, 0), (4.0, 1))
      .toDF("x", "churn_label")
    val out = ZScore.fitTransform(df)
    val xs = out.select("x").collect().map(_.getDouble(0))
    // mean 2.5, pop std = sqrt(1.25); first value: (1-2.5)/sqrt(1.25)
    assert(math.abs(xs(0) - (1.0 - 2.5) / math.sqrt(1.25)) < 1e-12)
    // excluded target untouched
    val labels = out.select("churn_label").collect().map(_.getInt(0)).toSet
    assert(labels == Set(0, 1))
  }

  test("fit on train applies leak-free to test") {
    import spark.implicits._
    val train = Seq(0.0, 10.0).toDF("x")
    val model = ZScore.fit(train, exclude = Nil)
    val test = Seq(5.0, 20.0).toDF("x")
    val got = model.transform(test).collect().map(_.getDouble(0))
    assert(got.toSeq == Seq(0.0, 3.0)) // mean 5, pop std 5
  }

  /** Every fitted (mean, std) against `avg`/`stddev_pop` within `tol`
    * relative (absolute below 1). */
  private def assertMatchesSql(df: DataFrame, tol: Double = 1e-12): Unit = {
    val model = ZScore.fit(df)
    val cols = ZScore.normalizeCols(df, graft.core.ChurnSchema.zscoreExclusions)
    assert(model.stats.keySet == cols.toSet)
    val aggs = cols.flatMap(c => Seq(avg(qcol(c)), stddev_pop(qcol(c))))
    val row = df.agg(aggs.head, aggs.tail: _*).collect()(0)
    cols.zipWithIndex.foreach { case (c, i) =>
      val (m, s) = model.stats(c)
      // an all-null column: SQL gives nulls, the fit keeps (0.0, 0.0)
      val wantM = if (row.isNullAt(2 * i)) 0.0 else row.getDouble(2 * i)
      val wantS = if (row.isNullAt(2 * i + 1)) 0.0 else row.getDouble(2 * i + 1)
      for ((got, want, what) <- Seq((m, wantM, "mean"), (s, wantS, "std")))
        assert(math.abs(got - want) <= tol * math.max(1.0, math.abs(want)),
          s"$c $what: fit $got vs SQL $want")
    }
  }

  private lazy val featured =
    Features.engineer(Cleaning.clean(ChurnFixture.df(spark, 1000))).persist()

  test("fit matches avg/stddev_pop on a 1,000-user featured frame, 8 partitions") {
    assert(ZScore.normalizeCols(featured, graft.core.ChurnSchema.zscoreExclusions).size > 150)
    assertMatchesSql(featured)
    assertMatchesSql(featured.repartition(8))
  }

  test("fit skips nulls per column; an all-null column fits (0, 0); one row fits std 0") {
    val withNulls = featured.select(
      when(col("user_id").endsWith("7"), lit(null)).otherwise(col("gmv_2024")).as("gmv_2024"),
      when(col("user_id").endsWith("3"), lit(null)).otherwise(col("sessions_30d")).as("sessions_30d"),
      lit(null).cast("double").as("never_set"))
    assertMatchesSql(withNulls)
    assert(ZScore.fit(withNulls).stats("never_set") == ((0.0, 0.0)))
    val one = featured.limit(1).select("gmv_2024", "sessions_30d")
    assertMatchesSql(one)
    assert(ZScore.fit(one).stats.values.forall(_._2 == 0.0))
    assertMatchesSql(withNulls.repartition(8))
  }

  test("fit over many partitions returns the same bits on every run") {
    val parts = featured.repartition(16).persist()
    try {
      val fits = (1 to 4).map(_ => ZScore.fit(parts).stats)
      assert(fits.distinct.size == 1)
    } finally parts.unpersist()
  }

  test("fit is one Spark job at 10 and at 300 columns") {
    val ledger = new JobLedger(spark)
    try {
      for (width <- Seq(10, 300)) {
        val wide = spark.range(0, 2000, 1, 4)
          .select((0 until width).map(i => (col("id") * (i + 1) % 97).cast("double").as(s"c$i")): _*)
        val (model, jobs) = ledger.jobs(ZScore.fit(wide, exclude = Nil))
        assert(model.stats.size == width)
        assert(jobs == 1, s"$width columns took $jobs jobs")
      }
    } finally ledger.close()
  }
}

/** Contracts on the churn DAG's output: the cleaned and engineered frame
  * is pinned cell for cell, so a refactor of how its columns are built
  * cannot change what they hold. */
class PipelineSpec extends SparkSpec {

  /** Name, type and nullability of every column, in order. */
  private def schemaOf(df: DataFrame): Seq[String] =
    df.schema.fields.toSeq.map(f => s"${f.name}:${f.dataType.simpleString}:${f.nullable}")

  /** SHA-256 over the sorted per-row SHA-256 of each row's JSON: exact
    * cells (doubles in their shortest round-trip form), row order free. */
  private def digest(lines: Seq[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    lines.foreach(l => md.update(l.getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }
  private def rowDigest(df: DataFrame): String =
    digest(df.select(sha2(to_json(struct(df.columns.map(qcol): _*)), 256))
      .collect().map(_.getString(0)).sorted.toSeq)

  test("cleaned + engineered 1,000-user fixture: schema and rows pinned") {
    val out = Features.engineer(Cleaning.clean(ChurnFixture.df(spark, 1000)))
    val schema = schemaOf(out)
    assert(schema.size == 225)
    assert(digest(schema) == "b8785d0300d7dab0002495a459a9f55f555b5df2e82e6304422cffa00e880f3e",
      schema.mkString("\n"))
    assert(rowDigest(out) == "6c5281230c02b0599b73e85c092078063302dd33a4dea882689dc6e9a2f04199")
  }

  test("ingest lineage: source file kept under the global-sequence window, ids 0..n-1") {
    val dir = java.nio.file.Files.createTempDirectory("graft_lineage").toString
    ChurnFixture.df(spark, 200).write.mode("overwrite").option("header", "true").csv(dir)
    for (globalSeq <- Seq(false, true)) {
      val bronze = graft.ingest.CsvIngest.withLineage(
        graft.ingest.CsvIngest.readCsv(spark, dir), globalSeq)
      assert(bronze.columns.takeRight(3).toSeq ==
        Seq("_ingestion_timestamp", "_source_file", "_row_number"))
      val rows = bronze.select(col("_source_file"), col("_row_number").cast("long")).collect()
      assert(rows.forall(_.getString(0).contains(".csv")), globalSeq)
      val ids = rows.map(_.getLong(1)).toSeq
      assert(ids.distinct.size == 200)
      if (globalSeq) assert(ids.sorted == (0L until 200L))
    }
  }

  test("one-hot: levels that sanitize to one name keep the later level, first position") {
    import spark.implicits._
    val df = Seq(("a b", 1), ("a.b", 2), ("z", 3)).toDF("c", "k")
    val out = Features.oneHotEncode(df, Seq("c"))
    assert(out.columns.toSeq == Seq("k", "c_a_b", "c_z"))
    assert(out.orderBy("k").collect().map(r => (r.getInt(1), r.getInt(2))).toSeq ==
      Seq((0, 0), (1, 0), (0, 1)))
  }
}

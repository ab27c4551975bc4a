package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, GraftShim, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{ChurnFixture, Tables}
import graft.streaming.Streaming

/** Every `*Stream` loop's micro-batch runs on the session that started
  * the stream, not on the streaming query's clone, and the rehomed batch
  * still feeds the query's progress. */
class StreamingSessionSpec extends SparkSpec {
  test("each micro-batch runs on the starting session and still reports its progress") {
    val work = java.nio.file.Files.createTempDirectory("graft_stream_home").toString
    val raw = s"$work/raw"; val silver = s"$work/silver"; val ckpt = s"$work/ckpt"
    val perWave = 120
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[SparkSession]
    (1 to 2).foreach { w =>
      ChurnFixture.df(spark, perWave, seed = 7L + w).coalesce(1)
        .write.mode("append").option("header", "true").csv(raw)
      val q = Streaming.ingestStream(spark, raw, silver, ckpt,
        transform = { df: DataFrame => seen.add(df.sparkSession); df })
      assert(q.awaitTermination(60000), s"wave $w timed out")
      assert(spark.read.parquet(silver).count() == perWave * w)
      val p = q.lastProgress
      assert(p != null && p.numInputRows == perWave, s"wave $w progress: $p")
      assert(p.durationMs.containsKey("addBatch"), s"wave $w durations: ${p.durationMs}")
    }
    assert(seen.size == 2)
    seen.forEach(s => assert(s eq spark))
  }

  test("a wave on the starting session reuses the classes earlier waves compiled") {
    // measured over 4 waves of this exact-dedup loop on 4 cpus: 18/18/14/14
    // classes per wave when batches ran on the query's clone session,
    // 18/7/0/0 on the starting session (same counts in every run)
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val work = java.nio.file.Files.createTempDirectory("graft_stream_codegen").toString
    val compiles = (0 until 4).map { k =>
      docs.filter(col("doc_id") % 4 === k).write.mode("append").parquet(s"$work/raw")
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val q = Streaming.incrementalExactDedupStream(
        spark.readStream.schema(docs.schema).parquet(s"$work/raw"),
        s"$work/idx", s"$work/clean", s"$work/ckpt")
      assert(q.awaitTermination(120000), s"wave $k timed out")
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    }
    assert(compiles.drop(2).forall(_ <= 3), s"classes compiled per wave: $compiles")
  }

  test("rehome relabels a batch frame and refuses streaming or unplanned frames") {
    val schema = ChurnFixture.df(spark, 5).schema
    val batch = spark.createDataFrame(ChurnFixture.df(spark, 5).rdd, schema)
    val other = spark.newSession()
    val moved = GraftShim.rehome(other, batch)
    assert(moved.sparkSession eq other)
    assert(moved.collect().toSeq == batch.collect().toSeq)

    val dir = java.nio.file.Files.createTempDirectory("graft_stream_rehome").toString
    ChurnFixture.df(spark, 5).write.mode("overwrite").parquet(dir)
    val streaming = spark.readStream.schema(schema).parquet(dir)
    val e1 = intercept[IllegalArgumentException](GraftShim.rehome(other, streaming))
    assert(e1.getMessage.endsWith("(streaming)"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException](
      GraftShim.rehome(other, spark.range(3).select(col("id") * 2)))
    assert(e2.getMessage.endsWith("logical.Project"), e2.getMessage)
  }
}

package graft

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.LeftSemi
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import graft.core.{JobLedger, Tables}
import graft.ops.TextDedup
import graft.streaming.Streaming

/** The MinHash probe's bucket gate counts only the buckets the batch
  * hits: the pairs stay those of counting every bucket, a mismatched
  * params stamp still fails, a streamed wave stays within a fixed job
  * budget, and the gate's input does not grow with the index. */
class BucketGateSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private lazy val docs = Tables.documents(spark, "/root/testdata/sf0.001")
  private lazy val old = docs.filter(col("doc_id") % 5 =!= 0)
  private lazy val fresh = docs.filter(col("doc_id") % 5 === 0)

  private def pairs(index: DataFrame, maxBucket: Int): Set[(Long, Long)] =
    TextDedup.incrementalNearDups(fresh, index, "text", "doc_id",
      maxBucket = maxBucket).collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  /** `n` signature rows whose words no document uses, ids from `from`;
    * `same` gives them one text, so each of their buckets holds all `n`. */
  private def foreign(n: Int, from: Long, same: Boolean): DataFrame = {
    val words = (0 until 40).map(k => concat(lit("zq"),
      ((if (same) lit(0L) else col("id")) * 41 + k).cast("string")))
    TextDedup.minhashSignatures(spark.range(from, from + n)
      .select(col("id").as("doc_id"), concat_ws(" ", words: _*).as("text")),
      "text", "doc_id")
  }

  test("an oversized bucket the batch never touches changes no pair, capped or not") {
    val index = TextDedup.minhashSignatures(old, "text", "doc_id")
    // 1,001 copies of one foreign text: 32 buckets over the default cap
    val viral = index.unionByName(foreign(1001, 1L << 40, same = true))
    Seq(1000, 2).foreach { cap =>
      val want = pairs(index, cap)
      assert(want.nonEmpty, "the fixture must collide")
      assert(pairs(viral, cap) == want, s"maxBucket=$cap")
    }
  }

  test("one index row stamped with other params, in a bucket the batch hits, fails the probe") {
    val dir = Files.createTempDirectory("graft_gate_stamp").toString
    TextDedup.writeMinhashIndex(old, "text", "doc_id", s"$dir/idx")
    val good = spark.read.parquet(s"$dir/idx")
    // a copy of one fresh doc's signature, so it shares every bucket that
    // doc hits, stamped with another shingle length; it sorts last
    val odd = TextDedup.minhashSignatures(fresh.limit(1), "text", "doc_id")
      .select((col("id") + (1L << 40)).as("id"), col("bhs"),
        lit(2).as("_shingle_len"), lit(128).as("_num_hashes"), lit(32).as("_bands"))
    val e = intercept[IllegalArgumentException] {
      TextDedup.incrementalNearDups(fresh, good.unionByName(odd), "text", "doc_id",
        validateIds = false).collect()
    }
    assert(e.getMessage.contains("written with (shingleLen=2, numHashes=128, bands=32)") &&
      e.getMessage.contains("probe uses (1, 128, 32)"), e.getMessage)
    // the same index without the odd row probes cleanly
    assert(TextDedup.incrementalNearDups(fresh, good, "text", "doc_id").count() > 0)
  }

  test("a streamed MinHash wave after the first starts at most 8 jobs") {
    val work = Files.createTempDirectory("graft_gate_jobs").toString
    val ledger = new JobLedger(spark)
    val jobs = try (0 until 3).map { k =>
      docs.filter(col("doc_id") % 3 === k).write.mode("append").parquet(s"$work/raw")
      ledger.jobs {
        val q = Streaming.incrementalDedupStream(
          spark.readStream.schema(docs.schema).parquet(s"$work/raw"),
          s"$work/idx", s"$work/pairs", s"$work/ckpt")
        assert(q.awaitTermination(180000) && q.exception.isEmpty)
      }._2
    } finally ledger.close()
    assert(spark.read.parquet(s"$work/pairs").count() > 0, "the waves must collide")
    assert(jobs.drop(1).forall(_ <= 8), s"jobs per wave: $jobs")
  }

  test("a re-delivered id fails the streamed batch before it writes, the bucket gate run alongside") {
    val work = Files.createTempDirectory("graft_gate_redelivered").toString
    def wave(rows: DataFrame): Option[Throwable] = {
      rows.write.mode("append").parquet(s"$work/raw")
      val q = Streaming.incrementalDedupStream(
        spark.readStream.schema(docs.schema).parquet(s"$work/raw"),
        s"$work/idx", s"$work/pairs", s"$work/ckpt")
      scala.util.Try(q.awaitTermination(180000)).failed.toOption
    }
    assert(wave(old).isEmpty)
    val failed = wave(fresh.unionByName(old.limit(1)))
    assert(failed.exists(e => Iterator.iterate[Throwable](e)(_.getCause)
      .takeWhile(_ != null).exists(t => String.valueOf(t.getMessage).contains("already ingested"))),
      failed)
    val own = s"batch=${Streaming.runKey(s"$work/ckpt")}-1"
    Seq("idx", "pairs").foreach(d => assert(!Files.exists(java.nio.file.Paths.get(work, d, own)), d))
  }

  /** Rows into the bucket gate's aggregate: the output of the probe's one
    * semi-join, read from the executed plan's SQL metrics. */
  private def gateRows(index: DataFrame): Long = {
    val seen = new ConcurrentLinkedQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = { seen.add(qe); () }
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val ledger = new JobLedger(spark)
    spark.listenerManager.register(listener)
    try {
      TextDedup.incrementalNearDups(fresh, index, "text", "doc_id",
        validateIds = false).collect()
      ledger.drain()
    } finally {
      spark.listenerManager.unregister(listener)
      ledger.close()
    }
    val semi = seen.asScala.toSeq.flatMap(qe => collect(qe.executedPlan) {
      case j: BaseJoinExec if j.joinType == LeftSemi => j.metrics("numOutputRows").value
    })
    assert(semi.size == 1, s"one semi-join expected, saw $semi")
    semi.head
  }

  test("the gate's input grows with the batch, not the index") {
    val dir = Files.createTempDirectory("graft_gate_rows").toString
    TextDedup.writeMinhashIndex(old, "text", "doc_id", s"$dir/small")
    val small = spark.read.parquet(s"$dir/small")
    val n = small.count()
    // nine times as many rows again, from words no document uses
    small.unionByName(foreign((9 * n).toInt, 1L << 40, same = false)
      .withColumn("_shingle_len", lit(1)).withColumn("_num_hashes", lit(128))
      .withColumn("_bands", lit(32)))
      .write.parquet(s"$dir/big")
    val big = spark.read.parquet(s"$dir/big")
    assert(big.count() == 10 * n)
    val rows = gateRows(small)
    assert(rows > 0 && rows < n * 32, s"$rows gate rows against ${n * 32} index band rows")
    assert(gateRows(big) == rows)
  }
}

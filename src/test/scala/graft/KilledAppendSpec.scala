package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.hadoop.mapreduce.JobContext
import org.apache.spark.internal.io.FileCommitProtocol.TaskCommitMessage
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.SQLHadoopMapReduceCommitProtocol
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.ops.TextDedup
import graft.streaming.Streaming

/** Spark's own commit protocol, killed between its task commits and its
  * job commit: the job commit fails and nothing cleans up after it. */
class KilledJobCommitProtocol(jobId: String, path: String, dynamic: Boolean)
    extends SQLHadoopMapReduceCommitProtocol(jobId, path, dynamic) {
  override def commitJob(job: JobContext, msgs: Seq[TaskCommitMessage]): Unit =
    throw new java.io.IOException("killed before the job commit")
  override def abortJob(job: JobContext): Unit = ()
}

/** An index append killed after its tasks committed, before its job
  * commit, leaves committed part files under `_temporary` and no
  * `_SUCCESS`. The retry of that batch must start from the committed
  * index alone, on a first batch and on a later one. */
class KilledAppendSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"
  private def wave(s: SparkSession, k: Int): DataFrame =
    Tables.documents(s, sf).filter(col("doc_id") % 2 === k)
  private lazy val docs = Tables.documents(spark, sf)
  private lazy val waves = (0 until 2).map(wave(spark, _))

  /** Runs `write` on a session whose writes are killed before their job
    * commit, and checks that it left at `dir` what such a kill leaves:
    * part files under `_temporary/0/`, no `_SUCCESS`, nothing else. */
  private def killedWrite(dir: String)(write: SparkSession => Unit): Unit = {
    val killed = spark.newSession()
    killed.conf.set("spark.sql.sources.commitProtocolClass",
      classOf[KilledJobCommitProtocol].getName)
    intercept[Exception](write(killed))
    val left = Files.walk(Paths.get(dir)).iterator().asScala
      .filter(Files.isRegularFile(_)).map(Paths.get(dir).relativize(_).toString).toList
    assert(left.nonEmpty && left.forall(_.startsWith("_temporary/0/")) &&
      left.exists(_.matches(".*/part-[^/]*\\.parquet")), left)
  }

  private def ids(df: DataFrame, c: String): Seq[Long] =
    df.select(c).collect().map(_.getLong(0)).toSeq.sorted

  private final class Loop(start: (DataFrame, String, String, String) =>
      org.apache.spark.sql.streaming.StreamingQuery) {
    val work: String = Files.createTempDirectory("graft_killed_loop").toString
    val (raw, idx, out, ckpt) = (s"$work/raw", s"$work/idx", s"$work/out", s"$work/ckpt")
    def own(batch: Int): String = s"${Streaming.runKey(ckpt)}-$batch"
    def run(k: Int): Unit = {
      waves(k).write.mode("append").parquet(raw)
      val q = start(spark.readStream.schema(docs.schema).parquet(raw), idx, out, ckpt)
      assert(q.awaitTermination(180000) && q.exception.isEmpty, s"wave $k")
    }
  }

  private def minhash = new Loop(Streaming.incrementalDedupStream(_, _, _, _))
  private def exact = new Loop(Streaming.incrementalExactDedupStream(_, _, _, _))

  private def pairSet(df: DataFrame): Set[(Long, Long)] =
    df.select("id_new", "id_old").collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("minhash stream: a first batch whose index append was killed bootstraps on retry") {
    val l = minhash
    // attempt 1 committed its (empty) pairs, then died inside the append
    waves(0).limit(0).select(col("doc_id").as("id_new"), col("doc_id").as("id_old"))
      .write.parquet(s"${l.out}/batch=${l.own(0)}")
    killedWrite(s"${l.idx}/batch=${l.own(0)}")(s => TextDedup
      .appendMinhashIndexBatchKeyed(wave(s, 0), "text", "doc_id", l.idx, l.own(0)))
    l.run(0)
    assert(ids(TextDedup.readMinhashIndex(spark, l.idx), "id") == ids(waves(0), "doc_id"))
    assert(spark.read.parquet(s"${l.out}/batch=${l.own(0)}").count() == 0)
  }

  test("minhash stream: a later batch whose index append was killed probes the committed index") {
    val l = minhash
    l.run(0)
    val want = pairSet(TextDedup.incrementalNearDups(waves(1),
      TextDedup.minhashSignatures(waves(0), "text", "doc_id"), "text", "doc_id"))
    assert(want.nonEmpty, "the waves must collide")
    want.toSeq.toDF("id_new", "id_old").write.parquet(s"${l.out}/batch=${l.own(1)}")
    killedWrite(s"${l.idx}/batch=${l.own(1)}")(s => TextDedup
      .appendMinhashIndexBatchKeyed(wave(s, 1), "text", "doc_id", l.idx, l.own(1)))
    l.run(1)
    assert(pairSet(spark.read.parquet(s"${l.out}/batch=${l.own(1)}")) == want)
    assert(ids(TextDedup.readMinhashIndex(spark, l.idx), "id") == ids(docs, "doc_id"))
  }

  /** The exact loop's index append of `survivors` under `batch=<key>`. */
  private def appendFps(survivors: DataFrame, idx: String, key: String): Unit =
    survivors.select(TextDedup.fingerprint(col("text")).as("fp"), col("doc_id").as("id"))
      .write.mode("overwrite").parquet(s"$idx/batch=$key")

  test("exact dedup stream: a first batch whose index append was killed bootstraps on retry") {
    val l = exact
    val survivors = TextDedup.exactDedup(waves(0), "text", "doc_id")
    survivors.write.parquet(s"${l.out}/batch=${l.own(0)}")
    killedWrite(s"${l.idx}/batch=${l.own(0)}")(s => appendFps(
      TextDedup.exactDedup(wave(s, 0), "text", "doc_id"), l.idx, l.own(0)))
    l.run(0)
    val want = ids(survivors, "doc_id")
    assert(ids(spark.read.parquet(l.out), "doc_id") == want)
    assert(ids(spark.read.parquet(l.idx), "id") == want)
  }

  test("exact dedup stream: a later batch whose index append was killed filters against the committed index") {
    val l = exact
    l.run(0)
    val survivors = TextDedup.incrementalExactDedup(waves(1),
      spark.read.parquet(l.idx), "text", "doc_id")
    val want = ids(survivors, "doc_id")
    survivors.write.parquet(s"${l.out}/batch=${l.own(1)}")
    killedWrite(s"${l.idx}/batch=${l.own(1)}")(s => appendFps(TextDedup
      .incrementalExactDedup(wave(s, 1), s.read.parquet(l.idx), "text", "doc_id"),
      l.idx, l.own(1)))
    l.run(1)
    assert(ids(spark.read.parquet(s"${l.out}/batch=${l.own(1)}"), "doc_id") == want)
    val index = spark.read.parquet(l.idx)
    assert(index.count() == index.select("fp").distinct().count(), "fp-unique index")
    assert(ids(index, "id") == ids(spark.read.parquet(l.out), "doc_id"))
  }
}
